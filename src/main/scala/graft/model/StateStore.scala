package graft.model

import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import scala.jdk.CollectionConverters._
import com.fasterxml.jackson.databind.{ObjectMapper, SerializationFeature}
import com.fasterxml.jackson.databind.node.ObjectNode

/** Per-model execution state: content/config hashes for change detection,
  * execution counters, and incremental watermarks — the Spark
  * re-expression of the reference's StateManager (src/framework/
  * state.py:96-411). Persisted as one JSON file per environment with
  * atomic replace, so a crashed run never leaves a torn state file.
  */
final case class ModelState(
    modelName: String,
    fileHash: String = "",
    configHash: String = "",
    lastExecuted: Option[String] = None,
    executionCount: Long = 0,
    successCount: Long = 0,
    failureCount: Long = 0,
    currentVersion: Long = 0,
    incremental: Map[String, String] = Map.empty) {

  /** This state with one more execution, at `nowIso`, counted. */
  def executed(success: Boolean, nowIso: String): ModelState = copy(
    lastExecuted = Some(nowIso),
    executionCount = executionCount + 1,
    successCount = successCount + (if (success) 1 else 0),
    failureCount = failureCount + (if (success) 0 else 1))
}

final class StateStore(stateDir: Path, environment: String = "dev") {
  private val mapper = new ObjectMapper().enable(SerializationFeature.INDENT_OUTPUT)
  private val file: Path = stateDir.resolve(s"state_$environment.json")
  private var states: Map[String, ModelState] = load()

  private def load(): Map[String, ModelState] = {
    if (!Files.exists(file)) return Map.empty
    val root = mapper.readTree(Files.readString(file))
    root.fields().asScala.map { e =>
      val n = e.getValue
      def str(f: String): String = Option(n.get(f)).map(_.asText).getOrElse("")
      val incr = Option(n.get("incremental")).map { inode =>
        inode.fields().asScala.map(kv => kv.getKey -> kv.getValue.asText).toMap
      }.getOrElse(Map.empty[String, String])
      e.getKey -> ModelState(
        modelName = e.getKey,
        fileHash = str("fileHash"),
        configHash = str("configHash"),
        lastExecuted = Option(n.get("lastExecuted")).map(_.asText).filter(_.nonEmpty),
        executionCount = Option(n.get("executionCount")).map(_.asLong).getOrElse(0L),
        successCount = Option(n.get("successCount")).map(_.asLong).getOrElse(0L),
        failureCount = Option(n.get("failureCount")).map(_.asLong).getOrElse(0L),
        currentVersion = Option(n.get("currentVersion")).map(_.asLong).getOrElse(0L),
        incremental = incr)
    }.toMap
  }

  private def save(): Unit = {
    Files.createDirectories(stateDir)
    val root = mapper.createObjectNode()
    states.toSeq.sortBy(_._1).foreach { case (name, s) =>
      val n: ObjectNode = root.putObject(name)
      n.put("fileHash", s.fileHash)
      n.put("configHash", s.configHash)
      n.put("lastExecuted", s.lastExecuted.getOrElse(""))
      n.put("executionCount", s.executionCount)
      n.put("successCount", s.successCount)
      n.put("failureCount", s.failureCount)
      n.put("currentVersion", s.currentVersion)
      val inode = n.putObject("incremental")
      s.incremental.toSeq.sortBy(_._1).foreach { case (k, v) => inode.put(k, v) }
    }
    val tmp = Files.createTempFile(stateDir, ".state", ".tmp")
    Files.writeString(tmp, mapper.writeValueAsString(root))
    Files.move(tmp, file, StandardCopyOption.REPLACE_EXISTING,
      StandardCopyOption.ATOMIC_MOVE)
  }

  def get(model: String): Option[ModelState] = states.get(model)

  def update(model: String)(f: ModelState => ModelState): ModelState =
    synchronized {
      val next = f(states.getOrElse(model, ModelState(model)))
      states = states.updated(model, next)
      save()
      next
    }

  def markExecution(model: String, success: Boolean, nowIso: String): Unit =
    update(model)(_.executed(success, nowIso))

  /** state.py:241-266 — a model changed if either hash differs or it has
    * never been executed. */
  def hasChanged(model: String, fileHash: String, configHash: String): Boolean =
    states.get(model) match {
      case None => true
      case Some(s) => s.fileHash != fileHash || s.configHash != configHash
    }

  def watermark(model: String, key: String): Option[String] =
    states.get(model).flatMap(_.incremental.get(key))

  def all: Map[String, ModelState] = states

  def clear(model: Option[String] = None): Unit = synchronized {
    states = model.fold(Map.empty[String, ModelState])(m => states - m)
    save()
  }

  /** Aggregate statistics (state.py:335-349 get_statistics). */
  def statistics: Map[String, Any] = {
    val ss = states.values
    val execs = ss.map(_.executionCount).sum
    val successes = ss.map(_.successCount).sum
    Map(
      "environment" -> environment,
      "total_models" -> ss.size,
      "total_executions" -> execs,
      "total_successes" -> successes,
      "total_failures" -> ss.map(_.failureCount).sum,
      "success_rate" ->
        (if (execs > 0) math.round(successes * 10000.0 / execs) / 100.0 else 0.0))
  }

  /** Copy the state file to `out` (state.py:369 export_state). The file
    * is already complete JSON with atomic-replace semantics. */
  def exportState(out: Path): Unit = synchronized {
    save() // ensure on-disk matches memory
    Files.copy(file, out, StandardCopyOption.REPLACE_EXISTING)
  }

  /** Replace all state from a previously exported file
    * (state.py:383 import_state). */
  def importState(in: Path): Unit = synchronized {
    Files.copy(in, file, StandardCopyOption.REPLACE_EXISTING)
    states = load()
  }
}

object StateStore {
  def apply(dir: String, environment: String = "dev"): StateStore =
    new StateStore(Paths.get(dir), environment)

  def sha256(s: String): String = {
    val d = java.security.MessageDigest.getInstance("SHA-256")
    d.digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
  }
}
