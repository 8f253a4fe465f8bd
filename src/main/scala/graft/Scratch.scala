package graft

import java.nio.file.{Files, Path, Paths}
import java.util.concurrent.ConcurrentLinkedQueue

/** RAM-backed scratch directories with JVM-exit cleanup.
  *
  * Throwaway warehouses/sinks prefer tmpfs (/dev/shm): they measure
  * engine semantics, not disk. tmpfs files count against host RAM and
  * outlive the process, so every scratch dir is registered for recursive
  * deletion on JVM exit — repeated verify/bench runs must not accumulate
  * resident files.
  */
object Scratch {

  private val cleanupQueue = new ConcurrentLinkedQueue[Path]()

  Runtime.getRuntime.addShutdownHook(new Thread(() => {
    var p = cleanupQueue.poll()
    while (p != null) {
      deleteRecursively(p)
      p = cleanupQueue.poll()
    }
  }))

  private def deleteRecursively(p: Path): Unit = {
    try {
      if (Files.isDirectory(p)) {
        val s = Files.list(p) // closed: NIO streams hold a file handle
        try s.forEach(deleteRecursively) finally s.close()
      }
      Files.deleteIfExists(p)
    } catch { case _: Throwable => () } // best-effort: never fail exit
  }

  private lazy val base: Path =
    Seq("/dev/shm", System.getProperty("java.io.tmpdir"))
      .map(Paths.get(_))
      .find(p => Files.isDirectory(p) && Files.isWritable(p)).get

  /** Fresh scratch directory, deleted on JVM exit. */
  def dir(prefix: String): String = {
    val p = Files.createTempDirectory(base, prefix)
    cleanupQueue.add(p)
    p.toString
  }

  /** Delete a [[dir]] before JVM exit (a one-slot reclaim of a
    * directory no reader still needs). */
  def delete(dir: String): Unit = {
    val p = Paths.get(dir)
    cleanupQueue.remove(p)
    deleteRecursively(p)
  }

  /** Memoized input landing: build-once scratch data keyed by what it
    * IS (caller-chosen key, which must capture every input the build
    * depends on — source dir, projection, planted rows). Streaming
    * driver queries land their finite input as parquet before reading
    * it back as a stream; the landed bytes are a pure function of the
    * (immutable) testdata, yet each invocation re-landed them — under
    * the bench's two-samples-per-query discipline that was a redundant
    * write job per sample, the single biggest share of the streaming
    * family's fixed tax. State-store and checkpoint directories are
    * NEVER memoized (a reused checkpoint would resume instead of
    * replay and return an empty second run) — only the read-only
    * input side. */
  def landedDir(key: String)(build: String => Unit): String =
    landedMemo.computeIfAbsent(key, _ => {
      val d = dir("graft_land_")
      build(d)
      d
    })

  /** Drop memoized landings whose key mentions `substr` (e.g. a source
    * dir being rewritten in place) — the staleness hook mirroring
    * [[Tables.invalidate]]: landing keys are caller-chosen strings, so
    * harnesses that regenerate inputs mid-JVM invalidate by the same
    * dir string they key with. The landed files themselves stay on
    * scratch until JVM exit (another landing may still read them). */
  def invalidateLandings(substr: String): Unit =
    landedMemo.keySet.removeIf((k: String) => k.contains(substr))

  private val landedMemo =
    new java.util.concurrent.ConcurrentHashMap[String, String]()
}
