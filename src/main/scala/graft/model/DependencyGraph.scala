package graft.model

import scala.collection.mutable

/** Dependency DAG with topological levels, cycle detection, and impact
  * analysis — the Spark re-expression of the reference's DependencyGraph
  * (reference: src/framework/dependency.py:30-380).
  *
  * Levels returned by [[topoLevels]] contain models with no unresolved
  * dependencies between them. They fix the execution order that plans,
  * listings and lineage report; ModelRunner does not wait for whole
  * levels, but submits each model as a Spark job once its own
  * [[dependencies]] have finished, taking ready models in that order
  * (the cluster-side analogue of dependency.py:391-460's asyncio
  * batches).
  */
final class DependencyGraph {
  private val deps = mutable.LinkedHashMap.empty[String, Set[String]]
  private val rdeps = mutable.LinkedHashMap.empty[String, mutable.LinkedHashSet[String]]

  def addModel(name: String, dependencies: Set[String]): Unit = {
    deps(name) = dependencies
    dependencies.foreach { d =>
      if (!deps.contains(d)) deps(d) = deps.getOrElse(d, Set.empty)
      rdeps.getOrElseUpdate(d, mutable.LinkedHashSet.empty) += name
    }
  }

  def removeModel(name: String): Unit = {
    deps.remove(name).foreach(_.foreach(d => rdeps.get(d).foreach(_ -= name)))
    rdeps.remove(name)
    deps.mapValuesInPlace((_, v) => v - name)
  }

  def models: Seq[String] = deps.keys.toSeq
  def dependencies(name: String): Set[String] = deps.getOrElse(name, Set.empty)
  def dependents(name: String): Set[String] =
    rdeps.get(name).map(_.toSet).getOrElse(Set.empty)

  private def closure(start: String, next: String => Set[String]): Set[String] = {
    val seen = mutable.Set.empty[String]
    def walk(n: String): Unit = next(n).foreach { m =>
      if (seen.add(m)) walk(m)
    }
    walk(start)
    seen.toSet
  }

  def allDependencies(name: String): Set[String] = closure(name, dependencies)
  def allDependents(name: String): Set[String] = closure(name, dependents)

  /** Models affected by a change set (the set itself plus transitive
    * dependents) — dependency.py:462-480. */
  def impact(changed: Set[String]): Set[String] =
    changed ++ changed.flatMap(allDependents)

  /** First cycle found, as a path, or None. */
  def findCycle(): Option[List[String]] = {
    val WHITE = 0; val GRAY = 1; val BLACK = 2
    val color = mutable.Map.empty[String, Int].withDefaultValue(WHITE)
    var cycle: Option[List[String]] = None
    def dfs(n: String, path: List[String]): Unit = {
      if (cycle.isDefined) return
      color(n) = GRAY
      for (d <- dependencies(n) if cycle.isEmpty) color(d) match {
        case WHITE => dfs(d, n :: path)
        case GRAY => cycle = Some((n :: path).reverse.dropWhile(_ != d))
        case _ =>
      }
      color(n) = BLACK
    }
    for (n <- deps.keys if color(n) == WHITE && cycle.isEmpty) dfs(n, Nil)
    cycle
  }

  /** Kahn topological sort into parallel-executable levels. */
  def topoLevels(): Seq[Seq[String]] = {
    findCycle().foreach { c =>
      throw new DependencyError(
        s"Circular dependency detected: ${c.mkString(" -> ")}")
    }
    val inDeg = mutable.Map.from(deps.map { case (k, v) => k -> v.size })
    val levels = mutable.ArrayBuffer.empty[Seq[String]]
    var frontier = deps.collect { case (k, v) if v.isEmpty => k }.toSeq
    val done = mutable.Set.empty[String]
    while (frontier.nonEmpty) {
      levels += frontier
      done ++= frontier
      val nextF = mutable.ArrayBuffer.empty[String]
      frontier.foreach { n =>
        dependents(n).foreach { m =>
          inDeg(m) -= 1
          if (inDeg(m) == 0) nextF += m
        }
      }
      frontier = nextF.toSeq
    }
    require(done.size == deps.size, "incomplete topological sort")
    levels.toSeq
  }

  /** Execution order restricted to `targets` plus their transitive deps. */
  def executionOrder(targets: Option[Seq[String]] = None): Seq[Seq[String]] =
    targets match {
      case None => topoLevels()
      case Some(ts) =>
        val required = ts.toSet ++ ts.flatMap(allDependencies)
        val sub = new DependencyGraph
        required.foreach(m => sub.addModel(m, dependencies(m).intersect(required)))
        sub.topoLevels()
    }

  /** Graph statistics (dependency.py:367-390 get_stats). */
  def stats: Map[String, Any] = {
    val totalEdges = deps.valuesIterator.map(_.size).sum
    Map(
      "total_models" -> deps.size,
      "total_edges" -> totalEdges,
      "leaf_nodes" -> deps.count(_._2.isEmpty),
      "root_nodes" -> deps.keys.count(dependents(_).isEmpty),
      "max_depth" -> (try topoLevels().size catch { case _: Exception => 0 }),
      "avg_dependencies" ->
        (if (deps.isEmpty) 0.0
         else math.round(totalEdges * 100.0 / deps.size) / 100.0))
  }

  /** Human-readable listing (the reference CLI's default `deps` format,
    * cli.py:255-275). */
  def toText: String = {
    val s = stats
    val header = Seq(
      "=== Dependency Graph Statistics ===",
      s"Total models: ${s("total_models")}",
      s"Total edges: ${s("total_edges")}",
      s"Leaf nodes: ${s("leaf_nodes")}",
      s"Root nodes: ${s("root_nodes")}",
      s"Max depth: ${s("max_depth")}",
      s"Avg dependencies: ${s("avg_dependencies")}", "")
    val rows = models.sorted.map { m =>
      val ds = dependencies(m)
      s"  $m (dependencies: ${if (ds.isEmpty) "none" else ds.toSeq.sorted.mkString(", ")})"
    }
    (header ++ rows).mkString("\n")
  }

  /** Graphviz DOT export (dependency.py:482-500). */
  def toDot: String = {
    val nodes = deps.keys.map(n => s"""  "$n" [shape=box];""")
    val edges = for ((n, ds) <- deps.toSeq; d <- ds) yield s"""  "$d" -> "$n";"""
    (Seq("digraph dependencies {", "  rankdir=LR;") ++ nodes ++ edges :+ "}")
      .mkString("\n")
  }
}
