package graft.tools

/** Same-session A/B of two session-conf legs: for each named query,
  * alternate the legs, 2 samples per leg per round, 3 rounds. Usage:
  *   runMain graft.tools.RuleAB <sfDir> <baseline-conf> <test-conf> <query ...>
  * A leg is `key=value[,key=value]`, or `-` for the session defaults.
  * A value may itself hold commas (e.g. an excludedRules list): a comma
  * starts a new pair only when the next `=` comes before the next comma.
  * A key set on one leg only is unset (session default) on the other.
  * Example (the r14 InferFiltersFromGenerate exclusion):
  *   RuleAB <sf> - spark.sql.optimizer.excludedRules=org.apache.spark.sql.catalyst.optimizer.InferFiltersFromGenerate q_simjoin_exact
  */
object RuleAB {
  private[tools] def parseLeg(spec: String): Map[String, String] =
    if (spec.trim.isEmpty || spec.trim == "-") Map.empty
    else spec.split(",(?=[^,=]+=)").map { kv =>
      kv.split("=", 2) match {
        case Array(k, v) if k.trim.nonEmpty => k.trim -> v.trim
        case _ => sys.error(s"bad conf pair '$kv' (want key=value)")
      }
    }.toMap

  def main(args: Array[String]): Unit = {
    require(args.length >= 4,
      "usage: RuleAB <sfDir> <baseline-conf> <test-conf> <query ...>")
    val dir = args(0)
    val legs = Seq(false -> parseLeg(args(1)), true -> parseLeg(args(2))).toMap
    val names = args.drop(3).toSeq
    val spark = graft.Bench.session(sys.env.getOrElse("SPARK_GRAFT_CPUS", "32"))
    graft.Tables.applyAdaptivePolicy(spark)
    spark.sparkContext.setLogLevel("ERROR")
    // session values of every key either leg touches, restored per leg
    val keys = legs.values.flatMap(_.keys).toSet
    val initial = keys.map(k => k -> spark.conf.getOption(k)).toMap
    def setLeg(test: Boolean): Unit = keys.foreach { k =>
      legs(test).get(k).orElse(initial(k)) match {
        case Some(v) => spark.conf.set(k, v)
        case None => spark.conf.unset(k)
      }
    }
    def sample(name: String): Double = {
      val t0 = System.nanoTime()
      graft.SparkEntry.queries(name)(spark, dir).count()
      (System.nanoTime() - t0) / 1e9
    }
    names.foreach { name =>
      // warm both legs once (codegen, landing)
      setLeg(false); sample(name); setLeg(true); sample(name)
      val res = (1 to 3).flatMap { _ =>
        Seq(false, true).map { leg =>
          setLeg(leg)
          val s = math.min(sample(name), sample(name))
          (leg, s)
        }
      }
      val base = res.filter(!_._1).map(_._2)
      val test = res.filter(_._1).map(_._2)
      def med(xs: Seq[Double]) = xs.sorted.apply(xs.size / 2)
      def fmt(xs: Seq[Double]) = xs.map(v => f"$v%.2f").mkString(",")
      println(f"[ruleab] $name baseline=${med(base)}%.2f s test=${med(test)}%.2f s " +
        s"(baseline=${fmt(base)} vs test=${fmt(test)})")
    }
    spark.stop()
  }
}
