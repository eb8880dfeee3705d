package graft.tools

/** Dev profiling harness: run one registered query repeatedly, print
  * per-iteration wall time and (optionally) the formatted physical plan.
  *
  * Usage: runMain graft.tools.Profile <queryName> [sfDir] [iters] [explain]
  * `GRAFT_PROFILE_CONF=k=v;k=v` A/Bs arbitrary session confs in one sitting.
  */
object Profile {
  def main(args: Array[String]): Unit = {
    val name = args(0)
    val sfDir = if (args.length > 1) args(1) else "/root/testdata/sf0.1"
    val iters = if (args.length > 2) args(2).toInt else 3
    val doExplain = args.contains("explain")
    // core count via the bench's own env knob (and default) so
    // anti-scaling can be attributed in one tool
    val cpus = graft.Bench.cpus()
    val extra = sys.env.get("GRAFT_PROFILE_CONF").toSeq
      .flatMap(_.split(';')).filter(_.contains('='))
      .map { kv => val i = kv.indexOf('='); kv.substring(0, i) -> kv.substring(i + 1) }
    val spark = graft.GraftSession.local(cpus, extra: _*)
    // comma-separated names profile several queries in ONE JVM (same
    // warmup discipline per query; A/B within one sitting)
    for (nm <- name.split(",")) {
      val fn = graft.SparkEntry.queries(nm)
      // warmup (JIT, codegen, parquet footers)
      try fn(spark, sfDir).count()
      catch { case e: Throwable => System.err.println(s"warmup failed: $e") }
      if (doExplain) fn(spark, sfDir).explain("formatted")
      for (i <- 1 to iters) {
        val t0 = System.nanoTime()
        val n = fn(spark, sfDir).count()
        println(f"[profile] $nm iter $i: ${(System.nanoTime() - t0) / 1e9}%.3f s ($n rows)")
      }
      try {
        spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
        spark.catalog.clearCache()
      } catch { case _: Throwable => () }
    }
    spark.stop()
  }
}
