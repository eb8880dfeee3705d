package graft

/** Driver-run benchmark: every registered query on SPARK_GRAFT_SF_DIR,
  * one JSON result line on stdout (the contract).
  *
  * Conventions: deterministic (sorted) query order so per-query timings are
  * comparable across rounds; one tiny warmup action first so JIT/codegen
  * warmup isn't billed to whichever query happens to run first; failures go
  * to stderr and are reported as negative durations instead of corrupting
  * the JSON line.
  */
object Bench {
  /** `SPARK_GRAFT_CPUS`, the local core count of Bench, Verify and the
    * profiling tools: a positive integer, 4 when unset. Anything else
    * (`*`, `four`, `0`) fails fast instead of reaching `local[...]`,
    * the shuffle partition count and the persisted JSON. */
  def cpus(env: Map[String, String] = sys.env): Int =
    env.get("SPARK_GRAFT_CPUS").fold(4) { v =>
      v.trim.toIntOption.filter(_ > 0).getOrElse(throw new IllegalArgumentException(
        s"SPARK_GRAFT_CPUS must be a positive integer, got '$v'"))
    }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = Bench.cpus()
    // Generated-class cache (static conf, default 100 entries): the
    // multi-plan queries (streaming verticals run ~20 distinct plans
    // per micro-batch; iterative loops a handful per round) evict and
    // recompile their own codegen output mid-query at the default
    // size. 300 holds one query's plan set without measurable JIT
    // code-cache pressure (5000 measurably degraded later queries).
    // Scale-neutral: this is driver-side planning cost, identical on
    // a cluster. Parameterized like the core count.
    val spark = GraftSession.local(cpus, "spark.sql.codegen.cache.maxEntries" ->
      sys.env.getOrElse("SPARK_GRAFT_CODEGEN_CACHE", "300"))
    spark.sparkContext.setLogLevel("WARN")

    // Warmup: spin up codegen, parquet footer reads, scheduler pools, and
    // the one-time init of collation-aware string predicates (first use of
    // lower()/contains() loads collation support — measured at multiple
    // seconds under load; that's JVM init, not query cost).
    try {
      SparkEntry.entry(spark).count()
      import spark.implicits._
      import org.apache.spark.sql.functions._
      Seq("warm up", "the jvm").toDF("s")
        .select(col("s"), explode(split(col("s"), " ")).as("w"))
        .filter(lower(col("w")).contains("a") || col("w").rlike("u"))
        .select(md5(col("w")), base64(encode(col("w"), "UTF-8")))
        .count()
    } catch { case e: Throwable => System.err.println(s"[bench] warmup failed: $e") }

    // Queries that persist/localCheckpoint intermediates leak their blocks —
    // each invocation builds FRESH frames, so nothing from a previous run is
    // ever reused, but the blocks stay in the block manager. Over a 200+
    // query sweep that accumulation evicts/GC-thrashes later queries (the
    // r09 artifact billed one query 8× its profiled warm cost this way).
    // Dropping every persistent RDD + cached plan between runs is therefore
    // pure hygiene: no cross-query cache exists by construction.
    // `blocking = true` so the blocks are actually GONE before the next
    // timed run starts (the r10 artifact still inflated the cluster-family
    // trio 3-6× with async cleanup racing the next query's allocation).
    def clearLeakedBlocks(): Unit = {
      try {
        spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
        spark.catalog.clearCache()
      } catch { case _: Throwable => () }
    }

    val results = SparkEntry.queries.toSeq.sortBy(_._1).map { case (name, fn) =>
      // Two timed executions, report the MIN. Run 1 doubles as the warmup
      // (whole-stage-codegen compile is per-plan, ~1-2s for expression-heavy
      // queries; JIT and parquet footers likewise bill the first run), so
      // the min is the steady-state cost — the number that predicts cluster
      // throughput — while still being robust to a GC pause or scheduler
      // interleave landing on either run (the rounds-5/6/9 cold-billing
      // artifact class).
      def onePass(): Option[Double] = {
        val t0 = System.nanoTime()
        val ok =
          try { fn(spark, sfDir).count(); true }
          catch {
            case e: Throwable =>
              System.err.println(s"[bench] $name FAILED: ${e.getMessage}")
              false
          }
        val dt = (System.nanoTime() - t0) / 1e9
        clearLeakedBlocks()
        if (ok) Some(dt) else None
      }
      val dt = (onePass(), onePass()) match {
        case (Some(a), Some(b)) => math.min(a, b)
        case (Some(a), None)    => -a // ran once, then failed: report failure
        case (None, Some(b))    => -b
        case (None, None)       => -0.001
      }
      // One explicit GC between queries, OUTSIDE the timed window: the
      // ContextCleaner frees a finished query's broadcast blocks and
      // shuffle files only when their references are collected, so
      // without this the 285-query sweep accumulates dead shuffle state
      // until a collection lands INSIDE some later query's timing (the
      // mechanism behind every round's 3-6× artifact line). The cost
      // bills to wall clock, never to the reported per-query minima.
      System.gc()
      name -> dt
    }
    val qs = results.map { case (k, v) => s"\"" + k + "\":" + v }
      .mkString("{", ",", "}")
    val total = results.map(_._2.abs).sum
    println(s"""{"metric":"total","value":$total,"unit":"sec","queries":$qs,"sf":"$sfDir"}""")
    // The harness keeps only the LAST ~2000 chars of stdout and scans that
    // tail for a parseable JSON line. With 100+ registered queries the full
    // line above is ~3.3 KB, so its head falls outside the window and it
    // stopped parsing (BENCH r4-r6: "parsed": null; r2-r3 parsed only
    // because the line still fit). Emit a compact summary LAST — total,
    // failure count, and the slowest queries — so the tail always contains
    // one intact parseable line; the full per-query map stays in the line
    // above for local tooling.
    val failedNames = results.collect { case (k, v) if v < 0 => k }
    // Name the failures in the tail line (bounded so the line stays inside
    // the harness's stdout window): BENCH_r08 recorded "failed": 9 with the
    // identities lost to truncation, which made the regression untraceable
    // from the artifact alone.
    val failedList = failedNames.take(10).map("\"" + _ + "\"").mkString("[", ",", "]")
    val slow = results.sortBy(-_._2).take(8)
      .map { case (k, v) => s"\"" + k + "\":" + math.rint(v * 1000) / 1000 }
      .mkString("{", ",", "}")
    println(s"""{"metric":"total","value":${math.rint(total * 1000) / 1000},"unit":"sec","n_queries":${results.size},"failed":${failedNames.size},"failed_names":$failedList,"slowest":$slow,"sf":"$sfDir"}""")
    // The full per-query line above falls outside the harness's ~2000-char
    // stdout tail at 350+ queries, so rounds could no longer diff per-query
    // timings from the artifacts alone. Persist the same map to a file
    // (stdout contract unchanged; additions-only).
    try {
      val perQueryPath = java.nio.file.Paths.get("plans/bench_last_per_query.json")
      java.nio.file.Files.createDirectories(perQueryPath.getParent)
      val json =
        s"""{"metric":"total","value":$total,"unit":"sec","cpus":$cpus,"queries":$qs,"sf":"$sfDir"}"""
      java.nio.file.Files.write(perQueryPath, json.getBytes("UTF-8"))
      System.err.println(s"[bench] per-query timings written to ${perQueryPath.toAbsolutePath}")
    } catch { case e: Throwable => System.err.println(s"[bench] per-query dump failed: $e") }
    spark.stop()
  }
}
