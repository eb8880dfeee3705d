package graftbench

import java.nio.file.{Files, Path, Paths}
import org.apache.spark.sql.SparkSession

/** What every workload receives. `jobs` is present only in the traced run:
  * untraced runs register no benchmark listeners. */
final case class Ctx(spark: SparkSession, cpus: Int, seed: Long, seconds: Int, trace: Boolean,
                     out: Path, tracer: Tracer, jobs: Option[JobListener], report: Report)

/** Benchmark JVM entry point (run.py starts it):
  *   --workload W --seed N --seconds S --trace 0|1 --cpus C --out /abs/dir
  * Writes `<out>/result.json`; in the traced run also `<out>/spans.jsonl`. */
object Main {
  val Workloads: Map[String, Ctx => Unit] = Map(
    "ingest_follow" -> Follow.run,
    "read_api" -> ReadApi.run, "operator_mix" -> OperatorMix.run)

  final case class Args(workload: String, seed: Long, seconds: Int, trace: Boolean, cpus: Int, out: Path)

  /** Validates the command line; any problem is a usage error, never a
    * silently defaulted value. */
  def parse(argv: Array[String]): Args = {
    val kv = argv.grouped(2).map {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
      case other => throw new IllegalArgumentException(s"bad argument: ${other.mkString(" ")}")
    }.toMap
    def get(k: String) = kv.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    def int(k: String) = get(k).toIntOption.getOrElse(throw new IllegalArgumentException(s"--$k must be an integer"))
    val w = get("workload")
    require(Workloads.contains(w), s"unknown workload '$w' (one of ${Workloads.keys.toSeq.sorted.mkString(", ")})")
    val seed = get("seed").toLongOption.getOrElse(throw new IllegalArgumentException("--seed must be an integer"))
    val seconds = int("seconds")
    require(seconds >= 1, "--seconds must be at least 1")
    val trace = get("trace") match {
      case "0" => false
      case "1" => true
      case t => throw new IllegalArgumentException(s"--trace must be 0 or 1, got '$t'")
    }
    val nproc = Runtime.getRuntime.availableProcessors()
    val cpus = int("cpus")
    require(cpus >= 1 && cpus <= nproc, s"--cpus must be in 1..$nproc, got $cpus")
    val out = Paths.get(get("out"))
    require(out.isAbsolute, s"--out must be an absolute path, got '$out'")
    Args(w, seed, seconds, trace, cpus, out)
  }

  def session(cpus: Int, out: Path): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.codegen.cache.maxEntries", "300")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", out.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", out.resolve("warehouse").toString)
      // status-store retention, kept small so the live heap does not grow
      // with the number of ops a run happens to make
      .config("spark.sql.ui.retainedExecutions", "10")
      .config("spark.ui.retainedJobs", "10")
      .config("spark.ui.retainedStages", "10")
      .config("spark.ui.retainedTasks", "100")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  /** Runs `setup` once and reports its duration as `setup_s`. */
  def timedSetup[T](ctx: Ctx)(setup: => T): T = {
    val t0 = System.nanoTime()
    val s = ctx.tracer.span("setup", "setup")(setup)
    ctx.report.e2e("setup_s") = (System.nanoTime() - t0) / 1e9
    s
  }

  /** Throughput and per-operation latency; the traced run also files them
    * as per-layer metrics, to compare with the untraced runs. */
  def reportOps(ctx: Ctx, opsPerSec: Double, latMs: Seq[Double]): Unit = {
    val r = ctx.report
    r.e2e("ops_per_s") = opsPerSec
    r.latencies(latMs)
    if (ctx.trace) {
      r.layer("trace.ops_per_s") = opsPerSec
      r.layer("trace.op_ms_p50") = Stats.median(latMs)
    }
  }

  def storeEnd(ctx: Ctx, store: graft.ingest.TableStore): Unit = {
    ctx.report.e2e("store_mb") = IngestKit.dirBytes(Paths.get(store.root)) / 1e6
    IngestKit.AppendTables.foreach(t => ctx.report.str(s"files_by_rbkt.$t", IngestKit.filesByRbkt(store, t)))
  }

  /** Backfill rounds/s in a fresh session on local[cpus] (the traced
    * run's scaling baseline). */
  def backfillRoundsPerSec(a: Args, cpus: Int): Double = {
    val spark = session(cpus, a.out)
    val ctx = Ctx(spark, cpus, a.seed, a.seconds, trace = false, a.out, new Tracer(false), None, new Report)
    try Backfill.roundsPerSec(ctx, s"backfill-$cpus", batches = 1)
    finally spark.stop()
  }

  /** Heap still in use after a full collection, in MB. The pause lets
    * Spark's cleaner drop the blocks of broadcasts the first collection
    * found unreachable. */
  def liveHeapMb(): Double = {
    System.gc()
    Thread.sleep(1000)
    System.gc()
    val m = java.lang.management.ManagementFactory.getMemoryMXBean.getHeapMemoryUsage
    m.getUsed / 1e6
  }

  def main(argv: Array[String]): Unit = {
    val a = try parse(argv) catch {
      case e: IllegalArgumentException =>
        System.err.println(s"perfbench: ${e.getMessage}")
        sys.exit(2)
    }
    Files.createDirectories(a.out)
    val report = new Report
    report.str("workload", a.workload); report.num("seed", a.seed.toDouble)
    report.num("seconds", a.seconds); report.num("cpus", a.cpus)
    report.num("nproc", Runtime.getRuntime.availableProcessors()); report.str("trace", if (a.trace) "1" else "0")
    val spark = session(a.cpus, a.out)
    val jobs = if (a.trace) Some(new JobListener) else None
    jobs.foreach(spark.sparkContext.addSparkListener)
    val tracer = new Tracer(a.trace)
    val ctx = Ctx(spark, a.cpus, a.seed, a.seconds, a.trace, a.out, tracer, jobs, report)
    var code = 0
    try {
      Workloads(a.workload)(ctx)
      report.e2e("live_heap_mb") = liveHeapMb()
      if (a.trace) {
        tracer.write(a.out.resolve("spans.jsonl"))
        jobs.foreach(j => Files.write(a.out.resolve("jobs.txt"), j.dump().getBytes("UTF-8")))
        if (a.workload == "ingest_follow") {
          spark.stop()
          val many = backfillRoundsPerSec(a, a.cpus)
          val one = backfillRoundsPerSec(a, 1)
          report.layer("ingest.speedup_vs_1core") = many / one
          report.num("backfill_rounds_per_s", many)
          report.num("backfill_rounds_per_s_1core", one)
        }
      }
      Files.write(a.out.resolve("result.json"), report.json.getBytes("UTF-8"))
    } catch {
      case e: Throwable =>
        System.err.println(s"perfbench: ${a.workload} failed")
        e.printStackTrace()
        code = 1
    } finally {
      SparkSession.getActiveSession.foreach(_.stop())
      SparkSession.getDefaultSession.foreach(_.stop())
    }
    sys.exit(code)
  }
}
