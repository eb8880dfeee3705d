package graft.tools

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession

/** Job-level attribution for the streaming capstones: runs a registered
  * query once cold + once warm with a listener recording every Spark
  * job's wall time and callsite, and prints the warm run's jobs sorted
  * by cost — the "where do 20 jobs × 300 ms go" view that stage-level
  * probes miss. */
object StreamJobProbe {
  def main(args: Array[String]): Unit = {
    val name = args.headOption.getOrElse("engine_stream_corpus")
    val sfDir = args.lift(1).getOrElse("/root/testdata/sf0.1")
    // core count via the bench's own env knob (and default) so
    // anti-scaling can be attributed in one tool
    val cpus = graft.Bench.cpus()
    val spark = SparkSession.builder().master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.codegen.cache.maxEntries", "300")
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val fn = graft.SparkEntry.queries(name)
    fn(spark, sfDir).count() // warm

    val starts = new java.util.concurrent.ConcurrentHashMap[Int, (Long, String)]()
    val rows = new java.util.concurrent.ConcurrentLinkedQueue[(Double, String)]()
    val listener = new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit = {
        val site = Option(js.properties)
          .flatMap(p => Option(p.getProperty("callSite.short"))).getOrElse("?")
        starts.put(js.jobId, (System.nanoTime(), site))
      }
      override def onJobEnd(je: SparkListenerJobEnd): Unit = {
        val s = starts.remove(je.jobId)
        if (s != null) rows.add(((System.nanoTime() - s._1) / 1e9, s._2))
      }
    }
    spark.sparkContext.addSparkListener(listener)
    val t0 = System.nanoTime()
    fn(spark, sfDir).count()
    val wall = (System.nanoTime() - t0) / 1e9
    Thread.sleep(500)
    spark.sparkContext.removeSparkListener(listener)
    import scala.jdk.CollectionConverters._
    val all = rows.asScala.toSeq
    println(f"[sjp] $name warm wall: $wall%.3f s, jobs: ${all.size}, job-time sum: ${all.map(_._1).sum}%.3f s")
    val bySite = all.groupBy(_._2).map { case (s, xs) => (xs.map(_._1).sum, xs.size, s) }
      .toSeq.sortBy(-_._1)
    for ((t, n, s) <- bySite.take(25)) println(f"[sjp]   $t%7.3f s  n=$n%-3d  $s")
    spark.stop()
  }
}
