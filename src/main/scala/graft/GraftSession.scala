package graft

import org.apache.spark.sql.SparkSession

/** The one place a local `SparkSession` is built: the mains and the test
  * suite share its policy. */
object GraftSession {

  /** `local[cpus]` with one shuffle partition per core, the `UTC` session
    * time zone every query's results depend on, the UI off and the log
    * level at WARN. `conf` adds further settings; static ones (e.g.
    * `spark.sql.codegen.cache.maxEntries`) only take effect when no session
    * exists yet. */
  def local(cpus: Int, conf: (String, String)*): SparkSession = {
    val builder = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
    conf.foreach { case (k, v) => builder.config(k, v) }
    val spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
