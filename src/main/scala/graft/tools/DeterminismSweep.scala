package graft.tools

import org.apache.spark.sql.SparkSession

/** System-level determinism torture test: run EVERY registered query
  * under two different shuffle-partition settings (and therefore
  * different reduce orders, different AQE coalescing, different task
  * layouts) and require IDENTICAL row multisets. Any query relying on
  * float accumulation order, unstable rank ties, or partition-dependent
  * sampling gets caught here — the bit-stability claim the per-operator
  * specs make, enforced across the whole registry at once.
  *
  * Usage: runMain graft.tools.DeterminismSweep [sfDir] [partitionsA] [partitionsB]
  */
object DeterminismSweep {
  def main(args: Array[String]): Unit = {
    val sfDir = args.lift(0).getOrElse("/root/testdata/sf0.001")
    val pA = args.lift(1).getOrElse("32")
    val pB = args.lift(2).getOrElse("7")

    def runAll(partitions: String): Map[String, Seq[String]] = {
      val spark = graft.GraftSession.local(partitions.toInt)
      spark.sparkContext.setLogLevel("ERROR")
      val out = graft.SparkEntry.queries.toSeq.sortBy(_._1).map { case (name, fn) =>
        val rows =
          try fn(spark, sfDir).collect().map(_.toString).sorted.toSeq
          catch { case e: Throwable => Seq(s"ERROR: ${e.getMessage}") }
        name -> rows
      }.toMap
      spark.stop()
      // a fresh session per setting would be cleaner but Spark reuses the
      // JVM-wide session; clearing lets the next builder apply its confs
      SparkSession.clearActiveSession()
      SparkSession.clearDefaultSession()
      out
    }

    val a = runAll(pA)
    val b = runAll(pB)
    var bad = 0
    for (name <- a.keys.toSeq.sorted) {
      if (a(name) != b(name)) {
        bad += 1
        val diff = a(name).zipAll(b(name), "<missing>", "<missing>")
          .filter { case (x, y) => x != y }.take(3)
        println(s"[determinism] MISMATCH $name (${a(name).size} vs ${b(name).size} rows): $diff")
      }
    }
    println(s"[determinism] ${a.size} queries, $bad mismatches under local[$pA]/sp=$pA vs local[$pB]/sp=$pB")
  }
}
