package graft.tools

/** Print the formatted physical plan of registered queries — the
  * plan-audit loop ("is there a shuffle here that shouldn't be, did
  * the filter reach the scan, how wide are the codegen spans") without
  * writing a scratch main each time.
  *
  * Usage: runMain graft.tools.ExplainOne <name[,name…]> [sfDir]
  */
object ExplainOne {
  def main(args: Array[String]): Unit = {
    val names = args.headOption.getOrElse(
      sys.error("usage: ExplainOne <name[,name…]> [sfDir]")).split(",").toSeq
    val sfDir = args.lift(1).getOrElse("/root/testdata/sf0.001")
    val unknown = names.toSet -- graft.SparkEntry.queries.keySet
    require(unknown.isEmpty, s"unknown query name(s): ${unknown.toSeq.sorted.mkString(", ")}")
    val spark = graft.GraftSession.local(4)
    spark.sparkContext.setLogLevel("ERROR")
    for (n <- names) {
      println(s"━━━ $n ━━━")
      graft.SparkEntry.queries(n)(spark, sfDir).explain("formatted")
    }
    spark.stop()
  }
}
