package graftbench

import graft.SparkEntry
import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** operator_mix: oracle-checked queries from SparkEntry.queries over
  * seeded tables shaped like the sf0.1 corpus. No ingest or read-API code
  * runs here. The first pass (cold: class loading, codegen) is set-up;
  * warm passes are timed, one pass being one op. Results of the first warm
  * pass are written out for the DuckDB oracle check that run.py performs. */
object OperatorMix {
  val Queries = Seq("dedup_prefix_join", "dedup_prefix_clusters", "dedup_ladder", "dedup_keep_best",
    "graph_pagerank")
  /** Runs time at least this many warm passes: one pass spread by 22%
    * between runs on a shared machine. */
  val MinPasses = 2

  val Documents = 400
  val Embeddings = 500
  val Orders = 25000
  val LinesPerOrder = 4
  private val Vocab = ("query row stream the batch sort value hash filter big data dup part column " +
    "order scan a slow agg key window table merge vector join spark line small fast group customer").split(' ')
  private val Langs = Seq("en" -> 41, "zh" -> 15, "de" -> 14, "fr" -> 15, "es" -> 15)

  /** Writes documents, embeddings, orders and lineitem (the columns the
    * queries read) as `<dir>/<table>.parquet`, from the seed alone. */
  def generate(spark: SparkSession, dir: String, seed: Long): Unit = {
    val rnd = new java.util.SplittableRandom(seed ^ 0x5eedL)
    val texts = mutable.ArrayBuffer.empty[String]
    val docs = (0 until Documents).map { i =>
      val text =
        if (i % 625 == 624) texts(rnd.nextInt(texts.size)) // a few exact duplicates
        else Seq.fill(8 + rnd.nextInt(93))(Vocab(rnd.nextInt(Vocab.length))).mkString(" ")
      texts += text
      var u = rnd.nextInt(100)
      val lang = Langs.find { case (_, w) => u -= w; u < 0 }.get._1
      Row(i.toLong, text, lang, s"src${i % 20}", text.length.toLong)
    }
    val docSchema = StructType(Seq(StructField("doc_id", LongType), StructField("text", StringType),
      StructField("lang", StringType), StructField("source", StringType), StructField("n_chars", LongType)))
    spark.createDataFrame(docs.asJava, docSchema).coalesce(1).write.parquet(s"$dir/documents.parquet")

    val g = new java.util.Random(seed)
    val embs = (0 until Embeddings).map { i =>
      Row(i.toLong, Array.fill(64)((g.nextGaussian() * 0.125).toFloat).toSeq, g.nextInt(10))
    }
    val embSchema = StructType(Seq(StructField("vec_id", LongType),
      StructField("embedding", ArrayType(FloatType)), StructField("label", IntegerType)))
    spark.createDataFrame(embs.asJava, embSchema).coalesce(1).write.parquet(s"$dir/embeddings.parquet")

    spark.range(Orders).select(col("id").as("o_orderkey"),
      pmod(xxhash64(col("id"), lit(seed)), lit(15000L)).as("o_custkey"))
      .coalesce(1).write.parquet(s"$dir/orders.parquet")
    spark.range(Orders.toLong * LinesPerOrder).select((col("id") / LinesPerOrder).cast("long").as("l_orderkey"),
      pmod(xxhash64(col("id"), lit(seed + 1)), lit(1000L)).as("l_suppkey"))
      .coalesce(1).write.parquet(s"$dir/lineitem.parquet")
  }

  def codegen: (Long, Double) = {
    val h = org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME
    (h.getCount, h.getSnapshot.getMean)
  }

  def run(ctx: Ctx): Unit = {
    val r = ctx.report
    val spark = ctx.spark
    val dir = ctx.out.resolve("opdata").toString
    val qs = SparkEntry.queries
    val oracles = SparkEntry.oracleSql
    Queries.foreach(q => require(qs.contains(q) && oracles.contains(q), s"query $q missing or without oracle"))
    Main.timedSetup(ctx) {
      generate(spark, dir, ctx.seed)
      Queries.foreach { q =>
        val t0 = System.nanoTime()
        qs(q)(spark, dir).collect()
        r.num(s"cold_s.$q", (System.nanoTime() - t0) / 1e9)
      }
    }
    val passMs = mutable.ArrayBuffer.empty[Double]
    val perQuery = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]
    val shuffle = mutable.HashMap.empty[String, Double].withDefaultValue(0.0)
    val compiles = mutable.HashMap.empty[String, Double].withDefaultValue(0.0)
    val compileMs = mutable.HashMap.empty[String, Double].withDefaultValue(0.0)
    var busy = 0.0; var pass = 0
    val resDir = ctx.out.resolve("opres")
    // one op is one warm pass over the mix (the queries run one at a time)
    while (busy < ctx.seconds * 1000 || pass < MinPasses) {
      var ms = 0.0
      Queries.foreach { q =>
        r.attempted += 1
        try {
          val (c0, _) = codegen
          val lo = System.currentTimeMillis()
          val t0 = System.nanoTime()
          val df = qs(q)(spark, dir)
          val rows = ctx.tracer.span(s"operators.$q", s"pass$pass")(df.collect())
          val qms = (System.nanoTime() - t0) / 1e6
          val hi = System.currentTimeMillis()
          ms += qms
          perQuery.getOrElseUpdate(q, mutable.ArrayBuffer.empty) += qms
          if (pass == 0)
            spark.createDataFrame(rows.toSeq.asJava, df.schema).write.parquet(resDir.resolve(q).toString)
          for (jl <- ctx.jobs) {
            org.apache.spark.BenchBus.drain(spark.sparkContext)
            val (c1, mean) = codegen
            compiles(q) += c1 - c0
            compileMs(q) += (c1 - c0) * mean
            shuffle(q) += jl.jobsIn(lo, hi).flatMap(_.stages).distinct.flatMap(jl.stageAgg).map(_.shuffleWrite).sum
          }
        } catch {
          case e: Exception =>
            r.failed += 1
            System.err.println(s"[perfbench] query $q failed: $e")
        }
      }
      busy += ms; passMs += ms; pass += 1
    }
    java.nio.file.Files.write(resDir.resolve("oracle_sql.json"),
      Queries.map(q => "\"" + q + "\":" + Json.quote(oracles(q))).mkString("{", ",", "}").getBytes("UTF-8"))
    Main.reportOps(ctx, pass * Queries.size / (busy / 1000), passMs.toSeq)
    ctx.report.e2e("store_mb") = IngestKit.dirBytes(java.nio.file.Paths.get(dir)) / 1e6
    r.num("passes", pass)
    perQuery.foreach { case (q, xs) => r.num(s"warm_s.$q", Stats.median(xs.toSeq) / 1000) }
    r.str("data", s"documents=$Documents embeddings=$Embeddings orders=$Orders lineitem=${Orders * LinesPerOrder}")
    if (ctx.trace) Queries.foreach { q =>
      val n = math.max(1, perQuery.get(q).map(_.size).getOrElse(0))
      r.layer(s"operators.$q.s") = Stats.median(perQuery.getOrElse(q, mutable.ArrayBuffer.empty).toSeq) / 1000
      r.layer(s"operators.$q.shuffle_bytes") = shuffle(q) / n
      r.layer(s"operators.$q.codegen_compiles") = compiles(q) / n
      r.layer(s"operators.$q.codegen_compile_ms") = compileMs(q) / n
    }
  }
}
