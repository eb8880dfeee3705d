package graft.query

import graft.SparkSpec
import graft.ingest.TableStore
import org.apache.spark.sql.functions._

/** Driver-side bucket computation (TableStore.bucketOfValue) must be
  * bit-identical to the executor-side `pmod(xxhash64(col), nBuckets)` the
  * store bucketed the data with — otherwise a "pruned" point lookup reads
  * the WRONG partition and silently returns nothing. */
class BucketPruneSpec extends SparkSpec {

  test("bucketOfValue matches SQL xxhash64 bucketing for string and long keys") {
    val store = new TableStore(spark, tmpDir("graft-bucket"), nBuckets = 16)
    import spark.implicits._
    val strings = Seq("", "a", "ALICE7XYZ", "Ünïcødé-αβγ", "x" * 200) ++
      (0 until 50).map(i => s"addr-$i-${"pad" * (i % 7)}")
    val sqlStr = strings.toDF("k")
      .select(col("k"), pmod(xxhash64(col("k")), lit(16)).cast("int").as("b"))
      .collect().map(r => r.getString(0) -> r.getInt(1)).toMap
    strings.foreach { s =>
      assert(store.bucketOfValue(s) == sqlStr(s), s"string key '$s'")
    }

    val longs = Seq(0L, 1L, -1L, 42L, Long.MaxValue, Long.MinValue) ++
      (0 until 50).map(i => i * 1000003L - 7)
    val sqlLong = longs.toDF("k")
      .select(col("k"), pmod(xxhash64(col("k")), lit(16)).cast("int").as("b"))
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    longs.foreach { l =>
      assert(store.bucketOfValue(l) == sqlLong(l), s"long key $l")
      // Int keys must take the 8-byte hash path (the columns are LongType)
      if (l >= Int.MinValue && l <= Int.MaxValue)
        assert(store.bucketOfValue(l.toInt) == sqlLong(l), s"int key $l")
    }
  }

  test("a keyed queryState returns exactly the full-scan result for the key") {
    val store = new TableStore(spark, tmpDir("graft-bucket-rt"), nBuckets = 8)
    import spark.implicits._
    val rows = (0 until 300).map(i => (s"addr-$i", i.toLong * 11, 0L, 0L, false, 0L,
      Option.empty[Long], Option.empty[String], Option.empty[String]))
    val df = rows.toDF("addr", "microalgos", "rewardsbase", "rewards_total",
      "deleted", "created_at", "closed_at", "keytype", "account_data")
    store.writeStateBuckets("account", "addr", df, (0 until 8).toSeq)

    rows.take(20).foreach { case (a, v, _, _, _, _, _, _, _) =>
      val pruned = store.queryState("account", Some(a))
        .filter(col("addr") === a).collect()
      assert(pruned.length == 1 && pruned.head.getAs[Long]("microalgos") == v, s"key $a")
    }
    // and a key that does not exist
    assert(store.queryState("account", Some("nope")).filter(col("addr") === "nope").isEmpty)
  }
}
