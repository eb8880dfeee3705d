package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** AS-OF join — for every left row, the LATEST right row at or before
  * its time (per key): the enrichment shape of event analytics (join
  * each event to the most recent state/price/reference row). Spark has
  * no native as-of join; this composes one from built-ins instead of a
  * custom SparkPlan, and the composition IS the classic sort-merge
  * as-of:
  *
  *   tag both sides, union, ONE shuffle+sort per (key, time, side),
  *   carry the last right row forward as a SINGLE struct with
  *   `last(_, ignoreNulls) over (rows unbounded preceding)`, keep the
  *   left rows, project the struct's fields.
  *
  * One exchange and one sort total — the same cost envelope a dedicated
  * as-of physical operator would pay, with Catalyst/Tungsten running
  * the sort and the window state being O(1) (one carried struct, no
  * buffering of the right side).
  *
  * The single-struct carry matters for correctness, not just cost: all
  * payload columns always come from the SAME right row, and a matched
  * right row whose payload column is NULL yields that null (per-column
  * `last(ignoreNulls)` would skip past it to an older right row, and
  * could mix fields from different right rows).
  *
  * Semantics notes:
  *   - `strict = false` (default) matches right rows with
  *     `right.t <= left.t` (DuckDB/pandas ASOF default); `strict = true`
  *     requires `right.t < left.t`.
  *   - ties among right rows at the same (key, t) resolve to the LAST
  *     row under ascending payload-struct order (deterministic;
  *     pre-dedupe the right side per (key, t) if another rule is
  *     wanted).
  *   - null join keys never match, as in SQL: Spark's window
  *     partitioning groups null keys together, so the carried payload
  *     is explicitly nulled for null-key left rows.
  *   - unmatched left rows keep null payloads (LEFT OUTER as-of).
  *   - internal column names (`_t`, `_side`, `_ps`, `_carried`) and the output
  *     `asof_*` names must not collide with caller columns — enforced
  *     loudly.
  *   - hot-key note: the window partitions by key only, so one
  *     pathologically hot key serializes into one task (CPU-bound, the
  *     frame is O(1), not memory-bound). If that ever dominates,
  *     pre-split hot keys by a coarse time slice and carry each slice's
  *     boundary right-row into the next slice before the window.
  */
object AsOfJoin {

  def asofJoinLeft(left: DataFrame, right: DataFrame, keys: Seq[String],
                   leftTime: String, rightTime: String,
                   payloads: Seq[String], strict: Boolean = false): DataFrame = {
    val prep = Prep(left, right, keys, leftTime, rightTime, payloads)
    val w = Window.partitionBy(keys.map(col): _*)
      .orderBy(col("_t").asc, prep.sideOrder(strict), col("_ps").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    prep.finish(prep.unioned
      .withColumn("_carried",
        when(prep.keyIsNull, lit(null).cast(prep.psType))
          .otherwise(last(col("_ps"), ignoreNulls = true).over(w))))
  }

  /** Tolerance form of [[asofJoinLeft]] — the market-data semantic: a
    * match older than `toleranceSec` is no match at all (a quote from
    * last week must not enrich today's trade just because nothing newer
    * exists). Implemented ON TOP of the plain form: the matched right
    * timestamp rides along as one extra carried payload, and every
    * payload is nulled where the match is stale — same one-window cost
    * envelope, no extra shuffle. */
  def asofJoinLeftTolerance(left: DataFrame, right: DataFrame, keys: Seq[String],
                            leftTime: String, rightTime: String,
                            payloads: Seq[String], toleranceSec: Long,
                            strict: Boolean = false): DataFrame = {
    require(toleranceSec >= 0, "toleranceSec must be non-negative")
    val tsCopy = "_asof_rt"
    val joined = asofJoinLeft(left, right.withColumn(tsCopy, col(rightTime)),
      keys, leftTime, rightTime, payloads :+ tsCopy, strict)
    // seconds for timestamp columns; the column's own units otherwise
    // (the generic as-of accepts any orderable time column)
    val age = left.schema(leftTime).dataType match {
      case org.apache.spark.sql.types.TimestampType |
           org.apache.spark.sql.types.TimestampNTZType =>
        (unix_micros(col(leftTime)) - unix_micros(col(s"asof_$tsCopy"))) >
          toleranceSec * 1000000L
      case _ => (col(leftTime) - col(s"asof_$tsCopy")) > toleranceSec
    }
    val stale = col(s"asof_$tsCopy").isNull || age
    payloads.foldLeft(joined) { (df, p) =>
      df.withColumn(s"asof_$p", when(stale, lit(null)).otherwise(col(s"asof_$p")))
    }.drop(s"asof_$tsCopy")
  }

  /** Hot-key form of [[asofJoinLeft]] — identical semantics, different
    * cost envelope. The plain form windows per KEY, so one hot key (80%
    * of rows on a single key measured 12× task skew and 4.6× wall;
    * PLANS.md, "As-of join hot-key skew") serializes into one task.
    * This variant pre-splits
    * every key into coarse TIME SLICES of `sliceWidth` (times must be
    * numeric — unix micros upstream for timestamps):
    *
    *   1. carry within (key, slice) — the same O(1) window, but the hot
    *      key is now spread over its slices;
    *   2. per (key, slice), the last right row becomes that slice's
    *      BOUNDARY; a second window over the (key, slice) SPINE — at
    *      most keys × slices rows, data-size independent — carries
    *      boundaries forward to strictly-earlier-slice carry-ins;
    *   3. a left row's answer is its in-slice carry, else its slice's
    *      carry-in.
    *
    * Cross-slice rows always have strictly smaller times, so the
    * strict/inclusive distinction (equal times only) is unaffected.
    * Pick `sliceWidth` so a hot key spans ≥ ~100 slices over the data's
    * time range; the extra cost vs the plain form is one small distinct
    * + spine window + one co-partitioned join back. */
  def asofJoinLeftSliced(left: DataFrame, right: DataFrame, keys: Seq[String],
                         leftTime: String, rightTime: String,
                         payloads: Seq[String], sliceWidth: Long,
                         strict: Boolean = false): DataFrame = {
    require(sliceWidth > 0, "sliceWidth must be positive")
    val prep = Prep(left, right, keys, leftTime, rightTime, payloads,
      alsoReserved = Seq("_s", "_c1", "_cin", "_b", "_bp"))
    val sliceKeys = keys :+ "_s"
    val withSlice = prep.unioned.withColumn("_s", floor(col("_t") / sliceWidth))
    val wIn = Window.partitionBy(sliceKeys.map(col): _*)
      .orderBy(col("_t").asc, prep.sideOrder(strict), col("_ps").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val inSlice = withSlice.withColumn("_c1",
      last(col("_ps"), ignoreNulls = true).over(wIn))
    // last right row per (key, slice): max under (t, payload-struct) is
    // the same total order the in-slice window resolves ties with
    val boundary = withSlice.filter(col("_side") === 0)
      .groupBy(sliceKeys.map(col): _*)
      .agg(max(struct(col("_t"), col("_ps"))).as("_b"))
      .select(sliceKeys.map(col) :+ col("_b").getField("_ps").as("_bp"): _*)
    val spine = withSlice.select(sliceKeys.map(col): _*).distinct()
      .join(boundary, sliceKeys, "left_outer")
    val wCarry = Window.partitionBy(keys.map(col): _*).orderBy(col("_s").asc)
      .rowsBetween(Window.unboundedPreceding, -1)
    val carryIn = spine
      .withColumn("_cin", last(col("_bp"), ignoreNulls = true).over(wCarry))
      .select(sliceKeys.map(col) :+ col("_cin"): _*)
    prep.finish(inSlice
      .join(carryIn, sliceKeys, "left_outer")
      .withColumn("_carried",
        when(prep.keyIsNull, lit(null).cast(prep.psType))
          .otherwise(coalesce(col("_c1"), col("_cin")))))
  }

  /** Shared tagging/union/projection of the two forms. */
  private final case class Prep(left: DataFrame, right: DataFrame,
                                keys: Seq[String], leftTime: String, rightTime: String,
                                payloads: Seq[String], alsoReserved: Seq[String] = Nil) {
    require(payloads.nonEmpty, "need at least one right payload column")
    private val reserved = Seq("_t", "_side", "_ps", "_carried") ++ alsoReserved ++
      payloads.map(p => s"asof_$p")
    private val clash = (left.columns ++ right.columns).toSet.intersect(reserved.toSet)
    require(clash.isEmpty, s"caller columns collide with as-of internals: ${clash.mkString(", ")}")
    val leftOut: Seq[String] = left.columns.toSeq
    private val leftOnly = leftOut.filterNot(keys.contains)
    val psType: org.apache.spark.sql.types.StructType =
      org.apache.spark.sql.types.StructType(payloads.map(p => right.schema(p)))

    // inclusive: right (side 0) sorts BEFORE left at an equal time, so
    // the left row sees it; strict: left first, so it does not.
    def sideOrder(strict: Boolean): Column =
      if (strict) col("_side").desc else col("_side").asc

    // a null key never matches (SQL semantics) — the window would group
    // null keys together, so null-key left rows get their payload nulled.
    // ignoreNulls skips the left rows' null struct but NOT a matched
    // right row's null field: the whole right row is carried as one value.
    val keyIsNull: Column =
      keys.map(col(_).isNull).reduceOption(_ || _).getOrElse(lit(false))

    val unioned: DataFrame = {
      val lSchema = left.schema
      val l2 = left.select(
        keys.map(col) ++
          Seq(col(leftTime).as("_t"), lit(1).as("_side"),
            lit(null).cast(psType).as("_ps")) ++
          leftOnly.map(col): _*)
      val r2 = right.select(
        keys.map(col) ++
          Seq(col(rightTime).as("_t"), lit(0).as("_side"),
            struct(payloads.map(col): _*).as("_ps")) ++
          leftOnly.map(c => lit(null).cast(lSchema(c).dataType).as(c)): _*)
      l2.unionByName(r2)
    }

    def finish(carried: DataFrame): DataFrame =
      carried.filter(col("_side") === 1)
        .select(leftOut.map(col) ++
          payloads.map(p => col("_carried").getField(p).as(s"asof_$p")): _*)
  }
}
