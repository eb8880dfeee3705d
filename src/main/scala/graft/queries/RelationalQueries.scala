package graft.queries

import graft.Tables
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.sql.expressions.Window

/** The reference's read/write operator surface (SURVEY.md §2) re-expressed
  * over the driver's TPC-H-ish corpus. Each query name carries the §2
  * operator id it demonstrates; the DuckDB oracle pins semantics.
  *
  * Scale notes (100 TB posture):
  *   - only constant-size dimensions (region: 5 rows, nation: 25 rows) are
  *     hard-`broadcast()`ed; sides that grow with SF (supplier, filtered
  *     customer) are left to AQE + autoBroadcastJoinThreshold, so the plan
  *     degrades to a shuffle join instead of OOMing the driver at 100 TB;
  *   - top-k is ORDER BY + LIMIT, which Spark plans as TakeOrderedAndProject
  *     (per-partition heap + driver merge — no global sort shuffle);
  *   - aggregations are partial-aggregate friendly (no distinct-heavy
  *     shapes on the hot path); exact sums use decimal, not double.
  */
object RelationalQueries {

  // 18, NOT 20: decimal(18,4) × decimal(19,4) is precision 38 scale 8 —
  // exact in both engines. At (20,4) the product overflows precision 38
  // and Spark's precision-loss rule truncates the scale while DuckDB
  // keeps it, so sums drift in the 7th decimal once the corpus is big
  // enough (surfaced by f1_agg_pricing at sf0.1; values are < 10^14, so
  // 18 digits lose nothing).
  private def dec(c: org.apache.spark.sql.Column) = c.cast(DecimalType(18, 4))

  val defs: Seq[QueryDef] = Seq(

    // ── A8 full-table scan + F7 newest-first top-k (txn_participation
    //    DESC-index pattern: ORDER BY round DESC, intra DESC LIMIT n). ──
    QueryDef.sql(
      "a8_scan_topk_desc",
      """SELECT o_orderkey, o_custkey, o_orderstatus, o_orderdate
        |FROM orders
        |ORDER BY o_orderdate DESC, o_orderkey DESC LIMIT 100""".stripMargin) {
      (s, d) =>
        Tables.orders(s, d)
          .select("o_orderkey", "o_custkey", "o_orderstatus", "o_orderdate")
          .orderBy(desc("o_orderdate"), desc("o_orderkey"))
          .limit(100)
    },

    // ── F1 grouped aggregation with exact decimal math (the accounting
    //    core's per-key reduce; writer.go:163-179). TPC-H Q1 shape. ──
    QueryDef.sql(
      "f1_agg_pricing",
      """SELECT l_returnflag, l_linestatus,
        |  round(CAST(SUM(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE), 2) AS sum_qty,
        |  round(CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,4))) AS DOUBLE), 2) AS sum_price,
        |  round(CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,4)) * (1 - CAST(l_discount AS DECIMAL(18,4)))) AS DOUBLE), 2) AS sum_disc_price,
        |  COUNT(*) AS cnt
        |FROM lineitem
        |GROUP BY l_returnflag, l_linestatus
        |ORDER BY l_returnflag, l_linestatus""".stripMargin) {
      (s, d) =>
        Tables.lineitem(s, d)
          .groupBy("l_returnflag", "l_linestatus")
          .agg(
            round(sum(dec(col("l_quantity"))).cast("double"), 2).as("sum_qty"),
            round(sum(dec(col("l_extendedprice"))).cast("double"), 2).as("sum_price"),
            round(sum(dec(col("l_extendedprice")) * (lit(1) - dec(col("l_discount"))))
              .cast("double"), 2).as("sum_disc_price"),
            count(lit(1)).as("cnt"))
          .orderBy("l_returnflag", "l_linestatus")
    },

    // ── E5 star join, dimensions broadcast (lineitem→supplier→nation→
    //    region; the txn→block_header enrichment pattern, SURVEY §2.E). ──
    QueryDef.sql(
      "e5_star_join_revenue",
      """SELECT r_name, n_name,
        |  round(CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,4)) * (1 - CAST(l_discount AS DECIMAL(18,4)))) AS DOUBLE), 2) AS revenue,
        |  COUNT(*) AS n_items
        |FROM lineitem
        |JOIN supplier ON l_suppkey = s_suppkey
        |JOIN nation ON s_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |GROUP BY r_name, n_name
        |ORDER BY r_name, n_name""".stripMargin) {
      (s, d) =>
        Tables.lineitem(s, d)
          .join(QueryDef.broadcastIfSmall(Tables.supplier(s, d)),
            col("l_suppkey") === col("s_suppkey"))
          .join(broadcast(Tables.nation(s, d)), col("s_nationkey") === col("n_nationkey"))
          .join(broadcast(Tables.region(s, d)), col("n_regionkey") === col("r_regionkey"))
          .groupBy("r_name", "n_name")
          .agg(
            round(sum(dec(col("l_extendedprice")) * (lit(1) - dec(col("l_discount"))))
              .cast("double"), 2).as("revenue"),
            count(lit(1)).as("n_items"))
          .orderBy("r_name", "n_name")
    },

    // ── E6 AS-OF join: every click enriched with the user's most recent
    //    purchase at or before it — the event-analytics operator Spark
    //    lacks natively, composed as tagged-union + one sort + carry-
    //    forward window (operators/AsOfJoin). DuckDB's native ASOF JOIN
    //    is the oracle; the right side is deduped per (user, ts) so tie
    //    semantics can't differ between engines. ───────────────────────
    QueryDef.sql(
      "e6_asof_join",
      """WITH clicks AS (SELECT event_id, user_id, ts FROM events WHERE event_type = 'click'),
        |purch AS (SELECT user_id, ts, CAST(max(event_id) AS BIGINT) AS ref_event_id
        |          FROM events WHERE event_type = 'purchase' GROUP BY 1, 2)
        |SELECT l.event_id, l.user_id, r.ref_event_id
        |FROM clicks l ASOF LEFT JOIN purch r
        |  ON l.user_id = r.user_id AND l.ts >= r.ts
        |ORDER BY l.event_id""".stripMargin) {
      (s, d) =>
        val ev = Tables.events(s, d)
        val clicks = ev.filter(col("event_type") === "click")
          .select(col("event_id"), col("user_id"), col("ts"))
        val purch = ev.filter(col("event_type") === "purchase")
          .groupBy("user_id", "ts")
          .agg(max("event_id").cast("long").as("ref_event_id"))
        graft.operators.AsOfJoin
          .asofJoinLeft(clicks, purch, Seq("user_id"), "ts", "ts", Seq("ref_event_id"))
          .select(col("event_id"), col("user_id"), col("asof_ref_event_id").as("ref_event_id"))
          .orderBy("event_id")
    },

    // ── Event-rate histogram: events per hour per type — the ingest-rate
    //    panel (a flat-lining type means a broken producer; a spike means
    //    a runaway one). One partial-agg groupBy on (hour, type). ──
    QueryDef.sql(
      "h7_event_rate",
      """SELECT date_trunc('hour', ts) AS hour, event_type,
        |  CAST(count(*) AS BIGINT) AS n_events,
        |  round(CAST(sum(CAST(value AS DECIMAL(20,4))) AS DOUBLE), 2) AS sum_value
        |FROM events GROUP BY 1, 2 ORDER BY hour, event_type""".stripMargin) {
      (s, d) =>
        Tables.events(s, d)
          .groupBy(date_trunc("hour", col("ts")).as("hour"), col("event_type"))
          .agg(count(lit(1)).as("n_events"),
            // decimal(20,4) sum: exact regardless of order (the doctrine)
            round(sum(col("value").cast("decimal(20,4)")).cast("double"), 2).as("sum_value"))
          .orderBy("hour", "event_type")
    },

    // ── H8 event-rate anomaly gate: hours whose count deviates more
    //    than 2σ from the corpus-hour mean — with NO float statistics:
    //    z² > k² rewrites as (c·N − S)² > k²·(N·SS − S²), every operand
    //    an exact long ((c−μ)²·N² vs k²σ²·N², both sides multiplied
    //    through by N²). The classic mean/stddev form would float-drift
    //    across engines; this one can't. ──
    QueryDef.sql(
      "h8_event_anomaly",
      """WITH h AS (SELECT date_trunc('hour', ts) AS hour, CAST(count(*) AS BIGINT) AS c
        |           FROM events GROUP BY 1),
        |st AS (SELECT CAST(count(*) AS BIGINT) AS n, CAST(sum(c) AS BIGINT) AS s,
        |          CAST(sum(c * c) AS BIGINT) AS ss
        |       FROM h)
        |SELECT hour, c AS n_events,
        |  (c * n - s) * (c * n - s) AS dev2_n2,
        |  4 * (n * ss - s * s) AS var4_n2,
        |  (c * n - s) * (c * n - s) > 4 * (n * ss - s * s) AS anomalous
        |FROM h, st ORDER BY hour""".stripMargin) {
      (s, d) =>
        val h = Tables.events(s, d)
          .groupBy(date_trunc("hour", col("ts")).as("hour"))
          .agg(count(lit(1)).as("c"))
        val st = h.agg(count(lit(1)).as("n"), sum("c").as("s"),
          sum(col("c") * col("c")).as("ss"))
        val dev = col("c") * col("n") - col("s")
        val var4 = lit(4L) * (col("n") * col("ss") - col("s") * col("s"))
        h.crossJoin(broadcast(st))
          .select(col("hour"), col("c").as("n_events"),
            (dev * dev).as("dev2_n2"), var4.as("var4_n2"),
            (dev * dev > var4).as("anomalous"))
          .orderBy("hour")
    },

    // ── E8 as-of with staleness TOLERANCE: a purchase more than 10
    //    minutes older than the click is no match at all (the
    //    market-data semantic — last week's quote must not enrich
    //    today's trade just because nothing newer exists). Same
    //    one-window cost as the plain as-of; the matched right
    //    timestamp rides as one extra carried payload. ──
    QueryDef.sql(
      "e8_asof_tolerance",
      """WITH clicks AS (SELECT event_id, user_id, ts FROM events WHERE event_type = 'click'),
        |purch AS (SELECT user_id, ts, CAST(max(event_id) AS BIGINT) AS ref_event_id
        |          FROM events WHERE event_type = 'purchase' GROUP BY 1, 2)
        |SELECT l.event_id, l.user_id,
        |  CASE WHEN r.ts IS NOT NULL AND epoch(l.ts) - epoch(r.ts) <= 600
        |       THEN r.ref_event_id END AS ref_event_id
        |FROM clicks l ASOF LEFT JOIN purch r
        |  ON l.user_id = r.user_id AND l.ts >= r.ts
        |ORDER BY l.event_id""".stripMargin) {
      (s, d) =>
        val ev = Tables.events(s, d)
        val clicks = ev.filter(col("event_type") === "click")
          .select(col("event_id"), col("user_id"), col("ts"))
        val purch = ev.filter(col("event_type") === "purchase")
          .groupBy("user_id", "ts")
          .agg(max("event_id").cast("long").as("ref_event_id"))
        graft.operators.AsOfJoin
          .asofJoinLeftTolerance(clicks, purch, Seq("user_id"), "ts", "ts",
            Seq("ref_event_id"), toleranceSec = 600L)
          .select(col("event_id"), col("user_id"), col("asof_ref_event_id").as("ref_event_id"))
          .orderBy("event_id")
    },

    // ── E7 RANGE join: views within one hour AFTER each signup, per
    //    user — bucketized interval join (operators/RangeJoin): explode
    //    intervals into bins, EQUI-join on (user, bin), exact predicate
    //    after; each pair meets in exactly one bin. A bare inequality
    //    join would plan BroadcastNestedLoop — quadratic per user. ─────
    QueryDef.sql(
      "e7_range_join",
      """WITH v AS (SELECT event_id AS view_id, user_id, ts FROM events WHERE event_type = 'view'),
        |s AS (SELECT event_id AS signup_id, user_id, ts AS lo, ts + INTERVAL 1 HOUR AS hi
        |      FROM events WHERE event_type = 'signup')
        |SELECT v.view_id, v.user_id, s.signup_id
        |FROM v JOIN s ON v.user_id = s.user_id AND v.ts >= s.lo AND v.ts <= s.hi
        |ORDER BY view_id, signup_id""".stripMargin) {
      (s, d) =>
        val ev = Tables.events(s, d)
        val hourUs = 3600L * 1000000L
        val views = ev.filter(col("event_type") === "view")
          .select(col("event_id").as("view_id"), col("user_id"),
            unix_micros(col("ts")).as("t"))
        val signups = ev.filter(col("event_type") === "signup")
          .select(col("event_id").as("signup_id"), col("user_id"),
            unix_micros(col("ts")).as("lo"),
            (unix_micros(col("ts")) + hourUs).as("hi"))
        graft.operators.RangeJoin
          .binnedIntervalJoin(views, signups, "t", "lo", "hi",
            binWidth = hourUs, keys = Seq("user_id"))
          .select(col("view_id"), col("user_id"), col("signup_id"))
          .orderBy("view_id", "signup_id")
    },

    // ── H4 per-key ordered sequence assembly: each user's event-type
    //    history as one ordered string — the "build training sequences
    //    from event logs" shape (conversation assembly, behavioral
    //    curricula). One hash aggregation; ordering is imposed INSIDE
    //    the row (array_sort over (ts, event_id, type) structs) so no
    //    global sort precedes the groupBy, and the (ts, event_id)
    //    tiebreak makes the sequence deterministic on both engines. ────
    QueryDef.sql(
      "h4_user_sequences",
      """SELECT user_id,
        |  string_agg(event_type, ',' ORDER BY ts, event_id) AS seq,
        |  CAST(count(*) AS BIGINT) AS n_events
        |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin) {
      (s, d) =>
        Tables.events(s, d)
          .groupBy("user_id")
          .agg(
            concat_ws(",", transform(
              array_sort(collect_list(struct(col("ts"), col("event_id"), col("event_type")))),
              x => x.getField("event_type"))).as("seq"),
            count(lit(1)).as("n_events"))
          .orderBy("user_id")
    },

    // ── E1/D semi-join + keyset pagination: "transactions by address"
    //    (txn_participation ⋈ txn, idb.go:180-233 + token idb.go:56-100).
    //    Orders of BUILDING-segment customers, keyset token
    //    (o_orderdate, o_orderkey) > (1995-06-01, 0), ascending, LIMIT 50. ──
    QueryDef.sql(
      "d1_semijoin_keyset_page",
      """SELECT o_orderkey, o_custkey, o_orderdate, o_orderpriority
        |FROM orders
        |WHERE o_custkey IN (SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING')
        |  AND (o_orderdate, o_orderkey) > (TIMESTAMP '1995-06-01 00:00:00', 0)
        |ORDER BY o_orderdate, o_orderkey LIMIT 50""".stripMargin) {
      (s, d) =>
        val custs = Tables.customer(s, d)
          .filter(col("c_mktsegment") === "BUILDING")
          .select(col("c_custkey").as("o_custkey"))
        val tokDate = lit("1995-06-01 00:00:00").cast(TimestampType)
        Tables.orders(s, d)
          .join(QueryDef.broadcastIfSmall(custs), Seq("o_custkey"), "left_semi")
          .filter(col("o_orderdate") > tokDate ||
            (col("o_orderdate") === tokDate && col("o_orderkey") > 0))
          .select("o_orderkey", "o_custkey", "o_orderdate", "o_orderpriority")
          .orderBy(asc("o_orderdate"), asc("o_orderkey"))
          .limit(50)
    },

    // ── D point lookup (txid pattern, index schema:33). ──
    QueryDef.sql(
      "d2_point_lookup",
      "SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice FROM orders WHERE o_orderkey = 500") {
      (s, d) =>
        Tables.orders(s, d)
          .filter(col("o_orderkey") === 500)
          .select("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice")
    },

    // ── D time-range filter (AfterTime/BeforeTime → round range via
    //    block_header.realtime, idb.go:190-192). ──
    QueryDef.sql(
      "d3_time_range",
      """SELECT l_orderkey, l_linenumber, l_shipdate, l_quantity
        |FROM lineitem
        |WHERE l_shipdate >= TIMESTAMP '1995-01-01 00:00:00'
        |  AND l_shipdate <  TIMESTAMP '1995-02-01 00:00:00'
        |ORDER BY l_shipdate, l_orderkey, l_linenumber LIMIT 200""".stripMargin) {
      (s, d) =>
        Tables.lineitem(s, d)
          .filter(col("l_shipdate") >= lit("1995-01-01 00:00:00").cast(TimestampType) &&
            col("l_shipdate") < lit("1995-02-01 00:00:00").cast(TimestampType))
          .select("l_orderkey", "l_linenumber", "l_shipdate", "l_quantity")
          .orderBy("l_shipdate", "l_orderkey", "l_linenumber")
          .limit(200)
    },

    // ── E2 self-join: inner-txn → root-txn conversion (idb.go:137-143;
    //    extra.root-intra backlink). Non-first lineitems join their order's
    //    first line ("root"). ──
    // NOTE: the corpus has duplicate (orderkey, linenumber) rows and can
    // have several linenumber=1 rows per order, so the root side is
    // aggregated to ONE deterministic row per order — ambiguous many-many
    // joins under a LIMIT are nondeterministic across engines.
    QueryDef.sql(
      "e2_selfjoin_root",
      """SELECT i.l_orderkey AS orderkey, i.l_linenumber AS linenumber,
        |       r.root_qty, r.root_partkey
        |FROM lineitem i
        |JOIN (SELECT l_orderkey, min(l_quantity) AS root_qty,
        |             CAST(min(l_partkey) AS BIGINT) AS root_partkey
        |      FROM lineitem WHERE l_linenumber = 1 GROUP BY l_orderkey) r
        |  ON i.l_orderkey = r.l_orderkey
        |WHERE i.l_linenumber > 1
        |ORDER BY orderkey, linenumber LIMIT 500""".stripMargin) {
      (s, d) =>
        val li = Tables.lineitem(s, d)
        val inner = li.filter(col("l_linenumber") > 1)
          .select(col("l_orderkey").as("orderkey"), col("l_linenumber").as("linenumber"))
        val root = li.filter(col("l_linenumber") === 1)
          .groupBy(col("l_orderkey").as("orderkey"))
          .agg(min("l_quantity").as("root_qty"),
            min("l_partkey").cast("long").as("root_partkey"))
        inner.join(root, Seq("orderkey"))
          .orderBy("orderkey", "linenumber")
          .limit(500)
    },

    // ── F2 distinct (participation dedup, write_txn_participation.go:53-89). ──
    QueryDef.sql(
      "f2_distinct",
      """SELECT DISTINCT o_custkey, o_orderstatus FROM orders
        |ORDER BY o_custkey, o_orderstatus""".stripMargin) {
      (s, d) =>
        Tables.orders(s, d)
          .select("o_custkey", "o_orderstatus")
          .distinct()
          .orderBy("o_custkey", "o_orderstatus")
    },

    // ── F5 max-round / health watermark (cockroach.go:383-393). ──
    QueryDef.sql(
      "f5_watermark",
      """SELECT CAST(MAX(o_orderkey) AS BIGINT) AS max_key,
        |       CAST(COUNT(*) AS BIGINT) AS n_rows,
        |       MAX(o_orderdate) AS max_date
        |FROM orders""".stripMargin) {
      (s, d) =>
        Tables.orders(s, d)
          .agg(max("o_orderkey").as("max_key"), count(lit(1)).as("n_rows"),
            max("o_orderdate").as("max_date"))
    },

    // ── C1 last-writer-wins keyed state (upsert merge, writer.go:39-114):
    //    final state per user = latest event by (ts, event_id). ──
    QueryDef.sql(
      "c1_upsert_lww",
      """SELECT user_id, event_type AS last_type, value AS last_value
        |FROM (SELECT user_id, event_type, value,
        |        ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
        |      FROM events)
        |WHERE rn = 1
        |ORDER BY user_id""".stripMargin) {
      (s, d) =>
        // max_by on the (ts, event_id) tuple: same pick as the oracle's
        // ROW_NUMBER ... DESC rn=1, but a hash aggregate with map-side
        // partials instead of a per-user sort window — no full sort of the
        // event log, which is the difference at a 100 TB event table.
        Tables.events(s, d)
          .groupBy("user_id")
          .agg(max_by(struct(col("event_type"), col("value")), struct(col("ts"), col("event_id"))).as("last"))
          .select(col("user_id"), col("last.event_type").as("last_type"),
            col("last.value").as("last_value"))
          .orderBy("user_id")
    },

    // ── D account + resource expansion: left outer join + per-key counts
    //    (AccountQueryOptions IncludeAssetHoldings..., idb.go:252-261). ──
    QueryDef.sql(
      "d4_account_resources",
      """SELECT c_custkey, c_mktsegment,
        |  CAST(COUNT(o_orderkey) AS BIGINT) AS n_orders,
        |  round(CAST(COALESCE(SUM(CAST(o_totalprice AS DECIMAL(18,4))), 0) AS DOUBLE), 2) AS total_spend
        |FROM customer LEFT JOIN orders ON c_custkey = o_custkey
        |GROUP BY c_custkey, c_mktsegment
        |ORDER BY c_custkey""".stripMargin) {
      (s, d) =>
        Tables.customer(s, d)
          .join(Tables.orders(s, d), col("c_custkey") === col("o_custkey"), "left_outer")
          .groupBy("c_custkey", "c_mktsegment")
          .agg(
            count(col("o_orderkey")).as("n_orders"),
            round(coalesce(sum(dec(col("o_totalprice"))), lit(0).cast(DecimalType(18, 4)))
              .cast("double"), 2).as("total_spend"))
          .orderBy("c_custkey")
    },

    // ── F4 count-guard (MaxResources / MaxTransactionsLimit,
    //    idb.go:174-176, 262-263): flag keys over a resource budget. ──
    QueryDef.sql(
      "f4_count_guard",
      """SELECT o_custkey, CAST(COUNT(*) AS BIGINT) AS n,
        |       COUNT(*) > 15 AS over_limit
        |FROM orders GROUP BY o_custkey
        |HAVING COUNT(*) > 12
        |ORDER BY o_custkey""".stripMargin) {
      (s, d) =>
        Tables.orders(s, d)
          .groupBy("o_custkey")
          .agg(count(lit(1)).as("n"))
          .filter(col("n") > 12)
          .withColumn("over_limit", col("n") > 15)
          .orderBy("o_custkey")
    },

    // ── D fuzzy search (AssetsQuery Name/Unit case-insensitive substring,
    //    idb.go:296-301). ──
    QueryDef.sql(
      "d5_fuzzy_search",
      """SELECT p_partkey, p_name, p_brand
        |FROM part
        |WHERE lower(p_name) LIKE '%green%' OR lower(p_brand) LIKE '%#1%'
        |ORDER BY p_partkey""".stripMargin) {
      (s, d) =>
        Tables.part(s, d)
          .filter(lower(col("p_name")).contains("green") ||
            lower(col("p_brand")).contains("#1"))
          .select("p_partkey", "p_name", "p_brand")
          .orderBy("p_partkey")
    },

    // ── D-bal AssetBalanceQuery analogue (idb.go:321-337): uint64 balances
    //    live in DECIMAL(20,0) — BIGINT overflows above 2^63
    //    (writer_test.go:838's math.MaxUint64 trap) — with AmountGT/LT
    //    range predicates near the top of the uint64 range and AddrGT
    //    keyset paging in addr order. Balances synthesized as
    //    maxUint64 - custkey so every compared value exceeds int64.
    //    Output as VARCHAR: exact digits survive both engines' pandas
    //    bridges, where huge decimals would degrade to float64. ──
    QueryDef.sql(
      "d7_balance_uint64_page",
      """WITH b AS (SELECT c_name AS addr,
        |             CAST('18446744073709551615' AS DECIMAL(20,0)) - c_custkey AS amount
        |           FROM customer)
        |SELECT addr, CAST(amount AS VARCHAR) AS amount
        |FROM b
        |WHERE amount > CAST('18446744073709551615' AS DECIMAL(20,0)) - 800
        |  AND amount < CAST('18446744073709551615' AS DECIMAL(20,0)) - 100
        |  AND addr > 'Customer#000000150'
        |ORDER BY addr LIMIT 50""".stripMargin) {
      (s, d) =>
        val maxU = lit("18446744073709551615").cast(DecimalType(20, 0))
        Tables.customer(s, d)
          .select(col("c_name").as("addr"),
            (maxU - col("c_custkey").cast(DecimalType(20, 0))).as("amount"))
          .filter(col("amount") > maxU - lit(800) &&
            col("amount") < maxU - lit(100) &&
            col("addr") > "Customer#000000150")
          .select(col("addr"), col("amount").cast("string").as("amount"))
          .orderBy("addr")
          .limit(50)
    },

    // ── D-app ApplicationQuery analogue (idb.go:358-364): creator filter +
    //    ApplicationIdGreaterThan keyset, ascending id order, LIMIT —
    //    the reference's `WHERE index > $n ORDER BY index ASC` page shape. ──
    QueryDef.sql(
      "d8_app_id_keyset",
      """SELECT p_partkey AS app_id, p_brand AS creator, p_type AS params
        |FROM part
        |WHERE p_brand = 'Brand#13' AND p_partkey > 300
        |ORDER BY app_id LIMIT 100""".stripMargin) {
      (s, d) =>
        Tables.part(s, d)
          .filter(col("p_brand") === "Brand#13" && col("p_partkey") > 300)
          .select(col("p_partkey").as("app_id"), col("p_brand").as("creator"),
            col("p_type").as("params"))
          .orderBy("app_id")
          .limit(100)
    },

    // ── D-box ApplicationBoxQuery analogue (idb.go:373-380): boxes of one
    //    app, BYTE-keyset `name > $prev` on the binary box name, ASC name
    //    order, LIMIT — ordering and paging happen on the raw bytes
    //    (unsigned lexicographic in both engines), hex-projected for the
    //    compare. ──
    QueryDef.sql(
      "d9_box_name_keyset",
      """SELECT p_partkey, lower(hex(encode(p_name))) AS name_hex,
        |       p_retailprice AS value
        |FROM part
        |WHERE p_brand = 'Brand#11' AND encode(p_name) > encode('m')
        |ORDER BY name_hex, p_partkey LIMIT 50""".stripMargin) {
      (s, d) =>
        Tables.part(s, d)
          .filter(col("p_brand") === "Brand#11" &&
            encode(col("p_name"), "UTF-8") > encode(lit("m"), "UTF-8"))
          .select(col("p_partkey"),
            lower(hex(encode(col("p_name"), "UTF-8"))).as("name_hex"),
            col("p_retailprice").as("value"))
          .orderBy("name_hex", "p_partkey")
          .limit(50)
    },

    // ── D byte/char-prefix match (NotePrefix pattern, idb.go:205-207:
    //    prefix predicate on a stored field). ──
    QueryDef.sql(
      "d6_prefix_match",
      """SELECT p_partkey, p_name
        |FROM part
        |WHERE starts_with(p_name, 'green')
        |ORDER BY p_partkey""".stripMargin) {
      (s, d) =>
        Tables.part(s, d)
          .filter(col("p_name").startsWith("green"))
          .select("p_partkey", "p_name")
          .orderBy("p_partkey")
    },

    // ── H2 sliding-window aggregation (batch equivalent: each event lands
    //    in windowLen/slide buckets; streaming variant
    //    graft.streaming.EventStreams.slidingCounts). 2-min window / 1-min
    //    slide ⇒ explode over the two covering bucket starts. ──
    QueryDef.sql(
      "h2_sliding_agg",
      """SELECT bucket, event_type, CAST(COUNT(*) AS BIGINT) AS n
        |FROM (SELECT unnest([date_trunc('minute', ts),
        |                     date_trunc('minute', ts) - INTERVAL 1 MINUTE]) AS bucket,
        |             event_type
        |      FROM events)
        |GROUP BY bucket, event_type
        |ORDER BY bucket, event_type""".stripMargin) {
      (s, d) =>
        Tables.events(s, d)
          .select(explode(array(
            date_trunc("minute", col("ts")),
            date_trunc("minute", col("ts")) - expr("INTERVAL 1 MINUTE"))).as("bucket"),
            col("event_type"))
          .groupBy("bucket", "event_type")
          .agg(count(lit(1)).as("n"))
          .orderBy("bucket", "event_type")
    },

    // ── H3 session windows (gaps-and-islands): per-user sessions split at
    //    >30-minute silences; Spark's session_window expressed as the
    //    portable lag + cumulative-sum form so the oracle can pin it. ──
    QueryDef.sql(
      "h3_session_agg",
      """SELECT user_id, session_start, CAST(n_events AS BIGINT) AS n_events
        |FROM (
        |  SELECT user_id, min(ts) AS session_start, count(*) AS n_events
        |  FROM (
        |    SELECT user_id, ts,
        |      sum(CASE WHEN prev_ts IS NULL OR ts - prev_ts > INTERVAL 30 MINUTE
        |               THEN 1 ELSE 0 END)
        |        OVER (PARTITION BY user_id ORDER BY ts, event_id) AS session_id
        |    FROM (SELECT user_id, ts, event_id,
        |            lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_ts
        |          FROM events))
        |  GROUP BY user_id, session_id)
        |ORDER BY user_id, session_start""".stripMargin) {
      (s, d) =>
        val byUser = Window.partitionBy("user_id").orderBy("ts", "event_id")
        Tables.events(s, d)
          .withColumn("prev_ts", lag("ts", 1).over(byUser))
          .withColumn("new_session",
            when(col("prev_ts").isNull ||
              col("ts").cast("long") - col("prev_ts").cast("long") > 1800, 1).otherwise(0))
          .withColumn("session_id", sum("new_session").over(byUser))
          .groupBy("user_id", "session_id")
          .agg(min("ts").as("session_start"), count(lit(1)).as("n_events"))
          .select("user_id", "session_start", "n_events")
          .orderBy("user_id", "session_start")
    },

    // ── H12 ROLLUP subtotals: revenue by (nation, year) with per-nation
    //    subtotals and the grand total in ONE pass — the multi-level
    //    report shape that otherwise costs three scans+unions. The
    //    grouping_id bit pattern (first rollup column = high bit, same
    //    convention in Spark and DuckDB) disambiguates real NULL keys
    //    from subtotal rows; subtotal keys surface as 'ALL'. ──
    QueryDef.sql(
      "h12_rollup_revenue",
      """SELECT coalesce(n_name, 'ALL') AS nation,
        |  coalesce(CAST(year(o_orderdate) AS VARCHAR), 'ALL') AS yr,
        |  CAST(GROUPING(n_name) * 2 + GROUPING(year(o_orderdate)) AS INT) AS gid,
        |  round(CAST(sum(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE), 2) AS revenue,
        |  CAST(count(*) AS BIGINT) AS n_orders
        |FROM orders
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation ON c_nationkey = n_nationkey
        |GROUP BY ROLLUP(n_name, year(o_orderdate))
        |ORDER BY gid, nation, yr""".stripMargin) {
      (s, d) =>
        Tables.orders(s, d)
          .join(QueryDef.broadcastIfSmall(Tables.customer(s, d)),
            col("o_custkey") === col("c_custkey"))
          .join(broadcast(Tables.nation(s, d)), col("c_nationkey") === col("n_nationkey"))
          .rollup(col("n_name"), year(col("o_orderdate")).as("y"))
          .agg(grouping_id().cast("int").as("gid"),
            round(sum(dec(col("o_totalprice"))).cast("double"), 2).as("revenue"),
            count(lit(1)).as("n_orders"))
          .select(coalesce(col("n_name"), lit("ALL")).as("nation"),
            coalesce(col("y").cast("string"), lit("ALL")).as("yr"),
            col("gid"), col("revenue"), col("n_orders"))
          .orderBy("gid", "nation", "yr")
    },

    // ── H13 event-flow transition matrix: what users do NEXT — per-user
    //    (lag over ts, event_id) pairs rolled up to (from → to) counts,
    //    split by the ntile(4) phase of each user's history (early
    //    sessions behave differently from late ones; ntile is the
    //    equal-depth phase split). Session starts surface as
    //    from = 'START'. Exercises lag + ntile with identical tie order
    //    in both engines. ──
    QueryDef.sql(
      "h13_event_flow",
      """SELECT phase, from_type, to_type, CAST(count(*) AS BIGINT) AS n
        |FROM (
        |  SELECT ntile(4) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS phase,
        |    coalesce(lag(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id),
        |             'START') AS from_type,
        |    event_type AS to_type
        |  FROM events)
        |GROUP BY phase, from_type, to_type
        |ORDER BY phase, from_type, to_type""".stripMargin) {
      (s, d) =>
        val byUser = Window.partitionBy("user_id").orderBy("ts", "event_id")
        Tables.events(s, d)
          .select(ntile(4).over(byUser).as("phase"),
            coalesce(lag("event_type", 1).over(byUser), lit("START")).as("from_type"),
            col("event_type").as("to_type"))
          .groupBy("phase", "from_type", "to_type")
          .agg(count(lit(1)).as("n"))
          .orderBy("phase", "from_type", "to_type")
    },

    // ── G2/G5/G10 scalar-function surface: base64, md5, printable check,
    //    enum mapping (encoding.go:45-51, 123-162; txn_type_enum.go). ──
    QueryDef.sql(
      "g_scalar_functions",
      """SELECT c_custkey,
        |  to_base64(encode(c_name)) AS name_b64,
        |  md5(c_name) AS name_md5,
        |  length(c_name) AS name_len,
        |  upper(c_mktsegment) AS seg_upper,
        |  CASE c_mktsegment WHEN 'BUILDING' THEN 1 WHEN 'AUTOMOBILE' THEN 2
        |    WHEN 'MACHINERY' THEN 3 WHEN 'HOUSEHOLD' THEN 4 WHEN 'FURNITURE' THEN 5
        |    ELSE 0 END AS seg_enum
        |FROM customer ORDER BY c_custkey LIMIT 100""".stripMargin) {
      (s, d) =>
        Tables.customer(s, d)
          .select(
            col("c_custkey"),
            base64(encode(col("c_name"), "UTF-8")).as("name_b64"),
            md5(col("c_name")).as("name_md5"),
            length(col("c_name")).as("name_len"),
            upper(col("c_mktsegment")).as("seg_upper"),
            when(col("c_mktsegment") === "BUILDING", 1)
              .when(col("c_mktsegment") === "AUTOMOBILE", 2)
              .when(col("c_mktsegment") === "MACHINERY", 3)
              .when(col("c_mktsegment") === "HOUSEHOLD", 4)
              .when(col("c_mktsegment") === "FURNITURE", 5)
              .otherwise(0).as("seg_enum"))
          .orderBy("c_custkey")
          .limit(100)
    },

    // ── H5 ordered event funnel: per user, the earliest view → click →
    //    purchase chain (strictly increasing times) and the furthest
    //    stage reached. Greedy-earliest equals any-chain-exists: every
    //    click after SOME view is after the EARLIEST view, so the min
    //    chain the oracle computes is the same chain the in-row fold
    //    finds. ONE shuffle on user_id; the fold is per-user bounded
    //    (the h4_user_sequences shape), vs the oracle's three
    //    aggregate+join rounds — same answer, one exchange. ──
    QueryDef.sql(
      "h5_event_funnel",
      """WITH e AS (SELECT user_id, ts, event_type FROM events WHERE event_id % 23 < 3),
        |v AS (SELECT user_id, min(ts) AS t1 FROM e WHERE event_type = 'view' GROUP BY 1),
        |c AS (SELECT e.user_id, min(e.ts) AS t2 FROM e JOIN v ON v.user_id = e.user_id
        |      WHERE e.event_type = 'click' AND e.ts > v.t1 GROUP BY 1),
        |p AS (SELECT e.user_id, min(e.ts) AS t3 FROM e JOIN c ON c.user_id = e.user_id
        |      WHERE e.event_type = 'purchase' AND e.ts > c.t2 GROUP BY 1),
        |u AS (SELECT DISTINCT user_id FROM e)
        |SELECT u.user_id,
        |  CAST(CASE WHEN t3 IS NOT NULL THEN 3 WHEN t2 IS NOT NULL THEN 2
        |            WHEN t1 IS NOT NULL THEN 1 ELSE 0 END AS BIGINT) AS funnel_stage,
        |  v.t1 AS first_view, c.t2 AS first_click, p.t3 AS first_purchase
        |FROM u LEFT JOIN v USING (user_id) LEFT JOIN c USING (user_id)
        |       LEFT JOIN p USING (user_id)
        |ORDER BY user_id""".stripMargin) {
      (s, d) =>
        val nullTs = lit(null).cast("timestamp")
        val f = aggregate(col("evs"),
          struct(nullTs.as("t1"), nullTs.as("t2"), nullTs.as("t3")),
          (acc, e) => {
            val (t1, t2, t3) = (acc.getField("t1"), acc.getField("t2"), acc.getField("t3"))
            val (ts, et) = (e.getField("ts"), e.getField("et"))
            struct(
              when(t1.isNull && et === "view", ts).otherwise(t1).as("t1"),
              when(t2.isNull && t1.isNotNull && et === "click" && ts > t1, ts)
                .otherwise(t2).as("t2"),
              when(t3.isNull && t2.isNotNull && et === "purchase" && ts > t2, ts)
                .otherwise(t3).as("t3"))
          })
        Tables.events(s, d)
          // deterministic thinning so partial funnels exist (the dense
          // synthetic stream otherwise completes every user's chain)
          .filter(pmod(col("event_id"), lit(23)) < 3)
          .groupBy("user_id")
          .agg(sort_array(collect_list(
            struct(col("ts"), col("event_type").as("et")))).as("evs"))
          .select(col("user_id"), f.as("f"))
          .select(col("user_id"),
            when(col("f.t3").isNotNull, 3L).when(col("f.t2").isNotNull, 2L)
              .when(col("f.t1").isNotNull, 1L).otherwise(0L).as("funnel_stage"),
            col("f.t1").as("first_view"), col("f.t2").as("first_click"),
            col("f.t3").as("first_purchase"))
          .orderBy("user_id")
    },

    // ── H6 cohort retention: users bucketed by first-signup week, then
    //    per (cohort, week-offset) distinct active users — the classic
    //    retention triangle. Two shuffles (per-user cohort, then the
    //    cohort×offset count-distinct); offsets clamp to 0..4. DuckDB's
    //    date_trunc('week') yields DATE while Spark's yields TIMESTAMP,
    //    hence the oracle-side cast. ──
    QueryDef.sql(
      "h6_cohort_retention",
      """WITH s AS (SELECT user_id, CAST(date_trunc('week', min(ts)) AS TIMESTAMP) AS cw
        |           FROM events WHERE event_type = 'signup' GROUP BY 1),
        |a AS (SELECT DISTINCT user_id, CAST(date_trunc('week', ts) AS TIMESTAMP) AS wk FROM events),
        |j AS (SELECT s.user_id, s.cw,
        |        CAST(date_diff('day', s.cw, a.wk) AS BIGINT) // 7 AS off
        |      FROM s JOIN a USING (user_id))
        |SELECT cw AS cohort_week, off AS week_offset,
        |  CAST(count(DISTINCT user_id) AS BIGINT) AS n_active
        |FROM j WHERE off BETWEEN 0 AND 4
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin) {
      (s, d) =>
        val ev = Tables.events(s, d)
        val cohorts = ev.filter(col("event_type") === "signup")
          .groupBy("user_id")
          .agg(date_trunc("week", min(col("ts"))).as("cw"))
        val active = ev.select(col("user_id"),
          date_trunc("week", col("ts")).as("wk")).distinct()
        cohorts.join(active, Seq("user_id"))
          .select(col("cw"),
            floor(datediff(col("wk"), col("cw")) / 7).as("off"),
            col("user_id"))
          .filter(col("off").between(0, 4))
          .groupBy(col("cw").as("cohort_week"), col("off").as("week_offset"))
          .agg(countDistinct("user_id").as("n_active"))
          .orderBy("cohort_week", "week_offset")
    },

    // ── H1 tumbling-window streaming aggregation shape (batch-equivalent:
    //    date_trunc bucket; SURVEY §2.H — windowed aggs for the events
    //    stream). Structured Streaming variant in graft.streaming. ──
    QueryDef.sql(
      "h1_tumbling_agg",
      """SELECT date_trunc('hour', ts) AS bucket, event_type,
        |  CAST(COUNT(*) AS BIGINT) AS n,
        |  round(CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE), 2) AS sum_value
        |FROM events
        |GROUP BY 1, 2
        |ORDER BY bucket, event_type""".stripMargin) {
      (s, d) =>
        Tables.events(s, d)
          .groupBy(date_trunc("hour", col("ts")).as("bucket"), col("event_type"))
          .agg(count(lit(1)).as("n"),
            round(sum(dec(col("value"))).cast("double"), 2).as("sum_value"))
          .orderBy("bucket", "event_type")
    },

    // ── B4 explode + distinct (participation extraction shape:
    //    flatMap to (addr, round, intra) then dedup). Words per document. ──
    QueryDef.sql(
      "b4_explode_distinct",
      """SELECT doc_id, CAST(COUNT(DISTINCT w) AS BIGINT) AS n_distinct_words
        |FROM (SELECT doc_id, unnest(string_split(trim(text), ' ')) AS w FROM documents)
        |WHERE w <> ''
        |GROUP BY doc_id
        |ORDER BY doc_id""".stripMargin) {
      (s, d) =>
        Tables.documents(s, d)
          .select(col("doc_id"), explode(split(trim(col("text")), " ")).as("w"))
          .filter(col("w") =!= "")
          .groupBy("doc_id")
          .agg(countDistinct("w").as("n_distinct_words"))
          .orderBy("doc_id")
    },

    // ── Deterministic distributed PageRank over the supplier→customer
    //    commerce graph (who supplies the buyers that matter): per-edge
    //    messages quantized ONCE to round(rank/out·2^32) longs, so every
    //    reduction is an exact commutative sum — the rank vector is
    //    bit-identical under any partitioning AND reproducible by this
    //    oracle, which unrolls the same three iterations in SQL with
    //    every float literal emitted from the SAME Scala doubles
    //    (CAST-wrapped so DuckDB's decimal literals can't take a decimal
    //    arithmetic path). GraphSpec pins distributed ≡ sequential twin. ──
    {
      val iters = 3
      val S = "4294967296.0"
      // emit driver-computed doubles as literals so both engines parse
      // the identical bits ((1.0-0.85) in double is NOT decimal 0.15)
      val b1 = (1.0 - 0.85).toString
      val iterBlocks = (1 to iters).map { i =>
        val p = s"r${i - 1}"
        s"""g$i AS (SELECT CAST(coalesce(sum(CAST(round(r.rank * $S) AS BIGINT)), 0) AS BIGINT) AS dang
           |      FROM $p r LEFT JOIN o ON o.src = r.node WHERE o.src IS NULL),
           |c$i AS (SELECT e.dst AS node,
           |        CAST(sum(CAST(round(r.rank / o.out * $S) AS BIGINT)) AS BIGINT) AS msum
           |      FROM e JOIN $p r ON r.node = e.src JOIN o ON o.src = e.src
           |      GROUP BY e.dst),
           |r$i AS (SELECT n.node,
           |        (CAST($b1 AS DOUBLE) / nn.cnt + CAST(0.85 AS DOUBLE) * (g$i.dang / $S) / nn.cnt)
           |          + CAST(0.85 AS DOUBLE) * (coalesce(c.msum, 0) / $S) AS rank
           |      FROM nodes n CROSS JOIN nn CROSS JOIN g$i
           |      LEFT JOIN c$i c ON c.node = n.node)""".stripMargin
      }.mkString(",\n")
      QueryDef.sql(
        "graph_pagerank",
        s"""WITH e AS (SELECT DISTINCT l_suppkey + 100000 AS src, o_custkey AS dst
           |      FROM lineitem JOIN orders ON o_orderkey = l_orderkey),
           |nodes AS (SELECT DISTINCT node FROM
           |  (SELECT src AS node FROM e UNION ALL SELECT dst FROM e)),
           |nn AS (SELECT CAST(count(*) AS BIGINT) AS cnt FROM nodes),
           |o AS (SELECT src, CAST(count(*) AS BIGINT) AS out FROM e GROUP BY src),
           |r0 AS (SELECT node, CAST(1.0 AS DOUBLE) / nn.cnt AS rank FROM nodes, nn),
           |$iterBlocks
           |SELECT node, rank FROM r$iters
           |ORDER BY rank DESC, node LIMIT 100""".stripMargin) {
        (s, d) =>
          val e = Tables.lineitem(s, d)
            .join(Tables.orders(s, d), col("l_orderkey") === col("o_orderkey"))
            .select((col("l_suppkey") + 100000L).as("src"), col("o_custkey").as("dst"))
          graft.operators.Graph.pageRank(e, "src", "dst", iters = iters)
            .orderBy(desc("rank"), asc("node")).limit(100)
      }
    },

    // ── HITS hubs & authorities on the same commerce graph — the
    //    bipartite centrality PageRank can't give (source-side mass all
    //    drains to sinks there; HITS scores both sides). The usually-
    //    float L1 normalization never happens in floats: inbound sums
    //    stay scaled longs, the normalizer is their exact total, each
    //    score is ONE long/long division — so the oracle's unrolled
    //    iterations reproduce every bit. ──
    {
      val iters = 2
      val S = "4294967296.0"
      val blocks = (1 to iters).map { i =>
        val p = s"h${i - 1}"
        s"""am$i AS (SELECT e.dst AS node,
           |        CAST(sum(CAST(round(h.h * $S) AS BIGINT)) AS BIGINT) AS ms
           |      FROM e JOIN $p h ON h.node = e.src GROUP BY e.dst),
           |at$i AS (SELECT CAST(sum(ms) AS BIGINT) AS t FROM am$i),
           |a$i AS (SELECT node, CAST(ms AS DOUBLE) / CAST(at$i.t AS DOUBLE) AS a
           |      FROM am$i, at$i),
           |hm$i AS (SELECT e.src AS node,
           |        CAST(sum(CAST(round(a.a * $S) AS BIGINT)) AS BIGINT) AS ms
           |      FROM e JOIN a$i a ON a.node = e.dst GROUP BY e.src),
           |ht$i AS (SELECT CAST(sum(ms) AS BIGINT) AS t FROM hm$i),
           |h$i AS (SELECT node, CAST(ms AS DOUBLE) / CAST(ht$i.t AS DOUBLE) AS h
           |      FROM hm$i, ht$i)""".stripMargin
      }.mkString(",\n")
      QueryDef.sql(
        "graph_hits",
        s"""WITH e AS (SELECT DISTINCT l_suppkey + 100000 AS src, o_custkey AS dst
           |      FROM lineitem JOIN orders ON o_orderkey = l_orderkey),
           |h0 AS (SELECT DISTINCT src AS node, CAST(1.0 AS DOUBLE) AS h FROM e),
           |$blocks
           |SELECT * FROM (
           |  (SELECT 'auth' AS role, node, a AS score FROM a$iters
           |   ORDER BY a DESC, node LIMIT 50)
           |  UNION ALL
           |  (SELECT 'hub' AS role, node, h AS score FROM h$iters
           |   ORDER BY h DESC, node LIMIT 50)
           |) ORDER BY role, score DESC, node""".stripMargin) {
        (s, d) =>
          val e = Tables.lineitem(s, d)
            .join(Tables.orders(s, d), col("l_orderkey") === col("o_orderkey"))
            .select((col("l_suppkey") + 100000L).as("src"), col("o_custkey").as("dst"))
          val scored = graft.operators.Graph.hits(e, "src", "dst", iters = iters)
          val topA = scored.filter(col("role") === "auth")
            .orderBy(desc("score"), asc("node")).limit(50)
          val topH = scored.filter(col("role") === "hub")
            .orderBy(desc("score"), asc("node")).limit(50)
          topA.unionByName(topH).orderBy(asc("role"), desc("score"), asc("node"))
      }
    },

    // ── Data-quality EXPECTATION suite (the Great-Expectations / dbt-test
    //    shape): declared checks → one violation-count row per check. All
    //    row-level checks on a table fold into ONE aggregate over ONE scan
    //    (k checks ≠ k passes); uniqueness rides the same pass; referential
    //    checks are one join each. The orderdate_epoch check FAILS on this
    //    corpus (orders run past 1998) on purpose — a validation report
    //    that can only say "pass" proves nothing about its counting. ──
    QueryDef.sql(
      "corpus_expectations",
      """WITH cust AS (SELECT CAST(count(*) AS BIGINT) AS n,
        |    CAST(sum(CASE WHEN c_custkey IS NOT NULL THEN 0 ELSE 1 END) AS BIGINT) AS v_nn,
        |    CAST(sum(CASE WHEN coalesce(c_acctbal BETWEEN -1000 AND 10000, false) THEN 0 ELSE 1 END) AS BIGINT) AS v_bal
        |  FROM customer),
        |ord AS (SELECT CAST(count(*) AS BIGINT) AS n,
        |    CAST(count(*) - count(DISTINCT o_orderkey) AS BIGINT) AS v_uq,
        |    CAST(sum(CASE WHEN coalesce(o_orderstatus IN ('F','O','P'), false) THEN 0 ELSE 1 END) AS BIGINT) AS v_st,
        |    CAST(sum(CASE WHEN coalesce(o_totalprice > 0, false) THEN 0 ELSE 1 END) AS BIGINT) AS v_tp,
        |    CAST(sum(CASE WHEN coalesce(year(o_orderdate) <= 1998, false) THEN 0 ELSE 1 END) AS BIGINT) AS v_yr
        |  FROM orders),
        |li AS (SELECT CAST(count(*) AS BIGINT) AS n,
        |    CAST(sum(CASE WHEN coalesce(l_quantity BETWEEN 1 AND 50, false) THEN 0 ELSE 1 END) AS BIGINT) AS v_q,
        |    CAST(sum(CASE WHEN coalesce(l_discount BETWEEN 0 AND 0.1, false) THEN 0 ELSE 1 END) AS BIGINT) AS v_d,
        |    CAST(sum(CASE WHEN l_shipdate IS NOT NULL THEN 0 ELSE 1 END) AS BIGINT) AS v_sd
        |  FROM lineitem),
        |fk1 AS (SELECT CAST(count(*) AS BIGINT) AS n,
        |    CAST(sum(CASE WHEN c.c_custkey IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS v
        |  FROM orders o LEFT JOIN (SELECT DISTINCT c_custkey FROM customer) c
        |    ON o.o_custkey = c.c_custkey),
        |fk2 AS (SELECT CAST(count(*) AS BIGINT) AS n,
        |    CAST(sum(CASE WHEN o.o_orderkey IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS v
        |  FROM lineitem l LEFT JOIN (SELECT DISTINCT o_orderkey FROM orders) o
        |    ON l.l_orderkey = o.o_orderkey)
        |SELECT * FROM (
        |  SELECT 'custkey_not_null' AS check_name, 'customer' AS tbl, n AS n_rows, v_nn AS n_violations, v_nn = 0 AS pass FROM cust
        |  UNION ALL SELECT 'acctbal_range', 'customer', n, v_bal, v_bal = 0 FROM cust
        |  UNION ALL SELECT 'orderkey_unique', 'orders', n, v_uq, v_uq = 0 FROM ord
        |  UNION ALL SELECT 'status_enum', 'orders', n, v_st, v_st = 0 FROM ord
        |  UNION ALL SELECT 'totalprice_positive', 'orders', n, v_tp, v_tp = 0 FROM ord
        |  UNION ALL SELECT 'orderdate_epoch', 'orders', n, v_yr, v_yr = 0 FROM ord
        |  UNION ALL SELECT 'quantity_range', 'lineitem', n, v_q, v_q = 0 FROM li
        |  UNION ALL SELECT 'discount_range', 'lineitem', n, v_d, v_d = 0 FROM li
        |  UNION ALL SELECT 'shipdate_not_null', 'lineitem', n, v_sd, v_sd = 0 FROM li
        |  UNION ALL SELECT 'custkey_fk', 'orders', n, v, v = 0 FROM fk1
        |  UNION ALL SELECT 'orderkey_fk', 'lineitem', n, v, v = 0 FROM fk2
        |) ORDER BY tbl, check_name""".stripMargin) {
      (s, d) =>
        import graft.operators.Validation
        import graft.operators.Validation.{Expect, Unique}
        val cust = Validation.tableReport(Tables.customer(s, d), "customer", Seq(
          Expect("custkey_not_null", col("c_custkey").isNotNull),
          Expect("acctbal_range", col("c_acctbal").between(-1000, 10000))))
        val ord = Validation.tableReport(Tables.orders(s, d), "orders", Seq(
          Unique("orderkey_unique", col("o_orderkey")),
          Expect("status_enum", col("o_orderstatus").isin("F", "O", "P")),
          Expect("totalprice_positive", col("o_totalprice") > 0),
          Expect("orderdate_epoch", year(col("o_orderdate")) <= 1998)))
        val li = Validation.tableReport(Tables.lineitem(s, d), "lineitem", Seq(
          Expect("quantity_range", col("l_quantity").between(1, 50)),
          Expect("discount_range", col("l_discount").between(0, 0.1)),
          Expect("shipdate_not_null", col("l_shipdate").isNotNull)))
        val fk1 = Validation.referentialReport(Tables.orders(s, d), "o_custkey",
          "orders", Tables.customer(s, d), "c_custkey", "custkey_fk")
        val fk2 = Validation.referentialReport(Tables.lineitem(s, d), "l_orderkey",
          "lineitem", Tables.orders(s, d), "o_orderkey", "orderkey_fk")
        Validation.suite(Seq(cust, ord, li, fk1, fk2))
          .orderBy("tbl", "check_name")
    },

    // ── Calendar gap-fill: the dense (hour × type) event-rate series —
    //    a dashboard can't distinguish "no data" from "zero events"
    //    without it, and rolling windows over a sparse series silently
    //    shrink their denominators. The spine is CALENDAR-sized
    //    (bounded by the time range, not the event count), so the
    //    cross join and left join stay trivial at any data scale. ──
    QueryDef.sql(
      "h9_event_gapfill",
      """WITH b AS (SELECT date_trunc('hour', min(ts)) AS lo, date_trunc('hour', max(ts)) AS hi FROM events),
        |spine AS (SELECT unnest(generate_series(lo, hi, INTERVAL 1 HOUR)) AS hour FROM b),
        |ty AS (SELECT DISTINCT event_type FROM events),
        |c AS (SELECT date_trunc('hour', ts) AS hour, event_type, CAST(count(*) AS BIGINT) AS n
        |      FROM events GROUP BY 1, 2)
        |SELECT s.hour, ty.event_type, coalesce(c.n, 0) AS n_events
        |FROM spine s CROSS JOIN ty
        |LEFT JOIN c ON c.hour = s.hour AND c.event_type = ty.event_type
        |ORDER BY s.hour, ty.event_type""".stripMargin) {
      (s, d) =>
        val ev = Tables.events(s, d)
        val hourly = ev.groupBy(date_trunc("hour", col("ts")).as("hour"), col("event_type"))
          .agg(count(lit(1)).as("n"))
        val spine = ev
          .agg(date_trunc("hour", min("ts")).as("lo"), date_trunc("hour", max("ts")).as("hi"))
          .select(explode(sequence(col("lo"), col("hi"), expr("interval 1 hour"))).as("hour"))
        val types = ev.select("event_type").distinct()
        spine.crossJoin(broadcast(types))
          .join(hourly, Seq("hour", "event_type"), "left_outer")
          .select(col("hour"), col("event_type"), coalesce(col("n"), lit(0L)).as("n_events"))
          .orderBy("hour", "event_type")
    },

    // ── 24-hour trailing mean over the GAP-FILLED series — rows-frame
    //    windows are only correct on a dense series (on a sparse one the
    //    23-row lookback spans an unbounded wall-clock range); the
    //    gap-fill above is what licenses it. Exact long sums, one
    //    closing division; partitions are (type × calendar), bounded by
    //    the time range at any corpus size. ──
    QueryDef.sql(
      "h10_rolling_rate",
      """WITH b AS (SELECT date_trunc('hour', min(ts)) AS lo, date_trunc('hour', max(ts)) AS hi FROM events),
        |spine AS (SELECT unnest(generate_series(lo, hi, INTERVAL 1 HOUR)) AS hour FROM b),
        |ty AS (SELECT DISTINCT event_type FROM events),
        |c AS (SELECT date_trunc('hour', ts) AS hour, event_type, CAST(count(*) AS BIGINT) AS n
        |      FROM events GROUP BY 1, 2),
        |dense AS (SELECT s.hour, ty.event_type, coalesce(c.n, 0) AS n_events
        |          FROM spine s CROSS JOIN ty
        |          LEFT JOIN c ON c.hour = s.hour AND c.event_type = ty.event_type)
        |SELECT hour, event_type, n_events,
        |  round(CAST(sum(n_events) OVER w AS DOUBLE)
        |        / count(*) OVER w, 4) AS rolling_mean_24h
        |FROM dense
        |WINDOW w AS (PARTITION BY event_type ORDER BY hour ROWS BETWEEN 23 PRECEDING AND CURRENT ROW)
        |ORDER BY hour, event_type""".stripMargin) {
      (s, d) =>
        val ev = Tables.events(s, d)
        val hourly = ev.groupBy(date_trunc("hour", col("ts")).as("hour"), col("event_type"))
          .agg(count(lit(1)).as("n"))
        val spine = ev
          .agg(date_trunc("hour", min("ts")).as("lo"), date_trunc("hour", max("ts")).as("hi"))
          .select(explode(sequence(col("lo"), col("hi"), expr("interval 1 hour"))).as("hour"))
        val types = ev.select("event_type").distinct()
        val dense = spine.crossJoin(broadcast(types))
          .join(hourly, Seq("hour", "event_type"), "left_outer")
          .select(col("hour"), col("event_type"), coalesce(col("n"), lit(0L)).as("n_events"))
        val w = Window.partitionBy("event_type").orderBy("hour").rowsBetween(-23, 0)
        dense.select(col("hour"), col("event_type"), col("n_events"),
          round(sum("n_events").over(w).cast("double") /
            count(lit(1)).over(w), 4).as("rolling_mean_24h"))
          .orderBy("hour", "event_type")
    },

    // ── Top-3 customers by revenue per nation THROUGH THE BOUNDED HEAP —
    //    the per-group top-k shape that replaces the rank window: a
    //    window sorts every customer of a nation in one task (the
    //    hot-gram failure mode, relational edition); the bounded-collect
    //    aggregate keeps 3 rows of state per nation and collapses
    //    map-side. Revenue quantized to e-4 units (exact long) so heap
    //    ordering and the oracle's ORDER BY agree bit-for-bit. ──
    QueryDef.sql(
      "e9_top_customers_per_nation",
      """WITH r AS (SELECT o_custkey, CAST(round(sum(CAST(o_totalprice AS DECIMAL(18,4))) * 10000) AS BIGINT) AS units
        |           FROM orders GROUP BY o_custkey),
        |j AS (SELECT n.n_name, c.c_custkey, r.units
        |      FROM r JOIN customer c ON c.c_custkey = r.o_custkey
        |             JOIN nation n ON n.n_nationkey = c.c_nationkey),
        |k AS (SELECT n_name, c_custkey, units,
        |        row_number() OVER (PARTITION BY n_name ORDER BY units DESC, c_custkey) AS rk
        |      FROM j)
        |SELECT n_name, CAST(rk AS INT) AS rank, c_custkey,
        |  round(units / 10000.0, 4) AS revenue
        |FROM k WHERE rk <= 3 ORDER BY n_name, rank""".stripMargin) {
      (s, d) =>
        val rev = Tables.orders(s, d)
          .groupBy("o_custkey")
          .agg(round(sum(col("o_totalprice").cast(DecimalType(18, 4))) * 10000)
            .cast("long").as("units"))
        val j = rev
          .join(Tables.customer(s, d), col("c_custkey") === col("o_custkey"))
          .join(broadcast(Tables.nation(s, d)), col("n_nationkey") === col("c_nationkey"))
          .select(col("n_name"), col("c_custkey"), col("units"))
        j.groupBy("n_name")
          .agg(graft.expressions.BoundedCollect
            .boundedSortedCollect(struct((-col("units")).as("negu"), col("c_custkey")), 3)
            .as("_top"))
          .select(col("n_name"), posexplode(col("_top")).as(Seq("_i", "_t")))
          .select(col("n_name"), (col("_i") + 1).cast("int").as("rank"),
            col("_t.c_custkey").as("c_custkey"),
            round((-col("_t.negu")).cast("double") / 10000.0, 4).as("revenue"))
          .orderBy("n_name", "rank")
    },

    // ── Ship-lag distribution per order priority: days from order to
    //    line shipment, quantiles via the domain-bounded histogram walk
    //    (lags are small integers — the exact-percentile shape that
    //    never buffers a group) over the orders⋈lineitem join. ──
    QueryDef.sql(
      "f9_ship_lag_percentiles",
      """SELECT o_orderpriority,
        |  CAST(count(*) AS BIGINT) AS n,
        |  round(CAST(quantile_cont(datediff('day', CAST(o_orderdate AS DATE), CAST(l_shipdate AS DATE)), 0.5) AS DOUBLE), 4) AS p50,
        |  round(CAST(quantile_cont(datediff('day', CAST(o_orderdate AS DATE), CAST(l_shipdate AS DATE)), 0.9) AS DOUBLE), 4) AS p90
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin) {
      (s, d) =>
        import graft.operators.Sketches
        val joined = Tables.lineitem(s, d)
          .join(Tables.orders(s, d), col("l_orderkey") === col("o_orderkey"))
        Sketches.histQuantiles(joined, "o_orderpriority",
            datediff(to_date(col("l_shipdate")), to_date(col("o_orderdate"))),
            Seq("p50" -> 0.5, "p90" -> 0.9))
          .orderBy("o_orderpriority")
    },

    // ── Hourly distinct users via grouped HLL — the canonical sketch
    //    deployment (unique visitors per window): per-hour register
    //    frames instead of a per-hour distinct-user exchange, missing
    //    buckets folded in arithmetically, truth riding along. Keys md5
    //    the DECIMAL string of user_id — both engines print integers
    //    identically. ──
    QueryDef.sql(
      "h11_hourly_distinct_users",
      """WITH h AS (SELECT DISTINCT date_trunc('hour', ts) AS g, CAST(user_id AS VARCHAR) AS w
        |           FROM events WHERE user_id IS NOT NULL),
        |rr AS (SELECT g, (strpos('0123456789abcdef', substr(md5(w), 1, 1)) - 1) * 16
        |            + (strpos('0123456789abcdef', substr(md5(w), 2, 1)) - 1) AS bucket,
        |              substr(md5(w), 3, 16) AS tail FROM h),
        |z AS (SELECT g, bucket, tail, length(regexp_extract(tail, '^(0*)', 1)) AS nz FROM rr),
        |dv AS (SELECT g, bucket, nz, strpos('0123456789abcdef', substr(tail, nz + 1, 1)) - 1 AS d FROM z),
        |rho AS (SELECT g, bucket, CASE WHEN nz >= 16 THEN 40 ELSE
        |          least(4 * nz + CASE WHEN d >= 8 THEN 0 WHEN d >= 4 THEN 1
        |                              WHEN d >= 2 THEN 2 ELSE 3 END + 1, 40) END AS rho
        |        FROM dv),
        |regs AS (SELECT g, bucket, CAST(max(rho) AS INTEGER) AS register FROM rho GROUP BY 1, 2),
        |agg AS (SELECT g, CAST(count(*) AS BIGINT) AS present,
        |          CAST(sum(CAST(1 AS BIGINT) << (40 - register)) AS BIGINT) AS sp,
        |          CAST(sum(CASE WHEN register = 0 THEN 1 ELSE 0 END) AS BIGINT) AS zp
        |        FROM regs GROUP BY g),
        |tr AS (SELECT date_trunc('hour', ts) AS g, CAST(count(DISTINCT user_id) AS BIGINT) AS n_true
        |       FROM events WHERE user_id IS NOT NULL GROUP BY 1)
        |SELECT a.g AS hour, tr.n_true,
        |  CAST(a.sp + (256 - a.present) * (CAST(1 AS BIGINT) << 40) AS BIGINT) AS s_sum,
        |  CAST(a.zp + (256 - a.present) AS BIGINT) AS n_zero,
        |  round(((0.7213 / (1.0 + 1.079 / 256.0)) * 256.0) * 256.0 * 1099511627776.0
        |    / CAST(a.sp + (256 - a.present) * (CAST(1 AS BIGINT) << 40) AS DOUBLE), 4) AS hll_estimate
        |FROM agg a JOIN tr ON tr.g = a.g
        |ORDER BY hour""".stripMargin) {
      (s, d) =>
        import graft.operators.Sketches
        val ev = Tables.events(s, d).where(col("user_id").isNotNull)
          .select(date_trunc("hour", col("ts")).as("g"),
            col("user_id").cast("string").as("w"))
        val est = Sketches.hllEstimateByGroup(Sketches.hllRegistersByGroup(ev, "g", "w"))
        val truth = ev.groupBy(col("g").as("_g2"))
          .agg(countDistinct("w").cast("long").as("n_true"))
        est.join(truth, col("g") === col("_g2"))
          .select(col("g").as("hour"), col("n_true"), col("s_sum"),
            col("n_zero"), col("hll_estimate"))
          .orderBy("hour")
    },

    // ── Z-order (Morton) layout key over orders: hash-dim custkey ×
    //    range-dim order date (the cluster-by-(hash(user), day) shape).
    //    Sorting by zval makes parquet row-group min/max tight on BOTH
    //    dimensions, so a 2-D range predicate prunes groups a one-column
    //    sort cannot (PLANS.md, "Z-order layout, measured", has the
    //    actual skip). Pure
    //    shift-and-or expression tree, bit-identical in DuckDB. ──
    QueryDef.sql(
      "e8_zorder_layout",
      """WITH b AS (SELECT o_orderkey,
        |    o_custkey % 256 AS xb,
        |    least(greatest((datediff('day', DATE '1995-01-01', CAST(o_orderdate AS DATE)) * 256) // 2405, 0), 255) AS yb
        |  FROM orders)
        |SELECT o_orderkey, xb, yb,
        |  CAST(list_sum([ ((xb >> i) & 1) * (CAST(1 AS BIGINT) << (2 * i))
        |                + ((yb >> i) & 1) * (CAST(1 AS BIGINT) << (2 * i + 1))
        |                  for i in range(0, 8) ]) AS BIGINT) AS zval
        |FROM b ORDER BY zval, o_orderkey LIMIT 200""".stripMargin) {
      (s, d) =>
        import graft.operators.Sharding
        val x = (col("o_custkey") % 256).cast("long")
        val y = Sharding.rangeBucket(
          datediff(to_date(col("o_orderdate")), lit("1995-01-01")), 0L, 2404L, 8)
        Tables.orders(s, d)
          .select(col("o_orderkey"), x.as("xb"), y.as("yb"),
            Sharding.zorderValue(x, y, 8).as("zval"))
          .orderBy("zval", "o_orderkey").limit(200)
    },
  )
}
