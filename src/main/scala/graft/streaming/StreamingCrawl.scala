package graft.streaming

import graft.operators.{Robots, Sharding, TextOps}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

/** Continuous crawl admission — the streaming face of the web-corpus
  * acquisition stages: per micro-batch of fetched pages `(id, url,
  * blob)`,
  *
  *   (1) CANONICALIZE the URL ([[TextOps.urlCanonicalize]]) — the
  *       frontier identity; non-URLs are `invalid`,
  *   (2) GATE through robots ([[Robots.evaluate]] on the canonical
  *       host + path against the static rules frame) — disallowed
  *       pages are `robots_blocked`,
  *   (3) DEDUP on the canonical URL within the batch (smallest arrival
  *       id wins) and across batches against the PERSISTENT seen-set
  *       ledger — a re-fetch whose canonical form any earlier batch
  *       admitted is `duplicate`, however differently its raw URL was
  *       spelled (ports, params, fragments),
  *   (4) ADMIT the rest: canonical keys append to the ledger and the
  *       pages pack into per-batch WARC response shards — byte-
  *       identical on replay, because [[graft.codec.WarcCodec]] bytes
  *       are a pure function of the members.
  *
  * State shape at 100 TB/day: identical to [[StreamingMedia]] — the
  * streaming state store stays EMPTY; frontier memory is one durable
  * `seen/` parquet table under `ledgerDir`, batch-partitioned and
  * written with dynamic partition overwrite, so a replayed micro-batch
  * overwrites its own partition (idempotent) and the cross-batch check
  * reads only `batch < batchId`, never a half-written own attempt.
  * Per-batch work is per-row expressions (canonicalize, host/path
  * split) plus the rules join and one key anti-join against the
  * ledger — URL-sized rows; page bytes ride only the admitted-shard
  * shuffle. */
object StreamingCrawl {

  /** One micro-batch step: returns one OUTCOME row per arrival —
    * `(id, url, canonical, domain, outcome, delay_ms, fetch_at_ms)`
    * with outcome ∈ `invalid | not_modified | redirect | robots_blocked
    * | duplicate | admitted`
    * — appends admitted canonicals to `ledgerDir/seen` under
    * `batch=<batchId>`, and (with `shardDir` set) packs admitted pages
    * into WARC shards under `shardDir/warcs`; with `statusCol` also
    * set, 304 confirmations pack as payload-less REVISIT records
    * (server-not-modified profile, `WARC-Refers-To` resolved through
    * the seen ledger) under `shardDir/revisits` — the auditable
    * "verified current" trail an incremental archive keeps. Usable directly on
    * static frames (spec-pinned) or via [[attach]]. The returned frame
    * is localCheckpoint'ed; the caller unpersists it when the batch is
    * done.
    *
    * REDIRECTS (with `statusCol` set): rows whose HTTP status is 3xx
    * — except 304 Not Modified, which is the `not_modified` outcome
    * (the conditional-fetch confirmation: no content, no Location, no
    * frontier feed, and NOT `duplicate` — a healthy revisit is not
    * waste) — are the `redirect` outcome — a redirect response is not content,
    * so it never reaches robots, dedup, the seen ledger, or the WARC
    * shards; its `Location` target (from `locationCol`, when given) —
    * RESOLVED against the request URL when relative
    * ([[TextOps.urlResolve]], the RFC 9110 reality) — surfaces
    * CANONICALIZED in the `redirect_to` column, which
    * [[redirectFrontier]] turns into the next batch's frontier feed
    * (the batch-side [[graft.operators.Redirects.resolve]] is the
    * offline analogue). Only genuinely unparseable targets
    * canonicalize to null and still carry the `redirect` outcome.
    * Re-fetching a redirect source never reads `duplicate` — the
    * source URL was never admitted.
    *
    * POLITENESS (with `delays` set — the [[Robots.selectDelay]] output
    * `(domain, delay_ms)`): admitted fetches get a per-host dispatch
    * time on a logical millisecond clock. Within the batch, a host's
    * admissions take slots in arrival-id order at its crawl-delay
    * spacing; ACROSS batches a durable per-host horizon ledger
    * (`hosts/`, delta rows summed through [[BatchLedger]]) carries how
    * much schedule each host has already reserved, so a host fetched
    * heavily in batch N does not restart at zero in batch N+1 —
    * previously the batch query `web_fetch_schedule` had to pace
    * fetches out-of-band. Deterministic (no wall clock) and replay-
    * idempotent: the horizon delta is the batch's own partition, and
    * reads exclude `batch ≥ batchId`. Without `delays`, both columns
    * are null and no hosts ledger is touched. */
  def processBatch(batch: DataFrame, batchId: Long, idCol: String, urlCol: String,
                   blobCol: String, rules: DataFrame, agent: String,
                   ledgerDir: String, shardDir: Option[String] = None,
                   nShards: Int = 4, delays: Option[DataFrame] = None,
                   defaultDelayMs: Long = 1000L,
                   statusCol: Option[String] = None,
                   locationCol: Option[String] = None,
                   validatorCols: Option[(String, String)] = None,
                   seqCol: Option[String] = None,
                   directivesCol: Option[String] = None): DataFrame = {
    val spark = batch.sparkSession
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    import spark.implicits._
    val hostPath = "^[a-z][a-z0-9+.-]*://([^/?#]*)([^?#]*).*$"
    val b = batch
      // percent-normalize BEFORE canonicalizing: "%41" and "A"
      // spellings of one URL must share a frontier identity
      .withColumn("canonical",
        TextOps.urlCanonicalize(TextOps.urlPctNormalize(col(urlCol))))
      .withColumn("domain", regexp_extract(col("canonical"), hostPath, 1))
      .withColumn("path", regexp_extract(col("canonical"), hostPath, 2))
      .localCheckpoint()
    val nullMs = lit(null).cast("long")
    val nullS = lit(null).cast("string")
    def outcome(df: DataFrame, o: String) =
      df.select(col(idCol), col(urlCol), col("canonical"), col("domain"),
        lit(o).as("outcome"), nullMs.as("delay_ms"), nullMs.as("fetch_at_ms"),
        nullS.as("redirect_to"))
    val invalid = outcome(b.filter(col("canonical").isNull), "invalid")
    val valid0 = b.filter(col("canonical").isNotNull)
    // 304 Not Modified is 3xx but NOT a redirect: it is the
    // conditional-fetch confirmation that the ledger's stored copy is
    // current — no content, no Location, no frontier feed, and no
    // dedup/admission either (the URL already admitted when its
    // content first arrived; re-reading `duplicate` would miscount a
    // healthy revisit as waste)
    val isNotModified = statusCol
      .map(sc => col(sc).isNotNull && col(sc) === 304).getOrElse(lit(false))
    val notModified = outcome(valid0.filter(isNotModified), "not_modified")
    // Location-bearing 3xx responses: not content — outcome rows
    // carrying the canonical target for the frontier loop, excluded
    // from everything below
    val isRedirect = statusCol
      .map(sc => col(sc).isNotNull && col(sc) >= 300 && col(sc) <= 399 &&
        col(sc) =!= 304)
      .getOrElse(lit(false))
    // 301/308 are PERMANENT (RFC 9110 §15.4.2/.9): the resource moved
    // and future references should use the target — the outcome class
    // splits and the alias ledger below records the mapping. 302/303/
    // 307 (and bare 300) keep the source live: same frontier feed,
    // no alias.
    val isPermanent = statusCol
      .map(sc => col(sc) === 301 || col(sc) === 308).getOrElse(lit(false))
    val redirected = valid0.filter(isRedirect)
      .select(col(idCol), col(urlCol), col("canonical"), col("domain"),
        when(isPermanent, "redirect_permanent").otherwise("redirect")
          .as("outcome"),
        nullMs.as("delay_ms"),
        nullMs.as("fetch_at_ms"),
        // Location is legally RELATIVE (RFC 9110) and often is in
        // practice: resolve it against the request's canonical URL
        // before canonicalizing, so only genuinely unparseable targets
        // null out
        locationCol.map(lc => TextOps.urlCanonicalize(TextOps.urlPctNormalize(
            TextOps.urlResolve(col("canonical"), col(lc)))))
          .getOrElse(nullS).as("redirect_to"))
    // ALIAS ledger: permanent redirects record (alias → target) so
    // future enqueues of the old URL rewrite to the new one BEFORE the
    // seen drain ([[applyAliases]], wired into both frontier channels)
    // — the crawl stops re-fetching a moved URL just to re-learn its
    // 301. Within a batch the smallest arrival id wins (the winners
    // doctrine); across batches the NEWEST declaration wins, so rows
    // carry `as_of` (= batchId) as a data column and the fold is
    // max_by(target, as_of) — the same algebra [[compact]] absorbs
    // with, so compaction never changes a rewrite. Self-aliases
    // (canonical target = source, a redirect-to-self misconfiguration)
    // are dropped: they could only rewrite a URL to itself.
    if (statusCol.isDefined && locationCol.isDefined) {
      redirected
        .filter(col("outcome") === "redirect_permanent" &&
          col("redirect_to").isNotNull &&
          col("redirect_to") =!= col("canonical"))
        .groupBy(col("canonical").as("alias"))
        .agg(min_by(col("redirect_to"), col(idCol)).as("target"))
        .withColumn("as_of", lit(batchId))
        .withColumn("batch", lit(batchId))
        .write.mode("overwrite").partitionBy("batch")
        .parquet(s"$ledgerDir/aliases")
    }
    val valid = valid0.filter(!isRedirect && !isNotModified)
    // robots verdicts on a slim (id, domain, path) frame; join back by id
    val verdicts = Robots.evaluate(
      valid.select(col(idCol), col("domain"), col("path")), rules, agent)
      .select(col(idCol), col("allowed"))
    val judged = valid.join(verdicts, Seq(idCol)).localCheckpoint()
    val blocked = outcome(judged.filter(!col("allowed")), "robots_blocked")
    val allowed0 = judged.filter(col("allowed"))
    // PAGE-level noindex (with `directivesCol` — a struct(noindex,
    // nofollow) the caller computed via [[graft.operators.TextOps
    // .pageRobots]] from the page's meta tags + X-Robots-Tag header):
    // the page was legally FETCHED (robots.txt allowed it) but asks to
    // stay out of the corpus — an outcome row class, never a silent
    // drop. Like robots_blocked it never enters the seen ledger, the
    // WARC shards, or the observations loop (a page that opts out of
    // the index opts out of the revisit economy with it; a later
    // re-enqueue re-evaluates the directive, so a lifted noindex
    // admits then). `nofollow` is the FRONTIER side's business —
    // [[attach]] keeps nofollow pages' links out of [[linkFrontier]]
    // while the page itself still admits here.
    val noindexIs = directivesCol
      .map(dc => coalesce(col(dc).getField("noindex"), lit(false)))
      .getOrElse(lit(false))
    val noindexed = outcome(allowed0.filter(noindexIs), "noindexed")
    val allowed = allowed0.filter(!noindexIs)
    // within-batch: smallest arrival id per canonical wins. winKeys is
    // one row per distinct canonical in the batch — usually tiny, but a
    // backfill batch can be arbitrarily large, so every batch-side
    // broadcast below takes ONE shared admission gate. The gate is
    // BYTE-aware ([[BatchLedger.broadcastable]]): the old 2M-row cap
    // was calibrated on 8-byte id frames, but the ledger discipline
    // broadcasts canonical-URL strings — winKeys carries exactly the
    // (canonical, id) columns that ride those broadcasts, so its byte
    // measure upper-bounds all of them (hits ⊆ winners ⊆ winKeys,
    // domains ⊆ canonicals).
    val winKeys = allowed.groupBy("canonical")
      .agg(min(col(idCol)).as(idCol)).localCheckpoint()
    val batchSmall = BatchLedger.broadcastable(winKeys, Seq("canonical", idCol))
    val winnerIds = winKeys.select(col(idCol))
    val winGate = if (batchSmall) broadcast(winnerIds) else winnerIds
    val winners = allowed.join(winGate, Seq(idCol), "left_semi")
    val batchDups = allowed.join(winGate, Seq(idCol), "left_anti")
    // cross-batch: the stored seen-set (compacted base ∪ live batch
    // partitions) rejects canonicals any earlier batch admitted. Ledger
    // canonicals are UNIQUE by construction (a key admits once), so no
    // distinct — and the CORPUS-sized ledger must never shuffle per
    // batch: [[BatchLedger.gatedAntiSemi]] is that discipline (batch
    // keys broadcast INTO the ledger scan, hit set broadcasts back into
    // the anti/semi pair; big-big SMJ floor past the gate).
    val priorFull = BatchLedger.read(spark, ledgerDir, "seen", SeenPointerKey,
      belowBatch = Some(batchId),
      empty = Seq.empty[(String, Long)].toDF("canonical", idCol))
    val prior = priorFull.select("canonical")
    val (admitted0, crossDups, ledgerCp) = BatchLedger.gatedAntiSemi(
      winners, prior, winners.select("canonical"), Seq("canonical"), batchSmall)
    val admitted = admitted0.localCheckpoint()
    // append the admitted keys (idempotent per batch: own-partition overwrite)
    admitted.select(col("canonical"), col(idCol)).withColumn("batch", lit(batchId))
      .write.mode("overwrite").partitionBy("batch").parquet(s"$ledgerDir/seen")
    // … and (with `validatorCols` = (etagCol, lastModifiedCol)) capture
    // the response validators at admission into the `validators/`
    // ledger — the stored half of conditional fetching:
    // [[graft.operators.Recrawl.conditionalPlan]] joins the revisit
    // schedule against these to emit If-None-Match/If-Modified-Since
    // request headers, which is what makes a 304 revisit possible at
    // all. Keys are canonicals (admit once ⇒ disjoint across batches,
    // identity fold at [[compact]]); rows with NEITHER validator are
    // not stored — they could never earn a 304. Same replay shape as
    // every ledger here: the batch's own partition, overwritten.
    validatorCols.foreach { case (ec, lc) =>
      admitted.select(col("canonical"),
          col(ec).cast("string").as("etag"),
          col(lc).cast("string").as("last_modified"))
        .filter(col("etag").isNotNull || col("last_modified").isNotNull)
        .withColumn("batch", lit(batchId))
        .write.mode("overwrite").partitionBy("batch")
        .parquet(s"$ledgerDir/validators")
    }
    // admitted pages land as WARC response shards, byte-identical on replay
    shardDir.foreach { sd =>
      Sharding.packWarcShards(
        admitted.withColumn("shard", pmod(col(idCol), lit(nShards)).cast("int")),
        "shard", idCol, "canonical", blobCol)
        .withColumn("batch", lit(batchId))
        .write.mode("overwrite").partitionBy("batch").parquet(s"$sd/warcs")
      // … and 304 confirmations land as payload-less REVISIT records
      // (ISO 28500 server-not-modified profile) under `revisits/`: the
      // archive keeps an auditable record that the stored copy was
      // verified current — WARC-Refers-To resolves through the seen
      // ledger to the record that holds the bytes. Same ledger
      // discipline as the dedup ([[BatchLedger.gatedProbe]]): batch
      // keys broadcast INTO the ledger scan, never a per-batch ledger
      // shuffle (a 304-heavy backfill batch takes the SMJ floor). The
      // referent set is the ledger BEFORE this batch PLUS this batch's
      // own admissions (written just above) — a 304 whose canonical
      // was admitted earlier in the SAME batch resolves to that
      // in-batch record. Only a 304 for a URL NO batch ever admitted
      // has nothing to refer to and is skipped — the outcome row
      // still reports it.
      if (statusCol.isDefined) {
        val nmKeys = valid0.filter(isNotModified)
          .select(col(idCol), col("canonical")).localCheckpoint()
        val nmSmall = BatchLedger.broadcastable(nmKeys, Seq("canonical", idCol))
        val origs0 = priorFull.select(col("canonical"), col(idCol).as("_orig"))
          .unionByName(admitted.select(col("canonical"), col(idCol).as("_orig")))
        val (origGate, origCps) = BatchLedger.gatedProbe(origs0,
          nmKeys.select("canonical").distinct(), Seq("canonical"), nmSmall)
        val rev = nmKeys.join(origGate, Seq("canonical"))
          .select(col(idCol).cast("long").as("_id"), col("canonical"),
            col("_orig").cast("long"),
            pmod(col(idCol), lit(nShards)).cast("int").as("shard"))
        rev.as[(Long, String, Long, Int)]
          .groupByKey(_._4)
          .mapGroups { (shard, it) =>
            val recs = it.toSeq.sortBy(_._1).map { case (id, uri, orig, _) =>
              graft.codec.WarcRecord("revisit", f"urn:graft:$id%012d",
                Option(uri), "text/html", Array.emptyByteArray, Seq(
                  "WARC-Refers-To" -> f"<urn:graft:$orig%012d>",
                  "WARC-Profile" ->
                    "http://netpreserve.org/warc/1.0/revisit/server-not-modified"))
            }
            val warc = graft.codec.WarcCodec.write(recs)
            (shard, warc, recs.size.toLong)
          }
          .toDF("shard", "warc", "n_records")
          .withColumn("batch", lit(batchId))
          .write.mode("overwrite").partitionBy("batch").parquet(s"$sd/revisits")
        (Seq(nmKeys) ++ origCps).foreach(_.unpersist(blocking = false))
      }
    }
    // politeness: per-host dispatch times on the logical clock
    val (admittedOut, schedCp) = delays match {
      case None => (outcome(admitted, "admitted"), Seq.empty[DataFrame])
      case Some(dl) =>
        import org.apache.spark.sql.expressions.Window
        val dlSel = dl.select(col("domain").as("_dd"), col("delay_ms").as("_delay"))
        // same ledger discipline as the seen-set: the horizon ledger is
        // host-corpus-sized, so semi-join it down to THIS batch's
        // domains map-side (batch domains broadcast) and sum only the
        // small hit set — never a per-batch groupBy over every host
        // ever crawled. Past the gate, the full-fold shape is the floor
        // (deliberately NOT checkpointed there: materializing a
        // corpus-sized fold per batch is the waste the gate exists for).
        val priorDeltas = BatchLedger.read(spark, ledgerDir, "hosts", HostsPointerKey,
          belowBatch = Some(batchId),
          empty = Seq.empty[(String, Long)].toDF("domain", "reserved_ms"))
        val (priorGate, hostCps) = BatchLedger.gatedProbe(priorDeltas,
          admitted.select("domain").distinct(), Seq("domain"), batchSmall,
          fold = _.groupBy("domain").agg(sum("reserved_ms").as("_base")))
        val sched = admitted
          .join(dlSel, col("domain") === col("_dd"), "left_outer")
          .withColumn("_delay", coalesce(col("_delay"), lit(defaultDelayMs)))
          .join(priorGate, Seq("domain"), "left_outer")
          .withColumn("_base", coalesce(col("_base"), lit(0L)))
          .withColumn("_slot",
            (row_number().over(Window.partitionBy("domain").orderBy(col(idCol))) - 1)
              .cast("long"))
          .localCheckpoint()
        // advance each host's horizon by this batch's reservation —
        // the batch's OWN delta partition, so replay overwrites itself
        sched.groupBy("domain")
          .agg((count(lit(1)) * first(col("_delay"))).cast("long").as("reserved_ms"))
          .withColumn("batch", lit(batchId))
          .write.mode("overwrite").partitionBy("batch").parquet(s"$ledgerDir/hosts")
        (sched.select(col(idCol), col(urlCol), col("canonical"), col("domain"),
          lit("admitted").as("outcome"), col("_delay").as("delay_ms"),
          (col("_base") + col("_slot") * col("_delay")).as("fetch_at_ms"),
          nullS.as("redirect_to")),
          Seq(sched) ++ hostCps)
    }
    val out = invalid
      .unionByName(notModified)
      .unionByName(redirected)
      .unionByName(blocked)
      .unionByName(noindexed)
      .unionByName(outcome(batchDups.unionByName(crossDups), "duplicate"))
      .unionByName(admittedOut)
      .localCheckpoint() // eager: safe to drop the upstream checkpoints below
    // … and (with `seqCol` — the fetcher's logical fetch time) each
    // FETCH outcome records one observation delta into the
    // `observations/` ledger: (canonical, n_obs=count, n_changed, max
    // seq), pre-aggregated per canonical within the batch so ledger
    // rows are O(distinct urls), never O(fetches) — the associative
    // shape [[requestPlan]] sum-folds into the revisit schedule at
    // 100 TB (raw fetch HISTORY is unboundable; these counts are
    // exactly what the change-rate smoothing needs). `admitted` means
    // the fetch observed NEW content; `not_modified` and `duplicate`
    // are revisits that observed none. Non-fetch outcomes (invalid,
    // redirect, robots_blocked) observe nothing. Same replay shape as
    // every ledger: the batch's own partition, overwritten.
    seqCol.foreach { sq =>
      b.select(col(idCol), col("canonical"), col(sq).cast("long").as("_seq"))
        .join(out.select(col(idCol), col("outcome")), Seq(idCol))
        .filter(col("canonical").isNotNull &&
          col("outcome").isin("admitted", "not_modified", "duplicate"))
        .groupBy("canonical")
        .agg(count(lit(1)).cast("long").as("n_obs"),
          sum(when(col("outcome") === "admitted", 1L).otherwise(0L))
            .cast("long").as("n_changed"),
          max(col("_seq")).cast("long").as("last_fetch"))
        .withColumn("batch", lit(batchId))
        .write.mode("overwrite").partitionBy("batch")
        .parquet(s"$ledgerDir/observations")
    }
    (Seq(b, judged, winKeys, admitted) ++ ledgerCp ++ schedCp)
      .foreach(_.unpersist(blocking = false))
    out
  }

  private[streaming] val SeenPointerKey = "crawl.seen.base"
  private[streaming] val HostsPointerKey = "crawl.hosts.base"
  private[streaming] val HopsPointerKey = "crawl.hops.base"
  private[streaming] val ValidatorsPointerKey = "crawl.validators.base"
  private[streaming] val ObsPointerKey = "crawl.observations.base"
  private[streaming] val AliasesPointerKey = "crawl.aliases.base"

  /** Rewrite a frontier url column through the 301-alias ledger: a URL
    * some earlier batch saw move permanently resolves DIRECTLY to its
    * target before the seen drain — the enqueue either collapses into
    * an already-admitted target (drained) or fetches the new location
    * first try, instead of re-fetching the alias to re-learn its 301.
    * ONE rewrite step per batch, deliberately not a transitive
    * closure: a chain A→B→C laid down across batches resolves A→B
    * here, and B (if itself aliased) was already being rewritten when
    * it was enqueued — per-batch single-step is the bounded, replay-
    * stable shape, and multi-hop chains self-heal over successive
    * batches at worst. Newest declaration wins (max_by over `as_of`,
    * the same algebra the ledger compacts with). Ledger discipline as
    * everywhere: the batch's urls broadcast INTO the alias scan under
    * `gate`; past it the join is the SMJ floor. */
  private def applyAliases(urls: DataFrame, spark: SparkSession,
                           ledgerDir: String, batchId: Long,
                           gate: Boolean): (DataFrame, Seq[DataFrame]) = {
    import spark.implicits._
    // short-circuit: a crawl that never saw a 301 has no alias ledger,
    // and the probe below costs two small Spark jobs per frontier call
    // — an existence check (real batch= partitions or a committed
    // pointer, the compact() discrimination) keeps the common
    // no-permanent-redirects batch at zero overhead
    val dir = new org.apache.hadoop.fs.Path(s"$ledgerDir/aliases")
    val fs = dir.getFileSystem(spark.sessionState.newHadoopConf())
    val hasAliases = (fs.exists(dir) &&
      fs.listStatus(dir).exists(_.getPath.getName.startsWith("batch="))) ||
      BatchLedger.pointer(ledgerDir, AliasesPointerKey).isDefined
    if (!hasAliases) return (urls, Seq.empty)
    val aliases = BatchLedger.read(spark, ledgerDir, "aliases", AliasesPointerKey,
      belowBatch = Some(batchId + 1),
      empty = Seq.empty[(String, String, Long)].toDF("alias", "target", "as_of"))
      .select(col("alias").as("url"), col("target"), col("as_of"))
    val (gateDf, cps) = BatchLedger.gatedProbe(aliases,
      urls.select("url").distinct(), Seq("url"), gate,
      fold = _.groupBy("url").agg(
        max_by(col("target"), col("as_of")).as("_tgt")))
    (urls.join(gateDf, Seq("url"), "left_outer")
      .withColumn("url", coalesce(col("_tgt"), col("url")))
      .drop("_tgt"), cps)
  }

  /** The LEDGER-BACKED request planner — the whole conditional-fetch
    * loop from durable state alone: fold the observations ledger's
    * per-URL deltas (sum counts, max last-fetch — associative, so
    * compaction and this read share one algebra), run the
    * [[graft.operators.Recrawl.scheduleFromAggregates]] change-rate
    * smoothing, cut the due slice at `nowMs`, and join the stored
    * validators into If-None-Match/If-Modified-Since request headers.
    * One corpus-sized fold per PLANNING CYCLE (not per batch — batches
    * only append deltas); compaction keeps the fold's input at one
    * base plus the tail partitions. */
  def requestPlan(spark: SparkSession, ledgerDir: String, nowMs: Long,
                  baseMs: Long = 1000L, minMs: Long = 500L,
                  maxMs: Long = 86400000L,
                  belowBatch: Option[Long] = None): DataFrame = {
    import spark.implicits._
    val obs = BatchLedger.read(spark, ledgerDir, "observations", ObsPointerKey,
      belowBatch,
      empty = Seq.empty[(String, Long, Long, Long)]
        .toDF("canonical", "n_obs", "n_changed", "last_fetch"))
      .groupBy(col("canonical").as("url"))
      .agg(sum("n_obs").cast("long").as("n_obs"),
        sum("n_changed").cast("long").as("n_changed"),
        max("last_fetch").cast("long").as("last_fetch"))
    graft.operators.Recrawl.conditionalPlan(
      graft.operators.Recrawl.scheduleFromAggregates(obs, baseMs, minMs, maxMs),
      validators(spark, ledgerDir, belowBatch), nowMs)
  }

  /** Read the stored validator ledger as `(url, etag, last_modified)`
    * — the frame [[graft.operators.Recrawl.conditionalPlan]] takes.
    * `belowBatch` follows the usual replay contract (a replayed batch
    * must not see its own half-written attempt). */
  def validators(spark: SparkSession, ledgerDir: String,
                 belowBatch: Option[Long] = None): DataFrame = {
    import spark.implicits._
    BatchLedger.read(spark, ledgerDir, "validators", ValidatorsPointerKey,
      belowBatch,
      empty = Seq.empty[(String, String, String)]
        .toDF("canonical", "etag", "last_modified"))
      .select(col("canonical").as("url"), col("etag"), col("last_modified"))
  }

  /** Close the redirect loop: turn a processed batch's `redirect`
    * outcome rows into the NEXT batch's frontier feed — `(url, hop)`
    * rows, already canonical — the way `web_frontier_seed` closes the
    * loop for sitemap discoveries. Targets are deduped within the
    * batch, anti-joined against the seen ledger INCLUDING this batch's
    * own admissions (a target some batch already fetched never
    * re-enters), and hop-capped: `hops` carries the chain depth that
    * produced each SOURCE url (absent source ⇒ depth 0, a directly-
    * seeded fetch), targets inherit depth+1, and depth > `maxHops`
    * drops the tail — the [[graft.operators.Redirects.resolve]]
    * maxHops doctrine, unrolled across micro-batches because a chain
    * reveals one hop per fetch round. Two batches can both discover a
    * not-yet-fetched target and double-enqueue it — self-healing, the
    * second fetch reads `duplicate` — so no frontier ledger is needed
    * beyond the seen set. With `rules` set (the [[Robots.rulesFrame]]
    * shape + the crawler's `agent`), targets the robots rules disallow
    * are filtered BEFORE they enter the frontier — the polite-crawler
    * contract: robots gating at admission catches fetched-but-
    * forbidden pages after the fact, the frontier filter avoids
    * fetching them at all. */
  def redirectFrontier(outcomes: DataFrame, ledgerDir: String, batchId: Long,
                       hops: Option[DataFrame] = None,
                       maxHops: Int = 5,
                       rules: Option[DataFrame] = None,
                       agent: String = "*"): DataFrame = {
    val spark = outcomes.sparkSession
    import spark.implicits._
    val targets0 = outcomes
      .filter(col("outcome").isin("redirect", "redirect_permanent") &&
        col("redirect_to").isNotNull)
      .select(col("canonical").as("src"), col("redirect_to"))
      .localCheckpoint()
    // byte-aware gate over the URL strings the broadcasts below carry
    val batchSmall = BatchLedger.broadcastable(targets0, Seq("src", "redirect_to"))
    val cps = scala.collection.mutable.ArrayBuffer[DataFrame](targets0)
    val withHop = hops match {
      // the hop state is DISCOVERY-corpus-sized over a crawl's lifetime
      // (every target ever enqueued), so the batch's source urls
      // broadcast INTO its scan (left_semi builds right ⇒ zero hop-state
      // shuffle) and only the batch-sized hit set min-folds and joins
      // back ([[BatchLedger.gatedProbe]]). Works unchanged for small
      // static hop frames (specs).
      case Some(h) =>
        val hSlim = h.select(col("url").as("src"), col("hop").as("_h"))
        val (gate, hopCps) = BatchLedger.gatedProbe(hSlim,
          targets0.select("src").distinct(), Seq("src"), batchSmall,
          fold = _.groupBy("src").agg(min("_h").as("_h")))
        cps ++= hopCps
        targets0.join(gate, Seq("src"), "left_outer")
          .withColumn("hop", coalesce(col("_h"), lit(0)) + 1)
      case None => targets0.withColumn("hop", lit(1))
    }
    val capped0 = withHop.filter(col("hop") <= maxHops)
      .groupBy(col("redirect_to").as("url")).agg(min("hop").cast("int").as("hop"))
    // rewrite enqueues through the 301-alias ledger, then re-collapse
    // (two targets may rewrite to one); an alias that is itself the
    // target of a fresh 301 this batch resolves one step here
    val (aliased, aliasCps) = applyAliases(capped0, spark, ledgerDir,
      batchId, batchSmall)
    cps ++= aliasCps
    val capped = aliased.groupBy("url").agg(min("hop").cast("int").as("hop"))
    val polite = rules match {
      case None => capped
      case Some(r) =>
        val hostPath = "^[a-z][a-z0-9+.-]*://([^/?#]*)([^?#]*).*$"
        val slim = capped.select(col("url"), col("hop"),
          regexp_extract(col("url"), hostPath, 1).as("domain"),
          regexp_extract(col("url"), hostPath, 2).as("path"))
        Robots.evaluate(slim, r, agent)
          .filter(col("allowed")).select("url", "hop")
    }
    // the seen ledger read takes the processBatch shape: batch keys
    // broadcast into the ledger scan, small hit set broadcasts back —
    // ledger canonicals are unique by construction, so no distinct
    val seen = BatchLedger.read(spark, ledgerDir, "seen", SeenPointerKey,
      belowBatch = Some(batchId + 1),
      empty = Seq.empty[(String, Long)].toDF("canonical", "id"))
      .select(col("canonical").as("url"))
    // materialize the result, then drop this batch's checkpoint blocks
    // (the caller unpersists the RETURNED frame when done)
    val pol = if (batchSmall) { val p = polite.localCheckpoint(); cps += p; p }
              else polite
    val (fresh, _, seenCps) = BatchLedger.gatedAntiSemi(
      pol, seen, pol.select("url"), Seq("url"), batchSmall)
    cps ++= seenCps
    val out = fresh.localCheckpoint()
    cps.foreach(_.unpersist(blocking = false))
    out
  }

  /** Anchor-link RESOLUTION — the pure per-row core of the discovery
    * channel, shared by [[linkFrontier]] and the batch fixture queries:
    * every href/src target of every page ([[TextOps.htmlLinks]]),
    * minus the non-fetchable schemes (javascript/mailto/data/tel) and
    * bare fragments, RESOLVED against the page's canonical URL
    * (RFC 3986 — most real links are relative), percent-normalized and
    * canonicalized into frontier identity. One explode per page — link
    * fan-out is real data growth, not an implementation artifact — and
    * everything after it is per-row expressions riding the scan.
    * Returns `(src, url)` pairs: unparseable targets and self-links
    * drop. */
  def resolveLinks(pages: DataFrame, urlCol: String, htmlCol: String): DataFrame =
    pages
      .select(col(urlCol).as("src"),
        explode(TextOps.htmlLinks(col(htmlCol))).as("raw"))
      .filter(length(col("raw")) > 0 &&
        !col("raw").rlike("(?i)^(javascript|mailto|data|tel):") &&
        !col("raw").startsWith("#"))
      // STAGED, not composed: urlCanonicalize references its argument
      // ~6 times, so a single composed tree would inline (and evaluate)
      // the whole resolve chain at every reference — CollapseProject
      // deliberately leaves non-cheap multiply-referenced aliases in
      // their own projection, so each stage runs once per row
      .select(col("src"), TextOps.urlResolve(col("src"), col("raw")).as("_res"))
      .select(col("src"), TextOps.urlPctNormalize(col("_res")).as("_pct"))
      .select(col("src"), TextOps.urlCanonicalize(col("_pct")).as("url"))
      .filter(col("url").isNotNull && col("url") =!= col("src"))

  /** [[resolveLinks]] + dedup + per-host BUDGET — the static face of
    * link discovery (spec/oracle-pinned; [[linkFrontier]] is the
    * ledger-aware streaming face): one row per distinct target with
    * its host and how many pages discovered it, capped at
    * `perHostBudget` targets per host in md5 order via the bounded
    * heap ([[Sharding.samplePerGroupRows]] — O(budget) state per
    * group, map-side partials, no window sort over a hot host). A
    * crawl that follows every link of a link farm without a per-host
    * budget IS the link farm's amplifier — the cap is what makes the
    * channel safe to run at 100 TB. */
  def discoverLinks(pages: DataFrame, urlCol: String, htmlCol: String,
                    perHostBudget: Int = 100): DataFrame = {
    val hostPat = "^[a-z][a-z0-9+.-]*://([^/?#]*).*$"
    val uniq = resolveLinks(pages, urlCol, htmlCol)
      .groupBy("url").agg(count(lit(1)).as("n_sources"))
      .withColumn("domain", regexp_extract(col("url"), hostPat, 1))
    Sharding.samplePerGroupRows(uniq, "domain", "url", perHostBudget, Seq("n_sources"))
  }

  /** [[discoverLinks]] with the per-host budget spent by PRIORITY
    * instead of md5 lottery: within each host, targets rank by
    * in-degree descending (ties by url ascending — deterministic),
    * the classic indegree crawl-ordering heuristic — when a crawl
    * cannot afford every discovered page, the ones many pages point
    * at come first. Same bounded heap underneath (O(budget) state per
    * host, map-side partials, no window sort): the heap key is
    * `(-n_sources, url)` and keeps the smallest `budget` entries, so
    * the hottest targets survive and a hub with millions of one-link
    * leaf targets still costs O(budget) memory. */
  def discoverLinksPrioritized(pages: DataFrame, urlCol: String, htmlCol: String,
                               perHostBudget: Int = 100): DataFrame = {
    require(perHostBudget > 0, "need a positive per-host budget")
    val hostPat = "^[a-z][a-z0-9+.-]*://([^/?#]*).*$"
    val uniq = resolveLinks(pages, urlCol, htmlCol)
      .groupBy("url").agg(count(lit(1)).as("n_sources"))
      .withColumn("domain", regexp_extract(col("url"), hostPat, 1))
    uniq
      .select(col("domain"), struct(
        (-col("n_sources")).as("_nk"), col("url").as("url"),
        col("n_sources").as("n_sources")).as("_e"))
      .groupBy("domain")
      .agg(graft.expressions.BoundedCollect
        .boundedSortedCollect(col("_e"), perHostBudget).as("_top"))
      .select(col("domain"), explode(col("_top")).as("_t"))
      .select(col("domain"), col("_t.url").as("url"),
        col("_t.n_sources").as("n_sources"))
  }

  /** Close the LINK loop: admitted pages' anchor targets become the
    * next batch's frontier feed, alongside [[redirectFrontier]]'s
    * redirect targets — link graphs are how most of the web is
    * actually discovered; sitemaps and redirects only seed and patch
    * it. Same doctrine end to end: targets inherit their discovering
    * page's hop depth + 1 (min over sources, absent ⇒ seed depth 0)
    * and cap at `maxHops`; robots-disallowed targets are filtered
    * BEFORE they enter the frontier (fetch-then-discard is the
    * impolite shape); the per-host budget bounds link-farm fan-out;
    * and the corpus-sized seen ledger is read with the batch keys
    * broadcast INTO its scan — zero ledger shuffle per batch — with
    * the big-big sort-merge floor past the admission gate.
    * Double-enqueues across batches self-heal as `duplicate` at
    * admission, so no frontier ledger exists beyond the seen set.
    *
    * Hop-depth approximation (deliberate): the hops ledger records only
    * budget-surviving, seen-drained frontier rows, so a target the
    * per-host budget DROPPED in one batch and a deeper chain
    * rediscovered later enters the ledger at the deeper depth — depth
    * is min over ENQUEUED discoveries, not all discoveries, which can
    * slightly tighten the `maxHops` cap on hot hosts. Recording every
    * discovery would grow the ledger by exactly the link-farm fan-out
    * the budget exists to bound; the tighter cap is the cheaper
    * error. */
  def linkFrontier(pages: DataFrame, urlCol: String, htmlCol: String,
                   ledgerDir: String, batchId: Long,
                   hops: Option[DataFrame] = None, maxHops: Int = 5,
                   rules: Option[DataFrame] = None, agent: String = "*",
                   perHostBudget: Int = 100): DataFrame = {
    val spark = pages.sparkSession
    import spark.implicits._
    val pairs = resolveLinks(pages, urlCol, htmlCol).localCheckpoint()
    // byte-aware gate over the URL strings the broadcasts below carry
    val batchSmall = BatchLedger.broadcastable(pairs, Seq("src", "url"))
    val cps = scala.collection.mutable.ArrayBuffer[DataFrame](pairs)
    // hop inheritance BEFORE target dedup, so a target discovered by a
    // depth-0 seed and a depth-4 chain enters at depth 1, not 5
    val withHop = hops match {
      case Some(h) =>
        val hSlim = h.select(col("url").as("src"), col("hop").as("_h"))
        val (gate, hopCps) = BatchLedger.gatedProbe(hSlim,
          pairs.select("src").distinct(), Seq("src"), batchSmall,
          fold = _.groupBy("src").agg(min("_h").as("_h")))
        cps ++= hopCps
        pairs.join(gate, Seq("src"), "left_outer")
          .withColumn("hop", coalesce(col("_h"), lit(0)) + 1)
      case None => pairs.withColumn("hop", lit(1))
    }
    val hostPat = "^[a-z][a-z0-9+.-]*://([^/?#]*)([^?#]*).*$"
    val capped0 = withHop.filter(col("hop") <= maxHops)
      .groupBy("url").agg(min("hop").cast("int").as("hop"))
    // anchor targets pointing at a permanently-moved URL rewrite to
    // its 301 target before the seen drain — stale links stop costing
    // a refetch of the alias (the [[applyAliases]] contract)
    val (aliasedL, aliasCpsL) = applyAliases(capped0, spark, ledgerDir,
      batchId, batchSmall)
    cps ++= aliasCpsL
    val capped = aliasedL.groupBy("url").agg(min("hop").cast("int").as("hop"))
      .withColumn("domain", regexp_extract(col("url"), hostPat, 1))
    val polite = rules match {
      case None => capped
      case Some(r) =>
        Robots.evaluate(
          capped.withColumn("path", regexp_extract(col("url"), hostPat, 2)), r, agent)
          .filter(col("allowed")).select("url", "hop", "domain")
    }
    // drain the seen ledger BEFORE spending the budget: md5 order is
    // stable, so already-crawled targets would otherwise win the same
    // slots every batch and deterministically starve a host's fresh
    // targets forever (a nav bar of seen links is enough)
    val seen = BatchLedger.read(spark, ledgerDir, "seen", SeenPointerKey,
      belowBatch = Some(batchId + 1),
      empty = Seq.empty[(String, Long)].toDF("canonical", "id"))
      .select(col("canonical").as("url"))
    val pol = if (batchSmall) { val p = polite.localCheckpoint(); cps += p; p }
              else polite
    val (fresh, _, seenCps) = BatchLedger.gatedAntiSemi(
      pol, seen, pol.select("url"), Seq("url"), batchSmall)
    cps ++= seenCps
    // materialize the result, then drop this batch's checkpoint blocks —
    // a long-running stream must not accumulate them (the caller
    // unpersists the RETURNED frame when done, the processBatch contract)
    val out = Sharding.samplePerGroupRows(fresh, "domain", "url",
      perHostBudget, Seq("hop")).select("url", "hop").localCheckpoint()
    cps.foreach(_.unpersist(blocking = false))
    out
  }

  /** Fold every `seen/` partition with `batch < belowBatch` into a new
    * BASE snapshot committed by an atomic [[BatchLedger]] pointer swap —
    * the small-file compaction a 100 TB/day crawl needs (thousands of
    * per-batch partitions otherwise), now crash-safe and runnable
    * against a LIVE stream: the compacted rows land in a sibling dir,
    * one MetaLog append flips the pointer, and only then do absorbed
    * partitions delete — a batch committed mid-compact writes
    * `batch ≥ belowBatch` and is never touched. The seen ledger is
    * CORPUS-sized, so the fold stays fully distributed, and canonicals
    * are disjoint across batches by construction (a key admits once),
    * so absorption is the identity union, no aggregation. The one
    * retained precondition: `belowBatch` must sit at or below the
    * replayable horizon — a replayed batch whose keys were absorbed
    * would find its own keys in the base and flip its admissions to
    * duplicates.
    *
    * CADENCE (measured; PLANS.md, "Ledger compaction cadence probe"; 48
    * batches ×2k
    * rows, clean host): never-compacting reads 2.96 s/batch steady
    * and climbing (every ledger read lists + scans all live
    * partitions; seen is read 2-3× per batch), compact-every-8 reads
    * 2.08 s/batch and is 32% cheaper END TO END including the folds.
    * Each fold is a full base rewrite, so the recommendation is
    * partition-count-driven: compact when a ledger's live partitions
    * reach ~8-16 — every 8 batches early in a stream's life,
    * stretching as the base grows and the fold cost dominates. */
  def compact(spark: SparkSession, ledgerDir: String, belowBatch: Long): Unit = {
    BatchLedger.compact(spark, ledgerDir, "seen", SeenPointerKey, belowBatch)
    // the politeness horizon ledger (present only when processBatch ran
    // with delays): DELTA rows, so absorption SUMS per host — the
    // heavy-hitters fold shape, not the identity union
    val hosts = new org.apache.hadoop.fs.Path(s"$ledgerDir/hosts")
    val fs = hosts.getFileSystem(spark.sessionState.newHadoopConf())
    if (fs.exists(hosts) || BatchLedger.pointer(ledgerDir, HostsPointerKey).isDefined)
      BatchLedger.compact(spark, ledgerDir, "hosts", HostsPointerKey, belowBatch,
        absorb = df => df.groupBy("domain")
          .agg(sum("reserved_ms").cast("long").as("reserved_ms")))
    // the frontier hop-depth ledger (present only when [[attach]] ran
    // with frontierDir): min-per-url fold — a url's depth is the
    // SHALLOWEST chain that ever ENQUEUED it (budget-dropped
    // discoveries don't record; see the [[linkFrontier]] note)
    val hops = new org.apache.hadoop.fs.Path(s"$ledgerDir/hops")
    if (fs.exists(hops) || BatchLedger.pointer(ledgerDir, HopsPointerKey).isDefined)
      BatchLedger.compact(spark, ledgerDir, "hops", HopsPointerKey, belowBatch,
        absorb = df => df.groupBy("url").agg(min("hop").cast("int").as("hop")))
    // the conditional-fetch validator ledger (present only when
    // processBatch ran with validatorCols): canonicals admit once, so
    // keys are disjoint across batches — identity fold, like seen
    val vals = new org.apache.hadoop.fs.Path(s"$ledgerDir/validators")
    if (fs.exists(vals) ||
      BatchLedger.pointer(ledgerDir, ValidatorsPointerKey).isDefined)
      BatchLedger.compact(spark, ledgerDir, "validators", ValidatorsPointerKey,
        belowBatch)
    // the 301-alias ledger (present only when processBatch saw a
    // permanent redirect): newest declaration wins — max_by over the
    // as_of data column, the same algebra applyAliases reads with, so
    // compacting never changes a rewrite. The existence check needs
    // real `batch=` partitions, not just the dir: a batch with no
    // permanent redirects still writes (an empty dynamic-overwrite
    // leaves only _SUCCESS), and compacting a hollow ledger throws.
    val aliases = new org.apache.hadoop.fs.Path(s"$ledgerDir/aliases")
    if ((fs.exists(aliases) &&
        fs.listStatus(aliases).exists(_.getPath.getName.startsWith("batch="))) ||
      BatchLedger.pointer(ledgerDir, AliasesPointerKey).isDefined)
      BatchLedger.compact(spark, ledgerDir, "aliases", AliasesPointerKey,
        belowBatch,
        absorb = df => df.groupBy("alias")
          .agg(max_by(col("target"), col("as_of")).as("target"),
            max("as_of").cast("long").as("as_of")))
    // the fetch-observations ledger (present only when processBatch ran
    // with seqCol): DELTA counts — sum-and-max fold, the same algebra
    // requestPlan reads with, so compacting never changes a plan
    val obs = new org.apache.hadoop.fs.Path(s"$ledgerDir/observations")
    if (fs.exists(obs) || BatchLedger.pointer(ledgerDir, ObsPointerKey).isDefined)
      BatchLedger.compact(spark, ledgerDir, "observations", ObsPointerKey,
        belowBatch,
        absorb = df => df.groupBy("canonical")
          .agg(sum("n_obs").cast("long").as("n_obs"),
            sum("n_changed").cast("long").as("n_changed"),
            max("last_fetch").cast("long").as("last_fetch")))
  }

  /** Convenience wiring: every micro-batch's outcome rows land in
    * `outDir` (batch-partitioned, idempotent), admitted keys in
    * `ledgerDir/seen`, admitted pages as WARC shards when `shardDir`
    * is set, and — with `frontierDir` set — each batch's
    * [[redirectFrontier]] rows land under `frontierDir/batch=<id>`
    * (own-partition overwrite, replay idempotent) with hop depths
    * carried through a durable `hops/` [[BatchLedger]] (min-per-url,
    * folded by [[compact]]), so the fetcher driving the stream reads
    * its next wave from the latest partition and the hop cap holds
    * across the whole unrolled chain without ever replaying the full
    * frontier history per batch. */
  def attach(pages: DataFrame, idCol: String, urlCol: String, blobCol: String,
             rules: DataFrame, agent: String, ledgerDir: String, outDir: String,
             checkpointDir: String, shardDir: Option[String] = None,
             nShards: Int = 4, delays: Option[DataFrame] = None,
             defaultDelayMs: Long = 1000L,
             statusCol: Option[String] = None,
             locationCol: Option[String] = None,
             frontierDir: Option[String] = None,
             maxHops: Int = 5,
             discoverLinks: Boolean = false,
             perHostBudget: Int = 100,
             validatorCols: Option[(String, String)] = None,
             seqCol: Option[String] = None,
             pageDirectives: Boolean = false,
             xRobotsCol: Option[String] = None): StreamingQuery =
    pages.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch0: DataFrame, batchId: Long) =>
        // PAGE-level robots (opt-in): meta tags read through an
        // ASCII-compatible lossy decode (the tag bytes are ASCII in
        // every charset the gate admits), the X-Robots-Tag header from
        // its column when the fetcher captured one. noindex gates
        // admission inside processBatch; nofollow gates the page's
        // links out of the frontier below — the page itself admits.
        val batch = if (!pageDirectives) batch0 else
          batch0.withColumn("_dirs", graft.operators.TextOps.pageRobots(
            col(blobCol).cast("string"),
            xRobotsCol.map(col).getOrElse(lit(null).cast("string")), agent))
        val o = processBatch(batch, batchId, idCol, urlCol, blobCol, rules, agent,
          ledgerDir, shardDir, nShards, delays, defaultDelayMs,
          statusCol, locationCol, validatorCols, seqCol,
          directivesCol = if (pageDirectives) Some("_dirs") else None)
        o.withColumn("batch", lit(batchId))
          .write.mode("overwrite").partitionBy("batch").parquet(outDir)
        frontierDir.foreach { fd =>
          val spark = o.sparkSession
          import spark.implicits._
          // hop state reads from the COMPACTED hops ledger (base ∪ live
          // deltas since the horizon), not a replay of every prior
          // frontier partition — the replay grew linearly with stream
          // age; the ledger is bounded by compaction. An empty ledger
          // joins as a no-op, so no isEmpty action is spent deciding.
          val hops = BatchLedger.read(spark, ledgerDir, "hops", HopsPointerKey,
            belowBatch = Some(batchId),
            empty = Seq.empty[(String, Int)].toDF("url", "hop"))
          // the attach path always has the rules frame: filter
          // disallowed targets BEFORE they enter the frontier
          val redir = redirectFrontier(o, ledgerDir, batchId, Some(hops), maxHops,
            rules = Some(rules), agent = agent)
          // link discovery (opt-in): admitted pages' bytes decode
          // through the charset gate, anchor targets feed the same
          // frontier — a target found by both channels enters once at
          // its shallower depth
          val (front, frontCps) = if (!discoverLinks) (redir, Seq(redir)) else {
            // noindexed pages still feed the link channel: noindex
            // bars the PAGE from the corpus, not its links — only
            // nofollow (filtered below) bars those (the standard
            // reading; `none` sets both)
            val adm = o.filter(col("outcome").isin("admitted", "noindexed"))
              .select(col(idCol), col("canonical")).localCheckpoint()
            // same byte-aware gate as every batch-side broadcast in
            // this file: a backfill batch's admitted set can exceed
            // what a driver can collect — past the gate the plain
            // join is the floor
            val admGate =
              if (BatchLedger.broadcastable(adm, Seq(idCol, "canonical")))
                broadcast(adm) else adm
            val admPages0 = batch.join(admGate, Seq(idCol))
            // nofollow: the page admitted (it is not noindex), but its
            // anchor targets never reach the frontier — the per-page
            // half of link politeness
            val admPages = if (!pageDirectives) admPages0 else
              admPages0.filter(!coalesce(
                col("_dirs").getField("nofollow"), lit(false)))
            val html = graft.operators.TextOps
              .decodeCharset(admPages, blobCol, "_cs", "_html")
              .filter(col("_cs") =!= "unknown")
            val links = linkFrontier(html, "canonical", "_html", ledgerDir,
              batchId, Some(hops), maxHops, rules = Some(rules),
              agent = agent, perHostBudget = perHostBudget)
            (redir.unionByName(links)
              .groupBy("url").agg(min("hop").cast("int").as("hop"))
              .localCheckpoint(),
              Seq(redir, links, adm))
          }
          front.withColumn("batch", lit(batchId))
            .write.mode("overwrite").partitionBy("batch").parquet(fd)
          // ... and each batch's discoveries append to the hops ledger
          // as the batch's OWN delta partition (replay overwrites itself)
          front.select(col("url"), col("hop").cast("int").as("hop"))
            .withColumn("batch", lit(batchId))
            .write.mode("overwrite").partitionBy("batch").parquet(s"$ledgerDir/hops")
          (frontCps :+ front).distinct.foreach(_.unpersist(blocking = false))
        }
        o.unpersist(blocking = false)
        ()
      }
      .start()
}
