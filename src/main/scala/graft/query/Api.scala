package graft.query

import graft.codec.Codecs
import graft.ingest.TableStore
import graft.queries.QueryDef.broadcastIfSmall
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.LocalScan
import org.apache.spark.sql.types.{StringType, StructField, StructType}
import scala.collection.immutable.SortedSet

/** Read-side query surface (SURVEY.md §2.D): the six parameter objects of
  * idb.go re-expressed as DataFrame builders over the maintained tables.
  * Every method returns (DataFrame, asOfRound) — the reference's
  * `(<-chan Row, uint64)` contract (dummy/dummy.go:57-90): results plus the
  * round the data reflects, read from metastate BEFORE query execution.
  *
  * Plan posture: predicates land on denormalized scalar columns first
  * (typeenum, asset, round, intra — §4 "filter-choice" rewrite), JSON
  * extraction only for body predicates; point/range filters on `round`
  * partition-prune the parquet scan; newest-first pagination is
  * ORDER BY ... DESC LIMIT n (TakeOrderedAndProject — per-partition heap,
  * no global sort shuffle).
  *
  * Small reads run no Spark job: when pruning leaves files totalling no
  * more than the session's `spark.sql.autoBroadcastJoinThreshold`, the
  * store decodes them on the driver ([[TableStore]]'s local path) and the
  * filters, sort and limit fold over those rows at planning time. That
  * covers txid, round-range, asset and address transaction lookups,
  * `getBlock`, and the state-table shapes; an address's participation
  * slice read this way resolves to its `(round, intra)` pairs on the
  * driver and filters the txn read directly. Joins and aggregates (the
  * account resource expansion, `hasAssetId`, inner-to-root conversion)
  * still run as jobs, and a threshold ≤ 0 restores the distributed plan
  * everywhere.
  */
object Api {

  // ── Parameter objects (idb.go:171-410) ─────────────────────────────

  /** AddressRole bitfield (address_role.go:7-15). */
  object AddressRole {
    val Sender = 1
    val Receiver = 2
    val CloseRemainderTo = 4
    val AssetSender = 8
    val AssetReceiver = 16
    val AssetCloseTo = 32
    val FreezeAccount = 64
  }

  final case class TransactionFilter(
      address: Option[String] = None,
      addressRole: Int = 0, // 0 = any role
      minRound: Option[Long] = None,
      maxRound: Option[Long] = None,
      round: Option[Long] = None,
      afterTime: Option[java.sql.Timestamp] = None,
      beforeTime: Option[java.sql.Timestamp] = None,
      typeEnum: Option[Int] = None,
      txid: Option[String] = None,
      offset: Option[Long] = None,
      offsetLT: Option[Long] = None,
      offsetGT: Option[Long] = None,
      sigType: Option[String] = None,
      notePrefix: Option[Array[Byte]] = None,
      algosGT: Option[Long] = None,
      algosLT: Option[Long] = None,
      effectiveAmountGT: Option[Long] = None,
      effectiveAmountLT: Option[Long] = None,
      rekeyTo: Option[Boolean] = None,
      assetId: Option[Long] = None,
      assetAmountGT: Option[BigInt] = None,
      assetAmountLT: Option[BigInt] = None,
      applicationId: Option[Long] = None,
      nextToken: Option[String] = None,
      limit: Option[Int] = None,
      ascending: Boolean = false,
      skipInnerTransactions: Boolean = false,
      /** Reference default behavior (idb.go:137-143): an inner-txn match is
        * returned as its ROOT transaction. `false` returns raw inner rows
        * (SkipInnerTransactionConversion). */
      convertInnerToRoot: Boolean = false,
      /** idb.go:181-182: bypass filter normalization so tests can pin that
        * the rewrite never changes results. Here it disables the up-front
        * round-bounds intersection (Round ∩ Min/MaxRound ∩ time range) and
        * the manifest/bloom pruning it drives: every predicate is applied
        * raw over a full-manifest read. (The time→round min/max collapse
        * itself is the reference's SEMANTICS, not an optimization, and
        * runs in both modes.) */
      skipOptimization: Boolean = false)

  final case class AccountQueryOptions(
      greaterThanAddress: Option[String] = None,
      equalToAddress: Option[String] = None,
      equalToAuthAddr: Option[String] = None,
      algosGreaterThan: Option[Long] = None,
      algosLessThan: Option[Long] = None,
      hasAssetId: Option[Long] = None,
      assetGT: Option[BigInt] = None,
      assetLT: Option[BigInt] = None,
      hasAppId: Option[Long] = None,
      includeAssetHoldings: Boolean = false,
      includeAssetParams: Boolean = false,
      includeAppLocalState: Boolean = false,
      includeAppParams: Boolean = false,
      maxResources: Option[Int] = None,
      includeDeleted: Boolean = false,
      limit: Option[Int] = None)

  final case class AssetsQuery(
      assetId: Option[Long] = None,
      assetIdGreaterThan: Option[Long] = None,
      creator: Option[String] = None,
      name: Option[String] = None, // case-insensitive substring
      unit: Option[String] = None,
      query: Option[String] = None, // name OR unit substring
      includeDeleted: Boolean = false,
      limit: Option[Int] = None)

  final case class AssetBalanceQuery(
      assetId: Option[Long] = None,
      assetIdGT: Option[Long] = None,
      amountGT: Option[BigInt] = None,
      amountLT: Option[BigInt] = None,
      address: Option[String] = None,
      prevAddress: Option[String] = None, // keyset paging in addr order
      includeDeleted: Boolean = false,
      limit: Option[Int] = None)

  final case class ApplicationQuery(
      address: Option[String] = None,
      applicationId: Option[Long] = None,
      applicationIdGreaterThan: Option[Long] = None,
      includeDeleted: Boolean = false,
      limit: Option[Int] = None)

  final case class ApplicationBoxQuery(
      applicationId: Long,
      boxName: Option[Array[Byte]] = None,
      omitValues: Boolean = false,
      prevFinalBox: Option[Array[Byte]] = None, // keyset paging; ASC only
      limit: Option[Int] = None)

  final case class MaxAPIResourcesPerAccountError(addr: String, count: Long)
      extends Exception(s"account $addr has $count resources > max")

  // ── JSON body accessors (txn document paths) ───────────────────────
  //
  // Body predicates all evaluate against ONE parse of the txn document
  // per row: the active conjuncts combine into a single filter over a
  // one-element higher-order `exists`, whose lambda variable binds the
  // parsed struct — the plan carries exactly one from_json however many
  // predicates stack. (Projecting the struct as a column does NOT work:
  // predicate pushdown re-inlines the alias per field reference — six
  // from_json copies for five predicates; PLANS.md, "One from_json per
  // txn row".) Every schema leaf is STRING, so values coerce exactly like
  // get_json_object (numbers → literal text, objects → JSON text; parity
  // checked in the same record) and the original casts apply
  // unchanged on top.

  private val BodySchema = StructType(Seq(
    StructField("sig", StringType),
    StructField("msig", StringType),
    StructField("lsig", StructType(Seq(
      StructField("sig", StringType), StructField("msig", StringType)))),
    StructField("txn", StructType(Seq(
      StructField("note", StringType), StructField("amt", StringType),
      StructField("rekey", StringType), StructField("aamt", StringType),
      StructField("snd", StringType), StructField("rcv", StringType),
      StructField("close", StringType), StructField("asnd", StringType),
      StructField("arcv", StringType), StructField("aclose", StringType),
      StructField("fadd", StringType)))),
    StructField("dt", StructType(Seq(StructField("ca", StringType))))))

  /** All body conjuncts over one parsed struct, as a single filter. */
  private def bodyFilter(conds: Seq[Column => Column]): Column =
    exists(array(from_json(col("txn"), BodySchema)),
      b => conds.map(_(b)).reduce(_ && _))

  private def tf(b: Column, field: String): Column =
    b.getField("txn").getField(field)

  /** SignatureType classifier over the parsed txn body
    * (sig_type.go:46-63): top-level sig wins, then msig; an lsig CARRYING
    * a delegation sig/msig classifies as sig/msig — plain `lsig` only when
    * both nested fields are absent. */
  private def sigTypeCond(st: String, b: Column): Column = {
    val sig = b.getField("sig").isNotNull
    val msig = b.getField("msig").isNotNull
    val lsig = b.getField("lsig").isNotNull
    val lsigSig = b.getField("lsig").getField("sig").isNotNull
    val lsigMsig = b.getField("lsig").getField("msig").isNotNull
    st match {
      case "sig" => sig || (!msig && lsig && lsigSig)
      case "msig" => !sig && (msig || (lsig && !lsigSig && lsigMsig))
      case "lsig" => !sig && !msig && lsig && !lsigSig && !lsigMsig
      case other => throw new IllegalArgumentException(s"invalid sigtype: $other")
    }
  }

  /** Standalone classifier predicate on a `txn` JSON column (spec surface;
    * routes through the same single-parse path the filter uses). */
  private[query] def sigTypeCond(st: String): Column =
    bodyFilter(Seq(b => sigTypeCond(st, b)))

  // ── Transactions (idb.go:180-233) ──────────────────────────────────

  def transactions(store: TableStore, f: TransactionFilter): (DataFrame, Long) = {
    val asOf = store.nextRound - 1

    // Resolve ALL round bounds up front so the manifest read is pruned to
    // the matching range buckets before Spark lists a single file.
    // Time bounds resolve to a round range via block_header min/max
    // (idb.go:190-192) — this collapse IS the reference's semantics for
    // time filters (not an optimization), so it runs in BOTH modes; only
    // whether the range also prunes the manifest differs below.
    var timeRange: Option[(Long, Long)] = None
    var emptyByTime = false
    if (f.afterTime.isDefined || f.beforeTime.isDefined) {
      var hdr = store.read("block_header")
      f.afterTime.foreach(t => hdr = hdr.filter(col("realtime") > t))
      f.beforeTime.foreach(t => hdr = hdr.filter(col("realtime") < t))
      val range = hdr.agg(min("round").as("lo"), max("round").as("hi")).head()
      if (range.isNullAt(0)) emptyByTime = true
      else timeRange = Some((range.getLong(0), range.getLong(1)))
    }

    // SkipOptimization (idb.go:181-182) leaves the bounds unresolved:
    // full-manifest read, no bloom pruning, every predicate applied raw —
    // result-identical by construction (the equivalence spec pins it).
    var lo = if (f.skipOptimization) None else f.minRound
    var hi = if (f.skipOptimization) None else f.maxRound
    if (!f.skipOptimization) {
      // Intersect, don't overwrite: Round + contradictory Min/MaxRound must
      // stay an empty conjunction, exactly as the filters compose.
      f.round.foreach { r =>
        lo = Some(lo.fold(r)(math.max(_, r)))
        hi = Some(hi.fold(r)(math.min(_, r)))
      }
      timeRange.foreach { case (tLo, tHi) =>
        lo = Some(lo.fold(tLo)(math.max(_, tLo)))
        hi = Some(hi.fold(tHi)(math.min(_, tHi)))
      }
    }

    // Address participation (§2.E row 1): the per-address slice of
    // txn_participation. Address blooms prune its read the way txid
    // blooms prune txn: only files that might contain this addr are
    // listed. A slice read on the driver is resolved to its (round,
    // intra) pairs right here: the txn read then lists only files whose
    // round stats cover a matched round, and the pairs filter it directly
    // (below) — no semi-join job.
    val participation = f.address.map { addr =>
      var part = (
        if (f.skipOptimization) store.readRounds("txn_participation", lo, hi)
        else store.readRoundsForKey("txn_participation", "addr", addr, lo, hi)
      ).filter(col("addr") === addr)
      lo.foreach(r => part = part.filter(col("round") >= r))
      hi.foreach(r => part = part.filter(col("round") <= r))
      part.select("round", "intra")
    }
    val pairs: Option[Seq[(Long, Int)]] = participation
      .filter(p => !f.skipOptimization && LocalScan.isLocal(p))
      .map(_.collect().toSeq.map(r => (r.getLong(0), r.getInt(1))))
    val rounds = pairs.map(ps => SortedSet(ps.map(_._1): _*))

    // Point lookups resolve through the bloom file index: only files that
    // might contain the key are listed (round-range pruning alone does
    // nothing for a random txid; for assets it is the long tail of
    // rarely-touched ids that prunes). Keys are indexed as strings — the
    // lookup stringifies the same way the index build casts.
    var txn = (f.txid, f.assetId.orElse(f.applicationId)) match {
      case (Some(id), _) if !f.skipOptimization =>
        store.readRoundsForKey("txn", "txid", id, lo, hi, rounds)
      case (_, Some(a)) if !f.skipOptimization =>
        store.readRoundsForKey("txn", "asset", a.toString, lo, hi, rounds)
      case _ => store.readRounds("txn", lo, hi, rounds)
    }
    if (emptyByTime) txn = txn.filter(lit(false))
    // Exact predicates on top of the pruned scan (row-group stats finish
    // the job inside surviving files).
    f.round.foreach(r => txn = txn.filter(col("round") === r))
    // Optimized path: lo/hi carry the resolved intersection (min/max/time).
    // Skip path: lo/hi are None and the raw bounds apply individually.
    lo.foreach(r => txn = txn.filter(col("round") >= r))
    hi.foreach(r => txn = txn.filter(col("round") <= r))
    if (f.skipOptimization) {
      f.minRound.foreach(r => txn = txn.filter(col("round") >= r))
      f.maxRound.foreach(r => txn = txn.filter(col("round") <= r))
      timeRange.foreach { case (tLo, tHi) =>
        txn = txn.filter(col("round") >= tLo && col("round") <= tHi)
      }
    }

    // Denormalized scalar predicates (the reference's "slightly faster
    // query" rewrites, idb.go:204).
    f.typeEnum.foreach(t => txn = txn.filter(col("typeenum") === t))
    f.txid.foreach(id => txn = txn.filter(col("txid") === id))
    f.assetId.foreach(a => txn = txn.filter(col("asset") === a))
    f.applicationId.foreach(a => txn = txn.filter(col("asset") === a && col("typeenum") === 6))
    f.offset.foreach(o => txn = txn.filter(col("intra") === o))
    f.offsetLT.foreach(o => txn = txn.filter(col("intra") < o))
    f.offsetGT.foreach(o => txn = txn.filter(col("intra") > o))

    // JSON body predicates — collected, then applied as ONE conjunct so
    // all of them share a single parse per row (see BodySchema above).
    val body = Seq.newBuilder[Column => Column]
    f.sigType.foreach(st => body += (b => sigTypeCond(st, b)))
    f.notePrefix.foreach { p =>
      // note is base64; a byte prefix is a base64 prefix only on 3-byte
      // boundaries, so compare decoded prefixes.
      body += (b => substring(unbase64(tf(b, "note")), 1, p.length) === lit(p))
    }
    f.algosGT.foreach(v => body += (b =>
      col("typeenum") === 1 && tf(b, "amt").cast("long") > v))
    f.algosLT.foreach(v => body += (b =>
      col("typeenum") === 1 && coalesce(tf(b, "amt").cast("long"), lit(0L)) < v))
    // EffectiveAmount = amt + close amount (extra.aca / dt.ca; idb.go:136).
    def eff(b: Column) = coalesce(tf(b, "amt").cast("long"), lit(0L)) +
      coalesce(b.getField("dt").getField("ca").cast("long"), lit(0L))
    f.effectiveAmountGT.foreach(v => body += (b => col("typeenum") === 1 && eff(b) > v))
    f.effectiveAmountLT.foreach(v => body += (b => col("typeenum") === 1 && eff(b) < v))
    f.rekeyTo.foreach { want =>
      body += (b => if (want) tf(b, "rekey").isNotNull else tf(b, "rekey").isNull)
    }
    f.assetAmountGT.foreach(v => body += (b =>
      tf(b, "aamt").cast("decimal(20,0)") > lit(v.toString).cast("decimal(20,0)")))
    f.assetAmountLT.foreach(v => body += (b =>
      tf(b, "aamt").cast("decimal(20,0)") < lit(v.toString).cast("decimal(20,0)")))
    val bodyConds = body.result()
    if (bodyConds.nonEmpty) txn = txn.filter(bodyFilter(bodyConds))

    // The address's transactions: the resolved pairs as one set-membership
    // filter on a (round, intra) key, else the slice broadcast into a
    // semi-join when small. Both answer with the join keys first.
    (participation, pairs) match {
      case (_, Some(ps)) =>
        txn = txn.filter(pairKey(col("round"), col("intra")).isin(ps.map { case (r, i) => pairKey(r, i) }: _*))
          .select(("round" +: "intra" +: txn.columns.filterNot(Set("round", "intra"))).map(col): _*)
      case (Some(part), None) =>
        txn = txn.join(broadcastIfSmall(part), Seq("round", "intra"), "left_semi")
      case _ =>
    }
    f.address.foreach { addr =>
      if (f.addressRole != 0) txn = txn.filter(roleRefinement(addr, f.addressRole))
    }

    // Keyset pagination (idb.go:56-100): token > (round, intra) ascending,
    // < descending.
    f.nextToken.foreach { tok =>
      val (r, i) = Codecs.pageTokenDecode(tok)
      txn =
        if (f.ascending) txn.filter(col("round") > r || (col("round") === r && col("intra") > i))
        else txn.filter(col("round") < r || (col("round") === r && col("intra") < i))
    }

    if (f.skipInnerTransactions) txn = txn.filter(col("txid").isNotNull)
    if (f.convertInnerToRoot) txn = convertToRoot(store, txn, lo, hi)

    txn =
      if (f.ascending) txn.orderBy(asc("round"), asc("intra"))
      else txn.orderBy(desc("round"), desc("intra"))
    f.limit.foreach(n => txn = txn.limit(n))
    (txn, asOf)
  }

  /** One Long per (round, intra): intra is a non-negative Int and rounds
    * stay far below 2^31, so the packing is injective. */
  private def pairKey(round: Column, intra: Column): Column = round * (1L << 32) + intra
  private def pairKey(round: Long, intra: Int): Long = (round << 32) + intra

  /** AddressRole refinement: which body field carries the address
    * (idb.go:185-189 + address_role.go). One parsed-struct conjunct, same
    * single-parse contract as the other body predicates. */
  private def roleRefinement(addr: String, role: Int): Column = {
    import AddressRole._
    bodyFilter(Seq { b =>
      var c = lit(false)
      def or(cond: Column): Unit = c = c || cond
      if ((role & Sender) != 0) or(tf(b, "snd") === addr)
      if ((role & Receiver) != 0) or(tf(b, "rcv") === addr)
      if ((role & CloseRemainderTo) != 0) or(tf(b, "close") === addr)
      if ((role & AssetSender) != 0) or(tf(b, "asnd") === addr)
      if ((role & AssetReceiver) != 0) or(tf(b, "arcv") === addr)
      if ((role & AssetCloseTo) != 0) or(tf(b, "aclose") === addr)
      if ((role & FreezeAccount) != 0) or(tf(b, "fadd") === addr)
      c
    })
  }

  /** Inner-txn → root conversion (idb.go:137-143): replace inner rows with
    * their root row via the extra.root-intra backlink (self-join on
    * (round, root-intra); §2.E row 2). */
  def convertToRoot(store: TableStore, txns: DataFrame,
                    lo: Option[Long] = None, hi: Option[Long] = None): DataFrame = {
    // An inner row's root lives in the SAME round, so the caller's round
    // bounds prune the root scan too.
    val roots = store.readRounds("txn", lo, hi).filter(col("txid").isNotNull)
      .select(col("round"), col("intra"), col("typeenum"), col("asset"),
        col("txid"), col("txn"), col("extra"))
    val rootIntra = get_json_object(col("extra"), "$['root-intra']").cast("int")
    val inner = txns.filter(col("txid").isNull)
      .select(col("round").as("i_round"), rootIntra.as("i_root_intra"))
      .distinct()
    val convertedRoots = roots.join(
      broadcastIfSmall(inner),
      roots("round") === inner("i_round") && roots("intra") === inner("i_root_intra"),
      "left_semi")
    txns.filter(col("txid").isNotNull).unionByName(convertedRoots).distinct()
  }

  /** Next-page token for the last returned row (idb.go:56-84): descending
    * uses the root intra of an inner row; ascending additionally skips the
    * root's whole inner subtree. */
  def nextToken(round: Long, intra: Long, rootIntra: Option[Long], innerCount: Int, ascending: Boolean): String = {
    val base = rootIntra.getOrElse(intra)
    val adjusted = if (ascending) base + innerCount else base
    Codecs.pageTokenEncode(round, adjusted)
  }

  // ── Accounts (idb.go:236-269) ──────────────────────────────────────

  def accounts(store: TableStore, q: AccountQueryOptions): (DataFrame, Long) = {
    val asOf = store.nextRound - 1
    var acct = store.queryState("account", q.equalToAddress)
    if (!q.includeDeleted) acct = acct.filter(!col("deleted"))
    q.equalToAddress.foreach(a => acct = acct.filter(col("addr") === a))
    q.greaterThanAddress.foreach(a => acct = acct.filter(col("addr") > a))
    q.equalToAuthAddr.foreach(a =>
      acct = acct.filter(get_json_object(col("account_data"), "$.spend") === a))
    q.algosGreaterThan.foreach(v => acct = acct.filter(col("microalgos") > v))
    q.algosLessThan.foreach(v => acct = acct.filter(col("microalgos") < v))

    // HasAssetID/GT/LT: the reference filters client-side in Go
    // (idb.go:248-251); natively here it's a semi-join on the partial-index
    // equivalent (NOT deleted pre-filter).
    q.hasAssetId.foreach { aid =>
      var holders = store.readState("account_asset")
        .filter(col("assetid") === aid && !col("deleted"))
      q.assetGT.foreach(v => holders = holders.filter(col("amount") > lit(v.toString).cast("decimal(20,0)")))
      q.assetLT.foreach(v => holders = holders.filter(col("amount") < lit(v.toString).cast("decimal(20,0)")))
      acct = acct.join(broadcastIfSmall(holders.select("addr").distinct()), Seq("addr"), "left_semi")
    }
    q.hasAppId.foreach { aid =>
      val users = store.readState("account_app")
        .filter(col("app") === aid && !col("deleted")).select("addr").distinct()
      acct = acct.join(broadcastIfSmall(users), Seq("addr"), "left_semi")
    }

    acct = acct.orderBy(asc("addr"))
    q.limit.foreach(n => acct = acct.limit(n))

    // Resource expansion: 4 optional left joins + collect_list per account
    // (IncludeAssetHoldings/Params/AppLocalState/AppParams; partial-index
    // semantics = pre-filter NOT deleted unless IncludeDeleted).
    //
    // The resource side is semi-joined to the SELECTED accounts before the
    // groupBy: a page of accounts (the reference caps at `limit`) must not
    // aggregate the whole holdings table — at 100 TB the expansion cost
    // tracks the page's resources, not the corpus. The page is tiny, so it
    // broadcasts; when an exact address is known the resource scan is also
    // bucket-pruned (same key column for account_asset/account_app).
    val selected = broadcastIfSmall(acct.select("addr").distinct())
    def expand(src: String, keyOut: String, valueCols: Seq[String], alias: String): Unit = {
      var res =
        if (keyOut == "addr") store.queryState(src, q.equalToAddress)
        else store.readState(src)
      if (!q.includeDeleted) res = res.filter(!col("deleted"))
      val packed = res.withColumnRenamed(keyOut, "addr")
        .join(selected, Seq("addr"), "left_semi")
        .groupBy(col("addr"))
        .agg(collect_list(struct(valueCols.map(col): _*)).as(alias))
      acct = acct.join(packed, Seq("addr"), "left_outer")
    }
    if (q.includeAssetHoldings) expand("account_asset", "addr", Seq("assetid", "amount", "frozen", "deleted"), "asset_holdings")
    if (q.includeAppLocalState) expand("account_app", "addr", Seq("app", "localstate", "deleted"), "app_local_states")
    if (q.includeAssetParams) expand("asset", "creator_addr", Seq("id", "params", "deleted"), "created_assets")
    if (q.includeAppParams) expand("app", "creator", Seq("id", "params", "deleted"), "created_apps")

    // MaxResources guard (idb.go:262-263, 277-286): F4 count-guard.
    // Counts only the page's accounts (semi-join before the groupBy) —
    // the guard protects the RETURNED accounts, not the whole corpus.
    q.maxResources.foreach { maxR =>
      val aa = store.queryState("account_asset", q.equalToAddress).filter(!col("deleted"))
        .join(selected, Seq("addr"), "left_semi").groupBy("addr").agg(count(lit(1)).as("n1"))
      val ap = store.queryState("account_app", q.equalToAddress).filter(!col("deleted"))
        .join(selected, Seq("addr"), "left_semi").groupBy("addr").agg(count(lit(1)).as("n2"))
      val counts = aa.join(ap, Seq("addr"), "full_outer")
        .select(col("addr"),
          (coalesce(col("n1"), lit(0L)) + coalesce(col("n2"), lit(0L))).as("n_resources"))
      val over = acct.join(counts, Seq("addr"), "left_outer")
        .filter(col("n_resources") > maxR)
        .select("addr", "n_resources")
        .head(1)
      over.headOption.foreach(r => throw MaxAPIResourcesPerAccountError(r.getString(0), r.getLong(1)))
    }

    (acct, asOf)
  }

  // ── Assets (idb.go:289-307) ────────────────────────────────────────

  def assets(store: TableStore, q: AssetsQuery): (DataFrame, Long) = {
    val asOf = store.nextRound - 1
    var df = store.queryState("asset", q.assetId)
    if (!q.includeDeleted) df = df.filter(!col("deleted"))
    q.assetId.foreach(id => df = df.filter(col("id") === id))
    q.assetIdGreaterThan.foreach(id => df = df.filter(col("id") > id))
    q.creator.foreach(c => df = df.filter(col("creator_addr") === c))
    val nameCol = get_json_object(col("params"), "$.an")
    val unitCol = get_json_object(col("params"), "$.un")
    q.name.foreach(n => df = df.filter(lower(nameCol).contains(n.toLowerCase)))
    q.unit.foreach(u => df = df.filter(lower(unitCol).contains(u.toLowerCase)))
    q.query.foreach { s =>
      val needle = s.toLowerCase
      df = df.filter(lower(nameCol).contains(needle) || lower(unitCol).contains(needle))
    }
    df = df.orderBy(asc("id"))
    q.limit.foreach(n => df = df.limit(n))
    (df, asOf)
  }

  // ── Asset balances (idb.go:321-337) ────────────────────────────────

  def assetBalances(store: TableStore, q: AssetBalanceQuery): (DataFrame, Long) = {
    val asOf = store.nextRound - 1
    var df = store.queryState("account_asset", q.address)
    if (!q.includeDeleted) df = df.filter(!col("deleted"))
    q.assetId.foreach(id => df = df.filter(col("assetid") === id))
    q.assetIdGT.foreach(id => df = df.filter(col("assetid") > id))
    q.address.foreach(a => df = df.filter(col("addr") === a))
    q.prevAddress.foreach(a => df = df.filter(col("addr") > a))
    q.amountGT.foreach(v => df = df.filter(col("amount") > lit(v.toString).cast("decimal(20,0)")))
    q.amountLT.foreach(v => df = df.filter(col("amount") < lit(v.toString).cast("decimal(20,0)")))
    df = df.orderBy(asc("addr"))
    q.limit.foreach(n => df = df.limit(n))
    (df, asOf)
  }

  // ── Applications / local state (idb.go:358-370) ────────────────────

  def applications(store: TableStore, q: ApplicationQuery): (DataFrame, Long) = {
    val asOf = store.nextRound - 1
    var df = store.queryState("app", q.applicationId)
    if (!q.includeDeleted) df = df.filter(!col("deleted"))
    q.applicationId.foreach(id => df = df.filter(col("id") === id))
    q.applicationIdGreaterThan.foreach(id => df = df.filter(col("id") > id))
    q.address.foreach(a => df = df.filter(col("creator") === a))
    df = df.orderBy(asc("id"))
    q.limit.foreach(n => df = df.limit(n))
    (df, asOf)
  }

  def appLocalState(store: TableStore, q: ApplicationQuery): (DataFrame, Long) = {
    val asOf = store.nextRound - 1
    var df = store.queryState("account_app", q.address)
    if (!q.includeDeleted) df = df.filter(!col("deleted"))
    q.applicationId.foreach(id => df = df.filter(col("app") === id))
    q.applicationIdGreaterThan.foreach(id => df = df.filter(col("app") > id))
    q.address.foreach(a => df = df.filter(col("addr") === a))
    df = df.orderBy(asc("app"))
    q.limit.foreach(n => df = df.limit(n))
    (df, asOf)
  }

  // ── Boxes (idb.go:373-380): "ORDER BY is hard coded to ASC" ────────

  def applicationBoxes(store: TableStore, q: ApplicationBoxQuery): (DataFrame, Long) = {
    val asOf = store.nextRound - 1
    var df = store.queryState("app_box", Some(q.applicationId))
      .filter(col("app") === q.applicationId)
    q.boxName.foreach(n => df = df.filter(col("name") === lit(n)))
    q.prevFinalBox.foreach(p => df = df.filter(col("name") > lit(p)))
    if (q.omitValues) df = df.select("app", "name")
    df = df.orderBy(asc("name"))
    q.limit.foreach(n => df = df.limit(n))
    (df, asOf)
  }

  // ── GetBlock (idb.go:171-177): header row + optionally the round's
  //    transactions, guarded by MaxTransactionsLimit. ──────────────────

  final case class GetBlockOptions(
      headerOnly: Boolean = false,
      maxTransactionsLimit: Option[Long] = None)

  final case class MaxTransactionsError(round: Long, count: Long)
      extends Exception(s"round $round has $count transactions > max")

  final case class BlockResult(header: org.apache.spark.sql.Row, transactions: Option[DataFrame])

  def getBlock(store: TableStore, round: Long, opts: GetBlockOptions = GetBlockOptions()): BlockResult = {
    val hdr = store.readRounds("block_header", Some(round), Some(round))
      .filter(col("round") === round).head(1)
    require(hdr.nonEmpty, s"block $round not found")
    if (opts.headerOnly) BlockResult(hdr.head, None)
    else {
      val txns = store.readRounds("txn", Some(round), Some(round))
        .filter(col("round") === round)
      opts.maxTransactionsLimit.foreach { max =>
        val n = txns.count()
        if (n > max) throw MaxTransactionsError(round, n)
      }
      BlockResult(hdr.head, Some(txns.orderBy(asc("intra"))))
    }
  }

  // ── Health / meta / pruning (§2.D tail) ────────────────────────────

  /** F6: box totals per app (TotalBoxes / TotalBoxBytes recomputation —
    * writer_test pins these against account_data; here recomputed from the
    * maintained app_box table). */
  def boxTotals(store: TableStore): DataFrame =
    store.readState("app_box")
      .groupBy("app")
      .agg(count(lit(1)).as("total_boxes"),
        sum(length(col("name")) + length(col("value"))).as("total_box_bytes"))

  /** Health report with the reference's field shape (idb.go Health struct;
    * cockroach.go:416-459): `data` carries migration-required /
    * read-only-mode / migration-status, `round` is the max accounted round
    * (0 when uninitialized), `isMigrating` mirrors a running migration,
    * `dbAvailable` is false only while a blocking migration runs. */
  final case class Health(
      data: Map[String, String],
      round: Long,
      isMigrating: Boolean,
      dbAvailable: Boolean,
      error: String,
      maxRoundAccounted: Option[Long],
      network: Option[String])

  /** Number of schema migrations this engine defines. Parquet tables are
    * schema-on-read, so none exist yet; genesis seeds the metastate
    * `migration` key at MaxLong ("nothing pending", cockroach.go:226-232)
    * and a store whose recorded `next` falls below this count reports
    * migration-required. */
  val RequiredMigrations: Long = 0L

  def health(store: TableStore, readOnly: Boolean = false): Health = {
    val meta = store.metastate
    val next = store.nextRound
    // Missing key on an initialized store = pre-migration-era data, which
    // the reference treats as "migrations pending from 0".
    import graft.codec.CanonicalJson.JValOps
    val migrationNext: Long = meta.get(TableStore.MetaMigration)
      .map(js => graft.codec.CanonicalJson.parse(js).asObj("next").long)
      .getOrElse(0L)
    val required = migrationNext < RequiredMigrations
    val data =
      Map("migration-required" -> required.toString) ++
        (if (readOnly) Map("read-only-mode" -> "true") else Map.empty) ++
        (if (required) Map("migration-status" -> "migration required") else Map.empty)
    Health(
      data = data,
      round = if (next > 0) next - 1 else 0L,
      isMigrating = false, // migrations run synchronously before serving
      dbAvailable = true,
      error = "",
      maxRoundAccounted = if (next > 0) Some(next - 1) else None,
      network = meta.get(TableStore.MetaNetwork))
  }

  /** GetNextRoundToLoad (dummy/dummy.go:41-42): the txn-table loading
    * watermark — where NextRoundToAccount tracks state accounting, this
    * tracks which rounds have landed in the transaction table (they can
    * differ mid-catchup). Metadata-only (manifest round stats). */
  def nextRoundToLoad(store: TableStore): Long = store.nextRoundToLoad

  /** DeleteTransactions(keep): prune txn rows older than `keep`, record the
    * watermark in metastate (dummy.go:107; types.go:33-36), in one
    * commit. Range buckets wholly below `keep` drop out of the manifest
    * unread; only the boundary bucket is rewritten. */
  def deleteTransactions(store: TableStore, keep: Long): Unit =
    store.pruneRounds("txn", keep, sets = Seq("pruned" ->
      graft.codec.CanonicalJson.render(graft.codec.CanonicalJson.JObj.of(
        "OldestRound" -> graft.codec.CanonicalJson.JInt(keep)))))
}
