package graft.state

import graft.{Fixtures, SparkSpec}
import graft.ingest.TableStore
import graft.model._
import org.apache.spark.sql.{Encoder, Row}
import org.apache.spark.sql.functions.col
import scala.util.Random

/** Model-based check: random operation sequences applied two ways —
  * (a) sequentially through an in-memory model that implements the
  * reference's prepared statements verbatim (writer.go:39-114, one op at
  * a time, exactly the ON CONFLICT semantics), and (b) through the
  * declarative batched StateMerge, split across random batch boundaries.
  * Any divergence in the batch reduction (first-round/last-delete/keytype
  * aggregation) that the handwritten cases don't cover shows up here.
  * All six state tables are covered: account (keytype), app_box (hard
  * delete) and the four plain soft-delete tables, the latter compared as
  * whole tables in the store's own schema.
  */
class MergeModelCheckSpec extends SparkSpec {
  import Fixtures._

  // ── the in-memory model: one reference statement at a time ──────────

  private case class MAcct(
      micro: Long, rb: Long, rt: Long, deleted: Boolean,
      created: Long, closed: Option[Long], kt: Option[String], data: Option[String])

  private def modelApply(state: Map[String, MAcct], op: AccountDeltaRow): Map[String, MAcct] = {
    val existing = state.get(op.addr)
    val next = existing match {
      case None =>
        // INSERT branch: created_at = round; delete also sets closed_at
        MAcct(op.microalgos, op.rewardsbase, op.rewards_total, op.isDelete,
          op.round, if (op.isDelete) Some(op.round) else None,
          if (op.ktPresent) op.keytype else None, op.account_data)
      case Some(cur) =>
        // ON CONFLICT DO UPDATE: payload + deleted; closed_at only on
        // delete; created_at never; keytype only when the stmt carries it
        MAcct(op.microalgos, op.rewardsbase, op.rewards_total, op.isDelete,
          cur.created, if (op.isDelete) Some(op.round) else cur.closed,
          if (op.ktPresent) op.keytype else cur.kt, op.account_data)
    }
    state.updated(op.addr, next)
  }

  private def randomOps(rnd: Random, nRounds: Int, keys: Seq[String]): Seq[AccountDeltaRow] =
    (0 until nRounds).flatMap { r =>
      keys.filter(_ => rnd.nextDouble() < 0.4).map { k =>
        val del = rnd.nextDouble() < 0.3
        val ktPresent = rnd.nextDouble() < 0.4
        val kt = if (ktPresent && rnd.nextDouble() < 0.7)
          Some(Seq("sig", "msig", "lsig")(rnd.nextInt(3))) else None
        if (del)
          AccountDeltaRow(k, r, isDelete = true, 0, 0, 0, ktPresent, kt, Some("null"))
        else
          AccountDeltaRow(k, r, isDelete = false,
            rnd.nextInt(1000000).toLong, rnd.nextInt(100).toLong, rnd.nextInt(100).toLong,
            ktPresent, kt, Some(s"""{"v":${rnd.nextInt(100)}}"""))
      }
    }

  test("random op sequences: batched merge == sequential reference model (accounts)") {
    import spark.implicits._
    val keys = (1 to 8).map(addr)
    for (seed <- 1 to 5) {
      val rnd = new Random(seed)
      val ops = randomOps(rnd, nRounds = 12, keys)

      val expected = ops.foldLeft(Map.empty[String, MAcct])(modelApply)

      // random batch boundaries over rounds
      val cut1 = rnd.nextInt(12)
      val cut2 = cut1 + rnd.nextInt(12 - cut1)
      val batches = Seq(
        ops.filter(_.round < cut1), ops.filter(o => o.round >= cut1 && o.round < cut2),
        ops.filter(_.round >= cut2)).filter(_.nonEmpty)

      var state = spark.createDataset(Seq.empty[AccountRow]).toDF()
      batches.foreach { b =>
        state = StateMerge.mergeSoftDelete(
          state, spark.createDataset(b).toDF(),
          Seq("addr"), Seq("microalgos", "rewardsbase", "rewards_total", "account_data"),
          ktCol = Some(("ktPresent", "keytype")))
          .select("addr", "microalgos", "rewardsbase", "rewards_total", "deleted",
            "created_at", "closed_at", "keytype", "account_data")
          .localCheckpoint(true)
      }

      val actual = state.as[AccountRow].collect().map(r => r.addr ->
        MAcct(r.microalgos, r.rewardsbase, r.rewards_total, r.deleted,
          r.created_at, r.closed_at, r.keytype, r.account_data)).toMap
      assert(actual == expected, s"seed $seed diverged")
    }
  }

  test("random op sequences: batched hard-delete merge == model (boxes)") {
    import spark.implicits._
    for (seed <- 1 to 5) {
      val rnd = new Random(seed * 100)
      val names = Seq("a", "b", "c", "d")
      val ops = (0 until 10).flatMap { r =>
        names.filter(_ => rnd.nextDouble() < 0.5).map { n =>
          if (rnd.nextDouble() < 0.35)
            AppBoxDeltaRow(1, n.getBytes, r, isDelete = true, None)
          else
            AppBoxDeltaRow(1, n.getBytes, r, isDelete = false, Some(s"v$r-$n".getBytes))
        }
      }
      val expected = ops.foldLeft(Map.empty[String, String]) { (m, op) =>
        if (op.isDelete) m - new String(op.name)
        else m.updated(new String(op.name), new String(op.value.get))
      }

      val cut = rnd.nextInt(10)
      val batches = Seq(ops.filter(_.round < cut), ops.filter(_.round >= cut)).filter(_.nonEmpty)
      var state = spark.createDataset(Seq.empty[AppBoxRow]).toDF()
      batches.foreach { b =>
        state = StateMerge.mergeHardDelete(state, spark.createDataset(b).toDF(),
          Seq("app", "name"), Seq("value")).localCheckpoint(true)
      }
      val actual = state.as[AppBoxRow].collect()
        .map(r => new String(r.name) -> new String(r.value)).toMap
      assert(actual == expected, s"seed $seed diverged")
    }
  }

  // ── the plain soft-delete tables: asset, app, account_asset, account_app ─

  /** One statement as the model sees it. */
  private final case class Op(key: Seq[Any], round: Long, seq: Int, del: Boolean, payload: Seq[Any])

  private final case class MRow(payload: Seq[Any], deleted: Boolean, created: Long, closed: Option[Long])

  /** writer.go's upsert/delete statements applied one at a time in
    * (round, seq) order: INSERT sets created_at (and closed_at on a
    * delete); ON CONFLICT updates payload and deleted, and closed_at only
    * on a delete. */
  private def softModel(ops: Seq[Op]): Map[Seq[Any], MRow] =
    ops.sortBy(o => (o.round, o.seq)).foldLeft(Map.empty[Seq[Any], MRow]) { (m, o) =>
      m.updated(o.key, m.get(o.key) match {
        case None => MRow(o.payload, o.del, o.round, if (o.del) Some(o.round) else None)
        case Some(cur) => MRow(o.payload, o.del, cur.created, if (o.del) Some(o.round) else cur.closed)
      })
    }

  private def norm(v: Any): Any = v match {
    case Some(x) => norm(x)
    case None => null
    case d: java.math.BigDecimal => BigInt(d.toBigIntegerExact)
    case other => other
  }

  /** A seeded chain over 6 keys and 12 rounds — some keys get two
    * statements in one round (seq order decides) — merged in up to three
    * random batches from an empty table in the store's schema, then
    * compared as a whole table against the model. */
  private def checkSoftTable[D <: Product : Encoder](table: String, keys: Seq[String], payload: Seq[String])(
      gen: (Random, Int, Long, Int, Boolean) => D)(op: D => Op): Unit = {
    val schema = TableStore.Schemas(table)
    for (seed <- 1 to 3) {
      val rnd = new Random(seed * 31 + table.length)
      val ops = (0L until 12L).flatMap { r =>
        val stmts = (0 until 6).filter(_ => rnd.nextDouble() < 0.4)
          .flatMap(k => Seq.fill(if (rnd.nextDouble() < 0.2) 2 else 1)(k))
        stmts.zipWithIndex.map { case (k, seq) => gen(rnd, k, r, seq, rnd.nextDouble() < 0.3) }
      }
      val expected = softModel(ops.map(op)).map { case (k, m) => k -> m.copy(payload = m.payload.map(norm)) }

      val cut1 = rnd.nextInt(12)
      val cut2 = cut1 + rnd.nextInt(12 - cut1)
      val batches = Seq(
        ops.filter(op(_).round < cut1), ops.filter(o => op(o).round >= cut1 && op(o).round < cut2),
        ops.filter(op(_).round >= cut2)).filter(_.nonEmpty)
      var state = spark.createDataFrame(spark.sparkContext.emptyRDD[Row], schema)
      batches.foreach { b =>
        state = StateMerge.mergeSoftDelete(state, spark.createDataset(rnd.shuffle(b)).toDF(), keys, payload)
          .select(schema.fields.map(f => col(f.name).cast(f.dataType)).toSeq: _*)
          .localCheckpoint(true)
      }

      val actual = state.collect().map { r =>
        keys.map(r.getAs[Any]) -> MRow(payload.map(c => norm(r.getAs[Any](c))),
          r.getAs[Boolean]("deleted"), r.getAs[Long]("created_at"),
          Option(r.getAs[java.lang.Long]("closed_at")).map(_.longValue))
      }.toMap
      assert(actual == expected, s"$table seed $seed diverged")
    }
  }

  private def json(rnd: Random, del: Boolean): Option[String] =
    if (del) Some("null") else Some(s"""{"v":${rnd.nextInt(100)}}""")

  test("random op sequences: batched merge == model (asset, app, account_asset, account_app)") {
    import spark.implicits._
    checkSoftTable[AssetDeltaRow]("asset", Seq("id"), Seq("creator_addr", "params")) {
      (rnd, k, r, seq, del) => AssetDeltaRow(1000L + k, r, del, addr(1 + rnd.nextInt(3)), json(rnd, del), seq)
    }(d => Op(Seq(d.id), d.round, d.seq, d.isDelete, Seq(d.creator_addr, d.params)))

    checkSoftTable[AppDeltaRow]("app", Seq("id"), Seq("creator", "params")) {
      (rnd, k, r, seq, del) => AppDeltaRow(2000L + k, r, del, addr(1 + rnd.nextInt(3)), json(rnd, del), seq)
    }(d => Op(Seq(d.id), d.round, d.seq, d.isDelete, Seq(d.creator, d.params)))

    // amounts up to uint64 max: the delta's Decimal(38,18) must land in
    // the table's Decimal(20,0) intact
    val amounts = Seq(BigInt(0), BigInt(7), BigInt("18446744073709551615"))
    checkSoftTable[AccountAssetDeltaRow]("account_asset", Seq("addr", "assetid"), Seq("amount", "frozen")) {
      (rnd, k, r, seq, del) => AccountAssetDeltaRow(addr(1 + k % 3), 1000L + k / 3, r, del,
        if (del) java.math.BigDecimal.ZERO else new java.math.BigDecimal(amounts(rnd.nextInt(3)).bigInteger),
        !del && rnd.nextBoolean(), seq)
    }(d => Op(Seq(d.addr, d.assetid), d.round, d.seq, d.isDelete, Seq(d.amount, d.frozen)))

    checkSoftTable[AccountAppDeltaRow]("account_app", Seq("addr", "app"), Seq("localstate")) {
      (rnd, k, r, seq, del) => AccountAppDeltaRow(addr(1 + k % 3), 2000L + k / 3, r, del, json(rnd, del), seq)
    }(d => Op(Seq(d.addr, d.app), d.round, d.seq, d.isDelete, Seq(d.localstate)))
  }
}
