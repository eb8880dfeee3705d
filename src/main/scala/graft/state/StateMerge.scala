package graft.state

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{IntegerType, LongType}

/** The C-family stateful merge (SURVEY.md §2.C): keyed last-writer-wins
  * upsert with SCD-style lineage columns, reproducing the reference's 15
  * `INSERT ... ON CONFLICT (pk) DO UPDATE` prepared statements
  * (writer.go:39-114) as one declarative keyed aggregate:
  *
  *   - payload columns: last delta in round order wins; absent key keeps
  *     current state (ON CONFLICT updates only payload columns);
  *   - `created_at`: preserved from the first insert (never in any UPDATE
  *     list) — `coalesce(state.created_at, first delta round)`;
  *   - `closed_at`: set by deletes only — `coalesce(last delete round,
  *     state.closed_at)`; a re-create does NOT clear it (upsert statements
  *     do not touch closed_at);
  *   - `deleted`: whatever the last operation says;
  *   - `keytype` (account only): updated only by deltas that carry a
  *     keytype change, preserved otherwise — including across deletes
  *     (delete_account vs delete_account_update_keytype, writer.go:62-76;
  *     pinned by the reference's keytype-preservation test);
  *   - a delete for a never-seen key still inserts a tombstone row with
  *     created_at = closed_at = round (the create-delete-same-round family
  *     of golden tests).
  *
  * Scale notes: each merge is ONE keyed aggregate over the union of the
  * state rows and the delta rows — a single shuffle on the primary key,
  * no windows and no joins. State rows sort below every delta, so the
  * "last" row of a key is its final face. graft.ingest.TableStore stores
  * state hash-bucketed on the key so only touched buckets are read and
  * rewritten — merge cost tracks batch size, not accumulated state size.
  */
object StateMerge {

  /** Order of a row within its key: (src, round, seq), src 0 for the state
    * row and 1 for deltas. `seq` is the statement's position within its
    * block, so two statements for the same key in one block resolve to the
    * later one — the order the reference applies them in — instead of an
    * arbitrary tie pick. Frames without a seq column (ad-hoc callers) fall
    * back to round-only ordering. */
  private def stateOrder: Column = struct(lit(0).as("src"), lit(0L).as("round"), lit(0).as("seq"))

  private def deltaOrder(deltas: DataFrame): Column = struct(lit(1).as("src"),
    col("round").cast(LongType).as("round"),
    (if (deltas.columns.contains("seq")) col("seq").cast(IntegerType) else lit(0)).as("seq"))

  /** A delta column cast to the state table's type (the case-class encoder
    * hands `account_asset.amount` over as Decimal(38,18)). */
  private def asState(state: DataFrame, c: String): Column =
    col(c).cast(state.schema(c).dataType).as(c)

  private def nullOf(state: DataFrame, c: String): Column =
    lit(null).cast(state.schema(c).dataType).as(c)

  /** Soft-delete merge of current state with deltas.
    *
    * @param payload  payload column names (delta overwrites state)
    * @param ktCol    optional presence-gated column (presence flag, value)
    *                 kept from state unless a delta carried it
    */
  def mergeSoftDelete(
      state: DataFrame,
      deltas: DataFrame,
      keys: Seq[String],
      payload: Seq[String],
      ktCol: Option[(String, String)] = None): DataFrame = {
    val noRound = lit(null).cast(LongType)
    val stateRows = state.select(keys.map(col) ++ payload.map(col) ++ Seq(
      col("deleted"), stateOrder.as("_ord"), col("created_at"), col("closed_at"),
      noRound.as("_round"), noRound.as("_delete_round")) ++
      ktCol.toSeq.flatMap { case (_, v) => Seq(col(v).as("_kt"), lit(true).as("_kt_present")) }: _*)
    val deltaRows = deltas.select((keys ++ payload).map(asState(state, _)) ++ Seq(
      col("isDelete").as("deleted"), deltaOrder(deltas).as("_ord"),
      nullOf(state, "created_at"), nullOf(state, "closed_at"),
      col("round").cast(LongType).as("_round"),
      when(col("isDelete"), col("round").cast(LongType)).as("_delete_round")) ++
      ktCol.toSeq.flatMap { case (p, v) => Seq(asState(state, v).as("_kt"), col(p).as("_kt_present")) }: _*)
    stateRows.unionByName(deltaRows)
      .groupBy(keys.map(col): _*)
      .agg(max_by(struct((payload :+ "deleted").map(col): _*), col("_ord")).as("_last"),
        (Seq(max("created_at").as("_created_at"), min("_round").as("_first_round"),
          max("closed_at").as("_closed_at"), max("_delete_round").as("_last_delete_round")) ++
          ktCol.map(_ => max_by(col("_kt"), when(col("_kt_present"), col("_ord"))).as("_kt"))): _*)
      .select(keys.map(col) ++ payload.map(c => col(s"_last.$c").as(c)) ++ Seq(
        col("_last.deleted").as("deleted"),
        coalesce(col("_created_at"), col("_first_round")).as("created_at"),
        coalesce(col("_last_delete_round"), col("_closed_at")).as("closed_at")) ++
        ktCol.map { case (_, v) => col("_kt").as(v) }: _*)
  }

  /** app_box semantics (C7): plain upsert, HARD delete (`DELETE FROM`),
    * no lineage columns (writer.go:108-113, delete matrix golden tests):
    * a key whose last operation is a delete is dropped. */
  def mergeHardDelete(
      state: DataFrame,
      deltas: DataFrame,
      keys: Seq[String],
      payload: Seq[String]): DataFrame = {
    val stateRows = state.select(keys.map(col) ++ payload.map(col) ++
      Seq(lit(false).as("_del"), stateOrder.as("_ord")): _*)
    val deltaRows = deltas.select((keys ++ payload).map(asState(state, _)) ++
      Seq(col("isDelete").as("_del"), deltaOrder(deltas).as("_ord")): _*)
    stateRows.unionByName(deltaRows)
      .groupBy(keys.map(col): _*)
      .agg(max_by(struct((payload :+ "_del").map(col): _*), col("_ord")).as("_last"))
      .filter(!col("_last._del"))
      .select(keys.map(col) ++ payload.map(c => col(s"_last.$c").as(c)): _*)
  }
}
