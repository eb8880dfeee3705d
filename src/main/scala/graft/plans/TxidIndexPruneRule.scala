package graft.plans

import graft.ingest.TableStore
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.{Alias, AttributeReference, EqualNullSafe, EqualTo, Expression, Literal}
import org.apache.spark.sql.catalyst.plans.logical.{Filter, LogicalPlan, Project}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.types.StringType

/** Index-aware logical rewrite: gives the SQL surface the same txid bloom
  * pruning the programmatic Api path gets (SURVEY §4's "custom
  * file-pruning index for txid point lookups", stage (c) of the
  * escalation ladder — a `Rule[LogicalPlan]` where no built-in can help,
  * because Spark's file pruning reasons about partition values and
  * min/max stats, and uniformly-random txids defeat both).
  *
  * `SELECT … FROM txn WHERE txid = '…'` over the [[TableStore.createViews]]
  * view plans as Filter over a parquet relation listing EVERY committed
  * file. This rule spots the conjunct `txid = <literal>` directly above a
  * relation rooted in the store's txn directory and swaps the relation
  * for one over the files whose txid bloom ([[TableStore.fileBloomDecoded]])
  * may hold the literal — the bloom-negative files never reach the file
  * index. The original Filter stays on top
  * (bloom false positives, remaining conjuncts), and the replacement's
  * attributes are aliased back to the original exprIds so the parent plan
  * resolves untouched. A relation already reduced to the candidate set is
  * left alone, which also makes the rule a fixpoint.
  */
case class TxidIndexPruneRule(store: TableStore) extends Rule[LogicalPlan] {

  // inputFiles come back as file:///abs/path (empty authority) — normalize
  // scheme + slashes down to the plain absolute path the store knows.
  private def stripScheme(p: String): String = p.replaceFirst("^file:/+", "/")

  private val txnDir = s"${store.root}/txn/"

  // Root paths are in-memory strings (no listing IO): ALL of them must
  // sit under the table dir — checking just the head would both miss a
  // relation rooted at the directory itself and mis-match a mixed-root
  // relation whose first path happens to be under txn/.
  private def isTxnRelation(rel: HadoopFsRelation): Boolean = {
    val roots = rel.location.rootPaths
    roots.nonEmpty && roots.forall { p =>
      val s = stripScheme(p.toString)
      s.startsWith(txnDir) || s == txnDir.stripSuffix("/")
    }
  }

  /** The txid literal among the Filter's conjuncts, if one targets the
    * relation's own `txid` column. */
  private def txidLiteral(cond: Expression, rel: LogicalRelation): Option[String] = {
    val txidAttr = rel.output.find(_.name == "txid").map(_.exprId)
    def splitConjuncts(e: Expression): Seq[Expression] = e match {
      case org.apache.spark.sql.catalyst.expressions.And(l, r) =>
        splitConjuncts(l) ++ splitConjuncts(r)
      case other => Seq(other)
    }
    splitConjuncts(cond).collectFirst {
      case EqualTo(a: AttributeReference, Literal(v, StringType))
        if txidAttr.contains(a.exprId) && v != null => v.toString
      case EqualTo(Literal(v, StringType), a: AttributeReference)
        if txidAttr.contains(a.exprId) && v != null => v.toString
      case EqualNullSafe(a: AttributeReference, Literal(v, StringType))
        if txidAttr.contains(a.exprId) && v != null => v.toString
    }
  }

  override def apply(plan: LogicalPlan): LogicalPlan = plan transform {
    case f @ Filter(cond, lr: LogicalRelation)
        if lr.relation.isInstanceOf[HadoopFsRelation] &&
          isTxnRelation(lr.relation.asInstanceOf[HadoopFsRelation]) =>
      txidLiteral(cond, lr) match {
        case Some(txid) =>
          val fsRel = lr.relation.asInstanceOf[HadoopFsRelation]
          // Prune WITHIN the relation's own snapshot: keep the VIEW's
          // files, dropping only those whose committed bloom rules the
          // txid out. Never substitute the current manifest's candidate
          // list — that would silently advance this one query to newer
          // data (or, after a compaction rewrote the view's files, shrink
          // a stale view to zero rows). A view file with no bloom entry
          // (pre-index data, or dropped by index maintenance after the
          // file left the manifest) is conservatively kept, so a stale
          // view behaves exactly as it would un-rewritten.
          //
          // Only schema-pinned (manifest-backed) relations are rewritten:
          // a direct spark.read.parquet(root + "/txn") discovers `rbkt`
          // as a partition column, so its output carries an attribute the
          // replacement relation lacks — a positional zip would silently
          // drop it and break any parent reference to it.
          val blooms = store.fileBloomDecoded("txn", "txid")
          val currentRels = fsRel.location.inputFiles
            .map(f => stripScheme(f).stripPrefix(txnDir)).toSeq
          val keep = currentRels.filter { r =>
            blooms.get(r).forall(_.mightContain(txid))
          }
          if (fsRel.partitionSchema.nonEmpty || keep.size == currentRels.size) f
          else {
            val pruned = store.readFiles("txn", keep).queryExecution.analyzed
            if (pruned.output.size != lr.output.size ||
                pruned.output.map(_.name) != lr.output.map(_.name)) f
            else {
              val aliases = lr.output.zip(pruned.output).map { case (o, n) =>
                Alias(n, o.name)(exprId = o.exprId, qualifier = o.qualifier)
              }
              Filter(cond, Project(aliases, pruned))
            }
          }
        case None => f
      }
  }
}

object TxidIndexPruneRule {
  /** Install into the session's extra-optimization batch (idempotent per
    * store root). [[TableStore.createViews]] calls this so any SQL user
    * of the views gets the index for free. */
  def install(spark: SparkSession, store: TableStore): Unit = {
    val already = spark.experimental.extraOptimizations.exists {
      case TxidIndexPruneRule(s) => s.root == store.root
      case _ => false
    }
    if (!already)
      spark.experimental.extraOptimizations =
        spark.experimental.extraOptimizations :+ TxidIndexPruneRule(store)
  }
}
