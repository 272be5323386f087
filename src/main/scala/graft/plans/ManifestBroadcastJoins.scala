package graft.plans

import java.nio.file.Paths

import org.apache.spark.sql.catalyst.plans.Inner
import org.apache.spark.sql.catalyst.plans.logical._
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}

import graft.etl.{TxLog, TxParquetSink}

/** MANIFEST-DRIVEN BROADCAST SELECTION — the strategy decision a
  * cost-based optimizer makes from table statistics, sourced from the
  * transactional sink's own commit log and applied as a Catalyst
  * optimizer rule (injected via [[GraftExtensions]]):
  *
  * For an inner equi-join whose side is a Filter/Project/Union tree
  * over parquet scans of [[TxParquetSink]] tables (the shape every
  * `readSnapshot*` read produces), the side's row count is bounded
  * from the MANIFESTS — each commit represented among the scan's root
  * paths contributes its recorded total once ([[TxParquetSink.pathRows]];
  * masks and file pruning only shrink the true count, so the bound
  * errs toward NOT broadcasting, never toward an OOM). A side whose
  * bound sits under `spark.graft.manifestBroadcast.maxRows` (default
  * 500 000) and at or below the other side's bound gets a BROADCAST
  * join hint; Spark's own JoinSelection does the rest.
  *
  * Why this matters at 100 TB: Spark's size-based auto-broadcast
  * estimates from FILE SIZES, which pruned multi-path unions and
  * masked reads routinely over-state (replaced partitions still sit in
  * the files a snapshot lists); the manifests know the committed row
  * counts exactly, at driver cost O(commits), before any scan runs.
  * The rule never fires on joins that already carry a hint, and never
  * hints both sides. Safety posture: a WRONG row bound cannot corrupt
  * results (the hint changes strategy, not semantics — the spec pins
  * result equality with the rule on and off); an over-bound merely
  * loses the optimization. */
object ManifestBroadcastJoins extends Rule[LogicalPlan] {

  /** Conf key for the broadcast row ceiling. */
  val MaxRowsKey = "spark.graft.manifestBroadcast.maxRows"

  def apply(plan: LogicalPlan): LogicalPlan = {
    val maxRows =
      try conf.getConfString(MaxRowsKey, "500000").toLong
      catch { case _: NumberFormatException => 500000L }
    plan.transformUp {
      case j @ Join(l, r, Inner, Some(_), hint) if hint == JoinHint.NONE =>
        val (nl, nr) = (manifestRows(l), manifestRows(r))
        val leftSmall = nl.exists(n => n <= maxRows && nr.forall(n <= _))
        val rightSmall = nr.exists(n => n <= maxRows && nl.forall(n <= _))
        if (rightSmall) // ties broadcast the right side (build side norm)
          j.copy(hint = JoinHint(None, Some(HintInfo(Some(BROADCAST)))))
        else if (leftSmall)
          j.copy(hint = JoinHint(Some(HintInfo(Some(BROADCAST))), None))
        else j
    }
  }

  /** Manifest row bound for a join side: defined only when the whole
    * subtree is row-preserving-or-reducing operators over tx-table
    * parquet scans, so the leaf bounds bound the side. */
  private def manifestRows(p: LogicalPlan): Option[Long] = p match {
    case f: Filter => manifestRows(f.child)
    case pr: Project => manifestRows(pr.child)
    case a: SubqueryAlias => manifestRows(a.child)
    case u: Union =>
      val parts = u.children.map(manifestRows)
      if (parts.forall(_.isDefined)) Some(parts.flatten.sum) else None
    case lr: LogicalRelation =>
      lr.relation match {
        case fs: HadoopFsRelation =>
          val roots = fs.location.rootPaths.map(_.toUri.getPath)
          tableRows(roots)
        case _ => None
      }
    case _ => None
  }

  /** Sum each commit represented among `roots` once, from the owning
    * table's manifest log ([[tableRootOf]] walks up to `_txlog`). */
  private def tableRows(roots: Seq[String]): Option[Long] =
    for {
      head <- roots.headOption
      table <- tableRootOf(head)
    } yield {
      val byPath = TxParquetSink(table).pathRows()
      roots.flatMap(byPath.get).distinctBy(_._1).map(_._2).sum
    }

  /** Nearest ancestor directory holding a `_txlog` — the table root;
    * None for plain parquet (the rule then stays silent). Shared with
    * [[MetadataAggregates]]. */
  private[plans] def tableRootOf(path: String): Option[String] = {
    var p = Paths.get(path)
    var depth = 0
    while (p != null && depth < 16) {
      if (TxLog.isTable(p)) return Some(p.toString)
      p = p.getParent
      depth += 1
    }
    None
  }
}
