package graft.plans

import scala.collection.mutable.ListBuffer

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Alias, And, AttributeReference, Cast, Expression, Literal, Predicate}
import org.apache.spark.sql.catalyst.expressions.aggregate.{AggregateExpression, Average, Count, Max, Min, Sum}
import org.apache.spark.sql.catalyst.plans.logical._
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

import graft.etl.TxParquetSink
import graft.functions.{KmvNdvAgg, Md5Prefix32}

/** METADATA AGGREGATE PUSHDOWN — the optimization every table format
  * teaches its engine ("SELECT COUNT(*)/MIN/MAX/SUM FROM t [WHERE …]
  * [GROUP BY part]" answered from statistics), done the Spark-native
  * way: a Catalyst optimizer rule (injected via [[GraftExtensions]])
  * that rewrites a whole aggregate over a [[TxParquetSink]] snapshot
  * scan into a LITERAL local relation when — and only when — the
  * sink's commit log can prove every requested value without reading
  * a byte. Every answer comes from ONE sink kernel,
  * [[TxParquetSink.metaProfile]], through ONE [[answer]]:
  *
  *  - the child is Filter/Project/SubqueryAlias over ONE parquet scan
  *    whose root paths cover the table's CURRENT snapshot exactly
  *    ([[TxParquetSink.pathRows]] set equality — a pruned read, a
  *    stale plan, or a foreign parquet dir all fail the check), and
  *    every attribute the aggregates, grouping, or filters reference
  *    is an output OF THE RELATION ITSELF (matched by exprId, with
  *    Projects restricted to pure attribute pass-throughs — an alias
  *    that shadows a table column with a computed expression must
  *    never reach the manifest profile of the raw column);
  *  - ungrouped, the filters (reconstructed via `Expression.sql` → the
  *    sink's own parser) become the kernel's predicate — answerable
  *    only when it proves every file Full or Excluded;
  *  - grouped by bare columns, the kernel folds per group when every
  *    commit is single-valued in every group column (the
  *    partition-grain load shape) — one literal row per group;
  *    deterministic filters over the group columns alone are admitted
  *    (each group is wholly in or out, decided on the driver against
  *    its literal values);
  *  - GROUPING SETS / ROLLUP / CUBE decompose per set
  *    ([[GroupingSetShape.decompose]], shared with [[MvRewrite]]) and
  *    each set answers through the same path;
  *  - in every mode, only if EVERY aggregate in the list is
  *    answerable (all-or-nothing: a plan is never half-rewritten).
  *
  * The rewrite is strictly answer-preserving or absent: every guard
  * failure leaves the original plan untouched, and the kernel never
  * launches a job (pure O(commits) driver metadata — safe inside the
  * optimizer). At 100 TB this turns monitoring-style profiles of a
  * governed table into millisecond plans with NO scan stage at all —
  * the [[TxParquetSink.statsAggregate]] /
  * [[TxParquetSink.statsAggregateWhere]] capability, now reachable
  * from plain `df.agg(...)` / SQL without calling a sink API. */
object MetadataAggregates extends Rule[LogicalPlan] {

  def apply(plan: LogicalPlan): LogicalPlan = plan.transformUp {
    // GROUPING SETS / ROLLUP / CUBE over a partition-grain table: each
    // set's plain aggregate answers through [[answer]] and the literal
    // branches union. The Expand shape is |sets| copies of every row
    // through one shuffle; the rewrite is O(commits) driver metadata.
    case agg @ Aggregate(_, _, _: Expand, _) =>
      GroupingSetShape.decompose(agg, supported)(answer).getOrElse(agg)
    case agg @ Aggregate(groups, aggs, _, _)
        if groups.forall(_.isInstanceOf[AttributeReference]) &&
          aggs.nonEmpty && aggs.forall {
            case a: AttributeReference => groups.exists {
              case g: AttributeReference => g.exprId == a.exprId
              case _ => false
            }
            case Alias(ae: AggregateExpression, _) => supported(ae)
            case _ => false
          } =>
      answer(agg).getOrElse(agg)
  }

  /** The aggregates the metadata tier answers, each over a bare column
    * and without a FILTER clause: COUNT(*)/COUNT(col), MIN/MAX, SUM
    * and AVG of an integral column, exact COUNT(DISTINCT col) (the
    * partition-grain proof, decided per sink in [[answer]]) and
    * `ndv_estimate(col)` in its canonical hashed spelling (the KMV
    * estimate folds from the manifests' per-commit sketches —
    * union-truncate semilattice ⇒ identical to the scan's value).
    * [[MvRewrite]] serves this set minus DISTINCT and `ndv_estimate`.
    *
    * `ndv_estimate` is matched through [[NdvColumn]]: over a STRING
    * column the builder's identity cast is stripped by SimplifyCasts
    * BEFORE this rule runs, so the bare-attribute spelling must match
    * too — otherwise a string-column ndv member would silently keep
    * the whole panel on the scan (all-or-nothing). AVG is ONE division
    * of the exact sum by the exact non-null count — bit-identical to
    * the scan's double accumulation only under the 2^53 subset-sum
    * bound ([[avgBoundOk]], proven per panel; past it the member is
    * unanswerable and the all-or-nothing contract keeps the scan). */
  private[plans] def supported(ae: AggregateExpression): Boolean =
    ae.filter.isEmpty && (ae.aggregateFunction match {
      case Count(Seq(_: AttributeReference)) => true // DISTINCT too
      case _ if ae.isDistinct => false
      case KmvNdvAgg(Md5Prefix32(NdvColumn(_)), _, _, _) => true
      case Count(Seq(l: Literal)) => l.value != null
      case Min(_: AttributeReference) | Max(_: AttributeReference) => true
      case Sum(a: AttributeReference, _) => TxParquetSink.integralType(a.dataType)
      case Average(a: AttributeReference, _) =>
        TxParquetSink.integralType(a.dataType)
      case _ => false
    })

  /** The table column under an `ndv_estimate` hash input: either the
    * builder's canonical `Cast(col AS STRING)` or — for a column that
    * IS a string — the bare attribute left after SimplifyCasts strips
    * the identity cast. Both hash the same bytes as the per-commit
    * manifest sketches (`h32(cast(col as string))`). An extractor so
    * the two match sites share ONE pattern (no guard/get split to
    * drift). */
  private object NdvColumn {
    def unapply(e: Expression): Option[AttributeReference] = e match {
      case Cast(a: AttributeReference, StringType, _, _) => Some(a)
      case a: AttributeReference if a.dataType == StringType => Some(a)
      case _ => None
    }
  }

  /** Filter/pass-through-Project/SubqueryAlias walk down to the single
    * LogicalRelation, collecting filter conditions. A Project whose
    * list is anything but bare AttributeReferences bails: a computed
    * alias could shadow a relation column by NAME while meaning a
    * different value ([[resolvable]] then re-checks by exprId). */
  private def leafOf(n: LogicalPlan,
      filters: ListBuffer[Expression])
      : Option[LogicalRelation] = n match {
    case f: Filter => filters += f.condition; leafOf(f.child, filters)
    case pr: Project
        if pr.projectList.forall(_.isInstanceOf[AttributeReference]) =>
      leafOf(pr.child, filters) // pure pass-through: 1:1 on rows, no renames
    case a: SubqueryAlias => leafOf(a.child, filters)
    case lr: LogicalRelation => Some(lr)
    case _ => None
  }

  /** Every attribute `es` reference must be an output of `lr` ITSELF,
    * matched by exprId — the guard that a shadowing alias (or any
    * attribute manufactured above the scan) never resolves against the
    * base table's manifest stats by name. */
  private def resolvable(lr: LogicalRelation, es: Seq[Expression]): Boolean =
    es.flatMap(_.references).forall(a => lr.outputSet.contains(a))

  /** Every sink whose CURRENT snapshot the scan covers exactly. A
    * diverged shallow clone scans files under BOTH its own root and
    * its source's (cloneTo rewrites borrowed references to absolute
    * source paths), so every scan root contributes a candidate table
    * and each candidate is checked for full coverage — the source
    * fails the equality (it doesn't know the clone's own commits), the
    * clone passes. A fresh, undiverged clone legitimately yields both
    * (identical file sets, identical answers). */
  private[plans] def sinksOf(p: LogicalPlan,
      filters: ListBuffer[Expression],
      checked: Seq[Expression]): Seq[TxParquetSink] =
    (for {
      lr <- leafOf(p, filters).toSeq
      if resolvable(lr, checked ++ filters.toSeq)
      fs <- lr.relation match {
        case h: HadoopFsRelation => Seq(h)
        case _ => Nil
      }
      roots = fs.location.rootPaths.map(_.toUri.getPath)
      table <- roots.flatMap(ManifestBroadcastJoins.tableRootOf).distinct
      sink = TxParquetSink(table)
      // full-coverage check: the scan must read EXACTLY the current
      // snapshot (a pruned read or a post-plan commit fails equality)
      if roots.toSet == sink.pathRows().keySet
    } yield sink)

  private[plans] def sinkOf(p: LogicalPlan,
      filters: ListBuffer[Expression],
      checked: Seq[Expression]): Option[TxParquetSink] =
    sinksOf(p, filters, checked).headOption

  /** THE ANSWER PATH: a plain aggregate (bare-column grouping, every
    * output a group column or a [[supported]] aggregate) as literal
    * rows from [[TxParquetSink.metaProfile]] — all groups, all
    * aggregates, or None. Ungrouped, the filters are the kernel's
    * predicate. Grouped, the key may be COMPOSITE (`GROUP BY store_id,
    * year` over a load whose every commit is single-valued in both),
    * and each group column's value resolves by exprId, so the output
    * list may reference them in any order; filters are admitted when
    * they are deterministic and constrain GROUP columns alone — every
    * row of a group carries one value per group column, so a predicate
    * over them includes or excludes groups WHOLE, evaluated on the
    * driver against each group's literal values with Filter's own
    * null-drops semantics. A filter touching any other column, or a
    * non-deterministic one (the scan would evaluate it per row), keeps
    * the scan. Group values must round-trip exactly through [[typed]]. */
  private def answer(agg: Aggregate): Option[LogicalPlan] = {
    val gs = agg.groupingExpressions.map(_.asInstanceOf[AttributeReference])
    val named = agg.aggregateExpressions
    val filters = ListBuffer.empty[Expression]
    val sink = sinkOf(agg.child, filters, named).getOrElse(return None)
    val spark = SparkSession.active
    val predicate =
      if (gs.isEmpty && filters.nonEmpty) Some(scala.util.Try(
        filters.map(_.sql).mkString("(", ") AND (", ")")).getOrElse(return None))
      else None
    if (gs.nonEmpty && !filters.forall(c => c.deterministic &&
        c.references.forall(a => gs.exists(_.exprId == a.exprId)))) return None
    val keep = filters.reduceOption(And).filter(_ => gs.nonEmpty).map { c =>
      val bp = Predicate.create(c, gs)
      bp.initialize(0)
      bp
    }
    // the whole-table resolvers (ungrouped, unfiltered only). Exact
    // DISTINCT: every data commit single-valued and null-free in the
    // column ⇒ the table's distinct values ARE the per-commit values
    // (nulls are excluded by construction, matching COUNT(DISTINCT)'s
    // null-skip), admitted only when every value passes the grouped
    // rows' [[typed]] gate — a rendering the engine would fold (−0.0
    // vs 0.0, one instant stamped under two session zones) declines.
    // KMV: the manifests' per-commit sketches union-truncated
    // ([[TxParquetSink.tableSketch]] refuses masked logs and logs with
    // unsketched commits) through the SHARED estimator — identical to
    // the scan aggregate's value provided the query's k equals the
    // persisted sketches' k.
    val whole = gs.isEmpty && filters.isEmpty
    val distinct: AttributeReference => Option[Long] = a =>
      if (!whole) None
      else sink.metaProfile(spark, None, Seq(a.name), Nil).flatMap { groups =>
        val vs = groups.map(g => typed(g._1.head, a.dataType))
        if (vs.forall(_.isDefined)) Some(vs.flatten.distinct.size.toLong) else None
      }
    val sketch: (AttributeReference, Int) => Option[Double] = (a, k) =>
      if (!whole) None
      else scala.util.Try(sink.tableSketch(a.name)).toOption
        .filter(_.k == k)
        .map(km => KmvNdvAgg.estimate(
          k, km.mins.size, if (km.mins.isEmpty) 0L else km.mins.last))
    val aggs = named.collect { case Alias(ae: AggregateExpression, _) => ae }
    val groups = sink.metaProfile(spark, predicate, gs.map(_.name),
      profiledCols(aggs)).getOrElse(return None)
    val rows = groups.flatMap { case (gvs, n, profiles) =>
      val gVals = gs.zip(gvs).map { case (g, v) =>
        typed(v, g.dataType).getOrElse(return None) }
      val row = InternalRow(gVals: _*)
      if (!keep.forall(_.eval(row))) None // excluded group: no output row
      else {
        val byId = gs.map(_.exprId).zip(gVals).toMap
        Some(InternalRow(named.map {
          case a: AttributeReference => byId(a.exprId)
          case Alias(ae: AggregateExpression, _) =>
            valueOf(ae, n, profiles.get, distinct, sketch).getOrElse(return None)
          case _ => return None // unreachable: apply's guard
        }: _*))
      }
    }
    Some(LocalRelation(agg.output, rows))
  }

  /** The attribute columns an aggregate list profiles. */
  private def profiledCols(aggs: Seq[AggregateExpression]): Seq[String] =
    aggs.flatMap(_.aggregateFunction match {
      case Count(Seq(_: Literal)) => None
      case Count(Seq(a: AttributeReference)) => Some(a.name)
      case Min(a: AttributeReference) => Some(a.name)
      case Max(a: AttributeReference) => Some(a.name)
      case Sum(a: AttributeReference, _) => Some(a.name)
      case Average(a: AttributeReference, _) => Some(a.name)
      case _ => None
    }).distinct

  /** One aggregate's literal value from (group rows, column profiles);
    * `Some(null)` is a legitimate SQL answer (empty MIN/SUM), `None`
    * kills the whole rewrite. */
  private def valueOf(ae: AggregateExpression, rows: Long,
      profile: String => Option[TxParquetSink.ColMetaProfile],
      distinct: AttributeReference => Option[Long],
      sketch: (AttributeReference, Int) => Option[Double]): Option[Any] =
    if (ae.isDistinct) ae.aggregateFunction match {
      // exact COUNT(DISTINCT col) — only the partition-grain resolver
      // (unfiltered whole-table path) answers
      case Count(Seq(a: AttributeReference)) =>
        if (rows == 0L) Some(0L) else distinct(a).map(n => n: Any)
      case _ => None
    }
    else ae.aggregateFunction match {
      case KmvNdvAgg(Md5Prefix32(NdvColumn(a)), k, _, _) =>
        if (rows == 0L) Some(0.0d) else sketch(a, k).map(d => d: Any)
      case Count(Seq(_: Literal)) => Some(rows)
      case Count(Seq(a: AttributeReference)) =>
        if (rows == 0L) Some(0L)
        else profile(a.name).flatMap(_.nonNull).map(n => n: Any)
      case Min(a: AttributeReference) =>
        if (rows == 0L) Some(null)
        else profile(a.name).flatMap(p => typed(p.min, a.dataType))
      case Max(a: AttributeReference) =>
        if (rows == 0L) Some(null)
        else profile(a.name).flatMap(p => typed(p.max, a.dataType))
      case Sum(a: AttributeReference, _) =>
        // the scanning plan's long sum would wrap on overflow; the
        // exact fold only substitutes when no wrap can occur
        if (rows == 0L) Some(null)
        else profile(a.name).flatMap(_.sum).filter(_.isValidLong)
          .map(s => s.toLong: Any)
      case Average(a: AttributeReference, _) =>
        // divide-last over the exact manifest partials, admitted only
        // under the shared [[avgBoundOk]] 2^53 proof; AVG of zero
        // non-null values is NULL, like the scan
        if (rows == 0L) Some(null)
        else for {
          p <- profile(a.name)
          if avgBoundOk(p)
          nn <- p.nonNull
          s <- p.sum
        } yield if (nn == 0L) null
          else (s.toDouble / nn.toDouble): Any
      case _ => None
    }

  /** THE 2^53 AVG exactness proof, shared by this rule and
    * [[MvRewrite]]'s divide-last AVG: every intermediate partial a
    * scanning plan's double accumulation can form is a subset sum, so
    * |partial| ≤ max(|min|,|max|) · rows — under 2^53 every such sum
    * is an exactly-representable integer double and the scan's result
    * equals the exact long fold bit-for-bit. Non-numeric or unparsable
    * extremes decline. */
  private[plans] def avgBoundOk(p: TxParquetSink.ColMetaProfile): Boolean =
    p.num && scala.util.Try(
      BigDecimal(p.min).abs.max(BigDecimal(p.max).abs) * p.rows <
        BigDecimal(BigInt(1) << 53)).getOrElse(false)

  /** A cast-to-string manifest extremum back in the engine's type —
    * only domains whose round-trip is exact. */
  private def typed(v: String, dt: DataType): Option[Any] =
    scala.util.Try[Any] {
      dt match {
        case StringType => UTF8String.fromString(v)
        case LongType => v.toLong
        case IntegerType => v.toInt
        case ShortType => v.toShort
        case ByteType => v.toByte
        case DateType => java.time.LocalDate.parse(v).toEpochDay.toInt
        case _ => throw new IllegalArgumentException("unsupported")
      }
    }.toOption
}
