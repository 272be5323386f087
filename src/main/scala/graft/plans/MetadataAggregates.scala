package graft.plans

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Alias, AttributeReference, Cast, Expression, Literal, NamedExpression}
import org.apache.spark.sql.catalyst.expressions.aggregate.{AggregateExpression, Average, Count, Max, Min, Sum}

import graft.functions.{KmvNdvAgg, Md5Prefix32}
import org.apache.spark.sql.catalyst.plans.logical._
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

import graft.etl.TxParquetSink

/** METADATA AGGREGATE PUSHDOWN — the optimization every table format
  * teaches its engine ("SELECT COUNT(*)/MIN/MAX/SUM FROM t [WHERE …]
  * [GROUP BY part]" answered from statistics), done the Spark-native
  * way: a Catalyst optimizer rule (injected via [[GraftExtensions]])
  * that rewrites a whole aggregate over a [[TxParquetSink]] snapshot
  * scan into a LITERAL local relation when — and only when — the
  * sink's commit log can prove every requested value without reading
  * a byte:
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
  *  - with filters present, `COUNT(literal)`, `COUNT(col)`, `MIN`/
  *    `MAX`, and integral `SUM` rewrite through
  *    [[TxParquetSink.filteredMetaProfile]] — answerable only when the
  *    predicate (reconstructed via `Expression.sql` → the sink's own
  *    parser) proves every file Full or Excluded;
  *  - with no filters, the same panel rewrites through
  *    [[TxParquetSink.columnMetaProfile]];
  *  - grouped by a single bare column, the panel rewrites through
  *    [[TxParquetSink.groupedMetaProfileMulti]] when every commit is
  *    single-valued in the group column (the partition-grain load
  *    shape) — one literal row per group; deterministic filters over
  *    the group column itself are admitted (each group is wholly in or
  *    out, decided on the driver against its literal value);
  *  - in every mode, only if EVERY aggregate in the list is
  *    answerable (all-or-nothing: a plan is never half-rewritten).
  *
  * The rewrite is strictly answer-preserving or absent: every guard
  * failure leaves the original plan untouched, and the kernels never
  * launch a job (pure O(commits) driver metadata — safe inside the
  * optimizer). At 100 TB this turns monitoring-style profiles of a
  * governed table into millisecond plans with NO scan stage at all —
  * the [[TxParquetSink.statsAggregate]] /
  * [[TxParquetSink.statsAggregateWhere]] capability, now reachable
  * from plain `df.agg(...)` / SQL without calling a sink API. */
object MetadataAggregates extends Rule[LogicalPlan] {

  def apply(plan: LogicalPlan): LogicalPlan = plan.transformUp {
    case agg @ Aggregate(Nil, aggs, child, _)
        if aggs.nonEmpty && aggs.forall {
          case Alias(ae: AggregateExpression, _) => supported(ae)
          case _ => false
        } =>
      answer(child, agg.aggregateExpressions,
        aggs.map { case Alias(ae: AggregateExpression, _) => ae })
        .map(vs => LocalRelation(agg.output, Seq(InternalRow(vs: _*))))
        .getOrElse(agg)
    // GROUPING SETS / ROLLUP / CUBE over a partition-grain table:
    // Aggregate-over-Expand decomposes per grouping set — each
    // non-empty set answers through the grouped manifest fold, the
    // grand total through the whole-table profile (with a row-count
    // probe so an EMPTY table yields zero rows, matching the native
    // shape) — and the rows union into one LocalRelation. The Expand
    // shape is |sets| copies of every row through one shuffle; the
    // rewrite is O(commits) driver metadata, zero scan.
    case agg @ Aggregate(groups, aggs, expand: org.apache.spark.sql.catalyst.plans.logical.Expand, _)
        if groups.forall(_.isInstanceOf[AttributeReference]) &&
          aggs.nonEmpty &&
          groups.exists(_.asInstanceOf[AttributeReference].name ==
            org.apache.spark.sql.catalyst.expressions.VirtualColumn.groupingIdName) =>
      answerGroupingSets(groups.map(_.asInstanceOf[AttributeReference]),
        aggs, expand)
        .map(rows => LocalRelation(agg.output, rows))
        .getOrElse(agg)
    case agg @ Aggregate(groups, aggs, child, _)
        if groups.nonEmpty &&
          groups.forall(_.isInstanceOf[AttributeReference]) &&
          aggs.nonEmpty && {
            val gIds = groups.map(_.asInstanceOf[AttributeReference].exprId).toSet
            aggs.forall {
              case a: AttributeReference => gIds.contains(a.exprId)
              case Alias(ae: AggregateExpression, _) => supported(ae)
              case _ => false
            }
          } =>
      answerGrouped(child, groups.map(_.asInstanceOf[AttributeReference]), aggs)
        .map(rows => LocalRelation(agg.output, rows))
        .getOrElse(agg)
  }

  private def answerGroupingSets(groups: Seq[AttributeReference],
      named: Seq[NamedExpression],
      expand: org.apache.spark.sql.catalyst.plans.logical.Expand)
      : Option[Seq[InternalRow]] = {
    val shape = GroupingSetShape.of(groups, expand).getOrElse(return None)
    if (!GroupingSetShape.outputsOk(groups, named, supported)) return None
    val aggAliases = named.collect {
      case Alias(ae: AggregateExpression, _) => ae
    }
    val rowsPerSet: Seq[Option[Seq[InternalRow]]] =
      shape.sets.map { case (gidLit, included) =>
        val branchGroups = shape.setCols.flatMap(c => included.get(c.exprId))
        // assemble one output row in the rollup's own column order
        def assemble(groupVal: org.apache.spark.sql.catalyst.expressions.ExprId => Any, aggVal: Int => Any): InternalRow = {
          var ai = -1
          InternalRow(named.map {
            case a: AttributeReference =>
              if (a.exprId == shape.gid.exprId) gidLit.value else groupVal(a.exprId)
            case Alias(a: AttributeReference, _) =>
              if (a.exprId == shape.gid.exprId) gidLit.value else groupVal(a.exprId)
            case Alias(_: AggregateExpression, _) => ai += 1; aggVal(ai)
            case _ => null // unreachable: outputsOk gated
          }: _*)
        }
        if (branchGroups.isEmpty) {
          // grand total: the whole-table panel PLUS a row-count probe —
          // a native rollup over an empty input emits NO rows. Only the
          // aggregate ALIASES go into the resolvable check: the
          // rollup's group outputs are Expand attributes, not relation
          // columns
          val probe = Count(Literal(1)).toAggregateExpression()
          val aliasesOnly = named.collect {
            case al @ Alias(_: AggregateExpression, _) => al
          }
          answer(expand.child, aliasesOnly, aggAliases :+ probe).map { vs =>
            if (vs.last.asInstanceOf[Long] == 0L) Nil
            else Seq(assemble(_ => null, i => vs(i)))
          }
        } else {
          // the per-set branch: groups + aggregates through the
          // ordinary grouped manifest fold, then remapped into the
          // rollup's output shape (kept columns, NULLs, grouping id)
          val branchNamed: Seq[NamedExpression] = branchGroups ++
            named.collect { case al @ Alias(_: AggregateExpression, _) => al }
          val gPos = branchGroups.map(_.exprId).zipWithIndex.toMap
          answerGrouped(expand.child, branchGroups, branchNamed).map(_.map {
            row =>
              assemble(
                // the output attr is the EXPAND's group copy: map it to
                // the child attribute this set keeps, then to its slot
                copyId => included.get(copyId)
                  .flatMap(child => gPos.get(child.exprId)) match {
                  case Some(i) => row.get(i, branchGroups(i).dataType)
                  case None => null // rolled-up column
                },
                i => row.get(branchGroups.size + i, aggAliases(i).dataType))
          })
        }
      }
    if (rowsPerSet.exists(_.isEmpty)) return None
    Some(rowsPerSet.flatMap(_.get))
  }

  private def supported(ae: AggregateExpression): Boolean =
    if (ae.isDistinct)
      // COUNT(DISTINCT col): answerable from manifests alone when the
      // table is partition-grain in `col` (every commit single-valued,
      // no nulls) — the [[TxParquetSink.groupedMetaProfileMulti]]
      // machinery; [[valueOf]]'s resolver decides per sink
      ae.filter.isEmpty && (ae.aggregateFunction match {
        case Count(Seq(_: AttributeReference)) => true
        case _ => false
      })
    else ae.filter.isEmpty && (ae.aggregateFunction match {
      // ndv_estimate(col) in its canonical hashed spelling: the KMV
      // estimate folds from the manifests' per-commit sketches
      // (union-truncate semilattice ⇒ identical to the scan's value).
      // Matched through [[ndvColumn]]: over a STRING column the
      // builder's identity cast is stripped by SimplifyCasts BEFORE
      // this rule runs, so the bare-attribute spelling must match too
      // — otherwise a string-column ndv member would silently keep
      // the whole panel on the scan (all-or-nothing).
      case KmvNdvAgg(Md5Prefix32(NdvColumn(_)), _, _, _) => true
      case Count(Seq(l: Literal)) => l.value != null
      case Count(Seq(_: AttributeReference)) => true
      case Min(_: AttributeReference) => true
      case Max(_: AttributeReference) => true
      case Sum(a: AttributeReference, _) => a.dataType match {
        case ByteType | ShortType | IntegerType | LongType => true
        case _ => false
      }
      // AVG of an integral column: ONE division of the exact manifest
      // sum by the exact non-null count — bit-identical to the scan's
      // double accumulation only under the 2^53 subset-sum bound
      // ([[valueOf]] proves it per panel from the profile's own
      // min/max/rows; past the bound the member is unanswerable and
      // the all-or-nothing contract keeps the scan)
      case Average(a: AttributeReference, _) => a.dataType match {
        case ByteType | ShortType | IntegerType | LongType => true
        case _ => false
      }
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
      filters: scala.collection.mutable.ListBuffer[Expression])
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
      filters: scala.collection.mutable.ListBuffer[Expression],
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
      filters: scala.collection.mutable.ListBuffer[Expression],
      checked: Seq[Expression]): Option[TxParquetSink] =
    sinksOf(p, filters, checked).headOption

  /** All the aggregates' literal values, or None if any guard fails. */
  private def answer(p: LogicalPlan, named: Seq[NamedExpression],
      aggs: Seq[AggregateExpression]): Option[Seq[Any]] = {
    val filters = scala.collection.mutable.ListBuffer.empty[Expression]
    for {
      sink <- sinkOf(p, filters, named)
      values <-
        if (filters.nonEmpty) filteredPanel(sink, filters.toSeq, aggs)
        else wholeTable(sink, aggs)
    } yield values
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
      distinct: String => Option[Long] = _ => None,
      sketch: (String, Int) => Option[Double] = (_, _) => None): Option[Any] =
    if (ae.isDistinct) ae.aggregateFunction match {
      // exact COUNT(DISTINCT col) — only the partition-grain resolver
      // (unfiltered whole-table path) answers; everywhere else the
      // default `None` keeps the scan
      case Count(Seq(a: AttributeReference)) =>
        if (rows == 0L) Some(0L) else distinct(a.name).map(n => n: Any)
      case _ => None
    }
    else ae.aggregateFunction match {
      case KmvNdvAgg(Md5Prefix32(NdvColumn(a)), k, _, _) =>
        if (rows == 0L) Some(0.0d) else sketch(a.name, k).map(d => d: Any)
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

  /** Filtered path: the whole panel from the Full/Excluded file
    * classification — boundary-exact or absent, never a scan. */
  private def filteredPanel(sink: TxParquetSink, filters: Seq[Expression],
      aggs: Seq[AggregateExpression]): Option[Seq[Any]] =
    for {
      predSql <- scala.util.Try(
        filters.map(_.sql).mkString("(", ") AND (", ")")).toOption
      profiled <- sink.filteredMetaProfile(SparkSession.active, predSql,
        profiledCols(aggs))
      (rows, profiles) = profiled
      vs = aggs.map(valueOf(_, rows, profiles.get))
      if vs.forall(_.isDefined)
    } yield vs.map(_.get)

  /** Unfiltered path: counts, extremes, and exact sums from the
    * per-column manifest profiles — all-or-nothing. */
  private def wholeTable(sink: TxParquetSink,
      aggs: Seq[AggregateExpression]): Option[Seq[Any]] = {
    val spark = SparkSession.active
    // exact DISTINCT resolver: partition-grain proof — every data
    // commit single-valued and null-free in the column ⇒ the table's
    // distinct values ARE the distinct per-commit values (each group
    // in the fold is one value; nulls are excluded by construction,
    // matching COUNT(DISTINCT)'s null-skip). O(commits) driver work.
    val distinctRes: String => Option[Long] = c =>
      sink.groupedMetaProfileMulti(Seq(c), Nil).map(_.size.toLong)
    // KMV resolver: the manifests' per-commit sketches union-truncated
    // ([[TxParquetSink.tableSketch]] refuses masked logs and logs with
    // unsketched commits) through the SHARED estimator — identical to
    // the scan aggregate's value by the semilattice property, provided
    // the query's k equals the persisted sketches' k.
    val sketchRes: (String, Int) => Option[Double] = (c, k) =>
      scala.util.Try(sink.tableSketch(c)).toOption
        .filter(_.k == k)
        .map(km => graft.functions.KmvNdvAgg.estimate(
          k, km.mins.size, if (km.mins.isEmpty) 0L else km.mins.last))
    for {
      rows <- sink.countFromMetadata(spark, None)
      profiles = scala.collection.mutable.Map.empty[String,
        Option[TxParquetSink.ColMetaProfile]]
      vs = aggs.map(valueOf(_, rows,
        c => profiles.getOrElseUpdate(c, sink.columnMetaProfile(c)),
        distinctRes, sketchRes))
      if vs.forall(_.isDefined)
    } yield vs.map(_.get)
  }

  /** Grouped path: one literal row per group TUPLE from the
    * partition-grain per-commit records — all groups, all aggregates,
    * or nothing. The key may be COMPOSITE (`GROUP BY store_id, year`
    * over a load whose every commit is single-valued in both columns —
    * the multi-dimension partition grain); each group column's value
    * resolves by exprId, so the output list may reference them in any
    * order. Filters are admitted when they constrain GROUP columns
    * alone: every commit (hence every row of a group) carries one
    * value per group column, so a predicate over them includes or
    * excludes tuples WHOLE — evaluated on the driver against each
    * tuple's literal values with Filter's own null-drops semantics. A
    * filter touching any other column, or a non-deterministic one (the
    * scan would evaluate it per row), keeps the scan. */
  private def answerGrouped(p: LogicalPlan, gs: Seq[AttributeReference],
      named: Seq[NamedExpression]): Option[Seq[InternalRow]] = {
    val filters = scala.collection.mutable.ListBuffer.empty[Expression]
    val aggs = named.collect { case Alias(ae: AggregateExpression, _) => ae }
    val gIds = gs.map(_.exprId).toSet
    for {
      sink <- sinkOf(p, filters, named)
      conds = filters.toSeq
      if conds.forall(c => c.deterministic &&
        c.references.forall(a => gIds.contains(a.exprId)))
      pred = conds.reduceOption(
          org.apache.spark.sql.catalyst.expressions.And).map { c =>
        val bp = org.apache.spark.sql.catalyst.expressions.Predicate
          .create(c, gs)
        bp.initialize(0)
        bp
      }
      groups <- sink.groupedMetaProfileMulti(gs.map(_.name),
        profiledCols(aggs))
      rows = groups.map { case (gvs, _, n, profiles) =>
        val typedVals = gs.zip(gvs).map { case (g, v) => typed(v, g.dataType) }
        if (typedVals.exists(_.isEmpty)) None // un-round-trippable: no rewrite
        else {
          val gVals = typedVals.map(_.get)
          if (!pred.forall(_.eval(InternalRow(gVals: _*))))
            Some(None) // excluded tuple: contributes no output row
          else {
            val byId = gs.map(_.exprId).zip(gVals).toMap
            val vs = named.map {
              case a: AttributeReference => byId.get(a.exprId)
              case Alias(ae: AggregateExpression, _) =>
                valueOf(ae, n, profiles.get)
              case _ => None
            }
            if (vs.forall(_.isDefined))
              Some(Some(InternalRow(vs.map(_.get): _*)))
            else None
          }
        }
      }
      if rows.forall(_.isDefined)
    } yield rows.flatMap(_.get)
  }

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
