package graft.plans

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.{Alias, AttributeReference, Cast, Coalesce, Divide, EqualTo, EvalMode, Expression, GreaterThan, If, IsNotNull, Literal, Multiply, NamedExpression}
import org.apache.spark.sql.catalyst.expressions.aggregate.{AggregateExpression, Average, Count, Max, Min, Sum}
import org.apache.spark.sql.catalyst.plans.logical._
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.types.{DoubleType, LongType, StructType}

import graft.etl.{TxLog, TxParquetSink}

/** MATERIALIZED-VIEW ROLLUP REWRITE — the classic aggregate-rewrite
  * optimization (Goldstein & Larson, SIGMOD 2001; the feature every
  * warehouse ships as "query rewrite against materialized views"),
  * done as a Catalyst rule over the transactional sink: an
  * `Aggregate` whose scan covers a [[TxParquetSink]] snapshot exactly
  * is redirected to a REGISTERED rollup table when the view can
  * provably answer it —
  *
  *  - the query's grouping columns are a SUBSET of the view's grouping
  *    columns (same grain = direct hit; strictly coarser = rollup:
  *    SUM re-sums partial sums, COUNT(*) sums the view's row counts,
  *    MIN/MAX fold the view's extremes — the only aggregates whose
  *    re-aggregation is exact, which is why DISTINCT is out of scope
  *    and AVG serves only as one division of re-summed exact partials
  *    under the 2^53 proof of [[avgExact]]),
  *  - every aggregate's source column has the matching pre-aggregate
  *    stored in the view (sum_/cntn_/min_/max_ per registered value
  *    column, `cnt` for COUNT(*), `cntn_` for the non-null
  *    COUNT(col)), with integral SUM only (long addition is
  *    associative even under wrap, so partial-sum re-summing is
  *    bit-exact; float re-association is not),
  *  - filters reference grouping columns of the VIEW only — each view
  *    row belongs wholly inside or outside such a predicate, so the
  *    filter transplants onto the view scan verbatim,
  *  - the view is FRESH (built at exactly the snapshot version the
  *    scan covers — [[MvCatalog]] records the base version at
  *    registration), OR the view is STALE and the rule COMPENSATES:
  *    the answer is served as `γ(view ⊕ feed-tail)` — the sink's own
  *    change feed over `(baseVersion, head]`
  *    ([[TxParquetSink.changesBetween]]) is mapped row-by-row into
  *    signed view-grain partials (I adds, D subtracts — the
  *    [[graft.etl.Ivm]] self-maintenance algebra the views restrict
  *    to), unioned with the stored partials, re-aggregated at view
  *    grain, and groups whose multiplicity reaches zero are dropped.
  *    The compensated plan reads the VIEW plus a
  *    commits-since-base-sized feed — never the base snapshot. MIN/MAX
  *    fold through the tail only when it is insert-only
  *    ([[TxParquetSink.maskedBetween]] — extremes are not
  *    self-maintainable under retraction), and a RESTORE in range
  *    ([[TxParquetSink.restatedBetween]]) stands the rule down
  *    entirely (the feed cannot represent a restatement).
  *
  * The rewrite preserves the original output attributes (names,
  * exprIds) so parent operators re-resolve untouched, and it is
  * all-or-nothing: any unsupported aggregate, grouping expression,
  * filter reference, type mismatch, or staleness leaves the plan
  * alone. At 100 TB this is the difference between a dashboard
  * aggregating a fact table and one aggregating a few thousand
  * pre-rolled rows — and unlike [[MetadataAggregates]] (which answers
  * from commit-log stats and needs no auxiliary table) it covers
  * GROUP BY any registered grain, at the price of keeping the rollup
  * fresh ([[graft.etl.Ivm]] is the maintenance algebra for exactly
  * these SUM/COUNT views). */
object MvRewrite extends Rule[LogicalPlan] {

  def apply(plan: LogicalPlan): LogicalPlan = plan.transformUp {
    // GROUPING SETS / ROLLUP / CUBE compile to Aggregate-over-Expand,
    // which the plain pattern below never matches — so a rollup
    // dashboard over a tx table used to bypass the MV tier entirely
    // even with a perfectly fresh registered cube (the reference's own
    // Q7 shape). Each grouping set is served from the finest covering
    // registered view and the branches union.
    case agg @ Aggregate(_, _, _: Expand, _) =>
      GroupingSetShape.decompose(agg, viewServed)(rewrite).getOrElse(agg)
    case agg @ Aggregate(groups, aggs, _, _)
        if groups.forall(_.isInstanceOf[AttributeReference]) &&
          aggs.nonEmpty && aggs.forall {
            case _: AttributeReference => true
            case Alias(ae: AggregateExpression, _) => viewServed(ae)
            case _ => false
          } =>
      rewrite(agg).getOrElse(agg)
  }

  /** The aggregates a view serves: [[MetadataAggregates.supported]]
    * minus the two only manifests answer, exact DISTINCT (the
    * partition-grain proof) and `ndv_estimate` (the sketch fold). */
  private val viewServed: AggregateExpression => Boolean = ae =>
    MetadataAggregates.supported(ae) && !ae.isDistinct &&
      !ae.aggregateFunction.isInstanceOf[graft.functions.KmvNdvAgg]

  /** The 2^53 exactness bound for the AVG rewrite, provable from the
    * base table's commit-log stats alone (the ONE shared proof —
    * [[MetadataAggregates.avgBoundOk]]). AVG serves as ONE final
    * division of exact partials — Sum(view sums) / Sum(view non-null
    * counts), cast and divided exactly the way Average's own
    * evaluateExpression does: Spark accumulates non-decimal AVG in
    * double, which is bit-identical to the exact long fold precisely
    * while every intermediate subset sum stays under 2^53. Past the
    * bound, over a masked log (no profile) or a non-numeric column the
    * rule stays silent rather than trading exactness for speed. */
  private def avgExact(sink: TxParquetSink, column: String): Boolean =
    sink.metaProfile(SparkSession.active, None, Nil, Seq(column))
      .flatMap(_.head._3.get(column)).exists(MetadataAggregates.avgBoundOk)

  /** Serves the plain aggregate `agg` (all-attribute grouping) from
    * the best registered view of the table its scan covers. */
  private def rewrite(agg: Aggregate): Option[LogicalPlan] = {
    val groups = agg.groupingExpressions.map(_.asInstanceOf[AttributeReference])
    val (aggs, child) = (agg.aggregateExpressions, agg.child)
    val filters = scala.collection.mutable.ListBuffer.empty[Expression]
    // a diverged clone's scan yields both the clone and (failing
    // coverage) its source as candidates; each covering sink may carry
    // SEVERAL registered grains — view selection over the whole set
    val candidates = MetadataAggregates.sinksOf(child, filters, aggs)
      .flatMap(s => MvCatalog.lookupAll(s.dir).map(d => (s, d)))
      .filter { case (_, mv) =>
        // query grain ⊆ view grain, filters over view grouping cols
        // only and DETERMINISTIC — the scan evaluates a predicate per
        // base row, the transplant per pre-aggregated view cell, so
        // e.g. a rand() sample would include whole groups wholesale
        // instead of sampling rows (it also carries no references,
        // which is why the reference check alone cannot catch it)
        groups.forall(g => mv.groupCols.contains(g.name)) &&
          filters.forall(c => c.deterministic &&
            c.references.forall(a => mv.groupCols.contains(a.name)))
      }
    // COST-ORDERED VIEW SELECTION (the Goldstein-Larson candidate
    // choice): a FRESH view serves with zero feed reads, so freshness
    // dominates; within the stale class fewer commits behind means a
    // smaller feed tail to fold (each delta commit is a real read), and
    // ties break on stored row count — the cheapest re-aggregation.
    // Candidates that decline at build time (missing extremes over a
    // masked tail, schema drift) fall through to the next —
    // all-or-nothing per candidate, best-first overall. The head
    // version is read ONCE per sink (commit-log metadata inside the
    // optimizer), not once per (sink, grain) comparison.
    val headOf = candidates.map(_._1).distinctBy(_.dir)
      .map(s => s.dir -> s.version()).toMap
    candidates
      .sortBy { case (s, mv) =>
        val behind = headOf(s.dir) - mv.baseVersion
        (if (behind == 0L) 0 else 1, behind,
          if (mv.rows >= 0) mv.rows else Long.MaxValue)
      }
      .iterator
      .flatMap { case (sink, mv) =>
        for {
          // cheap registered-schema coverage check FIRST: a candidate
          // that cannot derive every output declines before any plan
          // construction — a stale trial otherwise pays the view scan
          // and change-feed analysis (parquet listings) just to fail
          // the same checks inside build()
          _ <- Option.when(coverable(mv, groups, aggs, filters.toSeq))(())
          // freshness: a view built at exactly the version the scan
          // covers serves directly; a stale one serves through delta
          // compensation
          src <- sourcePlan(sink, mv, headOf(sink.dir),
            needExtremes(aggs))
          plan <- build(mv, sink, groups, aggs, filters.toSeq, src)
        } yield plan
      }
      .nextOption()
  }

  /** NECESSARY (not sufficient) coverage check against the REGISTERED
    * view schema alone — no plan, no file listing: every grouping and
    * filter column must exist in the view at the identical type, and
    * every aggregate must have its pre-aggregate column registered
    * (sums as long, extremes at the query column's own type).
    * [[build]] re-verifies against the actual source plan's output (a
    * compensated source may expose fewer columns than the schema, e.g.
    * no extremes over a masked tail), so this is purely the
    * fail-fast gate. */
  private def coverable(mv: MvCatalog.MvDef,
      groups: Seq[AttributeReference], aggs: Seq[NamedExpression],
      filters: Seq[Expression]): Boolean = {
    val fields = mv.schema.fields.map(f => f.name -> f.dataType).toMap
    val groupsOk = groups.forall(g => fields.get(g.name).contains(g.dataType)) &&
      filters.flatMap(_.references).forall(a =>
        fields.get(a.name).contains(a.dataType))
    def aggOk(ae: AggregateExpression): Boolean = ae.aggregateFunction match {
      case Count(Seq(_: Literal)) => fields.contains(mv.countCol)
      case Count(Seq(a: AttributeReference)) =>
        mv.cnts.get(a.name).exists(fields.contains)
      case Min(a: AttributeReference) =>
        mv.mins.get(a.name).flatMap(fields.get).contains(a.dataType)
      case Max(a: AttributeReference) =>
        mv.maxs.get(a.name).flatMap(fields.get).contains(a.dataType)
      case Sum(a: AttributeReference, _) =>
        mv.sums.get(a.name).flatMap(fields.get).contains(LongType)
      case Average(a: AttributeReference, _) =>
        mv.sums.get(a.name).flatMap(fields.get).contains(LongType) &&
          mv.cnts.get(a.name).exists(fields.contains)
      case _ => false
    }
    groupsOk && aggs.forall {
      case _: AttributeReference => true
      case Alias(ae: AggregateExpression, _) => aggOk(ae)
      case _ => false
    }
  }

  /** Does the query ask for MIN/MAX? Drives which compensation shape
    * a retraction-bearing tail needs: extremes force the targeted
    * affected-groups recompute; a SUM/COUNT panel folds the signed
    * feed without touching the base. */
  private def needExtremes(aggs: Seq[NamedExpression]): Boolean =
    aggs.exists {
      case Alias(ae: AggregateExpression, _) => ae.aggregateFunction match {
        case _: Min | _: Max => true
        case _ => false
      }
      case _ => false
    }

  /** The view-schema-shaped plan the aggregation rewrites onto: the
    * plain view scan when fresh, the delta-compensated merge when the
    * base has committed past the registered version, None when the
    * range restated contents (the feed cannot represent a restore). */
  private def sourcePlan(sink: TxParquetSink, mv: MvCatalog.MvDef,
      head: Long, wantExtremes: Boolean): Option[LogicalPlan] =
    if (head == mv.baseVersion) Some(viewScan(mv))
    else compensated(sink, mv, head, wantExtremes)

  private def viewScan(mv: MvCatalog.MvDef): LogicalPlan =
    SparkSession.active.read.schema(mv.schema).parquet(mv.mvPath)
      .queryExecution.analyzed

  /** STALE-VIEW DELTA COMPENSATION — `γ(view ⊕ feed-tail)` as a
    * logical plan: the change feed over `(baseVersion, head]` maps to
    * signed view-grain partials (I adds, D subtracts), unions with the
    * stored partials, re-aggregates at view grain, and drops groups
    * whose row multiplicity reached zero — the classic
    * stale-MV-plus-compensation completion (Gupta & Mumick's
    * self-maintenance algebra, served at REWRITE time instead of
    * refresh time). The produced plan carries the view's column names,
    * so [[build]] consumes it exactly like a fresh view scan. Cost:
    * O(view) + O(commits since base) — never a base snapshot read.
    * MIN/MAX partials are exposed only over an insert-only tail
    * (retraction would need the full group history); SUM re-derives
    * NULL for groups whose surviving values are all NULL (the stored
    * convention), and a restated range returns None. */
  private def compensated(sink: TxParquetSink, mv: MvCatalog.MvDef,
      head: Long, wantExtremes: Boolean): Option[LogicalPlan] = {
    // history below the truncation horizon is GONE: the feed over the
    // range would be silently incomplete (changesBetween throws, and a
    // restore hidden in the truncated prefix is invisible to
    // restatedBetween) — an optimizer rule declines, never crashes
    val horizon = sink.commits().headOption.map(_._1).getOrElse(0L)
    if (mv.baseVersion < horizon - 1) return None
    if (sink.restatedBetween(mv.baseVersion, head)) return None
    val spark = SparkSession.active
    val view = viewScan(mv)
    val feedDf = sink.changesBetween(spark, mv.baseVersion, head) match {
      case None => return Some(view) // content-preserving commits only
      case Some(f) => f
    }
    val feed = feedDf.queryExecution.analyzed
    val vBy = view.output.map(a => a.name -> a).toMap
    val fBy = feed.output.map(a => a.name -> a).toMap
    // schema-drift guards: the feed must carry every registered column
    // at the view's exact types (group cols verbatim; values are cast
    // to long for sums, so their own width may differ)
    val needed = mv.groupCols ++ mv.valueCols :+ "_change_type"
    if (!needed.forall(fBy.contains)) return None
    if (!mv.groupCols.forall(g => fBy(g).dataType == vBy(g).dataType))
      return None
    val masked = sink.maskedBetween(mv.baseVersion, head)
    val hasExtremes = mv.mins.nonEmpty || mv.maxs.nonEmpty
    // extremes over a retraction-bearing tail: not foldable from the
    // feed (Gupta & Mumick), but SERVABLE — recompute exactly the
    // groups the retractions touched from the base, keep view ⊕ tail
    // for the rest (the affected-groups targeted compensation)
    if (wantExtremes && hasExtremes && masked)
      return compensatedTargeted(sink, mv, head, feedDf)
    val minMax = hasExtremes && !masked
    if (minMax &&
      !mv.valueCols.forall(c => fBy(c).dataType == vBy(s"min_$c").dataType))
      return None
    if (!mv.valueCols.forall(c => TxParquetSink.integralType(fBy(c).dataType)))
      return None

    val sgn = If(EqualTo(fBy("_change_type"), Literal("I")),
      Literal(1L), Literal(-1L))
    def sides(c: String): (Seq[NamedExpression], Seq[NamedExpression]) = {
      val x = fBy(c)
      val v = (Seq(
        Alias(vBy(s"sum_$c"), s"sum_$c")(),
        Alias(vBy(s"cntn_$c"), s"cntn_$c")()) ++
        (if (minMax) Seq(Alias(vBy(s"min_$c"), s"min_$c")(),
          Alias(vBy(s"max_$c"), s"max_$c")()) else Nil))
      val f = (Seq(
        Alias(Multiply(sgn, Cast(x, LongType)), s"sum_$c")(),
        Alias(If(IsNotNull(x), sgn, Literal(0L)), s"cntn_$c")()) ++
        (if (minMax) Seq(Alias(x, s"min_$c")(), Alias(x, s"max_$c")())
         else Nil))
      (v, f)
    }
    val perCol = mv.valueCols.map(sides)
    val viewSel = mv.groupCols.map(g => Alias(vBy(g), g)(): NamedExpression) ++
      perCol.flatMap(_._1) :+ Alias(vBy(mv.countCol), mv.countCol)()
    val feedSel = mv.groupCols.map(g => Alias(fBy(g), g)(): NamedExpression) ++
      perCol.flatMap(_._2) :+ Alias(sgn, mv.countCol)()
    val u = Union(Seq(Project(viewSel, view), Project(feedSel, feed)))
    val uBy = u.output.map(a => a.name -> a).toMap
    def sumOf(c: String) = Sum(uBy(c)).toAggregateExpression()
    val merged = mv.groupCols.map(g => uBy(g): NamedExpression) ++
      mv.valueCols.flatMap { c =>
        val nn = sumOf(s"cntn_$c")
        // a group whose surviving values are all NULL answers NULL,
        // exactly like the scan (and like registerRollup stores)
        Seq(Alias(If(EqualTo(nn, Literal(0L)), Literal(null, LongType),
            sumOf(s"sum_$c")), s"sum_$c")(),
          Alias(nn, s"cntn_$c")(): NamedExpression) ++
          (if (minMax) Seq(
            Alias(Min(uBy(s"min_$c")).toAggregateExpression(), s"min_$c")(),
            Alias(Max(uBy(s"max_$c")).toAggregateExpression(), s"max_$c")())
           else Nil)
      } :+ Alias(sumOf(mv.countCol), mv.countCol)()
    val agg = Aggregate(mv.groupCols.map(uBy), merged, u)
    val cnt = agg.output.find(_.name == mv.countCol).get
    // multiplicity discipline: a fully-retracted group leaves the view
    Some(Filter(GreaterThan(cnt, Literal(0L)), agg))
  }

  /** AFFECTED-GROUPS TARGETED COMPENSATION — extremes over a
    * retraction-bearing tail. MIN/MAX are not self-maintainable under
    * retraction (the whole group history would be needed), but the
    * damage is bounded by the retractions' GROUPS: the feed's D rows
    * name exactly the groups whose stored extremes are suspect.
    * The served source is the union of
    *
    *  - stored view partials for groups the retractions did NOT touch
    *    (null-safe anti-join against the affected keys),
    *  - the signed feed tail for those same groups — insert-only by
    *    construction (every D row's group is affected),
    *  - an exact partial recompute from the CURRENT base snapshot for
    *    the affected groups only (null-safe left-semi join; with the
    *    base read additionally pre-filtered by the tail's own delete
    *    predicates when they reference grouping columns only — the
    *    predicate transplants because all rows of a group agree on a
    *    group-column predicate, so the filter reaches the parquet scan
    *    and the base read tracks the delete footprint, not the table),
    *
    * re-aggregated at view grain. Cost: O(view) + O(feed) +
    * O(base ∩ affected groups) — the full-scan fallback only for the
    * groups that actually lost rows. Built with the DataFrame API (the
    * three-way self-referencing joins need analysis-time attribute
    * deduplication); [[build]] consumes the analyzed plan by name like
    * any other view-shaped source. */
  private def compensatedTargeted(sink: TxParquetSink, mv: MvCatalog.MvDef,
      head: Long, feedDf: org.apache.spark.sql.DataFrame)
      : Option[LogicalPlan] = {
    import org.apache.spark.sql.DataFrame
    import org.apache.spark.sql.functions.{col, count, lit, max, min, sum, when}
    val spark = SparkSession.active
    val keyCols = mv.groupCols
    val base = sink.readSnapshot(spark).getOrElse(return None)
    val fTypes = feedDf.schema.fields.map(f => f.name -> f.dataType).toMap
    val bTypes = base.schema.fields.map(f => f.name -> f.dataType).toMap
    val vTypes = mv.schema.fields.map(f => f.name -> f.dataType).toMap
    // schema-drift guards: group cols at view types everywhere; value
    // cols integral and at the stored extremes' types in feed AND base
    if (!keyCols.forall(c =>
      fTypes.get(c) == vTypes.get(c) && bTypes.get(c) == vTypes.get(c)))
      return None
    if (!mv.valueCols.forall { c =>
      val vt = vTypes.get(s"min_$c")
      fTypes.get(c) == vt && bTypes.get(c) == vt &&
        fTypes.get(c).exists(TxParquetSink.integralType)
    }) return None

    // the recompute reads the CURRENT snapshot while view ⊕ feed cover
    // (baseVersion, head] — a commit landing between the query scan's
    // pin (sinksOf's equality check) and this read would mix two table
    // versions in one answer, so a moved head declines
    if (sink.version() != head) return None
    val viewDf = spark.read.schema(mv.schema).parquet(mv.mvPath)
    val affR = MvCatalog.affectedKeys(feedDf, mv.groupCols)
    def affCond(df: DataFrame) =
      keyCols.map(c => df(c) <=> affR(s"__aff_$c")).reduce(_ && _)
    val fields = mv.schema.fieldNames.toSeq
    val viewKeep = viewDf.join(affR, affCond(viewDf), "left_anti")
      .select(fields.map(col): _*)
    val feedKeep = feedDf.join(affR, affCond(feedDf), "left_anti")
    val sgn = when(col("_change_type") === lit("I"), lit(1L))
      .otherwise(lit(-1L))
    val feedPart = feedKeep.select(
      keyCols.map(col) ++ mv.valueCols.flatMap(c => Seq(
        (sgn * col(c).cast("long")).as(s"sum_$c"),
        when(col(c).isNotNull, sgn).otherwise(lit(0L)).as(s"cntn_$c"),
        col(c).as(s"min_$c"), col(c).as(s"max_$c"))) :+ sgn.as("cnt"): _*)
      .select(fields.map(col): _*)
    val recomputed = MvCatalog.affectedRecompute(spark, sink, base, affR,
      mv, mv.baseVersion, head)
    val unioned = viewKeep.union(feedPart).union(recomputed)
    val mergedAggs = mv.valueCols.flatMap(c => Seq(
      when(sum(col(s"cntn_$c")) === 0L, lit(null).cast("long"))
        .otherwise(sum(col(s"sum_$c"))).as(s"sum_$c"),
      sum(col(s"cntn_$c")).as(s"cntn_$c"),
      min(col(s"min_$c")).as(s"min_$c"),
      max(col(s"max_$c")).as(s"max_$c"))) :+ sum(col("cnt")).as("cnt")
    val served = unioned.groupBy(keyCols.map(col): _*)
      .agg(mergedAggs.head, mergedAggs.tail: _*)
      .where(col("cnt") > 0) // multiplicity: fully-retracted groups leave
    Some(served.queryExecution.analyzed)
  }

  /** The replacement plan: [Filter] + Aggregate over the view-shaped
    * source (fresh scan or compensated merge), output aliased back to
    * the ORIGINAL names and exprIds. */
  private def build(mv: MvCatalog.MvDef, sink: TxParquetSink,
      groups: Seq[AttributeReference], aggs: Seq[NamedExpression],
      filters: Seq[Expression], mvPlan: LogicalPlan)
      : Option[LogicalPlan] = {
    val byName = mvPlan.output.map(a => a.name -> a).toMap

    // every group column must exist in the view at the identical type
    // (the rollup was computed FROM these columns, but a registration
    // against a since-evolved schema must not slip through) — and so
    // must every FILTER-referenced column: a filter on a view grouping
    // column absent from the query's GROUP BY would otherwise bypass
    // the type check entirely (and a missing name would throw during
    // optimization instead of declining the rewrite)
    val groupsOk = groups.forall(g =>
      byName.get(g.name).exists(_.dataType == g.dataType)) &&
      filters.flatMap(_.references).forall(a =>
        byName.get(a.name).exists(_.dataType == a.dataType))

    def derived(ae: AggregateExpression): Option[Expression] =
      ae.aggregateFunction match {
        case Count(Seq(_: Literal)) =>
          byName.get(mv.countCol).map(cnt =>
            // COUNT is non-null by contract; the re-sum of per-group
            // counts is too (groups exist only with ≥1 view row), and
            // the coalesce keeps the output attribute's nullability
            // honest for the global-aggregate-over-empty-view case
            Coalesce(Seq(ae.copy(aggregateFunction = Sum(cnt)),
              Literal(0L))))
        case Count(Seq(a: AttributeReference)) =>
          // non-null count: the view's per-column cntn_<c> re-sums
          mv.cnts.get(a.name).flatMap(byName.get).map(c =>
            Coalesce(Seq(ae.copy(aggregateFunction = Sum(c)),
              Literal(0L))))
        case Min(a: AttributeReference) =>
          mv.mins.get(a.name).flatMap(byName.get)
            .filter(_.dataType == a.dataType)
            .map(c => ae.copy(aggregateFunction = Min(c)))
        case Max(a: AttributeReference) =>
          mv.maxs.get(a.name).flatMap(byName.get)
            .filter(_.dataType == a.dataType)
            .map(c => ae.copy(aggregateFunction = Max(c)))
        case Sum(a: AttributeReference, _) =>
          // the view stores integral sums widened to long; re-summing
          // partial longs is associative (exact, wrap-consistent), and
          // the result type matches the original Sum's long output
          mv.sums.get(a.name).flatMap(byName.get)
            .filter(_.dataType == LongType)
            .map(c => ae.copy(aggregateFunction = Sum(c)))
        case Average(a: AttributeReference, _) =>
          // divide-last over exact partials: Sum(sum_c) / Sum(cntn_c),
          // cast and divided the way Average's own evaluateExpression
          // spells it (LEGACY division — AVG of zero values is NULL).
          // Bit-identical to the scan only under the 2^53 subset-sum
          // bound, proven from the base's commit-log stats
          for {
            s <- mv.sums.get(a.name).flatMap(byName.get)
              .filter(_.dataType == LongType)
            n <- mv.cnts.get(a.name).flatMap(byName.get)
            if avgExact(sink, a.name)
            // two DISTINCT aggregates out of one original: each copy
            // needs its own resultId, or the planner dedups them into
            // the same buffer slot and the division collapses to 1.0
          } yield Divide(
            Cast(ae.copy(aggregateFunction = Sum(s),
              resultId = org.apache.spark.sql.catalyst.expressions.NamedExpression.newExprId), DoubleType),
            Cast(ae.copy(aggregateFunction = Sum(n),
              resultId = org.apache.spark.sql.catalyst.expressions.NamedExpression.newExprId), DoubleType),
            EvalMode.LEGACY)
        case _ => None
      }

    val named = aggs.map {
      case g: AttributeReference =>
        byName.get(g.name).map(mvAttr =>
          Alias(mvAttr, g.name)(exprId = g.exprId))
      case al @ Alias(ae: AggregateExpression, name) =>
        derived(ae).map(e => Alias(e, name)(exprId = al.exprId))
      case _ => None
    }
    if (!groupsOk || named.exists(_.isEmpty)) None
    else {
      val cond = filters.reduceOption((a, b) =>
        org.apache.spark.sql.catalyst.expressions.And(a, b))
      val condMv = cond.map(_.transform {
        case a: AttributeReference => byName(a.name)
      })
      val base = condMv.map(Filter(_, mvPlan)).getOrElse(mvPlan)
      val mvGroups = groups.map(g => byName(g.name))
      val namedOut = named.map(_.get)
      // prune the view scan to the referenced columns ourselves — the
      // rule runs after the main optimizer batches, so ColumnPruning
      // won't revisit this subtree
      val needed = (namedOut.flatMap(_.references) ++ mvGroups ++
        condMv.toSeq.flatMap(_.references)).distinct
      Some(Aggregate(mvGroups, namedOut,
        Project(mvPlan.output.filter(needed.contains), base)))
    }
  }
}

/** The registered-rollup registry [[MvRewrite]] consults, keyed by the
  * base table's root directory. Registration is session-shared mutable
  * state, exactly like a warehouse's MV catalog. A base table may
  * carry SEVERAL rollups at different grains (the classic
  * view-selection setup — a fine (day, store, product) cube next to a
  * coarse (month) one); registrations are keyed by grain within the
  * table, so re-registering the SAME grain (what [[refresh]] does)
  * replaces that entry and bumps its recorded base version — which is
  * what re-arms the rule after the base moves — while a NEW grain
  * joins the candidate set [[MvRewrite]] chooses from by cost. */
object MvCatalog {

  /** A rollup table on disk: grouped by `groupCols`, carrying
    * `sum_<c>` and non-null count `cntn_<c>` (and, when registered
    * with extremes, `min_<c>`/`max_<c>`) per value column plus a
    * `cnt` row count, built from base-table version `baseVersion`.
    * `valueCols` preserves the registration order — the stored column
    * order [[refresh]] must reproduce. `rows` is the view's own row
    * count at build time (−1 = unknown) — the cost key
    * [[MvRewrite]]'s view selection orders candidates by. */
  final case class MvDef(
      mvPath: String,
      schema: StructType,
      baseVersion: Long,
      groupCols: Seq[String],
      valueCols: Seq[String],
      sums: Map[String, String],
      mins: Map[String, String],
      maxs: Map[String, String],
      cnts: Map[String, String],
      countCol: String,
      rows: Long = -1L)

  /** Which path [[refreshDef]] took to bring a grain forward — the
    * maintenance contract callers assert on. A per-commit replay that
    * must stay incremental ([[graft.streaming.StreamMv]]) pins
    * `Merged`/`Restamped` and fails loudly on `Rebuilt`; before this
    * the pin checked the output PATH, which rebuilds also write — a
    * silent fall-back to a full base rescan per tick would have passed
    * (the round-11 vacuous-pin finding). */
  sealed trait RefreshOutcome
  object RefreshOutcome {
    /** The incremental delta merge: O(changed commits) + O(view). */
    case object Merged extends RefreshOutcome
    /** A full base rescan ([[registerRollup]]): the range restated
      * contents, or a retraction hit stored extremes. */
    case object Rebuilt extends RefreshOutcome
    /** Only content-preserving commits in range: the registered
      * version re-stamped, no job ran. */
    case object Restamped extends RefreshOutcome
    /** Retractions hit stored extremes: the affected groups were
      * recomputed from the base (semi-joined, delete-predicate-pruned),
      * everything else merged incrementally — O(base ∩ affected), not
      * O(base). */
    case object Targeted extends RefreshOutcome
  }

  /** RETENTION POLICY for superseded view directories. Every
    * incremental refresh (and every rebuild) lands the view at a NEW
    * path so readers planned against the old one are unaffected — but
    * under a per-commit maintenance loop that is one full view copy
    * per commit, and without reclamation the storage grows
    * view-size × commits (the round-11 `perf_weak`). After a refresh
    * moves a grain, [[refreshDef]] keeps the newest `keep` view
    * directories (the current one plus `keep − 1` predecessors) and
    * deletes older superseded ones whose last write is past `graceMs`
    * — the grace window covers in-flight readers still executing a
    * plan against a just-superseded path, the same discipline as
    * [[TxParquetSink.truncateHistory]]'s oldest-pin caveat: size the
    * grace above the longest-running query (and above any pinned
    * cross-session reader's lifetime). Directories still registered
    * for ANY grain are never candidates. */
  final case class Retention(keep: Int = 2, graceMs: Long = 10L * 60 * 1000)
  object Retention {
    val Default: Retention = Retention()
    /** Keep history forever — the pre-retention behavior. */
    val KeepAll: Retention = Retention(keep = Int.MaxValue)
  }

  private val defs =
    new java.util.concurrent.ConcurrentHashMap[String, List[MvDef]]()

  /** Registers `d` for `baseDir`: replaces the entry with the SAME
    * grain (group-column set) in place, appends a new grain. */
  def register(baseDir: String, d: MvDef): Unit = {
    defs.compute(baseDir, (_, cur) => {
      val list = Option(cur).getOrElse(Nil)
      val grain = d.groupCols.toSet
      if (list.exists(_.groupCols.toSet == grain))
        list.map(e => if (e.groupCols.toSet == grain) d else e)
      else list :+ d
    })
    ()
  }

  /** The PRIMARY (first-registered) def, kept for single-view callers;
    * [[lookupAll]] is the candidate set view selection works from. */
  def lookup(baseDir: String): Option[MvDef] =
    Option(defs.get(baseDir)).flatMap(_.headOption)

  /** Every grain registered for `baseDir`, in registration order. */
  def lookupAll(baseDir: String): Seq[MvDef] =
    Option(defs.get(baseDir)).getOrElse(Nil)

  /** Drops every registered grain for `baseDir`. */
  def unregister(baseDir: String): Unit = { defs.remove(baseDir); () }

  private def enc(s: String): String =
    java.net.URLEncoder.encode(s, java.nio.charset.StandardCharsets.UTF_8)
  private def dec(s: String): String =
    java.net.URLDecoder.decode(s, java.nio.charset.StandardCharsets.UTF_8)

  /** PERSIST the registry to `catalogDir` (one small text file per
    * base table, atomically replaced) — a deployment's MV catalog
    * survives session restarts; [[load]] re-registers on the next
    * start. Only registration-convention fields are stored (group and
    * value columns, the extremes flag, the base version, paths, the
    * schema as its own JSON): the column-name maps are reconstructed,
    * so the format stays one screen. A def whose base has moved since
    * the save loads fine and simply never fires until
    * [[refresh]]/[[registerRollup]] brings it forward — the version
    * gate makes stale persistence safe by construction. */
  def save(catalogDir: String): Unit = {
    import java.nio.file.{Files, Paths}
    val d = Paths.get(catalogDir)
    Files.createDirectories(d)
    defs.forEach { (base, mvs) =>
      val content = mvs.map { mv =>
        Seq(
          s"base=${enc(base)}",
          s"mvPath=${enc(mv.mvPath)}",
          s"schema=${enc(mv.schema.json)}",
          s"baseVersion=${mv.baseVersion}",
          s"groupCols=${mv.groupCols.map(enc).mkString(",")}",
          s"valueCols=${mv.valueCols.map(enc).mkString(",")}",
          s"minMax=${mv.mins.nonEmpty}",
          s"rows=${mv.rows}").mkString("", "\n", "\n")
      }.mkString("---\n") // one file per base, one block per grain
      TxLog.replace(d.resolve(enc(base) + ".mv"),
        content.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    }
    // the registry is authoritative: prune .mv files whose base is no
    // longer registered — without this a long-lived deployment's
    // catalog dir accretes one stale file per retired table forever,
    // and the next load() re-arms views over tables that were dropped
    val liveFiles = {
      import scala.jdk.CollectionConverters._
      defs.keys().asScala.map(b => enc(b) + ".mv").toSet
    }
    val listing = Files.list(d)
    try {
      import scala.jdk.CollectionConverters._
      listing.iterator().asScala
        .filter(_.getFileName.toString.endsWith(".mv"))
        .filter(f => !liveFiles.contains(f.getFileName.toString))
        .foreach(f => Files.deleteIfExists(f))
    } finally listing.close()
  }

  /** LOAD every persisted def from `catalogDir` into the registry
    * (replacing same-base-and-grain entries; a single-block file from
    * before multi-grain support parses as one def). Returns the number
    * of defs loaded. */
  def load(catalogDir: String): Int = {
    import java.nio.file.{Files, Paths}
    val d = Paths.get(catalogDir)
    if (!Files.isDirectory(d)) return 0
    val s = Files.list(d)
    val files = try {
      import scala.jdk.CollectionConverters._
      s.iterator().asScala.filter(_.getFileName.toString.endsWith(".mv")).toSeq
    } finally s.close()
    var n = 0
    files.foreach { f =>
      val blocks = new String(Files.readAllBytes(f),
        java.nio.charset.StandardCharsets.UTF_8).split("(?m)^---$")
      blocks.filter(_.trim.nonEmpty).foreach { block =>
        val kv = block.linesIterator.filter(_.nonEmpty).map { line =>
          val i = line.indexOf('=')
          (line.substring(0, i), line.substring(i + 1))
        }.toMap
        val base = dec(kv("base"))
        val groupCols = kv("groupCols").split(',').toSeq.map(dec)
        val valueCols = kv("valueCols").split(',').toSeq.map(dec)
        val minMax = kv("minMax").toBoolean
        register(base, MvDef(
          mvPath = dec(kv("mvPath")),
          schema = org.apache.spark.sql.types.DataType.fromJson(
            dec(kv("schema"))).asInstanceOf[StructType],
          baseVersion = kv("baseVersion").toLong,
          groupCols = groupCols,
          valueCols = valueCols,
          sums = valueCols.map(c => c -> s"sum_$c").toMap,
          mins = if (minMax) valueCols.map(c => c -> s"min_$c").toMap
                 else Map.empty,
          maxs = if (minMax) valueCols.map(c => c -> s"max_$c").toMap
                 else Map.empty,
          cnts = valueCols.map(c => c -> s"cntn_$c").toMap,
          countCol = "cnt",
          rows = kv.get("rows").map(_.toLong).getOrElse(-1L)))
        n += 1
      }
    }
    n
  }

  /** Builds the rollup of `sink`'s CURRENT snapshot at `groupCols`
    * grain over integral `valueCols`, writes it to `mvPath`, and
    * registers it. `minMax = false` registers a SUM/COUNT-only view —
    * the fully self-maintainable algebra, refreshable through deletes
    * ([[refresh]]); with extremes stored, a delete-bearing feed forces
    * a rebuild (MIN/MAX are not self-maintainable under retraction —
    * the [[graft.etl.Ivm]] taxonomy). The version is read before and
    * after the build — a base that moved mid-build fails registration
    * rather than recording a version the rollup doesn't reflect. */
  def registerRollup(spark: SparkSession, sink: TxParquetSink,
      groupCols: Seq[String], valueCols: Seq[String],
      mvPath: String, minMax: Boolean = true): MvDef = {
    import org.apache.spark.sql.functions.{col, count, lit, max, min, sum}
    val v0 = sink.version()
    val snap = sink.readSnapshot(spark).getOrElse(
      throw new IllegalStateException(s"registerRollup: empty table ${sink.dir}"))
    val aggCols = valueCols.flatMap(c =>
      Seq(sum(col(c).cast("long")).as(s"sum_$c"),
        count(col(c)).as(s"cntn_$c")) ++
        (if (minMax) Seq(min(col(c)).as(s"min_$c"), max(col(c)).as(s"max_$c"))
         else Nil)) :+ count(lit(1)).as("cnt")
    val mv = snap.groupBy(groupCols.map(col): _*)
      .agg(aggCols.head, aggCols.tail: _*)
    mv.write.mode("overwrite").parquet(mvPath)
    recordWritten(mvPath)
    require(sink.version() == v0,
      s"registerRollup: base ${sink.dir} moved during the build " +
        s"($v0 -> ${sink.version()}); retry against the new snapshot")
    // the view's own cardinality, from the written parquet FOOTERS on
    // the driver (round-14: zero Spark jobs — the read-back count()
    // launched one per register/refresh) — the cost key view selection
    // sorts by
    val n = TxParquetSink.footerRows(java.nio.file.Paths.get(mvPath))
    val d = MvDef(mvPath, mv.schema, v0, groupCols, valueCols,
      sums = valueCols.map(c => c -> s"sum_$c").toMap,
      mins = if (minMax) valueCols.map(c => c -> s"min_$c").toMap else Map.empty,
      maxs = if (minMax) valueCols.map(c => c -> s"max_$c").toMap else Map.empty,
      cnts = valueCols.map(c => c -> s"cntn_$c").toMap,
      countCol = "cnt",
      rows = n)
    register(sink.dir, d)
    d
  }

  /** The DISTINCT group keys the feed's retractions touched, renamed
    * `__aff_<col>` for self-join-safe probing. Dedup via groupBy, NOT
    * `distinct()`: [[MvRewrite]] injects this plan post-optimizer,
    * where `ReplaceDeduplicateWithAggregate` has already run — a raw
    * Deduplicate node would fail physical planning. */
  private[plans] def affectedKeys(feed: DataFrame,
      groupCols: Seq[String]): DataFrame = {
    import org.apache.spark.sql.functions.{col, count, lit}
    val affNames = groupCols.map(c => s"__aff_$c")
    feed.where(col("_change_type") === "D")
      .select(groupCols.map(c => col(c).as(s"__aff_$c")): _*)
      .groupBy(affNames.map(col): _*).agg(count(lit(1)).as("__affc"))
      .drop("__affc")
  }

  /** The exact partial recompute of the AFFECTED groups from `base`:
    * null-safe left-semi join against `affR`'s keys, pre-filtered by
    * the tail's transplantable delete predicates
    * ([[deletePredColumn]]), aggregated to the full registered partial
    * set (sum/cntn/min/max/cnt) in the view's column order. The ONE
    * implementation both consumers ([[MvRewrite]]'s targeted
    * compensation and [[refreshDef]]'s Targeted arm) share, so the
    * rewrite-time answer can never drift from the refresh-time view
    * content. */
  private[plans] def affectedRecompute(spark: SparkSession,
      sink: TxParquetSink, base: DataFrame, affR: DataFrame,
      d: MvDef, fromV: Long, toV: Long): DataFrame = {
    import org.apache.spark.sql.functions.{col, count, lit, max, min, sum}
    val pruned = deletePredColumn(spark, sink, fromV, toV, d.groupCols)
      .map(base.where).getOrElse(base)
    val aggsList = d.valueCols.flatMap(c => Seq(
      sum(col(c).cast("long")).as(s"sum_$c"),
      count(col(c)).as(s"cntn_$c"),
      min(col(c)).as(s"min_$c"), max(col(c)).as(s"max_$c"))) :+
      count(lit(1)).as("cnt")
    pruned.join(affR,
      d.groupCols.map(c => pruned(c) <=> affR(s"__aff_$c")).reduce(_ && _),
      "left_semi")
      .groupBy(d.groupCols.map(col): _*)
      .agg(aggsList.head, aggsList.tail: _*)
      .select(d.schema.fieldNames.map(col).toSeq: _*)
  }

  /** The tail's delete predicates as ONE transplantable pruning
    * filter, when every row-hiding mask in `(fromV, toV]` is a
    * predicate delete whose references are all GROUPING columns — a
    * group-column predicate holds for every row of an affected group
    * (the key determines it), so `OR`-ing the predicates over-covers
    * the affected groups and the filter pushes into the base scan
    * (file skipping + row-group pruning): the recompute read tracks
    * the delete footprint instead of the table. None when any mask is
    * a key-set replace or references value columns — the semi-join
    * against the feed's D keys stays the exactness guarantee either
    * way. */
  private[plans] def deletePredColumn(spark: SparkSession,
      sink: TxParquetSink, fromV: Long, toV: Long,
      keyCols: Seq[String]): Option[org.apache.spark.sql.Column] = {
    val masks = sink.commits().collect {
      case (v, m) if v > fromV && v <= toV &&
        (m.deletePred.nonEmpty || m.replaceCols.nonEmpty) => m
    }
    if (masks.isEmpty) return None
    if (!masks.forall(m => m.deletePred.nonEmpty && m.replaceCols.isEmpty))
      return None
    val preds = masks.flatMap(_.deletePred)
    try {
      // a structural WHITELIST, not a deterministic check: on an
      // unresolved tree an UnresolvedFunction reports deterministic
      // from its children, so rand()-style predicates would pass
      // vacuously and silently drop surviving rows from the recompute
      import org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute
      import org.apache.spark.sql.catalyst.expressions.{BinaryOperator, Cast => CastE, In, IsNotNull, IsNull, Not}
      def safe(e: org.apache.spark.sql.catalyst.expressions.Expression): Boolean = e match {
        case _: Literal => true
        case u: UnresolvedAttribute =>
          u.nameParts.size == 1 && keyCols.contains(u.nameParts.head)
        case _: BinaryOperator | _: Not | _: In | _: IsNull |
             _: IsNotNull | _: CastE => e.children.forall(safe)
        case _ => false
      }
      val groupOnly = preds.forall(p =>
        safe(spark.sessionState.sqlParser.parseExpression(p)))
      if (groupOnly)
        Some(org.apache.spark.sql.functions.expr(
          preds.map(p => s"($p)").mkString(" OR ")))
      else None
    } catch { case scala.util.control.NonFatal(_) => None }
  }

  /** The canonical refresh stem of a view path: every `_r<v>` /
    * `_r<v>_x` suffix layer [[refreshDef]] may have appended is
    * stripped (repeatedly — a user path ending in `_r<digits>` can
    * pick up an `_x` hop and then further `_r<v>` layers). */
  private def stemOf(path: String): String =
    path.replaceAll("(_r\\d+(_x)?)+$", "")

  /** Every view directory THIS PROCESS wrote, per refresh stem — the
    * only reclamation candidates [[gcSuperseded]] will ever touch. A
    * name-pattern sweep was rejected: a user table legitimately named
    * like a refresh output (`sales_r2021` next to a registered
    * `sales_r2020`) would match the pattern and be deleted; dirs
    * written before a process restart are instead left for the next
    * lifecycle (a bounded, safe leak — never a deleted user table). */
  private val writtenViews =
    new java.util.concurrent.ConcurrentHashMap[String, List[String]]()

  private def writtenFor(stem: String): List[String] =
    Option(writtenViews.get(stem)).getOrElse(Nil)

  private def recordWritten(path: String): Unit = {
    writtenViews.compute(stemOf(path), (_, cur) => {
      val l = Option(cur).getOrElse(Nil)
      if (l.contains(path)) l else path :: l
    })
    ()
  }

  /** Reclaims superseded view directories for `stem`: candidates are
    * exactly the dirs [[recordWritten]] logged for it, minus every
    * path still registered for any grain of any base; the newest
    * `keep − 1` stay regardless of age, older ones are deleted once
    * past the grace window (in-flight readers). */
  private def gcSuperseded(stem: String, retention: Retention): Unit = {
    import java.nio.file.{Files, Paths}
    val live: Set[String] = {
      import scala.jdk.CollectionConverters._
      defs.values().asScala.flatMap(_.map(_.mvPath)).toSet
    }
    val written = writtenFor(stem).filter(p => !live.contains(p))
    // paths whose dirs vanished through ANY channel (this GC, an
    // external janitor, a competing process) leave the registry — a
    // per-commit maintenance loop must not grow the list unboundedly.
    // notExists, NOT !isDirectory / !exists: both of those also
    // return false/true under a transient I/O error on a dir that is
    // STILL THERE, and a registry drop is forever (the path is never
    // again a deletion candidate — an unbounded disk leak, the r13
    // second-pass finding). notExists is true only when the path is
    // DEFINITELY gone; anything indeterminate stays registered and
    // simply skips this pass.
    val (vanished, present) = written.partition(p =>
      Files.notExists(Paths.get(p)))
    val now = System.currentTimeMillis()
    val statted = present.map(p => (p, scala.util.Try(
      Files.getLastModifiedTime(Paths.get(p)).toMillis).toOption))
    val candidates = statted.collect { case (p, Some(t)) => (p, t) }
    val dropped = candidates
      .sortBy(-_._2)
      .drop(math.max(retention.keep - 1, 0))
      .filter { case (_, mtime) => now - mtime > retention.graceMs }
    dropped.foreach { case (p, _) => TxLog.deleteTree(Paths.get(p)) }
    val gone = dropped.map(_._1).toSet ++ vanished
    if (gone.nonEmpty) {
      writtenViews.computeIfPresent(stem,
        (_, cur) => cur.filterNot(gone.contains))
      ()
    }
  }

  /** WRITE-PATH FRESHNESS POLICY — the
    * [[TxParquetSink.maintainIfNeeded]] pattern for the MV tier:
    * writers call this after their commit (deliberately NOT inside the
    * commit path — maintenance amortizes and a lost race is harmless),
    * and any rollup registered for `sink` that has fallen more than
    * `lagBudget` versions behind is brought forward by [[refresh]] —
    * so registered views re-arm without the caller remembering to run
    * a maintenance loop. With `lagBudget > 0` the refresh amortizes
    * across commits while [[MvRewrite]]'s stale-view compensation
    * serves the in-between window from view ⊕ tail — the two halves of
    * the freshness story: compensation bounds READ cost during the
    * lag, the policy bounds the lag itself. Returns the defs that were
    * ACTUALLY refreshed, each with the path [[refreshDef]] took —
    * empty when every grain was fresh enough (or none is registered).
    * A caller asserting freshness inspects exactly the grains that
    * moved, never a primary grain the tick didn't touch (the round-11
    * wrong-grain finding). */
  def refreshIfStale(spark: SparkSession, sink: TxParquetSink,
      lagBudget: Int = 0,
      retention: Retention = Retention.Default): Seq[(MvDef, RefreshOutcome)] = {
    val v = sink.version()
    // per-grain budget: only the grains PAST the budget refresh — a
    // fine cube three commits behind must not drag a coarse rollup one
    // commit behind into an every-tick merge
    val due = lookupAll(sink.dir).filter(d => v > d.baseVersion + lagBudget)
    due.map(d => refreshDef(spark, sink, d, retention))
  }

  /** Refreshes EVERY grain registered for `sink` ([[refreshDef]] per
    * def) and returns the primary one, None if nothing is registered. */
  def refresh(spark: SparkSession, sink: TxParquetSink,
      retention: Retention = Retention.Default): Option[MvDef] = {
    lookupAll(sink.dir).foreach(d => refreshDef(spark, sink, d, retention))
    lookup(sink.dir)
  }

  /** The SUM/COUNT(/insert-only MIN/MAX) delta merge both refresh arms
    * share: `feed` aggregates to signed view-grain partials, full-outer
    * merges into `old` with coalesce-to-zero, and groups whose row
    * count reaches zero leave (the multiplicity discipline). Null-safe
    * group join: GROUP BY keeps a NULL group, and a plain
    * using-columns join would never match its delta — a
    * fully-retracted NULL group would survive with stale totals; delta
    * group columns are renamed, matched with `<=>`, and the output
    * group value taken from whichever side exists (the stored cnt is
    * never null, so its nullness marks old-side absence). MIN/MAX fold
    * through least/greatest — valid only for an insert-only `feed`,
    * which both callers guarantee. Returns the merged frame in the
    * view's column order, cnt>0-filtered, unwritten. */
  private def incrementalMerge(spark: SparkSession, d: MvDef,
      minMax: Boolean, feed: DataFrame, old: DataFrame): DataFrame = {
    import org.apache.spark.sql.functions.{coalesce, col, count, greatest, least, lit, max, min, sum, when}
    val sgn = when(col("_change_type") === "I", lit(1L))
      .otherwise(lit(-1L))
    val deltaAggs = d.valueCols.flatMap(c =>
      Seq(sum(sgn * col(c).cast("long")).as(s"d_sum_$c"),
        sum(when(col(c).isNotNull, sgn).otherwise(lit(0L)))
          .as(s"d_cntn_$c")) ++
        (if (minMax) Seq(min(col(c)).as(s"d_min_$c"),
          max(col(c)).as(s"d_max_$c")) else Nil)) :+
      sum(sgn).as("d_cnt")
    val delta = feed.groupBy(d.groupCols.map(col): _*)
      .agg(deltaAggs.head, deltaAggs.tail: _*)
    val dG = d.groupCols.map(c => c -> s"__d_$c")
    val deltaR = delta.select(
      dG.map { case (c, a) => col(c).as(a) } ++
        delta.columns.filterNot(d.groupCols.contains).map(col): _*)
    val joinCond = dG.map { case (c, a) => col(c) <=> col(a) }
      .reduce(_ && _)
    val groupOut = dG.map { case (c, a) =>
      when(col("cnt").isNotNull, col(c)).otherwise(col(a)).as(c) }
    def cntnOf(c: String) =
      coalesce(col(s"cntn_$c"), lit(0L)) +
        coalesce(col(s"d_cntn_$c"), lit(0L))
    val mergedCols = d.valueCols.flatMap(c =>
      // SUM over zero non-null values is NULL, not 0 — a group whose
      // surviving values are all NULL must answer NULL exactly like
      // the scan (and like registerRollup stores)
      Seq(when(cntnOf(c) === 0L, lit(null).cast("long"))
        .otherwise(coalesce(col(s"sum_$c"), lit(0L)) +
          coalesce(col(s"d_sum_$c"), lit(0L))).as(s"sum_$c"),
        cntnOf(c).as(s"cntn_$c")) ++
        (if (minMax) Seq(
          least(col(s"min_$c"), col(s"d_min_$c")).as(s"min_$c"),
          greatest(col(s"max_$c"), col(s"d_max_$c")).as(s"max_$c"))
         else Nil)) :+
      (coalesce(col("cnt"), lit(0L)) +
        coalesce(col("d_cnt"), lit(0L))).as("cnt")
    old.join(deltaR, joinCond, "full_outer")
      .select(groupOut ++ mergedCols: _*)
      .where(col("cnt") > 0)
      .select(d.schema.fieldNames.map(col).toSeq: _*)
  }

  /** INCREMENTAL REFRESH of one grain — brings the registered rollup
    * forward to the base's current version from the sink's own change
    * feed ([[TxParquetSink.changesBetween]]), never a base rescan when
    * the algebra allows: the delta commits aggregate at view grain
    * with CDC sign (I adds, D subtracts — SUM/COUNT self-maintenance),
    * the stored view full-outer-merges with coalesce-to-zero, and a
    * group whose row count reaches zero leaves the view (the
    * multiplicity discipline). MIN/MAX columns fold through
    * `least`/`greatest` — valid ONLY for an insert-only feed, so a
    * delete-bearing feed on a view with stored extremes falls back to
    * a full [[registerRollup]] rebuild (Gupta & Mumick: MIN/MAX are
    * not self-maintainable under retraction). The refreshed rollup
    * lands at a NEW path (readers planned against the old one are
    * unaffected) and re-registers at the new base version — which is
    * what re-arms [[MvRewrite]] after the base moved. Cost:
    * O(changed commits) + O(view), never O(base). Returns the brought-
    * forward def WITH the path taken ([[RefreshOutcome]]) so callers
    * can pin the maintenance mode instead of inferring it from the
    * output path (which rebuilds share). */
  private def refreshDef(spark: SparkSession, sink: TxParquetSink,
      d: MvDef, retention: Retention = Retention.Default)
      : (MvDef, RefreshOutcome) = {
    import org.apache.spark.sql.functions.{coalesce, col, count, greatest, least, lit, max, min, sum, when}
    val v1 = sink.version()
    if (v1 == d.baseVersion) (d, RefreshOutcome.Restamped)
    else {
        val minMax = d.mins.nonEmpty || d.maxs.nonEmpty
        // fixed stem + version, NOT path + suffix: a per-commit
        // maintenance loop (StreamMv) would otherwise accumulate one
        // `_r<v>` per tick until the directory NAME itself overflows
        // the filesystem's component limit. A USER path that happens
        // to end in `_r<digits>` could make the derived path collide
        // with the current one — reading and overwriting the same
        // directory in one job — so collisions take a disambiguating
        // suffix instead
        val stem = stemOf(d.mvPath)
        val newPath0 = s"${stem}_r$v1"
        // never land on the CURRENT view dir, and never overwrite a
        // directory this refresher did not itself write (a user table
        // named like a refresh output — `mv_r2021` when the base
        // reaches version 2021 — would be clobbered by the
        // mode-overwrite write): hop `_x` suffixes until the name is
        // either fresh or a recorded superseded copy
        val newPath = {
          val known = writtenFor(stem).toSet
          var cand = if (newPath0 == d.mvPath) s"${d.mvPath}_x" else newPath0
          while (cand == d.mvPath ||
            (java.nio.file.Files.exists(java.nio.file.Paths.get(cand)) &&
              !known.contains(cand))) cand = s"${cand}_x"
          cand
        }
        // a RESTORE in range restated contents the change feed cannot
        // represent (base commits emit no rows) — folding across one
        // would silently diverge, so rebuild instead. Content-
        // preserving compactions do NOT trip this.
        val restated = sink.restatedBetween(d.baseVersion, v1)
        val feedOpt =
          if (restated) None else sink.changesBetween(spark, d.baseVersion, v1)
        // the delete probe is a real job (each delete commit's masked
        // pre-image is read) — pay it only when the answer matters,
        // i.e. when stored extremes make retraction non-incremental
        val hasDeletes = minMax && feedOpt.exists(f =>
          f.where(col("_change_type") === "D").limit(1).count() > 0)
        val (d2, outcome) = (restated, feedOpt) match {
          case (true, _) =>
            (registerRollup(spark, sink, d.groupCols, d.valueCols,
              newPath, minMax = minMax), RefreshOutcome.Rebuilt)
          case (_, None) =>
            // only content-preserving base/metadata commits in range:
            // re-stamp the version
            (d.copy(baseVersion = v1), RefreshOutcome.Restamped)
          case (_, Some(feed)) if hasDeletes =>
            // AFFECTED-GROUPS TARGETED RECOMPUTE — retractions hit
            // stored extremes, which are not self-maintainable (Gupta &
            // Mumick), but only the retracted GROUPS are suspect: keep
            // the incremental merge for every other group, recompute
            // exactly the affected ones from the current base snapshot
            // (null-safe semi-join on the feed's D keys; base read
            // pre-filtered by the tail's own delete predicates when
            // they reference grouping columns only). Cost:
            // O(view) + O(feed) + O(base ∩ affected) — the full rebuild
            // survives only for restatements.
            val affR = affectedKeys(feed, d.groupCols)
              .localCheckpoint(true) // small; reused 3×
            def anti(df: DataFrame) = df.join(affR,
              d.groupCols.map(c => df(c) <=> affR(s"__aff_$c"))
                .reduce(_ && _), "left_anti")
            val oldView = spark.read.schema(d.schema).parquet(d.mvPath)
            val mergedUnaffected =
              incrementalMerge(spark, d, minMax, anti(feed), anti(oldView))
            val out = sink.readSnapshot(spark) match {
              case None => mergedUnaffected // fully-empty base: nothing to recompute
              case Some(b) => mergedUnaffected.union(
                affectedRecompute(spark, sink, b, affR, d, d.baseVersion, v1))
            }
            out.write.mode("overwrite").parquet(newPath)
            recordWritten(newPath)
            require(sink.version() == v1,
              s"refresh: base ${sink.dir} moved during the recompute " +
                s"($v1 -> ${sink.version()}); retry")
            (d.copy(mvPath = newPath, baseVersion = v1,
              rows = TxParquetSink.footerRows(
                java.nio.file.Paths.get(newPath))),
              RefreshOutcome.Targeted)
          case (_, Some(feed)) =>
            incrementalMerge(spark, d, minMax, feed,
              spark.read.schema(d.schema).parquet(d.mvPath))
              .write.mode("overwrite").parquet(newPath)
            recordWritten(newPath)
            require(sink.version() == v1,
              s"refresh: base ${sink.dir} moved during the merge " +
                s"($v1 -> ${sink.version()}); retry")
            (d.copy(mvPath = newPath, baseVersion = v1,
              rows = TxParquetSink.footerRows(
                java.nio.file.Paths.get(newPath))),
              RefreshOutcome.Merged)
        }
        register(sink.dir, d2)
        // the refresh moved the grain to a new directory: reclaim old
        // superseded copies past the retention policy (a restamp keeps
        // its path and reclaims nothing)
        if (d2.mvPath != d.mvPath) gcSuperseded(stem, retention)
        (d2, outcome)
    }
  }
}
