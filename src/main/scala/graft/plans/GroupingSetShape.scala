package graft.plans

import org.apache.spark.sql.catalyst.expressions.{Alias, AttributeReference, ExprId, Expression, GreaterThan, Literal, NamedExpression, VirtualColumn}
import org.apache.spark.sql.catalyst.expressions.aggregate.{AggregateExpression, Count}
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Expand, Filter, LogicalPlan, Project, Union}

/** The decomposed Aggregate-over-Expand shape that GROUPING SETS /
  * ROLLUP / CUBE compile to: the grouping-id attribute, the Expand's
  * group-copy attributes, and — per Expand projection — the
  * grouping-id literal plus which group copies the set KEEPS (mapped
  * back to the child attribute each copy passes through; a rolled-up
  * copy appears as a null literal in the projection). [[decompose]]
  * turns it into one plain aggregate per set; it is shared by
  * [[MvRewrite]] (branches served from a registered view) and
  * [[MetadataAggregates]] (branches answered from commit-log
  * manifests), so the two rewrites can never drift on shape parsing
  * or on the branch semantics. */
private[plans] object GroupingSetShape {

  private final case class Shape(
      gid: AttributeReference,
      setCols: Seq[AttributeReference],
      sets: Seq[(Literal, Map[ExprId, AttributeReference])])

  /** Parses `groups` (the rollup Aggregate's grouping attributes, one
    * of which is `spark_grouping_id`) against the Expand. None when a
    * projection carries a computed grouping expression or a
    * non-literal grouping id — the caller keeps the scan. */
  private def of(groups: Seq[AttributeReference], expand: Expand): Option[Shape] = {
    val gid = groups.find(_.name == VirtualColumn.groupingIdName)
      .getOrElse(return None)
    val setCols = groups.filterNot(_.exprId == gid.exprId)
    def pos(a: AttributeReference): Int =
      expand.output.indexWhere(_.exprId == a.exprId)
    val gidPos = pos(gid)
    val colPos = setCols.map(c => c -> pos(c)).toMap
    if (gidPos < 0 || colPos.valuesIterator.exists(_ < 0)) return None
    val sets = expand.projections.map { proj =>
      val gl = proj(gidPos) match {
        case l: Literal => l
        case _ => return None
      }
      val inc = setCols.flatMap { c =>
        proj(colPos(c)) match {
          case a: AttributeReference => Seq(c.exprId -> a)
          case Literal(null, _) => Nil
          case _ => return None // a computed grouping expression
        }
      }.toMap
      (gl, inc)
    }
    Some(Shape(gid, setCols, sets))
  }

  /** Every output must be reconstructible per branch: a grouping
    * column of the rollup (possibly aliased — `grouping_id()` lands as
    * an alias of the gid attribute) or an aggregate the caller's
    * machinery supports. */
  private def outputsOk(groups: Seq[AttributeReference],
      aggs: Seq[NamedExpression],
      supported: AggregateExpression => Boolean): Boolean =
    aggs.forall {
      case a: AttributeReference => groups.exists(_.exprId == a.exprId)
      case Alias(a: AttributeReference, _) =>
        groups.exists(_.exprId == a.exprId)
      case Alias(ae: AggregateExpression, _) => supported(ae)
      case _ => false
    }

  /** GROUPING-SETS REWRITE — `Aggregate(gid :: groupCopies, aggs,
    * Expand(projections, _, child))` decomposes into one PLAIN
    * aggregate per grouping set over `child` (the Expand projection
    * tells which group columns the set keeps and which it nulls, plus
    * the grouping-id literal), each handed to `serve`; the served
    * branches then project to the rollup's output shape (kept columns,
    * NULLs for the rolled-up ones, the set's grouping id) and UNION,
    * with the original output names and exprIds restored on top.
    * All-or-nothing across sets: one branch `serve` declines keeps the
    * original plan for the whole rollup. Cost: |sets| served
    * aggregates instead of one |sets|-way row replication of the scan —
    * the Expand shape is literally |sets| copies of every base row
    * through one shuffle. None when `agg` is not a grouping-sets
    * Aggregate-over-Expand or an output is not `supported`. */
  def decompose(agg: Aggregate, supported: AggregateExpression => Boolean)
      (serve: Aggregate => Option[LogicalPlan]): Option[LogicalPlan] = {
    val (groups, aggs, expand) = agg match {
      case Aggregate(gs, as, e: Expand, _)
          if as.nonEmpty && gs.forall(_.isInstanceOf[AttributeReference]) =>
        (gs.map(_.asInstanceOf[AttributeReference]), as, e)
      case _ => return None
    }
    val shape = of(groups, expand).getOrElse(return None)
    if (!outputsOk(groups, aggs, supported)) return None
    val branches = shape.sets.map { case (gidLit, included) =>
      val branchGroups = shape.setCols.flatMap(c => included.get(c.exprId))
      // fresh output aliases per branch: Union branches must not share
      // output exprIds, and the final projection restores the originals
      val aggAliases = aggs.collect {
        case al @ Alias(ae: AggregateExpression, name) =>
          al.exprId -> Alias(ae, name)()
      }.toMap
      // the GRAND-TOTAL set needs an empty-input guard: a global
      // Aggregate(Nil, …) yields ONE row over empty input, while the
      // native Aggregate-over-Expand groups by the grouping id and
      // yields ZERO — so the () branch carries an extra COUNT(*) and
      // filters it > 0 (a grouped branch emits rows only for existing
      // groups and needs no guard)
      val guard =
        if (branchGroups.nonEmpty) None
        else Some(Alias(Count(Literal(1)).toAggregateExpression(), "__rows")())
      val innerAggs: Seq[NamedExpression] = branchGroups ++
        aggs.collect { case al @ Alias(_: AggregateExpression, _) =>
          aggAliases(al.exprId) } ++ guard
      serve(Aggregate(branchGroups, innerAggs, expand.child)).map { served =>
        val byId = served.output.map(a => a.exprId -> a).toMap
        def groupValue(a: AttributeReference): Expression =
          if (a.exprId == shape.gid.exprId) gidLit
          else included.get(a.exprId) match {
            case Some(childAttr) => byId(childAttr.exprId)
            case None => Literal(null, a.dataType)
          }
        val projOut: Seq[NamedExpression] = aggs.map {
          case a: AttributeReference => Alias(groupValue(a), a.name)()
          case Alias(a: AttributeReference, name) =>
            Alias(groupValue(a), name)()
          case al @ Alias(_: AggregateExpression, name) =>
            Alias(byId(aggAliases(al.exprId).exprId), name)()
          case _ => return None // unreachable: outputsOk gated
        }
        val src = guard.map(g =>
          Filter(GreaterThan(byId(g.exprId), Literal(0L)), served))
          .getOrElse(served)
        Project(projOut, src)
      }
    }
    if (branches.exists(_.isEmpty)) return None
    val union = Union(branches.map(_.get))
    Some(Project(union.output.zip(aggs).map { case (u, o) =>
      Alias(u, o.name)(exprId = o.exprId)
    }, union))
  }
}
