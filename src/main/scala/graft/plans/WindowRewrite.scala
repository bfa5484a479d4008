package graft.plans

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.{Alias, Attribute, AttributeReference, EqualTo, Expression, IsNotNull, NamedExpression, RowFrame, SpecifiedWindowFrame, UnboundedFollowing, UnboundedPreceding, WindowExpression, WindowSpecDefinition}
import org.apache.spark.sql.catalyst.expressions.aggregate.{AggregateExpression, Average, Count, Max, Min, Sum}
import org.apache.spark.sql.catalyst.plans.Inner
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Filter, Join, LogicalPlan, Project, Window}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}

/** Self-join-to-window rewrite — the other classic "the fact table is
  * scanned twice" fix (the first being [[MaterializedViews]]): a query
  * that joins a table to ITS OWN aggregate on the grouping keys
  *
  * {{{ fact JOIN (SELECT k, sum(x) FROM fact GROUP BY k) USING (k) }}}
  *
  * is exactly a window aggregate over one scan:
  *
  * {{{ SELECT *, sum(x) OVER (PARTITION BY k) FROM fact }}}
  *
  * At 100 TB the difference is structural: the join form scans the fact
  * twice and shuffles it twice (once for the aggregate, once for the
  * join); the window form scans once and shuffles once. BI tools and
  * "share of group" queries generate the join form constantly.
  *
  * Soundness conditions (all required, checked syntactically on the
  * OPTIMIZED plan so pushed-down filters appear symmetrically on both
  * sides and are handled by the same-subtree test):
  *  - inner equi-join whose condition is exactly a conjunction of
  *    equalities pairing each aggregate grouping key with THE SAME
  *    UNDERLYING COLUMN of the probe side (same position in the shared
  *    base plan — an accidental equality between different columns does
  *    NOT partition the probe rows the way the aggregate grouped them);
  *  - both join inputs are the SAME subtree (`sameResult`) under only
  *    attribute-pruning Projects — identical pushed filters on both
  *    sides canonicalize equal and pass; an asymmetric filter fails;
  *  - every aggregate is a non-distinct, unfiltered sum/count/min/max/avg
  *    (each has an identical window form over the whole partition);
  *  - grouping keys are plain columns.
  *
  * Inner-join null semantics are reproduced, not assumed away: a null
  * join key never equals, so the join form DROPS null-key probe rows,
  * while a window would happily compute over a null partition — the
  * rewrite inserts the equivalent `IsNotNull` filter.
  *
  * Like [[MaterializedViews]], the rule fires only for scans of
  * explicitly registered paths ([[WindowRewrite.enable]]) so plan shapes
  * elsewhere in a session never change implicitly.
  */
object WindowRewrite {

  private val registry =
    new scala.collection.concurrent.TrieMap[String, Unit]

  /** Enable the rewrite for self-agg-joins over `factPath` (idempotent;
    * installs the optimizer rule on first use).
    */
  def enable(spark: SparkSession, factPath: String): Unit = {
    registry.put(DimFilePrune.norm(spark, factPath), ())
    org.apache.spark.sql.GraftBridge.addOptimization(spark, SelfJoinWindowRule)
  }

  def clear(): Unit = registry.clear()

  private[plans] def enabled(spark: SparkSession, path: String): Boolean =
    registry.contains(DimFilePrune.norm(spark, path))

  private[plans] def isEmpty: Boolean = registry.isEmpty
}

object SelfJoinWindowRule extends Rule[LogicalPlan] {

  override def apply(plan: LogicalPlan): LogicalPlan =
    if (WindowRewrite.isEmpty) plan
    else plan.transformDown {
      case j @ Join(left, right, Inner, Some(cond), _) =>
        rewrite(left, right, cond, aggOnLeft = false)
          .orElse(rewrite(right, left, cond, aggOnLeft = true))
          .getOrElse(j)
    }

  /** Strip attribute-only Projects; plain-attribute projection preserves
    * exprIds, so expressions above still bind to the base's output.
    */
  private def stripPrune(p: LogicalPlan): LogicalPlan = p match {
    case Project(pl, child) if pl.forall(_.isInstanceOf[AttributeReference]) =>
      stripPrune(child)
    case other => other
  }

  private def scanPath(p: LogicalPlan): Option[String] =
    p.collectFirst {
      case lr: LogicalRelation => lr.relation match {
        case h: HadoopFsRelation =>
          h.location.rootPaths.headOption.map(_.toUri.getPath)
        case _ => None
      }
    }.flatten

  private val windowable =
    Set(classOf[Sum], classOf[Count], classOf[Min], classOf[Max],
      classOf[Average]): Set[Class[_]]

  /** Try to rewrite `probe JOIN aggSide` (aggregate side second); emits
    * the join's output in the correct order for either orientation.
    */
  private def rewrite(probe: LogicalPlan, aggSide: LogicalPlan,
      cond: Expression, aggOnLeft: Boolean): Option[LogicalPlan] = {
    // the Aggregate must be the join input itself (no Project above it):
    // the emitted output list below is rebuilt from the aggregate list,
    // so a reordering/pruning Project in between would change the
    // join's output shape (the optimizer collapses such Projects into
    // the Aggregate anyway)
    val (groups, aggs, aggChild) = aggSide match {
      case Aggregate(g, a, c, _) => (g, a, c)
      case _ => return None
    }
    if (groups.isEmpty) return None
    val groupAttrs = groups.map {
      case a: AttributeReference => a
      case _ => return None
    }

    val probeBase = stripPrune(probe)
    val aggBase = stripPrune(aggChild)
    if (!probeBase.sameResult(aggBase)) return None
    if (probeBase.output.length != aggBase.output.length) return None
    val path = scanPath(probeBase).getOrElse(return None)
    if (!WindowRewrite.enabled(SparkSession.active, path)) return None

    // positional map aggBase attr -> probeBase attr (sameResult => the
    // stripped subtrees are the same plan, so outputs align by position)
    val toProbe: Map[Long, Attribute] =
      aggBase.output.map(_.exprId.id).zip(probeBase.output).toMap

    // join condition: a conjunction of plain-attr equalities pairing
    // every group key (exactly once) with the SAME underlying column
    val probeOut = probe.outputSet
    val groupSet = groupAttrs.map(_.exprId).toSet
    var pairs = Map.empty[Long, Attribute] // group exprId -> probe attr
    splitConjuncts(cond).foreach {
      case EqualTo(x: AttributeReference, y: AttributeReference) =>
        val (p, g) =
          if (probeOut.contains(x) && groupSet.contains(y.exprId)) (x, y)
          else if (probeOut.contains(y) && groupSet.contains(x.exprId)) (y, x)
          else return None
        if (pairs.contains(g.exprId.id)) return None
        // same base column, not an accidental cross-column equality
        if (toProbe.getOrElse(g.exprId.id, return None).exprId != p.exprId)
          return None
        pairs += g.exprId.id -> p
      case _ => return None
    }
    if (pairs.size != groupAttrs.length) return None

    // aggregate list: group passthroughs + windowable aggregates
    val frame =
      SpecifiedWindowFrame(RowFrame, UnboundedPreceding, UnboundedFollowing)
    val partKeys: Seq[Expression] = groupAttrs.map(g => pairs(g.exprId.id))
    val spec = WindowSpecDefinition(partKeys, Nil, frame)

    var winExprs = Seq.empty[NamedExpression] // computed by the Window node
    val aggSideOut: Seq[NamedExpression] = aggs.map {
      case g: AttributeReference if pairs.contains(g.exprId.id) =>
        Alias(pairs(g.exprId.id), g.name)(exprId = g.exprId)
      case al @ Alias(ae @ AggregateExpression(fn, _, false, None, _), name)
          if windowable.contains(fn.getClass) =>
        val remapped = ae.transform {
          case a: AttributeReference =>
            toProbe.getOrElse(a.exprId.id, return None)
        }
        val w = Alias(WindowExpression(remapped, spec), name)(exprId = al.exprId)
        winExprs :+= w
        w.toAttribute
      case _ => return None
    }
    if (winExprs.isEmpty) return None
    // the window's aggregate inputs must exist on the probe side; widen a
    // pruning Project if the probe dropped them
    val needed = winExprs.flatMap(_.references.toSeq)
      .filterNot(a => probe.outputSet.contains(a)).distinct
    val widened = if (needed.isEmpty) probe else probe match {
      case Project(pl, child) if needed.forall(child.outputSet.contains) =>
        Project(pl ++ needed, child)
      case _ => return None
    }

    // inner equi-join semantics: null keys never match
    val nullable = partKeys.collect { case a: Attribute if a.nullable => a }
    val filtered = if (nullable.isEmpty) widened
      else Filter(nullable.map(IsNotNull(_): Expression).reduce(
        org.apache.spark.sql.catalyst.expressions.And(_, _)), widened)

    val win = Window(winExprs, partKeys, Nil, filtered)
    val probeOutNamed: Seq[NamedExpression] = probe.output
    val out = if (aggOnLeft) aggSideOut ++ probeOutNamed
      else probeOutNamed ++ aggSideOut
    Some(Project(out, win))
  }

  private def splitConjuncts(e: Expression): Seq[Expression] = e match {
    case org.apache.spark.sql.catalyst.expressions.And(l, r) =>
      splitConjuncts(l) ++ splitConjuncts(r)
    case other => Seq(other)
  }
}
