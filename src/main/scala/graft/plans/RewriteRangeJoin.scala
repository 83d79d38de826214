package graft.plans

import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.aggregate.{AggregateExpression, Complete, Max}
import org.apache.spark.sql.catalyst.plans.{Inner, JoinType, LeftOuter, RightOuter}
import org.apache.spark.sql.catalyst.plans.logical._
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.types.{IntegerType, LongType}

/** Optimizer rule: rewrite the naive point-in-interval join
  *
  *   probe JOIN build ON probe.k = build.k
  *     AND build.t >= probe.t - W AND build.t < probe.t     -- W literal > 0
  *
  * into a bucketized equi-join: without an equi time key Spark can only
  * plan the range conjuncts as a post-filter on the k-join — correct, but
  * one hot k (or no k at all) degenerates to nested-loop work. This rule
  * is graft's only range-join bucketing: `join_range_bucketed` writes the
  * naive inner range join, and every [[graft.Session.local]] session runs
  * the rule (installed by [[graft.functions.GraftExtensions]] inside the
  * operator-optimization fixpoint). The rewrite gives
  * both sides an equal-width bucket key (bucket START, `t - pmod(t, W)` —
  * floor semantics for any sign of t, no division), explodes the probe to
  * the only two buckets its interval can touch, joins on (k…, bucket),
  * and keeps the original range conjuncts as the exact filter. Every
  * matching pair survives exactly once: the build row has ONE bucket and
  * the probe's two candidates are distinct.
  *
  * Join types (soundness before reach):
  *
  *  - INNER: the direct rewrite.
  *  - OUTER with the BUILD (point) side preserved — LEFT OUTER with the
  *    probe on the right, RIGHT OUTER with the probe on the left: also
  *    direct, because the preserved side does not explode, so an
  *    unmatched build row null-extends exactly once.
  *  - OUTER with the PROBE side preserved — the as-of/left-range shape
  *    event-log users actually write: the probe's two copies would each
  *    null-extend, so the rewrite tags every probe ROW with a synthetic
  *    id (MonotonicallyIncreasingID — no reliance on any user key being
  *    unique, which is why there is no "ambiguous dedup key" scope hole),
  *    pos-explodes the two buckets, left-outer joins, and keeps a row iff
  *    it matched OR (its row-id group matched nowhere AND it is copy 0) —
  *    one whole-group window (max(build.t IS NOT NULL) over the row id)
  *    plus a filter. Costs one extra shuffle of the joined frame on the
  *    row id; the naive alternative is the nested-loop this rule exists
  *    to kill.
  *  - FULL OUTER / semi / anti: left alone (both-side explosion or
  *    copy-level semi multiplicity — out of scope).
  *
  * Already-bucketized guard: a join that ALREADY carries an equi-conjunct
  * linking expressions derived from the two time attributes (a
  * hand-bucketized join, whose post-join range filter
  * PushPredicateThroughJoin folds back into the join condition inside the
  * same fixpoint batch this rule runs in) is left alone — rewriting it
  * would double the probe fan-out (2 manual copies × 2 rule buckets).
  * Both the equi-conjunct's sides and the time attributes themselves are
  * traced to their origin columns through Project aliases, Filters and
  * Generate outputs: a time column aliased in the same Project that
  * carries the bucket key (`tu := unix_micros(ts)`) otherwise never
  * matches its traced bucket. The trace is conservative: a join whose
  * equi key is computed from the same column as its time is left alone
  * too.
  *
  * Both bounds may be strict or inclusive (an inclusive span of W+1
  * consecutive longs still fits 2 width-W buckets for W ≥ 1); `t`
  * attributes must be LongType (epoch micros — the engine's time
  * representation); W must fold to a positive integral literal. Like
  * [[graft.functions.RewriteDotProduct]], users keep writing the portable
  * naive form; the plan gets the scale shape.
  */
object RewriteRangeJoin extends Rule[LogicalPlan] {

  private val Prefix = "__graft_range"
  private val BktProbe = s"${Prefix}_bkt_p"
  private val BktBuild = s"${Prefix}_bkt_b"
  private val RidName = s"${Prefix}_rid"
  private val PosName = s"${Prefix}_pos"
  private val AnyName = s"${Prefix}_any"

  private def conjuncts(e: Expression): Seq[Expression] = e match {
    case And(l, r) => conjuncts(l) ++ conjuncts(r)
    case x => Seq(x)
  }

  private def longLit(e: Expression): Option[Long] = e match {
    case Literal(v: Long, LongType) => Some(v)
    case Literal(v: Int, _) => Some(v.toLong)
    case _ => None
  }

  /** build.t >= probe.t - W (either operand order, >= or >). */
  private def asLower(e: Expression)
      : Option[(AttributeReference, AttributeReference, Long)] = e match {
    case GreaterThanOrEqual(bt: AttributeReference, Subtract(pt: AttributeReference, w, _)) =>
      longLit(w).map((bt, pt, _))
    case GreaterThan(bt: AttributeReference, Subtract(pt: AttributeReference, w, _)) =>
      longLit(w).map((bt, pt, _))
    case LessThanOrEqual(Subtract(pt: AttributeReference, w, _), bt: AttributeReference) =>
      longLit(w).map((bt, pt, _))
    case LessThan(Subtract(pt: AttributeReference, w, _), bt: AttributeReference) =>
      longLit(w).map((bt, pt, _))
    case _ => None
  }

  /** build.t < probe.t (either operand order, < or <=). */
  private def asUpper(e: Expression)
      : Option[(AttributeReference, AttributeReference)] = e match {
    case LessThan(bt: AttributeReference, pt: AttributeReference) => Some((bt, pt))
    case LessThanOrEqual(bt: AttributeReference, pt: AttributeReference) => Some((bt, pt))
    case GreaterThan(pt: AttributeReference, bt: AttributeReference) => Some((bt, pt))
    case GreaterThanOrEqual(pt: AttributeReference, bt: AttributeReference) => Some((bt, pt))
    case _ => None
  }

  /** Bucket START of t for width w: t - pmod(t, w) — floor-aligned for
    * negative t too, and pure +/-/mod arithmetic.
    */
  private def bucketOf(t: Expression, w: Long): Expression =
    Subtract(t, Pmod(t, Literal(w)))

  /** The source attributes an expression is computed from, traced through
    * Project aliases, Filters and Generate outputs of `plan`. Coarse on
    * Generate (the whole generator input counts) — coarseness only makes
    * the already-bucketized guard MORE conservative, never less sound.
    */
  private def originRefs(e: Expression, plan: LogicalPlan): AttributeSet = {
    def walk(refs: AttributeSet, p: LogicalPlan): AttributeSet = p match {
      case Project(list, child) =>
        val m = list.collect { case a: Alias => a.toAttribute -> a.child.references }
          .toMap[Attribute, AttributeSet]
        walk(AttributeSet(refs.toSeq.flatMap(r => m.getOrElse(r, AttributeSet(r)))), child)
      case f: Filter => walk(refs, f.child)
      case g: Generate =>
        val genOut = AttributeSet(g.generatorOutput)
        val next =
          if (refs.toSeq.exists(genOut.contains))
            refs -- g.generatorOutput ++ g.generator.references
          else refs
        walk(next, g.child)
      case _ => refs
    }
    walk(e.references, plan)
  }

  /** True when the join condition already links a function of pt to a
    * function of bt with an equality — the hand-bucketized shape.
    */
  private def alreadyBucketized(
      cs: Seq[Expression], probe: LogicalPlan, build: LogicalPlan,
      pt: AttributeReference, bt: AttributeReference): Boolean = {
    val ptO = originRefs(pt, probe)
    val btO = originRefs(bt, build)
    def derived(refs: AttributeSet, from: AttributeSet) = refs.exists(from.contains)
    cs.exists {
      case EqualTo(l, r) =>
        def sideRefs(e: Expression): Option[AttributeSet] =
          if (e.references.subsetOf(probe.outputSet)) Some(originRefs(e, probe))
          else if (e.references.subsetOf(build.outputSet)) Some(originRefs(e, build))
          else None
        (sideRefs(l), sideRefs(r)) match {
          case (Some(lr), Some(rr)) =>
            (derived(lr, ptO) && derived(rr, btO)) ||
              (derived(lr, btO) && derived(rr, ptO))
          case _ => false
        }
      case _ => false
    }
  }

  override def apply(plan: LogicalPlan): LogicalPlan = plan transform {
    case j @ Join(left, right, jt, Some(cond), hint)
        if (jt == Inner || jt == LeftOuter || jt == RightOuter) &&
          // fixpoint guard: never rewrite our own output
          !j.children.exists(_.output.exists(_.name.startsWith(Prefix))) =>
      val cs = conjuncts(cond)
      val candidate = (for {
        lowC <- cs; (ltLo, ptLo, w) <- asLower(lowC).toSeq
        upC <- cs; (ltUp, ptUp) <- asUpper(upC).toSeq
        if ltLo.exprId == ltUp.exprId && ptLo.exprId == ptUp.exprId && w > 0
      } yield (ptLo, ltLo, w)).headOption

      candidate match {
        case Some((pt, bt, w))
            if pt.dataType == LongType && bt.dataType == LongType =>
          val probeIsLeft =
            left.outputSet.contains(pt) && right.outputSet.contains(bt)
          val probeIsRight =
            right.outputSet.contains(pt) && left.outputSet.contains(bt)
          if (!probeIsLeft && !probeIsRight) j
          else {
            val (probe, build) =
              if (probeIsLeft) (left, right) else (right, left)
            if (alreadyBucketized(cs, probe, build, pt, bt)) j
            else (jt, probeIsLeft) match {
              case (Inner, pl) =>
                rewriteSimple(j, probe, build, pt, bt, w, cond, hint, Inner, pl)
              case (LeftOuter, false) => // preserved side = build: direct
                rewriteSimple(j, probe, build, pt, bt, w, cond, hint, LeftOuter, probeLeft = false)
              case (RightOuter, true) => // preserved side = build: direct
                rewriteSimple(j, probe, build, pt, bt, w, cond, hint, RightOuter, probeLeft = true)
              case (LeftOuter, true) =>
                rewriteProbePreserved(j, probe, build, pt, bt, w, cond, hint, probeLeft = true)
              case (RightOuter, false) =>
                rewriteProbePreserved(j, probe, build, pt, bt, w, cond, hint, probeLeft = false)
              case _ => j
            }
          }
        case _ => j
      }
  }

  /** probe holds pt (the interval end), build holds bt (the point). Used
    * whenever no dedup is needed: inner joins, and outer joins whose
    * preserved side is the (un-exploded) build side.
    */
  private def rewriteSimple(
      j: Join, probe: LogicalPlan, build: LogicalPlan,
      pt: AttributeReference, bt: AttributeReference, w: Long,
      cond: Expression, hint: JoinHint, jt: JoinType,
      probeLeft: Boolean): LogicalPlan = {
    val pBkt = AttributeReference(BktProbe, LongType, nullable = true)()
    val b = bucketOf(pt, w)
    val gen = Generate(
      Explode(CreateArray(Seq(b, Subtract(b, Literal(w))))),
      unrequiredChildIndex = Nil, outer = false, qualifier = None,
      generatorOutput = Seq(pBkt), child = probe)
    val bBktAlias = Alias(bucketOf(bt, w), BktBuild)()
    val proj = Project(build.output :+ bBktAlias, build)
    val newCond = And(cond, EqualTo(pBkt, bBktAlias.toAttribute))
    val newJoin =
      if (probeLeft) Join(gen, proj, jt, Some(newCond), hint)
      else Join(proj, gen, jt, Some(newCond), hint)
    Project(j.output, newJoin)
  }

  /** Outer join preserving the PROBE side: tag probe rows with a synthetic
    * id, pos-explode the two buckets, outer-join, then keep matched rows
    * plus exactly one null-extended copy (copy 0) for row-id groups that
    * matched nowhere.
    */
  private def rewriteProbePreserved(
      j: Join, probe: LogicalPlan, build: LogicalPlan,
      pt: AttributeReference, bt: AttributeReference, w: Long,
      cond: Expression, hint: JoinHint, probeLeft: Boolean): LogicalPlan = {
    val ridAlias = Alias(MonotonicallyIncreasingID(), RidName)()
    val projRid = Project(probe.output :+ ridAlias, probe)
    val pos = AttributeReference(PosName, IntegerType, nullable = false)()
    val pBkt = AttributeReference(BktProbe, LongType, nullable = true)()
    val b = bucketOf(pt, w)
    val gen = Generate(
      PosExplode(CreateArray(Seq(b, Subtract(b, Literal(w))))),
      unrequiredChildIndex = Nil, outer = false, qualifier = None,
      generatorOutput = Seq(pos, pBkt), child = projRid)
    val bBktAlias = Alias(bucketOf(bt, w), BktBuild)()
    val proj = Project(build.output :+ bBktAlias, build)
    val newCond = And(cond, EqualTo(pBkt, bBktAlias.toAttribute))
    val joined =
      if (probeLeft) Join(gen, proj, LeftOuter, Some(newCond), hint)
      else Join(proj, gen, RightOuter, Some(newCond), hint)
    // matched anywhere in this probe row's group? (a matched row always
    // has bt non-null: the range conjuncts cannot hold on null). MUST use
    // the join-OUTPUT attribute: the outer join re-emits bt with
    // nullable=true, and an IsNotNull over the original non-nullable
    // reference gets constant-folded to `true` by NullPropagation when
    // this rule runs inside the operator-optimization fixpoint.
    val btOut = joined.output.find(_.exprId == bt.exprId).getOrElse(bt)
    val anyAlias = Alias(
      WindowExpression(
        AggregateExpression(Max(IsNotNull(btOut)), Complete, isDistinct = false),
        WindowSpecDefinition(Seq(ridAlias.toAttribute), Nil,
          SpecifiedWindowFrame(RowFrame, UnboundedPreceding, UnboundedFollowing))),
      AnyName)()
    val win = Window(Seq(anyAlias), Seq(ridAlias.toAttribute), Nil, joined)
    val keep = Or(IsNotNull(btOut),
      And(Not(anyAlias.toAttribute), EqualTo(pos, Literal(0))))
    Project(j.output, Filter(keep, win))
  }
}
