package graft.plans

import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.aggregate.{AggregateExpression, Complete, Count}
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, LogicalPlan}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.types._

import graft.functions.KmvSketchAggregate

/** OPT-IN optimizer rule: rewrite exact `count(DISTINCT x)` into the KMV
  * sketch estimate — the semantic-relaxation switch a 100 TB deployment
  * flips when distinct counts feed dashboards, not billing. Exact
  * distinct aggregation shuffles the whole distinct key set per group;
  * the rewritten plan ships ≤ k longs per group
  * ([[graft.functions.KmvSketchAggregate]]), at the estimator's
  * ~1/√(k−2) relative error.
  *
  * DISABLED by default — the rewrite changes RESULTS, so unlike
  * [[RewriteRangeJoin]] (plan-shape-only) it requires explicit consent:
  *
  *   spark.conf.set("spark.graft.approx.distinct.enabled", "true")
  *   spark.conf.set("spark.graft.approx.distinct.k", "64")   // optional
  *
  * Scope (soundness before reach):
  *  - only `Count` with isDistinct, no FILTER clause, exactly one
  *    argument of integral type (the hash needs integer input;
  *    string/decimal distincts are left exact);
  *  - null semantics preserved: the hash of a null input is null and the
  *    sketch skips it, exactly as count(distinct) ignores nulls; an empty
  *    group yields an empty sketch → estimate 0 = the exact count;
  *  - estimates are exact below k distinct values (the sketch saw the
  *    whole set) up to 2⁻³²-probability hash collisions, so small groups
  *    lose nothing;
  *  - validity bound: the 2³² hash range means cardinalities approaching
  *    2³² saturate — the estimator is for group cardinalities ≪ 4 B;
  *  - idempotent under the fixpoint: the rewritten tree contains no
  *    distinct Count for the rule to match again.
  */
object RewriteApproxDistinct extends Rule[LogicalPlan] {

  final val EnabledKey = "spark.graft.approx.distinct.enabled"
  final val KKey = "spark.graft.approx.distinct.k"

  /** Default sketch size when [[KKey]] is unset — shared with the spec's
    * error-bound and exactness assertions so they track the real default. */
  final val DefaultK = 32

  private def integral(dt: DataType): Boolean = dt match {
    case ByteType | ShortType | IntegerType | LongType => true
    case _ => false
  }

  /** xxhash64(x) pmod 2³² — a full 64-bit mix folded onto the
    * estimator's range, so the image is NOT capped by a pre-mod prime
    * (the batch query's Knuth form is fine for its oracle-mirrored
    * testbed ids, but a rule rewriting ARBITRARY integral columns must
    * not collide ids that differ by a modulus: under `% 1000003` the
    * ids 5 and 1000008 hash identically and `count(DISTINCT)` of the
    * pair would return 1). Residual collisions are birthday-level
    * (~n²/2³³ — ~0.1% estimate bias at 100M distinct, far under the
    * estimator's own ~18% stderr); cardinalities approaching 2³² need a
    * wider range, which is the documented validity bound. */
  private def knuthHash(x: Expression): Expression = {
    val cast = Cast(x, LongType)
    // XxHash64 SKIPS null children (returning the seed hash) rather than
    // propagating null — wrap explicitly so null inputs stay null and the
    // sketch ignores them like count(distinct) does
    If(IsNull(cast),
      Literal.create(null, LongType),
      Pmod(XxHash64(Seq(cast), 42L), Literal(4294967296L)))
  }

  /** size(mins) < k → exact size; else (k−1)·2³² div max(kth, 1). */
  private def estimate(kmv: Expression, k: Int): Expression = {
    val sz = Size(kmv, legacySizeOfNull = false)
    If(
      LessThan(sz, Literal(k)),
      Cast(sz, LongType),
      IntegralDivide(
        Literal((k - 1).toLong * 4294967296L),
        Greatest(Seq(GetArrayItem(kmv, Literal(k - 1)), Literal(1L)))))
  }

  override def apply(plan: LogicalPlan): LogicalPlan = {
    if (conf.getConfString(EnabledKey, "false") != "true") return plan
    val k = conf.getConfString(KKey, DefaultK.toString).toInt
    require(k > 1, s"$KKey must be > 1, got $k")
    plan.transformUp {
      case a: Aggregate if a.resolved &&
          a.aggregateExpressions.exists(_.exists {
            case AggregateExpression(Count(Seq(e)), _, true, None, _) =>
              integral(e.dataType)
            case _ => false
          }) =>
        a.transformExpressions {
          case AggregateExpression(Count(Seq(e)), _, true, None, _)
              if integral(e.dataType) =>
            estimate(
              AggregateExpression(
                KmvSketchAggregate(knuthHash(e), k), Complete, isDistinct = false),
              k)
        }
    }
  }
}
