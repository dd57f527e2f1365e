package graft.plans

import graft.exprs.{StEnvelopeBounds, StEnvelopeBoundsPoint, StEnvelopeBoundsRect, StMakeEnvelope, StPoint}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.catalyst.rules.Rule

/** Optimizer rule: collapse `st_envelope_bounds` over a geometry
  * CONSTRUCTOR into straight double arithmetic —
  *
  *   st_envelope_bounds(st_makeenvelope(x0,y0,x1,y1)) → rect fold of corners
  *   st_envelope_bounds(st_point(x,y))                → (x, y, x, y)
  *
  * Why it matters: the grid spatial joins compute the probe envelope from
  * a constructed geometry, and Catalyst's constraint inference derives
  * `isnotnull(st_envelope_bounds(st_makeenvelope(...)).xmin)` (once per
  * struct field) and pushes them below the probe-side exchange — four
  * full WKB build+parse round trips per input row in the scan stage, on
  * top of the real one above the exchange (guide §4.4's
  * duplicated-expensive-expression shape, in Catalyst-expression form).
  * After the collapse every copy is a handful of double compares.
  *
  * [[StEnvelopeBoundsRect]] replays the JTS envelope fold bit-for-bit
  * (see its scaladoc) — semantics-preserving wherever the composed form
  * is defined; on a NaN corner the composed form throws (WKB ring
  * closure fails) and the fold refines that crash into the JTS envelope
  * value. [[StEnvelopeBoundsPoint]] reproduces the WKB empty-point
  * convention (NaN ordinate → POINT EMPTY → NULL bounds) exactly.
  * Children must be deterministic: the rewrite re-anchors them under a
  * new parent (and the IsNotNull split below duplicates them).
  *
  * Injected via `GraftSparkExtensions.injectOptimizerRule`, so it runs
  * inside the operator-optimization fixpoint — including the re-run
  * AFTER constraint inference, which is where the expensive copies
  * appear. */
object CollapseEnvelopeBounds extends Rule[LogicalPlan] {
  import org.apache.spark.sql.catalyst.expressions.{And, Expression, GetStructField, IsNaN, IsNotNull, Not}

  /** The point fold is null exactly when an ordinate is null OR NaN (the
    * WKB empty-point convention its scaladoc pins), so a null check on the
    * struct (or any field: they are non-nullable when the struct isn't
    * null) is `x, y non-null and non-NaN`, written with Catalyst's IsNaN.
    * The inferred-constraint filters then never build the struct at all,
    * the saving the rect rewrite below makes for the rect form. */
  private def pointNotNull(x: Expression, y: Expression): Expression =
    And(And(IsNotNull(x), IsNotNull(y)),
        And(Not(IsNaN(x)), Not(IsNaN(y))))

  /** The rect fold is null exactly when a corner argument is null: its
    * Envelope.isNull branch is unreachable (minx ≤ x0 ≤ maxx by
    * construction, NaN comparisons are all false), and the struct fields
    * are non-nullable. So a null check on the struct or any field is a
    * null check on the corners, and the inferred-constraint filters (one
    * isnotnull per struct field, each holding a full copy of the corner
    * arithmetic) need not evaluate the fold or allocate its row. */
  private def rectNotNull(r: StEnvelopeBoundsRect): Expression =
    r.children.map(IsNotNull(_): Expression).reduce(And(_, _))

  override def apply(plan: LogicalPlan): LogicalPlan = plan.transformAllExpressions {
    case StEnvelopeBounds(e: StMakeEnvelope) if e.children.forall(_.deterministic) =>
      StEnvelopeBoundsRect(e.first, e.second, e.third, e.fourth)
    case StEnvelopeBounds(StPoint(x, y)) if x.deterministic && y.deterministic =>
      StEnvelopeBoundsPoint(x, y)
    case IsNotNull(GetStructField(r: StEnvelopeBoundsRect, _, _))
        if r.children.forall(_.deterministic) =>
      rectNotNull(r)
    case IsNotNull(r: StEnvelopeBoundsRect) if r.children.forall(_.deterministic) =>
      rectNotNull(r)
    case IsNotNull(GetStructField(StEnvelopeBoundsPoint(x, y), _, _))
        if x.deterministic && y.deterministic =>
      pointNotNull(x, y)
    case IsNotNull(StEnvelopeBoundsPoint(x, y))
        if x.deterministic && y.deterministic =>
      pointNotNull(x, y)
  }
}
