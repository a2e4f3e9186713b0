package graft.plans

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.plans.logical.{Filter, LogicalPlan}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.types.{LongType, TimestampType}

/** Engine extensions, installed with
  * `.config("spark.sql.extensions", "graft.plans.GraftExtensions")`:
  *
  *  - injects every native `graft_*` function of [[GraftFunctions]]
  *    as a session builtin, behind the table's argument-count gate;
  *  - injects [[NanosRangeRewrite]], the optimizer rule that makes
  *    natural time-range filters pushdown-capable on nanos-backed
  *    tables.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(e: SparkSessionExtensions): Unit = {
    e.injectOptimizerRule(_ => NanosRangeRewrite)
    GraftFunctions.all.foreach(f => e.injectFunction(f.injection))
  }
}

/** Derived-timestamp pushdown for the LEGACY events layout (ts stored
  * as raw TIMESTAMP(NANOS) int64 — see Tables.events; the CURRENT
  * driver layout stores native timestamp[us], whose filters push down
  * directly and never match this rule). The rule is schema-gated by
  * its own pattern: it only fires on plans containing the legacy
  * derivation `ts = timestamp_micros(ts_ns div 1000)`, so on native
  * layouts it is inert by construction (pinned: PlanAuditSpec asserts
  * native-ts PushedFilters; ExtensionsSpec pins the legacy rewrite on
  * a hand-built nanos table).
  *
  * Legacy problem: a filter on the derived `ts` cannot reach the
  * parquet scan (the scan only has the int64 column), so without help
  * a natural `WHERE ts >= X` reads
  * every row group. This rule CONJOINS the implied raw-column bound;
  * the original predicate always stays, so correctness needs exactly
  * one thing: that the added bound really is implied by the derivation
  * ts = truncate(ns/1000) micros. Because `div` truncates toward zero
  * (= floor only for ns >= 0), lower-bound rewrites at the epoch are
  * NOT implied for negative nanos and are skipped (see impliedBounds):
  *
  *    ts >= T  ==>  ts_ns >= T*1000        (micros -> nanos)
  *    ts <= T  ==>  ts_ns <= T*1000 + 999  (floor absorbs the tail)
  *    ts >  T  ==>  ts_ns >= (T+1)*1000
  *    ts <  T  ==>  ts_ns <= T*1000 - 1
  *
  * The added comparisons are plain attribute-vs-literal on the long
  * column, which the parquet source accepts as PushedFilters — turning
  * the scan into a row-group-pruned range read. Guarded for
  * idempotency (the optimizer runs rules to fixpoint). */
object NanosRangeRewrite extends Rule[LogicalPlan] {

  override def apply(plan: LogicalPlan): LogicalPlan = plan.transform {
    case f @ Filter(cond, child) =>
      // idempotency across the optimizer fixpoint: once
      // PushDownPredicates moves an implied bound into a LOWER filter,
      // this rule must not re-add it above — search the whole subtree,
      // not just this condition
      val implied = impliedBounds(cond)
        .filter { case (raw, _) => child.outputSet.contains(raw) }
        .map(_._2)
        .filterNot(p => alreadyPresent(f, p))
      if (implied.isEmpty) f
      else Filter(implied.foldLeft(cond)(And(_, _)), child)
  }

  /** Matches the derivation graft tables use:
    * `timestamp_micros(raw div 1000)` over an int64 nanos attribute —
    * either in substituted form (after projection collapse) or as the
    * named derived attribute is already gone by optimization time, the
    * substituted form is the one that matters. */
  private object DerivedMicros {
    def unapply(e: Expression): Option[Attribute] = e match {
      case mt: MicrosToTimestamp => mt.child match {
        case d: IntegralDivide => (d.left, d.right) match {
          case (a: Attribute, Literal(1000L, LongType)) if a.dataType == LongType => Some(a)
          case (a: Attribute, Literal(1000, _)) if a.dataType == LongType => Some(a)
          case _ => None
        }
        case _ => None
      }
      case _ => None
    }
  }

  /** Timestamp literals are micros-since-epoch longs in Catalyst.
    * Restricted to non-negative epochs (`div` truncates toward zero,
    * which equals floor only for non-negative nanos) AND to values
    * whose nanos form fits in a long: (m+1)*1000 must not overflow —
    * a wrapped-negative bound conjoined to the filter would silently
    * exclude every row. Out-of-range literals (sentinel dates past
    * 2262-04-11) simply skip the rewrite. */
  private def micros(l: Literal): Option[Long] = l.dataType match {
    case TimestampType =>
      Some(l.value.asInstanceOf[Long])
        .filter(m => m >= 0L && m < Long.MaxValue / 1000L - 1L)
    case _ => None
  }

  private def impliedBounds(cond: Expression): Seq[(Attribute, Expression)] = {
    def nsLit(v: Long): Literal = Literal(v, LongType)
    // Lower-bound (and equality-lower) rewrites additionally require
    // m >= 1: at m = 0, rows with ts_ns in [-999, -1] truncate to the
    // epoch (`div` rounds toward zero), satisfy ts >= epoch, yet fail
    // the conjoined ts_ns >= 0 — the one case where the implied bound
    // is NOT implied. Upper bounds stay sound at m = 0 (any negative
    // ts_ns is below m*1000+999).
    def lowerSafe(l: Literal): Option[Long] = micros(l).filter(_ >= 1L)
    splitConjuncts(cond).flatMap {
      case GreaterThanOrEqual(DerivedMicros(raw), l: Literal) =>
        lowerSafe(l).map(m => raw -> GreaterThanOrEqual(raw, nsLit(m * 1000L)))
      case LessThanOrEqual(DerivedMicros(raw), l: Literal) =>
        micros(l).map(m => raw -> LessThanOrEqual(raw, nsLit(m * 1000L + 999L)))
      case GreaterThan(DerivedMicros(raw), l: Literal) =>
        // sound at m = 0: ts > epoch excludes the truncated-to-epoch
        // negatives, and (m+1)*1000 >= 1000 never gains them back
        micros(l).map(m => raw -> GreaterThanOrEqual(raw, nsLit((m + 1) * 1000L)))
      case LessThan(DerivedMicros(raw), l: Literal) =>
        micros(l).map(m => raw -> LessThanOrEqual(raw, nsLit(m * 1000L - 1L)))
      case EqualTo(DerivedMicros(raw), l: Literal) =>
        micros(l).toSeq.flatMap(m =>
          (if (m >= 1L) Seq(raw -> GreaterThanOrEqual(raw, nsLit(m * 1000L))) else Nil) :+
          (raw -> LessThanOrEqual(raw, nsLit(m * 1000L + 999L))))
      // literal-on-the-left mirror forms — ALL of them: a bound that
      // pushes as `ts > T` must push identically spelled `T < ts`, or
      // predicate spelling alone decides between a pruned range read
      // and a full scan
      case LessThanOrEqual(l: Literal, DerivedMicros(raw)) =>
        lowerSafe(l).map(m => raw -> GreaterThanOrEqual(raw, nsLit(m * 1000L)))
      case GreaterThanOrEqual(l: Literal, DerivedMicros(raw)) =>
        micros(l).map(m => raw -> LessThanOrEqual(raw, nsLit(m * 1000L + 999L)))
      case LessThan(l: Literal, DerivedMicros(raw)) => // T < ts  ≡  ts > T
        micros(l).map(m => raw -> GreaterThanOrEqual(raw, nsLit((m + 1) * 1000L)))
      case GreaterThan(l: Literal, DerivedMicros(raw)) => // T > ts  ≡  ts < T
        micros(l).map(m => raw -> LessThanOrEqual(raw, nsLit(m * 1000L - 1L)))
      case EqualTo(l: Literal, DerivedMicros(raw)) =>
        micros(l).toSeq.flatMap(m =>
          (if (m >= 1L) Seq(raw -> GreaterThanOrEqual(raw, nsLit(m * 1000L))) else Nil) :+
          (raw -> LessThanOrEqual(raw, nsLit(m * 1000L + 999L))))
      case _ => Nil
    }
  }

  private def splitConjuncts(e: Expression): Seq[Expression] = e match {
    case And(l, r) => splitConjuncts(l) ++ splitConjuncts(r)
    case other => Seq(other)
  }

  private def alreadyPresent(plan: LogicalPlan, p: Expression): Boolean =
    plan.collect { case Filter(c, _) => splitConjuncts(c) }
      .flatten.exists(_.semanticEquals(p))
}
