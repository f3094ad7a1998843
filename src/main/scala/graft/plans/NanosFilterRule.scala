package graft.plans

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.plans.logical.{Filter, LogicalPlan}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}

/** Restores parquet scan pushdown for epoch-nanos range predicates over a
  * timestamp-encoded `ts` column.
  *
  * `Tables.load` presents `ts` to the whole engine as int64 epoch-nanos by
  * projecting `unix_micros(cast(ts as timestamp)) * 1000` over the scan
  * (the physical column is TIMESTAMP(MICROS) since the round-7 testdata
  * generation). Range predicates written against the nanos view — every
  * sliding-window filter in the engine compares `ts` to a nanos literal —
  * therefore reach the scan as a function of the column, which the parquet
  * source cannot translate: no PushedFilters, no row-group min/max
  * skipping, and at 100 TB a time-windowed query reads the whole fact
  * table instead of the window's row groups.
  *
  * This rule rewrites, inside Filter conditions only,
  *
  * {{{ unix_micros(cast(ts as timestamp)) * 1000  <cmp>  nanosLiteral }}}
  *
  * into the equivalent comparison on the RAW timestamp attribute against a
  * micros-precision timestamp literal (exact integer bound arithmetic:
  * `1000·u ≥ L ⇔ u ≥ ⌈L/1000⌉`, `1000·u < L ⇔ u < ⌈L/1000⌉`, etc., with
  * floor/ceil via `Math.floorDiv` so negative epochs round correctly).
  * The rewritten predicate is a plain attribute-vs-literal comparison the
  * parquet source translates into a pushed filter, re-enabling row-group
  * pruning on the event-time column.
  *
  * Correctness guards:
  *  - The NTZ→instant cast depends on the session time zone; the stored
  *    NTZ micros equal instant micros ONLY under UTC, so the NTZ form is
  *    rewritten only when the cast's own resolved zone is UTC (the engine
  *    pins every session to UTC; a non-UTC session simply keeps the
  *    unpushable form — never a wrong answer). An already-instant
  *    TIMESTAMP attribute needs no zone guard: `unix_micros` reads its
  *    stored micros directly.
  *  - Non-multiple-of-1000 EQUALITY literals are left alone: replacing
  *    `1000·u = L` (unsatisfiable) with `false` would flip NULL semantics
  *    under `NOT(...)`. Range forms have exact integer rewrites and lose
  *    nothing. `IN` lists rewrite when every element is a non-null Long
  *    literal and at least one is micros-aligned (unaligned elements
  *    drop — they can never match, and a NULL result stays NULL while
  *    the list is non-empty); `<=>` is two-valued, so it rewrites for
  *    EVERY literal (unaligned ⇒ constant FALSE).
  *  - DOMAIN BOUND (inherent to the convention, not this rule): int64
  *    epoch-nanos can only represent instants up to 2262-04-11 — the
  *    same bound as the reference's i64 nanos. A parquet timestamp past
  *    that has NO faithful nanos rendering: the loader's `·1000` wraps
  *    silently (non-ANSI), so the visible nanos value is garbage with
  *    or without this rule, and the rewritten (true-micros) and
  *    unrewritten (wrapped) predicates can disagree on such rows.
  *    Every fixture, anchor, and oracle lives centuries inside the
  *    bound; a corpus that doesn't must re-base its epoch before the
  *    nanos convention applies (FIXTURES.md §1).
  *
  * Registered per-session via [[NanosFilter.register]] (from
  * `Tables.load`, so every entry path — Verify, Bench, Main, specs — gets
  * it) and by [[GraftExtensions]] for `withExtensions` users.
  */
object NanosFilterRule extends Rule[LogicalPlan] {

  private val UtcIds = Set("UTC", "Etc/UTC", "Z", "GMT", "+00:00")

  /** Matches the loader's nanos projection over a raw timestamp attribute:
    * `unix_micros(cast(a as timestamp)) * 1000` (either multiply order).
    * Yields the raw attribute. */
  private object NanosOfAttr {
    def unapply(e: Expression): Option[Attribute] = e match {
      case Multiply(UnixMicros(InstantOfAttr(a)), Literal(1000L, LongType), _) => Some(a)
      case Multiply(Literal(1000L, LongType), UnixMicros(InstantOfAttr(a)), _) => Some(a)
      case _ => None
    }
  }

  /** The instant-typed view of a raw timestamp attribute: either the
    * attribute itself (TIMESTAMP — instant micros, zone-free) or a
    * UTC-zone cast of a TIMESTAMP_NTZ attribute (stored micros ≡ instant
    * micros only under UTC, hence the zone guard). */
  private object InstantOfAttr {
    def unapply(e: Expression): Option[Attribute] = e match {
      case a: Attribute if a.dataType == TimestampType => Some(a)
      case Cast(a: Attribute, TimestampType, tz, _)
          if a.dataType == TimestampNTZType && tz.exists(UtcIds.contains) =>
        Some(a)
      case _ => None
    }
  }

  /** `⌊L/1000⌋` / `⌈L/1000⌉` as micros literals of the attribute's own
    * timestamp flavor (NTZ attr ⇒ NTZ literal, instant attr ⇒ TIMESTAMP
    * literal), so the rewritten comparison is same-type and pushable.
    * Ceil via floorDiv/floorMod, NOT `floorDiv(l + 999, 1000)` — the
    * add overflows for nanos literals within 999 of Long.MaxValue
    * (e.g. an "unbounded" `ts < Long.MaxValue` sentinel) and a wrapped
    * bound would silently flip the predicate; floorMod/floorDiv are
    * exact for every Long input. */
  private def floorUs(a: Attribute, l: Long) = Literal(Math.floorDiv(l, 1000L), a.dataType)
  private def ceilUs(a: Attribute, l: Long) = Literal(
    if (Math.floorMod(l, 1000L) == 0L) Math.floorDiv(l, 1000L)
    else Math.floorDiv(l, 1000L) + 1L,
    a.dataType)

  private def rewrite(cond: Expression): Expression = cond.transformUp {
    // 1000·u ≥ L ⇔ u ≥ ⌈L/1000⌉        (and the mirrored literal-first form)
    case GreaterThanOrEqual(NanosOfAttr(a), Literal(l: Long, LongType)) =>
      GreaterThanOrEqual(a, ceilUs(a, l))
    case LessThanOrEqual(Literal(l: Long, LongType), NanosOfAttr(a)) =>
      LessThanOrEqual(ceilUs(a, l), a)
    // 1000·u > L ⇔ u > ⌊L/1000⌋
    case GreaterThan(NanosOfAttr(a), Literal(l: Long, LongType)) =>
      GreaterThan(a, floorUs(a, l))
    case LessThan(Literal(l: Long, LongType), NanosOfAttr(a)) =>
      LessThan(floorUs(a, l), a)
    // 1000·u < L ⇔ u < ⌈L/1000⌉
    case LessThan(NanosOfAttr(a), Literal(l: Long, LongType)) =>
      LessThan(a, ceilUs(a, l))
    case GreaterThan(Literal(l: Long, LongType), NanosOfAttr(a)) =>
      GreaterThan(ceilUs(a, l), a)
    // 1000·u ≤ L ⇔ u ≤ ⌊L/1000⌋
    case LessThanOrEqual(NanosOfAttr(a), Literal(l: Long, LongType)) =>
      LessThanOrEqual(a, floorUs(a, l))
    case GreaterThanOrEqual(Literal(l: Long, LongType), NanosOfAttr(a)) =>
      GreaterThanOrEqual(floorUs(a, l), a)
    // equality only when the nanos literal is micros-aligned (see Scaladoc)
    case EqualTo(NanosOfAttr(a), Literal(l: Long, LongType)) if l % 1000L == 0L =>
      EqualTo(a, floorUs(a, l))
    case EqualTo(Literal(l: Long, LongType), NanosOfAttr(a)) if l % 1000L == 0L =>
      EqualTo(floorUs(a, l), a)
    // IN-list over the nanos projection: micros-aligned elements map to
    // exact micros literals; an unaligned element can never equal
    // 1000·u, so dropping it is sound for non-null rows (no match
    // either way) AND null rows (the result stays NULL as long as the
    // rewritten list is non-empty). Lists with a non-literal or NULL
    // element keep the unpushable form — removing a NULL element would
    // turn a no-match NULL into FALSE under NOT(...).
    case In(NanosOfAttr(a), list)
        if list.forall { case Literal(_: Long, LongType) => true; case _ => false } &&
          list.exists { case Literal(v: Long, LongType) => v % 1000L == 0L
                        case _ => false } =>
      In(a, list.collect {
        case Literal(v: Long, LongType) if v % 1000L == 0L => floorUs(a, v) })
    // null-safe equality is two-valued, so even the unaligned literal
    // has an exact rewrite: 1000·u is NULL or micros-aligned, never an
    // unaligned value — the predicate is constant FALSE
    case EqualNullSafe(NanosOfAttr(a), Literal(l: Long, LongType)) =>
      if (l % 1000L == 0L) EqualNullSafe(a, floorUs(a, l)) else Literal.FalseLiteral
    case EqualNullSafe(Literal(l: Long, LongType), NanosOfAttr(a)) =>
      if (l % 1000L == 0L) EqualNullSafe(floorUs(a, l), a) else Literal.FalseLiteral
  }

  override def apply(plan: LogicalPlan): LogicalPlan = plan.transform {
    case f @ Filter(cond, _) =>
      val r = rewrite(cond)
      if (r fastEquals cond) f else f.copy(condition = r)
  }
}

object NanosFilter {
  /** Idempotently attach the rule to a live session (the
    * `TopK.ensureStrategy` pattern on the optimizer side —
    * `experimental.extraOptimizations` runs as the optimizer's final
    * user batch, after predicate pushdown has substituted the loader's
    * projection into Filter conditions and before physical planning
    * translates them into parquet filters). */
  def register(spark: SparkSession): Unit = synchronized {
    if (!spark.experimental.extraOptimizations.contains(NanosFilterRule))
      spark.experimental.extraOptimizations =
        spark.experimental.extraOptimizations :+ NanosFilterRule
  }
}
