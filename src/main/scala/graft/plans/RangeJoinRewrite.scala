package graft.plans

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.plans.Inner
import org.apache.spark.sql.catalyst.plans.logical.{Generate, Join, LogicalPlan, Project}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.types.{ArrayType, DoubleType, LongType, NumericType}

/** Optimizer rule: rewrite point-in-interval AND interval-overlap
  * inequality joins into banded equi-joins.
  *
  * Spark plans an inner join whose condition is ONLY range predicates
  * (`p >= lo AND p < hi`, or the overlap shape `a.lo < b.hi AND
  * b.lo < a.hi`) as BroadcastNestedLoopJoin — O(N·M) comparisons, a
  * scale-killer the moment neither side is tiny. This rule detects the
  * point shape — an inner join with no equi-conjunct where one side's
  * numeric expression `p` is bounded below and above by expressions from
  * the other side — and rewrites it to the
  * [[graft.joins.TemporalJoins.rangeJoinBanded]] construction inside the
  * optimizer:
  *
  *   point side    → Generate(explode(array((0, floor(p/W)), (1, hash(p)%S))))
  *   interval side → Generate(explode(
  *                     n_bands ≤ maxBands → [(0, b) for b in floor(lo/W)..floor(hi/W)]
  *                     n_bands > maxBands → [(1, s) for s in 0..S)      — overflow
  *                     null/inverted     → []))
  *   join          → equi on the (tag, band) pair + the ORIGINAL condition
  *                   as residual
  *
  * fp division and floor are monotone, so a point in [lo, hi) always lands
  * in a band the interval generates — the rewrite can only prune pairs,
  * never lose them, and the residual keeps exact semantics (including
  * strict/non-strict bound variants and null bounds, which generate no
  * bands and match nothing, exactly like the original predicate).
  *
  * '''Fan-out safety.''' `sequence(floor(lo/W), floor(hi/W))` is unbounded
  * in span/W: an interval wide relative to the band width (ns timestamps
  * against the default W=1000, say) would generate millions-to-billions of
  * elements per row — Sequence throws past 2^31 and OOMs long before. Any
  * interval whose band count exceeds `spark.graft.rangeJoin.maxBands`
  * (default 4096) therefore falls back to the salted OVERFLOW path: it
  * emits the S = `spark.graft.rangeJoin.overflowSalt` (default 32) keys
  * `(1, 0..S)`, and every point emits its own `(1, hash(band) % S)` key
  * exactly once — so wide intervals meet every point through an equi-join
  * that stays S-way parallel instead of a runtime failure. Each
  * (point, interval) pair matches via exactly one path (an interval is
  * either banded or overflow, a point holds one key per tag), so no
  * duplicates are introduced. Cost: the point side shuffles 2 rows per
  * point; worst case (every interval overflow-wide) degrades to the
  * pre-rewrite O(N·M) residual work but never to an error.
  *
  * '''Interval overlap.''' When the point shape does not match but the
  * condition contains one conjunct upper-bounding a LEFT expression by a
  * RIGHT expression and another upper-bounding a RIGHT expression by a
  * LEFT expression (`l_lo ≼ r_hi AND r_lo ≼ l_hi`, any strictness), the
  * join is an interval-overlap join and is rewritten to the
  * [[graft.joins.TemporalJoins.intervalOverlapJoin]] construction: both
  * sides explode to the bands they cover, candidates meet on band
  * equality, and each pair is kept only in the band containing
  * `max(l_lo, r_lo)` — which both sides provably cover whenever the
  * original condition holds — so no post-join distinct is needed. Wide
  * intervals route through the same three-tag salted overflow scheme as
  * the library operator (left-wide → tag 1, right-wide × narrow-left →
  * tag 2). One subtlety the point shape does not have: an INVERTED
  * "interval" (lo > hi) can still satisfy an overlap condition (e.g.
  * L=[5,3], R=[2,7] satisfies 5 ≤ 7 AND 2 ≤ 3), so each side bands over
  * `[least(lo,hi), greatest(lo,hi)]` instead of dropping inverted rows —
  * sorted intervals still intersect whenever the condition holds
  * (L_min ≤ l_lo ≼ r_hi ≤ R_max and symmetrically), so the canonical
  * band argument carries over.
  *
  * Width only affects candidate fan-out, never correctness. All three
  * confs are validated: non-numeric, non-finite or non-positive values log
  * a warning and fall back to the default instead of corrupting the floor
  * arithmetic (a negative W breaks floor monotonicity = silently wrong
  * results) or throwing inside the optimizer. The rewritten join HAS
  * equi-conjuncts, so the rule does not re-fire on its own output.
  */
object RangeJoinRewrite extends Rule[LogicalPlan] with PredicateHelper {

  val BandWidthConf = "spark.graft.rangeJoin.bandWidth"
  val EnabledConf = "spark.graft.rangeJoin.enabled"
  val MaxBandsConf = "spark.graft.rangeJoin.maxBands"
  val OverflowSaltConf = "spark.graft.rangeJoin.overflowSalt"

  /** One normalized range conjunct: `point` bounded by `bound` from the
    * opposite side; `isLower` marks `p >/>= bound` vs `p </<= bound`.
    */
  private final case class Bound(point: Expression, bound: Expression,
      isLower: Boolean, pointIsLeft: Boolean)

  private def sideOf(e: Expression, left: LogicalPlan, right: LogicalPlan): Option[Boolean] =
    if (canEvaluate(e, left)) Some(true)
    else if (canEvaluate(e, right)) Some(false)
    else None

  /** Normalize a comparison conjunct into [[Bound]]s when one side is a
    * deterministic numeric expression over the left child and the other
    * over the right child. Each comparison bounds BOTH operands (`a >= b`
    * is a lower bound on `a` and an upper bound on `b`), so both readings
    * are emitted and the pairing step picks the one that completes an
    * interval.
    */
  private def asBound(c: Expression, left: LogicalPlan,
      right: LogicalPlan): Seq[Bound] = {
    def mk(p: Expression, b: Expression, isLower: Boolean): Option[Bound] =
      (sideOf(p, left, right), sideOf(b, left, right)) match {
        case (Some(ps), Some(bs)) if ps != bs &&
            p.dataType.isInstanceOf[NumericType] &&
            b.dataType.isInstanceOf[NumericType] &&
            p.deterministic && b.deterministic =>
          Some(Bound(p, b, isLower, ps))
        case _ => None
      }
    val oriented = c match {
      case GreaterThanOrEqual(a, b) => Some((a, b))
      case GreaterThan(a, b)        => Some((a, b))
      case LessThanOrEqual(a, b)    => Some((b, a))
      case LessThan(a, b)           => Some((b, a))
      case _                        => None
    }
    oriented.toSeq.flatMap { case (big, small) =>
      mk(big, small, isLower = true) ++ mk(small, big, isLower = false)
    }
  }

  private def hasEquiConjunct(conjuncts: Seq[Expression], left: LogicalPlan,
      right: LogicalPlan): Boolean = conjuncts.exists {
    case EqualTo(a, b) =>
      (canEvaluate(a, left) && canEvaluate(b, right)) ||
        (canEvaluate(a, right) && canEvaluate(b, left))
    case EqualNullSafe(a, b) =>
      (canEvaluate(a, left) && canEvaluate(b, right)) ||
        (canEvaluate(a, right) && canEvaluate(b, left))
    case _ => false
  }

  private def bandOf(e: Expression, w: Double): Expression =
    Cast(Floor(Divide(Cast(e, DoubleType), Literal(w))), LongType)

  /** (tag, band) pair — tag 0 = real band, tag 1 = salted overflow. */
  private def tb(t: Expression, b: Expression): Expression =
    CreateNamedStruct(Seq(Literal("t"), t, Literal("b"), b))

  private def elemT = tb(Literal(0L), Literal(0L)).dataType
  private def emptyKeys: Expression =
    Literal.create(Seq.empty[Any], ArrayType(elemT, containsNull = false))

  /** The (tag, band) key array one OVERLAP side emits for its canonical
    * (sorted) interval. `wideTag`: the tag this side floods with all S
    * salt values when wide. `alwaysSingle`/`narrowSingle`: tag of the one
    * salted key emitted unconditionally / only when narrow (None = never).
    * Null bounds emit nothing (the original condition is null → no match).
    */
  private def overlapKeys(loE: Expression, hiE: Expression, w: Double,
      maxBands: Double, salt: Int, wideTag: Long, alwaysSingle: Option[Long],
      narrowSingle: Option[Long]): Expression = {
    val loBand = bandOf(Least(Seq(loE, hiE)), w)
    val hiBand = bandOf(Greatest(Seq(loE, hiE)), w)
    val nBands = Add(Subtract(Cast(hiBand, DoubleType),
      Cast(loBand, DoubleType)), Literal(1.0))
    val lv = NamedLambdaVariable("b", LongType, nullable = false)
    val seq = new Sequence(loBand, hiBand, Some(Literal(1L)),
      Some(conf.sessionLocalTimeZone))
    val banded = ArrayTransform(seq, LambdaFunction(tb(Literal(0L), lv), Seq(lv)))
    def single(t: Long) = CreateArray(Seq(tb(Literal(t),
      Cast(Pmod(new Murmur3Hash(Seq(loBand)), Literal(salt)), LongType))))
    val flood = CreateArray(
      (0 until salt).map(i => tb(Literal(wideTag), Literal(i.toLong))))
    val narrowArr = (alwaysSingle ++ narrowSingle).map(single)
      .foldLeft(banded: Expression)((acc, s) => Concat(Seq(acc, s)))
    val wideArr = alwaysSingle.map(single)
      .foldLeft(flood: Expression)((acc, s) => Concat(Seq(acc, s)))
    val invalid = Or(IsNull(loBand), IsNull(hiBand))
    If(invalid, emptyKeys,
      If(GreaterThan(nBands, Literal(maxBands)), wideArr, narrowArr))
  }

  private def confDouble(name: String, default: Double)(
      valid: Double => Boolean): Double = {
    val raw = conf.getConfString(name, default.toString)
    val parsed = try Some(raw.toDouble) catch { case _: NumberFormatException => None }
    parsed.filter(valid).getOrElse {
      if (raw != default.toString) {
        logWarning(s"$name='$raw' is invalid; falling back to $default")
      }
      default
    }
  }

  override def apply(plan: LogicalPlan): LogicalPlan = {
    val enabled = conf.getConfString(EnabledConf, "true").toLowerCase match {
      case "true" => true
      case "false" => false
      case other => logWarning(s"$EnabledConf='$other' is invalid; assuming true"); true
    }
    if (!enabled) return plan
    val w = confDouble(BandWidthConf, 1000.0)(v => v > 0 && java.lang.Double.isFinite(v))
    val maxBands = confDouble(MaxBandsConf, 4096.0)(v => v >= 1 && java.lang.Double.isFinite(v)).floor
    val salt = confDouble(OverflowSaltConf, 32.0)(v => v >= 1 && v <= 65536).toInt
    plan.transformUp {
      case j @ Join(left, right, Inner, Some(cond), hint)
          if left.resolved && right.resolved =>
        val conjuncts = splitConjunctivePredicates(cond)
        if (hasEquiConjunct(conjuncts, left, right)) j
        else {
          val bounds = conjuncts.flatMap(asBound(_, left, right))
          // a lower and an upper bound on the SAME point expression
          val pair = (for {
            lo <- bounds if lo.isLower
            hi <- bounds if !hi.isLower && hi.pointIsLeft == lo.pointIsLeft &&
              hi.point.semanticEquals(lo.point)
          } yield (lo, hi)).headOption
          pair match {
            case Some((lo, hi)) =>
              val (pointPlan, intervalPlan) =
                if (lo.pointIsLeft) (left, right) else (right, left)
              // point side: the real band + this point's one overflow key
              val pBand = bandOf(lo.point, w)
              val pSalt = Cast(Pmod(new Murmur3Hash(Seq(pBand)),
                Literal(salt)), LongType)
              val pArr = CreateArray(Seq(
                tb(Literal(0L), pBand), tb(Literal(1L), pSalt)))
              val pOut = AttributeReference("__graft_band",
                pArr.dataType.asInstanceOf[ArrayType].elementType,
                nullable = false)()
              val pGen = Generate(Explode(pArr), unrequiredChildIndex = Nil,
                outer = false, qualifier = None,
                generatorOutput = Seq(pOut), child = pointPlan)
              // interval side: bands when narrow, all S overflow keys when
              // wide, nothing when null/inverted (Sequence would throw on
              // inverted boundaries; span is measured in doubles so it can
              // never itself overflow)
              val loBand = bandOf(lo.bound, w)
              val hiBand = bandOf(hi.bound, w)
              val nBands = Add(Subtract(Cast(hiBand, DoubleType),
                Cast(loBand, DoubleType)), Literal(1.0))
              val lv = NamedLambdaVariable("b", LongType, nullable = false)
              // Sequence is TimeZoneAwareExpression: it only resolves with
              // an explicit zone id (irrelevant for integral sequences)
              val seq = new Sequence(loBand, hiBand, Some(Literal(1L)),
                Some(conf.sessionLocalTimeZone))
              val banded = ArrayTransform(seq,
                LambdaFunction(tb(Literal(0L), lv), Seq(lv)))
              val sentinel = CreateArray(
                (0 until salt).map(i => tb(Literal(1L), Literal(i.toLong))))
              val invalid = Or(Or(IsNull(loBand), IsNull(hiBand)),
                GreaterThan(loBand, hiBand))
              val iArr = If(invalid, emptyKeys,
                If(GreaterThan(nBands, Literal(maxBands)), sentinel, banded))
              val iOut = AttributeReference("__graft_band_g",
                iArr.dataType.asInstanceOf[ArrayType].elementType,
                nullable = false)()
              val iGen = Generate(Explode(iArr), unrequiredChildIndex = Nil,
                outer = false, qualifier = None,
                generatorOutput = Seq(iOut), child = intervalPlan)
              val bandEq = And(
                EqualTo(GetStructField(pOut, 0, Some("t")),
                  GetStructField(iOut, 0, Some("t"))),
                EqualTo(GetStructField(pOut, 1, Some("b")),
                  GetStructField(iOut, 1, Some("b"))))
              val (newLeft, newRight) =
                if (lo.pointIsLeft) (pGen, iGen) else (iGen, pGen)
              Project(j.output,
                Join(newLeft, newRight, Inner, Some(And(bandEq, cond)), hint))
            case None =>
              // interval-OVERLAP shape: a left expr upper-bounded by a
              // right expr AND a right expr upper-bounded by a left expr
              val ov = (for {
                b1 <- bounds if !b1.isLower && b1.pointIsLeft // l_lo ≼ r_hi
                b2 <- bounds if !b2.isLower && !b2.pointIsLeft // r_lo ≼ l_hi
              } yield (b1, b2)).headOption
              ov match {
                case Some((b1, b2)) =>
                  val (lLo, rHi) = (b1.point, b1.bound)
                  val (rLo, lHi) = (b2.point, b2.bound)
                  val lArr = overlapKeys(lLo, lHi, w, maxBands, salt,
                    wideTag = 1L, alwaysSingle = None, narrowSingle = Some(2L))
                  val rArr = overlapKeys(rLo, rHi, w, maxBands, salt,
                    wideTag = 2L, alwaysSingle = Some(1L), narrowSingle = None)
                  val lOut = AttributeReference("__graft_band",
                    lArr.dataType.asInstanceOf[ArrayType].elementType,
                    nullable = false)()
                  val rOut = AttributeReference("__graft_band_g",
                    rArr.dataType.asInstanceOf[ArrayType].elementType,
                    nullable = false)()
                  val lGen = Generate(Explode(lArr), unrequiredChildIndex = Nil,
                    outer = false, qualifier = None,
                    generatorOutput = Seq(lOut), child = left)
                  val rGen = Generate(Explode(rArr), unrequiredChildIndex = Nil,
                    outer = false, qualifier = None,
                    generatorOutput = Seq(rOut), child = right)
                  val bandEq = And(
                    EqualTo(GetStructField(lOut, 0, Some("t")),
                      GetStructField(rOut, 0, Some("t"))),
                    EqualTo(GetStructField(lOut, 1, Some("b")),
                      GetStructField(rOut, 1, Some("b"))))
                  // exactly-once: banded (tag 0) candidates survive only in
                  // the band of max(l_min, r_min) — a point both CANONICAL
                  // intervals cover whenever the original condition holds
                  val canonical = bandOf(Greatest(Seq(
                    Least(Seq(lLo, lHi)), Least(Seq(rLo, rHi)))), w)
                  val dedup = Or(
                    Not(EqualTo(GetStructField(lOut, 0, Some("t")), Literal(0L))),
                    EqualTo(GetStructField(lOut, 1, Some("b")), canonical))
                  Project(j.output,
                    Join(lGen, rGen, Inner,
                      Some(And(bandEq, And(cond, dedup))), hint))
                case None => j
              }
          }
        }
    }
  }

  /** Idempotently attach the rule to a session's extra optimizations;
    * every query path that relies on the rewrite calls this first.
    */
  def ensureInjected(spark: SparkSession): Unit = {
    if (!spark.experimental.extraOptimizations.contains(RangeJoinRewrite)) {
      spark.experimental.extraOptimizations =
        spark.experimental.extraOptimizations :+ RangeJoinRewrite
    }
  }

  /** SCOPED rule injection + PINNED execution, the j03/j05 verification
    * harness factored once (round-13 advice: two near-identical 30-line
    * try/finally blocks invited a third fork).
    *
    * Semantics, exactly as the inline originals documented them:
    *  - session mutation is SCOPED — the band-width/max-bands overrides
    *    and (if this call added it) the injected rule are restored in the
    *    finally, so later queries in the same session keep their own plan
    *    shapes;
    *  - the rewritten join is EXECUTED inside the scope via the built
    *    Dataset's own pinned QueryExecution and its rows returned as a
    *    local frame: any derived Dataset (the harness's coalesce+write)
    *    builds a NEW QueryExecution, which after the restore would
    *    silently re-plan WITHOUT the rule — the oracle would then check
    *    the plain BroadcastNestedLoop join, not the rewrite this exists
    *    to verify;
    *  - `require(optimizedPlan contains "__graft_band")` asserts the
    *    rewrite actually fired (a silently-not-firing rule would still
    *    produce correct rows — through the scale-killing plan);
    *  - the pinned collect is gated to band-aggregate-sized output
    *    (≤10 000 rows) so a future reuse on unbounded output fails
    *    loudly instead of silently becoming a driver OOM.
    *
    * @param confs rule confs to override for the scope (previous values,
    *              set or unset, are restored per key)
    * @param tag   query tag for the two require() messages
    * @param body  builds the SQL/DataFrame under the scoped rule
    */
  def pinnedScopedExecution(s: SparkSession, confs: Map[String, String],
      tag: String)(body: => org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    val hadRule = s.experimental.extraOptimizations.contains(RangeJoinRewrite)
    val prev: Map[String, Option[String]] = confs.map { case (k, _) =>
      k -> (try Some(s.conf.get(k))
            catch { case _: java.util.NoSuchElementException => None })
    }
    ensureInjected(s)
    confs.foreach { case (k, v) => s.conf.set(k, v) }
    try {
      val df = body
      require(df.queryExecution.optimizedPlan.toString.contains("__graft_band"),
        s"$tag: RangeJoinRewrite did not fire on the range/overlap join")
      val rows = df.collect()
      require(rows.length <= 10000,
        s"$tag: ${rows.length} rows — too large for driver-side pinning")
      s.createDataFrame(java.util.Arrays.asList(rows: _*), df.schema)
    } finally {
      prev.foreach {
        case (k, Some(v)) => s.conf.set(k, v)
        case (k, None)    => s.conf.unset(k)
      }
      if (!hadRule) {
        s.experimental.extraOptimizations =
          s.experimental.extraOptimizations.filterNot(_ == RangeJoinRewrite)
      }
    }
  }
}
