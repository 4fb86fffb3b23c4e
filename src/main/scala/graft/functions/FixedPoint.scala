package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Exact fixed-point aggregation: sum a double column that carries at most
  * `scale` decimal digits by snapping each value to its integer unscaled
  * representation and accumulating in LONG — measured ~3× faster than
  * decimal aggregation on the same data (decimal sums box a Decimal per
  * row inside the agg loop; long sums stay primitive in codegen) and
  * bit-identical where the contracts below hold.
  *
  * EXACTNESS CONTRACT: each value must be the nearest double to some
  * k/10^scale with representation error < 0.5/10^scale. True for any
  * ≤15-significant-digit fixed-point source column (money, quantities),
  * and also for products of two 2-dp values summed at scale 4 (the double
  * product sits within 1 ulp of the exact 4-dp rational). The snap uses
  * round-half-AWAY-from-zero, matching the decimal(p,scale) HALF_UP cast
  * on both engines, so `sumFixed(c, s)` == `sum(cast(c as decimal(18,s)))`
  * cast to double, bit for bit.
  *
  * OVERFLOW BOUND — the caller's contract, to be checked against the
  * 100 TB design point at every use: Σ|unscaled| ≤ n·max|x|·10^scale must
  * stay below 2^63 ≈ 9.2e18. At ~6e11 lineitem rows (100 TB-scale SF):
  * scale-2 money (max ~1e5 → unscaled 1e7) sums to ≤ 6e18 — safe;
  * scale-4 discount PRODUCTS (unscaled ≤ 1e9) would reach 6e20 —
  * overflow, keep those on decimal. Under ANSI mode (the Spark 4 session
  * default) an overflowing long sum throws ARITHMETIC_OVERFLOW — loud
  * but ORDER-DEPENDENT (whether an intermediate partial crosses 2^63
  * depends on partition merge order) and gone entirely in an ANSI-off
  * session, where the sum WRAPS SILENTLY into a plausible wrong total.
  *
  * So the bound is ENFORCED at runtime, not just documented: the
  * aggregate carries a `count` and `max(abs(unscaled))` alongside the
  * sum (two extra 8-byte map-side-combined buffers — no extra pass, no
  * shuffle growth) and trips when `try_multiply(max, n)` overflows —
  * an EXACT 2^63 test (a division-based bound would be double
  * arithmetic with ~1024-ulp slack at the boundary) — the same
  * guard-rides-the-expression pattern as operators.Joins.rangeJoin's
  * span guard. n·max ≥ Σ|unscaled| is
  * conservative and DETERMINISTIC — a sum that could have wrapped under
  * an adversarial ordering fails with the actionable message even if
  * this particular order stayed in range, in both ANSI modes; callers
  * in that regime must use the decimal form anyway. */
object FixedPoint {

  /** Snap a double to its long unscaled fixed-point image (round half
    * AWAY from zero, matching the decimal HALF_UP cast). Null, NaN,
    * ±Infinity, AND magnitudes whose unscaled image cannot be represented
    * become null exactly as the ANSI-off decimal cast maps them —
    * without the finite guard, Spark's NaN/Inf ordering (greater than
    * everything) would take the positive branch and cast(Inf as long) =
    * Long.MaxValue would silently destroy the total, while an all-NaN
    * column would sum to 0.0 instead of null.
    *
    * The RANGE guard (|c|·m < 2^62) closes the saturation hole the
    * aggregate-level tripwire cannot see: in an ANSI-off session the
    * double→long cast SATURATES an |unscaled| ≥ 2^63 value to
    * Long.MaxValue instead of overflowing, so max|unscaled| reads as
    * 2^63−1 while the SUM still wraps — and with small n,
    * try_multiply(max, n) does not overflow either, so the tripwire
    * passes on a silently wrong total. Nulling the out-of-range input
    * BEFORE the cast keeps the downstream max/count honest — and each
    * aggregate pairs this with a finite-row count (see [[finiteCount]])
    * that turns the null into a LOUD trip, never a silently dropped row
    * (the same count-compare pattern as sumProductFixed's per-row
    * product guard). 2^62 rather than 2^63: doubles at that magnitude
    * carry ~1024-ulp slack, so the exact saturation boundary is fuzzy;
    * the 2× margin costs nothing — the exactness contract caps inputs
    * at 15 significant digits, orders of magnitude below either bound.
    * (NaN < bound and Inf < bound are both false, so the single
    * comparison subsumes the finite check; isnan stays for the
    * documented NaN intent.) ONE copy, shared by both aggregates: the
    * snap semantics are a documented cross-aggregate contract. */
  private def snap(c: Column, m: Double): Column =
    snapAtBound(c, m, 4.611686018427388e18) // 2^62

  /** The snap at an EXPLICIT range bound — ONE copy of the documented
    * cross-aggregate snap semantics (r19 ADVICE: three hand-copies in
    * the ML bootstrap aggregates had already drifted to their own
    * bound). Callers whose aggregate MULTIPLIES the unscaled image by
    * a factor f must bound |unscaled| at 2^63/f so the product can
    * never overflow a long — the Poisson-bootstrap family uses
    * [[boundForFactor8]] = 2^60 (w ≤ 8 by the CDF table). */
  private[graft] def snapAtBound(c: Column, m: Double,
      bound: Double): Column = {
    val ok = !isnan(c) && abs(c) * m < lit(bound)
    when(ok && c >= 0, (c * m + 0.5).cast("long"))
      .when(ok && c < 0, -((-c * m + 0.5).cast("long")))
  }

  /** 2^60: the snap range bound for aggregates that multiply the
    * unscaled image by a factor ≤ 8 (Poisson(1) bootstrap weights). */
  private[graft] val boundForFactor8: Double = 1.152921504606847e18

  /** Count of rows whose input is a real number (non-null, non-NaN,
    * finite) — the rows snap MUST have snapped. snap also nulls finite
    * values whose unscaled image overflows its range guard, so
    * `count(snapped) < finiteCount(c)` ⟺ some real value was out of
    * range: the aggregates trip on that instead of letting the row
    * silently leave the sum. (NaN/Inf/null rows are NOT counted — those
    * skip legitimately, exactly as the decimal cast maps them.) */
  private[graft] def isFinite(c: Column): Column =
    !isnan(c) && abs(c) =!= lit(Double.PositiveInfinity)
  private[graft] def finiteCount(c: Column): Column =
    count(when(isFinite(c), lit(1)))

  /** See object doc. */
  def sumFixed(c: Column, scale: Int): Column = {
    require(scale >= 0 && scale <= 9, s"scale must be in [0, 9], got $scale")
    val m = math.pow(10, scale)
    guardedLongSum(c, scale, m).cast("double") / m
  }

  /** [[sumFixed]] returning the EXACT decimal(precision, scale) result
    * instead of the double round-trip: bit-identical to
    * `sum(cast(c as decimal(precision, scale)))` at ANY total the 2^63
    * tripwire admits. The double form's `/ m` is exact only while the
    * unscaled total stays below 2^53 — decimal(18,2) itself holds
    * totals up to ~10^18, so in the (2^53, 10^18) band (TPC-H sf≈400+,
    * inside the 100 TB design point) a stored rollup built through the
    * double would silently diverge from the raw decimal sum it must
    * reproduce (r19 ADVICE, q200's mvSlice). Here the long total casts
    * to decimal and divides by 10^scale in DECIMAL arithmetic — exact
    * at every step (the quotient has exactly `scale` fractional
    * digits), enforced rather than stated. A total the 2^63 tripwire
    * admits can still exceed decimal(precision, scale) (an unscaled
    * total in [10^precision, 2^63)): the final cast would NULL it in an
    * ANSI-off session, so a non-null long total with a null decimal
    * FAILS LOUDLY instead (ANSI on raises at the cast itself). */
  def sumFixedDecimal(c: Column, scale: Int, precision: Int): Column = {
    require(scale >= 0 && scale <= 9, s"scale must be in [0, 9], got $scale")
    require(precision >= scale + 1 && precision <= 38,
      s"precision must be in [${scale + 1}, 38], got $precision")
    val m = math.pow(10, scale)
    val total = guardedLongSum(c, scale, m)
    val dec = total
      .cast("decimal(20,0)")./(lit(m.toLong).cast("decimal(10,0)"))
      .cast(s"decimal($precision,$scale)")
    // the guard is coalesce's FIRST child (see guardedLongSum): NULL on
    // pass, so the decimal falls through bit-identically
    val guard = assert_true(total.isNull || dec.isNotNull,
      concat(lit(s"FixedPoint.sumFixedDecimal(scale=$scale, " +
        s"precision=$precision): unscaled total "), total.cast("string"),
        lit(s" exceeds decimal($precision,$scale); widen the precision")))
    coalesce(guard.cast(s"decimal($precision,$scale)"), dec)
  }

  /** The shared guarded LONG accumulator behind both sum forms: snap,
    * count/max tripwire, exact long total (see object doc). */
  private def guardedLongSum(c: Column, scale: Int, m: Double): Column = {
    val snapped = snap(c, m)
    // overflow tripwire (see object doc): n·max|unscaled| must fit 2^63.
    // count/max aggregate the same snapped child, so Spark evaluates the
    // snap once per row and the two extra buffers ride the existing
    // partial-aggregation exchange. The guard rides as coalesce's FIRST
    // child: assert_true yields NULL on pass, so the value falls through
    // to the sum bit-identically — and the guard cannot be skipped. (The
    // tempting `sum + coalesce(guard, 0)` form has a hole: binary-op
    // codegen short-circuits the RIGHT child when the left is null, so
    // an all-null sum would silently bypass the assert.)
    val n = count(snapped)
    val mx = max(abs(snapped))
    // snap's range guard nulls any finite value whose |unscaled| image
    // could saturate the double→long cast; count-compare turns that into
    // a loud failure (a saturated value would otherwise make max read
    // 2^63−1 while the sum wraps — the ANSI-off silent-wrong hole)
    val nFin = finiteCount(c)
    // n·max must fit 2^63 EXACTLY: try_multiply nulls on long overflow,
    // so non-null ⟺ the product fits. (The tempting `mx <= MaxValue/n`
    // form is Spark DOUBLE division: (double)Long.MaxValue rounds UP to
    // exactly 2^63 and the comparison has ~1024-ulp slack there — at the
    // boundary, n=2 with mx=2^62 would PASS and the true sum 2^63 wraps
    // in an ANSI-off session: the precise silent-wrong-total hole this
    // guard exists to close.)
    val guard = assert_true(
      n === nFin && (n === 0 || try_multiply(mx, n).isNotNull),
      concat(lit(s"FixedPoint.sumFixed(scale=$scale): overflow bound " +
          "violated — "), nFin - n,
        lit(" value(s) exceed the representable unscaled range, or count("),
        // coalesce: max over zero snapped rows is NULL, and one null arg
        // nulls the whole concat — assert_true would then raise with a
        // useless "null" message
        n, lit(") * max|unscaled|("), coalesce(mx, lit(0L)),
        lit(") can exceed 2^63, so a long accumulator may wrap silently; " +
          "use a decimal sum for this column")))
    coalesce(guard.cast("long"), sum(snapped))
  }

  /** Exact fixed-point PRODUCT sum: Σ a·b where `a` carries ≤ scaleA and
    * `b` ≤ scaleB decimal digits — the `sum(ep·(1−disc))` money shape.
    * Each factor is snapped to its long unscaled form (same rounding and
    * null/NaN/±Inf semantics as [[sumFixed]]'s snap, matching the
    * decimal cast's null mapping); the LONG product is the exact
    * (scaleA+scaleB)-dp unscaled value, accumulated in DECIMAL(38,0) —
    * which stays on Spark's compact-long fast path until the running
    * total passes 18 digits and then switches to BigDecimal instead of
    * overflowing, so the 100 TB design point (Σ|unscaled| ≈ 6e20 for
    * lineitem money products) is SAFE where a bare long sum is not.
    * Bit-identical to `sum(cast(a*b as decimal(18, sA+sB)))` for 2-dp
    * money inputs (the double product sits within 1 ulp of the exact
    * 4-dp rational — see the object doc) and measured ~1.5× cheaper at
    * sf0.1 (0.48 → 0.32 s on the q01 shape: the per-row double→
    * BigDecimal cast becomes two long snaps and a long multiply).
    *
    * Per-ROW overflow (|a·10^sA · b·10^sB| ≥ 2^63) uses `try_multiply`,
    * which nulls on overflow in both ANSI modes — and a count tripwire
    * turns any such null into a loud failure rather than a silently
    * dropped row. Final-division caveat: the result is rounded once
    * through double division by 10^(sA+sB); totals beyond 2^53 unscaled
    * may differ from the single-rounded decimal cast by 1 ulp. */
  def sumProductFixed(a: Column, b: Column, scaleA: Int, scaleB: Int): Column = {
    require(scaleA >= 0 && scaleA <= 9 && scaleB >= 0 && scaleB <= 9,
      s"scales must be in [0, 9], got ($scaleA, $scaleB)")
    val pa = snap(a, math.pow(10, scaleA))
    val pb = snap(b, math.pow(10, scaleB))
    val p = try_multiply(pa, pb)
    val nIn = count(when(pa.isNotNull && pb.isNotNull, lit(1)))
    val nP = count(p)
    // a row BOTH of whose factors are real numbers must have snapped —
    // snap's range guard nulls a factor whose unscaled image would
    // saturate the long cast, and without this count-compare such a row
    // would silently leave the sum (the factor-level sibling of the
    // per-row product bound below)
    val nFin = count(when(isFinite(a) && isFinite(b), lit(1)))
    // guard first in the coalesce (see sumFixed's comment: a sum-side
    // null would short-circuit past a right-hand guard — here that is
    // exactly the all-rows-overflowed case the guard exists for)
    val guard = assert_true(nP === nIn && nIn === nFin,
      concat(lit(s"FixedPoint.sumProductFixed($scaleA,$scaleB): "),
        nFin - nP, lit(" row(s) overflowed the 2^63 per-row product " +
          "bound or the factor unscaled range; use the decimal form " +
          "for this column pair")))
    coalesce(guard.cast("decimal(38,0)"), sum(p.cast("decimal(38,0)")))
      .cast("double") / math.pow(10, scaleA + scaleB)
  }

}
