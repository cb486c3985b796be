package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Hash-stable numeric aggregates shared across operators — ONE
  * definition each, with a DuckDB SQL twin spliced (never copied) into
  * the oracles.
  *
  * Why: `round(sum(double), k)` / `round(avg(double), k)` are NOT stable
  * under distributed aggregation — partial-sum accumulation order varies
  * run to run (and differs from DuckDB's), so an aggregate sitting at a
  * `…5·10^-(k+1)` rounding boundary flips its k-th decimal
  * nondeterministically (the r3 q_kmeans_step flake). The fix: sum the
  * values as DECIMAL(38,12) — the cast of each IEEE double is exact and
  * per-row, the decimal sum is associative-exact in ANY order — then
  * cast the one exact sum back to double and round once. Bit-identical
  * across runs and engines by construction.
  *
  * Not coverable this way: second-moment aggregates (stddev/corr/covar)
  * have no exact decimal form; they rely on the round-gap argument
  * (values far from rounding boundaries at the chosen precision).
  * Window aggregates over an ORDER BY frame are sequential in frame
  * order on both engines and need no stabilization.
  */
object NumFns {

  /** The exact-decimal types, DECIMAL(38,12) and DECIMAL(38,0) in the
    * oracles: `Dec12` is what a double is cast to before an
    * order-independent sum, `Dec0` the type of an exact integer total. */
  val Dec12: DecimalType = DecimalType(38, 12)
  val Dec0: DecimalType = DecimalType(38, 0)

  /** Order-independent `round(sum(x), digits)` over a double column.
    *
    * The rounding happens in DECIMAL space, not on the double-cast sum:
    * an exact decimal sum CAN land exactly on a half boundary (money
    * inputs have 2-4 decimals, so a 4-decimal sum hitting `…x.365` is
    * routine), and there Spark's double round (shortest-decimal HALF_UP)
    * and DuckDB's (binary value) disagree by one ulp-cent. Decimal
    * rounding is half-away-from-zero on BOTH engines (Java BigDecimal
    * HALF_UP == DuckDB decimal round), and the rounded 2-decimal value
    * converts to the identical double.
    */
  def stableSum(x: Column, digits: Int): Column =
    round(sum(x.cast(Dec12)), digits).cast("double")

  def stableSumSql(x: String, digits: Int): String =
    s"CAST(round(sum(CAST($x AS DECIMAL(38,12))), $digits) AS DOUBLE)"

  /** Collapse IEEE signed zero to +0.0. Spark's decimal-space round has
    * no signed zero (BigDecimal) while DuckDB's `round(double, k)` keeps
    * the IEEE sign, so a mean/product that underflows to zero from below
    * renders `-0.0` on one engine and `0.0` on the other — value-equal,
    * hash-different (the two-round q_kmeans_step red). Normalized HERE so
    * every operator inherits it; do NOT use `+ 0.0`, which constant
    * folding may drop.
    */
  def noNegZero(x: Column): Column =
    when(x === 0.0, lit(0.0)).otherwise(x)

  def noNegZeroSql(x: String): String =
    s"(CASE WHEN ($x) = 0 THEN CAST(0.0 AS DOUBLE) ELSE ($x) END)"

  /** Order-independent `round(avg(x), digits)`: exact decimal sum ÷ n.
    * The final rounding is [[roundPortable]], NOT the engines' built-in
    * `round(x, d)` — Spark rounds the shortest DECIMAL representation
    * while DuckDB rounds the BINARY value, and at sf1 the q_pinball_loss
    * mean landed exactly on a 6th-decimal half boundary where the two
    * disagree by one final digit (r9). Requires |mean|·10^digits < 2^52
    * — every consumer's mean is a per-row average, far inside that.
    */
  def stableMean(x: Column, n: Column, digits: Int): Column =
    roundPortable(sum(x.cast(Dec12)).cast("double") / n, digits)

  def stableMeanSql(x: String, n: String, digits: Int): String =
    roundPortableSql(
      s"CAST(sum(CAST($x AS DECIMAL(38,12))) AS DOUBLE) / $n", digits)

  /** EXACT round-half-away-from-zero of a double to a long — the same
    * value Spark's `round(x, 0)` and DuckDB's `round(x)` produce, but
    * built from codegen'd floor/ceil instead of Spark's per-row
    * `BigDecimal.valueOf(x).setScale(...)` (measured 10× on an 8M-row
    * quantization pass). Exactness: for |x| < 2^52, `floor(x)` is a
    * representable integer with the same binade, so `x - floor(x)` is
    * computed EXACTLY (both are multiples of ulp(x) and the difference
    * is < 1), making the `≥ 0.5` half test an exact-value comparison —
    * no `floor(x + 0.5)` addition error, which at |x| ~ 1e12 (ulp ≈
    * 2.4e-4) would mis-round ~1 in 4000 values vs the C-library round
    * the oracle engine uses.
    */
  def roundAwayLong(x: Column): Column =
    when(x >= 0,
      floor(x) + when((x - floor(x)) >= 0.5, 1L).otherwise(0L))
      .otherwise(ceil(x) - when((ceil(x) - x) >= 0.5, 1L).otherwise(0L))
      .cast("long")

  /** Cross-engine-portable `round(x, digits)` for doubles whose value
    * can land EXACTLY on a rounding boundary (means of small-n groups,
    * ratios of small integers). Spark's round inspects the double's
    * shortest DECIMAL representation (BigDecimal.valueOf → HALF_UP) while
    * DuckDB rounds the BINARY value — for x = 161563.205 (binary
    * …20499999…) they disagree by a cent, which is exactly the sf0.1
    * q_scalar_subquery failure. This form rounds the scaled BINARY value
    * identically on both engines: [[roundAwayLong]](x·10^k)/10^k, with
    * [[roundPortableSql]] as the oracle twin (`round(x·10^k)` one-arg =
    * C round = half away from zero). Requires |x|·10^k < 2^52.
    */
  def roundPortable(x: Column, digits: Int): Column = {
    val scale = math.pow(10.0, digits)
    noNegZero(roundAwayLong(x * scale).cast("double") / scale)
  }

  def roundPortableSql(x: String, digits: Int): String =
    noNegZeroSql(s"CAST(round(($x) * 1e$digits) AS BIGINT) / 1e$digits")

  /** Oracle twin of [[graft.plans.QuantAgg]]'s quantized stable sum:
    * the exact integer Σ round(x·10⁶) (BIGINT→HUGEINT accumulation is
    * exact in the oracle engine), scaled back and rounded portably.
    */
  def quantSumSql(x: String, digits: Int): String =
    roundPortableSql(
      s"CAST(sum(CAST(round(($x) * 1e6) AS BIGINT)) AS DOUBLE) / 1e6", digits)

  /** Oracle twin of the quantized stable mean (Σ round(x·10⁶) / 10⁶ / n). */
  def quantMeanSql(x: String, n: String, digits: Int): String =
    roundPortableSql(
      s"CAST(sum(CAST(round(($x) * 1e6) AS BIGINT)) AS DOUBLE) / 1e6 / ($n)", digits)

  /** Two-sided normal p-value `P(|Z| ≥ |z|) = erfc(|z|/√2)` via the
    * Abramowitz–Stegun 7.1.26 rational approximation (|ε| < 1.5e-7 —
    * plenty for significance gating), spelled as the IDENTICAL literal
    * sequence on both engines so every `+ − × ÷ √` (all correctly
    * rounded per IEEE 754) lands on the same double. The one
    * non-portable primitive is `exp` (libm implementations may differ in
    * the last ulp); consumers must therefore (a) round the emitted p and
    * (b) never let cross-engine ORDERING depend on p — rank by |z|,
    * which is monotone in p and bit-identical by construction.
    */
  def normTwoSidedP(z: Column): Column = {
    val x = abs(z) / 1.4142135623730951
    val t = lit(1.0) / (lit(1.0) + lit(0.3275911) * x)
    val poly = ((((lit(1.061405429) * t - lit(1.453152027)) * t
      + lit(1.421413741)) * t - lit(0.284496736)) * t + lit(0.254829592)) * t
    poly * exp(-(x * x))
  }

  /** SQL twin of [[normTwoSidedP]] — same literals, same association. */
  def normTwoSidedPSql(z: String): String = {
    val x = s"(abs($z) / 1.4142135623730951)"
    val t = s"(1.0 / (1.0 + 0.3275911 * $x))"
    s"(((((1.061405429 * $t - 1.453152027) * $t + 1.421413741) * $t" +
      s" - 0.284496736) * $t + 0.254829592) * $t * exp(-($x * $x)))"
  }

  /** Wilson–Hilferty normal z of a chi-square statistic on `k` degrees
    * of freedom, from its ratio r = χ²/k:
    * (r^(1/3) − (1 − 2/(9k))) / sqrt(2/(9k)).
    */
  def wilsonHilfertyZ(r: Column, k: Column): Column =
    (pow(r, 1.0 / 3.0) - (lit(1.0) - lit(2.0) / (lit(9.0) * k))) /
      sqrt(lit(2.0) / (lit(9.0) * k))

  /** SQL twin of [[wilsonHilfertyZ]] — same literals, same association. */
  def wilsonHilfertyZSql(r: String, k: String): String =
    s"(pow($r, 1.0 / 3.0) - (1.0 - 2.0 / (9.0 * $k))) / sqrt(2.0 / (9.0 * $k))"

  /** Standard normal CDF from the SAME A&S literal as
    * [[normTwoSidedP]]: Φ(z) = 1 − p/2 for z ≥ 0, p/2 otherwise.
    */
  def normCdf(z: Column): Column =
    when(z >= 0, lit(1.0) - normTwoSidedP(z) / 2)
      .otherwise(normTwoSidedP(z) / 2)

  def normCdfSql(z: String): String =
    s"(CASE WHEN ($z) >= 0 THEN 1.0 - ${normTwoSidedPSql(z)} / 2" +
      s" ELSE ${normTwoSidedPSql(z)} / 2 END)"

  /** Standard normal density, identical literal 1/√(2π). */
  def normPdf(z: Column): Column =
    lit(0.3989422804014327) * exp(-(z * z) / 2)

  def normPdfSql(z: String): String =
    s"(0.3989422804014327 * exp(-(($z) * ($z)) / 2))"

  /** Crude normal-quantile START for the Newton refinement (A&S
    * 26.2.22, |ε| < 3e-3): for q = min(p, 1−p) and t = √(−2 ln q),
    * x = t − (2.30753 + 0.27061t)/(1 + 0.99229t + 0.04481t²), signed
    * by which tail p is in. NEVER use this alone — always through
    * the stepwise Newton columns (see q_fligner_killeen), which
    * converge it against [[normCdf]] so both engines land on the
    * identical double.
    */
  def normQuantileStart(p: Column): Column = {
    val q = least(p, lit(1.0) - p)
    val t = sqrt(lit(-2.0) * log(q))
    val x = t - (lit(2.30753) + lit(0.27061) * t) /
      (lit(1.0) + lit(0.99229) * t + lit(0.04481) * t * t)
    when(p >= 0.5, x).otherwise(-x)
  }

  def normQuantileStartSql(p: String): String = {
    val q = s"least($p, 1.0 - ($p))"
    val t = s"sqrt(-2.0 * ln($q))"
    s"(CASE WHEN ($p) >= 0.5 THEN 1 ELSE -1 END * " +
      s"($t - (2.30753 + 0.27061 * $t) / " +
      s"(1.0 + 0.99229 * $t + 0.04481 * $t * $t)))"
  }

  /** One Newton step toward Φ(z) = p: z − (Φ(z) − p)/φ(z). Applied as
    * successive named columns (never nested in one expression — the
    * CDF literal would expand exponentially).
    */
  def normQuantileStep(z: Column, p: Column): Column =
    z - (normCdf(z) - p) / normPdf(z)

  def normQuantileStepSql(z: String, p: String): String =
    s"(($z) - (${normCdfSql(z)} - ($p)) / ${normPdfSql(z)})"
}
