package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.sources.{CloudOptimize, Tables}

/** Multi-dimensional data layout — Z-order (Morton) clustering, the
  * storage-side answer to "queries filter on BOTH price and size but a
  * file sort can only serve one of them". Interleaving the bits of two
  * bucketized keys produces a single sort key whose contiguous ranges
  * are small axis-aligned boxes, so after `repartitionByRange(morton) +
  * sortWithinPartitions(morton)` every parquet file's min/max footer
  * stats are tight on BOTH dimensions and a 2-D box predicate prunes to
  * a handful of files. At 100 TB this is the difference between a
  * two-column filter scanning the whole table and scanning ~1/files of
  * it — the same contract Delta/Iceberg `OPTIMIZE ZORDER BY` sells,
  * expressed here as plain Spark.
  *
  * The interleave is pure integer arithmetic (div/mod by powers of two),
  * generated ONCE as a SQL string and spliced into both the Spark plan
  * (`expr`, Spark `div`) and the DuckDB oracle (`//`) — bit-identical by
  * construction, codegen'd scan-side, no UDF.
  */
object Layout {

  /** Bits per dimension (4 → a 16×16 grid, 256 cells). */
  val ZBits = 4

  /** The Morton interleave of two pre-bucketized coordinates in
    * [0, 2^bits) as a SQL expression string: x occupies even bits, y odd
    * bits. `divOp` is the integer-division spelling (`div` on Spark,
    * `//` on DuckDB) — the ONE definition both engines evaluate.
    */
  def mortonSql(x: String, y: String, bits: Int, divOp: String): String =
    (0 until bits).map { i =>
      s"(($x $divOp ${1L << i}) % 2) * ${1L << (2 * i)}" +
        s" + (($y $divOp ${1L << i}) % 2) * ${1L << (2 * i + 1)}"
    }.mkString(" + ")

  /** Spark Column form of [[mortonSql]] over two long columns already in
    * [0, 2^bits).
    */
  def morton(x: String, y: String, bits: Int = ZBits): Column =
    expr(mortonSql(x, y, bits, "div"))

  /** Fixed-origin bucketization of the part table's two query dimensions
    * onto the 16×16 grid: `x` from retail price in integer cents,
    * `y` from size. `v*k div span` keeps everything in exact int64 (the
    * deciles trick) and `least` clamps the top edge. Documented data
    * bounds, not computed ones: a layout key must be stable as new data
    * arrives, or files written last week sort differently from today's.
    */
  val XOriginCents = 90000L
  val XSpanCents = 10000L
  val YOriginSize = 1L
  val YSpanSize = 50L

  private def grid(v: String, origin: Long, span: Long): String =
    s"least(${(1L << ZBits) - 1}, (($v - $origin) * ${1L << ZBits}) $divSpark $span)"
  private val divSpark = "div"

  /** Every part `(p_partkey, p_size, cents, x, y)` in its grid cell:
    * price in cents on x, size on y.
    */
  private def partGrid(s: SparkSession, dir: String): DataFrame =
    Tables.part(s, dir)
      .select(col("p_partkey"), col("p_size"),
        round(col("p_retailprice") * 100).cast("long").as("cents"))
      .withColumn("x", expr(grid("cents", XOriginCents, XSpanCents)))
      .withColumn("y", expr(grid("p_size", YOriginSize, YSpanSize)))

  /** SQL twin of [[partGrid]]: CTEs `p` and `g`. */
  private val partGridSql: String = {
    def gridSql(v: String, origin: Long, span: Long): String =
      s"least(${(1L << ZBits) - 1}, (($v - $origin) * ${1L << ZBits}) // $span)"
    s"""p AS (
       |  SELECT p_partkey, p_size, CAST(round(p_retailprice * 100) AS BIGINT) AS cents
       |  FROM part
       |), g AS (
       |  SELECT p_partkey, p_size, cents,
       |    ${gridSql("cents", XOriginCents, XSpanCents)} AS x,
       |    ${gridSql("CAST(p_size AS BIGINT)", YOriginSize, YSpanSize)} AS y
       |  FROM p
       |)""".stripMargin
  }

  /** The layout audit of a keyed part frame: per `key` cell, the part
    * count and the bounds of both dimensions, in key order.
    */
  private def cellBounds(parts: DataFrame, key: String): DataFrame =
    parts.groupBy(col(key))
      .agg(count(lit(1)).as("n_parts"),
        min(col("cents")).as("min_cents"), max(col("cents")).as("max_cents"),
        min(col("p_size")).as("min_size"), max(col("p_size")).as("max_size"))
      .orderBy(col(key))

  /** SQL twin of [[cellBounds]]: the cell key is `keyExpr` over `src`. */
  private def cellBoundsSql(src: String, keyExpr: String, key: String): String =
    s"""SELECT $keyExpr AS $key,
       |  count(*) AS n_parts,
       |  min(cents) AS min_cents, max(cents) AS max_cents,
       |  min(p_size) AS min_size, max(p_size) AS max_size
       |FROM $src
       |GROUP BY $key
       |ORDER BY $key""".stripMargin

  /** Z-order layout audit: every part mapped to its Morton cell, then
    * per-cell counts and per-dimension bounds — the report that shows
    * each contiguous Morton range covers a tight 2-D box (the property
    * file-level pruning relies on). One scan-side projection + one
    * map-side-combined aggregate over ≤256 cells.
    */
  def qZorderLayout(s: SparkSession, dir: String): DataFrame =
    cellBounds(partGrid(s, dir).withColumn("z", morton("x", "y")), "z")

  val qZorderLayoutOracle: String =
    s"WITH $partGridSql\n${cellBoundsSql("g", mortonSql("x", "y", ZBits, "//"), "z")}"

  /** One peel of the Hilbert xy→d state machine at scale `s` (the
    * standard rx/ry quadrant + rotate step), emitted as (name, SQL
    * expression) pairs over the level-`lev` state columns — the ONE
    * definition both engines evaluate: Spark applies the pairs as a
    * `withColumn` chain (`divOp = "div"`), the oracle joins them into a
    * CTE chain (`divOp = "//"`). Quadrant value (3·rx) XOR ry is spelled
    * branch-free as 2·rx + ((rx+ry) % 2); the rotate-and-reflect step
    * keeps everything in exact int64.
    */
  def hilbertStep(lev: Int, s: Long, divOp: String): Seq[(String, String)] = {
    val (x, y, d) = (s"hx$lev", s"hy$lev", s"hd$lev")
    val rx = s"(($x $divOp $s) % 2)"
    val ry = s"(($y $divOp $s) % 2)"
    // reflection is against the FULL side (n−1−v), not the subsquare:
    // coordinates are never reduced mod s between levels, so an s−1−v
    // reflection of a value carrying higher bits would go negative (and
    // integer div/mod on negatives then derails the bit extraction);
    // flipping all n bits flips the not-yet-consumed low bits correctly
    // and only perturbs already-consumed high ones
    val n1 = (1L << ZBits) - 1
    Seq(
      s"hd${lev + 1}" -> s"($d + ${s * s} * (2 * $rx + (($rx + $ry) % 2)))",
      s"hx${lev + 1}" -> (s"(CASE WHEN $ry = 0 THEN (CASE WHEN $rx = 1" +
        s" THEN $n1 - $y ELSE $y END) ELSE $x END)"),
      s"hy${lev + 1}" -> (s"(CASE WHEN $ry = 0 THEN (CASE WHEN $rx = 1" +
        s" THEN $n1 - $x ELSE $x END) ELSE $y END)"))
  }

  /** Hilbert-curve layout audit — the locality-optimal sibling of
    * [[qZorderLayout]]: the same 16×16 grid bucketization, keyed by the
    * Hilbert index instead of the Morton interleave. Why offer both:
    * consecutive Morton codes can jump 2^k grid cells apart (the
    * "Z seam"), so a contiguous file of Morton range [m, m+c) can span a
    * wide box; consecutive HILBERT codes are always edge-adjacent cells
    * (unit Manhattan step — spec-asserted over the full grid), so every
    * contiguous file covers a genuinely compact region and min/max
    * footer stats stay tight on both dimensions even across file
    * boundaries. Cost identity: the curve evaluates scan-side as a
    * 4-level integer state machine (one projection per level, no UDF,
    * codegen'd), and the audit is the same ≤256-cell aggregate as the
    * Morton one.
    */
  def qHilbertLayout(s: SparkSession, dir: String): DataFrame =
    cellBounds(hilbert(partGrid(s, dir), "x", "y"), "h")

  /** Append Hilbert index column `h` computed from grid columns already
    * in [0, 2^[[ZBits]]): the [[hilbertStep]] chain applied as level
    * projections, then the final distance column renamed.
    */
  def hilbert(df: DataFrame, xCol: String, yCol: String): DataFrame = {
    val seeded = df
      .withColumn("hx0", col(xCol).cast("long"))
      .withColumn("hy0", col(yCol).cast("long"))
      .withColumn("hd0", lit(0L))
    val stepped = (0 until ZBits).foldLeft(seeded) { (acc, lev) =>
      hilbertStep(lev, 1L << (ZBits - 1 - lev), "div")
        .foldLeft(acc) { case (a, (name, e)) => a.withColumn(name, expr(e)) }
    }
    stepped.withColumn("h", col(s"hd$ZBits"))
      .drop((0 to ZBits).flatMap(l => Seq(s"hx$l", s"hy$l", s"hd$l")): _*)
  }

  val qHilbertLayoutOracle: String = {
    val levels = (0 until ZBits).map { lev =>
      val cols = hilbertStep(lev, 1L << (ZBits - 1 - lev), "//")
        .map { case (name, e) => s"$e AS $name" }.mkString(",\n|    ")
      s"h${lev + 1} AS (SELECT *, $cols FROM h$lev)"
    }.mkString(",\n|")
    s"""WITH $partGridSql, h0 AS (
       |  SELECT p_partkey, p_size, cents, x AS hx0, y AS hy0, CAST(0 AS BIGINT) AS hd0
       |  FROM g
       |),
       |$levels
       |${cellBoundsSql(s"h$ZBits", s"hd$ZBits", "h")}""".stripMargin
  }

  /** Z-order clustered write: append the Morton key over the two given
    * pre-bucketized grid columns and delegate to [[CloudOptimize.write]]
    * with the Morton key as the sort contract — range-shuffled (skew
    * splits at key boundaries), internally sorted, size-capped files
    * whose footer stats are tight on both source dimensions.
    */
  def writeZOrdered(
      df: DataFrame,
      outPath: String,
      xCol: String,
      yCol: String,
      numPartitions: Option[Int] = None,
      maxRecordsPerFile: Long = 1000000L): Unit = {
    val keyed = df.withColumn("z_key", morton(xCol, yCol))
    CloudOptimize.write(keyed, outPath, partitionCols = Nil,
      sortCols = Seq("z_key"), maxRecordsPerFile = maxRecordsPerFile,
      numPartitions = numPartitions)
  }
}
