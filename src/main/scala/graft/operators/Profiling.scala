package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.{NumFns, TextFns}
import graft.functions.NumFns.{Dec0, Dec12}
import graft.sources.Tables

/** Data-profiling operators (SURVEY.md §2): the audit pass a pipeline
  * runs before trusting 100 TB of input — column statistics, per-document
  * character-class composition, and token-distribution entropy. Everything
  * is one scan plus map-side-combined aggregation; nothing here joins or
  * shuffles raw rows.
  */
object Profiling {

  /** One-pass column profile of the lineitem measures: row/null counts,
    * min/max, mean and sample-stddev per column. All 15 aggregates run in
    * a SINGLE scan + aggregate (the one-row result is then exploded to a
    * row per column — a constant-size reshape). At 100 TB this is the
    * cheapest possible full-table audit: one pass, a 15-cell aggregation
    * state, no shuffle beyond the per-task partial rows.
    */
  def qSummaryStats(s: SparkSession, dir: String): DataFrame = {
    val cols = Seq("l_quantity", "l_extendedprice", "l_discount")
    def statsStruct(c: String): Column = struct(
      lit(c).as("col_name"),
      sum(col(c).isNull.cast("long")).as("n_null"),
      min(col(c)).as("vmin"),
      max(col(c)).as("vmax"),
      // decimal-stable mean; stddev has no exact decimal form and relies
      // on the round-gap argument (see NumFns)
      graft.functions.NumFns.stableMean(col(c), count(lit(1)), 4).as("vmean"),
      round(stddev_samp(col(c)), 4).as("vstd"))
    Tables.lineitem(s, dir)
      .agg(count(lit(1)).as("n_rows"), cols.map(c => statsStruct(c).as(c)): _*)
      .select(col("n_rows"), explode(array(cols.map(col): _*)).as("st"))
      .select(col("st.col_name").as("col_name"), col("n_rows"),
        col("st.n_null").as("n_null"), col("st.vmin").as("vmin"),
        col("st.vmax").as("vmax"), col("st.vmean").as("vmean"),
        col("st.vstd").as("vstd"))
      .orderBy(col("col_name"))
  }

  val qSummaryStatsOracle: String = {
    val one = Seq("l_quantity", "l_extendedprice", "l_discount").map { c =>
      s"""SELECT '$c' AS col_name, count(*) AS n_rows,
         |  CAST(sum(CASE WHEN $c IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_null,
         |  min($c) AS vmin, max($c) AS vmax,
         |  ${graft.functions.NumFns.stableMeanSql(c, "count(*)", 4)} AS vmean,
         |  round(stddev_samp($c), 4) AS vstd
         |FROM lineitem""".stripMargin
    }.mkString("\nUNION ALL\n")
    s"$one\nORDER BY col_name"
  }

  /** Per-document character-class composition: digit / uppercase /
    * whitespace / symbol ratios — the cheap structural signals (tables,
    * code, shouting, garbage encodings) that complement the token-level
    * quality rules. Counting by class = length minus length after
    * deleting the class; pure codegen'd projection, zero shuffle.
    *
    * r13 (r12 verdict ask #6): the class deletions run through
    * `translate` (a per-char dictionary lookup), not `regexp_replace` —
    * the four regex passes each paid a java.util.regex scan plus a full
    * StringBuffer rebuild of the document per row. Every class here is
    * a finite ASCII set, which is exactly what translate expresses:
    * `[0-9]`/`[A-Z]` enumerate directly and Java's `\s` is the literal
    * six-char set `[ \t\n\x0B\f\r]` (no UNICODE_CHARACTER_CLASS flag).
    * The complement class `[^a-zA-Z0-9\s]` can't be enumerated, but the
    * four classes partition it out: symbols = n_chars − digits − uppers
    * − lowers − spaces. Counts are identical to Java's regex form for
    * every input. The DuckDB oracle is still regex, over the same byte
    * set ([[TextFns.wsClassSql]]; RE2's own `\s` lacks `\x0B`).
    */
  def qCharClasses(s: SparkSession, dir: String): DataFrame = {
    val digits = "0123456789"
    val uppers = "ABCDEFGHIJKLMNOPQRSTUVWXYZ"
    val lowers = "abcdefghijklmnopqrstuvwxyz"
    val spaces = " \t\n\u000B\f\r" // Java regex \s = [ \t\n\x0B\f\r], exactly
    def classCount(chars: String): Column =
      length(col("text")) - length(translate(col("text"), chars, ""))
    // empty documents: 0/0 is NaN in Spark but version-dependent in
    // DuckDB (NULL vs IEEE nan) — guard to NULL on both engines so an
    // empty doc can never break oracle parity
    def ratio(cnt: Column): Column =
      when(length(col("text")) > 0,
        round(cnt / length(col("text")).cast("double"), 4))
    Tables.documents(s, dir)
      .select(col("doc_id"), length(col("text")).as("n_chars"),
        ratio(classCount(digits)).as("digit_ratio"),
        ratio(classCount(uppers)).as("upper_ratio"),
        ratio(classCount(spaces)).as("space_ratio"),
        ratio(length(col("text")) - classCount(digits) - classCount(uppers)
          - classCount(lowers) - classCount(spaces)).as("symbol_ratio"))
      .orderBy(col("doc_id"))
  }

  val qCharClassesOracle: String = {
    def r(pat: String, alias: String) =
      s"CASE WHEN length(text) > 0 THEN round((length(text) - length(regexp_replace(text, '$pat', '', 'g'))) / CAST(length(text) AS DOUBLE), 4) END AS $alias"
    s"""SELECT doc_id, CAST(length(text) AS INTEGER) AS n_chars,
       |  ${r("[0-9]", "digit_ratio")},
       |  ${r("[A-Z]", "upper_ratio")},
       |  ${r(TextFns.wsClassSql, "space_ratio")},
       |  ${r(TextFns.wsClassSql.replace("[", "[^a-zA-Z0-9"), "symbol_ratio")}
       |FROM documents
       |ORDER BY doc_id""".stripMargin
  }

  /** Per-document unigram entropy (natural log): H = ln(N) − Σ n·ln(n)/N
    * over token counts — near zero for one-word spam, high for diverse
    * text; with n_distinct it is the type/token profile tokenizer sizing
    * starts from. Shape: explode → (doc_id, word) counts → per-doc
    * aggregate of the count rows. Both aggregations combine map-side, so
    * the shuffles carry (doc, word, n) partials then (doc, Σ) cells —
    * never token rows. The identity form avoids a second pass for N
    * (Σ n·ln n needs no per-word probabilities).
    */
  def qWordEntropy(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir)
      .select(col("doc_id"), explode(TextFns.tokens(col("text"))).as("word"))
      .groupBy(col("doc_id"), col("word"))
      .agg(count(lit(1)).as("n"))
      .groupBy(col("doc_id"))
      .agg(sum(col("n")).as("n_tokens"),
        count(lit(1)).as("n_distinct"),
        sum(col("n") * log(col("n"))).as("sn"))
      .select(col("doc_id"), col("n_tokens"), col("n_distinct"),
        round(log(col("n_tokens")) - col("sn") / col("n_tokens"), 4).as("entropy"))
      .orderBy(col("doc_id"))

  val qWordEntropyOracle: String =
    s"""WITH w AS (
       |  SELECT doc_id, unnest(${TextFns.toksSql}) AS word FROM documents
       |), c AS (
       |  SELECT doc_id, word, count(*) AS n FROM w GROUP BY doc_id, word
       |), a AS (
       |  SELECT doc_id, CAST(sum(n) AS BIGINT) AS n_tokens,
       |    count(*) AS n_distinct, sum(n * ln(n)) AS sn
       |  FROM c GROUP BY doc_id
       |)
       |SELECT doc_id, n_tokens, n_distinct,
       |  round(ln(n_tokens) - sn / n_tokens, 4) AS entropy
       |FROM a
       |ORDER BY doc_id""".stripMargin

  /** Per-source length/token percentile profile — the multi-metric form
    * of the distributed-exact percentile engine: p50/p90 characters and
    * p50 tokens per source from ONE corpus scan (the metrics melt
    * scan-side into (source, metric, value) cells; see
    * Analytics.exactPercentilesMulti). The corpus-profiling report every
    * curation run opens with, and the oracle gate for the multi-metric
    * engine itself.
    */
  def qDocPercentiles(s: SparkSession, dir: String): DataFrame = {
    val d = Tables.documents(s, dir)
      .select(col("source"),
        length(col("text")).cast("double").as("n_chars"),
        size(TextFns.tokens(col("text"))).cast("double").as("n_tokens"))
    Analytics.exactPercentilesMulti(d, "source", Seq(
        "n_chars" -> Seq(0.5 -> "p50_chars", 0.9 -> "p90_chars"),
        "n_tokens" -> Seq(0.5 -> "p50_tokens")))
      .orderBy(col("source"))
  }

  val qDocPercentilesOracle: String =
    s"""WITH d AS (
       |  SELECT source,
       |    CAST(length(text) AS DOUBLE) AS n_chars,
       |    CAST(len(${TextFns.toksSql}) AS DOUBLE) AS n_tokens
       |  FROM documents
       |)
       |SELECT source,
       |  round(quantile_cont(n_chars, 0.5), 4) AS p50_chars,
       |  round(quantile_cont(n_chars, 0.9), 4) AS p90_chars,
       |  round(quantile_cont(n_tokens, 0.5), 4) AS p50_tokens
       |FROM d
       |GROUP BY source
       |ORDER BY source""".stripMargin

  /** Per-source distribution drift: the exact two-sample Kolmogorov-
    * Smirnov statistic between each source's document-length distribution
    * and the whole corpus — the drift monitor that catches a source whose
    * scrape changed shape (truncation bug, new template) before it
    * poisons the mix. Exactness discipline: D = max|CDF_s − CDF_corpus|
    * is evaluated with INTEGER cross-multiplication (|c_s·N − c_g·n_s|
    * over the common value spine), so the max and its argmax value are
    * order-independent on both engines; only the one reported ratio is a
    * rounded double. Shape: two grouped aggregates over (value) and
    * (source, value) — both map-side combined — then windows over the
    * sources×values spine (dimension-sized, ~|sources|·|distinct lengths|
    * cells, never corpus rows). At 100 TB the corpus is scanned once and
    * everything downstream is aggregate-sized; with int128-free engines
    * the cross-product bound (n_s·N < 2⁶³) is kept by bucketing lengths.
    */
  def qKsDrift(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val docs = Tables.documents(s, dir).select(col("source"), col("n_chars"))
    // (source, value) cells and the global value cells — both tiny
    val sc = docs.groupBy(col("source"), col("n_chars")).agg(count(lit(1)).as("ca"))
    val g = docs.groupBy(col("n_chars")).agg(count(lit(1)).as("cg"))
    val na = docs.groupBy(col("source")).agg(count(lit(1)).as("n_a"))
    val tot = docs.agg(count(lit(1)).as("n_g"))
    // spine: every source × every observed value, with per-cell counts
    val spine = g.crossJoin(na.select(col("source")))
      .join(sc, Seq("source", "n_chars"), "left")
      .na.fill(0L, Seq("ca"))
    val w = Window.partitionBy(col("source")).orderBy(col("n_chars"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val x = spine
      .withColumn("cum_a", sum(col("ca")).over(w))
      .withColumn("cum_g", sum(col("cg")).over(w))
      .join(broadcast(na), Seq("source"))
      .crossJoin(broadcast(tot))
      .withColumn("diff", abs(col("cum_a") * col("n_g") - col("cum_g") * col("n_a")))
      .localCheckpoint()
    val m = x.groupBy(col("source"))
      .agg(max(col("n_a")).as("n_docs"), max(col("diff")).as("ks_num"),
        max(col("n_g")).as("n_g"))
    // argmax value = smallest length achieving the max diff (join-back,
    // deterministic under ties on both engines)
    m.as("m").join(x.select(col("source"), col("n_chars"), col("diff")).as("x"),
        col("m.source") === col("x.source") && col("m.ks_num") === col("x.diff"))
      .groupBy(col("m.source").as("source"))
      .agg(max(col("m.n_docs")).as("n_docs"),
        round(max(col("m.ks_num"))
          / (max(col("m.n_docs")) * max(col("m.n_g"))).cast("double"), 6).as("ks_stat"),
        min(col("x.n_chars")).as("at_value"))
      .orderBy(col("source"))
  }

  val qKsDriftOracle: String =
    """WITH d AS (SELECT source, n_chars FROM documents),
      |sc AS (SELECT source, n_chars, count(*) AS ca FROM d GROUP BY source, n_chars),
      |g AS (SELECT n_chars, count(*) AS cg FROM d GROUP BY n_chars),
      |na AS (SELECT source, count(*) AS n_a FROM d GROUP BY source),
      |tot AS (SELECT count(*) AS n_g FROM d),
      |spine AS (
      |  SELECT na.source, g.n_chars, g.cg, coalesce(sc.ca, 0) AS ca
      |  FROM g CROSS JOIN na
      |  LEFT JOIN sc ON sc.source = na.source AND sc.n_chars = g.n_chars
      |),
      |c AS (
      |  SELECT source, n_chars,
      |    sum(ca) OVER w AS cum_a,
      |    sum(cg) OVER w AS cum_g
      |  FROM spine
      |  WINDOW w AS (PARTITION BY source ORDER BY n_chars ROWS UNBOUNDED PRECEDING)
      |),
      |x AS (
      |  SELECT c.source, c.n_chars,
      |    abs(c.cum_a * tot.n_g - c.cum_g * na.n_a) AS diff, na.n_a, tot.n_g
      |  FROM c JOIN na ON na.source = c.source CROSS JOIN tot
      |),
      |m AS (
      |  SELECT source, max(n_a) AS n_docs, max(diff) AS ks_num, max(n_g) AS n_g
      |  FROM x GROUP BY source
      |)
      |SELECT m.source, max(m.n_docs) AS n_docs,
      |  round(max(m.ks_num) / CAST(max(m.n_docs) * max(m.n_g) AS DOUBLE), 6) AS ks_stat,
      |  min(x.n_chars) AS at_value
      |FROM m JOIN x ON x.source = m.source AND x.diff = m.ks_num
      |GROUP BY m.source
      |ORDER BY m.source""".stripMargin

  /** Mutual information between two categorical columns (source ×
    * lang): MI = Σ (c_xy/N)·ln(N·c_xy/(c_x·c_y)) — the dependence
    * audit that catches a leaking pipeline (language concentrated in
    * one source, split correlated with label) before training bakes it
    * in. Every per-cell term is computed from exact integer counts
    * (identical IEEE ops on both engines — the q_word_entropy parity
    * basis), and the cell-term SUM is decimal-stable (NumFns), so the
    * one reported scalar is bit-stable. One corpus scan → three
    * map-side-combined counts; everything after is dimension-sized
    * (|source|×|lang| cells).
    */
  def qMutualInfo(s: SparkSession, dir: String): DataFrame = {
    val d = Tables.documents(s, dir).select(col("source"), col("lang"))
    val xy = d.groupBy(col("source"), col("lang")).agg(count(lit(1)).as("cxy"))
    val cx = d.groupBy(col("source")).agg(count(lit(1)).as("cx"))
    val cy = d.groupBy(col("lang")).agg(count(lit(1)).as("cy"))
    val n = d.agg(count(lit(1)).as("n"))
    xy.join(broadcast(cx), Seq("source"))
      .join(broadcast(cy), Seq("lang"))
      .crossJoin(broadcast(n))
      .select((col("cxy") / col("n")
        * log(col("cxy") * col("n") / (col("cx") * col("cy")).cast("double"))).as("term"))
      .agg(count(lit(1)).as("n_cells"),
        graft.functions.NumFns.stableSum(col("term"), 6).as("mi_nats"))
  }

  val qMutualInfoOracle: String =
    s"""WITH d AS (SELECT source, lang FROM documents),
       |xy AS (SELECT source, lang, count(*) AS cxy FROM d GROUP BY source, lang),
       |cx AS (SELECT source, count(*) AS cx FROM d GROUP BY source),
       |cy AS (SELECT lang, count(*) AS cy FROM d GROUP BY lang),
       |n AS (SELECT count(*) AS n FROM d),
       |t AS (
       |  SELECT xy.cxy / n.n * ln(xy.cxy * n.n / CAST(cx.cx * cy.cy AS DOUBLE)) AS term
       |  FROM xy JOIN cx USING (source) JOIN cy USING (lang) CROSS JOIN n
       |)
       |SELECT count(*) AS n_cells,
       |  ${graft.functions.NumFns.stableSumSql("term", 6)} AS mi_nats
       |FROM t""".stripMargin

  /** Spearman rank correlation between document length and token count,
    * per source — the monotone-association profile that survives the
    * heavy tails Pearson chokes on (and, compared across sources, a
    * tokenizer-behavior drift signal). Exactness: tied values take the
    * AVERAGE rank (rank + (ties−1)/2 — a half-integer, exact in binary),
    * every Σr, Σr², Σr·r term is a decimal-stable sum of exactly-
    * representable quarter-integers, and the closed-form correlation is
    * then identical IEEE arithmetic on identical scalars. Shape: ranks
    * come from per-source sort windows (per-source bounded; the cells
    * rank-from-counts form from exactPercentiles is the 100 TB swap-in),
    * then one map-side-combined grouped sum per source.
    */
  def qSpearman(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val d = Tables.documents(s, dir)
      .select(col("source"), col("n_chars").cast("double").as("va"),
        size(TextFns.tokens(col("text"))).cast("double").as("vb"))
    def avgRank(v: String): Column =
      rank().over(Window.partitionBy(col("source")).orderBy(col(v))) +
        (count(lit(1)).over(Window.partitionBy(col("source"), col(v))) - 1) / lit(2.0)
    val ranked = d
      .withColumn("ra", avgRank("va"))
      .withColumn("rb", avgRank("vb"))
    ranked.groupBy(col("source"))
      .agg(count(lit(1)).as("n"),
        sum(col("ra").cast(Dec12)).as("sa"), sum(col("rb").cast(Dec12)).as("sb"),
        sum((col("ra") * col("ra")).cast(Dec12)).as("saa"),
        sum((col("rb") * col("rb")).cast(Dec12)).as("sbb"),
        sum((col("ra") * col("rb")).cast(Dec12)).as("sab"))
      .select(col("source"), col("n"),
        round(((col("n") * col("sab") - col("sa") * col("sb")) /
          (sqrt((col("n") * col("saa") - col("sa") * col("sa")).cast("double")) *
           sqrt((col("n") * col("sbb") - col("sb") * col("sb")).cast("double"))))
          .cast("double"), 6).as("spearman"))
      .orderBy(col("source"))
  }

  val qSpearmanOracle: String =
    s"""WITH d AS (
       |  SELECT source, CAST(n_chars AS DOUBLE) AS va,
       |    CAST(len(${TextFns.toksSql}) AS DOUBLE) AS vb
       |  FROM documents
       |),
       |r AS (
       |  SELECT source,
       |    rank() OVER (PARTITION BY source ORDER BY va)
       |      + (count(*) OVER (PARTITION BY source, va) - 1) / 2.0 AS ra,
       |    rank() OVER (PARTITION BY source ORDER BY vb)
       |      + (count(*) OVER (PARTITION BY source, vb) - 1) / 2.0 AS rb
       |  FROM d
       |),
       |a AS (
       |  SELECT source, count(*) AS n,
       |    sum(CAST(ra AS DECIMAL(38,12))) AS sa,
       |    sum(CAST(rb AS DECIMAL(38,12))) AS sb,
       |    sum(CAST(ra * ra AS DECIMAL(38,12))) AS saa,
       |    sum(CAST(rb * rb AS DECIMAL(38,12))) AS sbb,
       |    sum(CAST(ra * rb AS DECIMAL(38,12))) AS sab
       |  FROM r GROUP BY source
       |)
       |SELECT source, n,
       |  round(CAST((n * sab - sa * sb) /
       |    (sqrt(CAST(n * saa - sa * sa AS DOUBLE)) *
       |     sqrt(CAST(n * sbb - sb * sb AS DOUBLE))) AS DOUBLE), 6) AS spearman
       |FROM a
       |ORDER BY source""".stripMargin

  /** Gini concentration of token mass across documents, per source — is
    * a source's token budget spread evenly or dominated by a few huge
    * documents? (Feeds sampling and per-source cap decisions.) The
    * sorted-cumulative form G = 2·Σ(i·xᵢ)/(n·Σxᵢ) − (n+1)/n over
    * ascending xᵢ is INTEGER-exact until the final two divisions: ranks
    * are a deterministic (value, doc_id) sort, Σ(i·xᵢ) and Σxᵢ are
    * int64 sums. Per-source sort windows (bounded per source; at 100 TB
    * the same rank-from-counts cells replace the row sort).
    */
  def qGini(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val d = Tables.documents(s, dir)
      .select(col("doc_id"), col("source"),
        size(TextFns.tokens(col("text"))).cast("long").as("x"))
    val w = Window.partitionBy(col("source")).orderBy(col("x"), col("doc_id"))
    d.withColumn("i", row_number().over(w))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"), sum(col("x")).as("n_tokens"),
        sum(col("i") * col("x")).as("s1"))
      .select(col("source"), col("n_docs"), col("n_tokens"),
        round(lit(2.0) * col("s1") / (col("n_docs") * col("n_tokens")).cast("double")
          - (col("n_docs") + 1) / col("n_docs").cast("double"), 6).as("gini"))
      .orderBy(col("source"))
  }

  val qGiniOracle: String =
    s"""WITH d AS (
       |  SELECT doc_id, source, CAST(len(${TextFns.toksSql}) AS BIGINT) AS x
       |  FROM documents
       |),
       |r AS (
       |  SELECT source, x,
       |    row_number() OVER (PARTITION BY source ORDER BY x, doc_id) AS i
       |  FROM d
       |),
       |a AS (
       |  SELECT source, count(*) AS n_docs, CAST(sum(x) AS BIGINT) AS n_tokens,
       |    CAST(sum(i * x) AS BIGINT) AS s1
       |  FROM r GROUP BY source
       |)
       |SELECT source, n_docs, n_tokens,
       |  round(2.0 * s1 / CAST(n_docs * n_tokens AS DOUBLE)
       |    - (n_docs + 1) / CAST(n_docs AS DOUBLE), 6) AS gini
       |FROM a
       |ORDER BY source""".stripMargin

  /** Per-document type-token ratio (lexical diversity): distinct words ÷
    * total words, plus Guiraud's root-TTR (types ÷ √tokens, the
    * length-corrected form) — the repetition/diversity signal quality
    * filters read next to [[graft.operators.Curation]]'s n-gram
    * repetition rules (a spam doc repeating 10 words has TTR ≈ 0.01; a
    * natural doc sits far higher). One chain of two doc-keyed aggregates
    * — (doc, word) cells then per-doc rollup — both map-side combined,
    * shuffling the SAME key so AQE reuses the exchange; ratios are
    * exact-integer divisions evaluated once per doc.
    */
  def qTtr(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir)
      .select(col("doc_id"), explode(TextFns.tokens(col("text"))).as("word"))
      .groupBy(col("doc_id"), col("word")).agg(count(lit(1)).as("c"))
      .groupBy(col("doc_id"))
      .agg(sum(col("c")).as("n_tokens"), count(lit(1)).as("n_types"))
      .select(col("doc_id"), col("n_tokens"), col("n_types"),
        round(col("n_types") / col("n_tokens").cast("double"), 4).as("ttr"),
        round(col("n_types") / sqrt(col("n_tokens").cast("double")), 4).as("guiraud"))
      .orderBy(col("doc_id"))

  val qTtrOracle: String =
    s"""WITH toks AS (
       |  SELECT doc_id, unnest(${TextFns.toksSql}) AS word FROM documents
       |),
       |c AS (SELECT doc_id, word, count(*) AS c FROM toks GROUP BY doc_id, word)
       |SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_tokens, count(*) AS n_types,
       |  round(count(*) / CAST(sum(c) AS DOUBLE), 4) AS ttr,
       |  round(count(*) / sqrt(CAST(sum(c) AS DOUBLE)), 4) AS guiraud
       |FROM c GROUP BY doc_id
       |ORDER BY doc_id""".stripMargin

  /** Per-source hapax legomena share: the fraction of a source's
    * vocabulary that appears exactly ONCE in that source — high hapax
    * share flags OCR garbage / random-string pollution (every typo is a
    * new hapax), low share flags templated text (the same words cycle
    * forever); natural prose sits near 0.4-0.6. Same two-aggregate chain
    * as [[qTtr]] keyed by source, all counts exact integers.
    */
  def qHapax(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir)
      .select(col("source"), explode(TextFns.tokens(col("text"))).as("word"))
      .groupBy(col("source"), col("word")).agg(count(lit(1)).as("c"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_types"),
        sum(when(col("c") === 1, 1L).otherwise(0L)).as("n_hapax"))
      .select(col("source"), col("n_types"), col("n_hapax"),
        round(col("n_hapax") / col("n_types").cast("double"), 4).as("hapax_share"))
      .orderBy(col("source"))

  val qHapaxOracle: String =
    s"""WITH toks AS (
       |  SELECT source, unnest(${TextFns.toksSql}) AS word FROM documents
       |),
       |c AS (SELECT source, word, count(*) AS c FROM toks GROUP BY source, word)
       |SELECT source, count(*) AS n_types,
       |  CAST(sum(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_hapax,
       |  round(sum(CASE WHEN c = 1 THEN 1 ELSE 0 END) / CAST(count(*) AS DOUBLE), 4)
       |    AS hapax_share
       |FROM c GROUP BY source
       |ORDER BY source""".stripMargin

  /** Bootstrap resample count. 32 gives a ±1-rank-stable 5/95 interval
    * (ranks 2 and 31) — production raises it; the plan is unchanged.
    */
  val BootstrapB = 32

  /** Deterministic Poisson-bootstrap confidence interval for the mean
    * event value per event type — the error-bar machinery every metrics
    * report needs, in the only form a distributed engine should run it:
    * the POISSON bootstrap (each row enters resample b with a
    * Poisson(1)-distributed weight, so no resample needs a global
    * sampling pass) with CONTENT-ADDRESSED weights (a multiplicative
    * integer hash of (event_id, b) inverse-CDF-mapped to a count
    * through exact integer thresholds — every engine and every rerun
    * draws the identical resamples; md5 would also work but costs 30×
    * on the B-times-fanned stream). Shape: one scan fans each row to
    * [[BootstrapB]] lightweight (type, b, w, w·value) rows, map-side
    * combine collapses them to a types×B cell frame, resample means
    * are DECIMAL-stable, and the 5/95 interval is an exact rank pick
    * (2nd/31st of 32) via a window over the tiny cell frame.
    */
  def qBootstrapCi(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val e = Tables.events(s, dir)
      .select(col("event_id"), col("event_type"), col("value"))
    val fan = e.select(col("event_type"), col("value"),
        explode(sequence(lit(0L), lit(BootstrapB - 1L))).as("b"),
        col("event_id"))
      .withColumn("h",
        (col("event_id") * 2654435761L + col("b") * 40503L) % 1000003L % 1000L)
      .withColumn("w",
        when(col("h") < 368, 0L).when(col("h") < 736, 1L)
          .when(col("h") < 920, 2L).when(col("h") < 981, 3L)
          .when(col("h") < 996, 4L).otherwise(5L))
    // resample means via the quantized two-phase form (r4, the QuantAgg
    // trick): a DECIMAL(38,12) sum on the B-times-fanned stream was the
    // query's dominant cost — int64 micro-unit partials per
    // (type, b, salt) fold to exact DECIMAL(38,0) on the types×B×salts
    // frame instead (measured ~2× on the whole query)
    val cells = fan
      .groupBy(col("event_type"), col("b"),
        pmod(hash(col("event_id")), lit(64)).as("_salt"))
      .agg(sum(graft.functions.NumFns.roundAwayLong(
          col("w") * col("value") * 1e6)).as("pq"),
        sum(col("w")).as("pw"))
      .groupBy(col("event_type"), col("b"))
      .agg((sum(col("pq").cast(Dec0)).cast("double") / 1e6 / sum(col("pw")))
        .as("mean_b"))
    val wRank = Window.partitionBy(col("event_type"))
      .orderBy(col("mean_b"), col("b"))
    val ranked = cells.withColumn("rk", row_number().over(wRank))
    val point = e.groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"),
        graft.functions.NumFns.stableMean(col("value"), count(lit(1)), 6)
          .as("mean_value"))
    // portable round: a micro-unit-grid mean CAN land exactly on the
    // 6th-decimal boundary
    point.join(
        ranked.groupBy(col("event_type"))
          .agg(NumFns.roundPortable(
              min(when(col("rk") === 2, col("mean_b"))), 6).as("ci_lo"),
            NumFns.roundPortable(
              min(when(col("rk") === BootstrapB - 1, col("mean_b"))), 6)
              .as("ci_hi")),
        Seq("event_type"))
      .orderBy(col("event_type"))
  }

  val qBootstrapCiOracle: String =
    s"""WITH e AS (SELECT event_id, event_type, value FROM events),
       |fan AS (
       |  SELECT event_type, value,
       |    (event_id * 2654435761 + u.b * 40503) % 1000003 % 1000 AS h,
       |    u.b
       |  FROM e, unnest(range(0, $BootstrapB)) AS u(b)
       |),
       |wt AS (
       |  SELECT event_type, b, value,
       |    CASE WHEN h < 368 THEN 0 WHEN h < 736 THEN 1 WHEN h < 920 THEN 2
       |         WHEN h < 981 THEN 3 WHEN h < 996 THEN 4 ELSE 5 END AS w
       |  FROM fan
       |),
       |cells AS (
       |  SELECT event_type, b,
       |    CAST(sum(CAST(round(w * value * 1e6) AS BIGINT)) AS DOUBLE) / 1e6
       |      / CAST(sum(w) AS BIGINT) AS mean_b
       |  FROM wt GROUP BY event_type, b
       |),
       |r AS (
       |  SELECT event_type, mean_b,
       |    row_number() OVER (PARTITION BY event_type ORDER BY mean_b, b) AS rk
       |  FROM cells
       |),
       |ci AS (
       |  SELECT event_type,
       |    ${NumFns.roundPortableSql(s"min(CASE WHEN rk = 2 THEN mean_b END)", 6)} AS ci_lo,
       |    ${NumFns.roundPortableSql(s"min(CASE WHEN rk = ${BootstrapB - 1} THEN mean_b END)", 6)} AS ci_hi
       |  FROM r GROUP BY event_type
       |),
       |pt AS (
       |  SELECT event_type, count(*) AS n,
       |    ${graft.functions.NumFns.stableMeanSql("value", "count(*)", 6)} AS mean_value
       |  FROM e GROUP BY event_type
       |)
       |SELECT pt.event_type, pt.n, pt.mean_value, ci.ci_lo, ci.ci_hi
       |FROM pt JOIN ci USING (event_type)
       |ORDER BY event_type""".stripMargin

  /** Benford's-law leading-digit audit of `l_extendedprice` — the
    * classic "does this numeric column look organic?" data-quality
    * check (fabricated, truncated, or unit-mangled feeds bend the
    * first-digit curve long before summary stats move). Exactness: the
    * leading digit comes from the INTEGER cents value (exact
    * [[graft.functions.NumFns.roundAwayLong]] at ×100, then the first
    * character of the integer's decimal rendering — integers print
    * identically on every engine, unlike doubles), and the expected
    * Benford share log10(1+1/d) ships as a 6-dp literal table so
    * neither engine evaluates a transcendental. One scan + one
    * map-side-combined 9-cell aggregate; the observed share and the
    * deviation are divisions/subtractions on exact inputs, rounded
    * with the portable scaled-binary round.
    */
  private val BenfordExpected: Seq[Double] = Seq(
    0.301030, 0.176091, 0.124939, 0.096910, 0.079181,
    0.066947, 0.057992, 0.051153, 0.045757)

  def qBenford(s: SparkSession, dir: String): DataFrame = {
    val cents = NumFns.roundAwayLong(col("l_extendedprice") * 100)
    val digit = substring(cents.cast("string"), 1, 1).cast("int")
    val counted = Tables.lineitem(s, dir)
      .select(digit.as("digit"))
      .groupBy(col("digit"))
      .agg(count(lit(1)).as("n"))
    val tot = counted.agg(sum(col("n")).as("tot"))
    val expected = element_at(
      array(BenfordExpected.map(lit): _*), col("digit"))
    counted.crossJoin(broadcast(tot))
      .select(col("digit"), col("n"),
        NumFns.roundPortable(col("n") / col("tot"), 6).as("share"),
        expected.as("benford_share"),
        NumFns.roundPortable(col("n") / col("tot") - expected, 6).as("dev"))
      .orderBy(col("digit"))
  }

  val qBenfordOracle: String = {
    val caseExpr = BenfordExpected.zipWithIndex
      .map { case (e, i) => s"WHEN ${i + 1} THEN CAST($e AS DOUBLE)" }
      .mkString(" ")
    s"""WITH d AS (
       |  SELECT CAST(substr(CAST(CAST(round(l_extendedprice * 100) AS BIGINT) AS VARCHAR), 1, 1) AS INT) AS digit
       |  FROM lineitem
       |),
       |c AS (SELECT digit, count(*) AS n FROM d GROUP BY digit),
       |t AS (SELECT sum(n) AS tot FROM c),
       |e AS (SELECT digit, n, CASE digit $caseExpr END AS benford_share FROM c)
       |SELECT digit, n,
       |  ${NumFns.roundPortableSql("n / tot", 6)} AS share,
       |  benford_share,
       |  ${NumFns.roundPortableSql("n / tot - benford_share", 6)} AS dev
       |FROM e CROSS JOIN t
       |ORDER BY digit""".stripMargin
  }

  /** Per-source Jensen–Shannon divergence of the unigram word
    * distribution vs the whole corpus — the categorical drift twin of
    * [[qKsDrift]] (which compares a NUMERIC column): "which source
    * speaks a different language than the mix it feeds?" is the
    * pre-training audit that catches a crawl segment gone off-domain.
    * Math: with p = source distribution, q = corpus distribution and
    * m = (p+q)/2, the q-side sum over words ABSENT from the source
    * collapses to (1−coverage)·ln 2, so only (source, word-in-source)
    * cells are ever touched: JSD = ½Σp·ln(2p/(p+q)) + ½Σq·ln(2q/(p+q))
    * + ½(1−Σq)·ln2, normalized by ln 2 into [0,1] bits. Shape: one
    * corpus scan → (source, word) cells (map-side combined), word
    * totals by a second grouping of those same cells (vocabulary-sized,
    * never a rescan), source totals broadcast; per-cell terms are
    * identical scalar IEEE arithmetic on exact integer ratios and the
    * three per-source sums are decimal-cast (order-independent).
    */
  def qJsdDrift(s: SparkSession, dir: String): DataFrame = {
    val cells = Tables.documents(s, dir)
      .select(col("source"), explode(TextFns.tokens(col("text"))).as("word"))
      .groupBy(col("source"), col("word"))
      .agg(count(lit(1)).as("nsw"))
      .localCheckpoint() // feeds word totals AND the term join
    val wordTot = cells.groupBy(col("word")).agg(sum(col("nsw")).as("nw"))
    val srcTot = cells.groupBy(col("source")).agg(sum(col("nsw")).as("ns"))
    val corpusTot = wordTot.agg(sum(col("nw")).as("ntot"))
    val p = col("nsw") / col("ns")
    val q = col("nw") / col("ntot")
    val terms = cells
      .join(wordTot, Seq("word"))
      .join(broadcast(srcTot), Seq("source"))
      .crossJoin(broadcast(corpusTot))
      .select(col("source"),
        (p * log(lit(2.0) * p / (p + q))).cast(Dec12).as("tp"),
        (q * log(lit(2.0) * q / (p + q))).cast(Dec12).as("tq"),
        q.cast(Dec12).as("cov"))
    val ln2 = math.log(2.0)
    terms.groupBy(col("source"))
      .agg(count(lit(1)).as("n_words"),
        ((sum(col("tp")) * 0.5 + sum(col("tq")) * 0.5
          + (lit(1.0) - sum(col("cov"))) * (0.5 * ln2)) / ln2).cast("double").as("jsd"))
      .select(col("source"), col("n_words"),
        NumFns.roundPortable(col("jsd"), 6).as("jsd_bits"))
      .orderBy(col("source"))
  }

  val qJsdDriftOracle: String =
    s"""WITH toks AS (
       |  SELECT source, unnest(${TextFns.toksSql}) AS word
       |  FROM documents
       |),
       |cells AS (SELECT source, word, count(*) AS nsw FROM toks GROUP BY source, word),
       |wt AS (SELECT word, sum(nsw) AS nw FROM cells GROUP BY word),
       |st AS (SELECT source, sum(nsw) AS ns FROM cells GROUP BY source),
       |ct AS (SELECT sum(nw) AS ntot FROM wt),
       |terms AS (
       |  SELECT source,
       |    CAST((nsw / ns) * ln(2.0 * (nsw / ns) / ((nsw / ns) + (nw / ntot))) AS DECIMAL(38,12)) AS tp,
       |    CAST((nw / ntot) * ln(2.0 * (nw / ntot) / ((nsw / ns) + (nw / ntot))) AS DECIMAL(38,12)) AS tq,
       |    CAST(nw / ntot AS DECIMAL(38,12)) AS cov
       |  FROM cells JOIN wt USING (word) JOIN st USING (source) CROSS JOIN ct
       |),
       |agg AS (
       |  SELECT source, count(*) AS n_words,
       |    CAST((sum(tp) * 0.5 + sum(tq) * 0.5
       |      + (1.0 - sum(cov)) * (0.5 * ln(2.0))) / ln(2.0) AS DOUBLE) AS jsd
       |  FROM terms GROUP BY source
       |)
       |SELECT source, n_words, ${NumFns.roundPortableSql("jsd", 6)} AS jsd_bits
       |FROM agg
       |ORDER BY source""".stripMargin

  /** Two-arm moments of event `value` per `keys` group, the input of
    * every A/B test here: users split into arm 0 and arm 1 by user-id
    * parity; per arm the event count `n`, mean `m` and sample variance
    * `v`. Σx and Σx² are DECIMAL(38,12) sums (order-independent), each
    * cast to double once; v is the textbook (Σx² − n·m²)/(n − 1), fine
    * here because determinism, not extra precision, is what the
    * cross-engine gate needs. Returns `keys…, n0, n1, m0, m1, v0, v1`.
    */
  def armMoments(events: DataFrame, keys: String*): DataFrame = {
    def armCol(a: Int, c: String) = max(when(col("arm") === a, col(c)))
    val m0 = col("sx0") / col("n0")
    val m1 = col("sx1") / col("n1")
    events
      .groupBy(keys.map(col) :+ (col("user_id") % 2).as("arm"): _*)
      .agg(count(lit(1)).as("n"),
        sum(col("value").cast(Dec12)).as("sx"),
        sum((col("value") * col("value")).cast(Dec12)).as("sx2"))
      .groupBy(keys.map(col): _*)
      .agg(armCol(0, "n").as("n0"), armCol(0, "sx").cast("double").as("sx0"),
        armCol(0, "sx2").cast("double").as("sq0"),
        armCol(1, "n").as("n1"), armCol(1, "sx").cast("double").as("sx1"),
        armCol(1, "sx2").cast("double").as("sq1"))
      .select(keys.map(col) ++ Seq(col("n0"), col("n1"), m0.as("m0"), m1.as("m1"),
        ((col("sq0") - col("n0") * (m0 * m0)) / (col("n0") - 1)).as("v0"),
        ((col("sq1") - col("n1") * (m1 * m1)) / (col("n1") - 1)).as("v1")): _*)
  }

  /** SQL twin of [[armMoments]]: CTEs `a` and `w`, `w` holding `keys…,
    * n0, n1, m0, m1, v0, v1`; `from` must carry `user_id`, `value` and
    * the keys.
    */
  def armMomentsSql(from: String, keys: String*): String = {
    val k = keys.map(_ + ", ").mkString
    s"""a AS (
       |  SELECT ${k}user_id % 2 AS arm, count(*) AS n,
       |    sum(CAST(value AS DECIMAL(38,12))) AS sx,
       |    sum(CAST(value * value AS DECIMAL(38,12))) AS sx2
       |  FROM $from GROUP BY ALL
       |), w AS (
       |  SELECT ${k}n0, n1, sx0 / n0 AS m0, sx1 / n1 AS m1,
       |    (sq0 - n0 * ((sx0 / n0) * (sx0 / n0))) / (n0 - 1) AS v0,
       |    (sq1 - n1 * ((sx1 / n1) * (sx1 / n1))) / (n1 - 1) AS v1
       |  FROM (
       |    SELECT $k
       |      max(CASE WHEN arm = 0 THEN n END) AS n0,
       |      CAST(max(CASE WHEN arm = 0 THEN sx END) AS DOUBLE) AS sx0,
       |      CAST(max(CASE WHEN arm = 0 THEN sx2 END) AS DOUBLE) AS sq0,
       |      max(CASE WHEN arm = 1 THEN n END) AS n1,
       |      CAST(max(CASE WHEN arm = 1 THEN sx END) AS DOUBLE) AS sx1,
       |      CAST(max(CASE WHEN arm = 1 THEN sx2 END) AS DOUBLE) AS sq1
       |    FROM a GROUP BY ALL
       |  )
       |)""".stripMargin
  }

  /** Welch's two-sample t-test per event type — the experimentation
    * primitive (is arm B's metric different from arm A's?) with the
    * unequal-variance form that is the safe default. Arms are assigned
    * deterministically by user-id parity, so the test is reproducible
    * and the assignment is itself auditable. Exactness: the moments are
    * [[armMoments]]' identical doubles, so the t statistic and the
    * Welch–Satterthwaite df are identical scalar arithmetic on both
    * engines. Shape: one events scan, one map-side-combined
    * (event_type × arm) aggregate (≤ 2·types cells), arms pivoted by a
    * second tiny agg — no p-value column because the incomplete-beta
    * special function is not portable arithmetic; t and df are the
    * decision inputs.
    */
  def qWelchTtest(s: SparkSession, dir: String): DataFrame = {
    val se0 = col("v0") / col("n0")
    val se1 = col("v1") / col("n1")
    val t = (col("m0") - col("m1")) / sqrt(se0 + se1)
    val df = ((se0 + se1) * (se0 + se1)) /
      ((se0 * se0) / (col("n0") - 1) + (se1 * se1) / (col("n1") - 1))
    armMoments(Tables.events(s, dir), "event_type")
      .select(col("event_type"), col("n0"), col("n1"),
        NumFns.roundPortable(col("m0"), 4).as("mean0"),
        NumFns.roundPortable(col("m1"), 4).as("mean1"),
        NumFns.roundPortable(t, 4).as("t_stat"),
        NumFns.roundPortable(df, 2).as("welch_df"))
      .orderBy(col("event_type"))
  }

  val qWelchTtestOracle: String =
    s"""WITH ${armMomentsSql("events", "event_type")},
       |c AS (
       |  SELECT event_type, n0, n1, m0, m1, v0 / n0 AS se0, v1 / n1 AS se1
       |  FROM w
       |)
       |SELECT event_type, n0, n1,
       |  ${NumFns.roundPortableSql("m0", 4)} AS mean0,
       |  ${NumFns.roundPortableSql("m1", 4)} AS mean1,
       |  ${NumFns.roundPortableSql("(m0 - m1) / sqrt(se0 + se1)", 4)} AS t_stat,
       |  ${NumFns.roundPortableSql(
            "((se0 + se1) * (se0 + se1)) / ((se0 * se0) / (n0 - 1) + (se1 * se1) / (n1 - 1))", 2)} AS welch_df
       |FROM c
       |ORDER BY event_type""".stripMargin

  /** Bin count for [[qPsi]]'s length histogram (500-char buckets, last
    * bin open-ended). */
  val PsiBins = 10

  /** Population stability index of the document-length distribution
    * between the even-doc_id snapshot (reference) and the odd-doc_id
    * snapshot (current) — the industry-standard drift gate (PSI < 0.1
    * stable, > 0.25 shifted) complementing `q_jsd_drift` (vocabulary)
    * and `q_ks_drift` (distribution shape): PSI = Σ (p_cur − p_ref) ·
    * ln(p_cur / p_ref) over fixed bins, Laplace-smoothed so empty bins
    * contribute finitely. Shape: one scan-side binning projection, a
    * bins-sized cell aggregate, and the full bin domain generated by
    * `sequence` so both engines smooth the SAME bins; every ratio is an
    * exact rational of integers and the ln terms are DECIMAL-summed.
    */
  def qPsi(s: SparkSession, dir: String): DataFrame = {
    val binned = Tables.documents(s, dir)
      .select(least(floor(col("n_chars") / 500), lit(PsiBins - 1)).as("bin"),
        (col("doc_id") % 2 === 0).as("is_ref"))
      .groupBy(col("bin"))
      .agg(sum(when(col("is_ref"), 1L).otherwise(0L)).as("n_ref"),
        sum(when(col("is_ref"), 0L).otherwise(1L)).as("n_cur"))
    // full bin domain so missing bins smooth identically on both engines
    val domain = s.range(0, PsiBins).select(col("id").as("bin"))
    val cells = domain.join(binned, Seq("bin"), "left")
      .select(col("bin"),
        coalesce(col("n_ref"), lit(0L)).as("n_ref"),
        coalesce(col("n_cur"), lit(0L)).as("n_cur"))
    val tot = cells.agg(sum(col("n_ref")).as("tr"), sum(col("n_cur")).as("tc"))
    val terms = cells.crossJoin(broadcast(tot))
      .select(col("bin"), col("n_ref"), col("n_cur"),
        ((col("n_ref") + 1) / (col("tr") + PsiBins).cast("double")).as("p_ref"),
        ((col("n_cur") + 1) / (col("tc") + PsiBins).cast("double")).as("p_cur"))
      .select(col("bin"), col("n_ref"), col("n_cur"),
        NumFns.roundPortable(col("p_ref"), 6).as("p_ref"),
        NumFns.roundPortable(col("p_cur"), 6).as("p_cur"),
        ((col("p_cur") - col("p_ref")) * log(col("p_cur") / col("p_ref")))
          .cast(Dec12).as("term"))
    val total = terms.agg(sum(col("term")).as("t"))
    terms.crossJoin(broadcast(total))
      .select(col("bin"), col("n_ref"), col("n_cur"), col("p_ref"), col("p_cur"),
        NumFns.roundPortable(col("term").cast("double"), 6).as("psi_contrib"),
        NumFns.roundPortable(col("t").cast("double"), 6).as("psi_total"))
      .orderBy(col("bin"))
  }

  val qPsiOracle: String =
    s"""WITH b AS (
       |  SELECT least(CAST(floor(n_chars / 500) AS BIGINT), ${PsiBins - 1}) AS bin,
       |    doc_id % 2 = 0 AS is_ref
       |  FROM documents
       |),
       |c0 AS (
       |  SELECT bin,
       |    sum(CASE WHEN is_ref THEN 1 ELSE 0 END) AS n_ref,
       |    sum(CASE WHEN is_ref THEN 0 ELSE 1 END) AS n_cur
       |  FROM b GROUP BY bin
       |),
       |dom AS (SELECT unnest(range(0, $PsiBins)) AS bin),
       |cells AS (
       |  SELECT dom.bin, COALESCE(n_ref, 0) AS n_ref, COALESCE(n_cur, 0) AS n_cur
       |  FROM dom LEFT JOIN c0 ON c0.bin = dom.bin
       |),
       |t AS (SELECT sum(n_ref) AS tr, sum(n_cur) AS tc FROM cells),
       |p AS (
       |  SELECT bin, n_ref, n_cur,
       |    (n_ref + 1) / CAST(tr + $PsiBins AS DOUBLE) AS p_ref,
       |    (n_cur + 1) / CAST(tc + $PsiBins AS DOUBLE) AS p_cur
       |  FROM cells CROSS JOIN t
       |),
       |terms AS (
       |  SELECT bin, n_ref, n_cur,
       |    ${NumFns.roundPortableSql("p_ref", 6)} AS p_ref,
       |    ${NumFns.roundPortableSql("p_cur", 6)} AS p_cur,
       |    CAST((p_cur - p_ref) * ln(p_cur / p_ref) AS DECIMAL(38,12)) AS term
       |  FROM p
       |),
       |tt AS (SELECT sum(term) AS t FROM terms)
       |SELECT bin, CAST(n_ref AS BIGINT) AS n_ref, CAST(n_cur AS BIGINT) AS n_cur, p_ref, p_cur,
       |  ${NumFns.roundPortableSql("CAST(term AS DOUBLE)", 6)} AS psi_contrib,
       |  ${NumFns.roundPortableSql("CAST(t AS DOUBLE)", 6)} AS psi_total
       |FROM terms CROSS JOIN tt
       |ORDER BY bin""".stripMargin

  /** Per-source dataset card — the one-row-per-source summary a corpus
    * release ships: volumes (docs/tokens/chars), language breadth and
    * English share, exact duplicate rate (via the normalized content
    * fingerprint), and the hash-stable mean quality score. One scan
    * computes every per-document feature; the aggregation groups by
    * source with map-side combine. The two exact count-distincts
    * (languages, fingerprints) plan one Expand over the scan —
    * `approx_count_distinct` is the single-pass 100 TB swap-in, and the
    * mean uses the DECIMAL-sum form so the card is bit-reproducible
    * across runs and layouts.
    */
  def qDatasetCard(s: SparkSession, dir: String): DataFrame = {
    val scored = Curation.withQuality(Tables.documents(s, dir))
      .withColumn("fp", md5(TextFns.normalized(col("text"))))
    scored
      .groupBy(col("source"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(col("n_tokens").cast("long")).as("n_tokens"),
        sum(col("n_chars")).as("n_chars"),
        countDistinct(col("lang")).as("n_langs"),
        sum((col("lang") === "en").cast("long")).as("en_docs"),
        countDistinct(col("fp")).as("n_unique"),
        NumFns.stableMean(col("score"), count(lit(1)), 4).as("mean_quality"))
      .select(col("source"), col("n_docs"), col("n_tokens"), col("n_chars"),
        col("n_langs"),
        NumFns.roundPortable(col("en_docs") / col("n_docs").cast("double"), 6)
          .as("en_share"),
        NumFns.roundPortable(
          lit(1.0) - col("n_unique") / col("n_docs").cast("double"), 6)
          .as("dup_rate"),
        col("mean_quality"))
      .orderBy(col("source"))
  }

  val qDatasetCardOracle: String =
    s"""WITH f AS (
       |  ${Curation.qualityFeaturesSql}
       |),
       |sc AS (
       |  SELECT doc_id, n_tokens,
       |    1.0 / (1.0 + exp(-(${Curation.qualityZSql}))) AS score
       |  FROM f
       |),
       |d AS (
       |  SELECT d.source, d.lang, d.n_chars, sc.n_tokens, sc.score,
       |    md5(${TextFns.normalizedSql("d.text")}) AS fp
       |  FROM documents d JOIN sc ON d.doc_id = sc.doc_id
       |),
       |g AS (
       |  SELECT source, count(*) AS n_docs,
       |    CAST(sum(n_tokens) AS BIGINT) AS n_tokens,
       |    CAST(sum(n_chars) AS BIGINT) AS n_chars,
       |    count(DISTINCT lang) AS n_langs,
       |    CAST(sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS BIGINT) AS en_docs,
       |    count(DISTINCT fp) AS n_unique,
       |    ${NumFns.stableMeanSql("score", "count(*)", 4)} AS mean_quality
       |  FROM d GROUP BY source
       |)
       |SELECT source, n_docs, n_tokens, n_chars, n_langs,
       |  ${NumFns.roundPortableSql("en_docs / CAST(n_docs AS DOUBLE)", 6)} AS en_share,
       |  ${NumFns.roundPortableSql("1.0 - n_unique / CAST(n_docs AS DOUBLE)", 6)} AS dup_rate,
       |  mean_quality
       |FROM g
       |ORDER BY source""".stripMargin

  /** Mann–Whitney U (Wilcoxon rank-sum) per event type — the
    * nonparametric complement to [[qWelchTtest]]: does arm B's value
    * distribution stochastically dominate arm A's, without assuming
    * normality (event values are heavy-tailed, where the t-test's mean
    * is the wrong summary). Arms by user-id parity, as in the t-test.
    *
    * Shape — rank-from-counts, NEVER a per-arm sort over raw rows (the
    * q_percent_rank discipline): one scan collapses to (event_type,
    * value) cells carrying `cnt` and `cnt1` (arm-1 multiplicity); the
    * midrank of every cell is cum_before + (cnt+1)/2 from a running sum
    * over the CELL frame (bounded by distinct values, not rows); R₁ is
    * then Σ midrank·cnt1. Exactness: midranks are integer halves and
    * every product stays < 2⁵³, so the double sums are EXACT in any
    * accumulation order — no decimal cast needed, deterministic by
    * construction. The tie-corrected normal approximation
    * z = (U₁ − n₁n₂/2) / σ, σ² = n₁n₂/12·((n+1) − Σ(t³−t)/(n(n−1))),
    * is then scalar arithmetic on identical integers on both engines.
    * At 100 TB: the only shuffle carries value cells; ranks never
    * materialize on raw rows.
    */
  def qMannWhitney(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val cells = Tables.events(s, dir)
      .select(col("event_type"), col("value"),
        (col("user_id") % 2).as("arm"))
      .groupBy(col("event_type"), col("value"))
      .agg(count(lit(1)).cast("double").as("cnt"),
        sum(when(col("arm") === 1, 1L).otherwise(0L)).cast("double")
          .as("cnt1"))
    val w = Window.partitionBy(col("event_type")).orderBy(col("value"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val ranked = cells.withColumn("cum_before",
      coalesce(sum(col("cnt")).over(w), lit(0.0)))
    val byType = ranked.groupBy(col("event_type"))
      .agg(sum(col("cnt")).as("n"), sum(col("cnt1")).as("n1"),
        sum((col("cum_before") + (col("cnt") + 1.0) / 2.0) * col("cnt1"))
          .as("r1"),
        sum(col("cnt") * col("cnt") * col("cnt") - col("cnt")).as("ties"))
    val n2 = col("n") - col("n1")
    val u1 = col("r1") - col("n1") * (col("n1") + 1.0) / 2.0
    val sigma2 = col("n1") * n2 / 12.0 *
      ((col("n") + 1.0) - col("ties") / (col("n") * (col("n") - 1.0)))
    val z = (u1 - col("n1") * n2 / 2.0) / sqrt(sigma2)
    byType.select(col("event_type"),
        col("n1").cast("long").as("n1"), n2.cast("long").as("n2"),
        u1.as("u1"), NumFns.roundPortable(z, 4).as("z_stat"))
      .orderBy(col("event_type"))
  }

  val qMannWhitneyOracle: String =
    s"""WITH cells AS (
       |  SELECT event_type, value,
       |    CAST(count(*) AS DOUBLE) AS cnt,
       |    CAST(sum(CASE WHEN user_id % 2 = 1 THEN 1 ELSE 0 END) AS DOUBLE)
       |      AS cnt1
       |  FROM events GROUP BY event_type, value
       |),
       |rk AS (
       |  SELECT event_type, cnt, cnt1,
       |    coalesce(sum(cnt) OVER (PARTITION BY event_type ORDER BY value
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0.0)
       |      AS cum_before
       |  FROM cells
       |),
       |t AS (
       |  SELECT event_type, sum(cnt) AS n, sum(cnt1) AS n1,
       |    sum((cum_before + (cnt + 1.0) / 2.0) * cnt1) AS r1,
       |    sum(cnt * cnt * cnt - cnt) AS ties
       |  FROM rk GROUP BY event_type
       |)
       |SELECT event_type,
       |  CAST(n1 AS BIGINT) AS n1, CAST(n - n1 AS BIGINT) AS n2,
       |  r1 - n1 * (n1 + 1.0) / 2.0 AS u1,
       |  ${NumFns.roundPortableSql(
             "(r1 - n1 * (n1 + 1.0) / 2.0 - n1 * (n - n1) / 2.0) / " +
             "sqrt(n1 * (n - n1) / 12.0 * ((n + 1.0) - ties / (n * (n - 1.0))))",
             4)} AS z_stat
       |FROM t ORDER BY event_type""".stripMargin

  /** Per-group OLS fit (price ~ quantity per return flag): slope,
    * intercept and R² from the five classical moments — the regression
    * companion to [[qSpearman]]/q_corr. Exactness: x·y and x² are
    * deterministic row-local IEEE products; ALL five moment sums go
    * through DECIMAL(38,12), are cast to double ONCE, and β̂/α̂/R² are
    * then identical scalar arithmetic on identical doubles on both
    * engines — the same discipline as qWelchTtest. Shape: one fact
    * scan, one map-side-combined aggregate into ≤|flags| cells; nothing
    * else moves. At 100 TB this is a pure scan-side reduction.
    */
  def qOlsFit(s: SparkSession, dir: String): DataFrame = {
    val m = Tables.lineitem(s, dir)
      .select(col("l_returnflag"), col("l_quantity").as("x"),
        col("l_extendedprice").as("y"))
      .groupBy(col("l_returnflag"))
      .agg(count(lit(1)).cast("double").as("n"), TextAnalysis.momentSums: _*)
    val covN = col("sxy") - col("sx") * col("sy") / col("n")
    val varX = col("sxx") - col("sx") * col("sx") / col("n")
    val varY = col("syy") - col("sy") * col("sy") / col("n")
    val slope = covN / varX
    m.select(col("l_returnflag"), col("n").cast("long").as("n_rows"),
        NumFns.roundPortable(slope, 6).as("slope"),
        NumFns.roundPortable(
          (col("sy") - slope * col("sx")) / col("n"), 4).as("intercept"),
        NumFns.roundPortable(covN * covN / (varX * varY), 6).as("r2"))
      .orderBy(col("l_returnflag"))
  }

  val qOlsFitOracle: String =
    s"""WITH m AS (
       |  SELECT l_returnflag, CAST(count(*) AS DOUBLE) AS n,
       |    ${TextAnalysis.momentSumsSql}
       |  FROM (SELECT l_returnflag, l_quantity AS x, l_extendedprice AS y FROM lineitem)
       |  GROUP BY l_returnflag
       |)
       |SELECT l_returnflag, CAST(n AS BIGINT) AS n_rows,
       |  ${NumFns.roundPortableSql(
            "(sxy - sx * sy / n) / (sxx - sx * sx / n)", 6)} AS slope,
       |  ${NumFns.roundPortableSql(
            "(sy - (sxy - sx * sy / n) / (sxx - sx * sx / n) * sx) / n", 4)}
       |    AS intercept,
       |  ${NumFns.roundPortableSql(
            "(sxy - sx * sy / n) * (sxy - sx * sy / n) / " +
            "((sxx - sx * sx / n) * (syy - sy * sy / n))", 6)} AS r2
       |FROM m ORDER BY l_returnflag""".stripMargin

  /** z quantiles for [[qPowerAnalysis]]: α=0.05 two-sided and 80 %
    * power — the textbook constants, spelled to double precision so both
    * engines hold the identical literals. */
  val ZAlpha = 1.959963984540054
  val ZBeta = 0.8416212335729143

  /** A/B power analysis from observed data — "how many users would the
    * NEXT experiment need": per event type, the observed arm difference
    * is the minimum detectable effect candidate, the pooled variance
    * comes from the same [[armMoments]] cells as q_welch_ttest,
    * and n = 2σ²(z_α+z_β)²/δ² per arm (α=.05 two-sided, 80 % power) with
    * Cohen's d = δ/σ as the standardized effect. Planning and post-hoc
    * read in one pass: one events scan → ≤2·types cells → types rows.
    * All constants are exact double literals; n is ceiled to an integer
    * so the output is render-identical by construction.
    */
  def qPowerAnalysis(s: SparkSession, dir: String): DataFrame = {
    val pooled = ((col("n0") - 1) * col("v0") + (col("n1") - 1) * col("v1")) /
      (col("n0") + col("n1") - 2)
    val delta = abs(col("m1") - col("m0"))
    val z2 = (ZAlpha + ZBeta) * (ZAlpha + ZBeta)
    armMoments(Tables.events(s, dir), "event_type").select(col("event_type"),
        NumFns.roundPortable(delta, 6).as("observed_delta"),
        NumFns.roundPortable(sqrt(pooled), 6).as("pooled_sd"),
        NumFns.roundPortable(delta / sqrt(pooled), 6).as("cohens_d"),
        ceil(lit(2.0) * pooled * z2 / (delta * delta)).cast("long")
          .as("n_per_arm"))
      .orderBy(col("event_type"))
  }

  val qPowerAnalysisOracle: String = {
    val z2 = s"(($ZAlpha + $ZBeta) * ($ZAlpha + $ZBeta))"
    s"""WITH ${armMomentsSql("events", "event_type")},
       |c AS (
       |  SELECT event_type, abs(m1 - m0) AS delta,
       |    ((n0 - 1) * v0 + (n1 - 1) * v1) / (n0 + n1 - 2) AS pooled
       |  FROM w
       |)
       |SELECT event_type,
       |  ${NumFns.roundPortableSql("delta", 6)} AS observed_delta,
       |  ${NumFns.roundPortableSql("sqrt(pooled)", 6)} AS pooled_sd,
       |  ${NumFns.roundPortableSql("delta / sqrt(pooled)", 6)} AS cohens_d,
       |  CAST(ceil(2.0 * pooled * $z2 / (delta * delta)) AS BIGINT)
       |    AS n_per_arm
       |FROM c
       |ORDER BY event_type""".stripMargin
  }

  /** k for the [[qKAnonymity]] re-identification threshold. */
  val AnonK = 5

  /** k-anonymity / l-diversity audit of the customer table — the
    * privacy gate a dataset release runs BEFORE the quality gates:
    * quasi-identifier = (market segment, nation, account-balance
    * kilo-band); a customer in a QI group smaller than k is
    * re-identifiable, and a group whose sensitive attribute (the order
    * priorities the customer uses) is uniform leaks it even at size ≥ k
    * (l-diversity). Reported per segment: group count, at-risk groups
    * and customers, the minimum group size, and the minimum sensitive
    * diversity among safe groups. Shape: one customer⋈orders join
    * (orders pruned to two columns), a QI-grouped aggregate
    * (countDistinct over custkey and priority ride the same grouped
    * frame), then a ≤|segments| rollup — integer everywhere, one share
    * division.
    */
  def qKAnonymity(s: SparkSession, dir: String): DataFrame = {
    val qi = Tables.customer(s, dir)
      .join(Tables.orders(s, dir)
        .select(col("o_custkey"), col("o_orderpriority")),
        col("c_custkey") === col("o_custkey"), "left")
      .select(col("c_mktsegment").as("segment"), col("c_nationkey"),
        floor(col("c_acctbal") / 1000.0).cast("long").as("bal_band"),
        col("c_custkey"), col("o_orderpriority"))
    val groups = qi.groupBy(col("segment"), col("c_nationkey"),
        col("bal_band"))
      .agg(countDistinct(col("c_custkey")).as("gsize"),
        countDistinct(col("o_orderpriority")).as("l_div"))
    groups.groupBy(col("segment"))
      .agg(count(lit(1)).as("n_groups"),
        sum(when(col("gsize") < AnonK, 1L).otherwise(0L))
          .as("groups_at_risk"),
        sum(when(col("gsize") < AnonK, col("gsize")).otherwise(0L))
          .as("customers_at_risk"),
        sum(col("gsize")).as("n_customers"),
        min(col("gsize")).as("min_group"),
        min(when(col("gsize") >= AnonK, col("l_div"))).as("min_l_safe"))
      .select(col("segment"), col("n_groups"), col("groups_at_risk"),
        col("customers_at_risk"), col("min_group"), col("min_l_safe"),
        NumFns.roundPortable(
          col("customers_at_risk").cast("double") / col("n_customers"), 6)
          .as("share_at_risk"))
      .orderBy(col("segment"))
  }

  val qKAnonymityOracle: String =
    s"""WITH qi AS (
       |  SELECT c_mktsegment AS segment, c_nationkey,
       |    CAST(floor(c_acctbal / 1000.0) AS BIGINT) AS bal_band,
       |    c_custkey, o_orderpriority
       |  FROM customer LEFT JOIN orders ON c_custkey = o_custkey
       |),
       |g AS (
       |  SELECT segment, c_nationkey, bal_band,
       |    count(DISTINCT c_custkey) AS gsize,
       |    count(DISTINCT o_orderpriority) AS l_div
       |  FROM qi GROUP BY 1, 2, 3
       |)
       |SELECT segment, count(*) AS n_groups,
       |  CAST(sum(CASE WHEN gsize < $AnonK THEN 1 ELSE 0 END) AS BIGINT)
       |    AS groups_at_risk,
       |  CAST(sum(CASE WHEN gsize < $AnonK THEN gsize ELSE 0 END) AS BIGINT)
       |    AS customers_at_risk,
       |  min(gsize) AS min_group,
       |  min(CASE WHEN gsize >= $AnonK THEN l_div END) AS min_l_safe,
       |  ${NumFns.roundPortableSql(
            "sum(CASE WHEN gsize < " + AnonK + " THEN gsize ELSE 0 END) / " +
            "CAST(sum(gsize) AS DOUBLE)", 6)} AS share_at_risk
       |FROM g GROUP BY segment
       |ORDER BY segment""".stripMargin

  /** One-way ANOVA across sources on document length — the k-group
    * generalization of [[qWelchTtest]]'s two arms: does source identity
    * explain length variance? F = (SSB/(k−1))/(SSW/(n−k)) plus η² =
    * SSB/(SSB+SSW) (effect size). Exactness: n_chars is an INTEGER, so
    * per-group Σx and Σx² are exact int64 sums; the only double terms
    * are the per-group sx²/n_g ratios, each a deterministic scalar of
    * exact integers, and their across-group sum goes through
    * DECIMAL(38,12) so group order can't move F. Shape: one corpus
    * scan → ≤|sources| cells → one 1-row reduction. Scan-side at any
    * scale.
    */
  def qAnova(s: SparkSession, dir: String): DataFrame = {
    val g = Tables.documents(s, dir)
      .groupBy(col("source"))
      .agg(count(lit(1)).as("ng"),
        sum(col("n_chars")).as("sx"),
        sum(col("n_chars") * col("n_chars")).as("sxx"))
    val t = g.agg(count(lit(1)).as("k"), sum(col("ng")).as("n"),
        sum(col("sx")).as("s"), sum(col("sxx")).as("q"),
        sum((col("sx").cast("double") * col("sx") / col("ng")).cast(Dec12))
          .cast("double").as("t"))
    val ssb = col("t") - col("s").cast("double") * col("s") / col("n")
    val ssw = col("q").cast("double") - col("t")
    t.select(col("k"), col("n"),
        NumFns.roundPortable(
          (ssb / (col("k") - 1.0)) / (ssw / (col("n") - col("k"))), 4)
          .as("f_stat"),
        NumFns.roundPortable(ssb / (ssb + ssw), 6).as("eta_sq"))
  }

  val qAnovaOracle: String =
    s"""WITH g AS (
       |  SELECT source, count(*) AS ng,
       |    CAST(sum(n_chars) AS BIGINT) AS sx,
       |    CAST(sum(n_chars * n_chars) AS BIGINT) AS sxx
       |  FROM documents GROUP BY source
       |),
       |t AS (
       |  SELECT count(*) AS k, CAST(sum(ng) AS BIGINT) AS n,
       |    CAST(sum(sx) AS BIGINT) AS s, CAST(sum(sxx) AS BIGINT) AS q,
       |    CAST(sum(CAST(CAST(sx AS DOUBLE) * sx / ng AS DECIMAL(38,12)))
       |      AS DOUBLE) AS t
       |  FROM g
       |)
       |SELECT k, n,
       |  ${NumFns.roundPortableSql(
            "((t - CAST(s AS DOUBLE) * s / n) / (k - 1.0)) / " +
            "((CAST(q AS DOUBLE) - t) / (n - k))", 4)} AS f_stat,
       |  ${NumFns.roundPortableSql(
            "(t - CAST(s AS DOUBLE) * s / n) / " +
            "(t - CAST(s AS DOUBLE) * s / n + CAST(q AS DOUBLE) - t)", 6)}
       |    AS eta_sq
       |FROM t""".stripMargin

  /** Top-order-statistic count for [[qTailIndex]]'s Hill estimator. */
  val HillK = 100

  /** Hill tail-index estimate of the document-length distribution per
    * source — α̂ = k / Σᵢ ln(x₍ᵢ₎/x₍ₖ₎) over the top-k order statistics.
    * Heavy-tail exponents decide truncation/packing policy (α ≤ 2 means
    * unbounded variance: expect extreme outliers forever; α > 3 means
    * a few caps suffice) — the principled version of q_length_outliers'
    * MAD cut. Shape: the top-k per source comes from a row_number window
    * that Spark prunes with a map-side WindowGroupLimit — the exchange
    * carries ≤ k rows per source per task, never the corpus; x₍ₖ₎ is a
    * per-source aggregate of that k-row frame joined back by broadcast
    * (sources-sized). Determinism: lengths are
    * integers with a total (length, doc_id) tie order, so the top-k SET
    * is identical on both engines; ln of an integer ratio follows the
    * round-gap discipline (4 decimals) like every other transcendental
    * in the suite.
    */
  def qTailIndex(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("source"))
      .orderBy(col("n_chars").desc, col("doc_id"))
    val topk = Tables.documents(s, dir)
      .select(col("source"), col("doc_id"), col("n_chars"))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= HillK)
    val xk = topk.groupBy(col("source"))
      .agg(min(col("n_chars")).as("xk"), count(lit(1)).as("k"))
    topk.join(broadcast(xk), Seq("source"))
      .groupBy(col("source"))
      .agg(max(col("k")).as("k"), max(col("xk")).as("x_k"),
        sum(log(col("n_chars").cast("double") / col("xk"))).as("s"))
      .select(col("source"), col("k"), col("x_k"),
        when(col("s") > 0.0,
          NumFns.roundPortable(col("k") / col("s"), 4)).as("hill_alpha"))
      .orderBy(col("source"))
  }

  val qTailIndexOracle: String =
    s"""WITH r AS (
       |  SELECT source, doc_id, n_chars,
       |    row_number() OVER (PARTITION BY source
       |      ORDER BY n_chars DESC, doc_id) AS rn
       |  FROM documents
       |),
       |topk AS (SELECT source, n_chars FROM r WHERE rn <= $HillK),
       |xk AS (
       |  SELECT source, min(n_chars) AS xk, count(*) AS k
       |  FROM topk GROUP BY source
       |),
       |a AS (
       |  SELECT t.source, max(k) AS k, max(xk) AS x_k,
       |    sum(ln(CAST(n_chars AS DOUBLE) / xk)) AS s
       |  FROM topk t JOIN xk USING (source)
       |  GROUP BY t.source
       |)
       |SELECT source, k, x_k,
       |  CASE WHEN s > 0.0 THEN ${NumFns.roundPortableSql("k / s", 4)} END
       |    AS hill_alpha
       |FROM a ORDER BY source""".stripMargin

  /** FDR level for [[qBhFdr]]. */
  val BhAlpha = 0.05

  /** Benjamini–Hochberg FDR control over a battery of simultaneous
    * tests — the multiple-comparisons gate the per-test machinery
    * (q_welch_ttest, q_ab_conversion) needs before anyone acts on 25
    * p-values at once: per (event_type, cohort) a Welch z for the
    * arm-parity split, p = erfc(|z|/√2) ([[NumFns.normTwoSidedP]]), then
    * the step-up rule — rank tests by significance, k* = max{i : p_i ≤
    * i·α/m}, reject ranks ≤ k*. Cohort = (user_id div 2) mod 5 so it is
    * independent of the parity arm by construction. Cross-engine
    * discipline: ranking is by |z| (bit-identical IEEE arithmetic —
    * never by p, whose libm `exp` may differ in the last ulp), p is
    * emitted rounded, and the step-up comparison has the measure-zero
    * boundary argument. Shape: one events scan → ≤ types·cohorts·2
    * moment cells; every window runs over the 25-row test frame.
    */
  /** The shared simultaneous-test battery consumed by [[qBhFdr]] and
    * [[qHolmBonferroni]] (one definition, two correction procedures):
    * per (event_type, cohort) a Welch z for the arm-parity split of
    * event values, p = erfc(|z|/√2). One events scan → ≤
    * types·cohorts·2 moment cells; the returned frame is ≤25 rows.
    */
  private def testBattery(s: SparkSession, dir: String): DataFrame = {
    val z = (col("m1") - col("m0")) /
      sqrt(col("v0") / col("n0") + col("v1") / col("n1"))
    armMoments(Tables.events(s, dir).withColumn("cohort", expr("(user_id div 2) % 5")),
        "event_type", "cohort")
      .select(col("event_type"), col("cohort"), z.as("z"))
      .withColumn("p", NumFns.normTwoSidedP(col("z")))
  }

  /** Oracle twin of [[testBattery]]: CTE chain ending in
    * `sc(event_type, cohort, z, p)`.
    */
  private val testBatterySql: String =
    s"""${armMomentsSql("(SELECT *, (user_id // 2) % 5 AS cohort FROM events)",
            "event_type", "cohort")}, sc0 AS (
       |  SELECT event_type, cohort,
       |    (m1 - m0) / sqrt(v0 / n0 + v1 / n1) AS z
       |  FROM w
       |), sc AS (
       |  SELECT event_type, cohort, z, ${NumFns.normTwoSidedPSql("z")} AS p
       |  FROM sc0
       |)""".stripMargin

  /** Ranks a test frame `(keys*, z, p)` by |z| — bit-identical on both
    * engines, never by p — with ties by the keys: adds `rnk` and the
    * test count `m`.
    */
  private def rankTests(tests: DataFrame, keys: String*): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    tests
      .withColumn("rnk", row_number().over(
        Window.orderBy(abs(col("z")).desc +: keys.map(col): _*)).cast("long"))
      .withColumn("m", count(lit(1)).over(Window.partitionBy()))
  }

  /** SQL twin of [[rankTests]]: CTE `r` over `src`, with `more` columns. */
  private def rankTestsSql(src: String, keys: String, more: String*): String =
    s"""r AS (
       |  SELECT *,
       |    CAST(row_number() OVER (ORDER BY abs(z) DESC, $keys) AS BIGINT) AS rnk,
       |    CAST(count(*) OVER () AS BIGINT) AS m${more.map(",\n    " + _).mkString}
       |  FROM $src
       |)""".stripMargin

  /** The BH step-up over ranked tests: `k_star` = max{rnk : p ≤
    * rnk·α/`scaledM`} (the test count, or π̂₀·m for the adaptive form).
    */
  private def stepUp(ranked: DataFrame, scaledM: Column): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    ranked.withColumn("k_star", coalesce(max(when(
      col("p") <= col("rnk") * BhAlpha / scaledM, col("rnk"))).over(Window.partitionBy()), lit(0L)))
  }

  /** The BH report of a test frame `(keys*, z, p)`: z rounded at
    * `zDigits`, p, rank and the step-up verdict, in rank order.
    */
  private def bhReport(tests: DataFrame, zDigits: Int, keys: String*): DataFrame =
    stepUp(rankTests(tests, keys: _*), col("m"))
      .select(keys.map(col) ++ Seq(NumFns.roundPortable(col("z"), zDigits).as("z"),
        NumFns.roundPortable(col("p"), 6).as("p_value"),
        col("rnk"), (col("rnk") <= col("k_star")).as("significant")): _*)
      .orderBy(col("rnk"))

  /** SQL twin of [[bhReport]] over the test CTE `src`: CTEs and the
    * final SELECT.
    */
  private def bhReportSql(src: String, zDigits: Int, keys: String): String =
    s"""${rankTestsSql(src, keys)},
       |${stepUpSql("r", "m")}
       |SELECT $keys,
       |  ${NumFns.roundPortableSql("z", zDigits)} AS z,
       |  ${NumFns.roundPortableSql("p", 6)} AS p_value,
       |  rnk, (rnk <= k_star) AS significant
       |FROM f
       |ORDER BY rnk""".stripMargin

  /** SQL twin of [[stepUp]]: CTE `f` over `src`. */
  private def stepUpSql(src: String, scaledM: String): String =
    s"""f AS (
       |  SELECT *, coalesce(max(CASE WHEN p <= rnk * $BhAlpha / $scaledM
       |    THEN rnk END) OVER (), 0) AS k_star
       |  FROM $src
       |)""".stripMargin

  def qBhFdr(s: SparkSession, dir: String): DataFrame =
    bhReport(testBattery(s, dir), 6, "event_type", "cohort")

  val qBhFdrOracle: String =
    s"WITH $testBatterySql, ${bhReportSql("sc", 6, "event_type, cohort")}"

  /** Holm–Bonferroni step-DOWN correction over the SAME
    * [[testBattery]] frame q_bh_fdr steps UP on — the FWER-controlling
    * sibling (BH controls the false-discovery RATE; Holm bounds the
    * probability of even one false positive, the right gate when a
    * single wrong launch is costly). Reject the ordered tests while
    * p_(i) ≤ α/(m−i+1); the first failure stops everything after it.
    * Cross-engine discipline inherited from the battery: rank by |z|
    * (bit-identical), p only ever compared against thresholds away
    * from its libm-exp ulp. Shape: the battery is one scan → ≤25
    * cells; both corrections are windows over that 25-row frame.
    */
  def qHolmBonferroni(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val wAll = Window.partitionBy()
    rankTests(testBattery(s, dir), "event_type", "cohort")
      .withColumn("fail", col("p") > lit(BhAlpha) / (col("m") - col("rnk") + 1))
      .withColumn("k_star",
        coalesce(min(when(col("fail"), col("rnk"))).over(wAll) - 1, col("m")))
      .select(col("event_type"), col("cohort"),
        NumFns.roundPortable(col("z"), 6).as("z"),
        NumFns.roundPortable(col("p"), 6).as("p_value"),
        NumFns.roundPortable(lit(BhAlpha) / (col("m") - col("rnk") + 1), 8)
          .as("alpha_i"),
        col("rnk"), (col("rnk") <= col("k_star")).as("significant"))
      .orderBy(col("rnk"))
  }

  val qHolmBonferroniOracle: String =
    s"""WITH $testBatterySql, ${rankTestsSql("sc", "event_type, cohort")}, f AS (
       |  SELECT *, coalesce(min(CASE WHEN p > $BhAlpha / (m - rnk + 1)
       |    THEN rnk END) OVER () - 1, m) AS k_star
       |  FROM r
       |)
       |SELECT event_type, cohort,
       |  ${NumFns.roundPortableSql("z", 6)} AS z,
       |  ${NumFns.roundPortableSql("p", 6)} AS p_value,
       |  ${NumFns.roundPortableSql(s"$BhAlpha / (m - rnk + 1)", 8)}
       |    AS alpha_i,
       |  rnk, (rnk <= k_star) AS significant
       |FROM f
       |ORDER BY rnk""".stripMargin

  /** Cronbach's alpha internal-consistency coefficient over three
    * per-document English-ness "items" (stopword permille, type-token
    * permille, short-word permille) — the scale-reliability read a
    * labeling pipeline needs before averaging heuristic subscores into
    * one quality number: α near 1 says the items measure one construct,
    * near 0 says averaging them is noise. α = k/(k−1)·(1 − Σᵢσ²ᵢ/σ²ₜ).
    * Exactness: every item is an integer permille, so all item and
    * total moments are exact DECIMAL(38,0)/HUGEINT sums; each variance
    * numerator clears its denominator (n·Σx² − (Σx)²) in integer space
    * and the shared n·(n−1) scale CANCELS in the ratio — α is a single
    * division of two exact integers. Shape: one corpus scan → one
    * 8-number moment row. Scan-side at any scale.
    */
  def qCronbachAlpha(s: SparkSession, dir: String): DataFrame = {
    val base = TextAnalysis.tokenDocs(s, dir)
      .select(
        TextFns.stopScore(col("toks"), 1000).as("i1"),
        floor(lit(1000L) * size(array_distinct(col("toks")))
          / size(col("toks"))).as("i2"),
        floor(lit(1000L) * size(filter(col("toks"), t => length(t) <= 3))
          / size(col("toks"))).as("i3"))
      .withColumn("t", col("i1") + col("i2") + col("i3"))
    val m = base.agg(count(lit(1)).cast(Dec0).as("n"),
      sum(col("i1").cast(Dec0)).as("s1"),
      sum(col("i1").cast(Dec0) * col("i1")).as("q1"),
      sum(col("i2").cast(Dec0)).as("s2"),
      sum(col("i2").cast(Dec0) * col("i2")).as("q2"),
      sum(col("i3").cast(Dec0)).as("s3"),
      sum(col("i3").cast(Dec0) * col("i3")).as("q3"),
      sum(col("t").cast(Dec0)).as("st"),
      sum(col("t").cast(Dec0) * col("t")).as("qt"))
    def va(q: String, sc: String) =
      col("n") * col(q) - col(sc) * col(sc)
    val sumItems = (va("q1", "s1") + va("q2", "s2") + va("q3", "s3"))
      .cast("double")
    val vt = va("qt", "st").cast("double")
    m.select(col("n").cast("long").as("n_docs"), lit(3L).as("k_items"),
      NumFns.roundPortable(
        lit(1.5) * (lit(1.0) - sumItems / vt), 6).as("cronbach_alpha"))
  }

  val qCronbachAlphaOracle: String =
    s"""WITH t AS (
       |  SELECT ${TextFns.toksSql} AS toks FROM documents
       |),
       |it AS (
       |  SELECT
       |    ${TextFns.stopScoreSql(1000)} AS i1,
       |    CAST(floor(1000 * len(list_distinct(toks)) / len(toks))
       |      AS BIGINT) AS i2,
       |    CAST(floor(1000 * len(list_filter(toks, x -> len(x) <= 3))
       |      / len(toks)) AS BIGINT) AS i3
       |  FROM t WHERE len(toks) > 0
       |),
       |w AS (SELECT i1, i2, i3, i1 + i2 + i3 AS tt FROM it),
       |m AS (
       |  SELECT CAST(count(*) AS HUGEINT) AS n,
       |    sum(CAST(i1 AS HUGEINT)) AS s1, sum(CAST(i1 AS HUGEINT) * i1) AS q1,
       |    sum(CAST(i2 AS HUGEINT)) AS s2, sum(CAST(i2 AS HUGEINT) * i2) AS q2,
       |    sum(CAST(i3 AS HUGEINT)) AS s3, sum(CAST(i3 AS HUGEINT) * i3) AS q3,
       |    sum(CAST(tt AS HUGEINT)) AS st, sum(CAST(tt AS HUGEINT) * tt) AS qt
       |  FROM w
       |)
       |SELECT CAST(n AS BIGINT) AS n_docs, CAST(3 AS BIGINT) AS k_items,
       |  ${NumFns.roundPortableSql(
            "1.5 * (1.0 - CAST((n * q1 - s1 * s1) + (n * q2 - s2 * s2)"
              + " + (n * q3 - s3 * s3) AS DOUBLE)"
              + " / CAST(n * qt - st * st AS DOUBLE))", 6)}
       |    AS cronbach_alpha
       |FROM m""".stripMargin

  /** Permutations drawn by [[qPermutationTest]]. */
  val PermB = 200

  /** Year pair compared by [[qPermutationTest]]. */
  val PermYears: (Int, Int) = (1996, 1997)

  /** Permutation test of the daily-revenue mean difference between two
    * years — the assumption-free answer q_welch_ttest approximates: is
    * the observed |mean₁−mean₂| large against the null where year
    * labels are exchangeable? [[PermB]] pseudo-random relabelings of
    * the day frame, each a DETERMINISTIC md5-prefix hash of (perm id,
    * day index) — the same content-addressed assignment discipline as
    * the splits/q_ab_conversion, so both engines draw the identical
    * permutations and the p-value is exact-reproducible. p = (1 + #{
    * |diff_b| ≥ |diff_obs|})/(B+1) (the add-one Monte-Carlo convention).
    * Exactness: revenue stays integer cents; every permuted mean is a
    * ratio of exact integers and the ≥ compare runs on bit-identical
    * doubles. Shape: the fact table collapses to the ≤730-row day
    * frame ONCE; the B-fold expansion is days×B ≈ 146k cells —
    * calendar-bounded, independent of corpus size.
    */
  def qPermutationTest(s: SparkSession, dir: String): DataFrame = {
    val (y1, y2) = PermYears
    val days = Tables.orders(s, dir)
      .filter(year(to_date(col("o_orderdate"))).isin(y1, y2))
      .groupBy(datediff(to_date(col("o_orderdate")), lit("1992-01-01")).as("di"),
        (year(to_date(col("o_orderdate"))) === y2).as("late"))
      .agg(sum(NumFns.roundAwayLong(col("o_totalprice") * 100)).as("yc"))
    def diffOf(df: DataFrame, armCol: Column): DataFrame =
      df.groupBy()
        .agg(
          sum(when(armCol, col("yc"))).as("sa"),
          sum(when(armCol, 1L)).as("na"),
          sum(when(!armCol, col("yc"))).as("sb"),
          sum(when(!armCol, 1L)).as("nb"))
        .select(
          when(col("na").isNotNull && col("nb").isNotNull,
            abs(col("sa").cast("double") / col("na")
              - col("sb").cast("double") / col("nb")) / 100.0).as("d"))
    val obs = diffOf(days, col("late"))
    val perms = days.crossJoin(
        broadcast(s.range(1, PermB + 1).select(col("id").as("b"))))
      .withColumn("arm",
        TextFns.hash28(concat(lit("pt:"), col("b").cast("string"),
          lit(":"), col("di").cast("string"))) % 2 === 0)
      .groupBy(col("b"))
      .agg(
        sum(when(col("arm"), col("yc"))).as("sa"),
        sum(when(col("arm"), 1L)).as("na"),
        sum(when(!col("arm"), col("yc"))).as("sb"),
        sum(when(!col("arm"), 1L)).as("nb"))
      .select(col("b"),
        when(col("na").isNotNull && col("nb").isNotNull,
          abs(col("sa").cast("double") / col("na")
            - col("sb").cast("double") / col("nb")) / 100.0).as("d"))
    perms.crossJoin(broadcast(obs.select(col("d").as("obs"))))
      .agg(count(lit(1)).as("n_perms"),
        sum(when(col("d") >= col("obs"), 1L).otherwise(0L)).as("n_ge"),
        max(col("obs")).as("obs"))
      .select(col("n_perms"), col("n_ge"),
        NumFns.roundPortable(col("obs"), 4).as("obs_diff"),
        NumFns.roundPortable(
          (col("n_ge") + 1).cast("double") / (col("n_perms") + 1), 6)
          .as("p_value"))
  }

  val qPermutationTestOracle: String = {
    val (y1, y2) = PermYears
    s"""WITH days AS (
       |  SELECT date_diff('day', DATE '1992-01-01', CAST(o_orderdate AS DATE))
       |      AS di,
       |    year(CAST(o_orderdate AS DATE)) = $y2 AS late,
       |    CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
       |      AS yc
       |  FROM orders
       |  WHERE year(CAST(o_orderdate AS DATE)) IN ($y1, $y2)
       |  GROUP BY 1, 2
       |),
       |obs AS (
       |  SELECT abs(
       |    CAST(sum(CASE WHEN late THEN yc END) AS DOUBLE)
       |      / sum(CASE WHEN late THEN 1 END)
       |    - CAST(sum(CASE WHEN NOT late THEN yc END) AS DOUBLE)
       |      / sum(CASE WHEN NOT late THEN 1 END)) / 100.0 AS obs
       |  FROM days
       |),
       |pe AS (
       |  SELECT b,
       |    ${TextFns.hash28Sql("'pt:' || b || ':' || di")} % 2 = 0 AS arm,
       |    yc
       |  FROM days CROSS JOIN
       |    (SELECT unnest(range(1, ${PermB + 1})) AS b)
       |),
       |pd AS (
       |  SELECT b, abs(
       |    CAST(sum(CASE WHEN arm THEN yc END) AS DOUBLE)
       |      / sum(CASE WHEN arm THEN 1 END)
       |    - CAST(sum(CASE WHEN NOT arm THEN yc END) AS DOUBLE)
       |      / sum(CASE WHEN NOT arm THEN 1 END)) / 100.0 AS d
       |  FROM pe GROUP BY b
       |)
       |SELECT count(*) AS n_perms,
       |  CAST(sum(CASE WHEN d >= obs THEN 1 ELSE 0 END) AS BIGINT) AS n_ge,
       |  ${NumFns.roundPortableSql("max(obs)", 4)} AS obs_diff,
       |  ${NumFns.roundPortableSql(
            "(CAST(sum(CASE WHEN d >= obs THEN 1 ELSE 0 END) AS BIGINT) + 1)"
              + " / CAST(count(*) + 1 AS DOUBLE)", 6)} AS p_value
       |FROM pd CROSS JOIN obs""".stripMargin
  }

  /** Each document's absolute length deviation from its source's
    * median: `(source, med, adev)`.
    */
  def medianDeviations(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir).select(col("source"), col("n_chars"))
    val med = Analytics.exactPercentiles(docs, "source", "n_chars",
      Seq(0.5 -> "med"))
    docs.join(broadcast(med), Seq("source"))
      .select(col("source"), col("med"),
        abs(col("n_chars") - col("med")).as("adev"))
  }

  /** SQL twin of [[medianDeviations]]: CTEs `med` and `dev`. */
  val medianDeviationsSql: String =
    s"""med AS (
       |  SELECT source, round(quantile_cont(n_chars, 0.5), 4) AS med
       |  FROM documents GROUP BY source
       |),
       |dev AS (
       |  SELECT d.source, abs(d.n_chars - m.med) AS adev, m.med
       |  FROM documents d JOIN med m ON d.source = m.source
       |)""".stripMargin

  /** Robust per-source outlier detection on document length via
    * median/MAD — the companion to q_anomaly_zscore's mean/stddev gate:
    * one pathological 100 MB document shifts a source's mean and stddev
    * enough to mask OTHER outliers (masking), while the median and the
    * median absolute deviation have a 50% breakdown point. Flag
    * |x − med| > 3 · 1.4826 · MAD (1.4826 = 1/Φ⁻¹(3/4) makes MAD a
    * consistent σ estimate under normality). Shape at 100 TB: both
    * medians come from [[Analytics.exactPercentilesMulti]]'s
    * rank-from-CELLS machinery — the corpus collapses to per-(source,
    * length) cells first, so the order statistics cost value-domain
    * work; the med/MAD frame (one row per source) broadcasts back for
    * the final one-scan outlier count. Determinism: med/MAD are emitted
    * rounded (both engines share the quantile_cont definition), the
    * threshold compare runs on identical doubles.
    */
  def qMadOutliers(s: SparkSession, dir: String): DataFrame = {
    val dev = medianDeviations(s, dir)
    val mad = Analytics.exactPercentiles(
      dev.select(col("source"), col("adev")), "source", "adev",
      Seq(0.5 -> "mad"))
    dev.join(broadcast(mad), Seq("source"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        max(col("med")).as("med"),
        max(col("mad")).as("mad"),
        sum((col("adev") > lit(3.0) * 1.4826 * col("mad")).cast("long"))
          .as("n_out"))
      .select(col("source"), col("n_docs"), col("med"), col("mad"),
        col("n_out"),
        NumFns.roundPortable(col("n_out").cast("double") / col("n_docs"), 6)
          .as("out_rate"))
      .orderBy(col("source"))
  }

  val qMadOutliersOracle: String =
    s"""WITH $medianDeviationsSql,
       |mad AS (
       |  SELECT source, round(quantile_cont(adev, 0.5), 4) AS mad
       |  FROM dev GROUP BY source
       |)
       |SELECT dev.source, count(*) AS n_docs, max(dev.med) AS med,
       |  max(mad.mad) AS mad,
       |  CAST(sum(CASE WHEN adev > 3.0 * 1.4826 * mad.mad
       |    THEN 1 ELSE 0 END) AS BIGINT) AS n_out,
       |  ${NumFns.roundPortableSql(
            "CAST(sum(CASE WHEN adev > 3.0 * 1.4826 * mad.mad " +
            "THEN 1 ELSE 0 END) AS DOUBLE) / count(*)", 6)} AS out_rate
       |FROM dev JOIN mad ON dev.source = mad.source
       |GROUP BY dev.source
       |ORDER BY dev.source""".stripMargin

  /** Brown–Forsythe (median-based Levene) test of variance homogeneity
    * across sources on document length — the PRECONDITION check for
    * every pooled-variance consumer in the suite (q_anova's F,
    * q_welch_ttest's alternative, the power analysis): heteroscedastic
    * groups silently invalidate a classic ANOVA, and the median-centered
    * Brown–Forsythe variant keeps the check itself robust to the
    * heavy-tailed lengths. W = ((N−k)/(k−1))·Σn_j(z̄_j−z̄)²/ΣΣ(z_ij−z̄_j)²
    * over z = |x − med_j|. Shape: group medians via the rank-from-cells
    * percentile machinery (value-domain), one broadcast-back scan for
    * the z moments (DECIMAL-stable sums per source), the W closed form
    * over the |sources| frame. Determinism: medians emit rounded on
    * both engines; z moments are order-free decimal sums; W is one
    * double chain.
    */
  def qLevene(s: SparkSession, dir: String): DataFrame = {
    val z = medianDeviations(s, dir).select(col("source"), col("adev").as("z"))
    val grp = z.groupBy(col("source"))
      .agg(count(lit(1)).as("nj"),
        sum(col("z").cast(Dec12)).as("sz"),
        sum((col("z") * col("z")).cast(Dec12)).as("szz"))
    // within-SS per group: Σz² − (Σz)²/n_j ; between from group means
    val tot = grp.agg(
      count(lit(1)).as("k"), sum(col("nj")).as("n"),
      sum(col("sz")).as("szt"))
    val joined = grp.crossJoin(broadcast(tot))
      .withColumn("mj", col("sz").cast("double") / col("nj"))
      .withColumn("mg", col("szt").cast("double") / col("n"))
      .withColumn("between",
        (col("nj") * (col("mj") - col("mg")) * (col("mj") - col("mg")))
          .cast(Dec12))
      .withColumn("within",
        (col("szz").cast("double")
          - col("sz").cast("double") * col("sz").cast("double") / col("nj"))
          .cast(Dec12))
    joined.groupBy(col("k"), col("n"))
      .agg(sum(col("between")).cast("double").as("ssb"),
        sum(col("within")).cast("double").as("ssw"))
      .select(col("k").as("n_sources"), col("n").as("n_docs"),
        NumFns.roundPortable(
          (col("n") - col("k")).cast("double") / (col("k") - 1)
            * (col("ssb") / col("ssw")), 6).as("bf_stat"))
  }

  val qLeveneOracle: String =
    s"""WITH $medianDeviationsSql,
       |z AS (SELECT source, adev AS z FROM dev),
       |grp AS (
       |  SELECT source, count(*) AS nj,
       |    sum(CAST(z AS DECIMAL(38,12))) AS sz,
       |    sum(CAST(z * z AS DECIMAL(38,12))) AS szz
       |  FROM z GROUP BY source
       |),
       |tot AS (
       |  SELECT count(*) AS k, CAST(sum(nj) AS BIGINT) AS n, sum(sz) AS szt
       |  FROM grp
       |),
       |j AS (
       |  SELECT k, n,
       |    CAST(nj * (CAST(sz AS DOUBLE) / nj - CAST(szt AS DOUBLE) / n)
       |      * (CAST(sz AS DOUBLE) / nj - CAST(szt AS DOUBLE) / n)
       |      AS DECIMAL(38,12)) AS between,
       |    CAST(CAST(szz AS DOUBLE)
       |      - CAST(sz AS DOUBLE) * CAST(sz AS DOUBLE) / nj
       |      AS DECIMAL(38,12)) AS within
       |  FROM grp, tot
       |)
       |SELECT k AS n_sources, n AS n_docs,
       |  ${NumFns.roundPortableSql(
            "CAST(n - k AS DOUBLE) / (k - 1) * " +
            "(CAST(sum(between) AS DOUBLE) / CAST(sum(within) AS DOUBLE))",
            6)} AS bf_stat
       |FROM j GROUP BY k, n""".stripMargin

  /** χ² critical value at α = 0.05, df = 19 (20 sources − 1). */
  val MoodsCrit19 = 30.14352720564616

  /** Mood's median test across sources on document length — the robust
    * k-sample location test beside q_anova's mean-based F: counts above
    * vs at-or-below the GRAND lower median per source and one χ² over
    * the 2×k table; a single pathological giant document cannot move
    * the statistic, where it drags ANOVA's sums of squares directly.
    * Exactness discipline: the grand median is the exact lower order
    * statistic from VALUE CELLS (an integer — no interpolation, so the
    * above/below split is an integer comparison on both engines);
    * expected counts are single divisions of exact integers; χ² sums as
    * DECIMAL. Shape: two cell-frame passes (global median, per-source
    * split counts) — value-domain work only.
    */
  def qMoodsMedian(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir).select(col("source"), col("n_chars"))
    // grand LOWER median from value cells: smallest value whose running
    // count reaches ceil(N/2)
    val cells = docs.groupBy(col("n_chars")).agg(count(lit(1)).as("c"))
    val wv = org.apache.spark.sql.expressions.Window.orderBy(col("n_chars"))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
        org.apache.spark.sql.expressions.Window.currentRow)
    val wAll = org.apache.spark.sql.expressions.Window.partitionBy()
    val med = cells
      .withColumn("cum", sum(col("c")).over(wv))
      .withColumn("nn", sum(col("c")).over(wAll))
      .filter(col("cum") >= ceil(col("nn") / lit(2.0)))
      .agg(min(col("n_chars")).as("gmed"))
    val split = docs.crossJoin(broadcast(med))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum((col("n_chars") > col("gmed")).cast("long")).as("n_above"))
    val tot = split.agg(sum(col("n_docs")).as("nt"),
      sum(col("n_above")).as("at"))
    val joined = split.crossJoin(broadcast(tot))
      .withColumn("e_above",
        col("n_docs").cast("double") * col("at") / col("nt"))
      .withColumn("e_below",
        col("n_docs").cast("double") * (col("nt") - col("at")) / col("nt"))
      .withColumn("term",
        ((col("n_above") - col("e_above")) * (col("n_above") - col("e_above"))
          / col("e_above"))
          + ((col("n_docs") - col("n_above") - col("e_below"))
            * (col("n_docs") - col("n_above") - col("e_below"))
            / col("e_below")))
    joined
      .withColumn("chi2",
        sum(col("term").cast(Dec12)).over(wAll).cast("double"))
      .select(col("source"), col("n_docs"), col("n_above"),
        NumFns.roundPortable(
          col("n_above").cast("double") / col("n_docs"), 6).as("share_above"),
        NumFns.roundPortable(col("chi2"), 6).as("chi2"),
        (col("chi2") > MoodsCrit19).as("significant"))
      .orderBy(col("source"))
  }

  val qMoodsMedianOracle: String =
    s"""WITH cells AS (
       |  SELECT n_chars, count(*) AS c FROM documents GROUP BY n_chars
       |),
       |md AS (
       |  SELECT min(n_chars) AS gmed FROM (
       |    SELECT n_chars,
       |      sum(c) OVER (ORDER BY n_chars
       |        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
       |      sum(c) OVER () AS nn
       |    FROM cells
       |  ) WHERE cum >= ceil(nn / 2.0)
       |),
       |sp AS (
       |  SELECT source, count(*) AS n_docs,
       |    CAST(sum(CASE WHEN n_chars > gmed THEN 1 ELSE 0 END) AS BIGINT)
       |      AS n_above
       |  FROM documents, md GROUP BY source
       |),
       |tot AS (
       |  SELECT CAST(sum(n_docs) AS BIGINT) AS nt,
       |    CAST(sum(n_above) AS BIGINT) AS at FROM sp
       |),
       |tm AS (
       |  SELECT source, n_docs, n_above,
       |    (n_above - CAST(n_docs AS DOUBLE) * at / nt)
       |      * (n_above - CAST(n_docs AS DOUBLE) * at / nt)
       |      / (CAST(n_docs AS DOUBLE) * at / nt)
       |    + ((n_docs - n_above) - CAST(n_docs AS DOUBLE) * (nt - at) / nt)
       |      * ((n_docs - n_above) - CAST(n_docs AS DOUBLE) * (nt - at) / nt)
       |      / (CAST(n_docs AS DOUBLE) * (nt - at) / nt) AS term
       |  FROM sp, tot
       |),
       |f AS (
       |  SELECT source, n_docs, n_above,
       |    CAST(sum(CAST(term AS DECIMAL(38,12))) OVER () AS DOUBLE) AS chi2
       |  FROM tm
       |)
       |SELECT source, n_docs, n_above,
       |  ${NumFns.roundPortableSql("CAST(n_above AS DOUBLE) / n_docs", 6)}
       |    AS share_above,
       |  ${NumFns.roundPortableSql("chi2", 6)} AS chi2,
       |  (chi2 > $MoodsCrit19) AS significant
       |FROM f
       |ORDER BY source""".stripMargin

  /** Kendall tau-b rank correlation between the monthly order-count and
    * monthly revenue series — the third rank-association measure beside
    * q_corr (Pearson, linear) and q_spearman (rank, but tie-fragile):
    * tau-b counts concordant/discordant PAIRS with explicit tie
    * normalization, so it is exact integer arithmetic end to end — no
    * midrank averaging, no moment accumulation — and robust to the
    * monotone-but-nonlinear relation between volume and revenue. Shape
    * at 100 TB: the fact table collapses to per-month (count,
    * revenue-cents) cells first (map-side combined, |months| rows);
    * the O(M²) pair classification runs as a broadcast self-join of
    * that ≤100-row frame (≤5k pairs). Every count is exact; the only
    * double is the final normalized ratio.
    */
  def qKendallTau(s: SparkSession, dir: String): DataFrame = {
    val monthly = Tables.orders(s, dir)
      .groupBy((year(col("o_orderdate")) * 12 + month(col("o_orderdate")))
        .cast("long").as("mth"))
      .agg(count(lit(1)).as("x"),
        sum(NumFns.roundAwayLong(col("o_totalprice") * 100)).as("y"))
    val a = monthly.select(col("mth").as("ma"), col("x").as("xa"), col("y").as("ya"))
    val b = monthly.select(col("mth").as("mb"), col("x").as("xb"), col("y").as("yb"))
    val pairs = a.join(broadcast(b), col("ma") < col("mb"))
      .select(
        signum(col("xa") - col("xb")).as("sx"),
        signum(col("ya") - col("yb")).as("sy"))
    pairs.agg(
        count(lit(1)).as("n0"),
        sum((col("sx") * col("sy") > 0).cast("long")).as("concordant"),
        sum((col("sx") * col("sy") < 0).cast("long")).as("discordant"),
        sum((col("sx") === 0).cast("long")).as("ties_x"),
        sum((col("sy") === 0).cast("long")).as("ties_y"))
      .select(col("n0"), col("concordant"), col("discordant"),
        col("ties_x"), col("ties_y"),
        NumFns.roundPortable(
          (col("concordant") - col("discordant")).cast("double")
            / (sqrt((col("n0") - col("ties_x")).cast("double"))
              * sqrt((col("n0") - col("ties_y")).cast("double"))), 6)
          .as("tau_b"))
  }

  val qKendallTauOracle: String =
    s"""WITH monthly AS (
       |  SELECT CAST(year(o_orderdate) * 12 + month(o_orderdate) AS BIGINT)
       |      AS mth,
       |    count(*) AS x,
       |    CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS y
       |  FROM orders GROUP BY 1
       |), p AS (
       |  SELECT sign(a.x - b.x) AS sx, sign(a.y - b.y) AS sy
       |  FROM monthly a JOIN monthly b ON a.mth < b.mth
       |), ag AS (
       |  SELECT count(*) AS n0,
       |    CAST(sum(CASE WHEN sx * sy > 0 THEN 1 ELSE 0 END) AS BIGINT)
       |      AS concordant,
       |    CAST(sum(CASE WHEN sx * sy < 0 THEN 1 ELSE 0 END) AS BIGINT)
       |      AS discordant,
       |    CAST(sum(CASE WHEN sx = 0 THEN 1 ELSE 0 END) AS BIGINT) AS ties_x,
       |    CAST(sum(CASE WHEN sy = 0 THEN 1 ELSE 0 END) AS BIGINT) AS ties_y
       |  FROM p
       |)
       |SELECT n0, concordant, discordant, ties_x, ties_y,
       |  ${NumFns.roundPortableSql(
            "CAST(concordant - discordant AS DOUBLE) / " +
            "(sqrt(CAST(n0 - ties_x AS DOUBLE)) * " +
            "sqrt(CAST(n0 - ties_y AS DOUBLE)))", 6)} AS tau_b
       |FROM ag""".stripMargin

  /** Simpson's-paradox audit of the discount→quantity association: the
    * pooled Pearson correlation vs the within-stratum correlations (by
    * returnflag) — when a stratum's sign disagrees with the pooled sign,
    * any "discounts drive volume" conclusion read off the pooled number
    * is an aggregation artifact, the canonical trap of analyzing a
    * merged 100 TB corpus without conditioning on the mixture variable.
    * One scan computes BOTH levels: per-stratum moment cells (six
    * DECIMAL sums each, map-side combined) roll up to the pooled moments
    * by re-aggregation of the ≤3-row cell frame — the fact table is
    * never read twice. Determinism: decimal moments are order-free; the
    * correlation divisions run on identical doubles; flip flags compare
    * exact signs of rounded values.
    */
  def qSimpson(s: SparkSession, dir: String): DataFrame = {
    val cells = Tables.lineitem(s, dir)
      .groupBy(col("l_returnflag"))
      .agg(count(lit(1)).as("n"),
        sum(col("l_discount").cast(Dec12)).as("sx"),
        sum(col("l_quantity").cast(Dec12)).as("sy"),
        sum((col("l_discount") * col("l_quantity")).cast(Dec12)).as("sxy"),
        sum((col("l_discount") * col("l_discount")).cast(Dec12)).as("sxx"),
        sum((col("l_quantity") * col("l_quantity")).cast(Dec12)).as("syy"))
      // cells feeds BOTH the pooled broadcast and the per-stratum
      // select, which share its aggregation exchange: one lineitem scan
    def corr(n: Column, sx: Column, sy: Column, sxy: Column, sxx: Column,
        syy: Column): Column =
      (n.cast("double") * sxy.cast("double")
        - sx.cast("double") * sy.cast("double")) /
        (sqrt(n.cast("double") * sxx.cast("double")
          - sx.cast("double") * sx.cast("double"))
          * sqrt(n.cast("double") * syy.cast("double")
            - sy.cast("double") * sy.cast("double")))
    val pooled = cells.agg(
        sum(col("n")).as("n"), sum(col("sx")).as("sx"),
        sum(col("sy")).as("sy"), sum(col("sxy")).as("sxy"),
        sum(col("sxx")).as("sxx"), sum(col("syy")).as("syy"))
      .select(NumFns.roundPortable(corr(col("n"), col("sx"), col("sy"),
        col("sxy"), col("sxx"), col("syy")), 6).as("r_pooled"))
    cells
      .select(col("l_returnflag"), col("n").as("n_rows"),
        NumFns.roundPortable(corr(col("n"), col("sx"), col("sy"), col("sxy"),
          col("sxx"), col("syy")), 6).as("r_stratum"))
      .crossJoin(broadcast(pooled))
      .select(col("l_returnflag"), col("n_rows"), col("r_stratum"),
        col("r_pooled"),
        (col("r_stratum") * col("r_pooled") < 0).as("sign_flip"))
      .orderBy(col("l_returnflag"))
  }

  val qSimpsonOracle: String = {
    def corrSql(p: String) =
      s"(CAST(${p}n AS DOUBLE) * CAST(${p}sxy AS DOUBLE) - " +
        s"CAST(${p}sx AS DOUBLE) * CAST(${p}sy AS DOUBLE)) / " +
        s"(sqrt(CAST(${p}n AS DOUBLE) * CAST(${p}sxx AS DOUBLE) - " +
        s"CAST(${p}sx AS DOUBLE) * CAST(${p}sx AS DOUBLE)) * " +
        s"sqrt(CAST(${p}n AS DOUBLE) * CAST(${p}syy AS DOUBLE) - " +
        s"CAST(${p}sy AS DOUBLE) * CAST(${p}sy AS DOUBLE)))"
    s"""WITH cells AS (
       |  SELECT l_returnflag, count(*) AS n,
       |    sum(CAST(l_discount AS DECIMAL(38,12))) AS sx,
       |    sum(CAST(l_quantity AS DECIMAL(38,12))) AS sy,
       |    sum(CAST(l_discount * l_quantity AS DECIMAL(38,12))) AS sxy,
       |    sum(CAST(l_discount * l_discount AS DECIMAL(38,12))) AS sxx,
       |    sum(CAST(l_quantity * l_quantity AS DECIMAL(38,12))) AS syy
       |  FROM lineitem GROUP BY l_returnflag
       |), pooled AS (
       |  SELECT sum(n) AS n, sum(sx) AS sx, sum(sy) AS sy, sum(sxy) AS sxy,
       |    sum(sxx) AS sxx, sum(syy) AS syy
       |  FROM cells
       |), pr AS (
       |  SELECT ${NumFns.roundPortableSql(corrSql(""), 6)} AS r_pooled
       |  FROM pooled
       |)
       |SELECT l_returnflag, n AS n_rows,
       |  ${NumFns.roundPortableSql(corrSql(""), 6)} AS r_stratum,
       |  r_pooled,
       |  (${NumFns.roundPortableSql(corrSql(""), 6)} * r_pooled < 0)
       |    AS sign_flip
       |FROM cells, pr
       |ORDER BY l_returnflag""".stripMargin
  }

  /** Theil T inequality index of document length, decomposed into
    * within-source and between-source components — the decomposition
    * q_gini cannot give (Gini does not decompose additively): T_total =
    * T_within + T_between tells WHERE the length inequality lives. If
    * T_between dominates, sources differ wholesale (fix the mix); if
    * T_within, a few giant docs inside each source (fix the caps).
    * Shape at 100 TB: the corpus collapses to (source, n_chars) VALUE
    * CELLS (map-side combined); every Σ x·ln(x/μ) term is a cell-frame
    * aggregate weighted by the cell count; the decomposition identity
    * is arithmetic over the |sources|-row frame. Determinism: means are
    * ratios of exact integer sums; ln runs on identical doubles; the
    * weighted ln-sums accumulate as DECIMAL (order-free). Zero-length
    * docs are excluded (x·ln x needs x > 0), mirrored in the oracle.
    */
  def qTheilIndex(s: SparkSession, dir: String): DataFrame = {
    val cells = Tables.documents(s, dir)
      .filter(col("n_chars") > 0)
      .groupBy(col("source"), col("n_chars").as("x"))
      .agg(count(lit(1)).as("c"))
    val grp = cells.groupBy(col("source"))
      .agg(sum(col("c")).as("ng"), sum(col("x") * col("c")).as("sg"))
    val tot = grp.agg(sum(col("ng")).as("n"), sum(col("sg")).as("st"))
    // per-group Theil over its cells: T_g = Σ c·(x/μg)·ln(x/μg) / n_g
    val tg = cells.join(broadcast(grp), Seq("source"))
      .select(col("source"), col("ng"), col("sg"),
        ((col("x") * col("ng")).cast("double") / col("sg")).as("ratio"),
        col("c"))
      .groupBy(col("source"), col("ng"), col("sg"))
      .agg((sum((col("c") * col("ratio") * log(col("ratio"))).cast(Dec12))
        .cast("double") / col("ng")).as("t_g"))
    tg.crossJoin(broadcast(tot))
      .select(col("source"), col("ng"), col("sg"), col("st"), col("t_g"),
        // μg/μ as a ratio of double means — the integer cross-product
        // form sg·n/(st·ng) would overflow int64 at corpus scale
        ((col("sg").cast("double") / col("ng"))
          / (col("st").cast("double") / col("n"))).as("mu_ratio"))
      .agg(
        sum((col("sg").cast("double") / col("st") * col("t_g")).cast(Dec12))
          .cast("double").as("t_within"),
        sum((col("sg").cast("double") / col("st") * log(col("mu_ratio")))
          .cast(Dec12)).cast("double").as("t_between"))
      .select(
        NumFns.roundPortable(col("t_within") + col("t_between"), 6)
          .as("theil_total"),
        NumFns.roundPortable(col("t_within"), 6).as("theil_within"),
        NumFns.roundPortable(col("t_between"), 6).as("theil_between"))
  }

  val qTheilIndexOracle: String =
    s"""WITH cells AS (
       |  SELECT source, n_chars AS x, count(*) AS c
       |  FROM documents WHERE n_chars > 0 GROUP BY source, n_chars
       |),
       |grp AS (
       |  SELECT source, CAST(sum(c) AS BIGINT) AS ng,
       |    CAST(sum(x * c) AS BIGINT) AS sg
       |  FROM cells GROUP BY source
       |),
       |tot AS (
       |  SELECT CAST(sum(ng) AS BIGINT) AS n, CAST(sum(sg) AS BIGINT) AS st
       |  FROM grp
       |),
       |tg AS (
       |  SELECT cells.source, grp.ng, grp.sg,
       |    CAST(sum(CAST(c * (CAST(x * ng AS DOUBLE) / sg)
       |      * ln(CAST(x * ng AS DOUBLE) / sg) AS DECIMAL(38,12)))
       |      AS DOUBLE) / grp.ng AS t_g
       |  FROM cells JOIN grp ON cells.source = grp.source
       |  GROUP BY cells.source, grp.ng, grp.sg
       |),
       |ag AS (
       |  SELECT
       |    CAST(sum(CAST(CAST(sg AS DOUBLE) / st * t_g AS DECIMAL(38,12)))
       |      AS DOUBLE) AS t_within,
       |    CAST(sum(CAST(CAST(sg AS DOUBLE) / st
       |      * ln((CAST(sg AS DOUBLE) / ng) / (CAST(st AS DOUBLE) / n))
       |      AS DECIMAL(38,12))) AS DOUBLE) AS t_between
       |  FROM tg, tot
       |)
       |SELECT
       |  ${NumFns.roundPortableSql("t_within + t_between", 6)} AS theil_total,
       |  ${NumFns.roundPortableSql("t_within", 6)} AS theil_within,
       |  ${NumFns.roundPortableSql("t_between", 6)} AS theil_between
       |FROM ag""".stripMargin

  /** Cohen's d (pooled-SD standardized mean difference) of extended
    * price between returned ('R') and kept lineitems, per linestatus —
    * the EFFECT SIZE companion to the suite's significance tests
    * (q_welch_ttest says whether groups differ; this says by how many
    * standard deviations, the number a 100 TB A/B readout is actually
    * consumed by). Hedges' g small-sample correction rides along.
    * Shape: one scan → (status, group) moment cells → ≤|status| rows.
    * Float discipline: DECIMAL(38,12) moment sums cast to double once
    * (the qWelchTtest convention); d is then scalar arithmetic on
    * identical doubles.
    */
  def qCohensD(s: SparkSession, dir: String): DataFrame = {
    val m = Tables.lineitem(s, dir)
      .select(col("l_linestatus"),
        (col("l_returnflag") === "R").as("ret"), col("l_extendedprice").as("x"))
      .groupBy(col("l_linestatus"), col("ret"))
      .agg(count(lit(1)).as("n"), sum(col("x").cast(Dec12)).as("sx"),
        sum((col("x") * col("x")).cast(Dec12)).as("sx2"))
    def side(r: Boolean, c: String) = max(when(col("ret") === r, col(c)))
    val wide = m.groupBy(col("l_linestatus"))
      .agg(side(true, "n").as("n1"), side(true, "sx").cast("double").as("s1"),
        side(true, "sx2").cast("double").as("q1"),
        side(false, "n").as("n2"), side(false, "sx").cast("double").as("s2"),
        side(false, "sx2").cast("double").as("q2"))
      .filter(col("n1") > 1 && col("n2") > 1)
    // r12 (guide §1.2/§7.2): moments staged as NAMED columns — the old
    // inline form expanded the d-tree (means→variances→pooled SD) through
    // three roundPortable calls into a ~24 KB plan whose analysis/codegen
    // cost dwarfed the ≤|status|-row arithmetic. CollapseProject keeps a
    // non-cheap alias referenced more than once staged. Identical
    // arithmetic, identical results.
    val staged = wide
      .withColumn("m1", col("s1") / col("n1"))
      .withColumn("m2", col("s2") / col("n2"))
      .withColumn("v1",
        (col("q1") - col("n1") * (col("m1") * col("m1"))) / (col("n1") - 1))
      .withColumn("v2",
        (col("q2") - col("n2") * (col("m2") * col("m2"))) / (col("n2") - 1))
      .withColumn("sp", sqrt(((col("n1") - 1) * col("v1")
        + (col("n2") - 1) * col("v2")) / (col("n1") + col("n2") - 2)))
      .withColumn("d0", (col("m1") - col("m2")) / col("sp"))
    staged.select(col("l_linestatus"), col("n1").as("n_returned"),
        col("n2").as("n_kept"),
        NumFns.roundPortable(col("m1") - col("m2"), 4).as("mean_diff"),
        NumFns.roundPortable(col("d0"), 6).as("cohens_d"),
        NumFns.roundPortable(
          col("d0") * (lit(1.0) - lit(3.0) / (lit(4.0) * (col("n1") + col("n2")) - 9)),
          6).as("hedges_g"))
      .orderBy(col("l_linestatus"))
  }

  val qCohensDOracle: String =
    s"""WITH m AS (
       |  SELECT l_linestatus, l_returnflag = 'R' AS ret, count(*) AS n,
       |    CAST(sum(CAST(l_extendedprice AS DECIMAL(38,12))) AS DOUBLE) AS sx,
       |    CAST(sum(CAST(l_extendedprice * l_extendedprice AS DECIMAL(38,12)))
       |      AS DOUBLE) AS sx2
       |  FROM lineitem GROUP BY 1, 2
       |),
       |w AS (
       |  SELECT l_linestatus,
       |    max(CASE WHEN ret THEN n END) AS n1,
       |    max(CASE WHEN ret THEN sx END) AS s1,
       |    max(CASE WHEN ret THEN sx2 END) AS q1,
       |    max(CASE WHEN NOT ret THEN n END) AS n2,
       |    max(CASE WHEN NOT ret THEN sx END) AS s2,
       |    max(CASE WHEN NOT ret THEN sx2 END) AS q2
       |  FROM m GROUP BY 1
       |  HAVING n1 > 1 AND n2 > 1
       |),
       |c AS (
       |  SELECT l_linestatus, n1, n2, s1 / n1 AS m1, s2 / n2 AS m2,
       |    (q1 - n1 * ((s1 / n1) * (s1 / n1))) / (n1 - 1) AS v1,
       |    (q2 - n2 * ((s2 / n2) * (s2 / n2))) / (n2 - 1) AS v2
       |  FROM w
       |),
       |d AS (
       |  SELECT l_linestatus, n1, n2, m1, m2,
       |    (m1 - m2) / sqrt(((n1 - 1) * v1 + (n2 - 1) * v2) / (n1 + n2 - 2))
       |      AS dd
       |  FROM c
       |)
       |SELECT l_linestatus, n1 AS n_returned, n2 AS n_kept,
       |  ${NumFns.roundPortableSql("m1 - m2", 4)} AS mean_diff,
       |  ${NumFns.roundPortableSql("dd", 6)} AS cohens_d,
       |  ${NumFns.roundPortableSql(
            "dd * (1.0 - 3.0 / (4.0 * (n1 + n2) - 9))", 6)} AS hedges_g
       |FROM d ORDER BY l_linestatus""".stripMargin

  /** Cliff's delta of quantity between returned and kept lineitems —
    * the ORDINAL effect size (P(x>y) − P(x<y), the scale-free companion
    * to q_mann_whitney's significance and [[qCohensD]]'s parametric d:
    * valid with no distributional assumption at all). Computed entirely
    * from VALUE CELLS: quantity has a bounded integer domain, so both
    * sides collapse to per-value counts, an exclusive prefix over the
    * merged ≤|domain| cell frame gives #y<v and #y>v for every x-cell,
    * and δ = Σ cx·(#y<v − #y>v) / (nx·ny) — no pairwise join ever
    * materializes (the naive form is |x|·|y| pairs; this is O(domain)).
    * Dominance products ride DECIMAL(38,0) / HUGEINT (row-count² at
    * corpus scale). Magnitude labels are the standard Romano cuts.
    */
  def qCliffsDelta(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val cells = Tables.lineitem(s, dir)
      .select(col("l_quantity").cast("long").as("v"),
        (col("l_returnflag") === "R").as("ret"))
      .groupBy(col("v"))
      .agg(sum(col("ret").cast("long")).as("cx"),
        sum((!col("ret")).cast("long")).as("cy"))
    val wLess = Window.orderBy(col("v"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val tot = cells.agg(sum(col("cx")).as("nx"), sum(col("cy")).as("ny"))
    val dom = cells
      .withColumn("y_less", coalesce(sum(col("cy")).over(wLess), lit(0L)))
      .crossJoin(broadcast(tot))
      .withColumn("y_greater", col("ny") - col("y_less") - col("cy"))
      .agg(max(col("nx")).as("nx"), max(col("ny")).as("ny"),
        sum(col("cx").cast(Dec0) * (col("y_less") - col("y_greater")))
          .as("dsum"))
    dom.select(col("nx").as("n_returned"), col("ny").as("n_kept"),
        NumFns.roundPortable(
          col("dsum").cast("double") / (col("nx").cast("double") * col("ny")),
          6).as("cliffs_delta"))
      .withColumn("magnitude",
        when(abs(col("cliffs_delta")) < 0.147, "negligible")
          .when(abs(col("cliffs_delta")) < 0.33, "small")
          .when(abs(col("cliffs_delta")) < 0.474, "medium")
          .otherwise("large"))
  }

  val qCliffsDeltaOracle: String =
    s"""WITH cells AS (
       |  SELECT CAST(l_quantity AS BIGINT) AS v,
       |    CAST(sum(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END) AS BIGINT)
       |      AS cx,
       |    CAST(sum(CASE WHEN l_returnflag = 'R' THEN 0 ELSE 1 END) AS BIGINT)
       |      AS cy
       |  FROM lineitem GROUP BY 1
       |),
       |tot AS (
       |  SELECT CAST(sum(cx) AS BIGINT) AS nx, CAST(sum(cy) AS BIGINT) AS ny
       |  FROM cells
       |),
       |pre AS (
       |  SELECT v, cx, cy,
       |    CAST(coalesce(sum(cy) OVER (ORDER BY v
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
       |      AS y_less
       |  FROM cells
       |),
       |ag AS (
       |  SELECT max(nx) AS nx, max(ny) AS ny,
       |    sum(CAST(cx AS HUGEINT) * (y_less - (ny - y_less - cy))) AS dsum
       |  FROM pre, tot
       |),
       |r AS (
       |  SELECT nx AS n_returned, ny AS n_kept,
       |    ${NumFns.roundPortableSql(
              "CAST(dsum AS DOUBLE) / (CAST(nx AS DOUBLE) * ny)", 6)}
       |      AS cliffs_delta
       |  FROM ag
       |)
       |SELECT n_returned, n_kept, cliffs_delta,
       |  CASE WHEN abs(cliffs_delta) < 0.147 THEN 'negligible'
       |    WHEN abs(cliffs_delta) < 0.33 THEN 'small'
       |    WHEN abs(cliffs_delta) < 0.474 THEN 'medium'
       |    ELSE 'large' END AS magnitude
       |FROM r""".stripMargin

  /** Every lineitem's exposure `t` (a discount over 5 %) and outcome
    * `y` (returned, 'R'), after the columns `more`.
    */
  def discountReturn(s: SparkSession, dir: String, more: Column*): DataFrame =
    Tables.lineitem(s, dir).select(more :+ (col("l_discount") > 0.05).as("t")
      :+ (col("l_returnflag") === "R").as("y"): _*)

  /** The t×y 2×2 cells of [[discountReturn]] as aggregate columns: `a`
    * (t, y), `b` (t, ¬y), `c` (¬t, y), `d` (¬t, ¬y).
    */
  def twoByTwo: Seq[Column] = {
    val (t, y) = (col("t"), col("y"))
    Seq(sum((t && y).cast("long")).as("a"), sum((t && !y).cast("long")).as("b"),
      sum((!t && y).cast("long")).as("c"), sum((!t && !y).cast("long")).as("d"))
  }

  /** SQL twin of [[twoByTwo]] over `lineitem`: a select list. */
  def twoByTwoSql: String =
    s"""CAST(sum(CASE WHEN l_discount > 0.05 AND l_returnflag = 'R'
       |      THEN 1 ELSE 0 END) AS BIGINT) AS a,
       |    CAST(sum(CASE WHEN l_discount > 0.05 AND l_returnflag != 'R'
       |      THEN 1 ELSE 0 END) AS BIGINT) AS b,
       |    CAST(sum(CASE WHEN l_discount <= 0.05 AND l_returnflag = 'R'
       |      THEN 1 ELSE 0 END) AS BIGINT) AS c,
       |    CAST(sum(CASE WHEN l_discount <= 0.05 AND l_returnflag != 'R'
       |      THEN 1 ELSE 0 END) AS BIGINT) AS d""".stripMargin

  /** 2×2 odds ratio of return ('R') given a deep discount (> 5 %) with
    * a Wald 95 % CI — the epidemiology-style association readout a
    * curation team uses for binary exposure/outcome pairs where the
    * chi-square (q_chi2_independence) only says "dependent": direction
    * AND strength with uncertainty. One scan, four exact counts, then
    * scalar arithmetic — the cheapest possible association audit at
    * 100 TB. Doubles are identical expressions of exact integers.
    */
  def qOddsRatio(s: SparkSession, dir: String): DataFrame = {
    val c = discountReturn(s, dir).agg(twoByTwo.head, twoByTwo.tail: _*)
      .filter(col("a") > 0 && col("b") > 0 && col("c") > 0 && col("d") > 0)
    // Cross products in DECIMAL(38,0): cell counts at the 100 TB target
    // (~1e11) make a*d exceed 2^63, which Spark would silently wrap
    // (non-ANSI) while DuckDB raises — same discipline as qAssortativity.
    val or = (col("a").cast(Dec0) * col("d")).cast("double") /
      (col("b").cast(Dec0) * col("c")).cast("double")
    val se = sqrt(lit(1.0) / col("a") + lit(1.0) / col("b")
      + lit(1.0) / col("c") + lit(1.0) / col("d"))
    c.select(col("a").as("n_exp_ret"), col("b").as("n_exp_kept"),
      col("c").as("n_unexp_ret"), col("d").as("n_unexp_kept"),
      NumFns.roundPortable(or, 6).as("odds_ratio"),
      NumFns.roundPortable(exp(log(or) - lit(1.96) * se), 6).as("ci_lo"),
      NumFns.roundPortable(exp(log(or) + lit(1.96) * se), 6).as("ci_hi"))
  }

  val qOddsRatioOracle: String =
    s"""WITH c AS (
       |  SELECT $twoByTwoSql
       |  FROM lineitem
       |),
       |f AS (SELECT * FROM c WHERE a > 0 AND b > 0 AND c > 0 AND d > 0),
       |e AS (
       |  SELECT a, b, c, d,
       |    CAST(CAST(a AS HUGEINT) * d AS DOUBLE)
       |      / CAST(CAST(b AS HUGEINT) * c AS DOUBLE) AS orr,
       |    sqrt(1.0 / a + 1.0 / b + 1.0 / c + 1.0 / d) AS se
       |  FROM f
       |)
       |SELECT a AS n_exp_ret, b AS n_exp_kept, c AS n_unexp_ret,
       |  d AS n_unexp_kept,
       |  ${NumFns.roundPortableSql("orr", 6)} AS odds_ratio,
       |  ${NumFns.roundPortableSql("exp(ln(orr) - 1.96 * se)", 6)} AS ci_lo,
       |  ${NumFns.roundPortableSql("exp(ln(orr) + 1.96 * se)", 6)} AS ci_hi
       |FROM e""".stripMargin

  /** Grubbs' outlier statistic over the daily-revenue series: the max
    * studentized deviation G = max|x − x̄|/s and WHICH day produced it —
    * the single-most-anomalous-observation test (q_mad_outliers flags a
    * set robustly; Grubbs scores the one worst point against a normal
    * null, the number an incident review starts from). Shape: the fact
    * table collapses to the calendar-bounded day frame; moments are
    * DECIMAL sums over it; the arg-max is a TakeOrdered(1) with a
    * deterministic day tie-break. Exact integers until the final
    * studentization.
    */
  def qGrubbsOutlier(s: SparkSession, dir: String): DataFrame = {
    // Moments stay integer cents in DECIMAL(38,0): sum(rev^2) reaches
    // ~2e23*SF^2, which overflows the 26 integer digits of DECIMAL(38,12)
    // near SF~50 — full 38-digit headroom holds past any realistic SF.
    val days = Temporal.orderDates(s, dir, Temporal.dayCents.as("rev"))
    val m = days.agg(count(lit(1)).as("n"),
      sum(col("rev").cast(Dec0)).as("s1"),
      sum((col("rev").cast(Dec0) * col("rev"))).as("s2"))
      .select(col("n"), (col("s1").cast("double") / col("n")).as("mean"),
        sqrt((col("s2").cast("double")
          - col("s1").cast("double") * col("s1").cast("double") / col("n"))
          / (col("n") - 1)).as("sd"))
    days.crossJoin(broadcast(m))
      .select(col("d"), col("rev"), col("n"), col("mean"), col("sd"),
        abs(col("rev") - col("mean")).as("dev"))
      .orderBy(col("dev").desc, col("d"))
      .limit(1)
      .select(col("n").as("n_days"), col("d").as("peak_date"),
        NumFns.roundPortable(col("rev") / 100.0, 2).as("peak_rev"),
        NumFns.roundPortable(col("dev") / col("sd"), 6).as("grubbs_g"))
  }

  val qGrubbsOutlierOracle: String =
    s"""WITH days AS (${Temporal.orderDatesSql(s"${Temporal.dayCentsSql} AS rev")}),
       |m AS (
       |  SELECT count(*) AS n,
       |    CAST(sum(CAST(rev AS HUGEINT)) AS DOUBLE) / count(*) AS mean,
       |    sqrt((CAST(sum(CAST(rev AS HUGEINT) * rev) AS DOUBLE)
       |      - CAST(sum(CAST(rev AS HUGEINT)) AS DOUBLE)
       |        * CAST(sum(CAST(rev AS HUGEINT)) AS DOUBLE) / count(*))
       |      / (count(*) - 1)) AS sd
       |  FROM days
       |)
       |SELECT n AS n_days, d AS peak_date,
       |  ${NumFns.roundPortableSql("rev / 100.0", 2)} AS peak_rev,
       |  ${NumFns.roundPortableSql("abs(rev - mean) / sd", 6)} AS grubbs_g
       |FROM days, m
       |ORDER BY abs(rev - mean) DESC, d
       |LIMIT 1""".stripMargin
  /** The paired years compared by [[qWilcoxonSigned]]. */
  val WilcoxonYears: (Int, Int) = (1997, 1998)

  /** Wilcoxon signed-rank test of daily revenue between two years,
    * paired on the calendar day (month, day-of-month) — the
    * nonparametric PAIRED test the suite's Mann-Whitney (independent
    * samples) cannot do: "did revenue shift year-over-year, day for
    * day?" robust to the heavy-tailed daily distribution. Zero diffs
    * drop (standard convention); |diff| ranks are MIDRANKS computed
    * from value cells (per-|diff| counts + an exclusive prefix over the
    * ≤366-cell frame — no row-scale rank anywhere), W⁺ sums midranks of
    * positive diffs, and z applies the tie-corrected normal
    * approximation. Integer cents end-to-end; midranks are exact
    * halves; per-term DECIMAL folds keep the cell sums
    * order-independent.
    */
  def qWilcoxonSigned(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    def yr(y: Int, n: String) = Tables.orders(s, dir)
      .filter(year(col("o_orderdate")) === y)
      .groupBy(month(col("o_orderdate")).as("m"),
        dayofmonth(col("o_orderdate")).as("dy"))
      .agg(sum(NumFns.roundAwayLong(col("o_totalprice") * 100)).as(n))
    val (y1, y2) = WilcoxonYears
    val pairs = yr(y1, "r1").join(yr(y2, "r2"), Seq("m", "dy"))
      .select((col("r2") - col("r1")).as("d"))
      .filter(col("d") =!= 0)
      .select(abs(col("d")).as("ad"), (col("d") > 0).cast("long").as("pos"))
    val cells = pairs.groupBy(col("ad"))
      .agg(count(lit(1)).as("c"), sum(col("pos")).as("np"))
    val wOff = Window.orderBy(col("ad"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val st = cells
      .withColumn("o", coalesce(sum(col("c")).over(wOff), lit(0L)))
      .agg(sum(col("c")).as("n"),
        sum(((col("o") + (col("c") + 1) / lit(2.0)) * col("np")).cast(Dec12))
          .as("wp"),
        sum(col("c") * col("c") * col("c") - col("c")).as("ties"))
      .select(col("n"), col("wp").cast("double").as("wplus"),
        col("ties").cast("double").as("ties"))
    val mu = col("n") * (col("n") + 1) / lit(4.0)
    val sigma = sqrt(col("n") * (col("n") + 1) * (col("n") * 2 + 1) / lit(24.0)
      - col("ties") / lit(48.0))
    st.select(col("n").as("n_pairs"),
      NumFns.roundPortable(col("wplus"), 2).as("w_plus"),
      NumFns.roundPortable((col("wplus") - mu) / sigma, 4).as("z_stat"))
  }

  val qWilcoxonSignedOracle: String = {
    val (y1, y2) = WilcoxonYears
    def yrSql(y: Int) =
      s"""SELECT month(CAST(o_orderdate AS DATE)) AS m,
         |    day(CAST(o_orderdate AS DATE)) AS dy,
         |    CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
         |      AS r
         |  FROM orders WHERE year(CAST(o_orderdate AS DATE)) = $y
         |  GROUP BY 1, 2""".stripMargin
    s"""WITH a AS (${yrSql(y1)}),
       |b AS (${yrSql(y2)}),
       |p AS (
       |  SELECT abs(b.r - a.r) AS ad,
       |    CAST(b.r - a.r > 0 AS BIGINT) AS pos
       |  FROM a JOIN b USING (m, dy) WHERE b.r - a.r != 0
       |),
       |cells AS (
       |  SELECT ad, count(*) AS c, CAST(sum(pos) AS BIGINT) AS np
       |  FROM p GROUP BY ad
       |),
       |pre AS (
       |  SELECT ad, c, np,
       |    CAST(coalesce(sum(c) OVER (ORDER BY ad
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
       |      AS o
       |  FROM cells
       |),
       |st AS (
       |  SELECT CAST(sum(c) AS BIGINT) AS n,
       |    CAST(sum(CAST((o + (c + 1) / 2.0) * np AS DECIMAL(38,12)))
       |      AS DOUBLE) AS wplus,
       |    CAST(sum(c * c * c - c) AS DOUBLE) AS ties
       |  FROM pre
       |)
       |SELECT n AS n_pairs,
       |  ${NumFns.roundPortableSql("wplus", 2)} AS w_plus,
       |  ${NumFns.roundPortableSql(
            "(wplus - n * (n + 1) / 4.0)" +
            " / sqrt(n * (n + 1) * (2 * n + 1) / 24.0 - ties / 48.0)", 4)}
       |    AS z_stat
       |FROM st""".stripMargin
  }

  /** Jarque–Bera normality test of the daily revenue distribution —
    * the calibration gate for every z/t-statistic this suite reports on
    * the day frame (q_welch_ttest, q_anomaly_zscore, q_grubbs_outlier
    * all assume approximate normality; JB measures how wrong that is
    * via skewness and excess kurtosis). Shape: the fact table collapses
    * once to the calendar-bounded day frame; the exact mean (DECIMAL
    * Σ/n) broadcasts back for one centered pass whose 2nd/3rd/4th
    * powers are DECIMAL-folded per term. Deviations are scaled by 1e-4
    * before powering — skewness and kurtosis are scale-invariant, so
    * the statistic is unchanged while the 4th powers keep ~16 orders of
    * magnitude of overflow headroom at any corpus scale. JB is compared
    * to the χ²(2) 5 % critical value on the ROUNDED statistic so the
    * flag is engine-identical.
    */
  def qJarqueBera(s: SparkSession, dir: String): DataFrame = {
    val days = Temporal.dailyCents(s, dir).select(col("di"), (col("yc") / 100.0).as("y"))
    val mean = days.agg(count(lit(1)).as("n"),
      (sum(col("y").cast(Dec12)).cast("double") / count(lit(1))).as("mu"))
    val d = days.crossJoin(broadcast(mean))
      .select(col("n"), ((col("y") - col("mu")) / 1e4).as("d"))
    val m = d.groupBy(col("n"))
      .agg(NumFns.stableSum(col("d") * col("d"), 6).as("m2"),
        NumFns.stableSum(col("d") * col("d") * col("d"), 6).as("m3"),
        NumFns.stableSum(col("d") * col("d") * col("d") * col("d"), 6)
          .as("m4"))
      .select(col("n").cast("double").as("n"),
        (col("m2") / col("n")).as("v2"), (col("m3") / col("n")).as("v3"),
        (col("m4") / col("n")).as("v4"))
    val skew = col("v3") / sqrt(col("v2") * col("v2") * col("v2"))
    val exk = col("v4") / (col("v2") * col("v2")) - 3.0
    val jb = col("n") / 6.0 * (skew * skew + exk * exk / 4.0)
    m.select(col("n").cast("long").as("n_days"),
        NumFns.roundPortable(skew, 6).as("skewness"),
        NumFns.roundPortable(exk, 6).as("excess_kurtosis"),
        NumFns.roundPortable(jb, 4).as("jb_stat"))
      .withColumn("normal_at_5pct", col("jb_stat") <= 5.9915)
  }

  val qJarqueBeraOracle: String =
    s"""WITH days AS (SELECT di, yc / 100.0 AS y FROM (${Temporal.dailyCentsSql()})),
       |mu AS (
       |  SELECT count(*) AS n,
       |    CAST(sum(CAST(y AS DECIMAL(38,12))) AS DOUBLE) / count(*) AS mu
       |  FROM days
       |),
       |d AS (
       |  SELECT n, (y - mu) / 1e4 AS d FROM days, mu
       |),
       |m AS (
       |  SELECT CAST(n AS DOUBLE) AS n,
       |    ${NumFns.stableSumSql("d * d", 6)} / n AS v2,
       |    ${NumFns.stableSumSql("d * d * d", 6)} / n AS v3,
       |    ${NumFns.stableSumSql("d * d * d * d", 6)} / n AS v4
       |  FROM d GROUP BY n
       |),
       |r AS (
       |  SELECT CAST(n AS BIGINT) AS n_days,
       |    ${NumFns.roundPortableSql("v3 / sqrt(v2 * v2 * v2)", 6)}
       |      AS skewness,
       |    ${NumFns.roundPortableSql("v4 / (v2 * v2) - 3.0", 6)}
       |      AS excess_kurtosis,
       |    ${NumFns.roundPortableSql(
              "n / 6.0 * ((v3 / sqrt(v2 * v2 * v2)) * (v3 / sqrt(v2 * v2 * v2))"
                + " + (v4 / (v2 * v2) - 3.0) * (v4 / (v2 * v2) - 3.0) / 4.0)",
              4)} AS jb_stat
       |  FROM m
       |)
       |SELECT n_days, skewness, excess_kurtosis, jb_stat,
       |  jb_stat <= 5.9915 AS normal_at_5pct
       |FROM r""".stripMargin

  /** Rank sums of document length per source, the frame behind
    * [[qKruskalWallis]] and [[qDunnPosthoc]]. Ranks are NEVER
    * materialized per row: lengths collapse to (value, source) cells,
    * global midranks come from an exclusive prefix over the value-cell
    * aggregate (bounded by the length domain — a few thousand distinct
    * values at ANY corpus size), and each group's rank sum R_j is
    * Σ c_vs·midrank_v over the broadcast-joined cell frames. Midranks
    * are exact half-integers in doubles; rank sums DECIMAL-fold; the
    * tie term Σ(c³ − c) rides DECIMAL(38,0)/HUGEINT (n³ at corpus
    * scale). Returns `(source, n_j, r_j)` and the one-row `t`.
    */
  def rankSums(docs: DataFrame): (DataFrame, DataFrame) = {
    import org.apache.spark.sql.expressions.Window
    val vs = docs
      .groupBy(col("n_chars").as("v"), col("source"))
      .agg(count(lit(1)).as("c_vs"))
    val cells = vs.groupBy(col("v")).agg(sum(col("c_vs")).as("c_v"))
    val wv = Window.orderBy(col("v"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val ranked = cells
      .withColumn("before", coalesce(sum(col("c_v")).over(wv), lit(0L)))
      .select(col("v"),
        (col("before").cast("double") + (col("c_v") + 1) / 2.0).as("midrank"),
        col("c_v"))
    val groups = vs.join(broadcast(ranked.select(col("v"), col("midrank"))),
        "v")
      .groupBy(col("source"))
      .agg(sum(col("c_vs")).as("n_j"),
        sum((col("c_vs") * col("midrank")).cast(Dec12)).cast("double").as("r_j"))
    val ties = ranked.agg(
      sum(col("c_v").cast(Dec0) * col("c_v") * col("c_v") - col("c_v"))
        .as("t"))
    (groups, ties)
  }

  /** SQL twin of [[rankSums]]: CTEs ending in `groups(source, n_j, r_j)`
    * and `ties(t)`.
    */
  val rankSumsSql: String =
    """vs AS (
      |  SELECT n_chars AS v, source, count(*) AS c_vs
      |  FROM documents GROUP BY 1, 2
      |),
      |cells AS (
      |  SELECT v, CAST(sum(c_vs) AS BIGINT) AS c_v FROM vs GROUP BY 1
      |),
      |ranked AS (
      |  SELECT v,
      |    CAST(coalesce(sum(c_v) OVER (ORDER BY v
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS DOUBLE)
      |      + (c_v + 1) / 2.0 AS midrank,
      |    c_v
      |  FROM cells
      |),
      |groups AS (
      |  SELECT source, CAST(sum(c_vs) AS BIGINT) AS n_j,
      |    CAST(sum(CAST(c_vs * midrank AS DECIMAL(38,12))) AS DOUBLE) AS r_j
      |  FROM vs JOIN ranked USING (v) GROUP BY 1
      |),
      |ties AS (
      |  SELECT sum(CAST(c_v AS HUGEINT) * c_v * c_v - c_v) AS t FROM ranked
      |)""".stripMargin

  /** Kruskal–Wallis rank test of document length across sources — the
    * k-group generalization of q_mann_whitney (and the nonparametric
    * companion to q_anova's F): "do the sources draw lengths from the
    * same distribution?" robust to the heavy tail that invalidates the
    * parametric read. The rank sums and tie term are [[rankSums]].
    */
  def qKruskalWallis(s: SparkSession, dir: String): DataFrame = {
    val (groups, ties) = rankSums(Tables.documents(s, dir))
    val tot = groups.agg(count(lit(1)).as("k"), sum(col("n_j")).as("nn"),
      sum((col("r_j") * col("r_j") / col("n_j")).cast(Dec12)).cast("double")
        .as("rr"))
    val n = col("nn").cast("double")
    val h = lit(12.0) / (n * (n + 1.0)) * col("rr") - lit(3.0) * (n + 1.0)
    val corr = lit(1.0) -
      col("t").cast("double") / (n * n * n - n)
    tot.crossJoin(broadcast(ties))
      .select(col("k").as("n_sources"), col("nn").as("n_docs"),
        NumFns.roundPortable(h, 4).as("h_stat"),
        NumFns.roundPortable(h / corr, 4).as("h_corrected"))
  }

  val qKruskalWallisOracle: String =
    s"""WITH $rankSumsSql,
       |tot AS (
       |  SELECT count(*) AS k, CAST(sum(n_j) AS BIGINT) AS nn,
       |    CAST(sum(CAST(r_j * r_j / n_j AS DECIMAL(38,12))) AS DOUBLE) AS rr
       |  FROM groups
       |)
       |SELECT k AS n_sources, nn AS n_docs,
       |  ${NumFns.roundPortableSql(
            "12.0 / (CAST(nn AS DOUBLE) * (nn + 1.0)) * rr - 3.0 * (nn + 1.0)",
            4)} AS h_stat,
       |  ${NumFns.roundPortableSql(
            "(12.0 / (CAST(nn AS DOUBLE) * (nn + 1.0)) * rr - 3.0 * (nn + 1.0))"
              + " / (1.0 - CAST(t AS DOUBLE)"
              + " / (CAST(nn AS DOUBLE) * nn * nn - nn))",
            4)} AS h_corrected
       |FROM tot, ties""".stripMargin

  /** Functional-dependency audit over three candidate rules — the
    * schema-discovery profiler (TANE-style error measures) beside
    * q_table_profile's per-column stats: for each candidate X→Y report
    * how many X-keys map to >1 Y (violating keys) and the g3 error —
    * the minimum fraction of rows to delete for the FD to hold exactly
    * (1 − Σ_keys max_y count(x,y) / N), the standard approximate-FD
    * strength measure. `o_orderkey→o_custkey` is expected to HOLD (the
    * primary-key audit); `p_brand→p_type`, `p_type→p_size` and
    * `c_nationkey→c_mktsegment` are expected near-random — the audit
    * certifies both directions. Shape: each rule is one scan → (X,Y)
    * cells → X-keyed aggregate → 1-row summary; everything after the
    * first groupBy is cell-domain-sized (the PK rule's key frame is
    * entity-domain but collapses in the same aggregation tree — no
    * window, no sort), and the four rules union to a 4-row report.
    * Integer-exact until the two final rounded ratios.
    */
  def qFdViolations(s: SparkSession, dir: String): DataFrame = {
    def audit(name: String, df: DataFrame): DataFrame = {
      val keys = df.groupBy(col("lhs"), col("rhs"))
        .agg(count(lit(1)).as("c"))
        .groupBy(col("lhs"))
        .agg(count(lit(1)).as("n_rhs"), sum(col("c")).as("n_rows"),
          max(col("c")).as("n_max"))
      keys.agg(count(lit(1)).as("n_keys"),
          sum(when(col("n_rhs") > 1, 1L).otherwise(0L)).as("violating_keys"),
          sum(col("n_rows")).as("n"), sum(col("n_max")).as("kept"))
        .select(lit(name).as("fd"), col("n_keys"), col("violating_keys"),
          NumFns.roundPortable(
            col("violating_keys").cast("double") / col("n_keys"), 6)
            .as("viol_key_share"),
          NumFns.roundPortable(
            (col("n") - col("kept")).cast("double") / col("n"), 6)
            .as("g3_error"))
    }
    val part = Tables.part(s, dir)
    val pk = audit("o_orderkey->o_custkey",
      Tables.orders(s, dir)
        .select(col("o_orderkey").as("lhs"), col("o_custkey").as("rhs")))
    val brandType = audit("p_brand->p_type",
      part.select(col("p_brand").as("lhs"), col("p_type").as("rhs")))
    val typeSize = audit("p_type->p_size",
      part.select(col("p_type").as("lhs"), col("p_size").as("rhs")))
    val natSeg = audit("c_nationkey->c_mktsegment",
      Tables.customer(s, dir)
        .select(col("c_nationkey").as("lhs"), col("c_mktsegment").as("rhs")))
    pk.union(brandType).union(typeSize).union(natSeg).orderBy(col("fd"))
  }

  val qFdViolationsOracle: String = {
    def auditSql(name: String, lhs: String, rhs: String, table: String) =
      s"""SELECT '$name' AS fd, count(*) AS n_keys,
         |  CAST(sum(CASE WHEN n_rhs > 1 THEN 1 ELSE 0 END) AS BIGINT)
         |    AS violating_keys,
         |  ${NumFns.roundPortableSql(
              "sum(CASE WHEN n_rhs > 1 THEN 1 ELSE 0 END)"
                + " / CAST(count(*) AS DOUBLE)", 6)} AS viol_key_share,
         |  ${NumFns.roundPortableSql(
              "(sum(n_rows) - sum(n_max)) / CAST(sum(n_rows) AS DOUBLE)",
              6)} AS g3_error
         |FROM (
         |  SELECT lhs, count(*) AS n_rhs, sum(c) AS n_rows, max(c) AS n_max
         |  FROM (
         |    SELECT $lhs AS lhs, $rhs AS rhs, count(*) AS c
         |    FROM $table GROUP BY 1, 2
         |  ) GROUP BY lhs
         |)""".stripMargin
    s"""SELECT * FROM (
       |${auditSql("o_orderkey->o_custkey", "o_orderkey", "o_custkey",
          "orders")}
       |UNION ALL
       |${auditSql("p_brand->p_type", "p_brand", "p_type", "part")}
       |UNION ALL
       |${auditSql("p_type->p_size", "p_type", "p_size", "part")}
       |UNION ALL
       |${auditSql("c_nationkey->c_mktsegment", "c_nationkey",
          "c_mktsegment", "customer")}
       |) ORDER BY fd""".stripMargin
  }

  /** G-test (log-likelihood-ratio independence) of return flag ×
    * ship month — the information-theoretic twin of q_chi2_independence
    * (same null, but G = 2·Σ O·ln(O/E) is additive across partitions of
    * the table and equals 2n·MI in nats, which the χ² approximation
    * only approaches): reported beside the mutual information it
    * implies. Shape: the fact table collapses to the ≤36-cell
    * (flag, month) contingency frame in one scan; margins and the term
    * fold all live on that frame (per-term DECIMAL casts make the
    * 21-term sum order-independent). Counts are exact int64; ln runs
    * once per cell on identical doubles.
    */
  def qGTest(s: SparkSession, dir: String): DataFrame = {
    val cells = Tables.lineitem(s, dir)
      .groupBy(col("l_returnflag").as("flag"),
        month(to_date(col("l_shipdate"))).as("mode"))
      .agg(count(lit(1)).as("o"))
    val rowTot = cells.groupBy(col("flag")).agg(sum(col("o")).as("r"))
    val colTot = cells.groupBy(col("mode")).agg(sum(col("o")).as("c"))
    val tot = cells.agg(sum(col("o")).as("n"),
      countDistinct(col("flag")).as("nf"),
      countDistinct(col("mode")).as("nm"))
    cells
      .join(broadcast(rowTot), Seq("flag"))
      .join(broadcast(colTot), Seq("mode"))
      .crossJoin(broadcast(tot))
      .select(col("n"), col("nf"), col("nm"),
        (col("o") * log(col("o").cast("double")
          / (col("r") * col("c") / col("n").cast("double"))))
          .cast(Dec12).as("t"))
      .groupBy(col("n"), col("nf"), col("nm"))
      .agg(sum(col("t")).as("g2"))
      .select(col("n"),
        ((col("nf") - 1) * (col("nm") - 1)).as("dof"),
        NumFns.roundPortable(col("g2").cast("double") * 2.0, 4).as("g_stat"),
        NumFns.roundPortable(
          col("g2").cast("double") / col("n").cast("double"), 8)
          .as("mi_nats"))
  }

  val qGTestOracle: String =
    s"""WITH cells AS (
       |  SELECT l_returnflag AS flag, month(CAST(l_shipdate AS DATE)) AS mode,
       |    count(*) AS o
       |  FROM lineitem GROUP BY 1, 2
       |),
       |rt AS (SELECT flag, sum(o) AS r FROM cells GROUP BY flag),
       |ct AS (SELECT mode, sum(o) AS c FROM cells GROUP BY mode),
       |t AS (SELECT sum(o) AS n, count(DISTINCT flag) AS nf,
       |        count(DISTINCT mode) AS nm FROM cells),
       |x AS (
       |  SELECT n, nf, nm,
       |    CAST(o * ln(CAST(o AS DOUBLE) / (r * c / CAST(n AS DOUBLE)))
       |      AS DECIMAL(38,12)) AS t
       |  FROM cells JOIN rt USING (flag) JOIN ct USING (mode) CROSS JOIN t
       |)
       |SELECT CAST(n AS BIGINT) AS n,
       |  CAST((nf - 1) * (nm - 1) AS BIGINT) AS dof,
       |  ${NumFns.roundPortableSql("CAST(sum(t) AS DOUBLE) * 2.0", 4)}
       |    AS g_stat,
       |  ${NumFns.roundPortableSql(
            "CAST(sum(t) AS DOUBLE) / CAST(n AS DOUBLE)", 8)} AS mi_nats
       |FROM x GROUP BY n, nf, nm""".stripMargin

  /** Decision threshold (stopword permille) for [[qMcc]]'s classifier. */
  val MccThreshold = 100L

  /** Matthews correlation coefficient of the stopword-density language
    * classifier at the fixed 300‰ operating point — the single
    * imbalance-robust number for a hard keep/drop rule (accuracy and F1
    * both inflate when one class dominates a crawl; MCC only rewards
    * doing well on BOTH classes), complementing q_pr_curve's threshold
    * sweep and q_youden_threshold's ROC pick. Shape: one corpus scan →
    * four exact confusion counts; the numerator ad−bc and each pairwise
    * margin product fold in DECIMAL(38,0) (counts at the 100 TB target
    * overflow a long product — the qOddsRatio discipline), and the
    * denominator is split √((a+b)(a+c))·√((b+d)(c+d)) so no
    * intermediate exceeds decimal range.
    */
  def qMcc(s: SparkSession, dir: String): DataFrame = {
    val scored = TextAnalysis.tokenDocs(s, dir, "lang")
      .select(
        (TextFns.stopScore(col("toks"), 1000) >= MccThreshold).as("pred"),
        (col("lang") === "en").as("truth"))
    val c = scored.agg(
      sum((col("pred") && col("truth")).cast("long")).as("tp"),
      sum((col("pred") && !col("truth")).cast("long")).as("fp"),
      sum((!col("pred") && col("truth")).cast("long")).as("fn"),
      sum((!col("pred") && !col("truth")).cast("long")).as("tn"))
    val num = (col("tp").cast(Dec0) * col("tn")
      - col("fp").cast(Dec0) * col("fn")).cast("double")
    val d1 = sqrt(((col("tp") + col("fp")).cast(Dec0)
      * (col("tp") + col("fn"))).cast("double"))
    val d2 = sqrt(((col("tn") + col("fp")).cast(Dec0)
      * (col("tn") + col("fn"))).cast("double"))
    c.select(col("tp"), col("fp"), col("fn"), col("tn"),
      // degenerate margin (no predicted/actual positives or negatives)
      // → MCC undefined → NULL, not a divide-by-zero under ANSI
      NumFns.roundPortable(
        when(d1 * d2 > 0.0, num / (d1 * d2)), 6).as("mcc"),
      NumFns.roundPortable((col("tp") + col("tn")).cast("double")
        / (col("tp") + col("fp") + col("fn") + col("tn")), 6).as("accuracy"))
  }

  val qMccOracle: String =
    s"""WITH t AS (
       |  SELECT lang, ${TextFns.toksSql} AS toks FROM documents
       |),
       |sc AS (
       |  SELECT
       |    ${TextFns.stopScoreSql(1000)} >= $MccThreshold AS pred,
       |    lang = 'en' AS truth
       |  FROM t WHERE len(toks) > 0
       |),
       |c AS (
       |  SELECT
       |    CAST(sum(CASE WHEN pred AND truth THEN 1 ELSE 0 END) AS BIGINT)
       |      AS tp,
       |    CAST(sum(CASE WHEN pred AND NOT truth THEN 1 ELSE 0 END) AS BIGINT)
       |      AS fp,
       |    CAST(sum(CASE WHEN NOT pred AND truth THEN 1 ELSE 0 END) AS BIGINT)
       |      AS fn,
       |    CAST(sum(CASE WHEN NOT pred AND NOT truth THEN 1 ELSE 0 END)
       |      AS BIGINT) AS tn
       |  FROM sc
       |)
       |SELECT tp, fp, fn, tn,
       |  ${NumFns.roundPortableSql(
            "CASE WHEN sqrt(CAST(CAST(tp + fp AS HUGEINT)" +
              " * (tp + fn) AS DOUBLE)) * sqrt(CAST(CAST(tn + fp AS HUGEINT)" +
              " * (tn + fn) AS DOUBLE)) > 0.0 THEN" +
              " CAST(CAST(tp AS HUGEINT) * tn - CAST(fp AS HUGEINT) * fn" +
              " AS DOUBLE) / (sqrt(CAST(CAST(tp + fp AS HUGEINT)" +
              " * (tp + fn) AS DOUBLE)) * sqrt(CAST(CAST(tn + fp AS HUGEINT)" +
              " * (tn + fn) AS DOUBLE))) END", 6)} AS mcc,
       |  ${NumFns.roundPortableSql(
            "CAST(tp + tn AS DOUBLE) / (tp + fp + fn + tn)", 6)} AS accuracy
       |FROM c""".stripMargin

  /** Count `n`, mean and sample variance `vr` of the count column `c`,
    * from exact DECIMAL moments; the variance clears its denominator
    * (n·Σc² − (Σc)²) before any IEEE division.
    */
  private def countMoments(counts: DataFrame): DataFrame = {
    val nD = col("n").cast("double")
    counts.agg(count(lit(1)).as("n"),
      sum(col("c").cast(Dec0)).as("s1"),
      sum(col("c").cast(Dec0) * col("c")).as("s2"))
      .select(col("n"), (col("s1").cast("double") / nD).as("mean"),
        ((col("n") * col("s2") - col("s1") * col("s1")).cast("double") /
          (nD * (nD - 1.0))).as("vr"))
  }

  /** SQL twin of [[countMoments]]: CTE `st (n, mean, vr)` over `src`. */
  private def countMomentsSql(src: String): String =
    s"""m AS (
       |  SELECT count(*) AS n,
       |    sum(CAST(c AS HUGEINT)) AS s1,
       |    sum(CAST(c AS HUGEINT) * c) AS s2
       |  FROM $src
       |),
       |st AS (
       |  SELECT n,
       |    CAST(s1 AS DOUBLE) / n AS mean,
       |    CAST(n * s2 - s1 * s1 AS DOUBLE)
       |      / (CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) - 1.0)) AS vr
       |  FROM m
       |)""".stripMargin

  /** Poisson dispersion (index-of-dispersion) test of daily order
    * counts: D = s²/x̄ with χ² = (n−1)·D against χ²_{n−1}, z via the
    * Wilson–Hilferty cube-root normalization — "are arrivals Poisson,
    * or clumped?" (D ≫ 1 means bursty ingestion days, the capacity-
    * planning fact q_dow_profile's means can't show). Shape: the fact
    * table collapses to the calendar-bounded day-count frame; both
    * moments fold exactly in DECIMAL(38,0) (counts stay integers) and
    * the variance clears its denominator (n·Σc² − (Σc)²) before any
    * IEEE division.
    */
  def qPoissonDispersion(s: SparkSession, dir: String): DataFrame = {
    val days = Temporal.orderDates(s, dir, count(lit(1)).as("c"))
    val (mean, vr) = (col("mean"), col("vr"))
    val disp = vr / mean
    val k = col("n").cast("double") - 1.0
    val z = NumFns.wilsonHilfertyZ(disp, k)
    countMoments(days).select(col("n").as("n_days"),
      NumFns.roundPortable(mean, 4).as("mean_per_day"),
      NumFns.roundPortable(vr, 4).as("var_per_day"),
      NumFns.roundPortable(disp, 6).as("dispersion"),
      NumFns.roundPortable(z, 4).as("z"))
      .withColumn("overdispersed", col("z") > 1.645)
  }

  /** Kendall's W concordance of three nation RANKINGS (total revenue,
    * order count, mean order value): do different league-table metrics
    * agree on the ordering? — the m-ranker generalization of
    * q_kendall_tau (pairwise) and the ranking twin of q_cronbach_alpha.
    * Shape: one orders⋈customer⋈nation pass collapses to the ≤25-row
    * nation frame; the three row_number windows run over that bounded
    * dimension aggregate (the sanctioned partitionless-window shape —
    * the frame is nation-domain, hard-capped at 25), ranks are exact
    * integers (deterministic nation tie-break), and W = 12·S/(m²(n³−n))
    * is integer arithmetic until one final division.
    */
  def qKendallW(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val byNation = Tables.orders(s, dir)
      .join(Tables.customer(s, dir)
        .select(col("c_custkey"), col("c_nationkey")),
        col("o_custkey") === col("c_custkey"))
      .join(broadcast(Tables.nation(s, dir)
        .select(col("n_nationkey").as("c_nationkey"),
          col("n_name").as("nation"))),
        Seq("c_nationkey"))
      .groupBy(col("nation"))
      .agg(sum(NumFns.roundAwayLong(col("o_totalprice") * 100)).as("rev"),
        count(lit(1)).as("cnt"))
      .withColumn("avgv", col("rev").cast("double") / col("cnt"))
    val ranked = byNation
      .withColumn("r1",
        row_number().over(Window.orderBy(col("rev"), col("nation"))))
      .withColumn("r2",
        row_number().over(Window.orderBy(col("cnt"), col("nation"))))
      .withColumn("r3",
        row_number().over(Window.orderBy(col("avgv"), col("nation"))))
      .select((col("r1") + col("r2") + col("r3")).cast("long").as("rsum"))
    val m = ranked.agg(count(lit(1)).as("n"),
      sum(col("rsum") * col("rsum")).as("ss"), sum(col("rsum")).as("s1"))
    // S = Σ(R − m(n+1)/2)² cleared over 4: 4S = 4ΣR² − 4·(ΣR)²/n (ΣR =
    // m·n(n+1)/2 exactly, so the mean is ΣR/n)
    val nL = col("n")
    val sCleared = (col("ss") * nL * 4 - col("s1") * col("s1") * 4)
      .cast("double") / (nL * 4).cast("double")
    val w = sCleared * 12.0 /
      (lit(9.0) * (nL * nL * nL - nL).cast("double"))
    m.select(col("n").as("n_nations"),
      NumFns.roundPortable(w, 6).as("kendall_w"),
      NumFns.roundPortable(w * lit(3.0) * (nL - 1).cast("double"), 4)
        .as("chi2"))
      .withColumn("concordant", col("chi2") > 36.415)
  }

  val qKendallWOracle: String =
    s"""WITH bn AS (
       |  SELECT n_name AS nation,
       |    CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
       |      AS rev,
       |    count(*) AS cnt
       |  FROM orders
       |    JOIN customer ON o_custkey = c_custkey
       |    JOIN nation ON n_nationkey = c_nationkey
       |  GROUP BY 1
       |),
       |rk AS (
       |  SELECT
       |    row_number() OVER (ORDER BY rev, nation)
       |    + row_number() OVER (ORDER BY cnt, nation)
       |    + row_number() OVER (ORDER BY CAST(rev AS DOUBLE) / cnt, nation)
       |      AS rsum
       |  FROM bn
       |),
       |m AS (
       |  SELECT count(*) AS n, CAST(sum(rsum * rsum) AS BIGINT) AS ss,
       |    CAST(sum(rsum) AS BIGINT) AS s1
       |  FROM rk
       |),
       |c AS (
       |  SELECT n,
       |    (CAST(ss * n * 4 - s1 * s1 * 4 AS DOUBLE) / CAST(n * 4 AS DOUBLE))
       |      * 12.0 / (9.0 * CAST(n * n * n - n AS DOUBLE)) AS w
       |  FROM m
       |)
       |SELECT n AS n_nations,
       |  ${NumFns.roundPortableSql("w", 6)} AS kendall_w,
       |  ${NumFns.roundPortableSql("w * 3.0 * CAST(n - 1 AS DOUBLE)", 4)}
       |    AS chi2,
       |  ${NumFns.roundPortableSql("w * 3.0 * CAST(n - 1 AS DOUBLE)", 4)}
       |    > 36.415 AS concordant
       |FROM c""".stripMargin

  val qPoissonDispersionOracle: String =
    s"""WITH days AS (${Temporal.orderDatesSql("count(*) AS c")}),
       |${countMomentsSql("days")},
       |zz AS (
       |  SELECT n AS n_days, mean, vr, vr / mean AS disp,
       |    ${NumFns.wilsonHilfertyZSql("vr / mean", "k")} AS z
       |  FROM (SELECT *, CAST(n AS DOUBLE) - 1.0 AS k FROM st)
       |)
       |SELECT n_days,
       |  ${NumFns.roundPortableSql("mean", 4)} AS mean_per_day,
       |  ${NumFns.roundPortableSql("vr", 4)} AS var_per_day,
       |  ${NumFns.roundPortableSql("disp", 6)} AS dispersion,
       |  ${NumFns.roundPortableSql("z", 4)} AS z,
       |  ${NumFns.roundPortableSql("z", 4)} > 1.645 AS overdispersed
       |FROM zz""".stripMargin

  /** Hellinger distance between the quantity distributions of returned
    * vs kept line items: H = √(1 − Σ√(pᵢqᵢ)) over the ≤50-value
    * quantity cells — the bounded-[0,1] METRIC drift measure beside
    * q_ks_drift (sup-norm), q_jsd_drift (information) and q_psi_drift
    * (binned index): symmetric, triangle-inequality-valid, so it can
    * anchor a drift THRESHOLD policy across many segment pairs. Shape:
    * one scan → (quantity, flag) cells; the Bhattacharyya coefficient
    * folds per-cell DECIMAL terms over that bounded frame. Exact
    * integer counts until the per-cell √; BC clamped at 1 before the
    * outer √ so fp dust can't produce NaN.
    */
  def qHellinger(s: SparkSession, dir: String): DataFrame = {
    val cells = Tables.lineitem(s, dir)
      .groupBy(col("l_quantity").cast("long").as("q"))
      .agg(sum(when(col("l_returnflag") === "R", 1L).otherwise(0L)).as("cr"),
        sum(when(col("l_returnflag") =!= "R", 1L).otherwise(0L)).as("ck"))
    val tot = cells.agg(sum(col("cr")).as("nr"), sum(col("ck")).as("nk"))
    val bc = cells.crossJoin(broadcast(tot))
      .select(col("nr"), col("nk"),
        sqrt((col("cr").cast("double") / col("nr"))
          * (col("ck").cast("double") / col("nk"))).cast(Dec12).as("b"))
      .groupBy(col("nr"), col("nk"))
      .agg(sum(col("b")).as("bc"))
    bc.select(col("nr").as("n_returned"), col("nk").as("n_kept"),
      NumFns.roundPortable(least(col("bc").cast("double"), lit(1.0)), 6)
        .as("bhattacharyya"),
      NumFns.roundPortable(
        sqrt(lit(1.0) - least(col("bc").cast("double"), lit(1.0))), 6)
        .as("hellinger"))
  }

  val qHellingerOracle: String =
    s"""WITH cells AS (
       |  SELECT CAST(l_quantity AS BIGINT) AS q,
       |    CAST(sum(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END)
       |      AS BIGINT) AS cr,
       |    CAST(sum(CASE WHEN l_returnflag != 'R' THEN 1 ELSE 0 END)
       |      AS BIGINT) AS ck
       |  FROM lineitem GROUP BY 1
       |),
       |tot AS (
       |  SELECT CAST(sum(cr) AS BIGINT) AS nr, CAST(sum(ck) AS BIGINT) AS nk
       |  FROM cells
       |),
       |bc AS (
       |  SELECT nr, nk,
       |    CAST(sum(CAST(sqrt((CAST(cr AS DOUBLE) / nr)
       |      * (CAST(ck AS DOUBLE) / nk)) AS DECIMAL(38,12))) AS DOUBLE)
       |      AS bc
       |  FROM cells CROSS JOIN tot GROUP BY nr, nk
       |)
       |SELECT nr AS n_returned, nk AS n_kept,
       |  ${NumFns.roundPortableSql("least(bc, 1.0)", 6)} AS bhattacharyya,
       |  ${NumFns.roundPortableSql("sqrt(1.0 - least(bc, 1.0))", 6)}
       |    AS hellinger
       |FROM bc""".stripMargin

  /** Dunn's post-hoc pairwise rank test after [[qKruskalWallis]]: KW
    * says "SOME source differs" in document length; Dunn says WHICH
    * pairs, with the tie-corrected rank-variance and BH-FDR control
    * across the ≤C(k,2) comparisons — the drill-down that turns an
    * omnibus alarm into a work list. Shape: the per-source rank sums
    * are [[rankSums]]; mean ranks are a dimension aggregate, the pair
    * frame is k²-bounded, and BH ranks by |z| (bit-identical) with p
    * only compared against thresholds — the q_bh_fdr discipline.
    */
  def qDunnPosthoc(s: SparkSession, dir: String): DataFrame = {
    val (sums, ties) = rankSums(Tables.documents(s, dir))
    val groups = sums
      .select(col("source"), col("n_j"), (col("r_j") / col("n_j")).as("rbar"))
    val tot = groups.agg(sum(col("n_j")).as("nn"))
    val pairs = groups.select(col("source").as("src_a"),
        col("n_j").as("na"), col("rbar").as("ra"))
      .join(broadcast(groups.select(col("source").as("src_b"),
        col("n_j").as("nb"), col("rbar").as("rb"))),
        col("src_a") < col("src_b"))
      .crossJoin(broadcast(tot)).crossJoin(broadcast(ties))
    val n = col("nn").cast("double")
    val sig2 = (n * (n + 1.0) / 12.0
      - col("t").cast("double") / (lit(12.0) * (n - 1.0)))
    val z = (col("ra") - col("rb")) /
      sqrt(sig2 * (lit(1.0) / col("na") + lit(1.0) / col("nb")))
    val tests = pairs.select(col("src_a"), col("src_b"), z.as("z"))
      .withColumn("p", NumFns.normTwoSidedP(col("z")))
    bhReport(tests, 4, "src_a", "src_b")
  }

  val qDunnPosthocOracle: String =
    s"""WITH $rankSumsSql,
       |tt AS (SELECT CAST(sum(n_j) AS BIGINT) AS nn FROM groups),
       |pr AS (
       |  SELECT a.source AS src_a, b.source AS src_b,
       |    (a.r_j / a.n_j - b.r_j / b.n_j) / sqrt(
       |      (CAST(nn AS DOUBLE) * (nn + 1.0) / 12.0
       |        - CAST(t AS DOUBLE) / (12.0 * (nn - 1.0)))
       |      * (1.0 / a.n_j + 1.0 / b.n_j)) AS z
       |  FROM groups a JOIN groups b ON a.source < b.source
       |  CROSS JOIN tt CROSS JOIN ties
       |),
       |pp AS (SELECT *, ${NumFns.normTwoSidedPSql("z")} AS p FROM pr),
       |${bhReportSql("pp", 4, "src_a, src_b")}""".stripMargin

  /** Join-key skew audit for the two hottest fact keys (lineitem.
    * partkey, orders.custkey): per key, the row count distribution
    * over keys — max share, p99/median ratio, max/mean skew factor —
    * THE "do I need to salt this join?" pre-flight (q_skew_salted_join
    * and q_join_skew EXECUTE the mitigation; this measures whether a
    * key needs it, which at 100 TB you check before burning the
    * shuffle). Shape: per key, fact → (key,cnt) cells →
    * count-of-counts frame (bounded by distinct-count values); median
    * and p99 are rank-from-counts picks over THAT frame (exclusive
    * prefix, never a row sort); two report rows union.
    */
  def qKeySkewAudit(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    def audit(keyed: DataFrame, label: String): DataFrame = {
      val cells = keyed.groupBy(col("k")).agg(count(lit(1)).as("cnt"))
      val cc = cells.groupBy(col("cnt")).agg(count(lit(1)).as("nk"))
      val tot = cc.agg(sum(col("nk")).as("n_keys"),
        sum(col("cnt") * col("nk")).as("n_rows"),
        max(col("cnt")).as("max_cnt"))
      val wCum = Window.orderBy(col("cnt"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val ranked = cc.crossJoin(broadcast(tot))
        .withColumn("cum", sum(col("nk")).over(wCum))
      def rankPick(q: Double) = ranked
        .filter(col("cum") >= ceil(lit(q) * col("n_keys")))
        .agg(min(col("cnt")))
      val med = rankPick(0.5).withColumnRenamed("min(cnt)", "median_cnt")
      val p99 = rankPick(0.99).withColumnRenamed("min(cnt)", "p99_cnt")
      tot.crossJoin(broadcast(med)).crossJoin(broadcast(p99))
        .select(lit(label).as("key"), col("n_keys"), col("n_rows"),
          col("max_cnt"), col("median_cnt"), col("p99_cnt"),
          NumFns.roundPortable(
            col("max_cnt").cast("double") / col("n_rows"), 6)
            .as("max_share"),
          NumFns.roundPortable(
            col("p99_cnt").cast("double") / col("median_cnt"), 4)
            .as("p99_over_median"),
          NumFns.roundPortable(
            col("max_cnt").cast("double")
              / (col("n_rows").cast("double") / col("n_keys")), 4)
            .as("max_over_mean"))
    }
    audit(Tables.lineitem(s, dir).select(col("l_partkey").as("k")),
        "lineitem.partkey")
      .union(audit(Tables.orders(s, dir).select(col("o_custkey").as("k")),
        "orders.custkey"))
      .orderBy(col("key"))
  }

  val qKeySkewAuditOracle: String = {
    def auditSql(table: String, keyCol: String, label: String) =
      s"""SELECT '$label' AS key, n_keys, n_rows, max_cnt, median_cnt,
         |  p99_cnt,
         |  ${NumFns.roundPortableSql(
              "CAST(max_cnt AS DOUBLE) / n_rows", 6)} AS max_share,
         |  ${NumFns.roundPortableSql(
              "CAST(p99_cnt AS DOUBLE) / median_cnt", 4)} AS p99_over_median,
         |  ${NumFns.roundPortableSql(
              "CAST(max_cnt AS DOUBLE) / (CAST(n_rows AS DOUBLE) / n_keys)",
              4)} AS max_over_mean
         |FROM (
         |  WITH cells AS (
         |    SELECT $keyCol AS k, count(*) AS cnt FROM $table GROUP BY 1
         |  ),
         |  cc AS (SELECT cnt, count(*) AS nk FROM cells GROUP BY cnt),
         |  tot AS (
         |    SELECT CAST(sum(nk) AS BIGINT) AS n_keys,
         |      CAST(sum(cnt * nk) AS BIGINT) AS n_rows,
         |      CAST(max(cnt) AS BIGINT) AS max_cnt
         |    FROM cc
         |  ),
         |  rk AS (
         |    SELECT cnt, n_keys,
         |      sum(nk) OVER (ORDER BY cnt
         |        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
         |    FROM cc CROSS JOIN tot
         |  )
         |  SELECT n_keys, n_rows, max_cnt,
         |    (SELECT CAST(min(cnt) AS BIGINT) FROM rk
         |      WHERE cum >= ceil(0.5 * n_keys)) AS median_cnt,
         |    (SELECT CAST(min(cnt) AS BIGINT) FROM rk
         |      WHERE cum >= ceil(0.99 * n_keys)) AS p99_cnt
         |  FROM tot
         |)""".stripMargin
    s"""SELECT * FROM (
       |${auditSql("lineitem", "l_partkey", "lineitem.partkey")}
       |UNION ALL
       |${auditSql("orders", "o_custkey", "orders.custkey")}
       |) ORDER BY key""".stripMargin
  }

  /** Referential-integrity audit over the star schema's four fact→dim
    * arcs: child rows/keys vs orphaned rows/keys per relationship —
    * the first data-quality gate a warehouse load runs (q_fd_violations
    * audits FUNCTIONAL dependencies inside a table; this audits the
    * JOIN contracts between tables, the thing that silently turns
    * inner joins into row loss at 100 TB). Shape: per arc, the child
    * collapses to its distinct key frame FIRST, the anti-join runs on
    * that dimension-sized frame (shuffle keys, not facts), and orphan
    * ROW counts reuse the same key cells — one fact scan per arc, a
    * 4-row report.
    */
  def qRefIntegrity(s: SparkSession, dir: String): DataFrame = {
    def arc(child: DataFrame, key: String, parent: DataFrame,
        pkey: String, label: String): DataFrame = {
      val cells = child.groupBy(col(key).as("k")).agg(count(lit(1)).as("cnt"))
        .localCheckpoint()
      val orphans = cells.join(parent.select(col(pkey).as("k")),
        Seq("k"), "left_anti")
      val t = cells.agg(sum(col("cnt")).as("n_rows"),
        count(lit(1)).as("n_keys"))
      val o = orphans.agg(coalesce(sum(col("cnt")), lit(0L))
        .as("n_orphan_rows"), count(lit(1)).as("n_orphan_keys"))
      t.crossJoin(broadcast(o))
        .select(lit(label).as("arc"), col("n_rows"), col("n_keys"),
          col("n_orphan_rows"), col("n_orphan_keys"),
          (col("n_orphan_rows") === 0L).as("intact"))
    }
    arc(Tables.lineitem(s, dir), "l_orderkey", Tables.orders(s, dir),
        "o_orderkey", "lineitem->orders")
      .union(arc(Tables.lineitem(s, dir), "l_suppkey",
        Tables.supplier(s, dir), "s_suppkey", "lineitem->supplier"))
      .union(arc(Tables.lineitem(s, dir), "l_partkey", Tables.part(s, dir),
        "p_partkey", "lineitem->part"))
      .union(arc(Tables.orders(s, dir), "o_custkey",
        Tables.customer(s, dir), "c_custkey", "orders->customer"))
      .orderBy(col("arc"))
  }

  val qRefIntegrityOracle: String = {
    def arcSql(child: String, key: String, parent: String, pkey: String,
        label: String) =
      s"""SELECT '$label' AS arc,
         |  CAST(sum(cnt) AS BIGINT) AS n_rows,
         |  count(*) AS n_keys,
         |  CAST(coalesce(sum(CASE WHEN orphan THEN cnt END), 0) AS BIGINT)
         |    AS n_orphan_rows,
         |  CAST(sum(CASE WHEN orphan THEN 1 ELSE 0 END) AS BIGINT)
         |    AS n_orphan_keys,
         |  coalesce(sum(CASE WHEN orphan THEN cnt END), 0) = 0 AS intact
         |FROM (
         |  SELECT $key AS k, count(*) AS cnt,
         |    $key NOT IN (SELECT $pkey FROM $parent) AS orphan
         |  FROM $child GROUP BY 1
         |)""".stripMargin
    s"""SELECT * FROM (
       |${arcSql("lineitem", "l_orderkey", "orders", "o_orderkey",
          "lineitem->orders")}
       |UNION ALL
       |${arcSql("lineitem", "l_suppkey", "supplier", "s_suppkey",
          "lineitem->supplier")}
       |UNION ALL
       |${arcSql("lineitem", "l_partkey", "part", "p_partkey",
          "lineitem->part")}
       |UNION ALL
       |${arcSql("orders", "o_custkey", "customer", "c_custkey",
          "orders->customer")}
       |) ORDER BY arc""".stripMargin
  }

  /** Fixed seed parameters for [[qEmStep]] (means in ln-dollars,
    * unit variance, equal weights — the q_kmeans_step seeding
    * convention: deterministic, engine-identical).
    */
  val EmMu1 = 10.0
  val EmMu2 = 12.0

  /** One EM step for a two-component Gaussian mixture on ln(order
    * value) — distribution FITTING as a single distributed pass, the
    * mixture sibling of q_kmeans_step's hard-assignment Lloyd step
    * (EM's soft responsibilities are what k-means throws away; the
    * updated weight says how big the second mode actually is).
    * With σ=1 and equal seeds the responsibility is an exact logistic
    * in x, spelled identically on both engines; all five sufficient
    * statistics (Σr, Σrx, Σrx², Σx, Σx²) fold per-term in DECIMAL so
    * the M-step update is order-independent; the new σ² comes from
    * the same stats with cleared means — no second pass.
    */
  def qEmStep(s: SparkSession, dir: String): DataFrame = {
    val xs = Tables.orders(s, dir)
      .select(log(col("o_totalprice")).as("x"))
    // r = P(component 2 | x) = logistic((mu2-mu1)*x + (mu1^2-mu2^2)/2)
    val a = EmMu2 - EmMu1
    val b = (EmMu1 * EmMu1 - EmMu2 * EmMu2) / 2.0
    val r = lit(1.0) / (lit(1.0) + exp(-(lit(a) * col("x") + lit(b))))
    val m = xs.select(col("x"), r.as("r"))
      .agg(count(lit(1)).as("n"),
        sum(col("r").cast(Dec12)).as("sr"),
        sum((col("r") * col("x")).cast(Dec12)).as("srx"),
        sum((col("r") * col("x") * col("x")).cast(Dec12)).as("srxx"),
        sum(col("x").cast(Dec12)).as("sx"),
        sum((col("x") * col("x")).cast(Dec12)).as("sxx"))
    val nD = col("n").cast("double")
    val sr = col("sr").cast("double")
    val srx = col("srx").cast("double")
    val srxx = col("srxx").cast("double")
    val sx = col("sx").cast("double")
    val sxx = col("sxx").cast("double")
    val w = sr / nD
    val mu2 = srx / sr
    val mu1 = (sx - srx) / (nD - sr)
    val sig2 = (srxx - srx * srx / sr
      + (sxx - srxx) - (sx - srx) * (sx - srx) / (nD - sr)) / nD
    m.select(col("n").as("n_orders"),
      NumFns.roundPortable(w, 6).as("w2_new"),
      NumFns.roundPortable(mu1, 6).as("mu1_new"),
      NumFns.roundPortable(mu2, 6).as("mu2_new"),
      NumFns.roundPortable(sqrt(sig2), 6).as("sigma_new"))
  }

  val qEmStepOracle: String = {
    val a = EmMu2 - EmMu1
    val b = (EmMu1 * EmMu1 - EmMu2 * EmMu2) / 2.0
    s"""WITH xs AS (SELECT ln(o_totalprice) AS x FROM orders),
       |rr AS (
       |  SELECT x, 1.0 / (1.0 + exp(-($a * x + $b))) AS r FROM xs
       |),
       |m AS (
       |  SELECT count(*) AS n,
       |    CAST(sum(CAST(r AS DECIMAL(38,12))) AS DOUBLE) AS sr,
       |    CAST(sum(CAST(r * x AS DECIMAL(38,12))) AS DOUBLE) AS srx,
       |    CAST(sum(CAST(r * x * x AS DECIMAL(38,12))) AS DOUBLE) AS srxx,
       |    CAST(sum(CAST(x AS DECIMAL(38,12))) AS DOUBLE) AS sx,
       |    CAST(sum(CAST(x * x AS DECIMAL(38,12))) AS DOUBLE) AS sxx
       |  FROM rr
       |),
       |u AS (
       |  SELECT n,
       |    sr / n AS w,
       |    (sx - srx) / (n - sr) AS mu1,
       |    srx / sr AS mu2,
       |    (srxx - srx * srx / sr
       |      + (sxx - srxx) - (sx - srx) * (sx - srx) / (n - sr)) / n
       |      AS sig2
       |  FROM m
       |)
       |SELECT n AS n_orders,
       |  ${NumFns.roundPortableSql("w", 6)} AS w2_new,
       |  ${NumFns.roundPortableSql("mu1", 6)} AS mu1_new,
       |  ${NumFns.roundPortableSql("mu2", 6)} AS mu2_new,
       |  ${NumFns.roundPortableSql("sqrt(sig2)", 6)} AS sigma_new
       |FROM u""".stripMargin
  }

  /** Benford expected second-digit probabilities, computed ONCE in
    * Scala and interpolated into both engines as identical literals.
    */
  val Benford2P: Seq[Double] = (0 to 9).map { d2 =>
    (1 to 9).map(d1 => math.log10(1.0 + 1.0 / (10 * d1 + d2))).sum
  }

  /** Second-digit Benford conformance of order values — the forensic
    * follow-up to q_benford's first-digit screen (fabricators who
    * learn the first-digit law almost never match the much flatter
    * second-digit distribution; auditors test both). The digit comes
    * from the integer-cents string (a ×100 shift preserves
    * significant digits exactly — no log10/floor boundary hazards),
    * the expected probabilities are Scala-computed literals shared
    * verbatim with the oracle, and the χ² (9 dof) folds per-digit
    * DECIMAL terms over the 10-row digit frame.
    */
  def qBenfordSecond(s: SparkSession, dir: String): DataFrame = {
    val digits = Tables.orders(s, dir)
      .select(substring(
        NumFns.roundAwayLong(col("o_totalprice") * 100).cast("string"), 2, 1)
        .cast("long").as("d2"))
      .filter(col("d2").isNotNull)
      .groupBy(col("d2")).agg(count(lit(1)).as("o"))
    val pExpr = element_at(array(Benford2P.map(lit): _*),
      (col("d2") + 1).cast("int"))
    val tot = digits.agg(sum(col("o")).as("n"))
    val terms = digits.crossJoin(broadcast(tot))
      .withColumn("p", pExpr)
      .withColumn("x", (((col("o") - col("n") * col("p"))
        * (col("o") - col("n") * col("p")))
        / (col("n") * col("p"))).cast(Dec12))
    val chi2 = terms.agg(sum(col("x")).as("chi2"))
    terms.crossJoin(broadcast(chi2))
      .select(col("d2").as("digit"), col("o").as("n_obs"),
        NumFns.roundPortable(col("o").cast("double") / col("n"), 6)
          .as("share"),
        NumFns.roundPortable(col("p"), 6).as("benford_p"),
        NumFns.roundPortable(col("chi2").cast("double"), 4).as("chi2_total"))
      .orderBy(col("digit"))
  }

  val qBenfordSecondOracle: String = {
    val pCase = Benford2P.zipWithIndex
      .map { case (pv, d) => s"WHEN d2 = $d THEN $pv" }
      .mkString("\n       |      ")
    s"""WITH dg AS (
       |  SELECT CAST(substr(CAST(CAST(round(o_totalprice * 100) AS BIGINT)
       |      AS VARCHAR), 2, 1) AS BIGINT) AS d2
       |  FROM orders
       |),
       |c AS (
       |  SELECT d2, count(*) AS o FROM dg WHERE d2 IS NOT NULL GROUP BY 1
       |),
       |tt AS (SELECT CAST(sum(o) AS BIGINT) AS n FROM c),
       |tm AS (
       |  SELECT d2, o, n,
       |    CAST(CASE $pCase END AS DOUBLE) AS p
       |  FROM c CROSS JOIN tt
       |),
       |x AS (
       |  SELECT d2, o, n, p,
       |    CAST((o - n * p) * (o - n * p) / (n * p) AS DECIMAL(38,12)) AS x
       |  FROM tm
       |),
       |ch AS (SELECT CAST(sum(x) AS DOUBLE) AS chi2 FROM x)
       |SELECT d2 AS digit, o AS n_obs,
       |  ${NumFns.roundPortableSql("CAST(o AS DOUBLE) / n", 6)} AS share,
       |  ${NumFns.roundPortableSql("p", 6)} AS benford_p,
       |  ${NumFns.roundPortableSql("chi2", 4)} AS chi2_total
       |FROM x CROSS JOIN ch
       |ORDER BY digit""".stripMargin
  }

  /** Negative-binomial method-of-moments fit of per-customer order
    * counts: r̂ = m²/(s²−m), p̂ = r̂/(r̂+m) — the heterogeneity MODEL
    * on top of q_poisson_dispersion's verdict (dispersion says
    * "clumped"; the NB r says HOW heterogeneous the customer base is —
    * small r = a few whales dominate, the same fact q_pareto_share
    * shows nonparametrically). Shape: customer-count cells → two
    * DECIMAL(38,0) moments, scalar fit; r̂ is NULL when the data is
    * UNDER-dispersed (v ≤ m), where no NB exists — mirrored on both
    * engines.
    */
  def qNegbinFit(s: SparkSession, dir: String): DataFrame = {
    val counts = Tables.orders(s, dir)
      .groupBy(col("o_custkey")).agg(count(lit(1)).as("c"))
    val (mean, vr) = (col("mean"), col("vr"))
    val r = when(vr > mean, mean * mean / (vr - mean))
    val pp = when(vr > mean, mean * mean / (vr - mean)
      / (mean * mean / (vr - mean) + mean))
    countMoments(counts).select(col("n").as("n_customers"),
      NumFns.roundPortable(mean, 4).as("mean_orders"),
      NumFns.roundPortable(vr, 4).as("var_orders"),
      NumFns.roundPortable(r, 4).as("nb_r"),
      NumFns.roundPortable(pp, 6).as("nb_p"),
      (vr > mean).as("overdispersed"))
  }

  val qNegbinFitOracle: String =
    s"""WITH counts AS (
       |  SELECT o_custkey, count(*) AS c FROM orders GROUP BY 1
       |),
       |${countMomentsSql("counts")}
       |SELECT n AS n_customers,
       |  ${NumFns.roundPortableSql("mean", 4)} AS mean_orders,
       |  ${NumFns.roundPortableSql("vr", 4)} AS var_orders,
       |  ${NumFns.roundPortableSql(
            "CASE WHEN vr > mean THEN mean * mean / (vr - mean) END", 4)}
       |    AS nb_r,
       |  ${NumFns.roundPortableSql(
            "CASE WHEN vr > mean THEN (mean * mean / (vr - mean))" +
              " / (mean * mean / (vr - mean) + mean) END", 6)} AS nb_p,
       |  vr > mean AS overdispersed
       |FROM st""".stripMargin

  /** Storey λ for the π₀ estimate. */
  val StoreyLambda = 0.5

  /** Storey's null-proportion estimate over the shared test battery:
    * π̂₀ = #{p > λ}/((1−λ)·m) at λ = 0.5, with the adaptive-BH
    * discovery count it implies — the sharpening on top of q_bh_fdr
    * (plain BH assumes EVERY hypothesis might be null and over-
    * corrects by 1/π₀ when most tests are real effects; metrics
    * batteries at scale are usually mostly-null, and π̂₀ says which
    * regime this one is in). Shape: the battery frame is
    * dimension-sized; the estimate is two counts, and the adaptive
    * pass reuses the rank-by-|z| BH discipline (p only ever compared
    * to thresholds).
    */
  def qStoreyPi0(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val ranked = rankTests(testBattery(s, dir), "event_type", "cohort")
      .withColumn("nlam", sum(when(col("p") > StoreyLambda, 1L).otherwise(0L))
        .over(Window.partitionBy()))
    val pi0 = least(lit(1.0),
      col("nlam").cast("double") / (col("m") * (1.0 - StoreyLambda)))
    stepUp(ranked.withColumn("pi0", pi0), col("pi0") * col("m"))
      .agg(max(col("m")).as("m"), max(col("nlam")).as("n_above_lambda"),
        NumFns.roundPortable(max(col("pi0")), 6).as("pi0_hat"),
        max(col("k_star")).as("adaptive_discoveries"))
      .select(col("m").as("n_tests"), col("n_above_lambda"),
        col("pi0_hat"), col("adaptive_discoveries"))
  }

  val qStoreyPi0Oracle: String =
    s"""WITH $testBatterySql, ${rankTestsSql("sc", "event_type, cohort",
            s"CAST(sum(CASE WHEN p > $StoreyLambda THEN 1 ELSE 0 END) OVER () AS BIGINT) AS nlam")},
       |e AS (
       |  SELECT *,
       |    least(1.0, CAST(nlam AS DOUBLE) / ((1.0 - $StoreyLambda) * m))
       |      AS pi0
       |  FROM r
       |),
       |${stepUpSql("e", "(pi0 * m)")}
       |SELECT max(m) AS n_tests, max(nlam) AS n_above_lambda,
       |  ${NumFns.roundPortableSql("max(pi0)", 6)} AS pi0_hat,
       |  CAST(max(k_star) AS BIGINT) AS adaptive_discoveries
       |FROM f""".stripMargin

  /** Partial correlation of line revenue and quantity CONTROLLING for
    * discount: r_xy·z = (r_xy − r_xz·r_yz)/√((1−r_xz²)(1−r_yz²)) —
    * the "is the raw correlation real or routed through a third
    * variable?" one-liner under q_corr (which reports the marginal
    * only). Shape: one scan → nine quantized integer moments (cents /
    * integer quantity / discount permille — DECIMAL(38,0) exact);
    * the three pairwise correlations clear denominators before IEEE
    * (qGranger discipline); scalar algebra after.
    */
  def qPartialCorr(s: SparkSession, dir: String): DataFrame = {
    val rows = Tables.lineitem(s, dir)
      .select(NumFns.roundAwayLong(col("l_extendedprice") * 100).as("x"),
        col("l_quantity").cast("long").as("y"),
        NumFns.roundAwayLong(col("l_discount") * 1000).as("z"))
    val m = rows.agg(count(lit(1)).cast(Dec0).as("n"),
      sum(col("x").cast(Dec0)).as("sx"), sum(col("y").cast(Dec0)).as("sy"),
      sum(col("z").cast(Dec0)).as("sz"),
      sum(col("x").cast(Dec0) * col("x")).as("sxx"),
      sum(col("y").cast(Dec0) * col("y")).as("syy"),
      sum(col("z").cast(Dec0) * col("z")).as("szz"),
      sum(col("x").cast(Dec0) * col("y")).as("sxy"),
      sum(col("x").cast(Dec0) * col("z")).as("sxz"),
      sum(col("y").cast(Dec0) * col("z")).as("syz"))
    def cc(sab: String, sa: String, sb: String, saa: String, sbb: String) =
      (col("n") * col(sab) - col(sa) * col(sb)).cast("double") /
        (sqrt((col("n") * col(saa) - col(sa) * col(sa)).cast("double"))
          * sqrt((col("n") * col(sbb) - col(sb) * col(sb)).cast("double")))
    val rxy = cc("sxy", "sx", "sy", "sxx", "syy")
    val rxz = cc("sxz", "sx", "sz", "sxx", "szz")
    val ryz = cc("syz", "sy", "sz", "syy", "szz")
    val partial = (rxy - rxz * ryz) /
      sqrt((lit(1.0) - rxz * rxz) * (lit(1.0) - ryz * ryz))
    m.select(col("n").cast("long").as("n_rows"),
      NumFns.roundPortable(rxy, 6).as("r_price_qty"),
      NumFns.roundPortable(rxz, 6).as("r_price_disc"),
      NumFns.roundPortable(ryz, 6).as("r_qty_disc"),
      NumFns.roundPortable(partial, 6).as("partial_r"))
  }

  val qPartialCorrOracle: String = {
    def ccSql(sab: String, sa: String, sb: String, saa: String,
        sbb: String) =
      s"CAST(n * $sab - $sa * $sb AS DOUBLE)" +
        s" / (sqrt(CAST(n * $saa - $sa * $sa AS DOUBLE))" +
        s" * sqrt(CAST(n * $sbb - $sb * $sb AS DOUBLE)))"
    val rxy = ccSql("sxy", "sx", "sy", "sxx", "syy")
    val rxz = ccSql("sxz", "sx", "sz", "sxx", "szz")
    val ryz = ccSql("syz", "sy", "sz", "syy", "szz")
    s"""WITH rows0 AS (
       |  SELECT CAST(round(l_extendedprice * 100) AS BIGINT) AS x,
       |    CAST(l_quantity AS BIGINT) AS y,
       |    CAST(round(l_discount * 1000) AS BIGINT) AS z
       |  FROM lineitem
       |),
       |m AS (
       |  SELECT CAST(count(*) AS HUGEINT) AS n,
       |    sum(CAST(x AS HUGEINT)) AS sx, sum(CAST(y AS HUGEINT)) AS sy,
       |    sum(CAST(z AS HUGEINT)) AS sz,
       |    sum(CAST(x AS HUGEINT) * x) AS sxx,
       |    sum(CAST(y AS HUGEINT) * y) AS syy,
       |    sum(CAST(z AS HUGEINT) * z) AS szz,
       |    sum(CAST(x AS HUGEINT) * y) AS sxy,
       |    sum(CAST(x AS HUGEINT) * z) AS sxz,
       |    sum(CAST(y AS HUGEINT) * z) AS syz
       |  FROM rows0
       |),
       |r AS (
       |  SELECT CAST(n AS BIGINT) AS n_rows,
       |    $rxy AS rxy, $rxz AS rxz, $ryz AS ryz
       |  FROM m
       |)
       |SELECT n_rows,
       |  ${NumFns.roundPortableSql("rxy", 6)} AS r_price_qty,
       |  ${NumFns.roundPortableSql("rxz", 6)} AS r_price_disc,
       |  ${NumFns.roundPortableSql("ryz", 6)} AS r_qty_disc,
       |  ${NumFns.roundPortableSql(
            "(rxy - rxz * ryz)" +
              " / sqrt((1.0 - rxz * rxz) * (1.0 - ryz * ryz))", 6)}
       |    AS partial_r
       |FROM r""".stripMargin
  }

  /** Length thresholds probed by [[qDkwBand]] (chars). */
  val DkwPoints = Seq(100L, 200L, 300L, 400L, 500L, 700L, 1000L)

  /** Distribution-free DKW confidence band for the document-length
    * ECDF: F̂(x) ± ε with ε = √(ln(2/α)/2n) at α = 0.05, evaluated at
    * seven fixed length points — the UNIFORM uncertainty statement
    * under every CDF-derived gate in the suite (q_ks_drift thresholds,
    * q_length_outliers cuts): any true CDF lies inside the band with
    * 95 % confidence, no distributional assumption. Shape: seven
    * conditional counts in ONE scan (the q_pr_curve sweep shape);
    * everything after is scalar.
    */
  def qDkwBand(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir).select(col("n_chars"))
    val aggCols = count(lit(1)).as("n") +: DkwPoints.map(x =>
      sum((col("n_chars") <= x).cast("long")).as(s"c$x"))
    val aggs = docs.agg(aggCols.head, aggCols.tail: _*)
    val eps = sqrt(lit(math.log(2.0 / 0.05)) / (col("n") * 2.0))
    val rows = DkwPoints.map { x =>
      aggs.select(lit(x).as("x"), col("n"),
        (col(s"c$x").cast("double") / col("n")).as("f"))
        .select(col("x"), col("n").as("n_docs"),
          NumFns.roundPortable(col("f"), 6).as("ecdf"),
          NumFns.roundPortable(greatest(lit(0.0), col("f") - eps), 6)
            .as("band_lo"),
          NumFns.roundPortable(least(lit(1.0), col("f") + eps), 6)
            .as("band_hi"))
    }
    rows.reduce(_ union _).orderBy(col("x"))
  }

  val qDkwBandOracle: String = {
    val lnTerm = math.log(2.0 / 0.05)
    val rows = DkwPoints.map { x =>
      s"""SELECT CAST($x AS BIGINT) AS x, n AS n_docs,
         |  ${NumFns.roundPortableSql(s"CAST(c$x AS DOUBLE) / n", 6)}
         |    AS ecdf,
         |  ${NumFns.roundPortableSql(
              s"greatest(0.0, CAST(c$x AS DOUBLE) / n" +
                s" - sqrt($lnTerm / (n * 2.0)))", 6)} AS band_lo,
         |  ${NumFns.roundPortableSql(
              s"least(1.0, CAST(c$x AS DOUBLE) / n" +
                s" + sqrt($lnTerm / (n * 2.0)))", 6)} AS band_hi
         |FROM m""".stripMargin
    }.mkString("\nUNION ALL\n")
    val cs = DkwPoints.map(x =>
      s"CAST(sum(CASE WHEN n_chars <= $x THEN 1 ELSE 0 END) AS BIGINT)" +
        s" AS c$x").mkString(",\n       |    ")
    s"""WITH m AS (
       |  SELECT count(*) AS n,
       |    $cs
       |  FROM documents
       |)
       |SELECT * FROM (
       |$rows
       |) ORDER BY x""".stripMargin
  }

  /** Excess thresholds for [[qMeanResidualLife]], dollars. */
  val MrlThresholds = Seq(100000L, 200000L, 300000L, 400000L, 500000L)

  /** Mean-residual-life curve of order values: E[X−u | X>u] at five
    * thresholds — the EVT diagnostic that VALIDATES q_pot_gpd's model
    * choice (for a GPD tail the MRL is LINEAR in u with slope
    * ξ/(1−ξ); curvature here says the threshold is too low and the
    * fitted tail is fiction). Shape: five conditional integer-cents
    * sums in one scan (exceedance counts + excess mass per u, exact
    * in DECIMAL(38,0)); the curve is five ratios.
    */
  def qMeanResidualLife(s: SparkSession, dir: String): DataFrame = {
    val vals = Tables.orders(s, dir)
      .select(NumFns.roundAwayLong(col("o_totalprice") * 100).as("v"))
    val aggCols = count(lit(1)).as("n") +: MrlThresholds.flatMap { u =>
      val uc = u * 100
      Seq(sum(when(col("v") > uc, 1L).otherwise(0L)).as(s"k$u"),
        sum(when(col("v") > uc, (col("v") - uc).cast(Dec0))
          .otherwise(lit(0L).cast(Dec0))).as(s"e$u"))
    }
    val aggs = vals.agg(aggCols.head, aggCols.tail: _*)
    val rows = MrlThresholds.map { u =>
      aggs.select(lit(u).as("threshold"), col(s"k$u").as("n_exceed"),
        NumFns.roundPortable(
          when(col(s"k$u") > 0,
            col(s"e$u").cast("double") / col(s"k$u") / 100.0), 2)
          .as("mean_excess"))
    }
    rows.reduce(_ union _).orderBy(col("threshold"))
  }

  val qMeanResidualLifeOracle: String = {
    val cs = MrlThresholds.flatMap { u =>
      val uc = u * 100
      Seq(s"CAST(sum(CASE WHEN v > $uc THEN 1 ELSE 0 END) AS BIGINT)" +
        s" AS k$u",
        s"sum(CASE WHEN v > $uc THEN CAST(v - $uc AS HUGEINT)" +
          s" ELSE 0 END) AS e$u")
    }.mkString(",\n       |    ")
    val rows = MrlThresholds.map { u =>
      s"""SELECT CAST($u AS BIGINT) AS threshold, k$u AS n_exceed,
         |  ${NumFns.roundPortableSql(
              s"CASE WHEN k$u > 0 THEN" +
                s" CAST(e$u AS DOUBLE) / k$u / 100.0 END", 2)}
         |    AS mean_excess
         |FROM m""".stripMargin
    }.mkString("\nUNION ALL\n")
    s"""WITH vals AS (
       |  SELECT CAST(round(o_totalprice * 100) AS BIGINT) AS v FROM orders
       |),
       |m AS (
       |  SELECT count(*) AS n,
       |    $cs
       |  FROM vals
       |)
       |SELECT * FROM (
       |$rows
       |) ORDER BY threshold""".stripMargin
  }

  /** Cochran–Armitage trend test: does the RETURN RATE trend
    * monotonically across ordered quantity levels? — the ordered-
    * alternative version of q_chi2_independence/q_gtest (which only
    * say "dependent"): T = Σ sᵢ(aᵢ − nᵢp̄) with integer scores, Var =
    * p̄(1−p̄)(Σnᵢsᵢ² − (Σnᵢsᵢ)²/N) — concentrating all power on the
    * dose-response direction a pricing team actually asks about.
    * Shape: ≤50 (quantity → [returns, total]) cells from one scan;
    * every sum is exact DECIMAL(38,0)/HUGEINT integers with cleared
    * denominators; z/p scalar after, with the
    * [[Temporal.trendVerdict]] the Mann–Kendall tests share.
    */
  def qCochranArmitage(s: SparkSession, dir: String): DataFrame = {
    val cells = Tables.lineitem(s, dir)
      .select(col("l_quantity").cast("long").as("q"),
        (col("l_returnflag") === "R").cast("long").as("y"))
      .groupBy(col("q")).agg(count(lit(1)).as("n"), sum(col("y")).as("a"))
    val m = cells.agg(
      sum(col("n").cast(Dec0)).as("nn"), sum(col("a").cast(Dec0)).as("aa"),
      sum(col("n").cast(Dec0) * col("q")).as("ns"),
      sum(col("n").cast(Dec0) * col("q") * col("q")).as("nss"),
      sum(col("a").cast(Dec0) * col("q")).as("as_"),
      count(lit(1)).as("k"))
    val nD = col("nn").cast("double")
    val pbar = col("aa").cast("double") / nD
    // T cleared over N: N·T = N·Σs·a − Σs·n·ΣA  (exact integers)
    val tN = (col("nn") * col("as_") - col("ns") * col("aa")).cast("double")
    val varS = (col("nn") * col("nss") - col("ns") * col("ns")).cast("double")
    val z = tN / nD /
      sqrt(pbar * (lit(1.0) - pbar) * (varS / nD))
    m.select(Seq(col("k").as("n_levels"), col("nn").cast("long").as("n_rows"),
      NumFns.roundPortable(pbar, 6).as("overall_rate")) ++ Temporal.trendVerdict(z): _*)
  }

  val qCochranArmitageOracle: String =
    s"""WITH cells AS (
       |  SELECT CAST(l_quantity AS BIGINT) AS q, count(*) AS n,
       |    CAST(sum(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END)
       |      AS BIGINT) AS a
       |  FROM lineitem GROUP BY 1
       |),
       |m AS (
       |  SELECT count(*) AS k,
       |    sum(CAST(n AS HUGEINT)) AS nn, sum(CAST(a AS HUGEINT)) AS aa,
       |    sum(CAST(n AS HUGEINT) * q) AS ns,
       |    sum(CAST(n AS HUGEINT) * q * q) AS nss,
       |    sum(CAST(a AS HUGEINT) * q) AS as_
       |  FROM cells
       |),
       |c AS (
       |  SELECT k, nn,
       |    CAST(aa AS DOUBLE) / CAST(nn AS DOUBLE) AS pbar,
       |    CAST(nn * as_ - ns * aa AS DOUBLE) AS tn,
       |    CAST(nn * nss - ns * ns AS DOUBLE) AS vs
       |  FROM m
       |),
       |zz AS (
       |  SELECT k, nn, pbar,
       |    tn / CAST(nn AS DOUBLE)
       |      / sqrt(pbar * (1.0 - pbar) * (vs / CAST(nn AS DOUBLE))) AS z
       |  FROM c
       |)
       |SELECT k AS n_levels, CAST(nn AS BIGINT) AS n_rows,
       |  ${NumFns.roundPortableSql("pbar", 6)} AS overall_rate,
       |  ${Temporal.trendVerdictSql("z")}
       |FROM zz""".stripMargin
}
