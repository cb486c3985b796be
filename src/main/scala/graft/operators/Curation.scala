package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.{NumFns, TextFns}
import graft.sources.Tables

/** Corpus-curation operators — the selection/splitting/cleaning stages of
  * a training-data pipeline (SURVEY.md §2, table 3). All determinism
  * comes from md5-prefix hashing (bit-identical on Spark and DuckDB, see
  * TextFns), so sampling and splits are reproducible, content-addressed
  * decisions rather than RNG state — the only kind of sampling that is
  * re-runnable at 100 TB and auditable afterwards.
  *
  * Every operator here is a scan-side projection (+ at most one window or
  * aggregation): no corpus self-joins, no driver-side logic.
  */
object Curation {

  private val toksSql = TextFns.toksSql
  private def hash28Sql(x: String) = TextFns.hash28Sql(x)

  /** Stopword set shared by the Gopher rules and the quality classifier.
    * Spliced into the oracle SQL below (never hand-copied) so the two
    * engines cannot silently drift.
    */
  val StopWords = Seq("the", "a", "of", "and", "to")
  val stopListSql: String = StopWords.map(w => s"'$w'").mkString(", ")

  /** Email-matching regex shared by [[qTextRedact]], its oracle, and the
    * production scrub in [[graft.CuratePipeline]] — one definition, no
    * drifted copies. The pattern is POSIX-basic on purpose: identical
    * semantics under Spark's Java regex and DuckDB's RE2.
    */
  val EmailRe = "[a-z0-9._]+@[a-z0-9.]+"

  /** Uniform [0, mod) draw keyed on (salt, doc_id) — content-addressed
    * randomness both engines compute identically.
    */
  private def draw(salt: String, mod: Int) =
    TextFns.hash28(concat(lit(s"$salt:"), col("doc_id").cast("string"))) % mod

  private def drawSql(salt: String, mod: Int) =
    s"${hash28Sql(s"'$salt:' || CAST(doc_id AS VARCHAR)")} % $mod"

  /** Stratified sampling: per-source keep rates (20% for even-numbered
    * sources, 5% for odd) applied via the deterministic draw. At 100 TB
    * this is a pure scan-side filter — no shuffle at all, and re-running
    * it reproduces the exact same sample.
    */
  def qStratifiedSample(s: SparkSession, dir: String): DataFrame = {
    val srcNum = substring(col("source"), 4, 10).cast("int")
    val rate = when(srcNum % 2 === 0, 2000).otherwise(500) // per 10k
    Tables.documents(s, dir)
      .select(col("doc_id"), col("source"), draw("sample", 10000).as("u"))
      .filter(col("u") < rate)
      .orderBy(col("doc_id"))
  }

  val qStratifiedSampleOracle: String =
    s"""SELECT doc_id, source, ${drawSql("sample", 10000)} AS u
       |FROM documents
       |WHERE ${drawSql("sample", 10000)} <
       |  CASE WHEN CAST(substr(source, 4) AS INT) % 2 = 0 THEN 2000 ELSE 500 END
       |ORDER BY doc_id""".stripMargin

  /** Deterministic train/val/test split (80/10/10) + per-(source, split)
    * counts: the draw assigns each document a stable split, so the same
    * document can never leak across splits between runs. One
    * map-side-combined aggregation.
    */
  /** The content-addressed 80/10/10 split assignment — ONE definition
    * shared by the split report, decontamination, and the end-to-end
    * [[graft.CuratePipeline]].
    */
  def splitCol: org.apache.spark.sql.Column = {
    val u = draw("split", 100)
    when(u < 80, "train").when(u < 90, "val").otherwise("test")
  }

  /** SQL twin of [[splitCol]] — spliced into every oracle that needs the
    * split (here, decontamination, n-gram eval overlap), never copied.
    */
  val splitCaseSql: String =
    s"""CASE WHEN ${drawSql("split", 100)} < 80 THEN 'train'
       |       WHEN ${drawSql("split", 100)} < 90 THEN 'val'
       |       ELSE 'test' END""".stripMargin

  def qTrainTestSplit(s: SparkSession, dir: String): DataFrame = {
    Tables.documents(s, dir)
      .select(col("source"), splitCol.as("split"))
      .groupBy(col("source"), col("split"))
      .agg(count(lit(1)).as("n_docs"))
      .orderBy(col("source"), col("split"))
  }

  val qTrainTestSplitOracle: String =
    s"""SELECT source,
       |  $splitCaseSql AS split,
       |  count(*) AS n_docs
       |FROM documents
       |GROUP BY source, split
       |ORDER BY source, split""".stripMargin

  /** Text normalization: lowercase, strip non-alphanumerics, collapse
    * whitespace — emitted as a content fingerprint + normalized length
    * (the canonical form exact dedup and fingerprinting key on).
    */
  def qTextNormalize(s: SparkSession, dir: String): DataFrame = {
    val n0 = lower(trim(col("text")))
    val n1 = regexp_replace(n0, "[^a-z0-9 ]", "")
    val n2 = trim(regexp_replace(n1, " +", " "))
    Tables.documents(s, dir)
      .select(col("doc_id"), md5(n2).as("norm_fp"), length(n2).as("n_chars_norm"))
      .orderBy(col("doc_id"))
  }

  val qTextNormalizeOracle: String =
    """SELECT doc_id,
      |  md5(trim(regexp_replace(regexp_replace(lower(trim(text)), '[^a-z0-9 ]', '', 'g'), ' +', ' ', 'g'))) AS norm_fp,
      |  CAST(length(trim(regexp_replace(regexp_replace(lower(trim(text)), '[^a-z0-9 ]', '', 'g'), ' +', ' ', 'g'))) AS INTEGER) AS n_chars_norm
      |FROM documents
      |ORDER BY doc_id""".stripMargin

  /** PII redaction: scrub email addresses (synthesized onto every third
    * document so the operator has real work) with a fixed placeholder;
    * emits whether anything was redacted plus the redacted-content
    * fingerprint. Scan-side regexp_replace — codegen'd, zero shuffle.
    */
  def qTextRedact(s: SparkSession, dir: String): DataFrame = {
    val synth = when(col("doc_id") % 3 === 0,
      concat(col("text"), lit(" contact user"), col("doc_id").cast("string"),
        lit("@example.com"))).otherwise(col("text"))
    val redacted = regexp_replace(synth, EmailRe, "<EMAIL>")
    Tables.documents(s, dir)
      .select(col("doc_id"),
        (synth =!= redacted).as("was_redacted"),
        md5(redacted).as("redacted_fp"))
      .orderBy(col("doc_id"))
  }

  val qTextRedactOracle: String =
    s"""WITH t AS (
       |  SELECT doc_id,
       |    CASE WHEN doc_id % 3 = 0
       |         THEN text || ' contact user' || CAST(doc_id AS VARCHAR) || '@example.com'
       |         ELSE text END AS synth
       |  FROM documents
       |)
       |SELECT doc_id,
       |  synth != regexp_replace(synth, '$EmailRe', '<EMAIL>', 'g') AS was_redacted,
       |  md5(regexp_replace(synth, '$EmailRe', '<EMAIL>', 'g')) AS redacted_fp
       |FROM t
       |ORDER BY doc_id""".stripMargin

  /** Gopher-style rule-based quality filter: token count in range, mean
    * word length in range, bounded symbol ratio, and a minimum stopword
    * presence — each rule exposed as a column plus the composite keep
    * flag. Pure projection (the rules paper's filters are all per-doc
    * statistics).
    */
  def qGopherQuality(s: SparkSession, dir: String): DataFrame = {
    Tables.documents(s, dir)
      .select(col("doc_id"), col("text"), TextFns.tokens(col("text")).as("toks"))
      .select(col("doc_id"), col("text"),
        size(col("toks")).as("n_tokens"),
        aggregate(transform(col("toks"), t => length(t)), lit(0), (a, x) => a + x)
          .as("sum_word_len"),
        size(filter(col("toks"), t => t.isin(StopWords.map(w => lit(w): Any): _*)))
          .as("n_stop"))
      .select(col("doc_id"), col("n_tokens"),
        round(col("sum_word_len") / col("n_tokens"), 4).as("mean_word_len"),
        // stripping [a-zA-Z0-9 ] leaves exactly the symbol characters;
        // r13: the class is a finite ASCII set, so `translate` (per-char
        // dictionary lookup) replaces the regex scan + string rebuild —
        // identical count for every input (see qCharClasses). An empty
        // document has no ratio: NULL, as in qCharClasses, never 0/0
        when(length(col("text")) > 0,
          round(length(translate(col("text"),
              "abcdefghijklmnopqrstuvwxyzABCDEFGHIJKLMNOPQRSTUVWXYZ0123456789 ", ""))
            / length(col("text")), 4)).as("symbol_ratio"),
        col("n_stop"))
      .select(col("doc_id"), col("n_tokens"), col("mean_word_len"),
        col("symbol_ratio"), col("n_stop"),
        (col("n_tokens").between(5, 1000) &&
          col("mean_word_len").between(2.0, 10.0) &&
          col("symbol_ratio") <= 0.1 &&
          col("n_stop") >= 1).as("keep"))
      .orderBy(col("doc_id"))
  }

  val qGopherQualityOracle: String =
    s"""WITH t AS (SELECT doc_id, text, $toksSql AS toks FROM documents),
       |c AS (
       |  SELECT doc_id, text,
       |    len(toks) AS n_tokens,
       |    list_sum(list_transform(toks, x -> length(x))) AS sum_word_len,
       |    len(list_filter(toks, x -> x IN ($stopListSql))) AS n_stop
       |  FROM t
       |), m AS (
       |  SELECT doc_id, n_tokens,
       |    round(sum_word_len / n_tokens, 4) AS mean_word_len,
       |    CASE WHEN length(text) > 0 THEN round(length(regexp_replace(text, '[a-zA-Z0-9 ]', '', 'g'))
       |      / length(text), 4) END AS symbol_ratio,
       |    n_stop
       |  FROM c
       |)
       |SELECT doc_id, CAST(n_tokens AS INTEGER) AS n_tokens, mean_word_len, symbol_ratio, CAST(n_stop AS INTEGER) AS n_stop,
       |  (n_tokens BETWEEN 5 AND 1000 AND mean_word_len BETWEEN 2.0 AND 10.0
       |    AND symbol_ratio <= 0.1 AND n_stop >= 1) AS keep
       |FROM m
       |ORDER BY doc_id""".stripMargin

  /** Intra-document n-gram repetition (the "repeated lines/paragraphs"
    * dedup signal): 1 − distinct-trigrams / total-trigrams. High values
    * flag template/boilerplate documents even when no cross-document
    * duplicate exists.
    */
  def qNgramRepetition(s: SparkSession, dir: String): DataFrame = {
    // r13 (r12 verdict ask #6): only the distinct COUNT is needed, and
    // `size(array_distinct(...))` pays ArrayDistinct's non-primitive
    // fallback — an O(n²) interpreted linear-scan per trigram (10⁶
    // string compares for a 1k-token doc). Sorting the trigram array
    // (O(n log n) binary UTF8 compares) and counting adjacent-equal
    // boundaries yields the identical count: both equal the number of
    // distinct trigram strings. The sorted array is STAGED as a named
    // column (the q_tost_equivalence r12 lesson: CollapseProject keeps
    // non-cheap aliases staged, so the sort runs once, not once per
    // consumer).
    val tri = transform(
      sequence(lit(0), size(col("t")) - 3),
      i => concat_ws(" ", element_at(col("t"), i + 1),
        element_at(col("t"), i + 2), element_at(col("t"), i + 3)))
    Tables.documents(s, dir)
      .select(col("doc_id"), TextFns.tokens(col("text")).as("t"))
      .filter(size(col("t")) >= 3)
      .select(col("doc_id"), (size(col("t")) - 2).as("n_trigrams"),
        array_sort(tri).as("srt"))
      .select(col("doc_id"), col("n_trigrams"),
        (size(col("srt")) - when(size(col("srt")) >= 2,
          size(filter(sequence(lit(2), size(col("srt"))),
            i => element_at(col("srt"), i) === element_at(col("srt"), i - 1))))
          .otherwise(lit(0))).as("n_distinct"))
      .select(col("doc_id"), col("n_trigrams"), col("n_distinct"),
        round(lit(1.0) - col("n_distinct") / col("n_trigrams"), 6).as("rep_ratio"))
      .orderBy(col("doc_id"))
  }

  val qNgramRepetitionOracle: String =
    s"""WITH t AS (SELECT doc_id, $toksSql AS t FROM documents),
       |c AS (
       |  SELECT doc_id,
       |    len(t) - 2 AS n_trigrams,
       |    len(list_distinct(list_transform(range(1, len(t) - 1),
       |      i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2]))) AS n_distinct
       |  FROM t WHERE len(t) >= 3
       |)
       |SELECT doc_id, CAST(n_trigrams AS INTEGER) AS n_trigrams, CAST(n_distinct AS INTEGER) AS n_distinct,
       |  round(1.0 - n_distinct / n_trigrams, 6) AS rep_ratio
       |FROM c
       |ORDER BY doc_id""".stripMargin

  /** Token-budget curation: rank documents per source (longest first,
    * doc_id tiebreak), accumulate token counts, and flag the prefix that
    * fits a fixed per-source budget — the "take the best N tokens per
    * domain" selection step. One window (partitioned by source, no global
    * sort) over scan-side token counts.
    */
  val TokenBudget = 2000L

  def qTokenBudget(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("source"))
      .orderBy(col("n_tok").desc, col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    Tables.documents(s, dir)
      .select(col("doc_id"), col("source"),
        size(TextFns.tokens(col("text"))).cast("long").as("n_tok"))
      .withColumn("cum_tokens", sum(col("n_tok")).over(w))
      .withColumn("in_budget", col("cum_tokens") <= TokenBudget)
      .select(col("doc_id"), col("source"), col("n_tok"),
        col("cum_tokens"), col("in_budget"))
      .orderBy(col("source"), col("cum_tokens"), col("doc_id"))
  }

  val qTokenBudgetOracle: String =
    s"""WITH t AS (
       |  SELECT doc_id, source, CAST(len($toksSql) AS BIGINT) AS n_tok
       |  FROM documents
       |)
       |SELECT doc_id, source, n_tok,
       |  CAST(sum(n_tok) OVER (PARTITION BY source ORDER BY n_tok DESC, doc_id
       |                        ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_tokens,
       |  sum(n_tok) OVER (PARTITION BY source ORDER BY n_tok DESC, doc_id
       |                   ROWS UNBOUNDED PRECEDING) <= $TokenBudget AS in_budget
       |FROM t
       |ORDER BY source, cum_tokens, doc_id""".stripMargin

  /** Benchmark decontamination: evaluation (val/test) documents that are
    * near-duplicates of a training document — the leakage a train/eval
    * split must be scrubbed of before the eval numbers mean anything.
    * Composes the deterministic split assignment with the shared Jaccard
    * near-dup edge set ([[Dedup.jaccardPairs]]): edges are oriented both
    * ways, split labels join on doc_id (one shuffle each), and only the
    * train→eval crossings survive. At 100 TB the candidate edges are the
    * sliver the blocked dedup already computes — no new pair generation.
    */
  def qDecontaminate(s: SparkSession, dir: String): DataFrame = {
    val splits = Tables.documents(s, dir)
      .select(col("doc_id"), splitCol.as("split"))
    // checkpoint: the two-way orientation below references the pair
    // frame twice — unmaterialized, the blocked self-join and Jaccard
    // verification would execute twice
    val pairs = Dedup.jaccardPairs(s, dir).localCheckpoint()
    val oriented = pairs
      .select(col("doc_a").as("l"), col("doc_b").as("r"), col("jaccard"))
      .union(pairs.select(col("doc_b").as("l"), col("doc_a").as("r"), col("jaccard")))
    oriented
      .join(splits.select(col("doc_id").as("l"), col("split").as("split_l")), Seq("l"))
      .join(splits.select(col("doc_id").as("r"), col("split").as("split_r")), Seq("r"))
      .filter(col("split_l") === "train" && col("split_r") =!= "train")
      .select(col("r").as("eval_doc"), col("split_r").as("eval_split"),
        col("l").as("train_doc"), col("jaccard"))
      .orderBy(col("eval_doc"), col("train_doc"))
  }

  val qDecontaminateOracle: String =
    s"""WITH ${Dedup.jaccardPairsCte},
       |sp AS (
       |  SELECT doc_id, $splitCaseSql AS split
       |  FROM documents
       |),
       |bi AS (
       |  SELECT doc_a AS l, doc_b AS r, jaccard FROM pj
       |  UNION ALL
       |  SELECT doc_b AS l, doc_a AS r, jaccard FROM pj
       |)
       |SELECT bi.r AS eval_doc, sr.split AS eval_split, bi.l AS train_doc, bi.jaccard
       |FROM bi
       |JOIN sp sl ON sl.doc_id = bi.l
       |JOIN sp sr ON sr.doc_id = bi.r
       |WHERE sl.split = 'train' AND sr.split != 'train'
       |ORDER BY eval_doc, train_doc""".stripMargin

  /** Bloom-filter bit width (2^14) and probe count. 63 usable bits per
    * int64 word — NOT 64: DuckDB's `<<` raises on `1 << 63`, so the
    * shared contract stays within arithmetic both engines accept.
    */
  val BloomBits = 16384L
  val BloomWordBits = 63L
  val BloomHashes = 3

  private def bloomPos(fp: org.apache.spark.sql.Column, j: Int) =
    TextFns.hash28(concat(lit(s"bloom$j:"), fp.cast("string"))) % BloomBits
  private def bloomPosSql(fp: String, j: Int): String =
    s"${hash28Sql(s"'bloom$j:' || CAST($fp AS VARCHAR)")} % $BloomBits"

  /** Bloom-prefiltered decontamination — the scan-side form of "drop
    * training documents whose content appears in an eval split". The
    * eval fingerprint SET is folded into a [[BloomBits]]-bit Bloom filter
    * stored as ≤ BloomBits/63 (word, bits) rows: CONSTANT-bounded
    * regardless of eval size, so it broadcasts safely where the raw eval
    * fingerprint table (corpus-scale) never could. Every train document
    * probes its [[BloomHashes]] bit positions against the broadcast
    * words; only Bloom-positive docs reach the exact fingerprint
    * confirm join — at 100 TB the bloom absorbs ~100% of the corpus
    * scan-side and the expensive shuffle join sees only the survivors.
    *
    * The contamination key here is the [[Dedup.PrefixTokens]]-token
    * opening hash (the q_dedup_prefix blocking key — templated openings
    * and truncated re-crawls DO cross splits where whole-text duplicates
    * don't); any content key (exact fp, shingle, n-gram) slots into the
    * same bloom→confirm shape.
    *
    * Unlike an engine-native bloom sketch, the filter here is built from
    * md5-prefix hashes, so DuckDB reproduces the SAME bit array —
    * bloom_flagged (false positives included) is bit-identical across
    * engines and the gate is an exact hash match, not a tolerance claim.
    */
  def qBloomDecontaminate(s: SparkSession, dir: String): DataFrame = {
    // slim (id, source, fp, split) projection, referenced by the eval
    // set, the train probes, and the exact confirm — materialized once
    val docs = Tables.documents(s, dir)
      .select(col("doc_id"), col("source"),
        TextFns.tokens(col("text")).as("t"), splitCol.as("split"))
      .filter(size(col("t")) >= Dedup.PrefixTokens)
      .select(col("doc_id"), col("source"), col("split"),
        TextFns.hash60(
          concat_ws(" ", slice(col("t"), 1, Dedup.PrefixTokens))).as("fp"))
      .localCheckpoint()
    val evalFps = docs.filter(col("split") =!= "train")
      .select(col("fp")).distinct().localCheckpoint()
    val posCols = (0 until BloomHashes).map(j => bloomPos(col("fp"), j))
    val bloom = evalFps
      .select(explode(array(posCols: _*)).as("pos"))
      .select(expr(s"pos div $BloomWordBits").as("word"),
        expr(s"shiftleft(CAST(1 AS BIGINT), CAST(pos % $BloomWordBits AS INT))").as("mask"))
      .groupBy(col("word")).agg(expr("bit_or(mask)").as("bits"))
    val perDoc = docs.filter(col("split") === "train")
      .select(col("doc_id"), col("source"), col("fp"),
        explode(array(posCols: _*)).as("pos"))
      .withColumn("word", expr(s"pos div $BloomWordBits"))
      .withColumn("mask",
        expr(s"shiftleft(CAST(1 AS BIGINT), CAST(pos % $BloomWordBits AS INT))"))
      // constant-bounded broadcast: ≤ BloomBits/63 rows by construction
      .join(broadcast(bloom), Seq("word"), "left")
      .withColumn("hit",
        when(col("bits").isNotNull &&
          (col("bits").bitwiseAND(col("mask")) =!= lit(0L)), 1).otherwise(0))
      .groupBy(col("doc_id"), col("source"), col("fp"))
      .agg((min(col("hit")) === 1).as("bloom_hit"))
    perDoc
      .join(evalFps.withColumn("in_eval", lit(1)).hint("shuffle_hash"),
        Seq("fp"), "left")
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_train"),
        sum(when(col("bloom_hit"), 1L).otherwise(0L)).as("bloom_flagged"),
        sum(when(col("in_eval").isNotNull, 1L).otherwise(0L)).as("exact_hits"))
      .withColumn("false_pos", col("bloom_flagged") - col("exact_hits"))
      .orderBy(col("source"))
  }

  // def, not val: interpolates a cross-object constant; a val would
  // freeze whatever value the object-init cycle saw (see Dedup.PrefixTokens)
  def qBloomDecontaminateOracle: String =
    s"""WITH t0 AS (
       |  SELECT doc_id, source, $toksSql AS t, $splitCaseSql AS split
       |  FROM documents
       |),
       |d AS (
       |  SELECT doc_id, source, split,
       |    ${TextFns.hash60Sql(s"array_to_string(t[1 : ${Dedup.PrefixTokens}], ' ')")} AS fp
       |  FROM t0 WHERE len(t) >= ${Dedup.PrefixTokens}
       |),
       |ef AS (SELECT DISTINCT fp FROM d WHERE split != 'train'),
       |ep AS (
       |  SELECT ${bloomPosSql("fp", 0)} AS pos FROM ef
       |  UNION ALL SELECT ${bloomPosSql("fp", 1)} FROM ef
       |  UNION ALL SELECT ${bloomPosSql("fp", 2)} FROM ef
       |),
       |bloom AS (
       |  SELECT pos // $BloomWordBits AS word,
       |    bit_or(CAST(1 AS BIGINT) << CAST(pos % $BloomWordBits AS INTEGER)) AS bits
       |  FROM ep GROUP BY word
       |),
       |tp AS (
       |  SELECT doc_id, source, fp, ${bloomPosSql("fp", 0)} AS pos FROM d WHERE split = 'train'
       |  UNION ALL SELECT doc_id, source, fp, ${bloomPosSql("fp", 1)} FROM d WHERE split = 'train'
       |  UNION ALL SELECT doc_id, source, fp, ${bloomPosSql("fp", 2)} FROM d WHERE split = 'train'
       |),
       |h AS (
       |  SELECT doc_id, source, fp,
       |    min(CASE WHEN b.bits IS NOT NULL
       |          AND (b.bits & (CAST(1 AS BIGINT) << CAST(tp.pos % $BloomWordBits AS INTEGER))) <> 0
       |        THEN 1 ELSE 0 END) AS allhit
       |  FROM tp LEFT JOIN bloom b ON b.word = tp.pos // $BloomWordBits
       |  GROUP BY doc_id, source, fp
       |)
       |SELECT source, count(*) AS n_train,
       |  CAST(sum(CASE WHEN allhit = 1 THEN 1 ELSE 0 END) AS BIGINT) AS bloom_flagged,
       |  CAST(sum(CASE WHEN ef2.fp IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS exact_hits,
       |  CAST(sum(CASE WHEN allhit = 1 THEN 1 ELSE 0 END)
       |     - sum(CASE WHEN ef2.fp IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS false_pos
       |FROM h LEFT JOIN ef ef2 USING (fp)
       |GROUP BY source
       |ORDER BY source""".stripMargin

  /** Corpus composition report: per-source document/token counts, token
    * share of the corpus, and the cumulative share in descending-share
    * order (the "top-k domains hold x% of tokens" concentration curve).
    * One map-side-combined aggregation; the 1-row corpus total joins
    * back broadcast (the TF-IDF pattern), and the cumulative window runs
    * over the post-aggregation frame — dimension-sized (#sources rows),
    * never the corpus.
    */
  def qDomainMix(s: SparkSession, dir: String): DataFrame = {
    val perSource = Tables.documents(s, dir)
      .select(col("source"), size(TextFns.tokens(col("text"))).cast("long").as("n_tok"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_tok")).as("n_tokens"))
    val total = perSource.agg(sum(col("n_tokens")).as("tot"))
    val w = Window.orderBy(col("n_tokens").desc, col("source"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    perSource.crossJoin(broadcast(total))
      .select(col("source"), col("n_docs"), col("n_tokens"),
        round(col("n_tokens") / col("tot"), 6).as("tok_share"))
      .withColumn("cum_share", round(sum(col("tok_share")).over(w), 6))
      .orderBy(col("n_tokens").desc, col("source"))
  }

  val qDomainMixOracle: String =
    s"""WITH t AS (SELECT source, CAST(len($toksSql) AS BIGINT) AS n_tok FROM documents),
       |a AS (
       |  SELECT source, count(*) AS n_docs, CAST(sum(n_tok) AS BIGINT) AS n_tokens
       |  FROM t GROUP BY source
       |),
       |b AS (
       |  SELECT source, n_docs, n_tokens,
       |    round(n_tokens / (SELECT CAST(sum(n_tokens) AS BIGINT) FROM a), 6) AS tok_share
       |  FROM a
       |)
       |SELECT source, n_docs, n_tokens, tok_share,
       |  round(sum(tok_share) OVER (ORDER BY n_tokens DESC, source
       |                             ROWS UNBOUNDED PRECEDING), 6) AS cum_share
       |FROM b
       |ORDER BY n_tokens DESC, source""".stripMargin

  /** Robust length-outlier flags: per-source exact median and MAD
    * (median absolute deviation), flagging documents beyond 3 MADs —
    * the robust alternative to mean/stddev that a heavy-tailed web
    * corpus needs. Two grouped aggregations over source (median, then
    * median of deviations) with the dimension-sized stats frames
    * broadcast back — the corpus is scanned, never shuffled.
    */
  def qLengthOutliers(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir).select(col("doc_id"), col("source"), col("n_chars"))
    val med = docs.groupBy(col("source")).agg(median(col("n_chars")).as("med"))
    val mad = docs.join(broadcast(med), Seq("source"))
      .groupBy(col("source"))
      .agg(median(abs(col("n_chars") - col("med"))).as("mad"))
    docs.join(broadcast(med), Seq("source")).join(broadcast(mad), Seq("source"))
      .select(col("doc_id"), col("source"), col("n_chars"), col("med"), col("mad"),
        (abs(col("n_chars") - col("med")) > lit(3.0) * col("mad")).as("is_outlier"))
      .orderBy(col("doc_id"))
  }

  val qLengthOutliersOracle: String =
    """WITH m AS (SELECT source, median(n_chars) AS med FROM documents GROUP BY source),
      |d AS (
      |  SELECT dd.source, median(abs(dd.n_chars - m.med)) AS mad
      |  FROM documents dd JOIN m USING (source) GROUP BY dd.source
      |)
      |SELECT dd.doc_id, dd.source, dd.n_chars, m.med, d.mad,
      |  abs(dd.n_chars - m.med) > 3.0 * d.mad AS is_outlier
      |FROM documents dd JOIN m USING (source) JOIN d USING (source)
      |ORDER BY dd.doc_id""".stripMargin

  /** Fixed-weight logistic quality score (the shape of a fastText/logreg
    * quality classifier with the training externalized): z is a linear
    * function of log-length, stopword ratio, and symbol ratio; the score
    * is its sigmoid. Pure scan-side arithmetic — scoring 100 TB is
    * exactly one pass, no shuffle but the presentation sort.
    */
  def qQualityScore(s: SparkSession, dir: String): DataFrame =
    withQuality(Tables.documents(s, dir))
      .select(col("doc_id"), col("n_tokens"),
        NumFns.roundPortable(col("z"), 4).as("z"),
        NumFns.roundPortable(col("score"), 4).as("score"),
        col("keep"))
      .orderBy(col("doc_id"))

  /** Appends the quality columns (n_tokens, z, score, keep) scan-side —
    * the SINGLE definition of the classifier, executed unchanged by the
    * batch query above and by [[graft.streaming.CorpusStream]]: in this
    * engine batch/streaming parity is a shared projection, not a port.
    */
  def withQuality(df: DataFrame): DataFrame = {
    df
      .withColumn("toks", TextFns.tokens(col("text")))
      .withColumn("n_tokens", size(col("toks")))
      .withColumn("stop_ratio",
        size(filter(col("toks"), t => t.isin(StopWords.map(w => lit(w): Any): _*)))
          / col("n_tokens").cast("double"))
      .withColumn("symbol_ratio",
        length(regexp_replace(col("text"), "[a-zA-Z0-9 ]", ""))
          / length(col("text")).cast("double"))
      .withColumn("z",
        lit(-1.0) + lit(0.6) * log(lit(1.0) + col("n_tokens"))
          + lit(2.0) * col("stop_ratio") - lit(4.0) * col("symbol_ratio"))
      .withColumn("score", lit(1.0) / (lit(1.0) + exp(-col("z"))))
      .withColumn("keep", col("z") > 0)
      .drop("toks", "stop_ratio", "symbol_ratio")
  }

  /** SQL twin of [[withQuality]]'s feature projection — the ONE
    * definition of the classifier features on the oracle side, spliced
    * (never copied) by every oracle that scores documents.
    */
  val qualityFeaturesSql: String =
    s"""SELECT doc_id, len(toks) AS n_tokens,
       |    len(list_filter(toks, x -> x IN ($stopListSql)))
       |      / CAST(len(toks) AS DOUBLE) AS stop_ratio,
       |    length(regexp_replace(text, '[a-zA-Z0-9 ]', '', 'g'))
       |      / CAST(length(text) AS DOUBLE) AS symbol_ratio
       |  FROM (SELECT doc_id, text, $toksSql AS toks FROM documents) tq""".stripMargin

  /** SQL twin of [[withQuality]]'s linear form z, over the columns of
    * [[qualityFeaturesSql]].
    */
  val qualityZSql: String =
    "-1.0 + 0.6 * ln(1.0 + n_tokens) + 2.0 * stop_ratio - 4.0 * symbol_ratio"

  val qQualityScoreOracle: String =
    s"""WITH f AS (
       |  $qualityFeaturesSql
       |),
       |z AS (
       |  SELECT doc_id, n_tokens, $qualityZSql AS z
       |  FROM f
       |)
       |SELECT doc_id, CAST(n_tokens AS INTEGER) AS n_tokens, ${NumFns.roundPortableSql("z", 4)} AS z,
       |  ${NumFns.roundPortableSql("1.0 / (1.0 + exp(-z))", 4)} AS score,
       |  z > 0 AS keep
       |FROM z
       |ORDER BY doc_id""".stripMargin

  /** Per-source document caps ("domain caps"): keep at most N documents
    * per source, best-quality first — the guard against any one domain
    * flooding the mix (the complement of [[qTokenBudget]]'s token-count
    * form). One window partitioned by source over the scan-side quality
    * score; ranking on round(z, 6) with a doc_id tiebreak so the order is
    * deterministic on both engines (raw-double ordering across engines is
    * a latent tie hazard; rounding + total tiebreak is not). At 100 TB:
    * one shuffle on source — a hot source is the known skew case, handled
    * the same way as CloudOptimize's writes (salt the partial rank, then
    * re-rank the per-salt survivors — bounded at salts × cap rows).
    */
  val SourceCap = 25

  def qSourceCaps(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("source"))
      .orderBy(round(col("z"), 6).desc, col("doc_id"))
    withQuality(Tables.documents(s, dir))
      .withColumn("cap_rank", row_number().over(w))
      .filter(col("cap_rank") <= SourceCap)
      .select(col("doc_id"), col("source"), col("cap_rank"),
        round(col("score"), 4).as("score"))
      .orderBy(col("source"), col("cap_rank"))
  }

  val qSourceCapsOracle: String =
    s"""WITH t AS (SELECT doc_id, source, text, $toksSql AS toks FROM documents),
       |f AS (
       |  SELECT doc_id, source,
       |    len(toks) AS n_tokens,
       |    len(list_filter(toks, x -> x IN ($stopListSql)))
       |      / CAST(len(toks) AS DOUBLE) AS stop_ratio,
       |    length(regexp_replace(text, '[a-zA-Z0-9 ]', '', 'g'))
       |      / CAST(length(text) AS DOUBLE) AS symbol_ratio
       |  FROM t
       |),
       |z AS (
       |  SELECT doc_id, source,
       |    -1.0 + 0.6 * ln(1.0 + n_tokens) + 2.0 * stop_ratio - 4.0 * symbol_ratio AS z
       |  FROM f
       |),
       |r AS (
       |  SELECT doc_id, source, z,
       |    row_number() OVER (PARTITION BY source
       |                       ORDER BY round(z, 6) DESC, doc_id) AS cap_rank
       |  FROM z
       |)
       |SELECT doc_id, source, CAST(cap_rank AS INTEGER) AS cap_rank,
       |  round(1.0 / (1.0 + exp(-z)), 4) AS score
       |FROM r WHERE cap_rank <= $SourceCap
       |ORDER BY source, cap_rank""".stripMargin

  /** Exactly-k per-source sample size. */
  val FixedSampleK = 5

  /** Fixed-size sampling: EXACTLY min(k, n) documents per source, chosen
    * by the content-addressed draw (so the sample is bit-reproducible,
    * like every sampling op here) — the "give me 10k examples per domain
    * for eval" request, which rate-based [[qStratifiedSample]] can't
    * answer. Scale shape: rank-from-counts, NOT a per-source row sort —
    * the draw lives in [0, 10000), so the (source, u) cell frame is
    * dimension-bounded (≤10k cells/source) no matter how many rows a hot
    * source has; a cell's base rank comes from a running sum over cells,
    * the within-cell tiebreak is a window over the fine-grained
    * (source, u) pair, and a row survives iff its total rank ≤ k. The
    * oracle is the plain row_number form — the scale-safe plan must
    * reproduce it exactly.
    */
  def qFixedSample(s: SparkSession, dir: String): DataFrame = {
    val d = Tables.documents(s, dir)
      .select(col("doc_id"), col("source"), draw("fixed", 10000).as("u"))
    val cells = d.groupBy(col("source"), col("u")).agg(count(lit(1)).as("c"))
    val wCells = Window.partitionBy(col("source")).orderBy(col("u"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val indexed = cells
      .withColumn("lo_rank", sum(col("c")).over(wCells) - col("c") + 1)
      .select(col("source"), col("u"), col("lo_rank"))
    val wTie = Window.partitionBy(col("source"), col("u")).orderBy(col("doc_id"))
    d.withColumn("tie_rn", row_number().over(wTie))
      .join(indexed, Seq("source", "u"))
      .filter(col("lo_rank") + col("tie_rn") - 1 <= FixedSampleK)
      .select(col("doc_id"), col("source"), col("u"))
      .orderBy(col("source"), col("u"), col("doc_id"))
  }

  val qFixedSampleOracle: String =
    s"""WITH d AS (
       |  SELECT doc_id, source, ${drawSql("fixed", 10000)} AS u FROM documents
       |), r AS (
       |  SELECT doc_id, source, u,
       |    row_number() OVER (PARTITION BY source ORDER BY u, doc_id) AS rk
       |  FROM d
       |)
       |SELECT doc_id, source, u FROM r WHERE rk <= $FixedSampleK
       |ORDER BY source, u, doc_id""".stripMargin

  /** Winsorization: clamp per-document length into its source's exact
    * [p05, p95] band — the feature-preprocessing step that tames outliers
    * without dropping rows (complement of [[qLengthOutliers]], which
    * flags instead of clamps). The percentile frames come from the
    * distributed-exact engine (Analytics.exactPercentilesMulti — cells,
    * never per-group row sorts) and are dimension-sized, so they
    * BROADCAST back onto the scan: the corpus is never shuffled, the
    * clamp is a scan-side greatest/least projection.
    */
  def qWinsorize(s: SparkSession, dir: String): DataFrame = {
    val d = Tables.documents(s, dir)
      .select(col("doc_id"), col("source"),
        length(col("text")).cast("double").as("n_chars"))
    val bounds = Analytics.exactPercentilesMulti(d, "source",
      Seq("n_chars" -> Seq(0.05 -> "lo", 0.95 -> "hi")))
    d.join(broadcast(bounds), "source")
      .select(col("doc_id"), col("source"), col("n_chars"),
        round(greatest(col("lo"), least(col("hi"), col("n_chars"))), 4).as("clamped"),
        (col("n_chars") < col("lo") || col("n_chars") > col("hi")).as("was_clamped"))
      .orderBy(col("doc_id"))
  }

  val qWinsorizeOracle: String =
    """WITH d AS (
      |  SELECT doc_id, source, CAST(length(text) AS DOUBLE) AS n_chars FROM documents
      |), b AS (
      |  SELECT source,
      |    round(quantile_cont(n_chars, 0.05), 4) AS lo,
      |    round(quantile_cont(n_chars, 0.95), 4) AS hi
      |  FROM d GROUP BY source
      |)
      |SELECT doc_id, d.source, n_chars,
      |  round(greatest(lo, least(hi, n_chars)), 4) AS clamped,
      |  (n_chars < lo OR n_chars > hi) AS was_clamped
      |FROM d JOIN b ON d.source = b.source
      |ORDER BY doc_id""".stripMargin

  /** Temperature-reweighted domain mixing (the DoReMi / multilingual-
    * sampling shape, T = 2 i.e. share^(1/2)): per-source sampling weights
    * ∝ √(natural token share), renormalized — upweights tail domains,
    * damps head domains, the standard fix for a corpus where two sources
    * would otherwise dominate training. Float discipline: natural shares
    * are exact-int divisions; the √share weight is quantized to integer
    * NANO-UNITS (round(√·10⁹) — sqrt is IEEE-correctly-rounded on both
    * engines, so the quantized weights are bit-identical), and the
    * renormalization denominator is an INTEGER sum of those units —
    * order-independent, no double accumulation anywhere. The whole query
    * is one corpus scan + two dimension-sized aggregates (sources ≪
    * rows); the boost ratio is a division of exact int64 products.
    */
  def qDomainTemperature(s: SparkSession, dir: String): DataFrame = {
    val a = Tables.documents(s, dir)
      .select(col("source"), size(TextFns.tokens(col("text"))).cast("long").as("n_tok"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_tok")).as("n_tokens"))
    val tot = a.agg(sum(col("n_tokens")).as("tot"))
    val b = a.crossJoin(broadcast(tot))
      .withColumn("wq", round(sqrt(col("n_tokens") / col("tot")) * 1e9, 0).cast("long"))
    val wtot = b.agg(sum(col("wq")).as("wtot"))
    b.crossJoin(broadcast(wtot))
      .select(col("source"), col("n_docs"), col("n_tokens"),
        round(col("n_tokens") / col("tot"), 6).as("nat_share"),
        round(col("wq") / col("wtot"), 6).as("temp_share"),
        round((col("wq") * col("tot")) / (col("wtot") * col("n_tokens")).cast("double"), 4)
          .as("boost"))
      .orderBy(col("n_tokens").desc, col("source"))
  }

  val qDomainTemperatureOracle: String =
    s"""WITH t AS (SELECT source, CAST(len($toksSql) AS BIGINT) AS n_tok FROM documents),
       |a AS (
       |  SELECT source, count(*) AS n_docs, CAST(sum(n_tok) AS BIGINT) AS n_tokens
       |  FROM t GROUP BY source
       |),
       |tot AS (SELECT CAST(sum(n_tokens) AS BIGINT) AS tot FROM a),
       |b AS (
       |  SELECT a.*, tot.tot,
       |    CAST(round(sqrt(a.n_tokens / tot.tot) * 1e9) AS BIGINT) AS wq
       |  FROM a CROSS JOIN tot
       |),
       |wt AS (SELECT CAST(sum(wq) AS BIGINT) AS wtot FROM b)
       |SELECT source, n_docs, n_tokens,
       |  round(n_tokens / tot, 6) AS nat_share,
       |  round(wq / wtot, 6) AS temp_share,
       |  round((wq * tot) / CAST(wtot * n_tokens AS DOUBLE), 4) AS boost
       |FROM b CROSS JOIN wt
       |ORDER BY n_tokens DESC, source""".stripMargin

  /** Cross-source quantile normalization: replace each document's length
    * by the GLOBAL length at the same within-source percentile — the
    * rank-preserving alignment that puts every source's distribution on
    * one scale (batch-effect correction; comparable length features
    * across differently-truncated scrapes). Percentiles are exact
    * integer rationals ((r−1)/(n−1), deterministic (value, doc_id) sort);
    * the global map interpolates between bracketing order statistics
    * looked up in the distinct-value CELL frame (rank-span containment
    * join against the broadcast dimension-sized cells — same engine as
    * exactPercentiles, never a row sort over the corpus). Per-source
    * rank windows are source-bounded; at 100 TB ranks come from the
    * cells form and the lookup join is range-bucketed.
    */
  def qQuantileNorm(s: SparkSession, dir: String): DataFrame = {
    val d = Tables.documents(s, dir).select(col("doc_id"), col("source"), col("n_chars"))
    val nsrc = d.groupBy(col("source")).agg(count(lit(1)).as("n_src"))
    val tot = d.agg(count(lit(1)).as("n_all"))
    val wr = Window.partitionBy(col("source")).orderBy(col("n_chars"), col("doc_id"))
    val cells = d.groupBy(col("n_chars")).agg(count(lit(1)).as("c"))
      .withColumn("hi_rank", sum(col("c")).over(
        Window.orderBy(col("n_chars")).rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .withColumn("lo_rank", col("hi_rank") - col("c") + 1)
      .select(col("n_chars").as("gv"), col("lo_rank"), col("hi_rank"))
    val ranked = d.withColumn("r", row_number().over(wr))
      .join(broadcast(nsrc), Seq("source"))
      .crossJoin(broadcast(tot))
      .withColumn("p", when(col("n_src") > 1,
        (col("r") - 1) / (col("n_src") - 1).cast("double")).otherwise(lit(0.0)))
      .withColumn("h", lit(1.0) + (col("n_all") - 1) * col("p"))
      .withColumn("lo", floor(col("h")).cast("long"))
      .withColumn("frac", col("h") - col("lo"))
    ranked
      .join(broadcast(cells.select(col("gv").as("v_lo"), col("lo_rank"), col("hi_rank"))),
        col("lo").between(col("lo_rank"), col("hi_rank")))
      .drop("lo_rank", "hi_rank")
      .join(broadcast(cells.select(col("gv").as("v_hi"), col("lo_rank"), col("hi_rank"))),
        (col("lo") + 1).between(col("lo_rank"), col("hi_rank")), "left")
      .select(col("doc_id"), col("source"), col("n_chars"),
        // roundPortable, NOT built-in round: at sf1 the (r−1)/(n−1)
        // grid is dense enough to land on 6th-decimal half boundaries,
        // where Spark's decimal-repr rounding and the oracle's binary
        // rounding disagree (3 of 50k rows)
        NumFns.roundPortable(col("p"), 6).as("src_pct"),
        NumFns.roundPortable(col("v_lo") + col("frac") *
          (coalesce(col("v_hi"), col("v_lo")) - col("v_lo")), 4).as("norm_chars"))
      .orderBy(col("doc_id"))
  }

  /** Token budget for [[qMixAllocate]]. */
  val MixBudgetTokens = 50000L

  /** Sampling-plan materialization: split a fixed token budget across
    * sources proportionally to the temperature weights ([[
    * qDomainTemperature]]'s √share nano-units) using LARGEST-REMAINDER
    * apportionment — the integer allocation every mix plan needs before
    * a sampler can run (quotas must be integers and must sum EXACTLY to
    * the budget; naive rounding drifts by up to |sources|/2 tokens).
    * Fully integer-exact: base = ⌊B·w⌋ by int64 division, remainders
    * ranked (remainder desc, source) and the deficit distributed one
    * unit each — bit-stable on both engines, Σalloc ≡ B by
    * construction. Dimension-sized end to end after the one corpus scan.
    */
  def qMixAllocate(s: SparkSession, dir: String): DataFrame = {
    val a = Tables.documents(s, dir)
      .select(col("source"), size(TextFns.tokens(col("text"))).cast("long").as("n_tok"))
      .groupBy(col("source"))
      .agg(sum(col("n_tok")).as("n_tokens"))
    val tot = a.agg(sum(col("n_tokens")).as("tot"))
    val b = a.crossJoin(broadcast(tot))
      .withColumn("wq", round(sqrt(col("n_tokens") / col("tot")) * 1e9, 0).cast("long"))
    val wtot = b.agg(sum(col("wq")).as("wtot"))
    val c = b.crossJoin(broadcast(wtot))
      .withColumn("num", lit(MixBudgetTokens) * col("wq"))
      .withColumn("base", expr("num DIV wtot"))
      .withColumn("rem", col("num") - col("base") * col("wtot"))
    val baseTot = c.agg(sum(col("base")).as("base_tot"))
    val wRank = Window.orderBy(col("rem").desc, col("source"))
    c.crossJoin(broadcast(baseTot))
      .withColumn("extra",
        when(row_number().over(wRank) <= lit(MixBudgetTokens) - col("base_tot"), 1L)
          .otherwise(0L))
      .select(col("source"), col("n_tokens"),
        round(col("num") / col("wtot").cast("double"), 4).as("exact_quota"),
        (col("base") + col("extra")).as("alloc_tokens"))
      .orderBy(col("n_tokens").desc, col("source"))
  }

  val qMixAllocateOracle: String =
    s"""WITH t AS (SELECT source, CAST(len($toksSql) AS BIGINT) AS n_tok FROM documents),
       |a AS (SELECT source, CAST(sum(n_tok) AS BIGINT) AS n_tokens FROM t GROUP BY source),
       |tot AS (SELECT CAST(sum(n_tokens) AS BIGINT) AS tot FROM a),
       |b AS (
       |  SELECT a.*, tot.tot,
       |    CAST(round(sqrt(a.n_tokens / tot.tot) * 1e9) AS BIGINT) AS wq
       |  FROM a CROSS JOIN tot
       |),
       |wt AS (SELECT CAST(sum(wq) AS BIGINT) AS wtot FROM b),
       |c AS (
       |  SELECT b.*, wt.wtot,
       |    $MixBudgetTokens * b.wq AS num,
       |    ($MixBudgetTokens * b.wq) // wt.wtot AS base,
       |    $MixBudgetTokens * b.wq - (($MixBudgetTokens * b.wq) // wt.wtot) * wt.wtot AS rem
       |  FROM b CROSS JOIN wt
       |),
       |bt AS (SELECT CAST(sum(base) AS BIGINT) AS base_tot FROM c)
       |SELECT source, n_tokens,
       |  round(num / CAST(wtot AS DOUBLE), 4) AS exact_quota,
       |  CAST(base + (CASE WHEN row_number() OVER (ORDER BY rem DESC, source)
       |    <= $MixBudgetTokens - bt.base_tot THEN 1 ELSE 0 END) AS BIGINT) AS alloc_tokens
       |FROM c CROSS JOIN bt
       |ORDER BY n_tokens DESC, source""".stripMargin

  val qQuantileNormOracle: String =
    s"""WITH d AS (SELECT doc_id, source, n_chars FROM documents),
      |ns AS (SELECT source, count(*) AS n_src FROM d GROUP BY source),
      |tot AS (SELECT count(*) AS n_all FROM d),
      |cells AS (
      |  SELECT n_chars AS gv, count(*) AS c,
      |    sum(count(*)) OVER (ORDER BY n_chars ROWS UNBOUNDED PRECEDING) AS hi_rank
      |  FROM d GROUP BY n_chars
      |),
      |cl AS (SELECT gv, hi_rank - c + 1 AS lo_rank, hi_rank FROM cells),
      |r AS (
      |  SELECT d.doc_id, d.source, d.n_chars,
      |    row_number() OVER (PARTITION BY d.source ORDER BY d.n_chars, d.doc_id) AS r,
      |    ns.n_src, tot.n_all
      |  FROM d JOIN ns USING (source) CROSS JOIN tot
      |),
      |x AS (
      |  SELECT doc_id, source, n_chars,
      |    CASE WHEN n_src > 1 THEN (r - 1) / CAST(n_src - 1 AS DOUBLE) ELSE 0.0 END AS p,
      |    n_all
      |  FROM r
      |),
      |y AS (
      |  SELECT doc_id, source, n_chars, p,
      |    1.0 + (n_all - 1) * p AS h
      |  FROM x
      |),
      |z AS (
      |  SELECT doc_id, source, n_chars, p,
      |    CAST(floor(h) AS BIGINT) AS lo, h - CAST(floor(h) AS BIGINT) AS frac
      |  FROM y
      |)
      |SELECT z.doc_id, z.source, z.n_chars,
      |  ${NumFns.roundPortableSql("z.p", 6)} AS src_pct,
      |  ${NumFns.roundPortableSql("a.gv + z.frac * (coalesce(b.gv, a.gv) - a.gv)", 4)} AS norm_chars
      |FROM z
      |JOIN cl a ON z.lo BETWEEN a.lo_rank AND a.hi_rank
      |LEFT JOIN cl b ON (z.lo + 1) BETWEEN b.lo_rank AND b.hi_rank
      |ORDER BY z.doc_id""".stripMargin

  /** Curation filter funnel — the stage-by-stage drop report every
    * pipeline publishes (and the first thing reviewed when a corpus
    * shrinks unexpectedly): survivors after each ORDERED stage —
    * exact-dedup keeper, the four Gopher rules (length, word shape,
    * symbol ratio, stopwords — same rounded comparisons as
    * [[qGopherQuality]]), then the logistic quality gate (same z as
    * [[withQuality]]). Cumulative conjunctions are computed per row in
    * ONE scan (plus the fingerprint aggregate the dedup stage needs,
    * one fp shuffle), collapse map-side to a single 7-counter row, and
    * explode to the 7-row report; `dropped_here` is a lag over that
    * aggregate-backed frame. Integer counts — deterministic except the
    * z>0 cell, which carries the same 1-ulp boundary argument as
    * q_quality_score.
    */
  def qFilterFunnel(s: SparkSession, dir: String): DataFrame = {
    val base = Tables.documents(s, dir)
      .select(col("doc_id"), col("text"), TextFns.tokens(col("text")).as("toks"),
        md5(TextFns.normalized(col("text"))).as("fp"))
    val keepers = base.groupBy(col("fp")).agg(min(col("doc_id")).as("keeper"))
    val flags = base.join(keepers.hint("shuffle_hash"), Seq("fp"))
      .select(col("doc_id"),
        (col("doc_id") === col("keeper")).as("f1"),
        size(col("toks")).as("n_tokens"),
        round(aggregate(transform(col("toks"), t => length(t)), lit(0),
          (a, x) => a + x) / size(col("toks")), 4).as("mean_word_len"),
        // an empty document has no symbol ratio (NULL, as in qGopherQuality)
        when(length(col("text")) > 0,
          round(length(regexp_replace(col("text"), "[a-zA-Z0-9 ]", ""))
            / length(col("text")), 4)).as("symbol_ratio"),
        size(filter(col("toks"), t => t.isin(StopWords.map(w => lit(w): Any): _*)))
          .as("n_stop"),
        when(length(col("text")) > 0,
          length(regexp_replace(col("text"), "[a-zA-Z0-9 ]", ""))
            / length(col("text")).cast("double")).as("sym_raw"))
      .withColumn("stop_raw", col("n_stop") / col("n_tokens").cast("double"))
      .withColumn("z",
        lit(-1.0) + lit(0.6) * log(lit(1.0) + col("n_tokens"))
          + lit(2.0) * col("stop_raw") - lit(4.0) * col("sym_raw"))
      .withColumn("p2", col("f1") && col("n_tokens").between(5, 1000))
      .withColumn("p3", col("p2") && col("mean_word_len").between(2.0, 10.0))
      .withColumn("p4", col("p3") && col("symbol_ratio") <= 0.1)
      .withColumn("p5", col("p4") && col("n_stop") >= 1)
      .withColumn("p6", col("p5") && col("z") > 0)
    val aggRow = flags.agg(
      count(lit(1)).as("s0"),
      sum(col("f1").cast("long")).as("s1"),
      sum(col("p2").cast("long")).as("s2"),
      sum(col("p3").cast("long")).as("s3"),
      sum(col("p4").cast("long")).as("s4"),
      sum(col("p5").cast("long")).as("s5"),
      sum(col("p6").cast("long")).as("s6"))
    val names = Seq("input", "dedup", "length", "word_shape", "symbol",
      "stopword", "quality")
    val stages = aggRow.select(explode(array(
        names.zipWithIndex.map { case (n, i) =>
          struct(lit(i).as("stage_idx"), lit(n).as("stage"),
            col(s"s$i").as("survivors"))
        }: _*)).as("e"))
      .select(col("e.stage_idx"), col("e.stage"), col("e.survivors"))
    val w = Window.orderBy(col("stage_idx"))
    stages
      .withColumn("dropped_here",
        coalesce(lag(col("survivors"), 1).over(w) - col("survivors"), lit(0L)))
      .orderBy(col("stage_idx"))
  }

  val qFilterFunnelOracle: String =
    s"""WITH t AS (
       |  SELECT doc_id, text, $toksSql AS toks,
       |    md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')) AS fp
       |  FROM documents
       |),
       |k AS (SELECT fp, min(doc_id) AS keeper FROM t GROUP BY fp),
       |f AS (
       |  SELECT t.doc_id,
       |    t.doc_id = k.keeper AS f1,
       |    len(toks) AS n_tokens,
       |    round(list_sum(list_transform(toks, x -> length(x)))
       |      / CAST(len(toks) AS DOUBLE), 4) AS mean_word_len,
       |    CASE WHEN length(text) > 0 THEN round(length(regexp_replace(text, '[a-zA-Z0-9 ]', '', 'g'))
       |      / CAST(length(text) AS DOUBLE), 4) END AS symbol_ratio,
       |    len(list_filter(toks, x -> x IN ($stopListSql))) AS n_stop,
       |    CASE WHEN length(text) > 0 THEN length(regexp_replace(text, '[a-zA-Z0-9 ]', '', 'g'))
       |      / CAST(length(text) AS DOUBLE) END AS sym_raw,
       |    len(list_filter(toks, x -> x IN ($stopListSql)))
       |      / CAST(len(toks) AS DOUBLE) AS stop_raw
       |  FROM t JOIN k USING (fp)
       |),
       |p AS (
       |  SELECT f1,
       |    f1 AND n_tokens BETWEEN 5 AND 1000 AS p2,
       |    f1 AND n_tokens BETWEEN 5 AND 1000
       |      AND mean_word_len BETWEEN 2.0 AND 10.0 AS p3,
       |    f1 AND n_tokens BETWEEN 5 AND 1000
       |      AND mean_word_len BETWEEN 2.0 AND 10.0
       |      AND symbol_ratio <= 0.1 AS p4,
       |    f1 AND n_tokens BETWEEN 5 AND 1000
       |      AND mean_word_len BETWEEN 2.0 AND 10.0
       |      AND symbol_ratio <= 0.1 AND n_stop >= 1 AS p5,
       |    f1 AND n_tokens BETWEEN 5 AND 1000
       |      AND mean_word_len BETWEEN 2.0 AND 10.0
       |      AND symbol_ratio <= 0.1 AND n_stop >= 1
       |      AND (-1.0 + 0.6 * ln(1.0 + n_tokens)
       |           + 2.0 * stop_raw - 4.0 * sym_raw) > 0 AS p6
       |  FROM f
       |),
       |a AS (
       |  SELECT count(*) AS s0,
       |    CAST(sum(CASE WHEN f1 THEN 1 ELSE 0 END) AS BIGINT) AS s1,
       |    CAST(sum(CASE WHEN p2 THEN 1 ELSE 0 END) AS BIGINT) AS s2,
       |    CAST(sum(CASE WHEN p3 THEN 1 ELSE 0 END) AS BIGINT) AS s3,
       |    CAST(sum(CASE WHEN p4 THEN 1 ELSE 0 END) AS BIGINT) AS s4,
       |    CAST(sum(CASE WHEN p5 THEN 1 ELSE 0 END) AS BIGINT) AS s5,
       |    CAST(sum(CASE WHEN p6 THEN 1 ELSE 0 END) AS BIGINT) AS s6
       |  FROM p
       |),
       |st AS (
       |  SELECT 0 AS stage_idx, 'input' AS stage, s0 AS survivors FROM a
       |  UNION ALL SELECT 1, 'dedup', s1 FROM a
       |  UNION ALL SELECT 2, 'length', s2 FROM a
       |  UNION ALL SELECT 3, 'word_shape', s3 FROM a
       |  UNION ALL SELECT 4, 'symbol', s4 FROM a
       |  UNION ALL SELECT 5, 'stopword', s5 FROM a
       |  UNION ALL SELECT 6, 'quality', s6 FROM a
       |)
       |SELECT stage_idx, stage, survivors,
       |  COALESCE(lag(survivors) OVER (ORDER BY stage_idx) - survivors, 0)
       |    AS dropped_here
       |FROM st
       |ORDER BY stage_idx""".stripMargin

  /** Token-weighted median quality score per source — the mixing-board
    * statistic that answers "where does the middle TOKEN of this domain
    * sit on the quality scale" (the doc-weighted median over-represents
    * short documents). Rank-from-cells shape: documents collapse to
    * (source, rounded-score) cells with token weights — value-domain-
    * sized, ≤10⁴ score cells per source — the running weight is a window
    * over that cell frame, and the median is the first cell where
    * 2·cum ≥ total, an exact int64 comparison on both engines. No
    * row-scale sort at any scale.
    */
  def qWeightedMedian(s: SparkSession, dir: String): DataFrame = {
    val cells = withQuality(Tables.documents(s, dir))
      .select(col("source"), NumFns.roundPortable(col("score"), 4).as("sc"),
        col("n_tokens").cast("long").as("w"))
      .groupBy(col("source"), col("sc"))
      .agg(sum(col("w")).as("w"))
    val byS = Window.partitionBy(col("source"))
    val cum = Window.partitionBy(col("source")).orderBy(col("sc"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    cells
      .withColumn("tot", sum(col("w")).over(byS))
      .withColumn("cum", sum(col("w")).over(cum))
      .filter(lit(2L) * col("cum") >= col("tot"))
      .groupBy(col("source"))
      .agg(min(col("sc")).as("median_score"), max(col("tot")).as("total_tokens"))
      .orderBy(col("source"))
  }

  val qWeightedMedianOracle: String =
    s"""WITH q AS (
       |  SELECT f.doc_id, f.n_tokens,
       |    ${NumFns.roundPortableSql(s"1.0 / (1.0 + exp(-($qualityZSql)))", 4)} AS sc
       |  FROM ($qualityFeaturesSql) f
       |),
       |cells AS (
       |  SELECT d.source, q.sc, CAST(sum(q.n_tokens) AS BIGINT) AS w
       |  FROM q JOIN documents d ON d.doc_id = q.doc_id
       |  GROUP BY d.source, q.sc
       |),
       |r AS (
       |  SELECT source, sc, w,
       |    CAST(sum(w) OVER (PARTITION BY source) AS BIGINT) AS tot,
       |    CAST(sum(w) OVER (PARTITION BY source ORDER BY sc
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum
       |  FROM cells
       |)
       |SELECT source, min(sc) AS median_score, max(tot) AS total_tokens
       |FROM r WHERE 2 * cum >= tot
       |GROUP BY source
       |ORDER BY source""".stripMargin

  /** Sample budget allocated by [[qNeymanAllocation]]. */
  val NeymanBudget = 1000L

  /** Neyman-optimal stratified-sample allocation of a 1000-doc audit
    * budget across sources, by the length (n_chars) variance of each
    * stratum: n_h ∝ N_h·σ_h beside the proportional n_h ∝ N_h, with
    * the design-effect ratio (V_neyman/V_prop, < 1 = the win) — the
    * operator that tells a curation team HOW to spend a fixed
    * labeling/audit budget, where q_stratified_sample/q_fixed_sample
    * only execute a given design. Shape: one scan → per-source exact
    * integer moments (Σ, Σ² in DECIMAL(38,0) — n_chars² sums overflow
    * a long at corpus scale); the source frame is dimension-sized, the
    * allocation arithmetic scalar. Allocations round half-away
    * portably so both engines print identical integers.
    */
  def qNeymanAllocation(s: SparkSession, dir: String): DataFrame = {
    val D0 = org.apache.spark.sql.types.DecimalType(38, 0)
    val D = org.apache.spark.sql.types.DecimalType(38, 12)
    val strata = Tables.documents(s, dir)
      .groupBy(col("source"))
      .agg(count(lit(1)).as("nh"),
        sum(col("n_chars").cast(D0)).as("s1"),
        sum(col("n_chars").cast(D0) * col("n_chars")).as("s2"))
      .select(col("source"), col("nh"),
        sqrt((col("nh") * col("s2") - col("s1") * col("s1")).cast("double")
          / (col("nh").cast("double") * (col("nh") - 1).cast("double")))
          .as("sigma"))
      .localCheckpoint() // dimension-sized; feeds totals AND the report
    val tot = strata.agg(sum(col("nh")).as("n"),
      sum((col("nh") * col("sigma")).cast(D)).as("snsig"),
      sum((col("nh") * col("sigma") * col("sigma")).cast(D)).as("snsig2"))
    strata.crossJoin(broadcast(tot))
      .select(col("source"), col("nh"), 
        NumFns.roundPortable(col("sigma"), 2).as("sigma"),
        NumFns.roundAwayLong(lit(NeymanBudget.toDouble) * col("nh")
          / col("n")).as("prop_alloc"),
        NumFns.roundAwayLong(lit(NeymanBudget.toDouble)
          * (col("nh") * col("sigma"))
          / col("snsig").cast("double")).as("neyman_alloc"),
        NumFns.roundPortable(
          (col("snsig").cast("double") / col("n"))
            * (col("snsig").cast("double") / col("n"))
            / (col("snsig2").cast("double") / col("n")), 6)
          .as("neyman_vs_prop_var"))
      .orderBy(col("source"))
  }

  val qNeymanAllocationOracle: String =
    s"""WITH st AS (
       |  SELECT source, count(*) AS nh,
       |    sqrt(CAST(count(*) * sum(CAST(n_chars AS HUGEINT) * n_chars)
       |        - sum(CAST(n_chars AS HUGEINT)) * sum(CAST(n_chars AS HUGEINT))
       |        AS DOUBLE)
       |      / (CAST(count(*) AS DOUBLE) * CAST(count(*) - 1 AS DOUBLE)))
       |      AS sigma
       |  FROM documents GROUP BY source
       |),
       |tot AS (
       |  SELECT CAST(sum(nh) AS BIGINT) AS n,
       |    CAST(sum(CAST(nh * sigma AS DECIMAL(38,12))) AS DOUBLE) AS snsig,
       |    CAST(sum(CAST(nh * sigma * sigma AS DECIMAL(38,12))) AS DOUBLE)
       |      AS snsig2
       |  FROM st
       |)
       |SELECT source, nh,
       |  ${NumFns.roundPortableSql("sigma", 2)} AS sigma,
       |  CAST(round($NeymanBudget.0 * nh / n) AS BIGINT) AS prop_alloc,
       |  CAST(round($NeymanBudget.0 * (nh * sigma) / snsig) AS BIGINT)
       |    AS neyman_alloc,
       |  ${NumFns.roundPortableSql(
            "(snsig / n) * (snsig / n) / (snsig2 / n)", 6)}
       |    AS neyman_vs_prop_var
       |FROM st CROSS JOIN tot
       |ORDER BY source""".stripMargin

  /** A/A validation of the content-addressed train/test split: KS
    * distance between the two splits' document-length distributions
    * plus the standardized mean gap — a HASH split must look like two
    * samples of one population, so any significant drift here means
    * the split key leaks content structure and every downstream eval
    * is biased. The self-test q_train_test_split (counts only) can't
    * run. Shape: (length, split) value cells → shared value spine →
    * frame-ordered CDF cumsums (the q_ks_drift machinery, applied
    * between splits); moments fold in DECIMAL(38,0)/HUGEINT; verdict
    * against the two-sample KS critical value 1.36·√((n₁+n₂)/n₁n₂).
    */
  def qSplitAaTest(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val D0 = org.apache.spark.sql.types.DecimalType(38, 0)
    val docs = Tables.documents(s, dir)
      .select(col("n_chars").as("v"), splitCol.as("split"))
      .filter(col("split").isin("train", "test"))
    val cells = docs.groupBy(col("v"))
      .agg(sum(when(col("split") === "train", 1L).otherwise(0L)).as("ca"),
        sum(when(col("split") === "test", 1L).otherwise(0L)).as("cb"))
    val tot = cells.agg(sum(col("ca")).as("na"), sum(col("cb")).as("nb"),
      sum(col("v").cast(D0) * col("ca")).as("sa"),
      sum(col("v").cast(D0) * col("cb")).as("sb"),
      sum(col("v").cast(D0) * col("v") * col("ca")).as("qa"),
      sum(col("v").cast(D0) * col("v") * col("cb")).as("qb"))
    val wCum = Window.orderBy(col("v"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val ks = cells
      .withColumn("cuma", sum(col("ca")).over(wCum))
      .withColumn("cumb", sum(col("cb")).over(wCum))
      .crossJoin(broadcast(tot.select(col("na"), col("nb"))))
      .select(abs(col("cuma").cast("double") / col("na")
        - col("cumb").cast("double") / col("nb")).as("d"))
      .agg(max(col("d")).as("ks"))
    val naD = col("na").cast("double")
    val nbD = col("nb").cast("double")
    val meanA = col("sa").cast("double") / naD
    val meanB = col("sb").cast("double") / nbD
    val varA = (col("na") * col("qa") - col("sa") * col("sa"))
      .cast("double") / (naD * (naD - 1.0))
    val varB = (col("nb") * col("qb") - col("sb") * col("sb"))
      .cast("double") / (nbD * (nbD - 1.0))
    val z = (meanA - meanB) / sqrt(varA / naD + varB / nbD)
    tot.crossJoin(broadcast(ks))
      .select(col("na").as("n_train"), col("nb").as("n_test"),
        NumFns.roundPortable(col("ks"), 6).as("ks_stat"),
        NumFns.roundPortable(
          lit(1.36) * sqrt((naD + nbD) / (naD * nbD)), 6).as("ks_crit"),
        NumFns.roundPortable(z, 4).as("mean_z"),
        (col("ks") <= lit(1.36) * sqrt((naD + nbD) / (naD * nbD))
          && abs(z) <= 1.96).as("split_unbiased"))
  }

  val qSplitAaTestOracle: String =
    s"""WITH docs AS (
       |  SELECT n_chars AS v, $splitCaseSql AS split FROM documents
       |),
       |f AS (SELECT * FROM docs WHERE split IN ('train', 'test')),
       |cells AS (
       |  SELECT v,
       |    CAST(sum(CASE WHEN split = 'train' THEN 1 ELSE 0 END) AS BIGINT)
       |      AS ca,
       |    CAST(sum(CASE WHEN split = 'test' THEN 1 ELSE 0 END) AS BIGINT)
       |      AS cb
       |  FROM f GROUP BY v
       |),
       |tot AS (
       |  SELECT CAST(sum(ca) AS BIGINT) AS na, CAST(sum(cb) AS BIGINT)
       |      AS nb,
       |    sum(CAST(v AS HUGEINT) * ca) AS sa,
       |    sum(CAST(v AS HUGEINT) * cb) AS sb,
       |    sum(CAST(v AS HUGEINT) * v * ca) AS qa,
       |    sum(CAST(v AS HUGEINT) * v * cb) AS qb
       |  FROM cells
       |),
       |ks AS (
       |  SELECT max(abs(CAST(cuma AS DOUBLE) / na
       |    - CAST(cumb AS DOUBLE) / nb)) AS ks
       |  FROM (
       |    SELECT na, nb,
       |      sum(ca) OVER w AS cuma, sum(cb) OVER w AS cumb
       |    FROM cells CROSS JOIN tot
       |    WINDOW w AS (ORDER BY v
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
       |  )
       |),
       |st AS (
       |  SELECT na, nb, ks,
       |    CAST(sa AS DOUBLE) / na - CAST(sb AS DOUBLE) / nb AS md,
       |    CAST(na * qa - sa * sa AS DOUBLE)
       |      / (CAST(na AS DOUBLE) * (CAST(na AS DOUBLE) - 1.0)) AS va,
       |    CAST(nb * qb - sb * sb AS DOUBLE)
       |      / (CAST(nb AS DOUBLE) * (CAST(nb AS DOUBLE) - 1.0)) AS vb,
       |    1.36 * sqrt((CAST(na AS DOUBLE) + nb)
       |      / (CAST(na AS DOUBLE) * nb)) AS crit
       |  FROM tot CROSS JOIN ks
       |),
       |zz AS (
       |  SELECT na, nb, ks, crit,
       |    md / sqrt(va / na + vb / nb) AS z
       |  FROM st
       |)
       |SELECT na AS n_train, nb AS n_test,
       |  ${NumFns.roundPortableSql("ks", 6)} AS ks_stat,
       |  ${NumFns.roundPortableSql("crit", 6)} AS ks_crit,
       |  ${NumFns.roundPortableSql("z", 4)} AS mean_z,
       |  (ks <= crit AND abs(z) <= 1.96) AS split_unbiased
       |FROM zz""".stripMargin

  /** Capture–recapture (Chapman) estimate of corpus size from two
    * independent deterministic 40 % hash-samples — the
    * coverage-estimation trick for "how big is the population we're
    * sampling from?" when only samples are cheap (two crawl frontiers,
    * two vendor feeds), self-certified against the exact count with a
    * 3σ bound like the sketch family. Shape: ONE scan computes both
    * membership flags and the intersection (content-addressed draws —
    * rerun-identical); four exact integer counts, scalar estimate.
    */
  def qCaptureRecapture(s: SparkSession, dir: String): DataFrame = {
    val a = draw("capA", 100) < 40
    val b = draw("capB", 100) < 40
    val m = Tables.documents(s, dir)
      .select(a.as("a"), b.as("b"))
      .agg(count(lit(1)).as("n_true"),
        sum(col("a").cast("long")).as("na"),
        sum(col("b").cast("long")).as("nb"),
        sum((col("a") && col("b")).cast("long")).as("m"))
    val naD = col("na").cast("double")
    val nbD = col("nb").cast("double")
    val mD = col("m").cast("double")
    val chapman = (naD + 1.0) * (nbD + 1.0) / (mD + 1.0) - 1.0
    val varC = (naD + 1.0) * (nbD + 1.0) * (naD - mD) * (nbD - mD) /
      ((mD + 1.0) * (mD + 1.0) * (mD + 2.0))
    m.select(col("n_true"), col("na").as("n_sample_a"),
      col("nb").as("n_sample_b"), col("m").as("n_overlap"),
      NumFns.roundPortable(chapman, 2).as("chapman_estimate"),
      NumFns.roundPortable(sqrt(varC), 2).as("se"),
      (abs(chapman - col("n_true")) <= sqrt(varC) * 3.0).as("within_3se"))
  }

  val qCaptureRecaptureOracle: String =
    s"""WITH f AS (
       |  SELECT (${drawSql("capA", 100)}) < 40 AS a,
       |    (${drawSql("capB", 100)}) < 40 AS b
       |  FROM documents
       |),
       |m AS (
       |  SELECT count(*) AS n_true,
       |    CAST(sum(CASE WHEN a THEN 1 ELSE 0 END) AS BIGINT) AS na,
       |    CAST(sum(CASE WHEN b THEN 1 ELSE 0 END) AS BIGINT) AS nb,
       |    CAST(sum(CASE WHEN a AND b THEN 1 ELSE 0 END) AS BIGINT) AS m
       |  FROM f
       |),
       |e AS (
       |  SELECT n_true, na, nb, m,
       |    (CAST(na AS DOUBLE) + 1.0) * (CAST(nb AS DOUBLE) + 1.0)
       |      / (CAST(m AS DOUBLE) + 1.0) - 1.0 AS chapman,
       |    (CAST(na AS DOUBLE) + 1.0) * (CAST(nb AS DOUBLE) + 1.0)
       |      * (CAST(na AS DOUBLE) - m) * (CAST(nb AS DOUBLE) - m)
       |      / ((CAST(m AS DOUBLE) + 1.0) * (CAST(m AS DOUBLE) + 1.0)
       |        * (CAST(m AS DOUBLE) + 2.0)) AS varc
       |  FROM m
       |)
       |SELECT n_true, na AS n_sample_a, nb AS n_sample_b, m AS n_overlap,
       |  ${NumFns.roundPortableSql("chapman", 2)} AS chapman_estimate,
       |  ${NumFns.roundPortableSql("sqrt(varc)", 2)} AS se,
       |  abs(chapman - n_true) <= sqrt(varc) * 3.0 AS within_3se
       |FROM e""".stripMargin

  /** Otsu's automatic threshold on the stopword-score histogram:
    * maximize between-class variance w₀w₁(μ₀−μ₁)² over all cut points
    * — the UNSUPERVISED operating-point picker (q_youden_threshold
    * needs labels; q_quality_gate takes the drop share as a given;
    * Otsu derives the cut from the score distribution's own
    * bimodality, which is how you threshold a corpus you haven't
    * labeled yet). Shape: one scan → score cells → exclusive prefix
    * sums over the ≤10³-value score frame; every candidate cut is
    * scalar arithmetic on exact integer prefixes; argmax via
    * TakeOrdered(1) with a deterministic score tie-break.
    */
  def qOtsuThreshold(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val D0 = org.apache.spark.sql.types.DecimalType(38, 0)
    val scored = Tables.documents(s, dir)
      .select(TextFns.tokens(col("text")).as("toks"))
      .filter(size(col("toks")) > 0)
      .select(floor(lit(1000L) * size(filter(col("toks"),
        t => t.isin(StopWords.map(w => lit(w): Any): _*)))
        / size(col("toks"))).as("sq"))
    val cells = scored.groupBy(col("sq")).agg(count(lit(1)).as("c"))
    val tot = cells.agg(sum(col("c")).as("n"),
      sum(col("sq").cast(D0) * col("c")).as("ssum"))
    val wCum = Window.orderBy(col("sq"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val pref = cells
      .withColumn("cum", sum(col("c")).over(wCum))
      .withColumn("csum", sum((col("sq").cast(D0) * col("c"))).over(wCum))
      .crossJoin(broadcast(tot))
      .filter(col("cum") > 0 && col("cum") < col("n"))
    val w0 = col("cum").cast("double") / col("n")
    val mu0 = col("csum").cast("double") / col("cum")
    val mu1 = (col("ssum") - col("csum")).cast("double") /
      (col("n") - col("cum"))
    val varB = w0 * (lit(1.0) - w0) * (mu0 - mu1) * (mu0 - mu1)
    pref.select(col("sq"), col("n"), varB.as("vb"))
      .orderBy(col("vb").desc, col("sq"))
      .limit(1)
      .select(col("n").as("n_docs"), col("sq").as("otsu_cut_permille"),
        NumFns.roundPortable(col("vb"), 4).as("between_class_var"))
  }

  val qOtsuThresholdOracle: String =
    s"""WITH t AS (
       |  SELECT ${TextFns.toksSql} AS toks FROM documents
       |),
       |sc AS (
       |  SELECT CAST(floor(1000 * len(list_filter(toks,
       |      x -> x IN ($stopListSql))) / len(toks)) AS BIGINT) AS sq
       |  FROM t WHERE len(toks) > 0
       |),
       |cells AS (SELECT sq, count(*) AS c FROM sc GROUP BY sq),
       |tot AS (
       |  SELECT CAST(sum(c) AS BIGINT) AS n,
       |    CAST(sum(CAST(sq AS HUGEINT) * c) AS BIGINT) AS ssum
       |  FROM cells
       |),
       |pref AS (
       |  SELECT sq, n, ssum,
       |    CAST(sum(c) OVER w AS BIGINT) AS cum,
       |    CAST(sum(sq * c) OVER w AS BIGINT) AS csum
       |  FROM cells CROSS JOIN tot
       |  WINDOW w AS (ORDER BY sq
       |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
       |),
       |vb AS (
       |  SELECT sq, n,
       |    (CAST(cum AS DOUBLE) / n) * (1.0 - CAST(cum AS DOUBLE) / n)
       |      * (CAST(csum AS DOUBLE) / cum
       |        - CAST(ssum - csum AS DOUBLE) / (n - cum))
       |      * (CAST(csum AS DOUBLE) / cum
       |        - CAST(ssum - csum AS DOUBLE) / (n - cum)) AS vb
       |  FROM pref WHERE cum > 0 AND cum < n
       |)
       |SELECT n AS n_docs, sq AS otsu_cut_permille,
       |  ${NumFns.roundPortableSql("vb", 4)} AS between_class_var
       |FROM vb
       |ORDER BY vb DESC, sq
       |LIMIT 1""".stripMargin
}
