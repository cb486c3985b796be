package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.{NumFns, TextFns}
import graft.sources.Tables

/** Text-analysis operators over the documents corpus (SURVEY.md §2,
  * table 3): token counting, quality scoring, language-ID heuristic and
  * document fingerprinting. All are single-pass scan-side projections —
  * no shuffle except each query's final presentation sort — so they
  * stream at parquet-scan speed regardless of corpus size.
  */
object TextAnalysis {

  private val EnStop = Seq("the", "a", "of", "and", "to")
  private val EsStop = Seq("el", "la", "de", "y", "en")
  private val DeStop = Seq("der", "die", "das", "und", "zu")
  private val FrStop = Seq("le", "un", "une", "et", "dans")

  private def stopCount(toksCol: String, words: Seq[String]): org.apache.spark.sql.Column =
    size(filter(col(toksCol), t => t.isin(words.map(w => lit(w): Any): _*)))

  private def stopCountSql(words: Seq[String]): String =
    s"len(list_filter(toks, t -> t IN (${words.map(w => s"'$w'").mkString(", ")})))"

  private val toksSql = TextFns.toksSql

  /** Token counting: whitespace tokens + a BPE-ish regex segmentation
    * (letter runs / single digits / single punctuation marks).
    */
  def qTextTokens(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir)
      .select(
        col("doc_id"),
        size(TextFns.tokens(col("text"))).as("n_ws_tokens"),
        size(regexp_extract_all(lower(col("text")),
          lit("[a-z]+|[0-9]|[^a-z0-9\\s]"), lit(0))).as("n_bpe_tokens"),
        length(col("text")).as("n_chars_measured"))
      .orderBy(col("doc_id"))

  val qTextTokensOracle: String =
    s"""SELECT doc_id,
       |  CAST(len($toksSql) AS INTEGER) AS n_ws_tokens,
       |  CAST(len(regexp_extract_all(lower(text), '[a-z]+|[0-9]|[^a-z0-9\\s]')) AS INTEGER) AS n_bpe_tokens,
       |  CAST(length(text) AS INTEGER) AS n_chars_measured
       |FROM documents
       |ORDER BY doc_id""".stripMargin

  /** Quality scoring: token count, stopword ratio, type-token ratio, and
    * a composite score — integer counts with double ratios (identical
    * division on both engines).
    */
  def qTextQuality(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir)
      .select(col("doc_id"), TextFns.tokens(col("text")).as("toks"))
      .select(
        col("doc_id"),
        size(col("toks")).as("n_tokens"),
        stopCount("toks", EnStop).as("n_stop"),
        size(array_distinct(col("toks"))).as("n_types"))
      .select(
        col("doc_id"), col("n_tokens"), col("n_stop"),
        round(col("n_stop") / col("n_tokens"), 6).as("stop_ratio"),
        round(col("n_types") / col("n_tokens"), 6).as("type_token_ratio"),
        round(least(lit(1.0), col("n_tokens") / 100.0) *
          (lit(1.0) - col("n_stop") / col("n_tokens")), 6).as("quality_score"))
      .orderBy(col("doc_id"))

  val qTextQualityOracle: String =
    s"""WITH t AS (SELECT doc_id, $toksSql AS toks FROM documents),
       |c AS (
       |  SELECT doc_id, len(toks) AS n_tokens,
       |    ${stopCountSql(EnStop)} AS n_stop,
       |    len(list_distinct(toks)) AS n_types
       |  FROM t
       |)
       |SELECT doc_id, CAST(n_tokens AS INTEGER) AS n_tokens, CAST(n_stop AS INTEGER) AS n_stop,
       |  round(n_stop / n_tokens, 6) AS stop_ratio,
       |  round(n_types / n_tokens, 6) AS type_token_ratio,
       |  round(least(1.0, n_tokens / 100.0) * (1.0 - n_stop / n_tokens), 6) AS quality_score
       |FROM c
       |ORDER BY doc_id""".stripMargin

  /** Language-ID heuristic: stopword-profile scores per candidate
    * language, argmax with a fixed tie-break order (en > es > de > fr).
    * The corpus ships a ground-truth lang column, so the query exposes
    * both for downstream accuracy measurement.
    */
  def qTextLangid(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir)
      .select(col("doc_id"), col("lang"), TextFns.tokens(col("text")).as("toks"))
      .select(
        col("doc_id"), col("lang"),
        stopCount("toks", EnStop).as("s_en"),
        stopCount("toks", EsStop).as("s_es"),
        stopCount("toks", DeStop).as("s_de"),
        stopCount("toks", FrStop).as("s_fr"))
      .withColumn("predicted",
        when(col("s_en") >= col("s_es") && col("s_en") >= col("s_de") && col("s_en") >= col("s_fr"), "en")
          .when(col("s_es") >= col("s_de") && col("s_es") >= col("s_fr"), "es")
          .when(col("s_de") >= col("s_fr"), "de")
          .otherwise("fr"))
      .select(col("doc_id"), col("lang"), col("predicted"),
        col("s_en"), col("s_es"), col("s_de"), col("s_fr"))
      .orderBy(col("doc_id"))

  val qTextLangidOracle: String =
    s"""WITH t AS (SELECT doc_id, lang, $toksSql AS toks FROM documents),
       |sc AS (
       |  SELECT doc_id, lang,
       |    ${stopCountSql(EnStop)} AS s_en,
       |    ${stopCountSql(EsStop)} AS s_es,
       |    ${stopCountSql(DeStop)} AS s_de,
       |    ${stopCountSql(FrStop)} AS s_fr
       |  FROM t
       |)
       |SELECT doc_id, lang,
       |  CASE
       |    WHEN s_en >= s_es AND s_en >= s_de AND s_en >= s_fr THEN 'en'
       |    WHEN s_es >= s_de AND s_es >= s_fr THEN 'es'
       |    WHEN s_de >= s_fr THEN 'de'
       |    ELSE 'fr'
       |  END AS predicted,
       |  CAST(s_en AS INTEGER) AS s_en, CAST(s_es AS INTEGER) AS s_es,
       |  CAST(s_de AS INTEGER) AS s_de, CAST(s_fr AS INTEGER) AS s_fr
       |FROM sc
       |ORDER BY doc_id""".stripMargin

  /** The composite training-corpus filter — the canonical LLM-data
    * keep-set in ONE declarative query: keep a document iff it is (a)
    * its exact-dedup group's keeper (min doc_id per content
    * fingerprint), (b) predicted English by the stopword-profile
    * heuristic, and (c) above the quality threshold. One corpus scan
    * computes tokens/scores; the keeper set is a fingerprint-keyed
    * aggregate (the only shuffle besides the final semi-join on
    * doc_id); everything composes lazily so Catalyst prunes the text
    * column after scoring.
    */
  def qCorpusFilter(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
    val scored = docs
      .select(col("doc_id"), col("text"), TextFns.tokens(col("text")).as("toks"))
      .select(
        col("doc_id"), col("text"),
        size(col("toks")).as("n_tokens"),
        stopCount("toks", EnStop).as("s_en"),
        stopCount("toks", EsStop).as("s_es"),
        stopCount("toks", DeStop).as("s_de"),
        stopCount("toks", FrStop).as("s_fr"))
      .withColumn("predicted",
        when(col("s_en") >= col("s_es") && col("s_en") >= col("s_de") && col("s_en") >= col("s_fr"), "en")
          .when(col("s_es") >= col("s_de") && col("s_es") >= col("s_fr"), "es")
          .when(col("s_de") >= col("s_fr"), "de")
          .otherwise("fr"))
      .withColumn("quality_score",
        round(least(lit(1.0), col("n_tokens") / 100.0) *
          (lit(1.0) - col("s_en") / col("n_tokens")), 6))
    val keepers = docs
      .select(md5(TextFns.normalized(col("text"))).as("fp"), col("doc_id"))
      .groupBy(col("fp")).agg(min(col("doc_id")).as("doc_id"))
      .select(col("doc_id"))
    scored
      .join(keepers, Seq("doc_id"), "left_semi")
      .filter(col("predicted") === "en" && col("quality_score") >= 0.3)
      .select(col("doc_id"), col("n_tokens"), col("quality_score"))
      .orderBy(col("doc_id"))
  }

  val qCorpusFilterOracle: String =
    s"""WITH t AS (SELECT doc_id, text, $toksSql AS toks FROM documents),
       |sc AS (
       |  SELECT doc_id, len(toks) AS n_tokens,
       |    ${stopCountSql(EnStop)} AS s_en,
       |    ${stopCountSql(EsStop)} AS s_es,
       |    ${stopCountSql(DeStop)} AS s_de,
       |    ${stopCountSql(FrStop)} AS s_fr
       |  FROM t
       |),
       |lq AS (
       |  SELECT doc_id, n_tokens,
       |    CASE
       |      WHEN s_en >= s_es AND s_en >= s_de AND s_en >= s_fr THEN 'en'
       |      WHEN s_es >= s_de AND s_es >= s_fr THEN 'es'
       |      WHEN s_de >= s_fr THEN 'de'
       |      ELSE 'fr'
       |    END AS predicted,
       |    round(least(1.0, n_tokens / 100.0) * (1.0 - s_en / n_tokens), 6) AS quality_score
       |  FROM sc
       |),
       |k AS (
       |  SELECT min(doc_id) AS doc_id
       |  FROM (SELECT md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')) AS fp, doc_id
       |        FROM documents) f
       |  GROUP BY fp
       |)
       |SELECT lq.doc_id, CAST(lq.n_tokens AS INTEGER) AS n_tokens, lq.quality_score
       |FROM lq JOIN k ON lq.doc_id = k.doc_id
       |WHERE lq.predicted = 'en' AND lq.quality_score >= 0.3
       |ORDER BY lq.doc_id""".stripMargin

  /** Document fingerprint: md5 over the whitespace-canonicalized text —
    * the content-addressable identity used by exact dedup.
    */
  def qTextFingerprint(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir)
      .select(
        col("doc_id"),
        md5(TextFns.normalized(col("text"))).as("fingerprint"),
        length(col("text")).as("n_chars_measured"))
      .orderBy(col("doc_id"))

  val qTextFingerprintOracle: String =
    """SELECT doc_id,
      |  md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) AS fingerprint,
      |  CAST(length(text) AS INTEGER) AS n_chars_measured
      |FROM documents
      |ORDER BY doc_id""".stripMargin

  /** Top-3 TF-IDF terms per document. Term frequencies combine map-side
    * under the explode (the shuffle carries (doc, word, n) partials, not
    * token rows); document frequencies are one more aggregation over the
    * tf table keyed by word; the corpus size joins in as a broadcast
    * 1-row aggregate. The per-document top-3 is a bounded window — its
    * sort is per-doc (tiny), never global. idf = ln(N/df), scores
    * rounded to 6 on both engines and ranked AFTER rounding with a word
    * tie-break, so cross-engine last-bit drift cannot flip ranks.
    */
  def qTfidf(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val docs = Tables.documents(s, dir)
    val tf = docs
      .select(col("doc_id"), explode(TextFns.tokens(col("text"))).as("word"))
      .groupBy(col("doc_id"), col("word"))
      .agg(count(lit(1)).as("tf"))
    val dfreq = tf.groupBy(col("word")).agg(count(lit(1)).as("df"))
    val nDocs = docs.agg(count(lit(1)).as("n_docs"))
    val w = Window.partitionBy(col("doc_id")).orderBy(col("tfidf").desc, col("word"))
    // dfreq is VOCABULARY-domain (one row per word — Heaps-law growth,
    // billions of rows on a 100 TB crawl): left to itself Catalyst
    // auto-broadcasts it at test scale, which is the r1 cliff at 100×.
    // The r12 engine-wide PlanAuditSpec ban caught exactly this site.
    tf.join(dfreq.hint("shuffle_hash"), "word")
      .crossJoin(broadcast(nDocs))
      .withColumn("tfidf",
        round(col("tf") * log(col("n_docs").cast("double") / col("df")), 6))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= 3)
      .select(col("doc_id"), col("word"), col("tfidf"), col("rank"))
      .orderBy(col("doc_id"), col("rank"))
  }

  val qTfidfOracle: String =
    """WITH toks AS (
      |  SELECT doc_id, unnest(regexp_split_to_array(lower(trim(text)), '\s+')) AS word
      |  FROM documents
      |),
      |tf AS (SELECT doc_id, word, count(*) AS tf FROM toks GROUP BY doc_id, word),
      |df AS (SELECT word, count(*) AS df FROM tf GROUP BY word),
      |n AS (SELECT count(*) AS n_docs FROM documents),
      |sc AS (
      |  SELECT tf.doc_id, tf.word,
      |    round(tf.tf * ln(n.n_docs::DOUBLE / df.df), 6) AS tfidf
      |  FROM tf JOIN df ON tf.word = df.word CROSS JOIN n
      |)
      |SELECT doc_id, word, tfidf, CAST(rank AS INTEGER) AS rank FROM (
      |  SELECT doc_id, word, tfidf,
      |    row_number() OVER (PARTITION BY doc_id ORDER BY tfidf DESC, word) AS rank
      |  FROM sc) t
      |WHERE rank <= 3
      |ORDER BY doc_id, rank""".stripMargin

  /** Vocabulary coverage curve — the tokenizer-sizing analytic: the top
    * [[VocabTopK]] words by corpus frequency with each word's token
    * share and the running cumulative share ("a 50-word vocab covers x%
    * of all tokens"). Word counts are one map-side-combined aggregation;
    * the top-k is TakeOrdered (a per-partition heap + driver merge of k
    * rows — never a global sort), and the cumulative window runs over
    * the k-row result with the 1-row corpus total broadcast.
    */
  val VocabTopK = 50

  def qVocabCoverage(s: SparkSession, dir: String): DataFrame = {
    val words = Tables.documents(s, dir)
      .select(explode(TextFns.tokens(col("text"))).as("word"))
    val counts = words.groupBy(col("word")).agg(count(lit(1)).as("n"))
    val total = counts.agg(sum(col("n")).as("tot"))
    val top = counts.orderBy(col("n").desc, col("word")).limit(VocabTopK)
    val w = Window.orderBy(col("n").desc, col("word"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    top.crossJoin(broadcast(total))
      .withColumn("rank", row_number().over(Window.orderBy(col("n").desc, col("word"))))
      .select(col("rank"), col("word"), col("n"),
        round(col("n") / col("tot"), 6).as("share"),
        round(sum(col("n") / col("tot")).over(w), 6).as("cum_share"))
      .orderBy(col("rank"))
  }

  val qVocabCoverageOracle: String =
    s"""WITH w AS (
       |  SELECT unnest($toksSql) AS word FROM documents
       |),
       |c AS (SELECT word, count(*) AS n FROM w GROUP BY word),
       |t AS (SELECT CAST(sum(n) AS BIGINT) AS tot FROM c),
       |top AS (
       |  SELECT word, n, row_number() OVER (ORDER BY n DESC, word) AS rank
       |  FROM c ORDER BY n DESC, word LIMIT $VocabTopK
       |)
       |SELECT CAST(rank AS INTEGER) AS rank, word, n,
       |  round(n / t.tot, 6) AS share,
       |  round(sum(n / t.tot) OVER (ORDER BY n DESC, word
       |                             ROWS UNBOUNDED PRECEDING), 6) AS cum_share
       |FROM top CROSS JOIN t
       |ORDER BY rank""".stripMargin

  /** Bigram language-model scoring: train the LM on the corpus itself
    * (bigram/unigram conditional MLE) and score every document by its
    * mean log-probability — the perplexity-style fluency signal quality
    * pipelines use beside rule filters. One grouped count plus a window
    * sum builds the model; scoring joins each document's bigrams to the
    * model on the bigram key. The model is derived from the corpus, so
    * the join carries `shuffle_hash` (the §5 cliff: never let Catalyst
    * broadcast-build a derived corpus on the driver). At 100 TB the
    * model table persists bucketed by its key and scoring is one
    * co-located join per batch.
    */
  def qBigramLm(s: SparkSession, dir: String): DataFrame =
    bigramScores(Tables.documents(s, dir)).orderBy(col("doc_id"))

  /** Frame-form bigram scoring behind [[qBigramLm]] and the pipeline's
    * perplexity stage: (doc_id, text) → (doc_id, n_bigrams, avg_logp)
    * for every document with ≥ 2 tokens, scored by the corpus's own
    * MLE bigram model.
    */
  def bigramScores(docs: DataFrame): DataFrame = {
    // materialized once: the model count AND the scoring join both read
    // this frame — without the checkpoint the tokenize+explode (the
    // dominant stage) executes twice
    val bg = docs
      .select(col("doc_id"), TextFns.tokens(col("text")).as("toks"))
      .filter(size(col("toks")) >= 2)
      .select(col("doc_id"), explode(
        transform(sequence(lit(0), size(col("toks")) - 2), i =>
          struct(
            concat_ws(" ", element_at(col("toks"), i + 1),
              element_at(col("toks"), i + 2)).as("bigram"),
            element_at(col("toks"), i + 1).as("w1")))).as("b"))
      .select(col("doc_id"), col("b.bigram").as("bigram"), col("b.w1").as("w1"))
      .localCheckpoint()
    // tokens hold no space, so a bigram determines its w1 and the unigram
    // count c1(w1) is Σ c2 over w1's bigrams: one grouped count of bg
    // yields the whole (bigram, c2, c1) model, and bg is joined once
    val model = bg.groupBy(col("bigram"), col("w1")).agg(count(lit(1)).as("c2"))
      .select(col("bigram"), col("c2"),
        sum(col("c2")).over(Window.partitionBy(col("w1"))).as("c1"))
    bg
      .join(model.hint("shuffle_hash"), Seq("bigram"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_bigrams"),
        graft.functions.NumFns.stableMean(
          log(col("c2") / col("c1").cast("double")), count(lit(1)), 4).as("avg_logp"))
  }

  val qBigramLmOracle: String =
    s"""WITH t AS (
      |  SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\\s+') AS toks
      |  FROM documents
      |),
      |bg AS (
      |  SELECT doc_id, t.toks[i] || ' ' || t.toks[i+1] AS bigram, t.toks[i] AS w1
      |  FROM t, unnest(range(1, len(toks))) AS u(i)
      |  WHERE len(toks) >= 2
      |),
      |bc AS (SELECT bigram, count(*) AS c2 FROM bg GROUP BY bigram),
      |uc AS (SELECT w1, count(*) AS c1 FROM bg GROUP BY w1)
      |SELECT bg.doc_id, count(*) AS n_bigrams,
      |  ${graft.functions.NumFns.stableMeanSql("ln(bc.c2 / CAST(uc.c1 AS DOUBLE))", "count(*)", 4)} AS avg_logp
      |FROM bg JOIN bc USING (bigram) JOIN uc USING (w1)
      |GROUP BY bg.doc_id
      |ORDER BY bg.doc_id""".stripMargin

  /** Top candidate merges for one BPE training step: corpus-wide counts
    * of adjacent CHARACTER pairs, the argmax of which is the next merge
    * rule. Scale trick (the one real BPE trainers use): pair counting
    * runs over the distinct-word VOCABULARY weighted by word frequency,
    * not over the corpus — the corpus is scanned once for the word-count
    * aggregate (map-side combined), and the character-level explode
    * touches only |vocab| rows. At 100 TB the corpus pass is unchanged
    * and the pair stage stays dimension-sized. Integer-exact on both
    * engines; ties broken by pair text.
    */
  val BpeTopPairs = 20

  def qBpePairCount(s: SparkSession, dir: String): DataFrame = {
    val vocab = Tables.documents(s, dir)
      .select(explode(TextFns.tokens(col("text"))).as("w"))
      .groupBy(col("w")).agg(count(lit(1)).as("n"))
      .filter(length(col("w")) >= 2)
    vocab
      .select(explode(transform(
        sequence(lit(1), length(col("w")) - 1),
        i => col("w").substr(i, lit(2)))).as("pair"), col("n"))
      .groupBy(col("pair")).agg(sum(col("n")).as("freq"))
      .orderBy(col("freq").desc, col("pair"))
      .limit(BpeTopPairs)
  }

  val qBpePairCountOracle: String =
    s"""WITH w AS (SELECT unnest($toksSql) AS w FROM documents),
       |v AS (SELECT w, count(*) AS n FROM w GROUP BY w HAVING len(w) >= 2),
       |p AS (
       |  SELECT w[i : i + 1] AS pair, n
       |  FROM v, unnest(range(1, len(w))) AS u(i)
       |)
       |SELECT pair, CAST(sum(n) AS BIGINT) AS freq
       |FROM p GROUP BY pair
       |ORDER BY freq DESC, pair
       |LIMIT $BpeTopPairs""".stripMargin

  /** Token co-occurrence PMI (pointwise mutual information): for every
    * pair of words appearing in the same document, ln(N·c_ab/(c_a·c_b))
    * — the association statistic under word-embedding objectives and
    * collocation mining. Counts are document-level (distinct tokens per
    * doc), so all three inputs are integer-exact; ln runs once per pair
    * on identical rationals (same parity basis as q_word_entropy). The
    * pair generator is a doc_id-keyed self-join of the per-doc distinct
    * token list — shuffles carry (doc_id, word), and per-doc pair cost
    * is bounded by distinct-tokens² (a production corpus caps this by
    * restricting to the top-K vocabulary before pairing; the synthetic
    * vocab is already dimension-sized). Derived self-join side is
    * shuffle_hash, never broadcast (the §5 driver-build cliff).
    */
  val PmiMinPairCount = 5

  def qTokenPmi(s: SparkSession, dir: String): DataFrame = {
    val tok = Tables.documents(s, dir)
      .select(col("doc_id"), explode(TextFns.tokenSet(col("text"))).as("w"))
      .localCheckpoint()
    val nDocs = tok.select(col("doc_id")).distinct()
      .agg(count(lit(1)).as("n_docs"))
    val cw = tok.groupBy(col("w")).agg(count(lit(1)).as("c"))
    val pairs = tok.as("a")
      .join(tok.as("b").hint("shuffle_hash"),
        col("a.doc_id") === col("b.doc_id") && col("a.w") < col("b.w"))
      .groupBy(col("a.w").as("w_a"), col("b.w").as("w_b"))
      .agg(count(lit(1)).as("c_ab"))
      .filter(col("c_ab") >= PmiMinPairCount)
    pairs
      .join(cw.select(col("w").as("w_a"), col("c").as("c_a")).hint("shuffle_hash"), Seq("w_a"))
      .join(cw.select(col("w").as("w_b"), col("c").as("c_b")).hint("shuffle_hash"), Seq("w_b"))
      .crossJoin(broadcast(nDocs))
      .select(col("w_a"), col("w_b"), col("c_a"), col("c_b"), col("c_ab"),
        round(log(col("c_ab") * col("n_docs") / (col("c_a") * col("c_b"))
          .cast("double")), 6).as("pmi"))
      .orderBy(col("w_a"), col("w_b"))
  }

  val qTokenPmiOracle: String =
    s"""WITH tok AS (
       |  SELECT doc_id, unnest(list_distinct($toksSql)) AS w FROM documents
       |),
       |nd AS (SELECT count(DISTINCT doc_id) AS n_docs FROM tok),
       |cw AS (SELECT w, count(*) AS c FROM tok GROUP BY w),
       |p AS (
       |  SELECT a.w AS w_a, b.w AS w_b, count(*) AS c_ab
       |  FROM tok a JOIN tok b ON a.doc_id = b.doc_id AND a.w < b.w
       |  GROUP BY a.w, b.w
       |  HAVING count(*) >= $PmiMinPairCount
       |)
       |SELECT p.w_a, p.w_b, ca.c AS c_a, cb.c AS c_b, p.c_ab,
       |  round(ln(p.c_ab * nd.n_docs / CAST(ca.c * cb.c AS DOUBLE)), 6) AS pmi
       |FROM p
       |JOIN cw ca ON ca.w = p.w_a
       |JOIN cw cb ON cb.w = p.w_b
       |CROSS JOIN nd
       |ORDER BY w_a, w_b""".stripMargin

  /** Pairwise source vocabulary overlap: Jaccard of the distinct word
    * sets of every source pair — the redundancy audit that shows which
    * domains contribute NOVEL vocabulary to the mix and which are
    * lexical re-skins of each other (inputs to dedup budgets and mix
    * design). Integer-exact: |A∩B| comes from a word-keyed self-join of
    * the (source, word) distinct frame, |A∪B| = |A|+|B|−|A∩B| from the
    * per-source sizes. The (source, word) frame is dimension-sized
    * (sources × vocab); a production corpus first applies a document-
    * frequency cut so universal stopwords don't fan out to all O(S²)
    * pairs per word — the same top-K bounding as the PMI pair stage.
    * Derived self-join sides are shuffle_hash, never broadcast.
    */
  def qSourceVocabOverlap(s: SparkSession, dir: String): DataFrame = {
    val v = Tables.documents(s, dir)
      .select(col("source"), explode(TextFns.tokenSet(col("text"))).as("w"))
      .distinct()
      .localCheckpoint()
    val sizes = v.groupBy(col("source")).agg(count(lit(1)).as("nv"))
    val inter = v.as("a")
      .join(v.as("b").hint("shuffle_hash"),
        col("a.w") === col("b.w") && col("a.source") < col("b.source"))
      .groupBy(col("a.source").as("source_a"), col("b.source").as("source_b"))
      .agg(count(lit(1)).as("n_common"))
    inter
      .join(broadcast(sizes.select(col("source").as("source_a"), col("nv").as("n_a"))),
        Seq("source_a"))
      .join(broadcast(sizes.select(col("source").as("source_b"), col("nv").as("n_b"))),
        Seq("source_b"))
      .select(col("source_a"), col("source_b"), col("n_a"), col("n_b"), col("n_common"),
        round(col("n_common") / (col("n_a") + col("n_b") - col("n_common")).cast("double"), 6)
          .as("jaccard"))
      .orderBy(col("source_a"), col("source_b"))
  }

  val qSourceVocabOverlapOracle: String =
    s"""WITH v0 AS (
       |  SELECT source, unnest(list_distinct($toksSql)) AS w FROM documents
       |),
       |v AS (SELECT DISTINCT source, w FROM v0),
       |sz AS (SELECT source, count(*) AS nv FROM v GROUP BY source),
       |i AS (
       |  SELECT a.source AS source_a, b.source AS source_b, count(*) AS n_common
       |  FROM v a JOIN v b ON a.w = b.w AND a.source < b.source
       |  GROUP BY a.source, b.source
       |)
       |SELECT i.source_a, i.source_b, sa.nv AS n_a, sb.nv AS n_b, i.n_common,
       |  round(i.n_common / CAST(sa.nv + sb.nv - i.n_common AS DOUBLE), 6) AS jaccard
       |FROM i
       |JOIN sz sa ON sa.source = i.source_a
       |JOIN sz sb ON sb.source = i.source_b
       |ORDER BY source_a, source_b""".stripMargin

  /** Rank-enumeration chunk size for [[qZipfFit]]: one tied-frequency
    * block's rank range is split into runs of this many consecutive
    * integer ranks, each generated and partially aggregated in its own
    * task.
    */
  val ZipfChunk = 65536L

  /** Zipf's-law fit over the corpus rank-frequency curve: least-squares
    * slope/intercept/R² of ln(freq) against ln(rank) — the one-number
    * "does this corpus look like natural language?" health check (a
    * natural corpus fits slope ≈ −1; templated or machine-generated text
    * bends the curve and tanks R²). Shape (r6): the vocabulary frame is
    * NEVER ranked — every moment term depends only on (rank, freq), and
    * ranks under (n desc, word) form contiguous blocks per distinct
    * frequency, so the COUNT-OF-COUNTS cells (n, n_words) + an exclusive
    * prefix over that ~√corpus-sized frame give each block its rank
    * range [o+1, o+n_words]; the ranks themselves are re-enumerated as
    * integers in 64 Ki chunks (chunk frame repartitioned, so a 10⁸-word
    * hapax block at 100 TB becomes ~1.5k independent tasks, not one).
    * WHICH word holds which rank inside a tied block never matters:
    * y = ln(freq) is constant there. Five moment sums in one pass, each
    * term cast to DECIMAL(38,12) per-rank (exact, order-independent —
    * identical to the oracle's per-word sums because decimal addition
    * is associative and each rank appears exactly once); the closed
    * form is evaluated once on the 1-row result. Cross-engine ln
    * differs by ≤1 ulp → moment sums agree to ~1e-13, far inside the
    * round-at-4 gap.
    */
  def qZipfFit(s: SparkSession, dir: String): DataFrame = {
    val D = org.apache.spark.sql.types.DecimalType(38, 12)
    val counts = Tables.documents(s, dir)
      .select(explode(TextFns.tokens(col("text"))).as("word"))
      .groupBy(col("word")).agg(count(lit(1)).as("n"))
    val wOff = Window.orderBy(col("n").desc)
      .rowsBetween(Window.unboundedPreceding, -1)
    val blocks = counts.groupBy(col("n")).agg(count(lit(1)).as("nw"))
      .withColumn("o", coalesce(sum(col("nw")).over(wOff), lit(0L)))
    val chunks = blocks
      .select(col("n"), col("nw"), col("o"),
        explode(sequence(lit(0L), expr(s"(nw - 1) div $ZipfChunk"))).as("ch"))
      .repartition(col("n"), col("ch"))
    val ranked = chunks
      .select(col("n"), explode(sequence(
        col("o") + col("ch") * ZipfChunk + 1,
        least(col("o") + (col("ch") + 1) * ZipfChunk, col("o") + col("nw"))))
        .as("rank"))
      .select(log(col("rank").cast("double")).as("x"),
        log(col("n").cast("double")).as("y"))
    val m = ranked.agg(
      count(lit(1)).as("k"),
      sum(col("x").cast(D)).as("sx"), sum(col("y").cast(D)).as("sy"),
      sum((col("x") * col("x")).cast(D)).as("sxx"),
      sum((col("y") * col("y")).cast(D)).as("syy"),
      sum((col("x") * col("y")).cast(D)).as("sxy"))
    m.select(
        col("k").as("n_types"),
        round(((col("k") * col("sxy") - col("sx") * col("sy")).cast("double") /
          (col("k") * col("sxx") - col("sx") * col("sx")).cast("double")), 4)
          .as("slope"),
        round(((col("sy").cast("double") -
          ((col("k") * col("sxy") - col("sx") * col("sy")).cast("double") /
            (col("k") * col("sxx") - col("sx") * col("sx")).cast("double"))
            * col("sx").cast("double")) / col("k")), 4).as("intercept"),
        round((
          (col("k") * col("sxy") - col("sx") * col("sy")).cast("double") *
          (col("k") * col("sxy") - col("sx") * col("sy")).cast("double") /
          ((col("k") * col("sxx") - col("sx") * col("sx")).cast("double") *
           (col("k") * col("syy") - col("sy") * col("sy")).cast("double"))), 4)
          .as("r2"))
  }

  val qZipfFitOracle: String =
    s"""WITH w AS (
       |  SELECT unnest($toksSql) AS word FROM documents
       |),
       |c AS (SELECT word, count(*) AS n FROM w GROUP BY word),
       |r AS (
       |  SELECT ln(CAST(row_number() OVER (ORDER BY n DESC, word) AS DOUBLE)) AS x,
       |    ln(CAST(n AS DOUBLE)) AS y
       |  FROM c
       |),
       |m AS (
       |  SELECT count(*) AS k,
       |    sum(CAST(x AS DECIMAL(38,12))) AS sx,
       |    sum(CAST(y AS DECIMAL(38,12))) AS sy,
       |    sum(CAST(x * x AS DECIMAL(38,12))) AS sxx,
       |    sum(CAST(y * y AS DECIMAL(38,12))) AS syy,
       |    sum(CAST(x * y AS DECIMAL(38,12))) AS sxy
       |  FROM r
       |)
       |SELECT k AS n_types,
       |  round(CAST(k * sxy - sx * sy AS DOUBLE)
       |    / CAST(k * sxx - sx * sx AS DOUBLE), 4) AS slope,
       |  round((CAST(sy AS DOUBLE)
       |    - CAST(k * sxy - sx * sy AS DOUBLE)
       |      / CAST(k * sxx - sx * sx AS DOUBLE) * CAST(sx AS DOUBLE)) / k, 4)
       |    AS intercept,
       |  round(CAST(k * sxy - sx * sy AS DOUBLE) * CAST(k * sxy - sx * sy AS DOUBLE)
       |    / (CAST(k * sxx - sx * sx AS DOUBLE) * CAST(k * syy - sy * sy AS DOUBLE)), 4)
       |    AS r2
       |FROM m""".stripMargin

  /** Language-ID confusion matrix against the corpus's ground-truth
    * `lang` column — classifier evaluation as a first-class operator:
    * per (true, predicted) cell the count plus the cell's contribution
    * to that true class's RECALL and that predicted class's PRECISION.
    * The honest readout matters: the stopword heuristic can only emit
    * en/es/de/fr, so the zh row shows exactly where its mass leaks —
    * the table a curation team reads before trusting a lang filter.
    * Shape: the per-doc prediction pass is [[qTextLangid]]'s scan; the
    * matrix is one map-side-combined (true, predicted) count, and both
    * marginals are windows over that ≤ langs² cell frame. Counts are
    * exact; the two ratios are single divisions of exact longs rounded
    * via [[NumFns.roundPortable]] (a small-denominator rational CAN land
    * exactly on a 7th-decimal boundary, e.g. n_true = 512).
    */
  def qLangidEval(s: SparkSession, dir: String): DataFrame = {
    val wTrue = Window.partitionBy(col("lang"))
    val wPred = Window.partitionBy(col("predicted"))
    qTextLangid(s, dir)
      .groupBy(col("lang"), col("predicted"))
      .agg(count(lit(1)).as("n"))
      .withColumn("n_true", sum(col("n")).over(wTrue))
      .withColumn("n_pred", sum(col("n")).over(wPred))
      .select(col("lang"), col("predicted"), col("n"),
        col("n_true"), col("n_pred"),
        (col("lang") === col("predicted")).as("correct"),
        NumFns.roundPortable(col("n") / col("n_true").cast("double"), 6)
          .as("recall_share"),
        NumFns.roundPortable(col("n") / col("n_pred").cast("double"), 6)
          .as("precision_share"))
      .orderBy(col("lang"), col("predicted"))
  }

  val qLangidEvalOracle: String =
    s"""WITH pred AS ($qTextLangidOracle),
       |cm AS (
       |  SELECT lang, predicted, count(*) AS n
       |  FROM pred GROUP BY lang, predicted
       |)
       |SELECT lang, predicted, n,
       |  CAST(sum(n) OVER (PARTITION BY lang) AS BIGINT) AS n_true,
       |  CAST(sum(n) OVER (PARTITION BY predicted) AS BIGINT) AS n_pred,
       |  lang = predicted AS correct,
       |  ${NumFns.roundPortableSql(
             "n / CAST(sum(n) OVER (PARTITION BY lang) AS DOUBLE)", 6)}
       |    AS recall_share,
       |  ${NumFns.roundPortableSql(
             "n / CAST(sum(n) OVER (PARTITION BY predicted) AS DOUBLE)", 6)}
       |    AS precision_share
       |FROM cm
       |ORDER BY lang, predicted""".stripMargin

  /** Cohen's kappa of the langid classifier against the true labels —
    * the chance-corrected agreement q_langid_eval's raw confusion shares
    * cannot give: with one dominant language, plain accuracy is high by
    * default, while κ = (p_o − p_e)/(1 − p_e) discounts exactly that
    * base-rate agreement. Multi-class over the same confusion frame.
    * Scale discipline: p_e's per-class marginal product is computed as
    * (n_true/N)·(n_pred/N) in doubles (the integer cross-product
    * n_true·n_pred overflows int64 at corpus scale) and the ≤k² terms
    * sum as DECIMAL; p_o is an exact integer ratio. One scan → k²-cell
    * confusion → closed form.
    */
  def qCohensKappa(s: SparkSession, dir: String): DataFrame = {
    val D = org.apache.spark.sql.types.DecimalType(38, 12)
    val cm = qTextLangid(s, dir)
      .groupBy(col("lang"), col("predicted"))
      .agg(count(lit(1)).as("n"))
      .localCheckpoint() // feeds marginals AND the diagonal sum
    val nTot = cm.agg(sum(col("n")).as("nt"))
    val marg = cm.groupBy(col("lang")).agg(sum(col("n")).as("n_true"))
      .join(
        cm.groupBy(col("predicted")).agg(sum(col("n")).as("n_pred")),
        col("lang") === col("predicted"))
      .crossJoin(broadcast(nTot))
      .agg(sum(((col("n_true").cast("double") / col("nt"))
        * (col("n_pred").cast("double") / col("nt"))).cast(D))
        .cast("double").as("pe"))
    val diag = cm.filter(col("lang") === col("predicted"))
      .agg(sum(col("n")).as("n_agree"))
    diag.crossJoin(broadcast(nTot)).crossJoin(broadcast(marg))
      .select(col("n_agree"), col("nt").as("n_docs"),
        NumFns.roundPortable(
          col("n_agree").cast("double") / col("nt"), 6).as("p_observed"),
        NumFns.roundPortable(col("pe"), 6).as("p_expected"),
        NumFns.roundPortable(
          (col("n_agree").cast("double") / col("nt") - col("pe"))
            / (lit(1.0) - col("pe")), 6).as("kappa"))
  }

  val qCohensKappaOracle: String =
    s"""WITH pred AS ($qTextLangidOracle),
       |cm AS (
       |  SELECT lang, predicted, count(*) AS n
       |  FROM pred GROUP BY lang, predicted
       |),
       |nt AS (SELECT CAST(sum(n) AS BIGINT) AS nt FROM cm),
       |tm AS (SELECT lang, CAST(sum(n) AS BIGINT) AS n_true FROM cm GROUP BY lang),
       |pm AS (SELECT predicted, CAST(sum(n) AS BIGINT) AS n_pred
       |  FROM cm GROUP BY predicted),
       |pe AS (
       |  SELECT CAST(sum(CAST((CAST(n_true AS DOUBLE) / nt)
       |    * (CAST(n_pred AS DOUBLE) / nt) AS DECIMAL(38,12))) AS DOUBLE)
       |    AS pe
       |  FROM tm JOIN pm ON tm.lang = pm.predicted, nt
       |),
       |dg AS (
       |  SELECT CAST(sum(n) AS BIGINT) AS n_agree
       |  FROM cm WHERE lang = predicted
       |)
       |SELECT n_agree, nt AS n_docs,
       |  ${NumFns.roundPortableSql("CAST(n_agree AS DOUBLE) / nt", 6)}
       |    AS p_observed,
       |  ${NumFns.roundPortableSql("pe", 6)} AS p_expected,
       |  ${NumFns.roundPortableSql(
            "(CAST(n_agree AS DOUBLE) / nt - pe) / (1.0 - pe)", 6)} AS kappa
       |FROM dg, nt, pe""".stripMargin

  /** Minimum English-stopword count for the naive English classifier
    * compared in [[qMcnemar]] (a fixed, documented operating point).
    */
  val McnemarEnStopMin = 3L

  /** McNemar's paired test between the two English classifiers the repo
    * already ships — the argmax langid (q_text_langid) and the naive
    * stopword-count threshold — on the SAME documents: accuracy deltas
    * on paired data are driven ONLY by the discordant cells, so the
    * test is χ² = (|b−c|−1)²/(b+c) (continuity-corrected) over the
    * counts where exactly one classifier is right. This is the
    * correct "is the fancy model actually better" gate; comparing two
    * marginal accuracies ignores the pairing and overstates
    * significance. One scan projects both predictions scan-side; all
    * counts exact; χ² is one final double (NULL when b+c = 0, both
    * engines).
    */
  def qMcnemar(s: SparkSession, dir: String): DataFrame = {
    val scored = qTextLangid(s, dir)
      .select(
        (col("lang") === "en").as("truth"),
        (col("predicted") === "en").as("pred_a"),
        (col("s_en") >= McnemarEnStopMin).as("pred_b"))
      .select(
        (col("pred_a") === col("truth")).as("a_ok"),
        (col("pred_b") === col("truth")).as("b_ok"))
    val agg = scored.agg(
      count(lit(1)).as("n_docs"),
      sum((col("a_ok") && !col("b_ok")).cast("long")).as("b"),
      sum((!col("a_ok") && col("b_ok")).cast("long")).as("c"),
      sum(col("a_ok").cast("long")).as("n_a_ok"),
      sum(col("b_ok").cast("long")).as("n_b_ok"))
    val chi2 = (abs(col("b") - col("c")) - 1) *
      (abs(col("b") - col("c")) - 1) / (col("b") + col("c")).cast("double")
    agg.select(col("n_docs"), col("n_a_ok"), col("n_b_ok"), col("b"), col("c"),
      when(col("b") + col("c") > 0, NumFns.roundPortable(chi2, 6))
        .as("chi2"))
  }

  val qMcnemarOracle: String = {
    val chi2 = "(abs(b - c) - 1) * (abs(b - c) - 1) / CAST(b + c AS DOUBLE)"
    s"""WITH pred AS ($qTextLangidOracle),
       |pr AS (
       |  SELECT (lang = 'en') AS truth,
       |    (predicted = 'en') AS pred_a,
       |    (s_en >= $McnemarEnStopMin) AS pred_b
       |  FROM pred
       |),
       |ag AS (
       |  SELECT count(*) AS n_docs,
       |    CAST(sum(CASE WHEN pred_a = truth AND pred_b != truth
       |      THEN 1 ELSE 0 END) AS BIGINT) AS b,
       |    CAST(sum(CASE WHEN pred_a != truth AND pred_b = truth
       |      THEN 1 ELSE 0 END) AS BIGINT) AS c,
       |    CAST(sum(CASE WHEN pred_a = truth THEN 1 ELSE 0 END) AS BIGINT)
       |      AS n_a_ok,
       |    CAST(sum(CASE WHEN pred_b = truth THEN 1 ELSE 0 END) AS BIGINT)
       |      AS n_b_ok
       |  FROM pr
       |)
       |SELECT n_docs, n_a_ok, n_b_ok, b, c,
       |  CASE WHEN b + c > 0 THEN ${NumFns.roundPortableSql(chi2, 6)} END
       |    AS chi2
       |FROM ag""".stripMargin
  }

  /** Cramér's V effect size of the langid confusion — the magnitude
    * companion to [[qCohensKappa]]'s chance-corrected agreement and the
    * χ² machinery's significance: with enough rows EVERYTHING is
    * significant, and V = √(χ²/(N·(k−1))) ∈ [0,1] is the
    * sample-size-free strength of the label↔prediction association a
    * reviewer can actually compare across corpora. χ² accumulates over
    * the k² confusion cells against the independence expectation
    * (marginal products as double ratios — int64-safe at corpus scale),
    * as a DECIMAL sum. One scan → k²-cell frame → closed form.
    */
  def qCramersV(s: SparkSession, dir: String): DataFrame = {
    val D = org.apache.spark.sql.types.DecimalType(38, 12)
    val cm = qTextLangid(s, dir)
      .groupBy(col("lang"), col("predicted"))
      .agg(count(lit(1)).as("n"))
      .localCheckpoint() // feeds both marginals and the cell sweep
    val tm = cm.groupBy(col("lang")).agg(sum(col("n")).as("n_true"))
    val pm = cm.groupBy(col("predicted")).agg(sum(col("n")).as("n_pred"))
    val nt = cm.agg(sum(col("n")).as("nt"),
      countDistinct(col("lang")).as("kr"),
      countDistinct(col("predicted")).as("kc"))
    val e = col("n_true").cast("double") *
      (col("n_pred").cast("double") / col("nt"))
    val cells = cm
      .join(broadcast(tm), Seq("lang"))
      .join(broadcast(pm), Seq("predicted"))
      .crossJoin(broadcast(nt))
      .withColumn("term", ((col("n") - e) * (col("n") - e) / e).cast(D))
    cells.groupBy(col("nt"), col("kr"), col("kc"))
      .agg(sum(col("term")).cast("double").as("chi2"))
      .select(col("nt").as("n_docs"),
        NumFns.roundPortable(col("chi2"), 6).as("chi2"),
        // NULL when either margin is single-class (V undefined: a
        // degenerate confusion with min(r,c) = 1 has no association
        // to measure) — mirrored in the oracle
        when(least(col("kr"), col("kc")) > 1,
          NumFns.roundPortable(
            sqrt(col("chi2") / (col("nt")
              * (least(col("kr"), col("kc")) - 1))), 6)).as("cramers_v"))
  }

  val qCramersVOracle: String =
    s"""WITH pred AS ($qTextLangidOracle),
       |cm AS (
       |  SELECT lang, predicted, count(*) AS n
       |  FROM pred GROUP BY lang, predicted
       |),
       |tm AS (SELECT lang, CAST(sum(n) AS BIGINT) AS n_true
       |  FROM cm GROUP BY lang),
       |pm AS (SELECT predicted, CAST(sum(n) AS BIGINT) AS n_pred
       |  FROM cm GROUP BY predicted),
       |nt AS (
       |  SELECT CAST(sum(n) AS BIGINT) AS nt,
       |    count(DISTINCT lang) AS kr, count(DISTINCT predicted) AS kc
       |  FROM cm
       |),
       |cells AS (
       |  SELECT nt, kr, kc,
       |    CAST((n - CAST(n_true AS DOUBLE)
       |        * (CAST(n_pred AS DOUBLE) / nt))
       |      * (n - CAST(n_true AS DOUBLE) * (CAST(n_pred AS DOUBLE) / nt))
       |      / (CAST(n_true AS DOUBLE) * (CAST(n_pred AS DOUBLE) / nt))
       |      AS DECIMAL(38,12)) AS term
       |  FROM cm JOIN tm USING (lang) JOIN pm USING (predicted), nt
       |)
       |SELECT nt AS n_docs,
       |  ${NumFns.roundPortableSql("CAST(sum(term) AS DOUBLE)", 6)} AS chi2,
       |  CASE WHEN least(kr, kc) > 1 THEN
       |    ${NumFns.roundPortableSql(
              "sqrt(CAST(sum(term) AS DOUBLE) / (nt * (least(kr, kc) - 1)))",
              6)}
       |  END AS cramers_v
       |FROM cells GROUP BY nt, kr, kc""".stripMargin

  /** Monroe et al. "fightin' words" prior for [[qLogOdds]]: the
    * pseudo-count mass spread over the vocabulary in proportion to
    * global frequency.
    */
  val LogOddsAlpha0 = 500.0

  /** Terms reported per side by [[qLogOdds]]. */
  val LogOddsTopK = 15

  /** Dirichlet-smoothed log-odds keyness (Monroe, Colaresi & Quinn)
    * between src0 and src1 — the statistically honest corpus-comparison
    * that raw TF-IDF keyword lists are not: the informative-Dirichlet
    * prior (global-frequency-proportional pseudo-counts) shrinks rare-
    * word noise, and each word's δ is z-scored by its estimated variance
    * 1/(y_i+α) + 1/(y_j+α), so the ranking is by EVIDENCE, not raw
    * ratio. Top-|z| words each direction — [[LogOddsTopK]] PER SIDE
    * (r6, closing the r5 doc/behavior gap where one dominant side could
    * occupy every slot of a single global top-15): each direction is
    * its own TakeOrdered top-k (distributed heap, never a vocabulary
    * sort), unioned. Shape: token counts per side + global counts are
    * map-side-combined cell frames joined on the word key; the δ/σ
    * arithmetic is per-cell scan-side. Determinism: counts exact;
    * ln/sqrt on identical doubles; rounded emission with word
    * tiebreaks.
    */
  def qLogOdds(s: SparkSession, dir: String): DataFrame = {
    val toks = Tables.documents(s, dir)
      .filter(col("source").isin("src0", "src1"))
      .select(col("source"), explode(TextFns.tokens(col("text"))).as("w"))
      .filter(length(col("w")) > 0)
    val cells = toks.groupBy(col("w"))
      .agg(sum((col("source") === "src0").cast("long")).as("yi"),
        sum((col("source") === "src1").cast("long")).as("yj"))
      .localCheckpoint() // feeds the totals AND the scored frame
    val tot = cells.agg(sum(col("yi")).as("ni"), sum(col("yj")).as("nj"),
      sum(col("yi") + col("yj")).as("nall"))
    val alphaW = lit(LogOddsAlpha0) * (col("yi") + col("yj")).cast("double") /
      col("nall")
    val li = log((col("yi") + alphaW) /
      (col("ni") + LogOddsAlpha0 - col("yi") - alphaW))
    val lj = log((col("yj") + alphaW) /
      (col("nj") + LogOddsAlpha0 - col("yj") - alphaW))
    val sigma2 = lit(1.0) / (col("yi") + alphaW) + lit(1.0) / (col("yj") + alphaW)
    val scored = cells.crossJoin(broadcast(tot))
      .withColumn("z_raw", (li - lj) / sqrt(sigma2))
    val pos = scored.filter(col("z_raw") >= 0)
      .orderBy(col("z_raw").desc, col("w")).limit(LogOddsTopK)
    val neg = scored.filter(col("z_raw") < 0)
      .orderBy(col("z_raw").asc, col("w")).limit(LogOddsTopK)
    pos.unionAll(neg)
      .orderBy(abs(col("z_raw")).desc, col("w"))
      .select(col("w"), col("yi"), col("yj"),
        NumFns.roundPortable(col("z_raw"), 6).as("z"))
  }

  val qLogOddsOracle: String = {
    val alphaW = s"($LogOddsAlpha0 * CAST(yi + yj AS DOUBLE) / nall)"
    val li = s"ln((yi + $alphaW) / (ni + $LogOddsAlpha0 - yi - $alphaW))"
    val lj = s"ln((yj + $alphaW) / (nj + $LogOddsAlpha0 - yj - $alphaW))"
    val z = s"(($li - $lj) / sqrt(1.0 / (yi + $alphaW) + 1.0 / (yj + $alphaW)))"
    s"""WITH t AS (
       |  SELECT source, unnest($toksSql) AS w FROM documents
       |  WHERE source IN ('src0', 'src1')
       |),
       |cells AS (
       |  SELECT w,
       |    CAST(sum(CASE WHEN source = 'src0' THEN 1 ELSE 0 END) AS BIGINT)
       |      AS yi,
       |    CAST(sum(CASE WHEN source = 'src1' THEN 1 ELSE 0 END) AS BIGINT)
       |      AS yj
       |  FROM t WHERE length(w) > 0 GROUP BY w
       |),
       |tot AS (
       |  SELECT CAST(sum(yi) AS BIGINT) AS ni, CAST(sum(yj) AS BIGINT) AS nj,
       |    CAST(sum(yi + yj) AS BIGINT) AS nall
       |  FROM cells
       |),
       |r AS (SELECT w, yi, yj, $z AS zr FROM cells, tot),
       |p AS (SELECT * FROM r WHERE zr >= 0 ORDER BY zr DESC, w
       |  LIMIT $LogOddsTopK),
       |n AS (SELECT * FROM r WHERE zr < 0 ORDER BY zr ASC, w
       |  LIMIT $LogOddsTopK)
       |SELECT w, yi, yj, ${NumFns.roundPortableSql("zr", 6)} AS z
       |FROM (SELECT * FROM p UNION ALL SELECT * FROM n)
       |ORDER BY abs(zr) DESC, w""".stripMargin
  }

  /** Vocabulary size for the OOV-rate audit (a stand-in tokenizer
    * lexicon; production plugs in the real tokenizer's vocab table).
    */
  val OovVocabK = 1000

  /** Per-source out-of-vocabulary rate against the corpus's own
    * top-[[OovVocabK]] vocabulary — the tokenizer-coverage audit by
    * source: a source whose token mass falls mostly outside the shared
    * vocabulary will fragment into long byte-level tokenizations
    * (inflating its true token cost) or is simply not the language the
    * tokenizer was sized for. Complements [[qVocabCoverage]] (corpus-
    * level curve) with the per-source breakdown mix design needs.
    * Shape: (source, word) counts map-side combine the corpus; the
    * vocabulary is a per-partition-top-K + merge (TakeOrdered, never a
    * global sort) that then BROADCASTS (K rows) into a left-anti join —
    * the OOV sum touches only the cell frame. Integer counts, exact
    * division at the end.
    */
  def qOovRate(s: SparkSession, dir: String): DataFrame = {
    val cells = Tables.documents(s, dir)
      .select(col("source"), explode(TextFns.tokens(col("text"))).as("word"))
      .groupBy(col("source"), col("word")).agg(count(lit(1)).as("n"))
      .localCheckpoint() // totals + the anti-join both read it
    val vocab = cells.groupBy(col("word")).agg(sum(col("n")).as("cn"))
      .orderBy(col("cn").desc, col("word")).limit(OovVocabK)
      .select(col("word"))
    val totals = cells.groupBy(col("source")).agg(sum(col("n")).as("n_tokens"))
    val oov = cells.join(broadcast(vocab), Seq("word"), "left_anti")
      .groupBy(col("source"))
      .agg(sum(col("n")).as("n_oov"), count(lit(1)).as("n_oov_types"))
    totals.join(oov, Seq("source"), "left")
      .select(col("source"), col("n_tokens"),
        coalesce(col("n_oov"), lit(0L)).as("n_oov"),
        coalesce(col("n_oov_types"), lit(0L)).as("n_oov_types"),
        round(coalesce(col("n_oov"), lit(0L)) / col("n_tokens").cast("double"), 6)
          .as("oov_rate"))
      .orderBy(col("source"))
  }

  val qOovRateOracle: String =
    s"""WITH toks AS (
       |  SELECT source, unnest($toksSql) AS word FROM documents
       |),
       |cells AS (SELECT source, word, count(*) AS n FROM toks GROUP BY source, word),
       |v AS (
       |  SELECT word FROM (
       |    SELECT word, sum(n) AS cn FROM cells GROUP BY word
       |    ORDER BY cn DESC, word LIMIT $OovVocabK)
       |),
       |t AS (SELECT source, CAST(sum(n) AS BIGINT) AS n_tokens FROM cells GROUP BY source),
       |o AS (
       |  SELECT source, CAST(sum(n) AS BIGINT) AS n_oov, count(*) AS n_oov_types
       |  FROM cells ANTI JOIN v USING (word)
       |  GROUP BY source
       |)
       |SELECT t.source, t.n_tokens,
       |  COALESCE(o.n_oov, 0) AS n_oov,
       |  COALESCE(o.n_oov_types, 0) AS n_oov_types,
       |  round(COALESCE(o.n_oov, 0) / CAST(t.n_tokens AS DOUBLE), 6) AS oov_rate
       |FROM t LEFT JOIN o USING (source)
       |ORDER BY source""".stripMargin

  /** Documents per Heaps-curve sample point (the corpus order IS doc_id
    * order, the same tape convention as Packing.qSeqPack).
    */
  val HeapsBlock = 64L

  /** Heaps'-law fit — the vocabulary-GROWTH twin of [[qZipfFit]]'s
    * frequency law: V(N) ≈ K·N^β (β ≈ 0.4-0.6 for natural language),
    * fitted by log-log least squares over per-block sample points of
    * (tokens seen, distinct words seen). Tokenizer sizing reads this
    * directly: extrapolate V(N) to the target corpus size to know how
    * big the vocabulary gets. Scale shape: ONE pass computes each
    * word's FIRST block (min over a map-side-combined (word, block)
    * aggregate) and each block's token count; cumulative windows then
    * run over the BLOCK frame (corpus/64 rows — an aggregate, audit-
    * safe), and the five moment sums reuse the zipf DECIMAL discipline.
    * No prefix scan ever touches raw rows.
    */
  def qHeapsFit(s: SparkSession, dir: String): DataFrame = {
    val D = org.apache.spark.sql.types.DecimalType(38, 12)
    val toks = Tables.documents(s, dir)
      .select(expr(s"doc_id div $HeapsBlock").as("block"),
        explode(TextFns.tokens(col("text"))).as("w"))
      .localCheckpoint() // first-occurrence agg + block sizes share it
    val firstSeen = toks.groupBy(col("w")).agg(min(col("block")).as("fb"))
      .groupBy(col("fb")).agg(count(lit(1)).as("new_words"))
    val blockToks = toks.groupBy(col("block")).agg(count(lit(1)).as("n_toks"))
    val wCum = Window.orderBy(col("block"))
      .rowsBetween(Window.unboundedPreceding, 0)
    val points = blockToks
      .join(firstSeen.withColumnRenamed("fb", "block"), Seq("block"), "left")
      .withColumn("n_cum", sum(col("n_toks")).over(wCum))
      .withColumn("v_cum", sum(coalesce(col("new_words"), lit(0L))).over(wCum))
      .select(log(col("n_cum").cast("double")).as("x"),
        log(col("v_cum").cast("double")).as("y"))
    val m = points.agg(
      count(lit(1)).as("k"),
      sum(col("x").cast(D)).as("sx"), sum(col("y").cast(D)).as("sy"),
      sum((col("x") * col("x")).cast(D)).as("sxx"),
      sum((col("x") * col("y")).cast(D)).as("sxy"))
    m.select(
      col("k").as("n_points"),
      round(((col("k") * col("sxy") - col("sx") * col("sy")).cast("double") /
        (col("k") * col("sxx") - col("sx") * col("sx")).cast("double")), 4)
        .as("beta"),
      round(((col("sy").cast("double") -
        ((col("k") * col("sxy") - col("sx") * col("sy")).cast("double") /
          (col("k") * col("sxx") - col("sx") * col("sx")).cast("double"))
          * col("sx").cast("double")) / col("k")), 4).as("ln_k"))
  }

  val qHeapsFitOracle: String =
    s"""WITH toks AS (
       |  SELECT doc_id // $HeapsBlock AS block, unnest($toksSql) AS w
       |  FROM documents
       |),
       |fs AS (
       |  SELECT fb, count(*) AS new_words FROM (
       |    SELECT w, min(block) AS fb FROM toks GROUP BY w
       |  ) GROUP BY fb
       |),
       |bt AS (SELECT block, count(*) AS n_toks FROM toks GROUP BY block),
       |pts AS (
       |  SELECT
       |    ln(CAST(sum(bt.n_toks) OVER (ORDER BY bt.block
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE)) AS x,
       |    ln(CAST(sum(COALESCE(fs.new_words, 0)) OVER (ORDER BY bt.block
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE)) AS y
       |  FROM bt LEFT JOIN fs ON fs.fb = bt.block
       |),
       |m AS (
       |  SELECT count(*) AS k,
       |    sum(CAST(x AS DECIMAL(38,12))) AS sx,
       |    sum(CAST(y AS DECIMAL(38,12))) AS sy,
       |    sum(CAST(x * x AS DECIMAL(38,12))) AS sxx,
       |    sum(CAST(x * y AS DECIMAL(38,12))) AS sxy
       |  FROM pts
       |)
       |SELECT k AS n_points,
       |  round(CAST(k * sxy - sx * sy AS DOUBLE)
       |    / CAST(k * sxx - sx * sx AS DOUBLE), 4) AS beta,
       |  round((CAST(sy AS DOUBLE)
       |    - CAST(k * sxy - sx * sy AS DOUBLE)
       |      / CAST(k * sxx - sx * sx AS DOUBLE) * CAST(sx AS DOUBLE)) / k, 4)
       |    AS ln_k
       |FROM m""".stripMargin

  /** Corpus predictability profile: unigram entropy H(W), conditional
    * bigram entropy H(W₂|W₁), and their difference (the mutual
    * information between adjacent tokens — how much the previous word
    * tells you about the next). Natural text sits near H(W)≈10 bits-ish
    * with substantial adjacent-MI; shuffled or templated corpora
    * collapse one or the other, so this is the sequence-structure twin
    * of [[qZipfFit]]'s frequency check. All three numbers come from the
    * SAME bigram-event frame ([[qBigramLm]]'s convention: events are
    * bigram occurrences, marginals are slot counts): H = −Σ(c/T)ln(c/T)
    * via the Σ n·ln n identity — integer counts, ln on identical
    * rationals, DECIMAL-stable sums, vocabulary(²)-bounded frames.
    */
  /** Unrounded 1-row entropy frame `(t_pairs, n_types, n_bigram_types,
    * hu, hc)` over an arbitrary document frame — the exact
    * [[qCondEntropy]] emission ([[qCondEntropyApprox]] fuses the same
    * aggregates with its sampled twin over one shared bigram frame).
    */
  private def condEntropyCore(docs: DataFrame): DataFrame = {
    val D = org.apache.spark.sql.types.DecimalType(38, 12)
    val bg = docs
      .select(TextFns.tokens(col("text")).as("toks"))
      .filter(size(col("toks")) >= 2)
      .select(explode(
        transform(sequence(lit(0), size(col("toks")) - 2), i =>
          struct(element_at(col("toks"), i + 1).as("w1"),
            element_at(col("toks"), i + 2).as("w2")))).as("b"))
      .select(col("b.w1").as("w1"), col("b.w2").as("w2"))
      .localCheckpoint() // three marginal aggregates share it
    val pair = bg.groupBy(col("w1"), col("w2")).agg(count(lit(1)).as("c2"))
    val uni = bg.groupBy(col("w1")).agg(count(lit(1)).as("c1"))
    // Σ c2·ln(c2/c1): H(W2|W1) = −(1/T)·Σ; Σ c1·ln(c1/T) gives H(W1)
    val sPair = pair.join(uni.hint("shuffle_hash"), Seq("w1"))
      .agg(sum(col("c2")).as("t_pairs"),
        count(lit(1)).as("n_bigram_types"),
        sum((col("c2") * log(col("c2") / col("c1").cast("double"))).cast(D))
          .as("s_cond"))
    val sUni = uni.agg(count(lit(1)).as("n_types"),
      sum((col("c1") * log(col("c1").cast("double"))).cast(D)).as("s_nlnn"),
      sum(col("c1")).as("t_uni"))
    sPair.crossJoin(broadcast(sUni))
      .select(col("t_pairs"), col("n_types"), col("n_bigram_types"),
        (log(col("t_uni").cast("double"))
          - col("s_nlnn").cast("double") / col("t_uni")).as("hu"),
        ((-col("s_cond").cast("double")) / col("t_pairs")).as("hc"))
  }

  def qCondEntropy(s: SparkSession, dir: String): DataFrame =
    condEntropyCore(Tables.documents(s, dir))
      .select(col("t_pairs"), col("n_types"), col("n_bigram_types"),
        round(col("hu"), 4).as("h_unigram"),
        round(col("hc"), 4).as("h_cond"),
        round(col("hu") - col("hc"), 4).as("adjacent_mi"))

  val qCondEntropyOracle: String =
    s"""WITH t AS (
       |  SELECT $toksSql AS toks FROM documents
       |),
       |bg AS (
       |  SELECT toks[i] AS w1, toks[i+1] AS w2
       |  FROM t, unnest(range(1, len(toks))) AS u(i)
       |  WHERE len(toks) >= 2
       |),
       |p AS (SELECT w1, w2, count(*) AS c2 FROM bg GROUP BY w1, w2),
       |un AS (SELECT w1, count(*) AS c1 FROM bg GROUP BY w1),
       |sp AS (
       |  SELECT CAST(sum(c2) AS BIGINT) AS t_pairs,
       |    count(*) AS n_bigram_types,
       |    sum(CAST(c2 * ln(c2 / CAST(c1 AS DOUBLE)) AS DECIMAL(38,12))) AS s_cond
       |  FROM p JOIN un USING (w1)
       |),
       |su AS (
       |  SELECT count(*) AS n_types,
       |    sum(CAST(c1 * ln(CAST(c1 AS DOUBLE)) AS DECIMAL(38,12))) AS s_nlnn,
       |    CAST(sum(c1) AS BIGINT) AS t_uni
       |  FROM un
       |)
       |SELECT t_pairs, n_types, n_bigram_types,
       |  round(ln(CAST(t_uni AS DOUBLE)) - CAST(s_nlnn AS DOUBLE) / t_uni, 4)
       |    AS h_unigram,
       |  round((-CAST(s_cond AS DOUBLE)) / t_pairs, 4) AS h_cond,
       |  round((ln(CAST(t_uni AS DOUBLE)) - CAST(s_nlnn AS DOUBLE) / t_uni)
       |    - ((-CAST(s_cond AS DOUBLE)) / t_pairs), 4) AS adjacent_mi
       |FROM sp CROSS JOIN su""".stripMargin

  /** 1-in-[[CondEntropySampleMod]] deterministic doc-hash sample used
    * by [[qCondEntropyApprox]]'s estimation pass.
    */
  val CondEntropySampleMod = 8

  /** Relative certification bound for the sampled entropies (entropy
    * estimates concentrate fast — O(ln²n / n) variance — so a 1/8
    * corpus sample lands well inside 5 % of the exact value at every
    * tested scale; the bound is the contract, not the typical error).
    */
  val CondEntropyBound = 0.05

  /** The certified-approx form of [[qCondEntropy]] — at 100 TB the
    * exact form's pair frame is vocabulary²-bounded but its input scan
    * is the whole corpus; the production estimate runs the SAME
    * pipeline on a deterministic 1-in-8 doc-hash sample (content-
    * addressed, so reproducible on any engine and shard order) at 1/8
    * the scan and shuffle cost. Certified by the [[Sketches]]
    * self-certification contract: the output is the exact twin (the
    * oracle recomputes it independently) plus `within_bound` asserting
    * BOTH sampled entropies landed within [[CondEntropyBound]]
    * relative of exact — a drifting sample estimate reds the row.
    */
  def qCondEntropyApprox(s: SparkSession, dir: String): DataFrame = {
    // r10 (scaling curve): the r9 form ran condEntropyCore TWICE — two
    // tokenize/explode passes and two checkpointed bigram frames over
    // the same corpus. Fused: each bigram carries its document's sample
    // bit, so ONE scan/checkpoint feeds both the exact aggregates
    // (count/sum over all rows) and the sampled ones (sum of the bit) —
    // c2s/c1s are EXACTLY the sample pass's pair/unigram counts, the
    // per-term doubles are the identical IEEE expressions, and the
    // DECIMAL sums are order-independent, so the emission is bit-equal
    // to the two-pass form at half the scan and shuffle cost.
    val D = org.apache.spark.sql.types.DecimalType(38, 12)
    val bg = Tables.documents(s, dir)
      .select(
        (TextFns.hash28(concat(lit("ce:"), col("doc_id").cast("string")))
          % CondEntropySampleMod === 0).cast("long").as("samp"),
        TextFns.tokens(col("text")).as("toks"))
      .filter(size(col("toks")) >= 2)
      .select(col("samp"), explode(
        transform(sequence(lit(0), size(col("toks")) - 2), i =>
          struct(element_at(col("toks"), i + 1).as("w1"),
            element_at(col("toks"), i + 2).as("w2")))).as("b"))
      .select(col("b.w1").as("w1"), col("b.w2").as("w2"), col("samp"))
      .localCheckpoint() // three marginal aggregates share it
    val pair = bg.groupBy(col("w1"), col("w2"))
      .agg(count(lit(1)).as("c2"), sum(col("samp")).as("c2s"))
    val uni = bg.groupBy(col("w1"))
      .agg(count(lit(1)).as("c1"), sum(col("samp")).as("c1s"))
    val sPair = pair.join(uni.hint("shuffle_hash"), Seq("w1"))
      .agg(sum(col("c2")).as("t_pairs"),
        count(lit(1)).as("n_bigram_types"),
        sum((col("c2") * log(col("c2") / col("c1").cast("double"))).cast(D))
          .as("s_cond"),
        sum(col("c2s")).as("t_pairs_s"),
        sum(when(col("c2s") > 0,
          (col("c2s") * log(col("c2s") / col("c1s").cast("double"))).cast(D)))
          .as("s_cond_s"))
    val sUni = uni.agg(count(lit(1)).as("n_types"),
      sum((col("c1") * log(col("c1").cast("double"))).cast(D)).as("s_nlnn"),
      sum(col("c1")).as("t_uni"),
      sum(when(col("c1s") > 0,
        (col("c1s") * log(col("c1s").cast("double"))).cast(D))).as("s_nlnn_s"),
      sum(col("c1s")).as("t_uni_s"))
    sPair.crossJoin(broadcast(sUni))
      .select(col("t_pairs"), col("n_types"), col("n_bigram_types"),
        (log(col("t_uni").cast("double"))
          - col("s_nlnn").cast("double") / col("t_uni")).as("hu"),
        ((-col("s_cond").cast("double")) / col("t_pairs")).as("hc"),
        (log(col("t_uni_s").cast("double"))
          - col("s_nlnn_s").cast("double") / col("t_uni_s")).as("hu_s"),
        ((-col("s_cond_s").cast("double")) / col("t_pairs_s")).as("hc_s"))
      .select(col("t_pairs"), col("n_types"), col("n_bigram_types"),
        round(col("hu"), 4).as("h_unigram"),
        round(col("hc"), 4).as("h_cond"),
        (abs(col("hu_s") - col("hu")) <= abs(col("hu")) * CondEntropyBound &&
          abs(col("hc_s") - col("hc")) <= abs(col("hc")) * CondEntropyBound)
          .as("within_bound"))
  }

  val qCondEntropyApproxOracle: String =
    s"""WITH t AS (
       |  SELECT $toksSql AS toks FROM documents
       |),
       |bg AS (
       |  SELECT toks[i] AS w1, toks[i+1] AS w2
       |  FROM t, unnest(range(1, len(toks))) AS u(i)
       |  WHERE len(toks) >= 2
       |),
       |p AS (SELECT w1, w2, count(*) AS c2 FROM bg GROUP BY w1, w2),
       |un AS (SELECT w1, count(*) AS c1 FROM bg GROUP BY w1),
       |sp AS (
       |  SELECT CAST(sum(c2) AS BIGINT) AS t_pairs,
       |    count(*) AS n_bigram_types,
       |    sum(CAST(c2 * ln(c2 / CAST(c1 AS DOUBLE)) AS DECIMAL(38,12))) AS s_cond
       |  FROM p JOIN un USING (w1)
       |),
       |su AS (
       |  SELECT count(*) AS n_types,
       |    sum(CAST(c1 * ln(CAST(c1 AS DOUBLE)) AS DECIMAL(38,12))) AS s_nlnn,
       |    CAST(sum(c1) AS BIGINT) AS t_uni
       |  FROM un
       |)
       |SELECT t_pairs, n_types, n_bigram_types,
       |  round(ln(CAST(t_uni AS DOUBLE)) - CAST(s_nlnn AS DOUBLE) / t_uni, 4)
       |    AS h_unigram,
       |  round((-CAST(s_cond AS DOUBLE)) / t_pairs, 4) AS h_cond,
       |  TRUE AS within_bound
       |FROM sp CROSS JOIN su""".stripMargin

  /** Skip-gram context radius and the floor that keeps the pair table
    * reportable (the engine computes all pairs; only pairs this frequent
    * reach the output — the same contract as [[PmiMinPairCount]]).
    */
  val SkipWindow = 4
  val WindowPmiMin = 5

  /** Positional co-occurrence PMI — the word2vec/SGNS training
    * statistic, distinct from [[qTokenPmi]]'s document-level
    * co-occurrence: a pair counts once per OCCURRENCE where `b` follows
    * `a` within [[SkipWindow]] tokens (ordered, so "new york" and
    * "york new" are different cells, exactly as directional skip-gram
    * contexts are). PMI = ln(c_ab·T / (cl_a·cr_b)) over pair-event
    * totals: cl/cr are each word's left/right-slot occurrence counts
    * and T the total pair count, so the four numbers form a proper
    * joint/marginal system. Scale shape: the positional self-join keys
    * on doc_id with a ±window position residual — per-token fan-out is
    * ≤ [[SkipWindow]], so the pair stream is linear in corpus size,
    * shuffled once on doc_id (shuffle_hash, derived side never
    * broadcast); everything downstream is vocabulary²-bounded and
    * count-floored. The positional frame is localCheckpoint'd because
    * three consumers read it (pair join ×2, marginals).
    */
  def qWindowPmi(s: SparkSession, dir: String): DataFrame = {
    val tok = Tables.documents(s, dir)
      .select(col("doc_id"), posexplode(TextFns.tokens(col("text"))))
      .select(col("doc_id"), col("pos"), col("col").as("w"))
      .localCheckpoint()
    val pairs = tok.as("a")
      .join(tok.as("b").hint("shuffle_hash"),
        col("a.doc_id") === col("b.doc_id") &&
          col("b.pos") > col("a.pos") &&
          col("b.pos") <= col("a.pos") + SkipWindow)
      .groupBy(col("a.w").as("w_a"), col("b.w").as("w_b"))
      .agg(count(lit(1)).as("c_ab"))
      .localCheckpoint() // totals + marginals + output all read it
    val t = pairs.agg(sum(col("c_ab")).as("t_pairs"))
    val left = pairs.groupBy(col("w_a").as("w")).agg(sum(col("c_ab")).as("cl"))
    val right = pairs.groupBy(col("w_b").as("w")).agg(sum(col("c_ab")).as("cr"))
    pairs
      .filter(col("c_ab") >= WindowPmiMin)
      .join(left.select(col("w").as("w_a"), col("cl")).hint("shuffle_hash"), Seq("w_a"))
      .join(right.select(col("w").as("w_b"), col("cr")).hint("shuffle_hash"), Seq("w_b"))
      .crossJoin(broadcast(t))
      .select(col("w_a"), col("w_b"), col("c_ab"), col("cl"), col("cr"),
        round(log(col("c_ab") * col("t_pairs") / (col("cl") * col("cr"))
          .cast("double")), 6).as("pmi"))
      .orderBy(col("w_a"), col("w_b"))
  }

  /** CCNet-style perplexity bucketing: every document scored by the
    * corpus's own bigram LM ([[qBigramLm]]'s avg log-prob — perplexity
    * is its exponential), then split into head/middle/tail THIRDS of
    * the corpus by score, reported per source — the table behind "keep
    * head+middle, drop tail" quality curation, and the per-source skew
    * is the point: a source whose documents land mostly in tail is
    * machine-generated or scraped noise. Exact thirds without a global
    * sort: scores are rounded at 4 (hash-stable decimal means), so the
    * distinct-value CELL frame is bounded; the cumulative-count window
    * runs over that aggregate (the exactPercentiles trick), and the
    * boundary CELL goes wholly to the better bucket — a deterministic
    * integer rule (cum_before·3 < total) both engines reproduce. The
    * doc→bucket assignment is a broadcast join of the cell map onto the
    * scored docs; source arrives via one shuffle_hash doc_id join; the
    * output is sources×3 rows.
    */
  /** The exact-thirds bucket map behind [[qPplBucket]] and the
    * pipeline's tail-drop stage: a frame carrying `avg_logp` →
    * (avg_logp, bucket) with head/middle/tail split by the cumulative
    * integer rule over the rounded-score cell frame. Broadcast it back
    * onto the scored frame to assign buckets.
    */
  def pplBuckets(scored: DataFrame): DataFrame = {
    val wCum = Window.orderBy(col("avg_logp").desc)
      .rowsBetween(Window.unboundedPreceding, -1)
    val cells = scored.groupBy(col("avg_logp")).agg(count(lit(1)).as("n_cell"))
    val total = cells.agg(sum(col("n_cell")).as("tot"))
    cells
      .withColumn("cum_before", coalesce(sum(col("n_cell")).over(wCum), lit(0L)))
      .crossJoin(broadcast(total))
      .select(col("avg_logp"),
        when(col("cum_before") * 3 < col("tot"), "head")
          .when(col("cum_before") * 3 < col("tot") * 2, "middle")
          .otherwise("tail").as("bucket"))
  }

  def qPplBucket(s: SparkSession, dir: String): DataFrame = {
    val lm = bigramScores(Tables.documents(s, dir))
    val docs = Tables.documents(s, dir).select(col("doc_id"), col("source"))
    val scored = lm.join(docs.hint("shuffle_hash"), Seq("doc_id"))
      .localCheckpoint() // cells + bucket join both read it
    scored.join(broadcast(pplBuckets(scored)), Seq("avg_logp"))
      .groupBy(col("source"), col("bucket"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_bigrams")).as("n_bigrams"),
        min(col("avg_logp")).as("lo_logp"),
        max(col("avg_logp")).as("hi_logp"))
      .orderBy(col("source"), col("bucket"))
  }

  val qPplBucketOracle: String =
    s"""WITH t AS (
      |  SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\\s+') AS toks
      |  FROM documents
      |),
      |bg AS (
      |  SELECT doc_id, t.toks[i] || ' ' || t.toks[i+1] AS bigram, t.toks[i] AS w1
      |  FROM t, unnest(range(1, len(toks))) AS u(i)
      |  WHERE len(toks) >= 2
      |),
      |bc AS (SELECT bigram, count(*) AS c2 FROM bg GROUP BY bigram),
      |uc AS (SELECT w1, count(*) AS c1 FROM bg GROUP BY w1),
      |lm AS (
      |  SELECT bg.doc_id, count(*) AS n_bigrams,
      |    ${graft.functions.NumFns.stableMeanSql("ln(bc.c2 / CAST(uc.c1 AS DOUBLE))", "count(*)", 4)} AS avg_logp
      |  FROM bg JOIN bc USING (bigram) JOIN uc USING (w1)
      |  GROUP BY bg.doc_id
      |),
      |scored AS (
      |  SELECT lm.doc_id, lm.n_bigrams, lm.avg_logp, d.source
      |  FROM lm JOIN documents d USING (doc_id)
      |),
      |cells AS (SELECT avg_logp, count(*) AS n_cell FROM scored GROUP BY avg_logp),
      |tot AS (SELECT CAST(sum(n_cell) AS BIGINT) AS tot FROM cells),
      |b AS (
      |  SELECT avg_logp,
      |    CAST(COALESCE(sum(n_cell) OVER (ORDER BY avg_logp DESC
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
      |      AS cum_before
      |  FROM cells
      |),
      |bk AS (
      |  SELECT b.avg_logp,
      |    CASE WHEN b.cum_before * 3 < tot.tot THEN 'head'
      |         WHEN b.cum_before * 3 < tot.tot * 2 THEN 'middle'
      |         ELSE 'tail' END AS bucket
      |  FROM b CROSS JOIN tot
      |)
      |SELECT s.source, bk.bucket, count(*) AS n_docs,
      |  CAST(sum(s.n_bigrams) AS BIGINT) AS n_bigrams,
      |  min(s.avg_logp) AS lo_logp, max(s.avg_logp) AS hi_logp
      |FROM scored s JOIN bk USING (avg_logp)
      |GROUP BY s.source, bk.bucket
      |ORDER BY source, bucket""".stripMargin

  val qWindowPmiOracle: String =
    s"""WITH tok AS (
       |  SELECT doc_id, unnest(v) AS w, unnest(range(1, len(v) + 1)) AS pos
       |  FROM (SELECT doc_id, $toksSql AS v FROM documents)
       |),
       |p AS (
       |  SELECT a.w AS w_a, b.w AS w_b, count(*) AS c_ab
       |  FROM tok a JOIN tok b ON a.doc_id = b.doc_id
       |    AND b.pos > a.pos AND b.pos <= a.pos + $SkipWindow
       |  GROUP BY a.w, b.w
       |),
       |t AS (SELECT CAST(sum(c_ab) AS BIGINT) AS t_pairs FROM p),
       |l AS (SELECT w_a AS w, CAST(sum(c_ab) AS BIGINT) AS cl FROM p GROUP BY w_a),
       |r AS (SELECT w_b AS w, CAST(sum(c_ab) AS BIGINT) AS cr FROM p GROUP BY w_b)
       |SELECT p.w_a, p.w_b, p.c_ab, l.cl, r.cr,
       |  round(ln(p.c_ab * t.t_pairs / CAST(l.cl * r.cr AS DOUBLE)), 6) AS pmi
       |FROM p
       |JOIN l ON l.w = p.w_a
       |JOIN r ON r.w = p.w_b
       |CROSS JOIN t
       |WHERE p.c_ab >= $WindowPmiMin
       |ORDER BY w_a, w_b""".stripMargin

  /** BM25 keyword retrieval — the lexical-search baseline every corpus
    * tool ships beside its ANN index (and the sparse half of a hybrid
    * retriever, cf. [[graft.operators.Similarity.qRankFusion]] fusing
    * dense paths): Okapi BM25 with k1 = 1.2, b = 0.75 over a fixed
    * 3-term query, top [[Bm25TopK]] documents. idf is the Lucene
    * ln(1 + (N−df+0.5)/(df+0.5)) form (never negative); tf saturates
    * through k1 with document-length normalization against the mean.
    * Scale shape: the per-(doc, term) tf frame touches only docs
    * containing a query term (scan-side filter BEFORE the explode —
    * the corpus never fans out), df/N/avgdl are one-row or 3-row
    * broadcast frames, and the top-k is TakeOrdered (orderBy + limit:
    * per-partition heap, never a global sort of the match set).
    * Exactness: tf/df/dl/N are integers, avgdl is an exact int÷int,
    * the per-term score is identical scalar IEEE arithmetic, the
    * per-doc sum is ≤3 terms added in array order (list-fold, not
    * partial-agg order), and the score ships through the portable
    * scaled-binary round.
    */
  val Bm25Query: Seq[String] = Seq("hash", "stream", "window")
  val Bm25TopK = 20
  val Bm25K1 = 1.2
  val Bm25B = 0.75

  def qBm25(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
      .select(col("doc_id"), TextFns.tokens(col("text")).as("toks"))
      .select(col("doc_id"), col("toks"), size(col("toks")).cast("long").as("dl"))
    val stats = docs.agg(count(lit(1)).as("n_docs"), sum(col("dl")).as("tot_dl"))
    val qTerms = Bm25Query.map(lit(_))
    // scan-side prefilter: only docs containing >=1 query term explode
    val hits = docs
      .filter(arrays_overlap(col("toks"), array(qTerms: _*)))
      .select(col("doc_id"), col("dl"), explode(col("toks")).as("term"))
      .filter(col("term").isin(Bm25Query: _*))
      .groupBy(col("doc_id"), col("dl"), col("term"))
      .agg(count(lit(1)).as("tf"))
    val dfreq = hits.groupBy(col("term")).agg(count(lit(1)).as("df"))
    val avgdl = col("tot_dl") / col("n_docs") // exact int ÷ int
    val idf = log(lit(1.0) +
      (col("n_docs") - col("df") + 0.5) / (col("df") + 0.5))
    val score = idf * (col("tf") * lit(Bm25K1 + 1.0)) /
      (col("tf") + lit(Bm25K1) * (lit(1.0 - Bm25B) + lit(Bm25B) * col("dl") / avgdl))
    // fixed-order per-term pivot + left-to-right add (absent term = 0.0,
    // an exact identity add), not a partial-agg double sum: the per-doc
    // score is the same 3-term IEEE addition chain on every engine/run
    val termCols = Bm25Query.zipWithIndex.map { case (t, i) =>
      max(when(col("term") === t, col("term_score"))).as(s"_s$i")
    }
    val raw = Bm25Query.indices
      .map(i => coalesce(col(s"_s$i"), lit(0.0)))
      .reduceLeft(_ + _)
    hits
      .join(broadcast(dfreq), Seq("term"))
      .crossJoin(broadcast(stats))
      .select(col("doc_id"), col("term"), score.as("term_score"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_terms"), termCols: _*)
      .select(col("doc_id"), col("n_terms"),
        NumFns.roundPortable(raw, 6).as("bm25"))
      .orderBy(col("bm25").desc, col("doc_id"))
      .limit(Bm25TopK)
  }

  val qBm25Oracle: String = {
    val terms = Bm25Query.map(t => s"'$t'").mkString(", ")
    s"""WITH d AS (
       |  SELECT doc_id, $toksSql AS toks FROM documents
       |),
       |dl AS (SELECT doc_id, CAST(len(toks) AS BIGINT) AS dl FROM d),
       |st AS (SELECT count(*) AS n_docs, sum(dl) AS tot_dl FROM dl),
       |tf AS (
       |  SELECT doc_id, word AS term, count(*) AS tf
       |  FROM (SELECT doc_id, unnest(toks) AS word FROM d)
       |  WHERE word IN ($terms)
       |  GROUP BY doc_id, word
       |),
       |df AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
       |sc AS (
       |  SELECT tf.doc_id,
       |    ln(1.0 + CAST(st.n_docs - df.df + 0.5 AS DOUBLE) / CAST(df.df + 0.5 AS DOUBLE))
       |      * (tf.tf * CAST(${Bm25K1 + 1.0} AS DOUBLE))
       |      / (tf.tf + CAST(${Bm25K1} AS DOUBLE) * (CAST(${1.0 - Bm25B} AS DOUBLE) + CAST(${Bm25B} AS DOUBLE) * dl.dl / (CAST(st.tot_dl AS DOUBLE) / st.n_docs)))
       |      AS term_score,
       |    tf.term
       |  FROM tf JOIN dl USING (doc_id) JOIN df USING (term) CROSS JOIN st
       |),
       |agg AS (
       |  SELECT doc_id, count(*) AS n_terms,
       |    ${Bm25Query.map(t => s"coalesce(max(CASE WHEN term = '$t' THEN term_score END), CAST(0.0 AS DOUBLE))").mkString(" + ")} AS raw
       |  FROM sc GROUP BY doc_id
       |)
       |SELECT doc_id, n_terms, ${NumFns.roundPortableSql("raw", 6)} AS bm25
       |FROM agg
       |ORDER BY bm25 DESC, doc_id
       |LIMIT $Bm25TopK""".stripMargin
  }

  /** Flesch-style readability scoring from a vowel-group syllable
    * proxy — the curation signal orthogonal to the Gopher rules
    * (a doc can pass length/symbol checks and still be word-salad or
    * legalese; reading-ease flags both tails). syllables(doc) ≈ count
    * of [aeiouy]+ runs in the lowercased text (runs never span
    * whitespace, so the doc-level count equals the per-word sum),
    * sentences = [.!?]+ runs floored at 1, words = whitespace tokens.
    * score = 206.835 − 1.015·(words/sentences) − 84.6·(syllables/
    * words), banded at the conventional 30/50/60/90 cut points. One
    * scan, three codegen'd regexp counts per row, zero shuffle; all
    * inputs integer so the score is identical scalar IEEE arithmetic,
    * rounded portably; the band compares the ROUNDED score so the
    * boundary decision is made on the same grid both engines see.
    */
  def qReadability(s: SparkSession, dir: String): DataFrame = {
    val words = size(TextFns.tokens(col("text"))).cast("long")
    val syll = size(regexp_extract_all(lower(col("text")), lit("[aeiouy]+"), lit(0))).cast("long")
    val sents = greatest(lit(1L),
      size(regexp_extract_all(col("text"), lit("[.!?]+"), lit(0))).cast("long"))
    val score = NumFns.roundPortable(
      lit(206.835) - lit(1.015) * (col("n_words") / col("n_sentences"))
        - lit(84.6) * (col("n_syllables") / col("n_words")), 4)
    Tables.documents(s, dir)
      .select(col("doc_id"), words.as("n_words"), syll.as("n_syllables"),
        sents.as("n_sentences"))
      .filter(col("n_words") > 0)
      .select(col("doc_id"), col("n_words"), col("n_syllables"), col("n_sentences"),
        score.as("flesch"))
      .withColumn("band",
        when(col("flesch") >= 90, "very_easy")
          .when(col("flesch") >= 60, "easy")
          .when(col("flesch") >= 50, "medium")
          .when(col("flesch") >= 30, "hard")
          .otherwise("very_hard"))
      .orderBy(col("doc_id"))
  }

  val qReadabilityOracle: String = {
    val raw = "206.835 - 1.015 * (n_words / n_sentences) - 84.6 * (n_syllables / n_words)"
    s"""WITH c AS (
       |  SELECT doc_id,
       |    CAST(len($toksSql) AS BIGINT) AS n_words,
       |    CAST(len(regexp_extract_all(lower(text), '[aeiouy]+')) AS BIGINT) AS n_syllables,
       |    greatest(1, CAST(len(regexp_extract_all(text, '[.!?]+')) AS BIGINT)) AS n_sentences
       |  FROM documents
       |),
       |sc AS (
       |  SELECT doc_id, n_words, n_syllables, n_sentences,
       |    ${NumFns.roundPortableSql(raw, 4)} AS flesch
       |  FROM c WHERE n_words > 0
       |)
       |SELECT doc_id, n_words, n_syllables, n_sentences, flesch,
       |  CASE WHEN flesch >= 90 THEN 'very_easy'
       |       WHEN flesch >= 60 THEN 'easy'
       |       WHEN flesch >= 50 THEN 'medium'
       |       WHEN flesch >= 30 THEN 'hard'
       |       ELSE 'very_hard' END AS band
       |FROM sc
       |ORDER BY doc_id""".stripMargin
  }

  /** PII classes scanned by [[qPiiScan]] — pattern semantics identical
    * under Java regex and RE2 (no lookaround, no backrefs). Email splices
    * [[Curation.EmailRe]] (one definition with the redaction pass).
    */
  private def piiPhoneRe = "[0-9]{3}-[0-9]{3}-[0-9]{4}"
  private def piiIpRe = "[0-9]+\\.[0-9]+\\.[0-9]+\\.[0-9]+"

  /** PII-exposure audit — the compliance report that precedes any
    * redaction pass at corpus scale: per source, how many documents hit
    * each PII class (email/phone/IPv4) and the total hit counts. PII is
    * synthesized deterministically onto a subset of documents (same
    * device as [[Curation.qTextRedact]]) so the scan has real work on
    * synthetic data. Pure scan-side regexp counting + one map-side-
    * combined aggregation — the 100 TB shape is a single pass, and the
    * per-class columns make the report the direct input to a targeted
    * redaction job.
    */
  def qPiiScan(s: SparkSession, dir: String): DataFrame = {
    val synth = concat(col("text"),
      when(col("doc_id") % 3 === 0,
        concat(lit(" contact user"), col("doc_id").cast("string"), lit("@example.com")))
        .otherwise(lit("")),
      when(col("doc_id") % 5 === 0, lit(" call 555-123-4567")).otherwise(lit("")),
      when(col("doc_id") % 7 === 0,
        concat(lit(" from 10.0."), (col("doc_id") % 256).cast("string"), lit(".25")))
        .otherwise(lit("")))
    val ne = size(regexp_extract_all(col("synth"), lit(Curation.EmailRe), lit(0)))
    val np = size(regexp_extract_all(col("synth"), lit(piiPhoneRe), lit(0)))
    val ni = size(regexp_extract_all(col("synth"), lit(piiIpRe), lit(0)))
    Tables.documents(s, dir)
      .select(col("source"), synth.as("synth"))
      .select(col("source"), ne.as("ne"), np.as("np"), ni.as("ni"))
      .groupBy(col("source"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum((col("ne") > 0).cast("long")).as("docs_email"),
        sum((col("np") > 0).cast("long")).as("docs_phone"),
        sum((col("ni") > 0).cast("long")).as("docs_ip"),
        sum(col("ne").cast("long")).as("email_hits"),
        sum(col("np").cast("long")).as("phone_hits"),
        sum(col("ni").cast("long")).as("ip_hits"),
        sum(((col("ne") > 0) || (col("np") > 0) || (col("ni") > 0)).cast("long"))
          .as("docs_any_pii"))
      .withColumn("pii_rate", NumFns.roundPortable(col("docs_any_pii") / col("n_docs"), 6))
      .orderBy(col("source"))
  }

  val qPiiScanOracle: String = {
    val emailRe = graft.operators.Curation.EmailRe
    s"""WITH t AS (
       |  SELECT source,
       |    text
       |      || CASE WHEN doc_id % 3 = 0
       |              THEN ' contact user' || CAST(doc_id AS VARCHAR) || '@example.com'
       |              ELSE '' END
       |      || CASE WHEN doc_id % 5 = 0 THEN ' call 555-123-4567' ELSE '' END
       |      || CASE WHEN doc_id % 7 = 0
       |              THEN ' from 10.0.' || CAST(doc_id % 256 AS VARCHAR) || '.25'
       |              ELSE '' END AS synth
       |  FROM documents
       |),
       |c AS (
       |  SELECT source,
       |    len(regexp_extract_all(synth, '$emailRe')) AS ne,
       |    len(regexp_extract_all(synth, '[0-9]{3}-[0-9]{3}-[0-9]{4}')) AS np,
       |    len(regexp_extract_all(synth, '[0-9]+\\.[0-9]+\\.[0-9]+\\.[0-9]+')) AS ni
       |  FROM t
       |),
       |g AS (
       |  SELECT source, count(*) AS n_docs,
       |    CAST(sum(CASE WHEN ne > 0 THEN 1 ELSE 0 END) AS BIGINT) AS docs_email,
       |    CAST(sum(CASE WHEN np > 0 THEN 1 ELSE 0 END) AS BIGINT) AS docs_phone,
       |    CAST(sum(CASE WHEN ni > 0 THEN 1 ELSE 0 END) AS BIGINT) AS docs_ip,
       |    CAST(sum(ne) AS BIGINT) AS email_hits,
       |    CAST(sum(np) AS BIGINT) AS phone_hits,
       |    CAST(sum(ni) AS BIGINT) AS ip_hits,
       |    CAST(sum(CASE WHEN ne > 0 OR np > 0 OR ni > 0 THEN 1 ELSE 0 END) AS BIGINT)
       |      AS docs_any_pii
       |  FROM c GROUP BY source
       |)
       |SELECT source, n_docs, docs_email, docs_phone, docs_ip,
       |  email_hits, phone_hits, ip_hits, docs_any_pii,
       |  ${NumFns.roundPortableSql("docs_any_pii / CAST(n_docs AS DOUBLE)", 6)} AS pii_rate
       |FROM g
       |ORDER BY source""".stripMargin
  }

  /** Tokenizer-fertility profile — the tokenizer-selection analytic: per
    * source, whitespace-token vs BPE-ish-token vs character volumes, and
    * the derived fertility (BPE tokens per word) and compression (chars
    * per BPE token) ratios. High fertility flags sources the tokenizer
    * fragments (code, non-Latin scripts); it directly prices a source's
    * context-window cost. One scan, map-side-combined aggregation.
    */
  def qTokenizerFertility(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir)
      .select(col("source"),
        size(TextFns.tokens(col("text"))).cast("long").as("ws"),
        size(regexp_extract_all(lower(col("text")),
          lit("[a-z]+|[0-9]|[^a-z0-9\\s]"), lit(0))).cast("long").as("bpe"),
        length(col("text")).cast("long").as("ch"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("ws")).as("ws_tokens"),
        sum(col("bpe")).as("bpe_tokens"),
        sum(col("ch")).as("n_chars"))
      .select(col("source"), col("n_docs"), col("ws_tokens"), col("bpe_tokens"), col("n_chars"),
        NumFns.roundPortable(col("bpe_tokens") / col("ws_tokens").cast("double"), 6)
          .as("fertility"),
        NumFns.roundPortable(col("n_chars") / col("bpe_tokens").cast("double"), 6)
          .as("chars_per_token"))
      .orderBy(col("source"))

  val qTokenizerFertilityOracle: String =
    s"""WITH c AS (
       |  SELECT source,
       |    CAST(len($toksSql) AS BIGINT) AS ws,
       |    CAST(len(regexp_extract_all(lower(text), '[a-z]+|[0-9]|[^a-z0-9\\s]')) AS BIGINT) AS bpe,
       |    CAST(length(text) AS BIGINT) AS ch
       |  FROM documents
       |),
       |g AS (
       |  SELECT source, count(*) AS n_docs,
       |    CAST(sum(ws) AS BIGINT) AS ws_tokens,
       |    CAST(sum(bpe) AS BIGINT) AS bpe_tokens,
       |    CAST(sum(ch) AS BIGINT) AS n_chars
       |  FROM c GROUP BY source
       |)
       |SELECT source, n_docs, ws_tokens, bpe_tokens, n_chars,
       |  ${NumFns.roundPortableSql("bpe_tokens / CAST(ws_tokens AS DOUBLE)", 6)} AS fertility,
       |  ${NumFns.roundPortableSql("n_chars / CAST(bpe_tokens AS DOUBLE)", 6)} AS chars_per_token
       |FROM g
       |ORDER BY source""".stripMargin

  /** Keywords surfaced per source by [[qSourceKeywords]]. */
  val KeywordsPerSource = 5

  /** Per-source TF-IDF keyword profiles — "what is each source ABOUT":
    * term frequency at SOURCE grain × inverse source-frequency
    * (ln(n_sources/df)), top-[[KeywordsPerSource]] per source. The
    * source-level complement of the per-document q_tfidf: a mix
    * designer reads this table, not 500k doc vectors. Shape: one
    * (source, word) grouped count (map-side combined), a word-keyed df
    * aggregate joined back shuffle-on-word, and the per-source top-k
    * window lowers to the map-side-heap TopKPerKey operator — the final
    * exchange carries k rows per source. Determinism: tf and df are
    * integers, idf is one ln of a rational, the score product is one
    * IEEE multiply per row, ties fall to the word.
    */
  def qSourceKeywords(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val tf = Tables.documents(s, dir)
      .select(col("source"), explode(TextFns.tokens(col("text"))).as("w"))
      .groupBy(col("source"), col("w"))
      .agg(count(lit(1)).as("tf"))
      .localCheckpoint() // feeds n_sources, df AND the score join
    val nSources = tf.select(col("source")).distinct()
      .agg(count(lit(1)).as("ns"))
    val df = tf.groupBy(col("w")).agg(count(lit(1)).as("df"))
    val scored = tf
      .join(df.hint("shuffle_hash"), Seq("w"))
      .crossJoin(broadcast(nSources))
      .select(col("source"), col("w"), col("tf"), col("df"),
        (col("tf") * log(col("ns").cast("double") / col("df")))
          .as("score"))
    val win = Window.partitionBy(col("source"))
      .orderBy(col("score").desc, col("w"))
    scored.withColumn("rk", row_number().over(win))
      .filter(col("rk") <= KeywordsPerSource)
      .select(col("source"), col("rk"), col("w").as("keyword"),
        col("tf"), col("df"),
        NumFns.roundPortable(col("score"), 4).as("tfidf"))
      .orderBy(col("source"), col("rk"))
  }

  val qSourceKeywordsOracle: String =
    s"""WITH tf AS (
       |  SELECT source, w, count(*) AS tf FROM (
       |    SELECT source, unnest(${TextFns.toksSql}) AS w FROM documents
       |  ) GROUP BY source, w
       |),
       |ns AS (SELECT count(DISTINCT source) AS ns FROM tf),
       |df AS (SELECT w, count(*) AS df FROM tf GROUP BY w),
       |sc AS (
       |  SELECT source, w, tf.tf, df.df,
       |    tf.tf * ln(CAST(ns AS DOUBLE) / df.df) AS score
       |  FROM tf JOIN df USING (w), ns
       |),
       |rk AS (
       |  SELECT source, w, tf, df, score,
       |    row_number() OVER (PARTITION BY source
       |      ORDER BY score DESC, w) AS rk
       |  FROM sc
       |)
       |SELECT source, CAST(rk AS INT) AS rk, w AS keyword, tf, df,
       |  ${NumFns.roundPortableSql("score", 4)} AS tfidf
       |FROM rk WHERE rk <= $KeywordsPerSource
       |ORDER BY source, rk""".stripMargin

  /** Vocabulary-size thresholds for [[qCoverageCurve]]. */
  val CoverageNs = Seq(100L, 1000L, 10000L)

  /** Token-mass coverage curve of the top-N vocabulary — "how much of
    * the corpus does a 100 / 1k / 10k-word vocab cover?", the number
    * that sizes tokenizer vocab and stopword lists (Zipf makes it
    * startlingly high). Scale shape: the vocab frame never sees a
    * global rank window — it collapses to COUNT-OF-COUNTS cells (c,
    * n_words), ~O(√corpus) rows under Zipf, the cumulative frame runs
    * over THOSE cells, and each threshold N finds its straddling cell
    * by join (covered = mass above the cell + (N − words_above)·c —
    * exact, because every word in a tied block has the same count).
    * All-integer arithmetic; one share division at the end.
    */
  def qCoverageCurve(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val wc = Tables.documents(s, dir)
      .select(explode(TextFns.tokens(col("text"))).as("w"))
      .groupBy(col("w")).agg(count(lit(1)).as("c"))
    val cc = wc.groupBy(col("c"))
      .agg(count(lit(1)).as("n_words"))
      .withColumn("mass", col("c") * col("n_words"))
    val w = Window.orderBy(col("c").desc)
      .rowsBetween(Window.unboundedPreceding, -1)
    val cum = cc
      .withColumn("words_above", coalesce(sum(col("n_words")).over(w), lit(0L)))
      .withColumn("mass_above", coalesce(sum(col("mass")).over(w), lit(0L)))
      .localCheckpoint() // cells frame feeds totals AND the straddle join
    val tot = cum.agg(sum(col("n_words")).as("n_vocab"),
      sum(col("mass")).as("total_mass"))
    val ns = cum.sparkSession.createDataFrame(
      CoverageNs.map(Tuple1.apply)).toDF("n_top")
    ns.crossJoin(broadcast(tot))
      .join(broadcast(cum),
        col("words_above") < col("n_top") &&
          col("words_above") + col("n_words") >= col("n_top"), "left")
      .select(col("n_top"), col("n_vocab"),
        least(col("n_top"), col("n_vocab")).as("n_words_used"),
        coalesce(col("mass_above") +
          (col("n_top") - col("words_above")) * col("c"),
          col("total_mass")).as("covered_tokens"),
        col("total_mass"))
      .select(col("n_top"), col("n_vocab"), col("n_words_used"),
        col("covered_tokens"),
        NumFns.roundPortable(
          col("covered_tokens").cast("double") / col("total_mass"), 6)
          .as("coverage"))
      .orderBy(col("n_top"))
  }

  val qCoverageCurveOracle: String =
    s"""WITH wc AS (
       |  SELECT w, count(*) AS c FROM (
       |    SELECT unnest(${TextFns.toksSql}) AS w FROM documents
       |  ) GROUP BY w
       |),
       |cc AS (
       |  SELECT c, count(*) AS n_words, c * count(*) AS mass
       |  FROM wc GROUP BY c
       |),
       |cum AS (
       |  SELECT c, n_words, mass,
       |    CAST(coalesce(sum(n_words) OVER w, 0) AS BIGINT) AS words_above,
       |    CAST(coalesce(sum(mass) OVER w, 0) AS BIGINT) AS mass_above
       |  FROM cc
       |  WINDOW w AS (ORDER BY c DESC
       |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
       |),
       |tot AS (
       |  SELECT CAST(sum(n_words) AS BIGINT) AS n_vocab,
       |    CAST(sum(mass) AS BIGINT) AS total_mass
       |  FROM cum
       |),
       |ns AS (SELECT CAST(unnest([${CoverageNs.mkString(", ")}]) AS BIGINT)
       |  AS n_top)
       |SELECT n_top, n_vocab,
       |  least(n_top, n_vocab) AS n_words_used,
       |  CAST(coalesce(mass_above + (n_top - words_above) * c, total_mass)
       |    AS BIGINT) AS covered_tokens,
       |  ${NumFns.roundPortableSql(
            "CAST(coalesce(mass_above + (n_top - words_above) * c, " +
            "total_mass) AS DOUBLE) / total_mass", 6)} AS coverage
       |FROM ns CROSS JOIN tot
       |LEFT JOIN cum ON words_above < n_top
       |  AND words_above + n_words >= n_top
       |ORDER BY n_top""".stripMargin

  /** Absolute discount for [[qKneserNey]] — the textbook 0.75. */
  val KnDiscount = 0.75

  /** Interpolated Kneser–Ney bigram probabilities for the corpus's 20
    * most frequent bigrams — the smoothing actually used by n-gram LMs
    * (the MLE model behind q_bigram_lm assigns zero to unseen pairs; KN
    * backs off to CONTINUATION counts, "how many contexts does w2
    * complete", not raw frequency):
    *   P(w₂|w₁) = max(c₁₂−D,0)/c₁ + (D/c₁)·N₁₊(w₁·)·N₁₊(·w₂)/N₁₊(··).
    * Exactness: every input is an integer count (bigram count, context
    * count, left/right continuation type counts, total bigram types), so
    * P is one deterministic IEEE expression of exact integers — no
    * accumulation-order exposure anywhere. Shape: the bigram frame is
    * materialized once and feeds four independent map-side-combined
    * aggregates; the top-20 selection happens FIRST (orderBy+limit over
    * the bigram-type frame), and the 20-row result is broadcast into the
    * three stat joins — at 100 TB the corpus is tokenized once and every
    * post-aggregate join moves ≤ 20 rows.
    */
  def qKneserNey(s: SparkSession, dir: String): DataFrame = {
    val bg = Tables.documents(s, dir)
      .select(TextFns.tokens(col("text")).as("toks"))
      .filter(size(col("toks")) >= 2)
      .select(explode(
        transform(sequence(lit(1), size(col("toks")) - 1), i =>
          struct(element_at(col("toks"), i).as("w1"),
            element_at(col("toks"), i + 1).as("w2")))).as("b"))
      .select(col("b.w1").as("w1"), col("b.w2").as("w2"))
      .localCheckpoint()
    val pairC = bg.groupBy(col("w1"), col("w2"))
      .agg(count(lit(1)).as("c12"))
      .localCheckpoint() // feeds top-20, c1, both continuation counts
    val top = pairC.orderBy(col("c12").desc, col("w1"), col("w2")).limit(20)
    val c1 = pairC.groupBy(col("w1"))
      .agg(sum(col("c12")).as("c1"), count(lit(1)).as("fanout"))
    val leftCont = pairC.groupBy(col("w2"))
      .agg(count(lit(1)).as("lcont"))
    val nTypes = pairC.agg(count(lit(1)).as("n_types"))
    val d = lit(KnDiscount)
    top
      .join(c1.hint("shuffle_hash"), Seq("w1"))
      .join(leftCont.hint("shuffle_hash"), Seq("w2"))
      .crossJoin(broadcast(nTypes))
      .select(col("w1"), col("w2"), col("c12"),
        NumFns.roundPortable(
          greatest(col("c12") - d, lit(0.0)) / col("c1") +
            d / col("c1") * col("fanout") *
            (col("lcont").cast("double") / col("n_types")), 6).as("p_kn"))
      .orderBy(col("c12").desc, col("w1"), col("w2"))
  }

  val qKneserNeyOracle: String =
    s"""WITH t AS (
       |  SELECT ${TextFns.toksSql} AS toks FROM documents
       |),
       |bg AS (
       |  SELECT toks[i] AS w1, toks[i+1] AS w2
       |  FROM t, unnest(range(1, len(toks))) AS u(i)
       |  WHERE len(toks) >= 2
       |),
       |pc AS (SELECT w1, w2, count(*) AS c12 FROM bg GROUP BY w1, w2),
       |top AS (
       |  SELECT w1, w2, c12 FROM pc
       |  ORDER BY c12 DESC, w1, w2 LIMIT 20
       |),
       |c1 AS (
       |  SELECT w1, CAST(sum(c12) AS BIGINT) AS c1, count(*) AS fanout
       |  FROM pc GROUP BY w1
       |),
       |lc AS (SELECT w2, count(*) AS lcont FROM pc GROUP BY w2),
       |nt AS (SELECT count(*) AS n_types FROM pc)
       |SELECT w1, w2, c12,
       |  ${NumFns.roundPortableSql(
            "greatest(c12 - 0.75, 0.0) / c1 + " +
            "0.75 / c1 * fanout * (CAST(lcont AS DOUBLE) / n_types)", 6)}
       |    AS p_kn
       |FROM top JOIN c1 USING (w1) JOIN lc USING (w2), nt
       |ORDER BY c12 DESC, w1, w2""".stripMargin

  /** Words profiled by [[qBurstiness]]. */
  val BurstTopWords = 20

  /** Term burstiness (variance-to-mean ratio of per-document counts,
    * Church & Gale) for the top corpus words — the dispersion statistic
    * the bag-of-frequencies views (Zipf, TF-IDF) cannot see: a function
    * word and a topical word can share total frequency, but the topical
    * one CLUMPS (VMR ≫ 1: absent from most docs, dense where present)
    * while the function word spreads Poisson-like (VMR ≈ 1). This is
    * the statistic behind stop-word induction and keyword scoring at
    * corpus scale. Shape: one explode pass → (doc, word) count cells
    * (map-side combined), then a per-word aggregate of exact integer
    * moments over the cells; zero-occurrence docs enter the moments
    * through N without materializing zeros. Output: top
    * [[BurstTopWords]] by total frequency.
    */
  def qBurstiness(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
    val nDocs = docs.agg(count(lit(1)).as("n_docs"))
    val cells = docs
      .select(col("doc_id"), explode(TextFns.tokens(col("text"))).as("w"))
      .filter(length(col("w")) > 0)
      .groupBy(col("doc_id"), col("w")).agg(count(lit(1)).as("c"))
    val words = cells.groupBy(col("w"))
      .agg(count(lit(1)).as("df"), sum(col("c")).as("tf"),
        sum(col("c") * col("c")).as("sq"))
    val mean = col("tf").cast("double") / col("n_docs")
    words.crossJoin(broadcast(nDocs))
      .select(col("w"), col("df"), col("tf"),
        NumFns.roundPortable(mean, 6).as("mean_per_doc"),
        NumFns.roundPortable(
          (col("sq").cast("double") / col("n_docs") - mean * mean) / mean, 6)
          .as("vmr"))
      .orderBy(col("tf").desc, col("w"))
      .limit(BurstTopWords)
  }

  val qBurstinessOracle: String =
    s"""WITH nd AS (SELECT count(*) AS n_docs FROM documents),
       |cells AS (
       |  SELECT doc_id, w, count(*) AS c FROM (
       |    SELECT doc_id, unnest($toksSql) AS w FROM documents
       |  ) WHERE length(w) > 0
       |  GROUP BY doc_id, w
       |),
       |words AS (
       |  SELECT w, count(*) AS df, CAST(sum(c) AS BIGINT) AS tf,
       |    CAST(sum(c * c) AS BIGINT) AS sq
       |  FROM cells GROUP BY w
       |)
       |SELECT w, df, tf,
       |  ${NumFns.roundPortableSql("CAST(tf AS DOUBLE) / n_docs", 6)}
       |    AS mean_per_doc,
       |  ${NumFns.roundPortableSql(
            "(CAST(sq AS DOUBLE) / n_docs " +
            "- (CAST(tf AS DOUBLE) / n_docs) * (CAST(tf AS DOUBLE) / n_docs))" +
            " / (CAST(tf AS DOUBLE) / n_docs)", 6)} AS vmr
       |FROM words, nd
       |ORDER BY tf DESC, w
       |LIMIT $BurstTopWords""".stripMargin
  /** Code-switching / language-mix audit per source: each document's
    * stopword evidence across the four detector languages (the
    * [[qTextLangid]] lexicons) is read as a distribution, and its
    * Shannon entropy says how MIXED the evidence is (0 = one language
    * owns every hit; ln 4 = perfectly ambiguous). A source whose
    * average mix entropy is high — or with many multi-language docs —
    * will confuse any per-doc language router and deserves
    * sentence-level splitting before training. Shape: one scan-side
    * pass computes the four hit counts per doc; the per-doc entropy is
    * exact-integer Σs·ln s arithmetic; the per-source roll-up
    * DECIMAL-folds the entropies. Docs with zero stopword evidence are
    * excluded (entropy undefined), counted separately.
    */
  def qLangMix(s: SparkSession, dir: String): DataFrame = {
    val D = org.apache.spark.sql.types.DecimalType(38, 12)
    val hits = Tables.documents(s, dir)
      .select(col("source"), TextFns.tokens(col("text")).as("toks"))
      .select(col("source"),
        stopCount("toks", EnStop).cast("long").as("s_en"),
        stopCount("toks", EsStop).cast("long").as("s_es"),
        stopCount("toks", DeStop).cast("long").as("s_de"),
        stopCount("toks", FrStop).cast("long").as("s_fr"))
      .withColumn("t", col("s_en") + col("s_es") + col("s_de") + col("s_fr"))
    def nlnn(c: org.apache.spark.sql.Column) =
      when(c > 0, c * log(c.cast("double"))).otherwise(lit(0.0))
    val scored = hits.filter(col("t") > 0)
      .withColumn("h", log(col("t").cast("double"))
        - (nlnn(col("s_en")) + nlnn(col("s_es")) + nlnn(col("s_de"))
          + nlnn(col("s_fr"))) / col("t"))
      .withColumn("n_langs",
        (col("s_en") > 0).cast("long") + (col("s_es") > 0).cast("long")
          + (col("s_de") > 0).cast("long") + (col("s_fr") > 0).cast("long"))
    scored.groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum((col("n_langs") >= 2).cast("long")).as("n_multi"),
        sum(col("h").cast(D)).as("sh"))
      .select(col("source"), col("n_docs"), col("n_multi"),
        NumFns.roundPortable(
          col("n_multi").cast("double") / col("n_docs"), 6).as("multi_share"),
        NumFns.roundPortable(
          col("sh").cast("double") / col("n_docs"), 6).as("avg_mix_entropy"))
      .orderBy(col("source"))
  }

  val qLangMixOracle: String = {
    def nlnnSql(c: String) =
      s"CASE WHEN $c > 0 THEN $c * ln(CAST($c AS DOUBLE)) ELSE 0.0 END"
    s"""WITH t AS (SELECT source, $toksSql AS toks FROM documents),
       |hits AS (
       |  SELECT source,
       |    CAST(${stopCountSql(EnStop)} AS BIGINT) AS s_en,
       |    CAST(${stopCountSql(EsStop)} AS BIGINT) AS s_es,
       |    CAST(${stopCountSql(DeStop)} AS BIGINT) AS s_de,
       |    CAST(${stopCountSql(FrStop)} AS BIGINT) AS s_fr
       |  FROM t
       |),
       |sc AS (
       |  SELECT source, s_en + s_es + s_de + s_fr AS tt,
       |    ln(CAST(s_en + s_es + s_de + s_fr AS DOUBLE))
       |      - (${nlnnSql("s_en")} + ${nlnnSql("s_es")} + ${nlnnSql("s_de")}
       |        + ${nlnnSql("s_fr")}) / (s_en + s_es + s_de + s_fr) AS h,
       |    CAST(s_en > 0 AS BIGINT) + CAST(s_es > 0 AS BIGINT)
       |      + CAST(s_de > 0 AS BIGINT) + CAST(s_fr > 0 AS BIGINT) AS n_langs
       |  FROM hits WHERE s_en + s_es + s_de + s_fr > 0
       |)
       |SELECT source, count(*) AS n_docs,
       |  CAST(sum(CASE WHEN n_langs >= 2 THEN 1 ELSE 0 END) AS BIGINT)
       |    AS n_multi,
       |  ${NumFns.roundPortableSql(
            "CAST(sum(CASE WHEN n_langs >= 2 THEN 1 ELSE 0 END) AS DOUBLE)" +
            " / count(*)", 6)} AS multi_share,
       |  ${NumFns.roundPortableSql(
            "CAST(sum(CAST(h AS DECIMAL(38,12))) AS DOUBLE) / count(*)", 6)}
       |    AS avg_mix_entropy
       |FROM sc GROUP BY source
       |ORDER BY source""".stripMargin
  }

  /** Cochran's Q test of three English detectors on matched documents —
    * the k-classifier generalization of q_mcnemar (which can only pair
    * TWO): detector 1 "any stopword present", detector 2 "mean token
    * length ≤ 5.5", detector 3 "contains 'the'", each a cheap gate a
    * curation pipeline might deploy; Q asks whether their hit RATES
    * differ beyond chance on the same documents, i.e. whether the
    * gates are interchangeable. Q = k(k−1)·Σⱼ(Gⱼ−T/k)² / (k·T − ΣLᵢ²)
    * against χ²(k−1). Exactness: every term is an exact integer count
    * (k·ΣGⱼ² enters cleared of the T/k fraction: numerator = k·ΣGⱼ²−T²)
    * in DECIMAL(38,0)/HUGEINT, one final double ratio. Shape: one scan
    * → per-doc bits → one 5-number moment row. Scan-side at any scale.
    */
  def qCochranQ(s: SparkSession, dir: String): DataFrame = {
    val D0 = org.apache.spark.sql.types.DecimalType(38, 0)
    val toks = TextFns.tokens(col("text"))
    val base = Tables.documents(s, dir)
      .select(toks.as("toks"))
      .filter(size(col("toks")) > 0)
      .select(
        when(size(filter(col("toks"),
          t => t.isin(EnStop.map(w => lit(w): Any): _*))) > 0, 1L)
          .otherwise(0L).as("c1"),
        when(aggregate(col("toks"), lit(0L),
          (acc, t) => acc + length(t)) * 10 <= size(col("toks")) * 55, 1L)
          .otherwise(0L).as("c2"),
        when(array_contains(col("toks"), "the"), 1L).otherwise(0L).as("c3"))
      .withColumn("l", col("c1") + col("c2") + col("c3"))
    val m = base.agg(count(lit(1)).cast(D0).as("n"),
      sum(col("c1")).cast(D0).as("g1"), sum(col("c2")).cast(D0).as("g2"),
      sum(col("c3")).cast(D0).as("g3"),
      sum(col("l").cast(D0) * col("l")).as("l2"))
    val t = col("g1") + col("g2") + col("g3")
    val num = lit(2) * (lit(3) * (col("g1") * col("g1")
      + col("g2") * col("g2") + col("g3") * col("g3")) - t * t)
    val den = lit(3) * t - col("l2")
    m.select(col("n").cast("long").as("n_docs"),
        col("g1").cast("long").as("hits_stopword"),
        col("g2").cast("long").as("hits_short_tokens"),
        col("g3").cast("long").as("hits_the"),
        when(den =!= 0,
          NumFns.roundPortable(num.cast("double") / den.cast("double"), 4))
          .as("q_stat"))
      .withColumn("differ_at_5pct",
        col("q_stat").isNotNull && col("q_stat") > 5.9915)
  }

  val qCochranQOracle: String =
    s"""WITH t AS (
       |  SELECT ${TextFns.toksSql} AS toks FROM documents
       |),
       |b AS (
       |  SELECT
       |    CASE WHEN len(list_filter(toks, x -> x IN (${
            EnStop.map(w => s"'$w'").mkString(", ")}))) > 0
       |      THEN 1 ELSE 0 END AS c1,
       |    CASE WHEN list_sum(list_transform(toks, x -> len(x))) * 10
       |        <= len(toks) * 55
       |      THEN 1 ELSE 0 END AS c2,
       |    CASE WHEN list_contains(toks, 'the') THEN 1 ELSE 0 END AS c3
       |  FROM t WHERE len(toks) > 0
       |),
       |w AS (SELECT c1, c2, c3, c1 + c2 + c3 AS l FROM b),
       |m AS (
       |  SELECT CAST(count(*) AS HUGEINT) AS n,
       |    CAST(sum(c1) AS HUGEINT) AS g1, CAST(sum(c2) AS HUGEINT) AS g2,
       |    CAST(sum(c3) AS HUGEINT) AS g3,
       |    sum(CAST(l AS HUGEINT) * l) AS l2
       |  FROM w
       |)
       |SELECT CAST(n AS BIGINT) AS n_docs,
       |  CAST(g1 AS BIGINT) AS hits_stopword,
       |  CAST(g2 AS BIGINT) AS hits_short_tokens,
       |  CAST(g3 AS BIGINT) AS hits_the,
       |  CASE WHEN 3 * (g1 + g2 + g3) - l2 != 0 THEN
       |    ${NumFns.roundPortableSql(
            "CAST(2 * (3 * (g1 * g1 + g2 * g2 + g3 * g3)"
              + " - (g1 + g2 + g3) * (g1 + g2 + g3)) AS DOUBLE)"
              + " / CAST(3 * (g1 + g2 + g3) - l2 AS DOUBLE)", 4)}
       |  END AS q_stat,
       |  (3 * (g1 + g2 + g3) - l2 != 0) AND
       |    CASE WHEN 3 * (g1 + g2 + g3) - l2 != 0 THEN
       |      ${NumFns.roundPortableSql(
              "CAST(2 * (3 * (g1 * g1 + g2 * g2 + g3 * g3)"
                + " - (g1 + g2 + g3) * (g1 + g2 + g3)) AS DOUBLE)"
                + " / CAST(3 * (g1 + g2 + g3) - l2 AS DOUBLE)", 4)} > 5.9915
       |    ELSE FALSE END AS differ_at_5pct
       |FROM m""".stripMargin

  /** Fleiss' κ agreement across three deterministic document "raters"
    * (stopword-density ≥ 100‰, ≥ 50 tokens, ≥ 200 chars — three cheap
    * quality heuristics a curation stack actually stacks): do the
    * rules agree on which documents are "good" beyond chance? The
    * multi-rater generalization of q_cohens_kappa (which compares
    * exactly two raters). Shape: one corpus scan emits each doc's
    * positive-vote count n₁ ∈ {0..3}; κ needs only N, Σn₁ and
    * Σ(n₁²+(3−n₁)²) — three exact integer aggregates, no shuffle
    * beyond the 1-row combine; everything after is scalar arithmetic
    * on ratios of exact integers.
    */
  def qFleissKappa(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
      .select(col("text"), TextFns.tokens(col("text")).as("toks"))
      .filter(size(col("toks")) > 0)
    val votes = docs.select(
      (when(floor(lit(1000L) * size(filter(col("toks"),
        t => t.isin(Curation.StopWords.map(w => lit(w): Any): _*)))
        / size(col("toks"))) >= 100L, 1L).otherwise(0L)
        + when(size(col("toks")) >= 50, 1L).otherwise(0L)
        + when(length(col("text")) >= 200, 1L).otherwise(0L)).as("n1"))
    val m = votes.agg(count(lit(1)).as("n"), sum(col("n1")).as("s1"),
      sum(col("n1") * col("n1")
        + (lit(3L) - col("n1")) * (lit(3L) - col("n1"))).as("s2"))
    val nD = col("n").cast("double")
    val pBar = (col("s2") - col("n") * 3).cast("double") / (nD * 6.0)
    val p1 = col("s1").cast("double") / (nD * 3.0)
    val pe = p1 * p1 + (lit(1.0) - p1) * (lit(1.0) - p1)
    m.select(col("n").as("n_docs"),
      NumFns.roundPortable(pBar, 6).as("p_bar"),
      NumFns.roundPortable(pe, 6).as("p_e"),
      NumFns.roundPortable(
        when(pe < 1.0, (pBar - pe) / (lit(1.0) - pe)), 6).as("fleiss_kappa"))
  }

  val qFleissKappaOracle: String =
    s"""WITH t AS (
       |  SELECT text, ${TextFns.toksSql} AS toks FROM documents
       |),
       |v AS (
       |  SELECT
       |    (CASE WHEN floor(1000 * len(list_filter(toks, x -> x IN
       |        (${Curation.stopListSql}))) / len(toks)) >= 100
       |      THEN 1 ELSE 0 END)
       |    + (CASE WHEN len(toks) >= 50 THEN 1 ELSE 0 END)
       |    + (CASE WHEN length(text) >= 200 THEN 1 ELSE 0 END) AS n1
       |  FROM t WHERE len(toks) > 0
       |),
       |m AS (
       |  SELECT count(*) AS n, CAST(sum(n1) AS BIGINT) AS s1,
       |    CAST(sum(n1 * n1 + (3 - n1) * (3 - n1)) AS BIGINT) AS s2
       |  FROM v
       |),
       |c AS (
       |  SELECT n,
       |    CAST(s2 - n * 3 AS DOUBLE) / (CAST(n AS DOUBLE) * 6.0) AS p_bar,
       |    CAST(s1 AS DOUBLE) / (CAST(n AS DOUBLE) * 3.0) AS p1
       |  FROM m
       |)
       |SELECT n AS n_docs,
       |  ${NumFns.roundPortableSql("p_bar", 6)} AS p_bar,
       |  ${NumFns.roundPortableSql(
            "p1 * p1 + (1.0 - p1) * (1.0 - p1)", 6)} AS p_e,
       |  ${NumFns.roundPortableSql(
            "CASE WHEN p1 * p1 + (1.0 - p1) * (1.0 - p1) < 1.0 THEN" +
              " (p_bar - (p1 * p1 + (1.0 - p1) * (1.0 - p1)))" +
              " / (1.0 - (p1 * p1 + (1.0 - p1) * (1.0 - p1))) END", 6)}
       |    AS fleiss_kappa
       |FROM c""".stripMargin

  /** Yule's K vocabulary-richness characteristic: K = 10⁴·(Σm²·Vₘ −
    * N)/N² over the count-of-counts spectrum (Vₘ = #types occurring m
    * times) — the repeat-rate constant that, unlike q_ttr/q_hapax, is
    * (approximately) TEXT-LENGTH INVARIANT, so one number compares
    * corpora of different sizes without a normalization story; beside
    * q_heaps_fit (growth law) and q_word_entropy (distributional). At
    * 100 TB the shape is the whole point: tokens → word-count cells →
    * the ≤10³-row count-of-counts frame; K is three exact integer
    * sums over it (m²Vₘ folds in DECIMAL — m can reach corpus scale
    * where a long product wraps). No vocab-rank window anywhere.
    */
  def qYuleK(s: SparkSession, dir: String): DataFrame = {
    val D0 = org.apache.spark.sql.types.DecimalType(38, 0)
    val cc = Tables.documents(s, dir)
      .select(explode(TextFns.tokens(col("text"))).as("word"))
      .groupBy(col("word")).agg(count(lit(1)).as("m"))
      .groupBy(col("m")).agg(count(lit(1)).as("vm"))
    cc.agg(
      sum(col("m").cast(D0) * col("vm")).as("n_tok"),
      sum(col("vm")).as("n_types"),
      sum(col("m").cast(D0) * col("m") * col("vm")).as("s2"))
      .select(col("n_tok").cast("long").as("n_tokens"), col("n_types"),
        NumFns.roundPortable(
          (col("s2") - col("n_tok")).cast("double") * 1e4
            / col("n_tok").cast("double") / col("n_tok").cast("double"), 4)
          .as("yule_k"))
  }

  val qYuleKOracle: String =
    s"""WITH toks AS (
       |  SELECT unnest(${TextFns.toksSql}) AS word FROM documents
       |),
       |wc AS (SELECT word, count(*) AS m FROM toks GROUP BY word),
       |cc AS (SELECT m, count(*) AS vm FROM wc GROUP BY m),
       |ag AS (
       |  SELECT CAST(sum(CAST(m AS HUGEINT) * vm) AS BIGINT) AS n_tokens,
       |    CAST(sum(vm) AS BIGINT) AS n_types,
       |    sum(CAST(m AS HUGEINT) * m * vm) AS s2
       |  FROM cc
       |)
       |SELECT n_tokens, n_types,
       |  ${NumFns.roundPortableSql(
            "CAST(s2 - n_tokens AS DOUBLE) * 1e4 / CAST(n_tokens AS DOUBLE)" +
              " / CAST(n_tokens AS DOUBLE)", 4)} AS yule_k
       |FROM ag""".stripMargin

  /** Gunning fog index per document — the second readability scale
    * beside q_readability's Flesch (fog weights COMPLEX words, ≥3
    * syllable groups, which Flesch's per-word syllable mean dilutes;
    * the two disagree exactly on jargon-dense short sentences) — with
    * the per-document complex-word share that drives it. Same shape as
    * q_readability: a pure scan-side projection (array lambdas over
    * the token list, no shuffle but the presentation sort), so it
    * streams at parquet speed at any corpus size.
    */
  def qGunningFog(s: SparkSession, dir: String): DataFrame = {
    val toks = TextFns.tokens(col("text"))
    val words = size(toks).cast("long")
    val complexW = size(filter(toks,
      t => size(regexp_extract_all(t, lit("[aeiouy]+"), lit(0))) >= 3))
      .cast("long")
    val sents = greatest(lit(1L),
      size(regexp_extract_all(col("text"), lit("[.!?]+"), lit(0))).cast("long"))
    Tables.documents(s, dir)
      .select(col("doc_id"), words.as("n_words"),
        complexW.as("n_complex"), sents.as("n_sentences"))
      .filter(col("n_words") > 0)
      .select(col("doc_id"), col("n_words"), col("n_complex"),
        col("n_sentences"),
        NumFns.roundPortable(
          col("n_complex").cast("double") / col("n_words"), 4)
          .as("complex_share"),
        NumFns.roundPortable(
          (col("n_words").cast("double") / col("n_sentences")
            + lit(100.0) * col("n_complex") / col("n_words")) * 0.4, 4)
          .as("fog"))
      .orderBy(col("doc_id"))
  }

  val qGunningFogOracle: String =
    s"""WITH t AS (
       |  SELECT doc_id, text, ${TextFns.toksSql} AS toks FROM documents
       |),
       |c AS (
       |  SELECT doc_id,
       |    CAST(len(toks) AS BIGINT) AS n_words,
       |    CAST(len(list_filter(toks,
       |      x -> len(regexp_extract_all(x, '[aeiouy]+')) >= 3)) AS BIGINT)
       |      AS n_complex,
       |    greatest(1, CAST(len(regexp_extract_all(text, '[.!?]+'))
       |      AS BIGINT)) AS n_sentences
       |  FROM t WHERE len(toks) > 0
       |)
       |SELECT doc_id, n_words, n_complex, n_sentences,
       |  ${NumFns.roundPortableSql(
            "CAST(n_complex AS DOUBLE) / n_words", 4)} AS complex_share,
       |  ${NumFns.roundPortableSql(
            "(CAST(n_words AS DOUBLE) / n_sentences" +
              " + 100.0 * n_complex / n_words) * 0.4", 4)} AS fog
       |FROM c
       |ORDER BY doc_id""".stripMargin

  /** Vocabulary richness estimation from the count-of-counts spectrum:
    * Chao1's lower bound on TOTAL vocabulary (observed + unseen,
    * V + V₁²/(2V₂)) and the Good–Turing coverage estimate
    * (1 − V₁/N — the probability the NEXT token is a known word) — the
    * "how much vocabulary haven't we crawled yet?" planning numbers
    * that q_hapax/q_heaps_fit (observed-only) can't give. Shape: word
    * cells → the ≤10³-row Vₘ frame → three scalar sums; all exact
    * integers (HUGEINT/DECIMAL m·Vₘ folds) until the two final
    * ratios.
    */
  def qSpeciesRichness(s: SparkSession, dir: String): DataFrame = {
    val D0 = org.apache.spark.sql.types.DecimalType(38, 0)
    val cc = Tables.documents(s, dir)
      .select(explode(TextFns.tokens(col("text"))).as("word"))
      .groupBy(col("word")).agg(count(lit(1)).as("m"))
      .groupBy(col("m")).agg(count(lit(1)).as("vm"))
    cc.agg(
      sum(col("m").cast(D0) * col("vm")).cast("long").as("n_tokens"),
      sum(col("vm")).as("v"),
      sum(when(col("m") === 1, col("vm")).otherwise(0L)).as("v1"),
      sum(when(col("m") === 2, col("vm")).otherwise(0L)).as("v2"))
      .select(col("n_tokens"), col("v").as("v_observed"), col("v1"),
        col("v2"),
        NumFns.roundPortable(
          when(col("v2") > 0,
            col("v") + col("v1").cast("double") * col("v1")
              / (lit(2.0) * col("v2")))
            .otherwise(col("v") + col("v1").cast("double")
              * (col("v1") - 1) / 2.0), 2).as("chao1"),
        NumFns.roundPortable(
          lit(1.0) - col("v1").cast("double") / col("n_tokens"), 6)
          .as("good_turing_coverage"))
  }

  val qSpeciesRichnessOracle: String =
    s"""WITH toks AS (
       |  SELECT unnest(${TextFns.toksSql}) AS word FROM documents
       |),
       |wc AS (SELECT word, count(*) AS m FROM toks GROUP BY word),
       |cc AS (SELECT m, count(*) AS vm FROM wc GROUP BY m),
       |ag AS (
       |  SELECT CAST(sum(CAST(m AS HUGEINT) * vm) AS BIGINT) AS n_tokens,
       |    CAST(sum(vm) AS BIGINT) AS v,
       |    CAST(sum(CASE WHEN m = 1 THEN vm ELSE 0 END) AS BIGINT) AS v1,
       |    CAST(sum(CASE WHEN m = 2 THEN vm ELSE 0 END) AS BIGINT) AS v2
       |  FROM cc
       |)
       |SELECT n_tokens, v AS v_observed, v1, v2,
       |  ${NumFns.roundPortableSql(
            "CASE WHEN v2 > 0 THEN v + CAST(v1 AS DOUBLE) * v1 / (2.0 * v2)" +
              " ELSE v + CAST(v1 AS DOUBLE) * (v1 - 1) / 2.0 END", 2)}
       |    AS chao1,
       |  ${NumFns.roundPortableSql(
            "1.0 - CAST(v1 AS DOUBLE) / n_tokens", 6)}
       |    AS good_turing_coverage
       |FROM ag""".stripMargin
}
