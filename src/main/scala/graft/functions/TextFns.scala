package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Column-level text primitives shared by the text-analysis and dedup
  * operators. Everything here is a pure Catalyst expression (no UDFs):
  * tokenization, shingling and hashing all run inside codegen/eval on the
  * scan side, so at 100 TB they cost one pass over the corpus with no
  * shuffle.
  *
  * The string→int64 hash is the first 60/28 bits of md5 — chosen because
  * both Spark (`conv(substr(md5(x),1,n), 16, 10)`) and DuckDB
  * (`('0x' || substr(md5(x),1,n))::BIGINT`) can compute it bit-identically,
  * which is what makes the MinHash/SimHash oracles exact rather than
  * statistical.
  *
  * Tokenizing is [[graft.expressions.WsTokens]] (`ws_tokens`): Spark's
  * space-only `trim`, `lower`, then a split on runs of the bytes
  * `[ \t\n\x0B\f\r]` (Java's `\s`). The oracle twins [[toksSql]] and
  * [[normalizedSql]] split on the same byte class, [[wsClassSql]], not on
  * DuckDB's RE2 `\s`, which lacks `\x0B`.
  *
  * Per-token paths use no lambda functions: Spark 4.1 evaluates
  * `transform`, `filter` and `aggregate` interpreted (`CodegenFallback`),
  * once per array element. Adjacent pairs are [[adjacentPairs]]
  * (`slice` + `arrays_zip`, both codegen'd), and every stopword count is
  * [[stopCount]], the native [[graft.expressions.CountIn]] (`count_in`).
  * Lambda sites left on token arrays are follow-ups: [[shingles]] and
  * [[minhash]], the `Dedup` shingle hashes and spans, the `Curation`
  * trigram sort, the `PipelineOps` n-grams, the word-length `aggregate`
  * of `Curation.qGopherQuality`, `Curation.qFilterFunnel` and
  * `TextAnalysis.qCochranQ`, and the short-word `filter` of
  * `Profiling`'s quality signals.
  */
object TextFns {

  /** Large prime modulus for MinHash permutations; small enough that
    * a*h+b stays under 2^63 for 28-bit h and small a.
    */
  val MinHashPrime = 1000000007L

  /** lower/trim/whitespace-split token sequence (duplicates kept). */
  def tokens(text: Column): Column = call_function("ws_tokens", text)

  /** English stopwords of the quality rules, the quality classifier and
    * the language heuristics. Counted only through [[stopCount]] and
    * [[stopCountSql]], never spelled out at a call site.
    */
  val StopWords = Seq("the", "a", "of", "and", "to")

  /** Number of tokens of `toks` that are in `words`, duplicates counted
    * (NULL tokens never): `count_in`, one native loop per array.
    */
  def stopCount(toks: Column, words: Seq[String] = StopWords): Column =
    call_function("count_in", toks +: words.map(lit): _*)

  /** floor(scale · stopCount / size) as a bigint: a non-empty token
    * array's stopword share as an integer score out of `scale`. Callers
    * drop empty arrays (0/0). The multiply is 64-bit: a 32-bit one
    * overflows past 2^31 / scale stopwords, an ANSI-mode error.
    */
  def stopScore(toks: Column, scale: Long): Column =
    floor(lit(scale) * stopCount(toks) / size(toks))

  /** Total characters over the tokens of `toks`, as a bigint (0 for an
    * empty array): one lambda pass.
    */
  def wordChars(toks: Column): Column =
    aggregate(toks, lit(0L), (acc, t) => acc + length(t))

  /** (w1, w2) struct of every adjacent token pair, in order; the struct
    * fields are named "0" and "1". Callers must filter size >= 2 tokens.
    */
  def adjacentPairs(toks: Column): Column = {
    val n = size(toks) - 1
    arrays_zip(slice(toks, lit(1), n), slice(toks, lit(2), n))
  }

  /** distinct token set. */
  def tokenSet(text: Column): Column = array_distinct(tokens(text))

  /** distinct w-shingle set over the token sequence (w=3):
    * "a b c d" -> {"a b c", "b c d"}. Callers must filter size>=w tokens.
    */
  def shingles(toks: Column, w: Int = 3): Column =
    array_distinct(transform(
      sequence(lit(0), size(toks) - w),
      i => concat_ws(" ", (0 until w).map(o => element_at(toks, i + o + 1)): _*)))

  /** 28-bit md5-prefix hash (safe to scale by small multipliers in int64). */
  def hash28(c: Column): Column =
    conv(substring(md5(c), 1, 7), 16, 10).cast("long")

  /** 60-bit md5-prefix hash (SimHash bit source). */
  def hash60(c: Column): Column =
    conv(substring(md5(c), 1, 15), 16, 10).cast("long")

  /** DuckDB SQL twins of the primitives above, spliced into the oracle
    * strings. ONE definition per contract: these are parity-critical —
    * a drifted copy in an operator file is a silent oracle divergence.
    * [[wsClassSql]] is the byte set `ws_tokens` splits on, as an RE2
    * class; RE2's own `\s` lacks `\x0B`.
    */
  val wsClassSql = "[ \\t\\n\\x0B\\f\\r]"
  val toksSql = s"regexp_split_to_array(lower(trim(text)), '$wsClassSql+')"
  def normalizedSql(text: String): String =
    s"regexp_replace(lower(trim($text)), '$wsClassSql+', ' ', 'g')"
  /** [[stopCount]] and [[stopScore]] over the column `toks`. */
  def stopCountSql(words: Seq[String] = StopWords): String =
    s"len(list_filter(toks, x -> x IN (${words.map(w => s"'$w'").mkString(", ")})))"
  /** [[wordChars]] over the column `toks`; NULL for an empty list, where
    * every caller divides by or filters on the token count. */
  val wordCharsSql = "list_sum(list_transform(toks, x -> length(x)))"
  def stopScoreSql(scale: Long): String =
    s"CAST(floor($scale * ${stopCountSql()} / len(toks)) AS BIGINT)"
  def hash28Sql(x: String): String = s"('0x' || substr(md5($x), 1, 7))::BIGINT"
  def hash60Sql(x: String): String = s"('0x' || substr(md5($x), 1, 15))::BIGINT"

  /** MinHash value j over a pre-hashed shingle array: min((a_j*h+b_j) mod p). */
  def minhash(h28s: Column, j: Int): Column = {
    val a = 2L * j + 3L
    val b = 101L * j + 7L
    array_min(transform(h28s, h => (lit(a) * h + lit(b)) % MinHashPrime))
  }

  /** [[minhash]] j over the DuckDB list column `hs`. */
  def minhashSql(j: Int): String =
    s"list_min(list_transform(hs, hh -> (${2L * j + 3L} * hh + ${101L * j + 7L}) % $MinHashPrime))"

  /** Jaccard similarity of two distinct-element arrays. */
  def jaccard(a: Column, b: Column): Column =
    size(array_intersect(a, b)).cast("double") / size(array_union(a, b))

  /** Canonical whitespace-normalized form used for fingerprinting: every
    * whitespace run becomes one space, as
    * `regexp_replace(lower(trim(text)), "\\s+", " ")` gives. NULL stays
    * NULL, which `concat_ws` would turn into "". Oracle twin:
    * [[normalizedSql]].
    */
  def normalized(text: Column): Column = array_join(tokens(text), " ")
}
