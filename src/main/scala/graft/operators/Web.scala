package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.sources.Tables

/** Web-corpus operators: URL canonicalization and URL-level dedup — the
  * first stage of any crawl-derived training-data pipeline (the same
  * document fetched as `HTTP://WWW.x.COM:80/a/?utm_source=feed` and
  * `http://x.com/a` must collapse to one crawl key BEFORE content dedup
  * ever runs, because it is ~free compared to shingling).
  *
  * URLs are synthesized deterministically from testdata columns on BOTH
  * engines (the climate-surface pattern — see SURVEY.md §3), so the
  * parse/normalize semantics are oracle-gated without inventing data.
  * Everything is a scan-side Column projection (regexp_extract + one
  * higher-order filter over the query params; no UDFs) followed by one
  * map-side-combined aggregate — at 100 TB this is one pass over the
  * manifest, shuffling (canonical_url, partial-count) pairs only.
  */
object Web {

  /** Raw URL per document, deterministically messy: uppercase scheme and
    * host, explicit default port, a trailing slash on every third path,
    * tracking params wrapped around a meaningful one. Spark Column and
    * SQL twin MUST stay in lockstep — both build byte-identical strings.
    */
  private def rawUrl: Column = concat(
    lit("HTTP://WWW."), col("source"), lit(".Example.COM:80/Docs/"),
    (col("doc_id") % 40).cast("string"),
    when(col("doc_id") % 3 === 0, lit("/")).otherwise(lit("")),
    lit("?utm_source=feed&id="), (col("doc_id") % 5).cast("string"),
    lit("&utm_campaign=c"), (col("doc_id") % 2).cast("string"))

  private val rawUrlSql =
    "'HTTP://WWW.' || source || '.Example.COM:80/Docs/' || CAST(doc_id % 40 AS VARCHAR)" +
      " || (CASE WHEN doc_id % 3 = 0 THEN '/' ELSE '' END)" +
      " || '?utm_source=feed&id=' || CAST(doc_id % 5 AS VARCHAR)" +
      " || '&utm_campaign=c' || CAST(doc_id % 2 AS VARCHAR)"

  /** Canonical form of a URL column:
    *   - scheme and host lowercased (path stays case-sensitive),
    *   - leading `www.` stripped from the host,
    *   - default port `:80` dropped (any other port kept),
    *   - trailing slashes stripped from the path,
    *   - `utm_*` tracking params removed, remaining params kept in
    *     order, `?` dropped when nothing survives.
    * Pure codegen'd expression — regexp_extract/regexp_replace plus one
    * higher-order `filter` over the split query string; the patterns are
    * POSIX-basic on purpose so Java regex and RE2 agree.
    */
  def canonicalUrl(url: Column): Column = {
    val scheme = lower(regexp_extract(url, "^([A-Za-z]+)://", 1))
    val host0 = lower(regexp_extract(url, "://([^/:?]+)", 1))
    val host = regexp_replace(host0, "^www\\.", "")
    val port = regexp_extract(url, "://[^/:?]+:([0-9]+)", 1)
    val portPart = when(port === "" || port === "80", lit(""))
      .otherwise(concat(lit(":"), port))
    val path0 = regexp_extract(url, "://[^/?]+(:[0-9]+)?([^?]*)", 2)
    val path = regexp_replace(path0, "/+$", "")
    val query = regexp_extract(url, "\\?(.*)$", 1)
    val kept = filter(split(query, "&"),
      p => !(p.startsWith("utm_") || p === ""))
    val queryPart = when(size(kept) > 0,
      concat(lit("?"), array_join(kept, "&"))).otherwise(lit(""))
    concat(scheme, lit("://"), host, portPart, path, queryPart)
  }

  /** DuckDB twin of [[canonicalUrl]] over a SQL expression `u` — the
    * same extract/replace/filter sequence, spliced (never copied) into
    * the oracle.
    */
  def canonicalUrlSql(u: String): String = {
    val scheme = s"lower(regexp_extract($u, '^([A-Za-z]+)://', 1))"
    val host = s"regexp_replace(lower(regexp_extract($u, '://([^/:?]+)', 1)), '^www\\.', '')"
    val port = s"regexp_extract($u, '://[^/:?]+:([0-9]+)', 1)"
    val portPart = s"(CASE WHEN $port IN ('', '80') THEN '' ELSE ':' || $port END)"
    val path = s"regexp_replace(regexp_extract($u, '://[^/?]+(:[0-9]+)?([^?]*)', 2), '/+$$', '')"
    val query = s"regexp_extract($u, '\\?(.*)$$', 1)"
    val kept = s"list_filter(string_split($query, '&'), p -> NOT (starts_with(p, 'utm_') OR p = ''))"
    val queryPart = s"(CASE WHEN len($kept) > 0 THEN '?' || array_to_string($kept, '&') ELSE '' END)"
    s"$scheme || '://' || $host || $portPart || $path || $queryPart"
  }

  /** URL-level dedup: canonicalize every document's URL and collapse to
    * one row per canonical form with the crawl count and the keeper
    * (first-writer-wins min doc_id). Canonicalization is scan-side; the
    * only shuffle carries (canonical, count, min_id) partials — the
    * manifest-sized output is what content dedup then runs on.
    */
  def qUrlDedup(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir)
      .select(col("doc_id"), canonicalUrl(rawUrl).as("canonical_url"))
      .groupBy(col("canonical_url"))
      .agg(count(lit(1)).as("n_docs"), min(col("doc_id")).as("keeper"))
      .orderBy(col("canonical_url"))

  val qUrlDedupOracle: String =
    s"""WITH raw AS (SELECT doc_id, $rawUrlSql AS u FROM documents),
       |c AS (SELECT doc_id, ${canonicalUrlSql("u")} AS canonical_url FROM raw)
       |SELECT canonical_url, count(*) AS n_docs, min(doc_id) AS keeper
       |FROM c
       |GROUP BY canonical_url
       |ORDER BY canonical_url""".stripMargin

  /** Fetch slots emitted by [[qCrawlSchedule]]. */
  val CrawlSlots = 50

  /** Politeness-scheduled crawl frontier: the deduped URL queue
    * interleaved so consecutive fetch slots never hit the same host —
    * wave-based round-robin (slot = wave·n_hosts + host_rank), the
    * standard one-connection-per-host discipline every crawler needs
    * BEFORE rate limiting even starts. Shape: host extraction is
    * scan-side on the deduped frame; per-host ordering is a host-keyed
    * window (the frontier shuffles once on host); host ranks come from
    * a ≤|hosts| broadcast dimension. The slot key is pure integer
    * arithmetic, so the schedule is a total deterministic order any
    * fetcher fleet can partition by range. First [[CrawlSlots]] slots
    * surface for the audit.
    */
  def qCrawlSchedule(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val urls = Tables.documents(s, dir)
      .select(col("doc_id"), canonicalUrl(rawUrl).as("canonical_url"))
      .groupBy(col("canonical_url"))
      .agg(min(col("doc_id")).as("keeper"))
      .withColumn("host",
        regexp_extract(col("canonical_url"), "://([^/:?]+)", 1))
    val hosts = urls.groupBy(col("host")).agg(count(lit(1)).as("n_urls"))
    val hw = Window.orderBy(col("host"))
    val hostRank = hosts
      .withColumn("host_rank", row_number().over(hw) - 1)
    val nHosts = hostRank.agg(count(lit(1)).as("n_hosts"))
    val uw = Window.partitionBy(col("host"))
      .orderBy(col("keeper"), col("canonical_url"))
    urls
      .withColumn("wave", row_number().over(uw).cast("long") - 1)
      .join(broadcast(hostRank.select(col("host"), col("host_rank"))),
        Seq("host"))
      .crossJoin(broadcast(nHosts))
      .select((col("wave") * col("n_hosts") + col("host_rank"))
        .as("slot"), col("host"), col("canonical_url"))
      .orderBy(col("slot"))
      .limit(CrawlSlots)
  }

  val qCrawlScheduleOracle: String =
    s"""WITH raw AS (SELECT doc_id, $rawUrlSql AS u FROM documents),
       |c AS (SELECT doc_id, ${canonicalUrlSql("u")} AS canonical_url FROM raw),
       |urls AS (
       |  SELECT canonical_url, min(doc_id) AS keeper,
       |    regexp_extract(canonical_url, '://([^/:?]+)', 1) AS host
       |  FROM c GROUP BY canonical_url
       |),
       |hr AS (
       |  SELECT host, row_number() OVER (ORDER BY host) - 1 AS host_rank
       |  FROM (SELECT DISTINCT host FROM urls)
       |),
       |nh AS (SELECT count(*) AS n_hosts FROM hr),
       |sched AS (
       |  SELECT CAST((row_number() OVER (PARTITION BY u.host
       |      ORDER BY u.keeper, u.canonical_url) - 1) * n_hosts
       |      + host_rank AS BIGINT) AS slot,
       |    u.host, u.canonical_url
       |  FROM urls u JOIN hr ON u.host = hr.host, nh
       |)
       |SELECT slot, host, canonical_url
       |FROM sched
       |ORDER BY slot
       |LIMIT $CrawlSlots""".stripMargin
}
