package perfbench

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{TimestampNTZType, TimestampType}

/** Seeded generators for the benchmark's own inputs. The library only ever
  * sees the files written here; everything the output checks compare
  * against is derived from the generator's own bookkeeping, never from a
  * library call.
  */
object Inputs {

  /** Spark-side seeded hashing: every row is a pure function of
    * (seed, salt, id), so one seed always regenerates the same files.
    */
  final class Hash(seed: Long) {
    def h(salt: String, cs: Column*): Column = xxhash64((lit(seed) +: lit(salt) +: cs): _*)
    /** Uniform in [0, 1). */
    def u(salt: String, cs: Column*): Column =
      shiftrightunsigned(h(salt, cs: _*), 11).cast("double") / lit((1L << 53).toDouble)
    /** Uniform integer in [0, n). */
    def ui(salt: String, n: Long, cs: Column*): Column = pmod(h(salt, cs: _*), lit(n))
    def pick(salt: String, vals: Seq[String], c: Column): Column =
      element_at(array(vals.map(lit): _*), (ui(salt, vals.size.toLong, c) + 1).cast("int"))
  }

  /** Writes `df` as `<dir>/<name>.parquet` (a directory with one part
    * file), timestamps as TIMESTAMP_NTZ like the engine's test tables.
    */
  def writeTable(df: DataFrame, dir: String, name: String, files: Int = 1): Unit = {
    val ntz = df.schema.fields.filter(_.dataType == TimestampType).foldLeft(df) {
      (d, f) => d.withColumn(f.name, col(f.name).cast(TimestampNTZType))
    }
    ntz.coalesce(files).write.mode("overwrite").parquet(s"$dir/$name.parquet")
  }

  // ----------------------------------------------------------------- corpus

  private val Vocab = Seq("a", "agg", "batch", "big", "column", "customer", "data",
    "fast", "filter", "group", "hash", "join", "key", "line", "merge",
    "order", "part", "query", "row", "scan", "slow", "small", "sort",
    "spark", "stream", "table", "the", "value", "vector", "window")

  /** The documents table in the engine's test-corpus shape: 10..100 words
    * over a 30-word vocabulary, 0.2% exact copies and 1% near copies
    * (every 10th word replaced by "dup") of the previous document, five
    * languages, twenty sources.
    */
  def documents(spark: SparkSession, seed: Long, n: Long): DataFrame = {
    val g = new Hash(seed)
    val base = spark.range(n).select(col("id").as("doc_id"))
      .withColumn("kind", when(col("doc_id") > 0 && g.ui("exact", 500, col("doc_id")) === 0, "exact")
        .when(col("doc_id") > 0 && g.ui("near", 100, col("doc_id")) === 0, "near")
        .otherwise("base"))
      .withColumn("src_id", when(col("kind") === "base", col("doc_id")).otherwise(col("doc_id") - 1))
    val vocab = array(Vocab.map(lit): _*)
    val words = transform(sequence(lit(1), (g.ui("len", 91, col("src_id")) + 10).cast("int")),
      i => element_at(vocab, (g.ui("word", Vocab.size.toLong, col("src_id"), i) + 1).cast("int")))
    val marked = when(col("kind") === "near",
      transform(col("ws"), (w, i) => when(pmod(i + 1, lit(10)) === 0, lit("dup")).otherwise(w)))
      .otherwise(col("ws"))
    val lang = g.u("lang", col("doc_id"))
    base.withColumn("ws", words)
      .select(col("doc_id"),
        concat_ws(" ", marked).as("text"),
        when(lang < 0.41, "en").when(lang < 0.56, "de").when(lang < 0.71, "es")
          .when(lang < 0.85, "fr").otherwise("zh").as("lang"),
        concat(lit("src"), g.ui("src", 20, col("doc_id"))).as("source"))
      .withColumn("n_chars", length(col("text")).cast("long"))
  }

  // ------------------------------------------------------------ star schema

  /** Those of the engine's ten test tables named in `only`, at `mult` ×
    * sf0.1 cardinalities (region, nation, customer, supplier, part,
    * orders, lineitem with ~Poisson(4) lines per order, events,
    * documents, embeddings), each written as `<dir>/<table>.parquet`.
    */
  def starSchema(spark: SparkSession, seed: Long, mult: Double, dir: String,
      only: Set[String]): Unit = {
    val g = new Hash(seed)
    def n(k: Long) = math.max(1L, math.round(k * mult))
    val (nCust, nSupp, nPart, nOrd, nEvt, nDoc, nVec) =
      (n(15000), n(1000), n(20000), n(150000), n(100000), n(5000), n(2000))
    val id = col("id")
    def writeTable(df: => DataFrame, dir: String, name: String): Unit =
      if (only(name)) Inputs.writeTable(df, dir, name)
    import spark.implicits._
    writeTable(Seq((0, "AFRICA"), (1, "AMERICA"), (2, "ASIA"), (3, "EUROPE"), (4, "MIDDLE EAST"))
      .toDF("r_regionkey", "r_name"), dir, "region")
    writeTable((0 until 25).map(i => (i, s"NATION_$i", i % 5))
      .toDF("n_nationkey", "n_name", "n_regionkey"), dir, "nation")
    writeTable(spark.range(nCust).select(id.as("c_custkey"),
      format_string("Customer#%09d", id).as("c_name"),
      g.ui("cnat", 25, id).cast("int").as("c_nationkey"),
      round(g.u("cbal", id) * 11000 - 1000, 2).as("c_acctbal"),
      g.pick("cseg", Seq("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"), id)
        .as("c_mktsegment")), dir, "customer")
    writeTable(spark.range(nSupp).select(id.as("s_suppkey"),
      format_string("Supplier#%09d", id).as("s_name"),
      g.ui("snat", 25, id).cast("int").as("s_nationkey"),
      round(g.u("sbal", id) * 11000 - 1000, 2).as("s_acctbal")), dir, "supplier")
    writeTable(spark.range(nPart).select(id.as("p_partkey"),
      concat_ws(" ", g.pick("padj", Seq("blue", "cold", "hot", "large", "new", "old"), id),
        g.pick("pnoun", Seq("anvil", "bolt", "gear", "plate", "ring", "widget"), id)).as("p_name"),
      concat(lit("Brand#"), g.ui("pbrand", 25, id) + 1).as("p_brand"),
      g.pick("ptype", Seq("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"), id)
        .as("p_type"),
      (g.ui("psize", 50, id) + 1).cast("int").as("p_size"),
      (lit(900.0) + pmod(id, lit(1000L)).cast("double") / 10).as("p_retailprice")), dir, "part")
    val orders = spark.range(nOrd).select(id.as("o_orderkey"),
      g.ui("ocust", nCust, id).as("o_custkey"),
      g.pick("ostat", Seq("F", "O", "P"), id).as("o_orderstatus"),
      round(g.u("oprice", id) * 498994 + 1001, 2).as("o_totalprice"),
      to_timestamp(date_add(lit("1995-01-01").cast("date"), g.ui("odate", 2405, id).cast("int")))
        .as("o_orderdate"),
      g.pick("oprio", Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"), id)
        .as("o_orderpriority"))
    writeTable(orders, dir, "orders")
    // lines per order: Poisson(4) by inverse CDF, capped at 12; orders
    // drawing 0 lines have none
    val cdf = Seq(0.0183, 0.0916, 0.2381, 0.4335, 0.6288, 0.7851, 0.8893, 0.9489,
      0.9786, 0.9919, 0.9972, 0.9991)
    val draw = g.u("nlines", col("o_orderkey"))
    val nLines = cdf.zipWithIndex.foldRight(lit(12)) { case ((p, k), rest) =>
      when(draw < p, lit(k)).otherwise(rest)
    }
    val ok = col("o_orderkey")
    val ln = col("ln")
    writeTable(orders.withColumn("n", nLines).filter(col("n") > 0)
      .select(ok, col("o_orderdate"), explode(sequence(lit(1), col("n"))).as("ln"))
      .select(ok.as("l_orderkey"),
        g.ui("lpart", nPart, ok, ln).as("l_partkey"),
        g.ui("lsupp", nSupp, ok, ln).as("l_suppkey"),
        (g.ui("lnum", 7, ok, ln) + 1).cast("int").as("l_linenumber"),
        (g.ui("lqty", 50, ok, ln) + 1).cast("double").as("l_quantity"),
        round(g.u("lext", ok, ln) * 104100 + 900, 2).as("l_extendedprice"),
        (g.ui("ldisc", 11, ok, ln).cast("double") / 100).as("l_discount"),
        (g.ui("ltax", 9, ok, ln).cast("double") / 100).as("l_tax"),
        g.pick("lret", Seq("A", "N", "R"), xxhash64(ok, ln)).as("l_returnflag"),
        g.pick("lst", Seq("F", "O"), xxhash64(ok, ln + 7)).as("l_linestatus"),
        to_timestamp(date_add(col("o_orderdate").cast("date"),
          (g.ui("lship", 95, ok, ln) + 1).cast("int"))).as("l_shipdate")),
      dir, "lineitem")
    writeTable(spark.range(nEvt).select(id.as("event_id"),
      timestamp_micros(lit(1704067200000000L) +
        (g.u("ets", id) * lit(30.0 * 86400 * 1e6)).cast("long")).as("ts"),
      g.ui("euser", n(1500), id).as("user_id"),
      g.pick("etype", Seq("click", "error", "purchase", "signup", "view"), id).as("event_type"),
      round(-log(lit(1.0) - g.u("eval", id)) * 50, 2).as("value"),
      format_string("{\"k\": %d}", g.ui("ek", 100, id)).as("props")), dir, "events")
    writeTable(documents(spark, seed, nDoc), dir, "documents")
    // unit-norm 64-dim float vectors from Box–Muller normals
    val gauss = transform(sequence(lit(0), lit(63)), i =>
      sqrt(lit(-2.0) * log(greatest(g.u("vu1", col("vec_id"), i), lit(1e-12)))) *
        cos(lit(2 * math.Pi) * g.u("vu2", col("vec_id"), i)))
    writeTable(spark.range(nVec).select(id.as("vec_id")).withColumn("g", gauss)
      .withColumn("nrm", sqrt(aggregate(col("g"), lit(0.0), (acc, x) => acc + x * x)))
      .select(col("vec_id"),
        transform(col("g"), x => (x / col("nrm")).cast("float")).as("embedding"),
        g.ui("vlab", 10, col("vec_id")).cast("int").as("label")), dir, "embeddings")
  }
}
