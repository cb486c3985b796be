package graft.dev

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.TimestampNTZType

/** Deterministic star-schema generator for scale factors the driver
  * didn't ship — the r7 verdict's #1 ask is running the correctness
  * gate at sf1 (the first scale where fact-cardinality group counts hit
  * ~10⁶ and stress every quantized-sum path). The driver's testdata
  * stops at sf0.1, so this mirrors its schemas and marginal
  * distributions (profiled from /root/testdata/sf0.1: uniform prices,
  * Poisson(4) lines/order, exp(50) event values, 31-token doc vocab
  * with exact-dup and "dup"-marked near-dup injections, unit-normal
  * 64-dim embeddings) at any multiple of sf0.1. The GATE doesn't need
  * the driver's exact rows — Spark and DuckDB read the SAME files — it
  * needs the same shapes at 10× the cardinality.
  *
  * Rows are pure functions of (table-salt, id) via xxhash64, so any
  * scale regenerates bit-identically. Each table lands as a single
  * `<out>/<name>.parquet` FILE (the testdata layout dev/check.py and
  * the Tables loaders expect), timestamps as TIMESTAMP_NTZ micros like
  * the driver's parquet since r4.
  *
  * Usage: sbt "Test/runMain graft.dev.GenSf <outDir> <mult>"
  *        (mult = 10 → sf1: 6M lineitem, 1.5M orders, 1M events)
  */
object GenSf {
  /** Uniform in [0,1) from (salt, cols...): top 53 hash bits. */
  private def u(salt: String, cs: org.apache.spark.sql.Column*) =
    shiftrightunsigned(xxhash64((lit(salt) +: cs): _*), 11)
      .cast("double") / lit((1L << 53).toDouble)

  /** Uniform integer in {0..n-1}. */
  private def ui(salt: String, n: Int, cs: org.apache.spark.sql.Column*) =
    pmod(xxhash64((lit(salt) +: cs): _*), lit(n.toLong))

  private def pick(salt: String, vals: Seq[String], c: org.apache.spark.sql.Column) =
    element_at(array(vals.map(lit): _*), (ui(salt, vals.size, c) + 1).cast("int"))

  def main(args: Array[String]): Unit = {
    val out = args(0)
    val mult = args(1).toInt // × sf0.1
    val spark = graft.GraftSession.local()
    new java.io.File(out).mkdirs()

    def writeOne(df: DataFrame, name: String): Unit = {
      val ntz = df.schema.fields.filter(_.dataType ==
          org.apache.spark.sql.types.TimestampType)
        .foldLeft(df)((d, f) => d.withColumn(f.name, col(f.name).cast(TimestampNTZType)))
      val tmp = s"$out/.tmp_$name"
      ntz.coalesce(1).write.mode("overwrite").parquet(tmp)
      val part = new java.io.File(tmp).listFiles()
        .find(_.getName.endsWith(".parquet")).get
      val dst = java.nio.file.Paths.get(s"$out/$name.parquet")
      java.nio.file.Files.deleteIfExists(dst)
      java.nio.file.Files.move(part.toPath, dst)
      new java.io.File(tmp).listFiles().foreach(_.delete())
      new java.io.File(tmp).delete()
      println(s"[gensf] wrote $name")
    }

    // region + nation: fixed dimensions, identical at every sf
    val regions = Seq((0, "AFRICA"), (1, "AMERICA"), (2, "ASIA"),
      (3, "EUROPE"), (4, "MIDDLE EAST"))
    writeOne(spark.createDataFrame(regions).toDF("r_regionkey", "r_name"), "region")
    writeOne(spark.createDataFrame((0 until 25).map(i => (i, s"NATION_$i", i % 5)))
      .toDF("n_nationkey", "n_name", "n_regionkey"), "nation")

    val nCust = 15000L * mult
    val nSupp = 1000L * mult
    val nPart = 20000L * mult
    val nOrd = 150000L * mult
    val nEvt = 100000L * mult
    val nDoc = 5000L * mult
    val nVec = 2000L * mult

    writeOne(spark.range(nCust).select(
      col("id").as("c_custkey"),
      format_string("Customer#%09d", col("id")).as("c_name"),
      ui("cnat", 25, col("id")).cast("int").as("c_nationkey"),
      round(u("cbal", col("id")) * 11000 - 1000, 2).as("c_acctbal"),
      pick("cseg", Seq("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD",
        "MACHINERY"), col("id")).as("c_mktsegment")), "customer")

    writeOne(spark.range(nSupp).select(
      col("id").as("s_suppkey"),
      format_string("Supplier#%09d", col("id")).as("s_name"),
      ui("snat", 25, col("id")).cast("int").as("s_nationkey"),
      round(u("sbal", col("id")) * 11000 - 1000, 2).as("s_acctbal")), "supplier")

    writeOne(spark.range(nPart).select(
      col("id").as("p_partkey"),
      concat_ws(" ",
        pick("padj", Seq("blue", "cold", "hot", "large", "new", "old", "red",
          "small"), col("id")),
        pick("pnoun", Seq("anvil", "bolt", "gear", "gizmo", "plate", "ring",
          "rod", "widget"), col("id"))).as("p_name"),
      concat(lit("Brand#"), (ui("pbrand", 25, col("id")) + 1)).as("p_brand"),
      pick("ptype", Seq("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL",
        "STANDARD"), col("id")).as("p_type"),
      (ui("psize", 50, col("id")) + 1).cast("int").as("p_size"),
      (lit(900.0) + pmod(col("id"), lit(1000L)).cast("double") / 10)
        .as("p_retailprice")), "part")

    val orders = spark.range(nOrd).select(
      col("id").as("o_orderkey"),
      ui("ocust", nCust.toInt, col("id")).as("o_custkey"),
      pick("ostat", Seq("F", "O", "P"), col("id")).as("o_orderstatus"),
      round(u("oprice", col("id")) * 498994 + 1001, 2).as("o_totalprice"),
      // 1995-01-01 .. 2001-08-01, midnight-only (2405 distinct days)
      to_timestamp(date_add(lit("1995-01-01").cast("date"),
        ui("odate", 2405, col("id")).cast("int"))).as("o_orderdate"),
      pick("oprio", Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED",
        "5-LOW"), col("id")).as("o_orderpriority"))
    writeOne(orders, "orders")

    // lines per order ~ Poisson(4) (inverse CDF; ~1.8% of orders get
    // none — matches the sf0.1 147236/150000 coverage), truncated at 12
    val pois = {
      val cdf = Seq(0.0183, 0.0916, 0.2381, 0.4335, 0.6288, 0.7851,
        0.8893, 0.9489, 0.9786, 0.9919, 0.9972, 0.9991)
      val uu = u("nlines", col("o_orderkey"))
      cdf.zipWithIndex.foldRight(lit(12)) { case ((p, k), rest) =>
        when(uu < p, lit(k)).otherwise(rest)
      }
    }
    // filter n=0 BEFORE sequence: sequence(1, 0) is a DESCENDING [1,0]
    // in Spark, which would hand empty orders two phantom lines
    val li = orders.withColumn("n", pois).filter(col("n") > 0)
      .select(col("o_orderkey"), col("o_orderdate"),
        explode(sequence(lit(1), col("n"))).as("ln"))
      .select(
        col("o_orderkey").as("l_orderkey"),
        ui("lpart", nPart.toInt, col("o_orderkey"), col("ln")).as("l_partkey"),
        ui("lsupp", nSupp.toInt, col("o_orderkey"), col("ln")).as("l_suppkey"),
        (ui("lnum", 7, col("o_orderkey"), col("ln")) + 1).cast("int")
          .as("l_linenumber"),
        (ui("lqty", 50, col("o_orderkey"), col("ln")) + 1).cast("double")
          .as("l_quantity"),
        round(u("lext", col("o_orderkey"), col("ln")) * 104100 + 900, 2)
          .as("l_extendedprice"),
        (ui("ldisc", 11, col("o_orderkey"), col("ln")).cast("double") / 100)
          .as("l_discount"),
        (ui("ltax", 9, col("o_orderkey"), col("ln")).cast("double") / 100)
          .as("l_tax"),
        pick("lret", Seq("A", "N", "R"), xxhash64(col("o_orderkey"), col("ln")))
          .as("l_returnflag"),
        pick("lst", Seq("F", "O"), xxhash64(col("o_orderkey"), col("ln") + 7))
          .as("l_linestatus"),
        to_timestamp(date_add(col("o_orderdate").cast("date"),
          (ui("lship", 95, col("o_orderkey"), col("ln")) + 1).cast("int")))
          .as("l_shipdate"))
    writeOne(li, "lineitem")

    val nUser = 1500L * mult
    writeOne(spark.range(nEvt).select(
      col("id").as("event_id"),
      // uniform µs over 2024-01-01 .. 2024-01-31
      timestamp_micros((lit(1704067200000000L) +
        (u("ets", col("id")) * lit(30.0 * 86400 * 1e6)).cast("long"))).as("ts"),
      ui("euser", nUser.toInt, col("id")).as("user_id"),
      pick("etype", Seq("click", "error", "purchase", "signup", "view"),
        col("id")).as("event_type"),
      // exp(mean 50), like the driver's (median ≈ 34.7, p99 ≈ 230)
      round(-log(lit(1.0) - u("eval", col("id"))) * 50, 2).as("value"),
      format_string("{\"k\": %d}", ui("ek", 100, col("id"))).as("props")),
      "events")

    // documents: 10..100 words over the 30-token vocab; 0.2% exact dups
    // of the previous doc; 1% near-dups (prev doc with every 10th word
    // replaced by the "dup" marker — the 31st token observed at sf0.1)
    val vocab = Seq("a", "agg", "batch", "big", "column", "customer", "data",
      "fast", "filter", "group", "hash", "join", "key", "line", "merge",
      "order", "part", "query", "row", "scan", "slow", "small", "sort",
      "spark", "stream", "table", "the", "value", "vector", "window")
    val vArr = array(vocab.map(lit): _*)
    val docs0 = spark.range(nDoc).select(col("id").as("doc_id"))
      .withColumn("kind", when(col("doc_id") > 0 &&
          ui("ddup", 500, col("doc_id")) === 0, lit("exact"))
        .when(col("doc_id") > 0 && ui("dnear", 100, col("doc_id")) === 0,
          lit("near"))
        .otherwise(lit("base")))
      .withColumn("cs", when(col("kind") === "base", col("doc_id"))
        .otherwise(col("doc_id") - 1))
    val words = transform(
      sequence(lit(1), (ui("dnw", 91, col("cs")) + 10).cast("int")),
      i => element_at(vArr,
        (pmod(xxhash64(lit("dword"), col("cs"), i), lit(30L)) + 1).cast("int")))
    val docs = docs0
      .withColumn("ws", words)
      .withColumn("ws2", when(col("kind") === "near",
          zip_with(col("ws"), sequence(lit(1), size(col("ws"))),
            (w, i) => when(pmod(i, lit(10)) === 0, lit("dup")).otherwise(w)))
        .otherwise(col("ws")))
      .select(col("doc_id"),
        concat_ws(" ", col("ws2")).as("text"),
        when(u("dlang", col("doc_id")) < 0.41, "en")
          .when(u("dlang", col("doc_id")) < 0.5575, "de")
          .when(u("dlang", col("doc_id")) < 0.705, "es")
          .when(u("dlang", col("doc_id")) < 0.8525, "fr")
          .otherwise("zh").as("lang"),
        concat(lit("src"), ui("dsrc", 20, col("doc_id"))).as("source"))
      .withColumn("n_chars", length(col("text")).cast("long"))
    writeOne(docs, "documents")

    // embeddings: 64 i.i.d. Box–Muller normals per row, L2-normalized
    // (the sf0.1 vectors are exactly unit-norm with component σ = 1/8),
    // float32, label uniform 0..9 and uncorrelated with the vector
    val gauss = transform(sequence(lit(0), lit(63)), i =>
      sqrt(-lit(2.0) * log(greatest(u("vu1", col("vec_id"), i), lit(1e-12))))
        * cos(lit(2.0 * math.Pi) * u("vu2", col("vec_id"), i)))
    writeOne(spark.range(nVec).select(col("id").as("vec_id"))
      .withColumn("g", gauss)
      .withColumn("nrm", sqrt(aggregate(col("g"), lit(0.0),
        (acc, x) => acc + x * x)))
      .select(col("vec_id"),
        transform(col("g"), x => (x / col("nrm")).cast("float"))
          .as("embedding"),
        ui("vlab", 10, col("vec_id")).cast("int").as("label")), "embeddings")

    spark.stop()
  }
}
