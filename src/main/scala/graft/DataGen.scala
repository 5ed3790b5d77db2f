package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Deterministic ORGANIC scale-factor data generator — the validation
  * twin of [[ScaleBench.replicate]]: where the replicate construction
  * deliberately preserves per-key distributions (identical derived
  * graph, constant similarity density), this generator grows every
  * table the way the driver's own testdata family grows between
  * sf0.001 → 0.1 (row counts ×10 per step, key RANGES growing with
  * the row counts, fixed dimension domains), so shingle df, LSH
  * bucket occupancy, derived-graph density and session counts all
  * scale the way a real corpus would. Schemas, value domains and
  * marginal distributions mirror /root/testdata/sf0.1 (measured via
  * the DuckDB profile in round 8); all randomness is xxhash64 on the
  * row id — re-running the generator is bit-stable.
  *
  * Env: SPARK_GRAFT_DATAGEN_SF (default 1.0, the "sf1" point),
  * SPARK_GRAFT_DATAGEN_OUT (default target/organic_sf1),
  * SPARK_GRAFT_CPUS.
  */
object DataGen {

  /** uniform [0,1) from the row id + salt (53-bit mantissa cut). */
  private def u(salt: Int, cols: Column*): Column =
    (xxhash64((lit(salt) +: cols): _*)
      .bitwiseAND(lit((1L << 53) - 1)) / lit((1L << 53).toDouble))

  /** uniform long in [0, n) from the row id + salt. */
  private def hmod(salt: Int, n: Long, cols: Column*): Column =
    pmod(xxhash64((lit(salt) +: cols): _*), lit(n))

  def main(args: Array[String]): Unit = {
    val sf = sys.env.getOrElse("SPARK_GRAFT_DATAGEN_SF", "1.0").toDouble
    val out = sys.env.getOrElse("SPARK_GRAFT_DATAGEN_OUT", "target/organic_sf1")
    val spark = GraftSession.local(sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt)
    generate(spark, out, sf)
    println(s"""{"generated":"$out","sf":$sf}""")
    spark.stop()
  }

  def generate(spark: SparkSession, out: String, sf: Double): Unit = {
    // row counts at sf=1 (the driver family: ×10 per sf step)
    def n(base: Long): Long = math.max(1L, (base * sf).toLong)
    val nCust = n(150000L); val nSupp = n(10000L); val nPart = n(200000L)
    val nOrd = n(1500000L); val nLine = n(6000000L)
    val nEvt = n(1000000L); val nUser = n(15000L)
    val nDoc = n(50000L); val nVec = n(20000L)

    def write(df: DataFrame, name: String, parts: Int = 16): Unit =
      df.repartition(parts).write.mode("overwrite")
        .parquet(s"$out/$name.parquet")

    val id = col("id")

    // region / nation: fixed dimension tables, copied domains
    import spark.implicits._
    write(Seq((0, "AFRICA"), (1, "AMERICA"), (2, "ASIA"), (3, "EUROPE"),
      (4, "MIDDLE EAST")).toDF("r_regionkey", "r_name")
      .select(col("r_regionkey").cast("int"), col("r_name")), "region", 1)
    write(spark.range(25).select(
      id.cast("int").as("n_nationkey"),
      concat(lit("NATION_"), id.cast("string")).as("n_name"),
      (id % 5).cast("int").as("n_regionkey")), "nation", 1)

    val segs = array(Seq("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD",
      "MACHINERY").map(lit): _*)
    write(spark.range(nCust).select(
      id.as("c_custkey"),
      format_string("Customer#%09d", id).as("c_name"),
      hmod(1, 25, id).cast("int").as("c_nationkey"),
      round(lit(-1000.0) + u(2, id) * 11000.0, 2).as("c_acctbal"),
      element_at(segs, (hmod(3, 5, id) + 1).cast("int")).as("c_mktsegment")),
      "customer", 4)

    write(spark.range(nSupp).select(
      id.as("s_suppkey"),
      format_string("Supplier#%09d", id).as("s_name"),
      hmod(4, 25, id).cast("int").as("s_nationkey"),
      round(lit(-1000.0) + u(5, id) * 11000.0, 2).as("s_acctbal")),
      "supplier", 2)

    val adjs = array(Seq("large", "hot", "blue", "old", "cold", "small",
      "new", "red").map(lit): _*)
    val nouns = array(Seq("ring", "bolt", "plate", "gear", "wheel", "pin",
      "cap", "rod").map(lit): _*)
    val types = array(Seq("ECONOMY", "LARGE", "STANDARD", "MEDIUM", "PROMO",
      "SMALL").map(lit): _*)
    write(spark.range(nPart).select(
      id.as("p_partkey"),
      concat(element_at(adjs, (hmod(6, 8, id) + 1).cast("int")), lit(" "),
        element_at(nouns, (hmod(7, 8, id) + 1).cast("int"))).as("p_name"),
      concat(lit("Brand#"), (hmod(8, 25, id) + 1).cast("string")).as("p_brand"),
      element_at(types, (hmod(9, 6, id) + 1).cast("int")).as("p_type"),
      (hmod(10, 50, id) + 1).cast("int").as("p_size"),
      round(lit(900.0) + (id % 1000) / lit(10.0), 2).as("p_retailprice")),
      "part", 4)

    // 1995-01-01 UTC = 788918400; day granularity over 2405 days
    val statuses = array(Seq("O", "P", "F").map(lit): _*)
    val prios = array(Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED",
      "5-LOW").map(lit): _*)
    write(spark.range(nOrd).select(
      id.as("o_orderkey"),
      hmod(11, nCust, id).as("o_custkey"),
      element_at(statuses, (hmod(12, 3, id) + 1).cast("int")).as("o_orderstatus"),
      round(lit(1000.0) + u(13, id) * 499000.0, 2).as("o_totalprice"),
      timestamp_seconds(lit(788918400L) + hmod(14, 2405, id) * 86400L)
        .as("o_orderdate"),
      element_at(prios, (hmod(15, 5, id) + 1).cast("int")).as("o_orderpriority")),
      "orders", 8)

    write(spark.range(nLine).select(
      hmod(16, nOrd, id).as("l_orderkey"),
      hmod(17, nPart, id).as("l_partkey"),
      hmod(18, nSupp, id).as("l_suppkey"),
      (hmod(19, 7, id) + 1).cast("int").as("l_linenumber"),
      (hmod(20, 50, id) + 1).cast("double").as("l_quantity"),
      round(lit(900.0) + u(21, id) * 104100.0, 2).as("l_extendedprice"),
      (hmod(22, 11, id) / lit(100.0)).as("l_discount"),
      (hmod(23, 9, id) / lit(100.0)).as("l_tax"),
      element_at(array(lit("A"), lit("N"), lit("R")),
        (hmod(24, 3, id) + 1).cast("int")).as("l_returnflag"),
      element_at(array(lit("O"), lit("F")),
        (hmod(25, 2, id) + 1).cast("int")).as("l_linestatus"),
      timestamp_seconds(lit(789004800L) + hmod(26, 2499, id) * 86400L)
        .as("l_shipdate")),
      "lineitem", 16)

    // events: Jan 2024, 5 types, exp(50) value, {"k": n} props
    val etypes = array(Seq("click", "view", "purchase", "signup", "error")
      .map(lit): _*)
    write(spark.range(nEvt).select(
      id.as("event_id"),
      timestamp_micros(lit(1704067200000000L) +
        (u(27, id) * 2591999e6).cast("long")).as("ts"),
      hmod(28, nUser, id).as("user_id"),
      element_at(etypes, (hmod(29, 5, id) + 1).cast("int")).as("event_type"),
      round(lit(-50.0) * log(lit(1.0) - u(30, id)), 2).as("value"),
      format_string("{\"k\": %d}", hmod(31, 100, id)).as("props")),
      "events", 8)

    // documents: 30-token domain vocabulary at the sf<=0.1 mirror
    // points (bit-identical to the r8 generator there), growing as
    // V = 30·(sf/0.1)^¼ beyond them — Heaps' law: a corpus 10× the
    // size writes with a LARGER vocabulary, so shingle df densifies
    // organically (m = Σdf²/Σdf rises ~11 → ~45 from sf0.1 to sf1)
    // WITHOUT collapsing into an every-pair-shares-a-shingle corpus.
    // The first cut of sf1 froze V at 30: 50k docs over 27k possible
    // shingles made the plain shared-shingle join literally all-pairs
    // (1.25B candidates — a generator artifact, not a scale lesson;
    // real vocabularies grow). Exponent ¼ < ⅓ keeps density RISING
    // with sf (V³ grows slower than n), so the df-skew regime still
    // crosses the D4b prefix cutover by sf1. Length 10..100, ~2%
    // near-dups (previous doc + a rare marker token) and ~0.2% exact
    // dups, mirroring the sf0.1 profile.
    val baseToks = Seq("spark", "window", "merge", "table", "column",
      "vector", "stream", "value", "data", "small", "join", "filter", "big",
      "group", "hash", "customer", "sort", "order", "slow", "line", "part",
      "fast", "the", "row", "agg", "key", "query", "a", "scan", "batch")
    val vSize = math.max(baseToks.size,
      math.ceil(baseToks.size * math.pow(sf / 0.1, 0.25)).toInt)
    val vocabToks = baseToks ++
      (baseToks.size until vSize).map(i => s"tok$i")
    val vocab = array(vocabToks.map(lit): _*)
    val docs0 = spark.range(nDoc).select(
      id.as("doc_id"),
      // exact dup copies a plain doc 499 back; near-dup seeds from the
      // previous doc and appends the rare marker
      when(id % 500 === 499, id - 499)
        .when(id % 50 === 49, id - 1).otherwise(id).as("seed"),
      (id % 50 === 49 && id % 500 =!= 499).as("near"))
    val baseText = array_join(
      transform(sequence(lit(1), (hmod(32, 91, col("seed")) + 10).cast("int")),
        i => element_at(vocab,
          (pmod(xxhash64(lit(33), col("seed"), i), lit(vSize)) + 1).cast("int"))),
      " ")
    val docs = docs0.select(
      col("doc_id"),
      when(col("near"), concat(baseText, lit(" dup"))).otherwise(baseText)
        .as("text"),
      when(u(34, col("doc_id")) < 0.4, "en")
        .when(u(34, col("doc_id")) < 0.55, "fr")
        .when(u(34, col("doc_id")) < 0.7, "de")
        .when(u(34, col("doc_id")) < 0.85, "es").otherwise("zh").as("lang"),
      concat(lit("src"), hmod(35, 20, col("doc_id")).cast("string"))
        .as("source"))
      .withColumn("n_chars", length(col("text")).cast("long"))
    write(docs, "documents", 4)

    // embeddings: unit-norm 64-dim, weak label-centroid bias (the
    // sf0.1 profile: within/across cosine 0.004 vs 0.0002, no planted
    // near-dups, max pairwise cosine ~0.6)
    val lab = hmod(36, 10, id).cast("int")
    val raw = transform(sequence(lit(0), lit(63)), j =>
      (xxhash64(lit(37), col("vec_id"), j).bitwiseAND(lit((1L << 53) - 1)) /
        lit((1L << 53).toDouble)) * 2.0 - 1.0 +
        lit(0.1) * ((xxhash64(lit(38), col("label"), j)
          .bitwiseAND(lit((1L << 53) - 1)) / lit((1L << 53).toDouble))
          * 2.0 - 1.0))
    write(spark.range(nVec)
      .select(id.as("vec_id"), lab.as("label"))
      .withColumn("raw", raw)
      .withColumn("nrm", sqrt(aggregate(col("raw"), lit(0.0),
        (acc, x) => acc + x * x)))
      .select(col("vec_id"),
        transform(col("raw"), x => (x / col("nrm")).cast("float"))
          .as("embedding"),
        col("label")),
      "embeddings", 2)
  }
}
