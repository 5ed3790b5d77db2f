package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.functions.KeyedFrameMemo

/** Readers for the driver-generated TPC-H-ish parquet tables.
  *
  * At 100 TB these would be partitioned/bucketed parquet on object
  * storage; `spark.read.parquet` already yields a partition-prunable,
  * filter-pushdown-capable scan, so every downstream operator keeps
  * declarative access (no RDDs).
  */
object Tables {
  def table(spark: SparkSession, dir: String, name: String): DataFrame =
    spark.read.parquet(s"$dir/$name.parquet")

  def region(s: SparkSession, d: String): DataFrame    = table(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame    = table(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame  = table(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame  = table(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame      = table(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame    = table(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame  = table(s, d, "lineitem")
  def events(s: SparkSession, d: String): DataFrame    = table(s, d, "events")
  def documents(s: SparkSession, d: String): DataFrame = table(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = table(s, d, "embeddings")

  /** IDENTITY-STABLE documents frame: one DataFrame object per
    * (session, dir), so the identity-keyed derived-artifact memos
    * (TextOps.shinglesShared / shingleDfShared, Dedup.minhashSigsShared)
    * hit across every board query instead of once per call. The frame
    * itself is just the parquet scan (it measures 0 bytes in the
    * [[KeyedFrameMemo]] ledger; the heavy shared artifacts are
    * checkpointed behind their own memos). */
  private val docsMemo = new KeyedFrameMemo[(SparkSession, String)]
  def documentsShared(s: SparkSession, d: String): DataFrame =
    docsMemo.getOrBuild((s, d))(table(s, d, "documents"))

  /** IDENTITY-STABLE embeddings frame — the [[documentsShared]]
    * discipline for the vector family, so Similarity's identity-keyed
    * memos (the shared rerank, the LSH buckets) hit across queries
    * instead of re-scanning the corpus per query. */
  private val embMemo = new KeyedFrameMemo[(SparkSession, String)]
  def embeddingsShared(s: SparkSession, d: String): DataFrame =
    embMemo.getOrBuild((s, d))(table(s, d, "embeddings"))
}

/** The one session factory: every main, spec and embedding caller
  * builds its session here, so all of them run one policy.
  *
  * Generated code is compiled once per session. A session serves many
  * queries (an analyst's engine, a batch board, the oracle gate), and
  * each query's whole-stage classes come back on its next call:
  *   - `spark.sql.codegen.cache.maxEntries` is [[CodegenCacheEntries]].
  *     Spark's default of 100 is below one pass of the benchmark board
  *     (304 distinct classes on the sf0.01 `DataGen` tables) and one
  *     analyst session (189 for the 11 CLI query types over a
  *     24-binary store); its LRU eviction under a repeating cycle
  *     recompiled every class on every pass. Each cached class holds
  *     ~28 KB of heap, so the cap stays bounded (~14 MB when full)
  *     instead of growing with every plan a long session ever saw.
  *   - `spark.sql.codegen.useIdInClassName` is off: the same stage code
  *     at another codegen stage id would otherwise be a new class.
  *     Stack traces through generated code therefore name
  *     `GeneratedIterator` without the `ForCodegenStage<n>` suffix.
  *   - `spark.sql.ui.retainedExecutions` is small: the UI is off and
  *     nothing reads the SQL execution history, whose default of 1000
  *     plans holds heap that offsets most of what the class cache adds.
  *
  * Operators keep their plans stable from call to call. A LIMIT inside
  * a plan (`.limit(1).count()`) names its state from a JVM-wide
  * counter, so each such plan is a class never seen before; a
  * root-level `isEmpty` is not code-generated and answers the same
  * question. A join of two shuffled inputs that can both be small lets
  * AQE build the broadcast from whichever finished first, so each call
  * may plan, and compile, the join anew; aggregate instead, or fix the
  * build side with a hint.
  */
object GraftSession {
  /** A library knob as a number: the system property `prop`, else the
    * environment variable `env`. */
  private[graft] def knob(prop: String, env: String): Option[Long] =
    sys.props.get(prop).orElse(sys.env.get(env)).map(_.toLong)

  /** Whole-stage class cache entries (measured working sets above). */
  private val CodegenCacheEntries = 512

  def local(threads: Int = 4): SparkSession = {
    val spark = SparkSession
      .builder()
      .master(s"local[$threads]")
      .appName("graft")
      .config("spark.sql.shuffle.partitions", threads.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.codegen.cache.maxEntries", CodegenCacheEntries.toString)
      .config("spark.sql.codegen.useIdInClassName", "false")
      .config("spark.sql.ui.retainedExecutions", "20")
      // backstop for memo-eviction block release (KeyedFrameMemo
      // drops references; ContextCleaner unpersists on GC — the
      // default 30min periodic GC is too slow for a board, and the
      // eviction-time nudge is a no-op under -XX:+DisableExplicitGC)
      .config("spark.cleaner.periodicGC.interval", "2min")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
