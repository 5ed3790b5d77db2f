package graft.functions

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.unsafe.types.UTF8String

/** Cross-engine deterministic text hashing and tokenization.
  *
  * Every hash here is plain integer Column arithmetic (codegen'd by
  * Catalyst, no UDFs) chosen so the DuckDB oracle can replay it with
  * the same formula: a base-31 polynomial over the first 8 chars of a
  * token, combined per-shingle, permuted per-minhash with fixed
  * (a, b) pairs mod a Mersenne prime. The `*Sql` twins emit the exact
  * DuckDB expression so the two engines can never drift.
  */
object TextOps {

  /** Mersenne prime 2^31-1: keeps every intermediate < 2^63. */
  val P = 2147483647L

  private val pow31: Array[Long] = Array.iterate(1L, 8)(_ * 31L)

  /** Minhash permutation coefficients (8 permutations). */
  val MinhashA: Array[Long] = Array(9973L, 12007L, 30011L, 49999L, 59999L, 70001L, 80021L, 99991L)
  val MinhashB: Array[Long] = Array(7L, 101L, 1009L, 10007L, 20011L, 30013L, 40009L, 50021L)

  /** Base-31 polynomial hash of the first 8 chars (space-padded) plus
    * the length — deterministic and identical in Spark and DuckDB. */
  def tokenHash(t: Column): Column =
    (1 to 8).map { i =>
      ascii(substring(rpad(t, 8, " "), i, 1)).cast("long") * lit(pow31(8 - i))
    }.reduce(_ + _) + length(t).cast("long")

  def tokenHashSql(t: String): String =
    (1 to 8).map { i =>
      s"CAST(ascii(substr(rpad($t, 8, ' '), $i, 1)) AS BIGINT) * ${pow31(8 - i)}"
    }.mkString("(", " + ", s" + length($t))")

  /** 61-bit re-mix of the token hash for SimHash: the base-31 poly
    * only fills ~43 meaningful bits (31⁷·255 ≈ 2^42.6), so wider
    * signatures built on it directly would have degenerate top bands.
    * A multiplicative residue mod the Mersenne prime 2⁶¹−1 spreads
    * the entropy across all 61 bits; the product rides
    * DECIMAL(38,0)/HUGEINT (th·C ≈ 2^104). Both engines share the
    * constants, so signatures stay bit-identical. */
  val SimMixC = 2862933555777941757L
  val M61 = 2305843009213693951L
  def simMixOf(c: Column): Column = {
    import org.apache.spark.sql.functions.{lit => l}
    (c.cast("decimal(38,0)") * l(SimMixC) % l(M61)).cast("long")
  }
  def simMixSql(th: String): String =
    s"CAST(($th::HUGEINT * $SimMixC) % $M61 AS BIGINT)"

  /** Combine three token hashes into one 3-gram shingle hash < P. */
  def shingleHash(h1: Column, h2: Column, h3: Column): Column =
    ((((h1 % P) * 1000003L + h2) % P) * 10007L + h3) % P

  def shingleHashSql(h1: String, h2: String, h3: String): String =
    s"(((($h1 % $P) * 1000003 + $h2) % $P) * 10007 + $h3) % $P"

  /** i-th minhash permutation of a shingle hash. */
  def minhashPerm(sh: Column, i: Int): Column =
    (sh * MinhashA(i) + MinhashB(i)) % P

  def minhashPermSql(sh: String, i: Int): String =
    s"($sh * ${MinhashA(i)} + ${MinhashB(i)}) % $P"

  /** Tokenize to (doc_id, token) without positions — for bag-of-words
    * consumers (tf, simhash, language-ID): skips the per-doc ordering
    * window entirely, one narrow explode. */
  def tokensBag(docs: DataFrame): DataFrame =
    docs
      .select(col("doc_id"), explode(tokenSplit(col("text"))).as("token"))
      .filter(col("token") =!= "")

  /** The tokenizer's split: lowercase, then split on non-alphanumerics.
    * Its empty pieces are not tokens; every caller drops them. */
  def tokenSplit(text: Column): Column = split(lower(text), "[^a-z0-9]+")

  /** Spark's ascending string order: nulls first, then UTF-8 bytes
    * (`UTF8String.compareTo`, which differs from `String.compareTo`
    * past the Basic Multilingual Plane). */
  val sparkOrder: Ordering[String] = (a, b) =>
    if (a == null) { if (b == null) 0 else -1 }
    else if (b == null) 1
    else UTF8String.fromString(a).compareTo(UTF8String.fromString(b))

  /** Tokenize to (doc_id, token, seq): lowercase, split on
    * non-alphanumeric, drop empties, renumber 1..n per doc. The
    * renumbering window is per-document — at scale documents are the
    * natural partition unit so this never wide-shuffles. */
  def tokens(docs: DataFrame): DataFrame =
    docs
      .select(col("doc_id"), posexplode(tokenSplit(col("text"))))
      .toDF("doc_id", "pos", "token")
      .filter(col("token") =!= "")
      .withColumn("seq",
        row_number().over(Window.partitionBy("doc_id").orderBy("pos")))
      .select("doc_id", "token", "seq")

  /** DuckDB twin of [[tokens]] as a CTE body. */
  val tokensSql: String =
    """SELECT doc_id, token,
      |       row_number() OVER (PARTITION BY doc_id ORDER BY i) AS seq
      |FROM (
      |  SELECT doc_id,
      |         unnest(string_split_regex(lower(text), '[^a-z0-9]+')) AS token,
      |         generate_subscripts(string_split_regex(lower(text), '[^a-z0-9]+'), 1) AS i
      |  FROM documents)
      |WHERE token <> ''""".stripMargin

  /** Word 3-gram shingle hashes per doc: (doc_id, sh). */
  def shingles(docs: DataFrame): DataFrame = {
    val w = Window.partitionBy("doc_id").orderBy("seq")
    tokens(docs)
      .withColumn("h1", tokenHash(col("token")))
      .withColumn("h2", lead("h1", 1).over(w))
      .withColumn("h3", lead("h1", 2).over(w))
      .filter(col("h3").isNotNull)
      .select(col("doc_id"), shingleHash(col("h1"), col("h2"), col("h3")).as("sh"))
  }

  /** The distinct per-doc shingle SET (doc_id, sh), checkpointed once
    * per docs frame — the frame the gated queries (novelty, template,
    * containment, prefix/plain ngram Jaccard, the minhash family)
    * each re-derived from scratch before round 8: one corpus scan +
    * tokenize + shingle window + distinct, now paid once per board
    * (PipelineEntries serves one docs frame per (session, dir) via
    * Tables.documentsShared, so the [[FrameMemo]] hits across queries). */
  private val shingleSetMemo = new FrameMemo
  def shinglesShared(docs: DataFrame): DataFrame =
    shingleSetMemo.getOrBuild(docs) {
      shingles(docs).distinct().localCheckpoint(true)
    }

  /** The corpus shingle-df aggregate (sh, df) over [[shinglesShared]],
    * checkpointed once per docs frame — shared by every df-ranked /
    * df-capped / df==1 consumer. */
  private val shingleDfMemo = new FrameMemo
  def shingleDfShared(docs: DataFrame): DataFrame =
    shingleDfMemo.getOrBuild(docs) {
      shinglesShared(docs).groupBy("sh").agg(count(lit(1)).as("df"))
        .localCheckpoint(true)
    }

  /** The Vernica verification frame (doc_id, arr = sorted shingle
    * array, n_sh), checkpointed once per docs frame — the per-doc
    * sorted-set state the exact-verify family (D4 sizes, D4b prefix
    * verify, D44 containment) each rebuilt with their own
    * collect_list + sort_array agg; one hash shuffle per board now
    * serves all of them. Array state is bounded by document length
    * (the D4b doc contract), same residency class as
    * [[shinglesShared]] itself. */
  private val shingleArrMemo = new FrameMemo
  def shingleArraysShared(docs: DataFrame): DataFrame =
    shingleArrMemo.getOrBuild(docs) {
      shinglesShared(docs).groupBy("doc_id")
        .agg(sort_array(collect_list(col("sh"))).as("arr"),
          count(lit(1)).as("n_sh"))
        .localCheckpoint(true)
    }

  /** [[shingles]] with the shingle's token position kept:
    * (doc_id, seq, sh) where seq = 1-based position of the shingle's
    * FIRST token. Positional consumers (winnowing) need the offset;
    * the bag form stays separate so its narrower shuffle is
    * untouched. */
  def shinglesSeq(docs: DataFrame): DataFrame = {
    val w = Window.partitionBy("doc_id").orderBy("seq")
    tokens(docs)
      .withColumn("h1", tokenHash(col("token")))
      .withColumn("h2", lead("h1", 1).over(w))
      .withColumn("h3", lead("h1", 2).over(w))
      .filter(col("h3").isNotNull)
      .select(col("doc_id"), col("seq"),
        shingleHash(col("h1"), col("h2"), col("h3")).as("sh"))
  }

  /** DuckDB twin of [[shinglesSeq]]; expects a CTE `tok`. */
  val shinglesSeqSql: String = {
    val th = tokenHashSql("token")
    s"""SELECT doc_id, seq,
       |       ${shingleHashSql("h1", "h2", "h3")} AS sh
       |FROM (
       |  SELECT doc_id, seq, $th AS h1,
       |         lead($th, 1) OVER w AS h2,
       |         lead($th, 2) OVER w AS h3
       |  FROM tok
       |  WINDOW w AS (PARTITION BY doc_id ORDER BY seq))
       |WHERE h3 IS NOT NULL""".stripMargin
  }

  /** DuckDB twin of [[shingles]]; expects a CTE `tok` = [[tokensSql]]. */
  val shinglesSql: String = {
    val th = tokenHashSql("token")
    s"""SELECT doc_id,
       |       ${shingleHashSql("h1", "h2", "h3")} AS sh
       |FROM (
       |  SELECT doc_id, $th AS h1,
       |         lead($th, 1) OVER w AS h2,
       |         lead($th, 2) OVER w AS h3
       |  FROM tok
       |  WINDOW w AS (PARTITION BY doc_id ORDER BY seq))
       |WHERE h3 IS NOT NULL""".stripMargin
  }

  /** Word k-gram rolling hashes per doc: (doc_id, gh). Generalizes
    * [[shingles]] to any k with a uniform fold
    * `acc = (acc * 1000003 + h_i) % P` over the token hashes — one
    * lead() window per offset, all inside the per-document partition
    * (never a wide shuffle). Used by decontamination, where k is the
    * overlap length (13-gram in the GPT-3 recipe; smaller on short
    * docs). */
  def kgrams(docs: DataFrame, k: Int): DataFrame = {
    require(k >= 2, "k-gram needs k >= 2")
    val w = Window.partitionBy("doc_id").orderBy("seq")
    val base = tokens(docs).withColumn("h1", tokenHash(col("token")))
    val withLeads = (2 to k).foldLeft(base) { (df, i) =>
      df.withColumn(s"h$i", lead("h1", i - 1).over(w))
    }
    val gh = (2 to k).foldLeft(col("h1") % P) { (acc, i) =>
      ((acc * 1000003L) + col(s"h$i")) % P
    }
    withLeads.filter(col(s"h$k").isNotNull).select(col("doc_id"), gh.as("gh"))
  }

  /** DuckDB twin of [[kgrams]] as a CTE body; expects CTE `tok`. */
  def kgramsSql(k: Int): String = {
    val th = tokenHashSql("token")
    val leads = (2 to k).map(i => s"lead($th, ${i - 1}) OVER w AS h$i").mkString(",\n         ")
    val gh = (2 to k).foldLeft(s"(h1 % $P)")((acc, i) => s"((($acc) * 1000003 + h$i) % $P)")
    s"""SELECT doc_id, $gh AS gh
       |FROM (
       |  SELECT doc_id, $th AS h1,
       |         $leads
       |  FROM tok
       |  WINDOW w AS (PARTITION BY doc_id ORDER BY seq))
       |WHERE h$k IS NOT NULL""".stripMargin
  }

  /** English stopword list for the language-ID / quality heuristics. */
  val Stopwords: Seq[String] =
    Seq("the", "a", "an", "of", "and", "to", "in", "is", "on", "for", "with", "by")

  val StopwordsSqlList: String = Stopwords.map(s => s"'$s'").mkString("(", ", ", ")")
}
