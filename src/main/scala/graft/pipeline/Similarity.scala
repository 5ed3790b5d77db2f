package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.GraftSession.knob
import graft.functions.{TopKAgg, VectorOps}
import graft.functions.KeyedFrameMemo.iterate

/** Similarity search over an embedding column (SURVEY.md §2 D5–D7).
  *
  * Vectors stay as array columns end-to-end: dot products are
  * `zip_with` + `aggregate` higher-order functions (codegen'd, no
  * UDF, no explode → no 64× row blowup on the hot path). The ANN
  * scale path buckets by deterministic random-hyperplane signs so
  * the pair space shrinks from O(n²) to O(n²/256) before any exact
  * scoring.
  */
object Similarity {

  private def asDouble(c: Column): Column = transform(c, _.cast("double"))

  /** Floor-form decimal rounding ⌊c·10ˢ + 0.5⌋/10ˢ: single IEEE ops,
    * so identical values on every engine given identical doubles —
    * Spark's `round` (BigDecimal HALF_UP over the double's SHORTEST
    * DECIMAL string) and DuckDB's `round` (over the binary value) can
    * disagree by one last-place decimal on the same input; the floor
    * form cannot. The oracle replays the same expression. */
  private def rnd(c: Column, s: Int): Column = graft.functions.Rounding.rnd(c, s)

  /** Embeddings with their FIXED-POINT twin and its norm:
    * (vec_id, v, qv, nrm) — qv = round(v·10⁶) longs,
    * nrm = √(qv·qv). Every ANN cosine divides an exact integer dot by
    * these norms, so scores come out BIT-IDENTICAL across engines:
    * the integer sums are order-free, and the sqrt/multiply/divide
    * are single correctly-rounded IEEE ops over identical inputs —
    * not merely equal-within-rounding, which still left a latent
    * boundary hazard when the oracle summed a float dot in a
    * different order. Quantization shifts a cosine by ~1e-6 relative,
    * far below the 4dp output rounding; `v` rides along for raw-
    * coordinate consumers. */
  def withNorm(emb: DataFrame): DataFrame =
    emb.select(col("vec_id"), asDouble(col("embedding")).as("v"))
      .withColumn("qv", quantize(col("v")))
      .withColumn("nrm", sqrt(VectorOps.dotLong(col("qv"), col("qv")).cast("double")))

  /** Shared rerank tail: (query_id, cand_id, cos) pairs → top-k per
    * query via the PARTIAL top-k aggregate (graft.functions.TopKAgg):
    * each map task combines down to k rows per query before the
    * shuffle, where the Window/row_number formulation would shuffle
    * every candidate into one sorted partition per query first. Rank
    * order — (⌊cos·10⁶+0.5⌋ desc, id asc) — matches the window
    * formulation and the oracle's identical floor expression. */
  private def rankTopK(pairs: DataFrame, candId: String, k: Int): DataFrame =
    pairs.groupBy("query_id")
      .agg(TopKAgg.topK(col("cos"), col(candId), k).as("top"))
      .select(col("query_id"), posexplode(col("top")))
      .select(col("query_id"), col("col.id").as("neighbor_id"),
        rnd(col("col.score"), 4).as("cosine"), (col("pos") + 1).as("rnk"))
      .orderBy("query_id", "rnk")

  /** D6 brute-force cosine top-k for a query subset: query rows ×
    * corpus with array-local dot products; ranking on the rounded
    * cosine keeps cross-engine order stable. The corpus side is the
    * big side — Catalyst broadcasts the (small) query side.
    *
    * The corpus pass is MEMOIZED per (corpus frame, predicate text)
    * at K_SHARED = 5: sim_topk (D6), knn purity (D64) and the recall
    * audit (D69) all rerank the same sampled query set against the
    * full corpus — three ~190 s scans at organic sf10 for one
    * answer. Smaller k asks are exact PREFIXES of the shared frame
    * (the TopKAgg comparator is total: rounded cos desc, id asc), so
    * `rnk ≤ k` replays the direct k-pass bit-identically; k >
    * K_SHARED bypasses the memo. Keyed by the predicate's expression
    * string (Column identity differs per call site); the
    * KeyedFrameMemo eviction/release discipline applies.
    *
    * IDENTITY CONTRACT (r14 advice): the memo key is the corpus
    * frame's OBJECT identity — callers must pass the identity-stable
    * [[graft.Tables.embeddingsShared]] frame (the entry layer does),
    * or every call silently rebuilds the corpus scan. A rebuild for
    * a frame whose schema+predicate signature was already built this
    * session logs a WARN naming the fix, so a memo miss is never
    * silent. */
  private val bruteTopKMemo =
    new graft.functions.KeyedFrameMemo[(DataFrame, String)]
  private val K_SHARED = 5
  /** (schema, predicate) signatures already built once — the
    * equal-shape-different-identity rebuild detector. */
  private val bruteBuiltSigs =
    scala.collection.concurrent.TrieMap.empty[String, Boolean]
  def topKCosine(emb: DataFrame, queryPred: Column, k: Int = 5): DataFrame = {
    def brute(kk: Int): DataFrame = {
      // zero-norm (all-zero-quantized) vectors have no direction: both
      // engines exclude them from every cosine (oracle: HAVING in nrm)
      // Materialized + projected ONCE: the corpus × queries
      // nested-loop join streams |corpus|·|queries| combined rows
      // through the scorer, and with a live withNorm the interpreted
      // quantize transforms both sat in the stream-side plan (blocking
      // whole-stage fusion of join+dot+top-k) and re-derived the
      // chain on the query side; the checkpoint leaves one primitive
      // codegen stage per pair (guide §4: no non-codegen exprs on the
      // hot path).
      val v = withNorm(emb).select(col("vec_id"), col("qv"), col("nrm"))
        .filter(col("nrm") > 0).localCheckpoint(true)
      val q = v.filter(queryPred)
        .select(col("vec_id").as("query_id"), col("qv").as("q_qv"), col("nrm").as("qn"))
      val pairs = v.join(broadcast(q), col("vec_id") =!= col("query_id"))
        .withColumn("cos",
          VectorOps.dotLong(col("q_qv"), col("qv")) / (col("qn") * col("nrm")))
      rankTopK(pairs, "vec_id", kk)
    }
    if (k > K_SHARED) brute(k)
    else {
      val shared = bruteTopKMemo.getOrBuild((emb, queryPred.toString())) {
        val sig = emb.schema.simpleString + "|" + queryPred.toString()
        if (bruteBuiltSigs.putIfAbsent(sig, true).isDefined)
          org.slf4j.LoggerFactory.getLogger(getClass).warn(
            "topKCosine rebuilding the shared corpus top-k for an " +
              "equal-schema frame — pass the identity-stable " +
              "Tables.embeddingsShared so the memo can hit")
        brute(K_SHARED).localCheckpoint(true)
      }
      if (k == K_SHARED) shared
      else shared.filter(col("rnk") <= k).orderBy("query_id", "rnk")
    }
  }

  /** Embedding-space label coherence: each sampled query's k nearest
    * cosine neighbors (the D6 brute-force contract, [[topKCosine]]
    * verbatim — same sample, same quantized dots, same tie-breaks)
    * vote with their labels; the majority label (count desc, label
    * asc) is compared to the query's own, and the per-label purity
    * ratio is the clustering-health read a curation pipeline runs
    * before trusting label-conditioned sampling or stratified
    * eval splits. Everything after the top-k pass is narrow
    * label/query-keyed aggregation over the (queries·k)-row frame;
    * the majority pick is a min-of-struct((−count, label)) partial
    * aggregate, never a per-query sort. 10⁶·n_pure rides
    * DECIMAL(38,0). */
  def knnPurity(emb: DataFrame, queryPred: Column, k: Int = 5): DataFrame = {
    val labels = emb.select(col("vec_id").as("lid"), col("label").cast("long").as("lbl"))
    val votes = topKCosine(emb, queryPred, k)
      .join(labels, col("neighbor_id") === col("lid"))
      .groupBy(col("query_id"), col("lbl"))
      .agg(count(lit(1)).as("c"))
      .groupBy("query_id")
      .agg(min(struct((-col("c")).as("nc"), col("lbl").as("l"))).as("m"))
      .select(col("query_id"), col("m.l").as("maj_label"))
    votes
      .join(labels, col("query_id") === col("lid"))
      .select(col("lbl").as("label"),
        (col("maj_label") === col("lbl")).as("pure"))
      .groupBy("label")
      .agg(count(lit(1)).as("n_queries"),
        sum(when(col("pure"), 1L).otherwise(0L)).as("n_pure"))
      .select(col("label"), col("n_queries"), col("n_pure"),
        expr("CAST((CAST(1000000 AS DECIMAL(38,0)) * n_pure) div n_queries AS BIGINT)")
          .as("purity_ppm"))
      .orderBy("label")
  }

  /** Radius (range) search — the ANN API's other half: for each
    * query, COUNT the corpus vectors within cosine ≥ `tau` and
    * report the best hit, instead of top-k's fixed cut. This is the
    * primitive behind near-dup audit ("how crowded is this vector's
    * neighborhood") and density-based filtering. The threshold test
    * is EXACT integer arithmetic on the quantized vectors: cos ≥ τ
    * ⇔ dot > 0 ∧ den·dot² ≥ num·|q|²·|c|² (τ² = num/den), widened
    * through DECIMAL(38,0) so no float enters the decision; only the
    * reported max cosine crosses into the shared 4dp-round contract.
    * Plan: broadcast query side × corpus scan, one query-keyed
    * narrow agg — single corpus pass for all queries. */
  def rangeSearch(emb: DataFrame, queryPred: Column,
      tauNum: Int = 3, tauDen: Int = 10): DataFrame = {
    // materialized + projected once — the topKCosine brute-pass
    // lesson: the queries × corpus loop must stream over primitive
    // checkpointed arrays, not re-derive the interpreted quantize
    // chain inside the pair stage
    val v = withNorm(emb).select(col("vec_id"), col("qv"), col("nrm"))
      .filter(col("nrm") > 0)
      .withColumn("n2", VectorOps.dotLong(col("qv"), col("qv")))
      .localCheckpoint(true)
    val q = v.filter(queryPred)
      .select(col("vec_id").as("query_id"), col("qv").as("q_qv"),
        col("nrm").as("qn"), col("n2").as("qn2"))
    v.join(broadcast(q), col("vec_id") =!= col("query_id"))
      .withColumn("dot", VectorOps.dotLong(col("q_qv"), col("qv")))
      .filter(col("dot") > 0 &&
        expr(s"CAST(${tauDen.toLong * tauDen} AS DECIMAL(38,0)) * dot * dot" +
          s" >= CAST(${tauNum.toLong * tauNum} AS DECIMAL(38,0)) * qn2 * n2"))
      .withColumn("cos", col("dot") / (col("qn") * col("nrm")))
      .groupBy("query_id")
      .agg(count(lit(1)).as("n_in_range"),
        rnd(max(col("cos")), 4).as("max_cos"))
      .orderBy("query_id")
  }

  /** Top principal direction by FIXED-POINT POWER ITERATION over the
    * mean-centered quantized embeddings — distributed PCA's first
    * component without any linalg library, and bit-identical across
    * engines: center c_i = truncating per-dim mean; round t computes
    * per-vector projections dotₓ = Σⱼ qcₓⱼ·vⱼ (exact longs), per-dim
    * scores s_i = Σₓ qcₓᵢ·dotₓ (DECIMAL(38,0) — the product tops
    * 2⁶³), and rescales v ← ⌊10⁶·s / max|s|⌋ with TRUNCATING
    * division (Scala BigInt `/` ≡ DuckDB `//`, the negative-value
    * contract). From the fixed v₀ = ⌊10⁶/√dim⌋·1 the whole
    * trajectory is deterministic — no sign ambiguity to canonicalize.
    * Per round: one map-only projection pass + ONE 1-row aggregate
    * (dim² never materializes, no covariance matrix anywhere);
    * `rounds`=8 is plenty for a dominant eigengap. Returns (dim,
    * v_ppm) — the direction at ppm scale. */
  def pcaTopComponent(emb: DataFrame, rounds: Int = 8): DataFrame = {
    val spark = emb.sparkSession
    val q0 = emb.select(quantize(asDouble(col("embedding"))).as("qv"))
      .localCheckpoint(true)
    val dim = q0.select(size(col("qv"))).head().getInt(0)
    val sums = q0.select(
        (0 until dim).map(i => sum(col("qv")(i)).as(s"s$i")) :+
          count(lit(1)).as("n"): _*)
      .head()
    val n = math.max(sums.getLong(dim), 1L)
    val center = array((0 until dim).map(i => lit(sums.getLong(i) / n)): _*)
    val qc = q0.withColumn("cv", center)
      .select(expr("zip_with(qv, cv, (x, c) -> x - c)").as("qc"))
      .localCheckpoint(true)
    var v: Array[BigInt] = Array.fill(dim)(
      BigInt(math.floor(1e6 / math.sqrt(dim.toDouble)).toLong))
    for (_ <- 1 to rounds) {
      val vLit = array(v.map(x => lit(x.toLong)): _*)
      // native codegen dot (VectorOps.LongDotProduct) — the
      // aggregate(zip_with(...)) form allocated an interpreted
      // intermediate array per row per power-iteration round; the
      // long sum is order-free so the trajectory is bit-identical
      val s = qc.withColumn("vv", vLit)
        .withColumn("dot", VectorOps.dotLong(col("qc"), col("vv")))
        .select((0 until dim).map(i =>
          sum(col("qc")(i).cast("decimal(38,0)") * col("dot")).as(s"s$i")): _*)
        .head()
      val sv = (0 until dim).map(i =>
        BigInt(s.getDecimal(i).toBigInteger))
      val m = sv.map(_.abs).max.max(BigInt(1))
      v = sv.map(x => (BigInt(1000000) * x) / m).toArray
    }
    val sqlImplicits = spark.implicits
    import sqlImplicits._
    v.zipWithIndex.map { case (w, i) => (i.toLong, w.toLong) }.toSeq
      .toDF("dim", "v_ppm").orderBy("dim")
  }

  /** Cosine noise-floor histogram over the DETERMINISTIC adjacent-id
    * pair sample (vec i vs i+1 — id assignment is ingest-order, so
    * adjacent pairs are an unbiased similarity probe without any
    * RNG): deci-bucket ⌊cos·10⌋ counts, the calibration chart that
    * tells you where to set near-dup τ before running D5/D7 (τ must
    * sit clear of this noise mass). Quantized-cosine contract, one
    * self-join on the shifted key — corpus-linear, no pair blowup. */
  def cosineHistogram(emb: DataFrame): DataFrame = {
    val v = withNorm(emb).filter(col("nrm") > 0)
      .select(col("vec_id"), col("qv"), col("nrm"))
      .localCheckpoint(true)
    v.as("a").join(v.as("b"), col("b.vec_id") === col("a.vec_id") + 1)
      .select((VectorOps.dotLong(col("a.qv"), col("b.qv"))
        / (col("a.nrm") * col("b.nrm"))).as("cos"))
      .select(floor(col("cos") * 10).cast("long").as("bucket"))
      .groupBy("bucket").agg(count(lit(1)).as("n_pairs"))
      .orderBy("bucket")
  }

  /** D95 truncated-dimension fidelity audit (the Matryoshka-
    * representation read): over the D88 deterministic adjacent-id
    * pair probe, the (⌊cos_full·10⌋, ⌊cos_half·10⌋) cross-tab where
    * cos_half uses only the first ⌊dim/2⌋ coordinates — diagonal
    * mass says half-dim storage/search preserves this corpus's
    * similarity structure; off-diagonal mass is the ranking drift
    * you would buy by truncating stored vectors 2×, measured BEFORE
    * re-encoding a 100 TB corpus. Same quantized-cosine contract and
    * shifted-key self-join as [[cosineHistogram]] — corpus-linear,
    * no pair blowup; bucket decisions are single IEEE ops over exact
    * integer dots, so both engines agree. */
  def truncateFidelity(emb: DataFrame): DataFrame = {
    // half-dim from the GLOBAL max dimension (oracle: MAX(i)//2) so a
    // mixed-dimension corpus buckets the same half-vectors on both
    // engines; on the uniform-dim corpora this equals the per-row
    // form. The max runs over ALL embeddings — the oracle's MAX(i)
    // has no norm filter, so a corpus whose unique longest vector
    // quantizes to all zeros must still contribute its dimension.
    val all = withNorm(emb)
    val base = all.filter(col("nrm") > 0)
    val hd = all.agg((max(size(col("qv"))) / 2).cast("int").as("hdim"))
    val v = base.crossJoin(broadcast(hd))
      .withColumn("qh", expr("slice(qv, 1, hdim)"))
      .withColumn("nrmh",
        sqrt(VectorOps.dotLong(col("qh"), col("qh")).cast("double")))
      .filter(col("nrmh") > 0)
      .select(col("vec_id"), col("qv"), col("nrm"), col("qh"), col("nrmh"))
      .localCheckpoint(true)
    v.as("a").join(v.as("b"), col("b.vec_id") === col("a.vec_id") + 1)
      .select(
        floor(VectorOps.dotLong(col("a.qv"), col("b.qv"))
          / (col("a.nrm") * col("b.nrm")) * 10).cast("long").as("bucket_full"),
        floor(VectorOps.dotLong(col("a.qh"), col("b.qh"))
          / (col("a.nrmh") * col("b.nrmh")) * 10).cast("long").as("bucket_half"))
      .groupBy("bucket_full", "bucket_half").agg(count(lit(1)).as("n_pairs"))
      .orderBy("bucket_full", "bucket_half")
  }

  /** Centroid-distance outlier shortlist — embedding-space QA (broken
    * encoders, mis-ingested rows, and adversarial junk land far from
    * the corpus mean): the corpus centroid is the per-dim truncating mean
    * of quantized coordinates (the Lloyd contract D45/D68 share),
    * each vector's d² to it is an exact long, and the top-`k` most
    * distant (d² desc, vec_id asc — fully tie-broken) are returned
    * with their distances. ONE pass for the centroid (2·dim agg
    * columns), one map-only distance pass, a 20-row top-k agg. */
  def centroidOutliers(emb: DataFrame, k: Int = 20): DataFrame = {
    val q = emb
      .select(col("vec_id").cast("long").as("vec_id"),
        quantize(asDouble(col("embedding"))).as("qv"))
      .localCheckpoint(true)
    val dim = q.select(size(col("qv"))).head().getInt(0)
    val sums = q.select(
        (0 until dim).map(i => sum(col("qv")(i)).as(s"s$i")) :+
          count(lit(1)).as("n"): _*)
      .head()
    val n = math.max(sums.getLong(dim), 1L)
    // TRUNCATING division (Scala `/` ≡ Spark `div` ≡ DuckDB `//`) —
    // the cross-engine negative-mean contract events_holt pinned
    val mean = array((0 until dim).map(i => lit(sums.getLong(i) / n)): _*)
    q.withColumn("cv", mean)
      // native codegen squared-L2 (bit-identical integer sum; the
      // zip_with form allocated an interpreted array per row)
      .select(col("vec_id"), VectorOps.squaredL2(col("qv"), col("cv")).as("d2"))
      .orderBy(col("d2").desc, col("vec_id"))
      .limit(k)
  }

  /** k-center coreset selection by FARTHEST-FIRST traversal (the
    * Gonzalez 2-approximation, the standard geometric data-pruning /
    * diverse-subset primitive): seed = min vec_id, then k−1 rounds of
    * "pick the vector farthest from the chosen set" with squared
    * quantized-integer distances (d² = |x|²+|c|²−2⟨x,c⟩ — EXACT
    * longs, ties broken by min vec_id, so the selection is unique on
    * both engines). The reported d2 is the selection-time distance —
    * the coverage radius ladder a pruning pipeline thresholds on.
    * Plan: the min-distance frame carries (vec, d) and each round
    * folds ONE broadcast center in with `least` — k−1 corpus passes
    * total, each a map-only projection plus a 1-row argmax agg; no
    * pairwise blowup anywhere. */
  def coresetKCenter(emb: DataFrame, k: Int = 8): DataFrame = {
    val spark = emb.sparkSession
    val q = emb
      .select(col("vec_id").cast("long").as("vec_id"),
        quantize(asDouble(col("embedding"))).as("qv"))
      .withColumn("n2", VectorOps.dotLong(col("qv"), col("qv")))
      .localCheckpoint(true)
    val seed = q.agg(min(col("vec_id"))).head().getLong(0)
    def centerOf(id: Long) =
      broadcast(q.filter(col("vec_id") === id)
        .select(col("qv").as("cqv"), col("n2").as("cn2")))
    var dmin = q.crossJoin(centerOf(seed))
      .select(col("vec_id"), col("qv"), col("n2"),
        (col("n2") + col("cn2")
          - lit(2L) * VectorOps.dotLong(col("qv"), col("cqv"))).as("d"))
      .localCheckpoint(true)
    val picks = scala.collection.mutable.ArrayBuffer((1L, seed, 0L))
    for (j <- 2 to k) {
      val top = dmin.orderBy(col("d").desc, col("vec_id")).limit(1)
        .select("vec_id", "d").head()
      picks += ((j.toLong, top.getLong(0), top.getLong(1)))
      if (j < k)
        dmin = dmin.crossJoin(centerOf(top.getLong(0)))
          .select(col("vec_id"), col("qv"), col("n2"),
            least(col("d"), col("n2") + col("cn2")
              - lit(2L) * VectorOps.dotLong(col("qv"), col("cqv"))).as("d"))
          .localCheckpoint(true)
    }
    val sqlImplicits = spark.implicits
    import sqlImplicits._
    spark.createDataset(picks.toSeq).toDF("rnk", "vec_id", "d2")
      .orderBy("rnk")
  }

  /** Per-dimension coordinate profile of the quantized embedding
    * space: floor-mean and exact integer variance per dimension —
    * the flat-dimension screen run before trusting projections or
    * PCA budgets (a dim whose variance ≈ 0 carries nothing). One
    * corpus pass folds into 2·dim agg columns (long sum +
    * DECIMAL(38,0) square sum — qx² sums wrap a long at corpus
    * scale); the n·Σx²−S² variance is exact, divided once by n² into
    * q² units. Output is dim rows. */
  def dimProfile(emb: DataFrame): DataFrame = {
    val q = emb.select(quantize(asDouble(col("embedding"))).as("qv"))
    val dim = q.select(size(col("qv"))).head().getInt(0)
    val aggs = (0 until dim).flatMap(i => Seq(
      sum(col("qv")(i)).as(s"_s$i"),
      sum(expr(s"CAST(element_at(qv, ${i + 1}) AS DECIMAL(38,0)) " +
        s"* element_at(qv, ${i + 1})")).as(s"_q$i")))
    val allAggs = count(lit(1)).as("_n") +: aggs
    q.agg(allAggs.head, allAggs.tail: _*)
      .select(explode(array((0 until dim).map(i =>
        struct(lit(i.toLong).as("dim"),
          floor(col(s"_s$i") / col("_n")).cast("long").as("mean_q"),
          expr(s"""CAST((CAST(_n AS DECIMAL(38,0)) * _q$i -
               CAST(_s$i AS DECIMAL(38,0)) * _s$i) div
               (CAST(_n AS DECIMAL(38,0)) * _n) AS BIGINT)""").as("var_q"))): _*))
        .as("d"))
      .select(col("d.dim"), col("d.mean_q"), col("d.var_q"))
      .orderBy("dim")
  }

  /** Per-label mean-direction drift: the mean quantized vector per
    * label (exact long sums + one floor-divide per dim — the Lloyd
    * centroid contract, so means are integer-identical across
    * engines), then the pairwise cosine between label means in the
    * quantized-cosine contract — the embedding-space "are these two
    * strata pointing the same way" read that catches encoder or
    * domain drift before it poisons similarity search. Labels whose
    * mean collapses to the zero vector have no direction and are
    * excluded (both engines agree by the same n2 > 0 test). After
    * the one corpus pass everything lives on the \|labels\|-row mean
    * frame. */
  def labelDrift(emb: DataFrame): DataFrame = {
    val q = emb.select(col("label").cast("long").as("label"),
      quantize(asDouble(col("embedding"))).as("qv"))
    val dim = q.select(size(col("qv"))).head().getInt(0)
    val sums = (0 until dim).map(i => sum(col("qv")(i)).as(s"_s$i"))
    val means = q.groupBy("label")
      .agg(count(lit(1)).as("_n"), sums: _*)
      .select(col("label"), array((0 until dim).map(i =>
        floor(col(s"_s$i") / col("_n")).cast("long")): _*).as("mv"))
      .withColumn("nrm", sqrt(VectorOps.dotLong(col("mv"), col("mv")).cast("double")))
      .filter(col("nrm") > 0)
      .localCheckpoint(true)
    means.select(col("label").as("label_a"), col("mv").as("ma"), col("nrm").as("na"))
      .join(means.select(col("label").as("label_b"), col("mv").as("mb"),
        col("nrm").as("nb")), col("label_a") < col("label_b"))
      .select(col("label_a"), col("label_b"),
        rnd(VectorOps.dotLong(col("ma"), col("mb")) / (col("na") * col("nb")), 4)
          .as("cosine"))
      .orderBy("label_a", "label_b")
  }

  /** Deterministic pseudo-random hyperplane weight for (plane j,
    * dim i), identical formula in the DuckDB oracle: a centered
    * residue of a Knuth-style multiplicative hash over the SQUARED
    * plane×dim index — the squaring breaks the affine-in-j structure
    * that would otherwise correlate hyperplanes across LSH bands
    * (measured: banded pair recall 0.76 → 0.92 at τ=0.4). */
  def planeWeightSql(j: Int, i: String): String =
    s"((((($j * 64 + $i) * ($j * 64 + $i)) % 10007) * 2654435761) % 97 - 48)"

  /** FIXED-POINT copy of a double-array column: round(x·10⁶) as long.
    * The single multiply is exact deterministic IEEE on both engines
    * (same parquet bits in, same double out), and everything after it
    * is integer arithmetic — so LSH sign tests over the quantized
    * vector cannot drift across engines no matter what order the
    * oracle sums in. */
  private def quantize(v: Column): Column =
    transform(v, x => round(x * 1000000).cast("long"))

  /** D7 LSH-bucketed ANN: exact cosine within each bucket only,
    * top-k per query among same-bucket candidates. At scale the
    * bucket id is the shuffle key; bucket population is ~n/2^planes.
    */
  def lshTopK(emb: DataFrame, k: Int = 3,
      queryPred: Column = lit(true)): DataFrame = {
    // zero-norm rows are dropped above the materialization, so the
    // filter reads the materialized nrm rather than being pushed down
    // over the raw scan, where it re-derived the quantize chain
    val b = lshBuckets(emb).filter(col("nrm") > 0)
    val pairs = b.filter(queryPred).as("x").join(b.as("y"),
        col("x.bucket") === col("y.bucket") && col("x.vec_id") =!= col("y.vec_id"))
      .select(col("x.vec_id").as("query_id"), col("y.vec_id").as("nb_id"),
        (VectorOps.dotLong(col("x.qv"), col("y.qv"))
          / (col("x.nrm") * col("y.nrm"))).as("cos"))
    rankTopK(pairs, "nb_id", k)
  }

  /** (vec_id, qv, nrm, bucket) materialized ONCE per embeddings frame
    * (callers pass [[graft.Tables.embeddingsShared]], so sim_lsh and
    * the recall audit share it): an unmaterialized bucket chain
    * re-derived the interpreted quantize transform from the parquet
    * scan inside every consumer branch (both join sides and the
    * query-side filter — 4 copies in the r15 plan); after
    * materialization every stage is codegen over primitive arrays. */
  private val lshBucketMemo = new graft.functions.FrameMemo
  private def lshBuckets(emb: DataFrame): DataFrame =
    lshBucketMemo.getOrBuild(emb) {
      val planes = 8
      val flat: Seq[Long] =
        (0 until planes).flatMap(j => (1 to 64).map(i1 => planeWeightValue(j, i1)))
      withNorm(emb)
        .select(col("vec_id"), col("qv"), col("nrm"),
          element_at(VectorOps.lshBandSignature(col("qv"), flat, 1, planes), 1)
            .as("bucket"))
        .localCheckpoint(true)
    }

  /** ANN recall audit — the acceptance test of the bucketed path run
    * AS a query: for each sampled query, how many of its true
    * brute-force top-k ([[topKCosine]], the D6 contract) the
    * LSH-bucketed path ([[lshTopK]], same quantized-cosine ranking)
    * recovers, per query and in exact ppm. Both sides are
    * deterministic rankings, so the audit itself is bit-stable —
    * recall numbers a capacity plan can be built on, not a sampled
    * estimate. The truth side is the only n·|sample| pass; the
    * comparison is two narrow query-keyed aggs. */
  def annRecallAudit(emb: DataFrame, queryPred: Column, k: Int = 3): DataFrame = {
    val truth = topKCosine(emb, queryPred, k)
      .select("query_id", "neighbor_id").localCheckpoint(true)
    val approx = lshTopK(emb, k, queryPred).select("query_id", "neighbor_id")
    val hits = truth.join(approx, Seq("query_id", "neighbor_id"), "left_semi")
      .groupBy("query_id").agg(count(lit(1)).as("n_hit"))
    truth.groupBy("query_id").agg(count(lit(1)).as("n_true"))
      .join(hits, Seq("query_id"), "left")
      .select(col("query_id"), col("n_true"),
        coalesce(col("n_hit"), lit(0L)).as("n_hit"),
        expr("(1000000 * coalesce(n_hit, 0L)) div n_true").as("recall_ppm"))
      .orderBy("query_id")
  }

  /** Exact integer squared-L2 distance of each quantized vector to
    * each centroid, ranked per vector (tie-break min cid). FIXED
    * POINT end-to-end: `v` carries `qv` (round(x·10⁶) longs), `cents`
    * carries integer `cv` — so the distance is a plain long sum,
    * order-independent and bit-identical across engines (the earlier
    * round-to-6dp float distance shared the LSH sign test's
    * ulp-at-the-boundary hazard, and the float centroid AVERAGES
    * compounded it across Lloyd rounds). */
  private def centroidRanks(v: DataFrame, cents: DataFrame): DataFrame =
    v.crossJoin(broadcast(cents))
      // one primitive codegen loop per (vector, centroid) — the
      // aggregate(zip_with(...)) form allocated an interpreted
      // intermediate array per pair on the corpus×k hot path; the
      // integer sum is order-free so the value is bit-identical
      .withColumn("dist", VectorOps.squaredL2(col("qv"), col("cv")))
      .withColumn("crank", row_number().over(
        Window.partitionBy("vec_id").orderBy(col("dist"), col("cid"))))

  /** One k-means (Lloyd) iteration over quantized coordinates: assign
    * every vector to its nearest centroid (exact integer distance),
    * then recompute each centroid per-dim as ⌊Σqx / n⌋ — the long sum
    * is exact in any order and the single floor-divide is the same
    * IEEE double on both engines, so centroids are integer-identical
    * with no float summation anywhere in training. Clusters that lose
    * all members drop out (both engines agree by construction). Each
    * iteration is one broadcast-join + two narrow shuffles on
    * (cid, dim) / cid.
    */
  private def kmeansIterate(v: DataFrame, cents: DataFrame, dim: Int): DataFrame = {
    val asg = centroidRanks(v, cents).filter(col("crank") === 1)
      .select(col("cid"), col("qv"))
    // element-wise sums as `dim` long agg buffers on the cid key alone:
    // map-side partial agg combines each partition down to one row per
    // centroid before the shuffle. The earlier posexplode form blew
    // every vector up dim× and funneled the shuffle into a k×dim-key
    // space (~1k reducers max at any corpus size).
    val sums = (0 until dim).map(i => sum(col("qv")(i)).as(s"_s$i"))
    asg.groupBy("cid")
      .agg(count(lit(1)).as("_n"), sums: _*)
      .select(col("cid"), array((0 until dim).map(i =>
        floor(col(s"_s$i") / col("_n")).cast("long")): _*).as("cv"))
  }

  /** Trained coarse-quantizer centroids: deterministic seeds (the
    * first `k` vec_ids) refined by `iters` Lloyd iterations. The
    * whole loop is DataFrame-native — centroids are only ever
    * broadcast (k ≤ a few thousand), the corpus is never collected.
    * Returned `cv` is in the 10⁶-quantized integer space.
    */
  def kmeansCentroids(emb: DataFrame, k: Int = 16, iters: Int = 2): DataFrame =
    kmeansCentroidsFromNorm(normCheckpoint(emb), k, iters)

  /** The quantized-norm frame (vec_id, qv, nrm) materialized once —
    * every k-means-family operator trains, assigns and reranks over
    * MANY passes of the same frame, and a live `withNorm` re-derived
    * the interpreted quantize transform chain (no codegen for
    * higher-order functions) from the scan inside every one of those
    * stages, blocking whole-stage fusion of the assignment loop with
    * it. One checkpoint; every downstream stage is pure codegen over
    * primitive arrays. */
  private[pipeline] def normCheckpoint(emb: DataFrame): DataFrame =
    withNorm(emb).select(col("vec_id"), col("qv"), col("nrm"))
      .localCheckpoint(true)

  /** [[kmeansCentroids]] over an already-materialized norm frame —
    * callers that also assign/rerank share ONE checkpoint. */
  private[graft] def kmeansCentroidsFromNorm(v: DataFrame, k: Int,
      iters: Int): DataFrame = {
    // the element-wise recompute needs the width statically; read it
    // from the data (one 1-row job) rather than assuming 64 — a wrong
    // assumption would silently produce null centroid entries. An
    // empty corpus trains no centroids (empty frame, not a crash).
    val first = v.select(size(col("qv"))).take(1)
    if (first.isEmpty)
      return v.limit(0).select(col("vec_id").as("cid"), col("qv").as("cv"))
    val dim = first.head.getInt(0)
    iterate(v.filter(col("vec_id") < k)
      .select(col("vec_id").as("cid"), col("qv").as("cv")), iters)(
      kmeansIterate(v, _, dim))
  }

  /** Corpus topic-clustering summary: train the integer k-means
    * coarse quantizer ([[kmeansCentroids]] — the sim_ivf contract)
    * and report per-cluster population and mean squared distance
    * (the inertia profile that sizes a topic-balanced sampling pass
    * or flags a degenerate clustering). Assignment is the broadcast
    * centroidRanks pass; the only shuffle after it is one narrow
    * cid-keyed agg. The squared-distance sum rides DECIMAL(38,0)
    * (quantized dists reach ~2.6e14 per vector, so a corpus-scale
    * long sum would wrap — the HITS widening lesson); the reported
    * mean is back in safe long range.
    */
  def clusterSummary(emb: DataFrame, k: Int = 16, iters: Int = 2): DataFrame = {
    val v = normCheckpoint(emb)
    val cents = kmeansCentroidsFromNorm(v, k, iters)
    centroidRanks(v, cents).filter(col("crank") === 1)
      .groupBy("cid")
      .agg(count(lit(1)).as("n_vecs"),
        sum(col("dist").cast("decimal(38,0)")).as("_sd"))
      .select(col("cid"), col("n_vecs"),
        expr("CAST(_sd div n_vecs AS BIGINT)").as("avg_dist"))
      .orderBy("cid")
  }

  /** D7b IVF ANN: vectors live in their nearest-centroid list
    * (crank=1); queries probe their `nProbe` nearest lists and rerank
    * exactly within them. Centroids come from [[kmeansCentroids]]
    * (`iters` Lloyd rounds; `iters = 0` keeps the raw seeds). At
    * scale the inverted lists are the partition key — each query
    * touches ~nProbe/nCentroids of the corpus instead of all of it.
    */
  def ivfTopK(emb: DataFrame, queryPred: Column, k: Int = 3,
      nCentroids: Int = 16, nProbe: Int = 2, iters: Int = 2): DataFrame = {
    val v = normCheckpoint(emb)
    val cents = kmeansCentroidsFromNorm(v, nCentroids, iters)
    val assigned = centroidRanks(v, cents)
      .filter(col("crank") <= nProbe && col("nrm") > 0)
      .select(col("vec_id"), col("qv"), col("nrm"), col("cid"), col("crank"))
    val lists = assigned.filter(col("crank") === 1)
      .select(col("cid"), col("vec_id"), col("qv"), col("nrm"))
    val probes = assigned.filter(queryPred)
      .select(col("cid"), col("vec_id").as("query_id"), col("qv").as("q_qv"),
        col("nrm").as("qn"))
    // alias both sides: lists/probes derive from the same plan, and
    // an unaliased cid === cid reads as trivially-true to the analyzer
    // (lint warning) even though the join is real
    val pairs = lists.as("l").join(probes.as("p"),
        col("l.cid") === col("p.cid") && col("vec_id") =!= col("query_id"))
      .withColumn("cos",
        VectorOps.dotLong(col("q_qv"), col("qv")) / (col("qn") * col("nrm")))
    rankTopK(pairs, "vec_id", k)
  }

  /** [[ivfTopK]] with corpus-size-aware parameters — the ANN twin of
    * [[embeddingNearDupAuto]]: nCentroids = ⌈√n⌉ balances the two
    * costs that scale oppositely in k (assignment does k centroid
    * distances per vector, a probe scans ~n/k per list), and nProbe
    * defaults to ⌈nCentroids/8⌉ (≥ 2) so the probed corpus fraction
    * stays ~constant as the list count grows. One count() sizes
    * everything; fixed-parameter [[ivfTopK]] stays for oracle parity.
    */
  def ivfTopKAuto(emb: DataFrame, queryPred: Column, k: Int = 3,
      nProbe: Int = 0, iters: Int = 2): DataFrame = {
    val n = emb.count()
    val nCentroids = math.max(2, math.ceil(math.sqrt(n.toDouble)).toInt)
    val probes = if (nProbe > 0) nProbe
      else math.max(2, (nCentroids + 7) / 8)
    ivfTopK(emb, queryPred, k, nCentroids, probes, iters)
  }

  /** The [[planeWeightSql]] formula evaluated driver-side for the
    * broadcast weight table (j = plane, i = 1-based dim). */
  private def planeWeightValue(j: Int, i1: Int): Long = {
    val v = j.toLong * 64 + i1
    ((v * v) % 10007) * 2654435761L % 97 - 48
  }

  /** Banded sign-LSH: `bands` independent hash tables of
    * `planesPerBand` hyperplane sign bits each — one row per
    * (vector, band). Two vectors are candidates when ANY band's full
    * signature matches: P(candidate) = 1 − (1 − (1 − θ/π)^r)^B, the
    * classic S-curve that keeps high-recall candidates for pairs at
    * or above the similarity threshold while pruning the noise floor.
    *
    * Implementation: every projection is a native codegen'd
    * [[VectorOps.dotLong]] against a LITERAL integer weight array over
    * the 1e6-quantized vector — the whole B·r-plane signature is one
    * shuffle-free projection per vector (the earlier explode-join
    * formulation materialized n·64·B·r intermediate rows through two
    * aggregations; at 20k vectors that was 150M rows of pure signature
    * plumbing), and the exact-integer sign test cannot drift across
    * engines regardless of the oracle's summation order (the previous
    * round-to-6dp float form had a latent ulp-at-the-boundary hazard).
    */
  def lshBandBuckets(emb: DataFrame, bands: Int = 24,
      planesPerBand: Int = 5): DataFrame =
    lshBandBucketsFromNorm(withNorm(emb), bands, planesPerBand)

  /** [[lshBandBuckets]] over an already-normed (vec_id, qv, …) frame —
    * callers that also rerank hand in their materialized norm frame so
    * the quantize transform chain is not re-derived from the scan on
    * every plan branch (see [[embeddingNearDup]]). */
  private def lshBandBucketsFromNorm(v: DataFrame, bands: Int,
      planesPerBand: Int): DataFrame =
    lshBandSigBucketsFromNorm(v, bands, planesPerBand)
      .select(col("vec_id"), col("band"), col("bucket"))

  /** [[lshBandBucketsFromNorm]] KEEPING the full band-signature array
    * per exploded row — embeddingNearDup's first-match early-exit
    * tests `sig_x[b'] = sig_y[b']` for bands b' below the matched one
    * straight off the two carried arrays (no extra shuffle or join).
    * Costs bands·8 B per (vector, band) row through the bucket
    * self-join — linear in n, and the aggregation-only consumers
    * (occupancy) column-prune it away. */
  private def lshBandSigBucketsFromNorm(v: DataFrame, bands: Int,
      planesPerBand: Int): DataFrame = {
    // ONE fused primitive loop for the whole B·r-plane signature
    // (VectorOps.LshBandSignature). The previous per-plane expression
    // fan-out — B·r separate `when(dotLong(qv, 64-long literal) > 0)`
    // columns — generated a whole-stage method so large HotSpot never
    // JIT-compiled it: the 100-plane auto signature cost ~250 µs per
    // vector (12 s / 40k vectors at organic sf1) for what is 6,400
    // multiply-adds. Fused loop: same bucket bits (exact integer dots
    // over min(|qv|,64) dims, > 0 sign test, null vector → all-zero
    // buckets); the oracle SQL is untouched because the signature is
    // bit-identical.
    val flat: Seq[Long] = (0 until bands * planesPerBand).flatMap(j =>
      (1 to 64).map(i1 => planeWeightValue(j, i1)))
    v.select(col("vec_id"),
        VectorOps.lshBandSignature(col("qv"), flat, bands, planesPerBand)
          .as("sig"))
      .select(col("vec_id"), col("sig"),
        posexplode(col("sig")).as(Seq("band", "bucket")))
  }

  /** D5 embedding near-dup, scale path: banded-LSH candidate
    * generation + exact cosine rerank ≥ threshold. The candidate
    * join is keyed on (band, bucket) — uniform by construction — and
    * carries only ids (vectors are joined back AFTER the cross-band
    * distinct), so no corpus fraction is ever broadcast and no
    * near-cross-join exists anywhere in the plan. Candidate volume is
    * ~B·n²/2^r per band at worst; pair recall at the threshold is the
    * banding S-curve (measured in SimilaritySpec, reported in
    * SURVEY.md).
    *
    * SCALE DISPATCH, cheapest-proof-first (r15: the occupancy pass
    * moved behind the broadcast test — the streamed shape's safety
    * never depended on the pair count, so measuring it first bought
    * nothing but the n·B aggregation):
    *
    *  - SINGLE-PASS pre-distinct (worst-case bound B·n·(n−1)/2 under
    *    the pair budget — GRAFT_EMB_PAIR_BUDGET /
    *    -Dgraft.emb.pair.budget, default 2·10⁸ pairs): the gate-SF
    *    plan, proved safe from the input count alone.
    *  - STREAMED rerank (vectors fit the heap-derived broadcast
    *    budget, the [[graft.graph.Ranking]] adjacency clamp
    *    precedent): candidates skip the pre-rerank distinct and flow
    *    map-side through TWO BroadcastHashJoins + the threshold
    *    filter, so nothing pair-sized ever shuffles or spills — the
    *    only exchange is the distinct over the tiny survivor set
    *    (a pair matching in k bands is scored k times and collapses
    *    there; candidate dots are ~100 ns each, orders of magnitude
    *    cheaper than shuffling the pair). Decided from nIn alone —
    *    no occupancy pass.
    *  - Vector table ABOVE the broadcast budget (the 100M×1KB-vector
    *    regime): one aggregation over the n·B signature rows yields
    *    the EXACT per-band pair count Σ c·(c−1)/2 over bucket
    *    occupancies c. Under the budget → the pre-distinct plan (one
    *    pair exchange, shuffle rerank); past it → BAND-CHUNKED
    *    shuffle rerank: bands greedy-pack into sequential chunks
    *    under the pair budget, each chunk's survivors eagerly
    *    materialized, so peak spill is ONE chunk's candidate shuffle
    *    (at a fixed banding the candidate volume grows quadratically
    *    with the corpus — the fixed-banding parity anchor hit
    *    ~7.5·10⁹ pairs at the sf10 probe and filled the bench host's
    *    disk; the pair frame must never materialize there).
    *
    * All shapes are exact by disjoint decomposition: the output set
    * is {pairs matching in ANY band with cosine ≥ τ}; cosine is a
    * deterministic function of the pair, so distinct over full
    * (doc_a, doc_b, cosine) rows collapses duplicates bit-exactly
    * and the oracle replays unchanged. (On a 1000-executor cluster
    * the budgets scale via the env/property knobs.)
    *
    * EAGERNESS: constructing the DataFrame runs Spark jobs before
    * any caller action — one localCheckpoint of the projected norm
    * frame (vec_id, qv, nrm) plus its count(), plus (only when the
    * worst-case bound exceeds the pair budget AND the vector table
    * is too big to broadcast) the occupancy aggregation over the n·B
    * signature rows, and in the chunked branch an eager
    * localCheckpoint per chunk. Small corpora — anything whose
    * all-in-one-bucket WORST case is under budget — skip the
    * occupancy pass entirely: paying a signature materialization
    * just to decide a dispatch that can only go one way was measured
    * at +1.7× on the sf0.1 board (r12 regression).
    */
  def embeddingNearDup(emb: DataFrame, threshold: Double, bands: Int = 24,
      planesPerBand: Int = 5): DataFrame = {
    // ONE materialized norm pass per call. The quantize chain
    // (transform/cast/round per element) is interpreted — higher-order
    // functions have no codegen — and the un-materialized plan
    // re-derived it from the scan on EVERY branch that mentions qv:
    // the posexplode's inferred size(sig)>0 filter, both sides of the
    // bucket self-join, and both rerank sides — 4-8 interpreted
    // passes per query (measured: the organic-sf1 auto rerank alone
    // 64 s live vs 21 s over a checkpointed norm frame, and the
    // checkpoint gives the planner EXACT sizes, so the rerank joins
    // broadcast instead of sort-merging the pair frame). Projected to
    // (vec_id, qv, nrm) before materializing — the raw double array
    // is dead weight here (guide: project before you materialize).
    val vAll = withNorm(emb).select(col("vec_id"), col("qv"), col("nrm"))
      .localCheckpoint(true)
    val bb = lshBandSigBucketsFromNorm(vAll, bands, planesPerBand)
    val v = vAll.filter(col("nrm") > 0)
    // parity-anchor first-match early-exit (r15 verdict #6): a true
    // near-dup pair collides in MANY of the fixed bands and was
    // re-scored once per matching band, the duplicates collapsed only
    // by the post-rerank distinct. Keeping the pair ONLY at its first
    // matching band — one early-exit loop over the two carried
    // signature arrays, no shuffle — drops every band-duplicate
    // BEFORE the rerank joins and dots. Output set unchanged: each
    // colliding pair still has exactly one emitting band (and in the
    // chunked branch that band lives in exactly one chunk), so the
    // downstream distincts see the same pair set.
    def candidatesRaw(b: DataFrame): DataFrame = b.as("x").join(b.as("y"),
        col("x.band") === col("y.band") && col("x.bucket") === col("y.bucket") &&
          col("x.vec_id") < col("y.vec_id"))
      .filter(VectorOps.lshFirstMatchBand(col("x.sig"), col("y.sig"))
        === col("x.band"))
      .select(col("x.vec_id").as("doc_a"), col("y.vec_id").as("doc_b"))
    def rerank(cand: DataFrame, wrap: DataFrame => DataFrame): DataFrame = cand
      .join(wrap(v.select(col("vec_id").as("doc_a"), col("qv").as("qa"),
        col("nrm").as("na"))), "doc_a")
      .join(wrap(v.select(col("vec_id").as("doc_b"), col("qv").as("qb"),
        col("nrm").as("nb"))), "doc_b")
      .withColumn("cosine",
        rnd(VectorOps.dotLong(col("qa"), col("qb")) / (col("na") * col("nb")), 4))
      .filter(col("cosine") >= threshold)
      .select(col("doc_a"), col("doc_b"), col("cosine"))
    val pairBudget: Long = knob("graft.emb.pair.budget",
      "GRAFT_EMB_PAIR_BUDGET").getOrElse(200000000L)
    // Sufficient check BEFORE any signature work: even if every vector
    // landed in ONE bucket a band yields n·(n−1)/2 pairs, so
    // B·n·(n−1)/2 ≤ budget proves the single-pass branch safe from one
    // count() of the input — no occupancy pass runs just to pick a
    // branch that can only go one way (the r12 sf0.1 board paid that
    // pass on every small-corpus call: dedup_embedding 1.65→2.84 s).
    // row-preserving projection of emb; an UPPER BOUND on the
    // broadcast relation's rows (zero-norm rows are counted here but
    // filtered from v and never broadcast) — harmlessly conservative
    val nIn: Long = vAll.count()
    // built-relation budget for ONE side of the rerank: ~800 B/row
    // (64 quantized longs + raw floats + norm + hash-table overhead),
    // two sides live at once → heap/16, clamped well under Spark's
    // 8 GB BroadcastExchange hard limit
    val broadcastVecMaxRows: Long = knob("graft.emb.bcast.rows",
      "GRAFT_EMB_BCAST_ROWS").getOrElse(math.min(Runtime.getRuntime.maxMemory / 16L, 3500000000L) / 800L)
    if (bands.toDouble * nIn.toDouble * (nIn - 1).toDouble / 2 <= pairBudget.toDouble)
      rerank(candidatesRaw(bb).distinct(), identity)
        .orderBy("doc_a", "doc_b")
    else if (nIn <= broadcastVecMaxRows)
      // STREAMED rerank decided from nIn ALONE — nothing pair-sized
      // ever materializes in this shape (candidates flow map-side
      // through two BroadcastHashJoins straight into the threshold
      // filter), so its safety never depended on the pair count and
      // the occupancy aggregation bought nothing here. The old
      // dispatch ran occupancy first and then PREFERRED the
      // pre-distinct plan when pairs ≤ budget — paying one exchange
      // of the full candidate frame (600 MB at organic sf1's 37M
      // pairs) to save re-scoring band-duplicate candidates, a bad
      // trade when a noise candidate matches in ~1 band (dots are
      // ~100 ns; the exchange is not). Survivor distinct collapses
      // band duplicates bit-exactly (cosine is a deterministic
      // function of the pair), so the output set is unchanged.
      rerank(candidatesRaw(bb), broadcast)
        .distinct().orderBy("doc_a", "doc_b")
    else {
    // exact per-band pair volume from bucket occupancy: c·(c−1) is
    // even, so `div 2` per bucket is exact and the count stays an
    // integral LONG end-to-end — the earlier `/ 2` cast the sum
    // through Double, whose 53-bit mantissa silently loses pair-count
    // precision above ~9·10¹⁵ pairs/band (plausible at the 100M-vector
    // regime this dispatch exists for). max(c) rides along to prove
    // (or refute) per-sub-chunk spill bounds under bucket skew, and
    // the distinct-bucket count caps the useful sub-split fanout.
    val perBand: Array[(Int, Long, Long, Long, Long)] = bb.groupBy("band", "bucket")
      .agg(count(lit(1)).as("c"))
      .groupBy("band").agg(sum(expr("c * (c - 1) div 2")).as("pairs"),
        sum(col("c")).as("n"), max(col("c")).as("mx"),
        count(lit(1)).as("nbkt"))
      .orderBy("band")
      .collect().map(r =>
        (r.getInt(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
    // (the vector table is NOT broadcastable on this branch — nIn >
    // broadcastVecMaxRows, and the per-band signature row count
    // equals nIn — so the streamed shape is out; occupancy decides
    // between the one-exchange pre-distinct plan and band chunking)
    if (perBand.map(_._2).sum <= pairBudget)
      rerank(candidatesRaw(bb).distinct(), identity)
        .orderBy("doc_a", "doc_b")
    else {
      val bbP = bb.localCheckpoint(true) // n·B narrow rows, signed once
      // Greedy band packing under the budget. A SINGLE band over
      // budget (hot buckets under skewed data) sub-splits by
      // bucket-hash range: pairs require equal bucket, so a
      // bucket-disjoint partition of a band is pair-disjoint and the
      // exactness decomposition is unchanged — without this, one hot
      // band became a lone unbounded chunk and silently reinstated
      // the pre-dispatch disk-fill failure. A single BUCKET over
      // budget cannot be split without breaking pair locality (that
      // c²/2 blowup is what bandingFor exists to prevent): warn
      // loudly that the per-chunk spill bound is exceeded.
      val preds = scala.collection.mutable.ArrayBuffer.empty[Column]
      var cur = Vector.empty[Int]; var curPairs = 0L
      def flush(): Unit = if (cur.nonEmpty) {
        preds += col("band").isin(cur: _*); cur = Vector.empty; curPairs = 0L
      }
      perBand.foreach { case (b, p, _, mx, nbkt) =>
        if (p > pairBudget) {
          flush()
          // fanout capped by the band's DISTINCT-bucket count: a
          // bucket is atomic under the equal-bucket join key, so more
          // sub-chunks than buckets only adds empty checkpoint jobs
          val nSplit = Seq(1024L, math.max(1L, nbkt),
            p / pairBudget + 1).min.toInt
          if (mx * (mx - 1) / 2 > pairBudget)
            org.slf4j.LoggerFactory.getLogger(getClass).warn(
              s"embeddingNearDup: band $b has a single bucket with $mx " +
                s"vectors (${mx * (mx - 1) / 2} pairs > budget $pairBudget)" +
                " — per-chunk spill bound exceeded; re-band via bandingFor")
          (0 until nSplit).foreach { i =>
            preds += (col("band") === b &&
              pmod(hash(col("bucket")), lit(nSplit)) === i)
          }
        } else {
          if (cur.nonEmpty && curPairs + p > pairBudget) flush()
          cur :+= b; curPairs += p
        }
      }
      flush()
      val parts = preds.toSeq.map { pr =>
        rerank(candidatesRaw(bbP.filter(pr)).distinct(), identity)
          .localCheckpoint(true) // eager: one chunk's spill at a time
      }
      parts.reduce(_.unionAll(_)).distinct().orderBy("doc_a", "doc_b")
    }
    }
  }

  /** Banding chooser for [[embeddingNearDup]]: at a fixed signature
    * size the per-bucket population — and with it the candidate pair
    * volume — grows quadratically with the corpus (measured: the
    * 24×5 default that serves 2k vectors in 3.5 s takes 105 s at 20k).
    * planesPerBand must grow with log₂(n) and bands with the S-curve
    * ln(1−recall)/ln(1−s^r), s = 1 − acos(τ)/π. This picks (bands,
    * planesPerBand) minimizing estimated work
    * `B·(n·r·d + n²/2^r)` (signature cost + expected uniform-bucket
    * pair cost) subject to the recall target. Model picks at τ=0.4,
    * recall 0.9: (14,4) at n≤2k, (22,5) at 20k — right at the shipped
    * 24×5, whose measured pair recall 0.92 confirms the S-curve —
    * (57,7) at 200k, (229,10) at 2M; at τ=0.9 (real near-dup dedup)
    * it stays tiny: (5,6) at 20k, (14,12) at 2M.
    */
  def bandingFor(n: Long, threshold: Double, recallTarget: Double = 0.9,
      dim: Int = 64): (Int, Int) = {
    val s = 1.0 - math.acos(threshold) / math.Pi
    val best = (4 to 16).map { r =>
      val pBand = math.pow(s, r.toDouble)
      val bands = math.max(1, math.ceil(
        math.log(1 - recallTarget) / math.log(1 - pBand)).toInt)
      val work = bands.toDouble * (n.toDouble * r * dim +
        n.toDouble * n.toDouble / math.pow(2, r.toDouble))
      (work, bands, r)
    }.minBy(_._1)
    (best._2, best._3)
  }

  /** [[embeddingNearDup]] with corpus-size-aware banding: one count()
    * of the input sizes the signature. Use this at scale; the
    * fixed-parameter form stays for oracle parity. */
  def embeddingNearDupAuto(emb: DataFrame, threshold: Double,
      recallTarget: Double = 0.9): DataFrame = {
    val (bands, planes) = bandingFor(emb.count(), threshold, recallTarget)
    embeddingNearDup(emb, threshold, bands, planes)
  }

  /** The corpus plus one deterministically jittered twin per vector
    * (ids offset by `offset`): dim d is scaled by
    * 1 + ((d·7 mod 5) − 2)·0.2 ∈ {0.6 … 1.4}, which lands each
    * (original, twin) cosine at ≈ 1/√E[f²] ≈ 0.96 while leaving every
    * other pair untouched (max cross cosine in the test corpus is
    * ~0.51). Gives the τ=0.9 near-dup gate planted positives — the
    * synthetic embeddings have NO natural pairs above cosine 0.52, so
    * a high-threshold gate over the raw table would be vacuous. The
    * jitter is applied to the DOUBLE-cast value in a fixed per-dim
    * pattern so the oracle replays it bit-identically.
    *
    * The id offset is 2⁴⁰ — far above any replicated-corpus id:
    * ScaleBench strides replica ids by 10⁶, so the old 10⁶ default
    * made replica-r twins COLLIDE with replica-(r+1)'s real ids at
    * ≥2× replication, fanning out the rerank joins across duplicate
    * vec_ids and silently corrupting the scale numbers. */
  val TwinIdOffset: Long = 1L << 40

  def withJitteredTwins(emb: DataFrame, offset: Long = TwinIdOffset): DataFrame = {
    val twin = emb.select((col("vec_id") + offset).as("vec_id"),
      transform(col("embedding"), (x, d) =>
        x.cast("double") * (lit(1.0) + (d * 7 % 5 - 2).cast("double") * lit(0.2)))
        .as("embedding"))
    emb.select(col("vec_id"), asDouble(col("embedding")).as("embedding"))
      .unionByName(twin)
  }

  /** Scalar int8 quantization of the embedding column: per-vector
    * symmetric max-abs scale, code_i = round(127·x_i/maxabs) — the
    * 4× storage/bandwidth cut that makes a 100 TB ANN corpus fit the
    * page cache; reconstruction x̂_i = code_i·maxabs/127. Pure
    * higher-order-function arithmetic (codegen'd, no UDF). Returns
    * (vec_id, scale, codes, recon_mse) — downstream rerank can score
    * on codes (int dot) and rescale, or use recon for exactness
    * bounds. Rounding pinned to 6/8 dp so the oracle replays it.
    */
  def quantizeInt8(emb: DataFrame): DataFrame =
    quantizeStats(emb)
      .select(col("vec_id"),
        round(col("q").getField("maxabs") / 127.0, 8).as("scale"),
        col("q").getField("codes").as("codes"),
        round(col("q").getField("err2")
          / size(col("q").getField("codes")), 8).as("recon_mse"))

  /** ONE fused primitive pass per vector
    * (functions.QuantizeInt8Stats) replacing the r15 chain of six
    * interpreted higher-order-function passes — maxabs fold, codes
    * transform, zip_with err² fold, two code folds, cast transform —
    * each of which allocated a boxed array per row. Arithmetic,
    * rounding (Spark's BigDecimal HALF_UP) and null semantics are
    * replayed verbatim; the downstream `round`s stay Spark
    * expressions so the oracle-visible values are untouched. */
  private def quantizeStats(emb: DataFrame): DataFrame =
    emb.select(col("vec_id"),
      graft.functions.QuantizeOps.int8Stats(col("embedding")).as("q"))

  /** Driver-contract view of [[quantizeInt8]]: scalar summary per
    * vector (array column hashing is engine-dependent, so the gate
    * carries the code checksum instead of the raw array). */
  def quantizeSummary(emb: DataFrame): DataFrame =
    quantizeStats(emb)
      .select(col("vec_id"),
        round(col("q").getField("maxabs") / 127.0, 8).as("scale"),
        col("q").getField("code_sum").as("code_sum"),
        col("q").getField("code_sq_sum").as("code_sq_sum"),
        round(col("q").getField("err2")
          / size(col("q").getField("codes")), 8).as("recon_mse"))
      .orderBy("vec_id")

  /** Embedding-norm health profile per label bucket: n, zero-vector
    * count, min/max/floor-mean squared norm in the exact 1e-6-
    * quantized integer contract (‖q‖² = Σ qx², qx = round(x·10⁶) —
    * the sim_topk arithmetic, so the same numbers gate retrieval
    * too). Zero and near-zero vectors are the classic silent killer
    * of cosine pipelines; this is the one-pass pre-flight check.
    * MAP-ONLY per row (one `aggregate` fold) + one |labels|-row agg;
    * the mean rides DECIMAL(38,0)/HUGEINT.
    */
  def normStats(emb: DataFrame): DataFrame =
    emb
      .select(col("label").cast("long").as("label"),
        aggregate(quantize(asDouble(col("embedding"))), lit(0L),
          (acc, x) => acc + x * x).as("n2"))
      .groupBy("label")
      .agg(count(lit(1)).as("n_vecs"),
        sum(when(col("n2") === 0, 1L).otherwise(0L)).as("n_zero"),
        min(col("n2")).as("min_norm2"), max(col("n2")).as("max_norm2"),
        sum(col("n2").cast("decimal(38,0)")).as("_s"))
      .select(col("label"), col("n_vecs"), col("n_zero"), col("min_norm2"),
        col("max_norm2"), expr("CAST(_s div n_vecs AS BIGINT)").as("mean_norm2"))
      .orderBy("label")

  /** Product quantization (Jégou, Douze & Schmid, TPAMI 2011): split
    * each vector into `m` contiguous subvectors and vector-quantize
    * every subspace independently with its own k-codeword codebook —
    * memory drops from dim floats to m small codes while distances
    * stay approximable per-subspace. Codebooks train with the SHARED
    * fixed-point Lloyd ([[kmeansCentroids]] over the sliced frame), so
    * training and assignment are bit-deterministic cross-engine like
    * the rest of the ANN family; `dist` is the exact integer squared
    * distance to the assigned codeword. Each subspace is one broadcast
    * of a k-row codebook — the corpus streams, nothing else shuffles.
    * Returns (vec_id, subspace, code, dist).
    */
  def productQuantize(emb: DataFrame, m: Int = 2, k: Int = 4,
      iters: Int = 2): DataFrame = {
    val first = emb.select(size(col("embedding"))).take(1)
    require(first.nonEmpty, "productQuantize needs a non-empty corpus")
    val dim = first.head.getInt(0)
    require(dim % m == 0, s"dim $dim not divisible into $m subspaces")
    val sub = dim / m
    (0 until m).map { j =>
      val subEmb = emb.select(col("vec_id"),
        slice(col("embedding"), j * sub + 1, sub).as("embedding"))
      val vj = normCheckpoint(subEmb)
      val cents = kmeansCentroidsFromNorm(vj, k, iters)
      centroidRanks(vj, cents)
        .filter(col("crank") === 1)
        .select(col("vec_id"), lit(j).as("subspace"),
          col("cid").as("code"), col("dist"))
    }.reduce(_ unionByName _).orderBy("vec_id", "subspace")
  }

  /** Deterministic signed random projection (the dense-±small-integer
    * Achlioptas family): each output coordinate is the exact long dot
    * out_j = Σ_i qx_i·w(i,j) over the 1e6-quantized vector, with
    * w(i,j) ∈ [−48, 48] from the same integer-hash plane construction
    * as [[lshBandBuckets]] (different mix constant, so the projection
    * is independent of the LSH buckets). Map-only — no shuffle, no
    * UDF, `outDims` codegen'd zip_with/aggregate folds per row; at
    * 100 TB this is a pure scan-side transform. Output is one
    * (vec_id, j, proj) row per output dim; dividing proj by 1e6
    * recovers the float projection to quantization precision.
    */
  def projectSigned(emb: DataFrame, outDims: Int = 16): DataFrame = {
    // width read from the data once (the kmeansIterate lesson: a
    // hardcoded 64 silently breaks non-64-dim corpora); an empty
    // corpus projects to an empty frame, not a head()-crash (the
    // kmeansCentroids convention)
    val first = emb.select(size(col("embedding"))).take(1)
    if (first.isEmpty)
      return emb.limit(0).select(col("vec_id"), lit(0).as("j"),
        lit(0L).as("proj"))
    val dim = first.head.getInt(0)
    val q = emb.select(col("vec_id"), quantize(asDouble(col("embedding"))).as("qx"))
    val outs = (0 until outDims).map { j =>
      val w = (1 to dim).map { i => // i is 1-based: generate_subscripts parity
        val k = j.toLong * dim + i
        ((k * k) % 10007) * 2246822519L % 97 - 48
      }.toArray
      // native codegen dot against the literal weight column — the
      // zip_with form allocated an interpreted intermediate array per
      // (row, output dim); the long sum is order-free (bit-identical)
      VectorOps.dotLong(col("qx"), typedlit(w))
    }
    q.select(col("vec_id"), posexplode(array(outs: _*)).as(Seq("j", "proj")))
      .orderBy("vec_id", "j")
  }

  /** Exact-semantics embedding near-dup over a sampled anchor set
    * (anchor % sampleMod == 0): every anchor×corpus pair gets an
    * exact cosine. Correct at any size but the anchor set is
    * broadcast — small-corpus / ground-truth use only; the scale
    * operator is [[embeddingNearDup]]. */
  def embeddingNearDupExact(emb: DataFrame, threshold: Double,
      sampleMod: Int = 10): DataFrame = {
    // materialized + projected once, for the same reason as the
    // topKCosine brute pass: the n × n/sampleMod nested-loop join
    // must stream over primitive checkpointed arrays, not re-derive
    // the interpreted quantize chain inside the pair loop's stage
    val v = withNorm(emb).select(col("vec_id"), col("qv"), col("nrm"))
      .filter(col("nrm") > 0).localCheckpoint(true)
    val a = v.filter(col("vec_id") % sampleMod === 0)
      .select(col("vec_id").as("doc_a"), col("qv").as("qa"), col("nrm").as("na"))
    v.join(broadcast(a), col("doc_a") < col("vec_id"))
      .withColumn("cosine",
        rnd(VectorOps.dotLong(col("qa"), col("qv")) / (col("na") * col("nrm")), 4))
      .filter(col("cosine") >= threshold)
      .select(col("doc_a"), col("vec_id").as("doc_b"), col("cosine"))
      .orderBy("doc_a", "doc_b")
  }

  /** D26 SemDeDup (Abbas et al. 2023): cluster the corpus with the
    * trained integer k-means, then dedup PAIRWISE ONLY WITHIN EACH
    * CLUSTER — the clusters bound the quadratic: total pair work is
    * Σ nᵢ²/2 ≈ n²/(2k) instead of n²/2, and each cluster's pairs are
    * one equality join on cid. With k ~ √n (the [[ivfTopKAuto]]
    * sizing) the per-cluster population stays ~√n at any corpus
    * size. Cross-cluster near-dups are the recall loss the paper
    * accepts; [[embeddingNearDup]] is the recall-oriented sibling.
    *
    * A vector is DROPPED when some smaller-id vector in its cluster
    * has cosine ≥ threshold; its anchor is the SMALLEST such id
    * (deterministic, and the min-struct aggregation carries the
    * anchor's cosine along). Cosines ride the fixed-point contract
    * (integer dots ÷ quantized norms — bit-identical cross-engine).
    * Returns (vec_id, cid, anchor_id, cosine).
    */
  def semanticDedup(emb: DataFrame, threshold: Double, k: Int = 16,
      iters: Int = 2): DataFrame = {
    val v = normCheckpoint(emb)
    val cents = kmeansCentroidsFromNorm(v, k, iters)
    val asg = centroidRanks(v, cents).filter(col("crank") === 1)
      .select(col("cid"), col("vec_id"), col("qv"), col("nrm"))
      .localCheckpoint(true)
    val pairs = asg.as("a").join(asg.as("b"),
        col("a.cid") === col("b.cid") && col("a.vec_id") < col("b.vec_id")
          && col("a.nrm") > 0 && col("b.nrm") > 0)
      .withColumn("cos",
        VectorOps.dotLong(col("a.qv"), col("b.qv")) / (col("a.nrm") * col("b.nrm")))
      .filter(col("cos") >= threshold)
    pairs
      .groupBy(col("b.vec_id").as("vec_id"), col("b.cid").as("cid"))
      .agg(min(struct(col("a.vec_id").as("aid"), col("cos"))).as("m"))
      .select(col("vec_id"), col("cid"), col("m.aid").as("anchor_id"),
        rnd(col("m.cos"), 4).as("cosine"))
      .orderBy("vec_id")
  }
}
