package graft.pipeline

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import org.apache.spark.sql.Column

import graft.functions.{FrameMemo, TextOps}
import graft.functions.TextOps.P

/** Deduplication operators for large-scale training-data pipelines
  * (SURVEY.md §2 D1–D4).
  *
  * Scale discipline: no operator ever materializes the full O(n²)
  * pair space — candidates come from equality bucket joins (exact
  * hash, minhash bands, simhash bit-bands, shared shingles), each a
  * plain shuffle join on a uniform key that AQE can also skew-split.
  */
object Dedup {

  private def rnd(c: Column, s: Int): Column = graft.functions.Rounding.rnd(c, s)

  /** D1 exact dedup: md5 content groups with the canonical (min) id.
    * One shuffle on the 128-bit hash — uniform by construction. */
  def exact(docs: DataFrame): DataFrame =
    docs
      .groupBy(md5(col("text")).as("text_hash"))
      .agg(count(lit(1)).as("n_docs"), min(col("doc_id")).as("canonical_id"))
      .orderBy("text_hash")

  /** Minhash signatures, long form: (doc_id, perm, mh). Rides the
    * shared distinct shingle set (min over distinct == min over the
    * bag), so the corpus scan + shingle window is paid once per board
    * rather than once per dedup-family query. */
  def minhashLong(docs: DataFrame): DataFrame = {
    val sh = TextOps.shinglesShared(docs)
    val aggs = TextOps.MinhashA.indices.map { i =>
      min(TextOps.minhashPerm(col("sh"), i)).as(s"mh$i")
    }
    val wide = sh.groupBy("doc_id").agg(aggs.head, aggs.tail: _*)
    val stackExpr = TextOps.MinhashA.indices
      .map(i => s"$i, mh$i").mkString(s"stack(${TextOps.MinhashA.length}, ", ", ", ") as (perm, mh)")
    wide.select(col("doc_id"), expr(stackExpr))
  }

  /** The checkpointed [[minhashLong]] signature table, memoized per
    * docs frame identity — eight gated queries (lsh, clusters,
    * keep-best, edit-distance rerank, cross-source, inflation, bucket
    * stats, split leakage) each re-derived it before round 8. */
  private val sigsMemo = new FrameMemo
  def minhashSigsShared(docs: DataFrame): DataFrame =
    sigsMemo.getOrBuild(docs) { minhashLong(docs).localCheckpoint(true) }

  /** D2 MinHash+LSH near-dup: candidates share ≥1 of 8 single-row
    * bands (= one equal minhash); estimated Jaccard = matching
    * permutations / 8. Returns (doc_a, doc_b, est_jaccard).
    *
    * The band join key (perm, mh) is uniform, so the bucket join
    * scales linearly; the signature join to score candidates touches
    * only candidate pairs.
    */
  def minhashLsh(docs: DataFrame): DataFrame = {
    // The signature table is read 4× (both candidate sides + both
    // scoring sides) and by 8 sibling queries — the shared memoized
    // checkpoint serves all of them (it is tiny: 8 rows/doc).
    minhashLshFromSigs(minhashSigsShared(docs))
  }

  /** [[minhashLsh]] from an explicit signature frame — the form the
    * composed pipeline uses so a SUBSET corpus (stage survivors) can
    * ride the root corpus's memoized signatures filtered per-doc
    * instead of re-signing the subset. */
  def minhashLshFromSigs(mh: DataFrame): DataFrame = {
    val cand = mh.as("x").join(mh.as("y"),
        col("x.perm") === col("y.perm") && col("x.mh") === col("y.mh") &&
          col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b"))
      .distinct()
    scorePairs(cand, mh).orderBy("doc_a", "doc_b")
  }

  /** Estimated Jaccard for (doc_a, doc_b) candidate pairs from a
    * signature table: matching-minhash fraction over the permutation
    * count — THE est_jaccard definition, shared by the batch LSH and
    * the incremental ingest so the equivalence contract has one
    * implementation. (k/8 fractions never land on a rounding half
    * boundary, so engine-native round is safe here.) */
  private def scorePairs(cand: DataFrame, sigs: DataFrame): DataFrame =
    cand
      .join(sigs.as("a"), col("doc_a") === col("a.doc_id"))
      .join(sigs.as("b"), col("doc_b") === col("b.doc_id") && col("a.perm") === col("b.perm"))
      .groupBy("doc_a", "doc_b")
      .agg(round(sum(when(col("a.mh") === col("b.mh"), 1).otherwise(0)) /
        lit(TextOps.MinhashA.length.toDouble), 4).as("est_jaccard"))

  /** Persist the minhash signature table (the incremental-dedup
    * state, 8 rows/doc) keyed for the band join — the Fulltext-index
    * save/load convention applied to dedup. */
  def saveSignatures(docs: DataFrame, path: String): Unit =
    minhashLong(docs).repartition(col("perm"), col("mh"))
      .write.mode("overwrite").parquet(path)

  /** Incremental near-dup ingest: score NEW documents against a
    * persisted signature store WITHOUT touching the existing corpus
    * text — the continuous-ingest path (a 100 TB corpus is not
    * re-minhashed because a day's crawl arrived). New docs are
    * signed (the only text pass), candidates come from the band join
    * of new signatures against store ∪ new (so new↔new dups are
    * caught too), and est_jaccard is computed exactly as
    * [[minhashLsh]] does. Equivalence contract (spec): the result ==
    * the full [[minhashLsh]] over old ∪ new, restricted to pairs
    * touching a new doc. Returns (doc_a, doc_b, est_jaccard,
    * both_new).
    */
  def dedupIncremental(spark: org.apache.spark.sql.SparkSession,
      storePath: String, newDocs: DataFrame): DataFrame =
    dedupIncrementalFrames(spark.read.parquet(storePath), newDocs)

  /** [[dedupIncremental]] core over an in-memory signature frame —
    * the gated/oracle-replayable form (no file I/O in the plan). */
  def dedupIncrementalFrames(stored: DataFrame, newDocs: DataFrame): DataFrame =
    dedupIncrementalWithState(stored, newDocs)._2

  /** [[dedupIncrementalFrames]] exposing the UPDATED signature table
    * alongside the near-dup report: the `all` frame the scoring
    * already builds (stored minus superseded ids, union fresh) IS the
    * store's next state, so the composed refresh ([[graft.importer.Refresh]])
    * persists it instead of re-signing anything. Returns
    * (mergedSignatures, report). */
  def dedupIncrementalWithState(stored: DataFrame,
      newDocs: DataFrame): (DataFrame, DataFrame) = {
    val fresh = minhashLong(newDocs).localCheckpoint(true)
    val newIds = fresh.select("doc_id").distinct()
    // a re-imported doc_id supersedes its stored signatures
    // (last-write-wins, the GraphStore.merge contract)
    val all = stored
      .join(newIds.select(col("doc_id").as("nid")),
        col("doc_id") === col("nid"), "left_anti")
      .unionByName(fresh)
      .localCheckpoint(true)
    val cand = fresh.as("x").join(all.as("y"),
        col("x.perm") === col("y.perm") && col("x.mh") === col("y.mh") &&
          col("x.doc_id") =!= col("y.doc_id"))
      .select(least(col("x.doc_id"), col("y.doc_id")).as("doc_a"),
        greatest(col("x.doc_id"), col("y.doc_id")).as("doc_b"))
      .distinct()
    val report = scorePairs(cand, all)
      .join(newIds.select(col("doc_id").as("na")), col("doc_a") === col("na"), "left")
      .join(newIds.select(col("doc_id").as("nb")), col("doc_b") === col("nb"), "left")
      .select(col("doc_a"), col("doc_b"), col("est_jaccard"),
        (col("na").isNotNull && col("nb").isNotNull).as("both_new"))
      .orderBy("doc_a", "doc_b")
    (all, report)
  }

  /** 40-bit SimHash signature per doc: token-frequency-weighted bit
    * votes over the token hash (40 low bits of the base-31 poly are
    * well-mixed; wider sig = selective hamming threshold even on
    * small-vocabulary corpora). The vote sum is linear in term
    * frequency, so occurrences feed the doc-level agg directly — no
    * (doc_id, token) tf pre-pass: that shuffle added nothing (rows
    * crossing the network are one partial-agg row per doc either
    * way) and cost a full extra exchange of the token-instance set. */
  def simhashSignatures(docs: DataFrame): DataFrame = {
    // 56-bit signature over the 61-bit re-mixed token hash
    // (TextOps.simMix): the raw poly hash only fills ~43 bits, which
    // capped the old signature at 40 bits / 5-bit bands — a 1/32
    // band-collision rate whose candidate join, not the output pair
    // list, dominated the 10x probe. The current 8-bit bands collide
    // at 1/256 (see SimBands/SimBandBits) for the identical
    // pigeonhole guarantee at maxHamming ≤ 6.
    val occ = TextOps.tokensBag(docs)
      .withColumn("th", TextOps.simMixOf(TextOps.tokenHash(col("token"))))
    // ONE fused partial aggregate for all 56 bit votes
    // (graft.functions.SimhashSigAgg) — the 56-separate-sum form paid
    // 56 codegen'd agg-expression updates per token occurrence;
    // signature bit-identical (integer vote sums, same >0 test).
    occ.groupBy("doc_id")
      .agg(graft.functions.SimhashAgg.sig(col("th"), SimBits).as("sig"))
  }

  /** Signature width and band geometry: 7 bands × 8 bits. Pigeonhole:
    * ≤ 6 flipped bits touch at most 6 bands, leaving ≥ 1 of 7 intact,
    * so the band join is exact for maxHamming ≤ 6 — and the leftmost-
    * matching-band dedup needs exactly that one intact copy.
    *
    * r15: was 8 bands × 7 bits — same 56-bit signature, same exact
    * pair output, but a 7-bit band collides at 1/128 vs 8-bit at
    * 1/256, and the candidate join is the operator's whole cost
    * (candidates ≈ bands·n²/2^bits: n²/16 then, n²/36.6 now — 2.3×
    * fewer rows through the XOR filter; the pair list is identical by
    * the pigeonhole above). The signature itself is untouched, so
    * hamming values and the oracle replay cannot move. */
  val SimBits = 56
  val SimBands = 7
  val SimBandBits = 8

  /** D3 SimHash near-dup: pairs with Hamming distance ≤ 6 over the
    * 56-bit signature. Candidates via 7 bands × 8 bits — pigeonhole
    * guarantees every ≤6-distance pair shares ≥ 1 intact band, so the
    * banded join is exact (same result as the O(n²) scan), never a
    * cross join. `maxHamming` is bounded by the band count:
    * values > 6 are rejected (the 7-band geometry cannot prove
    * exactness past SimBands − 1). Returns (doc_a, doc_b, hamming).
    */
  def simhashNearDup(docs: DataFrame, maxHamming: Int = 6): DataFrame =
    simhashPairs(docs, maxHamming).orderBy("doc_a", "doc_b")

  /** Hamming-distance HISTOGRAM of the simhash near-dup pair space —
    * the summary-only twin of [[simhashNearDup]] for scale probes and
    * monitoring: identical candidate machinery (bit-bands, leftmost-
    * matching-band dedup, pigeonhole-complete for ≤ maxHamming), but
    * the output is |maxHamming|+1 rows instead of the pair list — at
    * the 10× probe the pair list alone is ~12 M rows of output
    * volume the histogram never materializes. `maxHamming` ≤ 6, as
    * [[simhashNearDup]]. */
  def simhashStats(docs: DataFrame, maxHamming: Int = 6): DataFrame =
    simhashPairs(docs, maxHamming)
      .groupBy("hamming").agg(count(lit(1)).as("n_pairs"))
      .orderBy("hamming")

  /** The checkpointed [[simhashSignatures]] table, memoized per docs
    * frame identity (the minhashSigsShared discipline): the pair
    * query (D3) and its histogram twin (D90) each re-derived the
    * token-explosion + 56-vote aggregate before this memo — the
    * signature pass, not the band join, dominates both. */
  private val simSigsMemo = new FrameMemo
  def simhashSigsShared(docs: DataFrame): DataFrame =
    simSigsMemo.getOrBuild(docs) {
      simhashSignatures(docs).localCheckpoint(true)
    }

  /** The ≤maxHamming pair frame at the gated default, memoized per
    * docs frame: its row count is the corpus's near-dup density
    * (146k rows at organic sf1 — output-small even when the band
    * join that PRODUCES it dominates), so once the pair query has
    * paid the join, the histogram twin rides the checkpoint instead
    * of re-running the candidate machinery. Non-default thresholds
    * bypass the memo. */
  private val simPairsMemo = new FrameMemo
  private def simhashPairs(docs: DataFrame, maxHamming: Int): DataFrame =
    if (maxHamming == 6)
      simPairsMemo.getOrBuild(docs) {
        simhashPairsBuild(docs, maxHamming).localCheckpoint(true)
      }
    else simhashPairsBuild(docs, maxHamming)

  private def simhashPairsBuild(docs: DataFrame, maxHamming: Int): DataFrame = {
    require(maxHamming <= SimBands - 1,
      s"band join is exact only to hamming ${SimBands - 1}")
    // 1 row/doc, read by both join sides — materialize once.
    val sig = simhashSigsShared(docs)
    val bands = sig.select(col("doc_id"), col("sig"),
      explode(array((0 until SimBands).map(b =>
        struct(lit(b).as("band"),
          shiftright(col("sig"), SimBandBits * b)
            .bitwiseAND((1L << SimBandBits) - 1).as("bits"))): _*)).as("bb"))
      .select(col("doc_id"), col("sig"), col("bb.band"), col("bb.bits"))
    // LEFTMOST-MATCHING-BAND dedup instead of a distinct shuffle: a
    // qualifying pair (≤ 6 flipped bits over 7 bands) shares ≥ 1
    // intact band, so the band join emits it 1–7×. Both full
    // signatures ride the joined row, so each copy can compute the
    // pair's SMALLEST matching band from the XOR alone and keep
    // itself only when it IS that band — pure codegen arithmetic,
    // map-side, exactly one surviving row per pair. The old
    // hamming-filter + distinct shuffled every surviving copy of
    // every near-dup pair (2–8× the output volume — 11.8 M pairs at
    // the 10× probe) through an exchange this form never pays.
    val xorSig = col("x.sig").bitwiseXOR(col("y.sig"))
    val minBand = least((0 until SimBands).map(b =>
      when(shiftright(xorSig, SimBandBits * b)
          .bitwiseAND((1L << SimBandBits) - 1) === 0, lit(b))
        .otherwise(lit(SimBands))): _*)
    bands.as("x").join(bands.as("y"),
        col("x.band") === col("y.band") && col("x.bits") === col("y.bits") &&
          col("x.doc_id") < col("y.doc_id"))
      .filter(col("x.band") === minBand)
      .select(col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b"),
        bit_count(xorSig).cast("long").as("hamming"))
      .filter(col("hamming") <= maxHamming)
  }

  /** Shingle-df skew cutover for [[ngramJaccardPrefix]]'s adaptive
    * dispatch: the expected plain-join candidate multiplier
    * m = Σdf²/Σdf (= the df of the average INCIDENCE — how many
    * partners the typical (doc, shingle) row meets in the self-join).
    * Measured r9 (SkewProbe): the driver corpus reads m = 2.1 at
    * sf0.01 / 10.7 at sf0.1 and plain wins absolute time at both
    * (3.2 s vs 5.1 s at sf0.1 — the r7 verdict's complaint); the
    * organic corpus (Heaps-grown vocabulary, df densifying with n)
    * reads m = 11.0 at sf0.1 where plain still wins (0.98 s vs
    * 2.79 s) and m = 17.9 at sf1 where the ranking pays for itself
    * (prefix 11.9 s vs plain 19.7 s, identical 1000-pair output) —
    * the measured crossover brackets [11, 17.9], and the cutover
    * sits at its geometric middle. At 100 TB the statistic is one
    * 1-row aggregate over the memoized df frame — an AQE-style
    * measured plan choice, not a guess. */
  val PrefixSkewCutover: Double = 14.0

  /** D4b ADAPTIVE prefix-filtered n-gram Jaccard join: measures the
    * corpus's shingle-df skew (one bounded 1-row aggregate over the
    * shared df frame) and only pays the rarity-ranking window when
    * the measured plain-join candidate multiplier says hot shingles
    * would dominate — on skew-free corpora the plain shared-shingle
    * join IS the faster lossless plan (r2 + r7 crossover
    * measurements), so dispatching to it is the prefix filter earning
    * its name as df-skew insurance rather than an always-on tax.
    * Either path returns the identical J ≥ τ pair set (the oracle is
    * plain [[ngramJaccard]] in both regimes). */
  /** The BOARD form of D4b (r14 verdict ask #5): always rides — or
    * builds — the shared τ = 0.1 pair frame, so whichever of D4/D4b
    * runs first pays the one sh-equality candidate join and the other
    * is a filter over the checkpoint; query ORDER on a board can
    * never forfeit the sharing (the measured dispatch would re-pay
    * the prefix plan when D4b lands first on a skewed corpus, even
    * though D4 must run the plain join later anyway).
    * [[ngramJaccardPrefix]] stays the standalone/production API:
    * without a sibling D4 on the same corpus, the skew dispatch picks
    * the cheaper lossless plan instead of this unconditional plain
    * join. Output is identical to both (the prefix filter is
    * lossless). */
  def ngramJaccardPrefixBoard(docs: DataFrame,
      minJaccard: Double = 0.5): DataFrame = {
    require(minJaccard >= JaccardMemoFloor,
      s"board form shares the tau=$JaccardMemoFloor pair frame; " +
        s"got $minJaccard")
    jaccardPairsShared(docs).filter(col("jaccard") >= minJaccard)
      .orderBy("doc_a", "doc_b")
  }

  def ngramJaccardPrefix(docs: DataFrame, minJaccard: Double = 0.5): DataFrame =
    // ride D4's memoized pair frame when a sibling query already paid
    // for it (r14 verdict ask #5): the prefix filter is LOSSLESS wrt
    // plain Jaccard, so filtering the shared J ≥ 0.1 frame at τ is the
    // identical output for one free scan — the skew dispatch below
    // remains the standalone/production plan when no sibling has paid
    if (minJaccard >= JaccardMemoFloor && jaccardPairsMemo.peek(docs).isDefined)
      jaccardPairsShared(docs).filter(col("jaccard") >= minJaccard)
        .orderBy("doc_a", "doc_b")
    else if (prefixSkewMultiplier(docs) < PrefixSkewCutover)
      ngramJaccard(docs, minJaccard)
    else ngramJaccardPrefixForced(docs, minJaccard)

  /** The measured dispatch statistic behind [[ngramJaccardPrefix]]:
    * Σdf²/Σdf over the shared shingle-df frame (0.0 for an empty
    * corpus). One bounded driver-side read of a 1-row aggregate. */
  def prefixSkewMultiplier(docs: DataFrame): Double = {
    val row = TextOps.shingleDfShared(docs)
      .agg((sum(col("df").cast("double") * col("df")) /
        sum(col("df").cast("double"))).as("m"))
      .head()
    if (row.isNullAt(0) || row.getDouble(0).isNaN) 0.0 else row.getDouble(0)
  }

  /** D4b prefix-filtered n-gram Jaccard join (similarity-join prefix
    * principle): order each doc's shingles by global rarity and keep
    * only the first |x| − ⌈τ·|x|⌉ + 1 as candidate-join keys — any
    * pair with J ≥ τ must share a prefix shingle, so the filter is
    * LOSSLESS (the oracle equals plain [[ngramJaccard]] at the same
    * τ) while candidate volume drops ~(1−τ)² and the hottest (most
    * common) shingles never become join keys at all. The always-on
    * form — [[ngramJaccardPrefix]] is the measured-skew dispatch.
    */
  def ngramJaccardPrefixForced(docs: DataFrame, minJaccard: Double = 0.5): DataFrame = {
    val sh = TextOps.shinglesShared(docs)
    val rarity = TextOps.shingleDfShared(docs)
      .select(col("sh"), col("df").as("sh_df"))
    // Rarity ranking WITHOUT a corpus-wide window: the row_number()
    // form range-sorted the whole (doc, shingle, df) frame just to
    // keep each doc's prefix — the top line of the sf10 board (459 s)
    // was that sort. Instead each doc's (df, sh) pairs collapse to one
    // array row (the same per-doc state the Vernica verification frame
    // below already carries), the codegen'd array_sort gives the
    // identical (sh_df, sh) total order — (df, sh) is unique within a
    // doc, so the order matches row_number's tie-break exactly — and
    // slice keeps the |x| − ⌈τ·|x|⌉ + 1 prefix with n_sh = size(ds)
    // computed in place (no sizes join). One hash-shuffle by doc_id,
    // per-doc O(n log n) local sorts, nothing corpus-globally ordered.
    val prefLen = s"cast(size(ds) - ceil($minJaccard * size(ds)) + 1 as int)"
    val ranked = sh.join(rarity, "sh")
      .groupBy("doc_id")
      .agg(collect_list(struct(col("sh_df"), col("sh"))).as("ds"))
      .select(col("doc_id"),
        explode(expr(s"slice(array_sort(ds), 1, $prefLen)")).as("p"))
      .select(col("doc_id"), col("p.sh").as("sh"))
    val cand = ranked.as("x").join(ranked.as("y"),
        col("x.sh") === col("y.sh") && col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b"))
      .distinct()
    // Verification à la Vernica/Carey set-similarity joins: each doc's
    // shingle set travels as ONE sorted-array row; per-pair overlap is
    // a codegen'd array_intersect — O(|a|+|b|) per candidate with no
    // groupBy behind it (the per-shingle explode-join variant re-walks
    // both docs through two skewed shuffles per pair and is ~10×
    // slower once candidates outnumber true pairs). The frame is the
    // board-shared Vernica memo — D4's sizes and D44's verify ride
    // the same checkpoint.
    val arrs = TextOps.shingleArraysShared(docs)
    cand
      .join(arrs.select(col("doc_id").as("doc_a"), col("arr").as("arr_a"),
        col("n_sh").as("na")), "doc_a")
      .join(arrs.select(col("doc_id").as("doc_b"), col("arr").as("arr_b"),
        col("n_sh").as("nb")), "doc_b")
      .withColumn("inter", size(array_intersect(col("arr_a"), col("arr_b"))).cast("long"))
      .select(col("doc_a"), col("doc_b"),
        round(col("inter") / (col("na") + col("nb") - col("inter")), 4).as("jaccard"))
      .filter(col("jaccard") >= minJaccard)
      .orderBy("doc_a", "doc_b")
  }

  /** Containment join — the ASYMMETRIC near-dup detector: pairs where
    * one doc's shingle set is ≥ `tauNum/tauDen` inside the other's
    * (quoted inclusion, boilerplate wrapping, excerpt pages — the
    * cases Jaccard structurally misses because a small doc inside a
    * big one has tiny |∩|/|∪|). The Jaccard prefix filter can't
    * generate these candidates either (it bounds the UNION), so
    * candidates come from shared RARE shingles: only shingles with
    * df ≤ `dfCap` propose pairs — a quoted span of ≥ 3 tokens always
    * carries rare shingles unless the quote is pure boilerplate, and
    * the cap bounds the self-join at dfCap·|shingles| exactly like
    * the minhash band and cosupply frequent-item caps. Verification
    * is the Vernica-style sorted-array intersect; both containments
    * ride the exact integer inequality den·|∩| ≥ num·min(|A|,|B|),
    * ratios are floor-form 4dp.
    */
  def containmentJoin(docs: DataFrame, tauNum: Int = 4, tauDen: Int = 5,
      dfCap: Int = 20): DataFrame = {
    val sh = TextOps.shinglesShared(docs)
    val rare = sh.join(
      TextOps.shingleDfShared(docs)
        .filter(col("df") <= dfCap).select("sh"),
      Seq("sh"), "left_semi")
    val cand = rare.as("x").join(rare.as("y"),
        col("x.sh") === col("y.sh") && col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b"))
      .distinct()
    val arrs = TextOps.shingleArraysShared(docs)
    cand
      .join(arrs.select(col("doc_id").as("doc_a"), col("arr").as("arr_a"),
        col("n_sh").as("na")), "doc_a")
      .join(arrs.select(col("doc_id").as("doc_b"), col("arr").as("arr_b"),
        col("n_sh").as("nb")), "doc_b")
      .withColumn("inter",
        size(array_intersect(col("arr_a"), col("arr_b"))).cast("long"))
      .filter(col("inter") * tauDen >= least(col("na"), col("nb")) * tauNum)
      .select(col("doc_a"), col("doc_b"), col("na"), col("nb"), col("inter"),
        rnd(col("inter") / col("na"), 4).as("cont_a"),
        rnd(col("inter") / col("nb"), 4).as("cont_b"))
      .orderBy("doc_a", "doc_b")
  }

  /** D17 near-dup CLUSTERING: the step after pair generation that a
    * real dedup pipeline needs — connected components over the
    * minhash candidate pairs at `minEstJaccard`, so transitive chains
    * (a~b, b~c but a≁c) collapse into ONE keep-group with a single
    * canonical doc (the min doc_id, which is also the cluster id).
    * Returns (doc_id, cluster_id, cluster_size) for every doc in at
    * least one qualifying pair.
    *
    * Components run BOUNDED min-label rounds ([[graft.graph.Components
    * .labelPropagation]], `rounds` max): labels are fixpoint-stable,
    * so early convergence equals running all rounds — the DuckDB
    * oracle replays the identical bounded recursion. At 100 TB scale
    * the pair graph is tiny relative to the corpus (only near-dups),
    * and the label loop shuffles one narrow (node, component) frame
    * per round; [[graft.graph.Components.auto]] is the unbounded
    * production path.
    */
  def clusters(docs: DataFrame, minEstJaccard: Double = 0.5,
      rounds: Int = 12): DataFrame =
    if (minEstJaccard == 0.5 && rounds == 12)
      clustersMemo.getOrBuild(docs) {
        clustersBuild(docs, minEstJaccard, rounds).localCheckpoint(true)
      }
    else clustersBuild(docs, minEstJaccard, rounds)

  /** The default-threshold cluster frame, memoized per docs identity:
    * pair-graph-sized (near-dups only), consumed by the cluster
    * query, keep-best, the cluster cap, and cluster-size stats —
    * each re-ran the 12-round label fixpoint before this memo. */
  private val clustersMemo = new FrameMemo

  private def clustersBuild(docs: DataFrame, minEstJaccard: Double,
      rounds: Int): DataFrame =
    clustersFromSigs(minhashSigsShared(docs), minEstJaccard, rounds)

  /** [[clusters]] from an explicit signature frame — the composed-
    * pipeline form: near-dup clustering over a survivor SUBSET is the
    * root corpus's memoized signatures filtered to the subset (a
    * per-doc restriction, so signature values are unchanged), then
    * this band-join + bounded label propagation over the restricted
    * pair graph. Pair semantics match clustering the subset from
    * scratch exactly; the corpus scan + shingle window is never
    * re-paid. */
  def clustersFromSigs(sigs: DataFrame, minEstJaccard: Double = 0.5,
      rounds: Int = 12): DataFrame = {
    val pairs = minhashLshFromSigs(sigs)
      .filter(col("est_jaccard") >= minEstJaccard)
      .select(col("doc_a").as("src"), col("doc_b").as("dst"))
    val labels = graft.graph.Components.labelPropagation(pairs, maxIter = rounds)
    val sizes = labels.groupBy("component").agg(count(lit(1)).as("cluster_size"))
    labels.join(sizes, "component")
      .select(col("node").as("doc_id"), col("component").as("cluster_id"),
        col("cluster_size"))
      .orderBy("doc_id")
  }

  /** D96 cluster-capped sampling — the soft form of [[keepBest]] (the
    * RefinedWeb-style "keep at most `cap` copies of any near-dup
    * family": cap = 1 degenerates to a canonical pick, no cap keeps
    * natural duplication that upweights boilerplate): within each
    * [[clusters]] family the kept docs are the `cap` smallest by
    * md5(doc_id) rank — deterministic, engine-replayable, and
    * unbiased by content length or id assignment, unlike a naive
    * min-id cut. Hash/integer-only decisions; the rank rides one
    * cluster-keyed window over the pair-graph-sized cluster frame,
    * never the corpus. Returns one decision row per clustered doc:
    * (doc_id, cluster_id, cluster_size, rnk, kept). */
  def clusterCap(docs: DataFrame, cap: Int = 4,
      minEstJaccard: Double = 0.5): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("cluster_id")
      .orderBy(md5(col("doc_id").cast("string")), col("doc_id"))
    clusters(docs, minEstJaccard)
      .withColumn("rnk", row_number().over(w).cast("long"))
      .select(col("doc_id"), col("cluster_id"), col("cluster_size"),
        col("rnk"), (col("rnk") <= cap).as("kept"))
      .orderBy("doc_id")
  }

  /** Keep-best canonical selection over near-dup clusters (the
    * Dolma/FineWeb convention): within each [[clusters]] family the
    * kept document is the one with the MOST content — argmax
    * (n_chars desc, doc_id asc), computed as a single
    * min(struct(-n_chars, doc_id)) aggregate — rather than
    * [[clusters]]' arbitrary min-id canonical. Integer-only ordering:
    * nothing float-ranked anywhere near the keep decision, so the
    * oracle replays it exactly. Returns one decision row per
    * clustered doc: (doc_id, cluster_id, cluster_size, keep_id, kept).
    *
    * Scale shape: the cluster frame is pair-graph-sized (near-dups
    * only, tiny vs the corpus), the n_chars join is doc-keyed, and
    * the argmax is one narrow cluster-keyed shuffle.
    */
  def keepBest(docs: DataFrame, minEstJaccard: Double = 0.5): DataFrame = {
    val cl = clusters(docs, minEstJaccard)
      .join(docs.select(col("doc_id"), col("n_chars")), "doc_id")
    val best = cl.groupBy("cluster_id")
      .agg(min(struct((lit(0L) - col("n_chars")).as("neg"),
        col("doc_id").as("id"))).as("m"))
      .select(col("cluster_id"), col("m.id").as("keep_id"))
    cl.join(best, "cluster_id")
      .select(col("doc_id"), col("cluster_id"), col("cluster_size"),
        col("keep_id"), (col("doc_id") === col("keep_id")).as("kept"))
      .orderBy("doc_id")
  }

  /** Levenshtein rerank over the minhash candidate space: exact edit
    * distance is Θ(len_a·len_b) per pair, so it can never run on the
    * n² pair space — but over the LSH candidates (est_jaccard ≥
    * `minEstJaccard`, a candidate-bounded set) it upgrades the sketch
    * estimate to a true character-level metric. Distance is computed
    * over a `capChars` prefix — the per-pair cost ceiling that keeps
    * the rerank linear in candidate count at 100 TB (near-dup docs
    * either agree or diverge well inside the cap) — with Spark's
    * codegen'd `levenshtein`, the classic unit-cost distance both
    * engines implement identically (integer-deterministic, no float
    * surface). Returns (doc_a, doc_b, est_jaccard, edit_dist).
    */
  def editDistance(docs: DataFrame, minEstJaccard: Double = 0.5,
      capChars: Int = 500): DataFrame = {
    val texts = docs.select(col("doc_id"),
      substring(col("text"), 1, capChars).as("t"))
    minhashLsh(docs).filter(col("est_jaccard") >= minEstJaccard)
      .join(texts.select(col("doc_id").as("doc_a"), col("t").as("ta")), "doc_a")
      .join(texts.select(col("doc_id").as("doc_b"), col("t").as("tb")), "doc_b")
      .select(col("doc_a"), col("doc_b"), col("est_jaccard"),
        levenshtein(col("ta"), col("tb")).cast("long").as("edit_dist"))
      .orderBy("doc_a", "doc_b")
  }

  /** D4 n-gram Jaccard similarity join: candidates share ≥1 distinct
    * 3-gram shingle; J = |∩| / |∪| from per-doc set sizes. Returns
    * pairs with J ≥ minJaccard. The shared-shingle join is the
    * candidate generator — hot shingles are the skew risk at scale,
    * handled by AQE skew-split (or a df-cap filter upstream).
    */
  def ngramJaccard(docs: DataFrame, minJaccard: Double = 0.1): DataFrame =
    (if (minJaccard >= JaccardMemoFloor) jaccardPairsShared(docs)
      .filter(col("jaccard") >= minJaccard)
    else ngramJaccardBuild(docs, minJaccard))
      .orderBy("doc_a", "doc_b")

  /** The D4 pair frame at the τ = 0.1 floor, memoized per docs
    * identity and CHECKPOINTED (r14 verdict ask #5): the sh-equality
    * candidate join + per-pair intersection agg is the cost, and both
    * D4 (τ = 0.1) and D4b (τ = 0.5 — the prefix filter is LOSSLESS
    * wrt plain Jaccard, so its output is exactly this frame's ≥ 0.5
    * subset) walked `shinglesShared` through their own copy of it
    * every board (189.6 + 214.5 s at organic sf10). What persists is
    * the FILTERED (J ≥ 0.1) output — near-dup-sized, never the raw
    * candidate stream, so the checkpoint adds no corpus-scale disk. */
  private val jaccardPairsMemo = new FrameMemo
  private val JaccardMemoFloor = 0.1
  private def jaccardPairsShared(docs: DataFrame): DataFrame =
    jaccardPairsMemo.getOrBuild(docs) {
      ngramJaccardBuild(docs, JaccardMemoFloor).localCheckpoint(true)
    }

  private def ngramJaccardBuild(docs: DataFrame, minJaccard: Double): DataFrame = {
    // read 3× (sizes + both intersection sides) — materialize once.
    val sh = TextOps.shinglesShared(docs)
    // sizes ride the board-shared Vernica frame: one per-doc agg
    // serves D4, D4b's verify and D44 instead of three
    val sizes = TextOps.shingleArraysShared(docs).select("doc_id", "n_sh")
    val inter = sh.as("x").join(sh.as("y"),
        col("x.sh") === col("y.sh") && col("x.doc_id") < col("y.doc_id"))
      .groupBy(col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b"))
      .agg(count(lit(1)).as("inter"))
    inter
      .join(sizes.as("sa"), col("doc_a") === col("sa.doc_id"))
      .join(sizes.as("sb"), col("doc_b") === col("sb.doc_id"))
      .select(col("doc_a"), col("doc_b"),
        round(col("inter") / (col("sa.n_sh") + col("sb.n_sh") - col("inter")), 4)
          .as("jaccard"))
      .filter(col("jaccard") >= minJaccard)
  }

  /** MinHash estimator calibration audit: for every D2 candidate
    * pair, the signed error between the 8-permutation estimate and
    * the TRUE shingle Jaccard, histogrammed in eighths (the
    * estimator's own resolution) — the "can I trust est ≥ τ cuts"
    * read before committing a dedup threshold. est values k/8 are
    * exact binary doubles and the exact ratio is one IEEE divide
    * over identical integers, so the floor-form bucketing cannot
    * drift across engines. `samplePpm` keeps a deterministic md5-cut
    * slice of the candidate PAIRS before any exact work is spent on
    * them — the gated/production shape (the full audit stays the
    * samplePpm=10⁶ API form); the exact verify is pair-scoped, so
    * cost is linear in sampled pairs × shingles/doc, never the
    * df²-shaped co-occurrence self-join. */
  def minhashErrorAudit(docs: DataFrame,
      samplePpm: Long = 1000000L): DataFrame = {
    val sh = TextOps.shinglesShared(docs)
    val sizes = sh.groupBy("doc_id").agg(count(lit(1)).as("n_sh"))
      .localCheckpoint(true)
    // Deterministic pair sample (the D14b threshold discipline): a
    // 4-hex md5 cut on the pair key keeps ~samplePpm of the CANDIDATE
    // pairs before any exact work is spent on them — the production
    // shape at scale, where the exact-Jaccard verify grows with
    // near-dup density squared-ish while the estimator's error
    // histogram needs only a uniform slice of pairs to converge.
    val candAll = minhashLsh(docs).select("doc_a", "doc_b", "est_jaccard")
    val cand = (if (samplePpm >= 1000000L) candAll
      else {
        // clamp to >= 1: ppm < ~16 would floor to '0000' and silently
        // keep NOTHING (filter < '0000') — a tiny-but-nonzero rate
        // must keep some pairs, never degrade to an empty audit
        val cutHex = f"${math.max(1L, samplePpm * 65536L / 1000000L)}%04x"
        candAll.filter(substring(md5(concat(col("doc_a").cast("string"),
          lit(":"), col("doc_b").cast("string"))), 1, 4) < lit(cutHex))
      }).localCheckpoint(true)
    // Exact intersections PAIR-SCOPED: explode only the sampled
    // candidates' shingle sets and probe the (doc, shingle) frame —
    // cost is Σ|shingles(doc_a)| over sampled pairs, never the
    // df²-shaped all-co-occurring-pairs self-join the first cut of
    // this operator paid.
    val inter = cand.select("doc_a", "doc_b")
      .join(sh.select(col("doc_id").as("doc_a"), col("sh")), "doc_a")
      .join(sh.select(col("doc_id").as("doc_b"), col("sh")),
        Seq("doc_b", "sh"))
      .groupBy("doc_a", "doc_b").agg(count(lit(1)).as("inter"))
    cand
      .join(inter, Seq("doc_a", "doc_b"), "left")
      .join(sizes.select(col("doc_id").as("doc_a"), col("n_sh").as("na")), "doc_a")
      .join(sizes.select(col("doc_id").as("doc_b"), col("n_sh").as("nb")), "doc_b")
      .select(col("est_jaccard"),
        (coalesce(col("inter"), lit(0L)) /
          (col("na") + col("nb") - coalesce(col("inter"), lit(0L)))).as("exact"))
      .select(expr("CAST(floor((est_jaccard - exact) * 8 + 0.5) AS BIGINT)")
        .as("err_eighths"))
      .groupBy("err_eighths").agg(count(lit(1)).as("n_pairs"))
      .orderBy("err_eighths")
  }

  /** Near-dup cluster-size histogram — the one-page answer to "how
    * duplicated is this corpus": (cluster_size, n_clusters) over the
    * [[clusters]] partition. Two narrow aggs on the pair-graph-sized
    * cluster frame; the tail of this histogram is what decides
    * between keep-best canonicalization and outright drop at scale.
    */
  def clusterSizes(docs: DataFrame, minEstJaccard: Double = 0.5): DataFrame =
    clusters(docs, minEstJaccard)
      .groupBy("cluster_id").agg(count(lit(1)).as("cs"))
      .groupBy("cs").agg(count(lit(1)).as("n_clusters"))
      .select(col("cs").as("cluster_size"), col("n_clusters"))
      .orderBy("cluster_size")

  /** Paragraph-level duplicate share (the MassiveText/Gopher dup-
    * fraction gate at sub-document granularity): each doc splits into
    * consecutive non-overlapping `k`-token segments, a segment's hash
    * is the position-weighted sum Σ (1 + (seq−1) mod k)·tokenHash mod
    * P — order-sensitive via the position weight yet a PLAIN SUM
    * aggregate, so the per-segment digest is one map-side-combinable
    * (doc, seg)-keyed agg (no collect_list, no per-segment sort; every
    * intermediate < 2⁶³ for k ≤ 100). A segment is duplicated iff its
    * hash occurs in more than one (doc, seg) slot corpus-wide —
    * catching both cross-doc boilerplate and in-doc repetition.
    * Returns per-doc (n_segs, n_dup_segs, dup_ppm). Scale shape: two
    * uniform-key shuffles (segment digest, hash df) + one doc-keyed
    * agg — the D1 exact-dedup cost class, never pairwise.
    */
  def paragraphDedup(docs: DataFrame, k: Int = 20): DataFrame = {
    val segs = TextOps.tokens(docs)
      .select(col("doc_id"), expr(s"(seq - 1) div $k").as("seg"),
        ((((col("seq") - 1) % k) + 1) * TextOps.tokenHash(col("token"))).as("w"))
      .groupBy("doc_id", "seg")
      .agg((sum(col("w")) % P).as("sh"))
      .localCheckpoint(true)
    val df = segs.groupBy("sh").agg(count(lit(1)).as("df"))
    segs.join(df, "sh")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_segs"),
        sum(when(col("df") > 1, 1L).otherwise(0L)).as("n_dup_segs"))
      .select(col("doc_id"), col("n_segs"), col("n_dup_segs"),
        expr("(1000000 * n_dup_segs) div n_segs").as("dup_ppm"))
      .orderBy("doc_id")
  }

  /** Train/eval split-leakage audit: deterministically split the
    * corpus (here doc_id % 10 — the stand-in for a uid splitmix, the
    * dedup_incremental convention), then surface every near-duplicate
    * pair that CROSSES the split — eval docs whose minhash-estimated
    * Jaccard against some training doc clears the band threshold.
    * This is the pre-training leakage check that `decontaminate`
    * (exact n-gram containment against a benchmark) does not cover:
    * paraphrase-level overlap between your own splits.
    *
    * Candidates come from the [[minhashLsh]] band join restricted to
    * one-side-per-split — the bucket key is uniform so the join
    * scales like the full LSH, and the split filters prune BEFORE
    * the join (no post-hoc pair filtering). est_jaccard is
    * [[scorePairs]] verbatim. Returns (val_doc, train_doc,
    * est_jaccard).
    */
  def splitLeakage(docs: DataFrame): DataFrame = {
    val mh = minhashSigsShared(docs)
    val trainSigs = mh.filter(col("doc_id") % 10 < 8)
    val valSigs = mh.filter(col("doc_id") % 10 >= 8)
    val cand = valSigs.as("x").join(trainSigs.as("y"),
        col("x.perm") === col("y.perm") && col("x.mh") === col("y.mh"))
      .select(col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b"))
      .distinct()
    scorePairs(cand, mh)
      .select(col("doc_a").as("val_doc"), col("doc_b").as("train_doc"),
        col("est_jaccard"))
      .orderBy("val_doc", "train_doc")
  }

  /** Source-pair content similarity: one MinHash signature PER SOURCE
    * over its distinct shingle set (the D2 permutation contract), then
    * est_jaccard_ppm = 10⁶·matches/perms for every unordered source
    * pair — the corpus-level "are these two crawls the same content"
    * screen that runs before any document-level dedup is even
    * planned. After the one shingle pass everything lives on the
    * |sources|-row signature frame; |sources|²/2 pairs of `perms`
    * longs is flat in the corpus size (the hllOverlap shape for
    * Jaccard instead of cardinality). */
  def sourceSimilarity(docs: DataFrame): DataFrame = {
    val perms = graft.functions.TextOps.MinhashA.length
    val ds = graft.functions.TextOps.shingles(docs)
      .join(docs.select(col("doc_id"), col("source")), "doc_id")
      .select(col("source"), col("sh")).distinct()
    val sigCols = (0 until perms).map(i =>
      min(graft.functions.TextOps.minhashPerm(col("sh"), i)).as(s"m$i"))
    val sig = ds.groupBy("source")
      .agg(sigCols.head, sigCols.tail: _*)
      .localCheckpoint(true)
    val a = sig.select(col("source").as("src_a") +:
      (0 until perms).map(i => col(s"m$i").as(s"a$i")): _*)
    val b = sig.select(col("source").as("src_b") +:
      (0 until perms).map(i => col(s"m$i").as(s"b$i")): _*)
    a.join(b, col("src_a") < col("src_b"))
      .select(col("src_a"), col("src_b"),
        (0 until perms).map(i =>
          when(col(s"a$i") === col(s"b$i"), 1L).otherwise(0L)).reduce(_ + _)
          .as("n_match"))
      .select(col("src_a"), col("src_b"), col("n_match"),
        expr(s"(1000000 * n_match) div $perms").as("est_jaccard_ppm"))
      .orderBy("src_a", "src_b")
  }

  /** Cross-source near-duplication matrix: per unordered source
    * pair, how many D2 near-dup pairs (est_jaccard ≥ τ) straddle
    * them — WHERE the corpus's duplication lives (a heavy diagonal =
    * within-crawl boilerplate; heavy off-diagonals = mirrored
    * crawls, the thing [[sourceSimilarity]] screens for and this
    * quantifies at document grain). The pair frame is near-dup-sized
    * (tiny vs the corpus); two doc-keyed source joins + one
    * |sources|²-row agg. */
  def crossSourceDuplication(docs: DataFrame,
      minEstJaccard: Double = 0.5): DataFrame = {
    val src = docs.select(col("doc_id"), col("source"))
    minhashLsh(docs).filter(col("est_jaccard") >= minEstJaccard)
      .join(src.select(col("doc_id").as("doc_a"), col("source").as("sa")), "doc_a")
      .join(src.select(col("doc_id").as("doc_b"), col("source").as("sb")), "doc_b")
      .select(least(col("sa"), col("sb")).as("src_a"),
        greatest(col("sa"), col("sb")).as("src_b"))
      .groupBy("src_a", "src_b").agg(count(lit(1)).as("n_pairs"))
      .orderBy("src_a", "src_b")
  }

  /** Corpus token inflation from near-duplication — "how many tokens
    * does dedup buy": over the [[clusters]] partition with the min-id
    * canonical (the D17 convention), the removable mass is every
    * non-canonical member's token count (text_tokens BPE contract).
    * The cluster frame is pair-graph-sized; the per-doc token frame
    * is checkpointed once so the global total re-aggregates blocks,
    * not the corpus scan; 10⁶·tokens rides DECIMAL(38,0)/HUGEINT.
    * One (n_docs, tokens_total, n_removable, tokens_removable,
    * removable_ppm) row. */
  def dedupInflation(docs: DataFrame, minEstJaccard: Double = 0.5): DataFrame = {
    val toks = docs.select(col("doc_id"),
        size(expr("regexp_extract_all(lower(text), '[a-z]+|[0-9]+|[^a-z0-9 ]', 0)"))
          .cast("long").as("toks"))
      .localCheckpoint(true)
    val withT = clusters(docs, minEstJaccard).select("doc_id", "cluster_id")
      .join(toks, "doc_id")
    val keep = withT.groupBy("cluster_id").agg(min("doc_id").as("keep_id"))
    val removable = withT.join(keep, "cluster_id")
      .filter(col("doc_id") =!= col("keep_id"))
      .agg(count(lit(1)).as("n_removable"),
        coalesce(sum("toks"), lit(0L)).as("tokens_removable"))
    toks.agg(count(lit(1)).as("n_docs"),
        coalesce(sum("toks"), lit(0L)).as("tokens_total"))
      .crossJoin(broadcast(removable))
      .select(col("n_docs"), col("tokens_total"), col("n_removable"),
        col("tokens_removable"),
        expr("""CAST(CASE WHEN tokens_total = 0 THEN 0 ELSE
             (CAST(1000000 AS DECIMAL(38,0)) * tokens_removable) div tokens_total
             END AS BIGINT)""").as("removable_ppm"))
  }

  /** LSH bucket-occupancy audit — the OPERATIONAL health check a
    * 100 TB dedup runs before the pair join: the distribution of
    * (perm, minhash) bucket sizes, with the candidate-pair volume
    * s·(s−1)/2 each size class generates. A hot bucket here is
    * exactly the skew that would stall the band join (the AQE
    * skew-split defense's early-warning metric — you watch this,
    * not the job timeline). One groupBy over the signature frame
    * (8 rows/doc), then a histogram-sized rollup. */
  def lshBucketStats(docs: DataFrame): DataFrame =
    minhashLong(docs)
      .groupBy("perm", "mh").agg(count(lit(1)).as("s"))
      .groupBy(col("s").as("bucket_size"))
      .agg(count(lit(1)).as("n_buckets"),
        sum(expr("(s * (s - 1)) div 2")).as("pairs_generated"))
      .orderBy("bucket_size")

  /** EXACT duplicated-substring detection (the Lee et al. 2022
    * "Deduplicating Training Data Makes Language Models Better"
    * exact-substring shape, bucketized for Spark): documents sharing
    * a verbatim `window`-char span, found by extracting windows at a
    * fixed `stride`, keying each by its md5 (identical hex on both
    * engines — the [[exact]] contract), and bucket-joining docs on
    * the window key. Catches verbatim quotation/boilerplate reuse
    * that shingle-Jaccard dilutes away (a 100-char copied license
    * block in two otherwise-different documents barely moves
    * Jaccard but is exactly what decontamination must see).
    *
    * Scale shape: windows are (len/stride) rows per doc — linear in
    * corpus size; the df cap (windows present in > `dfCap` docs are
    * boilerplate and dropped BEFORE the pair join) bounds the
    * per-window fanout at dfCap², so the candidate join is a plain
    * uniform-key equality join, never all-pairs. Returns (doc_a,
    * doc_b, n_shared_windows) pairs, the contamination screen's
    * candidate edge list. */
  /** D93 identical-head duplicate groups: documents sharing the EXACT
    * leading `headLen`-token head — the truncated-crawl / re-scrape
    * duplicate class (same page fetched twice, tails diverging at the
    * cut point or under later edits) that similarity dedup handles
    * badly from both sides: shingle-Jaccard DILUTES the match away as
    * tails grow, while D1 exact-hash misses it entirely. Head = the
    * first `headLen` canonical tokens re-joined; groups keyed by its
    * md5. Corpus-linear: one map-only head projection + one
    * md5-keyed aggregate, map-side combinable, no joins — the 100 TB
    * shape is a single shuffle of 1 narrow row per doc. Returns the
    * ≥2-member groups: (head_md5, n_docs, first_doc, last_doc). */
  def headDupGroups(docs: DataFrame, headLen: Int = 16): DataFrame =
    docs.select(col("doc_id"),
        md5(array_join(slice(
          expr("regexp_extract_all(lower(text), '[a-z]+|[0-9]+|[^a-z0-9 ]', 0)"),
          1, headLen), " ")).as("head_md5"))
      .groupBy("head_md5")
      .agg(count(lit(1)).as("n_docs"),
        min(col("doc_id")).as("first_doc"), max(col("doc_id")).as("last_doc"))
      .filter(col("n_docs") >= 2)
      .orderBy("head_md5")

  def substringDup(docs: DataFrame, window: Int = 64, stride: Int = 16,
      dfCap: Int = 32): DataFrame = {
    val wins = docs
      .filter(length(col("text")) >= window)
      .select(col("doc_id"),
        explode(sequence(lit(1), length(col("text")) - (window - 1), lit(stride)))
          .as("pos"),
        col("text"))
      .select(col("doc_id"),
        md5(expr(s"substr(text, pos, $window)")).as("win"))
      .distinct() // a doc repeating its own span still counts once
      .localCheckpoint(true)
    val rare = wins.groupBy("win").agg(count(lit(1)).as("df"))
      .filter(col("df") >= 2 && col("df") <= dfCap)
      .select("win")
    val capped = wins.join(rare, "win")
    capped.as("x").join(capped.as("y"),
        col("x.win") === col("y.win") && col("x.doc_id") < col("y.doc_id"))
      .groupBy(col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b"))
      .agg(count(lit(1)).as("n_shared_windows"))
      .orderBy("doc_a", "doc_b")
  }
}
