package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** End-to-end training-corpus curation: the D-operators composed into
  * one declarative pipeline — quality gate → exact-dedup canonical
  * filter → language gate — emitting a per-document decision record.
  *
  * Because each stage is a Column predicate over one shared pass of
  * derived signals, Catalyst fuses the whole pipeline into a handful
  * of stages: at 100 TB this is two shuffles (token agg + md5 group),
  * not one job per stage.
  */
object Curate {

  /** Per-document curation decisions:
    * (doc_id, n_tokens, quality, lang_pred, pass_quality,
    *  is_canonical, pass_lang, kept). */
  def curate(docs: DataFrame,
      minTokens: Long = 20L,
      maxDigitRatio: Double = 0.3,
      minQuality: Double = 0.2): DataFrame = {
    val q = TextAnalysis.quality(docs)
    val lang = TextAnalysis.langId(docs).select("doc_id", "lang_pred")
    val canon = Dedup.exact(docs)
      .select(col("canonical_id").as("doc_id"), lit(true).as("is_canonical"))
    q.join(lang, "doc_id")
      .join(canon, Seq("doc_id"), "left")
      .withColumn("is_canonical", coalesce(col("is_canonical"), lit(false)))
      .withColumn("pass_quality",
        col("n_tokens") >= minTokens && col("digit_ratio") <= maxDigitRatio &&
          col("quality") >= minQuality)
      .withColumn("pass_lang", col("lang_pred") === "en")
      .withColumn("kept",
        col("pass_quality") && col("is_canonical") && col("pass_lang"))
      .select("doc_id", "n_tokens", "quality", "lang_pred", "pass_quality",
        "is_canonical", "pass_lang", "kept")
      .orderBy("doc_id")
  }

  /** D23 FULL curation: [[curate]]'s quality/exact-dedup/language
    * gates composed with the round-4 operators — NEAR-DUP CLUSTER
    * canonical selection ([[Dedup.clusters]]: only the min-id member
    * of each minhash near-dup cluster survives) and benchmark
    * DECONTAMINATION ([[Contamination.decontaminate]]: benchmark docs
    * themselves and any training doc sharing a k-gram with them are
    * dropped). Emits one boolean decision record per document —
    * exactly the gate sequence of a production pretraining corpus
    * build (C4/Dolma/SlimPajama shape).
    *
    * `benchPred` must be a predicate over `doc_id` (it is re-applied
    * to the decision frame). Every stage is a doc_id-keyed join of
    * per-stage signals; at scale the cluster/contamination sides are
    * tiny relative to the corpus (near-dup members and eval-gram hits
    * only), so the composition adds two broadcast-ish joins to
    * [[curate]]'s plan.
    */
  def curateFull(docs: DataFrame, benchPred: Column,
      minEstJaccard: Double = 0.5): DataFrame = {
    val base = curate(docs)
    val nd = Dedup.clusters(docs, minEstJaccard)
      .select(col("doc_id"), (col("doc_id") === col("cluster_id")).as("nd_canonical"))
    val contam = Contamination.decontaminate(docs, benchPred)
      .select(col("doc_id"), col("contaminated"))
    base
      .join(nd, Seq("doc_id"), "left")
      .join(contam, Seq("doc_id"), "left")
      .withColumn("pass_neardup", coalesce(col("nd_canonical"), lit(true)))
      .withColumn("is_bench", benchPred)
      .withColumn("contaminated", coalesce(col("contaminated"), lit(false)))
      .withColumn("pass_decontam", !col("is_bench") && !col("contaminated"))
      .select(col("doc_id"), col("pass_quality"), col("is_canonical"),
        col("pass_lang"), col("pass_neardup"), col("is_bench"),
        col("contaminated"),
        (col("pass_quality") && col("is_canonical") && col("pass_lang") &&
          col("pass_neardup") && col("pass_decontam")).as("kept"))
      .orderBy("doc_id")
  }
}
