package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Optimization-round measurement tool (guide §1): times named
  * sub-stages of the expensive operators with the noop sink so the
  * computation is measured, not the sink or the optimizer's count()
  * pruning. Ad-hoc by design — stages are edited in place while
  * hunting a regression; the committed version documents the splits
  * that drove the round's changes. Never part of the driver contract.
  */
object Profile {
  private def noop(df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/organic_sf1")
    val spark = GraftSession.local(sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt)
    def t(name: String)(body: => Unit): Unit = {
      spark.sparkContext.setJobDescription(name)
      val t0 = System.nanoTime()
      body
      println(f"[profile] $name%-40s ${(System.nanoTime() - t0) / 1e9}%8.2f s")
      spark.sparkContext.setJobDescription(null)
    }
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    t("warm: documents count")(docs.count())
    locally {
      import graft.functions.TextOps
      val occ = TextOps.tokensBag(docs)
      t("simhash: tokensBag (noop)")(noop(occ))
      val occh = occ.withColumn("th",
        TextOps.simMixOf(TextOps.tokenHash(col("token"))))
      t("simhash: tokensBag + hash (noop)")(noop(occh))
      val sig = graft.pipeline.Dedup.simhashSignatures(docs)
      t("simhash: signatures (noop)")(noop(sig))
      t("simhash: full pairs (count)")(
        graft.pipeline.Dedup.simhashNearDup(docs).count())
    }
    val emb = Tables.embeddings(spark, sfDir)
    // warm: parquet read + codegen
    t("warm: embeddings count")(emb.count())

    import graft.pipeline.Similarity
    val twins = Similarity.withJitteredTwins(emb)
    t("auto: input count")(twins.count())
    val bb = Similarity.lshBandBuckets(twins, bands = 10, planesPerBand = 10)
    t("auto: signature fused (noop)")(noop(bb))
    t("auto: occupancy agg")(
      bb.groupBy("band", "bucket").agg(count(lit(1)).as("c"))
        .groupBy("band").agg(sum(expr("c * (c - 1) div 2")).as("pairs"))
        .collect())
    val cand = bb.as("x").join(bb.as("y"),
        col("x.band") === col("y.band") && col("x.bucket") === col("y.bucket") &&
          col("x.vec_id") < col("y.vec_id"))
      .select(col("x.vec_id").as("doc_a"), col("y.vec_id").as("doc_b"))
    t("auto: candidates raw (noop)")(noop(cand))
    val candD = cand.distinct()
    t("auto: candidates distinct (noop)")(noop(candD))
    val v = Similarity.withNorm(twins).filter(col("nrm") > 0)
    val rr = candD
      .join(v.select(col("vec_id").as("doc_a"), col("qv").as("qa"),
        col("nrm").as("na")), "doc_a")
      .join(v.select(col("vec_id").as("doc_b"), col("qv").as("qb"),
        col("nrm").as("nb")), "doc_b")
      .withColumn("cosine", round(graft.functions.VectorOps.dotLong(
        col("qa"), col("qb")) / (col("na") * col("nb")), 4))
      .filter(col("cosine") >= 0.9)
      .select(col("doc_a"), col("doc_b"), col("cosine"))
    t("auto: candidates distinct count")(
      println(s"[profile] candD rows = ${candD.count()}"))
    println("[profile] rr join nodes: " +
      rr.queryExecution.executedPlan.toString.linesIterator
        .filter(l => l.contains("Join") || l.contains("Exchange"))
        .map(_.trim.take(90)).mkString(" || "))
    t("auto: rerank after distinct (noop)")(noop(rr))
    val rrB = candD
      .join(broadcast(v.select(col("vec_id").as("doc_a"), col("qv").as("qa"),
        col("nrm").as("na"))), "doc_a")
      .join(broadcast(v.select(col("vec_id").as("doc_b"), col("qv").as("qb"),
        col("nrm").as("nb"))), "doc_b")
      .withColumn("cosine", round(graft.functions.VectorOps.dotLong(
        col("qa"), col("qb")) / (col("na") * col("nb")), 4))
      .filter(col("cosine") >= 0.9)
      .select(col("doc_a"), col("doc_b"), col("cosine"))
    t("auto: rerank BROADCAST (noop)")(noop(rrB))
    // isolate: the two joins WITHOUT the dot (ids only out)
    val joinsOnly = candD
      .join(broadcast(v.select(col("vec_id").as("doc_a"), col("qv").as("qa"),
        col("nrm").as("na"))), "doc_a")
      .join(broadcast(v.select(col("vec_id").as("doc_b"), col("qv").as("qb"),
        col("nrm").as("nb"))), "doc_b")
      .select(col("doc_a"), col("doc_b"), col("na"), col("nb"))
    t("auto: joins only, no dot (noop)")(noop(joinsOnly))
    // isolate: dot over a same-size synthetic pair frame with
    // checkpointed primitive arrays
    val vc = v.localCheckpoint(true)
    val rrC = candD
      .join(broadcast(vc.select(col("vec_id").as("doc_a"), col("qv").as("qa"),
        col("nrm").as("na"))), "doc_a")
      .join(broadcast(vc.select(col("vec_id").as("doc_b"), col("qv").as("qb"),
        col("nrm").as("nb"))), "doc_b")
      .withColumn("cosine", round(graft.functions.VectorOps.dotLong(
        col("qa"), col("qb")) / (col("na") * col("nb")), 4))
      .filter(col("cosine") >= 0.9)
      .select(col("doc_a"), col("doc_b"), col("cosine"))
    t("auto: rerank w/ checkpointed v (noop)")(noop(rrC))
    java.nio.file.Files.writeString(java.nio.file.Paths.get("/tmp/rrB_plan.txt"),
      rrB.queryExecution.executedPlan.toString)
    java.nio.file.Files.writeString(java.nio.file.Paths.get("/tmp/rrC_plan.txt"),
      rrC.queryExecution.executedPlan.toString)
    spark.stop()
  }
}
