package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Larger-scale bench point (no sf≥1 testdata exists): replicate the
  * sf0.1 tables `rep`× with key shifts into a local parquet dir, then
  * time every SparkEntry query against it. The replication is
  * engineered so each query's SEMANTICS scale honestly rather than
  * degenerating:
  *
  *  - relational keys shift by r·10⁶. Since r9 GraphQueries.modulus
  *    grows with row count (rep·5000 here), so the derived graph
  *    gains nodes at constant density rather than densifying (the
  *    organic-sf1 lesson, applied); at the rep = 10 construction the
  *    shift is a multiple of the modulus (10⁶ = 20·50000), so every
  *    replica maps onto the same node ids and the edge set is the
  *    base graph re-keyed mod 50000 (for rep values that do not
  *    divide 200 the replicas spread across ids instead — still
  *    constant density, just not replica-identical);
  *  - document texts get per-token replica suffixes, so shingle/token
  *    similarity density stays constant (the r2 crossover-bench
  *    construction) while vocabulary and postings grow;
  *  - embeddings circularly rotate by r dims: within-replica cosine
  *    structure is preserved exactly (same near-dup pairs per replica),
  *    cross-replica cosines drop to the noise floor — pair volume
  *    scales linearly like a real corpus, not quadratically like naive
  *    copies;
  *  - event user_ids shift, so the session count scales linearly with
  *    identical per-user session shapes.
  *
  * One JSON line: per-query seconds (single run — this is a scale
  * probe, not the median bench) + row counts of the scaled tables.
  */
object ScaleBench {

  def replicate(spark: SparkSession, base: String, out: String, rep: Int): Unit = {
    val K = 1000000L
    def t(name: String) = spark.read.parquet(s"$base/$name.parquet")
    def reps(df: DataFrame)(f: (DataFrame, Int) => DataFrame): DataFrame =
      (0 until rep).map(r => f(df, r)).reduce(_ unionByName _)
    def write(df: DataFrame, name: String): Unit =
      df.write.mode("overwrite").parquet(s"$out/$name.parquet")

    write(reps(t("lineitem")) { (d, r) =>
      d.withColumn("l_orderkey", col("l_orderkey") + r * K)
        .withColumn("l_partkey", col("l_partkey") + r * K)
        .withColumn("l_suppkey", col("l_suppkey") + r * K)
    }, "lineitem")
    write(reps(t("orders")) { (d, r) =>
      d.withColumn("o_orderkey", col("o_orderkey") + r * K)
        .withColumn("o_custkey", col("o_custkey") + r * K)
    }, "orders")
    write(reps(t("customer")) { (d, r) =>
      d.withColumn("c_custkey", col("c_custkey") + r * K)
    }, "customer")
    write(reps(t("part")) { (d, r) =>
      d.withColumn("p_partkey", col("p_partkey") + r * K)
    }, "part")
    write(reps(t("supplier")) { (d, r) =>
      d.withColumn("s_suppkey", col("s_suppkey") + r * K)
    }, "supplier")
    write(t("nation"), "nation")
    write(t("region"), "region")
    write(reps(t("documents")) { (d, r) =>
      // per-TOKEN suffix (the r2 crossover construction): replicas are
      // pairwise dissimilar, so similarity density stays constant at
      // rep× the size — a plain copy would make every doc a member of
      // a rep-clique of near-dups (duplicate-density, not scale)
      d.withColumn("doc_id", col("doc_id") + r * K)
        .withColumn("text",
          if (r == 0) col("text")
          else regexp_replace(col("text"), "([a-z0-9]+)", s"$$1r$r"))
    }, "documents")
    write(reps(t("embeddings")) { (d, r) =>
      val rot = r % 64
      val rotated =
        if (rot == 0) col("embedding")
        else concat(slice(col("embedding"), rot + 1, 64 - rot),
          slice(col("embedding"), 1, rot))
      d.withColumn("vec_id", col("vec_id") + r * K)
        .withColumn("embedding", rotated)
    }, "embeddings")
    write(reps(t("events")) { (d, r) =>
      d.withColumn("user_id", col("user_id") + r * K)
    }, "events")
  }

  def main(args: Array[String]): Unit = {
    val hostStart = Bench.hostState()
    val base = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val rep = sys.env.getOrElse("SPARK_GRAFT_REPLICATE", "10").toInt
    val out = sys.env.getOrElse("SPARK_GRAFT_SCALE_DIR", "target/scale_sf1")
    val spark = GraftSession.local(sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt)
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val reuse = sys.env.get("SPARK_GRAFT_SKIP_REPLICATE").contains("1") &&
      new java.io.File(s"$out/lineitem.parquet").exists()
    if (!reuse) replicate(spark, base, out, rep)
    // warm: touch every table once so per-query numbers measure the
    // query, not first-touch parquet footer reads / codegen warmup
    Seq("lineitem", "orders", "customer", "part", "supplier", "nation",
      "region", "documents", "embeddings", "events").foreach { t =>
      spark.read.parquet(s"$out/$t.parquet").count()
    }
    val nLine = spark.read.parquet(s"$out/lineitem.parquet").count()
    val nDocs = spark.read.parquet(s"$out/documents.parquet").count()
    // stamp whether on-disk data was reused: a reused dir may have been
    // built with different replicate/base values than this run's env,
    // so the label below is only authoritative when reused=false
    val results = SparkEntry.queries.map { case (name, fn) =>
      // Drop the previous queries' localCheckpoint blocks before timing:
      // ContextCleaner only releases them after a JVM GC, and with a
      // large heap GC may not run for dozens of queries — by query ~50
      // the BlockManager holds gigabytes of dead checkpoints and every
      // later query pays eviction/spill it didn't cause (observed: an
      // untouched trivial query 7× slower late in an 82-query session).
      System.gc()
      val t0 = System.nanoTime()
      val n = try { fn(spark, out).count() } catch { case _: Throwable => -1L }
      (name, (System.nanoTime() - t0) / 1e9, n)
    }
    val qs = results.map { case (k, v, _) => s"\"" + k + "\":" + v }
      .mkString("{", ",", "}")
    val rows = results.map { case (k, _, n) => s"\"" + k + "\":" + n }
      .mkString("{", ",", "}")
    val total = results.map(_._2).sum
    println(s"""{"metric":"scale_total","value":$total,"unit":"sec","queries":$qs,"rows":$rows,"replicate":$rep,"reused_existing_data":$reuse,"base":"$base","lineitem_rows":$nLine,"documents_rows":$nDocs,"host_start":$hostStart,"host_end":${Bench.hostState()},"note":"single run per query on ${rep}x-replicated sf0.1; host_*=1-min loadavg + neighbor-process census"}""")
    spark.stop()
  }
}
