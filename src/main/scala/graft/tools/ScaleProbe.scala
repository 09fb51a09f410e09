package graft.tools
import org.apache.spark.sql.functions._

import graft.obs.JobMeter

object ScaleProbe {
  def main(args: Array[String]): Unit = {
    val spark = graft.GraftSession.local("graft-scale-probe")
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val meter = JobMeter.install(spark)
    // evaluate `f`, print `line(result, wall seconds)` plus the Spark jobs
    // and summed task seconds it ran, return the result
    def phase[A](f: => A)(line: (A, Double) => String): A = {
      val (r, sec, d) = meter.measure(f)
      println(line(r, sec) + f"  jobs=${d.jobs} task_sec=${d.taskSec}%.2f")
      r
    }
    val emb = graft.Tables.load(spark, sfDir, "embeddings")
    val big = (0 until 50).map(i => emb.select((col("vec_id") + i * 100000).as("vec_id"),
      col("embedding"))).reduce(_ union _).repartition(16).cache()
    println("corpus=" + big.count())
    for (i <- 1 to 3)
      phase(graft.operators.Search.topK(big, "embedding", "vec_id",
        graft.QueryVectors.q1, 10).collect())((_, s) =>
        f"topk10 run$i: ${s * 1000}%.0f ms")
    val q = emb.filter(col("vec_id") < 8)
    phase(graft.operators.Search.knnJoinAgg(q, "vec_id", "embedding", big,
      "vec_id", "embedding", 5).count())((n, s) =>
      s"knnJoinAgg 8q x 100k: ${s}s rows=$n")

    // ---- dedup tier throughput on a 100k-doc corpus (20 replicas of the
    // ---- fixture; exact-dup groups of 20 per base doc) ----
    val docs = graft.Tables.load(spark, sfDir, "documents")
    val bigDocs = (0 until 20).map(i =>
      docs.select((col("doc_id") + i * 1000000L).as("doc_id"), col("text")))
      .reduce(_ union _).repartition(16).cache()
    println("docs=" + bigDocs.count())
    for (i <- 1 to 2)
      phase(graft.operators.NearDup
        .minHashBuckets(bigDocs, "doc_id", "text").count())((sigs, s) =>
        f"minhash sig+banding run$i: $s%.2f s ($sigs bucket rows)")
    phase(graft.operators.Dedup.exact(bigDocs,
      graft.operators.Dedup.tokenFingerprint(col("text")), col("doc_id"))
      .count())((kept, s) => f"exact dedup 100k→$kept: $s%.2f s")
    // sum(_bucket) (not count) so the bucket projection cannot be pruned
    // away — count(1) would time a no-op (the round-1 profiling trap)
    phase(graft.operators.NearDup
      .embeddingBuckets(big, "vec_id", "embedding", nBits = 12, dim = 64)
      .agg(sum(col("_bucket"))).head().getLong(0))((bucketSum, s) =>
      f"sign-LSH bucketing 100k vecs: $s%.2f s (checksum $bucketSum)")
    // ---- exact prefix join under dup amplification: every doc has 19
    // ---- byte-identical copies, so the candidate stage must survive
    // ---- ~doc_count × dup_factor verified pairs without an all-pairs
    // ---- subtree (the structural claim; an O(n²) shape would not
    // ---- finish here) ----
    phase(graft.operators.NearDup
      .prefixJaccardJoin(bigDocs, "doc_id", "text", minJaccard = 0.8)
      .count())((exactPairs, s) =>
      f"prefix exact join 100k docs (20x dups): $s%.2f s ($exactPairs pairs)")
    spark.stop()
  }
}
