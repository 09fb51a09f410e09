package graft.tools

import org.apache.spark.sql.functions._

import graft.obs.JobMeter.time

/** Scale probe for the persisted inverted index: amplify the fixture
  * corpus 20× (1.2M docs at sf0.1), build the index once, then compare
  * per-query cost of scan-based BM25 (re-tokenizes the corpus every
  * query) against the indexed read (|terms| shard directories). The
  * structural claim this measures: scan cost grows with the corpus,
  * indexed cost grows with the query's postings. Results land in
  * BASELINE.md (round 10). */
object TextIndexProbe {
  def main(args: Array[String]): Unit = {
    val spark = graft.GraftSession.local("graft-textindex-probe")
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val tmp = java.nio.file.Files.createTempDirectory("graft-tixprobe")
    val idx = s"$tmp/index"
    val docs = graft.Tables.load(spark, sfDir, "documents")
      .select(col("doc_id"), col("text"))
    val big = (0 until 20).map(i =>
      docs.select((col("doc_id") + i * 10000000L).as("doc_id"), col("text")))
      .reduce(_ union _).repartition(16)
      .persist(org.apache.spark.storage.StorageLevel.DISK_ONLY)
    println("docs=" + big.count())
    val terms = Seq("data", "query", "spark")
    for (i <- 1 to 3)
      time(f"scan-based bm25 run$i (re-tokenizes the corpus)") {
        graft.operators.TextAnalysis.bm25(big, "doc_id", "text", terms)
          .orderBy(desc("bm25"), asc("doc_id")).limit(50).collect()
      }
    time("index build (one-time: tokenize + shard + write)") {
      graft.operators.TextIndex.build(big, "doc_id", "text", idx, shards = 64)
    }
    for (i <- 1 to 3)
      time(f"indexed bm25 run$i (3 shard dirs)") {
        graft.operators.TextIndex.bm25(spark, idx, terms)
          .orderBy(desc("bm25"), asc("doc_id")).limit(50).collect()
      }
    // parity at this scale, not just the fixture
    val a = graft.operators.TextAnalysis.bm25(big, "doc_id", "text", terms)
      .orderBy(desc("bm25"), asc("doc_id")).limit(50)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    val b = graft.operators.TextIndex.bm25(spark, idx, terms)
      .orderBy(desc("bm25"), asc("doc_id")).limit(50)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(a == b, "indexed ≠ scan at 20x scale")
    println("parity: indexed top-50 ≡ scan top-50")
    val batched = (1L to 8L).map(q => q -> terms).toSeq
    time("indexed bm25Many, 8 queries, one pruned read") {
      graft.operators.TextIndex.bm25Many(spark, idx, batched, k = 10).count()
    }
    org.apache.commons.io.FileUtils.deleteDirectory(tmp.toFile)
    spark.stop()
  }
}
