package graft.operators

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

/** Persisted inverted index: BM25 answered from the index must equal
  * the scan-based TextAnalysis form on every document, across appends;
  * the query-time read must touch only the shards the query terms hash
  * to; crashed appends must be invisible. */
class TextIndexSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private lazy val docs = graft.Tables
    .load(spark, TestSpark.sf0001, "documents")
    .select(col("doc_id"), col("text"))

  private def freshDir(): String =
    Files.createTempDirectory("graft-tix").toString + "/index"

  private def scores(df: org.apache.spark.sql.DataFrame) =
    df.select(col("doc_id").cast("long"), col("bm25"))
      .as[(Long, Double)].collect().sortBy(_._1).toSeq

  test("bm25 from the index ≡ scan-based bm25, including across appended batches") {
    val dir = freshDir()
    val batch1 = docs.filter(col("doc_id") % 2 === 0)
    val batch2 = docs.filter(col("doc_id") % 2 === 1)
    TextIndex.build(batch1, "doc_id", "text", dir, shards = 16)
    val terms = Seq("data", "query", "spark")
    assert(scores(TextIndex.bm25(spark, dir, terms)) ===
      scores(TextAnalysis.bm25(batch1, "doc_id", "text", terms)))
    // second batch changes N, avgdl, df — the index must track all three
    TextIndex.append(batch2, "doc_id", "text", dir)
    for (t <- Seq(Seq("data"), Seq("vector", "merge"), terms))
      assert(scores(TextIndex.bm25(spark, dir, t)) ===
        scores(TextAnalysis.bm25(docs, "doc_id", "text", t)), s"terms $t")
  }

  test("query reads only the shards its terms hash to; token predicate pushed") {
    val dir = freshDir()
    TextIndex.build(docs, "doc_id", "text", dir, shards = 16)
    val terms = Seq("data", "query")
    val shardIds = terms.toDF("t")
      .select(pmod(xxhash64(col("t")), lit(16))).as[Long].collect().toSet
    val read = TextIndex.bm25(spark, dir, terms)
    val shardsTouched = read.inputFiles
      .flatMap(f => "shard=(\\d+)".r.findFirstMatchIn(f).map(_.group(1).toLong))
      .toSet
    assert(shardsTouched.nonEmpty && shardsTouched.subsetOf(shardIds),
      s"read shards $shardsTouched, terms hash to $shardIds of 16")
    val plan = read.queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters") && plan.contains("token"),
      "token IN-list should push into the parquet scan")
  }

  test("bm25Many from the index ≡ per-query scan-based bm25 top-k") {
    val dir = freshDir()
    TextIndex.build(docs, "doc_id", "text", dir, shards = 16)
    val queries = Seq(1L -> Seq("data", "spark"), 2L -> Seq("vector"),
      3L -> Seq("merge", "query", "table"))
    val got = TextIndex.bm25Many(spark, dir, queries, k = 5)
      .select(col("qid"), col("doc_id"), col("bm25"), col("rank"))
      .as[(Long, Long, Double, Long)].collect().sortBy(r => (r._1, r._4)).toSeq
    val want = TextAnalysis
      .bm25Many(docs, "doc_id", "text", queries, k = 5)
      .select(col("qid"), col("doc_id"), col("bm25"), col("rank"))
      .as[(Long, Long, Double, Long)].collect().sortBy(r => (r._1, r._4)).toSeq
    assert(got === want)
  }

  test("appendOnce: a replayed idempotency token commits nothing; a fresh token commits") {
    val dir = freshDir()
    TextIndex.build(docs.limit(200), "doc_id", "text", dir, shards = 8)
    val extra = docs.filter(col("doc_id") >= 200 && col("doc_id") < 300)
    assert(TextIndex.appendOnce(extra, "doc_id", "text", dir, "b-1"))
    val after = scores(TextIndex.bm25(spark, dir, Seq("data")))
    // the replay: same token, nothing may change
    assert(!TextIndex.appendOnce(extra, "doc_id", "text", dir, "b-1"))
    assert(scores(TextIndex.bm25(spark, dir, Seq("data"))) === after)
    // a fresh token is a real (double-counting) append — proof the
    // guard was the token, not some content hash
    assert(TextIndex.appendOnce(extra, "doc_id", "text", dir, "b-2"))
    assert(scores(TextIndex.bm25(spark, dir, Seq("data"))) !== after)
  }

  test("optimize: packs live batches content-neutrally, collapses file fan-out, keeps replay tokens; vacuumPacked reclaims") {
    val dir = freshDir()
    // five tiny streamed batches, each token-guarded
    val slices = (0 until 5).map(i =>
      docs.filter(col("doc_id") % 5 === i).limit(40))
    TextIndex.build(slices.head, "doc_id", "text", dir, shards = 8)
    slices.tail.zipWithIndex.foreach { case (s, i) =>
      TextIndex.appendOnce(s, "doc_id", "text", dir, s"b-$i") }
    val terms = Seq("data", "query")
    val before = scores(TextIndex.bm25(spark, dir, terms))
    val filesBefore = TextIndex.bm25(spark, dir, terms).inputFiles.length
    val packed = TextIndex.optimize(spark, dir)
    assert(packed.nonEmpty)
    // content-neutral, and the query now opens ≤ |term shards| files
    assert(scores(TextIndex.bm25(spark, dir, terms)) === before)
    val filesAfter = TextIndex.bm25(spark, dir, terms).inputFiles.length
    // ≤ 2 term-shard postings files + the packed 1-file stats
    assert(filesAfter < filesBefore && filesAfter <= 3,
      s"$filesBefore -> $filesAfter files")
    // replay guard survives the pack: a retired batch's token still refuses
    assert(!TextIndex.appendOnce(slices(1), "doc_id", "text", dir, "b-0"))
    // vacuum reclaims the originals; content unchanged; second optimize no-ops
    TextIndex.vacuumPacked(dir)
    val live = new java.io.File(dir).list().filter(_.startsWith("batch="))
    assert(live.length === 1, live.toSeq)
    assert(scores(TextIndex.bm25(spark, dir, terms)) === before)
    assert(!TextIndex.appendOnce(slices(1), "doc_id", "text", dir, "b-0"))
    assert(TextIndex.optimize(spark, dir).isEmpty)
    // a later append + second pack-and-vacuum round (pack-of-pack);
    // double-counting the rows is fine — this tests the lifecycle
    assert(TextIndex.appendOnce(docs.limit(40), "doc_id", "text", dir, "b-9"))
    val before2 = scores(TextIndex.bm25(spark, dir, terms))
    assert(TextIndex.optimize(spark, dir).nonEmpty)
    TextIndex.vacuumPacked(dir)
    assert(scores(TextIndex.bm25(spark, dir, terms)) === before2)
    assert(!TextIndex.appendOnce(slices(1), "doc_id", "text", dir, "b-0"))
    assert(!TextIndex.appendOnce(slices(1), "doc_id", "text", dir, "b-9"))
  }

  test("delete: merge-on-read tombstones ≡ scan over survivors; re-ingest resurrects; double delete no-op; optimize applies physically") {
    val dir = freshDir()
    val terms = Seq("data", "query")
    def check(corpus: org.apache.spark.sql.DataFrame, tag: String): Unit =
      assert(scores(TextIndex.bm25(spark, dir, terms)) ===
        scores(TextAnalysis.bm25(corpus, "doc_id", "text", terms)), tag)
    TextIndex.build(docs.filter(col("doc_id") < 200), "doc_id", "text",
      dir, shards = 8)
    TextIndex.append(docs.filter(col("doc_id") >= 200 && col("doc_id") < 400),
      "doc_id", "text", dir)
    // delete a slab: N, avgdl, df, tf must all re-derive from survivors
    val removed = TextIndex.delete(spark, dir,
      spark.range(50L, 120L).select(col("id").as("doc_id")))
    assert(removed === 70L)
    val surv1 = docs.filter(col("doc_id") < 400 &&
      !(col("doc_id") >= 50 && col("doc_id") < 120))
    check(surv1, "after delete")
    // double delete and absent-id delete are no-ops (no commit, no
    // double stats correction)
    assert(TextIndex.delete(spark, dir,
      spark.range(50L, 120L).select(col("id").as("doc_id"))) === 0L)
    assert(TextIndex.delete(spark, dir,
      spark.range(90000L, 90010L).select(col("id").as("doc_id"))) === 0L)
    check(surv1, "after no-op deletes")
    // re-ingest a deleted slice: the LATER batch resurrects it
    TextIndex.append(docs.filter(col("doc_id") >= 50 && col("doc_id") < 60),
      "doc_id", "text", dir)
    val surv2 = docs.filter(col("doc_id") < 400 &&
      !(col("doc_id") >= 60 && col("doc_id") < 120))
    check(surv2, "after resurrect")
    // optimize applies tombstones physically and retires them
    assert(TextIndex.optimize(spark, dir).nonEmpty)
    TextIndex.vacuumPacked(dir)
    val live = new java.io.File(dir).listFiles()
      .filter(_.getName.startsWith("batch="))
    assert(live.length === 1)
    assert(!new java.io.File(live.head, "deletes").exists(),
      "pack must not carry tombstones forward")
    check(surv2, "after physical apply")
    // and deleting from the packed index still works
    assert(TextIndex.delete(spark, dir,
      spark.range(0L, 10L).select(col("id").as("doc_id"))) === 10L)
    check(surv2.filter(col("doc_id") >= 10), "post-pack delete")
  }

  test("a string-typed tombstone file is honored, not dropped by the fold") {
    val dir = freshDir()
    val terms = Seq("data", "query")
    val corpus = docs.filter(col("doc_id") < 200)
    TextIndex.build(corpus, "doc_id", "text", dir, shards = 8)
    val victims = scores(TextIndex.bm25(spark, dir, terms)).map(_._1).take(3)
    assert(victims.length === 3)
    assert(TextIndex.delete(spark, dir, victims.toDF("doc_id")) === 3L)
    // replace the tombstone batch's key file with one whose id column is
    // a STRING (a foreign writer's file): small enough for the
    // driver-side fold, which must fall back to the distributed read
    // instead of keeping only numeric keys
    val tombBatch = new java.io.File(dir).listFiles()
      .filter(_.getName.startsWith("batch="))
      .maxBy(_.getName.stripPrefix("batch=").toLong)
    val deletes = new java.io.File(tombBatch, "deletes")
    org.apache.commons.io.FileUtils.deleteDirectory(deletes)
    victims.map(_.toString).toDF("doc_id").coalesce(1)
      .write.parquet(deletes.toString)
    val after = scores(TextIndex.bm25(spark, dir, terms))
    assert(!after.exists(r => victims.contains(r._1)),
      s"string-typed tombstones ignored: ${after.filter(r => victims.contains(r._1))}")
    assert(after === scores(TextAnalysis.bm25(
      corpus.filter(!col("doc_id").isin(victims: _*)), "doc_id", "text", terms)))
  }

  test("model-based fuzz: random append/replay/optimize/vacuum interleavings ≡ scan-based bm25 over the committed corpus") {
    val pool = docs.limit(400).collect()
      .map(r => (r.getLong(0), r.getString(1)))
    val terms = Seq("data", "query")
    for (scenario <- 0 until 4) {
      val rnd = new scala.util.Random(1000 + scenario)
      val dir = freshDir()
      var committed = Vector.empty[(Long, String)]
      var usedTokens = Vector.empty[String]
      def check(tag: String): Unit = {
        val got = scores(TextIndex.bm25(spark, dir, terms))
        val want = scores(TextAnalysis.bm25(
          committed.toDF("doc_id", "text"), "doc_id", "text", terms))
        assert(got === want, s"scenario $scenario $tag")
      }
      for (op <- 0 until 10) {
        val roll = if (op == 0) 0 else rnd.nextInt(10)
        roll match {
          case r if r <= 4 => // append fresh docs (unique re-ids)
            val k = 20 + rnd.nextInt(30)
            val rows = Vector.fill(k) {
              val (_, text) = pool(rnd.nextInt(pool.length))
              (scenario * 1000000L + op * 1000L + rnd.nextInt(1000), text)
            }.distinctBy(_._1)
            val token = s"s$scenario-op$op"
            assert(TextIndex.appendOnce(rows.toDF("doc_id", "text"),
              "doc_id", "text", dir, token, shards = 8))
            committed ++= rows
            usedTokens :+= token
          case r if r <= 5 && usedTokens.nonEmpty => // replay: must no-op
            val token = usedTokens(rnd.nextInt(usedTokens.length))
            assert(!TextIndex.appendOnce(
              Vector((999999999L, "replayed junk text")).toDF("doc_id", "text"),
              "doc_id", "text", dir, token, shards = 8))
          case 6 if committed.nonEmpty => // delete a random live subset
            val k = 1 + rnd.nextInt(math.min(15, committed.length))
            val victims = rnd.shuffle(committed.map(_._1)).take(k).toSet
            assert(TextIndex.delete(spark, dir,
              victims.toSeq.toDF("doc_id")) === victims.size.toLong)
            committed = committed.filterNot(r => victims(r._1))
          case r if r <= 8 => TextIndex.optimize(spark, dir)
          case _           => TextIndex.vacuumPacked(dir)
        }
        if (op % 3 == 2) check(s"op$op")
      }
      TextIndex.optimize(spark, dir)
      TextIndex.vacuumPacked(dir)
      check("final")
    }
  }

  test("a crashed append (staging garbage) is invisible; empty batches commit nothing") {
    val dir = freshDir()
    TextIndex.build(docs.limit(100), "doc_id", "text", dir, shards = 8)
    val before = scores(TextIndex.bm25(spark, dir, Seq("data")))
    // fake a crash: staging dir with a half-written postings payload
    val staging = java.nio.file.Paths.get(dir, "_staging", "dead-writer")
    Files.createDirectories(staging.resolve("postings"))
    Files.write(staging.resolve("postings").resolve("junk.bin"),
      Array[Byte](1, 2, 3))
    assert(scores(TextIndex.bm25(spark, dir, Seq("data"))) === before)
    TextIndex.cleanStaging(dir)
    assert(!Files.exists(java.nio.file.Paths.get(dir, "_staging")))
    // empty batch: no new batch dir
    val nBatches = new java.io.File(dir).list().count(_.startsWith("batch="))
    TextIndex.append(docs.filter(lit(false)), "doc_id", "text", dir)
    assert(new java.io.File(dir).list()
      .count(_.startsWith("batch=")) === nBatches)
    assert(scores(TextIndex.bm25(spark, dir, Seq("data"))) === before)
  }
}
