package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

final case class Ev(event_id: Long, ts: Timestamp, user_id: Long,
                    event_type: String, value: Double, props: String)

class StreamsSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private def t(s: String) = Timestamp.valueOf(s)

  private val rows = Seq(
    Ev(1, t("2024-01-01 00:01:00"), 1, "click", 1.0, "{}"),
    Ev(2, t("2024-01-01 00:05:00"), 1, "click", 2.0, "{}"),
    Ev(3, t("2024-01-01 00:59:00"), 2, "view", 3.0, "{}"),
    Ev(4, t("2024-01-01 01:10:00"), 1, "click", 4.0, "{}"),
    Ev(5, t("2024-01-01 02:00:00"), 2, "view", 5.0, "{}"))

  /** run a streaming transform over a MemoryStream feed to completion */
  private def runStream(transform: org.apache.spark.sql.DataFrame => org.apache.spark.sql.DataFrame,
                        batches: Seq[Seq[Ev]],
                        mode: String = "complete"): org.apache.spark.sql.DataFrame = {
    implicit val sql = spark.sqlContext
    val mem = MemoryStream[Ev]
    val name = s"sink_${System.nanoTime()}"
    val query = transform(mem.toDF())
      .writeStream.format("memory").queryName(name).outputMode(mode).start()
    batches.foreach { b => mem.addData(b); query.processAllAvailable() }
    query.stop()
    spark.table(name)
  }

  test("B34 tumbling agg: stream result equals batch result on same rows") {
    val streamed = runStream(Streams.tumblingAgg(_, "1 hour"), Seq(rows.take(3), rows.drop(3)))
      .orderBy("bucket", "event_type").collect.toSeq
    val batch = Streams.tumblingAgg(rows.toDF(), "1 hour")
      .orderBy("bucket", "event_type").collect.toSeq
    assert(streamed === batch)
    assert(batch.nonEmpty)
  }

  test("B35 session windows: gap splits sessions; batch ≡ stream") {
    val batch = Streams.sessionAgg(rows.toDF(), "30 minutes")
      .orderBy("user_id", "session_start")
      .as[(Long, Timestamp, Long)].collect.toSeq
    // user 1: events at 00:01,00:05 (one session), 01:10 (new session)
    // user 2: 00:59 and 02:00 are separate sessions
    assert(batch === Seq(
      (1L, t("2024-01-01 00:01:00"), 2L),
      (1L, t("2024-01-01 01:10:00"), 1L),
      (2L, t("2024-01-01 00:59:00"), 1L),
      (2L, t("2024-01-01 02:00:00"), 1L)))
  }

  test("B36 watermark: a row far behind the watermark is dropped") {
    val late = Ev(99, t("2024-01-01 00:00:30"), 9, "late", 9.0, "{}")
    // append mode + watermark: only windows older than the watermark emit
    val got = runStream(Streams.watermarkedTumbling(_, "1 hour", "10 minutes"),
      Seq(rows, Seq(late)), mode = "append").collect.toSeq
    // the late row lands in the 00:00 window, whose state was already
    // finalized once the watermark passed 01:00 — it must not appear
    val lateBuckets = got.filter(_.getAs[String]("event_type") == "late")
    assert(lateBuckets.isEmpty)
  }

  test("B37 dropDuplicatesWithinWatermark removes re-delivered event_ids") {
    val got = runStream(Streams.dedupWithinWatermark(_, "1 hour"),
      Seq(rows.take(2), rows.take(2), rows.drop(2)), mode = "append")
    assert(got.count === rows.size) // each id exactly once despite re-delivery
  }

  test("B37 flatMapGroupsWithState: running per-user totals accumulate across batches") {
    implicit val sql = spark.sqlContext
    val mem = MemoryStream[Ev]
    val name = s"sink_${System.nanoTime()}"
    val q = Streams.runningUserTotals(mem.toDF())
      .writeStream.format("memory").queryName(name).outputMode("append").start()
    mem.addData(rows.take(2))          // user 1: 2 events, sum 3.0
    q.processAllAvailable()
    mem.addData(rows.drop(2))          // user 1: +1 (4.0), user 2: 2 events
    q.processAllAvailable()
    q.stop()
    val out = spark.table(name)
      .as[(Long, Long, Double)].collect.toSeq
    // last emitted state per user reflects the full history
    val last = out.groupBy(_._1).map { case (u, xs) => u -> xs.maxBy(_._2) }
    assert(last(1L) === ((1L, 3L, 7.0)))
    assert(last(2L) === ((2L, 2L, 8.0)))
  }

  test("stream-stream interval join matches the batch join on the same rows") {
    implicit val sql = spark.sqlContext
    val clicks = Seq(
      Ev(1, t("2024-01-01 10:00:00"), 1, "click", 0, "{}"),
      Ev(2, t("2024-01-01 10:20:00"), 1, "click", 0, "{}"),
      Ev(3, t("2024-01-01 10:00:00"), 2, "click", 0, "{}"))
    val purchases = Seq(
      Ev(10, t("2024-01-01 10:05:00"), 1, "purchase", 0, "{}"),  // joins click 1
      Ev(11, t("2024-01-01 10:25:00"), 1, "purchase", 0, "{}"),  // joins clicks 1(25m)+2(5m)
      Ev(12, t("2024-01-01 11:30:00"), 2, "purchase", 0, "{}"))  // out of window
    val mc = MemoryStream[Ev]
    val mp = MemoryStream[Ev]
    val name = s"sink_${System.nanoTime()}"
    val q = Streams.clickPurchaseJoin(mc.toDF(), mp.toDF(), "30 MINUTES", "1 hour")
      .writeStream.format("memory").queryName(name).outputMode("append").start()
    mc.addData(clicks); mp.addData(purchases)
    q.processAllAvailable(); q.stop()
    val streamed = spark.table(name)
      .select("click_id", "purchase_id").as[(Long, Long)].collect.toSet
    val batch = Streams.clickPurchaseJoin(
      clicks.toDF(), purchases.toDF(), "30 MINUTES", "1 hour")
      .select("click_id", "purchase_id").as[(Long, Long)].collect.toSet
    assert(streamed === batch)
    assert(batch === Set((1L, 10L), (1L, 11L), (2L, 11L)))
  }

  test("declared streamingQueries: all unstarted streaming frames; windowed ones ≡ batch twins") {
    val dir = "/root/testdata/sf0.001"
    val sq = graft.SparkEntry.streamingQueries
    assert(sq.keySet === Set("s_tumbling", "s_sliding", "s_session",
      "s_watermark_tumbling", "s_dedup", "s_running_totals",
      "s_click_purchase", "s_doc_dedup"))
    sq.foreach { case (name, fn) =>
      assert(fn(spark, dir).isStreaming, s"$name must be a streaming frame")
    }
    def runComplete(name: String): org.apache.spark.sql.DataFrame = {
      val sink = s"sink_${System.nanoTime()}"
      val q = sq(name)(spark, dir).writeStream.format("memory")
        .queryName(sink).outputMode("complete").start()
      q.processAllAvailable(); q.stop()
      spark.table(sink)
    }
    val events = graft.Tables.load(spark, dir, "events")
    val st = runComplete("s_tumbling").orderBy("bucket", "event_type").collect.toSeq
    val bt = Streams.tumblingAgg(events, "1 hour")
      .orderBy("bucket", "event_type").collect.toSeq
    assert(st === bt && bt.nonEmpty)
    val ss = runComplete("s_session").orderBy("user_id", "session_start").collect.toSeq
    val bs = Streams.sessionAgg(events, "10 minutes")
      .orderBy("user_id", "session_start").collect.toSeq
    assert(ss === bs && bs.nonEmpty)
    val sl = runComplete("s_sliding").orderBy("bucket", "event_type").collect.toSeq
    val bl = Streams.slidingAgg(events, "1 hour", "30 minutes")
      .orderBy("bucket", "event_type").collect.toSeq
    assert(sl === bl && bl.nonEmpty)
    // the whole fixture arrives in one micro-batch, so the watermark
    // drops nothing and the mirror must equal the plain batch tumbling
    val sw = runComplete("s_watermark_tumbling")
      .orderBy("bucket", "event_type").collect.toSeq
    assert(sw === bt && bt.nonEmpty)
    // stateful mirrors, append mode, drained with processAllAvailable
    // (assertions are cumulative-safe, so batch splitting cannot flake)
    def runAppend(name: String): org.apache.spark.sql.DataFrame = {
      val sink = s"sink_${System.nanoTime()}"
      val q = sq(name)(spark, dir).writeStream.format("memory")
        .queryName(sink).outputMode("append").start()
      q.processAllAvailable(); q.stop()
      spark.table(sink)
    }
    // fixture event_ids are unique, so within-watermark dedup keeps all
    assert(runAppend("s_dedup").count() === events.count())
    // the document stream mirror keeps one row per distinct content
    // fingerprint (the fixture has no exact dups, so all pass — the
    // dropping behavior is pinned by the dedicated MemoryStream test)
    val docs = graft.Tables.load(spark, dir, "documents")
    val distinctFps = docs.select(
      graft.operators.Dedup.tokenFingerprint(col("text")).as("fp"))
      .distinct().count()
    assert(runAppend("s_doc_dedup").count() === distinctFps)
    // one emitted row per user in a single batch = that user's full total
    val rt = runAppend("s_running_totals")
      .groupBy("user_id").agg(max("n_events").as("n")).orderBy("user_id")
      .as[(Long, Long)].collect.toSeq
    val bt2 = events.groupBy("user_id").agg(count(lit(1)).as("n"))
      .orderBy("user_id").as[(Long, Long)].collect.toSeq
    assert(rt === bt2 && bt2.nonEmpty)
    // stream-stream interval join mirror: inner joins emit on match in
    // append mode, so a single-batch fixture replay equals the batch join
    val scp = runAppend("s_click_purchase")
      .select("click_id", "purchase_id").as[(Long, Long)].collect.toSet
    val bcp = Streams.clickPurchaseJoin(
      events.filter(col("event_type") === "click"),
      events.filter(col("event_type") === "purchase"),
      "10 MINUTES", "1 hour")
      .select("click_id", "purchase_id").as[(Long, Long)].collect.toSet
    assert(scp === bcp && bcp.nonEmpty)
  }

  test("s_doc_dedup: content dedup drops reordered dups across micro-batches") {
    implicit val sql = spark.sqlContext
    val mem = MemoryStream[(Long, String, String, String, Long)]
    val name = s"sink_${System.nanoTime()}"
    val q = Streams.contentDedup(
      mem.toDF().toDF("doc_id", "text", "lang", "source", "n_chars"))
      .writeStream.format("memory").queryName(name).outputMode("append").start()
    // batch 1: two distinct docs; batch 2: a reordered copy of doc 1 (same
    // token multiset), a byte copy of doc 2, and one genuinely new doc —
    // cross-batch state must drop both copies
    mem.addData(Seq((1L, "the quick fox", "en", "web", 13L),
      (2L, "other words", "en", "web", 11L)))
    q.processAllAvailable()
    mem.addData(Seq((3L, "fox quick the", "en", "web", 13L),
      (4L, "other words", "en", "web", 11L),
      (5L, "fresh content", "en", "web", 13L)))
    q.processAllAvailable(); q.stop()
    val kept = spark.table(name).select("doc_id").as[Long].collect.toSet
    assert(kept === Set(1L, 2L, 5L))
  }

  test("streaming CDC apply folds ordered change batches into the durable store") {
    implicit val sql = spark.sqlContext
    val root = java.nio.file.Files
      .createTempDirectory("graft-cdcstream").toString + "/corpus"
    graft.sources.VersionedCorpus.append(
      (0L until 10L).map(i => (i, s"v1 text $i", "en"))
        .toDF("doc_id", "text", "lang"), root)
    val mem = MemoryStream[(Long, String, String, String, Int)]
    val commits = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Long)]
    val q = Streams.incrementalCdcDurable(
      mem.toDF().toDF("doc_id", "text", "lang", "op", "seq"),
      root, "doc_id", "op", "seq", compactEvery = 4, vacuumAfter = true) {
        (bid, gU, gD) => commits.synchronized { commits += ((bid, gU, gD)) }; ()
      }.start()
    // batch 1: update 0-2 (two seq waves on key 2), delete 8
    mem.addData(Seq((0L, "u1 text 0", "en", "U", 1),
      (1L, "u1 text 1", "en", "U", 1),
      (2L, "u1 text 2", "en", "U", 1), (2L, "u2 text 2", "en", "U", 2),
      (8L, "", "en", "D", 1)))
    q.processAllAvailable()
    // batch 2: re-insert deleted 8, delete 0 (batch order beats batch 1)
    mem.addData(Seq((8L, "back text 8", "en", "U", 1),
      (0L, "", "en", "D", 1)))
    q.processAllAvailable(); q.stop()
    val state = graft.sources.VersionedCorpus.snapshot(spark, root)
      .select("doc_id", "text").as[(Long, String)].collect().toMap
    assert(state.keySet === (1L until 10L).toSet)        // 0 deleted, 8 back
    assert(state(1L) === "u1 text 1")
    assert(state(2L) === "u2 text 2")                    // seq 2 won in-batch
    assert(state(8L) === "back text 8")                  // resurrected
    assert(state(3L) === "v1 text 3")                    // untouched
    assert(commits.size === 2 && commits.forall { case (_, u, d) => u > 0 && d > 0 })
    // the compaction valve fired (batch 2 crossed every=4) and vacuumed:
    // the merged view survived the physical apply
    assert(graft.sources.VersionedCorpus.commits(root).exists(_.base))
  }

  test("streaming clean-then-admit ≡ batch cleanAndAdmit on the same rows") {
    implicit val sql = spark.sqlContext
    val dir = graft.TestSpark.sf0001
    val docs = graft.Tables.load(spark, dir, "documents")
    val corpus = docs.filter(col("doc_id") < 250)
    val incoming = docs.filter(col("doc_id") >= 250)
    val rows = incoming.select("doc_id", "text")
      .as[(Long, String)].collect.toSeq.sortBy(_._1)
    val mem = MemoryStream[(Long, String)]
    val admitted = scala.collection.mutable.ArrayBuffer.empty[(Long, String)]
    val q = Streams.incrementalCleanAdmission(
      mem.toDF().toDF("doc_id", "text"), corpus, "doc_id", "text") {
        (adm, _) =>
          val got = adm.select("doc_id", "text").as[(Long, String)].collect()
          admitted.synchronized { admitted ++= got }; ()
      }.start()
    rows.grouped(math.max(1, rows.size / 3 + 1)).foreach { b =>
      mem.addData(b); q.processAllAvailable()
    }
    q.stop()
    // stream-accumulated (id, cleaned-text) ≡ the one-shot batch kernel:
    // both tiers compare incoming only against the corpus, so the
    // micro-batch split cannot change admissions OR rewrites
    val batchRows = graft.operators.Dedup
      .cleanAndAdmit(incoming, corpus, "doc_id", "text")
      .select("doc_id", "text").as[(Long, String)].collect().toSet
    assert(admitted.toSet === batchRows && batchRows.nonEmpty)
    // the substring tier did real work in the chain: at least one
    // admitted doc was REWRITTEN (cleaned text differs from original)
    val orig = incoming.select("doc_id", "text")
      .as[(Long, String)].collect().toMap
    assert(batchRows.exists { case (id, t) => orig(id) != t })
  }

  test("streaming clean-then-admit over the gram-key index ≡ direct batch kernel") {
    // the r19 composition: the production micro-batch loop rides the
    // corpus's MAINTAINED gram-key artifact (Bloom router + key table)
    // instead of re-shuffling corpus grams per batch — admissions and
    // cleaned text must equal the direct (index-free) batch kernel when
    // the index is current
    implicit val sql = spark.sqlContext
    val dir = graft.TestSpark.sf0001
    val docs = graft.Tables.load(spark, dir, "documents")
    val corpus = docs.filter(col("doc_id") < 250)
    val incoming = docs.filter(col("doc_id") >= 250)
    val tmp = java.nio.file.Files.createTempDirectory("graft-stream-gramidx")
    try {
      graft.operators.SpanDedup.buildGramIndex(corpus, "doc_id", "text",
        tmp.toString, k = 8)
      val rows = incoming.select("doc_id", "text")
        .as[(Long, String)].collect.toSeq.sortBy(_._1)
      val mem = MemoryStream[(Long, String)]
      val admitted = scala.collection.mutable.ArrayBuffer.empty[(Long, String)]
      val q = Streams.incrementalCleanAdmission(
        mem.toDF().toDF("doc_id", "text"), corpus, "doc_id", "text",
        gramIndexPath = Some(tmp.toString)) {
          (adm, _) =>
            val got = adm.select("doc_id", "text").as[(Long, String)].collect()
            admitted.synchronized { admitted ++= got }; ()
        }.start()
      rows.grouped(math.max(1, rows.size / 3 + 1)).foreach { b =>
        mem.addData(b); q.processAllAvailable()
      }
      q.stop()
      val direct = graft.operators.Dedup
        .cleanAndAdmit(incoming, corpus, "doc_id", "text")
        .select("doc_id", "text").as[(Long, String)].collect().toSet
      assert(admitted.toSet === direct && direct.nonEmpty)
    } finally org.apache.commons.io.FileUtils.deleteDirectory(tmp.toFile)
  }

  test("streaming quality-gated admission ≡ batch gateAndAdmit on the same rows") {
    implicit val sql = spark.sqlContext
    val dir = graft.TestSpark.sf0001
    val docs = graft.Tables.load(spark, dir, "documents")
    val corpus = docs.filter(col("doc_id") < 250)
    val incoming = docs.filter(col("doc_id") >= 250)
    val rows = incoming.select("doc_id", "text")
      .as[(Long, String)].collect.toSeq.sortBy(_._1)
    val mem = MemoryStream[(Long, String)]
    val admitted = scala.collection.mutable.ArrayBuffer.empty[Long]
    val q = Streams.incrementalGatedAdmission(
      mem.toDF().toDF("doc_id", "text"), corpus, "doc_id", "text") {
        (adm, _) =>
          val ids = adm.select("doc_id").as[Long].collect()
          admitted.synchronized { admitted ++= ids }; ()
      }.start()
    rows.grouped(math.max(1, rows.size / 3 + 1)).foreach { b =>
      mem.addData(b); q.processAllAvailable()
    }
    q.stop()
    // the gate is row-local and admission is cross-set-only, so the
    // micro-batch split cannot change any decision
    val batchIds = graft.operators.Dedup
      .gateAndAdmit(incoming, corpus, "doc_id", "text")
      .select("doc_id").as[Long].collect().toSet
    assert(admitted.toSet === batchIds && batchIds.nonEmpty)
    // the gate did real work: strictly fewer admitted than the ungated
    // kernel admits, and every admitted doc passes the gate
    val ungated = graft.operators.Dedup
      .admitIncoming(incoming, corpus, "doc_id", "text")
      .select("doc_id").as[Long].collect().toSet
    assert(batchIds.subsetOf(ungated) && batchIds.size < ungated.size)
    val passing = incoming
      .filter(graft.operators.TextAnalysis.gopherPass(col("text")))
      .select("doc_id").as[Long].collect().toSet
    assert(batchIds.subsetOf(passing))
  }

  test("streaming incremental admission ≡ batch incr_admit on the same rows") {
    implicit val sql = spark.sqlContext
    val dir = graft.TestSpark.sf0001
    val docs = graft.Tables.load(spark, dir, "documents")
    val corpus = docs.filter(col("doc_id") < 250)
    val incoming = docs.filter(col("doc_id") >= 250)
    // replay the declared incr_admit query's incoming slice as a stream,
    // split across THREE micro-batches — admission compares incoming only
    // against the corpus, so the accumulated admissions must equal the
    // one-shot batch kernel regardless of the split
    val rows = incoming
      .select("doc_id", "text", "lang", "source", "n_chars")
      .as[(Long, String, String, String, Long)].collect.toSeq.sortBy(_._1)
    val mem = MemoryStream[(Long, String, String, String, Long)]
    val admitted = scala.collection.mutable.ArrayBuffer.empty[Long]
    val q = Streams.incrementalAdmission(
      mem.toDF().toDF("doc_id", "text", "lang", "source", "n_chars"),
      corpus, "doc_id", "text") { (adm, _) =>
        val ids = adm.select("doc_id").as[Long].collect()
        admitted.synchronized { admitted ++= ids }
      }.start()
    rows.grouped(math.max(1, rows.size / 3 + 1)).foreach { b =>
      mem.addData(b); q.processAllAvailable()
    }
    q.stop()
    // stream-accumulated admissions ≡ the batch kernel on the same rows
    val batchIds = graft.operators.Dedup
      .admitIncoming(incoming, corpus, "doc_id", "text")
      .select("doc_id").as[Long].collect().toSet
    assert(admitted.toSet === batchIds && batchIds.nonEmpty)
    // and ≡ the DECLARED incr_admit row (same kernel, grouped per lang)
    val declared = graft.SparkEntry.queries("incr_admit")(spark, dir)
      .as[(String, Long, Long)].collect.toSeq.sortBy(_._1)
    val streamedGrouped = docs
      .join(admitted.toSeq.distinct.toDF("doc_id"), "doc_id")
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_admitted"), min(col("doc_id")).as("first_id"))
      .as[(String, Long, Long)].collect.toSeq.sortBy(_._1)
    assert(streamedGrouped === declared)
  }

  test("evolving admission: earlier batches' admissions reject later dups; static corpus would admit them") {
    implicit val sql = spark.sqlContext
    // corpus doc 1; doc 21 is its reordered copy (exact-tier reject in
    // BOTH modes). Doc 20 repeats admitted doc 10's token cycle one more
    // time: the token MULTISET differs (different fingerprint, passes
    // the exact tier) but the distinct 3-gram shingle set is identical
    // (same minhash signature → every band collides; Jaccard = 1.0) —
    // a deterministic NEAR-DUP of an earlier ADMISSION, not of the
    // initial corpus. Doc 30 is a byte-copy of admitted doc 11.
    val corpus = Seq(
      (1L, "alpha beta gamma delta epsilon zeta eta theta iota kappa"))
      .toDF("doc_id", "text")
    val batches = Seq(
      Seq((10L, "r s t r s t"),
        (11L, "one two three four five six")),
      Seq((20L, "r s t r s t r s t"),
        (21L, "theta eta zeta epsilon delta gamma beta alpha kappa iota"),
        (22L, "completely fresh vocabulary nothing overlaps here at all")),
      Seq((30L, "one two three four five six"),
        (31L, "brand new words appearing only now in this stream")))
    def runAdmission(evolving: Boolean): Set[Long] = {
      val mem = MemoryStream[(Long, String)]
      val admitted = scala.collection.mutable.ArrayBuffer.empty[Long]
      val docs = mem.toDF().toDF("doc_id", "text")
      val sink = (adm: org.apache.spark.sql.DataFrame, _: Long) => {
        val ids = adm.select("doc_id").as[Long].collect()
        admitted.synchronized { admitted ++= ids }; ()
      }
      val q = (if (evolving)
        Streams.incrementalAdmissionEvolving(docs, corpus, "doc_id", "text")(sink)
      else
        Streams.incrementalAdmission(docs, corpus, "doc_id", "text")(sink))
        .start()
      batches.foreach { b => mem.addData(b); q.processAllAvailable() }
      q.stop()
      admitted.toSet
    }
    assert(runAdmission(evolving = true) === Set(10L, 11L, 22L, 31L))
    // the static form compares only against the FROZEN initial corpus,
    // so the cross-batch dups 20 and 30 sail through — the evolving
    // corpus is what rejects them
    assert(runAdmission(evolving = false) ===
      Set(10L, 11L, 20L, 22L, 30L, 31L))
  }

  test("streaming VECTOR admission ≡ batch admitIncomingVectors on the same rows") {
    implicit val sql = spark.sqlContext
    val dir = graft.TestSpark.sf0001
    val emb = graft.Tables.load(spark, dir, "embeddings")
    val corpus = emb.filter(col("vec_id") < 250)
    val incoming = emb.filter(col("vec_id") >= 250)
    // replay the incoming vectors as a stream split across THREE
    // micro-batches — the kernel compares incoming only against the
    // corpus, so the accumulated admissions must equal the one-shot
    // batch kernel regardless of the split. minCosine is set low enough
    // that the near-uniform fixture produces real rejections (a 0.9
    // threshold would make the test vacuously "everything admitted").
    val rows = incoming.select("vec_id", "embedding")
      .as[(Long, Seq[Float])].collect.toSeq.sortBy(_._1)
    val mem = MemoryStream[(Long, Seq[Float])]
    val admitted = scala.collection.mutable.ArrayBuffer.empty[Long]
    val q = Streams.incrementalVectorAdmission(
      mem.toDF().toDF("vec_id", "embedding"),
      corpus, "vec_id", "embedding", minCosine = 0.3) { (adm, _) =>
        val ids = adm.select("vec_id").as[Long].collect()
        admitted.synchronized { admitted ++= ids }
      }.start()
    rows.grouped(math.max(1, rows.size / 3 + 1)).foreach { b =>
      mem.addData(b); q.processAllAvailable()
    }
    q.stop()
    val batchIds = graft.operators.Dedup
      .admitIncomingVectors(incoming, corpus, "vec_id", "embedding",
        minCosine = 0.3)
      .select("vec_id").as[Long].collect().toSet
    assert(admitted.toSet === batchIds && batchIds.nonEmpty)
    // the threshold actually bites: some incoming vector was rejected
    val nIncoming = rows.size
    assert(batchIds.size < nIncoming)
  }

  test("streaming SEMANTIC admission ≡ batch admitIncomingSemantic on the same rows") {
    implicit val sql = spark.sqlContext
    // a tiny celled corpus (axis cells) — the kernel is cross-set-only,
    // so any micro-batch split must accumulate to the one-shot result
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    val centroids = spark.createDataFrame(
      java.util.Arrays.asList(
        Row(0, Seq(1.0, 0.0)), Row(1, Seq(0.0, 1.0))),
      StructType(Seq(
        StructField("cluster_id", IntegerType, nullable = false),
        StructField("centroid", ArrayType(DoubleType), nullable = false))))
    val corpusIdx = Seq(
      (10L, Seq(1.0f, 0.05f), 0), (11L, Seq(0.05f, 1.0f), 1)
    ).toDF("vec_id", "embedding", "cluster_id")
    val rows = Seq(
      (1L, Seq(1.0f, 0.0f)), (2L, Seq(0.7f, -0.7f)),
      (3L, Seq(0.04f, 1.0f)), (4L, Seq(-1.0f, 0.9f)),
      (5L, Seq(0.99f, 0.01f)))
    val incoming = rows.toDF("vec_id", "embedding")
    val mem = MemoryStream[(Long, Seq[Float])]
    val admitted = scala.collection.mutable.ArrayBuffer.empty[Long]
    val q = Streams.incrementalSemanticAdmission(
      mem.toDF().toDF("vec_id", "embedding"),
      corpusIdx, "vec_id", "embedding", centroids, minCosine = 0.9) {
        (adm, _) =>
          val ids = adm.select("vec_id").as[Long].collect()
          admitted.synchronized { admitted ++= ids }
      }.start()
    rows.grouped(2).foreach { b => mem.addData(b); q.processAllAvailable() }
    q.stop()
    val batchIds = graft.operators.Dedup
      .admitIncomingSemantic(incoming, corpusIdx, "vec_id", "embedding",
        centroids, minCosine = 0.9)
      .select("vec_id").as[Long].collect().toSet
    assert(admitted.toSet === batchIds && batchIds.nonEmpty)
    assert(batchIds.size < rows.size) // the threshold actually bites
  }

  test("semantic ingestion: the index table is the evolving corpus; earlier appends reject later dups") {
    implicit val sql = spark.sqlContext
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    val centroids = spark.createDataFrame(
      java.util.Arrays.asList(
        Row(0, Seq(1.0, 0.0)), Row(1, Seq(0.0, 1.0))),
      StructType(Seq(
        StructField("cluster_id", IntegerType, nullable = false),
        StructField("centroid", ArrayType(DoubleType), nullable = false))))
    val tmp = java.nio.file.Files.createTempDirectory("graft-semingest").toString
    val path = s"$tmp/idx"
    try {
      // seed index: one corpus vector per cell
      val corpus = Seq((100L, Seq(1.0f, 0.0f)), (101L, Seq(0.05f, 1.0f)))
        .toDF("vec_id", "embedding")
      graft.operators.IvfIndex.appendPartitioned(corpus, "vec_id",
        graft.operators.IvfIndex.assignTo(corpus, "vec_id", "embedding",
          centroids), path)
      // batch 1: 1 dups corpus 100 (rejected); 2 is novel in cell 0
      // batch 2: 3 dups the batch-1 ADMITTED vector 2 (rejected only if
      //          the loop reads its own appends); 4 novel in cell 1
      val batches = Seq(
        Seq((1L, Seq(1.0f, 0.01f)), (2L, Seq(0.7f, -0.7f))),
        Seq((3L, Seq(0.71f, -0.69f)), (4L, Seq(-0.9f, 1.0f))))
      val mem = MemoryStream[(Long, Seq[Float])]
      val admitted = scala.collection.mutable.ArrayBuffer.empty[Long]
      val q = Streams.admissionLoop(
        mem.toDF().toDF("vec_id", "embedding"),
        Streams.CorpusState.IvfTable(path, Seq("vec_id", "embedding", "cluster_id")),
        (b, c) => graft.operators.Dedup.admitIncomingSemantic(b, c.rows, "vec_id", "embedding",
          centroids, minCosine = 0.9),
        Some(Streams.IvfAppend(path, "vec_id", "embedding", centroids))) {
          (adm, _) =>
            val ids = adm.select("vec_id").as[Long].collect()
            admitted.synchronized { admitted ++= ids }
        }.start()
      val meter = graft.obs.JobMeter.install(spark)
      val jobs = batches.map { b =>
        val c0 = meter.read()
        mem.addData(b); q.processAllAvailable()
        (meter.read() - c0).jobs
      }
      q.stop()
      spark.sparkContext.removeSparkListener(meter)
      assert(admitted.toSet === Set(2L, 4L))
      // the one count that gates the index append also materializes the
      // admitted rows' checkpoint: an eager checkpoint plus that count
      // ran 14 jobs per micro-batch
      assert(jobs === Seq(13L, 13L))
      // the table holds corpus + admitted, each exactly once
      val ids = spark.read.parquet(path).select("vec_id")
        .as[Long].collect().toSeq
      assert(ids.sorted === Seq(2L, 4L, 100L, 101L))
    } finally org.apache.commons.io.FileUtils
      .deleteDirectory(new java.io.File(tmp))
  }

  test("evolving VECTOR admission: earlier batches' admissions reject later dups") {
    implicit val sql = spark.sqlContext
    // corpus holds one axis vector. Scaled copies have cosine exactly
    // 1.0 AND identical hyperplane signs (the bucket id is
    // scale-invariant), so every planted dup is guaranteed to meet its
    // original inside a shared LSH bucket — no reliance on random
    // near-collisions. 20 duplicates ADMITTED 10 (scaled), 30
    // byte-copies ADMITTED 11, 21 duplicates the CORPUS vector: only
    // the evolving corpus rejects 20 and 30.
    val corpus = Seq((1L, Seq(1.0, 0.0, 0.0, 0.0)))
      .toDF("vec_id", "embedding")
    val batches = Seq(
      Seq((10L, Seq(0.0, 1.0, 0.0, 0.0)),
        (11L, Seq(0.0, 0.0, 1.0, 0.0))),
      Seq((20L, Seq(0.0, 2.0, 0.0, 0.0)),
        (21L, Seq(3.0, 0.0, 0.0, 0.0)),
        (22L, Seq(0.0, 0.0, 0.0, 1.0))),
      Seq((30L, Seq(0.0, 0.0, 1.0, 0.0)),
        (31L, Seq(-1.0, -1.0, -1.0, -1.0))))
    def runAdmission(evolving: Boolean): Set[Long] = {
      val mem = MemoryStream[(Long, Seq[Double])]
      val admitted = scala.collection.mutable.ArrayBuffer.empty[Long]
      val vecs = mem.toDF().toDF("vec_id", "embedding")
      val sink = (adm: org.apache.spark.sql.DataFrame, _: Long) => {
        val ids = adm.select("vec_id").as[Long].collect()
        admitted.synchronized { admitted ++= ids }; ()
      }
      val q = (if (evolving)
        Streams.admissionLoop(vecs,
          Streams.CorpusState.Evolving(corpus, Seq("vec_id", "embedding")),
          (b, c) => graft.operators.Dedup.admitIncomingVectors(b, c.rows, "vec_id", "embedding"))(sink)
      else
        Streams.incrementalVectorAdmission(
          vecs, corpus, "vec_id", "embedding")(sink))
        .start()
      batches.foreach { b => mem.addData(b); q.processAllAvailable() }
      q.stop()
      admitted.toSet
    }
    assert(runAdmission(evolving = true) === Set(10L, 11L, 22L, 31L))
    // the static form compares only against the FROZEN initial corpus:
    // the cross-batch dups 20 and 30 sail through
    assert(runAdmission(evolving = false) ===
      Set(10L, 11L, 20L, 22L, 30L, 31L))
  }

  test("incrementalVectorIngestion: the maintained index answers probes over the deduped corpus") {
    implicit val sql = spark.sqlContext
    // initial corpus: 3 axis-ish vectors, indexed with k=2 centroids.
    // The stream carries two admissible vectors, one scaled dup of the
    // corpus (rejected by admission) and one byte-dup of an EARLIER
    // ADMISSION (rejected by the evolving corpus) — neither may reach
    // the index table.
    val corpusRows = Seq(
      (1L, Seq(1.0, 0.0, 0.0, 0.0)),
      (2L, Seq(0.0, 1.0, 0.0, 0.0)),
      (3L, Seq(0.0, 0.0, 1.0, 0.0)))
    val corpus = corpusRows.toDF("vec_id", "embedding")
    val root = java.nio.file.Files.createTempDirectory("graft-vecingest")
    val path = s"$root/ivf"
    val (assign, cents) = graft.operators.IvfIndex.build(
      corpus, "vec_id", "embedding", k = 2, iters = 2)
    try {
      graft.operators.IvfIndex.writePartitioned(corpus, "vec_id", assign, path)
      val batches = Seq(
        Seq((10L, Seq(0.0, 0.0, 0.0, 1.0)),
          (11L, Seq(0.5, 0.5, 0.0, 0.0))),
        Seq((20L, Seq(2.0, 0.0, 0.0, 0.0)),     // scaled dup of corpus 1
          (21L, Seq(0.0, 0.0, 0.0, 1.0)),       // byte-dup of admitted 10
          (22L, Seq(0.0, 0.5, 0.5, 0.0))))
      val admitted = scala.collection.mutable.ArrayBuffer.empty[Long]
      val mem = MemoryStream[(Long, Seq[Double])]
      val q = Streams.admissionLoop(
        mem.toDF().toDF("vec_id", "embedding"),
        Streams.CorpusState.Evolving(corpus, Seq("vec_id", "embedding")),
        (b, c) => graft.operators.Dedup.admitIncomingVectors(b, c.rows, "vec_id", "embedding"),
        Some(Streams.IvfAppend(path, "vec_id", "embedding", cents))) { (adm, _) =>
          val ids = adm.select("vec_id").as[Long].collect()
          admitted.synchronized { admitted ++= ids }
        }.start()
      batches.foreach { b => mem.addData(b); q.processAllAvailable() }
      q.stop()
      assert(admitted.toSet === Set(10L, 11L, 22L))
      // the index table now holds EXACTLY corpus ∪ admissions — the
      // dups never reached it
      val indexed = spark.read.parquet(path)
        .select("vec_id").as[Long].collect.toSet
      assert(indexed === Set(1L, 2L, 3L, 10L, 11L, 22L))
      // and an exhaustive probe over the maintained table equals brute
      // force over the deduped corpus (the index stayed searchable
      // through every append)
      val want = corpusRows ++ Seq(
        (10L, Seq(0.0, 0.0, 0.0, 1.0)),
        (11L, Seq(0.5, 0.5, 0.0, 0.0)),
        (22L, Seq(0.0, 0.5, 0.5, 0.0)))
      val exact = graft.operators.Search.topK(
        want.toDF("vec_id", "embedding"), "embedding", "vec_id",
        Seq(0.6, 0.5, 0.1, 0.0), k = 3)
        .select("vec_id").as[Long].collect.toSeq
      val probed = graft.operators.IvfIndex.probePartitioned(spark, path,
        "vec_id", "embedding", cents, Seq(0.6, 0.5, 0.1, 0.0),
        k = 3, nprobe = 2)
        .select("vec_id").as[Long].collect.toSeq
      assert(probed === exact)
    } finally { assign.unpersist(); cents.unpersist() }
  }

  test("durable vector ingestion: a NEW writer resumes corpus AND index from disk") {
    implicit val sql = spark.sqlContext
    // the capstone fixture split across TWO writers: batch 2 carries a
    // scaled dup of the corpus and a byte-dup of a vector ADMITTED BY
    // THE FIRST WRITER — its rejection proves the second writer sees
    // the first's commits (both states on disk, nothing in memory)
    val corpusRows = Seq(
      (1L, Seq(1.0, 0.0, 0.0, 0.0)),
      (2L, Seq(0.0, 1.0, 0.0, 0.0)),
      (3L, Seq(0.0, 0.0, 1.0, 0.0)))
    val corpus = corpusRows.toDF("vec_id", "embedding")
    val tmp = java.nio.file.Files.createTempDirectory("graft-vecdur")
    val root = s"$tmp/corpus"
    val path = s"$tmp/ivf"
    val (assign, cents) = graft.operators.IvfIndex.build(
      corpus, "vec_id", "embedding", k = 2, iters = 2)
    try {
      graft.sources.VersionedCorpus.append(corpus, root)
      graft.operators.IvfIndex.writePartitioned(corpus, "vec_id", assign, path)
      val admitted = scala.collection.mutable.ArrayBuffer.empty[Long]
      def runWriter(batch: Seq[(Long, Seq[Double])]): Unit = {
        val mem = MemoryStream[(Long, Seq[Double])]
        val q = Streams.admissionLoop(
          mem.toDF().toDF("vec_id", "embedding"),
          Streams.CorpusState.Durable(root, Seq("vec_id", "embedding")),
          (b, c) => graft.operators.Dedup.admitIncomingVectors(b, c.rows, "vec_id", "embedding"),
          Some(Streams.IvfAppend(path, "vec_id", "embedding", cents))) { (adm, _) =>
            val ids = adm.select("vec_id").as[Long].collect()
            admitted.synchronized { admitted ++= ids }; ()
          }.start()
        mem.addData(batch); q.processAllAvailable(); q.stop()
      }
      runWriter(Seq((10L, Seq(0.0, 0.0, 0.0, 1.0)),
        (11L, Seq(0.5, 0.5, 0.0, 0.0))))
      runWriter(Seq((20L, Seq(2.0, 0.0, 0.0, 0.0)), // scaled dup of corpus 1
        (21L, Seq(0.0, 0.0, 0.0, 1.0)),             // byte-dup of admitted 10
        (22L, Seq(0.0, 0.5, 0.5, 0.0))))
      assert(admitted.toSet === Set(10L, 11L, 22L))
      // corpus store and index table both hold exactly corpus ∪ admissions
      val stored = graft.sources.VersionedCorpus.snapshot(spark, root)
        .select("vec_id").as[Long].collect.toSet
      val indexed = spark.read.parquet(path)
        .select("vec_id").as[Long].collect.toSet
      assert(stored === Set(1L, 2L, 3L, 10L, 11L, 22L))
      assert(indexed === stored)
      // nothing to reconcile: the index kept up with every commit
      assert(graft.operators.IvfIndex.reconcilePartitioned(
        graft.sources.VersionedCorpus.snapshot(spark, root),
        "vec_id", "embedding", cents, path) === 0L)
      // and the maintained index still answers probes exactly
      val want = corpusRows ++ Seq(
        (10L, Seq(0.0, 0.0, 0.0, 1.0)),
        (11L, Seq(0.5, 0.5, 0.0, 0.0)),
        (22L, Seq(0.0, 0.5, 0.5, 0.0)))
      val exact = graft.operators.Search.topK(
        want.toDF("vec_id", "embedding"), "embedding", "vec_id",
        Seq(0.6, 0.5, 0.1, 0.0), k = 3)
        .select("vec_id").as[Long].collect.toSeq
      val probed = graft.operators.IvfIndex.probePartitioned(spark, path,
        "vec_id", "embedding", cents, Seq(0.6, 0.5, 0.1, 0.0),
        k = 3, nprobe = 2)
        .select("vec_id").as[Long].collect.toSeq
      assert(probed === exact)
    } finally { assign.unpersist(); cents.unpersist() }
  }

  test("evolving admission writer restarted from batch 0 resets to the initial corpus") {
    implicit val sql = spark.sqlContext
    // run the same single batch through the SAME writer twice: the
    // second start()'s batch 0 must re-admit doc 10 (corpus reset), not
    // reject it against the first run's leftover in-memory generation
    val corpus = Seq((1L, "alpha beta gamma")).toDF("doc_id", "text")
    val writerRuns = scala.collection.mutable.ArrayBuffer.empty[Set[Long]]
    val writer = {
      val mem = MemoryStream[(Long, String)]
      val docs = mem.toDF().toDF("doc_id", "text")
      val w = Streams.incrementalAdmissionEvolving(
        docs, corpus, "doc_id", "text") { (adm, _) =>
          val ids = adm.select("doc_id").as[Long].collect().toSet
          writerRuns.synchronized { writerRuns += ids }; ()
        }
      (mem, w)
    }
    for (_ <- 1 to 2) {
      val q = writer._2.start()
      writer._1.addData(Seq((10L, "one two three")))
      q.processAllAvailable(); q.stop()
    }
    assert(writerRuns.forall(_ === Set(10L)) && writerRuns.size >= 2)
  }

  test("a fresh evolving writer resumed from a checkpoint fails instead of re-admitting") {
    // the evolving corpus lives in process memory, not the checkpoint: a
    // NEW writer resuming at batchId > 0 has no generation, and admitting
    // against the initial corpus would re-admit doc 30, a byte-copy of
    // doc 11 that the first writer already admitted
    val tmpRoot = java.nio.file.Files.createTempDirectory("graft-evockpt")
    val srcDir = tmpRoot.toString + "/incoming"
    val cpDir = tmpRoot.toString + "/checkpoint"
    val corpus = Seq(
      (1L, "alpha beta gamma delta epsilon zeta eta theta iota kappa"))
      .toDF("doc_id", "text")
    val schema = new org.apache.spark.sql.types.StructType()
      .add("doc_id", org.apache.spark.sql.types.LongType)
      .add("text", org.apache.spark.sql.types.StringType)
    def drop(rows: Seq[(Long, String)]): Unit =
      rows.toDF("doc_id", "text").coalesce(1)
        .write.mode("append").parquet(srcDir)
    val admitted = scala.collection.mutable.ArrayBuffer.empty[Long]
    def startQ() = Streams.incrementalAdmissionEvolving(
        spark.readStream.schema(schema)
          .option("maxFilesPerTrigger", 1).parquet(srcDir),
        corpus, "doc_id", "text") { (adm, _) =>
          val ids = adm.select("doc_id").as[Long].collect()
          admitted.synchronized { admitted ++= ids }; ()
        }
      .option("checkpointLocation", cpDir)
      .start()
    try {
      drop(Seq((10L, "r s t r s t"), (11L, "one two three four five six")))
      val q1 = startQ(); q1.processAllAvailable(); q1.stop()
      assert(admitted.sorted.toSeq === Seq(10L, 11L))
      drop(Seq((30L, "one two three four five six"),
        (31L, "brand new words appearing only now in this stream")))
      val q2 = startQ()
      val err = try intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
        q2.processAllAvailable()
      } finally q2.stop()
      val cause = Iterator.iterate[Throwable](err)(_.getCause)
        .takeWhile(_ != null).collectFirst { case e: IllegalStateException => e }
      assert(cause.exists(_.getMessage.contains("CorpusState.Durable")), err.toString)
      assert(admitted.sorted.toSeq === Seq(10L, 11L))
    } finally org.apache.commons.io.FileUtils.deleteDirectory(tmpRoot.toFile)
  }

  test("every corpus state releases its batch caches once the query stops") {
    implicit val sql = spark.sqlContext
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    import Streams.CorpusState._
    val tmp = java.nio.file.Files.createTempDirectory("graft-loopcache")
    val corpus = Seq(
      (1L, "alpha beta gamma delta epsilon zeta eta theta iota kappa"))
      .toDF("doc_id", "text")
    val root = s"$tmp/corpus"
    graft.sources.VersionedCorpus.append(corpus, root)
    val textBatches = Seq(
      Seq((10L, "r s t r s t"), (11L, "one two three four five six")),
      Seq((20L, "r s t r s t r s t"),
        (22L, "completely fresh vocabulary nothing overlaps here at all")),
      Seq((30L, "one two three four five six"),
        (31L, "brand new words appearing only now in this stream")))
    val centroids = spark.createDataFrame(
      java.util.Arrays.asList(Row(0, Seq(1.0, 0.0)), Row(1, Seq(0.0, 1.0))),
      StructType(Seq(
        StructField("cluster_id", IntegerType, nullable = false),
        StructField("centroid", ArrayType(DoubleType), nullable = false))))
    val path = s"$tmp/idx"
    val seed = Seq((100L, Seq(1.0f, 0.0f))).toDF("vec_id", "embedding")
    graft.operators.IvfIndex.appendPartitioned(seed, "vec_id",
      graft.operators.IvfIndex.assignTo(seed, "vec_id", "embedding", centroids),
      path)
    val vecBatches = Seq(
      Seq((1L, Seq(1.0f, 0.01f)), (2L, Seq(0.7f, -0.7f))),
      Seq((3L, Seq(0.71f, -0.69f)), (4L, Seq(-0.9f, 1.0f))),
      Seq((5L, Seq(0.0f, 1.0f))))
    val textAdmit = (b: org.apache.spark.sql.DataFrame, c: Streams.Corpus) =>
      graft.operators.Dedup.admitIncoming(b, c.rows, "doc_id", "text")
    // RDDs still persisted after 3 micro-batches and a stop, beyond
    // those persisted before the query started
    def run[T](state: Streams.CorpusState,
               admit: (org.apache.spark.sql.DataFrame,
                 Streams.Corpus) => org.apache.spark.sql.DataFrame,
               mem: MemoryStream[T], cols: Seq[String], batches: Seq[Seq[T]],
               index: Option[Streams.IvfAppend] = None): Set[Int] = {
      val before = spark.sparkContext.getPersistentRDDs.keySet
      val q = Streams.admissionLoop(mem.toDF().toDF(cols: _*), state, admit, index) {
        (adm, _) => adm.count(); ()
      }.start()
      batches.foreach { b => mem.addData(b); q.processAllAvailable() }
      q.stop()
      (spark.sparkContext.getPersistentRDDs.keySet -- before).toSet
    }
    try {
      val textCols = Seq("doc_id", "text")
      val left = Seq(
        "Static" -> run(Static(corpus), textAdmit,
          MemoryStream[(Long, String)], textCols, textBatches),
        "Evolving" -> run(Evolving(corpus, textCols), textAdmit,
          MemoryStream[(Long, String)], textCols, textBatches),
        "Durable" -> run(Durable(root, textCols), textAdmit,
          MemoryStream[(Long, String)], textCols, textBatches),
        "IvfTable" -> run(IvfTable(path, Seq("vec_id", "embedding", "cluster_id")),
          (b, c) => graft.operators.Dedup.admitIncomingSemantic(b, c.rows, "vec_id", "embedding",
            centroids),
          MemoryStream[(Long, Seq[Float])], Seq("vec_id", "embedding"), vecBatches,
          Some(Streams.IvfAppend(path, "vec_id", "embedding", centroids)))).toMap
      // only the evolving corpus's final generation outlives the query
      assert(left("Evolving").size === 1, left)
      assert(left.removed("Evolving").values.forall(_.isEmpty), left)
    } finally org.apache.commons.io.FileUtils.deleteDirectory(tmp.toFile)
  }

  test("running vocab sketch: stream-maintained state ≡ one-shot batch sketch") {
    implicit val sql = spark.sqlContext
    val dir = graft.TestSpark.sf0001
    val docs = graft.Tables.load(spark, dir, "documents")
    val rows = docs.select("doc_id", "lang", "text")
      .as[(Long, String, String)].collect().toSeq.sortBy(_._1)
    def streamedFinal(nBatches: Int): Map[String, Double] = {
      val mem = MemoryStream[(Long, String, String)]
      @volatile var last: Map[String, Double] = Map.empty
      val q = Streams.runningVocabSketch(
        mem.toDF().toDF("doc_id", "lang", "text"), "lang", "text") { (est, _) =>
          last = est.as[(String, Double)].collect().toMap
        }.start()
      rows.grouped(math.max(1, rows.size / nBatches + 1)).foreach { b =>
        mem.addData(b); q.processAllAvailable()
      }
      q.stop()
      last
    }
    val batchEst = graft.operators.Sketch.mergeSketches(
        graft.operators.Sketch.vocabSketches(docs, "lang", "text", lit(0)),
        Seq(col("lang")))
      .select(col("lang"),
        graft.operators.Sketch.estimate(col("sketch")).as("est"))
      .as[(String, Double)].collect().toMap
    // any micro-batching accumulates to the one-shot batch sketch
    assert(streamedFinal(3) === batchEst && batchEst.nonEmpty)
    assert(streamedFinal(5) === batchEst)
  }

  test("running heavy hitters: streamed state answers EXACTLY like the batch pipeline") {
    implicit val sql = spark.sqlContext
    val dir = graft.TestSpark.sf0001
    val docs = graft.Tables.load(spark, dir, "documents")
    val rows = docs.select("doc_id", "lang", "text")
      .as[(Long, String, String)].collect().toSeq
    // stream micro-batches = the batch pipeline's pmod-3 batch
    // assignment, so the per-batch candidate sets coincide; the CMS
    // merge is exact, so the final answers must be IDENTICAL (the HLL
    // twin can only claim estimate-level equality)
    val byBatch = rows.groupBy(_._1 % 3).toSeq.sortBy(_._1).map(_._2)
    val mem = MemoryStream[(Long, String, String)]
    @volatile var last: Seq[(String, Long, String, Long)] = Seq.empty
    val q = Streams.runningHeavyHitters(
      mem.toDF().toDF("doc_id", "lang", "text"), "lang", "text") { (hh, _) =>
        last = hh.as[(String, Long, String, Long)].collect().toSeq
      }.start()
    byBatch.foreach { b => mem.addData(b); q.processAllAvailable() }
    q.stop()
    val batch = graft.operators.Sketch.heavyHitters(docs, "lang", "text",
        pmod(col("doc_id"), lit(3)))
      .as[(String, Long, String, Long)].collect().toSeq
    assert(batch.nonEmpty)
    assert(last.sortBy(r => (r._1, r._2)) === batch.sortBy(r => (r._1, r._2)))
  }

  test("B33 file source: streaming read of the fixture parquet matches batch count") {
    val dir = "/root/testdata/sf0.001"
    // file sources need a landing DIRECTORY; stage the fixture file into one
    val landing = java.nio.file.Files.createTempDirectory("graft-landing")
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(s"$dir/events.parquet"),
      landing.resolve("events.parquet"))
    // the fixture has nanos timestamps; stream with the long-read then convert
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val schema = org.apache.spark.sql.types.StructType(
      Streams.eventSchema.map(f =>
        if (f.name == "ts") f.copy(dataType = org.apache.spark.sql.types.LongType) else f))
    val stream = spark.readStream.schema(schema)
      .parquet(landing.toString)
      .withColumn("ts", timestamp_micros(expr("ts div 1000")))
    val name = s"sink_${System.nanoTime()}"
    val q = Streams.tumblingAgg(stream, "1 day")
      .writeStream.format("memory").queryName(name).outputMode("complete").start()
    q.processAllAvailable(); q.stop()
    val streamedTotal = spark.table(name).agg(sum("n")).as[Long].head
    val batchTotal = graft.Tables.load(spark, dir, "events").count()
    assert(streamedTotal === batchTotal)
  }

  test("durable admission ≡ evolving admission, and a NEW writer resumes from the on-disk corpus") {
    implicit val sql = spark.sqlContext
    // the evolving-admission fixture: 21 exact-dups corpus doc 1, 20
    // near-dups ADMITTED doc 10, 30 byte-copies ADMITTED doc 11 — so the
    // expected admissions are Set(10, 11, 22, 31), and 30's rejection
    // requires the corpus to have durably grown with batch 1's output
    val corpus = Seq(
      (1L, "alpha beta gamma delta epsilon zeta eta theta iota kappa"))
      .toDF("doc_id", "text")
    val earlier = Seq(
      Seq((10L, "r s t r s t"),
        (11L, "one two three four five six")),
      Seq((20L, "r s t r s t r s t"),
        (21L, "theta eta zeta epsilon delta gamma beta alpha kappa iota"),
        (22L, "completely fresh vocabulary nothing overlaps here at all")))
    val later =
      Seq((30L, "one two three four five six"),
        (31L, "brand new words appearing only now in this stream"))
    val root = java.nio.file.Files
      .createTempDirectory("graft-vcstream").toString + "/corpus"
    graft.sources.VersionedCorpus.append(corpus, root)
    val admitted = scala.collection.mutable.ArrayBuffer.empty[Long]
    val sink = (adm: org.apache.spark.sql.DataFrame, _: Long) => {
      val ids = adm.select("doc_id").as[Long].collect()
      admitted.synchronized { admitted ++= ids }; ()
    }
    def runWriter(batches: Seq[Seq[(Long, String)]]): Unit = {
      val mem = MemoryStream[(Long, String)]
      val q = Streams.incrementalAdmissionDurable(
        mem.toDF().toDF("doc_id", "text"), root, "doc_id", "text")(sink)
        .start()
      batches.foreach { b => mem.addData(b); q.processAllAvailable() }
      q.stop()
    }
    runWriter(earlier)
    assert(admitted.toSet === Set(10L, 11L, 22L))
    // an entirely NEW writer (fresh source, fresh query) over the same
    // root: doc 30 duplicates doc 11 — admitted by the FIRST writer —
    // and must still be rejected, because the corpus state is the
    // directory, not process memory (the in-memory evolving form is
    // explicitly single-start and cannot give this)
    runWriter(Seq(later))
    assert(admitted.toSet === Set(10L, 11L, 22L, 31L))
    // the store accumulated exactly the admissions (corpus seed + one
    // committed generation per admitting batch)
    val stored = graft.sources.VersionedCorpus.snapshot(spark, root)
      .select("doc_id").as[Long].collect().toSet
    assert(stored === Set(1L, 10L, 11L, 22L, 31L))
  }

  test("durable admission survives kill + restart against a real checkpoint dir") {
    // the restart contract incrementalAdmissionDurable promises by
    // construction, exercised for real: a FILE source + checkpointLocation,
    // the query stopped cold, new data arriving while it is DOWN, and a
    // fresh start() resuming from the SAME checkpoint. The admitted
    // buffer keeps DUPLICATES — if the resumed query re-replayed the
    // already-committed files, 10/11 would re-emit (they'd be silently
    // re-rejected by the corpus, so only the sink-call log can catch a
    // broken offset resume).
    val tmpRoot = java.nio.file.Files.createTempDirectory("graft-ckpt")
    val root = tmpRoot.toString + "/corpus"
    val srcDir = tmpRoot.toString + "/incoming"
    val cpDir = tmpRoot.toString + "/checkpoint"
    graft.sources.VersionedCorpus.append(
      Seq((1L, "alpha beta gamma delta epsilon zeta eta theta iota kappa"))
        .toDF("doc_id", "text"), root)
    val schema = new org.apache.spark.sql.types.StructType()
      .add("doc_id", org.apache.spark.sql.types.LongType)
      .add("text", org.apache.spark.sql.types.StringType)
    def drop(rows: Seq[(Long, String)]): Unit =
      rows.toDF("doc_id", "text").coalesce(1)
        .write.mode("append").parquet(srcDir)
    val admitted = scala.collection.mutable.ArrayBuffer.empty[Long]
    def startQ() = Streams.incrementalAdmissionDurable(
        spark.readStream.schema(schema)
          .option("maxFilesPerTrigger", 1).parquet(srcDir),
        root, "doc_id", "text") { (adm, _) =>
          val ids = adm.select("doc_id").as[Long].collect()
          admitted.synchronized { admitted ++= ids }; ()
        }
      .option("checkpointLocation", cpDir)
      .start()
    // the kernel's corpus keys live beside the store: after each run,
    // every committed generation has its sidecar
    def sidecarsCover(): Unit = {
      val dir = java.nio.file.Paths.get(root, "_derived",
        graft.operators.Dedup.CorpusKeys.name("doc_id", "text"))
      val gens = graft.sources.VersionedCorpus.commits(root).map(_.gen)
      assert(gens.forall(g => java.nio.file.Files.isDirectory(dir.resolve(s"gen=$g"))),
        s"generations $gens, sidecars under $dir")
    }
    drop(Seq((10L, "r s t r s t"), (11L, "one two three four five six")))
    val q1 = startQ(); q1.processAllAvailable(); q1.stop()
    assert(admitted.sorted.toSeq === Seq(10L, 11L))
    sidecarsCover()
    // new files land while the writer is DOWN — the replay it was killed
    // in the middle of; each file is its own micro-batch on resume
    drop(Seq((20L, "r s t r s t r s t"), // near-dup of 10 → reject
      (22L, "completely fresh vocabulary nothing overlaps here at all")))
    drop(Seq((30L, "one two three four five six"), // byte-dup of 11 → reject
      (31L, "brand new words appearing only now in this stream")))
    val q2 = startQ(); q2.processAllAvailable(); q2.stop()
    // exactly-once sink emission across the restart: no 10/11 re-emit,
    // each admission exactly once
    assert(admitted.sorted.toSeq === Seq(10L, 11L, 22L, 31L))
    assert(graft.sources.VersionedCorpus.snapshot(spark, root)
      .select("doc_id").as[Long].collect().toSet
      === Set(1L, 10L, 11L, 22L, 31L))
    sidecarsCover()
  }

  test("CDC + view maintenance loop: view ≡ full aggregate after every batch, across a restart") {
    val tmpRoot = java.nio.file.Files.createTempDirectory("graft-cdcview")
    val root = tmpRoot.toString + "/corpus"
    val view = tmpRoot.toString + "/view"
    val cursor = tmpRoot.toString + "/viewcursor.txt"
    val srcDir = tmpRoot.toString + "/changes"
    val cpDir = tmpRoot.toString + "/checkpoint"
    graft.sources.VersionedCorpus.append(
      (0L until 20L).map(i => (i, i % 4, s"v1 $i"))
        .toDF("k", "bucket", "payload"), root)
    graft.sources.VersionedCorpus.pinKey(root, "k")
    val aggs = Seq(count(lit(1)).as("n"),
      sum(length(col("payload")).cast("long")).as("chars"))
    val schema = new org.apache.spark.sql.types.StructType()
      .add("k", org.apache.spark.sql.types.LongType)
      .add("bucket", org.apache.spark.sql.types.LongType)
      .add("payload", org.apache.spark.sql.types.StringType)
      .add("op", org.apache.spark.sql.types.StringType)
      .add("seq", org.apache.spark.sql.types.IntegerType)
    def drop(rows: Seq[(Long, Long, String, String, Int)]): Unit =
      rows.toDF("k", "bucket", "payload", "op", "seq").coalesce(1)
        .write.mode("append").parquet(srcDir)
    def startQ() = Streams.incrementalCdcWithView(
        spark.readStream.schema(schema)
          .option("maxFilesPerTrigger", 1).parquet(srcDir),
        root, view, cursor, "k", "op", "seq", "bucket", aggs)()
      .option("checkpointLocation", cpDir)
      .start()
    def viewNow = graft.sources.IncrementalView.read(spark, view)
      .as[(Long, Long, Long)].collect().sortBy(_._1).toSeq
    def fullAgg = graft.sources.VersionedCorpus.snapshot(spark, root)
      .groupBy(col("bucket")).agg(aggs.head, aggs.tail: _*)
      .as[(Long, Long, Long)].collect().sortBy(_._1).toSeq
    // batch 1: an update that MOVES a row between buckets + a delete
    drop(Seq((3L, 9L, "moved 3", "U", 1), (8L, 0L, "", "D", 1)))
    val q1 = startQ(); q1.processAllAvailable(); q1.stop()
    assert(viewNow === fullAgg)
    assert(viewNow.exists(_._1 == 9L))
    // changes land while the writer is DOWN; resume from the checkpoint
    drop(Seq((3L, 9L, "", "D", 1), (40L, 2L, "new 40", "U", 1)))
    val q2 = startQ(); q2.processAllAvailable(); q2.stop()
    assert(viewNow === fullAgg)
    assert(!viewNow.exists(_._1 == 9L), "emptied bucket must vanish")
  }

  test("text-index ingestion: indexed BM25 ≡ scan-based over the streamed corpus, across a kill + restart") {
    val tmpRoot = java.nio.file.Files.createTempDirectory("graft-tixstream")
    val idx = tmpRoot.toString + "/index"
    val srcDir = tmpRoot.toString + "/incoming"
    val cpDir = tmpRoot.toString + "/checkpoint"
    val schema = new org.apache.spark.sql.types.StructType()
      .add("doc_id", org.apache.spark.sql.types.LongType)
      .add("text", org.apache.spark.sql.types.StringType)
    def drop(rows: Seq[(Long, String)]): Unit =
      rows.toDF("doc_id", "text").coalesce(1)
        .write.mode("append").parquet(srcDir)
    val commits = scala.collection.mutable.ArrayBuffer.empty[(Long, Boolean)]
    // optimizeEvery = 3: the pack-and-vacuum valve fires mid-stream,
    // and the final scores must not notice
    def startQ() = Streams.incrementalTextIndexIngestion(
        spark.readStream.schema(schema)
          .option("maxFilesPerTrigger", 1).parquet(srcDir),
        idx, "doc_id", "text", shards = 8, optimizeEvery = 3) { (bid, ok) =>
          commits.synchronized { commits += ((bid, ok)) }; ()
        }
      .option("checkpointLocation", cpDir)
      .start()
    val wave1 = Seq(1L -> "data table fast row", 2L -> "data data query")
    val wave2 = Seq(3L -> "table scan merge data", 4L -> "vector fast fast table")
    drop(wave1.take(1)); drop(wave1.drop(1))
    val q1 = startQ(); q1.processAllAvailable(); q1.stop()
    drop(wave2.take(1)); drop(wave2.drop(1))
    val q2 = startQ(); q2.processAllAvailable(); q2.stop()
    assert(commits.forall(_._2), s"a replay double-committed: $commits")
    val corpus = (wave1 ++ wave2).toDF("doc_id", "text")
    for (terms <- Seq(Seq("data"), Seq("table", "fast"))) {
      val got = graft.operators.TextIndex.bm25(spark, idx, terms)
        .as[(Long, Double)].collect().sortBy(_._1).toSeq
      val want = graft.operators.TextAnalysis
        .bm25(corpus, "doc_id", "text", terms)
        .as[(Long, Double)].collect().sortBy(_._1).toSeq
      assert(got === want, s"terms $terms")
    }
    org.apache.commons.io.FileUtils.deleteDirectory(tmpRoot.toFile)
  }

  test("media ingestion loop: exact + perceptual dedup on ingest, durable index, convergent under replay and restart") {
    import graft.operators.Multimodal
    val tmpRoot = java.nio.file.Files.createTempDirectory("graft-mediastream")
    val corpus = s"$tmpRoot/corpus"; val index = s"$tmpRoot/index"
    val srcDir = s"$tmpRoot/media"; val cpDir = s"$tmpRoot/checkpoint"
    val grid = Multimodal.syntheticGridMedia(spark, nGroups = 6, perGroup = 5)
      .collect()
    val videoA = Multimodal.MediaRow(900L, "video",
      Array.tabulate[Byte](64)(j => (j * 7).toByte), "mkv", 64L)
    def drop(rows: Seq[Multimodal.MediaRow]): Unit =
      spark.createDataset(rows).toDF().coalesce(1)
        .write.mode("append").parquet(srcDir)
    val seen = scala.collection.mutable.ArrayBuffer.empty[Long]
    def startQ() = Streams.incrementalMediaIngestion(
        spark.readStream.schema(Multimodal.mediaSchema)
          .option("maxFilesPerTrigger", 1).parquet(srcDir),
        corpus, index) { (_, n) => seen.synchronized { seen += n }; () }
      .option("checkpointLocation", cpDir)
      .start()
    // batch 1: one rep per group 0-3, plus a video
    drop(grid.filter(r => r.media_id / 5 < 4 && r.media_id % 5 == 0).toSeq :+ videoA)
    // batch 2: brightness-shifted dupes of groups 0-1 (new ids), a
    // NOVEL group-4 rep, a byte-exact video replay under a new id, a
    // novel video
    drop(grid.filter(r => r.media_id / 5 < 2 && r.media_id % 5 == 2)
      .map(r => r.copy(media_id = r.media_id + 100)).toSeq ++ Seq(
      grid.find(_.media_id === 20L).get,
      videoA.copy(media_id = 901L),
      Multimodal.MediaRow(902L, "video",
        Array.tabulate[Byte](64)(j => (j * 13 + 1).toByte), "mkv", 64L)))
    val q1 = startQ(); q1.processAllAvailable(); q1.stop()
    assert(seen.toSeq === Seq(5L, 2L), s"admission counts: $seen")
    // while the loop is down: a batch that is ALL dupes (replayed
    // payloads under fresh ids) plus one novel group-5 rep
    drop(Seq(
      grid.find(_.media_id === 0L).get.copy(media_id = 200L),
      videoA.copy(media_id = 903L),
      grid.find(_.media_id === 25L).get))
    val q2 = startQ(); q2.processAllAvailable(); q2.stop()
    assert(seen.last === 1L, s"only the group-5 rep is novel: $seen")
    val stored = graft.sources.VersionedCorpus.snapshot(spark, corpus)
    assert(stored.select(col("media_id")).collect().map(_.getLong(0)).toSet ===
      Set(0L, 5L, 10L, 15L, 900L, 20L, 902L, 25L))
    // the index mirrors the corpus exactly (crash window closed) and
    // holds both hash tiers
    val idx = graft.sources.VersionedCorpus.snapshot(spark, index)
    assert(idx.select(col("media_id")).collect().map(_.getLong(0)).toSet ===
      stored.select(col("media_id")).collect().map(_.getLong(0)).toSet)
    assert(idx.filter(col("phash").isNotNull).count() === 6L) // images
    assert(idx.filter(col("payload_hash").isNull).count() === 0L)
    org.apache.commons.io.FileUtils.deleteDirectory(tmpRoot.toFile)
  }

  test("streaming erasure loop: forget requests applied across all three artifacts, convergent under replay") {
    val tmpRoot = java.nio.file.Files.createTempDirectory("graft-forgetstream")
    val corpus = s"$tmpRoot/corpus"; val tix = s"$tmpRoot/tix"
    val vix = s"$tmpRoot/vix"; val srcDir = s"$tmpRoot/requests"
    val cpDir = s"$tmpRoot/checkpoint"
    val docs = graft.Tables.load(spark, graft.TestSpark.sf0001, "documents")
      .select(col("doc_id"), col("text"))
    val emb = graft.Tables.load(spark, graft.TestSpark.sf0001, "embeddings")
    graft.sources.VersionedCorpus.append(docs, corpus)
    graft.sources.VersionedCorpus.pinKey(corpus, "doc_id")
    graft.operators.TextIndex.build(docs, "doc_id", "text", tix, shards = 8)
    val (assign, cents) = graft.operators.IvfIndex.build(
      emb, "vec_id", "embedding", k = 4, iters = 2)
    graft.operators.IvfIndex.writePartitioned(emb, "vec_id", assign, vix)
    val schema = new org.apache.spark.sql.types.StructType()
      .add("doc_id", org.apache.spark.sql.types.LongType)
    def drop(ids: Seq[Long]): Unit =
      ids.toDF("doc_id").coalesce(1).write.mode("append").parquet(srcDir)
    val seen = scala.collection.mutable.ArrayBuffer.empty[Map[String, Long]]
    def startQ() = Streams.incrementalForget(
        spark.readStream.schema(schema)
          .option("maxFilesPerTrigger", 1).parquet(srcDir),
        corpusRoot = Some(corpus), textIndexDir = Some(tix),
        vectorIndexPath = Some(vix)) { (_, removed) =>
          seen.synchronized { seen += removed }; ()
        }
      .option("checkpointLocation", cpDir)
      .start()
    drop(Seq(10L, 11L, 12L)); drop(Seq(20L, 21L))
    val q1 = startQ(); q1.processAllAvailable(); q1.stop()
    assert(seen.map(_("text_index")).sum === 5L)
    // requests landing while the loop is down, incl. a REPLAYED id —
    // the second forget of 12 must be a no-op leg-by-leg
    drop(Seq(12L, 30L))
    val q2 = startQ(); q2.processAllAvailable(); q2.stop()
    assert(seen.last("text_index") === 1L, s"replayed id re-forgotten: $seen")
    val gone = Set(10L, 11L, 12L, 20L, 21L, 30L)
    assert(graft.sources.VersionedCorpus.snapshot(spark, corpus)
      .filter(col("doc_id").isin(gone.toSeq: _*)).count() === 0L)
    assert(graft.operators.TextIndex.bm25(spark, tix, Seq("data"))
      .filter(col("doc_id").isin(gone.toSeq: _*)).count() === 0L)
    assert(graft.operators.IvfIndex.probePartitioned(spark, vix, "vec_id",
        "embedding", cents, graft.QueryVectors.q1, k = 500, nprobe = 4)
      .filter(col("vec_id").isin(gone.toSeq: _*)).count() === 0L)
    org.apache.commons.io.FileUtils.deleteDirectory(tmpRoot.toFile)
  }

  test("CDC apply survives kill + restart against a real checkpoint dir") {
    // same restart harness as the admission loop, for the CDC writer: a
    // FILE source of change files + checkpointLocation, stopped cold,
    // changes arriving while DOWN, a fresh start() resuming from the
    // SAME checkpoint. The commit log catches a broken offset resume:
    // a re-replayed change file would commit extra generations.
    val tmpRoot = java.nio.file.Files.createTempDirectory("graft-cdcckpt")
    val root = tmpRoot.toString + "/corpus"
    val srcDir = tmpRoot.toString + "/changes"
    val cpDir = tmpRoot.toString + "/checkpoint"
    graft.sources.VersionedCorpus.append(
      (0L until 5L).map(i => (i, s"v1 $i")).toDF("k", "payload"), root)
    val schema = new org.apache.spark.sql.types.StructType()
      .add("k", org.apache.spark.sql.types.LongType)
      .add("payload", org.apache.spark.sql.types.StringType)
      .add("op", org.apache.spark.sql.types.StringType)
      .add("seq", org.apache.spark.sql.types.IntegerType)
    def drop(rows: Seq[(Long, String, String, Int)]): Unit =
      rows.toDF("k", "payload", "op", "seq").coalesce(1)
        .write.mode("append").parquet(srcDir)
    def startQ() = Streams.incrementalCdcDurable(
        spark.readStream.schema(schema)
          .option("maxFilesPerTrigger", 1).parquet(srcDir),
        root, "k", "op", "seq")()
      .option("checkpointLocation", cpDir)
      .start()
    drop(Seq((1L, "u1 1", "U", 1), (4L, "", "D", 1)))
    val q1 = startQ(); q1.processAllAvailable(); q1.stop()
    val commitsAfterFirst = graft.sources.VersionedCorpus.commits(root).size
    // changes land while the writer is DOWN
    drop(Seq((4L, "back 4", "U", 1), (2L, "", "D", 1)))
    val q2 = startQ(); q2.processAllAvailable(); q2.stop()
    val state = graft.sources.VersionedCorpus.snapshot(spark, root)
      .as[(Long, String)].collect().toMap
    assert(state === Map(0L -> "v1 0", 1L -> "u1 1", 3L -> "v1 3",
      4L -> "back 4"))
    // the resumed query applied exactly the one pending file: one
    // upsert + one delete generation beyond the first run's commits
    assert(graft.sources.VersionedCorpus.commits(root).size
      === commitsAfterFirst + 2)
  }

  test("durable admission with auto-compaction: same admissions, bounded generation tail") {
    implicit val sql = spark.sqlContext
    val corpus = Seq(
      (1L, "alpha beta gamma delta epsilon zeta eta theta iota kappa"))
      .toDF("doc_id", "text")
    val batches = Seq(
      Seq((10L, "r s t r s t"),
        (11L, "one two three four five six")),
      Seq((20L, "r s t r s t r s t"),
        (21L, "theta eta zeta epsilon delta gamma beta alpha kappa iota"),
        (22L, "completely fresh vocabulary nothing overlaps here at all")),
      Seq((30L, "one two three four five six"),
        (31L, "brand new words appearing only now in this stream")))
    val root = java.nio.file.Files
      .createTempDirectory("graft-vccompact").toString + "/corpus"
    graft.sources.VersionedCorpus.append(corpus, root)
    val admitted = scala.collection.mutable.ArrayBuffer.empty[Long]
    val mem = MemoryStream[(Long, String)]
    val q = Streams.incrementalAdmissionDurable(
      mem.toDF().toDF("doc_id", "text"), root, "doc_id", "text",
      compactEvery = 2, vacuumAfter = true) { (adm, _) =>
        val ids = adm.select("doc_id").as[Long].collect()
        admitted.synchronized { admitted ++= ids }; ()
      }.start()
    batches.foreach { b => mem.addData(b); q.processAllAvailable() }
    q.stop()
    // compaction changed the layout, never the answers
    assert(admitted.toSet === Set(10L, 11L, 22L, 31L))
    val commits = graft.sources.VersionedCorpus.commits(root)
    assert(commits.exists(_.base), "the valve never compacted")
    assert(commits.reverse.takeWhile(!_.base).size < 2)
    assert(graft.sources.VersionedCorpus.snapshot(spark, root)
      .select("doc_id").as[Long].collect().toSet
      === Set(1L, 10L, 11L, 22L, 31L))
  }
}
