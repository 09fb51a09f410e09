package graft.tools

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

import graft.operators.Dedup
import graft.sources.VersionedCorpus
import graft.streaming.Streams

/** STREAMING LATENCY PROBE — the runtime-cost evidence for the
  * streaming tier (whose specs prove stream ≡ batch EQUIVALENCE but
  * not cost): the production ingestion loop
  * (`Streams.incrementalGatedAdmission` — Gopher gate → two-tier
  * admission vs a 100k-doc corpus → admitted rows COMMITTED to an
  * on-disk `VersionedCorpus` per micro-batch) driven by a
  * deterministic `rate-micro-batch` source at 100k total events
  * (default; `SPARK_GRAFT_STREAM_EVENTS` / `_BATCH` override), plus a
  * STATEFUL stage (`Streams.dedupWithinWatermark` — the re-delivery
  * guard in front of ingestion) whose state-store rows/bytes come from
  * the engine's own progress metrics.
  *
  * Reported per micro-batch (from `StreamingQueryListener` progress):
  * input rows, trigger wall ms, admitted rows, store generation; for
  * the stateful stage additionally state rows and state memory. One
  * JSON summary line per stage at the end (p50/p95/max batch latency).
  *
  * Text: the AdmitProbe generator (gate-passing, 10 % exact dups of
  * corpus docs, 10 % near-dups, 80 % fresh), so every batch pays the
  * real dedup tiers — not an empty fast path. */
object StreamProbe {

  private def textFor(key: org.apache.spark.sql.Column) =
    concat_ws(" ",
      transform(
        sequence(lit(1), lit(20) + pmod(xxhash64(key), lit(40)).cast("int")),
        i => {
          val h = xxhash64(key, i)
          when(pmod(h, lit(5)) === 0,
            element_at(
              array(lit("the"), lit("and"), lit("of"), lit("to"), lit("in")),
              (pmod(xxhash64(key, i, lit(7L)), lit(5)) + 1).cast("int")))
            .otherwise(concat(lit("tok"),
              lpad(pmod(h, lit(100L)).cast("string"), 2, "0")))
        }))

  def main(args: Array[String]): Unit = {
    val cpus = graft.GraftSession.cpus
    val spark = graft.GraftSession.local("graft-stream-probe")

    val events = sys.env.getOrElse("SPARK_GRAFT_STREAM_EVENTS", "100000").toLong
    val perBatch = sys.env.getOrElse("SPARK_GRAFT_STREAM_BATCH", "10000").toLong
    val nBatches = (events + perBatch - 1) / perBatch
    val corpusN = 100000L

    val corpus = spark.range(corpusN)
      .select(col("id").as("doc_id"), textFor(col("id")).as("text"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    corpus.count()

    // progress metrics arrive on the listener bus; key by query id
    val progress = new java.util.concurrent.ConcurrentLinkedQueue[
      org.apache.spark.sql.streaming.StreamingQueryProgress]()
    spark.streams.addListener(
      new org.apache.spark.sql.streaming.StreamingQueryListener {
        override def onQueryStarted(
            e: org.apache.spark.sql.streaming.StreamingQueryListener
              .QueryStartedEvent): Unit = ()
        override def onQueryProgress(
            e: org.apache.spark.sql.streaming.StreamingQueryListener
              .QueryProgressEvent): Unit = { progress.add(e.progress); () }
        override def onQueryTerminated(
            e: org.apache.spark.sql.streaming.StreamingQueryListener
              .QueryTerminatedEvent): Unit = ()
      })

    def rateSource(): DataFrame = spark.readStream
      .format("rate-micro-batch")
      .option("rowsPerBatch", perBatch)
      .option("numPartitions", math.min(cpus.toInt, 8))
      .load()
      .select((col("value") + lit(100000000L)).as("doc_id"),
        when(pmod(col("value"), lit(10)) === 0,
          textFor(pmod(col("value"), lit(corpusN))))
          .when(pmod(col("value"), lit(10)) === 1,
            concat(textFor(pmod(col("value"), lit(corpusN))), lit(" zqx")))
          .otherwise(textFor(col("value") + lit(200000000L)))
          .as("text"),
        col("timestamp"))

    def pct(xs: Seq[Double], p: Double): Double =
      if (xs.isEmpty) 0.0
      else xs.sorted.apply(math.min(xs.size - 1, (xs.size * p).toInt))

    def drainAndSummarize(stage: String, extra: String,
                          stateful: Boolean): Unit = {
      val ps = {
        val b = scala.collection.mutable.ArrayBuffer.empty[
          org.apache.spark.sql.streaming.StreamingQueryProgress]
        var p = progress.poll()
        while (p != null) { b += p; p = progress.poll() }
        b.filter(_.numInputRows > 0)
      }
      val lat = ps.map(_.durationMs.get("triggerExecution").toDouble).toSeq
      val stateRows =
        if (stateful)
          ps.flatMap(_.stateOperators.headOption.map(_.numRowsTotal)).toSeq
        else Seq.empty[Long]
      val stateMb =
        if (stateful)
          ps.flatMap(_.stateOperators.headOption
            .map(_.memoryUsedBytes / 1048576.0)).toSeq
        else Seq.empty[Double]
      println(f"""{"probe":"stream","stage":"$stage",""" +
        f""""events":$events,"batches":${lat.size},""" +
        f""""batch_ms_p50":${pct(lat, 0.5)}%.0f,""" +
        f""""batch_ms_p95":${pct(lat, 0.95)}%.0f,""" +
        f""""batch_ms_max":${if (lat.isEmpty) 0.0 else lat.max}%.0f,""" +
        (if (stateful)
          f""""state_rows_final":${stateRows.lastOption.getOrElse(0L)},""" +
          f""""state_mb_final":${stateMb.lastOption.getOrElse(0.0)}%.1f,"""
        else "") +
        extra +
        f""""cpus":$cpus}""")
    }

    // ---- stage 1: gated admission -> versioned-store commits --------
    val tmpRoot = java.nio.file.Files.createTempDirectory("graft-streamprobe")
    val storeRoot = s"$tmpRoot/corpus"
    val q1 = Streams.incrementalGatedAdmission(
      rateSource().select(col("doc_id"), col("text")), corpus,
      "doc_id", "text") { (adm, _) =>
        // the store commit IS the sink; admitted row counts land in the
        // generation manifests, so the probe reads them back job-free
        VersionedCorpus.append(adm, storeRoot); ()
      }
      .trigger(Trigger.ProcessingTime(0))
      .option("checkpointLocation", s"$tmpRoot/ckpt1")
      .start()
    // rate-micro-batch emits batches forever; stop after the event
    // budget (every batch admits rows under this mix, so gens track
    // batches 1:1)
    while (VersionedCorpus.commits(storeRoot).size < nBatches)
      Thread.sleep(200)
    q1.stop(); q1.awaitTermination()
    val commits = VersionedCorpus.commits(storeRoot)
    drainAndSummarize("gated_admission_store",
      f""""admitted":${commits.map(_.rows).sum},"store_gens":${commits.size},""",
      stateful = false)

    // ---- stage 2: stateful watermark dedup (the re-delivery guard) --
    val dedupCount = new java.util.concurrent.atomic.AtomicLong(0)
    val dd = Streams.dedupWithinWatermark(
      rateSource().select(col("timestamp").as("ts"),
        pmod(col("doc_id"), lit(50000L)).as("user_id"),
        col("doc_id").as("event_id")), "10 seconds")
    val q2 = dd.writeStream.foreachBatch { (b: DataFrame, _: Long) =>
      dedupCount.addAndGet(b.count()); ()
    }
      .trigger(Trigger.ProcessingTime(0))
      .option("checkpointLocation", s"$tmpRoot/ckpt2")
      .start()
    while (dedupCount.get() < events) Thread.sleep(200)
    q2.stop(); q2.awaitTermination()
    drainAndSummarize("watermark_dedup_state",
      f""""deduped_rows":${dedupCount.get()},""", stateful = true)

    Dedup.releaseAdmissionCaches()
    org.apache.commons.io.FileUtils.deleteDirectory(tmpRoot.toFile)
    spark.stop()
  }
}
