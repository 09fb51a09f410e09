package graftbench

import java.nio.file.{Files, Path, StandardCopyOption}

import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}

import graft.sources.VersionedCorpus

/** ingest_admit: the LLM-pipeline write path. The production loop
  * `Streams.incrementalAdmissionDurable(compactEvery = 8)` over a file
  * stream, one generated batch file per trigger, against a store seeded
  * with `BaseDocs` documents that is re-read from disk every batch. */
object IngestAdmit {
  val BaseDocs = 20000
  val BatchSize = 2000
  /** Nominal batch time on a 4-core machine: a run times
    * `seconds / NominalBatchS` batches, so every run on any machine admits
    * the same documents into a store of the same size. */
  val NominalBatchS = 2.5
  val CompactEvery = 8
  /** The seed lands as this many appended generations, so the store's
    * compaction valve fires on the first timed batch of every run. */
  val SeedGenerations = CompactEvery - 2
  val SetupReps = 3

  val schema = StructType(Seq(StructField("doc_id", LongType), StructField("text", StringType)))

  final case class Batch(index: Int, fileBytes: Long, startUs: Long, endUs: Long,
                         traced: Boolean, compacted: Boolean, progress: Progress)

  def run(ctx: Ctx): Outcome = {
    val spark = ctx.spark
    val inDir = ctx.dir("inputs")
    var inputs: Gen.IngestInputs = null
    var files: IndexedSeq[Path] = null
    var root: String = null
    val timed = math.max(if (ctx.trace) 3 else 2, math.round(ctx.seconds / NominalBatchS).toInt)
    val repS = (1 to SetupReps).map { rep =>
      val t0 = System.nanoTime()
      inputs = Gen.ingest(ctx.seed, BaseDocs, timed + 1, BatchSize)
      files = Gen.writeIngest(inputs, inDir)
      if (root != null) deleteTree(java.nio.file.Paths.get(root))
      root = ctx.work.resolve(s"store-$rep").toString
      val seedDf = spark.read.schema(schema).json(inDir.resolve("base.jsonl").toString)
      (0 until SeedGenerations).foreach { g =>
        VersionedCorpus.append(seedDf.filter(col("doc_id") % SeedGenerations === g), root)
      }
      (System.nanoTime() - t0) / 1e9
    }
    val seedGens = VersionedCorpus.commits(root).map(_.gen).toSet
    val setupS = ctx.setupS(repS)

    val streamDir = ctx.dir("stream")
    val progress = new ProgressListener
    spark.streams.addListener(progress)
    val listener = new BenchListener
    val query = graft.streaming.Streams.incrementalAdmissionDurable(
        spark.readStream.schema(schema).option("maxFilesPerTrigger", 1)
          .json(streamDir.toString),
        root, "doc_id", "text", compactEvery = CompactEvery)()
      .option("checkpointLocation", ctx.work.resolve("checkpoint").toString)
      .start()

    // one file per trigger: each batch file is renamed into the stream
    // directory once the previous batch has committed. Batch 0 warms the
    // query up and is not timed; a traced run traces every other timed
    // batch, the compaction batch among them.
    val batches = scala.collection.mutable.ArrayBuffer[Batch]()
    var t0 = 0L
    var b = 0
    while (b < files.size) {
      if (b == 1) t0 = System.nanoTime()
      val traced = ctx.trace && b % 2 == 1
      if (traced) spark.sparkContext.addSparkListener(listener)
      val gensBefore = VersionedCorpus.commits(root).count(_.base)
      val startUs = Clock.nowUs()
      Files.move(files(b), streamDir.resolve(files(b).getFileName),
        StandardCopyOption.ATOMIC_MOVE)
      query.processAllAvailable()
      val endUs = Clock.nowUs()
      val p = progress.await(b + 1)
      BenchListener.drain(spark.sparkContext)
      if (traced) spark.sparkContext.removeSparkListener(listener)
      batches += Batch(b, Files.size(streamDir.resolve(files(b).getFileName)), startUs, endUs,
        traced, VersionedCorpus.commits(root).count(_.base) > gensBefore, p)
      b += 1
    }
    val streamWallS = (System.nanoTime() - t0) / 1e9
    query.stop()
    spark.streams.removeListener(progress)

    // ---- checks: the store re-read from disk after the stream stopped ----
    val rows = inputs.batches.take(batches.size).flatten
    val timedDocs = rows.size - BatchSize
    val stored = VersionedCorpus.snapshot(spark, root).select("doc_id", "text").collect()
    val storedMap = stored.iterator.map(r => r.getLong(0) -> r.getString(1)).toMap
    val commits = VersionedCorpus.commits(root)
    val admittedRows = commits.filter(c => !seedGens(c.gen) && c.kind == "append").map(_.rows).sum
    val adm = Check.admission(inputs.baseTexts, rows, storedMap, stored.length,
      BaseDocs + admittedRows)
    val batchIdsOk = batches.map(_.progress.batchId).distinct.size == batches.size &&
      batches.forall(_.progress.inputRows == BatchSize)
    val problems = adm.problems ++ (if (batchIdsOk) Nil else Seq("batches and triggers do not pair up"))
    // a fresh document rejected or an exact copy admitted is a wrong answer
    val failedDocs = (adm.fresh - adm.freshAdmitted) +
      rows.count(r => r._3 == Gen.Kind.Exact && storedMap.contains(r._1))

    // ---- metrics ----------------------------------------------------------
    val plain = batches.drop(1).filterNot(_.traced)
    val trig = plain.map(_.progress.durations.getOrElse("triggerExecution", 0L).toDouble)
    val (tailName, tailMs) = Stats.tail(trig)
    val docsPerS = timedDocs / streamWallS
    val recall = adm.plantedRejected.toDouble / math.max(1, adm.planted)
    val liveTextBytes = stored.iterator.map(_.getString(1).getBytes("UTF-8").length.toLong).sum
    val storeBytes = Files.walk(java.nio.file.Paths.get(root)).filter(Files.isRegularFile(_))
      .mapToLong(Files.size(_)).sum()
    val e2e = Map(
      "setup_s" -> (setupS, "s"),
      "op_p50_ms" -> (Stats.median(trig), "ms"),
      "op_tail_ms" -> (tailMs, "ms"),
      "items_per_s" -> (docsPerS, "1/s"),
      "quality" -> (recall, "ratio"))
    val report = Map(
      "named" -> Map(
        "setup_s" -> (setupS, "s"),
        "error_rate" -> (failedDocs.toDouble / math.max(1, rows.size), "ratio"),
        "admit_docs_per_s" -> (docsPerS, "1/s"),
        "admit_batch_p50_ms" -> (Stats.median(trig), "ms"),
        s"admit_batch_${tailName}_ms" -> (tailMs, "ms"),
        "dedup_recall" -> (recall, "ratio"),
        "store_bytes_per_user_byte" -> (storeBytes.toDouble / liveTextBytes, "ratio")),
      "samples" -> Map("batches" -> batches.size, "timed_batches" -> trig.size,
        "warmup_batch_ms" -> batches.head.progress.durations.getOrElse("triggerExecution", 0L),
        "docs" -> rows.size, "planted" -> adm.planted, "planted_rejected" -> adm.plantedRejected,
        "compaction_batches" -> batches.filter(_.compacted).map(_.index),
        "generations" -> commits.size, "setup_reps" -> repS),
      "failures" -> problems)

    val layers =
      if (!ctx.trace) Map.empty[String, (Double, String)]
      else {
        val tracer = new Tracer
        val m = layerMetrics(listener, tracer, batches.toSeq, rows, storedMap, root, commits.size)
        tracer.write(ctx.work.resolve("spans.jsonl"))
        m
      }
    Outcome(rows.size, failedDocs, problems.isEmpty, e2e, layers, report)
  }

  private def layerMetrics(l: BenchListener, tracer: Tracer, batches: Seq[Batch],
                           rows: Seq[(Long, String, Int)], stored: Map[Long, String],
                           root: String, generations: Int): Map[String, (Double, String)] = {
    val traced = batches.filter(_.traced)
    val plain = batches.drop(1).filterNot(b => b.traced || b.compacted)
    def dur(b: Batch, k: String) = b.progress.durations.getOrElse(k, 0L).toDouble
    def jobs(b: Batch) = l.tagged(_ == s"batch:${b.progress.batchId}")
    val acc = l.sum(traced.flatMap(jobs))
    val steady = traced.filterNot(_.compacted)
    val compactBatches = traced.filter(_.compacted)
    val byBatch = rows.groupBy(r => ((r._1 - Gen.IngestIdBase) / BatchSize).toInt)
    val incoming = traced.map(b => byBatch(b.index).size).sum
    val admitted = traced.flatMap(b => byBatch(b.index)).filter(r => stored.contains(r._1))
    val admittedBytes = admitted.map(_._2.getBytes("UTF-8").length.toLong).sum
    val files = Files.walk(java.nio.file.Paths.get(root))
      .filter(p => p.toString.endsWith(".parquet")).count()
    traced.foreach { b =>
      val id = tracer.nextId()
      val op = s"batch:${b.progress.batchId}"
      tracer.add(Span(id, 0L, op, "streaming.batch", Clock.floorMs(b.startUs), Clock.ceilMs(b.endUs)))
      jobs(b).foreach(j => tracer.add(Span(tracer.nextId(), id, op, "spark.job",
        j.startMs * 1000, j.endMs * 1000)))
    }
    Map(
      "streaming.trigger_ms" -> (Stats.mean(traced.map(dur(_, "triggerExecution"))), "ms"),
      "streaming.add_batch_ms" -> (Stats.mean(traced.map(dur(_, "addBatch"))), "ms"),
      "streaming.overhead_ms" -> (Stats.mean(traced.map(b =>
        dur(b, "queryPlanning") + dur(b, "walCommit") + dur(b, "commitOffsets"))), "ms"),
      "operators.dedup.reject_frac" -> (1 - admitted.size.toDouble / math.max(1, incoming), "ratio"),
      "sources.store.read_amp" -> (acc.inputBytes.toDouble / math.max(1L, traced.map(_.fileBytes).sum), "ratio"),
      "sources.store.write_amp" -> (acc.outputBytes.toDouble / math.max(1L, admittedBytes), "ratio"),
      "sources.store.generations" -> (generations.toDouble, "count"),
      "sources.store.files" -> (files.toDouble, "count"),
      "sources.store.compact_batch_ms" -> (
        if (compactBatches.isEmpty) 0.0 else Stats.mean(compactBatches.map(dur(_, "triggerExecution"))), "ms")) ++
      Layers.spark(acc, traced.map(jobs(_).size).sum, traced.size,
        traced.map(dur(_, "triggerExecution")).sum) ++
      Layers.overhead(steady.map(dur(_, "triggerExecution")), plain.map(dur(_, "triggerExecution")))
  }

  private def deleteTree(p: java.nio.file.Path): Unit =
    if (Files.exists(p))
      Files.walk(p).sorted(java.util.Comparator.reverseOrder[java.nio.file.Path]())
        .forEach(Files.delete(_))
}
