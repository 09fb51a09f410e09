package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.DataStreamWriter
import org.apache.spark.sql.types._
import org.apache.spark.storage.StorageLevel

import graft.operators.{Dedup, IvfIndex}
import graft.sources.VersionedCorpus

/** Structured Streaming tier (SURVEY.md §2 B33-B37) over the `events`
  * schema. The reference has no streaming at all — this is north-star
  * extension surface, built so every transform is EXACTLY the same Column
  * expression in batch and stream mode: the batch variants are what the
  * DuckDB oracle checks, the streaming variants run the identical
  * expressions behind `readStream` (verified batch≡stream by the
  * MemoryStream suite).
  *
  * Scale notes: windowed aggregation state is keyed by (window, group
  * keys) and bounded by the watermark — late data past `withWatermark` is
  * dropped and state evicted, so state size is O(active windows ×
  * groups), independent of stream length.
  */
object Streams {

  val eventSchema: StructType = StructType(Seq(
    StructField("event_id", LongType),
    StructField("ts", TimestampType),
    StructField("user_id", LongType),
    StructField("event_type", StringType),
    StructField("value", DoubleType),
    StructField("props", StringType)))

  val documentSchema: StructType = StructType(Seq(
    StructField("doc_id", LongType),
    StructField("text", StringType),
    StructField("lang", StringType),
    StructField("source", StringType),
    StructField("n_chars", LongType)))

  /** Streaming source over the documents fixture — the LLM-pipeline tier
    * behind `readStream` (an ingestion landing path in production). Same
    * single-file glob + basePath discipline as [[fixtureEventSource]];
    * no timestamp conversion needed (documents carry no NANOS column). */
  def fixtureDocumentSource(spark: SparkSession, sfDir: String): DataFrame =
    spark.readStream.schema(documentSchema).option("basePath", sfDir)
      .parquet(s"$sfDir/documents.{parquet}")

  /** Streaming exact dedup on CONTENT (B7's streaming twin): incoming
    * documents deduped on the sorted-token fingerprint — the first
    * arrival of any token multiset wins, reordered/re-crawled copies are
    * dropped as they stream in. State holds one fingerprint hash per
    * distinct document seen (no watermark column on documents; a
    * production deployment with an ingest timestamp would use
    * `dropDuplicatesWithinWatermark` to bound state like
    * [[dedupWithinWatermark]]). The fingerprint expression is EXACTLY
    * the batch `Dedup.tokenFingerprint` — stream ≡ batch on a replay is
    * asserted in StreamsSpec. */
  def contentDedup(docs: DataFrame): DataFrame =
    docs.withColumn("_fp",
      graft.operators.Dedup.tokenFingerprint(col("text")))
      .dropDuplicates("_fp")
      .drop("_fp")

  /** Where an admission loop's corpus lives between micro-batches — with
    * the kernel, the one thing that varies across [[admissionLoop]]'s
    * instances. Every state shares the kernels' cross-set contract:
    * incoming rows are compared only against the corpus, never each
    * other, so the rows WITHIN one micro-batch are admitted as a set and
    * micro-batch boundaries define the comparison granularity (a
    * deployment wanting intra-batch near-dup collapse runs
    * `Dedup.lshDedupPipeline` on the batch before admission). */
  sealed trait CorpusState

  object CorpusState {
    /** A fixed corpus frame — at scale a parquet table maintained by the
      * ingestion job. The per-batch work is batch-sized on the incoming
      * side (the corpus contributes only distinct-key / bucket
      * projections, exactly like the batch `incr_admit` query), and
      * because the corpus never changes, the accumulated admissions are
      * independent of the micro-batch split and equal the one-shot batch
      * kernel on the same rows (asserted in StreamsSpec for every
      * kernel). `sink` receives the admitted frame unmaterialized and
      * must consume it synchronously: the kernel's batch-scoped persists
      * are released when the callback returns. Nothing is committed. */
    final case class Static(corpus: DataFrame) extends CorpusState

    /** Continuous ingestion in memory: each micro-batch is admitted
      * against the corpus AS OF that batch (`initial` ∪ every earlier
      * batch's admissions, as the `cols` projection the kernel consumes),
      * so a document duplicating something admitted two batches ago is
      * rejected. The commit is the next corpus generation (see
      * [[Generation]]); `sink` gets the admitted rows persisted and
      * counted, before it.
      *
      * Lifecycle: the generation lives in this process's memory, not in
      * the stream checkpoint. Batch 0 of a (re)started query resets to
      * `initial`; a micro-batch with batchId > 0 and no generation — a
      * fresh writer recovered from a checkpoint — fails with an
      * IllegalStateException instead of silently re-admitting every
      * earlier admission against `initial`. The final generation stays
      * cached until that reset or process end; a restartable or
      * deterministically released loop uses [[Durable]]. */
    final case class Evolving(initial: DataFrame, cols: Seq[String])
        extends CorpusState

    /** Continuous ingestion on disk — the restart-safe production loop.
      * The corpus IS a [[graft.sources.VersionedCorpus]] directory: each
      * micro-batch is admitted against the current snapshot's `cols`
      * projection and its admissions (ALL incoming columns, so the store
      * doubles as the corpus table downstream jobs read) are appended as
      * the next committed generation, so a restarted — or entirely new —
      * query over `root` continues from exactly the corpus the last
      * committed batch left behind. Seed `root` with the initial corpus
      * (`VersionedCorpus.append`) before starting.
      *
      * A relation the kernel reads through [[Corpus.derived]] is the
      * store's per-generation sidecar (`VersionedCorpus.derived` over the
      * `cols` projection): only generations without one are derived, the
      * first batch backfilling a store written before sidecars existed.
      * Each batch runs admit → append → the new generation's sidecars
      * for every name the kernel read (one batch-sized job each) →
      * `maybeCompact`, so a compaction always finds its inputs'
      * sidecars and carries them to the base by file copy; the batch
      * after it derives nothing. A crash between the append and the
      * sidecar write only leaves the next batch to backfill it.
      *
      * Failure replay is idempotent by construction: a re-run micro-batch
      * whose admissions already committed admits zero rows (each is
      * byte- or cosine-1.0-identical to its committed copy; earlier
      * rejects stay rejected, the corpus only grew), and `append` commits
      * nothing on an empty frame — so an [[IvfAppend]] gated on the
      * commit never double-appends. The one crash window, corpus
      * committed but index append not yet run, is repaired by
      * [[graft.operators.IvfIndex.reconcilePartitioned]] on recovery.
      *
      * `compactEvery` > 0 folds the generation tail into one base
      * generation whenever that many commits accumulate since the last
      * base (`VersionedCorpus.maybeCompact`, `vacuumAfter` reclaiming the
      * superseded tail): the content-neutral file-count valve a
      * long-lived stream needs. `sink` gets the admitted rows after the
      * commit, still persisted. */
    final case class Durable(root: String, cols: Seq[String],
                             compactEvery: Int = 0,
                             vacuumAfter: Boolean = false)
        extends CorpusState

    /** The partitioned IVF index table at `path` is the corpus: each
      * micro-batch is admitted against the table's `cols` projection AS
      * CURRENTLY ON DISK, so with an [[IvfAppend]] to the same path the
      * vectors admitted by earlier batches reject later duplicates
      * (read-your-appends) and a restart resumes from what was durably
      * appended; re-processing an appended batch is the one hazard.
      *
      * The admitted rows are held by a local checkpoint, not a persist,
      * materialized by the count that gates the append: the append
      * writes to the very path the kernel read, and Spark's by-path
      * cache refresh would invalidate a merely persisted frame and
      * RECOMPUTE it against the post-append table, where the batch's own
      * rows now live: every admission would vanish from the sink's view
      * (observed). The checkpoint has no file lineage. */
    final case class IvfTable(path: String, cols: Seq[String])
        extends CorpusState
  }

  /** The corpus one micro-batch is admitted against: its `rows`, and
    * relations derived from them. `derived(name, f)` is `f(rows)` —
    * except over a [[CorpusState.Durable]] store, where it is the
    * store's maintained sidecar of `f` under `name` (see
    * [[graft.sources.VersionedCorpus.derived]]: `f` must be row-local and
    * `name` must encode it). */
  final class Corpus private[Streams] (val rows: DataFrame,
      stored: Option[(String, DataFrame => DataFrame) => DataFrame]) {
    /** Every (name, f) read in this batch, in reading order. */
    private[Streams] val read =
      scala.collection.mutable.LinkedHashMap.empty[String, DataFrame => DataFrame]

    def derived(name: String, f: DataFrame => DataFrame): DataFrame = {
      read(name) = f
      stored.fold(f(rows))(_(name, f))
    }
  }

  /** [[admissionLoop]]'s one after-commit step: the committed admissions
    * are assigned to the index's EXISTING centroids and appended to its
    * partitioned table at `path` ([[graft.operators.IvfIndex.assignTo]] +
    * `appendPartitioned` — zero-shuffle argmin over the batch, only the
    * touched cluster partitions gain files); centroid refresh on quality
    * decay is the batch `IvfIndex.build` rerun. */
  final case class IvfAppend(path: String, idCol: String, vecCol: String,
                             centroids: DataFrame)

  /** The streaming ADMISSION loop — every admission or ingestion writer
    * is this one `foreachBatch` body: each micro-batch runs the kernel
    * `admit(batch, corpus)` inside [[Dedup.withAdmissionScope]] against
    * the [[Corpus]] `state` holds, commits the admitted rows the way that
    * state does, appends them to `index` when rows were committed, and
    * hands them to `sink`. The kernel is a [[graft.operators.Dedup]]
    * admission kernel — the batch row's own code, so stream ≡ batch holds
    * by construction. The commit gate is a result the state already has
    * (the count it took, or `append`'s generation), never a new job; a
    * [[CorpusState.Static]] corpus commits nothing, so it takes no
    * `index`. Returns the unstarted writer. */
  def admissionLoop(stream: DataFrame, state: CorpusState,
                    admit: (DataFrame, Corpus) => DataFrame,
                    index: Option[IvfAppend] = None)
                   (sink: (DataFrame, Long) => Unit): DataStreamWriter[Row] = {
    import CorpusState._
    require(index.isEmpty || !state.isInstanceOf[Static],
      "a Static corpus commits nothing, so it has no index to append to")
    val lvl = StorageLevel.MEMORY_AND_DISK
    val corpusGen = new Generation("Evolving admission corpus")
    def afterCommit(admitted: DataFrame, committed: Boolean): Unit =
      if (committed) index.foreach { ix =>
        IvfIndex.appendPartitioned(admitted, ix.idCol,
          IvfIndex.assignTo(admitted, ix.idCol, ix.vecCol, ix.centroids),
          ix.path)
      }
    stream.writeStream.foreachBatch { (batch: DataFrame, batchId: Long) =>
      val spark = batch.sparkSession
      // the scope spans the kernel and every consumer of its result
      // (commit, index append, sink, next generation): the kernel's
      // batch-scoped persists are released when the batch body returns
      Dedup.withAdmissionScope[Unit] {
        def inMemory(rows: DataFrame) = new Corpus(rows, None)
        state match {
          case Static(corpus) => sink(admit(batch, inMemory(corpus)), batchId)
          case Evolving(initial, cols) =>
            val corpus = corpusGen.at(batchId,
              initial.select(cols.map(col): _*).persist(lvl))
            val admitted = admit(batch, inMemory(corpus)).persist(lvl)
            try {
              afterCommit(admitted, admitted.count() > 0L)
              sink(admitted, batchId)
              corpusGen.swap(corpus.union(admitted.select(cols.map(col): _*)))
            } finally admitted.unpersist()
          case Durable(root, cols, compactEvery, vacuumAfter) =>
            def sidecar(name: String, f: DataFrame => DataFrame) =
              VersionedCorpus.derived(spark, root, name,
                rows => f(rows.select(cols.map(col): _*)))
            val corpus = new Corpus(
              VersionedCorpus.snapshot(spark, root).select(cols.map(col): _*),
              Some(sidecar))
            val admitted = admit(batch, corpus).persist(lvl)
            try {
              val gen = VersionedCorpus.append(admitted, root)
              if (gen >= 0L) corpus.read.foreach { case (name, f) => sidecar(name, f) }
              VersionedCorpus.maybeCompact(spark, root, compactEvery, vacuumAfter)
              afterCommit(admitted, gen >= 0L)
              sink(admitted, batchId)
            } finally admitted.unpersist()
          case IvfTable(path, cols) =>
            // lazy: the one count below materializes the checkpoint
            // before the index append rewrites `path`
            val admitted = admit(batch,
                inMemory(spark.read.parquet(path).select(cols.map(col): _*)))
              .localCheckpoint(false)
            try {
              afterCommit(admitted, admitted.count() > 0L)
              sink(admitted, batchId)
            } finally Dedup.release(admitted)
        }
      }
    }
  }

  /** One in-memory state generation of a streaming loop — the
    * [[CorpusState.Evolving]] corpus and the sketch loops' running
    * states. [[swap]] cuts each new generation's lineage with a lazy
    * LOCAL CHECKPOINT and materializes it before the predecessor is
    * released: the union chain would otherwise deepen the plan AND the
    * RDD graph by one per batch (the LearnBpe lesson: plain re-framing
    * overflows the task deserializer after enough generations).
    * foreachBatch runs micro-batches strictly sequentially, so the swap
    * needs no synchronization. The generation lives in this process's
    * memory: [[at]] resets it at batch 0 and refuses to guess at a
    * resumed batch (see [[CorpusState.Evolving]]'s lifecycle). */
  private final class Generation(what: String) {
    private var cur: DataFrame = null
    /** The generation micro-batch `batchId` reads: batch 0 of a
      * (re)started query releases the previous run's generation and
      * starts from `init` (null for an empty state). */
    def at(batchId: Long, init: => DataFrame): DataFrame = {
      if (batchId == 0L) { Dedup.release(cur); cur = init }
      else if (cur == null) throw new IllegalStateException(
        s"$what: micro-batch $batchId arrived with no in-memory generation " +
          "(a writer resumed from a stream checkpoint): it lives in process " +
          "memory, so resuming would silently start over from the initial " +
          "state — keep it on disk (Streams.CorpusState.Durable)")
      cur
    }

    def swap(next: DataFrame): DataFrame = {
      val n = next.localCheckpoint(false)
      n.count() // materialize before releasing the predecessor
      Dedup.release(cur)
      cur = n
      n
    }
  }


  /** Text admission ([[graft.operators.Dedup.admitIncoming]]: exact
    * fingerprint anti-join + cross-set MinHash-LSH near-dup scan +
    * Jaccard verify) against a [[CorpusState.Static]] corpus. */
  def incrementalAdmission(docStream: DataFrame, corpus: DataFrame,
                           idCol: String, textCol: String,
                           minJaccard: Double = 0.8)
                          (sink: (DataFrame, Long) => Unit): DataStreamWriter[Row] =
    admissionLoop(docStream, CorpusState.Static(corpus),
      (b, c) => Dedup.admitIncoming(b, c.rows, idCol, textCol, minJaccard))(sink)

  /** Clean-then-admit ([[graft.operators.Dedup.cleanAndAdmit]]: token
    * runs copied from the corpus are stripped, emptied docs dropped, the
    * cleaned text admitted) against a [[CorpusState.Static]] corpus.
    * `gramIndexPath` is the corpus's maintained gram-key artifact, probed
    * per micro-batch instead of re-shuffling the corpus's grams and
    * refreshed by the ingestion job (SpanDedup.refreshGramIndex) on
    * commit; staleness between commits is its safe-degrade window. */
  def incrementalCleanAdmission(docStream: DataFrame, corpus: DataFrame,
                                idCol: String, textCol: String, k: Int = 8,
                                minKeptTokens: Int = 1,
                                minJaccard: Double = 0.8,
                                gramIndexPath: Option[String] = None)
                               (sink: (DataFrame, Long) => Unit): DataStreamWriter[Row] =
    admissionLoop(docStream, CorpusState.Static(corpus),
      (b, c) => Dedup.cleanAndAdmit(b, c.rows, idCol, textCol, k, minKeptTokens,
        minJaccard, hashGrams = false, gramIndexPath = gramIndexPath))(sink)

  /** Quality-gated admission ([[graft.operators.Dedup.gateAndAdmit]]:
    * the row-local Gopher gate first, so quality rejects never pay the
    * dedup tiers) against a [[CorpusState.Static]] corpus. */
  def incrementalGatedAdmission(docStream: DataFrame, corpus: DataFrame,
                                idCol: String, textCol: String,
                                minJaccard: Double = 0.8)
                               (sink: (DataFrame, Long) => Unit): DataStreamWriter[Row] =
    admissionLoop(docStream, CorpusState.Static(corpus),
      (b, c) => Dedup.gateAndAdmit(b, c.rows, idCol, textCol, minJaccard))(sink)

  /** [[incrementalAdmission]] against a [[CorpusState.Evolving]] corpus
    * of (idCol, textCol). */
  def incrementalAdmissionEvolving(docStream: DataFrame,
                                   initialCorpus: DataFrame,
                                   idCol: String, textCol: String,
                                   minJaccard: Double = 0.8)
                                  (sink: (DataFrame, Long) => Unit): DataStreamWriter[Row] =
    admissionLoop(docStream,
      CorpusState.Evolving(initialCorpus, Seq(idCol, textCol)),
      (b, c) => Dedup.admitIncoming(b, c.rows, idCol, textCol, minJaccard))(sink)

  /** [[incrementalAdmission]] against a [[CorpusState.Durable]] corpus
    * store at `root`, the kernel's corpus keys ([[Dedup.CorpusKeys]])
    * read from the store's sidecar: per batch, the corpus costs a key
    * scan, not a re-fingerprint and re-MinHash of every stored text. */
  def incrementalAdmissionDurable(docStream: DataFrame, root: String,
                                  idCol: String, textCol: String,
                                  minJaccard: Double = 0.8,
                                  compactEvery: Int = 0,
                                  vacuumAfter: Boolean = false)
                                 (sink: (DataFrame, Long) => Unit = (_, _) => ())
      : DataStreamWriter[Row] =
    admissionLoop(docStream,
      CorpusState.Durable(root, Seq(idCol, textCol), compactEvery, vacuumAfter),
      (b, c) => Dedup.admitIncoming(b, c.rows, idCol, textCol, minJaccard,
        keys = Some(Dedup.CorpusKeys.of(c.derived(
          Dedup.CorpusKeys.name(idCol, textCol),
          Dedup.CorpusKeys.rows(_, idCol, textCol))))))(sink)

  /** Vector admission ([[graft.operators.Dedup.admitIncomingVectors]]:
    * cross-set sign-LSH buckets + exact-cosine verify ≥ `minCosine`)
    * against a [[CorpusState.Static]] embedding corpus. */
  def incrementalVectorAdmission(vecStream: DataFrame, corpus: DataFrame,
                                 idCol: String, vecCol: String,
                                 minCosine: Double = 0.9, nBits: Int = 8)
                                (sink: (DataFrame, Long) => Unit): DataStreamWriter[Row] =
    admissionLoop(vecStream, CorpusState.Static(corpus),
      (b, c) => Dedup.admitIncomingVectors(b, c.rows, idCol, vecCol, minCosine,
        nBits))(sink)

  /** Cell-partitioned semantic admission
    * ([[graft.operators.Dedup.admitIncomingSemantic]]: incoming vectors
    * meet only corpus vectors in their assigned cell) against a
    * [[CorpusState.Static]] indexed corpus — the partitioned index
    * relation (idCol, vecCol, cluster_id) + its frozen centroids. */
  def incrementalSemanticAdmission(vecStream: DataFrame, corpusIdx: DataFrame,
                                   idCol: String, vecCol: String,
                                   centroids: DataFrame,
                                   minCosine: Double = 0.9)
                                  (sink: (DataFrame, Long) => Unit): DataStreamWriter[Row] =
    admissionLoop(vecStream, CorpusState.Static(corpusIdx),
      (b, c) => Dedup.admitIncomingSemantic(b, c.rows, idCol, vecCol, centroids,
        minCosine))(sink)

  /** INVERTED-INDEX ingestion loop — keep a persisted
    * [[graft.operators.TextIndex]] current as documents stream in:
    * each micro-batch tokenizes ONCE and commits one token-sharded
    * postings batch (N/avgdl/df merge at query time, so the index is
    * queryable between batches with the stats it has). Restart-safe
    * and EXACTLY-ONCE on the index side: the commit carries the
    * micro-batch id as an idempotency token inside the atomically
    * renamed batch dir ([[graft.operators.TextIndex.appendOnce]]), so
    * a replayed batch after a crash-before-checkpoint finds its token
    * committed and appends nothing — BM25 never double-counts a
    * document. `optimizeEvery` > 0 bin-packs the live batch tail
    * whenever that many batches accumulate
    * ([[graft.operators.TextIndex.optimize]] + vacuum) — the same
    * file-count valve as the corpus loop's compactEvery; packing is
    * content-neutral and keeps the replay tokens, so the guarantees
    * are untouched. `sink` sees (batchId, committed?) after each
    * batch. */
  def incrementalTextIndexIngestion(docStream: DataFrame, indexDir: String,
                                    idCol: String, textCol: String,
                                    shards: Int = 64, optimizeEvery: Int = 0)
                                   (sink: (Long, Boolean) => Unit = (_, _) => ())
      : DataStreamWriter[Row] =
    docStream.writeStream.foreachBatch { (batch: DataFrame, batchId: Long) =>
      val committed = graft.operators.TextIndex.appendOnce(
        batch, idCol, textCol, indexDir, token = s"stream-$batchId", shards)
      if (optimizeEvery > 0 &&
        graft.operators.TextIndex.liveBatches(indexDir) >= optimizeEvery) {
        graft.operators.TextIndex.optimize(batch.sparkSession, indexDir)
        graft.operators.TextIndex.vacuumPacked(indexDir)
      }
      sink(batchId, committed)
    }

  /** MULTIMODAL ingestion loop — perceptual dedup on ingest: each
    * micro-batch of raw media rows goes through
    * [[graft.operators.Multimodal.admitMediaPerceptual]] against the
    * durable hash INDEX (a versioned store holding (media_id,
    * payload_hash, phash, dims) — never payloads), then the admitted
    * slice commits payloads to the corpus store followed by hashes to
    * the index. The corpus commit GATES the index commit; the crash
    * window between them is closed by the idempotent
    * [[graft.operators.Multimodal.reconcileMediaIndex]] run at the top
    * of every batch (ids-only anti-join when there is no drift — the
    * same contract as the IVF ingestion loop's reconcile). Replay
    * safety needs no delivery token: a replayed payload is
    * byte-identical, so its xxhash64 is already indexed and the exact
    * tier rejects it — at-least-once delivery converges, including for
    * undecodable containers the perceptual tier cannot see. `sink`
    * sees (batchId, admittedCount). */
  def incrementalMediaIngestion(mediaStream: DataFrame, corpusRoot: String,
                                indexRoot: String, maxHamming: Int = 3)
                               (sink: (Long, Long) => Unit = (_, _) => ())
      : DataStreamWriter[Row] =
    mediaStream.writeStream.foreachBatch { (batch: DataFrame, batchId: Long) =>
      val spark = batch.sparkSession
      import spark.implicits._
      graft.operators.Multimodal.reconcileMediaIndex(spark, corpusRoot, indexRoot)
      val index =
        if (graft.sources.VersionedCorpus.latest(indexRoot).isDefined)
          graft.sources.VersionedCorpus.snapshot(spark, indexRoot)
        else spark.range(0).select(col("id").as("media_id"),
          col("id").as("payload_hash"), col("id").as("phash"),
          col("id").cast("int").as("cbucket"))
      val (admitted, admittedDec) = graft.operators.Multimodal
        .admitMediaPerceptual(
          batch.as[graft.operators.Multimodal.MediaRow], index, maxHamming)
      // both returns share the decode subtree; persist so decode and
      // the payload pass run once across count + two appends
      val adm = admitted.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val dec = admittedDec.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      try {
        val n = adm.count()
        if (n > 0) {
          graft.sources.VersionedCorpus.append(adm, corpusRoot)
          graft.sources.VersionedCorpus.append(
            graft.operators.Multimodal.mediaIndexProjection(dec), indexRoot)
        }
        sink(batchId, n)
      } finally { adm.unpersist(); dec.unpersist() }
    }

  /** STREAMING ERASURE loop — right-to-be-forgotten requests arriving
    * as a stream (the deletion-request queue of a production corpus):
    * each micro-batch of ids goes through ONE composed
    * [[graft.operators.Forget.forget]] call, tombstoning the corpus
    * store, the text index, and the vector index together. Restart
    * safety is the legs' own idempotence (double-forget converges in
    * all three stores), so at-least-once delivery needs no token here.
    * Pass only the artifacts this deployment keeps. `sink` sees
    * (batchId, per-artifact removed counts). */
  def incrementalForget(idStream: DataFrame,
                        corpusRoot: Option[String] = None,
                        corpusKeyCol: String = "doc_id",
                        textIndexDir: Option[String] = None,
                        vectorIndexPath: Option[String] = None,
                        vectorIdCol: String = "vec_id",
                        extraStores: Seq[(String, String)] = Nil)
                       (sink: (Long, Map[String, Long]) => Unit = (_, _) => ())
      : DataStreamWriter[Row] =
    idStream.writeStream.foreachBatch { (batch: DataFrame, batchId: Long) =>
      val removed = graft.operators.Forget.forget(batch.sparkSession,
        batch, corpusRoot, corpusKeyCol, textIndexDir,
        vectorIndexPath, vectorIdCol, extraStores)
      sink(batchId, removed)
    }

  /** CDC-APPLY ingestion loop — the change-data-capture twin of
    * [[incrementalAdmissionDurable]]: each micro-batch of keyed change
    * rows (insert/update/delete + a within-batch sequence column) folds
    * into the on-disk versioned store as one merge-on-read upsert
    * generation + one tombstone generation
    * ([[graft.sources.VersionedCorpus.applyChanges]] — last-writer-wins
    * per key by `seqCol` inside the batch, arrival order across
    * batches). Restart-safe the same way the admission loop is: at
    * least once + idempotent apply (re-upserting committed rows
    * replaces them with identical content, re-tombstoning dead keys is
    * a no-op). `compactEvery` is the same file-count valve — here it
    * additionally applies accumulated tombstones physically, so a
    * long-lived CDC stream doesn't accrete an ever-growing tombstone
    * chain into every snapshot read. `sink` sees the committed
    * (upsertGen, deleteGen) per batch. */
  def incrementalCdcDurable(changeStream: DataFrame, root: String,
                            keyCol: String, opCol: String, seqCol: String,
                            compactEvery: Int = 0,
                            vacuumAfter: Boolean = false)
                           (sink: (Long, Long, Long) => Unit = (_, _, _) => ())
      : DataStreamWriter[Row] =
    changeStream.writeStream.foreachBatch { (batch: DataFrame, batchId: Long) =>
      val (gU, gD) = VersionedCorpus.applyChanges(batch, root, keyCol, opCol, seqCol)
      VersionedCorpus.maybeCompact(batch.sparkSession, root, compactEvery, vacuumAfter)
      sink(batchId, gU, gD)
    }

  /** CDC ingestion + INCREMENTAL VIEW MAINTENANCE in one loop — the
    * "table and its aggregate stay current together" production pair:
    * each micro-batch folds into the versioned store
    * ([[graft.sources.VersionedCorpus.applyChanges]]) and the grouped
    * view then refreshes off the store's OWN change feed
    * ([[graft.sources.IncrementalView.refresh]] — dirty-group
    * recompute, cursor-driven). Because the view cursor tracks the
    * store's log rather than the stream, a crash between the store
    * commit and the view refresh is healed by the next batch's refresh
    * (the cursor lags, never skips), and a replayed micro-batch is
    * idempotent on both sides. `compactEvery` is the same maintenance
    * valve as the plain CDC loop. `sink` sees (batchId, viewCursor)
    * after each refresh. */
  def incrementalCdcWithView(changeStream: DataFrame, root: String,
                             viewRoot: String, viewCursor: String,
                             keyCol: String, opCol: String, seqCol: String,
                             groupCol: String, aggs: Seq[Column],
                             compactEvery: Int = 0)
                            (sink: (Long, Long) => Unit = (_, _) => ())
      : DataStreamWriter[Row] =
    changeStream.writeStream.foreachBatch { (batch: DataFrame, batchId: Long) =>
      val spark = batch.sparkSession
      VersionedCorpus.applyChanges(batch, root, keyCol, opCol, seqCol)
      val cur = graft.sources.IncrementalView.refresh(
        spark, root, viewRoot, viewCursor, keyCol, groupCol, aggs)
      VersionedCorpus.maybeCompact(spark, root, compactEvery)
      sink(batchId, cur)
    }

  /** Streaming SKETCH MAINTENANCE — [[graft.operators.Sketch]]'s
    * incremental corpus statistics as a continuous loop: each
    * micro-batch folds its per-language distinct-token HLL sketches
    * into a running per-language sketch state (register-wise union),
    * and `sink` receives the merged (langCol, vocab_est) relation
    * after every batch — live vocabulary tracking over the ingestion
    * stream from kilobytes of state per language, never a corpus
    * rescan. The union is associative and order-independent, so the
    * state after the last batch equals the one-shot batch sketch over
    * all streamed rows regardless of how the stream was micro-batched
    * (asserted in StreamsSpec). The state has [[CorpusState.Evolving]]'s
    * lifecycle (batch 0 resets it to empty); a durable deployment
    * persists the (lang, sketch) rows in `sink` and re-merges them on
    * recovery. */
  def runningVocabSketch(docStream: DataFrame, langCol: String,
                         textCol: String, lgK: Int = 12)
                        (sink: (DataFrame, Long) => Unit): DataStreamWriter[Row] = {
    import graft.operators.Sketch
    val state = new Generation("runningVocabSketch") // (langCol, sketch)
    docStream.writeStream.foreachBatch { (batch: DataFrame, batchId: Long) =>
      val prev = state.at(batchId, null)
      val bs = Sketch.vocabSketches(batch, langCol, textCol, lit(0), lgK)
        .select(col(langCol), col("sketch"))
      val merged = state.swap(Sketch.mergeSketches(
        if (prev == null) bs else prev.unionAll(bs), Seq(col(langCol))))
      sink(merged.select(col(langCol),
        Sketch.estimate(col("sketch")).as("vocab_est")), batchId)
    }
  }

  /** Streaming HEAVY-HITTER maintenance — [[runningVocabSketch]]'s
    * FREQUENCY twin: each micro-batch folds one per-language count-min
    * sketch into the running merged sketch (counter addition — exact,
    * so the state after batch N is byte-identical to a one-shot sketch
    * over batches 0..N) and its local top-`candidatesPerBatch` tokens
    * into the running candidate set; `sink` receives the per-language
    * top-`k` (lang, rank, tok, est) estimated from the current state
    * after every batch. Because the merge is exact and the candidate
    * set accumulates exactly the per-batch top-N lists, the state after
    * the last batch answers IDENTICALLY to the batch
    * [[graft.operators.Sketch.heavyHitters]] run with the same batch
    * assignment (asserted in StreamsSpec) — stream ≡ batch to the byte,
    * not within sketch error. Same lifecycle as [[runningVocabSketch]];
    * a durable deployment persists the (lang, cms) + candidate rows in
    * `sink` (both parquet-friendly). */
  def runningHeavyHitters(docStream: DataFrame, langCol: String,
                          textCol: String, k: Int = 10,
                          candidatesPerBatch: Int = 30,
                          eps: Double = 0.001, confidence: Double = 0.99,
                          seed: Int = 42)
                         (sink: (DataFrame, Long) => Unit): DataStreamWriter[Row] = {
    import graft.operators.Sketch
    val cmsState = new Generation("runningHeavyHitters sketch") // (langCol, cms)
    val candState = new Generation("runningHeavyHitters candidates") // (langCol, tok)
    docStream.writeStream.foreachBatch { (batch: DataFrame, batchId: Long) =>
      val prevCms = cmsState.at(batchId, null)
      val prevCands = candState.at(batchId, null)
      val toks = batch.select(col(langCol),
        explode(graft.operators.TextAnalysis.tokens(col(textCol))).as("tok"))
      val bs = Sketch.freqSketches(toks, col("tok"), lit(0),
          Seq(col(langCol)), eps, confidence, seed)
        .select(col(langCol), col("cms"))
      val cms = cmsState.swap(Sketch.mergeFreqSketches(
        if (prevCms == null) bs else prevCms.unionAll(bs), Seq(col(langCol))))
      val perLangBatch = org.apache.spark.sql.expressions.Window
        .partitionBy(col(langCol)).orderBy(col("c").desc, col("tok").asc)
      val bc = toks.groupBy(col(langCol), col("tok"))
        .agg(count(lit(1)).as("c"))
        .withColumn("__rn", row_number().over(perLangBatch))
        .filter(col("__rn") <= candidatesPerBatch)
        .select(col(langCol), col("tok"))
      val cands = candState.swap(
        (if (prevCands == null) bc else prevCands.unionAll(bc)).distinct())
      val perLang = org.apache.spark.sql.expressions.Window
        .partitionBy(col(langCol)).orderBy(col("est").desc, col("tok").asc)
      sink(cands.join(broadcast(cms), langCol)
        .withColumn("est", Sketch.freqEstimate(col("cms"), col("tok")))
        .withColumn("rank", row_number().over(perLang).cast("long"))
        .filter(col("rank") <= k)
        .select(col(langCol), col("rank"), col("tok"), col("est")),
        batchId)
    }
  }

  /** File-based stream source over an events directory (B33). For the
    * fixture, replay the parquet dir; in production this is the landing
    * path written by the ingestion job. */
  def fileSource(spark: SparkSession, dir: String): DataFrame =
    spark.readStream.schema(eventSchema).parquet(dir)

  /** [[fileSource]] for the harness fixture's `events.parquet`, whose
    * `ts` is parquet TIMESTAMP(NANOS): stream-read the raw int64 nanos
    * (same legacy conf + lossless `div 1000` conversion as
    * `graft.Tables.load` — see there for why the conf stays
    * session-scoped) so the streaming queries replay the exact batch
    * fixture. */
  // one schema peek (a parquet footer-read job) per fixture FILE STATE,
  // not per streaming-query construction — the declared mirrors over the
  // same sfDir share a single probe. Keyed by sfDir (ONE entry per dir,
  // so in-process fixture regenerations replace instead of accumulate —
  // same bound as a Queries.Memo); the VALUE carries the file's
  // (mtime, length) fingerprint so a regeneration with the other
  // timestamp physical type re-probes instead of reusing a stale flag.
  private val nanosCache =
    new java.util.concurrent.ConcurrentHashMap[String,
      (String, org.apache.spark.sql.types.DataType)]()

  // shared staleness guard — see Tables.fixtureFingerprint
  private def eventsFingerprint(sfDir: String): String =
    graft.Tables.fixtureFingerprint(sfDir, "events")

  def fixtureEventSource(spark: SparkSession, sfDir: String): DataFrame = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    // peek at the actual parquet type (same guard as Tables.load): the
    // fixture has shipped as TIMESTAMP(NANOS) (read as raw int64 +
    // lossless div-1000) and as TIMESTAMP_NTZ(MICROS) (read natively,
    // cast below) across harness generations — the stream read schema
    // must match the FILE, and the post-read normalization (everything
    // becomes TimestampType under the UTC session) must match
    // Tables.load exactly, or stream ≡ batch breaks on a regenerated
    // fixture
    val fp = eventsFingerprint(sfDir)
    val tsFileType = nanosCache.compute(sfDir, (_, cached) =>
      if (cached != null && cached._1 == fp) cached
      else (fp, spark.read.parquet(s"$sfDir/events.parquet")
        .schema("ts").dataType))._2
    val isNanos = tsFileType == LongType
    val readSchema = StructType(eventSchema.map {
      case f if f.name == "ts" => f.copy(dataType = tsFileType)
      case f => f
    })
    // the fixture is a single FILE; FileStreamSource force-sets
    // basePath to the source path (must be a directory) for NON-glob
    // paths, so read via a glob and pin basePath to sfDir. The glob is a
    // single-alternative `{…}` group: glob-classified by Hadoop (so the
    // basePath override sticks) yet matching ONLY `events.parquet` — the
    // earlier `events.parquet*` would silently fold sibling paths like
    // `events.parquet_old` into every mirror
    val raw = spark.readStream.schema(readSchema).option("basePath", sfDir)
      .parquet(s"$sfDir/events.{parquet}")
    if (isNanos) raw.withColumn("ts", timestamp_micros(expr("ts div 1000")))
    else if (tsFileType != org.apache.spark.sql.types.TimestampType)
      raw.withColumn("ts", col("ts").cast("timestamp"))
    else raw
  }

  /** Tumbling-window counts/sums per event type (B34). Works identically
    * on batch and streaming inputs. Exact DECIMAL sum (oracle parity). */
  def tumblingAgg(events: DataFrame, width: String): DataFrame =
    events
      .groupBy(window(col("ts"), width).as("w"), col("event_type"))
      .agg(count(lit(1)).as("n"),
        round(sum(col("value").cast(DecimalType(18, 4))).cast("double"), 4)
          .as("sum_value"))
      .select(col("w.start").as("bucket"), col("event_type"), col("n"),
        col("sum_value"))

  /** Sliding-window variant (B34). */
  def slidingAgg(events: DataFrame, width: String, slide: String): DataFrame =
    events
      .groupBy(window(col("ts"), width, slide).as("w"), col("event_type"))
      .agg(count(lit(1)).as("n"))
      .select(col("w.start").as("bucket"), col("event_type"), col("n"))

  /** Session windows per user with a fixed inactivity gap (B35). */
  def sessionAgg(events: DataFrame, gap: String): DataFrame =
    events
      .groupBy(session_window(col("ts"), gap).as("w"), col("user_id"))
      .agg(count(lit(1)).as("n_events"))
      .select(col("user_id"), col("w.start").as("session_start"),
        col("n_events"))

  /** Watermarked tumbling agg (B36): rows later than `lateness` behind
    * the max seen ts are dropped and their window state evicted. */
  def watermarkedTumbling(events: DataFrame, width: String,
                          lateness: String): DataFrame =
    tumblingAgg(events.withWatermark("ts", lateness), width)

  /** Stateful stream dedup on event_id within the watermark (B37). */
  def dedupWithinWatermark(events: DataFrame, lateness: String): DataFrame =
    events.withWatermark("ts", lateness)
      .dropDuplicatesWithinWatermark("event_id")

  /** Stream-stream interval join: purchases matched to the clicks that
    * preceded them within `window`, same user. Both sides carry
    * watermarks so the join state for old clicks is evicted once no
    * in-window purchase can still arrive — state stays O(events in the
    * watermark horizon). Batch-equivalent of the `q_funnel` oracle
    * query. */
  def clickPurchaseJoin(clicks: DataFrame, purchases: DataFrame,
                        window: String, lateness: String): DataFrame = {
    val c = clicks.select(col("event_id").as("click_id"),
      col("user_id").as("c_user"), col("ts").as("c_ts"))
      .withWatermark("c_ts", lateness)
    val p = purchases.select(col("event_id").as("purchase_id"),
      col("user_id").as("p_user"), col("ts").as("p_ts"))
      .withWatermark("p_ts", lateness)
    c.join(p,
      col("c_user") === col("p_user") &&
        col("p_ts") >= col("c_ts") &&
        col("p_ts") <= col("c_ts") + expr(s"INTERVAL $window"))
      .select(col("click_id"), col("purchase_id"), col("c_user").as("user_id"))
  }

  /** Per-user running totals emitted on every update — custom state via
    * `flatMapGroupsWithState` (B37's full surface). State per key is one
    * (count, sum) pair. Production would add
    * `GroupStateTimeout.EventTimeTimeout` + a watermark to evict idle
    * users' state (NoTimeout here: processing-time timeouts make the
    * engine run continuous empty micro-batches, which wedges
    * `processAllAvailable`-style deterministic tests). */
  final case class UserStat(user_id: Long, n_events: Long, total_value: Double)

  def runningUserTotals(events: DataFrame): org.apache.spark.sql.Dataset[UserStat] = {
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    val spark = events.sparkSession
    import spark.implicits._
    events.select(col("user_id").cast("long"), col("value").cast("double"))
      .as[(Long, Double)]
      .groupByKey(_._1)
      .flatMapGroupsWithState[(Long, Double), UserStat](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (user: Long, rows: Iterator[(Long, Double)],
         state: GroupState[(Long, Double)]) =>
          val (n0, s0) = state.getOption.getOrElse((0L, 0.0))
          var n = n0
          var s = s0
          rows.foreach { case (_, v) => n += 1; s += v }
          state.update((n, s))
          Iterator.single(UserStat(user, n, s))
      }
  }
}
