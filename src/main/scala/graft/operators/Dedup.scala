package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import scala.util.control.NonFatal

/** Deduplication operators for the LLM-pipeline tier (SURVEY.md §2
  * B7-B9). The reference has NO dedup — `app.py:105-118` appends without
  * any duplicate check despite documenting `chunk_id` as unique
  * (`app.py:131`); this family is the north-star extension surface.
  *
  * Everything is groupBy/agg over a deterministic key, i.e. one hash
  * shuffle with map-side partial aggregation — the shape that scales:
  * at 100 TB the shuffle carries one (key-hash, id) pair per row, never
  * the document bodies.
  */
object Dedup {

  // ── admission-cache lifecycle ─────────────────────────────────────
  // The incremental-admission kernels persist one or two batch-scoped
  // intermediates (the exact-kept slice; on candidate overflow, the
  // lazy candidate lineage). Dataset.persist registers the plan in the
  // session's CacheManager, which holds a STRONG reference until an
  // explicit unpersist — Spark's ContextCleaner never reaps it (r16
  // advice: the old comment claimed otherwise; in a long-running
  // ingestion loop every micro-batch leaked a cache entry and its disk
  // blocks). The kernels themselves cannot unpersist: the returned
  // frame still references the cached subtree and the caller's
  // consuming action happens after the call returns. So entries are
  // tracked and released by whoever owns the batch boundary:
  //   * callers that consume the result before moving on (every
  //     production caller: the declared rows collect to a local frame,
  //     the streaming mirrors write the micro-batch inside
  //     foreachBatch) wrap the call+consumption in
  //     [[withAdmissionScope]] — the THREAD-LOCAL scope unpersists in
  //     a finally, so one thread can never release another's live
  //     slice;
  //   * anything persisted OUTSIDE a scope lands in an orphan queue
  //     drained by [[releaseAdmissionCaches]] at loop boundaries
  //     (Bench/Verify call it between queries).
  private val scopeStack =
    new ThreadLocal[java.util.ArrayDeque[
        scala.collection.mutable.ArrayBuffer[DataFrame]]] {
      override def initialValue() =
        new java.util.ArrayDeque[
          scala.collection.mutable.ArrayBuffer[DataFrame]]()
    }
  private val orphanCaches =
    new java.util.concurrent.ConcurrentLinkedQueue[DataFrame]()

  private def registerCache(df: DataFrame): DataFrame = {
    val st = scopeStack.get()
    if (!st.isEmpty) st.peek() += df else orphanCaches.add(df)
    df
  }

  /** Run `body` — an admission call PLUS the consuming action of its
    * returned frame — and unpersist every intermediate the admission
    * kernels cached during it. Scopes nest (inner scope releases only
    * its own entries) and are thread-local: concurrent admission loops
    * on other threads are never touched. The returned frame must not
    * be consumed again after the scope closes — it would recompute the
    * whole chain (correct, just unfused). */
  def withAdmissionScope[T](body: => T): T = {
    val st = scopeStack.get()
    st.push(scala.collection.mutable.ArrayBuffer.empty[DataFrame])
    try body
    finally {
      val mine = st.pop()
      mine.foreach { df =>
        try release(df)
        catch { case NonFatal(_) => () }
      }
    }
  }

  /** Release admission intermediates persisted OUTSIDE any
    * [[withAdmissionScope]] — the loop-boundary escape hatch for
    * callers (benchmarks, ad-hoc sessions) that didn't scope. Safe
    * only between batches: a frame returned by an unscoped admission
    * call recomputes (correctly) if consumed after this. */
  def releaseAdmissionCaches(): Unit = {
    var df = orphanCaches.poll()
    while (df != null) {
      try release(df)
      catch { case NonFatal(_) => () }
      df = orphanCaches.poll()
    }
  }

  /** Unpersist `df` and, when it is a local checkpoint, the checkpointed
    * RDD under it — `Dataset.unpersist` alone only drops cache-manager
    * entries, leaving checkpoint blocks to garbage collection. */
  private[graft] def release(df: DataFrame): Unit = if (df != null) {
    df.unpersist(blocking = false)
    Some(df.queryExecution.logical).collect {
      case r: org.apache.spark.sql.execution.LogicalRDD =>
        r.rdd.unpersist(blocking = false)
    }
  }

  /** A side's per-doc (`_id`, band, key) bucket relation, from
    * (docs, idCol, textCol) — the near-dup tier's one varying part
    * (see [[admitIncoming]]). */
  type Buckets = (DataFrame, String, String) => DataFrame

  /** The corpus side of [[admitIncoming]]: every corpus document's token
    * fingerprint, `fps` (`_id`, `_fp`), and its near-dup bucket
    * relation, `buckets` (`_id`, band_id, band_hash). Supplied, it
    * replaces the kernel's derivation from `corpus`, so a maintained
    * copy (the versioned store's per-generation sidecar,
    * [[graft.sources.VersionedCorpus.derived]]) turns the per-batch
    * corpus cost into a key scan instead of a re-fingerprint and
    * re-MinHash of every corpus text. */
  final case class CorpusKeys(fps: DataFrame, buckets: DataFrame)

  object CorpusKeys {
    /** The name [[rows]] is kept under: it encodes the derivation (the
      * default [[NearDup.minHashBuckets]] signature, 32 hashes in 8
      * bands) and the columns it reads. */
    def name(idCol: String, textCol: String): String =
      s"admit-fp-minhash-32x8.$idCol.$textCol"

    /** Both tiers' keys in one row-local pass, one row per document:
      * (`_id`, `_fp`, `_bk`), `_bk` the array of (band_id, band_hash)
      * band keys [[NearDup.minHashBuckets]] explodes. */
    def rows(corpus: DataFrame, idCol: String, textCol: String): DataFrame =
      corpus.select(col(idCol).as("_id"), tokenFingerprint(col(textCol)).as("_fp"),
          NearDup.minHashSignature(TextAnalysis.tokens(col(textCol)), 32).as("_sig"))
        .select(col("_id"), col("_fp"), NearDup.bandKeys(col("_sig"), 8, 4).as("_bk"))

    /** The keys of [[rows]]: `buckets` row-identical to
      * [[NearDup.minHashBuckets]] of the same documents. */
    def of(rows: DataFrame): CorpusKeys = CorpusKeys(
      rows.select(col("_id"), col("_fp")),
      rows.select(col("_id"), explode(col("_bk")).as("_bk"))
        .select(col("_id"), col("_bk.band_id"), col("_bk.band_hash")))
  }

  /** Canonical text fingerprint: the sorted token multiset. Catches
    * reordered-but-identical word-soup documents, not just byte-equal
    * ones. */
  def tokenFingerprint(text: Column): Column =
    array_join(sort_array(split(text, " ")), " ")

  /** Exact dedup (B7): group rows by `key`, keep the deterministic
    * representative `min(id)` plus the duplicate count. */
  def exact(df: DataFrame, key: Column, id: Column): DataFrame =
    df.groupBy(key.as("fp"))
      .agg(min(id).as("rep_id"), count(lit(1)).as("dup_cnt"))

  /** Exact dedup keeping one full row per group: the row with the
    * smallest `id`. Window-free formulation: aggregate the whole row as a
    * (id, struct) min — partial-aggregatable, single shuffle. */
  def dropDuplicatesByKey(df: DataFrame, key: Column, id: Column): DataFrame = {
    val packed = struct(id.as("_id"), struct(df.columns.map(col): _*).as("_row"))
    df.groupBy(key.as("_fp"))
      .agg(min(packed).as("_keep"))
      .select(col("_keep._row.*"))
  }

  /** Dedup keeping one full row per group: the row with the LARGEST
    * `score`, ties broken by smallest `id` — quality-aware canonical
    * selection (a near-dup cluster keeps its best member, not an
    * arbitrary one; the standard refinement of min-id representative
    * picking in training-data pipelines). Same window-free
    * (key → min-struct) shape as [[dropDuplicatesByKey]]:
    * partial-aggregatable, single shuffle, no per-group sort. `score`
    * must be non-null — a null would order before every real score in
    * the packed struct and win the min. */
  def keepBestByKey(df: DataFrame, key: Column, score: Column,
                    id: Column): DataFrame = {
    val packed = struct((-score).as("_negScore"), id.as("_id"),
      struct(df.columns.map(col): _*).as("_row"))
    df.groupBy(key.as("_fp"))
      .agg(min(packed).as("_keep"))
      .select(col("_keep._row.*"))
  }

  /** Incremental ingestion dedup (exact tier): drop incoming rows whose
    * `key` already exists in the corpus — the daily-batch shape: the
    * (100 TB) corpus contributes only its DISTINCT key projection to a
    * left-anti join, the (small) incoming batch is what flows; nothing
    * is recomputed over already-ingested data. [[admitIncoming]] chains
    * it with the near-dup tier. */
  def incrementalExact(incoming: DataFrame, key: Column,
                       corpus: DataFrame, corpusKey: Column): DataFrame = {
    // collision-proof internal alias: `existing("__graft_fp")` is
    // frame-qualified AND the name itself is reserved-prefixed, so a
    // caller-side `_fp` (or even an unqualified `key` touching one)
    // cannot collide with the corpus projection
    val existing = corpus.select(corpusKey.as("__graft_fp")).distinct()
    incoming.join(existing, key === existing("__graft_fp"), "left_anti")
  }

  /** [[incrementalExact]] with a Bloom-filter ROUTING tier in front —
    * the runtime-filter pattern Spark's own `InjectRuntimeFilter` rule
    * applies to shuffle joins, lifted to the ingestion boundary where
    * the build side (the corpus key set) is long-lived:
    *
    *   1. ONE distributed pass folds the distinct corpus keys into a
    *      Bloom filter (`DataFrameStatFunctions.bloomFilter`, built by
    *      per-partition aggregation + driver merge; `xxhash64(key)` so
    *      arbitrary key types probe as longs);
    *   2. the filter rides into the scan as a plan literal probed by
    *      Spark's codegen'd `BloomFilterMightContain` — incoming rows it
    *      rejects are admitted DIRECTLY (a Bloom "no" is definite);
    *   3. only the might-contain sliver (true dups + the `fpp` false-
    *      positive fraction) pays the anti-join against the corpus
    *      projection.
    *
    * The result is row-identical to [[incrementalExact]]: hash
    * collisions and Bloom false positives only route a row into the
    * confirming anti-join, never decide admission. What changes is the
    * 100 TB cost shape — with a mostly-novel incoming batch the
    * anti-join's shuffle carries ~`fpp` of the incoming rows instead of
    * all of them, and the filter itself (n·1.44·log2(1/fpp) bits — ~9
    * bits/key at fpp=0.03) is built once per corpus version and
    * amortizes across every subsequent batch, exactly like the
    * `_*_build` index memos. At corpus sizes where the filter outgrows
    * the driver, raise `fpp` (false positives only re-widen the join)
    * or shard by key range.
    *
    * `expectedItems` sizes the filter; pass the known corpus cardinality
    * to skip the sizing `count()` job. */
  def incrementalExactBloom(incoming: DataFrame, key: Column,
                            corpus: DataFrame, corpusKey: Column,
                            fpp: Double = 0.03,
                            expectedItems: Long = -1L): DataFrame = {
    import org.apache.spark.sql.catalyst.expressions.{BloomFilterMightContain, Literal}
    import org.apache.spark.sql.graftshim.Bridge
    import org.apache.spark.sql.types.BinaryType

    val keyed = corpus.select(xxhash64(corpusKey).as("__graft_fp")).distinct()
    val n = if (expectedItems > 0L) expectedItems else keyed.count()
    if (n == 0L) return incoming
    val est = math.max(n, 1L)
    val numBits =
      org.apache.spark.util.sketch.BloomFilter.optimalNumOfBits(est, fpp)
    val conf = corpus.sparkSession.conf
    def confLong(k: String, dflt: Long): Long =
      scala.util.Try(conf.get(k).toLong).getOrElse(dflt)
    // ONE aggregation job builds the filter AND detects an empty corpus:
    // the native BloomFilterAggregate returns a NULL buffer over zero
    // rows, which is exactly the emptiness signal the old dedicated
    // isEmpty probe paid a limit-1 job for (r14 job-count profile). The
    // aggregate's serialized form is what BloomFilterMightContain
    // consumes (Spark's own runtime-filter pairing). The aggregate is
    // analysis-capped by the runtime-filter confs, so corpora sized past
    // them fall back to the uncapped stat.bloomFilter (+ its own
    // emptiness handling) — at 100 TB that is the path a billion-key
    // corpus takes.
    val bytes: Array[Byte] =
      if (est <= confLong(
            "spark.sql.optimizer.runtime.bloomFilter.maxNumItems", 4000000L) &&
          numBits <= confLong(
            "spark.sql.optimizer.runtime.bloomFilter.maxNumBits", 67108864L)) {
        import org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate
        val agg = new BloomFilterAggregate(
          Bridge.expression(col("__graft_fp")),
          Literal(est), Literal(numBits))
        val row = keyed.select(
          Bridge.column(agg.toAggregateExpression()).as("_bf")).head()
        if (row.isNullAt(0)) return incoming
        row.getAs[Array[Byte]](0)
      } else {
        if (expectedItems > 0L && keyed.isEmpty) return incoming
        val bf = keyed.stat.bloomFilter("__graft_fp", est, fpp)
        val bos = new java.io.ByteArrayOutputStream()
        bf.writeTo(bos)
        bos.toByteArray
      }
    val mightContain = Bridge.column(BloomFilterMightContain(
      Literal(bytes, BinaryType), Bridge.expression(xxhash64(key))))
    val definitelyNew = incoming.filter(!mightContain)
    val confirmed = incrementalExact(
      incoming.filter(mightContain), key, corpus, corpusKey)
    definitelyNew.unionAll(confirmed)
  }

  /** CLEAN-THEN-ADMIT — the full ingestion kernel a pretraining pipeline
    * runs per batch, composing the substring tier with the admission
    * decision: (1) every token run an incoming doc copies from the
    * corpus is stripped ([[SpanDedup.crossStripSpans]] — quotation/
    * boilerplate contamination removed while novel text survives);
    * (2) docs reduced below `minKeptTokens` are dropped (nothing novel
    * left); (3) the SURVIVING CLEANED text runs the two-tier admission
    * kernel [[admitIncoming]] (exact anti-join + cross-set MinHash +
    * Jaccard verify vs the corpus). Returns (idCol, textCol) with
    * textCol holding the cleaned text. Same cross-set contract as the
    * underlying kernels: incoming rows never meet each other, so
    * micro-batch splits accumulate to the one-shot result
    * (the streaming mirror is [[graft.streaming.Streams
    * .incrementalCleanAdmission]]; stream ≡ batch in StreamsSpec).
    * `buckets` is handed to [[admitIncoming]]. */
  def cleanAndAdmit(incoming: DataFrame, corpus: DataFrame,
                    idCol: String, textCol: String, k: Int = 8,
                    minKeptTokens: Int = 1,
                    minJaccard: Double = 0.8,
                    hashGrams: Boolean = false,
                    gramIndexPath: Option[String] = None,
                    buckets: Buckets =
                      NearDup.minHashBuckets(_, _, _)): DataFrame = {
    // hashGrams — the 100 TB shape for the strip tier's gram semi-join:
    // 8-byte xxhash64 keys instead of ~50-byte k-gram strings (AdmitProbe
    // r18: 1.1 GB → ~180 MB of shuffle at a 1M-doc corpus). Decision-
    // identical below the birthday bound (SpanDedup's scaladoc;
    // equivalence asserted in SpanDedupSpec); the oracle-replayed
    // declared rows keep the string default.
    //
    // gramIndexPath — the AMORTIZED strip shape: when the corpus has a
    // maintained gram-key artifact ([[SpanDedup.buildGramIndex]],
    // refreshed per commit via [[SpanDedup.refreshGramIndex]]), the
    // strip tier probes it instead of re-processing the corpus — the
    // per-batch cost becomes batch-bounded (AdmitProbe r18 priced the
    // direct form's corpus-gram shuffle at ~1 GB per 100k-doc batch
    // against a 1M-doc corpus; the indexed probe ships only the
    // batch's might-contain sliver). Row-identical to the direct
    // hashed form when the index is current (SpanDedupSpec); a stale
    // index (commits since the last refresh) only WEAKENS stripping of
    // just-admitted text — the artifact's documented safe-degrade
    // staleness window. The admission tiers below always run against
    // the LIVE corpus relation either way.
    val stripped = gramIndexPath match {
      case Some(path) =>
        SpanDedup.crossStripSpansIndexed(incoming, idCol, textCol, path, k)
      case None =>
        SpanDedup.crossStripSpans(incoming, corpus, idCol, textCol, k,
          hashGrams)
    }
    val cleaned = stripped
      .filter(col("kept_tokens") >= minKeptTokens)
      .select(col("_id").as(idCol), col("cleaned_text").as(textCol))
    // the INDEXED strip's confirm join carries a join-product size
    // estimate (~13000× reality on the r19 fixture), which would ride
    // into admitIncoming's exactKept cache stats and fail every
    // downstream small-plan gate open — commit the cleaned batch as a
    // LocalRelation (persist fallback past the driver cap) so the
    // admission tiers gate on what the batch actually IS. The direct
    // strip's estimate composes sanely (left-join root), so that path
    // keeps its lazy shape.
    // cap 2^16: conservative for a PRODUCTION kernel carrying document
    // text — AdmitProbe-scale batches (100k+ docs) take the persisted
    // fallback, i.e. exactly the pre-r19 shape the probe certified,
    // while fixture/micro-batches localize
    val committed =
      if (gramIndexPath.isDefined) localizeBatch(cleaned, cap = 1 << 16)
      else cleaned
    admitIncoming(committed, corpus, idCol, textCol, minJaccard,
      buckets = buckets)
  }

  /** Commit a driver-boundable batch relation as a LocalRelation —
    * capped collect, persist fallback. It is the one commit step of
    * `incr_admit_seq`'s day-1 admissions and of [[cleanAndAdmit]]'s
    * indexed strip: a caller that stacks a stats-opaque subtree (the
    * indexed strip tier's confirm join is estimated at the
    * JOIN-PRODUCT of its children — ~8 GB for a 1.7k-row result on the
    * r19 fixture) hands its consumers a relation with ACCURATE
    * statistics. Without it, every downstream small-plan gate
    * (candidate collect, reject-set collect, final rollup) reads the
    * inflated estimate, fails open to wide AQE execution, and pays ~2×
    * the jobs and ~10× the task time at fixture scale (the r19
    * incr_clean_admit_indexed profile: 23 jobs / 13 s task time vs the
    * direct twin's 12 / 0.7).
    *
    * Persist-FIRST, then one capped collect through the cache (scans
    * every partition — `cappedCollect`'s high initial-partition scope
    * — so the cache is fully populated by the probe itself): a batch
    * under the cap comes back as a LocalRelation and the transient
    * cache entry is dropped; past the cap the POPULATED persisted
    * frame is returned (registry-tracked, released by the enclosing
    * admission scope), so the at-scale path never executes the
    * upstream plan twice. Decision-identical either way — same rows,
    * same downstream joins. */
  private[graft] def localizeBatch(df: DataFrame,
                                   cap: Int = 1 << 18): DataFrame = {
    // the small-plan gate reads the RAW plan's leaves (parquet scans —
    // accurate) BEFORE the persist wraps them in an InMemoryRelation
    // whose leaf stats are the inflated root estimate this helper
    // exists to contain; the populate collect of a small batch then
    // runs narrow instead of paying 32-wide cached-plan execution
    val small = graft.PlanGate.leafBytes(df) <=
      BigInt(graft.PlanGate.smallPlanBytes)
    val persisted = df.persist(
      org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // the ROW cap cannot bound BYTES (a fat-text batch under the cap
    // can still blow spark.driver.maxResultSize): a failed collect
    // degrades to the persisted distributed shape instead of killing
    // the ingestion job — the cache survives the aborted collect, so
    // the degrade costs no recompute
    val rows =
      try {
        graft.sources.VersionedCorpus.withAqeOff(df.sparkSession, small)(s =>
          graft.PlanGate.cappedCollect(graft.PlanGate.rebind(s, persisted),
            cap + 1))
      } catch {
        case _: org.apache.spark.SparkException =>
          return registerCache(persisted)
      }
    if (rows.length <= cap) {
      try persisted.unpersist(blocking = false)
      catch { case NonFatal(_) => () }
      df.sparkSession.createDataFrame(
        java.util.Arrays.asList(rows: _*), df.schema)
    } else registerCache(persisted)
  }

  /** QUALITY-GATED admission — the production ingestion order: the
    * row-local Gopher gate ([[TextAnalysis.gopherPass]]) runs FIRST, as
    * a plain filter on the incoming scan (no join, no shuffle — quality
    * rejects cost one projection), and only the survivors pay the
    * cross-set dedup tiers of [[admitIncoming]]. Same kernel-sharing
    * contract as [[cleanAndAdmit]]: the streaming mirror
    * ([[graft.streaming.Streams.incrementalGatedAdmission]]) runs THIS
    * method per micro-batch, so stream ≡ batch by construction.
    * `buckets` is handed to [[admitIncoming]]. */
  def gateAndAdmit(incoming: DataFrame, corpus: DataFrame,
                   idCol: String, textCol: String,
                   minJaccard: Double = 0.8,
                   buckets: Buckets =
                     NearDup.minHashBuckets(_, _, _)): DataFrame =
    admitIncoming(
      incoming.filter(TextAnalysis.gopherPass(col(textCol))),
      corpus, idCol, textCol, minJaccard, buckets = buckets)

  /** The incremental ingestion ADMISSION decision, both tiers chained —
    * the kernel the declared `incr_admit` query, its closed-form oracle
    * twin `incr_admit_fixed` and the streaming mirror
    * (`Streams.incrementalAdmission`) share, so batch ≡ stream ≡ oracle
    * twin is the same code path, not three implementations:
    *
    *   1. exact tier: [[incrementalExact]] on the token fingerprint —
    *      the corpus contributes only its distinct-key projection to a
    *      left-anti join;
    *   2. near-dup tier: `buckets` gives each side's per-doc (`_id`,
    *      band, key) relation, and [[NearDup.bucketPairs]] in cross mode
    *      lets incoming meet corpus only inside a shared band bucket
    *      (corpus-internal pairs are never regenerated). The default is
    *      the seeded [[NearDup.minHashBuckets]], i.e.
    *      [[NearDup.minHashCrossCandidates]]; the closed-form oracle
    *      twins pass the [[NearDup.minHashPolyBanded]] relation. Then
    *      a cross-set exact-Jaccard verify ≥ `minJaccard`
    *      ([[NearDup.jaccardVerifyCross]] — each side's text is fetched
    *      from its OWN relation, so an incoming id that collides with a
    *      corpus id cannot mix texts);
    *   3. admit what survives both tiers.
    *
    * `keys` supplies the corpus side of both tiers (see [[CorpusKeys]];
    * its `buckets` must be the relation `buckets` gives); without it
    * both are derived from `corpus`. Supplied, the exact tier first
    * keeps only the corpus fingerprints some incoming row carries — a
    * semi-join against the broadcast batch fingerprints, on the corpus
    * scan — so no exchange carries a corpus-sized relation. `corpus`
    * is then read only for the verify tier's candidate texts.
    *
    * Returns the admitted INCOMING rows with all their columns. Incoming
    * rows are only ever compared against the corpus, never against each
    * other — which is exactly what makes the micro-batched streaming
    * replay equal the one-shot batch run regardless of how the incoming
    * set is split (asserted in StreamsSpec). `incoming` and `corpus`
    * must both carry `idCol` and `textCol`.
    *
    * NOTE ON LAZINESS: unlike most operators here, this one EXECUTES the
    * candidate+verify pipeline at CALL time (the candidate spine is
    * collected to the driver so the verify joins broadcast a
    * LocalRelation — the fused small-batch shape). Callers see a cheap
    * returned frame, not a deferred pipeline. `maxCandidates` bounds
    * that driver materialization; past it the kernel DEGRADES GRACEFULLY
    * to the fully distributed shape (persisted lazy candidates +
    * distributed anti-join) instead of throwing — decision-identical,
    * just without the driver fusion (DedupSpec pins identity on a
    * forced-overflow fixture). */
  def admitIncoming(incoming: DataFrame, corpus: DataFrame,
                    idCol: String, textCol: String,
                    minJaccard: Double = 0.8,
                    maxCandidates: Int = 1 << 20,
                    buckets: Buckets =
                      NearDup.minHashBuckets(_, _, _),
                    keys: Option[CorpusKeys] = None): DataFrame = {
    // exactKept feeds THREE consumers (the candidate collect below, the
    // Jaccard verify, and the final anti-join), and its subtree carries
    // whatever the caller stacked under `incoming` — cleanAndAdmit puts
    // the whole cross-set span-strip chain there. Unpersisted, that
    // chain re-executes per consumer (the lazy-recompute trap profiled
    // on incr_clean_admit); the candidate collect right below populates
    // the cache as a side effect, so the persist costs no extra job.
    // Lifecycle: registered with the admission-cache registry (see the
    // object header) — the enclosing withAdmissionScope (or a later
    // releaseAdmissionCaches) unpersists it once the caller's consuming
    // action is done. CacheManager holds a strong reference until then;
    // ContextCleaner alone would never reap it.
    val fp = tokenFingerprint(col(textCol))
    val exact = keys.fold(incrementalExact(incoming, fp, corpus, fp)) { k =>
      // both uses of the batch read one lazy local checkpoint, so
      // `incoming` is computed once (a streaming batch counts every
      // computation as input rows); unlike a persist, it adds no
      // cache-materialization job under adaptive execution
      val batch = registerCache(incoming.localCheckpoint(false))
      val hits = k.fps.join(NearDup.hintIfSmall(batch.select(fp.as("__graft_bfp"))),
        col("_fp") === col("__graft_bfp"), "left_semi")
      batch.join(hits, fp === hits("_fp"), "left_anti")
    }
    val exactKept = registerCache(
      exact.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
    val candLineage = NearDup.bucketPairs(buckets(exactKept, idCol, textCol),
      keys.fold(buckets(corpus, idCol, textCol))(_.buckets),
      NearDup.PairRule.AnyKey, cross = true)
    NearDup.materializePairsOpt(candLineage, maxCandidates) match {
      case Some(cands) =>
        // the verified reject set is bounded by `cands` — ALREADY
        // driver-held under materializePairsOpt's capped contract — so it
        // collects to a LocalRelation (dedup on the driver) instead of
        // paying a distinct exchange plus a broadcast-build stage; the
        // anti-join ships driver rows and the admitted slice never shuffles
        val verified = NearDup.jaccardVerifyCross(
          exactKept, corpus, idCol, textCol, cands)
          .filter(col("jaccard") >= minJaccard)
          .select(col("id_new").as(idCol))
        antiByLocalIds(exactKept, verified, idCol)
      case None =>
        // candidate set exceeded the driver cap: keep the job alive with
        // the fully distributed shape — persist the lazy candidates so
        // the signature pass runs once across the verify's consumers
        // (registry-tracked handle; the caller's scope / the next
        // releaseAdmissionCaches unpersists it), verify distributed,
        // and anti-join without a driver-held reject set.
        val cands = registerCache(candLineage
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
        val verified = NearDup.jaccardVerifyCross(
          exactKept, corpus, idCol, textCol, cands)
          .filter(col("jaccard") >= minJaccard)
          .select(col("id_new").as(idCol)).distinct()
        exactKept.join(verified, Seq(idCol), "left_anti")
    }
  }

  /** Collect a (driver-bounded, by the caller's contract) single-column
    * id frame and return it as a deduplicated LocalRelation — the
    * broadcast side then builds from driver rows with no query stage
    * of its own. EAGER: the collect executes the whole upstream pipeline
    * at call time (see [[admitIncoming]]'s laziness note). The driver
    * dedup normalizes -0.0 → 0.0 for float/double ids first so Java
    * `equals` distinct matches Spark's grouping semantics (r15 advice;
    * ids are longs in every production caller, where the two agree). */
  private def localIdFrame(ids: DataFrame): DataFrame = {
    val rows = localIdValues(ids).map(org.apache.spark.sql.Row(_))
    ids.sparkSession.createDataFrame(
      java.util.Arrays.asList(rows: _*), ids.schema)
  }

  /** EAGER collect of a (driver-bounded) single-column id frame,
    * deduplicated with -0.0 → 0.0 normalized for float/double ids (so
    * Java `equals` distinct matches Spark's grouping; ids are longs in
    * every production caller). */
  private def localIdValues(ids: DataFrame): Array[Any] = {
    def norm(v: Any): Any = v match {
      case d: java.lang.Double if d.doubleValue() == 0.0 =>
        java.lang.Double.valueOf(0.0)
      case f: java.lang.Float if f.floatValue() == 0.0f =>
        java.lang.Float.valueOf(0.0f)
      case x => x
    }
    graft.PlanGate.withAqeOffIfSmall(ids)(_.collect())
      .map(r => norm(r.get(0))).distinct
  }

  /** Left-anti of `left` against the DRIVER-BOUNDED reject-id frame —
    * as a plan-LITERAL NOT-IN filter when the collected set is small
    * and long-typed: the LocalRelation broadcast anti-join pays a
    * one-task build job per admission call (the r17 scheduler-floor
    * note), the literal filter pays zero and pushes into the (cached)
    * left scan. Anti-join null semantics preserved explicitly: a null
    * left id never matches a key, so it is KEPT. Large or non-long id
    * sets keep the broadcast anti-join. Decision-identical either way
    * (same reject set applied). */
  private[graft] def antiByLocalIds(left: DataFrame, ids: DataFrame,
                                    idCol: String): DataFrame = {
    val vals = localIdValues(ids)
    val longs = vals.collect { case l: java.lang.Long => l }
    if (vals.isEmpty) left
    else if (longs.length == vals.length && vals.length <= 10000)
      left.filter(col(idCol).isNull ||
        !col(idCol).isin(longs.toIndexedSeq: _*))
    else {
      val rows = vals.map(org.apache.spark.sql.Row(_))
      left.join(broadcast(left.sparkSession.createDataFrame(
          java.util.Arrays.asList(rows: _*), ids.schema)),
        Seq(idCol), "left_anti")
    }
  }

  /** [[admitIncoming]] with a GUARANTEED-EXACT near-dup tier: the
    * MinHash candidate stage (probabilistic — the calibrated banding
    * still loses ~1 % of true dups, `minhash_recall`) is replaced by
    * the cross-set prefix-filtered exact join
    * ([[NearDup.prefixJaccardJoinCross]]), so EVERY incoming row with
    * a corpus neighbor at J ≥ `minJaccard` is rejected, deterministically
    * — no banding loss, no seeds — at inverted-index (not all-pairs)
    * cost. Fully deterministic and SQL-expressible, so the declared row
    * is oracle-checked end-to-end, unlike the LSH kernel's rows-only
    * contract. Same cross-set semantics: incoming rows never meet each
    * other, micro-batch splits accumulate to the one-shot result.
    *
    * Choose this kernel when a missed duplicate is costlier than the
    * prefix join's wider candidate stage; choose [[admitIncoming]] when
    * the corpus's maintained LSH bucket table makes the probabilistic
    * tier effectively free per batch. */
  def admitIncomingExactJaccard(incoming: DataFrame, corpus: DataFrame,
                                idCol: String, textCol: String,
                                minJaccard: Double = 0.8): DataFrame = {
    // NOT persisted, unlike admitIncoming: both consumers live in ONE
    // plan here (no intermediate collect), and measured with a cache the
    // blocking materialization costs more than the shared-subtree
    // re-scan it saves (2.2 s → 3.1 s on the declared row)
    val exactKept = incrementalExact(incoming,
      tokenFingerprint(col(textCol)), corpus, tokenFingerprint(col(textCol)))
    val nearDupNew = NearDup.prefixJaccardJoinCross(
        exactKept, corpus, idCol, textCol, minJaccard)
      .select(col("id_new").as(idCol)).distinct()
    // reject set ≤ batch size: broadcast into the anti-join (same
    // rationale as admitIncoming)
    exactKept.join(broadcast(nearDupNew), Seq(idCol), "left_anti")
  }

  /** SEMANTIC admission against an IVF-CELLED corpus — [[semanticDedup]]
    * at the ingestion boundary, and the cell-partitioned alternative to
    * [[admitIncomingVectors]]'s sign-LSH buckets: incoming vectors are
    * assigned to the corpus index's EXISTING cells
    * ([[IvfIndex.assignTo]] — zero-shuffle projection-argmin against
    * the frozen centroids), and compared by exact cosine ONLY against
    * corpus vectors in the same cell; an incoming row with any corpus
    * neighbor at cos ≥ `minCosine` is rejected. Cross-set contract as
    * every admission kernel: incoming rows never meet each other, so
    * micro-batch splits accumulate to the one-shot batch result
    * (streaming mirror: [[graft.streaming.Streams
    * .incrementalSemanticAdmission]]).
    *
    * Scale shape: the batch's probed cells are resolved driver-side
    * (≤ k distinct ints) and pre-filter the index relation BEFORE the
    * equi-join — over a [[IvfIndex.writePartitioned]] table that is
    * static partition pruning, so the corpus contributes only the
    * touched cells' rows, never a corpus-wide shuffle. The within-cell
    * comparison volume is batch × cell-population, the same bound
    * [[semanticDedup]]'s cells give the batch tier.
    *
    * `corpusIdx` carries (`idCol`, `vecCol`, cluster_id) — read it from
    * the partitioned index table; `centroids` are the index's frozen
    * (cluster_id, centroid) rows. */
  def admitIncomingSemantic(incoming: DataFrame, corpusIdx: DataFrame,
                            idCol: String, vecCol: String,
                            centroids: DataFrame,
                            minCosine: Double = 0.9): DataFrame = {
    import graft.functions.VectorFunctions.cosine
    val assigned = IvfIndex.assignTo(incoming, idCol, vecCol, centroids)
    // cells this batch touches: ≤ k ints, driver-resolvable by the same
    // contract as IvfIndex.probeMany's static partition pruning
    val touchedRows = assigned.select(col("cluster_id")).distinct().collect()
    // a null cluster_id is the native assignment's ragged signal (the
    // incoming vector's length matches no centroid) — same loud error
    // as IvfIndex.build, instead of an opaque NPE from getInt below
    require(!touchedRows.exists(_.isNullAt(0)),
      "ragged batch: some incoming vector's length matches no centroid — " +
        "admitIncomingSemantic requires every incoming vector to share " +
        "the index's dimension")
    val touched = touchedRows.map(_.getInt(0))
    val inc = incoming.join(assigned, idCol)
    val drops = inc.select(col("cluster_id"),
        col(idCol).as("_id_new"), col(vecCol).as("_v_new"))
      .join(corpusIdx
        .filter(col("cluster_id").isin(touched.toIndexedSeq: _*))
        .select(col("cluster_id"), col(vecCol).as("_v_old")), "cluster_id")
      .filter(round(cosine(col("_v_new"), col("_v_old")), 4) >= minCosine)
      .select(col("_id_new").as(idCol)).distinct()
    incoming.join(drops, Seq(idCol), "left_anti")
  }

  /** The VECTOR-TIER incremental admission decision — [[admitIncoming]]
    * for an embedding-indexed corpus: incoming vectors meet existing
    * corpus vectors only inside shared sign-LSH buckets
    * ([[NearDup.embeddingCrossCandidates]] — multiprobe exploded on the
    * small incoming side), candidates are verified by exact cosine
    * ([[NearDup.cosineVerifyCross]]), and an incoming row whose cosine
    * against ANY corpus vector reaches `minCosine` is rejected. No
    * separate exact tier: a byte-identical vector has cosine 1.0 and
    * shares its duplicate's bucket by construction, so the LSH tier
    * subsumes it.
    *
    * Same cross-set contract as the text kernel: incoming rows are
    * compared only against the corpus, never each other — micro-batch
    * splits of the incoming set accumulate to the one-shot batch result
    * (asserted in StreamsSpec), and the corpus contributes only its
    * bucket projection plus candidate-touched vectors, never a
    * corpus-sized shuffle.
    *
    * Same call-time-execution + graceful-overflow contract as
    * [[admitIncoming]] (see its laziness note). */
  def admitIncomingVectors(incoming: DataFrame, corpus: DataFrame,
                           idCol: String, vecCol: String,
                           minCosine: Double = 0.9,
                           nBits: Int = 8,
                           dim: Int = -1,
                           maxCandidates: Int = 1 << 20): DataFrame = {
    // dim < 0 pays a dedicated first() job inside the candidate
    // generator — callers holding table statistics (Queries.embStats)
    // pass the dimension and the whole admission runs schema-driven
    val candLineage = NearDup.embeddingCrossCandidates(
      incoming, corpus, idCol, vecCol, nBits, dim)
    NearDup.materializePairsOpt(candLineage, maxCandidates) match {
      case Some(cands) =>
        // reject set ≤ |cands| (driver-held already): LocalRelation
        // anti-join, same fusion rationale as admitIncoming
        val verified = NearDup.cosineVerifyCross(incoming, corpus, idCol,
            vecCol, cands)
          .filter(col("cos") >= minCosine)
          .select(col("id_new").as(idCol))
        antiByLocalIds(incoming, verified, idCol)
      case None =>
        // overflow: distributed degrade, same shape as admitIncoming's
        // (registry-tracked persist — see the object header)
        val cands = registerCache(candLineage
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
        val verified = NearDup.cosineVerifyCross(incoming, corpus, idCol,
            vecCol, cands)
          .filter(col("cos") >= minCosine)
          .select(col("id_new").as(idCol)).distinct()
        incoming.join(verified, Seq(idCol), "left_anti")
    }
  }

  /** Lineage-truncated persisted generation for iterative loops:
    * re-framing over the plan's own RDD bounds the LOGICAL PLAN at one
    * generation (persist alone does NOT truncate the plan), stays lazy
    * (the next materializing job populates the cache), and keeps
    * unpersist() deterministic. The RDD object graph still chains one
    * hop per generation — fine for the ≤ maxIters CC loops here; a loop
    * with hundreds of generations wants `localCheckpoint` instead (see
    * `graft.tools.LearnBpe`). */
  private def checkpointGen(df: DataFrame): DataFrame =
    df.sparkSession.createDataFrame(df.rdd, df.schema)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)

  /** Driver-side union-find over a collected edge list — the LOCAL
    * FINISH of [[connectedComponents]]. Union always attaches the
    * larger root under the smaller, so each set's root IS its minimum
    * id and the emitted labels match the distributed min-label
    * contract exactly. Returns one (vertex, component) pair per edge
    * endpoint. O(E α(V)) time, E-bounded memory — the same driver
    * class as [[NearDup.materializePairs]]. */
  private[graft] def localMinLabels(edges: Array[(Long, Long)]): Array[(Long, Long)] = {
    val parent = scala.collection.mutable.LongMap.empty[Long]
    def find(v: Long): Long = {
      var r = v
      while (parent.getOrElse(r, r) != r) r = parent(r)
      var x = v // path compression
      while (parent.getOrElse(x, x) != x) { val nxt = parent(x); parent(x) = r; x = nxt }
      r
    }
    edges.foreach { case (a, b) =>
      val ra = find(a)
      val rb = find(b)
      if (ra != rb) {
        if (ra < rb) parent(rb) = ra else parent(ra) = rb
      }
    }
    val seen = scala.collection.mutable.LongMap.empty[Unit]
    val out = scala.collection.mutable.ArrayBuffer.empty[(Long, Long)]
    edges.foreach { case (a, b) =>
      if (seen.put(a, ()).isEmpty) out += ((a, find(a)))
      if (seen.put(b, ()).isEmpty) out += ((b, find(b)))
    }
    out.toArray
  }

  /** (vertex, component) pairs as a LocalRelation with
    * [[connectedComponents]]'s internal label schema. */
  private def localLabelFrame(s: org.apache.spark.sql.SparkSession,
                              labels: Array[(Long, Long)]): DataFrame = {
    val rows: java.util.List[org.apache.spark.sql.Row] =
      java.util.Arrays.asList(labels.map { case (v, c) =>
        org.apache.spark.sql.Row(v, c) }: _*)
    s.createDataFrame(rows, org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("_v",
        org.apache.spark.sql.types.LongType, nullable = false),
      org.apache.spark.sql.types.StructField("component",
        org.apache.spark.sql.types.LongType, nullable = false))))
  }

  /** Connected components over a near-dup pair graph — the CLUSTERING
    * stage between candidate generation (MinHash/SimHash/winnow/embedding
    * buckets) and representative selection: near-duplication is not
    * transitive, so "keep one doc per pair" under-deletes (A~B, B~C keeps
    * A and C even though the cluster is {A,B,C}); the standard pipeline
    * groups pairs into components first and keeps one representative per
    * component.
    *
    * Iterative min-label propagation as pure DataFrame ops: every vertex
    * starts labeled with its own id; each round every vertex takes the
    * min of its own and its neighbors' labels (a shuffle join edges ⋈
    * labels + one partial-aggregatable min per vertex — 2 exchanges per
    * round over (id, label) longs, never document bodies); converged when
    * a round changes no label. Rounds needed = the largest component's
    * diameter — near-dup clusters are dense and shallow (dup groups,
    * mirror families), so the default converges in a handful of rounds.
    * For graphs with genuinely deep chains, `pointerJump = true` adds a
    * pointer-jumping step per round (label := label of my label — one
    * extra self-join shuffle), which halves remaining tree height each
    * round and makes the round count logarithmic in the diameter; it
    * costs one extra job + cache generation per round, so leave it off
    * for shallow graphs. `starContraction = true` swaps the whole loop
    * for alternating large-star/small-star edge contraction
    * ([[starContractionLabels]]) — round count polylog in component
    * SIZE, the variant for adversarially deep chains (pointerJump and
    * saltFactor are propagation knobs, ignored with it).
    * `saltFactor > 1` spreads hub-degree keys in the per-round edges ⋈
    * labels join over that many tasks (see [[propagateRound]]) — for
    * graphs with dense dup cliques or mirror hubs where one join key
    * would otherwise carry the component's whole edge fan-in.
    *
    * `vertices` rows with no incident edge keep their own id as the
    * component (singletons) — and they never enter the loop: propagation
    * runs over the DISTINCT edge endpoints only (dup-graph-sized, not
    * corpus-sized; at web scale the near-dup graph touches a small
    * fraction of documents, so per-round shuffle volume is bounded by
    * the dup families, not the corpus), with untouched vertices unioned
    * back in the final materializing job. Edges touching ids NOT in
    * `vertices` are ignored (semi-join pruned up front), so a foreign id
    * can neither appear as an output row nor leak in as a component
    * label. Returns (idCol, component) with component = min vertex id
    * reachable — deterministic, SQL-expressible (recursive CTE), so the
    * declared `dedup_clusters` query is oracle-checked.
    *
    * The returned frame is PERSISTED and materialized (vertex-sized —
    * release with `unpersist()` when done, same contract as
    * `IvfIndex.build`).
    *
    * TWO-PHASE execution (`localFinishEdges`): every distributed round
    * costs the scheduler's per-job floor regardless of data volume, so
    * a dup graph (or a contracted generation of one — see the
    * star-contraction loop) that fits the driver bound is finished by
    * ONE capped collect + union-find, result-identical to the
    * distributed modes (union-to-smaller-root makes each root the
    * component minimum; property-pinned in DedupSpec). The default
    * bound (2^16 edges ≈ 1 MB) is the `materializePairs` driver class;
    * 0 disables the fast path — the specs that pin the distributed
    * loop machinery itself do that.
    *
    * Each label generation's lineage is truncated (re-framed over its
    * own RDD, then persisted): the round plan references its predecessor
    * TWICE (own-label union + neighbor join), so without truncation the
    * logical plan doubles per round — 2^rounds plan nodes, a driver OOM
    * by round ~25. The re-frame bounds the plan at one generation while
    * keeping every generation an ordinary persisted frame that is
    * DETERMINISTICALLY released as soon as it is superseded (including
    * on the non-convergence failure path) — no reliance on context-
    * cleaner GC timing. */
  def connectedComponents(vertices: DataFrame, idCol: String,
                          edges: DataFrame, srcCol: String, dstCol: String,
                          maxIters: Int = 25,
                          pointerJump: Boolean = false,
                          saltFactor: Int = 1,
                          starContraction: Boolean = false,
                          localFinishEdges: Int = 1 << 16): DataFrame =
    // a graph built from small scans runs its whole labeling (edge
    // materialization, local-finish probe, per-round jobs) with AQE off
    // on a gate session — every exchange here is dup-graph-sized, and
    // AQE's per-exchange query-stage materialization pays a
    // scheduler-floor job each with nothing to re-plan; at-scale graphs
    // keep adaptive planning (skew splits on hub keys matter there)
    graft.sources.VersionedCorpus.withAqeOff(vertices.sparkSession,
      graft.PlanGate.leafBytes(vertices) + graft.PlanGate.leafBytes(edges)
        <= BigInt(graft.PlanGate.smallPlanBytes)) { s =>
      connectedComponentsImpl(graft.PlanGate.rebind(s, vertices), idCol,
        graft.PlanGate.rebind(s, edges), srcCol, dstCol, maxIters,
        pointerJump, saltFactor, starContraction, localFinishEdges)
    }

  private def connectedComponentsImpl(
      vertices: DataFrame, idCol: String,
      edges: DataFrame, srcCol: String, dstCol: String,
      maxIters: Int,
      pointerJump: Boolean,
      saltFactor: Int,
      starContraction: Boolean,
      localFinishEdges: Int): DataFrame = {
    val lvl = org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
    // undirected propagation: both directions of every edge, pruned to
    // the vertex set on BOTH endpoints (one-time semi-joins on the
    // bounded edge relation)
    val vs = vertices.select(col(idCol).cast("long").as("_vset"))
    // self-loops are dropped up front: they carry no connectivity (a
    // vertex is always in its own min-neighborhood), and keeping them
    // would admit the vertex into `touched` while star contraction's
    // lo < hi canonicalization never labels it — the two modes would
    // disagree and the vertex would vanish from the output. Without
    // them a self-loop-only vertex takes the `untouched` singleton
    // branch in BOTH modes.
    val e = edges
      .select(col(srcCol).cast("long").as("_src"), col(dstCol).cast("long").as("_dst"))
      .union(edges
        .select(col(dstCol).cast("long").as("_src"), col(srcCol).cast("long").as("_dst")))
      .filter(col("_src") =!= col("_dst"))
      .join(vs.withColumnRenamed("_vset", "_src"), Seq("_src"), "left_semi")
      .join(vs.withColumnRenamed("_vset", "_dst"), Seq("_dst"), "left_semi")
      .persist(lvl)

    // ONLY edge-touched vertices can ever change label — everyone else
    // keeps its own id by definition. The propagation loop therefore runs
    // over the DISTINCT edge endpoints (the dup-GRAPH vertex set: at
    // 100 TB that is dup-family-sized, while the corpus is 100×-1000×
    // larger — per-round shuffle volume shrinks by the same factor);
    // untouched vertices are unioned back as their own component in the
    // final materializing job, never entering a single round.
    val touched = e.select(col("_src").as("_v")).distinct()
    // LOCAL FINISH entry probe: every distributed round below costs the
    // scheduler's per-job floor (~tens of ms × jobs-per-round) no matter
    // how little data moves — on a dup graph that fits the same driver
    // bound [[NearDup.materializePairs]] already accepts, ONE capped
    // collect plus a driver union-find replaces the whole loop. The
    // limit is the probe: ≤ localFinishEdges rows back means we hold
    // the complete canonical edge set (the bidirectional union carries
    // both orientations, so lo < hi selects each undirected edge at
    // least once); localFinishEdges + 1 rows means the graph is real
    // distributed work and only this one probe job was spent. The same
    // two-phase shape is what the distributed star-contraction loop
    // cuts over to mid-flight once a generation contracts under the
    // bound — at 100 TB the first rounds run distributed over the
    // corpus-order dup graph and the geometric tail finishes on the
    // driver instead of paying job-floor × O(log) more rounds.
    val localEntry: Option[Array[(Long, Long)]] =
      if (localFinishEdges <= 0) None
      else {
        val capped = graft.PlanGate.cappedCollect(
          e.filter(col("_src") < col("_dst"))
            .select(col("_src"), col("_dst")), localFinishEdges + 1)
        if (capped.length > localFinishEdges) None
        else Some(capped.map(r => (r.getLong(0), r.getLong(1))))
      }
    var labels: DataFrame = if (starContraction || localEntry.isDefined) null
      else checkpointGen(touched
        .select(col("_v"), col("_v").as("component")))
    // exact label-mass of a generation: labels are vertex ids folded by
    // min, so they only ever DECREASE — equal mass across a round means
    // no label moved, i.e. convergence. Computing it in the same job
    // that materializes the generation's cache makes each round exactly
    // ONE job (an anti-join change-count would be a second one).
    // DECIMAL(38,0) keeps the sum exact at any vertex count.
    def mass(gen: DataFrame): java.math.BigDecimal = {
      val d = gen.agg(sum(col("component").cast("decimal(38,0)"))).head.getDecimal(0)
      if (d == null) java.math.BigDecimal.ZERO else d
    }
    try {
      if (localEntry.isDefined) {
        // the whole graph fit the probe: label it in one driver pass
        // (union-to-smaller-root, so labels are the component minima —
        // identical to both distributed modes; property-pinned in
        // DedupSpec)
        labels = localLabelFrame(e.sparkSession, localMinLabels(localEntry.get))
      } else if (starContraction) {
        // alternate large-star/small-star edge contraction instead of
        // per-hop propagation: round count is polylog in the component
        // DIAMETER, so adversarial deep chains converge inside budgets
        // plain propagation (or even pointer jumping) blows through.
        // pointerJump and saltFactor are propagation knobs — ignored
        // here (contraction has no per-round label join to salt).
        labels = starContractionLabels(e, maxIters, localFinishEdges)
      } else {
      var curMass = mass(labels)
      var it = 0
      var converged = false
      while (!converged && it < maxIters) {
        // exactly ONE hop per materialized generation: propagateRound
        // references its label input twice (own-label union + neighbor
        // join), so chaining hops inside one job would re-execute the
        // unpersisted inner hop once per reference — the shared-subtree
        // double-execution trap; the persisted generation boundary is
        // what keeps each hop computed once
        val prop = checkpointGen(propagateRound(e, labels, saltFactor))
        val propMass = mass(prop)
        // a propagation fixpoint IS convergence, and at a fixpoint the
        // jump is the identity — detect it here so the final round never
        // pays the jump self-join
        converged = propMass.compareTo(curMass) == 0
        val (next, nextMass) = if (!pointerJump || converged) (prop, propMass)
        else {
          // pointer jumping: label := label(label). Every label is a
          // vertex id (edges are vertex-pruned and min includes self),
          // so the inner join loses no rows. `prop` is cached and
          // already materialized by its mass job, so the self-join's
          // two references compute it once.
          val parent = prop.select(col("_v").as("_pv"), col("component").as("_pc"))
          val jumped = checkpointGen(
            prop.join(parent, prop("component") === parent("_pv"))
              .select(prop("_v"), col("_pc").as("component")))
          val jm = mass(jumped)
          prop.unpersist()
          (jumped, jm)
        }
        labels.unpersist()
        labels = next
        curMass = nextMass
        it += 1
      }
      require(converged,
        s"connectedComponents did not converge in $maxIters rounds — " +
          "deep-chain graph; raise maxIters, or set pointerJump/" +
          "starContraction for logarithmic round counts")
      }
      // untouched vertices re-enter here as their own singleton component
      val untouched = vs.select(col("_vset").as("_v"))
        .join(touched, Seq("_v"), "left_anti")
        .select(col("_v"), col("_v").as("component"))
      val out = labels.select(col("_v"), col("component"))
        .union(untouched)
        .select(col("_v").as(idCol), col("component"))
        .persist(lvl)
      // the materializing job doubles as the id-contract check: a null or
      // non-numeric idCol casts to NULL, which the mass sums would have
      // silently skipped — fail loudly instead of returning null-labeled
      // vertices. (Nulls can only arrive via the untouched branch: edge
      // endpoints pass equi-key semi-joins, which never match null.)
      // `out` is released on EVERY failure path from here — a caller that
      // catches the contract error and retries must not accumulate one
      // leaked vertex-sized cache entry per attempt.
      val badIds = try {
        out.agg(count(when(col("component").isNull, 1))).head.getLong(0)
      } catch { case t: Throwable => out.unpersist(); throw t }
      if (badIds != 0L) {
        out.unpersist()
        throw new IllegalArgumentException(
          s"connectedComponents: $badIds vertex id(s) cast to " +
            s"NULL long — idCol '$idCol' must be numeric and non-null")
      }
      out
    } finally {
      e.unpersist()
      // the final generation's cache is superseded by the materialized
      // `out`; on the failure path this releases the last generation too
      // (null only if starContractionLabels threw before returning)
      if (labels != null) labels.unpersist()
    }
  }

  /** Connected-component labels via ALTERNATING STAR CONTRACTION — the
    * public large-star/small-star algorithm (Kiveris et al. 2014,
    * "Connected Components in MapReduce and Beyond") as pure DataFrame
    * ops, with no per-node neighbor-list materialization (each phase is
    * a groupBy-min + an equi-join, both map-side-combinable — a hub's
    * fan-in collapses before the exchange, so no collect_set and no
    * skew hot-spot):
    *
    *   large-star: every node u links each LARGER neighbor v > u to
    *     m = min(N(u) ∪ {u});
    *   small-star: every node u links each SMALLER neighbor (and
    *     itself) to the minimum of its smaller neighborhood.
    *
    * The edge set monotonically contracts toward a union of stars, each
    * centered at its component's minimum id — the round count is
    * polylogarithmic in component size, vs one round PER HOP for label
    * propagation. Convergence = the canonical edge set reaches a
    * fixpoint, detected by a (count, hash-sum) fingerprint computed in
    * the same job that materializes the generation (the `mass`
    * discipline of the propagation loop).
    *
    * `e` is the bidirectional vertex-pruned edge relation the caller
    * already built. Returns persisted, materialized (_v, component)
    * labels for every edge-touched vertex (at the star fixpoint no
    * vertex is both a center and a leaf, so the union below is
    * duplicate-free). */
  private def starContractionLabels(e: DataFrame, maxIters: Int,
                                    localFinishEdges: Int = 0): DataFrame = {
    val lvl = org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
    // canonical undirected edge set: (lo, hi) with lo < hi, deduped
    // (self-loops were already filtered out of the caller's `e`, so
    // lo < hi only fixes orientation — it never drops a vertex)
    var edges = checkpointGen(
      e.filter(col("_src") < col("_dst"))
        .select(col("_src").as("lo"), col("_dst").as("hi"))
        .distinct())
    // set fingerprint: (row count, exact sum of per-edge hashes) —
    // computed in the ONE job that materializes the generation's cache.
    // Equal fingerprints across a round mean the edge set is a fixpoint
    // (a 64-bit hash-sum collision between consecutive generations of
    // the same contraction is astronomically unlikely).
    def fingerprint(gen: DataFrame): (Long, java.math.BigDecimal) = {
      val r = gen.agg(count(lit(1)),
        sum(xxhash64(col("lo"), col("hi")).cast("decimal(38,0)"))).head
      (r.getLong(0),
        if (r.isNullAt(1)) java.math.BigDecimal.ZERO else r.getDecimal(1))
    }
    def sameFp(a: (Long, java.math.BigDecimal),
               b: (Long, java.math.BigDecimal)): Boolean =
      a._1 == b._1 && a._2.compareTo(b._2) == 0
    try {
      var fp = fingerprint(edges)
      var it = 0
      var converged = false
      while (!converged && it < maxIters) {
        // LARGE-STAR: bidirectional view; per node the min of its
        // neighborhood (∪ self); larger neighbors re-attach to it
        val bidir = edges.select(col("lo").as("u"), col("hi").as("v"))
          .union(edges.select(col("hi").as("u"), col("lo").as("v")))
        val mins = bidir.groupBy(col("u")).agg(min(col("v")).as("_mn"))
          .select(col("u"), least(col("_mn"), col("u")).as("m"))
        val ls = checkpointGen(bidir.join(mins, "u")
          .filter(col("v") > col("u"))
          .select(col("m").as("lo"), col("v").as("hi"))
          .distinct())
        // populate ls BEFORE the small-star self-reference fans out
        // (three subtrees below read it; a cold cache would be missed
        // by the concurrent ones — same discipline as
        // minHashCandidatesMaterialized)
        ls.count()
        // SMALL-STAR: the canonical (lo, hi) orientation IS the
        // point-to-smaller direction; per hi-node the min of its
        // smaller neighborhood becomes everyone's new attachment
        val minsS = ls.groupBy(col("hi")).agg(min(col("lo")).as("m"))
        val ss = checkpointGen(
          ls.join(minsS, "hi")
            .filter(col("lo") =!= col("m"))
            .select(col("m").as("lo"), col("lo").as("hi"))
            .union(minsS.select(col("m").as("lo"), col("hi")))
            .distinct())
        val newFp = fingerprint(ss) // materializes ss through ls's cache
        ls.unpersist()
        edges.unpersist()
        edges = ss
        converged = sameFp(newFp, fp)
        fp = newFp
        it += 1
        // MID-LOOP LOCAL FINISH: contraction shrinks the edge set
        // geometrically, so the tail rounds run over ever-smaller
        // generations where the scheduler's per-job floor dominates the
        // data. The fingerprint job (already paid — it is the round's
        // materializer) carries the generation's exact row count; once
        // it fits the driver bound, ONE collect + union-find replaces
        // the remaining O(log) rounds. Contraction preserves components
        // AND endpoint coverage (large-star re-attaches every larger
        // neighbor, small-star re-emits every hi — Kiveris et al. 2014,
        // §large-star/small-star invariants), so union-find over the
        // current generation labels exactly the original touched set;
        // the defensive self-label union below covers any endpoint a
        // mid-fixpoint generation could in principle drop, lazily (it
        // rides the caller's one materializing job, expected empty).
        if (!converged && localFinishEdges > 0 && newFp._1 <= localFinishEdges) {
          val pairs = edges.select(col("lo"), col("hi")).collect()
            .map(r => (r.getLong(0), r.getLong(1)))
          val found = localMinLabels(pairs)
          val foundDf = localLabelFrame(e.sparkSession, found)
          val absent = e.select(col("_src").as("_v")).distinct()
            .join(foundDf.select(col("_v")), Seq("_v"), "left_anti")
            .select(col("_v"), col("_v").as("component"))
          return foundDf.union(absent)
        }
      }
      require(converged,
        s"star contraction did not converge in $maxIters rounds — " +
          "raise maxIters (round count is polylog in component size)")
      // fixpoint = union of stars centered at each component's min id:
      // every leaf carries exactly one (center, leaf) edge, centers
      // label themselves
      val labels = edges.select(col("hi").as("_v"), col("lo").as("component"))
        .union(edges.select(col("lo").as("_v"), col("lo").as("component"))
          .distinct())
        .persist(lvl)
      labels.count()
      labels
    } finally edges.unpersist()
  }

  /** The end-to-end SCALE-SHAPED near-dup dedup pipeline — the chain the
    * individual stages exist for, executed as one operator:
    *
    *   1. candidate generation: MinHash-LSH bucket join
    *      ([[NearDup.minHashCandidatesMaterialized]] — documents meet
    *      only inside a (band, hash) bucket, never all-pairs);
    *   2. verification: exact n-gram Jaccard ≥ `minJaccard` over the
    *      candidates only ([[NearDup.jaccardVerify]] — semi-join-pruned
    *      shingling, so the verify cost is candidate-sized);
    *   3. clustering: [[connectedComponents]] over the verified edges
    *      (near-duplication is not transitive — pair-level dedup
    *      under-deletes);
    *   4. representative selection: the min-id FULL row per component
    *      ([[dropDuplicatesByKey]] keyed by component), annotated with
    *      the component id and its size.
    *
    * Returns one row per surviving document (representatives of dup
    * clusters + all singletons): `docs.columns ++ (component, n_docs)`.
    * The result is corpus-sized, so like [[connectedComponents]] it is
    * returned PERSISTED and materialized — release with `unpersist()`
    * (the intermediate CC labels must stay cached until the result
    * materializes, which is why the materialization happens inside).
    *
    * Shingle discipline: the MinHash signatures are over token 3-grams
    * ([[graft.expressions.MinHashSig]] hard-codes the width), so
    * `shingleSize` defaults to 3 to keep the verify stage measuring the
    * same similarity the candidate stage is tuned for. The banding
    * default is the RECALL-FIRST b=8/r=4 split of
    * [[NearDup.minHashCandidates]]: J = 0.8 pairs collide with
    * probability ≈ 0.985 (S-curve midpoint ≈ 0.59), so the verify
    * stage sees more sub-threshold candidates but the 0.8-Jaccard dups
    * this pipeline exists to cluster are not silently missed. */
  def lshDedupPipeline(docs: DataFrame, idCol: String, textCol: String,
                       minJaccard: Double = 0.8, shingleSize: Int = 3,
                       numHashes: Int = 32, bands: Int = 8,
                       pointerJump: Boolean = false,
                       saltFactor: Int = 1,
                       localFinishEdges: Int = 1 << 16): DataFrame = {
    val cands = NearDup.minHashCandidatesMaterialized(
      docs, idCol, textCol, numHashes, bands)
    val edges = NearDup.materializePairs(
      NearDup.jaccardVerify(docs, idCol, textCol, cands, shingleSize)
        .filter(col("jaccard") >= minJaccard)
        .select(col("id_a"), col("id_b")))
    dedupFromEdges(docs, idCol, edges, pointerJump = pointerJump,
      saltFactor = saltFactor, localFinishEdges = localFinishEdges)
  }

  /** SEMANTIC dedup within pre-computed clusters — the SemDeDup recipe
    * (Abbas et al. 2023, public): embeddings are first partitioned into
    * clusters (k-means cells — e.g. the shared IVF assignment — or any
    * categorical grouping), then pairwise cosine similarity is computed
    * ONLY within each cluster, and of every group of mutual semantic
    * duplicates (cos ≥ `minCosine`) exactly the best-ranked member
    * survives. The keep rule is lexicographic over (`rankCols`, id):
    * a row is dropped iff some SAME-CLUSTER row with a strictly smaller
    * (rank, id) key is `minCosine`-similar to it. With the paper's rank
    * (ascending cosine-to-centroid: keep the member farthest from the
    * cell centre, preserving diversity) pass that column in `rankCols`;
    * the default (no rank columns) keeps the smallest id — fully
    * SQL-expressible, so that form is oracle-checked.
    *
    * Scale shape: the cluster partition is what bounds the quadratic —
    * the self-join is an equi-join on `clusterCol` (one shuffle by
    * cluster key; cells are ~√n-sized under the shared IVF's k ≈ √n
    * sizing, so per-cell all-pairs stays n·√n overall, the paper's own
    * cost argument). Drops are a distinct id projection; survivors are
    * a left-anti join — the corpus never materializes pair texts.
    *
    * `emb` must already carry `clusterCol` (join your assignment
    * relation first); returns the surviving rows of `emb` unchanged. */
  def semanticDedup(emb: DataFrame, idCol: String, vecCol: String,
                    clusterCol: String, minCosine: Double,
                    rankCols: Seq[String] = Nil): DataFrame = {
    import graft.functions.VectorFunctions.cosine
    val keyCols = (rankCols :+ idCol).distinct
    val x = emb.select(col(clusterCol).as("_cl"),
      col(vecCol).as("_v_x"), col(idCol).as("_id_x"),
      struct(keyCols.map(col): _*).as("_k_x"))
    val y = emb.select(col(clusterCol).as("_cl"),
      col(vecCol).as("_v_y"),
      struct(keyCols.map(col): _*).as("_k_y"))
    val drops = x.join(y, "_cl")
      // the better-ranked side survives; struct comparison is
      // lexicographic over (rankCols, id), and id uniqueness makes the
      // order total — no row can drop itself
      .filter(col("_k_y") < col("_k_x"))
      .filter(round(cosine(col("_v_x"), col("_v_y")), 4) >= minCosine)
      .select(col("_id_x").as(idCol)).distinct()
    emb.join(drops, Seq(idCol), "left_anti")
  }

  /** Stages 3-4 of [[lshDedupPipeline]] over PRECOMPUTED similarity
    * edges — for callers that already hold (or memoize) the verified
    * candidate set (several declared queries over one fixture share it;
    * at cluster scale the edge relation is typically a persisted table
    * produced by the candidate+verify job). Same return/persist contract
    * as [[lshDedupPipeline]]. */
  def dedupFromEdges(docs: DataFrame, idCol: String, edges: DataFrame,
                     pointerJump: Boolean = false,
                     saltFactor: Int = 1,
                     best: Option[Column] = None,
                     localFinishEdges: Int = 1 << 16): DataFrame = {
    // the output annotates docs' own columns with these two — a caller
    // column of the same name would collide in the final projection
    // (same guard discipline as Skew.saltedJoin's _salt)
    Seq("component", "n_docs").foreach { c =>
      require(!docs.columns.contains(c),
        s"dedupFromEdges: docs already has a '$c' column — rename it; " +
          "the result appends (component, n_docs)")
    }
    val lvl = org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
    val cc = connectedComponents(docs.select(idCol), idCol,
      edges, "id_a", "id_b", pointerJump = pointerJump,
      saltFactor = saltFactor, localFinishEdges = localFinishEdges)
    try {
      // component sizes: a vertex-sized (long, long) agg — tiny next to
      // the docs join below
      val sizes = cc.groupBy(col("component")).agg(count(lit(1)).as("n_docs"))
      // representative selection FIRST (docs ⋈ labels is the only
      // corpus-sized join; the min-row agg collapses it to one row per
      // component before the sizes join touches it). `best` swaps the
      // min-id pick for quality-aware argmax ([[keepBestByKey]]) — same
      // single-shuffle shape either way.
      val labeled = docs.join(cc, idCol)
      val reps = best match {
        case None        => dropDuplicatesByKey(labeled, col("component"), col(idCol))
        case Some(score) => keepBestByKey(labeled, col("component"), score, col(idCol))
      }
      // the PERSIST must run on the gate session, not just the count:
      // Spark compiles a cached relation's physical plan eagerly at
      // persist() with its session's shuffle width, and cached-plan
      // materialization keeps that width (no AQE coalescing), so a
      // persist on the caller's session froze the label join + rep agg
      // at full width — 32 tasks per downstream scan of the cache at
      // fixture scale (r19 profile: the 843 ms stage in
      // dedup_pipeline_lsh_fixed). Gate on `docs` (accurate parquet
      // leaves); at-scale inputs keep adaptive planning as before.
      graft.PlanGate.withAqeOffIfSmall(docs) { d =>
        val out = graft.PlanGate.rebind(d.sparkSession,
          reps.join(sizes, "component").select(
            docs.columns.map(col) :+ col("component") :+ col("n_docs"): _*))
          .persist(lvl)
        out.count()
        out
      }
    } finally cc.unpersist()
  }

  /** One min-label propagation round over a directed edge relation
    * (_src, _dst) and a label generation (_v, component): every vertex
    * takes the min of its own and its in-neighbors' labels. Shared by
    * the [[connectedComponents]] loop and the plan dump
    * (`graft.tools.DumpPlans`), so the rendered plan is the executed
    * one.
    *
    * Hub/clique skew: a web-scale dup family (10^5-way duplicated
    * boilerplate) gives a few `_dst` keys enormous degree, hot-spotting
    * the edges ⋈ labels shuffle join onto one task. `saltFactor > 1`
    * salts that join via [[Skew.saltedJoin]]: the edge side's salt is
    * derived from `_src` (row-distinguishing WITHIN a `_dst` key, and
    * deterministic so shuffle-retry recomputation is stable), the
    * label side — one (long, long) row per vertex — is replicated
    * `saltFactor`×, and the hot key's rows spread over `saltFactor`
    * tasks. Result-identical to the plain join by [[Skew.saltedJoin]]'s
    * contract. The downstream `groupBy(_v).min` needs no salt: min is
    * partial-aggregatable, so a hub's fan-in collapses map-side before
    * the exchange. */
  private[graft] def propagateRound(e: DataFrame, labels: DataFrame,
                                    saltFactor: Int = 1): DataFrame = {
    val viaNeighbors = (if (saltFactor > 1)
      Skew.saltedJoin(e, "_dst", Seq("_src"),
        labels.select(col("_v"), col("component")), "_v", saltFactor)
    else e.join(labels, e("_dst") === labels("_v")))
      .select(col("_src").as("_v"), col("component"))
    labels.select(col("_v"), col("component"))
      .union(viaNeighbors)
      .groupBy(col("_v"))
      .agg(min(col("component")).as("component"))
  }
}
