package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** PERSISTED INVERTED TEXT INDEX — the build-once/query-many form of
  * the keyword-retrieval tier. [[TextAnalysis.bm25]] pays one corpus
  * pass (tokenize + filtered explode) PER QUERY; at 100 TB that is the
  * difference between an index and a table scan. This operator pays the
  * tokenize/explode ONCE, persists the postings as token-sharded
  * parquet, and answers every later query from the handful of shards
  * its terms hash to:
  *
  *   indexDir/batch=B/postings/shard=S/   (token, doc_id, tf, dl)
  *   indexDir/batch=B/stats/              (n_docs, total_tokens, n_with_dl)
  *
  * Layout rationale, 100 TB first:
  *   - postings are hive-partitioned by `shard = pmod(xxhash64(token),
  *     shards)`, so a query's terms resolve (one tiny LOCAL job, no
  *     driver-side hash-parity games) to a shard IN-list that prunes
  *     the scan to |query terms| directories out of `shards`, and the
  *     `token IN (...)` predicate pushes into the parquet row groups
  *     of the surviving shards. Nothing corpus-sized is ever read at
  *     query time.
  *   - document length `dl` is DENORMALIZED into every posting, so
  *     scoring needs no join against a doc-length table; `df(t)` is a
  *     count over the already-pruned postings of t ((doc, token) is
  *     unique per batch by construction). The only corpus-global
  *     inputs, N and avgdl, come from per-batch one-row stats files —
  *     kilobytes, summed at query time.
  *   - each [[append]] stages its postings + stats under `_staging/`
  *     and publishes them with ONE atomic directory rename
  *     (`batch=B`), the [[graft.sources.VersionedCorpus]] claim
  *     discipline: a crashed append leaves staging garbage, never a
  *     torn index; concurrent appenders race renames and both commit.
  *
  * Score parity: [[bm25]]/[[bm25Many]] reproduce TextAnalysis's Okapi
  * formula term for term (spec-pinned equal on every doc), so the
  * index is a pure access-path change — PROVIDED each doc_id is
  * ingested once. The index has no merge semantics: re-ingesting a
  * doc_id counts it again in N/df and leaves its tf split across
  * batch-local postings rows (not the scan-form's merged tf), so
  * dedup/replace belongs to the corpus store upstream and the
  * ingestion loop's replay guard ([[appendOnce]]) is what keeps
  * at-least-once delivery from violating the once-per-doc contract.
  */
object TextIndex {

  /** Tokenize + posting-ify one batch: (token, doc_id, tf, dl, shard). */
  private def postings(docs: DataFrame, idCol: String, textCol: String,
                       shards: Int): DataFrame = {
    val base = docs.select(col(idCol).cast("long").as("doc_id"),
      TextAnalysis.tokens(col(textCol)).as("_toks"))
      .select(col("doc_id"), col("_toks"),
        size(col("_toks")).cast("double").as("dl"))
    base.select(col("doc_id"), col("dl"), explode(col("_toks")).as("token"))
      .groupBy(col("doc_id"), col("dl"), col("token"))
      .agg(count(lit(1)).cast("double").as("tf"))
      .withColumn("shard", pmod(xxhash64(col("token")), lit(shards)))
  }

  /** Committed, LIVE batch dirs: a batch replaced by a committed
    * [[optimize]] pack (its id appears in some pack's `_replaces.txt`,
    * written inside the pack's dir BEFORE its atomic rename — so the
    * rename retires the originals and publishes the pack in one move)
    * is excluded; its data stays on disk as reclaimable garbage until
    * [[vacuumPacked]]. */
  private def batchDirs(indexDir: String): Seq[java.nio.file.Path] = {
    val all = allBatchDirs(indexDir)
    val replaced = all.flatMap(replacesOf).toSet
    all.filterNot(d => replaced(batchId(d)))
  }

  private def allBatchDirs(indexDir: String): Seq[java.nio.file.Path] = {
    val p = java.nio.file.Paths.get(indexDir)
    if (!java.nio.file.Files.isDirectory(p)) return Seq.empty
    val stream = java.nio.file.Files.list(p)
    try {
      val out = scala.collection.mutable.ArrayBuffer[java.nio.file.Path]()
      stream.forEach { d =>
        if (d.getFileName.toString.matches("batch=\\d+")) out += d
      }
      out.sortBy(_.getFileName.toString.stripPrefix("batch=").toLong).toSeq
    } finally stream.close()
  }

  private def batchId(d: java.nio.file.Path): Long =
    d.getFileName.toString.stripPrefix("batch=").toLong

  private def replacesOf(d: java.nio.file.Path): Seq[Long] = {
    val f = d.resolve("_replaces.txt")
    if (!java.nio.file.Files.exists(f)) Seq.empty
    else new String(java.nio.file.Files.readAllBytes(f),
      java.nio.charset.StandardCharsets.UTF_8)
      .split(",").map(_.trim).filter(_.nonEmpty).map(_.toLong).toSeq
  }

  /** Idempotency tokens a batch dir carries (one per line; a pack
    * carries every token of the batches it replaced). */
  private def tokensOf(d: java.nio.file.Path): Set[String] = {
    val f = d.resolve("_token.txt")
    if (!java.nio.file.Files.exists(f)) Set.empty
    else new String(java.nio.file.Files.readAllBytes(f),
      java.nio.charset.StandardCharsets.UTF_8)
      .split("\n").map(_.trim).filter(_.nonEmpty).toSet
  }

  /** Per-batch corpus accounting (n_docs, total_tokens, n_with_dl) as a
    * DRIVER-READABLE `_stats.json` sidecar: the values are known on the
    * driver at commit time anyway (they ride the doclens/tombstone
    * write as `Dataset.observe` metrics), and every consumer of the
    * numbers — BM25's (N, avgdl), optimize's collapse — needs them ON
    * the driver, so shipping them through a 1-row parquet cost a write
    * job and a read-back job per touch. Legacy batches (pre-sidecar
    * `stats/` parquet) stay readable through the Spark fallback in
    * [[indexStats]]. Written before the claim rename like every other
    * batch file — the commit is still atomic. */
  private def writeStatsJson(dir: java.nio.file.Path, nDocs: Long,
                             totalTokens: Long, nWithDl: Long): Unit =
    java.nio.file.Files.write(dir.resolve("_stats.json"),
      s"""{"n_docs":$nDocs,"total_tokens":$totalTokens,"n_with_dl":$nWithDl}"""
        .getBytes(java.nio.charset.StandardCharsets.UTF_8))

  private def readStatsJson(dir: java.nio.file.Path)
      : Option[(Long, Long, Long)] = {
    val f = dir.resolve("_stats.json")
    if (!java.nio.file.Files.exists(f)) return None
    val s = new String(java.nio.file.Files.readAllBytes(f),
      java.nio.charset.StandardCharsets.UTF_8)
    def field(k: String): Long = {
      val m = java.util.regex.Pattern
        .compile("\"" + k + "\"\\s*:\\s*(-?\\d+)").matcher(s)
      require(m.find(), s"corrupt _stats.json under $dir: missing $k")
      m.group(1).toLong
    }
    Some((field("n_docs"), field("total_tokens"), field("n_with_dl")))
  }

  private def shardsFile(indexDir: String) =
    java.nio.file.Paths.get(indexDir, "_shards.txt")

  private def pinnedShards(indexDir: String): Int =
    new String(java.nio.file.Files.readAllBytes(shardsFile(indexDir)),
      java.nio.charset.StandardCharsets.UTF_8).trim.toInt

  /** Append one batch of documents to the index (creates it on first
    * call, pinning `shards`). One staged write + one atomic rename —
    * the commit point; a crash before it leaves only `_staging/`
    * garbage. Empty batches commit nothing. */
  def append(docs: DataFrame, idCol: String, textCol: String,
             indexDir: String, shards: Int = 64): Unit =
    appendOnce(docs, idCol, textCol, indexDir, token = null, shards)

  /** [[append]] with an IDEMPOTENCY TOKEN — the at-least-once +
    * exactly-once-commit contract a streaming ingestion loop needs: the
    * token is written INSIDE the staged batch dir, so the atomic rename
    * commits data and marker together, and a replayed batch (crash
    * after the rename, before the stream checkpoint) finds its token
    * already committed and appends nothing. Returns true iff this call
    * committed. `token = null` skips the guard (plain append). */
  def appendOnce(docs: DataFrame, idCol: String, textCol: String,
                 indexDir: String, token: String,
                 shards: Int = 64): Boolean = {
    val spark = docs.sparkSession
    val root = java.nio.file.Paths.get(indexDir)
    java.nio.file.Files.createDirectories(root)
    // the replay guard scans ALL batch dirs (a pack inherits the tokens
    // of the batches it replaced — see optimize — so retired-but-not-
    // vacuumed dirs and their packs both testify)
    if (token != null && allBatchDirs(indexDir)
      .exists(b => tokensOf(b).contains(token))) return false
    val sf = shardsFile(indexDir)
    // the shard count is PINNED at creation (a later change would split
    // a token's postings across incompatible layouts); `shards` is
    // ignored on an existing index
    if (!java.nio.file.Files.exists(sf)) {
      require(shards > 0, "shards must be positive")
      java.nio.file.Files.write(sf,
        shards.toString.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    }
    val nShards = pinnedShards(indexDir)
    val staging = root.resolve("_staging")
      .resolve(java.util.UUID.randomUUID().toString)
    java.nio.file.Files.createDirectories(staging)
    // per-batch (doc_id, dl) sidecar — what [[delete]] consults for its
    // stats correction without touching the postings. One row per
    // ingested doc INCLUDING zero-token and null-text docs (they carry
    // no postings but do count in N / n_with_dl, so their deletion
    // must correct the stats exactly). The batch stats ride this write
    // as observe metrics — N counts every doc (null texts too), avgdl
    // averages dl over docs whose text tokenized (null text → null dl,
    // excluded; empty text → dl 0, included) — which also answers the
    // empty-batch check, so the append is two write jobs total
    val obs = new org.apache.spark.sql.Observation(
      "graft_tix_app_" + java.util.UUID.randomUUID())
    docs.select(col(idCol).cast("long").as("doc_id"),
        size(TextAnalysis.tokens(col(textCol))).cast("double").as("dl"))
      .observe(obs, count(lit(1)).as("n"), sum(col("dl")).as("toks"),
        count(col("dl")).as("nd"))
      .write.mode("overwrite").parquet(staging.resolve("doclens").toString)
    val m = obs.get
    val nDocs = m("n").asInstanceOf[java.lang.Number].longValue()
    if (nDocs == 0L) {
      org.apache.commons.io.FileUtils.deleteDirectory(staging.toFile)
      return false
    }
    val totalTokens = m("toks") match {
      case null                => 0L
      case v: java.lang.Number => v.doubleValue().toLong
    }
    val nWithDl = m("nd").asInstanceOf[java.lang.Number].longValue()
    val post = postings(docs, idCol, textCol, nShards)
    post.write.partitionBy("shard").mode("overwrite")
      .parquet(staging.resolve("postings").toString)
    writeStatsJson(staging, nDocs, totalTokens, nWithDl)
    if (token != null)
      java.nio.file.Files.write(staging.resolve("_token.txt"),
        token.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    // claim the next batch id by atomic rename; racing appenders retry.
    // Ids count past RETIRED dirs too — an id is never reused even
    // after its batch was packed away
    claimBatch(indexDir, staging)
    true
  }

  /** Build (or rebuild) the index from scratch. */
  def build(docs: DataFrame, idCol: String, textCol: String,
            indexDir: String, shards: Int = 64): Unit = {
    val p = java.nio.file.Paths.get(indexDir)
    if (java.nio.file.Files.isDirectory(p))
      org.apache.commons.io.FileUtils.deleteDirectory(p.toFile)
    append(docs, idCol, textCol, indexDir, shards)
  }

  /** The postings relevant to `terms`: the query's shard directories
    * are selected EXPLICITLY (structural pruning — the plan never even
    * lists the other shards, no reliance on catalyst partition-filter
    * elimination) and the token IN-list pushes into the surviving
    * parquet row groups. The shard values come from one local job over
    * the terms themselves — the same `xxhash64` the build ran, so
    * there is no driver-side reimplementation to drift. */
  private def prunedPostings(spark: SparkSession, indexDir: String,
                             terms: Seq[String]): DataFrame = {
    val batches = batchDirs(indexDir)
    require(batches.nonEmpty, s"no committed batches under $indexDir")
    val nShards = pinnedShards(indexDir)
    import spark.implicits._
    // the same `xxhash64` EXPRESSION the build ran, evaluated over a
    // LocalRelation of the terms: the optimizer's ConvertToLocalRelation
    // folds the projection, so the collect is a LocalTableScan — zero
    // Spark jobs for hashing a handful of strings (the dedup moves to
    // the driver for the same reason: a `distinct` would block the
    // fold behind a real aggregate job)
    val shardIds = terms.toDF("t")
      .select(pmod(xxhash64(col("t")), lit(nShards)))
      .collect().map(_.getLong(0)).distinct
    val shardDirs = for {
      b <- batches; s <- shardIds
      d = b.resolve("postings").resolve(s"shard=$s")
      if java.nio.file.Files.isDirectory(d)
    } yield d.toString
    if (shardDirs.isEmpty) {
      // none of the query's tokens ever hashed into an existing shard:
      // provably no postings, answered without reading anything
      return spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
        new org.apache.spark.sql.types.StructType()
          .add("doc_id", "long").add("dl", "double")
          .add("token", "string").add("tf", "double"))
    }
    val hasTombs = batches.exists(b =>
      java.nio.file.Files.isDirectory(b.resolve("deletes")))
    if (!hasTombs)
      // no tombstones: one multi-path read, plan unchanged
      spark.read.parquet(shardDirs: _*)
        .filter(col("token").isin(terms: _*))
    else {
      // merge-on-read: per-batch reads carry the batch id so a
      // tombstone kills only EARLIER postings (re-ingest resurrects)
      val perBatch = for {
        b <- batches
        dirs = shardIds.map(s =>
            b.resolve("postings").resolve(s"shard=$s"))
          .filter(java.nio.file.Files.isDirectory(_)).map(_.toString)
        if dirs.nonEmpty
      } yield spark.read.parquet(dirs: _*)
        .filter(col("token").isin(terms: _*))
        .withColumn("_b", lit(batchId(b)))
      applyTombstones(spark, batches,
        perBatch.reduce(_ unionByName _)).drop("_b")
    }
  }

  /** Corpus-level (N, avgdl) from the per-batch accounting — resolved
    * on the DRIVER from the `_stats.json` sidecars (manifest-shaped
    * metadata; summing a dozen longs is not a distributed job), with a
    * single Spark read-back for any LEGACY batch still carrying the
    * pre-sidecar `stats/` parquet. Same arithmetic as the old
    * distributed aggregate: exact long sums, one double division. */
  private def indexStats(spark: SparkSession,
                         indexDir: String): (Double, Double) = {
    val batches = batchDirs(indexDir)
    require(batches.nonEmpty, s"no committed batches under $indexDir")
    var nDocs = 0L; var toks = 0L; var nWith = 0L
    val legacy = batches.filter { b =>
      readStatsJson(b) match {
        case Some((n, t, w)) => nDocs += n; toks += t; nWith += w; false
        case None            => true
      }
    }
    if (legacy.nonEmpty) {
      val r = legacy.map(b => spark.read.parquet(b.resolve("stats").toString))
        .reduce(_ unionByName _)
        .agg(sum(col("n_docs")), sum(col("total_tokens")),
          sum(col("n_with_dl"))).head()
      // a legacy batch of only null-text docs sums total_tokens to NULL
      // (sum over all-null input) — treat null sums as 0, matching the
      // observe-metric path's null handling (r15 advice: getLong NPEs)
      def longAt(i: Int): Long = if (r.isNullAt(i)) 0L else r.getLong(i)
      nDocs += longAt(0); toks += longAt(1); nWith += longAt(2)
    }
    (nDocs.toDouble, toks.toDouble / nWith)
  }

  /** Okapi BM25 of every indexed document against a bag of query
    * terms, answered FROM THE INDEX — same formula, same rounding,
    * same output shape as [[TextAnalysis.bm25]] (spec-pinned equal),
    * but the scan is |terms| shards of postings instead of the corpus. */
  def bm25(spark: SparkSession, indexDir: String, terms: Seq[String],
           k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    require(terms.nonEmpty, "bm25 needs at least one query term")
    val post = prunedPostings(spark, indexDir, terms.distinct)
    // (N, avgdl) resolve on the driver (manifest metadata) and fold as
    // literals — no stats scan, no broadcast cross join in the plan
    val (n, avgdl) = indexStats(spark, indexDir)
    val dfc = post.groupBy(col("token"))
      .agg(count(lit(1)).cast("double").as("_df"))
    val idf = log(lit(1.0) +
      (lit(n) - col("_df") + lit(0.5)) / (col("_df") + lit(0.5)))
    val norm = col("tf") + lit(k1) *
      (lit(1.0) - lit(b) + lit(b) * col("dl") / lit(avgdl))
    post.join(broadcast(dfc), "token")
      .select(col("doc_id"),
        (idf * col("tf") * lit(k1 + 1.0) / norm).as("_s"))
      .groupBy(col("doc_id"))
      .agg(round(sum(col("_s")), 4).as("bm25"))
  }

  /** Batched multi-query BM25 from the index — one pruned postings
    * read for the union of all query terms; per-query top-k through
    * the map-side bounded [[graft.functions.TopKAggregator]]. Output
    * shape ≡ [[TextAnalysis.bm25Many]] (qid, doc_id, bm25, rank). */
  def bm25Many(spark: SparkSession, indexDir: String,
               queries: Seq[(Long, Seq[String])], k: Int,
               k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    require(queries.nonEmpty && queries.forall(_._2.nonEmpty),
      "bm25Many needs at least one query, each with at least one term")
    import spark.implicits._
    val unionTerms = queries.flatMap(_._2).distinct
    val post = prunedPostings(spark, indexDir, unionTerms)
    // same literal fold as [[bm25]]
    val (n, avgdl) = indexStats(spark, indexDir)
    val dfc = post.groupBy(col("token"))
      .agg(count(lit(1)).cast("double").as("_df"))
    val qterms = queries.flatMap { case (qid, ts) => ts.distinct.map(qid -> _) }
      .toDF("qid", "token")
    val idf = log(lit(1.0) +
      (lit(n) - col("_df") + lit(0.5)) / (col("_df") + lit(0.5)))
    val norm = col("tf") + lit(k1) *
      (lit(1.0) - lit(b) + lit(b) * col("dl") / lit(avgdl))
    val scored = post.join(broadcast(dfc), "token")
      .join(broadcast(qterms), "token")
      .select(col("qid"), col("doc_id"),
        (idf * col("tf") * lit(k1 + 1.0) / norm).as("_s"))
      .groupBy(col("qid"), col("doc_id"))
      .agg(round(sum(col("_s")), 4).as("bm25"))
    val topk = udaf(new graft.functions.TopKAggregator(k))
    scored.groupBy(col("qid"))
      .agg(topk(col("bm25"), col("doc_id")).as("_top"))
      .select(col("qid"), posexplode(col("_top")).as(Seq("_pos", "_hit")))
      .select(col("qid"), col("_hit._2").as("doc_id"),
        col("_hit._1").as("bm25"), (col("_pos") + 1).cast("long").as("rank"))
  }

  /** DELETE documents from the index (the GDPR/right-to-forget
    * maintenance a durable search index must support) — merge-on-read,
    * like the corpus store: one committed tombstone batch, nothing
    * rewritten. A tombstone kills postings of EARLIER batches only
    * (batch order is the merge order), so a later re-ingest of the
    * same doc_id resurrects it. The commit carries a NEGATIVE stats
    * row for exactly the docs it actually removed (their live doclens
    * rows, resolved through existing tombstones — so deleting an
    * absent or already-deleted id is a no-op and a double delete
    * cannot double-correct). Query-time cost: pruned postings
    * anti-join the broadcast tombstone set; [[optimize]] applies
    * tombstones physically and retires them. Returns the number of
    * docs actually removed (0 = nothing committed).
    *
    * `idsDistinct` — same contract as `VersionedCorpus.delete`: the
    * internal dedup only bounds the broadcast side's size, so a caller
    * holding an already-distinct long id set skips its exchange. */
  def delete(spark: SparkSession, indexDir: String, ids: DataFrame,
             idsDistinct: Boolean = false): Long = {
    val live = batchDirs(indexDir)
    require(live.nonEmpty, s"no committed batches under $indexDir")
    val root = java.nio.file.Paths.get(indexDir)
    val idsSel = ids.select(ids.columns.head)
      .select(col(ids.columns.head).cast("long").as("doc_id"))
    val idsDf = if (idsDistinct) idsSel else idsSel.distinct()
    // live doclens rows of the requested ids: latest per doc, then
    // resolved through the current tombstones. The RESULT is id-set
    // bounded; the scan behind it is doclens-sized (2 columns, one row
    // per ingested doc — the small sidecar, never the postings), with
    // parquet min/max pruning when ids cluster. A maintenance op pays
    // it once; queries never do. The negative-stats aggregate rides
    // the tombstone write as `Dataset.observe` metrics (the fused
    // commit discipline of VersionedCorpus.stageWrite), so
    // the whole delete is one doclens pass + one 1-row stats write —
    // no persist, no separate read-back aggregate.
    val dls = liveDoclens(spark, live)
      .join(broadcast(idsDf), Seq("doc_id"), "left_semi")
    val staging = root.resolve("_staging")
      .resolve(java.util.UUID.randomUUID().toString)
    java.nio.file.Files.createDirectories(staging)
    val obs = new org.apache.spark.sql.Observation(
      "graft_tix_del_" + java.util.UUID.randomUUID())
    dls.observe(obs, count(lit(1)).as("n"), sum(col("dl")).as("toks"),
        count(col("dl")).as("nd"))
      .select(col("doc_id"))
      .write.mode("overwrite").parquet(staging.resolve("deletes").toString)
    val m = obs.get
    val removed = m("n").asInstanceOf[java.lang.Number].longValue()
    if (removed == 0L) {
      org.apache.commons.io.FileUtils.deleteDirectory(staging.toFile)
      return 0L
    }
    val toks = m("toks") match {
      case null                 => 0L
      case v: java.lang.Number  => v.doubleValue().toLong
    }
    val nd = m("nd").asInstanceOf[java.lang.Number].longValue()
    writeStatsJson(staging, -removed, -toks, -nd)
    claimBatch(indexDir, staging)
    removed
  }

  /** The CURRENT (doc_id, dl) relation: latest doclens row per doc,
    * killed by any later tombstone. The merge-on-read rule in one
    * plan. */
  private def liveDoclens(spark: SparkSession,
                          live: Seq[java.nio.file.Path]): DataFrame = {
    val dataB = live.filter(b =>
      java.nio.file.Files.isDirectory(b.resolve("doclens")))
    require(dataB.nonEmpty, "index has no doclens sidecars (built by a " +
      "pre-delete version?) — rebuild to enable deletes")
    val all = dataB.map(b =>
      spark.read.parquet(b.resolve("doclens").toString)
        .withColumn("_b", lit(batchId(b))))
      .reduce(_ unionByName _)
    val latest = all
      .groupBy(col("doc_id"))
      .agg(max(struct(col("_b"), col("dl"))).as("_top"))
      .select(col("doc_id"), col("_top._b").as("_b"), col("_top.dl").as("dl"))
    applyTombstones(spark, live, latest)
  }

  /** Kill rows whose doc has a tombstone in a LATER batch than the
    * row's own `_b` column. No tombstones → the input plan unchanged.
    *
    * BOUNDED tombstone sets fold driver-side (r20, the VersionedCorpus
    * snapshot discipline): tombstone files are metadata-scale sidecars
    * — when their total bytes clear [[localTombBytes]] the driver reads
    * the key sets directly (zero jobs) and the kill rule becomes a
    * static predicate (≤ the IN-list budget) or a LocalRelation
    * anti-join (whose broadcast builds job-free), instead of a
    * broadcast built from a distributed scan that pays one
    * scheduler-floor job PER QUERY over the index. Big tombstone
    * backlogs (and non-numeric key columns, which the long-typed fold
    * would drop) keep the distributed broadcast join — and [[optimize]]
    * retires them entirely. Semantics identical in all three forms:
    * a row dies iff some tombstone batch LATER than its own holds its
    * key (null keys never match). */
  private val localTombBytes = 4L << 20
  private val tombInListBudget = 1000
  private def applyTombstones(spark: SparkSession,
                              live: Seq[java.nio.file.Path],
                              rows: DataFrame): DataFrame = {
    val tombB = live.filter(b =>
      java.nio.file.Files.isDirectory(b.resolve("deletes")))
    if (tombB.isEmpty) return rows
    val tombFiles = tombB.map(b =>
      graft.sources.LocalParquet.listParquet(b.resolve("deletes")))
    val totalBytes = tombFiles.flatten
      .map(java.nio.file.Files.size(_)).sum
    if (tombFiles.forall(_.nonEmpty) && totalBytes <= localTombBytes) {
      val perBatch = tombB.zip(tombFiles).map { case (b, fs) =>
        graft.sources.LocalParquet.readKeys(fs, "doc_id")
          .filter(_.forall(_.isInstanceOf[java.lang.Number]))
          .map(ks => batchId(b) ->
            ks.collect { case n: java.lang.Number => n.longValue() })
      }
      if (perBatch.forall(_.isDefined)) {
        // max tombstone batch per key, driver-side — the join's
        // aggregate, folded here
        val tmax = new scala.collection.mutable.HashMap[Long, Long]()
        perBatch.flatten.foreach { case (db, ks) =>
          ks.foreach(k => if (tmax.getOrElse(k, Long.MinValue) < db)
            tmax(k) = db)
        }
        if (tmax.isEmpty) return rows
        if (tmax.size <= tombInListBudget) {
          // static predicate: no join operator, no broadcast build job
          val kill = tmax.groupBy(_._2).toSeq.sortBy(_._1)
            .map { case (db, ks) =>
              col("_b") < lit(db) &&
                col("doc_id").isin(ks.keys.toSeq: _*)
            }.reduce(_ || _)
          return rows.filter(!coalesce(kill, lit(false)))
        }
        // LocalRelation anti-join: broadcast builds driver-side, no job
        val local = spark.createDataFrame(
          java.util.Arrays.asList(tmax.toSeq.map { case (k, db) =>
            org.apache.spark.sql.Row(k, db)
          }: _*),
          new org.apache.spark.sql.types.StructType()
            .add("_del_id", "long").add("_del_b", "long"))
        return rows.join(broadcast(local),
          rows("doc_id") === col("_del_id") && col("_del_b") > rows("_b"),
          "left_anti")
      }
    }
    val tombs = tombB.map(b =>
      spark.read.parquet(b.resolve("deletes").toString)
        .withColumn("_del_b", lit(batchId(b))))
      .reduce(_ unionByName _)
      .groupBy(col("doc_id")).agg(max(col("_del_b")).as("_del_b"))
    rows.join(broadcast(tombs.withColumnRenamed("doc_id", "_del_id")),
        rows("doc_id") === col("_del_id") && col("_del_b") > rows("_b"),
        "left_anti")
  }

  private def claimBatch(indexDir: String,
                         staging: java.nio.file.Path): Long = {
    val root = java.nio.file.Paths.get(indexDir)
    var b = allBatchDirs(indexDir).lastOption.map(batchId(_) + 1)
      .getOrElse(0L)
    var attempts = 0
    while (true) {
      try {
        java.nio.file.Files.move(staging, root.resolve(s"batch=$b"),
          java.nio.file.StandardCopyOption.ATOMIC_MOVE)
        return b
      } catch {
        case e: java.nio.file.FileSystemException =>
          if (!java.nio.file.Files.isDirectory(staging)) throw e
          attempts += 1
          require(attempts < 1000,
            s"could not claim a batch id under $indexDir: ${e.getMessage}")
          b += 1
      }
    }
    -1L // unreachable
  }

  /** BIN-PACK the live batches into one (the maintenance valve a
    * streamed index needs: every micro-batch leaves up to `shards`
    * tiny parquet files, so a T-term query over B batches opens
    * O(T·B) files — packing collapses that to O(T)). Content-neutral:
    * postings are unioned and rewritten one file per shard, stats rows
    * are carried over, and the pack inherits the replaced batches'
    * idempotency tokens (streaming replays stay guarded after their
    * original dirs are vacuumed). Atomic: the pack stages with a
    * `_replaces.txt` naming the batches it retires, so its one rename
    * publishes the pack AND retires the originals together; a crash
    * before it leaves staging garbage only. Originals stay on disk —
    * reclaimable garbage — until [[vacuumPacked]]. Returns the pack's
    * batch id, or None when fewer than two live batches exist. */
  def optimize(spark: SparkSession, indexDir: String): Option[Long] = {
    val live = batchDirs(indexDir)
    if (live.size < 2) return None
    val root = java.nio.file.Paths.get(indexDir)
    val staging = root.resolve("_staging")
      .resolve(java.util.UUID.randomUUID().toString)
    java.nio.file.Files.createDirectories(staging)
    // surviving postings: tombstones applied PHYSICALLY (the pack is
    // where merge-on-read becomes copy-on-write, same trade as the
    // corpus store's compact)
    val dataB = live.filter(b =>
      java.nio.file.Files.isDirectory(b.resolve("postings")))
    val post = applyTombstones(spark, live,
      dataB.map(b => spark.read.parquet(b.resolve("postings").toString)
          .withColumn("_b", lit(batchId(b))))
        .reduce(_ unionByName _)).drop("_b")
    // one task per shard → one packed file per shard (a deployment
    // whose single-shard postings outgrow one file would raise the
    // shard count at build time — the knob is the same)
    post.repartition(col("shard"))
      .write.partitionBy("shard").mode("overwrite")
      .parquet(staging.resolve("postings").toString)
    liveDoclens(spark, live).drop("_b")
      .write.mode("overwrite").parquet(staging.resolve("doclens").toString)
    // stats collapse to ONE corrected sidecar (delete batches
    // contributed negatives; their tombstones are now applied, so the
    // pack's row IS the surviving corpus's accounting) — the same
    // driver-side sum every query already does, written back as the
    // pack's `_stats.json`
    val (pn, pt, pw) = live.foldLeft((0L, 0L, 0L)) { case ((a, b2, c), d) =>
      val (n, t, w) = readStatsJson(d).getOrElse {
        val r = spark.read.parquet(d.resolve("stats").toString)
          .agg(sum(col("n_docs")), sum(col("total_tokens")),
            sum(col("n_with_dl"))).head()
        (r.getLong(0), r.getLong(1), r.getLong(2))
      }
      (a + n, b2 + t, c + w)
    }
    writeStatsJson(staging, pn, pt, pw)
    val tokens = live.flatMap(tokensOf)
    if (tokens.nonEmpty)
      java.nio.file.Files.write(staging.resolve("_token.txt"),
        tokens.mkString("\n").getBytes(java.nio.charset.StandardCharsets.UTF_8))
    java.nio.file.Files.write(staging.resolve("_replaces.txt"),
      live.map(batchId).mkString(",")
        .getBytes(java.nio.charset.StandardCharsets.UTF_8))
    Some(claimBatch(indexDir, staging))
  }

  /** Reclaim the data of batches retired by committed [[optimize]]
    * packs. Deletion order matters for crash safety: a pack's
    * `_replaces.txt` is what keeps its retired batches invisible, so
    * plain batches are deleted BEFORE any pack that names them — a
    * crash mid-vacuum can leave garbage, never resurrect a retired
    * batch into the read set. */
  def vacuumPacked(indexDir: String): Unit = {
    val all = allBatchDirs(indexDir)
    val retired = all.flatMap(replacesOf).toSet
    val (dead, deadPacks) = all.filter(d => retired(batchId(d)))
      .partition(d => replacesOf(d).isEmpty)
    dead.foreach(d =>
      org.apache.commons.io.FileUtils.deleteDirectory(d.toFile))
    // a retired pack may only go once everything IT retired is gone
    var remaining = deadPacks
    var progressed = true
    while (progressed && remaining.nonEmpty) {
      progressed = false
      val onDisk = allBatchDirs(indexDir).map(batchId).toSet
      val (ready, blocked) =
        remaining.partition(p => replacesOf(p).forall(!onDisk(_)))
      ready.foreach { p =>
        org.apache.commons.io.FileUtils.deleteDirectory(p.toFile)
        progressed = true
      }
      remaining = blocked
    }
  }

  /** Live (unretired) batch count — the maintenance trigger a
    * long-running ingestion loop polls. Driver-side directory listing. */
  def liveBatches(indexDir: String): Int = batchDirs(indexDir).size

  /** Remove staging garbage left by crashed appends (same retention
    * caveat as [[graft.sources.VersionedCorpus.cleanStaging]]: only
    * run when no appender is active). */
  def cleanStaging(indexDir: String): Unit = {
    val p = java.nio.file.Paths.get(indexDir, "_staging")
    if (java.nio.file.Files.isDirectory(p))
      org.apache.commons.io.FileUtils.deleteDirectory(p.toFile)
  }
}
