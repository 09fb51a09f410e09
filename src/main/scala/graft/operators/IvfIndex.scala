package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._

import graft.functions.VectorFunctions._

/** Batch IVF (inverted-file) index build + probe as pure DataFrame ops
  * (SURVEY.md §2 B5/B6; mandated "batch index build via DataFrame ops").
  *
  * Build = Lloyd's k-means with exactly ONE exchange per iteration:
  *   assign: a ZERO-SHUFFLE projection — the (small: k·d doubles)
  *           centroid set is embedded as a constant array in the plan
  *           (the Column-expression equivalent of a broadcast variable)
  *           and each row folds over it keeping the `(dist, cluster)`
  *           lexicographic min via the native codegen'd
  *           [[graft.expressions.L2Distance]]. No crossJoin, no
  *           `groupBy(_id)` re-aggregation — earlier rounds shuffled one
  *           row per corpus id here, tens of TB per iteration at 10^12
  *           rows;
  *   update: posexplode the assigned vectors → per-(cluster, dim)
  *           partial sums (map-side combinable, so the exchange carries
  *           one partial per (cluster, dim) per task, never vectors) →
  *           the k·d sum rows are collected and averaged DRIVER-side —
  *           no second aggregation stage, no `vecs ⋈ assignments`
  *           re-join (that join was the second corpus-wide shuffle per
  *           iteration in the round-3 shape).
  *
  * Centroids live on the driver between iterations (k·d doubles — for
  * IVF, k ~ √N, e.g. 10^4 × 10^3 dims = 80 MB at the extreme end, well
  * within driver headroom; a k beyond plan-literal comfort wants a
  * two-level/hierarchical index, not a bigger flat k-means).
  *
  * Probe = nearest `nprobe` centroids for the query (tiny, broadcast), then
  * an exact re-rank restricted to those clusters. At scale the assignment
  * table is written partitioned/bucketed BY cluster_id so the semi-join
  * becomes partition pruning — only nprobe/k of the corpus is read.
  *
  * Determinism: centroid init is the k smallest-id vectors (fixed, seedless);
  * float means vary in last-ulp across partitionings, so IVF results are
  * validated by invariant/recall tests, not the byte-exact oracle
  * (SURVEY.md §7.3 "Iterative algorithms").
  */
object IvfIndex {

  /** (assignments: idCol, cluster_id; centroids: cluster_id, centroid) */
  def build(corpus: DataFrame, idCol: String, vecCol: String,
            k: Int, iters: Int): (DataFrame, DataFrame) = {
    require(iters >= 1, "k-means needs at least one assign/update iteration")
    // each Lloyd iteration re-reads the vectors once (the fused
    // assign-projection + update-agg); persist once instead of
    // re-scanning the source `iters` times. At cluster scale this is the
    // standard iterate-over-cached-working-set pattern (MEMORY_AND_DISK
    // spills gracefully if the corpus outgrows executor memory).
    // Released before returning — the results are materialized first so
    // the lineage never re-reads the cache.
    val vecs = corpus.select(col(idCol).as("_id"),
      transform(col(vecCol), _.cast("double")).as("_v"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)

    // deterministic init: the k smallest-id vectors, cluster ids assigned
    // DRIVER-SIDE over the k collected rows — a row_number() over a
    // partition-less window here would (a) warn "No Partition Defined"
    // and (b) funnel the frame through one task; k rows are driver work.
    // The collect doubles as the first materialization of the cached
    // working set.
    val spark = corpus.sparkSession
    val initRows = vecs.orderBy("_id").limit(k).collect()
    var cents: IndexedSeq[(Int, IndexedSeq[Double])] =
      initRows.toIndexedSeq.zipWithIndex.map { case (r, i) =>
        (i, r.getSeq[Double](1).toIndexedSeq)
      }

    for (_ <- 0 until iters) {
      // the iteration's ONE distributed job and ONE exchange: partial
      // (cluster, dim) sums. k·d tiny rows come back to the driver,
      // where the mean + empty-cluster retention is plain arithmetic.
      val sums = withCluster(vecs, cents)
        .select(col("cluster_id"), posexplode(col("_v")).as(Seq("dim", "x")))
        .groupBy(col("cluster_id"), col("dim"))
        .agg(sum(col("x")).as("sx"), count(lit(1)).as("n"))
        .collect()
      // a null cluster_id is the native assignment's ragged signal (a
      // vector whose length matches no centroid) — fail loudly here,
      // not with an opaque NPE in the grouping below
      require(!sums.exists(_.isNullAt(0)),
        "ragged corpus: some vector's length matches no centroid — " +
          "vector lengths must be uniform across the corpus")
      val byCluster = sums.groupBy(_.getInt(0))
      cents = cents.map { case (cid, prev) =>
        byCluster.get(cid) match {
          case Some(rows) =>
            // a non-empty cluster yields one row per dimension; a dim
            // beyond the seed-centroid length means the corpus is RAGGED
            // (some vector longer than the k seed vectors) — fail loudly
            // rather than silently truncate the centroid (the companion
            // hazard: L2Distance returns NULL on mismatched lengths, so
            // ragged rows would otherwise be assigned via null-first
            // ordering, not an error)
            val m = new Array[Double](prev.length)
            rows.foreach { r =>
              val d = r.getInt(1)
              require(d < m.length,
                s"ragged corpus: cluster $cid saw dimension $d but " +
                  s"centroids have ${m.length} dims — vector lengths " +
                  "must be uniform across the corpus")
              m(d) = r.getDouble(2) / r.getLong(3)
            }
            (cid, m.toIndexedSeq)
          // a cluster that received zero assignments keeps its PREVIOUS
          // centroid so the centroid set never silently shrinks below k
          // — probes assume `nprobe <= k` surviving clusters
          case None => (cid, prev)
        }
      }
    }

    // final assignments under the converged centroids: the same
    // zero-shuffle projection, persisted so callers can reuse it without
    // recomputation, materialized BEFORE the working set is released so
    // the lineage never re-reads the dropped cache.
    val outAssign = withCluster(vecs, cents)
      .select(col("_id").as(idCol), col("cluster_id"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    outAssign.count()
    vecs.unpersist()
    // centroids are k driver-side rows — a LocalRelation, no cache to
    // manage (callers' unpersist() remains a harmless no-op)
    val outCents = spark.createDataFrame(
      java.util.Arrays.asList(cents.map { case (cid, c) =>
        Row(cid, c): Row
      }: _*), centroidSchema)
    (outAssign, outCents)
  }

  private val centroidSchema = org.apache.spark.sql.types.StructType(Seq(
    org.apache.spark.sql.types.StructField("cluster_id",
      org.apache.spark.sql.types.IntegerType, nullable = false),
    org.apache.spark.sql.types.StructField("centroid",
      org.apache.spark.sql.types.ArrayType(
        org.apache.spark.sql.types.DoubleType), nullable = false)))

  /** The whole (cluster_id, centroid) set as ONE Catalyst literal of
    * array<struct<_1:int,_2:array<double>>> — `typedlit` keeps the plan
    * at a single expression node regardless of k·d, where the earlier
    * per-element `array(struct(lit…))` tree carried k·d literal nodes
    * and paid seconds of analysis/codegen per build step at k ≈ √n. */
  private def centLit(cents: IndexedSeq[(Int, IndexedSeq[Double])]): Column =
    typedlit(cents.map { case (cid, c) => (cid, c.toSeq) }.toSeq)

  /** Zero-shuffle nearest-centroid assignment: `cluster_id` is a pure
    * projected column — the native codegen'd
    * [[graft.expressions.NearestCentroid]] argmin over the plan-constant
    * centroid matrix (one compiled k·d loop per row, inside whole-stage
    * codegen), with the returned position mapped back to the cluster id
    * through a tiny sorted-cid literal. Centroids are sorted by cid
    * first, so equal distances resolve to the smallest cluster id —
    * the exact tie rule of the historical `min(struct(dist, cid))`
    * fold, which survives as [[withClusterHof]] for the parity spec.
    * A vector matching no centroid's length gets a NULL cluster_id
    * (callers that allow ragged input fail loudly downstream —
    * [[build]]'s ragged-corpus error). */
  private[graft] def withCluster(vecs: DataFrame,
                          cents: IndexedSeq[(Int, IndexedSeq[Double])]): DataFrame = {
    import org.apache.spark.sql.graftshim.Bridge
    val sorted = cents.sortBy(_._1)
    val matrix = sorted.map(_._2.toArray).toArray
    val cids = sorted.map(_._1)
    val pos = Bridge.column(graft.expressions.NearestCentroid(
      Bridge.expression(col("_v")), matrix))
    // explicit null guard: element_at(lit, NULL) was observed to yield
    // the array element type's zero value rather than NULL on this
    // Spark build — the when() keeps the ragged-input signal a real
    // NULL instead of a phantom cluster 0
    vecs.withColumn("cluster_id",
      when(pos.isNotNull, element_at(typedlit(cids), pos + 1)))
  }

  /** The historical higher-order-function formulation of [[withCluster]]
    * — a fold over the constant centroid array keeping the lexicographic
    * `(dist, cluster_id)` minimum. Kept as the assignment's arithmetic
    * spec: interpreted (aggregate is CodegenFallback), so the native
    * expression carries the hot path; equivalence asserted in
    * IvfIndexSpec. */
  private[graft] def withClusterHof(vecs: DataFrame,
                          cents: IndexedSeq[(Int, IndexedSeq[Double])]): DataFrame = {
    val centArr = centLit(cents)
    val best = aggregate(centArr,
      struct(lit(Double.PositiveInfinity).as("dist"), lit(Int.MaxValue).as("cid")),
      (acc, e) => least(acc,
        struct(l2Dist(col("_v"), e.getField("_2")).as("dist"),
          e.getField("_1").as("cid"))))
    vecs.withColumn("cluster_id", best.getField("cid"))
  }

  /** Materialize the indexed corpus as a parquet table PARTITIONED BY
    * cluster_id — the at-scale layout: a probe that touches `nprobe` of
    * `k` clusters reads `nprobe/k` of the data via partition pruning,
    * no index structure beyond the directory layout. The pre-write
    * `repartition(cluster_id)` co-locates each cluster in one task so
    * the table lands as ONE file per cluster — without it every write
    * task holding rows of c clusters opens c files (tasks × clusters
    * files total, and the committer pays per file). */
  def writePartitioned(corpus: DataFrame, idCol: String,
                       assignments: DataFrame, path: String): Unit =
    corpus.join(assignments, idCol)
      .repartition(col("cluster_id"))
      .write.partitionBy("cluster_id").mode("overwrite").parquet(path)

  /** Assign a batch of vectors to an EXISTING centroid set — the
    * ingestion-side maintenance step for a [[writePartitioned]] index:
    * admitted vectors are slotted into the index's current cells with
    * the same zero-shuffle projection-argmin as the build's assign step
    * ([[withCluster]] — the k·d centroid constants live in the plan, no
    * join, no exchange), so appending a day's admissions costs one scan
    * of the BATCH, never a touch of the indexed corpus. Returns
    * (idCol, cluster_id).
    *
    * Centroids drift as data accumulates; the public IVF maintenance
    * recipe applies — append against frozen centroids, monitor the
    * recall row, re-run [[build]] when quality decays (the rebuild is
    * the same one-exchange-per-iteration job, amortized across every
    * batch appended since). */
  def assignTo(batch: DataFrame, idCol: String, vecCol: String,
               centroids: DataFrame): DataFrame = {
    val cents = centroids.select(col("cluster_id"), col("centroid")).collect()
      .toIndexedSeq.map(r => (r.getInt(0), r.getSeq[Double](1).toIndexedSeq))
    withCluster(batch.select(col(idCol).as("_id"),
      transform(col(vecCol), _.cast("double")).as("_v")), cents)
      .select(col("_id").as(idCol), col("cluster_id"))
  }

  /** Append an assigned batch into an existing [[writePartitioned]]
    * table: rows land in their clusters' partition directories (only the
    * touched partitions gain files — existing files are never rewritten),
    * so probes see the union immediately and partition pruning keeps
    * working. Pair with [[assignTo]] for the assignments. */
  def appendPartitioned(batch: DataFrame, idCol: String,
                        assignments: DataFrame, path: String): Unit =
    batch.join(assignments, idCol)
      .repartition(col("cluster_id"))
      .write.partitionBy("cluster_id").mode("append").parquet(path)

  /** DELETE vectors from a [[writePartitioned]] index (the GDPR
    * maintenance leg of the vector tier, mirroring the corpus store's
    * and text index's tombstone discipline): one atomic tombstone
    * commit (staged id-only parquet, renamed into `_tombstones/` —
    * underscore-prefixed, so partition discovery never sees it),
    * nothing rewritten. Probes anti-join the broadcast tombstone set;
    * [[applyTombstonesPartitioned]] removes the rows physically,
    * rewriting ONLY the partitions that actually hold tombstoned ids.
    * A tombstoned id stays dead until physically applied — the index
    * has no batch ordering; re-ingestion of a deleted id is the corpus
    * store's resurrection story, repaired into the index by
    * apply-then-[[reconcilePartitioned]]. */
  def deletePartitioned(spark: org.apache.spark.sql.SparkSession,
                        path: String, idCol: String,
                        ids: DataFrame, idsDistinct: Boolean = false): Unit = {
    val staging = java.nio.file.Paths.get(path, "_tomb_staging",
      java.util.UUID.randomUUID().toString)
    java.nio.file.Files.createDirectories(staging.getParent)
    // idsDistinct: same size-only dedup contract as VersionedCorpus
    // .delete — duplicate tombstone ids are read-side harmless
    val sel = ids.select(ids.columns.head)
      .select(col(ids.columns.head).cast("long").as(idCol))
    val selD = if (idsDistinct) sel else sel.distinct()
    // a DRIVER-HELD id set (the optimizer folded the frame to a
    // LocalRelation — the erasure-request shape) commits its
    // metadata-scale tombstone file driver-side: collect is a job-free
    // LocalTableScan and the write is one small parquet sidecar (r20 —
    // no scheduler-floor Spark job to persist keys the driver already
    // holds). Distributed id sets keep the staged Spark write.
    val localRows =
      if (selD.queryExecution.optimizedPlan
          .isInstanceOf[org.apache.spark.sql.catalyst.plans.logical.LocalRelation])
        Some(selD.collect())
      else None
    localRows match {
      case Some(rows) =>
        java.nio.file.Files.createDirectories(staging)
        graft.sources.LocalParquet.writeKeys(
          staging.resolve("part-00000-local.parquet"), idCol,
          rows.toSeq.filterNot(_.isNullAt(0)).map(_.getLong(0)),
          string = false)
      case None =>
        selD.write.mode("overwrite").parquet(staging.toString)
    }
    val dir = java.nio.file.Paths.get(path, "_tombstones")
    java.nio.file.Files.createDirectories(dir)
    java.nio.file.Files.move(staging,
      dir.resolve(java.util.UUID.randomUUID().toString),
      java.nio.file.StandardCopyOption.ATOMIC_MOVE)
  }

  /** The live tombstone set, or None when the index has none (keeps
    * the no-delete probe plan byte-identical). */
  private[graft] def tombstones(spark: org.apache.spark.sql.SparkSession,
                                path: String,
                                idCol: String): Option[DataFrame] = {
    val dir = java.nio.file.Paths.get(path, "_tombstones")
    if (!java.nio.file.Files.isDirectory(dir)) return None
    val subs = {
      val s = java.nio.file.Files.list(dir)
      try {
        val out = scala.collection.mutable.ArrayBuffer[String]()
        s.forEach(p => out += p.toString)
        out.toSeq
      } finally s.close()
    }
    if (subs.isEmpty) None
    else {
      // BOUNDED tombstone sets read driver-side (r20): the sidecars are
      // metadata-scale, so under 4 MB the ids fold into a LocalRelation
      // whose downstream broadcast builds with NO job — where the
      // distributed distinct paid a scheduler-floor job per probe over
      // a tombstoned index. Bigger backlogs, an unreadable file, or a
      // non-numeric id column (which the long-typed fold would drop)
      // keep the distributed read; applyTombstonesPartitioned retires
      // them either way. Result identity: same distinct id set, and
      // the consumer joins are null-safe equi-joins.
      val files = subs.flatMap(d =>
        graft.sources.LocalParquet.listParquet(java.nio.file.Paths.get(d)))
      val totalBytes = files.map(java.nio.file.Files.size(_)).sum
      val local =
        if (files.nonEmpty && totalBytes <= (4L << 20))
          graft.sources.LocalParquet.readKeys(files, idCol)
            .filter(_.forall(_.isInstanceOf[java.lang.Number]))
        else None
      local match {
        case Some(ks) =>
          val ids = ks.collect { case n: java.lang.Number => n.longValue() }
            .distinct
          Some(spark.createDataFrame(
            java.util.Arrays.asList(ids.map(org.apache.spark.sql.Row(_)): _*),
            new org.apache.spark.sql.types.StructType().add(idCol, "long")))
        case None =>
          Some(spark.read.parquet(subs: _*).select(col(idCol)).distinct())
      }
    }
  }

  /** Drop tombstoned rows where the kept plan would have them. */
  private def minusTombstones(idx: DataFrame, spark: org.apache.spark.sql.SparkSession,
                              path: String, idCol: String): DataFrame =
    tombstones(spark, path, idCol) match {
      case None    => idx
      case Some(t) => idx.join(broadcast(t), Seq(idCol), "left_anti")
    }

  /** Apply the tombstones physically: ONE id+cluster projection scan
    * finds the touched partitions, and only those are rewritten
    * (dynamic partition overwrite — untouched clusters' files are
    * never opened for the rewrite). Clears the tombstone set. */
  def applyTombstonesPartitioned(spark: org.apache.spark.sql.SparkSession,
                                 path: String, idCol: String): Long = {
    val tomb = tombstones(spark, path, idCol).getOrElse(return 0L)
    val idx = spark.read.parquet(path)
    val touched = idx.select(col(idCol), col("cluster_id"))
      .join(broadcast(tomb), Seq(idCol), "left_semi")
      .select(col("cluster_id")).distinct()
      .collect().map(_.getInt(0))
    if (touched.nonEmpty) {
      val survivors = idx
        .filter(col("cluster_id").isin(touched.map(Integer.valueOf): _*))
        .join(broadcast(tomb), Seq(idCol), "left_anti")
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      try {
        val kept = survivors.select(col("cluster_id")).distinct()
          .collect().map(_.getInt(0)).toSet
        // dynamic overwrite is a per-write option: a static overwrite
        // here would delete every partition, not just the touched ones
        survivors.repartition(col("cluster_id"))
          .write.partitionBy("cluster_id").mode("overwrite")
          .option("partitionOverwriteMode", "dynamic").parquet(path)
        // a cluster whose every row was tombstoned writes no survivors,
        // so dynamic overwrite never visits its directory — drop it
        touched.filterNot(kept).foreach { c =>
          val d = java.nio.file.Paths.get(path, s"cluster_id=$c")
          if (java.nio.file.Files.isDirectory(d))
            org.apache.commons.io.FileUtils.deleteDirectory(d.toFile)
        }
      } finally survivors.unpersist()
    }
    org.apache.commons.io.FileUtils.deleteDirectory(
      java.nio.file.Paths.get(path, "_tombstones").toFile)
    touched.length.toLong
  }

  /** Repair the partitioned index against the corpus table it mirrors:
    * corpus rows whose ids are absent from the index are assigned to the
    * EXISTING centroids and appended. This is the recovery path for the
    * durable ingestion loop's commit gap — a process that dies after the
    * corpus generation commits but before the index append leaves the
    * index behind the corpus; one reconcile pass (an id-only anti-join,
    * the index contributes just its id column) catches it up, and
    * running it again is a no-op. Returns the number of repaired rows. */
  def reconcilePartitioned(corpus: DataFrame, idCol: String, vecCol: String,
                           centroids: DataFrame, path: String): Long = {
    val indexedIds =
      corpus.sparkSession.read.parquet(path).select(col(idCol))
    val missing = corpus.join(indexedIds, Seq(idCol), "left_anti")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val n = missing.count()
      if (n > 0L)
        appendPartitioned(missing, idCol,
          assignTo(missing, idCol, vecCol, centroids), path)
      n
    } finally missing.unpersist()
  }

  /** The whole-dial calibration measurement in ONE distributed job:
    * per-(query, cluster) top-`k` over the partitioned index, tagged
    * with each cluster's RANK in that query's centroid-distance
    * ordering (computed driver-side — k tiny rows). Because every
    * vector lives in exactly one cluster, the global top-k under
    * "cluster rank < nprobe" is always contained in the per-cluster
    * top-k rows — so the driver can evaluate recall@k for EVERY nprobe
    * (including nprobe = k, which IS the exact brute-force answer) from
    * this single result, instead of one probe job per ladder step.
    * Scoring and tie-breaks ((round(sim,4)) desc, id asc) replicate
    * [[probePartitioned]] exactly, so a calibrated promise holds for
    * the declared probes. Returns (qid, clusterRank, id, sim) rows —
    * ≤ queries × k × `k` of them. */
  def calibrationTopK(spark: org.apache.spark.sql.SparkSession, path: String,
                      idCol: String, vecCol: String,
                      cents: IndexedSeq[(Int, IndexedSeq[Double])],
                      queries: Seq[(Long, Seq[Double])], k: Int,
                      score: (Column, Column) => Column = dot)
      : Array[(Long, Int, Long, Double)] =
    calibrationTopKOf(
      minusTombstones(spark.read.parquet(path), spark, path, idCol),
      idCol, vecCol, cents, queries, k, score)

  /** [[calibrationTopK]] over an ALREADY-ASSIGNED relation
    * (idCol, vecCol, cluster_id) instead of the written table — the
    * build-time fast path: right after k-means the assigned working set
    * is still cached, so calibrating from it skips re-opening the k
    * freshly-written partition files (k footer reads + k scan tasks the
    * measurement doesn't need). Result-identical to the path form by
    * construction — same rows, same scoring, same tie-breaks. */
  def calibrationTopKOf(idx: DataFrame,
                        idCol: String, vecCol: String,
                        cents: IndexedSeq[(Int, IndexedSeq[Double])],
                        queries: Seq[(Long, Seq[Double])], k: Int,
                        score: (Column, Column) => Column = dot)
      : Array[(Long, Int, Long, Double)] = {
    val spark = idx.sparkSession
    // per-query cluster ranking, driver-side (same (dist, cid) order as
    // probePartitioned's centroid sort)
    def l2(a: Seq[Double], b: Seq[Double]): Double =
      math.sqrt(a.zip(b).map { case (x, y) => (x - y) * (x - y) }.sum)
    val ranks = queries.flatMap { case (qid, q) =>
      cents.sortBy { case (cid, c) => (l2(c, q), cid) }
        .zipWithIndex.map { case ((cid, _), r) => (qid, cid, r) }
    }
    import spark.implicits._
    val qdf = queries.toDF("qid", "qvec")
    val rdf = ranks.toDF("qid", "cluster_id", "crank")
    val scored = idx
      .crossJoin(broadcast(qdf))
      .select(col("qid"), col("cluster_id"),
        col(idCol).cast("long").as("_cid_id"),
        round(score(col(vecCol), col("qvec")), 4).as("sim"))
      .filter(col("sim").isNotNull)
    val topk = udaf(new graft.functions.TopKAggregator(k))
    scored.groupBy(col("qid"), col("cluster_id"))
      .agg(topk(col("sim"), col("_cid_id")).as("top"))
      .join(broadcast(rdf), Seq("qid", "cluster_id"))
      .select(col("qid"), col("crank"), explode(col("top")).as("hit"))
      .collect().map(r => (r.getLong(0), r.getInt(1),
        r.getStruct(2).getLong(1), r.getStruct(2).getDouble(0)))
  }

  /** Probe against a [[writePartitioned]] layout: the `cluster_id IN (…)`
    * filter prunes partitions at planning time, so only the probed
    * clusters' files are ever opened. */
  def probePartitioned(spark: org.apache.spark.sql.SparkSession, path: String,
                       idCol: String, vecCol: String, centroids: DataFrame,
                       q: Seq[Double], k: Int, nprobe: Int,
                       score: (Column, Column) => Column = dot): DataFrame = {
    val qlit = vecLit(q)
    // centroids are tiny (k rows) — resolving the probe set locally is a
    // driver-side O(k·d) computation, not a distributed job worth running
    val near = centroids
      .orderBy(l2Dist(col("centroid"), qlit).asc, col("cluster_id").asc)
      .limit(nprobe).select("cluster_id")
      .collect().map(_.getInt(0))
    minusTombstones(spark.read.parquet(path)
        .filter(col("cluster_id").isin(near.toIndexedSeq: _*)),
        spark, path, idCol)
      .withColumn("sim", round(score(col(vecCol), qlit), 4))
      // undefined similarity (zero-norm → null score) is not a neighbor
      // — the engine-wide rule (Search.knnJoin, probeMany); without it a
      // sparse probed cluster could admit null-sim rows under k and
      // break the probeMany ≡ probePartitioned equivalence
      .filter(col("sim").isNotNull)
      .orderBy(desc("sim"), asc(idCol))
      .limit(k)
  }

  /** BATCHED multi-query probe against a [[writePartitioned]] layout —
    * the shape for "embed a stream of queries, answer them all through
    * the index in one job" (vs one driver round-trip per query):
    *
    *   - each query row computes its `nprobe` nearest centroids as a
    *     PURE PROJECTION over the plan-constant centroid array (same
    *     zero-shuffle discipline as [[withCluster]]; `array_sort` on
    *     (dist, cid) structs reproduces [[probePartitioned]]'s
    *     dist-then-id ordering exactly), exploded to (query, cluster_id)
    *     rows;
    *   - the UNION of all probed clusters (≤ k distinct ints, resolved
    *     by one query-relation-sized job) becomes a STATIC
    *     `cluster_id IN (…)` partition filter on the index scan — only
    *     probed clusters' files are opened (asserted in IvfIndexSpec;
    *     Spark's dynamic partition pruning does NOT fire here because
    *     the probe side carries no selective predicate, so the static
    *     filter is what delivers the pruning) — and the (small)
    *     exploded query relation is broadcast into an equi-join with
    *     that pruned scan; the corpus side never shuffles;
    *   - per-query top-k via the map-side bounded
    *     [[graft.functions.TopKAggregator]] (each map task emits ≤ k
    *     rows per query BEFORE the exchange — the same 100 TB shape as
    *     `Search.knnJoinAgg`).
    *
    * Returns (qid, idCol, sim, rank) — the id rides through the bounded
    * top-k aggregator as LONG (the aggregator is monomorphic over
    * (sim, long-id) pairs, so `idCol` must be an integral column —
    * checked with an explicit require; a string id fails loudly here and
    * [[probePartitioned]] is the type-agnostic alternative), then the
    * final projection casts it BACK to the index's stored type, so the
    * output schema matches the indexed corpus exactly (a join back to an
    * int-id corpus needs no implicit widening). Per-query results are
    * identical to calling [[probePartitioned]] once per query (asserted
    * in IvfIndexSpec). */
  def probeMany(spark: org.apache.spark.sql.SparkSession, path: String,
                idCol: String, vecCol: String, centroids: DataFrame,
                queries: DataFrame, qIdCol: String, qVecCol: String,
                k: Int, nprobe: Int,
                score: (Column, Column) => Column = dot): DataFrame = {
    // k centroid rows — driver-resolvable by the same contract as build()
    val cents = centroids.select(col("cluster_id"), col("centroid")).collect()
      .toIndexedSeq.map(r => (r.getInt(0), r.getSeq[Double](1).toIndexedSeq))
    val centArr = centLit(cents)
    // two projections, not one: the probe-set expression references the
    // normalized "qvec" alias, and defining + referencing an alias in the
    // same select would be a lateral-alias reference (unsupported under
    // a Generate)
    val base = queries.select(col(qIdCol).as("qid"),
      transform(col(qVecCol), _.cast("double")).as("qvec"))
    val dists = transform(centArr, e =>
      struct(l2Dist(col("qvec"), e.getField("_2")).as("dist"),
        e.getField("_1").as("cid")))
    val probed = base.select(col("qid"), col("qvec"),
      explode(transform(slice(array_sort(dists), 1, nprobe),
        _.getField("cid"))).as("cluster_id"))
    // static partition pruning: the union of probe sets is at most k
    // distinct ids — resolving it driver-side costs one pass over the
    // (small, broadcastable-by-contract) query relation and turns the
    // index scan into `cluster_id IN (…)` partition filtering at
    // planning time
    val probedClusters = probed.select(col("cluster_id"))
      .distinct().collect().map(_.getInt(0))
    val idx = spark.read.parquet(path)
    val idType = idx.schema(idCol).dataType
    require(Seq(org.apache.spark.sql.types.LongType,
        org.apache.spark.sql.types.IntegerType,
        org.apache.spark.sql.types.ShortType,
        org.apache.spark.sql.types.ByteType).contains(idType),
      s"probeMany: id column '$idCol' is $idType — the bounded top-k " +
        "aggregator carries (sim, long-id) pairs, so the id must be " +
        "integral; use probePartitioned for non-integral ids")
    val scored = minusTombstones(idx
        .filter(col("cluster_id").isin(probedClusters.toIndexedSeq: _*)),
        spark, path, idCol)
      .join(broadcast(probed), "cluster_id")
      // explicit widening cast: the aggregator's input encoder is
      // (Double, Long), and relying on implicit up-casts for narrower
      // integral ids is what produced the opaque analysis error
      .select(col("qid"), col(idCol).cast("long").as(idCol),
        round(score(col(vecCol), col("qvec")), 4).as("sim"))
      // undefined similarity (zero-norm → null) is not a neighbor — same
      // rule as Search.knnJoin
      .filter(col("sim").isNotNull)
    val topk = udaf(new graft.functions.TopKAggregator(k))
    scored.groupBy(col("qid"))
      .agg(topk(col("sim"), col(idCol)).as("top"))
      .select(col("qid"), posexplode(col("top")).as(Seq("pos", "hit")))
      // cast back to the index's stored id type: values originated in
      // that column, so the narrowing is lossless by construction
      .select(col("qid"), col("hit._2").cast(idType).as(idCol),
        col("hit._1").as("sim"), (col("pos") + 1).as("rank"))
  }

  /** Index-accelerated top-k: probe `nprobe` nearest clusters, exact
    * re-rank inside them (B6). `assignments`/`centroids` come from
    * [[build]] (or are read back from a bucketed table at scale). */
  def probe(corpus: DataFrame, idCol: String, vecCol: String,
            assignments: DataFrame, centroids: DataFrame,
            q: Seq[Double], k: Int, nprobe: Int,
            score: (Column, Column) => Column = dot): DataFrame = {
    val qlit = vecLit(q)
    val nearClusters = centroids
      .orderBy(l2Dist(col("centroid"), qlit).asc, col("cluster_id").asc)
      .limit(nprobe)
      .select("cluster_id")
    val candidateIds = assignments
      .join(broadcast(nearClusters), "cluster_id")
      .select(col(idCol))
    corpus.join(candidateIds, idCol)
      .withColumn("sim", round(score(col(vecCol), qlit), 4))
      // same null-score rule as probePartitioned/probeMany
      .filter(col("sim").isNotNull)
      .orderBy(desc("sim"), asc(idCol))
      .limit(k)
  }
}
