package graft.sources

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions.{broadcast, col, lit, max, min}

/** INCREMENTAL MATERIALIZED-VIEW MAINTENANCE over a versioned corpus —
  * the change feed's second consumer (after [[VersionedCorpus.replicate]]):
  * keep a grouped-aggregate view of the store current by recomputing
  * ONLY the groups a change window touched, never the whole aggregate.
  * This is the Delta "incremental aggregate via CDF" recipe adapted to
  * a merge-on-read log that stores no preimages:
  *
  *   1. DIRECT dirty groups — the group keys of every inserted/upserted
  *      change row (they're in the feed).
  *   2. PREIMAGE dirty groups — an upserted row may have MOVED between
  *      groups and a delete row carries only its merge key, so the
  *      OLD group of every mutated key is fetched from the PRE-WINDOW
  *      snapshot, read through the manifest-pruned range path
  *      ([[VersionedCorpus.lookupKeyRange]] over the mutated keys'
  *      min..max, then a semi-join) — cost bounded by the generations
  *      whose key bounds overlap the mutation, not the corpus.
  *   3. Recompute the dirty groups from the current snapshot and fold
  *      them into the view with one [[VersionedCorpus.upsert]] (refreshed
  *      groups) + one [[VersionedCorpus.delete]] (groups whose last row
  *      died), then advance the cursor.
  *
  * The view IS a versioned store keyed by the group column — it has its
  * own time travel, its own change feed, and the same crash contract as
  * every feed consumer: a death between the apply and the cursor write
  * replays the window idempotently (re-upsert identical aggregates,
  * re-delete dead groups).
  *
  * Scale note, stated honestly: the dirty-group RECOMPUTE is a scan of
  * the current snapshot semi-joined to the dirty keys — cheap when the
  * store is clustered by the group column ([[VersionedCorpus.compact]]
  * `sortByKey` when the group IS the key; partitioned layouts
  * otherwise), a full scan worst-case when it is not. What the
  * incremental path always avoids is re-AGGREGATING every group and
  * re-WRITING the whole view — on a 100 TB corpus with thousands of
  * groups, a window that touches three groups costs three groups of
  * state, and an untouched view costs nothing.
  */
object IncrementalView {

  /** One maintenance step: fold every source change since the cursor
    * into the grouped view. `aggs` must be deterministic aggregate
    * columns (the refresh recomputes groups from scratch, so any
    * Spark aggregate works — no invertibility requirement, which is
    * what lets count-distinct/max/min live in an incremental view).
    * First call (no cursor) builds the view with one full aggregate.
    * Returns the new cursor.
    *
    * Job economy: the refresh is job-floor-bound at small windows (its
    * cost is #Spark-jobs × scheduler floor, not data volume), so a
    * window of ≤ `fuseLimit` change rows — THE design case; a steady
    * maintenance loop sees one batch per refresh — collects one bounded
    * projection of the feed and derives the direct dirty groups, the
    * mutated keys, and their bounds driver-side: one job where the
    * join formulation pays three (feed materialization, bounds agg,
    * dirty-distinct collect). Windows above the limit keep the join
    * formulation — a backlog replay after downtime shouldn't ship a
    * 100k-row feed through the driver.
    *
    * `groupFromKey` — set it iff the group column is a PURE FUNCTION of
    * the merge key for every row ever committed (the day-partition /
    * hash-shard ingestion shapes: `day = ts div 86400`, `shard =
    * pmod(hash(k), n)`). Then a mutated key's old group is computable
    * without reading its old row, and the preimage read — the only
    * corpus-touching step besides the recompute — disappears into a
    * local projection over the driver-held keys. The contract is the
    * caller's to uphold: a row whose stored group ever disagreed with
    * `groupFromKey(key)` leaves its old group stale (unverifiable
    * without the read the flag exists to skip). */
  def refresh(spark: SparkSession, srcRoot: String, viewRoot: String,
              cursorFile: String, keyCol: String, groupCol: String,
              aggs: Seq[Column], fuseLimit: Int = 50000,
              groupFromKey: Option[Column] = None): Long = {
    val from = readFrom(cursorFile)
    val latest = VersionedCorpus.latest(srcRoot).getOrElse(
      sys.error(s"no committed generations under $srcRoot"))
    if (latest <= from) return from
    // a SMALL store (manifest-exact row bound — conservative: counts
    // tombstone rows too) runs its whole refresh with AQE off, its
    // plans built on the gate session the body receives: every
    // shuffle in the recompute/preimage plans is kilobyte-sized, and
    // AQE's per-exchange query-stage materialization pays a
    // scheduler-floor job each with nothing to re-plan. At-scale
    // stores keep adaptive planning — the recompute scan there is the
    // real work the materialization jobs amortize against.
    def scopedIf[T](rowBound: Long)(body: SparkSession => T): T =
      VersionedCorpus.withAqeOff(spark, rowBound <= 1000000L)(body)
    // change-row bound for the INCREMENTAL window path only. The
    // first-build path must NOT use it: a compacted store (one large
    // base generation, history vacuumed) has a change-row sum of 0
    // while its snapshot is arbitrarily large (r16 advice — the full
    // first-build aggregate was collapsing to 4 reducers with AQE off
    // on exactly the at-scale shape the bound exists to exclude).
    val storeRows = VersionedCorpus.commits(srcRoot)
      .filterNot(c => c.base || c.kind == "optimize").map(_.rows).sum
    if (from < 0L) {
      // first build: one full aggregate over the WHOLE snapshot — gate
      // on total committed rows (base generations included; counts
      // tombstones and superseded rows too, i.e. a conservative
      // overestimate of the snapshot, so a big store can never
      // accidentally take the small path)
      val snapshotRows =
        VersionedCorpus.commits(srcRoot).map(_.rows).sum
      scopedIf(snapshotRows) { gs =>
        val full = VersionedCorpus.snapshot(gs, srcRoot)
          .groupBy(col(groupCol)).agg(aggs.head, aggs.tail: _*)
        VersionedCorpus.upsert(full, viewRoot, groupCol)
      }
      VersionedCorpus.writeCursor(cursorFile, latest)
      return latest
    }
    val (feed, to) = VersionedCorpus.changesSince(spark, srcRoot, from)
    if (to == from) return from
    // the window's EXACT change-row count is already in the manifests
    // (the feed is the window's own files — changesBetween's gen
    // filter, mirrored here), so the fused-path decision needs no
    // probing limit-collect: CollectLimit's incremental partition
    // scaling pays up to three jobs where the plain collect of an
    // already-known-small feed pays one
    val windowRows = VersionedCorpus.commits(srcRoot)
      .filter(c => c.gen > from && c.gen <= to)
      .filterNot(c => c.base || c.kind == "optimize")
      .map(_.rows).sum
    if (windowRows <= fuseLimit) scopedIf(storeRows) { gs =>
      // the fused path's plans build on the gate session
      val feedS = graft.PlanGate.rebind(gs, feed)
      // DRIFT GUARD (r15 advice): the fused-path decision trusts the
      // manifest row-count mirror of changesBetween's gen filter. If the
      // two filters ever diverge (a new commit kind counted by one and
      // not the other), fail loudly here rather than silently refreshing
      // from a mis-sized slice — the collected feed part is bounded by
      // the feed's actual size, which a drift could not grow past the
      // window's own files.
      def driftGuard(collected: Int): Unit = require(collected == windowRows,
        s"incremental-view feed/manifest drift: collected $collected " +
          s"change rows but manifests declare $windowRows for gens " +
          s"($from, $to] — changesBetween's filter and the fused-path " +
          "row-count mirror disagree (new commit kind?)")
      // preimage plan over a driver-held mutated-key set: integral keys
      // ride the manifest-pruned range path; a non-integral key falls
      // back to the plain pre-window snapshot — correct, just unpruned.
      // Each mutated key had at most one old row, so the preimage is
      // bounded by the window, like `direct`. A small key set pushes as
      // an IN-list into the scan; a large one goes through the
      // broadcast semi-join (a many-thousand-literal In costs more in
      // planning than the join saves in jobs).
      def preimagePlan(mutated: Array[Any]): DataFrame = {
        val nums = mutated.collect { case n: java.lang.Number => n.longValue() }
        val preRows =
          if (nums.nonEmpty && nums.length == mutated.length)
            VersionedCorpus.lookupKeyRange(gs, srcRoot,
              nums.min, nums.max, asOf = from)
          else VersionedCorpus.snapshot(gs, srcRoot, from)
        if (mutated.length <= 1000)
          preRows.filter(col(keyCol).isin(mutated.toSeq: _*))
        else {
          val kType = feedS.schema(keyCol).dataType
          val kdf = gs.createDataFrame(
            gs.sparkContext.parallelize(
              mutated.toSeq.map(org.apache.spark.sql.Row(_))),
            new org.apache.spark.sql.types.StructType()
              .add(keyCol, kType))
          preRows.join(broadcast(kdf), Seq(keyCol), "left_semi")
        }
      }
      // MEMO-FUSED sub-path (r17): the window's mutated keys are exactly
      // the upsert/delete generations' key sets, which their committers
      // already memoized from the staged write's observe metric
      // (windowMutatedKeys — zero jobs). With the keys known BEFORE any
      // collect, the preimage plan no longer depends on the change
      // slice, so the two collects (slice + preimage groups) fuse into
      // ONE union job. Falls back to the sequential two-collect path
      // when any mutating gen's memo is missing (cold process, LRU
      // eviction, foreign committer) — and is skipped under
      // `groupFromKey`, whose preimage is job-free already.
      val memoMutated: Option[Array[Any]] =
        if (groupFromKey.isDefined) None
        else VersionedCorpus.windowMutatedKeys(srcRoot, from, to)
          .map(_.toArray)
      val (direct, preGroups): (Array[Any], Array[Any]) = memoMutated match {
        case Some(mutated) =>
          val feedPart = feedS.select(col(groupCol).as("_vc_g"),
            col("_change_type").as("_vc_ct"), lit("f").as("_vc_src"))
          val plan =
            if (mutated.isEmpty) feedPart // inserts only: no preimages
            else feedPart.unionByName(preimagePlan(mutated).select(
              col(groupCol).as("_vc_g"),
              lit(null).cast("string").as("_vc_ct"),
              lit("p").as("_vc_src")))
          val rows = plan.collect()
          val (fRows, pRows) = rows.partition(_.getString(2) == "f")
          driftGuard(fRows.length)
          (fRows.iterator.filter(_.getString(1) != "delete")
             .map(_.get(0)).toArray.distinct,
           pRows.iterator.map(_.get(0)).toArray.distinct)
        case None =>
          // FUSED small-window path: everything up to the recompute is
          // driver arithmetic over the one collected slice.
          val slice = feedS
            .select(col(groupCol), col(keyCol), col("_change_type"))
            .collect()
          driftGuard(slice.length)
          val direct0 = slice.iterator
            .filter(_.getString(2) != "delete").map(_.get(0)).toArray.distinct
          val mutated = slice.iterator
            .filter(_.getString(2) != "insert").map(_.get(1)).toArray.distinct
          val pre: Array[Any] =
            if (mutated.isEmpty) Array.empty // inserts only: no preimages
            else groupFromKey match {
              case Some(expr) =>
                // the caller declared group ≡ expr(key): every mutated
                // key's OLD group is computable from the key alone, so the
                // preimage needs NO corpus read — a LocalRelation projection
                // over the driver-held keys, folded by the optimizer
                // (ConvertToLocalRelation) into a job-free LocalTableScan.
                // At 100 TB this deletes the only corpus-sized I/O the
                // small-window refresh had left.
                val kType = feedS.schema(keyCol).dataType
                val kdf = gs.createDataFrame(
                  java.util.Arrays.asList(
                    mutated.map(org.apache.spark.sql.Row(_)): _*),
                  new org.apache.spark.sql.types.StructType().add(keyCol, kType))
                kdf.select(expr.as(groupCol)).collect().map(_.get(0)).distinct
              case None =>
                // collect UNDEDUPED and dedup driver-side: the result is
                // bounded by the mutated-key count (≤ the collected slice,
                // one live old row per key), and skipping the distinct
                // keeps the preimage read a single shuffle-free job
                preimagePlan(mutated).select(col(groupCol))
                  .collect().map(_.get(0)).distinct
            }
          (direct0, pre)
      }
      val dirtyKeys = (direct ++ preGroups).distinct
      applyDirty(gs, srcRoot, viewRoot, groupCol, aggs, dirtyKeys,
        feedS.schema(groupCol).dataType, to)
      VersionedCorpus.writeCursor(cursorFile, to)
      return to
    }
    val feedP = feed.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      // 1. direct dirty groups (insert/upsert rows carry the group)
      val direct = feedP.filter(col("_change_type") =!= "delete")
        .select(col(groupCol)).distinct()
      // 2. preimage dirty groups: old groups of every mutated key,
      //    from the pre-window snapshot via the pruned range path
      val mutatedKeys = feedP
        .filter(col("_change_type") =!= "insert")
        .select(col(keyCol)).distinct()
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val bounds = mutatedKeys
        .agg(org.apache.spark.sql.functions.count(col(keyCol)),
          min(col(keyCol).cast("long")), max(col(keyCol).cast("long")))
        .head()
      val preimage =
        if (bounds.getLong(0) == 0L) None // nothing mutated: inserts only
        else {
          // integral keys ride the manifest-pruned range path; a
          // non-integral key (cast → null) falls back to the plain
          // pre-window snapshot — correct, just unpruned
          val preRows =
            if (bounds.isNullAt(1))
              VersionedCorpus.snapshot(spark, srcRoot, from)
            else VersionedCorpus.lookupKeyRange(spark, srcRoot,
              bounds.getLong(1), bounds.getLong(2), asOf = from)
          Some(preRows
            .join(broadcast(mutatedKeys), Seq(keyCol), "left_semi")
            .select(col(groupCol)).distinct())
        }
      val dirty = preimage.fold(direct)(direct.unionByName(_).distinct())
      // 3. recompute exactly the dirty groups from the current
      //    snapshot; refreshed groups upsert, emptied groups delete.
      //    A small dirty set collects to the driver and pushes as an
      //    IN-list; a window that dirties >10k groups keeps the join
      //    formulation rather than a 10k-literal plan.
      val dirtyKeys = graft.PlanGate.cappedCollect(dirty, 10001).map(_.get(0))
      if (dirtyKeys.length <= 10000)
        applyDirty(spark, srcRoot, viewRoot, groupCol, aggs, dirtyKeys,
          feedP.schema(groupCol).dataType, to)
      else applyDirtyJoin(spark, srcRoot, viewRoot, groupCol, aggs, dirty, to)
      VersionedCorpus.writeCursor(cursorFile, to)
      mutatedKeys.unpersist()
      to
    } finally feedP.unpersist()
  }

  /** Recompute + fold a driver-held dirty-group set: the IN-list pushes
    * straight into the parquet scans (PushedFilters — no broadcast
    * join, no second pass for the vanished set, and an empty delete
    * never pays a commit job). Integral dirty groups additionally ride
    * the generation-stats pruned read over their min..max
    * ([[VersionedCorpus.pinStats]] on the group column — the
    * day-partitioned ingestion shape skips every out-of-band
    * generation; stores without the pin read conservatively, identical
    * result). A set that outgrew the literal budget (possible in the
    * fused path: direct ∪ preimage) re-enters the join formulation. */
  private def applyDirty(spark: SparkSession, srcRoot: String,
                         viewRoot: String, groupCol: String,
                         aggs: Seq[Column], dirtyKeys: Array[Any],
                         gType: org.apache.spark.sql.types.DataType,
                         to: Long): Unit = {
    // a window of content-neutral commits (optimize/base only):
    // nothing to recompute, the caller just advances the cursor
    if (dirtyKeys.isEmpty) return
    if (dirtyKeys.length > 10000) {
      val ddf = spark.createDataFrame(
        spark.sparkContext.parallelize(
          dirtyKeys.toSeq.map(org.apache.spark.sql.Row(_))),
        new org.apache.spark.sql.types.StructType().add(groupCol, gType))
      return applyDirtyJoin(spark, srcRoot, viewRoot, groupCol, aggs, ddf, to)
    }
    val nums = dirtyKeys.collect {
      case n: java.lang.Number => n.longValue()
    }
    val base =
      if (nums.nonEmpty && nums.length == dirtyKeys.length)
        VersionedCorpus.snapshotWhere(spark, srcRoot, groupCol,
          nums.min, nums.max, asOf = to)
      else VersionedCorpus.snapshot(spark, srcRoot, to)
    val refreshed = base
      .filter(col(groupCol).isin(dirtyKeys.toSeq: _*))
      .groupBy(col(groupCol)).agg(aggs.head, aggs.tail: _*)
    // the ALIVE group set (≤ dirtyKeys, driver-bounded by the 10k cap
    // above) rides the upsert's staged write as an observe metric —
    // the r14 fused-commit discipline applied to the view refresh: one
    // distributed pass where the old persist + collect + write paid
    // the recompute twice-shaped cost (persist populate, read-back)
    val obs = new org.apache.spark.sql.Observation(
      "graft_mv_alive_" + java.util.UUID.randomUUID())
    VersionedCorpus.upsert(
      refreshed.observe(obs,
        org.apache.spark.sql.functions.collect_set(col(groupCol))
          .as("alive")),
      viewRoot, groupCol)
    val alive: Set[Any] = obs.get("alive") match {
      case null       => Set.empty
      case s: Seq[_]  => s.toSet
      case other      => sys.error(s"unexpected alive metric: $other")
    }
    val vanished = dirtyKeys.filterNot(alive)
    if (vanished.nonEmpty) {
      // rebuild the key frame with the SOURCE's group column type
      // (the view store pinned it at first commit); driver-deduped →
      // the tombstone commit skips its distinct exchange — and as a
      // LocalRelation (not an RDD-backed frame) the delete takes the
      // r20 driver-side tombstone commit: zero Spark jobs for a
      // vanished-group set the driver already holds
      val vdf = spark.createDataFrame(
        java.util.Arrays.asList(
          vanished.toSeq.map(org.apache.spark.sql.Row(_)): _*),
        new org.apache.spark.sql.types.StructType()
          .add(groupCol, gType))
      VersionedCorpus.delete(vdf, viewRoot, groupCol, keysDistinct = true)
    }
  }

  /** The join formulation for dirty sets too large for an IN-list. */
  private def applyDirtyJoin(spark: SparkSession, srcRoot: String,
                             viewRoot: String, groupCol: String,
                             aggs: Seq[Column], dirty: DataFrame,
                             to: Long): Unit = {
    val dirtyP = dirty
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val refreshed = VersionedCorpus.snapshot(spark, srcRoot, to)
        .join(broadcast(dirtyP), Seq(groupCol), "left_semi")
        .groupBy(col(groupCol)).agg(aggs.head, aggs.tail: _*)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      try {
        val vanished = dirtyP.join(
          refreshed.select(col(groupCol)), Seq(groupCol), "left_anti")
        VersionedCorpus.upsert(refreshed, viewRoot, groupCol)
        // dirtyP is distinct by construction, so the anti-join output is
        VersionedCorpus.delete(vanished, viewRoot, groupCol,
          keysDistinct = true)
      } finally refreshed.unpersist()
    } finally dirtyP.unpersist()
  }

  /** The maintained view, read like any versioned store. */
  def read(spark: SparkSession, viewRoot: String): DataFrame =
    VersionedCorpus.snapshot(spark, viewRoot)

  private def readFrom(cursorFile: String): Long =
    VersionedCorpus.readCursor(cursorFile)
}
