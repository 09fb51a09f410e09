package graft.tools

import org.apache.spark.sql.functions._

import graft.obs.JobMeter.time

import graft.sources.VersionedCorpus

/** Scale probe for the versioned store's merge-on-read paths: a 1M-row
  * store built from 10 appends, mutated by 20 keyed commits (10 upsert
  * + 10 delete generations), then read through every path a cluster
  * would use — the tombstone-chained snapshot, manifest-pruned point
  * lookups vs the filter-the-snapshot equivalent, and the post-compact
  * versions of both. Prints one timing line per step plus the row-count
  * checks that prove no path lost or duplicated rows. Results land in
  * BASELINE.md (round 10). */
object MergeProbe {
  def main(args: Array[String]): Unit = {
    val spark = graft.GraftSession.local("graft-merge-probe")
    val tmp = java.nio.file.Files.createTempDirectory("graft-mergeprobe")
    val root = s"$tmp/corpus"
    def slice(lo: Long, hi: Long, tag: String) =
      spark.range(lo, hi).select(col("id").as("k"),
        concat(lit(tag), col("id")).as("payload"))
    time("build: 10 x 100k appends") {
      VersionedCorpus.append(slice(0L, 100000L, "v1 "), root)
      VersionedCorpus.pinKey(root, "k") // gens 1..9 carry key bounds
      for (i <- 1 until 10)
        VersionedCorpus.append(slice(i * 100000L, (i + 1) * 100000L, "v1 "), root)
    }
    time("mutate: 10 x 5k upserts + 10 x 5k deletes (20 tombstone gens)") {
      for (i <- 0 until 10) {
        val base = i * 100000L
        VersionedCorpus.upsert(
          slice(base + 10000L, base + 15000L, "v2 "), root, "k")
        VersionedCorpus.delete(
          spark.range(base + 20000L, base + 25000L).select(col("id").as("k")),
          root, "k")
      }
    }
    val n1 = time("merge-on-read snapshot count (20-tombstone chain)") {
      VersionedCorpus.snapshot(spark, root).count()
    }
    assert(n1 == 950000L, s"expected 950000 live rows, got $n1")
    val probeKey = 512345L // inside one append gen's bounds, no mutation
    time("point lookup, manifest-pruned") {
      VersionedCorpus.lookupKey(spark, root, probeKey).collect()
    }
    time("point lookup via snapshot filter (the unpruned equivalent)") {
      VersionedCorpus.snapshot(spark, root)
        .filter(col("k") === probeKey).collect()
    }
    val upsertedKey = 313000L // hit by the v2 wave of gen block 3
    val v = VersionedCorpus.lookupKey(spark, root, upsertedKey)
      .select("payload").collect().map(_.getString(0)).toSeq
    assert(v == Seq(s"v2 $upsertedKey"), s"upsert lost: $v")
    time("compact (applies all 20 tombstone gens physically)") {
      VersionedCorpus.compact(spark, root)
    }
    VersionedCorpus.vacuum(root)
    val n2 = time("post-compact snapshot count") {
      VersionedCorpus.snapshot(spark, root).count()
    }
    assert(n2 == 950000L, s"compaction changed content: $n2")
    time("post-compact point lookup") {
      VersionedCorpus.lookupKey(spark, root, probeKey).collect()
    }
    // phase 2: the streaming-ingestion shape — a long tail of tiny
    // appends against the big base, then bin-packing optimize. The
    // point is the file-count collapse: the snapshot read's fan-out is
    // footer-bound at thousands of tiny files, and optimize fixes it
    // WITHOUT touching the base (compare: the full compact above paid
    // a 950k-row rewrite).
    val cursor = VersionedCorpus.latest(root).get
    time("tail: 120 x 500-row appends") {
      for (i <- 0 until 120)
        VersionedCorpus.append(
          slice(2000000L + i * 500L, 2000000L + (i + 1) * 500L, "t "), root)
    }
    val filesBefore = VersionedCorpus.snapshot(spark, root).inputFiles.length
    val n3 = time(s"snapshot count, 120-gen tail ($filesBefore files)") {
      VersionedCorpus.snapshot(spark, root).count()
    }
    assert(n3 == 1010000L, s"expected 1010000 rows, got $n3")
    time("change feed: changesSince(pre-tail cursor) count") {
      val (feed, _) = VersionedCorpus.changesSince(spark, root, cursor)
      assert(feed.count() == 60000L)
    }
    val packed = time("optimize (packs the tail, base untouched)") {
      VersionedCorpus.optimize(spark, root, smallRows = 1000L)
    }
    assert(packed.size == 1, s"expected one packed run, got $packed")
    VersionedCorpus.vacuumPacked(root)
    val filesAfter = VersionedCorpus.snapshot(spark, root).inputFiles.length
    val n4 = time(s"snapshot count, packed tail ($filesAfter files)") {
      VersionedCorpus.snapshot(spark, root).count()
    }
    assert(n4 == 1010000L, s"optimize changed content: $n4")
    println(s"tail files: $filesBefore -> $filesAfter")
    // phase 3: incremental view maintenance at 1M rows — the O(dirty
    // groups) claim measured. A 200-group view over the full store;
    // one mutation wave touches 3 groups; the refresh must cost a
    // fraction of the full rebuild it replaces.
    val viewRoot = s"$tmp/view"
    val viewCursor = s"$tmp/viewcursor.txt"
    val aggs = Seq(
      org.apache.spark.sql.functions.count(
        org.apache.spark.sql.functions.lit(1)).as("n"),
      org.apache.spark.sql.functions.sum(
        org.apache.spark.sql.functions.length(col("payload"))
          .cast("long")).as("chars"))
    // group = k % 200, stored as a column (the store's schema is pinned
    // from phase 1 as (k, payload) — use a fresh store for the MV phase)
    val mvRoot = s"$tmp/mvcorpus"
    def gslice(lo: Long, hi: Long, tag: String) =
      spark.range(lo, hi).select(col("id").as("k"),
        (col("id") % 200).as("grp"),
        concat(lit(tag), col("id")).as("payload"))
    time("mv corpus: 1M rows, 200 groups") {
      VersionedCorpus.append(gslice(0L, 1000000L, "v1 "), mvRoot)
      VersionedCorpus.pinKey(mvRoot, "k")
    }
    time("mv first build (full aggregate)") {
      graft.sources.IncrementalView.refresh(
        spark, mvRoot, viewRoot, viewCursor, "k", "grp", aggs)
    }
    // mutation wave: 15k rows across exactly 3 groups
    VersionedCorpus.upsert(
      gslice(0L, 1000000L, "v2 ").filter(col("grp").isin(7L, 63L, 150L))
        .limit(15000), mvRoot, "k")
    time("mv incremental refresh (3 dirty groups of 200)") {
      graft.sources.IncrementalView.refresh(
        spark, mvRoot, viewRoot, viewCursor, "k", "grp", aggs)
    }
    // same wave shape again, with the group declared key-derived
    // (grp = k % 200): the preimage read vanishes into a local
    // projection — zero corpus I/O before the recompute
    VersionedCorpus.upsert(
      gslice(0L, 1000000L, "v3 ").filter(col("grp").isin(11L, 90L, 177L))
        .limit(15000), mvRoot, "k")
    time("mv incremental refresh, groupFromKey (3 dirty groups)") {
      graft.sources.IncrementalView.refresh(
        spark, mvRoot, viewRoot, viewCursor, "k", "grp", aggs,
        groupFromKey = Some(col("k") % 200))
    }
    val fullRows = time("full re-aggregate for comparison") {
      VersionedCorpus.snapshot(spark, mvRoot)
        .groupBy(col("grp")).agg(aggs.head, aggs.tail: _*).collect()
    }
    val viewRows = graft.sources.IncrementalView.read(spark, viewRoot).count()
    assert(viewRows == 200L && fullRows.length == 200,
      s"view has $viewRows groups, full has ${fullRows.length}")
    // phase 3b: the DESIGNED ingestion shape — groups contiguous in the
    // key (day-partitioned: grp = k / 5000), stats pinned on the group
    // column, data arriving as 4 generations of 250k rows. A 3-group
    // mutation wave now has a NARROW key range, so the preimage read
    // prunes to one generation and the recompute scan prunes via
    // snapshotWhere — the refresh touches ~1/4 of the store's files
    // instead of all of them (the wall-clock win is job-floor-masked
    // at 1M/local[8]; the I/O proportionality is the scale claim).
    val dayRoot = s"$tmp/daycorpus"
    val dayView = s"$tmp/dayview"
    val dayCursor = s"$tmp/daycursor.txt"
    def dslice(lo: Long, hi: Long, tag: String) =
      spark.range(lo, hi).select(col("id").as("k"),
        (col("id") / 5000).cast("long").as("grp"),
        concat(lit(tag), col("id")).as("payload"))
    time("day corpus: 4 x 250k generations, grp contiguous, stats pinned") {
      VersionedCorpus.append(dslice(0L, 250000L, "v1 "), dayRoot)
      VersionedCorpus.pinKey(dayRoot, "k")
      VersionedCorpus.pinStats(dayRoot, Seq("grp"))
      VersionedCorpus.append(dslice(250000L, 500000L, "v1 "), dayRoot)
      VersionedCorpus.append(dslice(500000L, 750000L, "v1 "), dayRoot)
      VersionedCorpus.append(dslice(750000L, 1000000L, "v1 "), dayRoot)
    }
    graft.sources.IncrementalView.refresh(
      spark, dayRoot, dayView, dayCursor, "k", "grp", aggs)
    VersionedCorpus.upsert(
      dslice(200000L, 215000L, "v2 "), dayRoot, "k") // groups 40-42
    time("mv refresh, day-shaped (3 contiguous dirty groups, pruned reads)") {
      graft.sources.IncrementalView.refresh(
        spark, dayRoot, dayView, dayCursor, "k", "grp", aggs)
    }
    VersionedCorpus.upsert(
      dslice(600000L, 615000L, "v3 "), dayRoot, "k") // groups 120-122
    time("mv refresh, day-shaped + groupFromKey (no preimage read)") {
      graft.sources.IncrementalView.refresh(
        spark, dayRoot, dayView, dayCursor, "k", "grp", aggs,
        groupFromKey = Some((col("k") / 5000).cast("long")))
    }
    val dayOk = graft.sources.IncrementalView.read(spark, dayRoot + "/../dayview")
    assert(dayOk.count() == 200L)
    org.apache.commons.io.FileUtils.deleteDirectory(tmp.toFile)
    spark.stop()
  }
}
