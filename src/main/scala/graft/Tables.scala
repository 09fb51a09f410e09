package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType

/** Loaders for the harness fixture tables (TESTDATA.md / FIXTURES.md).
  *
  * All declared queries read through here so every scan is a plain
  * `spark.read.parquet` — Catalyst's vectorized parquet reader, column
  * pruning and filter pushdown apply unmodified. At 100 TB the same code
  * path works: the `dir` simply points at a partitioned table root.
  */
object Tables {
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  // One ANALYZED frame per (dir, table), fingerprint-guarded — a
  // declared-set pass (Verify, a Bench round) loads the same ten tables
  // hundreds of times, and every `spark.read.parquet` call pays file
  // listing + footer schema inference + analysis again for an identical
  // immutable lazy plan. Reusing the frame is safe (DataFrames are
  // immutable descriptions). The VALUE carries the building SESSION
  // (compared by identity — a frame is bound to its session's state and
  // must never be served to a different or restarted one; an
  // identity-hash KEY would both collide across GC'd sessions and pin
  // one entry per dead session forever) plus the (mtime, length)
  // fingerprint that rebuilds on fixture regeneration. One entry per
  // (dir, table): a replaced session's frames are evicted on next
  // access, so retained dead-session frames are bounded by the table
  // count, not the session count. The same freshness rule as
  // `Queries.Memo` and Streams.nanosCache.
  private final case class CachedFrame(
      session: SparkSession, fingerprint: String, frame: DataFrame)

  private val frameCache = new java.util.concurrent.ConcurrentHashMap[
    (String, String), CachedFrame]()

  /** (mtime, length) fingerprint of a fixture table file — the shared
    * staleness guard for every per-dir memo (this cache, every
    * `Queries.Memo`, `Streams`' schema probe). */
  def fixtureFingerprint(dir: String, name: String): String = {
    val p = java.nio.file.Paths.get(dir, s"$name.parquet")
    val (mtime, len) =
      try (java.nio.file.Files.getLastModifiedTime(p).toMillis,
        java.nio.file.Files.size(p))
      catch { case _: java.io.IOException => (-1L, -1L) }
    s"$dir|$name|$mtime|$len"
  }

  def load(spark: SparkSession, dir: String, name: String): DataFrame = {
    // the events conf must be (re)set per call, not only on build: the
    // scan consults it at EXECUTION time, and a cached frame may be
    // executed long after the building call returned
    if (name == "events")
      spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val fp = fixtureFingerprint(dir, name)
    frameCache.compute((dir, name), (_, cached) =>
      if (cached != null && (cached.session eq spark) &&
          cached.fingerprint == fp) cached
      else CachedFrame(spark, fp, build(spark, dir, name))).frame
  }

  private def build(spark: SparkSession, dir: String, name: String): DataFrame = {
    if (name == "events") {
      // events.ts is parquet TIMESTAMP(NANOS) (FIXTURES.md §3), which
      // Spark 4 rejects by default. Read the raw int64 nanos and convert
      // with integer division (the values carry no sub-microsecond
      // component, so this is lossless and matches DuckDB's own ns→us
      // read of the same file). Plain double division would be WRONG
      // here: ~1.7e18 ns exceeds double's 2^53 integer range.
      //
      // The conf is DELIBERATELY left set for the session rather than
      // save/restored around the read: the parquet scan consults it again
      // at physical-planning/execution time (it is copied into the scan's
      // hadoopConf when the action runs), so restoring it here — before
      // the returned lazy frame is ever executed — would make the read
      // fail at action time. Its only effect is on NANOS-typed columns,
      // which no other fixture table has; a caller who needs strict
      // NANOS rejection for other data can unset it after materializing
      // every events-derived result. (The conf is set in [[load]] so it
      // also covers cache hits.)
      val df = spark.read.parquet(s"$dir/$name.parquet")
      df.schema("ts").dataType match {
        case LongType =>
          df.withColumn("ts", timestamp_micros(expr("ts div 1000")))
        // a TIMESTAMP_NTZ(MICROS) fixture generation (the harness has
        // shipped both encodings) normalizes to the same TimestampType
        // the NANOS path produces — under the UTC session the values
        // are identical, and every events consumer (and the streaming
        // mirror, which must equal this frame) sees ONE ts type
        // regardless of fixture vintage
        case org.apache.spark.sql.types.TimestampNTZType =>
          df.withColumn("ts", col("ts").cast("timestamp"))
        case _ => df
      }
    } else spark.read.parquet(s"$dir/$name.parquet")
  }
}
