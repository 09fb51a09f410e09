package graft

import org.apache.spark.sql.SparkSession

/** The one session builder of graft's mains (Bench, Verify, the tools).
  *
  * Every session runs `local[$SPARK_GRAFT_CPUS]` (default 4, the bench's
  * configuration) with one shuffle partition per core, the UI off, UTC
  * session time, the v2 file committer (task commits rename straight
  * into the destination: one rename per file instead of two) and log
  * level WARN.
  *
  * `fixtureSplits` adds the bench's small-file split policy: file splits
  * follow `maxPartitionBytes` alone instead of being shredded to the core
  * count, leaf relations default to one partition, and AQE coalesces
  * small shuffles to the advisory size instead of pinning the reduce
  * width to the core count. At fixture scale this saves the per-task
  * scheduler floor dozens of times per multi-job chain; at scale files
  * and stages exceed the byte thresholds and the policy is inert. Rows
  * with real CPU on few rows opt back into width through
  * `Queries.widenForCompute`.
  * Results are partition-count invariant either way (the oracle pins
  * them). The policy also makes `spark.range` default to ONE partition,
  * so mains that generate their inputs with `spark.range` leave it off. */
object GraftSession {
  def cpus: String = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")

  def local(appName: String, fixtureSplits: Boolean = false): SparkSession = {
    val b = SparkSession.builder()
      .appName(appName)
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.hadoop.mapreduce.fileoutputcommitter.algorithm.version", "2")
    val spark = (if (!fixtureSplits) b else b
      .config("spark.sql.files.minPartitionNum", "1")
      .config("spark.sql.leafNodeDefaultParallelism", "1")
      .config("spark.sql.adaptive.coalescePartitions.parallelismFirst", "false"))
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
