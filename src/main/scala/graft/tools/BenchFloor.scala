package graft.tools

import org.apache.spark.sql.functions._

/** Fixed-overhead floor probe for the bench harness: measures (a) the
  * bare job round-trip (schedule → 4 trivial tasks → collect) and (b) a
  * cheap declared query end-to-end (analysis + optimization + codegen
  * cache hit + jobs), each repeated hot. The bench total's lower bound
  * is ≈ (jobs per query) × (job round-trip) × (query count) + data time;
  * this tool prints the terms so the residual gap to the DuckDB proxy
  * can be attributed (scheduler floor vs plan quality) instead of
  * guessed at.
  *
  *   SPARK_GRAFT_CPUS=4 sbt "runMain graft.tools.BenchFloor"
  */
object BenchFloor {
  def main(args: Array[String]): Unit = {
    val cpus = graft.GraftSession.cpus
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = graft.GraftSession.local("graft-bench-floor")

    def time[A](reps: Int)(f: => A): Double = {
      val t0 = System.nanoTime()
      var i = 0
      while (i < reps) { f; i += 1 }
      (System.nanoTime() - t0) / 1e9 / reps
    }

    // warm: JIT + codegen + scheduler paths
    (1 to 10).foreach(_ => spark.range(1 << 20).count())

    // (a) bare job round-trip: no shuffle, 1 stage
    val bareJob = time(20)(spark.range(1L << 18).count())
    // (b) one-exchange aggregation: 2 stages
    val aggJob = time(20)(
      spark.range(1L << 18).groupBy((col("id") % 16).as("k"))
        .agg(sum("id")).count())
    // (c) a cheap declared query end-to-end, analysis included
    val q = graft.SparkEntry.queries("q_math_fns")
    q(spark, sfDir).count() // warm its codegen
    val declared = time(10)(q(spark, sfDir).count())
    // (d) analysis/optimization only (no job): fresh plan each rep
    val planOnly = time(10)(q(spark, sfDir).queryExecution.executedPlan)

    println(f"""{"bare_job_sec":$bareJob%.4f,"agg_2stage_sec":$aggJob%.4f,""" +
      f""""declared_cheap_sec":$declared%.4f,"plan_only_sec":$planOnly%.4f,""" +
      s""""cpus":$cpus,"sf":"$sfDir"}""")
    spark.stop()
  }
}
