package graft.tools

import graft.obs.JobMeter

/** Time individual declared queries by name — the dev-loop complement to
  * the full `graft.Bench` run (which times everything). Args: query
  * names; env `SPARK_GRAFT_SF_DIR` picks the fixture (default sf0.1),
  * `SPARK_GRAFT_TQ_REPS` the rep count (default 3, min reported).
  * Shared builds warm up first so a row's line prices its steady-state
  * consumption exactly as the bench does. Not part of the declared
  * surface; a measurement tool.
  *
  * Each TIME line carries the best rep's jobs, stages and summed task
  * time: jobs = scheduler-floor multiplier, taskTime = real distributed
  * work — a row whose wall time is mostly (jobs × floor) needs fusion,
  * one whose taskTime dominates needs a faster kernel.
  * `SPARK_GRAFT_TQ_JOBS=2` also lists every stage of the measured reps. */
object TimeQuery {
  def main(args: Array[String]): Unit = {
    require(args.nonEmpty, "usage: TimeQuery <queryName> [more names...]")
    val dir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val reps = math.max(1, sys.env.getOrElse("SPARK_GRAFT_TQ_REPS", "3").toInt)
    val spark = graft.GraftSession.local("graft-time-query", fixtureSplits = true)
    val stageDetail = sys.env.get("SPARK_GRAFT_TQ_JOBS").contains("2")
    // stage detail only prints during MEASURED reps — the unmeasured warm
    // pass runs shared builds whose stages would swamp the row's own
    val measuring = new java.util.concurrent.atomic.AtomicBoolean(false)
    val meter = JobMeter.install(spark, onStage = s =>
      if (stageDetail && measuring.get()) {
        // under AQE the stage NAME is an opaque future callsite; the
        // first graft frame in `details` names the operator instead
        val site = s.details.linesIterator
          .find(l => l.contains("graft.") && !l.contains("TimeQuery"))
          .map(_.trim).getOrElse(s.name.takeWhile(_ != '\n').take(80))
        println(f"  STAGE ${s.stageId}%4d tasks=${s.numTasks}%3d run=${
          s.taskMetrics.executorRunTime}%6d ms  ${site.take(110)}")
      })
    args.foreach { name =>
      val fn = graft.SparkEntry.queries.getOrElse(name,
        sys.error(s"unknown query $name"))
      // one unmeasured warm pass (codegen + shared builds), then reps
      fn(spark, dir).count()
      graft.operators.PrefixSum.releaseCaches()
      val runs = (0 until reps).map { _ =>
        val c0 = meter.read()
        measuring.set(true)
        val t0 = System.nanoTime()
        fn(spark, dir).count()
        val dt = (System.nanoTime() - t0) / 1e9
        // same per-rep release discipline as Bench: min-of-reps must
        // time real rebuilds, not another rep's warm operator cache
        graft.operators.PrefixSum.releaseCaches()
        val d = meter.read() - c0
        measuring.set(false)
        (dt, d)
      }
      val (best, c) = runs.minBy(_._1)
      println(f"TIME $name%-28s $best%8.3f s (min of $reps)  " +
        f"jobs=${c.jobs}%3d stages=${c.stages}%3d taskTime=${c.taskSec}%7.2f s")
    }
    spark.stop()
  }
}
