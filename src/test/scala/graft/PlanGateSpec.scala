package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Pins the gate-session contract: a gated action runs on a cached
  * clone of the caller's session holding the gate's settings, and the
  * caller's conf is never written — not before, during or after any
  * interleaving of gated and ungated actions. */
class PlanGateSpec extends AnyFunSuite {
  import graft.sources.{VersionedCorpus => VC}
  private lazy val spark = TestSpark.spark

  /** A small plan with one hash exchange. */
  private def grouped(s: org.apache.spark.sql.SparkSession): DataFrame =
    s.range(2000).groupBy((col("id") % 7).as("g")).count()

  /** Run `df`'s collect and return the plan it executed. */
  private def executed(df: DataFrame): SparkPlan = {
    assert(df.collect().length === 7)
    df.queryExecution.executedPlan
  }

  private def widths(p: SparkPlan): Seq[Int] =
    p.collect { case e: ShuffleExchangeExec => e.numPartitions }

  test("concurrent AQE-off scopes restore the session's steady state") {
    val steady = spark.conf.getAll
    val ungatedPlan = executed(grouped(spark))
    val errs = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val done = new java.util.concurrent.atomic.AtomicBoolean(false)
    val threads = (1 to 8).map { i =>
      new Thread(() => {
        try (1 to 20).foreach { _ =>
          val p = PlanGate.withAqeOffIfSmall(grouped(spark))(executed)
          if (p.exists(_.isInstanceOf[AdaptiveSparkPlanExec]))
            errs.add(s"t$i: gated plan kept AQE")
          if (widths(p).isEmpty || widths(p).exists(_ > 4))
            errs.add(s"t$i: gated widths ${widths(p)}")
        } catch { case t: Throwable => errs.add(s"t$i: $t") }
      })
    }
    // the ungated neighbor: its conf and its plans stay the caller's
    val neighbor = new Thread(() => {
      try while (!done.get()) {
        if (spark.conf.getAll != steady) errs.add("parent conf moved")
        val p = executed(grouped(spark))
        if (!p.isInstanceOf[AdaptiveSparkPlanExec])
          errs.add("ungated plan lost AQE")
      } catch { case t: Throwable => errs.add(s"neighbor: $t") }
    })
    neighbor.start()
    threads.foreach(_.start()); threads.foreach(_.join())
    done.set(true); neighbor.join()
    assert(errs.isEmpty, errs.toString)
    assert(ungatedPlan.isInstanceOf[AdaptiveSparkPlanExec])
    assert(spark.conf.getAll === steady)
  }

  test("concurrent cappedCollects restore limit.initialNumPartitions") {
    val key = "spark.sql.limit.initialNumPartitions"
    val before = spark.conf.getOption(key)
    val errs = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val threads = (1 to 6).map { i =>
      new Thread(() => {
        try {
          (1 to 10).foreach { _ =>
            val got = PlanGate.cappedCollect(
              spark.range(50).toDF("id").filter(col("id") >= 0), 1000)
            if (got.length != 50) errs.add(s"t$i: ${got.length} rows")
            if (spark.conf.getOption(key) != before)
              errs.add(s"t$i: parent $key written")
          }
        } catch { case t: Throwable => errs.add(s"t$i: $t") }
      })
    }
    threads.foreach(_.start()); threads.foreach(_.join())
    assert(errs.isEmpty, errs.toString)
    assert(spark.conf.getOption(key) === before)
  }

  test("nested scope (withAqeOffIfSmall around cappedCollect) self-locks") {
    // a nested gate is a gate of the enclosing gate session: both
    // settings hold inside it and the caller's conf is never written
    val steady = spark.conf.getAll
    val df = spark.range(10).toDF("id")
    val rows = PlanGate.withAqeOffIfSmall(df)(d =>
      PlanGate.cappedCollect(d, 100))
    assert(rows.length === 10)
    PlanGate.withAqeOffIfSmall(df) { d =>
      val g = d.sparkSession
      assert(g ne spark)
      assert(g.conf.get("spark.sql.adaptive.enabled") === "false")
      PlanGate.withGate(g,
        Seq("spark.sql.limit.initialNumPartitions" -> "1000000")) { inner =>
        assert(inner.conf.get("spark.sql.adaptive.enabled") === "false")
        assert(inner.conf.get("spark.sql.shuffle.partitions").toInt <= 4)
        assert(inner.conf.get("spark.sql.limit.initialNumPartitions")
          === "1000000")
      }
    }
    assert(spark.conf.getOption("spark.sql.limit.initialNumPartitions")
      .forall(_ != "1000000"),
      "capped-collect override leaked past its scope")
    assert(spark.conf.getAll === steady)
  }

  test("nested same-key scopes: depth ledger restores the steady state") {
    // the same-key nesting needs no ledger: the inner withAqeOff runs
    // on the enclosing gate session and closing it changes nothing
    val aqeKey = "spark.sql.adaptive.enabled"
    val spKey = "spark.sql.shuffle.partitions"
    val steady = spark.conf.getAll
    VC.withAqeOff(spark) { outer =>
      assert(outer ne spark)
      VC.withAqeOff(outer) { inner =>
        assert(inner eq outer)
        assert(inner.conf.get(aqeKey) === "false")
        assert(inner.conf.get(spKey).toInt <= 4)
      }
      assert(outer.conf.get(aqeKey) === "false",
        "inner scope close restored the key under an open outer scope")
      assert(outer.conf.get(spKey).toInt <= 4)
      assert(spark.conf.getAll === steady)
    }
    assert(spark.conf.getAll === steady)
  }

  test("gated bodies overlap in time: no lock serializes them") {
    val aInside = new java.util.concurrent.CountDownLatch(1)
    val bInside = new java.util.concurrent.CountDownLatch(1)
    val ok = new java.util.concurrent.atomic.AtomicBoolean(false)
    val a = new Thread(() => VC.withAqeOff(spark) { _ =>
      aInside.countDown()
      // hold the body open until B proves it reached its own body
      ok.set(bInside.await(10, java.util.concurrent.TimeUnit.SECONDS))
    })
    val b = new Thread(() => {
      aInside.await()
      VC.withAqeOff(spark) { _ => bInside.countDown() }
    })
    a.start(); b.start(); a.join(15000); b.join(15000)
    assert(ok.get(), "second gated body never opened while first was open")
    assert(spark.conf.get("spark.sql.adaptive.enabled", "true") !== "false")
  }

  test("a gate derives from the parent's current conf: width 3 after a conf change") {
    val key = "spark.sql.shuffle.partitions"
    val prev = spark.conf.get(key)
    val capped = math.min(prev.toInt, 4)
    // warm the cached gate session at the old width first
    assert(PlanGate.withAqeOffIfSmall(grouped(spark))(d =>
      widths(executed(d))).forall(_ === capped))
    spark.conf.set(key, "3")
    try {
      val w = PlanGate.withAqeOffIfSmall(grouped(spark))(d =>
        widths(executed(d)))
      assert(w.nonEmpty && w.forall(_ === 3), w)
    } finally spark.conf.set(key, prev)
    assert(PlanGate.withAqeOffIfSmall(grouped(spark))(d =>
      widths(executed(d))).forall(_ === capped))
  }

  test("a DataFrame returned from a gated body is re-bound to the caller") {
    val out = PlanGate.withAqeOffIfSmall(grouped(spark))(identity)
    assert(out.sparkSession eq spark)
    assert(executed(out).isInstanceOf[AdaptiveSparkPlanExec])
  }

  test("an observation attached on the caller completes in a gated action") {
    val obs = org.apache.spark.sql.Observation("plan_gate_obs")
    val df = spark.range(100).toDF("id").observe(obs, count(lit(1)).as("n"))
    assert(PlanGate.cappedCollect(df, 1000).length === 100)
    val row = scala.concurrent.Await.result(obs.future,
      scala.concurrent.duration.Duration(60, "s"))
    assert(row.getAs[Long]("n") === 100L)
  }
}
