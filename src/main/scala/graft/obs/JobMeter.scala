package graft.obs

import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart,
  SparkListenerStageCompleted, StageInfo}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.graftshim.Bridge

/** Job, stage, task-time and shuffle-write counters of one SparkContext —
  * the one listener graft's mains install. Counters only grow; a
  * measurement is the difference of two [[read]]s, and every read first
  * drains the listener bus, so a delta holds exactly the events posted
  * between the two reads.
  *
  * Jobs count on job start and stages on stage completion; task time is
  * the stage's summed `executorRunTime`. `onStage` sees every completed
  * stage on the bus thread. */
final class JobMeter private (spark: SparkSession, onStage: StageInfo => Unit)
    extends SparkListener {
  private val jobs = new AtomicLong
  private val stages = new AtomicLong
  private val taskMs = new AtomicLong
  private val shuffleBytes = new AtomicLong

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    jobs.incrementAndGet(); ()
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val m = e.stageInfo.taskMetrics
    stages.incrementAndGet()
    taskMs.addAndGet(m.executorRunTime)
    shuffleBytes.addAndGet(m.shuffleWriteMetrics.bytesWritten)
    onStage(e.stageInfo)
  }

  def read(): JobMeter.Counts = {
    Bridge.drainListenerBus(spark.sparkContext)
    JobMeter.Counts(jobs.get(), stages.get(), taskMs.get(), shuffleBytes.get())
  }

  /** Evaluate `f`; its result, wall seconds and the counts it added. */
  def measure[A](f: => A): (A, Double, JobMeter.Counts) = {
    val c0 = read()
    val t0 = System.nanoTime()
    val r = f
    val sec = (System.nanoTime() - t0) / 1e9
    (r, sec, read() - c0)
  }
}

object JobMeter {
  final case class Counts(jobs: Long, stages: Long, taskMs: Long,
                          shuffleBytes: Long) {
    def -(o: Counts): Counts = Counts(jobs - o.jobs, stages - o.stages,
      taskMs - o.taskMs, shuffleBytes - o.shuffleBytes)
    def taskSec: Double = taskMs / 1000.0
    def shuffleMb: Double = shuffleBytes / 1048576.0
  }

  def install(spark: SparkSession,
              onStage: StageInfo => Unit = _ => ()): JobMeter = {
    val m = new JobMeter(spark, onStage)
    spark.sparkContext.addSparkListener(m)
    m
  }

  /** Evaluate `f`, printing `label: <seconds> s`. */
  def time[A](label: String)(f: => A): A = {
    val t0 = System.nanoTime()
    val r = f
    println(f"$label: ${(System.nanoTime() - t0) / 1e9}%.2f s")
    r
  }
}
