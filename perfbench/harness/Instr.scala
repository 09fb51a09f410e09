package graftbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.streaming.StreamingQueryListener

/** One span at a layer boundary. Times are epoch microseconds on the wall
  * clock Spark's own events use, so spans built from listener events
  * (millisecond resolution) nest inside spans the benchmark times itself. */
final case class Span(id: Long, parent: Long, op: String, name: String,
                      startUs: Long, endUs: Long) {
  def json: String =
    s"""{"id":$id,"parent":$parent,"op":"$op","name":"$name","start_us":$startUs,"end_us":$endUs}"""
}

object Span {
  /** Self time: the part of `parent` that no child covers. */
  def selfUs(parent: Span, children: Seq[Span]): Long = {
    var covered = 0L; var reach = parent.startUs
    children.map(c => (math.max(c.startUs, parent.startUs), math.min(c.endUs, parent.endUs)))
      .filter(c => c._2 > c._1).sortBy(_._1).foreach { case (s, e) =>
        if (e > reach) { covered += e - math.max(s, reach); reach = e }
      }
    parent.endUs - parent.startUs - covered
  }
}

/** In-memory span store, written out once when the run ends. */
final class Tracer {
  private val spans = new ConcurrentLinkedQueue[Span]()
  private val ids = new AtomicLong(0)
  def nextId(): Long = ids.incrementAndGet()
  def add(s: Span): Unit = spans.add(s)
  def all: Seq[Span] = spans.asScala.toSeq
  def write(p: java.nio.file.Path): Unit =
    Gen.writeLines(p, all.sortBy(s => (s.startUs, s.id)).iterator.map(_.json))
}

object Clock {
  def nowUs(): Long = {
    val i = java.time.Instant.now()
    i.getEpochSecond * 1000000L + i.getNano / 1000
  }
  /** A span timed by the benchmark is widened to whole milliseconds so
    * that child spans from millisecond Spark events stay inside it. */
  def floorMs(us: Long): Long = us / 1000 * 1000
  def ceilMs(us: Long): Long = (us + 999) / 1000 * 1000
}

/** Task-level counters summed over a set of tasks. */
final class Acc {
  var tasks = 0L; var runMs = 0L; var cpuNs = 0L; var gcMs = 0L
  var shuffleRead = 0L; var shuffleWrite = 0L; var spill = 0L
  var inputBytes = 0L; var outputBytes = 0L; var stages = 0L
  def +=(o: Acc): Unit = {
    tasks += o.tasks; runMs += o.runMs; cpuNs += o.cpuNs; gcMs += o.gcMs
    shuffleRead += o.shuffleRead; shuffleWrite += o.shuffleWrite
    spill += o.spill; inputBytes += o.inputBytes
    outputBytes += o.outputBytes; stages += o.stages
  }
}

final case class JobRec(id: Int, startMs: Long, var endMs: Long, execId: Long,
                        tag: String, acc: Acc)
final case class ExecRec(id: Long, startMs: Long, var endMs: Long,
                         var phases: Seq[(String, Long, Long)] = Nil)

/** The benchmark's one Spark listener: jobs, stages, tasks (run and CPU
  * time, GC, shuffle, spill, input and output bytes) and SQL executions,
  * keyed by the job's tag. A job's tag is the local property
  * [[BenchListener.TagKey]] set by the thread that submitted it, or the
  * streaming micro-batch id. State is touched only on the listener thread;
  * read it after [[BenchListener.drain]]. */
final class BenchListener extends SparkListener {
  val jobs = mutable.LinkedHashMap[Int, JobRec]()
  val execs = mutable.LinkedHashMap[Long, ExecRec]()
  private val stageJob = mutable.HashMap[Int, Int]()

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val p = Option(e.properties)
    def prop(k: String) = p.flatMap(x => Option(x.getProperty(k)))
    val tag = prop(BenchListener.TagKey)
      .orElse(prop(BenchListener.BatchKey).map("batch:" + _)).orNull
    val exec = prop("spark.sql.execution.id").map(_.toLong).getOrElse(-1L)
    jobs(e.jobId) = JobRec(e.jobId, e.time, -1L, exec, tag, new Acc)
    e.stageIds.foreach(stageJob(_) = e.jobId)
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    jobs.get(e.jobId).foreach(_.endMs = e.time)
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    stageJob.get(e.stageInfo.stageId).flatMap(jobs.get).foreach(_.acc.stages += 1)
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    stageJob.get(e.stageId).flatMap(jobs.get).foreach { j =>
      val a = j.acc
      a.tasks += 1
      if (m != null) {
        a.runMs += m.executorRunTime; a.cpuNs += m.executorCpuTime
        a.gcMs += m.jvmGCTime
        a.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        a.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        a.spill += m.memoryBytesSpilled + m.diskBytesSpilled
        a.inputBytes += m.inputMetrics.bytesRead
        a.outputBytes += m.outputMetrics.bytesWritten
      }
    }
  }
  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: SparkListenerSQLExecutionStart =>
      execs(s.executionId) = ExecRec(s.executionId, s.time, -1L)
    case s: SparkListenerSQLExecutionEnd =>
      execs.get(s.executionId).foreach { x =>
        x.endMs = s.time
        x.phases = org.apache.spark.sql.graftbench.Shim.phases(s)
      }
    case _ => ()
  }

  def tagged(p: String => Boolean): Seq[JobRec] =
    jobs.values.filter(j => j.tag != null && p(j.tag)).toSeq

  def sum(js: Seq[JobRec]): Acc = { val a = new Acc; js.foreach(a += _.acc); a }
}

object BenchListener {
  val TagKey = "graftbench.op"
  val BatchKey = "streaming.sql.batchId"
  def drain(sc: SparkContext): Unit = org.apache.spark.sql.graftbench.Shim.drain(sc)
}

/** Streaming progress as the engine reports it, one record per batch. */
final case class Progress(batchId: Long, inputRows: Long,
                          durations: Map[String, Long])

final class ProgressListener extends StreamingQueryListener {
  val progress = new ConcurrentLinkedQueue[Progress]()
  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
    val p = e.progress
    if (p.numInputRows > 0) progress.synchronized {
      progress.add(Progress(p.batchId, p.numInputRows, p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap))
      progress.notifyAll()
    }
  }
  /** Wait for the `n`-th batch that read data to report, and return it. */
  def await(n: Int): Progress = progress.synchronized {
    val until = System.nanoTime() + 60000000000L
    while (progress.size < n && System.nanoTime() < until) progress.wait(1000)
    require(progress.size >= n, s"no progress report for data batch $n")
    progress.toArray(Array.empty[Progress])(n - 1)
  }
}

/** Times every call into the wrapped embedder and tags the calling
  * thread's Spark jobs with the operation the text belongs to, so the
  * jobs a request submits can be attributed to it. Texts are unique per
  * operation, which is what makes the text a usable key. */
final class TimingEmbedder(inner: graft.functions.Embedder,
                           @transient sc: SparkContext,
                           @transient opOf: java.util.concurrent.ConcurrentHashMap[String, String],
                           @transient tracer: Tracer,
                           @transient spanOf: java.util.concurrent.ConcurrentHashMap[String, java.lang.Long])
    extends graft.functions.Embedder {
  def dim: Int = inner.dim
  @transient val embedUs = new java.util.concurrent.ConcurrentHashMap[String, java.lang.Long]()
  def embed(text: String): Array[Float] = {
    val op = opOf.get(text)
    if (op != null) sc.setLocalProperty(BenchListener.TagKey, op)
    val t0 = Clock.nowUs(); val n0 = System.nanoTime()
    val v = inner.embed(text)
    val dt = (System.nanoTime() - n0) / 1000
    if (op != null) {
      embedUs.put(op, dt)
      val parent = spanOf.get(op)
      tracer.add(Span(tracer.nextId(), if (parent == null) 0L else parent, op,
        "functions.embed", t0, t0 + math.max(dt, 1)))
    }
    v
  }
}

object Stats {
  def pct(xs: collection.Seq[Double], p: Double): Double = {
    require(xs.nonEmpty, "percentile of no samples")
    val s = xs.sorted
    s(math.min(s.size - 1, math.max(0, math.ceil(p * s.size).toInt - 1)))
  }
  def median(xs: collection.Seq[Double]): Double = pct(xs, 0.5)
  def mean(xs: collection.Seq[Double]): Double = if (xs.isEmpty) 0.0 else xs.sum / xs.size
  /** The highest of the usual percentiles with at least ten samples beyond
    * it, and its name. */
  def tail(xs: collection.Seq[Double]): (String, Double) = {
    val p = Seq(0.99, 0.95, 0.9, 0.75).find(q => xs.size * (1 - q) >= 10 - 1e-9)
      .getOrElse(1.0)
    (if (p == 1.0) "max" else f"p${(p * 100).round}%d", pct(xs, p))
  }
}

/** Per-layer metrics every workload reports the same way. "Per op" is per
  * request, batch or pass. */
object Layers {
  def spark(acc: Acc, jobs: Int, ops: Int, busyMs: Double): Map[String, (Double, String)] = {
    val n = math.max(1, ops).toDouble
    Map(
      "spark.jobs_per_op" -> (jobs / n, "count"),
      "spark.stages_per_op" -> (acc.stages / n, "count"),
      "spark.tasks_per_op" -> (acc.tasks / n, "count"),
      "spark.task_ms_per_op" -> (acc.runMs / n, "ms"),
      "spark.cpu_ms_per_op" -> (acc.cpuNs / 1e6 / n, "ms"),
      "spark.effective_cores" -> (acc.runMs / math.max(1.0, busyMs), "cores"),
      "spark.gc_ms_per_op" -> (acc.gcMs / n, "ms"),
      "spark.shuffle_bytes_per_op" -> ((acc.shuffleRead + acc.shuffleWrite) / n, "bytes"),
      "spark.spill_bytes_per_op" -> (acc.spill / n, "bytes"),
      "spark.input_bytes_per_op" -> (acc.inputBytes / n, "bytes"))
  }

  /** Traced minus untraced median time of the same operation. */
  def overhead(tracedMs: collection.Seq[Double], plainMs: collection.Seq[Double])
      : Map[String, (Double, String)] = {
    val (d, base) =
      if (tracedMs.isEmpty || plainMs.isEmpty) (0.0, 1.0)
      else (Stats.median(tracedMs) - Stats.median(plainMs), Stats.median(plainMs))
    Map("trace.overhead_ms" -> (d, "ms"), "trace.overhead_pct" -> (100 * d / base, "%"))
  }
}
