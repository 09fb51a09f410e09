package graftbench

import java.nio.file.{Files, Path, Paths}

import org.apache.spark.sql.SparkSession

/** What a workload hands back: operation counts, the gated end-to-end
  * metrics, the traced per-layer metrics and an ungated report. */
final case class Outcome(attempted: Long, failed: Long, correct: Boolean,
                         e2e: Map[String, (Double, String)],
                         layers: Map[String, (Double, String)],
                         report: Map[String, Any])

final case class Ctx(spark: SparkSession, seed: Long, seconds: Int,
                     trace: Boolean, work: Path, cores: Int,
                     sessionS: Double) {
  def dir(name: String): Path = Files.createDirectories(work.resolve(name))
  /** Set-up time: JVM and session start, plus the median of the
    * workload's repeated input generation and load step. */
  def setupS(repS: Seq[Double]): Double = sessionS + Stats.median(repS)
}

object Json {
  def apply(v: Any): String = v match {
    case null => "null"
    case s: String => "\"" + s.flatMap {
      case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"
      case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString
    } + "\""
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => apply(f.toDouble)
    case n: Int => n.toString
    case n: Long => n.toString
    case (v: Double, u: String) => s"""{"value":${apply(v)},"unit":${apply(u)}}"""
    case m: collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => apply(k.toString) + ":" + apply(x) }.mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(apply).mkString("[", ",", "]")
    case o => apply(o.toString)
  }
}

/** Fixed single-thread integer work; its time at the start and the end of
  * a run tells a slower machine apart from slower code. */
object Calib {
  def cpuMs(): Double = {
    val t0 = System.nanoTime()
    var x = 0x12345678L; var i = 0
    while (i < 40000000) { x = x * 6364136223846793005L + 1442695040888963407L; x ^= x >>> 29; i += 1 }
    if (x == 42) println("")
    (System.nanoTime() - t0) / 1e6
  }
}

object Main {
  def main(argv: Array[String]): Unit = {
    val args = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = args("workload")
    val seed = args("seed").toLong
    val seconds = args("seconds").toInt
    val trace = args("trace") == "1"
    val work = Paths.get(args("work")).toAbsolutePath
    val t0Ms = args.get("t0-ms").map(_.toLong)
      .getOrElse(java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime)
    val calOpen = Calib.cpuMs()
    val selfTest = Check.selfTest()

    val cores = Runtime.getRuntime.availableProcessors()
    val spark = Session.create(work, cores)
    val sessionS = (System.currentTimeMillis() - t0Ms) / 1000.0
    val ctx = Ctx(spark, seed, seconds, trace, work, cores, sessionS)
    val out = workload match {
      case "search_mixed" => SearchMixed.run(ctx)
      case "ingest_admit" => IngestAdmit.run(ctx)
      case "embed_index"  => EmbedIndex.run(ctx)
      case w => sys.error(s"unknown workload $w")
    }
    val calClose = Calib.cpuMs()
    spark.stop()

    val context = Map(
      "workload" -> workload, "seed" -> seed, "seconds" -> seconds,
      "trace" -> trace, "nproc" -> cores, "spark_cores" -> cores,
      "heap_max_mb" -> Runtime.getRuntime.maxMemory / (1 << 20),
      "vocabulary_fixture" -> "sf0.1/documents.parquet (31 words, embedded)",
      "commit" -> args.getOrElse("commit", "unknown"),
      "source_stamp" -> args.getOrElse("stamp", "unknown"),
      "calib_cpu_ms_open" -> calOpen, "calib_cpu_ms_close" -> calClose,
      "checker_selftest" -> selfTest)
    val metrics = if (trace) out.layers else out.e2e
    println("GRAFTBENCH report " + Json(Map("context" -> context) ++ out.report))
    println("GRAFTBENCH result " + Json(Map(
      "correct" -> (out.correct && selfTest),
      "attempted" -> out.attempted, "failed" -> out.failed,
      "metrics" -> metrics)))
    System.out.flush()
    System.exit(0)
  }
}

object Session {
  def create(work: Path, cores: Int): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("graftbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", Files.createDirectories(work.resolve("spark-local")).toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .config("spark.hadoop.mapreduce.fileoutputcommitter.algorithm.version", "2")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
