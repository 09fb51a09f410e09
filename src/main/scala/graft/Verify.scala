package graft
import java.nio.file.{Files, Paths}
import scala.util.control.NonFatal
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    // the bench's split policy: results are partition-count invariant
    // (the oracle pins them), so verify certifies exactly what the bench runs
    val spark = GraftSession.local("graft-verify", fixtureSplits = true)
    new java.io.File(outDir).mkdirs()
    // dev-loop filter: SPARK_GRAFT_VERIFY_ONLY=q1,q2 dumps just those
    // queries (the driver never sets it, so the gate always runs all)
    val only = sys.env.get("SPARK_GRAFT_VERIFY_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    SparkEntry.queries
      .filter { case (name, _) => only.forall(_.contains(name)) }
      .foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case NonFatal(e) =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
      // drop per-call operator caches (PrefixSum pid slices, unscoped
      // admission intermediates) between queries — same bounded-cache
      // discipline as Bench
      graft.operators.PrefixSum.releaseCaches()
      graft.operators.Dedup.releaseAdmissionCaches()
    }
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), oracleSqlJson)
    // shutdown sweep: the per-query releaseCaches() above is
    // thread-scoped; this drains every thread's queue, including
    // threads that died without releasing (the documented escape
    // hatch actually runs at least once per process)
    graft.operators.PrefixSum.releaseAllCaches()
    spark.stop()
  }

  /** `SparkEntry.oracleSql` as a JSON object string — shared by the
    * verify dump and Bench's self-wired interpass (which hands it to
    * tools/time_duckdb.py). JSON string escape covers backslash, quote,
    * and ALL control chars (<0x20) — a tab or CR in builder-authored
    * SQL would otherwise make the driver's json.load fail and silently
    * zero the round's correctness. */
  def oracleSqlJson: String = {
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
  }
}
