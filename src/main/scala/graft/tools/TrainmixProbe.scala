package graft.tools

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.operators.{Dedup, PrefixSum, TextAnalysis}

/** SCALE PROBE for the chained training-mix pipeline — the e2e
  * completion of the per-operator probes (CcProbe for components,
  * ScaleProbe for the exact join): `q_trainmix_e2e`'s exact stage
  * chain — exact dedup (min-row per token fingerprint) → row-local
  * repetition filter → stratified hash admission → two-phase per-lang
  * token budget → packing aggregate — over a SYNTHETIC 1M-document
  * corpus (default; `SPARK_GRAFT_TRAINMIX_DOCS` overrides), reporting
  * wall seconds, Spark job count, and total shuffle-write bytes.
  *
  * The fixture-scale declared row proves the chain CORRECT against the
  * chained DuckDB oracle; this probe prices the same plan where the
  * data dominates the scheduler floor, certifying the shape the plan
  * audit claims: one corpus-wide dedup shuffle, row-local quality and
  * admission projections (no second corpus pass), a prefix scan whose
  * parallelism never collapses to one task per language, and a
  * partial+final packing aggregate.
  *
  * Corpus: deterministic pseudo-text from the row id (10–59 tokens
  * from a 1000-token vocabulary), ~10 % exact duplicates by
  * construction (`id % (n*9/10)` feeds the generator), 5 languages.
  * No files: the generator is a projection over `spark.range`, so the
  * probe prices the pipeline's shuffles, not parquet IO. */
object TrainmixProbe {
  def main(args: Array[String]): Unit = {
    val spark = graft.GraftSession.local("graft-trainmix-probe")
    val meter = graft.obs.JobMeter.install(spark)

    val n = sys.env.getOrElse("SPARK_GRAFT_TRAINMIX_DOCS", "1000000").toLong

    // ~10 % duplicate docs: the text generator keys on id % dupBase
    val dupBase = math.max(1L, n * 9 / 10)
    val docs: DataFrame = spark.range(n)
      .select(col("id").as("doc_id"),
        element_at(
          array(lit("en"), lit("en"), lit("en"), lit("fr"), lit("fr"),
            lit("de"), lit("es"), lit("ja"), lit("en"), lit("fr")),
          (pmod(col("id"), lit(10)) + 1).cast("int")).as("lang"),
        concat_ws(" ",
          transform(
            sequence(lit(1), lit(10) + pmod(col("id") % lit(dupBase), lit(50))
              .cast("int")),
            // per-(doc, position) hash keeps the 1M texts genuinely
            // distinct (a plain modular product collapses to id mod
            // 1000, which the dedup stage would eat whole)
            i => concat(lit("tok"),
              pmod(xxhash64(col("id") % lit(dupBase), i),
                lit(1000L))))).as("text"))

    // q_trainmix_e2e's chain, verbatim shape (thresholds scaled so the
    // budget stage processes a corpus-order kept set, not a handful)
    def run(): Long = {
      val bucket = pmod(pmod(col("doc_id"), lit(1000003L)) * lit(2654435761L),
        lit(1000L))
      val thresh = when(col("lang") === "en", 500)
        .when(col("lang") === "fr", 250).otherwise(100)
      val dd = Dedup.dropDuplicatesByKey(
        docs.select(col("doc_id"), col("lang"), col("text")),
        Dedup.tokenFingerprint(col("text")), col("doc_id"))
      val kept = dd
        .filter(TextAnalysis.repetitionRatioCol(col("text")) <= 0.9 &&
          bucket < thresh)
        .select(col("doc_id"), col("lang"),
          size(TextAnalysis.tokens(col("text"))).cast("long").as("n_tokens"))
      val out = PrefixSum.groupedRunningSum(kept, "lang", "doc_id",
          "n_tokens", "cum", smallInputBytes = 0L)
        .filter(col("cum") <= 4000000L)
        .withColumn("seq_id", floor(col("cum") / lit(4096.0)))
        .groupBy(col("lang"), col("seq_id"))
        .agg(count(lit(1)).as("n_docs"), sum(col("n_tokens")).as("seq_tokens"))
      val rows = out.count()
      PrefixSum.releaseCaches()
      rows
    }

    // one unmeasured warm pass (codegen), then the measured run
    run()
    val (seqRows, wall, d) = meter.measure(run())
    println(f"""{"probe":"trainmix_e2e","docs":$n,"seq_rows":$seqRows,""" +
      f""""wall_sec":$wall%.2f,"jobs":${d.jobs},""" +
      f""""shuffle_mb":${d.shuffleMb}%.1f,"cpus":${graft.GraftSession.cpus}}""")
    spark.stop()
  }
}
