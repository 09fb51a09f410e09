package graft.tools

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.obs.JobMeter
import graft.operators.{Dedup, SpanDedup}

/** SCALE PROBE for the incremental ADMISSION loop — the flagship
  * ingestion decision (`Dedup.admitIncoming`: exact-fingerprint
  * anti-join tier → cross-set MinHash-LSH candidate tier → Jaccard
  * verify → final anti-join) and its quality-gated form
  * (`Dedup.gateAndAdmit`: row-local Gopher gate in front), priced
  * where the DATA dominates the scheduler floor — the fixture-scale
  * declared rows (`incr_admit_exact`, `incr_clean_admit`,
  * `incr_gated_admit`, byte-exact `incr_admit_fixed` /
  * `incr_gated_admit_fixed`) prove the decision CORRECT; this probe
  * certifies the 100 TB SHAPE claim: a fixed-size incoming batch
  * admitted against a growing corpus must pay
  *
  *   - a CONSTANT Spark job count (the corpus contributes no extra
  *     stages — only its fingerprint projection to the exact anti-join
  *     and its banded-signature projection to the candidate join), and
  *   - shuffle volume that is BATCH-dominated: the corpus side ships
  *     only narrow (fingerprint, id) / (band, signature, id)
  *     projections, so bytes grow sublinearly in corpus rows and never
  *     approach a corpus rescan.
  *
  * Run per corpus scale point (default 250k / 500k / 1M documents,
  * `SPARK_GRAFT_ADMIT_CORPUS` overrides) with a fixed batch (default
  * 100k, `SPARK_GRAFT_ADMIT_BATCH`); one JSON line each for the plain
  * and gated kernels, reporting wall seconds, job count, shuffle-write
  * MB, and the admit/reject split.
  *
  * Corpus: deterministic pseudo-text from the row id (20–59 tokens,
  * ~20 % stopwords so the Gopher gate PASSES the bulk — the gated run
  * must price the full downstream chain, not an empty batch). The
  * incoming batch mixes 10 % exact duplicates of corpus docs, 10 %
  * near-duplicates (a corpus text plus one appended token →
  * Jaccard ≈ 0.97, rejected by the LSH tier), 80 % fresh docs. No
  * files: generators are projections over `spark.range`, so the probe
  * prices the admission shuffles, not parquet IO. */
object AdmitProbe {

  /** Deterministic gate-passing text for a document key: 20–59 tokens,
    * every ~5th a rotating stopword (mean word length ≈ 4.5, stopword
    * count ≥ 2, top-word fraction ≤ 0.15 — inside the Gopher bands). */
  private def textFor(key: Column): Column =
    concat_ws(" ",
      transform(
        sequence(lit(1), lit(20) + pmod(xxhash64(key), lit(40)).cast("int")),
        i => {
          val h = xxhash64(key, i)
          when(pmod(h, lit(5)) === 0,
            element_at(
              array(lit("the"), lit("and"), lit("of"), lit("to"), lit("in")),
              (pmod(xxhash64(key, i, lit(7L)), lit(5)) + 1).cast("int")))
            .otherwise(concat(lit("tok"),
              lpad(pmod(h, lit(100L)).cast("string"), 2, "0")))
        }))

  def main(args: Array[String]): Unit = {
    val spark = graft.GraftSession.local("graft-admit-probe")
    val meter = JobMeter.install(spark)

    val batch = sys.env.getOrElse("SPARK_GRAFT_ADMIT_BATCH", "100000").toLong
    val corpusSizes = sys.env.getOrElse("SPARK_GRAFT_ADMIT_CORPUS",
      "250000,500000,1000000").split(",").map(_.trim.toLong).toSeq

    def corpusOf(n: Long): DataFrame = spark.range(n)
      .select(col("id").as("doc_id"), textFor(col("id")).as("text"))

    // incoming ids start above every corpus key range; fresh TEXT keys
    // start above that again so a fresh doc never collides with any
    // corpus doc at any scale point
    def incomingOf(nCorpus: Long): DataFrame = spark.range(batch)
      .select((col("id") + lit(100000000L)).as("doc_id"),
        when(pmod(col("id"), lit(10)) === 0, // 10 % exact duplicates
          textFor(pmod(col("id"), lit(nCorpus))))
          .when(pmod(col("id"), lit(10)) === 1, // 10 % near-duplicates
            concat(textFor(pmod(col("id"), lit(nCorpus))), lit(" zqx")))
          .otherwise(textFor(col("id") + lit(200000000L)))
          .as("text"))

    // gram-key index per corpus scale point, built OUTSIDE the timed
    // window (it amortizes across batches at deployment — the
    // _gramidx_build asymmetry)
    val idxPaths = scala.collection.mutable.Map.empty[Long, String]
    def gramIdx(nCorpus: Long, corpus: DataFrame): String =
      idxPaths.getOrElseUpdate(nCorpus, {
        val p = java.nio.file.Files
          .createTempDirectory("graft-admitidx").toString
        SpanDedup.buildGramIndex(corpus, "doc_id", "text", p)
        p
      })
    def dropIdx(): Unit = {
      idxPaths.values.foreach(p =>
        org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(p)))
      idxPaths.clear()
    }

    def run(kernel: String, incoming: DataFrame, corpus: DataFrame,
            nCorpusNow: Long): Long =
      Dedup.withAdmissionScope {
        val admitted = kernel match {
          case "admit" =>
            Dedup.admitIncoming(incoming, corpus, "doc_id", "text")
          case "gated" =>
            Dedup.gateAndAdmit(incoming, corpus, "doc_id", "text")
          case "clean" =>
            // the full pretraining kernel: span-strip the batch against
            // the corpus (native Shingles grams + row-local StripSpans,
            // r18), then the two-tier admission on the cleaned text
            Dedup.cleanAndAdmit(incoming, corpus, "doc_id", "text")
          case "clean_hashed" =>
            // the at-scale strip shape: the gram semi-join ships 8-byte
            // xxhash64 keys instead of k-gram strings — decision-
            // identical (asserted in SpanDedupSpec), shuffle collapses
            Dedup.cleanAndAdmit(incoming, corpus, "doc_id", "text",
              hashGrams = true)
          case "clean_indexed" =>
            // the AMORTIZED strip shape through the PRODUCTION kernel
            // (r19: cleanAndAdmit composes the artifact directly): the
            // corpus's gram keys are a pre-built Bloom router + key
            // table — per-batch strip work is batch-bounded, the
            // corpus untouched by the strip tier
            Dedup.cleanAndAdmit(incoming, corpus, "doc_id", "text",
              gramIndexPath = Some(gramIdx(nCorpusNow, corpus)))
        }
        admitted.count()
      }

    // SPARK_GRAFT_ADMIT_KERNELS restricts the kernel list (comma-
    // separated) — the large-corpus certification points (4M/10M docs)
    // only need the kernels whose growth is being compared, and the
    // unindexed strip at 10M is minutes of deliberate corpus-rescan
    val kernels = sys.env.get("SPARK_GRAFT_ADMIT_KERNELS")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSeq)
      .getOrElse(Seq("admit", "gated", "clean", "clean_hashed",
        "clean_indexed"))
    val lines = scala.collection.mutable.ArrayBuffer.empty[String]
    // one JSON line per measured step: wall seconds, jobs, shuffle-write MB
    def measured[A](kernel: String, nCorpus: Long)(f: => A)(
        admitted: A => Long): A = {
      val (r, wall, d) = meter.measure(f)
      val line = f"""{"probe":"admit","kernel":"$kernel",""" +
        f""""corpus":$nCorpus,"batch":$batch,"admitted":${admitted(r)},""" +
        f""""wall_sec":$wall%.2f,"jobs":${d.jobs},""" +
        f""""shuffle_mb":${d.shuffleMb}%.1f,"cpus":${graft.GraftSession.cpus}}"""
      println(line)
      lines += line
      r
    }
    for (nCorpus <- corpusSizes;
         kernel <- kernels) {
      val corpus = corpusOf(nCorpus)
      val incoming = incomingOf(nCorpus)
      dropIdx() // one index per scale point, built pre-timing
      if (kernel == "clean_indexed") {
        // the artifact's AMORTIZATION table (the build-vs-probe
        // asymmetry the text index prices): one full build per corpus
        // scale point and one per-commit refresh (a batch-sized new
        // generation — the ingestion loop's steady-state maintenance
        // cost), each its own line
        val path =
          measured("idx_build", nCorpus)(gramIdx(nCorpus, corpus))(_ => 0L)
        measured("idx_refresh", nCorpus)(SpanDedup.refreshGramIndex(
          incomingOf(nCorpus).select(col("doc_id"),
            concat(col("text"), lit(" refreshgen")).as("text")),
          "doc_id", "text", path))(_ => 0L)
        // the refreshed keys carry a ' refreshgen' suffix, so they
        // change no clean_indexed stripping decision below (grams are
        // 8-token windows of UNCHANGED text prefixes... they do add
        // windows spanning into the suffix; a Bloom/key superset only
        // ever routes MORE positions to the confirm join, and the
        // confirm join is exact, so probe decisions stay identical to
        // the pre-refresh artifact for text not containing the new
        // grams). Rebuild anyway for a clean measurement surface.
        dropIdx(); gramIdx(nCorpus, corpus)
      }
      run(kernel, incoming, corpus, nCorpus) // unmeasured warm pass (codegen)
      measured(kernel, nCorpus)(
        run(kernel, incoming, corpus, nCorpus))(identity)
    }
    dropIdx()
    spark.stop()
    // re-print the full table after Spark's shutdown noise
    println(lines.mkString("\n"))
  }
}
