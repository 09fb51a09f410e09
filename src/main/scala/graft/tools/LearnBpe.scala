package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.BpeTokenizer

/** One-shot generator for the checked-in BPE merges table
  * (`src/main/resources/graft/bpe_merges.txt`) — the public BPE training
  * recipe (Sennrich et al. 2016), DataFrame-native end to end:
  *
  *   - corpus word frequencies are a DataFrame aggregation
  *     ([[graft.operators.TextAnalysis.wordFreq]]);
  *   - EACH MERGE ITERATION is a distributed pair-count
  *     (adjacent-symbol explode → groupBy → sum) + argmax
  *     (orderBy + limit 1), so the DRIVER holds exactly ONE winning pair
  *     per iteration — never the pair-count table, never the vocabulary
  *     (the round-6 shape collected the full word-frequency dictionary
  *     and looped driver-side; at web scale that dictionary is
  *     billions of types);
  *   - the merge is applied as a pure array-fold projection over the
  *     vocabulary (left-to-right non-overlapping, exactly
  *     [[BpeTokenizer.learn]]'s semantics — equivalence property-tested
  *     in BpeSpec), with per-iteration lineage truncation so the plan
  *     stays one generation deep (same checkpointGen discipline as
  *     `Dedup.connectedComponents`).
  *
  * Deterministic: ties break lexicographically on (left, right); the
  * corpus alphabet is single-byte, where Spark's binary UTF-8 string
  * ordering and the JVM's UTF-16 ordering agree.
  *
  *   runMain graft.tools.LearnBpe <sfDir> <outFile> [numMerges]
  */
object LearnBpe {

  /** DataFrame-native BPE merge learning over a (word, freq) relation.
    * Returns the merges in priority order; the driver holds one
    * (left, right) pair per iteration plus the result list.
    *
    * A loop over a SMALL input (leaf stats under the PlanGate bound)
    * runs with AQE off for its whole duration: every iteration
    * is one pair-count exchange + a driver argmax, and AQE's
    * per-exchange query-stage materialization pays one scheduler-floor
    * job per shuffle with nothing to re-plan — at 12 merges that was
    * 28 jobs for ~0.2 s of task time (r19 profile). The gate keys on
    * the INPUT relation (parquet-backed stats; the loop's own
    * checkpointed generations only shrink), so a billion-type
    * vocabulary keeps adaptive planning — skew splits on hot symbol
    * pairs are exactly what matters there. Results are partitioning-
    * invariant either way (exact counts, total-order argmax). */
  def learnDistributed(spark: SparkSession, wordFreq: DataFrame,
                       numMerges: Int): IndexedSeq[(String, String)] =
    graft.sources.VersionedCorpus.withAqeOff(spark,
      graft.PlanGate.leafBytes(wordFreq)
        <= BigInt(graft.PlanGate.smallPlanBytes))(s =>
      learnDistributedImpl(graft.PlanGate.rebind(s, wordFreq), numMerges))

  private def learnDistributedImpl(wordFreq: DataFrame,
                                   numMerges: Int): IndexedSeq[(String, String)] = {
    // lineage truncation per generation: a LAZY LOCAL CHECKPOINT — the
    // next iteration's pair-count job materializes it, after which both
    // the logical plan AND the RDD object graph are cut at this
    // generation. A plain persist/re-frame bounds only the PLAN: the
    // chained MapPartitionsRDD graph still deepens by one per merge, and
    // at ~150 generations task deserialization overflows the stack
    // (observed). 200 merges need the RDD cut too.
    def checkpointGen(df: DataFrame): DataFrame = df.localCheckpoint(false)

    // initial vocabulary: each word split into single-char symbols with
    // the end-of-word marker fused onto the final one (BpeTokenizer's
    // contract); identical symbol sequences fold together ONCE here —
    // later merges never create new rows, and pair counting is linear in
    // rows, so no per-iteration regroup is needed
    val chars = split(col("word"), "")
    val syms = concat(
      slice(chars, lit(1), size(chars) - 1),
      array(concat(element_at(chars, -1), lit("</w>")))) // BpeTokenizer EOW
    var vocab = checkpointGen(wordFreq
      .toDF("word", "f")
      .filter(length(col("word")) > 0)
      .select(syms.as("syms"), col("f").cast("long").as("f"))
      .groupBy(col("syms")).agg(sum(col("f")).as("f")))
    var prev: DataFrame = null

    val merges = IndexedSeq.newBuilder[(String, String)]
    try {
      var m = 0
      var exhausted = false
      while (m < numMerges && !exhausted) {
        // THE iteration job: adjacent pairs (zip of the two shifted
        // views) → explode → partial-aggregated count → global argmax
        // with lexicographic tie-break. limit(1) after a total order =
        // one row to the driver.
        val pairs = vocab.select(explode(zip_with(
            slice(col("syms"), lit(1), size(col("syms")) - 1),
            slice(col("syms"), lit(2), size(col("syms")) - 1),
            (a, b) => struct(a.as("a"), b.as("b")))).as("p"), col("f"))
          .groupBy(col("p.a").as("a"), col("p.b").as("b"))
          .agg(sum(col("f")).as("cnt"))
        val best = pairs
          .orderBy(desc("cnt"), asc("a"), asc("b"))
          .limit(1).collect()
        // the argmax job just materialized `vocab`'s cache, so the
        // superseded generation can be released now (not earlier: its
        // successor's RDD lineage reads it until first materialization)
        if (prev != null) { prev.unpersist(); prev = null }
        if (best.isEmpty) exhausted = true
        else {
          val (a, b) = (best(0).getString(0), best(0).getString(1))
          merges += ((a, b))
          // apply the merge left-to-right, non-overlapping, as a pure
          // fold: append each symbol, but when the accumulator's LAST
          // symbol is `a` and the incoming one is `b`, replace that last
          // symbol with the merged token. Exactly BpeTokenizer.learn's
          // scan (a just-merged token can never re-merge within the
          // pass: a+b is a strict superstring of both a and b).
          val merged = a + b
          val applied = aggregate(col("syms"),
            array().cast("array<string>"),
            (acc, s) => when(
              size(acc) > 0 &&
                element_at(acc, -1) === lit(a) && s === lit(b),
              concat(slice(acc, lit(1), size(acc) - 1), array(lit(merged))))
              .otherwise(concat(acc, array(s))))
          val next = checkpointGen(
            vocab.select(applied.as("syms"), col("f")))
          prev = vocab
          vocab = next
          m += 1
        }
      }
      merges.result()
    } finally {
      vocab.unpersist()
      if (prev != null) prev.unpersist()
    }
  }

  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val out = args(1)
    val numMerges = if (args.length > 2) args(2).toInt else 200
    val spark = graft.GraftSession.local("graft-learn-bpe")
    try {
      val wordFreq = graft.operators.TextAnalysis
        .wordFreq(graft.Tables.load(spark, sfDir, "documents"), "text")
      val merges = learnDistributed(spark, wordFreq, numMerges)
      val w = new java.io.PrintWriter(out, "UTF-8")
      try {
        w.println(s"# BPE merges learned from $sfDir documents " +
          s"(graft.tools.LearnBpe, ${merges.length} merges, deterministic)")
        merges.foreach { case (a, b) => w.println(s"$a $b") }
      } finally w.close()
      println(s"[learn-bpe] wrote ${merges.length} merges to $out")
    } finally spark.stop()
  }
}
