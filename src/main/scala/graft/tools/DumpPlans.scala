package graft.tools

import java.nio.file.{Files, Paths}

import scala.util.control.NonFatal

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.Queries

/** Regenerates PLANS.md: `explain("formatted")` for the plan-shape-
  * critical queries, with a note on what to look for in each. Run:
  * `sbt "runMain graft.tools.DumpPlans"` after changing any of them.
  * With a fixture dir, a suffix and query names it dumps those queries'
  * plans to files instead (see [[main]]). */
object DumpPlans {

  private val watched: Seq[(String, String)] = Seq(
    "knn_topk" -> ("per-partition heap top-k: Scan → Project(graft_dot) → " +
      "TakeOrderedAndProject; NO Exchange, NO global Sort"),
    "sq_topk" -> ("compressed-scan top-k: the codes-table scan carries the " +
      "NATIVE sqscoreexpr kernel in a codegen'd (starred) Project — no " +
      "interpreted HOF fold on the scan path — then TakeOrderedAndProject " +
      "for the candidate cut and a broadcast join back to raw vectors " +
      "for the bounded exact re-rank; the corpus side never shuffles"),
    "pq_topk" -> ("PQ ADC top-k: same shape as sq_topk with the native " +
      "pqadcscoreexpr table-lookup fold riding the codes scan — m byte " +
      "lookups per row inside whole-stage codegen, candidate cut as " +
      "TakeOrderedAndProject, r-bounded broadcast re-rank"),
    "q_filter_pushdown" -> ("PushedFilters carries both predicates into the " +
      "parquet scan; ReadSchema has only the 3 projected columns + filter column"),
    "jl_search_rerank" -> ("JL reduce-then-refine: the 16-dot projection is " +
      "inlined in the scan's Project, both the projected candidate cut and " +
      "the exact re-rank are TakeOrderedAndProject — NO Exchange, no Window, " +
      "no join back (the 50-row candidate set carries its embedding through)"),
    "q_region_acct" -> "two BroadcastHashJoins; the fact side is never shuffled for the join",
    "knn_join" -> ("BroadcastNestedLoopJoin (tiny query side broadcast) → " +
      "partial ObjectHashAggregate (map-side top-k) → final aggregate; no Window"),
    "q1_pricing" -> "two-phase HashAggregate (partial above the scan, final after one shuffle)",
    "q_asof" -> "sort-merge range join on user_id, then partial+final max(struct) pick",
    "q_corr_subquery" -> ("Catalyst decorrelation: the correlated scalar count " +
      "becomes an aggregate + outer join — no per-row subquery execution"),
    "q_extract_chunks" -> ("binary ingest path: scan → encode → " +
      "per-partition extraction (SerializeFromObject/MapPartitions) → " +
      "explode chunker; embarrassingly parallel, no shuffle before the sort"),
    "q_decontaminate" -> ("decontamination scan: training side shingled " +
      "row-locally and joined against the BROADCAST eval shingle set — " +
      "document text never shuffles, only (doc_id, count) partials do"),
    "q_bpe_tokens" -> ("real BPE subword counting: Scan → Project → " +
      "TakeOrderedAndProject; NO shuffle — tokenization is embarrassingly " +
      "parallel, and with the r14 native graft_tokens expression the " +
      "whole projection (graft_bpe + whitespace-twin count) fuses into " +
      "starred whole-stage codegen"),
    "q_token_budget" -> ("two-phase prefix sum (PrefixSum." +
      "groupedRunningSum): ONE range exchange on (lang, doc_id) inside a " +
      "PERSISTED InMemoryRelation both phases scan (pid frozen by " +
      "construction — r14), per-(partition, lang) partial sums as a " +
      "tiny aggregate, offsets window over that tiny relation, then the " +
      "(lang, _ps_pid)-salted local window + BroadcastHashJoin of the " +
      "offsets — parallelism is the partition count, never #langs; no " +
      "bare partitionBy(lang) window anywhere"),
    "q_repetition" -> ("row-local repetition ratio: Scan → " +
      "Project(sorted-gram longest-run fold + shingle count) → sort — " +
      "NO Generate, NO HashAggregate, no gram-stream Exchange (the " +
      "aggregate twin repetitionStats explodes every 2-gram into a " +
      "corpus-token-sized shuffle; it survives only as the spec " +
      "cross-check)"),
    "q_pack_sequences" -> ("sequence packing: the two-phase prefix scan " +
      "(see q_token_budget) → floor bucket projection → partial+final " +
      "HashAggregate on (lang, seq_id) — integer sums, no float " +
      "retraction, no per-lang single-task window"),
    "q_trainmix_e2e" -> ("training-mix assembly chain in ONE pass: scan → " +
      "dedup (partial+final min-row agg, the only corpus-wide shuffle) → " +
      "row-local repetition-ratio + hash-admission filters (pure " +
      "projection — no repetitionStats join, no second dedup subtree) → " +
      "two-phase prefix scan → packing aggregate"),
    "span_dedup" -> ("substring-span dedup: Generate(posexplode grams) → " +
      "TWO-PHASE count-distinct on the gram key (partial on (gram, doc) " +
      "map-side, so a boilerplate gram ships once per task) → equi-join " +
      "positions back on gram (never all-pairs — docs meet only at gram " +
      "keys) → per-doc window gaps-and-islands → partial+final coverage " +
      "agg; ReadSchema of the documents scan is (doc_id, text) only"),
    "incr_dedup_bloom" -> ("Bloom-routed incremental dedup: the corpus " +
      "key set was folded into a Bloom filter before this plan (one " +
      "distributed pass + driver register merge); the incoming scan is " +
      "split by the codegen'd BloomFilterMightContain probe on the " +
      "plan-literal filter — definite-no rows flow STRAIGHT to the " +
      "union, and only the might-contain sliver enters the left-anti " +
      "join against the corpus' distinct-key projection, so at scale " +
      "the anti-join shuffle carries ~fpp of a mostly-novel batch " +
      "instead of all of it"),
    "q_lm_bigram" -> ("bigram-LM quality scoring: model training (two " +
      "partial+final hash-aggs over the exploded token / bigram-index " +
      "relations) and document scoring live in ONE lazy plan; model " +
      "lookups are equi-joins on the bigram/word key, the 1-row vocab " +
      "aggregate rides in as an explicit broadcast, and no join " +
      "touches document text — only (doc, key, count) rows shuffle"),
    "q_quality_gate" -> ("composed quality gate: three independent " +
      "signal subtrees — row-local stop-ratio projection, " +
      "partial+final repetition aggregate, and the LM scoring join " +
      "chain — meet ONLY on doc_id equi-joins; the verdict is a pure " +
      "projection over the joined signal columns, so the gate adds no " +
      "shuffle beyond its constituent operators"),
    "incr_heavy_hitters" -> ("candidate-tracked count-min heavy " +
      "hitters: the CMS build and the UDAF merge are partial+final " +
      "ObjectHashAggregates (map-side grids, the shuffle carries one " +
      "kilobyte grid per task×lang), candidates come from a " +
      "partial+final token-count agg + per-(lang,batch) window over " +
      "COUNTS, the merged one-row-per-lang sketch relation rides into " +
      "the lookup join as an explicit BROADCAST, and document text " +
      "never shuffles — it is consumed by the row-local explode"),
    "sq_topk" -> ("SQ8 quantized search: codes-table scan → score " +
      "projection (lookup fold over the (qᵢ·Δᵢ) plan literal — no " +
      "raw-vector read) → TakeOrderedAndProject for the top-r " +
      "candidates → BroadcastHashJoin back to the raw vectors for the " +
      "bounded exact re-rank; the corpus side never shuffles"),
    "q_temperature_mix" -> ("temperature mix: one tiny per-source agg " +
      "(partial+final) → |sources| integer threshold rows BROADCAST " +
      "back onto the corpus scan → row-local hash admission → " +
      "partial+final rollup; the corpus flows exactly once"),
    "q_bm25" -> ("BM25 keyword ranking: the token array is FILTERED to " +
      "the query terms BEFORE the explode, so the tf exchange carries " +
      "only query-term hits (O(hits), never O(corpus tokens)); the df " +
      "relation and the 1-row (N, avgdl) stats ride into the scoring " +
      "join as explicit broadcasts; final per-doc partial+final agg"),
    "hybrid_rrf" -> ("hybrid fusion: each ranker is top-k-bounded " +
      "(TakeOrderedAndProject) BEFORE its rank window, so the " +
      "partition-less windows see ≤ k rows; the RRF fusion is a " +
      "full-outer join of two k-row relations — the heavy lifting " +
      "stays in the rankers"),
    "semantic_dedup" -> ("SemDeDup: the within-cluster pairwise cosine " +
      "is an equi-join on the cluster key (cells bound the quadratic " +
      "— n·√n overall under k ≈ √n sizing), drops are a distinct id " +
      "projection, survivors a left-anti join; document vectors never " +
      "meet outside their cell"),
    "exact_jaccard_join" -> ("exact similarity join, subquadratic: one " +
      "linear (token → df) agg → per-doc prefix (window over own " +
      "shingles only) → inverted-index equi-join on PREFIX tokens + " +
      "length-band filter → exact verify on candidates only; no " +
      "all-pairs subtree anywhere. A stats-adaptive exact-dup collapse " +
      "(hash-keyed min-struct groups, expansion joins output-bounded) " +
      "fronts the core on duplication-heavy corpora"),
    "bm25_topk_many" -> ("batched keyword search: ONE corpus pass for " +
      "all queries — union-term filter before the explode, broadcast " +
      "(qid, word) scoring join, per-query top-k via the map-side " +
      "bounded aggregator (≤ k rows per task per query cross the wire)"),
    "incr_admit_exact" -> ("guaranteed-exact admission: fingerprint " +
      "anti-join (corpus contributes its distinct-key projection) → " +
      "cross-set prefix join (both sides' prefixes under one global " +
      "df order; cross pairs only) → side-safe verify → anti-join; " +
      "deterministic end to end, no seeded tier"),
    "filtered_knn" -> ("filtered vector search, pre-filter form: the " +
      "metadata predicate is pushed into the documents scan " +
      "(PushedFilters), the semi-join against the vector table is a " +
      "BroadcastHashJoin (small filtered side), and the top-k is the " +
      "same TakeOrderedAndProject as unfiltered search — no global " +
      "sort, no shuffle of the vector table"),
    "media_phash_near" -> ("perceptual image near-dup, the 100 TB " +
      "shape: per-partition REAL decode (MapPartitions — payload " +
      "never shuffles), 4×16-bit band explode, equi-join on " +
      "(band, key) — never an all-pairs cross — then the Hamming " +
      "verify BEFORE the distinct so the exchange carries only " +
      "surviving (id, id, hamming) longs"))

  /** Plan-shape-critical OPERATOR INTERNALS whose declared queries
    * materialize eagerly (their final plans are LocalTableScans): built
    * directly here so the interesting intermediate plan is rendered. */
  private def extras(spark: SparkSession, dir: String): Seq[(String, String, org.apache.spark.sql.DataFrame)] = {
    import org.apache.spark.sql.functions._
    val emb = graft.Tables.load(spark, dir, "embeddings")
    val vecs = emb.select(col("vec_id").as("_id"),
      transform(col("embedding"), _.cast("double")).as("_v"))
    val cents = vecs.orderBy("_id").limit(4).collect().toIndexedSeq
      .zipWithIndex.map { case (r, i) => (i, r.getSeq[Double](1).toIndexedSeq) }
    val assigned = graft.operators.IvfIndex.withCluster(vecs, cents)
    val iterAgg = assigned
      .select(col("cluster_id"), posexplode(col("_v")).as(Seq("dim", "x")))
      .groupBy(col("cluster_id"), col("dim"))
      .agg(sum(col("x")).as("sx"), count(lit(1)).as("n"))
    val docs = graft.Tables.load(spark, dir, "documents")
    val winnow = graft.operators.NearDup.winnowCandidates(docs, "doc_id", "text")
    // one CC propagation round via the SAME builder the
    // Dedup.connectedComponents loop executes
    val edges = docs.filter(col("doc_id") < 10)
      .select(col("doc_id").as("id_a"), (col("doc_id") + 1).as("id_b"))
    val e = edges.select(col("id_a").as("_src"), col("id_b").as("_dst"))
      .union(edges.select(col("id_b").as("_src"), col("id_a").as("_dst")))
    val labels = docs.select(col("doc_id").as("_v"),
      col("doc_id").as("component"))
    val ccRound = graft.operators.Dedup.propagateRound(e, labels)
    // the SAME pipeline builder the declared near_dup_embed_lsh query
    // materializes (minus its persist/localFrame lifecycle)
    val lshBase = emb.select(col("vec_id"), col("embedding"))
    val lshMeta = lshBase.agg(count(lit(1)).as("n"),
      first(size(col("embedding"))).as("d")).head()
    val lshVerify = Queries.lshNearDupVerify(lshBase,
      lshMeta.getLong(0), lshMeta.getInt(1))
    Seq(
      ("near_dup_embed_lsh (verify stage)",
        "bucketed near-dup verify stage: the candidate pairs are a " +
          "LocalTableScan (materialized once, broadcast into both verify " +
          "joins); vector sides are pruned to candidate-touched ids by a " +
          "driver-derived IN filter pushed into each scan (the spine is " +
          "already local, so no distributed union+distinct+broadcast " +
          "round-trip) — no corpus×corpus join anywhere",
        lshVerify),
      ("ivf_assign (IvfIndex.withCluster)",
        "k-means assignment is a ZERO-SHUFFLE projection: Scan → Project " +
          "folding over the plan-constant centroid array (graft_l2 inner " +
          "loop, lexicographic (dist, cluster) min); no crossJoin, no " +
          "groupBy(_id), no Exchange",
        assigned),
      ("ivf_update (per-iteration agg)",
        "the Lloyd iteration's ONE exchange: posexplode → partial " +
          "HashAggregate above the scan (map-side combine) → Exchange on " +
          "(cluster_id, dim) → final HashAggregate; k·d tiny rows to the " +
          "driver, no vecs ⋈ assignments re-join",
        iterAgg),
      ("winnow_pairs (candidate join)",
        "winnowing near-dup: Project(graft_winnow) → Generate(explode) → " +
          "shuffle equi-join on the fingerprint hash → partial+final " +
          "count per pair — docs meet only inside a fingerprint bucket, " +
          "never all-pairs",
        winnow),
      ("dedup_clusters (one propagation round)",
        "connected-components round: edges ⋈ labels (equi-join on vertex " +
          "id — broadcast at fixture scale because the post-threshold " +
          "edge set is tiny, shuffle when it isn't) unioned with own " +
          "labels → partial+final min(component) per vertex; the " +
          "exchange carries (id, label) longs only",
        ccRound),
      ("dedup CC (hub-salted propagation round)",
        "the dense-clique/mirror-hub variant (saltFactor=4): the label " +
          "side is replicated 4× with explode, the edge side's salt is " +
          "derived from _src (deterministic, row-distinguishing within a " +
          "hot _dst key), the join key becomes (_dst, _salt) — one hot " +
          "vertex's fan-in spreads over 4 tasks; downstream min-agg is " +
          "unchanged (partial aggregation already collapses hub fan-in " +
          "map-side)",
        graft.operators.Dedup.propagateRound(e, labels, saltFactor = 4)),
      ("textindex_bm25 (TextIndex.bm25)", {
        val tix = java.nio.file.Files
          .createTempDirectory("graft-plans-tix").toString + "/index"
        graft.operators.TextIndex.build(
          docs.select(col("doc_id"), col("text")),
          "doc_id", "text", tix, shards = 16)
        graft.operators.TextIndex.bm25(spark, tix,
          Seq("data", "query", "spark"))
      }) match { case (n, df) => (n,
        "indexed BM25: the scan reads ONLY the query terms' shard " +
          "directories (selected driver-side — structural pruning, the " +
          "other shards are never listed) with the token IN-list in " +
          "PushedFilters; df is a broadcast agg over the pruned " +
          "postings, stats a 1-row broadcast; no tokenize, no corpus " +
          "scan anywhere in the plan", df) },
      ("ivfpq_probe (PqIndex.probeIvfPq)", {
        "residual IVF-PQ probe: the codes scan carries PartitionFilters " +
          "(cluster_id IN probed set — planning-time pruning, only the " +
          "probed cells' files open) → Project(coarse-term map lookup + " +
          "residual ADC fold over the 1-byte codes; no raw-vector read) " +
          "→ TakeOrderedAndProject; every post-scan exchange carries " +
          "only the k-row result (top-k, then the rank window)"
      }, {
        val ix = Queries.sharedIvfPqIndex.get(spark, dir)
        val ivf = Queries.sharedIvfIndex.get(spark, dir)
        graft.operators.PqIndex.probeIvfPq(spark, ix.codesPath, "vec_id",
          ivf.centroids.frame(spark), graft.QueryVectors.q1, ix.codebooks,
          k = 10, nprobe = ix.nprobe)
      }))
  }

  /** `explain("formatted")` without JVM identity hashes
    * (Aggregator@1a2b3c4d), so regenerating a dump doesn't churn
    * meaningless diffs. */
  private def formatted(df: DataFrame): String =
    df.queryExecution.explainString(
      org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
      .replaceAll("@[0-9a-f]{6,10}", "@...")

  /** `DumpPlans [sfDir]` regenerates PLANS.md (default fixture sf0.001;
    * plan shapes are scale-independent). `DumpPlans <sfDir> <suffix>
    * <query> [query...]` instead writes `<query>_<suffix>.txt` for each
    * named declared query into `SPARK_GRAFT_PLANS_DIR` (default `plans`)
    * — before/after plan evidence for exactly the rows a change touches.
    * Both run under the bench's split policy, so the dumped plans are
    * the executed ones. */
  def main(args: Array[String]): Unit = {
    require(args.length != 2, "usage: DumpPlans [sfDir [suffix query...]]")
    val spark = graft.GraftSession.local("graft-dump-plans", fixtureSplits = true)
    val dir = args.headOption.getOrElse("/root/testdata/sf0.001")
    if (args.length > 2) dumpQueries(spark, dir, args(1), args.drop(2).toSeq)
    else dumpPlansMd(spark, dir)
    spark.stop()
  }

  private def dumpQueries(spark: SparkSession, dir: String,
                          suffix: String, names: Seq[String]): Unit = {
    val outDir = Paths.get(sys.env.getOrElse("SPARK_GRAFT_PLANS_DIR", "plans"))
    Files.createDirectories(outDir)
    names.foreach { name =>
      val out = outDir.resolve(s"${name}_$suffix.txt")
      try {
        Files.writeString(out, formatted(Queries.all(name).planFrame(spark, dir)))
        println(s"[plandump] wrote $out")
      } catch {
        case NonFatal(t) => System.err.println(s"[plandump] $name failed: $t")
      }
    }
  }

  private def dumpPlansMd(spark: SparkSession, dir: String): Unit = {
    val sb = new StringBuilder
    sb.append("# PLANS — physical plans of the shape-critical queries\n\n")
    sb.append("Generated by `graft.tools.DumpPlans` (sf0.001 inputs; plan shapes\n")
    sb.append("are scale-independent). `PlanSpec` asserts these properties in CI\n")
    sb.append("form; this file is the human-readable rendering.\n")
    def render(name: String, note: String, df: DataFrame): Unit =
      sb.append(s"\n## $name\n\n$note\n\n```\n${formatted(df)}```\n")
    // planFrame: rows that collect to a LocalRelation dump their lazy
    // plan-view twin (the distributed shape the collect executes)
    watched.foreach { case (name, note) =>
      render(name, note, Queries.all(name).planFrame(spark, dir))
    }
    val ex = extras(spark, dir)
    ex.foreach { case (name, note, df) => render(name, note, df) }
    Files.writeString(Paths.get("PLANS.md"), sb.toString)
    println(s"wrote PLANS.md (${watched.size + ex.size} plans)")
  }
}
