package graft

import scala.collection.immutable.ListMap

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

import graft.functions.{Embedder, TransformerEmbedder, VectorFunctions}
import graft.functions.VectorFunctions._
import graft.operators.{Decontaminate, Dedup, Expectations, Forget, IvfIndex, LangId, Multimodal, NearDup, PdfText, PqIndex, Sampling, Search, Sketch, SpanDedup, SqIndex, TextAnalysis, TextIndex}
import graft.sources.{IncrementalView, VersionedCorpus}
import graft.streaming.Streams


/** Near-dup verification tier (oracle-expressible pieces).
  *
  * One tier of [[Queries.all]] — split from the single registry so a
  * reviewer can hold each family; mixed back into [[Queries]], which
  * concatenates the tiers in the original declaration order (bench and
  * oracle iteration order unchanged). Helpers, shared builds, and the
  * determinism contract live on [[Queries]] itself. */
private[graft] trait QueriesTierNearDupVerify { this: Queries.type =>

  private[graft] lazy val tierNearDupVerify: ListMap[String, DeclaredQuery] = ListMap(

    // ----- near-dup verification tier (oracle-expressible pieces) ---------

    "jaccard_pairs" -> DeclaredQuery(
      (s, dir) => {
        val sub = T(s, dir, "documents").filter(col("doc_id") < 40)
        val pairs = sub.select(col("doc_id").as("id_a"))
          .crossJoin(sub.select(col("doc_id").as("id_b")))
          .filter(col("id_a") < col("id_b"))
        NearDup.jaccardVerify(sub, "doc_id", "text", pairs, shingleSize = 1)
          .filter(col("jaccard") >= 0.5)
          .orderBy(col("id_a"), col("id_b"))
      },
      Some("""WITH d AS (
         |  SELECT doc_id,
         |    list_distinct(list_filter(string_split(text, ' '), x -> x <> '')) AS s
         |  FROM documents WHERE doc_id < 40
         |    AND len(list_filter(string_split(text, ' '), x -> x <> '')) > 0)
         |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
         |  round(len(list_intersect(a.s, b.s))::DOUBLE
         |    / len(list_distinct(a.s || b.s)), 4) AS jaccard
         |FROM d a JOIN d b ON a.doc_id < b.doc_id
         |WHERE round(len(list_intersect(a.s, b.s))::DOUBLE
         |    / len(list_distinct(a.s || b.s)), 4) >= 0.5
         |ORDER BY id_a, id_b""".stripMargin),
      "B8 verify: token-set Jaccard over candidate pairs"),

    "exact_jaccard_join" -> DeclaredQuery(
      // EXACT similarity self-join over the WHOLE corpus without an
      // all-pairs comparison: prefix-filtered candidates (AllPairs/
      // PPJoin bound — rarest-first token order, per-doc prefixes,
      // inverted-index join) + exact verify. The oracle replays the
      // quadratic all-pairs form — identical rows proves the prefix
      // bound lost nothing, which is the operator's whole claim.
      (s, dir) => NearDup.prefixJaccardJoin(T(s, dir, "documents"),
          "doc_id", "text", minJaccard = 0.8)
        .orderBy(col("id_a"), col("id_b")),
      Some("""WITH t AS (SELECT doc_id,
         |         list_filter(string_split(text, ' '), x -> x <> '') AS t
         |       FROM documents),
         |d AS (SELECT doc_id, list_distinct(
         |        CASE WHEN len(t) < 3 THEN [array_to_string(t, ' ')]
         |             ELSE list_transform(range(1, len(t) - 1),
         |                    i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])
         |        END) AS s
         |      FROM t WHERE len(t) > 0)
         |SELECT id_a, id_b, jaccard FROM (
         |  SELECT a.doc_id AS id_a, b.doc_id AS id_b,
         |    round(len(list_intersect(a.s, b.s))::DOUBLE
         |      / len(list_distinct(a.s || b.s)), 4) AS jaccard
         |  FROM d a JOIN d b ON a.doc_id < b.doc_id)
         |WHERE jaccard >= 0.8 ORDER BY id_a, id_b""".stripMargin),
      "exact Jaccard self-join via prefix filtering (AllPairs/PPJoin) ≡ all-pairs oracle"),

    "minhash_recall" -> DeclaredQuery(
      // driver-visible LSH-tier QUALITY evidence (the ivf_recall
      // discipline applied to text dedup): candidate recall of the
      // shared MinHash memo against the EXACT ≥ 0.8 pair set — which
      // the prefix-filtered exact join computes subquadratically, so
      // the ground truth itself scales (an all-pairs exact side would
      // be quadratic in the corpus). Seeded-hash candidates →
      // rows-only; the VALUE is the point: banding that loses dup
      // pairs surfaces here as a recall drop, driver-visible.
      (s, dir) => {
        val exact = sharedExactPairs(s, dir).select(col("id_a"), col("id_b"))
        val got = sharedMinhashVerified(s, dir)
          .filter(col("jaccard") >= 0.8).select(col("id_a"), col("id_b"))
        val hit = exact.join(got, Seq("id_a", "id_b"), "left_semi")
        localFrame(exact.agg(count(lit(1)).as("n_exact"))
          .crossJoin(hit.agg(count(lit(1)).as("n_hit")))
          .select(col("n_exact"), col("n_hit"),
            r4(col("n_hit").cast("double") / col("n_exact")).as("recall")))
      },
      None,
      "MinHash-LSH candidate recall vs the exact prefix-join pair set"),

    "near_dup_tier_recall" -> DeclaredQuery(
      // the WHOLE candidate-tier dashboard in one row set — coverage of
      // the exact ≥ 0.8 Jaccard ground truth (the prefix-join memo) by
      // each candidate generator a pipeline might deploy alone:
      // MinHash-LSH (the designed-for-this tier — its number is the
      // calibrated ≥ 0.9 promise), SimHash hamming buckets and
      // winnowing fingerprints (different dup definitions — their
      // coverage of the Jaccard truth is exactly what a user choosing
      // ONE tier needs to see, and WHY the admission kernel runs the
      // MinHash tier). Seeded hashes throughout → rows-only; the
      // values are the point.
      (s, dir) => {
        val docs = T(s, dir, "documents")
        val exact = sharedExactPairs(s, dir).select(col("id_a"), col("id_b"))
        def coverage(tier: String, cands: DataFrame): DataFrame = {
          val hit = exact.join(cands.select(col("id_a"), col("id_b")),
            Seq("id_a", "id_b"), "left_semi")
          exact.agg(count(lit(1)).as("n_exact"))
            .crossJoin(hit.agg(count(lit(1)).as("n_hit")))
            .select(lit(tier).as("tier"), col("n_exact"), col("n_hit"),
              r4(col("n_hit").cast("double") / col("n_exact")).as("recall"))
        }
        localFrameOrdered(
          coverage("minhash",
            sharedMinhashVerified(s, dir).filter(col("jaccard") >= 0.8))
          .unionAll(coverage("simhash",
            NearDup.simHashCandidates(docs, "doc_id", "text")))
          .unionAll(coverage("winnow",
            NearDup.winnowCandidates(docs, "doc_id", "text"))), "tier")
      },
      None,
      "per-tier candidate coverage of the exact Jaccard ground truth"),

    "dedup_clusters" -> DeclaredQuery(
      // label CONSUMPTION row: reads the per-dir component-label memo
      // (built once per corpus version — the `_dedup_cc_build` infra
      // line) the way every at-scale consumer reads the maintained
      // labels table. The live clustering algorithms stay benchmarked
      // in `dedup_clusters_star` (contraction, this oracle) and
      // `dedup_pipeline_lsh` (propagation over the MinHash edges).
      (s, dir) => sharedDedupLabels(s, dir).orderBy("doc_id"),
      Some(dedupClustersOracle),
      "dedup clustering: Jaccard edges → connected components (min-label propagation)"),

    "dedup_clusters_star" -> DeclaredQuery(
      // the LARGE-STAR/SMALL-STAR CONTRACTION variant of dedup_clusters,
      // through the SAME recursive-CTE oracle: identical edges (shared
      // per-dir memo), identical expected labels — the polylog-round
      // contraction path (Dedup.starContractionLabels, Kiveris et al.
      // 2014) proven oracle-green, not just spec-equivalent. The
      // propagation twin above stays the default (shallow dup graphs
      // converge in a handful of rounds at lower per-round cost).
      (s, dir) => dedupClustersFrame(s, dir, starContraction = true),
      Some(dedupClustersOracle),
      "dedup clustering via star contraction: same edges + oracle as dedup_clusters"),

    "dedup_best_rep" -> DeclaredQuery(
      // QUALITY-AWARE canonical selection — the refinement every
      // production dedup applies after clustering: keep each near-dup
      // cluster's BEST member (here: richest vocabulary = most distinct
      // tokens; integer-exact, so the whole chain stays oracle-green),
      // ties → smallest id, instead of an arbitrary min-id pick.
      // Same shared edges + components as dedup_clusters; the argmax is
      // Dedup.keepBestByKey — a partial-aggregatable (key → min-struct)
      // agg, single shuffle, no per-group sort, so the selection costs
      // the same as the min-id pick at any scale.
      (s, dir) => {
        val toks = TextAnalysis.tokens(col("text"))
        val sub = T(s, dir, "documents").filter(col("doc_id") < 128)
          .select(col("doc_id"),
            size(array_distinct(toks)).cast("long").as("n_types"))
        // consumes the maintained label memo (same discipline as
        // dedup_clusters); the selection itself — docs ⋈ labels, one
        // quality argmax per component, sizes join — runs live, and is
        // the same single-shuffle keepBestByKey shape dedupFromEdges
        // plans at any scale
        val cc = sharedDedupLabels(s, dir)
        val sizes = cc.groupBy(col("component")).agg(count(lit(1)).as("n_docs"))
        val reps = Dedup.keepBestByKey(sub.join(cc, "doc_id"),
          col("component"), col("n_types"), col("doc_id"))
        localFrameOrdered(reps.join(sizes, "component")
          .select(col("component"), col("doc_id").as("rep_id"),
            col("n_types").as("rep_n_types"), col("n_docs")), "component")
      },
      Some("""WITH RECURSIVE
         |  d AS (
         |    SELECT doc_id,
         |      list_distinct(list_filter(string_split(text, ' '), x -> x <> '')) AS s
         |    FROM documents WHERE doc_id < 128
         |      AND len(list_filter(string_split(text, ' '), x -> x <> '')) > 0),
         |  e AS (
         |    SELECT a.doc_id AS src, b.doc_id AS dst
         |    FROM d a JOIN d b ON a.doc_id <> b.doc_id
         |    WHERE round(len(list_intersect(a.s, b.s))::DOUBLE
         |        / len(list_distinct(a.s || b.s)), 4) >= 0.8),
         |  r AS (
         |    SELECT doc_id AS v, doc_id AS comp FROM documents WHERE doc_id < 128
         |    UNION
         |    SELECT e.src, r.comp FROM e JOIN r ON r.v = e.dst
         |  ),
         |  comp AS (SELECT v AS doc_id, min(comp) AS component FROM r GROUP BY v),
         |  t AS (SELECT doc_id,
         |          len(list_distinct(list_filter(string_split(text, ' '), x -> x <> ''))) AS n_types
         |        FROM documents WHERE doc_id < 128),
         |  j AS (SELECT comp.component, comp.doc_id, t.n_types
         |        FROM comp JOIN t ON comp.doc_id = t.doc_id)
         |SELECT component, doc_id AS rep_id, n_types AS rep_n_types, n_docs
         |FROM (SELECT j.*, count(*) OVER (PARTITION BY component) AS n_docs,
         |        row_number() OVER (PARTITION BY component
         |          ORDER BY n_types DESC, doc_id) AS rn
         |      FROM j) WHERE rn = 1
         |ORDER BY component""".stripMargin),
      "quality-aware canonical selection: each dup cluster keeps its richest-vocabulary member"),

    "dedup_pipeline_lsh" -> DeclaredQuery(
      // the 100 TB dedup story EXECUTED end-to-end, not just proven
      // componentwise: MinHash-LSH candidates (bucket join, never
      // all-pairs) → exact-Jaccard verify ≥ 0.8 → connected components →
      // min-id representative per component. Output = the deduped corpus
      // (representatives + singletons) with component id and size.
      // Seeded-hash candidate stage → rows-only per the contract; the
      // fixture-slice equivalence of LSH-edge components vs all-pairs
      // components is property-tested in DedupSpec.
      (s, dir) => {
        // candidate+verify stages come from the per-dir memo shared with
        // minhash_pairs (one corpus-wide signature pass per set pass —
        // the sharedIvfIndex discipline); stages 3-4 run live. The
        // un-memoized full chain is the lshDedupPipeline operator,
        // exercised end-to-end in DedupSpec.
        val edges = sharedMinhashVerified(s, dir)
          .filter(col("jaccard") >= 0.8)
          .select(col("id_a"), col("id_b"))
        val out = Dedup.dedupFromEdges(
          T(s, dir, "documents").select(col("doc_id"), col("lang"), col("text")),
          "doc_id", edges)
        try localFrameOrdered(out
          .select(col("doc_id"), col("lang"), col("component"),
            col("n_docs")), "doc_id")
        finally out.unpersist()
      },
      None,
      "LLM-pipeline dedup chained end-to-end: LSH candidates → Jaccard verify → CC → representatives"),

    "dedup_pipeline_lsh_fixed" -> DeclaredQuery(
      // the end-to-end pipeline's ORACLE TWIN (r15 verdict #1): the same
      // candidates → Jaccard-verify → connected-components →
      // representative chain as dedup_pipeline_lsh, but with the seeded
      // xxhash64 candidate stage swapped for the closed-form polynomial
      // hash (NearDup.minHashPolyCandidates — the minhash_pairs_fixed
      // chain), which makes the WHOLE flagship composition a static
      // DuckDB replay: shingle/minima/banding, exact 3-gram Jaccard,
      // recursive-CTE components, min-id rep + size, all hash-matched.
      (s, dir) => {
        val slice = T(s, dir, "documents").filter(col("doc_id") < 2000)
        // candidates come from the maintained banded-signature memo
        // (`_polymh_build` infra line) through the operator's own join
        // closer; verify runs live and its verified edge set — dup-pair
        // bounded, the materializePairs class — lands driver-side ONCE,
        // so the clustering stage's bidirectional edge union references
        // a LocalRelation instead of re-executing the verify subtree
        // per orientation (the shared-subtree double-execution trap);
        // components + representative run live
        val banded = sharedPolyMinhashBanded(s, dir)
        val edges = NearDup.materializePairs(
          NearDup.jaccardVerify(slice, "doc_id", "text",
              NearDup.bucketPairs(banded, banded, NearDup.PairRule.AnyKey,
                cross = false))
            .filter(col("jaccard") >= 0.8)
            .select(col("id_a"), col("id_b")))
        val out = Dedup.dedupFromEdges(
          slice.select(col("doc_id"), col("lang")), "doc_id", edges)
        try localFrameOrdered(out
          .select(col("doc_id"), col("lang"), col("component"),
            col("n_docs")), "doc_id")
        finally out.unpersist()
      },
      Some(dedupPipelineLshFixedOracleSql),
      "the flagship LSH dedup pipeline under the closed-form hash: candidates → verify → CC → reps, full DuckDB replay"),

    "near_dup_embed" -> DeclaredQuery(
      (s, dir) => NearDup.embeddingNearDup(T(s, dir, "embeddings"),
        "vec_id", "embedding", minCosine = 0.35, maxId = 300)
        .orderBy(col("id_a"), col("id_b")),
      Some("""WITH s AS (
         |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v,
         |    sqrt(list_dot_product(CAST(embedding AS DOUBLE[]),
         |                          CAST(embedding AS DOUBLE[]))) AS n
         |  FROM embeddings WHERE vec_id < 300)
         |SELECT * FROM (
         |  SELECT a.vec_id AS id_a, b.vec_id AS id_b,
         |    round(list_dot_product(a.v, b.v) / (a.n * b.n), 4) AS cos
         |  FROM s a JOIN s b ON a.vec_id < b.vec_id)
         |WHERE cos >= 0.35 ORDER BY id_a, id_b""".stripMargin),
      "embedding-cosine near-dup pairs (bounded verification tier)"),

    "semantic_dedup" -> DeclaredQuery(
      // SemDeDup (Abbas et al. 2023) with a CATEGORICAL cluster column
      // (label) and the default min-id keep rule — the fully
      // deterministic, SQL-expressible form of the operator, so the
      // whole within-cluster pairwise-cosine + survivor-selection chain
      // is oracle-checked. The paper-faithful k-means-cells +
      // centroid-distance-rank form is the `semantic_dedup_ivf` row.
      // 0.35 is fixture-calibrated: the synthetic embeddings are
      // near-uniform (max within-label cosine ≈ 0.47), so a production
      // 0.9x threshold would make the row vacuously a no-op.
      (s, dir) => Dedup.semanticDedup(T(s, dir, "embeddings"),
          "vec_id", "embedding", "label", minCosine = 0.35)
        .select(col("vec_id"), col("label")).orderBy("vec_id"),
      Some("""WITH e AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v
         |       FROM embeddings),
         |drops AS (SELECT DISTINCT x.vec_id
         |  FROM e x JOIN e y ON x.label = y.label AND y.vec_id < x.vec_id
         |  WHERE round(list_dot_product(x.v, y.v)
         |      / (sqrt(list_dot_product(x.v, x.v))
         |         * sqrt(list_dot_product(y.v, y.v))), 4) >= 0.35)
         |SELECT vec_id, label FROM embeddings
         |WHERE vec_id NOT IN (SELECT vec_id FROM drops)
         |ORDER BY vec_id""".stripMargin),
      "SemDeDup: within-cluster cosine dedup, min-id survivor (oracle form)"),

    "semantic_dedup_ivf" -> DeclaredQuery(
      // the paper's actual operating shape: cells from the SHARED IVF
      // k-means build bound the quadratic, and of each duplicate group
      // the member FARTHEST from its cell centroid survives (ascending
      // cosine-to-centroid rank — diversity-preserving). k-means cells
      // are float-iterative → rows-only per the contract; the keep-rule
      // and cluster-scoping semantics are pinned in DedupSpec.
      (s, dir) => {
        val ivf = sharedIvfIndex(s, dir)
        val withRank = s.read.parquet(ivf.indexPath)
          .join(broadcast(ivf.centroids), "cluster_id")
          .withColumn("_ccos",
            r4(VectorFunctions.cosine(col("embedding"), col("centroid"))))
        Dedup.semanticDedup(withRank, "vec_id", "embedding",
            "cluster_id", minCosine = 0.35, rankCols = Seq("_ccos"))
          .select(col("vec_id"), col("cluster_id").cast("int").as("cluster_id"))
          .orderBy("vec_id")
      },
      None,
      "SemDeDup over shared IVF cells, centroid-distance diversity rank")
  )
}
