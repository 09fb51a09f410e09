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


/** Non-SQL-expressible tier: ANN indexes, media decode, the versioned store (rows-only where the contract says so, _fixed oracle twins where determinism allows).
  *
  * One tier of [[Queries.all]] — split from the single registry so a
  * reviewer can hold each family; mixed back into [[Queries]], which
  * concatenates the tiers in the original declaration order (bench and
  * oracle iteration order unchanged). Helpers, shared builds, and the
  * determinism contract live on [[Queries]] itself. */
private[graft] trait QueriesTierIndexMediaStore { this: Queries.type =>

  /** The four bounded rankings `pq_recall_fixed` evaluates — the two
    * per-query ADC orderings over the fixed codes then the two exact
    * brute-force top-10s — as lazy frames for the row's ONE
    * tagged-union collect (Search.collectIdLists) and its planView. */
  private def pqRecallFixedRankings(s: SparkSession,
                                    dir: String): Seq[DataFrame] = {
    val pqf = sharedFixedPq(s, dir)
    val emb8 = T(s, dir, "embeddings").filter(col("vec_id") % 8 === 0)
    val enc = s.read.parquet(pqf.codesPath)
    val calib = Seq(QueryVectors.q1, QueryVectors.q2)
    calib.map { q =>
      enc.select(col("vec_id"),
          round(PqIndex.adcScore(col("codes"), q, pqf.codebooks), 4)
            .as("sim"))
        .orderBy(desc("sim"), asc("vec_id")).limit(50)
        .select(col("vec_id"))
    } ++ calib.map { q =>
      Search.topK(emb8, "embedding", "vec_id", q, k = 10)
        .select(col("vec_id"))
    }
  }

  private[graft] lazy val tierIndexMediaStore: ListMap[String, DeclaredQuery] = ListMap(

    // ----- non-SQL-expressible operators (driver does rows-only checks;
    // ----- correctness is covered by the ScalaTest invariants) ------------

    "ref_search" -> DeclaredQuery(
      (s, dir) => {
        // the complete reference flagship path in-engine (app.py:40-48):
        // embed corpus + query with the SAME embedder, dot-score, top-5.
        // Corpus embedding runs the BATCHED mapPartitions path — the
        // accelerator throughput shape (one embedAll call per 64 rows);
        // result-identical to the row-wise UDF by the embedAll contract
        // (EmbedderSpec). Input projected to (doc_id, text) first:
        // mapPartitions is an opaque column-pruning boundary.
        val e = Embedder.default
        val qvec = e.embed("table scan fast query").map(_.toDouble).toSeq
        Embedder.embedPartitions(
          T(s, dir, "documents").select(col("doc_id"), col("text")),
          "text", "emb", e)
          .select(col("doc_id"),
            round(VectorFunctions.dot(col("emb"), vecLit(qvec)), 4).as("sim"))
          .orderBy(desc("sim"), asc("doc_id")).limit(5)
      },
      None,
      "A3→A4→A5: embed + brute-force search, hashing embedder (no SQL analog)"),

    "ref_embed_model" -> DeclaredQuery(
      // ref_search with a REAL MULTI-LAYER MODEL in the embed seat —
      // the reference's actual model path (`app.py:16-37`: tokenize →
      // DistilBERT encoder → mean-pool) re-expressed as the engine's
      // TransformerEmbedder: token+position embedding, 2 transformer
      // layers (multi-head self-attention, add&norm, GELU FFN), mean
      // pool, output projection — a real forward pass per document, not
      // a featurizer. Corpus embedding rides the BATCHED mapPartitions
      // path (one embedAll per 32 rows — the accelerator shape); the
      // weight artifact is deterministic-seeded (zero-egress stands in
      // for a trained checkpoint; byte-for-byte swap to deploy one) and
      // loads ONCE per executor JVM via the companion session cache
      // (load-count asserted in EmbedderSpec). Rows-only per the A3
      // contract: float model inference has no SQL analog.
      // Corpus sliced to doc_id % 4 = 0: the forward pass is REAL model
      // inference (0.7–0.9 ms/doc on one thread in batches of 32, JDK 17
      // on a 4-core x86 VM), and the row certifies the seam + lifecycle,
      // not bulk throughput — the slice keeps the bench line
      // proportionate while still running >1k true multi-layer forward
      // passes per rep.
      (s, dir) => {
        val e = new TransformerEmbedder(transformerArtifactPath, dim = 64)
        val qvec = e.embed("table scan fast query").map(_.toDouble).toSeq
        // widenForCompute: the inference stage must see every core even
        // when the fixture slice arrives as one parquet split
        Embedder.embedPartitions(
          widenForCompute(T(s, dir, "documents")
            .filter(col("doc_id") % 4 === 0)
            .select(col("doc_id"), col("text"))),
          "text", "emb", e, batchSize = 32)
          .select(col("doc_id"),
            round(VectorFunctions.dot(col("emb"), vecLit(qvec)), 4)
              .as("sim"))
          .orderBy(desc("sim"), asc("doc_id")).limit(5)
      },
      None,
      "A3 with a real multi-layer transformer (MHA+LN+GELU FFN, mean-pool) — model inference, no SQL analog"),

    "ref_embed_vocab" -> DeclaredQuery(
      // ref_embed_model with the FILE VOCABULARY in the id-lookup seat —
      // the deployment piece the reference gets from its wordpiece
      // vocab file (`app.py:29`): the artifact carries the checked-in
      // graft/vocab_tiny.txt section, so every fixture-corpus token
      // resolves to its FILE id while anything out-of-vocabulary falls
      // back to hash-mod over the SAME embedding table. The weight
      // bytes are ref_embed_model's exactly (the vocab section changes
      // the id source only), the lifecycle is the same one-load-per-JVM
      // session cache, and the batch seam is the same mapPartitions
      // path — EmbedderSpec pins the file-vocab/hash-vocab contract.
      // Rows-only per the A3 contract (model inference, no SQL analog).
      // Slice % 8: the row certifies the vocab path, not throughput.
      (s, dir) => {
        val e = new TransformerEmbedder(transformerVocabArtifactPath,
          dim = 64)
        val qvec = e.embed("table scan fast query").map(_.toDouble).toSeq
        Embedder.embedPartitions(
          widenForCompute(T(s, dir, "documents")
            .filter(col("doc_id") % 8 === 0)
            .select(col("doc_id"), col("text"))),
          "text", "emb", e, batchSize = 32)
          .select(col("doc_id"),
            round(VectorFunctions.dot(col("emb"), vecLit(qvec)), 4)
              .as("sim"))
          .orderBy(desc("sim"), asc("doc_id")).limit(5)
      },
      None,
      "A3 id lookup through the artifact's file vocabulary (checked-in tiny vocab, OOV hash fallback) — model inference, no SQL analog"),

    "q_bpe_train" -> DeclaredQuery(
      // TOKENIZER TRAINING as a first-class distributed operator — the
      // public BPE recipe (Sennrich et al. 2016) with every iteration a
      // DataFrame job: adjacent-pair explode → partial-aggregated count
      // → total-order argmax (ONE row to the driver per merge), merge
      // applied as a pure array-fold projection with per-generation
      // lineage truncation (`LearnBpe.learnDistributed` — the same code
      // that generated the checked-in bpe_merges.txt artifact
      // `q_bpe_tokens` consumes). Deterministic (lexicographic
      // tie-break), but the per-iteration argmax over EVOLVING state is
      // not a static SQL string — rows-only per the contract; BpeSpec
      // proves distributed ≡ driver-side reference AND ≡ the checked-in
      // artifact byte-for-byte at 200 merges. Sliced corpus + 12 merges
      // keep the bench line proportionate (each merge is one job).
      (s, dir) => {
        val wf = TextAnalysis.wordFreq(
          T(s, dir, "documents").filter(col("doc_id") < 200), "text")
        val merges = graft.tools.LearnBpe.learnDistributed(
          s, wf.select(col("word"), col("cnt")), numMerges = 12)
        import s.implicits._
        merges.zipWithIndex
          .map { case ((l, r), i) => ((i + 1).toLong, l, r) }
          .toDF("priority", "left", "right")
          .orderBy(col("priority"))
      },
      None,
      "distributed BPE tokenizer training: one pair-count+argmax job per merge, driver holds one pair per iteration (rows-only; BpeSpec proves ≡ reference + artifact)"),

    "incr_embed_index" -> DeclaredQuery(
      // the PRODUCTION day-2 loop with the REAL model in the embed
      // seat, end to end: new documents → transformer forward pass →
      // encode under the FROZEN day-1 SQ8 grid (no re-train — the
      // incr_sq_append discipline) → append → search the COMBINED
      // codes table with a model-embedded query → exact re-rank. Emits
      // (rank, doc_id, sim, is_new) so the output shows day-2 docs
      // competing in the same index as day-1 — a lost append or a
      // re-trained grid changes the rows. Model inference + float grid
      // → rows-only per the contract; every stage is oracle- or
      // spec-certified individually (ref_embed_model, sq_topk_fixed,
      // incr_sq_append, EmbedderSpec, SqIndexSpec).
      (s, dir) => {
        val e = new TransformerEmbedder(transformerArtifactPath, dim = 64)
        val docs = T(s, dir, "documents")
          .filter(col("doc_id") % 4 === 0)
          .select(col("doc_id"), col("text"))
        // widenForCompute: inference is CPU-bound — one fixture split
        // must not serialize the forward passes onto one core
        val embedded = Embedder.embedPartitions(widenForCompute(docs),
            "text", "emb", e, batchSize = 32)
          .select(col("doc_id"), col("emb"))
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        try {
          val day1 = embedded.filter(col("doc_id") % 40 =!= 0)
          val day2 = embedded.filter(col("doc_id") % 40 === 0)
          val params = SqIndex.trainParams(day1, "doc_id", "emb")
          // the codes table is MATERIALIZED once (cache + count — the
          // in-memory analog of incr_sq_append's parquet write): the
          // encode projection is an interpreted-HOF per-element grid
          // walk, and leaving it lazy re-evaluates it inside both the
          // broadcast candidate cut and the pushed-down null filter
          // (profiled at 4.7 s lazy vs 0.44 s materialized for this
          // slice). A deployment persists the codes table anyway —
          // that's the entire point of an index.
          val codes = SqIndex.encode(day1, "doc_id", "emb", params)
            .unionByName(SqIndex.encode(day2, "doc_id", "emb", params))
            .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
          // the touch aggregates the codes column itself so column
          // pruning cannot skip materializing the array into the cache
          codes.select(max(element_at(col("codes"), 1))).head()
          // query with a DAY-2 document's own text: its appended vector
          // must surface (self-similarity), so a lost append or a
          // re-trained grid visibly changes the output rows
          val qtext = docs.filter(col("doc_id") === 40)
            .select(col("text")).head().getString(0)
          val q = e.embed(qtext).map(_.toDouble).toSeq
          try {
            localFrameOrdered(SqIndex.searchRerank(codes, embedded, "doc_id",
                "emb", q, params, k = 10, r = 50)
              .select(col("rank").cast("long").as("rank"), col("doc_id"),
                col("sim"), (col("doc_id") % 40 === 0).as("is_new")),
              "rank")
          } finally codes.unpersist()
        } finally embedded.unpersist()
      },
      None,
      "day-2 capstone: transformer embed → frozen-grid SQ8 append → combined-index search (model + float grid, rows-only)"),

    "ivf_probe" -> DeclaredQuery(
      (s, dir) => {
        // probes the shared corpus-scaled iters=3 index (quality
        // certified by the declared `ivf_recall` row + IvfIndexSpec's
        // recall tests — the build's own nprobe reads ~15 % of the
        // corpus at recall@10 ≥ 0.9). The build + partitioned-table
        // write is shared with ivf_probe_part (sharedIvfIndex) — a
        // declared-set pass runs both probes and must not pay k-means
        // twice. This probe exercises the SEMI-JOIN shape (assignments ⋈
        // broadcast(near clusters) → candidate-id prune of the corpus)
        // over the distributed index relation — no corpus-sized rows
        // ever touch the driver.
        val ivf = sharedIvfIndex(s, dir)
        val assign = s.read.parquet(ivf.indexPath)
          .select(col("vec_id"), col("cluster_id"))
        localFrame(
          IvfIndex.probe(T(s, dir, "embeddings"), "vec_id", "embedding",
            assign, ivf.centroids, QueryVectors.q1, k = 10,
            nprobe = ivf.nprobe)
            .select(col("vec_id"), col("sim")))
      },
      None,
      "B5/B6: IVF build (k-means as DataFrame ops) + semi-join probe (float-iterative, no oracle)"),

    "ivf_probe_part" -> DeclaredQuery(
      // the AT-SCALE IVF layout, driver-exercised end-to-end: corpus
      // written PARTITIONED BY cluster_id (once per fixture dir, shared
      // with ivf_probe), probe = `cluster_id IN (…)` partition pruning
      // (only nprobe/k of the files are opened — the pruning itself is
      // asserted in IvfIndexSpec). Float-iterative like ivf_probe →
      // rows-only per the contract.
      (s, dir) => {
        val ivf = sharedIvfIndex(s, dir)
        localFrame(
          IvfIndex.probePartitioned(s, ivf.indexPath, "vec_id",
            "embedding", ivf.centroids, QueryVectors.q1, k = 10,
            nprobe = ivf.nprobe)
            .select(col("vec_id"), col("sim")))
      },
      None,
      "B6 at-scale layout: IVF corpus partitioned by cluster_id, probe = partition pruning"),

    "ivf_assign" -> DeclaredQuery(
      // the ORACLE-ABLE slice of B5, exactly where SURVEY §2 says the
      // contract allows it: the nearest-centroid ASSIGNMENT step under
      // FIXED centroids is SQL-expressible (no float iteration — the
      // centroids are the k smallest-id vectors, the build's own
      // deterministic init rule, so DuckDB can reconstruct the identical
      // centroid set from the table alone). Runs the REAL maintenance
      // path (`IvfIndex.assignTo` → the native codegen'd NearestCentroid
      // zero-shuffle projection) over the whole corpus and hash-matches
      // a DuckDB argmin-over-list_distance replay — the first
      // oracle-green row in the ivf_* family, certifying the assignment
      // arithmetic every probe/build/append in that family rides on.
      // Tie rule on both sides: smallest distance, then smallest
      // cluster_id (argmin positions are cid-sorted in withCluster).
      (s, dir) => {
        val emb = T(s, dir, "embeddings")
        // 8 seed rows — driver-bounded by construction (k rows, same
        // class as IvfIndex.build's init collect)
        import s.implicits._
        val seeds = emb.orderBy("vec_id").limit(8)
          .select(transform(col("embedding"), _.cast("double")).as("c"))
          .collect().toIndexedSeq.zipWithIndex
          .map { case (r, i) => (i, r.getSeq[Double](0)) }
        val cents = seeds.toDF("cluster_id", "centroid")
        IvfIndex.assignTo(emb, "vec_id", "embedding", cents)
          // BIGINT on both sides (engine-wide convention: DuckDB
          // row_number yields BIGINT, Spark's assignment is int)
          .select(col("vec_id"), col("cluster_id").cast("long").as("cluster_id"))
          .orderBy("vec_id")
      },
      Some("""
        WITH cents AS (
          SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cluster_id,
                 CAST(embedding AS DOUBLE[]) AS centroid
          FROM (SELECT * FROM embeddings ORDER BY vec_id LIMIT 8)
        ), d AS (
          SELECT e.vec_id, c.cluster_id,
                 list_distance(CAST(e.embedding AS DOUBLE[]), c.centroid) AS dist
          FROM embeddings e CROSS JOIN cents c
        )
        SELECT vec_id, cluster_id FROM (
          SELECT vec_id, cluster_id,
                 row_number() OVER (PARTITION BY vec_id ORDER BY dist, cluster_id) AS rn
          FROM d) WHERE rn = 1 ORDER BY vec_id
      """),
      "B5 assignment step under fixed centroids — the SQL-expressible slice, oracle-green"),

    "ivf_probe_many" -> DeclaredQuery(
      // BATCHED multi-query probe: both fixed probe vectors answered in
      // ONE job through the shared partitioned index — per-query probe
      // sets are a zero-shuffle projection over the plan-constant
      // centroids, the exploded (query, cluster) relation broadcasts
      // into the partitioned scan, per-query top-k is the map-side
      // bounded TopKAggregator. Per-query results ≡ probePartitioned
      // (IvfIndexSpec). Float-iterative → rows-only per the contract.
      (s, dir) => {
        val ivf = sharedIvfIndex(s, dir)
        import s.implicits._
        val qs = Seq((1L, QueryVectors.q1), (2L, QueryVectors.q2))
          .toDF("qid", "qvec")
        localFrameOrdered(
          IvfIndex.probeMany(s, ivf.indexPath, "vec_id", "embedding",
            ivf.centroids, qs, "qid", "qvec", k = 10, nprobe = ivf.nprobe)
            .select(col("qid"), col("vec_id"), col("sim"), col("rank")),
          "qid", "rank")
      },
      None,
      "B6 batched: multi-query IVF probe in one job (broadcast probe sets + map-side top-k)"),

    "ivf_probe_many_fixed" -> DeclaredQuery(
      // the BATCHED probe under the BYTE-EXACT ORACLE — ivf_probe_fixed's
      // seed-centroid rule applied to probeMany, which puts the batched
      // kernel itself behind the hash gate: the per-query probe-set
      // projection over the plan-constant centroids, the broadcast
      // (query, cluster) relation joined into the CLUSTER-PARTITIONED
      // on-disk index (written per invocation with the fixed
      // assignment — the real deployed layout, partition pruning
      // included), and the map-side bounded TopKAggregator whose tie
      // discipline (sim DESC, id ASC, per query) must reproduce
      // DuckDB's partitioned row_number exactly. The rows-only
      // ivf_probe_many adds only the float-iterated centroids. The
      // fixed-assignment index comes from the shared sharedFixedIvf memo
      // (built once per dir, priced as the `_ivff_build` infra line) so
      // each rep measures the deployed probe, not a rebuild — the same
      // build-vs-consume split every calibrated index row already uses.
      (s, dir) => {
        val (path, cents) = sharedFixedIvf(s, dir)
        import s.implicits._
        val qs = Seq((1L, QueryVectors.q1), (2L, QueryVectors.q2))
          .toDF("qid", "qvec")
        localFrameOrdered(
          IvfIndex.probeMany(s, path, "vec_id", "embedding", cents, qs,
              "qid", "qvec", k = 10, nprobe = 3)
            .select(col("qid"), col("vec_id"), col("sim"),
              col("rank").cast("long").as("rank")),
          "qid", "rank")
      },
      Some(s"""WITH cents AS (
         |  SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cluster_id,
         |         CAST(embedding AS DOUBLE[]) AS centroid
         |  FROM (SELECT * FROM embeddings ORDER BY vec_id LIMIT 8)),
         |q AS (SELECT 1 AS qid, $q1Sql AS qv
         |      UNION ALL SELECT 2, $q2Sql),
         |assign AS (
         |  SELECT vec_id, cluster_id FROM (
         |    SELECT e.vec_id, c.cluster_id,
         |      row_number() OVER (PARTITION BY e.vec_id
         |        ORDER BY list_distance(CAST(e.embedding AS DOUBLE[]),
         |                               c.centroid),
         |          c.cluster_id) AS rn
         |    FROM embeddings e CROSS JOIN cents c) WHERE rn = 1),
         |near AS (
         |  SELECT qid, cluster_id FROM (
         |    SELECT q.qid, c.cluster_id,
         |      row_number() OVER (PARTITION BY q.qid
         |        ORDER BY list_distance(c.centroid, q.qv), c.cluster_id)
         |        AS rn
         |    FROM q CROSS JOIN cents c) WHERE rn <= 3),
         |scored AS (
         |  SELECT n.qid, e.vec_id,
         |    round(list_dot_product(CAST(e.embedding AS DOUBLE[]), q.qv),
         |      4) AS sim
         |  FROM embeddings e JOIN assign a USING (vec_id)
         |  JOIN near n ON n.cluster_id = a.cluster_id
         |  JOIN q ON q.qid = n.qid)
         |SELECT CAST(qid AS BIGINT) AS qid, vec_id, sim, rank FROM (
         |  SELECT qid, vec_id, sim, row_number() OVER (PARTITION BY qid
         |    ORDER BY sim DESC, vec_id) AS rank
         |  FROM scored WHERE sim IS NOT NULL)
         |WHERE rank <= 10 ORDER BY qid, rank""".stripMargin),
      "batched multi-query IVF probe (partitioned scan + map-side top-k) under the byte-exact oracle at fixed centroids"),

    "sq_topk_many" -> DeclaredQuery(
      // BATCHED multi-query quantized search — ONE scan of the SQ8
      // codes table answers the whole query batch (the ivf_probe_many
      // amortization over the compressed relation): the batch rides in
      // by broadcast with precomputed per-query ADC terms, per-query
      // top-r is the map-side bounded TopKAggregator (the shuffle
      // carries ≤ r rows per task×query, never the corpus), and the
      // bounded candidates re-rank exactly through a broadcast join.
      // Per-query results ≡ one searchRerank per query (SqIndexSpec).
      // Grid placement is float min/max → rows-only per the contract.
      (s, dir) => {
        val sq = sharedSqIndex(s, dir)
        import s.implicits._
        val qs = Seq((1L, QueryVectors.q1), (2L, QueryVectors.q2))
          .toDF("qid", "qvec")
        localFrameOrdered(
          SqIndex.searchManyRerank(s.read.parquet(sq.codesPath),
            T(s, dir, "embeddings"), "vec_id", "embedding",
            qs, "qid", "qvec", sq.params, k = 10, r = sq.rerank)
            .select(col("qid"), col("vec_id"), col("sim"), col("rank")),
          "qid", "rank")
      },
      None,
      "B6h batched: multi-query SQ8 search in one codes scan (broadcast ADC terms + map-side top-k)"),

    "sq_topk_many_fixed" -> DeclaredQuery(
      // the BATCHED SQ8 path under the byte-exact oracle — the
      // sq_topk_fixed trick applied to searchManyRerank, which puts the
      // map-side bounded TopKAggregator arithmetic itself behind the
      // hash gate (its tie discipline — score DESC, id ASC — must
      // reproduce DuckDB's row_number ordering exactly, per query, at
      // BOTH the candidate cut and the final top-k). Same shared codes
      // table and grid as the calibrated row; depth pinned at 50 so
      // the replay is a static SQL string.
      (s, dir) => {
        val sq = sharedSqIndex(s, dir)
        import s.implicits._
        val qs = Seq((1L, QueryVectors.q1), (2L, QueryVectors.q2))
          .toDF("qid", "qvec")
        localFrameOrdered(
          SqIndex.searchManyRerank(s.read.parquet(sq.codesPath),
            T(s, dir, "embeddings"), "vec_id", "embedding",
            qs, "qid", "qvec", sq.params, k = 10, r = 50)
            .select(col("qid"), col("vec_id"), col("sim"),
              col("rank").cast("long").as("rank")),
          "qid", "rank")
      },
      Some(s"""WITH grid AS (
         |  SELECT i, min(embedding[i]::DOUBLE) AS lo,
         |    (max(embedding[i]::DOUBLE) - min(embedding[i]::DOUBLE)) / 127
         |      AS dlt
         |  FROM embeddings, (SELECT unnest(range(1,65)) AS i) d
         |  GROUP BY i),
         |g AS (SELECT list(lo ORDER BY i) AS vmin,
         |             list(dlt ORDER BY i) AS dlt FROM grid),
         |q AS (SELECT 1 AS qid, $q1Sql AS qv
         |      UNION ALL SELECT 2, $q2Sql),
         |scored AS (
         |  SELECT q.qid, e.vec_id,
         |    round(list_dot_product(qv, vmin)
         |      + list_sum(list_transform(range(1,65), i ->
         |          qv[i] * dlt[i] * (CASE WHEN dlt[i] = 0 THEN 0
         |            ELSE least(127, greatest(0,
         |              CAST(round((e.embedding[i]::DOUBLE - vmin[i])
         |                / dlt[i]) AS INT))) END))), 4) AS sq
         |  FROM embeddings e CROSS JOIN g CROSS JOIN q),
         |cand AS (
         |  SELECT qid, vec_id FROM (
         |    SELECT qid, vec_id, row_number() OVER (PARTITION BY qid
         |      ORDER BY sq DESC, vec_id) AS rn FROM scored)
         |  WHERE rn <= 50),
         |rer AS (
         |  SELECT c.qid, c.vec_id,
         |    round(list_dot_product(CAST(e.embedding AS DOUBLE[]), q.qv), 4)
         |      AS sim
         |  FROM cand c
         |  JOIN embeddings e ON e.vec_id = c.vec_id
         |  JOIN q ON q.qid = c.qid)
         |SELECT CAST(qid AS BIGINT) AS qid, vec_id, sim, rank FROM (
         |  SELECT qid, vec_id, sim, row_number() OVER (PARTITION BY qid
         |    ORDER BY sim DESC, vec_id) AS rank FROM rer)
         |WHERE rank <= 10 ORDER BY qid, rank""".stripMargin),
      "batched SQ8 search under the byte-exact oracle: per-query aggregator tie discipline ≡ row_number replay at a pinned depth"),

    "q_cluster_mix" -> DeclaredQuery(
      // DIVERSITY-AWARE sampling: up to m rows from EVERY embedding
      // cluster (the shared IVF assignment relation) — the
      // embedding-space twin of per-source stratification: the sampled
      // subset spans semantic regions instead of mirroring cluster-size
      // skew (the public cluster-based data-selection recipe).
      // Selection is the deterministic Knuth-hash rank within each
      // cluster; per-cluster top-m is the map-side bounded
      // TopKAggregator (≤ m rows per task×cluster shuffle — the window
      // formulation would shuffle the corpus). Emits the per-cluster
      // accounting next to the sample so coverage is auditable in-row.
      // Float-iterative clusters → rows-only per the contract;
      // hash-rank selection itself is exactly SamplingSpec's naive
      // ground truth.
      (s, dir) => {
        val ivf = sharedIvfIndex(s, dir)
        val idx = s.read.parquet(ivf.indexPath)
          .select(col("vec_id"), col("cluster_id"))
        val sampled = Sampling.clusterBalanced(idx, "vec_id",
          "cluster_id", m = 5)
        val sizes = idx.groupBy(col("cluster_id").as("cluster"))
          .agg(count(lit(1)).as("n_members"))
        localFrameOrdered(sampled.join(sizes, "cluster")
          .select(col("cluster"), col("n_members"), col("vec_id"),
            col("pos")), "cluster", "pos")
      },
      None,
      "diversity-aware sampling: deterministic per-cluster top-m over the IVF assignment relation"),

    "q_cluster_mix_cat" -> DeclaredQuery(
      // q_cluster_mix's ORACLE twin, the `semantic_dedup` trick applied
      // to sampling: swap the float-iterative IVF clusters for a
      // CATEGORICAL label (lang) and the whole selection pipeline —
      // Knuth-hash rank, map-side bounded per-cluster top-m, size
      // accounting — becomes SQL-expressible and hash-matches a DuckDB
      // row_number replay. Same operator (`Sampling.clusterBalanced`),
      // same plan shape (TopKAggregator partial agg, ≤ m rows per
      // task×cluster cross the exchange); only the cluster column
      // differs, so this row certifies the selection arithmetic that
      // q_cluster_mix runs over the IVF relation.
      (s, dir) => {
        val docs = T(s, dir, "documents")
          .select(col("doc_id"), col("lang"))
        val sampled = Sampling.clusterBalanced(docs, "doc_id", "lang", m = 5)
        val sizes = docs.groupBy(col("lang").as("cluster"))
          .agg(count(lit(1)).as("n_members"))
        sampled.join(sizes, "cluster")
          .select(col("cluster"), col("n_members"), col("doc_id"),
            // BIGINT on both sides (DuckDB row_number yields BIGINT)
            col("pos").cast("long").as("pos"))
          .orderBy(col("cluster"), col("pos"))
      },
      Some("""
        WITH ranked AS (
          SELECT lang AS cluster, doc_id,
                 row_number() OVER (PARTITION BY lang
                   ORDER BY ((doc_id % 1000003) * 2654435761) % 1000000,
                            doc_id) AS pos
          FROM documents
        ), sizes AS (
          SELECT lang AS cluster, count(*) AS n_members
          FROM documents GROUP BY lang
        )
        SELECT r.cluster, s.n_members, r.doc_id, r.pos
        FROM ranked r JOIN sizes s USING (cluster)
        WHERE r.pos <= 5 ORDER BY r.cluster, r.pos
      """),
      "cluster-balanced sampling over a categorical label — the selection arithmetic oracle-green"),

    "pq_topk" -> DeclaredQuery(
      // PQ-accelerated top-k at the CALIBRATED operating point: ADC scan
      // of the shared 8-byte-code table → top-`rerank` candidates →
      // exact re-rank of that bounded set via broadcast join back to the
      // raw vectors. The compressed representation is the 100 TB story
      // (codes stay RAM-resident where raw vectors spill); float-
      // iterative k-means codebooks → rows-only per the contract, with
      // full-depth-rerank ≡ exact brute force asserted in PqIndexSpec
      // and the operating point certified by `pq_recall`.
      (s, dir) => {
        val pq = sharedPqIndex(s, dir)
        PqIndex.searchRerank(s.read.parquet(pq.codesPath),
            T(s, dir, "embeddings"), "vec_id", "embedding",
            QueryVectors.q1, pq.codebooks, k = 10, r = pq.rerank)
          .orderBy(col("rank"))
      },
      None,
      "PQ ADC top-k + exact re-rank at the calibrated depth (8-byte codes, 32x compression)"),

    "pq_recall" -> DeclaredQuery(
      // driver-visible PQ QUALITY evidence, the `ivf_recall` pattern:
      // recall@10 of the re-ranked ADC search vs the exact brute-force
      // top-10, across a candidate-depth dial anchored at the calibrated
      // point (half, the declared depth — THE certified row, which must
      // meet PqRecallTarget — and double, capped at PqMaxRerank). Each
      // recall is |exact10 ∩ adcTop(r)| / 10 — equal to searchRerank's
      // recall by the bounded-candidates argument in sharedPqIndex's
      // scaladoc — so the whole dial costs ONE bounded ADC ordering per
      // query, not a probe job per dial point. The full-depth
      // completeness check (r = corpus ⇒ recall 1.0 exactly) lives in
      // PqIndexSpec — it would need a corpus-order collect here.
      (s, dir) => {
        val pq = sharedPqIndex(s, dir)
        val emb = T(s, dir, "embeddings")
        val enc = s.read.parquet(pq.codesPath)
        // corpus row count from the maintained stats memo (the
        // `_embstats_build` infra line) instead of a fresh count job —
        // the BM25 rows' corpusStats discipline applied here (r20)
        val rMax = math.min(embStats(s, dir)._1, PqMaxRerank.toLong).toInt
        val dial = Seq(math.max(10, pq.rerank / 2), pq.rerank,
          math.min(rMax, pq.rerank * 2)).distinct.sorted
        val calib = Seq((1L, QueryVectors.q1), (2L, QueryVectors.q2))
        // ONE collect for the whole instrument (r19 verdict #4): the
        // per-query ADC orderings and exact top-10s are independent
        // bounded rankings — the tagged union pays the scheduler floor
        // once instead of 4×, each branch keeping its exact subtree
        // (lists element-identical to the sequential collects)
        val lists = Search.collectIdLists(
          calib.map { case (_, q) =>
            enc.select(col("vec_id"),
                round(PqIndex.adcScore(col("codes"), q, pq.codebooks), 4)
                  .as("sim"))
              .orderBy(desc("sim"), asc("vec_id")).limit(dial.max)
              .select(col("vec_id"))
          } ++ calib.map { case (_, q) =>
            Search.topK(emb, "embedding", "vec_id", q, k = 10)
              .select(col("vec_id"))
          })
        val rows = for {
          ((qid, _), qi) <- calib.zipWithIndex
          adc = lists(qi)
          exact = lists(calib.length + qi).toSet
          r <- dial
        } yield {
          val hit = (adc.take(r).toSet & exact).size
          (qid, r, hit.toLong,
            math.rint(hit.toDouble / exact.size * 10000) / 10000)
        }
        import s.implicits._
        rows.toDF("qid", "rerank_depth", "n_hit", "recall_at_10")
          .orderBy(col("qid"), col("rerank_depth"))
      },
      None,
      "PQ quality: recall@10 of re-ranked ADC search vs exact top-k across the rerank-depth dial"),

    "pq_recall_fixed" -> DeclaredQuery(
      // the PQ RECALL INSTRUMENT behind the byte-exact oracle —
      // sq_recall_fixed's pattern applied to product quantization: the
      // float-iterated codebooks of `pq_recall` can't enter a static SQL
      // string, but pq_topk_fixed's deterministic-init codebooks can, so
      // DuckDB replays the ENTIRE quality evaluation — per-subspace
      // argmin encode, the ADC ordering, the exact brute-force top-10
      // over the same slice, the intersection count at each pinned depth
      // (10/20/50), the recall arithmetic. Artifacts come from the SAME
      // sharedFixedPq memo the hash-gated topk row consumes, so this row
      // certifies the deployed fixed artifact's quality measurement, not
      // a parallel re-derivation. `pq_recall` keeps the calibrated
      // runtime dial over the trained codebooks.
      (s, dir) => {
        val dial = Seq(10, 20, 50)
        val calib = Seq((1L, QueryVectors.q1), (2L, QueryVectors.q2))
        // one tagged-union collect for all four bounded rankings (see
        // pq_recall) — lists element-identical, scheduler floor paid once
        val lists = Search.collectIdLists(pqRecallFixedRankings(s, dir))
        val rows = for {
          ((qid, _), qi) <- calib.zipWithIndex
          top = lists(qi)
          exact = lists(calib.length + qi).toSet
          r <- dial
        } yield {
          val hit = (top.take(r).toSet & exact).size
          (qid, r.toLong, hit.toLong,
            math.rint(hit.toDouble / exact.size * 10000) / 10000)
        }
        import s.implicits._
        rows.toDF("qid", "rerank_depth", "n_hit", "recall_at_10")
          .orderBy(col("qid"), col("rerank_depth"))
      },
      Some(s"""WITH emb8 AS (
         |  SELECT * FROM embeddings WHERE vec_id % 8 = 0),
         |seeds AS (
         |  SELECT row_number() OVER (ORDER BY vec_id) - 1 AS code,
         |         CAST(embedding AS DOUBLE[]) AS v
         |  FROM (SELECT * FROM emb8 ORDER BY vec_id LIMIT 16)),
         |q AS (SELECT 1 AS qid, $q1Sql AS qv
         |      UNION ALL SELECT 2, $q2Sql),
         |m AS (SELECT unnest(range(0,8)) AS mi),
         |codes AS (
         |  SELECT vec_id, mi, code FROM (
         |    SELECT e.vec_id, m.mi, s.code,
         |      row_number() OVER (PARTITION BY e.vec_id, m.mi
         |        ORDER BY list_distance(
         |            list_slice(CAST(e.embedding AS DOUBLE[]),
         |                       m.mi*8+1, m.mi*8+8),
         |            list_slice(s.v, m.mi*8+1, m.mi*8+8)),
         |          s.code) AS rn
         |    FROM emb8 e CROSS JOIN m CROSS JOIN seeds s)
         |  WHERE rn = 1),
         |cl AS (SELECT vec_id, list(code ORDER BY mi) AS codes_l
         |       FROM codes GROUP BY vec_id),
         |cells AS (SELECT list(v ORDER BY code) AS cs FROM seeds),
         |adc AS (
         |  SELECT q.qid, cl.vec_id,
         |    round(list_sum(list_transform(range(0,8), i ->
         |      list_dot_product(list_slice(q.qv, i*8+1, i*8+8),
         |        list_slice(cs[codes_l[i+1]+1], i*8+1, i*8+8)))), 4) AS a
         |  FROM cl CROSS JOIN cells CROSS JOIN q),
         |ranked AS (
         |  SELECT qid, vec_id, row_number() OVER (PARTITION BY qid
         |    ORDER BY a DESC, vec_id) AS rn FROM adc),
         |exact AS (
         |  SELECT qid, vec_id FROM (
         |    SELECT q.qid, e.vec_id, row_number() OVER (PARTITION BY q.qid
         |      ORDER BY round(list_dot_product(
         |          CAST(e.embedding AS DOUBLE[]), q.qv), 4) DESC,
         |        e.vec_id) AS xr
         |    FROM emb8 e CROSS JOIN q) WHERE xr <= 10),
         |depths AS (SELECT unnest([10, 20, 50]) AS r),
         |hits AS (
         |  SELECT rk.qid, d.r, count(*) AS n_hit
         |  FROM ranked rk JOIN exact x USING (qid, vec_id)
         |  CROSS JOIN depths d WHERE rk.rn <= d.r
         |  GROUP BY rk.qid, d.r)
         |SELECT CAST(b.qid AS BIGINT) AS qid,
         |  CAST(b.r AS BIGINT) AS rerank_depth,
         |  CAST(COALESCE(h.n_hit, 0) AS BIGINT) AS n_hit,
         |  round(COALESCE(h.n_hit, 0) / 10.0, 4) AS recall_at_10
         |FROM (SELECT q.qid, d.r FROM q CROSS JOIN depths d) b
         |LEFT JOIN hits h ON h.qid = b.qid AND h.r = b.r
         |ORDER BY qid, rerank_depth""".stripMargin),
      "PQ recall@10 at pinned depths under fixed codebooks — the quality instrument hash-matched against an independent engine",
      // the distributed shape the row's ONE collect executes (the
      // driver-side recall arithmetic truncates lineage): a tagged
      // union of the four bounded rankings — representative for the
      // whole recall family's r20 batched-collect form
      planView = Some((s, dir) => {
        val frames = pqRecallFixedRankings(s, dir)
        frames.zipWithIndex.map { case (f, i) =>
          f.select(lit(i).as("_q"),
            col(f.columns.head).cast("long").as("_id"))
        }.reduce(_ unionAll _)
      })),

    "sq_topk" -> DeclaredQuery(
      // SQ8-accelerated top-k at the CALIBRATED operating point:
      // quantized scan of the shared per-dimension-affine codes table
      // (4× fewer bytes than the raw vectors) → top-`rerank` candidates
      // → exact re-rank of that bounded set. The low-loss end of the
      // compression dial: 127 levels/dim keep the quantized ordering
      // nearly exact, so the calibrated depth lands near the ladder
      // floor where PQ's 32× compression needs a much deeper sweep —
      // measured side by side via `sq_recall` vs `pq_recall`. Grid
      // placement is float min/max → rows-only per the contract;
      // full-depth-rerank ≡ exact brute force asserted in SqIndexSpec.
      (s, dir) => {
        val sq = sharedSqIndex(s, dir)
        SqIndex.searchRerank(s.read.parquet(sq.codesPath),
            T(s, dir, "embeddings"), "vec_id", "embedding",
            QueryVectors.q1, sq.params, k = 10, r = sq.rerank)
          .orderBy(col("rank"))
      },
      None,
      "SQ8 quantized top-k + exact re-rank at the calibrated depth (int8 codes, 4x compression)"),

    "sq_recall" -> DeclaredQuery(
      // driver-visible SQ QUALITY evidence, the `pq_recall` pattern:
      // recall@10 of the re-ranked quantized search vs the exact
      // brute-force top-10 across the candidate-depth dial anchored at
      // the calibrated point (half / declared / double). Each recall is
      // |exact10 ∩ sqTop(r)| / 10 — equal to searchRerank's recall by
      // the bounded-candidates argument in sharedSqIndex's scaladoc —
      // so the dial costs ONE bounded quantized ordering per query.
      (s, dir) => {
        val sq = sharedSqIndex(s, dir)
        val emb = T(s, dir, "embeddings")
        val enc = s.read.parquet(sq.codesPath)
        // memoized corpus count + one tagged-union collect for all four
        // bounded rankings (see pq_recall) — lists element-identical
        val rMax = math.min(embStats(s, dir)._1, PqMaxRerank.toLong).toInt
        val dial = Seq(math.max(10, sq.rerank / 2), sq.rerank,
          math.min(rMax, sq.rerank * 2)).distinct.sorted
        val calib = Seq((1L, QueryVectors.q1), (2L, QueryVectors.q2))
        val lists = Search.collectIdLists(
          calib.map { case (_, q) =>
            enc.select(col("vec_id"),
                round(SqIndex.sqScore(col("codes"), q, sq.params), 4)
                  .as("sim"))
              .orderBy(desc("sim"), asc("vec_id")).limit(dial.max)
              .select(col("vec_id"))
          } ++ calib.map { case (_, q) =>
            Search.topK(emb, "embedding", "vec_id", q, k = 10)
              .select(col("vec_id"))
          })
        val rows = for {
          ((qid, _), qi) <- calib.zipWithIndex
          top = lists(qi)
          exact = lists(calib.length + qi).toSet
          r <- dial
        } yield {
          val hit = (top.take(r).toSet & exact).size
          (qid, r, hit.toLong,
            math.rint(hit.toDouble / exact.size * 10000) / 10000)
        }
        import s.implicits._
        rows.toDF("qid", "rerank_depth", "n_hit", "recall_at_10")
          .orderBy(col("qid"), col("rerank_depth"))
      },
      None,
      "SQ8 quality: recall@10 of re-ranked quantized search vs exact top-k across the rerank-depth dial"),

    "sq_recall_fixed" -> DeclaredQuery(
      // a RECALL INSTRUMENT behind the byte-exact oracle — the novel
      // step past sq_topk_fixed: not just the search pipeline but the
      // QUALITY MEASUREMENT itself is hash-gated. DuckDB replays the
      // whole evaluation: the quantized ADC ordering over the shared
      // deterministic grid, the exact brute-force top-10, the
      // intersection count at each pinned depth (10/20/50 — static, so
      // the replay is a static SQL string; `sq_recall` keeps the
      // calibrated runtime dial), and the recall arithmetic. A recall
      // number that hash-matches an independent engine is the
      // strongest form of quality evidence this engine reports.
      (s, dir) => {
        val sq = sharedSqIndex(s, dir)
        val emb = T(s, dir, "embeddings")
        val enc = s.read.parquet(sq.codesPath)
        val dial = Seq(10, 20, 50)
        val calib = Seq((1L, QueryVectors.q1), (2L, QueryVectors.q2))
        // one tagged-union collect for all four bounded rankings (see
        // pq_recall) — lists element-identical, scheduler floor paid once
        val lists = Search.collectIdLists(
          calib.map { case (_, q) =>
            enc.select(col("vec_id"),
                round(SqIndex.sqScore(col("codes"), q, sq.params), 4)
                  .as("sim"))
              .orderBy(desc("sim"), asc("vec_id")).limit(dial.max)
              .select(col("vec_id"))
          } ++ calib.map { case (_, q) =>
            Search.topK(emb, "embedding", "vec_id", q, k = 10)
              .select(col("vec_id"))
          })
        val rows = for {
          ((qid, _), qi) <- calib.zipWithIndex
          top = lists(qi)
          exact = lists(calib.length + qi).toSet
          r <- dial
        } yield {
          val hit = (top.take(r).toSet & exact).size
          (qid, r.toLong, hit.toLong,
            math.rint(hit.toDouble / exact.size * 10000) / 10000)
        }
        import s.implicits._
        rows.toDF("qid", "rerank_depth", "n_hit", "recall_at_10")
          .orderBy(col("qid"), col("rerank_depth"))
      },
      Some(s"""WITH grid AS (
         |  SELECT i, min(embedding[i]::DOUBLE) AS lo,
         |    (max(embedding[i]::DOUBLE) - min(embedding[i]::DOUBLE)) / 127
         |      AS dlt
         |  FROM embeddings, (SELECT unnest(range(1,65)) AS i) d
         |  GROUP BY i),
         |g AS (SELECT list(lo ORDER BY i) AS vmin,
         |             list(dlt ORDER BY i) AS dlt FROM grid),
         |q AS (SELECT 1 AS qid, $q1Sql AS qv
         |      UNION ALL SELECT 2, $q2Sql),
         |scored AS (
         |  SELECT q.qid, e.vec_id,
         |    round(list_dot_product(qv, vmin)
         |      + list_sum(list_transform(range(1,65), i ->
         |          qv[i] * dlt[i] * (CASE WHEN dlt[i] = 0 THEN 0
         |            ELSE least(127, greatest(0,
         |              CAST(round((e.embedding[i]::DOUBLE - vmin[i])
         |                / dlt[i]) AS INT))) END))), 4) AS sq
         |  FROM embeddings e CROSS JOIN g CROSS JOIN q),
         |ranked AS (
         |  SELECT qid, vec_id, row_number() OVER (PARTITION BY qid
         |    ORDER BY sq DESC, vec_id) AS rn FROM scored),
         |exact AS (
         |  SELECT qid, vec_id FROM (
         |    SELECT q.qid, e.vec_id, row_number() OVER (PARTITION BY q.qid
         |      ORDER BY round(list_dot_product(
         |          CAST(e.embedding AS DOUBLE[]), q.qv), 4) DESC,
         |        e.vec_id) AS xr
         |    FROM embeddings e CROSS JOIN q) WHERE xr <= 10),
         |depths AS (SELECT unnest([10, 20, 50]) AS r),
         |hits AS (
         |  SELECT rk.qid, d.r, count(*) AS n_hit
         |  FROM ranked rk JOIN exact x USING (qid, vec_id)
         |  CROSS JOIN depths d WHERE rk.rn <= d.r
         |  GROUP BY rk.qid, d.r)
         |SELECT CAST(b.qid AS BIGINT) AS qid,
         |  CAST(b.r AS BIGINT) AS rerank_depth,
         |  CAST(COALESCE(h.n_hit, 0) AS BIGINT) AS n_hit,
         |  round(COALESCE(h.n_hit, 0) / 10.0, 4) AS recall_at_10
         |FROM (SELECT q.qid, d.r FROM q CROSS JOIN depths d) b
         |LEFT JOIN hits h ON h.qid = b.qid AND h.r = b.r
         |ORDER BY qid, rerank_depth""".stripMargin),
      "SQ8 recall@10 at pinned depths — the quality instrument itself hash-matched against an independent engine"),

    "sq_topk_fixed" -> DeclaredQuery(
      // the SQ8 pipeline under the BYTE-EXACT ORACLE — the ivf_assign
      // pattern applied to the quantization family: unlike the
      // float-iterative k-means codebooks, the SQ grid is pure
      // per-dimension min/max (no accumulation, no iteration), so the
      // ENTIRE pipeline — train → encode → quantized scan → top-50
      // candidate cut → exact re-rank — is SQL-expressible and DuckDB
      // replays it from the raw table (grid CTE → code arithmetic →
      // same candidate cut → same re-rank). The rerank depth is pinned
      // at 50 instead of the shared handle's runtime-calibrated value
      // (a static SQL string cannot read the calibration); `sq_topk`
      // stays the calibrated operating point. Codes and grid come from
      // the SAME shared build the calibrated row uses, so this row
      // certifies the deployed artifact, not a parallel re-derivation.
      (s, dir) => {
        val sq = sharedSqIndex(s, dir)
        SqIndex.searchRerank(s.read.parquet(sq.codesPath),
            T(s, dir, "embeddings"), "vec_id", "embedding",
            QueryVectors.q1, sq.params, k = 10, r = 50)
          .withColumn("rank", col("rank").cast("long"))
          .orderBy(col("rank"))
      },
      Some(s"""WITH grid AS (
         |  SELECT i, min(embedding[i]::DOUBLE) AS lo,
         |    (max(embedding[i]::DOUBLE) - min(embedding[i]::DOUBLE)) / 127
         |      AS dlt
         |  FROM embeddings, (SELECT unnest(range(1,65)) AS i) d
         |  GROUP BY i),
         |g AS (SELECT list(lo ORDER BY i) AS vmin,
         |             list(dlt ORDER BY i) AS dlt FROM grid),
         |scored AS (
         |  SELECT e.vec_id,
         |    round(list_dot_product($q1Sql, vmin)
         |      + list_sum(list_transform(range(1,65), i ->
         |          ($q1Sql)[i] * dlt[i] * (CASE WHEN dlt[i] = 0 THEN 0
         |            ELSE least(127, greatest(0,
         |              CAST(round((e.embedding[i]::DOUBLE - vmin[i])
         |                / dlt[i]) AS INT))) END))), 4) AS sq
         |  FROM embeddings e CROSS JOIN g),
         |cand AS (SELECT vec_id FROM scored ORDER BY sq DESC, vec_id
         |         LIMIT 50)
         |SELECT vec_id, sim,
         |  row_number() OVER (ORDER BY sim DESC, vec_id) AS rank
         |FROM (
         |  SELECT e.vec_id,
         |    round(${duckDot("e.embedding", q1Sql)}, 4) AS sim
         |  FROM embeddings e JOIN cand USING (vec_id))
         |ORDER BY sim DESC, vec_id LIMIT 10""".stripMargin),
      "SQ8 train+encode+scan+rerank under the byte-exact oracle at a pinned depth (the grid is min/max — no float iteration to hide)"),

    "pq_topk_fixed" -> DeclaredQuery(
      // the PQ pipeline under the BYTE-EXACT ORACLE — the ivf_probe_fixed
      // trick applied to product quantization: swap the float-iterative
      // k-means codebooks for the train's DETERMINISTIC INIT alone (the
      // 16 smallest-id vectors' subvectors — what trainCodebooks starts
      // from), and the whole pipeline — per-subspace argmin encode, the
      // driver-side ADC lookup-table fold, the top-50 candidate cut, the
      // exact re-rank — is SQL-expressible and DuckDB replays it stage
      // by stage (codeword argmin ≡ row_number over (subspace distance,
      // code); ADC fold ≡ ordered list_sum of per-subspace dot
      // products). The only thing the rows-only pq_topk adds over this
      // row is the Lloyd-iterated codewords themselves; the ENCODE/ADC/
      // re-rank arithmetic it runs is exactly what this row hash-gates.
      // The corpus is SLICED (vec_id % 8 = 0, mirrored in the SQL): the
      // HOF argmin encode is the expensive stage, and bounding it keeps
      // the row bench-proportionate — whole-corpus realism stays with
      // the calibrated pq_topk over the shared prebuilt codes table;
      // this row's job is the hash gate. The fixed-codebook codes table
      // comes from the sharedFixedPq memo (built once per dir, priced as
      // the `_pqf_encode` infra line): each rep measures the deployed
      // ADC scan + re-rank, not a re-encode of yesterday's artifact.
      (s, dir) => {
        val emb = T(s, dir, "embeddings").filter(col("vec_id") % 8 === 0)
        val pqf = sharedFixedPq(s, dir)
        PqIndex.searchRerank(s.read.parquet(pqf.codesPath), emb,
            "vec_id", "embedding", QueryVectors.q1, pqf.codebooks,
            k = 10, r = 50)
          .withColumn("rank", col("rank").cast("long"))
          .orderBy(col("rank"))
      },
      Some(s"""WITH emb8 AS (
         |  SELECT * FROM embeddings WHERE vec_id % 8 = 0),
         |seeds AS (
         |  SELECT row_number() OVER (ORDER BY vec_id) - 1 AS code,
         |         CAST(embedding AS DOUBLE[]) AS v
         |  FROM (SELECT * FROM emb8 ORDER BY vec_id LIMIT 16)),
         |m AS (SELECT unnest(range(0,8)) AS mi),
         |codes AS (
         |  SELECT vec_id, mi, code FROM (
         |    SELECT e.vec_id, m.mi, s.code,
         |      row_number() OVER (PARTITION BY e.vec_id, m.mi
         |        ORDER BY list_distance(
         |            list_slice(CAST(e.embedding AS DOUBLE[]),
         |                       m.mi*8+1, m.mi*8+8),
         |            list_slice(s.v, m.mi*8+1, m.mi*8+8)),
         |          s.code) AS rn
         |    FROM emb8 e CROSS JOIN m CROSS JOIN seeds s)
         |  WHERE rn = 1),
         |cl AS (SELECT vec_id, list(code ORDER BY mi) AS codes_l
         |       FROM codes GROUP BY vec_id),
         |cells AS (SELECT list(v ORDER BY code) AS cs FROM seeds),
         |adc AS (
         |  SELECT vec_id, round(list_sum(list_transform(range(0,8), i ->
         |      list_dot_product(list_slice($q1Sql, i*8+1, i*8+8),
         |        list_slice(cs[codes_l[i+1]+1], i*8+1, i*8+8)))), 4) AS a
         |  FROM cl CROSS JOIN cells),
         |cand AS (SELECT vec_id FROM adc ORDER BY a DESC, vec_id LIMIT 50)
         |SELECT vec_id, sim,
         |  row_number() OVER (ORDER BY sim DESC, vec_id) AS rank
         |FROM (SELECT e.vec_id,
         |        round(${duckDot("e.embedding", q1Sql)}, 4) AS sim
         |      FROM emb8 e JOIN cand USING (vec_id))
         |ORDER BY sim DESC, vec_id LIMIT 10""".stripMargin),
      "PQ encode+ADC+rerank under the byte-exact oracle at fixed (init) codebooks — the arithmetic pq_topk runs, hash-gated"),

    "ivfpq_topk_fixed" -> DeclaredQuery(
      // the COMPOSED residual index under the BYTE-EXACT ORACLE: fixed
      // seed centroids (the ivf_probe_fixed rule) × fixed residual
      // codebooks (the 16 smallest-id RESIDUALS' subvectors — residual
      // computation is pure float subtraction, so the artifact chain
      // stays deterministic end to end). The row exercises the REAL
      // deployed path — encodeResidual → cluster-partitioned codes
      // table on disk → probeIvfPq's partition-pruned ADC scan with the
      // per-cluster coarse term → exact re-rank — and DuckDB replays
      // every stage: assignment argmin, residual arithmetic, codeword
      // argmin per subspace, coarse+ADC scoring restricted to the
      // 3 probed clusters, the top-50 cut, the re-rank. The rows-only
      // ivfpq_topk differs ONLY in where the centroids/codewords come
      // from (two stacked k-means). The fixed artifact chain (seed
      // centroids → assignment → residual codebooks → cluster-partitioned
      // codes table) comes from the sharedFixedIvfPq memo (built once per
      // dir, priced as the `_ivfpqf_build` infra line): each rep measures
      // the deployed partition-pruned ADC probe + re-rank.
      (s, dir) => {
        val emb = T(s, dir, "embeddings")
        val (path, cents, cb) = sharedFixedIvfPq(s, dir)
        localFrameOrdered(
          PqIndex.probeIvfPq(s, path, "vec_id", cents, QueryVectors.q1,
              cb, k = 10, nprobe = 3,
              rerank = Some((emb, "embedding", 50)))
            .withColumn("rank", col("rank").cast("long")), "rank")
      },
      Some(s"""WITH cents AS (
         |  SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cluster_id,
         |         CAST(embedding AS DOUBLE[]) AS centroid
         |  FROM (SELECT * FROM embeddings ORDER BY vec_id LIMIT 8)),
         |assign AS (
         |  SELECT vec_id, cluster_id FROM (
         |    SELECT e.vec_id, c.cluster_id,
         |      row_number() OVER (PARTITION BY e.vec_id
         |        ORDER BY list_distance(CAST(e.embedding AS DOUBLE[]),
         |                               c.centroid),
         |          c.cluster_id) AS rn
         |    FROM embeddings e CROSS JOIN cents c) WHERE rn = 1),
         |res AS (
         |  SELECT e.vec_id, a.cluster_id,
         |    list_transform(range(1,65),
         |      i -> e.embedding[i]::DOUBLE - c.centroid[i]) AS r
         |  FROM embeddings e JOIN assign a USING (vec_id)
         |  JOIN cents c ON c.cluster_id = a.cluster_id),
         |rseeds AS (
         |  SELECT row_number() OVER (ORDER BY vec_id) - 1 AS code, r AS v
         |  FROM (SELECT * FROM res ORDER BY vec_id LIMIT 16)),
         |m AS (SELECT unnest(range(0,8)) AS mi),
         |codes AS (
         |  SELECT vec_id, mi, code FROM (
         |    SELECT r.vec_id, m.mi, s.code,
         |      row_number() OVER (PARTITION BY r.vec_id, m.mi
         |        ORDER BY list_distance(
         |            list_slice(r.r, m.mi*8+1, m.mi*8+8),
         |            list_slice(s.v, m.mi*8+1, m.mi*8+8)),
         |          s.code) AS rn
         |    FROM res r CROSS JOIN m CROSS JOIN rseeds s) WHERE rn = 1),
         |cl AS (SELECT vec_id, list(code ORDER BY mi) AS codes_l
         |       FROM codes GROUP BY vec_id),
         |cells AS (SELECT list(v ORDER BY code) AS cs FROM rseeds),
         |near AS (SELECT cluster_id FROM cents
         |         ORDER BY list_distance(centroid, $q1Sql), cluster_id
         |         LIMIT 3),
         |scored AS (
         |  SELECT a.vec_id,
         |    round(list_dot_product($q1Sql, c.centroid)
         |      + list_sum(list_transform(range(0,8), i ->
         |          list_dot_product(list_slice($q1Sql, i*8+1, i*8+8),
         |            list_slice(cs[codes_l[i+1]+1], i*8+1, i*8+8)))), 4)
         |      AS sim
         |  FROM assign a JOIN near n USING (cluster_id)
         |  JOIN cents c ON c.cluster_id = a.cluster_id
         |  JOIN cl ON cl.vec_id = a.vec_id CROSS JOIN cells),
         |cand AS (SELECT vec_id FROM scored ORDER BY sim DESC, vec_id
         |         LIMIT 50)
         |SELECT vec_id, sim,
         |  row_number() OVER (ORDER BY sim DESC, vec_id) AS rank
         |FROM (SELECT e.vec_id,
         |        round(${duckDot("e.embedding", q1Sql)}, 4) AS sim
         |      FROM embeddings e JOIN cand USING (vec_id))
         |ORDER BY sim DESC, vec_id LIMIT 10""".stripMargin),
      "residual IVF-PQ (partition-pruned ADC + coarse term + rerank) under the byte-exact oracle at fixed artifacts"),

    "ivfpq_topk" -> DeclaredQuery(
      // the COMPOSED index at its calibrated operating point: IVF
      // partition pruning (only the shared nprobe's cluster partitions
      // are read) × residual-PQ compressed scan (1-byte codes, ADC
      // lookup fold + per-cluster coarse term) → exact re-rank of the
      // bounded candidate set. This is the canonical 100 TB ANN layout:
      // read nprobe/k of the corpus AND read it 32× smaller. Rows-only
      // (float-iterative, two stacked k-means); exhaustive-probe +
      // lossless-codebook ≡ exact is asserted in PqIndexSpec, the
      // operating point is certified by `ivfpq_recall`.
      (s, dir) => {
        val ix = sharedIvfPqIndex(s, dir)
        val ivf = sharedIvfIndex(s, dir)
        PqIndex.probeIvfPq(s, ix.codesPath, "vec_id", ivf.centroids,
          QueryVectors.q1, ix.codebooks, k = 10, nprobe = ix.nprobe,
          rerank = Some((T(s, dir, "embeddings"), "embedding", ix.rerank)))
          .orderBy(col("rank"))
      },
      None,
      "residual IVF-PQ probe: partition-pruned compressed scan + exact re-rank at the calibrated point"),

    "ivfpq_recall" -> DeclaredQuery(
      // quality evidence for the composed index: recall@10 vs the exact
      // brute-force top-10 across the rerank dial at the SHARED nprobe —
      // prices in BOTH approximations at once (skipped cells + residual
      // quantization). One bounded partition-pruned probe per query
      // evaluates the whole dial (bounded-candidates argument,
      // sharedPqIndex scaladoc); the declared depth must meet
      // PqRecallTarget by construction of the calibration.
      (s, dir) => {
        val ix = sharedIvfPqIndex(s, dir)
        val ivf = sharedIvfIndex(s, dir)
        val emb = T(s, dir, "embeddings")
        // memoized corpus count + one tagged-union collect for all four
        // bounded rankings (see pq_recall) — lists element-identical
        val rMax = math.min(embStats(s, dir)._1, PqMaxRerank.toLong).toInt
        val dial = Seq(math.max(10, ix.rerank / 2), ix.rerank,
          math.min(rMax, ix.rerank * 2)).distinct.sorted
        val calib = Seq((1L, QueryVectors.q1), (2L, QueryVectors.q2))
        val lists = Search.collectIdLists(
          calib.map { case (_, q) =>
            PqIndex.probeIvfPq(s, ix.codesPath, "vec_id",
                ivf.centroids, q, ix.codebooks, k = dial.max,
                nprobe = ix.nprobe)
              .select(col("vec_id"))
          } ++ calib.map { case (_, q) =>
            Search.topK(emb, "embedding", "vec_id", q, k = 10)
              .select(col("vec_id"))
          })
        val rows = for {
          ((qid, _), qi) <- calib.zipWithIndex
          adc = lists(qi)
          exact = lists(calib.length + qi).toSet
          r <- dial
        } yield {
          val hit = (adc.take(r).toSet & exact).size
          (qid, r, hit.toLong,
            math.rint(hit.toDouble / exact.size * 10000) / 10000)
        }
        import s.implicits._
        rows.toDF("qid", "rerank_depth", "n_hit", "recall_at_10")
          .orderBy(col("qid"), col("rerank_depth"))
      },
      None,
      "residual IVF-PQ quality: recall@10 vs exact across the rerank dial at the shared nprobe"),

    "ivfpq_recall_fixed" -> DeclaredQuery(
      // the COMPOSED-index RECALL INSTRUMENT behind the byte-exact
      // oracle — completes the family (sq/pq/ivf/ivfpq now all carry a
      // hash-gated recall twin): under ivfpq_topk_fixed's deterministic
      // artifact chain DuckDB replays the full quality evaluation of
      // BOTH stacked approximations at once — assignment, residuals,
      // codeword argmin, the coarse+ADC ordering restricted to the 3
      // probed clusters, the exact brute-force top-10 over the WHOLE
      // corpus (so cells the probe skips count against recall, exactly
      // as deployed), intersections at pinned depths 10/20/50, and the
      // recall arithmetic. Same sharedFixedIvfPq artifact as the topk
      // twin; `ivfpq_recall` keeps the calibrated dial.
      (s, dir) => {
        val (path, cents, cb) = sharedFixedIvfPq(s, dir)
        val emb = T(s, dir, "embeddings")
        val dial = Seq(10, 20, 50)
        val calib = Seq((1L, QueryVectors.q1), (2L, QueryVectors.q2))
        // one tagged-union collect for all four bounded rankings (see
        // pq_recall) — lists element-identical, scheduler floor paid once
        val lists = Search.collectIdLists(
          calib.map { case (_, q) =>
            PqIndex.probeIvfPq(s, path, "vec_id", cents, q, cb,
                k = dial.max, nprobe = 3)
              .select(col("vec_id"))
          } ++ calib.map { case (_, q) =>
            Search.topK(emb, "embedding", "vec_id", q, k = 10)
              .select(col("vec_id"))
          })
        val rows = for {
          ((qid, _), qi) <- calib.zipWithIndex
          adc = lists(qi)
          exact = lists(calib.length + qi).toSet
          r <- dial
        } yield {
          val hit = (adc.take(r).toSet & exact).size
          (qid, r.toLong, hit.toLong,
            math.rint(hit.toDouble / exact.size * 10000) / 10000)
        }
        import s.implicits._
        rows.toDF("qid", "rerank_depth", "n_hit", "recall_at_10")
          .orderBy(col("qid"), col("rerank_depth"))
      },
      Some(s"""WITH cents AS (
         |  SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cluster_id,
         |         CAST(embedding AS DOUBLE[]) AS centroid
         |  FROM (SELECT * FROM embeddings ORDER BY vec_id LIMIT 8)),
         |q AS (SELECT 1 AS qid, $q1Sql AS qv
         |      UNION ALL SELECT 2, $q2Sql),
         |assign AS (
         |  SELECT vec_id, cluster_id FROM (
         |    SELECT e.vec_id, c.cluster_id,
         |      row_number() OVER (PARTITION BY e.vec_id
         |        ORDER BY list_distance(CAST(e.embedding AS DOUBLE[]),
         |                               c.centroid),
         |          c.cluster_id) AS rn
         |    FROM embeddings e CROSS JOIN cents c) WHERE rn = 1),
         |res AS (
         |  SELECT e.vec_id, a.cluster_id,
         |    list_transform(range(1,65),
         |      i -> e.embedding[i]::DOUBLE - c.centroid[i]) AS r
         |  FROM embeddings e JOIN assign a USING (vec_id)
         |  JOIN cents c ON c.cluster_id = a.cluster_id),
         |rseeds AS (
         |  SELECT row_number() OVER (ORDER BY vec_id) - 1 AS code, r AS v
         |  FROM (SELECT * FROM res ORDER BY vec_id LIMIT 16)),
         |m AS (SELECT unnest(range(0,8)) AS mi),
         |codes AS (
         |  SELECT vec_id, mi, code FROM (
         |    SELECT r.vec_id, m.mi, s.code,
         |      row_number() OVER (PARTITION BY r.vec_id, m.mi
         |        ORDER BY list_distance(
         |            list_slice(r.r, m.mi*8+1, m.mi*8+8),
         |            list_slice(s.v, m.mi*8+1, m.mi*8+8)),
         |          s.code) AS rn
         |    FROM res r CROSS JOIN m CROSS JOIN rseeds s) WHERE rn = 1),
         |cl AS (SELECT vec_id, list(code ORDER BY mi) AS codes_l
         |       FROM codes GROUP BY vec_id),
         |cells AS (SELECT list(v ORDER BY code) AS cs FROM rseeds),
         |near AS (
         |  SELECT qid, cluster_id FROM (
         |    SELECT q.qid, c.cluster_id,
         |      row_number() OVER (PARTITION BY q.qid
         |        ORDER BY list_distance(c.centroid, q.qv), c.cluster_id)
         |        AS crank
         |    FROM q CROSS JOIN cents c) WHERE crank <= 3),
         |scored AS (
         |  SELECT n.qid, a.vec_id,
         |    round(list_dot_product(q.qv, c.centroid)
         |      + list_sum(list_transform(range(0,8), i ->
         |          list_dot_product(list_slice(q.qv, i*8+1, i*8+8),
         |            list_slice(cs[codes_l[i+1]+1], i*8+1, i*8+8)))), 4)
         |      AS sim
         |  FROM assign a JOIN near n USING (cluster_id)
         |  JOIN q ON q.qid = n.qid
         |  JOIN cents c ON c.cluster_id = a.cluster_id
         |  JOIN cl ON cl.vec_id = a.vec_id CROSS JOIN cells),
         |ranked AS (
         |  SELECT qid, vec_id, row_number() OVER (PARTITION BY qid
         |    ORDER BY sim DESC, vec_id) AS rn
         |  FROM scored WHERE sim IS NOT NULL),
         |exact AS (
         |  SELECT qid, vec_id FROM (
         |    SELECT q.qid, e.vec_id, row_number() OVER (PARTITION BY q.qid
         |      ORDER BY round(list_dot_product(
         |          CAST(e.embedding AS DOUBLE[]), q.qv), 4) DESC,
         |        e.vec_id) AS xr
         |    FROM embeddings e CROSS JOIN q) WHERE xr <= 10),
         |depths AS (SELECT unnest([10, 20, 50]) AS r),
         |hits AS (
         |  SELECT rk.qid, d.r, count(*) AS n_hit
         |  FROM ranked rk JOIN exact x USING (qid, vec_id)
         |  CROSS JOIN depths d WHERE rk.rn <= d.r
         |  GROUP BY rk.qid, d.r)
         |SELECT CAST(b.qid AS BIGINT) AS qid,
         |  CAST(b.r AS BIGINT) AS rerank_depth,
         |  CAST(COALESCE(h.n_hit, 0) AS BIGINT) AS n_hit,
         |  round(COALESCE(h.n_hit, 0) / 10.0, 4) AS recall_at_10
         |FROM (SELECT q.qid, d.r FROM q CROSS JOIN depths d) b
         |LEFT JOIN hits h ON h.qid = b.qid AND h.r = b.r
         |ORDER BY qid, rerank_depth""".stripMargin),
      "IVF-PQ recall@10 at pinned depths under fixed artifacts (both stacked approximations priced in) — the quality instrument hash-matched against an independent engine"),

    "incr_ivfpq_append" -> DeclaredQuery(
      // INCREMENTAL MAINTENANCE OF THE COMPRESSED INDEX, driver-visible
      // end-to-end (the incr_ivf_append story, composed with PQ): a
      // day-1 codes table (the shared residual-codes table MINUS the
      // incoming slice — no re-train, no re-encode of existing rows)
      // receives the incoming batch via assign-to-frozen-centroids +
      // residual-encode-under-the-frozen-codebooks + partition append
      // (only touched cells gain files). Evidence: an EXHAUSTIVE probe
      // (nprobe = k) of the appended table, exact-re-ranked at full
      // depth, degenerates to exact brute force over whatever the index
      // CONTAINS — so its top-10 must equal the exact top-10 over the
      // whole corpus; a vector lost (or double-appended) by the append
      // path breaks the match column. Rows-only per the contract.
      (s, dir) => {
        val ix = sharedIvfPqIndex(s, dir)
        val ivf = sharedIvfIndex(s, dir)
        val emb = T(s, dir, "embeddings")
        // memoized day-1 codes slice, file-copied fresh (append mutates)
        val path = day1SliceCopy(s, ix.codesPath, "ivfpqapp")
        try {
          val incoming = emb.filter(col("vec_id") % 10 === 0)
          PqIndex.encodeResidual(incoming, "vec_id", "embedding",
              IvfIndex.assignTo(incoming, "vec_id", "embedding",
                ivf.centroids),
              ivf.centroids, ix.codebooks)
            .repartition(col("cluster_id"))
            .write.partitionBy("cluster_id").mode("append").parquet(path)
          // corpus row count from the maintained stats memo — no count job
          val n = embStats(s, dir)._1.toInt
          val probed = PqIndex.probeIvfPq(s, path, "vec_id", ivf.centroids,
              QueryVectors.q1, ix.codebooks, k = 10, nprobe = ivf.k,
              rerank = Some((emb, "embedding", math.max(10, n))))
            .select(col("vec_id"), col("sim"))
          val exact = Search.topK(emb, "embedding", "vec_id",
              QueryVectors.q1, k = 10)
            .select(col("vec_id"), col("sim").as("sim_exact"))
          localFrameOrdered(probed.join(exact, Seq("vec_id"), "full_outer")
            .select(col("vec_id"), col("sim"), col("sim_exact"),
              (col("sim") === col("sim_exact")).as("matches")),
            "-sim", "vec_id")
        } finally org.apache.commons.io.FileUtils
          .deleteDirectory(new java.io.File(path).getParentFile)
      },
      None,
      "incremental IVF-PQ append: frozen centroids + frozen codebooks + partition append; exhaustive probe ≡ exact top-10"),

    "ivf_recall" -> DeclaredQuery(
      // driver-visible index QUALITY evidence: recall@10 of the shared
      // partitioned-index probe vs the exact brute-force top-10, for both
      // fixture query vectors. The collects are k-bounded (10 ids per
      // side per query — same class as localFrame's tiny-result rule);
      // at corpus scale the same number is one anti-join between two
      // k-row relations. Float-iterative k-means → rows-only per the
      // contract; the VALUE the row carries is the point: the
      // corpus-scaled operating point (ivfSizing: k ≈ √n, nprobe reading
      // ~15 % of the corpus) must keep recall@10 ≥ 0.9, and a collapsed
      // index would surface here as a driver-visible drop, not a
      // spec-only one.
      (s, dir) => {
        val ivf = sharedIvfIndex(s, dir)
        val emb = T(s, dir, "embeddings")
        // the accelerate-vs-recall dial, anchored to the build's chosen
        // point: half the declared nprobe (the cheap end), the declared
        // nprobe itself (what ivf_probe/_part/_many actually run — THE
        // certified row), and nprobe = k, which probes every cluster and
        // MUST be exactly 1.0 — the index-completeness self-check (a
        // vector lost by the partitioned layout would surface here).
        // The dial's INDEX side is measured by ONE distributed job
        // (IvfIndex.calibrationTopK): per-(query, cluster) top-10 rows,
        // from which the driver reads every nprobe's answer with
        // probePartitioned's exact scoring and tie-breaks (equivalence
        // asserted in IvfIndexSpec) — instead of two probe jobs per
        // dial point. The EXACT side deliberately stays a brute-force
        // scan of the SOURCE table, never the index: deriving "exact"
        // from the index itself would hide exactly the lost-vector
        // failure the nprobe = k row exists to catch.
        val dial = Seq(math.max(2, ivf.nprobe / 2), ivf.nprobe, ivf.k)
          .distinct
        val centsSeq = ivf.centroids.collect().toIndexedSeq
          .map(r => (r.getInt(0), r.getSeq[Double](1).toIndexedSeq))
        val calib = Seq((1L, QueryVectors.q1), (2L, QueryVectors.q2))
        val sweep = IvfIndex.calibrationTopK(s, ivf.indexPath, "vec_id",
          "embedding", centsSeq, calib, k = 10)
        def topAt(qid: Long, np: Int): Set[Long] =
          sweep.iterator.filter(t => t._1 == qid && t._2 < np).toSeq
            .sortBy(t => (-t._4, t._3)).take(10).map(_._3).toSet
        // both queries' exact top-10s in ONE tagged-union collect (r19
        // verdict #4) — sets element-identical to per-query collects
        val exactLists = Search.collectIdLists(calib.map { case (_, q) =>
          Search.topK(emb, "embedding", "vec_id", q, k = 10)
            .select(col("vec_id"))
        })
        val rows = for {
          ((qid, _), qi) <- calib.zipWithIndex
          exact = exactLists(qi).toSet
          nprobe <- dial
        } yield {
          val probed = topAt(qid, nprobe)
          val recall = math.rint(
            (exact & probed).size.toDouble / exact.size * 10000) / 10000
          (qid, nprobe, (exact & probed).size.toLong, recall)
        }
        import s.implicits._
        rows.toDF("qid", "nprobe", "n_hit", "recall_at_10")
          .orderBy(col("qid"), col("nprobe"))
      },
      None,
      "B6 quality: recall@10 of the shared IVF probe vs exact top-k across the nprobe dial"),

    "ivf_recall_fixed" -> DeclaredQuery(
      // the IVF RECALL INSTRUMENT behind the byte-exact oracle —
      // sq_recall_fixed's pattern applied to the inverted-file family:
      // `ivf_recall`'s float-iterated centroids can't enter a static SQL
      // string, but the fixed seed centroids can, so DuckDB replays the
      // ENTIRE quality evaluation — assignment argmin, the per-query
      // cluster ranking, the probe candidate set at every pinned nprobe
      // (1/2/3/8), the candidates' exact-dot ranking, the brute-force
      // exact top-10, the intersection counts and the recall arithmetic.
      // nprobe = 8 probes EVERY cluster, so its recall row must be
      // exactly 1.0 — the index-completeness self-check, here certified
      // by an independent engine (a vector lost by the partitioned
      // layout breaks the hash). The index table is the SAME
      // sharedFixedIvf artifact the hash-gated probe rows consume.
      (s, dir) => {
        val (path, cents) = sharedFixedIvf(s, dir)
        val emb = T(s, dir, "embeddings")
        val centsSeq = cents.collect().toIndexedSeq
          .map(r => (r.getInt(0), r.getSeq[Double](1).toIndexedSeq))
        val calib = Seq((1L, QueryVectors.q1), (2L, QueryVectors.q2))
        val sweep = IvfIndex.calibrationTopK(s, path, "vec_id",
          "embedding", centsSeq, calib, k = 10)
        def topAt(qid: Long, np: Int): Set[Long] =
          sweep.iterator.filter(t => t._1 == qid && t._2 < np).toSeq
            .sortBy(t => (-t._4, t._3)).take(10).map(_._3).toSet
        val dial = Seq(1, 2, 3, 8)
        // both queries' exact top-10s in ONE tagged-union collect (r19
        // verdict #4) — sets element-identical to per-query collects
        val exactLists = Search.collectIdLists(calib.map { case (_, q) =>
          Search.topK(emb, "embedding", "vec_id", q, k = 10)
            .select(col("vec_id"))
        })
        val rows = for {
          ((qid, _), qi) <- calib.zipWithIndex
          exact = exactLists(qi).toSet
          nprobe <- dial
        } yield {
          val hit = (exact & topAt(qid, nprobe)).size
          (qid, nprobe.toLong, hit.toLong,
            math.rint(hit.toDouble / exact.size * 10000) / 10000)
        }
        import s.implicits._
        rows.toDF("qid", "nprobe", "n_hit", "recall_at_10")
          .orderBy(col("qid"), col("nprobe"))
      },
      Some(s"""WITH cents AS (
         |  SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cluster_id,
         |         CAST(embedding AS DOUBLE[]) AS centroid
         |  FROM (SELECT * FROM embeddings ORDER BY vec_id LIMIT 8)),
         |q AS (SELECT 1 AS qid, $q1Sql AS qv
         |      UNION ALL SELECT 2, $q2Sql),
         |assign AS (
         |  SELECT vec_id, cluster_id FROM (
         |    SELECT e.vec_id, c.cluster_id,
         |      row_number() OVER (PARTITION BY e.vec_id
         |        ORDER BY list_distance(CAST(e.embedding AS DOUBLE[]),
         |                               c.centroid),
         |          c.cluster_id) AS rn
         |    FROM embeddings e CROSS JOIN cents c) WHERE rn = 1),
         |near AS (
         |  SELECT q.qid, c.cluster_id,
         |    row_number() OVER (PARTITION BY q.qid
         |      ORDER BY list_distance(c.centroid, q.qv), c.cluster_id)
         |      AS crank
         |  FROM q CROSS JOIN cents c),
         |depths AS (SELECT unnest([1, 2, 3, 8]) AS p),
         |cand AS (
         |  SELECT n.qid, d.p, e.vec_id,
         |    round(list_dot_product(CAST(e.embedding AS DOUBLE[]), q.qv),
         |      4) AS sim
         |  FROM embeddings e JOIN assign a USING (vec_id)
         |  JOIN near n ON n.cluster_id = a.cluster_id
         |  JOIN q ON q.qid = n.qid
         |  CROSS JOIN depths d
         |  WHERE n.crank <= d.p),
         |ranked AS (
         |  SELECT qid, p, vec_id, row_number() OVER (PARTITION BY qid, p
         |    ORDER BY sim DESC, vec_id) AS rn
         |  FROM cand WHERE sim IS NOT NULL),
         |exact AS (
         |  SELECT qid, vec_id FROM (
         |    SELECT q.qid, e.vec_id, row_number() OVER (PARTITION BY q.qid
         |      ORDER BY round(list_dot_product(
         |          CAST(e.embedding AS DOUBLE[]), q.qv), 4) DESC,
         |        e.vec_id) AS xr
         |    FROM embeddings e CROSS JOIN q) WHERE xr <= 10),
         |hits AS (
         |  SELECT r.qid, r.p, count(*) AS n_hit
         |  FROM ranked r JOIN exact x USING (qid, vec_id)
         |  WHERE r.rn <= 10 GROUP BY r.qid, r.p)
         |SELECT CAST(b.qid AS BIGINT) AS qid,
         |  CAST(b.p AS BIGINT) AS nprobe,
         |  CAST(COALESCE(h.n_hit, 0) AS BIGINT) AS n_hit,
         |  round(COALESCE(h.n_hit, 0) / 10.0, 4) AS recall_at_10
         |FROM (SELECT q.qid, d.p FROM q CROSS JOIN depths d) b
         |LEFT JOIN hits h ON h.qid = b.qid AND h.p = b.p
         |ORDER BY qid, nprobe""".stripMargin),
      "IVF recall@10 at pinned nprobes under fixed centroids (incl. the probe-all = 1.0 completeness row) — the quality instrument hash-matched against an independent engine"),

    "incr_ivf_append" -> DeclaredQuery(
      // INCREMENTAL IVF MAINTENANCE, driver-visible end-to-end: a day-1
      // index (the shared partitioned table MINUS the incoming slice —
      // reusing the shared build's rows and assignments, no second
      // k-means) receives the incoming batch via IvfIndex.assignTo
      // (zero-shuffle projection-argmin against the EXISTING centroids)
      // + appendPartitioned (only touched partitions gain files). The
      // emitted evidence is the completeness check: probing the appended
      // table at nprobe = k is exhaustive over the index, so its top-10
      // must EQUAL the exact brute-force top-10 over the whole corpus —
      // a vector lost (or double-appended) by the append path would
      // break the match column. Float-iterative centroids → rows-only
      // per the contract; byte-level append ≡ rebuild-with-same-
      // centroids equivalence is asserted in IvfIndexSpec.
      (s, dir) => {
        val ivf = sharedIvfIndex(s, dir)
        val emb = T(s, dir, "embeddings")
        // day-1 index: shared table rows NOT in the incoming slice
        // (cluster_id rides along from the existing assignment) — a
        // memoized slice, file-copied fresh since the append mutates it
        val path = day1SliceCopy(s, ivf.indexPath, "ivfapp")
        try {
          // day-2: assign incoming against the FROZEN centroids, append
          val incoming = emb.filter(col("vec_id") % 10 === 0)
          IvfIndex.appendPartitioned(incoming, "vec_id",
            IvfIndex.assignTo(incoming, "vec_id", "embedding", ivf.centroids),
            path)
          val probed = IvfIndex.probePartitioned(s, path, "vec_id",
            "embedding", ivf.centroids, QueryVectors.q1, k = 10,
            nprobe = ivf.k)
            .select(col("vec_id"), col("sim"))
          val exact = graft.operators.Search
            .topK(emb, "embedding", "vec_id", QueryVectors.q1, k = 10)
            .select(col("vec_id"), col("sim").as("sim_exact"))
          localFrameOrdered(probed.join(exact, Seq("vec_id"), "full_outer")
            .select(col("vec_id"), col("sim"), col("sim_exact"),
              (col("sim") === col("sim_exact")).as("matches")),
            "-sim", "vec_id")
        } finally org.apache.commons.io.FileUtils
          .deleteDirectory(new java.io.File(path).getParentFile)
      },
      None,
      "incremental IVF append: assign-to-existing-centroids + partition append; probe@k ≡ exact top-10"),

    "incr_sq_append" -> DeclaredQuery(
      // INCREMENTAL SQ8 MAINTENANCE — the third index family's
      // ingestion-side completion (incr_ivf_append / incr_ivfpq_append
      // are the other two): the incoming batch is encoded under the
      // FROZEN day-1 grid (a pure projection — no re-train, no re-encode
      // of existing rows, no corpus touch) and appended to the codes
      // table. SQ's drift hazard is CLIPPING, not cell assignment: an
      // incoming value outside the day-1 [vmin, vmax] saturates at the
      // grid edge, so the emitted evidence is the re-ranked probe at a
      // modest fixed depth (r = 5k) vs the exact top-10 over
      // corpus ∪ batch with a per-row match column — grid drift shows up
      // as false rows here long before it hurts a deep sweep
      // (rebuild-when-quality-decays, the incr_ivf_append recipe).
      // Grid placement is float min/max → rows-only per the contract;
      // append ≡ full re-encode byte equality is asserted in SqIndexSpec.
      (s, dir) => {
        val emb = T(s, dir, "embeddings")
        val day1 = emb.filter(col("vec_id") % 10 =!= 0)
        val incoming = emb.filter(col("vec_id") % 10 === 0)
        // day-1 grid, trained WITHOUT the incoming slice
        val p = SqIndex.trainParams(day1, "vec_id", "embedding")
        val tmpRoot = java.nio.file.Files.createTempDirectory("graft-sqapp")
        try {
          val path = s"$tmpRoot/codes"
          SqIndex.encode(day1, "vec_id", "embedding", p)
            .write.mode("overwrite").parquet(path)
          // day-2: encode under the FROZEN grid, append — only new files
          SqIndex.encode(incoming, "vec_id", "embedding", p)
            .write.mode("append").parquet(path)
          val probed = SqIndex.searchRerank(s.read.parquet(path), emb,
            "vec_id", "embedding", QueryVectors.q1, p, k = 10, r = 50)
            .select(col("vec_id"), col("sim"))
          val exact = graft.operators.Search
            .topK(emb, "embedding", "vec_id", QueryVectors.q1, k = 10)
            .select(col("vec_id"), col("sim").as("sim_exact"))
          localFrameOrdered(probed.join(exact, Seq("vec_id"), "full_outer")
            .select(col("vec_id"), col("sim"), col("sim_exact"),
              (col("sim") === col("sim_exact")).as("matches")),
            "-sim", "vec_id")
        } finally org.apache.commons.io.FileUtils
          .deleteDirectory(tmpRoot.toFile)
      },
      // PROMOTED (round 10): the grid is pure min/max over the day-1
      // slice, so the whole frozen-grid maintenance cycle — including
      // the clipping drift hazard — replays as static SQL
      Some(incrSqAppendOracleSql),
      "incremental SQ8 append: frozen-grid encode + file append; rerank vs exact top-10 (full DuckDB replay incl. edge clipping)"),

    "ann_lsh" -> DeclaredQuery(
      // PROMOTED to the byte-exact oracle: the hyperplanes are
      // deterministic exact-6-decimal values (HyperplaneLsh.planes —
      // chosen that way so driver and executors agree bit-for-bit),
      // which means the same decimal literals parse to identical
      // doubles in DuckDB and the whole bucket fold — sign(dot) bit
      // per plane, multi-probe IN-set, exact re-rank — replays as
      // static SQL. One engine hiding a flipped sign bit or a wrong
      // probe bucket breaks the hash.
      (s, dir) => graft.operators.HyperplaneLsh.annSearch(
        T(s, dir, "embeddings"), "vec_id", "embedding",
        QueryVectors.q1, k = 10, nBits = 6)
        .select(col("vec_id"), col("sim")),
      Some(annLshOracleSql),
      "LSH-bucketed ANN: sign-random-projection buckets + multi-probe + exact rerank (deterministic planes -> full DuckDB replay)"),

    "jl_topk" -> DeclaredQuery(
      // JOHNSON–LINDENSTRAUSS dimensionality reduction (Achlioptas 2003
      // ±1 form), byte-exact oracle: project 64-dim embeddings to 16
      // dims through the deterministic ±0.25 Rademacher matrix (every
      // entry an exact binary fraction — both engines parse identical
      // doubles) and rank by the PROJECTED dot against the projected
      // query. dot(Px, Pq) ≈ dot(x, q) is the JL contract; this row
      // certifies the projection arithmetic itself, the spec certifies
      // the distortion bound. One row-local projection per row — 16
      // native dots over plan literals, no UDF, no shuffle; at scale
      // the projected corpus is materialized once and every downstream
      // pass reads k/d of the bytes.
      (s, dir) => T(s, dir, "embeddings")
        .select(col("vec_id"),
          r4(dot(VectorFunctions.project(col("embedding"), jlM),
            vecLit(jlQ1))).as("psim"))
        .orderBy(desc("psim"), asc("vec_id")).limit(10),
      Some(s"""SELECT vec_id, $jlPsimSql AS psim
         |FROM embeddings ORDER BY psim DESC, vec_id LIMIT 10""".stripMargin),
      "JL random projection 64→16: top-k by projected dot, matrix + projected query replayed as SQL literals"),

    "jl_search_rerank" -> DeclaredQuery(
      // the JL PREFILTER ANN tier, end-to-end under the oracle: rank
      // by projected dot in 16-dim space (4× fewer bytes than the raw
      // scan), keep the top-50 candidates, then re-rank the survivors
      // by the EXACT 64-dim dot — the classic reduce-then-refine shape
      // (same as PQ's ADC + exact re-rank, but with a closed-form
      // transform the oracle can replay: both the candidate cut —
      // rounded psim with vec_id tiebreak — and the final exact
      // ordering must reproduce DuckDB's row_number replay exactly).
      (s, dir) => {
        val scored = T(s, dir, "embeddings")
          .select(col("vec_id"), col("embedding"),
            r4(dot(VectorFunctions.project(col("embedding"), jlM),
              vecLit(jlQ1))).as("psim"))
        scored.orderBy(desc("psim"), asc("vec_id")).limit(50)
          .select(col("vec_id"),
            r4(dot(col("embedding"), vecLit(QueryVectors.q1))).as("sim"))
          .orderBy(desc("sim"), asc("vec_id")).limit(10)
      },
      Some(s"""WITH scored AS (
         |  SELECT vec_id, $jlPsimSql AS psim,
         |    round(${duckDot("embedding", q1Sql)}, 4) AS sim
         |  FROM embeddings),
         |cand AS (SELECT vec_id, sim FROM (
         |  SELECT vec_id, sim,
         |    row_number() OVER (ORDER BY psim DESC, vec_id) AS rn
         |  FROM scored) WHERE rn <= 50)
         |SELECT vec_id, sim FROM cand
         |ORDER BY sim DESC, vec_id LIMIT 10""".stripMargin),
      "JL-prefiltered ANN: projected-space candidate cut + exact full-dim re-rank, the whole reduce-then-refine pipeline hash-matched"),

    "minhash_pairs" -> DeclaredQuery(
      // the signature pass → band self-join → Jaccard verify chain,
      // served from the per-dir memo shared with dedup_pipeline_lsh
      // (one corpus-wide signature scan per declared-set pass; the memo
      // itself runs minHashCandidatesMaterialized + jaccardVerify, the
      // same chain this query always declared)
      (s, dir) => sharedMinhashVerified(s, dir)
        .filter(col("jaccard") >= 0.8)
        .orderBy(col("id_a"), col("id_b")),
      None,
      "B8: MinHash-LSH candidates + Jaccard verify (seeded xxhash64, no SQL analog)"),

    "near_dup_embed_lsh" -> DeclaredQuery(
      // the SCALE path for embedding near-dup (vs near_dup_embed's
      // bounded all-pairs verification tier): sign-LSH bucketed
      // candidates + exact-cosine verify, never corpus×corpus
      (s, dir) => {
        // TWO serial jobs end-to-end (was three): corpus (count, dim) —
        // which only SIZE the operator (the nBits rule) — come from the
        // per-dir table-statistics memo (`Queries.embStats`, the catalog
        // metadata a deployment already holds) instead of a dedicated
        // per-invocation aggregation job; the persisted (id, vec)
        // working set is populated by the bucket self-join itself, and
        // the verify side reads the same cache
        val (n, d) = embStats(s, dir)
        val base = T(s, dir, "embeddings")
          .select(col("vec_id"), col("embedding"))
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        try {
          localFrameOrdered(lshNearDupVerify(base, n, d), "id_a", "id_b")
        } finally base.unpersist()
      },
      // PROMOTED (round 10): deterministic exact-decimal planes + a
      // table-derived nbits make the whole chain — banding formula,
      // bucket fold, multiprobe rule, cosine verify — a static SQL
      // replay; see nearDupEmbedLshOracleSql
      Some(nearDupEmbedLshOracleSql),
      "embedding near-dup, bucketed: sign-LSH candidates + exact cosine verify (full DuckDB replay incl. the banding formula)"),

    "simhash_pairs" -> DeclaredQuery(
      // materialized variant: the banded signature relation is persisted
      // across the self-join so the corpus-wide SimHash pass runs once,
      // not once per join side
      (s, dir) => NearDup.simHashCandidatesMaterialized(
        T(s, dir, "documents").filter(col("doc_id") < 2000),
        "doc_id", "text", maxHamming = 12)
        .orderBy(col("id_a"), col("id_b")),
      None,
      "B8: SimHash banded near-dup candidates (no SQL analog)"),

    "winnow_pairs" -> DeclaredQuery(
      // winnowing fingerprints as the candidate generator: docs meet only
      // inside a shared fingerprint bucket (explode + equi-join on the
      // fingerprint hash), never all-pairs; n_shared ≥ 2 filters
      // single-hash accidents
      (s, dir) => NearDup.winnowCandidatesMaterialized(
        T(s, dir, "documents"), "doc_id", "text")
        .orderBy(col("id_a"), col("id_b")),
      None,
      "B8: winnowing-fingerprint near-dup candidates (seeded hash, no SQL analog)"),

    "minhash_pairs_fixed" -> DeclaredQuery(
      // completes the fixed-hash twin family (with simhash_pairs_fixed
      // and winnow_pairs_fixed below): the REAL MinHash chain — distinct
      // shingles → hash → k affine-rehash minima → banded self-join —
      // under the closed-form polynomial hash, hash-matched against a
      // full static DuckDB replay. Only the production xxhash64 seeds
      // remain rows-only across all of B8.
      // consumes the per-dir banded-signature memo (the maintained
      // signature table a deployment joins; `_polymh_build` infra line
      // prices the build) through the SAME join closer the operator
      // uses — the chain stays end-to-end certified, the signature
      // pass runs once per set pass instead of once per row
      (s, dir) => {
        val banded = sharedPolyMinhashBanded(s, dir)
        localFrameOrdered(NearDup.bucketPairs(banded, banded,
          NearDup.PairRule.AnyKey, cross = false), "id_a", "id_b")
      },
      Some(minhashFixedOracleSql),
      "MinHash-LSH candidates under the closed-form hash: full DuckDB replay of shingle/minima/banding"),

    "simhash_pairs_fixed" -> DeclaredQuery(
      // the r14-judge promotion recipe (ann_lsh's) applied to SimHash:
      // the seeded xxhash64 of `simhash_pairs` is the only
      // SQL-inexpressible step in its chain, so this twin runs the SAME
      // hash→signature→banding→Hamming-verify chain under the
      // closed-form polynomial hash (NearDup.polyHash) and hash-matches
      // a full static DuckDB replay — sign-vote fold, band split,
      // bucket join, bit_count verify, all certified byte-exact. With
      // 3 bands, hamming ≤ 2 candidates are exhaustively recalled, so
      // the output is banding-loss-free by construction.
      (s, dir) => {
        val banded = sharedPolySimhashBanded(s, dir)
        localFrameOrdered(NearDup.bucketPairs(banded, banded,
          NearDup.PairRule.Hamming(2, bigint = true), cross = false),
          "id_a", "id_b")
      },
      Some(simhashFixedOracleSql),
      "SimHash banded candidates under the closed-form hash: full DuckDB replay of the signature/banding/Hamming chain"),

    "winnow_pairs_fixed" -> DeclaredQuery(
      // winnowing's oracle twin (same promotion recipe): token-3-gram
      // polynomial hashes, window-4 minima over full windows, distinct
      // fingerprint buckets, n_shared ≥ 2 — the whole selection and
      // bucket-join chain replayed as static SQL. The fingerprint SET
      // is tie-rule-independent (equal window minima select the same
      // value), which is what makes the twin exactly replayable.
      (s, dir) => {
        val fps = sharedPolyWinnowFps(s, dir)
        localFrameOrdered(NearDup.bucketPairs(fps, fps,
          NearDup.PairRule.MinShared(2), cross = false), "id_a", "id_b")
      },
      Some(winnowFixedOracleSql),
      "winnowing fingerprint candidates under the closed-form hash: full DuckDB replay of gram-hash/window-min/bucket-join"),

    "q_approx_distinct" -> DeclaredQuery(
      (s, dir) => T(s, dir, "lineitem")
        .agg(approx_count_distinct(col("l_partkey")).as("approx_parts"),
          countDistinct(col("l_partkey")).as("exact_parts")),
      None,
      "B24: HLL approx distinct (sketch-impl-specific, sanity-tested vs exact)"),

    "incr_vocab_sketch" -> DeclaredQuery(
      // incremental corpus statistics by MERGEABLE SKETCH — the
      // evolving-corpus completion of corpus_stats: each ingestion
      // batch (pmod(doc_id, 4)) contributes one per-lang
      // distinct-token HLL sketch, and corpus vocabulary is answered
      // by unioning the batch sketches — no rescan of earlier batches,
      // kilobytes of state per (lang, batch). The row carries its own
      // audit: exact distinct count alongside the merged estimate, the
      // relative error, and a second merge under a DIFFERENT batching
      // (pmod 2) whose estimate must be identical — the register-wise
      // union is associative, so how history was batched cannot matter.
      // Sketch-impl-specific per contract → rows-only; invariants
      // pinned in SketchSpec.
      (s, dir) => {
        // Deliberately UNPERSISTED shared token subtree: each of the
        // three consumers (two sketch batchings + the exact audit)
        // re-runs scan→tokenize→explode, but the explode pipelines
        // straight into each consumer's map-side partial aggregate
        // inside whole-stage codegen — measured 0.33 s lazy vs 0.81 s
        // with a MEMORY_AND_DISK persist of the exploded stream (the
        // blocking cache materializes the corpus-token-sized frame that
        // the lazy form never holds; same finding as
        // admitIncomingExactJaccard's single-plan consumers).
        val toks = T(s, dir, "documents")
          .select(col("lang"), col("doc_id"),
            explode(TextAnalysis.tokens(col("text"))).as("tok"))
        def merged(nb: Int) = Sketch.mergeSketches(
            Sketch.distinctSketches(toks, col("tok"),
              pmod(col("doc_id"), lit(nb)), Seq(col("lang"))),
            Seq(col("lang")))
          .select(col("lang"),
            Sketch.estimate(col("sketch")).as(s"est_$nb"))
        val exact = toks
          .groupBy("lang").agg(countDistinct(col("tok")).as("exact_vocab"))
        exact.join(merged(4), "lang").join(merged(2), "lang")
          .select(col("lang"), col("exact_vocab"),
            col("est_4").as("merged_est"),
            (col("est_4") === col("est_2")).as("grouping_invariant"),
            round(abs(col("est_4") - col("exact_vocab")) / col("exact_vocab"), 4)
              .as("rel_err"))
          .orderBy(col("lang"))
      },
      None,
      "incremental corpus stats: per-batch HLL vocab sketches union-merged; grouping-invariance audited in-row"),

    "incr_heavy_hitters" -> DeclaredQuery(
      // the FREQUENCY twin of incr_vocab_sketch: per-batch count-min
      // sketches of token occurrences, merged by counter addition —
      // which is EXACT, so unlike the HLL row the audit here is strict
      // equality: the per-language top-10 estimated under a pmod-3
      // batching must carry the identical estimate under a pmod-5
      // batching (est === est_alt), and the CMS one-sided guarantee
      // (est >= exact, always) rides in-row as well. Candidates come
      // from each batch's local top-30 (a sketch can answer lookups,
      // not enumerate). Seeded-sketch-impl row per contract →
      // rows-only; byte-exact merge + bound invariants in SketchSpec.
      (s, dir) => {
        // UNPERSISTED token subtree, same finding as incr_vocab_sketch:
        // each consumer's explode pipelines into its map-side partial
        // aggregate. Measured alternatives that LOST: caching the
        // exploded stream (2x slower), widening the scan (per-task cost
        // beats the serialized tokenize), and the counted-relation form
        // via Sketch.heavyHittersCounted (one tokenize instead of three,
        // but +8 jobs of persist/populate/collect at ~0.1 s/job driver
        // floor — the weighted-CMS API is the right shape when the
        // counted relation is a MAINTAINED artifact, not built in-row).
        val toks = T(s, dir, "documents")
          .select(col("lang"), col("doc_id"),
            explode(TextAnalysis.tokens(col("text"))).as("tok"))
        // hh feeds two consumers (the exact-audit key restriction and
        // the final join) — pin its ~10 rows/lang locally so the
        // sketch+candidate subtree runs once
        val hh = localFrame(Sketch.heavyHittersTok(toks, "lang", "tok",
          pmod(col("doc_id"), lit(3))))
        // the alternate-batching estimate is a DIRECT lookup of hh's own
        // tokens against the pmod-5-merged sketch (not the alt run's
        // candidate list), so every row audits the merge invariance
        val altMerged = Sketch.mergeFreqSketches(
          Sketch.freqSketches(toks, col("tok"),
            pmod(col("doc_id"), lit(5)), Seq(col("lang"))),
          Seq(col("lang")))
        // the exact audit only needs counts for hh's ~10 rows/lang —
        // semi-restrict the token stream to those keys (broadcast, they
        // are top-k lists) instead of aggregating the full (lang, token)
        // vocabulary to join away all but 10 rows
        val hhKeys = hh.select(col("lang"), col("tok"))
        val exact = toks.join(broadcast(hhKeys), Seq("lang", "tok"))
          .groupBy("lang", "tok").agg(count(lit(1)).as("exact_n"))
        hh.join(broadcast(altMerged), "lang")
          .withColumn("est_alt",
            Sketch.freqEstimate(col("cms"), col("tok")))
          .drop("cms")
          .join(exact, Seq("lang", "tok"))
          .select(col("lang"), col("rank"), col("tok"), col("est"),
            col("exact_n"),
            (col("est") === col("est_alt")).as("batching_invariant"),
            (col("est") >= col("exact_n")).as("one_sided"))
          .orderBy(col("lang"), col("rank"))
      },
      None,
      "incremental heavy hitters: candidate-tracked count-min top-10 per lang; exact-merge and one-sided-bound audits in-row"),

    "q_approx_percentile" -> DeclaredQuery(
      // sketch family alongside HLL (q_approx_distinct): approximate
      // percentiles are sketch-impl-specific (Spark uses a KLL-style
      // summary, DuckDB t-digest), so no cross-engine oracle — the exact
      // percentile runs alongside for in-row sanity, invariant-checked
      // in QueriesSpec determinism runs
      (s, dir) => T(s, dir, "lineitem")
        .groupBy(col("l_returnflag"))
        .agg(
          r4(percentile_approx(col("l_extendedprice"), lit(0.5), lit(10000)))
            .as("approx_median"),
          r4(percentile(col("l_extendedprice"), lit(0.5))).as("exact_median"))
        .orderBy(col("l_returnflag")),
      None,
      "B24-adjacent: approx percentile sketch (exact column alongside for sanity)"),

    "media_decode" -> DeclaredQuery(
      (s, dir) => {
        val decoded = Multimodal.decodeAll(Multimodal.syntheticMedia(s, 300)).toDF()
        decoded.groupBy(col("kind"))
          .agg(count(lit(1)).as("n"),
            round(avg(col("width")), 4).as("avg_w"),
            round(avg(col("n_frames")), 4).as("avg_frames"))
          .orderBy(col("kind"))
      },
      None,
      "multimodal FALLBACK tiers: header-parse dims for corrupt-stream payloads, stub for container-less ones"),

    "media_decode_hdr" -> DeclaredQuery(
      // the REAL-header slice of media_decode, promoted to the oracle:
      // image + audio synthetic rows carry byte-valid PNG IHDR / RIFF
      // WAVE headers written with KNOWN dimension formulas, so a DuckDB
      // replay of those formulas over `range()` is an exact expected
      // value — a green row proves the header PARSE inverts the header
      // WRITE end-to-end through the binary payload (the same round-trip
      // logic as q_extract_chunks). Video rows are the stub fallback
      // (hash-derived dims) and stay excluded — media_decode keeps them.
      (s, dir) => {
        val decoded =
          Multimodal.decodeAll(Multimodal.syntheticMedia(s, 300)).toDF()
        decoded.filter(col("kind") =!= "video")
          .select(col("media_id"), col("kind"),
            col("width").cast("long").as("width"),
            col("height").cast("long").as("height"),
            col("n_frames").cast("long").as("n_frames"))
          .orderBy(col("media_id"))
      },
      Some("""
        SELECT i AS media_id,
          CASE WHEN i % 3 = 0 THEN 'image' ELSE 'audio' END AS kind,
          CASE WHEN i % 3 = 0 THEN 64 + i % 128 ELSE 12000 END AS width,
          CASE WHEN i % 3 = 0 THEN 48 + i % 96 ELSE 1 + i % 2 END AS height,
          CASE WHEN i % 3 = 0 THEN 1 ELSE 256 + i % 512 END AS n_frames
        FROM range(0, 300) t(i) WHERE i % 3 <> 2 ORDER BY media_id
      """),
      "multimodal header decode, oracle-checked: PNG/WAV write → parse round trip vs the generation formulas"),

    "media_pixels" -> DeclaredQuery(
      // REAL pixel decode, oracle-checked: the fixture's image rows are
      // genuine PNG encodings (zlib-deflated rasters) of solid colors
      // with closed-form dims/RGB, so JvmCodec's full decode — inflate,
      // raster walk, integer-sum features — must reproduce the color
      // formulas EXACTLY. Feature sums are integer-exact and each
      // feature is one double expression mirrored verbatim in the SQL
      // (then FLOAT-cast on both sides), so the hash match is bit-exact,
      // not tolerance-based.
      (s, dir) => {
        val dec = Multimodal.decodeAll(Multimodal.syntheticMediaReal(s, 240)).toDF()
        dec.filter(col("kind") === "image")
          .select(col("media_id"),
            col("width").cast("long").as("width"),
            col("height").cast("long").as("height"),
            round(element_at(col("features"), 1).cast("double"), 4).as("f_r"),
            round(element_at(col("features"), 2).cast("double"), 4).as("f_g"),
            round(element_at(col("features"), 3).cast("double"), 4).as("f_b"),
            round(element_at(col("features"), 4).cast("double"), 4).as("f_luma"),
            round(element_at(col("features"), 5).cast("double"), 4).as("f_std"),
            round(element_at(col("features"), 6).cast("double"), 4).as("f_grad"))
          .orderBy(col("media_id"))
      },
      Some("""
        WITH px AS (
          SELECT i, 32 + i % 32 AS w, 24 + i % 24 AS h,
                 (i * 17) % 256 AS r, (i * 29) % 256 AS g, (i * 43) % 256 AS b
          FROM range(0, 240) t(i) WHERE i % 3 = 0)
        SELECT i AS media_id, w::BIGINT AS width, h::BIGINT AS height,
          round(cast((w * h * r) / (w * h * 255.0) AS FLOAT)::DOUBLE, 4) AS f_r,
          round(cast((w * h * g) / (w * h * 255.0) AS FLOAT)::DOUBLE, 4) AS f_g,
          round(cast((w * h * b) / (w * h * 255.0) AS FLOAT)::DOUBLE, 4) AS f_b,
          round(cast((w * h * (299 * r + 587 * g + 114 * b)) / (w * h * 255000.0)
                AS FLOAT)::DOUBLE, 4) AS f_luma,
          0.0::DOUBLE AS f_std,
          0.0::DOUBLE AS f_grad
        FROM px ORDER BY media_id
      """),
      "multimodal REAL pixel decode: PNG encode → full JDK decode → exact integer-sum features vs the color formulas"),

    "media_wave" -> DeclaredQuery(
      // REAL PCM sample decode, oracle-checked: audio rows carry genuine
      // 16-bit PCM WAV of a constant (DC) signal, so RMS = peak = amp
      // and crossings = 0 are EXACT (perfect-square sqrt, power-of-two
      // divides — no rounding anywhere), replayable from the amp
      // formula.
      (s, dir) => {
        val dec = Multimodal.decodeAll(Multimodal.syntheticMediaReal(s, 240)).toDF()
        dec.filter(col("kind") === "audio")
          .select(col("media_id"),
            col("width").cast("long").as("sample_rate"),
            col("height").cast("long").as("channels"),
            col("n_frames").cast("long").as("n_frames"),
            round(element_at(col("features"), 1).cast("double"), 4).as("rms"),
            round(element_at(col("features"), 2).cast("double"), 4).as("zcr"),
            round(element_at(col("features"), 3).cast("double"), 4).as("peak"),
            round(element_at(col("features"), 5).cast("double"), 4).as("dur_s"))
          .orderBy(col("media_id"))
      },
      Some("""
        WITH au AS (
          SELECT i, 8000 + (i % 5) * 2000 AS rate, 1 + i % 2 AS ch,
                 400 + i % 256 AS frames, (i * 37) % 20000 AS amp
          FROM range(0, 240) t(i) WHERE i % 3 = 1)
        SELECT i AS media_id, rate::BIGINT AS sample_rate, ch::BIGINT AS channels,
          frames::BIGINT AS n_frames,
          round(cast(amp / 32768.0 AS FLOAT)::DOUBLE, 4) AS rms,
          0.0::DOUBLE AS zcr,
          round(cast(amp / 32768.0 AS FLOAT)::DOUBLE, 4) AS peak,
          round(cast(frames::DOUBLE / rate::DOUBLE AS FLOAT)::DOUBLE, 4) AS dur_s
        FROM au ORDER BY media_id
      """),
      "multimodal REAL PCM decode: WAV write → sample pass → exact RMS/peak/zcr vs the DC-amp formula"),

    "media_wave_adpcm" -> DeclaredQuery(
      // the COMPRESSED audio tier made real and oracle-checked: IMA/DVI
      // ADPCM (WAV format 17) decoded through the full public-spec
      // block state machine — per-channel headers, nibble groups, the
      // 89-entry step table, predictor clamps. The fixture signal is
      // the DC trick carried into the compressed domain: the block
      // header stores the amp as the initial predictor and every
      // nibble's reconstruction step resolves to +0 (index 0 → step 7 →
      // 7>>3), so the decoder does all the real work while RMS = peak =
      // amp and zcr = 0 stay EXACT closed forms. Nonzero-nibble decode
      // correctness (quantizer round-trip SNR, stereo de-interleave,
      // state carry across blocks) is JvmCodecAdpcmSpec's job.
      (s, dir) => {
        val dec = Multimodal.decodeAll(
          Multimodal.syntheticMediaAdpcm(s, 80)).toDF()
        dec.select(col("media_id"),
            col("width").cast("long").as("sample_rate"),
            col("height").cast("long").as("channels"),
            col("n_frames").cast("long").as("n_frames"),
            round(element_at(col("features"), 1).cast("double"), 4).as("rms"),
            round(element_at(col("features"), 2).cast("double"), 4).as("zcr"),
            round(element_at(col("features"), 3).cast("double"), 4).as("peak"),
            round(element_at(col("features"), 5).cast("double"), 4).as("dur_s"))
          .orderBy(col("media_id"))
      },
      Some("""
        WITH au AS (
          SELECT i, 8000 + (i % 5) * 2000 AS rate, 1 + i % 2 AS ch,
                 401 + (i % 13) * 8 AS frames, (i * 53) % 18000 AS amp
          FROM range(0, 80) t(i))
        SELECT i AS media_id, rate::BIGINT AS sample_rate,
          ch::BIGINT AS channels, frames::BIGINT AS n_frames,
          round(cast(amp / 32768.0 AS FLOAT)::DOUBLE, 4) AS rms,
          0.0::DOUBLE AS zcr,
          round(cast(amp / 32768.0 AS FLOAT)::DOUBLE, 4) AS peak,
          round(cast(frames::DOUBLE / rate::DOUBLE AS FLOAT)::DOUBLE, 4) AS dur_s
        FROM au ORDER BY media_id
      """),
      "multimodal REAL IMA ADPCM decode: compressed WAV → block state machine → exact DC stats vs the amp formula"),

    "media_phash" -> DeclaredQuery(
      // REAL perceptual hash, oracle-checked BIT-FOR-BIT: 9×8 genuine
      // PNGs make the dHash area-average grid the identity map, so each
      // of the 64 comparison bits is a pure integer formula the SQL
      // replays (bit 63 via the min-BIGINT literal — DuckDB's << checks
      // overflow). Proves decode → luma → grid → hash end-to-end.
      (s, dir) => {
        val dec = Multimodal.decodeAll(
          Multimodal.syntheticGridMedia(s, nGroups = 24, perGroup = 5)).toDF()
        dec.select(col("media_id"), col("phash")).orderBy(col("media_id"))
      },
      Some("""
        SELECT i AS media_id,
          bit_or(CASE WHEN ((i // 5) * 31 + (x + 1) * (7 + (i // 5) % 5) + y * 13) % 17
                        > ((i // 5) * 31 + x * (7 + (i // 5) % 5) + y * 13) % 17
                 THEN CASE WHEN y * 8 + x = 63 THEN (-9223372036854775807 - 1)
                      ELSE (1::BIGINT << (y * 8 + x)) END
                 ELSE 0 END) AS phash
        FROM range(0, 120) t(i), range(0, 8) u(x), range(0, 8) v(y)
        GROUP BY i ORDER BY media_id
      """),
      "multimodal perceptual dHash, bit-exact oracle: 9×8 PNG decode → grid compare vs the pixel formula"),

    "media_phash_dedup" -> DeclaredQuery(
      // Perceptual near-dup by dHash, oracle-checked through the
      // categorical trick: groups differ by pattern, members within a
      // group only by a uniform brightness shift (the canonical
      // re-exported-image near-dup) — dHash's strict adjacent compare is
      // shift-invariant, so grouping by hash must recover EXACTLY the
      // construction groups (distinct-hash guarantee across ≤85 groups
      // per the fixture's coefficient argument).
      (s, dir) => {
        val dec = Multimodal.decodeAll(
          Multimodal.syntheticGridMedia(s, nGroups = 24, perGroup = 5)).toDF()
        dec.groupBy(col("phash"))
          .agg(min(col("media_id")).as("rep"), count(lit(1)).as("n"))
          .select(col("rep"), col("n"))
          .orderBy(col("rep"))
      },
      Some("""
        SELECT (g * 5)::BIGINT AS rep, 5::BIGINT AS n
        FROM range(0, 24) t(g) ORDER BY rep
      """),
      "perceptual near-dup: brightness-shifted image groups collapse to one dHash each, grouping oracle-checked"),

    "media_resize_pixels" -> DeclaredQuery(
      // REAL resize end-to-end, oracle-checked: decode genuine PNGs,
      // area-average downscale to maxSide 16, PNG re-encode, then DECODE
      // THE RESIZED PAYLOAD AGAIN — target dims replay the
      // floor(side·scale + ½) formula and the solid color survives the
      // round trip exactly (area-average of a constant is the constant).
      // Certifies decode → resample → encode → decode as one loop.
      (s, dir) => {
        import s.implicits._
        val real = Multimodal.syntheticMediaReal(s, 120)
        val rz = Multimodal.resizeImages(Multimodal.decodeAll(real), real, maxSide = 16)
        val asMedia = rz.map(r => Multimodal.MediaRow(
          r.media_id, "image", r.payload, "png", r.payload.length.toLong))
        Multimodal.decodeAll(asMedia).toDF()
          .select(col("media_id"),
            col("width").cast("long").as("width"),
            col("height").cast("long").as("height"),
            round(element_at(col("features"), 1).cast("double"), 4).as("f_r"),
            round(element_at(col("features"), 4).cast("double"), 4).as("f_luma"),
            round(element_at(col("features"), 5).cast("double"), 4).as("f_std"))
          .orderBy(col("media_id"))
      },
      Some("""
        WITH src AS (
          SELECT i, 32 + i % 32 AS w, 24 + i % 24 AS h,
                 (i * 17) % 256 AS r, (i * 29) % 256 AS g, (i * 43) % 256 AS b
          FROM range(0, 120) t(i) WHERE i % 3 = 0),
        dims AS (
          SELECT i, r, g, b,
            greatest(cast(floor(w * (16.0 / greatest(w, h)) + 0.5) AS BIGINT), 1) AS nw,
            greatest(cast(floor(h * (16.0 / greatest(w, h)) + 0.5) AS BIGINT), 1) AS nh
          FROM src)
        SELECT i AS media_id, nw AS width, nh AS height,
          round(cast((nw * nh * r) / (nw * nh * 255.0) AS FLOAT)::DOUBLE, 4) AS f_r,
          round(cast((nw * nh * (299 * r + 587 * g + 114 * b)) / (nw * nh * 255000.0)
                AS FLOAT)::DOUBLE, 4) AS f_luma,
          0.0::DOUBLE AS f_std
        FROM dims ORDER BY media_id
      """),
      "multimodal REAL resize: decode → area-average → PNG re-encode → re-decode, dims and colors oracle-exact"),

    "media_phash_near" -> DeclaredQuery(
      // Banded Hamming near-dup over REAL perceptual hashes,
      // oracle-checked against the deliberately quadratic DuckDB ground
      // truth: Spark runs the scale shape (4×16-bit band bucket join,
      // never all-pairs) while DuckDB recomputes every phash from the
      // bit formula and compares ALL pairs. Equality holds because
      // recall at Hamming ≤ 3 is total by pigeonhole — 3 flipped bits
      // cannot touch all 4 bands — so the banded join must find exactly
      // the exhaustive answer.
      (s, dir) => {
        val dec = Multimodal.decodeAll(
          Multimodal.syntheticGridMedia(s, nGroups = 24, perGroup = 5)).toDF()
        NearDup.signatureCandidates(dec, "media_id", "phash", maxHamming = 3)
          .select(col("id_a"), col("id_b"),
            col("hamming").cast("long").as("hamming"))
          .orderBy(col("id_a"), col("id_b"))
      },
      Some("""
        WITH h AS (
          SELECT i AS media_id,
            bit_or(CASE WHEN ((i // 5) * 31 + (x + 1) * (7 + (i // 5) % 5) + y * 13) % 17
                          > ((i // 5) * 31 + x * (7 + (i // 5) % 5) + y * 13) % 17
                   THEN CASE WHEN y * 8 + x = 63 THEN (-9223372036854775807 - 1)
                        ELSE (1::BIGINT << (y * 8 + x)) END
                   ELSE 0 END) AS phash
          FROM range(0, 120) t(i), range(0, 8) u(x), range(0, 8) v(y)
          GROUP BY i)
        SELECT a.media_id AS id_a, b.media_id AS id_b,
          bit_count(xor(a.phash, b.phash))::BIGINT AS hamming
        FROM h a, h b
        WHERE a.media_id < b.media_id
          AND bit_count(xor(a.phash, b.phash)) <= 3
        ORDER BY id_a, id_b
      """),
      "image near-dup at the scale shape: banded phash bucket join ≡ exhaustive Hamming pairs (pigeonhole recall)"),

    "media_admit" -> DeclaredQuery(
      // The perceptual ADMISSION DECISION oracle-checked end-to-end via
      // the categorical trick: the corpus hash index holds one rep per
      // pattern group 0-11; the incoming batch carries a
      // brightness-shifted member of EVERY group 0-15 under new ids.
      // admitMediaPerceptual must reject exactly the 12 indexed groups
      // (dHash is shift-invariant, the banded cross-join has total
      // recall at Hamming ≤ 3) and admit exactly the 4 novel ones — a
      // closed-form id set DuckDB replays from the group arithmetic
      // alone. Certifies decode → hash → banded cross-join → anti-join
      // as one decision.
      (s, dir) => {
        import s.implicits._
        val grid = Multimodal.syntheticGridMedia(s, nGroups = 16, perGroup = 5)
          .collect()
        val corpusMedia = s.createDataset(
          grid.filter(r => r.media_id % 5 == 0 && r.media_id < 60).toSeq)
        // the admission kernel references the index three times (exact
        // hash tier, banded perceptual tier + its degeneracy stats, color
        // tier) — pin the 12-row projection locally so the corpus decode
        // subtree runs once, not once per reference
        val index = localFrame(Multimodal.mediaIndexProjection(
          Multimodal.decodeAll(corpusMedia).toDF()
            .join(corpusMedia.toDF().select(col("media_id"),
              xxhash64(col("payload")).as("payload_hash")), "media_id")))
        val incoming = s.createDataset(
          grid.filter(_.media_id % 5 == 2)
            .map(r => r.copy(media_id = r.media_id + 1000)).toSeq)
        val (admitted, _) = Multimodal.admitMediaPerceptual(incoming, index)
        admitted.select(col("media_id")).orderBy(col("media_id"))
      },
      Some("""
        SELECT (1000 + g * 5 + 2)::BIGINT AS media_id
        FROM range(12, 16) t(g) ORDER BY media_id
      """),
      "perceptual admission decision: indexed groups rejected, novel groups admitted — closed-form oracle"),

    "media_near_mixed" -> DeclaredQuery(
      // The degenerate-safe analysis join, oracle-checked over a MIXED
      // corpus — the hot-bucket fix certified end-to-end: 30 solid
      // images (all dHash 0 — the mega-bucket hazard) pair ONLY when
      // their quantized mean colors match, while 30 structured grid
      // images pair through the banded Hamming join; DuckDB replays
      // both rules from the fixture formulas (color buckets via the
      // same double expression, hashes via the bit formula) and takes
      // the exhaustive union.
      (s, dir) => {
        import s.implicits._
        val solids = Multimodal.syntheticMediaReal(s, 90)
          .filter(col("kind") === "image")
        val grid = Multimodal.syntheticGridMedia(s, nGroups = 6, perGroup = 5)
          .map(r => r.copy(media_id = r.media_id + 10000))
        val dec = Multimodal.decodeAll(solids.unionByName(grid)).toDF()
        Multimodal.imageNearDup(dec, maxHamming = 3)
          .select(col("id_a"), col("id_b"),
            col("hamming").cast("long").as("hamming"))
          .orderBy(col("id_a"), col("id_b"))
      },
      Some("""
        WITH solid AS (
          SELECT i AS id, 32 + i % 32 AS w, 24 + i % 24 AS h,
                 (i * 17) % 256 AS r, (i * 29) % 256 AS g, (i * 43) % 256 AS b
          FROM range(0, 90) t(i) WHERE i % 3 = 0),
        cb AS (
          SELECT id,
            (least(floor(cast((w * h * r) / (w * h * 255.0) AS FLOAT)::DOUBLE * 16), 15) * 16 +
             least(floor(cast((w * h * g) / (w * h * 255.0) AS FLOAT)::DOUBLE * 16), 15)) * 16 +
             least(floor(cast((w * h * b) / (w * h * 255.0) AS FLOAT)::DOUBLE * 16), 15) AS cbucket
          FROM solid),
        degpairs AS (
          SELECT a.id AS id_a, b.id AS id_b, 0::BIGINT AS hamming
          FROM cb a, cb b WHERE a.id < b.id AND a.cbucket = b.cbucket),
        ph AS (
          SELECT i + 10000 AS id,
            bit_or(CASE WHEN ((i // 5) * 31 + (x + 1) * (7 + (i // 5) % 5) + y * 13) % 17
                          > ((i // 5) * 31 + x * (7 + (i // 5) % 5) + y * 13) % 17
                   THEN CASE WHEN y * 8 + x = 63 THEN (-9223372036854775807 - 1)
                        ELSE (1::BIGINT << (y * 8 + x)) END
                   ELSE 0 END) AS h
          FROM range(0, 30) t(i), range(0, 8) u(x), range(0, 8) v(y)
          GROUP BY i),
        structpairs AS (
          SELECT a.id AS id_a, b.id AS id_b,
                 bit_count(xor(a.h, b.h))::BIGINT AS hamming
          FROM ph a, ph b
          WHERE a.id < b.id AND bit_count(xor(a.h, b.h)) <= 3)
        SELECT id_a, id_b, hamming FROM degpairs
        UNION ALL SELECT id_a, id_b, hamming FROM structpairs
        ORDER BY id_a, id_b
      """),
      "degenerate-safe image near-dup over a mixed corpus: color-bucket rule for featureless, banded Hamming for structured — exhaustive oracle"),

    "media_scan_meta" -> DeclaredQuery(
      // The header-only TRIAGE sweep (scanMetadata — the 100 TB
      // classify-before-decode pass), oracle-checked: real-payload
      // fixture, dims/frame counts must replay the generation formulas
      // without any pixel decode having run.
      (s, dir) => {
        val scanned =
          Multimodal.scanMetadata(Multimodal.syntheticMediaReal(s, 240)).toDF()
        scanned.filter(col("kind") =!= "video")
          .select(col("media_id"), col("kind"),
            col("width").cast("long").as("width"),
            col("height").cast("long").as("height"),
            col("n_frames").cast("long").as("n_frames"))
          .orderBy(col("media_id"))
      },
      Some("""
        SELECT i AS media_id,
          CASE WHEN i % 3 = 0 THEN 'image' ELSE 'audio' END AS kind,
          CASE WHEN i % 3 = 0 THEN 32 + i % 32 ELSE 8000 + (i % 5) * 2000 END AS width,
          CASE WHEN i % 3 = 0 THEN 24 + i % 24 ELSE 1 + i % 2 END AS height,
          CASE WHEN i % 3 = 0 THEN 1 ELSE 400 + i % 256 END AS n_frames
        FROM range(0, 240) t(i) WHERE i % 3 <> 2 ORDER BY media_id
      """),
      "header-only triage sweep over real payloads, oracle-checked vs the generation formulas"),

    "media_mp4_meta" -> DeclaredQuery(
      // REAL MP4 metadata decode, oracle-checked: byte-valid ISO-BMFF
      // skeletons (ftyp + moov/mvhd/trak/tkhd/stts with true big-endian
      // box layout and 16.16 fixed-point dims) written from closed-form
      // formulas, walked back by the real box parser — the VIDEO triage
      // tier at 100 TB (classify and size assets from header bytes; the
      // pixel tier honestly still needs codecs the JVM lacks).
      (s, dir) => {
        import s.implicits._
        val media = s.range(120L).map { i =>
          val p = Multimodal.syntheticMp4(
            (320 + (i % 16) * 8).toInt, (240 + (i % 8) * 8).toInt,
            timescale = 1000, duration = 1000 + (i % 50) * 200,
            samples = (240 + (i % 60)).toInt)
          Multimodal.MediaRow(i, "video", p, "mp4", p.length.toLong)
        }
        Multimodal.decodeAll(media).toDF()
          .select(col("media_id"),
            col("width").cast("long").as("width"),
            col("height").cast("long").as("height"),
            col("n_frames").cast("long").as("n_frames"))
          .orderBy(col("media_id"))
      },
      Some("""
        SELECT i AS media_id,
          (320 + (i % 16) * 8)::BIGINT AS width,
          (240 + (i % 8) * 8)::BIGINT AS height,
          (240 + i % 60)::BIGINT AS n_frames
        FROM range(0, 120) t(i) ORDER BY media_id
      """),
      "real MP4 box-walk metadata: ISO-BMFF write → parse round trip vs the generation formulas"),

    "media_mkv_meta" -> DeclaredQuery(
      // REAL Matroska metadata decode, oracle-checked: byte-valid EBML
      // documents (RFC 8794 varints, the published element IDs) written
      // from closed-form formulas, walked back by the real parser —
      // dims from Tracks/Video, duration from Info's float Duration ×
      // TimestampScale. Frame counts live in clusters, not headers:
      // n_frames is honestly 0 (unknown) and the row certifies what the
      // header CAN know.
      (s, dir) => {
        import s.implicits._
        val media = s.range(100L).map { i =>
          val p = Multimodal.syntheticMkv(
            (640 + (i % 10) * 2).toInt, (360 + (i % 6) * 2).toInt,
            durationMs = 5000 + (i % 40) * 100)
          Multimodal.MediaRow(i, "video", p, "mkv", p.length.toLong)
        }
        Multimodal.decodeAll(media).toDF()
          .select(col("media_id"),
            col("width").cast("long").as("width"),
            col("height").cast("long").as("height"),
            col("n_frames").cast("long").as("n_frames"))
          .orderBy(col("media_id"))
      },
      Some("""
        SELECT i AS media_id,
          (640 + (i % 10) * 2)::BIGINT AS width,
          (360 + (i % 6) * 2)::BIGINT AS height,
          0::BIGINT AS n_frames
        FROM range(0, 100) t(i) ORDER BY media_id
      """),
      "real Matroska EBML metadata: write → parse round trip vs the generation formulas"),

    "media_frames" -> DeclaredQuery(
      // REAL frame-sampled video-style decode, oracle-checked: genuine
      // multi-frame GIFs (6 full-frame solid rasters each, per-frame
      // colors from closed-form formulas), every 2nd stored frame
      // decoded to its own feature row — GIF palettes carry the exact
      // colors, so the per-frame means replay the (i, f) formulas with
      // the same integer-sum/FLOAT-cast discipline as media_pixels.
      // Certifies the multi-frame reader path (getNumImages + read(f))
      // frame by frame, not just the frame COUNT.
      (s, dir) => {
        val frames = Multimodal.extractFrames(
          Multimodal.syntheticAnimatedMedia(s, n = 60, framesPer = 6),
          stride = 2).toDF()
        frames.select(col("media_id"),
            col("frame_idx").cast("long").as("frame_idx"),
            col("width").cast("long").as("width"),
            col("height").cast("long").as("height"),
            round(element_at(col("features"), 1).cast("double"), 4).as("f_r"),
            round(element_at(col("features"), 4).cast("double"), 4).as("f_luma"),
            round(element_at(col("features"), 5).cast("double"), 4).as("f_std"))
          .orderBy(col("media_id"), col("frame_idx"))
      },
      Some("""
        WITH fr AS (
          SELECT i, f, 16 + i % 8 AS w, 12 + i % 6 AS h,
                 (i * 17 + f * 31) % 256 AS r,
                 (i * 29 + f * 37) % 256 AS g,
                 (i * 43 + f * 41) % 256 AS b
          FROM range(0, 60) t(i), (VALUES (0), (2), (4)) u(f))
        SELECT i AS media_id, f::BIGINT AS frame_idx,
          w::BIGINT AS width, h::BIGINT AS height,
          round(cast((w * h * r) / (w * h * 255.0) AS FLOAT)::DOUBLE, 4) AS f_r,
          round(cast((w * h * (299 * r + 587 * g + 114 * b)) / (w * h * 255000.0)
                AS FLOAT)::DOUBLE, 4) AS f_luma,
          0.0::DOUBLE AS f_std
        FROM fr ORDER BY media_id, frame_idx
      """),
      "frame-sampled multi-frame decode: every 2nd GIF frame's features oracle-exact vs the (i, f) formulas"),

    "media_frame_near" -> DeclaredQuery(
      // VIDEO-SHAPE near-dup, oracle-checked against the exhaustive
      // ground truth: two multi-frame assets match when ANY frame of
      // one is within Hamming 3 of any frame of the other (re-encodes,
      // trims and splices share frames without any global signature
      // matching). Spark runs the scale shape — per-asset frame rows
      // into the 4×16-bit band bucket join, min frame-pair distance
      // per asset pair; DuckDB recomputes every frame hash from the
      // pattern bit formula and compares ALL frame pairs of ALL asset
      // pairs. Equality holds by the same pigeonhole-total-recall
      // argument as media_phash_near, lifted to frame multisets.
      (s, dir) => {
        val media = Multimodal.syntheticAnimatedGridMedia(
          s, n = 30, framesPer = 4, nPatterns = 10)
        Multimodal.frameNearDup(media, stride = 1, maxHamming = 3)
          .select(col("id_a"), col("id_b"),
            col("min_hamming").cast("long").as("min_hamming"))
          .orderBy(col("id_a"), col("id_b"))
      },
      Some("""
        WITH ph AS (
          SELECT p, bit_or(CASE WHEN (p * 31 + (x + 1) * (7 + p % 5) + y * 13) % 17
                                  > (p * 31 + x * (7 + p % 5) + y * 13) % 17
                   THEN CASE WHEN y * 8 + x = 63 THEN (-9223372036854775807 - 1)
                        ELSE (1::BIGINT << (y * 8 + x)) END
                   ELSE 0 END) AS h
          FROM range(0, 10) t(p), range(0, 8) u(x), range(0, 8) v(y)
          GROUP BY p),
        fr AS (
          SELECT i, (i + f) % 10 AS p
          FROM range(0, 30) t(i), range(0, 4) u(f)),
        pairs AS (
          SELECT a.i AS id_a, b.i AS id_b,
                 min(bit_count(xor(ha.h, hb.h))) AS min_hamming
          FROM fr a, ph ha, fr b, ph hb
          WHERE a.p = ha.p AND b.p = hb.p AND a.i < b.i
          GROUP BY a.i, b.i)
        SELECT id_a, id_b, min_hamming::BIGINT AS min_hamming
        FROM pairs WHERE min_hamming <= 3
        ORDER BY id_a, id_b
      """),
      "video-shape near-dup: any-frame banded match ≡ exhaustive min frame-pair Hamming (oracle)"),

    "media_ann" -> DeclaredQuery(
      // IMAGE similarity search end-to-end, oracle-checked: decode the
      // real-payload fixture, score every image's pixel-feature vector
      // against the (deterministically decoded) features of asset 6 by
      // the SAME dot-product machinery as the flagship knn_topk, take
      // top-10. DuckDB rebuilds each feature vector from the closed-form
      // fixture formulas (FLOAT-cast per component, the media_pixels
      // discipline) and replays list_dot_product against the literal
      // query — the image-retrieval pipeline (decode → featurize →
      // search) certified as one chain.
      (s, dir) => {
        val dec = Multimodal.decodeAll(Multimodal.syntheticMediaReal(s, 240))
          .toDF().filter(col("kind") === "image")
          .select(col("media_id"), col("features"))
        Search.topK(dec, "features", "media_id",
            mediaAnnQuery.map(_.toDouble).toSeq, k = 10)
          .select(col("media_id"), col("sim"))
      },
      Some(s"""
        WITH px AS (
          SELECT i, 32 + i % 32 AS w, 24 + i % 24 AS h,
                 (i * 17) % 256 AS r, (i * 29) % 256 AS g, (i * 43) % 256 AS b
          FROM range(0, 240) t(i) WHERE i % 3 = 0),
        fv AS (
          SELECT i, list_value(
            cast((w * h * r) / (w * h * 255.0) AS FLOAT)::DOUBLE,
            cast((w * h * g) / (w * h * 255.0) AS FLOAT)::DOUBLE,
            cast((w * h * b) / (w * h * 255.0) AS FLOAT)::DOUBLE,
            cast((w * h * (299 * r + 587 * g + 114 * b)) / (w * h * 255000.0)
              AS FLOAT)::DOUBLE,
            0.0::DOUBLE, 0.0::DOUBLE,
            cast(w::DOUBLE / (w::DOUBLE + h::DOUBLE) AS FLOAT)::DOUBLE,
            CASE WHEN 2 * (299 * r + 587 * g + 114 * b) > 255000
                 THEN 1.0::DOUBLE ELSE 0.0::DOUBLE END) AS fvec
          FROM px)
        SELECT i AS media_id,
               round(list_dot_product(fvec, ${mediaAnnQuerySql}), 4) AS sim
        FROM fv ORDER BY sim DESC, media_id LIMIT 10
      """),
      "image similarity search: decode → featurize → dot top-10, oracle vs formula-built vectors"),

    "q_expect_metrics" -> DeclaredQuery(
      // Data-quality EXPECTATIONS, metrics face: four named constraints
      // evaluated in ONE partial+final aggregate pass (no per-rule
      // scan), per-rule violation counts + the row total. NULL
      // predicate results count as violations on both engines (the
      // conservative side).
      (s, dir) => Expectations.metrics(T(s, dir, "documents"), docRules),
      Some("""
        SELECT rule, n_violations::BIGINT AS n_violations FROM (
          SELECT '_rows' AS rule, count(*) AS n_violations FROM documents
          UNION ALL SELECT 'len_max', count(*) FROM documents
            WHERE NOT coalesce(n_chars <= 400, FALSE)
          UNION ALL SELECT 'lang_known', count(*) FROM documents
            WHERE NOT coalesce(lang IN ('en', 'de', 'fr'), FALSE)
          UNION ALL SELECT 'text_nonempty', count(*) FROM documents
            WHERE NOT coalesce(length(text) > 0, FALSE)
          UNION ALL SELECT 'len_consistent', count(*) FROM documents
            WHERE NOT coalesce(length(text) = n_chars, FALSE)
        ) ORDER BY rule
      """),
      "expectation gate metrics: per-rule violation counts in one aggregate pass, oracle-checked"),

    "q_expect_quarantine" -> DeclaredQuery(
      // The quarantine face: rows failing any constraint, each carrying
      // WHICH rules it violated in declaration order — the triage
      // payload a production gate writes alongside the clean commit.
      (s, dir) => {
        val (_, bad) = Expectations.split(T(s, dir, "documents"), docRules)
        bad.select(col("doc_id"),
            array_join(col("_violations"), ",").as("violated"))
          .orderBy(col("doc_id"))
      },
      Some("""
        SELECT doc_id, array_to_string(list_filter([
            CASE WHEN NOT coalesce(n_chars <= 400, FALSE) THEN 'len_max' END,
            CASE WHEN NOT coalesce(lang IN ('en', 'de', 'fr'), FALSE) THEN 'lang_known' END,
            CASE WHEN NOT coalesce(length(text) > 0, FALSE) THEN 'text_nonempty' END,
            CASE WHEN NOT coalesce(length(text) = n_chars, FALSE) THEN 'len_consistent' END
          ], x -> x IS NOT NULL), ',') AS violated
        FROM documents
        WHERE NOT coalesce(n_chars <= 400, FALSE)
           OR NOT coalesce(lang IN ('en', 'de', 'fr'), FALSE)
           OR NOT coalesce(length(text) > 0, FALSE)
           OR NOT coalesce(length(text) = n_chars, FALSE)
        ORDER BY doc_id
      """),
      "expectation gate quarantine: violating rows with their rule lists, oracle-checked"),

    "ivf_probe_fixed" -> DeclaredQuery(
      // the WHOLE IVF probe pipeline under FIXED centroids, oracle-green:
      // ivf_assign certifies the assignment arithmetic; this row chains
      // it through the probe's full shape — nearest-nprobe centroid
      // selection, the assignments ⋈ broadcast(near clusters) semi-join
      // candidate prune, and the exact dot-product top-k re-rank — and
      // hash-matches a DuckDB replay of every stage. Same seed-vector
      // centroid rule as ivf_assign (the build's deterministic init), so
      // the only thing the rows-only ivf_probe adds over this row is the
      // float-iterated centroids themselves.
      (s, dir) => {
        val emb = T(s, dir, "embeddings")
        import s.implicits._
        val seeds = emb.orderBy("vec_id").limit(8)
          .select(transform(col("embedding"), _.cast("double")).as("c"))
          .collect().toIndexedSeq.zipWithIndex
          .map { case (r, i) => (i, r.getSeq[Double](0)) }
        val cents = seeds.toDF("cluster_id", "centroid")
        val assign = IvfIndex.assignTo(emb, "vec_id", "embedding", cents)
        IvfIndex.probe(emb, "vec_id", "embedding", assign, cents,
          QueryVectors.q1, k = 10, nprobe = 3)
          .select(col("vec_id"), col("sim"))
      },
      Some(s"""WITH cents AS (
         |  SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cluster_id,
         |         CAST(embedding AS DOUBLE[]) AS centroid
         |  FROM (SELECT * FROM embeddings ORDER BY vec_id LIMIT 8)
         |), near AS (
         |  SELECT cluster_id FROM cents
         |  ORDER BY list_distance(centroid, $q1Sql), cluster_id LIMIT 3
         |), assign AS (
         |  SELECT vec_id, cluster_id FROM (
         |    SELECT e.vec_id, c.cluster_id,
         |      row_number() OVER (PARTITION BY e.vec_id
         |        ORDER BY list_distance(CAST(e.embedding AS DOUBLE[]), c.centroid),
         |                 c.cluster_id) AS rn
         |    FROM embeddings e CROSS JOIN cents c) WHERE rn = 1
         |)
         |SELECT e.vec_id, round(${duckDot("e.embedding", q1Sql)}, 4) AS sim
         |FROM embeddings e
         |WHERE e.vec_id IN
         |  (SELECT a.vec_id FROM assign a JOIN near n USING (cluster_id))
         |ORDER BY sim DESC, vec_id LIMIT 10""".stripMargin),
      "B6 probe pipeline under fixed centroids: centroid select + semi-join prune + exact top-k, all oracle-checked")
  )
}
