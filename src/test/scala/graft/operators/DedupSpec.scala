package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

class DedupSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private lazy val docs = Seq(
    (1L, "the quick fox"),
    (2L, "fox quick the"),   // same token multiset as 1
    (3L, "the quick fox"),   // byte-identical to 1
    (4L, "something else")
  ).toDF("doc_id", "text")

  test("tokenFingerprint: order-insensitive, content-sensitive") {
    val fps = docs.select(Dedup.tokenFingerprint($"text").as("fp"))
      .as[String].collect.toSeq
    assert(fps(0) === fps(1))
    assert(fps(0) === fps(2))
    assert(fps(0) !== fps(3))
  }

  test("exact: min-id representative and duplicate counts") {
    val got = Dedup.exact(docs, Dedup.tokenFingerprint($"text"), $"doc_id")
      .select("rep_id", "dup_cnt").as[(Long, Long)].collect.toSet
    assert(got === Set((1L, 3L), (4L, 1L)))
  }

  test("dropDuplicatesByKey keeps the full min-id row per group") {
    val kept = Dedup.dropDuplicatesByKey(docs, Dedup.tokenFingerprint($"text"), $"doc_id")
    assert(kept.columns.toSeq === Seq("doc_id", "text"))
    val got = kept.as[(Long, String)].collect.toSet
    assert(got === Set((1L, "the quick fox"), (4L, "something else")))
  }

  test("incrementalExact: admits only fingerprints unseen in the corpus") {
    val corpus = Seq((1L, "a b c"), (2L, "x y")).toDF("doc_id", "text")
    val incoming = Seq(
      (10L, "c b a"),      // reordered dup of 1 (same token multiset)
      (11L, "new stuff"),  // genuinely new
      (12L, "x y")         // byte dup of 2
    ).toDF("doc_id", "text")
    val kept = Dedup.incrementalExact(incoming,
      Dedup.tokenFingerprint($"text"), corpus, Dedup.tokenFingerprint($"text"))
    assert(kept.columns.toSeq === Seq("doc_id", "text"))
    assert(kept.select("doc_id").as[Long].collect.toSet === Set(11L))
  }

  test("incrementalExactBloom ≡ incrementalExact across fpp, incl. forced false positives") {
    // 60 corpus docs, 40 incoming: 15 dups of corpus texts (some token-
    // reordered), 25 novel. High fpp forces real false positives through
    // the confirming anti-join; low fpp exercises the direct-admit path.
    val rng = new scala.util.Random(42)
    val corpusTexts = (0 until 60).map(i => s"corpus doc $i body ${rng.nextInt(1000)}")
    val corpus = corpusTexts.zipWithIndex
      .map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")
    val incoming = ((0 until 15).map { i =>
      val words = corpusTexts(i * 4).split(" ")
      (1000L + i, rng.shuffle(words.toSeq).mkString(" ")) // reordered dup
    } ++ (0 until 25).map(i => (2000L + i, s"novel text $i ${rng.nextInt(1000)}")))
      .toDF("doc_id", "text")
    val exactIds = Dedup.incrementalExact(incoming,
        Dedup.tokenFingerprint($"text"), corpus, Dedup.tokenFingerprint($"text"))
      .select("doc_id").as[Long].collect.toSet
    assert(exactIds.size === 25 && exactIds.forall(_ >= 2000L))
    for (fpp <- Seq(0.5, 0.03, 0.001)) {
      val bloomIds = Dedup.incrementalExactBloom(incoming,
          Dedup.tokenFingerprint($"text"), corpus, Dedup.tokenFingerprint($"text"),
          fpp = fpp)
        .select("doc_id").as[Long].collect.toSet
      assert(bloomIds === exactIds, s"fpp=$fpp")
    }
    // expectedItems short-circuits the sizing count() without changing rows
    val sized = Dedup.incrementalExactBloom(incoming,
        Dedup.tokenFingerprint($"text"), corpus, Dedup.tokenFingerprint($"text"),
        fpp = 0.03, expectedItems = 60L)
      .select("doc_id").as[Long].collect.toSet
    assert(sized === exactIds)
  }

  test("incrementalExactBloom: empty corpus admits everything") {
    val corpus = Seq.empty[(Long, String)].toDF("doc_id", "text")
    val incoming = Seq((1L, "a b"), (2L, "c d")).toDF("doc_id", "text")
    val kept = Dedup.incrementalExactBloom(incoming,
      Dedup.tokenFingerprint($"text"), corpus, Dedup.tokenFingerprint($"text"))
    assert(kept.select("doc_id").as[Long].collect.toSet === Set(1L, 2L))
  }

  test("connectedComponents: chains merge transitively, singletons stay") {
    // components: {1,2,3,4} (a 4-chain — needs >1 propagation round),
    // {10,11}, singleton {20}
    val vertices = Seq(1L, 2L, 3L, 4L, 10L, 11L, 20L).toDF("id")
    val edges = Seq((2L, 1L), (2L, 3L), (3L, 4L), (10L, 11L))
      .toDF("id_a", "id_b")
    val cc = Dedup.connectedComponents(vertices, "id", edges, "id_a", "id_b")
    try {
      val got = cc.as[(Long, Long)].collect.toSet
      assert(got === Set((1L, 1L), (2L, 1L), (3L, 1L), (4L, 1L),
        (10L, 10L), (11L, 10L), (20L, 20L)))
    } finally cc.unpersist()
  }

  test("connectedComponents: edges touching foreign ids are ignored") {
    val vertices = Seq(5L, 6L).toDF("id")
    // 3 and 1 are not vertices: the (5,3) and (3,1) edges must neither
    // emit phantom rows nor leak 1/3 in as component labels
    val edges = Seq((5L, 3L), (3L, 1L)).toDF("id_a", "id_b")
    val cc = Dedup.connectedComponents(vertices, "id", edges, "id_a", "id_b")
    try assert(cc.as[(Long, Long)].collect.toSet === Set((5L, 5L), (6L, 6L)))
    finally cc.unpersist()
  }

  test("connectedComponents: pointer jumping converges a 40-chain in log rounds") {
    // a 40-vertex path has diameter 39: plain propagation needs ~40
    // rounds (more than the default cap), pointer jumping O(log n).
    // localFinishEdges = 0 throughout: these graphs fit the driver
    // fast path, and this test pins the DISTRIBUTED loop machinery.
    val n = 40L
    val vertices = (1L to n).toDF("id")
    val edges = (1L until n).map(i => (i, i + 1)).toDF("id_a", "id_b")
    val err = intercept[IllegalArgumentException] {
      Dedup.connectedComponents(vertices, "id", edges, "id_a", "id_b",
        localFinishEdges = 0)
    }
    assert(err.getMessage.contains("did not converge"))
    val cc = Dedup.connectedComponents(vertices, "id", edges, "id_a", "id_b",
      maxIters = 10, pointerJump = true, localFinishEdges = 0)
    try assert(cc.select("component").as[Long].collect.toSet === Set(1L))
    finally cc.unpersist()
    // and on a branching graph both modes agree
    val vs2 = Seq(1L, 2L, 3L, 4L, 5L, 6L, 7L).toDF("id")
    val es2 = Seq((1L, 3L), (3L, 5L), (2L, 5L), (6L, 7L)).toDF("id_a", "id_b")
    val plain = Dedup.connectedComponents(vs2, "id", es2, "id_a", "id_b",
      localFinishEdges = 0)
    val jumped = Dedup.connectedComponents(vs2, "id", es2, "id_a", "id_b",
      pointerJump = true, localFinishEdges = 0)
    try assert(jumped.as[(Long, Long)].collect.toSet ===
      plain.as[(Long, Long)].collect.toSet)
    finally { plain.unpersist(); jumped.unpersist() }
  }

  test("lshDedupPipeline: LSH-edge components equal all-pairs components on the fixture slice") {
    // the chained pipeline's recall claim, checked against ground truth:
    // on the fixture slice, components built from MinHash-LSH candidate
    // edges must equal components built from ALL pairs verified at the
    // same 3-gram Jaccard >= 0.8 threshold (identical shingle sets always
    // collide in every band, and the fixture's dup families are
    // high-overlap, so no edge that matters is missed)
    val slice = graft.Tables.load(spark, graft.TestSpark.sf0001, "documents")
      .filter($"doc_id" < 128).select($"doc_id", $"lang", $"text")

    val allPairs = slice.select($"doc_id".as("id_a"))
      .crossJoin(slice.select($"doc_id".as("id_b")))
      .filter($"id_a" < $"id_b")
    val truthEdges = NearDup.materializePairs(
      NearDup.jaccardVerify(slice, "doc_id", "text", allPairs, shingleSize = 3)
        .filter($"jaccard" >= 0.8).select($"id_a", $"id_b"))
    val truthCc = Dedup.connectedComponents(slice.select("doc_id"), "doc_id",
      truthEdges, "id_a", "id_b")
    val truth = try truthCc.as[(Long, Long)].collect.toSet
      finally truthCc.unpersist()

    val lshCands = NearDup.minHashCandidatesMaterialized(slice, "doc_id", "text")
    val lshEdges = NearDup.materializePairs(
      NearDup.jaccardVerify(slice, "doc_id", "text", lshCands, shingleSize = 3)
        .filter($"jaccard" >= 0.8).select($"id_a", $"id_b"))
    val lshCc = Dedup.connectedComponents(slice.select("doc_id"), "doc_id",
      lshEdges, "id_a", "id_b")
    val lsh = try lshCc.as[(Long, Long)].collect.toSet
      finally lshCc.unpersist()

    assert(truth.exists { case (v, c) => v != c }, "slice has no dup clusters — vacuous test")
    assert(lsh === truth)

    // and the full pipeline operator returns exactly the min-id row per
    // component with the right sizes
    val out = Dedup.lshDedupPipeline(slice, "doc_id", "text")
    try {
      val got = out.select($"doc_id", $"component", $"n_docs")
        .as[(Long, Long, Long)].collect.toSet
      val expected = truth.groupBy(_._2).map { case (comp, members) =>
        (members.map(_._1).min, comp, members.size.toLong)
      }.toSet
      assert(got === expected)
      assert(got.forall { case (id, comp, _) => id == comp },
        "representative must BE the min label")
    } finally out.unpersist()
  }

  test("dedupFromEdges composes with any candidate generator (winnow edges)") {
    // the pipeline's stages are edge-source-agnostic: winnowing
    // fingerprint candidates + Jaccard verify feed the same CC +
    // representative tail, and identical docs must land in one component
    val slice = graft.Tables.load(spark, graft.TestSpark.sf0001, "documents")
      .filter($"doc_id" < 64).select($"doc_id", $"text")
    val cands = NearDup.winnowCandidatesMaterialized(slice, "doc_id", "text")
      .select($"id_a", $"id_b")
    val edges = NearDup.materializePairs(
      NearDup.jaccardVerify(slice, "doc_id", "text", cands, shingleSize = 3)
        .filter($"jaccard" >= 0.8).select($"id_a", $"id_b"))
    val out = Dedup.dedupFromEdges(slice, "doc_id", edges)
    try {
      val reps = out.select($"doc_id", $"component", $"n_docs")
        .as[(Long, Long, Long)].collect()
      assert(reps.map(_._3).sum === 64L, "components must partition the slice")
      assert(reps.forall { case (id, comp, _) => id == comp })
      // the fixture has no byte-identical docs, but its near-dup families
      // (J ≥ 0.8) share long token runs — winnowing must surface them,
      // so at least one component merges (non-vacuity of the whole chain)
      assert(reps.exists(_._3 > 1),
        "winnow edges produced no merged component — vacuous test")
    } finally out.unpersist()
  }

  test("connectedComponents: dense clique converges in 2 rounds, salted ≡ plain") {
    // a 10^3-clique — the dense dup-family shape (10^3-way duplicated
    // boilerplate). Diameter 1: round 1 propagates the min label to every
    // member, round 2 is the detected fixpoint — so maxIters = 2 must
    // suffice regardless of clique size.
    val n = 1000
    val vs = spark.range(1, n + 1).toDF("id")
    val es = spark.range(1, n + 1).toDF("id_a")
      .crossJoin(spark.range(1, n + 1).toDF("id_b"))
      .filter($"id_a" < $"id_b")
    val plain = Dedup.connectedComponents(vs, "id", es, "id_a", "id_b",
      maxIters = 2)
    try {
      assert(plain.select("component").distinct.as[Long].collect.toSeq === Seq(1L))
      assert(plain.count() === n.toLong)
    } finally plain.unpersist()
    // hub-salted rounds: identical labels (saltedJoin is result-identical)
    val salted = Dedup.connectedComponents(vs, "id", es, "id_a", "id_b",
      maxIters = 2, saltFactor = 8)
    try assert(salted.as[(Long, Long)].collect.toSet ===
      (1L to n.toLong).map((_, 1L)).toSet)
    finally salted.unpersist()
  }

  test("connectedComponents: star hub with salting matches plain labels") {
    // one hub (id 1) with 500 leaves plus a disjoint pair — the skewed
    // join-key shape salting exists for; assert result equivalence
    val leaves = (2L to 501L)
    val vs = (Seq(1L, 900L, 901L) ++ leaves).toDF("id")
    val es = (leaves.map(l => (1L, l)) :+ (900L, 901L)).toDF("id_a", "id_b")
    val expected = (leaves.map((_, 1L)) ++ Seq((1L, 1L), (900L, 900L), (901L, 900L))).toSet
    // localFinishEdges = 0: the salted distributed join is the subject
    val salted = Dedup.connectedComponents(vs, "id", es, "id_a", "id_b",
      saltFactor = 4, localFinishEdges = 0)
    try assert(salted.as[(Long, Long)].collect.toSet === expected)
    finally salted.unpersist()
  }

  test("connectedComponents: a long chain exceeding maxIters fails loudly") {
    val n = 6
    val vertices = (1L to n).toDF("id")
    val edges = (1L until n).map(i => (i, i + 1)).toDF("id_a", "id_b")
    // localFinishEdges = 0: the round-budget failure mode under test is
    // a property of the distributed loop the driver fast path replaces
    val err = intercept[IllegalArgumentException] {
      Dedup.connectedComponents(vertices, "id", edges, "id_a", "id_b",
        maxIters = 2, localFinishEdges = 0)
    }
    assert(err.getMessage.contains("did not converge"))
    // and with enough rounds the same chain collapses to one component
    val cc = Dedup.connectedComponents(vertices, "id", edges, "id_a", "id_b",
      maxIters = n, localFinishEdges = 0)
    try assert(cc.select("component").as[Long].collect.toSet === Set(1L))
    finally cc.unpersist()
  }

  test("star contraction converges where propagation's round budget fails; labels identical") {
    // a 120-deep chain: min-label propagation moves the min ONE hop per
    // round, so 10 rounds cannot converge — star contraction's round
    // count is polylog in component size and fits the same budget with
    // >2x headroom
    val n = 120L
    val vertices = (0L until n).toDF("id")
    val chain = (0L until n - 1).map(i => (i, i + 1)).toDF("id_a", "id_b")
    // localFinishEdges = 0: pin the distributed round budgets themselves
    intercept[IllegalArgumentException] {
      Dedup.connectedComponents(vertices, "id", chain, "id_a", "id_b",
        maxIters = 10, localFinishEdges = 0)
    }
    val star = Dedup.connectedComponents(vertices, "id", chain, "id_a", "id_b",
      maxIters = 10, starContraction = true, localFinishEdges = 0)
    try assert(star.select("component").as[Long].collect.toSet === Set(0L))
    finally star.unpersist()
    // and on a mixed graph both algorithms produce IDENTICAL labels:
    // two chains, a clique, a singleton, and ids not in the vertex set
    val vs2 = (1L to 20L).toDF("id")
    val es2 = (Seq((1L, 2L), (2L, 3L), (3L, 4L),       // chain -> comp 1
      (10L, 11L), (11L, 12L),                          // chain -> comp 10
      (15L, 16L), (16L, 17L), (15L, 17L),              // clique -> comp 15
      (19L, 99L))                                      // foreign id ignored
      ).toDF("id_a", "id_b")
    def labelsOf(starC: Boolean) = {
      val cc = Dedup.connectedComponents(vs2, "id", es2, "id_a", "id_b",
        starContraction = starC, localFinishEdges = 0)
      try cc.as[(Long, Long)].collect.toMap finally cc.unpersist()
    }
    val plain = labelsOf(false)
    val contracted = labelsOf(true)
    assert(contracted === plain)
    assert(plain(4L) === 1L && plain(12L) === 10L && plain(17L) === 15L
      && plain(18L) === 18L)
  }

  test("self-loop edges: vertex kept as singleton, identical in both modes") {
    // vertex 5's ONLY edge is a self-loop (a near-dup pipeline can emit
    // one when a doc matches its own alternate encoding); vertex 1 has a
    // self-loop AND a real edge. Self-loops carry no connectivity, so 5
    // must survive as its own singleton — in BOTH label-propagation and
    // star-contraction modes (the latter used to drop it: the loop put 5
    // into the touched set while lo<hi canonicalization erased its only
    // edge, so it was neither labeled nor unioned back)
    val vs = Seq(1L, 2L, 5L, 7L).toDF("id")
    val es = Seq((1L, 2L), (1L, 1L), (5L, 5L)).toDF("id_a", "id_b")
    val expected = Map(1L -> 1L, 2L -> 1L, 5L -> 5L, 7L -> 7L)
    // both modes × both execution phases (distributed loop and the
    // driver local finish) — the self-loop filter guards all four
    for (starC <- Seq(false, true); localEdges <- Seq(0, 1 << 16)) {
      val cc = Dedup.connectedComponents(vs, "id", es, "id_a", "id_b",
        starContraction = starC, localFinishEdges = localEdges)
      try assert(cc.as[(Long, Long)].collect.toMap === expected,
        s"starContraction=$starC localFinishEdges=$localEdges")
      finally cc.unpersist()
    }
  }

  test("local finish ≡ distributed labels on random graphs, incl. mid-contraction cutover") {
    // the two-phase execution contract: the driver union-find (entry
    // fast path AND the star loop's mid-contraction cutover) must label
    // exactly like the pure distributed modes on arbitrary graphs.
    // Truth = pointer-jumped propagation with the fast path disabled.
    val rnd = new scala.util.Random(20260814L)
    for (trial <- 1 to 3) {
      val nV = 40 + rnd.nextInt(40)
      val chainLen = 60 // deep component: forces several contraction rounds
      val randomEdges = (1 to nV * 2).map(_ =>
        (rnd.nextInt(nV).toLong, rnd.nextInt(nV).toLong))
        .filter { case (a, b) => a != b }
      val chainEdges = (0 until chainLen - 1)
        .map(i => (nV + i.toLong, nV + i + 1L))
      val vs = (0L until (nV + chainLen).toLong).toDF("id")
      val es = (randomEdges ++ chainEdges).toDF("id_a", "id_b")
      val nEdges = randomEdges.size + chainEdges.size

      def labelsOf(star: Boolean, jump: Boolean, localEdges: Int) = {
        val cc = Dedup.connectedComponents(vs, "id", es, "id_a", "id_b",
          maxIters = 60, pointerJump = jump, starContraction = star,
          localFinishEdges = localEdges)
        try cc.as[(Long, Long)].collect.toMap finally cc.unpersist()
      }
      val truth = labelsOf(star = false, jump = true, localEdges = 0)
      assert(truth.size === nV + chainLen, s"trial $trial: label coverage")
      // entry fast path (everything fits the default bound)
      assert(labelsOf(star = false, jump = false, localEdges = 1 << 16)
        === truth, s"trial $trial: entry local finish")
      // pure distributed star contraction
      assert(labelsOf(star = true, jump = false, localEdges = 0)
        === truth, s"trial $trial: distributed star")
      // mid-contraction cutover: the entry probe sees > 8 edges, so the
      // loop runs distributed rounds until a generation contracts under
      // 8 edges and the driver finishes it
      assert(nEdges > 8)
      assert(labelsOf(star = true, jump = false, localEdges = 8)
        === truth, s"trial $trial: mid-contraction cutover")
    }
  }

  test("keepBestByKey keeps the max-score row per key, ties to the smallest id") {
    val df = Seq(
      (1L, "g1", 5L), (2L, "g1", 9L), (3L, "g1", 9L), // tie on 9 -> id 2
      (4L, "g2", 1L),                                 // singleton
      (6L, "g3", 0L), (5L, "g3", 0L)                  // all-tie -> id 5
    ).toDF("id", "grp", "score")
    val got = Dedup.keepBestByKey(df, col("grp"), col("score"), col("id"))
      .as[(Long, String, Long)].collect().toSet
    assert(got === Set((2L, "g1", 9L), (4L, "g2", 1L), (5L, "g3", 0L)))
  }

  test("dedupFromEdges with best= picks the quality argmax, min-id otherwise") {
    // docs 1-2-3 form one near-dup family (edges 1-2, 2-3); 7 is alone
    val docs = Seq(
      (1L, 10L), (2L, 30L), (3L, 20L), (7L, 1L)
    ).toDF("doc_id", "quality")
    val edges = Seq((1L, 2L), (2L, 3L)).toDF("id_a", "id_b")
    val best = Dedup.dedupFromEdges(docs, "doc_id", edges,
      best = Some(col("quality")))
    val gotBest =
      try best.select($"doc_id", $"component", $"n_docs")
        .as[(Long, Long, Long)].collect().toSet
      finally best.unpersist()
    assert(gotBest === Set((2L, 1L, 3L), (7L, 7L, 1L)))
    val minId = Dedup.dedupFromEdges(docs, "doc_id", edges)
    val gotMin =
      try minId.select($"doc_id").as[Long].collect().toSet
      finally minId.unpersist()
    assert(gotMin === Set(1L, 7L))
  }

  private lazy val semEmb = Seq(
    // cluster 10: 1 ≈ 2 (cos ≈ 1), 3 orthogonal to both
    (1L, 10, Seq(1.0f, 0.0f)),
    (2L, 10, Seq(1.0f, 0.01f)),
    (3L, 10, Seq(0.0f, 1.0f)),
    // cluster 20: identical direction to 1, but different cluster —
    // must never be compared against cluster 10
    (4L, 20, Seq(1.0f, 0.0f))
  ).toDF("vec_id", "cluster", "embedding")

  test("semanticDedup: min-id survivor within cluster; clusters isolate") {
    val kept = Dedup.semanticDedup(semEmb, "vec_id", "embedding",
        "cluster", minCosine = 0.9)
      .select($"vec_id").as[Long].collect().toSet
    // 2 drops (dup of 1); 3 kept (orthogonal); 4 kept (other cluster)
    assert(kept === Set(1L, 3L, 4L))
  }

  test("semanticDedup: rank column overrides the min-id keep rule") {
    // rank 2 best (lowest), so the dup group {1,2} keeps 2 instead of 1
    val ranked = semEmb.withColumn("rnk",
      when($"vec_id" === 2L, 0.1).otherwise(0.9))
    val kept = Dedup.semanticDedup(ranked, "vec_id", "embedding",
        "cluster", minCosine = 0.9, rankCols = Seq("rnk"))
      .select($"vec_id").as[Long].collect().toSet
    assert(kept === Set(2L, 3L, 4L))
  }

  test("admitIncomingSemantic: same-cell dups rejected, cells isolate") {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    val centroids = spark.createDataFrame(
      java.util.Arrays.asList(
        Row(0, Seq(1.0, 0.0)), Row(1, Seq(0.0, 1.0))),
      StructType(Seq(
        StructField("cluster_id", IntegerType, nullable = false),
        StructField("centroid", ArrayType(DoubleType), nullable = false))))
    val corpusIdx = Seq(
      (10L, Seq(1.0f, 0.05f), 0),  // cell 0
      (11L, Seq(0.05f, 1.0f), 1),  // cell 1
      // PLANTED cross-cell row: lives in cell 0 but points along y —
      // an incoming y-axis vector (assigned to cell 1) must never see it
      (12L, Seq(0.0f, 1.0f), 0)
    ).toDF("vec_id", "embedding", "cluster_id")
    val incoming = Seq(
      (1L, Seq(1.0f, 0.0f)),    // cell 0, cos vs 10 ≈ 1 → rejected
      (2L, Seq(0.7f, -0.7f)),   // cell 0, cos vs both cell-0 rows < 0.9 → admitted
      (3L, Seq(0.04f, 1.0f)),   // cell 1, cos vs 11 ≈ 1 → rejected
      (4L, Seq(-1.0f, 0.9f))    // cell 1, cos vs 11 ≈ 0.55 → admitted
    ).toDF("vec_id", "embedding")
    val kept = Dedup.admitIncomingSemantic(incoming, corpusIdx,
        "vec_id", "embedding", centroids, minCosine = 0.9)
      .select($"vec_id").as[Long].collect().toSet
    assert(kept === Set(2L, 4L))
    // cell isolation positive control: vector 3 was rejected by 11 (its
    // own cell), not by 12 — removing 11 admits it even though 12 is
    // nearly identical, because 12 lives in the other cell
    val keptNo11 = Dedup.admitIncomingSemantic(incoming,
        corpusIdx.filter($"vec_id" =!= 11L),
        "vec_id", "embedding", centroids, minCosine = 0.9)
      .select($"vec_id").as[Long].collect().toSet
    assert(keptNo11 === Set(2L, 3L, 4L))
  }

  test("admitIncoming: forced candidate-cap overflow degrades to the " +
      "distributed path with IDENTICAL decisions") {
    val docsT = graft.Tables.load(spark, graft.TestSpark.sf0001, "documents")
    val corpus = docsT.filter($"doc_id" < 250)
    val incoming = docsT.filter($"doc_id" >= 250)
    for ((name, buckets) <- bucketFns) withClue(s"$name buckets: ") {
      val fused = Dedup.admitIncoming(incoming, corpus, "doc_id", "text",
          buckets = buckets)
        .select("doc_id").as[Long].collect().toSet
      // maxCandidates = 0 trips the cap on ANY non-empty candidate set —
      // the graceful-degrade path must reproduce the fused decisions
      val degraded = Dedup.admitIncoming(incoming, corpus, "doc_id", "text",
          maxCandidates = 0, buckets = buckets)
        .select("doc_id").as[Long].collect().toSet
      assert(degraded === fused && fused.nonEmpty)
      // and the fixture really exercises both branches: some rows rejected
      assert(fused.size < incoming.count())
    }
  }

  /** The two bucket relations the admission kernels run under: the
    * seeded default and the closed-form hash of the oracle twins. */
  private val bucketFns: Seq[(String, Dedup.Buckets)] =
    Seq("seeded" -> (NearDup.minHashBuckets(_, _, _)),
      "poly" -> (NearDup.minHashPolyBanded(_, _, _)))

  /** The closed-form admission verdict composed by hand, in the shape
    * the DuckDB oracle replays: exact tier, cross candidates from the
    * poly-banded UNION relation restricted to each side, Jaccard verify
    * ≥ 0.8 over the union, anti-join. The reference the kernels are
    * held to under poly buckets. */
  private def handAdmit(incoming: DataFrame, corpus: DataFrame): DataFrame = {
    val exactKept = Dedup.localizeBatch(Dedup.incrementalExact(incoming,
      Dedup.tokenFingerprint($"text"), corpus, Dedup.tokenFingerprint($"text")))
    val rel = corpus.select($"doc_id", $"text")
      .union(exactKept.select($"doc_id", $"text"))
    val banded = NearDup.minHashPolyBanded(rel, "doc_id", "text")
    def side(df: DataFrame) =
      banded.join(df.select($"doc_id".as("_id")), Seq("_id"), "left_semi")
    val cands = NearDup.materializePairs(
      NearDup.bucketPairs(side(exactKept), side(corpus),
        NearDup.PairRule.AnyKey, cross = true)
        .select($"id_new".as("id_a"), $"id_old".as("id_b")))
    val rejected = NearDup.jaccardVerify(rel, "doc_id", "text", cands)
      .filter($"jaccard" >= 0.8).select($"id_a".as("doc_id"))
    exactKept.join(rejected, Seq("doc_id"), "left_anti")
  }

  test("admission kernels under poly buckets ≡ the hand-composed twin chain") {
    val fixture = graft.Tables.load(spark, TestSpark.sf0001, "documents")
      .select($"doc_id", $"text")
    val incoming = fixture.filter($"doc_id" >= 250)
    val corpus = fixture.filter($"doc_id" < 250)
    val poly: Dedup.Buckets = NearDup.minHashPolyBanded(_, _, _)
    def rows(df: => DataFrame) = Dedup.withAdmissionScope {
      df.select($"doc_id", $"text").as[(Long, String)].collect().toSet
    }
    def cleaned(strip: DataFrame) = strip.filter($"kept_tokens" >= 1)
      .select($"_id".as("doc_id"), $"cleaned_text".as("text"))

    val admitted = rows(Dedup.admitIncoming(incoming, corpus, "doc_id",
      "text", buckets = poly))
    assert(admitted === rows(handAdmit(incoming, corpus)))
    assert(admitted.size < incoming.count(), "nothing rejected — vacuous")

    assert(rows(Dedup.gateAndAdmit(incoming, corpus, "doc_id", "text",
        buckets = poly)) ===
      rows(handAdmit(incoming.filter(TextAnalysis.gopherPass($"text")),
        corpus)))

    val direct = rows(Dedup.cleanAndAdmit(incoming, corpus, "doc_id", "text",
      buckets = poly))
    assert(direct === rows(handAdmit(cleaned(
      SpanDedup.crossStripSpans(incoming, corpus, "doc_id", "text", k = 8)),
      corpus)))
    val original = incoming.as[(Long, String)].collect().toMap
    assert(direct.exists { case (id, t) => original(id) != t },
      "no text was stripped — vacuous")

    val tmp = java.nio.file.Files.createTempDirectory("graft-caa-poly")
    try {
      SpanDedup.buildGramIndex(corpus, "doc_id", "text", tmp.toString, k = 8)
      assert(rows(Dedup.cleanAndAdmit(incoming, corpus, "doc_id", "text",
          gramIndexPath = Some(tmp.toString), buckets = poly)) ===
        rows(handAdmit(cleaned(SpanDedup.crossStripSpansIndexed(
          incoming, "doc_id", "text", tmp.toString, k = 8)), corpus)))
    } finally org.apache.commons.io.FileUtils.deleteDirectory(tmp.toFile)
  }

  test("admitIncomingVectors: forced overflow degrades decision-identically") {
    val emb = graft.Tables.load(spark, graft.TestSpark.sf0001, "embeddings")
    val corpus = emb.filter($"vec_id" < 150)
    val incoming = emb.filter($"vec_id" >= 150 && $"vec_id" < 250)
    val fused = Dedup.admitIncomingVectors(incoming, corpus,
        "vec_id", "embedding", minCosine = 0.95)
      .select("vec_id").as[Long].collect().toSet
    val degraded = Dedup.admitIncomingVectors(incoming, corpus,
        "vec_id", "embedding", minCosine = 0.95, maxCandidates = 0)
      .select("vec_id").as[Long].collect().toSet
    assert(degraded === fused && fused.nonEmpty)
  }

  test("semanticDedup: transitive chains keep exactly the best member") {
    // a-b cos≈1, b-c cos≈1, a-c cos≈1 within one cluster: one survivor
    val chain = Seq(
      (5L, 1, Seq(1.0f, 0.00f)),
      (6L, 1, Seq(1.0f, 0.01f)),
      (7L, 1, Seq(1.0f, 0.02f))
    ).toDF("vec_id", "cluster", "embedding")
    val kept = Dedup.semanticDedup(chain, "vec_id", "embedding",
        "cluster", minCosine = 0.99)
      .select($"vec_id").as[Long].collect().toSet
    assert(kept === Set(5L))
  }

  test("withAdmissionScope releases the kernel's batch persists; unscoped ones drain via releaseAdmissionCaches") {
    // track OWN rdd ids only (the shared session's ContextCleaner reaps
    // other suites' abandoned entries asynchronously — r16 flake note)
    val corpus = docs.filter($"doc_id" <= 2L)
    val incoming = docs.filter($"doc_id" >= 3L)
    val before = spark.sparkContext.getPersistentRDDs.keySet
    var during: Set[Int] = Set.empty
    Dedup.withAdmissionScope {
      val admitted = Dedup.admitIncoming(incoming, corpus, "doc_id", "text")
      admitted.count() // consume inside the scope, per the contract
      during = (spark.sparkContext.getPersistentRDDs.keySet -- before).toSet
    }
    val after = spark.sparkContext.getPersistentRDDs.keySet
    assert(during.nonEmpty, "kernel should persist inside the scope")
    assert(during.forall(!after.contains(_)),
      s"scope left persisted entries behind: ${during.intersect(after)}")

    // unscoped call: entries land in the orphan queue and survive the
    // call — the loop-boundary sweep releases them
    val before2 = spark.sparkContext.getPersistentRDDs.keySet
    Dedup.admitIncoming(incoming, corpus, "doc_id", "text").count()
    val leaked = (spark.sparkContext.getPersistentRDDs.keySet -- before2).toSet
    assert(leaked.nonEmpty, "unscoped kernel should have live entries")
    Dedup.releaseAdmissionCaches()
    val after2 = spark.sparkContext.getPersistentRDDs.keySet
    assert(leaked.forall(!after2.contains(_)),
      s"releaseAdmissionCaches left entries: ${leaked.intersect(after2)}")
  }

  test("cleanAndAdmit: hashGrams=true is decision-identical on the fixture") {
    // the at-scale strip shape (8-byte gram keys in the semi-join,
    // AdmitProbe r18: 2.5x less shuffle at a 1M-doc corpus) must admit
    // exactly the same rows with exactly the same cleaned text
    val fixture = graft.Tables.load(spark, TestSpark.sf0001, "documents")
      .select($"doc_id", $"text")
    val incoming = fixture.filter($"doc_id" >= 250)
    val corpus = fixture.filter($"doc_id" < 250)
    def rows(hashed: Boolean) = Dedup.withAdmissionScope {
      Dedup.cleanAndAdmit(incoming, corpus, "doc_id", "text",
          hashGrams = hashed)
        .as[(Long, String)].collect.toSet
    }
    assert(rows(hashed = true) === rows(hashed = false))
  }

  test("cleanAndAdmit over a current gram index ≡ the direct kernel") {
    // the r19 composition: the production ingestion kernel rides the
    // corpus's maintained gram-key artifact for its strip tier — with
    // the index current, admissions and cleaned text are identical to
    // the direct (corpus-gram-shuffling) form
    val fixture = graft.Tables.load(spark, TestSpark.sf0001, "documents")
      .select($"doc_id", $"text")
    val incoming = fixture.filter($"doc_id" >= 250)
    val corpus = fixture.filter($"doc_id" < 250)
    val tmp = java.nio.file.Files.createTempDirectory("graft-caa-gramidx")
    try {
      graft.operators.SpanDedup.buildGramIndex(corpus, "doc_id", "text",
        tmp.toString, k = 8)
      def rows(idx: Option[String]) = Dedup.withAdmissionScope {
        Dedup.cleanAndAdmit(incoming, corpus, "doc_id", "text",
            gramIndexPath = idx)
          .as[(Long, String)].collect.toSet
      }
      assert(rows(Some(tmp.toString)) === rows(None))
    } finally org.apache.commons.io.FileUtils.deleteDirectory(tmp.toFile)
  }

  test("localizeBatch: LocalRelation under the cap, persisted fallback past it, identical rows") {
    // the r19 stats-honesty commit point: under the cap the batch comes
    // back as a LocalRelation (accurate stats for every downstream
    // small-plan gate — the poisoned-estimate fix); past the cap the
    // POPULATED persisted frame returns, decision-identical
    val docs = graft.Tables.load(spark, TestSpark.sf0001, "documents")
      .select($"doc_id", $"text").filter($"doc_id" < 50)
    val expected = docs.as[(Long, String)].collect.toSet
    Dedup.withAdmissionScope {
      val local = Dedup.localizeBatch(docs)
      assert(local.queryExecution.optimizedPlan
        .isInstanceOf[org.apache.spark.sql.catalyst.plans.logical.LocalRelation],
        "under-cap batch must commit as a LocalRelation")
      assert(local.as[(Long, String)].collect.toSet === expected)
      val spilled = Dedup.localizeBatch(docs, cap = 1)
      assert(!spilled.queryExecution.optimizedPlan
        .isInstanceOf[org.apache.spark.sql.catalyst.plans.logical.LocalRelation],
        "over-cap batch must keep the distributed (persisted) shape")
      assert(spilled.storageLevel.useMemory ||
        spilled.storageLevel.useDisk,
        "over-cap fallback must return the persisted frame (populated by the probe collect)")
      assert(spilled.as[(Long, String)].collect.toSet === expected)
    }
  }
}
