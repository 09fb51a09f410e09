package graft.operators

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

class NearDupSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  // 1&2 identical; 3 near-identical to 1 (one word changed at the end);
  // 4 completely disjoint vocabulary
  private lazy val docs = Seq(
    (1L, "alpha beta gamma delta epsilon zeta eta theta iota kappa"),
    (2L, "alpha beta gamma delta epsilon zeta eta theta iota kappa"),
    (3L, "alpha beta gamma delta epsilon zeta eta theta iota lambda"),
    (4L, "one two three four five six seven eight nine ten")
  ).toDF("doc_id", "text")

  test("shingles: n-grams of tokens; short docs collapse to one shingle") {
    val sh = docs.filter($"doc_id" === 1)
      .select(NearDup.shingles($"text", 3).as("s"))
      .as[Seq[String]].head
    assert(sh.size === 8)
    assert(sh.head === "alpha beta gamma")
    val short = Seq((9L, "a b")).toDF("doc_id", "text")
      .select(NearDup.shingles($"text", 3).as("s")).as[Seq[String]].head
    assert(short === Seq("a b"))
  }

  test("minhash: identical docs always collide; disjoint docs never do") {
    val pairs = NearDup.minHashCandidates(docs, "doc_id", "text")
      .as[(Long, Long)].collect.toSet
    assert(pairs.contains((1L, 2L)), "identical docs must be candidates")
    assert(!pairs.contains((1L, 4L)) && !pairs.contains((2L, 4L)) &&
      !pairs.contains((3L, 4L)), "disjoint docs must not be candidates")
  }

  test("jaccard verification: 1.0 for identical, high for near, 0 for disjoint") {
    val pairs = Seq((1L, 2L), (1L, 3L), (1L, 4L)).toDF("id_a", "id_b")
    val j = NearDup.jaccardVerify(docs, "doc_id", "text", pairs)
      .as[(Long, Long, Double)].collect
      .map { case (a, b, v) => (a, b) -> v }.toMap
    assert(j((1L, 2L)) === 1.0)
    assert(j((1L, 3L)) > 0.5 && j((1L, 3L)) < 1.0)
    assert(j((1L, 4L)) === 0.0)
  }

  test("simhash: equal for identical docs, near for near-dups, far for disjoint") {
    val sh = docs.select($"doc_id", NearDup.simHash($"text").as("sh"))
      .as[(Long, Long)].collect.toMap
    assert(sh(1L) === sh(2L))
    val near = java.lang.Long.bitCount(sh(1L) ^ sh(3L))
    val far = java.lang.Long.bitCount(sh(1L) ^ sh(4L))
    assert(near < far, s"near=$near far=$far")
    assert(near <= 16)
  }

  test("native minhash signature ≡ HOF signature, incl. 0/1-token edge docs") {
    val fixture = graft.Tables.load(spark, graft.TestSpark.sf0001, "documents")
      .select($"doc_id", $"text")
      .unionByName(Seq((9001L, "solo"), (9002L, ""), (9003L, "two words"))
        .toDF("doc_id", "text"))
    val toks = TextAnalysis.tokens($"text")
    val mismatches = fixture.select(
      NearDup.minHashSignature(toks, 16).as("native"),
      NearDup.minHashSignatureHof(toks, 16).as("hof"))
      .filter($"native" =!= $"hof").count()
    assert(mismatches === 0L)
  }

  test("native shingles ≡ HOF shingles on fixture docs + edge docs, n=1/3/4") {
    val fixture = graft.Tables.load(spark, graft.TestSpark.sf0001, "documents")
      .select($"doc_id", $"text")
      .unionByName(Seq((9001L, "solo"), (9002L, ""), (9003L, "two words"),
        (9004L, "  padded   tokens  ")).toDF("doc_id", "text"))
    // 4 included because q_decontaminate shingles at n=4
    for (n <- Seq(1, 3, 4)) {
      val mismatches = fixture.select(
        NearDup.shingles($"text", n).as("native"),
        NearDup.shinglesHof($"text", n).as("hof"))
        .filter($"native" =!= $"hof").count()
      assert(mismatches === 0L, s"shingle width $n")
    }
  }

  test("native minhash ≡ HOF minhash on arrays containing null tokens") {
    // xxhash64(null) = seed, so the native path must hash nulls to 42L
    val arrs = Seq(
      Seq("a", null, "b", "c"),
      Seq[String](null, null, null),
      Seq("x", "y", null)
    ).toDF("toks")
    val mismatches = arrs.select(
      NearDup.minHashSignature($"toks", 16).as("native"),
      NearDup.minHashSignatureHof($"toks", 16).as("hof"))
      .filter($"native" =!= $"hof").count()
    assert(mismatches === 0L)
  }

  test("native simHash ≡ HOF simHash bit-for-bit on fixture docs") {
    val fixture = graft.Tables.load(spark, graft.TestSpark.sf0001, "documents")
    val mismatches = fixture.select(
      NearDup.simHash($"text").as("native"),
      NearDup.simHashHof($"text").as("hof"))
      .filter($"native" =!= $"hof").count()
    assert(mismatches === 0L)
  }

  test("simHashCandidates finds the identical pair with hamming 0") {
    val cands = NearDup.simHashCandidates(docs, "doc_id", "text", maxHamming = 8)
      .as[(Long, Long, Int)].collect.toSet
    assert(cands.exists { case (a, b, h) => a == 1L && b == 2L && h == 0 })
  }

  test("simHashCandidatesMaterialized ≡ lazy simHashCandidates") {
    val lazySet = NearDup.simHashCandidates(docs, "doc_id", "text",
      maxHamming = 8).as[(Long, Long, Int)].collect.toSet
    val eagerSet = NearDup.simHashCandidatesMaterialized(docs, "doc_id",
      "text", maxHamming = 8).as[(Long, Long, Int)].collect.toSet
    assert(eagerSet === lazySet && eagerSet.nonEmpty)
  }

  test("winnowing: identical docs share all fingerprints; partial overlap shares some") {
    val d = Seq(
      (1L, "alpha beta gamma delta epsilon zeta eta theta iota kappa lambda mu"),
      (2L, "alpha beta gamma delta epsilon zeta eta theta iota kappa lambda mu"),
      // first half of doc 1 + unrelated tail
      (3L, "alpha beta gamma delta epsilon zeta xx yy zz qq ww ee"),
      (4L, "one two three four five six seven eight nine ten eleven twelve")
    ).toDF("doc_id", "text")
    val fp = d.select($"doc_id", NearDup.winnowFingerprint($"text").as("fp"))
      .as[(Long, Seq[Long])].collect.toMap
    assert(fp(1L) === fp(2L))
    assert((fp(1L).toSet & fp(3L).toSet).nonEmpty, "shared prefix must share fingerprints")
    assert((fp(1L).toSet & fp(4L).toSet).isEmpty, "disjoint docs must not")
  }

  test("native winnowFingerprint ≡ HOF winnowFingerprint on fixture + edge docs") {
    val fixture = graft.Tables.load(spark, graft.TestSpark.sf0001, "documents")
    val mismatches = fixture.select(
      NearDup.winnowFingerprint($"text").as("native"),
      NearDup.winnowFingerprintHof($"text").as("hof"))
      .filter($"native" =!= $"hof").count()
    assert(mismatches === 0L)
    val edge = Seq((1L, ""), (2L, "one"), (3L, "one two"),
      (4L, "a b c d e f")).toDF("doc_id", "text")
    val edgeMismatches = edge.select(
      NearDup.winnowFingerprint($"text", window = 2).as("native"),
      NearDup.winnowFingerprintHof($"text", window = 2).as("hof"))
      .filter($"native" =!= $"hof").count()
    assert(edgeMismatches === 0L)
  }

  test("winnowCandidates: overlapping docs collide in fingerprint buckets, disjoint never") {
    val d = Seq(
      (1L, "alpha beta gamma delta epsilon zeta eta theta iota kappa lambda mu"),
      (2L, "alpha beta gamma delta epsilon zeta eta theta iota kappa lambda mu"),
      (3L, "alpha beta gamma delta epsilon zeta xx yy zz qq ww ee"),
      (4L, "one two three four five six seven eight nine ten eleven twelve")
    ).toDF("doc_id", "text")
    val cands = NearDup.winnowCandidates(d, "doc_id", "text", minShared = 1)
      .as[(Long, Long, Long)].collect.toSet
    val pairs = cands.map { case (a, b, _) => (a, b) }
    assert(pairs.contains((1L, 2L)), "identical docs must collide")
    assert(pairs.contains((1L, 3L)), "shared prefix must collide")
    assert(!pairs.exists { case (a, b) => a == 4L || b == 4L },
      "disjoint doc must never pair")
    // identical docs share their ENTIRE fingerprint set
    val full = d.filter($"doc_id" === 1L)
      .select(size(NearDup.winnowFingerprint($"text"))).as[Int].head
    assert(cands.contains((1L, 2L, full.toLong)))
    // eager variant is identity-preserving
    val eager = NearDup.winnowCandidatesMaterialized(d, "doc_id", "text",
      minShared = 1).as[(Long, Long, Long)].collect.toSet
    assert(eager === cands)
  }

  test("bucketed embedding near-dup: exact dups always collide, orthogonals never; precision exact") {
    // 64-dim so the fixture planes shape is exercised; ids 1/2 identical,
    // 3 a tiny perturbation of 1, 4 orthogonal to all
    def v(seed: Int): Array[Float] =
      Array.tabulate(64)(i => (((i * 13 + seed * 7) % 19) - 9) / 9.0f)
    val base = v(1)
    val near = base.clone(); near(0) += 0.01f
    val orth = Array.tabulate(64)(i => if (i % 2 == 0) v(5)(i) else -v(5)(i))
    val emb = Seq((1L, base), (2L, base), (3L, near), (4L, orth))
      .toDF("vec_id", "embedding")
    val cands = NearDup.embeddingCandidates(emb, "vec_id", "embedding", nBits = 8)
      .as[(Long, Long)].collect.toSet
    assert(cands.contains((1L, 2L)), "identical vectors must share every bucket")
    assert(cands.contains((1L, 3L)), "1-bit-flip multiprobe must catch the perturbed twin")
    val verified = NearDup.cosineVerify(emb, "vec_id", "embedding",
      NearDup.embeddingCandidates(emb, "vec_id", "embedding", nBits = 8))
      .filter($"cos" >= 0.99)
      .select("id_a", "id_b").as[(Long, Long)].collect.toSet
    assert(verified.contains((1L, 2L)) && verified.contains((1L, 3L)))
    assert(!verified.exists { case (a, b) => a == 4L || b == 4L },
      "orthogonal vector must not pass exact-cosine verification")
    // precision is exact by construction: bucketed ⊆ bounded all-pairs
    val allPairs = NearDup.embeddingNearDup(emb, "vec_id", "embedding",
      minCosine = 0.99, maxId = 100)
      .select("id_a", "id_b").as[(Long, Long)].collect.toSet
    assert(verified.subsetOf(allPairs))
  }

  test("minHashCrossCandidates: identical cross pair collides; cross-set only; disjoint never") {
    val shared = "the quick brown fox jumps over the lazy dog again and again"
    val incoming = Seq(
      (100L, shared),
      (101L, "totally unrelated vocabulary nothing here overlaps with anything")
    ).toDF("doc_id", "text")
    val corpus = Seq(
      (1L, shared),
      (2L, "some other corpus document about spark engines and queries today")
    ).toDF("doc_id", "text")
    val got = NearDup.minHashCrossCandidates(incoming, corpus, "doc_id", "text")
      .as[(Long, Long)].collect.toSet
    // identical shingle sets agree on every band → must collide
    assert(got.contains((100L, 1L)))
    // only (incoming, corpus) pairs — never corpus-internal or
    // incoming-internal (those were resolved at their own ingestion)
    assert(got.forall { case (n, o) => n >= 100L && o < 100L })
    // disjoint shingle sets collide only by 64-bit hash accident
    assert(!got.exists(_._1 == 101L))
  }

  test("cross-candidate broadcast hint is size-gated: same pairs with the hint suppressed (r14 advice)") {
    val shared = "the quick brown fox jumps over the lazy dog again and again"
    val incoming = Seq((100L, shared)).toDF("doc_id", "text")
    val corpus = Seq((1L, shared), (2L, "spark engines and queries today"))
      .toDF("doc_id", "text")
    val conf = spark.conf
    val key = "spark.sql.autoBroadcastJoinThreshold"
    val saved = conf.get(key)
    def hinted(df: org.apache.spark.sql.DataFrame): Boolean =
      df.queryExecution.analyzed.collect {
        case h: org.apache.spark.sql.catalyst.plans.logical.UnresolvedHint => h
        case h: org.apache.spark.sql.catalyst.plans.logical.ResolvedHint => h
      }.nonEmpty
    try {
      // kilobyte incoming under the default threshold → hint applies
      conf.set(key, "10485760")
      val small = NearDup.minHashCrossCandidates(incoming, corpus, "doc_id", "text")
      assert(hinted(small), "small incoming must carry the broadcast hint")
      val want = small.as[(Long, Long)].collect.toSet
      // auto-broadcast disabled → the public operator must NOT force a
      // driver collect; plan is unhinted, result identical
      conf.set(key, "-1")
      val big = NearDup.minHashCrossCandidates(incoming, corpus, "doc_id", "text")
      assert(!hinted(big), "oversized incoming must degrade to a shuffle")
      assert(big.as[(Long, Long)].collect.toSet === want)
    } finally conf.set(key, saved)
  }

  test("simHashCrossCandidates ≡ full-corpus candidates restricted to cross pairs") {
    val fixture = graft.Tables.load(spark, graft.TestSpark.sf0001, "documents")
      .select($"doc_id", $"text")
    val split = 250L
    val cross = NearDup.simHashCrossCandidates(
      fixture.filter($"doc_id" >= split), fixture.filter($"doc_id" < split),
      "doc_id", "text", maxHamming = 12)
      .as[(Long, Long, Int)].collect.toSet
    // cross-set only: never corpus-internal or incoming-internal pairs
    assert(cross.forall { case (n, o, _) => n >= split && o < split })
    // exactly the full-corpus candidate set restricted to pairs that
    // straddle the split (full pairs carry id_a < id_b; normalize)
    val full: Set[(Long, Long, Int)] = NearDup.simHashCandidates(
      fixture, "doc_id", "text", maxHamming = 12)
      .as[(Long, Long, Int)].collect.toSet
    val fullCross = full.filter { case (a, b, _) => (a < split) != (b < split) }
    assert(cross.map { case (n, o, h) =>
      (math.min(n, o), math.max(n, o), h) } === fullCross)
    assert(cross.nonEmpty, "fixture must produce at least one cross pair")
  }

  test("winnowCrossCandidates ≡ full-corpus candidates restricted to cross pairs") {
    val fixture = graft.Tables.load(spark, graft.TestSpark.sf0001, "documents")
      .select($"doc_id", $"text")
    val split = 250L
    val cross = NearDup.winnowCrossCandidates(
      fixture.filter($"doc_id" >= split), fixture.filter($"doc_id" < split),
      "doc_id", "text")
      .as[(Long, Long, Long)].collect.toSet
    assert(cross.forall { case (n, o, _) => n >= split && o < split })
    val full: Set[(Long, Long, Long)] = NearDup.winnowCandidates(
      fixture, "doc_id", "text")
      .as[(Long, Long, Long)].collect.toSet
    val fullCross = full.filter { case (a, b, _) => (a < split) != (b < split) }
    assert(cross.map { case (n, o, s) =>
      (math.min(n, o), math.max(n, o), s) } === fullCross)
    assert(cross.nonEmpty, "fixture must produce at least one cross pair")
  }

  test("cross ≡ self restricted to cross pairs: {MinHash, SimHash, winnow} × {xxhash, poly}") {
    import org.apache.spark.sql.DataFrame
    val fixture = graft.Tables.load(spark, graft.TestSpark.sf0001, "documents")
      .select($"doc_id", $"text")
    val split = 250L
    // the closed-form twins' cross form: their per-doc relation on each
    // side, joined by the shared closer
    def polyCross(rel: DataFrame => DataFrame, rule: NearDup.PairRule)(
        i: DataFrame, c: DataFrame): DataFrame =
      NearDup.bucketPairs(rel(i), rel(c), rule, cross = true)
    // (family/hash, self generator, cross generator over id-disjoint sides)
    val cases: Seq[(String, DataFrame => DataFrame,
        (DataFrame, DataFrame) => DataFrame)] = Seq(
      ("minhash/xxhash", NearDup.minHashCandidates(_, "doc_id", "text"),
        NearDup.minHashCrossCandidates(_, _, "doc_id", "text")),
      ("simhash/xxhash",
        NearDup.simHashCandidates(_, "doc_id", "text", maxHamming = 12),
        NearDup.simHashCrossCandidates(_, _, "doc_id", "text", maxHamming = 12)),
      ("winnow/xxhash", NearDup.winnowCandidates(_, "doc_id", "text"),
        NearDup.winnowCrossCandidates(_, _, "doc_id", "text")),
      ("minhash/poly", NearDup.minHashPolyCandidates(_, "doc_id", "text"),
        polyCross(NearDup.minHashPolyBanded(_, "doc_id", "text"),
          NearDup.PairRule.AnyKey)),
      ("simhash/poly", NearDup.simHashPolyCandidates(_, "doc_id", "text"),
        polyCross(NearDup.simHashPolyBanded(_, "doc_id", "text"),
          NearDup.PairRule.Hamming(2, bigint = true))),
      ("winnow/poly", NearDup.winnowPolyCandidates(_, "doc_id", "text"),
        polyCross(NearDup.winnowPolyFps(_, "doc_id", "text"),
          NearDup.PairRule.MinShared(2))))
    for ((name, self, cross) <- cases) {
      val full = self(fixture)
      val x = cross(fixture.filter($"doc_id" >= split),
        fixture.filter($"doc_id" < split))
      // same payload columns and types (hamming INT vs BIGINT per hash)
      assert(x.schema.map(_.dataType) === full.schema.map(_.dataType), name)
      val got = x.collect().map(_.toSeq).toSet
      assert(got.forall(r => r(0).asInstanceOf[Long] >= split &&
        r(1).asInstanceOf[Long] < split), s"$name: cross-set only")
      // self pairs carry id_a < id_b: a straddling pair is (old, new, …)
      val want = full.collect().map(_.toSeq).toSet.filter(r =>
        (r(0).asInstanceOf[Long] < split) != (r(1).asInstanceOf[Long] < split))
      assert(got.map(r => r(1) +: r(0) +: r.drop(2)) === want, name)
      assert(got.nonEmpty, s"$name: fixture must produce a cross pair")
    }
  }

  test("embeddingCrossCandidates: identical cross vector collides; cross-set only") {
    val v = Array.tabulate(16)(i => math.sin(i + 1).toFloat)
    val w = Array.tabulate(16)(i => math.cos(3 * i + 2).toFloat)
    val incoming = Seq((100L, v), (101L, w)).toDF("vec_id", "embedding")
    val corpus = Seq((1L, v), (2L, v.map(-_))).toDF("vec_id", "embedding")
    val got = NearDup.embeddingCrossCandidates(incoming, corpus,
      "vec_id", "embedding", nBits = 6)
      .as[(Long, Long)].collect.toSet
    // an identical vector lands in the identical sign bucket → collides
    assert(got.contains((100L, 1L)))
    // only (incoming, corpus) pairs ever emit
    assert(got.forall { case (n, o) => n >= 100L && o < 100L })
    // the antipodal vector flips EVERY sign bit — 16 > 1-bit multiprobe
    // reach, so it can never be a candidate of v
    assert(!got.contains((100L, 2L)))
  }

  test("embeddingNearDup: self-similar pairs pass the cosine threshold") {
    val emb = Seq(
      (1L, Array(1.0f, 0.0f)),
      (2L, Array(0.999f, 0.01f)),
      (3L, Array(0.0f, 1.0f))
    ).toDF("vec_id", "embedding")
    val got = NearDup.embeddingNearDup(emb, "vec_id", "embedding",
      minCosine = 0.99, maxId = 100)
      .select("id_a", "id_b").as[(Long, Long)].collect.toSet
    assert(got === Set((1L, 2L)))
  }

  private def allPairsJaccard(df: org.apache.spark.sql.DataFrame,
                              tau: Double) = {
    val pairs = df.select($"doc_id".as("id_a"))
      .crossJoin(df.select($"doc_id".as("id_b")))
      .filter($"id_a" < $"id_b")
    NearDup.jaccardVerify(df, "doc_id", "text", pairs)
      .filter($"jaccard" >= tau)
      .as[(Long, Long, Double)].collect.toSet
  }

  test("jaccardSorted ≡ array_intersect/array_union bit-for-bit (fixture all-pairs + edges)") {
    import org.apache.spark.sql.functions.{array_distinct, array_sort, not}
    val fixture = graft.Tables.load(spark, graft.TestSpark.sf0001, "documents")
      .limit(120)
      .select(col("doc_id").as("id"),
        array_sort(array_distinct(NearDup.shingles(col("text")))).as("sh"))
    // no empty set: the ∅/∅ pair divides by zero, which ANSI mode makes
    // an ERROR in the built-in form — and every caller filters empty
    // docs out before verifying (Jaccard undefined on ∅ by contract)
    val edges = Seq(
      (9001L, Seq("a", "b", "c")), (9002L, Seq("b", "c", "d")),
      (9003L, Seq("zz")), (9005L, Seq("a", "b", "c")))
      .toDF("id", "sh")
      .select(col("id"), array_sort(array_distinct(col("sh"))).as("sh"))
    val all = fixture.unionByName(edges)
    val a = all.select(col("id").as("ia"), col("sh").as("sha"))
    val b = all.select(col("id").as("ib"), col("sh").as("shb"))
    val pairs = a.crossJoin(b).filter(col("ia") <= col("ib"))
    val mismatches = pairs.filter(not(
      NearDup.jaccardSorted(col("sha"), col("shb")) <=>
        NearDup.jaccardHof(col("sha"), col("shb")))).count()
    assert(mismatches === 0L)
  }

  test("graft_jaccard_sorted / graft_polyhash are callable from SQL once extensions are installed") {
    graft.GraftExtensions.install(spark)
    val j = spark.sql(
      "SELECT graft_jaccard_sorted(array('a','b','c'), array('b','c','d')) AS j")
      .head.getDouble(0)
    assert(math.abs(j - 0.5) < 1e-12) // |{b,c}| / |{a,b,c,d}|
    val h = spark.sql("SELECT graft_polyhash('ab') AS h").head.getLong(0)
    // fold: ((7*131 + 97)*131 + 98) % 1e9+7
    assert(h === ((7L * 131 + 97) * 131 + 98) % 1000000007L)
  }

  test("poly candidate chains: identical docs always collide (hamming 0 / all fingerprints); disjoint never") {
    import spark.implicits._
    val shared = "the quick brown fox jumps over the lazy dog again and again and again"
    val docs = Seq(
      (1L, shared), (2L, shared),
      (3L, "completely different vocabulary nowhere overlapping anything today maybe"),
      (4L, "spark engines process queries with columnar batches at scale")
    ).toDF("doc_id", "text")
    val sh = NearDup.simHashPolyCandidates(docs, "doc_id", "text")
      .as[(Long, Long, Long)].collect().toSet
    assert(sh.contains((1L, 2L, 0L)),
      s"identical docs must collide at hamming 0: $sh")
    val wn = NearDup.winnowPolyCandidates(docs, "doc_id", "text")
      .as[(Long, Long, Long)].collect()
      .map { case (a, b, n) => (a, b) -> n }.toMap
    // identical docs share EVERY fingerprint; the doc has 14 tokens →
    // 12 grams → 9 full windows → ≥ 1 distinct fingerprint, all shared
    assert(wn.contains((1L, 2L)), s"identical docs must share fingerprints: $wn")
    // disjoint-vocabulary pairs never share 2+ winnow fingerprints
    // (simhash's disjoint-pair behavior is probabilistic — the hamming
    // verify is its filter — so only the winnow side pins exclusion)
    assert(!wn.contains((1L, 3L)) && !wn.contains((3L, 4L)), s"$wn")
    // minhash: identical shingle sets agree on every band → must collide
    val mh = NearDup.minHashPolyCandidates(docs, "doc_id", "text")
      .as[(Long, Long)].collect().toSet
    assert(mh.contains((1L, 2L)), s"identical docs must band-collide: $mh")
  }

  test("native polyHash ≡ HOF polyHash bit-for-bit on fixture tokens and grams") {
    import org.apache.spark.sql.functions.{explode, not}
    val docs = graft.Tables.load(spark, graft.TestSpark.sf0001, "documents")
    val toks = docs.select(explode(
      graft.operators.TextAnalysis.tokens(col("text"))).as("s"))
    val grams = docs.select(explode(NearDup.shingles(col("text"))).as("s"))
    val edge = Seq("a", "zz top", "0", " ", "punct.,;").toDF("s")
    for (df <- Seq(toks, grams, edge)) {
      val bad = df.filter(not(
        NearDup.polyHash(col("s")) <=> NearDup.polyHashHof(col("s")))).count()
      assert(bad === 0L)
    }
  }

  test("prefixJaccardJoin ≡ quadratic all-pairs verify on the fixture") {
    for (tau <- Seq(0.5, 0.8, 0.9)) {
      val got = NearDup.prefixJaccardJoin(docs, "doc_id", "text", tau)
        .as[(Long, Long, Double)].collect.toSet
      assert(got === allPairsJaccard(docs, tau), s"tau=$tau")
    }
  }

  test("prefixJaccardJoinCross ≡ all-pairs cross verify; no within-set pairs") {
    // incoming 1&3 duplicate corpus rows; 4 is novel; corpus-internal
    // dup (10 ≈ 11) must NOT appear
    val corpus = Seq(
      (10L, "alpha beta gamma delta epsilon zeta eta theta"),
      (11L, "alpha beta gamma delta epsilon zeta eta theta"),
      (12L, "one two three four five six seven eight")
    ).toDF("doc_id", "text")
    val incoming = Seq(
      (1L, "alpha beta gamma delta epsilon zeta eta theta"),
      (3L, "one two three four five six seven eight"),
      (4L, "completely novel words nothing shared here at all")
    ).toDF("doc_id", "text")
    for (tau <- Seq(0.5, 0.8)) {
      val got = NearDup.prefixJaccardJoinCross(incoming, corpus,
          "doc_id", "text", tau)
        .as[(Long, Long, Double)].collect.toSet
      // ground truth: every incoming × corpus pair, verified exactly
      val allCross = incoming.select($"doc_id".as("id_new"))
        .crossJoin(corpus.select($"doc_id".as("id_old")))
      val want = NearDup.jaccardVerifyCross(incoming, corpus,
          "doc_id", "text", allCross)
        .filter($"jaccard" >= tau)
        .as[(Long, Long, Double)].collect.toSet
      assert(got === want && want.nonEmpty, s"tau=$tau")
      assert(got.forall { case (n, o, _) => n < 10 && o >= 10 })
    }
  }

  test("prefixJaccardJoin ≡ all-pairs on a varied synthetic corpus") {
    // deterministic corpus with dup families, partial overlaps, short
    // docs (single-shingle branch) and disjoint rows
    val words = Vector("aa", "bb", "cc", "dd", "ee", "ff", "gg", "hh",
      "ii", "jj", "kk", "ll")
    val rows = (0 until 40).map { i =>
      val base = (0 until 8).map(j => words((i / 4 + j) % words.size))
      val tweak = if (i % 4 == 3) base.updated(7, "zz" + i) else base
      (i.toLong, tweak.mkString(" "))
    } ++ Seq((100L, "aa"), (101L, "aa"), (102L, "qq rr"))
    val df = rows.toDF("doc_id", "text")
    for (tau <- Seq(0.6, 0.8)) {
      val got = NearDup.prefixJaccardJoin(df, "doc_id", "text", tau)
        .as[(Long, Long, Double)].collect.toSet
      assert(got === allPairsJaccard(df, tau), s"tau=$tau")
      assert(got.nonEmpty, s"degenerate fixture at tau=$tau")
    }
  }

  test("prefixJaccardJoin dupHint: both hint values produce the probed result (the hint only skips the probe job)") {
    // a corpus with real dup families, so the two hint values take
    // genuinely different code paths (collapse vs distinct core)
    val rows = (0 until 30).map { i =>
      (i.toLong, s"aa bb cc dd ee ff gg copy${i / 10}") // 3 families of 10
    } ++ (100 until 110).map(i => (i.toLong, s"unique row $i xx yy zz"))
    val df = rows.toDF("doc_id", "text")
    val probed = NearDup.prefixJaccardJoin(df, "doc_id", "text", 0.8)
      .as[(Long, Long, Double)].collect.toSet
    for (hint <- Seq(true, false)) {
      val hinted = NearDup.prefixJaccardJoin(df, "doc_id", "text", 0.8,
          dupHint = Some(hint))
        .as[(Long, Long, Double)].collect.toSet
      assert(hinted === probed, s"dupHint=$hint")
    }
    assert(probed.nonEmpty)
  }

  test("signatureCandidates: collapse path ≡ direct banded join on a duplicated-signature corpus") {
    // dup families (the degenerate-hash shape), near pairs (hamming 1-3),
    // far rows — so both paths exercise within-group, cross-group, and
    // reject branches
    val rows = (0 until 20).map(i => (i.toLong, 0L)) ++          // solid-color family
      (20 until 30).map(i => (i.toLong, 0xABCDL)) ++             // second family
      Seq((40L, 1L), (41L, 3L),                                  // near 0-family
          (50L, 0x7777000011112222L), (51L, 0x7777000011112223L),
          (60L, -1L))                                            // far row
    val df = rows.toDF("media_id", "sig")
    val direct = NearDup.signatureCandidates(df, "media_id", "sig",
        maxHamming = 3, dupHint = Some(true))
      .as[(Long, Long, Int)].collect.toSet
    val collapsed = NearDup.signatureCandidates(df, "media_id", "sig",
        maxHamming = 3, dupHint = Some(false))
      .as[(Long, Long, Int)].collect.toSet
    val adaptive = NearDup.signatureCandidates(df, "media_id", "sig",
        maxHamming = 3)
      .as[(Long, Long, Int)].collect.toSet
    assert(collapsed === direct)
    assert(adaptive === direct)
    // the fixture's truth: 20-family all-pairs + 10-family all-pairs +
    // cross pairs within hamming 3 of the 0 family + the 50/51 pair
    assert(direct.nonEmpty)
    assert(direct.count { case (_, _, h) => h === 0 } === 190 + 45)
  }

  test("signatureCandidates: 10k identical signatures complete through the collapse, decisions unchanged") {
    // the verdict's foot-gun fixture: every row dHashes to 0 (solid
    // colors). The banded self-join would build a 4·n² intermediate and
    // distinct it; the collapse emits the output-bounded n·(n-1)/2 pairs
    // by a direct 8-byte equi-join. The adaptive probe must pick the
    // collapse on its own (no hint).
    val n = 10000
    val df = spark.range(n).select(col("id").as("media_id"),
      lit(0L).as("sig"))
    val pairs = NearDup.signatureCandidates(df, "media_id", "sig",
      maxHamming = 3)
    assert(pairs.count() === n.toLong * (n - 1) / 2)
  }

  test("signatureCrossCandidates: collapse path ≡ direct banded join, cross-set contract held") {
    val corpus = ((0 until 15).map(i => (i.toLong, 0L)) ++
      Seq((20L, 5L), (21L, 0x1234123412341234L))).toDF("media_id", "sig")
    val incoming = ((100 until 110).map(i => (i.toLong, 0L)) ++
      Seq((120L, 1L), (121L, 0x1234123412341230L),
          (122L, 0x5555AAAA5555AAAAL))).toDF("media_id", "sig")
    val direct = NearDup.signatureCrossCandidates(incoming, corpus,
        "media_id", "sig", maxHamming = 3, dupHint = Some(true))
      .as[(Long, Long, Int)].collect.toSet
    val collapsed = NearDup.signatureCrossCandidates(incoming, corpus,
        "media_id", "sig", maxHamming = 3, dupHint = Some(false))
      .as[(Long, Long, Int)].collect.toSet
    val adaptive = NearDup.signatureCrossCandidates(incoming, corpus,
        "media_id", "sig", maxHamming = 3)
      .as[(Long, Long, Int)].collect.toSet
    assert(collapsed === direct)
    assert(adaptive === direct)
    assert(direct.nonEmpty)
    // incoming never meet each other; corpus-internal pairs never appear
    assert(direct.forall { case (n_, o, _) => n_ >= 100 && o < 100 })
  }
}
