package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.VectorFunctions

/** Near-duplicate detection for the LLM-pipeline tier (SURVEY.md §2 B8/B9):
  * MinHash+LSH, SimHash, n-gram Jaccard verification, and embedding-cosine
  * near-dup. All candidate generation is bucket-join shaped — documents
  * meet ONLY inside a (band, hash) bucket, never via a corpus×corpus cross
  * join — which is what keeps 100 TB feasible: the shuffle key space is
  * the bucket id, and bucket sizes are bounded by collision probability,
  * not corpus size.
  *
  * All hashes are Spark's `xxhash64` with the seed mixed in as a leading
  * literal column — fixed seeds, so results are reproducible run-to-run
  * (SURVEY.md §7.3). Not SQL-portable → validated by property tests +
  * Jaccard verification queries instead of the byte-exact oracle.
  */
object NearDup {

  /** Token n-gram shingles of `text` as an array column — native
    * codegen'd expression ([[graft.expressions.Shingles]]), bit-identical
    * to [[shinglesHof]] (asserted in NearDupSpec). */
  def shingles(text: Column, n: Int = 3): Column = {
    import org.apache.spark.sql.graftshim.Bridge
    Bridge.column(graft.expressions.Shingles(
      Bridge.expression(TextAnalysis.tokens(text)), n))
  }

  /** Reference higher-order-function formulation of [[shingles]] — the
    * string-building spec, kept for parity testing. */
  def shinglesHof(text: Column, n: Int = 3): Column = {
    val toks = TextAnalysis.tokens(text)
    when(size(toks) < n, array(concat_ws(" ", toks)))
      .otherwise(transform(
        sequence(lit(1), size(toks) - (n - 1)),
        i => concat_ws(" ", slice(toks, i, lit(n)))))
  }

  /** MinHash signature over token 3-grams — native codegen'd expression
    * ([[graft.expressions.MinHashSig]]): one static call per row over
    * primitive long arrays. Bit-identical to [[minHashSignatureHof]]. */
  def minHashSignature(toks: Column, numHashes: Int): Column = {
    import org.apache.spark.sql.graftshim.Bridge
    Bridge.column(graft.expressions.MinHashSig(Bridge.expression(toks), numHashes))
  }

  /** Reference higher-order-function formulation of [[minHashSignature]]
    * — the arithmetic spec, kept for parity testing.
    *
    * Deliberately NOT `numHashes` separate `array_min(transform(shingles,
    * ...))` projections: ProjectCollapse re-inlines the shingle-building
    * subtree into every per-seed expression, so shingle strings get built
    * `numHashes`× per row (measured: 73 s for 5 k docs at sf0.1). Instead:
    * each token is hashed once, two pad-shifted copies of the hash array
    * are zipped (each evaluated once per row), every position hashes its
    * 3-gram of longs per seed, and a final fold takes the elementwise
    * min. */
  def minHashSignatureHof(toks: Column, numHashes: Int): Column = {
    val th = transform(toks, t => xxhash64(t))
    val n = size(th)
    val thp = concat(th, array(lit(0L), lit(0L)))
    // shifted views, each exactly length n (zip_with would null-pad a
    // shorter array, injecting phantom positions on 0/1-token docs)
    val t2 = slice(thp, lit(2), greatest(n, lit(1)))
    val t3 = slice(thp, lit(3), greatest(n, lit(1)))
    val seeds = array((0 until numHashes).map(lit): _*)
    val pairs = zip_with(th, t2, (a, b) => struct(a.as("a"), b.as("b")))
    val perPosition = zip_with(pairs, t3, (p, c) =>
      transform(seeds, s =>
        xxhash64(s, p.getField("a"), p.getField("b"), c)))
    val folded = aggregate(perPosition,
      array_repeat(lit(Long.MaxValue), numHashes),
      (acc, hs) => zip_with(acc, hs, (x, y) => least(x, y)))
    when(n === 0, array_repeat(lit(Long.MaxValue), numHashes)).otherwise(folded)
  }

  /** LSH band keys: the signature split into `bands` bands of
    * `rows = numHashes / bands` hashes, each band hashed to one bucket
    * key. Row shape: (band_id, band_hash). */
  def bandKeys(sigCol: Column, bands: Int, rows: Int): Column =
    array((0 until bands).map { b =>
      struct(lit(b).as("band_id"),
        xxhash64(slice(sigCol, b * rows + 1, rows)).as("band_hash"))
    }: _*)

  /** MinHash-LSH near-dup candidate pairs (B8).
    *
    * docs → shingle → minhash → explode band keys → self-join per bucket.
    * Returns distinct (id_a, id_b) with id_a < id_b. Probabilistic recall:
    * identical shingle sets ALWAYS collide (every band equal); disjoint
    * sets collide only by 64-bit hash accident. Signatures are always
    * over token 3-grams ([[graft.expressions.MinHashSig]] hard-codes the
    * shingle width); pair a 3-gram `jaccardVerify` with it.
    *
    * Banding defaults target the 0.8-Jaccard verification threshold
    * with a RECALL-FIRST split: b=8 bands of r=4 rows collide
    * J = 0.8 pairs with probability 1 − (1 − 0.8⁴)⁸ ≈ 0.985 (the
    * earlier b=4 × r=8 put the S-curve midpoint at ≈ 0.84 — ABOVE the
    * threshold — and the driver-visible `minhash_recall` instrument
    * measured the loss: 0.84 recall on the sf0.1 dup tail, with misses
    * exactly in the J ≈ 0.8 band the tier exists to catch). The price
    * is a lower midpoint ((1/8)^(1/4) ≈ 0.59), i.e. more sub-threshold
    * candidates for the verify stage to discard — the right side of the
    * trade, since verification is candidate-bounded while a missed dup
    * is gone for good. Same 32-hash signature cost either way.
    */
  def minHashCandidates(docs: DataFrame, idCol: String, textCol: String,
                        numHashes: Int = 32, bands: Int = 8): DataFrame = {
    val buckets = minHashBuckets(docs, idCol, textCol, numHashes, bands)
    bucketPairs(buckets, buckets, PairRule.AnyKey, cross = false)
  }

  /** The (doc, band, bucket) relation the LSH self-join runs over. */
  def minHashBuckets(docs: DataFrame, idCol: String, textCol: String,
                     numHashes: Int = 32, bands: Int = 8): DataFrame = {
    val rows = numHashes / bands
    require(bands * rows == numHashes, "bands must divide numHashes")
    val sig = docs.select(col(idCol).as("_id"),
      minHashSignature(TextAnalysis.tokens(col(textCol)), numHashes).as("_sig"))
    sig.select(col("_id"),
      explode(bandKeys(col("_sig"), bands, rows)).as("_bk"))
      .select(col("_id"), col("_bk.band_id"), col("_bk.band_hash"))
  }

  /** Broadcast hint GATED on Catalyst's size estimate (r14 advice): the
    * cross-set candidate joins ([[bucketPairs]]) and the verify spines
    * hint their small side so fixture-scale runs skip the two
    * shuffle-map stages AQE's runtime conversion still pays — but these
    * are PUBLIC operators, and an unconditional hint forces a driver
    * collect AQE cannot undo, so a caller passing a corpus-sized
    * "incoming" would OOM the driver instead of degrading to a
    * shuffle. Below the session's
    * autoBroadcastJoinThreshold (the same bar Catalyst's own planner
    * uses) the hint applies; above it — or with auto-broadcast disabled
    * — the join is left unhinted and AQE's runtime size measurement
    * decides, exactly like this file's df-sliver join. Estimates are
    * plan-level (a filter over a big scan estimates big without CBO),
    * so the gate errs toward the safe shuffle. */
  private[operators] def hintIfSmall(df: DataFrame): DataFrame = {
    val thr = df.sparkSession.sessionState.conf.autoBroadcastJoinThreshold
    if (thr > 0 && graft.PlanGate.planBytes(df) <= BigInt(thr)) broadcast(df)
    else df
  }

  /** [[hintIfSmall]] for a two-sided bucket join: hint whichever side
    * ESTIMATES smaller (ties go to the incoming side `a` — the
    * micro-batch contract), not unconditionally the incoming side. A
    * broadcast build runs single-threaded on one task, so hinting the
    * bigger side serializes its whole signature computation (the r17
    * job audit: a 4750-doc "incoming" slice built 309 ms serial where
    * the 250-doc corpus side builds in 16 ms). At 100 TB the corpus
    * side estimates far past the broadcast bar and the choice
    * degenerates to the old incoming-side hint; with BOTH sides over
    * the bar the join is left unhinted and AQE decides, as before. */
  private def hintSmallerSide(a: DataFrame,
                              b: DataFrame): (DataFrame, DataFrame) = {
    val thr = a.sparkSession.sessionState.conf.autoBroadcastJoinThreshold
    if (thr <= 0) return (a, b)
    val (ea, eb) = (graft.PlanGate.planBytes(a), graft.PlanGate.planBytes(b))
    if (eb < ea && eb <= BigInt(thr)) (a, broadcast(b))
    else if (ea <= BigInt(thr)) (broadcast(a), b)
    else (a, b)
  }

  /** How [[bucketPairs]] turns documents sharing a bucket key into
    * pairs. With the per-doc bucket relation, the only thing that
    * differs between candidate families and hashes. */
  private[graft] sealed trait PairRule
  private[graft] object PairRule {
    /** Any shared key: distinct (id, id) — MinHash bands, embedding
      * sign buckets. */
    case object AnyKey extends PairRule
    /** A shared band, then full Hamming distance ≤ `max` between the
      * relations' signature columns: distinct (id, id, hamming) —
      * SimHash, any 64-bit signature. `bigint` types `hamming` BIGINT
      * (the closed-form twins' type), else INT. */
    final case class Hamming(max: Int, bigint: Boolean) extends PairRule
    /** At least `n` shared keys: (id, id, n_shared) — winnowing. */
    final case class MinShared(n: Int) extends PairRule
  }

  /** The one bucket-join closer of every near-dup candidate family:
    * documents meet ONLY inside a shared bucket. `a` and `b` are per-doc
    * bucket relations of one shape — the id first, then (under
    * [[PairRule.Hamming]]) the signature, then the bucket-key columns;
    * `b`'s columns are matched to `a`'s by position.
    *
    * Self mode (`cross = false`; both sides drawn from one relation,
    * `b` possibly `a`'s multiprobe explode) emits `id_a < id_b`. Cross
    * mode emits (`id_new` from `a`, `id_old` from `b`) — incoming never
    * meets incoming, corpus never re-meets corpus — with the smaller
    * side broadcast under [[hintSmallerSide]]: at 100 TB the corpus
    * bucket relation streams map-side past the micro-batch and never
    * enters an exchange, and at fixture scale the hint skips the two
    * shuffle-map stages AQE's runtime broadcast conversion still
    * pays. */
  private[graft] def bucketPairs(a: DataFrame, b: DataFrame, rule: PairRule,
                                 cross: Boolean): DataFrame = {
    val (ia, ib, sa, sb) =
      if (cross) ("id_new", "id_old", "sh_new", "sh_old")
      else ("id_a", "id_b", "sh_a", "sh_b")
    val withSig = rule.isInstanceOf[PairRule.Hamming]
    val keys = a.columns.toSeq.drop(if (withSig) 2 else 1)
    def named(df: DataFrame, id: String, sig: String) =
      df.toDF((id +: (if (withSig) Seq(sig) else Nil)) ++ keys: _*)
    val (l, r) = (named(a, ia, sa), named(b, ib, sb))
    val joined =
      if (cross) { val (hl, hr) = hintSmallerSide(l, r); hl.join(hr, keys) }
      else l.join(r, keys).filter(col(ia) < col(ib))
    rule match {
      case PairRule.AnyKey => joined.select(col(ia), col(ib)).distinct()
      case PairRule.Hamming(max, bigint) =>
        val h = hamming(col(sa), col(sb))
        joined.select(col(ia), col(ib),
            (if (bigint) h.cast("long") else h).as("hamming"))
          // filter BEFORE distinct: hamming is a function of the pair,
          // so the result is identical and the distinct's exchange
          // carries only surviving pairs
          .filter(col("hamming") <= max)
          .distinct()
      case PairRule.MinShared(n) =>
        joined.groupBy(col(ia), col(ib))
          .agg(count(lit(1)).as("n_shared"))
          .filter(col("n_shared") >= n)
    }
  }

  /** [[materializePairs]] of the self-mode [[bucketPairs]] over `rel`,
    * with `rel` persisted across the self-join so its pass over the
    * corpus runs ONCE (a lazy self-join executes its identical build
    * and probe subtrees independently), then released. This
    * persist-across-the-self-join is also the cluster shape; the local
    * collect at the end is what a table write replaces there. */
  private def materializedSelfPairs(rel: DataFrame, rule: PairRule,
                                    maxRows: Int): DataFrame = {
    val cached = rel.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // populate the cache BEFORE the self-join: its two subtrees execute
    // concurrently, and a cold cache would be missed by both
    cached.count()
    try materializePairs(bucketPairs(cached, cached, rule, cross = false), maxRows)
    finally cached.unpersist()
  }

  /** Closed-form polynomial string hash — the determinizable hash the
    * `_fixed` oracle twins run the candidate chains under:
    * `h = fold(chars, 7, (acc, c) -> (acc*131 + code(c)) mod 1e9+7)`.
    * Every operation is exact BIGINT arithmetic both engines implement
    * identically (the fold stays < 2^38, far from overflow), so the
    * whole hash→signature→banding→verify chain replays as static
    * DuckDB SQL — the ann_lsh promotion recipe applied to the text
    * tiers. Character codes are code points; the synthetic fixtures
    * are ASCII, where Spark's `ascii`/`split("")` and DuckDB's
    * `unicode`/`string_split('')` provably agree (supplementary-plane
    * input could split differently — the SEEDED xxhash64 operators
    * remain the production path for arbitrary bytes; these twins
    * certify the chain's shape, not the hash's universality).
    *
    * Native codegen'd ([[graft.expressions.PolyHash]] — a byte fold,
    * identical to the char-code fold on ASCII); [[polyHashHof]] is the
    * built-in-functions twin, bit-parity pinned in NearDupSpec. */
  def polyHash(s: Column): Column = {
    import org.apache.spark.sql.graftshim.Bridge
    Bridge.column(graft.expressions.PolyHash(Bridge.expression(s)))
  }

  /** Reference HOF formulation of [[polyHash]] — the arithmetic spec,
    * kept for parity testing (interpreted lambda chain; not the hot
    * path). */
  def polyHashHof(s: Column): Column =
    aggregate(
      transform(filter(split(s, ""), c => length(c) > 0),
        c => ascii(c).cast("long")),
      lit(7L),
      (acc, x) => (acc * lit(131L) + x) % lit(1000000007L))

  /** SimHash banded candidates under [[polyHash]] — the byte-exact
    * oracle twin of [[simHashCandidates]]: 24-bit signature (one vote
    * per token OCCURRENCE per bit; ties break to 0), 3 bands × 8 bits,
    * banded self-join, full-Hamming verify. With 3 bands, any pair
    * within `maxHamming` ≤ 2 flipped bits leaves at least one band
    * intact — candidate recall is EXHAUSTIVE at the twin's threshold,
    * so the output is a pure function of the corpus (no banding loss
    * for the oracle to disagree with). Returns distinct
    * (id_a, id_b, hamming), id_a < id_b. */
  def simHashPolyCandidates(docs: DataFrame, idCol: String, textCol: String,
                            maxHamming: Int = 2): DataFrame = {
    val banded = simHashPolyBanded(docs, idCol, textCol)
    bucketPairs(banded, banded, PairRule.Hamming(maxHamming, bigint = true),
      cross = false)
  }

  /** The per-doc banded 24-bit SimHash relation under [[polyHash]]
    * (`_id`, `_sig`, `_band`, `_key`): one vote per token occurrence
    * per bit (ties to 0), 3 bands × 8 bits. The closed-form twins join
    * it through [[bucketPairs]], self and cross. */
  private[graft] def simHashPolyBanded(docs: DataFrame, idCol: String,
                                       textCol: String): DataFrame = {
    val bits = 24
    val bands = 3
    val rows = bits / bands
    val base = docs.filter(size(TextAnalysis.tokens(col(textCol))) > 0)
    val th = base
      .select(col(idCol).as("_id"),
        explode(TextAnalysis.tokens(col(textCol))).as("_tok"))
      .select(col("_id"), polyHash(col("_tok")).as("_h"))
    val bitSums = (0 until bits).map(i =>
      sum(when(shiftright(col("_h"), i).bitwiseAND(lit(1L)) === lit(1L),
        lit(1)).otherwise(lit(-1))).as(s"_b$i"))
    val sig = th.groupBy(col("_id")).agg(bitSums.head, bitSums.tail: _*)
      .select(col("_id"),
        (0 until bits).map(i =>
          when(col(s"_b$i") > 0, lit(1L << i)).otherwise(lit(0L)))
          .reduce(_ + _).as("_sig"))
    sig.select(col("_id"), col("_sig"),
      explode(array((0 until bands).map(bnd =>
        struct(lit(bnd).as("band"),
          shiftright(col("_sig"), bnd * rows)
            .bitwiseAND(lit((1L << rows) - 1)).as("key"))): _*)).as("_bk"))
      .select(col("_id"), col("_sig"),
        col("_bk.band").as("_band"), col("_bk.key").as("_key"))
  }

  /** MinHash-LSH candidates under [[polyHash]] — the byte-exact oracle
    * twin of [[minHashCandidates]], completing the fixed-hash coverage
    * of all three B8 candidate families (MinHash/SimHash/winnowing):
    * distinct token-3-gram shingles, base polynomial hash, `numHashes`
    * affine rehashes `(a_i·h + b_i) mod 1e9+7` (the standard universal
    * family — exact BIGINT arithmetic both engines implement
    * identically, max product ~1.4e17 ≪ 2^63), per-doc minima as the
    * signature, banded self-join on the row-key tuples. Returns
    * distinct (id_a, id_b), id_a < id_b — a pure function of the
    * corpus, replayable as static SQL. */
  def minHashPolyCandidates(docs: DataFrame, idCol: String, textCol: String,
                            numHashes: Int = 8, bands: Int = 4): DataFrame = {
    val banded = minHashPolyBanded(docs, idCol, textCol, numHashes, bands)
    bucketPairs(banded, banded, PairRule.AnyKey, cross = false)
  }

  /** The per-doc banded MinHash signature relation under [[polyHash]]
    * (`_id`, `_band`, `_ks`). The closed-form twins join it through
    * [[bucketPairs]], self and cross. */
  private[graft] def minHashPolyBanded(docs: DataFrame, idCol: String,
                                       textCol: String, numHashes: Int = 8,
                                       bands: Int = 4): DataFrame = {
    val rows = numHashes / bands
    require(bands * rows == numHashes, "bands must divide numHashes")
    require(numHashes <= NearDup.polyA.length,
      s"at most ${NearDup.polyA.length} fixed rehash constants available")
    val base = docs.filter(size(TextAnalysis.tokens(col(textCol))) > 0)
    val gh = base.select(col(idCol).as("_id"),
        explode(array_distinct(shingles(col(textCol), 3))).as("_gram"))
      .select(col("_id"), polyHash(col("_gram")).as("_h"))
    val sigAggs = (0 until numHashes).map(i =>
      min((lit(NearDup.polyA(i)) * col("_h") + lit(NearDup.polyB(i)))
        % lit(1000000007L)).as(s"_s$i"))
    val sig = gh.groupBy(col("_id")).agg(sigAggs.head, sigAggs.tail: _*)
    sig.select(col("_id"),
      explode(array((0 until bands).map(b =>
        struct(lit(b).as("band"),
          array((0 until rows).map(r => col(s"_s${b * rows + r}")): _*)
            .as("ks"))): _*)).as("_bk"))
      .select(col("_id"), col("_bk.band").as("_band"), col("_bk.ks").as("_ks"))
  }

  /** Winnowing fingerprint candidates under [[polyHash]] — the
    * byte-exact oracle twin of [[winnowCandidates]]: token 3-gram
    * hashes, window-4 minima over FULL windows only (docs with fewer
    * than 4 grams contribute no fingerprints — the twin's documented
    * edge simplification; the production operator keeps its
    * short-window rule), distinct fingerprints per doc, bucket
    * self-join, `minShared` distinct shared fingerprints. The selected
    * fingerprint SET needs no tie rule: equal minima in one window
    * select the same VALUE whichever position wins. Returns
    * (id_a, id_b, n_shared), id_a < id_b. */
  def winnowPolyCandidates(docs: DataFrame, idCol: String, textCol: String,
                           minShared: Int = 2): DataFrame = {
    val fps = winnowPolyFps(docs, idCol, textCol)
    bucketPairs(fps, fps, PairRule.MinShared(minShared), cross = false)
  }

  /** The per-doc distinct winnowing-fingerprint relation under
    * [[polyHash]] (`_id`, `_fp`): window-4 minima over FULL windows
    * only. The closed-form twins join it through [[bucketPairs]], self
    * and cross. */
  private[graft] def winnowPolyFps(docs: DataFrame, idCol: String,
                                   textCol: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val base = docs.filter(size(TextAnalysis.tokens(col(textCol))) > 0)
    val gh = base
      .select(col(idCol).as("_id"),
        posexplode(shingles(col(textCol), 3)).as(Seq("_pos0", "_gram")))
      .select(col("_id"), (col("_pos0") + 1).as("_pos"),
        polyHash(col("_gram")).as("_h"))
    val w = Window.partitionBy(col("_id")).orderBy(col("_pos"))
      .rowsBetween(-3, 0)
    gh.withColumn("_fp", min(col("_h")).over(w))
      .filter(col("_pos") >= 4)
      .select(col("_id"), col("_fp")).distinct()
  }

  /** CROSS-SET MinHash-LSH candidates — incremental ingestion's near-dup
    * tier: incoming docs meet EXISTING corpus docs only inside a shared
    * (band, hash) bucket, exactly like the self-join path but across two
    * relations — no incoming×corpus cross join, no recomputation of
    * corpus-internal pairs (those were resolved when the corpus was
    * ingested). Returns distinct (id_new, id_old). At scale the corpus
    * bucket relation is a persisted table maintained by the ingestion
    * job; here both sides are built fresh and each is consumed once, so
    * no persist is needed (there is no shared-subtree double execution
    * in a two-relation join). */
  def minHashCrossCandidates(incoming: DataFrame, corpus: DataFrame,
                             idCol: String, textCol: String,
                             numHashes: Int = 32, bands: Int = 8): DataFrame =
    bucketPairs(minHashBuckets(incoming, idCol, textCol, numHashes, bands),
      minHashBuckets(corpus, idCol, textCol, numHashes, bands),
      PairRule.AnyKey, cross = true)

  /** CROSS-SET SimHash candidates — [[minHashCrossCandidates]]'s SimHash
    * twin for incremental ingestion: incoming docs meet EXISTING corpus
    * docs only inside a shared 16-bit band bucket, verified by full
    * Hamming distance ≤ `maxHamming` — no incoming×corpus cross join, no
    * regeneration of corpus-internal pairs. Returns distinct
    * (id_new, id_old, hamming); equals [[simHashCandidates]] over the
    * union restricted to cross pairs (property-tested in NearDupSpec). */
  def simHashCrossCandidates(incoming: DataFrame, corpus: DataFrame,
                             idCol: String, textCol: String,
                             maxHamming: Int = 8): DataFrame =
    bucketPairs(simHashBuckets(incoming, idCol, textCol),
      simHashBuckets(corpus, idCol, textCol),
      PairRule.Hamming(maxHamming, bigint = false), cross = true)

  /** CROSS-SET winnowing candidates — [[minHashCrossCandidates]]'s
    * fingerprint twin: incoming docs meet EXISTING corpus docs only
    * inside a shared winnowing-fingerprint bucket; `minShared` distinct
    * shared fingerprints filter single-hash accidents exactly like
    * [[winnowCandidates]]. Returns (id_new, id_old, n_shared); equals
    * the full-corpus [[winnowCandidates]] restricted to cross pairs
    * (property-tested in NearDupSpec). */
  def winnowCrossCandidates(incoming: DataFrame, corpus: DataFrame,
                            idCol: String, textCol: String,
                            window: Int = 4, minShared: Int = 2): DataFrame =
    bucketPairs(winnowBuckets(incoming, idCol, textCol, window),
      winnowBuckets(corpus, idCol, textCol, window),
      PairRule.MinShared(minShared), cross = true)

  /** Eager variant of [[minHashCandidates]] returning a
    * [[materializePairs]]-style local frame ([[materializedSelfPairs]]:
    * the bucket relation is persisted across the self-join, so the
    * signature pass over the corpus runs once).
    *
    * Cap interaction with banding: the recall-first b=8/r=4 default
    * (see [[minHashCandidates]]) widens the candidate set vs the old
    * b=4/r=8 split (S-curve midpoint 0.84 → 0.59), so a corpus that
    * previously fit under `maxRows` can now exceed it and hit the
    * materialization guard. That guard failing is the signal to stop
    * materializing — switch to the lazy [[minHashCandidates]] +
    * persist (or a table write), not to narrow the bands. */
  def minHashCandidatesMaterialized(docs: DataFrame, idCol: String,
                                    textCol: String, numHashes: Int = 32,
                                    bands: Int = 8,
                                    maxRows: Int = 1 << 20): DataFrame =
    materializedSelfPairs(
      minHashBuckets(docs, idCol, textCol, numHashes, bands),
      PairRule.AnyKey, maxRows)

  /** Winnowing document fingerprint (rolling-hash local-minima sampling):
    * hash every token 3-gram (same long-mixing scheme as
    * [[minHashSignature]]), then keep the minimum of each sliding window
    * of `window` consecutive shingle hashes, deduplicated and sorted.
    * Two documents sharing a sufficiently long run of text share
    * fingerprint hashes — the standard winnowing guarantee — so partial
    * overlaps surface via [[winnowCandidates]]'s fingerprint-explode +
    * self-join, bucket-shaped like the other candidate generators.
    * Native codegen'd expression ([[graft.expressions.WinnowFp]]),
    * bit-identical to [[winnowFingerprintHof]] (asserted in NearDupSpec). */
  def winnowFingerprint(text: Column, window: Int = 4): Column = {
    import org.apache.spark.sql.graftshim.Bridge
    Bridge.column(graft.expressions.WinnowFp(
      Bridge.expression(TextAnalysis.tokens(text)), window))
  }

  /** Reference higher-order-function formulation of [[winnowFingerprint]]
    * — the arithmetic spec, kept for parity testing. */
  def winnowFingerprintHof(text: Column, window: Int = 4): Column = {
    val toks = TextAnalysis.tokens(text)
    val th = transform(toks, t => xxhash64(t))
    val n = size(th)
    val thp = concat(th, array(lit(0L), lit(0L)))
    // exact-length shifted views (same guard as minHashSignatureHof:
    // zip_with null-pads shorter arrays, which would inject a
    // data-independent phantom shingle shared by all 0/1-token docs)
    val t2 = slice(thp, lit(2), greatest(n, lit(1)))
    val t3 = slice(thp, lit(3), greatest(n, lit(1)))
    val pairs = zip_with(th, t2, (a, b) => struct(a.as("a"), b.as("b")))
    val sh = zip_with(pairs, t3, (p, c) =>
      xxhash64(p.getField("a"), p.getField("b"), c))
    val nWin = greatest(size(sh) - (window - 1), lit(1))
    when(n === 0, array().cast("array<bigint>"))
      .otherwise(array_sort(array_distinct(
        transform(sequence(lit(1), nWin), i => array_min(slice(sh, i, lit(window)))))))
  }

  /** Winnowing-fingerprint near-dup candidates — the fingerprint-explode
    * + self-join path [[winnowFingerprint]]'s scaladoc promises:
    * documents meet ONLY inside a shared fingerprint bucket (the
    * fingerprint hash is the join key), never all-pairs, same shape as
    * the minhash/simhash candidate generators. Returns (id_a, id_b,
    * n_shared) with id_a < id_b and n_shared = number of DISTINCT shared
    * fingerprints (fingerprint sets are distinct per doc by
    * construction); the winnowing guarantee makes any pair sharing a
    * long-enough run of text collide on at least one fingerprint, so
    * `minShared` is the noise floor against single-hash accidents. */
  def winnowCandidates(docs: DataFrame, idCol: String, textCol: String,
                       window: Int = 4, minShared: Int = 2): DataFrame = {
    val fps = winnowBuckets(docs, idCol, textCol, window)
    bucketPairs(fps, fps, PairRule.MinShared(minShared), cross = false)
  }

  /** The exploded (doc, fingerprint) relation the self-join runs over. */
  def winnowBuckets(docs: DataFrame, idCol: String, textCol: String,
                    window: Int = 4): DataFrame =
    docs.select(col(idCol).as("_id"),
      explode(winnowFingerprint(col(textCol), window)).as("_fp"))

  /** Eager variant of [[winnowCandidates]]: the fingerprint pass runs
    * once ([[materializedSelfPairs]]). */
  def winnowCandidatesMaterialized(docs: DataFrame, idCol: String,
                                   textCol: String, window: Int = 4,
                                   minShared: Int = 2,
                                   maxRows: Int = 1 << 20): DataFrame =
    materializedSelfPairs(winnowBuckets(docs, idCol, textCol, window),
      PairRule.MinShared(minShared), maxRows)

  /** 64-bit SimHash of the token bag — native codegen'd expression
    * ([[graft.expressions.SimHash64]]); one static call per row, no
    * shuffle. Bit-identical to [[simHashHof]]. */
  def simHash(text: Column): Column = {
    import org.apache.spark.sql.graftshim.Bridge
    Bridge.column(graft.expressions.SimHash64(
      Bridge.expression(TextAnalysis.tokens(text))))
  }

  /** Reference higher-order-function formulation of [[simHash]] — the
    * arithmetic spec, kept for parity testing. */
  def simHashHof(text: Column): Column = {
    // the public shiftright/shiftleft helpers take Int shift amounts only;
    // inside a lambda the shift amount is a Column, so call the SQL
    // functions directly
    def shr(v: Column, bits: Column) = call_function("shiftright", v, bits)
    def shl(v: Column, bits: Column) = call_function("shiftleft", v, bits)
    val counters = aggregate(
      TextAnalysis.tokens(text),
      array_repeat(lit(0L), 64),
      (acc, tok) => {
        val h = xxhash64(tok)
        zip_with(acc, sequence(lit(0), lit(63)),
          (c, bit) => c + when(shr(h, bit).bitwiseAND(1) === 1, 1L)
            .otherwise(-1L))
      })
    aggregate(
      zip_with(counters, sequence(lit(0), lit(63)),
        (c, bit) => when(c > 0, shl(lit(1L), bit)).otherwise(0L)),
      lit(0L), (acc, x) => acc.bitwiseOR(x))
  }

  /** Hamming distance between two simhashes (bit_count of xor). */
  def hamming(a: Column, b: Column): Column = bit_count(a.bitwiseXOR(b))

  /** SimHash near-dup candidates: band the 64 bits into 4×16-bit keys;
    * docs sharing any 16-bit band are candidates, verified by full
    * Hamming distance ≤ maxHamming. */
  def simHashCandidates(docs: DataFrame, idCol: String, textCol: String,
                        maxHamming: Int = 8): DataFrame = {
    val banded = simHashBuckets(docs, idCol, textCol)
    bucketPairs(banded, banded, PairRule.Hamming(maxHamming, bigint = false),
      cross = false)
  }

  /** The (doc, simhash, band, bucket) relation the banded self-join runs
    * over. */
  def simHashBuckets(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    bandSignature64(docs.select(col(idCol).as("_id"),
      simHash(col(textCol)).as("_sh")))

  /** Band ANY 64-bit signature relation (`_id`, `_sh`) into 4×16-bit
    * bucket keys — the shared banding under SimHash text near-dup and
    * perceptual-dHash image near-dup. */
  private def bandSignature64(sigs: DataFrame): DataFrame =
    sigs.select(col("_id"), col("_sh"),
      explode(array((0 until 4).map { b =>
        struct(lit(b).as("band_id"),
          shiftright(col("_sh"), b * 16).bitwiseAND(0xFFFFL).as("band_key"))
      }: _*)).as("_bk"))
      .select(col("_id"), col("_sh"), col("_bk.band_id"), col("_bk.band_key"))

  /** Banded Hamming near-dup over any PRECOMPUTED 64-bit signature
    * column — SimHash of text, perceptual dHash of decoded images, any
    * other 64-bit sketch: 4×16-bit band bucket join (never an all-pairs
    * cross), full-Hamming verify ≤ `maxHamming`. Recall is TOTAL for
    * `maxHamming ≤ 3` by pigeonhole (3 flipped bits cannot touch all 4
    * bands), probabilistic beyond. Output (id_a, id_b, hamming),
    * id_a < id_b.
    *
    * Degenerate-signature safety: a corpus where many rows share ONE
    * signature value (solid-color dHash 0, blank pages, undecodable
    * rows defaulted to a constant) used to concentrate the banded
    * self-join on a single bucket — n rows × 4 bands → 4n² joined rows
    * THEN a distinct over them (the measured 66M-pair hot bucket). The
    * stats-adaptive exact-signature collapse below removes that
    * hazard: when duplication is detected (one cheap count/
    * count-distinct agg — the [[prefixJaccardJoin]] discipline), the
    * banded join runs over DISTINCT signature values only, and
    * equal-signature pairs are emitted by a direct equi-join on the
    * 8-byte signature — output-bounded (the within-group all-pairs ARE
    * part of the result; the irreducible quadratic is the answer
    * itself, never an intermediate). Decisions are identical by
    * construction: Hamming(s, s) = 0 ≤ maxHamming always, and
    * cross-signature pairs inherit their signatures' Hamming verbatim. */
  def signatureCandidates(df: DataFrame, idCol: String, sigCol: String,
                          maxHamming: Int = 3,
                          dupHint: Option[Boolean] = None): DataFrame = {
    val sigs = df.select(col(idCol).as("_id"), col(sigCol).as("_sh"))
    val effectivelyDistinct = dupHint.getOrElse {
      val stats = sigs.agg(count(lit(1)).as("n"),
        countDistinct(col("_sh")).as("nd")).head()
      stats.getLong(1) >= math.ceil(stats.getLong(0) * 0.9).toLong
    }
    val rule = PairRule.Hamming(maxHamming, bigint = false)
    if (effectivelyDistinct) {
      val banded = bandSignature64(sigs)
      return bucketPairs(banded, banded, rule, cross = false)
    }
    // banded join over distinct signature VALUES (id := the signature
    // itself — the join only needs a label, and sig-as-id makes the
    // output directly (sh_a, sh_b, hamming))
    val sigBanded = bandSignature64(
      sigs.select(col("_sh").as("_id"), col("_sh")).distinct())
    val sigPairs = bucketPairs(sigBanded, sigBanded, rule, cross = false)
    // equal-signature members: every pair qualifies at Hamming 0
    val memA = sigs.select(col("_sh"), col("_id").as("_ma"))
    val memB = sigs.select(col("_sh"), col("_id").as("_mb"))
    val within = memA.join(memB, "_sh")
      .filter(col("_ma") < col("_mb"))
      .select(col("_ma").as("id_a"), col("_mb").as("id_b"),
        lit(0).as("hamming"))
    // cross-signature pairs expand through group membership; least/
    // greatest restores the id_a < id_b canonical order
    val cross = sigPairs
      .join(sigs.select(col("_sh").as("id_a"), col("_id").as("_xa")), "id_a")
      .join(sigs.select(col("_sh").as("id_b"), col("_id").as("_xb")), "id_b")
      .select(least(col("_xa"), col("_xb")).as("id_a"),
        greatest(col("_xa"), col("_xb")).as("id_b"), col("hamming"))
    within.unionAll(cross)
  }

  /** CROSS-SET [[signatureCandidates]] — the ingestion form: incoming
    * signatures meet EXISTING corpus signatures only inside a shared
    * 16-bit band bucket, full-Hamming verified; incoming rows never
    * meet each other and corpus-internal pairs never regenerate (the
    * same cross-set contract as [[minHashCrossCandidates]]). NULL
    * signatures fall out of the band join naturally (a null key joins
    * nothing). Returns distinct (id_new, id_old, hamming). */
  def signatureCrossCandidates(incoming: DataFrame, corpus: DataFrame,
                               idCol: String, sigCol: String,
                               maxHamming: Int = 3,
                               dupHint: Option[Boolean] = None): DataFrame = {
    val inc = incoming.select(col(idCol).as("_id"), col(sigCol).as("_sh"))
    val cor = corpus.select(col(idCol).as("_id"), col(sigCol).as("_sh"))
    val effectivelyDistinct = dupHint.getOrElse {
      // one agg over the union decides for both sides — duplication on
      // EITHER side concentrates the band buckets
      val stats = inc.union(cor).agg(count(lit(1)).as("n"),
        countDistinct(col("_sh")).as("nd")).head()
      stats.getLong(1) >= math.ceil(stats.getLong(0) * 0.9).toLong
    }
    val rule = PairRule.Hamming(maxHamming, bigint = false)
    if (effectivelyDistinct)
      return bucketPairs(bandSignature64(inc), bandSignature64(cor), rule,
        cross = true)
    // same exact-signature collapse as [[signatureCandidates]], cross-set
    // form: the banded join runs once over the distinct signature values
    // of each side; equal signatures across sides meet by 8-byte equi-
    // join; expansion joins are output-bounded
    val aSig = inc.select(col("_sh")).distinct()
      .select(col("_sh").as("_id"), col("_sh"))
    val bSig = cor.select(col("_sh")).distinct()
      .select(col("_sh").as("_id"), col("_sh"))
    val sigPairs = bucketPairs(bandSignature64(aSig), bandSignature64(bSig),
      rule, cross = true).toDF("sh_new", "sh_old", "hamming")
    sigPairs
      .join(inc.select(col("_sh").as("sh_new"), col("_id").as("id_new")),
        "sh_new")
      .join(cor.select(col("_sh").as("sh_old"), col("_id").as("id_old")),
        "sh_old")
      .select(col("id_new"), col("id_old"), col("hamming"))
  }

  /** Eager variant of [[simHashCandidates]]: the SimHash pass runs once
    * ([[materializedSelfPairs]]). */
  def simHashCandidatesMaterialized(docs: DataFrame, idCol: String,
                                    textCol: String, maxHamming: Int = 8,
                                    maxRows: Int = 1 << 20): DataFrame =
    materializedSelfPairs(simHashBuckets(docs, idCol, textCol),
      PairRule.Hamming(maxHamming, bigint = false), maxRows)

  /** Materialize a small candidate-pair set into a [[LocalRelation]]-backed
    * DataFrame. [[jaccardVerify]] references `pairs` three times (two id
    * projections for the semi-join spine plus the pair join itself); if
    * `pairs` is an unpersisted LSH lineage, Spark re-executes the whole
    * signature + band-join pipeline once per reference. Post-LSH candidate
    * sets are tiny by construction (bounded by collision probability, not
    * corpus size — ~234 pairs on the sf0.1 fixture), so collecting them to
    * the driver truncates the lineage at zero cache-management cost and
    * lets Catalyst broadcast the pair spine into the verify joins. For
    * candidate sets that might exceed `maxRows`, `.persist()` the pairs
    * frame instead and unpersist after the verify output materializes. */
  def materializePairs(pairs: DataFrame, maxRows: Int = 1 << 20): DataFrame =
    materializePairsOpt(pairs, maxRows).getOrElse(sys.error(
      s"candidate set exceeds $maxRows rows; persist() it instead of materializing"))

  /** Non-throwing [[materializePairs]]: `None` when the candidate set
    * exceeds `maxRows` — the caller's signal to degrade to the fully
    * distributed shape (persisted lazy candidates + distributed
    * anti-join) instead of dying mid-ingestion (r15 verdict: a graceful
    * fallback keeps the job alive where cap-or-die kills it). The
    * overflow probe costs the same limit(maxRows+1) collect either way;
    * on overflow those driver rows are discarded and the lazy lineage
    * is what the caller re-executes distributed. */
  def materializePairsOpt(pairs: DataFrame,
                          maxRows: Int = 1 << 20): Option[DataFrame] = {
    val spark = pairs.sparkSession
    // candidate spines over small scans collect with AQE off —
    // the bucket-join chain's per-exchange materialization jobs are
    // pure scheduler floor at fixture scale (PlanGate's leaf gate keeps
    // at-scale runs adaptive) — and the capped collect runs as ONE job
    // (cappedCollect) instead of CollectLimit's incremental 1-3
    val rows = graft.PlanGate.withAqeOffIfSmall(pairs)(
      graft.PlanGate.cappedCollect(_, maxRows + 1))
    if (rows.length > maxRows) None
    else Some(
      spark.createDataFrame(java.util.Arrays.asList(rows: _*), pairs.schema))
  }

  /** Candidate-touched id set read DRIVER-SIDE off an already-local
    * candidate spine. The verify kernels prune their vector/text sides
    * to candidate-touched ids; when `pairs` is a LocalRelation (the
    * [[materializePairs]] contract — every batch verify chain), deriving
    * that id set with a distributed union+distinct+BroadcastExchange is
    * 2-3 pure-overhead jobs per kernel re-deriving data the driver
    * already holds. Returns the distinct non-null ids of `cols` when the
    * spine is local, long-typed, and small enough for an IN predicate
    * (the set is candidate-bounded by construction); None falls back to
    * the distributed semi-join spine. The IN form is also the 100 TB
    * shape: the id set reaches the scan as a pushable filter instead of
    * a runtime broadcast. */
  private[graft] def localIdSet(pairs: DataFrame, cols: Seq[String],
                                maxIds: Int = 100000): Option[Array[Long]] =
    pairs.queryExecution.optimizedPlan match {
      case lr: org.apache.spark.sql.catalyst.plans.logical.LocalRelation
          if lr.data.lengthCompare(maxIds) <= 0 =>
        val idxs = cols.map(c => lr.output.indexWhere(_.name == c))
        val allLong = idxs.forall(i => i >= 0 &&
          lr.output(i).dataType == org.apache.spark.sql.types.LongType)
        if (!allLong) None
        else Some(lr.data.iterator.flatMap(r => idxs.iterator
            .filter(i => !r.isNullAt(i)).map(r.getLong))
          .toArray.distinct.sorted)
      case _ => None
    }

  /** `col IN (ids)` as a Column, with the empty-set edge pinned to
    * false (Catalyst's `isin()` on zero values is not valid SQL). */
  private def inIds(c: Column, ids: Array[Long]): Column =
    if (ids.isEmpty) lit(false) else c.isin(ids.map(Long.box).toIndexedSeq: _*)

  /** EXACT set-similarity self-join via prefix filtering — the
    * AllPairs/PPJoin candidate bound (Bayardo et al. 2007; Xiao et al.
    * 2008), the standard way to get EXACT Jaccard ≥ τ pairs without an
    * all-pairs comparison: under any one global token order, two
    * shingle sets with J ≥ τ must share a token inside each other's
    * (n − ⌈τ·n⌉ + 1)-prefix, so candidate pairs are generated by an
    * inverted-index equi-join on PREFIX tokens only, then verified with
    * the exact Jaccard. Returns (id_a, id_b, jaccard) with
    * round(j,4) ≥ `minJaccard` — identical rows to the quadratic
    * all-pairs verify, which is what the DuckDB oracle replays.
    *
    * Scale shape: the global order is ascending document frequency
    * (rarest first, the order that makes prefixes selective), computed
    * by one linear (token → df) aggregation; each doc keeps only its
    * prefix tokens (a per-doc window over its own shingles), and the
    * candidate join shuffles (token, id, size) rows — bucket fan-out is
    * bounded by the df of PREFIX tokens, which the rarest-first order
    * keeps small. The length band (min ≥ τ·max) prunes before the
    * distinct. Everything downstream touches candidate pairs only.
    *
    * The prefix/band math runs at τ − 0.001: verification compares the
    * 4-decimal ROUNDED Jaccard against τ (the engine-wide display
    * contract), so a true J fractionally below τ can round up to pass —
    * the margin keeps such pairs inside the candidate set instead of
    * silently losing them to an exact-τ prefix bound.
    *
    * `dupHint` pre-answers the statistics probe for callers that know
    * their corpus: `Some(true)` = "effectively distinct, skip the
    * collapse", `Some(false)` = "duplication-heavy, collapse without
    * measuring". `None` (default) measures — right for one-shot calls;
    * a caller invoking this in a loop over slices of the same corpus
    * passes the hint once and saves the per-invocation probe job. */
  def prefixJaccardJoin(docs: DataFrame, idCol: String, textCol: String,
                        minJaccard: Double,
                        shingleSize: Int = 3,
                        saltFactor: Int = 1,
                        dupHint: Option[Boolean] = None): DataFrame = {
    // EXACT-DUP COLLAPSE first (the standard dedup-pipeline staging):
    // Jaccard is a function of the TEXT alone, so byte-identical rows
    // ride through the similarity join as one min-id representative and
    // expand back afterwards — a 20×-duplicated corpus then pays the
    // prefix/verify machinery for its ~n/20 distinct texts, not for
    // every member pair (measured on the 100 k-doc 20×-amplified scale
    // probe: 248 s → the expansion joins below, which are output-bounded
    // — the within-group all-pairs ARE part of the result, so the
    // output size itself is the irreducible quadratic).
    val base = docs.select(col(idCol).as("_mid"), col(textCol).as("_txt"))
      .filter(size(TextAnalysis.tokens(col(textCol))) > 0)
    // STATISTICS-ADAPTIVE: the collapse is a pure optimization (the
    // distinct core is correct on duplicated texts too — the prefix
    // bound holds for identical sets), so pay its extra stages only
    // when duplication is actually present. One cheap (count,
    // count-distinct-key) agg decides — the AQE philosophy applied at
    // the operator level: plan by measured stats, not hope — unless
    // the caller pre-answered it via `dupHint`.
    val effectivelyDistinct = dupHint.getOrElse {
      val stats = base.agg(count(lit(1)).as("n"),
        countDistinct(md5(col("_txt"))).as("nd")).head()
      stats.getLong(1) >= math.ceil(stats.getLong(0) * 0.9).toLong
    }
    if (effectivelyDistinct)
      return prefixJaccardJoinDistinct(docs, idCol, textCol,
        minJaccard, shingleSize, saltFactor)
    // group key = md5(text), not the text itself: the grouping shuffle
    // carries 32-byte keys, and the min-struct agg is partial-
    // aggregatable, so each map task ships ONE (id, text) struct per
    // distinct text — document bodies cross the wire once per
    // task×distinct-text, never once per duplicate
    val keyed = base.withColumn("_k", md5(col("_txt")))
    val groups = keyed.groupBy(col("_k"))
      .agg(min(struct(col("_mid"), col("_txt"))).as("_m"))
      .select(col("_k"), col("_m._mid").as("_rep"), col("_m._txt").as("_txt"))
    // (rep, member) — group membership as a relation, never an array
    // (a 10^5-way dup family stays row-shaped, no giant collect_list)
    val mem = keyed.select(col("_k"), col("_mid"))
      .join(groups.select(col("_k"), col("_rep")), "_k")
      .select(col("_rep"), col("_mid"))
    val reps = groups.select(col("_rep").as(idCol), col("_txt").as(textCol))
    val repPairs = prefixJaccardJoinDistinct(
      reps, idCol, textCol, minJaccard, shingleSize, saltFactor)
    // identical texts: J = 1.0 exactly, every within-group pair qualifies
    val memA = mem.select(col("_rep"), col("_mid").as("_ma"))
    val memB = mem.select(col("_rep"), col("_mid").as("_mb"))
    val within = memA.join(memB, "_rep")
      .filter(col("_ma") < col("_mb"))
      .select(col("_ma").as("id_a"), col("_mb").as("id_b"),
        lit(1.0).as("jaccard"))
    // cross-group pairs inherit their representatives' jaccard verbatim
    val cross = repPairs
      .join(mem.select(col("_rep").as("id_a"), col("_mid").as("_xa")), "id_a")
      .join(mem.select(col("_rep").as("id_b"), col("_mid").as("_xb")), "id_b")
      .select(least(col("_xa"), col("_xb")).as("id_a"),
        greatest(col("_xa"), col("_xb")).as("id_b"), col("jaccard"))
    within.unionAll(cross)
  }

  /** The prefix-filter core of [[prefixJaccardJoin]], assuming all-
    * distinct texts (the collapse above guarantees it).
    *
    * `saltFactor > 1` skew-hardens the inverted-index candidate join:
    * the rarest-first prefix order bounds fan-out on NATURAL corpora,
    * but an adversarial corpus where every document shares one rare
    * prefix token still concentrates that token's candidate generation
    * on a single shuffle key. Salting spreads the A-side of the
    * self-join over `saltFactor` sub-keys by id hash while the B-side
    * replicates `saltFactor`× ([[Skew.saltedJoin]] — the same guard
    * discipline as the clustering join's knob); each (a, b) token match
    * lands in exactly ONE salt bucket (a's), so the candidate set — and
    * therefore the verified result — is identical by construction
    * (property-pinned in PropertySpec on a shared-prefix corpus). */
  private def prefixJaccardJoinDistinct(docs: DataFrame, idCol: String,
                                        textCol: String, minJaccard: Double,
                                        shingleSize: Int,
                                        saltFactor: Int = 1): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val tau = minJaccard - 0.001
    val sh = docs.select(col(idCol).as("_jid"),
        array_distinct(shingles(col(textCol), shingleSize)).as("_sh"))
      // same empty-doc rule as jaccardVerify: Jaccard undefined on ∅
      .filter(size(TextAnalysis.tokens(col(textCol))) > 0)
      .withColumn("_n", size(col("_sh")))
    val df_ = sh.select(explode(col("_sh")).as("_tok"))
      .groupBy(col("_tok")).agg(count(lit(1)).as("_df"))
    // Two result-identical refinements on the df machinery (r14):
    //   1. the ORDERING join only needs the df ≥ 2 SLIVER — in a natural
    //      corpus the overwhelming majority of 3-gram shingles are
    //      unique (df = 1), so instances that miss the sliver coalesce
    //      to df = 1 and the (df, tok) order is unchanged. The sliver is
    //      dup-density-bounded; its size is only known at runtime, so
    //      the join is left UNHINTED and AQE's size check converts it to
    //      a broadcast when it fits (replacing a sort-merge join of the
    //      full corpus-instance stream against a vocabulary-sized
    //      relation) and keeps the shuffle when a dup-saturated corpus
    //      blows the sliver up — adaptive, no driver gate job;
    //   2. a df = 1 token has exactly ONE instance corpus-wide, so it
    //      can never match in the candidate self-join (id_a < id_b
    //      excludes self) — both join sides filter to _df ≥ 2 and the
    //      exchange carries only instances that can produce a pair.
    val df2 = df_.filter(col("_df") >= 2L)
    val withDf =
      sh.select(col("_jid"), col("_n"), explode(col("_sh")).as("_tok"))
        .join(df2, Seq("_tok"), "left_outer")
        .withColumn("_df", coalesce(col("_df"), lit(1L)))
    // per-doc prefix under the global (df, token) order: rarest first
    val w = Window.partitionBy(col("_jid")).orderBy(col("_df"), col("_tok"))
    val prefix = withDf
      .withColumn("_pos", row_number().over(w))
      .filter(col("_pos") <= col("_n") - ceil(lit(tau) * col("_n")) + 1)
      .select(col("_tok"), col("_jid"), col("_n"), col("_df"))
    val aSide = prefix.filter(col("_df") >= 2L)
      .select(col("_tok"), col("_jid").as("id_a"), col("_n").as("_na"))
    val bSide = prefix.filter(col("_df") >= 2L)
      .select(col("_tok"), col("_jid").as("id_b"), col("_n").as("_nb"))
    val matched =
      if (saltFactor > 1)
        Skew.saltedJoin(aSide, "_tok", Seq("id_a"), bSide, "_tok", saltFactor)
          .select(col("id_a"), col("_na"), col("id_b"), col("_nb"))
      else aSide.join(bSide, "_tok")
    val cands = matched
      .filter(col("id_a") < col("id_b"))
      .filter(least(col("_na"), col("_nb")).cast("double") >=
        lit(tau) * greatest(col("_na"), col("_nb")))
      .select(col("id_a"), col("id_b")).distinct()
    jaccardVerify(docs, idCol, textCol, cands, shingleSize)
      .filter(col("jaccard") >= minJaccard)
  }

  /** CROSS-SET [[prefixJaccardJoin]] — the EXACT candidate tier for
    * incremental admission: every (incoming, corpus) pair with
    * J ≥ `minJaccard` is found, guaranteed (the prefix bound is
    * deterministic — no LSH banding loss), at inverted-index cost.
    * Both sides' prefixes are taken under ONE global token order
    * (document frequency over corpus ∪ incoming — any single order
    * makes the bound sound; rarest-first makes it selective), and only
    * cross pairs are generated: incoming never meets incoming, corpus
    * never re-meets corpus — the same cross-set contract as
    * [[minHashCrossCandidates]], so micro-batch splits accumulate to
    * the one-shot result. Returns (id_new, id_old, jaccard), verified
    * by [[jaccardVerifyCross]] (side-safe on id collisions).
    *
    * At scale the corpus-side (token → df) relation and prefix table
    * are maintained artifacts updated per admission batch (the memo
    * discipline); here both are computed in-plan. */
  def prefixJaccardJoinCross(incoming: DataFrame, corpus: DataFrame,
                             idCol: String, textCol: String,
                             minJaccard: Double,
                             shingleSize: Int = 3): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val tau = minJaccard - 0.001
    def side(df: DataFrame) = df.select(col(idCol).as("_jid"),
        array_distinct(shingles(col(textCol), shingleSize)).as("_sh"))
      .filter(size(TextAnalysis.tokens(col(textCol))) > 0)
      .withColumn("_n", size(col("_sh")))
    val shNew = side(incoming)
    val shOld = side(corpus)
    val df_ = shNew.select(explode(col("_sh")).as("_tok"))
      .unionAll(shOld.select(explode(col("_sh")).as("_tok")))
      .groupBy(col("_tok")).agg(count(lit(1)).as("_df"))
    // same df ≥ 2 sliver refinement as [[prefixJaccardJoinDistinct]]:
    // the ordering join reads only the dup-density-bounded sliver
    // (unhinted — AQE broadcast-converts it when it fits; df = 1
    // instances coalesce, order unchanged), and since a df = 1 token
    // has one instance across BOTH sides it can never produce a cross
    // match, so both candidate-join sides filter to _df ≥ 2
    val df2 = df_.filter(col("_df") >= 2L)
    def prefix(sh: DataFrame) = {
      val w = Window.partitionBy(col("_jid")).orderBy(col("_df"), col("_tok"))
      sh.select(col("_jid"), col("_n"), explode(col("_sh")).as("_tok"))
        .join(df2, Seq("_tok"), "left_outer")
        .withColumn("_df", coalesce(col("_df"), lit(1L)))
        .withColumn("_pos", row_number().over(w))
        .filter(col("_pos") <= col("_n") - ceil(lit(tau) * col("_n")) + 1)
        .filter(col("_df") >= 2L)
        .select(col("_tok"), col("_jid"), col("_n"))
    }
    val cands = prefix(shNew)
      .select(col("_tok"), col("_jid").as("id_new"), col("_n").as("_na"))
      .join(prefix(shOld)
        .select(col("_tok"), col("_jid").as("id_old"), col("_n").as("_nb")),
        "_tok")
      .filter(least(col("_na"), col("_nb")).cast("double") >=
        lit(tau) * greatest(col("_na"), col("_nb")))
      .select(col("id_new"), col("id_old")).distinct()
    jaccardVerifyCross(incoming, corpus, idCol, textCol, cands, shingleSize)
      .filter(col("jaccard") >= minJaccard)
  }

  /** Native merge-walk Jaccard over sorted deduped shingle arrays —
    * codegen'd [[graft.expressions.JaccardSorted]], bit-parity with
    * [[jaccardHof]] pinned in NearDupSpec. */
  def jaccardSorted(a: Column, b: Column): Column = {
    import org.apache.spark.sql.graftshim.Bridge
    Bridge.column(graft.expressions.JaccardSorted(
      Bridge.expression(a), Bridge.expression(b)))
  }

  /** Reference built-in formulation of [[jaccardSorted]] — two hash-set
    * builds per row-pair; kept as the parity twin. */
  def jaccardHof(a: Column, b: Column): Column =
    size(array_intersect(a, b)).cast("double") / size(array_union(a, b))

  /** Exact n-gram Jaccard similarity for given candidate pairs — the
    * verification stage after LSH (B8→B9), and independently
    * SQL-expressible for the oracle gate. `pairs` has (id_a, id_b).
    * Jaccard is computed on DISTINCT shingles. */
  def jaccardVerify(docs: DataFrame, idCol: String, textCol: String,
                    pairs: DataFrame, shingleSize: Int = 3): DataFrame = {
    // only shingle the docs that actually appear in a candidate pair —
    // post-LSH that is a tiny fraction of the corpus. Shingle sets are
    // SORTED once per doc so the per-pair verify is the allocation-free
    // merge walk (JaccardSorted) instead of two hash-set builds — the
    // r14 profile put the whole exact_jaccard_join residual in this
    // verify stage
    val proj = docs.select(col(idCol).as("_jid"),
      array_sort(array_distinct(shingles(col(textCol), shingleSize)))
        .as("_sh"))
      // empty docs have no shingle set — Jaccard is undefined (0/0);
      // drop them rather than diverge between engines on the edge
      .filter(size(TextAnalysis.tokens(col(textCol))) > 0)
    val sh = localIdSet(pairs, Seq("id_a", "id_b")) match {
      case Some(idsL) => proj.where(inIds(col("_jid"), idsL))
      case None =>
        val ids = pairs.select(col("id_a").as("_jid"))
          .union(pairs.select(col("id_b").as("_jid"))).distinct()
        proj.join(ids, Seq("_jid"), "left_semi")
    }
    // spine-broadcast hint: same rationale as jaccardVerifyCross
    hintIfSmall(pairs)
      .join(sh.select(col("_jid").as("id_a"), col("_sh").as("sh_a")), "id_a")
      .join(sh.select(col("_jid").as("id_b"), col("_sh").as("sh_b")), "id_b")
      .select(col("id_a"), col("id_b"),
        round(jaccardSorted(col("sh_a"), col("sh_b")), 4).as("jaccard"))
  }

  /** CROSS-SET exact-Jaccard verification — [[jaccardVerify]] for
    * (id_new, id_old) candidate pairs whose two ids live in DIFFERENT
    * relations (incoming vs corpus). Each side is shingled separately
    * and pruned to its own candidate-touched ids, so an incoming id that
    * happens to collide with a corpus id can never mix texts across the
    * sides (the hazard of unioning both sides into one relation before
    * verifying). Returns (id_new, id_old, jaccard). */
  def jaccardVerifyCross(incoming: DataFrame, corpus: DataFrame,
                         idCol: String, textCol: String,
                         pairs: DataFrame, shingleSize: Int = 3): DataFrame = {
    def side(df: DataFrame, asId: String, asSh: String) = {
      val proj = df.select(col(idCol).as(asId),
        array_sort(array_distinct(shingles(col(textCol), shingleSize)))
          .as(asSh))
        // empty docs have no shingle set — Jaccard is undefined (0/0);
        // drop them rather than diverge between engines on the edge
        .filter(size(TextAnalysis.tokens(col(textCol))) > 0)
      localIdSet(pairs, Seq(asId)) match {
        case Some(ids) => proj.where(inIds(col(asId), ids))
        case None =>
          proj.join(pairs.select(col(asId)).distinct(), Seq(asId), "left_semi")
      }
    }
    // the pair spine is the side to broadcast (a LocalRelation spine
    // builds job-free; a distributed one is materializePairs-bounded);
    // without the hint the planner may broadcast a SCAN side instead,
    // paying a build job per join
    hintIfSmall(pairs)
      .join(side(incoming, "id_new", "sh_new"), "id_new")
      .join(side(corpus, "id_old", "sh_old"), "id_old")
      .select(col("id_new"), col("id_old"),
        round(jaccardSorted(col("sh_new"), col("sh_old")), 4).as("jaccard"))
  }

  /** Embedding near-dup candidate pairs via sign-random-projection LSH —
    * the SCALE path for embedding-cosine dedup: vectors meet only inside
    * a shared hyperplane-sign bucket (see
    * [[HyperplaneLsh]] — same deterministic planes), never corpus×corpus.
    * Multi-probe for recall: one join side is exploded into its own
    * bucket plus every single-bit flip, so pairs whose sign patterns
    * differ in at most one plane still collide. The shuffle carries only
    * (id, bucket) longs — vectors stay out of the candidate join and are
    * fetched per-candidate by [[cosineVerify]].
    *
    * Sizing at scale: expected candidate volume is
    * O(N × occupancy × (nBits+1)) where occupancy ≈ N / 2^nBits for
    * non-clustered data — so pick `nBits ≈ log2(N) − log2(target bucket
    * size)` to hold occupancy (and therefore per-bucket join fan-out)
    * constant as the corpus grows. 8 bits suits the 10^3-row fixtures;
    * a 10^9-row corpus wants ~24-28 bits (the bucket id stays one long
    * up to 63 planes). */
  def embeddingCandidates(emb: DataFrame, idCol: String, vecCol: String,
                          nBits: Int = 8, dim: Int = -1): DataFrame = {
    val bucketed = embeddingBuckets(emb, idCol, vecCol, nBits, dim)
    bucketPairs(bucketed, multiprobe(bucketed, nBits), PairRule.AnyKey,
      cross = false)
  }

  /** The (id, sign-bucket) relation the LSH self-join runs over. `dim`
    * < 0 infers the dimension with a 1-row scan. */
  def embeddingBuckets(emb: DataFrame, idCol: String, vecCol: String,
                       nBits: Int, dim: Int = -1): DataFrame = {
    val d = if (dim > 0) dim else emb.select(size(col(vecCol))).first().getInt(0)
    val ps = HyperplaneLsh.planes(d, nBits)
    emb.select(col(idCol).as("_id"),
      HyperplaneLsh.bucketCol(col(vecCol), ps).as("_bucket"))
  }

  /** A (`_id`, `_bucket`) relation with every row exploded into its own
    * bucket plus every single-bit flip — the multiprobe side of the
    * embedding bucket join. */
  private def multiprobe(bucketed: DataFrame, nBits: Int): DataFrame =
    bucketed.select(col("_id"),
      explode(array((col("_bucket") +:
        (0 until nBits).map(i => col("_bucket").bitwiseXOR(lit(1L << i)))): _*))
        .as("_bucket"))

  /** CROSS-SET embedding candidates — the vector twin of
    * [[minHashCrossCandidates]]: incoming vectors meet EXISTING corpus
    * vectors only inside a shared sign-LSH bucket (same deterministic
    * planes on both sides), multiprobe exploded on the INCOMING side
    * (the small one — the corpus bucket relation stays one row per
    * vector). Returns distinct (id_new, id_old); verify with
    * [[cosineVerify]] over the union relation. */
  def embeddingCrossCandidates(incoming: DataFrame, corpus: DataFrame,
                               idCol: String, vecCol: String,
                               nBits: Int = 8, dim: Int = -1): DataFrame = {
    val d = if (dim > 0) dim
      else corpus.select(size(col(vecCol))).first().getInt(0)
    // multiprobe on the INCOMING side: (nBits+1) × batch rows of two
    // longs, while the corpus bucket relation stays one row per vector
    bucketPairs(multiprobe(embeddingBuckets(incoming, idCol, vecCol, nBits, d), nBits),
      embeddingBuckets(corpus, idCol, vecCol, nBits, d),
      PairRule.AnyKey, cross = true)
  }

  /** [[embeddingCandidates]], materialized, over a CALLER-MANAGED
    * (`_id`, `_bucket`) relation — for callers that fold the bucket
    * projection into a larger cached working set (the declared
    * `near_dup_embed_lsh` query persists one (id, vec) base frame and
    * derives buckets from it; a separate persist here would duplicate
    * the vectors in cache). The caller is responsible for `bucketed`
    * being cheap to evaluate twice (cached, or a projection over a
    * cached base). */
  def embeddingCandidatesFromBuckets(bucketed: DataFrame, nBits: Int,
                                     maxRows: Int = 1 << 20): DataFrame =
    materializePairs(bucketPairs(bucketed, multiprobe(bucketed, nBits),
      PairRule.AnyKey, cross = false), maxRows)

  /** Exact-cosine verification for candidate pairs — the embedding twin
    * of [[jaccardVerify]]: vectors and norms are fetched only for
    * candidate-touched ids (left_semi prune), norms pre-projected per
    * row, cosine computed once per pair. */
  def cosineVerify(emb: DataFrame, idCol: String, vecCol: String,
                   pairs: DataFrame): DataFrame = {
    val proj = emb.select(col(idCol).as("_vid"), col(vecCol).as("_v"),
      VectorFunctions.l2Norm(col(vecCol)).as("_n"))
    val side = localIdSet(pairs, Seq("id_a", "id_b")) match {
      case Some(ids) => proj.where(inIds(col("_vid"), ids))
      case None =>
        val ids = pairs.select(col("id_a").as("_vid"))
          .union(pairs.select(col("id_b").as("_vid"))).distinct()
        proj.join(ids, Seq("_vid"), "left_semi")
    }
    // spine-broadcast hint: same rationale as jaccardVerifyCross
    hintIfSmall(pairs)
      .join(side.select(col("_vid").as("id_a"), col("_v").as("va"), col("_n").as("na")), "id_a")
      .join(side.select(col("_vid").as("id_b"), col("_v").as("vb"), col("_n").as("nb")), "id_b")
      .select(col("id_a"), col("id_b"),
        round(VectorFunctions.dot(col("va"), col("vb")) /
          (col("na") * col("nb")), 4).as("cos"))
  }

  /** CROSS-SET exact-cosine verification — [[cosineVerify]] for
    * (id_new, id_old) pairs whose ids live in different relations
    * (incoming vs corpus), the vector twin of [[jaccardVerifyCross]]:
    * each side's vectors and norms are fetched only for its own
    * candidate-touched ids, and an id collision between the sides cannot
    * mix vectors. Returns (id_new, id_old, cos). */
  def cosineVerifyCross(incoming: DataFrame, corpus: DataFrame,
                        idCol: String, vecCol: String,
                        pairs: DataFrame): DataFrame = {
    def side(df: DataFrame, asId: String, asV: String, asN: String) = {
      val proj = df.select(col(idCol).as(asId), col(vecCol).as(asV),
        VectorFunctions.l2Norm(col(vecCol)).as(asN))
      localIdSet(pairs, Seq(asId)) match {
        case Some(ids) => proj.where(inIds(col(asId), ids))
        case None =>
          proj.join(pairs.select(col(asId)).distinct(), Seq(asId), "left_semi")
      }
    }
    // spine-broadcast hint: same rationale as jaccardVerifyCross
    hintIfSmall(pairs)
      .join(side(incoming, "id_new", "v_new", "n_new"), "id_new")
      .join(side(corpus, "id_old", "v_old", "n_old"), "id_old")
      .select(col("id_new"), col("id_old"),
        round(VectorFunctions.dot(col("v_new"), col("v_old")) /
          (col("n_new") * col("n_old")), 4).as("cos"))
  }

  /** Embedding-cosine near-dup pairs within a (bounded) id range —
    * brute-force verification tier for small slices and the oracle gate;
    * [[embeddingCandidates]] + [[cosineVerify]] is the bucketed scale
    * path, [[Search.knnJoin]]/IVF the top-k alternatives. */
  def embeddingNearDup(emb: DataFrame, idCol: String, vecCol: String,
                       minCosine: Double, maxId: Long): DataFrame = {
    // norms are computed ONCE PER ROW in the pre-join projections (N·d
    // work), not per pair (N²·d) — `cosine(va, vb)` inline would
    // re-evaluate both self-dots for every pair
    def side(ai: String, av: String, an: String) =
      emb.filter(col(idCol) < maxId)
        .select(col(idCol).as(ai), col(vecCol).as(av),
          VectorFunctions.l2Norm(col(vecCol)).as(an))
    side("id_a", "va", "na")
      .join(side("id_b", "vb", "nb"), col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"),
        round(VectorFunctions.dot(col("va"), col("vb")) /
          (col("na") * col("nb")), 4).as("cos"))
      .filter(col("cos") >= minCosine)
  }

  /** Fixed affine-rehash constants for [[minHashPolyCandidates]] —
    * eight primes (a_i) and eight offsets (b_i), mirrored verbatim in
    * the DuckDB oracle replay. */
  private[graft] val polyA: IndexedSeq[Long] = IndexedSeq(
    15485863L, 32452843L, 49979687L, 67867967L,
    86028121L, 104395301L, 122949823L, 141650939L)
  private[graft] val polyB: IndexedSeq[Long] = IndexedSeq(
    104729L, 224737L, 350377L, 479909L,
    611953L, 746773L, 882377L, 1020379L)
}
