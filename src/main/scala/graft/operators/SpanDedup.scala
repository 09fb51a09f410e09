package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.expressions.Shingles

/** Substring-level (k-gram span) deduplication — the ExactSubstr tier of
  * training-data dedup (Lee et al. 2021, "Deduplicating Training Data
  * Makes Language Models Better", public): find runs of tokens that are
  * duplicated ACROSS documents and either measure or remove them,
  * without requiring whole documents to be near-duplicates. The
  * reference app dedups only at whole-vector granularity (implied by
  * `app.py`'s per-chunk rows); this is the finer-grained operator a
  * 100 TB pretraining pipeline runs to strip boilerplate/licenses/
  * quotations that whole-doc MinHash never catches.
  *
  * Spark-first shape (suffix arrays, the paper's single-node structure,
  * do not distribute; the published scalable alternative is k-gram
  * hashing — same guarantee for spans >= k tokens):
  *
  *   1. explode each doc into its token k-grams with positions
  *      (projection + `posexplode`, embarrassingly parallel);
  *   2. one hash-aggregation by gram finds grams seen in >= `minDocs`
  *      distinct docs (two-phase: partial distinct on (gram, doc) map-
  *      side, so a boilerplate gram repeated 10^6× in one shard ships
  *      once);
  *   3. an equi-join marks duplicated positions (never all-pairs —
  *      documents never meet each other at all, only gram keys);
  *   4. per-doc gaps-and-islands (window functions) merges overlapping
  *      gram hits into maximal spans.
  *
  * Every stage is built-in-expression + shuffle-on-key; nothing is
  * driver-side and no stage needs a doc co-located with any other doc.
  * At 100 TB the gram relation is the big intermediate: pass
  * `hashGrams = true` to ship 8-byte `xxhash64` keys instead of gram
  * strings (collision odds ~n²/2^65 — negligible below ~10^8 distinct
  * grams per the standard birthday bound; equivalence on real data is
  * asserted in SpanDedupSpec). A super-common gram (site boilerplate)
  * is a hot key in stage 2's shuffle; the two-phase partial keeps the
  * map-side bounded and AQE's skew split handles the reduce side.
  */
object SpanDedup {

  /** The exploded (doc, position, k-gram) relation — one row per token
    * position that starts a k-gram; `pos` is 1-based. Docs shorter than
    * `k` tokens contribute no rows. */
  def grams(docs: DataFrame, idCol: String, textCol: String, k: Int,
            hashGrams: Boolean = false): DataFrame = {
    require(k >= 2, s"need k >= 2, got $k")
    import org.apache.spark.sql.graftshim.Bridge
    val toksOf = TextAnalysis.tokens(col(textCol))
    val t = col("_toks")
    // native Shingles builds the k-gram array in one static call per
    // row — the prior `transform(starts, i => concat_ws(slice(...)))`
    // was an interpreted lambda with a slice + concat per POSITION
    // (CodegenFallback; profiled as the dominant task time of the
    // span-strip admission chain). For size >= k the outputs are
    // bit-identical (one gram per window, single-space joined); the
    // size < k guard preserves this method's drop-short-docs contract
    // (Shingles alone would emit one whole-doc gram there).
    val sh = when(size(t) >= k,
      Bridge.column(Shingles(Bridge.expression(t), k)))
      .otherwise(array().cast("array<string>"))
    val gram = col("col")
    docs.select(col(idCol).as("_id"), toksOf.as("_toks"))
      .select(col("_id"), posexplode(sh))
      .select(col("_id"), (col("pos") + 1).as("pos"),
        (if (hashGrams) xxhash64(gram) else gram).as("gram"))
  }

  /** Token positions whose k-gram occurs in >= `minDocs` DISTINCT
    * documents: (_id, pos). The duplicated-gram key set comes from one
    * hash aggregation; positions attach by equi-join on the gram key. */
  def duplicatedPositions(docs: DataFrame, idCol: String, textCol: String,
                          k: Int = 8, minDocs: Int = 2,
                          hashGrams: Boolean = false): DataFrame = {
    val g = grams(docs, idCol, textCol, k, hashGrams)
    val dup = g.groupBy(col("gram"))
      .agg(countDistinct(col("_id")).as("_nd"))
      .filter(col("_nd") >= minDocs)
      .select(col("gram"))
    g.join(dup, "gram").select(col("_id"), col("pos"))
  }

  /** Gaps-and-islands merge of duplicated k-gram hit positions into
    * maximal spans: a new span starts when the next position is > k past
    * the previous one (the intervals [pos, pos+k-1] no longer touch). */
  private def mergeIslands(positions: DataFrame, k: Int): DataFrame = {
    val w = Window.partitionBy(col("_id")).orderBy(col("pos"))
    positions
      .withColumn("_brk",
        when(col("pos") - lag(col("pos"), 1).over(w) <= k, 0).otherwise(1))
      .withColumn("_island", sum(col("_brk")).over(w))
      .groupBy(col("_id"), col("_island"))
      .agg(min(col("pos")).as("span_start"),
        (max(col("pos")) + (k - 1)).as("span_end"))
      .select(col("_id"), col("span_start"), col("span_end"))
  }

  /** Maximal duplicated spans per document: (_id, span_start, span_end),
    * token-index inclusive bounds. */
  def duplicatedSpans(docs: DataFrame, idCol: String, textCol: String,
                      k: Int = 8, minDocs: Int = 2,
                      hashGrams: Boolean = false): DataFrame =
    mergeIslands(
      duplicatedPositions(docs, idCol, textCol, k, minDocs, hashGrams), k)

  /** CROSS-SET duplicated spans — the incremental-ingestion form (the
    * cross-set discipline of NearDup.minHashCrossCandidates): positions
    * in INCOMING whose k-gram occurs anywhere in CORPUS, merged into
    * maximal spans. Incoming-internal duplication does NOT trigger —
    * this is the "strip text copied from the existing corpus before
    * admitting" operator (decontamination at the substring tier). The
    * corpus contributes only its DISTINCT gram-key projection to a
    * left-semi join; corpus rows never re-process. */
  def crossDuplicatedSpans(incoming: DataFrame, corpus: DataFrame,
                           idCol: String, textCol: String, k: Int = 8,
                           hashGrams: Boolean = false): DataFrame = {
    val inc = grams(incoming, idCol, textCol, k, hashGrams)
    val corp = grams(corpus, idCol, textCol, k, hashGrams)
      .select(col("gram")).distinct()
    mergeIslands(
      inc.join(corp, Seq("gram"), "left_semi").select(col("_id"), col("pos")),
      k)
  }

  /** Per-document duplicated-span coverage: (_id, n_tokens, dup_tokens,
    * n_spans, dup_frac). Every input doc appears (zero rows for docs
    * with no duplicated span); `dup_frac` is round(dup/total, 4) per the
    * engine's 4-decimal float contract. */
  def coverageStats(docs: DataFrame, idCol: String, textCol: String,
                    k: Int = 8, minDocs: Int = 2,
                    hashGrams: Boolean = false): DataFrame =
    coverageFrom(docs, idCol, textCol,
      duplicatedSpans(docs, idCol, textCol, k, minDocs, hashGrams))

  /** [[coverageStats]] against the CORPUS instead of within the set —
    * per-incoming-doc coverage by spans copied from the corpus. */
  def crossCoverageStats(incoming: DataFrame, corpus: DataFrame,
                         idCol: String, textCol: String, k: Int = 8,
                         hashGrams: Boolean = false): DataFrame =
    coverageFrom(incoming, idCol, textCol,
      crossDuplicatedSpans(incoming, corpus, idCol, textCol, k, hashGrams))

  private def coverageFrom(docs: DataFrame, idCol: String, textCol: String,
                           spans: DataFrame): DataFrame = {
    val nt = docs.select(col(idCol).as("_id"),
      size(TextAnalysis.tokens(col(textCol))).cast("long").as("n_tokens"))
    val cov = spans
      .groupBy(col("_id"))
      .agg(sum(col("span_end") - col("span_start") + 1).as("_dup"),
        count(lit(1)).as("_nsp"))
    nt.join(cov, Seq("_id"), "left")
      .select(col("_id"), col("n_tokens"),
        coalesce(col("_dup"), lit(0L)).cast("long").as("dup_tokens"),
        coalesce(col("_nsp"), lit(0L)).cast("long").as("n_spans"),
        round(coalesce(col("_dup"), lit(0L)).cast("double")
          / greatest(col("n_tokens"), lit(1L)), 4).as("dup_frac"))
  }

  /** The dedup ACTION: rewrite each document with its duplicated-span
    * tokens removed — (_id, kept_tokens, cleaned_text). Token positions
    * inside any duplicated span are dropped; the survivors rejoin in
    * order with single spaces. A fully-duplicated doc comes back as
    * `('', 0)` rather than disappearing, so the caller decides the
    * drop policy. Span expansion is `explode(sequence(...))` — bounded
    * by doc length, never corpus-sized. */
  def stripSpans(docs: DataFrame, idCol: String, textCol: String,
                 k: Int = 8, minDocs: Int = 2,
                 hashGrams: Boolean = false): DataFrame =
    stripFrom(docs, idCol, textCol,
      duplicatedSpans(docs, idCol, textCol, k, minDocs, hashGrams))

  /** [[stripSpans]] against the CORPUS: rewrite each INCOMING doc with
    * the tokens it copies from the corpus removed — the substring-tier
    * admission cleaner (an incoming doc quoting a corpus doc loses the
    * quotation, keeps its novel text). */
  def crossStripSpans(incoming: DataFrame, corpus: DataFrame,
                      idCol: String, textCol: String, k: Int = 8,
                      hashGrams: Boolean = false): DataFrame =
    stripFrom(incoming, idCol, textCol,
      crossDuplicatedSpans(incoming, corpus, idCol, textCol, k, hashGrams))

  private def stripFrom(docs: DataFrame, idCol: String, textCol: String,
                        spans: DataFrame): DataFrame = {
    import org.apache.spark.sql.graftshim.Bridge
    // per-doc span list (tiny: spans are already maximal islands), then
    // ONE row-local native strip per doc — the prior exploded tail paid
    // three shuffles of a token-POSITION-sized relation (posexplode →
    // anti-join → collect_list/array_sort/interpreted-transform
    // reassembly) to express what is a per-row token walk. Retained as
    // [[stripFromExploded]]; SpanDedupSpec pins them row-identical.
    val sp = spans.groupBy(col("_id"))
      .agg(collect_list(struct(
        col("span_start").cast("int").as("s"),
        col("span_end").cast("int").as("e"))).as("_spans"))
    val stripped = Bridge.column(graft.expressions.StripSpans(
      Bridge.expression(TextAnalysis.tokens(col(textCol))),
      Bridge.expression(col("_spans"))))
    docs.select(col(idCol).as("_id"), col(textCol))
      .join(sp, Seq("_id"), "left")
      .select(col("_id"),
        stripped.getField("kept_tokens").as("kept_tokens"),
        stripped.getField("cleaned_text").as("cleaned_text"))
  }

  /** The exploded formulation [[stripFrom]] replaced — kept as the
    * parity twin SpanDedupSpec compares row-identical on the fixture
    * (plus crafted overlap/empty/null edges). */
  private[graft] def stripFromExploded(docs: DataFrame, idCol: String,
                                       textCol: String,
                                       spans: DataFrame): DataFrame = {
    val toksOf = TextAnalysis.tokens(col(textCol))
    val tp = docs.select(col(idCol).as("_id"), posexplode(toksOf))
      .select(col("_id"), (col("pos") + 1).as("pos"), col("col").as("_tok"))
    val covpos = spans
      .select(col("_id"),
        explode(sequence(col("span_start"), col("span_end"))).as("pos"))
    val kept = tp.join(covpos, Seq("_id", "pos"), "left_anti")
      .groupBy(col("_id"))
      .agg(count(lit(1)).as("kept_tokens"),
        concat_ws(" ", transform(
          array_sort(collect_list(struct(col("pos"), col("_tok")))),
          s => s.getField("_tok"))).as("cleaned_text"))
    docs.select(col(idCol).as("_id"))
      .join(kept, Seq("_id"), "left")
      .select(col("_id"),
        coalesce(col("kept_tokens"), lit(0L)).cast("long").as("kept_tokens"),
        coalesce(col("cleaned_text"), lit("")).as("cleaned_text"))
  }

  /** Build the MAINTAINED corpus gram-key artifact for the strip tier
    * — the amortization the AdmitProbe r18 table calls for: the
    * corpus's distinct k-gram keys (8-byte xxhash64 — the
    * `hashGrams = true` shape, decision-identical below the birthday
    * bound) written once per corpus version as a parquet table plus a
    * Bloom sidecar, so per-batch stripping never re-processes the
    * corpus (the probe priced that re-processing at ~1 GB of gram
    * shuffle per 100k-doc batch against a 1M-doc corpus). The same
    * build-once/probe-many asymmetry as the text index and the Bloom
    * admission tier; at scale the ingestion job refreshes the
    * artifact when the corpus commits. Returns the distinct gram
    * count. */
  def buildGramIndex(corpus: DataFrame, idCol: String, textCol: String,
                     path: String, k: Int = 8, fpp: Double = 0.03): Long = {
    val keys = grams(corpus, idCol, textCol, k, hashGrams = true)
      .select(col("gram")).distinct()
    // the distinct-key count rides the write as an observe metric (the
    // store's stats-ride-the-write discipline) — the prior separate
    // `back.count()` pass was one whole job per build/refresh
    val obs = new org.apache.spark.sql.Observation(
      "graft_gramidx_" + java.util.UUID.randomUUID())
    keys.observe(obs, count(lit(1)).as("n"))
      .write.mode("overwrite").parquet(s"$path/grams")
    val n = math.max(1L,
      obs.get("n").asInstanceOf[java.lang.Number].longValue())
    val spark = corpus.sparkSession
    val back = spark.read.parquet(s"$path/grams")
    val bf = back.stat.bloomFilter("gram", n, fpp)
    val bos = new java.io.ByteArrayOutputStream()
    bf.writeTo(bos)
    java.nio.file.Files.write(
      java.nio.file.Paths.get(path, "bloom.bin"), bos.toByteArray)
    // meta sidecar: the bloom's sizing parameters, so a REFRESH can
    // build a mergeInPlace-compatible per-commit bloom (same expected-n
    // + fpp ⇒ same bit width + hash count), plus the k the keys were
    // shingled with — a refresh or probe at a different k would be
    // silently wrong, so both validate against it
    java.nio.file.Files.write(java.nio.file.Paths.get(path, "meta.json"),
      s"""{"k":$k,"fpp":$fpp,"expected_n":$n,"n_keys":$n}"""
        .getBytes(java.nio.charset.StandardCharsets.UTF_8))
    n
  }

  /** Parsed `meta.json` of a gram index: (k, fpp, expectedN, nKeys).
    * Absent for pre-r19 indexes → None (probe still works off the
    * bloom + key table; refresh requires the meta). */
  private[graft] def readGramIndexMeta(path: String)
      : Option[(Int, Double, Long, Long)] = {
    val p = java.nio.file.Paths.get(path, "meta.json")
    if (!java.nio.file.Files.exists(p)) None
    else {
      val s = new String(java.nio.file.Files.readAllBytes(p),
        java.nio.charset.StandardCharsets.UTF_8)
      def num(key: String): String = {
        val m = ("\"" + key + "\"\\s*:\\s*([0-9.eE+-]+)").r
          .findFirstMatchIn(s)
        m.map(_.group(1)).getOrElse(
          throw new IllegalStateException(s"gram-index meta missing $key: $s"))
      }
      Some((num("k").toDouble.toInt, num("fpp").toDouble,
        num("expected_n").toDouble.toLong, num("n_keys").toDouble.toLong))
    }
  }

  /** Per-commit incremental REFRESH of a gram index — the maintained-
    * artifact contract for the evolving corpus: the new generation's
    * distinct gram keys append to the key table and fold into the
    * Bloom via `mergeInPlace` (compatible by construction: the gen
    * bloom is sized with the meta's original expected-n/fpp). Returns
    * the gen's distinct-key count.
    *
    * Semantics under refresh:
    *   - keys already present in older generations MAY appear again
    *     (the gen is deduplicated only within itself — deduplicating
    *     against the full table would rescan the corpus-sized
    *     artifact per commit, defeating the amortization). Duplicate
    *     keys only duplicate position HITS in the confirm join, and
    *     the gaps-and-islands merge absorbs duplicate positions into
    *     identical spans — row-identical output, bounded overwork
    *     (≤ generations touching the key). A periodic full
    *     [[buildGramIndex]] rebuild is the OPTIMIZE-style compaction
    *     that re-distincts and re-sizes.
    *   - once total keys materially exceed the meta's expected-n, the
    *     bloom's fpp degrades; degradation only routes more positions
    *     into the confirm join (performance), NEVER changes results —
    *     a rebuild restores the target fpp.
    *   - STALENESS is safe-degrade in both directions: keys-appended/
    *     bloom-stale hides the new grams at the router (they strip on
    *     the next refresh); bloom-merged/keys-stale routes them to a
    *     confirm join that misses. Either way stripping of
    *     just-committed text is only WEAKENED, never wrong — the same
    *     window every maintained artifact here carries. */
  def refreshGramIndex(newDocs: DataFrame, idCol: String, textCol: String,
                       path: String): Long = {
    val (k, fpp, expectedN, nKeys) = readGramIndexMeta(path).getOrElse(
      throw new IllegalStateException(
        s"gram index at $path has no meta.json — rebuild with buildGramIndex"))
    val spark = newDocs.sparkSession
    val keys = grams(newDocs, idCol, textCol, k, hashGrams = true)
      .select(col("gram")).distinct()
    // stage the gen's keys (count riding the write), bloom-fold from
    // the staged files, then move them into the key table — one scan
    // of the new docs total
    val staging = s"$path/.staging_${java.util.UUID.randomUUID()}"
    val obs = new org.apache.spark.sql.Observation(
      "graft_gramidx_ref_" + java.util.UUID.randomUUID())
    keys.observe(obs, count(lit(1)).as("n"))
      .write.mode("overwrite").parquet(staging)
    val nNew = obs.get("n").asInstanceOf[java.lang.Number].longValue()
    val stagingDir = new java.io.File(staging)
    if (nNew == 0L) {
      org.apache.commons.io.FileUtils.deleteDirectory(stagingDir)
      return 0L
    }
    val genBf = spark.read.parquet(staging)
      .stat.bloomFilter("gram", expectedN, fpp)
    val bf = {
      val in = new java.io.BufferedInputStream(
        new java.io.FileInputStream(s"$path/bloom.bin"))
      try org.apache.spark.util.sketch.BloomFilter.readFrom(in)
      finally in.close()
    }
    bf.mergeInPlace(genBf)
    // keys first, bloom second (each step alone is safe-degrade, see
    // the contract above); bloom swap is write-tmp + atomic move
    stagingDir.listFiles().foreach { f =>
      if (f.getName.startsWith("part-") || f.getName.startsWith(".part-"))
        org.apache.commons.io.FileUtils.moveFileToDirectory(
          f, new java.io.File(s"$path/grams"), false)
    }
    org.apache.commons.io.FileUtils.deleteDirectory(stagingDir)
    val tmp = java.nio.file.Paths.get(path, "bloom.bin.tmp")
    val out = new java.io.BufferedOutputStream(
      new java.io.FileOutputStream(tmp.toFile))
    try bf.writeTo(out) finally out.close()
    java.nio.file.Files.move(tmp, java.nio.file.Paths.get(path, "bloom.bin"),
      java.nio.file.StandardCopyOption.REPLACE_EXISTING,
      java.nio.file.StandardCopyOption.ATOMIC_MOVE)
    java.nio.file.Files.write(java.nio.file.Paths.get(path, "meta.json"),
      s"""{"k":$k,"fpp":$fpp,"expected_n":$expectedN,"n_keys":${nKeys + nNew}}"""
        .getBytes(java.nio.charset.StandardCharsets.UTF_8))
    nNew
  }

  /** Ceiling on the serialized Bloom a probe may embed as a plan
    * `Literal`: past this the filter ships with EVERY task binary and
    * sits in the driver's plan — at the 10⁹-gram design point (a
    * multi-GB sidecar, which also overflows a JVM byte array) that is
    * a scale-killer, so bigger filters route through a torrent
    * broadcast instead ([[graft.expressions.BloomMightContainBc]]);
    * router decisions are bit-identical across the two forms. */
  val MaxBloomLiteralBytes: Long = 64L << 20

  /** Per-(bloom-file identity) broadcast memo for the over-gate path:
    * repeated batches probing one index version reuse one broadcast.
    * A refresh changes the file's (size, mtime) → new entry; the
    * superseded broadcast is left to context GC (a concurrent probe
    * may still hold it — the shared-artifact supersede discipline). */
  private val bloomBcCache = new java.util.concurrent.ConcurrentHashMap[
    (String, Long, Long),
    org.apache.spark.broadcast.Broadcast[org.apache.spark.util.sketch.BloomFilter]]()

  /** [[crossStripSpans]] against a PRE-BUILT gram index instead of the
    * corpus — the per-batch side of the amortized shape: incoming gram
    * positions probe the index's Bloom as a codegen'd PLAN LITERAL
    * (a Bloom "no" is definite — the position touches no corpus gram
    * and never enters the join), and only the might-contain sliver
    * pays the semi-join against the artifact's key table. EXACT, not
    * approximate: false positives only route a position into the
    * confirming join, never mark it. Row-identical to
    * `crossStripSpans(incoming, corpus, …, hashGrams = true)` on the
    * corpus the index was built from (asserted in SpanDedupSpec);
    * the corpus contributes ZERO per-batch work. */
  def crossStripSpansIndexed(incoming: DataFrame, idCol: String,
                             textCol: String, indexPath: String,
                             k: Int = 8): DataFrame =
    crossStripSpansIndexed(incoming, idCol, textCol, indexPath, k,
      MaxBloomLiteralBytes)

  /** [[crossStripSpansIndexed]] with an explicit literal-size gate —
    * the spec entry point forcing the broadcast fallback at fixture
    * scale (`maxLiteralBytes = 0`). */
  private[graft] def crossStripSpansIndexed(incoming: DataFrame, idCol: String,
                                            textCol: String, indexPath: String,
                                            k: Int,
                                            maxLiteralBytes: Long): DataFrame = {
    import org.apache.spark.sql.graftshim.Bridge
    import org.apache.spark.sql.catalyst.expressions.{BloomFilterMightContain, Literal}
    import org.apache.spark.sql.types.BinaryType
    val spark = incoming.sparkSession
    readGramIndexMeta(indexPath).foreach { case (mk, _, _, _) =>
      require(mk == k,
        s"gram index at $indexPath was built with k=$mk, probed with k=$k")
    }
    val bloomFile = java.nio.file.Paths.get(indexPath, "bloom.bin")
    val bloomSize = java.nio.file.Files.size(bloomFile)
    val inc = grams(incoming, idCol, textCol, k, hashGrams = true)
    val mightContain =
      if (bloomSize <= maxLiteralBytes) {
        val bytes = java.nio.file.Files.readAllBytes(bloomFile)
        Bridge.column(BloomFilterMightContain(
          Literal(bytes, BinaryType), Bridge.expression(col("gram"))))
      } else {
        val mtime = java.nio.file.Files.getLastModifiedTime(bloomFile).toMillis
        val bc = bloomBcCache.computeIfAbsent(
          (bloomFile.toAbsolutePath.toString, bloomSize, mtime), { _ =>
            // streamed deserialize (no byte-array bound), shipped once
            // per executor via torrent blocks, never in the plan
            val in = new java.io.BufferedInputStream(
              new java.io.FileInputStream(bloomFile.toFile))
            val bf =
              try org.apache.spark.util.sketch.BloomFilter.readFrom(in)
              finally in.close()
            spark.sparkContext.broadcast(bf)
          })
        Bridge.column(graft.expressions.BloomMightContainBc(
          bc, Bridge.expression(col("gram"))))
      }
    val sliver = inc.filter(mightContain)
    // confirm join with the BATCH side broadcast: the artifact's key
    // table is distinct by construction, so the inner join emits each
    // sliver row at most once (≡ the left-semi) while the artifact
    // SCAN streams map-side — the key table never enters an exchange,
    // at any corpus size. The sliver is batch-bounded (true hits +
    // fpp × batch grams).
    val hits = spark.read.parquet(s"$indexPath/grams")
      .join(broadcast(sliver), Seq("gram"))
      .select(col("_id"), col("pos"))
    stripFrom(incoming, idCol, textCol, mergeIslands(hits, k))
  }

  /** [[stripSpans]] over the exploded twin — parity surface for
    * SpanDedupSpec. */
  private[graft] def stripSpansExploded(docs: DataFrame, idCol: String,
                                        textCol: String,
                                        k: Int = 8, minDocs: Int = 2,
                                        hashGrams: Boolean = false): DataFrame =
    stripFromExploded(docs, idCol, textCol,
      duplicatedSpans(docs, idCol, textCol, k, minDocs, hashGrams))

  /** [[crossStripSpans]] over the exploded twin — parity surface for
    * SpanDedupSpec. */
  private[graft] def crossStripSpansExploded(incoming: DataFrame,
                                             corpus: DataFrame,
                                             idCol: String, textCol: String,
                                             k: Int = 8,
                                             hashGrams: Boolean = false)
      : DataFrame =
    stripFromExploded(incoming, idCol, textCol,
      crossDuplicatedSpans(incoming, corpus, idCol, textCol, k, hashGrams))
}
