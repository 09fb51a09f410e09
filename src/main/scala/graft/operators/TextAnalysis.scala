package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Text-analysis operators for the LLM-pipeline tier (SURVEY.md §2
  * B10-B14): token stats, word frequency, tf-idf, quality scoring. All
  * built-in expressions — `split`/`explode` + hash aggregation — so the
  * heavy parts are two-phase (map-side partial) aggregates that scale
  * linearly with executors; no document ever needs to be colocated with
  * another except by word key.
  */
object TextAnalysis {

  /** Whitespace tokens of `text`, empty tokens removed. */
  def tokens(text: Column): Column = {
    import org.apache.spark.sql.graftshim.Bridge
    Bridge.column(graft.expressions.Tokens(Bridge.expression(text)))
  }

  /** The higher-order twin [[tokens]] replaced (r14): `ArrayFilter` is
    * CodegenFallback — a regex split materializing empties plus an
    * interpreted lambda per element, under the engine's hottest path.
    * Retained so TextAnalysisSpec can pin the native expression
    * bit-equal against it on the real fixture. */
  private[graft] def tokensHof(text: Column): Column =
    filter(split(text, " "), t => t =!= "")

  /** Real BPE subword tokens of `text` under the checked-in merges table
    * — the merge-loop algorithm, not a regex approximation
    * ([[graft.expressions.BpeEncode]], codegen'd static call per row;
    * table + loop semantics in [[graft.functions.BpeTokenizer]]).
    * Token-budget / sequence-packing queries that want subword fidelity
    * count `size(bpeTokens(...))`. */
  def bpeTokens(text: Column): Column = {
    import org.apache.spark.sql.graftshim.Bridge
    Bridge.column(graft.expressions.BpeEncode(Bridge.expression(text)))
  }

  /** Per-document token stats (B10 + quality scoring): token count,
    * distinct-token count, distinct ratio, chars per token. */
  def docStats(docs: DataFrame, idCol: String, textCol: String,
               nCharsCol: String): DataFrame = {
    val toks = tokens(col(textCol))
    docs.select(
      col(idCol),
      size(toks).cast("long").as("n_tokens"),
      size(array_distinct(toks)).cast("long").as("n_distinct"),
      round(size(array_distinct(toks)).cast("double") / size(toks), 4)
        .as("distinct_ratio"),
      round(col(nCharsCol).cast("double") / size(toks), 4)
        .as("chars_per_token"))
  }

  /** Document chunker — the operator that produces the reference's data
    * model (chunk rows from documents; the implied upstream of
    * `app.py`'s chunk_id/chunk_text columns). Fixed-width token windows
    * with stride overlap, one output row per chunk. UDTF-equivalent via
    * `explode` of the window-start sequence (SURVEY.md §2 "UDF/UDAF/UDTF"
    * — a Generator is the documented escape hatch, not needed). Pure
    * projection + explode: embarrassingly parallel, no shuffle. */
  def chunk(docs: DataFrame, idCol: String, textCol: String,
            width: Int, stride: Int): DataFrame = {
    require(width > 0 && stride > 0 && stride <= width,
      "need 0 < stride <= width")
    val toks = tokens(col(textCol))
    docs.select(col(idCol), col(textCol))
      .select(col(idCol),
        explode(sequence(lit(1), greatest(size(toks), lit(1)), lit(stride)))
          .as("_s"),
        toks.as("_tk"))
      .select(col(idCol),
        ((col("_s") - 1) / stride).cast("long").as("chunk_idx"),
        concat_ws(" ", slice(col("_tk"), col("_s"), lit(width)))
          .as("chunk_text"))
  }

  /** Repetition-ratio quality signal (the Gopher-style "fraction of
    * n-grams occupied by the most frequent n-gram" filter — highly
    * repetitive docs are boilerplate/spam and get dropped from training
    * mixes): per document, max n-gram count / total n-grams. Docs with
    * fewer than `n` tokens have no n-gram and are excluded (both engines
    * of the oracle gate agree on the edge).
    *
    * Shape: explode n-grams → two partial-aggregatable groupBys keyed by
    * (doc, gram) then (doc). Both shuffles carry (doc_id, gram-count)
    * pairs, never document bodies; keys are document-scoped so skew is
    * bounded by the longest single document. */
  def repetitionStats(docs: DataFrame, idCol: String, textCol: String,
                      n: Int = 2): DataFrame =
    docs
      .filter(size(tokens(col(textCol))) >= n)
      .select(col(idCol), explode(NearDup.shingles(col(textCol), n)).as("_gram"))
      .groupBy(col(idCol), col("_gram"))
      .agg(count(lit(1)).as("_cnt"))
      .groupBy(col(idCol))
      .agg(round(max(col("_cnt")).cast("double") / sum(col("_cnt")), 4)
        .as("rep_ratio"),
        sum(col("_cnt")).as("n_grams"))

  /** ROW-LOCAL twin of [[repetitionStats]]: the same max-n-gram /
    * total-n-gram ratio as a pure projected column — sort the doc's
    * n-gram array, fold for the longest run of equal elements (equal
    * grams are contiguous after the sort, so max run = max count). NULL
    * for docs with fewer than `n` tokens (no n-gram — mirrors the
    * exclusion in the aggregate form). Equality with the groupBy form is
    * asserted corpus-wide in TextAnalysisSpec.
    *
    * Use this one inside larger pipelines: it adds NO shuffle and NO
    * second reference to the input subtree (joining [[repetitionStats]]
    * back to its own source re-executes the source lineage twice — the
    * shared-subtree trap). The aggregate form remains the standalone
    * oracle-checked query shape. */
  def repetitionRatioCol(text: Column, n: Int = 2): Column = {
    // native single-pass expression (r18): the HOF fold below was an
    // interpreted aggregate lambda per row — profiled as a ~0.5 s
    // single-task stall when a chain evaluates it on a coalesced side
    // (q_trainmix_e2e's offsets build). Parity pinned in
    // TextAnalysisSpec; the aggregate-form equivalence in PropertySpec
    // now exercises the native path.
    import org.apache.spark.sql.graftshim.Bridge
    Bridge.column(
      graft.expressions.RepetitionRatio(Bridge.expression(text), n))
  }

  /** The higher-order formulation [[repetitionRatioCol]] replaced —
    * retained as the bit-parity twin TextAnalysisSpec compares against
    * the native expression on the fixture + edge shapes. */
  private[graft] def repetitionRatioColHof(text: Column, n: Int = 2): Column = {
    val grams = array_sort(NearDup.shingles(text, n))
    val folded = aggregate(grams,
      struct(lit(null).cast("string").as("prev"), lit(0L).as("run"),
        lit(0L).as("best")),
      (acc, g) => {
        val run = when(acc.getField("prev").isNotNull &&
          g === acc.getField("prev"), acc.getField("run") + 1L)
          .otherwise(lit(1L))
        struct(g.as("prev"), run.as("run"),
          greatest(acc.getField("best"), run).as("best"))
      })
    when(size(tokens(text)) >= n,
      round(folded.getField("best").cast("double") / size(grams), 4))
  }

  /** The four Gopher-rule stat/predicate columns over a text column —
    * shared by [[gopherRules]] (the per-doc report) and [[gopherPass]]
    * (the row-local admission filter). */
  private def gopherCols(text: Column,
                         minWords: Int, maxWords: Int,
                         minMeanLen: Double, maxMeanLen: Double,
                         minStopwords: Int, maxTopFrac: Double)
      : (Column, Column, Column, Column,
         Column, Column, Column, Column) = {
    // the four raw counts come from ONE native single-pass expression
    // (GopherStats — the HOF fold was O(distinct × n) interpreted per
    // row and priced above both dedup tiers in AdmitProbe); all derived
    // arithmetic stays in Catalyst so null/zero-token edges are the
    // built-ins' own. Codegen subexpression elimination evaluates the
    // shared struct once per row across the getFields.
    import org.apache.spark.sql.graftshim.Bridge
    val st = Bridge.column(
      graft.expressions.GopherStats(Bridge.expression(text)))
    val nW = st.getField("n_words")
    // guarded divisions: zero-token docs get NULL ratios (and so fail
    // every ratio rule), per the operator contract — under Spark 4's
    // default ANSI mode a bare 0/0 THROWS DIVIDE_BY_ZERO instead (a
    // latent crash the parity spec's empty-doc edge exposed; the
    // seeded fixtures happen to contain no empty documents)
    val meanLen = when(nW > 0, st.getField("sum_len").cast("double") / nW)
    val nStop = st.getField("n_stop")
    val topFrac = when(nW > 0, st.getField("top_cnt").cast("double") / nW)
    (nW, meanLen, nStop, topFrac,
      nW >= minWords && nW <= maxWords,
      meanLen >= minMeanLen && meanLen <= maxMeanLen,
      nStop >= minStopwords,
      topFrac <= maxTopFrac)
  }

  /** The higher-order formulation [[gopherCols]] replaced — retained so
    * TextAnalysisSpec can pin the native single-pass expression
    * bit-equal against it on the real fixture (the standing
    * native-Expression + HOF-parity-twin discipline). */
  private def gopherColsHof(text: Column,
                            minWords: Int, maxWords: Int,
                            minMeanLen: Double, maxMeanLen: Double,
                            minStopwords: Int, maxTopFrac: Double)
      : (Column, Column, Column, Column,
         Column, Column, Column, Column) = {
    val tk = tokens(text)
    val nW = size(tk).cast("long")
    // same ANSI divide-by-zero guard as the native formulation
    val meanLen = when(nW > 0,
      aggregate(tk, lit(0L), (a, x) => a + length(x)).cast("double") / nW)
    val nStop =
      size(filter(tk, x => x.isin("the", "a", "of", "to", "in")))
        .cast("long")
    val topFrac = when(nW > 0, array_max(
      transform(array_distinct(tk), w => size(filter(tk, x => x === w))))
      .cast("double") / nW)
    (nW, meanLen, nStop, topFrac,
      nW >= minWords && nW <= maxWords,
      meanLen >= minMeanLen && meanLen <= maxMeanLen,
      nStop >= minStopwords,
      topFrac <= maxTopFrac)
  }

  /** [[gopherRules]] over the retained HOF columns — the parity twin
    * TextAnalysisSpec compares against [[gopherRules]] row-for-row. */
  private[graft] def gopherRulesHof(docs: DataFrame, idCol: String,
                                    textCol: String,
                                    minWords: Int = 20, maxWords: Int = 80,
                                    minMeanLen: Double = 3.9,
                                    maxMeanLen: Double = 5.0,
                                    minStopwords: Int = 2,
                                    maxTopFrac: Double = 0.15): DataFrame = {
    val (nW, meanLen, nStop, topFrac, rWc, rMl, rSt, rTp) =
      gopherColsHof(col(textCol), minWords, maxWords, minMeanLen, maxMeanLen,
        minStopwords, maxTopFrac)
    def verdict(c: Column): Column = when(c, 1L).otherwise(0L)
    docs.select(col(idCol),
      nW.as("n_words"),
      round(meanLen, 4).as("mean_wlen"),
      nStop.as("n_stop"),
      round(topFrac, 4).as("top_frac"),
      verdict(rWc).as("r_wordcount"),
      verdict(rMl).as("r_meanlen"),
      verdict(rSt).as("r_stop"),
      verdict(rTp).as("r_topword"),
      verdict(rWc && rMl && rSt && rTp).as("gopher_pass"))
  }

  /** The conjunctive Gopher verdict as a ROW-LOCAL boolean Column —
    * usable as a plain `filter` (no join, no shuffle), which is how
    * [[Dedup.gateAndAdmit]] runs it in front of the admission kernel:
    * quality rejects never pay the dedup tiers. Null ratios (empty
    * docs) fail the gate. */
  def gopherPass(text: Column,
                 minWords: Int = 20, maxWords: Int = 80,
                 minMeanLen: Double = 3.9, maxMeanLen: Double = 5.0,
                 minStopwords: Int = 2,
                 maxTopFrac: Double = 0.15): Column = {
    val (_, _, _, _, rWc, rMl, rSt, rTp) = gopherCols(text,
      minWords, maxWords, minMeanLen, maxMeanLen, minStopwords, maxTopFrac)
    coalesce(rWc && rMl && rSt && rTp, lit(false))
  }

  /** Gopher-style document quality rules (Rae et al. 2021 §A1.1,
    * public): word-count bounds, mean-word-length bounds, a minimum
    * stopword count, and a most-common-word frequency cap — each rule a
    * per-doc boolean plus the conjunctive verdict. Defaults are
    * calibrated to the fixture corpus so every rule measurably bites;
    * production thresholds are the paper's.
    *
    * Everything is ONE row-local projection over the token array —
    * no explode, no join, no shuffle: even the most-common-word count
    * folds in place (`array_max` over per-distinct-token counts), so
    * the whole gate runs at scan speed and composes with any admission
    * chain for free. Docs with zero tokens get null ratios and fail
    * every ratio rule (the conservative default). */
  def gopherRules(docs: DataFrame, idCol: String, textCol: String,
                  minWords: Int = 20, maxWords: Int = 80,
                  minMeanLen: Double = 3.9, maxMeanLen: Double = 5.0,
                  minStopwords: Int = 2,
                  maxTopFrac: Double = 0.15): DataFrame = {
    val (nW, meanLen, nStop, topFrac, rWc, rMl, rSt, rTp) =
      gopherCols(col(textCol), minWords, maxWords, minMeanLen, maxMeanLen,
        minStopwords, maxTopFrac)
    def verdict(c: Column): Column = when(c, 1L).otherwise(0L)
    docs.select(col(idCol),
      nW.as("n_words"),
      round(meanLen, 4).as("mean_wlen"),
      nStop.as("n_stop"),
      round(topFrac, 4).as("top_frac"),
      verdict(rWc).as("r_wordcount"),
      verdict(rMl).as("r_meanlen"),
      verdict(rSt).as("r_stop"),
      verdict(rTp).as("r_topword"),
      verdict(rWc && rMl && rSt && rTp).as("gopher_pass"))
  }

  /** Canonical text normalization — the first stage of most training
    * pipelines: lowercase, collapse all whitespace runs to single
    * spaces, trim. Pure codegen'd string expressions, embarrassingly
    * parallel. Compose with [[nfc]] first for multilingual corpora
    * (kept separate so the ASCII-oracle queries stay byte-exact while
    * the Unicode stage has its own oracle). */
  def normalizeText(text: Column): Column =
    trim(regexp_replace(lower(text), "\\s+", " "))

  /** Unicode NFC canonical composition
    * ([[graft.expressions.NfcNormalize]], codegen'd with an ASCII fast
    * path) — canonicalizes precomposed-vs-decomposed code-point
    * sequences before any fingerprint/shingle/dedup stage. */
  def nfc(text: Column): Column = {
    import org.apache.spark.sql.graftshim.Bridge
    Bridge.column(graft.expressions.NfcNormalize(Bridge.expression(text)))
  }

  /** PII-style redaction: replace email addresses and URLs with fixed
    * placeholder tokens. Regex-conservative on purpose (word-ish local
    * parts, http(s) schemes) — a production deployment swaps in its
    * compliance patterns; the plan shape (two chained codegen'd
    * regexp_replace projections, no shuffle) is the point. */
  def redactPii(text: Column): Column =
    regexp_replace(
      regexp_replace(text, "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}",
        "<EMAIL>"),
      "https?://[^\\s]+", "<URL>")

  /** Corpus-wide word frequency (B11): one explode + one hash agg. */
  def wordFreq(docs: DataFrame, textCol: String): DataFrame =
    docs.select(explode(tokens(col(textCol))).as("word"))
      .groupBy("word").agg(count(lit(1)).as("cnt"))

  /** Corpus-frequency quality score: per document, the mean
    * ln(corpus-frequency) of its tokens — the classic cheap filter for
    * gibberish/rare-token junk (low score = mostly words the corpus has
    * never seen). Two passes over the exploded relation: the word-count
    * table (usually tiny — Zipf) broadcasts back onto the tokens, so the
    * corpus shuffles only (doc, partial-sum) pairs, never text. Output
    * column `lf_score` rounded to 4 decimals.
    *
    * Vocabulary grows (sub-linearly, but unboundedly) with corpus size:
    * when the distinct-word table no longer fits a broadcast — web-scale
    * corpora with exotic-token tails — pass `broadcastWf = false` to
    * join by shuffle on the word key instead (same shape as
    * `Decontaminate.broadcastEval`). */
  def logFreqScore(docs: DataFrame, idCol: String, textCol: String,
                   broadcastWf: Boolean = true): DataFrame = {
    val tok = docs.select(col(idCol).as("_lfid"),
      explode(tokens(col(textCol))).as("word"))
    val wf = wordFreq(docs, textCol)
    tok.join(if (broadcastWf) broadcast(wf) else wf, "word")
      .groupBy("_lfid")
      .agg(round(avg(log(col("cnt").cast("double"))), 4).as("lf_score"))
      .select(col("_lfid").as(idCol), col("lf_score"))
  }

  /** Bigram-LM quality scoring — the perplexity-filter stage of the
    * public CCNet/Gopher-style pipeline (Wenzek et al. 2020 score crawl
    * text under an LM trained on a trusted reference corpus; low
    * likelihood = junk, extremely high = boilerplate), here with the LM
    * itself as DataFrame aggregations instead of an external KenLM
    * binary, so train and score are one lazy plan:
    *
    *   - TRAIN on `corpus`: unigram counts `c1(w)`, bigram counts
    *     `c2(w1 w2)` (two exploded hash-aggs, map-side partial), vocab
    *     size `V` as a 1-row aggregate — no driver-side collect;
    *   - SCORE `score`: each doc's interior bigrams (no BOS/EOS — docs
    *     with < 2 tokens get NULL) look up add-one-smoothed
    *     `P(w2|w1) = (c2 + 1) / (c1 + V)`, and the doc's score is the
    *     mean negative log2-likelihood in bits/bigram (`lm_bits`;
    *     2^lm_bits = per-token perplexity under the bigram model).
    *
    * Shuffle shape at scale: model lookups are equi-joins on the word /
    * bigram key — partial-aggregated counts shuffle, never text; with a
    * reference-corpus-sized model AQE broadcasts the build side, and at
    * web-scale vocabularies the join degrades gracefully to shuffle on
    * the Zipf-distributed key (same story as [[logFreqScore]]). The
    * 1-row vocab aggregate rides in as an explicit broadcast.
    *
    * Returns one row per `score` doc: (idCol, n_bigrams, lm_bits),
    * `lm_bits` NULL when the doc has no bigram. */
  def bigramLmScore(score: DataFrame, corpus: DataFrame,
                    idCol: String, textCol: String): DataFrame = {
    val toks = tokens(col(textCol))
    val corpusToks = corpus.select(explode(toks).as("w1"))
    val c1 = corpusToks.groupBy("w1").agg(count(lit(1)).as("c1"))
    val vocab = corpusToks.agg(count_distinct(col("w1")).as("v"))
    def bigramPos(df: DataFrame, cols: Column*): DataFrame =
      df.filter(size(toks) >= 2)
        .select(cols :+ toks.as("_toks"): _*)
        .select(cols :+ col("_toks") :+
          explode(sequence(lit(1), size(col("_toks")) - 1)).as("_i"): _*)
    val c2 = bigramPos(corpus)
      .select(concat_ws(" ", element_at(col("_toks"), col("_i")),
        element_at(col("_toks"), col("_i") + 1)).as("bg"))
      .groupBy("bg").agg(count(lit(1)).as("c2"))
    val sg = bigramPos(score, col(idCol))
      .select(col(idCol),
        element_at(col("_toks"), col("_i")).as("w1"),
        concat_ws(" ", element_at(col("_toks"), col("_i")),
          element_at(col("_toks"), col("_i") + 1)).as("bg"))
    val scored = sg.join(c2, Seq("bg"), "left").join(c1, Seq("w1"), "left")
      .crossJoin(broadcast(vocab))
      .select(col(idCol),
        (-log(2.0, (coalesce(col("c2"), lit(0L)) + lit(1.0)) /
          (coalesce(col("c1"), lit(0L)) + col("v")))).as("bits"))
      .groupBy(idCol)
      .agg(count(lit(1)).as("n_bigrams"), round(avg(col("bits")), 4).as("lm_bits"))
    score.select(col(idCol))
      .join(scored, Seq(idCol), "left")
      .select(col(idCol), coalesce(col("n_bigrams"), lit(0L)).as("n_bigrams"),
        col("lm_bits"))
  }

  /** Okapi BM25 relevance of every document against a bag of query
    * terms — the keyword-ranking half of hybrid (keyword + vector)
    * search, and the standard lexical baseline a vector store is
    * benchmarked against. Public formula (Robertson & Zaragoza 2009):
    *
    *   score(d) = Σ_t idf(t) · tf(t,d)·(k1+1)
    *                         / (tf(t,d) + k1·(1 − b + b·|d|/avgdl))
    *   idf(t)   = ln(1 + (N − df(t) + 0.5) / (df(t) + 0.5))
    *
    * Scale shape: the per-document token array is FILTERED to the query
    * terms BEFORE the explode, so the exchange under the (doc, word)
    * tf-aggregation carries only query-term occurrences — |terms| is
    * user-bounded and tiny, so the per-doc exploded volume is O(query
    * hits), never O(corpus tokens) (contrast [[tfIdf]], which by its
    * nature must explode everything). df and the (N, avgdl) corpus
    * stats are term-count-sized / single-row aggregates, broadcast into
    * the scoring join. Only documents containing at least one query
    * term appear in the output (BM25 of the rest is 0).
    *
    * Determinism: the per-document score sums ≤ |terms| doubles inside
    * one row (no partial-aggregation reordering of the outer sum beyond
    * term order, absorbed by the 4-decimal round — same contract as
    * [[tfIdf]]). */
  def bm25(docs: DataFrame, idCol: String, textCol: String,
           terms: Seq[String], k1: Double = 1.2,
           b: Double = 0.75,
           corpusStats: Option[(Double, Double)] = None): DataFrame = {
    require(terms.nonEmpty, "bm25 needs at least one query term")
    val base = docs.select(col(idCol).as("doc_id"),
      tokens(col(textCol)).as("_toks"))
      .select(col("doc_id"), col("_toks"),
        size(col("_toks")).cast("double").as("_dl"))
    // (n, avgdl) are BM25 index metadata — every deployment maintains
    // them with the index (TextIndex persists them; `Queries.docStats`
    // memoizes them per fixture dir). Callers without them pay one
    // corpus aggregation; callers with them skip a full tokenize pass.
    val withStats: DataFrame => DataFrame = corpusStats match {
      case Some((n, avgdl)) => _.withColumn("_n", lit(n))
        .withColumn("_avgdl", lit(avgdl))
      case None => _.crossJoin(broadcast(base.agg(
        count(lit(1)).cast("double").as("_n"),
        avg(col("_dl")).as("_avgdl"))))
    }
    // explode-then-isin instead of filter-then-explode: ArrayFilter is
    // CodegenFallback (interpreted lambda per token); the codegen'd
    // generate+In pipeline over the full token stream is faster AND
    // stays inside whole-stage codegen (r14 — same finding as the
    // native Tokens expression)
    val tf = base.select(col("doc_id"), col("_dl"),
        explode(col("_toks")).as("word"))
      .filter(col("word").isInCollection(terms.distinct))
      .groupBy(col("doc_id"), col("_dl"), col("word"))
      .agg(count(lit(1)).cast("double").as("_tf"))
    // document frequency as a window over the tf relation — (doc, word)
    // is unique there, so count(*) over (PARTITION BY word) IS the df;
    // the broadcast-join formulation re-executed the tokenize subtree
    // (the tfIdf finding applied here)
    val withDf = tf.withColumn("_df",
      count(lit(1)).over(org.apache.spark.sql.expressions.Window
        .partitionBy(col("word"))).cast("double"))
    val idf = log(lit(1.0) +
      (col("_n") - col("_df") + lit(0.5)) / (col("_df") + lit(0.5)))
    val norm = col("_tf") + lit(k1) *
      (lit(1.0) - lit(b) + lit(b) * col("_dl") / col("_avgdl"))
    withStats(withDf)
      .select(col("doc_id"),
        (idf * col("_tf") * lit(k1 + 1.0) / norm).as("_s"))
      .groupBy(col("doc_id"))
      .agg(round(sum(col("_s")), 4).as("bm25"))
  }

  /** BATCHED multi-query BM25 — the keyword twin of the vector side's
    * `IvfIndex.probeMany` / `SqIndex.searchMany`: answer a batch of
    * term-bag queries through ONE corpus pass instead of one job per
    * query. The union of all query terms (driver-resolvable by the same
    * small-query-relation contract as probeMany's probe set) filters
    * the token arrays BEFORE the explode, so the tf exchange still
    * carries only query-term hits; per-query scores come from one
    * (qid, doc) aggregation over the BROADCAST (qid, word) relation;
    * per-query top-k runs on the map-side bounded
    * [[graft.functions.TopKAggregator]] (score DESC, id ASC — the
    * engine tie-break), so each map task ships ≤ k rows per query.
    * Returns (qid, `idCol`, bm25, rank), ranks 1-based. Ids must be
    * integral (the aggregator carries (score, long-id) pairs). */
  def bm25Many(docs: DataFrame, idCol: String, textCol: String,
               queries: Seq[(Long, Seq[String])], k: Int,
               k1: Double = 1.2, b: Double = 0.75,
               corpusStats: Option[(Double, Double)] = None): DataFrame = {
    require(queries.nonEmpty && queries.forall(_._2.nonEmpty),
      "bm25Many needs at least one query, each with at least one term")
    val spark = docs.sparkSession
    import spark.implicits._
    val unionTerms = queries.flatMap(_._2).distinct
    val termLit = array(unionTerms.map(lit): _*)
    val base = docs.select(col(idCol).cast("long").as("doc_id"),
      tokens(col(textCol)).as("_toks"))
      .select(col("doc_id"), col("_toks"),
        size(col("_toks")).cast("double").as("_dl"))
    // same index-metadata / window-df fusion as [[bm25]]
    val withStats: DataFrame => DataFrame = corpusStats match {
      case Some((n, avgdl)) => _.withColumn("_n", lit(n))
        .withColumn("_avgdl", lit(avgdl))
      case None => _.crossJoin(broadcast(base.agg(
        count(lit(1)).cast("double").as("_n"),
        avg(col("_dl")).as("_avgdl"))))
    }
    // explode-then-isin, same rationale as [[bm25]]
    val tf = base.select(col("doc_id"), col("_dl"),
        explode(col("_toks")).as("word"))
      .filter(col("word").isInCollection(unionTerms))
      .groupBy(col("doc_id"), col("_dl"), col("word"))
      .agg(count(lit(1)).cast("double").as("_tf"))
    val withDf = tf.withColumn("_df",
      count(lit(1)).over(org.apache.spark.sql.expressions.Window
        .partitionBy(col("word"))).cast("double"))
    val qterms = queries.flatMap { case (qid, ts) => ts.distinct.map(qid -> _) }
      .toDF("qid", "word")
    val idf = log(lit(1.0) +
      (col("_n") - col("_df") + lit(0.5)) / (col("_df") + lit(0.5)))
    val norm = col("_tf") + lit(k1) *
      (lit(1.0) - lit(b) + lit(b) * col("_dl") / col("_avgdl"))
    val scored = withStats(withDf.join(broadcast(qterms), "word"))
      .select(col("qid"), col("doc_id"),
        (idf * col("_tf") * lit(k1 + 1.0) / norm).as("_s"))
      .groupBy(col("qid"), col("doc_id"))
      .agg(round(sum(col("_s")), 4).as("bm25"))
    val topk = udaf(new graft.functions.TopKAggregator(k))
    scored.groupBy(col("qid"))
      .agg(topk(col("bm25"), col("doc_id")).as("_top"))
      .select(col("qid"), posexplode(col("_top")).as(Seq("_pos", "_hit")))
      .select(col("qid"), col("_hit._2").as(idCol),
        col("_hit._1").as("bm25"), (col("_pos") + 1).cast("long").as("rank"))
  }

  /** tf-idf per (doc, word) (B12): tf from one agg, df from a second agg
    * over the same exploded relation, idf = ln(N/df). The doc-count N is
    * a 1-row aggregate broadcast into the join — no driver-side
    * `collect`. Output column `tfidf` rounded to 4 decimals. */
  def tfIdf(docs: DataFrame, idCol: String, textCol: String,
            corpusN: Option[Double] = None): DataFrame = {
    val tok = docs.select(col(idCol).as("doc_id"),
      explode(tokens(col(textCol))).as("word"))
    val tf = tok.groupBy("doc_id", "word").agg(count(lit(1)).as("tf"))
    // document frequency as a whole-partition WINDOW count over the tf
    // relation — (doc, word) is already unique there, so count(*) over
    // (PARTITION BY word) is the df. A broadcast-join formulation would
    // run the scan→tokenize→explode→aggregate subtree TWICE (once to
    // materialize the broadcast df side, once for the probe side); the
    // window is one extra exchange of the already-aggregated narrow
    // (doc, word, tf) rows — rows ≪ tokens — in a single linear plan.
    // `corpusN` is catalog metadata (parquet-footer row count — the
    // same index-metadata contract as bm25's corpusStats); callers
    // without it pay one column-pruned count + broadcast.
    val byWord = org.apache.spark.sql.expressions.Window.partitionBy("word")
    val withN: DataFrame => DataFrame = corpusN match {
      case Some(n) => _.withColumn("n", lit(n))
      case None => _.crossJoin(broadcast(
        docs.agg(count(lit(1)).cast("double").as("n"))))
    }
    withN(tf.withColumn("df", count(lit(1)).over(byWord)))
      .select(col("doc_id"), col("word"),
        round(col("tf") * log(col("n") / col("df")), 4).as("tfidf"))
  }
}
