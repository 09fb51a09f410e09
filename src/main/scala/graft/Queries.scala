package graft

import scala.collection.immutable.ListMap

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DecimalType, StructType}

import graft.functions.{Embedder, TransformerEmbedder, VectorFunctions}
import graft.functions.VectorFunctions._
import graft.operators.{Decontaminate, Dedup, Expectations, Forget, IvfIndex, LangId, Multimodal, NearDup, PdfText, PqIndex, Sampling, Search, Sketch, SpanDedup, SqIndex, TextAnalysis, TextIndex}
import graft.sources.{IncrementalView, VersionedCorpus}
import graft.streaming.Streams

/** One declared query: the Spark build plus (when SQL-expressible) the
  * DuckDB oracle that must hash-match it on the same parquet fixtures. */
final case class DeclaredQuery(
    build: (SparkSession, String) => DataFrame,
    oracle: Option[String],
    doc: String = "",
    // the INSPECTABLE pipeline for rows whose `build` collects to a
    // LocalRelation (the localFrameOrdered tail truncates lineage, so
    // `build(...).queryExecution` shows only a LocalTableScan):
    // PlanSpec / DumpPlans read THIS lazy twin when present — same
    // operators, no collecting tail — so the plan audit sees the real
    // distributed shape the collect executes
    planView: Option[(SparkSession, String) => DataFrame] = None) {
  /** The frame whose physical plan represents this row: the lazy
    * plan-view twin when declared; otherwise the build runs in
    * PLAN-CAPTURE mode — the first `localFrame`/`localFrameOrdered`
    * tail aborts BEFORE collecting and hands back the distributed
    * frame it was about to execute. A plan audit of a collected row
    * therefore (a) never silently inspects a LocalTableScan and
    * (b) never pays the row's full execution just to read its plan
    * (r17 advice). Multi-collect builds (lifecycle rows that union
    * several collected stages) capture their FIRST collect point —
    * the real distributed shape of that stage; DumpPlans marks these. */
  def planFrame(s: SparkSession, dir: String): DataFrame =
    planView match {
      case Some(v) => v(s, dir)
      case None =>
        Queries.PlanCapture.active.set(true)
        try build(s, dir)
        catch { case Queries.PlanCapture.Captured(df) => df }
        finally Queries.PlanCapture.active.set(false)
    }
}

/** The engine's declared query set — one entry per implemented operator
  * from SURVEY.md §2, wired into `SparkEntry.queries` / `oracleSql`.
  *
  * Determinism contract (SURVEY.md §7.5) for every query:
  *   - every output row order is pinned by a unique key suffix;
  *   - float outputs are `round(x, 4)` (mirroring the reference's 4-decimal
  *     display contract, reference `app.py:91`);
  *   - large double sums go through an exact DECIMAL(18,4) per-row cast so
  *     partial-aggregation order (Spark) vs single-threaded order (DuckDB)
  *     cannot change the result;
  *   - aggregates over BIGINT are cast to BIGINT on the DuckDB side
  *     (DuckDB widens integer sums to HUGEINT, Spark keeps LongType).
  */
object Queries
    extends QueriesTierVector with QueriesTierDedupText
    with QueriesTierRelational with QueriesTierStreamingBatch
    with QueriesTierNearDupVerify with QueriesTierTextAnalysis
    with QueriesTierIndexMediaStore {

  private[graft] def T(s: SparkSession, dir: String, n: String): DataFrame =
    Tables.load(s, dir, n)

  /** Exact decimal sum of a double column — deterministic under any
    * partitioning; see class doc. */
  private[graft] def decSum(c: Column): Column = sum(c.cast(DecimalType(18, 4)))

  private[graft] def dbl(c: Column): Column = c.cast("double")
  private[graft] def r4(c: Column): Column = round(c, 4)

  /** Deterministic-seeded transformer weight artifact, written once per
    * driver JVM (a cluster run distributes the same file via addFile /
    * shared store — executors only ever READ it through the session
    * cache). Lazy so sessions that never touch the model row never pay
    * the write. */
  private[graft] lazy val transformerArtifactPath: String = {
    val p = java.nio.file.Files.createTempFile("graft-gtfe", ".bin")
    p.toFile.deleteOnExit()
    TransformerEmbedder.writeRandom(p.toString)
    p.toString
  }

  /** Same deterministic weights as [[transformerArtifactPath]] plus the
    * checked-in tiny vocabulary section (graft/vocab_tiny.txt) — the
    * deployment shape where listed tokens resolve through the FILE and
    * out-of-vocabulary tokens fall back to hash-mod over the same
    * embedding table. */
  private[graft] lazy val transformerVocabArtifactPath: String = {
    val p = java.nio.file.Files.createTempFile("graft-gtfev", ".bin")
    p.toFile.deleteOnExit()
    TransformerEmbedder.writeRandom(p.toString,
      vocabTokens = TransformerEmbedder.tinyVocab())
    p.toString
  }

  /** Widen a COMPUTE-BOUND stage's input to at least the session's core
    * count. Model inference is CPU-bound, so a scan that arrives in
    * fewer partitions than cores (a tiny fixture = one parquet split)
    * runs the whole forward-pass stage on one thread — profiled at
    * 2.8 s single-threaded vs 0.43 s widened for the sf0.1 document
    * slice. At 100 TB input splits outnumber cores and this is a no-op;
    * the repartition moves only the slice being embedded, a cost that
    * vanishes next to the inference itself. */
  private[graft] def widenForCompute(df: DataFrame): DataFrame = {
    val cores = df.sparkSession.sparkContext.defaultParallelism
    if (df.rdd.getNumPartitions < cores) df.repartition(cores) else df
  }

  /** The documents table widened to core count — for the tokenize-heavy
    * rows: at fixture scale the table is ONE parquet split (one row
    * group), so scan→tokenize→explode→partial-agg otherwise serializes
    * on a single task (~0.3-0.6 s of the row's wall at sf0.1 under the
    * r14 job-count instrument) while the other cores idle. The
    * round-robin exchange it costs moves the kilobyte-scale raw rows
    * once; at 100 TB the scan has thousands of natural splits and
    * [[widenForCompute]] is a no-op. Result-neutral (every consumer is
    * an aggregation or a range repartition; oracle-pinned). */
  private[graft] def Tw(s: SparkSession, dir: String, name: String): DataFrame =
    widenForCompute(T(s, dir, name))

  private[graft] val q1Sql = QueryVectors.sql(QueryVectors.q1)
  private[graft] val q2Sql = QueryVectors.sql(QueryVectors.q2)

  /** DuckDB double-precision dot product matching `VectorFunctions.dot`. */
  private[graft] def duckDot(a: String, b: String) =
    s"list_dot_product(CAST($a AS DOUBLE[]), $b)"

  /** media_ann's query vector: the REAL decoded features of fixture
    * image 6 (w 38, h 30, rgb (102, 174, 2)) — computed once at init by
    * the same codec the query runs, so the Spark side and the SQL
    * literal below can only agree if the decode is deterministic. */
  private[graft] val mediaAnnQuery: Array[Float] =
    graft.operators.JvmCodec.decodeImage(graft.operators.JvmCodec.encodePng(
      graft.operators.JvmCodec.solidImage(38, 30, 102, 174, 2))).get.features
  private[graft] val mediaAnnQuerySql: String =
    mediaAnnQuery.map(f => f.toDouble.toString).mkString("[", ", ", "]")

  /** the expectation rules of the q_expect_* pair, in declaration order
    * (the quarantine lists preserve it). */
  private[graft] def docRules: Seq[graft.operators.Expectations.Rule] = {
    import graft.operators.Expectations.Rule
    Seq(
      Rule("len_max", col("n_chars") <= 400),
      Rule("lang_known", col("lang").isin("en", "de", "fr")),
      Rule("text_nonempty", length(col("text")) > 0),
      Rule("len_consistent", length(col("text")) === col("n_chars")))
  }

  /** The closed-form polynomial hash of `NearDup.polyHash`, as DuckDB
    * SQL over any string expression — shared by the two `_fixed` text
    * candidate twins. */
  private[graft] def duckPolyHash(expr: String): String =
    s"list_reduce(list_prepend(7::BIGINT, " +
      s"[unicode(c)::BIGINT FOR c IN string_split($expr, '')]), " +
      "(a, x) -> (a * 131 + x) % 1000000007)"

  /** Shared CTE chain of the SimHash fixed-twin oracles (self and
    * cross): per-token polynomial hash, 24 sign-vote bit sums, 3×8
    * banding — yields CTEs `d, th, sig, banded`. */
  private lazy val simhashPolyCtesSql: String = {
    val bits = (0 until 24).map(i =>
      s"(CASE WHEN sum(CASE WHEN (h >> $i) & 1 = 1 THEN 1 ELSE -1 END) > 0 " +
        s"THEN ${1L << i} ELSE 0 END)").mkString(" + ")
    s"""d AS (SELECT doc_id,
       |    list_filter(string_split(text, ' '), t -> t <> '') AS toks
       |  FROM documents WHERE doc_id < 2000),
       |th AS (SELECT doc_id, ${duckPolyHash("tok")} AS h
       |  FROM (SELECT doc_id, unnest(toks) AS tok FROM d WHERE len(toks) > 0)),
       |sig AS (SELECT doc_id, $bits AS sig FROM th GROUP BY doc_id),
       |banded AS (SELECT doc_id, sig, t.b AS band, (sig >> (t.b * 8)) & 255 AS key
       |  FROM sig CROSS JOIN unnest([0, 1, 2]) AS t(b))""".stripMargin
  }

  /** `simhash_pairs_fixed` oracle: the full SimHash chain — per-token
    * polynomial hash, 24 sign-vote bit sums, 3×8 banding, bucket join,
    * bit_count Hamming ≤ 2 — as one static replay. */
  private[graft] lazy val simhashFixedOracleSql: String =
    s"""WITH $simhashPolyCtesSql
       |SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
       |  CAST(bit_count(xor(a.sig, b.sig)) AS BIGINT) AS hamming
       |FROM banded a JOIN banded b USING (band, key)
       |WHERE a.doc_id < b.doc_id AND bit_count(xor(a.sig, b.sig)) <= 2
       |ORDER BY id_a, id_b""".stripMargin

  /** `incr_near_dup_simhash_fixed` oracle: the CROSS-SET SimHash
    * candidate chain (incoming ≥ 250 meets corpus < 250 only inside a
    * shared band bucket) under the closed-form hash. */
  private[graft] lazy val incrSimhashFixedOracleSql: String =
    s"""WITH $simhashPolyCtesSql
       |SELECT DISTINCT a.doc_id AS id_new, b.doc_id AS id_old,
       |  CAST(bit_count(xor(a.sig, b.sig)) AS BIGINT) AS hamming
       |FROM banded a JOIN banded b USING (band, key)
       |WHERE a.doc_id >= 250 AND b.doc_id < 250
       |  AND bit_count(xor(a.sig, b.sig)) <= 2
       |ORDER BY id_new, id_old""".stripMargin

  /** Shared CTE chain of the MinHash fixed-twin oracles (self, cross,
    * and the end-to-end pipeline): distinct token-3-gram shingles →
    * polynomial base hash → 8 affine-rehash minima (constants mirror
    * `NearDup.polyA`/`polyB` verbatim) → 4 bands × 2 rows — yields
    * CTEs `d, g0, g, gh, sig, banded`. */
  private lazy val minhashPolyCtesSql: String = minhashPolyCtesFromD(
    s"""d AS (SELECT doc_id,
       |    list_filter(string_split(text, ' '), t -> t <> '') AS toks
       |  FROM documents WHERE doc_id < 2000)""".stripMargin)

  /** [[minhashPolyCtesSql]] with the SOURCE relation injectable: `dCte`
    * must define a CTE named `d(doc_id, toks)` (non-empty tokens). Used
    * by the clean-admit twin, whose poly chain runs over corpus
    * originals ∪ span-STRIPPED incoming texts instead of raw
    * `documents`. */
  private def minhashPolyCtesFromD(dCte: String): String = {
    val P = 1000000007L
    val a = graft.operators.NearDup.polyA
    val b = graft.operators.NearDup.polyB
    val sigs = (0 until 8).map(i =>
      s"min((${a(i)}::BIGINT * h + ${b(i)}) % $P) AS s$i").mkString(", ")
    val bandSelects = (0 until 4).map(bd =>
      s"SELECT doc_id, $bd AS band, s${bd * 2} AS k0, s${bd * 2 + 1} AS k1 FROM sig")
      .mkString("\n  UNION ALL\n  ")
    s"""$dCte,
       |g0 AS (
       |  SELECT doc_id, array_to_string(toks, ' ') AS gram
       |  FROM d WHERE len(toks) BETWEEN 1 AND 2
       |  UNION ALL
       |  SELECT doc_id, array_to_string(toks[t.i:t.i+2], ' ') AS gram
       |  FROM d CROSS JOIN unnest(generate_series(1, len(toks) - 2)) AS t(i)
       |  WHERE len(toks) >= 3),
       |g AS (SELECT DISTINCT doc_id, gram FROM g0),
       |gh AS (SELECT doc_id, ${duckPolyHash("gram")} AS h FROM g),
       |sig AS (SELECT doc_id, $sigs FROM gh GROUP BY doc_id),
       |banded AS (
       |  $bandSelects)""".stripMargin
  }

  /** `minhash_pairs_fixed` oracle: the shared MinHash chain closed by
    * the banded SELF-join, as one static replay. */
  private[graft] lazy val minhashFixedOracleSql: String =
    s"""WITH $minhashPolyCtesSql
       |SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
       |FROM banded a JOIN banded b
       |  ON a.band = b.band AND a.k0 = b.k0 AND a.k1 = b.k1
       |WHERE a.doc_id < b.doc_id
       |ORDER BY id_a, id_b""".stripMargin

  /** `incr_near_dup_fixed` oracle: the CROSS-SET MinHash candidate
    * chain (incoming ≥ 250 × corpus < 250 inside shared band buckets)
    * plus the exact 3-gram Jaccard verify at ≥ 0.8 — the whole
    * ingestion-side near-dup tier as one static replay. */
  private[graft] lazy val incrNearDupFixedOracleSql: String =
    s"""WITH $minhashPolyCtesSql,
       |cand AS (
       |  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
       |  FROM banded a JOIN banded b
       |    ON a.band = b.band AND a.k0 = b.k0 AND a.k1 = b.k1
       |  WHERE a.doc_id >= 250 AND b.doc_id < 250),
       |sets AS (SELECT doc_id, list(gram) AS s FROM g GROUP BY doc_id)
       |SELECT c.id_a, c.id_b,
       |  round(len(list_intersect(sa.s, sb.s))::DOUBLE
       |      / len(list_distinct(sa.s || sb.s)), 4) AS jaccard
       |FROM cand c
       |JOIN sets sa ON sa.doc_id = c.id_a
       |JOIN sets sb ON sb.doc_id = c.id_b
       |WHERE round(len(list_intersect(sa.s, sb.s))::DOUBLE
       |    / len(list_distinct(sa.s || sb.s)), 4) >= 0.8
       |ORDER BY id_a, id_b""".stripMargin

  /** `incr_admit_fixed` oracle: the FULL two-tier admission verdict
    * under the closed-form hash — the exact-fingerprint anti-join
    * tier, then the cross-set banded MinHash candidates restricted to
    * the exact-tier survivors, the 3-gram Jaccard verify at ≥ 0.8, and
    * the final anti-join, rolled up per lang. This is `incr_admit`'s
    * byte-exact twin: the same kernel chain (`Dedup.admitIncoming`'s
    * shape) with the seeded signature swapped for the polynomial hash,
    * so the admit/reject VERDICT itself is replayed as one static
    * DuckDB query. */
  private[graft] lazy val incrAdmitFixedOracleSql: String =
    s"""WITH $minhashPolyCtesSql,
       |cfp AS (SELECT DISTINCT
       |    array_to_string(list_sort(string_split(text, ' ')), ' ') AS fp
       |  FROM documents WHERE doc_id < 250),
       |keptx AS (SELECT i.doc_id, i.lang
       |  FROM documents i
       |  WHERE i.doc_id >= 250 AND i.doc_id < 2000 AND NOT EXISTS (
       |    SELECT 1 FROM cfp c WHERE c.fp =
       |      array_to_string(list_sort(string_split(i.text, ' ')), ' '))),
       |cand AS (
       |  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
       |  FROM banded a JOIN banded b
       |    ON a.band = b.band AND a.k0 = b.k0 AND a.k1 = b.k1
       |  JOIN keptx k ON k.doc_id = a.doc_id
       |  WHERE b.doc_id < 250),
       |sets AS (SELECT doc_id, list(gram) AS s FROM g GROUP BY doc_id),
       |rej AS (
       |  SELECT DISTINCT c.id_a AS doc_id
       |  FROM cand c
       |  JOIN sets sa ON sa.doc_id = c.id_a
       |  JOIN sets sb ON sb.doc_id = c.id_b
       |  WHERE round(len(list_intersect(sa.s, sb.s))::DOUBLE
       |      / len(list_distinct(sa.s || sb.s)), 4) >= 0.8)
       |SELECT k.lang, count(*)::BIGINT AS n_admitted,
       |  min(k.doc_id) AS first_id
       |FROM keptx k
       |WHERE k.doc_id NOT IN (SELECT doc_id FROM rej)
       |GROUP BY k.lang ORDER BY k.lang""".stripMargin

  /** `incr_admit_seq_fixed` oracle: the TWO-DAY evolving admission
    * replay (`incr_admit_seq`'s shape) under the closed-form hash —
    * day 1 (250 ≤ id < 375) admits against the corpus (< 250); day 2
    * (id ≥ 375) admits against corpus ∪ DAY-1 ADMISSIONS, so day-1's
    * verdict feeds day-2's exact-fingerprint set AND its banded
    * candidate side. The day-2 corpus is just a CTE over day-1's
    * result — the whole evolving sequence replays as one static query. */
  private[graft] lazy val incrAdmitSeqFixedOracleSql: String =
    s"""WITH $minhashPolyCtesSql,
       |sets AS (SELECT doc_id, list(gram) AS s FROM g GROUP BY doc_id),
       |cfp1 AS (SELECT DISTINCT
       |    array_to_string(list_sort(string_split(text, ' ')), ' ') AS fp
       |  FROM documents WHERE doc_id < 250),
       |kept1 AS (SELECT i.doc_id, i.lang
       |  FROM documents i
       |  WHERE i.doc_id >= 250 AND i.doc_id < 375 AND NOT EXISTS (
       |    SELECT 1 FROM cfp1 c WHERE c.fp =
       |      array_to_string(list_sort(string_split(i.text, ' ')), ' '))),
       |cand1 AS (
       |  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
       |  FROM banded a JOIN banded b
       |    ON a.band = b.band AND a.k0 = b.k0 AND a.k1 = b.k1
       |  JOIN kept1 k ON k.doc_id = a.doc_id
       |  WHERE b.doc_id < 250),
       |rej1 AS (
       |  SELECT DISTINCT c.id_a AS doc_id
       |  FROM cand1 c
       |  JOIN sets sa ON sa.doc_id = c.id_a
       |  JOIN sets sb ON sb.doc_id = c.id_b
       |  WHERE round(len(list_intersect(sa.s, sb.s))::DOUBLE
       |      / len(list_distinct(sa.s || sb.s)), 4) >= 0.8),
       |adm1 AS (SELECT doc_id, lang FROM kept1
       |  WHERE doc_id NOT IN (SELECT doc_id FROM rej1)),
       |cfp2 AS (SELECT DISTINCT
       |    array_to_string(list_sort(string_split(text, ' ')), ' ') AS fp
       |  FROM documents
       |  WHERE doc_id < 250 OR doc_id IN (SELECT doc_id FROM adm1)),
       |kept2 AS (SELECT i.doc_id, i.lang
       |  FROM documents i
       |  WHERE i.doc_id >= 375 AND i.doc_id < 2000 AND NOT EXISTS (
       |    SELECT 1 FROM cfp2 c WHERE c.fp =
       |      array_to_string(list_sort(string_split(i.text, ' ')), ' '))),
       |cand2 AS (
       |  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
       |  FROM banded a JOIN banded b
       |    ON a.band = b.band AND a.k0 = b.k0 AND a.k1 = b.k1
       |  JOIN kept2 k ON k.doc_id = a.doc_id
       |  WHERE b.doc_id < 250
       |     OR b.doc_id IN (SELECT doc_id FROM adm1)),
       |rej2 AS (
       |  SELECT DISTINCT c.id_a AS doc_id
       |  FROM cand2 c
       |  JOIN sets sa ON sa.doc_id = c.id_a
       |  JOIN sets sb ON sb.doc_id = c.id_b
       |  WHERE round(len(list_intersect(sa.s, sb.s))::DOUBLE
       |      / len(list_distinct(sa.s || sb.s)), 4) >= 0.8),
       |adm2 AS (SELECT doc_id, lang FROM kept2
       |  WHERE doc_id NOT IN (SELECT doc_id FROM rej2))
       |SELECT * FROM (
       |  SELECT CAST(1 AS BIGINT) AS day, lang,
       |    count(*)::BIGINT AS n_admitted, min(doc_id) AS first_id
       |  FROM adm1 GROUP BY lang
       |  UNION ALL
       |  SELECT CAST(2 AS BIGINT) AS day, lang,
       |    count(*)::BIGINT AS n_admitted, min(doc_id) AS first_id
       |  FROM adm2 GROUP BY lang)
       |ORDER BY day, lang""".stripMargin

  /** `incr_clean_admit_fixed` oracle: the FULL clean-then-admit kernel
    * (`Dedup.cleanAndAdmit`'s shape) under the closed-form hash — the
    * span-strip chain (incr_span_strip's oracle-green CTEs, prefixed
    * `s*` to avoid colliding with the poly chain's names) rewrites
    * each incoming doc with corpus-copied token runs removed; docs
    * with nothing novel left drop; the two-tier admission (exact
    * fingerprint anti-join + banded candidates + 3-gram Jaccard
    * verify, all over the CLEANED text) then replays statically. The
    * poly chain's source relation is corpus originals ∪ cleaned
    * incoming — the parameterized `d` CTE. */
  private[graft] lazy val incrCleanAdmitFixedOracleSql: String = {
    val polyCtes = minhashPolyCtesFromD(
      s"""d AS (
         |  SELECT doc_id,
         |    list_filter(string_split(text, ' '), t -> t <> '') AS toks
         |  FROM documents WHERE doc_id < 250
         |  UNION ALL
         |  SELECT doc_id,
         |    list_filter(string_split(text, ' '), t -> t <> '') AS toks
         |  FROM cleaned)""".stripMargin)
    s"""WITH st AS (
       |  SELECT doc_id, string_split(text, ' ') AS toks FROM documents
       |  WHERE doc_id >= 250 AND doc_id < 2000),
       |sct AS (
       |  SELECT doc_id, string_split(text, ' ') AS toks FROM documents
       |  WHERE doc_id < 250),
       |sgp AS (
       |  SELECT doc_id, toks, CAST(unnest(range(1, len(toks)-6)) AS INT) AS pos
       |  FROM st WHERE len(toks) >= 8),
       |sg AS (
       |  SELECT doc_id, pos,
       |         array_to_string(list_slice(toks, pos, pos+7), ' ') AS gram
       |  FROM sgp),
       |scgp AS (
       |  SELECT toks, CAST(unnest(range(1, len(toks)-6)) AS INT) AS pos
       |  FROM sct WHERE len(toks) >= 8),
       |scg AS (
       |  SELECT DISTINCT array_to_string(list_slice(toks, pos, pos+7), ' ')
       |    AS gram
       |  FROM scgp),
       |sp0 AS (SELECT sg.doc_id, sg.pos FROM sg SEMI JOIN scg USING (gram)),
       |sisl AS (
       |  SELECT doc_id, pos,
       |    CASE WHEN pos - lag(pos) OVER (PARTITION BY doc_id ORDER BY pos) <= 8
       |         THEN 0 ELSE 1 END AS brk
       |  FROM sp0),
       |sisl2 AS (SELECT doc_id, pos,
       |    sum(brk) OVER (PARTITION BY doc_id ORDER BY pos) AS island FROM sisl),
       |ssp AS (SELECT doc_id, island, min(pos) AS s, max(pos)+7 AS e
       |        FROM sisl2 GROUP BY doc_id, island),
       |scov AS (
       |  SELECT doc_id, CAST(unnest(range(s, e+1)) AS INT) AS pos FROM ssp),
       |stok AS (
       |  SELECT doc_id, toks, CAST(unnest(range(1, len(toks)+1)) AS INT) AS pos
       |  FROM st),
       |skeep AS (
       |  SELECT tp.doc_id, tp.pos, list_extract(tp.toks, tp.pos) AS tok
       |  FROM stok tp ANTI JOIN scov c USING (doc_id, pos)),
       |so AS (
       |  SELECT doc_id, count(*) AS kept_tokens,
       |         array_to_string(list(tok ORDER BY pos), ' ') AS cleaned
       |  FROM skeep GROUP BY doc_id),
       |cleaned AS (
       |  SELECT doc_id, cleaned AS text FROM so WHERE kept_tokens >= 1),
       |$polyCtes,
       |sets AS (SELECT doc_id, list(gram) AS s FROM g GROUP BY doc_id),
       |cfp AS (SELECT DISTINCT
       |    array_to_string(list_sort(string_split(text, ' ')), ' ') AS fp
       |  FROM documents WHERE doc_id < 250),
       |keptx AS (SELECT c.doc_id, c.text
       |  FROM cleaned c
       |  WHERE NOT EXISTS (
       |    SELECT 1 FROM cfp f WHERE f.fp =
       |      array_to_string(list_sort(string_split(c.text, ' ')), ' '))),
       |cand AS (
       |  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
       |  FROM banded a JOIN banded b
       |    ON a.band = b.band AND a.k0 = b.k0 AND a.k1 = b.k1
       |  JOIN keptx k ON k.doc_id = a.doc_id
       |  WHERE b.doc_id < 250),
       |rej AS (
       |  SELECT DISTINCT c.id_a AS doc_id
       |  FROM cand c
       |  JOIN sets sa ON sa.doc_id = c.id_a
       |  JOIN sets sb ON sb.doc_id = c.id_b
       |  WHERE round(len(list_intersect(sa.s, sb.s))::DOUBLE
       |      / len(list_distinct(sa.s || sb.s)), 4) >= 0.8)
       |SELECT dl.lang, count(*)::BIGINT AS n_admitted,
       |  CAST(sum(len(list_filter(string_split(k.text, ' '), x -> x <> '')))
       |    AS BIGINT) AS kept_tokens,
       |  min(k.doc_id) AS first_id
       |FROM keptx k
       |JOIN documents dl ON dl.doc_id = k.doc_id
       |WHERE k.doc_id NOT IN (SELECT doc_id FROM rej)
       |GROUP BY dl.lang ORDER BY dl.lang""".stripMargin
  }

  /** `incr_gated_admit_fixed` oracle: [[incrAdmitFixedOracleSql]] with
    * the row-local Gopher quality gate in front of the exact tier —
    * `Dedup.gateAndAdmit`'s verdict under the closed-form hash. The
    * gate's four rules replay `q_gopher_rules`' oracle arithmetic
    * verbatim. */
  private[graft] lazy val incrGatedAdmitFixedOracleSql: String =
    s"""WITH $minhashPolyCtesSql,
       |gt AS (SELECT doc_id,
       |    list_filter(string_split(text, ' '), x -> x <> '') AS tk
       |  FROM documents WHERE doc_id >= 250 AND doc_id < 2000),
       |gs AS (SELECT doc_id,
       |    len(tk) AS n_words,
       |    list_sum(list_transform(tk, x -> length(x)))::DOUBLE
       |      / len(tk) AS mwl,
       |    len(list_filter(tk, x -> x IN ('the','a','of','to','in')))
       |      AS n_stop,
       |    list_max(list_transform(list_distinct(tk),
       |        w -> len(list_filter(tk, x -> x = w))))::DOUBLE
       |      / len(tk) AS topfrac
       |  FROM gt),
       |gpass AS (SELECT doc_id FROM gs
       |  WHERE n_words >= 20 AND n_words <= 80
       |    AND mwl >= 3.9 AND mwl <= 5.0 AND n_stop >= 2
       |    AND topfrac <= 0.15),
       |cfp AS (SELECT DISTINCT
       |    array_to_string(list_sort(string_split(text, ' ')), ' ') AS fp
       |  FROM documents WHERE doc_id < 250),
       |keptx AS (SELECT i.doc_id, i.lang
       |  FROM documents i JOIN gpass gp ON gp.doc_id = i.doc_id
       |  WHERE NOT EXISTS (
       |    SELECT 1 FROM cfp c WHERE c.fp =
       |      array_to_string(list_sort(string_split(i.text, ' ')), ' '))),
       |cand AS (
       |  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
       |  FROM banded a JOIN banded b
       |    ON a.band = b.band AND a.k0 = b.k0 AND a.k1 = b.k1
       |  JOIN keptx k ON k.doc_id = a.doc_id
       |  WHERE b.doc_id < 250),
       |sets AS (SELECT doc_id, list(gram) AS s FROM g GROUP BY doc_id),
       |rej AS (
       |  SELECT DISTINCT c.id_a AS doc_id
       |  FROM cand c
       |  JOIN sets sa ON sa.doc_id = c.id_a
       |  JOIN sets sb ON sb.doc_id = c.id_b
       |  WHERE round(len(list_intersect(sa.s, sb.s))::DOUBLE
       |      / len(list_distinct(sa.s || sb.s)), 4) >= 0.8)
       |SELECT k.lang, count(*)::BIGINT AS n_admitted,
       |  min(k.doc_id) AS first_id
       |FROM keptx k
       |WHERE k.doc_id NOT IN (SELECT doc_id FROM rej)
       |GROUP BY k.lang ORDER BY k.lang""".stripMargin

  /** `dedup_pipeline_lsh_fixed` oracle: the END-TO-END LSH dedup
    * pipeline under the closed-form hash — [[minhashFixedOracleSql]]'s
    * candidate chain (distinct 3-gram shingles → polynomial hash →
    * affine minima → banded self-join), then the exact 3-gram Jaccard
    * verify at ≥ 0.8 over the same shingle sets, then recursive-CTE
    * connected components over the verified edges, min-id
    * representative + component size — one static replay of the whole
    * flagship composition (every stage was already individually
    * oracle-certified; this row certifies the chaining). */
  private[graft] lazy val dedupPipelineLshFixedOracleSql: String =
    s"""WITH RECURSIVE
       |$minhashPolyCtesSql,
       |cand AS (
       |  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
       |  FROM banded a JOIN banded b
       |    ON a.band = b.band AND a.k0 = b.k0 AND a.k1 = b.k1
       |  WHERE a.doc_id < b.doc_id),
       |sets AS (SELECT doc_id, list(gram) AS s FROM g GROUP BY doc_id),
       |e AS (
       |  SELECT c.id_a AS src, c.id_b AS dst
       |  FROM cand c
       |  JOIN sets sa ON sa.doc_id = c.id_a
       |  JOIN sets sb ON sb.doc_id = c.id_b
       |  WHERE round(len(list_intersect(sa.s, sb.s))::DOUBLE
       |      / len(list_distinct(sa.s || sb.s)), 4) >= 0.8),
       |e2 AS (SELECT src, dst FROM e UNION ALL SELECT dst, src FROM e),
       |r AS (
       |  SELECT doc_id AS v, doc_id AS comp
       |  FROM documents WHERE doc_id < 2000
       |  UNION
       |  SELECT e2.src, r.comp FROM e2 JOIN r ON r.v = e2.dst
       |),
       |comp AS (SELECT v AS doc_id, min(comp) AS component FROM r GROUP BY v),
       |sizes AS (SELECT component, count(*)::BIGINT AS n_docs
       |          FROM comp GROUP BY component),
       |reps AS (SELECT component, min(doc_id) AS doc_id
       |         FROM comp GROUP BY component)
       |SELECT rp.doc_id, dd.lang, rp.component, sz.n_docs
       |FROM reps rp
       |JOIN sizes sz USING (component)
       |JOIN documents dd ON dd.doc_id = rp.doc_id
       |ORDER BY rp.doc_id""".stripMargin

  /** Shared CTE chain of the winnowing fixed-twin oracles (self and
    * cross): token-3-gram polynomial hashes, window-4 minima over full
    * windows, distinct fingerprints — yields CTEs `d, g, gh, w, fps`. */
  private lazy val winnowPolyCtesSql: String =
    s"""d AS (SELECT doc_id,
       |    list_filter(string_split(text, ' '), t -> t <> '') AS toks
       |  FROM documents WHERE doc_id < 2000),
       |g AS (
       |  SELECT doc_id, 1 AS pos, array_to_string(toks, ' ') AS gram
       |  FROM d WHERE len(toks) BETWEEN 1 AND 2
       |  UNION ALL
       |  SELECT doc_id, t.i AS pos, array_to_string(toks[t.i:t.i+2], ' ') AS gram
       |  FROM d CROSS JOIN unnest(generate_series(1, len(toks) - 2)) AS t(i)
       |  WHERE len(toks) >= 3),
       |gh AS (SELECT doc_id, pos, ${duckPolyHash("gram")} AS h FROM g),
       |w AS (SELECT doc_id, pos,
       |    min(h) OVER (PARTITION BY doc_id ORDER BY pos
       |                 ROWS BETWEEN 3 PRECEDING AND CURRENT ROW) AS fp
       |  FROM gh QUALIFY pos >= 4),
       |fps AS (SELECT DISTINCT doc_id, fp FROM w)""".stripMargin

  /** `winnow_pairs_fixed` oracle: the shared winnowing chain closed by
    * the fingerprint-bucket SELF-join with n_shared ≥ 2. */
  private[graft] lazy val winnowFixedOracleSql: String =
    s"""WITH $winnowPolyCtesSql
       |SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*)::BIGINT AS n_shared
       |FROM fps a JOIN fps b USING (fp)
       |WHERE a.doc_id < b.doc_id
       |GROUP BY 1, 2 HAVING count(*) >= 2
       |ORDER BY id_a, id_b""".stripMargin

  /** `incr_near_dup_winnow_fixed` oracle: the CROSS-SET winnowing
    * candidate chain (incoming ≥ 250 × corpus < 250 inside shared
    * fingerprint buckets) under the closed-form hash. */
  private[graft] lazy val incrWinnowFixedOracleSql: String =
    s"""WITH $winnowPolyCtesSql
       |SELECT a.doc_id AS id_new, b.doc_id AS id_old,
       |  count(*)::BIGINT AS n_shared
       |FROM fps a JOIN fps b USING (fp)
       |WHERE a.doc_id >= 250 AND b.doc_id < 250
       |GROUP BY 1, 2 HAVING count(*) >= 2
       |ORDER BY id_new, id_old""".stripMargin

  /** The `ann_lsh` oracle, GENERATED from the same deterministic
    * exact-decimal hyperplanes the operator uses
    * ([[graft.operators.HyperplaneLsh.planes]]): per-row bucket =
    * Σ 2^b over planes with dot(v, p_b) > 0, restricted to the
    * driver-computed multi-probe set, exact dot re-rank. The 6-decimal
    * plane components parse to bit-identical doubles in both engines
    * (the QueryVectors discipline). */
  private[graft] lazy val annLshOracleSql: String = {
    val nBits = 6
    val ps = graft.operators.HyperplaneLsh.planes(QueryVectors.dim, nBits)
    def planeSql(p: IndexedSeq[Double]): String =
      p.map(d => "%.6f".formatLocal(java.util.Locale.ROOT, d))
        .mkString("[", ",", "]") + "::DOUBLE[]"
    val bucket = ps.zipWithIndex.map { case (p, b) =>
      s"(CASE WHEN list_dot_product(CAST(embedding AS DOUBLE[]), " +
        s"${planeSql(p)}) > 0 THEN ${1L << b} ELSE 0 END)"
    }.mkString(" + ")
    val probes = graft.operators.HyperplaneLsh
      .probeSet(QueryVectors.q1, ps).mkString(", ")
    s"""WITH b AS (
       |  SELECT vec_id, embedding, $bucket AS bucket FROM embeddings)
       |SELECT vec_id,
       |  round(${duckDot("embedding", q1Sql)}, 4) AS sim
       |FROM b WHERE bucket IN ($probes)
       |ORDER BY sim DESC, vec_id LIMIT 10""".stripMargin
  }

  /** The JL query family's shared literals: the 16×64 Rademacher ±0.25
    * projection matrix ([[VectorFunctions.jlMatrix]] — entries are
    * exact binary fractions) and the pre-projected query vector, used
    * by BOTH the Spark plans and the GENERATED DuckDB SQL so the two
    * engines compute from bit-identical doubles (the QueryVectors
    * discipline applied to a whole matrix). */
  private[graft] lazy val jlM: Seq[IndexedSeq[Double]] =
    VectorFunctions.jlMatrix(16, QueryVectors.dim)
  private[graft] lazy val jlQ1: IndexedSeq[Double] = jlM
    .map(r => r.zip(QueryVectors.q1).map { case (a, b) => a * b }.sum)
    .toIndexedSeq
  private[graft] def jlListSql(v: Seq[Double]): String =
    v.map(_.toString).mkString("[", ",", "]") + "::DOUBLE[]"
  /** `[dot(e,row_0), …, dot(e,row_15)]` — the projected vector in SQL. */
  private[graft] lazy val jlProjSql: String =
    jlM.map(r => duckDot("embedding", jlListSql(r))).mkString("[", ", ", "]")
  private[graft] lazy val jlPsimSql: String =
    s"round(list_dot_product(${jlListSql(jlQ1)}, $jlProjSql), 4)"

  /** The sign-LSH bucket fold as SQL: 16 statically-generated
    * exact-decimal plane literals, of which the first `nbits` (a column
    * from a CROSS JOINed meta CTE) are active. Plane components depend
    * only on (dim, plane) — never on nbits — so one literal set serves
    * every corpus size. */
  private[graft] lazy val lshBucketCaseSql: String = {
    val ps = graft.operators.HyperplaneLsh.planes(QueryVectors.dim, 16)
    def planeSql(p: IndexedSeq[Double]): String =
      p.map(d => "%.6f".formatLocal(java.util.Locale.ROOT, d))
        .mkString("[", ",", "]") + "::DOUBLE[]"
    ps.zipWithIndex.map { case (p, b) =>
      s"(CASE WHEN $b < nbits AND list_dot_product(" +
        s"CAST(embedding AS DOUBLE[]), ${planeSql(p)}) > 0 " +
        s"THEN ${1L << b} ELSE 0 END)"
    }.mkString("\n      + ")
  }

  /** The `near_dup_embed_lsh` oracle — the whole SCALE-path LSH chain
    * replayed by DuckDB, including the occupancy-constant banding
    * formula: nbits = max(6, ⌈log2(n/4)⌉) computed FROM THE TABLE (so
    * the oracle tracks the corpus size exactly as the operator does),
    * 16 statically-generated exact-decimal plane literals of which the
    * first nbits are active (plane components depend only on (dim,
    * plane) — never on nbits), and the 1-bit multiprobe candidate rule
    * expressed as hamming(bucket_a, bucket_b) ≤ 1 (equivalent to the
    * probe-set formulation since buckets only set active bits). The
    * replay join is deliberately quadratic in candidate GENERATION
    * (n² bucket comparisons — fine at fixture scale); the operator's
    * claim is that its bucket join yields the SAME pairs without ever
    * forming n². */
  private[graft] lazy val nearDupEmbedLshOracleSql: String = {
    val bucket = lshBucketCaseSql
    s"""WITH meta AS (
       |  SELECT greatest(6, CAST(ceil(log2(count(*) / 4.0)) AS INT))
       |    AS nbits
       |  FROM embeddings),
       |bkt AS (
       |  SELECT vec_id, embedding,
       |    $bucket AS bucket
       |  FROM embeddings CROSS JOIN meta),
       |pairs AS (
       |  SELECT a.vec_id AS id_a, b.vec_id AS id_b,
       |         a.embedding AS va, b.embedding AS vb
       |  FROM bkt a JOIN bkt b
       |    ON a.vec_id < b.vec_id
       |   AND bit_count(xor(a.bucket, b.bucket)) <= 1)
       |SELECT id_a, id_b, cos FROM (
       |  SELECT id_a, id_b,
       |    round(list_dot_product(CAST(va AS DOUBLE[]), CAST(vb AS DOUBLE[]))
       |      / (sqrt(list_dot_product(CAST(va AS DOUBLE[]),
       |                               CAST(va AS DOUBLE[])))
       |         * sqrt(list_dot_product(CAST(vb AS DOUBLE[]),
       |                                 CAST(vb AS DOUBLE[])))), 4) AS cos
       |  FROM pairs)
       |WHERE cos >= 0.3 ORDER BY id_a, id_b""".stripMargin
  }

  /** The `incr_near_dup_embed` oracle — the CROSS-SET twin of
    * [[nearDupEmbedLshOracleSql]]: nbits sized from the CORPUS side
    * only (the operator's occupancy rule), candidate pairs restricted
    * to incoming×corpus, same hamming ≤ 1 multiprobe equivalence. */
  private[graft] lazy val incrNearDupEmbedOracleSql: String = {
    val bucket = lshBucketCaseSql
    s"""WITH meta AS (
       |  SELECT greatest(6, CAST(ceil(log2(count(*) / 4.0)) AS INT))
       |    AS nbits
       |  FROM embeddings WHERE vec_id % 5 <> 0),
       |bkt AS (
       |  SELECT vec_id, embedding,
       |    $bucket AS bucket
       |  FROM embeddings CROSS JOIN meta),
       |pairs AS (
       |  SELECT a.vec_id AS id_a, b.vec_id AS id_b,
       |         a.embedding AS va, b.embedding AS vb
       |  FROM bkt a JOIN bkt b
       |    ON a.vec_id % 5 = 0 AND b.vec_id % 5 <> 0
       |   AND bit_count(xor(a.bucket, b.bucket)) <= 1)
       |SELECT id_a, id_b, cos FROM (
       |  SELECT id_a, id_b,
       |    round(list_dot_product(CAST(va AS DOUBLE[]), CAST(vb AS DOUBLE[]))
       |      / (sqrt(list_dot_product(CAST(va AS DOUBLE[]),
       |                               CAST(va AS DOUBLE[])))
       |         * sqrt(list_dot_product(CAST(vb AS DOUBLE[]),
       |                                 CAST(vb AS DOUBLE[])))), 4) AS cos
       |  FROM pairs)
       |WHERE cos >= 0.3 ORDER BY id_a, id_b""".stripMargin
  }

  /** The `incr_admit_vec` oracle — the full vector-tier ADMISSION
    * decision replayed: an incoming vector is rejected iff some corpus
    * vector shares a bucket within hamming 1 (fixed nbits = 8, the
    * `admitIncomingVectors` default) AND verifies at rounded cosine
    * ≥ 0.3; admissions aggregate per id-bucket. */
  private[graft] lazy val incrAdmitVecOracleSql: String = {
    val bucket = lshBucketCaseSql
    s"""WITH meta AS (SELECT 8 AS nbits),
       |bkt AS (
       |  SELECT vec_id, embedding,
       |    $bucket AS bucket
       |  FROM embeddings CROSS JOIN meta),
       |dup_new AS (
       |  SELECT DISTINCT a.vec_id
       |  FROM bkt a JOIN bkt b
       |    ON a.vec_id % 5 = 0 AND b.vec_id % 5 <> 0
       |   AND bit_count(xor(a.bucket, b.bucket)) <= 1
       |  WHERE round(
       |      list_dot_product(CAST(a.embedding AS DOUBLE[]),
       |                       CAST(b.embedding AS DOUBLE[]))
       |      / (sqrt(list_dot_product(CAST(a.embedding AS DOUBLE[]),
       |                               CAST(a.embedding AS DOUBLE[])))
       |         * sqrt(list_dot_product(CAST(b.embedding AS DOUBLE[]),
       |                                 CAST(b.embedding AS DOUBLE[])))),
       |      4) >= 0.3)
       |SELECT vec_id % 100 AS id_bucket, count(*) AS n_admitted,
       |       min(vec_id) AS first_id
       |FROM embeddings
       |WHERE vec_id % 5 = 0
       |  AND vec_id NOT IN (SELECT vec_id FROM dup_new)
       |GROUP BY 1 ORDER BY 1""".stripMargin
  }

  /** The `incr_sq_append` oracle — frozen-grid incremental SQ8
    * maintenance replayed end to end: the day-1 grid (min/max over the
    * `vec_id % 10 <> 0` slice only), every row of corpus ∪ batch
    * encoded under it (out-of-grid day-2 values CLIP at the edges —
    * the operator's documented drift hazard, reproduced by the
    * least/greatest clamp), quantized top-50 cut, exact re-rank top-10,
    * full-outer joined against the exact brute-force top-10 with the
    * per-row match column. */
  private[graft] lazy val incrSqAppendOracleSql: String =
    s"""WITH grid AS (
       |  SELECT i, min(embedding[i]::DOUBLE) AS lo,
       |    (max(embedding[i]::DOUBLE) - min(embedding[i]::DOUBLE)) / 127
       |      AS dlt
       |  FROM embeddings, (SELECT unnest(range(1,65)) AS i) d
       |  WHERE vec_id % 10 <> 0
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
       |         LIMIT 50),
       |probed AS (
       |  SELECT vec_id, sim FROM (
       |    SELECT e.vec_id,
       |      round(${duckDot("e.embedding", q1Sql)}, 4) AS sim,
       |      row_number() OVER (ORDER BY
       |        round(${duckDot("e.embedding", q1Sql)}, 4) DESC,
       |        e.vec_id) AS rn
       |    FROM embeddings e JOIN cand USING (vec_id))
       |  WHERE rn <= 10),
       |exact AS (
       |  SELECT vec_id,
       |    round(${duckDot("embedding", q1Sql)}, 4) AS sim_exact
       |  FROM embeddings ORDER BY sim_exact DESC, vec_id LIMIT 10)
       |SELECT vec_id, p.sim, x.sim_exact, (p.sim = x.sim_exact) AS matches
       |FROM probed p FULL OUTER JOIN exact x USING (vec_id)
       |ORDER BY p.sim DESC, vec_id""".stripMargin

  /** Shared per-doc BPE-count CTE block (w → p → wc): whitespace words,
    * the merges-table replace chain per word, summed piece counts per
    * doc. Consumed by BOTH bpe oracle replays. */
  private[graft] lazy val bpePerDocCtes: String = {
    val sep = "\u0001"
    val chain = graft.functions.BpeTokenizer.default.merges.foldLeft(
      "substr(s0, 1, length(s0)-1) || '</w>' || chr(1)") {
      case (acc, (a, b)) =>
        s"replace($acc, '$sep$a$sep$b$sep', '$sep$a$b$sep')"
    }
    s"""w AS (
       |  SELECT doc_id, u.word AS word
       |  FROM documents,
       |    UNNEST(list_filter(string_split(text, ' '), x -> x <> '')) AS u(word)
       |), p AS (
       |  SELECT doc_id, $chain AS s
       |  FROM (SELECT doc_id,
       |          chr(1) || regexp_replace(word, '(.)', '\\1' || chr(1), 'g') AS s0
       |        FROM w)
       |), wc AS (
       |  SELECT doc_id,
       |    CAST(sum(length(s) - length(replace(s, chr(1), '')) - 1) AS BIGINT) AS n_bpe
       |  FROM p GROUP BY doc_id
       |)""".stripMargin
  }

  /** The `q_bpe_budget` oracle, GENERATED from the checked-in merges
    * table ([[graft.functions.BpeTokenizer.default]]): per word, build a
    * \u0001-separated symbol string ("␁c␁h␁a␁r</w>␁" — the end-of-word
    * marker fused onto the final char exactly like `encodeWord`), fold
    * the 93 merges as boundary-aware `replace` calls in rank order, and
    * count pieces as separators − 1. `replace` is left-to-right
    * non-overlapping — the same scan as one encoder merge pass — and
    * rank-order sequencing reproduces the best-first loop because no
    * compound in the learned table has two derivations (empirically
    * exhaustive on both fixtures; see the q_bpe_budget comment).
    * Docs with no words LEFT-JOIN back in with n_bpe = 0, mirroring
    * `size(graft_bpe(text)) == 0`. */
  private[graft] lazy val bpeBudgetOracleSql: String =
    s"""WITH $bpePerDocCtes, d AS (
       |  SELECT doc_id, lang, COALESCE(wc.n_bpe, 0) AS n_bpe
       |  FROM documents LEFT JOIN wc USING (doc_id)
       |), c AS (
       |  SELECT doc_id, lang, n_bpe,
       |    CAST(sum(n_bpe) OVER (PARTITION BY lang ORDER BY doc_id
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_bpe
       |  FROM d)
       |SELECT doc_id, lang, n_bpe, cum_bpe FROM c WHERE cum_bpe <= 2000
       |ORDER BY lang, doc_id""".stripMargin

  /** The `q_bpe_tokens` oracle: per-doc REAL-BPE subword count (the
    * same merges-chain replay as `q_bpe_budget`, proven equivalent to
    * the best-first merge loop on every fixture word) next to the
    * whitespace-token count. */
  private[graft] lazy val bpeTokensOracleSql: String =
    s"""WITH $bpePerDocCtes
       |SELECT doc_id,
       |  CAST(COALESCE(wc.n_bpe, 0) AS BIGINT) AS n_bpe,
       |  CAST(len(list_filter(string_split(text, ' '), x -> x <> ''))
       |    AS BIGINT) AS n_ws
       |FROM documents LEFT JOIN wc USING (doc_id)
       |ORDER BY doc_id LIMIT 1000""".stripMargin

  /** Collect under [[PlanGate.withAqeOffIfSmall]] — small plans skip
    * AQE's per-exchange query-stage materialization jobs (the r15
    * job-floor watch list); plans reading real volume keep runtime
    * re-planning. Purely physical — results identical either way. */
  private def collectGated(df: DataFrame): Array[org.apache.spark.sql.Row] =
    PlanGate.withAqeOffIfSmall(df)(_.collect())

  /** Plan-capture mode for `DeclaredQuery.planFrame`: while active on
    * the current thread, the first collecting tail
    * ([[localFrame]]/[[localFrameOrdered]]) throws [[PlanCapture.Captured]]
    * carrying the distributed frame INSTEAD of executing it — the plan
    * audit reads the real pre-collect shape for free. Control flow
    * only; never set outside planFrame. */
  private[graft] object PlanCapture {
    val active: ThreadLocal[java.lang.Boolean] =
      ThreadLocal.withInitial(() => java.lang.Boolean.FALSE)
    final case class Captured(df: DataFrame)
      extends RuntimeException with scala.util.control.NoStackTrace
  }

  /** Eagerly execute `df` and return the result as a LocalRelation-backed
    * frame — the shared tail of every round-trip/materializing declared
    * query (the result is tiny; the point is truncating lineage so temp
    * dirs and cache entries can be released before returning). */
  private[graft] def localFrame(df: DataFrame): DataFrame = {
    if (PlanCapture.active.get) throw PlanCapture.Captured(df)
    df.sparkSession.createDataFrame(
      java.util.Arrays.asList(collectGated(df): _*), df.schema)
  }

  /** Code-point (= UTF-8 byte / UTF8String.binary) string comparison —
    * Java's `compareTo` is UTF-16 code-unit order, which ranks
    * supplementary planes (surrogate pairs, 0xD800-prefixed) BELOW
    * U+E000..U+FFFF; Spark's binary collation ranks them above. */
  private[graft] def compareCodePoints(a: String, b: String): Int = {
    val la = a.length
    val lb = b.length
    var i = 0
    var j = 0
    while (i < la && j < lb) {
      val ca = a.codePointAt(i)
      val cb = b.codePointAt(j)
      if (ca != cb) return Integer.compare(ca, cb)
      i += Character.charCount(ca)
      j += Character.charCount(cb)
    }
    Integer.compare(la - i, lb - j)
  }

  /** [[localFrame]] with the ORDER applied driver-side: the pattern
    * `localFrame(tiny.orderBy(k…))` pays a distributed global sort — a
    * range-partitioner boundary-SAMPLING pass plus a shuffle+sort stage
    * — for a result the driver is about to collect anyway (r14
    * job-count profile: ~2 pure-overhead jobs on every verify/rollup
    * row ending this way). Collect unsorted, sort locally by the same
    * keys (ascending, nulls first — Spark's `asc` default), identical
    * rows in identical order. Only for driver-bounded results, which
    * every localFrame call already is by contract. Keys must be ATOMIC
    * orderable types (string/numeric/date/…): strings compare by CODE
    * POINT (= UTF-8 byte order, Spark's UTF8String.binary collation —
    * Java's compareTo orders by UTF-16 code UNIT, which diverges for
    * supplementary characters vs U+E000..U+FFFF; QueriesHelperSpec pins
    * the parity), and a non-Comparable key (array/struct) fails loudly
    * instead of casting blind. */
  private[graft] def localFrameOrdered(df: DataFrame,
                                       keys: String*): DataFrame = {
    if (PlanCapture.active.get) throw PlanCapture.Captured(df)
    val rows = collectGated(df)
    // "-name" = descending (nulls last), bare = ascending (nulls first)
    // — Spark's desc/asc null defaults
    val spec = keys.map { k =>
      if (k.startsWith("-")) (df.schema.fieldIndex(k.drop(1)), -1)
      else (df.schema.fieldIndex(k), 1)
    }.toArray
    val sorted = rows.sortWith { (a, b) =>
      var i = 0
      var cmp = 0
      while (cmp == 0 && i < spec.length) {
        val (fi, sign) = spec(i)
        val (x, y) = (a.getAs[AnyRef](fi), b.getAs[AnyRef](fi))
        cmp =
          if (x == null && y == null) 0
          else if (x == null) -1
          else if (y == null) 1
          else (x, y) match {
            case (sx: String, sy: String) => compareCodePoints(sx, sy)
            case (cx: Comparable[_], _) =>
              cx.asInstanceOf[Comparable[AnyRef]].compareTo(y)
            case _ => throw new IllegalArgumentException(
              s"localFrameOrdered: key ${df.schema(fi).name} has " +
                s"non-atomic type ${df.schema(fi).dataType}; order " +
                "identity with Spark is only defined for atomic keys")
          }
        cmp *= sign
        i += 1
      }
      cmp < 0
    }
    df.sparkSession.createDataFrame(
      java.util.Arrays.asList(sorted: _*), df.schema)
  }

  /** The lazy `near_dup_embed_lsh` pipeline over a (vec_id, embedding)
    * frame with known (count, dim): sign-LSH bucket projection →
    * materialized candidate pairs → exact-cosine verify. The sizing rule
    * nBits ≈ log2(N / target occupancy) keeps per-bucket join fan-out
    * constant across SFs. Shared by the declared query (which persists
    * `base` and materializes around it) and `graft.tools.DumpPlans`
    * (which renders the verify-stage plan), so the rendered plan is the
    * executed one. */
  private[graft] def lshNearDupVerify(base: DataFrame, n: Long, d: Int): DataFrame = {
    val nBits = math.max(6,
      math.ceil(math.log(n / 4.0) / math.log(2.0)).toInt)
    val ps = graft.operators.HyperplaneLsh.planes(d, nBits)
    val bucketed = base.select(col("vec_id").as("_id"),
      graft.operators.HyperplaneLsh.bucketCol(col("embedding"), ps)
        .as("_bucket"))
    val cands = NearDup.embeddingCandidatesFromBuckets(bucketed, nBits)
    NearDup.cosineVerify(base, "vec_id", "embedding", cands)
      .filter(col("cos") >= 0.3)
  }

  /** Near-dup clustering end-to-end: similarity edges → connected
    * components → per-doc component id. Near-duplication is not
    * transitive, so pair-level dedup under-deletes; the component id IS
    * the dedup key (keep doc_id == component). Shared by the
    * `dedup_clusters` (min-label propagation) and `dedup_clusters_star`
    * (large-star/small-star contraction) declared rows — same edges,
    * same oracle, two clustering algorithms. */
  private[graft] def dedupClustersFrame(s: SparkSession, dir: String,
                                 starContraction: Boolean): DataFrame = {
    val sub = T(s, dir, "documents").filter(col("doc_id") < 128)
    // localFinishEdges = 256, NOT the 2^16 default: this row exists to
    // price the distributed contraction rounds, so the bound is set
    // well below the fixture's ~1.7k-edge verified dup graph — the loop
    // runs real distributed contraction rounds (measured: two) until a
    // generation fits 256 edges, then the driver finishes the geometric
    // tail exactly as it would at corpus scale.
    val cc = Dedup.connectedComponents(sub.select("doc_id"), "doc_id",
      sharedDedupEdges.get(s, dir).frame(s), "id_a", "id_b",
      starContraction = starContraction, localFinishEdges = 256)
    try localFrame(cc.orderBy("doc_id"))
    finally cc.unpersist()
  }

  /** The recursive-CTE oracle replaying the whole clustering chain —
    * shared verbatim by both declared clustering rows. */
  private[graft] val dedupClustersOracle: String =
    """WITH RECURSIVE
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
       |  )
       |SELECT v AS doc_id, min(comp) AS component FROM r GROUP BY v
       |ORDER BY doc_id""".stripMargin

  /** Generic source/sink round-trip through `fmt` (B32): write a typed
    * lineitem slice (long, decimal, date, string columns), read it back
    * with the writer's schema, aggregate. The oracle computes the same
    * aggregate straight from parquet, so any type/precision loss in the
    * sink→source cycle breaks the hash match. Same eager-materialize +
    * temp-dir-per-invocation discipline as `q_csv_roundtrip`. */
  private[graft] def formatRoundTrip(s: SparkSession, dir: String,
                              fmt: String): DataFrame =
    withScratchDir(s"graft-${fmt}rt") { tmpRoot =>
      val tmp = s"$tmpRoot/slice"
      val src = T(s, dir, "lineitem").filter(col("l_orderkey") < 100)
        .select(col("l_orderkey"), col("l_quantity"), col("l_shipdate"),
          col("l_returnflag"))
      src.write.format(fmt).mode("overwrite").save(tmp)
      // explicit schema on re-read: JSON lines are schemaless text, so this
      // is what pins decimal/date types through the text cycle
      val back = s.read.format(fmt).schema(src.schema).load(tmp)
      localFrame(back.agg(count(lit(1)).as("n"),
        r4(dbl(decSum(col("l_quantity")))).as("sum_qty"),
        max(col("l_shipdate")).as("max_ship"),
        countDistinct(col("l_returnflag")).as("n_flags")))
    }

  private[graft] val formatRoundTripOracle: String =
    """SELECT count(*) AS n,
      |  round(CAST(sum(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE), 4) AS sum_qty,
      |  max(l_shipdate) AS max_ship,
      |  CAST(count(DISTINCT l_returnflag) AS BIGINT) AS n_flags
      |FROM lineitem WHERE l_orderkey < 100""".stripMargin

  // ----- shared fixture artifacts ------------------------------------------
  //
  // An artifact several declared rows consume (an index, an edge table, a
  // layout store, table statistics) is built once per fixture dir and
  // reused across the session's queries, the way a deployment maintains it
  // once per corpus version. Each is one [[Memo]]: its name is its Bench
  // infra line, its tables are what it must stay fresh against, and
  // [[memos]] lists them for [[clearSharedBuildCaches]] and Bench's infra
  // passes.

  /** Driver-bounded rows and their schema: the collected form of a small
    * artifact (centroids, verified edges, component labels, signature
    * relations), served to the caller's session as a local relation. */
  private[graft] final case class LocalRows(rows: Seq[Row], schema: StructType) {
    def frame(s: SparkSession): DataFrame =
      s.createDataFrame(java.util.Arrays.asList(rows: _*), schema)
  }

  private[graft] object LocalRows {
    def of(df: DataFrame): LocalRows = LocalRows(df.collect().toSeq, df.schema)
  }

  /** Every [[Memo]] in declaration order, which is Bench's infra order: a
    * memo whose build reads another is declared after it (`_ivfpq_build`
    * after `_ivf_build`, `_ivfpqf_build` after `_ivff_build`,
    * `_dedup_cc_build` after `_dedup_edges_build`). Declared before the
    * first memo, which registers itself here while the object
    * initialises. */
  private[graft] val memos = scala.collection.mutable.ArrayBuffer[Memo[_]]()

  /** One shared fixture artifact, one entry per fixture dir. `get` serves
    * the entry built against the current [[Tables.fixtureFingerprint]] of
    * every table in `tables`; a changed fingerprint (a regenerated
    * fixture) or a [[clear]] makes the next `get` rebuild. A superseded
    * artifact dir is not deleted on rebuild but left to its exit hook
    * ([[artifactDir]]): `compute` serializes builders, not readers, and a
    * concurrent query may still be scanning the old path. Each memo keeps
    * its own map, because some builds read another memo (`_ivfpq_build`
    * reads `_ivf_build`), which on one shared map would be a recursive
    * `compute`. */
  private[graft] final class Memo[V](val name: String, tables: Seq[String],
                                     build: (SparkSession, String) => V) {
    private val byDir =
      new java.util.concurrent.ConcurrentHashMap[String, (String, V)]()
    memos += this

    def get(s: SparkSession, dir: String): V = {
      val key = tables.map(Tables.fixtureFingerprint(dir, _)).mkString("|")
      byDir.compute(dir, (_, cached) =>
        if (cached != null && cached._1 == key) cached
        else (key, build(s, dir)))._2
    }

    def clear(dir: String): Unit = byDir.remove(dir)
  }

  private def memo[V](name: String, tables: String*)(
      build: (SparkSession, String) => V): Memo[V] =
    new Memo(name, tables, build)

  /** A fresh temp dir for a shared artifact, deleted with its contents
    * when the JVM exits. Driver-local /tmp suits this local-mode harness;
    * a cluster deployment points it at storage every executor reaches. */
  private[graft] def artifactDir(prefix: String): String = {
    val d = java.nio.file.Files.createTempDirectory(prefix).toFile
    // a shutdown hook, not forceDeleteOnExit: that registers only the
    // files present now, and the exit-time delete of the dir, by then
    // holding the artifact, fails
    sys.addShutdownHook { org.apache.commons.io.FileUtils.deleteQuietly(d); () }
    d.toString
  }

  /** Run `body` in a fresh temp dir owned by the call: deleted when `body`
    * returns or throws. */
  private[graft] def withScratchDir[A](prefix: String)(body: String => A): A = {
    val d = java.nio.file.Files.createTempDirectory(prefix)
    try body(d.toString)
    finally org.apache.commons.io.FileUtils.deleteDirectory(d.toFile)
  }

  /** Run `body` on a private file copy of the store at `src`, in a
    * scratch dir that is deleted afterwards, also when the copy itself
    * fails. Every path inside a store is relative (`gen=N`, shard files,
    * cluster partitions), so a directory copy is a faithful store; the
    * rows that mutate a memoized store mutate this copy. */
  private[graft] def withWorkCopy[A](src: String, prefix: String)(
      body: String => A): A =
    withScratchDir(prefix) { work =>
      val dst = s"$work/f"
      org.apache.commons.io.FileUtils.copyDirectory(
        new java.io.File(src), new java.io.File(dst))
      body(dst)
    }

  /** Corpus-scaled IVF sizing — the standard public recipe: k ≈ √n
    * clusters (so cluster population ≈ √n tracks corpus growth in both
    * factors), and a STARTING nprobe reading ≈ 15 % of the corpus — the
    * point a well-clustered embedding space needs for high recall. The
    * floor keeps tiny fixtures meaningfully partitioned; the k cap marks
    * where a flat plan-literal centroid array should hand over to a
    * hierarchical (two-level) index rather than grow unbounded (IvfIndex
    * scaladoc). The starting nprobe is NOT the declared operating point:
    * [[sharedIvfIndex]] calibrates upward from it against a measured
    * recall@10 target, because the achievable recall at a given read
    * fraction is a property of the DATA (clustered real-world embeddings
    * concentrate neighbors in few cells; the synthetic near-uniform
    * fixture scatters them, pushing nprobe up) — a static rule would
    * either lie on uniform data or over-read on clustered data. */
  private[graft] def ivfSizing(n: Long): (Int, Int) = {
    val k = math.min(1024, math.max(16, math.ceil(math.sqrt(n.toDouble)).toInt))
    val nprobe = math.min(k, math.max(4, math.ceil(k * 0.15).toInt))
    (k, nprobe)
  }

  /** The recall target the shared index's declared operating point must
    * meet — certified live by the `ivf_recall` row on every pass. */
  private[graft] val IvfRecallTarget = 0.9

  /** The shared IVF index: `ivf_probe` and `ivf_probe_part` need
    * (assignments, centroids) from the SAME k-means parameters, and a
    * declared-set pass (Verify, a Bench round) runs both. The shared form
    * is the AT-SCALE one: the indexed corpus written as a parquet table
    * PARTITIONED BY cluster_id (`IvfIndex.writePartitioned`), so the
    * driver holds only the k centroid rows and a path, never a
    * corpus-sized collect. Probes read the table back: `ivf_probe_part`
    * via partition pruning, `ivf_probe` via the semi-join shape over the
    * same distributed relation. `k` and `nprobe` are the CORPUS-SCALED
    * operating point the build chose; probes read the declared `nprobe`
    * from here, so the `ivf_recall` row always certifies the point the
    * declared probes run at. */
  private[graft] final case class SharedIvf(
      indexPath: String, centroids: LocalRows, k: Int, nprobe: Int)

  private[graft] val sharedIvfIndex = memo("_ivf_build", "embeddings") { (s, dir) =>
    val emb = T(s, dir, "embeddings")
    // the count is one column-pruned metadata-cheap job; its result
    // fixes the corpus-scaled k (and the calibration ladder's start)
    val (k, npStart) = ivfSizing(emb.count())
    // iters = 3: the converged-enough centroid set the recall row
    // (`ivf_recall`) certifies — build cost is 3 jobs over the (cached)
    // vectors, paid once per fixture dir
    val (assign, cents) = IvfIndex.build(emb, "vec_id", "embedding",
      k = k, iters = 3)
    try {
      val path = s"${artifactDir("graft-ivfidx")}/ivf"
      IvfIndex.writePartitioned(emb, "vec_id", assign, path)
      // RECALL-CALIBRATED operating point (the public autotune recipe,
      // e.g. FAISS's recall-targeted parameter sweep): pick the smallest
      // ladder nprobe whose MINIMUM recall@10 over the fixed probe vectors
      // reaches the target, against the exact brute-force top-10. The
      // entire measurement is ONE distributed job
      // (`IvfIndex.calibrationTopK`): per-(query, cluster) top-10 tagged
      // with the query's cluster rank, from which the driver evaluates
      // every nprobe — including nprobe = k, which IS the exact answer —
      // so calibration adds a single job to the build instead of one
      // probe per ladder step. At corpus scale the calibration queries
      // are a held-out sample, same shape.
      val calib = Seq((1L, QueryVectors.q1), (2L, QueryVectors.q2))
      val centRows = cents.collect().toSeq
      val centsSeq = centRows.map(r =>
        (r.getInt(0), r.getSeq[Double](1).toIndexedSeq)).toIndexedSeq
      // calibrate from the still-cached assignment relation (join on the
      // persisted assign, not the freshly-written files): same rows as
      // the table, minus k parquet-footer reads
      val sweep = IvfIndex.calibrationTopKOf(
        emb.join(assign, "vec_id"), "vec_id",
        "embedding", centsSeq, calib, k = 10)
      def topAt(qid: Long, np: Int): Set[Long] =
        sweep.iterator.filter(t => t._1 == qid && t._2 < np).toSeq
          .sortBy(t => (-t._4, t._3)).take(10).map(_._3).toSet
      val exact = calib.map { case (qid, _) => qid -> topAt(qid, k) }.toMap
      def minRecall(np: Int): Double = calib.map { case (qid, _) =>
        (exact(qid) & topAt(qid, np)).size.toDouble / exact(qid).size
      }.min
      val ladder = Iterator.iterate(npStart)(np => math.min(k, np * 2))
        .takeWhile(_ < k).toSeq :+ k
      val nprobe = ladder.find(minRecall(_) >= IvfRecallTarget).getOrElse(k)
      SharedIvf(path, LocalRows(centRows, cents.schema), k, nprobe)
    } finally { assign.unpersist(); cents.unpersist() }
  }

  /** Recall target the declared PQ operating point must meet — certified
    * live by the `pq_recall` row, same contract as [[IvfRecallTarget]]. */
  private[graft] val PqRecallTarget = 0.9

  /** Ceiling on the calibration's candidate-depth ladder (and on any
    * driver-side collect the PQ rows make): the re-rank candidate list is
    * what a cluster broadcast-joins back to raw vectors, so it must stay
    * k-bounded-small no matter what the recall sweep would prefer. */
  private[graft] val PqMaxRerank = 512

  /** The calibrated re-rank depth of a compressed index: the smallest
    * ladder depth r (10, 20, 40, …, rMax) whose MINIMUM recall@10 over
    * the fixture query vectors meets [[PqRecallTarget]]. `ordering(q,
    * rMax)` is the index's top-rMax candidate ids for query q, best
    * first. One bounded ordering per query evaluates every r, because
    * `searchRerank(k, r)` keeps the exact-scored top-k of the ordering's
    * top r, and an exact top-10 member inside that top r is beaten by
    * fewer than 10 rows there: recall(r) = |exact10 ∩ top(r)| / 10, with
    * no per-ladder-step jobs. */
  private def calibratedRerank(emb: DataFrame)(
      ordering: (Seq[Double], Int) => IndexedSeq[Long]): Int = {
    val rMax = math.min(emb.count(), PqMaxRerank.toLong).toInt
    val measured = Seq(QueryVectors.q1, QueryVectors.q2).map { q =>
      val exact = Search.topK(emb, "embedding", "vec_id", q, k = 10)
        .select(col("vec_id")).collect().map(_.getLong(0)).toSet
      (ordering(q, rMax), exact)
    }
    def minRecall(r: Int): Double = measured.map { case (top, exact) =>
      (top.take(r).toSet & exact).size.toDouble / exact.size
    }.min
    val ladder = Iterator.iterate(10)(_ * 2).takeWhile(_ < rMax).toSeq :+ rMax
    ladder.find(minRecall(_) >= PqRecallTarget).getOrElse(rMax)
  }

  /** Shared PQ handle: the encoded-codes table's path, the trained
    * codebooks (m·ks·d driver-side doubles — tiny), and the CALIBRATED
    * re-rank depth the declared PQ rows run at. */
  private[graft] final case class SharedPq(
      codesPath: String, codebooks: PqIndex.Codebooks, m: Int, ks: Int,
      rerank: Int)

  /** The shared PQ build: train codebooks (m=8 subspaces × ks=16 cells
    * over the 64-dim fixture — 8-byte codes, 32× compression; the classic
    * 256-cell/8-bit variant needs unsigned bytes, PqIndex scaladoc),
    * encode the corpus to a parquet codes table (disk, never the driver),
    * and calibrate the re-rank depth on the ADC ordering
    * ([[calibratedRerank]]). Near-uniform random fixture embeddings are
    * PQ's worst case (no cluster structure to compress), so the
    * calibrated depth lands deeper than it would on real embeddings — the
    * honest operating point, same reasoning as the IVF nprobe
    * calibration. */
  private[graft] val sharedPqIndex = memo("_pq_build", "embeddings") { (s, dir) =>
    val emb = T(s, dir, "embeddings")
    val m = 8
    val ks = 16
    val cb = PqIndex.trainCodebooks(emb, "vec_id", "embedding",
      m = m, ks = ks, iters = 2)
    val path = s"${artifactDir("graft-pqidx")}/codes"
    PqIndex.encode(emb, "vec_id", "embedding", cb)
      .write.mode("overwrite").parquet(path)
    val enc = s.read.parquet(path)
    SharedPq(path, cb, m, ks, calibratedRerank(emb) { (q, rMax) =>
      enc.select(col("vec_id"),
          round(PqIndex.adcScore(col("codes"), q, cb), 4).as("sim"))
        .orderBy(desc("sim"), asc("vec_id")).limit(rMax)
        .collect().map(_.getLong(0)).toIndexedSeq
    })
  }

  /** Shared SQ8 handle: the scalar-quantized codes table's path, the
    * per-dimension grid (2·d driver-side doubles), and the calibrated
    * re-rank depth the declared SQ rows run at. */
  private[graft] final case class SharedSq(
      codesPath: String, params: SqIndex.SqParams, rerank: Int)

  /** The shared SQ8 build — the LOW-LOSS end of the compression dial (4×
    * vs PQ's 32×): train the per-dimension grid (ONE partial-aggregated
    * exchange), encode the corpus to a parquet codes table, and calibrate
    * the re-rank depth on the quantized ordering exactly like
    * [[sharedPqIndex]]. With 127 levels per dimension the quantized
    * ordering is nearly exact, so the calibrated depth should land at or
    * near the ladder floor — the measured contrast with PQ's deeper
    * calibrated depth IS the dial evidence. */
  private[graft] val sharedSqIndex = memo("_sq_build", "embeddings") { (s, dir) =>
    val emb = T(s, dir, "embeddings")
    val p = SqIndex.trainParams(emb, "vec_id", "embedding")
    val path = s"${artifactDir("graft-sqidx")}/codes"
    SqIndex.encode(emb, "vec_id", "embedding", p)
      .write.mode("overwrite").parquet(path)
    val enc = s.read.parquet(path)
    SharedSq(path, p, calibratedRerank(emb) { (q, rMax) =>
      enc.select(col("vec_id"),
          round(SqIndex.sqScore(col("codes"), q, p), 4).as("sim"))
        .orderBy(desc("sim"), asc("vec_id")).limit(rMax)
        .collect().map(_.getLong(0)).toIndexedSeq
    })
  }

  /** Shared residual IVF-PQ handle: the cluster-partitioned residual-
    * codes table, the residual codebooks, and the calibrated
    * (nprobe, rerank) operating point. */
  private[graft] final case class SharedIvfPq(
      codesPath: String, codebooks: PqIndex.Codebooks, nprobe: Int,
      rerank: Int)

  /** The shared residual IVF-PQ build — the COMPOSED index (partition
    * pruning × compressed scan): reuses the shared IVF build's cells
    * (assignments read back from its partitioned table — no second
    * k-means), trains the residual codebooks on vec − centroid, and
    * writes the codes table partitioned by cluster_id. The re-rank depth
    * is calibrated like [[sharedPqIndex]], but on the ADC ordering
    * restricted to the shared IVF nprobe's clusters — so the certified
    * recall prices in BOTH approximations (cells skipped by the probe AND
    * residual quantization error). */
  private[graft] val sharedIvfPqIndex = memo("_ivfpq_build", "embeddings") { (s, dir) =>
    val ivf = sharedIvfIndex.get(s, dir)
    val cents = ivf.centroids.frame(s)
    val emb = T(s, dir, "embeddings")
    val assign = s.read.parquet(ivf.indexPath)
      .select(col("vec_id"), col("cluster_id"))
    val res = PqIndex.residuals(emb, "vec_id", "embedding",
      assign, cents).select(col("vec_id"), col("res"))
    val cb = PqIndex.trainCodebooks(res, "vec_id", "res",
      m = 8, ks = 16, iters = 2)
    val path = s"${artifactDir("graft-ivfpq")}/codes"
    PqIndex.encodeResidual(emb, "vec_id", "embedding", assign, cents, cb)
      .repartition(col("cluster_id"))
      .write.partitionBy("cluster_id").mode("overwrite").parquet(path)
    SharedIvfPq(path, cb, ivf.nprobe, calibratedRerank(emb) { (q, rMax) =>
      PqIndex.probeIvfPq(s, path, "vec_id", cents, q, cb, k = rMax,
          nprobe = ivf.nprobe)
        .select(col("vec_id")).collect().map(_.getLong(0)).toIndexedSeq
    })
  }

  // ----- fixed-seed (deterministic-init) artifacts ------------------------
  //
  // The `_fixed` hash-gate rows (pq_topk_fixed, ivfpq_topk_fixed,
  // ivf_probe_many_fixed) used to re-run the REAL encode of their corpus
  // slice on every bench rep while their DuckDB oracles replay the same
  // arithmetic closed-form — the r11 audit flagged that per-rep re-encode
  // as the last build-vs-consume proxy asymmetry (1.74/1.84 s Spark vs
  // 0.11/0.35 s oracle on rows whose PLAN was never the problem). Same
  // discipline as the calibrated shared indexes: the fixed-seed artifact
  // is a PURE FUNCTION of the fixture (centroids/codebooks are the
  // smallest-id vectors' (sub)vectors — no float iteration, no RNG), so
  // it is one memo, and every rep measures the deployed consumption path —
  // partition-pruned probe, ADC scan, bounded re-rank. Correctness is
  // untouched (Verify runs each row once, and the artifact bytes are
  // identical to the per-invocation build the rows ran before).

  /** Fixed-centroid partitioned index: ivf_assign's seed rule (the 8
    * smallest-id vectors are the centroids), written cluster-partitioned —
    * the deployed layout ivf_probe_many_fixed's reps probe. */
  private[graft] final case class FixedIvf(indexPath: String, centroids: LocalRows)

  private[graft] val sharedFixedIvf = memo("_ivff_build", "embeddings") { (s, dir) =>
    import s.implicits._
    val emb = T(s, dir, "embeddings")
    val seeds = emb.orderBy("vec_id").limit(8)
      .select(transform(col("embedding"), _.cast("double")).as("c"))
      .collect().toIndexedSeq.zipWithIndex
      .map { case (r, i) => (i, r.getSeq[Double](0)) }
    val cents = seeds.toDF("cluster_id", "centroid")
    val assign = IvfIndex.assignTo(emb, "vec_id", "embedding", cents)
    val path = s"${artifactDir("graft-ivff")}/ivf"
    IvfIndex.writePartitioned(emb, "vec_id", assign, path)
    FixedIvf(path, LocalRows.of(cents))
  }

  /** Fixed-codebook PQ codes over the vec_id % 8 = 0 slice (the 16
    * smallest-id vectors' subvectors as codebooks — trainCodebooks'
    * deterministic init), encoded once to a parquet codes table. */
  private[graft] final case class FixedPq(codesPath: String,
                                          codebooks: PqIndex.Codebooks)

  private[graft] val sharedFixedPq = memo("_pqf_encode", "embeddings") { (s, dir) =>
    val emb = T(s, dir, "embeddings").filter(col("vec_id") % 8 === 0)
    val seeds = emb.orderBy("vec_id").limit(16)
      .select(transform(col("embedding"), _.cast("double")).as("v"))
      .collect().map(_.getSeq[Double](0).toIndexedSeq).toIndexedSeq
    val cb: PqIndex.Codebooks = IndexedSeq.tabulate(8) { mi =>
      seeds.zipWithIndex.map { case (v, c) =>
        (c, v.slice(mi * 8, mi * 8 + 8)) }
    }
    val path = s"${artifactDir("graft-pqf")}/codes"
    PqIndex.encode(emb, "vec_id", "embedding", cb)
      .write.mode("overwrite").parquet(path)
    FixedPq(path, cb)
  }

  /** Fixed residual IVF-PQ artifact: the fixed IVF's seed centroids
    * (read from [[sharedFixedIvf]], as [[sharedIvfPqIndex]] reads the
    * shared IVF) × fixed residual codebooks (the 16 smallest-id
    * residuals' subvectors), codes written cluster-partitioned. */
  private[graft] final case class FixedIvfPq(codesPath: String,
      centroids: LocalRows, codebooks: PqIndex.Codebooks)

  private[graft] val sharedFixedIvfPq = memo("_ivfpqf_build", "embeddings") { (s, dir) =>
    val fixed = sharedFixedIvf.get(s, dir)
    val cents = fixed.centroids.frame(s)
    val emb = T(s, dir, "embeddings")
    val assign = IvfIndex.assignTo(emb, "vec_id", "embedding", cents)
    val res = PqIndex.residuals(emb, "vec_id", "embedding", assign, cents)
    val rseeds = res.orderBy("vec_id").limit(16).select("res")
      .collect().map(_.getSeq[Double](0).toIndexedSeq).toIndexedSeq
    val cb: PqIndex.Codebooks = IndexedSeq.tabulate(8) { mi =>
      rseeds.zipWithIndex.map { case (v, c) =>
        (c, v.slice(mi * 8, mi * 8 + 8)) }
    }
    val path = s"${artifactDir("graft-ivfpqf")}/codes"
    PqIndex.encodeResidual(emb, "vec_id", "embedding", assign, cents, cb)
      .repartition(col("cluster_id"))
      .write.partitionBy("cluster_id").mode("overwrite").parquet(path)
    FixedIvfPq(path, fixed.centroids, cb)
  }

  /** The three-store fixture `q_forget_e2e` mutates — corpus store +
    * inverted text index + partitioned vector index under `root` — which
    * the row receives as a work copy ([[withWorkCopy]]): what it
    * certifies is the FORGET composition and the post-forget searches,
    * not the repeated construction of yesterday's stores, which at scale
    * already exist. The declared probe runs nprobe = k (every cell), so
    * the float-iterated centroid VALUES cannot affect the result — the
    * oracle stays byte-exact. */
  private[graft] final case class ForgetFixture(root: String, centroids: LocalRows)

  private[graft] val forgetFixture =
    memo("_forget_fixture_build", "documents", "embeddings") { (s, dir) =>
      val root = artifactDir("graft-forgetfx")
      val docs = T(s, dir, "documents")
        .select(col("doc_id"), col("text"), col("lang"))
      val emb = T(s, dir, "embeddings")
      VersionedCorpus.append(docs, s"$root/corpus")
      VersionedCorpus.pinKey(s"$root/corpus", "doc_id")
      graft.operators.TextIndex.build(docs, "doc_id", "text", s"$root/tix",
        shards = 16)
      val (assign, cents) = IvfIndex.build(emb, "vec_id", "embedding",
        k = 8, iters = 2)
      try {
        IvfIndex.writePartitioned(emb, "vec_id", assign, s"$root/vix")
        ForgetFixture(root, LocalRows.of(cents))
      } finally { assign.unpersist(); cents.unpersist() }
    }

  /** The half-corpus text index `q_store_textindex` appends to and
    * queries, under `<root>/index`: a deployment builds its inverted index
    * once and every ingestion batch appends to the standing artifact, so
    * the row appends to a work copy ([[withWorkCopy]]). */
  private[graft] val textIndexFixture = memo("_textindex_build", "documents") { (s, dir) =>
    val root = artifactDir("graft-tixfx")
    val docs = T(s, dir, "documents").select(col("doc_id"), col("text"))
    graft.operators.TextIndex.build(docs.filter(col("doc_id") % 2 === 0),
      "doc_id", "text", s"$root/index", shards = 32)
    root
  }

  /** The MinHash-LSH verified-candidate edge table: `minhash_pairs` and
    * `dedup_pipeline_lsh` both need the SAME signature pass → band
    * self-join → exact-Jaccard verify over the documents table (default 32
    * hashes / 4 bands / 3-gram verify). The verified pair set goes to
    * DISK as a parquet table and the memo holds only its PATH: at web
    * scale the verified dup-edge relation is corpus-order (30-50 % dup
    * rates), so it must never ride through the driver; consumers re-read
    * the table, as a cluster deployment reads the edge table its
    * candidate job persisted. */
  private[graft] val sharedMinhashEdges = memo("_minhash_build", "documents") { (s, dir) =>
    val docs = T(s, dir, "documents")
    val cands = NearDup.minHashCandidatesMaterialized(docs, "doc_id", "text")
    val path = s"${artifactDir("graft-mhedges")}/edges"
    NearDup.jaccardVerify(docs, "doc_id", "text", cands)
      .write.mode("overwrite").parquet(path)
    path
  }

  private[graft] def fixedSlice(s: SparkSession, dir: String): DataFrame =
    T(s, dir, "documents").filter(col("doc_id") < 2000)

  /** A closed-form signature/fingerprint relation the fixed-twin rows
    * join over — the maintained-artifact discipline of
    * [[sharedMinhashEdges]] applied to the polynomial-hash family: at
    * scale the per-doc signature table is maintained by the ingestion job
    * and every candidate query JOINS it, never re-runs the signature
    * pass. Driver-bounded by construction (banded rows = slice docs ×
    * bands; winnow fingerprints ≈ grams/4 per doc over the ≤ 2000-doc
    * slice). */
  private def polyRelation(name: String)(
      relation: (DataFrame, String, String) => DataFrame): Memo[LocalRows] =
    memo(name, "documents") { (s, dir) =>
      val df = relation(fixedSlice(s, dir), "doc_id", "text")
      LocalRows(collectGated(df).toSeq, df.schema)
    }

  private[graft] val sharedPolyMinhashBanded =
    polyRelation("_polymh_build")(NearDup.minHashPolyBanded(_, _, _))

  private[graft] val sharedPolySimhashBanded =
    polyRelation("_polysh_build")(NearDup.simHashPolyBanded(_, _, _))

  private[graft] val sharedPolyWinnowFps =
    polyRelation("_polywn_build")(NearDup.winnowPolyFps(_, _, _))

  /** The `dedup_clusters*` edge relation — the bounded all-pairs Jaccard
    * verification tier over the doc_id < 128 slice (SQL-expressible,
    * same shape as `jaccard_pairs`; bucketed LSH candidates are the scale
    * path for edge generation). Both declared clustering rows
    * (propagation and star contraction) consume the SAME edges. The
    * verified edge set is tiny by construction (dup families inside a
    * 128-doc slice), so the memo holds the collected rows — driver-
    * bounded, the `materializePairs` class. */
  private[graft] val sharedDedupEdges = memo("_dedup_edges_build", "documents") { (s, dir) =>
    val sub = T(s, dir, "documents").filter(col("doc_id") < 128)
    // length-band prefilter (the set-similarity-join size bound):
    // J(A,B) ≥ 0.8 ⇒ min(|A|,|B|) ≥ 0.8·max(|A|,|B|), so pairs outside
    // the band can never verify — 0.79 leaves margin for the 4-decimal
    // rounding at the threshold. Result-identical, so the oracle needs no
    // mirror of it; halves the verify work here and is the standard
    // pruning step of a distributed similarity join.
    val sized = sub.select(col("doc_id"),
      size(array_distinct(NearDup.shingles(col("text"), 1))).as("_ns"))
    val pairs = sized.select(col("doc_id").as("id_a"), col("_ns").as("_na"))
      .crossJoin(sized.select(col("doc_id").as("id_b"), col("_ns").as("_nb")))
      .filter(col("id_a") < col("id_b") &&
        least(col("_na"), col("_nb")).cast("double") >=
          lit(0.79) * greatest(col("_na"), col("_nb")))
      .select(col("id_a"), col("id_b"))
    LocalRows.of(NearDup.materializePairs(
      NearDup.jaccardVerify(sub, "doc_id", "text", pairs, shingleSize = 1)
        .filter(col("jaccard") >= 0.8)
        .select(col("id_a"), col("id_b"))))
  }

  /** The propagation-mode COMPONENT LABELS over [[sharedDedupEdges]]: at
    * corpus scale the component id of every document is a MAINTAINED
    * table (rebuilt when the corpus version changes, read by every
    * downstream consumer), so the rows that CONSUME labels
    * (`dedup_clusters`, `dedup_best_rep`) read this memo. The LIVE
    * clustering paths stay benchmarked per-rep where the algorithm is the
    * point: `dedup_clusters_star` runs the full star contraction and
    * `dedup_pipeline_lsh` runs propagation over the (different) MinHash
    * edge set. The vertex slice is 128 docs by construction, so the rows
    * are driver-bounded. */
  private[graft] val sharedDedupLabels = memo("_dedup_cc_build", "documents") { (s, dir) =>
    val sub = T(s, dir, "documents").filter(col("doc_id") < 128)
    val cc = Dedup.connectedComponents(sub.select("doc_id"), "doc_id",
      sharedDedupEdges.get(s, dir).frame(s), "id_a", "id_b")
    try LocalRows.of(cc)
    finally cc.unpersist()
  }

  /** The EXACT ≥ 0.8 Jaccard pair set over the full documents table,
    * computed subquadratically by [[NearDup.prefixJaccardJoin]] — the
    * ground-truth artifact the recall instruments compare candidate tiers
    * against. The pair count is dup-family-sized (hundreds on the
    * fixtures), so the rows are driver-bounded. The LIVE algorithm stays
    * benchmarked per-rep by the `exact_jaccard_join` row. */
  private[graft] val sharedExactPairs = memo("_exact_pairs_build", "documents") { (s, dir) =>
    LocalRows.of(NearDup.prefixJaccardJoin(T(s, dir, "documents"),
      "doc_id", "text", minJaccard = 0.8))
  }

  /** The BUCKETED join tables (`q_bucketed_join`), as (lineitem table,
    * orders table): the layout is one-time infrastructure — a deployment
    * writes its fact tables bucketed ONCE and every recurring join reads
    * them — so the row prices the zero-exchange co-located read (the r12
    * audit flagged the per-rep rebuild as 0.7-1.0 s vs a millisecond
    * oracle that only replays the read). Table names are dir-keyed
    * constants so a rebuild overwrites rather than leaks catalog
    * entries. */
  private[graft] val sharedBucketedTables =
    memo("_bucketed_build", "lineitem", "orders") { (s, dir) =>
      val tag = java.lang.Integer.toHexString(dir.hashCode)
      val lt = s"li_bkt_$tag"
      val ot = s"ord_bkt_$tag"
      s.sql(s"DROP TABLE IF EXISTS $lt")
      s.sql(s"DROP TABLE IF EXISTS $ot")
      // the warehouse location can outlive the in-memory catalog (a
      // previous JVM's run left files the fresh catalog knows nothing
      // about) — saveAsTable refuses a name whose location exists, so
      // clear the orphaned dirs too
      val wh = new java.net.URI(s.sessionState.conf.warehousePath).getPath
      Seq(lt, ot).foreach { t =>
        val d = new java.io.File(wh, t)
        if (d.exists())
          org.apache.commons.io.FileUtils.deleteDirectory(d)
      }
      graft.sources.Bucketing.writeBucketed(
        T(s, dir, "lineitem").filter(col("l_orderkey") < 2000)
          .select(col("l_orderkey"), col("l_extendedprice")),
        lt, "l_orderkey", buckets = 8)
      graft.sources.Bucketing.writeBucketed(
        T(s, dir, "orders").filter(col("o_orderkey") < 2000)
          .select(col("o_orderkey"), col("o_orderpriority")),
        ot, "o_orderkey", buckets = 8)
      (lt, ot)
    }

  /** The Z-ordered lineitem slice (`q_zorder_roundtrip`): clustering is a
    * one-time layout rewrite; the row prices the clustered READ. */
  private[graft] val sharedZorderPath = memo("_zorder_build", "lineitem") { (s, dir) =>
    val path = s"${artifactDir("graft-zort")}/t"
    graft.sources.Layout.writeZOrdered(
      T(s, dir, "lineitem").filter(col("l_orderkey") < 3000)
        .select(col("l_orderkey"), col("l_partkey"), col("l_suppkey"),
          col("l_quantity")),
      path, "l_partkey", "l_suppkey", numFiles = 4)
    path
  }

  /** The corpus GRAM-KEY index (`incr_span_strip_indexed`): the strip
    * tier's maintained artifact — distinct corpus 8-gram keys + Bloom
    * sidecar, built once per corpus version; the row prices the per-batch
    * PROBE, which touches the corpus zero times. */
  private[graft] val sharedGramIndexPath = memo("_gramidx_build", "documents") { (s, dir) =>
    val path = s"${artifactDir("graft-gramidx")}/t"
    SpanDedup.buildGramIndex(
      T(s, dir, "documents").filter(col("doc_id") < 250),
      "doc_id", "text", path, k = 8)
    path
  }

  /** The hive-partitioned events table (`q_partitioned_prune`): the
    * partitioned layout is the deployed store; the row prices the
    * partition-pruned read. */
  private[graft] val sharedHivePartPath = memo("_hivepart_build", "events") { (s, dir) =>
    val path = s"${artifactDir("graft-part")}/t"
    T(s, dir, "events")
      .select(col("event_id"), col("user_id"), col("event_type"),
        col("value"))
      .write.partitionBy("event_type").mode("overwrite").parquet(path)
    path
  }

  /** (rowCount, dim) of the embeddings table — TABLE STATISTICS, the
    * catalog metadata every deployment already holds (row counts come
    * from parquet footers, the dim from the schema contract). Consumers
    * that size an operator from corpus stats (the LSH nBits rule) read
    * this instead of paying a dedicated count job per invocation. */
  private[graft] val embStats = memo("_embstats_build", "embeddings") { (s, dir) =>
    val r = T(s, dir, "embeddings").agg(count(lit(1)).as("n"),
      first(size(col("embedding"))).as("d")).head()
    (r.getLong(0), r.getInt(1))
  }

  /** (docCount, avgTokenLength) of the documents table — BM25 INDEX
    * METADATA (every BM25 deployment persists (N, avgdl) with its index;
    * [[graft.operators.TextIndex]] does too), so scan-based BM25 rows
    * skip a full corpus tokenize per invocation. Computed by the exact
    * expression the in-plan form used (count + avg(size(tokens))), under
    * the same session config, so the scores are bit-identical. */
  private[graft] val docStats = memo("_docstats_build", "documents") { (s, dir) =>
    val r = T(s, dir, "documents")
      .select(size(graft.operators.TextAnalysis.tokens(col("text")))
        .cast("double").as("_dl"))
      .agg(count(lit(1)).cast("double").as("n"), avg(col("_dl")).as("avgdl"))
      .head()
    (r.getDouble(0), r.getDouble(1))
  }

  /** Drop every memo's entry for `dir`, so the next `get` rebuilds —
    * Bench's infra-rep hook: single-shot infra timings absorb the VM-
    * throttle spikes the per-query min-of-reps exists to filter (the
    * round-10 audit saw `_ivfpq_build` report 14.7 s for a build that
    * measures ~4.9 s), so Bench reports the min of REAL rebuilds. Entries
    * are driver-local rows or paths, so dropping one leaks nothing
    * executor-side. */
  private[graft] def clearSharedBuildCaches(dir: String): Unit =
    memos.foreach(_.clear(dir))

  /** The "day-1" slice (`vec_id % 10 =!= 0`) of a shared index table,
    * which the incremental-append rows append to; each call runs `body`
    * on a work copy ([[withWorkCopy]]), so a rep measures the maintenance
    * path itself — assign/encode + partition append + probe — not the
    * re-creation of yesterday's table. The one memo that is not a
    * [[Memo]]: it is keyed by the source table's PATH, and a rebuilt
    * source gets a new [[artifactDir]], so an entry is never stale and is
    * never cleared (an entry whose source was rebuilt is not asked for
    * again, bounded by the rebuild count). */
  private val day1SliceCache =
    new java.util.concurrent.ConcurrentHashMap[String, String]()

  private[graft] def withDay1SliceCopy[A](s: SparkSession, sourcePath: String,
                                          tag: String)(body: String => A): A = {
    val slice = day1SliceCache.computeIfAbsent(sourcePath, { _ =>
      val p = s"${artifactDir(s"graft-$tag-day1")}/t"
      // repartition by cluster co-locates each cell in one task → one
      // file per cell, which also keeps every subsequent copy cheap
      s.read.parquet(sourcePath).filter(col("vec_id") % 10 =!= 0)
        .repartition(col("cluster_id"))
        .write.partitionBy("cluster_id").mode("overwrite").parquet(p)
      p
    })
    withWorkCopy(slice, s"graft-$tag-work")(body)
  }

  /** The full declared registry: tier maps concatenated in the original
    * declaration order — ListMap preserves insertion order, so bench
    * and verify iterate exactly as before the split. */
  val all: ListMap[String, DeclaredQuery] =
    tierVector ++ tierDedupText ++ tierRelational ++
      tierStreamingBatch ++ tierNearDupVerify ++ tierTextAnalysis ++
      tierIndexMediaStore
}
