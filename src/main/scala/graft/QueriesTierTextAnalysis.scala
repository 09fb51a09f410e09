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


/** Extended text-analysis tier.
  *
  * One tier of [[Queries.all]] — split from the single registry so a
  * reviewer can hold each family; mixed back into [[Queries]], which
  * concatenates the tiers in the original declaration order (bench and
  * oracle iteration order unchanged). Helpers, shared builds, and the
  * determinism contract live on [[Queries]] itself. */
private[graft] trait QueriesTierTextAnalysis { this: Queries.type =>

  private[graft] lazy val tierTextAnalysis: ListMap[String, DeclaredQuery] = ListMap(

    // ----- more text analysis --------------------------------------------

    "q_token_bpe" -> DeclaredQuery(
      (s, dir) => T(s, dir, "documents")
        .select(col("doc_id"),
          size(expr("regexp_extract_all(text, '[a-z]+|[0-9]+', 0)"))
            .cast("long").as("n_bpe"),
          size(TextAnalysis.tokens(col("text"))).cast("long").as("n_ws"))
        .orderBy(col("doc_id")).limit(1000),
      Some("""SELECT doc_id,
         |  len(regexp_extract_all(text, '[a-z]+|[0-9]+')) AS n_bpe,
         |  len(list_filter(string_split(text, ' '), x -> x <> '')) AS n_ws
         |FROM documents ORDER BY doc_id LIMIT 1000""".stripMargin),
      "token counting: whitespace + BPE-ish regex segmentation"),

    "q_bpe_tokens" -> DeclaredQuery(
      // REAL merge-loop BPE under the checked-in merges table (vs
      // q_token_bpe's regex approximation, kept for its oracle): per-doc
      // subword counts + the corpus's most frequent subword pieces.
      // Table-seeded tokenization is not SQL-expressible → rows-only;
      // merge-loop semantics are property-tested in BpeSpec.
      (s, dir) => {
        val toks = TextAnalysis.bpeTokens(col("text"))
        T(s, dir, "documents")
          .select(col("doc_id"),
            size(toks).cast("long").as("n_bpe"),
            size(TextAnalysis.tokens(col("text"))).cast("long").as("n_ws"))
          .orderBy(col("doc_id")).limit(1000)
      },
      // PROMOTED (round 10): the q_bpe_budget merges-chain replay
      // yields the per-doc count directly — see bpeTokensOracleSql
      Some(bpeTokensOracleSql),
      "token counting: real BPE merge-loop subword segmentation (checked-in merges table; merges-chain DuckDB replay)"),

    "lang_predict" -> DeclaredQuery(
      (s, dir) => T(s, dir, "documents")
        .select(col("doc_id"), col("lang"),
          LangId.predict(col("text")).as("predicted"))
        .orderBy(col("doc_id")).limit(1000),
      Some {
        val structs = LangId.defaultProfiles.toSeq.sortBy(_._1).map {
          case (lang, ms) =>
            val lst = ms.map(m => s"'$m'").mkString("[", ", ", "]")
            s"struct_pack(s := len(list_intersect(t, $lst)), l := '$lang')"
        }.mkString(",\n    ")
        s"""SELECT doc_id, lang,
           |  (list_sort([
           |    $structs], 'DESC'))[1].l AS predicted
           |FROM (SELECT doc_id, lang,
           |        list_filter(string_split(text, ' '), x -> x <> '') AS t
           |      FROM documents)
           |ORDER BY doc_id LIMIT 1000""".stripMargin
      },
      "language-ID heuristic: marker-word argmax via struct greatest"),

    "q_except" -> DeclaredQuery(
      (s, dir) => T(s, dir, "customer").select(col("c_custkey"))
        .except(T(s, dir, "customer").filter(col("c_acctbal") > 0)
          .select(col("c_custkey")))
        .orderBy(col("c_custkey")).limit(200),
      Some("""SELECT c_custkey FROM customer
         |EXCEPT
         |SELECT c_custkey FROM customer WHERE c_acctbal > 0
         |ORDER BY c_custkey LIMIT 200""".stripMargin),
      "B28: EXCEPT"),

    "chunk_docs" -> DeclaredQuery(
      (s, dir) => TextAnalysis.chunk(
        T(s, dir, "documents").filter(col("doc_id") < 50),
        "doc_id", "text", width = 40, stride = 20)
        .orderBy(col("doc_id"), col("chunk_idx")),
      Some("""WITH t AS (SELECT doc_id,
         |          list_filter(string_split(text, ' '), x -> x <> '') AS tk
         |        FROM documents WHERE doc_id < 50)
         |SELECT doc_id, CAST((u.s - 1) // 20 AS BIGINT) AS chunk_idx,
         |  array_to_string(tk[u.s : u.s + 39], ' ') AS chunk_text
         |FROM t, UNNEST(range(1, greatest(len(tk), 1) + 1, 20)) AS u(s)
         |ORDER BY doc_id, chunk_idx""".stripMargin),
      "document chunker: fixed-width token windows with stride overlap"),

    "q_normalize_redact" -> DeclaredQuery(
      // text normalization + PII redaction — the first stages of a
      // training pipeline, checked byte-exact through the oracle. The
      // synthetic corpus has no real emails/URLs, so a deterministic
      // suffix is appended to exercise both redaction patterns
      (s, dir) => T(s, dir, "documents")
        .filter(col("doc_id") < 200)
        .select(col("doc_id"),
          TextAnalysis.normalizeText(col("text")).as("norm_text"),
          TextAnalysis.redactPii(
            concat(col("text"),
              lit(" contact bob@example.com via https://example.com/x")))
            .as("redacted"))
        .orderBy(col("doc_id")),
      Some("""SELECT doc_id,
         |  trim(regexp_replace(lower(text), '\s+', ' ', 'g')) AS norm_text,
         |  regexp_replace(
         |    regexp_replace(text || ' contact bob@example.com via https://example.com/x',
         |      '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
         |    'https?://[^\s]+', '<URL>', 'g') AS redacted
         |FROM documents WHERE doc_id < 200 ORDER BY doc_id""".stripMargin),
      "text normalization + PII redaction (email/URL placeholder tokens)"),

    "q_nfc" -> DeclaredQuery(
      // Unicode NFC canonical composition via the native NfcNormalize
      // expression. The fixture is ASCII-only (where NFC is the
      // identity — also asserted by the ASCII-fast-path spec), so a
      // decomposed-Unicode suffix is appended to force real
      // composition work; DuckDB's nfc_normalize is the oracle.
      (s, dir) => T(s, dir, "documents")
        .filter(col("doc_id") < 200)
        .select(col("doc_id"),
          TextAnalysis.nfc(
            concat(col("text"),
              // DECOMPOSED suffix (e/n + combining marks) plus one
              // precomposed e-acute: NFC composes the first two, keeps
              // the third
              lit(" cafe\u0301 nin\u0303o \u00e9")))
            .as("nfc_text"))
        .orderBy(col("doc_id")),
      Some("""SELECT doc_id,
         |  nfc_normalize(text || ' cafe' || chr(769) || ' nin' || chr(771)
         |    || 'o ' || chr(233)) AS nfc_text
         |FROM documents WHERE doc_id < 200 ORDER BY doc_id""".stripMargin),
      "Unicode NFC normalization (native expression, decomposed suffix forces composition)"),

    "q_pipeline_e2e" -> DeclaredQuery(
      // the composed training-data pipeline — every stage is
      // oracle-green alone (q_extract_chunks, q_normalize_redact,
      // chunk_docs, dedup_fingerprint, q_quality); this chains them the
      // way a real user would, against ONE oracle that chains the same
      // SQL stages, so cross-stage column-name/laziness bugs can't hide:
      // binary ingest → extract → redact → normalize → chunk → exact
      // dedup (token fingerprint) → stopword/length quality filter
      (s, dir) => {
        val media = Multimodal.asDocumentMedia(
          T(s, dir, "documents").filter(col("doc_id") < 300), "doc_id", "text")
        val extracted = Multimodal.extractText(media).toDF()
          .select(col("media_id").as("doc_id"), col("text"))
        // redact BEFORE normalize: the patterns are case-sensitive on
        // raw text; the placeholders then lowercase like any token
        val cleaned = extracted.select(col("doc_id"),
          TextAnalysis.normalizeText(TextAnalysis.redactPii(col("text")))
            .as("text"))
        val chunks = TextAnalysis.chunk(cleaned, "doc_id", "text",
          width = 30, stride = 15)
        val deduped = Dedup.dropDuplicatesByKey(chunks,
          Dedup.tokenFingerprint(col("chunk_text")),
          struct(col("doc_id"), col("chunk_idx")))
        val toks = TextAnalysis.tokens(col("chunk_text"))
        val stop = Seq("the", "a", "of", "to", "in")
        deduped.select(col("doc_id"), col("chunk_idx"),
            size(toks).cast("long").as("n_tokens"),
            round(size(filter(toks, t => t.isin(stop: _*))).cast("double") /
              size(toks), 4).as("stop_ratio"),
            col("chunk_text"))
          .where(col("n_tokens") >= 10 && col("stop_ratio") <= 0.5)
          .orderBy(col("doc_id"), col("chunk_idx"))
      },
      Some("""WITH clean AS (
         |  SELECT doc_id,
         |    trim(regexp_replace(lower(
         |      regexp_replace(regexp_replace(text,
         |        '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
         |      'https?://[^\s]+', '<URL>', 'g')), '\s+', ' ', 'g')) AS text
         |  FROM documents WHERE doc_id < 300),
         |t AS (SELECT doc_id,
         |        list_filter(string_split(text, ' '), x -> x <> '') AS tk
         |      FROM clean),
         |ch AS (
         |  SELECT doc_id, CAST((u.s - 1) // 15 AS BIGINT) AS chunk_idx,
         |    array_to_string(tk[u.s : u.s + 29], ' ') AS chunk_text
         |  FROM t, UNNEST(range(1, greatest(len(tk), 1) + 1, 15)) AS u(s)),
         |dd AS (
         |  SELECT doc_id, chunk_idx, chunk_text
         |  FROM ch
         |  QUALIFY row_number() OVER (
         |    PARTITION BY array_to_string(list_sort(string_split(chunk_text, ' ')), ' ')
         |    ORDER BY doc_id, chunk_idx) = 1),
         |q AS (
         |  SELECT doc_id, chunk_idx,
         |    CAST(len(list_filter(string_split(chunk_text, ' '), x -> x <> '')) AS BIGINT) AS n_tokens,
         |    round(len(list_filter(string_split(chunk_text, ' '),
         |        x -> x IN ('the','a','of','to','in')))::DOUBLE
         |      / len(list_filter(string_split(chunk_text, ' '), x -> x <> '')), 4) AS stop_ratio,
         |    chunk_text
         |  FROM dd)
         |SELECT doc_id, chunk_idx, n_tokens, stop_ratio, chunk_text FROM q
         |WHERE n_tokens >= 10 AND stop_ratio <= 0.5
         |ORDER BY doc_id, chunk_idx""".stripMargin),
      "end-to-end pipeline: extract → redact → normalize → chunk → dedup → quality filter"),

    "q_logfreq_quality" -> DeclaredQuery(
      // corpus-frequency quality filter: mean ln(word count) per doc —
      // low scores mark rare-token/gibberish docs for dropping
      (s, dir) => TextAnalysis.logFreqScore(
        T(s, dir, "documents"), "doc_id", "text")
        .orderBy(col("doc_id")),
      Some("""WITH tok AS (
         |  SELECT doc_id, unnest(list_filter(string_split(text, ' '), x -> x <> '')) AS word
         |  FROM documents),
         |wf AS (SELECT word, count(*) AS cnt FROM tok GROUP BY word)
         |SELECT t.doc_id, round(avg(ln(CAST(wf.cnt AS DOUBLE))), 4) AS lf_score
         |FROM tok t JOIN wf USING (word)
         |GROUP BY t.doc_id ORDER BY t.doc_id""".stripMargin),
      "corpus-frequency quality score (mean log word count per doc)"),

    "q_lm_bigram" -> DeclaredQuery(
      // perplexity-tier quality scoring (the CCNet-style filter): a
      // bigram LM trained as DataFrame aggregations on the trusted half
      // of the corpus (doc_id < 250) scores the incoming half — lm_bits
      // = mean -log2 P(w2|w1) with add-one smoothing; low bits = fluent
      // under the reference model, high = junk/OOV. Train and score are
      // ONE lazy plan (model lookups are equi-joins on the word/bigram
      // key), so the whole filter is oracle-expressible.
      (s, dir) => {
        val docs = T(s, dir, "documents")
        TextAnalysis.bigramLmScore(
          docs.filter(col("doc_id") >= 250),
          docs.filter(col("doc_id") < 250),
          "doc_id", "text")
          .orderBy(col("doc_id"))
      },
      Some("""WITH ct AS (SELECT doc_id,
         |          list_filter(string_split(text, ' '), x -> x <> '') AS tk
         |        FROM documents WHERE doc_id < 250),
         |cu AS (SELECT unnest(tk) AS w1 FROM ct),
         |c1 AS (SELECT w1, count(*) AS c1 FROM cu GROUP BY w1),
         |v AS (SELECT count(DISTINCT w1) AS v FROM cu),
         |c2 AS (SELECT bg, count(*) AS c2 FROM (
         |         SELECT tk[u.s] || ' ' || tk[u.s + 1] AS bg
         |         FROM ct, UNNEST(range(1, len(tk), 1)) AS u(s)) GROUP BY bg),
         |st AS (SELECT doc_id,
         |          list_filter(string_split(text, ' '), x -> x <> '') AS tk
         |        FROM documents WHERE doc_id >= 250),
         |sg AS (SELECT doc_id, tk[u.s] AS w1, tk[u.s] || ' ' || tk[u.s + 1] AS bg
         |       FROM st, UNNEST(range(1, len(tk), 1)) AS u(s)),
         |j AS (SELECT sg.doc_id,
         |        -log2((coalesce(c2.c2, 0) + 1.0) /
         |              (coalesce(c1.c1, 0) + (SELECT v FROM v))) AS bits
         |      FROM sg LEFT JOIN c2 USING (bg) LEFT JOIN c1 USING (w1)),
         |o AS (SELECT doc_id, count(*) AS n_bigrams, round(avg(bits), 4) AS lm_bits
         |      FROM j GROUP BY doc_id)
         |SELECT s.doc_id, CAST(coalesce(o.n_bigrams, 0) AS BIGINT) AS n_bigrams,
         |       o.lm_bits
         |FROM (SELECT doc_id FROM documents WHERE doc_id >= 250) s
         |LEFT JOIN o USING (doc_id) ORDER BY doc_id""".stripMargin),
      "bigram-LM perplexity quality score: reference-corpus model, add-one smoothing"),

    "q_quality_gate" -> DeclaredQuery(
      // the quality GATE — the admission verdict a FineWeb/Gopher-style
      // pipeline actually acts on, chaining three INDEPENDENT signal
      // tiers over the incoming half of the corpus: max-2-gram
      // repetition (boilerplate), bigram-LM bits under the trusted-half
      // model (fluency/junk), and stopword ratio (gibberish). Each
      // signal is its own declared, individually-oracled operator
      // (q_repetition, q_lm_bigram, q_quality); this row proves the
      // COMPOSED verdict end-to-end against one chained oracle.
      // Thresholds are fixture-calibrated so every signal really bites
      // (lm_bits median 4.97, rep max 0.167, stop median 0.059);
      // comparisons run on the 4-dp-rounded values in BOTH engines, and
      // a doc missing a signal (< 2 tokens → no bigram) fails the gate.
      (s, dir) => {
        val docs = T(s, dir, "documents")
        val incoming = docs.filter(col("doc_id") >= 250)
        val corpus = docs.filter(col("doc_id") < 250)
        val toks = TextAnalysis.tokens(col("text"))
        val stop = Seq("the", "a", "of", "to", "in")
        val base = incoming.select(col("doc_id"),
          round(size(filter(toks, t => t.isin(stop: _*))).cast("double") /
            size(toks), 4).as("stop_ratio"))
        val rep = TextAnalysis.repetitionStats(incoming, "doc_id", "text", n = 2)
          .select(col("doc_id"), col("rep_ratio"))
        val lm = TextAnalysis.bigramLmScore(incoming, corpus, "doc_id", "text")
          .select(col("doc_id"), col("lm_bits"))
        base.join(rep, Seq("doc_id"), "left").join(lm, Seq("doc_id"), "left")
          .select(col("doc_id"), col("stop_ratio"), col("rep_ratio"),
            col("lm_bits"),
            when(coalesce(col("rep_ratio") <= 0.1, lit(false)) &&
                 coalesce(col("lm_bits") <= 5.0, lit(false)) &&
                 coalesce(col("stop_ratio") >= 0.02, lit(false)),
              lit(1L)).otherwise(lit(0L)).as("admitted"))
          .orderBy(col("doc_id"))
      },
      Some("""WITH ct AS (SELECT doc_id,
         |          list_filter(string_split(text, ' '), x -> x <> '') AS tk
         |        FROM documents WHERE doc_id < 250),
         |cu AS (SELECT unnest(tk) AS w1 FROM ct),
         |c1 AS (SELECT w1, count(*) AS c1 FROM cu GROUP BY w1),
         |v AS (SELECT count(DISTINCT w1) AS v FROM cu),
         |c2 AS (SELECT bg, count(*) AS c2 FROM (
         |         SELECT tk[u.s] || ' ' || tk[u.s + 1] AS bg
         |         FROM ct, UNNEST(range(1, len(tk), 1)) AS u(s)) GROUP BY bg),
         |st AS (SELECT doc_id,
         |          list_filter(string_split(text, ' '), x -> x <> '') AS tk
         |        FROM documents WHERE doc_id >= 250),
         |sg AS (SELECT doc_id, tk[u.s] AS w1, tk[u.s] || ' ' || tk[u.s + 1] AS bg
         |       FROM st, UNNEST(range(1, len(tk), 1)) AS u(s)),
         |j AS (SELECT sg.doc_id,
         |        -log2((coalesce(c2.c2, 0) + 1.0) /
         |              (coalesce(c1.c1, 0) + (SELECT v FROM v))) AS bits
         |      FROM sg LEFT JOIN c2 USING (bg) LEFT JOIN c1 USING (w1)),
         |lm AS (SELECT doc_id, round(avg(bits), 4) AS lm_bits
         |       FROM j GROUP BY doc_id),
         |g AS (SELECT doc_id,
         |        unnest(list_transform(range(1, len(tk)),
         |                              i -> tk[i] || ' ' || tk[i + 1])) AS gram
         |      FROM st WHERE len(tk) >= 2),
         |c AS (SELECT doc_id, gram, count(*) AS cnt FROM g GROUP BY doc_id, gram),
         |rep AS (SELECT doc_id, round(max(cnt)::DOUBLE / sum(cnt), 4) AS rep_ratio
         |        FROM c GROUP BY doc_id),
         |base AS (SELECT doc_id,
         |           round(len(list_filter(tk, x -> x IN ('the','a','of','to','in')))::DOUBLE
         |             / len(tk), 4) AS stop_ratio
         |         FROM st)
         |SELECT b.doc_id, b.stop_ratio, rep.rep_ratio, lm.lm_bits,
         |  CAST(CASE WHEN coalesce(rep.rep_ratio <= 0.1, false)
         |         AND coalesce(lm.lm_bits <= 5.0, false)
         |         AND coalesce(b.stop_ratio >= 0.02, false)
         |       THEN 1 ELSE 0 END AS BIGINT) AS admitted
         |FROM base b LEFT JOIN rep USING (doc_id) LEFT JOIN lm USING (doc_id)
         |ORDER BY doc_id""".stripMargin),
      "composed quality gate: repetition + bigram-LM bits + stopword ratio → admission verdict"),

    "q_decontaminate" -> DeclaredQuery(
      // benchmark decontamination: docs 0-49 play the eval set, the rest
      // the training corpus; flag every training doc echoing one of the
      // eval set's token 4-grams (test-set-leakage guard)
      (s, dir) => {
        val docs = T(s, dir, "documents")
        Decontaminate.contaminated(
          docs.filter(col("doc_id") >= 50), "doc_id", "text",
          docs.filter(col("doc_id") < 50), "text", n = 4)
          .orderBy(col("doc_id"))
      },
      Some("""WITH tok AS (SELECT doc_id,
         |          list_filter(string_split(text, ' '), x -> x <> '') AS tk
         |        FROM documents),
         |sh AS (
         |  SELECT DISTINCT doc_id,
         |    CASE WHEN len(tk) < 4 THEN array_to_string(tk, ' ')
         |         ELSE array_to_string(tk[u.s : u.s + 3], ' ') END AS sng
         |  FROM tok, UNNEST(range(1, greatest(len(tk) - 3, 1) + 1, 1)) AS u(s)),
         |ev AS (SELECT DISTINCT sng FROM sh WHERE doc_id < 50)
         |SELECT t.doc_id, CAST(count(*) AS BIGINT) AS n_hits
         |FROM (SELECT doc_id, sng FROM sh WHERE doc_id >= 50) t
         |JOIN ev USING (sng)
         |GROUP BY t.doc_id ORDER BY t.doc_id""".stripMargin),
      "benchmark decontamination: eval n-gram echo scan over the training corpus"),

    "q_extract_chunks" -> DeclaredQuery(
      // the full binary-ingest path: documents re-encoded as opaque
      // binary media rows → per-partition text EXTRACTION (the
      // reference's declared PyPDF2 capability; stub = lossless UTF-8
      // decode) → token chunker. The oracle chunks the original text
      // column directly, so a green row proves the binary roundtrip is
      // exact end-to-end.
      (s, dir) => {
        val media = Multimodal.asDocumentMedia(
          T(s, dir, "documents").filter(col("doc_id") < 50), "doc_id", "text")
        val extracted = Multimodal.extractText(media).toDF()
          .select(col("media_id").as("doc_id"), col("text"))
        TextAnalysis.chunk(extracted, "doc_id", "text", width = 30, stride = 15)
          .orderBy(col("doc_id"), col("chunk_idx"))
      },
      Some("""WITH t AS (SELECT doc_id,
         |          list_filter(string_split(text, ' '), x -> x <> '') AS tk
         |        FROM documents WHERE doc_id < 50)
         |SELECT doc_id, CAST((u.s - 1) // 15 AS BIGINT) AS chunk_idx,
         |  array_to_string(tk[u.s : u.s + 29], ' ') AS chunk_text
         |FROM t, UNNEST(range(1, greatest(len(tk), 1) + 1, 15)) AS u(s)
         |ORDER BY doc_id, chunk_idx""".stripMargin),
      "binary→text extraction (stub UTF-8 extractor) + chunker, oracle-checked"),

    "q_html_extract" -> DeclaredQuery(
      // REAL HTML→text extraction, oracle-checked through a ROUND TRIP:
      // each document is wrapped into a full HTML page (head/title,
      // style + script elements with hostile bodies, a comment, an
      // &nbsp; entity, and the text itself entity-ESCAPED into a <p>),
      // the binary payload goes through the real per-partition
      // extractor (`Multimodal.extractText` → HtmlText: raw-text
      // element skip, tag strip, one-pass entity decode, whitespace
      // collapse), and the result must equal what the markup round
      // trip predicts — title + heading + the original text, collapsed
      // — which DuckDB reconstructs from the documents table alone
      // (the extraction inverts the escaping exactly, so the oracle
      // needs no HTML parser, just the `\s+` collapse). Escape order
      // matters on the Spark side: '&' first, then '<'/'>'.
      (s, dir) => {
        import s.implicits._
        val esc = regexp_replace(regexp_replace(regexp_replace(
          col("text"), "&", "&amp;"), "<", "&lt;"), ">", "&gt;")
        val html = concat(
          lit("<html><!-- synthetic fixture --><head><title>Doc "),
          col("doc_id"),
          lit("</title><style>p { color: red; }</style></head>" +
            "<body><h1>Doc&nbsp;"), col("doc_id"),
          lit("</h1><p>"), esc,
          lit("</p><script>if (1 < 2) { alert(\"x & y\"); }</script>" +
            "</body></html>"))
        val media = T(s, dir, "documents").filter(col("doc_id") < 200)
          .select(col("doc_id").as("media_id"),
            encode(html, "UTF-8").as("payload"),
            lit("html").as("meta_format"))
          .as[Multimodal.DocMediaRow]
        Multimodal.extractText(media).toDF()
          .select(col("media_id"), col("text"))
          .orderBy(col("media_id"))
      },
      Some("""
        SELECT doc_id AS media_id,
               trim('Doc ' || doc_id || ' Doc ' || doc_id || ' ' ||
                 trim(regexp_replace(text, '\s+', ' ', 'g'))) AS text
        FROM documents WHERE doc_id < 200 ORDER BY doc_id
      """),
      "real HTML→text extraction (tag strip, raw-text skip, entity decode), oracle-checked via markup round trip"),

    "q_pdf_extract" -> DeclaredQuery(
      // REAL PDF→text extraction, oracle-checked through an EXACT round
      // trip: each document's text is written into a genuine
      // Flate-compressed PDF (PdfText.write — byte-accurate xref,
      // octal-escaped UTF-8 literal strings), the binary payload goes
      // through the real per-partition extractor (content-stream scan,
      // java.util.zip inflate, the ISO 32000-1 §9.4 text-operator
      // grammar), and the result must equal the original text verbatim
      // — no whitespace-collapse forgiveness needed because, unlike
      // HTML, PDF strings are byte-exact. The only normalization is the
      // extractor's outer trim, mirrored in SQL.
      (s, dir) => {
        import s.implicits._
        val media = T(s, dir, "documents").filter(col("doc_id") < 200)
          .select(col("doc_id"), col("text"))
          .map { r => Multimodal.DocMediaRow(r.getLong(0),
            PdfText.write(Seq(r.getString(1)), compress = true), "pdf") }
        Multimodal.extractText(media).toDF()
          .select(col("media_id"), col("text"))
          .orderBy(col("media_id"))
      },
      Some("""
        SELECT doc_id AS media_id,
               regexp_replace(text, '^\s+|\s+$', '', 'g') AS text
        FROM documents WHERE doc_id < 200 ORDER BY media_id
      """),
      "real PDF→text extraction (FlateDecode + content-stream walk), oracle-checked via exact round trip"),

    "q_docx_extract" -> DeclaredQuery(
      // REAL DOCX→text extraction, oracle-checked through an EXACT
      // round trip (the PDF row's discipline for the other office
      // container): a .docx is a ZIP of OOXML — java.util.zip opens it,
      // the WordprocessingML walk (w:t runs, w:p paragraphs, entities)
      // recovers the text verbatim, whitespace preserved per
      // xml:space="preserve".
      (s, dir) => {
        import s.implicits._
        val media = T(s, dir, "documents").filter(col("doc_id") < 200)
          .select(col("doc_id"), col("text"))
          .map { r => Multimodal.DocMediaRow(r.getLong(0),
            graft.operators.DocxText.write(Seq(r.getString(1))), "docx") }
        Multimodal.extractText(media).toDF()
          .select(col("media_id"), col("text"))
          .orderBy(col("media_id"))
      },
      Some("""
        SELECT doc_id AS media_id,
               regexp_replace(text, '^\s+|\s+$', '', 'g') AS text
        FROM documents WHERE doc_id < 200 ORDER BY media_id
      """),
      "real DOCX→text extraction (ZIP + WordprocessingML walk), oracle-checked via exact round trip"),

    "q_odt_extract" -> DeclaredQuery(
      // REAL ODT→text extraction, oracle-checked via exact round trip:
      // ZIP + the ODF text vocabulary, with space runs encoded per ODF
      // whitespace rules so collapsing readers and this extractor agree.
      (s, dir) => {
        import s.implicits._
        val media = T(s, dir, "documents").filter(col("doc_id") < 150)
          .select(col("doc_id"), col("text"))
          .map { r => Multimodal.DocMediaRow(r.getLong(0),
            graft.operators.OdtText.write(Seq(r.getString(1))), "odt") }
        Multimodal.extractText(media).toDF()
          .select(col("media_id"), col("text"))
          .orderBy(col("media_id"))
      },
      Some("""
        SELECT doc_id AS media_id,
               regexp_replace(text, '^\s+|\s+$', '', 'g') AS text
        FROM documents WHERE doc_id < 150 ORDER BY media_id
      """),
      "real ODT→text extraction (ZIP + ODF walk), oracle-checked via exact round trip"),

    "q_rtf_extract" -> DeclaredQuery(
      // REAL RTF→text extraction, oracle-checked via exact round trip:
      // control-word walk with group tracking, destination drops, hex
      // and \uN unicode escapes.
      (s, dir) => {
        import s.implicits._
        val media = T(s, dir, "documents").filter(col("doc_id") < 150)
          .select(col("doc_id"), col("text"))
          .map { r => Multimodal.DocMediaRow(r.getLong(0),
            graft.operators.RtfText.write(Seq(r.getString(1))), "rtf") }
        Multimodal.extractText(media).toDF()
          .select(col("media_id"), col("text"))
          .orderBy(col("media_id"))
      },
      Some("""
        SELECT doc_id AS media_id,
               regexp_replace(text, '^\s+|\s+$', '', 'g') AS text
        FROM documents WHERE doc_id < 150 ORDER BY media_id
      """),
      "real RTF→text extraction (control-word walk), oracle-checked via exact round trip"),

    "q_extract_safe" -> DeclaredQuery(
      // The PRODUCTION extraction shape, oracle-checked: a mixed batch
      // where even ids are genuine DOCX payloads and odd ids are
      // garbage bytes under the same format tag — extractTextSafe must
      // recover every good document AND capture every bad one as an
      // error row instead of failing the batch (the
      // one-damaged-file-kills-a-million-doc-task failure mode,
      // eliminated by contract).
      (s, dir) => {
        import s.implicits._
        val media = T(s, dir, "documents").filter(col("doc_id") < 100)
          .select(col("doc_id"), col("text"))
          .map { r =>
            val id = r.getLong(0)
            val payload =
              if (id % 2 == 0) graft.operators.DocxText.write(Seq(r.getString(1)))
              else Array.tabulate[Byte](16)(j => ((id * 31 + j * 7) % 251).toByte)
            Multimodal.DocMediaRow(id, payload, "docx")
          }
        Multimodal.extractTextSafe(media).toDF()
          .select(col("media_id"),
            col("error").isNull.as("ok"),
            col("text"))
          .orderBy(col("media_id"))
      },
      Some("""
        SELECT doc_id AS media_id,
               doc_id % 2 = 0 AS ok,
               CASE WHEN doc_id % 2 = 0
                    THEN regexp_replace(text, '^\s+|\s+$', '', 'g') END AS text
        FROM documents WHERE doc_id < 100 ORDER BY media_id
      """),
      "error-capturing extraction: good rows recover, damaged rows become error rows, batch never dies — oracle-checked"),

    "q_quality" -> DeclaredQuery(
      (s, dir) => {
        val toks = TextAnalysis.tokens(col("text"))
        val stop = Seq("the", "a", "of", "to", "in")
        T(s, dir, "documents").select(
          col("doc_id"),
          length(col("text")).cast("long").as("text_len"),
          length(regexp_replace(col("text"), "[a-z0-9 ]", "")).cast("long")
            .as("punct_cnt"),
          round(size(filter(toks, t => t.isin(stop: _*))).cast("double") /
            size(toks), 4).as("stop_ratio"),
          round(aggregate(transform(toks, t => length(t).cast("long")),
            lit(0L), (a, x) => a + x).cast("double") / size(toks), 4)
            .as("avg_word_len"))
          .orderBy(col("doc_id")).limit(1000)
      },
      Some("""SELECT doc_id, length(text) AS text_len,
         |  length(regexp_replace(text, '[a-z0-9 ]', '', 'g')) AS punct_cnt,
         |  round(len(list_filter(t, x -> x IN ('the','a','of','to','in')))::DOUBLE
         |    / len(t), 4) AS stop_ratio,
         |  round(list_sum(list_transform(t, x -> length(x)))::DOUBLE / len(t), 4)
         |    AS avg_word_len
         |FROM (SELECT doc_id, text,
         |        list_filter(string_split(text, ' '), x -> x <> '') AS t
         |      FROM documents)
         |ORDER BY doc_id LIMIT 1000""".stripMargin),
      "quality scoring: length / punctuation / stopword ratios"),

    "q_gopher_rules" -> DeclaredQuery(
      // the Gopher rule-set quality gate (Rae et al. 2021 §A1.1,
      // public): word-count bounds, mean-word-length bounds, minimum
      // stopword count, most-common-word frequency cap — per-doc rule
      // booleans (0/1 BIGINT, the q_quality_gate convention) plus the
      // conjunctive verdict. Thresholds fixture-calibrated so every
      // rule bites. The whole gate is ONE row-local projection
      // (TextAnalysis.gopherRules — even the top-word count folds in
      // place over the token array): no explode, no join, no shuffle;
      // at 100 TB it runs at scan speed inside the admission chain.
      (s, dir) => TextAnalysis.gopherRules(
          T(s, dir, "documents"), "doc_id", "text")
        .orderBy(col("doc_id")).limit(1000),
      Some("""WITH t AS (SELECT doc_id,
         |        list_filter(string_split(text, ' '), x -> x <> '') AS tk
         |      FROM documents),
         |s AS (SELECT doc_id,
         |        len(tk) AS n_words,
         |        list_sum(list_transform(tk, x -> length(x)))::DOUBLE
         |          / len(tk) AS mwl,
         |        len(list_filter(tk, x -> x IN ('the','a','of','to','in')))
         |          AS n_stop,
         |        list_max(list_transform(list_distinct(tk),
         |            w -> len(list_filter(tk, x -> x = w))))::DOUBLE
         |          / len(tk) AS topfrac
         |      FROM t)
         |SELECT doc_id,
         |  CAST(n_words AS BIGINT) AS n_words,
         |  round(mwl, 4) AS mean_wlen,
         |  CAST(n_stop AS BIGINT) AS n_stop,
         |  round(topfrac, 4) AS top_frac,
         |  CAST(CASE WHEN n_words >= 20 AND n_words <= 80
         |    THEN 1 ELSE 0 END AS BIGINT) AS r_wordcount,
         |  CAST(CASE WHEN mwl >= 3.9 AND mwl <= 5.0
         |    THEN 1 ELSE 0 END AS BIGINT) AS r_meanlen,
         |  CAST(CASE WHEN n_stop >= 2
         |    THEN 1 ELSE 0 END AS BIGINT) AS r_stop,
         |  CAST(CASE WHEN topfrac <= 0.15
         |    THEN 1 ELSE 0 END AS BIGINT) AS r_topword,
         |  CAST(CASE WHEN n_words >= 20 AND n_words <= 80
         |    AND mwl >= 3.9 AND mwl <= 5.0 AND n_stop >= 2
         |    AND topfrac <= 0.15
         |    THEN 1 ELSE 0 END AS BIGINT) AS gopher_pass
         |FROM s ORDER BY doc_id LIMIT 1000""".stripMargin),
      "Gopher rule-set quality gate: 4 fixture-calibrated rules + verdict, one row-local projection"),

    "q_csv_roundtrip" -> DeclaredQuery(
      (s, dir) => {
        // A1/A2/B32 through the driver gate: encode 100 fixture vectors in
        // the reference CSV contract, read them back, aggregate — the
        // oracle computes the same aggregate straight from the parquet, so
        // any round-trip loss breaks the hash match
        // unique temp dir per invocation (a shared fixed path would race
        // under concurrent runs); the round-trip is materialized eagerly
        // so the directory can be deleted before returning
        withScratchDir("graft-csvrt") { tmpRoot =>
          val tmp = s"$tmpRoot/corpus"
          val src = T(s, dir, "embeddings").filter(col("vec_id") < 100)
            .select(col("vec_id").as("chunk_id"),
              lit("fixture").as("document_id"),
              concat(lit("chunk "), col("vec_id")).as("chunk_text"),
              col("embedding").as("vector_embedding"))
          graft.sources.EmbeddingCsv.write(src, tmp)
          localFrame(graft.sources.EmbeddingCsv.read(s, tmp)
            .agg(count(lit(1)).as("n"),
              r4(dbl(decSum(element_at(col("vector_embedding"), 1)))).as("sum_e1"),
              max(col("chunk_id")).as("max_id")))
        }
      },
      Some("""SELECT count(*) AS n,
         |  round(CAST(sum(CAST(embedding[1] AS DECIMAL(18,4))) AS DOUBLE), 4) AS sum_e1,
         |  max(vec_id) AS max_id
         |FROM embeddings WHERE vec_id < 100""".stripMargin),
      "A1/A2/B32: reference CSV codec round-trip vs parquet ground truth"),

    "q_skew_salted" -> DeclaredQuery(
      // the salted join is result-identical to the plain join (each big
      // row meets each matching small row exactly once), so the oracle
      // is simply the UNSALTED join — a green row proves the multiset
      // equivalence through the driver gate, not just in SkewSpec
      (s, dir) => {
        val joined = graft.operators.Skew.saltedJoin(
          T(s, dir, "lineitem")
            .select(col("l_orderkey"), col("l_linenumber"), col("l_quantity")),
          "l_orderkey", Seq("l_orderkey", "l_linenumber"),
          T(s, dir, "orders")
            .select(col("o_orderkey"), col("o_orderpriority")),
          "o_orderkey", factor = 2)
        // tail stays a distributed orderBy (5-row result, but the
        // salted join + decimal sum over ~600k lineitem rows is
        // compute-bound — the r18 localFrameOrdered experiment
        // regressed it via the collect gate's width-4 small-plan path)
        joined.groupBy(col("o_orderpriority"))
          .agg(count(lit(1)).as("n"),
            r4(dbl(decSum(col("l_quantity")))).as("sum_qty"))
          .orderBy(col("o_orderpriority"))
      },
      Some("""SELECT o_orderpriority, count(*) AS n,
         |  round(CAST(sum(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE), 4) AS sum_qty
         |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
         |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin),
      "skew-salted join ≡ plain join (deterministic content-derived salt)"),

    "q_bucketed_join" -> DeclaredQuery(
      // co-located join through the driver gate: both sides written
      // bucketed+sorted by the join key (in-memory catalog), joined with
      // zero exchanges (asserted in BucketingSpec), result ≡ plain join.
      // The bucketed layout comes from the shared per-dir memo (the
      // `_bucketed_build` infra line) — a deployment buckets its fact
      // tables once and every recurring join consumes the layout, so
      // the row prices the zero-exchange read, not a per-rep rewrite.
      (s, dir) => {
        val (lt, ot) = sharedBucketedTables.get(s, dir)
        s.table(lt).join(s.table(ot),
            col("l_orderkey") === col("o_orderkey"))
          .groupBy(col("o_orderpriority"))
          .agg(count(lit(1)).as("n"),
            r4(dbl(decSum(col("l_extendedprice")))).as("sum_price"))
          .orderBy(col("o_orderpriority"))
      },
      Some("""SELECT o_orderpriority, count(*) AS n,
         |  round(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,4))) AS DOUBLE), 4) AS sum_price
         |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
         |WHERE l_orderkey < 2000 AND o_orderkey < 2000
         |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin),
      "bucketed co-located join (zero-exchange SMJ) ≡ plain join"),

    "q_zorder_roundtrip" -> DeclaredQuery(
      // layout ops must be content-neutral: write a lineitem slice
      // Z-ordered by (l_partkey, l_suppkey), read it back, aggregate —
      // the oracle aggregates the unordered parquet directly, so any
      // row lost/duplicated by the clustering write breaks the match
      // clustered layout from the shared per-dir memo (`_zorder_build`
      // infra line): a layout rewrite happens once per compaction epoch
      // in a deployment; the row prices the clustered read-back whose
      // content-neutrality the oracle certifies
      (s, dir) => s.read.parquet(sharedZorderPath.get(s, dir))
        .agg(count(lit(1)).as("n"),
          r4(dbl(decSum(col("l_quantity")))).as("sum_qty"),
          countDistinct(col("l_partkey")).as("n_parts")),
      Some("""SELECT count(*) AS n,
         |  round(CAST(sum(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE), 4) AS sum_qty,
         |  CAST(count(DISTINCT l_partkey) AS BIGINT) AS n_parts
         |FROM lineitem WHERE l_orderkey < 3000""".stripMargin),
      "Z-order clustered write is content-neutral (round-trip vs parquet truth)"),

    "q_partitioned_prune" -> DeclaredQuery(
      // hive-partitioned write + pruned read through the driver gate:
      // only the filtered partition's files are listed/scanned (asserted
      // plan-side in PartitionPruningSpec); the oracle filters the flat
      // parquet
      // partitioned layout from the shared per-dir memo
      // (`_hivepart_build` infra line): the partitioned table IS the
      // deployed store; the row prices the partition-pruned read
      (s, dir) => s.read.parquet(sharedHivePartPath.get(s, dir))
        .filter(col("event_type") === "purchase")
        .agg(count(lit(1)).as("n"),
          r4(dbl(decSum(col("value")))).as("sum_value"),
          countDistinct(col("user_id")).as("n_users")),
      Some("""SELECT count(*) AS n,
         |  round(CAST(sum(CAST(value AS DECIMAL(18,4))) AS DOUBLE), 4) AS sum_value,
         |  CAST(count(DISTINCT user_id) AS BIGINT) AS n_users
         |FROM events WHERE event_type = 'purchase'""".stripMargin),
      "partitioned layout + partition-pruned read ≡ filtered flat scan"),

    "q_orc_roundtrip" -> DeclaredQuery(
      (s, dir) => formatRoundTrip(s, dir, "orc"),
      Some(formatRoundTripOracle),
      "B32: ORC source/sink round-trip vs parquet ground truth"),

    "q_jsonl_roundtrip" -> DeclaredQuery(
      (s, dir) => formatRoundTrip(s, dir, "json"),
      Some(formatRoundTripOracle),
      "B32: JSON-lines source/sink round-trip vs parquet ground truth"),

    "q_append" -> DeclaredQuery(
      (s, dir) => T(s, dir, "documents").select(col("doc_id"))
        .unionByName(s.range(1).select(lit(999999L).as("doc_id")))
        .agg(count(lit(1)).as("n"), max(col("doc_id")).as("max_id")),
      Some("""SELECT count(*) AS n, max(doc_id) AS max_id
         |FROM (SELECT doc_id FROM documents
         |      UNION ALL SELECT 999999 AS doc_id)""".stripMargin),
      "A6: append = lazy union of new rows (vs the reference's full-table copy, app.py:118)"),

    "q_datefns" -> DeclaredQuery(
      (s, dir) => T(s, dir, "orders")
        .select(col("o_orderkey"),
          year(col("o_orderdate")).cast("long").as("yr"),
          month(col("o_orderdate")).cast("long").as("mo"),
          dayofmonth(col("o_orderdate")).cast("long").as("dom"),
          datediff(col("o_orderdate"), lit("1995-01-01").cast("date"))
            .cast("long").as("d_days"),
          unix_timestamp(col("o_orderdate")).as("epoch_s"))
        .orderBy(col("o_orderkey")).limit(300),
      Some("""SELECT o_orderkey, year(o_orderdate) AS yr, month(o_orderdate) AS mo,
         |  day(o_orderdate) AS dom,
         |  date_diff('day', DATE '1995-01-01', o_orderdate::DATE) AS d_days,
         |  CAST(epoch(o_orderdate) AS BIGINT) AS epoch_s
         |FROM orders ORDER BY o_orderkey LIMIT 300""".stripMargin),
      "B29: date/time scalar functions"),

    "q_format" -> DeclaredQuery(
      (s, dir) => Search.topK(T(s, dir, "embeddings"),
        "embedding", "vec_id", QueryVectors.q2, k = 5)
        .select(col("vec_id"),
          format_string("%.4f", col("sim")).as("sim_fmt")),
      Some(s"""SELECT vec_id, printf('%.4f', sim) AS sim_fmt FROM (
         |  SELECT vec_id, round(${duckDot("embedding", q2Sql)}, 4) AS sim
         |  FROM embeddings ORDER BY sim DESC, vec_id LIMIT 5)""".stripMargin),
      "A11: 4-decimal result formatting (reference app.py:91)")
  )
}
