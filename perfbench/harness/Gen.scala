package graftbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path}

/** SplitMix64: a tiny, fully specified generator, so a seed gives the same
  * stream on every JVM and the inputs do not depend on library versions. */
final class Rng(seed: Long) {
  private var state = seed
  def nextLong(): Long = {
    state += 0x9E3779B97F4A7C15L
    var z = state
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }
  /** Uniform in [0, n). */
  def nextInt(n: Int): Int = java.lang.Math.floorMod(nextLong() >>> 1, n.toLong).toInt
  def between(lo: Int, hi: Int): Int = lo + nextInt(hi - lo + 1)
}

object Rng {
  /** An independent stream per purpose: the same (seed, tag) always gives
    * the same stream, and streams with different tags do not overlap in
    * practice. */
  def of(seed: Long, tag: String): Rng = {
    var h = seed ^ 0x6772616674L
    tag.foreach { c => h = (h ^ c) * 0x100000001B3L }
    new Rng(new Rng(h).nextLong())
  }
}

/** Seeded inputs for the three workloads. Documents are word soup over the
  * 31-word vocabulary of the sf0.1 `documents` fixture; every input is a
  * pure function of (seed, sizes), written by plain file I/O so the same
  * seed gives byte-identical files. */
object Gen {
  val Vocab: IndexedSeq[String] = IndexedSeq(
    "a", "agg", "batch", "big", "column", "customer", "data", "dup", "fast",
    "filter", "group", "hash", "join", "key", "line", "merge", "order",
    "part", "query", "row", "scan", "slow", "small", "sort", "spark",
    "stream", "table", "the", "value", "vector", "window")

  def soup(rng: Rng, minWords: Int, maxWords: Int): String = {
    val n = rng.between(minWords, maxWords)
    val sb = new StringBuilder
    var i = 0
    while (i < n) {
      if (i > 0) sb.append(' ')
      sb.append(Vocab(rng.nextInt(Vocab.size)))
      i += 1
    }
    sb.toString
  }

  /** `n` distinct texts of `minWords`..`maxWords` words. */
  def uniqueSoups(rng: Rng, n: Int, minWords: Int, maxWords: Int,
                  avoid: collection.Set[String] = Set.empty): IndexedSeq[String] = {
    val seen = new java.util.HashSet[String]()
    val out = IndexedSeq.newBuilder[String]
    var k = 0
    while (k < n) {
      val s = soup(rng, minWords, maxWords)
      if (!avoid.contains(s) && seen.add(s)) { out += s; k += 1 }
    }
    out.result()
  }

  def writeLines(p: Path, lines: Iterator[String]): Unit = {
    val w = Files.newBufferedWriter(p, UTF_8)
    try lines.foreach { l => w.write(l); w.write('\n') } finally w.close()
  }

  def jsonDoc(id: Long, text: String): String =
    s"""{"doc_id":$id,"text":"$text"}"""

  // ---- search_mixed ----------------------------------------------------

  val WarmQueries = 16

  final case class SearchInputs(texts: IndexedSeq[String],
                                vectors: Array[Float], dim: Int,
                                warmQueries: IndexedSeq[String],
                                queries: IndexedSeq[String],
                                adds: IndexedSeq[String])

  /** `chunks` corpus rows (chunk_id = row number, embedded with the
    * engine's default embedder, which the CSV carries as the reference
    * contract's vector column), plus unique query and append texts. */
  def search(seed: Long, chunks: Int, nQueries: Int, nAdds: Int,
             embed: String => Array[Float], dim: Int): SearchInputs = {
    val rc = Rng.of(seed, "search.corpus")
    val texts = IndexedSeq.fill(chunks)(soup(rc, 20, 80))
    val vecs = new Array[Float](chunks * dim)
    var i = 0
    while (i < chunks) {
      System.arraycopy(embed(texts(i)), 0, vecs, i * dim, dim); i += 1
    }
    val qs = uniqueSoups(Rng.of(seed, "search.queries"), nQueries + WarmQueries, 3, 12)
    val adds = uniqueSoups(Rng.of(seed, "search.adds"), nAdds, 20, 80,
      avoid = texts.toSet)
    SearchInputs(texts, vecs, dim, qs.take(WarmQueries), qs.drop(WarmQueries), adds)
  }

  def writeSearch(in: SearchInputs, dir: Path): Path = {
    val csv = dir.resolve("corpus.csv")
    val w = Files.newBufferedWriter(csv, UTF_8)
    try {
      w.write("chunk_id,document_id,chunk_text,vector_embedding\n")
      var i = 0
      while (i < in.texts.size) {
        w.write(i.toString); w.write(",doc"); w.write((i / 4).toString)
        w.write(','); w.write(in.texts(i)); w.write(",\"")
        var d = 0
        while (d < in.dim) {
          if (d > 0) w.write(',')
          w.write(java.lang.Float.toString(in.vectors(i * in.dim + d)))
          d += 1
        }
        w.write("\"\n")
        i += 1
      }
    } finally w.close()
    writeLines(dir.resolve("queries.txt"), (in.warmQueries ++ in.queries).iterator)
    writeLines(dir.resolve("adds.txt"), in.adds.iterator)
    csv
  }

  // ---- ingest_admit ----------------------------------------------------

  object Kind { val Fresh = 0; val Exact = 1; val Near = 2 }

  final case class IngestInputs(baseTexts: IndexedSeq[String],
                                batches: IndexedSeq[IndexedSeq[(Long, String, Int)]])

  val IngestIdBase = 1000000000L

  /** Base store texts (doc_id = row number) and `nBatches` batches of
    * `batchSize` rows: 70 % fresh, 20 % exact copies of stored documents
    * and 10 % near-copies (one word of a stored document of at least 60
    * words replaced by a different word), in seeded order. */
  def ingest(seed: Long, baseDocs: Int, nBatches: Int,
             batchSize: Int): IngestInputs = {
    val rb = Rng.of(seed, "ingest.base")
    val base = IndexedSeq.fill(baseDocs)(soup(rb, 20, 80))
    val long = base.indices.filter(i => base(i).count(_ == ' ') + 1 >= 60)
    val known = new java.util.HashSet[String]()
    base.foreach(known.add)
    val nExact = batchSize / 5
    val nNear = batchSize / 10
    val nFresh = batchSize - nExact - nNear
    val batches = (0 until nBatches).map { b =>
      val r = Rng.of(seed, s"ingest.batch.$b")
      val rows = scala.collection.mutable.ArrayBuffer[(String, Int)]()
      while (rows.size < nFresh) {
        val s = soup(r, 20, 80)
        if (known.add(s)) rows += ((s, Kind.Fresh))
      }
      for (_ <- 0 until nExact) rows += ((base(r.nextInt(base.size)), Kind.Exact))
      for (_ <- 0 until nNear) {
        val words = base(long(r.nextInt(long.size))).split(' ')
        val pos = r.nextInt(words.length)
        var w = words(pos)
        while (w == words(pos)) w = Vocab(r.nextInt(Vocab.size))
        words(pos) = w
        rows += ((words.mkString(" "), Kind.Near))
      }
      // Fisher-Yates with the batch's own stream
      var i = rows.size - 1
      while (i > 0) {
        val j = r.nextInt(i + 1)
        val t = rows(i); rows(i) = rows(j); rows(j) = t
        i -= 1
      }
      rows.toIndexedSeq.zipWithIndex.map { case ((s, k), j) =>
        (IngestIdBase + b.toLong * batchSize + j, s, k)
      }
    }
    IngestInputs(base, batches)
  }

  /** base.jsonl plus one batch-NNNNN.jsonl file per batch under `dir`. */
  def writeIngest(in: IngestInputs, dir: Path): IndexedSeq[Path] = {
    writeLines(dir.resolve("base.jsonl"),
      in.baseTexts.iterator.zipWithIndex.map { case (t, i) => jsonDoc(i, t) })
    in.batches.zipWithIndex.map { case (rows, b) =>
      val p = dir.resolve(f"batch-$b%05d.jsonl")
      writeLines(p, rows.iterator.map { case (id, t, _) => jsonDoc(id, t) })
      p
    }
  }

  // ---- embed_index -----------------------------------------------------

  final case class EmbedInputs(docs: IndexedSeq[String], queries: IndexedSeq[String])

  def embedIndex(seed: Long, nDocs: Int, nQueries: Int): EmbedInputs = {
    val r = Rng.of(seed, "embed.docs")
    EmbedInputs(IndexedSeq.fill(nDocs)(soup(r, 20, 80)),
      uniqueSoups(Rng.of(seed, "embed.queries"), nQueries, 5, 20))
  }

  /** The documents as `shards` JSON-lines files under `docs/` (a corpus
    * arrives in shards, and the shards are what lets Spark split the
    * embedding over the cores), and the query texts. Returns `docs/`. */
  def writeEmbed(in: EmbedInputs, dir: Path, shards: Int): Path = {
    val d = Files.createDirectories(dir.resolve("docs"))
    (0 until shards).foreach { s =>
      writeLines(d.resolve(f"part-$s%02d.jsonl"), (s until in.docs.size by shards).iterator
        .map(i => jsonDoc(i, in.docs(i))))
    }
    writeLines(dir.resolve("queries.txt"), in.queries.iterator)
    d
  }
}
