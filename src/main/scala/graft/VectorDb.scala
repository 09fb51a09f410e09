package graft

import scala.collection.immutable.ArraySeq
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.functions.Embedder
import graft.sources.EmbeddingCsv

/** The reference application's complete user-facing surface — its four
  * verbs *load, embed, search, append* (reference `app.py`: load
  * 51-58/145-152, embed 27-37, search 40-48, append 105-118) plus the
  * stats sidebar (A8/A9) — over one driver-resident serving corpus. A
  * user of the reference maps 1:1:
  *
  * | reference                           | here                     |
  * |-------------------------------------|--------------------------|
  * | upload CSV (replaces table)         | `load(path)`             |
  * | predefined file at startup          | `VectorDb.open(...)`     |
  * | "Add New Data" form                 | `add(chunkId, text)`     |
  * | "Search" button                     | `search(query, topK)`    |
  * | sidebar count / empty warning       | `count` / `isEmpty`      |
  * | (implied) persist                   | `save(path)`             |
  *
  * Deliberate semantic upgrades carried over from SURVEY.md §1.5: search
  * never mutates the stored corpus (vs `app.py:45`), ties break on
  * chunk_id, malformed CSV fails fast, and `add` appends in place instead
  * of copying the table (`app.py:118`).
  *
  * '''Snapshot.''' `load` is one Spark read of the CSV contract whose one
  * job collects every row to the driver; that collect is the FAILFAST
  * validation, and the new snapshot replaces the served one only once it
  * is complete, so a failed load leaves the old corpus serving. After
  * that no request runs Spark: `search`/[[hits]] score the snapshot on
  * the driver's cores, `add` appends to it and `count`/`isEmpty` read
  * it. [[table]] and [[save]] hand the same rows back to Spark.
  *
  * '''Memory contract.''' The driver holds every row: 4·dim bytes of
  * vector plus the id, document id and text (100k 64-dim chunks ≈ 26 MB
  * of vectors), and `load` briefly holds the collected rows beside the
  * new snapshot. A corpus that does not fit the driver heap is not served
  * from here: it stays a distributed table queried with
  * [[graft.operators.Search.topK]].
  *
  * '''Writers.''' `add` and `load` serialize on a writer lock this object
  * owns, so concurrent callers never lose an append; readers take no
  * lock and see the last published snapshot.
  */
final class VectorDb(spark: SparkSession,
                     embedder: Embedder = Embedder.default) {

  private val writer = new Object
  @volatile private var corpus = VectorDb.Corpus.empty(embedder.dim)

  /** A9 — `df.empty` guard. */
  def isEmpty: Boolean = corpus.n == 0

  /** A8 — sidebar count. */
  def count: Long = corpus.n.toLong

  /** The served rows as a DataFrame in the 4-column schema (read-only
    * view). Lazy: rows are built only when a job reads it. */
  def table: DataFrame = corpus.toDf(spark)

  /** A1/A2/A7 — read the reference CSV contract, REPLACING the corpus.
    * The read and its validation happen before the swap, so a malformed
    * or unreadable file leaves the served corpus as it was. */
  def load(path: String): this.type = writer.synchronized {
    // drop any cached file listing/status for the path (the shared
    // FileStatusCache outlives the plan, and a replaced file's stale
    // LENGTH would truncate or over-read the new bytes)
    spark.catalog.refreshByPath(path)
    import spark.implicits._
    val rows = EmbeddingCsv.read(spark, path)
      .as[(java.lang.Long, String, String, Array[Float])].collect()
    corpus = VectorDb.Corpus.of(rows, embedder.dim)
    this
  }

  /** B32 — persist in the reference CSV contract. */
  def save(path: String): Unit = EmbeddingCsv.write(table, path)

  /** A6 — append one chunk, embedding computed with the engine embedder;
    * `document_id` is pinned to "user_added" exactly like `app.py:112`. */
  def add(chunkId: Long, text: String): this.type = {
    val v = embedder.embed(text)
    writer.synchronized { corpus = corpus.appended(chunkId, "user_added", text, v) }
    this
  }

  /** A3→A4→A5 — the flagship query on the driver: embed the text, raw-dot
    * score every chunk (NOT cosine — reference semantics, `app.py:45`),
    * top-k by the score rounded to 4 decimals with ties on chunk_id.
    * Exactly the rows and order of [[graft.operators.Search.topK]] over
    * [[table]] restricted to scorable rows: a NULL vector or one whose
    * length is not the embedder's `dim` scores NULL there and is never a
    * hit here. */
  def hits(query: String, topK: Int = 5): IndexedSeq[VectorDb.Hit] = {
    require(query != null && query.nonEmpty, "empty query (A14 guard, app.py:95)")
    corpus.topK(embedder.embed(query).map(_.toDouble), topK)
  }

  /** [[hits]] as a (chunk_id, chunk_text, sim) DataFrame. */
  def search(query: String, topK: Int = 5): DataFrame =
    spark.createDataFrame(
      hits(query, topK).map(h => Row(h.chunkId, h.text, h.sim)).asJava,
      VectorDb.hitSchema)

  /** A11 — results with the reference's 4-decimal display format. */
  def searchFormatted(query: String, topK: Int = 5): DataFrame =
    search(query, topK)
      .withColumn("sim", format_string("%.4f", col("sim")))
}

object VectorDb {
  /** A10 — the canonical 4-column schema (SURVEY.md §1.1). */
  val schema: StructType = StructType(Seq(
    StructField("chunk_id", LongType),
    StructField("document_id", StringType),
    StructField("chunk_text", StringType),
    StructField("vector_embedding", ArrayType(FloatType))))

  private val hitSchema: StructType = StructType(Seq(
    StructField("chunk_id", LongType),
    StructField("chunk_text", StringType),
    StructField("sim", DoubleType)))

  /** One search result; `sim` is the dot score rounded to 4 decimals. */
  final case class Hit(chunkId: java.lang.Long, text: String, sim: Double)

  /** A13 — open a predefined file if present, else start empty
    * (`app.py:66-73`). */
  def open(spark: SparkSession, predefinedPath: Option[String] = None): VectorDb = {
    val db = new VectorDb(spark)
    predefinedPath.filter { p =>
      val path = new org.apache.hadoop.fs.Path(p)
      // resolve the FS from the path itself — the session's default FS
      // may be a different scheme (hdfs vs s3a vs file)
      path.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(path)
    }.foreach(db.load)
    db
  }

  /** Spark's `round(x, 4)` on a double: HALF_UP on the double's decimal
    * form, NaN and infinities unchanged. */
  private def round4(x: Double): Double =
    if (x.isNaN || x.isInfinite) x
    else java.math.BigDecimal.valueOf(x)
      .setScale(4, java.math.RoundingMode.HALF_UP).doubleValue

  /** Spark's sort order of doubles: NaN above everything, -0.0 = 0.0. */
  private def compareDoubles(x: Double, y: Double): Int =
    if (x == y) 0 else java.lang.Double.compare(x, y)

  /** Spark's `desc(sim), asc(chunk_id)`: higher score first, then the
    * smaller id, a NULL id first. */
  private val hitOrder: Ordering[Hit] = (a, b) => {
    val c = compareDoubles(b.sim, a.sim)
    if (c != 0) c
    else if (a.chunkId == null) (if (b.chunkId == null) 0 else -1)
    else if (b.chunkId == null) 1
    else java.lang.Long.compare(a.chunkId, b.chunkId)
  }

  /** Rows a scoring task covers at least, so a small corpus is scored on
    * the calling thread. */
  private val MinRowsPerTask = 16384
  /** Rows scored per cache tile: one tile of scores and of each feature
    * column stays in L2 while every feature is folded in. */
  private val TileRows = 2048

  /** An immutable serving snapshot of `n` rows.
    *
    * Vectors are FEATURE-MAJOR: `cols(j)(r)` is element j of row r, so
    * scoring folds feature j into every row's score in one inner loop
    * that reads and writes at the same index (`s(r) += cols(j)(r) *
    * q(j)`) and vectorizes, while each row's own fold still runs over j
    * ascending in double — the arithmetic of `DotProduct`. A row whose
    * vector is NULL or not `dim` long keeps it in `odd`; its column slots
    * hold zeros and it never scores.
    *
    * Rows `[0, n)` never change. The arrays may be longer: [[appended]]
    * writes row `n` into the free slot, which no published snapshot
    * reads, and publishes a snapshot of `n + 1`; only when the arrays are
    * full does it copy into arrays of twice the capacity. Appends go
    * through the owner's writer lock, so the newest snapshot of a set of
    * arrays is the only one that writes to them. */
  private final class Corpus(val n: Int, dim: Int,
                             ids: Array[java.lang.Long], docs: Array[String],
                             texts: Array[String], cols: Array[Array[Float]],
                             odd: Map[Int, Array[Float]]) {

    def appended(id: java.lang.Long, doc: String, text: String,
                 v: Array[Float]): Corpus = {
      val cap = ids.length
      val (ids2, docs2, texts2, cols2) =
        if (n < cap) (ids, docs, texts, cols)
        else {
          val c = math.max(16, cap * 2)
          (java.util.Arrays.copyOf(ids, c), java.util.Arrays.copyOf(docs, c),
            java.util.Arrays.copyOf(texts, c),
            cols.map(java.util.Arrays.copyOf(_, c)))
        }
      ids2(n) = id
      docs2(n) = doc
      texts2(n) = text
      val regular = v != null && v.length == dim
      var j = 0
      while (j < dim) {
        cols2(j)(n) = if (regular) v(j) else 0f
        j += 1
      }
      new Corpus(n + 1, dim, ids2, docs2, texts2, cols2,
        if (regular) odd else odd.updated(n, v))
    }

    private def vector(r: Int): Array[Float] =
      odd.getOrElse(r, Array.tabulate(dim)(j => cols(j)(r)))

    def toDf(spark: SparkSession): DataFrame = {
      val rows = new IndexedSeq[Row] {
        def length: Int = n
        def apply(r: Int): Row = {
          val v = vector(r)
          Row(ids(r), docs(r), texts(r),
            if (v == null) null else ArraySeq.unsafeWrapArray(v))
        }
      }
      spark.createDataFrame(spark.sparkContext.parallelize(rows), schema)
    }

    private def scorable(r: Int): Boolean = odd.isEmpty || !odd.contains(r)

    /** Raw dot scores of rows `[lo, hi)` into `s`, tile by tile, and the
      * `k` largest scores of its scorable rows by `Double.compare` (NaN
      * largest). */
    private def scoreRange(q: Array[Double], s: Array[Double], lo: Int,
                           hi: Int, k: Int): Iterable[java.lang.Double] = {
      val top = new java.util.PriorityQueue[java.lang.Double](k)
      var t0 = lo
      while (t0 < hi) {
        val t1 = math.min(hi, t0 + TileRows)
        var j = 0
        while (j < dim) {
          val c = cols(j)
          val qj = q(j)
          var r = t0
          while (r < t1) {
            s(r) += c(r) * qj
            r += 1
          }
          j += 1
        }
        var r = t0
        while (r < t1) {
          if (scorable(r)) {
            if (top.size < k) top.add(s(r))
            else if (java.lang.Double.compare(s(r), top.peek) > 0) {
              top.poll()
              top.add(s(r))
            }
          }
          r += 1
        }
        t0 = t1
      }
      top.asScala
    }

    /** The `k` best scorable rows for the query vector `q`, in
      * `hitOrder`. Rows are split across cores; each task keeps a bounded
      * heap of its largest raw scores and the heaps merge into the k-th
      * largest raw score `t`. Rounding is monotone and moves a value by
      * at most 5e-5 plus a few ulps, so a row whose raw score is more
      * than 1e-4 (plus a relative slack covering those ulps) below `t`
      * rounds strictly below the k-th hit: only the rows inside that
      * window are rounded and sorted. */
    def topK(q: Array[Double], k: Int): IndexedSeq[Hit] = {
      require(q.length == dim,
        s"query vector has ${q.length} elements, the corpus $dim")
      val s = new Array[Double](n)
      val parts = math.max(1, math.min(
        Runtime.getRuntime.availableProcessors, n / MinRowsPerTask))
      val heaps = java.util.stream.IntStream.range(0, parts).parallel()
        .mapToObj[Iterable[java.lang.Double]](p =>
          scoreRange(q, s, (n.toLong * p / parts).toInt,
            (n.toLong * (p + 1) / parts).toInt, k))
        .toArray(new Array[Iterable[java.lang.Double]](_))
      val best = heaps.flatten.sortWith(_.compareTo(_) > 0)
      val floor =
        if (best.length < k) Double.NegativeInfinity
        else {
          val t: Double = best(k - 1)
          if (t.isNaN || t.isInfinite) t
          else t - (1e-4 + 1e-9 * math.max(1.0, math.abs(t)))
        }
      val candidates = IndexedSeq.newBuilder[Hit]
      var r = 0
      while (r < n) {
        val x = s(r)
        if ((x.isNaN || x >= floor) && scorable(r))
          candidates += Hit(ids(r), texts(r), round4(x))
        r += 1
      }
      candidates.result().sorted(hitOrder).take(k)
    }
  }

  private object Corpus {
    def empty(dim: Int): Corpus =
      new Corpus(0, dim, Array.empty, Array.empty, Array.empty,
        Array.fill(dim)(Array.emptyFloatArray), Map.empty)

    def of(rows: Array[(java.lang.Long, String, String, Array[Float])],
           dim: Int): Corpus =
      rows.foldLeft(empty(dim)) { case (c, (id, doc, text, v)) =>
        c.appended(id, doc, text, v)
      }
  }
}
