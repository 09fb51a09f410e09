package graftbench

/** Output checkers. Every one recomputes the answer from the benchmark's
  * own copy of the inputs, never from the engine. */
object Check {
  /** The engine's score: a sequential double-precision dot product of the
    * float vectors, rounded to 4 decimals half-up (Spark's `round`). */
  def dot(a: Array[Float], ao: Int, b: Array[Float], dim: Int): Double = {
    var acc = 0.0; var i = 0
    while (i < dim) { acc += a(ao + i).toDouble * b(i).toDouble; i += 1 }
    acc
  }
  def round4(d: Double): Double =
    BigDecimal(d).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble

  /** Ranking order: similarity descending, then id ascending. */
  private val order: Ordering[(Long, Double)] =
    Ordering.by[(Long, Double), (Double, Long)](h => (-h._2, h._1))

  final class BruteForce(vecs: Array[Float], n: Int, dim: Int) {
    def topK(q: Array[Float], k: Int): Seq[(Long, Double)] = {
      val heap = new java.util.PriorityQueue[(Long, Double)](k + 1, order.reverse)
      var i = 0
      while (i < n) {
        val h = (i.toLong, round4(dot(vecs, i * dim, q, dim)))
        if (heap.size < k) heap.add(h)
        else if (order.lt(h, heap.peek())) { heap.poll(); heap.add(h) }
        i += 1
      }
      scala.jdk.CollectionConverters.CollectionHasAsScala(heap).asScala.toSeq.sorted(order)
    }
  }

  def score(q: Array[Float], rows: Seq[(Long, Array[Float])]): Seq[(Long, Double)] =
    rows.map { case (id, v) => (id, round4(dot(v, 0, q, q.length))) }

  def merge(a: Seq[(Long, Double)], b: Seq[(Long, Double)], k: Int): Seq[(Long, Double)] =
    (a ++ b).sorted(order).take(k)

  private val hitRe = """"chunk_id":(-?\d+),"chunk_text":"[^"]*","similarity":(-?[0-9.]+)""".r

  /** (chunk_id, similarity as printed) of a `/search` reply, in order. */
  def parseHits(body: String): Seq[(Long, String)] =
    hitRe.findAllMatchIn(body).map(m => (m.group(1).toLong, m.group(2))).toSeq

  def hitsEqual(got: Seq[(Long, String)], want: Seq[(Long, Double)]): Boolean =
    got == want.map { case (id, s) => (id, "%.4f".formatLocal(java.util.Locale.ROOT, s)) }

  def parseCount(body: String): Option[Long] =
    """\{"count":(\d+)\}""".r.findFirstMatchIn(body).map(_.group(1).toLong)

  /** Mean share of the exact top-k ids that an approximate answer found. */
  def recall(exact: Seq[Seq[Long]], got: Seq[Seq[Long]]): Double =
    exact.zip(got).map { case (e, g) =>
      if (e.isEmpty) 1.0 else e.toSet.intersect(g.toSet).size.toDouble / e.size
    }.sum / math.max(1, exact.size)

  /** Admission invariants of one stream run against the generated kinds.
    * `stored` is the store re-read from disk: doc_id -> text. */
  final case class Admission(problems: Seq[String], plantedRejected: Long,
                             planted: Long, freshAdmitted: Long, fresh: Long)

  def admission(base: IndexedSeq[String], rows: Seq[(Long, String, Int)],
                stored: collection.Map[Long, String], storedRows: Long,
                committedRows: Long): Admission = {
    val problems = Seq.newBuilder[String]
    if (storedRows != stored.size) problems += s"duplicate ids in the store: $storedRows rows, ${stored.size} ids"
    if (storedRows != committedRows)
      problems += s"store has $storedRows rows, base + admitted commits say $committedRows"
    val baseMissing = base.indices.count(i => !stored.get(i.toLong).contains(base(i)))
    if (baseMissing > 0) problems += s"$baseMissing base documents missing or changed"
    val byId = rows.map(r => r._1 -> r).toMap
    val foreign = stored.keys.count(id => id >= base.size && !byId.contains(id))
    if (foreign > 0) problems += s"$foreign stored ids were never sent"
    val changed = rows.count(r => stored.get(r._1).exists(_ != r._2))
    if (changed > 0) problems += s"$changed admitted documents have changed text"
    val fresh = rows.filter(_._3 == Gen.Kind.Fresh)
    val freshIn = fresh.count(r => stored.contains(r._1))
    if (freshIn != fresh.size) problems += s"${fresh.size - freshIn} fresh documents rejected"
    val exactIn = rows.count(r => r._3 == Gen.Kind.Exact && stored.contains(r._1))
    if (exactIn > 0) problems += s"$exactIn exact copies admitted"
    val planted = rows.filter(_._3 != Gen.Kind.Fresh)
    Admission(problems.result(), planted.count(r => !stored.contains(r._1)),
      planted.size, freshIn, fresh.size)
  }

  /** Feed each checker a corrupted answer and expect it to object. */
  def selfTest(): Boolean = {
    val dim = 4
    val vecs = Array[Float](1, 0, 0, 0, 0, 2, 0, 0, 1, 1, 0, 0, 0, 0, 3, 0)
    val bf = new BruteForce(vecs, 4, dim)
    val q = Array[Float](1, 1, 0, 0)
    val want = bf.topK(q, 2) // ids 1 (2.0) and 2 (2.0): tie broken by id
    val good = """{"results":[{"chunk_id":1,"chunk_text":"x","similarity":2.0000},""" +
      """{"chunk_id":2,"chunk_text":"y","similarity":2.0000}]}"""
    val swapped = good.replace("\"chunk_id\":1", "\"chunk_id\":9")
    val reordered = """{"results":[{"chunk_id":2,"chunk_text":"y","similarity":2.0000},""" +
      """{"chunk_id":1,"chunk_text":"x","similarity":2.0000}]}"""
    val searchOk = hitsEqual(parseHits(good), want) &&
      !hitsEqual(parseHits(swapped), want) && !hitsEqual(parseHits(reordered), want)
    val recallOk = recall(Seq(Seq(1L, 2L)), Seq(Seq(2L, 1L))) == 1.0 &&
      recall(Seq(Seq(1L, 2L)), Seq(Seq(1L, 3L))) == 0.5
    val base = IndexedSeq("a b c", "d e f")
    val rows = Seq((10L, "x y z", Gen.Kind.Fresh), (11L, "a b c", Gen.Kind.Exact))
    val goodStore = Map(0L -> "a b c", 1L -> "d e f", 10L -> "x y z")
    val admitOk = admission(base, rows, goodStore, 3, 3).problems.isEmpty &&
      admission(base, rows, goodStore + (11L -> "a b c"), 4, 4).problems.nonEmpty &&
      admission(base, rows, goodStore - 10L, 2, 2).problems.nonEmpty &&
      admission(base, rows, goodStore, 3, 4).problems.nonEmpty
    searchOk && recallOk && admitOk
  }
}
