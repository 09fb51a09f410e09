package graft

import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite

import graft.functions.Embedder

/** End-to-end test of the reference's four verbs through the facade:
  * load → search → append → search-again (SURVEY.md §3 lifecycles). */
class VectorDbSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private def freshCsv(): String = {
    val dir = Files.createTempDirectory("graft-vdb").toString + "/corpus"
    val e = Embedder.default
    val df = Seq(
      (1L, "docA", "spark engine query plan", e.embed("spark engine query plan")),
      (2L, "docA", "cats and dogs play outside", e.embed("cats and dogs play outside")),
      (3L, "docB", "fast vector search engine", e.embed("fast vector search engine"))
    ).toDF("chunk_id", "document_id", "chunk_text", "vector_embedding")
    graft.sources.EmbeddingCsv.write(df, dir)
    dir
  }

  test("open without a predefined file starts empty with a usable schema (A9/A10/A13)") {
    val db = VectorDb.open(spark, Some("/nonexistent/path.csv"))
    assert(db.isEmpty)
    assert(db.table.columns.toSeq ===
      Seq("chunk_id", "document_id", "chunk_text", "vector_embedding"))
  }

  test("load → search → add → search again (the full reference lifecycle)") {
    val db = new VectorDb(spark).load(freshCsv())
    assert(db.count === 3)

    // same-token query embeds identically → its source chunk must win
    val top = db.search("spark engine query plan", 1)
      .select("chunk_id").as[Long].head
    assert(top === 1L)

    // append (A6) — document_id pinned like app.py:112, then findable
    db.add(99L, "totally novel appended chunk")
    assert(db.count === 4)
    assert(db.table.filter($"chunk_id" === 99L)
      .select("document_id").as[String].head === "user_added")
    val top2 = db.search("totally novel appended chunk", 1)
      .select("chunk_id").as[Long].head
    assert(top2 === 99L)
  }

  test("load replaces, not merges (A7)") {
    val db = new VectorDb(spark).load(freshCsv())
    db.add(50L, "extra")
    db.load(freshCsv())
    assert(db.count === 3)
  }

  test("search does not mutate the corpus and rejects empty queries (A14)") {
    val db = new VectorDb(spark).load(freshCsv())
    db.search("anything").collect()
    assert(db.table.columns.length === 4, "no similarity column may leak into the store")
    intercept[IllegalArgumentException](db.search(""))
  }

  test("formatted search renders 4-decimal strings (A11)") {
    val db = new VectorDb(spark).load(freshCsv())
    val s = db.searchFormatted("spark engine", 1).select("sim").as[String].head
    assert(s.matches("-?\\d+\\.\\d{4}"))
  }

  test("save round-trips through the CSV contract (B32)") {
    val db = new VectorDb(spark).load(freshCsv())
    val out = Files.createTempDirectory("graft-vdb-out").toString + "/saved"
    db.save(out)
    val back = new VectorDb(spark).load(out)
    assert(back.count === 3)
    assert(back.search("fast vector search engine", 1)
      .select("chunk_id").as[Long].head === 3L)
  }

  test("same-path reload re-reads the changed file, not the stale cache") {
    val e = Embedder.default
    val dir = Files.createTempDirectory("graft-vdb-reload").toString + "/corpus"
    val v1 = Seq((1L, "docA", "first version", e.embed("first version")))
      .toDF("chunk_id", "document_id", "chunk_text", "vector_embedding")
    graft.sources.EmbeddingCsv.write(v1, dir)
    val db = new VectorDb(spark).load(dir)
    assert(db.count === 1)
    // replace the file at the SAME path — the r14-advice hazard: a
    // reload that reuses anything keyed by the path (a cached plan, a
    // file listing) serves the v1 rows
    val v2 = Seq(
      (10L, "docB", "second version row one", e.embed("second version row one")),
      (11L, "docB", "second version row two", e.embed("second version row two"))
    ).toDF("chunk_id", "document_id", "chunk_text", "vector_embedding")
    graft.sources.EmbeddingCsv.write(v2, dir)
    db.load(dir)
    assert(db.count === 2, "reload must serve the new file's rows")
    assert(db.table.select("chunk_id").as[Long].collect().sorted
      === Array(10L, 11L))
  }

  test("concurrent direct adds: none is lost and every id is findable") {
    // 8 writers × 25 adds straight on the VectorDb, no caller-side lock:
    // the writer lock the corpus owns must serialize every append
    val db = new VectorDb(spark).load(freshCsv())
    val pool = java.util.concurrent.Executors.newFixedThreadPool(8)
    try {
      val writers = (0 until 8).map { t =>
        pool.submit(new java.util.concurrent.Callable[Unit] {
          def call(): Unit = (0 until 25).foreach { i =>
            db.add(1000L + t * 25 + i, s"concurrent writer $t row $i")
          }
        })
      }
      writers.foreach(_.get())
    } finally pool.shutdownNow()
    assert(db.count === 3 + 200)
    val expected = (1000L until 1200L).toSet
    assert(expected.subsetOf(
      db.table.select("chunk_id").as[Long].collect().toSet))
    assert(expected.subsetOf(db.search("concurrent writer", 203)
      .select("chunk_id").as[Long].collect().toSet))
  }

  /** Served hits against the distributed reference over the same rows:
    * `Search.topK` over `db.table`, NULL scores dropped. */
  private def assertServedIsTopK(db: VectorDb, query: String, k: Int): Unit = {
    val q = Embedder.default.embed(query).map(_.toDouble).toSeq
    val expected = graft.operators.Search
      .topK(db.table, "vector_embedding", "chunk_id", q, k)
      .filter($"sim".isNotNull).select("chunk_id", "sim").as[(Long, Double)]
      .collect().toSeq
    val served = db.hits(query, k).map(h => (h.chunkId.longValue, h.sim))
    def bits(xs: Seq[(Long, Double)]) =
      xs.map { case (id, s) => (id, java.lang.Double.doubleToLongBits(s)) }
    assert(bits(served) === bits(expected), s"query '$query', k=$k")
    assert(db.search(query, k).select("chunk_id").as[Long].collect().toSeq
      === served.map(_._1))
  }

  test("served hits ≡ Search.topK on random corpora: ties, odd vectors, adds") {
    val e = Embedder.default
    val rnd = new scala.util.Random(8)
    val words = Seq("spark", "vector", "engine", "scan", "join", "sort",
      "graft", "table", "query", "plan")
    def text(): String =
      Seq.fill(1 + rnd.nextInt(5))(words(rnd.nextInt(words.size))).mkString(" ")
    (0 until 6).foreach { trial =>
      val n = if (trial == 0) 0 else 1 + rnd.nextInt(60)
      val rows = (0 until n).foldLeft(Vector.empty[Array[Float]]) { (vs, _) =>
        val v = rnd.nextInt(12) match {
          case 0 => null                                        // NULL vector
          case 1 => Array.fill(1 + rnd.nextInt(3))(rnd.nextFloat()) // ragged
          case 2 =>                                             // NaN element
            val v = e.embed(text()); v(rnd.nextInt(e.dim)) = Float.NaN; v
          case 3 if vs.nonEmpty && vs.last != null =>           // exact tie
            vs.last.clone()
          case 4 if vs.nonEmpty && vs.last != null &&           // rounds alike
              vs.last.length == e.dim =>
            val v = vs.last.clone(); v(0) += 1e-6f; v
          case 5 | 6 | 7 => e.embed(text())                    // integer dots
          case _ => Array.fill(e.dim)((rnd.nextGaussian() * 0.3).toFloat)
        }
        vs :+ v
      }
      val dir = Files.createTempDirectory("graft-vdb-prop").toString + "/c"
      graft.sources.EmbeddingCsv.write(rows.zipWithIndex.map { case (v, i) =>
        (100L + rnd.nextInt(1000) * 1000L + i, "doc", s"row $i", v)
      }.toDF("chunk_id", "document_id", "chunk_text", "vector_embedding"), dir)
      val db = new VectorDb(spark).load(dir)
      assert(db.count === n)
      (0 until 8).foreach { step =>
        if (step % 3 == 2) db.add(10000000L + trial * 100 + step, text())
        else assertServedIsTopK(db, text(),
          Seq(1, 3, 10, db.count.toInt + 5)(rnd.nextInt(4)))
      }
    }
  }

  test("a raw score below the k-th hit's that rounds level with it wins on chunk_id") {
    // raw 0.50001 (id 1) and 0.50004 (id 2) both round to 0.5, so Spark
    // ranks id 1 first although its raw score is lower
    val e = Embedder.default
    val q = e.embed("alpha")
    val j = q.indexWhere(_ != 0f)
    def at(x: Float): Array[Float] = {
      val v = new Array[Float](e.dim); v(j) = x / q(j); v
    }
    val dir = Files.createTempDirectory("graft-vdb-round").toString + "/c"
    graft.sources.EmbeddingCsv.write(Seq(
      (2L, "doc", "high raw", at(0.50004f)),
      (1L, "doc", "low raw", at(0.50001f)),
      (3L, "doc", "below", at(0.4f))
    ).toDF("chunk_id", "document_id", "chunk_text", "vector_embedding"), dir)
    val db = new VectorDb(spark).load(dir)
    assert(db.hits("alpha", 1).map(_.chunkId.longValue) === Seq(1L))
    (1 to 3).foreach(k => assertServedIsTopK(db, "alpha", k))
  }

  test("served hits ≡ Search.topK on a corpus split across scoring tasks") {
    // large enough that scoring splits into several row ranges whose
    // bounded heaps merge (on two or more cores); integer-valued vectors
    // make exact ties common
    val e = Embedder.default
    val rnd = new scala.util.Random(9)
    val words = (0 until 40).map(i => s"w$i")
    val dir = Files.createTempDirectory("graft-vdb-wide").toString + "/c"
    graft.sources.EmbeddingCsv.write((0 until 40000).map { i =>
      val t = Seq.fill(1 + rnd.nextInt(4))(words(rnd.nextInt(40))).mkString(" ")
      (i.toLong, "doc", t, e.embed(t))
    }.toDF("chunk_id", "document_id", "chunk_text", "vector_embedding"), dir)
    val db = new VectorDb(spark).load(dir)
    Seq("w1 w2", "w3", "w7 w7 w9").zip(Seq(1, 10, 200)).foreach {
      case (q, k) => assertServedIsTopK(db, q, k)
    }
  }
}
