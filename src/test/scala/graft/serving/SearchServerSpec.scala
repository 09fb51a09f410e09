package graft.serving

import org.scalatest.funsuite.AnyFunSuite

/** Drives the serve loop over REAL HTTP — a long-lived server on an
  * ephemeral port, requests through java.net.http, the full
  * search/add/count flow the reference's UI loop performs. */
class SearchServerSpec extends AnyFunSuite {
  private lazy val spark = graft.TestSpark.spark

  private def get(port: Int, pathAndQuery: String,
                  client: java.net.http.HttpClient =
                    java.net.http.HttpClient.newHttpClient()): (Int, String) = {
    val req = java.net.http.HttpRequest.newBuilder()
      .uri(java.net.URI.create(s"http://127.0.0.1:$port$pathAndQuery"))
      .GET().build()
    val resp = client.send(req,
      java.net.http.HttpResponse.BodyHandlers.ofString())
    (resp.statusCode(), resp.body())
  }

  private def post(port: Int, pathAndQuery: String, body: String = "",
                   client: java.net.http.HttpClient =
                     java.net.http.HttpClient.newHttpClient()): (Int, String) = {
    val resp = postResponse(port, pathAndQuery, body, client)
    (resp.statusCode(), resp.body())
  }

  private def postResponse(port: Int, pathAndQuery: String, body: String,
                           client: java.net.http.HttpClient)
      : java.net.http.HttpResponse[String] = {
    val req = java.net.http.HttpRequest.newBuilder()
      .uri(java.net.URI.create(s"http://127.0.0.1:$port$pathAndQuery"))
      .header("Content-Type", "application/x-www-form-urlencoded")
      .POST(java.net.http.HttpRequest.BodyPublishers.ofString(body)).build()
    client.send(req, java.net.http.HttpResponse.BodyHandlers.ofString())
  }

  test("serve loop: health, count, search, add, re-search over real HTTP") {
    import spark.implicits._
    val e = graft.functions.Embedder.default
    val dir = java.nio.file.Files.createTempDirectory("srv").toString + "/c"
    graft.sources.EmbeddingCsv.write(Seq(
      (1L, "d1", "distributed query engine", e.embed("distributed query engine")),
      (2L, "d1", "garden flowers bloom", e.embed("garden flowers bloom")),
      (3L, "d2", "columnar storage scan", e.embed("columnar storage scan"))
    ).toDF("chunk_id", "document_id", "chunk_text", "vector_embedding"), dir)
    val db = graft.VectorDb.open(spark, Some(dir))
    val srv = new SearchServer(spark, db, port = 0).start()
    try {
      val port = srv.boundPort
      assert(get(port, "/health") === ((200, """{"status":"ok"}""")))
      assert(get(port, "/count") === ((200, """{"count":3}""")))
      // search: the on-topic chunk must rank first, %.4f formatting
      val (sc, body) = get(port, "/search?q=distributed%20query%20engine&k=2")
      assert(sc === 200)
      assert(body.contains(""""chunk_id":1"""))
      assert(body.indexOf(""""chunk_id":1""") < math.max(
        body.indexOf(""""chunk_id":2"""), body.length - 1))
      assert(""""similarity":-?\d+\.\d{4}[,}]""".r
        .findFirstIn(body).isDefined, body)
      // add (payload in the POST body) then re-search: the appended row
      // is immediately visible
      assert(post(port, "/add", "id=9&text=appended%20engine%20doc")
        === ((200, """{"count":4}""")))
      val (_, body2) = get(port, "/search?q=appended%20engine%20doc&k=1")
      assert(body2.contains(""""chunk_id":9"""))
      // query-param add stays accepted (curl-friendliness), body wins
      // on conflict: the text comes from the body here
      assert(post(port, "/add?id=10&text=ignored", "text=body%20wins")
        === ((200, """{"count":5}""")))
      val (_, body3) = get(port, "/search?q=body%20wins&k=1")
      assert(body3.contains(""""chunk_id":10"""))
      // error contracts
      assert(get(port, "/search")._1 === 400)
      assert(get(port, "/search?q=x&k=0")._1 === 400)
      assert(post(port, "/add", "id=notanumber&text=x")._1 === 400)
      assert(post(port, "/add", "id=11")._1 === 400)
      assert(post(port, "/add", "id=11&text=" + "x" * ((1 << 20) + 8))._1
        === 413)
      assert(get(port, "/nope")._1 === 404)
    } finally srv.stop()
  }

  test("a search issued during an open conf scope sees default knobs") {
    // a maintenance action's gated body (AQE off, shuffle width capped)
    // runs on a gate session: the serving session's conf is never
    // written. A search issued while the body is open answers from the
    // driver-resident corpus, so it runs no query and no job at all
    import spark.implicits._
    val e = graft.functions.Embedder.default
    val dir = java.nio.file.Files.createTempDirectory("srv-iso").toString + "/c"
    graft.sources.EmbeddingCsv.write(Seq(
      (1L, "d1", "alpha beta", e.embed("alpha beta")),
      (2L, "d1", "gamma delta", e.embed("gamma delta"))
    ).toDF("chunk_id", "document_id", "chunk_text", "vector_embedding"), dir)
    val db = graft.VectorDb.open(spark, Some(dir))
    val srv = new SearchServer(spark, db, port = 0).start()
    // every query execution reported on the caller session
    val executions = new java.util.concurrent.atomic.AtomicInteger
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(fn: String,
          qe: org.apache.spark.sql.execution.QueryExecution,
          ns: Long): Unit = executions.incrementAndGet()
      override def onFailure(fn: String,
          qe: org.apache.spark.sql.execution.QueryExecution,
          ex: Exception): Unit = executions.incrementAndGet()
    }
    val meter = graft.obs.JobMeter.install(spark)
    try {
      val port = srv.boundPort
      val steady = spark.conf.getAll
      val jobs = graft.sources.VersionedCorpus.withAqeOff(spark) { gate =>
        // the gate is OPEN on its own session…
        assert(gate.conf.get("spark.sql.adaptive.enabled") === "false")
        assert(gate.conf.get("spark.sql.shuffle.partitions").toInt <= 4)
        // …the caller's conf is untouched, and a live search succeeds
        // with correct results
        assert(spark.conf.getAll === steady)
        spark.listenerManager.register(listener)
        val (_, _, counts) = meter.measure {
          val (sc, body) = get(port, "/search?q=alpha%20beta&k=1")
          assert(sc === 200 && body.contains(""""chunk_id":1"""), body)
        }
        counts.jobs
      }
      assert(executions.get === 0, "the search ran a query execution")
      assert(jobs === 0, "the search ran a Spark job")
      assert(spark.conf.getAll === steady)
    } finally {
      spark.listenerManager.unregister(listener)
      spark.sparkContext.removeSparkListener(meter)
      srv.stop()
    }
  }

  test("/search skips unscorable rows: a NULL or ragged vector is never a hit") {
    // the Search.topK ordering puts NULL scores last, so with fewer
    // scorable rows than k they reached the reply and broke its render
    val dir = java.nio.file.Files.createTempDirectory("srv-null").toString
    val e = graft.functions.Embedder.default
    java.nio.file.Files.write(
      java.nio.file.Paths.get(dir, "part-00000.csv"),
      ("chunk_id,document_id,chunk_text,vector_embedding\n" +
        s"1,d1,alpha beta,\"${e.embed("alpha beta").mkString(",")}\"\n" +
        "2,d1,no vector,\n" +
        "3,d1,ragged,\"0.5,0.5\"\n").getBytes("UTF-8"))
    val db = graft.VectorDb.open(spark, Some(dir))
    val srv = new SearchServer(spark, db, port = 0).start()
    try {
      val port = srv.boundPort
      assert(get(port, "/count") === ((200, """{"count":3}""")))
      val (sc, body) = get(port, "/search?q=alpha%20beta&k=5")
      assert(sc === 200, body)
      assert(body.contains(""""chunk_id":1,"""), body)
      assert(!body.contains(""""chunk_id":2,""") &&
        !body.contains(""""chunk_id":3,"""), body)
      assert(db.search("alpha beta", 5).count() === 1)
    } finally srv.stop()
  }

  test("after load, /search, /add, /count and /health run no Spark job") {
    import spark.implicits._
    val e = graft.functions.Embedder.default
    val dir = java.nio.file.Files.createTempDirectory("srv-nojob").toString + "/c"
    graft.sources.EmbeddingCsv.write(Seq(
      (1L, "d1", "distributed query engine", e.embed("distributed query engine")),
      (2L, "d1", "garden flowers bloom", e.embed("garden flowers bloom")),
      (3L, "d2", "columnar storage scan", e.embed("columnar storage scan"))
    ).toDF("chunk_id", "document_id", "chunk_text", "vector_embedding"), dir)
    val db = graft.VectorDb.open(spark, Some(dir))
    val srv = new SearchServer(spark, db, port = 0).start()
    val meter = graft.obs.JobMeter.install(spark)
    try {
      val port = srv.boundPort
      val (_, _, counts) = meter.measure {
        (0 until 100).foreach { i =>
          val (sc, body) = i % 4 match {
            case 0 => get(port, s"/search?q=query%20engine%20$i&k=3")
            case 1 => post(port, "/add", s"id=${100 + i}&text=added%20doc%20$i")
            case 2 => get(port, "/count")
            case _ => get(port, "/health")
          }
          assert(sc === 200, body)
        }
      }
      assert(counts.jobs === 0, s"$counts")
      assert(get(port, "/count") === ((200, """{"count":28}""")))
    } finally {
      spark.sparkContext.removeSparkListener(meter)
      srv.stop()
    }
  }

  test("replies are not held back by Nagle: 50 keep-alive /health in under 1 s") {
    // the JDK server writes the headers and the body as two segments;
    // with Nagle on, the body waits for the client's delayed ACK (about
    // 40 ms a reply, about 2 s for 50)
    val db = new graft.VectorDb(spark)
    val srv = new SearchServer(spark, db, port = 0).start()
    try {
      val port = srv.boundPort
      val keepAlive = java.net.http.HttpClient.newBuilder()
        .version(java.net.http.HttpClient.Version.HTTP_1_1).build()
      def health() = assert(get(port, "/health", keepAlive)._1 === 200)
      (0 until 5).foreach(_ => health())
      val t0 = System.nanoTime()
      (0 until 50).foreach(_ => health())
      val s = (System.nanoTime() - t0) / 1e9
      assert(s < 1.0, f"50 keep-alive requests took $s%.2f s")
    } finally srv.stop()
  }

  test("serving with the REAL transformer + file vocabulary: model-embedded search and add over HTTP") {
    // the reference's deployment shape end to end: a vocab-carrying GTFE
    // transformer in the VectorDb embed seat, fronted by the HTTP loop —
    // every /search and /add below runs genuine multi-layer model
    // inference (query embed + append re-embed), one session load per JVM
    import spark.implicits._
    val mp = java.nio.file.Files.createTempFile("gtfe-srv", ".bin")
    mp.toFile.deleteOnExit()
    graft.functions.TransformerEmbedder.writeRandom(mp.toString,
      vocabTokens = graft.functions.TransformerEmbedder.tinyVocab())
    val e = new graft.functions.TransformerEmbedder(mp.toString, dim = 64)
    val dir = java.nio.file.Files.createTempDirectory("srvt").toString + "/c"
    graft.sources.EmbeddingCsv.write(Seq(
      (1L, "d1", "hash join fast scan", e.embed("hash join fast scan")),
      (2L, "d1", "slow window sort", e.embed("slow window sort"))
    ).toDF("chunk_id", "document_id", "chunk_text", "vector_embedding"), dir)
    val db = new graft.VectorDb(spark, e)
    db.load(dir)
    val srv = new SearchServer(spark, db, port = 0).start()
    try {
      val port = srv.boundPort
      // the served top-1 must equal the raw-dot argmax computed straight
      // through the model (the reference scores UNNORMALIZED dot, so
      // "the query's own text wins" is not guaranteed — the expected
      // ranking is derived, not assumed)
      def dot(a: Array[Float], b: Array[Float]): Double =
        a.zip(b).map { case (x, y) => x.toDouble * y.toDouble }.sum
      def expectTop(q: String, stored: Seq[(Long, String)]): Long =
        stored.map { case (id, t) =>
          (id, dot(e.embed(q), e.embed(t))) }
          .maxBy { case (id, s) => (s, -id) }._1
      val corpus0 = Seq(1L -> "hash join fast scan", 2L -> "slow window sort")
      val q1 = "hash join fast scan"
      val (sc, body) = get(port,
        s"/search?q=${q1.replace(" ", "%20")}&k=1")
      assert(sc === 200)
      assert(body.contains(s""""chunk_id":${expectTop(q1, corpus0)}"""), body)
      // add re-embeds through the SAME model; re-search must rank by the
      // model's dots over the grown corpus
      assert(post(port, "/add", "id=7&text=vector%20table%20merge")._1 === 200)
      val q2 = "vector table merge"
      val grown = corpus0 :+ (7L -> "vector table merge")
      val (_, body2) = get(port, s"/search?q=${q2.replace(" ", "%20")}&k=1")
      assert(body2.contains(s""""chunk_id":${expectTop(q2, grown)}"""), body2)
      // and the appended row is present in a full-depth search
      val (_, body3) = get(port, s"/search?q=${q2.replace(" ", "%20")}&k=3")
      assert(body3.contains(""""chunk_id":7"""), body3)
    } finally srv.stop()
  }

  test("POST /load replaces the served corpus (the reference UI's upload verb)") {
    import spark.implicits._
    val e = graft.functions.Embedder.default
    def writeCorpus(rows: Seq[(Long, String, String)]): String = {
      val dir = java.nio.file.Files.createTempDirectory("srvl").toString + "/c"
      graft.sources.EmbeddingCsv.write(
        rows.map { case (id, d, t) => (id, d, t, e.embed(t)) }
          .toDF("chunk_id", "document_id", "chunk_text", "vector_embedding"),
        dir)
      dir
    }
    val dirA = writeCorpus(Seq((1L, "d1", "alpha doc"), (2L, "d1", "beta doc")))
    val dirB = writeCorpus(Seq(
      (10L, "d2", "gamma doc"), (11L, "d2", "delta doc"), (12L, "d2", "epsilon doc")))
    val db = graft.VectorDb.open(spark, Some(dirA))
    val srv = new SearchServer(spark, db, port = 0).start()
    try {
      val port = srv.boundPort
      assert(get(port, "/count") === ((200, """{"count":2}""")))
      // whole-table replace via the HTTP verb: count and search flip to
      // the new corpus
      val enc = java.net.URLEncoder.encode(dirB, "UTF-8")
      assert(post(port, "/load", s"path=$enc") === ((200, """{"count":3}""")))
      val (_, body) = get(port, "/search?q=gamma%20doc&k=1")
      assert(body.contains(""""chunk_id":1"""), body) // 10/11/12 all start with 1
      assert(!body.contains(""""chunk_id":1,"""), body) // but not old id 1
      // adds append to the REPLACED corpus
      assert(post(port, "/add", "id=99&text=post%20load%20doc")
        === ((200, """{"count":4}""")))
      // error contracts: missing path, unreadable path
      assert(post(port, "/load", "")._1 === 400)
      assert(post(port, "/load", "path=%2Fno%2Fsuch%2Fplace")._1 === 400)
      // a READABLE-but-MALFORMED path must fail the load WITHOUT
      // breaking the served corpus: load validates (materializes) the
      // new table before swapping the handle, so one bad request cannot
      // leave every subsequent /count and /search returning 500 (the
      // r13-advice poisoning scenario — read is lazy, the old handle
      // was already unpersisted+replaced when the first consumer threw)
      val badDir = java.nio.file.Files.createTempDirectory("srvbad").toString
      java.nio.file.Files.write(
        java.nio.file.Paths.get(badDir, "part-00000.csv"),
        "chunk_id,document_id,chunk_text,vector_embedding\nnot_a_long,x,y,\"0.1,0.2\"\n"
          .getBytes("UTF-8"))
      assert(post(port, "/load",
        s"path=${java.net.URLEncoder.encode(badDir, "UTF-8")}")._1 === 400)
      assert(get(port, "/count") === ((200, """{"count":4}""")))
      val (scAfter, bodyAfter) = get(port, "/search?q=gamma%20doc&k=1")
      assert(scAfter === 200, bodyAfter)
    } finally srv.stop()
  }

  test("/load allowlist: in-root path loads, out-of-root and traversal are 403") {
    import spark.implicits._
    val e = graft.functions.Embedder.default
    val root = java.nio.file.Files.createTempDirectory("srv-allow")
    val inside = root.resolve("c").toString
    graft.sources.EmbeddingCsv.write(
      Seq((1L, "d", "allow doc", e.embed("allow doc")))
        .toDF("chunk_id", "document_id", "chunk_text", "vector_embedding"),
      inside)
    val outside = java.nio.file.Files.createTempDirectory("srv-deny").toString + "/c"
    graft.sources.EmbeddingCsv.write(
      Seq((2L, "d", "deny doc", e.embed("deny doc")))
        .toDF("chunk_id", "document_id", "chunk_text", "vector_embedding"),
      outside)
    val db = new graft.VectorDb(spark)
    val srv = new SearchServer(spark, db, port = 0,
      loadRoots = Seq(root.toString)).start()
    try {
      val port = srv.boundPort
      def enc(s: String) = java.net.URLEncoder.encode(s, "UTF-8")
      assert(post(port, "/load", s"path=${enc(inside)}")
        === ((200, """{"count":1}""")))
      // outside the root → 403, corpus untouched
      assert(post(port, "/load", s"path=${enc(outside)}")._1 === 403)
      // `..` traversal out of the root normalizes away → 403
      val sneaky = root.toString + "/../" +
        new java.io.File(outside).getParentFile.getName + "/c"
      assert(post(port, "/load", s"path=${enc(sneaky)}")._1 === 403)
      assert(get(port, "/count") === ((200, """{"count":1}""")))
    } finally srv.stop()
  }

  test("body-parse error contracts: byte-counted 413, malformed body is 400") {
    import spark.implicits._
    val e = graft.functions.Embedder.default
    val dir = java.nio.file.Files.createTempDirectory("srve").toString + "/c"
    graft.sources.EmbeddingCsv.write(Seq(
      (1L, "d1", "seed", e.embed("seed"))
    ).toDF("chunk_id", "document_id", "chunk_text", "vector_embedding"), dir)
    val db = graft.VectorDb.open(spark, Some(dir))
    val srv = new SearchServer(spark, db, port = 0).start()
    try {
      val port = srv.boundPort
      // an oversized MULTI-BYTE body: > 1 MiB of UTF-8 bytes but well
      // under 1 Mi chars after decode — the size gate must count BYTES
      // (a char-count check would silently truncate this mid-stream)
      val twoByte = "é" // é → 2 UTF-8 bytes
      val body = "id=5&text=" + twoByte * (600 * 1024)
      // one keep-alive client for the whole sequence: the 413 leaves the
      // body unread and closes the connection, so its reply must say
      // `Connection: close` or the next request may ride the dead socket
      // (whether it does is a race, hence the header check)
      val keepAlive = java.net.http.HttpClient.newBuilder()
        .version(java.net.http.HttpClient.Version.HTTP_1_1).build()
      val tooLarge = postResponse(port, "/add", body, keepAlive)
      assert(tooLarge.statusCode() === 413)
      assert(tooLarge.headers().firstValue("Connection").orElse("")
        .equalsIgnoreCase("close"))
      // a SMALL but malformed body (bad percent-encoding) is a client
      // error, not "payload too large"
      assert(post(port, "/add", "id=5&text=%zz", keepAlive)._1 === 400)
      assert(post(port, "/load", "path=%", keepAlive)._1 === 400)
      // and the server still serves normally afterwards
      assert(get(port, "/count", keepAlive) === ((200, """{"count":1}""")))
    } finally srv.stop()
  }

  test("concurrent adds + searches: no lost append, count monotonic per reader") {
    import spark.implicits._
    val e = graft.functions.Embedder.default
    val dir = java.nio.file.Files.createTempDirectory("srvc").toString + "/c"
    graft.sources.EmbeddingCsv.write(Seq(
      (1L, "d1", "seed document", e.embed("seed document"))
    ).toDF("chunk_id", "document_id", "chunk_text", "vector_embedding"), dir)
    val db = graft.VectorDb.open(spark, Some(dir))
    val srv = new SearchServer(spark, db, port = 0).start()
    try {
      val port = srv.boundPort
      val nWriters = 8
      val pool = java.util.concurrent.Executors.newFixedThreadPool(nWriters + 2)
      try {
        val monotonic = new java.util.concurrent.atomic.AtomicBoolean(true)
        val stopReaders = new java.util.concurrent.atomic.AtomicBoolean(false)
        // two reader threads hammer /count and /search while the
        // writers append: each reader's observed count must never go
        // backwards (the volatile corpus swap publishes atomically)
        val readers = (1 to 2).map { _ =>
          pool.submit(new Runnable {
            def run(): Unit = {
              var last = 0L
              while (!stopReaders.get()) {
                val (c, body) = get(port, "/count")
                if (c == 200) {
                  val n = body.replaceAll("[^0-9]", "").toLong
                  if (n < last) monotonic.set(false)
                  last = math.max(last, n)
                }
                val (sc, _) = get(port, "/search?q=seed%20document&k=1")
                if (sc != 200) monotonic.set(false)
              }
            }
          })
        }
        val writes = (1 to nWriters).map { i =>
          pool.submit(new java.util.concurrent.Callable[Int] {
            def call(): Int =
              post(port, "/add", s"id=${100 + i}&text=concurrent%20doc%20$i")._1
          })
        }
        assert(writes.map(_.get()).forall(_ === 200))
        stopReaders.set(true)
        readers.foreach(_.get())
        assert(monotonic.get(), "a reader saw the count go backwards")
      } finally pool.shutdownNow()
      // every add landed exactly once
      val (_, finalCount) = get(port, "/count")
      assert(finalCount === s"""{"count":${1 + nWriters}}""")
    } finally srv.stop()
  }
}
