package graftbench

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.net.URLEncoder
import java.nio.charset.StandardCharsets.UTF_8
import java.util.concurrent.ConcurrentHashMap

import graft.functions.Embedder

/** search_mixed: the reference's interactive session. A `SearchServer`
  * over a `VectorDb` loaded from a generated CSV, driven by a closed loop
  * of HTTP clients with no think time; each client sends `SearchesPerAdd`
  * searches for every append, so the lazy union chain appends build is
  * read by the searches that follow. */
object SearchMixed {
  val Chunks = 100000
  val Clients = 2
  val SearchesPerAdd = 19
  val K = 10
  val SetupReps = 3
  val CheckEvery = 4

  final case class Op(kind: Char, idx: Int, text: String, spanId: Long,
                      sendNs: Long, recvNs: Long, sendUs: Long, recvUs: Long,
                      status: Int, body: String) {
    def ms: Double = (recvNs - sendNs) / 1e6
    def tag: String = s"$kind:$idx"
  }

  def run(ctx: Ctx): Outcome = {
    val spark = ctx.spark
    val emb = Embedder.default
    val maxOps = math.max(4000, ctx.seconds * 400)
    val inDir = ctx.dir("inputs")

    // ---- set-up: generate, write, load ----------------------------------
    var inputs: Gen.SearchInputs = null
    var db: graft.VectorDb = null
    val opOf = new ConcurrentHashMap[String, String]()
    val spanOf = new ConcurrentHashMap[String, java.lang.Long]()
    val tracer = new Tracer
    val timing = new TimingEmbedder(emb, spark.sparkContext, opOf, tracer, spanOf)
    val repS = (1 to SetupReps).map { _ =>
      val t0 = System.nanoTime()
      inputs = Gen.search(ctx.seed, Chunks, maxOps, maxOps / SearchesPerAdd + 8,
        emb.embed, emb.dim)
      val csv = Gen.writeSearch(inputs, inDir)
      if (db != null) db.table.unpersist(true)
      db = new graft.VectorDb(spark, if (ctx.trace) timing else emb)
      db.load(csv.toString)
      (System.nanoTime() - t0) / 1e9
    }
    val server = new graft.serving.SearchServer(spark, db, port = 0).start()
    val base = s"http://127.0.0.1:${server.boundPort}"
    val listener = new BenchListener

    def send(http: HttpClient, kind: Char, idx: Int, text: String, traced: Boolean): Op = {
      val tag = s"$kind:$idx"
      val spanId = tracer.nextId()
      if (traced) { opOf.put(text, tag); spanOf.put(tag, spanId) }
      val req =
        if (kind == 's')
          HttpRequest.newBuilder(URI.create(
            s"$base/search?k=$K&q=${URLEncoder.encode(text, UTF_8)}")).GET().build()
        else
          HttpRequest.newBuilder(URI.create(s"$base/add"))
            .header("Content-Type", "application/x-www-form-urlencoded")
            .POST(HttpRequest.BodyPublishers.ofString(
              s"id=${Chunks + idx}&text=${URLEncoder.encode(text, UTF_8)}")).build()
      val sendUs = Clock.nowUs(); val sendNs = System.nanoTime()
      val (status, body) =
        try { val r = http.send(req, HttpResponse.BodyHandlers.ofString()); (r.statusCode, r.body) }
        catch { case scala.util.control.NonFatal(e) => (-1, String.valueOf(e)) }
      val recvNs = System.nanoTime(); val recvUs = Clock.nowUs()
      Op(kind, idx, text, spanId, sendNs, recvNs, sendUs, recvUs, status, body)
    }

    /** The closed loop: `Clients` threads, each sending its next request
      * as soon as the previous reply arrives, until `seconds` pass.
      * Query i and append j go to client i % Clients and j % Clients. */
    def loop(seconds: Double, firstQuery: Int, firstAdd: Int, traced: Boolean)
        : (Seq[Op], Double) = {
      val results = new java.util.concurrent.ConcurrentLinkedQueue[Op]()
      val t0 = System.nanoTime()
      val deadline = t0 + (seconds * 1e9).toLong
      val threads = (0 until Clients).map { c =>
        new Thread(() => {
          val http = HttpClient.newBuilder().version(HttpClient.Version.HTTP_1_1).build()
          var q = firstQuery + c; var a = firstAdd + c; var n = 0
          while (System.nanoTime() < deadline && q < inputs.queries.size) {
            if (n % (SearchesPerAdd + 1) == SearchesPerAdd) {
              results.add(send(http, 'a', a, inputs.adds(a), traced)); a += Clients
            } else {
              results.add(send(http, 's', q, inputs.queries(q), traced)); q += Clients
            }
            n += 1
          }
        })
      }
      threads.foreach(_.start()); threads.foreach(_.join())
      val wall = (System.nanoTime() - t0) / 1e9
      (scala.jdk.CollectionConverters.IterableHasAsScala(results).asScala.toSeq, wall)
    }

    // warm-up: searches only, so the corpus is unchanged when timing starts
    val warmHttp = HttpClient.newBuilder().version(HttpClient.Version.HTTP_1_1).build()
    inputs.warmQueries.foreach(q => send(warmHttp, 's', -1, q, traced = false))

    val setupS = ctx.setupS(repS)
    // untraced window (the whole run, or the first half of a traced run)
    val plainS = if (ctx.trace) ctx.seconds / 2.0 else ctx.seconds.toDouble
    val (plainOps, plainWall) = loop(plainS, 0, 0, traced = false)
    val (tracedOps, tracedWall) =
      if (!ctx.trace) (Seq.empty[Op], 0.0)
      else {
        def next(kind: Char) = (plainOps.filter(_.kind == kind).map(_.idx) :+ -1).max + 1
        spark.sparkContext.addSparkListener(listener)
        val r = loop(ctx.seconds / 2.0, next('s'), next('a'), traced = true)
        BenchListener.drain(spark.sparkContext)
        spark.sparkContext.removeSparkListener(listener)
        r
      }
    server.stop()

    // ---- checks -----------------------------------------------------------
    val ops = plainOps ++ tracedOps
    val failedOps = ops.filter(_.status != 200)
    val adds = ops.filter(_.kind == 'a').filter(_.status == 200)
    val addVec = adds.map(o => o.idx -> emb.embed(o.text)).toMap
    val bf = new Check.BruteForce(inputs.vectors, Chunks, emb.dim)
    val sampled = ops.filter(o => o.kind == 's' && o.status == 200 &&
      Math.floorMod(Rng.of(ctx.seed, s"check.${o.idx}").nextLong(), CheckEvery.toLong) == 0)
    val wrong = sampled.filterNot { o =>
      val sure = adds.filter(_.recvNs < o.sendNs).map(a => (Chunks + a.idx.toLong, addVec(a.idx)))
      val maybe = adds.filter(a => a.recvNs >= o.sendNs && a.sendNs < o.recvNs)
        .map(a => (Chunks + a.idx.toLong, addVec(a.idx)))
      val got = Check.parseHits(o.body)
      val baseTop = bf.topK(emb.embed(o.text), K)
      maybe.toSet.subsets().exists(extra =>
        Check.hitsEqual(got, Check.merge(baseTop, Check.score(emb.embed(o.text), sure ++ extra), K)))
    }
    val badAdds = adds.filterNot { o =>
      val n = Check.parseCount(o.body)
      val lo = Chunks + adds.count(_.recvNs < o.sendNs) + 1
      val hi = Chunks + adds.count(_.sendNs < o.recvNs)
      n.exists(c => c >= lo && c <= hi)
    }
    val failed = failedOps.size + wrong.size + badAdds.size

    // ---- metrics ----------------------------------------------------------
    def searchMs(os: Seq[Op]) = os.filter(o => o.kind == 's' && o.status == 200).map(_.ms)
    val sMs = searchMs(plainOps)
    val aMs = plainOps.filter(o => o.kind == 'a' && o.status == 200).map(_.ms)
    val (tailName, tailMs) = Stats.tail(sMs)
    val qps = sMs.size / plainWall
    val quality = if (sampled.isEmpty) 0.0 else (sampled.size - wrong.size).toDouble / sampled.size
    val e2e = Map(
      "setup_s" -> (setupS, "s"),
      "op_p50_ms" -> (Stats.median(sMs), "ms"),
      "op_tail_ms" -> (tailMs, "ms"),
      "items_per_s" -> (qps, "1/s"),
      "quality" -> (quality, "ratio"))
    val report = Map(
      "named" -> Map(
        "setup_s" -> (setupS, "s"),
        "error_rate" -> (failed.toDouble / math.max(1, ops.size), "ratio"),
        "search_p50_ms" -> (Stats.median(sMs), "ms"),
        s"search_${tailName}_ms" -> (tailMs, "ms"),
        "search_qps" -> (qps, "1/s"),
        "add_p50_ms" -> (if (aMs.isEmpty) Double.NaN else Stats.median(aMs), "ms")),
      "samples" -> Map("searches" -> sMs.size, "adds" -> aMs.size,
        "checked_searches" -> sampled.size, "wrong_searches" -> wrong.size,
        "bad_adds" -> badAdds.size, "http_errors" -> failedOps.size,
        "tail_percentile" -> tailName, "setup_reps" -> repS),
      "failures" -> (failedOps.take(3).map(o => s"${o.tag} ${o.status} ${o.body.take(200)}") ++
        wrong.take(3).map(o => s"wrong ${o.tag}: ${o.body.take(300)}") ++
        badAdds.take(3).map(o => s"count ${o.tag}: ${o.body}")))

    val layers =
      if (!ctx.trace) Map.empty[String, (Double, String)]
      else layerMetrics(listener, tracer, timing, tracedOps, tracedWall, sMs)
    if (ctx.trace) tracer.write(ctx.work.resolve("spans.jsonl"))
    Outcome(ops.size, failed, failed == 0 && sampled.nonEmpty, e2e, layers, report)
  }

  private def layerMetrics(l: BenchListener, tracer: Tracer,
                           timing: TimingEmbedder, ops: Seq[Op], wallS: Double,
                           plainMs: Seq[Double])
      : Map[String, (Double, String)] = {
    val searches = ops.filter(o => o.kind == 's' && o.status == 200)
    val addOps = ops.filter(o => o.kind == 'a' && o.status == 200)
    val jobsByOp = l.jobs.values.filter(_.tag != null).toSeq.groupBy(_.tag)
    val execOp = l.jobs.values.filter(j => j.tag != null && j.execId >= 0)
      .map(j => j.execId -> j.tag).toMap
    val execsByOp = l.execs.values.toSeq.filter(e => execOp.contains(e.id)).groupBy(e => execOp(e.id))
    def execs(o: Op) = execsByOp.getOrElse(o.tag, Nil)
    def jobsOf(o: Op) = jobsByOp.getOrElse(o.tag, Nil)
    def execMs(o: Op) = execs(o).map(e => (e.endMs - e.startMs).toDouble).sum
    def embedMs(o: Op) = Option(timing.embedUs.get(o.tag)).map(_.toDouble / 1000).getOrElse(0.0)
    def phaseMs(o: Op, phase: String) =
      execs(o).flatMap(_.phases).filter(_._1 == phase).map(p => (p._3 - p._2).toDouble).sum

    // spans: request -> {embed (recorded by the wrapper), query analysis,
    // optimization and planning, SQL execution -> job}
    val embedSpans = tracer.all.filter(_.name == "functions.embed").groupBy(_.parent)
    val selfUs = ops.map { o =>
      val exact = Span(o.spanId, 0L, o.tag, if (o.kind == 's') "serving.search" else "serving.add",
        o.sendUs, o.recvUs)
      tracer.add(exact.copy(startUs = Clock.floorMs(o.sendUs), endUs = Clock.ceilMs(o.recvUs)))
      val children = embedSpans.getOrElse(o.spanId, Nil) ++ execs(o).flatMap { e =>
        val id = tracer.nextId()
        val sql = Span(id, o.spanId, o.tag, "spark.sql", e.startMs * 1000, e.endMs * 1000)
        tracer.add(sql)
        jobsOf(o).filter(_.execId == e.id).foreach(j => tracer.add(Span(tracer.nextId(), id,
          o.tag, "spark.job", j.startMs * 1000, j.endMs * 1000)))
        sql +: e.phases.map { case (k, a, b) =>
          val ph = Span(tracer.nextId(), o.spanId, o.tag, "spark." + k, a * 1000, b * 1000)
          tracer.add(ph)
          ph
        }
      }
      o.tag -> Span.selfUs(exact, children) / 1000.0
    }.toMap
    val planMs = searches.flatMap(o => execs(o).flatMap { e =>
      val js = jobsOf(o).filter(_.execId == e.id)
      if (js.isEmpty) None else Some((js.map(_.startMs).min - e.startMs).toDouble)
    })
    Map(
      "serving.self_ms" -> (Stats.mean(searches.map(o => selfUs(o.tag))), "ms"),
      "functions.embed_ms" -> (Stats.mean(searches.map(embedMs)), "ms"),
      "spark.analysis_ms" -> (Stats.mean(searches.map(phaseMs(_, "analysis"))), "ms"),
      "spark.optimization_ms" -> (Stats.mean(searches.map(phaseMs(_, "optimization"))), "ms"),
      "spark.planning_ms" -> (Stats.mean(searches.map(phaseMs(_, "planning"))), "ms"),
      "spark.plan_ms" -> (Stats.mean(planMs), "ms"),
      "spark.exec_ms" -> (Stats.mean(searches.map(execMs)), "ms"),
      "vectordb.add_exec_ms" -> (Stats.mean(addOps.map(execMs)), "ms")) ++
      Layers.spark(l.sum(ops.flatMap(jobsOf)), ops.map(jobsOf(_).size).sum, ops.size, wallS * 1000) ++
      Layers.overhead(searches.map(_.ms), plainMs)
  }
}
