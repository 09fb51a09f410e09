package graftbench

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.types._

import graft.functions.{Embedder, TransformerEmbedder}
import graft.operators.IvfIndex

/** embed_index: the compute-bound batch pipeline. Embed the documents with
  * `TransformerEmbedder` through `Embedder.embedPartitions`, build an IVF
  * index over the vectors and write it partitioned by cluster, then answer
  * a batch of queries with `probeMany`, in passes; a traced run traces every
  * other pass. */
object EmbedIndex {
  val Docs = 6000
  val Queries = 512
  val Dim = 64
  val Clusters = 64
  val Iters = 5
  val K = 10
  val NProbe = 8
  val SetupReps = 3
  /** Nominal pass time on a 4-core machine: a run times
    * `seconds / NominalPassS` passes, the same work on any machine. */
  val NominalPassS = 5.0
  val Shards = 16

  val docSchema = StructType(Seq(StructField("doc_id", LongType), StructField("text", StringType)))

  final case class Pass(index: Int, traced: Boolean, embedS: Double, buildS: Double,
                        writeS: Double, probeS: Double, startUs: Long, endUs: Long,
                        phases: Seq[(String, Long, Long)],
                        hits: Map[Long, Seq[(Long, Double)]]) {
    def totalS: Double = embedS + buildS + writeS + probeS
  }

  def run(ctx: Ctx): Outcome = {
    val spark = ctx.spark
    val sc = spark.sparkContext
    val inDir = ctx.dir("inputs")
    var inputs: Gen.EmbedInputs = null
    var emb: Embedder = null
    var qvecs: Seq[Array[Float]] = null
    var docsPath: String = null
    val repS = (1 to SetupReps).map { _ =>
      val t0 = System.nanoTime()
      inputs = Gen.embedIndex(ctx.seed, Docs, Queries)
      docsPath = Gen.writeEmbed(inputs, inDir, Shards).toString
      val model = inDir.resolve("model.gtfe").toString
      // one model for every run, as in a deployment; the seed varies the data
      TransformerEmbedder.writeRandom(model, dimOut = Dim)
      emb = new TransformerEmbedder(model, Dim)
      qvecs = emb.embedAll(inputs.queries)
      (System.nanoTime() - t0) / 1e9
    }
    val setupS = ctx.setupS(repS)
    val embPath = ctx.work.resolve("embedded").toString
    val idxPath = ctx.work.resolve("ivf").toString
    val queryDf = spark.createDataFrame(
      java.util.Arrays.asList(qvecs.zipWithIndex.map { case (v, i) =>
        Row(i.toLong, v.toSeq): Row }: _*),
      StructType(Seq(StructField("qid", LongType),
        StructField("qvec", ArrayType(FloatType, containsNull = false)))))

    val listener = new BenchListener
    var cents: DataFrame = null
    val phases = scala.collection.mutable.ArrayBuffer[(String, Long, Long)]()
    def timed[T](traced: Boolean, tag: String)(f: => T): (T, Double) = {
      if (traced) sc.setLocalProperty(BenchListener.TagKey, tag)
      val us = Clock.nowUs(); val t0 = System.nanoTime()
      val r = f
      val s = (System.nanoTime() - t0) / 1e9
      sc.setLocalProperty(BenchListener.TagKey, null)
      phases += ((tag, us, Clock.nowUs()))
      (r, s)
    }
    def pass(i: Int, traced: Boolean, docsPath: String, embPath: String,
             idxPath: String): Pass = {
      if (traced) sc.addSparkListener(listener)
      phases.clear()
      val startUs = Clock.nowUs()
      val (_, embedS) = timed(traced, s"embed:$i") {
        Embedder.embedPartitions(spark.read.schema(docSchema).json(docsPath), "text", "vec", emb)
          .write.mode("overwrite").parquet(embPath)
      }
      val corpus = spark.read.parquet(embPath)
      val ((assign, c), buildS) = timed(traced, s"build:$i") {
        IvfIndex.build(corpus, "doc_id", "vec", Clusters, Iters)
      }
      cents = c
      val (_, writeS) = timed(traced, s"write:$i") {
        IvfIndex.writePartitioned(corpus, "doc_id", assign, idxPath)
      }
      assign.unpersist()
      val (hits, probeS) = timed(traced, s"probe:$i") {
        IvfIndex.probeMany(spark, idxPath, "doc_id", "vec", cents, queryDf, "qid", "qvec", K, NProbe)
          .collect()
      }
      val endUs = Clock.nowUs()
      if (traced) { BenchListener.drain(sc); sc.removeSparkListener(listener) }
      val byQ = hits.toSeq.groupBy(_.getLong(0)).map { case (q, rs) =>
        q -> rs.sortBy(_.getInt(3)).map(r => (r.getLong(1), r.getDouble(2)))
      }
      Pass(i, traced, embedS, buildS, writeS, probeS, startUs, endUs, phases.toSeq, byQ)
    }

    // two untimed passes let the JIT and Spark's code generation warm up
    // before the timed passes: the first is mostly compilation (it runs on
    // two shards only), and a second full pass is still ~15 % slower than
    // the ones after it
    val warm = Seq(pass(-2, traced = false, docsPath + "/part-0[01].jsonl", embPath, idxPath),
      pass(-1, traced = false, docsPath, embPath, idxPath))
    val n = math.max(if (ctx.trace) 2 else 1, math.round(ctx.seconds / NominalPassS).toInt)
    val passes = (0 until n).map(i => pass(i, ctx.trace && i % 2 == 1, docsPath, embPath, idxPath))

    // ---- checks ------------------------------------------------------------
    val stored = spark.read.parquet(embPath).select("doc_id", "text", "vec").collect()
    val vecOf = stored.iterator.map(r => r.getLong(0) -> r.getSeq[Float](2).toArray).toMap
    val textOf = stored.iterator.map(r => r.getLong(0) -> r.getString(1)).toMap
    val sample = (0 until 256).map(j => Rng.of(ctx.seed, s"check.embed.$j").nextInt(Docs).toLong)
    val embedWrong = (if (vecOf.size != Docs) Seq(s"${vecOf.size} of $Docs documents embedded")
      else Nil) ++ sample.filterNot(id => textOf.get(id).contains(inputs.docs(id.toInt)) &&
        vecOf.get(id).exists(_.sameElements(emb.embed(inputs.docs(id.toInt)))))
        .map(id => s"document $id embedded wrongly")
    val flat = new Array[Float](Docs * Dim)
    (0 until Docs).foreach(i => vecOf.get(i.toLong).foreach(v => System.arraycopy(v, 0, flat, i * Dim, Dim)))
    val bf = new Check.BruteForce(flat, Docs, Dim)
    val exact = qvecs.map(q => bf.topK(q, K).map(_._1))
    // each returned similarity must be the engine score of that pair, in rank order
    def badAnswers(p: Pass): Int = qvecs.indices.count { q =>
      val hs = p.hits.getOrElse(q.toLong, Nil)
      hs.isEmpty || hs.size > K || hs.exists { case (id, s) =>
        vecOf.get(id).forall(v => Check.round4(Check.dot(v, 0, qvecs(q), Dim)) != s)
      } || hs.map(h => (-h._2, h._1)) != hs.map(h => (-h._2, h._1)).sorted
    }
    val bad = passes.map(badAnswers).sum
    val recalls = passes.map(p => Check.recall(exact, qvecs.indices.map(q =>
      p.hits.getOrElse(q.toLong, Nil).map(_._1))))
    val failed = bad + embedWrong.size

    // ---- metrics -------------------------------------------------------------
    val plain = passes.filterNot(_.traced)
    val (tailName, tailMs) = Stats.tail(plain.map(_.totalS * 1000))
    val embedRate = plain.size * Docs / plain.map(_.embedS).sum
    val recall = Stats.median(recalls)
    val e2e = Map(
      "setup_s" -> (setupS, "s"),
      "op_p50_ms" -> (Stats.median(plain.map(_.totalS * 1000)), "ms"),
      "op_tail_ms" -> (tailMs, "ms"),
      "items_per_s" -> (embedRate, "1/s"),
      "quality" -> (recall, "ratio"))
    val report = Map(
      "named" -> Map(
        "setup_s" -> (setupS, "s"),
        "error_rate" -> (failed.toDouble / (passes.size * Queries + sample.size), "ratio"),
        "embed_docs_per_s" -> (embedRate, "1/s"),
        "index_build_s" -> (Stats.median(plain.map(p => p.buildS + p.writeS)), "s"),
        "probe_qps" -> (Stats.median(plain.map(p => Queries / p.probeS)), "1/s"),
        "recall_at_10" -> (recall, "ratio"),
        "pass_p50_ms" -> (Stats.median(plain.map(_.totalS * 1000)), "ms"),
        s"pass_${tailName}_ms" -> (tailMs, "ms")),
      "samples" -> Map("passes" -> passes.size, "timed_passes" -> plain.size,
        "queries_per_pass" -> Queries, "embeddings_checked" -> sample.size,
        "warmup_pass_ms" -> warm.map(_.totalS * 1000),
        "phase_s" -> passes.map(p => Seq(p.embedS, p.buildS, p.writeS, p.probeS)), "bad_answers" -> bad, "distinct_exact_top10" -> exact.map(_.toSet).distinct.size,
        "setup_reps" -> repS),
      "failures" -> embedWrong.take(5))

    val layers =
      if (!ctx.trace) Map.empty[String, (Double, String)]
      else {
        val tracer = new Tracer
        val m = layerMetrics(spark, listener, tracer, passes.toSeq, idxPath, cents, qvecs)
        tracer.write(ctx.work.resolve("spans.jsonl"))
        m
      }
    Outcome(passes.size * Queries + sample.size, failed, failed == 0, e2e, layers, report)
  }

  private def layerMetrics(spark: org.apache.spark.sql.SparkSession, l: BenchListener,
                           tracer: Tracer, passes: Seq[Pass], idxPath: String,
                           cents: DataFrame, qvecs: Seq[Array[Float]]): Map[String, (Double, String)] = {
    val traced = passes.filter(_.traced)
    val plain = passes.filterNot(_.traced)
    val n = math.max(1, traced.size).toDouble
    def phase(name: String) = l.tagged(_.startsWith(name + ":"))
    def acc(name: String) = l.sum(phase(name))
    def sumS(f: Pass => Double) = math.max(1e-9, traced.map(f).sum)
    val embedA = acc("embed"); val buildA = acc("build"); val probeA = acc("probe")

    // rows the probe scores per query: the sizes of its nprobe nearest cells
    val sizes = spark.read.parquet(idxPath).groupBy("cluster_id").count().collect()
      .map(r => r.getInt(0) -> r.getLong(1)).toMap
    val cs = cents.collect().map(r => r.getInt(0) -> r.getSeq[Double](1).toArray)
    val scored = qvecs.map { q =>
      cs.map { case (id, c) =>
        var d = 0.0; var i = 0
        while (i < c.length) { val x = q(i) - c(i); d += x * x; i += 1 }
        (math.sqrt(d), id)
      }.sorted.take(NProbe).map(x => sizes.getOrElse(x._2, 0L)).sum
    }

    // spans: pass -> phase (one layer each) -> job
    val layerOf = Map("embed" -> "functions.embed", "build" -> "operators.ivf.build",
      "write" -> "operators.ivf.write", "probe" -> "operators.ivf.probe")
    traced.foreach { p =>
      val op = s"pass:${p.index}"
      val id = tracer.nextId()
      tracer.add(Span(id, 0L, op, "pipeline.pass", Clock.floorMs(p.startUs), Clock.ceilMs(p.endUs)))
      p.phases.foreach { case (tag, a, b) =>
        val ph = tracer.nextId()
        tracer.add(Span(ph, id, op, layerOf(tag.takeWhile(_ != ':')), Clock.floorMs(a), Clock.ceilMs(b)))
        l.tagged(_ == tag).foreach(j =>
          tracer.add(Span(tracer.nextId(), ph, op, "spark.job", j.startMs * 1000, j.endMs * 1000)))
      }
    }
    Map(
      "functions.embed.task_sec" -> (embedA.runMs / 1000.0 / n, "s"),
      "functions.embed.effective_cores" -> (embedA.runMs / 1000.0 / sumS(_.embedS), "cores"),
      "operators.ivf.build_jobs" -> (phase("build").size / n, "count"),
      "operators.ivf.build_task_sec" -> (buildA.runMs / 1000.0 / n, "s"),
      "operators.ivf.build_effective_cores" -> (buildA.runMs / 1000.0 / sumS(_.buildS), "cores"),
      "operators.ivf.write_s" -> (traced.map(_.writeS).sum / n, "s"),
      "operators.ivf.probe_jobs" -> (phase("probe").size / n, "count"),
      "operators.ivf.probe_effective_cores" -> (probeA.runMs / 1000.0 / sumS(_.probeS), "cores"),
      "operators.ivf.rows_scored_per_query" -> (Stats.mean(scored.map(_.toDouble)), "rows"),
      "spark.shuffle_bytes_per_query" -> ((probeA.shuffleRead + probeA.shuffleWrite) / n / qvecs.size, "bytes")) ++
      Layers.spark(l.sum(l.tagged(_ => true)), l.tagged(_ => true).size, traced.size,
        sumS(_.totalS) * 1000) ++
      Layers.overhead(traced.map(_.totalS * 1000), plain.map(_.totalS * 1000))
  }
}
