package graft.tools

import graft.obs.JobMeter

/** Profile of the shared index builds (the bench's `_*_build` infra
  * lines) with per-phase breakdown — run against a fixture dir to see
  * WHERE a build's seconds go before optimizing it. Every phase prints
  * its wall time, Spark jobs and summed task seconds ([[JobMeter]]). Not
  * part of the declared surface; a measurement tool. */
object ProfileBuild {
  def main(args: Array[String]): Unit = {
    val dir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = graft.GraftSession.local("graft-profile-build")
    val meter = JobMeter.install(spark)
    def t(name: String)(f: => Any): Unit = {
      val (_, sec, d) = meter.measure(f)
      println(f"PROFILE $name%-24s $sec%8.3f s  jobs=${d.jobs}%3d" +
        f"  task_sec=${d.taskSec}%.3f")
    }
    t("warmup_count") { graft.Tables.load(spark, dir, "embeddings").count() }
    // phase-by-phase replica of sharedIvfIndex
    if (sys.env.contains("PROFILE_IVF_PHASES")) {
      val emb = graft.Tables.load(spark, dir, "embeddings")
      val n = emb.count()
      val (k, _) = graft.Queries.ivfSizing(n)
      var built: (org.apache.spark.sql.DataFrame, org.apache.spark.sql.DataFrame) = null
      t("ivf_kmeans") {
        built = graft.operators.IvfIndex.build(emb, "vec_id", "embedding", k = k, iters = 3)
      }
      val tmp = java.nio.file.Files.createTempDirectory("graft-prof").toString + "/ivf"
      t("ivf_write_part") {
        graft.operators.IvfIndex.writePartitioned(emb, "vec_id", built._1, tmp)
      }
      t("ivf_calibrate") {
        val centRows = built._2.collect().toSeq
        val centsSeq = centRows.map(r =>
          (r.getInt(0), r.getSeq[Double](1).toIndexedSeq)).toIndexedSeq
        graft.operators.IvfIndex.calibrationTopK(spark, tmp, "vec_id",
          "embedding", centsSeq,
          Seq((1L, graft.QueryVectors.q1), (2L, graft.QueryVectors.q2)), k = 10)
      }
      built._1.unpersist(); built._2.unpersist()
    }
    // phase-by-phase replica of the incr_embed_index declared row — the
    // heaviest non-lifecycle bench line; shows whether the seconds go to
    // the transformer forward, the SQ stages, or job overheads
    if (sys.env.contains("PROFILE_EMBED_PHASES")) {
      import org.apache.spark.sql.functions._
      val e = new graft.functions.TransformerEmbedder(
        graft.Queries.transformerArtifactPath, dim = 64)
      val docs = graft.Tables.load(spark, dir, "documents")
        .filter(col("doc_id") % 4 === 0)
        .select(col("doc_id"), col("text"))
      var embedded: org.apache.spark.sql.DataFrame = null
      t("embed_slice") {
        embedded = graft.functions.Embedder
          .embedPartitions(docs, "text", "emb", e, batchSize = 32)
          .select(col("doc_id"), col("emb"))
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        embedded.count()
      }
      val day1 = embedded.filter(col("doc_id") % 40 =!= 0)
      val day2 = embedded.filter(col("doc_id") % 40 === 0)
      var params: graft.operators.SqIndex.SqParams = null
      t("sq_train") {
        params = graft.operators.SqIndex.trainParams(day1, "doc_id", "emb")
      }
      var codes: org.apache.spark.sql.DataFrame = null
      t("sq_encode") {
        codes = graft.operators.SqIndex.encode(day1, "doc_id", "emb", params)
          .unionByName(
            graft.operators.SqIndex.encode(day2, "doc_id", "emb", params))
        codes.count()
      }
      var q: Seq[Double] = null
      t("qtext_head_embed") {
        val qtext = docs.filter(col("doc_id") === 40)
          .select(col("text")).head().getString(0)
        q = e.embed(qtext).map(_.toDouble).toSeq
      }
      t("embedded_recount") { embedded.count() }
      t("embedded_recount2") { embedded.count() }
      t("codes_recount") { codes.count() }
      t("cands_only") {
        codes.select(col("doc_id"),
            round(graft.operators.SqIndex.sqScore(col("codes"), q, params), 4)
              .as("_sq"))
          .orderBy(desc("_sq"), asc("doc_id")).limit(50).collect()
      }
      t("search_rerank") {
        graft.operators.SqIndex.searchRerank(codes, embedded, "doc_id",
          "emb", q, params, k = 10, r = 50).collect()
      }
      t("search_rerank_warm") {
        graft.operators.SqIndex.searchRerank(codes, embedded, "doc_id",
          "emb", q, params, k = 10, r = 50).collect()
      }
      t("codes_materialize") {
        codes.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        // a max over the codes column defeats column pruning, forcing the
        // cache to materialize the projected array
        codes.select(max(element_at(col("codes"), 1))).head()
      }
      t("search_rerank_codes_cached") {
        graft.operators.SqIndex.searchRerank(codes, embedded, "doc_id",
          "emb", q, params, k = 10, r = 50).collect()
      }
      t("embed_repart") {
        graft.functions.Embedder
          .embedPartitions(docs.repartition(32), "text", "emb", e,
            batchSize = 32)
          .select(col("doc_id"), col("emb")).count()
      }
      codes.unpersist()
      embedded.unpersist()
    }
    // micro-profile of the LSH bucket projection itself: is the cost the
    // DATA (rows × planes × dim dots) or the EXPRESSION (9 inlined
    // 64-literal when(dot) branches → huge generated method → Janino
    // compile per plan + JIT bailout)? Timed at nBits 1 vs 9 over the
    // same frame, twice each (second run isolates compile-once costs).
    // per-task fixed-cost probe: the same trivial work split over P
    // tasks, P swept — separates scheduler/launch floor (RDD map) from
    // SQL task init (codegen'd projection + hash agg) from typed-udaf
    // task init. Wall AND summed executorRunTime per P tell whether
    // extra tasks cost launch time (wall grows, runTime flat) or real
    // per-task runtime (both grow).
    if (sys.env.contains("PROFILE_TASK_FLOOR")) {
      import org.apache.spark.sql.functions._
      val sc = spark.sparkContext
      for (p <- Seq(1, 4, 16, 32)) {
        val rdd = sc.parallelize(1 to 64000, p)
        rdd.map(_ + 1).count()
        t(s"rdd_map_p$p") { (1 to 5).foreach(_ => rdd.map(_ + 1).count()) }
      }
      for (p <- Seq(1, 4, 16, 32)) {
        val df = spark.range(0, 64000, 1, p)
        df.select((col("id") * 2).as("x")).agg(max("x")).head()
        t(s"sql_proj_p$p") { (1 to 5).foreach(_ =>
          df.select((col("id") * 2).as("x")).agg(max("x")).head()) }
      }
      val topk = udaf(new graft.functions.TopKAggregator(10))
      for (p <- Seq(1, 4, 16, 32)) {
        val df = spark.range(0, 64000, 1, p)
          .select((col("id") % 8).as("g"), col("id").cast("double").as("s"),
            col("id").as("i"))
        df.groupBy("g").agg(topk(col("s"), col("i"))).count()
        t(s"udaf_topk_p$p") { (1 to 5).foreach(_ =>
          df.groupBy("g").agg(topk(col("s"), col("i"))).count()) }
      }
    }
    if (sys.env.contains("PROFILE_LSH_MICRO")) {
      import org.apache.spark.sql.functions._
      val emb = graft.Tables.load(spark, dir, "embeddings")
        .select(col("vec_id"), col("embedding"))
      for (nb <- Seq(1, 9); pass <- Seq("cold", "warm")) {
        val ps = graft.operators.HyperplaneLsh.planes(64, nb)
        t(s"bucket_nb${nb}_$pass") {
          emb.select(graft.operators.HyperplaneLsh
            .bucketCol(col("embedding"), ps).as("b"))
            .select(max(col("b"))).head()
        }
      }
      // the same 9-plane fold as ONE untyped scala udf (no codegen, one
      // closure) — if this is much faster than bucket_nb9, the cost is
      // the expression shape, not the arithmetic
      val ps9 = graft.operators.HyperplaneLsh.planes(64, 9)
      val arr = ps9.map(_.toArray).toArray
      val u = udf { (v: Seq[Float]) =>
        var bits = 0L
        var b = 0
        while (b < arr.length) {
          var acc = 0.0; var i = 0
          val p = arr(b)
          while (i < p.length) { acc += v(i) * p(i); i += 1 }
          if (acc > 0) bits |= (1L << b); b += 1
        }
        bits
      }
      for (pass <- Seq("cold", "warm"))
        t(s"bucket_udf9_$pass") {
          emb.select(u(col("embedding")).as("b"))
            .select(max(col("b"))).head()
        }
    }
    // phase-by-phase replica of near_dup_embed_lsh
    if (sys.env.contains("PROFILE_LSH_PHASES")) {
      import org.apache.spark.sql.functions._
      val base = graft.Tables.load(spark, dir, "embeddings")
        .select(col("vec_id"), col("embedding"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      var n = 0L; var d = 0
      t("lsh_cache_meta") {
        val meta = base.agg(count(lit(1)).as("n"),
          first(size(col("embedding"))).as("d")).head()
        n = meta.getLong(0); d = meta.getInt(1)
      }
      val nBits = math.max(6, math.ceil(math.log(n / 4.0) / math.log(2.0)).toInt)
      val ps = graft.operators.HyperplaneLsh.planes(d, nBits)
      val bucketed = base.select(col("vec_id").as("_id"),
        graft.operators.HyperplaneLsh.bucketCol(col("embedding"), ps).as("_bucket"))
      t("lsh_bucket_eval") { bucketed.select(max(col("_bucket"))).head() }
      var cands: org.apache.spark.sql.DataFrame = null
      t("lsh_cands_materialize") {
        cands = graft.operators.NearDup.embeddingCandidatesFromBuckets(bucketed, nBits)
      }
      t("lsh_verify") {
        graft.operators.NearDup.cosineVerify(base, "vec_id", "embedding", cands)
          .filter(col("cos") >= 0.3).orderBy(col("id_a"), col("id_b")).collect()
      }
      t("lsh_verify_warm") {
        graft.operators.NearDup.cosineVerify(base, "vec_id", "embedding", cands)
          .filter(col("cos") >= 0.3).orderBy(col("id_a"), col("id_b")).collect()
      }
      base.unpersist()
    }
    // native-vs-HOF scan-kernel micro-benchmark at a realistic row count
    if (sys.env.contains("PROFILE_SCAN_KERNELS")) {
      import org.apache.spark.sql.functions._
      val emb = graft.Tables.load(spark, dir, "embeddings")
      val p = graft.operators.SqIndex.trainParams(emb, "vec_id", "embedding")
      val tmp = java.nio.file.Files.createTempDirectory("graft-kern").toString
      graft.operators.SqIndex.encode(emb, "vec_id", "embedding", p)
        .crossJoin(spark.range(500).select(col("id").as("_rep")))
        .repartition(32)
        .write.mode("overwrite").parquet(s"$tmp/codes")
      val codes = spark.read.parquet(s"$tmp/codes")
      val n = codes.count()
      println(s"PROFILE scan_kernel_rows        $n")
      val q = graft.QueryVectors.q1
      // one warm evaluation of the kernel over `df`, then the timed one
      def time(df: org.apache.spark.sql.DataFrame, name: String)(
          c: org.apache.spark.sql.Column): Unit = {
        df.select(c.as("s")).agg(max(col("s"))).head()
        t(name) { df.select(c.as("s")).agg(max(col("s"))).head() }
      }
      time(codes, "sq_native") {
        graft.operators.SqIndex.sqScore(col("codes"), q, p) }
      time(codes, "sq_hof") {
        graft.operators.SqIndex.sqScoreHof(col("codes"), q, p) }
      val seeds = emb.orderBy("vec_id").limit(16)
        .select(transform(col("embedding"), _.cast("double")).as("v"))
        .collect().map(_.getSeq[Double](0).toIndexedSeq).toIndexedSeq
      val cb: graft.operators.PqIndex.Codebooks = IndexedSeq.tabulate(8) { mi =>
        seeds.zipWithIndex.map { case (v, c) => (c, v.slice(mi * 8, mi * 8 + 8)) }
      }
      graft.operators.PqIndex.encode(emb, "vec_id", "embedding", cb)
        .crossJoin(spark.range(500).select(col("id").as("_rep")))
        .repartition(32)
        .write.mode("overwrite").parquet(s"$tmp/pqcodes")
      val pqCodes = spark.read.parquet(s"$tmp/pqcodes")
      time(pqCodes, "pq_native") {
        graft.operators.PqIndex.adcScore(col("codes"), q, cb) }
      time(pqCodes, "pq_hof") {
        graft.operators.PqIndex.adcScoreHof(col("codes"), q, cb) }
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(tmp))
    }
    t("ivf_build") { graft.Queries.sharedIvfIndex.get(spark, dir) }
    t("pq_build") { graft.Queries.sharedPqIndex.get(spark, dir) }
    t("sq_build") { graft.Queries.sharedSqIndex.get(spark, dir) }
    t("ivfpq_build") { graft.Queries.sharedIvfPqIndex.get(spark, dir) }
    t("minhash_build") { graft.Queries.sharedMinhashEdges.get(spark, dir) }
    t("dedup_edges_build") { graft.Queries.sharedDedupEdges.get(spark, dir) }
    spark.stop()
  }
}
