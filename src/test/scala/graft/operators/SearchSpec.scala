package graft.operators

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark
import graft.functions.VectorFunctions

class SearchSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private lazy val corpus = Seq(
    (1L, Array(1.0f, 0.0f)),
    (2L, Array(0.0f, 1.0f)),
    (3L, Array(1.0f, 1.0f)),
    (4L, Array(-1.0f, 0.0f)),
    (5L, Array(0.5f, 0.5f))
  ).toDF("vec_id", "embedding")

  test("topK: dot-product order with q=(1,0)") {
    val got = Search.topK(corpus, "embedding", "vec_id", Seq(1.0, 0.0), k = 3)
      .select("vec_id").as[Long].collect.toSeq
    // dots: 1->1, 2->0, 3->1, 4->-1, 5->0.5; tie 1 vs 3 broken by vec_id
    assert(got === Seq(1L, 3L, 5L))
  }

  test("topK: k larger than corpus returns all") {
    val got = Search.topK(corpus, "embedding", "vec_id", Seq(1.0, 0.0), k = 99)
    assert(got.count === 5)
  }

  test("topK on empty corpus is empty (reference empty-guard A9)") {
    val empty = corpus.filter(lit(false))
    assert(Search.topK(empty, "embedding", "vec_id", Seq(1.0, 0.0), 5).count === 0)
  }

  test("aboveThreshold keeps only rows at/above the rounded threshold") {
    val got = Search.aboveThreshold(corpus, "embedding", Seq(1.0, 0.0), 0.5)
      .select("vec_id").as[Long].collect.toSet
    assert(got === Set(1L, 3L, 5L))
  }

  test("knnJoin: matches brute force, excludes self") {
    val got = Search.knnJoin(
      corpus.filter($"vec_id" <= 2), "vec_id", "embedding",
      corpus, "vec_id", "embedding", k = 2,
      score = VectorFunctions.cosine)
      .select("qid", "vec_id", "rank")
      .as[(Long, Long, Int)].collect.toSet
    // q1=(1,0): best cosine among {2,3,4,5}: 3 and 5 tie at 0.7071 -> id order
    // q2=(0,1): among {1,3,4,5}: 3 and 5 tie -> 3 then 5
    assert(got === Set((1L, 3L, 1), (1L, 5L, 2), (2L, 3L, 1), (2L, 5L, 2)))
  }

  test("broadcast guard: an oversized query side is hash-chunked, results unchanged") {
    val queries = corpus.filter($"vec_id" <= 3)
    def rows(maxBytes: Long) = Search.knnJoin(
      queries, "vec_id", "embedding", corpus, "vec_id", "embedding",
      k = 2, score = VectorFunctions.cosine, maxBroadcastBytes = maxBytes)
      .select("qid", "vec_id", "rank")
      .as[(Long, Long, Int)].collect.toSet
    val unchunked = rows(Search.DefaultMaxBroadcastBytes)
    // a ceiling of half the plan's own size estimate forces the guard
    // to split the query side in two; per-query top-k is
    // chunk-independent so the result set cannot change
    val half = (queries.queryExecution.optimizedPlan.stats.sizeInBytes / 2)
      .toLong.max(1L)
    val chunked = rows(half)
    assert(chunked === unchunked && unchunked.nonEmpty)
    // the chunked plan really does carry more than one broadcast
    val plan = Search.knnJoin(queries, "vec_id", "embedding",
      corpus, "vec_id", "embedding", k = 2,
      score = VectorFunctions.cosine, maxBroadcastBytes = half)
      .queryExecution.executedPlan.toString
    assert("BroadcastExchange".r.findAllIn(plan).size > 1,
      s"expected multiple broadcast chunks:\n$plan")
  }

  test("broadcast guard: knnJoinAgg chunks identically and a huge estimate is rejected") {
    val queries = corpus.filter($"vec_id" <= 3)
    def rows(maxBytes: Long) = Search.knnJoinAgg(
      queries, "vec_id", "embedding", corpus, "vec_id", "embedding",
      k = 2, maxBroadcastBytes = maxBytes)
      .select("qid", "cid", "rank")
      .as[(Long, Long, Int)].collect.toSet
    val half = (queries.queryExecution.optimizedPlan.stats.sizeInBytes / 2)
      .toLong.max(1L)
    assert(rows(half) === rows(Search.DefaultMaxBroadcastBytes))
    // beyond 1024 chunks the query side is not a broadcast workload: the
    // guard falls back to a single NON-broadcast join (no hint, no
    // thousand-way union) instead of failing — sizeInBytes is only a
    // heuristic, so a hard throw on it would reject valid workloads. A
    // padded cross join inflates the estimate past 1024 one-byte chunks.
    val huge = Search.knnJoin(
      queries.crossJoin(spark.range(100000).select(lit(1).as("_pad"))),
      "vec_id", "embedding", corpus, "vec_id", "embedding", k = 2,
      maxBroadcastBytes = 1L)
    assert(huge.columns.contains("rank"))
    // the fallback path must NOT carry our broadcast hint (the analyzer
    // rewrites broadcast() into a ResolvedHint node; its absence proves
    // the guard dropped the hint rather than queueing 1024+ chunks)
    assert(!huge.queryExecution.analyzed.toString.contains("ResolvedHint"))
  }

  test("broadcast guard: unknown stats (RDD-backed frame) stay one broadcast") {
    // an RDD-backed frame has no stats — sizeInBytes defaults to
    // spark.sql.defaultSizeInBytes (Long.MaxValue). The guard must treat
    // that as UNKNOWN and keep the historical caller-holds-the-contract
    // single broadcast, not explode it into 1024 hash chunks.
    val rdd = spark.sparkContext.parallelize(Seq(
      org.apache.spark.sql.Row(1L, Array(1.0f, 0.0f)),
      org.apache.spark.sql.Row(2L, Array(0.0f, 1.0f))))
    val statless = spark.createDataFrame(rdd, corpus.schema)
    val joined = Search.knnJoin(statless, "vec_id", "embedding",
      corpus, "vec_id", "embedding", k = 2,
      score = VectorFunctions.cosine, maxBroadcastBytes = 1L)
    val plan = joined.queryExecution.executedPlan.toString
    assert("BroadcastExchange".r.findAllIn(plan).size === 1,
      s"unknown stats must mean exactly one broadcast chunk:\n$plan")
    assert(joined.count === 4)
  }

  test("topK orders a NaN score first and NULL scores (null, ragged vectors) last") {
    // the ordering the served corpus must reproduce: round(NaN) is NaN,
    // which Spark sorts above every number, while a NULL vector or a
    // length mismatch scores NULL and desc() puts NULL after all numbers,
    // ties (NULLs included) broken on the id
    val odd = Seq[(Long, Array[Float])](
      (1L, Array(1.0f, 0.0f)),
      (2L, Array(0.0f, 1.0f)),
      (3L, null),
      (4L, Array(1.0f, 0.0f, 0.0f)),
      (5L, Array(Float.NaN, 0.0f)),
      (6L, Array(2.0f, 0.0f)),
      (7L, Array(0.5f, 0.0f))
    ).toDF("vec_id", "embedding")
    val got = Search.topK(odd, "embedding", "vec_id", Seq(1.0, 0.0), k = 7)
      .select($"vec_id", $"sim".cast("string")).as[(Long, String)]
      .collect().toSeq
    assert(got === Seq((5L, "NaN"), (6L, "2.0"), (1L, "1.0"), (7L, "0.5"),
      (2L, "0.0"), (3L, null), (4L, null)))
    // with fewer scorable rows than k, NULL-scored rows fill the tail
    assert(Search.topK(odd.filter($"vec_id" >= 3), "embedding", "vec_id",
      Seq(1.0, 0.0), k = 5).select("vec_id").as[Long].collect().toSeq
      === Seq(5L, 6L, 7L, 3L, 4L))
  }

  test("scored does not mutate the input relation (fix of app.py:45)") {
    val before = corpus.columns.toSeq
    Search.scored(corpus, "embedding", Seq(1.0, 0.0)).collect()
    assert(corpus.columns.toSeq === before)
  }

  test("collectIdLists: one action returns every ranking, order preserved") {
    // the batched form must be element-for-element what the sequential
    // per-frame collects return (the recall instruments' contract), and
    // it must pay ONE job for the whole batch — that is its entire point
    val queries = Seq(Seq(1.0, 0.0), Seq(0.0, 1.0), Seq(1.0, 1.0))
    val frames = queries.map(q =>
      Search.topK(corpus, "embedding", "vec_id", q, k = 3).select("vec_id"))
    val sequential = frames.map(
      _.collect().map(_.getLong(0)).toIndexedSeq)
    // count only the jobs this test submits: they carry its job group,
    // whatever else the shared context runs meanwhile
    val group = "search-spec-collectIdLists-" + java.util.UUID.randomUUID()
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          j: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        if (Option(j.properties).exists(p =>
            p.getProperty("spark.jobGroup.id") == group))
          jobs.incrementAndGet()
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      spark.sparkContext.setJobGroup(group, "collectIdLists")
      val batched =
        try Search.collectIdLists(frames)
        finally spark.sparkContext.clearJobGroup()
      org.apache.spark.sql.graftshim.Bridge.drainListenerBus(spark.sparkContext)
      assert(batched === sequential)
      assert(jobs.get() === 1,
        s"batched collect must submit exactly one job, got ${jobs.get()}")
    } finally spark.sparkContext.removeSparkListener(listener)
  }
}
