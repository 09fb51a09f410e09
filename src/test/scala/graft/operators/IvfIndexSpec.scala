package graft.operators

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.{QueryVectors, Tables, TestSpark}
import graft.functions.VectorFunctions

class IvfIndexSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private lazy val emb = Tables.load(spark, TestSpark.sf0001, "embeddings")
  private lazy val built = IvfIndex.build(emb, "vec_id", "embedding", k = 8, iters = 3)

  test("every vector is assigned to exactly one cluster") {
    val (assignments, _) = built
    assert(assignments.count === emb.count)
    assert(assignments.groupBy("vec_id").count.filter($"count" > 1).count === 0)
    assert(assignments.filter($"cluster_id" < 0 || $"cluster_id" >= 8).count === 0)
  }

  test("centroid count stays k and dims stay 64") {
    val (_, centroids) = built
    assert(centroids.count === 8)
    assert(centroids.select(size($"centroid")).as[Int].collect.forall(_ == 64))
  }

  test("probe recall vs brute force is high at nprobe=4 of k=8") {
    val (assignments, centroids) = built
    val exact = Search.topK(emb, "embedding", "vec_id", QueryVectors.q1, 10)
      .select("vec_id").as[Long].collect.toSet
    val approx = IvfIndex.probe(emb, "vec_id", "embedding",
      assignments, centroids, QueryVectors.q1, k = 10, nprobe = 4)
      .select("vec_id").as[Long].collect.toSet
    val recall = (exact & approx).size.toDouble / exact.size
    assert(recall >= 0.5, s"recall $recall too low (exact=$exact approx=$approx)")
  }

  test("partitioned store: probe prunes partitions and matches in-memory probe") {
    val (assignments, centroids) = built
    val path = java.nio.file.Files.createTempDirectory("graft-ivf").toString + "/corpus"
    IvfIndex.writePartitioned(emb, "vec_id", assignments, path)

    val direct = IvfIndex.probe(emb, "vec_id", "embedding",
      assignments, centroids, QueryVectors.q1, k = 10, nprobe = 4)
      .select("vec_id").as[Long].collect.toSeq
    val fromStore = IvfIndex.probePartitioned(spark, path,
      "vec_id", "embedding", centroids, QueryVectors.q1, k = 10, nprobe = 4)
    val got = fromStore.select("vec_id").as[Long].collect.toSeq
    assert(got === direct)

    val plan = fromStore.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") && plan.contains("cluster_id"),
      s"probe must prune by partition:\n$plan")
  }

  test("incremental append: probe-after-append ≡ probe-after-rebuild with same centroids") {
    val (assignments, centroids) = built
    val corpus = emb.filter($"vec_id" % 10 =!= 0)
    val incoming = emb.filter($"vec_id" % 10 === 0)
    val root = java.nio.file.Files.createTempDirectory("graft-ivfappend").toString
    // appended table: day-1 corpus written, incoming assigned to the
    // EXISTING centroids and appended
    val appended = s"$root/appended"
    IvfIndex.writePartitioned(corpus, "vec_id",
      assignments.join(corpus.select("vec_id"), "vec_id"), appended)
    val incAssign = IvfIndex.assignTo(incoming, "vec_id", "embedding", centroids)
    // assignTo reproduces the build's own assignment for the same centroids
    val rebuiltAssign = IvfIndex.assignTo(emb, "vec_id", "embedding", centroids)
    assert(incAssign.as[(Long, Int)].collect.toMap ===
      assignments.join(incoming.select("vec_id"), "vec_id")
        .as[(Long, Int)].collect.toMap)
    IvfIndex.appendPartitioned(incoming, "vec_id", incAssign, appended)
    // rebuilt table: the WHOLE corpus written in one shot under the same
    // centroid assignment
    val rebuilt = s"$root/rebuilt"
    IvfIndex.writePartitioned(emb, "vec_id", rebuiltAssign, rebuilt)
    // identical probe results at every operating point, including the
    // exhaustive one (nprobe = k ≡ exact over corpus ∪ incoming)
    for (np <- Seq(2, 4, 8)) {
      val a = IvfIndex.probePartitioned(spark, appended, "vec_id",
        "embedding", centroids, QueryVectors.q1, k = 10, nprobe = np)
        .select("vec_id", "sim").as[(Long, Double)].collect.toSeq
      val b = IvfIndex.probePartitioned(spark, rebuilt, "vec_id",
        "embedding", centroids, QueryVectors.q1, k = 10, nprobe = np)
        .select("vec_id", "sim").as[(Long, Double)].collect.toSeq
      assert(a === b, s"nprobe=$np")
    }
    val exhaustive = IvfIndex.probePartitioned(spark, appended, "vec_id",
      "embedding", centroids, QueryVectors.q1, k = 10, nprobe = 8)
      .select("vec_id").as[Long].collect.toSeq
    val exact = Search.topK(emb, "embedding", "vec_id", QueryVectors.q1, 10)
      .select("vec_id").as[Long].collect.toSeq
    assert(exhaustive === exact)
    // row accounting: nothing lost, nothing double-appended
    assert(spark.read.parquet(appended).count === emb.count)
  }

  test("a string-typed tombstone file is honored, not dropped by the fold") {
    val (assignments, centroids) = built
    val root = java.nio.file.Files.createTempDirectory("graft-ivfstrtomb").toString
    val table = s"$root/table"
    IvfIndex.writePartitioned(emb, "vec_id", assignments, table)
    def probe() = IvfIndex.probePartitioned(spark, table, "vec_id",
      "embedding", centroids, QueryVectors.q1, k = 10, nprobe = 8)
      .select("vec_id").as[Long].collect().toSeq
    val victims = probe().take(3)
    // a sidecar whose id column is a STRING (a foreign writer's file):
    // small enough for the driver-side fold, which must fall back to
    // the distributed read instead of keeping only numeric keys
    victims.map(_.toString).toDF("vec_id")
      .write.parquet(s"$table/_tombstones/foreign")
    val after = probe()
    assert(after.length === 10)
    assert(victims.forall(v => !after.contains(v)),
      s"string-typed tombstones ignored: $victims in $after")
  }

  test("deletePartitioned: tombstoned probes ≡ rebuilt-from-survivors index; physical apply rewrites only touched partitions") {
    val (assignments, centroids) = built
    val root = java.nio.file.Files.createTempDirectory("graft-ivfdel").toString
    val table = s"$root/table"
    IvfIndex.writePartitioned(emb, "vec_id", assignments, table)
    // victims: a slab certain to include top-ranked ids for q1
    val victims = Search.topK(emb, "embedding", "vec_id", QueryVectors.q1, 5)
      .select("vec_id").as[Long].collect().toSeq
    IvfIndex.deletePartitioned(spark, table, "vec_id",
      victims.toDF("vec_id"))
    // rebuilt table over the survivors under the SAME centroids
    val survivors = emb.filter(!$"vec_id".isin(victims: _*))
    val rebuilt = s"$root/rebuilt"
    IvfIndex.writePartitioned(survivors, "vec_id",
      assignments.join(survivors.select("vec_id"), "vec_id"), rebuilt)
    def probe(path: String, np: Int) =
      IvfIndex.probePartitioned(spark, path, "vec_id", "embedding",
        centroids, QueryVectors.q1, k = 10, nprobe = np)
        .select("vec_id", "sim").as[(Long, Double)].collect.toSeq
    for (np <- Seq(2, 4, 8))
      assert(probe(table, np) === probe(rebuilt, np), s"nprobe=$np")
    // probeMany respects tombstones too
    val queries = Seq((1L, QueryVectors.q1), (2L, QueryVectors.q2))
      .toDF("qid", "qvec")
    val many = IvfIndex.probeMany(spark, table, "vec_id", "embedding",
        centroids, queries, "qid", "qvec", k = 10, nprobe = 8)
        .select("vec_id").as[Long].collect().toSet
    assert(victims.forall(v => !many(v)), "tombstoned ids leaked into probeMany")
    // physical apply: only the victims' partitions are rewritten
    val victimClusters = assignments
      .join(victims.toDF("vec_id"), "vec_id")
      .select("cluster_id").as[Int].collect().toSet
    val untouched = (0 until 8).filterNot(victimClusters).head
    def filesOf(c: Int) = new java.io.File(s"$table/cluster_id=$c")
      .listFiles().map(f => (f.getName, f.lastModified)).toSet
    val before = filesOf(untouched)
    assert(IvfIndex.applyTombstonesPartitioned(spark, table, "vec_id")
      === victimClusters.size.toLong)
    assert(filesOf(untouched) === before,
      "untouched partition was rewritten by the physical apply")
    assert(!new java.io.File(s"$table/_tombstones").exists())
    for (np <- Seq(2, 4, 8))
      assert(probe(table, np) === probe(rebuilt, np), s"post-apply nprobe=$np")
    assert(spark.read.parquet(table).count === survivors.count)
    // second apply is a no-op; reconcile re-indexes a resurrected id
    assert(IvfIndex.applyTombstonesPartitioned(spark, table, "vec_id") === 0L)
    assert(IvfIndex.reconcilePartitioned(emb, "vec_id", "embedding",
      centroids, table) === victims.length.toLong)
    for (np <- Seq(4, 8)) {
      val full = s"$root/full"
      // compare against a one-shot write of the whole corpus
      if (!new java.io.File(full).exists())
        IvfIndex.writePartitioned(emb, "vec_id", assignments, full)
      assert(probe(table, np) === probe(full, np), s"post-reconcile nprobe=$np")
    }
  }

  test("calibrationTopK: driver-evaluated top-10 at any nprobe ≡ probePartitioned") {
    val (assignments, centroids) = built
    val path = java.nio.file.Files.createTempDirectory("graft-ivfcal").toString + "/corpus"
    IvfIndex.writePartitioned(emb, "vec_id", assignments, path)
    val cents = centroids.select("cluster_id", "centroid").collect().toIndexedSeq
      .map(r => (r.getInt(0), r.getSeq[Double](1).toIndexedSeq))
    val queries = Seq((1L, QueryVectors.q1), (2L, QueryVectors.q2))
    // one job answers the whole dial: filtering the per-cluster top-10
    // rows by cluster rank and re-sorting must reproduce each
    // probePartitioned result exactly, at every operating point
    val sweep = IvfIndex.calibrationTopK(spark, path, "vec_id", "embedding",
      cents, queries, k = 10)
    for ((qid, q) <- queries; np <- Seq(1, 2, 4, 8)) {
      val fromSweep = sweep.filter(t => t._1 == qid && t._2 < np).toSeq
        .sortBy(t => (-t._4, t._3)).take(10).map(_._3)
      val direct = IvfIndex.probePartitioned(spark, path, "vec_id",
        "embedding", centroids, q, k = 10, nprobe = np)
        .select("vec_id").as[Long].collect.toSeq
      assert(fromSweep === direct, s"qid=$qid np=$np")
    }
  }

  test("probeMany: batched probe ≡ one probePartitioned per query") {
    val (assignments, centroids) = built
    val path = java.nio.file.Files.createTempDirectory("graft-ivfmany").toString + "/corpus"
    IvfIndex.writePartitioned(emb, "vec_id", assignments, path)
    // query set: two fixed probe vectors + three corpus vectors (their
    // own top hit must be themselves at sim ≈ self-dot)
    val corpusQs = emb.filter($"vec_id".isin(3L, 57L, 120L))
      .select($"vec_id", $"embedding").collect()
      .map(r => (r.getLong(0) + 1000L,
        r.getSeq[Float](1).map(_.toDouble).toSeq))
    val qs = (Seq((1L, QueryVectors.q1), (2L, QueryVectors.q2)) ++ corpusQs)
      .toDF("qid", "qvec")
    val batched = IvfIndex.probeMany(spark, path, "vec_id", "embedding",
      centroids, qs, "qid", "qvec", k = 10, nprobe = 4)
      .select($"qid", $"vec_id", $"sim", $"rank")
      .as[(Long, Long, Double, Int)].collect()
      .groupBy(_._1).view.mapValues(_.sortBy(_._4).map(t => (t._2, t._3)).toSeq).toMap
    qs.collect().foreach { r =>
      val qid = r.getLong(0)
      val q = r.getSeq[Double](1)
      val single = IvfIndex.probePartitioned(spark, path, "vec_id",
        "embedding", centroids, q, k = 10, nprobe = 4)
        .select($"vec_id", $"sim").as[(Long, Double)].collect().toSeq
      assert(batched(qid) === single, s"query $qid diverged")
    }
    // the exploded query relation is broadcast (corpus side not shuffled
    // for the join), the top-k is partial-aggregatable, and the index
    // scan is statically partition-pruned to the probed clusters
    val plan = IvfIndex.probeMany(spark, path, "vec_id", "embedding",
      centroids, qs, "qid", "qvec", k = 10, nprobe = 4)
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), s"expected broadcast join:\n$plan")
    assert(plan.contains("ObjectHashAggregate"), s"expected partial agg top-k:\n$plan")
    assert(plan.contains("PartitionFilters") &&
      plan.contains("cluster_id") && plan.contains(" IN "),
      s"index scan must be partition-pruned to the probed clusters:\n$plan")
  }

  test("probeMany: an int-id index returns int ids (stored type preserved)") {
    val tiny = (0 until 40).map { i =>
      (i, Array.tabulate(8)(d => math.sin(i * 8 + d + 1)))
    }.toDF("vec_id", "embedding") // vec_id: IntegerType
    val (assignments, centroids) =
      IvfIndex.build(tiny, "vec_id", "embedding", k = 4, iters = 2)
    val path = java.nio.file.Files
      .createTempDirectory("graft-ivfint").toString + "/corpus"
    IvfIndex.writePartitioned(tiny, "vec_id", assignments, path)
    val qs = Seq((1L, Seq.tabulate(8)(d => math.sin(d + 1.0))))
      .toDF("qid", "qvec")
    val out = IvfIndex.probeMany(spark, path, "vec_id", "embedding",
      centroids, qs, "qid", "qvec", k = 5, nprobe = 2)
    assert(out.schema("vec_id").dataType ===
      org.apache.spark.sql.types.IntegerType,
      "output id schema must match the index's stored id type")
    assert(out.count === 5)
    assignments.unpersist()
  }

  test("a cluster that empties retains its previous centroid (no silent shrink)") {
    // init = the k smallest-id vectors; ids 0 and 1 are identical, so
    // both rows tie to cluster 0 (min struct breaks ties by cluster_id)
    // and cluster 1 receives zero assignments on the first iteration
    val tiny = Seq(
      (0L, Array(1.0f, 0.0f)),
      (1L, Array(1.0f, 0.0f)),
      (2L, Array(0.0f, 1.0f))
    ).toDF("vec_id", "embedding")
    val (assignments, centroids) = IvfIndex.build(tiny, "vec_id", "embedding",
      k = 3, iters = 2)
    assert(centroids.count === 3, "empty cluster must keep its centroid")
    assert(assignments.count === 3)
    val cents = centroids.orderBy("cluster_id")
      .as[(Int, Seq[Double])].collect.toSeq
    assert(cents.map(_._1) === Seq(0, 1, 2))
    // cluster 1 kept its init centroid [1, 0]
    assert(cents(1)._2 === Seq(1.0, 0.0))
    assignments.unpersist(); centroids.unpersist()
  }

  test("assign is a zero-shuffle projection; one exchange per iteration") {
    // the returned assignments' lineage is scan → projection — no
    // crossJoin + groupBy(_id) re-aggregation, no Exchange at all
    val (assignments, _) = built
    val assignPlan = assignments.queryExecution.executedPlan.toString
    assert(!assignPlan.contains("Exchange"),
      s"assignment must not shuffle:\n$assignPlan")

    // the per-iteration update job: exactly ONE exchange (the
    // map-side-combinable (cluster, dim) partial-sum agg)
    val tiny = Seq((0L, Array(1.0f, 0.0f)), (1L, Array(0.0f, 1.0f)))
      .toDF("vec_id", "embedding")
      .select($"vec_id".as("_id"),
        expr("transform(embedding, x -> cast(x as double))").as("_v"))
    val cents = IndexedSeq(
      (0, IndexedSeq(1.0, 0.0)), (1, IndexedSeq(0.0, 1.0)))
    val assigned = IvfIndex.withCluster(tiny, cents)
    assert(!assigned.queryExecution.executedPlan.toString.contains("Exchange"))
    assert(assigned.select("_id", "cluster_id").as[(Long, Int)].collect.toSet
      === Set((0L, 0), (1L, 1)))
    val sums = assigned
      .select(col("cluster_id"), posexplode($"_v").as(Seq("dim", "x")))
      .groupBy("cluster_id", "dim")
      .agg(sum($"x").as("sx"), count(lit(1)).as("n"))
    val sumsPlan = sums.queryExecution.executedPlan.toString
    assert("Exchange".r.findAllIn(sumsPlan).size === 1,
      s"iteration agg must have exactly one exchange:\n$sumsPlan")
    assert("HashAggregate".r.findAllIn(sumsPlan).size >= 2,
      s"iteration agg must be partial+final (map-side combine):\n$sumsPlan")
  }

  test("probe with nprobe=k equals brute force exactly") {
    val (assignments, centroids) = built
    val exact = Search.topK(emb, "embedding", "vec_id", QueryVectors.q1, 10)
      .select("vec_id").as[Long].collect.toSeq
    val full = IvfIndex.probe(emb, "vec_id", "embedding",
      assignments, centroids, QueryVectors.q1, k = 10, nprobe = 8)
      .select("vec_id").as[Long].collect.toSeq
    assert(full === exact)
  }

  test("reconcile repairs the corpus-committed/index-missing crash gap, then is a no-op") {
    val (assignments, centroids) = built
    val path = java.nio.file.Files
      .createTempDirectory("graft-reconcile").toString + "/ivf"
    // simulate the durable loop's crash window: the index was written
    // from only PART of the corpus (the "committed but not yet
    // appended" generation is the held-out slice)
    val indexedSlice = emb.filter($"vec_id" % 3 =!= 0)
    IvfIndex.writePartitioned(indexedSlice, "vec_id",
      assignments.join(indexedSlice.select("vec_id"), "vec_id"), path)
    val missing = emb.count() - indexedSlice.count()
    assert(IvfIndex.reconcilePartitioned(
      emb, "vec_id", "embedding", centroids, path) === missing)
    // repaired index holds every corpus id exactly once...
    val ids = spark.read.parquet(path).select("vec_id").as[Long].collect.toSeq
    assert(ids.length === ids.distinct.length)
    assert(ids.toSet === emb.select("vec_id").as[Long].collect.toSet)
    // ...answers an exhaustive probe identically to brute force...
    val exact = Search.topK(emb, "embedding", "vec_id", QueryVectors.q1, 10)
      .select("vec_id").as[Long].collect.toSeq
    val probed = IvfIndex.probePartitioned(spark, path, "vec_id",
      "embedding", centroids, QueryVectors.q1, k = 10, nprobe = 8)
      .select("vec_id").as[Long].collect.toSeq
    assert(probed === exact)
    // ...and a second reconcile finds nothing to repair
    assert(IvfIndex.reconcilePartitioned(
      emb, "vec_id", "embedding", centroids, path) === 0L)
  }

  test("native NearestCentroid assignment ≡ the HOF fold, fixture + adversarial ties") {
    val vecs = emb.select($"vec_id".as("_id"),
      transform($"embedding", _.cast("double")).as("_v"))
    // centroid ids deliberately OUT OF ORDER to exercise the sorted-cid
    // position mapping; vectors are the fixture's own (float-derived)
    val cents = built._2.collect().toIndexedSeq
      .map(r => (r.getInt(0), r.getSeq[Double](1).toIndexedSeq))
      .reverse
    val native = IvfIndex.withCluster(vecs, cents)
      .select($"_id", $"cluster_id").as[(Long, Int)].collect().toMap
    val hof = IvfIndex.withClusterHof(vecs, cents)
      .select($"_id", $"cluster_id").as[(Long, Int)].collect().toMap
    assert(native === hof && native.nonEmpty)
    // exact-tie case: two identical centroids — the SMALLER cid must win
    val tieCents = IndexedSeq(
      (7, IndexedSeq(1.0, 0.0)), (2, IndexedSeq(1.0, 0.0)),
      (5, IndexedSeq(0.0, 1.0)))
    val tieVecs = Seq((1L, Seq(0.9, 0.1)), (2L, Seq(0.1, 0.9)))
      .toDF("_id", "_v")
    val gotTie = IvfIndex.withCluster(tieVecs, tieCents)
      .select($"_id", $"cluster_id").as[(Long, Int)].collect().toMap
    assert(gotTie === Map(1L -> 2, 2L -> 5))
    assert(gotTie === IvfIndex.withClusterHof(tieVecs, tieCents)
      .select($"_id", $"cluster_id").as[(Long, Int)].collect().toMap)
    // ragged vector matches no centroid → NULL cluster (native path
    // refuses to guess; the HOF's null-first ordering guessed)
    val ragged = Seq((9L, Seq(1.0, 0.0, 0.0))).toDF("_id", "_v")
    assert(IvfIndex.withCluster(ragged, tieCents)
      .filter($"cluster_id".isNull).count() === 1L)
  }
}
