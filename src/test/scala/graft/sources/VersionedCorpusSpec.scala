package graft.sources

import java.nio.file.Files

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

class VersionedCorpusSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private def freshRoot(): String =
    Files.createTempDirectory("graft-vcspec").toString + "/corpus"

  private def docs(ids: Range, tag: String) =
    ids.map(i => (i.toLong, s"$tag text number $i", "en"))
      .toDF("doc_id", "text", "lang")

  test("delete: driver-held key sets commit driver-side, equivalent to the staged form") {
    // two stores with identical content; one deleted through a
    // LocalRelation key frame (the r20 zero-job driver-side tombstone
    // commit), one through a parquet-backed (distributed) key frame —
    // manifests, snapshots, change feeds, Bloom bytes and pruned
    // lookups must all agree
    val rootL = freshRoot(); val rootD = freshRoot()
    for (r <- Seq(rootL, rootD)) {
      VersionedCorpus.append(docs(0 until 40, "a"), r)
      VersionedCorpus.pinKey(r, "doc_id")
      VersionedCorpus.pinBloom(r, expectedItems = 1000L)
    }
    val keysLocal = (5L until 15L).map(Tuple1(_)).toDF("doc_id")
    assert(keysLocal.queryExecution.optimizedPlan
      .isInstanceOf[org.apache.spark.sql.catalyst.plans.logical.LocalRelation])
    val kdir = Files.createTempDirectory("graft-vcspec-keys")
    keysLocal.write.mode("overwrite").parquet(s"$kdir/k")
    val keysDist = spark.read.parquet(s"$kdir/k")
    val gL = VersionedCorpus.delete(keysLocal, rootL, "doc_id",
      keysDistinct = true)
    val gD = VersionedCorpus.delete(keysDist, rootD, "doc_id",
      keysDistinct = true)
    assert(gL === gD)
    val cL = VersionedCorpus.commits(rootL).last
    val cD = VersionedCorpus.commits(rootD).last
    assert((cL.rows, cL.kind, cL.klo, cL.khi)
      === (cD.rows, cD.kind, cD.klo, cD.khi))
    // identical Bloom bytes: the driver-built filter must be
    // bit-identical to the staged write's BloomFilterAggregate output
    val bL = Files.readAllBytes(
      java.nio.file.Paths.get(rootL, "_manifest", s"$gL.bloom"))
    val bD = Files.readAllBytes(
      java.nio.file.Paths.get(rootD, "_manifest", s"$gD.bloom"))
    assert(java.util.Arrays.equals(bL, bD), "bloom bytes diverge")
    def state(r: String): (Seq[Long], Seq[(Long, String)], Seq[(Long, String)]) = (
      VersionedCorpus.snapshot(spark, r).select("doc_id")
        .as[Long].collect().sorted.toSeq,
      VersionedCorpus.changesBetween(spark, r, -1L)
        .select(col("doc_id"), col("_change_type"))
        .as[(Long, String)].collect().sorted.toSeq,
      // the DELETE-ONLY window (fromGen excludes the append): data
      // columns null-fill — the feed shape a delete-only replica pull
      // consumes (crashed before the r20 fill fix)
      VersionedCorpus.changesBetween(spark, r, 0L)
        .select(col("doc_id"), col("_change_type"))
        .as[(Long, String)].collect().sorted.toSeq)
    assert(state(rootL) === state(rootD))
    // pruned lookups agree on a dead and a live key
    for (k <- Seq(7L, 30L))
      assert(VersionedCorpus.lookupKey(spark, rootL, k).count()
        === VersionedCorpus.lookupKey(spark, rootD, k).count())
    // the local-path key memo serves the mutated-key window (zero jobs)
    assert(VersionedCorpus.windowMutatedKeys(rootL, 0L, gL)
      .map(_.map(_.asInstanceOf[Number].longValue()).sorted)
      === Some((5L until 15L).toSeq))
  }

  test("append + snapshot round-trips content; manifests carry row counts") {
    val root = freshRoot()
    val g0 = VersionedCorpus.append(docs(0 until 10, "a"), root)
    val g1 = VersionedCorpus.append(docs(10 until 25, "b"), root)
    assert(g0 === 0L && g1 === 1L)
    assert(VersionedCorpus.commits(root).map(c => (c.gen, c.rows, c.base))
      === Seq((0L, 10L, false), (1L, 15L, false)))
    val snap = VersionedCorpus.snapshot(spark, root)
    assert(snap.count() === 25L)
    assert(snap.agg(sum("doc_id")).as[Long].head === (0L until 25L).sum)
  }

  test("time travel: asOf sees exactly the commits <= asOf") {
    val root = freshRoot()
    val g0 = VersionedCorpus.append(docs(0 until 5, "a"), root)
    VersionedCorpus.append(docs(5 until 9, "b"), root)
    assert(VersionedCorpus.snapshot(spark, root, g0).count() === 5L)
    assert(VersionedCorpus.snapshot(spark, root).count() === 9L)
    // before the first commit is an explicit error, not an empty frame
    intercept[IllegalArgumentException] {
      VersionedCorpus.snapshot(spark, root, -1L)
    }
  }

  test("empty appends commit nothing") {
    val root = freshRoot()
    VersionedCorpus.append(docs(0 until 3, "a"), root)
    val g = VersionedCorpus.append(
      docs(0 until 3, "a").filter(col("doc_id") < 0), root)
    assert(g === -1L)
    assert(VersionedCorpus.commits(root).size === 1)
    assert(VersionedCorpus.snapshot(spark, root).count() === 3L)
  }

  test("a crashed append (data dir, no manifest) is invisible and its id is never reused") {
    val root = freshRoot()
    VersionedCorpus.append(docs(0 until 4, "a"), root)
    // simulate a writer that died between the data write and the commit
    docs(100 until 105, "orphan").write.parquet(s"$root/gen=7")
    assert(VersionedCorpus.snapshot(spark, root).count() === 4L)
    // the next append must skip PAST the orphan directory, not reuse it
    val g = VersionedCorpus.append(docs(4 until 6, "b"), root)
    assert(g === 8L)
    val snap = VersionedCorpus.snapshot(spark, root)
    assert(snap.count() === 6L)
    assert(!snap.select("text").as[String].collect().exists(_.contains("orphan")))
  }

  test("compact is content-neutral and preserves time travel; vacuum drops only superseded data") {
    val root = freshRoot()
    val g0 = VersionedCorpus.append(docs(0 until 6, "a"), root)
    VersionedCorpus.append(docs(6 until 10, "b"), root)
    val base = VersionedCorpus.compact(spark, root)
    VersionedCorpus.append(docs(10 until 12, "c"), root)

    assert(VersionedCorpus.commits(root).filter(_.base).map(_.gen) === Seq(base))
    // latest = base + post-base appends, exactly once each
    val latest = VersionedCorpus.snapshot(spark, root)
    assert(latest.count() === 12L)
    assert(latest.select("doc_id").as[Long].collect().sorted
      === (0L until 12L).toArray)
    // history BEFORE the base is still readable (compaction != vacuum)
    assert(VersionedCorpus.snapshot(spark, root, g0).count() === 6L)

    VersionedCorpus.vacuum(root)
    // latest unchanged; pre-base time travel now fails loudly
    assert(VersionedCorpus.snapshot(spark, root).count() === 12L)
    val ex = intercept[IllegalArgumentException] {
      VersionedCorpus.snapshot(spark, root, g0)
    }
    assert(ex.getMessage.contains("vacuum"))
  }

  test("a mis-shaped append is refused at the write, not discovered at a later snapshot") {
    val root = freshRoot()
    VersionedCorpus.append(docs(0 until 3, "a"), root)
    // wrong column name
    val renamed = docs(3 until 5, "b").withColumnRenamed("lang", "language")
    val ex = intercept[IllegalArgumentException] {
      VersionedCorpus.append(renamed, root)
    }
    assert(ex.getMessage.contains("pinned schema"))
    // wrong type
    val retyped = docs(3 until 5, "b")
      .withColumn("doc_id", col("doc_id").cast("int"))
    intercept[IllegalArgumentException] {
      VersionedCorpus.append(retyped, root)
    }
    // the refusals committed nothing and the store still reads cleanly
    assert(VersionedCorpus.commits(root).size === 1)
    assert(VersionedCorpus.snapshot(spark, root).count() === 3L)
    // nullability alone is NOT a divergence (parquet round-trips flip it)
    val g = VersionedCorpus.append(
      docs(3 until 5, "b").withColumn("lang", lit("en")), root)
    assert(g === 1L)
  }

  test("maybeCompact bounds the generation tail; with vacuum, live data dirs stay bounded") {
    val root = freshRoot()
    def liveDataDirs: Int = {
      val f = new java.io.File(root)
      if (!f.isDirectory) 0
      else f.listFiles.count(_.getName.startsWith("gen="))
    }
    var ids = 0
    for (_ <- 1 to 9) {
      VersionedCorpus.append(docs(ids until ids + 3, "b"), root)
      VersionedCorpus.maybeCompact(spark, root, every = 3, vacuumAfter = true)
      ids += 3
      // tail of non-base commits never exceeds the valve setting, and
      // vacuumed data dirs never pile up (tail + one base at most)
      val tail = VersionedCorpus.commits(root).reverse.takeWhile(!_.base).size
      assert(tail < 3)
      assert(liveDataDirs <= 4, s"$liveDataDirs live dirs")
    }
    // compaction + vacuum never lost or duplicated a row
    val snap = VersionedCorpus.snapshot(spark, root)
    assert(snap.count() === 27L)
    assert(snap.select("doc_id").as[Long].collect().sorted
      === (0L until 27L).toArray)
  }

  test("upsert supersedes earlier rows by key at read time; time travel still sees the old rows") {
    val root = freshRoot()
    val g0 = VersionedCorpus.append(docs(0 until 10, "v1"), root)
    val gU = VersionedCorpus.upsert(docs(3 until 6, "v2"), root, "doc_id")
    assert(gU === 1L)
    val latest = VersionedCorpus.snapshot(spark, root)
    assert(latest.count() === 10L) // replacement, not duplication
    val byId = latest.select("doc_id", "text").as[(Long, String)]
      .collect().toMap
    assert((3L until 6L).forall(i => byId(i).startsWith("v2")))
    assert((0L until 3L).forall(i => byId(i).startsWith("v1")))
    // pre-upsert time travel is untouched
    assert(VersionedCorpus.snapshot(spark, root, g0)
      .filter(col("text").startsWith("v2")).count() === 0L)
    // upserting new keys inserts them (the "insert" half of merge)
    VersionedCorpus.upsert(docs(10 until 12, "v2"), root, "doc_id")
    assert(VersionedCorpus.snapshot(spark, root).count() === 12L)
  }

  test("delete tombstones keys; later appends resurrect them (generation order decides)") {
    val root = freshRoot()
    VersionedCorpus.append(docs(0 until 10, "a"), root)
    val gD = VersionedCorpus.delete(
      docs(0 until 4, "x").select("doc_id"), root, "doc_id")
    assert(gD === 1L)
    assert(VersionedCorpus.commits(root).last.kind === "delete")
    assert(VersionedCorpus.commits(root).last.rows === 4L)
    val afterDelete = VersionedCorpus.snapshot(spark, root)
    assert(afterDelete.count() === 6L)
    assert(afterDelete.select("doc_id").as[Long].collect().sorted
      === (4L until 10L).toArray)
    // time travel to before the tombstone sees the full table
    assert(VersionedCorpus.snapshot(spark, root, gD - 1).count() === 10L)
    // a LATER append of a deleted key resurrects it
    VersionedCorpus.append(docs(0 until 2, "back"), root)
    val resurrected = VersionedCorpus.snapshot(spark, root)
    assert(resurrected.count() === 8L)
    assert(resurrected.filter(col("doc_id") === 0L)
      .select("text").as[String].head.startsWith("back"))
    // deleting keys the store never held is a harmless no-op
    VersionedCorpus.delete(docs(500 until 503, "x").select("doc_id"),
      root, "doc_id")
    assert(VersionedCorpus.snapshot(spark, root).count() === 8L)
    // an empty key set commits nothing
    assert(VersionedCorpus.delete(
      docs(0 until 3, "x").filter(col("doc_id") < 0).select("doc_id"),
      root, "doc_id") === -1L)
  }

  test("compact applies tombstones physically; vacuum then drops the merge machinery") {
    val root = freshRoot()
    VersionedCorpus.append(docs(0 until 10, "v1"), root)
    VersionedCorpus.upsert(docs(2 until 5, "v2"), root, "doc_id")
    VersionedCorpus.delete(docs(8 until 10, "x").select("doc_id"),
      root, "doc_id")
    val expect = VersionedCorpus.snapshot(spark, root)
      .select("doc_id", "text").as[(Long, String)].collect().sortBy(_._1)
    val base = VersionedCorpus.compact(spark, root)
    // the base generation's FILES alone hold the merged view — no
    // tombstone resolution left to pay
    val baseRows = spark.read.parquet(s"$root/gen=$base")
      .select("doc_id", "text").as[(Long, String)].collect().sortBy(_._1)
    assert(baseRows === expect)
    assert(baseRows.map(_._1) === (0L until 8L).toArray)
    VersionedCorpus.vacuum(root)
    assert(VersionedCorpus.snapshot(spark, root)
      .select("doc_id", "text").as[(Long, String)].collect().sortBy(_._1)
      === expect)
    // post-base appends + deletes still merge against the base
    VersionedCorpus.append(docs(20 until 23, "c"), root)
    VersionedCorpus.delete(docs(0 until 1, "x").select("doc_id"),
      root, "doc_id")
    assert(VersionedCorpus.snapshot(spark, root).count() === 10L)
  }

  test("the merge key is pinned at first keyed commit; later keyed commits must match it") {
    val root = freshRoot()
    VersionedCorpus.append(docs(0 until 5, "a"), root)
    VersionedCorpus.upsert(docs(0 until 2, "b"), root, "doc_id")
    val ex = intercept[IllegalArgumentException] {
      VersionedCorpus.delete(docs(0 until 1, "x"), root, "text")
    }
    assert(ex.getMessage.contains("pinned key"))
    // a key that is not a schema column is refused up front
    val root2 = freshRoot()
    VersionedCorpus.append(docs(0 until 5, "a"), root2)
    val ex2 = intercept[IllegalArgumentException] {
      VersionedCorpus.upsert(docs(0 until 1, "b"), root2, "nope")
    }
    assert(ex2.getMessage.contains("not a column"))
    // a keyed commit before any data commit has no schema to validate
    val root3 = freshRoot()
    intercept[IllegalArgumentException] {
      VersionedCorpus.delete(docs(0 until 1, "x").select("doc_id"),
        root3, "doc_id")
    }
  }

  test("merge-on-read plan: tiny tombstone sets fold into the scan filter, mid-size resolve via broadcast join; append-only stays a bare scan") {
    val root = freshRoot()
    VersionedCorpus.append(docs(0 until 20, "a"), root)
    // append-only fast path: no join operator in the plan at all
    val plain = VersionedCorpus.snapshot(spark, root)
      .queryExecution.executedPlan.toString
    assert(!plain.contains("Join"))
    VersionedCorpus.delete(docs(0 until 2, "x").select("doc_id"),
      root, "doc_id")
    // the manifests say the tombstone set is 2 rows — under the IN-list
    // budget the resolution is a STATIC predicate (r17): still no join
    // operator, no broadcast build, and no per-read future job
    val merged = VersionedCorpus.snapshot(spark, root)
    assert(!merged.queryExecution.executedPlan.toString.contains("Join"))
    assert(merged.count() === 18L)
    // blow past the IN-list budget (>1000 tombstone rows) with distinct
    // keys OUTSIDE the live id range so the count is unchanged: the
    // resolution must fall back to the broadcast hash join — the data
    // side still never shuffles
    VersionedCorpus.delete(docs(5000 until 6200, "x").select("doc_id"),
      root, "doc_id", keysDistinct = true)
    val mergedBig = VersionedCorpus.snapshot(spark, root)
    assert(mergedBig.queryExecution.executedPlan.toString
      .contains("BroadcastHashJoin"))
    assert(mergedBig.count() === 18L)
  }

  test("applyChanges: last-writer-wins per key by seq, ties break toward delete, replay idempotent") {
    val root = freshRoot()
    VersionedCorpus.append(docs(0 until 6, "v1"), root)
    def change(id: Long, op: String, seq: Int, tag: String) =
      Seq((id, s"$tag text number $id", "en", op, seq))
        .toDF("doc_id", "text", "lang", "op", "seq")
    val batch = Seq(
      change(0L, "U", 1, "u1"), // plain update
      change(1L, "U", 1, "u1"), change(1L, "D", 2, ""),  // delete wins by seq
      change(2L, "D", 1, ""), change(2L, "U", 2, "u2"),  // update wins by seq
      change(3L, "U", 1, "u1"), change(3L, "D", 1, ""),  // TIE -> delete wins
      change(9L, "U", 1, "new"),                          // insert
      change(7L, "D", 1, "")                              // delete absent key: no-op
    ).reduce(_ unionByName _)
    val (gU, gD) = VersionedCorpus.applyChanges(batch, root, "doc_id", "op", "seq")
    assert(gU > 0L && gD > gU)
    def state(): Map[Long, String] = VersionedCorpus.snapshot(spark, root)
      .select("doc_id", "text").as[(Long, String)].collect().toMap
    val s1 = state()
    assert(s1.keySet === Set(0L, 2L, 4L, 5L, 9L))
    assert(s1(0L).startsWith("u1") && s1(2L).startsWith("u2")
      && s1(9L).startsWith("new") && s1(4L).startsWith("v1"))
    // crash-replay of the SAME batch: state unchanged (idempotent apply)
    VersionedCorpus.applyChanges(batch, root, "doc_id", "op", "seq")
    assert(state() === s1)
    // change-log columns never leak into the store schema
    assert(VersionedCorpus.snapshot(spark, root).columns.toSeq
      === Seq("doc_id", "text", "lang"))
  }

  test("applyChanges: a NULL op upserts the change row's data") {
    // "any other value is an insert/update" — NULL included: the row
    // lands with its data, never as a null-data upsert or a delete
    val root = freshRoot()
    VersionedCorpus.append(docs(0 until 3, "v1"), root)
    val batch = Seq[(Long, String, String, String, Int)](
      (1L, "nullop text number 1", "de", null, 1),
      (7L, "nullop text number 7", "fr", null, 1)
    ).toDF("doc_id", "text", "lang", "op", "seq")
    val (gU, gD) = VersionedCorpus.applyChanges(batch, root, "doc_id", "op", "seq")
    assert(gU > 0L && gD === -1L)
    val state = VersionedCorpus.snapshot(spark, root)
      .select("doc_id", "text", "lang").as[(Long, String, String)]
      .collect().map(r => r._1 -> r).toMap
    assert(state.keySet === Set(0L, 1L, 2L, 7L))
    assert(state(1L) === ((1L, "nullop text number 1", "de")))
    assert(state(7L) === ((7L, "nullop text number 7", "fr")))
    assert(state(0L)._2.startsWith("v1"))
  }

  test("lookupKey ≡ filtered snapshot across the merge lifecycle; manifest stats prune generations") {
    val root = freshRoot()
    VersionedCorpus.append(docs(0 until 50, "a"), root)   // pre-pin: no bounds
    VersionedCorpus.pinKey(root, "doc_id")
    VersionedCorpus.append(docs(50 until 100, "b"), root) // bounds [50,100)
    VersionedCorpus.upsert(docs(60 until 70, "v2"), root, "doc_id")
    VersionedCorpus.delete(docs(80 until 90, "x").select("doc_id"),
      root, "doc_id")
    VersionedCorpus.append(docs(80 until 82, "back"), root)
    val cs = VersionedCorpus.commits(root)
    assert(cs.head.klo.isEmpty)                            // pre-pin commit
    assert(cs(1).klo === Some(50L) && cs(1).khi === Some(99L))
    assert(cs.filter(_.kind == "delete").head.klo === Some(80L))
    // equivalence on every key class: untouched / pre-pin / upserted /
    // deleted / resurrected / never-present
    for (k <- Seq(5L, 55L, 65L, 85L, 80L, 500L)) {
      val want = VersionedCorpus.snapshot(spark, root)
        .filter(col("doc_id") === k)
        .select("doc_id", "text").as[(Long, String)].collect().sortBy(_._1)
      val got = VersionedCorpus.lookupKey(spark, root, k)
        .select("doc_id", "text").as[(Long, String)].collect().sortBy(_._1)
      assert(got === want, s"key $k")
    }
    // pruning: a key only the pre-pin generation can hold must read the
    // pre-pin gen (no bounds -> conservative) but NONE of the bounded
    // later generations
    val files5 = VersionedCorpus.lookupKey(spark, root, 5L).inputFiles
    assert(files5.nonEmpty && files5.forall(_.contains("gen=0")))
    // a key inside only the [50,100) append + the delete range reads
    // those and skips the [60,70) upsert and [80,82) re-append
    val files85 = VersionedCorpus.lookupKey(spark, root, 85L).inputFiles
    assert(!files85.exists(_.contains("gen=2")), "upsert gen not pruned")
    // a key beyond every bound reads ONLY the boundless pre-pin gen
    val files500 = VersionedCorpus.lookupKey(spark, root, 500L).inputFiles
    assert(files500.forall(_.contains("gen=0")))
    // after compaction the base carries bounds and lookups stay correct
    VersionedCorpus.compact(spark, root)
    assert(VersionedCorpus.commits(root).last.klo === Some(0L))
    assert(VersionedCorpus.lookupKey(spark, root, 65L)
      .select("text").as[String].head.startsWith("v2"))
    assert(VersionedCorpus.lookupKey(spark, root, 85L).count() === 0L)
  }

  test("pinBloom: Bloom pruning works where key bounds cannot (hash-distributed keys); lookups stay ≡ filtered snapshot") {
    val root = freshRoot()
    // each generation's keys stripe the WHOLE key domain (j*1000 + i):
    // every post-pin [min,max] contains every probed key, so bounds
    // pruning keeps everything — only the per-generation Bloom filter
    // can elide reads. This is the content-fingerprint / uuid-key shape.
    def slab(i: Int) = (0 until 10)
      .map(j => (j * 1000L + i, s"g$i row $j", "en"))
      .toDF("doc_id", "text", "lang")
    VersionedCorpus.append(slab(0), root) // pre-pin+pre-bloom: no filter
    VersionedCorpus.pinKey(root, "doc_id")
    VersionedCorpus.pinBloom(root, expectedItems = 64, fpp = 0.01)
    VersionedCorpus.append(slab(1), root)
    VersionedCorpus.append(slab(2), root)
    VersionedCorpus.append(slab(3), root)
    val cs = VersionedCorpus.commits(root)
    assert(cs.drop(1).forall(c =>
      c.mayContainKey(5001L) && c.mayContainKey(5002L)),
      "fixture broken: bounds were supposed to be useless here")
    // equivalence on every key class — present in exactly one slab,
    // pre-pin slab, absent. If the driver-side probe hashed any way
    // other than the build's xxhash64, present keys would be falsely
    // pruned and these checks would catch it.
    for (k <- Seq(5000L, 5001L, 5002L, 5003L, 123456L)) {
      val want = VersionedCorpus.snapshot(spark, root)
        .filter(col("doc_id") === k)
        .select("doc_id", "text").as[(Long, String)].collect().sortBy(_._1)
      val got = VersionedCorpus.lookupKey(spark, root, k)
        .select("doc_id", "text").as[(Long, String)].collect().sortBy(_._1)
      assert(got === want, s"key $k")
    }
    // pruning: key 5002 lives in slab 2 only; slabs 1 and 3 survive the
    // bounds check but their filters say no (deterministic: the filters
    // are a pure function of the committed data)
    val files = VersionedCorpus.lookupKey(spark, root, 5002L).inputFiles
    assert(files.exists(_.contains("gen=2")))
    assert(!files.exists(_.contains("gen=1")), "bloom should prune gen 1")
    assert(!files.exists(_.contains("gen=3")), "bloom should prune gen 3")
    assert(files.exists(_.contains("gen=0")), "pre-bloom gen is always read")
    // an absent key reads ONLY the conservative pre-bloom generation
    val filesAbsent = VersionedCorpus.lookupKey(spark, root, 123456L).inputFiles
    assert(filesAbsent.nonEmpty && filesAbsent.forall(_.contains("gen=0")))
    // keyed mutations carry filters too: an upsert and a delete of two
    // keys prune away from lookups of a third
    VersionedCorpus.upsert(
      Seq((5001L, "v2 row", "en")).toDF("doc_id", "text", "lang"),
      root, "doc_id")
    VersionedCorpus.delete(Seq(5002L).toDF("doc_id"), root, "doc_id")
    val files3 = VersionedCorpus.lookupKey(spark, root, 5003L).inputFiles
    assert(!files3.exists(_.contains("gen=4")), "upsert gen should bloom-prune")
    assert(!files3.exists(_.contains("gen=5")), "delete gen should bloom-prune")
    assert(VersionedCorpus.lookupKey(spark, root, 5001L)
      .select("text").as[String].collect() === Array("v2 row"))
    assert(VersionedCorpus.lookupKey(spark, root, 5002L).count() === 0L)
    // compaction: the base generation gets its own filter (undersized
    // sizing only weakens pruning, never correctness)
    VersionedCorpus.compact(spark, root)
    assert(VersionedCorpus.lookupKey(spark, root, 5003L)
      .select("text").as[String].head === "g3 row 5")
    // the pin needs a key
    val bare = freshRoot()
    VersionedCorpus.append(slab(0), bare)
    intercept[IllegalArgumentException] {
      VersionedCorpus.pinBloom(bare)
    }
  }

  test("lookupKeyStr: string merge keys prune by Bloom alone (no bounds exist); lookups ≡ filtered snapshot across the merge lifecycle") {
    val root = freshRoot()
    // fingerprint-shaped string keys: never range-clustered, so the
    // Bloom filter is the only pruning tier a string key can have
    def fps(ids: Range, tag: String) =
      ids.map(i => (s"fp-${i * 7919 % 1000}-$i", s"$tag text $i", "en"))
        .toDF("fp", "text", "lang")
    VersionedCorpus.append(fps(0 until 20, "a"), root)
    VersionedCorpus.pinKey(root, "fp")
    VersionedCorpus.pinBloom(root, expectedItems = 64, fpp = 0.01)
    VersionedCorpus.append(fps(20 until 40, "b"), root)
    VersionedCorpus.append(fps(40 until 60, "c"), root)
    // string keys record no bounds
    assert(VersionedCorpus.commits(root).forall(_.klo.isEmpty))
    // mutate: revise one key, delete another (both in gen 2's slab)
    val k45 = s"fp-${45 * 7919 % 1000}-45"
    val k50 = s"fp-${50 * 7919 % 1000}-50"
    VersionedCorpus.upsert(
      Seq((k45, "v2 revised", "en")).toDF("fp", "text", "lang"), root, "fp")
    VersionedCorpus.delete(Seq(k50).toDF("fp"), root, "fp")
    // ≡ filtered snapshot on every key class: pre-bloom, bloomed,
    // upserted, deleted, absent
    for (k <- Seq(s"fp-${5 * 7919 % 1000}-5", s"fp-${25 * 7919 % 1000}-25",
                  k45, k50, "fp-nope-999")) {
      val want = VersionedCorpus.snapshot(spark, root)
        .filter(col("fp") === k)
        .select("fp", "text").as[(String, String)].collect().sortBy(_._1)
      val got = VersionedCorpus.lookupKeyStr(spark, root, k)
        .select("fp", "text").as[(String, String)].collect().sortBy(_._1)
      assert(got === want, s"key $k")
    }
    assert(VersionedCorpus.lookupKeyStr(spark, root, k45)
      .select("text").as[String].collect() === Array("v2 revised"))
    // pruning: a key in slab b reads gen 0 (pre-bloom, conservative)
    // and gen 1 only — gens 2-4 bloom-pruned
    val files25 = VersionedCorpus
      .lookupKeyStr(spark, root, s"fp-${25 * 7919 % 1000}-25").inputFiles
    assert(files25.exists(_.contains("gen=1")))
    for (g <- Seq("gen=2", "gen=3", "gen=4"))
      assert(!files25.exists(_.contains(g)), s"$g should bloom-prune")
    // an absent key reads only the conservative pre-bloom generation
    val filesNope = VersionedCorpus
      .lookupKeyStr(spark, root, "fp-nope-999").inputFiles
    assert(filesNope.nonEmpty && filesNope.forall(_.contains("gen=0")))
  }

  test("fastCount / statsRange: manifest-only answers on tombstone-free windows; honest fallback/bound flags otherwise") {
    val root = freshRoot()
    VersionedCorpus.append(docs(0 until 30, "a"), root)
    VersionedCorpus.pinKey(root, "doc_id")
    VersionedCorpus.pinStats(root, Seq("doc_id"))
    VersionedCorpus.append(docs(30 until 80, "b"), root)
    // append-only: count comes from the manifests, exact; the range is
    // None while the pre-pin generation (no recorded bounds) is in the
    // window — conservative refusal, never a guess
    assert(VersionedCorpus.fastCount(spark, root) === 80L)
    assert(VersionedCorpus.fastCount(spark, root) ===
      VersionedCorpus.snapshot(spark, root).count())
    assert(VersionedCorpus.statsRange(root, "doc_id").isEmpty,
      "pre-pin generation in window: range must refuse")
    // time travel: the as-of window answers too
    assert(VersionedCorpus.fastCount(spark, root, asOf = 0L) === 30L)
    // compaction folds everything into a base WITH bounds → exact range
    VersionedCorpus.compact(spark, root)
    assert(VersionedCorpus.statsRange(root, "doc_id") === Some((0L, 79L, true)))
    // tombstones: count falls back (still exact), range degrades to a
    // BOUND (exact = false) — the deleted rows held the max
    VersionedCorpus.delete(docs(70 until 80, "x").select("doc_id"),
      root, "doc_id")
    assert(VersionedCorpus.fastCount(spark, root) === 70L)
    val r = VersionedCorpus.statsRange(root, "doc_id").get
    assert(r._1 === 0L && r._2 === 79L && !r._3,
      "post-delete range is a conservative bound, flagged inexact")
    // a second compaction restores both manifest-only paths
    VersionedCorpus.compact(spark, root)
    assert(VersionedCorpus.fastCount(spark, root) === 70L)
    assert(VersionedCorpus.statsRange(root, "doc_id") === Some((0L, 69L, true)))
    // unpinned / non-integral columns answer None
    assert(VersionedCorpus.statsRange(root, "text").isEmpty)
  }

  test("additive schema evolution: new columns appended; pre-evolution rows read as null; non-additive refused") {
    val root = freshRoot()
    VersionedCorpus.append(docs(0 until 10, "a").drop("lang"), root)
    // evolution must be opted into explicitly
    intercept[IllegalArgumentException] {
      VersionedCorpus.append(docs(10 until 12, "b"), root)
    }
    val g = VersionedCorpus.append(docs(10 until 12, "b"), root,
      evolveSchema = true)
    assert(g === 1L)
    val snap = VersionedCorpus.snapshot(spark, root)
    assert(snap.columns.toSeq === Seq("doc_id", "text", "lang"))
    assert(snap.count() === 12L)
    // pre-evolution rows read the new column as null
    assert(snap.filter(col("lang").isNull).count() === 10L)
    assert(snap.filter(col("lang") === "en").count() === 2L)
    // time travel to before the evolution ALSO sees the table schema
    // (schema is table-level, the simplification documented on append)
    assert(VersionedCorpus.snapshot(spark, root, 0L).columns.length === 3)
    // post-evolution strict appends use the evolved schema
    VersionedCorpus.append(docs(12 until 14, "c"), root)
    assert(VersionedCorpus.snapshot(spark, root).count() === 14L)
    // non-additive shapes are refused even with the flag: a type change,
    // a drop, and a reorder
    intercept[IllegalArgumentException] {
      VersionedCorpus.append(docs(14 until 15, "d")
        .withColumn("doc_id", col("doc_id").cast("int")), root,
        evolveSchema = true)
    }
    intercept[IllegalArgumentException] {
      VersionedCorpus.append(docs(14 until 15, "d").drop("text"), root,
        evolveSchema = true)
    }
    intercept[IllegalArgumentException] {
      VersionedCorpus.append(
        docs(14 until 15, "d").select("lang", "text", "doc_id"), root,
        evolveSchema = true)
    }
    // evolution composes with the merge machinery: delete a pre-evolution
    // key, look up an evolved row and a null-column row
    VersionedCorpus.delete(docs(0 until 1, "x").select("doc_id"),
      root, "doc_id")
    val merged = VersionedCorpus.snapshot(spark, root)
    assert(merged.count() === 13L)
    assert(merged.filter(col("lang").isNull).count() === 9L)
    assert(VersionedCorpus.lookupKey(spark, root, 10L)
      .select("lang").as[String].head === "en")
    assert(VersionedCorpus.lookupKey(spark, root, 5L)
      .select("lang").head().isNullAt(0))
  }

  test("sortByKey compaction: content-neutral, disjoint per-file key ranges in the base") {
    val root = freshRoot()
    // write unsorted, interleaved appends so the base has real sorting work
    VersionedCorpus.append(
      docs(0 until 200, "a").orderBy(rand(7)).repartition(4), root)
    VersionedCorpus.pinKey(root, "doc_id")
    VersionedCorpus.upsert(docs(50 until 80, "v2"), root, "doc_id")
    val expect = VersionedCorpus.snapshot(spark, root)
      .select("doc_id", "text").as[(Long, String)].collect().sortBy(_._1)
    val base = VersionedCorpus.compact(spark, root, sortByKey = true)
    val baseDir = new java.io.File(s"$root/gen=$base")
    val parts = baseDir.listFiles.filter(_.getName.endsWith(".parquet"))
    // content-neutral
    assert(spark.read.parquet(baseDir.toString)
      .select("doc_id", "text").as[(Long, String)].collect().sortBy(_._1)
      === expect)
    // each base file covers a DISJOINT key range (range partitioning),
    // sorted within — the precondition for parquet row-group pruning
    val ranges = parts.map { f =>
      val ids = spark.read.parquet(f.toString)
        .select("doc_id").as[Long].collect()
      assert(ids.sameElements(ids.sorted), s"unsorted file ${f.getName}")
      (ids.min, ids.max)
    }.sortBy(_._1)
    ranges.sliding(2).foreach {
      case Array((_, hi), (lo2, _)) => assert(hi < lo2, "overlapping ranges")
      case _                        => ()
    }
    // unsorted compaction still works when no key is pinned
    val root2 = freshRoot()
    VersionedCorpus.append(docs(0 until 10, "a"), root2)
    intercept[RuntimeException] {
      VersionedCorpus.compact(spark, root2, sortByKey = true)
    }
    VersionedCorpus.compact(spark, root2)
    assert(VersionedCorpus.snapshot(spark, root2).count() === 10L)
  }

  test("change feed: inserts/upserts/deletes labeled per commit; compaction emits no change rows; vacuumed windows refuse") {
    val root = freshRoot()
    val g0 = VersionedCorpus.append(docs(0 until 10, "a"), root)
    val g1 = VersionedCorpus.upsert(docs(3 until 6, "v2"), root, "doc_id")
    val g2 = VersionedCorpus.delete(docs(0 until 2, "x").select("doc_id"),
      root, "doc_id")
    val gBase = VersionedCorpus.compact(spark, root)
    val g3 = VersionedCorpus.append(docs(20 until 23, "c"), root)

    // full feed: columns pinned, base emits nothing
    val feed = VersionedCorpus.changesBetween(spark, root, -1L)
    assert(feed.columns.toSeq ===
      Seq("doc_id", "text", "lang", "_change_type", "_commit_gen"))
    val byGen = feed.groupBy("_commit_gen", "_change_type")
      .count().as[(Long, String, Long)].collect().toSet
    assert(byGen === Set((g0, "insert", 10L), (g1, "upsert", 3L),
      (g2, "delete", 2L), (g3, "insert", 3L)))
    assert(!byGen.exists(_._1 == gBase))
    // delete rows are key-only: data columns null, key populated
    val dels = feed.filter(col("_change_type") === "delete")
    assert(dels.filter(col("text").isNull && col("lang").isNull)
      .count() === 2L)
    assert(dels.select("doc_id").as[Long].collect().sorted === Array(0L, 1L))

    // windowing: (g1, g3] sees exactly the delete + final append
    val win = VersionedCorpus.changesBetween(spark, root, g1, g3)
    assert(win.groupBy("_change_type").count().as[(String, Long)]
      .collect().toSet === Set(("delete", 2L), ("insert", 3L)))

    // changesSince tracks the newest commit and is empty at the head
    val (f1, c1) = VersionedCorpus.changesSince(spark, root, g2)
    assert(c1 === g3 && f1.count() === 3L)
    val (f2, c2) = VersionedCorpus.changesSince(spark, root, c1)
    assert(c2 === c1 && f2.count() === 0L)

    // vacuum drops pre-base history: a window touching it refuses
    VersionedCorpus.vacuum(root)
    intercept[IllegalArgumentException] {
      VersionedCorpus.changesBetween(spark, root, -1L)
    }
    // ...but the post-base window still reads fine
    assert(VersionedCorpus.changesBetween(spark, root, gBase).count() === 3L)
  }

  test("incremental pull replication: replica ≡ source at every cursor point; crashed-pull replay is idempotent") {
    val tmp = Files.createTempDirectory("graft-vcrep")
    val src = s"$tmp/src"; val dst = s"$tmp/dst"
    val cursor = s"$tmp/cursor.txt"
    def sortedSnap(root: String) =
      VersionedCorpus.snapshot(spark, root)
        .select("doc_id", "text", "lang").as[(Long, String, String)]
        .collect().sortBy(_._1).toSeq
    // wave 1: plain appends
    VersionedCorpus.append(docs(0 until 30, "a"), src)
    VersionedCorpus.append(docs(30 until 50, "b"), src)
    VersionedCorpus.pinKey(src, "doc_id")
    val c1 = VersionedCorpus.replicate(spark, src, dst, "doc_id", cursor)
    assert(sortedSnap(dst) === sortedSnap(src))
    // wave 2: upsert + delete + resurrection, then a source compaction
    VersionedCorpus.upsert(docs(10 until 15, "v2"), src, "doc_id")
    VersionedCorpus.delete(docs(40 until 45, "x").select("doc_id"),
      src, "doc_id")
    VersionedCorpus.append(docs(42 until 43, "back"), src)
    VersionedCorpus.compact(spark, src)
    val c2 = VersionedCorpus.replicate(spark, src, dst, "doc_id", cursor)
    assert(c2 > c1)
    assert(sortedSnap(dst) === sortedSnap(src))
    assert(sortedSnap(dst).size === 46) // 50 - 5 deleted + 1 resurrected
    // crashed pull: wave 3 applied but the cursor write lost — replay
    // must converge, not duplicate
    VersionedCorpus.upsert(docs(0 until 3, "v3"), src, "doc_id")
    VersionedCorpus.replicate(spark, src, dst, "doc_id", cursor)
    VersionedCorpus.writeCursor(cursor, c2) // simulate the crash
    val c3 = VersionedCorpus.replicate(spark, src, dst, "doc_id", cursor)
    assert(c3 > c2)
    assert(sortedSnap(dst) === sortedSnap(src))
    // no-new-data pull: cursor unchanged, no commits land on the replica
    val nDst = VersionedCorpus.commits(dst).size
    assert(VersionedCorpus.replicate(spark, src, dst, "doc_id", cursor) === c3)
    assert(VersionedCorpus.commits(dst).size === nDst)
  }

  test("optimize: packs small append runs only, content-neutral, preserves time travel and merge order") {
    val root = freshRoot()
    // g0..g2: small appends; g3: upsert (run breaker); g4..g5: small
    // appends; g6: big append (not packable)
    VersionedCorpus.append(docs(0 until 5, "a"), root)
    VersionedCorpus.append(docs(5 until 10, "b"), root)
    VersionedCorpus.append(docs(10 until 15, "c"), root)
    VersionedCorpus.upsert(docs(0 until 2, "v2"), root, "doc_id")
    VersionedCorpus.append(docs(20 until 25, "d"), root)
    VersionedCorpus.append(docs(25 until 30, "e"), root)
    VersionedCorpus.append(docs(100 until 300, "big"), root)
    val before = VersionedCorpus.snapshot(spark, root)
      .select("doc_id", "text").as[(Long, String)].collect().sortBy(_._1)
    val packed = VersionedCorpus.optimize(spark, root, smallRows = 50L)
    assert(packed.size === 2) // [g0,g1,g2] and [g4,g5]
    val cs = VersionedCorpus.commits(root)
    assert(cs.filter(_.kind == "optimize").map(c => (c.rlo.get, c.rhi.get))
      === Seq((0L, 2L), (4L, 5L)))
    // content-neutral
    val after = VersionedCorpus.snapshot(spark, root)
      .select("doc_id", "text").as[(Long, String)].collect().sortBy(_._1)
    assert(after === before)
    // current snapshot reads packed dirs, never the originals
    val files = VersionedCorpus.snapshot(spark, root).inputFiles
    Seq(0L, 1L, 2L, 4L, 5L).foreach(g =>
      assert(!files.exists(_.contains(s"gen=$g/")), s"gen=$g still read"))
    // time travel to before the optimize still reads the originals
    assert(VersionedCorpus.snapshot(spark, root, 2L).count() === 15L)
    // a delete committed after the pack kills packed rows (pos = run top)
    VersionedCorpus.delete(docs(5 until 8, "x").select("doc_id"),
      root, "doc_id")
    assert(VersionedCorpus.snapshot(spark, root)
      .filter(col("doc_id") >= 5 && col("doc_id") < 8).count() === 0L)
    // the upsert committed BETWEEN the runs still beats run-1 rows:
    // doc 0/1 must read "v2", not "a"
    assert(VersionedCorpus.snapshot(spark, root)
      .filter(col("doc_id") === 0).select("text").as[String].head
      .startsWith("v2"))
    // the feed emits nothing for the optimize commits
    val feed = VersionedCorpus.changesBetween(spark, root, -1L)
    assert(feed.filter(col("_commit_gen").isin(packed: _*)).count() === 0L)
    // idempotent: nothing left to pack (the delete breaks no data run)
    assert(VersionedCorpus.optimize(spark, root, smallRows = 50L).isEmpty)
    // vacuumPacked reclaims originals; packed-era reads still fine,
    // time travel into the run now refuses loudly
    VersionedCorpus.vacuumPacked(root)
    assert(VersionedCorpus.snapshot(spark, root).count() === before.length - 3)
    intercept[IllegalArgumentException] {
      VersionedCorpus.snapshot(spark, root, 2L).count()
    }
    // lookupKey agrees with the snapshot across packed generations
    assert(VersionedCorpus.lookupKey(spark, root, 6L).count() === 0L)
    assert(VersionedCorpus.lookupKey(spark, root, 22L)
      .select("text").as[String].head.startsWith("d"))
  }

  test("lookupKeyRange ≡ filtered snapshot; manifest bounds prune disjoint generations") {
    val root = freshRoot()
    VersionedCorpus.append(docs(0 until 100, "a"), root)
    VersionedCorpus.pinKey(root, "doc_id")
    VersionedCorpus.append(docs(100 until 200, "b"), root)
    VersionedCorpus.append(docs(200 until 300, "c"), root)
    VersionedCorpus.upsert(docs(150 until 160, "v2"), root, "doc_id")
    VersionedCorpus.delete(docs(120 until 130, "x").select("doc_id"),
      root, "doc_id")
    def viaSnap(lo: Long, hi: Long) =
      VersionedCorpus.snapshot(spark, root)
        .filter(col("doc_id").between(lo, hi))
        .select("doc_id", "text").as[(Long, String)].collect().sortBy(_._1)
    def viaRange(lo: Long, hi: Long) =
      VersionedCorpus.lookupKeyRange(spark, root, lo, hi)
        .select("doc_id", "text").as[(Long, String)].collect().sortBy(_._1)
    // spans the upsert, the delete window, and a generation boundary
    for ((lo, hi) <- Seq((110L, 170L), (0L, 299L), (95L, 105L),
        (500L, 600L)))
      assert(viaRange(lo, hi) === viaSnap(lo, hi), s"[$lo,$hi]")
    // pruning: a range entirely inside gen 2's bounds never reads
    // gens 0/1 (gen 0 predates the pin and would be read if touched —
    // the range [250,260] excludes it only via gens 1/2's recorded
    // bounds... gen 0 carries no bounds, so it IS read conservatively;
    // assert instead that gen 1 (bounds 100..199) is pruned)
    val files = VersionedCorpus.lookupKeyRange(spark, root, 250L, 260L)
      .inputFiles
    assert(!files.exists(_.contains("gen=1/")), "gen 1 not pruned")
    assert(files.exists(_.contains("gen=2/")))
    // provably-empty range above every bound: only the unbounded gen 0
    // can be touched; with bounds on gens 1-4 none of them are read
    val files2 = VersionedCorpus.lookupKeyRange(spark, root, 5000L, 6000L)
      .inputFiles
    assert(files2.forall(_.contains("gen=0/")), files2.mkString(", "))
  }

  test("concurrent appends: every writer commits, ids unique, no rows lost (optimistic claim)") {
    val root = freshRoot()
    VersionedCorpus.append(docs(0 until 5, "init"), root) // pin the schema
    val writers = 6
    val each = 4
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    implicit val ec: scala.concurrent.ExecutionContext =
      scala.concurrent.ExecutionContext.global
    val futures = (0 until writers).map { w =>
      Future {
        (0 until each).map { i =>
          val lo = 1000 + w * 1000 + i * 100
          VersionedCorpus.append(docs(lo until (lo + 10), s"w$w-$i"), root)
        }
      }
    }
    val gens = Await.result(Future.sequence(futures), 10.minutes).flatten
    assert(gens.size === writers * each)
    assert(gens.distinct.size === gens.size, "duplicate generation ids")
    val cs = VersionedCorpus.commits(root)
    assert(cs.size === writers * each + 1)
    assert(cs.map(_.rows).sum === 5L + writers * each * 10L)
    assert(VersionedCorpus.snapshot(spark, root).count()
      === 5L + writers * each * 10L)
    // no staging leftovers after clean completion, and cleanStaging is
    // a safe no-op either way
    VersionedCorpus.cleanStaging(root)
    assert(VersionedCorpus.snapshot(spark, root).count()
      === 5L + writers * each * 10L)
  }

  test("history: the commit log as a DataFrame, one row per generation") {
    val root = freshRoot()
    VersionedCorpus.append(docs(0 until 10, "a"), root)
    VersionedCorpus.upsert(docs(3 until 5, "v2"), root, "doc_id")
    VersionedCorpus.delete(docs(0 until 2, "x").select("doc_id"),
      root, "doc_id")
    VersionedCorpus.compact(spark, root)
    val h = VersionedCorpus.history(spark, root)
      .select("gen", "kind", "rows").as[(Long, String, Long)]
      .collect().sortBy(_._1)
    assert(h === Array((0L, "append", 10L), (1L, "upsert", 2L),
      (2L, "delete", 2L), (3L, "base", 8L)))
  }

  test("pinStats + snapshotWhere: generation skipping on a non-key column, ≡ filtered snapshot, provably-empty from manifests") {
    val root = freshRoot()
    def batch(ids: Range, month: Int, tag: String) =
      ids.map(i => (i.toLong, month.toLong, s"$tag text $i"))
        .toDF("doc_id", "month", "text")
    // first commit pins schema; then pin stats on the month column
    VersionedCorpus.append(batch(0 until 10, 1, "jan"), root)
    VersionedCorpus.pinStats(root, Seq("month"))
    VersionedCorpus.append(batch(10 until 20, 2, "feb"), root)
    VersionedCorpus.append(batch(20 until 30, 3, "mar"), root)
    VersionedCorpus.append(batch(30 until 40, 4, "apr"), root)
    // mutations interleave: an upsert inside march, a delete in feb
    VersionedCorpus.upsert(batch(22 until 24, 3, "mar-v2"), root, "doc_id")
    VersionedCorpus.delete(batch(12 until 14, 2, "x").select("doc_id"),
      root, "doc_id")
    def viaSnap(lo: Long, hi: Long) =
      VersionedCorpus.snapshot(spark, root)
        .filter(col("month").between(lo, hi))
        .select("doc_id", "text").as[(Long, String)].collect().sortBy(_._1)
    def viaWhere(lo: Long, hi: Long) =
      VersionedCorpus.snapshotWhere(spark, root, "month", lo, hi)
        .select("doc_id", "text").as[(Long, String)].collect().sortBy(_._1)
    for ((lo, hi) <- Seq((2L, 3L), (1L, 4L), (3L, 3L), (9L, 12L)))
      assert(viaWhere(lo, hi) === viaSnap(lo, hi), s"[$lo,$hi]")
    // pruning: month=4 read touches neither feb (gen 1) nor mar (gen 2);
    // gen 0 predates the pin (no bounds) and is read conservatively
    val files = VersionedCorpus.snapshotWhere(spark, root, "month", 4L, 4L)
      .inputFiles
    assert(!files.exists(_.contains("gen=1/")), "feb generation not pruned")
    assert(!files.exists(_.contains("gen=2/")), "mar generation not pruned")
    assert(files.exists(_.contains("gen=3/")), "apr generation must be read")
    // provably empty: every post-pin generation's bounds exclude
    // month 9-12, and gen 0 (unbounded) still reads — restrict to a
    // store where all gens carry bounds to get the zero-read answer
    val root2 = freshRoot()
    VersionedCorpus.append(batch(0 until 5, 1, "a"), root2)
    VersionedCorpus.pinStats(root2, Seq("month"))
    VersionedCorpus.append(batch(5 until 9, 2, "b"), root2)
    val empty = VersionedCorpus.snapshotWhere(spark, root2, "month", 9L, 12L)
    assert(empty.count() ===
      VersionedCorpus.snapshot(spark, root2)
        .filter(col("month").between(9, 12)).count())
    // pinStats refuses unknown columns
    intercept[IllegalArgumentException] {
      VersionedCorpus.pinStats(root2, Seq("nope"))
    }
  }

  test("model-based fuzz: random append/upsert/delete/compact/optimize interleavings ≡ a driver-side merge model") {
    // the table-format fuzz: replay a random op log against BOTH the
    // store and a driver-side model of the merge-on-read rule (a row
    // of generation g survives iff no tombstone of its key committed
    // strictly after g; compact rewrites the survivors as one base;
    // optimize is content-neutral), then compare the full snapshot,
    // point lookups, and a range scan. Seeds are fixed by scenario
    // index → deterministic failures.
    final case class MRow(gen: Long, id: Long, text: String)
    for (scenario <- 0 until 6) {
      val rnd = new scala.util.Random(9000 + scenario)
      val root = freshRoot()
      var rows = Vector.empty[MRow]
      var tombs = Vector.empty[(Long, Set[Long])]
      def expected: Vector[MRow] = rows.filter(r =>
        !tombs.exists { case (tg, ks) => tg > r.gen && ks(r.id) })
      def mkBatch(lo: Int, len: Int, tag: String) =
        (lo until (lo + len)).map(i => (i.toLong, s"$tag-$i", "en"))
          .toDF("doc_id", "text", "lang")
      // op 0: an append pins the schema; pin the key right after
      val g0 = VersionedCorpus.append(mkBatch(0, 8, s"s$scenario-init"), root)
      VersionedCorpus.pinKey(root, "doc_id")
      rows ++= (0 until 8).map(i => MRow(g0, i.toLong, s"s$scenario-init-$i"))
      for (op <- 1 to 12) {
        val lo = rnd.nextInt(50)
        val len = 1 + rnd.nextInt(10)
        val tag = s"s$scenario-o$op"
        rnd.nextInt(100) match {
          case p if p < 40 =>
            val g = VersionedCorpus.append(mkBatch(lo, len, tag), root)
            if (g >= 0)
              rows ++= (lo until (lo + len)).map(i =>
                MRow(g, i.toLong, s"$tag-$i"))
          case p if p < 65 =>
            val g = VersionedCorpus.upsert(mkBatch(lo, len, tag),
              root, "doc_id")
            if (g >= 0) {
              tombs :+= ((g, (lo until (lo + len)).map(_.toLong).toSet))
              rows ++= (lo until (lo + len)).map(i =>
                MRow(g, i.toLong, s"$tag-$i"))
            }
          case p if p < 85 =>
            val g = VersionedCorpus.delete(
              mkBatch(lo, len, tag).select("doc_id"), root, "doc_id")
            if (g >= 0)
              tombs :+= ((g, (lo until (lo + len)).map(_.toLong).toSet))
          case p if p < 93 =>
            val live = expected
            if (live.nonEmpty) {
              val c = VersionedCorpus.compact(spark, root)
              rows = live.map(_.copy(gen = c))
              tombs = Vector.empty
              if (rnd.nextBoolean()) VersionedCorpus.vacuum(root)
            }
          case _ =>
            VersionedCorpus.optimize(spark, root, smallRows = 1000L)
          // content-neutral: model unchanged (effective positions are
          // the impl's job — that equivalence is exactly under test)
        }
      }
      val got = VersionedCorpus.snapshot(spark, root)
        .select("doc_id", "text").as[(Long, String)].collect()
        .sorted.toVector
      val want = expected.map(r => (r.id, r.text)).sorted
      assert(got === want, s"scenario $scenario snapshot diverged")
      // point lookups across present/absent/mutated keys
      for (k <- Seq(0L, rnd.nextInt(50).toLong, 55L)) {
        val lk = VersionedCorpus.lookupKey(spark, root, k)
          .select("doc_id", "text").as[(Long, String)].collect()
          .sorted.toVector
        assert(lk === want.filter(_._1 == k), s"scenario $scenario key $k")
      }
      // a range scan
      val (rlo, rhi) = (10L, 30L)
      val rg = VersionedCorpus.lookupKeyRange(spark, root, rlo, rhi)
        .select("doc_id", "text").as[(Long, String)].collect()
        .sorted.toVector
      assert(rg === want.filter(t => t._1 >= rlo && t._1 <= rhi),
        s"scenario $scenario range")
    }
  }

  test("multiple tombstone generations and an upsert of a deleted key between two view refreshes ≡ a driver-side model: snapshots, lookups, feed, view, forget") {
    // model of the merge-on-read rule: a row of generation g is live at
    // asOf iff g <= asOf and no tombstone of its key committed in
    // (g, asOf]; upserts are a tombstone plus rows in one generation
    final case class MRow(gen: Long, id: Long, bucket: Long, text: String)
    var rows = Vector.empty[MRow]
    var tombs = Vector.empty[(Long, Set[Long])]
    // the change feed the log implies: (gen, type, id, text or null)
    var feed = Vector.empty[(Long, String, Long, String)]
    def live(asOf: Long): Vector[(Long, Long, String)] = rows
      .filter(r => r.gen <= asOf && !tombs.exists { case (tg, ks) =>
        tg > r.gen && tg <= asOf && ks(r.id) })
      .map(r => (r.id, r.bucket, r.text)).sorted
    def batch(rs: Seq[(Long, Long, String)]) = rs.toDF("doc_id", "bucket", "text")
    def commitRows(g: Long, kind: String, rs: Seq[(Long, Long, String)]): Unit = {
      if (kind == "upsert") tombs :+= ((g, rs.map(_._1).toSet))
      rows ++= rs.map { case (i, b, t) => MRow(g, i, b, t) }
      feed ++= rs.map { case (i, _, t) => (g, kind, i, t) }
    }
    def commitDelete(g: Long, ks: Set[Long]): Unit = {
      tombs :+= ((g, ks))
      feed ++= ks.toSeq.map(k => (g, "delete", k, null: String))
    }

    val tmp = Files.createTempDirectory("graft-vcmultitomb")
    val root = s"$tmp/src"; val view = s"$tmp/view"
    val cursor = s"$tmp/cursor.txt"
    val aggs = Seq(count(lit(1)).as("n"),
      sum(length(col("text")).cast("long")).as("chars"))
    def refresh() = IncrementalView.refresh(spark, root, view, cursor,
      "doc_id", "bucket", aggs)
    def checkView(tag: String): Unit = {
      val want = live(Long.MaxValue).groupBy(_._2).toSeq
        .map { case (b, rs) => (b, rs.size.toLong, rs.map(_._3.length.toLong).sum) }
        .sorted
      val got = IncrementalView.read(spark, view)
        .as[(Long, Long, Long)].collect().sorted.toSeq
      assert(got === want, s"view after $tag")
    }

    val init = (0L until 30L).map(i => (i, i % 5, s"a text $i"))
    val g0 = VersionedCorpus.append(batch(init), root)
    VersionedCorpus.pinKey(root, "doc_id")
    commitRows(g0, "insert", init)
    refresh()
    checkView("first build")

    // between the two refreshes: two delete generations, an upsert that
    // moves a key across buckets, an upsert of a deleted key
    // (resurrection), and a plain append
    val g1 = VersionedCorpus.delete(Seq(2L, 7L, 12L).toDF("doc_id"), root, "doc_id")
    commitDelete(g1, Set(2L, 7L, 12L))
    val up1 = Seq((3L, 3L, "b revised 3"), (4L, 1L, "b moved 4 to bucket 1"))
    val g2 = VersionedCorpus.upsert(batch(up1), root, "doc_id")
    commitRows(g2, "upsert", up1)
    val g3 = VersionedCorpus.delete(Seq(3L, 20L, 21L).toDF("doc_id"), root, "doc_id")
    commitDelete(g3, Set(3L, 20L, 21L))
    val up2 = Seq((2L, 2L, "c back 2"), (20L, 4L, "c back 20 elsewhere"))
    val g4 = VersionedCorpus.upsert(batch(up2), root, "doc_id")
    commitRows(g4, "upsert", up2)
    val app = (40L until 43L).map(i => (i, i % 5, s"d text $i"))
    val g5 = VersionedCorpus.append(batch(app), root)
    commitRows(g5, "insert", app)

    def snap(asOf: Long) = VersionedCorpus.snapshot(spark, root, asOf)
      .select("doc_id", "bucket", "text").as[(Long, Long, String)]
      .collect().sorted.toVector
    for (g <- Seq(g0, g1, g2, g3, g4, g5))
      assert(snap(g) === live(g), s"snapshot asOf $g")
    val keys = Seq(0L, 2L, 3L, 4L, 7L, 12L, 20L, 21L, 41L, 99L)
    def lookups(asOf: Long): Unit = keys.foreach { k =>
      val got = VersionedCorpus.lookupKey(spark, root, k, asOf)
        .select("doc_id", "bucket", "text").as[(Long, Long, String)]
        .collect().toVector
      assert(got === live(asOf).filter(_._1 == k), s"lookupKey $k asOf $asOf")
    }
    lookups(g3)
    lookups(Long.MaxValue)

    def feedRows(from: Long) = VersionedCorpus.changesBetween(spark, root, from)
      .select("_commit_gen", "_change_type", "doc_id", "text")
      .as[(Long, String, Long, String)].collect().toSet
    assert(feedRows(g0) === feed.filter(_._1 > g0).toSet, "feed after g0")
    assert(feedRows(-1L) === feed.toSet, "full feed")

    refresh()
    checkView("second refresh")

    // forget one resurrected key: one more tombstone generation
    val removed = graft.operators.Forget.forget(spark,
      Seq(20L).toDF("doc_id"), corpusRoot = Some(root))
    assert(removed === Map("corpus" -> 1L))
    val g6 = VersionedCorpus.latest(root).get
    assert(g6 === g5 + 1)
    commitDelete(g6, Set(20L))
    assert(snap(g6) === live(g6), "snapshot after forget")
    assert(snap(g5) === live(g5), "time travel before the forget")
    lookups(Long.MaxValue)
    assert(feedRows(g5) === feed.filter(_._1 > g5).toSet, "forget feed")
    refresh()
    checkView("refresh after forget")
  }

  test("durable admission replay is idempotent: re-admitting a committed batch appends nothing") {
    val root = freshRoot()
    VersionedCorpus.append(docs(0 until 20, "corpus"), root)
    val incoming = docs(20 until 30, "fresh")
      .union(docs(0 until 3, "corpus")) // exact dups of the corpus
    def admitOnce(): Long = {
      val admitted = graft.operators.Dedup.admitIncoming(
        incoming,
        VersionedCorpus.snapshot(spark, root).select("doc_id", "text"),
        "doc_id", "text")
      VersionedCorpus.append(admitted, root)
    }
    val g1 = admitOnce()
    assert(g1 > 0L)
    assert(spark.read.parquet(s"$root/gen=$g1").count() === 10L)
    // failure-replay of the same batch: everything it admitted is now in
    // the snapshot, so the exact tier rejects all of it -> no commit
    assert(admitOnce() === -1L)
    assert(VersionedCorpus.commits(root).map(_.gen) === Seq(0L, g1))
  }

  test("declared incr_admit_durable row-matches the in-memory incr_admit_seq replay") {
    val durable = graft.Queries.all("incr_admit_durable")
      .build(spark, TestSpark.sf0001).collect().toSeq
    val inMem = graft.Queries.all("incr_admit_seq")
      .build(spark, TestSpark.sf0001).collect().toSeq
    assert(durable === inMem)
  }

  test("golden commit log: every commit site's manifest and Bloom sidecar bytes are pinned") {
    // one fixed script through every commit site with the key, a stats
    // column and the Bloom filter pinned: append, upsert, a driver-side
    // and a staged delete, a two-half and a one-half applyChanges,
    // sortByKey compaction and optimize. The SHA-256 of every commit
    // record and sidecar is pinned, so any change to what a commit
    // writes shows here; the memoized tombstone key sets are compared
    // as sets.
    val root = Files.createTempDirectory("graft-golden").toString + "/store"
    def rows(ids: Seq[Long], tag: String) =
      ids.map(i => (i, s"$tag-$i", i % 7L)).toDF("id", "t", "score")
    def changes(cs: (Long, String, Int)*) =
      cs.map { case (i, op, seq) => (i, s"c-$i", i % 5L, op, seq) }
        .toDF("id", "t", "score", "op", "seq")
    assert(VersionedCorpus.append(rows(0L until 20L, "a"), root) === 0L)
    VersionedCorpus.pinKey(root, "id")
    VersionedCorpus.pinStats(root, Seq("score", "id"))
    VersionedCorpus.pinBloom(root, expectedItems = 256L, fpp = 0.02)
    assert(VersionedCorpus.append(rows(20L until 40L, "b"), root) === 1L)
    assert(VersionedCorpus.upsert(rows(Seq(3L, 25L, 41L), "u"), root,
      "id") === 2L)
    // a LocalRelation key set: the driver-side delete
    assert(VersionedCorpus.delete(Seq(4L, 26L).toDF("id"), root, "id") === 3L)
    // a parquet-backed key set: the staged delete
    val kdir = Files.createTempDirectory("graft-golden-keys").toString + "/k"
    Seq(5L, 27L, 99L, 5L).toDF("id").write.parquet(kdir)
    assert(VersionedCorpus.delete(spark.read.parquet(kdir), root, "id") === 4L)
    assert(VersionedCorpus.applyChanges(
      changes((6L, "U", 1), (7L, "D", 1), (28L, "U", 2), (28L, "D", 1),
        (29L, "D", 1), (50L, "U", 1)),
      root, "id", "op", "seq") === ((5L, 6L)))
    assert(VersionedCorpus.applyChanges(
      changes((8L, "D", 1), (30L, "D", 1)), root, "id", "op", "seq")
      === ((-1L, 7L)))
    assert(VersionedCorpus.compact(spark, root, sortByKey = true) === 8L)
    assert(VersionedCorpus.append(rows(60L until 64L, "c"), root) === 9L)
    assert(VersionedCorpus.append(rows(64L until 70L, "d"), root) === 10L)
    assert(VersionedCorpus.optimize(spark, root) === Seq(11L))
    val dir = java.nio.file.Paths.get(root, "_manifest")
    val stream = Files.list(dir)
    val digests = try stream.iterator().asScala.map(_.getFileName.toString)
      .filter(_.matches("\\d+\\.(json|bloom)")).toSeq.sorted.map { n =>
        n -> java.security.MessageDigest.getInstance("SHA-256")
          .digest(Files.readAllBytes(dir.resolve(n)))
          .map("%02x".format(_)).mkString
      }.toMap
    finally stream.close()
    val golden = Map[String, String](
      "0.json" -> "2202dea61c7e6281474be23679b6881adb22bfd0cdba1b9524653e9d20b1001f",
      "1.json" -> "95592e4ea69f2783805206f6d4d3a5ad53c9ee4777ab69494e54605788ffa73a",
      "1.bloom" -> "377376f2ac9282972063407dff9305efa34618f7e1bcbc7115044fd170e194b2",
      "2.json" -> "8b85ab9ff761dcc29e35336099f661a87082ab186e9ebbad59638f564b74c4f5",
      "2.bloom" -> "c01789ce2be672c62d44d8e2e609e2e51cedd2d6f31bd657423dd4ef37ec3ae0",
      "3.json" -> "da96443327627906863b0c0762dc2c9263514525969e92971c02e52faf8b2088",
      "3.bloom" -> "00e5643fe013a2848724f81e35ceeaf760fbfc8d57929216ffdb5f2bb60b2c44",
      "4.json" -> "205d178249311ff56f528fb421b8c6fe375066db45c7250fadebad315dce0062",
      "4.bloom" -> "cbee7ad112a7b882d0dc15c32e230e3231dad342db879651e865d39a79d6cb70",
      "5.json" -> "68d7e5ba55ec6b06c62aa9a25119944c2b075b2631a7b0167a0d238918141140",
      "5.bloom" -> "e91c02bb1cdca7cc33ac094a75e9ae5fb654469e52dcb30d8cea6d1ed739f2ec",
      "6.json" -> "9a12c7e3a2ac29ab876b506d5084f7afc72eb2bfd65d520abc298a3c06c47fad",
      "6.bloom" -> "e6592cb8832d58349f3d34b40a8311485996c310c4f6e136c88146050796c1bd",
      "7.json" -> "5294a9f0fda0e7ecf8b5e0910ef824bf2864dda3759f1ab2b48711b315dc6e98",
      "7.bloom" -> "d9c91a3c7ba9f813cf5fddb9468093c78c4cf24e7d4902d59b6bcf5ddab3f8c8",
      "8.json" -> "d43134a32f18de13217785a2bd6ded9757563d88a346fe558ee63f14900434a5",
      "8.bloom" -> "df9497c2720eba551c993883997c359b10be1c7c005f07a6b443b2359db5b685",
      "9.json" -> "57eb34ee23a0878e0578e50e9fbf3e9c76a4c9854e8a33606abe5d7791db0d5a",
      "9.bloom" -> "32c74037c6b7ac29ef527f4a91e7e52f64c8c6076802137638165faef7083c61",
      "10.json" -> "2bb595787be6c10938e9a8a54d611a2310754a10b5d9daa7d7058ef5505a92f0",
      "10.bloom" -> "810cb5ced589c6f16429a3fbe806fe10c77464f0907e5446b6f3c9b4a3803a28",
      "11.json" -> "a7541b08997dc6d8174f8bcd95879972e70bf58e7928814fe2bcc8a67736830c",
      "11.bloom" -> "293c04dc23c0706757f8d68351ca55e292c59e60307c87af824f2936596ec839")
    assert(digests === golden, digests.toSeq.sorted.map { case (n, d) =>
      s"\"$n\" -> \"$d\"" }.mkString(",\n"))
    def memo(g: Long): Option[Set[Long]] =
      VersionedCorpus.windowMutatedKeys(root, g - 1L, g)
        .map(_.map(_.asInstanceOf[Number].longValue()).toSet)
    assert(memo(2L) === Some(Set(3L, 25L, 41L)))
    assert(memo(3L) === Some(Set(4L, 26L)))
    assert(memo(4L) === Some(Set(5L, 27L, 99L)))
    assert(memo(5L) === Some(Set(6L, 28L, 50L)))
    assert(memo(6L) === Some(Set(7L, 29L)))
    assert(memo(7L) === Some(Set(8L, 30L)))
  }

  /** A Bloom-pinned store crashed inside the fused CDC commit: the
    * batch's delete generation was claimed (and got its sidecar) but
    * its manifest rename never happened — simulated by removing that
    * manifest. Returns (root, batch, delete gen, upsert-half model,
    * full-batch model). */
  private def crashedCdcStore() = {
    val root = freshRoot()
    VersionedCorpus.append(docs(0 until 10, "v1"), root)
    VersionedCorpus.pinKey(root, "doc_id")
    VersionedCorpus.pinBloom(root, expectedItems = 64L)
    val ups = Seq(0L, 1L, 2L, 20L)
    val dels = Seq(5L, 6L, 7L)
    val batch = (ups.map(i => (i, s"u text number $i", "en", "U", 1)) ++
      dels.map(i => (i, "", "en", "D", 1)))
      .toDF("doc_id", "text", "lang", "op", "seq")
    val (gU, gD) = VersionedCorpus.applyChanges(batch, root, "doc_id", "op", "seq")
    assert(gU >= 0L && gD === gU + 1L)
    Files.delete(java.nio.file.Paths.get(root, "_manifest", s"$gD.json"))
    val base = (0L until 10L).map(i => i -> s"v1 text number $i").toMap
    val upserted = base ++ ups.map(i => i -> s"u text number $i")
    (root, batch, gD, upserted, upserted -- dels)
  }

  /** `snapshot` and pruned `lookupKey` reads of `root` equal `model`. */
  private def checkModel(root: String, model: Map[Long, String],
                         what: String): Unit = {
    val snap = VersionedCorpus.snapshot(spark, root)
      .select("doc_id", "text").as[(Long, String)].collect()
    assert(snap.toMap === model && snap.length === model.size, what)
    for (k <- Seq(0L, 3L, 5L, 6L, 9L, 20L, 21L, 30L, 41L)) {
      val got = VersionedCorpus.lookupKey(spark, root, k)
        .select("doc_id", "text").as[(Long, String)].collect().toSeq
      assert(got === model.get(k).map(k -> _).toSeq, s"$what: key $k")
    }
  }

  test("crash inside the fused CDC commit: the upsert half alone is visible, replay converges") {
    // readers must see exactly the upsert half; replaying the batch must
    // converge to the full model, and replaying it again must change
    // nothing
    val (root, batch, gD, upserted, full) = crashedCdcStore()
    checkModel(root, upserted, "after the crash")
    val (rU, rD) = VersionedCorpus.applyChanges(batch, root, "doc_id", "op", "seq")
    assert(rU > gD && rD === rU + 1L, "replay must not reuse the claimed id")
    checkModel(root, full, "after the replay")
    VersionedCorpus.applyChanges(batch, root, "doc_id", "op", "seq")
    checkModel(root, full, "after a second replay")
  }

  test("vacuum reclaims crash orphans and the Bloom sidecars of every generation it deletes") {
    // the crash window above (gen=gD is a manifest-less orphan with a
    // sidecar), then replay → compact → vacuum; then optimize →
    // vacuumPacked over a tail of small appends
    val (root, batch, gD, _, full) = crashedCdcStore()
    val mdir = java.nio.file.Paths.get(root, "_manifest")
    assert(Files.exists(mdir.resolve(s"$gD.bloom")), "the orphan has a sidecar")
    VersionedCorpus.applyChanges(batch, root, "doc_id", "op", "seq")
    def names(dir: java.nio.file.Path): Set[String] = {
      val st = Files.list(dir)
      try st.iterator().asScala.map(_.getFileName.toString).toSet
      finally st.close()
    }
    // every data generation here resolves against a later tombstone:
    // derived reads them all on the fly and writes no sidecar
    def ids = VersionedCorpus.derived(spark, root, "ids", _.select("doc_id"))
      .as[Long].collect().toSet
    assert(ids === full.keySet)
    val dmir = java.nio.file.Paths.get(root, "_derived", "ids")
    def derivedGens: Set[Long] =
      if (!Files.isDirectory(dmir)) Set.empty
      else names(dmir).map(_.stripPrefix("gen=").toLong)
    assert(derivedGens.isEmpty)
    val base = VersionedCorpus.compact(spark, root)
    VersionedCorpus.vacuum(root)
    val dataGens = names(java.nio.file.Paths.get(root))
      .filter(_.startsWith("gen=")).map(_.stripPrefix("gen=").toLong)
    assert(dataGens === Set(base), s"vacuum left data dirs $dataGens")
    val sidecars = names(mdir).filter(_.endsWith(".bloom"))
      .map(_.stripSuffix(".bloom").toLong)
    assert(sidecars.forall(_ >= base), s"vacuum left sidecars $sidecars")
    checkModel(root, full, "after vacuum")
    val run = Seq(30 until 35, 35 until 40, 40 until 42).map(r =>
      VersionedCorpus.append(docs(r, "t"), root))
    val all = full.keySet ++ (30L until 42L)
    assert(ids === all)
    assert(derivedGens === (run :+ base).toSet)
    val packed = VersionedCorpus.optimize(spark, root)
    assert(packed.size === 1)
    assert(derivedGens.contains(packed.head), "optimize carried no derived sidecar")
    VersionedCorpus.vacuumPacked(root)
    val left = names(mdir)
    assert(run.forall(g => !left.contains(s"$g.bloom")),
      s"vacuumPacked left sidecars ${left.toSeq.sorted}")
    assert(derivedGens === Set(base, packed.head),
      s"vacuumPacked left derived sidecars $derivedGens")
    assert(ids === all)
    // a tombstone-free compaction carries the sidecars; vacuum then drops
    // those of every generation it reclaims
    val base2 = VersionedCorpus.compact(spark, root)
    VersionedCorpus.vacuum(root)
    assert(derivedGens === Set(base2), s"vacuum left derived sidecars $derivedGens")
    assert(ids === all)
    checkModel(root, full ++ (30L until 42L).map(i => i -> s"t text number $i"),
      "after vacuumPacked")
  }

  test("store rebuilt at the SAME path: snapshots reflect the new store, never the dead one's tombstones") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    // the r15 tombstone-resolution memo is keyed by (root, gens,
    // manifest fingerprint) — this is the scenario the fingerprint
    // exists for: same path, same gen ids, different content
    val root = java.nio.file.Files.createTempDirectory("graft-rebuild")
      .toString + "/store"
    def build(tag: String, delLo: Long, delHi: Long): Unit = {
      val docs = (0L until 40L).map(i => (i, s"$tag-$i")).toDF("id", "t")
      VersionedCorpus.append(docs, root)
      VersionedCorpus.pinKey(root, "id")
      VersionedCorpus.delete(
        docs.filter(col("id") >= delLo && col("id") < delHi).select("id"),
        root, "id")
    }
    build("v1", 0L, 10L)
    val s1 = VersionedCorpus.snapshot(spark, root)
      .select("id").as[Long].collect().sorted
    assert(s1 === (10L until 40L).toArray)
    // kill the store, rebuild at the same path with a DIFFERENT delete
    org.apache.commons.io.FileUtils.deleteDirectory(
      new java.io.File(root))
    build("v2", 30L, 40L)
    val s2 = VersionedCorpus.snapshot(spark, root)
      .select("id").as[Long].collect().sorted
    assert(s2 === (0L until 30L).toArray,
      "snapshot served the dead store's tombstone resolution")
    // the same scenario for the per-generation Bloom filters: a lookup
    // of the dead store loads its upsert generation's filter, and the
    // rebuilt store's lookups must probe the NEW filter — a stale one
    // says "absent" for the new keys and prunes the upsert generation,
    // serving the superseded row
    for (str <- Seq(false, true)) {
      val at = java.nio.file.Files.createTempDirectory("graft-rebuild-bloom")
        .toString + "/store"
      def keyOf(i: Long): Any = if (str) s"k$i" else i
      def frame(rows: Seq[(Long, String)]) =
        if (str) rows.map { case (i, t) => (s"k$i", t) }.toDF("id", "t")
        else rows.toDF("id", "t")
      def bloomed(lo: Long): Unit = {
        val ids = (lo until lo + 20L).map(_ * 7919L)
        VersionedCorpus.append(frame(ids.map(i => (i, s"t-${i / 7919L}"))), at)
        VersionedCorpus.pinKey(at, "id")
        VersionedCorpus.pinBloom(at, expectedItems = 64L)
        VersionedCorpus.upsert(frame(ids.take(5).map(i => (i, "new"))), at, "id")
        for (i <- ids.take(8)) {
          val got = (if (str) VersionedCorpus.lookupKeyStr(spark, at, s"k$i")
                     else VersionedCorpus.lookupKey(spark, at, i))
            .select("id", "t").collect().map(_.toString).toSeq
          val want = VersionedCorpus.snapshot(spark, at)
            .filter(col("id") === keyOf(i))
            .select("id", "t").collect().map(_.toString).toSeq
          assert(got === want, s"lookup of ${keyOf(i)} (string key: $str)")
        }
      }
      bloomed(0L)
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(at))
      bloomed(1000L)
    }
  }

  // ── derived sidecars ────────────────────────────────────────────────
  private val soupWords = ("alpha beta gamma delta epsilon zeta eta theta iota " +
    "kappa lambda mu nu xi omicron pi rho sigma tau upsilon phi chi psi omega " +
    "red green blue cyan magenta yellow black white").split(" ").toIndexedSeq

  /** `n` documents of 60 words, ids from `first`, seeded per id. */
  private def soup(first: Long, n: Int): Seq[(Long, String)] =
    (first until first + n).map { id =>
      val r = new scala.util.Random(id)
      id -> Seq.fill(60)(soupWords(r.nextInt(soupWords.size))).mkString(" ")
    }

  /** A batch against `stored`: fresh documents, exact copies (one with
    * its words reordered), near copies (one word replaced) and a copy of
    * `extra` (a text the store no longer holds, if any). */
  private def admissionBatch(stored: Seq[(Long, String)], first: Long,
                             extra: Option[String] = None) = {
    val r = new scala.util.Random(first)
    val picks = r.shuffle(stored).take(12)
    val exact = picks.take(4).zipWithIndex.map { case ((_, t), i) =>
      (first + i, if (i == 0) t.split(" ").reverse.mkString(" ") else t) }
    val near = picks.drop(4).zipWithIndex.map { case ((_, t), i) =>
      val w = t.split(" "); w(30) = "zzz"; (first + 100 + i, w.mkString(" ")) }
    (soup(first + 200, 10) ++ exact ++ near ++ extra.map(first + 300 -> _))
      .toDF("doc_id", "text")
  }

  private val keysName = graft.operators.Dedup.CorpusKeys.name("doc_id", "text")

  private def sidecars(root: String): Set[Long] = {
    val dir = java.nio.file.Paths.get(root, "_derived", keysName)
    if (!Files.isDirectory(dir)) Set.empty
    else {
      val st = Files.list(dir)
      try st.iterator().asScala.map(_.getFileName.toString)
        .filter(_.startsWith("gen=")).map(_.stripPrefix("gen=").toLong).toSet
      finally st.close()
    }
  }

  /** The ids `admitIncoming` admits from `batch`, with the corpus keys
    * read from the store's sidecars and, for the reference, derived from
    * the snapshot; both must agree, and the result is returned. */
  private def admitBoth(root: String, batch: org.apache.spark.sql.DataFrame,
                        what: String): Set[Long] = {
    import graft.operators.Dedup
    val corpus = VersionedCorpus.snapshot(spark, root).select("doc_id", "text")
    def ids(df: org.apache.spark.sql.DataFrame) = Dedup.withAdmissionScope(
      df.select("doc_id").as[Long].collect().toSet)
    val plain = ids(Dedup.admitIncoming(batch, corpus, "doc_id", "text"))
    val keyed = ids(Dedup.admitIncoming(batch, corpus, "doc_id", "text",
      keys = Some(Dedup.CorpusKeys.of(VersionedCorpus.derived(spark, root,
        keysName, Dedup.CorpusKeys.rows(_, "doc_id", "text"))))))
    assert(keyed === plain, what)
    plain
  }

  private def liveGens(root: String): Set[Long] = {
    val all = VersionedCorpus.commits(root)
    val base = all.filter(_.base).map(_.gen).lastOption.getOrElse(-1L)
    all.filter(c => c.gen >= base && c.kind != "delete").map(_.gen).toSet
  }

  test("derived sidecars: admissions from sidecars ≡ admissions against the snapshot in every store state") {
    val root = freshRoot()
    val docs = soup(0L, 120)
    docs.grouped(40).foreach(g => VersionedCorpus.append(g.toDF("doc_id", "text"), root))
    // a store written before sidecars existed: the first read backfills
    assert(sidecars(root).isEmpty)
    val first = admitBoth(root, admissionBatch(docs, 1000L), "pre-sidecar store")
    assert(first.nonEmpty && first.forall(_ >= 1200L), first)
    assert(sidecars(root) === liveGens(root), "fully sidecarred")
    admitBoth(root, admissionBatch(docs, 1000L), "fully sidecarred")
    // mixed: a new generation without a sidecar beside sidecarred ones
    val more = soup(2000L, 40)
    val g = VersionedCorpus.append(more.toDF("doc_id", "text"), root)
    assert(!sidecars(root).contains(g))
    admitBoth(root, admissionBatch(docs ++ more, 3000L), "mixed")
    assert(sidecars(root) === liveGens(root))
    // compaction carries the inputs' sidecars by file copy: the base has
    // one before any read
    val base = VersionedCorpus.compact(spark, root)
    assert(sidecars(root).contains(base), "the compaction carried no sidecar")
    admitBoth(root, admissionBatch(docs ++ more, 4000L), "after a carrying compaction")
    VersionedCorpus.vacuum(root)
    assert(sidecars(root) === Set(base), "vacuum left sidecars of reclaimed generations")
    admitBoth(root, admissionBatch(docs ++ more, 5000L), "after compact + vacuum")
    // a deleted document stops blocking admission: its exact copy is admitted
    val (goneId, goneText) = docs(7)
    VersionedCorpus.delete(Seq(goneId).toDF("doc_id"), root, "doc_id")
    val left = (docs ++ more).filterNot(_._1 == goneId)
    val afterDelete = admitBoth(root,
      admissionBatch(left, 6000L, extra = Some(goneText)), "after a delete")
    assert(afterDelete.contains(6300L), "the deleted document's copy was rejected")
    assert(!admitBoth(root, admissionBatch(docs, 6000L, extra = Some(docs(8)._2)),
      "a stored document's copy").contains(6300L))
  }

  test("derived sidecars survive crashes: staging is never read, a lost sidecar is backfilled") {
    val root = freshRoot()
    val docs = soup(0L, 90)
    docs.grouped(30).foreach(g => VersionedCorpus.append(g.toDF("doc_id", "text"), root))
    val batch = admissionBatch(docs, 1000L)
    val want = admitBoth(root, batch, "first read")
    // a backfill that died mid-write: a staging dir holding the batch's
    // own keys as generation 0's sidecar — read, it would reject the
    // whole batch. It is never read.
    val staging = java.nio.file.Paths.get(root, "_staging", "crashed-backfill")
    graft.operators.Dedup.CorpusKeys.rows(batch, "doc_id", "text")
      .withColumn("_vc_gen", lit(0L))
      .write.partitionBy("_vc_gen").parquet(staging.toString)
    assert(admitBoth(root, batch, "beside a half-written staging dir") === want)
    VersionedCorpus.cleanStaging(root)
    assert(!Files.exists(staging.getParent), "cleanStaging left the sidecar staging")
    // a sidecar lost after it was placed is backfilled, decisions unchanged
    val lost = liveGens(root).max
    org.apache.commons.io.FileUtils.deleteDirectory(
      java.nio.file.Paths.get(root, "_derived", keysName, s"gen=$lost").toFile)
    assert(admitBoth(root, batch, "after losing a sidecar") === want)
    assert(sidecars(root) === liveGens(root))
  }
}
