package graftbench

import java.nio.file.{Files, Path, Paths}

/** The generator's and the checkers' own specification:
  *
  *  - the same seed gives byte-identical input files, another seed
  *    different ones;
  *  - every ingest batch carries exactly the stated mix of fresh
  *    documents, exact copies and near-copies, each as described;
  *  - query and append texts are unique;
  *  - every checker rejects a corrupted answer.
  *
  * Run with `python3 perfbench/run.py --selftest`; prints `ok` last when
  * every property holds. */
object SelfTest {
  def main(argv: Array[String]): Unit = {
    val work = Paths.get(argv.grouped(2).collect { case Array("--work", v) => v }.next())
    val failures = Seq.newBuilder[String]
    def expect(ok: Boolean, what: String): Unit = if (!ok) failures += what

    def files(seed: Long, tag: String): Map[String, String] = {
      val dir = Files.createDirectories(work.resolve(s"$tag-$seed"))
      val emb = graft.functions.Embedder.default
      def sub(n: String) = Files.createDirectories(dir.resolve(n))
      Gen.writeSearch(Gen.search(seed, 2000, 500, 40, emb.embed, emb.dim), sub("search"))
      Gen.writeIngest(Gen.ingest(seed, 3000, 3, 2000), sub("ingest"))
      Gen.writeEmbed(Gen.embedIndex(seed, 1000, 64), sub("embed"), 8)
      val ls = Files.walk(dir)
      try ls.toArray.map(_.asInstanceOf[Path]).filter(Files.isRegularFile(_)).map { p =>
        dir.relativize(p).toString -> java.util.HexFormat.of().formatHex(
          java.security.MessageDigest.getInstance("SHA-256").digest(Files.readAllBytes(p)))
      }.toMap finally ls.close()
    }
    val a = files(7, "a"); val b = files(7, "b"); val c = files(8, "c")
    expect(a.size == 16, s"expected 16 input files, got ${a.keys.toSeq.sorted}")
    expect(a == b, "the same seed gave different input files")
    expect(a.forall { case (k, v) => c.get(k).exists(_ != v) }, "another seed gave an identical input file")

    val in = Gen.ingest(11, 3000, 4, 2000)
    val base = in.baseTexts.toSet
    val baseWords = in.baseTexts.filter(_.count(_ == ' ') >= 59).map(_.split(' ').toSeq)
    in.batches.zipWithIndex.foreach { case (rows, i) =>
      val kinds = rows.groupBy(_._3).map { case (k, v) => k -> v.size }
      expect(kinds == Map(Gen.Kind.Fresh -> 1400, Gen.Kind.Exact -> 400, Gen.Kind.Near -> 200),
        s"batch $i mix is $kinds")
      expect(rows.map(_._1).distinct.size == rows.size, s"batch $i repeats an id")
      rows.foreach { case (id, t, k) =>
        val words = t.split(' ').toSeq
        k match {
          case Gen.Kind.Fresh => expect(!base.contains(t) && words.size >= 20 && words.size <= 80,
            s"fresh document $id is stored or out of range")
          case Gen.Kind.Exact => expect(base.contains(t), s"exact copy $id matches no stored document")
          case Gen.Kind.Near => expect(baseWords.exists(w => w.size == words.size &&
            w.zip(words).count { case (x, y) => x != y } == 1),
            s"near-copy $id is not one word away from a stored document of 60+ words")
        }
      }
    }
    val fresh = in.batches.flatten.filter(_._3 == Gen.Kind.Fresh).map(_._2)
    expect(fresh.distinct.size == fresh.size, "fresh documents repeat across batches")

    val emb = graft.functions.Embedder.default
    val s = Gen.search(5, 2000, 3000, 200, emb.embed, emb.dim)
    val qs = s.warmQueries ++ s.queries
    expect(qs.distinct.size == qs.size, "search query texts repeat")
    expect(s.adds.distinct.size == s.adds.size && !s.adds.exists(s.texts.toSet),
      "append texts repeat or are already stored")
    val e = Gen.embedIndex(5, 1000, 512)
    expect(e.queries.distinct.size == e.queries.size, "embed_index query texts repeat")
    expect(Check.selfTest(), "a checker accepted a corrupted answer")

    val fs = failures.result()
    fs.foreach(f => println("FAIL " + f))
    println(if (fs.isEmpty) "ok" else s"${fs.size} failures")
  }
}
