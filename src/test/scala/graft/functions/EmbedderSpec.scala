package graft.functions

import org.scalatest.funsuite.AnyFunSuite

class EmbedderSpec extends AnyFunSuite {
  private val e = new HashingEmbedder(64)

  test("fixed dimension") {
    assert(e.embed("hello world").length === 64)
  }

  test("deterministic") {
    assert(e.embed("spark engine").toSeq === e.embed("spark engine").toSeq)
  }

  test("different texts give different vectors (overwhelmingly)") {
    assert(e.embed("alpha beta gamma").toSeq !== e.embed("delta epsilon").toSeq)
  }

  test("null and empty map to the zero vector") {
    assert(e.embed(null).toSeq === Seq.fill(64)(0f))
    assert(e.embed("").toSeq === Seq.fill(64)(0f))
    assert(e.embed("   ").toSeq === Seq.fill(64)(0f))
  }

  test("token order does not matter for bag-of-words hashing") {
    assert(e.embed("a b c").toSeq === e.embed("c b a").toSeq)
  }

  test("truncation: tokens beyond maxTokens are ignored (app.py:29 semantics)") {
    val small = new HashingEmbedder(8, maxTokens = 2)
    assert(small.embed("a b c d e").toSeq === small.embed("a b").toSeq)
  }

  test("mass equals token count in L1 (each token adds ±1 to one bucket)") {
    val v = e.embed("one two three four")
    assert(v.map(x => math.abs(x)).sum >= 1f) // signs may cancel within a bucket
    val single = e.embed("one")
    assert(single.map(x => math.abs(x)).sum === 1f)
  }

  test("embedAll contract: batch equals per-row embed elementwise") {
    val texts = Seq("alpha beta", "", null, "gamma delta epsilon", "alpha beta")
    val batched = e.embedAll(texts)
    assert(batched.map(_.toSeq) === texts.map(t => e.embed(t).toSeq))
  }

  test("embedPartitions: batched mapPartitions ≡ row-wise UDF on the fixture") {
    val spark = graft.TestSpark.spark
    import org.apache.spark.sql.functions.col
    val docs = graft.Tables.load(spark, graft.TestSpark.sf0001, "documents")
      .select(col("doc_id"), col("text"))
    // batchSize 7 deliberately misaligns with partition sizes so the last
    // ragged batch of each partition is exercised
    val batched = Embedder.embedPartitions(docs, "text", "emb", e, batchSize = 7)
    assert(batched.columns.toSeq === Seq("doc_id", "text", "emb"))
    val viaUdf = docs.withColumn("emb", Embedder.embedCol(e)(col("text")))
    val got = batched.select("doc_id", "emb").collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1)).toMap
    val want = viaUdf.select("doc_id", "emb").collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).toSeq).toMap
    assert(got.size === want.size)
    assert(got === want)
  }

  // ---- the heavy-model seam, exercised with a REAL artifact ----

  private def writeTestModel(dimIn: Int, dimOut: Int): String = {
    val f = java.nio.file.Files.createTempFile("glpj-test", ".bin")
    // deterministic non-trivial weights: w[o][i] depends on both indices
    val w = Array.tabulate(dimOut * dimIn) { x =>
      val o = x / dimIn; val i = x % dimIn
      ((o * 31 + i * 7) % 11 - 5) / 10.0f
    }
    LinearModelEmbedder.write(f.toString, dimIn, dimOut, w)
    f.toFile.deleteOnExit()
    f.toString
  }

  test("LinearModelEmbedder: forward pass equals the driver-side matmul") {
    val path = writeTestModel(dimIn = 16, dimOut = 4)
    val m = new LinearModelEmbedder(path, dim = 4, featDim = 16)
    val feats = new HashingEmbedder(16)
    val text = "alpha beta gamma alpha"
    val f = feats.embed(text)
    val sess = LinearModelEmbedder.sessionFor(path)
    val want = Array.tabulate(4) { o =>
      (0 until 16).map(i => sess.w(o * 16 + i) * f(i)).sum
    }
    assert(m.embed(text).toSeq === want.toSeq)
    // embedAll contract holds for the model-backed override too
    val texts = Seq("a b", "", null, text)
    assert(m.embedAll(texts).map(_.toSeq) ===
      texts.map(t => m.embed(t).toSeq))
  }

  test("LinearModelEmbedder: one session load per JVM across a distributed run") {
    val spark = graft.TestSpark.spark
    import org.apache.spark.sql.functions.col
    val path = writeTestModel(dimIn = 64, dimOut = 8)
    val m = new LinearModelEmbedder(path, dim = 8)
    val before = LinearModelEmbedder.loadCount.get()
    val docs = graft.Tables.load(spark, graft.TestSpark.sf0001, "documents")
      .select(col("doc_id"), col("text")).repartition(8)
    val out = Embedder.embedPartitions(docs, "text", "emb", m, batchSize = 5)
      .select("doc_id", "emb").collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1)).toMap
    // 8 partitions × many batches ran; the artifact loaded AT MOST once
    // more (zero if an earlier test already cached this path's twin —
    // paths are unique per writeTestModel call, so exactly once here)
    assert(LinearModelEmbedder.loadCount.get() === before + 1)
    // results equal the driver-side model applied per row
    val want = graft.Tables.load(spark, graft.TestSpark.sf0001, "documents")
      .select("doc_id", "text").collect()
      .map(r => r.getLong(0) ->
        m.embed(if (r.isNullAt(1)) null else r.getString(1)).toSeq).toMap
    assert(out.size === want.size)
    assert(out === want)
    // re-running re-uses the cached session: no further loads
    Embedder.embedPartitions(docs, "text", "emb", m, batchSize = 17).count()
    assert(LinearModelEmbedder.loadCount.get() === before + 1)
  }

  private def writeTransformer(): String = {
    val p = java.nio.file.Files.createTempFile("gtfe-spec", ".bin")
    p.toFile.deleteOnExit()
    TransformerEmbedder.writeRandom(p.toString)
    p.toString
  }

  test("TransformerEmbedder: deterministic, position-sensitive, attention-mixing forward pass") {
    val path = writeTransformer()
    val m = new TransformerEmbedder(path, dim = 64)
    val a = m.embed("deep learning systems at scale")
    assert(a.length === 64)
    // deterministic: a second instance over the same artifact agrees
    val m2 = new TransformerEmbedder(path, dim = 64)
    assert(m2.embed("deep learning systems at scale").toSeq === a.toSeq)
    // position encoding: the same bag of words in a different order is a
    // DIFFERENT embedding (the hashing embedder cannot do this)
    val b = m.embed("scale at systems learning deep")
    assert(b.toSeq !== a.toSeq)
    // attention mixes positions: changing ONE token moves the whole
    // pooled vector, not just one bucket
    val c = m.embed("deep learning systems at speed")
    assert(c.toSeq !== a.toSeq)
    assert(a.count(!_.isNaN) === 64 && c.count(!_.isNaN) === 64)
    // empty/null degenerate inputs embed without blowing up
    assert(m.embed("").length === 64)
    assert(m.embed(null).length === 64)
    // embedAll ≡ per-row embed (the Embedder contract)
    val texts = Seq("a b", "", null, "deep learning systems at scale")
    assert(m.embedAll(texts).map(_.toSeq) ===
      texts.map(t => m.embed(t).toSeq))
  }

  test("TransformerEmbedder: optimized forward ≡ naive straight-loop reference, byte-for-byte") {
    // Guards the hot-path optimizations (batched feature-major forward
    // pass, precomputed position table): each output element's float
    // accumulation ORDER must stay exactly the straight loop's, so the
    // optimized session must reproduce this naive reference to the bit,
    // alone or in any batch.
    val path = writeTransformer()
    val s = TransformerEmbedder.sessionFor(path)
    val d = s.dModel; val dH = d / s.nHeads
    def posEnc(pos: Int, i: Int): Float = {
      val freq = math.pow(10000.0, -((i / 2) * 2).toDouble / d)
      (if (i % 2 == 0) math.sin(pos * freq) else math.cos(pos * freq)).toFloat
    }
    def lin(x: Array[Float], rows: Int, w: Array[Float], b: Array[Float],
            dIn: Int, dOut: Int): Array[Float] = {
      val out = new Array[Float](rows * dOut)
      for (r <- 0 until rows; o <- 0 until dOut) {
        var acc = b(o)
        var i = 0
        while (i < dIn) { acc += w(o * dIn + i) * x(r * dIn + i); i += 1 }
        out(r * dOut + o) = acc
      }
      out
    }
    def norm(x: Array[Float], rows: Int, g: Array[Float], b: Array[Float])
        : Array[Float] = {
      val out = new Array[Float](rows * d)
      for (r <- 0 until rows) {
        var mean = 0.0f
        var i = 0
        while (i < d) { mean += x(r * d + i); i += 1 }
        mean /= d
        var va = 0.0f
        i = 0
        while (i < d) {
          val dv = x(r * d + i) - mean; va += dv * dv; i += 1 }
        val inv = (1.0 / math.sqrt(va / d + 1e-5)).toFloat
        i = 0
        while (i < d) {
          out(r * d + i) = (x(r * d + i) - mean) * inv * g(i) + b(i); i += 1 }
      }
      out
    }
    def reference(ids: Array[Int]): Array[Float] = {
      val t = ids.length
      var x = new Array[Float](t * d)
      for (p <- 0 until t; i <- 0 until d)
        x(p * d + i) = s.tokenEmb(ids(p) * d + i) + posEnc(p, i)
      for (l <- s.layers) {
        val q = lin(x, t, l.wq, l.bq, d, d); val k = lin(x, t, l.wk, l.bk, d, d)
        val v = lin(x, t, l.wv, l.bv, d, d)
        val ctx = new Array[Float](t * d)
        val scale = (1.0 / math.sqrt(dH.toDouble)).toFloat
        for (h <- 0 until s.nHeads; ti <- 0 until t) {
          val off = h * dH
          val sc = Array.tabulate(t) { si =>
            var acc = 0.0f
            var i = 0
            while (i < dH) { acc += q(ti * d + off + i) * k(si * d + off + i); i += 1 }
            acc * scale
          }
          val mx = sc.max
          val es = sc.map(v0 => math.exp((v0 - mx).toDouble).toFloat)
          var z = 0.0f
          es.foreach(z += _)
          for (si <- 0 until t; i <- 0 until dH)
            ctx(ti * d + off + i) += (es(si) / z) * v(si * d + off + i)
        }
        val ao = lin(ctx, t, l.wo, l.bo, d, d)
        for (i <- ao.indices) ao(i) += x(i)
        val x1 = norm(ao, t, l.ln1g, l.ln1b)
        val hid = lin(x1, t, l.w1, l.b1, d, s.dFf)
        for (i <- hid.indices) {
          val v0 = hid(i).toDouble
          hid(i) = (0.5 * v0 * (1.0 + math.tanh(
            0.7978845608028654 * (v0 + 0.044715 * v0 * v0 * v0)))).toFloat
        }
        val ff = lin(hid, t, l.w2, l.b2, s.dFf, d)
        for (i <- ff.indices) ff(i) += x1(i)
        x = norm(ff, t, l.ln2g, l.ln2b)
      }
      val pooled = new Array[Float](d)
      for (p <- 0 until t; i <- 0 until d) pooled(i) += x(p * d + i)
      for (i <- 0 until d) pooled(i) /= t
      lin(pooled, 1, s.wOut, s.bOut, d, s.dimOut)
    }
    val batch = Vector(Array(0), Array(1, 2, 3),
      Array.tabulate(37)(i => (i * 97) % s.vocab),
      Array.tabulate(128)(i => (i * 31 + 7) % s.vocab))
    val want = batch.map(ids => reference(ids).toSeq)
    for (ids <- batch)
      assert(s.forward(ids).toSeq === reference(ids).toSeq,
        s"forward diverged from straight-loop reference at t=${ids.length}")
    // one mixed-length batch, in both orders: every row is its document's
    // reference, whatever its neighbours and its offset in the batch
    for (order <- Seq(batch.indices, batch.indices.reverse)) {
      val got = s.forwardAll(order.map(batch))
      assert(got.size === batch.size)
      order.zip(got).foreach { case (j, row) =>
        assert(row.toSeq === want(j),
          s"forwardAll diverged from the reference at t=${batch(j).length}")
      }
    }
    // embedAll over more positions than one forwardAll chunk holds ≡
    // per-text embed (chunk boundaries cannot change a result)
    val m = new TransformerEmbedder(path, dim = 64)
    val texts = (0 until 200).map { n =>
      if (n % 17 == 5) null
      else (0 until 20 + n % 61).map(w => s"w${(n * 7 + w * 13) % 97}")
        .mkString(" ")
    }
    assert(texts.map(t => if (t == null) 1 else t.split(' ').length).sum >
      2 * TransformerEmbedder.ChunkPositions)
    assert(m.embedAll(texts).map(_.toSeq) === texts.map(t => m.embed(t).toSeq))
  }

  test("TransformerEmbedder: golden fingerprint of the sf0.001 documents under the default artifact") {
    // Pins tokenizer + writeRandom artifact + forward pass together,
    // including the math.exp / math.tanh calls the in-test reference
    // shares: SHA-256 over the little-endian float bytes of embedAll on
    // every document text in doc_id order. The expected digest was
    // computed before the batched forward pass replaced the per-document
    // one; any drift in the produced bits changes it.
    val spark = graft.TestSpark.spark
    val texts = graft.Tables.load(spark, graft.TestSpark.sf0001, "documents")
      .select("doc_id", "text").orderBy("doc_id").collect()
      .map(r => if (r.isNullAt(1)) null else r.getString(1)).toSeq
    val m = new TransformerEmbedder(writeTransformer(), dim = 64)
    val embs = m.embedAll(texts)
    assert(embs.size === texts.size)
    val bb = java.nio.ByteBuffer.allocate(embs.size * 64 * 4)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    embs.foreach(_.foreach(f => bb.putFloat(f)))
    val digest = java.security.MessageDigest.getInstance("SHA-256")
      .digest(bb.array()).map(b => f"$b%02x").mkString
    assert(digest ===
      "59ed6959b6a9fac688024b1fbd88c66d0d848cf4612e64d459851fe79df1b5b1",
      s"${texts.size} documents")
  }

  test("TransformerEmbedder: one session load per JVM across a distributed run, batched ≡ row-wise") {
    val spark = graft.TestSpark.spark
    import org.apache.spark.sql.functions.col
    val path = writeTransformer()
    val m = new TransformerEmbedder(path, dim = 64)
    val before = TransformerEmbedder.loadCount.get()
    val docs = graft.Tables.load(spark, graft.TestSpark.sf0001, "documents")
      .select(col("doc_id"), col("text")).repartition(8)
    val out = Embedder.embedPartitions(docs, "text", "emb", m, batchSize = 7)
      .select("doc_id", "emb").collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1)).toMap
    assert(TransformerEmbedder.loadCount.get() === before + 1)
    val want = graft.Tables.load(spark, graft.TestSpark.sf0001, "documents")
      .select("doc_id", "text").collect()
      .map(r => r.getLong(0) ->
        m.embed(if (r.isNullAt(1)) null else r.getString(1)).toSeq).toMap
    assert(out.size === want.size)
    assert(out === want)
    Embedder.embedPartitions(docs, "text", "emb", m, batchSize = 19).count()
    assert(TransformerEmbedder.loadCount.get() === before + 1)
  }

  test("TransformerEmbedder: file vocabulary — listed tokens take file ids, OOV falls back to hash, same pipeline") {
    // twin artifacts sharing EVERY weight byte: one v1 (hash-only ids),
    // one with the checked-in tiny vocab section appended
    val hashPath = writeTransformer()
    val vocab = TransformerEmbedder.tinyVocab()
    assert(vocab.nonEmpty && vocab.distinct === vocab)
    val vp = java.nio.file.Files.createTempFile("gtfe-vocab", ".bin")
    vp.toFile.deleteOnExit()
    TransformerEmbedder.writeRandom(vp.toString, vocabTokens = vocab)
    val before = TransformerEmbedder.loadCount.get()
    val hs = TransformerEmbedder.sessionFor(hashPath)
    val vs = TransformerEmbedder.sessionFor(vp.toString)
    // the vocab section parses to position-ids; weights are byte-equal
    assert(hs.vocabIds === null)
    vocab.zipWithIndex.foreach { case (t, i) =>
      assert(vs.vocabIds.get(t) === i, s"token $t") }
    assert(vs.tokenEmb.toSeq === hs.tokenEmb.toSeq)
    val mh = new TransformerEmbedder(hashPath, dim = 64)
    val mv = new TransformerEmbedder(vp.toString, dim = 64)
    // in-vocab text: the file-vocab embedder must run the forward pass
    // on the FILE ids — equal to the shared-weight session fed those
    // ids directly (and, generically, different from the hash-id run)
    val joinId = vs.vocabIds.get("join").intValue()
    val scanId = vs.vocabIds.get("scan").intValue()
    assert(mv.embed("join scan").toSeq ===
      hs.forward(Array(joinId, scanId)).toSeq)
    // OOV text: hash fallback over the same table ⇒ the two artifacts
    // agree byte-for-byte
    val oov = "zzzunknown qqqword notinvocab"
    assert(mv.embed(oov).toSeq === mh.embed(oov).toSeq)
    // mixed text: vocab word resolves via file, OOV neighbor via hash
    val h = java.lang.Math.floorMod("zzzunknown".map(_.toInt)
      .foldLeft(0)((a, c) => a * 31 + c), vs.vocab)
    assert(mv.embed("join zzzunknown").toSeq ===
      hs.forward(Array(joinId, h)).toSeq)
    // load-once lifecycle holds for the vocab artifact too: both paths
    // are fresh temp files ⇒ exactly two loads, then cache hits only
    assert(TransformerEmbedder.loadCount.get() === before + 2)
    mv.embedAll(Seq("join", "scan"))
    assert(TransformerEmbedder.loadCount.get() === before + 2)
    assert(TransformerEmbedder.sessionFor(vp.toString) eq vs,
      "vocab session must be cached, not re-parsed")
  }

  test("TransformerEmbedder: vocab section validation fails loudly") {
    // duplicate token
    val p = java.nio.file.Files.createTempFile("gtfe-dup", ".bin")
    p.toFile.deleteOnExit()
    TransformerEmbedder.writeRandom(p.toString,
      vocabTokens = Seq("join", "join"))
    val ex = intercept[IllegalArgumentException] {
      TransformerEmbedder.sessionFor(p.toString)
    }
    assert(ex.getMessage.contains("duplicate"))
    // more tokens than tokenEmb rows is rejected at write time
    val p2 = java.nio.file.Files.createTempFile("gtfe-over", ".bin")
    p2.toFile.deleteOnExit()
    val ex2 = intercept[IllegalArgumentException] {
      TransformerEmbedder.writeRandom(p2.toString, vocab = 2,
        vocabTokens = Seq("a", "b", "c"))
    }
    assert(ex2.getMessage.contains("exceed"))
  }

  test("TransformerEmbedder: artifact validation fails loudly") {
    val bad = java.nio.file.Files.createTempFile("gtfe-bad", ".bin")
    java.nio.file.Files.write(bad, "NOPE".getBytes("US-ASCII"))
    bad.toFile.deleteOnExit()
    val ex = intercept[IllegalArgumentException] {
      TransformerEmbedder.sessionFor(bad.toString)
    }
    assert(ex.getMessage.contains("GTFE"))
    val path = writeTransformer()
    val wrong = new TransformerEmbedder(path, dim = 32)
    val ex2 = intercept[IllegalArgumentException] { wrong.embed("x") }
    assert(ex2.getMessage.contains("declared"))
  }

  test("LinearModelEmbedder: artifact validation fails loudly") {
    val bad = java.nio.file.Files.createTempFile("glpj-bad", ".bin")
    java.nio.file.Files.write(bad, "NOPE".getBytes("US-ASCII"))
    bad.toFile.deleteOnExit()
    val ex = intercept[IllegalArgumentException] {
      LinearModelEmbedder.sessionFor(bad.toString)
    }
    assert(ex.getMessage.contains("GLPJ"))
    // a dim mismatch between the handle and the artifact is caught too
    val path = writeTestModel(dimIn = 16, dimOut = 4)
    val wrong = new LinearModelEmbedder(path, dim = 9, featDim = 16)
    val ex2 = intercept[IllegalArgumentException] { wrong.embed("x") }
    assert(ex2.getMessage.contains("declared"))
  }
}
