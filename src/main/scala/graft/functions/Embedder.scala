package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.expressions.UserDefinedFunction
import org.apache.spark.sql.functions.udf

/** Pluggable text embedder — the reference's only "type constructor"
  * (reference `app.py:27-37`: tokenize → DistilBERT → mean-pool, yielding
  * an UNNORMALIZED fixed-dim dense float vector).
  *
  * The engine keeps the *capability* behind this trait: any
  * `String => Array[Float]` of fixed dim. The default implementation is a
  * deterministic feature-hashing bag-of-words (no torch on the JVM — see
  * SURVEY.md §7.3 "Embedder parity"). The heavy-model lifecycle — a
  * per-executor lazy singleton (the standard Spark pattern mirroring the
  * reference's `@st.cache_resource` at `app.py:13-14`) — is REAL here:
  * [[LinearModelEmbedder]] loads a binary weight artifact once per
  * executor JVM and batches forward passes through
  * [[Embedder.embedPartitions]].
  *
  * Instances must be Serializable: they are closed over by executor-side
  * UDFs and shipped with the task closure — cheap, stateless objects, not
  * per-row allocations.
  *
  * ==Heavy-model variant (ONNX design sketch; the session LIFECYCLE it
  * describes is implemented and tested by [[LinearModelEmbedder]] —
  * only the ONNX runtime itself is not a dependency of this build)==
  *
  * The reference embeds with DistilBERT (`app.py:16-37`). On Spark the
  * equivalent is an ONNX-exported encoder behind this same trait, with
  * the session held as a PER-EXECUTOR lazy singleton — the JVM-wide
  * mirror of the reference's `@st.cache_resource` (`app.py:13-14`) —
  * so the model loads once per executor, never per task or per row:
  *
  * {{{
  * final class OnnxEmbedder(modelPath: String, val dim: Int)
  *     extends Embedder {
  *   // The instance itself is a cheap Serializable handle; the session
  *   // lives in a companion-object cache keyed by modelPath, created on
  *   // first use ON THE EXECUTOR. modelPath points at a cluster-visible
  *   // file (distributed via `SparkContext.addFile` or a shared store);
  *   // what ships in the task closure is the STRING, never the weights.
  *   def embed(text: String): Array[Float] = {
  *     val (env, session, tokenizer) = OnnxEmbedder.sessionFor(modelPath)
  *     val ids = tokenizer.encode(text, maxLen = 512)   // app.py:29
  *     val out = session.run(Map("input_ids" -> ids))   // one forward pass
  *     meanPool(out, ids.attentionMask)                 // app.py:33-37
  *   }
  * }
  * object OnnxEmbedder {
  *   // one entry per (executor JVM, model) — concurrent first-call races
  *   // collapse via computeIfAbsent; sessions are never serialized
  *   private val cache =
  *     new java.util.concurrent.ConcurrentHashMap[String, SessionBundle]
  *   private def sessionFor(path: String) =
  *     cache.computeIfAbsent(path, p => loadOnnxSession(p))
  * }
  * }}}
  *
  * Throughput shape: wrap with [[Embedder.asUdf]] for row-at-a-time, or
  * batch via `mapPartitions` grouping `batchSize` rows per forward pass
  * (the same per-partition-init pattern as
  * `graft.operators.Multimodal.decodeAll`) — batching is what keeps an
  * accelerator-backed session busy. Everything downstream (scoring,
  * top-k, IVF/LSH indexing) is embedder-agnostic: swapping this in
  * changes no plan shape, which is the point of the trait.
  */
trait Embedder extends Serializable {
  def dim: Int
  def embed(text: String): Array[Float]

  /** Embed a whole batch in one call — the seam an accelerator-backed
    * model overrides to run one forward pass per batch instead of per
    * row (the default just loops). Contract: `embedAll(ts)(i) ==
    * embed(ts(i))` for every i — asserted for the hashing embedder in
    * EmbedderSpec, and required of any override so
    * [[Embedder.embedPartitions]] stays result-identical to the row-wise
    * UDF path. */
  def embedAll(texts: Seq[String]): Seq[Array[Float]] = texts.map(embed)
}

/** Deterministic feature-hashing embedder.
  *
  * Tokenizes on whitespace (mirroring the fixture corpus), hashes each
  * token with a portable 31-polynomial rolling hash (documented so it can
  * be re-expressed in SQL if an oracle ever needs it), and adds ±1 into
  * `hash mod dim` with a sign bit — the classic hashing trick. Like the
  * reference's embedder the output is intentionally NOT normalized
  * (`app.py:37` — no L2 normalization; SURVEY.md §1.2).
  *
  * Mirrors the reference's input truncation semantics (`app.py:29`,
  * `max_length=512`): at most `maxTokens` tokens contribute.
  */
final class HashingEmbedder(val dim: Int = 64, val maxTokens: Int = 512)
    extends Embedder {

  def embed(text: String): Array[Float] = {
    val v = new Array[Float](dim)
    if (text == null) return v
    var i = 0
    var tok = 0
    val n = text.length
    while (i < n && tok < maxTokens) {
      // skip whitespace
      while (i < n && text.charAt(i) == ' ') i += 1
      if (i < n) {
        var h = 0
        while (i < n && text.charAt(i) != ' ') {
          h = h * 31 + text.charAt(i)
          i += 1
        }
        val bucket = java.lang.Math.floorMod(h, dim)
        val sign = if (java.lang.Math.floorMod(h >> 16, 2) == 0) 1f else -1f
        v(bucket) += sign
        tok += 1
      }
    }
    v
  }
}

/** REAL model-artifact-backed embedder — the heavy-model seam EXERCISED:
  * a linear projection head over the hash featurizer, with the weights
  * loaded from a binary artifact file exactly the way an ONNX session
  * would be (no inference runtime ships in this container, so the model
  * format is this engine's own — the LIFECYCLE is the part the scaladoc
  * sketch below promises, and it is real here):
  *
  *   - the instance is a cheap Serializable HANDLE (a path string +
  *     dims); what ships in the task closure is never the weights;
  *   - the loaded matrix lives in a companion-object cache keyed by
  *     path — ONE load per (executor JVM, model), concurrent first-call
  *     races collapse via computeIfAbsent (asserted via the
  *     spec-visible load counter in EmbedderSpec);
  *   - `embedAll` is the one-forward-pass-per-batch override the
  *     [[Embedder.embedPartitions]] seam exists for: the whole batch is
  *     featurized then multiplied through the matrix in one tight loop
  *     (a GEMM call in an accelerator-backed session).
  *
  * `modelPath` must be visible where tasks run (local FS in local mode;
  * `SparkContext.addFile`/shared store on a cluster). Artifact layout
  * (little-endian): magic "GLPJ", int32 dimIn, int32 dimOut, then
  * dimOut×dimIn float32 row-major weights. */
final class LinearModelEmbedder(val modelPath: String, val dim: Int,
                                featDim: Int = 64) extends Embedder {
  private val feats = new HashingEmbedder(featDim)

  override def embed(text: String): Array[Float] =
    embedAll(Seq(text)).head

  override def embedAll(texts: Seq[String]): Seq[Array[Float]] = {
    val sess = LinearModelEmbedder.sessionFor(modelPath)
    require(sess.dimIn == featDim && sess.dimOut == dim,
      s"model at $modelPath is ${sess.dimOut}x${sess.dimIn}, " +
        s"embedder declared ${dim}x$featDim")
    // one "forward pass" for the whole batch: featurize then multiply
    // through the session's weights in a single tight loop
    val fs = texts.map(feats.embed)
    fs.map { f =>
      val out = new Array[Float](dim)
      var o = 0
      while (o < dim) {
        var acc = 0.0f
        val base = o * featDim
        var i = 0
        while (i < featDim) { acc += sess.w(base + i) * f(i); i += 1 }
        out(o) = acc
        o += 1
      }
      out
    }
  }
}

object LinearModelEmbedder {
  final case class Session(dimIn: Int, dimOut: Int, w: Array[Float])

  private val cache =
    new java.util.concurrent.ConcurrentHashMap[String, Session]()

  /** spec-visible evidence of the once-per-JVM lifecycle */
  private[graft] val loadCount = new java.util.concurrent.atomic.AtomicInteger(0)

  private[graft] def sessionFor(path: String): Session =
    cache.computeIfAbsent(path, p => {
      loadCount.incrementAndGet()
      val bytes = java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(p))
      val bb = java.nio.ByteBuffer.wrap(bytes)
        .order(java.nio.ByteOrder.LITTLE_ENDIAN)
      val magic = new Array[Byte](4)
      bb.get(magic)
      require(new String(magic, "US-ASCII") == "GLPJ",
        s"$p is not a GLPJ linear-model artifact")
      val dimIn = bb.getInt; val dimOut = bb.getInt
      require(dimIn > 0 && dimOut > 0 &&
        bb.remaining() == dimIn * dimOut * 4,
        s"$p: header ${dimOut}x$dimIn does not match payload size")
      val w = new Array[Float](dimIn * dimOut)
      bb.asFloatBuffer().get(w)
      Session(dimIn, dimOut, w)
    })

  /** Artifact writer (tooling/spec side — the "export" step a real
    * pipeline does once, off-cluster). Row-major [dimOut][dimIn]. */
  def write(path: String, dimIn: Int, dimOut: Int, w: Array[Float]): Unit = {
    require(w.length == dimIn * dimOut,
      s"weights length ${w.length} != $dimOut x $dimIn")
    val bb = java.nio.ByteBuffer.allocate(12 + w.length * 4)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    bb.put("GLPJ".getBytes("US-ASCII")).putInt(dimIn).putInt(dimOut)
    bb.asFloatBuffer().put(w)
    java.nio.file.Files.write(java.nio.file.Paths.get(path), bb.array())
  }
}

object Embedder {
  /** Default engine embedder: 64-dim to match the `embeddings.parquet`
    * fixture dimension (FIXTURES.md §2). */
  val default: Embedder = new HashingEmbedder(64)

  /** Scala UDF wrapping an embedder. The embedder is serialized into the
    * closure once per task, not per row. */
  def asUdf(e: Embedder): UserDefinedFunction =
    udf((s: String) => e.embed(s))

  def embedCol(e: Embedder)(text: Column): Column = asUdf(e)(text)

  /** Batched embedding over partitions — the throughput shape the
    * heavy-model scaladoc above promises: `mapPartitions` groups
    * `batchSize` rows per [[Embedder.embedAll]] call, so an
    * accelerator-backed override pays one forward pass per batch (the
    * embedder instance itself still initializes lazily per executor via
    * its companion cache — what ships in the closure is the cheap
    * Serializable handle). Appends `outCol` (`array<float>`) to every
    * row; result-identical to `withColumn(outCol, embedCol(e)(col))` by
    * the `embedAll` contract (asserted in EmbedderSpec).
    *
    * Plan note: `mapPartitions` is an opaque codegen boundary — columns
    * are not pruned through it, so project the input down to what the
    * output needs BEFORE calling (the per-partition batching is the
    * point here; the built-in-function path stays preferable for
    * anything expressible without a model). */
  def embedPartitions(df: org.apache.spark.sql.DataFrame, textCol: String,
                      outCol: String, e: Embedder,
                      batchSize: Int = 64): org.apache.spark.sql.DataFrame = {
    require(batchSize > 0, "batchSize must be positive")
    val idx = df.schema.fieldIndex(textCol)
    val outSchema = df.schema.add(outCol,
      org.apache.spark.sql.types.ArrayType(
        org.apache.spark.sql.types.FloatType, containsNull = false))
    df.mapPartitions { it =>
      it.grouped(batchSize).flatMap { batch =>
        val embs = e.embedAll(batch.map(r =>
          if (r.isNullAt(idx)) null else r.getString(idx)))
        // a broken embedAll override that drops failed inputs would
        // otherwise truncate the zip below — silent row loss; enforce
        // the one-embedding-per-text contract loudly
        require(embs.length == batch.length,
          s"embedAll contract violation: ${batch.length} texts in, " +
            s"${embs.length} embeddings out")
        batch.iterator.zip(embs.iterator).map { case (r, v) =>
          org.apache.spark.sql.Row.fromSeq(r.toSeq :+ v.toSeq)
        }
      }
    }(org.apache.spark.sql.Encoders.row(outSchema))
  }
}
