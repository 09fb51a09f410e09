package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Vector math over `ArrayType(FloatType)` / `ArrayType(DoubleType)`
  * columns as pure Column expressions — built-in higher-order functions
  * (`zip_with` / `aggregate` / `transform`), no UDFs, so everything stays
  * inside whole-stage codegen and Catalyst can prune/push around it.
  *
  * Accumulation is a sequential left fold in DoubleType: results are
  * bit-deterministic and independent of partitioning — required by the
  * DuckDB-oracle gate (SURVEY.md §7.5) and sane at any scale.
  *
  * Semantics follow the reference's raw-dot similarity (reference
  * `app.py:45` — plain dot product, NOT cosine; vectors are never
  * normalized there, see SURVEY.md §1.2), plus the cosine / L2 / normalize
  * extensions (SURVEY.md §2 B1-B3).
  */
object VectorFunctions {

  /** Sequential double-precision sum of an array column's elements. */
  def dsum(arr: Column): Column =
    aggregate(arr, lit(0.0), (acc, x) => acc + x)

  /** Raw dot product in double precision (reference `app.py:45`), backed
    * by the native codegen'd [[graft.expressions.DotProduct]] — same
    * sequential-fold arithmetic as [[dotHof]] (asserted bit-equal in
    * VectorFunctionsSpec), compiled to a primitive loop. */
  def dot(a: Column, b: Column): Column =
    graft.GraftExtensions.dotCol(a, b)

  /** Reference formulation via built-in higher-order functions — kept as
    * the arithmetic spec for [[dot]] and for engines without the native
    * expression. */
  def dotHof(a: Column, b: Column): Column =
    dsum(zip_with(a, b, (x, y) => x.cast("double") * y.cast("double")))

  /** L2 (Euclidean) norm. */
  def l2Norm(a: Column): Column = sqrt(dot(a, a))

  /** Cosine similarity = dot / (|a|·|b|) (SURVEY.md §2 B1; the
    * `scikit-learn` capability the reference declared but never shipped,
    * reference `requirements.txt:6`). */
  def cosine(a: Column, b: Column): Column =
    dot(a, b) / (l2Norm(a) * l2Norm(b))

  /** Euclidean distance (B2), backed by the native codegen'd
    * [[graft.expressions.L2Distance]] — same sequential-fold arithmetic
    * as [[l2DistHof]] (asserted bit-equal in VectorFunctionsSpec),
    * compiled to a primitive loop. The hot inner expression of k-means
    * assignment, where it runs once per (row, centroid). */
  def l2Dist(a: Column, b: Column): Column =
    graft.GraftExtensions.l2Col(a, b)

  /** Reference higher-order-function formulation of [[l2Dist]] — the
    * arithmetic spec, kept for parity testing. */
  def l2DistHof(a: Column, b: Column): Column =
    sqrt(dsum(zip_with(a, b, (x, y) => {
      val d = x.cast("double") - y.cast("double")
      d * d
    })))

  /** a / |a| — unit-normalize, elements cast to double (B3). */
  def normalize(a: Column): Column = {
    val n = l2Norm(a)
    transform(a, x => x.cast("double") / n)
  }

  /** A query/centroid vector as ONE array literal. `typedlit` packs the
    * whole vector into a single Catalyst Literal — the earlier
    * `array(lit, lit, …)` form carried one expression node per element,
    * and a plan embedding many such vectors (the IVF centroid array:
    * k·d nodes) paid seconds of analysis + codegen per build step. */
  def vecLit(v: Seq[Double]): Column = typedlit(v)

  /** Deterministic Rademacher JOHNSON–LINDENSTRAUSS projection matrix:
    * `k` rows × `d` cols of ±1/√k (Achlioptas 2003 — the
    * database-friendly ±1 form; no Gaussian sampling needed for the JL
    * guarantee). With `k` a power of FOUR every entry is an exact
    * binary fraction (k=16 → ±0.25), so the decimal literals parse to
    * bit-identical doubles in any engine — the QueryVectors discipline
    * applied to a whole matrix, which is what lets a JL query family
    * meet the byte-exact oracle gate. Signs come from a splitmix-style
    * integer mix of (i, j, seed): stateless, reproducible anywhere,
    * no RNG object. */
  def jlMatrix(k: Int, d: Int,
               seed: Long = 0x9E3779B97F4A7C15L): Seq[IndexedSeq[Double]] = {
    val inv = 1.0 / math.sqrt(k.toDouble)
    IndexedSeq.tabulate(k) { i =>
      IndexedSeq.tabulate(d) { j =>
        var z = seed + i.toLong * 0x9E3779B97F4A7C15L +
          j.toLong * 0xBF58476D1CE4E5B9L
        z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
        z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
        z = z ^ (z >>> 31)
        if ((z & 1L) == 0L) inv else -inv
      }
    }
  }

  /** Project a vector column through a literal matrix: out[i] =
    * dot(m(i), v). One native codegen'd dot per output dimension over
    * typedlit rows — a pure row-local projection (no UDF, no shuffle),
    * the map step of JL dimensionality reduction: project the corpus
    * ONCE, then search/cluster/dedup in k dims at d/k of the scan
    * bytes, and re-rank survivors in full dimension. */
  def project(vec: Column, m: Seq[Seq[Double]]): Column =
    array(m.map(row => dot(vec, vecLit(row))): _*)
}
