package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import scala.util.control.NonFatal

import graft.sources.VersionedCorpus

/** RIGHT-TO-BE-FORGOTTEN across the engine's durable artifacts — the
  * one-call composition a GDPR erasure request needs: the same id set
  * tombstoned in the versioned corpus store, the inverted text index,
  * and the partitioned vector index, each through its own
  * merge-on-read delete (one atomic commit per artifact, nothing
  * rewritten at request time; the physical removals happen at each
  * store's maintenance valve — compact / optimize /
  * applyTombstonesPartitioned — which [[forgetAndApply]] runs
  * eagerly for callers who need the bytes gone now, not just
  * unreachable).
  *
  * Legs are optional: pass only the artifacts this deployment keeps.
  * `extraStores` adds merge-on-read delete legs for ANY further
  * versioned stores keyed by the same ids — e.g. the media pipeline's
  * (payload store, hash index) pair, where erasing the hash row
  * matters as much as the payload: a retained phash would keep
  * REJECTING re-ingestion of content the subject re-consented to, a
  * memory of the erased bytes. Each leg is itself idempotent
  * (double-forget is a no-op in every store), so replaying a crashed
  * forget converges. Returns per-artifact removed counts ("corpus"
  * counts tombstoned keys; "text_index" counts removed docs;
  * "vector_index" counts tombstoned ids requested — the vector
  * tombstone is id-set-shaped, absent ids are harmless; extra stores
  * count tombstoned keys under their root path).
  */
object Forget {

  def forget(spark: SparkSession, ids: DataFrame,
             corpusRoot: Option[String] = None,
             corpusKeyCol: String = "doc_id",
             textIndexDir: Option[String] = None,
             vectorIndexPath: Option[String] = None,
             vectorIdCol: String = "vec_id",
             extraStores: Seq[(String, String)] = Nil): Map[String, Long] = {
    val persisted = ids.select(ids.columns.head).distinct()
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      // LOCALIZE the request id set (r19 verdict #1, fusing the
      // commit-latency family's staged jobs): an erasure request is
      // operationally tiny — a subject's ids, a leak slab — while all
      // three store legs broadcast it into their joins. Committed as a
      // LocalRelation, every leg's broadcast builds driver-side with
      // NO job (LocalTableScan.executeCollect), and the one capped
      // collect replaces the old counting pass (the collected length
      // IS the empty-guard count). A request past the cap — or one
      // whose collect trips driver limits — keeps the persisted
      // distributed shape and its counting pass: decision-identical,
      // the pre-r20 plan exactly.
      val cap = 1 << 16
      val collected =
        try Some(graft.PlanGate.cappedCollect(persisted, cap + 1))
        catch { case _: org.apache.spark.SparkException => None }
      val (idsOne, nIds) = collected match {
        case Some(rows) if rows.length <= cap =>
          try persisted.unpersist(blocking = false)
          catch { case NonFatal(_) => () }
          (spark.createDataFrame(java.util.Arrays.asList(rows: _*),
            persisted.schema), rows.length.toLong)
        case _ => (persisted, persisted.count())
      }
      if (nIds == 0L) {
        // an empty request forgets nothing and commits nothing anywhere
        return (corpusRoot.map(_ => "corpus" -> 0L) ++
          textIndexDir.map(_ => "text_index" -> 0L) ++
          vectorIndexPath.map(_ => "vector_index" -> 0L) ++
          extraStores.map { case (root, _) => root -> 0L }).toMap
      }
      def storeDelete(root: String, keyCol: String): Long = {
        val gen = VersionedCorpus.delete(
          idsOne.withColumnRenamed(idsOne.columns.head, keyCol),
          root, keyCol, keysDistinct = true)
        if (gen < 0L) 0L
        else VersionedCorpus.commits(root).find(_.gen == gen)
          .map(_.rows).getOrElse(0L)
      }
      val corpus = corpusRoot.map(storeDelete(_, corpusKeyCol))
      // idsOne is distinct by construction; long-cast collisions (the
      // text/vector legs cast to long) only produce duplicate tombstone
      // ids, which the read-side set semantics absorb
      val text = textIndexDir.map(dir =>
        TextIndex.delete(spark, dir, idsOne, idsDistinct = true))
      val vec = vectorIndexPath.map { path =>
        IvfIndex.deletePartitioned(spark, path, vectorIdCol, idsOne,
          idsDistinct = true)
        nIds
      }
      // extra versioned stores keyed by the same ids — e.g. the media
      // pipeline's (payload store, hash index) pair, or any derived
      // store a deployment keeps alongside the primary three; keyed by
      // store root in the returned counts
      val extras = extraStores.map { case (root, keyCol) =>
        root -> storeDelete(root, keyCol)
      }
      (corpus.map("corpus" -> _) ++ text.map("text_index" -> _) ++
        vec.map("vector_index" -> _) ++ extras).toMap
    } finally {
      // harmless double-unpersist when the localize already released it
      try persisted.unpersist(blocking = false)
      catch { case NonFatal(_) => () }
    }
  }

  /** [[forget]] + the three physical applies, for the erasure requests
    * where unreachability is not enough and the bytes must go: corpus
    * compact (+ vacuum of the superseded tail), text-index optimize +
    * vacuum, vector-index tombstone apply. */
  def forgetAndApply(spark: SparkSession, ids: DataFrame,
                     corpusRoot: Option[String] = None,
                     corpusKeyCol: String = "doc_id",
                     textIndexDir: Option[String] = None,
                     vectorIndexPath: Option[String] = None,
                     vectorIdCol: String = "vec_id"): Map[String, Long] = {
    val counts = forget(spark, ids, corpusRoot, corpusKeyCol,
      textIndexDir, vectorIndexPath, vectorIdCol)
    corpusRoot.foreach { root =>
      VersionedCorpus.compact(spark, root)
      VersionedCorpus.vacuum(root)
    }
    textIndexDir.foreach { dir =>
      TextIndex.optimize(spark, dir)
      TextIndex.vacuumPacked(dir)
    }
    vectorIndexPath.foreach(path =>
      IvfIndex.applyTombstonesPartitioned(spark, path, vectorIdCol))
    counts
  }
}
