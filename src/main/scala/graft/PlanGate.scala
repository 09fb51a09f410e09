package graft

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.graftshim.Bridge

/** Stats-adaptive execution gates shared by the driver-side collect
  * points (declared-query local frames, candidate-spine
  * materialization, admission reject sets).
  *
  * The one decision here: a plan whose LEAF SCANS total under
  * `smallPlanBytes` runs its consuming action with adaptive query
  * execution OFF — at that size AQE's per-exchange query-stage
  * materialization pays a scheduler-floor job per shuffle with nothing
  * to re-plan, while a plan reading real volume keeps runtime
  * re-planning (skew splits, runtime broadcast, partition coalescing —
  * the things that matter at 100 TB). The gate keys on what the query
  * READS (file-stat-backed leaf relation statistics, conservative),
  * never on the final frame's post-aggregate estimate, which is tiny
  * even over a 100 TB scan. Purely physical: results are identical
  * either way.
  *
  * Gate sessions: a gate never writes the caller's conf. A gated
  * action re-binds its plan to a GATE SESSION — a clone of the
  * caller's session (same context, catalog data and cache) that holds
  * the gate's settings — so concurrent queries on the caller's session,
  * gated or not, always plan with the caller's own conf. Gate sessions
  * are cached per (parent session, settings) and rebuilt when the
  * parent's conf has changed since the clone, so a gate always derives
  * from the parent's current conf. Nothing mutates a gate session
  * after it is built, so the cache map is the only shared state. A
  * gate opened inside a gated body is a gate of the gate session: its
  * settings stack on the enclosing gate's. */
object PlanGate {

  val smallPlanBytes: Long = 256L << 20

  private final case class Gate(snapshot: Map[String, String],
                                session: SparkSession)

  /** Access-ordered and bounded: a handful of gates per live session;
    * sessions that went away age out instead of pinning their state. */
  private val gates =
    new java.util.LinkedHashMap[(SparkSession, Seq[(String, String)]), Gate](
      16, 0.75f, true) {
      override def removeEldestEntry(e: java.util.Map.Entry[
          (SparkSession, Seq[(String, String)]), Gate]): Boolean = size() > 32
    }

  /** The gate session of `parent` holding `settings`. Built once and
    * reused while `parent`'s conf is unchanged: a fresh session pays
    * its analyzer and planner construction on first use. */
  private def session(parent: SparkSession,
                      settings: Seq[(String, String)]): SparkSession = {
    val snapshot = parent.conf.getAll
    gates.synchronized {
      val key = (parent, settings)
      Option(gates.get(key)).filter(_.snapshot == snapshot).map(_.session)
        .getOrElse {
          val s = Bridge.cloneSession(parent)
          settings.foreach { case (k, v) => s.conf.set(k, v) }
          gates.put(key, Gate(snapshot, s))
          s
        }
    }
  }

  /** `df`'s plan bound to session `s` (identity when already bound). */
  def rebind(s: SparkSession, df: DataFrame): DataFrame =
    if (df.sparkSession eq s) df
    else Bridge.ofRows(s, df.queryExecution.analyzed)

  /** Run `body` on the gate session of `parent` holding `settings`. A
    * DataFrame result is re-bound to `parent`, so only the actions
    * inside the body run under the gate's settings. */
  def withGate[T](parent: SparkSession, settings: Seq[(String, String)])(
      body: SparkSession => T): T =
    body(session(parent, settings)) match {
      case df: Dataset[_] => rebind(parent, df.toDF()).asInstanceOf[T]
      case r              => r
    }

  /** Sum of the optimizer's leaf-relation size estimates — the plan's
    * read volume. `Long.MaxValue` when statistics are unavailable, so
    * an unknown plan NEVER takes the small-plan path. */
  def leafBytes(df: DataFrame): BigInt =
    try df.queryExecution.optimizedPlan.collectLeaves()
      .map(_.stats.sizeInBytes).sum
    catch { case scala.util.control.NonFatal(_) => BigInt(Long.MaxValue) }

  /** The optimizer's size estimate for the whole plan (after filters and
    * projections, unlike [[leafBytes]]). `Long.MaxValue` when statistics
    * are unavailable, so an unknown plan never counts as small. */
  def planBytes(df: DataFrame): BigInt =
    try df.queryExecution.optimizedPlan.stats.sizeInBytes
    catch { case scala.util.control.NonFatal(_) => BigInt(Long.MaxValue) }

  /** Run `body` over `df` with AQE off when the plan's leaf scans are
    * small (`df` re-bound to the gate session); over `df` unchanged
    * otherwise. */
  def withAqeOffIfSmall[T](df: DataFrame)(body: DataFrame => T): T =
    graft.sources.VersionedCorpus.withAqeOff(df.sparkSession,
      leafBytes(df) <= BigInt(smallPlanBytes))(g => body(rebind(g, df)))

  /** `df.limit(maxRows).collect()` in ONE job: CollectLimit's
    * incremental partition scaling (initialNumPartitions = 1, then
    * scale-up) pays up to three jobs for a capped safety collect whose
    * cap almost never binds — the probe-collect shape every
    * driver-bounded materialization uses. The gate's high
    * `spark.sql.limit.initialNumPartitions` makes the one execution
    * scan every partition, which is what the scale-up would have done
    * anyway by the time the cap is the question. */
  def cappedCollect(df: DataFrame,
                    maxRows: Int): Array[org.apache.spark.sql.Row] =
    withGate(df.sparkSession,
      Seq("spark.sql.limit.initialNumPartitions" -> "1000000"))(g =>
      rebind(g, df).limit(maxRows).collect())
}
