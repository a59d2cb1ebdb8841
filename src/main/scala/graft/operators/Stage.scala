package graft.operators

import scala.collection.mutable

import org.apache.spark.sql.{Column, DataFrame, Observation}
import org.apache.spark.sql.functions.{count, lit}
import org.apache.spark.sql.graftbridge.Bridge
import org.apache.spark.storage.StorageLevel

/** The one materialization lifecycle for operators: a scope that owns
  * every checkpoint and pin an operator makes.
  *
  * {{{
  *   def op(...): DataFrame = Stage("Graph.kCore") { st =>
  *     val edges = st.checkpoint(..., "edges")
  *     val (keep, n) = st.counted(..., "round1")
  *     ...
  *   }
  * }}}
  *
  *   - [[checkpoint]] materializes a frame by eager `localCheckpoint`,
  *     run as the Spark job `<stage>/<label>`, so a job list, an event log
  *     or a listener names the operator step that ran it.
  *   - [[observed]] / [[counted]] also read aggregates (a row count, a
  *     liveness count, a normalizer) from the SAME action through an
  *     `observe` metric — no second job, no driver collect.
  *   - [[pin]] persists a frame every round reads (memory, spilling to
  *     disk) without cutting its lineage.
  *   - [[release]] drops a checkpoint as soon as a newer one supersedes it,
  *     so a loop holds O(1) checkpoints, not one per round.
  *
  * When the scope exits, normally or by an exception, it unpersists every
  * pin and drops every checkpoint it made, except the checkpoints the
  * returned frame's plan scans, so a lazy result never loses its input
  * and nothing else waits for the ContextCleaner. Dropping
  * a checkpoint explicitly matters: a superseded local checkpoint otherwise
  * stays in block storage until GC runs the cleaner, and storage pressure
  * late in a long session then depends on GC timing.
  *
  * Loops over a one-frame state use [[Fixpoint.iterate]] on top of this;
  * loops whose state is several frames use a Stage directly.
  */
final class Stage private (name: String) {
  private val checkpoints = mutable.ArrayBuffer.empty[DataFrame]
  private val pins = mutable.ArrayBuffer.empty[DataFrame]

  /** Eager local checkpoint of `df`, run as the job `name/label`. */
  def checkpoint(df: DataFrame, label: String): DataFrame =
    materialize(df, label, Nil, identity)._1

  /** [[checkpoint]] that also returns `aggs` over the checkpointed rows,
    * observed on the same action, keyed by their aliases. */
  def observed(df: DataFrame, label: String)(
      aggs: Column*): (DataFrame, Map[String, Any]) =
    materialize(df, label, aggs, identity)

  /** [[checkpoint]] that also returns the row count. */
  def counted(df: DataFrame, label: String): (DataFrame, Long) = {
    val (chk, m) = observed(df, label)(count(lit(1)).as("_rows"))
    (chk, m("_rows").asInstanceOf[Long])
  }

  /** Persist `df` (memory, spilling to disk) until the scope exits. */
  def pin(df: DataFrame): DataFrame = {
    val p = df.persist(StorageLevel.MEMORY_AND_DISK)
    pins += p
    p
  }

  /** Drop a checkpoint this scope made, now that nothing reads it lazily
    * (frames derived from it were checkpointed themselves). A no-op on
    * any other frame, so callers can release a loop's state unconditionally
    * even when round 0's state is lazy or owned by a caller. */
  def release(df: DataFrame): Unit = {
    val i = checkpoints.indexWhere(_ eq df)
    if (i >= 0) Bridge.dropCheckpoint(checkpoints.remove(i))
  }

  /** Checkpoint `shape(df observed by aggs)` as the job `name/label`:
    * `shape` runs above the observation, so the aggregates may read
    * columns the checkpointed frame drops ([[Fixpoint.iterate]]). */
  private[operators] def materialize(df: DataFrame, label: String,
      aggs: Seq[Column], shape: DataFrame => DataFrame)
      : (DataFrame, Map[String, Any]) = {
    val obs = if (aggs.isEmpty) None else Some(Observation())
    val plan = shape(obs.fold(df)(o => df.observe(o, aggs.head, aggs.tail: _*)))
    val sc = df.sparkSession.sparkContext
    val prevDesc = sc.getLocalProperty(Stage.JobDescription)
    sc.setJobDescription(s"$name/$label")
    val chk =
      try plan.localCheckpoint(true)
      finally sc.setLocalProperty(Stage.JobDescription, prevDesc)
    checkpoints += chk
    (chk, obs.fold(Map.empty[String, Any])(_.get))
  }

  /** Release everything but the checkpoints `result` reads (all of them
    * when the body threw: `result` is null). */
  private def close(result: DataFrame): Unit = {
    val read = Option(result).fold(Set.empty[Int])(Bridge.checkpointRddIds)
    checkpoints.filterNot(c => Bridge.checkpointRddIds(c).subsetOf(read))
      .foreach(Bridge.dropCheckpoint)
    pins.foreach(_.unpersist(blocking = false))
  }
}

object Stage {
  private val JobDescription = "spark.job.description"

  /** Run `body` in a new scope named `name` (by convention
    * `Object.operator`); see [[Stage]] for what exit releases. */
  def apply(name: String)(body: Stage => DataFrame): DataFrame = {
    val st = new Stage(name)
    var result: DataFrame = null
    try {
      result = body(st)
      result
    } finally st.close(result)
  }
}
