package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.graftbridge.Bridge

/** Builds every foreachBatch hookup: each epoch runs on the session that
  * wired the hookup (its owner), not on the clone Structured Streaming
  * starts each query on.
  *
  * Each query start clones the session, and the clone gets a fresh
  * artifact UUID. Executors key their class loader by that UUID, and the
  * generated-code cache is keyed by the class loader. So an epoch that
  * runs on the clone compiles every generated class again after each
  * restart, byte-identical source included: every `AvailableNow` drain
  * of a file drop pays the full compile. Re-rooted onto the owner, the
  * epoch's jobs carry the owner's stable UUID and reuse the classes an
  * earlier query compiled.
  *
  * The owner is the session the hookup is given, or else the active (or
  * default) session when it is built. A frame that already belongs to
  * the owner passes through unchanged, so a direct call sees the plan it
  * was given (ARCHITECTURE.md, "Streaming hookups"). */
object Hookup {

  /** `epoch` run on `owner` for each micro-batch. */
  def apply(owner: SparkSession)(
      epoch: (DataFrame, Long) => Unit): (DataFrame, Long) => Unit =
    (batch, batchId) => epoch(Bridge.reroot(owner, batch), batchId)

  /** `epoch` run on the session active (else the default one) when the
    * hookup is built; on the epoch's own session when there is none. */
  def onActive(epoch: (DataFrame, Long) => Unit): (DataFrame, Long) => Unit =
    SparkSession.getActiveSession.orElse(SparkSession.getDefaultSession)
      .fold(epoch)(apply(_)(epoch))
}
