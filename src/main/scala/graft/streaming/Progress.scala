package graft.streaming

import java.util.concurrent.ConcurrentLinkedQueue
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.streaming.StreamingQueryListener._

/** A4 — progress / ETA (utils.py:41-43): remaining ≈ elapsed × (n/i − 1),
  * plus a StreamingQueryListener exposing per-batch throughput — the
  * streaming analogue of the reference's interactive progress line.
  */
object Progress {

  /** The reference's ETA extrapolation (utils.py:41-43). */
  def etaSeconds(elapsedSec: Double, position: Long, total: Long): Double = {
    require(position > 0, "position must be positive")
    elapsedSec * (total.toDouble / position - 1.0)
  }

  /** Per-batch progress record captured by [[Listener]]. `durationMs`
    * holds the batch's time by phase as Spark reports it (`addBatch`,
    * `queryPlanning`, `walCommit`, `latestOffset`, `commitOffsets`,
    * `getBatch`, `triggerExecution`); a phase the batch did not run is
    * absent. */
  final case class BatchProgress(batchId: Long, numInputRows: Long,
      inputRowsPerSecond: Double, durationMs: Map[String, Long])

  /** Collects micro-batch progress; attach via
    * spark.streams.addListener(new Progress.Listener). */
  final class Listener extends StreamingQueryListener {
    val batches = new ConcurrentLinkedQueue[BatchProgress]()
    override def onQueryStarted(e: QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: QueryProgressEvent): Unit =
      batches.add(BatchProgress(e.progress.batchId,
        e.progress.numInputRows, e.progress.inputRowsPerSecond,
        e.progress.durationMs.asScala.map { case (k, v) => k -> v.longValue }
          .toMap))
  }
}
