package graft.operators

import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.graftbridge.ListenerBus
import org.apache.spark.sql.util.QueryExecutionListener
import org.scalatest.funsuite.AnyFunSuite
import graft.TestSpark

/** A merge into or a removal from a count artifact reads its stored
  * generation once. A removal's subset guard rides the checkpoint of the
  * subtracted table; a merge is one full outer join, checkpointed. Either
  * way the write (and its range sample) reads the checkpoint instead of
  * the stored table again. */
class RemovalReadSpec extends AnyFunSuite with AdaptiveSparkPlanHelper {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def tmp(t: String) =
    java.nio.file.Files.createTempDirectory(t).toString

  /** Rows output by scans of the parquet table at `table` in every query
    * `body` runs (checkpoints, guards and writes alike), counted after the
    * listener bus has delivered every event. */
  private def rowsScanned(table: String)(body: => Unit): Long = {
    val rows = new AtomicLong(0)
    val listener = new QueryExecutionListener {
      override def onSuccess(f: String, qe: QueryExecution,
          ns: Long): Unit =
        collectWithSubqueries(qe.executedPlan) {
          case s: FileSourceScanExec if s.relation.location.rootPaths
              .exists(_.toString.endsWith(table)) =>
            s.metrics("numOutputRows").value
        }.foreach(rows.addAndGet)
      override def onFailure(f: String, qe: QueryExecution,
          e: Exception): Unit = ()
    }
    // events of earlier queries must not reach the listener
    ListenerBus.drain(spark.sparkContext)
    spark.listenerManager.register(listener)
    try body
    finally {
      ListenerBus.drain(spark.sparkContext)
      spark.listenerManager.unregister(listener)
    }
    rows.get
  }

  /** `mutate` scans the stored table at `table` exactly once. */
  private def readsOnce(table: String)(mutate: => Unit): Unit = {
    val stored = spark.read.parquet(table).count()
    assert(stored > 0)
    assert(rowsScanned(table)(mutate) === stored,
      s"rows read from $table during the mutation (stored: $stored)")
  }

  test("a removal reads the stored generation once: line index, " +
      "trigram LM, stats index") {
    val docs = Seq((1L, "alpha beta gamma delta\nshared line"),
      (2L, "beta gamma delta epsilon\nshared line"),
      (3L, "gamma delta epsilon zeta\nother line")).toDF("doc_id", "text")
    val gone = docs.filter($"doc_id" === 3L)

    val line = tmp("read_once_line")
    LineIndex.build(docs, "doc_id", "text", line)
    withClue("LineIndex.removeBatch: ") {
      readsOnce(LineIndex.tablePath(line)) {
        LineIndex.removeBatch(spark, gone, "doc_id", "text", line)
      }
    }

    val lm = tmp("read_once_lm")
    LmIndex.buildTrigram(docs, "doc_id", "text", lm)
    withClue("LmIndex.removeTrigramBatch: ") {
      readsOnce(LmIndex.trigramPath(lm)) {
        LmIndex.removeTrigramBatch(spark, gone, "doc_id", "text", lm)
      }
    }

    val stats = tmp("read_once_stats")
    StatsIndex.build(Seq("a", "a", "b", "c").toDF("k"), "k", stats, 4, 16)
    withClue("StatsIndex.removeBatch: ") {
      readsOnce(StatsIndex.tablePath(stats)) {
        StatsIndex.removeBatch(spark, Seq("c").toDF("k"), "k", stats, 4, 16)
      }
    }
  }

  test("a merge reads the stored generation once: line index, bigram " +
      "and trigram LM, stats index") {
    val docs = Seq((1L, "alpha beta gamma delta\nshared line"),
      (2L, "beta gamma delta epsilon\nshared line")).toDF("doc_id", "text")
    val batch = Seq((3L, "gamma delta epsilon zeta\nshared line"))
      .toDF("doc_id", "text")

    val line = tmp("merge_once_line")
    LineIndex.build(docs, "doc_id", "text", line)
    withClue("LineIndex.mergeBatch: ") {
      readsOnce(LineIndex.tablePath(line)) {
        LineIndex.mergeBatch(spark, batch, "doc_id", "text", line)
      }
    }
    assert(LineIndex.storedFreq(spark, line)
      .filter($"_nd" === 3L).count() === 1, "the shared line's count")

    val lm = tmp("merge_once_lm")
    LmIndex.build(docs, "doc_id", "text", lm)
    withClue("LmIndex.mergeBatch: ") {
      readsOnce(LmIndex.modelPath(lm)) {
        LmIndex.mergeBatch(spark, batch, "doc_id", "text", lm)
      }
    }

    val lm3 = tmp("merge_once_lm3")
    LmIndex.buildTrigram(docs, "doc_id", "text", lm3)
    withClue("LmIndex.mergeTrigramBatch: ") {
      readsOnce(LmIndex.trigramPath(lm3)) {
        LmIndex.mergeTrigramBatch(spark, batch, "doc_id", "text", lm3)
      }
    }

    val stats = tmp("merge_once_stats")
    StatsIndex.build(Seq("a", "a", "b").toDF("k"), "k", stats, 4, 16)
    withClue("StatsIndex.mergeBatch: ") {
      readsOnce(StatsIndex.tablePath(stats)) {
        StatsIndex.mergeBatch(spark, Seq("c", "a").toDF("k"), "k", stats,
          4, 16)
      }
    }
    assert(StatsIndex.storedRowCount(spark, stats).head().getLong(0) === 5L)
  }
}
