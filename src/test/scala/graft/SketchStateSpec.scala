package graft

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.Importance
import graft.streaming.SketchState

/** Every stored sketch reads back under its declared schema exactly as it
  * was written: one epoch is written, then the `read*State` frame must
  * equal the file's own (inferred) schema and rows. A fold whose
  * `unionByName` widened a type (an int column written as bigint) fails
  * here instead of at the next micro-batch's read. */
class SketchStateSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def roundTrip(name: String, batch: DataFrame,
      hook: String => (DataFrame, Long) => Unit,
      read: String => DataFrame): Unit = {
    val dir = Files.createTempDirectory(s"sketch_$name").toString
    assert(read(dir).isEmpty, s"$name: state before the first epoch")
    hook(dir)(batch, 0L)
    val written = spark.read.parquet(s"$dir/v0")
    val declared = read(dir)
    assert(declared.schema === written.schema,
      s"$name: declared schema differs from the written one")
    def rows(df: DataFrame) = df.collect().map(_.toSeq).sortBy(_.toString)
      .toSeq
    assert(rows(declared) === rows(written), name)
    assert(rows(declared).nonEmpty, s"$name: the epoch wrote no rows")
  }

  test("every sketch state reads back under its declared schema") {
    val tokens = Seq("a", "b", "a", "c", "a", "b").toDF("tok")
    roundTrip("heavy_hitters", tokens,
      SketchState.foreachBatchHeavyHitters(spark, _, "tok", 2),
      SketchState.readState(spark, _))
    val hashed = Seq((11L, 5L), (-3L, 7L), (42L, 1L)).toDF("h", "v")
    roundTrip("kmv", hashed, SketchState.foreachBatchKmv(spark, _, "h", 2),
      SketchState.readKmvState(spark, _))
    roundTrip("kmv_sample", hashed,
      SketchState.foreachBatchKmvSample(spark, _, "h", "v", 2),
      SketchState.readKmvSampleState(spark, _))
    roundTrip("calibration",
      Seq((900000L, 1), (150000L, 0), (850000L, 0)).toDF("conf", "y"),
      SketchState.foreachBatchCalibration(spark, _, "conf", "y", 4),
      SketchState.readCalibrationState(spark, _))
    roundTrip("drift",
      Seq(("ref", 1.5), ("live", 2.5), ("ref", 7.0)).toDF("side", "x"),
      SketchState.foreachBatchDrift(spark, _, "side", "x", 2.0),
      SketchState.readDriftState(spark, _))
    roundTrip("duels", Seq(("p", "q"), ("q", "r"), ("p", "q")).toDF("w", "l"),
      SketchState.foreachBatchDuels(spark, _, "w", "l"),
      SketchState.readDuelsState(spark, _))

    val modelDir = Files.createTempDirectory("sketch_model").toString
    val corpus = Seq((1L, "the cat sat", "en"), (2L, "der hund lief", "de"))
      .toDF("doc_id", "text", "lang")
    Importance.buildModelIfAbsent(
      Importance.docBuckets(corpus, "doc_id", "text", 16,
        carryCols = Seq("lang")),
      $"lang" === "en", 16, modelDir, "sketch-spec")
    roundTrip("importance",
      Seq((10L, "the cat ran"), (11L, "der hund")).toDF("doc_id", "text"),
      SketchState.foreachBatchImportance(spark, _, modelDir, "doc_id",
        "text", 16, thresholdPpm = 1000000L),
      SketchState.readImportanceState(spark, _))
  }
}
