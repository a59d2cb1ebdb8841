package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.operators.AggView

/** Incremental aggregate matview: build∘merge ≡ rebuild on the net
  * multiset (the Σ-delta law), retraction-to-zero groups vanish,
  * malformed CDC ops raise, generations advance atomically.
  */
class AggViewSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  private def freshDir(): String = {
    val d = java.nio.file.Files.createTempDirectory("aggview_spec").toString
    new java.io.File(d).delete(); d
  }

  test("build -> mergeCdc(I/D) equals a from-scratch build on the net rows") {
    import spark.implicits._
    val base = Seq(("a", 100L), ("a", 200L), ("b", 50L), ("c", 7L))
      .toDF("k", "v")
    val delta = Seq(
      ("a", 300L, "I"),          // new insert
      ("b", 50L, "D"),           // retract b's only row → group vanishes
      ("c", 9L, "I"), ("c", 7L, "D")) // churn on c
      .toDF("k", "v", "op")
    val dir = freshDir()
    AggView.build(base, Seq("k"), col("v"), dir)
    assert(AggView.currentGen(dir) === 0L)
    AggView.mergeCdc(spark, delta, Seq("k"), col("v"), "op", dir)
    assert(AggView.currentGen(dir) === 1L)
    val got = AggView.serve(spark, dir)
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2)))
      .toMap
    // net: a = {100,200,300}, b = {}, c = {9}
    assert(got === Map("a" -> ((3L, 600L)), "c" -> ((1L, 9L))))
  }

  test("mergeCdc raises on a NULL or unknown op instead of dropping rows") {
    import spark.implicits._
    val dir = freshDir()
    AggView.build(Seq(("a", 1L)).toDF("k", "v"), Seq("k"), col("v"), dir)
    for (bad <- Seq(Some("U"), None)) {
      val delta = Seq(("a", 2L, bad.orNull)).toDF("k", "v", "op")
      val e = intercept[Exception] {
        AggView.mergeCdc(spark, delta, Seq("k"), col("v"), "op", dir)
      }
      def msgs(t: Throwable): Seq[String] =
        if (t == null) Nil else Option(t.getMessage).toSeq ++ msgs(t.getCause)
      assert(msgs(e).exists(_.contains("bad CDC op")), s"op=$bad: $e")
    }
    // failed merges must not have advanced the generation
    assert(AggView.currentGen(dir) === 0L)
  }

  test("merges chain: each epoch folds into the previous generation") {
    import spark.implicits._
    val dir = freshDir()
    def served(): Map[String, (Long, Long)] =
      AggView.serve(spark, dir).collect()
        .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    AggView.build(Seq(("x", 10L)).toDF("k", "v"), Seq("k"), col("v"), dir)
    assert(served() === Map("x" -> ((1L, 10L))))
    AggView.mergeCdc(spark, Seq(("x", 5L, "I")).toDF("k", "v", "op"),
      Seq("k"), col("v"), "op", dir)
    assert(served() === Map("x" -> ((2L, 15L))))
    AggView.mergeCdc(spark, Seq(("x", 10L, "D"), ("y", 1L, "I"))
      .toDF("k", "v", "op"), Seq("k"), col("v"), "op", dir)
    assert(AggView.currentGen(dir) === 2L)
    assert(served() === Map("x" -> ((1L, 5L)), "y" -> ((1L, 1L))))
  }

  test("joinDelta: stored view ∪ delta equals a full re-join, duplicate" +
      " multiplicities preserved") {
    import spark.implicits._
    // duplicate keys on both sides so multiset multiplicities matter,
    // and deltas that hit old keys, each other, and brand-new keys
    val rOld = Seq((1L, "a"), (2L, "b"), (2L, "b2")).toDF("k", "rv")
    val rDel = Seq((2L, "b3"), (3L, "c")).toDF("k", "rv")
    val sOld = Seq((1L, 10L), (2L, 20L), (2L, 21L)).toDF("k", "sv")
    val sDel = Seq((2L, 22L), (3L, 30L), (4L, 40L)).toDF("k", "sv")
    def rows(df: org.apache.spark.sql.DataFrame): Seq[(Long, String, Long)] =
      df.collect().toSeq
        .map(r => (r.getLong(0), r.getString(1), r.getLong(2))).sorted
    val maintained = rows(rOld.join(sOld, Seq("k")).unionByName(
      AggView.joinDelta(rOld, rDel, sOld, sDel, Seq("k"))))
    val full = rows(rOld.unionByName(rDel)
      .join(sOld.unionByName(sDel), Seq("k")))
    assert(maintained === full)
    // sanity: all three delta terms are non-empty on this fixture
    assert(maintained.size === full.size)
    assert(full.count(_._1 == 2L) === 9,
      "3 r-rows x 3 s-rows on the shared key")
  }
}
