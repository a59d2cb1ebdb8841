package graft.operators

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.TestSpark

/** Stored-ANALYZE lifecycle laws: serve ≡ in-query sketch, merge ≡
  * rebuild, forget ≡ rebuild-on-remaining (with the subset guard and
  * replay no-op), geometry drift refused, and join sizing from two
  * stored artifacts ≡ the in-query estimator. */
class StatsIndexSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def tmp(t: String) =
    java.nio.file.Files.createTempDirectory(t).toString

  private def keysDf(rows: Seq[String]) = rows.toDF("k")

  private def cellsOf(dir: String) =
    StatsIndex.storedCells(spark, dir)
      .collect().map(r => (r.getInt(0), r.getLong(1)) -> r.getLong(2))
      .toMap

  test("build + servedFreq equals the in-query sketch estimate") {
    val dir = tmp("stats_build")
    val data = keysDf(Seq("a", "a", "a", "b", "b", "c"))
    StatsIndex.build(data, "k", dir, 4, 16)
    val probes = Seq("a", "b", "c", "never").toDF("k")
    val served = StatsIndex.servedFreq(spark, probes, "k", dir, 4, 16)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val inQuery = Analytics.cmsEstimate(
        Analytics.cmsSketch(data, "k", 4, 16), probes, "k", 4, 16)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(served === inQuery)
    assert(served("never") === 0L)
    assert(StatsIndex.storedRowCount(spark, dir)
      .collect()(0).getLong(0) === 6L)
  }

  test("mergeBatch equals rebuild on the union, cell for cell") {
    val dirM = tmp("stats_merge"); val dirR = tmp("stats_rebuild")
    val first = keysDf(Seq("a", "a", "b"))
    val second = keysDf(Seq("b", "c", "c", "d"))
    StatsIndex.build(first, "k", dirM, 4, 16)
    StatsIndex.mergeBatch(spark, second, "k", dirM, 4, 16)
    StatsIndex.build(first.unionByName(second), "k", dirR, 4, 16)
    assert(cellsOf(dirM) === cellsOf(dirR))
    assert(StatsIndex.storedRowCount(spark, dirM)
      .collect()(0).getLong(0) === 7L)
  }

  test("removeBatch equals rebuild on the remaining; subset guarded; replay no-ops") {
    val dir = tmp("stats_forget"); val dirR = tmp("stats_forget_r")
    val keep = keysDf(Seq("a", "a", "b"))
    val gone = keysDf(Seq("c", "c", "d"))
    StatsIndex.build(keep.unionByName(gone), "k", dir, 4, 16)
    StatsIndex.removeBatch(spark, gone, "k", dir, 4, 16, epoch = 1L,
      fenceTag = "rtbf")
    StatsIndex.build(keep, "k", dirR, 4, 16)
    assert(cellsOf(dir) === cellsOf(dirR))
    // replayed delivery: same epoch is a no-op, counts stay intact
    val before = cellsOf(dir)
    StatsIndex.removeBatch(spark, gone, "k", dir, 4, 16, epoch = 1L,
      fenceTag = "rtbf")
    assert(cellsOf(dir) === before)
    // non-subset batch fails loudly, store untouched, nothing left
    // persisted
    val left = graft.TestSpark.rddDelta {
      val e = intercept[IllegalArgumentException] {
        StatsIndex.removeBatch(spark, keysDf(Seq("zz", "zz")), "k", dir,
          4, 16, epoch = 2L, fenceTag = "rtbf")
      }
      assert(e.getMessage.contains("not a subset"))
    }
    assert(left == 0, s"the refused removal left $left persisted RDDs")
    assert(cellsOf(dir) === before)
  }

  test("geometry drift is refused before any write") {
    val dir = tmp("stats_geom")
    StatsIndex.build(keysDf(Seq("a")), "k", dir, 4, 16)
    val e = intercept[IllegalArgumentException] {
      StatsIndex.mergeBatch(spark, keysDf(Seq("b")), "k", dir, 4, 32)
    }
    assert(e.getMessage.contains("geometry"))
    val e2 = intercept[IllegalArgumentException] {
      StatsIndex.servedFreq(spark, keysDf(Seq("a")), "k", dir, 8, 16)
    }
    assert(e2.getMessage.contains("geometry"))
  }

  test("servedJoinSize from two stored artifacts equals the in-query estimator") {
    val dirL = tmp("stats_jl"); val dirR = tmp("stats_jr")
    val left = keysDf(Seq("a", "a", "a", "b"))
    val right = keysDf(Seq("a", "b", "b", "c"))
    StatsIndex.build(left, "k", dirL, 4, 16)
    StatsIndex.build(right, "k", dirR, 4, 16)
    val served = StatsIndex.servedJoinSize(spark, dirL, dirR, 4, 16)
      .collect()(0)
    val inQuery = Analytics.cmsJoinSizeAudit(left, "k", right, "k",
      4, 16).collect()(0)
    assert(served.getAs[Long]("est_rows") ===
      inQuery.getAs[Long]("est_rows"))
    assert(served.getAs[Long]("n_left") === 4L)
    assert(served.getAs[Long]("n_right") === 4L)
    // and the estimate still never undercounts the exact size (5)
    assert(served.getAs[Long]("est_rows") >= 5L)
  }

  test("the CBO loop closed: on a skewed chain the naive NDV estimate " +
      "picks the WRONG join order, the sketch advisor picks the exact " +
      "one, and the stored serve equals the in-query pricing") {
    // bridge: lk is skewed (key 1 held by 100 of 200 rows, keys 2..101
    // once each — NDV 101 looks harmless), rk uniform 1..200
    val bridge = (0 until 200).map { i =>
      (if (i < 100) 1L else (i - 98).toLong, (i + 1).toLong)
    }.toDF("lk", "rk")
    // left: 50 rows ALL on the bridge's hot key — tiny table, huge join
    val left = Seq.fill(50)(1L).toDF("lkey")
    // right: 150 uniform keys — bigger table, small join
    val right = (1 to 150).map(_.toLong).toDF("rkey")

    // the naive System R pricing (|L|·|R| div max ndv) prefers
    // left-first: skew is exactly what the uniformity assumption
    // cannot see
    def naive(bk: String, side: org.apache.spark.sql.DataFrame,
        sk: String) =
      Analytics.joinCardinalityAudit(bridge, bk, side, sk)
        .collect()(0)
    val nl = naive("lk", left, "lkey")
    val nr = naive("rk", right, "rkey")
    assert(nl.getAs[Long]("est_rows") < nr.getAs[Long]("est_rows"),
      "fixture must make the naive NDV estimate prefer left_first")
    assert(nl.getAs[Long]("actual_rows") === 5000L)
    assert(nr.getAs[Long]("actual_rows") === 150L,
      "…while the exact intermediates prefer right_first")

    // the sketch advisor sees the skew (the hot key's mass lands in one
    // cell, so the inner product carries it) and picks right_first,
    // agreeing with the exact advisor on both rows
    val audit = Analytics.joinOrderSketchAudit(bridge, "lk", "rk",
        left, "lkey", right, "rkey", 4, 64)
      .collect().map(r => r.getAs[String]("plan_name") -> r).toMap
    assert(audit("right_first").getAs[Boolean]("sketch_recommended"))
    assert(!audit("left_first").getAs[Boolean]("sketch_recommended"))
    assert(audit("right_first").getAs[Boolean]("exact_recommended"))
    assert(audit.values.forall(_.getAs[Boolean]("agree")))
    assert(audit("left_first").getAs[Long]("est_first_join_rows")
      >= 5000L, "CMS never undercounts the hot edge")

    // serve tier: the same decision from four STORED artifacts equals
    // the in-query pricing estimate-for-estimate
    def art(tag: String, df: org.apache.spark.sql.DataFrame,
        key: String): String = {
      val dir = tmp(tag)
      StatsIndex.build(df, key, dir, 4, 64)
      dir
    }
    val served = StatsIndex.joinOrderFromSketches(spark,
        art("sjo_bl", bridge, "lk"), art("sjo_lf", left, "lkey"),
        art("sjo_br", bridge, "rk"), art("sjo_rt", right, "rkey"),
        4, 64)
      .collect().map(r => r.getAs[String]("plan_name") -> r).toMap
    for (p <- Seq("left_first", "right_first"))
      assert(served(p).getAs[Long]("est_first_join_rows") ===
        audit(p).getAs[Long]("est_first_join_rows"),
        s"stored serve must equal in-query pricing for $p")
    assert(served("right_first").getAs[Boolean]("recommended"))
    assert(!served("left_first").getAs[Boolean]("recommended"))
  }

  test("broadcastAdvisedJoin: the stored row counts decide the hint in " +
      "both directions, with Spark's own auto-broadcast disabled") {
    val big = (1L to 5000L).map(i => (i, i % 40)).toDF("id", "k")
    val small = (0L until 40L).map(i => (i, s"g$i")).toDF("k2", "name")
    val dirBig = tmp("baj_big"); val dirSmall = tmp("baj_small")
    StatsIndex.build(big, "k", dirBig, 4, 64)
    StatsIndex.build(small, "k2", dirSmall, 4, 64)
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      // small side under budget -> broadcast hint on it
      val hinted = StatsIndex.broadcastAdvisedJoin(spark, big, small,
        Seq(("k", "k2")), dirBig, dirSmall, broadcastMaxRows = 100L)
      assert(hinted.count() === 5000L)
      val p1 = hinted.queryExecution.executedPlan.toString
      assert(p1.contains("BroadcastHashJoin"),
        s"stored count 40 <= 100 must produce a broadcast plan:\n$p1")
      // neither side under budget -> no hint, shuffle join
      val plain = StatsIndex.broadcastAdvisedJoin(spark, big, small,
        Seq(("k", "k2")), dirBig, dirSmall, broadcastMaxRows = 10L)
      assert(plain.count() === 5000L)
      val p2 = plain.queryExecution.executedPlan.toString
      assert(!p2.contains("BroadcastHashJoin"),
        s"no stored count fits 10 rows - must fall to shuffle:\n$p2")
      // results identical either way (the hint is physical only)
      val a = hinted.select("id", "name").collect().map(_.toString).sorted
      val b = plain.select("id", "name").collect().map(_.toString).sorted
      assert(a.toSeq === b.toSeq)
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }
}
