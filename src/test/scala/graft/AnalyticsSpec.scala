package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.operators.Analytics

/** Corpus-ops analytics: profiling stats against hand counts, the
  * distributed skyline against an in-test brute-force dominance filter,
  * and the CMS guarantee (est ≥ true) plus its cell-sum merge law.
  */
class AnalyticsSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  // ---- columnProfile ----

  test("columnProfile: exact stats over a fixture with nulls") {
    import spark.implicits._
    val df = Seq(
      (Some(1L), Some("aa")), (Some(2L), None),
      (Some(2L), Some("bbbb")), (None, Some("aa"))
    ).toDF("id", "s")
    val got = Analytics.columnProfile(df, Seq("id", "s"))
      .collect().map(r => r.getString(0) -> r).toMap
    val id = got("id")
    assert(id.getLong(1) === 4L)           // n_rows
    assert(id.getLong(2) === 3L)           // n_nonnull
    assert(id.getLong(3) === 2L)           // n_distinct
    assert(id.getString(4) === "1" && id.getString(5) === "2")
    assert(id.getLong(6) === 3L)           // "1","2","2"
    val s = got("s")
    assert(s.getLong(2) === 3L && s.getLong(3) === 2L)
    assert(s.getString(4) === "aa" && s.getString(5) === "bbbb")
    assert(s.getLong(6) === 8L)            // 2+4+2
  }

  test("columnProfile: approx mode still counts rows/nulls exactly") {
    import spark.implicits._
    val df = (1 to 100).map(i => (i.toLong, s"v${i % 7}")).toDF("id", "s")
    val got = Analytics.columnProfile(df, Seq("id", "s"), exact = false)
      .collect().map(r => r.getString(0) -> r).toMap
    assert(got("id").getLong(1) === 100L && got("id").getLong(2) === 100L)
    // HLL cardinality is approximate but must be sane at this scale
    assert(math.abs(got("s").getLong(3) - 7L) <= 1L)
  }

  // ---- skyline2D ----

  private def bruteSkyline(pts: Seq[(Long, Long)]): Set[(Long, Long)] = {
    // per-x max-y vertices not dominated (>= both dims, > in one)
    val g = pts.groupBy(_._1).map { case (x, v) => (x, v.map(_._2).max) }.toSeq
    g.filter { case (x, y) =>
      !g.exists { case (qx, qy) =>
        qx >= x && qy >= y && (qx > x || qy > y)
      }
    }.toSet
  }

  test("scd2Apply == scd2Build from scratch: absorption (same attr " +
      "across the cutoff), close-on-change, delta-only keys, " +
      "no-delta keys untouched") {
    import spark.implicits._
    def ts(day: Int) = java.sql.Timestamp.valueOf(f"2024-01-$day%02d 00:00:00")
    // u1: open row's attr continues across the cutoff (absorption),
    //     then changes (close + new island)
    // u2: no delta rows at all (open row must pass through unchanged)
    // u3: appears only in the delta (all-new islands)
    val hist = Seq((1L, "a", ts(1), 10L), (1L, "b", ts(3), 11L),
      (2L, "x", ts(2), 12L), (2L, "y", ts(4), 13L))
    val delta = Seq((1L, "b", ts(8), 20L), (1L, "c", ts(9), 21L),
      (3L, "z", ts(8), 22L), (3L, "z", ts(9), 23L))
    val cols = Seq("user_id", "event_type", "ts", "event_id")
    val histDf = hist.toDF(cols: _*)
    val deltaDf = delta.toDF(cols: _*)
    val stored = Analytics.scd2Build(histDf, "user_id", "event_type",
      "ts", $"event_id")
    val applied = Analytics.scd2Apply(stored, deltaDf, "user_id",
      "event_type", "ts", "event_id")
    val scratch = Analytics.scd2Build(histDf.unionByName(deltaDf),
      "user_id", "event_type", "ts", $"event_id")
    val key = Seq("user_id", "event_type", "valid_from", "valid_to",
      "n_events")
    assert(applied.orderBy(key.map(col): _*).collect().toSeq ===
      scratch.orderBy(key.map(col): _*).collect().toSeq)
    // absorption check: u1's "b" island spans the cutoff with 2 events
    val u1b = applied.filter($"user_id" === 1 && $"event_type" === "b")
      .collect()
    assert(u1b.length === 1 && u1b(0).getAs[Long]("n_events") === 2L)
  }

  test("skyline2D equals brute-force dominance on an adversarial fixture") {
    import spark.implicits._
    // duplicates, x-ties with different y, equal-y chains, and points
    // straddling the bucketWidth=4 boundaries
    val pts = Seq[(Long, Long)](
      (1, 9), (1, 9), (1, 2), (2, 9), (3, 8), (4, 8), (5, 7), (5, 9),
      (7, 5), (8, 5), (9, 4), (12, 3), (13, 3), (16, 1), (17, 1), (20, 0))
    val got = Analytics.skyline2D(pts.toDF("x", "y"), "x", "y", 4L)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got === bruteSkyline(pts))
  }

  test("skyline2D: bucketWidth does not change the result") {
    import spark.implicits._
    val pts = (1 to 200).map(i =>
      ((i * 37 % 101).toLong, (i * 53 % 89).toLong))
    val expect = bruteSkyline(pts)
    for (w <- Seq(1L, 7L, 64L, 1000L)) {
      val got = Analytics.skyline2D(pts.toDF("x", "y"), "x", "y", w)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(got === expect, s"bucketWidth=$w")
    }
  }

  // ---- expectations ----

  test("expectations: every rule class reports its exact violation count, " +
      "green rules report zero rows explicitly") {
    import spark.implicits._
    import Analytics._
    val df = Seq(
      (Some(1L), 5.0, "A", 1L), (Some(1L), 5.0, "A", 1L), // dup key pair
      (Some(2L), -1.0, "N", 2L),                          // range violation
      (None, 3.0, "X", 3L),                               // null + bad set
      (Some(9L), 60.0, "R", 4L)                           // range + orphan fk
    ).toDF("k", "v", "flag", "ln")
    val dim = Seq(1L, 2L, 3L).toDF("k")
    val got = expectations(df, Seq(
        NotNull("k"), InRange("v", 0, 50), InSet("flag", Seq("A", "N", "R")),
        Unique(Seq("k", "ln")), RefIn("k", dim, "k")))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(got === Map(
      "not_null:k" -> 1L,
      "range:v" -> 2L,          // -1.0 and 60.0
      "in_set:flag" -> 1L,      // X
      "unique:k,ln" -> 1L,      // one surplus row in the (1,1) group
      "ref:k" -> 1L))           // 9 not in dim; NULL k excluded from FK
  }

  // ---- snapshotDiff ----

  test("snapshotDiff: added/removed/changed classified, unchanged dropped, " +
      "null-safe value compare") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val a = Seq(("k1", Some(1L)), ("k2", Some(2L)), ("k3", None),
      ("k4", Some(4L))).toDF("k", "v")
    val b = Seq(("k2", Some(2L)), ("k3", Some(3L)), ("k4", Some(40L)),
      ("k5", Some(5L))).toDF("k", "v")
    val got = Analytics.snapshotDiff(a, b, Seq("k"), Seq("v"))
      .collect().map(r => r.getString(0) -> r.getString(3)).toMap
    assert(got === Map(
      "k1" -> "removed",  // only in a
      "k3" -> "changed",  // NULL -> 3 (null-safe compare)
      "k4" -> "changed",  // 4 -> 40
      "k5" -> "added"))   // only in b; k2 unchanged -> dropped
  }

  // ---- Count-Min sketch ----

  test("cmsEstimate never under-counts, and is exact for isolated keys") {
    import spark.implicits._
    val keys = (Seq.fill(50)("hot") ++ (1 to 40).map(i => s"k$i"))
      .toDF("k")
    val truth = Seq(("hot", 50L)) ++ (1 to 40).map(i => (s"k$i", 1L))
    val sketch = Analytics.cmsSketch(keys, "k", depth = 4, width = 8)
    val probes = truth.toDF("k", "true_cnt")
    val est = Analytics.cmsEstimate(sketch, probes, "k", 4, 8)
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2)))
    est.foreach { case (k, (t, e)) =>
      assert(e >= t, s"CMS under-counted $k: est $e < true $t")
    }
    // total mass bound: est(k) <= true(k) + sum of all other counts
    val n = truth.map(_._2).sum
    est.foreach { case (k, (t, e)) =>
      assert(e <= n, s"est($k)=$e exceeds stream size $n")
    }
  }

  test("cmsSketch merges by summing cells (shard-and-union law)") {
    import spark.implicits._
    val a = (1 to 60).map(i => s"t${i % 9}").toDF("k")
    val b = (1 to 40).map(i => s"t${i % 5}").toDF("k")
    val whole = Analytics.cmsSketch(a.union(b), "k", 4, 8)
      .collect().map(r => (r.getInt(0), r.getLong(1)) -> r.getLong(2)).toMap
    val merged = Analytics.cmsSketch(a, "k", 4, 8)
      .union(Analytics.cmsSketch(b, "k", 4, 8))
      .groupBy(col("h"), col("cell")).agg(sum(col("cnt")).as("cnt"))
      .collect().map(r => (r.getInt(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(whole === merged)
  }

  // ---- kmvQuantiles ----

  test("kmvQuantiles: sub-k groups are EXACT lower-interpolation order " +
      "stats, invariant under partitioning") {
    import spark.implicits._
    // group a: values 10..100 step 10 (n=10); group b: a single value
    val df = ((1 to 10).map(i => ("a", i.toLong, i * 10L)) :+
      ("b", 99L, 7L)).toDF("g", "id", "v")
    for (p <- Seq(1, 5)) {
      val got = Analytics.kmvQuantiles(df.repartition(p), Seq("g"), "id",
          "v", k = 64, qsPct = Seq(0, 50, 90, 100))
        .collect().map(r => r.getString(0) -> r).toMap
      val a = got("a")
      assert(a.getLong(1) == 10L)     // n_sample = whole group
      assert(a.getLong(2) == 10L)     // q0  = min
      // lower interpolation: index (50*9) div 100 = 4 → 5th value = 50
      assert(a.getLong(3) == 50L)
      assert(a.getLong(4) == 90L)     // (90*9) div 100 = 8 → 9th = 90
      assert(a.getLong(5) == 100L)    // q100 = max
      val b = got("b")
      assert(b.getLong(1) == 1L && b.getLong(3) == 7L)
    }
  }

  test("kmvQuantiles: saturated group samples k rows and brackets the " +
      "true median") {
    import spark.implicits._
    val df = (1L to 5000L).map(i => ("g", i, i)).toDF("g", "id", "v")
    val r = Analytics.kmvQuantiles(df, Seq("g"), "id", "v",
      k = 128, qsPct = Seq(50)).collect().head
    assert(r.getLong(1) == 128L)
    // bottom-k hash sample ⇒ rank error O(1/sqrt(k)); allow 4 sigma
    val q50 = r.getLong(2)
    assert(math.abs(q50 - 2500.0) / 5000.0 < 4.0 / math.sqrt(128),
      s"sampled median $q50 too far from 2500")
  }

  // ---- survivorship ----

  test("survivorship: per-attribute latest non-null wins; all-null " +
      "column stays null; ties break by tieCol") {
    import spark.implicits._
    val df = Seq(
      // key k1: a observed at t1 and t3, b only at t2, c never
      ("k1", 1L, 10L, Some(1L), Option.empty[String], Option.empty[Long]),
      ("k1", 2L, 20L, None, Some("x"), None),
      ("k1", 3L, 30L, Some(3L), None, None),
      // key k2: two observations of a at the SAME ts — larger tie wins
      ("k2", 5L, 40L, Some(7L), Some("y"), Some(9L)),
      ("k2", 6L, 40L, Some(8L), None, None)
    ).toDF("k", "id", "ts", "a", "b", "c")
    val got = graft.operators.Analytics
      .survivorship(df, "k", "ts", "id", Seq("a", "b", "c"))
      .collect().map(r => r.getString(0) -> r).toMap
    val k1 = got("k1")
    assert(k1.getLong(1) == 3L)                  // n_records
    assert(k1.getLong(2) == 3L)                  // a: latest non-null (t3)
    assert(k1.getString(3) == "x")               // b: only obs survives
    assert(k1.isNullAt(4))                       // c: never observed
    val k2 = got("k2")
    assert(k2.getLong(2) == 8L)                  // same ts → id 6 wins
    assert(k2.getString(3) == "y" && k2.getLong(4) == 9L)
  }

  // ---- calibrationTable / gainsTable ----

  test("calibrationTable: perfectly separable scores show calibrated " +
      "extremes; Σ ece contributions is the exact ECE") {
    import spark.implicits._
    // scores 0..99, label = score >= 50: bottom buckets conf≈low/acc=0,
    // top buckets conf≈high/acc=1e6
    val df = (0L until 100L).map(i => (i, i, i >= 50L)).toDF("s", "t", "y")
    val got = graft.operators.Analytics
      .calibrationTable(df, "s", "t", "y", buckets = 4)
      .collect().map(r => r.getInt(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(4), r.getLong(6))).toMap
    assert(got.keySet == Set(0, 1, 2, 3))
    assert(got.values.forall(_._1 == 25L)) // equal-population bands
    assert(got(0)._3 == 0L && got(3)._3 == 1000000L) // acc extremes
    // ECE by hand: per band |mean(conf) − acc|·(25/100)
    val ece = got.values.map(_._4).sum
    assert(ece > 0L && ece < 1000000L)
  }

  test("gainsTable: top band captures its share of positives first; " +
      "final capture is 1e6 and final lift is exactly random (1e6)") {
    import spark.implicits._
    val df = (0L until 100L).map(i => (i, i, i >= 80L)).toDF("s", "t", "y")
    val got = graft.operators.Analytics
      .gainsTable(df, "s", "t", "y", buckets = 5)
      .collect().map(r => r.getInt(0) ->
        (r.getLong(1), r.getLong(3), r.getLong(4), r.getLong(5))).toMap
    // bucket 0 = the top 20 scores = ALL 20 positives
    assert(got(0) == ((20L, 20L, 1000000L, 5000000L))) // lift 5x
    assert(got(4)._3 == 1000000L) // full capture at the end
    assert(got(4)._4 == 1000000L) // whole-population lift = random
  }

  // ---- cohenKappa / chiSquare2x2 / poissonBootstrap ----

  test("cohenKappa: perfect agreement = 1e6; majority-guessing " +
      "agreement is chance-corrected toward zero") {
    import spark.implicits._
    val perfect = Seq(("x", "x"), ("y", "y"), ("x", "x")).toDF("a", "b")
    val p = graft.operators.Analytics.cohenKappa(perfect, "a", "b")
      .collect().head
    assert(p.getLong(2) == 1000000L && p.getLong(4) == 1000000L)
    // labeler B always says "x": agrees on the 3 x-rows (po=750000) but
    // pe = 750000 too -> kappa exactly 0
    val guess = Seq(("x", "x"), ("x", "x"), ("x", "x"), ("y", "x"))
      .toDF("a", "b")
    val g = graft.operators.Analytics.cohenKappa(guess, "a", "b")
      .collect().head
    assert(g.getLong(2) == 750000L && g.getLong(3) == 750000L)
    assert(g.getLong(4) == 0L, s"majority guessing must score 0: $g")
  }

  test("chiSquare2x2: exact statistic on hand tables; independence " +
      "scores 0, perfect association scores N") {
    import spark.implicits._
    def t(rows: Seq[(Boolean, Boolean)]) = graft.operators.Analytics
      .chiSquare2x2(rows.toDF("arm", "out"), "arm", "out")
      .collect().head
    val indep = t(Seq.fill(10)((false, false)) ++
      Seq.fill(10)((false, true)) ++ Seq.fill(10)((true, false)) ++
      Seq.fill(10)((true, true)))
    assert(indep.getLong(4) == 0L && !indep.getBoolean(5))
    val assoc = t(Seq.fill(20)((false, false)) ++
      Seq.fill(20)((true, true)))
    assert(assoc.getLong(4) == 40000000L) // chi2 = N = 40
    assert(assoc.getBoolean(5))
  }

  test("poissonBootstrap: deterministic across partitionings, resample " +
      "means bracket the true mean, multiplicity mass is sane") {
    import spark.implicits._
    val df = (1L to 400L).map(i => (i, 100L + (i % 21))).toDF("id", "x")
    def run(d: org.apache.spark.sql.DataFrame) = graft.operators.Analytics
      .poissonBootstrap(d, "id", "x", b = 16)
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getLong(3)))
      .sortBy(_._1)
    val got = run(df)
    assert(got.length == 16)
    assert(run(df.repartition(7)).toSeq == got.toSeq)
    // E[n_eff] = n; Poisson(1) keeps it within a wide band
    assert(got.forall { case (_, nEff, _) =>
      nEff > 300 && nEff < 500 })
    val trueMeanPpm = (1000000L * df.agg(sum($"x")).collect()
      .head.getLong(0)) / 400
    val means = got.map(_._3)
    assert(means.min < trueMeanPpm && trueMeanPpm < means.max,
      s"true mean $trueMeanPpm outside resample range " +
        s"[${means.min}, ${means.max}]")
  }

  // ---- kAnonymize ----

  test("kAnonymize: fine groups >= k publish as-is, failing rows " +
      "generalize, still-small coarse groups suppress; mass conserved") {
    import spark.implicits._
    // day D1: hour A has 5 rows (publishes), hours B+C have 2+2
    //         (generalize to D1 = 4 >= 3 -> coarse)
    // day D2: hour E has 1 row (generalizes to D2 = 1 < 3 -> suppressed)
    val rows = Seq.fill(5)(("t", "A", "D1")) ++
      Seq.fill(2)(("t", "B", "D1")) ++ Seq.fill(2)(("t", "C", "D1")) :+
      (("t", "E", "D2"))
    val got = graft.operators.Analytics
      .kAnonymize(rows.toDF("q", "h", "d"), Seq("q"), "h", "d", k = 3L)
      .collect().map(r => (r.getString(1), r.getString(2), r.getLong(3)))
      .toSet
    assert(got == Set(("A", "fine", 5L), ("D1", "coarse", 4L),
      ("D2", "suppressed", 1L)))
    // the guarantee: every non-suppressed emitted group has n >= k
    assert(got.filter(_._2 != "suppressed").forall(_._3 >= 3L))
    // mass conservation: nothing dropped silently
    assert(got.map(_._3).sum == rows.length)
  }

  // ---- quantileNormalize ----

  test("quantileNormalize: each group maps onto the global distribution; " +
      "a group already matching the global keeps its own values") {
    import spark.implicits._
    // group a: 4 values spanning the global; group b: 4 values in the
    // global's lower half -> b's max maps to a mid-range global value
    val df = Seq(("a", 10L, 1L), ("a", 20L, 2L), ("a", 30L, 3L),
      ("a", 40L, 4L), ("b", 11L, 5L), ("b", 12L, 6L), ("b", 13L, 7L),
      ("b", 14L, 8L)).toDF("g", "v", "id")
    val got = graft.operators.Analytics
      .quantileNormalize(df, "g", "v", "id")
      .collect().map(r => (r.getString(0), r.getLong(1)) -> r.getLong(3))
      .toMap
    // global sorted: 10,11,12,13,14,20,30,40 (N=8); group rank r of 4
    // maps to gidx ((r-1)*8) div 4 = 0,2,4,6 -> values 10,12,14,30
    assert(got(("a", 10L)) == 10L && got(("a", 20L)) == 12L &&
      got(("a", 30L)) == 14L && got(("a", 40L)) == 30L)
    assert(got(("b", 11L)) == 10L && got(("b", 12L)) == 12L &&
      got(("b", 13L)) == 14L && got(("b", 14L)) == 30L)
    // single-group input: rank r of n maps to gidx r-1 -> identity
    val one = df.filter($"g" === "a")
    val ident = graft.operators.Analytics
      .quantileNormalize(one, "g", "v", "id")
      .collect().map(r => r.getLong(1) -> r.getLong(3)).toMap
    assert(ident == Map(10L -> 10L, 20L -> 20L, 30L -> 30L, 40L -> 40L))
  }

  // ---- trendSlope ----

  test("trendSlope: exact slope on a perfect line, signed negative " +
      "slopes, NULL on zero x-variance") {
    import spark.implicits._
    val df = Seq(
      ("up", 0L, 10L), ("up", 1L, 13L), ("up", 2L, 16L),   // slope 3
      ("down", 0L, 9L), ("down", 1L, 7L), ("down", 2L, 5L), // slope -2
      ("flatx", 5L, 1L), ("flatx", 5L, 100L)                // undefined
    ).toDF("g", "x", "y")
    val got = graft.operators.Analytics.trendSlope(df, "g", "x", "y")
      .collect().map(r => r.getString(0) ->
        (if (r.isNullAt(2)) None else Some(r.getLong(2)))).toMap
    assert(got("up") == Some(3000000L))
    assert(got("down") == Some(-2000000L))
    assert(got("flatx").isEmpty)
  }

  // ---- topMovers ----

  test("topMovers: signed ppm share deltas, support filter, |delta| " +
      "ranking") {
    import spark.implicits._
    val a = (Seq.fill(6)("x") ++ Seq.fill(3)("y") ++ Seq("z")).toDF("k")
    val b = (Seq.fill(2)("x") ++ Seq.fill(7)("y") ++ Seq("w")).toDF("k")
    val got = graft.operators.Analytics.topMovers(a, b, "k", n = 10,
        minCount = 2L)
      .collect().map(r => (r.getString(0), r.getLong(2), r.getLong(4),
        r.getLong(5)))
    // shares: a: x 600000, y 300000, z 100000; b: x 200000, y 700000
    assert(got.toSeq == Seq(
      ("x", 600000L, 200000L, -400000L),
      ("y", 300000L, 700000L, 400000L)))   // |400000| tie -> key order
    // z (1+0) and w (0+1) fall under minCount=2
  }

  // ---- winsorize ----

  test("winsorize: exact percentile band clamp; inner values untouched") {
    import spark.implicits._
    // values 10..100 step 10: p10 = index (10*9) div 100 = 0 -> 1st = 10?
    // no: +1 -> rank 1 -> 10; p90 = (90*9) div 100 + 1 = 9th = 90
    val df = (1L to 10L).map(i => ("g", i * 10L, i)).toDF("g", "v", "id")
    val got = graft.operators.Analytics
      .winsorize(df, "g", "v", "id", loPct = 10, hiPct = 90)
      .collect().map(r => r.getAs[Long]("v") ->
        (r.getAs[Long]("p_lo"), r.getAs[Long]("p_hi"), r.getAs[Long]("v_w")))
      .toMap
    assert(got(10L) == ((10L, 90L, 10L)))   // at the lower bound
    assert(got(50L)._3 == 50L)              // inner value untouched
    assert(got(100L)._3 == 90L)             // tail clamped to p90
  }

  // ---- topNOther ----

  test("topNOther: top keys keep identity, the tail collapses to one " +
      "row, shares sum to ~1e6") {
    import spark.implicits._
    val df = (Seq.fill(5)("a") ++ Seq.fill(3)("b") ++
      Seq("c", "d", "e", "f")).toDF("k")
    val got = graft.operators.Analytics.topNOther(df, "k", n = 2)
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2)))
      .toMap
    assert(got.keySet == Set("a", "b", "other"))
    assert(got("a") == ((5L, 416666L)))
    assert(got("b") == ((3L, 250000L)))
    assert(got("other") == ((4L, 333333L)))
    assert(got.values.map(_._2).sum >= 999998L)
  }

  // ---- cdcFromSnapshots ----

  test("cdcFromSnapshots: adds→I, removals→D, updates→D+I, unchanged " +
      "rows emit nothing; folding the delta reproduces snapshot B") {
    import spark.implicits._
    val a = Seq((1L, 10L), (2L, 20L), (4L, 40L)).toDF("k", "x")
    val b = Seq((2L, 25L), (3L, 30L), (4L, 40L)).toDF("k", "x")
    val cdc = graft.operators.Analytics
      .cdcFromSnapshots(a, b, Seq("k"), Seq("x"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2)))
      .toSet
    assert(cdc == Set((1L, 10L, "D"), (2L, 20L, "D"), (2L, 25L, "I"),
      (3L, 30L, "I"))) // k=4 unchanged: absent
    // Σ-delta fold law: A + signed delta == B (per-key sums)
    val folded = a.select($"k", $"x", lit(1L).as("s"))
      .unionByName(graft.operators.Analytics
        .cdcFromSnapshots(a, b, Seq("k"), Seq("x"))
        .select($"k", $"x", when($"op" === "I", 1L).otherwise(-1L).as("s")))
      .groupBy($"k").agg(sum($"s" * $"x").as("sx"), sum($"s").as("n"))
      .filter($"n" =!= 0L)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(folded == Set((2L, 25L), (3L, 30L), (4L, 40L)))
  }

  // ---- distributionDrift ----

  test("distributionDrift: exact binning with edge clamping; identical " +
      "populations show zero drift") {
    import spark.implicits._
    // 10 bins over [0,100): values -5 and 250 clamp into bins 0 and 9
    val a = Seq(-5L, 1L, 15L, 15L, 99L, 250L).toDF("v")
    val b = Seq(5L, 5L, 15L, 95L, 95L, 95L).toDF("v")
    val got = graft.operators.Analytics
      .distributionDrift(a, b, "v", 0L, 100L, 10)
      .collect().map(r => r.getInt(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))).toMap
    assert(got(0) == ((2L, 333333L, 2L, 333333L))) // -5 clamps to bin 0
    assert(got(1) == ((2L, 333333L, 1L, 166666L)))
    assert(got(9) == ((2L, 333333L, 3L, 500000L))) // 250 clamps to bin 9
    val same = graft.operators.Analytics
      .distributionDrift(a, a, "v", 0L, 100L, 10)
      .agg(sum(col("diff_ppm"))).collect().head.getLong(0)
    assert(same == 0L)
  }

  // ---- targetEncode ----

  test("targetEncode: hand-checked smoothed ppm, LOO variants, and " +
      "null LOO when the category has no such member") {
    import spark.implicits._
    val df = Seq(("a", 1L), ("a", 1L), ("a", 0L), ("b", 0L))
      .toDF("cat", "label")
    val got = graft.operators.Analytics.targetEncode(df, "cat", "label",
      m = 2).collect().map(r => r.getString(0) -> r).toMap
    // global N=4, P=2; enc = 1e6*(pos*N + m*P) div ((n+m)*N)
    val a = got("a")
    assert(a.getLong(3) == 600000L)   // (2*4+4)/(5*4)
    assert(a.getLong(4) == 500000L)   // LOO pos: (1*4+4)/(4*4)
    assert(a.getLong(5) == 750000L)   // LOO neg: (2*4+4)/(4*4)
    val b = got("b")
    assert(b.getLong(3) == 333333L)   // (0+4)/(3*4) — pulled to prior
    assert(b.isNullAt(4))             // no positive member to remove
    assert(b.getLong(5) == 500000L)   // (0+4)/(2*4)
  }

  // ---- weightedMedian ----

  test("weightedMedian: weight-heavy tail moves the median; unit " +
      "weights reduce to the lower median") {
    import spark.implicits._
    val df = Seq(("k", 1L, 1L, 1L), ("k", 2L, 1L, 2L), ("k", 3L, 10L, 3L))
      .toDF("g", "v", "w", "id")
    val r = graft.operators.Analytics
      .weightedMedian(df, "g", "v", "w", "id").collect().head
    assert(r.getLong(1) == 3L && r.getLong(2) == 12L) // volume center
    val unit = (1L to 4L).map(i => ("k", i, 1L, i)).toDF("g", "v", "w", "id")
    val u = graft.operators.Analytics
      .weightedMedian(unit, "g", "v", "w", "id").collect().head
    assert(u.getLong(1) == 2L) // lower median of 1..4
  }

  // ---- heavyHittersExact ----

  test("heavyHittersExact: saturated sketch still yields the EXACT " +
      "heavy set, invariant under partitioning") {
    import spark.implicits._
    // 10×a, 5×b, 24 singletons: n=39, k=4 ⇒ threshold 39 div 4 + 1 = 10
    // ⇒ only a is heavy; MG(4) is far over capacity, so survival is the
    // guarantee, not luck
    val keys = Seq.fill(10)("a") ++ Seq.fill(5)("b") ++
      ('c' to 'z').map(_.toString)
    for (p <- Seq(1, 7)) {
      val got = graft.operators.Analytics.heavyHittersExact(
          keys.toDF("k").repartition(p), "k", k = 4)
        .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
      assert(got.toSeq == Seq(("a", 10L, 256410L)),
        s"partitions=$p: ${got.toSeq}")
    }
  }

  // ---- madOutliers ----

  test("madOutliers: a wild spike is flagged, nulls excluded, med/mad " +
      "are the lower medians") {
    import spark.implicits._
    val rows: Seq[(String, Option[Double], Long)] =
      ((1 to 9).map(i => ("k", Some(i.toDouble), i.toLong)) :+
        (("k", Some(1000.0), 10L)) :+ (("k", None, 11L)))
    val df = rows.toDF("g", "v", "id")
    val got = Analytics.madOutliers(df, "g", "v", "id", c = 3).collect()
    assert(got.length == 10) // the NULL row is excluded
    // values 1..9,1000: n=10 → lower median = 5th by (v,id) = 5.0
    assert(got.forall(_.getAs[Double]("med") == 5.0))
    // |x-5|: 4,3,2,1,0,1,2,3,4,995 sorted: 0,1,1,2,2,3,3,4,4,995 → 5th = 2
    assert(got.forall(_.getAs[Double]("mad") == 2.0))
    val outs = got.filter(_.getAs[Boolean]("is_out"))
      .map(_.getAs[Double]("v")).toSet
    // threshold 3*2=6: flagged iff |x-5| > 6 → none of 1..9, only 1000
    assert(outs == Set(1000.0))
  }

  test("madOutliers: stddev gate contrast — the spike that hides " +
      "siblings from mean/3σ does not inflate MAD") {
    import spark.implicits._
    // 19 points at 0..18 plus two spikes; σ is spike-inflated so the
    // smaller spike (60) passes a 2σ gate, but 3·MAD still flags it
    val vals = (0 to 18).map(_.toDouble) ++ Seq(60.0, 1000.0)
    val df = vals.zipWithIndex.map { case (v, i) => ("k", v, i.toLong) }
      .toDF("g", "v", "id")
    val mad = Analytics.madOutliers(df, "g", "v", "id", c = 3)
      .filter(col("is_out")).select("v").as[Double].collect().toSet
    assert(mad.contains(60.0) && mad.contains(1000.0))
    val sigma = graft.operators.Curation.exactOutliers(
        df.withColumn("vc", (col("v") * 100).cast("long")), "g", "vc", k = 2)
      .filter(col("is_out")).select("v").as[Double].collect().toSet
    assert(!sigma.contains(60.0) && sigma.contains(1000.0))
  }

  test("aucExact: hand-counted wins and ties, perfect and inverted " +
      "separation, one-class degeneracy yields NULL not an error") {
    import spark.implicits._
    import graft.operators.Analytics
    def auc(rows: Seq[(Long, Boolean)]): (Long, Long, Option[Long]) = {
      val r = Analytics.aucExact(rows.toDF("s", "y"), "s", "y")
        .collect().head
      (r.getLong(0), r.getLong(1),
        if (r.isNullAt(2)) None else Some(r.getLong(2)))
    }
    // pos scores {3,2}, neg {1,2}: wins 3 (3>1, 3>2, 2>1), tie 1 (2=2)
    // -> AUC = (2*3+1)/(2*4) = 7/8
    assert(auc(Seq((3L, true), (2L, true), (1L, false), (2L, false)))
      === ((2L, 2L, Some(875000L))))
    assert(auc(Seq((9L, true), (8L, true), (1L, false)))
      === ((2L, 1L, Some(1000000L))))
    assert(auc(Seq((1L, true), (9L, false))) === ((1L, 1L, Some(0L))))
    // all-ties: AUC exactly 1/2
    assert(auc(Seq((5L, true), (5L, false))) === ((1L, 1L, Some(500000L))))
    assert(auc(Seq((1L, true), (2L, true))) === ((2L, 0L, None)))
    // partition-invariance: the window math must not depend on layout
    val big = (1L to 500L).map(i => (i % 97, i % 3 == 0))
    val a = Analytics.aucExact(big.toDF("s", "y"), "s", "y").collect().head
    val b = Analytics.aucExact(big.toDF("s", "y").repartition(13), "s", "y")
      .collect().head
    assert(a === b)
  }

  test("averagePrecision: hand-computed terms with a miss interleaved; " +
      "perfect ranking scores 1e6; zero positives yields NULL") {
    import spark.implicits._
    import graft.operators.Analytics
    def ap(rows: Seq[(Long, Long, Boolean)]) = {
      val r = Analytics.averagePrecision(
        rows.toDF("s", "t", "y"), "s", "t", "y").collect().head
      (r.getLong(0), r.getLong(1),
        if (r.isNullAt(2)) None else Some(r.getLong(2)))
    }
    // ranks: pos@1 (term 1e6), neg@2, pos@3 (term 2e6 div 3), neg@4
    // -> AP = (1000000 + 666666) div 2 = 833333
    assert(ap(Seq((5L, 1L, true), (4L, 2L, false), (3L, 3L, true),
      (1L, 4L, false))) === ((4L, 2L, Some(833333L))))
    assert(ap(Seq((9L, 1L, true), (8L, 2L, true), (1L, 3L, false)))
      === ((3L, 2L, Some(1000000L))))
    assert(ap(Seq((9L, 1L, false), (1L, 2L, false)))
      === ((2L, 0L, None)))
  }

  test("thresholdSweep: confusion counts and P/R/F1 at hand-checked " +
      "operating points; boundary is >= the threshold") {
    import spark.implicits._
    import graft.operators.Analytics
    val df = Seq((900000L, true), (700000L, false), (600000L, true),
      (100000L, false)).toDF("c", "y")
    val got = Analytics.thresholdSweep(df, "c", "y",
        Seq(500000L, 600000L, 800000L))
      .orderBy(col("thr_ppm")).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5), r.getLong(6), r.getLong(7)))
    // T=500000: tp=2 fp=1 fn=0 tn=1; p=666666 r=1000000 f1=799999
    assert(got(0) === ((500000L, 2L, 1L, 0L, 1L, 666666L, 1000000L,
      799999L)))
    // T=600000: the 600000-conf positive sits ON the boundary: kept
    assert(got(1) === ((600000L, 2L, 1L, 0L, 1L, 666666L, 1000000L,
      799999L)))
    // T=800000: tp=1 fp=0 fn=1 tn=2; p=1000000 r=500000 f1=666666
    assert(got(2) === ((800000L, 1L, 0L, 1L, 2L, 1000000L, 500000L,
      666666L)))
  }

  test("joinAudit: predicted output cardinality equals the join's " +
      "actual row count; worst key and multiplicity ceilings exact") {
    import spark.implicits._
    import graft.operators.Analytics
    val a = Seq(("x", 1), ("x", 2), ("y", 3), ("w", 9))
      .toDF("k", "va")
    val b = Seq(("x", 4), ("x", 5), ("x", 6), ("z", 7), ("y", 8))
      .toDF("k", "vb")
    // keys in both: x (2×3), y (1×1) -> 7 output rows
    val row = Analytics.joinAudit(a, b, "k").collect().head
    assert((row.getLong(0), row.getLong(1), row.getLong(2),
      row.getLong(3), row.getString(4), row.getLong(5))
      === ((2L, 7L, 2L, 3L, "x", 6L)))
    // law: the prediction equals the actual join size
    assert(a.join(b, Seq("k")).count() === row.getLong(1))
  }

  test("errorSamples: k per cell, deterministic under repartitioning, " +
      "never more than the cell holds") {
    import spark.implicits._
    import graft.operators.Analytics
    val df = (1L to 100L).map(i => (i, i % 2 == 0, i % 3 == 0))
      .toDF("id", "p", "y")
    val a = Analytics.errorSamples(df, "id", "p", "y", k = 3)
      .collect().map(r => (r.getBoolean(0), r.getBoolean(1),
        r.getLong(2), r.getLong(3))).sortBy(t => (t._1, t._2, t._3))
    // 4 cells, 3 each
    assert(a.length === 12)
    assert(a.groupBy(t => (t._1, t._2)).forall(_._2.map(_._3).sorted
      .toSeq == Seq(1L, 2L, 3L)))
    val b = Analytics.errorSamples(df.repartition(7), "id", "p", "y", 3)
      .collect().map(r => (r.getBoolean(0), r.getBoolean(1),
        r.getLong(2), r.getLong(3))).sortBy(t => (t._1, t._2, t._3))
    assert(a.toSeq === b.toSeq)
    // a cell smaller than k yields what it has
    val tiny = Seq((1L, true, true), (2L, false, false))
      .toDF("id", "p", "y")
    assert(Analytics.errorSamples(tiny, "id", "p", "y", 5).count() === 2)
  }

  test("journeyPaths: hand-built stream — paths counted per user in " +
      "time order, interleaved users do not cross-contaminate") {
    import spark.implicits._
    import graft.operators.Analytics
    def ts(m: Int) = java.sql.Timestamp.valueOf(f"2024-01-01 10:$m%02d:00")
    // u1: a b c d  -> a>b>c, b>c>d ; u2: a b c -> a>b>c
    val ev = Seq(
      (1L, "a", ts(0), 1L), (2L, "a", ts(1), 10L),
      (1L, "b", ts(2), 2L), (2L, "b", ts(3), 11L),
      (1L, "c", ts(4), 3L), (2L, "c", ts(5), 12L),
      (1L, "d", ts(6), 4L)
    ).toDF("u", "et", "ts", "eid")
    val got = Analytics.journeyPaths(ev, "u", "et", "ts", "eid", 10)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    assert(got.toSeq === Seq(("a>b>c", 2L, 2L), ("b>c>d", 1L, 1L)))
  }

  test("brierScore: perfect confident predictions score 0, maximal " +
      "uncertainty scores 250000, confident wrongness 1000000") {
    import spark.implicits._
    import graft.operators.Analytics
    def brier(rows: Seq[(Long, Boolean)]): Long =
      Analytics.brierScore(rows.toDF("c", "y"), "c", "y")
        .collect().head.getLong(1)
    assert(brier(Seq((1000000L, true), (0L, false))) === 0L)
    assert(brier(Seq((500000L, true), (500000L, false))) === 250000L)
    assert(brier(Seq((0L, true), (1000000L, false))) === 1000000L)
    // mixed: (800000 vs 1)^2 = 4e10, (300000 vs 0)^2 = 9e10
    // -> (13e10 / 2) / 1e6 = 65000
    assert(brier(Seq((800000L, true), (300000L, false))) === 65000L)
  }

  test("benfordAudit: string leading digit, zero/negative/null filtered, " +
      "exact ppm shares vs the canonical constants") {
    import spark.implicits._
    // digits: 923→9, 15→1, 1→1, 777→7; 0, -4 and null are excluded
    val df = Seq(Some(923L), Some(15L), Some(1L), Some(777L), Some(0L),
      Some(-4L), None).toDF("v")
    val got = Analytics.benfordAudit(df, "v").collect()
      .map(r => r.getInt(0) -> ((r.getLong(1), r.getLong(2), r.getLong(4))))
      .toMap
    assert(got.keySet === Set(1, 7, 9))
    assert(got(1)._1 === 2L && got(1)._2 === 500000L)  // 2 of 4
    assert(got(7) === ((1L, 250000L, 250000L - 57992L)))
    assert(got(9) === ((1L, 250000L, 250000L - 45757L)))
    assert(got(1)._3 === 500000L - 301030L)
  }

  test("diffInDiff: parallel trends cancel; a planted post-only " +
      "treatment lift is recovered exactly; empty cell yields nulls") {
    import spark.implicits._
    // control 100→150, treatment 200→250+30: trend +50 both, lift +30
    val obs = Seq(
      (0, 0, 100L), (0, 0, 100L), (0, 1, 150L),
      (1, 0, 200L), (1, 1, 280L)).toDF("variant", "post", "c")
    val r = Analytics.diffInDiff(obs, "variant", "post", "c").collect()(0)
    assert((r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))
      === ((2L, 1L, 1L, 1L)))
    assert(r.getLong(8) === 30000000L, "did_ppm = +30 in ppm")
    val missing = Seq((0, 0, 1L), (0, 1, 2L), (1, 1, 3L))
      .toDF("variant", "post", "c")
    val m = Analytics.diffInDiff(missing, "variant", "post", "c")
      .collect()(0)
    assert(m.isNullAt(6) && m.isNullAt(8),
      "empty (1,0) cell must surface as NULL mean and NULL DiD")
  }

  test("skewReport: hot key priced correctly, salt advice kicks in " +
      "exactly when the hot key exceeds one partition's share") {
    import spark.implicits._
    // key 1 holds 90 of 100 rows; 10 singleton keys; 4 partitions →
    // rows-per-part 25, salt = ceil(90/25) = 4
    val rows = (Seq.fill(90)(1L) ++ (2L to 11L)).toDF("k")
    val r = graft.operators.Skew.skewReport(rows, "k", 4, "t").collect()(0)
    assert((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))
      === ((100L, 11L, 90L, 9L)))
    assert(r.getLong(5) === 900000L)              // max share
    assert(r.getLong(6) === 9900000L)             // 9.9x straggler
    assert(r.getLong(7) === 4L, "salt factor")
    // uniform: salting not recommended
    val u = graft.operators.Skew.skewReport(
      (1L to 100L).toDF("k"), "k", 4, "t").collect()(0)
    assert(u.getLong(7) === 1L && u.getLong(6) === 1000000L)
  }

  test("sampleSizeLadder: hand-computed ceiling at a known variance, " +
      "NULL when the MDE rounds to zero") {
    import spark.implicits._
    // values 10,10,20,20 → n=4, mean=15, var = (4·1000−3600)/12 = 33
    val units = Seq(10L, 10L, 20L, 20L).toDF("y")
    val got = Analytics.sampleSizeLadder(units, "y", Seq(10, 100))
      .collect().map(r => r.getInt(0) ->
        ((r.getLong(1), if (r.isNullAt(2)) -1L else r.getLong(2),
          r.getLong(3), r.getLong(4), r.getLong(5)))).toMap
    // δ(10%) = 1: n = ceil(7848879·2·33 / 1e6) = ceil(518.026) = 519
    assert(got(10) === ((1L, 519L, 4L, 15L, 33L)), got(10).toString)
    // δ(100%) = 15: n = ceil(518026014 / 225e6) = ceil(2.302) = 3
    assert(got(100) === ((15L, 3L, 4L, 15L, 33L)))
    // tiny mean: δ(10%) of mean 3 floors to 0 → undetectable, NULL
    val tiny = Seq(3L, 3L, 3L, 3L).toDF("y")
    val t = Analytics.sampleSizeLadder(tiny, "y", Seq(10)).collect()(0)
    assert(t.getLong(1) === 0L && t.isNullAt(2))
  }

  test("splitConformal: k-th residual picked exactly, empirical " +
      "coverage counted, small calibration set yields unbounded q̂") {
    import spark.implicits._
    // calibration residuals 1..9 (pred 0, actual = r), α=10% →
    // k = ceil(0.9·10) = 9 → q̂ = 9; test residuals 5, 9, 10 → 2/3 in
    val rows = (1L to 9L).map(r => (0L, r, 1)) ++
      Seq((0L, 5L, 0), (0L, 9L, 0), (0L, 10L, 0))
    val r = Analytics.splitConformal(rows.toDF("pred", "actual", "cal"),
      "pred", "actual", "cal", alphaPct = 10).collect()(0)
    assert((r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))
      === ((9L, 3L, 9L, 2L)))
    assert(r.getLong(4) === 666666L)
    // 3 calibration points can't support 90%: k=4 > 3 → q̂ NULL,
    // everything trivially covered
    val small = Seq((0L, 1L, 1), (0L, 2L, 1), (0L, 3L, 1),
      (0L, 99L, 0)).toDF("pred", "actual", "cal")
    val m = Analytics.splitConformal(small, "pred", "actual", "cal",
      alphaPct = 10).collect()(0)
    assert(m.isNullAt(2) && m.getLong(3) === 1L &&
      m.getLong(4) === 1000000L, m.toString)
  }

  test("cuped: y = x explains the gap entirely (theta=1, corr2=1, " +
      "adjusted gap 0); constant covariate is a no-op") {
    import spark.implicits._
    val units = Seq((0L, 10L, 10L), (0L, 20L, 20L),
      (1L, 30L, 30L), (1L, 40L, 40L)).toDF("variant", "x", "y")
    val r = Analytics.cuped(units, "variant", "x", "y").collect()(0)
    assert(r.getLong(0) === 4L)         // n_units
    assert(r.getLong(1) === 1000000L)   // theta_ppm: slope exactly 1
    assert(r.getLong(2) === 1000000L)   // var_reduction_ppm: corr^2 = 1
    assert(r.getLong(3) === 20000000L)  // raw gap: mean 35 - mean 15
    assert(r.getLong(4) === 0L)         // pre-period explains all of it
    val const = Seq((0L, 5L, 10L), (0L, 5L, 20L),
      (1L, 5L, 30L), (1L, 5L, 40L)).toDF("variant", "x", "y")
    val c = Analytics.cuped(const, "variant", "x", "y").collect()(0)
    assert(c.getLong(1) === 0L && c.getLong(2) === 0L,
      "constant covariate: zero theta, zero reduction")
    assert(c.getLong(4) === c.getLong(3), "adjustment must be a no-op")
  }

  test("passAtK: hand-computed estimator, clamp-to-certain, n<k NULL") {
    import spark.implicits._
    // p1: n=5 c=2; p2: n=6 c=1; p3: n=4 c=0
    val attempts =
      (Seq.fill(2)(("p1", true)) ++ Seq.fill(3)(("p1", false)) ++
        Seq.fill(1)(("p2", true)) ++ Seq.fill(5)(("p2", false)) ++
        Seq.fill(4)(("p3", false)))
        .toDF("problem", "ok")
    val got = Analytics.passAtK(attempts, "problem", col("ok"),
        Seq(1, 5, 10))
      .collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2),
        Option(r.get(3)), Option(r.get(4)), Option(r.get(5)))))
      .toMap
    // p1: pass@1 = 1 - 3/5 = 0.4; pass@5: only 3 failures < 5 picks ->
    // a success is guaranteed -> exactly 10^6; pass@10: n < 10 -> NULL
    assert(got("p1") === ((5L, 2L, Some(400000L), Some(1000000L), None)))
    // p2: pass@5 = 1 - C(5,5)/C(6,5) = 1 - 1/6 -> floor ppm 833334
    assert(got("p2")._4 === Some(833334L))
    // p3: no successes -> 0 at every defined k
    assert(got("p3") === ((4L, 0L, Some(0L), None, None)))
  }

  test("sampleSkewCertificate: proportional sample certifies, skewed " +
      "sample trips; hand-computed shares and TVD") {
    import spark.implicits._
    val corpus = (Seq.fill(6)("a") ++ Seq.fill(2)("b") ++ Seq.fill(2)("c"))
      .zipWithIndex.map { case (k, i) => (i.toLong, k) }
      .toDF("id", "k")
    def cert(sample: org.apache.spark.sql.DataFrame) =
      graft.operators.Analytics
        .sampleSkewCertificate(corpus, sample, "k", 100000L)
        .collect()
        .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2),
          r.getLong(3), r.getLong(4), r.getLong(5), r.getLong(6),
          r.getBoolean(7))))
        .toMap
    // proportional 3:1:1 mirror of 6:2:2 -> zero shift, certified
    val prop = cert(Seq((1L, "a"), (2L, "a"), (3L, "a"), (4L, "b"),
      (5L, "c")).toDF("id", "k"))
    assert(prop("a") === ((6L, 3L, 600000L, 600000L, 0L, 0L, true)))
    assert(prop("b") === ((2L, 1L, 200000L, 200000L, 0L, 0L, true)))
    // skewed 1:1:2 -> shifts -350000/+50000/+300000, TVD 350000, tripped
    val skew = cert(Seq((1L, "a"), (4L, "b"), (5L, "c"), (6L, "c"))
      .toDF("id", "k"))
    assert(skew("a") ===
      ((6L, 1L, 600000L, 250000L, -350000L, 350000L, false)))
    assert(skew("c") ===
      ((2L, 2L, 200000L, 500000L, 300000L, 350000L, false)))
  }

  test("joinOrderAdvisor: both intermediates and the final count " +
      "hand-exact; smaller intermediate recommended") {
    import spark.implicits._
    // bridge (lk, rk); left matches lk 1->2 rows, 3->1; right matches
    // rk 10->3 rows. left-first: 2+0+1 = 3; right-first: 3+3+0 = 6;
    // final: 2*3 + 0*3 + 1*0 = 6.
    val bridge = Seq((1L, 10L), (2L, 10L), (3L, 20L)).toDF("lk", "rk")
    val left = Seq((1L, "a"), (1L, "b"), (3L, "c")).toDF("k", "v")
    val right = Seq((10L, "x"), (10L, "y"), (10L, "z")).toDF("k", "v")
    val got = graft.operators.Analytics
      .joinOrderAdvisor(bridge, "lk", "rk", left, "k", right, "k")
      .collect()
      .map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getBoolean(3))))
      .toMap
    assert(got("left_first") === ((3L, 6L, true)))
    assert(got("right_first") === ((6L, 6L, false)))
  }

  // ---- shapeProfile ----

  test("shapeProfile: hand-derived Bowley/kurtosis — platykurtic, " +
      "heavy-tailed, right-skewed, and constant groups; partition-" +
      "invariant") {
    import spark.implicits._
    // u: 0..4        → q=(1,2,3), bowley 0, kurt 1e6·5·34/100−3e6 = −1.3e6
    // h: 0,0,0,0,100 → q3=q1=0 (bowley NULL), mean 20, Σd²=8000,
    //                  Σd⁴=41.6e6 → kurt 250000 > 0 (heavy)
    // s: 0,10,20,60,100 → q=(10,20,60), bowley 1e6·30 div 50 = 600000
    // c: 5,5,5       → constant: both NULL, verdict NULL
    val rows =
      (0 to 4).map(v => ("u", v.toLong)) ++
      (Seq(0L, 0L, 0L, 0L, 100L)).map(("h", _)) ++
      Seq(0L, 10L, 20L, 60L, 100L).map(("s", _)) ++
      Seq.fill(3)(("c", 5L))
    for (p <- Seq(1, 7)) {
      val got = Analytics.shapeProfile(
          rows.toDF("g", "v").repartition(p), "g", "v")
        .collect().map(r => r.getString(0) -> r).toMap
      def skew(g: String) =
        Option(got(g).getAs[java.lang.Long]("bowley_skew_ppm"))
      def kurt(g: String) =
        Option(got(g).getAs[java.lang.Long]("kurt_excess_ppm"))
      assert(skew("u") === Some(0L))
      assert(kurt("u") === Some(-1300000L), s"p=$p: ${got("u")}")
      assert(got("u").getAs[Boolean]("heavy_tailed") === false)
      assert(skew("h") === None) // q3 == q1
      assert(kurt("h") === Some(250000L))
      assert(got("h").getAs[Boolean]("heavy_tailed") === true)
      assert(skew("s") === Some(600000L))
      assert((got("s").getLong(2), got("s").getLong(3),
        got("s").getLong(4)) === ((10L, 20L, 60L)))
      assert(skew("c") === None && kurt("c") === None)
      assert(got("c").isNullAt(got("c").fieldIndex("heavy_tailed")))
    }
  }

  test("shapeProfile: matches an independent BigInt scalar reference " +
      "on a mixed fixture with nulls excluded") {
    import spark.implicits._
    val rng = new scala.util.Random(42)
    val rows: Seq[(String, Option[Long])] =
      (1 to 200).map(i => (s"g${i % 3}",
        if (i % 17 == 0) None else Some(rng.nextInt(10000).toLong)))
    val got = Analytics.shapeProfile(rows.toDF("g", "v"), "g", "v")
      .collect().map(r => r.getString(0) ->
        (Option(r.getAs[java.lang.Long]("bowley_skew_ppm")),
         Option(r.getAs[java.lang.Long]("kurt_excess_ppm")))).toMap
    for (g <- Seq("g0", "g1", "g2")) {
      val vs = rows.collect { case (`g`, Some(v)) => v }.sorted
      val n = vs.length
      val q1 = vs((25 * (n - 1)) / 100); val q2 = vs((50 * (n - 1)) / 100)
      val q3 = vs((75 * (n - 1)) / 100)
      val mu = vs.sum / n
      val cs2 = vs.map(v => BigInt(v - mu).pow(2)).sum
      val cs4 = vs.map(v => BigInt(v - mu).pow(4)).sum
      val expSkew = if (q3 > q1)
        Some((BigInt(1000000) * (q3 + q1 - 2 * q2) / (q3 - q1)).toLong)
        else None
      val expKurt = if (cs2 > 0)
        Some((BigInt(1000000) * n * cs4 / (cs2 * cs2) - 3000000).toLong)
        else None
      assert(got(g) === ((expSkew, expKurt)), s"group $g n=$n")
    }
  }

  test("rboCurve: identical lists score exactly 1e6 at full depth " +
      "(weights normalized); disjoint lists zero; partial hand case") {
    import spark.implicits._
    import graft.operators.Analytics
    val wts = Analytics.rboWeightsP90K10
    assert(wts.sum === 1000000L, "weights must sum to exactly 1e6")
    val ids = (1 to 10).map(i => (s"t$i", i))
    val a = ids.toDF("term", "ra")
    val same = Analytics.rboCurve(a, ids.toDF("term", "rb"), wts)
      .collect().map(r => r.getInt(0) -> r.getLong(4)).toMap
    assert(same(10) === 1000000L, s"identical lists: $same")
    val other = (1 to 10).map(i => (s"u$i", i)).toDF("term", "rb")
    val disj = Analytics.rboCurve(a, other, wts)
      .collect().map(r => r.getInt(0) -> r.getLong(4)).toMap
    assert(disj(10) === 0L)
    // swap ranks 1 and 2 in b: overlap@1 = 0, overlap@d>=2 = d —
    // rbo@10 = 1e6 - w1 (only depth 1 loses its full weight)
    val swapped = (Seq(("t1", 2), ("t2", 1)) ++
      (3 to 10).map(i => (s"t$i", i))).toDF("term", "rb")
    val sw = Analytics.rboCurve(a, swapped, wts)
      .collect().map(r => r.getInt(0) -> r.getLong(4)).toMap
    assert(sw(10) === 1000000L - wts.head, sw.toString)
  }

  test("bradleyTerry: matches an independent BigInt scalar reference " +
      "of the MM recurrence; winless item fixes at 0; mass conserved") {
    import spark.implicits._
    // A beats B twice, B beats A once, A beats C once, C beats B twice,
    // and D loses once to C (winless)
    val duels = Seq(("A", "B"), ("A", "B"), ("B", "A"), ("A", "C"),
      ("C", "B"), ("C", "B"), ("C", "D")).toDF("win", "lose")
    val got = Analytics.bradleyTerry(duels, "win", "lose", iters = 3)
      .collect().map(r => (r.getString(0),
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))))
      .toMap

    // scalar reference: identical truncating-integer MM in BigInt
    val w = Map(("A", "B") -> 2L, ("B", "A") -> 1L, ("A", "C") -> 1L,
      ("C", "A") -> 0L, ("C", "B") -> 2L, ("B", "C") -> 0L,
      ("C", "D") -> 1L, ("D", "C") -> 0L)
    val pairs = w.keySet.toSeq.sorted
    val items = pairs.flatMap(p => Seq(p._1, p._2)).distinct.sorted
    def n(i: String, j: String) = w(i -> j) + w(j -> i)
    val wins = items.map(i =>
      i -> pairs.filter(_._1 == i).map(w).sum).toMap
    val games = items.map(i =>
      i -> pairs.filter(_._1 == i).map { case (a, b) => n(a, b) }.sum).toMap
    var s = items.map(_ -> BigInt(1000000)).toMap
    for (_ <- 1 to 3) {
      val raw = items.map { i =>
        val den = pairs.filter(_._1 == i).map { case (_, j) =>
          if (s(i) + s(j) > 0) BigInt(n(i, j)) * BigInt("1000000000000") /
            (s(i) + s(j))
          else BigInt(0) }.sum
        i -> (if (den > 0) BigInt(wins(i)) * BigInt("1000000000000") / den
              else BigInt(0))
      }.toMap
      val tot = raw.values.sum
      s = raw.map { case (i, r) =>
        i -> (if (tot > 0) r * items.size * 1000000 / tot else BigInt(0)) }
    }
    items.foreach { i =>
      assert(got(i) === ((wins(i), games(i), s(i).toLong,
        got(i)._4)), s"item $i: got ${got(i)}")
    }
    assert(got("D")._3 === 0L, "winless item must fix at strength 0")
    val mass = got.values.toSeq.map(_._3).sum
    assert(math.abs(mass - items.size * 1000000L) <= items.size,
      s"renormalized mass must be N*1e6 up to truncation: $mass")
    // ranking: A (dominant) above B; rk is the dense 1..N order
    assert(got.values.map(_._4).toSeq.sorted === (1L to items.size).toSeq)
    assert(got("A")._4 < got("B")._4, "A dominates B head-to-head 2:1")
  }

  test("ksTwoSample: hand-computed D and argmin location; bucketed " +
      "prefix sum crosses bucket edges correctly; identical samples = 0") {
    import spark.implicits._
    // a = {1,2,3}, b = {2,4}: diffs ppm at v=1..4 are 333333, 166666,
    // 500000, 0 — D = 500000 attained first at v = 3
    val a = Seq(1.0, 2.0, 3.0).toDF("x").repartition(3)
    val b = Seq(2.0, 4.0).toDF("x").repartition(2)
    // bucketWidth 1.0 puts every distinct value in its OWN bucket, so
    // the cross-bucket offset path carries all of the cumulation
    val r = Analytics.ksTwoSample(a, b, "x", bucketWidth = 1.0,
      thresholdPpm = 400000L).collect()
    assert(r.length === 1)
    val row = r.head
    assert((row.getLong(0), row.getLong(1), row.getLong(2),
      row.getDouble(3), row.getBoolean(4)) === ((3L, 2L, 500000L, 3.0,
      true)))
    // one wide bucket: the in-bucket window carries the cumulation —
    // same exact answer
    val r2 = Analytics.ksTwoSample(a, b, "x", bucketWidth = 100.0,
      thresholdPpm = 600000L).collect().head
    assert((r2.getLong(2), r2.getDouble(3), r2.getBoolean(4)) ===
      ((500000L, 3.0, false)))
    // identical samples: D = 0 at the smallest value
    val same = Analytics.ksTwoSample(a, a, "x", 1.0, 1L).collect().head
    assert((same.getLong(2), same.getDouble(3)) === ((0L, 1.0)))
  }

  test("theilSen: pairwise lower-median shrugs off the planted outlier, " +
      "signed slopes truncate toward zero, single-point keys omitted") {
    import spark.implicits._
    val pts = Seq(
      // g: clean slope 10/step with one wild point at x=3 —
      // slopes ppm sorted: 10e6 ×3, 333333333, 495000000, 980000000;
      // lower median (rank 3 of 6) stays 10e6; intercepts 0,0,0,970e6
      ("g", 0L, 0L), ("g", 1L, 10L), ("g", 2L, 20L), ("g", 3L, 1000L),
      // h: negative slopes −3e6, −3.5e6 (−7e6 div 2, toward zero),
      // −4e6 — median −3.5e6; intercepts 10e6, 10.5e6, 10e6 → 10e6
      ("h", 0L, 10L), ("h", 1L, 7L), ("h", 2L, 3L),
      ("i", 5L, 5L) // one point: no pairs, omitted
    ).toDF("k", "x", "y").repartition(4)
    val r = Analytics.theilSen(pts, "k", "x", "y")
      .collect().map(row => row.getString(0) ->
        ((row.getLong(1), row.getLong(2), row.getLong(3),
          row.getLong(4)))).toMap
    assert(r.keySet === Set("g", "h"))
    assert(r("g") === ((4L, 6L, 10000000L, 0L)))
    assert(r("h") === ((3L, 3L, -3500000L, 10000000L)))
  }

  test("giniConcentration: hand-computed Gini and Lorenz landmarks; " +
      "perfect equality reads 0") {
    import spark.implicits._
    // masses 1,1,1,1,6: n=5, Σx=10, Σrx=40 → G=(80-60)/50=0.4;
    // bottom 50% = ranks 1..2 → 2/10; top-10%/top-1% thresholds floor
    // to zero rows on n=5
    val skewed = Seq((1L, 1L), (2L, 1L), (3L, 1L), (4L, 1L), (5L, 6L))
      .toDF("id", "mass").repartition(3)
    val g = Analytics.giniConcentration(skewed, "mass", "id")
      .collect().head
    assert((g.getLong(0), g.getLong(1), g.getLong(2), g.getLong(3),
      g.getLong(4), g.getLong(5)) ===
      ((5L, 10L, 400000L, 200000L, 0L, 0L)))
    // equal masses: Gini exactly 0, bottom-50% holds exactly half
    val flat = Seq((1L, 3L), (2L, 3L), (3L, 3L), (4L, 3L))
      .toDF("id", "mass")
    val f = Analytics.giniConcentration(flat, "mass", "id")
      .collect().head
    assert((f.getLong(2), f.getLong(3)) === ((0L, 500000L)))
  }

  test("stratifiedEffect: planted Simpson's reversal — +10 within every " +
      "stratum, -38 naive; single-arm stratum excluded from adjustment") {
    import spark.implicits._
    val rows =
      Seq(("easy", true, 100L)) ++ Seq.fill(4)(("easy", false, 90L)) ++
      Seq.fill(4)(("hard", true, 20L)) ++ Seq(("hard", false, 10L)) ++
      Seq.fill(3)(("onlyc", false, 55L)) // control-only stratum
    val df = rows.toDF("stratum", "tr", "y").repartition(4)
    val r = Analytics.stratifiedEffect(df, "stratum", "tr", "y")
      .collect().map(x => x.getString(0) -> x).toMap
    assert(r.keySet === Set("easy", "hard", "onlyc", "__naive__",
      "__adjusted__"))
    assert(r("easy").getLong(5) === 10000000L)
    assert(r("hard").getLong(5) === 10000000L)
    assert(r("onlyc").isNullAt(5), "one-arm stratum has no diff")
    // naive pools EVERYTHING incl. the control-only stratum: treated
    // mean 36 vs control mean 535/8 = 66.875 → −30.875 exactly
    assert(r("__naive__").getLong(5) === -30875000L)
    assert((r("__naive__").getLong(1), r("__naive__").getLong(2)) ===
      ((5L, 8L)))
    // adjusted: (5·10e6 + 5·10e6) div 10 — the reversal undone; counts
    // exclude the control-only stratum
    assert(r("__adjusted__").getLong(5) === 10000000L)
    assert((r("__adjusted__").getLong(1), r("__adjusted__").getLong(2))
      === ((5L, 5L)))
  }

  test("lDiversity: homogeneous class fails despite size, diverse " +
      "class passes, dominant share exact, null sensitives dropped") {
    import spark.implicits._
    val rows = Seq(
      ("A", "x"), ("A", "x"), ("A", "x"), ("A", "y"), ("A", "z"),
      ("B", "x"), ("B", "x"), ("B", "x"), ("B", "x"),
      ("C", null), ("C", "w"), ("C", "v"), ("C", "u"))
      .toDF("qi", "sens")
    val r = Analytics.lDiversity(rows, Seq("qi"), "sens", 3L)
      .collect().map(x => x.getString(0) ->
        ((x.getLong(1), x.getLong(2), x.getLong(3), x.getBoolean(4))))
      .toMap
    assert(r("A") === ((5L, 3L, 600000L, true)))
    assert(r("B") === ((4L, 1L, 1000000L, false)),
      "4-anonymous but homogeneous: the attack l-diversity exists for")
    assert(r("C") === ((3L, 3L, 333333L, true)),
      "null sensitive rows are excluded from the class")
  }

  test("markovAttribution: hand-traced 4-journey chain — exact conv " +
      "probability, removal effects, and the rerouting monotonicity") {
    import spark.implicits._
    // journeys: A→conv, A→B→conv, B→(null), A→(null)
    // probs ppm: START→{A:750000,B:250000}, A→{conv,B,null:333333 ea},
    // B→{conv,null:500000 ea}; stable by round 3:
    // v(B)=500000, v(A)=499999, conv_full=499999
    // remove A: START's A-mass dies → v=250000·500000 div 1e6=125000,
    //   removal = 1e6 − 125000·1e6 div 499999 = 750000
    // remove B: v(A)=333333, v=750000·333333 div 1e6 = 249999,
    //   removal = 1e6 − 249999·1e6 div 499999 = 500002
    val ev = Seq(
      (1L, 1L, 1L, "A"), (1L, 2L, 2L, "buy"),
      (2L, 1L, 3L, "A"), (2L, 2L, 4L, "B"), (2L, 3L, 5L, "buy"),
      (3L, 1L, 6L, "B"),
      (4L, 1L, 7L, "A")
    ).toDF("u", "ts", "tie", "typ").repartition(3)
    val r = Analytics.markovAttribution(ev, "u", "ts", "tie", "typ",
        "buy", Seq("A", "B"), rounds = 4)
      .collect().map(x => x.getString(0) ->
        ((x.getLong(1), x.getLong(2), x.getLong(3)))).toMap
    assert(r.keySet === Set("A", "B"))
    assert(r("A") === ((499999L, 125000L, 750000L)))
    assert(r("B") === ((499999L, 249999L, 500002L)))
  }

  test("mannWhitney: doubled-U with half-weight ties hand-checked, " +
      "dominance reads ±1e6 rank-biserial, bucket paths agree") {
    import spark.implicits._
    def mw(av: Seq[Double], bv: Seq[Double], w: Double = 10.0) =
      Analytics.mannWhitney(av.toDF("x"), bv.toDF("x"), "x", w)
        .collect().head
    // A={1,3,5}, B={2,3,4}: U_A = 0 + 1.5 + 3 = 4.5 → 2U = 9,
    // auc exactly 1/2, zero effect
    val r = mw(Seq(1.0, 3.0, 5.0), Seq(2.0, 3.0, 4.0))
    assert((r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
      r.getLong(4)) === ((3L, 3L, 9L, 500000L, 0L)))
    // per-value buckets force the cross-bucket offset path — identical
    val r1 = mw(Seq(1.0, 3.0, 5.0), Seq(2.0, 3.0, 4.0), w = 1.0)
    assert(r1.getLong(2) === 9L)
    // strict dominance in both directions
    val lo = mw(Seq(1.0, 2.0), Seq(3.0, 4.0))
    assert((lo.getLong(2), lo.getLong(3), lo.getLong(4)) ===
      ((0L, 0L, 1000000L)))
    val hi = mw(Seq(3.0, 4.0), Seq(1.0, 2.0))
    assert((hi.getLong(2), hi.getLong(3), hi.getLong(4)) ===
      ((8L, 1000000L, -1000000L)))
  }

  test("neymanAllocation: dispersion-weighted grants hand-checked, " +
      "constant stratum gets zero, cap flags over-asks, remainder " +
      "tie breaks by stratum name") {
    import spark.implicits._
    // flat: 4×{5} → weight 0; wild: {0,100} → weight 100;
    // mild: {40,60} → weight 20
    val rows = Seq(("flat", 5L), ("flat", 5L), ("flat", 5L),
      ("flat", 5L), ("wild", 0L), ("wild", 100L),
      ("mild", 40L), ("mild", 60L)).toDF("stratum", "y")
    def run(b: Long) = Analytics.neymanAllocation(rows, "stratum",
        "y", b)
      .collect().map(x => x.getString(0) ->
        ((x.getLong(1), x.getLong(2), x.getLong(3),
          x.getBoolean(5)))).toMap
    // budget 6: wild asks 5 of a 2-row stratum → capped at 2
    val r6 = run(6L)
    assert(r6("flat") === ((4L, 0L, 0L, false)))
    assert(r6("mild") === ((2L, 20L, 1L, false)))
    assert(r6("wild") === ((2L, 100L, 2L, true)))
    // budget 3: bases (wild 2, mild 0), remainders tie at 60 —
    // the +1 goes to 'mild' (name order), never nondeterministically
    val r3 = run(3L)
    assert((r3("wild")._3, r3("mild")._3, r3("flat")._3) ===
      ((2L, 1L, 0L)))
  }

  test("contributionBound: exact percentile cap and clipped mass on a " +
      "hand profile; pct=100 clips nothing") {
    import spark.implicits._
    // one group, per-user contributions 1,1,2,3,10 (the heavy user is
    // exactly what the cap exists for)
    val rows = (Seq.fill(1)(("g", "u1")) ++ Seq.fill(1)(("g", "u2")) ++
      Seq.fill(2)(("g", "u3")) ++ Seq.fill(3)(("g", "u4")) ++
      Seq.fill(10)(("g", "u5"))).toDF("grp", "usr")
    def run(p: Int) = Analytics.contributionBound(rows, "grp", "usr", p)
      .collect().head
    // pct 80: rank ⌈80·5/100⌉ = 4 → cap 3; clip 10→3 loses 7 of 17
    val r80 = run(80)
    assert((r80.getLong(1), r80.getLong(2), r80.getLong(3),
      r80.getLong(4), r80.getLong(5)) ===
      ((5L, 17L, 10L, 3L, 7000000L / 17L)))
    val r100 = run(100)
    assert((r100.getLong(4), r100.getLong(5)) === ((10L, 0L)))
  }

  test("goodmanKruskalGamma: ±1e6 at perfect agreement/reversal, " +
      "hand-counted concordance on one swap, ties counted apart") {
    import spark.implicits._
    def g(rb: Seq[Long]) = Analytics.goodmanKruskalGamma(
      Seq(1L, 2L, 3L, 4L).zip(rb).zipWithIndex
        .map { case ((ra, rbv), i) => (s"k$i", ra, rbv) }
        .toDF("k", "ra", "rb"), "k", "ra", "rb").collect().head
    assert(g(Seq(1L, 2L, 3L, 4L)).getLong(5) === 1000000L)
    assert(g(Seq(4L, 3L, 2L, 1L)).getLong(5) === -1000000L)
    // one adjacent swap: C=5, D=1 → γ = 4/6
    val sw = g(Seq(1L, 3L, 2L, 4L))
    assert((sw.getLong(1), sw.getLong(2), sw.getLong(3),
      sw.getLong(5)) === ((6L, 5L, 1L, 666666L)))
    // a tie in rb is neither concordant nor discordant
    val tied = g(Seq(1L, 2L, 2L, 4L))
    assert(tied.getLong(4) === 1L)
    assert(tied.getLong(5) === 1000000L,
      "remaining pairs all concordant")
  }

  test("kruskalWallis: hand-computed H on clean separation (2.4) and " +
      "the tie-corrected case where H/C lands exactly on 1") {
    import spark.implicits._
    def kw(rows: Seq[(String, Double)]) = Analytics.kruskalWallis(
      rows.toDF("g", "v").repartition(3), "g", "v", bucketWidth = 1.0)
      .collect().head
    // A={1,2}, B={3,4}: no ties, H = 12/20·29 − 15 = 2.4 exactly
    val clean = kw(Seq(("A", 1.0), ("A", 2.0), ("B", 3.0), ("B", 4.0)))
    assert((clean.getLong(0), clean.getLong(1), clean.getLong(2),
      clean.getLong(3), clean.getLong(4)) ===
      ((4L, 2L, 2400000L, 1000000L, 2400000L)))
    // A={1,1}, B={1,2}: triple tie at 1 → H = 0.6, C = 0.6, H/C = 1
    val tied = kw(Seq(("A", 1.0), ("A", 1.0), ("B", 1.0), ("B", 2.0)))
    assert((tied.getLong(2), tied.getLong(3), tied.getLong(4)) ===
      ((600000L, 600000L, 1000000L)))
  }

  test("wilcoxonSignedRank: hand-ranked signed sums, |d| ties share " +
      "doubled midranks, zero differences drop and are counted") {
    import spark.implicits._
    def w(pairs: Seq[(Long, Long)]) = Analytics.wilcoxonSignedRank(
      pairs.toDF("x", "y").repartition(3), "x", "y", bucketWidth = 1.0)
      .collect().head
    // d = +1, −2, +3: ranks 1,2,3 → W2+ = 2+6 = 8, W2− = 4
    val r = w(Seq((2L, 1L), (1L, 3L), (5L, 2L)))
    assert((r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
      r.getLong(4)) === ((3L, 0L, 8L, 4L, 333333L)))
    // d = +1, −1, +2 with one zero pair: tie at |d|=1 shares midrank
    // 1.5 (mid2 = 3) → W2+ = 3+6 = 9, W2− = 3; zero counted apart
    val t = w(Seq((2L, 1L), (1L, 2L), (4L, 2L), (7L, 7L)))
    assert((t.getLong(0), t.getLong(1), t.getLong(2), t.getLong(3),
      t.getLong(4)) === ((3L, 1L, 9L, 3L, 500000L)))
    // ALL differences zero: n_pairs/W must read 0 (not null), zeros
    // counted, rbc null (undefined when W+ + W− = 0)
    val z = w(Seq((5L, 5L), (9L, 9L)))
    assert((z.getLong(0), z.getLong(1), z.getLong(2), z.getLong(3)) ===
      ((0L, 2L, 0L, 0L)))
    assert(z.isNullAt(4))
  }

  test("mcnemar: hand 2x2 table, discordant-only chi-square, " +
      "all-concordant and empty inputs report null statistic") {
    import spark.implicits._
    def m(pairs: Seq[(Boolean, Boolean)]) = Analytics.mcnemar(
      pairs.toDF("x", "y").repartition(3), "x", "y").collect().head
    // both=1, only_x=2, only_y=1, neither=1 → chi2 = 1e6·(2−1)²/3
    val r = m(Seq((true, true), (true, false), (true, false),
      (false, true), (false, false)))
    assert((r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
      r.getLong(4), r.getLong(5)) === ((5L, 1L, 2L, 1L, 1L, 333333L)))
    // all concordant: no discordance → statistic undefined
    val c = m(Seq((true, true), (false, false)))
    assert((c.getLong(0), c.getLong(1), c.getLong(4)) === ((2L, 1L, 1L)))
    assert(c.isNullAt(5))
    // empty input: zeros, null statistic
    val e = m(Seq.empty)
    assert((e.getLong(0), e.getLong(1), e.getLong(2), e.getLong(3),
      e.getLong(4)) === ((0L, 0L, 0L, 0L, 0L)))
    assert(e.isNullAt(5))
  }

  test("friedman: clean separation gives the classical Q, in-block " +
      "ties share doubled midranks, incomplete blocks drop") {
    import spark.implicits._
    def f(rows: Seq[(Long, String, Long)]) = Analytics.friedman(
        rows.toDF("b", "t", "v").repartition(3), "b", "t", "v")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4))).sortBy(_._1).toSeq
    // 2 complete blocks, C > B > A in both → R2 = 4/8/12,
    // Q = 3e6·224/24 − 3e6·8 = 4e6 (classical Q = 4); a third block
    // missing treatment C must drop entirely
    val r = f(Seq(
      (1L, "A", 10L), (1L, "B", 20L), (1L, "C", 30L),
      (2L, "A", 11L), (2L, "B", 21L), (2L, "C", 31L),
      (3L, "A", 99L), (3L, "B", 98L)))
    assert(r === Seq(
      ("A", 4L, 2L, 3L, 4000000L),
      ("B", 8L, 2L, 3L, 4000000L),
      ("C", 12L, 2L, 3L, 4000000L)))
    // an all-tied block hands every treatment doubled midrank 4
    // (positions 1..3 → mean 2); with the ordered block, sums differ
    val t = f(Seq(
      (1L, "A", 5L), (1L, "B", 5L), (1L, "C", 5L),
      (2L, "A", 1L), (2L, "B", 2L), (2L, "C", 3L)))
    assert(t.map(x => (x._1, x._2)) ===
      Seq(("A", 6L), ("B", 8L), ("C", 10L)))
  }

  test("cochranQ: hand-worked 3-block/3-treatment table; degenerate " +
      "all-0/all-1 blocks cancel and a uniform table reports null") {
    import spark.implicits._
    def q(rows: Seq[(Long, String, Boolean)]) = Analytics.cochranQ(
        rows.toDF("b", "t", "f").repartition(3), "b", "t", "f")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getLong(3), if (r.isNullAt(4)) None else Some(r.getLong(4))))
      .sortBy(_._1).toSeq
    // C=(3,2,1), T=6, ΣR²=14, ΣC²=14 → Q = 2·(42−36)/(18−14) = 3
    val base = Seq(
      (1L, "A", true), (1L, "B", true), (1L, "C", false),
      (2L, "A", true), (2L, "B", false), (2L, "C", false),
      (3L, "A", true), (3L, "B", true), (3L, "C", true))
    assert(q(base) === Seq(
      ("A", 3L, 3L, 3L, Some(3000000L)),
      ("B", 2L, 3L, 3L, Some(3000000L)),
      ("C", 1L, 3L, 3L, Some(3000000L))))
    // an extra all-0 block cancels in both terms: Q unchanged
    val padded = base ++ Seq((4L, "A", false), (4L, "B", false),
      (4L, "C", false))
    assert(q(padded).map(_._5) === Seq(Some(3000000L), Some(3000000L),
      Some(3000000L)))
    // uniform table (every block all-1): denominator 0 → null
    val uni = Seq((1L, "A", true), (1L, "B", true),
      (2L, "A", true), (2L, "B", true))
    assert(q(uni).map(_._5) === Seq(None, None))
  }

  test("pageTrend: hand-worked L2 against the exact null expectation; " +
      "forward and reversed hypotheses are mirror images summing to " +
      "2E[L2]") {
    import spark.implicits._
    val rows = Seq(
      (1L, "A", 10L), (1L, "B", 20L), (1L, "C", 30L),
      (2L, "A", 11L), (2L, "B", 21L), (2L, "C", 31L))
    def run(order: Seq[String]) = Analytics.pageTrend(
        rows.toDF("b", "t", "v").repartition(3), "b", "t", "v", order)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(5),
        r.getLong(6), r.getBoolean(7))).sortBy(_._1).toSeq
    // R2 = (4, 8, 12); forward order: L2 = 4+16+36 = 56 > E = 48
    val f = run(Seq("A", "B", "C"))
    assert(f.map(x => (x._1, x._2)) === Seq(("A", 1L), ("B", 2L),
      ("C", 3L)))
    assert(f.forall(x => x._3 === 56L && x._4 === 48L && x._5))
    // reversed: L2 = 12+16+12 = 40 < 48, and 56 + 40 = 2·48
    val r = run(Seq("C", "B", "A"))
    assert(r.forall(x => x._3 === 40L && x._4 === 48L && !x._5))
    // a treatment named in the order with NO data rows must fail
    // loudly — k from the data would shrink while j keeps its original
    // position, silently skewing E[L2] (e.g. weights {1,3} vs 1..2)
    val e = intercept[Exception] { run(Seq("A", "B", "C", "D")) }
    assert(e.getMessage.contains("pageTrend") ||
      Option(e.getCause).exists(_.getMessage.contains("pageTrend")))
  }

  test("jonckheereTerpstra: hand-worked doubled-U sum with ties; " +
      "forward + reversed orders account for every cross pair twice") {
    import spark.implicits._
    val rows = Seq(("A", 1L), ("A", 2L), ("B", 2L), ("B", 3L),
      ("C", 4L))
    def run(order: Seq[String]) = {
      val r = Analytics.jonckheereTerpstra(
        rows.toDF("g", "v").repartition(3), "g", "v", order)
        .collect().head
      (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getBoolean(4))
    }
    // U2(A,B)=7 (one tie), U2(A,C)=4, U2(B,C)=4 → J2=15; E=(25−9)/2=8
    assert(run(Seq("A", "B", "C")) === ((5L, 3L, 15L, 8L, true)))
    // reversal: every cross pair contributes 2 in total across the two
    // directions → J2_fwd + J2_rev = 2·Σ_{i<j} n_i·n_j = 16
    val rev = run(Seq("C", "B", "A"))
    assert(rev._3 === 1L && !rev._5)
  }

  test("fleissKappa: the hand-worked 2-item/3-rater table, and " +
      "perfect agreement reports null kappa (Pe = 1)") {
    import spark.implicits._
    def k(rows: Seq[(Long, String)]) = Analytics.fleissKappa(
      rows.toDF("item", "rating").repartition(3), "item", "rating",
      n = 3).collect().head
    // item 1: a,a,a; item 2: a,b,b → S=14, T=6, Σc²=20:
    // P̄ = 8/12 → 666666, Pe = 20/36 → 555555, κ = 8/32 → 250000
    val r = k(Seq((1L, "a"), (1L, "a"), (1L, "a"),
      (2L, "a"), (2L, "b"), (2L, "b")))
    assert((r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
      r.getLong(4)) === ((2L, 3L, 250000L, 666666L, 555555L)))
    // unanimous single category: Pe = 1, kappa undefined → null
    val u = k(Seq((1L, "a"), (1L, "a"), (1L, "a"),
      (2L, "a"), (2L, "a"), (2L, "a")))
    assert(u.isNullAt(2))
    assert(u.getLong(3) === 1000000L)
    // the exactly-n-ratings-per-item contract is ENFORCED, not assumed:
    // an unsliced input (item 2 has only 2 ratings) fails loudly
    // instead of producing a silently wrong kappa
    val e = intercept[Exception] { k(Seq((1L, "a"), (1L, "a"),
      (1L, "b"), (2L, "a"), (2L, "b"))) }
    assert(e.getMessage.contains("fleissKappa") ||
      Option(e.getCause).exists(_.getMessage.contains("fleissKappa")))
  }

  test("momentsExact: hand-worked 4-point group (mean 3, m2 3.5, " +
      "m3/m2 = 18/14, Pearson kurtosis exactly 2.0); constant group " +
      "reports zero variance and null shape") {
    import spark.implicits._
    val rows = Seq(("a", 1L), ("a", 2L), ("a", 3L), ("a", 6L),
      ("c", 5L), ("c", 5L)).toDF("g", "v").repartition(3)
    val got = Analytics.momentsExact(rows, "g", "v")
      .collect().map(r => r.getString(0) -> r).toMap
    val a = got("a")
    // t = 4v-12 = [-8,-4,0,12]; D2=224, D3=1152, D4=25088
    assert(a.getLong(1) === 4L)
    assert(a.getLong(2) === 3000000L)              // mean
    assert(a.getLong(3) === 3500000L)              // m2 = 224/64
    assert(a.getLong(4) === 1285714L)              // 1e6*1152 div 896
    assert(a.getLong(5) === 2000000L)              // 4*25088/224^2 = 2.0
    val c = got("c")
    assert(c.getLong(1) === 2L && c.getLong(2) === 5000000L)
    assert(c.getLong(3) === 0L)
    assert(c.isNullAt(4) && c.isNullAt(5),
      "constant group: shape undefined, not divide-by-zero")
  }

  test("MomentsState lifecycle: merge == rebuild and serve == the " +
      "in-query operator bit-for-bit; forget == remaining-only " +
      "rebuild; replays no-op; non-subset batch fails loudly") {
    import spark.implicits._
    import graft.operators.MomentsState
    def tmp() = java.nio.file.Files
      .createTempDirectory("graft_moments_spec").toString
    val half1 = Seq(("a", 1L), ("a", 2L), ("b", 7L)).toDF("g", "v")
    val half2 = Seq(("a", 3L), ("a", 6L), ("b", 7L)).toDF("g", "v")
    val full = half1.unionByName(half2)
    val dirM = tmp(); val dirF = tmp()
    MomentsState.build(half1, "g", "v", dirM)
    MomentsState.mergeBatch(spark, half2, "g", "v", dirM, epoch = 0L)
    MomentsState.build(full, "g", "v", dirF)
    def sums(d: String) = MomentsState.storedSums(spark, d)
      .collect().map(_.toSeq).toSet
    assert(sums(dirM) === sums(dirF), "merge must equal rebuild")
    // serve from stored sums == the in-query operator, every column
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (0 until r.length).map(i =>
        if (r.isNullAt(i)) null else r.get(i)).toSeq).toSet
    assert(rows(MomentsState.serve(spark, dirM, "g")) ===
      rows(Analytics.momentsExact(full, "g", "v")),
      "stored serve must reproduce momentsExact bit-for-bit")
    // forget half2: back to exactly half1's state
    MomentsState.removeBatch(spark, half2, "g", "v", dirM, epoch = 1L)
    val h1 = tmp(); MomentsState.build(half1, "g", "v", h1)
    assert(sums(dirM) === sums(h1), "forget must equal remaining rebuild")
    // replayed epoch: no-op
    MomentsState.removeBatch(spark, half2, "g", "v", dirM, epoch = 1L)
    assert(sums(dirM) === sums(h1), "replayed epoch must be a no-op")
    // a batch with a key the state never folded is not a subset; the
    // refused removal leaves nothing persisted
    val left = TestSpark.rddDelta {
      val e = intercept[IllegalArgumentException] {
        MomentsState.removeBatch(spark, Seq(("z", 1L)).toDF("g", "v"),
          "g", "v", dirM, epoch = 2L)
      }
      assert(e.getMessage.contains("not a subset"))
    }
    assert(left == 0, s"the refused removal left $left persisted RDDs")
  }

  test("MomentsState at web-scale values (|v| ~ 1e6): the stored " +
      "power sums hold in decimal(38,0) where the old LongType " +
      "schema wrapped at |v| ~ 55k — serve still equals the " +
      "in-query operator bit-for-bit and forget stays exact") {
    import spark.implicits._
    import graft.operators.MomentsState
    def tmp() = java.nio.file.Files
      .createTempDirectory("graft_moments_wide").toString
    // v^4 ~ 1e24-8e25 per row: a SINGLE row exceeds Long.MaxValue
    // (9.2e18) — two rows of any web-scale metric in the millions
    // would have wrapped the long-typed state silently
    val wide = Seq(("a", 1000000L), ("a", 2000003L), ("a", -1500007L),
      ("a", 3000011L), ("b", 60000L), ("b", -60001L), ("b", 60002L))
      .toDF("g", "v")
    val dir = tmp()
    MomentsState.build(wide, "g", "v", dir)
    val s4a = MomentsState.storedSums(spark, dir)
      .filter(col("_k") === "a").collect()(0).getDecimal(5)
    assert(s4a.toBigInteger.compareTo(
      java.math.BigInteger.valueOf(Long.MaxValue)) > 0,
      "stored S4 must exceed long capacity — proof the decimal " +
        "schema holds what the old bound could not")
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (0 until r.length).map(i =>
        if (r.isNullAt(i)) null else r.get(i)).toSeq).toSet
    assert(rows(MomentsState.serve(spark, dir, "g")) ===
      rows(Analytics.momentsExact(wide, "g", "v")),
      "wide-value serve must reproduce momentsExact bit-for-bit")
    // forget the two largest-magnitude rows: subtraction stays exact
    // above long range, and the negative-S4 subset guard still sees
    // true (unwrapped) signs
    val gone = wide.filter($"v" > 1999999L)
    MomentsState.removeBatch(spark, gone, "g", "v", dir, epoch = 0L)
    val remain = wide.filter($"v" <= 1999999L)
    val dirR = tmp(); MomentsState.build(remain, "g", "v", dirR)
    def sums(d: String) = MomentsState.storedSums(spark, d)
      .collect().map(_.toSeq).toSet
    assert(sums(dir) === sums(dirR),
      "wide-value forget must equal the remaining-only rebuild")
  }

  // ---- CBO statistics audits ----

  test("selectivityAudit: exact on aligned uniform buckets") {
    import spark.implicits._
    // 1..100, 10 buckets of exactly 10 consecutive ints: bucket spans
    // align with the data, so interpolation is exact and err_ppm = 0
    val df = (1L to 100L).toDF("v")
    val r = Analytics.selectivityAudit(df, "v", Seq("v"), 10, 11L, 30L)
      .collect()(0)
    assert(r.getAs[Long]("n_rows") === 100L)
    assert(r.getAs[Long]("n_buckets") === 10L)
    assert(r.getAs[Long]("est_rows") === 20L)
    assert(r.getAs[Long]("actual_rows") === 20L)
    assert(r.getAs[Long]("err_ppm") === 0L)
  }

  test("selectivityAudit: within-bucket skew drives a signed error") {
    import spark.implicits._
    // one bucket spanning [1,100] holds 9 rows at 1 and one at 100;
    // uniform interpolation prices [90,100] at 10 of 100 slots ⇒
    // 10% of 10 rows = 1 row estimated, but actually 1 row too —
    // pick [2,99] instead: est = 98% of 10 ≈ 9 rows, actual 0
    val df = (Seq.fill(9)(1L) ++ Seq(100L)).toDF("v")
    val r = Analytics.selectivityAudit(df, "v", Seq("v"), 1, 2L, 99L)
      .collect()(0)
    assert(r.getAs[Long]("actual_rows") === 0L)
    assert(r.getAs[Long]("est_rows") === 9L)
    assert(r.getAs[Long]("err_ppm") === 980000L)
  }

  test("joinCardinalityAudit: hand-counted skew gap") {
    import spark.implicits._
    val left = Seq("a", "a", "a", "b").toDF("k")
    val right = Seq("a", "b", "b").toDF("k")
    val r = Analytics.joinCardinalityAudit(left, "k", right, "k")
      .collect()(0)
    assert(r.getAs[Long]("n_left") === 4L)
    assert(r.getAs[Long]("n_right") === 3L)
    assert(r.getAs[Long]("ndv_left") === 2L)
    assert(r.getAs[Long]("ndv_right") === 2L)
    assert(r.getAs[Long]("est_rows") === 6L)    // 4·3 / 2
    assert(r.getAs[Long]("actual_rows") === 5L) // 3·1 + 1·2
    assert(r.getAs[Long]("est_over_actual_ppm") === 1200000L)
  }

  test("joinCardinalityAudit: disjoint keys — estimate blind, actual 0") {
    import spark.implicits._
    val r = Analytics.joinCardinalityAudit(
      Seq("a", "b").toDF("k"), "k", Seq("c", "d").toDF("k"), "k")
      .collect()(0)
    assert(r.getAs[Long]("actual_rows") === 0L)
    assert(r.getAs[Long]("est_rows") === 2L) // the NDV rule can't see it
  }

  test("independenceAudit: independent pair reads lift 1e6, nested pair n/n_b") {
    import spark.implicits._
    // balanced 2×2: A and B independent by construction
    val ind = Seq((1, 1), (1, 0), (0, 1), (0, 0)).toDF("a", "b")
    val r1 = Analytics.independenceAudit(ind,
      col("a") === 1, col("b") === 1).collect()(0)
    assert(r1.getAs[Long]("indep_est_ppm") === 250000L)
    assert(r1.getAs[Long]("actual_ppm") === 250000L)
    assert(r1.getAs[Long]("lift_ppm") === 1000000L)
    // nested: A ⊆ B with P(A)=1/4, P(B)=1/2 ⇒ lift = 1/P(B) = 2
    val nest = Seq((1, 1), (0, 1), (0, 0), (0, 0)).toDF("a", "b")
    val r2 = Analytics.independenceAudit(nest,
      col("a") === 1, col("b") === 1).collect()(0)
    assert(r2.getAs[Long]("indep_est_ppm") === 125000L)
    assert(r2.getAs[Long]("actual_ppm") === 250000L)
    assert(r2.getAs[Long]("lift_ppm") === 2000000L)
    // empty predicate: lift is NULL, not a division error
    val r3 = Analytics.independenceAudit(nest,
      col("a") === 9, col("b") === 1).collect()(0)
    assert(r3.isNullAt(r3.fieldIndex("lift_ppm")))
  }

  test("selectivityAuditStale: unseen range estimates zero, prefix range exact") {
    import spark.implicits._
    val truth = (1L to 200L).toDF("v")
    val stats = truth.filter(col("v") <= 100)
    // predicate entirely beyond the stale histogram: est 0, truth 100
    val r = Analytics.selectivityAuditStale(stats, truth, "v",
      Seq("v"), 10, 101L, 200L).collect()(0)
    assert(r.getAs[Long]("n_stats") === 100L)
    assert(r.getAs[Long]("n_rows") === 200L)
    assert(r.getAs[Long]("est_rows") === 0L)
    assert(r.getAs[Long]("actual_rows") === 100L)
    assert(r.getAs[Long]("err_ppm") === -500000L)
    // predicate inside the stale histogram: interpolation still exact
    val r2 = Analytics.selectivityAuditStale(stats, truth, "v",
      Seq("v"), 10, 91L, 100L).collect()(0)
    assert(r2.getAs[Long]("est_ppm") === 100000L) // 10 of 100 stats rows
    assert(r2.getAs[Long]("est_rows") === 20L)    // scaled to 200 truth
    assert(r2.getAs[Long]("actual_rows") === 10L) // truth added no 91..100
    assert(r2.getAs[Long]("err_ppm") === 50000L)
  }

  test("ndvEstimateAudit: full sample with no singletons is exact") {
    import spark.implicits._
    // every key appears 3 times ⇒ f1 = f2 = 0 ⇒ Chao1 = d = exact
    val df = (1L to 30L).map(i => (i, s"k${i % 10}"))
      .toDF("id", "k")
    val r = Analytics.ndvEstimateAudit(df, "k", Seq("id"), 1000000)
      .collect()(0)
    assert(r.getAs[Long]("sample_rows") === 30L)
    assert(r.getAs[Long]("f1") === 0L && r.getAs[Long]("f2") === 0L)
    assert(r.getAs[Long]("ndv_est") === 10L)
    assert(r.getAs[Long]("ndv_exact") === 10L)
    assert(r.getAs[Long]("est_over_exact_ppm") === 1000000L)
  }

  test("ndvEstimateAudit: the md5 sample is deterministic") {
    import spark.implicits._
    val df = (1L to 500L).map(i => (i, s"k${i % 97}")).toDF("id", "k")
    val a = Analytics.ndvEstimateAudit(df, "k", Seq("id"), 300000)
      .collect()(0)
    val b = Analytics.ndvEstimateAudit(df, "k", Seq("id"), 300000)
      .collect()(0)
    assert(a.toSeq === b.toSeq)
    assert(a.getAs[Long]("sample_rows") > 0L)
    assert(a.getAs[Long]("ndv_est") >= a.getAs[Long]("d_sample"))
  }

  test("cmsJoinSizeAudit: single key exact, guarantee holds, empty join NULL-safe") {
    import spark.implicits._
    // one key: no collision is possible at any width ⇒ est exact
    val l = Seq.fill(4)("a").toDF("k")
    val r1 = Analytics.cmsJoinSizeAudit(l, "k", l, "k", 4, 16)
      .collect()(0)
    assert(r1.getAs[Long]("est_rows") === 16L)
    assert(r1.getAs[Long]("actual_rows") === 16L)
    assert(r1.getAs[Boolean]("guarantee_holds"))
    // skewed multi-key self-join: never undercounts
    val e = (Seq.fill(9)("hot") ++ Seq("c1", "c2", "c3")).toDF("k")
    val r2 = Analytics.cmsJoinSizeAudit(e, "k", e, "k", 4, 8)
      .collect()(0)
    assert(r2.getAs[Long]("actual_rows") === 84L) // 81 + 3
    assert(r2.getAs[Long]("est_rows") >= 84L)
    assert(r2.getAs[Boolean]("guarantee_holds"))
    // disjoint keys: actual 0, ratio NULL, no division error
    val r3 = Analytics.cmsJoinSizeAudit(
      Seq("x").toDF("k"), "k", Seq("y").toDF("k"), "k", 4, 16)
      .collect()(0)
    assert(r3.getAs[Long]("actual_rows") === 0L)
    assert(r3.isNullAt(r3.fieldIndex("est_over_actual_ppm")))
    assert(r3.getAs[Boolean]("guarantee_holds"))
  }
}
