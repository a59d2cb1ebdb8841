package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.operators.{Graph, Similarity}

/** Graph analytics: PageRank recurrence pinned against an independent
  * in-test reference implementation (same scaled-integer arithmetic,
  * computed with plain Scala Long division), triangle counts against
  * hand-enumerable graphs, JL projection against the sign formula.
  */
class GraphSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  // ---- PageRank ----

  /** Independent replay of the pageRankExact recurrence (Map-based,
    * single-threaded) — any drift between the distributed plan and the
    * declared arithmetic fails the comparison tests. */
  private def prRef(edges: Seq[(Long, Long)], iters: Int,
      scale: Long = 1000000000000L): Map[Long, Long] = {
    val es = edges.distinct
    val nodes = (es.map(_._1) ++ es.map(_._2)).distinct
    val n = nodes.size
    val od = es.groupBy(_._1).map { case (k, v) => k -> v.size.toLong }
    var r = nodes.map(_ -> scale / n).toMap
    for (_ <- 1 to iters) {
      val contrib = es.groupBy(_._2).map { case (dst, in) =>
        dst -> in.map { case (u, _) => r(u) / od(u) }.sum
      }
      val dang = nodes.filterNot(od.contains).map(r).sum
      r = nodes.map { v =>
        v -> ((15L * (scale / n)) / 100
          + (85L * (contrib.getOrElse(v, 0L) + dang / n)) / 100)
      }.toMap
    }
    r
  }

  private def prRun(edges: Seq[(Long, Long)], iters: Int): Map[Long, Long] = {
    import spark.implicits._
    Graph.pageRankExact(edges.toDF("s", "t"), "s", "t", iters)
      .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
  }

  test("pageRankExact matches the reference recurrence (cycle + dangling)") {
    // 1→2, 1→3, 2→3, 3→1 cycle, plus 2→4 where 4 is dangling
    val edges = Seq((1L, 2L), (1L, 3L), (2L, 3L), (3L, 1L), (2L, 4L))
    for (iters <- Seq(1, 3))
      assert(prRun(edges, iters) === prRef(edges, iters),
        s"iters=$iters")
  }

  test("pageRankExact: star center out-ranks leaves; dedup input edges") {
    // leaves 2..6 all point at 1 (and 1 points back at 2 so the graph
    // has non-dangling mass); duplicated edges must collapse
    val edges = Seq((2L, 1L), (3L, 1L), (4L, 1L), (5L, 1L), (6L, 1L),
      (1L, 2L), (2L, 1L), (3L, 1L))
    val got = prRun(edges, 2)
    assert(got === prRef(edges, 2))
    assert(got(1L) > got(3L), s"star center must out-rank a leaf: $got")
  }

  test("pageRankExact: symmetric graph conserves mass (no dangling leak)") {
    // undirected triangle as 6 directed edges: no dangling nodes, so
    // per-iteration loss is only floor-division dust (< N units per term)
    val und = Seq((1L, 2L), (2L, 3L), (1L, 3L))
    val edges = und ++ und.map(_.swap)
    val got = prRun(edges, 3)
    assert(got === prRef(edges, 3))
    val total = got.values.sum
    assert(total > 999999999000L && total <= 1000000000000L,
      s"mass after 3 rounds: $total")
  }

  // ---- Triangle counting ----

  private def triRun(pairs: Seq[(Long, Long)]): Map[Long, Long] = {
    import spark.implicits._
    Graph.triangleCounts(pairs.toDF("a", "b"), "a", "b")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
  }

  test("bfsLevels: path-graph distances exact, round cap truncates, " +
      "disconnected nodes absent, multi-source takes the nearer seed") {
    import spark.implicits._
    // path 1-2-3-4-5, disconnected edge 8-9
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L), (8L, 9L))
      .toDF("a", "b")
    val d = Graph.bfsLevels(edges, "a", "b", Seq(1L).toDF("n"),
        maxRounds = 10)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(d === Map(1L -> 0L, 2L -> 1L, 3L -> 2L, 4L -> 3L, 5L -> 4L))
    // round cap: only 2 hops explored
    val capped = Graph.bfsLevels(edges, "a", "b", Seq(1L).toDF("n"),
        maxRounds = 2)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(capped === Map(1L -> 0L, 2L -> 1L, 3L -> 2L))
    // two seeds: each node settles at its NEARER distance
    val multi = Graph.bfsLevels(edges, "a", "b", Seq(1L, 5L).toDF("n"),
        maxRounds = 10)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(multi === Map(1L -> 0L, 5L -> 0L, 2L -> 1L, 4L -> 1L, 3L -> 2L))
  }

  test("hashWalks: every step follows a real edge, walks invariant " +
      "under input partitioning") {
    import spark.implicits._
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 4L), (1L, 4L), (2L, 4L))
      .toDF("a", "b")
    val adj = (edges.collect().map(r => (r.getLong(0), r.getLong(1))) ++
      edges.collect().map(r => (r.getLong(1), r.getLong(0))))
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    def walks(df: org.apache.spark.sql.DataFrame) =
      Graph.hashWalks(df, "a", "b", steps = 3).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
        .sortBy(_._1)
    val w = walks(edges)
    assert(w.map(_._1).toSet === Set(1L, 2L, 3L, 4L),
      "one walk per node with an edge")
    w.foreach { case (s, n1, n2, n3) =>
      assert(adj(s).contains(n1) && adj(n1).contains(n2) &&
        adj(n2).contains(n3), s"walk ($s,$n1,$n2,$n3) left the graph")
    }
    assert(walks(edges.repartition(7)).sameElements(w),
      "walks must be a pure function of the graph")
  }

  test("triangleCounts: single triangle + pendant edge") {
    val got = triRun(Seq((1L, 2L), (2L, 3L), (1L, 3L), (3L, 4L)))
    assert(got === Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 0L))
  }

  test("triangleCounts: K4 — every node in 3 triangles, direction/dups ignored") {
    val k4 = Seq((1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L), (3L, 4L))
    // feed reversed duplicates and a self-loop; normalization must absorb them
    val noisy = k4 ++ k4.map(_.swap) ++ Seq((2L, 2L))
    val got = triRun(noisy)
    assert(got === Map(1L -> 3L, 2L -> 3L, 3L -> 3L, 4L -> 3L))
  }

  test("triangleCounts: bipartite graph has none") {
    val got = triRun(Seq((1L, 10L), (1L, 11L), (2L, 10L), (2L, 11L)))
    assert(got.values.forall(_ == 0L) && got.size == 4)
  }

  test("triangleCounts: skewed hub — only closed wedges count") {
    // hub 1 connects to 2..7; single closing edge (2,3) → exactly one
    // triangle even though the hub's wedge fan-out is C(6,2)
    val edges = (2L to 7L).map(v => (1L, v)) :+ (2L, 3L)
    val got = triRun(edges)
    assert(got(1L) == 1L && got(2L) == 1L && got(3L) == 1L)
    assert((4L to 7L).forall(got(_) == 0L))
  }

  // ---- JL projection ----

  private def jlSign(i: Int, j: Int, outDims: Int): Long = {
    val v = (1103515245L * (i * outDims + j) + 12345L) % 2147483648L
    if ((v / 65536L) % 2L == 0L) 1L else -1L
  }

  test("jlProject matches the declared sign formula on a hand vector") {
    import spark.implicits._
    val df = Seq((7L, Array(1.0f, -0.5f, 0.25f))).toDF("id", "v")
    val got = Similarity.jlProject(df, "id", "v", outDims = 4)
      .collect().map(r => r.getLong(1) -> r.getLong(2)).toMap
    val xq = Seq(1000000L, -500000L, 250000L)
    val want = (0 until 4).map { j =>
      j.toLong -> xq.zipWithIndex.map { case (x, i) =>
        x * jlSign(i, j, 4) }.sum
    }.toMap
    assert(got === want)
  }

  test("jlProject on real embeddings: exact vs driver-side replay") {
    import spark.implicits._
    val e = Tables.embeddings(spark, "/root/testdata/sf0.001").limit(20)
    val got = Similarity.jlProject(e, "vec_id", "embedding", outDims = 8)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    val rows = e.select("vec_id", "embedding").collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val id = r.getLong(0)
      val vec = r.getSeq[Float](1)
      (0 until 8).foreach { j =>
        val want = vec.zipWithIndex.map { case (x, i) =>
          val xq = java.math.BigDecimal.valueOf(x.toDouble * 1e6)
            .setScale(0, java.math.RoundingMode.HALF_UP).longValue
          xq * jlSign(i, j, 8)
        }.sum
        assert(got((id, j.toLong)) === want, s"id=$id j=$j")
      }
    }
  }

  // ---- bounded k-core peel ----

  private def kcoreRun(edges: Seq[(Long, Long)], k: Int,
      rounds: Int): Map[Long, Long] = {
    import spark.implicits._
    Graph.kCore(edges.toDF("a", "b"), "a", "b", k, rounds)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
  }

  test("kCore peels a tail off a clique round by round") {
    // K4 on 1..4 plus a path 4-5-6: 5 and 6 never reach degree 2 core?
    // deg(5)=2 (4,6), deg(6)=1. Round 1 drops 6; round 2 drops 5 (deg 1
    // after losing 6); K4 survives with degree 3 each.
    val k4 = Seq((1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L), (3L, 4L))
    val tail = Seq((4L, 5L), (5L, 6L))
    val edges = k4 ++ tail
    assert(kcoreRun(edges, k = 2, rounds = 8) ===
      Map(1L -> 3L, 2L -> 3L, 3L -> 3L, 4L -> 3L))
    // bounded-round semantics: after exactly ONE round only 6 is gone,
    // 5 still qualifies (its degree was 2 before 6 peeled)
    assert(kcoreRun(edges, k = 2, rounds = 1).keySet ===
      Set(1L, 2L, 3L, 4L, 5L))
    // 4-core of K4 is empty (max degree 3); peel must terminate empty
    assert(kcoreRun(k4, k = 4, rounds = 8) === Map.empty[Long, Long])
    // direction/duplicate normalization: reversed + repeated edges
    val messy = edges ++ edges.map { case (a, b) => (b, a) }
    assert(kcoreRun(messy, k = 2, rounds = 8) ===
      kcoreRun(edges, k = 2, rounds = 8))
  }

  // ---- negativeSamples ----

  test("negativeSamples: no emitted pair is an edge or self-loop, slots " +
      "are contiguous from 1, negatives are real nodes, and the draw is " +
      "partition-invariant") {
    import spark.implicits._
    val edges = (for (s <- 1L to 6L; d <- 1L to 4L if (s + d) % 3 != 0)
      yield (s, d * 100L)).toDF("src", "dst")
    val edgeSet = edges.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val dstSet = edgeSet.map(_._2)
    def run(part: Int) = graft.operators.Graph
      .negativeSamples(edges.repartition(part), "src", "dst", k = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
      .sortBy(t => (t._1, t._3))
    val got = run(1)
    assert(got.nonEmpty)
    got.foreach { case (s, nd, _) =>
      assert(!edgeSet.contains((s, nd)), s"($s,$nd) is a real edge")
      assert(nd != s, "self-loop emitted")
      assert(dstSet.contains(nd), s"negative $nd is not an observed node")
    }
    // slots contiguous per src, at most k, no duplicate (src, dst)
    got.groupBy(_._1).foreach { case (s, rows) =>
      assert(rows.map(_._3).toSeq == (1 to rows.length),
        s"non-contiguous slots for $s")
      assert(rows.length <= 2)
      assert(rows.map(_._2).distinct.length == rows.length,
        s"duplicate negative for $s")
    }
    assert(run(5).toSeq == got.toSeq, "draw must be partition-invariant")
  }

  // ---- personalizedPageRank ----

  test("personalizedPageRank: mass stays in the seed's component, decays " +
      "with distance, and is conserved up to floor leakage") {
    import spark.implicits._
    // chain 1->2->3 (3 dangling) plus a disconnected pair 4->5
    val edges = Seq((1L, 2L), (2L, 3L), (4L, 5L)).toDF("src", "dst")
    val seeds = Seq(1L).toDF("node")
    val got = graft.operators.Graph
      .personalizedPageRank(edges, "src", "dst", seeds, iters = 3)
      .collect().map(r => r.getLong(0) -> (r.getLong(2), r.getLong(3)))
      .toMap
    assert(got(4)._2 == 0L && got(5)._2 == 0L,
      s"mass leaked outside the seed component: $got")
    assert(got(1)._1 == 1L && got(2)._1 == 0L, "is_seed flags wrong")
    assert(got(1)._2 > got(2)._2 && got(2)._2 > got(3)._2 &&
      got(3)._2 > 0L, s"rank must decay with distance from seed: $got")
    val total = got.values.map(_._2).sum
    val scale = 1000000000000L
    assert(total <= scale && total > (scale * 9) / 10,
      s"mass not conserved: $total of $scale")
  }

  // ---- coOccurrence (degree-capped bipartite projection) ----

  test("coOccurrence: hub user capped to its top-m items, pair counts " +
      "and containment exact, invariant under partitioning") {
    import spark.implicits._
    // users 1..3 each touch items {10, 20}; hub user 9 touches items
    // 10..15 once each BUT item 10 twice (rank: 10 first by count, then
    // 11, 12 by id) — with cap 3 the hub contributes pairs only among
    // {10, 11, 12}
    val rows =
      (for (u <- 1L to 3L; i <- Seq(10L, 20L)) yield (u, i)) ++
        (11L to 15L).map(i => (9L, i)) :+ ((9L, 10L)) :+ ((9L, 10L))
    val df = rows.toDF("u", "i")
    for (p <- Seq(1, 5)) {
      val got = graft.operators.Graph
        .coOccurrence(df.repartition(p), "u", "i", capM = 3,
          minCount = 1L)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
          r.getLong(3))).sortBy(t => (t._1, t._2))
      // capped sets: u1..u3 -> {10,20}; u9 -> {10,11,12}
      // pairs: (10,20)x3, (10,11), (10,12), (11,12)
      // degrees (capped): 10->4, 20->3, 11->1, 12->1
      assert(got.toSeq == Seq(
        (10L, 11L, 1L, 1000000L),  // 1*1e6 div min(4,1)
        (10L, 12L, 1L, 1000000L),
        (10L, 20L, 3L, 1000000L),  // 3*1e6 div min(4,3)
        (11L, 12L, 1L, 1000000L)), s"partitions=$p: ${got.toSeq}")
    }
    // minCount prunes singleton pairs
    val pruned = graft.operators.Graph
      .coOccurrence(df, "u", "i", capM = 3, minCount = 2L)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(pruned.toSeq == Seq((10L, 20L)))
  }

  test("labelPropagation: two cliques joined by a bridge settle on " +
      "separate plurality labels — the bridge cannot win a vote; " +
      "partition-invariant") {
    import spark.implicits._
    // K4 on {1..4}, K4 on {10..13}, bridge 4–10
    def k4(ns: Seq[Long]) =
      for (a <- ns; b <- ns if a < b) yield (a, b)
    val edges = (k4(Seq(1L, 2L, 3L, 4L)) ++ k4(Seq(10L, 11L, 12L, 13L))
      :+ ((4L, 10L)))
    for (parts <- Seq(1, 7)) {
      val df = edges.toDF("a", "b").repartition(parts)
      val got = Graph.labelPropagation(df, "a", "b", rounds = 3)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(Seq(1L, 2L, 3L, 4L).forall(got(_) == 1L), got)
      assert(Seq(10L, 11L, 12L, 13L).forall(got(_) == 10L), got)
    }
  }

  test("linkPrediction: distance-2 pairs scored by neighborhood " +
      "Jaccard; adjacent pairs are never candidates") {
    import spark.implicits._
    // path 1–2–3 plus K4-minus-one-edge on {5,6,7,8} (missing 5–8)
    val edges = Seq((1L, 2L), (2L, 3L),
      (5L, 6L), (5L, 7L), (6L, 7L), (6L, 8L), (7L, 8L))
    val got = Graph.linkPrediction(edges.toDF("a", "b"), "a", "b", 10)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3)))
    // (1,3): common {2}, d1=1, d3=1 -> 1e6; (5,8): common {6,7},
    // d5=2, d8=2 -> 1e6*2 div 2 = 1e6; nothing else at distance 2
    assert(got.toSet === Set((1L, 3L, 1L, 1000000L),
      (5L, 8L, 2L, 1000000L)), got.toSeq)
    // no emitted pair is an edge
    val eset = edges.toSet
    assert(!got.exists(p => eset.contains((p._1, p._2))))
  }

  // ---- HITS ----

  /** Independent BigInt replay of the hitsExact recurrence (auth(t)
    * from hub(t-1), then hub(t) from auth(t), L1 floor-normalized). */
  private def hitsRef(edges: Seq[(Long, Long)], iters: Int,
      scale: Long = 1000000000L): Map[Long, (Long, Long)] = {
    val es = edges.distinct
    val nodes = (es.map(_._1) ++ es.map(_._2)).distinct
    var auth = nodes.map(_ -> scale).toMap
    var hub = nodes.map(_ -> scale).toMap
    for (_ <- 1 to iters) {
      val rawA = nodes.map(v =>
        v -> es.filter(_._2 == v).map(e => hub(e._1)).sum).toMap
      val ta = rawA.values.foldLeft(BigInt(0))(_ + _)
      auth = nodes.map(v => v -> (if (ta == 0) 0L
        else (BigInt(scale) * rawA(v) / ta).toLong)).toMap
      val rawH = nodes.map(v =>
        v -> es.filter(_._1 == v).map(e => auth(e._2)).sum).toMap
      val th = rawH.values.foldLeft(BigInt(0))(_ + _)
      hub = nodes.map(v => v -> (if (th == 0) 0L
        else (BigInt(scale) * rawH(v) / th).toLong)).toMap
    }
    nodes.map(v => v -> ((auth(v), hub(v)))).toMap
  }

  private def hitsRun(edges: Seq[(Long, Long)],
      iters: Int): Map[Long, (Long, Long)] = {
    import spark.implicits._
    Graph.hitsExact(edges.toDF("s", "t"), "s", "t", iters)
      .collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
  }

  test("hitsExact matches the reference recurrence (mixed-role graph)") {
    // 1,2 point at 3,4; 3 also points at 4 (so 3 is hub AND authority);
    // the duplicated edge must collapse
    val edges = Seq((1L, 3L), (1L, 4L), (2L, 3L), (3L, 4L), (1L, 3L))
    for (iters <- Seq(1, 3))
      assert(hitsRun(edges, iters) === hitsRef(edges, iters),
        s"iters=$iters")
  }

  test("hitsExact: bipartite roles separate; L1 mass bounded by scale") {
    val edges = Seq((1L, 10L), (1L, 11L), (2L, 10L), (3L, 11L), (3L, 12L))
    val got = hitsRun(edges, 2)
    assert(got === hitsRef(edges, 2))
    // pure sources carry no authority; pure sinks carry no hub mass
    for (src <- Seq(1L, 2L, 3L)) assert(got(src)._1 === 0L, s"src $src")
    for (dst <- Seq(10L, 11L, 12L)) assert(got(dst)._2 === 0L, s"dst $dst")
    // L1 normalization: mass never exceeds scale, floor dust only
    val authTot = got.values.map(_._1).sum
    val hubTot = got.values.map(_._2).sum
    assert(authTot <= 1000000000L && authTot > 999999990L, s"$authTot")
    assert(hubTot <= 1000000000L && hubTot > 999999990L, s"$hubTot")
    // the hub covering both heavy authorities out-hubs the single-edge one
    assert(got(1L)._2 > got(2L)._2, got.toString)
  }

  // ---- pathLinearize ----

  test("pathLinearize: forest paths, roots, depths, leaf flags") {
    val spark2 = spark
    import spark2.implicits._
    // forest: 1 (parent missing), 2->1, 3->1, 4->2, 5->4; 6 self-loop
    val nodes = Seq((1L, 0L), (2L, 1L), (3L, 1L), (4L, 2L), (5L, 4L),
      (6L, 6L)).toDF("id", "parent")
      .withColumn("content", org.apache.spark.sql.functions.concat(
        org.apache.spark.sql.functions.lit("c"),
        org.apache.spark.sql.functions.col("id")))
    val got = Graph.pathLinearize(nodes, "id", "parent", "content")
      .collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getString(2),
        r.getLong(3), r.getBoolean(4))))
      .toMap
    assert(got(1L) === ((1L, "c1", 1L, false)))
    assert(got(3L) === ((1L, "c1 | c3", 2L, true)))
    assert(got(5L) === ((1L, "c1 | c2 | c4 | c5", 4L, true)))
    assert(got(6L) === ((6L, "c6", 1L, true)), "self-loop is a root")
  }

  test("pathLinearize: 20-deep chain resolves in log rounds; " +
      "exceeding maxDepth fails loudly") {
    val spark2 = spark
    import spark2.implicits._
    val chain = (1L to 20L).map(i => (i, i - 1))
      .toDF("id", "parent")
      .withColumn("content", org.apache.spark.sql.functions.concat(
        org.apache.spark.sql.functions.lit("m"),
        org.apache.spark.sql.functions.col("id")))
    val got = Graph.pathLinearize(chain, "id", "parent", "content",
        " | ", 32)
      .collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getString(2),
        r.getLong(3), r.getBoolean(4))))
      .toMap
    assert(got(20L)._3 === 20L)
    assert(got(20L)._2 === (1L to 20L).map("m" + _).mkString(" | "))
    assert(got(20L)._4 === true)
    assert(got(1L) === ((1L, "m1", 1L, false)))
    intercept[IllegalArgumentException] {
      Graph.pathLinearize(chain, "id", "parent", "content", " | ", 4)
        .collect()
    }
  }

  // ---- RecModel lifecycle ----

  test("RecModel: stored serve ranks like coOccurrence, anchors are " +
      "per-user strongest items, rebuild is a fingerprinted no-op") {
    val spark2 = spark
    import spark2.implicits._
    import graft.operators.RecModel
    // u1: items 1,2 ; u2: 1,2,3 ; u3: 2,3 ; u4: 1 (x2, anchor weight)
    val inter = Seq((1L, 1L), (1L, 2L), (2L, 1L), (2L, 2L), (2L, 3L),
      (3L, 2L), (3L, 3L), (4L, 1L), (4L, 1L)).toDF("user_id", "item")
    val dir = java.nio.file.Files
      .createTempDirectory("graft_rec_spec").toString
    RecModel.buildIfAbsent(inter, "user_id", "item", 10, 1L, dir, "t1")
    val anchors = spark2.read.parquet(RecModel.anchorsPath(dir))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // all weights tie at 1 except u4 -> smallest item wins ties
    assert(anchors === Map(1L -> 1L, 2L -> 1L, 3L -> 2L, 4L -> 1L))
    val recs = RecModel.serveTopK(spark2, dir, "user_id", 2)
      .collect().map(r => (r.getLong(0), r.getInt(2)) -> r.getLong(1))
      .toMap
    // pairs: (1,2):2 users, (1,3):1, (2,3):2 -> from anchor 1:
    // nb 2 (n=2) then nb 3 (n=1); from anchor 2: nb 1 (n=2), nb 3 (n=2)
    assert(recs((1L, 1)) === 2L && recs((1L, 2)) === 3L)
    assert(recs((3L, 1)) === 1L && recs((3L, 2)) === 3L)
    // same tag -> no retrain even with different data handed in
    RecModel.buildIfAbsent(inter.limit(0), "user_id", "item", 10, 1L,
      dir, "t1")
    val again = RecModel.serveTopK(spark2, dir, "user_id", 2)
      .collect().length
    assert(again === 8, "fingerprint must have skipped the rebuild")
  }

  test("RecModel.mergeBatch: disjoint-user merge equals full rebuild; " +
      "replayed epoch is a no-op") {
    val spark2 = spark
    import spark2.implicits._
    import graft.operators.RecModel
    val half1 = Seq((1L, 1L), (1L, 2L), (2L, 1L), (2L, 2L), (2L, 3L))
      .toDF("user_id", "item")
    val half2 = Seq((3L, 2L), (3L, 3L), (4L, 1L), (4L, 3L))
      .toDF("user_id", "item")
    val dirM = java.nio.file.Files
      .createTempDirectory("graft_rec_merge").toString
    val dirF = java.nio.file.Files
      .createTempDirectory("graft_rec_full").toString
    RecModel.build(half1, "user_id", "item", 10, 1L, dirM)
    RecModel.mergeBatch(spark2, half2, "user_id", "item", 10, 1L,
      dirM, epoch = 7L)
    RecModel.build(half1.unionByName(half2), "user_id", "item",
      10, 1L, dirF)
    def dump(dir: String) = RecModel.serveTopK(spark2, dir, "user_id", 10)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
      .sortBy(identity).toSeq
    assert(dump(dirM) === dump(dirF), "merge must equal rebuild")
    val simsBefore = spark2.read.parquet(RecModel.simsPath(dirM))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      .sortBy(identity).toSeq
    // replay the same epoch: state must not move
    RecModel.mergeBatch(spark2, half2, "user_id", "item", 10, 1L,
      dirM, epoch = 7L)
    val simsAfter = spark2.read.parquet(RecModel.simsPath(dirM))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      .sortBy(identity).toSeq
    assert(simsAfter === simsBefore, "replayed epoch must be a no-op")
    intercept[IllegalArgumentException] {
      RecModel.mergeBatch(spark2, half2, "user_id", "item", 10, 2L,
        dirM, epoch = 8L)
    }
  }

  test("RecModel.removeBatch: user forget equals remaining-only rebuild " +
      "(sims AND anchors); non-subset batch fails loudly; replayed " +
      "epoch is a no-op") {
    val spark2 = spark
    import spark2.implicits._
    import graft.operators.RecModel
    val keep = Seq((1L, 1L), (1L, 2L), (2L, 1L), (2L, 2L), (2L, 3L))
      .toDF("user_id", "item")
    val gone = Seq((3L, 2L), (3L, 3L), (4L, 1L), (4L, 3L))
      .toDF("user_id", "item")
    val dirM = java.nio.file.Files
      .createTempDirectory("graft_rec_forget").toString
    val dirR = java.nio.file.Files
      .createTempDirectory("graft_rec_forget_rb").toString
    RecModel.build(keep.unionByName(gone), "user_id", "item", 10, 1L,
      dirM)
    RecModel.removeBatch(spark2, gone, "user_id", "item", 10, 1L,
      dirM, epoch = 3L)
    RecModel.build(keep, "user_id", "item", 10, 1L, dirR)
    def sims(dir: String) = spark2.read.parquet(RecModel.simsPath(dir))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      .sortBy(identity).toSeq
    def anchors(dir: String) = spark2.read
      .parquet(RecModel.anchorsPath(dir))
      .collect().map(r => (r.getLong(0), r.getLong(1))).sortBy(identity)
      .toSeq
    assert(sims(dirM) === sims(dirR), "forget must equal rebuild (sims)")
    assert(anchors(dirM) === anchors(dirR),
      "purged users' anchors must leave with them")
    assert(!anchors(dirM).exists(a => a._1 === 3L || a._1 === 4L))
    // replayed epoch: state must not move
    val before = sims(dirM)
    RecModel.removeBatch(spark2, gone, "user_id", "item", 10, 1L,
      dirM, epoch = 3L)
    assert(sims(dirM) === before, "replayed epoch must be a no-op")
    // a batch with pairs the model never trained on is not a training
    // subset — the full-outer guard sees the negative count and fires
    val alien = Seq((9L, 7L), (9L, 8L)).toDF("user_id", "item")
    val left = TestSpark.rddDelta {
      val e = intercept[IllegalArgumentException] {
        RecModel.removeBatch(spark2, alien, "user_id", "item", 10, 1L,
          dirM, epoch = 4L)
      }
      assert(e.getMessage.contains("not a subset"))
    }
    assert(left == 0, s"the refused removal left $left persisted RDDs")
  }
}
