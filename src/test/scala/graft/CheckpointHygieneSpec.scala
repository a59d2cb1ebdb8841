package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.DataFrame
import graft.operators.{Dedup, Graph, Integrity}

/** Iterative-operator storage hygiene (round-10 q181 adjudication): every
  * fixpoint loop that re-checkpoints its state per round must explicitly
  * drop the superseded checkpoint (Bridge.dropCheckpoint) instead of
  * leaving it to the non-deterministic ContextCleaner — otherwise storage
  * pressure late in a long multi-query session depends on GC timing, which
  * is exactly the mechanism behind the round-10 q181 bench outlier
  * (13.7 s on the driver run vs 0.42× on two same-code builder runs).
  *
  * Contract pinned here: after an N-iteration op returns and its result is
  * consumed, the persistent-RDD delta vs before the call is bounded by a
  * small constant (the returned frame, at most one helper), NOT O(N).
  * Pre-fix, pageRankExact(iters=8) leaked 8 superseded rank checkpoints.
  */
class CheckpointHygieneSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  /** Run `op`, consume its result, and return how many of the RDDs it
    * persisted are still persisted (result frames included — callers pass
    * the bound they expect for those). Counting the ids that are new since
    * the call, not the size of the session-wide map, keeps the figure
    * independent of what earlier suites left behind and of when the
    * ContextCleaner removes it. */
  private def rddDelta(op: => DataFrame): Long = {
    val before = spark.sparkContext.getPersistentRDDs.keySet
    val out = op
    out.count() // consume like a query would
    (spark.sparkContext.getPersistentRDDs.keySet -- before).size.toLong
  }

  // a 40-node graph: one 20-cycle (high diameter, keeps BFS/CC iterating)
  // plus a 20-node star and a bridge between them
  private def edges(): DataFrame = {
    import spark.implicits._
    val cycle = (0L until 20L).map(i => (i, (i + 1) % 20))
    val star = (21L to 39L).map(i => (20L, i))
    (cycle ++ star :+ ((0L, 20L))).toDF("a", "b")
  }

  test("pageRankExact leaves only the returned checkpoint persisted") {
    val d = rddDelta(Graph.pageRankExact(edges(), "a", "b", iters = 8))
    assert(d <= 1, s"pageRankExact leaked $d persistent RDDs (want <= 1)")
  }

  test("personalizedPageRank leaves only the returned checkpoint") {
    import spark.implicits._
    val seeds = Seq(0L, 20L).toDF("n")
    val d = rddDelta(
      Graph.personalizedPageRank(edges(), "a", "b", seeds, iters = 8))
    assert(d <= 1, s"personalizedPageRank leaked $d (want <= 1)")
  }

  test("bfsLevels drops per-round frontier/dist checkpoints") {
    import spark.implicits._
    val d = rddDelta(
      Graph.bfsLevels(edges(), "a", "b", Seq(0L).toDF("n"), maxRounds = 12))
    assert(d <= 1, s"bfsLevels leaked $d (want <= 1)")
  }

  test("kCore drops per-round edge/survivor checkpoints") {
    val d = rddDelta(Graph.kCore(edges(), "a", "b", k = 2, maxRounds = 10))
    assert(d <= 1, s"kCore leaked $d (want <= 1)")
  }

  test("labelPropagation drops per-round label checkpoints") {
    val d = rddDelta(Graph.labelPropagation(edges(), "a", "b", rounds = 6))
    assert(d <= 1, s"labelPropagation leaked $d (want <= 1)")
  }

  test("hitsExact drops per-iteration auth/score checkpoints") {
    val d = rddDelta(Graph.hitsExact(edges(), "a", "b", iters = 6))
    assert(d <= 1, s"hitsExact leaked $d (want <= 1)")
  }

  test("pathLinearize drops superseded doubling states") {
    import spark.implicits._
    // a 12-deep chain: parent(i) = i-1, root parent null
    val chain = (0L to 12L).map(i =>
      (i, if (i == 0) None else Some(i - 1), s"c$i"))
      .toDF("id", "parent", "content")
    val d = rddDelta(
      Graph.pathLinearize(chain, "id", "parent", "content", maxDepth = 32))
    // e + final state stay referenced by the returned lazy join
    assert(d <= 2, s"pathLinearize leaked $d (want <= 2)")
  }

  test("connectedComponents (hash-min, doubling, hybrid) drop old labels") {
    for ((name, op) <- Seq[(String, DataFrame => DataFrame)](
        "hashMin" -> (e => Dedup.connectedComponents(e, "a", "b")),
        "doubling" -> (e => Dedup.connectedComponentsDoubling(e, "a", "b")),
        "hybrid" -> (e => Dedup.connectedComponentsHybrid(e, "a", "b")))) {
      val d = rddDelta(op(edges()))
      assert(d <= 1, s"connectedComponents/$name leaked $d (want <= 1)")
    }
  }

  test("kmeans / pqTrain drop superseded per-iteration centroids") {
    import spark.implicits._
    val vecs = (0L until 60L).map(i =>
      (i, Array.tabulate(8)(j => ((i % 6) * 10 + j).toFloat)))
      .toDF("vec_id", "embedding")
    val d1 = rddDelta(graft.operators.Similarity.kmeans(
      vecs, "vec_id", "embedding", k = 4, iters = 6))
    assert(d1 <= 1, s"kmeans leaked $d1 (want <= 1)")
    val d2 = rddDelta(graft.operators.Similarity.pqTrain(
      vecs, "vec_id", "embedding", m = 2, subDim = 4, ksub = 4,
      iters = 6))
    // subs + the final centroids stay referenced by the returned select
    assert(d2 <= 2, s"pqTrain leaked $d2 (want <= 2)")
  }

  test("timeRespectingReach / bradleyTerry drop superseded rounds") {
    import spark.implicits._
    val contacts = (0L until 30L).map(i =>
      (i, (i + 1) % 30, 100L + i)).toDF("a", "b", "ts")
    val seeds = Seq(0L).toDF("node")
    val d1 = rddDelta(graft.operators.Temporal.timeRespectingReach(
      contacts, "a", "b", "ts", seeds, rounds = 8))
    assert(d1 <= 1, s"timeRespectingReach leaked $d1 (want <= 1)")
    val duels = (0 until 40).map(i =>
      (s"p${i % 5}", s"p${(i + 1 + i % 3) % 5}")).toDF("w", "l")
    val d2 = rddDelta(graft.operators.Analytics.bradleyTerry(
      duels, "w", "l", iters = 6))
    // wins + the final strengths stay referenced by the returned join
    assert(d2 <= 2, s"bradleyTerry leaked $d2 (want <= 2)")
  }

  test("topDirection drops superseded per-iteration directions") {
    import spark.implicits._
    val vecs = (0L until 30L).map(i =>
      Tuple1(Array.tabulate(6)(j => ((i % 5) + j * (i % 3)).toFloat)))
      .toDF("embedding")
    val d = rddDelta(graft.operators.Similarity.topDirection(
      vecs, "embedding", iters = 6))
    assert(d <= 1, s"topDirection leaked $d (want <= 1)")
  }

  test("cascadeRecursive (level-wise and doubling) drop superseded state") {
    import spark.implicits._
    val rows = (0L to 40L).map(i =>
      (i, if (i == 0) None else Some(i - 1))).toDF("id", "parent")
    val seeds = Seq(0L).toDF("id")
    val d1 = rddDelta(Integrity.cascadeRecursive(rows, "id", "parent", seeds))
    assert(d1 <= 1, s"cascadeRecursive leaked $d1 (want <= 1)")
    val d2 = rddDelta(
      Integrity.cascadeRecursiveDoubling(rows, "id", "parent", seeds))
    // seedSet + final state stay referenced by the returned lazy union
    assert(d2 <= 2, s"cascadeRecursiveDoubling leaked $d2 (want <= 2)")
  }
}
