package graft.operators

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.TestSpark

/** The Stage/Fixpoint lifecycle: what a scope keeps, what it releases, and
  * that an operator failing mid-loop leaves no persisted RDD behind. */
class FixpointSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  private def persistedIds: Set[Int] =
    spark.sparkContext.getPersistentRDDs.keySet.toSet

  /** Ids persisted by `op` that are still persisted after it returned or
    * threw, and what it threw. */
  private def leftBehind(op: => Any): (Set[Int], Option[Throwable]) = {
    val before = persistedIds
    val err = try { op; None } catch { case t: Throwable => Some(t) }
    (persistedIds -- before, err)
  }

  private def edges(): DataFrame = {
    import spark.implicits._
    (0L until 20L).map(i => (i, (i + 1) % 20)).toDF("a", "b")
  }

  test("personalizedPageRank with an empty seed set throws and releases " +
      "its edge and node checkpoints") {
    import spark.implicits._
    val (left, err) = leftBehind(Graph.personalizedPageRank(
      edges(), "a", "b", Seq.empty[Long].toDF("n"), iters = 6))
    assert(err.exists(_.isInstanceOf[IllegalArgumentException]), err)
    assert(err.get.getMessage.contains("empty seed set"))
    assert(left.isEmpty, s"persistent RDDs left behind: $left")
  }

  test("Fixpoint.iterate whose step throws in round 3 releases every " +
      "checkpoint and pin of its stage") {
    var rounds = 0
    val (left, err) = leftBehind(Stage("FixpointSpec.failing") { implicit st =>
      val pinned = st.pin(edges())
      val state0 = st.checkpoint(pinned.select(col("a").as("n"),
        col("a").as("lbl")), "init")
      Fixpoint.iterate(state0, maxRounds = 10) { (s, _) =>
        rounds += 1
        if (rounds == 3) throw new IllegalStateException("round 3 failed")
        s.select(col("n"), (col("lbl") + 1).as("lbl"))
      }(Fixpoint.AllRounds).state
    })
    assert(rounds == 3)
    assert(err.exists(_.getMessage == "round 3 failed"), err)
    assert(left.isEmpty, s"persistent RDDs left behind: $left")
  }

  test("a stage keeps exactly the checkpoints its lazy result reads") {
    val (left, err) = leftBehind {
      val out = Stage("FixpointSpec.keep") { st =>
        val a = st.checkpoint(edges().select(col("a")), "a")
        st.checkpoint(edges().select(col("b")), "unused")
        a.filter(col("a") < 5) // lazy over `a`
      }
      assert(out.count() == 5) // still computes after the scope exited
    }
    assert(err.isEmpty, err)
    assert(left.size == 1, s"want only `a` kept, got $left")
  }

  test("Observed liveness stops the loop on the round that reads 0, and " +
      "helper columns stay out of the state") {
    import spark.implicits._
    // one chain 0 -> 1 -> ... -> 5: each round moves a min label one hop
    var rounds = 0
    var live = -1L
    val out = Stage("FixpointSpec.live") { implicit st =>
      val s0 = st.checkpoint((0L to 5L).map(i => (i, i)).toDF("n", "lbl"),
        "init")
      val res = Fixpoint.iterate(s0, maxRounds = 50) { (s, _) =>
        rounds += 1
        val fromLeft = s.select((col("n") + 1).as("n"), col("lbl").as("l2"))
        s.join(fromLeft, Seq("n"), "left")
          .select(col("n"), least(col("lbl"), coalesce(col("l2"),
            col("lbl"))).as("lbl"), col("lbl").as("_old"))
      }(Fixpoint.Observed(sum(when(col("lbl") < col("_old"), 1L)
        .otherwise(0L))))
      live = res.live
      res.state
    }
    assert(out.columns.toSeq == Seq("n", "lbl"))
    assert(out.select("lbl").distinct().as[Long].collect().toSeq == Seq(0L))
    assert(rounds == 6 && live == 0) // 5 moving rounds + 1 quiet
  }

  test("unrolled rounds checkpoint nothing and return one lazy plan") {
    import spark.implicits._
    val (left, err) = leftBehind {
      val out = Stage("FixpointSpec.unrolled") { implicit st =>
        Fixpoint.iterate(Seq(1L, 2L).toDF("x"), maxRounds = 3,
            unrollBelow = 5) { (s, _) =>
          s.select((col("x") * 2).as("x"))
        }(Fixpoint.AllRounds).state
      }
      assert(out.as[Long].collect().sorted.toSeq == Seq(8L, 16L))
    }
    assert(err.isEmpty, err)
    assert(left.isEmpty, s"unrolled loop persisted $left")
  }

  test("doublingRounds: the first 2^r horizon covering a depth") {
    assert(Seq(0L, 1L, 2L, 3L, 64L, 65L, 100L).map(Fixpoint.doublingRounds) ==
      Seq(0, 0, 1, 2, 6, 7, 7))
  }
}
