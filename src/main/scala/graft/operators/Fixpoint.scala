package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions.col

/** The round loop of every operator fixpoint whose state is one frame,
  * built on [[Stage]]: round r computes the next state lazily from the
  * current one, checkpoints it as the job `<stage>/round<r>` (flat lineage,
  * one action per round), reads liveness from that same action, and drops
  * the state it supersedes. */
object Fixpoint {

  /** What ends a loop before `maxRounds`. */
  sealed trait Live

  /** Nothing: every round runs (bounded-round operators, whose oracle
    * unrolls the same constant). */
  case object AllRounds extends Live

  /** An aggregate over the new state that reads 0 once nothing moves,
    * observed on the round's checkpoint action — it costs no job. */
  final case class Observed(agg: Column) extends Live

  /** A separate probe job over the checkpointed state, true while some row
    * is still live: for full-table states, where an early-exiting probe
    * costs less than observing every row. */
  final case class Probe(anyLive: DataFrame => Boolean) extends Live

  /** The final state and the last liveness read (`Long.MaxValue` when
    * none was; a probe reads 1 or 0). */
  final case class Result(state: DataFrame, live: Long)

  /** Iterate `step` from `state0` for at most `maxRounds` rounds, stopping
    * early once `live` reads 0.
    *
    * `step(state, live)` returns the next state; `live` is the previous
    * round's reading (`Long.MaxValue` before round 1), for steps that adapt
    * to progress. The state keeps `state0`'s columns: a step may return
    * extra columns for an [[Observed]] aggregate to read (the previous value
    * of a label, say); they are projected away above the observation, so the
    * checkpoint stores only the state.
    *
    * Below `unrollBelow` rounds the loop checkpoints nothing: it returns one
    * lazy plan over `state0` (repeated subtrees are canonically identical,
    * so exchange reuse runs each shuffle once) and reads no liveness — the
    * caller materializes the result. */
  def iterate(state0: DataFrame, maxRounds: Int, unrollBelow: Int = 0)(
      step: (DataFrame, Long) => DataFrame)(live: Live)(
      implicit st: Stage): Result = {
    val names = state0.columns
    def shape(df: DataFrame): DataFrame =
      if (df.columns.sameElements(names)) df else df.select(names.map(col): _*)
    val unrolled = maxRounds < unrollBelow
    var state = state0
    var n = Long.MaxValue
    var r = 0
    while (r < maxRounds && n > 0) {
      r += 1
      val next = step(state, n)
      if (unrolled) state = shape(next)
      else {
        val aggs = live match {
          case Observed(agg) => Seq(agg.as("_live"))
          case _ => Nil
        }
        val (chk, m) = st.materialize(next, s"round$r", aggs, shape)
        st.release(state)
        state = chk
        n = live match {
          case Observed(_) => m("_live").asInstanceOf[Long]
          case Probe(anyLive) => if (anyLive(chk)) 1L else 0L
          case AllRounds => n
        }
      }
    }
    Result(state, n)
  }

  /** Rounds of pointer doubling whose horizon 2^r first covers `depth`
    * (0 for depth <= 1). */
  def doublingRounds(depth: Long): Int =
    if (depth <= 1) 0 else 64 - java.lang.Long.numberOfLeadingZeros(depth - 1)
}
