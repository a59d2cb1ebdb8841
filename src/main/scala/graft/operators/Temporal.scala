package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Temporal join operators (SURVEY §2.3 [NS]) — the two time-join shapes
  * Spark has no native operator for:
  *
  *   - AS-OF ("latest earlier row") lives in EventQueries.q21 as a
  *     union+window, which never materializes candidate pairs at all;
  *   - RANGE ("rows within [lower, upper] of mine") is implemented here
  *     by time-bucketing, the standard rewrite that turns an inequality
  *     join (theta → BroadcastNestedLoopJoin, quadratic per key) into an
  *     EQUI-join on (key, bucket).
  */
object Temporal {

  /** Range join: pairs (l, r) with the same `key` and
    * `r[rts] − l[lts] ∈ [lowerUs, upperUs]` (timestamps as epoch-µs LONG
    * columns with distinct names).
    *
    * Buckets are `width = upperUs − lowerUs` wide, so a left row's window
    * spans at most two consecutive buckets: explode left twofold, equi-join
    * on (key, bucket), then apply the exact inequality. Scale: the only
    * shuffle is the (key, bucket) equi-join — candidate fan-out is 2× left
    * rows plus true in-window pairs, never |L|×|R| per key; skewed keys
    * split across buckets by construction. */
  def rangeJoin(left: DataFrame, right: DataFrame, key: String,
      lts: String, rts: String, lowerUs: Long, upperUs: Long): DataFrame = {
    require(upperUs >= lowerUs, s"empty window [$lowerUs, $upperUs]")
    // a point window [x, x] is valid — bucket width floors at 1
    val width = math.max(upperUs - lowerUs, 1L)
    val r = right.withColumn("_rb", floor(col(rts) / width))
    val l = left
      .withColumn("_lb0", floor((col(lts) + lowerUs) / width))
      .withColumn("_boff", explode(sequence(lit(0), lit(1))))
      .withColumn("_rb", col("_lb0") + col("_boff"))
      .drop("_lb0", "_boff")
    l.join(r, Seq(key, "_rb"))
      .filter(col(rts) >= col(lts) + lowerUs &&
        col(rts) <= col(lts) + upperUs)
      .drop("_rb")
  }

  /** POINT-IN-TIME dimension join (feature-store correctness): each fact
    * row picks up the dimension attributes of the version whose
    * [fromUs, toUs) interval contains the fact's timestamp — the join
    * that keeps training features leak-free (joining "current" state
    * instead silently trains on the future). Dim intervals must be
    * non-overlapping per key (the SCD2 contract); `toUs` NULL = open.
    *
    * Shape: because versions don't overlap, PIT is an AS-OF against
    * version STARTS plus a validity check against the carried `toUs` —
    * so it runs as the q21 union+window form: one exchange on the key,
    * NO candidate pairs ever materialized (an interval theta-join would
    * be BroadcastNestedLoopJoin; the naive equi-join fans out by
    * version count). Facts outside every interval get NULL attributes
    * (left-join semantics).
    *
    * Fact columns are preserved; `attrCols` append (same names). Fact
    * and attr column name sets must not collide. */
  def pitJoin(facts: DataFrame, dim: DataFrame, key: String,
      factTsUs: String, fromUs: String, toUs: String,
      attrCols: Seq[String]): DataFrame = {
    require(attrCols.nonEmpty, "pitJoin needs at least one attribute")
    require(attrCols.forall(!facts.columns.contains(_)),
      s"attr columns ${attrCols.mkString(",")} collide with fact columns")
    import org.apache.spark.sql.expressions.Window
    val dimSide = dim.select(col(key) +: col(fromUs).as("_t") +:
      lit(1).as("_isdim") +: col(toUs).as("_vto") +:
      attrCols.map(c => col(c).as(s"_a_$c")): _*)
    val factSide = facts
      .withColumn("_t", col(factTsUs))
      .withColumn("_isdim", lit(0))
    // versions sort before facts at the identical microsecond (a fact AT
    // valid_from belongs to that version — from-inclusive)
    val w = Window.partitionBy(col(key))
      .orderBy(col("_t").asc, col("_isdim").desc)
      .rowsBetween(Window.unboundedPreceding, 0)
    // carry the latest VERSION's (valid_to, attrs...) as one struct —
    // last(ignoreNulls) over a when() that is NULL on fact rows, so
    // facts never pollute the carry
    val attrs = struct(col("_vto").as("vto") +:
      attrCols.zipWithIndex.map { case (c, i) =>
        col(s"_a_$c").as(s"a$i")
      }: _*)
    val carried = factSide.unionByName(dimSide, allowMissingColumns = true)
      .withColumn("_carry",
        last(when(col("_isdim") === 1, attrs), ignoreNulls = true).over(w))
      .filter(col("_isdim") === 0)
    val valid = col("_carry").isNotNull &&
      (col("_carry.vto").isNull || col("_t") < col("_carry.vto"))
    carried.select(facts.columns.map(col) ++
      attrCols.zipWithIndex.map { case (c, i) =>
        when(valid, col(s"_carry.a$i")).as(c)
      }: _*)
  }

  /** INTERVAL-OVERLAP join: pairs (a, b) of intervals with
    * `a.s <= b.e AND b.s <= a.e` (inclusive overlap) — the third time-join
    * shape (concurrency detection, meeting conflicts, co-occurring
    * activity windows). Naively a theta join (BroadcastNestedLoopJoin,
    * |A|·|B| pairs checked). Here: each interval explodes to the time
    * BINS it covers (`width` µs), candidates equi-join on bin, and a
    * `binOf(max(s_a, s_b)) == bin` guard keeps exactly ONE copy of each
    * overlapping pair — no DISTINCT needed (dedup-by-agg would shuffle
    * the pair set; the guard is free arithmetic on the joined row).
    *
    * Scale: the only shuffle is the bin equi-join; candidate volume is
    * Σ_bin |A_bin|·|B_bin| — the concurrency actually present, not the
    * corpus square. Pick `width` near the median interval length: the
    * explode fan-out is ~(len/width + 1) per row, skewed long intervals
    * cost fan-out linearly, never quadratically. Self-join callers pass
    * the same frame twice with an `a.id < b.id` post-filter. */
  def overlapJoin(a: DataFrame, b: DataFrame, asUs: String, aeUs: String,
      bsUs: String, beUs: String, widthUs: Long): DataFrame = {
    require(widthUs > 0, s"bin width must be positive, got $widthUs")
    val ae = a
      .withColumn("_bo", explode(sequence(lit(0L),
        floor(col(aeUs) / widthUs) - floor(col(asUs) / widthUs))))
      .withColumn("_bin", floor(col(asUs) / widthUs) + col("_bo"))
      .drop("_bo")
    val be = b
      .withColumn("_bo", explode(sequence(lit(0L),
        floor(col(beUs) / widthUs) - floor(col(bsUs) / widthUs))))
      .withColumn("_bin", floor(col(bsUs) / widthUs) + col("_bo"))
      .drop("_bo")
    ae.join(be, Seq("_bin"))
      .filter(col(asUs) <= col(beUs) && col(bsUs) <= col(aeUs))
      // emit each overlapping pair exactly once: only in the bin where
      // the overlap STARTS
      .filter(floor(greatest(col(asUs), col(bsUs)) / widthUs) === col("_bin"))
      .drop("_bin")
  }

  /** [NS] — NEAREST-event join, the fourth temporal-join shape: each
    * left row picks the single right row (same key) closest in time
    * within ±`maxGapUs` — sensor/trace alignment, "which click sits
    * nearest this purchase" — where as-of (q21) only looks BACKWARD and
    * a range join (q64) returns ALL candidates. Built on [[rangeJoin]]'s
    * bin equi-join (candidates = rows actually within the window, never
    * |L|×|R| per key) plus one per-left-row argmin window; ties break by
    * (|gap|, right ts, tieCols) so forward and backward candidates at
    * the same distance resolve identically in any engine. Left rows
    * with no candidate in the window are dropped (inner semantics —
    * wrap with a left join on `lidCol` for the audit variant).
    * Output: every candidate column plus signed `gap_us` (right − left). */
  def nearestJoin(left: DataFrame, right: DataFrame, key: String,
      lidCol: String, lts: String, rts: String, maxGapUs: Long,
      tieCols: Seq[String]): DataFrame = {
    require(maxGapUs >= 0, s"negative window $maxGapUs")
    import org.apache.spark.sql.expressions.Window
    val cands = rangeJoin(left, right, key, lts, rts, -maxGapUs, maxGapUs)
    val w = Window.partitionBy(col(lidCol)).orderBy(
      abs(col(rts) - col(lts)) +: col(rts) +: tieCols.map(col): _*)
    cands
      .withColumn("_rn", row_number().over(w))
      .filter(col("_rn") === 1)
      .withColumn("gap_us", col(rts) - col(lts))
      .drop("_rn")
  }

  /** Time-respecting reachability over a contact graph (Holme &
    * Saramäki 2012 temporal networks): a node is reached only through a
    * chain of contacts whose timestamps are non-decreasing — the
    * "infection" semantics static BFS gets wrong (a static path
    * a–b–c counts even when the b–c contact happened BEFORE a–b; a
    * temporal path does not). This is the propagation model for
    * account-compromise spread, misinformation cascades, and
    * contamination-through-sharing audits on interaction logs.
    *
    * Input: undirected contact events (aCol, bCol, tsCol µs) — keep
    * ALL contacts per pair (an early contact may be unusable when a
    * later one works; collapsing to min-ts per pair is the classic
    * bug). `seeds` = (node) rows, arrival 0 (reached before the log
    * starts). Each round relaxes one hop:
    * arr′(u) = min(arr(u), min{ct : contact (v,u,ct), ct ≥ arr(v)}) —
    * Bellman-Ford on the earliest-arrival semiring, so `rounds` bounds
    * hop depth exactly like [[graft.operators.Graph.bfsLevels]].
    *
    * Plan per round: one frontier⋈contacts equi-join + one min
    * aggregate + a full-outer arrival merge — frontier-sized, never the
    * corpus; contacts persist once. Returns (node, arrival_us) for all
    * reached nodes. */
  def timeRespectingReach(contacts: DataFrame, aCol: String,
      bCol: String, tsCol: String, seeds: DataFrame,
      rounds: Int): DataFrame = {
    require(rounds >= 1, s"rounds must be >= 1, got $rounds")
    Stage("Temporal.timeRespectingReach") { implicit st =>
      val und = st.pin(contacts.select(col(aCol).cast("long").as("_u"),
          col(bCol).cast("long").as("_v"), col(tsCol).cast("long").as("_ct"))
        .unionByName(contacts.select(col(bCol).cast("long").as("_u"),
          col(aCol).cast("long").as("_v"), col(tsCol).cast("long").as("_ct")))
        .distinct())
      val arr0 = st.checkpoint(seeds.select(col("node").cast("long").as("_n"))
        .distinct()
        .withColumn("_at", lit(0L)), "seeds")
      Fixpoint.iterate(arr0, rounds) { (arr, _) =>
        val prop = und
          .join(arr.select(col("_n").as("_u"), col("_at")), "_u")
          .filter(col("_ct") >= col("_at"))
          .groupBy(col("_v"))
          .agg(min(col("_ct")).as("_cand"))
          .select(col("_v").as("_n"), col("_cand"))
        arr.join(prop, Seq("_n"), "full")
          .select(col("_n"), expr(
            "CASE WHEN _at IS NULL THEN _cand " +
              "WHEN _cand IS NULL THEN _at " +
              "ELSE least(_at, _cand) END").as("_at"))
      }(Fixpoint.AllRounds).state
        .select(col("_n").as("node"), col("_at").as("arrival_us"))
    }
  }
}
