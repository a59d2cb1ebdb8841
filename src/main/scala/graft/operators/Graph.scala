package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** [NS] Distributed graph analytics over edge lists — the graph-shaped
  * half of a training-data curation stack: PageRank for source/keyword
  * authority (TextRank) and triangle counting for near-dup cluster
  * cliquishness. Companion to the connected-components family in
  * [[Dedup]] (same edge-list conventions: two key columns, any type).
  *
  * Scale stance: everything is edge-partitioned joins + aggregations —
  * no adjacency matrices, no driver-side graph state. PageRank pays one
  * (join + groupBy) shuffle pair per iteration on the edge key; triangle
  * counting uses the degree-orientation trick (Schank & Wagner 2005;
  * Suri & Vassilvitskii WWW'11 "Counting Triangles and the Curse of the
  * Last Reducer") so wedge generation is bounded by O(m^1.5) total and
  * per-node out-degree is O(sqrt m) even on skewed degree distributions.
  *
  * Exactness stance (same as [[Similarity.kmeans]]): all rank arithmetic
  * is scaled-integer with floor division (`div`), so results are
  * bit-identical across engines and partitionings — a DuckDB oracle can
  * replay the identical recurrence and hash-match.
  */
object Graph {

  /** Exact-integer PageRank over a directed edge list, with dangling-mass
    * redistribution (Page et al. 1999, §2.7 of the survey's curation
    * extensions; reference precedent: the archive ranks channels by
    * aggregate watch counts — this is the graph-aware generalization).
    *
    * Recurrence (all Long, floor division, identical in DuckDB as `//`):
    * {{{
    *   base      = scale div N
    *   r0(v)     = base
    *   contrib(v)= sum over in-edges u->v of  r(u) div outdeg(u)
    *   dang      = sum of r(u) over nodes with outdeg(u) = 0
    *   r'(v)     = ((100-dampPct) * base) div 100
    *             + (dampPct * (contrib(v) + dang div N)) div 100
    * }}}
    * Floor division leaks at most a few units of `scale^-1` mass per
    * node per round — ranking order is what callers consume, and that is
    * exact and reproducible (ties broken by node id downstream).
    *
    * Distribution: edges (with the source's out-degree attached) persist
    * once; each iteration is edges-join-ranks on the source key, a
    * groupBy(dst) partial-aggregated sum, and two 1-row broadcast
    * cross-joins for the N / dangling scalars — no driver collect. Ranks
    * iterate as a [[Fixpoint]] with flat lineage.
    *
    * Returns (node, od, pr): every node with its out-degree and final
    * scaled rank.
    */
  def pageRankExact(edgePairs: DataFrame, srcCol: String, dstCol: String,
      iters: Int, scale: Long = 1000000000000L,
      dampPct: Int = 85): DataFrame = {
    require(iters >= 1, s"iters must be >= 1, got $iters")
    require(dampPct >= 0 && dampPct <= 100, s"dampPct 0..100, got $dampPct")
    val telePct = 100 - dampPct
    Stage("Graph.pageRankExact") { implicit st =>
      // the edge list is usually derived (joins/explodes over the corpus) —
      // pin it FIRST so out-degree / node-set / per-iteration reads all
      // hit the materialized copy instead of replaying the upstream lineage
      val edges0 = st.pin(edgePairs
        .select(col(srcCol).as("_src"), col(dstCol).as("_dst"))
        .filter(col("_src").isNotNull && col("_dst").isNotNull)
        .distinct())
      val outdeg = edges0.groupBy(col("_src"))
        .agg(count(lit(1)).as("_od"))
      // Eagerly checkpoint the degree-annotated edge table ONCE (r13
      // verdict item 2 / guide §2.4): every iteration's edges⋈ranks join
      // then reads a materialized flat scan instead of re-planning the
      // distinct→outdeg→join lineage each round. (A hash-pre-partitioned
      // layout was tried and measured SLOWER: Spark 4.1's localCheckpoint
      // reports UnknownPartitioning, so co-partitioned joins cannot plan
      // exchange-free off a checkpoint and the upfront repartition is
      // pure shuffle cost; the per-iteration join broadcasts the small
      // ranks side anyway, and the one real exchange per iteration is
      // groupBy(_dst)'s partial-aggregated one.)
      val edges = st.checkpoint(edges0.join(outdeg, "_src"), "edges")
      val nodes = edges0.select(col("_src").as("_n"))
        .union(edges0.select(col("_dst").as("_n")))
        .distinct()
        .join(outdeg.select(col("_src").as("_n"), col("_od")), Seq("_n"),
          "left")
        .select(col("_n"), coalesce(col("_od"), lit(0L)).as("_od"))
      // Loop-invariant scalars (N, the dangling-node flag) are 1-row
      // aggregates consumed only as literals: they ride the node-set
      // checkpoint action as observed metrics instead of re-broadcasting
      // a crossJoin(nRow) whose lineage re-runs the union-distinct node
      // derivation EVERY iteration (guide §2.4).
      val (ranks0, m) = st.observed(nodes, "nodes")(
        count(lit(1)).as("_nn"),
        coalesce(max(when(col("_od") === 0, 1).otherwise(0)), lit(0))
          .as("_hd"))
      val nn = math.max(m("_nn").asInstanceOf[Long], 1L)
      // empty graph → empty result; the clamp only keeps the scalar
      // arithmetic defined on that path
      val hasDangling = m("_hd").asInstanceOf[Int] == 1
      val base = scale / nn // floor div, positive longs — as `div`
      val teleTerm = (telePct * base) / 100 // loop-invariant scalar
      // Small iteration counts unroll into ONE lazy plan closed by the
      // single `out` checkpoint: ranks_{i} is referenced by ranks_{i+1}'s
      // contrib arm, join arm and (with dangling nodes) dangling arm, but
      // the repeated subtrees are canonically identical, so exchange reuse
      // executes each shuffle once — the whole fixpoint is one action
      // instead of iters checkpoint actions (guide §2.4 / §1.2: remove
      // passes before tuning them; measured r13: q133 32→29 jobs).
      val ranks = Fixpoint.iterate(ranks0.select(col("_n"), col("_od"),
          lit(base).as("_pr")), iters, unrollBelow = 5) { (ranks, _) =>
        val contrib = edges
          .join(ranks.select(col("_n").as("_src"), col("_pr")), "_src")
          .select(col("_dst"), expr("_pr div _od").as("_c"))
          .groupBy(col("_dst"))
          .agg(sum(col("_c")).as("_contrib"))
        val joined = ranks.select(col("_n"), col("_od"))
          .join(contrib.select(col("_dst").as("_n"), col("_contrib")),
            Seq("_n"), "left")
        if (!hasDangling)
          joined.select(col("_n"), col("_od"),
            expr(s"CAST($teleTerm AS BIGINT) + " +
              s"($dampPct * coalesce(_contrib, CAST(0 AS BIGINT)))" +
              " div 100").as("_pr"))
        else {
          // dangling mass as an in-plan 1-row broadcast aggregate off
          // the previous ranks — same floor-div operands as a collected
          // literal (sum over _od=0 of _pr, div N), but no job of its own
          val dangRow = ranks
            .agg(coalesce(sum(when(col("_od") === 0, col("_pr"))),
              lit(0L)).as("_dangsum"))
          joined.crossJoin(broadcast(dangRow))
            .select(col("_n"), col("_od"),
              expr(s"CAST($teleTerm AS BIGINT) + " +
                s"($dampPct * (coalesce(_contrib, CAST(0 AS BIGINT))" +
                s" + (_dangsum div CAST($nn AS BIGINT)))) div 100")
                .as("_pr"))
        }
      }(Fixpoint.AllRounds).state
      st.checkpoint(ranks.select(col("_n").as("node"), col("_od").as("od"),
        col("_pr").as("pr")), "out")
    }
  }

  /** Per-node triangle counts over an undirected edge list, by degree
    * orientation: orient every edge from its (degree, id)-smaller
    * endpoint to the larger, so each triangle {x,y,z} (in that total
    * order) is generated exactly once as the wedge x->y, x->z closed by
    * the oriented edge y->z. Out-degree under this orientation is
    * O(sqrt m), which caps the wedge join's fan-out — the standard cure
    * for the "curse of the last reducer" on power-law graphs (a near-dup
    * clique of size k still costs only its C(k,3) true triangles, not
    * k * C(k,2) wedges per hub node).
    *
    * No global rank/window is materialized: orientation compares the
    * (degree, id) tuple edge-locally, so the only exchanges are the two
    * degree joins and the equi-joins on wedge endpoints.
    *
    * Input pairs may be in any order / direction; they are normalized
    * (lo, hi), self-loops dropped, duplicates collapsed. Returns
    * (node, n_tri) for every node of the graph, zero-count nodes
    * included (left join back to the node set).
    */
  def triangleCounts(pairs: DataFrame, aCol: String,
      bCol: String): DataFrame = Stage("Graph.triangleCounts") { st =>
    // normalized edges are read 3× (degree union + orientation join);
    // pinned so a derived pair source (e.g. a SimHash band join) runs once
    val und = st.pin(pairs.select(
        least(col(aCol), col(bCol)).as("_a"),
        greatest(col(aCol), col(bCol)).as("_b"))
      .filter(col("_a") < col("_b"))
      .distinct())
    val deg = st.pin(und.select(col("_a").as("_n"))
      .union(und.select(col("_b").as("_n")))
      .groupBy(col("_n")).agg(count(lit(1)).as("_d")))
    val oriented = st.pin(und
      .join(deg.select(col("_n").as("_a"), col("_d").as("_da")), "_a")
      .join(deg.select(col("_n").as("_b"), col("_d").as("_db")), "_b")
      .select(
        when(col("_da") < col("_db")
            || (col("_da") === col("_db") && col("_a") < col("_b")),
          struct(col("_a").as("u"), col("_b").as("v"),
            col("_db").as("dv")))
          .otherwise(struct(col("_b").as("u"), col("_a").as("v"),
            col("_da").as("dv"))).as("e"))
      .select(col("e.u").as("_u"), col("e.v").as("_v"),
        col("e.dv").as("_dv")))
    val e1 = oriented.select(col("_u"), col("_v").as("_y"),
      col("_dv").as("_dy"))
    val e2 = oriented.select(col("_u"), col("_v").as("_z"),
      col("_dv").as("_dz"))
    val wedges = e1.join(e2, Seq("_u"))
      .filter(col("_dy") < col("_dz")
        || (col("_dy") === col("_dz") && col("_y") < col("_z")))
      .select(col("_u").as("_x"), col("_y"), col("_z"))
    val closing = oriented.select(col("_u").as("_y"),
      col("_v").as("_z"))
    // the corner explode below re-reads the triangles 3x
    val tris = st.checkpoint(
      wedges.join(closing, Seq("_y", "_z"), "left_semi"), "triangles")
    val corners = tris.select(col("_x").as("_n"))
      .union(tris.select(col("_y").as("_n")))
      .union(tris.select(col("_z").as("_n")))
      .groupBy(col("_n")).agg(count(lit(1)).as("_t"))
    st.checkpoint(deg.select(col("_n"))
      .join(corners, Seq("_n"), "left")
      .select(col("_n").as("node"),
        coalesce(col("_t"), lit(0L)).as("n_tri")), "counts")
  }

  /** Bounded k-core peel (Seidman 1983; Batagelj–Zaveršnik peeling): drop
    * every node of degree < k, recompute degrees, repeat — `maxRounds`
    * times or until fixpoint, whichever first. The k-core is the dense
    * backbone of a near-dup candidate graph: a doc in the 3-core sits in
    * a mutually-connected cluster (dedup with confidence); degree-k
    * stragglers hanging off it peel away round by round.
    *
    * BOUNDED-ROUND SEMANTICS, deliberately: the result after exactly R
    * rounds is deterministic whether or not the peel has converged, so an
    * oracle that unrolls R rounds matches bit-for-bit on any input —
    * and once a round removes nothing the set is the true k-core and
    * further rounds are identities, so early-stop changes nothing.
    * (Contrast data-dependent "loop to convergence", which an unrolled
    * oracle can only match on inputs that happen to converge in time.)
    *
    * Shape per round: one groupBy(degree) shuffle + two semi-joins to
    * restrict the edge list, both checkpointed in a [[Stage]]; the
    * survivor count (the stop test) is observed on the survivors'
    * checkpoint action. The peeled edge set shrinks monotonically, so
    * rounds get cheaper.
    *
    * Returns (node, deg): round-R survivors with the qualifying degree
    * (their degree inside the round-R subgraph).
    */
  def kCore(pairs: DataFrame, aCol: String, bCol: String, k: Int,
      maxRounds: Int): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    require(maxRounds >= 1, s"maxRounds must be >= 1, got $maxRounds")
    Stage("Graph.kCore") { st =>
      val und = pairs.select(
          least(col(aCol), col(bCol)).as("_a"),
          greatest(col(aCol), col(bCol)).as("_b"))
        .filter(col("_a") < col("_b"))
        .distinct()
      var edges = st.checkpoint(und.select(col("_a").as("_u"),
          col("_b").as("_v"))
        .union(und.select(col("_b").as("_u"), col("_a").as("_v"))), "edges")
      var survivors: DataFrame = null
      var prevNodes = -1L
      var r = 0
      while (r < maxRounds && prevNodes != 0) {
        r += 1
        val deg = edges.groupBy(col("_u")).agg(count(lit(1)).as("_d"))
        val (keep, n) = st.counted(deg.filter(col("_d") >= k), s"round$r")
        st.release(survivors) // superseded
        survivors = keep
        if (n == prevNodes) prevNodes = 0 // fixpoint: rounds are identities now
        else if (r < maxRounds) {
          prevNodes = n
          val prevEdges = edges
          edges = st.checkpoint(edges
            .join(keep.select(col("_u")), Seq("_u"), "left_semi")
            .join(keep.select(col("_u").as("_v")), Seq("_v"), "left_semi"),
            s"round$r/edges")
          st.release(prevEdges)
        }
      }
      survivors.select(col("_u").as("node"), col("_d").as("deg"))
    }
  }

  /** [NS] — bounded-round BFS levels: hop distance from a SOURCE SET
    * within ≤ `maxRounds` hops (unreached nodes are absent — the
    * blast-radius question: "everything within R similarity hops of
    * this seed", dedup's contagion audit). Same bounded-round contract
    * as [[kCore]]: rounds are deterministic, so an unrolled-CTE oracle
    * is exact on ANY input; early-stops when a frontier empties. Scale
    * per round: one equi-join frontier⋈edges + one anti-join against
    * the settled set — frontier-sized, not graph-sized; the frontier and
    * the settled set checkpoint per round in a [[Stage]], the frontier's
    * size observed on its own checkpoint action. */
  def bfsLevels(pairs: DataFrame, aCol: String, bCol: String,
      sources: DataFrame, maxRounds: Int): DataFrame = {
    require(maxRounds >= 0, s"maxRounds must be >= 0, got $maxRounds")
    Stage("Graph.bfsLevels") { st =>
      val und = pairs.select(
          least(col(aCol), col(bCol)).as("_a"),
          greatest(col(aCol), col(bCol)).as("_b"))
        .filter(col("_a") < col("_b"))
        .distinct()
      val edges = st.checkpoint(und.select(col("_a").as("_u"),
          col("_b").as("_v"))
        .union(und.select(col("_b").as("_u"), col("_a").as("_v"))), "edges")
      var (dist, frontierSize) = st.counted(sources.toDF("_u")
        .distinct().withColumn("dist", lit(0L)), "sources")
      var frontier = dist.select(col("_u"))
      var prevNext: DataFrame = null
      var r = 0
      while (r < maxRounds && frontierSize > 0) {
        r += 1
        val (next, n) = st.counted(frontier.join(edges, Seq("_u"))
          .select(col("_v").as("_u")).distinct()
          .join(dist.select(col("_u")), Seq("_u"), "left_anti")
          .withColumn("dist", lit(r.toLong)), s"round$r")
        st.release(prevNext) // frontier consumed
        val prevDist = dist
        dist = st.checkpoint(dist.unionByName(next), s"round$r/dist")
        st.release(prevDist)
        prevNext = next
        frontier = next.select(col("_u"))
        frontierSize = n
      }
      dist.select(col("_u").as("node"), col("dist"))
    }
  }

  /** [NS] — deterministic HASH WALKS: one `steps`-hop random walk from
    * every node, where step i out of node c picks neighbor
    * `adj[md5(start:i:c) mod deg(c)]` — the DeepWalk/node2vec corpus
    * generation stage (walks feed a skip-gram embedder) made
    * REPRODUCIBLE: the "randomness" is the engine-portable md5 of
    * (walk id, step, position), so walks are identical across runs,
    * partitionings, and engines — rand()-seeded walks are neither
    * replayable nor oracle-checkable. No dead ends by construction
    * (symmetrized adjacency: every reached node has ≥1 edge).
    *
    * Scale per step: one equi-join of the walk frontier against the
    * (node, rank)-indexed adjacency — frontier-sized, shuffles on the
    * current node key; adjacency ranks come from a per-node window
    * (per-node degree partitions, never global). Output: one row per
    * start node with columns n1..nSteps. */
  def hashWalks(pairs: DataFrame, aCol: String, bCol: String,
      steps: Int): DataFrame = Stage("Graph.hashWalks") { st =>
    require(steps >= 1, s"steps must be >= 1, got $steps")
    import org.apache.spark.sql.expressions.Window
    val und = pairs.select(
        least(col(aCol), col(bCol)).as("_a"),
        greatest(col(aCol), col(bCol)).as("_b"))
      .filter(col("_a") < col("_b"))
      .distinct()
    val sym = st.checkpoint(und.select(col("_a").as("_u"), col("_b").as("_v"))
      .union(und.select(col("_b").as("_u"), col("_a").as("_v"))), "sym")
    val deg = sym.groupBy(col("_u")).agg(count(lit(1)).as("_d"))
    val adj = sym.withColumn("_rk",
      row_number().over(Window.partitionBy(col("_u"))
        .orderBy(col("_v"))).cast("long") - 1L)
    var walk = deg.select(col("_u").as("start"), col("_u").as("_cur"))
    for (i <- 1 to steps) {
      val pick = expr(
        s"""cast(conv(substring(md5(concat(cast(start as string), ':$i:',
            cast(_cur as string))), 1, 15), 16, 10) as bigint) % _d""")
      walk = walk
        .join(deg.select(col("_u").as("_cur"), col("_d")), Seq("_cur"))
        .withColumn("_pick", pick)
        .join(adj.select(col("_u").as("_cur"), col("_rk").as("_pick"),
          col("_v")), Seq("_cur", "_pick"))
        .withColumn(s"n$i", col("_v"))
        .select((col("start") +: (1 to i).map(j => col(s"n$j")) :+
          col("_v").as("_cur")): _*)
    }
    walk.select(col("start") +: (1 to steps).map(j => col(s"n$j")): _*)
  }

  /** [NS] — PERSONALIZED PageRank (random walk with restart): identical
    * recurrence to [[pageRankExact]] except teleport AND dangling mass
    * return to the SEED set instead of the whole graph — rank becomes
    * proximity to the seeds, the standard related-items /
    * graph-recommendation primitive ("what is close to THESE nodes"),
    * where global PageRank answers only "what is central".
    *
    * Recurrence (all Long, floor division, S = |seeds|):
    * {{{
    *   r0(v)  = [v∈S] · (scale div S)
    *   r'(v)  = [v∈S] · ((telePct · (scale div S)) div 100)
    *          + (dampPct · (contrib(v) + [v∈S] · (dang div S))) div 100
    * }}}
    * Same distribution shape as the global variant: one edges⋈ranks +
    * one groupBy shuffle per iteration, 1-row broadcast scalars, ranks
    * iterating as a [[Fixpoint]]. Seeds ride a broadcast semi-join into
    * the node table once. */
  def personalizedPageRank(edgePairs: DataFrame, srcCol: String,
      dstCol: String, seeds: DataFrame, iters: Int,
      scale: Long = 1000000000000L, dampPct: Int = 85): DataFrame = {
    require(iters >= 1, s"iters must be >= 1, got $iters")
    require(dampPct >= 0 && dampPct <= 100, s"dampPct 0..100, got $dampPct")
    val telePct = 100 - dampPct
    Stage("Graph.personalizedPageRank") { implicit st =>
      val edges0 = st.pin(edgePairs
        .select(col(srcCol).as("_src"), col(dstCol).as("_dst"))
        .filter(col("_src").isNotNull && col("_dst").isNotNull)
        .distinct())
      // eager edge-table checkpoint — see pageRankExact
      val outdeg = edges0.groupBy(col("_src")).agg(count(lit(1)).as("_od"))
      val edges = st.checkpoint(edges0.join(outdeg, "_src"), "edges")
      val seedSet = seeds.select(seeds.columns.head).toDF("_n").distinct()
      val nodes = edges0.select(col("_src").as("_n"))
        .union(edges0.select(col("_dst").as("_n")))
        .distinct()
        .join(outdeg.select(col("_src").as("_n"), col("_od")), Seq("_n"),
          "left")
        .join(broadcast(seedSet.withColumn("_seed", lit(1L))), Seq("_n"),
          "left")
        .select(col("_n"), coalesce(col("_od"), lit(0L)).as("_od"),
          coalesce(col("_seed"), lit(0L)).as("_seed"))
      // loop-invariant scalars (seed count, dangling flag) ride the node-set
      // checkpoint action as observed metrics (see pageRankExact; measured
      // r13: q181 ran 59 jobs with a per-iteration crossJoin(sRow) instead)
      val (nodes0, m) = st.observed(nodes, "nodes")(
        coalesce(sum(col("_seed")), lit(0L)).as("_ns"),
        coalesce(max(when(col("_od") === 0, 1).otherwise(0)), lit(0))
          .as("_hd"))
      val ns = m("_ns").asInstanceOf[Long]
      require(ns > 0, "personalizedPageRank: empty seed set")
      val hasDangling = m("_hd").asInstanceOf[Int] == 1
      val seedBase = scale / ns // floor div, positive longs — as `div`
      val teleTerm = (telePct * seedBase) / 100
      val ranks = Fixpoint.iterate(nodes0.select(col("_n"), col("_od"),
          col("_seed"), (col("_seed") * lit(seedBase)).as("_pr")), iters,
          unrollBelow = 5) { (ranks, _) => // unrolled as in pageRankExact
        val contrib = edges
          .join(ranks.select(col("_n").as("_src"), col("_pr")), "_src")
          .select(col("_dst"), expr("_pr div _od").as("_c"))
          .groupBy(col("_dst"))
          .agg(sum(col("_c")).as("_contrib"))
        val joined = ranks.select(col("_n"), col("_od"), col("_seed"))
          .join(contrib.select(col("_dst").as("_n"), col("_contrib")),
            Seq("_n"), "left")
        if (!hasDangling)
          joined.select(col("_n"), col("_od"), col("_seed"),
            expr(s"_seed * CAST($teleTerm AS BIGINT)" +
              s" + ($dampPct * coalesce(_contrib, CAST(0 AS BIGINT)))" +
              " div 100").as("_pr"))
        else {
          // in-plan 1-row dangling aggregate — see pageRankExact
          val dangRow = ranks
            .agg(coalesce(sum(when(col("_od") === 0, col("_pr"))),
              lit(0L)).as("_dangsum"))
          joined.crossJoin(broadcast(dangRow))
            .select(col("_n"), col("_od"), col("_seed"),
              expr(s"_seed * CAST($teleTerm AS BIGINT)" +
                s" + ($dampPct * (coalesce(_contrib, CAST(0 AS BIGINT))" +
                s" + _seed * (_dangsum div CAST($ns AS BIGINT))))" +
                " div 100").as("_pr"))
        }
      }(Fixpoint.AllRounds).state
      st.checkpoint(ranks.select(col("_n").as("node"), col("_od").as("od"),
        col("_seed").as("is_seed"), col("_pr").as("pr")), "out")
    }
  }

  /** [NS] — deterministic NEGATIVE sampling for link prediction: per
    * source node, k candidate destinations that are NOT edges — the
    * other half of every embedding/link-prediction training set (the
    * positives are the edges; [[hashWalks]] generates the context
    * pairs). Each source gets k·overgen md5-derived probes
    * (`md5(src#i) mod |dsts|`) into the rank-numbered OBSERVED
    * destination population, so the sample is a pure function of
    * (graph, parameters) — reproducible across runs, partitionings,
    * and engines; real edges, self-loops, and duplicate draws are then
    * removed and the first k survivors per source (by probe index)
    * kept. Overgeneration covers probes lost to those removals: a
    * source with degree d among |D| destinations loses ~d/|D| of its
    * probes, so overgen = 3 is ample for any graph sparser than 2/3
    * density (under-filled sources keep fewer than k — visible, not
    * silent).
    *
    * Shape: one explode (k·overgen narrow rows per source), one
    * equi-join into the numbered destination table, one anti-join on
    * the (src, dst) edge key, per-source WindowGroupLimits. No
    * cartesian, no rand(). */
  def negativeSamples(edgePairs: DataFrame, srcCol: String, dstCol: String,
      k: Int, overgen: Int = 3): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(k > 0 && overgen >= 1, "bad sampling params")
    Stage("Graph.negativeSamples") { implicit st =>
      val edges = st.pin(edgePairs
        .select(col(srcCol).as("src"), col(dstCol).as("dst"))
        .filter(col("src").isNotNull && col("dst").isNotNull)
        .distinct())
      // candidates come from the OBSERVED destination population (every
      // negative is a real node — an id-space draw can produce ids that
      // exist in no row, which are worthless as training negatives),
      // numbered by the two-pass distributed rank; the population size
      // is a driver scalar the rank already sums (the
      // probe-parameterizes-the-plan pattern, like AnnIndex's probe list)
      val (dstIdx, nD) = Curation.withGlobalRank(
        edges.select(col("dst")).distinct(), Seq(col("dst")), "_idx")
      val probes = edges.select(col("src")).distinct()
        .withColumn("i", explode(sequence(lit(1), lit(k * overgen))))
        .withColumn("_idx", expr(
          "cast(conv(substring(md5(concat(cast(src as string), '#', " +
            s"cast(i as string))), 1, 14), 16, 10) as bigint) % ${nD}L"))
      val cands = probes.join(dstIdx, Seq("_idx"))
        .filter(col("dst") =!= col("src"))
      val nonEdges = cands
        .join(edges, Seq("src", "dst"), "left_anti")
        .withColumn("_dup", row_number().over(
          Window.partitionBy(col("src"), col("dst")).orderBy(col("i"))))
        .filter(col("_dup") === 1)
      st.checkpoint(nonEdges
        .withColumn("slot", row_number().over(
          Window.partitionBy(col("src")).orderBy(col("i"))))
        .filter(col("slot") <= k)
        .select(col("src"), col("dst").as("neg_dst"), col("slot")),
        "negatives")
    }
  }

  /** [NS] — degree-capped bipartite co-occurrence (the item-item
    * projection of a (user, item) interaction graph — the recsys /
    * related-content primitive). The naive projection self-joins on the
    * user key, which is quadratic in USER DEGREE: one crawler or bot
    * account touching 10⁶ items contributes 10¹² pairs. The standard
    * scale fix is applied here: each user's interactions are capped to
    * their `capM` most-engaged items (rank by interaction count desc,
    * item asc — deterministic), so per-user pair fan-out is bounded by
    * C(capM, 2) and the projection cost is linear in users. Output
    * pairs carry the co-user count and an integer-ppm containment score
    * `n_ab·10⁶ div min(deg_a, deg_b)` (degrees measured on the capped
    * set, so the score is consistent with the pairs it ranks).
    *
    * Shape: one distinct + one per-user rank window + one equi-join on
    * user + one pair aggregate — no cartesian, no theta join; the join
    * key is the user, and the cap bounds the per-key multiplicity on
    * both sides. */
  def coOccurrence(df: DataFrame, userCol: String, itemCol: String,
      capM: Int, minCount: Long = 2L): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(capM > 1, s"cap must allow pairs, got $capM")
    val inter = df.select(col(userCol).as("u"), col(itemCol).as("i"))
      .groupBy(col("u"), col("i")).agg(count(lit(1)).as("w"))
    Stage("Graph.coOccurrence") { st =>
      val capped = st.pin(inter
        .withColumn("_rn", row_number().over(
          Window.partitionBy(col("u"))
            .orderBy(col("w").desc, col("i").asc)))
        .filter(col("_rn") <= capM)
        .select(col("u"), col("i")))
      val deg = capped.groupBy(col("i")).agg(count(lit(1)).as("deg"))
      val pairs = capped.as("a")
        .join(capped.as("b"), Seq("u"))
        .filter(col("a.i") < col("b.i"))
        .groupBy(col("a.i").as("item_a"), col("b.i").as("item_b"))
        .agg(count(lit(1)).as("n_users"))
        .filter(col("n_users") >= minCount)
      st.checkpoint(pairs
        .join(broadcast(deg.select(col("i").as("item_a"),
          col("deg").as("_da"))), Seq("item_a"))
        .join(broadcast(deg.select(col("i").as("item_b"),
          col("deg").as("_db"))), Seq("item_b"))
        .withColumn("containment_ppm",
          expr("(n_users * 1000000) div least(_da, _db)"))
        .select(col("item_a"), col("item_b"), col("n_users"),
          col("containment_ppm")), "pairs")
    }
  }

  /** [NS] — deterministic synchronous label propagation (Raghavan et
    * al. 2007's LPA, made reproducible): labels start as node ids; each
    * round every node adopts the MOST FREQUENT label among its
    * neighbors, ties broken by the SMALLEST label (argmax via
    * max(struct(cnt, -label)) — a pure aggregate, so the result is
    * partition-invariant and oracle-expressible, where classic
    * random-order LPA is neither). Unlike hash-min CC
    * (which floods toward the global min and finds CONNECTED
    * components), frequency-adoption stalls at community boundaries —
    * dense blocks agree internally long before a bridge edge can win a
    * plurality, which is what makes k-round LPA a community detector.
    *
    * Per round: one edges⋈labels join + one (node, label) count
    * aggregate + one argmax aggregate — the PageRank iteration shape;
    * labels iterate as a [[Fixpoint]].
    * `rounds` is a bounded parameter: LPA is used at a fixed small
    * depth, not to convergence. Returns (node, label). */
  def labelPropagation(pairs: DataFrame, aCol: String, bCol: String,
      rounds: Int): DataFrame = {
    require(rounds >= 1 && rounds <= 16, s"bounded rounds, got $rounds")
    Stage("Graph.labelPropagation") { implicit st =>
      val edges = st.pin(pairs.select(col(aCol).cast("long").as("src"),
          col(bCol).cast("long").as("dst"))
        .unionByName(pairs.select(col(bCol).cast("long").as("src"),
          col(aCol).cast("long").as("dst")))
        .distinct())
      val labels0 = st.checkpoint(edges.select(col("src").as("node"))
        .distinct().withColumn("label", col("node")), "init")
      Fixpoint.iterate(labels0, rounds) { (labels, _) =>
        edges
          .join(labels.withColumnRenamed("node", "dst"), Seq("dst"))
          .groupBy(col("src"), col("label"))
          .agg(count(lit(1)).as("_c"))
          .groupBy(col("src"))
          .agg(max(struct(col("_c"), (-col("label")).as("_nl"))).as("_w"))
          .select(col("src").as("node"), (-col("_w._nl")).as("label"))
      }(Fixpoint.AllRounds).state
    }
  }

  /** [NS] — common-neighbor link prediction: for every NON-adjacent
    * node pair at distance 2, the count of shared neighbors and the
    * neighborhood-Jaccard score in exact ppm — "which near-dup docs /
    * users will an extra crawl pass connect next", the classic
    * link-prediction baseline (Liben-Nowell & Kleinberg 2003).
    *
    * Plan: one wedge self-join through the shared neighbor (volume
    * Σ deg² — the triangle bound; cap hub degrees upstream like
    * [[coOccurrence]] when the graph has heavy hubs), one count
    * aggregate, an ANTI-join against the edge set (candidates must not
    * already be linked), two broadcast degree joins, and a
    * TakeOrderedAndProject for the top-n. */
  def linkPrediction(pairs: DataFrame, aCol: String, bCol: String,
      topN: Int): DataFrame = Stage("Graph.linkPrediction") { st =>
    val und = st.pin(pairs.select(
        least(col(aCol), col(bCol)).cast("long").as("_a"),
        greatest(col(aCol), col(bCol)).cast("long").as("_b"))
      .filter(col("_a") < col("_b"))
      .distinct())
    val adj = und.select(col("_a").as("n"), col("_b").as("m"))
      .unionByName(und.select(col("_b").as("n"), col("_a").as("m")))
    val deg = adj.groupBy(col("n")).agg(count(lit(1)).as("d"))
    val cand = adj.as("x").join(adj.as("y"), Seq("n"))
      .filter(col("x.m") < col("y.m"))
      .groupBy(col("x.m").as("u"), col("y.m").as("v"))
      .agg(count(lit(1)).as("common"))
      .join(und.select(col("_a").as("u"), col("_b").as("v")),
        Seq("u", "v"), "left_anti")
    st.checkpoint(cand
      .join(deg.select(col("n").as("u"), col("d").as("du")), Seq("u"))
      .join(deg.select(col("n").as("v"), col("d").as("dv")), Seq("v"))
      .withColumn("jaccard_ppm",
        expr("(1000000 * common) div (du + dv - common)"))
      .select(col("u"), col("v"), col("common"), col("jaccard_ppm"))
      .orderBy(col("jaccard_ppm").desc, col("u"), col("v"))
      .limit(topN), "top")
  }

  /** Exact-integer HITS (Kleinberg 1999): hub and authority scores over
    * a directed edge list, k synchronous iterations. Where PageRank
    * ([[pageRankExact]]) ranks by random-surfer mass, HITS separates the
    * two roles a node can play — a good *hub* points at good
    * authorities, a good *authority* is pointed at by good hubs — the
    * natural shape for bipartite-ish interaction graphs (customers →
    * suppliers, crawlers → domains) where "who curates well" and "who
    * is curated" are different questions.
    *
    * All arithmetic is scaled-integer so a DuckDB oracle replaying the
    * recurrence hash-matches bit-for-bit: scores start at `scale`, each
    * half-step sums the counterpart score over edges and then L1-
    * normalizes via floor division `(scale * raw) div total` (the
    * product is computed in decimal(38,0) — raw sums can reach
    * edges × scale, so a bare long multiply would overflow exactly at
    * the advertised scale). Update order is the classic sequential one:
    * auth(t) from hub(t-1), then hub(t) from auth(t). An empty side
    * (total = 0) yields all-zero scores rather than a division error.
    *
    * Plan shape per iteration: two edge⋈score equi-joins + two groupBy
    * aggregates + two 1-row broadcast totals — the same per-round cost
    * envelope as PageRank, frontier never materialized driver-side. The
    * per-round state is four frames (two grouped sums, auth, scores), so
    * the loop runs in a [[Stage]] directly.
    */
  def hitsExact(edgePairs: DataFrame, srcCol: String, dstCol: String,
      iters: Int, scale: Long = 1000000000L): DataFrame = {
    require(iters >= 1, s"iters must be >= 1, got $iters")
    Stage("Graph.hitsExact") { st =>
      val edges0 = st.pin(edgePairs
        .select(col(srcCol).cast("long").as("_src"),
          col(dstCol).cast("long").as("_dst"))
        .filter(col("_src").isNotNull && col("_dst").isNotNull)
        .distinct())
      val nodes = st.checkpoint(edges0.select(col("_src").as("_n"))
        .union(edges0.select(col("_dst").as("_n")))
        .distinct(), "nodes")
      // L1-normalize a raw score column against its total. The total is
      // a loop-variant 1-row scalar consumed only as a literal: it is
      // observed on the grouped-sums checkpoint action (zeros added by the
      // later left join to the node set cannot change the total, so
      // summing the grouped rows is exact), instead of costing a
      // separate collect job per half-step (guide §2.4; measured r14:
      // the two collects were 2 of q241's ~13 jobs per iteration).
      def total(rawCol: String): Column =
        coalesce(sum(col(rawCol)).cast("decimal(38,0)"),
          lit(0).cast("decimal(38,0)")).as("_tot")
      def normLit(m: Map[String, Any], rawCol: String,
          outCol: String): Column = {
        val tot = m("_tot").asInstanceOf[java.math.BigDecimal]
        if (tot.signum() == 0) lit(0L).as(outCol)
        else expr(s"CAST($scale AS DECIMAL(38,0)) * " +
          s"CAST($rawCol AS DECIMAL(38,0)) div CAST('${tot.toPlainString}'" +
          s" AS DECIMAL(38,0))").as(outCol)
      }
      var scores = st.checkpoint(nodes.select(col("_n"),
        lit(scale).as("_auth"), lit(scale).as("_hub")), "init")
      for (i <- 1 to iters) {
        // grouped in-edge sums: checkpoint once — feeds both the total
        // and the normalized join, so the shuffle runs exactly once
        val (gAuth, totA) = st.observed(edges0
          .join(scores.select(col("_n").as("_src"), col("_hub")), "_src")
          .groupBy(col("_dst"))
          .agg(sum(col("_hub")).as("_ra"))
          .select(col("_dst").as("_n"), col("_ra")), s"iter$i/authSums")(
          total("_ra"))
        // auth(t) feeds both the hub half-step and the final join —
        // checkpoint so each consumer reads the materialized rows (the
        // lazy variant re-derived it per consumer and measured SLOWER
        // in both r13 and r14: 4.6 s vs 3.5 s on q241)
        val auth = st.checkpoint(nodes.join(gAuth, Seq("_n"), "left")
          .select(col("_n"), coalesce(col("_ra"), lit(0L)).as("_ra"))
          .select(col("_n"), normLit(totA, "_ra", "_auth")), s"iter$i/auth")
        st.release(gAuth)
        val (gHub, totH) = st.observed(edges0
          .join(auth.select(col("_n").as("_dst"), col("_auth")), "_dst")
          .groupBy(col("_src"))
          .agg(sum(col("_auth")).as("_rh"))
          .select(col("_src").as("_n"), col("_rh")), s"iter$i/hubSums")(
          total("_rh"))
        val hub = nodes.join(gHub, Seq("_n"), "left")
          .select(col("_n"), coalesce(col("_rh"), lit(0L)).as("_rh"))
          .select(col("_n"), normLit(totH, "_rh", "_hub"))
        val prevScores = scores
        scores = st.checkpoint(auth.join(hub, Seq("_n")), s"iter$i/scores")
        st.release(gHub)
        st.release(auth)       // folded into the new scores
        st.release(prevScores) // superseded
      }
      scores.select(col("_n").as("node"), col("_auth").as("auth"),
        col("_hub").as("hub"))
    }
  }

  /** [NS] — root-to-node path linearization over a parent-pointer
    * forest: every node gets the concatenated contents of its ancestor
    * chain root→…→node, its depth, its root id, and an `is_leaf` flag.
    * This is SFT conversation assembly: a comment tree (the reference's
    * `comments.parent` self-FK, schema.sql:41) linearized into
    * training conversations — each leaf's row IS the full thread, in
    * order, ready for a token-budget gate. Also the provenance answer
    * for chunk→parent-document chains.
    *
    * Semantics: a parent pointer to a missing id (or to itself) makes
    * the node a root. Paths concatenate contents with `sep`, root
    * first. `is_leaf` = no other node points at this one.
    *
    * Distribution — pointer DOUBLING, the [[graft.operators.Integrity
    * .cascadeRecursiveDoubling]] recurrence carrying path strings: the
    * state row (id, anc, path, depth, root) holds the concatenation of
    * the first 2^i ancestors; each round joins the state to itself on
    * `anc = id` and prepends the ancestor row's (already 2^i-long)
    * path. ceil(log2 maxDepth) self-joins total — a depth-10⁴
    * provenance chain costs 14 rounds, not 10⁴ — iterating as a
    * [[Fixpoint]] with flat lineage. No driver collect; state is
    * node-partitioned throughout. Fails loudly (require) if any chain
    * exceeds `maxDepth` after the final round rather than returning a
    * truncated conversation. Cost note: path bytes grow with depth —
    * at 100 TB keep `contentCol` to the per-turn text actually needed
    * (ids/snippets), not whole documents. */
  def pathLinearize(nodes: DataFrame, idCol: String, parentCol: String,
      contentCol: String, sep: String = " | ",
      maxDepth: Int = 64): DataFrame =
    Stage("Graph.pathLinearize") { implicit st =>
      val base = nodes.select(col(idCol).as("_id"),
        col(parentCol).as("_p"), col(contentCol).cast("string").as("_c"))
      // normalize: parent → null when missing or self (those are roots)
      val ids = base.select(col("_id").as("_pid"))
      val e = st.checkpoint(base.join(ids,
          base("_p") === col("_pid") && base("_p") =!= base("_id"), "left")
        .select(col("_id"),
          when(col("_pid").isNull, lit(null)).otherwise(col("_p")).as("_anc"),
          col("_c")), "edges")
      // the live-count (rows whose chain is still unresolved) is observed
      // on every checkpoint action — no per-round isEmpty probe job and no
      // re-probe for the final require (guide §2.4; the predicate is two
      // null checks per row, so the metric pass costs nothing next to the
      // doubling join itself)
      val liveRows = coalesce(sum(when(col("_anc").isNotNull, 1L)
        .otherwise(0L)), lit(0L))
      val (state0, live0) = st.observed(
        e.select(col("_id"), col("_anc"), col("_c").as("_path"),
          lit(1L).as("_depth"),
          when(col("_anc").isNull, col("_id")).as("_root")), "init")(
        liveRows.as("_live"))
      val res =
        if (live0("_live") == 0L) Fixpoint.Result(state0, 0L)
        else Fixpoint.iterate(state0,
            Fixpoint.doublingRounds(maxDepth)) { (state, _) =>
          val j = state.select(col("_id").as("_jid"), col("_anc").as("_janc"),
            col("_path").as("_jpath"), col("_depth").as("_jdepth"),
            col("_root").as("_jroot"))
          state.join(j, state("_anc") === j("_jid"), "left")
            .select(col("_id"),
              when(col("_anc").isNull, col("_anc"))
                .otherwise(col("_janc")).as("_na"),
              when(col("_anc").isNull, col("_path"))
                .otherwise(concat(col("_jpath"), lit(sep), col("_path")))
                .as("_path"),
              when(col("_anc").isNull, col("_depth"))
                .otherwise(col("_depth") + col("_jdepth")).as("_depth"),
              when(col("_anc").isNull, col("_root"))
                .otherwise(col("_jroot")).as("_root"))
            .withColumnRenamed("_na", "_anc")
            .select(col("_id"), col("_anc"), col("_path"), col("_depth"),
              col("_root"))
        }(Fixpoint.Observed(liveRows))
      require(res.live == 0,
        s"pathLinearize: ancestor chain deeper than maxDepth=$maxDepth")
      val parents = e.filter(col("_anc").isNotNull)
        .select(col("_anc").as("_id")).distinct()
        .withColumn("_hasChild", lit(true))
      res.state.join(parents, Seq("_id"), "left")
        .select(col("_id").as(idCol), col("_root").as("root"),
          col("_path").as("conversation"), col("_depth").as("n_turns"),
          col("_hasChild").isNull.as("is_leaf"))
    }
}
