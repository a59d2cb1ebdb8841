package graft.queries

import org.apache.spark.sql.functions._
import graft.Tables
import graft.operators.{Dedup, Graph}

/** [NS] Graph analytics queries — PageRank authority over the purchase
  * graph, TextRank keyword extraction (PageRank over the token
  * co-occurrence graph), and triangle counting over the near-dup
  * candidate graph. All rank arithmetic is scaled-integer (see
  * [[graft.operators.Graph]]), so the DuckDB oracles replay the exact
  * recurrence and hash-match bit-for-bit; the oracle unrolls the
  * fixed-iteration loop as chained CTEs (the kmeansIterSql convention).
  */
object GraphQueries {

  /** Unrolled exact-integer PageRank: expects a CTE `edges0(src, dst)`
    * (distinct directed edges) to be in scope; defines r0..r`iters` with
    * (node, od, pr). Mirrors [[Graph.pageRankExact]] line for line:
    * scale 10^12, damping 85/100, dangling mass redistributed uniformly,
    * floor division everywhere. */
  private def pageRankCtes(iters: Int): String = {
    val base = """nodes0 AS (SELECT src AS node FROM edges0
        UNION SELECT dst FROM edges0),
      od AS (SELECT src, CAST(count(*) AS BIGINT) AS od
        FROM edges0 GROUP BY src),
      edges AS (SELECT e.src, e.dst, o.od
        FROM edges0 e JOIN od o ON o.src = e.src),
      nodes AS (SELECT n.node, coalesce(o.od, CAST(0 AS BIGINT)) AS od
        FROM nodes0 n LEFT JOIN od o ON o.src = n.node),
      nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM nodes),
      r0 AS (SELECT node, od, 1000000000000 // nn.n AS pr
        FROM nodes CROSS JOIN nn)"""
    val its = (1 to iters).map { i =>
      s"""c$i AS (SELECT e.dst AS node,
          CAST(sum(r.pr // e.od) AS BIGINT) AS contrib
        FROM edges e JOIN r${i - 1} r ON r.node = e.src GROUP BY e.dst),
      d$i AS (SELECT CAST(coalesce(sum(pr), 0) AS BIGINT) AS dang
        FROM r${i - 1} WHERE od = 0),
      r$i AS (SELECT n.node, n.od,
          (15 * (1000000000000 // nn.n)) // 100
            + (85 * (coalesce(c.contrib, CAST(0 AS BIGINT))
                     + d.dang // nn.n)) // 100 AS pr
        FROM nodes n LEFT JOIN c$i c ON c.node = n.node
        CROSS JOIN d$i d CROSS JOIN nn)"""
    }.mkString(",\n      ")
    base + ",\n      " + its
  }

  /** [NS] — PageRank over the customer→supplier purchase graph (edges =
    * distinct (o_custkey, l_suppkey) via the order join; suppliers
    * namespaced +1e6 so the two key spaces can't collide). Suppliers
    * have no out-edges, so this graph exercises the dangling-mass
    * redistribution path for real: by iteration 2 supplier mass flows
    * back to every node uniformly. 3 iterations, top 20 by rank.
    * The 100 TB source-authority shape: rank channels/domains by who
    * links/buys, one join + one agg shuffle per iteration. */
  val q130Pagerank = Q(
    "q130_pagerank",
    (s, d) => {
      import s.implicits._
      val edges = Tables.orders(s, d).select($"o_orderkey", $"o_custkey")
        .join(Tables.lineitem(s, d).select($"l_orderkey", $"l_suppkey"),
          $"o_orderkey" === $"l_orderkey")
        .select($"o_custkey".as("src"),
          ($"l_suppkey" + 1000000L).as("dst"))
      Graph.pageRankExact(edges, "src", "dst", iters = 3)
        .select($"node",
          when($"node" >= 1000000L, "supplier").otherwise("customer")
            .as("kind"),
          $"pr")
        .orderBy($"pr".desc, $"node")
        .limit(20)
    },
    Some(s"""WITH edges0 AS (SELECT DISTINCT o_custkey AS src,
          l_suppkey + 1000000 AS dst
        FROM orders JOIN lineitem ON l_orderkey = o_orderkey),
      ${pageRankCtes(3)}
      SELECT node,
        CASE WHEN node >= 1000000 THEN 'supplier' ELSE 'customer' END
          AS kind,
        pr
      FROM r3 ORDER BY pr DESC, node LIMIT 20"""),
    doc = "[NS] exact-integer PageRank w/ dangling redistribution (purchase graph)")

  /** [NS] — TextRank keyword extraction (Mihalcea & Tarau 2004):
    * PageRank over the token co-occurrence graph (adjacent-token pairs,
    * undirected → both directions as directed edges; symmetric graphs
    * have no dangling nodes, so this exercises the pure-contribution
    * path). The classic unsupervised keyword scorer for corpus triage —
    * degree alone over-ranks stopword hubs; TextRank discounts them by
    * their neighbors' low rank. */
  val q133Textrank = Q(
    "q133_textrank",
    (s, d) => {
      import s.implicits._
      val bi = Tables.documents(s, d)
        .select(split($"text", " ").as("w"))
        .filter(size($"w") >= 2)
        .select(explode(expr("transform(sequence(0, size(w) - 2), " +
          "i -> struct(w[i] AS a, w[i+1] AS b))")).as("p"))
        .select($"p.a".as("a"), $"p.b".as("b"))
        .filter($"a" =!= $"b" && length($"a") > 0 && length($"b") > 0)
      val und = bi.select(least($"a", $"b").as("a"),
        greatest($"a", $"b").as("b")).distinct()
      val sym = und.union(und.select($"b".as("a"), $"a".as("b")))
      Graph.pageRankExact(sym, "a", "b", iters = 3)
        .select($"node".as("term"), $"pr")
        .orderBy($"pr".desc, $"term")
        .limit(20)
    },
    Some(s"""WITH wd AS (SELECT string_split(text, ' ') AS w
        FROM documents WHERE len(string_split(text, ' ')) >= 2),
      bi AS (SELECT w[i] AS a, w[i + 1] AS b
        FROM wd, unnest(generate_series(1, len(w) - 1)) AS t(i)
        WHERE w[i] <> w[i + 1] AND len(w[i]) > 0 AND len(w[i + 1]) > 0),
      und AS (SELECT DISTINCT least(a, b) AS a, greatest(a, b) AS b
        FROM bi),
      edges0 AS (SELECT a AS src, b AS dst FROM und
        UNION ALL SELECT b, a FROM und),
      ${pageRankCtes(3)}
      SELECT node AS term, pr FROM r3
      ORDER BY pr DESC, term LIMIT 20"""),
    doc = "[NS] TextRank keywords (PageRank on token co-occurrence graph)")

  /** Shared oracle prefix: the contracted SimHash near-dup candidate
    * graph as CTE `e0(a, b)` — distinct doc-id pairs whose 64-bit
    * SimHash signatures differ in ≤ 3 bits, with identical signatures
    * contracted to their min-doc_id representative first (mirrors
    * `Dedup.simhash64` → `hammingPairs64` exactly; also defines
    * `bucket(sig, sig_id, n_docs)` for callers that need support). */
  private val simhashE0Ctes: String = """words AS (
        SELECT DISTINCT doc_id,
          unnest(list_distinct(string_split(text, ' '))) AS w
        FROM documents),
      bits AS (
        SELECT doc_id, j,
          CASE WHEN (strpos('0123456789abcdef', h[(j // 4) + 1]) - 1)
            // CAST(pow(2, 3 - (j % 4)) AS BIGINT) % 2 = 1 THEN 1 ELSE -1
            END AS wgt
        FROM (SELECT doc_id, md5(w) AS h FROM words),
          unnest(range(0, 64)) AS t(j)),
      sums AS (SELECT doc_id, j, sum(wgt) AS s FROM bits
        GROUP BY doc_id, j),
      sigstr AS (SELECT doc_id,
          string_agg(CASE WHEN s >= 0 THEN '1' ELSE '0' END, ''
            ORDER BY j) AS sig
        FROM sums GROUP BY doc_id),
      bucket AS (SELECT sig, min(doc_id) AS sig_id,
          CAST(count(*) AS BIGINT) AS n_docs
        FROM sigstr GROUP BY sig),
      rsums AS (SELECT s.doc_id, s.j, s.s
        FROM sums s JOIN bucket k ON k.sig_id = s.doc_id),
      e0 AS (SELECT a.doc_id AS a, b.doc_id AS b
        FROM rsums a JOIN rsums b ON a.j = b.j AND a.doc_id < b.doc_id
        GROUP BY a.doc_id, b.doc_id
        HAVING count(CASE WHEN (a.s >= 0) <> (b.s >= 0) THEN 1 END) <= 3)"""

  /** [NS] — triangle counts over the CONTRACTED SimHash near-dup graph:
    * identical 64-bit signatures collapse to one weighted node
    * (sig_id = min doc_id, n_docs = support) BEFORE the Hamming band
    * join, so exact-dup clusters — which would otherwise be k-cliques
    * costing C(k,3) each — contribute one node apiece, and the
    * triangles that remain measure true NEAR-dup clique structure in
    * signature space. A signature in many triangles sits inside a
    * mutually-similar cluster (safe to dedup); a triangle-free one
    * survived on a single marginal edge (audit before deleting). The
    * 100 TB order of operations: contract-by-equality first (cheapest
    * shuffle), band-join the survivors, then the degree-oriented wedge
    * join with its O(m^1.5) bound — see [[Graph.triangleCounts]]. */
  val q131Triangles = Q(
    "q131_triangles",
    (s, d) => {
      import s.implicits._
      val sigs = Dedup.simhash64(Tables.documents(s, d), "doc_id", "text")
        .groupBy($"simhash64")
        .agg(min($"doc_id").as("sig_id"), count(lit(1)).as("n_docs"))
      val pairs = Dedup.hammingPairs64(
        sigs.select($"sig_id", $"simhash64"), "sig_id", "simhash64",
        maxDist = 3)
      Graph.triangleCounts(pairs, "doc_a", "doc_b")
        .join(sigs.select($"sig_id".as("node"), $"n_docs"), Seq("node"))
        .filter($"n_tri" > 0)
        .select($"node", $"n_docs", $"n_tri")
        .orderBy($"n_tri".desc, $"node")
        .limit(20)
    },
    Some(s"""WITH $simhashE0Ctes,
      deg AS (SELECT n, CAST(count(*) AS BIGINT) AS d FROM (
          SELECT a AS n FROM e0 UNION ALL SELECT b FROM e0)
        GROUP BY n),
      orient AS (SELECT
          CASE WHEN da.d < db.d OR (da.d = db.d AND a < b)
            THEN a ELSE b END AS u,
          CASE WHEN da.d < db.d OR (da.d = db.d AND a < b)
            THEN b ELSE a END AS v,
          CASE WHEN da.d < db.d OR (da.d = db.d AND a < b)
            THEN db.d ELSE da.d END AS dv
        FROM e0 JOIN deg da ON da.n = a JOIN deg db ON db.n = b),
      wed AS (SELECT e1.u AS x, e1.v AS y, e2.v AS z
        FROM orient e1 JOIN orient e2 ON e1.u = e2.u
        WHERE e1.dv < e2.dv OR (e1.dv = e2.dv AND e1.v < e2.v)),
      tri AS (SELECT x, y, z FROM wed
        JOIN orient e3 ON e3.u = wed.y AND e3.v = wed.z),
      corners AS (SELECT x AS node FROM tri
        UNION ALL SELECT y FROM tri UNION ALL SELECT z FROM tri),
      ct AS (SELECT node, CAST(count(*) AS BIGINT) AS n_tri
        FROM corners GROUP BY node)
      SELECT ct.node, k.n_docs, ct.n_tri
      FROM ct JOIN bucket k ON k.sig_id = ct.node
      ORDER BY n_tri DESC, node LIMIT 20"""),
    doc = "[NS] triangle counts on the contracted SimHash graph (near-dup clique audit)")

  /** Unrolled bounded k-core peel: expects `e0(a, b)` in scope; defines
    * sym0..symR / k1..kR mirroring [[Graph.kCore]] round for round
    * (degree over the current symmetric edge list, keep deg ≥ k,
    * restrict edges to kept endpoints). Bounded-round semantics make
    * the unrolled form exact on ANY input — see the operator scaladoc. */
  private def kCorePeelCtes(k: Int, rounds: Int): String = {
    // AS MATERIALIZED is load-bearing: each round references the previous
    // one ~3× (degree, keep, restrict), and DuckDB inlines un-hinted CTEs
    // — 6 rounds of 3× expansion re-evaluates the SimHash e0 join ~3^6
    // times (measured: 2.4× slower per added round; materialized, 0.2 s
    // total). The relational twin of Graph.kCore's per-round
    // localCheckpoint.
    val base = """sym0 AS MATERIALIZED (SELECT a AS u, b AS v FROM e0
        UNION ALL SELECT b, a FROM e0)"""
    val its = (1 to rounds).map { i =>
      s"""d$i AS MATERIALIZED (SELECT u, CAST(count(*) AS BIGINT) AS d
        FROM sym${i - 1} GROUP BY u),
      k$i AS MATERIALIZED (SELECT u, d FROM d$i WHERE d >= $k),
      sym$i AS MATERIALIZED (SELECT s.u, s.v FROM sym${i - 1} s
        JOIN k$i x ON x.u = s.u JOIN k$i y ON y.u = s.v)"""
    }.mkString(",\n      ")
    base + ",\n      " + its
  }

  /** [NS] — 3-core of the SimHash near-dup candidate graph: peel nodes
    * with fewer than 3 near-dup neighbors until the dense backbone is
    * left (6 bounded rounds; the sf0.01 fixture converges in 4 —
    * 51→44→38→37 survivors). The k-core is the dedup auditor's
    * "cluster confidence" signal: a doc inside the 3-core is mutually
    * similar to ≥3 docs that are themselves in dense neighborhoods
    * (dedup aggressively); a doc that peels away in round 1 was
    * connected only to stragglers (inspect before deleting). Scale per
    * round: one degree groupBy + two semi-joins, edge set shrinks
    * monotonically. */
  val q138Kcore = Q(
    "q138_kcore",
    (s, d) => {
      import s.implicits._
      val sigs = Dedup.simhash64(
          Tables.documents(s, d), "doc_id", "text")
        .groupBy($"simhash64").agg(min($"doc_id").as("sig_id"))
      val pairs = Dedup.hammingPairs64(
        sigs.select($"sig_id", $"simhash64"), "sig_id", "simhash64",
        maxDist = 3)
      Graph.kCore(pairs, "doc_a", "doc_b", k = 3, maxRounds = 6)
        .orderBy($"node")
    },
    Some(s"""WITH $simhashE0Ctes,
      ${kCorePeelCtes(k = 3, rounds = 6)}
      SELECT u AS node, d AS deg FROM k6 ORDER BY node"""),
    doc = "[NS] bounded k-core peel of the near-dup graph (dense-backbone audit)")

  /** BFS-round CTEs, materialized for the same reason as
    * [[kCorePeelCtes]] (each settled set is referenced 3× per round). */
  private def bfsCtes(rounds: Int): String = {
    val base = """bed AS MATERIALIZED (SELECT a AS u, b AS v FROM e0
        UNION ALL SELECT b, a FROM e0),
      bd0 AS MATERIALIZED (SELECT min(a) AS u, CAST(0 AS BIGINT) AS dist
        FROM e0)"""
    val its = (1 to rounds).map { i =>
      s"""bf$i AS MATERIALIZED (SELECT DISTINCT bed.v AS u
        FROM bd${i - 1} d JOIN bed ON bed.u = d.u
        WHERE bed.v NOT IN (SELECT u FROM bd${i - 1})),
      bd$i AS MATERIALIZED (SELECT * FROM bd${i - 1}
        UNION ALL SELECT u, CAST($i AS BIGINT) FROM bf$i)"""
    }.mkString(",\n      ")
    base + ",\n      " + its
  }

  /** [NS] — bounded-round BFS levels (q161): hop distances within 4
    * similarity hops of the minimum-id node of the contracted SimHash
    * near-dup graph ([[Graph.bfsLevels]]) — the dedup blast-radius
    * audit ("if this doc is contaminated, what is transitively near
    * it, and how close"). Bounded rounds ⇒ the unrolled oracle is
    * exact on any input (the q138 contract); unreached nodes are
    * absent rows in both engines. */
  val q161BfsLevels = Q(
    "q161_bfs_levels",
    (s, d) => {
      import s.implicits._
      val sigs = Dedup.simhash64(
          Tables.documents(s, d), "doc_id", "text")
        .groupBy($"simhash64").agg(min($"doc_id").as("sig_id"))
      val pairs = Dedup.hammingPairs64(
        sigs.select($"sig_id", $"simhash64"), "sig_id", "simhash64",
        maxDist = 3)
      val src = pairs.agg(min($"doc_a").as("src")).select($"src")
      Graph.bfsLevels(pairs, "doc_a", "doc_b", src, maxRounds = 4)
        .orderBy($"node")
    },
    Some(s"""WITH $simhashE0Ctes,
      ${bfsCtes(4)}
      SELECT u AS node, dist FROM bd4 ORDER BY node"""),
    doc = "[NS] bounded BFS levels over the near-dup graph (blast-radius audit)")

  /** One hash-walk step as SQL: pick neighbor
    * adj[md5(start:i:cur) mod deg(cur)] of `curCol`, emitting `n$i`. */
  private def walkStepSql(i: Int, prev: String, curCol: String,
      carry: Seq[String]): String = {
    val cs = (carry :+ s"a.v AS n$i").mkString(", ")
    s"""w$i AS MATERIALIZED (SELECT w.start, $cs
        FROM w${i - 1} w JOIN wdeg d ON d.u = w.$curCol
        JOIN wadj a ON a.u = w.$curCol
          AND a.rk = CAST('0x' || substr(md5(CAST(w.start AS VARCHAR)
            || ':$i:' || CAST(w.$curCol AS VARCHAR)), 1, 15) AS BIGINT)
            % d.d)"""
  }

  /** [NS] — deterministic hash walks (q163): a 3-hop walk from every
    * node of the contracted near-dup graph ([[Graph.hashWalks]]) — the
    * DeepWalk corpus-generation stage with md5-derived step choices, so
    * the walks are bit-identical across runs/partitionings/engines
    * (rand() walks are neither replayable nor checkable). The oracle
    * replays the adjacency ranks and every pick. */
  val q163HashWalks = Q(
    "q163_hash_walks",
    (s, d) => {
      import s.implicits._
      val sigs = Dedup.simhash64(
          Tables.documents(s, d), "doc_id", "text")
        .groupBy($"simhash64").agg(min($"doc_id").as("sig_id"))
      val pairs = Dedup.hammingPairs64(
        sigs.select($"sig_id", $"simhash64"), "sig_id", "simhash64",
        maxDist = 3)
      Graph.hashWalks(pairs, "doc_a", "doc_b", steps = 3)
        .orderBy($"start")
    },
    Some(s"""WITH $simhashE0Ctes,
      sym AS MATERIALIZED (SELECT a AS u, b AS v FROM e0
        UNION ALL SELECT b, a FROM e0),
      wdeg AS MATERIALIZED (SELECT u, CAST(count(*) AS BIGINT) AS d
        FROM sym GROUP BY u),
      wadj AS MATERIALIZED (SELECT u, v,
          row_number() OVER (PARTITION BY u ORDER BY v) - 1 AS rk
        FROM sym),
      w0 AS (SELECT u AS start, u AS cur FROM wdeg),
      ${walkStepSql(1, "w0", "cur", Nil)},
      ${walkStepSql(2, "w1", "n1", Seq("w.n1"))},
      ${walkStepSql(3, "w2", "n2", Seq("w.n1", "w.n2"))}
      SELECT start, n1, n2, n3 FROM w3 ORDER BY start"""),
    doc = "[NS] deterministic hash walks (replayable DeepWalk corpus generation)")

  /** [NS] — degree-capped item co-occurrence (q177): the item-item
    * projection of the (user, item-k) interaction graph from the events
    * props, with each user capped to their 10 most-engaged items
    * ([[Graph.coOccurrence]]) — the bound that keeps the projection
    * linear in users instead of quadratic in hub degree. Pairs carry
    * the co-user count and the integer-ppm containment score. The
    * oracle replays the cap (same deterministic rank), the pair join,
    * and the score arithmetic. */
  val q177CoOccurrence = Q(
    "q177_cooccurrence",
    (s, d) => {
      import s.implicits._
      val inter = Tables.events(s, d)
        .select($"user_id",
          get_json_object($"props", "$.k").cast("long").as("item"))
        .filter($"item".isNotNull)
      Graph.coOccurrence(inter, "user_id", "item", capM = 10,
          minCount = 3L)
        .orderBy($"item_a", $"item_b")
    },
    Some("""WITH inter AS (SELECT user_id AS u,
          CAST(props->>'$.k' AS BIGINT) AS i, count(*) AS w
        FROM events WHERE props->>'$.k' IS NOT NULL GROUP BY 1, 2),
      capped AS (SELECT u, i FROM (SELECT u, i, row_number() OVER
          (PARTITION BY u ORDER BY w DESC, i ASC) AS rn FROM inter)
        WHERE rn <= 10),
      deg AS (SELECT i, CAST(count(*) AS BIGINT) AS deg FROM capped
        GROUP BY i),
      pairs AS (SELECT a.i AS item_a, b.i AS item_b,
          CAST(count(*) AS BIGINT) AS n_users
        FROM capped a JOIN capped b ON a.u = b.u AND a.i < b.i
        GROUP BY 1, 2 HAVING count(*) >= 3)
      SELECT item_a, item_b, n_users,
        CAST((n_users * 1000000) // least(da.deg, db.deg) AS BIGINT)
          AS containment_ppm
      FROM pairs JOIN deg da ON da.i = item_a JOIN deg db ON db.i = item_b
      ORDER BY item_a, item_b"""),
    doc = "[NS] degree-capped bipartite co-occurrence (linear-in-users item projection)")

  /** [NS] — decayed trending leaderboard (q178): per item-k, the
    * freshness-decayed engagement score (q143's exact power-of-2 shift
    * decay, applied per ITEM) and the top 10 via
    * TakeOrderedAndProject — the "what's hot now" serving query where a
    * plain count ranks stale hits over recent ones. All integer
    * arithmetic; anchor is a 1-row broadcast max. */
  val q178Trending = Q(
    "q178_trending",
    (s, d) => {
      import s.implicits._
      val ev = Tables.events(s, d)
        .withColumn("item", get_json_object($"props", "$.k").cast("long"))
        .filter($"item".isNotNull)
      val anchor = ev.agg(max(to_date($"ts")).as("_anchor"))
      ev.crossJoin(broadcast(anchor))
        .withColumn("_age", datediff($"_anchor", to_date($"ts")))
        .withColumn("_dec", expr("CAST(round(value * 100) AS BIGINT) div " +
          "shiftleft(CAST(1 AS BIGINT), CAST(least(_age, 40) AS INT))"))
        .groupBy($"item")
        .agg(sum($"_dec").as("decayed_scaled"), count(lit(1)).as("n"))
        .orderBy($"decayed_scaled".desc, $"item")
        .limit(10)
    },
    Some("""WITH a AS (SELECT max(CAST(ts AS DATE)) AS anchor FROM events),
      d AS (SELECT CAST(props->>'$.k' AS BIGINT) AS item,
          CAST(round(value * 100) AS BIGINT)
            // (CAST(1 AS BIGINT) << least(
               date_diff('day', CAST(ts AS DATE), anchor), 40)) AS dec
        FROM events CROSS JOIN a WHERE props->>'$.k' IS NOT NULL)
      SELECT item, CAST(sum(dec) AS BIGINT) AS decayed_scaled,
        CAST(count(*) AS BIGINT) AS n
      FROM d GROUP BY item
      ORDER BY decayed_scaled DESC, item LIMIT 10"""),
    doc = "[NS] decayed trending top-k (exact integer shift decay, heap top-k)")

  /** q181's oracle: the q130 recurrence with teleport + dangling mass
    * restricted to the seed set (seed ∈ {0,1} as a BIGINT factor). */
  private def pprCtes(iters: Int): String = {
    val base = """nodes0 AS (SELECT src AS node FROM edges0
        UNION SELECT dst FROM edges0),
      od AS (SELECT src, CAST(count(*) AS BIGINT) AS od
        FROM edges0 GROUP BY src),
      edges AS (SELECT e.src, e.dst, o.od
        FROM edges0 e JOIN od o ON o.src = e.src),
      nodes AS (SELECT n.node, coalesce(o.od, CAST(0 AS BIGINT)) AS od,
          CAST(CASE WHEN s.node IS NOT NULL THEN 1 ELSE 0 END AS BIGINT)
            AS seed
        FROM nodes0 n LEFT JOIN od o ON o.src = n.node
          LEFT JOIN seeds s ON s.node = n.node),
      ns AS (SELECT CAST(sum(seed) AS BIGINT) AS s FROM nodes),
      r0 AS (SELECT node, od, seed,
          seed * (1000000000000 // ns.s) AS pr
        FROM nodes CROSS JOIN ns)"""
    val its = (1 to iters).map { i =>
      s"""c$i AS (SELECT e.dst AS node,
          CAST(sum(r.pr // e.od) AS BIGINT) AS contrib
        FROM edges e JOIN r${i - 1} r ON r.node = e.src GROUP BY e.dst),
      d$i AS (SELECT CAST(coalesce(sum(pr), 0) AS BIGINT) AS dang
        FROM r${i - 1} WHERE od = 0),
      r$i AS (SELECT n.node, n.od, n.seed,
          n.seed * ((15 * (1000000000000 // ns.s)) // 100)
            + (85 * (coalesce(c.contrib, CAST(0 AS BIGINT))
                     + n.seed * (d.dang // ns.s))) // 100 AS pr
        FROM nodes n LEFT JOIN c$i c ON c.node = n.node
        CROSS JOIN d$i d CROSS JOIN ns)"""
    }.mkString(",\n      ")
    base + ",\n      " + its
  }

  /** [NS] — personalized PageRank / random walk with restart (q181):
    * proximity to THREE seed customers over the purchase graph
    * ([[Graph.personalizedPageRank]]) — the related-items primitive
    * where global PageRank (q130) only measures centrality. Teleport
    * and dangling mass return to the seeds, so rank decays with graph
    * distance from them; suppliers reachable only via the seeds rank
    * high, the rest stay near zero. Same exact-integer recurrence,
    * unrolled-CTE oracle. */
  val q181Ppr = Q(
    "q181_ppr",
    (s, d) => {
      import s.implicits._
      val edges = Tables.orders(s, d).select($"o_orderkey", $"o_custkey")
        .join(Tables.lineitem(s, d).select($"l_orderkey", $"l_suppkey"),
          $"o_orderkey" === $"l_orderkey")
        .select($"o_custkey".as("src"),
          ($"l_suppkey" + 1000000L).as("dst"))
      val seeds = Tables.orders(s, d).select($"o_custkey".as("node"))
        .distinct().orderBy($"node").limit(3)
      Graph.personalizedPageRank(edges, "src", "dst", seeds, iters = 3)
        .select($"node", $"is_seed", $"pr")
        .orderBy($"pr".desc, $"node")
        .limit(20)
    },
    Some(s"""WITH edges0 AS (SELECT DISTINCT o_custkey AS src,
          l_suppkey + 1000000 AS dst
        FROM orders JOIN lineitem ON l_orderkey = o_orderkey),
      seeds AS (SELECT DISTINCT o_custkey AS node FROM orders
        ORDER BY 1 LIMIT 3),
      ${pprCtes(3)}
      SELECT node, seed AS is_seed, pr
      FROM r3 ORDER BY pr DESC, node LIMIT 20"""),
    doc = "[NS] personalized PageRank (random walk with restart to a seed set)")

  /** [NS] — deterministic negative sampling (q183): 3 non-edge
    * supplier negatives per customer over the purchase graph
    * ([[Graph.negativeSamples]]) — the negatives half of a
    * link-prediction / embedding training set, with q163's hash walks
    * as the positives half. md5-derived probes into the rank-numbered
    * destination population make the sample engine-exact; real edges,
    * self-loops, and duplicate draws are removed before the per-source
    * k cut. */
  val q183NegSamples = Q(
    "q183_neg_samples",
    (s, d) => {
      import s.implicits._
      val edges = Tables.orders(s, d).select($"o_orderkey", $"o_custkey")
        .join(Tables.lineitem(s, d).select($"l_orderkey", $"l_suppkey"),
          $"o_orderkey" === $"l_orderkey")
        .select($"o_custkey".as("src"),
          ($"l_suppkey" + 1000000L).as("dst"))
      Graph.negativeSamples(edges, "src", "dst", k = 3, overgen = 3)
        .orderBy($"src", $"slot")
    },
    Some("""WITH edges0 AS (SELECT DISTINCT o_custkey AS src,
          l_suppkey + 1000000 AS dst
        FROM orders JOIN lineitem ON l_orderkey = o_orderkey),
      dsts AS (SELECT dst, row_number() OVER (ORDER BY dst) - 1 AS idx
        FROM (SELECT DISTINCT dst FROM edges0)),
      nd AS (SELECT CAST(count(*) AS BIGINT) AS n FROM dsts),
      probes AS (SELECT src, i,
          CAST('0x' || substr(md5(src::VARCHAR || '#' || i::VARCHAR),
            1, 14) AS BIGINT) % nd.n AS idx
        FROM (SELECT DISTINCT src FROM edges0),
          unnest(range(1, 10)) AS t(i), nd),
      cands AS (SELECT p.src, p.i, d.dst FROM probes p
        JOIN dsts d USING (idx) WHERE d.dst <> p.src),
      ne AS (SELECT c.src, c.i, c.dst FROM cands c
        ANTI JOIN edges0 e ON e.src = c.src AND e.dst = c.dst),
      dd AS (SELECT src, dst, min(i) AS i FROM ne GROUP BY src, dst),
      r AS (SELECT src, dst, CAST(row_number() OVER
          (PARTITION BY src ORDER BY i) AS INT) AS slot FROM dd)
      SELECT src, dst AS neg_dst, slot FROM r WHERE slot <= 3
      ORDER BY src, slot"""),
    doc = "[NS] deterministic negative sampling from the observed node population")

  /** [NS] — recommender offline evaluation (q201): hit-rate@3 of the
    * co-occurrence recommender against the leave-last-out holdout —
    * the END-TO-END offline eval loop: split each user's history
    * ([[graft.operators.Curation.leaveLastOut]]), build item-item
    * co-occurrence on TRAIN interactions only ([[Graph.coOccurrence]] —
    * test items never leak into the model), recommend the top-3
    * neighbors of each user's most-engaged train item, and score
    * whether the held-out item was among them. One exact-ppm summary
    * row; every stage is a previously verified construction. */
  val q201RecHitRate = Q(
    "q201_rec_hitrate",
    (s, d) => {
      import s.implicits._
      import org.apache.spark.sql.expressions.Window
      val inter = Tables.events(s, d)
        .withColumn("item", get_json_object($"props", "$.k").cast("long"))
        .filter($"item".isNotNull)
      // the leave-last-out window over the full event scan runs ONCE:
      // the split assignment is checkpointed and train/test/anchors all
      // derive from the materialized rows (pre-r14 each consuming branch
      // re-ran the JSON parse + window — measured 3× per run)
      val split = graft.operators.Curation
        .leaveLastOut(inter, "user_id", "ts", "event_id")
        .select($"user_id", $"item", $"split")
        .localCheckpoint(true)
      val train = split.filter($"split" === "train")
        .select($"user_id", $"item")
      val test = split.filter($"split" === "test")
        .select($"user_id", $"item".as("test_item"))
      val pairs = Graph.coOccurrence(train, "user_id", "item",
        capM = 10, minCount = 1L)
      val anchors = train.groupBy($"user_id", $"item")
        .agg(count(lit(1)).as("cnt"))
        .withColumn("_rn", row_number().over(Window.partitionBy($"user_id")
          .orderBy($"cnt".desc, $"item")))
        .filter($"_rn" === 1)
        .select($"user_id", $"item".as("anchor"))
        .localCheckpoint(true)
      val neigh = pairs
        .select($"item_a".as("anchor"), $"item_b".as("nb"), $"n_users")
        .unionByName(pairs
          .select($"item_b".as("anchor"), $"item_a".as("nb"), $"n_users"))
      val recs = anchors.join(neigh, Seq("anchor"))
        .withColumn("_rk", row_number().over(Window.partitionBy($"user_id")
          .orderBy($"n_users".desc, $"nb")))
        .filter($"_rk" <= 3)
        .select($"user_id", $"nb")
      // one readout aggregate instead of two + a broadcast cross-join:
      // per eval user the recs list holds DISTINCT items (pairs are
      // grouped, neigh directions disjoint), so the left join matches at
      // most one row and count(matched) ≡ the old semi-join user count
      val evalRows = test.join(anchors, Seq("user_id"), "left_semi")
      evalRows
        .join(recs.select($"user_id", $"nb".as("test_item"),
          lit(1L).as("_hit")), Seq("user_id", "test_item"), "left")
        .agg(count(lit(1)).as("n_eval"), count($"_hit").as("n_hits"))
        .withColumn("hr_ppm", expr(
          "case when n_eval > 0 then (1000000 * n_hits) div n_eval end"))
    },
    Some("""WITH inter AS (SELECT user_id, event_id, ts,
          CAST(props->>'$.k' AS BIGINT) AS item FROM events
        WHERE props->>'$.k' IS NOT NULL),
      sp AS (SELECT *, row_number() OVER (PARTITION BY user_id
          ORDER BY ts DESC, event_id DESC) AS rn FROM inter),
      train AS (SELECT user_id, item FROM sp WHERE rn > 1),
      test AS (SELECT user_id, item AS test_item FROM sp WHERE rn = 1),
      ic AS (SELECT user_id AS u, item AS i, count(*) AS w FROM train
        GROUP BY 1, 2),
      capped AS (SELECT u, i FROM (SELECT u, i, w, row_number() OVER
          (PARTITION BY u ORDER BY w DESC, i ASC) AS r FROM ic)
        WHERE r <= 10),
      pairs AS (SELECT a.i AS item_a, b.i AS item_b,
          CAST(count(*) AS BIGINT) AS n_users
        FROM capped a JOIN capped b ON a.u = b.u AND a.i < b.i
        GROUP BY 1, 2 HAVING count(*) >= 1),
      anchors AS (SELECT user_id, i AS anchor FROM (SELECT ic.u AS
          user_id, ic.i, row_number() OVER (PARTITION BY ic.u
          ORDER BY ic.w DESC, ic.i) AS r FROM ic) WHERE r = 1),
      neigh AS (SELECT item_a AS anchor, item_b AS nb, n_users FROM pairs
        UNION ALL SELECT item_b, item_a, n_users FROM pairs),
      recs AS (SELECT user_id, nb FROM (SELECT a.user_id, n.nb,
          row_number() OVER (PARTITION BY a.user_id
            ORDER BY n.n_users DESC, n.nb) AS rk
        FROM anchors a JOIN neigh n ON n.anchor = a.anchor)
        WHERE rk <= 3),
      ev AS (SELECT t.user_id, t.test_item FROM test t
        JOIN anchors a ON a.user_id = t.user_id),
      hits AS (SELECT DISTINCT e.user_id FROM ev e
        JOIN recs r ON r.user_id = e.user_id AND r.nb = e.test_item)
      SELECT CAST((SELECT count(*) FROM ev) AS BIGINT) AS n_eval,
        CAST((SELECT count(*) FROM hits) AS BIGINT) AS n_hits,
        CASE WHEN (SELECT count(*) FROM ev) > 0 THEN
          CAST((1000000 * (SELECT count(*) FROM hits))
            // (SELECT count(*) FROM ev) AS BIGINT) END AS hr_ppm"""),
    doc = "[NS] recommender hit-rate@3 vs leave-last-out (train-only model, exact ppm)")

  /** One synchronous LPA round as SQL: neighbor-label counts from the
    * previous round's `lPrev`, argmax per node with smallest-label
    * ties — [[graft.operators.Graph.labelPropagation]]'s update rule
    * verbatim. */
  private def lpaRoundSql(lPrev: String, lNext: String): String =
    s"""$lNext AS MATERIALIZED (SELECT node, label FROM (
        SELECT src AS node, label, row_number() OVER (PARTITION BY src
          ORDER BY c DESC, label) AS rn
        FROM (SELECT adj.src, l.label, count(*) AS c
          FROM adj JOIN $lPrev l ON l.node = adj.dst
          GROUP BY adj.src, l.label)) WHERE rn = 1)"""

  /** [NS] — community detection by deterministic label propagation
    * (q225): 3 synchronous LPA rounds over the contracted SimHash
    * near-dup graph ([[graft.operators.Graph.labelPropagation]]) —
    * communities = plurality-label basins, reported as size-ranked
    * (community, n_nodes). Where CC (q72/q97) answers "what is
    * transitively connected", LPA answers "what agrees internally":
    * bridge edges between dense blocks lose the plurality vote, so
    * chained near-dup clusters split at their weakest link. */
  val q225LabelProp = Q(
    "q225_label_prop",
    (s, d) => {
      import s.implicits._
      val sigs = Dedup.simhash64(Tables.documents(s, d), "doc_id", "text")
        .groupBy($"simhash64")
        .agg(min($"doc_id").as("sig_id"))
      val pairs = Dedup.hammingPairs64(
        sigs.select($"sig_id", $"simhash64"), "sig_id", "simhash64",
        maxDist = 3)
      Graph.labelPropagation(pairs, "doc_a", "doc_b", rounds = 3)
        .groupBy($"label".as("community"))
        .agg(count(lit(1)).as("n_nodes"))
        .filter($"n_nodes" > 1)
        .orderBy($"n_nodes".desc, $"community")
        .limit(20)
    },
    Some(s"""WITH $simhashE0Ctes,
      adj AS MATERIALIZED (SELECT a AS src, b AS dst FROM e0
        UNION ALL SELECT b, a FROM e0),
      l0 AS MATERIALIZED (SELECT DISTINCT src AS node FROM adj),
      l0l AS MATERIALIZED (SELECT node, node AS label FROM l0),
      ${lpaRoundSql("l0l", "l1")},
      ${lpaRoundSql("l1", "l2")},
      ${lpaRoundSql("l2", "l3")}
      SELECT label AS community, CAST(count(*) AS BIGINT) AS n_nodes
      FROM l3 GROUP BY label HAVING count(*) > 1
      ORDER BY n_nodes DESC, community LIMIT 20"""),
    doc = "[NS] deterministic label-propagation communities (plurality basins)")

  /** [NS] — common-neighbor link prediction (q226):
    * [[graft.operators.Graph.linkPrediction]] over the contracted
    * SimHash graph — the non-adjacent signature pairs most likely to be
    * joined by the next crawl batch, scored by neighborhood Jaccard in
    * exact ppm. The dedup-ops reading: a high-scoring predicted link
    * marks two clusters one borderline document away from merging —
    * the pairs to re-verify with exact Jaccard before a destructive
    * dedup pass. */
  val q226LinkPred = Q(
    "q226_link_pred",
    (s, d) => {
      import s.implicits._
      val sigs = Dedup.simhash64(Tables.documents(s, d), "doc_id", "text")
        .groupBy($"simhash64")
        .agg(min($"doc_id").as("sig_id"))
      val pairs = Dedup.hammingPairs64(
        sigs.select($"sig_id", $"simhash64"), "sig_id", "simhash64",
        maxDist = 3)
      Graph.linkPrediction(pairs, "doc_a", "doc_b", topN = 20)
    },
    Some(s"""WITH $simhashE0Ctes,
      adj AS MATERIALIZED (SELECT a AS n, b AS m FROM e0
        UNION ALL SELECT b, a FROM e0),
      deg AS (SELECT n, CAST(count(*) AS BIGINT) AS d FROM adj
        GROUP BY n),
      cand AS (SELECT x.m AS u, y.m AS v,
          CAST(count(*) AS BIGINT) AS common
        FROM adj x JOIN adj y ON x.n = y.n AND x.m < y.m
        GROUP BY x.m, y.m),
      nc AS (SELECT u, v, common FROM cand
        WHERE NOT EXISTS (SELECT 1 FROM e0
          WHERE e0.a = cand.u AND e0.b = cand.v))
      SELECT u, v, common,
        (1000000 * common) // (du.d + dv.d - common) AS jaccard_ppm
      FROM nc JOIN deg du ON du.n = u JOIN deg dv ON dv.n = v
      ORDER BY jaccard_ppm DESC, u, v LIMIT 20"""),
    doc = "[NS] common-neighbor link prediction (cluster-merge early warning)")

  /** Unrolled exact-integer HITS: expects `edges0(src, dst)` in scope;
    * defines s0..s`iters` with (node, auth, hub). Mirrors
    * [[Graph.hitsExact]] half-step for half-step: scale 10^9, auth(t)
    * from hub(t-1) then hub(t) from auth(t), each L1-normalized by
    * floor division with the product widened to HUGEINT (the oracle's
    * spelling of the operator's decimal(38,0) widening). */
  private def hitsCtes(iters: Int): String = {
    val base = """nodesH AS (SELECT src AS node FROM edges0
        UNION SELECT dst FROM edges0),
      s0 AS (SELECT node, CAST(1000000000 AS BIGINT) AS auth,
          CAST(1000000000 AS BIGINT) AS hub FROM nodesH)"""
    val its = (1 to iters).map { i =>
      s"""ra$i AS (SELECT e.dst AS node, CAST(sum(s.hub) AS BIGINT) AS raw
        FROM edges0 e JOIN s${i - 1} s ON s.node = e.src GROUP BY e.dst),
      a$i AS (SELECT n.node, coalesce(r.raw, CAST(0 AS BIGINT)) AS raw
        FROM nodesH n LEFT JOIN ra$i r ON r.node = n.node),
      ta$i AS (SELECT CAST(sum(raw) AS HUGEINT) AS t FROM a$i),
      an$i AS (SELECT node, CASE WHEN t = 0 THEN CAST(0 AS BIGINT)
          ELSE CAST((1000000000::HUGEINT * raw) // t AS BIGINT) END AS auth
        FROM a$i CROSS JOIN ta$i),
      rh$i AS (SELECT e.src AS node, CAST(sum(a.auth) AS BIGINT) AS raw
        FROM edges0 e JOIN an$i a ON a.node = e.dst GROUP BY e.src),
      h$i AS (SELECT n.node, coalesce(r.raw, CAST(0 AS BIGINT)) AS raw
        FROM nodesH n LEFT JOIN rh$i r ON r.node = n.node),
      th$i AS (SELECT CAST(sum(raw) AS HUGEINT) AS t FROM h$i),
      hn$i AS (SELECT node, CASE WHEN t = 0 THEN CAST(0 AS BIGINT)
          ELSE CAST((1000000000::HUGEINT * raw) // t AS BIGINT) END AS hub
        FROM h$i CROSS JOIN th$i),
      s$i AS (SELECT a.node, a.auth, h.hub FROM an$i a
        JOIN hn$i h ON h.node = a.node)"""
    }.mkString(",\n      ")
    base + ",\n      " + its
  }

  /** [NS] — HITS hubs & authorities (q241): [[Graph.hitsExact]] over the
    * same customer→supplier purchase graph as q130, 2 iterations. The
    * graph is bipartite, so the two roles separate perfectly: customers
    * carry ALL hub mass (they only point), suppliers carry all authority
    * mass — "which suppliers does the well-connected money endorse, and
    * which customers curate the broadest supplier set". PageRank on this
    * graph mixes the roles through dangling redistribution; HITS answers
    * them separately — that complement is the reason both rankers exist. */
  val q241Hits = Q(
    "q241_hits",
    (s, d) => {
      import s.implicits._
      val edges = Tables.orders(s, d).select($"o_orderkey", $"o_custkey")
        .join(Tables.lineitem(s, d).select($"l_orderkey", $"l_suppkey"),
          $"o_orderkey" === $"l_orderkey")
        .select($"o_custkey".as("src"),
          ($"l_suppkey" + 1000000L).as("dst"))
      Graph.hitsExact(edges, "src", "dst", iters = 2)
        .select($"node",
          when($"node" >= 1000000L, "supplier").otherwise("customer")
            .as("kind"),
          $"auth", $"hub")
        .orderBy($"auth".desc, $"hub".desc, $"node")
        .limit(20)
    },
    Some(s"""WITH edges0 AS (SELECT DISTINCT o_custkey AS src,
          l_suppkey + 1000000 AS dst
        FROM orders JOIN lineitem ON l_orderkey = o_orderkey),
      ${hitsCtes(2)}
      SELECT node,
        CASE WHEN node >= 1000000 THEN 'supplier' ELSE 'customer' END
          AS kind,
        auth, hub
      FROM s2 ORDER BY auth DESC, hub DESC, node LIMIT 20"""),
    doc = "[NS] exact-integer HITS hubs/authorities (bipartite purchase graph)")

  /** [NS] — recommender MRR@10 (q244): q201's leave-last-out eval loop
    * with the rank-sensitive metric — hit-rate says IF the held-out
    * item surfaced, MRR says WHERE (reciprocal rank in exact ppm,
    * misses contribute 0 but stay in the denominator — the standard
    * convention). Rank 1 vs rank 10 is the difference between a
    * recommender and a haystack; HR@k cannot see it. Same train-only
    * model; the only new work is keeping ranks ≤ 10 instead of ≤ 3. */
  val q244RecMrr = Q(
    "q244_rec_mrr",
    (s, d) => {
      import s.implicits._
      import org.apache.spark.sql.expressions.Window
      val inter = Tables.events(s, d)
        .withColumn("item", get_json_object($"props", "$.k").cast("long"))
        .filter($"item".isNotNull)
      // one leave-last-out pass + one readout aggregate — see q201 (the
      // recs list is per-user DISTINCT, so the left join matches ≤ 1 row
      // and min(rk) ≡ the matched rk)
      val split = graft.operators.Curation
        .leaveLastOut(inter, "user_id", "ts", "event_id")
        .select($"user_id", $"item", $"split")
        .localCheckpoint(true)
      val train = split.filter($"split" === "train")
        .select($"user_id", $"item")
      val test = split.filter($"split" === "test")
        .select($"user_id", $"item".as("test_item"))
      val pairs = Graph.coOccurrence(train, "user_id", "item",
        capM = 10, minCount = 1L)
      val anchors = train.groupBy($"user_id", $"item")
        .agg(count(lit(1)).as("cnt"))
        .withColumn("_rn", row_number().over(Window.partitionBy($"user_id")
          .orderBy($"cnt".desc, $"item")))
        .filter($"_rn" === 1)
        .select($"user_id", $"item".as("anchor"))
        .localCheckpoint(true)
      val neigh = pairs
        .select($"item_a".as("anchor"), $"item_b".as("nb"), $"n_users")
        .unionByName(pairs
          .select($"item_b".as("anchor"), $"item_a".as("nb"), $"n_users"))
      val recs = anchors.join(neigh, Seq("anchor"))
        .withColumn("rk", row_number().over(Window.partitionBy($"user_id")
          .orderBy($"n_users".desc, $"nb")))
        .filter($"rk" <= 10)
        .select($"user_id", $"nb", $"rk")
      val evalRows = test.join(anchors, Seq("user_id"), "left_semi")
      evalRows
        .join(recs.select($"user_id", $"nb".as("test_item"), $"rk"),
          Seq("user_id", "test_item"), "left")
        .agg(count(lit(1)).as("n_eval"),
          count($"rk").as("n_hits"),
          coalesce(sum(expr("1000000 div rk")), lit(0L)).as("rr_sum"))
        .withColumn("mrr_ppm", expr(
          "case when n_eval > 0 then rr_sum div n_eval end"))
    },
    Some("""WITH inter AS (SELECT user_id, event_id, ts,
          CAST(props->>'$.k' AS BIGINT) AS item FROM events
        WHERE props->>'$.k' IS NOT NULL),
      sp AS (SELECT *, row_number() OVER (PARTITION BY user_id
          ORDER BY ts DESC, event_id DESC) AS rn FROM inter),
      train AS (SELECT user_id, item FROM sp WHERE rn > 1),
      test AS (SELECT user_id, item AS test_item FROM sp WHERE rn = 1),
      ic AS (SELECT user_id AS u, item AS i, count(*) AS w FROM train
        GROUP BY 1, 2),
      capped AS (SELECT u, i FROM (SELECT u, i, w, row_number() OVER
          (PARTITION BY u ORDER BY w DESC, i ASC) AS r FROM ic)
        WHERE r <= 10),
      pairs AS (SELECT a.i AS item_a, b.i AS item_b,
          CAST(count(*) AS BIGINT) AS n_users
        FROM capped a JOIN capped b ON a.u = b.u AND a.i < b.i
        GROUP BY 1, 2 HAVING count(*) >= 1),
      anchors AS (SELECT user_id, i AS anchor FROM (SELECT ic.u AS
          user_id, ic.i, row_number() OVER (PARTITION BY ic.u
          ORDER BY ic.w DESC, ic.i) AS r FROM ic) WHERE r = 1),
      neigh AS (SELECT item_a AS anchor, item_b AS nb, n_users FROM pairs
        UNION ALL SELECT item_b, item_a, n_users FROM pairs),
      recs AS (SELECT user_id, nb, rk FROM (SELECT a.user_id, n.nb,
          row_number() OVER (PARTITION BY a.user_id
            ORDER BY n.n_users DESC, n.nb) AS rk
        FROM anchors a JOIN neigh n ON n.anchor = a.anchor)
        WHERE rk <= 10),
      ev AS (SELECT t.user_id, t.test_item FROM test t
        JOIN anchors a ON a.user_id = t.user_id),
      hr AS (SELECT e.user_id, min(r.rk) AS rank FROM ev e
        JOIN recs r ON r.user_id = e.user_id AND r.nb = e.test_item
        GROUP BY e.user_id)
      SELECT CAST((SELECT count(*) FROM ev) AS BIGINT) AS n_eval,
        CAST((SELECT count(*) FROM hr) AS BIGINT) AS n_hits,
        CAST(coalesce((SELECT sum(1000000 // rank) FROM hr), 0)
          AS BIGINT) AS rr_sum,
        CASE WHEN (SELECT count(*) FROM ev) > 0 THEN
          CAST(coalesce((SELECT sum(1000000 // rank) FROM hr), 0)
            // (SELECT count(*) FROM ev) AS BIGINT) END AS mrr_ppm"""),
    doc = "[NS] recommender MRR@10 vs leave-last-out (rank-sensitive eval, exact ppm)")

  /** [NS] — thread linearization (q270): the synthetic parent forest
    * over `orders` (parent = o_orderkey div 2, the q51/q55 tree) walked
    * by [[Graph.pathLinearize]] — every LEAF with ≥ 3 turns emits its
    * full root→leaf conversation, the SFT-assembly shape for the
    * reference's `comments.parent` threads (schema.sql:41). The Spark
    * side runs pointer doubling (log-depth self-joins); the oracle is
    * DuckDB's WITH RECURSIVE walking one ancestor per step — two
    * entirely different plans, so a hash match certifies the doubling
    * recurrence end-to-end (path order, depth, root, leaf flag). */
  val q270ThreadLinearize = Q(
    "q270_thread_linearize",
    (s, d) => {
      import s.implicits._
      val nodes = Tables.orders(s, d).select(
        $"o_orderkey".as("id"),
        expr("o_orderkey div 2").as("parent"),
        concat(lit("m"), $"o_orderkey").as("content"))
      Graph.pathLinearize(nodes, "id", "parent", "content", " | ", 64)
        .filter($"is_leaf" && $"n_turns" >= 3)
        .select($"id".as("leaf_id"), $"root", $"n_turns",
          length($"conversation").cast("long").as("conv_chars"),
          $"conversation")
        .orderBy($"leaf_id")
    },
    Some("""WITH RECURSIVE n AS (SELECT o_orderkey AS id,
          o_orderkey // 2 AS parent, 'm' || o_orderkey AS content
        FROM orders),
      e AS (SELECT c.id,
          CASE WHEN p.id IS NULL THEN NULL ELSE c.parent END AS anc,
          c.content
        FROM n c LEFT JOIN n p ON c.parent = p.id AND c.parent <> c.id),
      walk AS (
        SELECT id, anc, content AS path, CAST(1 AS BIGINT) AS n_turns,
          CASE WHEN anc IS NULL THEN id END AS root
        FROM e
        UNION ALL
        SELECT w.id, e2.anc, e2.content || ' | ' || w.path,
          w.n_turns + 1, CASE WHEN e2.anc IS NULL THEN e2.id END
        FROM walk w JOIN e e2 ON w.anc = e2.id),
      fin AS (SELECT id, root, path, n_turns FROM walk
        WHERE anc IS NULL),
      leaves AS (SELECT id FROM e WHERE id NOT IN
        (SELECT anc FROM e WHERE anc IS NOT NULL))
      SELECT f.id AS leaf_id, f.root, f.n_turns,
        CAST(len(f.path) AS BIGINT) AS conv_chars, f.path AS conversation
      FROM fin f JOIN leaves USING (id)
      WHERE f.n_turns >= 3 ORDER BY leaf_id"""),
    doc = "[NS] thread linearization: doubling walk ≡ recursive CTE (SFT assembly)")

  /** [NS] — recommender-model lifecycle serve (q274): q244's MRR@10
    * eval answered from the STORED co-occurrence model
    * ([[graft.operators.RecModel]]) — train-once/persist/serve-many,
    * the seventh stored-artifact family (ANN, dedup, text, LM,
    * tokenizer, rec). The model (sims + per-user anchors) is built
    * under a fingerprint so bench repeats never retrain; serving is
    * stored-anchors ⋈ stored-sims + one rank window — model-sized I/O,
    * zero interaction-log reads on the recommendation path (the log is
    * touched only to extract the held-out test items the EVAL needs).
    * The oracle is q244's verbatim: green proves stored-model serving
    * ≡ in-query training, the q127/q107 law for the recommender. */
  val q274RecModelServe = Q(
    "q274_rec_model_serve",
    (s, d) => {
      import s.implicits._
      val inter = Tables.events(s, d)
        .withColumn("item", get_json_object($"props", "$.k").cast("long"))
        .filter($"item".isNotNull)
      val split = graft.operators.Curation
        .leaveLastOut(inter, "user_id", "ts", "event_id")
      val train = split.filter($"split" === "train")
        .select($"user_id", $"item")
      val test = split.filter($"split" === "test")
        .select($"user_id", $"item".as("test_item"))
      val dir = graft.operators.RecModel.defaultDir(d + "#cooc10")
      graft.operators.RecModel.buildIfAbsent(train, "user_id", "item",
        10, 1L, dir, d + "#cooc10-v1")
      val recs = graft.operators.RecModel.serveTopK(s, dir, "user_id", 10)
      val anchors = graft.operators.RecModel.storedAnchors(s, dir)
        .select($"user_id")
      val evalUsers = test.join(anchors, Seq("user_id"), "left_semi")
        .localCheckpoint(true)
      val hitRanks = evalUsers.join(recs, Seq("user_id"))
        .filter($"test_item" === $"nb")
        .groupBy($"user_id").agg(min($"rk").as("rank"))
      evalUsers.agg(count(lit(1)).as("n_eval"))
        .crossJoin(broadcast(hitRanks.agg(
          count(lit(1)).as("n_hits"),
          coalesce(sum(expr("1000000 div rank")), lit(0L)).as("rr_sum"))))
        .withColumn("mrr_ppm", expr(
          "case when n_eval > 0 then rr_sum div n_eval end"))
    },
    q244RecMrr.oracle,
    doc = "[NS] stored rec-model serving ≡ in-query training (MRR@10, q244's oracle)")

  /** [NS] — incremental rec-model maintenance (q275): train on 80% of
    * users, [[graft.operators.RecModel.mergeBatch]] the remaining 20%
    * in (disjoint-user contract — the per-user cap makes pair counts
    * additive across user sets), then serve the SAME MRR@10 eval. The
    * oracle is q244's verbatim full-corpus training: green proves
    * merge ≡ rebuild, the q128/q221 incremental-index law applied to
    * the recommender — new users fold in at batch+model cost, the
    * trained log is never re-read. The build+merge sequence sits under
    * one fingerprint so bench repeats replay as no-ops. */
  val q275RecModelMerge = Q(
    "q275_rec_model_merge",
    (s, d) => {
      import s.implicits._
      val inter = Tables.events(s, d)
        .withColumn("item", get_json_object($"props", "$.k").cast("long"))
        .filter($"item".isNotNull)
      val split = graft.operators.Curation
        .leaveLastOut(inter, "user_id", "ts", "event_id")
      val train = split.filter($"split" === "train")
        .select($"user_id", $"item")
      val test = split.filter($"split" === "test")
        .select($"user_id", $"item".as("test_item"))
      val dir = graft.operators.RecModel.defaultDir(d + "#cooc10m")
      graft.operators.RecModel.withFingerprint(dir, d + "#cooc10m-v1") {
        graft.operators.RecModel.build(
          train.filter($"user_id" % 5 =!= 0), "user_id", "item",
          10, 1L, dir)
        graft.operators.RecModel.mergeBatch(s,
          train.filter($"user_id" % 5 === 0), "user_id", "item",
          10, 1L, dir, epoch = 0L)
      }
      val recs = graft.operators.RecModel.serveTopK(s, dir, "user_id", 10)
      val anchors = graft.operators.RecModel.storedAnchors(s, dir)
        .select($"user_id")
      val evalUsers = test.join(anchors, Seq("user_id"), "left_semi")
        .localCheckpoint(true)
      val hitRanks = evalUsers.join(recs, Seq("user_id"))
        .filter($"test_item" === $"nb")
        .groupBy($"user_id").agg(min($"rk").as("rank"))
      evalUsers.agg(count(lit(1)).as("n_eval"))
        .crossJoin(broadcast(hitRanks.agg(
          count(lit(1)).as("n_hits"),
          coalesce(sum(expr("1000000 div rank")), lit(0L)).as("rr_sum"))))
        .withColumn("mrr_ppm", expr(
          "case when n_eval > 0 then rr_sum div n_eval end"))
    },
    q244RecMrr.oracle,
    doc = "[NS] incremental rec-model merge ≡ full rebuild (disjoint-user additivity)")

  /** [NS] — rec-model forget certificate (q351):
    * [[graft.operators.RecModel.removeBatch]] — train the
    * co-occurrence model on the FULL train split, FORGET the
    * user_id ≡ 0 (mod 5) users (their symmetric pair counts subtract
    * — additive over disjoint user sets because the degree cap is
    * user-local, q275's merge law inverted — and their anchor rows
    * anti-join out), then serve the same MRR@10 eval. The oracle is
    * q244's trained on the REMAINING users only: green proves
    * decremental forget ≡ remaining-only rebuild at the recommender —
    * without it the model keeps recommending from purged users'
    * tastes (their co-occurrence mass stays in every neighbor list). */
  val q351RecModelForget = Q(
    "q351_rec_model_forget",
    (s, d) => {
      import s.implicits._
      val inter = Tables.events(s, d)
        .withColumn("item", get_json_object($"props", "$.k").cast("long"))
        .filter($"item".isNotNull)
      val split = graft.operators.Curation
        .leaveLastOut(inter, "user_id", "ts", "event_id")
      val train = split.filter($"split" === "train")
        .select($"user_id", $"item")
      val test = split.filter($"split" === "test")
        .select($"user_id", $"item".as("test_item"))
      val dir = graft.operators.RecModel.defaultDir(d + "#cooc10f")
      graft.operators.RecModel.withFingerprint(dir, d + "#cooc10f-v1") {
        graft.operators.RecModel.build(train, "user_id", "item",
          10, 1L, dir)
        graft.operators.RecModel.removeBatch(s,
          train.filter($"user_id" % 5 === 0), "user_id", "item",
          10, 1L, dir, epoch = 0L)
      }
      val recs = graft.operators.RecModel.serveTopK(s, dir, "user_id", 10)
      val anchors = graft.operators.RecModel.storedAnchors(s, dir)
        .select($"user_id")
      val evalUsers = test.join(anchors, Seq("user_id"), "left_semi")
        .localCheckpoint(true)
      val hitRanks = evalUsers.join(recs, Seq("user_id"))
        .filter($"test_item" === $"nb")
        .groupBy($"user_id").agg(min($"rk").as("rank"))
      evalUsers.agg(count(lit(1)).as("n_eval"))
        .crossJoin(broadcast(hitRanks.agg(
          count(lit(1)).as("n_hits"),
          coalesce(sum(expr("1000000 div rank")), lit(0L)).as("rr_sum"))))
        .withColumn("mrr_ppm", expr(
          "case when n_eval > 0 then rr_sum div n_eval end"))
    },
    q244RecMrr.oracle.map(_.replace(
      "train AS (SELECT user_id, item FROM sp WHERE rn > 1)",
      "train AS (SELECT user_id, item FROM sp WHERE rn > 1 " +
        "AND user_id % 5 <> 0)")),
    doc = "[NS] rec-model forget: pair-count subtraction + anchor purge == remaining-only rebuild")

  /** [NS] — recommender under the RTBF orchestrator (q368): q351's
    * forget routed through ONE [[graft.operators.Forget.purgeDocs]]
    * call via the new [[graft.operators.Forget.RecTarget]] — before
    * this a purged user's TASTES kept shaping every neighbor list
    * unless the caller knew to invoke RecModel.removeBatch separately
    * (the know-every-entry-point failure, closed for the model layer
    * the way q363 closed it for statistics). Build on the full train
    * split, purge the user_id ≡ 0 (mod 5) cohort's interactions
    * through the orchestrator (purge epochs on the tagged fence),
    * serve + MRR-evaluate. Oracle: q351's remaining-users rebuild
    * verbatim — orchestrated forget ≡ the individual remover ≡ the
    * remaining-only rebuild. */
  val q368RtbfRecModel = Q(
    "q368_rtbf_rec_model",
    (s, d) => {
      import s.implicits._
      val inter = Tables.events(s, d)
        .withColumn("item", get_json_object($"props", "$.k").cast("long"))
        .filter($"item".isNotNull)
      val split = graft.operators.Curation
        .leaveLastOut(inter, "user_id", "ts", "event_id")
      val train = split.filter($"split" === "train")
        .select($"user_id", $"item")
      val test = split.filter($"split" === "test")
        .select($"user_id", $"item".as("test_item"))
      val dir = graft.operators.RecModel.defaultDir(d + "#cooc10o")
      graft.operators.RecModel.withFingerprint(dir, d + "#cooc10o-v1") {
        graft.operators.RecModel.build(train, "user_id", "item",
          10, 1L, dir)
        graft.operators.Forget.purgeDocs(s,
          train.filter($"user_id" % 5 === 0), "user_id",
          Seq(graft.operators.Forget.RecTarget(dir, "user_id", "item",
            10)),
          epoch = 0L)
      }
      val recs = graft.operators.RecModel.serveTopK(s, dir, "user_id", 10)
      val anchors = graft.operators.RecModel.storedAnchors(s, dir)
        .select($"user_id")
      val evalUsers = test.join(anchors, Seq("user_id"), "left_semi")
        .localCheckpoint(true)
      val hitRanks = evalUsers.join(recs, Seq("user_id"))
        .filter($"test_item" === $"nb")
        .groupBy($"user_id").agg(min($"rk").as("rank"))
      evalUsers.agg(count(lit(1)).as("n_eval"))
        .crossJoin(broadcast(hitRanks.agg(
          count(lit(1)).as("n_hits"),
          coalesce(sum(expr("1000000 div rank")), lit(0L)).as("rr_sum"))))
        .withColumn("mrr_ppm", expr(
          "case when n_eval > 0 then rr_sum div n_eval end"))
    },
    q351RecModelForget.oracle,
    doc = "[NS] RTBF-orchestrated recommender purge: one purgeDocs call removes a cohort's tastes (forget == remaining-only rebuild, MRR-served)")

  val all: Seq[Q] = Seq(q130Pagerank, q131Triangles, q133Textrank,
    q138Kcore, q161BfsLevels, q163HashWalks, q177CoOccurrence,
    q178Trending, q181Ppr, q183NegSamples, q201RecHitRate,
    q225LabelProp, q226LinkPred, q241Hits, q244RecMrr,
    q270ThreadLinearize, q274RecModelServe, q275RecModelMerge,
    q351RecModelForget, q368RtbfRecModel)
}
