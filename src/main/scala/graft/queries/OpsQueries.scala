package graft.queries

import org.apache.spark.sql.functions._
import graft.Tables
import graft.operators.{AggView, Analytics, Layout, Shard, Skew}
import QueryDsl.{exactSum, exactSumSql}

/** [NS] Corpus-operations queries — the table-management side of running
  * a 100 TB corpus: profile it (q134), track running term frequencies in
  * a bounded sketch (q135), find its quality/size Pareto frontier (q136),
  * and plan small-file compaction (q137). All-integer outputs, so every
  * oracle hash-matches bit-for-bit.
  */
object OpsQueries {

  /** [NS] — single-pass column profiling: the first query anyone runs
    * against a new table. One aggregate over all five document columns
    * (exact COUNT(DISTINCT) for the oracle; `exact = false` swaps in HLL
    * for the 100 TB pass), unpivoted to long format. */
  val q134Profile = Q(
    "q134_profile",
    (s, d) => {
      import s.implicits._
      Analytics.columnProfile(Tables.documents(s, d),
          Seq("doc_id", "text", "lang", "source", "n_chars"))
        .orderBy($"col_name")
    },
    Some {
      val one = Seq("doc_id", "text", "lang", "source", "n_chars").map { c =>
        s"""SELECT '$c' AS col_name, CAST(count(*) AS BIGINT) AS n_rows,
          CAST(count($c) AS BIGINT) AS n_nonnull,
          CAST(count(DISTINCT $c) AS BIGINT) AS n_distinct,
          min(CAST($c AS VARCHAR)) AS min_str,
          max(CAST($c AS VARCHAR)) AS max_str,
          CAST(coalesce(sum(length(CAST($c AS VARCHAR))), 0) AS BIGINT)
            AS total_len
        FROM documents"""
      }.mkString("\nUNION ALL\n")
      s"SELECT * FROM (\n$one\n) ORDER BY col_name"
    },
    doc = "[NS] one-pass column profiling (long-format stats)")

  /** [NS] — Count-Min sketch over the corpus token stream: d=4 rows ×
    * w=16 cells (deliberately narrower than the vocabulary so hash
    * collisions actually over-count — the estimates stay exact-integer
    * and both engines replay the identical md5 cell arithmetic). Probes
    * are the true top-20 terms; `overcount = est - true_cnt >= 0` is the
    * CMS guarantee, visible per term. */
  val q135Cms = Q(
    "q135_cms_freq",
    (s, d) => {
      import s.implicits._
      val toks = Tables.documents(s, d)
        .select(explode(split($"text", " ")).as("k"))
      val tf = toks.groupBy($"k").agg(count(lit(1)).as("true_cnt"))
      val probes = tf.orderBy($"true_cnt".desc, $"k").limit(20)
      Analytics.cmsEstimate(Analytics.cmsSketch(toks, "k", 4, 16),
          probes, "k", 4, 16)
        .withColumn("overcount", $"est" - $"true_cnt")
        .select($"k".as("term"), $"true_cnt", $"est", $"overcount")
        .orderBy($"term")
    },
    Some("""WITH toks AS (SELECT unnest(string_split(text, ' ')) AS k
        FROM documents),
      tf AS (SELECT k, CAST(count(*) AS BIGINT) AS true_cnt
        FROM toks GROUP BY k),
      probes AS (SELECT k, true_cnt FROM tf
        ORDER BY true_cnt DESC, k LIMIT 20),
      hs AS (SELECT unnest(range(4)) AS h),
      sketch AS (SELECT h, CAST('0x' || substr(md5(h::VARCHAR || ':' || k),
            1, 8) AS BIGINT) % 16 AS cell, CAST(count(*) AS BIGINT) AS cnt
        FROM toks CROSS JOIN hs GROUP BY 1, 2),
      pc AS (SELECT p.k, p.true_cnt, hs.h,
          CAST('0x' || substr(md5(hs.h::VARCHAR || ':' || p.k), 1, 8)
            AS BIGINT) % 16 AS cell
        FROM probes p CROSS JOIN hs)
      SELECT pc.k AS term, pc.true_cnt,
        min(coalesce(s.cnt, 0)) AS est,
        min(coalesce(s.cnt, 0)) - pc.true_cnt AS overcount
      FROM pc LEFT JOIN sketch s ON s.h = pc.h AND s.cell = pc.cell
      GROUP BY pc.k, pc.true_cnt
      ORDER BY term"""),
    doc = "[NS] Count-Min sketch term frequencies (bounded d×w relation)")

  /** [NS] — 2-D skyline: the (n_chars, distinct-term) Pareto frontier of
    * the corpus — docs not dominated in BOTH length and vocabulary
    * richness by any other doc. The distributed suffix-scan formulation
    * (per-bucket windows + broadcast bucket summary, no global sort);
    * the oracle uses the classic single-window form, which is equivalent
    * and fine at oracle scale. */
  val q136Skyline = Q(
    "q136_skyline",
    (s, d) => {
      import s.implicits._
      val pts = Tables.documents(s, d).select($"n_chars",
        size(array_distinct(split($"text", " "))).cast("long").as("n_terms"))
      Analytics.skyline2D(pts, "n_chars", "n_terms", bucketWidth = 64)
        .orderBy($"n_chars")
    },
    Some("""WITH pts AS (SELECT n_chars,
          CAST(len(list_distinct(string_split(text, ' '))) AS BIGINT)
            AS n_terms
        FROM documents),
      g AS (SELECT n_chars, max(n_terms) AS n_terms FROM pts GROUP BY 1),
      sk AS (SELECT n_chars, n_terms,
          max(n_terms) OVER (ORDER BY n_chars DESC
            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS m
        FROM g)
      SELECT n_chars, n_terms FROM sk WHERE m IS NULL OR n_terms > m
      ORDER BY n_chars"""),
    doc = "[NS] 2-D Pareto skyline (distributed suffix-scan, no global sort)")

  /** [NS] — small-file compaction plan: pseudo-files (source × doc-id
    * slot, bytes = summed n_chars) packed into ~2500-byte bins per
    * source partition by the greedy streaming rule. Metadata-only
    * planning — the exact Iceberg/Delta binpack shape. */
  val q137Compaction = Q(
    "q137_compaction",
    (s, d) => {
      import s.implicits._
      val files = Tables.documents(s, d)
        .groupBy($"source", ($"doc_id" % 8).as("slot"))
        .agg(sum($"n_chars").as("bytes"))
        .select($"source",
          concat(lit("f"), lpad($"slot".cast("string"), 4, "0")).as("file"),
          $"bytes")
      Layout.compactionPlan(files, "source", "file", "bytes", 2500L)
        .orderBy($"source", $"bin")
    },
    Some("""WITH files AS (SELECT source,
          'f' || lpad(CAST(doc_id % 8 AS VARCHAR), 4, '0') AS file,
          CAST(sum(n_chars) AS BIGINT) AS bytes
        FROM documents GROUP BY 1, 2),
      c AS (SELECT source, file, bytes,
          sum(bytes) OVER (PARTITION BY source ORDER BY file
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
        FROM files)
      SELECT source, CAST(floor((cum - bytes) / 2500) AS BIGINT) AS bin,
        CAST(count(*) AS BIGINT) AS n_files,
        CAST(sum(bytes) AS BIGINT) AS bin_bytes,
        min(file) AS first_file, max(file) AS last_file
      FROM c GROUP BY 1, 2
      ORDER BY source, bin"""),
    doc = "[NS] small-file compaction planner (per-partition greedy binpack)")

  /** [NS] — incremental aggregate VIEW lifecycle (the q127 move applied
    * to GROUP BY): build (user, event_type) count/sum state from the
    * even-id half of events, fold a CDC delta (odd-id rows as inserts,
    * id%26==0 rows as retractions of base rows), serve from stored
    * state. The oracle recomputes from scratch over the net input — a
    * green row proves build ∘ mergeCdc ≡ build (Σ-delta view
    * maintenance), the refresh that costs O(delta+state) at 100 TB. */
  val q139MatviewCdc = Q(
    "q139_matview_cdc",
    (s, d) => {
      import s.implicits._
      val ev = Tables.events(s, d)
      val scaled = round($"value" * 100.0, 0).cast("long")
      val keys = Seq("user_id", "event_type")
      val dir = graft.operators.AggView.defaultDir(d + "_ev")
      graft.operators.Generation.withFingerprint(dir, d + "#base-even+cdc") {
        graft.operators.AggView.build(
          ev.filter($"event_id" % 2 === 0), keys, scaled, dir)
        val delta = ev.filter($"event_id" % 2 === 1)
            .withColumn("op", lit("I"))
          .unionByName(ev.filter($"event_id" % 26 === 0)
            .withColumn("op", lit("D")))
        graft.operators.AggView.mergeCdc(s, delta, keys, scaled, "op", dir)
      }
      graft.operators.AggView.serve(s, dir)
        .withColumn("avg_value", ($"vsum" / 100.0) / $"cnt")
        .orderBy($"user_id", $"event_type")
    },
    Some("""WITH net AS (
        SELECT user_id, event_type, value FROM events
        WHERE event_id % 2 = 0 AND event_id % 26 <> 0
        UNION ALL
        SELECT user_id, event_type, value FROM events WHERE event_id % 2 = 1),
      g AS (SELECT user_id, event_type, CAST(count(*) AS BIGINT) AS cnt,
          CAST(sum(CAST(round(value * 100.0) AS BIGINT)) AS BIGINT) AS vsum
        FROM net GROUP BY 1, 2)
      SELECT user_id, event_type, cnt, vsum,
        (vsum / 100.0) / cnt AS avg_value
      FROM g ORDER BY user_id, event_type"""),
    doc = "[NS] incremental agg matview: CDC fold == from-scratch (twin-certified)")

  /** [NS] — matview forget via the RTBF orchestrator (q354): the
    * summary table joins the purge fan-out — [[graft.operators.Forget
    * .AggViewTarget]] turns the forgotten entities' ORIGINAL fact rows
    * into an all-retraction CDC batch, and Σ-delta state absorbs it
    * exactly (q139's maintenance law read as deletion: groups reaching
    * zero leave the state). Build the (user, event_type) view on ALL
    * events, purge the user_id ≡ 4 (mod 9) users through
    * [[graft.operators.Forget.purgeDocs]], serve. Oracle rebuilds from
    * the remaining users only — a green row proves the orchestrated
    * retraction ≡ remaining-only rebuild at the eighth artifact class,
    * and that a purged user's activity leaves the REPORTING layer, not
    * just the indexes (dashboards keep leaking aggregates otherwise). */
  val q354AggViewForget = Q(
    "q354_agg_view_forget",
    (s, d) => {
      import s.implicits._
      val ev = Tables.events(s, d)
      val scaled = round($"value" * 100.0, 0).cast("long")
      val keys = Seq("user_id", "event_type")
      val dir = graft.operators.AggView.defaultDir(d + "_ev_forget")
      graft.operators.Generation.withFingerprint(dir, d + "#full+purge") {
        graft.operators.AggView.build(ev, keys, scaled, dir)
        graft.operators.Forget.purgeDocs(s,
          ev.filter($"user_id" % 9 === 4), "event_id",
          Seq(graft.operators.Forget.AggViewTarget(dir, keys, scaled)),
          epoch = 0L)
      }
      graft.operators.AggView.serve(s, dir)
        .orderBy($"user_id", $"event_type")
    },
    Some("""WITH g AS (SELECT user_id, event_type,
        CAST(count(*) AS BIGINT) AS cnt,
        CAST(sum(CAST(round(value * 100.0) AS BIGINT)) AS BIGINT) AS vsum
      FROM events WHERE user_id % 9 <> 4 GROUP BY 1, 2)
      SELECT user_id, event_type, cnt, vsum FROM g
      ORDER BY user_id, event_type"""),
    doc = "[NS] matview forget: orchestrated all-retraction purge == remaining-only rebuild")

  /** [NS] — blocked fuzzy-match join (entity resolution): doc pairs in
    * the same (lang, length-band) block within 40 edits. The block key
    * makes the self-join an equi-join (never a cross product); a length
    * gate and Spark's thresholded banded-DP levenshtein run before any
    * full distance. DuckDB's levenshtein is the same unit-cost edit
    * distance, so dist hash-matches exactly. */
  val q140FuzzyJoin = Q(
    "q140_fuzzy_join",
    (s, d) => {
      import s.implicits._
      graft.operators.Dedup.blockedFuzzyPairs(Tables.documents(s, d),
          "doc_id", "text",
          Seq($"lang", expr("n_chars div 16")), maxDist = 40)
        .orderBy($"doc_a", $"doc_b")
    },
    Some("""WITH b AS (SELECT doc_id, text, lang, n_chars // 16 AS band
        FROM documents)
      SELECT a.doc_id AS doc_a, b2.doc_id AS doc_b,
        CAST(levenshtein(a.text, b2.text) AS BIGINT) AS dist
      FROM b a JOIN b b2
        ON a.lang = b2.lang AND a.band = b2.band AND a.doc_id < b2.doc_id
      WHERE abs(length(a.text) - length(b2.text)) <= 40
        AND levenshtein(a.text, b2.text) <= 40
      ORDER BY doc_a, doc_b"""),
    doc = "[NS] blocked fuzzy-match join (banded levenshtein, equi-join blocks)")

  /** [NS] — declarative data-quality expectations over lineitem (the
    * publish gate a 100 TB ingest runs per partition): row-local rules
    * share ONE aggregate pass, the PK-uniqueness rule is one groupBy,
    * the FK rule one broadcast anti-join. The fixture genuinely
    * violates two contracts (duplicate (orderkey, linenumber) pairs and
    * prices past the declared cap), so the report proves both colors. */
  val q142Expectations = Q(
    "q142_expectations",
    (s, d) => {
      import graft.operators.Analytics._
      Analytics.expectations(Tables.lineitem(s, d), Seq(
          NotNull("l_orderkey"),
          InRange("l_quantity", 1, 50),
          InRange("l_extendedprice", 0, 50000),
          InSet("l_returnflag", Seq("A", "N", "R")),
          Unique(Seq("l_orderkey", "l_linenumber")),
          RefIn("l_orderkey", Tables.orders(s, d), "o_orderkey")))
        .orderBy(col("rule"))
    },
    Some("""SELECT * FROM (
      SELECT 'not_null:l_orderkey' AS rule,
        CAST(sum(CASE WHEN l_orderkey IS NULL THEN 1 ELSE 0 END) AS BIGINT)
          AS n_violations FROM lineitem
      UNION ALL
      SELECT 'range:l_quantity',
        CAST(sum(CASE WHEN l_quantity < 1 OR l_quantity > 50
          THEN 1 ELSE 0 END) AS BIGINT) FROM lineitem
      UNION ALL
      SELECT 'range:l_extendedprice',
        CAST(sum(CASE WHEN l_extendedprice < 0 OR l_extendedprice > 50000
          THEN 1 ELSE 0 END) AS BIGINT) FROM lineitem
      UNION ALL
      SELECT 'in_set:l_returnflag',
        CAST(sum(CASE WHEN l_returnflag NOT IN ('A', 'N', 'R')
          THEN 1 ELSE 0 END) AS BIGINT) FROM lineitem
      UNION ALL
      SELECT 'unique:l_orderkey,l_linenumber',
        CAST(count(*) - count(DISTINCT (l_orderkey, l_linenumber))
          AS BIGINT) FROM lineitem
      UNION ALL
      SELECT 'ref:l_orderkey', CAST(count(*) AS BIGINT) FROM lineitem
      WHERE l_orderkey IS NOT NULL
        AND l_orderkey NOT IN (SELECT o_orderkey FROM orders)
    ) ORDER BY rule"""),
    doc = "[NS] declarative data-quality expectations (publish gate report)")

  /** [NS] — freshness-decayed engagement score: per user,
    * Σ value·2^(−age_days), all integer (per-row floor shift of the
    * 100-scaled value, exact in both engines; the anchor date is a
    * 1-row broadcast max). The feed-ranking / user-activity shape:
    * yesterday counts half of today, map-only except one groupBy. */
  val q143DecayScore = Q(
    "q143_decay_score",
    (s, d) => {
      import s.implicits._
      val ev = Tables.events(s, d)
      val anchor = ev.agg(max(to_date($"ts")).as("_anchor"))
      ev.crossJoin(broadcast(anchor))
        .withColumn("_age", datediff($"_anchor", to_date($"ts")))
        .withColumn("_dec", expr("CAST(round(value * 100) AS BIGINT) div " +
          "shiftleft(CAST(1 AS BIGINT), CAST(least(_age, 40) AS INT))"))
        .groupBy($"user_id")
        .agg(sum($"_dec").as("decayed_scaled"),
          count(lit(1)).as("n_events"))
        .orderBy($"user_id")
    },
    Some("""WITH a AS (SELECT max(CAST(ts AS DATE)) AS anchor FROM events),
      d AS (SELECT user_id,
          CAST(round(value * 100) AS BIGINT)
            // (CAST(1 AS BIGINT) << least(
               date_diff('day', CAST(ts AS DATE), anchor), 40)) AS dec
        FROM events CROSS JOIN a)
      SELECT user_id, CAST(sum(dec) AS BIGINT) AS decayed_scaled,
        CAST(count(*) AS BIGINT) AS n_events
      FROM d GROUP BY 1 ORDER BY user_id"""),
    doc = "[NS] exact power-of-2 freshness decay (integer shift, no float drift)")

  /** [NS] — snapshot diff between two versions of a derived table (the
    * regression check every pipeline rerun needs): per-(user, type)
    * aggregates of the even-id half vs the odd-id half of events, one
    * FULL OUTER equi-join, only differing rows shipped. All-integer
    * compared values → exact. */
  val q147SnapshotDiff = Q(
    "q147_snapshot_diff",
    (s, d) => {
      import s.implicits._
      val ev = Tables.events(s, d)
      val scaled = round($"value" * 100.0, 0).cast("long")
      def half(even: Boolean) =
        ev.filter($"event_id" % 2 === (if (even) 0 else 1))
          .groupBy($"user_id", $"event_type")
          .agg(count(lit(1)).as("cnt"), sum(scaled).as("vsum"))
      Analytics.snapshotDiff(half(even = true), half(even = false),
          Seq("user_id", "event_type"), Seq("cnt", "vsum"))
        .orderBy($"user_id", $"event_type")
    },
    Some("""WITH a AS (SELECT user_id, event_type,
          CAST(count(*) AS BIGINT) AS cnt,
          CAST(sum(CAST(round(value * 100.0) AS BIGINT)) AS BIGINT) AS vsum
        FROM events WHERE event_id % 2 = 0 GROUP BY 1, 2),
      b AS (SELECT user_id, event_type,
          CAST(count(*) AS BIGINT) AS cnt_new,
          CAST(sum(CAST(round(value * 100.0) AS BIGINT)) AS BIGINT)
            AS vsum_new
        FROM events WHERE event_id % 2 = 1 GROUP BY 1, 2),
      j AS (SELECT coalesce(a.user_id, b.user_id) AS user_id,
          coalesce(a.event_type, b.event_type) AS event_type,
          a.cnt, b.cnt_new, a.vsum, b.vsum_new,
          CASE WHEN b.user_id IS NULL THEN 'removed'
            WHEN a.user_id IS NULL THEN 'added'
            WHEN a.cnt IS DISTINCT FROM b.cnt_new
              OR a.vsum IS DISTINCT FROM b.vsum_new THEN 'changed'
            END AS change
        FROM a FULL OUTER JOIN b
          ON a.user_id = b.user_id AND a.event_type = b.event_type)
      SELECT user_id, event_type, cnt, cnt_new, vsum, vsum_new, change
      FROM j WHERE change IS NOT NULL
      ORDER BY user_id, event_type"""),
    doc = "[NS] snapshot diff (full-outer key join, only differing rows ship)")

  /** Shared by q148/q149: the engine-portable 60-bit hash of o_custkey
    * (md5-slice, the [[graft.operators.Curation.hashBucket]] convention)
    * keyed by order priority — the "audience" stream the KMV sketches
    * summarize. */
  private val kmvHashExpr =
    "cast(conv(substring(md5(cast(o_custkey as string)), 1, 15), 16, 10) as bigint)"
  private val kmvHashSql =
    "CAST('0x' || substr(md5(CAST(o_custkey AS VARCHAR)), 1, 15) AS BIGINT)"
  private val kmvK = 256
  /** 2^60 as an exactly-representable double: the hash space size. */
  private val kmvSpace = "1152921504606846976.0"

  /** §2.10 [NS] — KMV (k-minimum-values) distinct sketch (q148): distinct
    * customers per order priority from a [[graft.functions
    * .KmvSketchAggregator]] (k=256, bounded mergeable state, map-side
    * combine like any built-in agg). Unlike HLL (q46's tolerance-boolean
    * contract), the KMV state is a pure function of the input SET, so the
    * sketch tail (`n_kept`, `kth`) AND the estimate hash-match an oracle
    * that replays the same rank window over the same md5 hashes. The
    * estimate (k-1)*2^60/kth is one IEEE division of exact operands —
    * bit-identical across engines. sf0.01 has ~1300 distinct custkeys per
    * priority (saturated estimate regime); the sub-k exact regime is
    * pinned in KmvSpec. */
  val q148KmvDistinct = Q(
    "q148_kmv_distinct",
    (s, d) => {
      import s.implicits._
      val kmv = udaf(graft.functions.KmvSketchAggregator(kmvK))
      Tables.orders(s, d)
        .select($"o_orderpriority".as("priority"),
          expr(kmvHashExpr).as("hv"), $"o_custkey")
        .groupBy($"priority")
        .agg(kmv($"hv").as("sk"),
          countDistinct($"o_custkey").as("exact_distinct"))
        .select($"priority",
          size($"sk").cast("long").as("n_kept"),
          when(size($"sk") >= kmvK, element_at($"sk", kmvK)).as("kth"),
          $"exact_distinct")
        .withColumn("est_distinct",
          when($"n_kept" < kmvK, $"n_kept".cast("double"))
            .otherwise(lit((kmvK - 1).toDouble) *
              lit(1152921504606846976.0) / $"kth".cast("double")))
        .select($"priority", $"n_kept", $"kth", $"est_distinct",
          $"exact_distinct")
        .orderBy($"priority")
    },
    Some(s"""WITH h AS (SELECT DISTINCT o_orderpriority AS priority,
          $kmvHashSql AS hv FROM orders),
      r AS (SELECT priority, hv,
          row_number() OVER (PARTITION BY priority ORDER BY hv) AS rn
        FROM h),
      s AS (SELECT priority,
          CAST(count(*) FILTER (WHERE rn <= $kmvK) AS BIGINT) AS n_kept,
          max(CASE WHEN rn = $kmvK THEN hv END) AS kth
        FROM r GROUP BY priority),
      e AS (SELECT o_orderpriority AS priority,
          CAST(count(DISTINCT o_custkey) AS BIGINT) AS exact_distinct
        FROM orders GROUP BY 1)
      SELECT s.priority, s.n_kept, s.kth,
        CASE WHEN s.n_kept < $kmvK THEN CAST(s.n_kept AS DOUBLE)
          ELSE ${kmvK - 1}.0 * $kmvSpace / CAST(s.kth AS DOUBLE)
        END AS est_distinct,
        e.exact_distinct
      FROM s JOIN e ON e.priority = s.priority
      ORDER BY s.priority"""),
    doc = "[NS] KMV distinct sketch (bounded mergeable bottom-k, oracle-exact state)")

  /** §2.10 [NS] — KMV set-overlap estimation (q149): audience Jaccard /
    * intersection between every priority pair, computed ONLY from the two
    * 2 KB sketches (k-min of the merged sketch ∩ both sides — Beyer et
    * al. SIGMOD'07), a composition HLL cannot express without
    * inclusion-exclusion error stacking. The pair frame is 5 sketch rows
    * self-joined (broadcast nested loop over a handful of rows — the
    * sketches, not the data, meet); the exact audit columns join the
    * distinct (priority, custkey) pairs on custkey — ≤5 rows per key at
    * any scale, no quadratic path. All arithmetic is int/int or
    * exact-operand IEEE ops, so estimates hash-match the oracle
    * bit-for-bit. */
  val q149KmvJaccard = Q(
    "q149_kmv_jaccard",
    (s, d) => {
      import s.implicits._
      val kmv = udaf(graft.functions.KmvSketchAggregator(kmvK))
      val orders = Tables.orders(s, d)
      val sketches = orders
        .select($"o_orderpriority".as("p"), expr(kmvHashExpr).as("hv"))
        .groupBy($"p").agg(kmv($"hv").as("sk"))
      val pairs = sketches.as("a")
        .join(broadcast(sketches.as("b")), col("a.p") < col("b.p"))
        .select(col("a.p").as("pa"), col("b.p").as("pb"),
          col("a.sk").as("ska"), col("b.sk").as("skb"))
        .withColumn("merged",
          slice(array_sort(array_distinct(concat($"ska", $"skb"))), 1, kmvK))
        .withColumn("m", size($"merged").cast("long"))
        .withColumn("matched",
          size(array_intersect(array_intersect($"merged", $"ska"), $"skb"))
            .cast("long"))
        .withColumn("jaccard", $"matched".cast("double") / $"m")
        .withColumn("kth_u",
          when(size($"merged") >= kmvK, element_at($"merged", kmvK)))
        .withColumn("est_union",
          when($"m" < kmvK, $"m".cast("double"))
            .otherwise(lit((kmvK - 1).toDouble) *
              lit(1152921504606846976.0) / $"kth_u".cast("double")))
        .withColumn("est_intersection", $"jaccard" * $"est_union")
      val dsets = orders
        .select($"o_orderpriority".as("p"), $"o_custkey".as("c")).distinct()
      val dcnt = dsets.groupBy($"p").agg(count(lit(1)).as("d"))
      val ex = dsets.as("x")
        .join(dsets.as("y"), col("x.c") === col("y.c") &&
          col("x.p") < col("y.p"))
        .groupBy(col("x.p").as("pa2"), col("y.p").as("pb2"))
        .agg(count(lit(1)).as("exact_isect"))
      pairs
        .join(ex, $"pa" === $"pa2" && $"pb" === $"pb2")
        .join(broadcast(dcnt.select($"p".as("pa3"), $"d".as("da"))),
          $"pa" === $"pa3")
        .join(broadcast(dcnt.select($"p".as("pb3"), $"d".as("db"))),
          $"pb" === $"pb3")
        .withColumn("exact_jaccard", $"exact_isect".cast("double") /
          ($"da" + $"db" - $"exact_isect"))
        .select($"pa", $"pb", $"m", $"matched", $"jaccard", $"est_union",
          $"est_intersection", $"exact_isect", $"exact_jaccard")
        .orderBy($"pa", $"pb")
    },
    Some(s"""WITH h AS (SELECT DISTINCT o_orderpriority AS p,
          $kmvHashSql AS hv FROM orders),
      r AS (SELECT p, hv,
          row_number() OVER (PARTITION BY p ORDER BY hv) AS rn FROM h),
      sk AS (SELECT p, hv FROM r WHERE rn <= $kmvK),
      ps AS (SELECT DISTINCT p FROM h),
      pr AS (SELECT a.p AS pa, b.p AS pb FROM ps a JOIN ps b ON a.p < b.p),
      u0 AS (SELECT pr.pa, pr.pb, s.hv, 1 AS ia, 0 AS ib
          FROM pr JOIN sk s ON s.p = pr.pa
        UNION ALL
        SELECT pr.pa, pr.pb, s.hv, 0, 1 FROM pr JOIN sk s ON s.p = pr.pb),
      ug AS (SELECT pa, pb, hv, max(ia) AS ia, max(ib) AS ib
        FROM u0 GROUP BY 1, 2, 3),
      ur AS (SELECT *, row_number() OVER (PARTITION BY pa, pb ORDER BY hv)
          AS rn FROM ug),
      mm AS (SELECT pa, pb, CAST(count(*) AS BIGINT) AS m,
          CAST(count(*) FILTER (WHERE ia = 1 AND ib = 1) AS BIGINT)
            AS matched,
          max(CASE WHEN rn = $kmvK THEN hv END) AS kth_u
        FROM ur WHERE rn <= $kmvK GROUP BY 1, 2),
      est AS (SELECT pa, pb, m, matched,
          CAST(matched AS DOUBLE) / m AS jaccard,
          CASE WHEN m < $kmvK THEN CAST(m AS DOUBLE)
            ELSE ${kmvK - 1}.0 * $kmvSpace / CAST(kth_u AS DOUBLE)
          END AS est_union
        FROM mm),
      dsets AS (SELECT DISTINCT o_orderpriority AS p, o_custkey AS c
        FROM orders),
      dcnt AS (SELECT p, CAST(count(*) AS BIGINT) AS d FROM dsets
        GROUP BY 1),
      ex AS (SELECT a.p AS pa, b.p AS pb, CAST(count(*) AS BIGINT)
            AS exact_isect
        FROM dsets a JOIN dsets b ON a.c = b.c AND a.p < b.p
        GROUP BY 1, 2)
      SELECT est.pa, est.pb, est.m, est.matched, est.jaccard,
        est.est_union, est.jaccard * est.est_union AS est_intersection,
        ex.exact_isect,
        CAST(ex.exact_isect AS DOUBLE) / (da.d + db.d - ex.exact_isect)
          AS exact_jaccard
      FROM est JOIN ex ON ex.pa = est.pa AND ex.pb = est.pb
        JOIN dcnt da ON da.p = est.pa
        JOIN dcnt db ON db.p = est.pb
      ORDER BY est.pa, est.pb"""),
    doc = "[NS] KMV sketch set-overlap: Jaccard/intersection from merged bottom-k")

  /** §2.10 [NS] — KMV sliding-window rollup (q154): trailing-7-day
    * distinct users per day, served from DAILY sketches — the
    * pre-aggregate-once / serve-any-window pattern HLL dashboards run at
    * scale, here with the oracle-exact KMV. Correctness leans on the
    * bottom-k composition law `bottomK(∪ bottomK(Sᵢ)) = bottomK(∪ Sᵢ)`
    * (KmvSpec pins it): daily sketches explode back to hashes, replicate
    * to their ≤7 target days via a GENERATED offset column (an
    * equi-join/groupBy — no range theta-join anywhere), and re-aggregate
    * with the same Aggregator. Each day's input to the rollup is ≤ 7·k
    * hashes regardless of traffic; the raw stream is touched once, by
    * the daily build. The exact audit column replays the window over
    * distinct (day, user) pairs with the same offset trick. */
  val q154KmvWindow = {
    val k = 64
    val spaceTimesKm1 = s"${k - 1}.0 * $kmvSpace"
    Q(
      "q154_kmv_window",
      (s, d) => {
        import s.implicits._
        val kmv = udaf(graft.functions.KmvSketchAggregator(k))
        val ev = Tables.events(s, d).select(
          to_date($"ts").as("day"),
          expr("cast(conv(substring(md5(cast(user_id as string)), 1, 15), 16, 10) as bigint)")
            .as("hv"),
          $"user_id")
        val daily = ev.groupBy($"day").agg(kmv($"hv").as("sk"))
        val cal = daily.select($"day".as("tday"))
        val rolled = daily
          .withColumn("off", explode(sequence(lit(0), lit(6))))
          .withColumn("tday", date_add($"day", $"off"))
          .join(broadcast(cal), Seq("tday"), "left_semi")
          .select($"tday", explode($"sk").as("hv"))
          .groupBy($"tday").agg(kmv($"hv").as("sk7"))
        val exact = ev.select($"day", $"user_id").distinct()
          .withColumn("off", explode(sequence(lit(0), lit(6))))
          .withColumn("tday", date_add($"day", $"off"))
          .join(broadcast(cal), Seq("tday"), "left_semi")
          .groupBy($"tday")
          .agg(countDistinct($"user_id").as("exact_distinct"))
        rolled.join(exact, Seq("tday"))
          .select($"tday".as("day"),
            size($"sk7").cast("long").as("n_kept"),
            when(size($"sk7") >= k, element_at($"sk7", k)).as("kth"),
            $"exact_distinct")
          .withColumn("est_distinct",
            when($"n_kept" < k, $"n_kept".cast("double"))
              .otherwise(lit((k - 1).toDouble) *
                lit(1152921504606846976.0) / $"kth".cast("double")))
          .select($"day", $"n_kept", $"kth", $"est_distinct",
            $"exact_distinct")
          .orderBy($"day")
      },
      Some(s"""WITH h AS (SELECT DISTINCT CAST(ts AS DATE) AS day,
            CAST('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 15)
              AS BIGINT) AS hv
          FROM events),
        r AS (SELECT day, hv,
            row_number() OVER (PARTITION BY day ORDER BY hv) AS rn FROM h),
        sk AS (SELECT day, hv FROM r WHERE rn <= $k),
        cal AS (SELECT DISTINCT day FROM h),
        contrib AS (SELECT (sk.day + o.off) AS tday, sk.hv
          FROM sk CROSS JOIN (SELECT CAST(unnest(range(0, 7)) AS INT) AS off) o
          WHERE (sk.day + o.off) IN (SELECT day FROM cal)),
        u AS (SELECT DISTINCT tday, hv FROM contrib),
        ur AS (SELECT tday, hv,
            row_number() OVER (PARTITION BY tday ORDER BY hv) AS rn FROM u),
        roll AS (SELECT tday,
            CAST(count(*) FILTER (WHERE rn <= $k) AS BIGINT) AS n_kept,
            max(CASE WHEN rn = $k THEN hv END) AS kth
          FROM ur GROUP BY tday),
        du AS (SELECT DISTINCT CAST(ts AS DATE) AS day, user_id
          FROM events),
        dc AS (SELECT (du.day + o.off) AS tday, du.user_id
          FROM du CROSS JOIN (SELECT CAST(unnest(range(0, 7)) AS INT) AS off) o
          WHERE (du.day + o.off) IN (SELECT day FROM cal)),
        ex AS (SELECT tday, CAST(count(DISTINCT user_id) AS BIGINT)
              AS exact_distinct
          FROM dc GROUP BY tday)
        SELECT roll.tday AS day, roll.n_kept, roll.kth,
          CASE WHEN roll.n_kept < $k THEN CAST(roll.n_kept AS DOUBLE)
            ELSE $spaceTimesKm1 / CAST(roll.kth AS DOUBLE) END
            AS est_distinct,
          ex.exact_distinct
        FROM roll JOIN ex ON ex.tday = roll.tday
        ORDER BY day"""),
      doc = "[NS] KMV sliding-window rollup: daily sketches merged to any trailing window")
  }

  /** [NS] — exact equi-depth histogram (q156): 16 equal-population
    * price bins over lineitem ([[Analytics.equiDepth]]) — the ANALYZE
    * statistics pass, with the global rank computed by the two-pass
    * range/offset shape (no single-partition window; the oracle's plain
    * row_number is the reference the distributed rank must equal).
    * Bucket populations differ by ≤1 BY CONSTRUCTION even under value
    * skew; [lo, hi] spans are the selectivity boundaries. */
  val q156EquiDepth = Q(
    "q156_equidepth",
    (s, d) => {
      import s.implicits._
      Analytics.equiDepth(Tables.lineitem(s, d), "l_extendedprice",
          Seq("l_orderkey", "l_linenumber"), 16)
        .orderBy($"bucket")
    },
    Some("""WITH r AS (SELECT l_extendedprice AS v,
          row_number() OVER (ORDER BY l_extendedprice, l_orderkey,
            l_linenumber) - 1 AS rk
        FROM lineitem),
      n AS (SELECT count(*) AS n FROM lineitem)
      SELECT (rk * 16) // n.n AS bucket,
        CAST(count(*) AS BIGINT) AS n_rows, min(v) AS lo, max(v) AS hi
      FROM r, n GROUP BY 1 ORDER BY bucket"""),
    doc = "[NS] exact equi-depth histogram (distributed rank, ANALYZE stats pass)")

  /** §2.10 [NS] — weighted sampling without replacement (q165):
    * [[graft.operators.Curation.prioritySample]] keeps the 200
    * highest-priority documents (priority = n_chars / md5-derived
    * uniform — Duffield–Lund–Thorup priority sampling) with the
    * Horvitz–Thompson `est_weight = max(w, τ)` attached, so subset
    * character-count estimates stay unbiased after the cut. The scan is
    * the only unbounded pass: top-(k+1) is TakeOrderedAndProject (heap
    * per partition), and the rank window runs over k+1 = 201 rows. */
  val q165PrioritySample = Q(
    "q165_priority_sample",
    (s, d) => {
      import s.implicits._
      graft.operators.Curation.prioritySample(
          Tables.documents(s, d), "doc_id", "n_chars", 200)
        .orderBy($"doc_id")
    },
    Some("""WITH pri AS (SELECT doc_id,
          CAST(n_chars AS DOUBLE) AS weight,
          CAST(n_chars AS DOUBLE) /
            ((CAST('0x' || substr(md5(doc_id::VARCHAR), 1, 13) AS BIGINT)
              + 1) / 4503599627370496.0) AS priority
        FROM documents),
      rk AS (SELECT *, row_number()
          OVER (ORDER BY priority DESC, doc_id) AS rn FROM pri),
      t AS (SELECT coalesce(max(CASE WHEN rn = 201 THEN priority END), 0.0)
          AS tau FROM rk)
      SELECT doc_id, weight, priority, tau,
        greatest(weight, tau) AS est_weight
      FROM rk, t WHERE rn <= 200
      ORDER BY doc_id"""),
    doc = "[NS] priority sampling (weighted w/o replacement, unbiased subset sums)")

  /** §2.10 [NS] — bottom-k hash-sample quantiles (q166):
    * [[graft.operators.Analytics.kmvQuantiles]] profiles the
    * extendedprice distribution per returnflag from ONE aggregate pass
    * with 2k longs of state per group ([[graft.functions
    * .KmvSampleAggregator]]), instead of the per-group sort exact
    * quantiles need (q156 is the exact sibling). Money values ride the
    * exact-integer ×100 convention; the derived order statistics are
    * pure functions of the group set, so the whole row hash-matches. */
  val q166KmvQuantiles = Q(
    "q166_kmv_quantiles",
    (s, d) => {
      import s.implicits._
      // (l_orderkey, l_linenumber) is NOT unique in this fixture, so the
      // row id folds the value in: exact duplicate rows collapse to one
      // hash+value pair (deterministic in both engines — the sketch
      // samples the DISTINCT rows; give it a unique id to sample the
      // multiset instead).
      val li = Tables.lineitem(s, d)
        .withColumn("price_c",
          round($"l_extendedprice" * 100).cast("long"))
        .withColumn("_rid",
          concat_ws("#", $"l_orderkey", $"l_linenumber", $"price_c"))
        .withColumnRenamed("l_returnflag", "flag")
      Analytics.kmvQuantiles(li, Seq("flag"), "_rid", "price_c",
          k = 64, qsPct = Seq(50, 90, 99))
        .orderBy($"flag")
    },
    Some("""WITH h AS (SELECT DISTINCT l_returnflag AS flag,
          CAST('0x' || substr(md5(l_orderkey::VARCHAR || '#' ||
            l_linenumber::VARCHAR || '#' ||
            CAST(round(l_extendedprice * 100.0) AS BIGINT)::VARCHAR),
            1, 15) AS BIGINT) AS hh,
          CAST(round(l_extendedprice * 100.0) AS BIGINT) AS v
        FROM lineitem),
      r AS (SELECT flag, hh, v, row_number()
          OVER (PARTITION BY flag ORDER BY hh) AS rn FROM h),
      s AS (SELECT flag, v FROM r WHERE rn <= 64),
      o AS (SELECT flag, v,
          row_number() OVER (PARTITION BY flag ORDER BY v) AS vr,
          count(*) OVER (PARTITION BY flag) AS ns FROM s)
      SELECT flag, CAST(max(ns) AS BIGINT) AS n_sample,
        max(CASE WHEN vr = (50*(ns-1))//100 + 1 THEN v END) AS q50,
        max(CASE WHEN vr = (90*(ns-1))//100 + 1 THEN v END) AS q90,
        max(CASE WHEN vr = (99*(ns-1))//100 + 1 THEN v END) AS q99
      FROM o GROUP BY flag ORDER BY flag"""),
    doc = "[NS] bottom-k hash-sample quantiles (mergeable 1-pass group profiling)")

  /** [NS] — KMV quantile ERROR audit (q292): q166's sketched order
    * statistics side by side with q156-style exact ones over the same
    * distinct-row multiset, per returnflag — the measured-accuracy row
    * for the quantile sketch, completing the audit family (q164 LSH
    * recall, q236 Bloom FP, q258 int8, q259 stored-ANN, q279 MinHash
    * estimator: every approximation tier carries its own measured
    * error). err_ppm = 10⁶·|est − exact| div exact. The exact side
    * sorts per flag ONCE (three partitions); the sketch side is the
    * one-aggregate 2k-long-state pass — the audit costs what the two
    * siblings cost, never more. */
  val q292KmvError = Q(
    "q292_kmv_error",
    (s, d) => {
      import s.implicits._
      import org.apache.spark.sql.expressions.Window
      val li = Tables.lineitem(s, d)
        .withColumn("price_c",
          round($"l_extendedprice" * 100).cast("long"))
        .withColumn("_rid",
          concat_ws("#", $"l_orderkey", $"l_linenumber", $"price_c"))
        .withColumnRenamed("l_returnflag", "flag")
      val est = Analytics.kmvQuantiles(li, Seq("flag"), "_rid", "price_c",
        k = 64, qsPct = Seq(50, 90, 99))
      val dis = li.select($"flag", $"l_orderkey", $"l_linenumber",
        $"price_c").distinct()
      val w = Window.partitionBy($"flag")
      val exact = dis
        .withColumn("_rn", row_number().over(
          w.orderBy($"price_c", $"l_orderkey", $"l_linenumber")))
        .withColumn("_n", count(lit(1)).over(w))
        .groupBy($"flag")
        .agg(count(lit(1)).as("n_rows"),
          max(when(expr("_rn = (50 * (_n - 1)) div 100 + 1"),
            $"price_c")).as("exact50"),
          max(when(expr("_rn = (90 * (_n - 1)) div 100 + 1"),
            $"price_c")).as("exact90"),
          max(when(expr("_rn = (99 * (_n - 1)) div 100 + 1"),
            $"price_c")).as("exact99"))
      est.join(exact, Seq("flag"))
        .select($"flag", $"n_rows", $"n_sample",
          $"exact50", $"q50".as("est50"),
          expr("(1000000 * abs(q50 - exact50)) div exact50")
            .as("err50_ppm"),
          $"exact90", $"q90".as("est90"),
          expr("(1000000 * abs(q90 - exact90)) div exact90")
            .as("err90_ppm"),
          $"exact99", $"q99".as("est99"),
          expr("(1000000 * abs(q99 - exact99)) div exact99")
            .as("err99_ppm"))
        .orderBy($"flag")
    },
    Some("""WITH h AS (SELECT DISTINCT l_returnflag AS flag,
          CAST('0x' || substr(md5(l_orderkey::VARCHAR || '#' ||
            l_linenumber::VARCHAR || '#' ||
            CAST(round(l_extendedprice * 100.0) AS BIGINT)::VARCHAR),
            1, 15) AS BIGINT) AS hh,
          CAST(round(l_extendedprice * 100.0) AS BIGINT) AS v
        FROM lineitem),
      r AS (SELECT flag, hh, v, row_number()
          OVER (PARTITION BY flag ORDER BY hh) AS rn FROM h),
      sk AS (SELECT flag, v FROM r WHERE rn <= 64),
      o AS (SELECT flag, v,
          row_number() OVER (PARTITION BY flag ORDER BY v) AS vr,
          count(*) OVER (PARTITION BY flag) AS ns FROM sk),
      est AS (SELECT flag, CAST(max(ns) AS BIGINT) AS n_sample,
          max(CASE WHEN vr = (50*(ns-1))//100 + 1 THEN v END) AS est50,
          max(CASE WHEN vr = (90*(ns-1))//100 + 1 THEN v END) AS est90,
          max(CASE WHEN vr = (99*(ns-1))//100 + 1 THEN v END) AS est99
        FROM o GROUP BY flag),
      dis AS (SELECT DISTINCT l_returnflag AS flag, l_orderkey,
          l_linenumber,
          CAST(round(l_extendedprice * 100.0) AS BIGINT) AS v
        FROM lineitem),
      ex0 AS (SELECT flag, v, row_number() OVER (PARTITION BY flag
            ORDER BY v, l_orderkey, l_linenumber) AS rn,
          count(*) OVER (PARTITION BY flag) AS n FROM dis),
      exact AS (SELECT flag, CAST(max(n) AS BIGINT) AS n_rows,
          max(CASE WHEN rn = (50*(n-1))//100 + 1 THEN v END) AS exact50,
          max(CASE WHEN rn = (90*(n-1))//100 + 1 THEN v END) AS exact90,
          max(CASE WHEN rn = (99*(n-1))//100 + 1 THEN v END) AS exact99
        FROM ex0 GROUP BY flag)
      SELECT e.flag, n_rows, n_sample,
        exact50, est50,
        CAST((1000000 * abs(est50 - exact50)) // exact50 AS BIGINT)
          AS err50_ppm,
        exact90, est90,
        CAST((1000000 * abs(est90 - exact90)) // exact90 AS BIGINT)
          AS err90_ppm,
        exact99, est99,
        CAST((1000000 * abs(est99 - exact99)) // exact99 AS BIGINT)
          AS err99_ppm
      FROM exact e JOIN est USING (flag) ORDER BY flag"""),
    doc = "[NS] KMV quantile sketch vs exact order stats: measured error per percentile")

  /** [NS] — join-order advisor (q295):
    * [[graft.operators.Analytics.joinOrderAdvisor]] pricing both
    * orders of lineitem ⋈ orders ⋈ customer from key counts alone —
    * lineitem-first materializes a |lineitem|-sized intermediate,
    * customer-first an |orders|-sized one; the advisor computes both
    * EXACTLY (decimal Σ-of-products, the q238 convention) plus the
    * identical three-way final count, and recommends the smaller
    * intermediate. The statistics estimate a cost-based optimizer
    * makes, computed exactly — and the audit for what AQE chose. */
  val q295JoinOrder = Q(
    "q295_join_order",
    (s, d) => {
      import s.implicits._
      Analytics.joinOrderAdvisor(
        Tables.orders(s, d), "o_orderkey", "o_custkey",
        Tables.lineitem(s, d), "l_orderkey",
        Tables.customer(s, d), "c_custkey")
        .orderBy($"plan_name")
    },
    Some("""WITH lc AS (SELECT l_orderkey AS k,
          CAST(count(*) AS BIGINT) AS c FROM lineitem GROUP BY 1),
      rc AS (SELECT c_custkey AS k, CAST(count(*) AS BIGINT) AS c
        FROM customer GROUP BY 1),
      j AS (SELECT coalesce(lc.c, 0) AS lcnt, coalesce(rc.c, 0) AS rcnt
        FROM orders o LEFT JOIN lc ON lc.k = o.o_orderkey
          LEFT JOIN rc ON rc.k = o.o_custkey),
      t AS (SELECT CAST(sum(lcnt) AS HUGEINT) AS bl,
          CAST(sum(rcnt) AS HUGEINT) AS br,
          CAST(sum(lcnt::HUGEINT * rcnt) AS HUGEINT) AS fin FROM j),
      u AS (SELECT 'left_first' AS plan_name, bl AS first_join_rows,
          fin AS final_rows FROM t
        UNION ALL
        SELECT 'right_first', br, fin FROM t)
      SELECT plan_name, CAST(first_join_rows AS BIGINT)
          AS first_join_rows,
        CAST(final_rows AS BIGINT) AS final_rows,
        first_join_rows = min(first_join_rows) OVER () AS recommended
      FROM u ORDER BY plan_name"""),
    doc = "[NS] both join orders priced exactly from key counts; smaller intermediate wins")

  /** [NS] — distribution shape profile (q302):
    * [[graft.operators.Analytics.shapeProfile]] over event values in
    * exact cents per event type — Bowley quartile skewness (pure order
    * statistics) and moment excess kurtosis about the truncated
    * integer mean (decimal power sums), with the heavy-tailed verdict.
    * q134 profiles location/scale; this profiles SHAPE — the readout
    * that decides whether the q82 z-score gate (breakdown at heavy
    * tails) or the q167 MAD gate is the right outlier policy for each
    * type. */
  val q302ShapeProfile = Q(
    "q302_shape_profile",
    (s, d) => {
      import s.implicits._
      Analytics.shapeProfile(
        Tables.events(s, d)
          .select($"event_type",
            round($"value" * 100).cast("long").as("cents")),
        "event_type", "cents")
        .orderBy($"event_type")
    },
    Some("""WITH v AS (SELECT event_type,
          CAST(round(value * 100.0) AS BIGINT) AS cv
        FROM events WHERE event_type IS NOT NULL AND value IS NOT NULL),
      r AS (SELECT event_type, cv,
          row_number() OVER (PARTITION BY event_type ORDER BY cv) AS rn,
          count(*) OVER (PARTITION BY event_type) AS n FROM v),
      qt AS (SELECT event_type,
          max(CASE WHEN rn = (25*(n-1))//100 + 1 THEN cv END) AS q1,
          max(CASE WHEN rn = (50*(n-1))//100 + 1 THEN cv END) AS q2,
          max(CASE WHEN rn = (75*(n-1))//100 + 1 THEN cv END) AS q3
        FROM r GROUP BY event_type),
      m AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n,
          sum(cv) // count(*) AS mu FROM v GROUP BY event_type),
      cs AS (SELECT v.event_type, m.n,
          sum((cv - mu)::HUGEINT * (cv - mu)) AS cs2,
          sum((cv - mu)::HUGEINT * (cv - mu) * (cv - mu) * (cv - mu))
            AS cs4
        FROM v JOIN m ON m.event_type = v.event_type
        GROUP BY v.event_type, m.n)
      SELECT qt.event_type, n, q1, q2, q3,
        CAST(CASE WHEN q3 > q1
          THEN (1000000 * (q3 + q1 - 2 * q2)) // (q3 - q1) END
          AS BIGINT) AS bowley_skew_ppm,
        CAST(CASE WHEN cs2 > 0
          THEN (1000000::HUGEINT * n * cs4) // (cs2 * cs2) - 3000000 END
          AS BIGINT) AS kurt_excess_ppm,
        CASE WHEN cs2 > 0
          THEN (1000000::HUGEINT * n * cs4) // (cs2 * cs2) - 3000000 > 0
          END AS heavy_tailed
      FROM qt JOIN cs ON cs.event_type = qt.event_type
      ORDER BY qt.event_type"""),
    doc = "[NS] Bowley skew + excess kurtosis per type: the outlier-policy chooser")

  /** [NS] — robust outlier gate (q167): Hampel filter per event type —
    * |x − median| > 3·MAD ([[graft.operators.Analytics.madOutliers]]).
    * The mean/stddev gate (q82) has breakdown point 0: one wild spike
    * inflates σ and hides the rest; median/MAD survives 50%
    * contamination. Lower medians are order statistics both engines pick
    * identically, so med/mad/counts hash-match bit-for-bit. */
  val q167MadOutliers = Q(
    "q167_mad_outliers",
    (s, d) => {
      import s.implicits._
      Analytics.madOutliers(Tables.events(s, d), "event_type", "value",
          "event_id", c = 3)
        .groupBy($"event_type")
        .agg(count(lit(1)).as("n"),
          count(when($"is_out", 1)).as("n_out"),
          max($"med").as("med"), max($"mad").as("mad"))
        .orderBy($"event_type")
    },
    Some("""WITH m AS (SELECT event_type, value, event_id,
          count(*) OVER (PARTITION BY event_type) AS n,
          row_number() OVER (PARTITION BY event_type
            ORDER BY value, event_id) AS rn
        FROM events WHERE value IS NOT NULL),
      m2 AS (SELECT *, max(CASE WHEN rn = (n+1)//2 THEN value END)
          OVER (PARTITION BY event_type) AS med FROM m),
      d AS (SELECT *, abs(value - med) AS abs_dev FROM m2),
      d2 AS (SELECT *, row_number() OVER (PARTITION BY event_type
          ORDER BY abs_dev, event_id) AS rn2 FROM d),
      d3 AS (SELECT *, max(CASE WHEN rn2 = (n+1)//2 THEN abs_dev END)
          OVER (PARTITION BY event_type) AS mad FROM d2)
      SELECT event_type, CAST(count(*) AS BIGINT) AS n,
        CAST(count(CASE WHEN abs_dev > 3.0 * mad THEN 1 END) AS BIGINT)
          AS n_out,
        max(med) AS med, max(mad) AS mad
      FROM d3 GROUP BY event_type ORDER BY event_type"""),
    doc = "[NS] median/MAD robust outlier gate (Hampel filter, 50% breakdown)")

  /** [NS] — smoothed target encoding with leave-one-out (q172):
    * [[graft.operators.Analytics.targetEncode]] maps each event type to
    * its smoothed rate of high-value events (label = value > 50,
    * m = 10 pull toward the global rate) in EXACT integer ppm — the
    * feature-store categorical encoder, with the leakage-safe LOO
    * columns a trainer must join instead of the plain encoding. All
    * arithmetic is cleared-denominator decimal(38,0) `div`, so the row
    * hash-matches the oracle's HUGEINT replay. */
  val q172TargetEncode = Q(
    "q172_target_encode",
    (s, d) => {
      import s.implicits._
      val ev = Tables.events(s, d)
        .withColumn("label", when($"value" > 50, 1L).otherwise(0L))
      Analytics.targetEncode(ev, "event_type", "label", m = 10)
        .orderBy($"event_type")
    },
    Some("""WITH l AS (SELECT event_type,
          CASE WHEN value > 50 THEN 1 ELSE 0 END AS label FROM events),
      g AS (SELECT CAST(count(*) AS HUGEINT) AS gn,
          CAST(sum(label) AS HUGEINT) AS gp FROM l),
      c AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n,
          CAST(sum(label) AS BIGINT) AS pos FROM l GROUP BY event_type)
      SELECT event_type, n, pos,
        CAST((1000000::HUGEINT * (pos::HUGEINT * gn + 10 * gp))
          // ((n::HUGEINT + 10) * gn) AS BIGINT) AS enc_ppm,
        CASE WHEN pos > 0 THEN
          CAST((1000000::HUGEINT * ((pos::HUGEINT - 1) * gn + 10 * gp))
            // ((n::HUGEINT - 1 + 10) * gn) AS BIGINT) END AS loo_pos_ppm,
        CASE WHEN n > pos THEN
          CAST((1000000::HUGEINT * (pos::HUGEINT * gn + 10 * gp))
            // ((n::HUGEINT - 1 + 10) * gn) AS BIGINT) END AS loo_neg_ppm
      FROM c, g ORDER BY event_type"""),
    doc = "[NS] smoothed target encoding + leave-one-out (exact-ppm feature encoder)")

  /** [NS] — exact weighted median (q173): volume-weighted price center
    * per returnflag — [[graft.operators.Analytics.weightedMedian]] of
    * the ×100-scaled extendedprice weighted by quantity. The unweighted
    * median (q156's rank family) treats a 1-unit and a 50-unit line
    * equally; the weighted median is the robust volume center. One
    * per-group sort-window for the cumulative weights. */
  val q173WeightedMedian = Q(
    "q173_weighted_median",
    (s, d) => {
      import s.implicits._
      val li = Tables.lineitem(s, d)
        .withColumn("price_c", round($"l_extendedprice" * 100).cast("long"))
        .withColumn("qty", $"l_quantity".cast("long"))
        .withColumn("tie",
          concat_ws("#", $"l_orderkey", $"l_linenumber"))
        .withColumnRenamed("l_returnflag", "flag")
      Analytics.weightedMedian(li, "flag", "price_c", "qty", "tie")
        .orderBy($"flag")
    },
    Some("""WITH t AS (SELECT l_returnflag AS flag,
          CAST(round(l_extendedprice * 100.0) AS BIGINT) AS price_c,
          CAST(l_quantity AS BIGINT) AS qty,
          l_orderkey::VARCHAR || '#' || l_linenumber::VARCHAR AS tie
        FROM lineitem),
      c AS (SELECT flag, price_c, qty,
          CAST(sum(qty) OVER (PARTITION BY flag) AS BIGINT) AS tot,
          CAST(sum(qty) OVER (PARTITION BY flag ORDER BY price_c, tie
            ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum
        FROM t)
      SELECT flag,
        min(CASE WHEN cum * 2 >= tot THEN price_c END) AS wmedian,
        max(tot) AS total_w, CAST(count(*) AS BIGINT) AS n
      FROM c GROUP BY flag ORDER BY flag"""),
    doc = "[NS] exact lower weighted median (volume-weighted robust center)")

  /** §2.10 [NS] — sketch-nominate / exact-verify heavy hitters (q174):
    * [[graft.operators.Analytics.heavyHittersExact]] over a skewed
    * derived key (`o_orderkey % (1 + o_orderkey % 100)`: 100 distinct
    * keys, saturating the MG(64) sketch, ~21 above threshold). The MG
    * guarantee makes the candidate set a superset of every key with
    * count ≥ N div 64 + 1, so the exact second-pass counts equal the
    * true heavy set — which is precisely what the sketch-free oracle
    * computes. Two scans; the exact pass aggregates candidate rows
    * only. */
  val q174HeavyExact = Q(
    "q174_heavy_exact",
    (s, d) => {
      import s.implicits._
      val keyed = Tables.orders(s, d)
        .withColumn("key", $"o_orderkey" % (lit(1) + $"o_orderkey" % 100))
      Analytics.heavyHittersExact(keyed, "key", k = 64)
        .withColumn("key", $"key".cast("long"))
        .orderBy($"key")
    },
    Some("""WITH k AS (SELECT o_orderkey % (1 + o_orderkey % 100) AS key
        FROM orders),
      n AS (SELECT count(*) AS n FROM k),
      c AS (SELECT key, CAST(count(*) AS BIGINT) AS cnt FROM k
        GROUP BY key)
      SELECT key, cnt, CAST((cnt * 1000000) // n.n AS BIGINT) AS share_ppm
      FROM c, n WHERE cnt >= n.n // 64 + 1
      ORDER BY key"""),
    doc = "[NS] exact heavy hitters via MG sketch nomination + exact rescan")

  /** [NS] — snapshot-diff-driven incremental maintenance (q175): the
    * source publishes full snapshots (no changelog), so
    * [[graft.operators.Analytics.cdcFromSnapshots]] DERIVES the
    * changelog — adds→I, removals→D, updates→D(old)+I(new) — and
    * [[graft.operators.AggView.mergeCdc]] folds it into the view built
    * from snapshot A. The served state must then equal a from-scratch
    * aggregate of snapshot B (the oracle): inserts (%3 ids), deletes
    * (%7 ids), and value mutations (%5 ids, +17) all round-trip through
    * the Σ-delta state exactly. Refresh cost is O(diff + state); the
    * B snapshot is never re-aggregated. */
  val q175DiffCdc = Q(
    "q175_diff_cdc",
    (s, d) => {
      import s.implicits._
      val ev = Tables.events(s, d)
      val cols = Seq("user_id", "event_type", "value")
      val a = ev.filter($"event_id" % 3 =!= 0)
        .select(($"event_id" +: cols.map(col)): _*)
      val b = ev.filter($"event_id" % 7 =!= 0)
        .withColumn("value",
          when($"event_id" % 5 === 0, $"value" + 17).otherwise($"value"))
        .select(($"event_id" +: cols.map(col)): _*)
      val vs = round($"value" * 100).cast("long")
      val dir = graft.operators.AggView.defaultDir(d + "#diffcdc")
      graft.operators.AggView.build(a, Seq("user_id", "event_type"), vs, dir)
      val cdc = Analytics.cdcFromSnapshots(a, b, Seq("event_id"), cols)
      graft.operators.AggView.mergeCdc(s, cdc,
        Seq("user_id", "event_type"), vs, "op", dir)
      graft.operators.AggView.serve(s, dir)
        .orderBy($"user_id", $"event_type")
    },
    Some("""WITH b AS (SELECT user_id, event_type,
          CASE WHEN event_id % 5 = 0 THEN value + 17 ELSE value END AS value
        FROM events WHERE event_id % 7 <> 0)
      SELECT user_id, event_type, CAST(count(*) AS BIGINT) AS cnt,
        CAST(sum(CAST(round(value * 100.0) AS BIGINT)) AS BIGINT) AS vsum
      FROM b GROUP BY 1, 2 ORDER BY user_id, event_type"""),
    doc = "[NS] snapshot-diff-derived CDC folds a view from A to B exactly (no changelog upstream)")

  /** [NS] — distribution drift audit (q176): per-bin value-share gap
    * between the click and purchase populations
    * ([[graft.operators.Analytics.distributionDrift]], 16 equi-width
    * cent bins over [0,10000)). Exact integer binning and ppm shares —
    * the log-free train/serve skew monitor; Σ diff_ppm is the L1
    * drift. Out-of-range values clamp into the edge bins so drift
    * beyond the expected range counts instead of vanishing. */
  val q176DriftAudit = Q(
    "q176_drift_audit",
    (s, d) => {
      import s.implicits._
      val ev = Tables.events(s, d)
        .withColumn("v_c", round($"value" * 100).cast("long"))
      Analytics.distributionDrift(
          ev.filter($"event_type" === "click"),
          ev.filter($"event_type" === "purchase"),
          "v_c", loC = 0L, hiC = 10000L, bins = 16)
        .orderBy($"bin")
    },
    Some("""WITH v AS (SELECT event_type,
          CAST(round(value * 100.0) AS BIGINT) AS v_c FROM events
        WHERE value IS NOT NULL),
      binned AS (SELECT event_type,
          CAST(least(15, greatest(0, (v_c * 16) // 10000)) AS INT) AS bin
        FROM v),
      a AS (SELECT bin, CAST(count(*) AS BIGINT) AS a_n FROM binned
        WHERE event_type = 'click' GROUP BY bin),
      at AS (SELECT CAST(sum(a_n) AS BIGINT) AS tot FROM a),
      b AS (SELECT bin, CAST(count(*) AS BIGINT) AS b_n FROM binned
        WHERE event_type = 'purchase' GROUP BY bin),
      bt AS (SELECT CAST(sum(b_n) AS BIGINT) AS tot FROM b),
      m AS (SELECT coalesce(a.bin, b.bin) AS bin,
          coalesce(a_n, 0) AS a_n,
          coalesce(CAST((a_n * 1000000) // at.tot AS BIGINT), 0) AS a_ppm,
          coalesce(b_n, 0) AS b_n,
          coalesce(CAST((b_n * 1000000) // bt.tot AS BIGINT), 0) AS b_ppm
        FROM a FULL OUTER JOIN b ON a.bin = b.bin, at, bt)
      SELECT bin, a_n, a_ppm, b_n, b_ppm,
        abs(a_ppm - b_ppm) AS diff_ppm
      FROM m ORDER BY bin"""),
    doc = "[NS] binned distribution drift in exact ppm (log-free train/serve skew audit)")

  /** [NS] — cardinality-capped report (q184): part-number row counts
    * collapsed to the top 10 keys + `other`
    * ([[graft.operators.Analytics.topNOther]]) — the unbounded-key
    * dashboard guard. Exact-ppm shares; the collapse happens on the
    * count table, never via a second input scan. */
  val q184TopNOther = Q(
    "q184_topn_other",
    (s, d) => {
      import s.implicits._
      Analytics.topNOther(Tables.lineitem(s, d), "l_partkey", n = 10)
        .orderBy($"n_rows".desc, $"key_label")
    },
    Some("""WITH c AS (SELECT l_partkey AS k, CAST(count(*) AS BIGINT)
          AS cnt FROM lineitem WHERE l_partkey IS NOT NULL GROUP BY 1),
      top AS (SELECT k FROM c ORDER BY cnt DESC, k LIMIT 10),
      tot AS (SELECT CAST(sum(cnt) AS BIGINT) AS t FROM c),
      lab AS (SELECT CASE WHEN t.k IS NOT NULL THEN c.k::VARCHAR
            ELSE 'other' END AS key_label, c.cnt
        FROM c LEFT JOIN top t ON c.k = t.k)
      SELECT key_label, CAST(sum(cnt) AS BIGINT) AS n_rows,
        CAST((sum(cnt) * 1000000) // tot.t AS BIGINT) AS share_ppm
      FROM lab, tot GROUP BY key_label, tot.t
      ORDER BY n_rows DESC, key_label"""),
    doc = "[NS] top-n keys + other collapse (bounded report over unbounded keys)")

  /** [NS] — per-group winsorization (q185): event values clamped into
    * the per-type [p10, p90] band
    * ([[graft.operators.Analytics.winsorize]]) — the tail-capping
    * feature transform (q167's Hampel gate FLAGS outliers; this keeps
    * the rows and caps their influence). Lower-interpolation order
    * stats over one per-group exchange; raw vs winsorized sums in
    * exact cents. */
  val q185Winsorize = Q(
    "q185_winsorize",
    (s, d) => {
      import s.implicits._
      val ev = Tables.events(s, d)
        .withColumn("v_c", round($"value" * 100).cast("long"))
      Analytics.winsorize(ev, "event_type", "v_c", "event_id",
          loPct = 10, hiPct = 90)
        .groupBy($"event_type")
        .agg(count(lit(1)).as("n"), max($"p_lo").as("p10"),
          max($"p_hi").as("p90"), sum($"v_c").as("sum_raw"),
          sum($"v_c_w").as("sum_wins"))
        .orderBy($"event_type")
    },
    Some("""WITH v AS (SELECT event_type, event_id,
          CAST(round(value * 100.0) AS BIGINT) AS v_c FROM events
        WHERE value IS NOT NULL),
      r AS (SELECT *, count(*) OVER (PARTITION BY event_type) AS n,
          row_number() OVER (PARTITION BY event_type
            ORDER BY v_c, event_id) AS rn FROM v),
      b AS (SELECT *,
          max(CASE WHEN rn = (10*(n-1))//100 + 1 THEN v_c END)
            OVER (PARTITION BY event_type) AS p_lo,
          max(CASE WHEN rn = (90*(n-1))//100 + 1 THEN v_c END)
            OVER (PARTITION BY event_type) AS p_hi FROM r)
      SELECT event_type, CAST(count(*) AS BIGINT) AS n,
        max(p_lo) AS p10, max(p_hi) AS p90,
        CAST(sum(v_c) AS BIGINT) AS sum_raw,
        CAST(sum(least(greatest(v_c, p_lo), p_hi)) AS BIGINT) AS sum_wins
      FROM b GROUP BY event_type ORDER BY event_type"""),
    doc = "[NS] per-group winsorization (percentile band clamp, exact order stats)")

  /** [NS] — exact per-group trend slope (q189): least-squares slope of
    * value (cents) against days-since-corpus-start per event type
    * ([[graft.operators.Analytics.trendSlope]]) — is this metric
    * rising, and how fast, in exact ppm-cents/day. Cleared-denominator
    * decimal(38,0) arithmetic; both engines truncate the signed
    * quotient toward zero, so negative slopes hash-match too. */
  val q189TrendSlope = Q(
    "q189_trend_slope",
    (s, d) => {
      import s.implicits._
      val ev = Tables.events(s, d)
      val anchor = ev.agg(min(to_date($"ts")).as("_a"))
      val xy = ev.crossJoin(broadcast(anchor))
        .withColumn("x", datediff(to_date($"ts"), $"_a"))
        .withColumn("y", round($"value" * 100).cast("long"))
      Analytics.trendSlope(xy, "event_type", "x", "y")
        .orderBy($"event_type")
    },
    Some("""WITH a AS (SELECT min(CAST(ts AS DATE)) AS a FROM events),
      xy AS (SELECT event_type,
          CAST(date_diff('day', a.a, CAST(ts AS DATE)) AS BIGINT) AS x,
          CAST(round(value * 100.0) AS BIGINT) AS y
        FROM events CROSS JOIN a WHERE value IS NOT NULL),
      g AS (SELECT event_type, CAST(count(*) AS HUGEINT) AS n,
          CAST(sum(x) AS HUGEINT) AS sx, CAST(sum(y) AS HUGEINT) AS sy,
          CAST(sum(CAST(x AS HUGEINT) * y) AS HUGEINT) AS sxy,
          CAST(sum(CAST(x AS HUGEINT) * x) AS HUGEINT) AS sxx
        FROM xy GROUP BY event_type)
      SELECT event_type, CAST(n AS BIGINT) AS n,
        CASE WHEN n * sxx - sx * sx <> 0 THEN
          CAST((1000000::HUGEINT * (n * sxy - sx * sy))
            // (n * sxx - sx * sx) AS BIGINT) END AS slope_ppm
      FROM g ORDER BY event_type"""),
    doc = "[NS] exact least-squares trend slope per group (signed, cleared denominators)")

  /** [NS] — top movers (q190): the items whose share of events moved
    * most between the first and second half of the stream
    * ([[graft.operators.Analytics.topMovers]] on the props item key) —
    * the keyed "what changed this week" report, sibling of q176's
    * binned drift. Exact-ppm shares, signed deltas, minimum support,
    * deterministic |Δ| ranking. */
  val q190TopMovers = Q(
    "q190_top_movers",
    (s, d) => {
      import s.implicits._
      val ev = Tables.events(s, d)
        .withColumn("item", get_json_object($"props", "$.k").cast("long"))
        .filter($"item".isNotNull)
      Analytics.topMovers(ev.filter($"event_id" % 2 === 0),
        ev.filter($"event_id" % 2 === 1), "item", n = 15, minCount = 10L)
    },
    Some("""WITH base AS (SELECT event_id,
          CAST(props->>'$.k' AS BIGINT) AS item FROM events
        WHERE props->>'$.k' IS NOT NULL),
      ac AS (SELECT item, CAST(count(*) AS BIGINT) AS a_n FROM base
        WHERE event_id % 2 = 0 GROUP BY item),
      at AS (SELECT CAST(sum(a_n) AS BIGINT) AS t FROM ac),
      bc AS (SELECT item, CAST(count(*) AS BIGINT) AS b_n FROM base
        WHERE event_id % 2 = 1 GROUP BY item),
      bt AS (SELECT CAST(sum(b_n) AS BIGINT) AS t FROM bc),
      m AS (SELECT coalesce(ac.item, bc.item) AS item,
          coalesce(a_n, 0) AS a_n,
          coalesce(CAST((a_n * 1000000) // at.t AS BIGINT), 0) AS a_ppm,
          coalesce(b_n, 0) AS b_n,
          coalesce(CAST((b_n * 1000000) // bt.t AS BIGINT), 0) AS b_ppm
        FROM ac FULL OUTER JOIN bc ON ac.item = bc.item, at, bt)
      SELECT item, a_n, a_ppm, b_n, b_ppm, b_ppm - a_ppm AS delta_ppm
      FROM m WHERE a_n + b_n >= 10
      ORDER BY abs(b_ppm - a_ppm) DESC, item LIMIT 15"""),
    doc = "[NS] top movers between periods (keyed share deltas in exact ppm)")

  /** [NS] — vocabulary drift between crawl halves (q228): q190's keyed
    * share-delta machinery applied to TOKENS — "did the new crawl shift
    * the vocabulary", the text-distribution drift check a pretraining
    * team runs between snapshots (a stopword share collapsing or a
    * boilerplate token surging is a pipeline bug before it is a data
    * trend). Two filtered token explodes + the full-outer share merge;
    * exact-ppm shares, |Δ| ranking, minimum support. */
  val q228TokenDrift = Q(
    "q228_token_drift",
    (s, d) => {
      import s.implicits._
      val toks = Tables.documents(s, d)
        .select($"doc_id", explode(split($"text", " ")).as("tok"))
        .filter(length($"tok") > 0)
      Analytics.topMovers(toks.filter($"doc_id" % 2 === 0),
        toks.filter($"doc_id" % 2 === 1), "tok", n = 15, minCount = 20L)
    },
    Some("""WITH base AS (SELECT doc_id,
          unnest(string_split(text, ' ')) AS tok FROM documents),
      b2 AS (SELECT * FROM base WHERE length(tok) > 0),
      ac AS (SELECT tok, CAST(count(*) AS BIGINT) AS a_n FROM b2
        WHERE doc_id % 2 = 0 GROUP BY tok),
      at AS (SELECT CAST(sum(a_n) AS BIGINT) AS t FROM ac),
      bc AS (SELECT tok, CAST(count(*) AS BIGINT) AS b_n FROM b2
        WHERE doc_id % 2 = 1 GROUP BY tok),
      bt AS (SELECT CAST(sum(b_n) AS BIGINT) AS t FROM bc),
      m AS (SELECT coalesce(ac.tok, bc.tok) AS tok,
          coalesce(a_n, 0) AS a_n,
          coalesce(CAST((a_n * 1000000) // at.t AS BIGINT), 0) AS a_ppm,
          coalesce(b_n, 0) AS b_n,
          coalesce(CAST((b_n * 1000000) // bt.t AS BIGINT), 0) AS b_ppm
        FROM ac FULL OUTER JOIN bc ON ac.tok = bc.tok, at, bt)
      SELECT tok, a_n, a_ppm, b_n, b_ppm, b_ppm - a_ppm AS delta_ppm
      FROM m WHERE a_n + b_n >= 20
      ORDER BY abs(b_ppm - a_ppm) DESC, tok LIMIT 15"""),
    doc = "[NS] vocabulary drift between crawl halves (token share deltas, exact ppm)")

  /** [NS] — quantile normalization across event types (q194): every
    * type's value distribution is mapped onto the GLOBAL distribution
    * ([[graft.operators.Analytics.quantileNormalize]]) — after the
    * transform, "p90" means the same number for every type, the
    * batch-effect correction for cross-source score thresholds. Exact
    * integer rank mapping over the two-pass global rank; per-type raw
    * vs normalized sums and the normalized extremes as the contract. */
  val q194QuantileNorm = Q(
    "q194_quantile_norm",
    (s, d) => {
      import s.implicits._
      val ev = Tables.events(s, d)
        .withColumn("v_c", round($"value" * 100).cast("long"))
      Analytics.quantileNormalize(ev, "event_type", "v_c", "event_id")
        .groupBy($"event_type")
        .agg(count(lit(1)).as("n"), sum($"v_c").as("sum_raw"),
          sum($"v_c_qn").as("sum_qn"), min($"v_c_qn").as("min_qn"),
          max($"v_c_qn").as("max_qn"))
        .orderBy($"event_type")
    },
    Some("""WITH v AS (SELECT event_type, event_id,
          CAST(round(value * 100.0) AS BIGINT) AS v_c FROM events
        WHERE value IS NOT NULL),
      g AS (SELECT v_c AS gv,
          row_number() OVER (ORDER BY v_c, event_id) - 1 AS gidx FROM v),
      nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM v),
      r AS (SELECT *, row_number() OVER (PARTITION BY event_type
            ORDER BY v_c, event_id) AS rn,
          count(*) OVER (PARTITION BY event_type) AS ng FROM v),
      j AS (SELECT r.event_type, r.v_c, g.gv
        FROM r CROSS JOIN nn JOIN g
          ON g.gidx = ((r.rn - 1) * nn.n) // r.ng)
      SELECT event_type, CAST(count(*) AS BIGINT) AS n,
        CAST(sum(v_c) AS BIGINT) AS sum_raw,
        CAST(sum(gv) AS BIGINT) AS sum_qn,
        min(gv) AS min_qn, max(gv) AS max_qn
      FROM j GROUP BY event_type ORDER BY event_type"""),
    doc = "[NS] quantile normalization onto the global distribution (exact rank mapping)")

  /** [NS] — k-anonymity release gate (q195): per event type, hourly
    * buckets of at least 8 events publish at hour granularity; smaller
    * hours generalize to their day; days still under 8 are suppressed
    * ([[graft.operators.Analytics.kAnonymize]]) — the
    * generalize-or-suppress ladder that gates any per-group data
    * release. Every emitted non-suppressed row provably carries n ≥ 8. */
  val q195KAnonymity = Q(
    "q195_k_anonymity",
    (s, d) => {
      import s.implicits._
      val ev = Tables.events(s, d)
        .withColumn("h", date_format($"ts", "yyyy-MM-dd HH"))
        .withColumn("day", date_format($"ts", "yyyy-MM-dd"))
      Analytics.kAnonymize(ev, Seq("event_type"), "h", "day", k = 8L)
        .orderBy($"event_type", $"level", $"bucket")
    },
    Some("""WITH f AS (SELECT event_type,
          strftime(ts, '%Y-%m-%d %H') AS h,
          strftime(ts, '%Y-%m-%d') AS d, count(*) AS n
        FROM events GROUP BY 1, 2, 3),
      p AS (SELECT event_type, h AS bucket, 'fine' AS level,
          CAST(n AS BIGINT) AS n FROM f WHERE n >= 8),
      fail AS (SELECT event_type, d, CAST(sum(n) AS BIGINT) AS n
        FROM f WHERE n < 8 GROUP BY 1, 2),
      cp AS (SELECT event_type, d AS bucket, 'coarse' AS level, n
        FROM fail WHERE n >= 8),
      cf AS (SELECT event_type, d AS bucket, 'suppressed' AS level, n
        FROM fail WHERE n < 8)
      SELECT * FROM (SELECT * FROM p UNION ALL SELECT * FROM cp
        UNION ALL SELECT * FROM cf)
      ORDER BY event_type, level, bucket"""),
    doc = "[NS] k-anonymity release gate (generalize-or-suppress ladder)")

  /** [NS] — deterministic Poisson bootstrap (q197): 32 resamples of the
    * event-value mean in ONE pass
    * ([[graft.operators.Analytics.poissonBootstrap]]) — the distributed
    * bootstrap (per-row hash-derived Poisson(1) multiplicities; no
    * rand(), no B scans). The inverse-CDF thresholds are computed once
    * in Scala and inlined as literals into BOTH engines, so every
    * resample mean is bit-identical; order stats over the 32 rows give
    * the confidence interval. */
  val q197Bootstrap = Q(
    "q197_bootstrap",
    (s, d) => {
      import s.implicits._
      val ev = Tables.events(s, d)
        .withColumn("v_c", round($"value" * 100).cast("long"))
      Analytics.poissonBootstrap(ev, "event_id", "v_c", b = 32)
        .orderBy($"b")
    },
    {
      val Seq(t0, t1, t2, t3) = Analytics.poissonThresholds52
      Some(s"""WITH v AS (SELECT event_id::VARCHAR AS id,
          CAST(round(value * 100.0) AS BIGINT) AS x FROM events
        WHERE value IS NOT NULL),
      e AS (SELECT id, x, CAST(t.b AS INT) AS b
        FROM v, unnest(range(0, 32)) AS t(b)),
      u AS (SELECT b, x, CAST('0x' ||
          substr(md5(id || '#' || b::VARCHAR), 1, 13) AS BIGINT) AS u
        FROM e),
      m AS (SELECT b, x,
          CASE WHEN u < $t0 THEN 0 WHEN u < $t1 THEN 1
            WHEN u < $t2 THEN 2 WHEN u < $t3 THEN 3 ELSE 4 END AS m
        FROM u)
      SELECT b, CAST(sum(m) AS BIGINT) AS n_eff,
        CAST(sum(m * x) AS BIGINT) AS sum_wx,
        CASE WHEN sum(m) > 0 THEN
          CAST((1000000 * sum(m * x)) // sum(m) AS BIGINT) END AS mean_ppm
      FROM m GROUP BY b ORDER BY b""")
    },
    doc = "[NS] deterministic Poisson bootstrap (32 resample means, one pass, no rand)")

  /** [NS] — 2×2 chi-square gate (q198): does the odd-user arm convert
    * (value > 50) at a different rate than the even-user arm
    * ([[graft.operators.Analytics.chiSquare2x2]]) — the A/B
    * experimentation readout as one exact rational in ppm, compared
    * against the df=1 α=0.05 critical value as a literal. */
  val q198ChiSquare = Q(
    "q198_chi_square",
    (s, d) => {
      import s.implicits._
      val ev = Tables.events(s, d)
        .withColumn("arm", $"user_id" % 2 === 1)
        .withColumn("conv", $"value" > 50)
      Analytics.chiSquare2x2(ev, "arm", "conv")
    },
    Some("""WITH t AS (SELECT
          CAST(count(CASE WHEN user_id % 2 = 0 AND NOT (value > 50)
            THEN 1 END) AS HUGEINT) AS a,
          CAST(count(CASE WHEN user_id % 2 = 0 AND value > 50
            THEN 1 END) AS HUGEINT) AS b,
          CAST(count(CASE WHEN user_id % 2 = 1 AND NOT (value > 50)
            THEN 1 END) AS HUGEINT) AS c,
          CAST(count(CASE WHEN user_id % 2 = 1 AND value > 50
            THEN 1 END) AS HUGEINT) AS d
        FROM events WHERE value IS NOT NULL)
      SELECT CAST(a AS BIGINT) AS a, CAST(b AS BIGINT) AS b,
        CAST(c AS BIGINT) AS c, CAST(d AS BIGINT) AS d,
        CASE WHEN (a + b) * (c + d) * (a + c) * (b + d) <> 0 THEN
          CAST((1000000::HUGEINT * (a + b + c + d) * (a * d - b * c)
              * (a * d - b * c))
            // ((a + b) * (c + d) * (a + c) * (b + d)) AS BIGINT)
          END AS chi2_ppm,
        CASE WHEN (a + b) * (c + d) * (a + c) * (b + d) <> 0 THEN
          (1000000::HUGEINT * (a + b + c + d) * (a * d - b * c)
              * (a * d - b * c))
            // ((a + b) * (c + d) * (a + c) * (b + d)) > 3841459
          END AS significant
      FROM t"""),
    doc = "[NS] 2x2 chi-square A/B gate (exact rational statistic, literal critical value)")

  /** [NS] — calibration / reliability table (q202):
    * [[graft.operators.Analytics.calibrationTable]] over the event
    * values (score = cents, label = value > 50): per score decile, the
    * min-max-normalized confidence vs the actual positive rate and the
    * band's ECE contribution — Σ ece_contrib_ppm IS the Expected
    * Calibration Error, all exact ppm. */
  val q202Calibration = Q(
    "q202_calibration",
    (s, d) => {
      import s.implicits._
      val ev = Tables.events(s, d)
        .withColumn("v_c", round($"value" * 100).cast("long"))
        .withColumn("y", $"value" > 50)
      Analytics.calibrationTable(ev, "v_c", "event_id", "y", buckets = 10)
        .orderBy($"bucket")
    },
    Some("""WITH v AS (SELECT CAST(round(value * 100.0) AS BIGINT) AS s,
          event_id AS t, value > 50 AS y FROM events
        WHERE value IS NOT NULL),
      r AS (SELECT *, row_number() OVER (ORDER BY s, t) - 1 AS rk FROM v),
      st AS (SELECT CAST(count(*) AS BIGINT) AS nt, min(s) AS mn,
          max(s) AS mx FROM v),
      b AS (SELECT CAST((rk * 10) // nt AS INT) AS bucket, nt,
          CASE WHEN mx > mn THEN ((s - mn) * 1000000) // (mx - mn)
            ELSE 0 END AS conf, y
        FROM r, st),
      g AS (SELECT bucket, max(nt) AS nt, CAST(count(*) AS BIGINT) AS n,
          CAST(count(CASE WHEN y THEN 1 END) AS BIGINT) AS pos,
          CAST(sum(conf) AS BIGINT) AS cs FROM b GROUP BY bucket)
      SELECT bucket, n, pos, CAST(cs // n AS BIGINT) AS conf_ppm,
        CAST((1000000 * pos) // n AS BIGINT) AS acc_ppm,
        abs(cs // n - (1000000 * pos) // n) AS gap_ppm,
        CAST((n * abs(cs // n - (1000000 * pos) // n)) // nt AS BIGINT)
          AS ece_contrib_ppm
      FROM g ORDER BY bucket"""),
    doc = "[NS] calibration table + ECE contributions (exact ppm reliability readout)")

  /** [NS] — gains / lift table (q203):
    * [[graft.operators.Analytics.gainsTable]] — how much of the
    * positive response the top score bands capture, and the lift over
    * random targeting (10⁶ = random). Score = cents descending, label
    * = value > 50, so the top deciles capture everything — the steep
    * end of the curve, exact. */
  val q203Gains = Q(
    "q203_gains",
    (s, d) => {
      import s.implicits._
      val ev = Tables.events(s, d)
        .withColumn("v_c", round($"value" * 100).cast("long"))
        .withColumn("y", $"value" > 50)
      Analytics.gainsTable(ev, "v_c", "event_id", "y", buckets = 10)
        .orderBy($"bucket")
    },
    Some("""WITH v AS (SELECT CAST(round(value * 100.0) AS BIGINT) AS s,
          event_id AS t, value > 50 AS y FROM events
        WHERE value IS NOT NULL),
      r AS (SELECT *, row_number() OVER (ORDER BY s DESC, t) - 1 AS rk
        FROM v),
      st AS (SELECT CAST(count(*) AS BIGINT) AS nt,
          CAST(count(CASE WHEN y THEN 1 END) AS BIGINT) AS pt FROM v),
      b AS (SELECT CAST((rk * 10) // nt AS INT) AS bucket, nt, pt, y
        FROM r, st),
      g AS (SELECT bucket, max(nt) AS nt, max(pt) AS pt,
          CAST(count(*) AS BIGINT) AS n,
          CAST(count(CASE WHEN y THEN 1 END) AS BIGINT) AS pos
        FROM b GROUP BY bucket),
      c AS (SELECT *, CAST(sum(n) OVER (ORDER BY bucket
            ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_n,
          CAST(sum(pos) OVER (ORDER BY bucket
            ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_pos
        FROM g)
      SELECT bucket, n, pos, cum_pos,
        CASE WHEN pt > 0 THEN CAST((1000000 * cum_pos) // pt AS BIGINT)
          END AS capture_ppm,
        CASE WHEN pt > 0 AND cum_n > 0 THEN
          CAST((1000000::HUGEINT * cum_pos * nt) // (pt::HUGEINT * cum_n)
            AS BIGINT) END AS lift_ppm
      FROM c ORDER BY bucket"""),
    doc = "[NS] gains/lift table (cumulative positive capture by score band, exact ppm)")

  /** [NS] — fixed-band calibration (q211): the STREAM-FOLDABLE
    * reliability table ([[graft.operators.Analytics
    * .calibrationFixedBands]]) — q202's readout over fixed-width
    * confidence bands instead of rank deciles, which is exactly the
    * state shape the durable streaming monitor
    * ([[graft.streaming.SketchState.foreachBatchCalibration]]) folds
    * per epoch; this query is its oracle-checked batch twin
    * (StreamingSpec pins streamed ≡ batch on the union). Confidence =
    * value·10⁴ ppm (events' value is a 0–100 score), label = value>50. */
  val q211CalibrationBands = Q(
    "q211_calibration_bands",
    (s, d) => {
      import s.implicits._
      val ev = Tables.events(s, d)
        .withColumn("conf", round($"value" * 10000).cast("long"))
        .withColumn("y", $"value" > 50)
      Analytics.calibrationFixedBands(ev, "conf", "y", buckets = 10)
        .orderBy($"band")
    },
    Some("""WITH v AS (SELECT CAST(round(value * 10000.0) AS BIGINT) AS c,
          value > 50 AS y FROM events WHERE value IS NOT NULL),
      b AS (SELECT CAST(least(9, greatest(0, (c * 10) // 1000000))
          AS INT) AS band, c, y FROM v),
      g AS (SELECT band, CAST(count(*) AS BIGINT) AS n,
          CAST(count(CASE WHEN y THEN 1 END) AS BIGINT) AS pos,
          CAST(sum(c) AS BIGINT) AS conf_sum FROM b GROUP BY band),
      t AS (SELECT CAST(sum(n) AS BIGINT) AS nt FROM g)
      SELECT band, n, pos, CAST(conf_sum // n AS BIGINT) AS conf_ppm,
        CAST((1000000 * pos) // n AS BIGINT) AS acc_ppm,
        abs(conf_sum // n - (1000000 * pos) // n) AS gap_ppm,
        CAST((n * abs(conf_sum // n - (1000000 * pos) // n)) // nt
          AS BIGINT) AS ece_contrib_ppm
      FROM g, t ORDER BY band"""),
    doc = "[NS] fixed-band calibration (stream-foldable reliability table, exact ppm)")

  /** [NS] — exact ROC-AUC (q216): [[graft.operators.Analytics
    * .aucExact]] — the threshold-free ranking readout of "does value
    * rank engagement events above the rest", Mann–Whitney with tie
    * correction, zero pairwise joins (the pair counts come from one
    * window over the distinct-score frame). Completes the eval pack:
    * q202/q211 measure calibration, q203 top-band capture, this the
    * global ranking quality. */
  val q216Auc = Q(
    "q216_auc",
    (s, d) => {
      import s.implicits._
      val ev = Tables.events(s, d)
        .withColumn("cents", round($"value" * 100).cast("long"))
        .withColumn("y", $"event_type".isin("click", "purchase"))
      Analytics.aucExact(ev, "cents", "y")
    },
    Some("""WITH v AS (SELECT CAST(round(value * 100.0) AS BIGINT) AS s,
          event_type IN ('click', 'purchase') AS y
        FROM events WHERE value IS NOT NULL AND event_type IS NOT NULL),
      g AS (SELECT s, CAST(count(CASE WHEN y THEN 1 END) AS BIGINT) AS np,
          CAST(count(CASE WHEN NOT y THEN 1 END) AS BIGINT) AS nn
        FROM v GROUP BY s),
      c AS (SELECT np, nn, CAST(coalesce(sum(nn) OVER (ORDER BY s
          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
          AS BIGINT) AS cnb FROM g),
      t AS (SELECT CAST(sum(np) AS BIGINT) AS pn,
          CAST(sum(nn) AS BIGINT) AS ng,
          CAST(sum(np::HUGEINT * cnb) AS HUGEINT) AS uw,
          CAST(sum(np::HUGEINT * nn) AS HUGEINT) AS ut FROM c)
      SELECT pn AS n_pos, ng AS n_neg,
        CASE WHEN pn > 0 AND ng > 0 THEN
          CAST((1000000::HUGEINT * (2 * uw + ut))
            // (2::HUGEINT * pn * ng) AS BIGINT) END AS auc_ppm,
        CASE WHEN pn > 0 AND ng > 0 THEN
          2 * CAST((1000000::HUGEINT * (2 * uw + ut))
            // (2::HUGEINT * pn * ng) AS BIGINT) - 1000000
          END AS gini_ppm
      FROM t"""),
    doc = "[NS] exact ROC-AUC (Mann-Whitney with tie correction, no pairwise join)")

  /** [NS] — Brier score (q217): [[graft.operators.Analytics
    * .brierScore]] — the strictly-proper scoring rule over the q211
    * confidence convention (conf = value·10⁴ ppm, outcome = value>50);
    * charges miscalibration AND indiscrimination in one exact-ppm
    * number. */
  val q217Brier = Q(
    "q217_brier",
    (s, d) => {
      import s.implicits._
      val ev = Tables.events(s, d)
        .withColumn("conf", round($"value" * 10000).cast("long"))
        .withColumn("y", $"value" > 50)
      Analytics.brierScore(ev, "conf", "y")
    },
    Some("""WITH v AS (SELECT CAST(round(value * 10000.0) AS BIGINT) AS c,
          value > 50 AS y FROM events WHERE value IS NOT NULL),
      t AS (SELECT CAST(count(*) AS BIGINT) AS n,
          sum((c - CASE WHEN y THEN 1000000 ELSE 0 END)::HUGEINT *
            (c - CASE WHEN y THEN 1000000 ELSE 0 END)) AS ss FROM v)
      SELECT n, CASE WHEN n > 0 THEN
        CAST(ss // (n::HUGEINT * 1000000) AS BIGINT) END AS brier_ppm
      FROM t"""),
    doc = "[NS] Brier score (strictly-proper scoring rule, exact ppm)")

  /** [NS] — average precision (q218): [[graft.operators.Analytics
    * .averagePrecision]] — the PR-AUC summary under the q216 labeling,
    * integer-quantized per-term so both engines truncate identically;
    * ranks from the two-pass global rank, never a single-partition
    * window. */
  val q218AvgPrecision = Q(
    "q218_avg_precision",
    (s, d) => {
      import s.implicits._
      val ev = Tables.events(s, d)
        .withColumn("cents", round($"value" * 100).cast("long"))
        .withColumn("y", $"event_type".isin("click", "purchase"))
      Analytics.averagePrecision(ev, "cents", "event_id", "y")
    },
    Some("""WITH v AS (SELECT CAST(round(value * 100.0) AS BIGINT) AS s,
          event_id AS t, event_type IN ('click', 'purchase') AS y
        FROM events WHERE value IS NOT NULL AND event_type IS NOT NULL),
      r AS (SELECT *, row_number() OVER (ORDER BY s DESC, t) AS rk
        FROM v),
      p AS (SELECT t, row_number() OVER (ORDER BY s DESC, t) AS pk
        FROM v WHERE y),
      j AS (SELECT r.y, CASE WHEN p.pk IS NOT NULL THEN
          (1000000 * p.pk) // r.rk END AS term
        FROM r LEFT JOIN p USING (t))
      SELECT CAST(count(*) AS BIGINT) AS n,
        CAST(count(CASE WHEN y THEN 1 END) AS BIGINT) AS n_pos,
        CASE WHEN count(CASE WHEN y THEN 1 END) > 0 THEN
          CAST(sum(term) // count(CASE WHEN y THEN 1 END) AS BIGINT)
          END AS ap_ppm
      FROM j"""),
    doc = "[NS] average precision (integer-quantized PR-AUC summary, two-pass ranks)")

  /** [NS] — threshold sweep (q219): [[graft.operators.Analytics
    * .thresholdSweep]] — confusion counts + precision/recall/F1 at a
    * 5-threshold ladder over the q211 confidence convention, computed
    * from ONE corpus aggregate (the distinct-confidence frame) joined
    * to the broadcast threshold spine — the q207 single-scan ladder
    * argument applied to model operating points. */
  val q219ThresholdSweep = Q(
    "q219_threshold_sweep",
    (s, d) => {
      import s.implicits._
      val ev = Tables.events(s, d)
        .withColumn("conf", round($"value" * 10000).cast("long"))
        .withColumn("y", $"event_type".isin("click", "purchase"))
      Analytics.thresholdSweep(ev, "conf", "y",
          Seq(100000L, 300000L, 500000L, 700000L, 900000L))
        .orderBy($"thr_ppm")
    },
    Some("""WITH v AS (SELECT CAST(round(value * 10000.0) AS BIGINT) AS c,
          event_type IN ('click', 'purchase') AS y
        FROM events WHERE value IS NOT NULL AND event_type IS NOT NULL),
      g AS (SELECT c, CAST(count(CASE WHEN y THEN 1 END) AS BIGINT) AS np,
          CAST(count(CASE WHEN NOT y THEN 1 END) AS BIGINT) AS nn
        FROM v GROUP BY c),
      sp AS (SELECT CAST(unnest([100000, 300000, 500000, 700000, 900000])
          AS BIGINT) AS thr_ppm),
      a AS (SELECT thr_ppm,
          CAST(sum(CASE WHEN c >= thr_ppm THEN np ELSE 0 END) AS BIGINT)
            AS tp,
          CAST(sum(CASE WHEN c >= thr_ppm THEN nn ELSE 0 END) AS BIGINT)
            AS fp,
          CAST(sum(CASE WHEN c < thr_ppm THEN np ELSE 0 END) AS BIGINT)
            AS fn,
          CAST(sum(CASE WHEN c < thr_ppm THEN nn ELSE 0 END) AS BIGINT)
            AS tn
        FROM g, sp GROUP BY thr_ppm),
      m AS (SELECT *,
          CASE WHEN tp + fp > 0 THEN (1000000 * tp) // (tp + fp) END
            AS precision_ppm,
          CASE WHEN tp + fn > 0 THEN (1000000 * tp) // (tp + fn) END
            AS recall_ppm
        FROM a)
      SELECT thr_ppm, tp, fp, fn, tn, precision_ppm, recall_ppm,
        CASE WHEN precision_ppm + recall_ppm > 0 THEN
          (2 * precision_ppm * recall_ppm) //
            (precision_ppm + recall_ppm) END AS f1_ppm
      FROM m ORDER BY thr_ppm"""),
    doc = "[NS] threshold sweep (confusion counts + P/R/F1 ladder, one corpus scan)")

  /** [NS] — error-analysis sampler (q223): [[graft.operators.Analytics
    * .errorSamples]] under the q219 labeling at the 500000 threshold —
    * five deterministic examples per confusion cell, the rows a model
    * debugger actually opens. The md5-order sample reproduces exactly
    * in DuckDB, so even the SAMPLE is oracle-checked. */
  val q223ErrorSamples = Q(
    "q223_error_samples",
    (s, d) => {
      import s.implicits._
      val ev = Tables.events(s, d)
        .withColumn("pred", round($"value" * 10000).cast("long") >= 500000L)
        .withColumn("y", $"event_type".isin("click", "purchase"))
        .filter($"value".isNotNull && $"event_type".isNotNull)
      Analytics.errorSamples(ev, "event_id", "pred", "y", k = 5)
        .orderBy($"predicted", $"actual", $"rk")
    },
    Some("""WITH v AS (SELECT event_id,
          CAST(round(value * 10000.0) AS BIGINT) >= 500000 AS predicted,
          event_type IN ('click', 'purchase') AS actual
        FROM events WHERE value IS NOT NULL AND event_type IS NOT NULL),
      r AS (SELECT *, row_number() OVER (PARTITION BY predicted, actual
          ORDER BY md5(CAST(event_id AS VARCHAR)), event_id) AS rk
        FROM v)
      SELECT predicted, actual, CAST(rk AS BIGINT) AS rk, event_id
      FROM r WHERE rk <= 5
      ORDER BY predicted, actual, rk"""),
    doc = "[NS] error-analysis sampler (deterministic per-cell examples, oracle-checked)")

  /** [NS] — user-journey path mining (q224): [[graft.operators
    * .Analytics.journeyPaths]] — the 20 most frequent event-type
    * trigram paths over each user's time-ordered stream, with
    * occurrence counts and user support. */
  val q224Journeys = Q(
    "q224_journeys",
    (s, d) => {
      import s.implicits._
      Analytics.journeyPaths(Tables.events(s, d), "user_id",
        "event_type", "ts", "event_id", topN = 20)
    },
    Some("""WITH w AS (SELECT user_id, event_type AS e1,
          lead(event_type, 1) OVER (PARTITION BY user_id
            ORDER BY ts, event_id) AS e2,
          lead(event_type, 2) OVER (PARTITION BY user_id
            ORDER BY ts, event_id) AS e3
        FROM events WHERE event_type IS NOT NULL),
      p AS (SELECT user_id, e1 || '>' || e2 || '>' || e3 AS path
        FROM w WHERE e2 IS NOT NULL AND e3 IS NOT NULL)
      SELECT path, CAST(count(*) AS BIGINT) AS n,
        CAST(count(DISTINCT user_id) AS BIGINT) AS n_users
      FROM p GROUP BY path
      ORDER BY n DESC, path LIMIT 20"""),
    doc = "[NS] user-journey trigram paths (frequent-path discovery, exact counts)")

  /** [NS] — join pre-flight audit (q238): [[graft.operators.Analytics
    * .joinAudit]] on the lineitem self-join by part key — the exact
    * output cardinality (Σ cntA·cntB), worst key, and multiplicity
    * ceilings, computed from key-count frames WITHOUT running the join.
    * At sf0.01 the self-join would emit ~1.8M rows from 60k inputs —
    * the many-to-many explosion this audit exists to catch before the
    * cluster does. */
  val q238JoinAudit = Q(
    "q238_join_audit",
    (s, d) => {
      val li = Tables.lineitem(s, d)
      Analytics.joinAudit(li, li, "l_partkey")
    },
    Some("""WITH ca AS (SELECT l_partkey AS k,
          CAST(count(*) AS BIGINT) AS ca FROM lineitem
        WHERE l_partkey IS NOT NULL GROUP BY 1),
      cb AS (SELECT l_partkey AS k, CAST(count(*) AS BIGINT) AS cb
        FROM lineitem WHERE l_partkey IS NOT NULL GROUP BY 1),
      j AS (SELECT ca.k, ca.ca, cb.cb, ca.ca::HUGEINT * cb.cb AS prod
        FROM ca JOIN cb USING (k)),
      t AS (SELECT CAST(count(*) AS BIGINT) AS n_keys,
          CAST(sum(prod) AS BIGINT) AS out_rows,
          CAST(max(ca) AS BIGINT) AS max_mult_a,
          CAST(max(cb) AS BIGINT) AS max_mult_b FROM j),
      w AS (SELECT CAST(k AS VARCHAR) AS worst_key,
          CAST(prod AS BIGINT) AS worst_rows FROM j
        ORDER BY prod DESC, CAST(k AS VARCHAR) DESC LIMIT 1)
      SELECT n_keys, out_rows, max_mult_a, max_mult_b, worst_key,
        worst_rows
      FROM t, w"""),
    doc = "[NS] join pre-flight audit (exact output cardinality without the join)")

  /** [NS] — incremental join-view maintenance (q242): the maintained
    * view is built WITHOUT ever re-joining the full bases. Both bases
    * are split old/delta on incommensurate moduli (orders %7, lineitem
    * %5 — so the deltas overlap partially and every one of the three
    * delta terms ΔR⋈S, R⋈ΔS, ΔR⋈ΔS is non-empty), the stored view is
    * old⋈old, and [[AggView.joinDelta]] supplies the refresh. The
    * oracle recomputes the view from the FULL bases — the hash match IS
    * the proof of the multiset join-delta rule on this data. Output is
    * the per-order row count + exact quantity sum over the maintained
    * view, so a single lost or duplicated delta row breaks the hash. */
  val q242JoinViewDelta = Q(
    "q242_join_view_delta",
    (s, d) => {
      import s.implicits._
      val ord = Tables.orders(s, d)
        .select($"o_orderkey", $"o_orderpriority")
      val li = Tables.lineitem(s, d)
        .select($"l_orderkey".as("o_orderkey"), $"l_quantity")
      val rOld = ord.filter($"o_orderkey" % 7 =!= 0)
      val rDelta = ord.filter($"o_orderkey" % 7 === 0)
      val sOld = li.filter($"o_orderkey" % 5 =!= 0)
      val sDelta = li.filter($"o_orderkey" % 5 === 0)
      val stored = rOld.join(sOld, Seq("o_orderkey"))
      val refreshed = stored.unionByName(
        AggView.joinDelta(rOld, rDelta, sOld, sDelta, Seq("o_orderkey")))
      refreshed.groupBy($"o_orderkey")
        .agg(count(lit(1)).as("n_rows"),
          exactSum($"l_quantity", 2).as("sum_qty"))
        .orderBy($"o_orderkey")
    },
    Some(s"""SELECT o_orderkey, CAST(count(*) AS BIGINT) AS n_rows,
        ${exactSumSql("l_quantity", 2)} AS sum_qty
      FROM orders JOIN lineitem ON l_orderkey = o_orderkey
      GROUP BY o_orderkey ORDER BY o_orderkey"""),
    doc = "[NS] incremental join-view refresh ≡ full recompute (delta algebra)")

  /** [NS] — CUPED experiment readout (q243): per-user floor-averaged
    * event value in the pre-period (Jan 1–15) as covariate X and the
    * experiment period (Jan 16–30) as metric Y, variant = user_id
    * parity, [[Analytics.cuped]] for the exact-ppm θ / corr² /
    * raw-vs-adjusted treatment gap. Users missing either period drop
    * out (no covariate → no adjustment — the standard CUPED cohort
    * rule). The A/B readout every event pipeline ends in, with the
    * pre-period imbalance subtracted instead of mistaken for lift. */
  val q243Cuped = Q(
    "q243_cuped",
    (s, d) => {
      import s.implicits._
      val e = Tables.events(s, d)
        .filter($"user_id".isNotNull && $"value".isNotNull)
        .select($"user_id",
          ($"ts" >= lit("2024-01-16 00:00:00").cast("timestamp"))
            .cast("int").as("post"),
          expr("CAST(round(value * 100) AS BIGINT)").as("c"))
      val perUser = e.groupBy($"user_id").agg(
          sum(when($"post" === 0, $"c")).as("sxc"),
          count(when($"post" === 0, 1)).as("nx"),
          sum(when($"post" === 1, $"c")).as("syc"),
          count(when($"post" === 1, 1)).as("ny"))
        .filter($"nx" > 0 && $"ny" > 0)
        .select(($"user_id" % 2).as("variant"),
          expr("sxc div nx").as("x"), expr("syc div ny").as("y"))
      Analytics.cuped(perUser, "variant", "x", "y")
    },
    Some("""WITH e AS (SELECT user_id,
          CASE WHEN ts >= TIMESTAMP '2024-01-16 00:00:00' THEN 1
            ELSE 0 END AS post,
          CAST(round(value * 100) AS BIGINT) AS c
        FROM events WHERE user_id IS NOT NULL AND value IS NOT NULL),
      pu AS (SELECT user_id,
          CAST(sum(CASE WHEN post = 0 THEN c END) AS BIGINT) AS sxc,
          CAST(count(CASE WHEN post = 0 THEN 1 END) AS BIGINT) AS nx,
          CAST(sum(CASE WHEN post = 1 THEN c END) AS BIGINT) AS syc,
          CAST(count(CASE WHEN post = 1 THEN 1 END) AS BIGINT) AS ny
        FROM e GROUP BY user_id),
      k AS (SELECT user_id % 2 AS variant, sxc // nx AS x, syc // ny AS y
        FROM pu WHERE nx > 0 AND ny > 0),
      m AS (SELECT CAST(count(*) AS HUGEINT) AS n,
          CAST(sum(x) AS HUGEINT) AS sx, CAST(sum(y) AS HUGEINT) AS sy,
          CAST(sum(x * y) AS HUGEINT) AS sxy,
          CAST(sum(x * x) AS HUGEINT) AS sxx,
          CAST(sum(y * y) AS HUGEINT) AS syy,
          CAST(count(CASE WHEN variant = 1 THEN 1 END) AS HUGEINT) AS n1,
          CAST(count(CASE WHEN variant <> 1 THEN 1 END) AS HUGEINT) AS n0,
          CAST(sum(CASE WHEN variant = 1 THEN x END) AS HUGEINT) AS sx1,
          CAST(sum(CASE WHEN variant <> 1 THEN x END) AS HUGEINT) AS sx0,
          CAST(sum(CASE WHEN variant = 1 THEN y END) AS HUGEINT) AS sy1,
          CAST(sum(CASE WHEN variant <> 1 THEN y END) AS HUGEINT) AS sy0
        FROM k),
      c AS (SELECT *, n * sxy - sx * sy AS cxy,
          n * sxx - sx * sx AS cxx, n * syy - sy * sy AS cyy FROM m),
      f AS (SELECT *, CASE WHEN cxx = 0 THEN CAST(0 AS BIGINT)
          ELSE CAST((1000000::HUGEINT * cxy) // cxx AS BIGINT) END
          AS theta_ppm FROM c)
      SELECT CAST(n AS BIGINT) AS n_units, theta_ppm,
        CASE WHEN cxx = 0 OR cyy = 0 THEN CAST(0 AS BIGINT)
          ELSE CAST((1000000::HUGEINT * cxy * cxy) // (cxx * cyy)
            AS BIGINT) END AS var_reduction_ppm,
        CAST((1000000::HUGEINT * sy1) // n1
          - (1000000::HUGEINT * sy0) // n0 AS BIGINT) AS diff_raw_ppm,
        CAST(((1000000::HUGEINT * sy1) // n1
            - (1000000::HUGEINT * sy0) // n0)
          - (theta_ppm::HUGEINT * ((1000000::HUGEINT * sx1) // n1
            - (1000000::HUGEINT * sx0) // n0)) // 1000000 AS BIGINT)
          AS diff_adj_ppm
      FROM f"""),
    doc = "[NS] CUPED pre-period adjustment (exact-ppm theta, corr2, adj gap)")

  /** [NS] — Benford first-digit audit (q247): [[Analytics.benfordAudit]]
    * over lineitem prices in exact cents. Synthetic TPC-H prices are
    * uniform-ish, NOT Benford — which is exactly what the audit should
    * say: large dev_ppm rows are the whole point on this fixture (the
    * detector firing on data that was, in fact, synthesized). The
    * leading digit is taken from the BIGINT's decimal string in both
    * engines — never log10 (ulp territory). */
  val q247Benford = Q(
    "q247_benford",
    (s, d) => {
      import s.implicits._
      Analytics.benfordAudit(
          Tables.lineitem(s, d).select(
            expr("CAST(round(l_extendedprice * 100) AS BIGINT)").as("v")),
          "v")
        .orderBy($"digit")
    },
    Some("""WITH v AS (SELECT CAST(round(l_extendedprice * 100) AS BIGINT)
          AS v FROM lineitem
        WHERE l_extendedprice IS NOT NULL
          AND CAST(round(l_extendedprice * 100) AS BIGINT) > 0),
      dg AS (SELECT CAST(substr(CAST(v AS VARCHAR), 1, 1) AS INTEGER)
          AS digit FROM v),
      c AS (SELECT digit, CAST(count(*) AS BIGINT) AS n FROM dg
        GROUP BY digit),
      t AS (SELECT CAST(sum(n) AS BIGINT) AS total FROM c),
      e(digit, expected_ppm) AS (VALUES (1, 301030), (2, 176091),
        (3, 124939), (4, 96910), (5, 79181), (6, 66947), (7, 57992),
        (8, 51153), (9, 45757))
      SELECT c.digit, c.n,
        CAST((1000000 * c.n) // t.total AS BIGINT) AS share_ppm,
        e.expected_ppm,
        CAST(abs((1000000 * c.n) // t.total - e.expected_ppm) AS BIGINT)
          AS dev_ppm
      FROM c JOIN e USING (digit) CROSS JOIN t ORDER BY c.digit"""),
    doc = "[NS] Benford leading-digit audit (string digit, canonical ppm constants)")

  /** [NS] — difference-in-differences (q248): [[Analytics.diffInDiff]]
    * over events — variant = user parity (the \"rollout\" cohort),
    * pre/post at Jan 16, value in exact cents. The non-randomized
    * complement of q243's CUPED: control drift (m01−m00) is the trend
    * estimate, and did_ppm is what treatment moved beyond it. One
    * aggregate; four exact-ppm cell means. */
  val q248DiffInDiff = Q(
    "q248_diff_in_diff",
    (s, d) => {
      import s.implicits._
      val obs = Tables.events(s, d)
        .filter($"user_id".isNotNull && $"value".isNotNull)
        .select(($"user_id" % 2).cast("int").as("variant"),
          ($"ts" >= lit("2024-01-16 00:00:00").cast("timestamp"))
            .cast("int").as("post"),
          expr("CAST(round(value * 100) AS BIGINT)").as("c"))
      Analytics.diffInDiff(obs, "variant", "post", "c")
    },
    Some("""WITH o AS (SELECT CAST(user_id % 2 AS INTEGER) AS variant,
          CASE WHEN ts >= TIMESTAMP '2024-01-16 00:00:00' THEN 1
            ELSE 0 END AS post,
          CAST(round(value * 100) AS BIGINT) AS c
        FROM events WHERE user_id IS NOT NULL AND value IS NOT NULL),
      a AS (SELECT
          CAST(count(CASE WHEN variant = 0 AND post = 0 THEN 1 END)
            AS BIGINT) AS n00,
          CAST(count(CASE WHEN variant = 0 AND post = 1 THEN 1 END)
            AS BIGINT) AS n01,
          CAST(count(CASE WHEN variant = 1 AND post = 0 THEN 1 END)
            AS BIGINT) AS n10,
          CAST(count(CASE WHEN variant = 1 AND post = 1 THEN 1 END)
            AS BIGINT) AS n11,
          CAST(coalesce(sum(CASE WHEN variant = 0 AND post = 0 THEN c
            END), 0) AS BIGINT) AS s00,
          CAST(coalesce(sum(CASE WHEN variant = 0 AND post = 1 THEN c
            END), 0) AS BIGINT) AS s01,
          CAST(coalesce(sum(CASE WHEN variant = 1 AND post = 0 THEN c
            END), 0) AS BIGINT) AS s10,
          CAST(coalesce(sum(CASE WHEN variant = 1 AND post = 1 THEN c
            END), 0) AS BIGINT) AS s11
        FROM o),
      m AS (SELECT n00, n01, n10, n11,
          CASE WHEN n00 > 0 THEN (1000000 * s00) // n00 END AS m00_ppm,
          CASE WHEN n01 > 0 THEN (1000000 * s01) // n01 END AS m01_ppm,
          CASE WHEN n10 > 0 THEN (1000000 * s10) // n10 END AS m10_ppm,
          CASE WHEN n11 > 0 THEN (1000000 * s11) // n11 END AS m11_ppm
        FROM a)
      SELECT n00, n01, n10, n11, m00_ppm, m01_ppm, m10_ppm, m11_ppm,
        CAST((m11_ppm - m10_ppm) - (m01_ppm - m00_ppm) AS BIGINT)
          AS did_ppm
      FROM m"""),
    doc = "[NS] difference-in-differences (trend-adjusted rollout readout, exact ppm)")

  /** [NS] — split-conformal interval (q257): wrap the naive
    * personalization predictor (each user's pre-period floor-mean
    * spend) in [[Analytics.splitConformal]] at α = 10%: the
    * calibration half of the post-period events sets q̂ (the k-th
    * smallest |actual − pred|), the test half measures empirical
    * coverage. The distribution-free uncertainty wrapper every
    * production regressor should ship with — the guarantee holds even
    * though this predictor is terrible, which is exactly the point of
    * conformal. */
  val q257Conformal = Q(
    "q257_conformal",
    (s, d) => {
      import s.implicits._
      val e = Tables.events(s, d)
        .filter($"user_id".isNotNull && $"value".isNotNull)
        .select($"user_id", $"event_id",
          ($"ts" >= lit("2024-01-16 00:00:00").cast("timestamp"))
            .cast("int").as("post"),
          expr("CAST(round(value * 100) AS BIGINT)").as("c"))
      val pre = e.groupBy($"user_id")
        .agg(sum(when($"post" === 0, $"c")).as("sc"),
          count(when($"post" === 0, 1)).as("nc"))
        .filter($"nc" > 0)
        .select($"user_id", expr("sc div nc").as("pred"))
      val obs = e.filter($"post" === 1)
        .join(pre, Seq("user_id"))
        .select($"pred", $"c".as("actual"),
          ($"event_id" % 2).cast("int").as("cal"))
      Analytics.splitConformal(obs, "pred", "actual", "cal",
        alphaPct = 10)
    },
    Some("""WITH e AS (SELECT user_id, event_id,
          CASE WHEN ts >= TIMESTAMP '2024-01-16 00:00:00' THEN 1
            ELSE 0 END AS post,
          CAST(round(value * 100) AS BIGINT) AS c
        FROM events WHERE user_id IS NOT NULL AND value IS NOT NULL),
      pre AS (SELECT user_id,
          CAST(sum(CASE WHEN post = 0 THEN c END) AS BIGINT)
            // CAST(count(CASE WHEN post = 0 THEN 1 END) AS BIGINT)
            AS pred
        FROM e GROUP BY user_id
        HAVING count(CASE WHEN post = 0 THEN 1 END) > 0),
      obs AS (SELECT abs(e.c - pre.pred) AS r,
          CAST(e.event_id % 2 AS INTEGER) AS cal
        FROM e JOIN pre USING (user_id) WHERE e.post = 1),
      calr AS (SELECT r, row_number() OVER (ORDER BY r) AS rk
        FROM obs WHERE cal = 1),
      n1 AS (SELECT CAST(count(*) AS BIGINT) AS n_cal FROM calr),
      q AS (SELECT CAST(max(r) AS BIGINT) AS qhat FROM calr, n1
        WHERE rk = (90 * (n_cal + 1) + 99) // 100),
      t AS (SELECT CAST(count(*) AS BIGINT) AS n_test,
          CAST(count(CASE WHEN r <= (SELECT qhat FROM q) THEN 1 END)
            AS BIGINT) AS nc
        FROM obs WHERE cal = 0)
      SELECT n1.n_cal, t.n_test, q.qhat,
        CASE WHEN q.qhat IS NULL THEN t.n_test ELSE t.nc END
          AS n_covered,
        CASE WHEN t.n_test > 0 THEN (1000000 *
          CASE WHEN q.qhat IS NULL THEN t.n_test ELSE t.nc END)
          // t.n_test END AS coverage_ppm
      FROM n1, t, q"""),
    doc = "[NS] split-conformal interval + empirical coverage (distribution-free, exact)")

  /** [NS] — shuffle-skew pre-flight (q260): [[Skew.skewReport]] over
    * the three join/agg keys a pipeline on this schema actually
    * shuffles on — hottest-key share, hot/average straggler ratio, and
    * the recommended salt-bucket count at 32 partitions (1 = don't
    * salt). q238 prices a join's OUTPUT; this prices its SHUFFLE — run
    * both before committing a 100 TB join. */
  val q260SkewReport = Q(
    "q260_skew_report",
    (s, d) => {
      import s.implicits._
      Skew.skewReport(Tables.lineitem(s, d), "l_partkey", 32,
          "lineitem.l_partkey")
        .unionByName(Skew.skewReport(Tables.lineitem(s, d), "l_suppkey",
          32, "lineitem.l_suppkey"))
        .unionByName(Skew.skewReport(Tables.events(s, d), "user_id", 32,
          "events.user_id"))
        .orderBy($"artifact")
    },
    Some("""WITH src AS (
        SELECT 'lineitem.l_partkey' AS artifact, l_partkey AS k
          FROM lineitem WHERE l_partkey IS NOT NULL
        UNION ALL SELECT 'lineitem.l_suppkey', l_suppkey
          FROM lineitem WHERE l_suppkey IS NOT NULL
        UNION ALL SELECT 'events.user_id', user_id
          FROM events WHERE user_id IS NOT NULL),
      c AS (SELECT artifact, k, CAST(count(*) AS BIGINT) AS c
        FROM src GROUP BY artifact, k),
      a AS (SELECT artifact, CAST(sum(c) AS BIGINT) AS n_rows,
          CAST(count(*) AS BIGINT) AS n_keys,
          CAST(max(c) AS BIGINT) AS max_cnt
        FROM c GROUP BY artifact)
      SELECT artifact, n_rows, n_keys, max_cnt,
        n_rows // n_keys AS avg_cnt,
        (1000000 * max_cnt) // n_rows AS max_share_ppm,
        CAST((1000000::HUGEINT * max_cnt * n_keys) // n_rows AS BIGINT)
          AS skew_ratio_ppm,
        CASE WHEN max_cnt > (n_rows + 31) // 32
          THEN (max_cnt + (n_rows + 31) // 32 - 1)
            // ((n_rows + 31) // 32)
          ELSE CAST(1 AS BIGINT) END AS rec_salt
      FROM a ORDER BY artifact"""),
    doc = "[NS] shuffle-skew pre-flight (hot-key share, straggler ratio, salt advice)")

  /** [NS] — experiment sizing ladder (q261): [[Analytics
    * .sampleSizeLadder]] on per-user post-period mean spend — units per
    * arm to detect a 1/2/5/10% lift at α=5%, power 80%, the pinned
    * (z_{α/2}+z_β)² = 7.848879 constant. The question every A/B
    * conversation starts with, answered from one aggregate — and the
    * quantitative case for q243's CUPED: multiply var_c2 by (1−ρ²) and
    * the ladder shrinks by the measured variance reduction. */
  val q261SampleSize = Q(
    "q261_sample_size",
    (s, d) => {
      import s.implicits._
      val post = Tables.events(s, d)
        .filter($"user_id".isNotNull && $"value".isNotNull &&
          $"ts" >= lit("2024-01-16 00:00:00").cast("timestamp"))
        .select($"user_id",
          expr("CAST(round(value * 100) AS BIGINT)").as("c"))
        .groupBy($"user_id")
        .agg(sum($"c").as("sc"), count(lit(1)).as("nc"))
        .select(expr("sc div nc").as("y"))
      Analytics.sampleSizeLadder(post, "y", Seq(1, 2, 5, 10))
        .orderBy($"mde_pct")
    },
    Some("""WITH pu AS (SELECT user_id,
          CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
            // CAST(count(*) AS BIGINT) AS y
        FROM events
        WHERE user_id IS NOT NULL AND value IS NOT NULL
          AND ts >= TIMESTAMP '2024-01-16 00:00:00'
        GROUP BY user_id),
      m AS (SELECT CAST(count(*) AS HUGEINT) AS n,
          CAST(sum(y) AS HUGEINT) AS sx,
          CAST(sum(y * y) AS HUGEINT) AS sxx FROM pu),
      st AS (SELECT CAST(n AS BIGINT) AS n_units,
          CAST(sx // n AS BIGINT) AS mean_c,
          CASE WHEN n > 1 THEN CAST((n * sxx - sx * sx)
            // (n * (n - 1)) AS BIGINT) ELSE CAST(0 AS BIGINT) END
            AS var_c2 FROM m),
      l(mde_pct) AS (VALUES (1), (2), (5), (10)),
      j AS (SELECT st.*, l.mde_pct,
          (mean_c * mde_pct) // 100 AS delta_c
        FROM st CROSS JOIN l)
      SELECT mde_pct, delta_c,
        CASE WHEN delta_c > 0 THEN CAST((7848879::HUGEINT * 2 * var_c2
          + 1000000::HUGEINT * delta_c * delta_c - 1)
          // (1000000::HUGEINT * delta_c * delta_c) AS BIGINT) END
          AS n_per_arm,
        n_units, mean_c, var_c2
      FROM j ORDER BY mde_pct"""),
    doc = "[NS] A/B sample-size ladder (pinned z constants, exact variance, ceil division)")

  /** [NS] — RFM customer segmentation (q262): the classic
    * recency/frequency/monetary grid — per user: days since last
    * event, event count, exact spend; each dimension cut into 4 exact
    * equi-depth bins ([[graft.operators.Curation.withEquiBuckets]] —
    * three range-sorts over the USER frame, never the event log); one
    * row per populated (r, f, m) cell with its population and spend
    * mass. The segmentation every lifecycle-marketing / cohort-weight
    * pipeline starts from, exact enough to hash. */
  val q262Rfm = Q(
    "q262_rfm",
    (s, d) => {
      import s.implicits._
      val e = Tables.events(s, d)
        .filter($"user_id".isNotNull && $"value".isNotNull)
        .select($"user_id", unix_micros($"ts").as("t"),
          expr("CAST(round(value * 100) AS BIGINT)").as("c"))
      val mx = e.agg(max($"t").as("mx"))
      val pu = e.groupBy($"user_id")
        .agg(count(lit(1)).as("freq"), sum($"c").as("mon_c"),
          max($"t").as("ut"))
        .crossJoin(broadcast(mx))
        .select($"user_id",
          expr("(mx - ut) div 86400000000").as("rec_days"),
          $"freq", $"mon_c")
      val binned = Seq[(String, Seq[org.apache.spark.sql.Column])](
        ("r_bin", Seq($"rec_days".asc, $"user_id".asc)),
        ("f_bin", Seq($"freq".asc, $"user_id".asc)),
        ("m_bin", Seq($"mon_c".asc, $"user_id".asc)))
        .foldLeft(pu) { case (acc, (name, order)) =>
          graft.operators.Curation.withEquiBuckets(acc, order, 4, name)
        }
      binned.groupBy($"r_bin", $"f_bin", $"m_bin")
        .agg(count(lit(1)).as("n_users"), sum($"mon_c").as("spend_c"))
        .orderBy($"r_bin", $"f_bin", $"m_bin")
    },
    Some("""WITH e AS (SELECT user_id, epoch_us(ts) AS t,
          CAST(round(value * 100) AS BIGINT) AS c
        FROM events WHERE user_id IS NOT NULL AND value IS NOT NULL),
      mx AS (SELECT max(t) AS mx FROM e),
      pu AS (SELECT user_id,
          (mx.mx - max(t)) // 86400000000 AS rec_days,
          CAST(count(*) AS BIGINT) AS freq,
          CAST(sum(c) AS BIGINT) AS mon_c
        FROM e, mx GROUP BY user_id, mx.mx),
      n AS (SELECT CAST(count(*) AS BIGINT) AS n FROM pu),
      b AS (SELECT user_id, mon_c,
          ((row_number() OVER (ORDER BY rec_days, user_id) - 1) * 4)
            // (SELECT n FROM n) AS r_bin,
          ((row_number() OVER (ORDER BY freq, user_id) - 1) * 4)
            // (SELECT n FROM n) AS f_bin,
          ((row_number() OVER (ORDER BY mon_c, user_id) - 1) * 4)
            // (SELECT n FROM n) AS m_bin
        FROM pu)
      SELECT r_bin, f_bin, m_bin, CAST(count(*) AS BIGINT) AS n_users,
        CAST(sum(mon_c) AS BIGINT) AS spend_c
      FROM b GROUP BY r_bin, f_bin, m_bin
      ORDER BY r_bin, f_bin, m_bin"""),
    doc = "[NS] RFM segmentation grid (exact equi-depth bins per dimension)")

  /** [NS] — whole-schema FK sweep (q263): every declared FK edge of the
    * star schema audited in one ledger — child rows and orphan counts
    * via [[graft.operators.Integrity.fkViolations]]' anti-join, 7 edges
    * from region←nation down to lineitem→part/supplier/orders. All
    * zeros on a healthy warehouse — the point is the SWEEP: after any
    * bulk load or purge (q254), one query certifies referential health
    * instead of seven ad-hoc checks. */
  val q263FkSweep = Q(
    "q263_fk_sweep",
    (s, d) => {
      import s.implicits._
      import graft.operators.Integrity
      def edge(name: String, child: org.apache.spark.sql.DataFrame,
          fk: String, parent: org.apache.spark.sql.DataFrame,
          pk: String) = {
        val base = child.filter(col(fk).isNotNull)
        base.agg(count(lit(1)).as("n_child"))
          .crossJoin(broadcast(
            Integrity.fkViolations(child, fk, parent, pk)
              .agg(count(lit(1)).as("n_orphans"))))
          .select(lit(name).as("fk_edge"), $"n_child", $"n_orphans")
      }
      val n = Tables.nation(s, d); val r = Tables.region(s, d)
      val c = Tables.customer(s, d); val su = Tables.supplier(s, d)
      val o = Tables.orders(s, d); val l = Tables.lineitem(s, d)
      val p = Tables.part(s, d)
      edge("customer.nation", c, "c_nationkey", n, "n_nationkey")
        .unionByName(edge("lineitem.orders", l, "l_orderkey", o,
          "o_orderkey"))
        .unionByName(edge("lineitem.part", l, "l_partkey", p,
          "p_partkey"))
        .unionByName(edge("lineitem.supplier", l, "l_suppkey", su,
          "s_suppkey"))
        .unionByName(edge("nation.region", n, "n_regionkey", r,
          "r_regionkey"))
        .unionByName(edge("orders.customer", o, "o_custkey", c,
          "c_custkey"))
        .unionByName(edge("supplier.nation", su, "s_nationkey", n,
          "n_nationkey"))
        .orderBy($"fk_edge")
    },
    Some("""SELECT 'customer.nation' AS fk_edge,
        CAST((SELECT count(*) FROM customer
          WHERE c_nationkey IS NOT NULL) AS BIGINT) AS n_child,
        CAST((SELECT count(*) FROM customer WHERE c_nationkey IS NOT NULL
          AND c_nationkey NOT IN (SELECT n_nationkey FROM nation))
          AS BIGINT) AS n_orphans
      UNION ALL SELECT 'lineitem.orders',
        CAST((SELECT count(*) FROM lineitem
          WHERE l_orderkey IS NOT NULL) AS BIGINT),
        CAST((SELECT count(*) FROM lineitem WHERE l_orderkey IS NOT NULL
          AND l_orderkey NOT IN (SELECT o_orderkey FROM orders))
          AS BIGINT)
      UNION ALL SELECT 'lineitem.part',
        CAST((SELECT count(*) FROM lineitem
          WHERE l_partkey IS NOT NULL) AS BIGINT),
        CAST((SELECT count(*) FROM lineitem WHERE l_partkey IS NOT NULL
          AND l_partkey NOT IN (SELECT p_partkey FROM part)) AS BIGINT)
      UNION ALL SELECT 'lineitem.supplier',
        CAST((SELECT count(*) FROM lineitem
          WHERE l_suppkey IS NOT NULL) AS BIGINT),
        CAST((SELECT count(*) FROM lineitem WHERE l_suppkey IS NOT NULL
          AND l_suppkey NOT IN (SELECT s_suppkey FROM supplier))
          AS BIGINT)
      UNION ALL SELECT 'nation.region',
        CAST((SELECT count(*) FROM nation
          WHERE n_regionkey IS NOT NULL) AS BIGINT),
        CAST((SELECT count(*) FROM nation WHERE n_regionkey IS NOT NULL
          AND n_regionkey NOT IN (SELECT r_regionkey FROM region))
          AS BIGINT)
      UNION ALL SELECT 'orders.customer',
        CAST((SELECT count(*) FROM orders
          WHERE o_custkey IS NOT NULL) AS BIGINT),
        CAST((SELECT count(*) FROM orders WHERE o_custkey IS NOT NULL
          AND o_custkey NOT IN (SELECT c_custkey FROM customer))
          AS BIGINT)
      UNION ALL SELECT 'supplier.nation',
        CAST((SELECT count(*) FROM supplier
          WHERE s_nationkey IS NOT NULL) AS BIGINT),
        CAST((SELECT count(*) FROM supplier WHERE s_nationkey IS NOT NULL
          AND s_nationkey NOT IN (SELECT n_nationkey FROM nation))
          AS BIGINT)
      ORDER BY fk_edge"""),
    doc = "[NS] whole-schema FK orphan sweep (7 edges, one referential-health ledger)")

  /** [NS] — Theil–Sen robust trend (q307):
    * [[graft.operators.Analytics.theilSen]] over the DAILY value series
    * per event type (exact cents rollup first — the one corpus-sized
    * pass; the pairwise stage is |days|² per group by contract). The
    * robust sibling of q189's OLS slope: disagreements between the two
    * are exactly the "one wild day" cases q189's doc warns about.
    * Lower-median determinism on both the slope and intercept ranks. */
  val q307TheilSen = Q(
    "q307_theil_sen",
    (s, d) => {
      import s.implicits._
      val ev = Tables.events(s, d).filter($"value".isNotNull)
      val anchor = ev.agg(min(to_date($"ts")).as("_a"))
      val xy = ev.crossJoin(broadcast(anchor))
        .withColumn("x", datediff(to_date($"ts"), $"_a").cast("long"))
        .groupBy($"event_type", $"x")
        .agg(sum(round($"value" * 100).cast("long")).as("y"))
      Analytics.theilSen(xy, "event_type", "x", "y")
        .orderBy($"event_type")
    },
    Some("""WITH a AS (SELECT min(CAST(ts AS DATE)) AS a FROM events),
      xy AS (SELECT event_type AS k,
          CAST(date_diff('day', a.a, CAST(ts AS DATE)) AS BIGINT) AS x,
          CAST(sum(round(value * 100.0)) AS BIGINT) AS y
        FROM events CROSS JOIN a WHERE value IS NOT NULL
        GROUP BY 1, 2),
      sl AS (SELECT p.k, p.x AS x1, q.x AS x2,
          CAST((q.y::HUGEINT - p.y) * 1000000 // (q.x - p.x) AS BIGINT)
            AS slope
        FROM xy p JOIN xy q ON p.k = q.k AND p.x < q.x),
      sm AS (SELECT k, count(*) OVER (PARTITION BY k) AS m, slope,
          row_number() OVER (PARTITION BY k ORDER BY slope, x1, x2)
            AS rk
        FROM sl),
      s1 AS (SELECT k, m AS n_pairs, slope AS slope_ppm FROM sm
        WHERE rk = (m + 1) // 2),
      ic AS (SELECT xy.k, xy.x,
          CAST(xy.y::HUGEINT * 1000000 - s1.slope_ppm::HUGEINT * xy.x
            AS BIGINT) AS ic
        FROM xy JOIN s1 ON xy.k = s1.k),
      im AS (SELECT k, ic, count(*) OVER (PARTITION BY k) AS n,
          row_number() OVER (PARTITION BY k ORDER BY ic, x) AS rk
        FROM ic)
      SELECT im.k AS event_type, n AS n_points, s1.n_pairs,
        s1.slope_ppm, im.ic AS intercept_ppm
      FROM im JOIN s1 ON im.k = s1.k WHERE rk = (n + 1) // 2
      ORDER BY event_type"""),
    doc = "[NS] Theil-Sen pairwise-median slope + intercept, exact lower medians")

  /** [NS] — stratified treatment effect (q310):
    * [[graft.operators.Analytics.stratifiedEffect]] on events — arm =
    * user-id parity (the hash-assignment shape), outcome = value in
    * cents, strata = event type. Emits each stratum's mean difference,
    * the `__naive__` pooled diff, and the `__adjusted__`
    * stratum-weighted ATE — the pair of numbers whose disagreement IS
    * Simpson's paradox (AnalyticsSpec plants a reversal). */
  val q310StratifiedEffect = Q(
    "q310_stratified_effect",
    (s, d) => {
      import s.implicits._
      val ev = Tables.events(s, d)
        .withColumn("tr", $"user_id" % 2 === 0)
        .withColumn("y", round($"value" * 100).cast("long"))
      Analytics.stratifiedEffect(ev, "event_type", "tr", "y")
    },
    Some("""WITH base AS (SELECT event_type AS stratum,
        (user_id % 2 = 0) AS tr,
        CAST(round(value * 100.0) AS BIGINT) AS y
      FROM events WHERE value IS NOT NULL AND user_id IS NOT NULL
        AND event_type IS NOT NULL),
      g AS (SELECT stratum,
          sum(CASE WHEN tr THEN 1 ELSE 0 END)::BIGINT AS n_t,
          sum(CASE WHEN NOT tr THEN 1 ELSE 0 END)::BIGINT AS n_c,
          sum(CASE WHEN tr THEN y ELSE 0 END)::HUGEINT AS st,
          sum(CASE WHEN NOT tr THEN y ELSE 0 END)::HUGEINT AS sc
        FROM base GROUP BY 1),
      s AS (SELECT stratum, n_t, n_c, CAST(st AS BIGINT) AS sum_t,
          CAST(sc AS BIGINT) AS sum_c,
          CASE WHEN n_t > 0 AND n_c > 0 THEN
            CAST((st * n_c - sc * n_t) * 1000000
              // (n_t::HUGEINT * n_c) AS BIGINT) END AS diff_ppm
        FROM g),
      nv AS (SELECT '__naive__' AS stratum, sum(n_t)::BIGINT AS n_t,
          sum(n_c)::BIGINT AS n_c, CAST(sum(st) AS BIGINT) AS sum_t,
          CAST(sum(sc) AS BIGINT) AS sum_c,
          CASE WHEN sum(n_t) > 0 AND sum(n_c) > 0 THEN
            CAST((sum(st) * sum(n_c) - sum(sc) * sum(n_t)) * 1000000
              // (sum(n_t)::HUGEINT * sum(n_c)) AS BIGINT) END
            AS diff_ppm
        FROM g),
      adj AS (SELECT '__adjusted__' AS stratum, sum(n_t)::BIGINT AS n_t,
          sum(n_c)::BIGINT AS n_c, sum(sum_t)::BIGINT AS sum_t,
          sum(sum_c)::BIGINT AS sum_c,
          CASE WHEN sum(n_t + n_c) > 0 THEN
            CAST(sum((n_t + n_c)::HUGEINT * diff_ppm)
              // sum(n_t + n_c) AS BIGINT) END AS diff_ppm
        FROM s WHERE n_t > 0 AND n_c > 0)
      SELECT * FROM s UNION ALL SELECT * FROM nv
      UNION ALL SELECT * FROM adj ORDER BY stratum"""),
    doc = "[NS] per-stratum, naive, and stratum-weighted treatment effects (Simpson-proof ATE)")

  /** [NS] — l-diversity audit (q313):
    * [[graft.operators.Analytics.lDiversity]] over (event_type, day)
    * classes with user_id as the sensitive attribute — the
    * homogeneity-attack readout k-anonymity (q194) can't give:
    * distinct sensitive values per class, dominant-value share, and
    * the l ≥ 3 verdict. Two map-side-combining exchanges. */
  val q313LDiversity = Q(
    "q313_l_diversity",
    (s, d) => {
      import s.implicits._
      val ev = Tables.events(s, d).withColumn("day", to_date($"ts"))
      Analytics.lDiversity(ev, Seq("event_type", "day"), "user_id", 3L)
        .orderBy($"event_type", $"day")
    },
    Some("""WITH cells AS (SELECT event_type, CAST(ts AS DATE) AS day,
        user_id, count(*)::BIGINT AS c
      FROM events WHERE user_id IS NOT NULL GROUP BY 1, 2, 3),
      g AS (SELECT event_type, day, sum(c)::BIGINT AS n,
        count(*)::BIGINT AS l_distinct, max(c) AS top
      FROM cells GROUP BY 1, 2)
      SELECT event_type, day, n, l_distinct,
        CASE WHEN n > 0 THEN (1000000 * top) // n ELSE 0 END
          AS top_share_ppm,
        l_distinct >= 3 AS pass_l
      FROM g ORDER BY event_type, day"""),
    doc = "[NS] distinct l-diversity per QI class: homogeneity-attack audit")

  /** [NS] — Neyman allocation (q320):
    * [[graft.operators.Analytics.neymanAllocation]] of a 500-row
    * sample budget across event types by value dispersion (exact L1
    * form) — the variance-minimizing refinement of q71's proportional
    * stratified sampling: volatile strata get more rows, constant
    * strata get none. Largest-remainder rounding lands exactly on the
    * budget; the oracle replays the identical integer arithmetic. */
  val q320NeymanAllocation = Q(
    "q320_neyman_allocation",
    (s, d) => {
      import s.implicits._
      val ev = Tables.events(s, d)
        .withColumn("y", round($"value" * 100).cast("long"))
      Analytics.neymanAllocation(ev, "event_type", "y", 500L)
        .orderBy($"stratum")
    },
    Some("""WITH b AS (SELECT event_type AS stratum,
        CAST(round(value * 100.0) AS BIGINT) AS x
      FROM events WHERE value IS NOT NULL),
      s AS (SELECT stratum, count(*)::BIGINT AS n_pop,
        sum(x::HUGEINT) AS sx FROM b GROUP BY 1),
      w AS (SELECT b.stratum, max(n_pop) AS n_pop,
          CAST(sum(abs(n_pop::HUGEINT * x - sx)) // max(n_pop)
            AS BIGINT) AS disp_w
        FROM b JOIN s USING (stratum) GROUP BY b.stratum),
      t AS (SELECT sum(disp_w)::HUGEINT AS wtot FROM w),
      a0 AS (SELECT stratum, n_pop, disp_w, wtot,
          CASE WHEN wtot > 0 THEN
            CAST((500::HUGEINT * disp_w) // wtot AS BIGINT)
          ELSE 0 END AS base_n
        FROM w, t),
      a AS (SELECT stratum, n_pop, disp_w, base_n,
          CASE WHEN wtot > 0 THEN
            (500::HUGEINT * disp_w) - (base_n::HUGEINT * wtot)
          ELSE 0::HUGEINT END AS rem
        FROM a0),
      l AS (SELECT sum(base_n)::BIGINT AS btot FROM a),
      r AS (SELECT a.*, 500 - btot AS leftover,
          row_number() OVER (ORDER BY rem DESC, stratum) AS rk
        FROM a, l),
      f AS (SELECT stratum, n_pop, disp_w,
          base_n + CASE WHEN rk <= leftover THEN 1 ELSE 0 END AS prop
        FROM r)
      SELECT stratum, n_pop, disp_w,
        least(prop, n_pop) AS n_alloc,
        CAST((1000000 * least(prop, n_pop)) // 500 AS BIGINT)
          AS alloc_ppm,
        prop > n_pop AS capped
      FROM f ORDER BY stratum"""),
    doc = "[NS] Neyman optimal stratified allocation: dispersion-weighted, largest-remainder exact")

  /** [NS] — contribution-bounding advisor (q324):
    * [[graft.operators.Analytics.contributionBound]] per event type at
    * the 99th percentile — the DP-preprocessing readout: where to clip
    * per-user contributions and how much mass the clip costs, exactly.
    * Completes the privacy family (q194 k-anon, q313 l-diversity,
    * q232 pseudonymization, q316 redaction certificate). */
  val q324ContributionBound = Q(
    "q324_contribution_bound",
    (s, d) => {
      import s.implicits._
      Analytics.contributionBound(Tables.events(s, d), "event_type",
          "user_id", pct = 99)
        .orderBy($"event_type")
    },
    Some("""WITH pu AS (SELECT event_type AS grp, user_id AS usr,
        count(*)::BIGINT AS n_u
      FROM events WHERE user_id IS NOT NULL GROUP BY 1, 2),
      r AS (SELECT grp, usr, n_u,
          row_number() OVER (PARTITION BY grp
            ORDER BY n_u ASC, usr ASC) AS rn,
          count(*) OVER (PARTITION BY grp) AS nu
        FROM pu),
      caps AS (SELECT grp, n_u AS cap_rows FROM r
        WHERE rn = (99 * nu + 99) // 100)
      SELECT pu.grp AS event_type, count(*)::BIGINT AS n_users,
        sum(n_u)::BIGINT AS total_rows, max(n_u) AS max_rows,
        max(cap_rows) AS cap_rows,
        CASE WHEN sum(n_u) > 0 THEN
          CAST((1000000 * sum(greatest(n_u - cap_rows, 0)))
            // sum(n_u) AS BIGINT) ELSE 0 END AS clipped_ppm
      FROM pu JOIN caps USING (grp)
      GROUP BY pu.grp ORDER BY event_type"""),
    doc = "[NS] DP contribution-bounding advisor: exact percentile cap + clipped mass")

  /** [NS] — Kruskal–Wallis H (q328):
    * [[graft.operators.Analytics.kruskalWallis]] of value across the
    * five event types — "does ANY group differ", the k-sample closure
    * of the nonparametric family (q305 KS, q318 Mann–Whitney), with
    * the tie-corrected statistic in exact ppm via doubled midranks. */
  val q328KruskalWallis = Q(
    "q328_kruskal_wallis",
    (s, d) =>
      Analytics.kruskalWallis(Tables.events(s, d), "event_type",
        "value", bucketWidth = 10.0),
    Some("""WITH base AS (SELECT event_type AS g, value AS v
        FROM events WHERE value IS NOT NULL AND event_type IS NOT NULL),
      byv AS (SELECT v, count(*)::BIGINT AS cnt FROM base GROUP BY v),
      mid AS (SELECT v, cnt,
          2 * coalesce(sum(cnt) OVER (ORDER BY v
            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
            + cnt + 1 AS mid2
        FROM byv),
      pg AS (SELECT g, sum(cgv)::BIGINT AS n_j,
          sum(cgv::HUGEINT * mid2) AS r2_j
        FROM (SELECT v, g, count(*)::BIGINT AS cgv FROM base
          GROUP BY v, g) c
        JOIN mid USING (v) GROUP BY g),
      ts AS (SELECT sum(cnt::HUGEINT * cnt * cnt - cnt) AS t3,
        sum(cnt)::BIGINT AS n_total FROM mid),
      agg AS (SELECT count(*)::BIGINT AS n_groups,
          sum((r2_j * r2_j * 1000000) // n_j) AS ss FROM pg),
      fin AS (SELECT n_total, n_groups,
          CASE WHEN n_total > 1 THEN
            CAST(3 * ss // (n_total::HUGEINT * (n_total + 1))
              - 3 * (n_total + 1) * 1000000 AS BIGINT)
          ELSE 0 END AS h_ppm,
          CASE WHEN n_total > 1 THEN
            CAST(1000000 - t3 * 1000000 //
              (n_total::HUGEINT * n_total * n_total - n_total)
              AS BIGINT)
          ELSE 1000000 END AS tie_c_ppm
        FROM agg, ts)
      SELECT n_total, n_groups, h_ppm, tie_c_ppm,
        CASE WHEN tie_c_ppm > 0 THEN
          CAST(h_ppm::HUGEINT * 1000000 // tie_c_ppm AS BIGINT) END
          AS h_corrected_ppm
      FROM fin"""),
    doc = "[NS] Kruskal-Wallis H with tie correction, exact doubled-midrank ppm")

  /** [NS] — Wilcoxon signed-rank (q331):
    * [[graft.operators.Analytics.wilcoxonSignedRank]] on per-user
    * paired means — each user's truncating mean click cents (x)
    * against their mean view cents (y), users with both — the PAIRED
    * "did the same units shift" test closing the nonparametric family
    * (q305/q318/q328). Zero differences drop by the standard
    * convention and are reported. */
  val q331WilcoxonSignedRank = Q(
    "q331_wilcoxon_signed_rank",
    (s, d) => {
      import s.implicits._
      val ev = Tables.events(s, d)
        .withColumn("c", round($"value" * 100).cast("long"))
        .filter($"value".isNotNull && $"user_id".isNotNull)
      def side(t: String, n: String) = ev.filter($"event_type" === t)
        .groupBy($"user_id")
        .agg(expr("sum(cast(c as decimal(38,0))) div count(*)")
          .cast("long").as(n))
      val paired = side("click", "x").join(side("view", "y"),
        Seq("user_id"))
      Analytics.wilcoxonSignedRank(paired, "x", "y",
        bucketWidth = 100.0)
    },
    Some("""WITH ev AS (SELECT user_id, event_type,
        CAST(round(value * 100.0) AS BIGINT) AS c
      FROM events WHERE value IS NOT NULL AND user_id IS NOT NULL),
      xs AS (SELECT user_id,
          CAST(sum(c::HUGEINT) // count(*) AS BIGINT) AS x
        FROM ev WHERE event_type = 'click' GROUP BY user_id),
      ys AS (SELECT user_id,
          CAST(sum(c::HUGEINT) // count(*) AS BIGINT) AS y
        FROM ev WHERE event_type = 'view' GROUP BY user_id),
      p AS (SELECT x - y AS d FROM xs JOIN ys USING (user_id)),
      nz AS (SELECT count(*)::BIGINT AS n_zero FROM p WHERE d = 0),
      bya AS (SELECT abs(d) AS a, count(*)::BIGINT AS cnt,
          sum(CASE WHEN d > 0 THEN 1 ELSE 0 END)::BIGINT AS cpos
        FROM p WHERE d <> 0 GROUP BY abs(d)),
      mid AS (SELECT a, cnt, cpos,
          2 * coalesce(sum(cnt) OVER (ORDER BY a
            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
            + cnt + 1 AS mid2
        FROM bya),
      agg AS (SELECT sum(cnt)::BIGINT AS n_pairs,
          sum(cpos::HUGEINT * mid2) AS wp,
          sum((cnt - cpos)::HUGEINT * mid2) AS wm
        FROM mid)
      SELECT coalesce(n_pairs, 0) AS n_pairs, n_zero,
        CAST(coalesce(wp, 0) AS BIGINT) AS w2_plus,
        CAST(coalesce(wm, 0) AS BIGINT) AS w2_minus,
        CASE WHEN wp + wm > 0 THEN
          CAST((wp - wm) * 1000000 // (wp + wm) AS BIGINT) END
          AS rbc_ppm
      FROM agg, nz"""),
    doc = "[NS] Wilcoxon signed-rank on paired per-user means, exact doubled midranks")

  /** [NS] — McNemar's paired-binary test (q338):
    * [[graft.operators.Analytics.mcnemar]] on per-user click behavior
    * across two halves of the month (clicked in days 1–15 vs days
    * 16–31) — "did the same users flip", the readout an A/B rollout
    * or a model swap on fixed prompts needs. Only discordant users
    * carry signal; the 2×2 table rides along. */
  val q338Mcnemar = Q(
    "q338_mcnemar",
    (s, d) => {
      import s.implicits._
      val ev = Tables.events(s, d)
        .filter($"user_id".isNotNull && $"ts".isNotNull)
      val pairs = ev.groupBy($"user_id")
        .agg(
          (max(when($"event_type" === "click" &&
            dayofmonth($"ts") <= 15, 1).otherwise(0)) === 1).as("x"),
          (max(when($"event_type" === "click" &&
            dayofmonth($"ts") >= 16, 1).otherwise(0)) === 1).as("y"))
      Analytics.mcnemar(pairs, "x", "y")
    },
    Some("""WITH p AS (SELECT user_id,
          max(CASE WHEN event_type = 'click' AND day(ts) <= 15
            THEN 1 ELSE 0 END) = 1 AS x,
          max(CASE WHEN event_type = 'click' AND day(ts) >= 16
            THEN 1 ELSE 0 END) = 1 AS y
        FROM events WHERE user_id IS NOT NULL AND ts IS NOT NULL
        GROUP BY user_id),
      agg AS (SELECT CAST(count(*) AS BIGINT) AS n_pairs,
          CAST(count(CASE WHEN x AND y THEN 1 END) AS BIGINT)
            AS n_both,
          CAST(count(CASE WHEN x AND NOT y THEN 1 END) AS BIGINT)
            AS n_only_x,
          CAST(count(CASE WHEN NOT x AND y THEN 1 END) AS BIGINT)
            AS n_only_y,
          CAST(count(CASE WHEN NOT x AND NOT y THEN 1 END) AS BIGINT)
            AS n_neither
        FROM p)
      SELECT n_pairs, n_both, n_only_x, n_only_y, n_neither,
        CASE WHEN n_only_x + n_only_y > 0 THEN
          CAST((1000000::HUGEINT * (n_only_x - n_only_y) *
            (n_only_x - n_only_y)) // (n_only_x + n_only_y) AS BIGINT)
        END AS chi2_ppm
      FROM agg"""),
    doc = "[NS] McNemar paired-binary test: discordant-cell chi-square, exact ppm")

  /** [NS] — Friedman test (q339):
    * [[graft.operators.Analytics.friedman]] on per-user mean cents by
    * event type — blocks = users seeing ALL five event types,
    * treatments = event types, exact doubled midranks — the k-sample
    * PAIRED member completing the nonparametric 2×2 (q318 MW, q328
    * KW, q331 Wilcoxon). */
  val q339Friedman = Q(
    "q339_friedman",
    (s, d) => {
      import s.implicits._
      val ev = Tables.events(s, d)
        .withColumn("c", round($"value" * 100).cast("long"))
        .filter($"user_id".isNotNull && $"event_type".isNotNull &&
          $"value".isNotNull)
      Analytics.friedman(ev, "user_id", "event_type", "c")
        .orderBy($"treatment")
    },
    Some("""WITH ev AS (SELECT user_id, event_type,
          CAST(round(value * 100.0) AS BIGINT) AS c
        FROM events WHERE user_id IS NOT NULL AND
          event_type IS NOT NULL AND value IS NOT NULL),
      cell AS (SELECT user_id AS b, event_type AS t,
          CAST(sum(c::HUGEINT) // count(*) AS BIGINT) AS v
        FROM ev GROUP BY 1, 2),
      kk AS (SELECT CAST(count(DISTINCT t) AS BIGINT) AS k FROM cell),
      fb AS (SELECT b FROM cell GROUP BY b
        HAVING count(*) = (SELECT k FROM kk)),
      fc AS (SELECT cell.* FROM cell JOIN fb USING (b)),
      rk AS (SELECT b, t, v,
          rank() OVER (PARTITION BY b ORDER BY v) AS r,
          count(*) OVER (PARTITION BY b, v) AS ties
        FROM fc),
      r2 AS (SELECT b, t, 2 * (r - 1) + ties + 1 AS r2 FROM rk),
      pt AS (SELECT t AS treatment, CAST(sum(r2) AS BIGINT) AS r2_sum,
          CAST(count(*) AS BIGINT) AS n_blocks
        FROM r2 GROUP BY 1),
      tt AS (SELECT sum(r2_sum::HUGEINT * r2_sum) AS ss,
          max(n_blocks) AS n FROM pt)
      SELECT treatment, r2_sum, n_blocks, k,
        CASE WHEN n > 0 AND k > 1 THEN
          CAST((3000000::HUGEINT * ss) // (n::HUGEINT * k * (k + 1))
            - 3000000::HUGEINT * n * (k + 1) AS BIGINT)
        END AS q_ppm
      FROM pt, tt, kk ORDER BY treatment"""),
    doc = "[NS] Friedman k-sample paired test, exact doubled midranks per block")

  /** [NS] — Fleiss' kappa (q340):
    * [[graft.operators.Analytics.fleissKappa]] with items = users and
    * each item's three "annotations" = the event types of its first
    * three events (deterministic (ts, event_id) order) — the >2-rater
    * agreement floor for an RLHF labeling operation (q196's Cohen
    * kappa stops at two raters). Single-fraction cleared-denominator
    * kappa in signed truncating ppm. */
  val q340FleissKappa = Q(
    "q340_fleiss_kappa",
    (s, d) => {
      import s.implicits._
      import org.apache.spark.sql.expressions.Window
      val ev = Tables.events(s, d)
        .filter($"user_id".isNotNull && $"event_type".isNotNull)
      val first3 = ev
        .withColumn("_rn", row_number().over(
          Window.partitionBy($"user_id").orderBy($"ts", $"event_id")))
        .filter($"_rn" <= 3)
      val eligible = first3.groupBy($"user_id")
        .agg(count(lit(1)).as("_c")).filter($"_c" === 3)
        .select($"user_id")
      Analytics.fleissKappa(first3.join(eligible, Seq("user_id")),
        "user_id", "event_type", n = 3)
    },
    Some("""WITH ev AS (SELECT user_id, event_type, ts, event_id
        FROM events WHERE user_id IS NOT NULL AND
          event_type IS NOT NULL),
      rn AS (SELECT user_id, event_type, row_number() OVER
          (PARTITION BY user_id ORDER BY ts, event_id) AS rn
        FROM ev),
      f3 AS (SELECT user_id, event_type FROM rn WHERE rn <= 3),
      ok AS (SELECT user_id FROM f3 GROUP BY user_id
        HAVING count(*) = 3),
      r AS (SELECT f3.user_id, f3.event_type FROM f3
        JOIN ok USING (user_id)),
      cells AS (SELECT user_id, event_type,
          CAST(count(*) AS BIGINT) AS nij
        FROM r GROUP BY 1, 2),
      st AS (SELECT sum(nij::HUGEINT * nij) AS s,
          CAST(count(DISTINCT user_id) AS BIGINT) AS items,
          CAST(sum(nij) AS BIGINT) AS t
        FROM cells),
      cj AS (SELECT sum(c2) AS cj2 FROM (SELECT
          sum(nij)::HUGEINT * sum(nij) AS c2
        FROM cells GROUP BY event_type))
      SELECT items AS n_items, CAST(3 AS BIGINT) AS n_raters,
        CASE WHEN t > 0 AND t::HUGEINT * t <> cj2 THEN
          CAST((1000000::HUGEINT * ((s - t) * t - 2 * cj2)) //
            (2 * (t::HUGEINT * t - cj2)) AS BIGINT) END AS kappa_ppm,
        CASE WHEN t > 0 THEN
          CAST((1000000::HUGEINT * (s - t)) // (t::HUGEINT * 2)
            AS BIGINT) END AS pbar_ppm,
        CASE WHEN t > 0 THEN
          CAST((1000000::HUGEINT * cj2) // (t::HUGEINT * t)
            AS BIGINT) END AS pe_ppm
      FROM st, cj"""),
    doc = "[NS] Fleiss' kappa: n-rater categorical agreement, cleared-denominator exact ppm")

  /** [NS] — Cochran's Q (q341):
    * [[graft.operators.Analytics.cochranQ]] on per-user binary
    * "high-value event" flags by event type (value ≥ 50, users
    * observed under all five types) — the k-treatment paired-binary
    * member that squares the nonparametric grid: q318 MW (2,
    * unpaired), q328 KW (k, unpaired), q331 Wilcoxon (2, paired),
    * q339 Friedman (k, paired), q338 McNemar (2, paired-binary), and
    * this (k, paired-binary). */
  val q341CochranQ = Q(
    "q341_cochran_q",
    (s, d) => {
      import s.implicits._
      val ev = Tables.events(s, d)
        .filter($"user_id".isNotNull && $"event_type".isNotNull &&
          $"value".isNotNull)
        .withColumn("hi", $"value" >= 50.0)
      Analytics.cochranQ(ev, "user_id", "event_type", "hi")
        .orderBy($"treatment")
    },
    Some("""WITH ev AS (SELECT user_id, event_type,
          value >= 50.0 AS hi
        FROM events WHERE user_id IS NOT NULL AND
          event_type IS NOT NULL AND value IS NOT NULL),
      cell AS (SELECT user_id AS b, event_type AS t,
          CAST(max(CASE WHEN hi THEN 1 ELSE 0 END) AS BIGINT) AS x
        FROM ev GROUP BY 1, 2),
      kk AS (SELECT CAST(count(DISTINCT t) AS BIGINT) AS k FROM cell),
      fb AS (SELECT b FROM cell GROUP BY b
        HAVING count(*) = (SELECT k FROM kk)),
      fc AS (SELECT cell.* FROM cell JOIN fb USING (b)),
      rw AS (SELECT b, CAST(sum(x) AS BIGINT) AS r FROM fc GROUP BY b),
      ra AS (SELECT CAST(sum(r) AS BIGINT) AS tt,
          sum(r::HUGEINT * r) AS rr FROM rw),
      pt AS (SELECT t AS treatment, CAST(sum(x) AS BIGINT) AS c_j,
          CAST(count(*) AS BIGINT) AS n_blocks
        FROM fc GROUP BY 1),
      ca AS (SELECT sum(c_j::HUGEINT * c_j) AS cc FROM pt)
      SELECT treatment, c_j, n_blocks, k,
        CASE WHEN k * tt - rr <> 0 THEN
          CAST((1000000::HUGEINT * (k - 1) *
            (k * cc - tt::HUGEINT * tt)) //
            (k * tt::HUGEINT - rr) AS BIGINT) END AS q_ppm
      FROM pt, ra, ca, kk ORDER BY treatment"""),
    doc = "[NS] Cochran's Q: k-treatment paired-binary test, cleared-denominator exact ppm")

  /** [NS] — Page's trend test (q345):
    * [[graft.operators.Analytics.pageTrend]] on the q339 blocks with
    * the alphabetical event-type order as the a-priori hypothesis —
    * the ordered-alternative PAIRED member: Friedman's Q says "some
    * treatment differs", Page's L says whether they trend in the
    * hypothesized order. Exact doubled ranks, exact integer E[L2]. */
  val q345PageTrend = Q(
    "q345_page_trend",
    (s, d) => {
      import s.implicits._
      val ev = Tables.events(s, d)
        .withColumn("c", round($"value" * 100).cast("long"))
        .filter($"user_id".isNotNull && $"event_type".isNotNull &&
          $"value".isNotNull)
      Analytics.pageTrend(ev, "user_id", "event_type", "c",
        order = Seq("click", "error", "purchase", "signup", "view"))
        .orderBy($"treatment")
    },
    Some("""WITH ev AS (SELECT user_id, event_type,
          CAST(round(value * 100.0) AS BIGINT) AS c
        FROM events WHERE user_id IS NOT NULL AND
          event_type IS NOT NULL AND value IS NOT NULL),
      ord AS (SELECT * FROM (VALUES ('click', 1), ('error', 2),
          ('purchase', 3), ('signup', 4), ('view', 5)) o(t, j)),
      cell AS (SELECT user_id AS b, event_type AS t,
          CAST(sum(c::HUGEINT) // count(*) AS BIGINT) AS v
        FROM ev WHERE event_type IN (SELECT t FROM ord)
        GROUP BY 1, 2),
      kk AS (SELECT CAST(count(DISTINCT t) AS BIGINT) AS k FROM cell),
      fb AS (SELECT b FROM cell GROUP BY b
        HAVING count(*) = (SELECT k FROM kk)),
      fc AS (SELECT cell.* FROM cell JOIN fb USING (b)),
      rk AS (SELECT b, t, v,
          rank() OVER (PARTITION BY b ORDER BY v) AS r,
          count(*) OVER (PARTITION BY b, v) AS ties
        FROM fc),
      r2 AS (SELECT b, t, 2 * (r - 1) + ties + 1 AS r2 FROM rk),
      pt AS (SELECT r2.t AS treatment, CAST(ord.j AS BIGINT) AS j,
          CAST(sum(r2.r2) AS BIGINT) AS r2_sum,
          CAST(count(*) AS BIGINT) AS n_blocks
        FROM r2 JOIN ord ON ord.t = r2.t GROUP BY 1, 2),
      tt AS (SELECT sum(j::HUGEINT * r2_sum) AS l2,
          max(n_blocks) AS n FROM pt)
      SELECT treatment, j, r2_sum, n_blocks, k,
        CAST(l2 AS BIGINT) AS l2,
        CAST((n::HUGEINT * k * (k + 1) * (k + 1)) // 2 AS BIGINT)
          AS e_l2,
        l2 > (n::HUGEINT * k * (k + 1) * (k + 1)) // 2 AS trend_agrees
      FROM pt, tt, kk ORDER BY treatment"""),
    doc = "[NS] Page's L trend test: ordered-alternative Friedman, exact doubled ranks")

  /** [NS] — Jonckheere–Terpstra (q346):
    * [[graft.operators.Analytics.jonckheereTerpstra]] on per-event
    * cents by event type under the alphabetical order — the
    * ordered-alternative UNPAIRED member (q328's KW asks "any
    * difference"); doubled pairwise Mann–Whitney U's summed over
    * ordered group pairs, value-collapsed (histograms + one prefix
    * window — never row-pairs), exact integer null expectation. */
  val q346Jonckheere = Q(
    "q346_jonckheere",
    (s, d) => {
      import s.implicits._
      val ev = Tables.events(s, d)
        .withColumn("c", round($"value" * 100).cast("long"))
        .filter($"event_type".isNotNull && $"value".isNotNull)
      Analytics.jonckheereTerpstra(ev, "event_type", "c",
        order = Seq("click", "error", "purchase", "signup", "view"))
    },
    Some("""WITH ord AS (SELECT * FROM (VALUES ('click', 1),
          ('error', 2), ('purchase', 3), ('signup', 4), ('view', 5))
          o(g, o)),
      ev AS (SELECT event_type AS g,
          CAST(round(value * 100.0) AS BIGINT) AS v
        FROM events WHERE event_type IS NOT NULL AND value IS NOT NULL),
      hist AS (SELECT g, o, v, CAST(count(*) AS BIGINT) AS c
        FROM ev JOIN ord USING (g) GROUP BY 1, 2, 3),
      allv AS (SELECT DISTINCT v FROM hist),
      grid AS (SELECT ord.g, ord.o, allv.v,
          coalesce(h.c, 0) AS c
        FROM allv CROSS JOIN ord
        LEFT JOIN hist h ON h.g = ord.g AND h.v = allv.v),
      pre AS (SELECT g, o, v, c,
          coalesce(sum(c) OVER (PARTITION BY g ORDER BY v
            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
            AS lessc
        FROM grid),
      jj AS (SELECT coalesce(sum(i.c::HUGEINT *
            (2 * j.lessc + j.c)), 0) AS j2
        FROM hist i JOIN pre j ON i.v = j.v AND i.o > j.o),
      sz AS (SELECT CAST(sum(n) AS BIGINT) AS nt,
          sum(n::HUGEINT * n) AS nn, CAST(count(*) AS BIGINT) AS k
        FROM (SELECT g, sum(c) AS n FROM hist GROUP BY g))
      SELECT nt AS n_total, k, CAST(j2 AS BIGINT) AS j2,
        CAST((nt::HUGEINT * nt - nn) // 2 AS BIGINT) AS e_j2,
        j2 > (nt::HUGEINT * nt - nn) // 2 AS trend_agrees
      FROM sz, jj"""),
    doc = "[NS] Jonckheere-Terpstra ordered k-sample trend, doubled U, value-collapsed")

  /** [NS] — rendezvous-hash shard balance
    * ([[graft.operators.Shard.rendezvousAssign]]): the corpus routed to
    * 8 shards by HRW argmax, audited per shard (docs, char mass, doc
    * share in exact ppm). The placement is pure per-row arithmetic —
    * no lookup table, no shuffle beyond the 8-key audit aggregate —
    * and the oracle recomputes every md5 argmax from scratch, so this
    * row certifies the placement FUNCTION, not a snapshot of it. */
  val q378HrwShardBalance = Q(
    "q378_hrw_shard_balance",
    (s, d) => {
      import s.implicits._
      Shard.rendezvousAssign(Tables.documents(s, d), "doc_id", 8)
        .groupBy($"shard")
        .agg(count(lit(1)).as("n_docs"),
          sum($"n_chars").as("n_chars"))
        .withColumn("share_ppm",
          expr("(1000000 * n_docs) div sum(n_docs) over ()"))
        .orderBy($"shard")
    },
    Some("""WITH sh AS (SELECT range AS s FROM range(0, 8)),
      h AS (SELECT doc_id, n_chars, s,
          md5(doc_id::VARCHAR || ':' || s::VARCHAR) AS hv
        FROM documents CROSS JOIN sh),
      a AS (SELECT doc_id, arg_max(s, hv) AS shard, min(n_chars) AS nc
        FROM h GROUP BY doc_id),
      g AS (SELECT shard, CAST(count(*) AS BIGINT) AS n_docs,
          CAST(sum(nc) AS BIGINT) AS n_chars
        FROM a GROUP BY shard)
      SELECT shard, n_docs, n_chars,
        CAST((1000000 * n_docs) // sum(n_docs) OVER () AS BIGINT)
          AS share_ppm
      FROM g ORDER BY shard"""),
    doc = "[NS] rendezvous-hash shard assignment + balance audit")

  /** [NS] — minimal-movement reshard certificate
    * ([[graft.operators.Shard.reshardCertificate]]): growing 8→10
    * shards under HRW. `expected_moved_ppm` = 2/10 of the corpus (the
    * floor any placement must pay for the capacity change);
    * `illegal_moves` counts rows that moved between two SURVIVING
    * shards — zero by the HRW argmax theorem, and this query makes the
    * theorem a counted certificate. The modulo-hash alternative would
    * read moved_ppm ≈ 900000 here; HRW reads ≈ 200000. */
  val q379ReshardCertificate = Q(
    "q379_reshard_certificate",
    (s, d) => Shard.reshardCertificate(
      Tables.documents(s, d), "doc_id", 8, 10),
    Some("""WITH sh AS (SELECT range AS s FROM range(0, 10)),
      h AS (SELECT doc_id, s,
          md5(doc_id::VARCHAR || ':' || s::VARCHAR) AS hv
        FROM documents CROSS JOIN sh),
      a8 AS (SELECT doc_id, arg_max(s, hv) AS f FROM h WHERE s < 8
        GROUP BY doc_id),
      a10 AS (SELECT doc_id, arg_max(s, hv) AS t FROM h GROUP BY doc_id),
      j AS (SELECT f, t FROM a8 JOIN a10 USING (doc_id))
      SELECT CAST(count(*) AS BIGINT) AS n_total,
        CAST(sum(CASE WHEN f <> t THEN 1 ELSE 0 END) AS BIGINT)
          AS n_moved,
        CAST((1000000 * sum(CASE WHEN f <> t THEN 1 ELSE 0 END))
          // count(*) AS BIGINT) AS moved_ppm,
        CAST(200000 AS BIGINT) AS expected_moved_ppm,
        CAST(sum(CASE WHEN f <> t AND f < 8 AND t < 8 THEN 1 ELSE 0 END)
          AS BIGINT) AS illegal_moves
      FROM j"""),
    doc = "[NS] HRW reshard 8->10: minimal-movement certificate")

  /** [NS] — weighted HRW balance
    * ([[graft.operators.Shard.rendezvousAssignWeighted]]): shards with
    * capacities (1,2,3,2) — heterogeneous hardware/storage tiers — get
    * load proportional to weight via virtual nodes (shard s owns w_s
    * independently-scored vnodes). Per shard: docs, char mass, the
    * weight's entitlement in ppm vs the measured share in ppm — the
    * proportionality audit. The placement stays one codegen'd
    * projection (Σw md5 calls + argmax + a literal vnode→shard
    * lookup). */
  val q381WeightedShardBalance = Q(
    "q381_weighted_shard_balance",
    (s, d) => {
      import s.implicits._
      Shard.rendezvousAssignWeighted(Tables.documents(s, d), "doc_id",
          Seq(1, 2, 3, 2))
        .groupBy($"shard")
        .agg(count(lit(1)).as("n_docs"), sum($"n_chars").as("n_chars"))
        .withColumn("weight",
          expr("element_at(array(1L,2L,3L,2L), cast(shard as int) + 1)"))
        .withColumn("weight_ppm", expr("(1000000 * weight) div 8"))
        .withColumn("share_ppm",
          expr("(1000000 * n_docs) div sum(n_docs) over ()"))
        .orderBy($"shard")
    },
    Some("""WITH vn(s, v) AS (VALUES (0,0),(1,0),(1,1),(2,0),(2,1),
        (2,2),(3,0),(3,1)),
      h AS (SELECT doc_id, n_chars, s,
          md5(doc_id::VARCHAR || ':' || s::VARCHAR || '#' || v::VARCHAR)
            AS hv
        FROM documents CROSS JOIN vn),
      a AS (SELECT doc_id, arg_max(s, hv) AS shard, min(n_chars) AS nc
        FROM h GROUP BY doc_id),
      g AS (SELECT shard, CAST(count(*) AS BIGINT) AS n_docs,
          CAST(sum(nc) AS BIGINT) AS n_chars
        FROM a GROUP BY shard),
      w(ws, weight) AS (VALUES (0, 1), (1, 2), (2, 3), (3, 2))
      SELECT CAST(g.shard AS BIGINT) AS shard, n_docs, n_chars,
        CAST(weight AS BIGINT) AS weight,
        CAST((1000000 * weight) // 8 AS BIGINT) AS weight_ppm,
        CAST((1000000 * n_docs) // sum(n_docs) OVER () AS BIGINT)
          AS share_ppm
      FROM g JOIN w ON w.ws = g.shard ORDER BY g.shard"""),
    doc = "[NS] weighted HRW (vnodes): load proportional to capacity")

  /** [NS] — capacity-upgrade certificate
    * ([[graft.operators.Shard.reweightCertificate]]): shard 3's weight
    * 2→4 (new hardware) under weighted HRW. Movement floor = new-vnode
    * wins that actually change shard: (2/10)·(6/8) = 150000 ppm — a
    * new vnode winning a row shard 3 already held is NOT a move, which
    * the naive 2/10 floor overcounts (measured: the corpus reads
    * ~152000); `illegal_moves` counts movers NOT landing on the
    * up-weighted shard — zero because only shard 3's new vnodes can
    * win anything new. The q379 theorem extended to capacity changes:
    * at 100 TB, upgrading one node's disks ships only the rows that
    * node is entitled to gain. */
  val q382ReweightCertificate = Q(
    "q382_reweight_certificate",
    (s, d) => Shard.reweightCertificate(Tables.documents(s, d),
      "doc_id", Seq(1, 2, 3, 2), Seq(1, 2, 3, 4)),
    Some("""WITH vn(s, v) AS (VALUES (0,0),(1,0),(1,1),(2,0),(2,1),
        (2,2),(3,0),(3,1),(3,2),(3,3)),
      h AS (SELECT doc_id, s, v,
          md5(doc_id::VARCHAR || ':' || s::VARCHAR || '#' || v::VARCHAR)
            AS hv
        FROM documents CROSS JOIN vn),
      b AS (SELECT doc_id, arg_max(s, hv) AS f FROM h
        WHERE NOT (s = 3 AND v >= 2) GROUP BY doc_id),
      a2 AS (SELECT doc_id, arg_max(s, hv) AS t FROM h GROUP BY doc_id),
      j AS (SELECT f, t FROM b JOIN a2 USING (doc_id))
      SELECT CAST(count(*) AS BIGINT) AS n_total,
        CAST(sum(CASE WHEN f <> t THEN 1 ELSE 0 END) AS BIGINT)
          AS n_moved,
        CAST((1000000 * sum(CASE WHEN f <> t THEN 1 ELSE 0 END))
          // count(*) AS BIGINT) AS moved_ppm,
        CAST(150000 AS BIGINT) AS expected_moved_ppm,
        CAST(sum(CASE WHEN f <> t AND t <> 3 THEN 1 ELSE 0 END)
          AS BIGINT) AS illegal_moves
      FROM j"""),
    doc = "[NS] weighted HRW capacity upgrade: targeted-movement certificate")

  /** [NS] — CBO selectivity audit
    * ([[graft.operators.Analytics.selectivityAudit]]): the equi-depth
    * histogram (q156's ANALYZE pass) used the way an optimizer uses
    * it — estimate a range predicate's selectivity by
    * uniform-within-bucket interpolation — next to the measured truth,
    * in one row with the signed error in ppm. The histogram prices
    * every future range predicate for one rank sort; this audit
    * measures what that pricing is worth on the real corpus instead of
    * trusting the uniformity assumption. Exact micro-row arithmetic
    * (`(c·10⁶·overlap) div span`), replayed verbatim by the oracle. */
  val q383SelectivityAudit = Q(
    "q383_selectivity_audit",
    (s, d) => Analytics.selectivityAudit(Tables.lineitem(s, d),
      "l_partkey", Seq("l_orderkey", "l_linenumber"), 16, 100L, 300L),
    Some("""WITH r AS (SELECT l_partkey AS v,
          row_number() OVER (ORDER BY l_partkey, l_orderkey,
            l_linenumber) - 1 AS rk
        FROM lineitem),
      nn AS (SELECT count(*) AS n FROM lineitem),
      hb AS (SELECT (rk * 16) // nn.n AS bucket, count(*) AS c,
          min(v) AS blo, max(v) AS bhi
        FROM r, nn GROUP BY 1),
      e AS (SELECT CAST(sum(c) AS BIGINT) AS n_rows,
          CAST(count(*) AS BIGINT) AS n_buckets,
          sum(CASE WHEN least(bhi, 300) >= greatest(blo, 100)
            THEN (c * 1000000 * (least(bhi, 300) - greatest(blo, 100)
              + 1)) // (bhi - blo + 1)
            ELSE 0 END) AS em
        FROM hb),
      a AS (SELECT CAST(count(*) AS BIGINT) AS actual_rows
        FROM lineitem WHERE l_partkey BETWEEN 100 AND 300)
      SELECT n_rows, n_buckets,
        CAST(em // 1000000 AS BIGINT) AS est_rows,
        CAST(em // n_rows AS BIGINT) AS est_ppm,
        actual_rows,
        CAST((1000000 * actual_rows) // n_rows AS BIGINT) AS actual_ppm,
        CAST(em // n_rows - (1000000 * actual_rows) // n_rows
          AS BIGINT) AS err_ppm
      FROM e, a"""),
    doc = "[NS] equi-depth-histogram selectivity estimate vs measured truth")

  /** [NS] — System R join-cardinality audit
    * ([[graft.operators.Analytics.joinCardinalityAudit]]): the
    * textbook NDV estimate \|L\|·\|R\|/max(ndv) vs the exact join size
    * Σ c_L(k)·c_R(k), on the self-join of `documents` over `lang` —
    * the skewed-key case the uniform-frequency assumption undercounts
    * (est_over_actual_ppm ≈ 740000 here: the estimate sees only 74% of
    * the real output). The exact side is computed from per-key counts;
    * the join is never materialized, so auditing an arbitrarily large
    * join output costs two aggregates and a key-sized equi-join. */
  val q384JoinCardAudit = Q(
    "q384_join_card_audit",
    (s, d) => Analytics.joinCardinalityAudit(
      Tables.documents(s, d), "lang", Tables.documents(s, d), "lang"),
    Some("""WITH c AS (SELECT lang, count(*) AS cc FROM documents
        GROUP BY 1),
      t AS (SELECT CAST(count(*) AS BIGINT) AS n,
          CAST(count(DISTINCT lang) AS BIGINT) AS ndv FROM documents),
      a AS (SELECT sum(cc::HUGEINT * cc) AS act FROM c)
      SELECT n AS n_left, n AS n_right, ndv AS ndv_left,
        ndv AS ndv_right,
        CAST((n::HUGEINT * n) // greatest(ndv, ndv) AS BIGINT)
          AS est_rows,
        CAST(act AS BIGINT) AS actual_rows,
        CAST((1000000 * ((n::HUGEINT * n) // greatest(ndv, ndv)))
          // act AS BIGINT) AS est_over_actual_ppm
      FROM t, a"""),
    doc = "[NS] NDV join-size estimate vs exact, skew gap priced")

  /** [NS] — independence-assumption audit
    * ([[graft.operators.Analytics.independenceAudit]]): every CBO
    * prices `A AND B` as P(A)·P(B); on `documents` the pair
    * n_chars ≥ 300 / length(text) ≥ 200 is perfectly nested (n_chars
    * IS the text length), so the measured conjunction exceeds the
    * independence estimate by lift ≈ 1.42 — the correlated-columns
    * trap that picks a wrong join order three operators downstream,
    * measured in one scan and one aggregate row. */
  val q385IndependenceAudit = Q(
    "q385_independence_audit",
    (s, d) => Analytics.independenceAudit(Tables.documents(s, d),
      col("n_chars") >= 300, length(col("text")) >= 200),
    Some("""SELECT CAST(count(*) AS BIGINT) AS n_rows,
        CAST(sum(CASE WHEN n_chars >= 300 THEN 1 ELSE 0 END) AS BIGINT)
          AS n_a,
        CAST(sum(CASE WHEN length(text) >= 200 THEN 1 ELSE 0 END)
          AS BIGINT) AS n_b,
        CAST(sum(CASE WHEN n_chars >= 300 AND length(text) >= 200
          THEN 1 ELSE 0 END) AS BIGINT) AS n_ab,
        CAST((1000000 * sum(CASE WHEN n_chars >= 300 THEN 1 ELSE 0 END))
          // count(*) AS BIGINT) AS a_ppm,
        CAST((1000000 * sum(CASE WHEN length(text) >= 200 THEN 1
          ELSE 0 END)) // count(*) AS BIGINT) AS b_ppm,
        CAST(((1000000 * sum(CASE WHEN n_chars >= 300 THEN 1 ELSE 0
            END)) // count(*))
          * ((1000000 * sum(CASE WHEN length(text) >= 200 THEN 1 ELSE 0
            END)) // count(*)) // 1000000 AS BIGINT) AS indep_est_ppm,
        CAST((1000000 * sum(CASE WHEN n_chars >= 300 AND length(text)
          >= 200 THEN 1 ELSE 0 END)) // count(*) AS BIGINT)
          AS actual_ppm,
        CAST(CASE WHEN sum(CASE WHEN n_chars >= 300 THEN 1 ELSE 0 END)
            > 0 AND sum(CASE WHEN length(text) >= 200 THEN 1 ELSE 0
            END) > 0 THEN
          (1000000 * sum(CASE WHEN n_chars >= 300 AND length(text) >=
            200 THEN 1 ELSE 0 END)::HUGEINT * count(*))
          // (sum(CASE WHEN n_chars >= 300 THEN 1 ELSE 0 END)::HUGEINT
            * sum(CASE WHEN length(text) >= 200 THEN 1 ELSE 0 END))
          END AS BIGINT) AS lift_ppm
      FROM documents"""),
    doc = "[NS] conjunction selectivity: independence estimate vs measured")

  /** [NS] — stale-statistics audit
    * ([[graft.operators.Analytics.selectivityAuditStale]]): the q383
    * estimate with the histogram built on the pre-1997 snapshot and
    * the truth measured on the full corpus — the production regression
    * where nobody re-ran ANALYZE after ingest moved on. The 1997
    * ship-year predicate lies entirely beyond the stale histogram's
    * top bucket, so the optimizer's estimate collapses to 0 rows while
    * the corpus actually holds a year of them (err_ppm ≈ −120000): the
    * measured case for histogram-refresh triggers (q176's drift
    * monitor is the upstream signal). */
  val q386StaleStatsAudit = Q(
    "q386_stale_stats_audit",
    (s, d) => {
      import s.implicits._
      val li = Tables.lineitem(s, d).withColumn("v",
        datediff($"l_shipdate".cast("date"),
          lit("1995-01-01").cast("date")).cast("long"))
      Analytics.selectivityAuditStale(li.filter($"v" < 731), li, "v",
        Seq("l_orderkey", "l_linenumber"), 16, 731L, 1095L)
    },
    Some("""WITH base AS (SELECT date_diff('day', DATE '1995-01-01',
          CAST(l_shipdate AS DATE)) AS v, l_orderkey, l_linenumber
        FROM lineitem),
      st AS (SELECT * FROM base WHERE v < 731),
      r AS (SELECT v, row_number() OVER (ORDER BY v, l_orderkey,
          l_linenumber) - 1 AS rk FROM st),
      nn AS (SELECT count(*) AS n FROM st),
      hb AS (SELECT (rk * 16) // nn.n AS bucket, count(*) AS c,
          min(v) AS blo, max(v) AS bhi
        FROM r, nn GROUP BY 1),
      e AS (SELECT CAST(sum(c) AS BIGINT) AS n_stats,
          sum(CASE WHEN least(bhi, 1095) >= greatest(blo, 731)
            THEN (c * 1000000 * (least(bhi, 1095) - greatest(blo, 731)
              + 1)) // (bhi - blo + 1)
            ELSE 0 END) AS em
        FROM hb),
      t AS (SELECT CAST(count(*) AS BIGINT) AS n_rows,
          CAST(sum(CASE WHEN v BETWEEN 731 AND 1095 THEN 1 ELSE 0 END)
            AS BIGINT) AS actual_rows
        FROM base)
      SELECT n_stats, n_rows,
        CAST(em // n_stats AS BIGINT) AS est_ppm,
        CAST(((em // n_stats) * n_rows) // 1000000 AS BIGINT)
          AS est_rows,
        actual_rows,
        CAST((1000000 * actual_rows) // n_rows AS BIGINT) AS actual_ppm,
        CAST(em // n_stats - (1000000 * actual_rows) // n_rows
          AS BIGINT) AS err_ppm
      FROM e, t"""),
    doc = "[NS] stale ANALYZE stats: pre-1997 histogram vs 1997 predicate truth")

  /** [NS] — sample-NDV audit
    * ([[graft.operators.Analytics.ndvEstimateAudit]]): Chao1
    * species-richness estimate of l_partkey's NDV from a deterministic
    * 20% md5 row sample, vs the exact COUNT(DISTINCT). Sample-based
    * NDV is how every engine's ANALYZE prices DISTINCT/GROUP BY
    * memory, and it is provably unreliable in the worst case (Charikar
    * et al. 2000) — so the estimate ships WITH its measured error on
    * this corpus instead of a trust-me bound. Both engines draw the
    * byte-identical sample (md5 row hash mod 10⁶). */
  val q387NdvSampleAudit = Q(
    "q387_ndv_sample_audit",
    (s, d) => Analytics.ndvEstimateAudit(Tables.lineitem(s, d),
      "l_partkey", Seq("l_orderkey", "l_linenumber"), 200000),
    Some("""WITH samp AS (SELECT l_partkey FROM lineitem
        WHERE CAST('0x' || substr(md5(l_orderkey::VARCHAR || ':' ||
          l_linenumber::VARCHAR), 1, 8) AS BIGINT) % 1000000 < 200000),
      kc AS (SELECT l_partkey, count(*) AS c FROM samp GROUP BY 1),
      fs AS (SELECT CAST(count(*) AS BIGINT) AS d_sample,
          CAST(sum(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS BIGINT) AS f1,
          CAST(sum(CASE WHEN c = 2 THEN 1 ELSE 0 END) AS BIGINT) AS f2,
          CAST(sum(c) AS BIGINT) AS sample_rows
        FROM kc),
      ex AS (SELECT CAST(count(*) AS BIGINT) AS n_rows,
          CAST(count(DISTINCT l_partkey) AS BIGINT) AS ndv_exact
        FROM lineitem)
      SELECT n_rows, sample_rows, d_sample, f1, f2,
        CAST(d_sample + (f1 * (f1 - 1)) // (2 * (f2 + 1)) AS BIGINT)
          AS ndv_est,
        ndv_exact,
        CAST((1000000 * (d_sample + (f1 * (f1 - 1)) // (2 * (f2 + 1))))
          // ndv_exact AS BIGINT) AS est_over_exact_ppm
      FROM fs, ex"""),
    doc = "[NS] Chao1 sample-NDV estimate vs exact distinct count")

  /** [NS] — CMS join-size estimate audit
    * ([[graft.operators.Analytics.cmsJoinSizeAudit]]): the AMS/CMS
    * inner-product estimator — per sketch depth Σ_cells cnt_L·cnt_R,
    * min over depths — vs the exact Σ_k c_L(k)·c_R(k), on the events
    * self-join over user_id. Two mergeable d×w sketches (q135's
    * running shape) answer "how big is this join" for ANY candidate
    * join at planning time without touching the inputs; the estimate
    * can only overcount (collisions add mass), and `guarantee_holds`
    * makes that theorem a checked column. */
  val q388CmsJoinSize = Q(
    "q388_cms_join_size",
    (s, d) => Analytics.cmsJoinSizeAudit(Tables.events(s, d), "user_id",
      Tables.events(s, d), "user_id", 4, 256),
    Some("""WITH hs AS (SELECT unnest(range(4)) AS h),
      sk AS (SELECT h, CAST('0x' || substr(md5(h::VARCHAR || ':' ||
            user_id::VARCHAR), 1, 8) AS BIGINT) % 256 AS cell,
          count(*) AS cnt
        FROM events CROSS JOIN hs GROUP BY 1, 2),
      ip AS (SELECT h, sum(cnt::HUGEINT * cnt) AS v FROM sk GROUP BY h),
      est AS (SELECT min(coalesce(ip.v, 0)) AS e
        FROM hs LEFT JOIN ip ON ip.h = hs.h),
      c AS (SELECT user_id, count(*) AS cc FROM events GROUP BY 1),
      a AS (SELECT sum(cc::HUGEINT * cc) AS act FROM c)
      SELECT CAST(e AS BIGINT) AS est_rows,
        CAST(act AS BIGINT) AS actual_rows,
        CAST(e - act AS BIGINT) AS overcount,
        CAST((1000000 * e) // act AS BIGINT) AS est_over_actual_ppm,
        e >= act AS guarantee_holds
      FROM est, a"""),
    doc = "[NS] CMS inner-product join-size estimate vs exact, never-undercount certified")

  /** [NS] — stored statistics artifact, serve path
    * ([[graft.operators.StatsIndex]]): the events table's ANALYZE
    * sketch built ONCE (fingerprinted — repeats skip the scan), then
    * q388's join sizing served from the STORED d×w cells — the events
    * table appears nowhere in the serve plan. The oracle recomputes
    * sketch + inner product from scratch, certifying stored ≡
    * in-query. At 100 TB this is planning-time join sizing for any
    * candidate join from two 4×256-row tables. */
  val q389StatsIndexServe = Q(
    "q389_stats_index_serve",
    (s, d) => {
      val dir = graft.operators.StatsIndex.defaultDir(d + "#stats_serve")
      graft.operators.StatsIndex.buildIfAbsent(Tables.events(s, d),
        "user_id", dir, 4, 256, d + "#stats_serve")
      graft.operators.StatsIndex.servedJoinSize(s, dir, dir, 4, 256)
    },
    Some("""WITH hs AS (SELECT unnest(range(4)) AS h),
      sk AS (SELECT h, CAST('0x' || substr(md5(h::VARCHAR || ':' ||
            user_id::VARCHAR), 1, 8) AS BIGINT) % 256 AS cell,
          count(*) AS cnt
        FROM events CROSS JOIN hs GROUP BY 1, 2),
      ip AS (SELECT h, sum(cnt::HUGEINT * cnt) AS v FROM sk GROUP BY h),
      est AS (SELECT min(coalesce(ip.v, 0)) AS e
        FROM hs LEFT JOIN ip ON ip.h = hs.h),
      n AS (SELECT CAST(count(*) AS BIGINT) AS nn FROM events)
      SELECT CAST(e AS BIGINT) AS est_rows, nn AS n_left, nn AS n_right
      FROM est, n"""),
    doc = "[NS] stored-ANALYZE join sizing: zero corpus scans in the serve plan")

  /** [NS] — stored statistics incremental merge: the sketch built on
    * half the events (even event_id), the other half folded in by
    * cell sum ([[graft.operators.StatsIndex.mergeBatch]] — batch-sized,
    * never a re-scan of the archive), then top-20 user frequencies
    * served from the merged cells. Oracle: the full-corpus sketch
    * estimates from scratch — merge ≡ rebuild at the statistics
    * artifact, the law that makes nightly re-ANALYZE unnecessary. */
  val q390StatsIndexMerge = Q(
    "q390_stats_index_merge",
    (s, d) => {
      import s.implicits._
      val ev = Tables.events(s, d)
      val dir = graft.operators.StatsIndex.defaultDir(d + "#stats_merge")
      graft.operators.Generation.withFingerprint(dir, d + "#stats_merge") {
        graft.operators.StatsIndex.build(
          ev.filter($"event_id" % 2 === 0), "user_id", dir, 4, 256)
        graft.operators.StatsIndex.mergeBatch(s,
          ev.filter($"event_id" % 2 === 1), "user_id", dir, 4, 256)
      }
      val probes = ev.groupBy($"user_id")
        .agg(count(lit(1)).as("true_cnt"))
        .orderBy($"true_cnt".desc, $"user_id").limit(20)
      graft.operators.StatsIndex.servedFreq(s, probes, "user_id",
          dir, 4, 256)
        .withColumn("overcount", $"est" - $"true_cnt")
        .orderBy($"user_id")
    },
    Some("""WITH tf AS (SELECT user_id, CAST(count(*) AS BIGINT)
          AS true_cnt FROM events GROUP BY user_id),
      probes AS (SELECT user_id, true_cnt FROM tf
        ORDER BY true_cnt DESC, user_id LIMIT 20),
      hs AS (SELECT unnest(range(4)) AS h),
      sk AS (SELECT h, CAST('0x' || substr(md5(h::VARCHAR || ':' ||
            user_id::VARCHAR), 1, 8) AS BIGINT) % 256 AS cell,
          CAST(count(*) AS BIGINT) AS cnt
        FROM events CROSS JOIN hs GROUP BY 1, 2),
      pc AS (SELECT p.user_id, p.true_cnt, hs.h,
          CAST('0x' || substr(md5(hs.h::VARCHAR || ':' ||
            p.user_id::VARCHAR), 1, 8) AS BIGINT) % 256 AS cell
        FROM probes p CROSS JOIN hs)
      SELECT pc.user_id AS user_id, pc.true_cnt,
        min(coalesce(s.cnt, 0)) AS est,
        min(coalesce(s.cnt, 0)) - pc.true_cnt AS overcount
      FROM pc LEFT JOIN sk s ON s.h = pc.h AND s.cell = pc.cell
      GROUP BY pc.user_id, pc.true_cnt
      ORDER BY user_id"""),
    doc = "[NS] stored-ANALYZE incremental merge == full rebuild (served)")

  /** [NS] — stored statistics forget certificate: sketch built on ALL
    * events, the user_id ≡ 0 (mod 9) cohort's rows FORGOTTEN
    * ([[graft.operators.StatsIndex.removeBatch]] — exact cell
    * decrement under the subset guard), then remaining-user
    * frequencies served from the decremented cells. Oracle: the
    * sketch recomputed over the REMAINING rows only — forget ≡
    * rebuild at the statistics artifact, so a purged user's traffic
    * stops shaping the planner's estimates too (the RTBF long tail:
    * statistics are also derived data). */
  val q391StatsIndexForget = Q(
    "q391_stats_index_forget",
    (s, d) => {
      import s.implicits._
      val ev = Tables.events(s, d)
      val dir = graft.operators.StatsIndex.defaultDir(d + "#stats_forget")
      graft.operators.Generation.withFingerprint(dir, d + "#stats_forget") {
        graft.operators.StatsIndex.build(ev, "user_id", dir, 4, 256)
        graft.operators.StatsIndex.removeBatch(s,
          ev.filter($"user_id" % 9 === 0), "user_id", dir, 4, 256)
      }
      val remaining = ev.filter($"user_id" % 9 =!= 0)
      val probes = remaining.groupBy($"user_id")
        .agg(count(lit(1)).as("true_cnt"))
        .orderBy($"true_cnt".desc, $"user_id").limit(20)
      graft.operators.StatsIndex.servedFreq(s, probes, "user_id",
          dir, 4, 256)
        .withColumn("overcount", $"est" - $"true_cnt")
        .orderBy($"user_id")
    },
    Some("""WITH rem AS (SELECT * FROM events WHERE user_id % 9 <> 0),
      tf AS (SELECT user_id, CAST(count(*) AS BIGINT) AS true_cnt
        FROM rem GROUP BY user_id),
      probes AS (SELECT user_id, true_cnt FROM tf
        ORDER BY true_cnt DESC, user_id LIMIT 20),
      hs AS (SELECT unnest(range(4)) AS h),
      sk AS (SELECT h, CAST('0x' || substr(md5(h::VARCHAR || ':' ||
            user_id::VARCHAR), 1, 8) AS BIGINT) % 256 AS cell,
          CAST(count(*) AS BIGINT) AS cnt
        FROM rem CROSS JOIN hs GROUP BY 1, 2),
      pc AS (SELECT p.user_id, p.true_cnt, hs.h,
          CAST('0x' || substr(md5(hs.h::VARCHAR || ':' ||
            p.user_id::VARCHAR), 1, 8) AS BIGINT) % 256 AS cell
        FROM probes p CROSS JOIN hs)
      SELECT pc.user_id AS user_id, pc.true_cnt,
        min(coalesce(s.cnt, 0)) AS est,
        min(coalesce(s.cnt, 0)) - pc.true_cnt AS overcount
      FROM pc LEFT JOIN sk s ON s.h = pc.h AND s.cell = pc.cell
      GROUP BY pc.user_id, pc.true_cnt
      ORDER BY user_id"""),
    doc = "[NS] stored-ANALYZE forget: cell decrement == remaining-only rebuild (served)")

  /** [NS] — statistics in the RTBF fan-out
    * ([[graft.operators.Forget.StatsTarget]]): the planner's sketch
    * built on all events, a user cohort purged THROUGH the one-call
    * orchestrator (`Forget.purgeDocs`), frequencies served from the
    * decremented cells. Before this registration a purged user's
    * traffic kept shaping frequency and join-size ESTIMATES after
    * every other artifact forgot them — statistics are also derived
    * data, and the orchestrator now knows it (the 10th target class).
    * Oracle: the sketch recomputed over remaining rows from scratch. */
  val q392StatsRtbf = Q(
    "q392_stats_rtbf",
    (s, d) => {
      import s.implicits._
      val ev = Tables.events(s, d)
      val dir = graft.operators.StatsIndex.defaultDir(d + "#stats_rtbf")
      graft.operators.Generation.withFingerprint(dir, d + "#stats_rtbf") {
        graft.operators.StatsIndex.build(ev, "user_id", dir, 4, 256)
        graft.operators.Forget.purgeDocs(s,
          ev.filter($"user_id" % 11 === 3), "user_id",
          Seq(graft.operators.Forget.StatsTarget(dir, "user_id",
            4, 256)), epoch = 0L)
      }
      val remaining = ev.filter($"user_id" % 11 =!= 3)
      val probes = remaining.groupBy($"user_id")
        .agg(count(lit(1)).as("true_cnt"))
        .orderBy($"true_cnt".desc, $"user_id").limit(20)
      graft.operators.StatsIndex.servedFreq(s, probes, "user_id",
          dir, 4, 256)
        .withColumn("overcount", $"est" - $"true_cnt")
        .orderBy($"user_id")
    },
    Some("""WITH rem AS (SELECT * FROM events WHERE user_id % 11 <> 3),
      tf AS (SELECT user_id, CAST(count(*) AS BIGINT) AS true_cnt
        FROM rem GROUP BY user_id),
      probes AS (SELECT user_id, true_cnt FROM tf
        ORDER BY true_cnt DESC, user_id LIMIT 20),
      hs AS (SELECT unnest(range(4)) AS h),
      sk AS (SELECT h, CAST('0x' || substr(md5(h::VARCHAR || ':' ||
            user_id::VARCHAR), 1, 8) AS BIGINT) % 256 AS cell,
          CAST(count(*) AS BIGINT) AS cnt
        FROM rem CROSS JOIN hs GROUP BY 1, 2),
      pc AS (SELECT p.user_id, p.true_cnt, hs.h,
          CAST('0x' || substr(md5(hs.h::VARCHAR || ':' ||
            p.user_id::VARCHAR), 1, 8) AS BIGINT) % 256 AS cell
        FROM probes p CROSS JOIN hs)
      SELECT pc.user_id AS user_id, pc.true_cnt,
        min(coalesce(s.cnt, 0)) AS est,
        min(coalesce(s.cnt, 0)) - pc.true_cnt AS overcount
      FROM pc LEFT JOIN sk s ON s.h = pc.h AND s.cell = pc.cell
      GROUP BY pc.user_id, pc.true_cnt
      ORDER BY user_id"""),
    doc = "[NS] stats artifact purged through the RTBF orchestrator (10th target)")

  /** One edge of the q393 oracle: uniquely-named CTE block computing
    * the CMS inner-product estimate (missing depths count as 0 via the
    * hs left join) and the exact per-key-count join size. */
  private def edgeSql(i: Int, edge: String, lt: String, lk: String,
      rt: String, rk: String): (String, String) = {
    def sk(side: String, t: String, k: String) =
      s"""sk$i$side AS (SELECT h, CAST('0x' || substr(md5(h::VARCHAR ||
        ':' || $k::VARCHAR), 1, 8) AS BIGINT) % 256 AS cell,
        count(*) AS cnt FROM $t CROSS JOIN hs GROUP BY 1, 2)"""
    val ctes = s"""${sk("l", lt, lk)},
      ${sk("r", rt, rk)},
      ip$i AS (SELECT l.h AS h, sum(l.cnt::HUGEINT * r.cnt) AS v
        FROM sk${i}l l JOIN sk${i}r r ON l.h = r.h AND l.cell = r.cell
        GROUP BY l.h),
      est$i AS (SELECT min(coalesce(ip$i.v, 0)) AS e
        FROM hs LEFT JOIN ip$i ON ip$i.h = hs.h),
      c${i}l AS (SELECT $lk AS k, count(*) AS c FROM $lt GROUP BY 1),
      c${i}r AS (SELECT $rk AS k, count(*) AS c FROM $rt GROUP BY 1),
      a$i AS (SELECT coalesce(sum(l.c::HUGEINT * r.c), 0) AS act
        FROM c${i}l l JOIN c${i}r r ON l.k = r.k)"""
    val arm = s"""SELECT '$edge' AS edge, CAST(e AS BIGINT) AS est_rows,
      CAST(act AS BIGINT) AS actual_rows,
      CAST(e - act AS BIGINT) AS overcount,
      CASE WHEN act > 0 THEN CAST((1000000 * e) // act AS BIGINT) END
        AS est_over_actual_ppm,
      e >= act AS guarantee_holds
      FROM est$i, a$i"""
    (ctes, arm)
  }

  /** [NS] — the join-graph DRY RUN: every FK edge of the star schema
    * priced by the CMS inner-product estimator next to its exact join
    * size — the table a cost-based planner consults before choosing a
    * join order, produced without executing any of the seven joins
    * (per-key counts and 4×256 sketches only). `guarantee_holds` must
    * read true on every row; the per-edge est/actual ratio is the
    * collision inflation the sketch geometry costs on THIS schema —
    * measured, so widening the sketch is a data-driven decision. */
  val q393JoinGraphDryrun = Q(
    "q393_join_graph_dryrun",
    (s, d) => {
      val edges = Seq(
        ("1_nation_region", Tables.nation(s, d), "n_regionkey",
          Tables.region(s, d), "r_regionkey"),
        ("2_customer_nation", Tables.customer(s, d), "c_nationkey",
          Tables.nation(s, d), "n_nationkey"),
        ("3_supplier_nation", Tables.supplier(s, d), "s_nationkey",
          Tables.nation(s, d), "n_nationkey"),
        ("4_orders_customer", Tables.orders(s, d), "o_custkey",
          Tables.customer(s, d), "c_custkey"),
        ("5_lineitem_orders", Tables.lineitem(s, d), "l_orderkey",
          Tables.orders(s, d), "o_orderkey"),
        ("6_lineitem_part", Tables.lineitem(s, d), "l_partkey",
          Tables.part(s, d), "p_partkey"),
        ("7_lineitem_supplier", Tables.lineitem(s, d), "l_suppkey",
          Tables.supplier(s, d), "s_suppkey"))
      edges.map { case (name, l, lk, r, rk) =>
        Analytics.cmsJoinSizeAudit(l, lk, r, rk, 4, 256)
          .select(lit(name).as("edge"), col("est_rows"),
            col("actual_rows"), col("overcount"),
            col("est_over_actual_ppm"), col("guarantee_holds"))
      }.reduce(_.unionByName(_)).orderBy(col("edge"))
    },
    Some {
      val edges = Seq(
        (1, "1_nation_region", "nation", "n_regionkey", "region",
          "r_regionkey"),
        (2, "2_customer_nation", "customer", "c_nationkey", "nation",
          "n_nationkey"),
        (3, "3_supplier_nation", "supplier", "s_nationkey", "nation",
          "n_nationkey"),
        (4, "4_orders_customer", "orders", "o_custkey", "customer",
          "c_custkey"),
        (5, "5_lineitem_orders", "lineitem", "l_orderkey", "orders",
          "o_orderkey"),
        (6, "6_lineitem_part", "lineitem", "l_partkey", "part",
          "p_partkey"),
        (7, "7_lineitem_supplier", "lineitem", "l_suppkey", "supplier",
          "s_suppkey"))
      val parts = edges.map { case (i, e, lt, lk, rt, rk) =>
        edgeSql(i, e, lt, lk, rt, rk)
      }
      s"""WITH hs AS (SELECT unnest(range(4)) AS h),
        ${parts.map(_._1).mkString(",\n")}
        ${parts.map(_._2).mkString("\nUNION ALL\n")}
        ORDER BY edge"""
    },
    doc = "[NS] all 7 FK edges priced from sketches vs exact - the planner's dry run")

  /** Shared CTE block for the q394/q395 oracles: sketch one (table,
    * key) pair's CMS cells and the pair's inner-product estimate
    * (missing depths zero-filled via the hs left join). */
  private def sketchPairSql(i: Int, lt: String, lk: String, rt: String,
      rk: String): String = {
    def sk(side: String, t: String, k: String) =
      s"""sk$i$side AS (SELECT h, CAST('0x' || substr(md5(h::VARCHAR ||
        ':' || $k::VARCHAR), 1, 8) AS BIGINT) % 256 AS cell,
        count(*) AS cnt FROM $t CROSS JOIN hs GROUP BY 1, 2)"""
    s"""${sk("l", lt, lk)},
      ${sk("r", rt, rk)},
      ip$i AS (SELECT l.h AS h, sum(l.cnt::HUGEINT * r.cnt) AS v
        FROM sk${i}l l JOIN sk${i}r r ON l.h = r.h AND l.cell = r.cell
        GROUP BY l.h),
      est$i AS (SELECT min(coalesce(ip$i.v, 0)) AS e
        FROM hs LEFT JOIN ip$i ON ip$i.h = hs.h)"""
  }

  /** [NS] — the CBO loop CLOSED, serve tier
    * ([[graft.operators.StatsIndex.joinOrderFromSketches]]): the q295
    * join-order decision for lineitem ⋈ orders ⋈ customer made from
    * FOUR STORED d×w statistics artifacts — orders sketched by each of
    * its join keys, lineitem by l_orderkey, customer by c_custkey —
    * with NO base table in the serve plan (plan-gated, q389's
    * convention). Per order, the intermediate is the AMS/CMS inner
    * product of two stored sketches; the smaller estimate is the
    * recommendation. This is what q383–q393 built the estimates FOR:
    * at 100 TB the order choice costs 4·d·w stored rows instead of a
    * per-key count pass over every input. Oracle: both inner products
    * recomputed from the base tables from scratch. */
  val q394SketchJoinOrder = Q(
    "q394_sketch_join_order",
    (s, d) => {
      import s.implicits._
      def art(tag: String, df: org.apache.spark.sql.DataFrame,
          key: String): String = {
        val dir = graft.operators.StatsIndex.defaultDir(d + tag)
        graft.operators.StatsIndex.buildIfAbsent(df, key, dir, 4, 256,
          d + tag)
        dir
      }
      val bl = art("#sjo_o_ok", Tables.orders(s, d), "o_orderkey")
      val lf = art("#sjo_l_ok", Tables.lineitem(s, d), "l_orderkey")
      val br = art("#sjo_o_ck", Tables.orders(s, d), "o_custkey")
      val rt = art("#sjo_c_ck", Tables.customer(s, d), "c_custkey")
      graft.operators.StatsIndex.joinOrderFromSketches(s, bl, lf, br, rt,
          4, 256)
        .orderBy($"plan_name")
    },
    Some(s"""WITH hs AS (SELECT unnest(range(4)) AS h),
      ${sketchPairSql(1, "orders", "o_orderkey", "lineitem",
        "l_orderkey")},
      ${sketchPairSql(2, "orders", "o_custkey", "customer",
        "c_custkey")},
      u AS (SELECT 'left_first' AS plan_name, e FROM est1
        UNION ALL SELECT 'right_first', e FROM est2)
      SELECT plan_name, CAST(e AS BIGINT) AS est_first_join_rows,
        e = min(e) OVER () AS recommended
      FROM u ORDER BY plan_name"""),
    doc = "[NS] join order chosen from stored sketch cells alone - the CBO loop closed")

  /** [NS] — the sketch-driven pick CERTIFIED
    * ([[graft.operators.Analytics.joinOrderSketchAudit]]): q394's
    * estimator and q295's exact pricing recommending side by side on
    * the same chain. `agree` must read true on both rows for the
    * stored-statistics advisor to be trusted on this schema — a false
    * row would be the measured cost of deciding from d·w cells
    * (collision inflation flipping a near-tie), priced by the
    * est/exact columns. On the star schema the intermediates differ by
    * |lineitem| vs |orders| — far from a tie — so the sketch pick must
    * match. Oracle: sketches, inner products, and exact Σ-of-products
    * all recomputed from scratch. */
  val q395SketchOrderCertified = Q(
    "q395_sketch_order_certified",
    (s, d) => {
      import s.implicits._
      Analytics.joinOrderSketchAudit(
        Tables.orders(s, d), "o_orderkey", "o_custkey",
        Tables.lineitem(s, d), "l_orderkey",
        Tables.customer(s, d), "c_custkey", 4, 256)
        .orderBy($"plan_name")
    },
    Some(s"""WITH hs AS (SELECT unnest(range(4)) AS h),
      ${sketchPairSql(1, "orders", "o_orderkey", "lineitem",
        "l_orderkey")},
      ${sketchPairSql(2, "orders", "o_custkey", "customer",
        "c_custkey")},
      c1l AS (SELECT o_orderkey AS k, count(*) AS c FROM orders
        GROUP BY 1),
      c1r AS (SELECT l_orderkey AS k, count(*) AS c FROM lineitem
        GROUP BY 1),
      a1 AS (SELECT coalesce(sum(l.c::HUGEINT * r.c), 0) AS act
        FROM c1l l JOIN c1r r ON l.k = r.k),
      c2l AS (SELECT o_custkey AS k, count(*) AS c FROM orders
        GROUP BY 1),
      c2r AS (SELECT c_custkey AS k, count(*) AS c FROM customer
        GROUP BY 1),
      a2 AS (SELECT coalesce(sum(l.c::HUGEINT * r.c), 0) AS act
        FROM c2l l JOIN c2r r ON l.k = r.k),
      u AS (SELECT 'left_first' AS plan_name, est1.e AS e, a1.act AS act
          FROM est1, a1
        UNION ALL
        SELECT 'right_first', est2.e, a2.act FROM est2, a2)
      SELECT plan_name, CAST(e AS BIGINT) AS est_first_join_rows,
        CAST(act AS BIGINT) AS exact_first_join_rows,
        e = min(e) OVER () AS sketch_recommended,
        act = min(act) OVER () AS exact_recommended,
        (e = min(e) OVER ()) = (act = min(act) OVER ()) AS agree
      FROM u ORDER BY plan_name"""),
    doc = "[NS] sketch join-order pick certified against the exact advisor")

  /** [NS] — stored estimates choosing a PHYSICAL plan
    * ([[graft.operators.StatsIndex.broadcastAdvisedJoin]]): the
    * customer ⋈ nation join planned from two STORED statistics
    * artifacts' derived row counts — nation's 25 stored-count rows sit
    * under the 1000-row budget, so the join carries a pre-planned
    * `broadcast(nation)` hint (PlanQualitySpec pins BroadcastHashJoin
    * in the plan; StatsIndexSpec pins BOTH directions with Spark's own
    * auto-broadcast disabled, so the hint — not the optimizer's size
    * guess — is what decides). This is the q389 serve step feeding an
    * actual plan decision: what AQE learns at runtime, decided at
    * planning time from the ANALYZE artifact. Results are identical
    * either way; the oracle checks the join's semantics. */
  val q400BroadcastAdvisedJoin = Q(
    "q400_broadcast_advised_join",
    (s, d) => {
      import s.implicits._
      def art(tag: String, df: org.apache.spark.sql.DataFrame,
          key: String): String = {
        val dir = graft.operators.StatsIndex.defaultDir(d + tag)
        graft.operators.StatsIndex.buildIfAbsent(df, key, dir, 4, 256,
          d + tag)
        dir
      }
      val dl = art("#baj_c", Tables.customer(s, d), "c_nationkey")
      val dr = art("#baj_n", Tables.nation(s, d), "n_nationkey")
      graft.operators.StatsIndex.broadcastAdvisedJoin(s,
          Tables.customer(s, d), Tables.nation(s, d),
          Seq(("c_nationkey", "n_nationkey")), dl, dr,
          broadcastMaxRows = 1000L)
        .groupBy($"n_name").agg(count(lit(1)).as("n_customers"))
        .orderBy($"n_name")
    },
    Some("""SELECT n_name, CAST(count(*) AS BIGINT) AS n_customers
      FROM customer JOIN nation ON n_nationkey = c_nationkey
      GROUP BY n_name ORDER BY n_name"""),
    doc = "[NS] broadcast decision made from stored ANALYZE row counts at planning time")

  val all: Seq[Q] = Seq(q134Profile, q135Cms, q136Skyline, q137Compaction,
    q378HrwShardBalance, q379ReshardCertificate,
    q381WeightedShardBalance, q382ReweightCertificate,
    q383SelectivityAudit, q384JoinCardAudit, q385IndependenceAudit,
    q386StaleStatsAudit, q387NdvSampleAudit, q388CmsJoinSize,
    q389StatsIndexServe, q390StatsIndexMerge, q391StatsIndexForget,
    q392StatsRtbf, q393JoinGraphDryrun, q394SketchJoinOrder,
    q395SketchOrderCertified, q400BroadcastAdvisedJoin,
    q307TheilSen, q310StratifiedEffect, q313LDiversity,
    q320NeymanAllocation, q324ContributionBound, q328KruskalWallis,
    q331WilcoxonSignedRank, q338Mcnemar, q339Friedman, q340FleissKappa, q341CochranQ, q345PageTrend,
    q346Jonckheere,
    q139MatviewCdc, q354AggViewForget, q140FuzzyJoin, q142Expectations,
    q143DecayScore,
    q147SnapshotDiff, q148KmvDistinct, q149KmvJaccard, q154KmvWindow,
    q156EquiDepth, q165PrioritySample, q166KmvQuantiles, q167MadOutliers,
    q172TargetEncode, q173WeightedMedian, q174HeavyExact, q175DiffCdc,
    q176DriftAudit, q184TopNOther, q185Winsorize, q189TrendSlope,
    q190TopMovers, q194QuantileNorm, q195KAnonymity, q197Bootstrap,
    q198ChiSquare, q202Calibration, q203Gains, q211CalibrationBands,
    q216Auc, q217Brier, q218AvgPrecision, q219ThresholdSweep,
    q223ErrorSamples, q224Journeys, q228TokenDrift, q238JoinAudit,
    q242JoinViewDelta, q243Cuped, q247Benford, q248DiffInDiff,
    q257Conformal, q260SkewReport, q261SampleSize, q262Rfm,
    q263FkSweep, q292KmvError, q295JoinOrder, q302ShapeProfile)
}
