package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.Tables
import QueryDsl._

/** Queries over the `events` table — the Spark-native re-expression of the
  * reference's watch-history pipeline (SURVEY §2.9, E3) plus the [NS]
  * time-window analytics. Batch forms here (oracle-checkable); the
  * streaming forms live in graft.streaming and are exercised by ScalaTest.
  */
object EventQueries {

  /** SURVEY §2.8 D2 — event dedup on (user_id, event_type): keep the
    * earliest event per key, exactly the history-dedup shape
    * (cmds/archive.py:340). Expressed as min-aggregation so it is
    * order-insensitive (a groupBy dedup scales: one shuffle on the key). */
  val q15EventDedup = Q(
    "q15_event_dedup",
    (s, d) => {
      import s.implicits._
      Tables.events(s, d)
        .groupBy($"user_id", $"event_type")
        .agg(min($"ts").as("first_ts"), min($"event_id").as("min_event_id"),
          count(lit(1)).as("n_dups"))
        .orderBy($"user_id", $"event_type")
    },
    Some("""SELECT user_id, event_type, min(ts) AS first_ts,
      min(event_id) AS min_event_id, count(*) AS n_dups
      FROM events GROUP BY user_id, event_type
      ORDER BY user_id, event_type"""),
    doc = "ref: cmds/archive.py:340-344 (history dedup D2)")

  /** SURVEY §2.7 F7 — date/time functions: extract parts + truncate, the
    * reference's timestamp-parsing family re-expressed on TimestampType. */
  val q16DateFuncs = Q(
    "q16_date_funcs",
    (s, d) => {
      import s.implicits._
      Tables.events(s, d)
        .select(
          year($"ts").cast("long").as("y"),
          month($"ts").cast("long").as("m"),
          dayofmonth($"ts").cast("long").as("day"),
          hour($"ts").cast("long").as("h"))
        .groupBy($"y", $"m", $"day")
        .agg(count(lit(1)).as("n"), min($"h").as("min_hour"),
          max($"h").as("max_hour"))
        .orderBy($"y", $"m", $"day")
    },
    Some("""SELECT CAST(year(ts) AS BIGINT) AS y, CAST(month(ts) AS BIGINT) AS m,
      CAST(day(ts) AS BIGINT) AS day, count(*) AS n,
      min(CAST(hour(ts) AS BIGINT)) AS min_hour,
      max(CAST(hour(ts) AS BIGINT)) AS max_hour
      FROM events GROUP BY 1, 2, 3 ORDER BY y, m, day"""),
    doc = "ref: cmds/archive.py:112,277-278 (date parsing F7)")

  /** SURVEY §2.7 F15 — JSON extraction from the `props` column
    * (get_json_object ≍ DuckDB json_extract_string), aggregated. */
  val q17JsonExtract = Q(
    "q17_json_extract",
    (s, d) => {
      import s.implicits._
      Tables.events(s, d)
        .select($"event_type",
          get_json_object($"props", "$.k").cast("long").as("k"))
        .groupBy($"event_type")
        .agg(sum($"k").as("sum_k"), count($"k").as("n_k"))
        .orderBy($"event_type")
    },
    Some("""SELECT event_type,
      CAST(sum(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k,
      count(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS n_k
      FROM events GROUP BY event_type ORDER BY event_type"""),
    doc = "ref: cmds/archive.py:323 (JSON decode F15)")

  /** SURVEY §2.6 [NS] — analytic window lag(): inter-event gap seconds per
    * user, averaged (gaps are exact micros → exact doubles). */
  val q18WindowLag = Q(
    "q18_window_lag",
    (s, d) => {
      import s.implicits._
      val w = Window.partitionBy($"user_id").orderBy($"ts".asc, $"event_id".asc)
      Tables.events(s, d)
        .withColumn("prev_ts", lag($"ts", 1).over(w))
        .withColumn("gap_us",
          (unix_micros($"ts") - unix_micros($"prev_ts")))
        .groupBy($"user_id")
        .agg(count($"gap_us").as("n_gaps"), sum($"gap_us").as("sum_gap_us"),
          max($"gap_us").as("max_gap_us"))
        .orderBy($"user_id")
    },
    Some("""SELECT user_id, count(gap_us) AS n_gaps,
      CAST(sum(gap_us) AS BIGINT) AS sum_gap_us,
      max(gap_us) AS max_gap_us FROM (
        SELECT user_id, CAST(epoch_us(ts) - epoch_us(lag(ts, 1) OVER
          (PARTITION BY user_id ORDER BY ts ASC, event_id ASC)) AS BIGINT) AS gap_us
        FROM events) t
      GROUP BY user_id ORDER BY user_id"""),
    doc = "SURVEY §2.6 [NS] lag/lead analytics")

  /** SURVEY §2.9 [NS] — sessionization: a >30-minute gap starts a new
    * session; count sessions + events per user. Pure window algebra
    * (lag → boundary flag → running sum), shuffles once on user_id. */
  val q19Sessionize = Q(
    "q19_sessionize",
    (s, d) => {
      import s.implicits._
      val w = Window.partitionBy($"user_id").orderBy($"ts".asc, $"event_id".asc)
      Tables.events(s, d)
        .withColumn("prev_ts", lag($"ts", 1).over(w))
        .withColumn("new_sess",
          when($"prev_ts".isNull ||
            (unix_micros($"ts") - unix_micros($"prev_ts")) > 1800L * 1000000L, 1L)
            .otherwise(0L))
        .withColumn("sess_id", sum($"new_sess").over(
          w.rowsBetween(Window.unboundedPreceding, 0)))
        .groupBy($"user_id")
        .agg(max($"sess_id").as("n_sessions"), count(lit(1)).as("n_events"))
        .orderBy($"user_id")
    },
    Some("""SELECT user_id, CAST(max(sess_id) AS BIGINT) AS n_sessions,
      count(*) AS n_events
      FROM (
        SELECT user_id, sum(new_sess) OVER (PARTITION BY user_id
          ORDER BY ts ASC, event_id ASC
          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sess_id
        FROM (
          SELECT user_id, ts, event_id,
            CASE WHEN lag(ts, 1) OVER (PARTITION BY user_id
                ORDER BY ts ASC, event_id ASC) IS NULL
              OR epoch_us(ts) - epoch_us(lag(ts, 1) OVER (PARTITION BY user_id
                ORDER BY ts ASC, event_id ASC)) > 1800000000
              THEN 1 ELSE 0 END AS new_sess
          FROM events) a) b
      GROUP BY user_id ORDER BY user_id"""),
    doc = "SURVEY §2.9 [NS] session windows (batch form)")

  /** SURVEY §2.9 [NS] — tumbling 10-minute window aggregation (batch form of
    * the streaming windowed agg; bucket = floor(epoch/600)). */
  val q20TumblingWindow = Q(
    "q20_tumbling_window",
    (s, d) => {
      import s.implicits._
      Tables.events(s, d)
        .withColumn("bucket",
          timestamp_seconds(floor(unix_micros($"ts") / lit(600000000L)) * 600))
        .groupBy($"bucket", $"event_type")
        .agg(count(lit(1)).as("n"), exactSum($"value", 2).as("sum_value"))
        .orderBy($"bucket", $"event_type")
    },
    Some(s"""SELECT make_timestamp((epoch_us(ts) // 600000000) * 600000000) AS bucket,
      event_type, count(*) AS n, ${exactSumSql("value", 2)} AS sum_value
      FROM events GROUP BY 1, 2 ORDER BY bucket, event_type"""),
    doc = "SURVEY §2.9 [NS] tumbling window (batch twin of streaming agg)")

  /** SURVEY §2.3 [NS] — as-of join: for each error event, the latest
    * preceding click by the same user. Spark lacks ASOF JOIN; composed as
    * union + window last() — one shuffle on user_id, no range cross-join
    * (the union trick scales where a theta-join would explode). */
  val q21AsofJoin = Q(
    "q21_asof_join",
    (s, d) => {
      import s.implicits._
      val ev = Tables.events(s, d)
      val errors = ev.filter($"event_type" === "error")
        .select($"user_id", $"ts", $"event_id", lit(0).as("is_click"),
          lit(null).cast("timestamp").as("click_ts_src"))
      val clicks = ev.filter($"event_type" === "click")
        .select($"user_id", $"ts", $"event_id", lit(1).as("is_click"),
          $"ts".as("click_ts_src"))
      // clicks sort before errors at identical ts (is_click desc) so an
      // error at the exact same timestamp sees that click (ASOF <=).
      val w = Window.partitionBy($"user_id")
        .orderBy($"ts".asc, $"is_click".desc, $"event_id".asc)
        .rowsBetween(Window.unboundedPreceding, 0)
      errors.unionByName(clicks)
        .withColumn("last_click_ts",
          last($"click_ts_src", ignoreNulls = true).over(w))
        .filter($"is_click" === 0)
        .select($"user_id", $"ts".as("error_ts"), $"event_id", $"last_click_ts")
        .orderBy($"user_id", $"error_ts", $"event_id")
    },
    Some("""SELECT e.user_id, e.ts AS error_ts, e.event_id,
        (SELECT max(c.ts) FROM events c
          WHERE c.event_type = 'click' AND c.user_id = e.user_id
            AND c.ts <= e.ts) AS last_click_ts
      FROM events e WHERE e.event_type = 'error'
      ORDER BY e.user_id, error_ts, e.event_id"""),
    doc = "SURVEY §2.3 [NS] as-of join via union+window (no range explosion)")

  /** SURVEY §2.3 [NS] — RANGE join (click → purchase within 1 h, same
    * user) via time-bucketing: the inequality becomes an equi-join on
    * (user, bucket) — no BroadcastNestedLoopJoin, no per-key quadratic
    * blowup (Temporal.rangeJoin). The oracle states the same join as a
    * plain BETWEEN inequality. */
  val q64RangeJoin = Q(
    "q64_range_join",
    (s, d) => {
      import s.implicits._
      val ev = Tables.events(s, d)
      val clicks = ev.filter($"event_type" === "click")
        .select($"user_id", unix_micros($"ts").as("c_us"))
      val purchases = ev.filter($"event_type" === "purchase")
        .select($"user_id", unix_micros($"ts").as("p_us"))
      graft.operators.Temporal
        .rangeJoin(clicks, purchases, "user_id", "c_us", "p_us",
          lowerUs = 0L, upperUs = 3600L * 1000 * 1000)
        .groupBy($"user_id")
        .agg(count(lit(1)).as("n_pairs"),
          min($"p_us" - $"c_us").as("min_gap_us"),
          max($"p_us" - $"c_us").as("max_gap_us"))
        .orderBy($"user_id")
    },
    Some("""SELECT c.user_id, count(*) AS n_pairs,
        min(epoch_us(p.ts) - epoch_us(c.ts)) AS min_gap_us,
        max(epoch_us(p.ts) - epoch_us(c.ts)) AS max_gap_us
      FROM events c JOIN events p
        ON p.user_id = c.user_id
        AND c.event_type = 'click' AND p.event_type = 'purchase'
        AND epoch_us(p.ts) >= epoch_us(c.ts)
        AND epoch_us(p.ts) <= epoch_us(c.ts) + 3600000000
      GROUP BY c.user_id ORDER BY c.user_id"""),
    doc = "SURVEY §2.3 [NS] range join via time-bucketed equi-join")

  /** [NS] — ordered funnel: users who viewed, then clicked AFTER their
    * first view, then purchased AFTER that first qualifying click —
    * per-stage user counts via
    * [[graft.streaming.EventStream.funnelStages]] (each stage one
    * combining aggregate + an equi-join on user_id against the small
    * prior-stage table; ordering is a plain predicate — no window, no
    * per-user event sorting). The streaming twin
    * ([[graft.streaming.EventStream.funnelStateful]]) is asserted equal
    * to this batch form in StreamingSpec. */
  val q77Funnel = Q(
    "q77_funnel",
    (s, d) => {
      import s.implicits._
      graft.streaming.EventStream.funnelStages(
        Tables.events(s, d).select($"user_id", $"event_type", $"ts"))
    },
    Some("""WITH e AS (SELECT user_id, event_type, ts FROM events),
      t1 AS (SELECT user_id, min(ts) AS t1 FROM e
        WHERE event_type = 'view' GROUP BY user_id),
      t2 AS (SELECT e.user_id, min(ts) AS t2 FROM e
        JOIN t1 ON t1.user_id = e.user_id
        WHERE event_type = 'click' AND ts > t1 GROUP BY e.user_id),
      t3 AS (SELECT e.user_id, min(ts) AS t3 FROM e
        JOIN t2 ON t2.user_id = e.user_id
        WHERE event_type = 'purchase' AND ts > t2 GROUP BY e.user_id)
      SELECT '1_view' AS stage, count(*) AS n_users FROM t1
      UNION ALL SELECT '2_click', count(*) FROM t2
      UNION ALL SELECT '3_purchase', count(*) FROM t3
      ORDER BY stage"""),
    doc = "[NS] ordered funnel analysis (stage aggregates + predicates, no windows)")

  /** [NS] — weekly cohort retention: users grouped by first-seen week,
    * distinct actives per (cohort, weeks-since) cell — the standard
    * retention matrix. Two shuffles (per-user min, then the cell
    * distinct-count); the cohort side is per-user-small so AQE broadcasts
    * the join back. date_trunc('week') is Monday-anchored in both
    * engines, and the offset is integral day arithmetic — no float. */
  val q79CohortRetention = Q(
    "q79_cohort_retention",
    (s, d) => {
      import s.implicits._
      val e = Tables.events(s, d)
        .select($"user_id", to_date(date_trunc("week", $"ts")).as("wk"))
      val cohort = e.groupBy($"user_id")
        .agg(min($"wk").as("cohort_week"))
      e.join(cohort, Seq("user_id"))
        .withColumn("week_off", expr("datediff(wk, cohort_week) div 7"))
        .groupBy($"cohort_week", $"week_off")
        .agg(countDistinct($"user_id").as("n_users"))
        .orderBy($"cohort_week", $"week_off")
    },
    Some("""WITH e AS (SELECT user_id,
        CAST(date_trunc('week', ts) AS DATE) AS wk FROM events),
      c AS (SELECT user_id, min(wk) AS cohort_week FROM e GROUP BY user_id)
      SELECT cohort_week,
        date_diff('day', cohort_week, wk) // 7 AS week_off,
        count(DISTINCT e.user_id) AS n_users
      FROM e JOIN c USING (user_id)
      GROUP BY 1, 2 ORDER BY cohort_week, week_off"""),
    doc = "[NS] weekly cohort retention matrix (first-seen week × offset)")

  /** [NS] — SCD type-2 interval build (gaps-and-islands): consecutive
    * same-type runs per user collapse into effective-dated rows
    * [valid_from, valid_to) with valid_to = next island's start (NULL =
    * current). Single-shuffle form: every window partitions by user_id,
    * and island rows come from FILTERING to change points (an island's
    * span is start-row ts → next start's ts; its size is the row-number
    * gap) — no island groupBy, so the whole query is ONE exchange on
    * user_id plus the final tiny sort (pinned in PlanQualitySpec). */
  val q80Scd2Islands = Q(
    "q80_scd2_islands",
    (s, d) => {
      import s.implicits._
      val w = Window.partitionBy($"user_id").orderBy($"ts", $"event_id")
      Tables.events(s, d)
        .filter($"user_id" <= 5)
        .select($"user_id", $"event_type", $"ts", $"event_id")
        .withColumn("chg",
          when(lag($"event_type", 1).over(w) <=> $"event_type", 0L)
            .otherwise(1L))
        .withColumn("rn", row_number().over(w).cast("long"))
        .withColumn("n_user",
          count(lit(1)).over(Window.partitionBy($"user_id")))
        .filter($"chg" === 1L)
        .withColumn("valid_to", lead($"ts", 1).over(
          Window.partitionBy($"user_id").orderBy($"rn")))
        .withColumn("n_events",
          coalesce(lead($"rn", 1).over(
              Window.partitionBy($"user_id").orderBy($"rn")),
            $"n_user" + 1L) - $"rn")
        .select($"user_id", $"event_type", $"ts".as("valid_from"),
          $"valid_to", $"n_events")
        // TOTAL order: two islands of one user CAN share a valid_from
        // (equal ts, different event_id) and even the same event_type —
        // so the sort covers EVERY output column (nulls-last pinned on
        // the nullable valid_to, mirrored in the oracle's ORDER BY).
        // Rows equal on all five keys are identical, so the driver's
        // order-sensitive hash cannot diverge on any data.
        .orderBy($"user_id", $"valid_from", $"event_type", $"n_events",
          $"valid_to".asc_nulls_last)
    },
    Some("""WITH e AS (SELECT user_id, event_type, ts, event_id
        FROM events WHERE user_id <= 5),
      m AS (SELECT *, CASE WHEN lag(event_type) OVER
          (PARTITION BY user_id ORDER BY ts, event_id)
          IS NOT DISTINCT FROM event_type THEN 0 ELSE 1 END AS chg FROM e),
      i AS (SELECT *, sum(chg) OVER (PARTITION BY user_id
          ORDER BY ts, event_id ROWS UNBOUNDED PRECEDING) AS island FROM m),
      sp AS (SELECT user_id, island, event_type, min(ts) AS valid_from,
          count(*) AS n_events FROM i GROUP BY 1, 2, 3)
      SELECT user_id, event_type, valid_from,
        lead(valid_from) OVER (PARTITION BY user_id ORDER BY island)
          AS valid_to,
        n_events
      FROM sp ORDER BY user_id, valid_from, event_type, n_events,
        valid_to NULLS LAST"""),
    doc = "[NS] SCD2 effective-dated intervals via gaps-and-islands")

  /** [NS] — INCREMENTAL SCD2 maintenance (q153): build the dimension
    * from history before the Jan-20 cutoff ([[Analytics.scd2Build]]),
    * then fold the post-cutoff delta batch in with
    * [[Analytics.scd2Apply]] — closed rows pass through untouched, only
    * the open frontier (one row per user) plus the delta re-islands.
    * The oracle is q80's from-scratch SQL over the FULL stream
    * (verbatim — same columns, same total order): the incremental path
    * must land on the identical dimension, the q128/q145 twin-certified
    * convention for incremental maintenance. */
  val q153Scd2Apply = Q(
    "q153_scd2_apply",
    (s, d) => {
      import s.implicits._
      val ev = Tables.events(s, d).filter($"user_id" <= 5)
        .select($"user_id", $"event_type", $"ts", $"event_id")
      val cutoff = lit("2024-01-20 00:00:00").cast("timestamp")
      val stored = graft.operators.Analytics.scd2Build(
        ev.filter($"ts" < cutoff), "user_id", "event_type", "ts",
        $"event_id")
      val delta = ev.filter($"ts" >= cutoff)
      graft.operators.Analytics.scd2Apply(stored, delta, "user_id",
          "event_type", "ts", "event_id")
        .orderBy($"user_id", $"valid_from", $"event_type", $"n_events",
          $"valid_to".asc_nulls_last)
    },
    q80Scd2Islands.oracle,
    doc = "[NS] incremental SCD2: delta folds through the open frontier, twin-certified")

  /** [NS] — U-shaped multi-touch attribution (q157): every purchase
    * distributes exactly 1 000 000 ppm of credit across its view/click
    * touchpoints in the 7-day lookback ([[graft.operators.Analytics
    * .attributionUShape]] — 40/20/40 position-based, integer ppm with
    * the middle-share remainder pinned to the first touch so credits
    * always total 1 000 000 per conversion). Aggregated per touch type;
    * both engines replay the identical rank/CASE algebra. */
  val q157Attribution = Q(
    "q157_attribution",
    (s, d) => {
      import s.implicits._
      graft.operators.Analytics.attributionUShape(Tables.events(s, d),
          "user_id", "ts", "event_id", "event_type", "purchase",
          Seq("view", "click"), lookbackDays = 7)
        .groupBy($"touch_type")
        .agg(count(lit(1)).as("n_touches"),
          sum($"credit_ppm").as("credit_ppm_sum"),
          countDistinct($"conv_id").as("n_conversions"))
        .orderBy($"touch_type")
    },
    Some("""WITH conv AS (SELECT user_id, event_id AS conv_id,
          ts AS conv_ts FROM events WHERE event_type = 'purchase'),
      tch AS (SELECT user_id, event_id AS touch_id, ts AS touch_ts,
          event_type AS touch_type FROM events
        WHERE event_type IN ('view', 'click')),
      p AS (SELECT c.user_id, c.conv_id, t.touch_id, t.touch_type,
          t.touch_ts
        FROM conv c JOIN tch t ON t.user_id = c.user_id
        WHERE t.touch_ts < c.conv_ts
          AND t.touch_ts >= c.conv_ts - INTERVAL 7 DAY),
      r AS (SELECT *, CAST(row_number() OVER (PARTITION BY conv_id
            ORDER BY touch_ts, touch_id) AS BIGINT) AS rn,
          CAST(count(*) OVER (PARTITION BY conv_id) AS BIGINT) AS m
        FROM p),
      cr AS (SELECT *, CASE WHEN m = 1 THEN 1000000
          WHEN m = 2 THEN 500000
          WHEN rn = 1 THEN 400000 + 200000 % (m - 2)
          WHEN rn = m THEN 400000
          ELSE 200000 // (m - 2) END AS credit_ppm FROM r)
      SELECT touch_type, CAST(count(*) AS BIGINT) AS n_touches,
        CAST(sum(credit_ppm) AS BIGINT) AS credit_ppm_sum,
        CAST(count(DISTINCT conv_id) AS BIGINT) AS n_conversions
      FROM cr GROUP BY 1 ORDER BY touch_type"""),
    doc = "[NS] U-shaped multi-touch attribution (integer ppm, credits sum exactly)")

  /** [NS] — interval-OVERLAP join (q158): which users' daily activity
    * windows overlapped, and for how long — the third temporal-join
    * shape after as-of (q21) and range (q45), via [[graft.operators
    * .Temporal.overlapJoin]]'s bin equi-join (6 h bins; the
    * overlap-start bin guard emits each pair exactly once with no
    * DISTINCT shuffle). The oracle is the quadratic theta twin — the
    * q23/q31 oracle-only convention; the Spark plan must never contain
    * the nested-loop form (plan-gated). */
  val q158OverlapJoin = Q(
    "q158_overlap_join",
    (s, d) => {
      import s.implicits._
      val spans = Tables.events(s, d).filter($"user_id" <= 12)
        .select($"user_id", to_date($"ts").as("day"),
          unix_micros($"ts").as("us"))
        .groupBy($"user_id", $"day")
        .agg(min($"us").as("s"), max($"us").as("e"))
      val a = spans.select($"user_id".as("a_user"), $"day".as("day"),
        $"s".as("a_s"), $"e".as("a_e"))
      val b = spans.select($"user_id".as("b_user"), $"day".as("b_day"),
        $"s".as("b_s"), $"e".as("b_e"))
      graft.operators.Temporal.overlapJoin(a, b, "a_s", "a_e",
          "b_s", "b_e", widthUs = 6L * 3600 * 1000000)
        .filter($"a_user" < $"b_user")
        .select($"a_user", $"b_user", $"day",
          (least($"a_e", $"b_e") - greatest($"a_s", $"b_s"))
            .as("overlap_us"))
        .orderBy($"day", $"a_user", $"b_user")
    },
    Some("""WITH sp AS (SELECT user_id, CAST(ts AS DATE) AS day,
          min(epoch_us(ts)) AS s, max(epoch_us(ts)) AS e
        FROM events WHERE user_id <= 12 GROUP BY 1, 2)
      SELECT a.user_id AS a_user, b.user_id AS b_user, a.day AS day,
        least(a.e, b.e) - greatest(a.s, b.s) AS overlap_us
      FROM sp a JOIN sp b ON a.user_id < b.user_id
      WHERE a.s <= b.e AND b.s <= a.e
      ORDER BY day, a_user, b_user"""),
    doc = "[NS] interval-overlap join (bin equi-join, one copy per pair, no theta)")

  /** [NS] — event-transition matrix (q159): first-order Markov counts
    * P(next type | type) over per-user ordered streams, probabilities in
    * exact integer ppm (`n·1e6 div row_total`). One lag window + one
    * groupBy; the 25-cell matrix is the product-analytics "what do users
    * do next" primitive and the input to next-event prediction
    * baselines. */
  val q159Transitions = Q(
    "q159_transitions",
    (s, d) => {
      import s.implicits._
      val w = Window.partitionBy($"user_id").orderBy($"ts", $"event_id")
      val hop = Tables.events(s, d)
        .select($"user_id", $"event_type", $"ts", $"event_id")
        .withColumn("from_type", lag($"event_type", 1).over(w))
        .filter($"from_type".isNotNull)
        .groupBy($"from_type", $"event_type".as("to_type"))
        .agg(count(lit(1)).as("n"))
      hop
        .withColumn("row_total",
          sum($"n").over(Window.partitionBy($"from_type")))
        .withColumn("prob_ppm", expr("(n * 1000000) div row_total"))
        .select($"from_type", $"to_type", $"n", $"row_total", $"prob_ppm")
        .orderBy($"from_type", $"to_type")
    },
    Some("""WITH m AS (SELECT user_id, event_type,
          lag(event_type) OVER (PARTITION BY user_id
            ORDER BY ts, event_id) AS from_type
        FROM events),
      c AS (SELECT from_type, event_type AS to_type,
          CAST(count(*) AS BIGINT) AS n
        FROM m WHERE from_type IS NOT NULL GROUP BY 1, 2),
      t AS (SELECT *, CAST(sum(n) OVER (PARTITION BY from_type)
          AS BIGINT) AS row_total FROM c)
      SELECT from_type, to_type, n, row_total,
        (n * 1000000) // row_total AS prob_ppm
      FROM t ORDER BY from_type, to_type"""),
    doc = "[NS] first-order event-transition matrix (exact ppm probabilities)")

  /** [NS] — top user journeys (q160): each user's first five events as
    * an ordered path string, ranked by frequency — the onboarding-flow
    * question. Per-user ordering is frozen into the collected structs
    * (sort_array over (rn, type) — never an unordered collect_list
    * concat, which is partitioning-dependent), so the path strings are
    * deterministic and both engines agree. */
  val q160UserPaths = Q(
    "q160_user_paths",
    (s, d) => {
      import s.implicits._
      val w = Window.partitionBy($"user_id").orderBy($"ts", $"event_id")
      Tables.events(s, d)
        .select($"user_id", $"event_type", $"ts", $"event_id")
        .withColumn("rn", row_number().over(w))
        .filter($"rn" <= 5)
        .groupBy($"user_id")
        .agg(expr(
          """array_join(transform(sort_array(collect_list(
               struct(rn, event_type))), s -> s.event_type), '>')""")
          .as("path"))
        .groupBy($"path").agg(count(lit(1)).as("n_users"))
        .orderBy($"n_users".desc, $"path")
        .limit(10)
    },
    Some("""WITH r AS (SELECT user_id, event_type,
          row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id)
            AS rn
        FROM events),
      p AS (SELECT user_id, string_agg(event_type, '>' ORDER BY rn)
            AS path
        FROM r WHERE rn <= 5 GROUP BY user_id)
      SELECT path, CAST(count(*) AS BIGINT) AS n_users
      FROM p GROUP BY path ORDER BY n_users DESC, path LIMIT 10"""),
    doc = "[NS] top user journeys (deterministic ordered path strings)")

  /** [NS] — distributed-EXACT z-score outlier detection: flag events
    * beyond 2σ of their event_type's mean WITHOUT any float variance —
    * [[graft.operators.Curation.exactOutliers]] (`(n·x − S)² >
    * k²·(n·SS − S²)` in decimal(38,0); HUGEINT on the oracle side). The
    * float path can't oracle-match (partial-agg order changes the double
    * variance in the last ulp); this one is bit-exact under any
    * partitioning, and PropertySpec pins it against a BigInt reference.
    * Stats per type are 5 rows → broadcast back onto the fact side. */
  val q82Outliers = Q(
    "q82_outliers",
    (s, d) => {
      import s.implicits._
      val e = Tables.events(s, d)
        .select($"event_type",
          round($"value" * 100, 0).cast("long").as("v100"))
      graft.operators.Curation.exactOutliers(e, "event_type", "v100", k = 2)
        .groupBy($"event_type")
        .agg(count(lit(1)).as("n_events"),
          count(when($"is_out", 1)).as("n_outliers"),
          sum(when($"is_out", $"v100")).as("outlier_v100_sum"))
        .orderBy($"event_type")
    },
    Some("""WITH e AS (SELECT event_type,
        CAST(round(value * 100) AS BIGINT) AS v100 FROM events),
      st AS (SELECT event_type, count(*) AS n,
          CAST(sum(v100) AS BIGINT) AS s,
          CAST(sum(v100 * v100) AS BIGINT) AS ss
        FROM e GROUP BY 1),
      j AS (SELECT e.event_type, v100, n, s, ss
        FROM e JOIN st USING (event_type)),
      o AS (SELECT *,
          CAST(n * v100 - s AS HUGEINT) * CAST(n * v100 - s AS HUGEINT)
            > 4 * (CAST(n AS HUGEINT) * ss - CAST(s AS HUGEINT) * s)
          AS is_out FROM j)
      SELECT event_type, count(*) AS n_events,
        count(CASE WHEN is_out THEN 1 END) AS n_outliers,
        CAST(sum(CASE WHEN is_out THEN v100 END) AS BIGINT)
          AS outlier_v100_sum
      FROM o GROUP BY 1 ORDER BY event_type"""),
    doc = "[NS] exact integer-arithmetic z-score outlier detection (2σ)")

  /** SURVEY §2.5 A5 [NS] — equal-width histogram: binned value
    * distribution per event type, bin = scaled-integer division
    * (v100 div 2500 = 25.00-wide bins, clamped to [0,19]) so bin edges
    * are EXACT — float `floor(value/25)` can mis-bin boundary values by
    * one ulp and break the oracle hash. One shuffle on (type, bin); bin
    * ids are data-independent, so assignment composes map-side with
    * streaming ingestion. */
  val q88Histogram = Q(
    "q88_histogram",
    (s, d) => {
      import s.implicits._
      Tables.events(s, d)
        .select($"event_type",
          least(greatest(expr(
            "cast(round(value * 100) as bigint) div 2500"), lit(0L)),
            lit(19L)).as("bin"))
        .groupBy($"event_type", $"bin")
        .agg(count(lit(1)).as("n"))
        .orderBy($"event_type", $"bin")
    },
    Some("""SELECT event_type,
        least(greatest(CAST(round(value * 100) AS BIGINT) // 2500, 0), 19)
          AS bin,
        count(*) AS n
      FROM events GROUP BY 1, 2 ORDER BY event_type, bin"""),
    doc = "SURVEY §2.5 A5 [NS] equal-width histogram (exact integer bins)")

  /** [NS] — exact correlation gate: is |pearson(value, hour-of-day)| >
    * 1/4 per event type, decided WITHOUT float correlation — compare
    * r²'s integer rational: `16·(n·Sxy − Sx·Sy)² > (n·Sxx − Sx²)·
    * (n·Syy − Sy²)` over scaled-integer values in decimal(38,0) (HUGEINT
    * oracle side), so the verdict is bit-stable under any partitioning
    * (float corr() differs in the last ulp between engines and between
    * partial-agg orders). Sign reported separately from sign(n·Sxy −
    * Sx·Sy), also exact. */
  val q89CorrGate = Q(
    "q89_corr_gate",
    (s, d) => {
      import s.implicits._
      val e = Tables.events(s, d)
        .select($"event_type",
          round($"value" * 100, 0).cast("long").as("x"),
          hour($"ts").cast("long").as("y"))
      val dec = (c: org.apache.spark.sql.Column) => c.cast("decimal(38,0)")
      val cov = dec($"n") * $"sxy" - $"sx" * $"sy"
      val varx = dec($"n") * $"sxx" - $"sx" * $"sx"
      val vary = dec($"n") * $"syy" - $"sy" * $"sy"
      e.groupBy($"event_type")
        .agg(count(lit(1)).as("n"),
          sum(dec($"x")).as("sx"), sum(dec($"y")).as("sy"),
          sum(dec($"x") * $"x").as("sxx"), sum(dec($"y") * $"y").as("syy"),
          sum(dec($"x") * $"y").as("sxy"))
        .select($"event_type", $"n",
          (lit(16) * cov * cov > varx * vary).as("corr_gt_quarter"),
          when(cov > 0, 1L).when(cov < 0, -1L).otherwise(0L)
            .as("corr_sign"))
        .orderBy($"event_type")
    },
    Some("""WITH e AS (SELECT event_type,
        CAST(round(value * 100) AS BIGINT) AS x,
        CAST(hour(ts) AS BIGINT) AS y FROM events),
      st AS (SELECT event_type, count(*) AS n,
          CAST(sum(x) AS HUGEINT) AS sx, CAST(sum(y) AS HUGEINT) AS sy,
          CAST(sum(CAST(x AS HUGEINT) * x) AS HUGEINT) AS sxx,
          CAST(sum(CAST(y AS HUGEINT) * y) AS HUGEINT) AS syy,
          CAST(sum(CAST(x AS HUGEINT) * y) AS HUGEINT) AS sxy
        FROM e GROUP BY 1)
      SELECT event_type, n,
        16 * (n * sxy - sx * sy) * (n * sxy - sx * sy)
          > (n * sxx - sx * sx) * (n * syy - sy * sy) AS corr_gt_quarter,
        CAST(CASE WHEN n * sxy - sx * sy > 0 THEN 1
          WHEN n * sxy - sx * sy < 0 THEN -1 ELSE 0 END AS BIGINT)
          AS corr_sign
      FROM st ORDER BY event_type"""),
    doc = "[NS] exact integer-rational correlation gate (|r| > 1/4, no float corr)")

  /** SURVEY §2.5 A5 [NS] — exact discrete order statistics WITHOUT a full
    * sort of the fact table: aggregate to (type, value, count) first,
    * then a cumulative-count window over the (small) distinct-value list
    * picks p50/p90 as TRUE data values (percentile_disc semantics:
    * min v with cum ≥ ceil(p·n), all integer arithmetic), plus the mode
    * with a deterministic smallest-value tie-break. The raw table is
    * touched by ONE hash aggregate; no window ever sees a fact-sized
    * partition — the way order statistics stay exact at 100 TB. */
  val q91OrderStats = Q(
    "q91_order_stats",
    (s, d) => {
      import s.implicits._
      val w = Window.partitionBy($"event_type").orderBy($"v")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      Tables.events(s, d)
        .select($"event_type", round($"value" * 100, 0).cast("long").as("v"))
        .groupBy($"event_type", $"v").agg(count(lit(1)).as("c"))
        .withColumn("cum", sum($"c").over(w))
        .withColumn("n", sum($"c").over(Window.partitionBy($"event_type")))
        .groupBy($"event_type")
        .agg(min(when($"cum" >= expr("(n + 1) div 2"), $"v")).as("p50"),
          min(when($"cum" >= expr("(9 * n + 9) div 10"), $"v")).as("p90"),
          max(struct($"c", (-$"v").as("nv"))).as("m"))
        .select($"event_type", $"p50", $"p90",
          (-$"m.nv").as("mode_v"), $"m.c".as("mode_count"))
        .orderBy($"event_type")
    },
    Some("""WITH e AS (SELECT event_type,
        CAST(round(value * 100) AS BIGINT) AS v FROM events),
      c AS (SELECT event_type, v, count(*) AS c FROM e GROUP BY 1, 2),
      cc AS (SELECT *, sum(c) OVER (PARTITION BY event_type ORDER BY v
          ROWS UNBOUNDED PRECEDING) AS cum,
        sum(c) OVER (PARTITION BY event_type) AS n FROM c)
      SELECT event_type,
        min(CASE WHEN cum >= (n + 1) // 2 THEN v END) AS p50,
        min(CASE WHEN cum >= (9 * n + 9) // 10 THEN v END) AS p90,
        first(v ORDER BY c DESC, v) AS mode_v,
        max(c) AS mode_count
      FROM cc GROUP BY event_type ORDER BY event_type"""),
    doc = "SURVEY §2.5 A5 [NS] exact percentile_disc + mode over value counts")

  /** [NS] — POINT-IN-TIME join ([[graft.operators.Temporal.pitJoin]]):
    * attribute each purchase to the sessionization interval (q19's
    * >30-min-gap sessions as [start, next-start) versions per user)
    * active at its timestamp — the feature-store join that keeps
    * training features leak-free (joining "current" state trains on the
    * future). Runs as the q21 union+window as-of: ONE exchange on
    * user_id, no candidate pairs; the oracle is the interval LEFT JOIN,
    * exact because versions never overlap. */
  val q146PitJoin = Q(
    "q146_pit_join",
    (s, d) => {
      import s.implicits._
      val ev = Tables.events(s, d)
      val wseq = Window.partitionBy($"user_id").orderBy($"ts", $"event_id")
      val marked = ev.select($"user_id", $"ts", $"event_id")
        .withColumn("prev_us", lag(unix_micros($"ts"), 1).over(wseq))
        .withColumn("new_s",
          when($"prev_us".isNull ||
            (unix_micros($"ts") - $"prev_us") > 1800L * 1000000L, 1L)
            .otherwise(0L))
      val sessions = marked.filter($"new_s" === 1L)
        .withColumn("from_us", unix_micros($"ts"))
        .withColumn("session_no", row_number().over(
          Window.partitionBy($"user_id").orderBy($"from_us", $"event_id"))
          .cast("long"))
        .withColumn("to_us", lead($"from_us", 1).over(
          Window.partitionBy($"user_id").orderBy($"from_us")))
        .select($"user_id", $"from_us", $"to_us", $"session_no")
      val purchases = ev.filter($"event_type" === "purchase")
        .select($"user_id", $"event_id", unix_micros($"ts").as("ts_us"))
      graft.operators.Temporal.pitJoin(purchases, sessions, "user_id",
          "ts_us", "from_us", "to_us", Seq("session_no"))
        .orderBy($"user_id", $"event_id")
    },
    Some("""WITH m AS (SELECT user_id, event_id, epoch_us(ts) AS us,
        CASE WHEN lag(epoch_us(ts)) OVER
            (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
          OR epoch_us(ts) - lag(epoch_us(ts)) OVER
            (PARTITION BY user_id ORDER BY ts, event_id) > 1800000000
          THEN 1 ELSE 0 END AS new_s
        FROM events),
      s0 AS (SELECT user_id, us AS from_us,
          CAST(row_number() OVER (PARTITION BY user_id
            ORDER BY us, event_id) AS BIGINT) AS session_no
        FROM m WHERE new_s = 1),
      s AS (SELECT user_id, from_us,
          lead(from_us) OVER (PARTITION BY user_id ORDER BY from_us)
            AS to_us,
          session_no
        FROM s0),
      p AS (SELECT user_id, event_id, epoch_us(ts) AS ts_us
        FROM events WHERE event_type = 'purchase')
      SELECT p.user_id, p.event_id, p.ts_us, s.session_no
      FROM p LEFT JOIN s ON s.user_id = p.user_id
        AND p.ts_us >= s.from_us
        AND (s.to_us IS NULL OR p.ts_us < s.to_us)
      ORDER BY p.user_id, p.event_id"""),
    doc = "[NS] point-in-time join: purchases -> active session interval (leak-free)")

  /** [NS] — survivorship merge / golden record (q170):
    * [[graft.operators.Analytics.survivorship]] fuses each user's event
    * history into one row where every attribute independently keeps its
    * most recent NON-NULL observation. The fixture has no NULLs, so the
    * query derives sparse observations (value is unobserved on error
    * events, props on view events) — exactly the partial-record shape
    * CDC/MDM merges see; a latest-row-wins merge would clobber a known
    * value with a newer row's NULL, which this operator never does. One
    * exchange on the key; the per-attribute windows and the final
    * groupBy all ride it. */
  val q170Survivorship = Q(
    "q170_survivorship",
    (s, d) => {
      import s.implicits._
      val ev = Tables.events(s, d)
        .withColumn("value_o", when($"event_type" =!= "error", $"value"))
        .withColumn("props_o", when($"event_type" =!= "view", $"props"))
      graft.operators.Analytics.survivorship(ev, "user_id", "ts",
          "event_id", Seq("value_o", "props_o"))
        .orderBy($"user_id")
    },
    Some("""WITH o AS (SELECT user_id, event_id, ts,
          CASE WHEN event_type <> 'error' THEN value END AS value_o,
          CASE WHEN event_type <> 'view' THEN props END AS props_o
        FROM events),
      r AS (SELECT *,
          row_number() OVER (PARTITION BY user_id ORDER BY
            (value_o IS NOT NULL) DESC, ts DESC, event_id DESC) AS rv,
          row_number() OVER (PARTITION BY user_id ORDER BY
            (props_o IS NOT NULL) DESC, ts DESC, event_id DESC) AS rp
        FROM o)
      SELECT user_id, CAST(count(*) AS BIGINT) AS n_records,
        max(CASE WHEN rv = 1 THEN value_o END) AS value_o,
        max(CASE WHEN rp = 1 THEN props_o END) AS props_o
      FROM r GROUP BY user_id ORDER BY user_id"""),
    doc = "[NS] survivorship merge: per-attribute latest non-null wins (golden record)")

  /** [NS] — event-time disorder / watermark audit (q182): per stream
    * (event type), each event's lateness against the running event-time
    * high-water mark in ARRIVAL order (event_id) — the measurement that
    * tells a streaming pipeline what watermark delay it actually needs
    * (`withWatermark("30 minutes")` is a claim; this query checks it
    * against the data). One per-stream cumulative-max window; exact
    * micros arithmetic. */
  val q182LatenessAudit = Q(
    "q182_lateness_audit",
    (s, d) => {
      import s.implicits._
      val w = Window.partitionBy($"event_type").orderBy($"event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      Tables.events(s, d)
        .withColumn("us", unix_micros($"ts"))
        .withColumn("lag_us", max($"us").over(w) - $"us")
        .groupBy($"event_type")
        .agg(count(lit(1)).as("n"),
          count(when($"lag_us" > 1800000000L, 1)).as("n_late"),
          max($"lag_us").as("max_lag_us"),
          sum($"lag_us").as("sum_lag_us"))
        .orderBy($"event_type")
    },
    Some("""WITH l AS (SELECT event_type,
          max(epoch_us(ts)) OVER (PARTITION BY event_type ORDER BY event_id
            ROWS UNBOUNDED PRECEDING) - epoch_us(ts) AS lag_us
        FROM events)
      SELECT event_type, CAST(count(*) AS BIGINT) AS n,
        CAST(count(CASE WHEN lag_us > 1800000000 THEN 1 END) AS BIGINT)
          AS n_late,
        max(lag_us) AS max_lag_us,
        CAST(sum(lag_us) AS BIGINT) AS sum_lag_us
      FROM l GROUP BY event_type ORDER BY event_type"""),
    doc = "[NS] event-time disorder audit (empirical watermark requirement)")

  /** [NS] — nearest-event join (q186): each purchase picks the single
    * nearest click of the same user within ±2 h
    * ([[graft.operators.Temporal.nearestJoin]]) — the fourth temporal
    * join shape (as-of q21 looks only backward; range q64 returns every
    * candidate). Bin equi-join bounds candidates to actual in-window
    * density; ties at equal |gap| break on (right ts, click id)
    * identically in both engines. */
  val q186NearestJoin = Q(
    "q186_nearest_join",
    (s, d) => {
      import s.implicits._
      val ev = Tables.events(s, d).withColumn("us", unix_micros($"ts"))
      val p = ev.filter($"event_type" === "purchase")
        .select($"event_id".as("pid"), $"user_id", $"us".as("pts"))
      val c = ev.filter($"event_type" === "click")
        .select($"event_id".as("click_id"), $"user_id", $"us".as("cts"))
      graft.operators.Temporal.nearestJoin(p, c, "user_id", "pid",
          "pts", "cts", maxGapUs = 7200000000L, tieCols = Seq("click_id"))
        .select($"pid", $"user_id", $"click_id", $"gap_us")
        .orderBy($"pid")
    },
    Some("""WITH p AS (SELECT event_id AS pid, user_id, epoch_us(ts)
          AS pts FROM events WHERE event_type = 'purchase'),
      c AS (SELECT event_id AS click_id, user_id, epoch_us(ts) AS cts
        FROM events WHERE event_type = 'click'),
      cand AS (SELECT p.pid, p.user_id, c.click_id, c.cts - p.pts
          AS gap_us
        FROM p JOIN c USING (user_id)
        WHERE c.cts >= p.pts - 7200000000
          AND c.cts <= p.pts + 7200000000),
      r AS (SELECT *, row_number() OVER (PARTITION BY pid
          ORDER BY abs(gap_us), gap_us, click_id) AS rn FROM cand)
      SELECT pid, user_id, click_id, gap_us FROM r WHERE rn = 1
      ORDER BY pid"""),
    doc = "[NS] nearest-event join (argmin |gap| within a bounded window)")

  /** [NS] — embargoed temporal split (q192): train < cutoff − 1 day,
    * test ≥ cutoff, the 1-day band between EXCLUDED from both
    * ([[graft.operators.Curation.temporalSplit]]) — the purged
    * time-series holdout that stops lookback features from reading
    * test-period signal into late train rows. Cutoff = 80% of the
    * corpus time span (two 1-row aggregates, exact integer micros —
    * collected once; the cutoff is pipeline CONFIG, the same
    * driver-known-scalar shape as AnnIndex's probe list). */
  val q192TemporalSplit = Q(
    "q192_temporal_split",
    (s, d) => {
      import s.implicits._
      val ev = Tables.events(s, d).withColumn("us", unix_micros($"ts"))
      val Array(lo, hi) = ev.agg(min($"us"), max($"us"))
        .collect().head.toSeq.map(_.asInstanceOf[Long]).toArray
      val cutoff = lo + ((hi - lo) * 80) / 100
      graft.operators.Curation
        .temporalSplit(ev, "us", cutoff, embargoUs = 86400000000L)
        .groupBy($"split", $"event_type")
        .agg(count(lit(1)).as("n"),
          sum(round($"value" * 100).cast("long")).as("sum_c"))
        .orderBy($"split", $"event_type")
    },
    Some("""WITH mm AS (SELECT min(epoch_us(ts)) AS lo,
          max(epoch_us(ts)) AS hi FROM events),
      sp AS (SELECT event_type, value,
          CASE WHEN epoch_us(ts) < lo + ((hi - lo) * 80) // 100
              - 86400000000 THEN 'train'
            WHEN epoch_us(ts) >= lo + ((hi - lo) * 80) // 100
              THEN 'test'
            ELSE 'embargo' END AS split
        FROM events CROSS JOIN mm)
      SELECT split, event_type, CAST(count(*) AS BIGINT) AS n,
        CAST(sum(CAST(round(value * 100.0) AS BIGINT)) AS BIGINT) AS sum_c
      FROM sp GROUP BY split, event_type
      ORDER BY split, event_type"""),
    doc = "[NS] embargoed temporal split (purged time-series holdout)")

  /** [NS] — leave-last-out holdout (q193): every user's latest event is
    * the test row, the rest train
    * ([[graft.operators.Curation.leaveLastOut]]) — the next-item
    * evaluation protocol. Membership certified by an xor digest of the
    * event ids per split, not just counts. */
  val q193LeaveLastOut = Q(
    "q193_leave_last_out",
    (s, d) => {
      import s.implicits._
      graft.operators.Curation
        .leaveLastOut(Tables.events(s, d), "user_id", "ts", "event_id")
        .groupBy($"split")
        .agg(count(lit(1)).as("n"),
          countDistinct($"user_id").as("n_users"),
          expr("bit_xor(event_id)").as("ids_xor"))
        .orderBy($"split")
    },
    Some("""WITH r AS (SELECT *, row_number() OVER (PARTITION BY user_id
          ORDER BY ts DESC, event_id DESC) AS rn FROM events)
      SELECT CASE WHEN rn = 1 THEN 'test' ELSE 'train' END AS split,
        CAST(count(*) AS BIGINT) AS n,
        CAST(count(DISTINCT user_id) AS BIGINT) AS n_users,
        bit_xor(event_id) AS ids_xor
      FROM r GROUP BY 1 ORDER BY split"""),
    doc = "[NS] leave-last-out holdout (next-item eval protocol, xor-certified)")

  /** [NS] — sequential-pattern support (q204): for every ordered event-
    * type pair (a, b), how many users ever did a BEFORE b — the
    * "A then B" support counts of sequence mining, where q159's Markov
    * matrix sees only ADJACENT transitions. The trick that keeps it
    * linear: "∃ a before b" ⟺ first(a) < last(b), so per-user state is
    * one (min_ts, max_ts) pair per type (bounded by the type alphabet,
    * never by activity), and the pair frame is a per-user self-join of
    * ≤|types| rows. Exact user counts + support in ppm of the user
    * population. */
  val q204SeqSupport = Q(
    "q204_seq_support",
    (s, d) => {
      import s.implicits._
      val ev = Tables.events(s, d).withColumn("us", unix_micros($"ts"))
      val spans = ev.groupBy($"user_id", $"event_type")
        .agg(min($"us").as("first_us"), max($"us").as("last_us"))
      val nUsers = ev.agg(countDistinct($"user_id").as("_nu"))
      spans.as("a").join(spans.as("b"), Seq("user_id"))
        .filter($"a.event_type" =!= $"b.event_type" &&
          $"a.first_us" < $"b.last_us")
        .groupBy($"a.event_type".as("type_a"),
          $"b.event_type".as("type_b"))
        .agg(count(lit(1)).as("n_users"))
        .crossJoin(broadcast(nUsers))
        .withColumn("support_ppm", expr("(n_users * 1000000) div _nu"))
        .drop("_nu")
        .orderBy($"type_a", $"type_b")
    },
    Some("""WITH spans AS (SELECT user_id, event_type,
          min(epoch_us(ts)) AS first_us, max(epoch_us(ts)) AS last_us
        FROM events GROUP BY 1, 2),
      nu AS (SELECT CAST(count(DISTINCT user_id) AS BIGINT) AS n
        FROM events)
      SELECT a.event_type AS type_a, b.event_type AS type_b,
        CAST(count(*) AS BIGINT) AS n_users,
        CAST((count(*) * 1000000) // nu.n AS BIGINT) AS support_ppm
      FROM spans a JOIN spans b ON a.user_id = b.user_id
        AND a.event_type <> b.event_type
        AND a.first_us < b.last_us, nu
      GROUP BY 1, 2, nu.n ORDER BY type_a, type_b"""),
    doc = "[NS] sequence support: users with a-before-b per type pair (bounded state)")

  /** [NS] — survival / hazard table (q205): per tenure day d, how many
    * users were still active (`at_risk`) and how many ended their
    * history that day (`churned`), with the discrete hazard rate
    * churned/at_risk in exact ppm — the Kaplan–Meier numerators and
    * denominators (the survival product itself is float-territory; the
    * exact ingredients are the engine's contract). Tenure is one
    * per-user aggregate; at-risk is a suffix count over the ≤|days|
    * aggregate rows (bounded window, never the data). */
  val q205Hazard = Q(
    "q205_hazard",
    (s, d) => {
      import s.implicits._
      val tenure = Tables.events(s, d)
        .groupBy($"user_id")
        .agg(datediff(max(to_date($"ts")), min(to_date($"ts")))
          .cast("long").as("tenure"))
      val byDay = tenure.groupBy($"tenure")
        .agg(count(lit(1)).as("churned"))
      val w = Window.orderBy($"tenure".desc)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      byDay
        .withColumn("at_risk", sum($"churned").over(w))
        .withColumn("hazard_ppm",
          expr("(1000000 * churned) div at_risk"))
        .orderBy($"tenure")
    },
    Some("""WITH t AS (SELECT user_id,
          CAST(date_diff('day', min(CAST(ts AS DATE)),
            max(CAST(ts AS DATE))) AS BIGINT) AS tenure
        FROM events GROUP BY user_id),
      b AS (SELECT tenure, CAST(count(*) AS BIGINT) AS churned FROM t
        GROUP BY tenure),
      c AS (SELECT *, CAST(sum(churned) OVER (ORDER BY tenure DESC
          ROWS UNBOUNDED PRECEDING) AS BIGINT) AS at_risk FROM b)
      SELECT tenure, churned, at_risk,
        CAST((1000000 * churned) // at_risk AS BIGINT) AS hazard_ppm
      FROM c ORDER BY tenure"""),
    doc = "[NS] survival/hazard table (exact Kaplan-Meier ingredients per tenure day)")

  /** [NS] — pseudonymized release audit (q232):
    * [[graft.operators.Curation.pseudonymize]] applied to the user key
    * — the release-engineering counterpart of q66's redaction (which
    * destroys join keys) and q195's k-anonymity (which generalizes
    * them): equal users map to equal pseudonyms, so per-type distinct
    * counts are PRESERVED (raw ≡ pseudo, visible in the output), and
    * the xor digest certifies the exact pseudonym set byte-for-byte. */
  val q232Pseudonymize = Q(
    "q232_pseudonymize",
    (s, d) => {
      import s.implicits._
      Tables.events(s, d)
        .withColumn("pseudo",
          graft.operators.Curation.pseudonymize($"user_id", "rel7"))
        .groupBy($"event_type")
        .agg(count(lit(1)).as("n"),
          countDistinct($"user_id").as("n_users_raw"),
          countDistinct($"pseudo").as("n_users_pseudo"),
          expr("bit_xor(cast(conv(substring(pseudo, 1, 15), 16, 10) " +
            "as bigint))").as("pseudo_xor"))
        .orderBy($"event_type")
    },
    Some("""WITH p AS (SELECT event_type, user_id,
          md5('rel7:' || CAST(user_id AS VARCHAR)) AS pseudo
        FROM events)
      SELECT event_type, CAST(count(*) AS BIGINT) AS n,
        CAST(count(DISTINCT user_id) AS BIGINT) AS n_users_raw,
        CAST(count(DISTINCT pseudo) AS BIGINT) AS n_users_pseudo,
        bit_xor(CAST('0x' || substr(pseudo, 1, 15) AS BIGINT))
          AS pseudo_xor
      FROM p GROUP BY event_type ORDER BY event_type"""),
    doc = "[NS] pseudonymized release (join-preserving key hashing, xor-certified)")

  /** [NS] — conversion latency by signup cohort (q233): per weekly
    * signup cohort, how many users converted (first purchase at or
    * after first signup) and how fast — exact conversion share in ppm
    * and the LOWER-median seconds-to-convert (the engine's median
    * convention, per-cohort windows). The funnel (q77) counts step
    * coverage; this measures the TIME dimension product teams actually
    * tune against. */
  val q233TimeToConvert = Q(
    "q233_time_to_convert",
    (s, d) => {
      import s.implicits._
      import org.apache.spark.sql.expressions.Window
      val ev = Tables.events(s, d)
      val su = ev.filter($"event_type" === "signup")
        .groupBy($"user_id").agg(min($"ts").as("s_ts"))
      val delta = ev.filter($"event_type" === "purchase")
        .join(su, Seq("user_id")).filter($"ts" >= $"s_ts")
        .groupBy($"user_id")
        .agg(((min(unix_micros($"ts")) - min(unix_micros($"s_ts")))
          / lit(1000000L)).cast("long").as("delta_s"))
      val coh = su
        .withColumn("cohort_week", to_date(date_trunc("week", $"s_ts")))
        .join(delta, Seq("user_id"), "left")
      val wk = Window.partitionBy($"cohort_week")
      val conv = coh.filter($"delta_s".isNotNull)
        .withColumn("_n", count(lit(1)).over(wk))
        .withColumn("_rn", row_number().over(
          Window.partitionBy($"cohort_week")
            .orderBy($"delta_s", $"user_id")))
        .groupBy($"cohort_week")
        .agg(max(when($"_rn" === expr("(_n + 1) div 2"), $"delta_s"))
          .as("med_delta_s"))
      coh.groupBy($"cohort_week")
        .agg(count(lit(1)).as("n_signups"),
          count($"delta_s").as("n_converted"))
        .withColumn("conv_ppm",
          expr("(1000000 * n_converted) div n_signups"))
        .join(conv, Seq("cohort_week"), "left")
        .orderBy($"cohort_week")
    },
    Some("""WITH su AS (SELECT user_id, min(ts) AS s_ts FROM events
        WHERE event_type = 'signup' GROUP BY user_id),
      dl AS (SELECT e.user_id,
          CAST((min(epoch_us(e.ts)) - min(epoch_us(su.s_ts))) // 1000000
            AS BIGINT) AS delta_s
        FROM events e JOIN su USING (user_id)
        WHERE e.event_type = 'purchase' AND e.ts >= su.s_ts
        GROUP BY e.user_id),
      coh AS (SELECT su.user_id,
          CAST(date_trunc('week', s_ts) AS DATE) AS cohort_week,
          dl.delta_s
        FROM su LEFT JOIN dl USING (user_id)),
      med AS (SELECT cohort_week,
          max(CASE WHEN rn = (nn + 1) // 2 THEN delta_s END)
            AS med_delta_s
        FROM (SELECT cohort_week, delta_s,
            count(*) OVER (PARTITION BY cohort_week) AS nn,
            row_number() OVER (PARTITION BY cohort_week
              ORDER BY delta_s, user_id) AS rn
          FROM coh WHERE delta_s IS NOT NULL)
        GROUP BY cohort_week),
      agg AS (SELECT cohort_week, CAST(count(*) AS BIGINT) AS n_signups,
          CAST(count(delta_s) AS BIGINT) AS n_converted
        FROM coh GROUP BY cohort_week)
      SELECT a.cohort_week, n_signups, n_converted,
        CAST((1000000 * n_converted) // n_signups AS BIGINT) AS conv_ppm,
        med_delta_s
      FROM agg a LEFT JOIN med USING (cohort_week)
      ORDER BY cohort_week"""),
    doc = "[NS] conversion latency by signup cohort (exact ppm share, lower-median seconds)")

  /** [NS] — automation-rate audit (q246): per-user inter-event-gap
    * regularity — scripted traffic fires on a clock, so its gap
    * distribution collapses (few DISTINCT gap values, tiny minimum)
    * where organic use is ragged. Per user with ≥20 gaps: gap count,
    * distinct-gap count, min/floor-mean gap in µs, and
    * `regularity_ppm = 10⁶ · distinct div total` — the 20 most
    * machine-like users surface first. This is the bot pre-filter a
    * training pipeline runs BEFORE engagement signals feed sampling
    * weights (q165/q178) — one scripted user otherwise buys its
    * content a weight it didn't earn. Per-user lag window (parallel
    * across users, never global); exact per-user distinct count is
    * bounded by that user's own event count. */
  val q246RateAudit = Q(
    "q246_rate_audit",
    (s, d) => {
      import s.implicits._
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy($"user_id").orderBy($"t", $"event_id")
      val gaps = Tables.events(s, d)
        .filter($"user_id".isNotNull)
        .select($"user_id", unix_micros($"ts").as("t"), $"event_id")
        .withColumn("prev", lag($"t", 1).over(w))
        .filter($"prev".isNotNull)
        .select($"user_id", ($"t" - $"prev").as("gap_us"))
      gaps.groupBy($"user_id")
        .agg(count(lit(1)).as("n_gaps"),
          countDistinct($"gap_us").as("n_distinct_gaps"),
          min($"gap_us").as("min_gap_us"),
          sum($"gap_us").as("_sum"))
        .filter($"n_gaps" >= 20)
        .withColumn("mean_gap_us", expr("_sum div n_gaps"))
        .withColumn("regularity_ppm",
          expr("(1000000 * n_distinct_gaps) div n_gaps"))
        .select($"user_id", $"n_gaps", $"n_distinct_gaps",
          $"min_gap_us", $"mean_gap_us", $"regularity_ppm")
        .orderBy($"regularity_ppm".asc, $"user_id")
        .limit(20)
    },
    Some("""WITH e AS (SELECT user_id, epoch_us(ts) AS t, event_id
        FROM events WHERE user_id IS NOT NULL),
      g AS (SELECT user_id, t - lag(t, 1) OVER (PARTITION BY user_id
          ORDER BY t, event_id) AS gap_us FROM e),
      gg AS (SELECT user_id, gap_us FROM g WHERE gap_us IS NOT NULL),
      a AS (SELECT user_id, CAST(count(*) AS BIGINT) AS n_gaps,
          CAST(count(DISTINCT gap_us) AS BIGINT) AS n_distinct_gaps,
          CAST(min(gap_us) AS BIGINT) AS min_gap_us,
          CAST(sum(gap_us) AS BIGINT) AS s
        FROM gg GROUP BY user_id HAVING count(*) >= 20)
      SELECT user_id, n_gaps, n_distinct_gaps, min_gap_us,
        CAST(s // n_gaps AS BIGINT) AS mean_gap_us,
        CAST((1000000 * n_distinct_gaps) // n_gaps AS BIGINT)
          AS regularity_ppm
      FROM a ORDER BY regularity_ppm ASC, user_id LIMIT 20"""),
    doc = "[NS] bot/automation gap-regularity audit (distinct-gap collapse, exact ppm)")

  /** One time-respecting relaxation round as SQL: candidate arrivals
    * through contacts usable from the previous round's `aPrev`
    * (contact time ≥ the source's arrival), merged by explicit
    * NULL-aware min — [[graft.operators.Temporal.timeRespectingReach]]
    * verbatim. */
  private def reachRoundSql(i: Int, aPrev: String): String =
    s"""p$i AS (SELECT und.v AS n, CAST(min(und.ct) AS BIGINT) AS cand
        FROM und JOIN $aPrev p ON p.n = und.u WHERE und.ct >= p.at
        GROUP BY und.v),
      a$i AS MATERIALIZED (SELECT coalesce(p.n, c.n) AS n,
          CASE WHEN p.at IS NULL THEN c.cand
            WHEN c.cand IS NULL THEN p.at
            ELSE least(p.at, c.cand) END AS at
        FROM $aPrev p FULL JOIN p$i c ON c.n = p.n)"""

  /** [NS] — time-respecting reachability (q253): who can the earliest
    * active user have "infected" within 3 hops, where influence only
    * flows along contacts in time order ([[graft.operators.Temporal
    * .timeRespectingReach]])? Contacts = two users touching the same
    * item within 1 hour (per-item earliest-20 cap — the coOccurrence
    * degree-cap convention holds hot-item pair volume at C(20,2)).
    * Static BFS over the same graph would overcount: a path whose
    * second contact happened before its first carries nothing. The
    * account-compromise / misinformation-cascade audit shape. */
  val q253TemporalReach = Q(
    "q253_temporal_reach",
    (s, d) => {
      import s.implicits._
      val i = Tables.events(s, d)
        .withColumn("item", get_json_object($"props", "$.k").cast("long"))
        .filter($"user_id".isNotNull && $"item".isNotNull)
        .select($"user_id".as("u"), unix_micros($"ts").as("t"),
          $"event_id", $"item")
      val cap = i.withColumn("_rn", row_number().over(
          Window.partitionBy($"item").orderBy($"t", $"event_id")))
        .filter($"_rn" <= 20)
      val ed = cap.as("a").join(cap.as("b"),
          $"a.item" === $"b.item" && $"a.u" < $"b.u" &&
            abs($"a.t" - $"b.t") <= 3600000000L)
        .select(least($"a.u", $"b.u").as("ua"),
          greatest($"a.u", $"b.u").as("ub"),
          greatest($"a.t", $"b.t").as("ct"))
        .distinct()
        .localCheckpoint(true) // seeds + reach both read the edge set
      val seeds = ed.agg(min($"ua").as("node"))
      graft.operators.Temporal
        .timeRespectingReach(ed, "ua", "ub", "ct", seeds, rounds = 3)
        .orderBy($"arrival_us", $"node")
    },
    Some(s"""WITH i AS (SELECT user_id AS u, epoch_us(ts) AS t, event_id,
          CAST(props->>'$$.k' AS BIGINT) AS item FROM events
        WHERE user_id IS NOT NULL AND (props->>'$$.k') IS NOT NULL),
      cap AS (SELECT u, t, item FROM (SELECT *, row_number() OVER
          (PARTITION BY item ORDER BY t, event_id) AS rn FROM i)
        WHERE rn <= 20),
      ed AS MATERIALIZED (SELECT DISTINCT least(a.u, b.u) AS ua,
          greatest(a.u, b.u) AS ub, greatest(a.t, b.t) AS ct
        FROM cap a JOIN cap b ON a.item = b.item AND a.u < b.u
        WHERE abs(a.t - b.t) <= 3600000000),
      und AS MATERIALIZED (SELECT ua AS u, ub AS v, ct FROM ed
        UNION SELECT ub, ua, ct FROM ed),
      a0 AS (SELECT n, CAST(0 AS BIGINT) AS at
        FROM (SELECT min(ua) AS n FROM ed)),
      ${reachRoundSql(1, "a0")},
      ${reachRoundSql(2, "a1")},
      ${reachRoundSql(3, "a2")}
      SELECT n AS node, at AS arrival_us FROM a3
      ORDER BY arrival_us, node"""),
    doc = "[NS] temporal (time-respecting) reachability, 3 hops from the earliest node")

  /** [NS] — right-to-be-forgotten audit (q254): purge a forget-set of
    * users (user_id ≡ 0 mod 29) from the raw log AND its derived
    * artifacts, and certify completeness per artifact in one ledger:
    * (n_before, n_removed, n_after, n_residue). Residues are REAL
    * recounts, not arithmetic: events/sessions re-join the purged data
    * against the forget list (semi-join membership — the mechanism a
    * deletion verifier actually runs), and the co-occurrence artifact
    * is purged DECREMENTALLY (per-pair support minus the forget-users'
    * support, drop at zero) with its residue the exact multiset diff
    * against a from-scratch rebuild on the remaining users — green
    * proves decremental forget ≡ rebuild, the deletion analogue of
    * q242's join-delta law. Every derived table a user's data reached
    * needs this row; "we deleted the events" is the easy third. */
  val q254ForgetAudit = Q(
    "q254_forget_audit",
    (s, d) => {
      import s.implicits._
      val ev = Tables.events(s, d).filter($"user_id".isNotNull)
        .localCheckpoint(true) // read by every artifact branch below
      val isF = $"user_id" % 29 === 0
      val forget = ev.filter(isF).select($"user_id").distinct()
        .localCheckpoint(true)
      val rem = ev.filter(!isF)
      val e0 = ev.agg(count(lit(1)).as("n_before"),
        count(when(isF, 1)).as("n_removed"))
      val eRes = rem.join(forget, Seq("user_id"), "left_semi")
        .agg(count(lit(1)).as("n_residue"))
      val eRow = e0.crossJoin(broadcast(eRes))
        .select(lit("events").as("artifact"), $"n_before", $"n_removed",
          ($"n_before" - $"n_removed").as("n_after"), $"n_residue")
      def sessionStarts(df: DataFrame) = df
        .select($"user_id", unix_micros($"ts").as("t"), $"event_id")
        .withColumn("prev", lag($"t", 1).over(
          Window.partitionBy($"user_id").orderBy($"t", $"event_id")))
        .withColumn("ns", when($"prev".isNull ||
          $"t" - $"prev" > 1800000000L, 1L).otherwise(0L))
      val s0 = sessionStarts(ev).agg(sum($"ns").as("n_before"),
        sum(when(isF, $"ns").otherwise(0L)).as("n_removed"))
      val sRes = sessionStarts(rem)
        .join(forget, Seq("user_id"), "left_semi")
        .agg(coalesce(sum($"ns"), lit(0L)).as("n_residue"))
      val sRow = s0.crossJoin(broadcast(sRes))
        .select(lit("sessions").as("artifact"), $"n_before",
          $"n_removed", ($"n_before" - $"n_removed").as("n_after"),
          $"n_residue")
      val inter = ev.withColumn("item",
          get_json_object($"props", "$.k").cast("long"))
        .filter($"item".isNotNull).select($"user_id", $"item")
      // the per-user item cap is user-local, so ONE capped frame serves
      // all three populations (full / forget-only / remaining) — the
      // q201 coOccurrence semantics inlined without its containment
      // columns, which this audit discards anyway
      val capped = inter.groupBy($"user_id", $"item")
        .agg(count(lit(1)).as("w"))
        .withColumn("_r", row_number().over(
          Window.partitionBy($"user_id").orderBy($"w".desc, $"item")))
        .filter($"_r" <= 10).select($"user_id", $"item")
        .localCheckpoint(true)
      def wedge(c: DataFrame): DataFrame = c.as("a")
        .join(c.as("b"), $"a.user_id" === $"b.user_id" &&
          $"a.item" < $"b.item")
        .groupBy($"a.item".as("item_a"), $"b.item".as("item_b"))
        .agg(count(lit(1)).as("n_users"))
      val pb = wedge(capped).localCheckpoint(true)
      val pd = wedge(capped.filter($"user_id" % 29 === 0))
      val pa = pb
        .join(pd.select($"item_a", $"item_b", $"n_users".as("nd")),
          Seq("item_a", "item_b"), "left")
        .withColumn("n2", $"n_users" - coalesce($"nd", lit(0L)))
        .filter($"n2" >= 1)
        .select($"item_a", $"item_b", $"n2".as("n_users"))
        .localCheckpoint(true)
      val pr = wedge(capped.filter($"user_id" % 29 =!= 0))
        .localCheckpoint(true)
      val cRes = pa.exceptAll(pr).unionByName(pr.exceptAll(pa))
        .agg(count(lit(1)).as("n_residue"))
      val cRow = pb.agg(count(lit(1)).as("n_before"))
        .crossJoin(broadcast(pa.agg(count(lit(1)).as("n_after"))))
        .crossJoin(broadcast(cRes))
        .select(lit("cooc_pairs").as("artifact"), $"n_before",
          ($"n_before" - $"n_after").as("n_removed"), $"n_after",
          $"n_residue")
      eRow.unionByName(sRow).unionByName(cRow).orderBy($"artifact")
    },
    Some("""WITH ev AS MATERIALIZED (SELECT * FROM events
        WHERE user_id IS NOT NULL),
      fu AS (SELECT DISTINCT user_id FROM ev WHERE user_id % 29 = 0),
      rem AS (SELECT * FROM ev WHERE user_id % 29 <> 0),
      e0 AS (SELECT CAST(count(*) AS BIGINT) AS nb,
          CAST(count(CASE WHEN user_id % 29 = 0 THEN 1 END) AS BIGINT)
            AS nr FROM ev),
      eres AS (SELECT CAST(count(*) AS BIGINT) AS r FROM rem
        JOIN fu USING (user_id)),
      sess AS (SELECT user_id, CASE WHEN prev IS NULL
            OR t - prev > 1800000000 THEN 1 ELSE 0 END AS ns
        FROM (SELECT user_id, epoch_us(ts) AS t,
            lag(epoch_us(ts), 1) OVER (PARTITION BY user_id
              ORDER BY epoch_us(ts), event_id) AS prev FROM ev)),
      s0 AS (SELECT CAST(sum(ns) AS BIGINT) AS nb,
          CAST(sum(CASE WHEN user_id % 29 = 0 THEN ns ELSE 0 END)
            AS BIGINT) AS nr FROM sess),
      sessr AS (SELECT user_id, CASE WHEN prev IS NULL
            OR t - prev > 1800000000 THEN 1 ELSE 0 END AS ns
        FROM (SELECT user_id, epoch_us(ts) AS t,
            lag(epoch_us(ts), 1) OVER (PARTITION BY user_id
              ORDER BY epoch_us(ts), event_id) AS prev FROM rem)),
      sres AS (SELECT CAST(coalesce(sum(ns), 0) AS BIGINT) AS r
        FROM sessr JOIN fu USING (user_id)),
      it AS (SELECT user_id AS u, CAST(props->>'$.k' AS BIGINT) AS i
        FROM ev WHERE (props->>'$.k') IS NOT NULL),
      ic AS (SELECT u, i, count(*) AS w FROM it GROUP BY 1, 2),
      capped AS MATERIALIZED (SELECT u, i FROM (SELECT u, i, w,
          row_number() OVER (PARTITION BY u ORDER BY w DESC, i ASC)
            AS r FROM ic) WHERE r <= 10),
      pb AS MATERIALIZED (SELECT a.i AS ia, b.i AS ib,
          CAST(count(*) AS BIGINT) AS n
        FROM capped a JOIN capped b ON a.u = b.u AND a.i < b.i
        GROUP BY 1, 2),
      pd AS (SELECT a.i AS ia, b.i AS ib,
          CAST(count(*) AS BIGINT) AS n
        FROM capped a JOIN capped b ON a.u = b.u AND a.i < b.i
        WHERE a.u % 29 = 0 GROUP BY 1, 2),
      pa AS MATERIALIZED (SELECT ia, ib,
          pb.n - coalesce(pd.n, 0) AS n
        FROM pb LEFT JOIN pd USING (ia, ib)
        WHERE pb.n - coalesce(pd.n, 0) >= 1),
      pr AS MATERIALIZED (SELECT a.i AS ia, b.i AS ib,
          CAST(count(*) AS BIGINT) AS n
        FROM capped a JOIN capped b ON a.u = b.u AND a.i < b.i
        WHERE a.u % 29 <> 0 GROUP BY 1, 2),
      res AS (SELECT CAST(count(*) AS BIGINT) AS r FROM (
          (SELECT ia, ib, n FROM pa EXCEPT ALL
            SELECT ia, ib, n FROM pr)
          UNION ALL
          (SELECT ia, ib, n FROM pr EXCEPT ALL
            SELECT ia, ib, n FROM pa)) x)
      SELECT 'events' AS artifact, nb AS n_before, nr AS n_removed,
        nb - nr AS n_after, (SELECT r FROM eres) AS n_residue FROM e0
      UNION ALL SELECT 'sessions', nb, nr, nb - nr,
        (SELECT r FROM sres) FROM s0
      UNION ALL SELECT 'cooc_pairs',
        (SELECT count(*) FROM pb),
        (SELECT count(*) FROM pb) - (SELECT count(*) FROM pa),
        (SELECT count(*) FROM pa), (SELECT r FROM res)
      ORDER BY artifact"""),
    doc = "[NS] right-to-be-forgotten ledger (decremental purge ≡ rebuild, real residue recounts)")

  /** [NS] — burstiness / overdispersion audit (q265): per event type,
    * the variance-to-mean ratio of DAILY counts in exact ppm (the
    * Poisson index of dispersion — a steady organic stream reads near
    * 10⁶; campaign spikes, replayed batches and scripted bursts read
    * far above). Cleared-denominator form 10⁶·(nΣx²−S²) div ((n−1)·S)
    * — ONE floor division, decimal(38,0) products. The stream-health
    * complement of q246: q246 finds machine-like USERS, this finds
    * machine-like DAYS. */
  val q265Dispersion = Q(
    "q265_dispersion",
    (s, d) => {
      import s.implicits._
      val d38 = "decimal(38,0)"
      Tables.events(s, d).filter($"event_type".isNotNull)
        .groupBy($"event_type", expr("CAST(ts AS DATE)").as("day"))
        .agg(count(lit(1)).as("x"))
        .groupBy($"event_type")
        .agg(count(lit(1)).as("n_days"),
          sum($"x").as("total"),
          sum(($"x" * $"x").cast(d38)).as("_q"))
        .select($"event_type", $"n_days",
          $"total", expr("total div n_days").as("mean_per_day"),
          expr(s"CASE WHEN n_days > 1 AND total > 0 THEN " +
            s"CAST(1000000 AS DECIMAL(38,0)) * " +
            s"(CAST(n_days AS DECIMAL(38,0)) * _q - " +
            s"CAST(total AS DECIMAL(38,0)) * total) div " +
            s"((n_days - 1) * CAST(total AS DECIMAL(38,0))) END")
            .as("dispersion_ppm"))
        .orderBy($"event_type")
    },
    Some("""WITH dc AS (SELECT event_type, CAST(ts AS DATE) AS day,
          CAST(count(*) AS BIGINT) AS x
        FROM events WHERE event_type IS NOT NULL
        GROUP BY event_type, CAST(ts AS DATE)),
      a AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n_days,
          CAST(sum(x) AS BIGINT) AS total,
          CAST(sum(x::HUGEINT * x) AS HUGEINT) AS q
        FROM dc GROUP BY event_type)
      SELECT event_type, n_days, total,
        total // n_days AS mean_per_day,
        CASE WHEN n_days > 1 AND total > 0 THEN
          CAST((1000000::HUGEINT * (n_days * q - total::HUGEINT * total))
            // ((n_days - 1)::HUGEINT * total) AS BIGINT) END
          AS dispersion_ppm
      FROM a ORDER BY event_type"""),
    doc = "[NS] daily-count overdispersion per event type (Poisson index, exact ppm)")

  /** [NS] — CUSUM changepoint scan (q266): per event type, the running
    * cumulative deviation of daily counts from the period's floor-mean,
    * and the day where |CUSUM| peaks — Page's classic level-shift
    * detector in exact integers (a regime change makes the cumulative
    * sum ramp; the peak marks the break). Where q265 asks "is this
    * stream bursty at all", this asks WHEN it changed — the two
    * readouts a traffic postmortem opens with. Per-type day window
    * (parallel across types), argmax by (|cusum| desc, day) rank. */
  val q266Cusum = Q(
    "q266_cusum",
    (s, d) => {
      import s.implicits._
      val dc = Tables.events(s, d).filter($"event_type".isNotNull)
        .groupBy($"event_type", expr("CAST(ts AS DATE)").as("day"))
        .agg(count(lit(1)).as("x"))
      val wt = Window.partitionBy($"event_type")
      val wo = Window.partitionBy($"event_type").orderBy($"day")
      val cs = dc
        .withColumn("m", expr("sum(x) OVER (PARTITION BY event_type) " +
          "div count(x) OVER (PARTITION BY event_type)"))
        .withColumn("cusum", sum($"x" - $"m").over(
          wo.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        .withColumn("n_days", count(lit(1)).over(wt))
        .withColumn("_rk", row_number().over(Window
          .partitionBy($"event_type")
          .orderBy(abs($"cusum").desc, $"day")))
      cs.filter($"_rk" === 1)
        .select($"event_type", $"day".as("break_day"),
          $"cusum".as("peak_cusum"), $"n_days")
        .orderBy($"event_type")
    },
    Some("""WITH dc AS (SELECT event_type, CAST(ts AS DATE) AS day,
          CAST(count(*) AS BIGINT) AS x
        FROM events WHERE event_type IS NOT NULL
        GROUP BY event_type, CAST(ts AS DATE)),
      m AS (SELECT *, sum(x) OVER (PARTITION BY event_type)
          // count(x) OVER (PARTITION BY event_type) AS m FROM dc),
      c AS (SELECT *, CAST(sum(x - m) OVER (PARTITION BY event_type
          ORDER BY day ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
          AS BIGINT) AS cusum FROM m),
      r AS (SELECT *, row_number() OVER (PARTITION BY event_type
          ORDER BY abs(cusum) DESC, day) AS rk,
          CAST(count(*) OVER (PARTITION BY event_type) AS BIGINT)
            AS n_days
        FROM c)
      SELECT event_type, day AS break_day, cusum AS peak_cusum, n_days
      FROM r WHERE rk = 1 ORDER BY event_type"""),
    doc = "[NS] CUSUM level-shift scan per event type (exact-integer Page detector)")

  /** [NS] — unbiased pass@k (q271): every user is a "problem", every
    * event an attempt, value ≥ 90 a success — the Chen et al. 2021
    * estimator ([[graft.operators.Analytics.passAtK]]) at k ∈
    * {1, 5, 10} in exact ppm. pass@1 is the plain success rate; the
    * k > 1 columns answer "if I sample k attempts, how often does at
    * least one succeed" — the retry-budget curve. The oracle replays
    * the clamped factorial-ratio products in HUGEINT. */
  val q271PassAtK = Q(
    "q271_pass_at_k",
    (s, d) => {
      import s.implicits._
      graft.operators.Analytics.passAtK(Tables.events(s, d),
          "user_id", $"value" >= 90.0, Seq(1, 5, 10))
        .orderBy($"user_id")
    },
    Some {
      def prodSql(base: String, k: Int): String =
        (0 until k).map(i =>
          s"greatest(($base) - $i, 0)::HUGEINT").mkString(" * ")
      def passSql(k: Int): String =
        s"""CASE WHEN n >= $k THEN CAST(1000000 -
          (1000000::HUGEINT * ${prodSql("n - c", k)})
          // (${prodSql("n", k)}) AS BIGINT) END AS pass${k}_ppm"""
      s"""WITH a AS (SELECT user_id, CAST(count(*) AS BIGINT) AS n,
          CAST(count(*) FILTER (WHERE value >= 90) AS BIGINT) AS c
        FROM events GROUP BY user_id)
      SELECT user_id, n, c, ${passSql(1)}, ${passSql(5)}, ${passSql(10)}
      FROM a ORDER BY user_id"""
    },
    doc = "[NS] unbiased pass@k per problem (Chen et al. 2021, exact ppm)")

  /** [NS] — day-of-week seasonality profile (q278): per event type ×
    * weekday slot, the seasonal index (slot daily-mean vs the type's
    * overall daily-mean, exact ppm via cleared denominators) plus
    * burst/drought day counts judged against the SLOT's own mean
    * (count·D_slot > 2·S_slot / 2·count·D_slot < S_slot) — the seasonal
    * complement of q265 (dispersion says bursty, q266 says when, this
    * says which weekday rhythm is NORMAL so Monday peaks stop paging
    * anyone). Weekday = datediff-mod-7 arithmetic (no engine dayofweek
    * convention to disagree on). Three (type, day)-keyed aggregates +
    * one slot-keyed join — bounded by days × types, never event rows. */
  val q278Seasonality = Q(
    "q278_seasonality",
    (s, d) => {
      import s.implicits._
      val days = Tables.events(s, d)
        .select($"event_type",
          expr("CAST(ts AS DATE)").as("day"))
        .groupBy($"event_type", $"day")
        .agg(count(lit(1)).as("c"))
        .withColumn("dow", expr(
          "((datediff(day, DATE '1995-01-01') % 7) + 7) % 7"))
        .localCheckpoint(true)
      val slot = days.groupBy($"event_type", $"dow")
        .agg(sum($"c").as("s_slot"), count(lit(1)).as("d_slot"))
      val tot = days.groupBy($"event_type")
        .agg(sum($"c").as("s_tot"), count(lit(1)).as("d_tot"))
      val flags = days.join(slot, Seq("event_type", "dow"))
        .groupBy($"event_type", $"dow")
        .agg(
          sum(when($"c" * $"d_slot" > $"s_slot" * 2, 1L).otherwise(0L))
            .as("n_burst"),
          sum(when($"c" * $"d_slot" * 2 < $"s_slot", 1L).otherwise(0L))
            .as("n_drought"))
      slot.join(flags, Seq("event_type", "dow"))
        .join(tot, Seq("event_type"))
        .select($"event_type", $"dow".cast("long").as("dow"), $"d_slot",
          $"s_slot",
          expr("CASE WHEN s_tot * d_slot > 0 THEN (1000000 * s_slot * " +
            "d_tot) div (s_tot * d_slot) END").as("index_ppm"),
          $"n_burst", $"n_drought")
        .orderBy($"event_type", $"dow")
    },
    Some("""WITH dc AS (SELECT event_type, CAST(ts AS DATE) AS day,
          CAST(count(*) AS BIGINT) AS c
        FROM events GROUP BY 1, 2),
      dd AS (SELECT *, ((date_diff('day', DATE '1995-01-01', day) % 7)
          + 7) % 7 AS dow FROM dc),
      slot AS (SELECT event_type, dow, sum(c) AS s_slot,
          CAST(count(*) AS BIGINT) AS d_slot
        FROM dd GROUP BY 1, 2),
      tot AS (SELECT event_type, sum(c) AS s_tot,
          CAST(count(*) AS BIGINT) AS d_tot
        FROM dd GROUP BY 1),
      fl AS (SELECT d.event_type, d.dow,
          CAST(sum(CASE WHEN d.c * s.d_slot > s.s_slot * 2
            THEN 1 ELSE 0 END) AS BIGINT) AS n_burst,
          CAST(sum(CASE WHEN d.c * s.d_slot * 2 < s.s_slot
            THEN 1 ELSE 0 END) AS BIGINT) AS n_drought
        FROM dd d JOIN slot s ON s.event_type = d.event_type
          AND s.dow = d.dow
        GROUP BY 1, 2)
      SELECT s.event_type, CAST(s.dow AS BIGINT) AS dow, s.d_slot,
        CAST(s.s_slot AS BIGINT) AS s_slot,
        CASE WHEN t.s_tot * s.d_slot > 0 THEN
          CAST((1000000 * s.s_slot * t.d_tot) // (t.s_tot * s.d_slot)
            AS BIGINT) END AS index_ppm,
        f.n_burst, f.n_drought
      FROM slot s JOIN fl f ON f.event_type = s.event_type
        AND f.dow = s.dow
        JOIN tot t ON t.event_type = s.event_type
      ORDER BY s.event_type, dow"""),
    doc = "[NS] day-of-week seasonal index + slot-relative burst/drought days")

  /** [NS] — market-basket association rules (q281): baskets are
    * (user, day) sessions, items the event types present; every
    * directed rule a→b scored with the classic support / confidence /
    * lift triple in exact ppm (lift's N·n_ab product runs in
    * decimal(38,0) — at 10⁹+ baskets the long path would overflow).
    * Complements q138 (co-occurrence finds PAIRS, degree-capped) and
    * q204 (sequential patterns respect ORDER): this is the unordered
    * rule-metric readout. Plan: one distinct over (user, day, type) —
    * basket width is bounded by |event types|, so the self-join's pair
    * volume is ≤ T² per basket, linear in baskets — then two broadcast
    * joins against the T-row item-count table. */
  val q281AssocRules = Q(
    "q281_assoc_rules",
    (s, d) => {
      import s.implicits._
      val b = Tables.events(s, d)
        .select($"user_id", expr("CAST(ts AS DATE)").as("day"),
          $"event_type")
        .distinct()
        .localCheckpoint(true) // read by both join sides + both counts
      val nb = b.select($"user_id", $"day").distinct()
        .agg(count(lit(1)).as("n_bk"))
      val ic = b.groupBy($"event_type").agg(count(lit(1)).as("n_i"))
      val pr = b.as("x")
        .join(b.as("y"), expr("y.user_id = x.user_id AND y.day = x.day" +
          " AND y.event_type <> x.event_type"))
        .groupBy($"x.event_type".as("antecedent"),
          $"y.event_type".as("consequent"))
        .agg(count(lit(1)).as("n_ab"))
      pr
        .join(broadcast(ic.select($"event_type".as("antecedent"),
          $"n_i".as("n_a"))), Seq("antecedent"))
        .join(broadcast(ic.select($"event_type".as("consequent"),
          $"n_i".as("n_c"))), Seq("consequent"))
        .crossJoin(broadcast(nb))
        .select($"antecedent", $"consequent", $"n_ab",
          expr("(1000000 * n_ab) div n_bk").as("supp_ppm"),
          expr("(1000000 * n_ab) div n_a").as("conf_ppm"),
          expr("CAST((CAST(1000000 AS DECIMAL(38,0)) * n_ab * n_bk) div " +
            "(CAST(n_a AS DECIMAL(38,0)) * n_c) AS BIGINT)")
            .as("lift_ppm"))
        .orderBy($"lift_ppm".desc, $"antecedent", $"consequent")
    },
    Some("""WITH b AS (SELECT DISTINCT user_id, CAST(ts AS DATE) AS day,
          event_type FROM events),
      nb AS (SELECT CAST(count(*) AS BIGINT) AS n_bk
        FROM (SELECT DISTINCT user_id, day FROM b)),
      ic AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n_i
        FROM b GROUP BY 1),
      pr AS (SELECT x.event_type AS antecedent,
          y.event_type AS consequent, CAST(count(*) AS BIGINT) AS n_ab
        FROM b x JOIN b y ON y.user_id = x.user_id AND y.day = x.day
          AND y.event_type <> x.event_type
        GROUP BY 1, 2)
      SELECT p.antecedent, p.consequent, p.n_ab,
        CAST((1000000 * p.n_ab) // nb.n_bk AS BIGINT) AS supp_ppm,
        CAST((1000000 * p.n_ab) // a.n_i AS BIGINT) AS conf_ppm,
        CAST((1000000::HUGEINT * p.n_ab * nb.n_bk)
          // (a.n_i::HUGEINT * c.n_i) AS BIGINT) AS lift_ppm
      FROM pr p JOIN ic a ON a.event_type = p.antecedent
        JOIN ic c ON c.event_type = p.consequent, nb
      ORDER BY lift_ppm DESC, antecedent, consequent"""),
    doc = "[NS] association rules over (user, day) baskets: support/confidence/lift ppm")

  /** [NS] — session-gap sensitivity ladder (q300): q19 sessionizes at
    * one fixed 30-minute idle gap; this prices the CHOICE. One per-user
    * lag pass computes every inter-event gap, then each candidate gap
    * G ∈ {5 min, 30 min, 2 h} is a FILTERED count over the same frame
    * (a session starts where the gap is null or exceeds G) — three
    * readouts, one window, no re-sort. Per G: session count, active
    * users, exact events-per-session ppm. Session counts are monotone
    * non-increasing in G by construction — the curve's knee is the
    * defensible gap. */
  val q300SessionGapLadder = Q(
    "q300_session_gap_ladder",
    (s, d) => {
      import s.implicits._
      val w = Window.partitionBy($"user_id")
        .orderBy($"ts".asc, $"event_id".asc)
      val g = Tables.events(s, d)
        .withColumn("prev_ts", lag($"ts", 1).over(w))
        .withColumn("gap_us",
          unix_micros($"ts") - unix_micros($"prev_ts"))
        .localCheckpoint(true)
      val rows = Seq(300L, 1800L, 7200L).map { gapS =>
        g.agg(
          sum(when($"prev_ts".isNull || $"gap_us" > gapS * 1000000L, 1L)
            .otherwise(0L)).as("n_sessions"),
          countDistinct($"user_id").as("n_users"),
          count(lit(1)).as("_ne"))
          .withColumn("gap_s", lit(gapS))
      }.reduce(_ unionByName _)
      rows
        .withColumn("events_per_session_ppm",
          expr("(1000000 * _ne) div n_sessions"))
        .select($"gap_s", $"n_sessions", $"n_users",
          $"events_per_session_ppm")
        .orderBy($"gap_s")
    },
    Some("""WITH g AS (SELECT user_id,
          epoch_us(ts) - epoch_us(lag(ts, 1) OVER (PARTITION BY user_id
            ORDER BY ts ASC, event_id ASC)) AS gap_us
        FROM events),
      l AS (SELECT CAST(unnest([300, 1800, 7200]) AS BIGINT) AS gap_s),
      a AS (SELECT gap_s,
          CAST(sum(CASE WHEN gap_us IS NULL
            OR gap_us > gap_s * 1000000 THEN 1 ELSE 0 END) AS BIGINT)
            AS n_sessions,
          CAST(count(DISTINCT user_id) AS BIGINT) AS n_users,
          CAST(count(*) AS BIGINT) AS ne
        FROM g CROSS JOIN l GROUP BY gap_s)
      SELECT gap_s, n_sessions, n_users,
        CAST((1000000 * ne) // n_sessions AS BIGINT)
          AS events_per_session_ppm
      FROM a ORDER BY gap_s"""),
    doc = "[NS] session counts at candidate idle gaps: one lag pass, three readouts")

  /** [NS] — Bradley–Terry preference aggregation (q304):
    * [[graft.operators.Analytics.bradleyTerry]] over duels built from
    * the event stream — consecutive events of one user (ts, event_id
    * order) where the two types differ and values are unequal form one
    * decided contest, higher value wins. Three MM rounds from the
    * uniform start, every derived number an exact integer (see the
    * operator doc); the oracle unrolls the identical three rounds as
    * materialized CTEs. The RLHF preference-data shape: this is how
    * pairwise human judgments become per-model/per-item strengths. */
  val q304BradleyTerry = Q(
    "q304_bradley_terry",
    (s, d) => {
      import s.implicits._
      val w = Window.partitionBy($"user_id").orderBy($"ts", $"event_id")
      val contests = Tables.events(s, d)
        .withColumn("p_type", lag($"event_type", 1).over(w))
        .withColumn("p_value", lag($"value", 1).over(w))
        .filter($"p_type".isNotNull && $"p_type" =!= $"event_type" &&
          $"value" =!= $"p_value")
        .select(
          when($"value" > $"p_value", $"event_type").otherwise($"p_type")
            .as("win"),
          when($"value" > $"p_value", $"p_type").otherwise($"event_type")
            .as("lose"))
      graft.operators.Analytics.bradleyTerry(contests, "win", "lose",
          iters = 3)
        .orderBy($"rk")
    },
    Some {
      def it(k: Int) = {
        val (p, t, r, sNew) = (s"s${k - 1}", s"t$k", s"r$k", s"s$k")
        s"""$t AS (SELECT ng.i, sum(CASE WHEN si.s + sj.s > 0
            THEN (ng.n_ij::HUGEINT * 1000000000000) // (si.s + sj.s)
            ELSE 0 END) AS den
          FROM ng JOIN $p si ON ng.i = si.i
            JOIN $p sj ON ng.j = sj.i GROUP BY ng.i),
        $r AS MATERIALIZED (SELECT wins.i,
            CASE WHEN den > 0
              THEN (wins.wins::HUGEINT * 1000000000000) // den
            ELSE 0::HUGEINT END AS s_raw
          FROM wins JOIN $t ON wins.i = $t.i),
        $sNew AS MATERIALIZED (SELECT i, CASE WHEN s_tot > 0 THEN
            CAST(s_raw * n_items * 1000000 // s_tot AS BIGINT)
            ELSE 0::BIGINT END AS s
          FROM $r, (SELECT sum(s_raw) AS s_tot, count(*) AS n_items
            FROM $r))"""
      }
      s"""WITH ev AS (
        SELECT event_type, value,
          lag(event_type) OVER w AS p_type, lag(value) OVER w AS p_value
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
      contests AS (
        SELECT CASE WHEN value > p_value THEN event_type ELSE p_type END
            AS win,
          CASE WHEN value > p_value THEN p_type ELSE event_type END
            AS lose
        FROM ev WHERE p_type IS NOT NULL AND p_type <> event_type
          AND value <> p_value),
      d AS (SELECT win AS i, lose AS j, count(*)::BIGINT AS w
        FROM contests GROUP BY 1, 2),
      sym AS (SELECT i, j, sum(w)::BIGINT AS w_ij FROM
        (SELECT i, j, w FROM d UNION ALL SELECT j, i, 0 FROM d)
        GROUP BY 1, 2),
      ng AS MATERIALIZED (SELECT a.i, a.j, a.w_ij,
          (a.w_ij + b.w_ij)::BIGINT AS n_ij
        FROM sym a JOIN sym b ON a.i = b.j AND a.j = b.i),
      wins AS MATERIALIZED (SELECT i, sum(w_ij)::BIGINT AS wins,
          sum(n_ij)::BIGINT AS games FROM ng GROUP BY 1),
      s0 AS (SELECT i, 1000000::BIGINT AS s FROM wins),
      ${it(1)},
      ${it(2)},
      ${it(3)}
      SELECT wins.i AS item, wins.wins AS wins, wins.games AS games,
        s3.s AS strength_ppm,
        row_number() OVER (ORDER BY s3.s DESC, wins.i) AS rk
      FROM wins JOIN s3 ON wins.i = s3.i ORDER BY rk"""
    },
    doc = "[NS] Bradley-Terry MM strengths from pairwise duels, exact integer ppm")

  /** [NS] — exact two-sample Kolmogorov–Smirnov drift (q305):
    * [[graft.operators.Analytics.ksTwoSample]] between the click and
    * purchase value distributions — the continuous-feature drift test
    * completing the drift family (chi-square q189 for categories, TVD
    * q288/q291 for shares, share drift q228): D = max |F_a − F_b| in
    * exact ppm at every distinct value, cumulative counts via the
    * bucketed distributed prefix sum (no corpus-sized single-partition
    * window). The oracle's plain window cumsum is the semantic spec the
    * distributed plan must reproduce bit-for-bit. */
  val q305KsDrift = Q(
    "q305_ks_drift",
    (s, d) => {
      import s.implicits._
      val e = Tables.events(s, d)
      graft.operators.Analytics.ksTwoSample(
        e.filter($"event_type" === "click"),
        e.filter($"event_type" === "purchase"),
        "value", bucketWidth = 10.0, thresholdPpm = 50000L)
    },
    Some("""WITH t AS (
        SELECT value AS v,
          CASE WHEN event_type = 'click' THEN 1 ELSE 0 END::BIGINT AS ia,
          CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END::BIGINT AS ib
        FROM events WHERE event_type IN ('click', 'purchase')
          AND value IS NOT NULL),
      g AS (SELECT v, sum(ia)::BIGINT AS da, sum(ib)::BIGINT AS db
        FROM t GROUP BY v),
      c AS (SELECT v, sum(da) OVER w AS ca, sum(db) OVER w AS cb FROM g
        WINDOW w AS (ORDER BY v ROWS UNBOUNDED PRECEDING)),
      n AS (SELECT sum(ia)::BIGINT AS n_a, sum(ib)::BIGINT AS n_b FROM t),
      dd AS (SELECT v, n_a, n_b,
          CAST(abs(ca::HUGEINT * n_b - cb::HUGEINT * n_a) * 1000000
            // (n_a::HUGEINT * n_b) AS BIGINT) AS d
        FROM c, n),
      m AS (SELECT max(d) AS d_ppm FROM dd)
      SELECT n_a, n_b, d_ppm, min(v) AS at_value,
        d_ppm >= 50000 AS drift
      FROM dd JOIN m ON dd.d = m.d_ppm
      GROUP BY n_a, n_b, d_ppm"""),
    doc = "[NS] exact two-sample KS statistic via bucketed distributed prefix sum")

  /** [NS] — exact central-moment distribution monitor (q359):
    * [[graft.operators.Analytics.momentsExact]] per event type — the
    * SHAPE readout the drift family lacked: q305's KS says two
    * distributions differ, mean/var monitors miss a growing tail;
    * skew direction and Pearson kurtosis SEE it. All cleared-
    * denominator exact integers: per-row t = n·v − S1 (= n·(v−μ)
    * exactly — the rational mean never materializes), power sums
    * D2/D3/D4 in decimal(38,0), fixed-order truncating ratios both
    * engines replay bit-for-bit (kurtosis divides D4 by D2 FIRST so
    * intermediates hold at 30×-fixture group sizes). Values rounded
    * to integers ONCE up front (round() parity is q139-proven). */
  val q359MomentsExact = Q(
    "q359_moments_exact",
    (s, d) => {
      import s.implicits._
      graft.operators.Analytics.momentsExact(
          Tables.events(s, d).filter($"value".isNotNull)
            .withColumn("v_i", round($"value").cast("long")),
          "event_type", "v_i")
        .orderBy($"event_type")
    },
    Some("""WITH b AS (SELECT event_type,
          CAST(round(value) AS BIGINT) AS v
        FROM events WHERE value IS NOT NULL),
      t AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n,
          CAST(sum(v) AS BIGINT) AS s1 FROM b GROUP BY 1),
      d AS (SELECT b.event_type, t.n, t.s1,
          CAST(t.n AS HUGEINT) * v - s1 AS tt
        FROM b JOIN t USING (event_type)),
      m AS (SELECT event_type, n, s1,
          sum(tt * tt) AS d2, sum(tt * tt * tt) AS d3,
          sum(tt * tt * tt * tt) AS d4
        FROM d GROUP BY 1, 2, 3)
      SELECT event_type, n,
        CAST((1000000 * CAST(s1 AS HUGEINT)) // n AS BIGINT) AS mean_ppm,
        CAST((1000000 * d2) // (CAST(n AS HUGEINT) * n * n) AS BIGINT)
          AS var_ppm,
        CASE WHEN d2 > 0 THEN
          CAST((1000000 * d3) // (d2 * n) AS BIGINT) END
          AS skew_ratio_ppm,
        CASE WHEN d2 > 0 THEN
          CAST(((1000000 * CAST(n AS HUGEINT)) * (d4 // d2)) // d2
            AS BIGINT) END AS kurt_ppm
      FROM m ORDER BY event_type"""),
    doc = "[NS] exact central moments per group: mean/var/skew-direction/kurtosis in fixed-order ppm")

  /** [NS] — stored moments lifecycle, merge half (q360):
    * [[graft.operators.MomentsState]] — q359's raw power sums
    * (n, S1..S4) persisted per group as the drift monitor's durable
    * state: build on the even event ids, MERGE the odd half in (sums
    * add — no disjointness contract needed), then serve central
    * moments derived from the STORED sums via the exact D-identities.
    * The oracle is q359's full-corpus SQL verbatim: a green row proves
    * build ∘ merge ≡ build AND stored-serve ≡ the in-query operator
    * bit-for-bit (the q127 twin law at the statistics layer). */
  val q360MomentsMerge = Q(
    "q360_moments_merge",
    (s, d) => {
      import s.implicits._
      val ev = Tables.events(s, d).filter($"value".isNotNull)
        .withColumn("v_i", round($"value").cast("long"))
      val dir = graft.operators.MomentsState.defaultDir(d + "#mom")
      graft.operators.Generation.withFingerprint(dir, d + "#mom-v2") {
        graft.operators.MomentsState.build(
          ev.filter($"event_id" % 2 === 0), "event_type", "v_i", dir)
        graft.operators.MomentsState.mergeBatch(s,
          ev.filter($"event_id" % 2 === 1), "event_type", "v_i", dir,
          epoch = 0L)
      }
      graft.operators.MomentsState.serve(s, dir, "event_type")
        .orderBy($"event_type")
    },
    q359MomentsExact.oracle,
    doc = "[NS] stored moments: build+merge == build, serve from sums == in-query operator")

  /** [NS] — stored moments forget certificate (q361): the q347
    * subtraction law at the statistics layer — power sums are pure
    * sums, so forgetting an entity's fact rows is the EXACT inverse of
    * folding them in. Build on ALL events, REMOVE the user_id ≡ 4
    * (mod 9) users' rows, serve. The oracle recomputes q359 over the
    * remaining users only: decremental forget ≡ remaining-only rebuild
    * — a purged user's activity leaves the drift monitor too, closing
    * the q354 reporting-layer argument for distribution SHAPE state. */
  val q361MomentsForget = Q(
    "q361_moments_forget",
    (s, d) => {
      import s.implicits._
      val ev = Tables.events(s, d).filter($"value".isNotNull)
        .withColumn("v_i", round($"value").cast("long"))
      val dir = graft.operators.MomentsState.defaultDir(d + "#momf")
      graft.operators.Generation.withFingerprint(dir, d + "#momf-v2") {
        graft.operators.MomentsState.build(ev, "event_type", "v_i", dir)
        graft.operators.MomentsState.removeBatch(s,
          ev.filter($"user_id" % 9 === 4), "event_type", "v_i", dir,
          epoch = 0L)
      }
      graft.operators.MomentsState.serve(s, dir, "event_type")
        .orderBy($"event_type")
    },
    q359MomentsExact.oracle.map(_.replace(
      "FROM events WHERE value IS NOT NULL",
      "FROM events WHERE value IS NOT NULL AND user_id % 9 <> 4")),
    doc = "[NS] stored moments forget: power-sum subtraction == remaining-only rebuild (served)")

  /** [NS] — distribution-shape drift profile (q362): every event
    * type's moments read AGAINST the global distribution — the monitor
    * readout on top of q359's statistics: Δmean, the variance RATIO,
    * and the kurtosis gap, each exact ppm, plus a shape_shift verdict
    * at the documented thresholds (variance ratio outside
    * [0.8, 1.25] or |Δkurtosis| > 1.0) — the segment-level screen
    * that catches a cohort whose scores kept their mean but changed
    * shape. Two [[graft.operators.Analytics.momentsExact]] passes
    * (per-type + global) and one broadcast join; no new shuffle
    * shape. */
  val q362MomentsDrift = Q(
    "q362_moments_drift",
    (s, d) => {
      import s.implicits._
      val ev = Tables.events(s, d).filter($"value".isNotNull)
        .withColumn("v_i", round($"value").cast("long"))
      graft.operators.Analytics.shapeDriftProfile(
          ev, "event_type", "v_i")
        .orderBy($"event_type")
    },
    Some("""WITH b AS (SELECT event_type,
          CAST(round(value) AS BIGINT) AS v
        FROM events WHERE value IS NOT NULL),
      t AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n,
          CAST(sum(v) AS BIGINT) AS s1 FROM b GROUP BY 1),
      dd AS (SELECT b.event_type, t.n, t.s1,
          CAST(t.n AS HUGEINT) * v - s1 AS tt
        FROM b JOIN t USING (event_type)),
      m AS (SELECT event_type, n, s1,
          sum(tt * tt) AS d2, sum(tt * tt * tt * tt) AS d4
        FROM dd GROUP BY 1, 2, 3),
      p AS (SELECT event_type, n,
          CAST((1000000 * CAST(s1 AS HUGEINT)) // n AS BIGINT) AS mean_ppm,
          CAST((1000000 * d2) // (CAST(n AS HUGEINT) * n * n) AS BIGINT)
            AS var_ppm,
          CASE WHEN d2 > 0 THEN
            CAST(((1000000 * CAST(n AS HUGEINT)) * (d4 // d2)) // d2
              AS BIGINT) END AS kurt_ppm
        FROM m),
      gt AS (SELECT CAST(count(*) AS BIGINT) AS n,
          CAST(sum(v) AS BIGINT) AS s1 FROM b),
      gd AS (SELECT gt.n, gt.s1, CAST(gt.n AS HUGEINT) * v - s1 AS tt
        FROM b, gt),
      gm AS (SELECT n, s1, sum(tt * tt) AS d2,
          sum(tt * tt * tt * tt) AS d4 FROM gd GROUP BY 1, 2),
      g AS (SELECT
          CAST((1000000 * CAST(s1 AS HUGEINT)) // n AS BIGINT) AS g_mean,
          CAST((1000000 * d2) // (CAST(n AS HUGEINT) * n * n) AS BIGINT)
            AS g_var,
          CASE WHEN d2 > 0 THEN
            CAST(((1000000 * CAST(n AS HUGEINT)) * (d4 // d2)) // d2
              AS BIGINT) END AS g_kurt
        FROM gm)
      SELECT event_type, n,
        mean_ppm - g_mean AS d_mean_ppm,
        CASE WHEN g_var > 0 THEN
          CAST((1000000 * CAST(var_ppm AS HUGEINT)) // g_var AS BIGINT)
          END AS var_ratio_ppm,
        kurt_ppm - g_kurt AS kurt_diff_ppm,
        var_ratio_ppm < 800000 OR var_ratio_ppm > 1250000
          OR abs(kurt_ppm - g_kurt) > 1000000 AS shape_shift
      FROM p, g ORDER BY event_type"""),
    doc = "[NS] per-segment shape drift vs the global distribution (mean/variance-ratio/kurtosis gaps, exact ppm)")

  /** [NS] — moments state under the RTBF orchestrator (q363): the
    * drift monitor's stored power sums registered as a
    * [[graft.operators.Forget.MomentsTarget]], so ONE
    * [[graft.operators.Forget.purgeDocs]] call removes a forgotten
    * cohort's statistics along with every other artifact — before this
    * a purged user's per-language length distribution SURVIVED an
    * orchestrated purge unless the caller knew to call
    * [[graft.operators.MomentsState.removeBatch]] separately (the
    * know-every-entry-point failure q350 exists to kill, closed for
    * the statistics layer). Build per-lang doc-length moments on ALL
    * documents, purge the doc_id ≡ 3 (mod 7) cohort THROUGH the
    * orchestrator, serve. Oracle: q359's exact-moment SQL over the
    * REMAINING documents only — orchestrated forget ≡ remaining-only
    * rebuild, certified on every served column. */
  val q363RtbfMoments = Q(
    "q363_rtbf_moments",
    (s, d) => {
      import s.implicits._
      val docs = Tables.documents(s, d)
        .withColumn("len_i", length($"text").cast("long"))
      val dir = graft.operators.MomentsState.defaultDir(d + "#momrtbf")
      graft.operators.Generation.withFingerprint(dir, d + "#momrtbf-v1") {
        graft.operators.MomentsState.build(docs, "lang", "len_i", dir)
        graft.operators.Forget.purgeDocs(s,
          docs.filter($"doc_id" % 7 === 3), "doc_id",
          Seq(graft.operators.Forget.MomentsTarget(dir, "lang",
            "len_i")),
          epoch = 0L)
      }
      graft.operators.MomentsState.serve(s, dir, "lang")
        .orderBy($"lang")
    },
    Some("""WITH b AS (SELECT lang, CAST(length(text) AS BIGINT) AS v
        FROM documents WHERE doc_id % 7 <> 3 AND text IS NOT NULL),
      t AS (SELECT lang, CAST(count(*) AS BIGINT) AS n,
          CAST(sum(v) AS BIGINT) AS s1 FROM b GROUP BY 1),
      d AS (SELECT b.lang, t.n, t.s1,
          CAST(t.n AS HUGEINT) * v - s1 AS tt
        FROM b JOIN t USING (lang)),
      m AS (SELECT lang, n, s1,
          sum(tt * tt) AS d2, sum(tt * tt * tt) AS d3,
          sum(tt * tt * tt * tt) AS d4
        FROM d GROUP BY 1, 2, 3)
      SELECT lang, n,
        CAST((1000000 * CAST(s1 AS HUGEINT)) // n AS BIGINT) AS mean_ppm,
        CAST((1000000 * d2) // (CAST(n AS HUGEINT) * n * n) AS BIGINT)
          AS var_ppm,
        CASE WHEN d2 > 0 THEN
          CAST((1000000 * d3) // (d2 * n) AS BIGINT) END
          AS skew_ratio_ppm,
        CASE WHEN d2 > 0 THEN
          CAST(((1000000 * CAST(n AS HUGEINT)) * (d4 // d2)) // d2
            AS BIGINT) END AS kurt_ppm
      FROM m ORDER BY lang"""),
    doc = "[NS] RTBF-orchestrated moments purge: one purgeDocs call removes a cohort's statistics (forget == remaining-only rebuild, served)")

  /** [NS] — the shape-drift profile served from STORED state (q366):
    * [[graft.operators.MomentsState.serveProfile]] — q362's monitor
    * readout (Δmean, variance ratio, kurtosis gap, verdict) derived
    * ENTIRELY from the persisted power sums: the per-group side is the
    * q360 serve, and the GLOBAL side is the column sums of the same
    * state (power sums are additive — no global fold is ever stored,
    * no fact row is ever read). The oracle is q362's full from-scratch
    * SQL verbatim: a green row proves the stored monitor closes its
    * own loop — fold the stream, forget the purged, read the drift
    * profile, all from |groups| rows of state. */
  val q366MomentsProfileServed = Q(
    "q366_moments_profile_served",
    (s, d) => {
      import s.implicits._
      val ev = Tables.events(s, d).filter($"value".isNotNull)
        .withColumn("v_i", round($"value").cast("long"))
      val dir = graft.operators.MomentsState.defaultDir(d + "#momp")
      graft.operators.Generation.withFingerprint(dir, d + "#momp-v1") {
        graft.operators.MomentsState.build(ev, "event_type", "v_i",
          dir)
      }
      graft.operators.MomentsState.serveProfile(s, dir, "event_type")
        .orderBy($"event_type")
    },
    q362MomentsDrift.oracle,
    doc = "[NS] shape-drift profile served from stored power sums only (global = column sums of the state; q362's oracle verbatim)")

  /** [NS] — Markov removal-effect attribution (q314):
    * [[graft.operators.Analytics.markovAttribution]] with the four
    * touch channels and purchase as conversion, 6 recurrence rounds —
    * the data-driven multi-touch model (Anderl et al. 2014) beside
    * q157's U-shaped heuristic: a channel's credit is how much the
    * START→conversion probability drops when every edge into it is
    * rerouted to NULL. The oracle unrolls the identical 6 rounds. */
  val q314MarkovAttribution = Q(
    "q314_markov_attribution",
    (s, d) => {
      import s.implicits._
      graft.operators.Analytics.markovAttribution(
        Tables.events(s, d), "user_id", "ts",
        "event_id", "event_type", "purchase",
        Seq("click", "view", "signup", "error"), rounds = 6)
    },
    Some {
      def rnd(k: Int) = {
        val (p, n) = (s"v${k - 1}", s"v$k")
        s"""$n AS MATERIALIZED (
          SELECT ve.variant, ve.f AS state,
            CAST(sum(ve.p::HUGEINT * $p.v) // 1000000 AS BIGINT) AS v
          FROM ve JOIN $p ON ve.variant = $p.variant
            AND ve.t = $p.state
          GROUP BY 1, 2
          UNION ALL SELECT * FROM ab)"""
      }
      s"""WITH kept0 AS (
        SELECT user_id AS u, ts, event_id AS tie,
          CASE WHEN event_type = 'purchase' THEN '__conv__'
            ELSE event_type END AS state,
          coalesce(sum(CASE WHEN event_type = 'purchase' THEN 1
              ELSE 0 END)
            OVER (PARTITION BY user_id ORDER BY ts, event_id
              ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
            AS pc
        FROM events WHERE event_type IN
          ('purchase', 'click', 'view', 'signup', 'error')),
      kept AS MATERIALIZED (
        SELECT u, ts, tie, state, lag(state) OVER w AS prev,
          row_number() OVER (PARTITION BY u ORDER BY ts DESC, tie DESC)
            AS rnd
        FROM kept0 WHERE pc = 0
        WINDOW w AS (PARTITION BY u ORDER BY ts, tie)),
      edges AS (
        SELECT coalesce(prev, '__start__') AS f, state AS t FROM kept
        UNION ALL
        SELECT state AS f, '__null__' AS t FROM kept
        WHERE rnd = 1 AND state <> '__conv__'),
      probs AS MATERIALIZED (
        SELECT f, t, (1000000 * c) // tot AS p FROM (
          SELECT f, t, count(*)::BIGINT AS c,
            sum(count(*)) OVER (PARTITION BY f) AS tot
          FROM edges GROUP BY f, t)),
      vars AS (SELECT unnest(
        ['click', 'error', 'signup', 'view', '__full__']) AS variant),
      ve AS MATERIALIZED (
        SELECT variant, f,
          CASE WHEN t = variant THEN '__null__' ELSE t END AS t, p
        FROM probs CROSS JOIN vars),
      ab AS (SELECT variant, '__conv__' AS state, 1000000::BIGINT AS v
        FROM vars
        UNION ALL SELECT variant, '__null__', 0 FROM vars),
      v0 AS (SELECT * FROM ab),
      ${(1 to 6).map(rnd).mkString(",\n")},
      conv AS (SELECT variant, v FROM v6 WHERE state = '__start__'),
      full_ AS (SELECT v AS cf FROM conv WHERE variant = '__full__'),
      rem AS (SELECT variant AS channel, cf AS conv_full_ppm,
          conv.v AS conv_removed_ppm,
          CASE WHEN cf > 0 THEN 1000000 - (1000000 * conv.v) // cf
            ELSE 0 END AS removal_ppm
        FROM conv, full_ WHERE variant <> '__full__'),
      rt AS (SELECT sum(removal_ppm)::BIGINT AS rtot FROM rem)
      SELECT channel, conv_full_ppm, conv_removed_ppm, removal_ppm,
        CASE WHEN rtot > 0 THEN (1000000 * removal_ppm) // rtot END
          AS share_ppm
      FROM rem, rt ORDER BY channel"""
    },
    doc = "[NS] Markov removal-effect attribution: rerouted-edge conversion drops, exact ppm")

  /** [NS] — exact Mann–Whitney U (q318):
    * [[graft.operators.Analytics.mannWhitney]] between click and
    * purchase values — q305's KS asks "different anywhere?", this asks
    * "does one dominate?" and reads out the probability of superiority
    * (two-sample AUC) plus the rank-biserial effect, all exact via the
    * doubled-U trick (ties at half weight, no fractions). Same
    * bucketed distributed prefix-sum plan as q305. */
  val q318MannWhitney = Q(
    "q318_mann_whitney",
    (s, d) => {
      import s.implicits._
      val e = Tables.events(s, d)
      graft.operators.Analytics.mannWhitney(
        e.filter($"event_type" === "click"),
        e.filter($"event_type" === "purchase"),
        "value", bucketWidth = 10.0)
    },
    Some("""WITH t AS (
        SELECT value AS v,
          CASE WHEN event_type = 'click' THEN 1 ELSE 0 END::BIGINT AS ia,
          CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END::BIGINT
            AS ib
        FROM events WHERE event_type IN ('click', 'purchase')
          AND value IS NOT NULL),
      g AS (SELECT v, sum(ia)::BIGINT AS da, sum(ib)::BIGINT AS db
        FROM t GROUP BY v),
      c AS (SELECT v, da, db, coalesce(sum(db) OVER (ORDER BY v
          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
            AS cb_before
        FROM g),
      n AS (SELECT sum(ia)::BIGINT AS n_a, sum(ib)::BIGINT AS n_b
        FROM t),
      u AS (SELECT sum(da::HUGEINT * (2 * cb_before + db)) AS u2
        FROM c)
      SELECT n_a, n_b, CAST(u2 AS BIGINT) AS u2_a,
        CASE WHEN n_a > 0 AND n_b > 0 THEN
          CAST(u2 * 1000000 // (2 * n_a::HUGEINT * n_b) AS BIGINT) END
          AS auc_ppm,
        CASE WHEN n_a > 0 AND n_b > 0 THEN
          CAST(1000000 - u2 * 1000000 // (n_a::HUGEINT * n_b)
            AS BIGINT) END AS rbc_ppm
      FROM u, n"""),
    doc = "[NS] exact Mann-Whitney U: probability of superiority + rank-biserial, doubled-tie arithmetic")

  /** [NS] — Kaplan–Meier survival curve (q321): the product-limit
    * estimator S(d) = Π_{t≤d} (1 − hazard_t) that q205's doc
    * deliberately left out as "float-territory" — made EXACT with the
    * q287 truncating ppm power-fold convention: factors are
    * (10⁶ − hazard_ppm), the running product folds as
    * acc·f div 10⁶ over the tenure-sorted factor array (Spark
    * `aggregate` HOF ≡ DuckDB `list_reduce`), so both engines agree
    * bit-for-bit. Per-row prefix products filter the broadcast
    * ≤|days|-struct array — bounded by the tenure range, never the
    * corpus (q205's own at-risk window contract). */
  val q321KmSurvival = Q(
    "q321_km_survival",
    (s, d) => {
      import s.implicits._
      val tenure = Tables.events(s, d)
        .groupBy($"user_id")
        .agg(datediff(max(to_date($"ts")), min(to_date($"ts")))
          .cast("long").as("tenure"))
      val w = Window.orderBy($"tenure".desc)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val byDay = tenure.groupBy($"tenure")
        .agg(count(lit(1)).as("churned"))
        .withColumn("at_risk", sum($"churned").over(w))
        .withColumn("hazard_ppm",
          expr("(1000000 * churned) div at_risk"))
        .localCheckpoint(true)
      val arr = byDay.agg(sort_array(collect_list(struct(
        $"tenure".as("t"), (lit(1000000L) - $"hazard_ppm").as("f"))))
        .as("_arr"))
      byDay.crossJoin(broadcast(arr))
        .withColumn("survival_ppm", expr(
          "aggregate(transform(filter(_arr, x -> x.t <= tenure), " +
            "x -> x.f), cast(1000000 as bigint), " +
            "(acc, x) -> (acc * x) div 1000000)"))
        .select($"tenure", $"churned", $"at_risk", $"hazard_ppm",
          $"survival_ppm")
        .orderBy($"tenure")
    },
    Some("""WITH t AS (SELECT user_id,
          CAST(date_diff('day', min(CAST(ts AS DATE)),
            max(CAST(ts AS DATE))) AS BIGINT) AS tenure
        FROM events GROUP BY user_id),
      b AS (SELECT tenure, CAST(count(*) AS BIGINT) AS churned FROM t
        GROUP BY tenure),
      c AS (SELECT *, CAST(sum(churned) OVER (ORDER BY tenure DESC
          ROWS UNBOUNDED PRECEDING) AS BIGINT) AS at_risk FROM b),
      h AS (SELECT tenure, churned, at_risk,
        CAST((1000000 * churned) // at_risk AS BIGINT) AS hazard_ppm
        FROM c),
      arr AS (SELECT list_sort(list(struct_pack(t := tenure,
          f := 1000000 - hazard_ppm))) AS a FROM h)
      SELECT tenure, churned, at_risk, hazard_ppm,
        list_reduce(list_prepend(1000000::BIGINT,
          list_transform(list_filter(arr.a, x -> x.t <= tenure),
            x -> x.f)), (acc, x) -> (acc * x) // 1000000)
          AS survival_ppm
      FROM h, arr ORDER BY tenure"""),
    doc = "[NS] exact Kaplan-Meier survival curve: truncating ppm product fold")

  /** [NS] — log-rank test (q322, Mantel 1966): do two cohorts churn at
    * the same rate? At every churn day t the observed-minus-expected
    * churns for cohort A — d_At − d_t·n_At/n_t — and the
    * hypergeometric variance term, both as exact truncating-ppm
    * contributions ((d_At·n_t − d_t·n_At)·10⁶ div n_t etc., decimal
    * products), summed into one signed statistic. The COMPARISON
    * member of the survival family: q205 is the table, q321 the
    * curve, this the test. Cohorts here: user-id parity (the
    * hash-assignment shape). At-risk counts are per-cohort suffix
    * sums over the ≤|days| aggregate rows. */
  val q322LogRank = Q(
    "q322_log_rank",
    (s, d) => {
      import s.implicits._
      val tenure = Tables.events(s, d)
        .groupBy($"user_id")
        .agg(datediff(max(to_date($"ts")), min(to_date($"ts")))
          .cast("long").as("tenure"))
        .withColumn("grp", when($"user_id" % 2 === 0, "a")
          .otherwise("b"))
      val byDay = tenure.groupBy($"tenure")
        .agg(sum(when($"grp" === "a", 1L).otherwise(0L)).as("d_a"),
          count(lit(1)).as("d_t"))
      val w = Window.orderBy($"tenure".desc)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      byDay
        .withColumn("n_a", sum($"d_a").over(w))
        .withColumn("n_t", sum($"d_t").over(w))
        .withColumn("oe", expr(
          "CASE WHEN n_t > 0 THEN cast((cast(d_a as decimal(38,0)) " +
            "* n_t - cast(d_t as decimal(38,0)) * n_a) * 1000000 " +
            "div n_t as bigint) ELSE cast(0 as bigint) END"))
        .withColumn("vr", expr(
          "CASE WHEN n_t > 1 THEN cast(cast(d_t as decimal(38,0)) " +
            "* n_a * (n_t - n_a) * (n_t - d_t) * 1000000 div " +
            "(cast(n_t as decimal(38,0)) * n_t * (n_t - 1)) " +
            "as bigint) ELSE cast(0 as bigint) END"))
        .agg(sum(when($"tenure".isNotNull, $"d_a")).as("churn_a"),
          sum($"d_t" - $"d_a").as("churn_b"),
          sum($"oe").as("oe_ppm"), sum($"vr").as("var_ppm"))
        .select($"churn_a", $"churn_b", $"oe_ppm", $"var_ppm")
    },
    Some("""WITH t AS (SELECT user_id,
          CAST(date_diff('day', min(CAST(ts AS DATE)),
            max(CAST(ts AS DATE))) AS BIGINT) AS tenure,
          CASE WHEN min(user_id) % 2 = 0 THEN 'a' ELSE 'b' END AS grp
        FROM events GROUP BY user_id),
      b AS (SELECT tenure,
          sum(CASE WHEN grp = 'a' THEN 1 ELSE 0 END)::BIGINT AS d_a,
          count(*)::BIGINT AS d_t
        FROM t GROUP BY tenure),
      c AS (SELECT *, CAST(sum(d_a) OVER sw AS BIGINT) AS n_a,
          CAST(sum(d_t) OVER sw AS BIGINT) AS n_t
        FROM b WINDOW sw AS (ORDER BY tenure DESC
          ROWS UNBOUNDED PRECEDING)),
      s AS (SELECT
          CASE WHEN n_t > 0 THEN
            CAST((d_a::HUGEINT * n_t - d_t::HUGEINT * n_a) * 1000000
              // n_t AS BIGINT) ELSE 0 END AS oe,
          CASE WHEN n_t > 1 THEN
            CAST(d_t::HUGEINT * n_a * (n_t - n_a) * (n_t - d_t)
              * 1000000 // (n_t::HUGEINT * n_t * (n_t - 1)) AS BIGINT)
          ELSE 0 END AS vr,
          d_a, d_t
        FROM c)
      SELECT sum(d_a)::BIGINT AS churn_a,
        sum(d_t - d_a)::BIGINT AS churn_b,
        sum(oe)::BIGINT AS oe_ppm, sum(vr)::BIGINT AS var_ppm
      FROM s"""),
    doc = "[NS] log-rank test: exact-ppm observed-minus-expected churn between cohorts")

  val all: Seq[Q] = Seq(q15EventDedup, q16DateFuncs, q17JsonExtract,
    q300SessionGapLadder, q304BradleyTerry, q305KsDrift,
    q314MarkovAttribution, q318MannWhitney, q321KmSurvival,
    q322LogRank, q359MomentsExact, q360MomentsMerge, q361MomentsForget,
    q362MomentsDrift, q363RtbfMoments, q366MomentsProfileServed,
    q18WindowLag, q19Sessionize, q20TumblingWindow, q21AsofJoin,
    q64RangeJoin, q77Funnel, q79CohortRetention, q80Scd2Islands,
    q153Scd2Apply,
    q82Outliers, q88Histogram, q89CorrGate, q91OrderStats, q146PitJoin,
    q157Attribution, q158OverlapJoin, q159Transitions, q160UserPaths,
    q170Survivorship, q182LatenessAudit, q186NearestJoin,
    q192TemporalSplit, q193LeaveLastOut, q204SeqSupport, q205Hazard,
    q232Pseudonymize, q233TimeToConvert, q246RateAudit,
    q253TemporalReach, q254ForgetAudit, q265Dispersion, q266Cusum,
    q271PassAtK, q278Seasonality, q281AssocRules)
}
