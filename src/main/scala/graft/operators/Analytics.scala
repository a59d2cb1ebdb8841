package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** [NS] Corpus-operations analytics: single-pass column profiling, an
  * exact distributed 2-D skyline (Pareto frontier), and a relational
  * Count-Min frequency sketch.
  *
  * Scale stance (100 TB): profiling is ONE aggregate pass whose state is
  * a few scalars per column; the skyline avoids the classic global sort
  * with a two-level suffix-scan (per-bucket windows + a broadcastable
  * bucket summary); the CMS is a bounded d×w relation built by one
  * map-side-combining groupBy — corpus shards union by summing cells.
  */
object Analytics {

  /** Per-column stats in long format — the first query run against any
    * new 100 TB table: (col_name, n_rows, n_nonnull, n_distinct, min_str,
    * max_str, total_len). One aggregate pass over the input; the only
    * caveat is `exact = true` COUNT(DISTINCT x) per column, which Spark
    * plans via Expand (input ×(cols+1)). That is the oracle-matching
    * mode; at scale pass `exact = false` for HLL `approx_count_distinct`
    * — same single pass, no Expand, ±2% cardinalities.
    *
    * min/max are taken over the STRING rendering (cast first, then
    * aggregate) so the long format is type-stable across heterogeneous
    * columns; for non-numeric-string renderings that ordering is
    * lexicographic, which the oracle mirrors by casting the same way. */
  def columnProfile(df: DataFrame, cols: Seq[String],
      exact: Boolean = true): DataFrame = {
    require(cols.nonEmpty, "columnProfile needs at least one column")
    val aggs = count(lit(1)).as("n_rows") +: cols.flatMap { c =>
      val s = col(c).cast("string")
      Seq(
        count(col(c)).as(s"nn_$c"),
        (if (exact) countDistinct(col(c))
         else approx_count_distinct(col(c))).as(s"nd_$c"),
        min(s).as(s"mn_$c"),
        max(s).as(s"mx_$c"),
        coalesce(sum(length(s)), lit(0L)).as(s"tl_$c"))
    }
    val one = df.agg(aggs.head, aggs.tail: _*)
    val stackArgs = cols.map(c =>
      s"'$c', n_rows, nn_$c, nd_$c, mn_$c, mx_$c, tl_$c").mkString(", ")
    one.selectExpr(s"stack(${cols.size}, $stackArgs) AS " +
      "(col_name, n_rows, n_nonnull, n_distinct, min_str, max_str, total_len)")
  }

  /** Exact 2-D skyline (Pareto frontier), both dimensions maximized: the
    * (x, max-y-at-x) vertices not dominated by any point with strictly
    * greater x. Dominance: q dominates p iff q ≥ p in both dims and > in
    * at least one.
    *
    * Shape: (1) per-x max-y — one shuffle on x; (2) a DISTRIBUTED suffix
    * max over strictly-greater x, computed as per-bucket window partials
    * (`floor(x / bucketWidth)` partitions the window) plus a bucket-level
    * summary that is tiny (domain/bucketWidth rows) and broadcast back.
    * No global single-partition sort anywhere — the classic windowed
    * skyline formulation collapses to one reducer; this one scales with
    * the x-domain. */
  def skyline2D(df: DataFrame, xCol: String, yCol: String,
      bucketWidth: Long = 256L): DataFrame = {
    require(bucketWidth >= 1, "bucketWidth must be positive")
    val x = col(xCol)
    val g = df.na.drop(Seq(xCol, yCol)).groupBy(x).agg(max(col(yCol)).as(yCol))
    val b = g.withColumn("_bkt", floor(x.cast("double") / bucketWidth))
    // strictly-higher-bucket suffix max: window over the tiny summary only
    val wb = Window.orderBy(col("_bkt").desc)
      .rowsBetween(Window.unboundedPreceding, -1)
    val bsuf = b.groupBy(col("_bkt")).agg(max(col(yCol)).as("_by"))
      .withColumn("_hi", max(col("_by")).over(wb))
      .select(col("_bkt"), col("_hi"))
    // within-bucket suffix max over strictly greater x
    val wx = Window.partitionBy(col("_bkt")).orderBy(x.desc)
      .rowsBetween(Window.unboundedPreceding, -1)
    b.join(broadcast(bsuf), Seq("_bkt"))
      .withColumn("_wm", max(col(yCol)).over(wx))
      .where((col("_wm").isNull || col(yCol) > col("_wm")) &&
             (col("_hi").isNull || col(yCol) > col("_hi")))
      .select(x, col(yCol))
  }

  /** Cell index of CMS hash row `h` for key `k`: the first 8 hex chars of
    * md5("h:k") mod `width` — deterministic and replayable in any engine
    * with md5 (the oracle uses the identical arithmetic), non-negative
    * (< 2^32 before the mod). */
  def cmsCell(h: Column, k: Column, width: Int): Column =
    conv(substring(md5(concat(h.cast("string"), lit(":"), k.cast("string"))),
      1, 8), 16, 10).cast("long") % width

  /** Count-Min frequency sketch (Cormode & Muthukrishnan 2005) as a
    * RELATION: d×w cells, (h, cell, cnt). Build is one explode(×depth)
    * and one groupBy on a key space bounded by d·w — partial aggregation
    * combines map-side, so the shuffle carries at most d·w rows per task
    * regardless of input size. Sketches of corpus shards merge by
    * summing cells (the relational union-groupBy), which is what makes
    * this the 100 TB running-frequency shape; point estimates read d
    * rows per key from a broadcast of the sketch. */
  def cmsSketch(df: DataFrame, keyCol: String, depth: Int = 4,
      width: Int = 512): DataFrame = {
    require(depth >= 1 && width >= 2, s"bad CMS geometry $depth×$width")
    df.select(col(keyCol).as("k"))
      .select(col("k"),
        explode(array((0 until depth).map(lit): _*)).as("h"))
      .withColumn("cell", cmsCell(col("h"), col("k"), width))
      .groupBy(col("h"), col("cell"))
      .agg(count(lit(1)).as("cnt"))
  }

  /** Snapshot diff — the regression check between two versions of a
    * derived table (yesterday's pipeline output vs today's, a matview
    * generation vs the next): one FULL OUTER equi-join on the key,
    * change classified per row. `removed` = key only in `a`, `added` =
    * only in `b`, `changed` = present in both with any compared column
    * differing (null-safe compare); unchanged rows are dropped — at
    * 100 TB the diff is what's small, and shipping only it is the
    * point. Returns keys + per-side compared values + `change`. */
  /** [NS] — EXACT equi-depth histogram: `buckets` bins with (near-)equal
    * ROW counts — the statistics ANALYZE pass behind selectivity
    * estimation and range-partition boundary planning (what
    * `repartitionByRange` approximates by sampling, computed exactly).
    * Bucket of a row = `rank * buckets div N` over the total order
    * (valueCol, tiebreak...), so bucket populations differ by at most 1
    * even through heavy value ties (ties split deterministically by the
    * tiebreak — the honest alternative to value-boundary histograms,
    * which can't bound bucket size under skew at all). The global rank
    * is [[Curation.withGlobalRank]]'s two-pass range/offset shape — no
    * single-partition window; N falls out of the same per-range counts.
    * Output per bucket: row count and the [lo, hi] value span. */
  def equiDepth(df: DataFrame, valueCol: String, tiebreak: Seq[String],
      buckets: Int): DataFrame = Stage("Analytics.equiDepth") { implicit st =>
    val order = col(valueCol).asc +: tiebreak.map(col(_).asc)
    val (ranked, n) = Curation.withGlobalRank(
      df.select(col(valueCol) +: tiebreak.map(col(_)): _*), order, "_rk")
    ranked
      .withColumn("bucket", expr(s"(_rk * $buckets) div ${n}L"))
      .groupBy(col("bucket"))
      .agg(count(lit(1)).as("n_rows"), min(col(valueCol)).as("lo"),
        max(col(valueCol)).as("hi"))
  }

  /** [NS] — U-shaped (position-based) multi-touch attribution: each
    * conversion distributes 1 000 000 ppm of credit over its preceding
    * touchpoints inside the lookback window — 40%/40% to first/last
    * touch, 20% split across the middles (the standard position-based
    * model), all in INTEGER ppm: the middle share uses `div`, and the
    * division remainder goes to the first touch, so every conversion's
    * credits sum to exactly 1 000 000 and both engines agree bit-for-bit
    * (float attribution models can't be oracle-checked and drift under
    * re-aggregation). Degenerate forms: 1 touch → all, 2 → 50/50.
    *
    * Scale: one equi-join on the user key (conversions ⋈ touches), range
    * predicate applied on join output — per-user pair volume is bounded
    * by per-user activity, never corpus-quadratic; one window per
    * conversion for position/count; aggregation is the caller's. */
  def attributionUShape(events: DataFrame, userCol: String, tsCol: String,
      ordCol: String, typeCol: String, conversionType: String,
      touchTypes: Seq[String], lookbackDays: Int): DataFrame = {
    val conv = events.filter(col(typeCol) === conversionType)
      .select(col(userCol), col(ordCol).as("conv_id"),
        col(tsCol).as("conv_ts"))
    val touch = events.filter(col(typeCol).isin(touchTypes: _*))
      .select(col(userCol), col(ordCol).as("touch_id"),
        col(tsCol).as("touch_ts"), col(typeCol).as("touch_type"))
    val pairs = conv.join(touch, Seq(userCol))
      .filter(col("touch_ts") < col("conv_ts") &&
        col("touch_ts") >= col("conv_ts") - expr(s"INTERVAL $lookbackDays DAYS"))
    val w = Window.partitionBy(col("conv_id"))
      .orderBy(col("touch_ts").asc, col("touch_id").asc)
    val cw = Window.partitionBy(col("conv_id"))
    pairs
      .withColumn("rn", row_number().over(w).cast("long"))
      .withColumn("m", count(lit(1)).over(cw))
      .withColumn("credit_ppm",
        when(col("m") === 1, lit(1000000L))
          .when(col("m") === 2, lit(500000L))
          .when(col("rn") === 1,
            lit(400000L) + lit(200000L) % (col("m") - 2))
          .when(col("rn") === col("m"), lit(400000L))
          .otherwise(expr("200000L div (m - 2)")))
      .select(col(userCol), col("conv_id"), col("touch_id"),
        col("touch_type"), col("rn"), col("m"), col("credit_ppm"))
  }

  /** [NS] — SCD2 interval build (gaps-and-islands): collapse a per-key
    * ordered attribute stream into effective-dated rows
    * (key, attr, valid_from, valid_to, n_events), open row's valid_to
    * NULL. The q80 algebra as a reusable operator: one window pass for
    * change flags + island ids, one groupBy, one lead. `wgtCol` lets
    * [[scd2Apply]] seed a row that stands for n already-folded events. */
  def scd2Build(df: DataFrame, keyCol: String, attrCol: String,
      tsCol: String, ordCol: Column, wgtCol: Column = lit(1L)): DataFrame = {
    val w = Window.partitionBy(col(keyCol)).orderBy(col(tsCol), ordCol)
    val sp = df
      .withColumn("_w", wgtCol)
      .withColumn("_chg",
        when(lag(col(attrCol), 1).over(w) <=> col(attrCol), 0L)
          .otherwise(1L))
      .withColumn("_island", sum(col("_chg")).over(
        w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy(col(keyCol), col("_island"), col(attrCol))
      .agg(min(col(tsCol)).as("valid_from"), sum(col("_w")).as("n_events"))
    sp.withColumn("valid_to", lead(col("valid_from"), 1).over(
        Window.partitionBy(col(keyCol)).orderBy(col("_island"))))
      .select(col(keyCol), col(attrCol), col("valid_from"),
        col("valid_to"), col("n_events"))
  }

  /** [NS] — INCREMENTAL SCD2 maintenance: fold a delta batch of events
    * into a stored SCD2 dimension without touching closed history. The
    * dimension-update step every warehouse runs nightly: closed rows
    * pass through untouched; each key's OPEN row becomes a weighted seed
    * (its attr at its valid_from, weight = its n_events, ordered before
    * every delta row — deltas are strictly later), and the q80 island
    * algebra reruns over seed ∪ delta only. If the first delta attr
    * matches the open row's, the open row absorbs (same valid_from,
    * summed n_events); if not, it closes at the change ts — both fall
    * out of the island rebuild with no case analysis.
    *
    * Scale: the rebuild shuffles ONLY the open frontier (one row per
    * key) plus the delta — never the stored history, whose closed rows
    * are a pass-through union leg (no window, no shuffle). Equality
    * with a from-scratch [[scd2Build]] over the full stream is the
    * correctness contract (q153's oracle is exactly that twin). */
  def scd2Apply(stored: DataFrame, delta: DataFrame, keyCol: String,
      attrCol: String, tsCol: String, ordCol: String): DataFrame = {
    val seed = stored.filter(col("valid_to").isNull)
      .select(col(keyCol), col(attrCol), col("valid_from").as(tsCol),
        lit(-1L).as("_ord"), col("n_events").as("_wgt"))
    val dl = delta.select(col(keyCol), col(attrCol), col(tsCol),
      col(ordCol).cast("long").as("_ord"), lit(1L).as("_wgt"))
    val rebuilt = scd2Build(seed.unionByName(dl), keyCol, attrCol, tsCol,
      col("_ord"), col("_wgt"))
    stored.filter(col("valid_to").isNotNull).unionByName(rebuilt)
  }

  def snapshotDiff(a: DataFrame, b: DataFrame, keys: Seq[String],
      compareCols: Seq[String]): DataFrame = {
    require(keys.nonEmpty && compareCols.nonEmpty,
      "snapshotDiff needs key and compare columns")
    val la = a.select((keys ++ compareCols).map(col): _*)
      .withColumn("_ina", lit(1))
    val lb = b.select(keys.map(col) ++
      compareCols.map(c => col(c).as(s"${c}_new")): _*)
      .withColumn("_inb", lit(1))
    val j = la.join(lb, keys, "full_outer")
    val differs = compareCols
      .map(c => !(col(c) <=> col(s"${c}_new")))
      .reduce(_ || _)
    j.withColumn("change",
        when(col("_inb").isNull, "removed")
          .when(col("_ina").isNull, "added")
          .when(differs, "changed"))
      .filter(col("change").isNotNull)
      .select(keys.map(col) ++
        compareCols.flatMap(c => Seq(col(c), col(s"${c}_new"))) :+
        col("change"): _*)
  }

  /** Data-quality expectation rules (the declarative table-contract
    * check a 100 TB ingest runs before publishing a partition). Each
    * rule compiles to the cheapest plan of its class — row-local rules
    * (`NotNull`/`InRange`/`InSet`) share ONE aggregate pass with no
    * shuffle beyond the final 1-row combine; `Unique` is one groupBy on
    * its key; `RefIn` is one broadcast-able anti-join per dimension. */
  sealed trait Rule { def name: String }
  /** col must not be NULL. */
  final case class NotNull(col: String) extends Rule {
    def name = s"not_null:$col"
  }
  /** col must lie in [lo, hi] (NULLs are NotNull's business). */
  final case class InRange(col: String, lo: Double, hi: Double)
      extends Rule { def name = s"range:$col" }
  /** col must be one of the given values. */
  final case class InSet(col: String, values: Seq[String]) extends Rule {
    def name = s"in_set:$col"
  }
  /** the column tuple must be unique (violations = surplus rows). */
  final case class Unique(cols: Seq[String]) extends Rule {
    def name = s"unique:${cols.mkString(",")}"
  }
  /** col's non-null values must exist in dim(dimCol) (FK shape). */
  final case class RefIn(col: String, dim: DataFrame, dimCol: String)
      extends Rule { def name = s"ref:$col" }

  /** Evaluate rules → (rule, n_violations) long-format report, one row
    * per rule. Zero rows are never dropped: a publish gate needs the
    * explicit green line per contract, not absence of red. */
  def expectations(df: DataFrame, rules: Seq[Rule]): DataFrame = {
    require(rules.nonEmpty, "expectations needs at least one rule")
    val rowLocal = rules.collect {
      case r @ NotNull(c) => r.name -> col(c).isNull
      case r @ InRange(c, lo, hi) =>
        r.name -> (col(c) < lo || col(c) > hi)
      case r @ InSet(c, vs) => r.name -> !col(c).isin(vs: _*)
    }
    val parts = scala.collection.mutable.ArrayBuffer[DataFrame]()
    if (rowLocal.nonEmpty) {
      val aggs = rowLocal.map { case (n, bad) =>
        sum(when(bad, 1L).otherwise(0L)).as(n)
      }
      val one = df.agg(aggs.head, aggs.tail: _*)
      val stackArgs = rowLocal.map { case (n, _) => s"'$n', `$n`" }
        .mkString(", ")
      parts += one.selectExpr(
        s"stack(${rowLocal.size}, $stackArgs) AS (rule, n_violations)")
    }
    rules.foreach {
      case u @ Unique(cols_) =>
        parts += df.groupBy(cols_.map(col): _*)
          .agg(count(lit(1)).as("_c"))
          .agg(coalesce(sum(col("_c") - 1L), lit(0L)).as("n_violations"))
          .select(lit(u.name).as("rule"), col("n_violations"))
      case r @ RefIn(c, dim, dc) =>
        parts += df.filter(col(c).isNotNull)
          .join(dim.select(col(dc).as(c)), Seq(c), "left_anti")
          .agg(count(lit(1)).as("n_violations"))
          .select(lit(r.name).as("rule"), col("n_violations"))
      case _ => ()
    }
    parts.reduce(_.unionByName(_))
  }

  /** Point estimates for `probes` (any DataFrame with `keyCol`): the CMS
    * guarantee est ≥ true, est ≤ true + εN w.h.p. The sketch side is
    * ≤ d·w rows → broadcast; one row per (probe, h) then a min-agg. */
  def cmsEstimate(sketch: DataFrame, probes: DataFrame, keyCol: String,
      depth: Int, width: Int): DataFrame = {
    val p = probes
      .withColumn("_h", explode(array((0 until depth).map(lit): _*)))
      .withColumn("_cell", cmsCell(col("_h"), col(keyCol), width))
    val grp = probes.columns.map(col)
    p.join(broadcast(sketch),
        p("_h") === sketch("h") && p("_cell") === sketch("cell"), "left")
      .groupBy(grp: _*)
      .agg(min(coalesce(col("cnt"), lit(0L))).as("est"))
  }

  /** [NS] — approximate per-group quantiles from a bottom-k hash sample
    * ([[graft.functions.KmvSampleAggregator]]): ONE aggregate pass with
    * 2k longs of state per group replaces the per-group sort an exact
    * quantile needs (q156's two-pass rank is the exact sibling — use it
    * when one global column matters; use this when profiling quantiles
    * for millions of groups in a single pass over 100 TB).
    *
    * The sample (k smallest md5-hashes of `idCol`, each carrying
    * `valCol`) is a pure function of the group's row SET, so the derived
    * order statistics are deterministic across partitionings AND engines:
    * quantile p = the sorted sample's element at integer index
    * `(p·(n−1)) div 100`, the lower-interpolation rule both engines can
    * compute exactly. `qsPct` are integer percents.
    *
    * Output: group cols + `n_sample` + one long `q<p>` column per
    * requested percent. */
  def kmvQuantiles(df: DataFrame, groupCols: Seq[String], idCol: String,
      valCol: String, k: Int, qsPct: Seq[Int]): DataFrame = {
    require(qsPct.nonEmpty && qsPct.forall(p => p >= 0 && p <= 100),
      s"quantile percents must be in [0,100]: $qsPct")
    val sampler = udaf(graft.functions.KmvSampleAggregator(k))
    val hash = conv(substring(md5(col(idCol).cast("string")), 1, 15), 16, 10)
      .cast("long")
    val grouped = df
      // NULL id/value rows are excluded (a NULL would fail the UDAF's
      // (Long, Long) tuple encoder at runtime, not skip the row)
      .filter(col(idCol).isNotNull && col(valCol).isNotNull)
      .select(groupCols.map(col) :+ hash.as("_h") :+
        col(valCol).cast("long").as("_v"): _*)
      .groupBy(groupCols.map(col): _*)
      .agg(sampler(col("_h"), col("_v")).as("_pairs"))
    // Unpack the interleaved [h0,v0,h1,v1,…] state into a value-sorted
    // array, then index it — array ops over ≤k elements, per-row codegen.
    val base = grouped
      .withColumn("_vals", array_sort(expr(
        "transform(sequence(0, size(_pairs) div 2 - 1), i -> _pairs[2*i+1])")))
      .withColumn("n_sample", size(col("_vals")).cast("long"))
    qsPct.foldLeft(base) { (acc, p) =>
        acc.withColumn(s"q$p", expr(
          s"element_at(_vals, cast(($p * (n_sample - 1)) div 100 as int) + 1)"))
      }
      .select(groupCols.map(col) ++ (col("n_sample") +:
        qsPct.map(p => col(s"q$p"))): _*)
  }

  /** [NS] — exact per-group least-squares trend slope: for integer
    * (x, y) observations, `slope_ppm = 10⁶·(nΣxy − ΣxΣy) div
    * (nΣx² − (Σx)²)` — trend DIRECTION and magnitude per key (is this
    * metric rising?), the regression complement of the q89 correlation
    * gate. All sums accumulate in decimal(38,0) (cleared-denominator
    * products overflow long at ~10⁹ rows × 10⁶-scaled values), one
    * aggregate pass, no window. Groups with zero x-variance emit NULL
    * (slope undefined), never a division error. */
  def trendSlope(df: DataFrame, keyCol: String, xCol: String,
      yCol: String): DataFrame = {
    def d(s: String) = s"cast($s as decimal(38,0))"
    df.filter(col(xCol).isNotNull && col(yCol).isNotNull)
      .groupBy(col(keyCol))
      .agg(count(lit(1)).as("n"),
        sum(col(xCol).cast("decimal(38,0)")).as("sx"),
        sum(col(yCol).cast("decimal(38,0)")).as("sy"),
        sum(col(xCol).cast("decimal(38,0)") *
          col(yCol).cast("decimal(38,0)")).as("sxy"),
        sum(col(xCol).cast("decimal(38,0)") *
          col(xCol).cast("decimal(38,0)")).as("sxx"))
      .withColumn("slope_ppm", expr(
        s"case when ${d("n")} * ${d("sxx")} - ${d("sx")} * ${d("sx")} <> 0" +
          s" then cast((${d("1000000")} * (${d("n")} * ${d("sxy")} -" +
          s" ${d("sx")} * ${d("sy")})) div" +
          s" (${d("n")} * ${d("sxx")} - ${d("sx")} * ${d("sx")}) as long)" +
          " end"))
      .select(col(keyCol), col("n"), col("slope_ppm"))
  }

  /** [NS] — top movers between two populations: per key, the share (in
    * exact ppm) of each population and the signed share delta, cut to
    * the `n` largest absolute moves above a minimum support — "what
    * changed between last week and this week", the keyed sibling of
    * [[distributionDrift]]'s binned form. Two count aggregates + a
    * full-outer merge on the key + one TakeOrderedAndProject. */
  def topMovers(a: DataFrame, b: DataFrame, keyCol: String, n: Int,
      minCount: Long = 1L): DataFrame = {
    def side(df: DataFrame, cName: String, pName: String) = {
      val c = df.filter(col(keyCol).isNotNull)
        .groupBy(col(keyCol)).agg(count(lit(1)).as(cName))
      c.crossJoin(broadcast(c.agg(sum(col(cName)).as("_tot"))))
        .withColumn(pName, expr(s"($cName * 1000000) div _tot"))
        .drop("_tot")
    }
    side(a, "a_n", "a_ppm")
      .join(side(b, "b_n", "b_ppm"), Seq(keyCol), "full_outer")
      .na.fill(0L, Seq("a_n", "a_ppm", "b_n", "b_ppm"))
      .filter(col("a_n") + col("b_n") >= minCount)
      .withColumn("delta_ppm", col("b_ppm") - col("a_ppm"))
      .orderBy(abs(col("delta_ppm")).desc, col(keyCol))
      .limit(n)
  }

  /** [NS] — Cohen's kappa, exact: chance-corrected agreement between
    * two labelers — the annotation-QA number a labeling pipeline
    * reports before its labels are trusted (raw percent agreement
    * rewards majority-class guessing; kappa subtracts the chance
    * floor). With diag = Σ agreements and prods = Σ_c row_c·col_c
    * (marginal products), `kappa = (N·diag − prods) / (N² − prods)` —
    * one rational, emitted in signed ppm via decimal(38,0) cleared
    * denominators (both engines truncate identically). One tiny
    * (a, b)-pair aggregate; marginals derive from it. Output: one row
    * (n, n_agree, po_ppm, pe_ppm, kappa_ppm). */
  def cohenKappa(df: DataFrame, aCol: String, bCol: String): DataFrame = {
    val pairs = df.filter(col(aCol).isNotNull && col(bCol).isNotNull)
      .groupBy(col(aCol).as("_a"), col(bCol).as("_b"))
      .agg(count(lit(1)).as("_c"))
    val rowM = pairs.groupBy(col("_a")).agg(sum(col("_c")).as("_ra"))
    val colM = pairs.groupBy(col("_b")).agg(sum(col("_c")).as("_cb"))
    val prods = rowM.join(colM, col("_a") === col("_b"))
      .agg(coalesce(sum(col("_ra").cast("decimal(38,0)") *
        col("_cb").cast("decimal(38,0)")), lit(0).cast("decimal(38,0)"))
        .as("_prods"))
    def d(s: String) = s"cast($s as decimal(38,0))"
    pairs.agg(sum(col("_c")).as("n"),
        sum(when(col("_a") === col("_b"), col("_c")).otherwise(0L))
          .as("n_agree"))
      .crossJoin(broadcast(prods))
      .select(col("n"), col("n_agree"),
        expr(s"cast((${d("1000000")} * ${d("n_agree")}) div ${d("n")} " +
          "as long)").as("po_ppm"),
        expr(s"cast((${d("1000000")} * _prods) div " +
          s"(${d("n")} * ${d("n")}) as long)").as("pe_ppm"),
        expr(s"case when ${d("n")} * ${d("n")} - _prods <> 0 then " +
          s"cast((${d("1000000")} * (${d("n")} * ${d("n_agree")} - _prods))" +
          s" div (${d("n")} * ${d("n")} - _prods) as long) end")
          .as("kappa_ppm"))
  }

  /** Poisson(1) inverse-CDF thresholds over the 52-bit uniform space —
    * computed ONCE here and inlined as literals into both the Spark
    * plan and the SQL oracle, so the multiplicity draw is bit-identical
    * by construction (no engine evaluates exp()). */
  val poissonThresholds52: Seq[Long] = {
    val space = math.pow(2, 52)
    // cumulative P(X <= m) for λ=1: e⁻¹·(1, 2, 5/2, 8/3)
    Seq(1.0, 2.0, 2.5, 8.0 / 3.0)
      .map(c => (c * math.exp(-1.0) * space).toLong)
  }

  /** [NS] — deterministic Poisson bootstrap (the distributed bootstrap:
    * Chamandy et al., "Estimating uncertainty for massive data
    * streams", Google 2012 — per-row independent Poisson(1)
    * multiplicities replace the impossible global resample-with-
    * replacement): B resamples in ONE pass, each row's multiplicity in
    * resample b derived from md5(id#b) against precomputed inverse-CDF
    * thresholds ([[poissonThresholds52]] — multiplicities capped at 4,
    * P(X>4) ≈ 0.4%). No rand(): the draw is a pure function of (id, b),
    * so confidence intervals are reproducible and oracle-checkable.
    * Output: one row per resample (b, n_eff, sum_wx, mean_ppm) with
    * exact integer means; order statistics over the B rows give the
    * interval. Cost: one explode(×B) over narrow (id, x) rows + one
    * aggregate — never B scans. */
  def poissonBootstrap(df: DataFrame, idCol: String, valCol: String,
      b: Int): DataFrame = {
    require(b > 1, s"need at least 2 resamples, got $b")
    val Seq(t0, t1, t2, t3) = poissonThresholds52
    df.filter(col(valCol).isNotNull)
      .select(col(idCol).cast("string").as("_id"),
        col(valCol).cast("long").as("_x"))
      .withColumn("b", explode(sequence(lit(0), lit(b - 1))))
      .withColumn("_u", expr("cast(conv(substring(md5(concat(_id, '#', " +
        "cast(b as string))), 1, 13), 16, 10) as bigint)"))
      .withColumn("_m",
        when(col("_u") < t0, 0L).when(col("_u") < t1, 1L)
          .when(col("_u") < t2, 2L).when(col("_u") < t3, 3L)
          .otherwise(4L))
      .groupBy(col("b"))
      .agg(sum(col("_m")).as("n_eff"),
        sum(col("_m") * col("_x")).as("sum_wx"))
      .withColumn("mean_ppm", expr(
        "case when n_eff > 0 then (1000000 * sum_wx) div n_eff end"))
  }

  /** [NS] — 2×2 chi-square test, exact: the A/B experimentation gate.
    * With arm×outcome counts a,b,c,d, `χ² = N·(ad − bc)² /
    * ((a+b)(c+d)(a+c)(b+d))` — one rational, emitted in ppm via
    * decimal(38,0) (the cleared-denominator products reach ~10²⁵ at
    * 10⁴ rows — far past long). `significant` compares against the
    * df=1, α=0.05 critical value 3.841459 (a fixed literal — no
    * p-value math in-engine). One tiny aggregate. */
  def chiSquare2x2(df: DataFrame, armCol: String,
      outcomeCol: String): DataFrame = {
    def d(s: String) = s"cast($s as decimal(38,0))"
    df.filter(col(armCol).isNotNull && col(outcomeCol).isNotNull)
      .agg(
        sum(when(!col(armCol) && !col(outcomeCol), 1L).otherwise(0L))
          .as("a"),
        sum(when(!col(armCol) && col(outcomeCol), 1L).otherwise(0L))
          .as("b"),
        sum(when(col(armCol) && !col(outcomeCol), 1L).otherwise(0L))
          .as("c"),
        sum(when(col(armCol) && col(outcomeCol), 1L).otherwise(0L))
          .as("d"))
      .withColumn("chi2_ppm", expr(
        s"case when (${d("a")} + ${d("b")}) * (${d("c")} + ${d("d")}) * " +
          s"(${d("a")} + ${d("c")}) * (${d("b")} + ${d("d")}) <> 0 then " +
          s"cast((${d("1000000")} * (${d("a")} + ${d("b")} + ${d("c")} + " +
          s"${d("d")}) * (${d("a")} * ${d("d")} - ${d("b")} * ${d("c")}) * " +
          s"(${d("a")} * ${d("d")} - ${d("b")} * ${d("c")})) div " +
          s"((${d("a")} + ${d("b")}) * (${d("c")} + ${d("d")}) * " +
          s"(${d("a")} + ${d("c")}) * (${d("b")} + ${d("d")})) as long) end"))
      .withColumn("significant", col("chi2_ppm") > 3841459L)
  }

  /** [NS] — calibration / reliability table with ECE contributions: the
    * model-eval readout "when the model says 80%, is it right 80% of
    * the time". Rows are cut into `buckets` equal-population score
    * bands (the two-pass global rank — never a single-partition
    * window); per band: mean min-max-normalized score (`conf_ppm`, the
    * stand-in for predicted probability), actual positive rate
    * (`acc_ppm`), their gap, and the band's Expected-Calibration-Error
    * contribution `(n·gap) div N` — Σ contrib over the table IS the
    * ECE, all exact integer ppm. */
  def calibrationTable(df: DataFrame, scoreCol: String, tieCol: String,
      labelCol: String, buckets: Int)
      : DataFrame = Stage("Analytics.calibrationTable") { implicit st =>
    require(buckets > 0, s"need positive buckets, got $buckets")
    val in = df.filter(col(scoreCol).isNotNull)
      .select(col(scoreCol).cast("long").as("_s"), col(tieCol).as("_t"),
        col(labelCol).cast("boolean").as("_y"))
    val (ranked, _) = Curation.withGlobalRank(in,
      Seq(col("_s"), col("_t")), "_rk")
    val stats = in.agg(count(lit(1)).as("_N"), min(col("_s")).as("_mn"),
      max(col("_s")).as("_mx"))
    ranked.crossJoin(broadcast(stats))
      .withColumn("bucket",
        expr(s"(_rk * $buckets) div _N").cast("int"))
      .withColumn("_conf", expr(
        "case when _mx > _mn then ((_s - _mn) * 1000000) div (_mx - _mn)" +
          " else 0 end"))
      .groupBy(col("bucket"), col("_N"))
      .agg(count(lit(1)).as("n"),
        sum(when(col("_y"), 1L).otherwise(0L)).as("pos"),
        sum(col("_conf")).as("_cs"))
      .withColumn("conf_ppm", expr("_cs div n"))
      .withColumn("acc_ppm", expr("(1000000 * pos) div n"))
      .withColumn("gap_ppm", abs(col("conf_ppm") - col("acc_ppm")))
      .withColumn("ece_contrib_ppm", expr("(n * gap_ppm) div _N"))
      .select(col("bucket"), col("n"), col("pos"), col("conf_ppm"),
        col("acc_ppm"), col("gap_ppm"), col("ece_contrib_ppm"))
  }

  /** One epoch's / one corpus's per-band calibration FOLD: the
    * mergeable state behind [[calibrationFixedBands]] and the streaming
    * monitor ([[graft.streaming.SketchState.foreachBatchCalibration]]).
    * Bands are FIXED-WIDTH cuts of the ppm confidence (band =
    * conf·buckets div 10⁶, clamped) — a pure per-row function, which is
    * what makes the fold mergeable across epochs; [[calibrationTable]]'s
    * equal-population bands need a global rank and stay the batch-only
    * sibling. Output: (band, n, pos, conf_sum) — three sums, so
    * state(A ∪ B) = colwise-sum(state(A), state(B)). */
  def calibrationBandAggregate(df: DataFrame, confPpmCol: String,
      labelCol: String, buckets: Int): DataFrame = {
    require(buckets > 0, s"need positive buckets, got $buckets")
    df.filter(col(confPpmCol).isNotNull)
      .select(col(confPpmCol).cast("long").as("_c"),
        col(labelCol).cast("boolean").as("_y"))
      .withColumn("band", expr(
        s"cast(least($buckets - 1, greatest(0, (_c * $buckets) div 1000000)) as int)"))
      .groupBy(col("band"))
      .agg(count(lit(1)).as("n"),
        sum(when(col("_y"), 1L).otherwise(0L)).as("pos"),
        sum(col("_c")).as("conf_sum"))
  }

  /** Reliability readout from a [[calibrationBandAggregate]]-shaped
    * state frame: per band the mean confidence, actual positive rate,
    * gap, and ECE contribution (Σ = the ECE) — exact integer ppm, the
    * q202 conventions over fixed bands. Shared by the batch operator
    * and the streaming monitor so the two are identical by
    * construction. */
  private[graft] def calibrationReportFromState(
      state: DataFrame): DataFrame =
    state.crossJoin(broadcast(state.agg(sum(col("n")).as("_N"))))
      .withColumn("conf_ppm", expr("conf_sum div n"))
      .withColumn("acc_ppm", expr("(1000000 * pos) div n"))
      .withColumn("gap_ppm", abs(col("conf_ppm") - col("acc_ppm")))
      .withColumn("ece_contrib_ppm", expr("(n * gap_ppm) div _N"))
      .select(col("band"), col("n"), col("pos"), col("conf_ppm"),
        col("acc_ppm"), col("gap_ppm"), col("ece_contrib_ppm"))

  /** [NS] — exact ROC-AUC (Mann–Whitney with tie correction): the
    * threshold-free ranking-quality readout of a scorer — P(score⁺ >
    * score⁻) + ½·P(tie), computed WITHOUT a pos×neg pairwise join:
    * group rows by score, order the (score → n_pos, n_neg) groups, and
    * the win/tie pair counts are Σ np·(negatives strictly below) and
    * Σ np·nn — one aggregate + one window over the DISTINCT-SCORE
    * frame, whose size is the integer score domain (cents → ≤10⁴ rows
    * at any corpus size), not the data. Pair counts accumulate in
    * decimal(38,0) (nPos·nNeg overflows long past ~3·10⁹ rows a side);
    * auc_ppm = (10⁶·(2·wins+ties)) div (2·nPos·nNeg) exact in both
    * engines; gini_ppm = 2·auc − 10⁶. Degenerate one-class inputs
    * yield NULL, never a division error. */
  def aucExact(df: DataFrame, scoreCol: String,
      labelCol: String): DataFrame = {
    val v = df.filter(col(scoreCol).isNotNull && col(labelCol).isNotNull)
      .select(col(scoreCol).cast("long").as("_s"),
        col(labelCol).cast("boolean").as("_y"))
    val g = v.groupBy(col("_s")).agg(
      sum(when(col("_y"), 1L).otherwise(0L)).as("np"),
      sum(when(!col("_y"), 1L).otherwise(0L)).as("nn"))
    val w = Window.orderBy(col("_s"))
      .rowsBetween(Window.unboundedPreceding, -1)
    def d(s: String) = s"cast($s as decimal(38,0))"
    g.withColumn("cnb", coalesce(sum(col("nn")).over(w), lit(0L)))
      .agg(sum(col("np")).as("n_pos"), sum(col("nn")).as("n_neg"),
        sum(expr(s"${d("np")} * ${d("cnb")}")).as("_uw"),
        sum(expr(s"${d("np")} * ${d("nn")}")).as("_ut"))
      .withColumn("auc_ppm", expr(
        s"case when n_pos > 0 and n_neg > 0 then cast((${d("1000000")} * " +
          s"(2 * _uw + _ut)) div (${d("2")} * ${d("n_pos")} * " +
          s"${d("n_neg")}) as long) end"))
      .withColumn("gini_ppm", expr("2 * auc_ppm - 1000000"))
      .select(col("n_pos"), col("n_neg"), col("auc_ppm"), col("gini_ppm"))
  }

  /** [NS] — Brier score, exact ppm: mean squared gap between the ppm
    * confidence and the 0/10⁶ outcome — the strictly-proper scoring
    * rule that complements [[calibrationFixedBands]] (a model can be
    * calibrated yet useless; Brier charges both miscalibration AND
    * indiscrimination). Per-row squares reach 10¹², so the sum
    * accumulates in decimal(38,0); brier_ppm = Σ(conf−y·10⁶)² div
    * (n·10⁶) ∈ [0, 10⁶]. One aggregate, no window. */
  def brierScore(df: DataFrame, confPpmCol: String,
      labelCol: String): DataFrame =
    df.filter(col(confPpmCol).isNotNull && col(labelCol).isNotNull)
      .select(col(confPpmCol).cast("long").as("_c"),
        col(labelCol).cast("boolean").as("_y"))
      .withColumn("_g", expr(
        "cast(_c - (case when _y then 1000000 else 0 end) as decimal(38,0))"))
      .agg(count(lit(1)).as("n"),
        sum(expr("_g * _g")).as("_ss"))
      .withColumn("brier_ppm", expr(
        "case when n > 0 then cast(_ss div (cast(n as decimal(38,0)) * " +
          "1000000) as long) end"))
      .select(col("n"), col("brier_ppm"))

  /** [NS] — average precision (integer-quantized AP, the PR-AUC
    * summary): Σ over positives of precision@rank, div nPos — each
    * term `(10⁶·cumPos@k) div k` truncated identically in both
    * engines (exact AP is a sum of unlike-denominator rationals, so
    * the ppm quantization IS the cross-engine contract). Ranks come
    * from TWO two-pass global ranks ([[Curation.withGlobalRank]] —
    * never a single-partition window): the full frame by (score desc,
    * tie) gives k; the positives-only frame by the SAME key gives
    * cumPos@k at each positive row; a join on the tie id lines them
    * up. Output: 1 row (n, n_pos, ap_ppm); NULL ap on zero positives. */
  def averagePrecision(df: DataFrame, scoreCol: String, tieCol: String,
      labelCol: String)
      : DataFrame = Stage("Analytics.averagePrecision") { implicit st =>
    val v = df.filter(col(scoreCol).isNotNull && col(labelCol).isNotNull)
      .select(col(scoreCol).cast("long").as("_s"), col(tieCol).as("_t"),
        col(labelCol).cast("boolean").as("_y"))
    val (ranked, _) = Curation.withGlobalRank(v,
      Seq(col("_s").desc, col("_t")), "_rk")
    val (posRanked, _) = Curation.withGlobalRank(v.filter(col("_y")),
      Seq(col("_s").desc, col("_t")), "_pk")
    // withGlobalRank is 0-based; AP's precision@k wants 1-based ranks
    val terms = ranked.join(posRanked.select(col("_t"), col("_pk")),
        Seq("_t"), "left")
      .select(col("_y"),
        when(col("_pk").isNotNull,
          expr("(1000000 * (_pk + 1)) div (_rk + 1)")).as("_term"))
    terms.agg(count(lit(1)).as("n"),
        sum(when(col("_y"), 1L).otherwise(0L)).as("n_pos"),
        sum(col("_term")).as("_ts"))
      .withColumn("ap_ppm",
        expr("case when n_pos > 0 then _ts div n_pos end"))
      .select(col("n"), col("n_pos"), col("ap_ppm"))
  }

  /** [NS] — classification threshold sweep: per threshold T, the
    * confusion counts of `conf ≥ T` plus precision/recall/F1 in exact
    * ppm — the operating-point table behind every "pick a threshold"
    * decision, and the tabular complement of [[aucExact]] (AUC ranks,
    * this commits). Computed from the DISTINCT-CONFIDENCE frame (one
    * corpus aggregate; the frame is confidence-domain-sized, ≤10⁶+1
    * rows at any corpus size) range-joined against the literal
    * threshold spine — the corpus is scanned ONCE for the whole sweep,
    * the q207 ladder argument. F1 = (2·p·r) div (p+r), products ≤1e12,
    * long-safe. */
  def thresholdSweep(df: DataFrame, confPpmCol: String, labelCol: String,
      thresholds: Seq[Long]): DataFrame = {
    require(thresholds.nonEmpty, "thresholdSweep: empty threshold list")
    val v = df.filter(col(confPpmCol).isNotNull && col(labelCol).isNotNull)
      .select(col(confPpmCol).cast("long").as("_c"),
        col(labelCol).cast("boolean").as("_y"))
    val g = v.groupBy(col("_c")).agg(
      sum(when(col("_y"), 1L).otherwise(0L)).as("np"),
      sum(when(!col("_y"), 1L).otherwise(0L)).as("nn"))
    val sess = df.sparkSession
    import sess.implicits._
    // broadcast the |thresholds|-row spine against the domain-sized
    // frame — the corpus never multiplies, only its tiny summary does
    g.join(broadcast(thresholds.toDF("thr_ppm")), lit(true))
      .groupBy(col("thr_ppm"))
      .agg(
        sum(when(col("_c") >= col("thr_ppm"), col("np"))
          .otherwise(0L)).as("tp"),
        sum(when(col("_c") >= col("thr_ppm"), col("nn"))
          .otherwise(0L)).as("fp"),
        sum(when(col("_c") < col("thr_ppm"), col("np"))
          .otherwise(0L)).as("fn"),
        sum(when(col("_c") < col("thr_ppm"), col("nn"))
          .otherwise(0L)).as("tn"))
      .withColumn("precision_ppm", expr(
        "case when tp + fp > 0 then (1000000 * tp) div (tp + fp) end"))
      .withColumn("recall_ppm", expr(
        "case when tp + fn > 0 then (1000000 * tp) div (tp + fn) end"))
      .withColumn("f1_ppm", expr(
        "case when precision_ppm + recall_ppm > 0 then " +
          "(2 * precision_ppm * recall_ppm) div " +
          "(precision_ppm + recall_ppm) end"))
      .select(col("thr_ppm"), col("tp"), col("fp"), col("fn"), col("tn"),
        col("precision_ppm"), col("recall_ppm"), col("f1_ppm"))
  }

  /** [NS] — join pre-flight audit: before running `a ⋈ b` on `keyCol`,
    * the EXACT output cardinality (Σ over keys of cntA·cntB, in
    * decimal(38,0) — this is the number that explodes), both sides' key
    * multiplicities, the single worst key and its contribution — the
    * "will this join melt the cluster" check, computed from two
    * key-count aggregates + one key-frame join (key-set-sized, never
    * the data). A worst key contributing most of the output is the
    * salting/skew-hint signal ([[graft.operators.Skew]]); an output
    * estimate ≫ both inputs is the many-to-many red flag. */
  def joinAudit(a: DataFrame, b: DataFrame, keyCol: String): DataFrame = {
    def side(df: DataFrame, n: String) =
      df.filter(col(keyCol).isNotNull)
        .groupBy(col(keyCol)).agg(count(lit(1)).as(n))
    def d(s: String) = s"cast($s as decimal(38,0))"
    val joined = side(a, "ca").join(side(b, "cb"), Seq(keyCol))
      .withColumn("_prod", expr(s"${d("ca")} * ${d("cb")}"))
    joined.agg(count(lit(1)).as("n_keys"),
        sum(col("_prod")).as("_out"),
        max(col("ca")).as("max_mult_a"),
        max(col("cb")).as("max_mult_b"),
        max(struct(col("_prod"), col(keyCol).cast("string").as("_k")))
          .as("_w"))
      .select(col("n_keys"),
        col("_out").cast("decimal(38,0)").cast("long").as("out_rows"),
        col("max_mult_a"), col("max_mult_b"),
        col("_w._k").as("worst_key"),
        col("_w._prod").cast("long").as("worst_rows"))
  }

  /** [NS] — error-analysis sampler: a DETERMINISTIC k-sample of row
    * ids per confusion cell (predicted × actual) — the "show me five
    * false positives" query every model debugging loop runs; a
    * rand()-based sample would be neither reproducible nor
    * oracle-checkable, so the sample is the k md5-smallest ids per
    * cell (uniform in the hash, stable across runs, engines, and
    * partitionings — [[Curation.hashBucket]]'s argument applied to
    * sampling). One per-cell rank window (4 cells — parallel,
    * bounded), never a global sort. Output: (predicted, actual, rk,
    * idCol), rk 1..k in hash order. */
  def errorSamples(df: DataFrame, idCol: String, predCol: String,
      labelCol: String, k: Int): DataFrame = {
    require(k > 0, s"need positive k, got $k")
    val in = df.filter(col(predCol).isNotNull && col(labelCol).isNotNull)
      .select(col(idCol), col(predCol).cast("boolean").as("predicted"),
        col(labelCol).cast("boolean").as("actual"))
    in.withColumn("_h", md5(col(idCol).cast("string")))
      .withColumn("rk", row_number().over(
        Window.partitionBy(col("predicted"), col("actual"))
          .orderBy(col("_h"), col(idCol))))
      .filter(col("rk") <= k)
      .select(col("predicted"), col("actual"),
        col("rk").cast("long").as("rk"), col(idCol))
  }

  /** [NS] — user-journey path mining: the top event-type TRIGRAM paths
    * (e1 > e2 > e3 over each user's time-ordered stream) with
    * occurrence counts and user support — the navigation-pattern /
    * funnel-discovery readout (q204 tests a GIVEN pair; this SURFACES
    * the frequent paths). Two lead() windows per user (per-key
    * windows, parallel across users, state bounded by per-user
    * activity) + one path aggregate; the top-n is a
    * TakeOrderedAndProject, never a global sort. */
  def journeyPaths(df: DataFrame, userCol: String, typeCol: String,
      tsCol: String, tieCol: String, topN: Int): DataFrame = {
    val w = Window.partitionBy(col(userCol))
      .orderBy(col(tsCol), col(tieCol))
    df.filter(col(typeCol).isNotNull)
      .withColumn("_e2", lead(col(typeCol), 1).over(w))
      .withColumn("_e3", lead(col(typeCol), 2).over(w))
      .filter(col("_e2").isNotNull && col("_e3").isNotNull)
      .select(concat_ws(">", col(typeCol), col("_e2"), col("_e3"))
        .as("path"), col(userCol))
      .groupBy(col("path"))
      .agg(count(lit(1)).as("n"),
        countDistinct(col(userCol)).as("n_users"))
      .orderBy(col("n").desc, col("path"))
      .limit(topN)
  }

  /** [NS] — fixed-band calibration / reliability table: the
    * STREAM-FOLDABLE sibling of [[calibrationTable]] (fixed-width
    * confidence bands instead of equal-population rank bands), and the
    * batch twin of the durable streaming monitor — one band aggregate +
    * a buckets-row readout; 100 TB cost is one exchange on ≤ `buckets`
    * keys. */
  def calibrationFixedBands(df: DataFrame, confPpmCol: String,
      labelCol: String, buckets: Int): DataFrame =
    calibrationReportFromState(
      calibrationBandAggregate(df, confPpmCol, labelCol, buckets))

  /** [NS] — gains / lift table: rank by score DESCENDING, cut into
    * equal-population bands, report each band's cumulative capture of
    * the positives (`capture_ppm`) and its lift over random targeting
    * (`lift_ppm` = capture ÷ population share, 10⁶ = random) — the
    * "how much of the response do the top 20% of scores reach" readout
    * of targeting models. Exact integer ppm via decimal(38,0) cleared
    * denominators; the cumulative window runs over `buckets` aggregate
    * rows (bounded by the parameter, never the data). */
  def gainsTable(df: DataFrame, scoreCol: String, tieCol: String,
      labelCol: String, buckets: Int)
      : DataFrame = Stage("Analytics.gainsTable") { implicit st =>
    require(buckets > 0, s"need positive buckets, got $buckets")
    val in = df.filter(col(scoreCol).isNotNull)
      .select(col(scoreCol).cast("long").as("_s"), col(tieCol).as("_t"),
        col(labelCol).cast("boolean").as("_y"))
    val (ranked, _) = Curation.withGlobalRank(in,
      Seq(col("_s").desc, col("_t")), "_rk")
    val stats = in.agg(count(lit(1)).as("_N"),
      sum(when(col("_y"), 1L).otherwise(0L)).as("_P"))
    val wc = Window.orderBy(col("bucket"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    def d(s: String) = s"cast($s as decimal(38,0))"
    ranked.crossJoin(broadcast(stats))
      .withColumn("bucket",
        expr(s"(_rk * $buckets) div _N").cast("int"))
      .groupBy(col("bucket"), col("_N"), col("_P"))
      .agg(count(lit(1)).as("n"),
        sum(when(col("_y"), 1L).otherwise(0L)).as("pos"))
      .withColumn("cum_n", sum(col("n")).over(wc))
      .withColumn("cum_pos", sum(col("pos")).over(wc))
      .withColumn("capture_ppm", expr(
        "case when _P > 0 then (1000000 * cum_pos) div _P end"))
      .withColumn("lift_ppm", expr(
        s"case when _P > 0 and cum_n > 0 then cast((${d("1000000")} * " +
          s"${d("cum_pos")} * ${d("_N")}) div (${d("_P")} * " +
          s"${d("cum_n")}) as long) end"))
      .select(col("bucket"), col("n"), col("pos"), col("cum_pos"),
        col("capture_ppm"), col("lift_ppm"))
  }

  /** [NS] — k-anonymity by one-level generalization (the
    * suppress-or-generalize ladder of the Sweeney k-anonymity model,
    * applied to release gating): quasi-identifier groups are counted at
    * the FINE granularity; groups of at least k publish as-is, smaller
    * ones re-key to the COARSE granularity (local recoding over the
    * failing rows only — passing fine groups are never coarsened), and
    * coarse groups still below k are marked `suppressed` (they must not
    * ship). Guarantee: every emitted `fine`/`coarse` row has n ≥ k.
    * Two aggregates over group COUNTS (the second runs on failing
    * groups only — never a second pass over the data). Output:
    * (qiCols..., bucket, level, n). */
  def kAnonymize(df: DataFrame, qiCols: Seq[String], fineCol: String,
      coarseCol: String, k: Long): DataFrame = {
    require(k > 0, s"k must be positive, got $k")
    val fine = df.groupBy((qiCols :+ fineCol :+ coarseCol).map(col): _*)
      .agg(count(lit(1)).as("n"))
    val pass = fine.filter(col("n") >= k)
      .select(qiCols.map(col) :+ col(fineCol).cast("string").as("bucket")
        :+ lit("fine").as("level") :+ col("n"): _*)
    val coarse = fine.filter(col("n") < k)
      .groupBy((qiCols :+ coarseCol).map(col): _*)
      .agg(sum(col("n")).as("n"))
    def lvl(d: DataFrame, name: String) = d
      .select(qiCols.map(col) :+ col(coarseCol).cast("string").as("bucket")
        :+ lit(name).as("level") :+ col("n"): _*)
    pass
      .unionByName(lvl(coarse.filter(col("n") >= k), "coarse"))
      .unionByName(lvl(coarse.filter(col("n") < k), "suppressed"))
  }

  /** [NS] — quantile normalization across groups: each row's value maps
    * to the GLOBAL value at its within-group quantile position — after
    * the transform every group exhibits the global distribution, the
    * batch-effect correction standard (microarray statistics) applied
    * to per-source score alignment: source A's p90 and source B's p90
    * become the SAME number, so cross-source thresholds mean one thing.
    *
    * Exact construction: within-group rank r of n_g maps to the global
    * sorted value at index `((r−1)·N) div n_g` (0-based lower pick) —
    * all integer arithmetic, so the mapping hash-matches. The global
    * sorted table rides the two-pass distributed rank
    * ([[graft.operators.Curation.withGlobalRank]] — no single-partition
    * window); the lookup is an equi-join on the computed index. Adds
    * `<valCol>_qn`. */
  def quantileNormalize(df: DataFrame, groupCol: String, valCol: String,
      tieCol: String)
      : DataFrame = Stage("Analytics.quantileNormalize") { implicit st =>
    val in = df.filter(col(valCol).isNotNull)
    val (sorted, n) = Curation.withGlobalRank(
      in.select(col(valCol).as("_gv"), col(tieCol).as("_gt")),
      Seq(col("_gv"), col("_gt")), "_gidx")
    val ranked = in
      .withColumn("_rn", row_number().over(
        Window.partitionBy(col(groupCol))
          .orderBy(col(valCol), col(tieCol))))
      .withColumn("_ng", count(lit(1)).over(
        Window.partitionBy(col(groupCol))))
      .withColumn("_gidx", expr(s"((_rn - 1) * ${n}L) div _ng"))
    ranked.join(sorted.select(col("_gidx"), col("_gv")), Seq("_gidx"))
      .withColumn(s"${valCol}_qn", col("_gv"))
      .drop("_rn", "_ng", "_gidx", "_gv")
  }

  /** [NS] — per-group winsorization: clamp a long value column into its
    * group's [loPct, hiPct] percentile band (lower-interpolation order
    * statistics, the q166 rule) — the robust feature-prep transform
    * that caps tail influence WITHOUT dropping rows (where the Hampel
    * gate [[madOutliers]] flags them). One per-group sort window
    * computes the ranks; the band bounds ride the same partition as
    * window maxima of conditionals, so the whole transform is one
    * exchange. Adds `p_lo`, `p_hi`, and the clamped `<valCol>_w`. */
  def winsorize(df: DataFrame, keyCol: String, valCol: String,
      tieCol: String, loPct: Int, hiPct: Int): DataFrame = {
    require(loPct >= 0 && hiPct <= 100 && loPct <= hiPct,
      s"bad band [$loPct, $hiPct]")
    val wk = Window.partitionBy(col(keyCol))
    val v = col(valCol)
    df.filter(v.isNotNull)
      .withColumn("_n", count(lit(1)).over(wk))
      .withColumn("_rn", row_number().over(
        Window.partitionBy(col(keyCol)).orderBy(v, col(tieCol))))
      .withColumn("p_lo",
        max(when(col("_rn") === expr(s"($loPct * (_n - 1)) div 100 + 1"),
          v)).over(wk))
      .withColumn("p_hi",
        max(when(col("_rn") === expr(s"($hiPct * (_n - 1)) div 100 + 1"),
          v)).over(wk))
      .withColumn(s"${valCol}_w", least(greatest(v, col("p_lo")),
        col("p_hi")))
      .drop("_n", "_rn")
  }

  /** [NS] — cardinality-capped reporting aggregate: the top-n keys by
    * row count keep their identity, every other key collapses into one
    * `other` row — the guard that keeps a group-by over an unbounded
    * key (URL, user agent, part number) from returning a million-row
    * "report". The heavy pass is one map-side-combining count per key;
    * the top-n cut is a TakeOrderedAndProject over the (small) count
    * table and rides back as a broadcast, so no second scan of the
    * input. Shares in exact ppm of the total. */
  def topNOther(df: DataFrame, keyCol: String, n: Int): DataFrame = {
    require(n > 0, s"need a positive key budget, got $n")
    Stage("Analytics.topNOther") { st =>
      val counts = st.pin(df.filter(col(keyCol).isNotNull)
        .groupBy(col(keyCol)).agg(count(lit(1)).as("cnt")))
      val top = counts.orderBy(col("cnt").desc, col(keyCol)).limit(n)
        .select(col(keyCol).as("_topk"))
      val tot = counts.agg(sum(col("cnt")).as("_tot"))
      st.checkpoint(counts
        .join(broadcast(top), col(keyCol) === col("_topk"), "left")
        .withColumn("key_label",
          when(col("_topk").isNotNull, col(keyCol).cast("string"))
            .otherwise("other"))
        .groupBy(col("key_label"))
        .agg(sum(col("cnt")).as("n_rows"))
        .crossJoin(broadcast(tot))
        .withColumn("share_ppm", expr("(n_rows * 1000000) div _tot"))
        .drop("_tot"), "report")
    }
  }

  /** [NS] — CDC generation FROM SNAPSHOTS: when a source publishes full
    * snapshots instead of a changelog (the common ELT reality), the diff
    * IS the changelog — rows only in `b` become inserts, rows only in
    * `a` become retractions, changed rows become a retract-of-old +
    * insert-of-new pair. The emitted rows feed [[AggView.mergeCdc]] (or
    * any Σ-delta consumer) directly, so incremental maintenance works
    * without upstream cooperation: refresh cost becomes O(diff), never
    * O(snapshot), and the pair encoding makes updates exact under
    * additive state (old contribution cancels, new one lands).
    * One full-outer key join ([[snapshotDiff]]); unchanged rows never
    * ship. */
  def cdcFromSnapshots(a: DataFrame, b: DataFrame, keys: Seq[String],
      cols: Seq[String]): DataFrame = {
    val d = snapshotDiff(a, b, keys, cols)
    val ins = d.filter(col("change").isin("added", "changed"))
      .select(keys.map(col) ++
        cols.map(c => col(s"${c}_new").as(c)) :+ lit("I").as("op"): _*)
    val del = d.filter(col("change").isin("removed", "changed"))
      .select(keys.map(col) ++ cols.map(col) :+ lit("D").as("op"): _*)
    ins.unionByName(del)
  }

  /** [NS] — distribution drift audit between two populations (the
    * train/serve skew check every production model pipeline runs):
    * equi-width bins over a pre-scaled long value column, per-side bin
    * shares in EXACT integer ppm, and the per-bin absolute share gap.
    * Σ diff_ppm over the output is the L1 (total-variation×2) drift.
    * Log-free by design — PSI's ln(p/q) term is not exactly computable
    * in portable integer arithmetic, and the L1 gap ranks drifts the
    * same way for monitoring purposes. Values outside [loC, hiC) clamp
    * into the edge bins (drift TO out-of-range values must count, not
    * vanish). One aggregate per side + a bins-sized full-outer merge. */
  def distributionDrift(a: DataFrame, b: DataFrame, valCol: String,
      loC: Long, hiC: Long, bins: Int): DataFrame = {
    require(bins > 0 && hiC > loC, "need bins > 0 and hiC > loC")
    def binned(df: DataFrame, nName: String, ppmName: String) = {
      val v = col(valCol)
      val bin = least(lit(bins - 1), greatest(lit(0),
        expr(s"(($valCol - ${loC}L) * $bins) div ${hiC - loC}L")))
        .cast("int")
      val c = df.filter(v.isNotNull).groupBy(bin.as("bin"))
        .agg(count(lit(1)).as(nName))
      val tot = c.agg(sum(col(nName)).as("_tot"))
      c.crossJoin(broadcast(tot))
        .withColumn(ppmName, expr(s"($nName * 1000000) div _tot"))
        .drop("_tot")
    }
    binned(a, "a_n", "a_ppm")
      .join(binned(b, "b_n", "b_ppm"), Seq("bin"), "full_outer")
      .na.fill(0L, Seq("a_n", "a_ppm", "b_n", "b_ppm"))
      .withColumn("diff_ppm", abs(col("a_ppm") - col("b_ppm")))
  }

  /** [NS] — smoothed target encoding with leave-one-out columns, the
    * feature-store categorical encoder: category c maps to
    * `(pos_c + m·prior) / (n_c + m)` (additive / "James–Stein-style"
    * smoothing toward the global rate, so rare categories don't memorize
    * noise), emitted as EXACT integer ppm by clearing denominators:
    * `enc_ppm = 10⁶·(pos_c·N + m·P) div ((n_c + m)·N)` with P/N the
    * global positives/total. The LOO columns answer the leakage
    * question — what a member row of the category would see with ITSELF
    * removed (`loo_pos_ppm` for a positive member, `loo_neg_ppm` for a
    * negative one) — which is the encoding a leakage-safe trainer must
    * join, not the plain one.
    *
    * All arithmetic runs in decimal(38,0) (exact to 10³⁸ — at 10¹²
    * rows the cleared-denominator products exceed long range), with the
    * final ppm cast back to long. One groupBy + one 1-row broadcast; no
    * joins against the fact table. */
  def targetEncode(df: DataFrame, catCol: String, labelCol: String,
      m: Int = 10): DataFrame = {
    require(m >= 0, s"smoothing weight must be non-negative, got $m")
    val g = df.agg(count(lit(1)).as("_N"),
      sum(col(labelCol).cast("long")).as("_P"))
    // `div` (IntegralDivide) — NOT `/`, whose decimal result rounds at
    // scale 6 and can round a …9999995 quotient across the floor
    def d(s: String) = s"cast($s as decimal(38,0))"
    def ppm(pos: String, n: String): String =
      s"cast((${d("1000000")} * (${d(pos)} * ${d("_N")} + " +
        s"${d(m.toString)} * ${d("_P")})) div " +
        s"((${d(n)} + $m) * ${d("_N")}) as long)"
    df.groupBy(col(catCol))
      .agg(count(lit(1)).as("n"), sum(col(labelCol).cast("long")).as("pos"))
      .crossJoin(broadcast(g))
      .select(col(catCol), col("n"), col("pos"),
        expr(ppm("pos", "n")).as("enc_ppm"),
        expr(s"case when pos > 0 then ${ppm("pos - 1", "n - 1")} end")
          .as("loo_pos_ppm"),
        expr(s"case when n > pos then ${ppm("pos", "n - 1")} end")
          .as("loo_neg_ppm"))
  }

  /** [NS] — exact LOWER WEIGHTED median per group: the smallest value
    * whose cumulative weight (in (value, tiebreak) order) reaches half
    * the group's total weight — the robust center for weighted streams
    * (e.g. price weighted by quantity), where the unweighted median of
    * line items misrepresents volume. Cumulative weights ride one
    * per-group sort-window; the "first row reaching half" is
    * `min(value WHERE 2·cum ≥ total)` — hit rows form a suffix of the
    * value order, so the min IS the boundary row. Exact long arithmetic
    * throughout (cast your weights; fractional weights should be
    * pre-scaled). */
  def weightedMedian(df: DataFrame, keyCol: String, valCol: String,
      wCol: String, tieCol: String): DataFrame = {
    val wk = Window.partitionBy(col(keyCol))
    val wo = Window.partitionBy(col(keyCol))
      .orderBy(col(valCol), col(tieCol))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    df.filter(col(valCol).isNotNull)
      .withColumn("_w", col(wCol).cast("long"))
      .withColumn("_tot", sum(col("_w")).over(wk))
      .withColumn("_cum", sum(col("_w")).over(wo))
      .groupBy(col(keyCol))
      .agg(min(when(col("_cum") * 2 >= col("_tot"), col(valCol)))
          .as("wmedian"),
        max(col("_tot")).as("total_w"), count(lit(1)).as("n"))
  }

  /** [NS] — EXACT heavy hitters at 100 TB cost: a Misra–Gries sketch
    * pass ([[graft.functions.MisraGriesAggregator]], O(k) mergeable
    * state) nominates ≤ k candidate keys, then ONE more scan counts the
    * candidates exactly (broadcast semi-restriction — the second pass
    * aggregates only candidate rows) and keeps those with count
    * ≥ N div k + 1. The MG guarantee (every key with true count
    * > N/(k+1) survives the sketch) makes the threshold
    * N div k + 1 > N/(k+1) UNCONDITIONALLY sufficient — so the filtered
    * exact counts equal the true heavy-hitter set at any N, which is
    * exactly what the oracle checks (pure exact SQL, no sketch). Two
    * scans, no shuffle wider than k rows + the candidate-restricted
    * aggregation; the classic sketch-nominate / exact-verify pattern. */
  def heavyHittersExact(df: DataFrame, keyCol: String, k: Int): DataFrame = {
    val mg = udaf(graft.functions.MisraGriesAggregator(k))
    val cands = df
      .agg(mg(col(keyCol).cast("string")).as("m"), count(lit(1)).as("_n"))
      .select(explode(map_keys(col("m"))).as("_cand"), col("_n"))
    df.select(col(keyCol).cast("string").as("_cand"))
      .join(broadcast(cands), Seq("_cand"))
      .groupBy(col("_cand"), col("_n"))
      .agg(count(lit(1)).as("cnt"))
      .filter(col("cnt") >= expr(s"_n div $k") + 1)
      .select(col("_cand").as(keyCol), col("cnt"),
        expr("(cnt * 1000000) div _n").as("share_ppm"))
  }

  /** [NS] — survivorship merge (golden record): per key, each listed
    * attribute independently takes its MOST RECENT NON-NULL observation
    * (ordered by `tsCol` then `tieCol`, both descending) — the
    * master-data-management rule for fusing sparse, partial records of
    * one entity into a single row, where a plain latest-row-wins merge
    * would clobber known attributes with the newest row's NULLs.
    *
    * Per attribute: one row_number window ordered by (non-null first,
    * recency). All windows share the key partitioning, so Spark plans
    * ONE exchange on the key followed by per-attribute sorts; the final
    * groupBy rides the same partitioning. No joins, no self-union —
    * survivorship of 100 TB of CDC history is one shuffle. */
  def survivorship(df: DataFrame, keyCol: String, tsCol: String,
      tieCol: String, cols: Seq[String]): DataFrame = {
    require(cols.nonEmpty, "survivorship needs at least one attribute")
    val ranked = cols.foldLeft(df) { (acc, c) =>
      acc.withColumn(s"_rn_$c", row_number.over(
        Window.partitionBy(col(keyCol)).orderBy(
          col(c).isNotNull.desc, col(tsCol).desc, col(tieCol).desc)))
    }
    val aggs = count(lit(1)).as("n_records") +:
      cols.map(c => max(when(col(s"_rn_$c") === 1, col(c))).as(c))
    ranked.groupBy(col(keyCol)).agg(aggs.head, aggs.tail: _*)
  }

  /** [NS] — robust per-group outlier gate on median/MAD (Hampel filter):
    * a row is flagged iff |x − median| > c·MAD, where MAD is the median
    * absolute deviation. Unlike the mean/stddev gate
    * ([[graft.operators.Curation.exactOutliers]]) this has a 50%
    * breakdown point — a contaminated tail cannot drag the threshold,
    * which is why it is the standard spike detector for metrics streams.
    *
    * Both medians are LOWER medians (element at row_number (n+1) div 2
    * ordered by (value, tiebreak)) — an order statistic both engines pick
    * identically, so the whole output hash-matches the oracle; |x−med|
    * and c·MAD are single IEEE ops on identical operands. Two per-group
    * sort-windows (median, then MAD) — per-key windows parallelize across
    * groups, never a global sort; NULL values are excluded up front
    * (membership in an outlier test is undefined for NULL). */
  def madOutliers(df: DataFrame, keyCol: String, valCol: String,
      tieCol: String, c: Int = 3): DataFrame = {
    val wk = Window.partitionBy(col(keyCol))
    val v = col(valCol).cast("double")
    val in = df.filter(col(valCol).isNotNull)
    val med = in
      .withColumn("_n", count(lit(1)).over(wk))
      .withColumn("_rn", row_number.over(
        Window.partitionBy(col(keyCol)).orderBy(v, col(tieCol))))
      .withColumn("med",
        max(when(col("_rn") === expr("(_n + 1) div 2"), v)).over(wk))
      .withColumn("abs_dev", abs(v - col("med")))
    med
      .withColumn("_rn2", row_number.over(
        Window.partitionBy(col(keyCol))
          .orderBy(col("abs_dev"), col(tieCol))))
      .withColumn("mad",
        max(when(col("_rn2") === expr("(_n + 1) div 2"), col("abs_dev")))
          .over(wk))
      .withColumn("is_out", col("abs_dev") > lit(c.toDouble) * col("mad"))
      .drop("_n", "_rn", "_rn2")
  }

  /** Experiment sizing ladder: units per arm needed to detect a δ lift
    * on a mean metric at two-sided α = 5% with 80% power —
    * n = ⌈(z_{α/2}+z_β)²·2σ²/δ²⌉, with (1.959964 + 0.841621)² =
    * 7.848879 hardcoded as `kPpm` in BOTH engines (the F-series
    * byte-identical-constant convention — normal quantiles are
    * transcendental, so they enter as pinned constants, never computed).
    * The answer to "how long must this experiment run", evaluated for a
    * ladder of minimum-detectable-effect percentages of the current
    * mean. One aggregate over units; exact sample variance via the
    * decimal(38,0) moment algebra ([[cuped]]'s); ceiling division in
    * integers. A zero δ (mean too small for the pct) yields NULL —
    * undetectable, not free. */
  def sampleSizeLadder(perUnit: DataFrame, valCol: String,
      mdePcts: Seq[Int], kPpm: Long = 7848879L): DataFrame = {
    require(mdePcts.nonEmpty && mdePcts.forall(p => p > 0 && p <= 100),
      s"mde percents in (0,100]: $mdePcts")
    val spark = perUnit.sparkSession
    import spark.implicits._
    val d38 = "decimal(38,0)"
    val x = col(valCol).cast(d38)
    val m = perUnit.agg(count(lit(1)).cast(d38).as("_n"),
        sum(x).as("_sx"), sum(x * x).as("_sxx"))
      .select(col("_n").cast("long").as("n_units"),
        expr("_sx div _n").as("mean_c"),
        expr("CASE WHEN _n > 1 THEN (_n * _sxx - _sx * _sx) " +
          "div (_n * (_n - 1)) ELSE CAST(0 AS BIGINT) END").as("var_c2"))
    m.crossJoin(broadcast(mdePcts.toDF("mde_pct")))
      .withColumn("delta_c", expr("(mean_c * mde_pct) div 100"))
      .withColumn("n_per_arm", expr(
        s"CASE WHEN delta_c > 0 THEN CAST((CAST($kPpm AS DECIMAL(38,0))" +
          " * 2 * var_c2 + CAST(1000000 AS DECIMAL(38,0)) * delta_c" +
          " * delta_c - 1) div (CAST(1000000 AS DECIMAL(38,0))" +
          " * delta_c * delta_c) AS BIGINT) END"))
      .select(col("mde_pct"), col("delta_c"), col("n_per_arm"),
        col("n_units"), col("mean_c"), col("var_c2"))
  }

  /** Split-conformal prediction interval (Vovk et al.; Lei et al. 2018):
    * distribution-free uncertainty for ANY point predictor. On a held-out
    * calibration set, take the k-th smallest absolute residual with
    * k = ⌈(1−α)(n+1)⌉; the interval ŷ ± q̂ then covers a fresh point
    * with probability ≥ 1−α, no matter how bad the model is — the
    * finite-sample guarantee that makes this the standard wrapper
    * around production regressors. Reported: q̂ and the EMPIRICAL test
    * coverage in exact ppm (the number the guarantee promises to bound
    * below by (1−α)·10⁶ − sampling noise).
    *
    * All arithmetic exact: residuals are integer |actual − pred|, the
    * order statistic is a global-rank pick (the two-pass
    * [[Curation.withGlobalRank]] shape — no single-partition window),
    * k is integer ceiling division, coverage is a floor-ppm count. If
    * k > n_cal the quantile is unbounded (+∞ by convention — reported
    * NULL, coverage 10⁶): the honest small-sample answer. Input: one
    * row per unit with integer pred/actual and a 0/1 split flag
    * (1 = calibration, 0 = test). */
  def splitConformal(df: DataFrame, predCol: String, actualCol: String,
      calCol: String, alphaPct: Int)
      : DataFrame = Stage("Analytics.splitConformal") { implicit st =>
    require(alphaPct > 0 && alphaPct < 100, s"alphaPct in (0,100): $alphaPct")
    val res = df.select(col(calCol).as("_cal"),
      abs(col(actualCol) - col(predCol)).cast("long").as("_r"))
    val cal = res.filter(col("_cal") === 1).select(col("_r"))
    val (ranked, nCal) = Curation.withGlobalRank(cal,
      Seq(col("_r").asc), "_rk")
    // k = ceil((100-alpha)/100 * (n+1)), 1-based; rank col is 0-based
    val qhat = ranked
      .filter(col("_rk") + 1 ===
        expr(s"((100 - $alphaPct) * (${nCal}L + 1) + 99) div 100"))
      .agg(max(col("_r")).as("qhat"))
    val test = res.filter(col("_cal") === 0)
    test.agg(count(lit(1)).as("n_test"))
      .crossJoin(broadcast(qhat))
      .crossJoin(broadcast(
        test.crossJoin(broadcast(qhat))
          .agg(count(when(col("_r") <= col("qhat"), 1))
            .as("_nc")).select(col("_nc"))))
      .select(lit(nCal).as("n_cal"), col("n_test"), col("qhat"),
        when(col("qhat").isNull, col("n_test")).otherwise(col("_nc"))
          .as("n_covered"),
        expr("CASE WHEN n_test > 0 THEN (1000000 * " +
          "CASE WHEN qhat IS NULL THEN n_test ELSE _nc END) div n_test " +
          "END").as("coverage_ppm"))
  }

  /** CUPED variance reduction (Deng et al. 2013): adjust an experiment
    * metric by its pre-period covariate, Yadj = Y − θ·(X − E[X]) with
    * θ = cov(X,Y)/var(X), so unit-level noise that existed BEFORE the
    * experiment is subtracted out of the treatment/control comparison.
    * The classic ~40–60% variance cut for engagement metrics — at
    * pipeline scale it is the difference between a week and a month of
    * experiment runtime for the same power.
    *
    * Input is one row per experimental unit with integer-scaled x
    * (pre-period metric), y (experiment metric) and a 0/1 variant.
    * Everything is ONE aggregate over the units and exact integer
    * algebra on its moments (decimal(38,0) products, integral divide),
    * so the DuckDB oracle hash-matches bit-for-bit:
    *  - theta_ppm       = 10^6·(n·Sxy − Sx·Sy) div (n·Sxx − Sx²)
    *  - var_reduction_ppm = 10^6·cov² div (varX·varY) (= corr² — the
    *    exact share of Var(Y) that CUPED removes, by the identity
    *    Var(Yadj) = Var(Y)·(1 − ρ²))
    *  - diff_raw_ppm / diff_adj_ppm: treatment−control mean gap before
    *    and after adjustment (the adjusted gap subtracts θ·ΔX̄ — the
    *    pre-period imbalance the raw gap would have mistaken for lift).
    * Degenerate inputs (constant X or Y) yield zeros, not errors.
    * Moment products bound: |cxy|² ≤ (n·max|x·y|)², inside decimal(38)
    * for per-unit metrics ≤10^4 and n ≤ 10^6; beyond that, pre-center
    * x/y upstream (the standard two-pass guard) before calling.
    */
  /** Benford first-digit audit (Newcomb 1881 / Benford 1938): compare a
    * positive integer column's leading-digit distribution against the
    * canonical log10(1+1/d) expectation — the classic fabricated-data /
    * unit-mixup / truncation-bug detector for financial and metric
    * columns (organically-grown multiplicative quantities follow it;
    * hand-entered, capped, or synthesized ones usually don't).
    *
    * The leading digit comes from the integer's decimal string (both
    * engines print a BIGINT identically), NEVER from log10 — a
    * float log at a power-of-ten boundary is exactly where engines
    * disagree by an ulp. Expected shares are the nine canonical ppm
    * constants hardcoded here AND in the oracle (the F-series
    * byte-identical-constant convention). Output per digit 1–9:
    * observed count, observed/expected share in ppm, absolute
    * deviation. One groupBy on a 9-value key + a broadcast total —
    * nothing in the plan grows with the table. */
  val benfordExpectedPpm: Seq[(Int, Int)] = Seq(
    1 -> 301030, 2 -> 176091, 3 -> 124939, 4 -> 96910, 5 -> 79181,
    6 -> 66947, 7 -> 57992, 8 -> 51153, 9 -> 45757)

  def benfordAudit(df: DataFrame, valCol: String): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val counts = df
      .filter(col(valCol).isNotNull && col(valCol) > 0)
      .select(substring(col(valCol).cast("long").cast("string"), 1, 1)
        .cast("int").as("digit"))
      .groupBy(col("digit")).agg(count(lit(1)).as("n"))
    val tot = counts.agg(sum(col("n")).as("total"))
    counts
      .join(broadcast(benfordExpectedPpm.toDF("digit", "expected_ppm")),
        Seq("digit"))
      .crossJoin(broadcast(tot))
      .withColumn("share_ppm", expr("(1000000 * n) div total"))
      .withColumn("dev_ppm",
        abs(col("share_ppm") - col("expected_ppm")).cast("long"))
      .select(col("digit"), col("n"), col("share_ppm"),
        col("expected_ppm"), col("dev_ppm"))
  }

  /** Difference-in-differences: the two-group × two-period experiment
    * readout when assignment wasn't randomized — the control group's
    * pre→post drift estimates the secular trend, and the treatment
    * effect is what the treatment group moved BEYOND that trend:
    * DiD = (m̄11 − m̄10) − (m̄01 − m̄00). The workhorse for rollout /
    * holdout comparisons where CUPED's randomization assumption
    * ([[cuped]]) doesn't hold.
    *
    * Input: one row per observation with 0/1 variant, 0/1 post flags
    * and an integer-scaled value. ONE aggregate builds all four cell
    * counts/sums; means are exact ppm floor divisions, so the oracle
    * hash-matches. An empty cell yields NULL means (a DiD over a
    * missing cell is meaningless and should look missing, not zero). */
  def diffInDiff(df: DataFrame, variantCol: String, postCol: String,
      valCol: String): DataFrame = {
    def cellAgg(v: Int, p: Int): (Column, Column) = {
      val in = col(variantCol) === v && col(postCol) === p
      (count(when(in, 1)).as(s"n$v$p"),
        coalesce(sum(when(in, col(valCol))), lit(0L)).as(s"_s$v$p"))
    }
    val aggs = for {
      v <- Seq(0, 1); p <- Seq(0, 1); c <- { val (a, b) = cellAgg(v, p); Seq(a, b) }
    } yield c
    def mean(v: Int, p: Int) = expr(
      s"CASE WHEN n$v$p > 0 THEN (1000000 * _s$v$p) div n$v$p END")
    df.agg(aggs.head, aggs.tail: _*)
      .withColumn("m00_ppm", mean(0, 0)).withColumn("m01_ppm", mean(0, 1))
      .withColumn("m10_ppm", mean(1, 0)).withColumn("m11_ppm", mean(1, 1))
      .withColumn("did_ppm",
        expr("(m11_ppm - m10_ppm) - (m01_ppm - m00_ppm)"))
      .select(col("n00"), col("n01"), col("n10"), col("n11"),
        col("m00_ppm"), col("m01_ppm"), col("m10_ppm"), col("m11_ppm"),
        col("did_ppm"))
  }

  def cuped(perUnit: DataFrame, variantCol: String, xCol: String,
      yCol: String): DataFrame = {
    val d38 = "decimal(38,0)"
    val x = col(xCol).cast(d38)
    val y = col(yCol).cast(d38)
    val isT = col(variantCol) === 1
    perUnit.agg(
        count(lit(1)).cast(d38).as("_n"),
        sum(x).as("_sx"), sum(y).as("_sy"),
        sum(x * y).as("_sxy"), sum(x * x).as("_sxx"),
        sum(y * y).as("_syy"),
        count(when(isT, 1)).cast(d38).as("_n1"),
        count(when(!isT, 1)).cast(d38).as("_n0"),
        sum(when(isT, x)).as("_sx1"), sum(when(!isT, x)).as("_sx0"),
        sum(when(isT, y)).as("_sy1"), sum(when(!isT, y)).as("_sy0"))
      .withColumn("_cxy", expr("_n * _sxy - _sx * _sy"))
      .withColumn("_cxx", expr("_n * _sxx - _sx * _sx"))
      .withColumn("_cyy", expr("_n * _syy - _sy * _sy"))
      .withColumn("theta_ppm", expr(
        "CASE WHEN _cxx = 0 THEN CAST(0 AS BIGINT) " +
          "ELSE CAST(1000000 AS DECIMAL(38,0)) * _cxy div _cxx END"))
      .withColumn("var_reduction_ppm", expr(
        "CASE WHEN _cxx = 0 OR _cyy = 0 THEN CAST(0 AS BIGINT) " +
          "ELSE CAST(1000000 AS DECIMAL(38,0)) * _cxy * _cxy " +
          "div (_cxx * _cyy) END"))
      .withColumn("diff_raw_ppm", expr(
        "CAST(1000000 AS DECIMAL(38,0)) * _sy1 div _n1 " +
          "- CAST(1000000 AS DECIMAL(38,0)) * _sy0 div _n0"))
      .withColumn("diff_adj_ppm", expr(
        "diff_raw_ppm - theta_ppm * " +
          "(CAST(1000000 AS DECIMAL(38,0)) * _sx1 div _n1 " +
          "- CAST(1000000 AS DECIMAL(38,0)) * _sx0 div _n0) " +
          "div 1000000"))
      .select(col("_n").cast("long").as("n_units"),
        col("theta_ppm"), col("var_reduction_ppm"),
        col("diff_raw_ppm"), col("diff_adj_ppm"))
  }

  /** [NS] — unbiased pass@k (Chen et al. 2021, "Evaluating Large
    * Language Models Trained on Code", eq. 1): per problem with n
    * attempts and c successes, pass@k = 1 − C(n−c,k)/C(n,k), the
    * probability that a random size-k sample of the attempts contains
    * at least one success — THE code-gen eval metric, and the right
    * estimator for any sample-k-of-n success probability (retry
    * budgets, ANN multi-probe hit odds).
    *
    * Exact integers: C(n−c,k)/C(n,k) = Π_{i<k}(n−c−i)/Π_{i<k}(n−i);
    * both products accumulate in decimal(38,0) (k ≤ 12 keeps 10⁹-scale
    * n inside 38 digits) and divide once with `div` (truncating, like
    * the DuckDB twin's HUGEINT `//`), so
    * `pass<k>_ppm = 10⁶ − (10⁶·Πnum) div Πden` hash-matches. When
    * n−c < k the numerator clamps to zero (a success is guaranteed);
    * problems with n < k emit NULL (the estimator is undefined).
    *
    * One groupBy over the attempts — counts only — then per-row
    * arithmetic: no window, no second pass, mergeable at any scale. */
  def passAtK(df: DataFrame, problemCol: String, successCol: Column,
      ks: Seq[Int]): DataFrame = {
    require(ks.nonEmpty && ks.forall(k => k >= 1 && k <= 12),
      s"k values must be in [1,12]: $ks")
    def prod(base: String, k: Int): String =
      (0 until k).map(i =>
        s"CAST(greatest($base - $i, 0) AS DECIMAL(38,0))").mkString(" * ")
    val agg = df.groupBy(col(problemCol))
      .agg(count(lit(1)).as("n"),
        sum(when(successCol, 1L).otherwise(0L)).as("c"))
    ks.foldLeft(agg) { (acc, k) =>
      acc.withColumn(s"pass${k}_ppm", expr(
        s"CASE WHEN n >= $k THEN CAST(1000000 - " +
          s"(CAST(1000000 AS DECIMAL(38,0)) * ${prod("n - c", k)}) " +
          s"div (${prod("n", k)}) AS BIGINT) END"))
    }
  }

  /** [NS] — join-ORDER advisor: [[joinAudit]] predicts one join's
    * output; this prices both orders of a bridge-table chain
    * (left ⋈ bridge ⋈ right, e.g. lineitem ⋈ orders ⋈ customer)
    * WITHOUT running either: from the two key-count tables and one
    * bridge scan,
    *   first_join_rows  exact Σ-of-products cardinality of doing that
    *                    side first (the intermediate a bad order
    *                    materializes and re-shuffles)
    *   final_rows       exact three-way output (identical both ways —
    *                    also the correctness cross-check)
    *   recommended      the order with the smaller intermediate
    * All sums in decimal(38,0) (the q238 convention — products
    * overflow long at 10⁹-row scale). Cost: one aggregate per side
    * table + one bridge scan against two (usually broadcast) count
    * frames. This is the estimate a cost-based optimizer makes from
    * statistics, computed EXACTLY — useful both to pick the order and
    * to audit what the optimizer chose. */
  def joinOrderAdvisor(bridge: DataFrame, leftKey: String,
      rightKey: String, left: DataFrame, leftJoinKey: String,
      right: DataFrame, rightJoinKey: String): DataFrame = {
    val lc = left.groupBy(col(leftJoinKey).as("_lk"))
      .agg(count(lit(1)).as("_lc"))
    val rc = right.groupBy(col(rightJoinKey).as("_rk"))
      .agg(count(lit(1)).as("_rc"))
    val t = bridge.select(col(leftKey).as("_lk"), col(rightKey).as("_rk"))
      .join(lc, Seq("_lk"), "left")
      .join(rc, Seq("_rk"), "left")
      .withColumn("_lc", coalesce(col("_lc"), lit(0L)))
      .withColumn("_rc", coalesce(col("_rc"), lit(0L)))
      .agg(
        sum(col("_lc").cast("decimal(38,0)")).as("_bl"),
        sum(col("_rc").cast("decimal(38,0)")).as("_br"),
        sum((col("_lc").cast("decimal(38,0)") *
          col("_rc").cast("decimal(38,0)"))).as("_fin"))
    val sp = bridge.sparkSession
    import sp.implicits._
    Seq("left_first", "right_first").toDF("plan_name")
      .crossJoin(broadcast(t))
      .withColumn("first_join_rows", expr(
        "CAST(CASE WHEN plan_name = 'left_first' THEN _bl ELSE _br END " +
          "AS BIGINT)"))
      .withColumn("final_rows", expr("CAST(_fin AS BIGINT)"))
      .withColumn("recommended",
        col("first_join_rows") === min(col("first_join_rows")).over(
          Window.partitionBy(lit(1)).rowsBetween(
            Window.unboundedPreceding, Window.unboundedFollowing)))
      .select(col("plan_name"), col("first_join_rows"),
        col("final_rows"), col("recommended"))
  }

  /** [NS] — join-order pick CERTIFIED: [[joinOrderAdvisor]]'s decision
    * made twice per plan — once from the AMS/CMS sketch estimator
    * ([[cmsJoinSizeAudit]]'s inner product, exactly what
    * [[StatsIndex.joinOrderFromSketches]] serves from stored cells)
    * and once from the exact Σ-of-products — each pricing issuing its
    * own recommendation side by side. `agree` is the certification
    * column: the sketch never undercounts an edge, but collision
    * inflation is per-edge, so a near-tie between intermediates can
    * flip the pick; a false `agree` row is not an error, it is the
    * measured cost of deciding from d·w cells instead of full key
    * counts, priced by the est/exact columns on the same row. Cost:
    * two sketch+key-count audits — no candidate join is executed. */
  def joinOrderSketchAudit(bridge: DataFrame, leftKey: String,
      rightKey: String, left: DataFrame, leftJoinKey: String,
      right: DataFrame, rightJoinKey: String, depth: Int,
      width: Int): DataFrame = {
    def arm(name: String, bk: String, side: DataFrame, sk: String) =
      cmsJoinSizeAudit(bridge.select(col(bk)), bk,
          side.select(col(sk)), sk, depth, width)
        .select(lit(name).as("plan_name"),
          col("est_rows").as("est_first_join_rows"),
          col("actual_rows").as("exact_first_join_rows"))
    val w = Window.partitionBy(lit(1)).rowsBetween(
      Window.unboundedPreceding, Window.unboundedFollowing)
    arm("left_first", leftKey, left, leftJoinKey)
      .unionByName(arm("right_first", rightKey, right, rightJoinKey))
      .withColumn("sketch_recommended", col("est_first_join_rows") ===
        min(col("est_first_join_rows")).over(w))
      .withColumn("exact_recommended", col("exact_first_join_rows") ===
        min(col("exact_first_join_rows")).over(w))
      .withColumn("agree",
        col("sketch_recommended") === col("exact_recommended"))
  }

  /** [NS] — distribution SHAPE profile: per group, the two shape
    * readouts a numeric-column audit needs beyond q134's basic stats,
    * both exact so they hash-match:
    *  - bowley_skew_ppm: quartile skewness 10⁶·(q3 + q1 − 2·q2) div
    *    (q3 − q1) — pure order statistics (the per-group rank pick both
    *    engines make identically), robust, NULL when q3 = q1;
    *  - kurt_excess_ppm: moment excess kurtosis 10⁶·n·Σd⁴ div (Σd²)²
    *    − 3·10⁶, where d = x − (Σx div n) — central sums about the
    *    TRUNCATED integer mean (a deliberate convention: the ≤1-unit
    *    mean offset perturbs the ratio at ppb level, and the oracle
    *    replays the identical arithmetic); power sums in decimal(38,0)
    *    (d⁴ at 10⁴-unit values × 10⁹ rows needs ~10²⁵). NULL when
    *    Σd² = 0 (constant group).
    * Heavy-tailed flag: kurt_excess_ppm > 0. `valCol` must already be
    * integer-scaled (the ×100 cents convention). Two aggregate passes
    * (power sums need the mean) + one quartile window — group-parallel
    * throughout. */
  def shapeProfile(df: DataFrame, keyCol: String,
      valCol: String): DataFrame = Stage("Analytics.shapeProfile") { st =>
    val in = st.checkpoint(
      df.filter(col(keyCol).isNotNull && col(valCol).isNotNull)
        .select(col(keyCol), col(valCol).cast("long").as("_v")), "in")
    val w = Window.partitionBy(col(keyCol))
    val quart = in
      .withColumn("_rn", row_number().over(w.orderBy(col("_v"))))
      .withColumn("_n", count(lit(1)).over(w))
      .groupBy(col(keyCol))
      .agg(
        max(when(expr("_rn = (25 * (_n - 1)) div 100 + 1"), col("_v")))
          .as("q1"),
        max(when(expr("_rn = (50 * (_n - 1)) div 100 + 1"), col("_v")))
          .as("q2"),
        max(when(expr("_rn = (75 * (_n - 1)) div 100 + 1"), col("_v")))
          .as("q3"))
    val mean = in.groupBy(col(keyCol))
      .agg(count(lit(1)).as("n"), sum(col("_v")).as("_s1"))
      .withColumn("_mu", expr("_s1 div n"))
    val cents = in.join(mean.select(col(keyCol), col("n"), col("_mu")),
        Seq(keyCol))
      .withColumn("_d", col("_v") - col("_mu"))
      .groupBy(col(keyCol), col("n"))
      .agg(
        sum(expr("CAST(_d AS DECIMAL(38,0)) * _d")).as("_cs2"),
        sum(expr("CAST(_d AS DECIMAL(38,0)) * _d * _d * _d")).as("_cs4"))
    quart.join(cents, Seq(keyCol))
      .withColumn("bowley_skew_ppm", expr(
        "CASE WHEN q3 > q1 THEN CAST((1000000 * (q3 + q1 - 2 * q2)) " +
          "div (q3 - q1) AS BIGINT) END"))
      .withColumn("kurt_excess_ppm", expr(
        "CASE WHEN _cs2 > 0 THEN CAST((CAST(1000000 AS DECIMAL(38,0)) " +
          "* n * _cs4) div (_cs2 * _cs2) - 3000000 AS BIGINT) END"))
      .withColumn("heavy_tailed", expr(
        "CASE WHEN kurt_excess_ppm IS NOT NULL " +
          "THEN kurt_excess_ppm > 0 END"))
      .select(col(keyCol), col("n"), col("q1"), col("q2"), col("q3"),
        col("bowley_skew_ppm"), col("kurt_excess_ppm"),
        col("heavy_tailed"))
  }

  /** [NS] — rank-biased overlap curve (Webber et al. 2010): given two
    * ranked lists as (term, ra) / (term, rb) frames and per-depth ppm
    * weights (hardcoded, summing to 10⁶ — the Benford convention for
    * transcendental p-powers), emits per depth d: the lists' top-d
    * overlap, the weighted agreement term (w·ov) div d, and the
    * cumulative RBO@d. Identical lists score exactly 10⁶ at full
    * depth (AnalyticsSpec pins it — the weight-normalization check).
    * Everything after the inputs is |depths| rows. */
  def rboCurve(a: DataFrame, b: DataFrame, wts: Seq[Long]): DataFrame = {
    val sp = a.sparkSession
    import sp.implicits._
    val depths = wts.zipWithIndex.map { case (w, i) => (i + 1, w) }
      .toDF("depth", "w_ppm")
    val pairs = a.join(b, Seq("term"))
    depths.join(pairs,
        col("ra") <= col("depth") && col("rb") <= col("depth"), "left")
      .groupBy(col("depth"), col("w_ppm"))
      .agg(count(col("term")).as("overlap"))
      .withColumn("term_ppm", expr("(w_ppm * overlap) div depth"))
      .withColumn("rbo_cum_ppm",
        sum(col("term_ppm")).over(Window.orderBy(col("depth"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .select(col("depth"), col("w_ppm"), col("overlap"),
        col("term_ppm"), col("rbo_cum_ppm"))
  }

  /** The p=0.9, k=10 RBO depth weights in ppm — p^(d−1) normalized to
    * sum to exactly 10⁶ (the last weight absorbs the 26 ppm rounding
    * residue, largest-remainder style). */
  val rboWeightsP90K10: Seq[Long] = Seq(153538L, 138184L, 124366L,
    111929L, 100736L, 90663L, 81596L, 73437L, 66093L, 59458L)

  /** [NS] — sample representativeness certificate: does a sample
    * preserve the corpus's distribution over `keyCol`? Per key:
    * corpus/sample populations, exact ppm shares, the signed share
    * shift, the total-variation distance Σ|shift| div 2 (same value on
    * every row of the small output), and `representative` =
    * tvd < `thresholdPpm`. Every downstream eval silently assumes its
    * sample looks like the corpus — this is the check that catches a
    * balanced or capped sampler being used where a proportional one
    * was meant (a BALANCED sample of a skewed corpus is flagged BY
    * DESIGN: that is the certificate working). Cost: one aggregate on
    * each side + a |keys|-row join; the corpus is read once. */
  def sampleSkewCertificate(corpus: DataFrame, sample: DataFrame,
      keyCol: String, thresholdPpm: Long): DataFrame = {
    val tot = Window.partitionBy(lit(1)).rowsBetween(
      Window.unboundedPreceding, Window.unboundedFollowing)
    val c = corpus.groupBy(col(keyCol))
      .agg(count(lit(1)).as("corpus_n"))
    val sm = sample.groupBy(col(keyCol))
      .agg(count(lit(1)).as("sample_n"))
    c.join(sm, Seq(keyCol), "full_outer")
      .withColumn("corpus_n", coalesce(col("corpus_n"), lit(0L)))
      .withColumn("sample_n", coalesce(col("sample_n"), lit(0L)))
      .withColumn("_ct", sum(col("corpus_n")).over(tot))
      .withColumn("_st", sum(col("sample_n")).over(tot))
      .withColumn("corpus_ppm", expr(
        "CASE WHEN _ct > 0 THEN (1000000 * corpus_n) div _ct " +
          "ELSE CAST(0 AS BIGINT) END"))
      .withColumn("sample_ppm", expr(
        "CASE WHEN _st > 0 THEN (1000000 * sample_n) div _st " +
          "ELSE CAST(0 AS BIGINT) END"))
      .withColumn("shift_ppm", expr("sample_ppm - corpus_ppm"))
      .withColumn("_sabs", sum(abs(col("shift_ppm"))).over(tot))
      .withColumn("tvd_ppm", expr("_sabs div 2"))
      .withColumn("representative", col("tvd_ppm") < thresholdPpm)
      .select(col(keyCol), col("corpus_n"), col("sample_n"),
        col("corpus_ppm"), col("sample_ppm"), col("shift_ppm"),
        col("tvd_ppm"), col("representative"))
  }

  /** [NS] — Bradley–Terry preference aggregation (Zermelo 1929; the
    * minorization–maximization form of Hunter 2004): turn pairwise
    * win/loss records — RLHF preference pairs, A/B duels, match
    * results — into per-item strengths. The MM recurrence
    * s_i ← W_i / Σ_j n_ij/(s_i+s_j), run `iters` rounds from the
    * uniform start and renormalized to mean 10⁶ each round, done in
    * EXACT integer ppm: t_ij = n_ij·10¹² div (s_i+s_j) (decimal(38,0)
    * products), s'_i = W_i·10¹² div Σt, s''_i = s'·N·10⁶ div Σs'.
    * Truncating div everywhere, so both engines agree bit-for-bit and
    * partial-aggregation order can't leak in. A winless item fixes at
    * 0 (its true MLE limit); the one divide-by-zero shape — a pair
    * whose BOTH sides have reached 0 — contributes t = 0 by the same
    * CASE guard in both engines.
    *
    * Scale: the contest log collapses to one (i, j, n_ij) aggregate up
    * front (the only corpus-sized pass); each round is |pairs|-sized —
    * one broadcast-ready join of the pair table against the |items|-row
    * strength table + one groupBy(i) — and the normalizer is a 1-row
    * aggregate crossJoined back (broadcast singleton). `iters` is a
    * bounded constant: strengths move monotonically toward the MLE and
    * ranking stabilizes in a handful of rounds (the oracle unrolls the
    * same constant).
    *
    * Output: (item, wins, games, strength_ppm, rk) — rk by strength
    * desc, item asc. */
  def bradleyTerry(contests: DataFrame, winCol: String, loseCol: String,
      iters: Int): DataFrame =
    bradleyTerryFromCounts(
      contests.groupBy(col(winCol).as("i"), col(loseCol).as("j"))
        .agg(count(lit(1)).as("w")), iters)

  /** [[bradleyTerry]] on a PRE-AGGREGATED directed count table
    * (i, j, w) = "i beat j w times" — the entry point for durable
    * duel state ([[graft.streaming.SketchState.foreachBatchDuels]]
    * folds counts across epochs; ratings re-derive from the
    * |pairs|-row state, never from historical contests). */
  def bradleyTerryFromCounts(d0: DataFrame, iters: Int): DataFrame = {
    require(iters >= 1 && iters <= 16, s"iters must be in [1,16]: $iters")
    Stage("Analytics.bradleyTerry") { implicit st =>
      val d = d0.select(col("i"), col("j"), col("w"))
      // per-orientation win counts: one row per (i, j) that ever met,
      // w_ij = i's wins over j (0 rows materialized for the losing seat)
      val sym = d.union(d.select(col("j"), col("i"), lit(0L)))
        .groupBy("i", "j").agg(sum(col("w")).as("w_ij"))
      val nGames = st.checkpoint(sym.as("a").join(sym.as("b"),
          col("a.i") === col("b.j") && col("a.j") === col("b.i"))
        .select(col("a.i").as("i"), col("a.j").as("j"),
          col("a.w_ij").as("w_ij"),
          (col("a.w_ij") + col("b.w_ij")).as("n_ij")), "games")
      val wins = st.checkpoint(nGames.groupBy(col("i"))
        .agg(sum(col("w_ij")).as("wins"), sum(col("n_ij")).as("games")),
        "wins")
      val s = Fixpoint.iterate(wins.select(col("i"), lit(1000000L).as("s")),
          iters) { (s, _) =>
        val t = nGames
          .join(s.select(col("i"), col("s").as("s_i")), Seq("i"))
          .join(s.select(col("i").as("j"), col("s").as("s_j")), Seq("j"))
          .withColumn("t", expr(
            "CASE WHEN s_i + s_j > 0 THEN " +
              "cast(n_ij as decimal(38,0)) * 1000000000000 div (s_i + s_j) " +
              "ELSE cast(0 as decimal(38,0)) END"))
          .groupBy(col("i"))
          .agg(sum(col("t")).as("den"))
        val raw = wins.join(t, Seq("i"))
          .withColumn("s_raw", expr(
            "CASE WHEN den > 0 THEN " +
              "cast(wins as decimal(38,0)) * 1000000000000 div den " +
              "ELSE cast(0 as decimal(38,0)) END"))
          .select(col("i"), col("s_raw"))
        val norm = raw.agg(sum(col("s_raw")).as("s_tot"),
          count(lit(1)).as("n_items"))
        raw.crossJoin(broadcast(norm))
          .withColumn("s", expr(
            "CASE WHEN s_tot > 0 THEN " +
              "cast(cast(s_raw as decimal(38,0)) * n_items * 1000000 " +
              "div s_tot as bigint) ELSE cast(0 as bigint) END"))
          .select(col("i"), col("s"))
      }(Fixpoint.AllRounds).state
      val rkw = Window.orderBy(col("strength_ppm").desc, col("item").asc)
      wins.join(s, Seq("i"))
        .select(col("i").as("item"), col("wins"), col("games"),
          col("s").as("strength_ppm"))
        .withColumn("rk", row_number().over(rkw).cast("long"))
    }
  }

  /** [NS] — exact two-sample Kolmogorov–Smirnov statistic: the maximum
    * vertical distance between the two empirical CDFs, the
    * distribution-drift test for CONTINUOUS features where the binned
    * family (chi-square q189, TVD q288/q291, PSI-shaped q228) loses
    * information to bin edges. D is computed exactly at every distinct
    * value as |ca·nb − cb·na|·10⁶ div (na·nb) with decimal(38,0)
    * products (ca/cb = cumulative counts ≤ value), so both engines
    * agree bit-for-bit and no continuity correction or binning enters.
    *
    * Scale: the corpus collapses to one groupBy(value) aggregate; the
    * cumulative counts use a DISTRIBUTED prefix sum — per-bucket
    * windows (bucket = floor(value/bucketWidth), partition-parallel)
    * plus a |buckets|-row offset table cumulated once and broadcast
    * back — never a single-partition window over the distinct values
    * (the q140-class mistake for continuous domains). The max and its
    * argmin location are two aggregates over the checkpointed diff
    * frame.
    *
    * Output: one row (n_a, n_b, d_ppm, at_value, drift) — at_value the
    * smallest value attaining D; drift = D ≥ thresholdPpm. */
  def ksTwoSample(a: DataFrame, b: DataFrame, valCol: String,
      bucketWidth: Double, thresholdPpm: Long)
      : DataFrame = Stage("Analytics.ksTwoSample") { st =>
    require(bucketWidth > 0, s"bucketWidth must be positive: $bucketWidth")
    val tagged = a.select(col(valCol).as("v"), lit(1L).as("ia"),
        lit(0L).as("ib"))
      .unionAll(b.select(col(valCol).as("v"), lit(0L).as("ia"),
        lit(1L).as("ib")))
      .filter(col("v").isNotNull)
    val g = tagged.groupBy(col("v"))
      .agg(sum(col("ia")).as("da"), sum(col("ib")).as("db"))
      .withColumn("bk", floor(col("v") / lit(bucketWidth)).cast("long"))
    val inBucket = Window.partitionBy(col("bk")).orderBy(col("v"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val local = g.withColumn("la", sum(col("da")).over(inBucket))
      .withColumn("lb", sum(col("db")).over(inBucket))
    // |buckets|-row offset table: exclusive prefix over bucket totals
    val overBuckets = Window.orderBy(col("bk"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val offsets = g.groupBy(col("bk"))
      .agg(sum(col("da")).as("ta"), sum(col("db")).as("tb"))
      .withColumn("oa", sum(col("ta")).over(overBuckets) - col("ta"))
      .withColumn("ob", sum(col("tb")).over(overBuckets) - col("tb"))
      .select(col("bk"), col("oa"), col("ob"))
    val diffs = st.checkpoint(local.join(broadcast(offsets), Seq("bk"))
      .withColumn("ca", col("oa") + col("la"))
      .withColumn("cb", col("ob") + col("lb"))
      .crossJoin(broadcast(tagged.agg(sum(col("ia")).as("n_a"),
        sum(col("ib")).as("n_b"))))
      .withColumn("d", expr(
        "CASE WHEN n_a > 0 AND n_b > 0 THEN " +
          "cast(abs(cast(ca as decimal(38,0)) * n_b - " +
          "cast(cb as decimal(38,0)) * n_a) * 1000000 " +
          "div (cast(n_a as decimal(38,0)) * n_b) as bigint) " +
          "ELSE cast(0 as bigint) END"))
      .select(col("v"), col("n_a"), col("n_b"), col("d")), "diffs")
    val dmax = diffs.agg(max(col("d")).as("d_ppm"))
    diffs.join(broadcast(dmax), col("d") === col("d_ppm"))
      .groupBy(col("n_a"), col("n_b"), col("d_ppm"))
      .agg(min(col("v")).as("at_value"))
      .withColumn("drift", col("d_ppm") >= thresholdPpm)
      .select(col("n_a"), col("n_b"), col("d_ppm"), col("at_value"),
        col("drift"))
  }

  /** [NS] — exact Mann–Whitney U (Wilcoxon rank-sum): the rank-test
    * companion to [[ksTwoSample]] — KS asks "are the distributions
    * different anywhere", U asks "does one stochastically dominate",
    * and U/(n_a·n_b) IS the probability of superiority (the AUC of a
    * one-feature classifier, the q216 quantity measured between two
    * samples). Computed exactly with ties at half weight by keeping
    * everything doubled: 2U_A = Σ_v a_v·(2·cb_before(v) + b_v) over
    * distinct values (decimal(38,0) products) — no midrank fractions
    * ever materialize. auc_ppm = 2U·10⁶ div (2·n_a·n_b); rank-biserial
    * effect rbc_ppm = 10⁶ − 2U·10⁶ div (n_a·n_b) (positive when A
    * tends SMALLER).
    *
    * Scale: identical shape to [[ksTwoSample]] — one groupBy(value)
    * collapse, bucketed distributed prefix sums for the cumulative
    * B-counts, one final aggregate. Output: one row (n_a, n_b, u2_a,
    * auc_ppm, rbc_ppm). */
  def mannWhitney(a: DataFrame, b: DataFrame, valCol: String,
      bucketWidth: Double): DataFrame = {
    require(bucketWidth > 0, s"bucketWidth must be positive: $bucketWidth")
    val tagged = a.select(col(valCol).as("v"), lit(1L).as("ia"),
        lit(0L).as("ib"))
      .unionAll(b.select(col(valCol).as("v"), lit(0L).as("ia"),
        lit(1L).as("ib")))
      .filter(col("v").isNotNull)
    val g = tagged.groupBy(col("v"))
      .agg(sum(col("ia")).as("da"), sum(col("ib")).as("db"))
      .withColumn("bk", floor(col("v") / lit(bucketWidth)).cast("long"))
    val inBucket = Window.partitionBy(col("bk")).orderBy(col("v"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val overBuckets = Window.orderBy(col("bk"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val offsets = g.groupBy(col("bk"))
      .agg(sum(col("db")).as("tb"))
      .withColumn("ob", sum(col("tb")).over(overBuckets) - col("tb"))
      .select(col("bk"), col("ob"))
    g.withColumn("lb", sum(col("db")).over(inBucket))
      .join(broadcast(offsets), Seq("bk"))
      .withColumn("cb_before", col("ob") + col("lb") - col("db"))
      .crossJoin(broadcast(tagged.agg(sum(col("ia")).as("n_a"),
        sum(col("ib")).as("n_b"))))
      .agg(max(col("n_a")).as("n_a"), max(col("n_b")).as("n_b"),
        sum(expr("cast(da as decimal(38,0)) * (2 * cb_before + db)"))
          .as("_u2"))
      .withColumn("u2_a", expr("cast(_u2 as bigint)"))
      .withColumn("auc_ppm", expr(
        "CASE WHEN n_a > 0 AND n_b > 0 THEN " +
          "cast(_u2 * 1000000 div (2 * cast(n_a as decimal(38,0)) " +
          "* n_b) as bigint) END"))
      .withColumn("rbc_ppm", expr(
        "CASE WHEN n_a > 0 AND n_b > 0 THEN " +
          "cast(1000000 - _u2 * 1000000 div " +
          "(cast(n_a as decimal(38,0)) * n_b) as bigint) END"))
      .select(col("n_a"), col("n_b"), col("u2_a"), col("auc_ppm"),
        col("rbc_ppm"))
  }

  /** [NS] — Kruskal–Wallis H (1952): the k-sample extension of
    * [[mannWhitney]] — "do ANY of these groups differ in location" on
    * ranks, no normality assumed. Exact via doubled midranks:
    * midrank2(v) = 2·c_before(v) + cnt(v) + 1 is an integer, so
    * 2R_j = Σ cnt_jv·midrank2(v) is exact and
    * H = 3·Σ(2R_j)²/n_j / (N(N+1)) − 3(N+1), emitted in truncating
    * ppm with decimal(38,0) products, plus the tie-correction factor
    * C = 1 − Σ(t³−t)/(N³−N) and H/C. Bound: (2N²)²·10⁶ must fit
    * decimal(38) → N ≲ 5·10⁷ ranked rows — the audit contract (group
    * medians at full corpus scale live in q156/q166; KW is the
    * significance readout, run on the value-collapsed frame whose
    * size is DISTINCT values × groups).
    *
    * Scale: one groupBy(value) + one groupBy(value, group) collapse,
    * bucketed distributed prefix sums (the [[ksTwoSample]] machinery),
    * then |groups|-row arithmetic. Output: one row (n_total, n_groups,
    * h_ppm, tie_c_ppm, h_corrected_ppm). */
  def kruskalWallis(df: DataFrame, groupCol: String, valCol: String,
      bucketWidth: Double): DataFrame = Stage("Analytics.kruskalWallis") { st =>
    require(bucketWidth > 0, s"bucketWidth must be positive")
    val base = df
      .filter(col(valCol).isNotNull && col(groupCol).isNotNull)
      .select(col(groupCol).cast("string").as("g"), col(valCol).as("v"))
    val byV = base.groupBy(col("v")).agg(count(lit(1)).as("cnt"))
      .withColumn("bk", floor(col("v") / lit(bucketWidth)).cast("long"))
    val inBucket = Window.partitionBy(col("bk")).orderBy(col("v"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val overBuckets = Window.orderBy(col("bk"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val offsets = byV.groupBy(col("bk"))
      .agg(sum(col("cnt")).as("tc"))
      .withColumn("oc", sum(col("tc")).over(overBuckets) - col("tc"))
      .select(col("bk"), col("oc"))
    val mid = st.checkpoint(byV.withColumn("lc", sum(col("cnt")).over(inBucket))
      .join(broadcast(offsets), Seq("bk"))
      .withColumn("mid2", lit(2L) * (col("oc") + col("lc") -
        col("cnt")) + col("cnt") + lit(1L))
      .select(col("v"), col("cnt"), col("mid2")), "mid")
    val perGroup = base.groupBy(col("v"), col("g"))
      .agg(count(lit(1)).as("cgv"))
      .join(mid.select(col("v"), col("mid2")), Seq("v"))
      .groupBy(col("g"))
      .agg(sum(col("cgv")).as("n_j"),
        sum(expr("cast(cgv as decimal(38,0)) * mid2")).as("r2_j"))
    val tieSum = mid.agg(
      sum(expr("cast(cnt as decimal(38,0)) * cnt * cnt - cnt"))
        .as("_t3"), sum(col("cnt")).as("n_total"))
    perGroup
      // floor-div kept in decimal via the remainder identity: the
      // quotient (r2²·10⁶ ≈ 10²⁵ at N = 4·10⁴) overflows LongType,
      // which is what a bare `div` would return
      .withColumn("_s", expr(
        "cast((r2_j * r2_j * 1000000 - " +
          "(r2_j * r2_j * 1000000) % n_j) / n_j as decimal(38,0))"))
      .agg(count(lit(1)).as("n_groups"), sum(col("_s")).as("_ss"))
      .crossJoin(broadcast(tieSum))
      .withColumn("h_ppm", expr(
        "CASE WHEN n_total > 1 THEN cast(3 * _ss div " +
          "(cast(n_total as decimal(38,0)) * (n_total + 1)) " +
          "- 3 * (n_total + 1) * 1000000 as bigint) " +
          "ELSE cast(0 as bigint) END"))
      .withColumn("tie_c_ppm", expr(
        "CASE WHEN n_total > 1 THEN cast(1000000 - _t3 * 1000000 div " +
          "(cast(n_total as decimal(38,0)) * n_total * n_total " +
          "- n_total) as bigint) ELSE cast(1000000 as bigint) END"))
      .withColumn("h_corrected_ppm", expr(
        "CASE WHEN tie_c_ppm > 0 THEN " +
          "cast(cast(h_ppm as decimal(38,0)) * 1000000 div tie_c_ppm " +
          "as bigint) END"))
      .select(col("n_total"), col("n_groups"), col("h_ppm"),
        col("tie_c_ppm"), col("h_corrected_ppm"))
  }

  /** [NS] — Wilcoxon signed-rank (1945): the PAIRED member completing
    * the nonparametric family — KS (q305) and Mann–Whitney (q318)
    * compare independent samples, Kruskal–Wallis (q328) many; this one
    * asks "did the SAME units shift" from paired (x, y) observations.
    * Exact via the same doubled-midrank device: zero differences drop
    * (the standard convention), |d| ranks come from the bucketed
    * distributed prefix sums, and the doubled rank sums W2± are exact
    * integers; the rank-biserial effect (W⁺−W⁻)/(W⁺+W⁻) is emitted in
    * truncating ppm. Input: one row per pair. Output: one row
    * (n_pairs, n_zero, w2_plus, w2_minus, rbc_ppm). */
  def wilcoxonSignedRank(df: DataFrame, xCol: String, yCol: String,
      bucketWidth: Double)
      : DataFrame = Stage("Analytics.wilcoxonSignedRank") { st =>
    require(bucketWidth > 0, s"bucketWidth must be positive")
    val d0 = df
      .filter(col(xCol).isNotNull && col(yCol).isNotNull)
      .select((col(xCol).cast("long") - col(yCol).cast("long")).as("d"))
    val base = st.checkpoint(d0.withColumn("a", abs(col("d")))
      .withColumn("pos", col("d") > 0), "base")
    val nz = base.filter(col("d") === 0)
      .agg(count(lit(1)).as("n_zero"))
    val nonzero = base.filter(col("d") =!= 0)
    val byA = nonzero.groupBy(col("a"))
      .agg(count(lit(1)).as("cnt"),
        sum(when(col("pos"), 1L).otherwise(0L)).as("cpos"))
      .withColumn("bk", floor(col("a") / lit(bucketWidth)).cast("long"))
    val inBucket = Window.partitionBy(col("bk")).orderBy(col("a"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val overBuckets = Window.orderBy(col("bk"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val offsets = byA.groupBy(col("bk"))
      .agg(sum(col("cnt")).as("tc"))
      .withColumn("oc", sum(col("tc")).over(overBuckets) - col("tc"))
      .select(col("bk"), col("oc"))
    byA.withColumn("lc", sum(col("cnt")).over(inBucket))
      .join(broadcast(offsets), Seq("bk"))
      .withColumn("mid2", lit(2L) * (col("oc") + col("lc") -
        col("cnt")) + col("cnt") + lit(1L))
      .agg(sum(col("cnt")).as("n_pairs"),
        sum(expr("cast(cpos as decimal(38,0)) * mid2")).as("_wp"),
        sum(expr("cast(cnt - cpos as decimal(38,0)) * mid2"))
          .as("_wm"))
      .crossJoin(broadcast(nz))
      // an all-zero-differences input leaves the ungrouped agg with NULL
      // sums — report n_pairs=0 / W=0 explicitly, not null
      .withColumn("n_pairs", coalesce(col("n_pairs"), lit(0L)))
      .withColumn("_wp", coalesce(col("_wp"), expr("cast(0 as decimal(38,0))")))
      .withColumn("_wm", coalesce(col("_wm"), expr("cast(0 as decimal(38,0))")))
      .withColumn("w2_plus", expr("cast(_wp as bigint)"))
      .withColumn("w2_minus", expr("cast(_wm as bigint)"))
      .withColumn("rbc_ppm", expr(
        "CASE WHEN _wp + _wm > 0 THEN " +
          "cast((_wp - _wm) * 1000000 div (_wp + _wm) as bigint) END"))
      .select(col("n_pairs"), col("n_zero"), col("w2_plus"),
        col("w2_minus"), col("rbc_ppm"))
  }

  /** [NS] — McNemar's test (McNemar 1947): the PAIRED-BINARY member of
    * the nonparametric family — "did the same units flip between two
    * conditions" (model A vs model B on the same prompts; clicked in
    * period 1 vs period 2). Only the discordant cells carry signal:
    * b = x∧¬y, c = ¬x∧y; the statistic is exact truncating ppm
    * chi2_ppm = 10⁶·(b−c)² div (b+c), NULL when b+c = 0 (no
    * discordance — nothing to test). The full 2×2 table rides along.
    * One aggregate over the pair frame; rows with a NULL side are
    * excluded (not a vote). Products run in decimal(38,0) so the
    * squared discordance cannot wrap at any corpus size. */
  def mcnemar(df: DataFrame, xCol: String, yCol: String): DataFrame =
    df.filter(col(xCol).isNotNull && col(yCol).isNotNull)
      .agg(count(lit(1)).as("n_pairs"),
        sum(when(col(xCol) && col(yCol), 1L).otherwise(0L))
          .as("n_both"),
        sum(when(col(xCol) && !col(yCol), 1L).otherwise(0L))
          .as("n_only_x"),
        sum(when(!col(xCol) && col(yCol), 1L).otherwise(0L))
          .as("n_only_y"),
        sum(when(!col(xCol) && !col(yCol), 1L).otherwise(0L))
          .as("n_neither"))
      .select(
        coalesce(col("n_pairs"), lit(0L)).as("n_pairs"),
        coalesce(col("n_both"), lit(0L)).as("n_both"),
        coalesce(col("n_only_x"), lit(0L)).as("n_only_x"),
        coalesce(col("n_only_y"), lit(0L)).as("n_only_y"),
        coalesce(col("n_neither"), lit(0L)).as("n_neither"))
      .withColumn("chi2_ppm", expr(
        "CASE WHEN n_only_x + n_only_y > 0 THEN CAST(" +
          "cast(1000000 as decimal(38,0)) * (n_only_x - n_only_y) * " +
          "(n_only_x - n_only_y) div (n_only_x + n_only_y) " +
          "AS BIGINT) END"))

  /** [NS] — Friedman test (Friedman 1937): the k-sample PAIRED member
    * completing the nonparametric 2×2 — Mann–Whitney (2, unpaired),
    * Kruskal–Wallis (k, unpaired), Wilcoxon signed-rank (2, paired),
    * and now "does ANY treatment differ when every block sees all k
    * treatments". Cell value = the block×treatment truncating integer
    * mean; blocks missing a treatment drop (complete-block design,
    * reported via n_blocks); within-block ties share exact DOUBLED
    * midranks (the q305/q318/q328/q331 device), so every rank sum is
    * an integer. Q rides the cleared-denominator identity
    *   Q = 3·Σ_j R2_j² / (n·k·(k+1)) − 3·n·(k+1)
    * (R2 = doubled ranks make Σ R_j² = Σ R2_j²/4 exact) as one
    * truncating ppm number; Σ R2_j² runs in decimal(38,0). Output:
    * one row per treatment (treatment, r2_sum, n_blocks, k, q_ppm —
    * the statistic constant across rows, q328's readout convention).
    *
    * Scale: one (block, treatment) aggregate over the corpus, then
    * windows partitioned BY BLOCK (k rows each — never a corpus-sized
    * single partition) and a k-row final join. */
  /** Complete blocks of truncating-integer cell means, with exact
    * DOUBLED within-block midranks — the shared front half of
    * [[friedman]] and [[pageTrend]]: (_b, _t, _v, k, _r2). */
  private def rankedCompleteBlocks(df: DataFrame, blockCol: String,
      treatCol: String, valCol: String): DataFrame = {
    val cell = df
      .filter(col(blockCol).isNotNull && col(treatCol).isNotNull &&
        col(valCol).isNotNull)
      .groupBy(col(blockCol).as("_b"), col(treatCol).as("_t"))
      .agg(expr(s"sum(cast($valCol as decimal(38,0))) div count(*)")
        .cast("long").as("_v"))
    val kdf = cell.agg(countDistinct(col("_t")).cast("long").as("k"))
    cell
      .withColumn("_nb",
        count(lit(1)).over(Window.partitionBy(col("_b"))))
      .crossJoin(broadcast(kdf))
      .filter(col("_nb") === col("k"))
      .withColumn("_r", rank().over(
        Window.partitionBy(col("_b")).orderBy(col("_v"))).cast("long"))
      .withColumn("_ties", count(lit(1)).over(
        Window.partitionBy(col("_b"), col("_v"))))
      .withColumn("_r2", expr("2 * (_r - 1) + _ties + 1"))
  }

  def friedman(df: DataFrame, blockCol: String, treatCol: String,
      valCol: String): DataFrame = {
    val ranked = rankedCompleteBlocks(df, blockCol, treatCol, valCol)
    val kdf = ranked.select(col("k")).distinct()
    val perT = ranked.groupBy(col("_t").as("treatment"))
      .agg(sum(col("_r2")).as("r2_sum"),
        count(lit(1)).as("n_blocks"))
    val tot = perT.agg(
      sum(expr("cast(r2_sum as decimal(38,0)) * r2_sum")).as("_ss"),
      max(col("n_blocks")).as("_n"))
    perT.crossJoin(broadcast(tot)).crossJoin(broadcast(kdf))
      .withColumn("q_ppm", expr(
        "CASE WHEN _n > 0 AND k > 1 THEN CAST(" +
          "(cast(3000000 as decimal(38,0)) * _ss) div " +
          "(cast(_n as decimal(38,0)) * k * (k + 1)) " +
          "- 3000000 * _n * (k + 1) AS BIGINT) END"))
      .select(col("treatment"), col("r2_sum"), col("n_blocks"),
        col("k"), col("q_ppm"))
  }

  /** [NS] — Page's trend test (Page 1963): [[friedman]] pointed at an
    * A-PRIORI treatment ORDER — "do the treatments trend the way the
    * hypothesis says", the ordered-alternative reading Friedman's
    * any-difference Q cannot give. Same complete blocks and exact
    * doubled midranks; the statistic is the weighted rank sum
    * L2 = Σ_j j·R2_j (doubled L) against its exact null expectation
    * E[L2] = n·k·(k+1)²/2 (always an integer); trend_agrees = L2 >
    * E[L2]. `order` fixes the hypothesized ranks 1..k — treatments
    * outside it drop. Output: one row per treatment (treatment, j,
    * r2_sum, n_blocks, k, l2, e_l2, trend_agrees), statistic columns
    * constant across rows ([[friedman]]'s readout convention). */
  def pageTrend(df: DataFrame, blockCol: String, treatCol: String,
      valCol: String, order: Seq[String]): DataFrame = {
    require(order.nonEmpty && order.distinct.size == order.size,
      "pageTrend needs a non-empty duplicate-free treatment order")
    val sp = df.sparkSession
    import sp.implicits._
    val ord = order.zipWithIndex.map { case (t, i) => (t, i + 1L) }
      .toDF("_t", "j")
    val ranked = rankedCompleteBlocks(
      df.join(broadcast(ord.select(col("_t").as(treatCol))), treatCol),
      blockCol, treatCol, valCol)
    val perT = ranked.join(broadcast(ord), Seq("_t"))
      .groupBy(col("_t").as("treatment"), col("j"))
      .agg(sum(col("_r2")).as("r2_sum"), count(lit(1)).as("n_blocks"))
    val kdf = ranked.select(col("k")).distinct()
    val tot = perT.agg(
      sum(expr("cast(j as decimal(38,0)) * r2_sum")).as("_l2"),
      max(col("n_blocks")).as("_n"))
    perT.crossJoin(broadcast(tot)).crossJoin(broadcast(kdf))
      .withColumn("l2", expr("CAST(_l2 AS BIGINT)"))
      // guard: E[L2] = n·k·(k+1)²/2 assumes the hypothesized ranks are
      // exactly 1..k — if a treatment named in `order` has NO data rows,
      // k (counted from data) shrinks while j keeps its original
      // position, silently skewing the expectation. Fail loudly instead.
      .withColumn("e_l2", expr(
        s"CASE WHEN k = ${order.size}L THEN " +
          "CAST(cast(_n as decimal(38,0)) * k * (k + 1) * (k + 1) " +
          "div 2 AS BIGINT) ELSE raise_error(concat(" +
          "'pageTrend: only ', cast(k as string), " +
          s"' of ${order.size} ordered treatments present in data')) END"))
      .withColumn("trend_agrees", col("l2") > col("e_l2"))
      .select(col("treatment"), col("j"), col("r2_sum"),
        col("n_blocks"), col("k"), col("l2"), col("e_l2"),
        col("trend_agrees"))
  }

  /** [NS] — Jonckheere–Terpstra (Jonckheere 1954 / Terpstra 1952): the
    * ordered-alternative k-sample UNPAIRED test — q328's
    * Kruskal–Wallis asks "does any group differ"; this asks "do the
    * groups trend in the hypothesized order", as the sum of pairwise
    * Mann–Whitney U's over ordered group pairs. Exact via DOUBLED U
    * (2·wins + ties — integers under any tie pattern):
    * J2 = Σ_{hi>lo} Σ_v c_hi(v)·(2·cumless_lo(v) + ties_lo(v)), computed
    * value-collapsed (never row-pairs): per-group value histograms,
    * one per-group prefix-sum window over the |values|-sized grid,
    * and a histogram×grid join. Null expectation E[J2] =
    * (N² − Σ n_g²)/2 exactly. Output: one row
    * (n_total, k, j2, e_j2, trend_agrees). */
  def jonckheereTerpstra(df: DataFrame, groupCol: String,
      valCol: String, order: Seq[String])
      : DataFrame = Stage("Analytics.jonckheereTerpstra") { st =>
    require(order.size >= 2 && order.distinct.size == order.size,
      "jonckheereTerpstra needs >= 2 ordered distinct groups")
    val sp = df.sparkSession
    import sp.implicits._
    val ord = order.zipWithIndex.map { case (g, i) => (g, i + 1L) }
      .toDF("_g", "_o")
    val hist = st.checkpoint(df
      .filter(col(groupCol).isNotNull && col(valCol).isNotNull)
      .select(col(groupCol).cast("string").as("_g"),
        col(valCol).cast("long").as("_v"))
      .join(broadcast(ord), Seq("_g"))
      .groupBy(col("_g"), col("_o"), col("_v"))
      .agg(count(lit(1)).as("_c")), "hist")
    val allv = hist.select(col("_v")).distinct()
    val grid = allv.crossJoin(broadcast(ord))
      .join(hist.select(col("_g"), col("_v"), col("_c")),
        Seq("_g", "_v"), "left")
      .withColumn("_c", coalesce(col("_c"), lit(0L)))
      .withColumn("_less", coalesce(
        sum(col("_c")).over(Window.partitionBy(col("_g"))
          .orderBy(col("_v"))
          .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
    val j2 = hist.as("i")
      .join(grid.as("j"), col("i._v") === col("j._v") &&
        col("i._o") > col("j._o"))
      .agg(coalesce(sum(expr(
        "cast(`i`.`_c` as decimal(38,0)) * " +
          "(2 * `j`.`_less` + `j`.`_c`)")),
        expr("cast(0 as decimal(38,0))")).as("_j2"))
    val sizes = hist.groupBy(col("_g"))
      .agg(sum(col("_c")).as("_n"))
      .agg(sum(col("_n")).as("_nt"),
        sum(expr("cast(_n as decimal(38,0)) * _n")).as("_nn"),
        count(lit(1)).as("_k"))
    sizes.crossJoin(broadcast(j2))
      .select(col("_nt").as("n_total"), col("_k").as("k"),
        expr("CAST(_j2 AS BIGINT)").as("j2"),
        expr("CAST((cast(_nt as decimal(38,0)) * _nt - _nn) div 2 " +
          "AS BIGINT)").as("e_j2"))
      .withColumn("trend_agrees", col("j2") > col("e_j2"))
  }

  /** [NS] — Cochran's Q (Cochran 1950): the k-treatment PAIRED-BINARY
    * test — [[mcnemar]] generalized the way [[friedman]] generalizes
    * the signed-rank: "does ANY of k binary conditions differ when
    * every block sees all k" (k model variants pass/fail on the same
    * prompts). With C_j = per-treatment success counts, R_i = per-block
    * success counts, T = ΣR_i, the cleared-denominator identity
    *   Q = (k−1)·(k·ΣC_j² − T²) / (k·T − ΣR_i²)
    * is emitted as exact truncating ppm (NULL when the denominator is
    * 0 — every block all-0 or all-1, nothing to test; such blocks
    * cancel identically in both terms, so they may stay). Products in
    * decimal(38,0). Output: one row per treatment (treatment, c_j,
    * n_blocks, k, q_ppm) — the [[friedman]] readout convention. */
  def cochranQ(df: DataFrame, blockCol: String, treatCol: String,
      flagCol: String): DataFrame = {
    val cell = df
      .filter(col(blockCol).isNotNull && col(treatCol).isNotNull &&
        col(flagCol).isNotNull)
      .groupBy(col(blockCol).as("_b"), col(treatCol).as("_t"))
      .agg(max(when(col(flagCol), 1L).otherwise(0L)).as("_x"))
    val kdf = cell.agg(countDistinct(col("_t")).cast("long").as("k"))
    val full = cell
      .withColumn("_nb",
        count(lit(1)).over(Window.partitionBy(col("_b"))))
      .crossJoin(broadcast(kdf))
      .filter(col("_nb") === col("k"))
    val rows = full.groupBy(col("_b"), col("k"))
      .agg(sum(col("_x")).as("_r"))
    val rAgg = rows.agg(sum(col("_r")).as("_tt"),
      sum(expr("cast(_r as decimal(38,0)) * _r")).as("_rr"),
      count(lit(1)).as("_n"))
    val perT = full.groupBy(col("_t").as("treatment"))
      .agg(sum(col("_x")).as("c_j"), count(lit(1)).as("n_blocks"))
    val cAgg = perT.agg(
      sum(expr("cast(c_j as decimal(38,0)) * c_j")).as("_cc"))
    perT.crossJoin(broadcast(rAgg)).crossJoin(broadcast(cAgg))
      .crossJoin(broadcast(kdf))
      .withColumn("q_ppm", expr(
        "CASE WHEN k * _tt - _rr <> 0 THEN CAST(" +
          "(cast(1000000 as decimal(38,0)) * (k - 1) * " +
          "(k * _cc - cast(_tt as decimal(38,0)) * _tt)) div " +
          "(k * cast(_tt as decimal(38,0)) - _rr) AS BIGINT) END"))
      .select(col("treatment"), col("c_j"), col("n_blocks"), col("k"),
        col("q_ppm"))
  }

  /** [NS] — Fleiss' kappa (Fleiss 1971): inter-annotator agreement for
    * n raters per item over categorical labels — the >2-rater
    * generalization the RLHF labeling floor actually needs (q196's
    * Cohen kappa stops at 2). Input: one row per (item, rating);
    * every item must carry exactly `n` ratings (caller slices — the
    * q-fixture takes each item's first n events deterministically).
    * With c_j = total ratings of category j, T = N·n, S = Σ n_ij²:
    *   κ = [ (S − T)·T − (n−1)·Σ c_j² ] / [ (n−1)·(T² − Σ c_j²) ]
    * — the single-fraction form of (P̄−P_e)/(1−P_e) with all
    * denominators cleared, emitted as signed truncating ppm (both
    * engines truncate toward zero). All products in decimal(38,0).
    * Output: one row (n_items, n_raters, kappa_ppm, pbar_ppm, pe_ppm)
    * where the two intermediate agreements are also exact ppm. */
  def fleissKappa(df: DataFrame, itemCol: String,
      ratingCol: String, n: Int): DataFrame = {
    require(n >= 2, s"fleissKappa needs n >= 2 raters, got $n")
    val cells = df
      .groupBy(col(itemCol).as("_i"), col(ratingCol).as("_j"))
      .agg(count(lit(1)).as("_nij"))
    val s = cells.agg(
      sum(expr("cast(_nij as decimal(38,0)) * _nij")).as("_s"),
      countDistinct(col("_i")).as("_items"),
      sum(col("_nij")).as("_t"))
    val cj = cells.groupBy(col("_j")).agg(sum(col("_nij")).as("_cj"))
      .agg(sum(expr("cast(_cj as decimal(38,0)) * _cj")).as("_cj2"))
    // guard: the formula is only valid when EVERY item carries exactly
    // n ratings (the stated contract) — an unsliced input would produce
    // a silently wrong kappa, so fail loudly on the first violation
    val itemChk = cells.groupBy(col("_i")).agg(sum(col("_nij")).as("_ni"))
      .agg(min(col("_ni")).as("_nmin"), max(col("_ni")).as("_nmax"))
    val guard = s"_t > 0 AND (_nmin <> ${n}L OR _nmax <> ${n}L)"
    val guardErr = "raise_error(concat('fleissKappa: every item must " +
      s"carry exactly $n ratings; observed per-item min=', " +
      "cast(_nmin as string), ' max=', cast(_nmax as string)))"
    s.crossJoin(broadcast(cj)).crossJoin(broadcast(itemChk))
      .withColumn("pbar_ppm", expr(
        s"CASE WHEN $guard THEN $guardErr " +
          s"WHEN _t > 0 THEN CAST((cast(1000000 as decimal(38,0)) * " +
          s"(_s - _t)) div (cast(_t as decimal(38,0)) * ${n - 1}) " +
          "AS BIGINT) END"))
      .withColumn("pe_ppm", expr(
        s"CASE WHEN $guard THEN $guardErr " +
          "WHEN _t > 0 THEN CAST((cast(1000000 as decimal(38,0)) * " +
          "_cj2) div (cast(_t as decimal(38,0)) * _t) AS BIGINT) END"))
      .withColumn("kappa_ppm", expr(
        s"CASE WHEN $guard THEN $guardErr " +
          s"WHEN _t > 0 AND cast(_t as decimal(38,0)) * _t <> _cj2 " +
          s"THEN CAST((cast(1000000 as decimal(38,0)) * " +
          s"((_s - _t) * _t - ${n - 1} * _cj2)) div " +
          s"(${n - 1} * (cast(_t as decimal(38,0)) * _t - _cj2)) " +
          "AS BIGINT) END"))
      .select(col("_items").as("n_items"), lit(n.toLong).as("n_raters"),
        col("kappa_ppm"), col("pbar_ppm"), col("pe_ppm"))
  }

  /** [NS] — Theil–Sen robust trend (Theil 1950/Sen 1968): the median of
    * all pairwise slopes per group, plus the matching median intercept
    * — the robust twin of [[trendSlope]] (one wild day shifts an OLS
    * slope arbitrarily; the pairwise median shrugs off up to ~29%
    * outliers). Slopes are (y₂−y₁)·10⁶ div (x₂−x₁) with decimal(38,0)
    * products and signed truncation toward zero (both engines agree);
    * the median is the deterministic LOWER median (rank ⌈m/2⌉ ordered
    * by slope, then pair coordinates); intercept = lower median over
    * points of y·10⁶ − slope·x.
    *
    * Scale: pairwise — deliberately QUADRATIC in the per-group series
    * length. The contract (same as q281's per-basket pairs): feed it
    * the AGGREGATED series (daily/hourly rollups, |days|-sized groups),
    * never raw events — robust trends are a property of a metric
    * series, and the rollup is the one corpus-sized pass. Keys with
    * fewer than two distinct x values have no pairs and are omitted.
    *
    * Output: (key, n_points, n_pairs, slope_ppm, intercept_ppm). */
  def theilSen(df: DataFrame, keyCol: String, xCol: String,
      yCol: String): DataFrame = Stage("Analytics.theilSen") { st =>
    val pts = st.checkpoint(df
      .filter(col(xCol).isNotNull && col(yCol).isNotNull)
      .select(col(keyCol).as("k"), col(xCol).cast("long").as("x"),
        col(yCol).cast("long").as("y")), "pts")
    val slopes = pts.as("a").join(pts.as("b"),
        col("a.k") === col("b.k") && col("a.x") < col("b.x"))
      .select(col("a.k").as("k"), col("a.x").as("x1"),
        col("b.x").as("x2"), expr(
          "cast((cast(`b`.y as decimal(38,0)) - `a`.y) * 1000000 " +
            "div (`b`.x - `a`.x) as bigint)").as("slope"))
    val wS = Window.partitionBy(col("k"))
      .orderBy(col("slope"), col("x1"), col("x2"))
    val slope = slopes
      .withColumn("m", count(lit(1)).over(Window.partitionBy(col("k"))))
      .withColumn("_rk", row_number().over(wS))
      .filter(col("_rk") === expr("(m + 1) div 2"))
      .select(col("k"), col("m").as("n_pairs"),
        col("slope").as("slope_ppm"))
    val wI = Window.partitionBy(col("k"))
      .orderBy(col("ic"), col("x"))
    pts.join(slope, Seq("k"))
      .withColumn("ic", expr(
        "cast(cast(y as decimal(38,0)) * 1000000 - " +
          "cast(slope_ppm as decimal(38,0)) * x as bigint)"))
      .withColumn("n", count(lit(1)).over(Window.partitionBy(col("k"))))
      .withColumn("_rk", row_number().over(wI))
      .filter(col("_rk") === expr("(n + 1) div 2"))
      .select(col("k").as(keyCol), col("n").as("n_points"),
        col("n_pairs"), col("slope_ppm"), col("ic").as("intercept_ppm"))
  }

  /** [NS] — Gini concentration + Lorenz landmarks over a non-negative
    * mass column: the inequality readout for "is this corpus a few
    * giant documents / is this mixture a few dominant domains". Uses
    * the rank identity G = (2·Σrᵢxᵢ − (n+1)·Σx) / (n·Σx) with ascending
    * 1-based ranks — exact under ties because tied x make Σrx invariant
    * to rank order within the tie block — emitted in exact ppm with
    * decimal(38,0) products. Lorenz landmarks: mass share of the bottom
    * 50% of rows and of the top 10% / top 1% (rank-threshold filtered
    * sums; floors, so tiny corpora degrade deterministically).
    *
    * Scale: ranking is the two-pass [[Curation.withGlobalRank]] (range
    * partition + per-partition window + broadcast offsets — never a
    * single-partition window); everything after is one 1-row aggregate
    * crossJoined back and one conditional-sum pass. `tie` must be a
    * unique column (rank determinism; the statistic itself is
    * tie-invariant).
    *
    * Output: one row (n, total, gini_ppm, bottom50_ppm, top10_ppm,
    * top1_ppm). */
  def giniConcentration(df: DataFrame, valCol: String,
      tieCol: String)
      : DataFrame = Stage("Analytics.giniConcentration") { implicit st =>
    val vals = df
      .filter(col(valCol).isNotNull && col(valCol) >= 0)
      .select(col(valCol).cast("long").as("x"), col(tieCol).as("_tie"))
    val ranked = Curation.withGlobalRank(vals,
        Seq(col("x"), col("_tie")), "_r0")._1
      .withColumn("r", col("_r0") + 1L)
    val tot = ranked.agg(count(lit(1)).as("n"),
      sum(col("x").cast("decimal(38,0)")).as("sx"))
    ranked.crossJoin(broadcast(tot))
      .agg(
        max(col("n")).as("n"),
        max(col("sx")).as("_sx"),
        sum(expr("cast(r as decimal(38,0)) * x")).as("_srx"),
        sum(expr("CASE WHEN r <= n * 50 div 100 THEN " +
          "cast(x as decimal(38,0)) ELSE cast(0 as decimal(38,0)) END"))
          .as("_b50"),
        sum(expr("CASE WHEN r > n - n * 10 div 100 THEN " +
          "cast(x as decimal(38,0)) ELSE cast(0 as decimal(38,0)) END"))
          .as("_t10"),
        sum(expr("CASE WHEN r > n - n div 100 THEN " +
          "cast(x as decimal(38,0)) ELSE cast(0 as decimal(38,0)) END"))
          .as("_t1"))
      .withColumn("gini_ppm", expr(
        "CASE WHEN n > 0 AND _sx > 0 THEN " +
          "cast((2 * _srx - (n + 1) * _sx) * 1000000 div (n * _sx) " +
          "as bigint) ELSE cast(0 as bigint) END"))
      .withColumn("bottom50_ppm", expr(
        "CASE WHEN _sx > 0 THEN cast(_b50 * 1000000 div _sx as bigint) " +
          "ELSE cast(0 as bigint) END"))
      .withColumn("top10_ppm", expr(
        "CASE WHEN _sx > 0 THEN cast(_t10 * 1000000 div _sx as bigint) " +
          "ELSE cast(0 as bigint) END"))
      .withColumn("top1_ppm", expr(
        "CASE WHEN _sx > 0 THEN cast(_t1 * 1000000 div _sx as bigint) " +
          "ELSE cast(0 as bigint) END"))
      .withColumn("total", expr("cast(_sx as bigint)"))
      .select(col("n"), col("total"), col("gini_ppm"),
        col("bottom50_ppm"), col("top10_ppm"), col("top1_ppm"))
  }

  /** [NS] — stratified treatment-effect estimate (the
    * direct-standardization / propensity-stratification shape,
    * Cochran 1968): per-stratum mean outcome difference between
    * treated and control, plus the stratum-weighted overall effect —
    * the Simpson's-paradox-proof ATE next to CUPED (q243, variance)
    * and diff-in-diff (q248, time confounding); this one handles
    * COMPOSITION confounding (treatment correlated with a covariate
    * that also moves the outcome). Emitted rows: one per stratum with
    * BOTH arms present, a `__naive__` row (the unstratified diff — the
    * number Simpson's paradox corrupts), and an `__adjusted__` row
    * (Σ nₛ·diffₛ div N over the two-arm strata). Single-arm strata
    * are excluded from the adjusted sum and N — documented, exact.
    *
    * diff_ppm = (sum_t·n_c − sum_c·n_t)·10⁶ div (n_t·n_c): the mean
    * difference ×10⁶ with decimal(38,0) cleared denominators;
    * truncating div at the per-stratum and weighting steps is the
    * engine's documented ppm convention (both engines agree
    * bit-for-bit).
    *
    * Scale: ONE groupBy(stratum) with conditional aggregates over the
    * corpus, then |strata|-row arithmetic. Output: (stratum, n_t, n_c,
    * sum_t, sum_c, diff_ppm) ordered by stratum name (the `__`-prefixed
    * summary rows sort ahead of lowercase strata). */
  def stratifiedEffect(df: DataFrame, stratumCol: String,
      treatCol: String, outcomeCol: String)
      : DataFrame = Stage("Analytics.stratifiedEffect") { st =>
    val base = df
      .filter(col(treatCol).isNotNull && col(outcomeCol).isNotNull &&
        col(stratumCol).isNotNull)
      .select(col(stratumCol).cast("string").as("stratum"),
        col(treatCol).cast("boolean").as("_tr"),
        col(outcomeCol).cast("long").as("_y"))
    val byStratum = st.checkpoint(base.groupBy(col("stratum"))
      .agg(
        sum(when(col("_tr"), 1L).otherwise(0L)).as("n_t"),
        sum(when(!col("_tr"), 1L).otherwise(0L)).as("n_c"),
        sum(when(col("_tr"), col("_y")).otherwise(0L)
          .cast("decimal(38,0)")).as("_st"),
        sum(when(!col("_tr"), col("_y")).otherwise(0L)
          .cast("decimal(38,0)")).as("_sc")), "byStratum")
    def withDiff(d: DataFrame): DataFrame = d
      .withColumn("diff_ppm", expr(
        "CASE WHEN n_t > 0 AND n_c > 0 THEN " +
          "cast((_st * n_c - _sc * n_t) * 1000000 " +
          "div (cast(n_t as decimal(38,0)) * n_c) as bigint) END"))
      .withColumn("sum_t", expr("cast(_st as bigint)"))
      .withColumn("sum_c", expr("cast(_sc as bigint)"))
      .select(col("stratum"), col("n_t"), col("n_c"), col("sum_t"),
        col("sum_c"), col("diff_ppm"))
    val strata = withDiff(byStratum)
    val naive = withDiff(byStratum
      .groupBy(lit("__naive__").as("stratum"))
      .agg(sum(col("n_t")).as("n_t"), sum(col("n_c")).as("n_c"),
        sum(col("_st")).as("_st"), sum(col("_sc")).as("_sc")))
    val adjusted = withDiff(byStratum
        .filter(col("n_t") > 0 && col("n_c") > 0))
      .groupBy(lit("__adjusted__").as("stratum"))
      .agg(sum(col("n_t")).as("n_t"), sum(col("n_c")).as("n_c"),
        sum(col("sum_t")).as("sum_t"), sum(col("sum_c")).as("sum_c"),
        expr("CASE WHEN sum(n_t + n_c) > 0 THEN " +
          "cast(sum(cast(n_t + n_c as decimal(38,0)) * diff_ppm) " +
          "div sum(n_t + n_c) as bigint) END").as("diff_ppm"))
      .select(col("stratum"), col("n_t"), col("n_c"), col("sum_t"),
        col("sum_c"), col("diff_ppm"))
    strata.unionAll(naive).unionAll(adjusted)
      .orderBy(col("stratum"))
  }

  /** [NS] — distinct l-diversity audit (Machanavajjhala et al. 2007):
    * k-anonymity (the [[kAnonymize]] family) stops re-identification
    * but not the HOMOGENEITY attack — a class of 50 identical rows is
    * 50-anonymous and still leaks the sensitive value outright. Per QI
    * equivalence class this emits the class size, the number of
    * DISTINCT sensitive values, the dominant sensitive value's exact
    * ppm share (the homogeneity-risk readout behind recursive
    * (c,l)-diversity), and the pass flag `l_distinct ≥ l`.
    *
    * Scale: one groupBy(qi, sensitive) count + one groupBy(qi)
    * rollup — two map-side-combining exchanges, no window, no
    * distinct-expand. */
  def lDiversity(df: DataFrame, qiCols: Seq[String],
      sensitiveCol: String, l: Long): DataFrame = {
    require(qiCols.nonEmpty && l > 0, s"qiCols=$qiCols l=$l")
    val cells = df
      .filter(col(sensitiveCol).isNotNull)
      .groupBy((qiCols :+ sensitiveCol).map(col): _*)
      .agg(count(lit(1)).as("_c"))
    cells.groupBy(qiCols.map(col): _*)
      .agg(sum(col("_c")).as("n"),
        count(lit(1)).as("l_distinct"),
        max(col("_c")).as("_top"))
      .withColumn("top_share_ppm", expr(
        "CASE WHEN n > 0 THEN (1000000 * _top) div n " +
          "ELSE CAST(0 AS BIGINT) END"))
      .withColumn("pass_l", col("l_distinct") >= l)
      .select(qiCols.map(col) ++ Seq(col("n"), col("l_distinct"),
        col("top_share_ppm"), col("pass_l")): _*)
  }

  /** [NS] — Neyman-style optimal stratified allocation (Neyman 1934),
    * under an L1 dispersion measure so every number stays an exact
    * integer: allocate a sample budget across strata proportionally to
    * N_h·D_h (population × dispersion) instead of N_h alone — the
    * estimator-variance-minimizing refinement of proportional
    * stratified sampling (q71), sized by q261's ladder. D_h is the
    * mean absolute deviation, computed without fractions via
    * Σᵢ|N_h·xᵢ − S_h| = N_h²·D_h (two aggregate passes: sums, then
    * deviations against the broadcast sums); integer weights
    * w_h = that div N_h. Budget split by largest-remainder rounding
    * (exactly `sampleSize` allocated, ties by stratum name), then
    * capped at N_h post-hoc with the `capped` flag — redistribution is
    * [[graft.operators.Curation.uniMaxAllocate]]'s job if wanted.
    * Zero-dispersion strata get weight 0: one row from a constant
    * stratum already determines it, which is exactly Neyman's point.
    *
    * Output: (stratum, n_pop, disp_w, n_alloc, alloc_ppm, capped). */
  def neymanAllocation(df: DataFrame, stratumCol: String,
      valCol: String, sampleSize: Long): DataFrame = {
    require(sampleSize >= 0, s"sampleSize=$sampleSize")
    val base = df.filter(col(valCol).isNotNull)
      .select(col(stratumCol).cast("string").as("stratum"),
        col(valCol).cast("long").as("x"))
    val sums = base.groupBy(col("stratum"))
      .agg(count(lit(1)).as("n_pop"),
        sum(col("x").cast("decimal(38,0)")).as("sx"))
    val w = base.join(broadcast(sums), Seq("stratum"))
      .groupBy(col("stratum"))
      .agg(max(col("n_pop")).as("n_pop"),
        sum(expr("abs(cast(n_pop as decimal(38,0)) * x - sx)"))
          .as("_dev"))
      .withColumn("disp_w", expr(
        "CASE WHEN n_pop > 0 THEN cast(_dev div n_pop as bigint) " +
          "ELSE cast(0 as bigint) END"))
      .select(col("stratum"), col("n_pop"), col("disp_w"))
    val all = Window.partitionBy(lit(1)).rowsBetween(
      Window.unboundedPreceding, Window.unboundedFollowing)
    val remOrd = Window.orderBy(col("_rem").desc, col("stratum").asc)
    w.withColumn("_wtot", sum(col("disp_w")).over(all))
      .withColumn("_base", expr(
        s"CASE WHEN _wtot > 0 THEN " +
          s"cast(cast($sampleSize as decimal(38,0)) * disp_w " +
          "div _wtot as bigint) ELSE cast(0 as bigint) END"))
      .withColumn("_rem", expr(
        s"CASE WHEN _wtot > 0 THEN " +
          s"cast(cast($sampleSize as decimal(38,0)) * disp_w - " +
          "cast(_base as decimal(38,0)) * _wtot as decimal(38,0)) " +
          "ELSE cast(0 as decimal(38,0)) END"))
      .withColumn("_leftover", lit(sampleSize) - sum(col("_base")).over(all))
      .withColumn("_rk", row_number().over(remOrd).cast("long"))
      .withColumn("_prop", expr(
        "_base + CASE WHEN _rk <= _leftover THEN 1 ELSE 0 END"))
      .withColumn("n_alloc", least(col("_prop"), col("n_pop")))
      .withColumn("capped", col("_prop") > col("n_pop"))
      .withColumn("alloc_ppm", expr(
        s"CASE WHEN $sampleSize > 0 THEN " +
          s"(1000000 * n_alloc) div $sampleSize " +
          "ELSE cast(0 as bigint) END"))
      .select(col("stratum"), col("n_pop"), col("disp_w"),
        col("n_alloc"), col("alloc_ppm"), col("capped"))
  }

  /** [NS] — Goodman–Kruskal gamma (1954): rank association between two
    * rankings of the same keys from concordant/discordant pair counts —
    * γ = (C − D)/(C + D), EXACT in ppm (no √ of tie-corrected
    * denominators, which is why gamma and not Kendall's τ-b is the
    * engine's rank-correlation: τ-b's denominator is irrational). The
    * classical-statistics complement of the RBO curve (q296): RBO
    * weights the HEAD, gamma treats all pairs equally and reads
    * direction (+1 same order, −1 reversed). Quadratic in the list —
    * the [[theilSen]] contract: feed it top-k rankings, not corpora.
    * Input: one row per common key with both ranks. Output: one row
    * (n_keys, n_pairs, concordant, discordant, tied, gamma_ppm). */
  def goodmanKruskalGamma(df: DataFrame, keyCol: String,
      raCol: String, rbCol: String)
      : DataFrame = Stage("Analytics.goodmanKruskalGamma") { st =>
    val m = st.checkpoint(df.select(col(keyCol).cast("string").as("k"),
        col(raCol).cast("long").as("ra"),
        col(rbCol).cast("long").as("rb"))
      .filter(col("ra").isNotNull && col("rb").isNotNull), "m")
    m.as("x").join(m.as("y"), col("x.k") < col("y.k"))
      .select((col("x.ra") - col("y.ra")).as("da"),
        (col("x.rb") - col("y.rb")).as("db"))
      .crossJoin(broadcast(m.agg(count(lit(1)).as("n_keys"))))
      .agg(max(col("n_keys")).as("n_keys"),
        count(lit(1)).as("n_pairs"),
        sum(when(expr("da * db > 0"), 1L).otherwise(0L))
          .as("concordant"),
        sum(when(expr("da * db < 0"), 1L).otherwise(0L))
          .as("discordant"),
        sum(when(expr("da * db = 0"), 1L).otherwise(0L)).as("tied"))
      .withColumn("gamma_ppm", expr(
        "CASE WHEN concordant + discordant > 0 THEN " +
          "cast((cast(concordant as decimal(38,0)) - discordant) " +
          "* 1000000 div (concordant + discordant) as bigint) END"))
      .select(col("n_keys"), col("n_pairs"), col("concordant"),
        col("discordant"), col("tied"), col("gamma_ppm"))
  }

  /** [NS] — contribution-bounding advisor (the differential-privacy
    * preprocessing stage, Wilson et al. 2020 "DP SQL" §5): before any
    * DP release, each user's contribution to an aggregate must be
    * CLIPPED to a cap, and the cap is a utility/noise tradeoff — too
    * high inflates sensitivity (noise), too low discards real mass.
    * Per group this reports the exact per-user contribution profile:
    * user count, total and max rows, the exact pct-th percentile of
    * per-user row counts (lower order statistic at rank
    * ⌈n·pct/100⌉ — the standard cap candidate), and the mass that cap
    * would clip, in exact ppm. The privacy-family completion next to
    * k-anonymity (q194), l-diversity (q313), pseudonymization (q232),
    * and redaction (q66/q316).
    *
    * Scale: one (group, user) aggregate collapses the corpus; the
    * rank window runs per group over per-USER rows (aggregate-sized),
    * and the clip pass reuses the same frame. */
  def contributionBound(df: DataFrame, groupCol: String,
      userCol: String, pct: Int)
      : DataFrame = Stage("Analytics.contributionBound") { st =>
    require(pct >= 1 && pct <= 100, s"pct in [1,100]: $pct")
    val perUser = st.checkpoint(df
      .filter(col(userCol).isNotNull)
      .groupBy(col(groupCol).as("grp"), col(userCol).as("usr"))
      .agg(count(lit(1)).as("n_u")), "perUser")
    val w = Window.partitionBy(col("grp"))
      .orderBy(col("n_u").asc, col("usr").asc)
    val caps = perUser
      .withColumn("_rn", row_number().over(w).cast("long"))
      .withColumn("_nu", count(lit(1)).over(Window.partitionBy(col("grp"))))
      .filter(col("_rn") === expr(s"($pct * _nu + 99) div 100"))
      .select(col("grp"), col("n_u").as("cap_rows"))
    perUser.join(caps, Seq("grp"))
      .groupBy(col("grp"))
      .agg(count(lit(1)).as("n_users"),
        sum(col("n_u")).as("total_rows"),
        max(col("n_u")).as("max_rows"),
        max(col("cap_rows")).as("cap_rows"),
        sum(greatest(col("n_u") - col("cap_rows"), lit(0L)))
          .as("_clipped"))
      .withColumn("clipped_ppm", expr(
        "CASE WHEN total_rows > 0 THEN (1000000 * _clipped) " +
          "div total_rows ELSE CAST(0 AS BIGINT) END"))
      .select(col("grp").as(groupCol), col("n_users"),
        col("total_rows"), col("max_rows"), col("cap_rows"),
        col("clipped_ppm"))
  }

  /** [NS] — Markov removal-effect attribution (Anderl et al. 2014):
    * the data-driven multi-touch model next to q157's U-shaped
    * heuristic. Journeys = each user's touch sequence up to the first
    * conversion (START-prefixed; non-converting journeys absorb in
    * NULL); transitions become exact-ppm probabilities; conversion
    * probability from START is the k-round absorbing recurrence
    * vₜ₊₁(s) = Σ p(s,·)·vₜ(·) div 10⁶ (products summed exactly, ONE
    * truncating div per state per round); the removal effect of
    * channel c re-runs the same recurrence with every edge INTO c
    * redirected to NULL (original probabilities kept — the standard
    * rerouting), and attribution shares normalize the removals.
    * Redirection only moves mass from CONV toward NULL, so removal
    * effects are structurally ≥ 0; `rounds` bounds path length
    * exactly like the oracle's unrolled CTEs.
    *
    * Scale: journeys/edges are two windows + one groupBy over the
    * event scan; everything after runs on the (|channels|+1) ×
    * |states|² edge table — broadcast-sized by construction. Output:
    * (channel, conv_full_ppm, conv_removed_ppm, removal_ppm,
    * share_ppm) ordered by channel. */
  def markovAttribution(events: DataFrame, userCol: String,
      tsCol: String, tieCol: String, typeCol: String,
      conversionType: String, touchTypes: Seq[String],
      rounds: Int): DataFrame = {
    require(rounds >= 1 && rounds <= 12, s"rounds in [1,12]: $rounds")
    require(touchTypes.nonEmpty && !touchTypes.contains(conversionType),
      s"touchTypes=$touchTypes conversionType=$conversionType")
    Stage("Analytics.markovAttribution") { implicit st =>
      val sp = events.sparkSession
      import sp.implicits._
      val ord = Window.partitionBy(col("_u"))
        .orderBy(col("_ts"), col("_tie"))
      val kept = st.checkpoint(events
        .filter(col(typeCol).isin(conversionType +: touchTypes: _*))
        .select(col(userCol).as("_u"), col(tsCol).as("_ts"),
          col(tieCol).as("_tie"),
          when(col(typeCol) === conversionType, lit("__conv__"))
            .otherwise(col(typeCol)).as("state"))
        .withColumn("_prevConv", coalesce(
          sum(when(col("state") === "__conv__", 1L).otherwise(0L))
            .over(ord.rowsBetween(Window.unboundedPreceding, -1)),
          lit(0L)))
        .filter(col("_prevConv") === 0L)
        .withColumn("_prev", lag(col("state"), 1).over(ord))
        .withColumn("_rnDesc", row_number().over(
          Window.partitionBy(col("_u"))
            .orderBy(col("_ts").desc, col("_tie").desc))), "journeys")
      val stepEdges = kept.select(
        coalesce(col("_prev"), lit("__start__")).as("from"),
        col("state").as("to"))
      val termEdges = kept
        .filter(col("_rnDesc") === 1 && col("state") =!= "__conv__")
        .select(col("state").as("from"), lit("__null__").as("to"))
      val probs = stepEdges.unionAll(termEdges)
        .groupBy(col("from"), col("to")).agg(count(lit(1)).as("c"))
        .withColumn("tot",
          sum(col("c")).over(Window.partitionBy(col("from"))))
        .withColumn("p", expr("(1000000 * c) div tot"))
        .select(col("from"), col("to"), col("p"))
      val variants = (touchTypes.sorted :+ "__full__").toDF("variant")
      val varEdges = st.checkpoint(probs.crossJoin(broadcast(variants))
        .withColumn("to", when(col("to") === col("variant"),
          lit("__null__")).otherwise(col("to")))
        .select(col("variant"), col("from"), col("to"), col("p")), "edges")
      val absorbing = variants
        .select(col("variant"), lit("__conv__").as("state"),
          lit(1000000L).as("v"))
        .unionAll(variants.select(col("variant"),
          lit("__null__").as("state"), lit(0L).as("v")))
      val v = Fixpoint.iterate(absorbing, rounds) { (v, _) =>
        varEdges
          .join(v.select(col("variant"), col("state").as("to"),
            col("v")), Seq("variant", "to"))
          .groupBy(col("variant"), col("from"))
          .agg(expr("cast(sum(cast(p as decimal(38,0)) * v) " +
            "div 1000000 as bigint)").as("v"))
          .select(col("variant"), col("from").as("state"), col("v"))
          .unionAll(absorbing)
      }(Fixpoint.AllRounds).state
      val conv = v.filter(col("state") === "__start__")
        .select(col("variant"), col("v"))
      val full = conv.filter(col("variant") === "__full__")
        .select(col("v").as("conv_full_ppm"))
      val removed = conv.filter(col("variant") =!= "__full__")
        .crossJoin(broadcast(full))
        .withColumn("removal_ppm", expr(
          "CASE WHEN conv_full_ppm > 0 THEN " +
            "1000000 - (1000000 * v) div conv_full_ppm " +
            "ELSE CAST(0 AS BIGINT) END"))
        .withColumn("_rtot", sum(col("removal_ppm")).over(
          Window.partitionBy(lit(1)).rowsBetween(
            Window.unboundedPreceding, Window.unboundedFollowing)))
        .withColumn("share_ppm", expr(
          "CASE WHEN _rtot > 0 THEN " +
            "(1000000 * removal_ppm) div _rtot END"))
      removed.select(col("variant").as("channel"), col("conv_full_ppm"),
          col("v").as("conv_removed_ppm"), col("removal_ppm"),
          col("share_ppm"))
        .orderBy(col("channel"))
    }
  }

  /** [NS] — exact central moments per group: the distribution-SHAPE
    * monitor mean/variance drift checks can't give (a quality-score
    * distribution can keep its mean and grow a tail — kurtosis sees
    * it, the mean doesn't). Everything is cleared-denominator exact
    * integer arithmetic on the INTEGER value column: with S1 = Σv and
    * per-row t = n·v − S1 (so t = n·(v − μ) exactly, no rational
    * mean ever materializes),
    *
    *   D2 = Σt² = n²·Σ(v−μ)²,  D3 = Σt³ = n³·Σ(v−μ)³,  D4 = Σt⁴
    *
    * and the outputs are fixed-order truncating ratios both engines
    * replay bit-for-bit:
    *   mean_ppm       = 10⁶·S1 div n
    *   var_ppm        = 10⁶·D2 div n³          (= 10⁶·m2)
    *   skew_ratio_ppm = 10⁶·D3 div (D2·n)      (= 10⁶·m3/m2 — value
    *                    units; the SIGN is the asymmetry direction,
    *                    the standardized g1 would need a square root)
    *   kurt_ppm       = (10⁶·n·(D4 div D2)) div D2  (= 10⁶·n·m4/m2²,
    *                    Pearson kurtosis; normal ≈ 3·10⁶ — TWO-STEP
    *                    truncating division in a FIXED order both
    *                    engines replay; dividing D4 by D2 FIRST keeps
    *                    every intermediate inside decimal(38,0) even
    *                    at 30×-fixture group sizes, at a ≤1-unit
    *                    truncation on a ~10¹⁵-scale quotient)
    * Products run in decimal(38,0); groups need n ≥ 2 and D2 > 0
    * (constant groups emit NULL shape columns rather than divide by
    * zero). One aggregate pass + one broadcast join back — no window,
    * no second shuffle on the fact side beyond the group key. */
  def momentsExact(df: DataFrame, keyCol: String,
      valCol: String): DataFrame = {
    val base = df.filter(col(valCol).isNotNull)
      .select(col(keyCol).as("_k"), col(valCol).cast("long").as("_v"))
    val tot = base.groupBy(col("_k"))
      .agg(count(lit(1)).as("n"), sum(col("_v")).as("_s1"))
    val d = base.join(tot, Seq("_k"))
      .withColumn("_t", expr("cast(n as decimal(38,0)) * _v - _s1"))
    d.groupBy(col("_k"), col("n"), col("_s1"))
      .agg(sum(expr("_t * _t")).as("_d2"),
        sum(expr("_t * _t * _t")).as("_d3"),
        sum(expr("_t * _t * _t * _t")).as("_d4"))
      .withColumn("mean_ppm", expr(
        "CAST((1000000 * cast(_s1 as decimal(38,0))) div n AS BIGINT)"))
      .withColumn("var_ppm", expr(
        "CAST((1000000 * _d2) div (cast(n as decimal(38,0)) * n * n) " +
          "AS BIGINT)"))
      .withColumn("skew_ratio_ppm", expr(
        "CASE WHEN _d2 > 0 THEN CAST((1000000 * _d3) div (_d2 * n) " +
          "AS BIGINT) END"))
      .withColumn("kurt_ppm", expr(
        "CASE WHEN _d2 > 0 THEN CAST(((1000000 * " +
          "cast(n as decimal(38,0))) * (_d4 div _d2)) div _d2 " +
          "AS BIGINT) END"))
      .select(col("_k").as(keyCol), col("n"), col("mean_ppm"),
        col("var_ppm"), col("skew_ratio_ppm"), col("kurt_ppm"))
  }

  /** [NS] — the q362 shape-drift profile as a reusable operator: every
    * group's moments read AGAINST the global distribution — Δmean, the
    * variance RATIO, and the kurtosis gap, each exact ppm, plus a
    * shape_shift verdict at the documented thresholds (variance ratio
    * outside [0.8, 1.25] or |Δkurtosis| > 1.0). Two [[momentsExact]]
    * passes and one broadcast join; [[MomentsState.serveProfile]] is
    * the stored-state twin (same join arithmetic, zero fact reads). */
  def shapeDriftProfile(df: DataFrame, keyCol: String,
      valCol: String): DataFrame = {
    val per = momentsExact(df, keyCol, valCol)
    val glob = momentsExact(df.withColumn("_all", lit("all")), "_all",
        valCol)
      .select(col("mean_ppm").as("g_mean"), col("var_ppm").as("g_var"),
        col("kurt_ppm").as("g_kurt"))
    shapeProfileJoin(per, glob, keyCol)
  }

  /** The profile arithmetic shared by [[shapeDriftProfile]] and
    * [[MomentsState.serveProfile]] — one expression tree, so the
    * stored-state readout is bit-for-bit the in-query operator's. */
  private[operators] def shapeProfileJoin(per: DataFrame,
      glob: DataFrame, keyCol: String): DataFrame =
    per.crossJoin(broadcast(glob))
      .withColumn("d_mean_ppm", expr("mean_ppm - g_mean"))
      .withColumn("var_ratio_ppm", expr(
        "CASE WHEN g_var > 0 THEN CAST((1000000 * " +
          "cast(var_ppm as decimal(38,0))) div g_var AS BIGINT) END"))
      .withColumn("kurt_diff_ppm", expr("kurt_ppm - g_kurt"))
      .withColumn("shape_shift", expr(
        "var_ratio_ppm < 800000 OR var_ratio_ppm > 1250000 " +
          "OR abs(kurt_diff_ppm) > 1000000"))
      .select(col(keyCol), col("n"), col("d_mean_ppm"),
        col("var_ratio_ppm"), col("kurt_diff_ppm"), col("shape_shift"))

  /** [NS] — CBO selectivity audit: what an equi-depth histogram (the
    * statistic every cost-based optimizer keeps) would ESTIMATE for a
    * range predicate, next to the measured truth. Estimate rule: a
    * histogram bucket overlapping [lo,hi] contributes its row count
    * scaled by the overlap fraction of its inclusive integer span —
    * the textbook uniform-within-bucket interpolation — computed in
    * exact micro-rows (`(c · 10⁶ · overlap) div span`) so both engines
    * agree bit-for-bit. One row out: (n_rows, n_buckets, est_rows,
    * est_ppm, actual_rows, actual_ppm, err_ppm signed).
    *
    * Why it earns a slot at 100 TB: the histogram pass is one rank
    * sort + one bounded aggregate and then prices EVERY future range
    * predicate for free, but its error is workload-dependent — this
    * audit measures that error on the real corpus instead of trusting
    * the uniformity assumption. Long arithmetic holds to ~10⁹ rows ×
    * 10⁶ scaling; past that lift the micro-row sums to decimal(38,0)
    * (the repo convention for count-like sums). */
  def selectivityAudit(df: DataFrame, valueCol: String,
      tiebreak: Seq[String], buckets: Int, lo: Long, hi: Long): DataFrame = {
    require(lo <= hi, s"bad range [$lo,$hi]")
    val est = histEstMicro(equiDepth(df, valueCol, tiebreak, buckets),
      lo, hi)
    val actual = df.agg(sum(when(col(valueCol).between(lo, hi), 1L)
      .otherwise(0L)).as("actual_rows"))
    est.crossJoin(actual)
      .select(col("_n_stats").as("n_rows"), col("n_buckets"),
        expr("_est_micro div 1000000").as("est_rows"),
        expr("_est_micro div _n_stats").as("est_ppm"),
        col("actual_rows"),
        expr("(1000000 * actual_rows) div _n_stats").as("actual_ppm"),
        expr("_est_micro div _n_stats - " +
          "(1000000 * actual_rows) div _n_stats").as("err_ppm"))
  }

  /** Shared interpolation tail: micro-row estimate of [lo,hi] from an
    * [[equiDepth]] histogram frame. Integer `div` throughout (Column./
    * is double division — floor of a double would silently diverge from
    * the oracle's exact `//` once the products pass 2^53). The
    * per-bucket product n_rows·10⁶·overlap accumulates in
    * decimal(38,0) (the repo convention for count-like sums) — ~10⁹-row
    * buckets times wide integer spans overflow long BEFORE the div;
    * the quotient itself is ≤ n_rows·10⁶ and lands back in bigint. */
  private def histEstMicro(h: DataFrame, lo: Long, hi: Long): DataFrame =
    h.withColumn("_ovlo", greatest(col("lo").cast("long"), lit(lo)))
      .withColumn("_ovhi", least(col("hi").cast("long"), lit(hi)))
      .withColumn("_em", expr(
        "CASE WHEN _ovhi >= _ovlo THEN (cast(n_rows as decimal(38,0)) " +
          "* 1000000 * (_ovhi - _ovlo + 1)) div (cast(hi as bigint) - " +
          "cast(lo as bigint) + 1) ELSE 0 END"))
      .agg(sum(col("n_rows")).as("_n_stats"),
        count(lit(1)).as("n_buckets"),
        sum(col("_em")).as("_est_micro"))

  /** [NS] — STALE-stats audit: [[selectivityAudit]] with the histogram
    * built on an OLD snapshot and the truth measured on the current
    * corpus — the production failure mode where plans regress because
    * nobody re-ran ANALYZE after a year of ingest. The estimate
    * (old-histogram selectivity × current row count) is what the
    * optimizer would actually use; err_ppm is what the staleness
    * costs. A time-range predicate over newly-ingested data is the
    * worst case: the old histogram's top bucket barely overlaps it, so
    * the estimate collapses toward zero while the truth grows with
    * every ingested day. */
  def selectivityAuditStale(statsDf: DataFrame, truthDf: DataFrame,
      valueCol: String, tiebreak: Seq[String], buckets: Int,
      lo: Long, hi: Long): DataFrame = {
    require(lo <= hi, s"bad range [$lo,$hi]")
    val est = histEstMicro(
      equiDepth(statsDf, valueCol, tiebreak, buckets), lo, hi)
    val truth = truthDf.agg(count(lit(1)).as("n_rows"),
      sum(when(col(valueCol).between(lo, hi), 1L).otherwise(0L))
        .as("actual_rows"))
    est.crossJoin(truth)
      .select(col("_n_stats").as("n_stats"), col("n_rows"),
        expr("_est_micro div _n_stats").as("est_ppm"),
        expr("((_est_micro div _n_stats) * n_rows) div 1000000")
          .as("est_rows"),
        col("actual_rows"),
        expr("(1000000 * actual_rows) div n_rows").as("actual_ppm"),
        expr("_est_micro div _n_stats - " +
          "(1000000 * actual_rows) div n_rows").as("err_ppm"))
  }

  /** [NS] — sample-NDV audit: the Chao1 species-richness estimator
    * (Chao 1984, the standard bias-corrected form
    * d + f1·(f1−1)/(2·(f2+1))) computed from a deterministic md5 row
    * sample, next to the exact NDV. Estimating NDV from a sample is
    * provably hard (Charikar et al. 2000 — any estimator has
    * unbounded worst-case ratio), which is exactly why the estimate
    * ships with its measured error instead of a trust-me bound. The
    * sample predicate is a pure row-hash (`md5(id) mod 10⁶ <
    * samplePpm`), so both engines draw the identical sample and the
    * audit is deterministic. */
  def ndvEstimateAudit(df: DataFrame, keyCol: String,
      idCols: Seq[String], samplePpm: Int): DataFrame = {
    require(samplePpm >= 1 && samplePpm <= 1000000,
      s"samplePpm=$samplePpm out of (0, 10^6]")
    val idExpr = concat_ws(":", idCols.map(c => col(c).cast("string")): _*)
    val samp = df.filter(
      conv(substring(md5(idExpr), 1, 8), 16, 10).cast("long")
        % 1000000 < samplePpm)
    val kc = samp.groupBy(col(keyCol)).agg(count(lit(1)).as("_c"))
    val fs = kc.agg(count(lit(1)).as("d_sample"),
      sum(when(col("_c") === 1, 1L).otherwise(0L)).as("f1"),
      sum(when(col("_c") === 2, 1L).otherwise(0L)).as("f2"),
      sum(col("_c")).as("sample_rows"))
    val exact = df.agg(count(lit(1)).as("n_rows"),
      countDistinct(col(keyCol)).as("ndv_exact"))
    fs.crossJoin(exact)
      .select(col("n_rows"), col("sample_rows"), col("d_sample"),
        col("f1"), col("f2"),
        expr("d_sample + (f1 * (f1 - 1)) div (2 * (f2 + 1))")
          .as("ndv_est"),
        col("ndv_exact"),
        expr("(1000000 * (d_sample + (f1 * (f1 - 1)) div " +
          "(2 * (f2 + 1)))) div ndv_exact").as("est_over_exact_ppm"))
  }

  /** [NS] — CMS join-size estimate audit: the AMS/CMS inner-product
    * estimator (Cormode & Muthukrishnan 2005 §4.2) — per depth row,
    * Σ_cells cnt_L·cnt_R, minimized over depths — next to the exact
    * join size. The estimate NEVER undercounts (collisions only add
    * mass), and `guarantee_holds` makes that theorem a checked column.
    * This is the join-size oracle a planner can afford on every
    * candidate join at 100 TB: two d×w sketches (mergeable, maintained
    * incrementally by q135's running shape) replace any contact with
    * the join inputs at planning time. */
  def cmsJoinSizeAudit(left: DataFrame, leftKey: String,
      right: DataFrame, rightKey: String, depth: Int,
      width: Int): DataFrame = {
    val sl = cmsSketch(left, leftKey, depth, width)
      .withColumnRenamed("cnt", "_cl")
    val sr = cmsSketch(right, rightKey, depth, width)
      .withColumnRenamed("cnt", "_cr")
    val perDepth = sl.join(sr, Seq("h", "cell"))
      .groupBy(col("h"))
      .agg(sum(col("_cl").cast("decimal(38,0)") *
        col("_cr").cast("decimal(38,0)")).as("_ip"))
    // a depth with NO colliding cells is a zero inner product — it must
    // participate in the min, not vanish from it
    val depths = left.sparkSession.range(depth).toDF("h")
      .select(col("h").cast("int").as("h"))
    val est = depths.join(perDepth, Seq("h"), "left")
      .agg(min(coalesce(col("_ip"), lit(0).cast("decimal(38,0)")))
        .as("_est"))
    val lc = left.groupBy(col(leftKey).as("_k"))
      .agg(count(lit(1)).as("_cl"))
    val rc = right.groupBy(col(rightKey).as("_k"))
      .agg(count(lit(1)).as("_cr"))
    val actual = lc.join(rc, Seq("_k"))
      .agg(coalesce(sum(col("_cl").cast("decimal(38,0)") *
        col("_cr").cast("decimal(38,0)")), lit(0)).as("_act"))
    est.crossJoin(actual)
      .select(expr("CAST(_est AS BIGINT)").as("est_rows"),
        expr("CAST(_act AS BIGINT)").as("actual_rows"),
        expr("CAST(_est - _act AS BIGINT)").as("overcount"),
        expr("CASE WHEN _act > 0 THEN CAST((1000000 * _est) div _act " +
          "AS BIGINT) END").as("est_over_actual_ppm"),
        expr("_est >= _act").as("guarantee_holds"))
  }

  /** [NS] — System R join-cardinality audit: the classic NDV estimate
    * |L⋈R| ≈ |L|·|R| / max(ndv_L, ndv_R) (Selinger 1979) vs the exact
    * join size Σ_k c_L(k)·c_R(k) — computed from per-key counts, the
    * join itself is never materialized, so auditing a 10¹²-row join
    * output costs two aggregates and a key-sized equi-join. The gap is
    * the skew the uniform-frequency assumption can't see: on a
    * self-join of a skewed fact table the estimate undercounts by
    * exactly the concentration the AQE skew-join handling exists for —
    * this instrument prices that BEFORE the shuffle is planned.
    * Decimal(38,0) sums (c² of a hot key overflows longs at scale);
    * outputs cast back to BIGINT for the oracle hash. */
  def joinCardinalityAudit(left: DataFrame, leftKey: String,
      right: DataFrame, rightKey: String): DataFrame = {
    val lc = left.groupBy(col(leftKey).as("_k"))
      .agg(count(lit(1)).as("_cl"))
    val rc = right.groupBy(col(rightKey).as("_k"))
      .agg(count(lit(1)).as("_cr"))
    val actual = lc.join(rc, Seq("_k"))
      .agg(coalesce(sum(col("_cl").cast("decimal(38,0)") *
        col("_cr").cast("decimal(38,0)")), lit(0)).as("_act"))
    val ls = left.agg(count(lit(1)).as("n_left"),
      countDistinct(col(leftKey)).as("ndv_left"))
    val rs = right.agg(count(lit(1)).as("n_right"),
      countDistinct(col(rightKey)).as("ndv_right"))
    ls.crossJoin(rs).crossJoin(actual)
      .select(col("n_left"), col("n_right"), col("ndv_left"),
        col("ndv_right"),
        expr("""CAST((cast(n_left as decimal(38,0)) * n_right)
          div greatest(ndv_left, ndv_right) AS BIGINT)""")
          .as("est_rows"),
        expr("CAST(_act AS BIGINT)").as("actual_rows"),
        expr("""CASE WHEN _act > 0 THEN
          CAST((1000000 * (cast(n_left as decimal(38,0)) * n_right
            div greatest(ndv_left, ndv_right)))
          div _act AS BIGINT) END""").as("est_over_actual_ppm"))
  }

  /** [NS] — independence-assumption audit: every CBO prices a
    * conjunction as P(A)·P(B); correlated columns (ship vs receipt
    * date, price vs quantity) break that silently, and the broken
    * estimate picks the wrong join order three operators downstream.
    * One scan, one aggregate row: each predicate's measured ppm, the
    * independence estimate `a_ppm·b_ppm div 10⁶`, the measured
    * conjunction, and the correlation lift
    * `10⁶·n_ab·n div (n_a·n_b)` (1 000 000 = independent, above =
    * positively correlated — the factor the estimate is wrong by). */
  def independenceAudit(df: DataFrame, predA: Column,
      predB: Column): DataFrame =
    df.agg(count(lit(1)).as("n_rows"),
        sum(when(predA, 1L).otherwise(0L)).as("n_a"),
        sum(when(predB, 1L).otherwise(0L)).as("n_b"),
        sum(when(predA && predB, 1L).otherwise(0L)).as("n_ab"))
      .select(col("n_rows"), col("n_a"), col("n_b"), col("n_ab"),
        expr("(1000000 * n_a) div n_rows").as("a_ppm"),
        expr("(1000000 * n_b) div n_rows").as("b_ppm"),
        expr("((1000000 * n_a) div n_rows) * ((1000000 * n_b) " +
          "div n_rows) div 1000000").as("indep_est_ppm"),
        expr("(1000000 * n_ab) div n_rows").as("actual_ppm"),
        expr("CASE WHEN n_a > 0 AND n_b > 0 THEN " +
          "CAST((1000000 * cast(n_ab as decimal(38,0)) * n_rows) " +
          "div (cast(n_a as decimal(38,0)) * n_b) AS BIGINT) END")
          .as("lift_ppm"))
}
