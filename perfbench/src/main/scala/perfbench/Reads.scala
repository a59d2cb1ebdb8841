package perfbench

import scala.collection.mutable
import scala.util.Random
import org.apache.spark.sql.{DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, DataType, MapType, StructType}
import graft.{SparkEntry, Tables}

/** The read workloads: a closed loop of passes over a fixed query list, in
  * an order drawn from the seed, over the fixed parquet tables. Cold: every
  * query decodes parquet itself (`Tables.residentMode` is never set). */
object Reads {
  /** Registry q01–q50: the round-1 set behind BASELINE's 92.3 s. */
  def base50: Seq[String] =
    SparkEntry.queries.keys.filter(_.matches("q(0[1-9]|[1-4][0-9]|50)_.*"))
      .toSeq.sorted

  /** The iterative queries: job scheduling, per-round shuffles and the
    * checkpoint lifecycle dominate them. */
  val fixpoint: Seq[String] = Seq("q241_hits", "q181_ppr", "q130_pagerank",
    "q145_cc_incremental", "q371_dedup_components_star",
    "q55_cascade_doubling", "q270_thread_linearize", "q138_kcore")

  /** How many of the costliest queries the traced report names. */
  val NamedQueries = 10

  /** Consumes every row and column of `df` without keeping any of it:
    * Spark's `noop` sink. `.count()` would let Catalyst prune the columns
    * and much of the work it claims to time. */
  def consume(df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  /** Consumes `df` like [[consume]] and fingerprints its output on the way:
    * row count and two 32-bit halves of Σ xxhash64(all columns), observed
    * by the same action. Order-free, so equal results give equal prints. */
  def consumeFingerprinted(df: DataFrame): String = {
    val cols = df.schema.fields.sortBy(_.name).map { f =>
      if (hasMap(f.dataType)) to_json(col(f.name)) else col(f.name) }
    val h = xxhash64(cols.toIndexedSeq: _*)
    val obs = Observation()
    consume(df.observe(obs, count(lit(1)).as("rows"),
      sum(h.bitwiseAND(lit(0xFFFFFFFFL))).as("lo"), sum(shiftright(h, 32)).as("hi")))
    val m = obs.get
    s"${m("rows")}:${m("lo")}:${m("hi")}"
  }

  private def hasMap(t: DataType): Boolean = t match {
    case _: MapType => true
    case a: ArrayType => hasMap(a.elementType)
    case s: StructType => s.fields.exists(f => hasMap(f.dataType))
    case _ => false
  }

  /** Session ready: one small job run, so the first timed operation does
    * not pay executor start-up. Tables stay untouched: reading them is part
    * of every timed query. */
  def warmUp(spark: SparkSession, o: Opts, res: Result): Unit = {
    spark.range(0, 10000, 1, o.cores).selectExpr("sum(id)").collect()
    val now = java.time.Instant.now()
    res.readyEpochMs = now.getEpochSecond * 1000.0 + now.getNano / 1e6
  }

  def run(spark: SparkSession, o: Opts, res: Result): Unit = {
    warmUp(spark, o, res)
    val names = if (o.workload == "fixpoint") fixpoint else base50
    val fns = SparkEntry.queries
    val rng = new Random(o.seed)
    val sc = spark.sparkContext
    val counters = new SparkCounters
    if (o.trace) { Trace.sc = sc; sc.addSparkListener(counters) }

    // The reported figures come from the first pass, which runs cold and
    // untraced: one fixed sample, whatever the speed. Passes keep starting
    // while the run's time allows; their outputs are checked, and traced
    // runs alternate traced and untraced ones to measure the tracing
    // overhead inside one warm JVM, but no later pass enters `pass_s` or
    // the per-query figures.
    val untraced = mutable.ArrayBuffer[(Int, Double)]()
    val traced = mutable.ArrayBuffer[(Int, Double)]()
    val times = mutable.Map[String, mutable.ArrayBuffer[Double]]()
    val liveAfter = mutable.Map[Int, Long]().withDefaultValue(0L)
    // the base tables the workload reads, as its oracle SQL names them
    // (fixpoint plans arrive already checkpointed, hiding their scans)
    val tables = Tables.all.filter(t => names.exists(n =>
      SparkEntry.oracleSql.get(n).exists(s"(?i)\\b$t\\b".r.findFirstIn(_).isDefined)))
    val prints = mutable.Map[String, mutable.Map[String, Int]]()
    val t0 = System.nanoTime()
    var pass = 0
    def elapsed = (System.nanoTime() - t0) / 1e9
    while (pass < (if (o.trace) 3 else 1) || elapsed < o.seconds) {
      val tracePass = o.trace && pass % 2 == 1
      Trace.on = tracePass
      val p0 = System.nanoTime()
      rng.shuffle(names).foreach { n =>
        res.attempted += 1
        val before = if (tracePass) sc.getPersistentRDDs.keySet else Set.empty[Int]
        val q0 = System.nanoTime()
        try {
          Trace.span(n, "queries", s"p$pass/$n") {
            val df = Trace.span("build", "queries")(fns(n)(spark, o.data))
            val fp = Trace.span("execute", "spark")(consumeFingerprinted(df))
            prints.getOrElseUpdate(n, mutable.Map[String, Int]().withDefaultValue(0))(fp) += 1
          }
          val s = (System.nanoTime() - q0) / 1e9
          if (pass == 0) res.ops += s
          if (tracePass) times.getOrElseUpdate(n, mutable.ArrayBuffer()) += s
        } catch { case e: Throwable => res.fail(n, e) }
        if (tracePass)
          liveAfter(pass) += (sc.getPersistentRDDs.keySet -- before).size
      }
      val ps = (System.nanoTime() - p0) / 1e9
      if (tracePass) traced += pass -> ps else untraced += pass -> ps
      pass += 1
    }
    Trace.on = false
    res.passes += untraced.head._2
    res.peakRssMb = Main.peakRssMb()

    val execs = res.ops.size
    res.report("pass_s") = (res.passes.head, "s")
    res.report("query_s.p50") = (Stats.median(res.ops.toSeq), "s")
    res.notes("query_s.samples") = execs.toString
    if (execs >= 100)
      res.report("query_s.p90") = (Stats.quantile(res.ops.toSeq, 0.9), "s")
    res.notes("passes") = s"${untraced.size} untraced, ${traced.size} traced; " +
      "reported: the first (cold) one"

    if (o.trace) {
      // each base table the workload reads, materialized on its own
      Trace.on = true
      tables.foreach { t =>
        Trace.span(s"scan/$t", "Tables", s"scan/$t")(
          consume(Tables.load(spark, o.data, t)))
      }
      Trace.on = false
      counters.drain(sc)
      val spans = Trace.all
      val scans = spans.filter(_.layer == "Tables")
      res.layers("tables.scan_s") = (scans.map(_.seconds).sum, "s")
      res.layers("tables.bytes_read") =
        (counters.sum(scans.map(_.id)).inputBytes.toDouble, "bytes")
      val passSpans = spans.filterNot(_.layer == "Tables")
      Layers.perPass(res, counters, passSpans, traced.size,
        traced.map(_._2).sum, o.cores)
      res.layers("operators.checkpoints_live_after") =
        (Stats.median(traced.map(p => liveAfter(p._1).toDouble).toSeq), "count")
      Layers.overhead(res, "pass_s", Stats.median(traced.map(_._2).toSeq),
        Stats.median(untraced.drop(1).map(_._2).toSeq), "s")

      // per-query shape: every fixpoint query, the costliest scan queries
      val med = times.map { case (n, ts) => n -> Stats.median(ts.toSeq) }
      val named = if (o.workload == "fixpoint") names
        else med.toSeq.sortBy(-_._2).take(NamedQueries).map(_._1)
      named.foreach { n =>
        val groups = traced.map { case (p, _) => s"p$p/$n" }.toSet
        val c = counters.sum(passSpans.filter(s => groups(s.group)).map(_.id))
        res.layers(s"query.$n.s") = (med.getOrElse(n, Double.NaN), "s")
        res.layers(s"query.$n.jobs") = (c.jobs.toDouble / groups.size, "count")
      }
      Layers.tree(res, spans)
    }

    // every execution's fingerprint, for run.py to check against the ones
    // validated once against the DuckDB oracle
    res.notes("fingerprints") = prints.toSeq.sortBy(_._1).map { case (n, fps) =>
      Json.str(n) + ":" + fps.map { case (f, c) => Json.str(f) + ":" + c }
        .mkString("{", ",", "}") }.mkString("{", ",", "}")
  }

  /** The fingerprint of every read query, twice: from the query as the
    * harness runs it, and from its result as `graft.Verify` dumped it under
    * `<work>/verify`, the dump run.py has `tools/check.py` compare with the
    * DuckDB oracle. A query whose two prints differ fails; run.py records
    * the others. */
  def validate(spark: SparkSession, o: Opts, res: Result): Unit = {
    warmUp(spark, o, res)
    val fns = SparkEntry.queries
    val fps = (base50 ++ fixpoint).flatMap { n =>
      res.attempted += 1
      try {
        val live = consumeFingerprinted(fns(n)(spark, o.data))
        val dumped = consumeFingerprinted(spark.read.parquet(s"${o.work}/verify/$n"))
        if (live != dumped) throw new IllegalStateException(
          s"fingerprint $live of the query differs from $dumped of its verified dump")
        Some(Json.str(n) + ":" + Json.str(live))
      } catch { case e: Throwable => res.fail(n, e); None }
    }
    res.notes("fingerprints") = fps.mkString("{", ",", "}")
  }
}

object Stats {
  def quantile(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      val pos = q * (s.size - 1)
      val lo = math.floor(pos).toInt
      val hi = math.ceil(pos).toInt
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)
}
