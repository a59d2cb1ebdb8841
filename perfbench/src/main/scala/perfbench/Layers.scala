package perfbench

import scala.collection.mutable

/** Turns recorded spans and scheduler counters into the traced run's
  * per-layer metrics. Every count and time is per pass (per ingest cycle),
  * so runs of different lengths compare. */
object Layers {

  /** Span duration minus the time its children cover. */
  def selfTimes(spans: Seq[Span]): Map[Int, Double] = {
    val childTime = spans.groupBy(_.parent).map { case (p, cs) => p -> cs.map(_.seconds).sum }
    spans.map(s => s.id -> (s.seconds - childTime.getOrElse(s.id, 0.0))).toMap
  }

  /** Scheduler shape and layer self time of `spans`, which cover `passes`
    * passes taking `wallS` seconds in all. */
  def perPass(res: Result, counters: SparkCounters, spans: Seq[Span],
      passes: Int, wallS: Double, cores: Int): Unit = {
    val n = passes.max(1).toDouble
    val c = counters.sum(spans.map(_.id))
    def put(k: String, v: Double, unit: String): Unit = res.layers(k) = (v, unit)
    put("spark.jobs", c.jobs / n, "count")
    put("spark.stages", c.stages / n, "count")
    put("spark.tasks", c.tasks / n, "count")
    put("spark.task_failures", c.taskFailures / n, "count")
    put("spark.shuffle_write_bytes", c.shuffleWrite / n, "bytes")
    put("spark.shuffle_read_bytes", c.shuffleRead / n, "bytes")
    put("spark.spill_bytes", c.spill / n, "bytes")
    put("spark.input_bytes", c.inputBytes / n, "bytes")
    put("spark.gc_s", c.gcMs / 1000.0 / n, "s")
    put("spark.busy_share", c.runMs / 1000.0 / (wallS * cores), "ratio")
    put("operators.checkpoints", c.persisted.size / n, "count")
    val self = selfTimes(spans)
    spans.groupBy(_.layer).toSeq.sortBy(_._1).foreach { case (layer, ss) =>
      put(s"layer.$layer.self_s", ss.map(s => self(s.id)).sum / n, "s")
    }
    c.jobMsByLayer.toSeq.sortBy(_._1).foreach { case (layer, ms) =>
      put(s"spark.job_s.$layer", ms / 1000.0 / n, "s")
    }
  }

  /** Tracing overhead: traced minus untraced value of an end-to-end metric. */
  def overhead(res: Result, metric: String, traced: Double, untraced: Double,
      unit: String): Unit = {
    res.layers(s"trace.overhead.$metric") = (traced - untraced, unit)
    res.notes(s"trace.$metric") = f"traced $traced%.4f vs untraced $untraced%.4f $unit"
  }

  /** The span tree, aggregated by path: executions, total and self time. */
  def tree(res: Result, spans: Seq[Span], limit: Int = 60): Unit = {
    val byId = spans.map(s => s.id -> s).toMap
    val self = selfTimes(spans)
    def path(s: Span): String =
      byId.get(s.parent).map(p => path(p) + " > ").getOrElse("") + s.name
    val agg = mutable.LinkedHashMap[String, (Int, Double, Double, String)]()
    spans.foreach { s =>
      val k = path(s)
      val (n, tot, sf, _) = agg.getOrElse(k, (0, 0.0, 0.0, s.layer))
      agg(k) = (n + 1, tot + s.seconds, sf + self(s.id), s.layer)
    }
    res.notes("span_tree") = agg.toSeq.sortBy(-_._2._2).take(limit).map {
      case (k, (n, tot, sf, layer)) =>
        f"$k%-60s [$layer%s] n=$n%d total=$tot%.3fs self=$sf%.3fs"
    }.mkString("\n")
  }
}
