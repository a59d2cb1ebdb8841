package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart,
  SparkListenerStageCompleted, SparkListenerTaskEnd}
import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}

/** Measurement tool (optimization guide §1: measure first): run named
  * queries under Bench's session ([[Session.start]]) and report, per run,
  * wall seconds plus the scheduler-level shape — jobs, stages, tasks,
  * shuffle bytes read/written — that explains WHERE the time goes at
  * local-mode scale (tiny inputs make job/stage count, not bytes, the
  * cost driver; at cluster scale the same counters rank shuffle cost).
  *
  * Usage: SPARK_GRAFT_CPUS=32 sbt "runMain graft.Profile q96_pq_search
  *   [more names] [/root/testdata/sf0.1]"
  * Env: SPARK_GRAFT_BENCH_N (default 3), SPARK_GRAFT_RESIDENT (default
  * on, matching Bench).
  *
  * Dev tool only — not on any query path; Bench remains the gate
  * artifact producer.
  */
object Profile {
  def main(args: Array[String]): Unit = {
    val (qs, dirs) = args.partition(a => !a.startsWith("/"))
    val sfDir = dirs.headOption.getOrElse(
      sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"))
    val n = sys.env.get("SPARK_GRAFT_BENCH_N").map(_.toInt).getOrElse(3)
    val spark = Session.start()

    val jobs = new AtomicInteger(0)
    val stages = new AtomicInteger(0)
    val tasks = new AtomicInteger(0)
    val shufRead = new AtomicLong(0L)
    val shufWrite = new AtomicLong(0L)
    val sites = sys.env.get("SPARK_GRAFT_PROFILE_SITES").contains("1")
    val listener = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit = {
        jobs.incrementAndGet()
        if (sites) println(s"  JOB ${j.jobId} " +
          j.stageInfos.map(_.name).mkString(" | "))
      }
      override def onStageCompleted(s: SparkListenerStageCompleted): Unit =
        stages.incrementAndGet()
      override def onTaskEnd(t: SparkListenerTaskEnd): Unit = {
        tasks.incrementAndGet()
        val m = t.taskMetrics
        if (m != null) {
          shufRead.addAndGet(m.shuffleReadMetrics.totalBytesRead)
          shufWrite.addAndGet(m.shuffleWriteMetrics.bytesWritten)
        }
      }
    }
    spark.sparkContext.addSparkListener(listener)

    Session.pinResidentTables(spark, sfDir)

    val names = if (qs.nonEmpty) qs.toSeq else Seq("q06_revenue_join")
    for (name <- names) {
      SparkEntry.queries.get(name) match {
        case None => println(s"unknown query: $name")
        case Some(fn) =>
          val runs = (1 to n).map { i =>
            // settle listener counters between runs (listenerBus is
            // private[spark]; a short sleep drains the async bus)
            Thread.sleep(300)
            jobs.set(0); stages.set(0); tasks.set(0)
            shufRead.set(0L); shufWrite.set(0L)
            val t0 = System.nanoTime()
            val cnt = try fn(spark, sfDir).count() catch {
              case e: Throwable => System.err.println(s"$name: $e"); -1L }
            val dt = (System.nanoTime() - t0) / 1e9
            Thread.sleep(300)
            Session.releaseQueryState(spark)
            (dt, jobs.get, stages.get, tasks.get, shufRead.get, shufWrite.get,
              cnt)
          }
          runs.zipWithIndex.foreach { case ((dt, j, st, tk, sr, sw, c), i) =>
            println(f"PROFILE $name run=${i + 1} sec=$dt%.3f jobs=$j " +
              f"stages=$st tasks=$tk shufRead=${sr / 1024}KB " +
              f"shufWrite=${sw / 1024}KB rows=$c")
          }
          val med = runs.map(_._1).sorted.apply(runs.size / 2)
          println(f"PROFILE_MEDIAN $name sec=$med%.3f")
      }
    }
    spark.stop()
  }
}
