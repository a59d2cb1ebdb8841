package perfbench

import java.nio.file.{Files, Paths}
import scala.collection.mutable
import org.apache.spark.sql.SparkSession

/** Command-line options of one harness JVM (see run.py, which builds and
  * launches it). */
final case class Opts(workload: String, seed: Long, seconds: Double,
    trace: Boolean, data: String, work: String) {
  val cores: Int = Runtime.getRuntime.availableProcessors
}

/** What one run hands back to run.py: timings, failures, and (traced) the
  * per-layer breakdown. Printed as one JSON line after the marker. */
final class Result {
  val passes = mutable.ArrayBuffer[Double]()   // seconds per pass
  val ops = mutable.ArrayBuffer[Double]()      // seconds per operation
  var attempted = 0L
  var failed = 0L
  val errors = mutable.ArrayBuffer[String]()
  val report = mutable.LinkedHashMap[String, (Double, String)]()
  val notes = mutable.LinkedHashMap[String, String]()
  val layers = mutable.LinkedHashMap[String, (Double, String)]()
  var peakRssMb = 0.0
  var readyEpochMs = 0.0

  def fail(what: String, e: Throwable): Unit = {
    failed += 1
    if (errors.size < 20) errors += s"$what: ${e.getClass.getSimpleName}: " +
      Option(e.getMessage).getOrElse("").linesIterator.take(3).mkString(" | ")
  }

  def toJson: String = {
    def num(d: Double) = if (d.isNaN || d.isInfinite) "null" else d.toString
    def metrics(m: collection.Map[String, (Double, String)]) =
      m.map { case (k, (v, u)) =>
        s"${Json.str(k)}:{\"value\":${num(v)},\"unit\":${Json.str(u)}}"
      }.mkString("{", ",", "}")
    Seq(
      s""""ready_epoch_ms":${num(readyEpochMs)}""",
      s""""passes":${passes.map(num).mkString("[", ",", "]")}""",
      s""""ops":${ops.map(num).mkString("[", ",", "]")}""",
      s""""attempted":$attempted""", s""""failed":$failed""",
      s""""errors":${errors.map(Json.str).mkString("[", ",", "]")}""",
      s""""peak_rss_mb":${num(peakRssMb)}""",
      s""""report":${metrics(report)}""",
      s""""notes":${notes.map { case (k, v) => Json.str(k) + ":" + Json.str(v) }
        .mkString("{", ",", "}")}""",
      s""""layers":${metrics(layers)}""",
    ).mkString("{", ",", "}")
  }
}

object Json {
  def str(s: String): String = s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  }.mkString("\"", "", "\"")
}

object Main {
  val Marker = "PERFBENCH_RESULT "

  def parse(args: Array[String]): Opts = {
    val m = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    def need(k: String) = m.getOrElse(k, sys.error(s"missing --$k"))
    Opts(need("workload"), need("seed").toLong, need("seconds").toDouble,
      need("trace") == "1", need("data"), need("work"))
  }

  /** One session for every workload: local[cores], shuffle partitions =
    * cores (so the JDBC sinks never hold more connections than that),
    * AQE on, no UI. */
  def session(cores: Int, work: String): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.autoBroadcastJoinThreshold", 64L * 1024 * 1024)
      .config("spark.sql.optimizer.runtime.bloomFilter.enabled", "true")
      .config("spark.sql.codegen.cache.maxEntries", "5000")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .config("spark.sql.streaming.checkpointLocation", s"$work/checkpoints")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  /** High-water resident set of this JVM (Linux `VmHWM`), in MB. */
  def peakRssMb(): Double =
    scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(Double.NaN)

  def main(args: Array[String]): Unit = {
    val o = parse(args)
    if (o.workload == "names") { // the read queries, for run.py --validate
      val names = (Reads.base50 ++ Reads.fixpoint).map(Json.str)
      println(Marker + names.mkString("{\"names\":[", ",", "]}"))
      return
    }
    Files.createDirectories(Paths.get(o.work))
    System.setProperty("derby.system.home", s"${o.work}/derby")
    val spark = session(o.cores, o.work)
    val res = new Result
    try {
      o.workload match {
        case "scan_base50" | "fixpoint" => Reads.run(spark, o, res)
        case "ingest" => Ingest.run(spark, o, res)
        case "validate" => Reads.validate(spark, o, res)
        case w => sys.error(s"unknown workload $w")
      }
    } catch {
      case e: Throwable => res.fail("run", e); e.printStackTrace()
    } finally {
      println(Marker + res.toJson)
      System.out.flush()
      spark.stop()
    }
  }
}
