package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val spark = Session.start()
    new java.io.File(outDir).mkdirs()
    // optional comma-separated filter for local iteration on one query;
    // the driver sets no env vars, so the official dump is always full
    val only = sys.env.get("SPARK_GRAFT_ONLY")
      .map(_.split(",").map(_.trim).toSet)
    var dumped = 0
    var failed = 0
    SparkEntry.queries
      .filter { case (name, _) => only.forall(_.contains(name)) }
      .foreach { case (name, fn) =>
      try {
        fn(spark, sfDir).coalesce(1).write.mode("overwrite")
          .parquet(s"$outDir/$name")
        dumped += 1
      } catch { case e: Throwable =>
        failed += 1
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    // Tamper-evident completion record (round 11's CORRECTNESS artifact
    // came back `{}` with no trail — see ARCHITECTURE.md "Round-11
    // correctness-artifact anomaly"). The sentinel + final stdout marker
    // make "Verify never finished" machinely distinguishable from "ran
    // and dumped N queries": consumers must treat a dump without `_done`
    // (or with dumped==0) as a failed run, never as an empty registry.
    val done = s"""{"dumped":$dumped,"failed":$failed,""" +
      s""""oracle_n":${SparkEntry.oracleSql.size},"out":${q(outDir)}}"""
    Files.writeString(Paths.get(s"$outDir/_done"), done)
    spark.stop()
    // printed AFTER Spark shutdown, mirroring Bench's BENCH_MIN contract
    println(s"VERIFY_DONE:$done")
    if (dumped == 0) sys.exit(3)
  }
}
