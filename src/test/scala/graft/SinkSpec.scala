package graft

import java.nio.file.Files
import org.apache.spark.sql.Row
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.scalatest.funsuite.AnyFunSuite
import graft.sinks.{BlobFileSink, JdbcUpsertSink}
import graft.streaming.HistoryPipeline

/** Sink semantics against an embedded Derby JDBC database (the sink of
  * record) and the blob file sink — W1/W2/W3/W7, D4, exactly-once. */
class SinkSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  private def freshSink(name: String, ddl: String, keys: Seq[String]) = {
    val sink = JdbcUpsertSink(s"jdbc:derby:memory:$name;create=true",
      name, keys)
    sink.execDdl(ddl)
    sink
  }

  test("W3 append + W7 partition transactions") {
    import spark.implicits._
    val sink = freshSink("t_append",
      "CREATE TABLE t_append (k VARCHAR(10) PRIMARY KEY, v INT)", Seq("k"))
    sink.append(Seq(("a", 1), ("b", 2)).toDF("k", "v").repartition(2))
    assert(sink.queryCount() === 2)
  }

  test("W2 guarded upsert: insert new, update only when guard holds") {
    import spark.implicits._
    val sink = freshSink("t_upsert",
      "CREATE TABLE t_upsert (k VARCHAR(10) PRIMARY KEY, v INT)", Seq("k"))
    sink.append(Seq(("a", 1), ("b", 2)).toDF("k", "v"))
    // v=NULL fails the guard → 'b' keeps 2; 'c' is new → insert
    val batch = Seq(("a", 10: Integer), ("b", null.asInstanceOf[Integer]),
      ("c", 3: Integer)).toDF("k", "v")
    sink.upsert(batch, guard = (r: Row) => !r.isNullAt(r.fieldIndex("v")))
    assert(sink.queryCount() === 3)
    assert(sink.queryCount("k = 'a' AND v = 10") === 1)
    assert(sink.queryCount("k = 'b' AND v = 2") === 1) // never downgraded
  }

  test("W1 insertIfAbsent ignores existing keys") {
    import spark.implicits._
    val sink = freshSink("t_ignore",
      "CREATE TABLE t_ignore (k VARCHAR(10) PRIMARY KEY, v INT)", Seq("k"))
    sink.append(Seq(("a", 1)).toDF("k", "v"))
    sink.insertIfAbsent(Seq(("a", 99), ("b", 2)).toDF("k", "v"))
    assert(sink.queryCount() === 2)
    assert(sink.queryCount("k = 'a' AND v = 1") === 1)
  }

  test("non-integrity SQL errors abort the partition, not masquerade as dups") {
    import spark.implicits._
    val sink = freshSink("t_abort",
      "CREATE TABLE t_abort (k VARCHAR(10) PRIMARY KEY, v INT NOT NULL)",
      Seq("k"))
    sink.append(Seq(("a", 1)).toDF("k", "v"))
    // 'b' violates NOT NULL on a NON-key column — SQLState 23502 is an
    // integrity violation but an INSERT failure, and the guarded-update
    // fallback must not swallow a genuinely bad row as "key exists":
    // the UPDATE hits zero rows, the batch commits, and the bad row is
    // reported absent. The truly-fatal case — a statement-level error
    // like a type mismatch (22xxx) or syntax (42xxx) — must throw.
    val boom = intercept[Exception] {
      // table name with a quote → syntax error at execute time (42xxx),
      // NOT an integrity violation: must propagate
      val bad = JdbcUpsertSink("jdbc:derby:memory:t_abort", "t_abort\"", Seq("k"))
      bad.upsert(Seq(("c", 3)).toDF("k", "v"))
    }
    assert(boom != null)
    // base table unchanged by the failed writer
    assert(sink.queryCount() === 1)
  }

  test("W2 staged MERGE: one set-based statement per partition") {
    import spark.implicits._
    val sink = freshSink("t_merge",
      "CREATE TABLE t_merge (k VARCHAR(10) PRIMARY KEY, v INT)", Seq("k"))
    sink.append(Seq(("a", 5), ("b", 2)).toDF("k", "v"))
    // never-downgrade guard in SQL: update only when staged v is higher
    val batch = Seq(("a", 1), ("b", 9), ("c", 3)).toDF("k", "v")
      .repartition(2)
    sink.upsertStagedMerge(batch, guardSql = "s.v > t.v")
    assert(sink.queryCount() === 3)
    assert(sink.queryCount("k = 'a' AND v = 5") === 1) // 1 < 5: kept
    assert(sink.queryCount("k = 'b' AND v = 9") === 1) // 9 > 2: updated
    assert(sink.queryCount("k = 'c' AND v = 3") === 1) // new: inserted
  }

  test("staged MERGE with custom SET expressions: counters accumulate, " +
      "sketch components fold by min") {
    import spark.implicits._
    val sink = freshSink("t_accum",
      "CREATE TABLE t_accum (k VARCHAR(10) PRIMARY KEY, n BIGINT, s0 BIGINT)",
      Seq("k"))
    sink.upsertStagedMerge(Seq(("a", 2L, 50L), ("b", 1L, 70L))
      .toDF("k", "n", "s0"))
    sink.upsertStagedMerge(
      Seq(("a", 3L, 90L), ("c", 1L, 10L)).toDF("k", "n", "s0"),
      setExprs = Map(
        "n" -> "t.n + s.n",
        "s0" -> "CASE WHEN s.s0 < t.s0 THEN s.s0 ELSE t.s0 END"))
    assert(sink.queryCount() === 3)
    assert(sink.queryCount("k = 'a' AND n = 5 AND s0 = 50") === 1) // 2+3, min(50,90)
    assert(sink.queryCount("k = 'b' AND n = 1 AND s0 = 70") === 1) // untouched
    assert(sink.queryCount("k = 'c' AND n = 1 AND s0 = 10") === 1) // inserted
  }

  test("staged MERGE accumulates exact variance stats across epochs " +
      "(incremental exactOutliers: (n,S,SS) is a mergeable triple)") {
    import spark.implicits._
    val sink = freshSink("t_stats",
      "CREATE TABLE t_stats (k VARCHAR(10) PRIMARY KEY, " +
        "n BIGINT, s BIGINT, ss BIGINT)", Seq("k"))
    def stats(vals: Seq[Long]) =
      (vals.size.toLong, vals.sum, vals.map(v => v * v).sum)
    val (e1, e2) = (Seq(3L, 5L, 7L), Seq(11L, 13L))
    val (n1, s1, ss1) = stats(e1)
    sink.upsertStagedMerge(Seq(("a", n1, s1, ss1)).toDF("k", "n", "s", "ss"))
    val (n2, s2, ss2) = stats(e2)
    sink.upsertStagedMerge(
      Seq(("a", n2, s2, ss2)).toDF("k", "n", "s", "ss"),
      setExprs = Map("n" -> "t.n + s.n", "s" -> "t.s + s.s",
        "ss" -> "t.ss + s.ss"))
    // folded stats == stats of the union: the z-score gate computed from
    // the sink equals a from-scratch recomputation, no corpus rescan
    val (nu, su, ssu) = stats(e1 ++ e2)
    assert(sink.queryCount(s"k = 'a' AND n = $nu AND s = $su AND ss = $ssu")
      === 1)
  }

  test("staged MERGE rejects setExprs for key or unknown columns") {
    import spark.implicits._
    val sink = freshSink("t_badset",
      "CREATE TABLE t_badset (k VARCHAR(10) PRIMARY KEY, n BIGINT)", Seq("k"))
    val batch = Seq(("a", 1L)).toDF("k", "n")
    val keyErr = intercept[IllegalArgumentException] {
      sink.upsertStagedMerge(batch, setExprs = Map("k" -> "s.k"))
    }
    assert(keyErr.getMessage.contains("k"))
    val unknownErr = intercept[IllegalArgumentException] {
      sink.upsertStagedMerge(batch, setExprs = Map("nope" -> "1"))
    }
    assert(unknownErr.getMessage.contains("nope"))
  }

  test("staged MERGE sweeps a leftover staging table in the DB's identifier case") {
    import spark.implicits._
    val sink = freshSink("t_sweep",
      "CREATE TABLE t_sweep (k VARCHAR(10) PRIMARY KEY, v INT)", Seq("k"))
    // a failed attempt's staging table for partition 0; Derby stores the
    // unquoted name upper-case, T_SWEEP_STG_0_999
    sink.execDdl("CREATE TABLE t_sweep_stg_0_999 (k VARCHAR(10), v INT)")
    def leftovers(): Int = {
      val c = java.sql.DriverManager.getConnection("jdbc:derby:memory:t_sweep")
      try {
        val rs = c.getMetaData.getTables(null, null, "T_SWEEP_STG_0_999", null)
        Iterator.continually(rs).takeWhile(_.next()).size
      } finally c.close()
    }
    assert(leftovers() === 1)
    sink.upsertStagedMerge(Seq(("a", 1)).toDF("k", "v").coalesce(1))
    assert(leftovers() === 0)
    assert(sink.queryCount() === 1)
  }

  test("foreachBatchStagedMerge collapses exact duplicates; a key conflict fails") {
    import spark.implicits._
    val sink = freshSink("t_set",
      "CREATE TABLE t_set (k VARCHAR(10) PRIMARY KEY, v INT)", Seq("k"))
    val merge = sink.foreachBatchStagedMerge()
    merge(Seq(("a", 1), ("a", 1), ("b", 2)).toDF("k", "v").coalesce(1), 0L)
    assert(sink.queryCount() === 2)
    // one key, two values: not a duplicate row, so the epoch's MERGE fails
    intercept[Exception] {
      merge(Seq(("c", 1), ("c", 2)).toDF("k", "v"), 1L)
    }
    assert(sink.queryCount("k = 'c'") === 0)
    assert(sink.queryCount() === 2)
  }

  test("each sink write runs as the job JdbcUpsertSink.<write>/<table>") {
    import org.apache.spark.TaskContext
    import org.apache.spark.sql.functions.{lit, udf}
    val sink = freshSink("t_desc",
      "CREATE TABLE t_desc (k VARCHAR(10) PRIMARY KEY, d VARCHAR(200))",
      Seq("k"))
    val jobDesc = udf(() => Option(TaskContext.get())
      .map(_.getLocalProperty("spark.job.description")).orNull)
      .asNondeterministic()
    def row(k: String) = spark.range(1).select(lit(k).as("k"), jobDesc().as("d"))
    val sc = spark.sparkContext
    sc.setJobDescription("caller")
    try {
      sink.append(row("a"))
      sink.upsertStagedMerge(row("b"))
      sink.insertIfAbsent(row("c"))
      assert(sc.getLocalProperty("spark.job.description") === "caller")
    } finally sc.setJobDescription(null)
    assert(sink.queryCount("k = 'a' AND d = 'JdbcUpsertSink.append/t_desc'") === 1)
    assert(sink.queryCount(
      "k = 'b' AND d = 'JdbcUpsertSink.upsertStagedMerge/t_desc'") === 1)
    assert(sink.queryCount(
      "k = 'c' AND d = 'JdbcUpsertSink.insertIfAbsent/t_desc'") === 1)
  }

  test("exactly-once: replaying the same micro-batch is a no-op") {
    import spark.implicits._
    val sink = freshSink("t_replay",
      "CREATE TABLE t_replay (k VARCHAR(10) PRIMARY KEY, v INT)", Seq("k"))
    val batch = Seq(("a", 1), ("b", 2)).toDF("k", "v")
    sink.upsert(batch)
    sink.upsert(batch) // replay after simulated failure
    assert(sink.queryCount() === 2)
  }

  test("streaming foreachBatch: history pipeline → Derby, idempotent across epochs") {
    import spark.implicits._
    implicit val sq = spark.sqlContext
    val sink = freshSink("t_hist",
      "CREATE TABLE t_hist (video VARCHAR(11), watched TIMESTAMP, " +
        "PRIMARY KEY (video, watched))", Seq("video", "watched"))
    val mem = MemoryStream[(String, String)]
    val q = HistoryPipeline.stream(mem.toDF().toDF("titleUrl", "time"))
      .writeStream.outputMode("append")
      .foreachBatch(sink.foreachBatch())
      .start()
    try {
      mem.addData(
        ("https://www.youtube.com/watch?v=dQw4w9WgXcQ", "2024-01-01T10:00:00Z"),
        ("https://www.youtube.com/watch?v=dQw4w9WgXcQ", "2024-01-01T10:00:00Z"))
      q.processAllAvailable()
      mem.addData( // same key again in a later epoch → PK-idempotent
        ("https://www.youtube.com/watch?v=dQw4w9WgXcQ", "2024-01-01T10:00:00Z"))
      q.processAllAvailable()
      assert(sink.queryCount() === 1)
    } finally q.stop()
  }

  test("checkpointed file stream restart: keyed sink absorbs the replayed key") {
    import java.nio.file.Files
    val src = Files.createTempDirectory("hist_src")
    val ckpt = Files.createTempDirectory("hist_ckpt").toString
    val sink = freshSink("t_ckpt",
      "CREATE TABLE t_ckpt (video VARCHAR(11), watched TIMESTAMP, " +
        "PRIMARY KEY (video, watched))", Seq("video", "watched"))
    def startQuery() = {
      val raw = spark.readStream.schema(Schemas.takeoutHistory)
        .json(src.toString)
      HistoryPipeline.stream(raw).writeStream
        .option("checkpointLocation", ckpt)
        .outputMode("append")
        .foreachBatch(sink.foreachBatch())
        .start()
    }
    def writeFile(name: String, rows: String): Unit =
      Files.writeString(src.resolve(name), rows)
    writeFile("f1.json",
      """{"titleUrl":"https://www.youtube.com/watch?v=dQw4w9WgXcQ","time":"2024-01-01T10:00:00Z"}
        |{"titleUrl":"https://www.youtube.com/watch?v=aaaaaaaaaaa","time":"2024-01-01T10:05:00Z"}""".stripMargin)
    val q1 = startQuery()
    try q1.processAllAvailable() finally q1.stop()
    assert(sink.queryCount() === 2)
    // restart from the same checkpoint; new file repeats an old key
    writeFile("f2.json",
      """{"titleUrl":"https://www.youtube.com/watch?v=dQw4w9WgXcQ","time":"2024-01-01T10:00:00Z"}
        |{"titleUrl":"https://www.youtube.com/watch?v=bbbbbbbbbbb","time":"2024-01-01T10:10:00Z"}""".stripMargin)
    val q2 = startQuery()
    try q2.processAllAvailable() finally q2.stop()
    // the checkpoint skips f1; the keyed sink absorbs f2's repeat of an
    // old key, so only the genuinely-new row lands → 3
    assert(sink.queryCount() === 3)
  }

  test("interchange formats round-trip losslessly: parquet source → " +
      "ORC / JSON / CSV → identical row sets under the original schema") {
    import spark.implicits._
    val docs = Tables.documents(spark, "/root/testdata/sf0.001")
      .select($"doc_id", $"text", $"lang", $"source", $"n_chars")
    val want = docs.collect().map(_.toSeq).toSet
    val base = java.nio.file.Files
      .createTempDirectory("graft_fmt_rt").toString
    def tuples(df: org.apache.spark.sql.DataFrame) =
      df.select($"doc_id", $"text", $"lang", $"source", $"n_chars")
        .collect().map(_.toSeq).toSet
    docs.write.mode("overwrite").orc(s"$base/orc")
    assert(tuples(spark.read.orc(s"$base/orc")) === want)
    docs.write.mode("overwrite").json(s"$base/json")
    assert(tuples(spark.read.schema(docs.schema).json(s"$base/json"))
      === want)
    // CSV needs quoting/escaping to survive arbitrary text; read back
    // under the explicit schema (CSV carries no types)
    docs.write.mode("overwrite")
      .option("header", "true").option("escape", "\"")
      .csv(s"$base/csv")
    assert(tuples(spark.read.schema(docs.schema)
      .option("header", "true").option("escape", "\"")
      .csv(s"$base/csv")) === want)
  }

  test("S10 blob dump: writes once, skips on re-run (D4)") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft_blobs").toString
    val blobs = Seq(("v1", "abc".getBytes, "webp"), ("v2", "xy".getBytes, "jpg"))
      .toDF("id", "payload", "ext")
    assert(BlobFileSink.dump(blobs, dir) === ((2L, 0L)))
    assert(BlobFileSink.dump(blobs, dir) === ((0L, 2L))) // idempotent
    assert(new String(Files.readAllBytes(
      java.nio.file.Paths.get(dir, "v1.webp"))) === "abc")
  }
}
