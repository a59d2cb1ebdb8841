package graft.sinks

import java.sql.{Connection, DatabaseMetaData, DriverManager, PreparedStatement,
  SQLException}
import java.util.Locale
import org.apache.spark.sql.{DataFrame, Row}
import graft.streaming.Hookup

/** The sink of record (north star: Structured Streaming + JDBC): the
  * reference's write semantics executed transactionally against a JDBC
  * database, per micro-batch.
  *
  * Semantics mapped from the reference:
  *  - W3 append, W1 INSERT OR IGNORE, W2 guarded insert-else-update
  *    (try INSERT; on key violation fall back to UPDATE only when the
  *    guard passes — exactly cmds/archive.py:152-175 with the
  *    IntegrityError catch at :160).
  *  - W7 transaction batching: one commit per partition per micro-batch
  *    (the reference commits per logical unit, cmds/archive.py:134,195).
  *  - Exactly-once: upserts are keyed on the PK, so micro-batch replays
  *    (after failure) are idempotent — the same guarantee the reference
  *    gets from SQLite PK constraints.
  *
  * Scale: executors open one connection per partition and use
  * PreparedStatement batches of `batchSize`; no driver-side collect. The
  * connection count is bounded by shuffle partitions — size accordingly.
  */
final case class JdbcUpsertSink(
    url: String,
    table: String,
    keyCols: Seq[String],
    batchSize: Int = 500) extends Serializable {

  private def connect(): Connection = DriverManager.getConnection(url)

  /** SQLState class 23 (integrity constraint violation) — the only
    * SQLException family equivalent to the reference's sqlite3
    * IntegrityError. Some drivers (notably sqlite-jdbc, the reference's
    * own DB) report constraint violations with a NULL SQLState; for those
    * only, fall back to the vendor message. Everything else rethrows. */
  private def isIntegrityViolation(e: SQLException): Boolean =
    e.isInstanceOf[java.sql.SQLIntegrityConstraintViolationException] ||
      (Option(e.getSQLState) match {
        case Some(state) => state.startsWith("23")
        case None =>
          val m = Option(e.getMessage).getOrElse("").toLowerCase
          Seq("constraint", "unique", "duplicate").exists(m.contains)
      })

  /** Run DDL (CREATE TABLE ...) on the sink DB. */
  def execDdl(ddl: String): Unit = {
    val c = connect()
    try { c.createStatement().execute(ddl) } finally c.close()
  }

  def queryCount(where: String = "1=1"): Long = {
    val c = connect()
    try {
      val rs = c.createStatement()
        .executeQuery(s"SELECT count(*) FROM $table WHERE $where")
      rs.next(); rs.getLong(1)
    } finally c.close()
  }

  /** Bind `row`'s values at `ordinals` (resolved once per write: the
    * schema is fixed) to parameters `offset + 1` onward. */
  private def setParams(ps: PreparedStatement, row: Row, ordinals: Array[Int],
      offset: Int = 0): Unit =
    ordinals.indices.foreach(i =>
      ps.setObject(offset + i + 1, row.get(ordinals(i))))

  /** Run `write`'s per-partition body as the Spark job
    * `JdbcUpsertSink.<write>/<table>`, then restore the caller's job
    * description (a streaming batch keeps its own). */
  private def runPartitions(write: String, df: DataFrame)(
      body: Iterator[Row] => Unit): Unit = {
    val sc = df.sparkSession.sparkContext
    val prevDesc = sc.getLocalProperty(JdbcUpsertSink.JobDescription)
    sc.setJobDescription(s"JdbcUpsertSink.$write/$table")
    try df.foreachPartition(body)
    finally sc.setLocalProperty(JdbcUpsertSink.JobDescription, prevDesc)
  }

  /** W1 — INSERT OR IGNORE: try each insert, swallow key violations. */
  def insertIfAbsent(df: DataFrame): Unit =
    guardedUpsert("insertIfAbsent", df, _ => false, None)

  /** W3 — plain append (fails on key violation, like the reference's
    * unguarded inserts). */
  def append(df: DataFrame): Unit = {
    val cols = df.schema.fieldNames.toSeq
    val all = cols.indices.toArray
    val insertSql = s"INSERT INTO $table (${cols.mkString(",")}) VALUES " +
      s"(${cols.map(_ => "?").mkString(",")})"
    val u = url; val bs = batchSize
    runPartitions("append", df) { rows =>
      val c = DriverManager.getConnection(u)
      c.setAutoCommit(false)
      try {
        val ps = c.prepareStatement(insertSql)
        var n = 0
        rows.foreach { r =>
          setParams(ps, r, all); ps.addBatch(); n += 1
          if (n % bs == 0) ps.executeBatch()
        }
        ps.executeBatch()
        c.commit() // W7: one transaction per partition
      } catch { case e: Throwable => c.rollback(); throw e }
      finally c.close()
    }
  }

  /** W2 — guarded upsert: INSERT; on PK violation, UPDATE `setCols` only
    * when `guard(row)` holds (never-downgrade, cmds/archive.py:162).
    * Default guard accepts every row (plain upsert). */
  def upsert(df: DataFrame, guard: Row => Boolean = _ => true,
      setColsOpt: Option[Seq[String]] = None): Unit =
    guardedUpsert("upsert", df, guard, setColsOpt)

  private def guardedUpsert(write: String, df: DataFrame, guard: Row => Boolean,
      setColsOpt: Option[Seq[String]]): Unit = {
    val schema = df.schema
    val cols = schema.fieldNames.toSeq
    val keys = keyCols
    val setCols = setColsOpt.getOrElse(cols.filterNot(keys.contains))
    val all = cols.indices.toArray
    val setOrd = setCols.map(schema.fieldIndex).toArray
    val keyOrd = keys.map(schema.fieldIndex).toArray
    val insertSql = s"INSERT INTO $table (${cols.mkString(",")}) VALUES " +
      s"(${cols.map(_ => "?").mkString(",")})"
    val updateSql =
      if (setCols.isEmpty) "VALUES 1" // placeholder; never executed
      else s"UPDATE $table SET " +
        setCols.map(c => s"$c = ?").mkString(", ") +
        " WHERE " + keys.map(k => s"$k = ?").mkString(" AND ")
    val u = url
    runPartitions(write, df) { rows =>
      val c = DriverManager.getConnection(u)
      c.setAutoCommit(false)
      try {
        val ins = c.prepareStatement(insertSql)
        val upd = c.prepareStatement(updateSql)
        rows.foreach { r =>
          setParams(ins, r, all)
          try ins.executeUpdate()
          catch {
            // Only the integrity-constraint class (SQLState 23xxx) is the
            // IntegrityError analogue the reference catches
            // (cmds/archive.py:160). Anything else — dropped connection,
            // type mismatch, serialization failure — must abort and roll
            // back the partition transaction, not masquerade as a dup.
            case e: SQLException if isIntegrityViolation(e) =>
              // all-key tables have nothing to update → dup is a no-op
              if (setCols.nonEmpty && guard(r)) {
                setParams(upd, r, setOrd)
                setParams(upd, r, keyOrd, offset = setOrd.length)
                upd.executeUpdate()
              } // else: keep the existing row (never downgrade)
          }
        }
        c.commit() // W7
      } catch { case e: Throwable => c.rollback(); throw e }
      finally c.close()
    }
  }

  /** W2 at scale — staged MERGE (SURVEY §2.4 "stage + conditional upsert
    * SQL"): each partition writes its rows into a private staging table
    * with PreparedStatement batches, then issues ONE set-based MERGE —
    * two round-trips per partition instead of one per row (the
    * try-INSERT-catch-UPDATE form is faithful to the reference's serial
    * loop but pays a round-trip per row; this is the 100 TB path).
    *
    * `guardSql` is the W2 never-downgrade predicate over aliases `t`
    * (target) and `s` (staged), e.g. `"s.price > t.price"`; default
    * updates unconditionally. Rows must be key-unique within the batch
    * (MERGE rejects double updates of one target row) — dedupe with
    * [[graft.operators.Upsert.insertIfAbsent]]'s window trick first.
    *
    * `setExprs` overrides the UPDATE expression per column (default
    * `s.col`): accumulating merges (`"n" -> "t.n + s.n"`) and sketch
    * unions (`"s0" -> "CASE WHEN s.s0 < t.s0 THEN s.s0 ELSE t.s0 END"`,
    * the element-wise-min MinHash fold) become single set-based MERGE
    * statements — the JDBC twin of a mergeable-sketch Aggregator. */
  def upsertStagedMerge(df: DataFrame, guardSql: String = "1=1",
      setExprs: Map[String, String] = Map.empty): Unit = {
    val cols = df.schema.fieldNames.toSeq
    val all = cols.indices.toArray
    val keys = keyCols
    val setCols = cols.filterNot(keys.contains)
    val unknown = setExprs.keySet -- setCols
    require(unknown.isEmpty,
      s"setExprs for non-updatable columns (not in the batch, or key " +
        s"columns, which MERGE cannot update): ${unknown.mkString(", ")}")
    val u = url; val tbl = table; val bs = batchSize
    runPartitions("upsertStagedMerge", df) { rows =>
      if (rows.hasNext) {
        // staging name must be unique per task ATTEMPT, not per partition:
        // a speculative duplicate or retry of the same partition must not
        // race another attempt's staging table
        val tc = org.apache.spark.TaskContext.get()
        val prefix = s"${tbl}_stg_${tc.partitionId()}_"
        val stg = s"$prefix${tc.taskAttemptId()}"
        val c = DriverManager.getConnection(u)
        try {
          // leftover cleanup runs in autocommit (a failed DROP must not
          // poison the upcoming transaction — PostgreSQL aborts the tx on
          // any statement error) and sweeps EVERY prior attempt's table
          // for this partition via metadata, not just this attempt's name:
          // on DBs with non-transactional DDL a failed attempt's table
          // would otherwise be orphaned forever.
          try {
            val md = c.getMetaData
            val rs = md.getTables(null, null,
              JdbcUpsertSink.prefixPattern(md, prefix), null)
            val leftovers = Iterator.continually(rs)
              .takeWhile(_.next()).map(_.getString("TABLE_NAME")).toList
            leftovers.foreach { t =>
              try c.createStatement().execute(s"DROP TABLE $t")
              catch { case _: SQLException => }
            }
          } catch { case _: SQLException => }
          c.setAutoCommit(false)
          val st = c.createStatement()
          st.execute(
            s"CREATE TABLE $stg AS SELECT * FROM $tbl WITH NO DATA")
          val ins = c.prepareStatement(
            s"INSERT INTO $stg (${cols.mkString(",")}) VALUES " +
              s"(${cols.map(_ => "?").mkString(",")})")
          var n = 0
          rows.foreach { r =>
            setParams(ins, r, all); ins.addBatch(); n += 1
            if (n % bs == 0) ins.executeBatch()
          }
          ins.executeBatch()
          val updateClause =
            if (setCols.isEmpty) ""
            else s"WHEN MATCHED AND ($guardSql) THEN UPDATE SET " +
              setCols.map(sc =>
                s"$sc = ${setExprs.getOrElse(sc, s"s.$sc")}")
                .mkString(", ") + " "
          st.execute(
            s"MERGE INTO $tbl t USING $stg s ON " +
              keys.map(k => s"t.$k = s.$k").mkString(" AND ") + " " +
              updateClause +
              s"WHEN NOT MATCHED THEN INSERT (${cols.mkString(",")}) " +
              s"VALUES (${cols.map(sc => s"s.$sc").mkString(",")})")
          st.execute(s"DROP TABLE $stg")
          c.commit() // W7: stage + merge in one transaction
        } catch { case e: Throwable => c.rollback(); throw e }
        finally c.close()
      }
    }
  }

  /** W5 tombstone path — targeted DELETE by key: PreparedStatement
    * batches, one transaction per partition, idempotent (deleting an
    * absent key is a no-op, so micro-batch replays after failure are
    * harmless). `df` needs only the key columns. */
  def deleteByKeys(df: DataFrame): Unit = {
    val keys = keyCols
    val keyOrd = keys.map(df.schema.fieldIndex).toArray
    val delSql = s"DELETE FROM $table WHERE " +
      keys.map(k => s"$k = ?").mkString(" AND ")
    val u = url; val bs = batchSize
    runPartitions("deleteByKeys", df) { rows =>
      val c = DriverManager.getConnection(u)
      c.setAutoCommit(false)
      try {
        val ps = c.prepareStatement(delSql)
        var n = 0
        rows.foreach { r =>
          setParams(ps, r, keyOrd); ps.addBatch(); n += 1
          if (n % bs == 0) ps.executeBatch()
        }
        ps.executeBatch()
        c.commit() // W7: one transaction per partition
      } catch { case e: Throwable => c.rollback(); throw e }
      finally c.close()
    }
  }

  /** Streaming CDC apply — the consumer side of q95's changelog: each
    * micro-batch carries (`opCol`, key cols, value cols); `'D'` rows
    * DELETE by key, everything else staged-MERGEs (insert-or-update).
    * Exactly-once across checkpoint restarts for the same reason the
    * plain MERGE hookup is: a replayed epoch re-deletes absent keys
    * (no-op) and re-matches the MERGE. Contract: at most ONE op per key
    * per epoch (standard CDC compaction — an uncompacted
    * delete-then-insert of one key inside one epoch would apply in
    * arbitrary relative order across partitions). A NULL `opCol` fails
    * the epoch loudly: under three-valued logic `null === 'D'` AND
    * `null =!= 'D'` are both null, so a null-op row would otherwise be
    * neither deleted nor merged — silent data loss on malformed
    * changelog input (round-5 ADVICE). */
  def foreachBatchCdc(opCol: String = "op"): (DataFrame, Long) => Unit =
    Hookup.onActive { (batch, _) =>
      import org.apache.spark.sql.functions.{concat_ws, lit, raise_error, when}
      val op = when(batch(opCol).isNull,
          raise_error(concat_ws("", lit("foreachBatchCdc: NULL "),
            lit(opCol), lit(" column in changelog epoch — row is neither "),
            lit("a delete nor an upsert"))).cast("string"))
        .otherwise(batch(opCol))
      val checked = batch.withColumn(opCol, op)
      deleteByKeys(checked.filter(checked(opCol) === "D")
        .select(keyCols.map(checked(_)): _*))
      upsertStagedMerge(checked.filter(checked(opCol) =!= "D").drop(opCol))
    }

  /** Streaming hookup: `stream.writeStream.foreachBatch(sink.foreachBatch(...))`
    * — each epoch is one idempotent keyed upsert (exactly-once on replay). */
  def foreachBatch(guard: Row => Boolean = _ => true)
      : (DataFrame, Long) => Unit =
    Hookup.onActive((batch, _) => upsert(batch, guard))

  /** Streaming hookup for the set-based scale path: each epoch runs the
    * staged MERGE (one transaction per partition). A MERGE source is a
    * set, so the epoch is staged distinct: its exact duplicate rows
    * collapse, and duplicates of earlier epochs or replays re-match the
    * keyed MERGE instead of inserting twice (the reference's one key
    * probe, cmds/archive.py:339-342). Streams need no dedup state of
    * their own. The epoch is clustered by key first, so rows that share
    * a key but differ elsewhere meet in one partition's MERGE and fail
    * it, as the key-unique contract of [[upsertStagedMerge]] requires. */
  def foreachBatchStagedMerge(guardSql: String = "1=1",
      setExprs: Map[String, String] = Map.empty)
      : (DataFrame, Long) => Unit =
    Hookup.onActive((batch, _) => upsertStagedMerge(
      batch.repartition(keyCols.map(batch(_)): _*).distinct(),
      guardSql, setExprs))
}

object JdbcUpsertSink {
  private val JobDescription = "spark.job.description"

  /** `getTables` pattern for the tables named `prefix`…: folded to the
    * case the database stores unquoted identifiers in (Derby: upper),
    * with `_` and `%` escaped so they match only themselves. */
  private def prefixPattern(md: DatabaseMetaData, prefix: String): String = {
    val folded =
      if (md.storesUpperCaseIdentifiers) prefix.toUpperCase(Locale.ROOT)
      else if (md.storesLowerCaseIdentifiers) prefix.toLowerCase(Locale.ROOT)
      else prefix
    val esc = Option(md.getSearchStringEscape).getOrElse("")
    val escaped =
      if (esc.isEmpty) folded
      else folded.replace(esc, esc + esc).replace("_", esc + "_")
        .replace("%", esc + "%")
    escaped + "%"
  }
}
