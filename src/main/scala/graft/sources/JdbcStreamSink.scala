package graft.sources

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.types.StructType

/** X20/F11: exactly-once streaming CDC apply into a JDBC target.
  *
  * Structured Streaming's foreachBatch gives at-least-once delivery: a
  * crash between sink write and checkpoint commit re-delivers the epoch.
  * MERGE is idempotent for pure upserts, but any non-idempotent target
  * effect (audit inserts, counters, downstream triggers fired per MERGE)
  * double-applies. The standard fix, implemented here: an applied-epochs
  * ledger in the TARGET database, written in the SAME transaction as the
  * apply — the (query, epoch) primary key makes re-delivery a detected
  * no-op, so "apply + mark" is atomic and each epoch's effect happens
  * exactly once no matter how many times the engine re-runs it.
  *
  * Staging is outside the transaction (Spark's JDBC writer uses its own
  * connections) and deliberately so: re-staging before a skipped epoch is
  * harmless — the transactional unit is marker + MERGE.
  *
  * Reference anchor: the reference's MERGE loop (03_cdc_etl.py:129-157)
  * run continuously with a delivery guarantee its batch script doesn't
  * need.
  */
object JdbcStreamSink {
  val EpochTable = "graft_applied_epochs"

  /** "Table already exists" SQLStates across the dialects this sink can
    * face: Derby X0Y32, PostgreSQL 42P07, SQL-standard 42S01
    * (MySQL/MariaDB/SQLServer via ODBC mapping), Oracle maps ORA-00955
    * under generic 42000. Supported-target contract: Derby (spec-tested)
    * plus any JDBC target whose duplicate-table error lands in this set
    * or whose catalog lists the table via DatabaseMetaData.
    */
  private val TableExistsStates = Set("X0Y32", "42P07", "42S01", "42000")

  private def tableExists(conn: java.sql.Connection, name: String): Boolean = {
    val rs = conn.getMetaData.getTables(null, null, null,
      Array("TABLE"))
    try {
      var found = false
      while (!found && rs.next())
        found = rs.getString("TABLE_NAME").equalsIgnoreCase(name)
      found
    } finally rs.close()
  }

  /** Create the ledger if absent. Probes the catalog first (portable),
    * then treats the known already-exists SQLStates as the idempotence
    * signal for engines whose metadata probe races a concurrent creator.
    */
  def ensureEpochTable(c: Jdbc.Conn): Unit = {
    val exists = Jdbc.withConnection(c)(conn => tableExists(conn, EpochTable))
    if (!exists)
      try JdbcMerge.execute(c,
        s"""CREATE TABLE $EpochTable (
           |  query_name VARCHAR(128) NOT NULL,
           |  epoch_id BIGINT NOT NULL,
           |  PRIMARY KEY (query_name, epoch_id))""".stripMargin)
      catch {
        case e: java.sql.SQLException
          if TableExistsStates.contains(e.getSQLState) => ()
      }
  }

  /** Run `apply` exactly once for (queryName, epochId): the ledger insert
    * and the apply share one transaction; a duplicate epoch rolls back
    * and reports false without running `apply`.
    */
  def applyEpochOnce(c: Jdbc.Conn, queryName: String, epochId: Long)
                    (apply: java.sql.Connection => Unit): Boolean =
    Jdbc.withConnection(c) { conn =>
      conn.setAutoCommit(false)
      try {
        val ps = conn.prepareStatement(s"INSERT INTO $EpochTable VALUES (?, ?)")
        ps.setString(1, queryName)
        ps.setLong(2, epochId)
        val dup =
          try { ps.executeUpdate(); false }
          catch {
            case _: java.sql.SQLIntegrityConstraintViolationException => true
            // standard duplicate-key class 23xxx (23505 Derby/Postgres,
            // 23000 MySQL/Oracle) — anything else propagates
            case e: java.sql.SQLException
              if Option(e.getSQLState).exists(_.startsWith("23")) => true
          } finally ps.close()
        if (dup) { conn.rollback(); false }
        else {
          apply(conn)
          conn.commit()
          true
        }
      } catch { case t: Throwable => conn.rollback(); throw t }
    }

  /** Stream a CDC delta directory into a JDBC target with exactly-once
    * epochs: per micro-batch, stage the delta then run the soft-delete
    * MERGE under [[applyEpochOnce]]. Returns the number of epochs that
    * actually applied (re-delivered epochs are skipped by the ledger, so
    * a restart without a checkpoint — or a replayed epoch after a crash —
    * changes nothing).
    */
  def streamCdcApplyJdbc(spark: SparkSession, deltaPath: String,
                         schema: StructType, c: Jdbc.Conn, target: String,
                         staging: String, pk: Seq[String],
                         queryName: String): Long = {
    ensureEpochTable(c)
    var applied = 0L
    graft.streaming.Streams.drain(spark)((iso, _) =>
      iso.readStream.schema(schema).parquet(deltaPath)) { (batch, epochId) =>
      if (!batch.isEmpty) {
        JdbcMerge.execute(c, s"DELETE FROM $staging")
        Jdbc.write(batch, c, staging)
        val cols = batch.columns.toSeq
        if (applyEpochOnce(c, queryName, epochId) { conn =>
              val st = conn.createStatement()
              try st.executeUpdate(
                JdbcMerge.mergeSoftDeleteSql(target, staging, pk, cols))
              finally st.close()
            }) applied += 1
      }
    }
    applied
  }
}
