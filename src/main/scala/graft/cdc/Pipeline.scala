package graft.cdc

import java.sql.Timestamp
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** End-to-end incremental replication — the reference's operational loop
  * (scripts/03_cdc_etl.py:203-379) re-expressed as one declarative pass per
  * table:
  *
  *   discover → FK schedule (a table starts once its parents have landed,
  *   tables with no FK path between them at the same time) → per table:
  *     read delta (watermark predicate pushed into the scan)
  *     → dedup to latest-per-key (the staging step, minus the staging table:
  *       Spark's shuffle IS the stage)
  *     → soft-delete merge (matched keys take the staged row, new live
  *       keys insert)
  *     → advance watermark to MAX(change_ts)
  *     → record stats
  *
  * Every target shares that one per-table step and the one FK scheduler
  * around it; a target supplies only its write step for the staged
  * batch (JDBC stage + DB-side MERGE, a Delta commit, an Iceberg
  * snapshot), so the same run drives a lakehouse replica or a database.
  * Failure isolation matches the reference: a failing table is recorded and
  * the run continues (:348-352).
  */
object Pipeline {
  /** One replicated table: PK for the merge + how to derive CDC columns. */
  final case class TableSpec(
      name: String,
      pk: Seq[String],
      createdAt: String = Cdc.CreatedAt,
      updatedAt: String = Cdc.UpdatedAt)

  /** Per-table outcome, mirroring the reference's table_stats, plus when
    * the step started (seconds from the run's start) and its wall time. */
  final case class TableResult(
      table: String,
      status: String, // "processed" | "no_changes" | "failed"
      rowsProcessed: Long,
      newWatermark: Option[Timestamp],
      error: Option[String] = None,
      started: Double = 0.0,
      seconds: Double = 0.0)

  /** Run summary, mirroring the reference's final report (:357-371). */
  final case class RunReport(results: Seq[TableResult]) {
    def processed: Int = results.count(_.status == "processed")
    def noChanges: Int = results.count(_.status == "no_changes")
    def failed: Int = results.count(_.status == "failed")
    def totalRows: Long = results.map(_.rowsProcessed).sum
    def summary: String =
      s"processed=$processed no_changes=$noChanges failed=$failed rows=$totalRows"
  }

  /** Persist a run report as a timestamped artifact — the reference logs
    * every run to `cdc_etl_<ts>.log` (03_cdc_etl.py:19-27); this is the
    * structured form: one JSON line per table plus a summary line,
    * written atomically (temp + rename). The name carries the instant's
    * NANOSECOND field so concurrent or same-second runs land in distinct
    * files (and distinct temp files) instead of clobbering each other.
    * Returns the file written.
    */
  def writeRunReport(report: RunReport, dir: String,
                     runAt: java.time.Instant = java.time.Instant.now()): java.io.File = {
    // full JSON string escaping: quotes, backslash, and EVERY control
    // character (driver error messages carry \r\n\t) — a torn escape
    // makes the artifact unparseable for whoever reads it
    def esc(s: String) = s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => "\\u%04x".format(c.toInt)
      case c => c.toString
    }
    val stamp = java.time.format.DateTimeFormatter.ofPattern("yyyyMMdd_HHmmss")
      .withZone(java.time.ZoneOffset.UTC).format(runAt)
    val d = new java.io.File(dir)
    d.mkdirs()
    val f = new java.io.File(d, f"cdc_run_${stamp}_${runAt.getNano}%09d.jsonl")
    val lines = report.results.map { r =>
      s"""{"table":"${esc(r.table)}","status":"${r.status}",""" +
        s""""rows":${r.rowsProcessed},"watermark":${r.newWatermark
          .map(t => "\"" + t.toString + "\"").getOrElse("null")},""" +
        s""""error":${r.error.map(e => "\"" + esc(e) + "\"").getOrElse("null")},""" +
        """"started":%.3f,"seconds":%.3f}""".formatLocal(java.util.Locale.ROOT, r.started, r.seconds)
    } :+ (s"""{"summary":{"processed":${report.processed},""" +
      s""""no_changes":${report.noChanges},"failed":${report.failed},""" +
      s""""rows":${report.totalRows},"run_at":"$runAt"}}""")
    graft.sources.Sink.writeLinesAtomic(f, lines)
    f
  }

  /** The one FK scheduler every target shares. A table's [[replicateTable]]
    * step starts as soon as every FK parent's step has finished, failed
    * ones included (a failure is recorded and the run goes on), with at
    * most `defaultParallelism` steps in flight; tables on an FK cycle run
    * after all others, one at a time. Each step runs on a thread the
    * caller starts, so it sees the caller's Spark local properties (job
    * group, pool). Results keep the topological order, and the watermark
    * map advances by the tables that processed. A non-`Exception` failure
    * is rethrown once the steps in flight have ended.
    */
  private[cdc] def replicateScheduled(
      spark: SparkSession,
      tables: Seq[TableSpec],
      fkEdges: Seq[(String, String)],
      readSource: String => DataFrame,
      watermarks: Map[String, Timestamp])(
      apply: (TableSpec, DataFrame) => Unit): (RunReport, Map[String, Timestamp]) = {
    val byName = tables.map(t => t.name -> t).toMap
    val levels = TopoSort.levels(tables.map(_.name), fkEdges)
    val acyclic = levels.collect { case (n, l) if l >= 0 => n }
    val cyclic = levels.collect { case (n, -1) => n }
    val t0 = System.nanoTime()
    def step(name: String): TableResult = {
      val s = System.nanoTime()
      replicateTable(byName(name), readSource, watermarks)(apply)
        .copy(started = (s - t0) / 1e9, seconds = (System.nanoTime() - s) / 1e9)
    }
    val slots = math.max(1, math.min(spark.sparkContext.defaultParallelism, acyclic.size))
    val done = new java.util.concurrent.LinkedBlockingQueue[(String, Either[Throwable, TableResult])]
    val finished = scala.collection.mutable.Map[String, TableResult]()
    var waiting = acyclic
    var running = 0
    try while (finished.size < acyclic.size) {
      // a self-reference never blocks a table, as TopoSort ignores it
      val start = waiting.filter(n => fkEdges.forall { case (p, c) =>
        c != n || p == n || !byName.contains(p) || finished.contains(p) }).take(slots - running)
      waiting = waiting.filterNot(start.contains)
      start.foreach { n =>
        new Thread(() => done.put(n -> (try Right(step(n)) catch { case e: Throwable => Left(e) })),
          s"graft-cdc-$n").start()
        running += 1
      }
      val (n, r) = done.take()
      running -= 1
      finished(n) = r.fold(e => throw e, identity)
    } finally while (running > 0) { done.take(); running -= 1 }
    val results = acyclic.map(finished) ++ cyclic.map(step)
    (RunReport(results), results.foldLeft(watermarks) {
      case (acc, r) if r.status == "processed" => acc ++ r.newWatermark.map(r.table -> _)
      case (acc, _) => acc
    })
  }

  /** The per-table CDC step: the rows changed since the table's watermark
    * (change ts = GREATEST(COALESCE(updated, created), created)), deduped
    * to the latest row per key, handed to the target's `apply` write
    * step. The new watermark is MAX(change ts) of the delta. A failure
    * anywhere, write step included, is recorded and leaves the watermark
    * where it was.
    */
  private def replicateTable(
      spec: TableSpec,
      readSource: String => DataFrame,
      watermarks: Map[String, Timestamp])(
      apply: (TableSpec, DataFrame) => Unit): TableResult =
    try {
      val src = readSource(spec.name)
      val chg = Cdc.changeTs(col(spec.createdAt), col(spec.updatedAt))
      val wmCol: Option[Column] = watermarks.get(spec.name).map(ts => lit(ts))
      val delta = Cdc.deltaSince(src, chg, wmCol)
        .withColumn("__change_ts", chg)

      // one pass computes the batch size and max change-ts (vs. the
      // reference's separate COUNT + MAX queries, :296/:325)
      val head = delta.agg(count(lit(1)).as("n"), max(col("__change_ts")).as("m")).head()
      val deltaCount = head.getAs[Long]("n")
      if (deltaCount == 0) {
        TableResult(spec.name, "no_changes", 0, watermarks.get(spec.name))
      } else {
        val staged = Cdc.latestPerKey(delta, spec.pk, Seq(col("__change_ts")))
          .drop("__change_ts")
        apply(spec, staged)
        TableResult(spec.name, "processed", deltaCount,
          Option(head.getAs[Timestamp]("m")))
      }
    } catch {
      case e: Exception =>
        // some exceptions carry no message; the run report needs a string
        TableResult(spec.name, "failed", 0, watermarks.get(spec.name),
          error = Some(Option(e.getMessage).getOrElse(e.toString)))
    }

  /** Rows a bootstrap load keeps, and the insert guard of every merge:
    * a tombstone for a key the replica never had is not inserted. */
  private def live: Column = col(Cdc.IsDeleted) === "N"

  /** Database-to-database replication — the reference's exact architecture
    * (JDBC source → Spark transform → JDBC staging table → DB-side MERGE →
    * watermark advance), with missing target/staging tables created from
    * the source schema (the 02_clone_schema_structure.py step, inline).
    * Unlike the lake targets the merge runs INSIDE the target database:
    * only the delta crosses the wire, the replica never round-trips
    * through Spark — the right trade when the target is an operational
    * RDBMS rather than a lakehouse.
    */
  def replicateJdbc(
      spark: SparkSession,
      tables: Seq[TableSpec],
      fkEdges: Seq[(String, String)],
      source: graft.sources.Jdbc.Conn,
      target: graft.sources.Jdbc.Conn,
      watermarks: Map[String, Timestamp],
      dialect: graft.sources.JdbcMerge.Dialect = graft.sources.JdbcMerge.StandardDialect)
      : (RunReport, Map[String, Timestamp]) = {
    import graft.sources.{Jdbc, JdbcMerge}
    replicateScheduled(spark, tables, fkEdges, Jdbc.read(spark, source, _), watermarks) {
      (spec, staged) =>
        val staging = s"STG_${spec.name}"
        ensureJdbcTable(target, spec.name, staged.schema, spec.pk)
        ensureJdbcTable(target, staging, staged.schema, Nil)
        JdbcMerge.stageAndMerge(staged, target, spec.name, staging, spec.pk,
          dialect = dialect)
    }
  }

  /** Replication into DELTA-format lake tables (r13 — the reference's
    * exact loop, scripts/03_cdc_etl.py:203-379, pointed at the table
    * format the engine already reads, compacts, restores, and
    * vacuums): per table, the watermark delta stages to
    * latest-per-key and MERGES into `targetDir/<table>` via
    * [[graft.sources.DeltaWrite.merge]] — matched keys update in
    * place (soft deletes flip `is_deleted`, recorded as update
    * pre/post images in the change feed), new live keys insert,
    * tombstones for absent keys are dropped by the insert guard. A
    * missing table bootstraps with [[graft.sources.DeltaWrite.create]]
    * (live rows only — the initial full load), CDF enabled so every
    * later merge records its images, and deletion vectors enabled so
    * every later merge is merge-on-read.
    *
    * The merge rewrites NO existing file: matched rows are marked with a
    * deletion vector in their files and only updated rows and inserts
    * are written — steady-state incremental runs cost O(changed rows),
    * and downstream consumers get the recorded change feed for free.
    *
    * @param checkpointEvery (r14) every N-th merge commit also writes a
    *   classic checkpoint + `_last_checkpoint` — without it a long-lived
    *   replica replays its ENTIRE JSON log on every read, the classic
    *   unbounded-metadata scale-killer (a year of hourly runs is ~9k
    *   commits). 0 disables.
    */
  def replicateDelta(
      spark: SparkSession,
      tables: Seq[TableSpec],
      fkEdges: Seq[(String, String)],
      readSource: String => DataFrame,
      targetDir: String,
      watermarks: Map[String, Timestamp],
      checkpointEvery: Int = 10): (RunReport, Map[String, Timestamp]) = {
    import graft.sources.DeltaWrite
    replicateScheduled(spark, tables, fkEdges, readSource, watermarks) { (spec, staged) =>
      val path = s"$targetDir/${spec.name}"
      val v =
        if (!java.nio.file.Files.isDirectory(java.nio.file.Paths.get(path, "_delta_log")))
          DeltaWrite.create(spark, path, staged.filter(live),
            configuration = Map("delta.enableChangeDataFeed" -> "true",
              "delta.enableDeletionVectors" -> "true"))
        else
          DeltaWrite.merge(spark, path, staged, spec.pk, insertFilter = Some(live))
      if (checkpointEvery > 0 && v > 0 && v % checkpointEvery == 0)
        graft.sources.DeltaLog.writeCheckpoint(spark, path)
    }
  }

  /** Replication into ICEBERG-format lake tables (r14 — the C37 story
    * completed for the second lake format): per table, the watermark
    * delta stages to latest-per-key and lands as ONE v2 snapshot via
    * [[graft.sources.IcebergCatalog.commitMerge]] — an equality delete
    * over the PK for the matched keys plus data files for the staged
    * rows, both at the same data sequence number, so the delete covers
    * strictly-older files only. A missing table bootstraps with
    * [[graft.sources.IcebergCatalog.createTable]] + `commitAppend`
    * (live rows only — the initial full load).
    *
    * Scale shape: PURE merge-on-read — incremental runs write
    * O(changed data) and rewrite NOTHING (like the Delta path's
    * deletion vectors), at the cost of a read-side anti-join until
    * compaction folds the deletes in.
    */
  def replicateIceberg(
      spark: SparkSession,
      tables: Seq[TableSpec],
      fkEdges: Seq[(String, String)],
      readSource: String => DataFrame,
      targetDir: String,
      watermarks: Map[String, Timestamp]): (RunReport, Map[String, Timestamp]) = {
    import graft.sources.IcebergCatalog
    replicateScheduled(spark, tables, fkEdges, readSource, watermarks) { (spec, staged) =>
      val path = s"$targetDir/${spec.name}"
      if (!java.nio.file.Files.isDirectory(java.nio.file.Paths.get(path, "metadata"))) {
        IcebergCatalog.createTable(path, IcebergCatalog.icebergFields(staged.schema))
        IcebergCatalog.commitAppend(spark, path, staged.filter(live),
          IcebergCatalog.nextSnapshotId(path))
      } else
        IcebergCatalog.commitMerge(spark, path, staged, spec.pk,
          IcebergCatalog.nextSnapshotId(path), insertFilter = Some(live))
    }
  }

  /** Zero-config replication — the reference's ENTIRE main() needing only
    * two connections: discover tables, primary keys, and FK edges from the
    * source's JDBC metadata (utils/database.py), then run the incremental
    * DB-to-DB loop. Tables without a primary key are skipped (the
    * reference requires PKs for its MERGE, :262-266).
    */
  def discoverAndReplicate(
      spark: SparkSession,
      source: graft.sources.Jdbc.Conn,
      target: graft.sources.Jdbc.Conn,
      watermarks: Map[String, Timestamp],
      schema: String = null,
      dialect: graft.sources.JdbcMerge.Dialect = graft.sources.JdbcMerge.StandardDialect)
      : (RunReport, Map[String, Timestamp]) = {
    import graft.sources.Jdbc
    val tables = Jdbc.listTables(source, schema)
    val specs = tables
      .map(t => t -> Jdbc.primaryKeys(source, t))
      .filter(_._2.nonEmpty)
      .map { case (t, pk) => TableSpec(t, pk) }
    val fk = Jdbc.foreignKeys(source, specs.map(_.name))
    replicateJdbc(spark, specs, fk, source, target, watermarks, dialect)
  }

  /** Create `table` in the target database from a Spark schema if it does
    * not exist (DatabaseMetaData probe + SchemaClone DDL) — the reference's
    * clone-missing-tables step.
    */
  def ensureJdbcTable(c: graft.sources.Jdbc.Conn, table: String,
                      schema: org.apache.spark.sql.types.StructType,
                      pk: Seq[String]): Unit =
    graft.sources.Jdbc.withConnection(c) { conn =>
      val rs = conn.getMetaData.getTables(null, null, table.toUpperCase, null)
      val exists = try rs.next() finally rs.close()
      if (!exists) {
        // existence was just probed, and not every RDBMS (Derby, Oracle
        // < 23c) accepts IF NOT EXISTS
        val st = conn.createStatement()
        try st.executeUpdate(SchemaClone.createTableDdl(table, schema, pk,
          ifNotExists = false, stringType = "VARCHAR(4000)"))
        finally st.close()
      }
    }
}
