package graft.perfbench

import java.io.File
import java.nio.file.{Files, Paths}
import java.sql.Timestamp

import scala.collection.parallel.CollectionConverters._
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DecimalType, DoubleType, FloatType, TimestampType}

import graft.GraftSession
import graft.cdc.{Cdc, Pipeline}
import graft.cdc.Pipeline.{RunReport, TableResult, TableSpec}
import graft.sources.{DeltaLog, DeltaWrite, IcebergCatalog}

/** JVM side of the replication benchmark. Reads a config JSON written by
  * `perfbench/run.py`, replicates the generated source into a Delta or
  * Iceberg replica (bootstrap, then incremental cycles), reads every replica
  * table back after each cycle (count + checksum, which run.py compares with
  * DuckDB's expected state), and writes the raw measurements as JSON.
  *
  * Usage: Main <cores> <config.json>
  *
  * The session starts while run.py is still generating inputs; the config
  * file appears (by rename) once they are complete.
  */
object Main {
  def main(args: Array[String]): Unit = {
    val spark = GraftSession.get(args(0).toInt)
    val sessionMs = System.currentTimeMillis()
    val cfgFile = new File(args(1))
    val deadline = System.nanoTime() + 120e9.toLong
    while (!cfgFile.exists()) {
      require(System.nanoTime() < deadline, s"no config at $cfgFile")
      Thread.sleep(10)
    }
    val cfg = new ObjectMapper().readTree(cfgFile)
    val repl = new Replication(spark, cfg)
    val out = repl.run() ++ (if (cfg.has("gate_dir")) repl.gates() else Map.empty) ++
      repl.spans()
    val json = Json.write(out ++ Map(
      "session_ms" -> sessionMs,
      "peak_rss_mb" -> Jvm.peakRssMb(),
      "jvm_heap_peak_mb" -> Jvm.heapPeakMb(),
      "spark_version" -> spark.version,
      "java_version" -> sys.props("java.version")))
    val out0 = Paths.get(cfg.get("out").asText)
    Files.writeString(Paths.get(out0 + ".tmp"), json)
    Files.move(Paths.get(out0 + ".tmp"), out0)
    // every result is on disk; skip the context shutdown (about a second)
    Runtime.getRuntime.halt(0)
  }
}

object Jvm {
  def gcSeconds(): Double =
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(b => math.max(0L, b.getCollectionTime)).sum / 1e3

  def heapPeakMb(): Double =
    java.lang.management.ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == java.lang.management.MemoryType.HEAP)
      .map(_.getPeakUsage.getUsed).sum / 1048576.0

  /** VmHWM: the peak resident set of this process. */
  def peakRssMb(): Double =
    scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(-1.0)
}

object Json {
  private val mapper = new ObjectMapper().registerModule(DefaultScalaModule)
  def write(m: Map[String, Any]): String = mapper.writeValueAsString(m)
}

/** One replication run: staging, bootstrap, timed cycles, readbacks. */
final class Replication(spark: SparkSession, cfg: JsonNode) {
  private val isDelta = cfg.get("format").asText == "delta"
  private val trace = cfg.get("trace").asBoolean
  private val replica = cfg.get("replica").asText
  private val checkpointEvery = cfg.get("checkpoint_every").asInt
  private val specs: Seq[TableSpec] = cfg.get("tables").elements().asScala.toSeq
    .map(t => TableSpec(t.get("name").asText,
      t.get("pk").elements().asScala.map(_.asText).toSeq))
  private val fk: Seq[(String, String)] = cfg.get("fk").elements().asScala.toSeq
    .map(e => e.get(0).asText -> e.get(1).asText)
  /** table -> (batch, path, bytes) */
  private val files: Map[String, Seq[(Int, String, Long)]] =
    cfg.get("files").fields().asScala.map { e =>
      e.getKey -> e.getValue.elements().asScala.toSeq.map(f =>
        (f.get("batch").asInt, f.get("path").asText, f.get("bytes").asLong))
    }.toMap
  /** timed cycles per run: a fixed number, so the work does not depend on
    * how fast the program is */
  private val cycleCount = cfg.get("cycles").asInt
  private val order = graft.cdc.TopoSort.order(specs.map(_.name), fk)
    .flatMap(n => specs.find(_.name == n))
  private def path(t: String) = s"$replica/$t"

  private val tracer = new Tracer(spark.sparkContext, trace)
  private val recorder = new Recorder
  import tracer.span

  /** The source a cycle reads: base rows plus change batches 1..k. */
  private def source(k: Int)(name: String): DataFrame =
    spark.read.parquet(files(name).filter(_._1 <= k).map(_._2): _*)

  /** Open every source table, all tables at once, and check its timestamps
    * read as `timestamp` (primary-key uniqueness is asserted by run.py
    * before the JVM starts). */
  private def stage(): Unit = specs.par.foreach { s =>
    val df = source(files(s.name).map(_._1).max)(s.name)
    df.schema.fields.filter(_.dataType.typeName.startsWith("timestamp")).foreach { f =>
      require(f.dataType == TimestampType,
        s"${s.name}.${f.name} reads as ${f.dataType.simpleString}, not timestamp")
    }
  }

  // ---- per-call counters, filled by the traced body ----
  private var deltaRows = 0L
  private var noopTables = 0
  private var noopSeconds = 0.0
  private var checkpoints = 0
  private var filesAdded = 0L
  private var filesRemoved = 0L
  private var liveBefore = 0L
  private val lastFiles = scala.collection.mutable.Map[String, Set[String]]()
  /** table -> (data files, equality-delete files) after its last traced commit */
  private val fileCounts = scala.collection.mutable.Map[String, (Int, Int)]()

  private def liveFiles(t: String): Set[String] =
    if (isDelta) {
      val fs = span("delta.state")(DeltaLog.state(spark, path(t))).files.map(_.path)
      fileCounts(t) = (fs.size, 0)
      fs.toSet
    } else {
      val st = span("iceberg.state")(IcebergCatalog.state(spark, path(t)))
      fileCounts(t) = (st.files.size, st.eqDeletes.size)
      st.files.map(_.path).toSet ++ st.eqDeletes.map(_._1.path) ++ st.posDeletes.map(_.path)
    }

  /** The body of `Pipeline.replicateDelta` / `replicateIceberg`, call for
    * call and in the same order, with one span per call. */
  private def tracedReplicate(k: Int, wm: Map[String, Timestamp]): RunReport =
    RunReport(order.map { spec => span(s"table.${spec.name}") {
      val t0 = System.nanoTime()
      try {
        val src = span("cdc.source")(source(k)(spec.name))
        val chg = Cdc.changeTs(col(spec.createdAt), col(spec.updatedAt))
        val (delta, head) = span("cdc.extract") {
          val d = Cdc.deltaSince(src, chg, wm.get(spec.name).map(ts => lit(ts)))
            .withColumn("__change_ts", chg)
          (d, d.agg(count(lit(1)).as("n"), max(col("__change_ts")).as("m")).head())
        }
        val n = head.getAs[Long]("n")
        deltaRows += n
        if (n == 0) {
          noopTables += 1
          noopSeconds += (System.nanoTime() - t0) / 1e9
          TableResult(spec.name, "no_changes", 0, wm.get(spec.name))
        } else {
          val staged = span("cdc.latestPerKey") {
            Cdc.latestPerKey(delta, spec.pk, Seq(col("__change_ts"))).drop("__change_ts")
          }
          val p = path(spec.name)
          val before = lastFiles.getOrElse(spec.name, Set.empty)
          if (isDelta) {
            val v =
              if (!Files.isDirectory(Paths.get(p, "_delta_log")))
                span("delta.create")(DeltaWrite.create(spark, p,
                  staged.filter(col(Cdc.IsDeleted) === "N"),
                  configuration = Map("delta.enableChangeDataFeed" -> "true")))
              else
                span("delta.merge")(DeltaWrite.merge(spark, p, staged, spec.pk,
                  insertFilter = Some(col(Cdc.IsDeleted) === "N")))
            if (checkpointEvery > 0 && v > 0 && v % checkpointEvery == 0) {
              span("delta.checkpoint")(DeltaLog.writeCheckpoint(spark, p))
              checkpoints += 1
            }
          } else {
            if (!Files.isDirectory(Paths.get(p, "metadata"))) span("iceberg.create") {
              IcebergCatalog.createTable(p, IcebergCatalog.icebergFields(staged.schema))
              IcebergCatalog.commitAppend(spark, p,
                staged.filter(col(Cdc.IsDeleted) === "N"), IcebergCatalog.nextSnapshotId(p))
            } else span("iceberg.merge") {
              IcebergCatalog.commitMerge(spark, p, staged, spec.pk,
                IcebergCatalog.nextSnapshotId(p),
                insertFilter = Some(col(Cdc.IsDeleted) === "N"))
            }
          }
          val after = liveFiles(spec.name)
          lastFiles(spec.name) = after
          liveBefore += before.size
          filesAdded += (after -- before).size
          filesRemoved += (before -- after).size
          TableResult(spec.name, "processed", n, Option(head.getAs[Timestamp]("m")))
        }
      } catch {
        case e: Exception =>
          TableResult(spec.name, "failed", 0, wm.get(spec.name), error = Some(e.getMessage))
      }
    }})

  private def advance(wm: Map[String, Timestamp], rep: RunReport): Map[String, Timestamp] =
    rep.results.foldLeft(wm) { (acc, r) =>
      r.newWatermark match {
        case Some(ts) if r.status == "processed" => acc + (r.table -> ts)
        case _ => acc
      }
    }

  private def replicate(k: Int, wm: Map[String, Timestamp], traced: Boolean)
      : (RunReport, Map[String, Timestamp]) =
    if (traced) { val r = tracedReplicate(k, wm); (r, advance(wm, r)) }
    else if (isDelta)
      Pipeline.replicateDelta(spark, specs, fk, source(k), replica, wm, checkpointEvery)
    else Pipeline.replicateIceberg(spark, specs, fk, source(k), replica, wm)

  private def read(t: String): DataFrame =
    if (isDelta) DeltaLog.read(spark, path(t)) else IcebergCatalog.read(spark, path(t))

  /** Order-independent row checksum that DuckDB reproduces exactly (see
    * perfbench/oracle.py): per row, 60 bits of md5 over the '|'-joined
    * columns in name order -- doubles as hundredths (the generated values
    * have two decimals), timestamps as epoch microseconds, null as \N --
    * summed as DECIMAL(38,0). */
  private def rowHash(df: DataFrame) = {
    val parts = df.schema.fields.sortBy(_.name).toSeq.map { f =>
      val c = col(f.name)
      coalesce(f.dataType match {
        case TimestampType => unix_micros(c).cast("string")
        case DoubleType | FloatType => round(c * 100).cast("long").cast("string")
        case _ => c.cast("string")
      }, lit("\\N"))
    }
    conv(substring(md5(concat_ws("|", parts: _*)), 1, 15), 16, 10).cast(DecimalType(38, 0))
  }

  /** Read every replica table back in full, ending in a row count and an
    * order-independent checksum per table. */
  private def readback(): Seq[(String, Long, String)] = specs.map { s =>
    span(s"readback.${s.name}") {
      val r = span(if (isDelta) "delta.read" else "iceberg.read") {
        val df = read(s.name)
        df.agg(count(lit(1)), sum(rowHash(df)).cast("string")).head()
      }
      (s.name, r.getLong(0), Option(r.getString(1)).getOrElse("0"))
    }
  }

  /** file -> (size, mtime) under the replica root */
  private def tree(): Map[String, (Long, Long)] = {
    val root = Paths.get(replica)
    if (!Files.exists(root)) Map.empty
    else {
      val w = Files.walk(root)
      try w.iterator().asScala.filter(Files.isRegularFile(_)).map { p =>
        root.relativize(p).toString ->
          (Files.size(p), Files.getLastModifiedTime(p).toMillis)
      }.toMap finally w.close()
    }
  }
  private def isMeta(rel: String) =
    rel.contains("/_delta_log/") || rel.contains("/metadata/")

  private def secs(t0: Long) = (System.nanoTime() - t0) / 1e9
  private def median(xs: Seq[Double]) = {
    val s = xs.sorted
    if (s.isEmpty) 0.0
    else if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  /** One pass over a gate tier -- `Bench.graphHeavy` or `Bench.dedupHeavy`
    * -- on the generated gate inputs, after the graph tier's shared inputs
    * are staged the way `graft.Bench` stages them. Each result is written
    * as parquet with the gate's oracle SQL, for scripts/check.py. */
  def gates(): Map[String, Any] = {
    val dir = cfg.get("gate_dir").asText
    val out = cfg.get("gate_out").asText
    val graph = cfg.get("gates").asText == "graph"
    val names = if (graph) graft.Bench.graphHeavy else graft.Bench.dedupHeavy
    val t0 = System.nanoTime()
    if (graph) span("gate.stage") {
      graft.QueriesR6.coPurchaseDir(spark, dir).count()
      graft.QueriesR6.coPurchaseWeightedDir(spark, dir).count()
      graft.QueriesR10.liPairStream(spark, dir).count()
    }
    val stageSecs = secs(t0)
    val t1 = System.nanoTime()
    val errors = span("gate.pass") {
      names.flatMap { q =>
        try {
          span(s"gate.$q")(graft.SparkEntry.queries(q)(spark, dir)
            .coalesce(1).write.mode("overwrite").parquet(s"$out/$q"))
          None
        } catch { case e: Exception => Some(q -> String.valueOf(e.getMessage)) }
      }
    }
    val passSecs = secs(t1)
    Files.createDirectories(Paths.get(out))
    Files.writeString(Paths.get(out, "oracle_sql.json"), Json.write(
      graft.SparkEntry.oracleSql.filter(e => names.contains(e._1))))
    val pass = tracer.spans.find(_.name == "gate.pass").get
    // both tiers are reported; the tier that did not run reads 0
    Map("gates_run" -> names, "gate_errors" -> errors.toMap, "gate_layer" -> (Map[String, Any](
      "gate.stage_s" -> stageSecs, "gate.pass_s" -> passSecs,
      "gate.span_coverage" -> tracer.children(pass.id).map(_.seconds).sum / pass.seconds) ++
      (graft.Bench.graphHeavy ++ graft.Bench.dedupHeavy).map(q => s"gate.${q}_s" ->
        tracer.spans.find(_.name == s"gate.$q").map(_.seconds).getOrElse(0.0))))
  }

  /** Every span recorded, with its self time. */
  def spans(): Map[String, Any] =
    if (!trace) Map.empty
    else Map("spans" -> tracer.spans.map(s => Map("id" -> s.id, "name" -> s.name,
      "parent" -> s.parent, "start_ms" -> s.startMs, "end_ms" -> s.endMs,
      "seconds" -> s.seconds, "self_s" -> tracer.selfSeconds(s))))

  private final case class Cycle(k: Int, traced: Boolean, seconds: Double, rows: Long,
                                 written: Long, metaWritten: Long, appliedBytes: Long,
                                 readbackSecs: Double, gcSecs: Double, spanId: Int)

  def run(): Map[String, Any] = {
    val ts = System.nanoTime()
    stage()
    val stageSecs = secs(ts)
    if (trace) spark.sparkContext.addSparkListener(recorder)
    // set-up ends here: run.py reports set-up start to this instant
    val bootstrapStartMs = System.currentTimeMillis()
    val tb = System.nanoTime()
    var (rep, wm) = span("bootstrap")(replicate(0, Map.empty, trace))
    val bootstrapSecs = secs(tb)
    val bootstrapBytes = tree().values.map(_._1).sum
    var results = rep.results

    // traced and untraced runs apply the same cycles, so their cycle times
    // compare directly
    val cycles = scala.collection.mutable.ArrayBuffer[Cycle]()
    var check: Seq[(String, Long, String)] = Seq.empty
    for (k <- 1 to cycleCount) {
      // the traced counters cover the cycle, not the bootstrap
      deltaRows = 0; noopTables = 0; noopSeconds = 0; checkpoints = 0
      filesAdded = 0; filesRemoved = 0; liveBefore = 0
      val before = tree()
      val gc0 = Jvm.gcSeconds()
      val t0 = System.nanoTime()
      val (r, w2) = span(s"cycle.$k")(replicate(k, wm, trace))
      val cycleSecs = secs(t0)
      val gcSecs = Jvm.gcSeconds() - gc0
      val cycleSpan = if (trace) tracer.spans.last.id else -1
      val after = tree()
      val changed = after.filter { case (p, v) => !before.get(p).contains(v) }
      wm = w2
      results ++= r.results
      val tr = System.nanoTime()
      check = span(s"readback.$k")(readback())
      val readSecs = secs(tr)
      cycles += Cycle(k, trace, cycleSecs, r.totalRows,
        changed.filter(e => !isMeta(e._1)).values.map(_._1).sum,
        changed.filter(e => isMeta(e._1)).values.map(_._1).sum,
        files.values.flatten.filter(_._1 == k).map(_._3).sum,
        readSecs, gcSecs, cycleSpan)
    }
    val finalBytes = tree().values.map(_._1).sum
    val timed = cycles.toSeq
    val base = Map[String, Any](
      "stage_s" -> stageSecs,
      "bootstrap_start_ms" -> bootstrapStartMs,
      "bootstrap_s" -> bootstrapSecs,
      "cycles" -> cycles.map(c => Map("k" -> c.k, "traced" -> c.traced,
        "seconds" -> c.seconds, "rows" -> c.rows, "data_bytes" -> c.written,
        "meta_bytes" -> c.metaWritten, "applied_bytes" -> c.appliedBytes,
        "readback_s" -> c.readbackSecs, "gc_s" -> c.gcSecs)),
      "cycle_p50_s" -> median(timed.map(_.seconds)),
      "readback_p50_s" -> median(timed.map(_.readbackSecs)),
      "changed_rows_per_s" -> timed.map(_.rows).sum / timed.map(_.seconds).sum,
      "write_amp" -> (timed.map(c => c.written + c.metaWritten).sum.toDouble /
        timed.map(_.appliedBytes).sum),
      "space_amp" -> finalBytes.toDouble / bootstrapBytes,
      "bootstrap_bytes" -> bootstrapBytes, "final_bytes" -> finalBytes,
      "cycles_applied" -> cycleCount,
      "results" -> results.map(r => Map("table" -> r.table, "status" -> r.status,
        "rows" -> r.rowsProcessed, "error" -> r.error)),
      "readback" -> check.map { case (t, n, h) => Map("table" -> t, "rows" -> n, "hash" -> h) })
    if (!trace) base
    else base ++ traceReport(cycles.last)
  }

  private def traceReport(c: Cycle): Map[String, Any] = {
    val cycleId = c.spanId
    val (tasks, jobs) = recorder.snapshot(spark.sparkContext)
    val cyc = tracer.spans.find(_.id == cycleId).get
    val inCycle = tracer.descendants(cycleId)
    val ids = inCycle.map(_.id).toSet
    val cTasks = tasks.filter(t => ids.contains(t.span))
    val cJobs = jobs.filter(j => ids.contains(j.span))
    def total(name: String) = inCycle.filter(_.name == name).map(_.seconds).sum
    val readId = tracer.spans.find(_.name == s"readback.${cyc.name.stripPrefix("cycle.")}")
      .map(_.id)
    val readSpans = readId.toSeq.flatMap(tracer.descendants)
    val extractIds = inCycle.filter(_.name == "cdc.extract").map(_.id).toSet
    val scanned = tasks.filter(t => extractIds.contains(t.span)).map(_.inRecords).sum
    // wall time inside the cycle with no task running
    val intervals = cTasks.map(t => (math.max(t.launchMs, cyc.startMs), math.min(t.finishMs, cyc.endMs)))
      .filter(i => i._2 > i._1).sortBy(_._1)
    var busyMs = 0L
    var curS = -1L
    var curE = -1L
    intervals.foreach { case (s, e) =>
      if (s > curE) { if (curE > curS) busyMs += curE - curS; curS = s; curE = e }
      else curE = math.max(curE, e)
    }
    if (curE > curS) busyMs += curE - curS
    val wall = cyc.seconds
    val cores = cfg.get("cores").asInt
    val calls = inCycle.filter(s => !s.name.startsWith("table.") && !s.name.startsWith("cycle."))
    val tableIds = inCycle.filter(_.name.startsWith("table.")).map(_.id).toSet
    val leafCover = calls.filter(s => tableIds.contains(s.parent)).map(_.seconds).sum
    val st = tracer.spans.find(_.name == "bootstrap").map(_.id).toSeq.flatMap(tracer.descendants)
    Map(
      "layer" -> Map(
        "cdc.extract_s" -> total("cdc.extract"),
        "cdc.source_rows_scanned" -> scanned,
        "cdc.delta_rows" -> deltaRows,
        "cdc.extract_hit_ratio" -> (if (scanned > 0) deltaRows.toDouble / scanned else 0.0),
        "cdc.noop_tables" -> noopTables,
        "cdc.noop_s" -> noopSeconds,
        "delta.merge_s" -> total("delta.merge"),
        "delta.create_s" -> st.filter(_.name == "delta.create").map(_.seconds).sum,
        "delta.state_s" -> total("delta.state"),
        "delta.checkpoint_s" -> total("delta.checkpoint"),
        "delta.checkpoints" -> checkpoints,
        "iceberg.merge_s" -> total("iceberg.merge"),
        "iceberg.create_s" -> st.filter(_.name == "iceberg.create").map(_.seconds).sum,
        "iceberg.state_s" -> total("iceberg.state"),
        "iceberg.read_s" -> readSpans.filter(_.name == "iceberg.read").map(_.seconds).sum,
        "delta.files_added" -> (if (isDelta) filesAdded else 0L),
        "delta.files_removed" -> (if (isDelta) filesRemoved else 0L),
        "delta.rewrite_ratio" ->
          (if (isDelta && liveBefore > 0) filesRemoved.toDouble / liveBefore else 0.0),
        "delta.bytes_written" -> (if (isDelta) c.written else 0L),
        "delta.log_bytes" -> (if (isDelta) c.metaWritten else 0L),
        "iceberg.eq_delete_files" -> (if (isDelta) 0 else fileCounts.values.map(_._2).sum),
        "iceberg.data_files" -> (if (isDelta) 0 else fileCounts.values.map(_._1).sum),
        "iceberg.bytes_written" -> (if (isDelta) 0L else c.written),
        "iceberg.metadata_bytes" -> (if (isDelta) 0L else c.metaWritten),
        "jvm.gc_s" -> c.gcSecs,
        "spark.jobs" -> cJobs.size,
        "spark.stages" -> cJobs.map(_.stages).sum,
        "spark.tasks" -> cTasks.size,
        "spark.task_s" -> cTasks.map(_.runMs).sum / 1e3,
        "spark.max_task_s" -> (if (cTasks.isEmpty) 0.0 else cTasks.map(_.runMs).max / 1e3),
        "spark.busy_frac" -> cTasks.map(_.runMs).sum / 1e3 / (wall * cores),
        "spark.idle_s" -> (wall - busyMs / 1e3),
        "spark.sched_wait_s" -> cTasks.map(_.schedMs).sum / 1e3,
        "spark.shuffle_write_bytes" -> cTasks.map(_.shuffleWrite).sum,
        "spark.input_bytes" -> cTasks.map(_.inBytes).sum,
        "spark.output_bytes" -> cTasks.map(_.outBytes).sum,
        "spark.gc_s" -> cTasks.map(_.gcMs).sum / 1e3,
        "trace.cycle_s" -> wall,
        "trace.span_coverage" -> leafCover / wall,
        "trace.cycle_self_s" -> tracer.selfSeconds(cyc),
        "trace.table_self_s" -> inCycle.filter(_.name.startsWith("table.")).map(tracer.selfSeconds).sum))
  }
}
