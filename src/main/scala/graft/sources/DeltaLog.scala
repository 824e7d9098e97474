package graft.sources

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DataType, StructType}

import DeltaActions._

/** F14: Delta Lake table reader — open-table-format interop from the
  * PUBLIC Delta transaction-log protocol (delta.io PROTOCOL.md: a table
  * is a directory of parquet data files plus `_delta_log/` holding
  * ordered JSON commit files `%020d.json`, optionally compacted into
  * `%020d.checkpoint.parquet` files). Lakehouse users arrive with Delta
  * tables (the r6 verdict's interop gap); this reads them with zero
  * extra dependencies. Every log line, read or written, goes through
  * one codec, [[DeltaActions]]: JSON commits decode on the driver (no
  * Spark job per commit, and a line that does not parse fails the
  * replay naming its version and line), and a checkpoint is one Spark
  * read of its parts whose rows decode through the same decoder.
  *
  * Protocol subset honored (the read path):
  *  - `metaData`: schemaString (Spark JSON schema) + partitionColumns;
  *    the LAST metaData wins (schema evolution).
  *  - `add`: data file path + partitionValues; `remove`: the path
  *    leaves the live set. Replay order = version order, then line
  *    order: a commit may remove a path and re-add it with a new
  *    deletion vector (PROTOCOL.md reconciles on (path, DV id)), and
  *    the re-add wins.
  *  - checkpoint: a parquet file of the same actions pre-folded;
  *    replay starts from the newest checkpoint ≤ the requested version
  *    and applies only later JSON commits (how real readers bound log
  *    replay). Its adds are the live set, so tombstones are not read.
  *  - `versionAsOf`: time travel by stopping the replay early.
  *
  * Scale shape: the log (file METADATA) is driver-side — bounded by
  * file count like the house manifest ([[graft.layout.FileManifest]],
  * stated bound ~10⁶ files), never by data size. Data reading is one
  * `spark.read.schema(...).parquet(files*)` per partition-value GROUP
  * (partition columns live in the log, not the files — they re-enter
  * as typed literals, Spark's own partitioned-read shape), so scans
  * stay parallel, pruned, and pushdown-capable; `partitionFilter`
  * drops file groups BEFORE any scan is planned — the log IS the
  * partition index.
  */
object DeltaLog {

  /** List a staging dir's parquet part files with the directory stream
    * CLOSED (an unclosed `Files.list`/`Files.walk` leaks a handle per
    * commit), recursing into partition subdirectories.
    */
  private[graft] def listParquet(dir: java.nio.file.Path): Seq[java.nio.file.Path] = {
    val st = Files.walk(dir)
    try st.iterator().asScala
      .filter(p => Files.isRegularFile(p) &&
        p.getFileName.toString.endsWith(".parquet"))
      .toSeq.sortBy(_.toString)
    finally st.close()
  }

  /** Remove a commit's staging directory once its parts have moved —
    * temp dirs must not accumulate across commits.
    */
  private[graft] def deleteTmp(dir: java.nio.file.Path): Unit = {
    val st = Files.walk(dir)
    val all = try st.iterator().asScala.toSeq finally st.close()
    all.sortBy(-_.getNameCount).foreach(Files.deleteIfExists(_))
  }

  /** The `add.stats` JSON of one new file: numRecords, plus
    * `minValues`/`maxValues` over `longCols` (non-null bounds only)
    * when `withBounds`; a file the stats scan did not see records 0.
    */
  private[sources] def statsJson(s: Option[LakeWriter.FileStats],
                                 longCols: Seq[String],
                                 withBounds: Boolean): String = s match {
    case None => """{"numRecords":0}"""
    case Some(fs) if !withBounds => s"""{"numRecords":${fs.numRecords}}"""
    case Some(fs) =>
      def kv(m: Map[String, Long]): String =
        longCols.flatMap(c => m.get(c).map(v => s""""$c":$v""")).mkString(",")
      s"""{"numRecords":${fs.numRecords},""" +
        s""""minValues":{${kv(fs.min)}},"maxValues":{${kv(fs.max)}}}"""
  }

  /** One live data file after log replay. `stats` is the raw `add.stats`
    * JSON (numRecords/minValues/maxValues) when the writer recorded it —
    * decoded lazily by [[filesInRange]] for min/max file skipping.
    */
  final case class LiveFile(path: String, partitionValues: Map[String, String],
                            stats: Option[String] = None,
                            deletionVector: Option[Dv] = None)

  /** Replayed table state at a version. `configuration` is the last
    * metaData action's table configuration (columnMapping mode lives
    * there); `minReaderVersion`/`readerFeatures` are the last protocol
    * action's reader requirements (validated in [[state]] — a reader
    * MUST refuse a table whose protocol it does not fully understand
    * rather than silently misread it). `metaDataId` is the last
    * metaData action's table id, which every rewrite of the metaData
    * keeps (PROTOCOL.md: the id is stable for the table's life).
    */
  final case class State(version: Long, schema: StructType,
                         partitionColumns: Seq[String], files: Seq[LiveFile],
                         configuration: Map[String, String] = Map.empty,
                         minReaderVersion: Int = 1,
                         readerFeatures: Seq[String] = Seq.empty,
                         minWriterVersion: Int = 1,
                         writerFeatures: Seq[String] = Seq.empty,
                         metaDataId: String = "") {
    def columnMappingMode: String =
      configuration.getOrElse("delta.columnMapping.mode", "none")
    private[sources] def metaData: MetaData =
      MetaData(metaDataId, schema.json, partitionColumns, configuration)
  }

  /** Reader features this subset actually implements — the allowlist the
    * protocol guard checks `readerFeatures` against. `v2Checkpoint` is
    * absent on purpose (this reader replays classic checkpoints only);
    * an unknown feature rejects LOUDLY instead of misreading.
    */
  private val SupportedReaderFeatures =
    Set("columnMapping", "deletionVectors", "timestampNtz")

  /** Writer features this subset's WRITERS honor — the allowlist
    * [[writerGuard]] checks `writerFeatures` against before any commit
    * (r12, closing the r11 gap: the READ side was guarded but the
    * engine could still corrupt a table whose writer contract it
    * ignores — e.g. `invariants` it wouldn't enforce or `rowTracking`
    * rows it wouldn't stamp). `changeDataFeed` is honored for real:
    * data-changing commits record their cdc actions ([[deleteWithDv]],
    * [[DeltaWrite.merge]]); `inCommitTimestamp` writes are stamped by
    * [[writeCommit]] (r13).
    */
  private val SupportedWriterFeatures =
    Set("columnMapping", "deletionVectors", "timestampNtz",
      "changeDataFeed", "inCommitTimestamp")

  /** The writer features a LEGACY protocol version (2..6) IMPLIES
    * without listing them — `writerFeatures` only exists at v7, but
    * the contract the versions carry is the same (PROTOCOL.md's
    * version-to-feature table). r13, closing the r12 advice gap: a
    * minWriterVersion=2 (append-only/invariants) table used to pass
    * the guard unexamined.
    */
  private val LegacyWriterFeatures: Seq[(Int, String)] = Seq(
    2 -> "appendOnly", 2 -> "invariants",
    3 -> "checkConstraints",
    4 -> "changeDataFeed", 4 -> "generatedColumns",
    5 -> "columnMapping",
    6 -> "identityColumns")

  /** Top-level keys of a Spark field-metadata blob (the Metadata class
    * exposes only point lookups; the feature-activation checks need a
    * prefix scan for `delta.identity.*`).
    */
  private def metadataKeys(m: org.apache.spark.sql.types.Metadata): Set[String] = {
    import org.json4s._
    import org.json4s.jackson.JsonMethods
    JsonMethods.parse(m.json) match {
      case JObject(fs) => fs.map(_._1).toSet
      case _ => Set.empty
    }
  }

  /** Does any field (at any nesting level) carry a metadata key
    * matching `pred`? Invariants / generated / identity columns all
    * announce themselves this way in the schemaString.
    */
  private def schemaHasMetaKey(dt: DataType, pred: String => Boolean): Boolean =
    dt match {
      case st: StructType => st.fields.exists(f =>
        metadataKeys(f.metadata).exists(pred) ||
          schemaHasMetaKey(f.dataType, pred))
      case org.apache.spark.sql.types.ArrayType(et, _) =>
        schemaHasMetaKey(et, pred)
      case org.apache.spark.sql.types.MapType(k, v, _) =>
        schemaHasMetaKey(k, pred) || schemaHasMetaKey(v, pred)
      case _ => false
    }

  /** Is a writer feature outside the allowlist actually ACTIVE on this
    * table — i.e. would a writer that ignores it corrupt something?
    * A v3 table with no CHECK constraints defined carries the
    * `checkConstraints` contract vacuously; refusing it would lock
    * this writer out of every legacy table for no protection.
    * `opDeletesData` feeds the appendOnly check: OPTIMIZE/checkpoint/
    * vacuum never delete rows, so appendOnly permits them.
    */
  private def featureActive(st: State, feature: String,
                            opDeletesData: Boolean): Boolean = feature match {
    case "appendOnly" =>
      opDeletesData &&
        st.configuration.getOrElse("delta.appendOnly", "false") == "true"
    case "invariants" =>
      schemaHasMetaKey(st.schema, _ == "delta.invariants")
    case "checkConstraints" =>
      st.configuration.keys.exists(_.startsWith("delta.constraints."))
    case "generatedColumns" =>
      schemaHasMetaKey(st.schema, _ == "delta.generationExpression")
    case "identityColumns" =>
      schemaHasMetaKey(st.schema, _.startsWith("delta.identity."))
    case _ => true // an unknown listed feature is always binding
  }

  /** The ops whose commits DELETE data rows — what `delta.appendOnly`
    * forbids (OPTIMIZE's dataChange=false rewrites and checkpoints are
    * allowed on append-only tables; row deletion is not).
    */
  private val DataDeletingOps = Set("deleteWithDv", "restore", "merge")

  /** Refuse to WRITE (commit/compact/DV-delete/restore/vacuum/
    * checkpoint/merge) a table whose writer requirements this subset
    * does not fully implement — the write-side twin of the reader's
    * protocol guard. Legacy versions 2..6 check their IMPLIED feature
    * sets through the same allowlist (r13); an implied-but-inactive
    * feature (no invariants defined, appendOnly unset) does not block,
    * because ignoring it cannot corrupt anything.
    */
  private[sources] def writerGuard(st: State, table: String, op: String): Unit = {
    require(st.minWriterVersion <= 7,
      s"delta protocol minWriterVersion=${st.minWriterVersion} exceeds 7 " +
        s"(the newest this writer implements); refusing to $op: $table")
    val declared =
      if (st.minWriterVersion >= 7) st.writerFeatures
      else LegacyWriterFeatures.collect {
        case (v, f) if st.minWriterVersion >= v => f
      }
    val deletes = DataDeletingOps.contains(op)
    val blocking = declared.filterNot(SupportedWriterFeatures.contains)
      .filter(featureActive(st, _, deletes))
    require(blocking.isEmpty,
      s"delta writer features ${blocking.mkString(",")} (minWriterVersion=" +
        s"${st.minWriterVersion}) not implemented by this writer " +
        s"(supported: ${SupportedWriterFeatures.toSeq.sorted.mkString(",")});" +
        s" a $op ignoring them could corrupt the table: $table")
    // the appendOnly CONFIG can be set on any protocol version (even
    // v1, where no feature carries it) — honoring it is free
    if (deletes)
      require(st.configuration.getOrElse("delta.appendOnly", "false") != "true",
        s"delta.appendOnly=true forbids $op (it deletes data rows): $table")
  }

  /** Replay the log to `versionAsOf` (or the latest commit).
    *
    * Checkpoint handling (r8, the reject-loudly posture of the Iceberg
    * reader): classic single-part (`V.checkpoint.parquet`) and
    * multi-part (`V.checkpoint.P.N.parquet`, all N parts required)
    * checkpoints are both replay starting points; `_last_checkpoint` is
    * honored as the newest-checkpoint hint when present and must point
    * at an existing checkpoint. After the starting point is chosen, the
    * JSON commit versions must be CONTIGUOUS up to the target version —
    * a retention-trimmed log whose checkpoint this subset failed to
    * recognize previously replayed from version 0 with holes and
    * silently returned an incomplete live set; now it throws.
    */
  def state(spark: SparkSession, table: String,
            versionAsOf: Option[Long] = None): State = {
    val dir = Paths.get(table, "_delta_log")
    require(Files.isDirectory(dir), s"not a delta table: $table")
    val entries = {
      val st = Files.list(dir)
      try st.iterator().asScala.map(_.getFileName.toString).toSeq.sorted
      finally st.close()
    }
    val commits = entries.filter(_.matches("\\d{20}\\.json")).map(_.take(20).toLong)
    val singleCkpts = entries.filter(_.matches("\\d{20}\\.checkpoint\\.parquet"))
      .map(n => n.take(20).toLong -> Seq(n))
    // multi-part: V.checkpoint.P.N.parquet — usable only when all N
    // parts are present (a partial copy must not half-replay)
    val multiCkpts = entries
      .filter(_.matches("\\d{20}\\.checkpoint\\.\\d{10}\\.\\d{10}\\.parquet"))
      .groupBy(_.take(20).toLong).toSeq
      .flatMap { case (v, parts) =>
        val n = parts.head.split('.')(3).toInt
        if (parts.size == n) Some(v -> parts.sorted)
        else throw new IllegalArgumentException(
          s"multi-part checkpoint $v has ${parts.size} of $n parts: $table")
      }
    val checkpoints = (singleCkpts ++ multiCkpts).sortBy(_._1)
    // _last_checkpoint (the driver-maintained pointer): when present it
    // must reference a recognizable checkpoint — if this subset cannot
    // see it, replay would silently start too early, so fail loudly.
    val lastCkptFile = dir.resolve("_last_checkpoint")
    if (Files.exists(lastCkptFile)) {
      val v = try readLastCheckpoint(Files.readString(lastCkptFile)) catch {
        case e: Exception => throw new IllegalArgumentException(
          s"unparseable _last_checkpoint: $table", e)
      }
      require(checkpoints.exists(_._1 == v),
        s"_last_checkpoint points at version $v but no usable checkpoint " +
          s"files exist for it: $table")
    }
    val upTo = versionAsOf.getOrElse(
      (commits ++ checkpoints.map(_._1)).maxOption.getOrElse(
        throw new IllegalArgumentException(s"empty delta log: $table")))
    // A table's state at a version is IMMUTABLE once committed (commit
    // jsons are write-once, the delta atomic-rename contract), so
    // replaying the same log prefix again in one process is pure
    // recompute — a checkpoint still costs a Spark read, and the CDF
    // streaming source replays the same prefixes every micro-batch.
    // Memoize by (table, version, log listing WITH per-file size+mtime,
    // _last_checkpoint content): any trim / new checkpoint / new commit
    // — or an in-place edit — changes the key, so the reject-loudly
    // validations re-run exactly when the log changed. The production
    // analogue is delta-io's own cached Snapshot.
    val memoKey = s"$table@$upTo#" + entries.map { n =>
      val p = dir.resolve(n)
      s"$n:${Files.size(p)}:${Files.getLastModifiedTime(p).toMillis}"
    }.mkString(",") + "#" +
      (if (Files.exists(lastCkptFile)) Files.readString(lastCkptFile) else "")
    val cached = stateMemo.get(memoKey)
    if (cached != null) return cached
    val live = collection.mutable.LinkedHashMap[String, LiveFile]()
    var meta = Option.empty[MetaData]
    var proto = Protocol(1, 1)
    def replay(actions: Seq[Action]): Unit = actions.foreach {
      case m: MetaData => meta = Some(m)
      case p: Protocol => proto = p
      case r: Remove => live.remove(r.path)
      case a: Add =>
        live.put(a.path, LiveFile(a.path, a.partitionValues, a.stats, a.deletionVector))
      case _ =>
    }
    val ckpt = checkpoints.filter(_._1 <= upTo).maxByOption(_._1)
    ckpt.foreach { case (_, parts) =>
      replay(readCheckpoint(spark, table, parts.map(dir.resolve)))
    }
    val fromV = ckpt.map(_._1 + 1).getOrElse(0L)
    val haveV = commits.toSet
    val missing = (fromV to upTo).filterNot(haveV.contains)
    require(missing.isEmpty,
      s"delta log not contiguous: versions ${missing.take(5).mkString(",")}" +
        s"${if (missing.size > 5) ",..." else ""} missing between " +
        s"checkpoint $fromV and $upTo (retention-trimmed log with an " +
        s"unrecognized checkpoint?): $table")
    (fromV to upTo).foreach(v => replay(readCommit(table, v)))
    val md = meta.getOrElse(
      throw new IllegalArgumentException(s"no metaData action in log: $table"))
    val config = md.configuration
    // PROTOCOL GUARD: refuse a table whose reader requirements this
    // subset does not fully implement — silently misreading a
    // column-mapped or feature-gated table is the one failure mode the
    // protocol action exists to prevent.
    val mrv = proto.minReaderVersion
    require(mrv <= 3,
      s"delta protocol minReaderVersion=$mrv exceeds 3 (the newest this " +
        s"reader implements): $table")
    val unknown = proto.readerFeatures.filterNot(SupportedReaderFeatures.contains)
    require(unknown.isEmpty,
      s"delta readerFeatures ${unknown.mkString(",")} not implemented by " +
        s"this reader (supported: ${SupportedReaderFeatures.toSeq.sorted.mkString(",")}): $table")
    val cmMode = config.getOrElse("delta.columnMapping.mode", "none")
    require(cmMode == "none" || cmMode == "name",
      s"delta.columnMapping.mode=$cmMode not supported (this reader " +
        s"implements none|name; id-mode needs parquet field-id matching): $table")
    val out = State(upTo, md.schema, md.partitionColumns, live.values.toSeq,
      config, mrv, proto.readerFeatures, proto.minWriterVersion,
      proto.writerFeatures, md.id)
    stateMemo.put(memoKey, out)
    out
  }

  /** See the memo note in [[state]] — keyed so any log mutation
    * invalidates; values are immutable State case instances.
    */
  private val stateMemo =
    new java.util.concurrent.ConcurrentHashMap[String, State]()

  /** PHYSICAL name of a schema field under columnMapping=name: the
    * `delta.columnMapping.physicalName` metadata key stamped at
    * rename-guarding time by the writer; a field without one keeps its
    * logical name (the pre-mapping columns of an upgraded table).
    */
  private[sources] def physicalName(f: org.apache.spark.sql.types.StructField): String =
    if (f.metadata.contains("delta.columnMapping.physicalName"))
      f.metadata.getString("delta.columnMapping.physicalName")
    else f.name

  /** The schema as WRITTEN in the parquet data files under
    * columnMapping=name: every field (at every nesting level) renamed
    * to its physical name; types unchanged.
    */
  private[sources] def physicalType(dt: DataType): DataType = dt match {
    case st: StructType => StructType(st.fields.map(f =>
      f.copy(name = physicalName(f), dataType = physicalType(f.dataType))))
    case org.apache.spark.sql.types.ArrayType(et, n) =>
      org.apache.spark.sql.types.ArrayType(physicalType(et), n)
    case org.apache.spark.sql.types.MapType(k, v, n) =>
      org.apache.spark.sql.types.MapType(physicalType(k), physicalType(v), n)
    case other => other
  }

  /** The live files surviving min/max range pruning on `add.stats` —
    * the house [[graft.layout.FileManifest]] box-intersection rule
    * sourced from the transaction log's own per-file statistics. Files
    * without stats (or without the ranged column in them) always
    * survive: no false negatives.
    */
  def filesInRange(files: Seq[LiveFile],
                   ranges: Map[String, (Long, Long)]): Seq[LiveFile] = {
    if (ranges.isEmpty) return files
    import org.json4s._
    import org.json4s.jackson.JsonMethods
    def bound(j: JValue): Option[Long] = j match {
      case JInt(v) => Some(v.toLong)
      case JLong(v) => Some(v)
      case JDouble(v) => Some(v.toLong)
      case JDecimal(v) => Some(v.toLong)
      case _ => None
    }
    files.filter { f =>
      f.stats.forall { raw =>
        val js = try JsonMethods.parse(raw) catch { case _: Exception => JNothing }
        ranges.forall { case (c, (lo, hi)) =>
          (bound(js \ "minValues" \ c), bound(js \ "maxValues" \ c)) match {
            case (Some(mn), Some(mx)) => mx >= lo && mn <= hi
            case _ => true
          }
        }
      }
    }
  }

  /** Read the live table (optionally at an old version / with partition
    * pruning). `partitionFilter` sees each live file's partition values
    * as strings — file groups it drops are never scanned; `ranges`
    * additionally skips files whose `add.stats` min/max box misses a
    * range predicate (the exact predicate re-applies as a residual).
    */
  def read(spark: SparkSession, table: String,
           versionAsOf: Option[Long] = None,
           partitionFilter: Map[String, String] => Boolean = _ => true,
           ranges: Map[String, (Long, Long)] = Map.empty)
      : DataFrame =
    readInternal(spark, table, state(spark, table, versionAsOf),
      partitionFilter, ranges, tagRel = false)

  /** [[read]] over an already-replayed state; `tagRel = true` keeps a
    * `__graft_rel` column holding each row's table-relative data-file
    * path (the `add.path` it came from) and a `__graft_pos` column
    * holding its parquet row index — what [[DeltaWrite.merge]] needs
    * to know WHICH files (and, on a DV table, which rows) a key match
    * touches. The tag is an expression over `_metadata.file_path` (the
    * DV filter's own anchoring rule), not a per-file scan — one plan
    * per partition group regardless of file count.
    */
  private[sources] def readInternal(spark: SparkSession, table: String,
                                    st: State,
                                    partitionFilter: Map[String, String] => Boolean,
                                    ranges: Map[String, (Long, Long)],
                                    tagRel: Boolean): DataFrame = {
    // columnMapping=name: data files store PHYSICAL names (from field
    // metadata), and add.partitionValues keys are physical too — scan
    // under the physical schema, then cast each column back to its
    // logical field (struct casts rename nested fields positionally).
    val mapped = st.columnMappingMode == "name"
    val dataFields = st.schema.fields
      .filterNot(f => st.partitionColumns.contains(f.name)).toSeq
    val dataSchema =
      if (mapped) StructType(dataFields.map(f =>
        f.copy(name = physicalName(f), dataType = physicalType(f.dataType))))
      else StructType(dataFields)
    val liveFiles = filesInRange(
      st.files.filter(f => partitionFilter(f.partitionValues)), ranges)
    val groups = liveFiles
      .groupBy(_.partitionValues).toSeq
      .sortBy(_._1.toSeq.sorted.mkString(","))
    val outSchema =
      if (!tagRel) st.schema
      else StructType(st.schema.fields ++ Seq(
        org.apache.spark.sql.types.StructField("__graft_rel",
          org.apache.spark.sql.types.StringType),
        org.apache.spark.sql.types.StructField("__graft_pos",
          org.apache.spark.sql.types.LongType)))
    if (groups.isEmpty)
      return spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], outSchema)
    // deletion vectors (F14c): when any live file carries one, tag rows
    // with their file + row index and drop the marked positions
    // ([[minusDvs]], the one DV apply step)
    val dvs = liveFiles.flatMap(f => f.deletionVector.map(f.path -> _))
    val needMeta = dvs.nonEmpty || tagRel
    val metaCols =
      if (needMeta) Seq(col("_metadata.file_path").as("__fp"),
        col("_metadata.row_index").as("__pos"))
      else Seq.empty
    val keep = st.schema.fieldNames.toSeq ++
      (if (needMeta) Seq("__fp", "__pos") else Nil)
    val parts = groups.map { case (pvals, files) =>
      val base0 = spark.read.schema(dataSchema)
        .parquet(files.map(f => Paths.get(table, f.path).toString): _*)
      val dataCols: Seq[org.apache.spark.sql.Column] =
        if (mapped) dataFields.map(f =>
          col(physicalName(f)).cast(f.dataType).as(f.name))
        else base0.columns.map(col).toSeq
      val base = base0.select(dataCols ++ metaCols: _*)
      st.partitionColumns.foldLeft(base) { (df, c0) =>
        val f = st.schema.fields.find(_.name == c0).getOrElse(
          throw new IllegalArgumentException(s"partition column $c0 not in schema"))
        val pvKey = if (mapped) physicalName(f) else c0
        df.withColumn(c0, lit(pvals.getOrElse(pvKey, null)).cast(f.dataType))
      }.select(keep.map(col): _*)
    }
    var df = minusDvs(spark, table, parts.reduce(_ unionByName _), dvs)
    if (tagRel)
      df = df.withColumn("__graft_rel", relOf(table))
        .withColumn("__graft_pos", col("__pos"))
    df = df.select(outSchema.fieldNames.map(col).toSeq: _*)
    val residual = ranges.map { case (c, (lo, hi)) =>
      col(c) >= lo && col(c) <= hi
    }.reduceOption(_ && _).getOrElse(lit(true))
    df.filter(residual)
  }

  /** A tagged row's table-relative data-file path: the tail of its
    * `__fp` (`_metadata.file_path`) under the table directory (the
    * Iceberg relocation-safe anchoring rule) — shared by the DV apply
    * step and [[DeltaWrite.merge]]'s `__graft_rel` tag.
    */
  private def relOf(table: String): Column = {
    val anchor = Paths.get(table).toAbsolutePath.getFileName.toString
    substring_index(col("__fp"), "/" + anchor + "/", -1)
  }

  /** The one DV APPLY step: drop from `df` — rows tagged with `__fp`
    * (`_metadata.file_path`) and `__pos` (parquet row index) — every
    * position the deletion vectors `dvs` ((table-relative path,
    * descriptor) per file) mark. It dispatches like the wave twins, on
    * Σ descriptor `cardinality` against [[graft.operators.Wave.rowCap]],
    * so deciding decodes nothing. At or below the cap the driver
    * decodes every DV and the scan filters in place, each marked file
    * keeping the rows whose index is not in its set. Above it the DVs
    * decode in executors (one task per DV-bearing file) and apply as a
    * (file, row index) anti-join, the Iceberg positional-delete shape,
    * with only the descriptors on the driver.
    */
  private def minusDvs(spark: SparkSession, table: String, df: DataFrame,
                       dvs: Seq[(String, Dv)]): DataFrame = {
    if (dvs.isEmpty) return df
    val rel = relOf(table)
    val marked = dvs.map { case (_, d) => BigInt(d.cardinality) }.sum
    if (marked <= graft.operators.Wave.rowCap(spark)) {
      val keep = dvs.map { case (path, d) => path -> decodeDvPositions(table, d) }
        .filter(_._2.nonEmpty)
        .foldLeft(Option.empty[Column]) { case (acc, (path, pos)) =>
          val live = !col("__pos").isInCollection(pos.toSeq)
          Some(acc.fold(when(rel === path, live))(_.when(rel === path, live)))
        }
      keep.fold(df)(k => df.filter(k.otherwise(true)))
    } else {
      import spark.implicits._
      val positions = spark.createDataset(dvs)
        .repartition(dvs.size)
        .flatMap { case (path, d) =>
          decodeDvPositions(table, d).map(pos => (path, pos))
        }.toDF("__dvp", "__dvpos")
      df.join(positions,
        rel === col("__dvp") && col("__pos") === col("__dvpos"), "left_anti")
    }
  }

  /** Positions of one `deletionVector` descriptor: `u` (z85 UUID →
    * `deletion_vector_<uuid>.bin` under the table root, an optional
    * random prefix honored), `p` (absolute path), `i` (inline).
    */
  private[sources] def decodeDvPositions(table: String, dv: Dv): Array[Long] =
    dv.storageType match {
      case "i" =>
        val data = DeletionVectors.z85Decode(dv.pathOrInlineDv)
        require(data.length >= dv.sizeInBytes, s"inline DV shorter than sizeInBytes")
        DeletionVectors.decodeData(java.util.Arrays.copyOf(data, dv.sizeInBytes))
      case "u" | "p" =>
        val bytes = Files.readAllBytes(dvBinPath(table, dv).get)
        DeletionVectors.decodeAt(bytes, dv.offset.getOrElse(1), dv.sizeInBytes)
      case other =>
        throw new IllegalArgumentException(s"deletionVector storageType '$other' unsupported")
    }

  /** Write a classic single-part CHECKPOINT of the CURRENT state (r10
    * — the write half of the r8 checkpoint reader): one
    * `V.checkpoint.parquet` holding the metaData row plus one `add`
    * row per live file (partitionValues as a map, stats and
    * deletionVector descriptors carried through), and
    * `_last_checkpoint` updated to point at it. After this, JSON
    * commits ≤ V can be retention-trimmed and the log still replays —
    * the reason checkpoints exist; the round-trip gate deletes them
    * to prove it. Returns the checkpointed version.
    *
    * Scale shape: the checkpoint is one row per live FILE (not per
    * data row) — the same driver-held state the log replay already
    * materializes.
    */
  def writeCheckpoint(spark: SparkSession, table: String): Long =
    writeCheckpoint(spark, table, parts = 1)

  /** Multi-part form (r10): the state's rows split round-robin over
    * `parts` files named `V.checkpoint.P.N.parquet` — how large tables
    * checkpoint so no single file carries millions of add rows; the
    * reader requires ALL N parts present (its r8 contract). Part 1
    * carries the metaData row.
    */
  def writeCheckpoint(spark: SparkSession, table: String, parts: Int): Long = {
    require(parts >= 1, s"parts must be >= 1, got $parts")
    import org.apache.spark.sql.Row
    val st = state(spark, table)
    writerGuard(st, table, "checkpoint")
    val md = st.metaData
    // the checkpoint must carry the FULL protocol action — dropping the
    // writer half would let a post-checkpoint replay under-guard writes
    val protoRow: Option[Row] =
      if (st.minReaderVersion > 1 || st.readerFeatures.nonEmpty ||
          st.minWriterVersion > 1 || st.writerFeatures.nonEmpty)
        Some(Row(null, Row(st.minReaderVersion,
          if (st.readerFeatures.isEmpty) null else st.readerFeatures,
          st.minWriterVersion,
          if (st.writerFeatures.isEmpty) null else st.writerFeatures), null))
      else None
    val rows =
      (Row(Row(md.id, md.schemaString, md.partitionColumns, md.configuration),
        null, null) +: protoRow.toSeq) ++
        st.files.map(f => Row(null, null,
          Row(f.path, f.partitionValues, true, f.stats.orNull,
            f.deletionVector.map(d => Row(d.storageType, d.pathOrInlineDv,
              d.offset.map(o => o.toLong: Any).orNull, d.sizeInBytes.toLong, d.cardinality)).orNull)))
    def writeOne(slice: Seq[Row], target: java.nio.file.Path): Unit =
      LakeWriter.writeParquetFile(spark.createDataFrame(
        spark.sparkContext.parallelize(slice, 1), CheckpointSchema), target,
        replace = true)
    val logDir = Paths.get(table, "_delta_log")
    if (parts == 1)
      writeOne(rows, logDir.resolve(f"${st.version}%020d.checkpoint.parquet"))
    else
      (1 to parts).foreach { p =>
        // round-robin: part p (1-based) takes rows p-1, p-1+parts, ...
        writeOne(rows.zipWithIndex.collect {
          case (r, i) if i % parts == p - 1 => r
        }, logDir.resolve(
          f"${st.version}%020d.checkpoint.$p%010d.$parts%010d.parquet"))
      }
    LakeWriter.replaceAtomic(logDir.resolve("_last_checkpoint"),
      LastCheckpoint(st.version, rows.size, Some(parts).filter(_ > 1)).json)
    st.version
  }

  /** OPTIMIZE — bin-packing compaction (r10b): rewrite every partition
    * group holding more than one live file OR any deletion vector into
    * fresh compacted file(s); DVs FOLD INTO the rewrite (dead rows
    * materialize away, the descriptor disappears), and the whole table
    * compacts in ONE atomic commit of paired remove+add actions with
    * `dataChange: false` — the OPTIMIZE contract (downstream CDC/
    * streaming consumers know no data changed). New files carry
    * numRecords + long-column min/max in `add.stats`, so
    * [[filesInRange]] skipping keeps working after the rewrite;
    * `maxRecordsPerFile > 0` bin-packs a large group into several
    * files. Untouched groups stay byte-identical, and time travel to
    * the pre-compaction version still sees the old layout. Returns the
    * new version.
    *
    * Scale shape: one distributed read+write per partition group (the
    * group's files scan in parallel, DVs apply through [[minusDvs]]);
    * the commit itself is file METADATA, driver-side like every log
    * operation.
    */
  def compact(spark: SparkSession, table: String,
              maxRecordsPerFile: Long = 0L): Long = {
    import org.apache.spark.sql.types.{LongType, StructType => SType}
    val st = state(spark, table)
    writerGuard(st, table, "compact")
    // columnMapping=name WRITE path (r12): data files — the ones read
    // AND the ones written — live under PHYSICAL names at every
    // nesting level; partitionValues keys are already physical in the
    // replayed state (the spec stores them physically), so grouping
    // and the emitted add actions carry them through unchanged.
    val mapped = st.columnMappingMode == "name"
    val dataFields =
      st.schema.fields.filterNot(f => st.partitionColumns.contains(f.name))
    val dataSchema =
      if (mapped) SType(dataFields.map(f =>
        f.copy(name = physicalName(f), dataType = physicalType(f.dataType))))
      else SType(dataFields)
    val groups = st.files.groupBy(_.partitionValues).toSeq
      .sortBy(_._1.toSeq.sorted.mkString(","))
      .filter { case (_, fs) =>
        fs.size > 1 || fs.exists(_.deletionVector.isDefined)
      }
    require(groups.nonEmpty,
      "nothing to compact: every partition group is a single DV-free file")
    val next = st.version + 1
    val removes = Seq.newBuilder[Action]
    val newRels = Seq.newBuilder[(String, Map[String, String])]
    groups.zipWithIndex.foreach { case ((pvals, files), gi) =>
      val base0 = spark.read.schema(dataSchema)
        .parquet(files.map(f => Paths.get(table, f.path).toString): _*)
      val dvs = files.flatMap(f => f.deletionVector.map(f.path -> _))
      val df =
        if (dvs.isEmpty) base0
        else minusDvs(spark, table, base0.select(base0.columns.map(col).toSeq :+
            col("_metadata.file_path").as("__fp") :+
            col("_metadata.row_index").as("__pos"): _*), dvs)
          .select(dataSchema.fieldNames.map(col).toSeq: _*)
      newRels ++= LakeWriter.writeParquet(df.coalesce(1),
        maxRecordsPerFile = maxRecordsPerFile)(
        (_, k) => Paths.get(table, s"compact-$next-$gi-$k.parquet"))
        .map { case (p, _) => (p.getFileName.toString, pvals) }
      files.foreach(f => removes += Remove(f.path, dataChange = false))
    }
    // per-new-file stats (numRecords + long min/max) in ONE grouped scan
    val rels = newRels.result()
    val longCols = dataSchema.fields
      .filter(_.dataType == LongType).map(_.name).toSeq
    val stats = LakeWriter.fileStats(spark,
      rels.map(r => Paths.get(table, r._1).toString), longCols, Some(dataSchema))
    val adds = rels.map { case (rel, pvals) =>
      Add(rel, pvals, dataChange = false,
        Some(statsJson(stats.get(rel), longCols, withBounds = true)))
    }
    writeCommit(table, st, next, (removes.result() ++ adds).map(_.json))
    next
  }

  /** VACUUM (r11, F14h — the maintenance half of the Delta write
    * story, the sibling of Iceberg's expireSnapshots): physically
    * delete data files and DV files referenced by NO version in the
    * retained window [current − retainLast + 1, current] — the
    * superseded pre-OPTIMIZE / pre-replace files time travel was
    * holding hostage. Reference counting replays each retained
    * version's state (metadata-sized by contract); a file any retained
    * version can read survives, as does every referenced
    * `deletion_vector_*.bin`. Time travel below the window becomes
    * unreadable — exactly the real VACUUM contract. Returns
    * (retained version floor, deleted file count).
    */
  def vacuum(spark: SparkSession, table: String,
             retainLast: Int): (Long, Int) = {
    require(retainLast >= 1, s"retainLast must be >= 1, got $retainLast")
    val curState = state(spark, table)
    writerGuard(curState, table, "vacuum")
    val cur = curState.version
    // a checkpoint-trimmed log cannot replay versions below its newest
    // checkpoint — those versions are already unreadable, so the
    // retention window floors at the oldest REPLAYABLE version
    val replayFloor = {
      val dir = Paths.get(table, "_delta_log")
      val entries = {
        val st = Files.list(dir)
        try st.iterator().asScala.map(_.getFileName.toString).toSeq
        finally st.close()
      }
      val commitVs = entries.filter(_.matches("\\d{20}\\.json"))
        .map(_.take(20).toLong).toSet
      val ckptVs = entries
        .filter(n => n.matches("\\d{20}\\.checkpoint\\.parquet") ||
          n.matches("\\d{20}\\.checkpoint\\.\\d{10}\\.\\d{10}\\.parquet"))
        .map(_.take(20).toLong)
      // v replays iff a checkpoint ≤ v exists with contiguous commits
      // after it (or commits are contiguous from 0) — state()'s rule
      def replayable(v: Long): Boolean =
        ckptVs.filter(_ <= v).maxOption match {
          case Some(c) => ((c + 1) to v).forall(commitVs.contains)
          case None => (0L to v).forall(commitVs.contains)
        }
      (0L to cur).find(replayable).getOrElse(cur)
    }
    val fromV = math.max(replayFloor, cur - retainLast + 1)
    val referenced = (fromV to cur).flatMap { v =>
      val st = state(spark, table, Some(v))
      st.files.flatMap { f =>
        // 'u'-storage resolves table-relative; 'p' (absolute) can still
        // land under the table root — a retained version READS it
        // (decodeDvPositions supports 'p'), so it must survive vacuum
        val dvFiles = f.deletionVector.toSeq.flatMap(dvBinPath(table, _))
        Paths.get(table, f.path).toAbsolutePath.normalize +: dvFiles
      }
    } .toSet ++
      // `_change_data` files of RETAINED commits stay (F14n): a CDF read
      // over the retained window replays them; below-window commits are
      // unreadable anyway, so their cdc files are fair game. A retained
      // version whose json was checkpoint-trimmed has no cdc to keep.
      (fromV to cur)
        .filter(v => Files.exists(commitFile(table, v)))
        .flatMap(v => readCommit(table, v).collect {
          case c: Cdc => Paths.get(table, c.path).toAbsolutePath.normalize
        })
    val root = Paths.get(table).toAbsolutePath.normalize
    val walk = Files.walk(root)
    val all = try walk.iterator().asScala
      .filter(p => Files.isRegularFile(p) &&
        !p.startsWith(root.resolve("_delta_log")) &&
        (p.getFileName.toString.endsWith(".parquet") ||
          p.getFileName.toString.startsWith("deletion_vector_")))
      .toSeq
    finally walk.close()
    var deleted = 0
    all.filterNot(p => referenced.contains(p.normalize))
      .sortBy(_.toString).foreach { p =>
        if (Files.deleteIfExists(p)) deleted += 1
      }
    (fromV, deleted)
  }

  /** Row-level CHANGES between two versions (r11, F14i — the change
    * feed every downstream CDC consumer wants from a lake table):
    * `_change_type = insert` rows are in `toV` but not `fromV`,
    * `delete` rows the reverse — multiset semantics via exceptAll, so
    * duplicate rows count correctly; an UPDATE surfaces as its
    * delete + insert pair (full-row CDF; the reference's key-based
    * merge consumes exactly this shape). Distributed set difference —
    * two snapshot scans and two anti-semijoins, never a driver diff.
    * Schema drift between the versions rejects loudly (full-row diff
    * needs one row shape).
    */
  def tableChanges(spark: SparkSession, table: String,
                   fromV: Long, toV: Long): DataFrame = {
    require(fromV < toV, s"tableChanges wants fromV < toV, got $fromV..$toV")
    val before = read(spark, table, Some(fromV))
    val after = read(spark, table, Some(toV))
    require(before.schema.fieldNames.sameElements(after.schema.fieldNames),
      s"schema changed between v$fromV and v$toV " +
        s"(${before.schema.fieldNames.mkString(",")} vs " +
        s"${after.schema.fieldNames.mkString(",")}): full-row diff needs " +
        "one row shape")
    after.exceptAll(before).withColumn("_change_type", lit("insert"))
      .unionByName(
        before.exceptAll(after).withColumn("_change_type", lit("delete")))
  }

  /** RESTORE the table to an old version (r11, F14j — the undo button:
    * a bad write rolls back WITHOUT rewriting history): one new commit
    * whose removes drop every live file the target version does not
    * hold and whose adds re-instate the target's files (partition
    * values, stats, and DV descriptors carried through verbatim), so
    * time travel still sees the bad interval while the head state is
    * the old one — exactly Delta's own RESTORE semantics. Requires
    * every re-added file to still exist (a vacuumed target rejects
    * loudly). Returns the new version.
    */
  /** Is the inCommitTimestamp feature ON for this state (the config
    * key the protocol gates behind the v7 `inCommitTimestamp` writer
    * feature)?
    */
  private[sources] def ictEnabled(st: State): Boolean =
    st.configuration.getOrElse(
      "delta.enableInCommitTimestamps", "false") == "true"

  /** The `commitInfo.inCommitTimestamp` of commit `v`, if the commit
    * recorded one — one decoded json commit (metadata-sized); None for
    * legacy commits and trimmed logs.
    */
  private[graft] def ictOf(table: String, v: Long): Option[Long] =
    if (!Files.exists(commitFile(table, v))) None
    else readCommit(table, v).collectFirst { case CommitInfo(Some(ts)) => ts }

  /** Write commit `next`'s json from its encoded action lines, stamping a `commitInfo` action with
    * `inCommitTimestamp` when the feature is enabled (r13, task 4:
    * mtimes don't survive log copy/restore; the in-commit form is the
    * durable one). The stamp is forced monotonic past the previous
    * commit's — the protocol's own clock-skew rule. `nowMs < 0` uses
    * the wall clock (the normal path); fixtures pass a pinned instant.
    */
  private[sources] def writeCommit(table: String, st: State, next: Long,
                                   lines: Seq[String],
                                   nowMs: Long = -1L): Unit = {
    val all =
      if (!ictEnabled(st)) lines
      else {
        val prev = if (next == 0L) None else ictOf(table, next - 1)
        val base = if (nowMs >= 0) nowMs else System.currentTimeMillis()
        val ts = math.max(base, prev.map(_ + 1).getOrElse(Long.MinValue))
        CommitInfo(Some(ts)).json +: lines
      }
    LakeWriter.publishNew(commitFile(table, next), all.mkString("\n"))
  }

  /** TIME TRAVEL BY TIMESTAMP (r12, the r11 verdict's #3 gap: "users
    * ask for 'the table as of yesterday', not 'version 47'"): resolve
    * a wall-clock instant to the LAST commit at or before it. Commit
    * time = the commit's `commitInfo.inCommitTimestamp` when recorded
    * (r13 — the durable form: it survives log copy/restore, which
    * mtimes do not), else the log file's modification time (the
    * classic resolution for legacy commits — a MIXED log resolves
    * per-commit); both adjusted to be monotonic in version order
    * exactly as the reference implementation does (a clock-skewed
    * later commit inherits its predecessor's time). Rejects an
    * instant before the first commit — there is no table to read
    * there.
    */
  def versionAtTimestamp(table: String, tsMillis: Long): Long = {
    val dir = Paths.get(table, "_delta_log")
    require(Files.isDirectory(dir), s"not a delta table: $table")
    val commits = {
      val st = Files.list(dir)
      try st.iterator().asScala
        .filter(_.getFileName.toString.matches("\\d{20}\\.json"))
        .map { p =>
          val v = p.getFileName.toString.take(20).toLong
          (v, ictOf(table, v).getOrElse(
            Files.getLastModifiedTime(p).toMillis))
        }
        .toSeq.sortBy(_._1)
      finally st.close()
    }
    require(commits.nonEmpty, s"no commits in delta log: $table")
    var runningMax = Long.MinValue
    val adjusted = commits.map { case (v, t) =>
      runningMax = math.max(runningMax, t); (v, runningMax)
    }
    require(adjusted.head._2 <= tsMillis,
      s"timestampAsOf $tsMillis is before the first commit " +
        s"(${adjusted.head._2}): $table")
    adjusted.takeWhile(_._2 <= tsMillis).last._1
  }

  /** [[read]] pinned to the snapshot a wall-clock instant saw —
    * `timestampAsOf` resolved through [[versionAtTimestamp]].
    */
  def readAsOfTimestamp(spark: SparkSession, table: String,
                        tsMillis: Long): DataFrame =
    read(spark, table, versionAsOf = Some(versionAtTimestamp(table, tsMillis)))

  /** Resolve a DV descriptor's on-disk `.bin` path (absolute,
    * normalized): 'u' storage is table-relative (optional prefix +
    * z85 uuid), 'p' is an absolute path; inline ('i') has no file.
    * Used by [[decodeDvPositions]], [[vacuum]]'s referenced set and
    * [[restore]]'s exists-before-re-add check so all agree on
    * resolution.
    */
  private[sources] def dvBinPath(table: String, dv: Dv): Option[java.nio.file.Path] =
    dv.storageType match {
      case "u" =>
        val (prefix, uuidPart) = dv.pathOrInlineDv.splitAt(dv.pathOrInlineDv.length - 20)
        val uuid = DeletionVectors.z85Uuid(uuidPart)
        val rel = (if (prefix.nonEmpty) prefix.stripSuffix("/") + "/" else "") +
          s"deletion_vector_$uuid.bin"
        Some(Paths.get(table, rel).toAbsolutePath.normalize)
      case "p" => Some(Paths.get(dv.pathOrInlineDv).toAbsolutePath.normalize)
      case _ => None // inline: nothing on disk
    }

  def restore(spark: SparkSession, table: String, toVersion: Long): Long = {
    val cur = state(spark, table)
    writerGuard(cur, table, "restore")
    require(toVersion < cur.version,
      s"restore target v$toVersion is not below current v${cur.version}")
    val tgt = state(spark, table, Some(toVersion))
    require(tgt.schema == cur.schema,
      s"schema changed since v$toVersion: restore across schema " +
        "evolution is not in the stated subset")
    val curByPath = cur.files.map(f => f.path -> f).toMap
    val tgtByPath = tgt.files.map(f => f.path -> f).toMap
    val removes = cur.files.filterNot(f => tgtByPath.get(f.path).contains(f))
    val adds = tgt.files.filterNot(f => curByPath.get(f.path).contains(f))
    require(removes.nonEmpty || adds.nonEmpty,
      s"restore to v$toVersion is a no-op: states identical")
    adds.foreach { f =>
      require(Files.exists(Paths.get(table, f.path)),
        s"cannot restore v$toVersion: ${f.path} no longer exists (vacuumed?)")
      // a re-added descriptor may carry a DV — the .bin must also have
      // survived vacuum, else the restore succeeds and the READ fails
      f.deletionVector.flatMap(dvBinPath(table, _)).foreach(dv =>
        require(Files.exists(dv),
          s"cannot restore v$toVersion: DV $dv no longer exists (vacuumed?)"))
    }
    val next = cur.version + 1
    writeCommit(table, cur, next,
      (removes.map(f => Remove(f.path, dataChange = true)) ++ adds.map(f =>
        Add(f.path, f.partitionValues, dataChange = true, f.stats, f.deletionVector)))
        .map(_.json))
    next
  }

  /** [[tableChanges]] with per-VERSION attribution (r11): one
    * delete/insert diff per commit step in (fromV, toV], each row
    * stamped with the `_commit_version` that produced it — the full
    * CDF shape (a consumer replaying history needs to know WHICH
    * commit changed a row, not just the endpoint diff). Version count
    * bounds the scan count; each step is the same distributed
    * exceptAll pair.
    */
  def tableChangesByVersion(spark: SparkSession, table: String,
                            fromV: Long, toV: Long): DataFrame = {
    require(fromV < toV, s"tableChangesByVersion wants fromV < toV, got $fromV..$toV")
    (fromV until toV).map { v =>
      tableChanges(spark, table, v, v + 1)
        .withColumn("_commit_version", lit(v + 1))
    }.reduce(_ unionByName _)
  }

  /** F14n (r12): the RECORDED change feed — per-commit changes exactly
    * as the Delta CDF contract defines them. A commit with `cdc`
    * actions reads its `_change_data` files verbatim (this is where
    * UPDATE pre/post images live — `update_preimage`/
    * `update_postimage`, which no snapshot diff can reconstruct); a
    * commit WITHOUT cdc actions derives per the spec's allowed
    * omissions: add-only commits are pure inserts of the added files,
    * remove-only commits pure deletes of the removed files' LIVE rows
    * (the prior version's deletion vector applied — already-deleted
    * rows are not deleted again); a mixed commit without cdc cannot be
    * derived exactly and rejects loudly. `fromV = -1` starts at the
    * first commit (version 0's inserts included); the range is
    * otherwise (fromV, toV] like [[tableChangesByVersion]], with
    * `_commit_version` stamped per row.
    */
  def tableChangesCdf(spark: SparkSession, table: String,
                      fromV: Long, toV: Long): DataFrame = {
    import org.apache.spark.sql.types.{StringType, StructField, StructType => SType}
    require(fromV >= -1 && fromV < toV,
      s"tableChangesCdf wants -1 <= fromV < toV, got $fromV..$toV")
    val st = state(spark, table, Some(toV))
    // columnMapping=name (r14): `_change_data` and data files store
    // PHYSICAL names and physical partitionValues keys — read under
    // the physical schema, alias each column back to its logical name
    val mapped = st.columnMappingMode == "name"
    // the recorded feed is only complete when the WRITERS were
    // recording — real Delta errors on a CDF read over a range where
    // delta.enableChangeDataFeed was off, and so does this (r13; the
    // check is against the range-end state, the stated subset)
    require(st.configuration.getOrElse(
        "delta.enableChangeDataFeed", "false") == "true",
      s"delta.enableChangeDataFeed is not set on $table: the recorded " +
        "change feed would be silently incomplete (use tableChanges/" +
        "tableChangesByVersion for the snapshot diff)")
    val dataFieldsLogical = st.schema.fields
      .filterNot(f => st.partitionColumns.contains(f.name)).toSeq
    val dataSchema =
      if (mapped) SType(dataFieldsLogical.map(f =>
        f.copy(name = physicalName(f), dataType = physicalType(f.dataType))))
      else SType(dataFieldsLogical)
    val cdcSchema = SType(dataSchema.fields :+
      StructField("_change_type", StringType, nullable = false))
    // physical→logical rename after a physical-schema read; `extra`
    // columns (_change_type, __pos) pass through untouched
    def toLogical(df: DataFrame, extra: Seq[String]): DataFrame =
      if (!mapped) df
      else df.select(dataFieldsLogical.map(f =>
        col(physicalName(f)).cast(f.dataType).as(f.name)) ++
        extra.map(col): _*)
    def attachPv(df: DataFrame, pv: Map[String, String]): DataFrame =
      st.partitionColumns.foldLeft(df) { (d, c) =>
        val f = st.schema.fields.find(_.name == c).getOrElse(
          throw new IllegalArgumentException(s"partition column $c not in schema"))
        val pvKey = if (mapped) physicalName(f) else c
        d.withColumn(c, lit(pv.get(pvKey).orNull).cast(f.dataType))
      }
    def ordered(df: DataFrame): DataFrame =
      df.select((st.schema.fieldNames.toSeq :+ "_change_type").map(col): _*)
    def minusDv(df: DataFrame, path: String, dv: Option[Dv]): DataFrame =
      minusDvs(spark, table, df, dv.map(path -> _).toSeq).drop("__fp", "__pos")
    val perVersion = (math.max(fromV + 1, 0L) to toV).flatMap { v =>
      val acts = readCommit(table, v)
      val cdc = acts.collect { case c: Cdc => c }
      val adds = acts.collect { case a: Add if a.dataChange => a }
      val removes = acts.collect { case r: Remove if r.dataChange => r }
      val changes: Option[DataFrame] =
        if (cdc.nonEmpty) Some(cdc.map { a =>
          val df = spark.read.schema(cdcSchema)
            .parquet(Paths.get(table, a.path).toString)
          ordered(attachPv(toLogical(df, Seq("_change_type")), a.partitionValues))
        }.reduce(_ unionAll _))
        else if (adds.nonEmpty && removes.isEmpty) {
          require(adds.forall(_.deletionVector.isEmpty),
            s"add-only commit v$v carries a deletion vector: the CDF " +
              s"derivation for that shape is not in the stated subset: $table")
          Some(adds.map { a =>
            val df = spark.read.schema(dataSchema)
              .parquet(Paths.get(table, a.path).toString)
            ordered(attachPv(toLogical(df, Nil), a.partitionValues)
              .withColumn("_change_type", lit("insert")))
          }.reduce(_ unionAll _))
        } else if (removes.nonEmpty && adds.isEmpty) {
          val prior = state(spark, table, Some(v - 1))
          Some(removes.map { a =>
            val priorFile = prior.files.find(_.path == a.path)
            val priorDv = priorFile.flatMap(_.deletionVector)
            // remove actions routinely OMIT partitionValues (this
            // repo's own compact/restore removes do) — the prior
            // version's live entry is the authoritative source (r13;
            // the remove's own values are the fallback for foreign logs
            // that carry them)
            val pv = priorFile.map(_.partitionValues).getOrElse(a.partitionValues)
            val df = spark.read.schema(dataSchema)
              .parquet(Paths.get(table, a.path).toString)
              .select(col("_metadata.file_path").as("__fp"),
                col("_metadata.row_index").as("__pos"), col("*"))
            ordered(attachPv(toLogical(minusDv(df, a.path, priorDv), Nil), pv)
              .withColumn("_change_type", lit("delete")))
          }.reduce(_ unionAll _))
        } else if (adds.isEmpty && removes.isEmpty) {
          // a commit whose only action is a dataChange=false re-add
          // with a GROWN deletion vector (a foreign writer's DV delete
          // that did not record cdc) still deletes rows — derive them
          // exactly from the DV position delta instead of yielding a
          // silently empty feed (r13). No growth (metadata-only bump,
          // pure re-delete) = genuinely empty, not an error.
          val dvAdds = acts.collect {
            case a: Add if !a.dataChange && a.deletionVector.isDefined => a
          }
          lazy val prior = state(spark, table, Some(v - 1))
          val grown = dvAdds.flatMap { a =>
            val priorFile = prior.files.find(_.path == a.path)
            val newPos = decodeDvPositions(table, a.deletionVector.get).toSet
            val oldPos = priorFile.flatMap(_.deletionVector)
              .map(d => decodeDvPositions(table, d).toSet)
              .getOrElse(Set.empty[Long])
            val delta = newPos -- oldPos
            if (delta.isEmpty) None
            else Some((a, priorFile.map(_.partitionValues).getOrElse(a.partitionValues),
              delta))
          }
          if (grown.isEmpty) None
          else {
            import spark.implicits._
            Some(grown.map { case (a, pv, delta) =>
              val pos = spark.createDataset(delta.toSeq).toDF("__pos")
              val df = spark.read.schema(dataSchema)
                .parquet(Paths.get(table, a.path).toString)
                .select(col("_metadata.row_index").as("__pos"), col("*"))
                .join(pos, Seq("__pos"), "left_semi").drop("__pos")
              ordered(attachPv(toLogical(df, Nil), pv)
                .withColumn("_change_type", lit("delete")))
            }.reduce(_ unionAll _))
          }
        }
        else throw new IllegalArgumentException(
          s"commit v$v mixes adds and removes without recorded cdc " +
            s"actions — the change feed cannot be derived exactly: $table")
      changes.map(_.withColumn("_commit_version", lit(v)))
    }
    if (perVersion.isEmpty) {
      // a range of no-op commits (e.g. a DV re-add with nothing newly
      // deleted) is an EMPTY feed, not an error — the streaming source
      // hits this shape on any metadata-only version bump
      val outSchema = SType(st.schema.fields.toSeq ++ Seq(
        StructField("_change_type", StringType, nullable = false),
        StructField("_commit_version",
          org.apache.spark.sql.types.LongType, nullable = false)))
      spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], outSchema)
    } else perVersion.reduce(_ unionByName _)
  }

  /** The one DV WRITE step: for each (live file, positions) in `marks`,
    * mark those positions deleted. A file's existing DV (if any)
    * decodes and UNIONS with its new positions, so the new descriptor
    * covers every generation of deletes; each union encodes as a
    * portable RoaringBitmapArray ([[DeletionVectors.encodePortable64]],
    * the house encoder pinned against the canonical library in the
    * spec), and all of them go into ONE `deletion_vector_<uuid>.bin`
    * under the table root at distinct offsets (PROTOCOL.md lets one DV
    * file hold many), so a commit writes one `.bin` however many files
    * it touches; superseded `.bin`s stay on disk for time travel.
    * Returns the actions — per file `remove` (path, old DV) then `add`
    * (path, the file's stats, new DV), PROTOCOL.md's (path, DV id)
    * reconciliation — and per file the positions not already marked
    * (what a change feed records as newly deleted).
    */
  private[sources] def markDeleted(table: String,
                                   marks: Seq[(LiveFile, Iterable[Long])],
                                   dataChange: Boolean,
                                   uuid: java.util.UUID = java.util.UUID.randomUUID())
      : (Seq[Action], Seq[Set[Long]]) = {
    if (marks.isEmpty) return (Seq.empty, Seq.empty)
    val unions = marks.map { case (file, fresh) =>
      val existing = file.deletionVector.toSeq
        .flatMap(decodeDvPositions(table, _)).toSet
      val newly = fresh.toSet -- existing
      (file, (existing ++ newly).toArray.sorted, newly)
    }
    val (bin, slots) = DeletionVectors.dvFileBytes(
      unions.map(u => DeletionVectors.encodePortable64(u._2)))
    Files.write(Paths.get(table, s"deletion_vector_$uuid.bin"), bin)
    val id = DeletionVectors.z85Encode(java.nio.ByteBuffer.allocate(16)
      .putLong(uuid.getMostSignificantBits)
      .putLong(uuid.getLeastSignificantBits).array())
    val actions = unions.zip(slots).flatMap { case ((file, positions, _), (offset, size)) =>
      Seq(Remove(file.path, dataChange, file.deletionVector),
        Add(file.path, file.partitionValues, dataChange, file.stats,
          Some(Dv("u", id, Some(offset), size, positions.length))))
    }
    (actions, unions.map(_._3))
  }

  /** DELETE rows from one live data file via a DELETION VECTOR (r10 —
    * the modern Delta delete: emit a Roaring DV instead of rewriting
    * the file). Reads `relPath` with parquet row indexes, evaluates
    * `predicate` over the data columns and marks the matching
    * positions through [[markDeleted]] (the one DV write step: the
    * file's existing DV unions in, `remove` + `add` with its stats and
    * the new descriptor, both `dataChange: false`; the `.bin` is named
    * after `uuid`). Returns the new
    * version.
    *
    * Scale shape: the position set is per-FILE (Delta's own DV writer
    * materializes one bitmap per file too) — bounded by one file's
    * row count, collected once on the driver, never the table's.
    */
  def deleteWithDv(spark: SparkSession, table: String, relPath: String,
                   predicate: org.apache.spark.sql.Column,
                   uuid: java.util.UUID = java.util.UUID.randomUUID()): Long = {
    val st = state(spark, table)
    writerGuard(st, table, "deleteWithDv")
    val target = st.files.find(_.path == relPath).getOrElse(
      throw new IllegalArgumentException(s"$relPath is not a live file of $table"))
    // columnMapping=name (r12): the file stores PHYSICAL names but the
    // caller's predicate speaks LOGICAL ones — alias back (the read
    // path's mapping) before evaluating; positions are name-agnostic.
    val raw = spark.read
      .parquet(Paths.get(table, relPath).toString)
      .select(col("_metadata.row_index").as("__pos"),
        col("*"))
    val forPredicate =
      if (st.columnMappingMode != "name") raw
      else raw.select(col("__pos") +:
        st.schema.fields.filterNot(f => st.partitionColumns.contains(f.name))
          .toSeq.map(f => col(physicalName(f)).cast(f.dataType).as(f.name)): _*)
    val fresh = forPredicate
      .filter(predicate)
      .select("__pos").as[Long](org.apache.spark.sql.Encoders.scalaLong)
      .collect()
    require(fresh.nonEmpty, "predicate deleted no rows: refuse a no-op DV")
    // F14n (r12): a CDF-enabled table RECORDS its deletes — the newly
    // deleted rows (this commit's positions only, never re-deletes)
    // land as a `_change_data` file + cdc action in the same commit,
    // which is what makes update/delete commits exactly replayable
    // downstream (the spec's contract; snapshot diffs cannot tell an
    // update apart). Column-mapped + CDF stays out of subset, loud.
    val cdfEnabled =
      st.configuration.getOrElse("delta.enableChangeDataFeed", "false") == "true"
    require(!cdfEnabled || st.columnMappingMode == "none",
      s"deleteWithDv with changeDataFeed on a column-mapped table is " +
        s"not in the stated subset: $table")
    // the CDF records NEWLY deleted rows only — a predicate re-matching
    // an already-deleted row deletes nothing (exactly-once feed)
    val (dvActions, Seq(newly)) =
      markDeleted(table, Seq(target -> fresh), dataChange = false, uuid)
    val cdc: Option[Cdc] =
      if (!cdfEnabled || newly.isEmpty) None
      else {
        import spark.implicits._
        val posDf = spark.createDataset(newly.toSeq).toDF("__pos")
        val deletedRows = raw.join(posDf, Seq("__pos"), "left_semi")
          .drop("__pos")
          .withColumn("_change_type", lit("delete"))
        val rel = s"_change_data/cdc-$uuid.parquet"
        LakeWriter.writeParquetFile(deletedRows, Paths.get(table, rel))
        Some(Cdc(rel, target.partitionValues, Some(Files.size(Paths.get(table, rel))),
          dataChange = false))
      }
    val next = st.version + 1
    writeCommit(table, st, next, (dvActions ++ cdc.toSeq).map(_.json))
    next
  }
}
