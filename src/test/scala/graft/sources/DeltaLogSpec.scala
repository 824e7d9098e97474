package graft.sources

import java.nio.file.{Files, Path}
import scala.jdk.CollectionConverters._

import graft.SparkTestSession
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
import org.scalatest.funsuite.AnyFunSuite

// checkpoint action rows (top-level for encoder derivation)
case class CkAdd(path: String, partitionValues: Map[String, String])
case class CkRemove(path: String)
case class CkMeta(schemaString: String, partitionColumns: Seq[String])
case class CkRow(add: Option[CkAdd], remove: Option[CkRemove],
                 metaData: Option[CkMeta])
// a DV descriptor typed as PROTOCOL.md's checkpoint schema has it
case class CkDv(storageType: String, pathOrInlineDv: String, offset: Int,
                sizeInBytes: Int, cardinality: Long)
case class CkDvAdd(path: String, partitionValues: Map[String, String],
                   dataChange: Boolean, deletionVector: CkDv)
case class CkDvRow(add: Option[CkDvAdd], metaData: Option[CkMeta])

/** F14: the Delta-log reader against a protocol-faithful hand-built
  * table: partitioned adds, removes, schema evolution, checkpoint
  * compaction, time travel, and partition pruning.
  */
class DeltaLogSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private val schemaV0 = StructType(Seq(
    StructField("id", LongType), StructField("v", StringType),
    StructField("part", StringType)))
  private val schemaV3 = StructType(schemaV0.fields :+
    StructField("w", LongType))

  private def esc(s: String): String =
    s.replace("\\", "\\\\").replace("\"", "\\\"")

  private def metaLine(schema: StructType): String =
    s"""{"metaData":{"id":"t","schemaString":"${esc(schema.json)}","partitionColumns":["part"]}}"""

  private def addLine(path: String, part: String): String =
    s"""{"add":{"path":"$path","partitionValues":{"part":"$part"},"dataChange":true}}"""

  private def removeLine(path: String): String =
    s"""{"remove":{"path":"$path","dataChange":true}}"""

  private def writeCommit(table: Path, v: Long, lines: Seq[String]): Unit = {
    val dir = table.resolve("_delta_log")
    Files.createDirectories(dir)
    Files.writeString(dir.resolve(f"$v%020d.json"), lines.mkString("\n"))
  }

  private def writeDataFile(df: DataFrame, table: Path, rel: String): Unit = {
    val target = table.resolve(rel)
    Files.createDirectories(target.getParent)
    writeParquetAs(df, target)
  }

  /** The shared fixture table, log as JSON commits only:
    *  v0: meta + a/f1 (ids 1,2) + b/f2 (id 3)
    *  v1: a/f3 (id 4)
    *  v2: remove a/f1, add a/f4 (id 5)
    *  v3: meta with new column w + b/f5 (id 6, w 60)
    */
  private def buildTable(): Path = {
    val t = Files.createTempDirectory("deltatbl")
    writeDataFile(Seq((1L, "x"), (2L, "y")).toDF("id", "v"), t, "part=a/f1.parquet")
    writeDataFile(Seq((3L, "z")).toDF("id", "v"), t, "part=b/f2.parquet")
    writeDataFile(Seq((4L, "q")).toDF("id", "v"), t, "part=a/f3.parquet")
    writeDataFile(Seq((5L, "r")).toDF("id", "v"), t, "part=a/f4.parquet")
    writeDataFile(Seq((6L, "s", 60L)).toDF("id", "v", "w"), t, "part=b/f5.parquet")
    writeCommit(t, 0L, Seq(metaLine(schemaV0),
      addLine("part=a/f1.parquet", "a"), addLine("part=b/f2.parquet", "b")))
    writeCommit(t, 1L, Seq(addLine("part=a/f3.parquet", "a")))
    writeCommit(t, 2L, Seq(removeLine("part=a/f1.parquet"),
      addLine("part=a/f4.parquet", "a")))
    writeCommit(t, 3L, Seq(metaLine(schemaV3),
      addLine("part=b/f5.parquet", "b")))
    t
  }

  private def rows(df: DataFrame): Set[(Long, String, String, Option[Long])] =
    df.select("id", "v", "part", "w").as[(Long, String, String, Option[Long])]
      .collect().toSet

  test("latest read: removes applied, schema evolved, partitions attached") {
    val t = buildTable()
    val got = rows(DeltaLog.read(spark, t.toString))
    assert(got == Set(
      (3L, "z", "b", None), (4L, "q", "a", None),
      (5L, "r", "a", None), (6L, "s", "b", Some(60L))))
  }

  test("time travel: versionAsOf replays a prefix, old schema wins") {
    val t = buildTable()
    val v0 = DeltaLog.read(spark, t.toString, versionAsOf = Some(0L))
    assert(v0.schema.fieldNames.toSeq == Seq("id", "v", "part"))
    assert(v0.select("id").as[Long].collect().toSet == Set(1L, 2L, 3L))
    val v2 = DeltaLog.read(spark, t.toString, versionAsOf = Some(2L))
    assert(v2.select("id").as[Long].collect().toSet == Set(3L, 4L, 5L))
  }

  test("partition pruning: dropped groups are never scanned") {
    val t = buildTable()
    val st = DeltaLog.state(spark, t.toString)
    val aFiles = st.files.filter(_.partitionValues("part") == "a")
    assert(aFiles.map(_.path).toSet == Set("part=a/f3.parquet", "part=a/f4.parquet"))
    val got = DeltaLog.read(spark, t.toString,
      partitionFilter = pv => pv("part") == "a")
    assert(got.select("id").as[Long].collect().toSet == Set(4L, 5L))
  }

  test("checkpoint: replay resumes after the compacted state") {
    val t = buildTable()
    val full = rows(DeltaLog.read(spark, t.toString))
    // compact v0..v2 into a checkpoint (with a protocol-faithful remove
    // tombstone), then delete those JSON commits — replay MUST use it
    val st2 = DeltaLog.state(spark, t.toString, versionAsOf = Some(2L))
    val ckRows = st2.files.map(f =>
        CkRow(Some(CkAdd(f.path, f.partitionValues)), None, None)) ++ Seq(
      CkRow(None, Some(CkRemove("part=a/f1.parquet")), None),
      CkRow(None, None, Some(CkMeta(schemaV0.json, Seq("part")))))
    val ckDf = ckRows.toDS.toDF()
    val logDir = t.resolve("_delta_log")
    writeParquetAs(ckDf, logDir.resolve(f"${2L}%020d.checkpoint.parquet"))
    Seq(0L, 1L, 2L).foreach(v =>
      Files.delete(logDir.resolve(f"$v%020d.json")))
    assert(rows(DeltaLog.read(spark, t.toString)) == full)
  }

  /** Build the v2 checkpoint parquet rows once for the checkpoint-shape
    * tests (compacted v0..v2 state + tombstone + metaData).
    */
  private def checkpointRows(t: Path): Seq[CkRow] = {
    val st2 = DeltaLog.state(spark, t.toString, versionAsOf = Some(2L))
    st2.files.map(f =>
      CkRow(Some(CkAdd(f.path, f.partitionValues)), None, None)) ++ Seq(
      CkRow(None, Some(CkRemove("part=a/f1.parquet")), None),
      CkRow(None, None, Some(CkMeta(schemaV0.json, Seq("part")))))
  }

  /** `df` as the one parquet file `target`; Spark's output dir is removed. */
  private def writeParquetAs(df: DataFrame, target: Path): Unit =
    graft.TempDirs.withTempDir("deltafile") { tmp =>
      df.coalesce(1).write.mode("overwrite").parquet(tmp.toString)
      val part = Files.list(tmp).iterator().asScala
        .find(_.getFileName.toString.endsWith(".parquet")).get
      Files.move(part, target)
    }

  test("retention-trimmed log with no recognizable checkpoint fails loudly") {
    val t = buildTable()
    val logDir = t.resolve("_delta_log")
    // drop v0 and v1 with NO checkpoint: the old reader replayed from
    // v2 with holes and silently returned an incomplete live set
    Seq(0L, 1L).foreach(v => Files.delete(logDir.resolve(f"$v%020d.json")))
    val e = intercept[IllegalArgumentException] {
      DeltaLog.state(spark, t.toString)
    }
    assert(e.getMessage.contains("not contiguous"))
  }

  test("multi-part checkpoint: all parts replay; a partial copy rejects") {
    val t = buildTable()
    val full = rows(DeltaLog.read(spark, t.toString))
    val ck = checkpointRows(t)
    val logDir = t.resolve("_delta_log")
    // split the checkpoint into 2 parts (rows don't overlap)
    writeParquetAs(ck.take(2).toDS.toDF(),
      logDir.resolve(f"${2L}%020d.checkpoint.${1}%010d.${2}%010d.parquet"))
    writeParquetAs(ck.drop(2).toDS.toDF(),
      logDir.resolve(f"${2L}%020d.checkpoint.${2}%010d.${2}%010d.parquet"))
    Seq(0L, 1L, 2L).foreach(v => Files.delete(logDir.resolve(f"$v%020d.json")))
    assert(rows(DeltaLog.read(spark, t.toString)) == full)
    // remove one part: must reject, never half-replay
    Files.delete(logDir.resolve(f"${2L}%020d.checkpoint.${2}%010d.${2}%010d.parquet"))
    val e = intercept[IllegalArgumentException] {
      DeltaLog.state(spark, t.toString)
    }
    assert(e.getMessage.contains("multi-part checkpoint"))
  }

  test("_last_checkpoint must point at a usable checkpoint") {
    val t = buildTable()
    val logDir = t.resolve("_delta_log")
    val ck = checkpointRows(t)
    // a pointer to a checkpoint this subset cannot see (e.g. v2 form
    // removed by a partial copy) must fail loudly, not replay from 0
    Files.writeString(logDir.resolve("_last_checkpoint"), """{"version":2}""")
    val e = intercept[IllegalArgumentException] {
      DeltaLog.state(spark, t.toString)
    }
    assert(e.getMessage.contains("_last_checkpoint"))
    // with the checkpoint present the pointer is satisfied
    writeParquetAs(ck.toDS.toDF(),
      logDir.resolve(f"${2L}%020d.checkpoint.parquet"))
    assert(rows(DeltaLog.read(spark, t.toString)) ==
      rows(DeltaLog.read(spark, t.toString, versionAsOf = Some(3L))))
  }

  test("add.stats min/max skip files; missing stats never skip") {
    val t = Files.createTempDirectory("deltastats")
    writeDataFile(Seq((1L, "x"), (5L, "y")).toDF("id", "v"), t, "part=a/lo.parquet")
    writeDataFile(Seq((100L, "z"), (200L, "w")).toDF("id", "v"), t, "part=a/hi.parquet")
    writeDataFile(Seq((7L, "n")).toDF("id", "v"), t, "part=a/nostats.parquet")
    def addWithStats(path: String, mn: Long, mx: Long): String =
      s"""{"add":{"path":"$path","partitionValues":{"part":"a"},"dataChange":true,""" +
        s""""stats":"{\\"numRecords\\":2,\\"minValues\\":{\\"id\\":$mn},\\"maxValues\\":{\\"id\\":$mx}}"}}"""
    writeCommit(t, 0L, Seq(metaLine(schemaV0),
      addWithStats("part=a/lo.parquet", 1L, 5L),
      addWithStats("part=a/hi.parquet", 100L, 200L),
      addLine("part=a/nostats.parquet", "a")))
    val st = DeltaLog.state(spark, t.toString)
    assert(st.files.count(_.stats.nonEmpty) == 2)
    val surv = DeltaLog.filesInRange(st.files, Map("id" -> (0L, 10L)))
    // hi.parquet's box [100,200] misses [0,10]; nostats must survive
    assert(surv.map(_.path).toSet == Set("part=a/lo.parquet", "part=a/nostats.parquet"))
    val got = DeltaLog.read(spark, t.toString, ranges = Map("id" -> (0L, 10L)))
      .select("id").as[Long].collect().toSet
    assert(got == Set(1L, 5L, 7L))
  }

  test("writeCheckpoint: a retention-trimmed log replays from the engine's own checkpoint (r10)") {
    val t = buildTable()
    val before = rows(DeltaLog.read(spark, t.toString))
    val v = DeltaLog.writeCheckpoint(spark, t.toString)
    assert(v == 3L)
    // retention-trim EVERY json commit <= the checkpoint: the state is
    // now reachable only through the checkpoint the engine wrote
    (0L to 3L).foreach(i =>
      Files.delete(t.resolve("_delta_log").resolve(f"$i%020d.json")))
    val after = rows(DeltaLog.read(spark, t.toString))
    assert(after == before, "checkpoint replay diverged from the json replay")
    // _last_checkpoint points at it
    val lc = Files.readString(t.resolve("_delta_log").resolve("_last_checkpoint"))
    assert(lc.contains("\"version\":3"))
    // and commits AFTER the checkpoint still apply on top
    writeDataFile(Seq((9L, "t", 90L)).toDF("id", "v", "w"), t, "part=b/f9.parquet")
    writeCommit(t, 4L, Seq(addLine("part=b/f9.parquet", "b")))
    val withTail = rows(DeltaLog.read(spark, t.toString))
    assert(withTail == before + ((9L, "t", "b", Some(90L))))
  }

  test("writeCheckpoint(parts=3): a multi-part checkpoint replays after trimming (r10)") {
    val t = buildTable()
    val before = rows(DeltaLog.read(spark, t.toString))
    assert(DeltaLog.writeCheckpoint(spark, t.toString, parts = 3) == 3L)
    val names = Files.list(t.resolve("_delta_log")).iterator().asScala
      .map(_.getFileName.toString).toSeq
    assert((1 to 3).forall(p =>
      names.contains(f"${3L}%020d.checkpoint.$p%010d.${3}%010d.parquet")),
      s"missing multi-part files in $names")
    assert(Files.readString(
      t.resolve("_delta_log").resolve("_last_checkpoint")).contains("\"parts\":3"))
    (0L to 3L).foreach(i =>
      Files.delete(t.resolve("_delta_log").resolve(f"$i%020d.json")))
    assert(rows(DeltaLog.read(spark, t.toString)) == before,
      "multi-part checkpoint replay diverged")
  }

  test("writeCheckpoint carries deletion vectors through the parquet round-trip (r10)") {
    // table with an engine-written DV, checkpointed, trimmed, re-read
    val t = Files.createTempDirectory("deltackdv")
    writeDataFile((0L until 12L).map(i => (i, s"v$i")).toDF("id", "v")
      .orderBy("id"), t, "f0.parquet")
    Files.createDirectories(t.resolve("_delta_log"))
    Files.writeString(t.resolve("_delta_log").resolve(f"${0L}%020d.json"), Seq(
      s"""{"metaData":{"id":"ckdv","schemaString":"${esc(StructType(Seq(
        StructField("id", LongType), StructField("v", StringType))).json)}","partitionColumns":[]}}""",
      """{"add":{"path":"f0.parquet","partitionValues":{},"dataChange":true}}""")
      .mkString("\n"))
    DeltaLog.deleteWithDv(spark, t.toString, "f0.parquet",
      org.apache.spark.sql.functions.col("id") % 4 === 2)
    assert(DeltaLog.writeCheckpoint(spark, t.toString) == 1L)
    (0L to 1L).foreach(i =>
      Files.delete(t.resolve("_delta_log").resolve(f"$i%020d.json")))
    val got = DeltaLog.read(spark, t.toString)
      .select("id").as[Long].collect().toSet
    assert(got == (0L until 12L).filterNot(_ % 4 == 2).toSet,
      "DV descriptor lost through the checkpoint")
  }

  test("a foreign checkpoint with int DV offset and size replays") {
    val t = Files.createTempDirectory("deltackdvint")
    writeDataFile((0L until 12L).map(i => (i, s"v$i")).toDF("id", "v")
      .orderBy("id"), t, "f0.parquet")
    val schema = StructType(schemaV0.fields.take(2))
    writeCommit(t, 0L, Seq(
      s"""{"metaData":{"id":"ckdvint","schemaString":"${esc(schema.json)}","partitionColumns":[]}}""",
      """{"add":{"path":"f0.parquet","partitionValues":{},"dataChange":true}}"""))
    DeltaLog.deleteWithDv(spark, t.toString, "f0.parquet",
      org.apache.spark.sql.functions.col("id") % 4 === 2)
    val dv = DeltaLog.state(spark, t.toString).files.head.deletionVector.get
    writeParquetAs(Seq(
      CkDvRow(None, Some(CkMeta(schema.json, Nil))),
      CkDvRow(Some(CkDvAdd("f0.parquet", Map.empty, dataChange = true,
        CkDv(dv.storageType, dv.pathOrInlineDv, dv.offset.get, dv.sizeInBytes,
          dv.cardinality))), None)).toDS.toDF(),
      t.resolve("_delta_log").resolve(f"${1L}%020d.checkpoint.parquet"))
    (0L to 1L).foreach(i => Files.delete(t.resolve("_delta_log").resolve(f"$i%020d.json")))
    assert(DeltaLog.read(spark, t.toString).select("id").as[Long].collect().toSet ==
      (0L until 12L).filterNot(_ % 4 == 2).toSet)
  }

  // ---- r11: vacuum + change feed ----

  test("vacuum deletes files only expired versions read; retained travel intact (r11)") {
    val t = buildTable() // v0..v3; part=a/f1 removed at v2
    assert(Files.exists(t.resolve("part=a/f1.parquet")))
    // retain the last two versions (v2, v3): f1 is read by v0/v1 only
    val (floor, deleted) = DeltaLog.vacuum(spark, t.toString, retainLast = 2)
    assert(floor == 2L && deleted == 1, s"got ($floor, $deleted)")
    assert(!Files.exists(t.resolve("part=a/f1.parquet")))
    // current read and RETAINED time travel still work
    assert(rows(DeltaLog.read(spark, t.toString)).map(_._1) ==
      Set(3L, 4L, 5L, 6L))
    assert(DeltaLog.read(spark, t.toString, versionAsOf = Some(2L))
      .count() == 3L)
    // a second vacuum is a no-op
    assert(DeltaLog.vacuum(spark, t.toString, retainLast = 2) == ((2L, 0)))
  }

  test("vacuum on a checkpoint-trimmed log floors at the replayable window (r11)") {
    val t = buildTable()
    // checkpoint at v3, trim commits 0..2: only v3 replays now
    assert(DeltaLog.writeCheckpoint(spark, t.toString) == 3L)
    (0L to 2L).foreach(i =>
      Files.delete(t.resolve("_delta_log").resolve(f"$i%020d.json")))
    // retainLast=4 would want v0..v3, but the floor is the trimmed log's
    // oldest replayable version (3) — f1 (read only by v0/v1) deletes
    val (floor, deleted) = DeltaLog.vacuum(spark, t.toString, retainLast = 4)
    assert(floor == 3L && deleted == 1, s"got ($floor, $deleted)")
    assert(!Files.exists(t.resolve("part=a/f1.parquet")))
    assert(rows(DeltaLog.read(spark, t.toString)).map(_._1) ==
      Set(3L, 4L, 5L, 6L))
  }

  test("restore re-instates an old version without rewriting history (r11)") {
    val t = buildTable() // v0..v3 (v3 evolves schema — restore below it)
    // restore to v1 (before the a/f1 → a/f4 replacement) must reject:
    // schema evolved at v3. Roll to v2 first via a fresh fixture.
    intercept[IllegalArgumentException] {
      DeltaLog.restore(spark, t.toString, 1L)
    }
    val t2 = Files.createTempDirectory("deltarst")
    writeDataFile(Seq((1L, "x"), (2L, "y")).toDF("id", "v"), t2, "part=a/f1.parquet")
    writeDataFile(Seq((3L, "z")).toDF("id", "v"), t2, "part=a/f3.parquet")
    writeCommit(t2, 0L, Seq(metaLine(schemaV0), addLine("part=a/f1.parquet", "a")))
    writeCommit(t2, 1L, Seq(removeLine("part=a/f1.parquet"),
      addLine("part=a/f3.parquet", "a")))
    assert(DeltaLog.restore(spark, t2.toString, 0L) == 2L)
    assert(DeltaLog.read(spark, t2.toString)
      .select("id").as[Long].collect().toSet == Set(1L, 2L))
    // the replaced interval is still time-travelable
    assert(DeltaLog.read(spark, t2.toString, versionAsOf = Some(1L))
      .select("id").as[Long].collect().toSet == Set(3L))
    // restoring to the identical state is a loud no-op
    intercept[IllegalArgumentException] {
      DeltaLog.restore(spark, t2.toString, 0L) // v2 == v0 already
    }
    // a vacuumed target rejects loudly
    val t3 = Files.createTempDirectory("deltarst2")
    writeDataFile(Seq((1L, "x")).toDF("id", "v"), t3, "part=a/f1.parquet")
    writeDataFile(Seq((2L, "y")).toDF("id", "v"), t3, "part=a/f2.parquet")
    writeCommit(t3, 0L, Seq(metaLine(schemaV0), addLine("part=a/f1.parquet", "a")))
    writeCommit(t3, 1L, Seq(removeLine("part=a/f1.parquet"),
      addLine("part=a/f2.parquet", "a")))
    DeltaLog.vacuum(spark, t3.toString, retainLast = 1)
    val e = intercept[IllegalArgumentException] {
      DeltaLog.restore(spark, t3.toString, 0L)
    }
    assert(e.getMessage.contains("no longer exists"))
  }

  test("tableChanges: updates surface as delete+insert pairs (r11)") {
    val t = buildTable()
    // v1→v2 replaced a/f1 (ids 1,2) with a/f4 (id 5): 2 deletes + 1 insert
    val ch12 = DeltaLog.tableChanges(spark, t.toString, 1L, 2L)
      .select("id", "_change_type").as[(Long, String)].collect().toSet
    assert(ch12 == Set((1L, "delete"), (2L, "delete"), (5L, "insert")))
    // v0→v1 added a/f3 only
    val ch01 = DeltaLog.tableChanges(spark, t.toString, 0L, 1L)
      .select("id", "_change_type").as[(Long, String)].collect().toSet
    assert(ch01 == Set((4L, "insert")))
    // schema drift between versions rejects loudly (v3 adds column w)
    val e = intercept[IllegalArgumentException] {
      DeltaLog.tableChanges(spark, t.toString, 2L, 3L)
    }
    assert(e.getMessage.contains("schema changed"))
    intercept[IllegalArgumentException] {
      DeltaLog.tableChanges(spark, t.toString, 2L, 2L)
    }
  }

  // ---- r11: protocol guard + columnMapping=name ----

  private def protoTable(protoLine: String,
                         configJson: String = ""): Path = {
    val t = Files.createTempDirectory("deltaproto")
    writeDataFile(Seq((1L, "x")).toDF("id", "v"), t, "f0.parquet")
    val cfg = if (configJson.isEmpty) "" else s""","configuration":$configJson"""
    val schema = StructType(Seq(
      StructField("id", LongType), StructField("v", StringType)))
    writeCommit(t, 0L, Seq(protoLine,
      s"""{"metaData":{"id":"p","schemaString":"${esc(schema.json)}","partitionColumns":[]$cfg}}""",
      """{"add":{"path":"f0.parquet","partitionValues":{},"dataChange":true}}"""))
    t
  }

  test("protocol guard: unknown readerFeatures reject loudly (r11)") {
    val t = protoTable(
      """{"protocol":{"minReaderVersion":3,"minWriterVersion":7,"readerFeatures":["deletionVectors","v2Checkpoint"]}}""")
    val e = intercept[IllegalArgumentException] {
      DeltaLog.read(spark, t.toString)
    }
    assert(e.getMessage.contains("v2Checkpoint"))
    // the KNOWN feature set passes
    val ok = protoTable(
      """{"protocol":{"minReaderVersion":3,"minWriterVersion":7,"readerFeatures":["deletionVectors","timestampNtz"]}}""")
    assert(DeltaLog.read(spark, ok.toString).count() == 1L)
  }

  test("protocol guard: minReaderVersion above 3 rejects loudly (r11)") {
    val t = protoTable(
      """{"protocol":{"minReaderVersion":4,"minWriterVersion":8}}""")
    val e = intercept[IllegalArgumentException] {
      DeltaLog.read(spark, t.toString)
    }
    assert(e.getMessage.contains("minReaderVersion=4"))
  }

  test("columnMapping mode=id rejects loudly; write paths reject mapped tables (r11)") {
    val t = protoTable(
      """{"protocol":{"minReaderVersion":2,"minWriterVersion":5}}""",
      """{"delta.columnMapping.mode":"id"}""")
    val e = intercept[IllegalArgumentException] {
      DeltaLog.read(spark, t.toString)
    }
    assert(e.getMessage.contains("columnMapping.mode=id"))
  }

  test("columnMapping=name: physical parquet names map back to logical (r11)") {
    val t = Files.createTempDirectory("deltacm")
    // data file under PHYSICAL names
    writeDataFile(Seq((7L, "a"), (8L, "b")).toDF("col-aa11", "col-bb22"),
      t, "part-p1/f0.parquet")
    val mId = new org.apache.spark.sql.types.MetadataBuilder()
      .putLong("delta.columnMapping.id", 1)
      .putString("delta.columnMapping.physicalName", "col-aa11").build()
    val mV = new org.apache.spark.sql.types.MetadataBuilder()
      .putLong("delta.columnMapping.id", 2)
      .putString("delta.columnMapping.physicalName", "col-bb22").build()
    val mP = new org.apache.spark.sql.types.MetadataBuilder()
      .putLong("delta.columnMapping.id", 3)
      .putString("delta.columnMapping.physicalName", "col-pp33").build()
    val schema = StructType(Seq(
      StructField("id", LongType, nullable = true, mId),
      StructField("v", StringType, nullable = true, mV),
      StructField("part", StringType, nullable = true, mP)))
    writeCommit(t, 0L, Seq(
      """{"protocol":{"minReaderVersion":2,"minWriterVersion":5}}""",
      s"""{"metaData":{"id":"cm","schemaString":"${esc(schema.json)}","partitionColumns":["part"],"configuration":{"delta.columnMapping.mode":"name"}}}""",
      """{"add":{"path":"part-p1/f0.parquet","partitionValues":{"col-pp33":"p1"},"dataChange":true}}"""))
    val got = DeltaLog.read(spark, t.toString)
    assert(got.schema.fieldNames.toSeq == Seq("id", "v", "part"))
    assert(got.as[(Long, String, String)].collect().toSet ==
      Set((7L, "a", "p1"), (8L, "b", "p1")))
    // a checkpoint must CARRY the mapping (configuration + protocol):
    // trim the JSON log and re-read through the checkpoint alone
    assert(DeltaLog.writeCheckpoint(spark, t.toString) == 0L)
    Files.delete(t.resolve("_delta_log").resolve(f"${0L}%020d.json"))
    val viaCk = DeltaLog.read(spark, t.toString)
    assert(viaCk.as[(Long, String, String)].collect().toSet ==
      Set((7L, "a", "p1"), (8L, "b", "p1")),
      "columnMapping configuration lost through the checkpoint")
    // WRITE path on the mapped table (r12): the caller's predicate
    // speaks LOGICAL names; the DV positions land against the
    // physical-name file, and compact rewrites under physical names
    DeltaLog.deleteWithDv(spark, t.toString, "part-p1/f0.parquet",
      org.apache.spark.sql.functions.col("id") === 7L)
    assert(DeltaLog.read(spark, t.toString)
      .as[(Long, String, String)].collect().toSet == Set((8L, "b", "p1")))
    DeltaLog.compact(spark, t.toString) // single file + DV = real work
    val st = DeltaLog.state(spark, t.toString)
    assert(st.files.forall(f =>
      f.path.startsWith("compact-") && f.deletionVector.isEmpty))
    assert(DeltaLog.read(spark, t.toString)
      .as[(Long, String, String)].collect().toSet == Set((8L, "b", "p1")),
      "mapped compact must fold the DV and keep physical names readable")
  }

  test("writer guard: unknown writerFeatures reject writes, reads pass (r12)") {
    val t = protoTable(
      """{"protocol":{"minReaderVersion":1,"minWriterVersion":7,"writerFeatures":["rowTracking"]}}""")
    // READ is unaffected — the reader contract is satisfied
    assert(DeltaLog.read(spark, t.toString).count() == 1L)
    // every write-side entry point refuses loudly
    def rejects(op: => Any): Unit = {
      val e = intercept[IllegalArgumentException](op)
      assert(e.getMessage.contains("rowTracking"), e.getMessage)
    }
    rejects(DeltaLog.compact(spark, t.toString))
    rejects(DeltaLog.deleteWithDv(spark, t.toString, "f0.parquet",
      org.apache.spark.sql.functions.lit(true)))
    rejects(DeltaLog.vacuum(spark, t.toString, 1))
    rejects(DeltaLog.writeCheckpoint(spark, t.toString))
    // a SUPPORTED writer feature set passes the guard (deletionVectors)
    val ok = protoTable(
      """{"protocol":{"minReaderVersion":1,"minWriterVersion":7,"writerFeatures":["deletionVectors"]}}""")
    DeltaLog.deleteWithDv(spark, ok.toString, "f0.parquet",
      org.apache.spark.sql.functions.col("id") === 1L)
    assert(DeltaLog.read(spark, ok.toString).count() == 0L)
  }

  test("writer guard: minWriterVersion above 7 rejects writes (r12)") {
    val t = protoTable(
      """{"protocol":{"minReaderVersion":1,"minWriterVersion":8}}""")
    assert(DeltaLog.read(spark, t.toString).count() == 1L)
    val e = intercept[IllegalArgumentException] {
      DeltaLog.writeCheckpoint(spark, t.toString)
    }
    assert(e.getMessage.contains("minWriterVersion=8"))
  }

  test("writer guard: legacy versions 2-6 imply features; inactive ones don't block (r13)") {
    // mwv=2 implies appendOnly+invariants — with the config unset and
    // no invariants in the schema, neither is ACTIVE, so writes pass
    val plain = protoTable(
      """{"protocol":{"minReaderVersion":1,"minWriterVersion":2}}""")
    DeltaLog.deleteWithDv(spark, plain.toString, "f0.parquet",
      org.apache.spark.sql.functions.col("id") === 1L)
    assert(DeltaLog.read(spark, plain.toString).count() == 0L)
    // delta.appendOnly=true forbids data-deleting ops but NOT the
    // non-deleting maintenance ones
    val ao = protoTable(
      """{"protocol":{"minReaderVersion":1,"minWriterVersion":2}}""",
      """{"delta.appendOnly":"true"}""")
    val e1 = intercept[IllegalArgumentException] {
      DeltaLog.deleteWithDv(spark, ao.toString, "f0.parquet",
        org.apache.spark.sql.functions.lit(true))
    }
    assert(e1.getMessage.contains("appendOnly"), e1.getMessage)
    assert(DeltaLog.writeCheckpoint(spark, ao.toString) == 0L)
    // mwv=3 + a CHECK constraint defined: this writer can't enforce it
    val cc = protoTable(
      """{"protocol":{"minReaderVersion":1,"minWriterVersion":3}}""",
      """{"delta.constraints.pos":"id > 0"}""")
    val e2 = intercept[IllegalArgumentException] {
      DeltaLog.writeCheckpoint(spark, cc.toString)
    }
    assert(e2.getMessage.contains("checkConstraints"), e2.getMessage)
    // an invariant in the schema metadata blocks even at mwv=2
    val invMeta = new org.apache.spark.sql.types.MetadataBuilder()
      .putString("delta.invariants", """{"expression":{"expression":"id > 0"}}""")
      .build()
    val invSchema = StructType(Seq(
      StructField("id", LongType, nullable = true, invMeta),
      StructField("v", StringType)))
    val inv = Files.createTempDirectory("deltainv")
    writeDataFile(Seq((1L, "x")).toDF("id", "v"), inv, "f0.parquet")
    writeCommit(inv, 0L, Seq(
      """{"protocol":{"minReaderVersion":1,"minWriterVersion":2}}""",
      s"""{"metaData":{"id":"i","schemaString":"${esc(invSchema.json)}","partitionColumns":[]}}""",
      """{"add":{"path":"f0.parquet","partitionValues":{},"dataChange":true}}"""))
    val e3 = intercept[IllegalArgumentException] {
      DeltaLog.writeCheckpoint(spark, inv.toString)
    }
    assert(e3.getMessage.contains("invariants"), e3.getMessage)
  }

  test("inCommitTimestamp: engine commits stamp it, resolution survives mtime scramble (r13)") {
    import java.nio.file.attribute.FileTime
    val t = protoTable(
      """{"protocol":{"minReaderVersion":1,"minWriterVersion":7,"writerFeatures":["inCommitTimestamp","deletionVectors"]}}""",
      """{"delta.enableInCommitTimestamps":"true"}""")
    val v1 = DeltaLog.deleteWithDv(spark, t.toString, "f0.parquet",
      org.apache.spark.sql.functions.col("id") === 1L)
    assert(v1 == 1L)
    val ict1 = DeltaLog.ictOf(t.toString, 1L)
    assert(ict1.isDefined && ict1.get > 0L, s"v1 must carry an ICT: $ict1")
    // pin deterministic stamps by hand for the resolution check, then
    // SCRAMBLE mtimes — ICT resolution must not notice
    val base = 1700000000000L
    val log = t.resolve("_delta_log")
    def restamp(v: Long, ts: Long): Unit = {
      val p = log.resolve(f"$v%020d.json")
      val lines = Files.readAllLines(p).asScala.toSeq
        .filterNot(_.contains("commitInfo"))
      Files.writeString(p,
        (s"""{"commitInfo":{"inCommitTimestamp":$ts}}""" +: lines)
          .mkString("\n"))
    }
    restamp(0L, base)
    restamp(1L, base + 60000L)
    Files.setLastModifiedTime(log.resolve(f"${0L}%020d.json"),
      FileTime.fromMillis(base + 999999999L)) // lies
    Files.setLastModifiedTime(log.resolve(f"${1L}%020d.json"),
      FileTime.fromMillis(base - 999999999L)) // lies the other way
    assert(DeltaLog.versionAtTimestamp(t.toString, base + 30000L) == 0L)
    assert(DeltaLog.versionAtTimestamp(t.toString, base + 60000L) == 1L)
    intercept[IllegalArgumentException] {
      DeltaLog.versionAtTimestamp(t.toString, base - 1L)
    }
    // MIXED log: a legacy v0 (mtime) followed by an ICT v1 resolves
    // per-commit with the monotonic adjustment bridging the two
    val m = protoTable(
      """{"protocol":{"minReaderVersion":1,"minWriterVersion":1}}""")
    val mlog = m.resolve("_delta_log")
    Files.setLastModifiedTime(mlog.resolve(f"${0L}%020d.json"),
      FileTime.fromMillis(base))
    writeDataFile(Seq((2L, "y")).toDF("id", "v"), m, "f1.parquet")
    Files.writeString(mlog.resolve(f"${1L}%020d.json"), Seq(
      s"""{"commitInfo":{"inCommitTimestamp":${base + 60000L}}}""",
      """{"add":{"path":"f1.parquet","partitionValues":{},"dataChange":true}}""")
      .mkString("\n"))
    assert(DeltaLog.versionAtTimestamp(m.toString, base + 30000L) == 0L)
    assert(DeltaLog.versionAtTimestamp(m.toString, base + 60001L) == 1L)
  }

  test("checkpoint persists the writer half of the protocol (r12)") {
    val t = protoTable(
      """{"protocol":{"minReaderVersion":1,"minWriterVersion":7,"writerFeatures":["deletionVectors"]}}""")
    assert(DeltaLog.writeCheckpoint(spark, t.toString) == 0L)
    Files.delete(t.resolve("_delta_log").resolve(f"${0L}%020d.json"))
    val st = DeltaLog.state(spark, t.toString)
    assert(st.minWriterVersion == 7 &&
      st.writerFeatures == Seq("deletionVectors"),
      s"writer protocol lost through the checkpoint: $st")
  }

  /** Spark jobs started by `body` on this thread. A tagged marker job
    * runs after it: the listener bus delivers events in order, so once
    * the marker's start arrives every job of `body` has been counted.
    */
  private def jobsDuring(body: => Unit): Int = {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    val sc = spark.sparkContext
    val tag = s"jobs-${java.util.UUID.randomUUID()}"
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).flatMap(p => Option(p.getProperty("graft.test.tag")))
          .foreach(seen.add)
    }
    def tagged[A](t: String)(f: => A): A = {
      sc.setLocalProperty("graft.test.tag", t)
      try f finally sc.setLocalProperty("graft.test.tag", null)
    }
    sc.addSparkListener(listener)
    try {
      tagged(tag)(body)
      tagged(tag + "-end")(sc.parallelize(Seq(1), 1).count())
      val deadline = System.nanoTime() + 60L * 1000 * 1000 * 1000
      while (!seen.contains(tag + "-end") && System.nanoTime() < deadline) Thread.sleep(10)
      assert(seen.contains(tag + "-end"), "marker job never reached the listener")
      seen.asScala.count(_ == tag)
    } finally sc.removeSparkListener(listener)
  }

  test("replay decodes JSON commits on the driver: no Spark job; a checkpoint costs one") {
    val t = buildTable()
    assert(jobsDuring(DeltaLog.state(spark, t.toString, versionAsOf = Some(2L))) == 0)
    val d = Files.createTempDirectory("deltajobs").resolve("t").toString
    DeltaWrite.create(spark, d, Seq((1L, "a"), (2L, "b")).toDF("id", "v"))
    DeltaLog.writeCheckpoint(spark, d)
    DeltaWrite.append(spark, d, Seq((3L, "c")).toDF("id", "v"))
    DeltaWrite.append(spark, d, Seq((4L, "d")).toDF("id", "v"))
    var st: DeltaLog.State = null
    assert(jobsDuring { st = DeltaLog.state(spark, d) } <= 1)
    assert(st.version == 2L && st.files.size == 4)
  }

  test("a torn commit line fails the replay, naming the version") {
    val t = buildTable()
    val v2 = t.resolve("_delta_log").resolve(f"${2L}%020d.json")
    val txt = Files.readString(v2)
    Files.writeString(v2, txt.take(txt.length - 20))
    val e = intercept[IllegalArgumentException](DeltaLog.state(spark, t.toString))
    assert(e.getMessage.contains("commit v2") && e.getMessage.contains("line 2"), e.getMessage)
  }

  test("compact escapes a quote in a file name: the row count holds and the log replays") {
    val t = Files.createTempDirectory("deltaquote")
    writeDataFile((1L to 5L).map(i => (i, "q")).toDF("id", "v"), t, "a\"b.parquet")
    writeDataFile((6L to 8L).map(i => (i, "p")).toDF("id", "v"), t, "c.parquet")
    val schema = StructType(schemaV0.fields.take(2))
    writeCommit(t, 0L, Seq(
      s"""{"metaData":{"id":"q","schemaString":"${esc(schema.json)}","partitionColumns":[]}}""",
      s"""{"add":{"path":"${esc("a\"b.parquet")}","partitionValues":{},"dataChange":true}}""",
      """{"add":{"path":"c.parquet","partitionValues":{},"dataChange":true}}"""))
    assert(DeltaLog.read(spark, t.toString).count() == 8L)
    assert(DeltaLog.compact(spark, t.toString) == 1L)
    val st = DeltaLog.state(spark, t.toString)
    assert(st.files.map(_.path).forall(_.startsWith("compact-")), st.files)
    assert(DeltaLog.read(spark, t.toString).count() == 8L)
  }
}
