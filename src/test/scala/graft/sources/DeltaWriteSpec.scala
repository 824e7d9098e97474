package graft.sources

import java.nio.file.{Files, Paths}

import graft.SparkTestSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** F14o (r13): the Delta MERGE/upsert writer — create/append/merge,
  * touched-files-only rewrites, recorded update pre/post images,
  * columnMapping write path, and the writer-guard interlocks.
  */
class DeltaWriteSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private def mkTable(cdf: Boolean = true): String = {
    val t = Files.createTempDirectory("deltawr").toString
    val df = Seq(
      (1L, "a", 100L, "N"), (2L, "a", 200L, "N"),
      (3L, "b", 300L, "N"), (4L, "b", 400L, "N"))
      .toDF("id", "part", "cents", "is_deleted")
    DeltaWrite.create(spark, t, df, partitionColumns = Seq("part"),
      configuration =
        if (cdf) Map("delta.enableChangeDataFeed" -> "true") else Map.empty)
    t
  }

  private def snapshot(t: String): Set[(Long, String, Long, String)] =
    DeltaLog.read(spark, t).select("id", "part", "cents", "is_deleted")
      .as[(Long, String, Long, String)].collect().toSet

  test("create + read round trip (partitioned, stats attached)") {
    val t = mkTable()
    assert(snapshot(t) == Set(
      (1L, "a", 100L, "N"), (2L, "a", 200L, "N"),
      (3L, "b", 300L, "N"), (4L, "b", 400L, "N")))
    val st = DeltaLog.state(spark, t)
    assert(st.partitionColumns == Seq("part"))
    assert(st.files.forall(_.stats.exists(_.contains("numRecords"))),
      "engine-written adds must carry stats")
    // min/max file skipping works on the engine's own stats
    val pruned = DeltaLog.filesInRange(st.files, Map("id" -> (3L, 4L)))
    assert(pruned.size < st.files.size,
      s"id-range should prune the part=a file: ${st.files}")
  }

  test("append lands as a derived-insert commit") {
    val t = mkTable()
    val v = DeltaWrite.append(spark, t,
      Seq((5L, "b", 500L, "N")).toDF("id", "part", "cents", "is_deleted"))
    assert(v == 1L)
    assert(snapshot(t).contains((5L, "b", 500L, "N")))
    val feed = DeltaLog.tableChangesCdf(spark, t, 0L, 1L)
      .select("id", "_change_type").as[(Long, String)].collect().toSet
    assert(feed == Set((5L, "insert")))
  }

  test("merge: update in place, soft-delete flip, insert, tombstone dropped; untouched files stay") {
    val t = mkTable()
    val before = DeltaLog.state(spark, t)
    val bFile = before.files.find(_.partitionValues("part") == "b").get
    val staged = Seq(
      (1L, "a", 150L, "N"),  // update
      (2L, "a", 200L, "Y"),  // soft delete (flag flips in place)
      (5L, "a", 500L, "N"),  // insert
      (9L, "a", 900L, "Y"))  // tombstone for an absent key: dropped
      .toDF("id", "part", "cents", "is_deleted")
    val v = DeltaWrite.merge(spark, t, staged, Seq("id"),
      insertFilter = Some(col("is_deleted") === "N"))
    assert(v == 1L)
    assert(snapshot(t) == Set(
      (1L, "a", 150L, "N"), (2L, "a", 200L, "Y"),
      (3L, "b", 300L, "N"), (4L, "b", 400L, "N"),
      (5L, "a", 500L, "N")))
    // part=b held no matched key: its file is NOT rewritten
    val after = DeltaLog.state(spark, t)
    assert(after.files.exists(_.path == bFile.path),
      s"untouched file must survive the merge: ${after.files.map(_.path)}")
    assert(!after.files.exists(_.path ==
        before.files.find(_.partitionValues("part") == "a").get.path),
      "the touched file must be rewritten")
  }

  test("merge records update pre/post images + inserts in the change feed") {
    val t = mkTable()
    val staged = Seq((1L, "a", 150L, "N"), (5L, "b", 500L, "N"))
      .toDF("id", "part", "cents", "is_deleted")
    DeltaWrite.merge(spark, t, staged, Seq("id"),
      insertFilter = Some(col("is_deleted") === "N"))
    val feed = DeltaLog.tableChangesCdf(spark, t, 0L, 1L)
      .select("id", "part", "cents", "_change_type")
      .as[(Long, String, Long, String)].collect().toSet
    assert(feed == Set(
      (1L, "a", 100L, "update_preimage"),
      (1L, "a", 150L, "update_postimage"),
      (5L, "b", 500L, "insert")), feed.toString)
    // and the streamed recorded feed sees the same images
    val name = s"dwr_${System.nanoTime()}"
    val q = spark.readStream.format("graft.sources.DeltaCdfProvider")
      .option("table", t).option("feed", "recorded")
      .option("startingVersion", "0").load()
      .writeStream.outputMode("append").format("memory").queryName(name)
      .start()
    try q.processAllAvailable() finally q.stop()
    assert(spark.table(name).select("id", "_change_type")
      .as[(Long, String)].collect().toSet ==
      Set((1L, "update_preimage"), (1L, "update_postimage"),
        (5L, "insert")))
  }

  test("merge on a columnMapping=name table (physical names on disk)") {
    // build a mapped table via the fixture shape the read spec uses
    import org.apache.spark.sql.types._
    def esc(s: String) = s.replace("\\", "\\\\").replace("\"", "\\\"")
    val t = Files.createTempDirectory("deltawrcm")
    val meta = (n: String) => new MetadataBuilder()
      .putString("delta.columnMapping.physicalName", n).build()
    val schema = StructType(Seq(
      StructField("id", LongType, nullable = true, meta("col-aaa")),
      StructField("v", StringType, nullable = true, meta("col-bbb"))))
    val tmp = Files.createTempDirectory("deltawrcm_f")
    Seq((1L, "x"), (2L, "y")).toDF("col-aaa", "col-bbb")
      .coalesce(1).write.mode("overwrite").parquet(tmp.toString)
    val part = DeltaLog.listParquet(tmp).head
    Files.move(part, t.resolve("f0.parquet"))
    DeltaLog.deleteTmp(tmp)
    Files.createDirectories(t.resolve("_delta_log"))
    Files.writeString(t.resolve("_delta_log").resolve(f"${0L}%020d.json"), Seq(
      """{"protocol":{"minReaderVersion":2,"minWriterVersion":5}}""",
      s"""{"metaData":{"id":"cm","schemaString":"${esc(schema.json)}","partitionColumns":[],"configuration":{"delta.columnMapping.mode":"name"}}}""",
      """{"add":{"path":"f0.parquet","partitionValues":{},"dataChange":true}}""")
      .mkString("\n"))
    val staged = Seq((2L, "Y2"), (3L, "z")).toDF("id", "v")
    DeltaWrite.merge(spark, t.toString, staged, Seq("id"))
    assert(DeltaLog.read(spark, t.toString).select("id", "v")
      .as[(Long, String)].collect().toSet ==
      Set((1L, "x"), (2L, "Y2"), (3L, "z")))
    // the rewritten file stores PHYSICAL names
    val st = DeltaLog.state(spark, t.toString)
    val newFile = st.files.find(_.path != "f0.parquet").get
    val cols = spark.read
      .parquet(Paths.get(t.toString, newFile.path).toString)
      .columns.toSet
    assert(cols == Set("col-aaa", "col-bbb"), cols.toString)
  }

  test("merge guard: appendOnly refuses, no-op merge commits nothing") {
    val t = mkTable(cdf = false)
    // no-op: all tombstones for absent keys
    val v = DeltaWrite.merge(spark, t,
      Seq((9L, "a", 1L, "Y")).toDF("id", "part", "cents", "is_deleted"),
      Seq("id"), insertFilter = Some(col("is_deleted") === "N"))
    assert(v == 0L, "no-op merge must not commit")
    // appendOnly forbids merge (it deletes/rewrites rows)
    val log = Paths.get(t, "_delta_log", f"${0L}%020d.json")
    val lines = Files.readString(log).replace(
      """"configuration":{}""",
      """"configuration":{"delta.appendOnly":"true"}""")
    Files.writeString(log, lines)
    val e = intercept[IllegalArgumentException] {
      DeltaWrite.merge(spark, t,
        Seq((1L, "a", 0L, "N")).toDF("id", "part", "cents", "is_deleted"),
        Seq("id"))
    }
    assert(e.getMessage.contains("appendOnly"), e.getMessage)
  }

  test("merge rejects a staged null key by its own message") {
    val t = mkTable()
    val e = intercept[IllegalArgumentException] {
      DeltaWrite.merge(spark, t,
        Seq((Option.empty[Long], "a", 1L, "N")).toDF("id", "part", "cents", "is_deleted"),
        Seq("id"))
    }
    assert(e.getMessage.contains("1 rows with a null pk part (id)") &&
      e.getMessage.endsWith(t), e.getMessage)
    assert(DeltaLog.state(spark, t).version == 0L)
  }

  test("merge schema evolution: added column joins the log, dropped column retained (r13)") {
    val t = mkTable()
    // staged ADDS `note` and DROPS `cents`: the new column joins the table,
    // the dropped one is retained with NULL for the staged rows
    val staged = Seq((1L, "a", "hot", "N"), (5L, "a", "new", "N"))
      .toDF("id", "part", "note", "is_deleted")
    val v = DeltaWrite.merge(spark, t, staged, Seq("id"),
      insertFilter = Some(col("is_deleted") === "N"))
    assert(v == 1L)
    val got = DeltaLog.read(spark, t)
      .select("id", "cents", "note")
      .as[(Long, Option[Long], Option[String])].collect().toSet
    assert(got == Set(
      (1L, None, Some("hot")),      // matched: staged values, dropped col NULL
      (2L, Some(200L), None),       // untouched same-file survivor: note NULL
      (3L, Some(300L), None),       // untouched file
      (4L, Some(400L), None),
      (5L, None, Some("new"))),     // insert under the evolved schema
      got.toString)
    // time travel below the evolution sees the OLD shape
    assert(!DeltaLog.read(spark, t, Some(0L)).columns.contains("note"))
    // the recorded feed carries the evolved shape; v0's derived
    // inserts read NULL for the post-evolution column
    val feed = DeltaLog.tableChangesCdf(spark, t, -1L, 1L)
      .select("id", "note", "_change_type", "_commit_version")
      .as[(Long, Option[String], String, Long)].collect().toSet
    assert(feed.contains((1L, None, "insert", 0L)))
    assert(feed.contains((1L, Some("hot"), "update_postimage", 1L)))
    assert(feed.contains((5L, Some("new"), "insert", 1L)))
    // type evolution and new-column PKs reject loudly
    val e1 = intercept[IllegalArgumentException] {
      DeltaWrite.merge(spark, t,
        Seq(("1", "a", 0L, "N")).toDF("id", "part", "cents", "is_deleted"),
        Seq("id"))
    }
    assert(e1.getMessage.contains("type evolution"), e1.getMessage)
    val e2 = intercept[IllegalArgumentException] {
      DeltaWrite.merge(spark, t,
        Seq((1L, "a", 7L, "N")).toDF("id", "part", "extra_pk", "is_deleted"),
        Seq("extra_pk"))
    }
    assert(e2.getMessage.contains("newly added"), e2.getMessage)
  }

  test("replicateDelta: bootstrap + incremental merge, watermarks advance") {
    import graft.cdc.{Cdc, Pipeline}
    import java.sql.Timestamp
    val dir = Files.createTempDirectory("repdelta").toString
    def ts(s: String) = Timestamp.valueOf(s)
    val run1 = Seq(
      (1L, 10L, ts("2024-01-01 00:00:00"), null.asInstanceOf[Timestamp], "N"),
      (2L, 20L, ts("2024-01-02 00:00:00"), null.asInstanceOf[Timestamp], "N"))
      .toDF("k", "cents", "created_at", "updated_at", "is_deleted")
    val spec = Seq(Pipeline.TableSpec("tbl", Seq("k")))
    val (r1, wm1) = Pipeline.replicateDelta(spark, spec, Nil,
      _ => run1, dir, Map.empty)
    assert(r1.processed == 1 && r1.failed == 0, r1.summary)
    assert(wm1("tbl") == ts("2024-01-02 00:00:00"))
    // run 2: update k=1, soft-delete k=2, insert k=3
    val run2 = run1.unionByName(Seq(
      (1L, 15L, ts("2024-01-01 00:00:00"), ts("2024-02-01 00:00:00"), "N"),
      (2L, 20L, ts("2024-01-02 00:00:00"), ts("2024-02-01 00:00:00"), "Y"),
      (3L, 30L, ts("2024-02-02 00:00:00"), null.asInstanceOf[Timestamp], "N"))
      .toDF("k", "cents", "created_at", "updated_at", "is_deleted"))
    val (r2, wm2) = Pipeline.replicateDelta(spark, spec, Nil,
      _ => run2, dir, wm1)
    assert(r2.processed == 1 && r2.failed == 0, r2.results.toString)
    assert(wm2("tbl") == ts("2024-02-02 00:00:00"))
    val got = DeltaLog.read(spark, s"$dir/tbl")
      .select("k", "cents", "is_deleted")
      .as[(Long, Long, String)].collect().toSet
    assert(got == Set((1L, 15L, "N"), (2L, 20L, "Y"), (3L, 30L, "N")), got)
    // the merge commit recorded its images
    val feed = DeltaLog.tableChangesCdf(spark, s"$dir/tbl", 0L, 1L)
      .select("k", "_change_type").as[(Long, String)].collect().toSet
    assert(feed == Set(
      (1L, "update_preimage"), (1L, "update_postimage"),
      (2L, "update_preimage"), (2L, "update_postimage"),
      (3L, "insert")), feed.toString)
  }

  test("replicateDelta: checkpoint cadence bounds log replay (r14)") {
    import graft.cdc.Pipeline
    import java.sql.Timestamp
    val dir = Files.createTempDirectory("repdelta_ck").toString
    val spec = Seq(Pipeline.TableSpec("tbl", Seq("k")))
    var wm = Map.empty[String, Timestamp]
    var rows = Seq.empty[(Long, Long, Timestamp, Timestamp, String)]
    // 25 runs, one insert each: create at v0, merges at v1..v24 —
    // the default cadence (10) checkpoints at v10 and v20
    (0 until 25).foreach { i =>
      rows = rows :+ ((i.toLong, i * 10L,
        new Timestamp(1700000000000L + i * 86400000L),
        null.asInstanceOf[Timestamp], "N"))
      val src = rows.toDF("k", "cents", "created_at", "updated_at",
        "is_deleted")
      val (r, w) = Pipeline.replicateDelta(spark, spec, Nil,
        _ => src, dir, wm)
      assert(r.processed == 1 && r.failed == 0, r.results.toString)
      wm = w
    }
    val logDir = java.nio.file.Paths.get(dir, "tbl", "_delta_log")
    assert(Files.exists(logDir.resolve(f"${10L}%020d.checkpoint.parquet")))
    assert(Files.exists(logDir.resolve(f"${20L}%020d.checkpoint.parquet")))
    assert(Files.readString(logDir.resolve("_last_checkpoint"))
      .contains("\"version\":20"))
    // the replay-span probe: trim every JSON commit below the newest
    // checkpoint (what log retention does) — the read must come back
    // complete, which it only can by replaying FROM the checkpoint
    (0L until 20L).foreach { v =>
      Files.deleteIfExists(logDir.resolve(f"$v%020d.json"))
    }
    val st = DeltaLog.state(spark, s"$dir/tbl")
    assert(st.version == 24L, s"replayed to v${st.version}")
    val got = DeltaLog.read(spark, s"$dir/tbl")
      .select("k").as[Long].collect().toSet
    assert(got == (0L until 25L).toSet, s"${got.size} keys after trim")
  }

  test("a foreign table id survives a checkpoint and an evolving merge") {
    val t = mkTable()
    val v0 = Paths.get(t, "_delta_log", f"${0L}%020d.json")
    val ours = s""""id":"graft-${Paths.get(t).getFileName}""""
    assert(Files.readString(v0).contains(ours))
    Files.writeString(v0, Files.readString(v0).replace(ours, "\"id\":\"cm\""))
    assert(DeltaLog.writeCheckpoint(spark, t) == 0L)
    Files.delete(v0)
    assert(DeltaLog.state(spark, t).metaDataId == "cm", "id lost through the checkpoint")
    assert(DeltaWrite.merge(spark, t, Seq((1L, "a", 150L, "hot", "N"))
      .toDF("id", "part", "cents", "note", "is_deleted"), Seq("id")) == 1L)
    val v1 = Files.readString(Paths.get(t, "_delta_log", f"${1L}%020d.json"))
    assert(v1.contains("\"metaData\":{\"id\":\"cm\""), v1)
    assert(DeltaLog.state(spark, t).metaDataId == "cm", "id lost through the evolving merge")
  }
}
