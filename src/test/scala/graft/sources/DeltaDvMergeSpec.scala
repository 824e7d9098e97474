package graft.sources

import java.nio.file.{Files, Paths}
import java.sql.Timestamp
import scala.jdk.CollectionConverters._

import graft.SparkTestSession
import graft.cdc.{Cdc, Pipeline}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Merge-on-read Delta replicas: `DeltaWrite.merge` on a table with
  * `delta.enableDeletionVectors=true` marks matched rows with a deletion
  * vector instead of rewriting their files, and every reader (the scan,
  * compaction, the change feed) applies the DVs through one step.
  */
class DeltaDvMergeSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private val cols = Seq("k", "part", "cents", "is_deleted")
  private val live = col("is_deleted") === "N"

  private def rows(r: (Long, Long, String)*): DataFrame =
    r.map { case (k, c, d) => (k, if (k % 2 == 0) "a" else "b", c, d) }
      .toDF(cols: _*)

  /** Three staged batches; the second re-touches the v0 part=b file,
    * which the first already marked, and the third re-touches the
    * first merge's new file, which the second marked. */
  private val batches = Seq(
    rows((1L, 11L, "N"), (2L, 20L, "Y"), (20L, 200L, "N"), (99L, 0L, "Y")),
    rows((3L, 31L, "N"), (1L, 12L, "N"), (21L, 210L, "N")),
    rows((4L, 41L, "N"), (20L, 201L, "N"), (5L, 50L, "Y")))

  /** A 20-row table partitioned on `part` (one file per partition),
    * then the three batches merged; `dv` picks merge-on-read. */
  private def replica(dv: Boolean): String = {
    val t = Files.createTempDirectory(if (dv) "dvmerge_dv" else "dvmerge_cow").toString
    val conf = Map("delta.enableChangeDataFeed" -> "true") ++
      (if (dv) Map("delta.enableDeletionVectors" -> "true") else Map.empty)
    DeltaWrite.create(spark, t, rows((0L until 20L).map(k => (k, k * 10, "N")): _*)
      .coalesce(1), partitionColumns = Seq("part"), configuration = conf)
    batches.zipWithIndex.foreach { case (b, i) =>
      assert(DeltaWrite.merge(spark, t, b, Seq("k"), insertFilter = Some(live)) == i + 1L)
    }
    t
  }

  private def checksum(t: String) =
    Cdc.tableChecksum(DeltaLog.read(spark, t), cols).head()

  private def sorted(df: DataFrame): Seq[String] =
    df.collect().map(_.toSeq.mkString("|")).toSeq.sorted

  test("a DV replica and a copy-on-write replica of the same batches agree") {
    val cow = replica(dv = false)
    val dv = replica(dv = true)
    assert(checksum(dv) == checksum(cow))
    assert(checksum(dv).getLong(0) == 22L) // 20 base rows + 2 inserts
    val feed = (t: String) => sorted(DeltaLog.tableChangesCdf(spark, t, -1L, 3L)
      .select((cols :+ "_change_type" :+ "_commit_version").map(col): _*))
    assert(feed(dv) == feed(cow))
    // the protocol declares the feature; no file of v0 was rewritten,
    // and the v0 part=b file's DV is the union of two batches
    val st = DeltaLog.state(spark, dv)
    assert(st.minReaderVersion == 3 && st.readerFeatures == Seq("deletionVectors"))
    assert(st.minWriterVersion == 7 &&
      st.writerFeatures == Seq("deletionVectors", "changeDataFeed"))
    val v0 = DeltaLog.state(spark, dv, Some(0L)).files
    assert(v0.map(_.path).toSet.subsetOf(st.files.map(_.path).toSet))
    val b0 = st.files.find(f => f.path == v0.find(_.partitionValues("part") == "b").get.path).get
    assert(b0.deletionVector.map(_.cardinality).contains(3L)) // k = 1, 3, 5
    assert(b0.stats.exists(_.contains("\"numRecords\":10")), "the re-add keeps the file's stats")
    val cowV0 = DeltaLog.state(spark, cow, Some(0L)).files
    assert(!DeltaLog.state(spark, cow).files.exists(cowV0.contains),
      "copy-on-write rewrites every touched file")
  }

  test("a DV replica checkpointed every commit reads back complete after the log is trimmed") {
    val dir = Files.createTempDirectory("dvmerge_ck").toString
    val spec = Seq(Pipeline.TableSpec("tbl", Seq("k")))
    def src(r: Seq[(Long, Long, Int, Int, String)]) =
      r.map { case (k, c, cr, up, d) =>
        (k, c, new Timestamp(1700000000000L + cr * 86400000L),
          if (up < 0) null else new Timestamp(1700000000000L + up * 86400000L), d)
      }.toDF("k", "cents", "created_at", "updated_at", "is_deleted")
    val base = (0L until 10L).map(k => (k, k * 10, 0, -1, "N"))
    val runs = Seq(base,
      base :+ ((1L, 11L, 0, 1, "N")) :+ ((2L, 21L, 0, 1, "N")),
      base :+ ((2L, 22L, 0, 2, "N")) :+ ((3L, 30L, 0, 2, "Y")),
      base :+ ((4L, 41L, 0, 3, "N")) :+ ((10L, 100L, 3, -1, "N")))
    var wm = Map.empty[String, Timestamp]
    runs.foreach { r =>
      val (rep, w) = Pipeline.replicateDelta(spark, spec, Nil, _ => src(r), dir, wm,
        checkpointEvery = 1)
      assert(rep.processed == 1 && rep.failed == 0, rep.results.toString)
      wm = w
    }
    val log = Paths.get(dir, "tbl", "_delta_log")
    assert(Files.exists(log.resolve(f"${3L}%020d.checkpoint.parquet")))
    (0L until 3L).foreach(v => Files.deleteIfExists(log.resolve(f"$v%020d.json")))
    val st = DeltaLog.state(spark, s"$dir/tbl")
    assert(st.version == 3L && st.readerFeatures == Seq("deletionVectors"))
    assert(st.files.exists(_.deletionVector.isDefined), "the checkpoint carries the DVs")
    val got = DeltaLog.read(spark, s"$dir/tbl").select("k", "cents", "is_deleted")
      .as[(Long, Long, String)].collect().toSet
    assert(got == (0L until 10L).map(k => (k, k * 10, "N")).toSet --
      Seq((1L, 10L, "N"), (2L, 20L, "N"), (3L, 30L, "N"), (4L, 40L, "N")) ++
      Seq((1L, 11L, "N"), (2L, 22L, "N"), (3L, 30L, "Y"), (4L, 41L, "N"), (10L, 100L, "N")))
  }

  test("vacuum keeps the live DV files and drops the superseded ones") {
    val t = replica(dv = true)
    val before = sorted(DeltaLog.read(spark, t))
    def bins = {
      val st = Files.list(Paths.get(t))
      try st.iterator().asScala.filter(_.getFileName.toString.startsWith("deletion_vector_"))
        .map(_.toAbsolutePath.normalize).toSet
      finally st.close()
    }
    val liveBins = DeltaLog.state(spark, t).files
      .flatMap(_.deletionVector).flatMap(DeltaLog.dvBinPath(t, _)).toSet
    assert(liveBins.nonEmpty && liveBins.subsetOf(bins) && bins.size > liveBins.size)
    DeltaLog.vacuum(spark, t, retainLast = 1)
    assert(bins == liveBins)
    assert(sorted(DeltaLog.read(spark, t)) == before)
  }

  test("compact folds the DVs away") {
    val t = replica(dv = true)
    val before = sorted(DeltaLog.read(spark, t))
    assert(DeltaLog.compact(spark, t) == 4L)
    assert(DeltaLog.state(spark, t).files.forall(_.deletionVector.isEmpty))
    assert(sorted(DeltaLog.read(spark, t)) == before)
    assert(DeltaLog.tableChangesCdf(spark, t, 3L, 4L).count() == 0L,
      "compaction changes no data")
  }

  test("the driver-decoded filter and the executor anti-join drop the same rows") {
    val t = replica(dv = true)
    def read() = {
      val df = DeltaLog.read(spark, t)
      (sorted(df), df.queryExecution.executedPlan.toString.contains("LeftAnti"))
    }
    val (driver, driverJoins) = read()
    spark.conf.set("spark.graft.graph.waveRows", "-1")
    val (executor, executorJoins) =
      try read() finally spark.conf.unset("spark.graft.graph.waveRows")
    assert(!driverJoins && executorJoins, "each cap side takes its own path")
    assert(driver == executor)
    assert(driver.size == 22)
  }

  test("one merge writes one DV file for all the files it touches") {
    val t = Files.createTempDirectory("dvmerge_bin").toString
    DeltaWrite.create(spark, t, rows((0L until 20L).map(k => (k, k * 10, "N")): _*)
      .coalesce(1), partitionColumns = Seq("part"),
      configuration = Map("delta.enableDeletionVectors" -> "true"))
    def bins = {
      val st = Files.list(Paths.get(t))
      try st.iterator().asScala.filter(_.getFileName.toString.startsWith("deletion_vector_"))
        .map(_.toAbsolutePath.normalize).toSet
      finally st.close()
    }
    def liveBins = DeltaLog.state(spark, t).files
      .flatMap(_.deletionVector).flatMap(DeltaLog.dvBinPath(t, _)).toSet
    var expect = (0L until 20L).map(k => k -> k * 10).toMap
    def check(): Unit = assert(DeltaLog.read(spark, t).select("k", "cents")
      .as[(Long, Long)].collect().toSet == expect.toSet)
    def mergeRow(k: Long, c: Long): Unit = {
      DeltaWrite.merge(spark, t, rows((k, c, "N")), Seq("k"))
      expect += k -> c
    }
    // k = 1 and 2 live in the part=b and part=a files: one .bin, two DVs
    DeltaWrite.merge(spark, t, rows((1L, 11L, "N"), (2L, 21L, "N")), Seq("k"))
    expect ++= Map(1L -> 11L, 2L -> 21L)
    val first = bins
    assert(first.size == 1, first)
    val dvs = DeltaLog.state(spark, t).files.flatMap(_.deletionVector)
    assert(dvs.size == 2 && dvs.map(_.offset).distinct.size == 2, dvs)
    assert(dvs.flatMap(DeltaLog.dvBinPath(t, _)).toSet == first)
    check()
    // re-touch only the part=b file: the part=a file still references
    // the first .bin, so vacuum keeps it
    mergeRow(3L, 31L)
    assert(bins.size == 2 && first.subsetOf(liveBins))
    DeltaLog.vacuum(spark, t, retainLast = 1)
    assert(bins == liveBins && first.subsetOf(bins))
    check()
    // re-touch the part=a file too: nothing live references the first
    // .bin any more, and vacuum drops it
    mergeRow(4L, 41L)
    assert(!first.exists(liveBins.contains))
    DeltaLog.vacuum(spark, t, retainLast = 1)
    assert(bins == liveBins && !first.exists(bins.contains))
    check()
  }
}
