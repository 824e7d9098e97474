package graft.sources

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths}
import java.util.UUID
import scala.jdk.CollectionConverters._

import graft.SparkTestSession
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Fixed Delta and Iceberg write sequences whose log and metadata
  * files are pinned byte for byte under `src/test/resources/lake_bytes`.
  * Every clock is pinned (no in-commit timestamps, fixed snapshot
  * `timestamp-ms`, a fixed deletion-vector UUID) and absolute table
  * paths are replaced by `<delta>`, `<plain>`, `<ice>` and `<eqdel>`,
  * so the files depend only on what the writers emit.
  */
object LakeBytesFixture {

  /** (resource name, normalized content) of every pinned file. */
  def build(spark: SparkSession): Seq[(String, String)] = {
    import spark.implicits._
    val root = Files.createTempDirectory("lake_bytes")
    def dir(name: String): String = root.resolve(name).toAbsolutePath.toString
    val tables = Seq("delta", "plain", "ice", "eqdel").map(n => n -> dir(s"pinned_$n"))
    def norm(s: String): String = tables.foldLeft(s) { case (acc, (n, p)) =>
      acc.replace(p, s"<$n>")
    }
    def read(p: Path): String = norm(Files.readString(p))
    val cols = Seq("id", "part", "cents", "is_deleted")

    // Delta, CDF on: create, merge, compact, deleteWithDv, checkpoint, append
    val d = dir("pinned_delta")
    DeltaWrite.create(spark, d, Seq((1L, "a", 100L, "N"), (2L, "a", 200L, "N"),
      (3L, "b", 300L, "N"), (4L, "b", 400L, "N")).toDF(cols: _*),
      partitionColumns = Seq("part"),
      configuration = Map("delta.enableChangeDataFeed" -> "true"))
    DeltaWrite.merge(spark, d, Seq((1L, "a", 150L, "N"), (2L, "a", 200L, "Y"),
      (5L, "b", 500L, "N"), (9L, "a", 900L, "Y")).toDF(cols: _*), Seq("id"),
      insertFilter = Some(col("is_deleted") === "N"))
    DeltaLog.compact(spark, d)
    val compacted = DeltaLog.state(spark, d).files
      .filter(_.partitionValues("part") == "b").map(_.path).min
    DeltaLog.deleteWithDv(spark, d, compacted, col("id") === 3L,
      uuid = UUID.fromString("00000000-0000-0000-0000-00000000d1d1"))
    DeltaLog.writeCheckpoint(spark, d)
    DeltaWrite.append(spark, d, Seq((6L, "a", 600L, "N")).toDF(cols: _*))

    // Delta without long data columns: count-only stats, empty bounds
    val p = dir("pinned_plain")
    DeltaWrite.create(spark, p, Seq(("x", "p"), ("y", "p")).toDF("k", "part"),
      partitionColumns = Seq("part"))
    DeltaWrite.append(spark, p, Seq(("z", "p")).toDF("k", "part"))
    DeltaLog.compact(spark, p)

    // Iceberg with version-hint.text: every publishing operation once
    val t = dir("pinned_ice")
    IcebergCatalog.createTable(t, Seq(("id", "long", true),
      ("part", "string", false), ("cents", "long", false)),
      Seq(("part", "identity", "part")), snapshotId0 = 1L)
    Files.writeString(Paths.get(t, "metadata", "version-hint.text"), "1")
    IcebergCatalog.commitAppend(spark, t, Seq((1L, "a", 100L), (2L, "a", 200L),
      (3L, "b", 300L), (4L, "b", 400L)).toDF("id", "part", "cents"), 2L,
      timestampMs = 1000L)
    IcebergCatalog.commitMerge(spark, t, Seq((1L, "a", 150L), (5L, "b", 500L))
      .toDF("id", "part", "cents"), Seq("id"), 3L, timestampMs = 2000L)
    IcebergCatalog.createRef(t, "audit", 3L, "tag")
    IcebergCatalog.createRef(t, "main", 3L, "branch")
    val partB = IcebergCatalog.state(spark, t).files
      .filter(_.partition("part").toString == "b").map(_.path).min
    IcebergCatalog.commitPositionDelete(spark, t, Paths.get(partB).getFileName.toString,
      col("cents") > 0L, 4L, timestampMs = 3000L)
    IcebergCatalog.commitMerge(spark, t, Seq((2L, "a", 250L)).toDF("id", "part", "cents"),
      Seq("id"), 5L, timestampMs = 4000L)
    IcebergCatalog.addColumn(t, "note", "string")
    IcebergCatalog.evolveSpec(t, Seq(("id_b", "bucket[4]", "id")))
    IcebergCatalog.createRef(t, "dev", 5L, "branch")
    IcebergCatalog.commitAppend(spark, t, Seq((7L, "c", 700L, "n7"))
      .toDF("id", "part", "cents", "note"), 6L, timestampMs = 5000L, branch = "dev")
    IcebergCatalog.fastForward(t, "dev")
    IcebergCatalog.rollbackTo(t, 5L)
    val (kept, deleted) = IcebergCatalog.expireSnapshots(t, keepLast = 2)

    // Iceberg equality delete (unsequenced: the table's last commit)
    val e = dir("pinned_eqdel")
    IcebergCatalog.createTable(e, Seq(("id", "long", true), ("v", "string", false)))
    IcebergCatalog.commitAppend(spark, e, Seq((1L, "a"), (2L, "b")).toDF("id", "v"), 2L)
    IcebergCatalog.commitEqualityDelete(spark, e, Seq("id"), Seq(2L).toDF("id"), 3L)

    def listed(dir: Path, keep: String => Boolean): Seq[Path] = {
      val st = Files.list(dir)
      try st.iterator().asScala.filter(f => keep(f.getFileName.toString))
        .toSeq.sortBy(_.getFileName.toString)
      finally st.close()
    }
    def deltaFiles(name: String, table: String): Seq[(String, String)] = {
      val log = Paths.get(table, "_delta_log")
      listed(log, n => n.endsWith(".json") || n == "_last_checkpoint")
        .map(f => s"$name/${f.getFileName}" -> read(f))
    }
    def iceFiles(name: String, table: String): Seq[(String, String)] = {
      val md = Paths.get(table, "metadata")
      listed(md, n => n.endsWith(".metadata.json") || n == "version-hint.text")
        .map(f => s"$name/${f.getFileName}" -> read(f))
    }
    // the manifests are Avro (sync markers vary per write): pin what
    // they carry through the reader instead
    def iceState(table: String): String = {
      val st = IcebergCatalog.state(spark, table)
      def file(f: IcebergCatalog.IceFile): String =
        s"${norm(f.path)} seq=${f.seq} spec=${f.specId}" +
          f.partition.toSeq.sortBy(_._1).map { case (k, v) => s" $k=$v" }.mkString +
          f.bounds.toSeq.sortBy(_._1).map { case (k, (lo, hi)) => s" $k:[$lo,$hi]" }.mkString
      (s"snapshot ${st.snapshotId}" +: st.files.sortBy(_.path).map("data " + file(_))) ++
        st.posDeletes.sortBy(_.path).map("pos " + file(_)) ++
        st.eqDeletes.sortBy(_._1.path).map { case (f, c, s) =>
          s"eq ${file(f)} cols=${c.mkString(",")} dseq=$s" }
    }.mkString("", "\n", "\n")

    deltaFiles("delta", d) ++ deltaFiles("plain", p) ++
      iceFiles("ice", t) ++ iceFiles("eqdel", e) ++ Seq(
        "ice/state.txt" -> (iceState(t) + s"expired kept=$kept deleted=$deleted\n"),
        "eqdel/state.txt" -> iceState(e))
  }
}

class LakeBytesSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark

  test("Delta commits and Iceberg metadata stay byte-identical to the pinned files") {
    val built = LakeBytesFixture.build(spark)
    val index = resource("index.txt").linesIterator.filter(_.nonEmpty).toSeq
    assert(built.map(_._1) == index,
      "the fixture produced a different set of log/metadata files")
    built.foreach { case (name, content) =>
      assert(content == resource(name), s"$name differs from the pinned bytes")
    }
  }

  private def resource(name: String): String = {
    val in = getClass.getResourceAsStream(s"/lake_bytes/$name")
    assert(in != null, s"missing pinned file lake_bytes/$name")
    try new String(in.readAllBytes(), StandardCharsets.UTF_8) finally in.close()
  }
}
