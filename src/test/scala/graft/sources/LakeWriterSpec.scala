package graft.sources

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._

import graft.SparkTestSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The shared lake file writer: partition values come back unescaped
  * and land where the caller says, the staging dir never outlives a
  * write (failed or not), and the single-file form refuses a write
  * that split into several parts before anything moves.
  */
class LakeWriterSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private def stagingDirs(): Set[Path] = {
    val st = Files.list(Paths.get(System.getProperty("java.io.tmpdir")))
    try st.iterator().asScala
      .filter(_.getFileName.toString.startsWith(LakeWriter.TmpPrefix)).toSet
    finally st.close()
  }

  test("escaped and multi-byte partition values land at the caller's paths") {
    // a multi-byte value Hive-escaped as one run of %XX triples decodes
    // as one UTF-8 sequence
    assert(IcebergCatalog.unescapePartitionValue("x%C3%A9%E6%97%A5%E6%9C%AC") == "xé日本")
    // raw multi-byte directory names need a JVM whose path encoding can
    // represent them (a POSIX-locale JVM cannot create them at all)
    val jnu = java.nio.charset.Charset.forName(System.getProperty("sun.jnu.encoding"))
    val values = Seq("a/b", "x=y", "50%", "sp ace", "q\"t") ++
      Seq("é", "日本").filter(jnu.newEncoder().canEncode(_))
    val df = values.zipWithIndex.map { case (v, i) => (i.toLong, v) }.toDF("id", "p")
    val out = Files.createTempDirectory("lakewr_pv")
    val before = stagingDirs()
    val written = LakeWriter.writeParquet(df, Seq("p"))((pv, i) =>
      out.resolve(s"n${pv("p").length}").resolve(s"f-$i.parquet"))
    assert(stagingDirs() == before, "staging dir left behind")
    assert(written.map(_._2("p")).toSet == values.toSet)
    written.zipWithIndex.foreach { case ((dst, pv), i) =>
      assert(dst == out.resolve(s"n${pv("p").length}").resolve(s"f-$i.parquet"))
      assert(Files.isRegularFile(dst))
      // the file holds exactly that partition's rows (partition column
      // dropped, as in any partitioned write)
      val ids = spark.read.parquet(dst.toString).as[Long].collect().toSeq
      assert(ids == Seq(values.indexOf(pv("p")).toLong), s"$pv -> $ids")
    }
  }

  test("the staging dir is removed after a success and after a failing write") {
    val before = stagingDirs()
    val target = Files.createTempDirectory("lakewr_ok").resolve("one.parquet")
    LakeWriter.writeParquetFile(Seq(1L, 2L).toDF("id"), target)
    assert(Files.isRegularFile(target))
    assert(stagingDirs() == before)
    // a Spark write that fails mid-task
    val boom = Seq(1L).toDF("id").select(
      raise_error(lit("boom")).cast("long").as("id"))
    intercept[Exception] {
      LakeWriter.writeParquet(boom)((_, i) => target.resolveSibling(s"x-$i.parquet"))
    }
    assert(stagingDirs() == before, "failed write left its staging dir")
    // a commit that rejects what the write produced: Iceberg's empty append
    val t = Files.createTempDirectory("lakewr_ice").resolve("tbl").toString
    IcebergCatalog.createTable(t, Seq(("id", "long", true), ("p", "string", false)),
      Seq(("p", "identity", "p")))
    val e = intercept[IllegalArgumentException] {
      IcebergCatalog.commitAppend(spark, t,
        Seq.empty[(Long, String)].toDF("id", "p"), 2L)
    }
    assert(e.getMessage.contains("empty append"))
    assert(stagingDirs() == before, "rejected append left its staging dir")
  }

  test("the single-file form rejects a write of more than one part") {
    val before = stagingDirs()
    val target = Files.createTempDirectory("lakewr_single").resolve("one.parquet")
    val key = "spark.sql.files.maxRecordsPerFile"
    val prior = spark.conf.getOption(key)
    spark.conf.set(key, "1")
    try {
      val e = intercept[IllegalArgumentException] {
        LakeWriter.writeParquetFile(Seq(1L, 2L, 3L).toDF("id"), target)
      }
      assert(e.getMessage.contains("3 parquet parts"), e.getMessage)
    } finally prior.fold(spark.conf.unset(key))(spark.conf.set(key, _))
    assert(!Files.exists(target), "nothing may move when the part count is wrong")
    assert(stagingDirs() == before)
  }
}
