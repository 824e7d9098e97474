package graft.sources

import java.nio.file.{Files, Path, Paths}
import java.util.concurrent.{Callable, Executors}
import scala.jdk.CollectionConverters._
import scala.util.Try

import graft.SparkTestSession
import org.scalatest.funsuite.AnyFunSuite

/** One writer per version: a Delta commit or Iceberg metadata version
  * that is already taken fails loudly and leaves the first writer's
  * bytes in place; pointer files are swapped in whole; expiration
  * publishes before it deletes.
  */
class LakeCommitSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private def names(dir: Path): Set[String] = {
    val st = Files.list(dir)
    try st.iterator().asScala.map(_.getFileName.toString).toSet
    finally st.close()
  }

  private def tree(root: Path): Set[Path] = {
    val st = Files.walk(root)
    try st.iterator().asScala.filter(Files.isRegularFile(_)).toSet
    finally st.close()
  }

  private def deltaTable(): String = {
    val t = Files.createTempDirectory("lakecommit_delta").resolve("t").toString
    DeltaWrite.create(spark, t, Seq((1L, "a"), (2L, "b")).toDF("id", "v"))
    t
  }

  test("two writeCommits at one version: the second fails, the first's bytes stay") {
    val t = deltaTable()
    val st = DeltaLog.state(spark, t)
    val first = """{"commitInfo":{"writer":"first"}}"""
    DeltaLog.writeCommit(t, st, 1L, Seq(first))
    val e = intercept[IllegalStateException] {
      DeltaLog.writeCommit(t, st, 1L, Seq("""{"commitInfo":{"writer":"second"}}"""))
    }
    assert(e.getMessage.contains("already exists"), e.getMessage)
    val log = Paths.get(t, "_delta_log")
    assert(Files.readString(log.resolve(f"${1L}%020d.json")) == first)
    assert(!names(log).exists(_.endsWith(".tmp")), s"staging left: ${names(log)}")
  }

  test("writers racing for one Delta version: exactly one wins") {
    val t = deltaTable()
    val st = DeltaLog.state(spark, t)
    val pool = Executors.newFixedThreadPool(8)
    val outcomes = try (0 until 8).map { i =>
      pool.submit(new Callable[Try[Unit]] {
        def call(): Try[Unit] =
          Try(DeltaLog.writeCommit(t, st, 1L, Seq(s"""{"commitInfo":{"writer":$i}}""")))
      })
    }.map(_.get()) finally pool.shutdown()
    assert(outcomes.count(_.isSuccess) == 1, outcomes)
    assert(outcomes.filter(_.isFailure).forall(_.failed.get.isInstanceOf[IllegalStateException]))
    val winner = outcomes.indexWhere(_.isSuccess)
    assert(Files.readString(Paths.get(t, "_delta_log", f"${1L}%020d.json")) ==
      s"""{"commitInfo":{"writer":$winner}}""")
  }

  test("_last_checkpoint is swapped in whole, with no staging file left") {
    val t = deltaTable()
    DeltaLog.writeCheckpoint(spark, t)
    DeltaWrite.append(spark, t, Seq((3L, "c")).toDF("id", "v"))
    DeltaLog.writeCheckpoint(spark, t)
    val log = Paths.get(t, "_delta_log")
    val st = DeltaLog.state(spark, t)
    assert(st.version == 1L)
    assert(Files.readString(log.resolve("_last_checkpoint")) ==
      s"""{"version":1,"size":${1 + st.files.size}}""")
    assert(!names(log).exists(_.endsWith(".tmp")), s"staging left: ${names(log)}")
  }

  /** An Iceberg table at metadata v1 that keeps `version-hint.text`. */
  private def icebergTable(): (String, Path) = {
    val t = Files.createTempDirectory("lakecommit_ice").resolve("t").toString
    IcebergCatalog.createTable(t, Seq(("id", "long", true)))
    val mdir = Paths.get(t, "metadata")
    Files.writeString(mdir.resolve("version-hint.text"), "1")
    (t, mdir)
  }

  test("two Iceberg metadata commits from one base: the second fails, the first's bytes stay") {
    val (t, mdir) = icebergTable()
    assert(IcebergCatalog.createRef(t, "a", 1L) == 2L)
    val v2 = Files.readString(mdir.resolve("v2.metadata.json"))
    assert(Files.readString(mdir.resolve("version-hint.text")) == "2")
    // the second writer read the same base: the hint still said v1
    Files.writeString(mdir.resolve("version-hint.text"), "1")
    val e = intercept[IllegalStateException](IcebergCatalog.createRef(t, "b", 1L))
    assert(e.getMessage.contains("already exists"), e.getMessage)
    assert(Files.readString(mdir.resolve("v2.metadata.json")) == v2)
    assert(!Files.exists(mdir.resolve("v3.metadata.json")))
    assert(!names(mdir).exists(_.endsWith(".tmp")), s"staging left: ${names(mdir)}")
  }

  test("expireSnapshots publishes before it deletes: a taken version deletes nothing") {
    val (t, mdir) = icebergTable()
    (2L to 4L).foreach(s =>
      IcebergCatalog.commitAppend(spark, t, Seq(s).toDF("id"), s))
    assert(Files.readString(mdir.resolve("version-hint.text")) == "4")
    val files = tree(Paths.get(t))
    // a concurrent commit took v5 and has not moved the hint yet
    Files.writeString(mdir.resolve("v5.metadata.json"), "{}")
    intercept[IllegalStateException](IcebergCatalog.expireSnapshots(t, keepLast = 1))
    assert(tree(Paths.get(t)) == files + mdir.resolve("v5.metadata.json"),
      "expireSnapshots deleted files although its metadata never published")
    assert(Files.readString(mdir.resolve("v5.metadata.json")) == "{}")
    // once the version is free the same call expires and deletes
    Files.delete(mdir.resolve("v5.metadata.json"))
    val (kept, deleted) = IcebergCatalog.expireSnapshots(t, keepLast = 1)
    assert(kept == 1 && deleted > 0, s"kept=$kept deleted=$deleted")
    assert(IcebergCatalog.read(spark, t).as[Long].collect().toSet == Set(2L, 3L, 4L))
  }
}
