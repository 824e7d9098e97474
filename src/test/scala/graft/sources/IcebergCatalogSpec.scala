package graft.sources

import java.nio.file.{Files, Path}
import scala.jdk.CollectionConverters._

import graft.SparkTestSession
import org.apache.avro.Schema
import org.apache.avro.file.DataFileWriter
import org.apache.avro.generic.{GenericData, GenericDatumWriter, GenericRecord}
import org.apache.spark.sql.DataFrame
import org.scalatest.funsuite.AnyFunSuite

/** F15: the Iceberg reader against a spec-faithful hand-built table —
  * metadata.json + Avro manifest list + Avro manifests with
  * added/existing/deleted entries, snapshot time travel, partition
  * pruning, v2 positional/equality delete application, numeric
  * metadata-version ordering, default-spec-id resolution, manifest
  * bound-based file skipping, and loud rejection of the stated subset
  * boundaries (missing equality_ids, partial-scope equality deletes).
  */
class IcebergCatalogSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private val manifestListSchema = new Schema.Parser().parse(
    """{"type":"record","name":"manifest_file","fields":[
      |  {"name":"manifest_path","type":"string"}]}""".stripMargin)

  private val manifestSchema = new Schema.Parser().parse(
    """{"type":"record","name":"manifest_entry","fields":[
      |  {"name":"status","type":"int"},
      |  {"name":"data_file","type":{"type":"record","name":"data_file","fields":[
      |    {"name":"file_path","type":"string"},
      |    {"name":"content","type":"int"},
      |    {"name":"partition","type":{"type":"record","name":"part_r","fields":[
      |      {"name":"part","type":"string"}]}},
      |    {"name":"record_count","type":"long"}]}}]}""".stripMargin)

  private def writeManifestList(path: Path, manifests: Seq[Path]): Unit = {
    val w = new DataFileWriter[GenericRecord](
      new GenericDatumWriter[GenericRecord](manifestListSchema))
    w.create(manifestListSchema, path.toFile)
    manifests.foreach { m =>
      val r = new GenericData.Record(manifestListSchema)
      r.put("manifest_path", m.toString)
      w.append(r)
    }
    w.close()
  }

  /** entries: (status, filePath, content, partValue) */
  private def writeManifest(path: Path,
                            entries: Seq[(Int, String, Int, String)]): Unit = {
    val dfSchema = manifestSchema.getField("data_file").schema()
    val partSchema = dfSchema.getField("partition").schema()
    val w = new DataFileWriter[GenericRecord](
      new GenericDatumWriter[GenericRecord](manifestSchema))
    w.create(manifestSchema, path.toFile)
    entries.foreach { case (status, fp, content, part) =>
      val pr = new GenericData.Record(partSchema)
      pr.put("part", part)
      val df = new GenericData.Record(dfSchema)
      df.put("file_path", fp); df.put("content", content)
      df.put("partition", pr); df.put("record_count", 1L)
      val e = new GenericData.Record(manifestSchema)
      e.put("status", status); e.put("data_file", df)
      w.append(e)
    }
    w.close()
  }

  private def writeDataFile(df: DataFrame, table: Path, rel: String): String =
    graft.TempDirs.withTempDir("icefile") { tmp =>
      df.coalesce(1).write.mode("overwrite").parquet(tmp.toString)
      val part = Files.list(tmp).iterator().asScala
        .find(_.getFileName.toString.endsWith(".parquet")).get
      val target = table.resolve(rel)
      Files.createDirectories(target.getParent)
      Files.move(part, target)
      target.toString
    }

  private def metadataJson(current: Long,
                           snaps: Seq[(Long, Path)]): String = {
    val snapJson = snaps.map { case (id, ml) =>
      s"""{"snapshot-id": $id, "manifest-list": "$ml"}"""
    }.mkString(",")
    s"""{
       |  "format-version": 2,
       |  "current-snapshot-id": $current,
       |  "current-schema-id": 0,
       |  "schemas": [{"schema-id": 0, "type": "struct", "fields": [
       |    {"id": 1, "name": "id", "required": true, "type": "long"},
       |    {"id": 2, "name": "v", "required": false, "type": "string"},
       |    {"id": 3, "name": "part", "required": false, "type": "string"}]}],
       |  "partition-specs": [{"spec-id": 0, "fields": [
       |    {"name": "part", "transform": "identity", "source-id": 3, "field-id": 1000}]}],
       |  "snapshots": [$snapJson]
       |}""".stripMargin
  }

  /** Two-snapshot fixture:
    *  snap 10: f1 (part a: ids 1,2) + f2 (part b: id 3)
    *  snap 20: f2 existing, f1 DELETED, f3 added (part a: id 4)
    */
  private def buildTable(badContent: Boolean = false): Path = {
    val t = Files.createTempDirectory("icetbl")
    val mdir = t.resolve("metadata"); Files.createDirectories(mdir)
    val f1 = writeDataFile(Seq((1L, "x"), (2L, "y")).toDF("id", "v"), t, "data/part=a/f1.parquet")
    val f2 = writeDataFile(Seq((3L, "z")).toDF("id", "v"), t, "data/part=b/f2.parquet")
    val f3 = writeDataFile(Seq((4L, "q")).toDF("id", "v"), t, "data/part=a/f3.parquet")
    val m1 = mdir.resolve("m1.avro")
    writeManifest(m1, Seq((1, f1, 0, "a"), (1, f2, 0, "b")))
    val m2 = mdir.resolve("m2.avro")
    writeManifest(m2, Seq((0, f2, 0, "b"), (2, f1, 0, "a"),
      (1, f3, if (badContent) 1 else 0, "a")))
    val ml1 = mdir.resolve("snap-10.avro"); writeManifestList(ml1, Seq(m1))
    val ml2 = mdir.resolve("snap-20.avro"); writeManifestList(ml2, Seq(m2))
    Files.writeString(mdir.resolve("v1.metadata.json"),
      metadataJson(20L, Seq(10L -> ml1, 20L -> ml2)))
    t
  }

  private def rows(df: DataFrame): Set[(Long, String, String)] =
    df.select("id", "v", "part").as[(Long, String, String)].collect().toSet

  test("current snapshot: deleted entries drop, partitions attach") {
    val t = buildTable()
    val got = rows(IcebergCatalog.read(spark, t.toString))
    assert(got == Set((3L, "z", "b"), (4L, "q", "a")))
  }

  test("snapshot time travel reads the older manifest list") {
    val t = buildTable()
    val got = rows(IcebergCatalog.read(spark, t.toString, snapshotId = Some(10L)))
    assert(got == Set((1L, "x", "a"), (2L, "y", "a"), (3L, "z", "b")))
  }

  test("partition pruning drops whole file groups") {
    val t = buildTable()
    val got = rows(IcebergCatalog.read(spark, t.toString,
      partitionFilter = pv => String.valueOf(pv("part")) == "a"))
    assert(got == Set((4L, "q", "a")))
    val st = IcebergCatalog.state(spark, t.toString)
    assert(st.partitionFields == Seq("part"))
    assert(st.files.map(_.path).exists(_.contains("f3.parquet")))
  }

  test("equality delete without equality_ids is rejected loudly") {
    // badContent marks f3 content=1... reuse the fixture with content=2
    // via the production writer below; here: content=2 with no ids
    val t = Files.createTempDirectory("icetbl_eq")
    val mdir = t.resolve("metadata"); Files.createDirectories(mdir)
    val f1 = writeDataFile(Seq((1L, "x")).toDF("id", "v"), t, "data/part=a/f1.parquet")
    val ed = writeDataFile(Seq(Tuple1("x")).toDF("v"), t, "data/ed.parquet")
    val m1 = mdir.resolve("m1.avro")
    writeManifest(m1, Seq((1, f1, 0, "a"), (1, ed, 2, "a")))
    val ml1 = mdir.resolve("snap-10.avro"); writeManifestList(ml1, Seq(m1))
    Files.writeString(mdir.resolve("v1.metadata.json"),
      metadataJson(10L, Seq(10L -> ml1)))
    val e = intercept[IllegalArgumentException] {
      IcebergCatalog.state(spark, t.toString)
    }
    assert(e.getMessage.contains("equality_ids"))
  }

  test("positional + equality delete files apply at read") {
    import IcebergCatalog._
    val t = Files.createTempDirectory("icetbl_del")
    val mdir = t.resolve("metadata"); Files.createDirectories(mdir)
    // data: part a = (1,x),(2,y) KEY-SORTED; part b = (3,z),(4,x)
    val fa = writeDataFile(Seq((1L, "x"), (2L, "y")).toDF("id", "v"), t, "data/part=a/fa.parquet")
    val fb = writeDataFile(Seq((3L, "z"), (4L, "x")).toDF("id", "v"), t, "data/part=b/fb.parquet")
    // positional delete: row 0 of fa → (1,x) gone
    val pd = writeDataFile(Seq((fa, 0L)).toDF("file_path", "pos"), t, "data/pd.parquet")
    // equality delete on v (field id 2): v='z' → (3,z) gone
    val ed = writeDataFile(Seq(Tuple1("z")).toDF("v"), t, "data/ed.parquet")
    val m1 = mdir.resolve("m1.avro")
    writeManifestEntries(m1, Seq("part"), Seq(
      ManifestEntry(1, fa, 0, Map("part" -> "a")),
      ManifestEntry(1, fb, 0, Map("part" -> "b")),
      ManifestEntry(1, pd, 1, Map.empty),
      ManifestEntry(1, ed, 2, Map.empty, equalityIds = Seq(2))))
    val ml1 = mdir.resolve("snap-10.avro")
    IcebergCatalog.writeManifestList(ml1, Seq(m1))
    Files.writeString(mdir.resolve("v1.metadata.json"),
      metadataJson(10L, Seq(10L -> ml1)))
    val got = rows(IcebergCatalog.read(spark, t.toString))
    assert(got == Set((2L, "y", "a"), (4L, "x", "b")))
  }

  test("sequence-scoped equality deletes cover strictly-older files only (r14)") {
    // hand-built manifest WITH sequence_number: eq delete at seq 1,
    // a data file at seq 2 — the delete does NOT cover it, so the row
    // SURVIVES (the v2 rule; pre-r14 this whole shape rejected loudly)
    val seqSchema = new Schema.Parser().parse(
      """{"type":"record","name":"manifest_entry","fields":[
        |  {"name":"status","type":"int"},
        |  {"name":"sequence_number","type":"long"},
        |  {"name":"data_file","type":{"type":"record","name":"data_file","fields":[
        |    {"name":"file_path","type":"string"},
        |    {"name":"content","type":"int"},
        |    {"name":"equality_ids","type":["null",{"type":"array","items":"int"}],"default":null},
        |    {"name":"record_count","type":"long"}]}}]}""".stripMargin)
    val t = Files.createTempDirectory("icetbl_seq")
    val mdir = t.resolve("metadata"); Files.createDirectories(mdir)
    val f1 = writeDataFile(Seq((1L, "x")).toDF("id", "v"), t, "data/f1.parquet")
    val ed = writeDataFile(Seq(Tuple1("x")).toDF("v"), t, "data/ed.parquet")
    val dfS = seqSchema.getField("data_file").schema()
    val m1 = mdir.resolve("m1.avro")
    val w = new DataFileWriter[GenericRecord](
      new GenericDatumWriter[GenericRecord](seqSchema))
    w.create(seqSchema, m1.toFile)
    def entry(seq: Long, fp: String, content: Int, eqIds: Seq[Int]): Unit = {
      val df = new GenericData.Record(dfS)
      df.put("file_path", fp); df.put("content", content)
      df.put("record_count", 1L)
      if (eqIds.nonEmpty) {
        val ids = new java.util.ArrayList[Integer]()
        eqIds.foreach(i => ids.add(i))
        df.put("equality_ids", ids)
      }
      val e = new GenericData.Record(seqSchema)
      e.put("status", 1); e.put("sequence_number", seq); e.put("data_file", df)
      w.append(e)
    }
    entry(2L, f1, 0, Seq.empty)       // data newer than the delete
    entry(1L, ed, 2, Seq(2))          // stale equality delete
    w.close()
    val ml1 = mdir.resolve("snap-10.avro")
    IcebergCatalog.writeManifestList(ml1, Seq(m1))
    Files.writeString(mdir.resolve("v1.metadata.json"),
      metadataJson(10L, Seq(10L -> ml1)))
    val st = IcebergCatalog.state(spark, t.toString)
    assert(st.files.map(_.seq) == Seq(2L))
    assert(st.eqDeletes.map(_._3) == Seq(1L))
    // the row matches the delete's value tuple but sits ABOVE it
    val rows = IcebergCatalog.read(spark, t.toString)
      .collect().map(r => (r.getLong(0), r.getString(1))).toSeq
    assert(rows == Seq((1L, "x")),
      "a delete must not cover a data file sequenced at or above it")
  }

  test("metadata versions sort numerically, not lexicographically") {
    val t = buildTable()
    val mdir = t.resolve("metadata")
    // v1 exists and points at snapshot 20; write a STALE v2..v9 pointing
    // at snapshot 10 and a CURRENT v10 pointing at 20: a lexicographic
    // sort would pick v9 (stale)
    val v1 = Files.readString(mdir.resolve("v1.metadata.json"))
    Files.writeString(mdir.resolve("v9.metadata.json"),
      v1.replace("\"current-snapshot-id\": 20", "\"current-snapshot-id\": 10"))
    Files.writeString(mdir.resolve("v10.metadata.json"), v1)
    assert(IcebergCatalog.state(spark, t.toString).snapshotId == 20L)
    assert(IcebergCatalog.metaVersion("v10.metadata.json") == 10L)
    assert(IcebergCatalog.metaVersion("00011-abc.metadata.json") == 11L)
  }

  test("version-hint.text pins the metadata version") {
    val t = buildTable()
    val mdir = t.resolve("metadata")
    val v1 = Files.readString(mdir.resolve("v1.metadata.json"))
    Files.writeString(mdir.resolve("v2.metadata.json"),
      v1.replace("\"current-snapshot-id\": 20", "\"current-snapshot-id\": 10"))
    Files.writeString(mdir.resolve("version-hint.text"), "2\n")
    assert(IcebergCatalog.state(spark, t.toString).snapshotId == 10L)
  }

  test("default-spec-id selects the evolved spec; missing id rejects") {
    val t = buildTable()
    val mdir = t.resolve("metadata")
    val v1 = Files.readString(mdir.resolve("v1.metadata.json"))
    // two specs; default-spec-id = 1 picks the SECOND (same fields)
    val twoSpecs = v1.replace(
      """"partition-specs": [{"spec-id": 0, "fields": [""",
      """"default-spec-id": 1,
        |  "partition-specs": [{"spec-id": 0, "fields": []},
        |    {"spec-id": 1, "fields": [""".stripMargin)
    Files.writeString(mdir.resolve("v1.metadata.json"), twoSpecs)
    assert(IcebergCatalog.state(spark, t.toString).partitionFields == Seq("part"))
    // an absent default-spec-id must reject, not silently use specs[0]
    Files.writeString(mdir.resolve("v1.metadata.json"),
      twoSpecs.replace("\"default-spec-id\": 1,", "\"default-spec-id\": 7,"))
    val e = intercept[IllegalArgumentException] {
      IcebergCatalog.state(spark, t.toString)
    }
    assert(e.getMessage.contains("default-spec-id"))
  }

  test("manifest bounds skip out-of-range files, results stay exact") {
    import IcebergCatalog._
    val t = Files.createTempDirectory("icetbl_bounds")
    val mdir = t.resolve("metadata"); Files.createDirectories(mdir)
    val f1 = writeDataFile(Seq((1L, "x"), (5L, "y")).toDF("id", "v"), t, "data/part=a/f1.parquet")
    val f2 = writeDataFile(Seq((100L, "z"), (200L, "w")).toDF("id", "v"), t, "data/part=a/f2.parquet")
    val m1 = mdir.resolve("m1.avro")
    // id is schema field 1: bounds [1,5] and [100,200]
    writeManifestEntries(m1, Seq("part"), Seq(
      ManifestEntry(1, f1, 0, Map("part" -> "a"), boundsLong = Map(1 -> (1L, 5L))),
      ManifestEntry(1, f2, 0, Map("part" -> "a"), boundsLong = Map(1 -> (100L, 200L)))))
    val ml1 = mdir.resolve("snap-10.avro")
    IcebergCatalog.writeManifestList(ml1, Seq(m1))
    Files.writeString(mdir.resolve("v1.metadata.json"),
      metadataJson(10L, Seq(10L -> ml1)))
    val st = IcebergCatalog.state(spark, t.toString)
    assert(st.files.forall(_.bounds.contains("id")))
    // the box rule drops f2 entirely for id<=10
    assert(IcebergCatalog.filesInRange(st.files, Map("id" -> (0L, 10L))).size == 1)
    // and the pruned read still returns the exact in-range rows
    val got = rows(IcebergCatalog.read(spark, t.toString,
      ranges = Map("id" -> (0L, 10L))))
    assert(got == Set((1L, "x", "a"), (5L, "y", "a")))
    // a file WITHOUT bounds must never be skipped (no false negatives)
    assert(IcebergCatalog.filesInRange(
      Seq(IceFile("p", Map.empty)), Map("id" -> (0L, 1L))).size == 1)
  }

  test("commitPositionDelete: engine-written snapshot applies and time-travels (r10)") {
    val t = buildTable()
    val before = rows(IcebergCatalog.read(spark, t.toString))
    assert(before == Set((3L, "z", "b"), (4L, "q", "a")))
    val snap = IcebergCatalog.commitPositionDelete(spark, t.toString,
      "part=b/f2.parquet", org.apache.spark.sql.functions.col("id") === 3L,
      snapshotId = 30L)
    assert(snap == 30L)
    // the new current snapshot applies the engine-written delete
    val after = rows(IcebergCatalog.read(spark, t.toString))
    assert(after == Set((4L, "q", "a")), "engine positional delete not applied")
    // a NEW metadata version was written (v2) and the v1 state is
    // intact: time travel to snapshot 20 sees the pre-delete rows
    assert(Files.exists(t.resolve("metadata").resolve("v2.metadata.json")))
    val travel = rows(IcebergCatalog.read(spark, t.toString,
      snapshotId = Some(20L)))
    assert(travel == before, "pre-delete snapshot mutated")
    // no-op predicates and unknown files reject loudly
    intercept[IllegalArgumentException] {
      IcebergCatalog.commitPositionDelete(spark, t.toString,
        "part=a/f3.parquet", org.apache.spark.sql.functions.col("id") === 999L,
        snapshotId = 31L)
    }
    intercept[IllegalArgumentException] {
      IcebergCatalog.commitPositionDelete(spark, t.toString,
        "no-such-file.parquet", org.apache.spark.sql.functions.lit(true),
        snapshotId = 32L)
    }
    // a second engine delete on ANOTHER file stacks on the first
    val snap2 = IcebergCatalog.commitPositionDelete(spark, t.toString,
      "part=a/f3.parquet", org.apache.spark.sql.functions.col("id") === 4L,
      snapshotId = 33L)
    assert(snap2 == 33L)
    assert(rows(IcebergCatalog.read(spark, t.toString)).isEmpty)
  }

  test("commitAppend: engine-written data files extend the live set (r10b)") {
    val t = buildTable()
    assert(rows(IcebergCatalog.read(spark, t.toString)) ==
      Set((3L, "z", "b"), (4L, "q", "a")))
    // append two rows across two partitions (one partitionBy write)
    val snap = IcebergCatalog.commitAppend(spark, t.toString,
      Seq((5L, "n1", "a"), (6L, "n2", "c")).toDF("id", "v", "part"),
      snapshotId = 30L)
    assert(snap == 30L)
    assert(rows(IcebergCatalog.read(spark, t.toString)) ==
      Set((3L, "z", "b"), (4L, "q", "a"), (5L, "n1", "a"), (6L, "n2", "c")),
      "append must EXTEND the live set, including a brand-new partition")
    // appended data files carry only data columns; partition rides the manifest
    val appended = Files.list(t.resolve("data")).iterator().asScala
      .filter(_.getFileName.toString.startsWith("append-30-")).toSeq
    assert(appended.nonEmpty)
    appended.foreach { p =>
      assert(spark.read.parquet(p.toString).columns.toSeq == Seq("id", "v"))
    }
    // time travel to the pre-append snapshot is untouched
    assert(rows(IcebergCatalog.read(spark, t.toString,
      snapshotId = Some(20L))) == Set((3L, "z", "b"), (4L, "q", "a")))
    // appends COMPOSE: a second one lands on top
    IcebergCatalog.commitAppend(spark, t.toString,
      Seq((7L, "n3", "b")).toDF("id", "v", "part"), snapshotId = 31L)
    assert(rows(IcebergCatalog.read(spark, t.toString)).map(_._1) ==
      Set(3L, 4L, 5L, 6L, 7L))
    // empty appends reject loudly
    intercept[IllegalArgumentException] {
      IcebergCatalog.commitAppend(spark, t.toString,
        Seq.empty[(Long, String, String)].toDF("id", "v", "part"),
        snapshotId = 32L)
    }
  }

  test("commitAppend: bounds prune appended files; escaped partition values round-trip (r10b)") {
    val t = buildTable()
    IcebergCatalog.commitAppend(spark, t.toString,
      Seq((100L, "hi", "a b/c")).toDF("id", "v", "part"), snapshotId = 30L)
    // the Hive-escaped partition dir (%20, %2F) decodes back verbatim
    assert(rows(IcebergCatalog.read(spark, t.toString))
      .contains((100L, "hi", "a b/c")))
    // the appended entry carries long bounds for `id`: a disjoint range
    // prunes it, an overlapping one keeps it
    val st = IcebergCatalog.state(spark, t.toString)
    val appended = st.files.filter(_.path.contains("append-30-"))
    assert(appended.nonEmpty)
    assert(appended.forall(_.bounds.get("id").contains((100L, 100L))))
    assert(IcebergCatalog.filesInRange(appended, Map("id" -> ((1L, 50L)))).isEmpty)
    assert(IcebergCatalog.filesInRange(appended, Map("id" -> ((50L, 150L)))) == appended)
    // append onto a table holding an equality delete rejects loudly
    val t2 = buildTable()
    IcebergCatalog.commitEqualityDelete(spark, t2.toString,
      Seq("v"), Seq(Tuple1("z")).toDF("v"), snapshotId = 30L)
    intercept[IllegalArgumentException] {
      IcebergCatalog.commitAppend(spark, t2.toString,
        Seq((9L, "w", "a")).toDF("id", "v", "part"), snapshotId = 31L)
    }
  }

  // ---- r11: partition transforms ----

  test("transforms: Appendix-B bucket hash vectors pin the murmur3 (r11)") {
    import IcebergTransforms._
    // the spec's own published vectors (iceberg.apache.org/spec
    // Appendix B): ints/longs hash as little-endian 8-byte longs,
    // strings as UTF-8 bytes, seed 0
    assert(hashLong(34L) == 2017239379)
    assert(hashString("iceberg") == 1210000089)
    assert(hashLong(17486L) == -653330422) // date 2017-11-16 (epoch days)
    // generic murmur3_x86_32 sanity (public vectors)
    assert(murmur3(Array.empty[Byte]) == 0)
    assert(murmur3("hello".getBytes("UTF-8")) == 0x248bfa47)
    assert(bucketLong(34L, 16) == (2017239379 & Int.MaxValue) % 16)
    // r12 source types: timestamp hashes its epoch-MICROS long
    // (2017-11-16T22:31:08 UTC), decimal its minimal big-endian
    // two's-complement unscaled bytes (14.20 → unscaled 1420) — both
    // published Appendix-B vectors
    assert(hashLong(1510871468000000L) == -2047944441)
    assert(IcebergTransforms.bucketDecimal(
      org.apache.spark.sql.types.Decimal(new java.math.BigDecimal("14.20")),
      Int.MaxValue) == (-500754589 & Int.MaxValue) % Int.MaxValue)
    assert(IcebergTransforms.bucketBytes(Array.empty[Byte], 7) == 0)
  }

  test("transforms: native bucket/truncate expressions, no ScalaUDF (r12)") {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.types._
    // plan hygiene: the write-path derivation must stay codegen-native
    for ((t, dt) <- Seq(("bucket[4]", LongType), ("bucket[4]", StringType),
        ("bucket[4]", TimestampType), ("bucket[4]", DecimalType(10, 2)),
        ("truncate[3]", StringType), ("truncate[10]", LongType),
        ("truncate[50]", DecimalType(10, 2)))) {
      val e = org.apache.spark.sql.graftbridge.ColumnBridge.expression(
        IcebergTransforms.columnTyped(t, lit(null).cast(dt), dt))
      assert(!e.exists(_.isInstanceOf[
        org.apache.spark.sql.catalyst.expressions.ScalaUDF]),
        s"$t over $dt must not plan a ScalaUDF")
    }
    // evaluation: interpreted and codegen agree with the JVM scalars,
    // timestamp buckets over epoch-micros, decimal truncate floor-mods
    // the unscaled value
    val df = Seq(("2017-11-16 22:31:08", "iceberg", 34L, "14.20", "-1.01"))
      .toDF("ts", "s", "v", "d1", "d2")
      .select(col("ts").cast("timestamp").as("ts"), col("s"), col("v"),
        col("d1").cast("decimal(10,2)").as("d1"),
        col("d2").cast("decimal(10,2)").as("d2"))
    val got = df.select(
      IcebergTransforms.columnTyped("bucket[16]", col("ts"),
        TimestampType).as("bts"),
      IcebergTransforms.columnTyped("bucket[16]", col("s"),
        StringType).as("bs"),
      IcebergTransforms.columnTyped("bucket[16]", col("v"),
        LongType).as("bv"),
      IcebergTransforms.columnTyped("bucket[16]", col("d1"),
        DecimalType(10, 2)).as("bd"),
      IcebergTransforms.columnTyped("truncate[50]", col("d1"),
        DecimalType(10, 2)).as("td1"),
      IcebergTransforms.columnTyped("truncate[50]", col("d2"),
        DecimalType(10, 2)).as("td2"),
      IcebergTransforms.columnTyped("truncate[3]", col("s"),
        StringType).as("tst")).head()
    assert(got.getInt(0) == (-2047944441 & Int.MaxValue) % 16)
    assert(got.getInt(1) == (1210000089 & Int.MaxValue) % 16)
    assert(got.getInt(2) == (2017239379 & Int.MaxValue) % 16)
    assert(got.getInt(3) == (-500754589 & Int.MaxValue) % 16)
    // Appendix B's own decimal truncate example: 14.20 → 14.00 (W=50
    // on unscaled 1420 → 1400); floor for negatives: -1.01 → -1.50
    assert(got.getDecimal(4).compareTo(new java.math.BigDecimal("14.00")) == 0)
    assert(got.getDecimal(5).compareTo(new java.math.BigDecimal("-1.50")) == 0)
    assert(got.getString(6) == "ice")
    // unsupported sources stay loud
    intercept[IllegalArgumentException] {
      IcebergTransforms.columnTyped("bucket[4]", lit(1.0), DoubleType)
    }
    intercept[IllegalArgumentException] {
      IcebergTransforms.columnTyped("truncate[4]", col("ts"), TimestampType)
    }
  }

  test("transforms: truncate is floor-mod for longs, codepoints for strings (r11)") {
    import IcebergTransforms._
    assert(truncateLong(17L, 10L) == 10L)
    assert(truncateLong(-3L, 10L) == -10L) // floor, not toward zero
    assert(truncateLong(0L, 10L) == 0L)
    assert(truncateString("iceberg", 3) == "ice")
    assert(truncateString("ab", 5) == "ab")
    val twoCp = new String(Character.toChars(0x1F600)) + "x" // surrogate pair
    assert(truncateString(twoCp, 1) == new String(Character.toChars(0x1F600)),
      "truncate must not split a surrogate pair")
    intercept[IllegalArgumentException] { validate("void") }
    intercept[IllegalArgumentException] { validate("bucket[0]") }
    intercept[IllegalArgumentException] { validate("zorder[2]") }
  }

  test("transforms: time transforms evaluate per the spec epochs (r11)") {
    import org.apache.spark.sql.functions._
    val df = Seq("1998-03-15 07:30:00").toDF("s")
      .select(col("s").cast("timestamp").as("ts"),
        col("s").cast("date").as("d"))
    val got = df.select(
      IcebergTransforms.column("year", col("d")).as("y"),
      IcebergTransforms.column("month", col("d")).as("m"),
      IcebergTransforms.column("day", col("d")).as("dd"),
      IcebergTransforms.column("hour", col("ts")).as("h"),
      IcebergTransforms.columnTyped("truncate[100]", lit(1234L),
        org.apache.spark.sql.types.LongType).as("t"))
      .head()
    assert(got.getInt(0) == 28) // 1998 - 1970
    assert(got.getInt(1) == 28 * 12 + 2) // months from epoch
    assert(got.getInt(2) == java.time.LocalDate.parse("1998-03-15").toEpochDay)
    assert(got.getInt(3) ==
      java.time.LocalDate.parse("1998-03-15").toEpochDay * 24 + 7)
    assert(got.getLong(4) == 1200L)
  }

  test("transforms: commitAppend derives spec values; read prunes on them (r11)") {
    import IcebergCatalog._
    import org.apache.spark.sql.functions._
    val t0 = Files.createTempDirectory("ice_tf_spec")
    val mdir = t0.resolve("metadata")
    Files.createDirectories(mdir)
    val ml1 = mdir.resolve("snap-10.avro")
    IcebergCatalog.writeManifestList(ml1, Seq.empty)
    writeMetadataJsonSpec(mdir.resolve("v1.metadata.json"),
      Seq(("id", "long", true), ("v", "string", false),
        ("d", "date", false)),
      Seq(("d_day", "day", "d"), ("id_b", "bucket[2]", "id"),
        ("v_t", "truncate[2]", "v")),
      Seq(10L -> ml1))
    val rows = Seq(
      (1L, "aaa", "1998-03-15"), (2L, "aab", "1998-03-15"),
      (3L, "bbb", "1998-03-16"))
      .toDF("id", "v", "s")
      .select(col("id"), col("v"), col("s").cast("date").as("d"))
    assert(IcebergCatalog.commitAppend(spark, t0.toString, rows, 20L) == 20L)
    val st = IcebergCatalog.state(spark, t0.toString)
    // manifest-borne transform values match the scalar evaluations
    val day0 = java.time.LocalDate.parse("1998-03-15").toEpochDay.toString
    st.files.foreach { f =>
      assert(Set(day0, (day0.toLong + 1).toString)
        .contains(f.partition("d_day").toString))
      val ids = spark.read.parquet(IcebergCatalog.resolve(t0.toString, f.path).toString)
        .select("id").as[Long].collect()
      ids.foreach { id =>
        assert(f.partition("id_b").toString.toInt ==
          IcebergTransforms.bucketLong(id, 2))
      }
    }
    // data files RETAIN the transform sources (nothing reconstructs)
    st.files.foreach { f =>
      val cols = spark.read
        .parquet(IcebergCatalog.resolve(t0.toString, f.path).toString).columns.toSeq
      assert(cols == Seq("id", "v", "d"))
    }
    // pruning through the partition filter: only day0's files scan
    val pruned = IcebergCatalog.read(spark, t0.toString,
      partitionFilter = pv => pv("d_day").toString == day0)
    assert(pruned.select("id").as[Long].collect().toSet == Set(1L, 2L))
    val kept = st.files.filter(_.partition("d_day").toString == day0)
    assert(kept.size < st.files.size, "day pruning must drop file groups")
    // full read returns everything (transform partitioning invisible)
    assert(IcebergCatalog.read(spark, t0.toString)
      .select("id").as[Long].collect().toSet == Set(1L, 2L, 3L))
  }

  test("transforms: ranges on SOURCE columns prune partitions (r11)") {
    import IcebergCatalog._
    import org.apache.spark.sql.functions._
    val t0 = Files.createTempDirectory("ice_tfr_spec")
    val mdir = t0.resolve("metadata")
    Files.createDirectories(mdir)
    val ml1 = mdir.resolve("snap-10.avro")
    IcebergCatalog.writeManifestList(ml1, Seq.empty)
    writeMetadataJsonSpec(mdir.resolve("v1.metadata.json"),
      Seq(("id", "long", true), ("v", "string", false)),
      Seq(("id_t", "truncate[100]", "id"), ("id_b", "bucket[3]", "id")),
      Seq(10L -> ml1))
    val rows = (0L until 50L).map(i => (i * 10L, s"v$i"))
      .toDF("id", "v")
    assert(IcebergCatalog.commitAppend(spark, t0.toString, rows, 20L) == 20L)
    val st = IcebergCatalog.state(spark, t0.toString)
    // truncate range prune: ids in [120, 260] can only live in the
    // 100/200 truncation groups
    val kept = IcebergCatalog.filesByTransformRange(
      st.files, st.specFields, Map("id" -> ((120L, 260L))))
    assert(kept.nonEmpty && kept.size < st.files.size,
      s"truncate pruning not selective: ${kept.size} of ${st.files.size}")
    assert(kept.forall(f =>
      Set("100", "200").contains(f.partition("id_t").toString)))
    // bucket prunes only on an equality point — and to ONE bucket
    val eq = IcebergCatalog.filesByTransformRange(
      st.files, st.specFields, Map("id" -> ((130L, 130L))))
    assert(eq.forall(f => f.partition("id_b").toString.toInt ==
      IcebergTransforms.bucketLong(130L, 3)))
    // end to end: read with ranges returns exactly the residual rows
    val got = IcebergCatalog.read(spark, t0.toString,
        ranges = Map("id" -> ((120L, 260L))))
      .select("id").as[Long].collect().toSet
    assert(got == (0L until 50L).map(_ * 10L)
      .filter(v => v >= 120 && v <= 260).toSet)
  }

  test("rollbackTo re-points current; history stays travelable (r11)") {
    val t = buildTable() // snaps 10 (f1,f2) and 20 (f2, f1 del, f3)
    assert(IcebergCatalog.rollbackTo(t.toString, 10L) == 2L)
    assert(rows(IcebergCatalog.read(spark, t.toString)) ==
      Set((1L, "x", "a"), (2L, "y", "a"), (3L, "z", "b")))
    // the rolled-back snapshot is still in history
    assert(rows(IcebergCatalog.read(spark, t.toString,
      snapshotId = Some(20L))) == Set((3L, "z", "b"), (4L, "q", "a")))
    // unknown target / current target reject loudly
    intercept[IllegalArgumentException] {
      IcebergCatalog.rollbackTo(t.toString, 99L)
    }
    intercept[IllegalArgumentException] {
      IcebergCatalog.rollbackTo(t.toString, 10L)
    }
  }

  test("expireSnapshots: expired-only files delete, current state intact (r11)") {
    val t = buildTable() // snapshots 10 (f1,f2) and 20 (f2, f1 DELETED, f3)
    val before = rows(IcebergCatalog.read(spark, t.toString))
    val f1 = t.resolve("data/part=a/f1.parquet")
    assert(Files.exists(f1))
    val (keptN, deleted) = IcebergCatalog.expireSnapshots(t.toString, 1)
    assert(keptN == 1)
    // f1 is reachable only through snapshot 10's manifest (m1): gone,
    // along with m1 and snap-10's manifest list — f2/f3 survive (shared
    // with snapshot 20)
    assert(!Files.exists(f1), "expired-only data file must delete")
    assert(deleted >= 3, s"expected ml+manifest+f1 deletions, got $deleted")
    assert(Files.exists(t.resolve("data/part=b/f2.parquet")))
    assert(rows(IcebergCatalog.read(spark, t.toString)) == before,
      "current state must survive expiration")
    // time travel to the expired snapshot now fails loudly
    intercept[IllegalArgumentException] {
      IcebergCatalog.read(spark, t.toString, snapshotId = Some(10L))
    }
    // keeping everything is a no-op (nothing left to expire)
    assert(IcebergCatalog.expireSnapshots(t.toString, 1) == ((1, 0)))
  }

  test("commitEqualityDelete: engine-written value deletes apply everywhere (r10)") {
    val t = buildTable()
    assert(rows(IcebergCatalog.read(spark, t.toString)) ==
      Set((3L, "z", "b"), (4L, "q", "a")))
    // delete BY VALUE on v: 'z' — hits file f2 without naming it
    val snap = IcebergCatalog.commitEqualityDelete(spark, t.toString,
      Seq("v"), Seq(Tuple1("z")).toDF("v"), snapshotId = 30L)
    assert(snap == 30L)
    assert(rows(IcebergCatalog.read(spark, t.toString)) ==
      Set((4L, "q", "a")), "equality delete not applied by value")
    // the delete parquet carries ONLY the named column, and the
    // manifest entry resolved the schema field id for it
    import scala.jdk.CollectionConverters._
    val ed = Files.list(t.resolve("data")).iterator().asScala
      .find(_.getFileName.toString.startsWith("eq-delete-")).get
    val edDf = spark.read.parquet(ed.toString)
    assert(edDf.columns.toSeq == Seq("v"))
    assert(edDf.as[String].collect().toSeq == Seq("z"))
    // unknown columns and empty deletes reject loudly
    intercept[IllegalArgumentException] {
      IcebergCatalog.commitEqualityDelete(spark, t.toString,
        Seq("nope"), Seq(Tuple1("z")).toDF("nope"), snapshotId = 31L)
    }
    intercept[IllegalArgumentException] {
      IcebergCatalog.commitEqualityDelete(spark, t.toString,
        Seq("v"), Seq.empty[Tuple1[String]].toDF("v"), snapshotId = 32L)
    }
    // time travel to the pre-delete snapshot still sees 'z'
    assert(rows(IcebergCatalog.read(spark, t.toString,
      snapshotId = Some(20L))) == Set((3L, "z", "b"), (4L, "q", "a")))
  }

  test("partition-spec evolution: each file reads under its own spec (r13)") {
    import IcebergCatalog._
    import org.apache.spark.sql.functions._
    val t0 = Files.createTempDirectory("ice_evo_spec")
    val mdir = t0.resolve("metadata")
    Files.createDirectories(mdir)
    val ml1 = mdir.resolve("snap-10.avro")
    IcebergCatalog.writeManifestList(ml1, Seq.empty)
    writeMetadataJsonSpec(mdir.resolve("v1.metadata.json"),
      Seq(("id", "long", true), ("p", "string", false)),
      Seq(("p", "identity", "p")), Seq(10L -> ml1))
    val rows0 = Seq((1L, "a"), (2L, "b")).toDF("id", "p")
    assert(IcebergCatalog.commitAppend(spark, t0.toString, rows0, 20L) == 20L)
    // spec-0 data files OMIT p (identity)
    val st0 = IcebergCatalog.state(spark, t0.toString)
    st0.files.foreach { f =>
      assert(!spark.read.parquet(
        IcebergCatalog.resolve(t0.toString, f.path).toString)
        .columns.contains("p"))
    }
    assert(IcebergCatalog.evolveSpec(t0.toString,
      Seq(("id_b", "bucket[4]", "id"))) == 1)
    assert(IcebergCatalog.commitAppend(spark, t0.toString,
      Seq((11L, "a"), (12L, "c")).toDF("id", "p"), 30L) == 30L)
    val st = IcebergCatalog.state(spark, t0.toString)
    assert(st.files.map(_.specId).toSet == Set(0, 1))
    // spec-1 files CARRY p in the data (identity no longer applies)
    st.files.filter(_.specId == 1).foreach { f =>
      assert(spark.read.parquet(
        IcebergCatalog.resolve(t0.toString, f.path).toString)
        .columns.contains("p"))
      assert(f.partition.contains("id_b"))
    }
    // the union read re-assembles both shapes
    assert(IcebergCatalog.read(spark, t0.toString)
      .select("id", "p").as[(Long, String)].collect().toSet ==
      Set((1L, "a"), (2L, "b"), (11L, "a"), (12L, "c")))
    // identity filter: spec-0 groups prune by pv, spec-1 files (no
    // 'p' partition key) all survive and filter in the residual read
    assert(IcebergCatalog.read(spark, t0.toString,
        partitionFilter = m => m.get("p").forall(_.toString == "a"))
      .select("id").as[Long].collect().toSet == Set(1L, 11L, 12L))
  }

  test("branch write: isolation, tag refusal, expire-rescue, fast-forward (r13)") {
    import IcebergCatalog._
    import org.apache.spark.sql.functions._
    val t0 = Files.createTempDirectory("ice_branch_spec")
    val mdir = t0.resolve("metadata")
    Files.createDirectories(mdir)
    val ml1 = mdir.resolve("snap-10.avro")
    IcebergCatalog.writeManifestList(ml1, Seq.empty)
    writeMetadataJsonSpec(mdir.resolve("v1.metadata.json"),
      Seq(("id", "long", true)), Seq.empty, Seq(10L -> ml1))
    assert(IcebergCatalog.commitAppend(spark, t0.toString,
      Seq(1L, 2L).toDF("id"), 20L) == 20L)
    IcebergCatalog.createRef(t0.toString, "main", 20L, "branch")
    IcebergCatalog.createRef(t0.toString, "audit", 20L, "branch")
    // branch append: main pinned, branch advances
    assert(IcebergCatalog.commitAppend(spark, t0.toString,
      Seq(3L).toDF("id"), 30L, branch = "audit") == 30L)
    assert(IcebergCatalog.read(spark, t0.toString)
      .select("id").as[Long].collect().toSet == Set(1L, 2L))
    assert(IcebergCatalog.readRef(spark, t0.toString, "audit")
      .select("id").as[Long].collect().toSet == Set(1L, 2L, 3L))
    // an unknown branch and a tag both refuse
    intercept[IllegalArgumentException] {
      IcebergCatalog.commitAppend(spark, t0.toString,
        Seq(9L).toDF("id"), 40L, branch = "nope")
    }
    IcebergCatalog.createRef(t0.toString, "pin", 20L, "tag")
    intercept[IllegalArgumentException] {
      IcebergCatalog.commitAppend(spark, t0.toString,
        Seq(9L).toDF("id"), 40L, branch = "pin")
    }
    // expiration rescues the branch head (30) AND the pinned 20
    val (kept, _) = IcebergCatalog.expireSnapshots(t0.toString, keepLast = 1)
    assert(kept == 2, s"kept=$kept")
    assert(IcebergCatalog.readRef(spark, t0.toString, "audit")
      .select("id").as[Long].collect().toSet == Set(1L, 2L, 3L))
    // fast-forward publishes the branch; a second call is a no-op err
    IcebergCatalog.fastForward(t0.toString, "audit")
    assert(IcebergCatalog.read(spark, t0.toString)
      .select("id").as[Long].collect().toSet == Set(1L, 2L, 3L))
    assert(IcebergCatalog.refs(t0.toString)("main") == ((30L, "branch")))
    intercept[IllegalArgumentException] {
      IcebergCatalog.fastForward(t0.toString, "audit")
    }
    // a stale branch (now behind main) cannot fast-forward
    IcebergCatalog.createRef(t0.toString, "old", 20L, "branch")
    intercept[IllegalArgumentException] {
      IcebergCatalog.fastForward(t0.toString, "old")
    }
  }

  test("commitMerge: sequenced upserts compose across three snapshots (r14)") {
    val t = Files.createTempDirectory("ice_merge")
    IcebergCatalog.createTable(t.toString,
      Seq(("id", "long", true), ("v", "string", false)))
    // bootstrap: ids 1..6
    val s1 = IcebergCatalog.commitAppend(spark, t.toString,
      (1L to 6L).map(i => (i, s"v$i")).toDF("id", "v"),
      IcebergCatalog.nextSnapshotId(t.toString))
    // merge 1: update 2 and 4, insert 7
    IcebergCatalog.commitMerge(spark, t.toString,
      Seq((2L, "u2"), (4L, "u4"), (7L, "v7")).toDF("id", "v"),
      Seq("id"), IcebergCatalog.nextSnapshotId(t.toString))
    // merge 2 ON TOP of merge 1: re-update 2 (the seq-2 row, proving
    // the second delete covers the FIRST merge's appends), update 5,
    // insert 8
    IcebergCatalog.commitMerge(spark, t.toString,
      Seq((2L, "w2"), (5L, "u5"), (8L, "v8")).toDF("id", "v"),
      Seq("id"), IcebergCatalog.nextSnapshotId(t.toString))
    val got = IcebergCatalog.read(spark, t.toString)
      .as[(Long, String)].collect().toSet
    assert(got == Set(1L -> "v1", 2L -> "w2", 3L -> "v3", 4L -> "u4",
      5L -> "u5", 6L -> "v6", 7L -> "v7", 8L -> "v8"))
    val st = IcebergCatalog.state(spark, t.toString)
    // zero rewrite: every earlier data file is still live, deletes
    // carry increasing sequence numbers, staged rows share their own
    // merge's sequence
    assert(st.eqDeletes.map(_._3).sorted == Seq(2L, 3L))
    assert(st.files.map(_.seq).distinct.sorted == Seq(1L, 2L, 3L))
    // time travel below the merges still reads the bootstrap
    assert(IcebergCatalog.read(spark, t.toString, Some(s1))
      .as[(Long, String)].collect().toSet ==
      (1L to 6L).map(i => (i, s"v$i")).toSet)
    // an all-absent-keys staged batch with the insert guard dropping
    // everything is a legitimate no-op: snapshot does not advance
    val cur = st.snapshotId
    val same = IcebergCatalog.commitMerge(spark, t.toString,
      Seq((99L, "dead")).toDF("id", "v"), Seq("id"),
      IcebergCatalog.nextSnapshotId(t.toString),
      insertFilter = Some(org.apache.spark.sql.functions.lit(false)))
    assert(same == cur)
    // duplicate staged keys reject loudly
    val e = intercept[IllegalArgumentException] {
      IcebergCatalog.commitMerge(spark, t.toString,
        Seq((2L, "a"), (2L, "b")).toDF("id", "v"), Seq("id"),
        IcebergCatalog.nextSnapshotId(t.toString))
    }
    // the counts match DeltaWrite.merge's message
    assert(e.getMessage.contains("duplicate pk tuples (2 rows over 1 distinct keys)"),
      e.getMessage)
  }

  test("commitMerge rejects a staged null key part by its own message") {
    graft.TempDirs.withTempDir("ice_nullkey") { dir =>
      val t = dir.toString
      IcebergCatalog.createTable(t, Seq(("id", "long", true), ("v", "string", false)))
      val s1 = IcebergCatalog.commitAppend(spark, t, Seq((1L, "a")).toDF("id", "v"),
        IcebergCatalog.nextSnapshotId(t))
      // one null part of a two-column key: count_distinct skips the row
      val e = intercept[IllegalArgumentException] {
        IcebergCatalog.commitMerge(spark, t,
          Seq((1L, Some("a")), (2L, None)).toDF("id", "v"), Seq("id", "v"),
          IcebergCatalog.nextSnapshotId(t))
      }
      assert(e.getMessage.contains("1 rows with a null pk part (id,v)") &&
        e.getMessage.endsWith(t), e.getMessage)
      assert(IcebergCatalog.state(spark, t).snapshotId == s1)
    }
  }

  test("rewriteDataFiles folds deletes in; history stays travelable (r14)") {
    val t = Files.createTempDirectory("ice_compact")
    IcebergCatalog.createTable(t.toString,
      Seq(("id", "long", true), ("v", "string", false)))
    IcebergCatalog.commitAppend(spark, t.toString,
      (1L to 6L).map(i => (i, s"v$i")).toDF("id", "v"),
      IcebergCatalog.nextSnapshotId(t.toString))
    val mergeSnap = IcebergCatalog.commitMerge(spark, t.toString,
      Seq((2L, "u2"), (7L, "v7")).toDF("id", "v"), Seq("id"),
      IcebergCatalog.nextSnapshotId(t.toString))
    val expect = Set(1L -> "v1", 2L -> "u2", 3L -> "v3", 4L -> "v4",
      5L -> "v5", 6L -> "v6", 7L -> "v7")
    val snap = IcebergCatalog.rewriteDataFiles(spark, t.toString,
      IcebergCatalog.nextSnapshotId(t.toString))
    val st = IcebergCatalog.state(spark, t.toString)
    assert(st.eqDeletes.isEmpty && st.posDeletes.isEmpty)
    assert(st.files.forall(_.path.contains(s"compact-$snap")))
    assert(IcebergCatalog.read(spark, t.toString)
      .as[(Long, String)].collect().toSet == expect)
    // pre-compaction snapshots still travel with their deletes applied
    assert(IcebergCatalog.read(spark, t.toString, Some(mergeSnap))
      .as[(Long, String)].collect().toSet == expect)
    // and a FURTHER merge composes on the compacted table
    IcebergCatalog.commitMerge(spark, t.toString,
      Seq((7L, "w7")).toDF("id", "v"), Seq("id"),
      IcebergCatalog.nextSnapshotId(t.toString))
    assert(IcebergCatalog.read(spark, t.toString)
      .as[(Long, String)].collect().toSet == expect - (7L -> "v7") + (7L -> "w7"))
  }

  test("commitAppend composes above sequenced deletes; unsequenced still reject (r14)") {
    val t = Files.createTempDirectory("ice_merge_app")
    IcebergCatalog.createTable(t.toString,
      Seq(("id", "long", true), ("v", "string", false)))
    IcebergCatalog.commitAppend(spark, t.toString,
      Seq((1L, "x"), (2L, "y")).toDF("id", "v"),
      IcebergCatalog.nextSnapshotId(t.toString))
    IcebergCatalog.commitMerge(spark, t.toString,
      Seq((2L, "y2")).toDF("id", "v"), Seq("id"),
      IcebergCatalog.nextSnapshotId(t.toString))
    // append ABOVE the sequenced delete: the delete must not cover it,
    // even when the appended row matches a deleted value tuple
    IcebergCatalog.commitAppend(spark, t.toString,
      Seq((3L, "z")).toDF("id", "v"),
      IcebergCatalog.nextSnapshotId(t.toString))
    assert(IcebergCatalog.read(spark, t.toString)
      .as[(Long, String)].collect().toSet ==
      Set(1L -> "x", 2L -> "y2", 3L -> "z"))
    // a LEGACY (seq-0) equality delete still blocks appends loudly
    val t2 = Files.createTempDirectory("ice_legacy_ed")
    IcebergCatalog.createTable(t2.toString,
      Seq(("id", "long", true), ("v", "string", false)))
    IcebergCatalog.commitAppend(spark, t2.toString,
      Seq((1L, "x")).toDF("id", "v"),
      IcebergCatalog.nextSnapshotId(t2.toString))
    IcebergCatalog.commitEqualityDelete(spark, t2.toString, Seq("v"),
      Seq(Tuple1("x")).toDF("v"),
      IcebergCatalog.nextSnapshotId(t2.toString))
    val e = intercept[IllegalArgumentException] {
      IcebergCatalog.commitAppend(spark, t2.toString,
        Seq((2L, "y")).toDF("id", "v"),
        IcebergCatalog.nextSnapshotId(t2.toString))
    }
    assert(e.getMessage.contains("unsequenced"))
  }
}
