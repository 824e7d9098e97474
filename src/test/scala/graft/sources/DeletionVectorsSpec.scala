package graft.sources

import java.nio.file.Files

import graft.SparkTestSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** F14c: deletion vectors — Z85 golden vectors, the house Roaring
  * decoder against the CANONICAL RoaringBitmap library (Spark's own
  * classpath) across all three container types, the DV file wrapper's
  * integrity checks, and end-to-end DeltaLog reads with `u`/`i`
  * storage.
  */
class DeletionVectorsSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  test("Z85 golden vector (the ZeroMQ spec 32 test case) and round-trip") {
    val bytes = Array(0x86, 0x4f, 0xd2, 0x6f, 0xb5, 0x59, 0xf7, 0x5b)
      .map(_.toByte)
    assert(DeletionVectors.z85Encode(bytes) == "HelloWorld")
    assert(DeletionVectors.z85Decode("HelloWorld").toSeq == bytes.toSeq)
    val rnd = Array.tabulate(32)(i => ((i * 37 + 11) % 256).toByte)
    assert(DeletionVectors.z85Decode(
      DeletionVectors.z85Encode(rnd)).toSeq == rnd.toSeq)
  }

  private def officialPortable(values: Seq[Long],
                               runOptimize: Boolean): Array[Byte] = {
    val rb = new org.roaringbitmap.longlong.Roaring64NavigableMap()
    values.foreach(rb.addLong)
    if (runOptimize) rb.runOptimize()
    val bos = new java.io.ByteArrayOutputStream()
    rb.serializePortable(new java.io.DataOutputStream(bos))
    bos.toByteArray
  }

  test("house decoder reads the canonical library's portable bytes: array containers") {
    val vals = Seq(1L, 3L, 5L, 100L, 65535L, 65536L, 70000L, (1L << 33) + 7)
    val got = DeletionVectors.decodePortable64(officialPortable(vals, false))
    assert(got.toSet == vals.toSet)
  }

  test("house decoder: run containers (runOptimize forces them)") {
    val vals = (1000L to 6000L) ++ (70000L to 70100L)
    val got = DeletionVectors.decodePortable64(
      officialPortable(vals, runOptimize = true))
    assert(got.toSet == vals.toSet)
  }

  test("house decoder: bitmap containers (dense, > 4096 per chunk)") {
    val vals = (0L until 20000L by 2) :+ (1L << 40)
    val got = DeletionVectors.decodePortable64(officialPortable(vals, false))
    assert(got.toSet == vals.toSet)
  }

  test("DV file wrapper verifies size, magic, and CRC loudly") {
    val bm = officialPortable(Seq(2L, 4L, 9L), false)
    val (file, offset, size) = DeletionVectors.dvFileBytes(bm)
    assert(DeletionVectors.decodeAt(file, offset, size).toSet ==
      Set(2L, 4L, 9L))
    // flipped bitmap bit -> CRC mismatch
    val bad = file.clone(); bad(file.length - 6) = (bad(file.length - 6) ^ 1).toByte
    intercept[IllegalArgumentException] {
      DeletionVectors.decodeAt(bad, offset, size)
    }
    // wrong declared size
    intercept[IllegalArgumentException] {
      DeletionVectors.decodeAt(file, offset, size - 1)
    }
    // bad version byte
    val badV = file.clone(); badV(0) = 2
    intercept[IllegalArgumentException] {
      DeletionVectors.decodeAt(badV, offset, size)
    }
  }

  /** A 2-commit Delta table whose second commit re-adds the data file
    * with a deletion vector over `deadPositions`, stored as requested.
    */
  private def dvTable(deadPositions: Seq[Long], inline: Boolean): String = {
    val t0 = Files.createTempDirectory("delta_dv")
    val df = (0L until 20L).toDF("k").withColumn("v", col("k") * 10)
      .orderBy("k").coalesce(1)
    Files.createDirectories(t0.resolve("data"))
    df.write.mode("overwrite").parquet(t0.resolve("staging").toString)
    val part = Files.list(t0.resolve("staging")).iterator()
    val dataFile = {
      var f: java.nio.file.Path = null
      while (part.hasNext) {
        val p = part.next()
        if (p.getFileName.toString.endsWith(".parquet")) f = p
      }
      Files.move(f, t0.resolve("data/f0.parquet"))
      "data/f0.parquet"
    }
    val schema = org.apache.spark.sql.types.StructType.fromDDL(
      "k BIGINT, v BIGINT")
    def esc(s: String) = s.replace("\\", "\\\\").replace("\"", "\\\"")
    val logDir = t0.resolve("_delta_log")
    Files.createDirectories(logDir)
    Files.writeString(logDir.resolve(f"${0L}%020d.json"), Seq(
      s"""{"metaData":{"id":"dv","schemaString":"${esc(schema.json)}","partitionColumns":[]}}""",
      s"""{"add":{"path":"$dataFile","partitionValues":{},"dataChange":true}}""")
      .mkString("\n"))
    val bm = officialPortable(deadPositions, runOptimize = true)
    val dvField =
      if (inline) {
        // inline payload must be z85 (4-byte groups): pad, size bounds it
        val data = java.nio.ByteBuffer.allocate(4 + bm.length)
          .order(java.nio.ByteOrder.LITTLE_ENDIAN)
          .putInt(DeletionVectors.Magic).put(bm).array()
        val padded = java.util.Arrays.copyOf(data, (data.length + 3) / 4 * 4)
        s""""deletionVector":{"storageType":"i","pathOrInlineDv":"${DeletionVectors.z85Encode(padded)}","offset":1,"sizeInBytes":${data.length},"cardinality":${deadPositions.size}}"""
      } else {
        val (file, offset, size) = DeletionVectors.dvFileBytes(bm)
        val uuid = java.util.UUID.randomUUID()
        val ub = java.nio.ByteBuffer.allocate(16)
        ub.putLong(uuid.getMostSignificantBits)
        ub.putLong(uuid.getLeastSignificantBits)
        Files.write(t0.resolve(s"deletion_vector_$uuid.bin"), file)
        s""""deletionVector":{"storageType":"u","pathOrInlineDv":"${DeletionVectors.z85Encode(ub.array())}","offset":$offset,"sizeInBytes":$size,"cardinality":${deadPositions.size}}"""
      }
    Files.writeString(logDir.resolve(f"${1L}%020d.json"),
      s"""{"add":{"path":"$dataFile","partitionValues":{},"dataChange":false,$dvField}}""")
    t0.toString
  }

  test("DeltaLog read applies a 'u'-stored deletion vector") {
    val dead = Seq(0L, 3L, 7L, 19L)
    val got = DeltaLog.read(spark, dvTable(dead, inline = false))
      .orderBy("k").as[(Long, Long)].collect().toSeq
    assert(got.map(_._1) == (0L until 20L).filterNot(dead.contains))
    assert(got.forall { case (k, v) => v == k * 10 })
  }

  test("DeltaLog read applies an inline deletion vector") {
    val dead = Seq(1L, 2L, 4L, 8L, 16L)
    val got = DeltaLog.read(spark, dvTable(dead, inline = true))
      .orderBy("k").as[(Long, Long)].collect().toSeq
    assert(got.map(_._1) == (0L until 20L).filterNot(dead.contains))
  }

  test("time travel to the pre-DV version sees every row") {
    val dead = Seq(5L, 6L)
    val table = dvTable(dead, inline = false)
    val v0 = DeltaLog.read(spark, table, versionAsOf = Some(0L))
    assert(v0.count() == 20L)
    assert(DeltaLog.read(spark, table).count() == 18L)
  }

  test("house ENCODER bytes parse in the canonical library: array + bitmap + buckets (r10)") {
    // array containers, a dense >4096 bitmap container, and two
    // high-32-bit buckets — every arm the encoder has
    val vals = (Seq(1L, 3L, 65535L, 65536L, 70000L) ++
      (100000L until 120000L by 2) ++ // dense: bitmap container
      Seq((1L << 33) + 7, (1L << 33) + 9)).sorted.toArray
    val bytes = DeletionVectors.encodePortable64(vals)
    // canonical library reads the house bytes
    val rb = new org.roaringbitmap.longlong.Roaring64NavigableMap()
    rb.deserializePortable(new java.io.DataInputStream(
      new java.io.ByteArrayInputStream(bytes)))
    assert(rb.getLongCardinality == vals.length)
    assert(vals.forall(rb.contains), "canonical library missed house-encoded values")
    // and the house decoder round-trips its own encoder
    assert(DeletionVectors.decodePortable64(bytes).toSeq == vals.toSeq)
    // byte-level: the canonical library's no-run serialization of the
    // same set is IDENTICAL (both emit the portable spec's no-run form)
    assert(bytes.toSeq == officialPortable(vals.toSeq, runOptimize = false).toSeq)
  }

  test("encoder rejects unsorted and negative inputs loudly (r10)") {
    intercept[IllegalArgumentException] {
      DeletionVectors.encodePortable64(Array(3L, 1L))
    }
    intercept[IllegalArgumentException] {
      DeletionVectors.encodePortable64(Array(-1L, 4L))
    }
    assert(DeletionVectors.decodePortable64(
      DeletionVectors.encodePortable64(Array.empty[Long])).isEmpty)
  }

  test("deleteWithDv: the engine writes a DV commit its reader applies (r10)") {
    val table = dvTable(Seq(9L), inline = false) // v1 already has a DV add
    // delete even keys from the SAME table via the engine path — the
    // file already carries a DV, so the new commit must UNION the
    // existing bitmap with the fresh positions (r11), never drop the
    // earlier deletes
    DeltaLog.deleteWithDv(spark, table, "data/f0.parquet",
      org.apache.spark.sql.functions.col("k") % 2 === 0)
    val merged = DeltaLog.read(spark, table)
      .select("k").as[Long].collect().toSet
    assert(merged == (0L until 20L).filter(k => k % 2 == 1 && k != 9L).toSet,
      "re-delete must union with the pre-existing DV")
    // fresh table (time-travel target v0 has no DV): build one without
    val t2 = {
      val t0 = Files.createTempDirectory("dvw_spec")
      val df = spark.range(0, 30).selectExpr("id AS k", "id * 10 AS v")
        .orderBy("k")
      val tmp = Files.createTempDirectory("dvw_part")
      df.coalesce(1).write.mode("overwrite").parquet(tmp.toString)
      import scala.jdk.CollectionConverters._
      val part = Files.list(tmp).iterator().asScala
        .find(_.getFileName.toString.endsWith(".parquet")).get
      Files.move(part, t0.resolve("f0.parquet"))
      def esc(s: String) = s.replace("\\", "\\\\").replace("\"", "\\\"")
      val schema = org.apache.spark.sql.types.StructType.fromDDL(
        "k BIGINT, v BIGINT")
      val logDir = t0.resolve("_delta_log")
      Files.createDirectories(logDir)
      Files.writeString(logDir.resolve(f"${0L}%020d.json"), Seq(
        s"""{"metaData":{"id":"dvw","schemaString":"${esc(schema.json)}","partitionColumns":[]}}""",
        s"""{"add":{"path":"f0.parquet","partitionValues":{},"dataChange":true}}""")
        .mkString("\n"))
      t0.toString
    }
    val v = DeltaLog.deleteWithDv(spark, t2, "f0.parquet",
      org.apache.spark.sql.functions.col("k") % 3 === 1)
    assert(v == 1L)
    val got = DeltaLog.read(spark, t2).orderBy("k")
      .as[(Long, Long)].collect().toSeq
    assert(got.map(_._1) == (0L until 30L).filterNot(_ % 3 == 1))
    assert(got.forall { case (k, vv) => vv == k * 10 })
    // the DV file on disk parses in the canonical library too
    import scala.jdk.CollectionConverters._
    val dvFile = Files.list(java.nio.file.Paths.get(t2)).iterator().asScala
      .find(_.getFileName.toString.startsWith("deletion_vector_")).get
    val raw = Files.readAllBytes(dvFile)
    // strip version byte + BE size, then magic, then portable bitmap
    val size = java.nio.ByteBuffer.wrap(raw, 1, 4).getInt
    val bitmap = java.util.Arrays.copyOfRange(raw, 1 + 4 + 4, 1 + 4 + size)
    val rb = new org.roaringbitmap.longlong.Roaring64NavigableMap()
    rb.deserializePortable(new java.io.DataInputStream(
      new java.io.ByteArrayInputStream(bitmap)))
    assert(rb.getLongCardinality == (0L until 30L).count(_ % 3 == 1))
    // a second engine delete on the same file UNIONS (r11) — and the
    // merged bitmap still parses in the canonical library with the
    // union's cardinality
    val v2 = DeltaLog.deleteWithDv(spark, t2, "f0.parquet",
      org.apache.spark.sql.functions.col("k") % 3 === 0)
    assert(v2 == 2L)
    val after = DeltaLog.read(spark, t2)
      .select("k").as[Long].collect().toSet
    assert(after == (0L until 30L).filter(_ % 3 == 2).toSet,
      "second DV commit must union with the first")
    val st2 = DeltaLog.state(spark, t2)
    val dv = st2.files.head.deletionVector.get
    val sizeField = dv.sizeInBytes
    val uuidZ85 = dv.pathOrInlineDv
    val mergedRaw = Files.readAllBytes(java.nio.file.Paths.get(t2,
      s"deletion_vector_${DeletionVectors.z85Uuid(uuidZ85)}.bin"))
    val mergedBm = java.util.Arrays.copyOfRange(
      mergedRaw, 1 + 4 + 4, 1 + 4 + sizeField)
    val rb2 = new org.roaringbitmap.longlong.Roaring64NavigableMap()
    rb2.deserializePortable(new java.io.DataInputStream(
      new java.io.ByteArrayInputStream(mergedBm)))
    assert(rb2.getLongCardinality ==
      (0L until 30L).count(k => k % 3 == 0 || k % 3 == 1))
  }
}
