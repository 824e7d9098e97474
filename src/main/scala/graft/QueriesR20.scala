package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.sources.Tables

/** Round-10b surface growth: the next real-lake tier the r10 sketch
  * ranked — record create-times on the Kafka wire with ListOffsets
  * time seeks (X55), Iceberg APPEND commits (F15d), Avro reader-schema
  * RESOLUTION (F16c), and planar (PlanarConfiguration=2) TIFF (M17d).
  * House contract as everywhere: deterministic fixtures, every gate a
  * bit-exact hash compare against DuckDB on the same tables.
  */
object QueriesR20 {
  private def t(s: SparkSession, dir: String, name: String): DataFrame =
    Tables.load(s, dir, name)

  /** X55: seek-by-TIME on the Kafka wire — orders produced with their
    * o_orderkey as the record CREATE-TIME (monotone per partition:
    * `repartition(pt).sortWithinPartitions(pt, ts)`, the layout the
    * broker time index assumes), then the stream STARTS from
    * `offsetsForTimes(T)` where T = ⌊max(o_orderkey)/2⌋ — a real
    * ListOffsets v1 timestamp lookup, not the -1/-2 sentinels — and
    * replays exactly the suffix. The aggregate carries min/max of the
    * WIRE timestamp column per group, so the hash compare witnesses
    * both the seek boundary (nothing below T leaks in) and create-time
    * fidelity through produce → broker log → fetch.
    */
  def streamKafkaSeekTs(s: SparkSession, dir: String): DataFrame = {
    val o = t(s, dir, "orders").select(col("o_orderkey"), col("o_orderstatus"),
      (col("o_totalprice").cast("decimal(12,2)") * 100)
        .cast("long").as("cents"))
    val server = graft.streaming.KafkaBusServer.serve(
      null, emptyPartitions = 4)
    try {
      graft.streaming.KafkaWire.produceSinkTimestamped(
        o.select(pmod(col("o_orderkey"), lit(4)).as("pt"),
            col("o_orderkey").as("ts"),
            to_json(struct(col("o_orderstatus"), col("cents"))).as("v"))
          .repartition(4, col("pt"))
          .sortWithinPartitions(col("pt"), col("ts")),
        "127.0.0.1", server.port, "bus",
        col("pt"), col("ts"), col("v"))
      val seekTs = o.agg(floor(max(col("o_orderkey")) / 2).cast("long"))
        .head.getLong(0) // driver scalar: the seek point, metadata-sized
      val trigger = math.max(100L, o.count() / 8)
      graft.streaming.Streams.kafkaBusReplayFrom(s, "127.0.0.1", server.port,
          "bus", seekTs, trigger, s"gate_kafkaseek_${System.nanoTime()}") { stream =>
        stream.select(col("timestamp").as("ts"),
            from_json(col("value"),
              org.apache.spark.sql.types.StructType.fromDDL(
                "o_orderstatus STRING, cents LONG")).as("e"))
          .groupBy(col("e.o_orderstatus").as("o_orderstatus"))
          .agg(count(lit(1)).as("n"), sum(col("e.cents")).as("sum_cents"),
            min(col("ts")).as("min_ts"), max(col("ts")).as("max_ts"))
      }.orderBy(col("o_orderstatus"))
    } finally server.close()
  }

  /** The F15e fixture: a table BORN EMPTY (snapshot 10 = a manifest
    * list with no manifests) that reaches its full state through two
    * engine-written APPEND commits — suppliers with s_suppkey % 4 ≠ 0
    * at snapshot 20, the remainder at snapshot 30 — so the read
    * witnesses that appends COMPOSE (the second commit extends the
    * live set, never replaces it).
    */
  private def buildIcebergAppendTable(s: SparkSession, dir: String): String =
    Staged(s, dir, "iceberg_append") {
      import graft.sources.IcebergCatalog._
      val t0 = java.nio.file.Files.createTempDirectory("ice_app_rt")
      val mdir = t0.resolve("metadata")
      java.nio.file.Files.createDirectories(mdir)
      val ml1 = mdir.resolve("snap-10.avro")
      writeManifestList(ml1, Seq.empty)
      writeMetadataJson(mdir.resolve("v1.metadata.json"),
        Seq(("s_suppkey", "long", true), ("s_name", "string", false),
          ("cents", "long", false), ("nk", "string", false)),
        Seq("nk"), Seq(10L -> ml1))
      val sup = t(s, dir, "supplier").select(
        col("s_suppkey").cast("long").as("s_suppkey"), col("s_name"),
        (col("s_acctbal").cast("decimal(12,2)") * 100)
          .cast("long").as("cents"),
        pmod(col("s_suppkey"), lit(5)).cast("string").as("nk"))
      val s1 = commitAppend(s, t0.toString,
        sup.filter(col("s_suppkey") % 4 =!= 0), snapshotId = 20L)
      require(s1 == 20L)
      val s2 = commitAppend(s, t0.toString,
        sup.filter(col("s_suppkey") % 4 === 0), snapshotId = 30L)
      require(s2 == 30L)
      t0.toString
    }

  /** F15e (r10b): Iceberg APPEND write — `commitAppend` turns a
    * DataFrame into data parquet files (one distributed partitionBy
    * write; identity-partition values ride the manifest entries, long
    * column bounds included for pruning), a content=0 manifest, and a
    * new snapshot/metadata version; two successive appends rebuild the
    * WHOLE supplier table from empty, and the engine's own reader
    * returns it. Oracle = the same projection in plain SQL — the
    * commit machinery must be invisible.
    */
  def icebergAppendRoundtrip(s: SparkSession, dir: String): DataFrame =
    graft.sources.IcebergCatalog.read(s, buildIcebergAppendTable(s, dir))
      .select(col("s_suppkey"), col("s_name"), col("cents"), col("nk"))
      .orderBy(col("s_suppkey"))

  /** F16c (r10b): Avro schema RESOLUTION across generations — the
    * evolution rules every long-lived lake table eventually needs,
    * exercised on a directory holding TWO writer-schema generations of
    * documents: gen-1 (even doc_ids) wrote `(doc_id int, source)`,
    * gen-2 (odd doc_ids) wrote `(source, text_len, doc_id long)` —
    * reordered, with a new column, and with doc_id WIDENED. One
    * [[graft.sources.AvroTable.readResolved]] under the reader schema
    * `(doc_id long, source, text_len long)` spans both: fields match
    * by name, gen-1's int doc_id PROMOTES to long, gen-1's missing
    * text_len takes its null default, and gen-2's reordering is
    * invisible. Oracle = the same rows in plain SQL with text_len null
    * on the even generation.
    */
  def avroEvolutionRoundtrip(s: SparkSession, dir: String): DataFrame = {
    val root = Staged(s, dir, "avro_evolution") {
      val out = java.nio.file.Files
        .createTempDirectory("graft_avro_evo")
      val d = t(s, dir, "documents")
      val g1 = java.nio.file.Files.createTempDirectory("avro_evo_g1")
      val g2 = java.nio.file.Files.createTempDirectory("avro_evo_g2")
      graft.sources.AvroTable.write(
        d.filter(col("doc_id") % 2 === 0)
          .select(col("doc_id").cast("int").as("doc_id"), col("source")),
        g1.toString)
      graft.sources.AvroTable.write(
        d.filter(col("doc_id") % 2 === 1)
          .select(col("source"),
            length(col("text")).cast("long").as("text_len"),
            col("doc_id")),
        g2.toString)
      // both generations land in ONE directory, per-generation names
      import scala.jdk.CollectionConverters._
      Seq(("g1", g1), ("g2", g2)).foreach { case (tag, src) =>
        val st = java.nio.file.Files.list(src)
        val avros = try st.iterator().asScala
          .filter(_.getFileName.toString.endsWith(".avro")).toSeq
        finally st.close()
        avros.foreach { f =>
          java.nio.file.Files.move(f,
            out.resolve(s"$tag-${f.getFileName}"))
        }
      }
      out.toString
    }
    val readerSchema = graft.sources.AvroTable.avroSchemaJson(
      org.apache.spark.sql.types.StructType.fromDDL(
        "doc_id BIGINT, source STRING, text_len BIGINT"), "row")
    graft.sources.AvroTable.readResolved(s, root, readerSchema)
      .orderBy(col("doc_id"))
  }

  /** Little-endian hex of a (small, non-negative) integer column over
    * `nBytes` bytes — the M-family fixture-construction helper (the
    * QueriesR17/R18 idiom, restated locally).
    */
  private def le(v: org.apache.spark.sql.Column, nBytes: Int)
      : org.apache.spark.sql.Column =
    concat((0 until nBytes).map(i =>
      lpad(hex(pmod(v.cast("long") / (1L << (8 * i)), lit(256)).cast("int")),
        2, "0")): _*)

  /** One little-endian IFD entry: tag, type, count, inline value. */
  private def ifdEntry(tag: Int, typ: Int, count: Int,
      value: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    concat(le(lit(tag), 2), le(lit(typ), 2), le(lit(count), 4), le(value, 4))

  /** M17d (r10b): PLANAR-configuration-2 TIFF decode — each row
    * synthesizes a real little-endian RGB TIFF whose three strips each
    * carry ONE channel's plane, plane-major (tag 284 = 2, out-of-line
    * BitsPerSample/StripOffsets/StripByteCounts arrays), and
    * [[graft.multimodal.TiffRaster]] re-interleaves them into the M10
    * statistics; the oracle regenerates each channel arithmetically,
    * so a decoder that misorders planes or re-reads one plane as
    * chunky hash-fails. Multi-band planar strips, the per-plane
    * predictor, and tiled planes live in the spec.
    */
  def mmTiffPlanarStats(s: SparkSession, dir: String): DataFrame = {
    val d = t(s, dir, "documents").select(col("doc_id"))
      .withColumn("w", (col("doc_id") % 4 + 2).cast("int"))
      .withColumn("h", (col("doc_id") % 3 + 1).cast("int"))
      .withColumn("nb", col("w") * col("h"))
    val header = concat(lit("49492A00"), le(lit(8), 4), le(lit(10), 2))
    val ifd = concat(
      ifdEntry(256, 3, 1, col("w")), ifdEntry(257, 3, 1, col("h")),
      ifdEntry(258, 3, 3, lit(134)), ifdEntry(259, 3, 1, lit(1)),
      ifdEntry(262, 3, 1, lit(2)), ifdEntry(273, 4, 3, lit(140)),
      ifdEntry(277, 3, 1, lit(3)), ifdEntry(278, 3, 1, col("h")),
      ifdEntry(279, 4, 3, lit(152)), ifdEntry(284, 3, 1, lit(2)),
      le(lit(0), 4), // next IFD: none
      lit("080008000800"), // BitsPerSample [8,8,8] at 134
      le(lit(164), 4), le(col("nb") + 164, 4), // StripOffsets at 140:
      le(col("nb") * 2 + 164, 4), //   one strip per plane
      le(col("nb"), 4), le(col("nb"), 4), le(col("nb"), 4)) // counts at 152
    // planes at 164: R bytes, then G, then B — channel c pixel k is
    // (doc_id*11 + c*41 + k*19) % 256
    val planes = expr(
      """array_join(transform(sequence(0, 3 * nb - 1), k ->
        |  lpad(hex((doc_id * 11 + (k div nb) * 41 + (k % nb) * 19) % 256),
        |    2, '0')), '')""".stripMargin)
    val payload = unhex(concat(header, ifd, planes))
    d.withColumn("st", graft.multimodal.TiffRaster.tiff_stats(payload))
      .select(Seq(col("doc_id")) ++
        graft.multimodal.TiffRaster.schema.fieldNames.map(f =>
          col(s"st.$f").as(f)): _*)
      .withColumn("channels", col("channels").cast("long"))
      .withColumn("width", col("width").cast("long"))
      .withColumn("height", col("height").cast("long"))
      .orderBy(col("doc_id"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "stream_kafka_seek_ts" -> (streamKafkaSeekTs _),
    "iceberg_append_roundtrip" -> (icebergAppendRoundtrip _),
    "avro_evolution_roundtrip" -> (avroEvolutionRoundtrip _),
    "mm_tiff_planar_stats" -> (mmTiffPlanarStats _))

  val sql: Map[String, String] = Map(
    "stream_kafka_seek_ts" ->
      """WITH thr AS (
        |  SELECT CAST(FLOOR(MAX(o_orderkey) / 2.0) AS BIGINT) AS t
        |  FROM orders)
        |SELECT o_orderstatus, COUNT(*) AS n,
        |  CAST(SUM(CAST(CAST(o_totalprice AS DECIMAL(12,2)) * 100 AS BIGINT))
        |    AS BIGINT) AS sum_cents,
        |  CAST(MIN(o_orderkey) AS BIGINT) AS min_ts,
        |  CAST(MAX(o_orderkey) AS BIGINT) AS max_ts
        |FROM orders, thr WHERE o_orderkey >= thr.t
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    "iceberg_append_roundtrip" ->
      """SELECT CAST(s_suppkey AS BIGINT) AS s_suppkey, s_name,
        |  CAST(CAST(s_acctbal AS DECIMAL(12,2)) * 100 AS BIGINT) AS cents,
        |  CAST(s_suppkey % 5 AS VARCHAR) AS nk
        |FROM supplier ORDER BY s_suppkey""".stripMargin,
    "avro_evolution_roundtrip" ->
      """SELECT doc_id, source,
        |  CASE WHEN doc_id % 2 = 1 THEN CAST(length(text) AS BIGINT) END
        |    AS text_len
        |FROM documents ORDER BY doc_id""".stripMargin,
    "mm_tiff_planar_stats" ->
      """WITH dims AS (
        |  SELECT doc_id, doc_id % 4 + 2 AS w, doc_id % 3 + 1 AS h
        |  FROM documents
        |), px AS (
        |  SELECT doc_id,
        |    (doc_id*11 + p*19) % 256 AS r,
        |    (doc_id*11 + 41 + p*19) % 256 AS g,
        |    (doc_id*11 + 82 + p*19) % 256 AS b
        |  FROM (SELECT doc_id,
        |          unnest(generate_series(0, w * h - 1)) AS p FROM dims)
        |), lum AS (
        |  SELECT doc_id, r, g, b,
        |         CASE WHEN (299*r + 587*g + 114*b) // 31875 > 7 THEN 7
        |              ELSE (299*r + 587*g + 114*b) // 31875 END AS bk
        |  FROM px
        |)
        |SELECT d.doc_id, CAST(3 AS BIGINT) AS channels,
        |  CAST(d.w AS BIGINT) AS width, CAST(d.h AS BIGINT) AS height,
        |  CAST(d.w * d.h AS BIGINT) AS n_px,
        |  CAST(SUM(l.r) AS BIGINT) AS sum_r,
        |  CAST(SUM(l.g) AS BIGINT) AS sum_g,
        |  CAST(SUM(l.b) AS BIGINT) AS sum_b,
        |  CAST(SUM(CASE WHEN bk = 0 THEN 1 ELSE 0 END) AS BIGINT) AS h0,
        |  CAST(SUM(CASE WHEN bk = 1 THEN 1 ELSE 0 END) AS BIGINT) AS h1,
        |  CAST(SUM(CASE WHEN bk = 2 THEN 1 ELSE 0 END) AS BIGINT) AS h2,
        |  CAST(SUM(CASE WHEN bk = 3 THEN 1 ELSE 0 END) AS BIGINT) AS h3,
        |  CAST(SUM(CASE WHEN bk = 4 THEN 1 ELSE 0 END) AS BIGINT) AS h4,
        |  CAST(SUM(CASE WHEN bk = 5 THEN 1 ELSE 0 END) AS BIGINT) AS h5,
        |  CAST(SUM(CASE WHEN bk = 6 THEN 1 ELSE 0 END) AS BIGINT) AS h6,
        |  CAST(SUM(CASE WHEN bk = 7 THEN 1 ELSE 0 END) AS BIGINT) AS h7
        |FROM dims d JOIN lum l USING (doc_id)
        |GROUP BY d.doc_id, d.w, d.h
        |ORDER BY d.doc_id""".stripMargin)
}
