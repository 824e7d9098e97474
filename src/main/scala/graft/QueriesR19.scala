package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.sources.Tables

/** Round-9 surface growth: the training-data SHIPPING layer — tar-shard
  * (WebDataset-style) corpora (F19) and zstd dictionary compression
  * (F17b). House contract as everywhere: deterministic fixtures, every
  * gate a bit-exact hash compare against DuckDB on the same tables.
  */
object QueriesR19 {
  private def t(s: SparkSession, dir: String, name: String): DataFrame =
    Tables.load(s, dir, name)

  /** F19: WebDataset round-trip — documents packed as `<key>.txt` +
    * `<key>.json` members of 4 tar shards (the multimodal-corpus
    * shipping layout), read back shard-parallel, re-grouped into
    * samples by key prefix, fields projected flat so the hash compare
    * witnesses both member payloads and the grouping.
    */
  def wdsRoundtrip(s: SparkSession, dir: String): DataFrame = {
    val root = Staged(s, dir, "wds") {
      val out = java.nio.file.Files
        .createTempDirectory("graft_wds").toString
      val d = t(s, dir, "documents")
        .select(col("doc_id"), col("source"), col("text"))
      val members = d.select(col("doc_id"),
          concat(lpad(col("doc_id").cast("string"), 8, "0"), lit(".txt"))
            .as("name"),
          encode(col("text"), "UTF-8").as("payload"))
        .unionByName(d.select(col("doc_id"),
          concat(lpad(col("doc_id").cast("string"), 8, "0"), lit(".json"))
            .as("name"),
          encode(to_json(struct(col("source"))), "UTF-8").as("payload")))
      graft.sources.TarShards.write(
        members.repartition(4, pmod(col("doc_id"), lit(4)))
          .sortWithinPartitions(col("name"))
          .select(col("name"), col("payload")), out)
      out
    }
    graft.sources.TarShards.read(s, root)
      .select(substring_index(col("name"), ".", 1).as("key"),
        substring_index(col("name"), ".", -1).as("ext"),
        decode(col("payload"), "UTF-8").as("v"))
      .groupBy(col("key"))
      .agg(
        max(when(col("ext") === "txt", col("v"))).as("text"),
        max(when(col("ext") === "json",
          get_json_object(col("v"), "$.source"))).as("source"),
        count(lit(1)).as("n_members"))
      .select(col("key").cast("long").as("doc_id"), col("source"),
        length(col("text")).cast("long").as("n_chars"),
        col("n_members"))
      .orderBy(col("doc_id"))
  }

  /** F17b: zstd DICTIONARY round-trip — a dictionary trained on every
    * 10th document (bounded driver-side sample, stated), all documents
    * compressed and decompressed WITH it distributed per partition;
    * output carries the md5 of the decompressed text, so the hash
    * compare witnesses bit-exact recovery through the dictionary path
    * (compressed sizes are zstd-version-dependent and deliberately NOT
    * emitted — the oracle can only pin what both engines can compute).
    */
  def zstdDictRoundtrip(s: SparkSession, dir: String): DataFrame = {
    val d = t(s, dir, "documents")
      .select(col("doc_id"), encode(col("text"), "UTF-8").as("payload"))
    val dict = graft.sources.ZstdDict.train(
      d.filter(col("doc_id") % 10 === 0), col("payload"), dictSize = 4096)
    val z = graft.sources.ZstdDict.compress(d, col("doc_id"), col("payload"), dict)
    graft.sources.ZstdDict.decompress(z, col("id"), col("z"), dict)
      .select(col("id").as("doc_id"),
        md5(col("payload")).as("text_md5"),
        length(decode(col("payload"), "UTF-8")).cast("long").as("n_chars"))
      .orderBy(col("doc_id"))
  }

  /** F20: TFRecord round-trip — documents as length-framed,
    * double-CRC32C-masked records in 4 shards (the TensorFlow
    * container); payloads carry (doc_id, text) as JSON so the read
    * side re-keys without trusting shard order; md5-witnessed
    * recovery, the F17b posture.
    */
  def tfrecordRoundtrip(s: SparkSession, dir: String): DataFrame = {
    val root = Staged(s, dir, "tfrecord") {
      val out = java.nio.file.Files
        .createTempDirectory("graft_tfrec").toString
      graft.sources.TfRecord.write(
        t(s, dir, "documents")
          .select(col("doc_id"),
            encode(to_json(struct(col("doc_id"), col("text"))), "UTF-8")
              .as("payload"))
          .repartition(4, pmod(col("doc_id"), lit(4)))
          .sortWithinPartitions(col("doc_id"))
          .select(col("payload")), out)
      out
    }
    graft.sources.TfRecord.read(s, root)
      .select(from_json(decode(col("payload"), "UTF-8"),
        org.apache.spark.sql.types.StructType.fromDDL(
          "doc_id BIGINT, text STRING")).as("e"))
      .select(col("e.doc_id").as("doc_id"),
        md5(col("e.text")).as("text_md5"),
        length(col("e.text")).cast("long").as("n_chars"))
      .orderBy(col("doc_id"))
  }

  /** F20b (r10): GZIP-compressed TFRecord round-trip — the same
    * contract as F20 over `.tfrecord.gz` shards (TF tooling's
    * `TFRecordOptions(compression_type="GZIP")` default in many
    * pipelines): the gzip stream wraps the WHOLE shard and both masked
    * CRC-32Cs verify on the DECOMPRESSED framing. Same oracle — the
    * codec must be invisible.
    */
  def tfrecordGzipRoundtrip(s: SparkSession, dir: String): DataFrame = {
    val root = Staged(s, dir, "tfrecord_gzip") {
      val out = java.nio.file.Files
        .createTempDirectory("graft_tfgz").toString
      graft.sources.TfRecord.write(
        t(s, dir, "documents")
          .select(col("doc_id"),
            encode(to_json(struct(col("doc_id"), col("text"))), "UTF-8")
              .as("payload"))
          .repartition(4, pmod(col("doc_id"), lit(4)))
          .sortWithinPartitions(col("doc_id"))
          .select(col("payload")), out, codec = "GZIP")
      out
    }
    graft.sources.TfRecord.read(s, root)
      .select(from_json(decode(col("payload"), "UTF-8"),
        org.apache.spark.sql.types.StructType.fromDDL(
          "doc_id BIGINT, text STRING")).as("e"))
      .select(col("e.doc_id").as("doc_id"),
        md5(col("e.text")).as("text_md5"),
        length(col("e.text")).cast("long").as("n_chars"))
      .orderBy(col("doc_id"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "wds_roundtrip" -> (wdsRoundtrip _),
    "zstd_dict_roundtrip" -> (zstdDictRoundtrip _),
    "tfrecord_roundtrip" -> (tfrecordRoundtrip _),
    "tfrecord_gzip_roundtrip" -> (tfrecordGzipRoundtrip _))

  val sql: Map[String, String] = Map(
    "tfrecord_roundtrip" ->
      """SELECT doc_id, md5(text) AS text_md5,
        |  CAST(length(text) AS BIGINT) AS n_chars
        |FROM documents ORDER BY doc_id""".stripMargin,
    "tfrecord_gzip_roundtrip" ->
      """SELECT doc_id, md5(text) AS text_md5,
        |  CAST(length(text) AS BIGINT) AS n_chars
        |FROM documents ORDER BY doc_id""".stripMargin,
    "zstd_dict_roundtrip" ->
      """SELECT doc_id, md5(text) AS text_md5,
        |  CAST(length(text) AS BIGINT) AS n_chars
        |FROM documents ORDER BY doc_id""".stripMargin,
    "wds_roundtrip" ->
      """SELECT doc_id, source, CAST(length(text) AS BIGINT) AS n_chars,
        |  CAST(2 AS BIGINT) AS n_members
        |FROM documents ORDER BY doc_id""".stripMargin)
}
