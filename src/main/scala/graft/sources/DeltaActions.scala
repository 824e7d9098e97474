package graft.sources

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.types._
import org.json4s._
import org.json4s.jackson.JsonMethods

/** The one codec of the Delta `_delta_log` format (delta.io PROTOCOL.md,
  * "Actions" and "Deletion Vectors"): typed actions, one json4s
  * [[decode]] for every line a reader sees (JSON commits, and checkpoint
  * rows rendered back to JSON), and one `json` encoder per action for
  * every line a writer emits. Encoders keep a fixed field order and
  * omit absent optional fields, so the same state always writes the
  * same bytes.
  *
  * Decoding rules: unknown action kinds (`txn`, `domainMetadata`, ...)
  * are skipped; a line that does not parse, or an action missing a
  * required field, throws (naming table, file and line through
  * [[readCommit]]); a non-string partition or configuration value from a
  * foreign writer decodes to its JSON text, and a JSON null to null.
  */
private[sources] object DeltaActions {

  /** A deletion vector descriptor: `u` (z85 UUID of a
    * `deletion_vector_<uuid>.bin`, optionally prefixed), `p` (absolute
    * path) or `i` (inline z85 payload); `offset` locates the DV inside
    * an on-disk file.
    */
  final case class Dv(storageType: String, pathOrInlineDv: String,
                      offset: Option[Int], sizeInBytes: Int, cardinality: Long) {
    def jvalue: JValue = obj("storageType" -> JString(storageType),
      "pathOrInlineDv" -> JString(pathOrInlineDv),
      "offset" -> opt(offset)(JInt(_)), "sizeInBytes" -> JInt(sizeInBytes),
      "cardinality" -> JInt(cardinality))
  }

  sealed trait Action {
    protected def kind: String
    protected def body: JValue
    /** The action's `_delta_log` line. */
    def json: String = JsonMethods.compact(JsonMethods.render(obj(kind -> body)))
  }

  final case class Add(path: String, partitionValues: Map[String, String],
                       dataChange: Boolean, stats: Option[String] = None,
                       deletionVector: Option[Dv] = None) extends Action {
    protected def kind = "add"
    protected def body = obj("path" -> JString(path),
      "partitionValues" -> strMap(partitionValues),
      "dataChange" -> JBool(dataChange), "stats" -> opt(stats)(JString(_)),
      "deletionVector" -> opt(deletionVector)(_.jvalue))
  }

  /** `partitionValues` is optional on a remove; empty is omitted. */
  final case class Remove(path: String, dataChange: Boolean,
                          deletionVector: Option[Dv] = None,
                          partitionValues: Map[String, String] = Map.empty) extends Action {
    protected def kind = "remove"
    protected def body = obj("path" -> JString(path),
      "partitionValues" -> (if (partitionValues.isEmpty) JNothing else strMap(partitionValues)),
      "dataChange" -> JBool(dataChange),
      "deletionVector" -> opt(deletionVector)(_.jvalue))
  }

  final case class Cdc(path: String, partitionValues: Map[String, String],
                       size: Option[Long], dataChange: Boolean) extends Action {
    protected def kind = "cdc"
    protected def body = obj("path" -> JString(path),
      "partitionValues" -> strMap(partitionValues),
      "size" -> opt(size)(JInt(_)), "dataChange" -> JBool(dataChange))
  }

  final case class MetaData(id: String, schemaString: String,
                            partitionColumns: Seq[String],
                            configuration: Map[String, String]) extends Action {
    protected def kind = "metaData"
    protected def body = obj("id" -> JString(id), "schemaString" -> JString(schemaString),
      "partitionColumns" -> JArray(partitionColumns.map(JString(_)).toList),
      "configuration" -> strMap(configuration))
    def schema: StructType = DataType.fromJson(schemaString).asInstanceOf[StructType]
  }

  /** Empty feature lists are omitted (legacy protocol versions). */
  final case class Protocol(minReaderVersion: Int, minWriterVersion: Int,
                            readerFeatures: Seq[String] = Seq.empty,
                            writerFeatures: Seq[String] = Seq.empty) extends Action {
    protected def kind = "protocol"
    protected def body = obj("minReaderVersion" -> JInt(minReaderVersion),
      "minWriterVersion" -> JInt(minWriterVersion),
      "readerFeatures" -> strs(readerFeatures), "writerFeatures" -> strs(writerFeatures))
  }

  /** Only `inCommitTimestamp` is read; other commitInfo fields are
    * provenance no reader here consumes.
    */
  final case class CommitInfo(inCommitTimestamp: Option[Long]) extends Action {
    protected def kind = "commitInfo"
    protected def body = obj("inCommitTimestamp" -> opt(inCommitTimestamp)(JInt(_)))
  }

  /** The `_last_checkpoint` pointer. */
  final case class LastCheckpoint(version: Long, size: Long, parts: Option[Int] = None) {
    def json: String = JsonMethods.compact(JsonMethods.render(obj(
      "version" -> JInt(version), "size" -> JInt(size), "parts" -> opt(parts)(JInt(_)))))
  }

  private def obj(fields: (String, JValue)*): JValue =
    JObject(fields.filter(_._2 != JNothing).toList)
  private def opt[A](o: Option[A])(f: A => JValue): JValue = o.fold[JValue](JNothing)(f)
  private def strMap(m: Map[String, String]): JValue =
    JObject(m.toList.sortBy(_._1).map { case (k, v) =>
      k -> (if (v == null) JNull else JString(v)) })
  private def strs(s: Seq[String]): JValue =
    if (s.isEmpty) JNothing else JArray(s.map(JString(_)).toList)

  /** One `_delta_log` line → its action; None for a kind this codec
    * does not model. Throws on malformed JSON or a missing required
    * field.
    */
  def decode(line: String): Option[Action] = {
    val fields = JsonMethods.parse(line) match {
      case JObject(fs) => fs
      case other => throw new IllegalArgumentException(
        s"log line is not a JSON object: ${other.getClass.getSimpleName}")
    }
    fields.collectFirst { case (k, a: JObject) if Kinds.contains(k) => (k, a) }.map {
      case ("add", a) => Add(req(a, "add", "path", str), strMapOf(a \ "partitionValues"),
        bool(a \ "dataChange"), str(a \ "stats"), dvOf(a \ "deletionVector"))
      case ("remove", a) => Remove(req(a, "remove", "path", str), bool(a \ "dataChange"),
        dvOf(a \ "deletionVector"), strMapOf(a \ "partitionValues"))
      case ("cdc", a) => Cdc(req(a, "cdc", "path", str), strMapOf(a \ "partitionValues"),
        long(a \ "size"), bool(a \ "dataChange"))
      case ("metaData", a) => MetaData(str(a \ "id").getOrElse(""),
        req(a, "metaData", "schemaString", str), strSeq(a \ "partitionColumns"),
        strMapOf(a \ "configuration"))
      case ("protocol", a) => Protocol(long(a \ "minReaderVersion").getOrElse(1L).toInt,
        long(a \ "minWriterVersion").getOrElse(1L).toInt,
        strSeq(a \ "readerFeatures"), strSeq(a \ "writerFeatures"))
      case (_, a) => CommitInfo(long(a \ "inCommitTimestamp"))
    }
  }

  private val Kinds = Set("add", "remove", "cdc", "metaData", "protocol", "commitInfo")

  private def req[A](a: JValue, kind: String, field: String,
                     get: JValue => Option[A]): A =
    get(a \ field).getOrElse(throw new IllegalArgumentException(
      s"$kind action without $field"))

  private def str(j: JValue): Option[String] = j match {
    case JString(s) => Some(s)
    case JNothing | JNull => None
    case other => throw new IllegalArgumentException(s"expected a string, got ${text(other)}")
  }

  private def long(j: JValue): Option[Long] = j match {
    case JInt(v) => Some(v.toLong)
    case JLong(v) => Some(v)
    case JNothing | JNull => None
    case other => throw new IllegalArgumentException(s"expected an integer, got ${text(other)}")
  }

  /** `dataChange` defaults to true when a foreign writer omits it. */
  private def bool(j: JValue): Boolean = j match {
    case JBool(b) => b
    case _ => true
  }

  private def text(j: JValue): String = JsonMethods.compact(JsonMethods.render(j))

  private def strMapOf(j: JValue): Map[String, String] = j match {
    case JObject(fs) => fs.map {
      case (k, JString(s)) => k -> s
      case (k, JNull | JNothing) => k -> (null: String)
      case (k, v) => k -> text(v)
    }.toMap
    case _ => Map.empty
  }

  private def strSeq(j: JValue): Seq[String] = j match {
    case JArray(vs) => vs.flatMap(str)
    case _ => Seq.empty
  }

  private def dvOf(j: JValue): Option[Dv] = j match {
    case d: JObject => Some(Dv(req(d, "deletionVector", "storageType", str),
      req(d, "deletionVector", "pathOrInlineDv", str), long(d \ "offset").map(_.toInt),
      req(d, "deletionVector", "sizeInBytes", long).toInt,
      req(d, "deletionVector", "cardinality", long)))
    case _ => None
  }

  /** Decode `lines` of `what`, rethrowing any failure with `what` and
    * the 1-based line number.
    */
  private def decodeAll(lines: Seq[String], what: => String): Seq[Action] =
    lines.zipWithIndex.flatMap { case (line, i) =>
      if (line.trim.isEmpty) None
      else try decode(line) catch {
        case e: Exception => throw new IllegalArgumentException(
          s"unreadable delta log: line ${i + 1} of $what: ${e.getMessage}", e)
      }
    }

  def commitFile(table: String, v: Long): Path =
    Paths.get(table, "_delta_log", f"$v%020d.json")

  /** The actions of JSON commit `v`, decoded on the driver. */
  def readCommit(table: String, v: Long): Seq[Action] = {
    val p = commitFile(table, v)
    require(Files.exists(p), s"commit v$v missing: $table")
    decodeAll(Files.readAllLines(p).asScala.toSeq, s"commit v$v ($p) of $table")
  }

  /** The rows checkpoints carry, read and written: metaData, protocol,
    * and one add per live file (partitionValues as a map). Remove
    * tombstones are not read: a checkpoint's adds are its live set.
    */
  val CheckpointSchema: StructType = {
    val dv = StructType(Seq(StructField("storageType", StringType),
      StructField("pathOrInlineDv", StringType), StructField("offset", LongType),
      StructField("sizeInBytes", LongType), StructField("cardinality", LongType)))
    StructType(Seq(
      StructField("metaData", StructType(Seq(StructField("id", StringType),
        StructField("schemaString", StringType),
        StructField("partitionColumns", ArrayType(StringType)),
        StructField("configuration", MapType(StringType, StringType))))),
      StructField("protocol", StructType(Seq(StructField("minReaderVersion", IntegerType),
        StructField("readerFeatures", ArrayType(StringType)),
        StructField("minWriterVersion", IntegerType),
        StructField("writerFeatures", ArrayType(StringType))))),
      StructField("add", StructType(Seq(StructField("path", StringType),
        StructField("partitionValues", MapType(StringType, StringType)),
        StructField("dataChange", BooleanType), StructField("stats", StringType),
        StructField("deletionVector", dv))))))
  }

  /** The actions of one checkpoint (all its parts): one Spark job reads
    * the parts under [[CheckpointSchema]] and renders each row as JSON,
    * which [[decode]] reads like any commit line.
    */
  def readCheckpoint(spark: SparkSession, table: String, parts: Seq[Path]): Seq[Action] =
    decodeAll(spark.read.schema(CheckpointSchema).parquet(parts.map(_.toString): _*)
      .toJSON.collect().toSeq, s"checkpoint ${parts.head.getFileName} of $table")

  def readLastCheckpoint(txt: String): Long =
    (JsonMethods.parse(txt) \ "version") match {
      case JInt(v) => v.toLong
      case JLong(v) => v
      case _ => throw new IllegalArgumentException("no version field")
    }
}
