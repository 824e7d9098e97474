package graft.sources

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._

import org.apache.avro.file.DataFileReader
import org.apache.avro.generic.{GenericDatumReader, GenericRecord}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DataType, LongType, StringType, StructField, StructType}
import org.json4s._
import org.json4s.jackson.JsonMethods

/** F15: Iceberg table reader — the second open-table-format interop leg
  * (Delta is F14), from the PUBLIC Apache Iceberg spec
  * (iceberg.apache.org/spec): a table directory holds a `metadata/`
  * subdirectory of `vN.metadata.json` files (table metadata: schemas,
  * partition specs, snapshots), each snapshot points at a MANIFEST
  * LIST (Avro)
  * whose rows point at MANIFEST FILES (Avro) whose `data_file` entries
  * carry the parquet paths, identity-partition values, and liveness
  * status. Zero new dependencies: metadata JSON parses with json4s
  * (on Spark's classpath) and the manifests with avro-core (shipped in
  * `/opt/spark/jars`) — both read GENERICALLY by field name, so the
  * subset works on real Iceberg files, not just fixtures.
  *
  * Subset honored (read path, v1/v2 tables):
  *  - newest metadata version by NUMERIC version (v9 < v10 in the
  *    HadoopTables layout; `version-hint.text` honored when present);
  *  - current snapshot (or `snapshotId` time travel) → its manifest
  *    list → `manifest_path` rows → manifest entries with
  *    `status != 2` (DELETED);
  *  - `schemas`/`schema` JSON → Spark schema (primitive types + the
  *    ones the house data model uses); the partition spec whose
  *    `spec-id` equals `default-spec-id` (loud failure when absent),
  *    identity transforms only (stated) — partition values re-enter as
  *    typed literals per file group, the F14 shape;
  *  - v2 DELETE files applied at read: POSITIONAL deletes
  *    (content=1: a parquet of (file_path, pos)) anti-join the data
  *    rows on (file, `_metadata.row_index`); EQUALITY deletes
  *    (content=2 + `equality_ids`) anti-join on the named columns.
  *    Sequence-number scoping follows the v2 rule (r14): an equality
  *    delete with data sequence number s covers data files sequenced
  *    STRICTLY below s — how a MERGE snapshot deletes old rows without
  *    swallowing the rows it appends in the same commit; an
  *    unsequenced (seq-0) delete keeps the legacy whole-live-set
  *    scope. Null equality values are out of scope (rejected loudly).
  *  - per-file `lower_bounds`/`upper_bounds` decode (long/int/string)
  *    into the same min/max box shape as the house
  *    [[graft.layout.FileManifest]]: `read(..., ranges)` skips files
  *    whose box misses a range predicate BEFORE any scan is planned —
  *    files without bounds are always scanned (no false negatives) and
  *    the exact predicate re-applies as a residual.
  *
  * Scale shape identical to F14: metadata is file-count-bounded on the
  * driver; data scans are parallel parquet reads per partition group
  * with pushdown intact; delete application is a distributed anti-join,
  * never a driver-side diff.
  */
object IcebergCatalog {

  /** `specId` is the partition spec the file was WRITTEN under (r13 —
    * carried by its manifest's `partition_spec_id` manifest-list
    * entry): a long-lived table that re-partitioned holds files under
    * several specs at once, and each file's partition tuple only means
    * anything under its OWN spec.
    */
  /** `seq` is the file's DATA SEQUENCE NUMBER (v2): equality deletes
    * apply only to data files with a strictly smaller sequence — how a
    * MERGE snapshot deletes old rows without covering the rows it
    * appends in the same commit. 0 = unsequenced (legacy fixtures).
    */
  final case class IceFile(path: String, partition: Map[String, Any],
                           bounds: Map[String, (Any, Any)] = Map.empty,
                           specId: Int = 0,
                           seq: Long = 0L)

  /** `partitionFields` keeps the IDENTITY spec-field names of the
    * DEFAULT spec (the ones whose values reconstruct as typed literal
    * columns — the data files omit them); `specFields` is the FULL
    * default spec incl. non-identity transforms (r11: year/month/day/
    * hour, bucket[N], truncate[W]) whose values ride the manifests for
    * PRUNING only — transform sources stay IN the data files, so
    * nothing reconstructs. `specsById` (r13) holds EVERY spec the
    * table ever partitioned under, historical ones included, keyed by
    * spec-id — what [[read]] resolves each file's spec through.
    */
  /** `eqDeletes` carries each delete's (file, equality column names,
    * sequence number): seq 0 = the legacy whole-live-set scope, seq > 0
    * = the v2 rule (covers data files with seq strictly below it).
    */
  final case class IceState(snapshotId: Long, schema: StructType,
                            partitionFields: Seq[String], files: Seq[IceFile],
                            posDeletes: Seq[IceFile] = Seq.empty,
                            eqDeletes: Seq[(IceFile, Seq[String], Long)] = Seq.empty,
                            specFields: Seq[IcebergTransforms.SpecField] = Seq.empty,
                            specsById: Map[Int, Seq[IcebergTransforms.SpecField]] = Map.empty,
                            defaultSpecId: Int = 0) {
    def specOf(f: IceFile): Seq[IcebergTransforms.SpecField] =
      specsById.getOrElse(f.specId, specFields)
  }

  private def icePrimitive(t: String): DataType = t match {
    case "long" => LongType
    case "int" => org.apache.spark.sql.types.IntegerType
    case "string" => StringType
    case "double" => org.apache.spark.sql.types.DoubleType
    case "float" => org.apache.spark.sql.types.FloatType
    case "boolean" => org.apache.spark.sql.types.BooleanType
    case "date" => org.apache.spark.sql.types.DateType
    case "timestamp" | "timestamptz" => org.apache.spark.sql.types.TimestampType
    case d if d.startsWith("decimal(") =>
      val Array(p, s) = d.stripPrefix("decimal(").stripSuffix(")").split(",")
      org.apache.spark.sql.types.DecimalType(p.trim.toInt, s.trim.toInt)
    case other =>
      throw new IllegalArgumentException(s"iceberg type not supported: $other")
  }

  /** Iceberg type JSON → Spark type: primitives, plus NESTED struct
    * and list nodes (r9 — any depth); maps stay out of subset, loud.
    */
  private def iceType(t: JValue): DataType = t match {
    case JString(p) => icePrimitive(p)
    case o: JObject => (o \ "type") match {
      case JString("struct") => schemaOf(o \ "fields")
      case JString("list") =>
        val req = (o \ "element-required") match {
          case JBool(b) => b; case _ => false
        }
        org.apache.spark.sql.types.ArrayType(
          iceType(o \ "element"), containsNull = !req)
      case other => throw new IllegalArgumentException(
        s"iceberg nested type not supported: $other")
    }
    case other =>
      throw new IllegalArgumentException(s"iceberg type node invalid: $other")
  }

  private def schemaOf(fields: JValue): StructType = StructType(
    fields.children.map { f =>
      val JString(name) = f \ "name"
      val required = (f \ "required") match {
        case JBool(b) => b; case _ => false
      }
      StructField(name, iceType(f \ "type"), nullable = !required)
    })

  /** Field-id → (name, type) from the schema JSON — the key space the
    * manifest's `equality_ids` and bound maps are expressed in.
    */
  private def fieldIds(fields: JValue): Map[Int, (String, DataType)] =
    fields.children.flatMap { f =>
      ((f \ "id"), (f \ "name"), (f \ "type")) match {
        case (JInt(id), JString(n), JString(t)) => Some(id.toInt -> (n, icePrimitive(t)))
        case _ => None
      }
    }.toMap

  /** Numeric metadata version: `vN.metadata.json` (HadoopTables) sorts
    * by N, `NNNNN-uuid.metadata.json` (catalog layout) by its leading
    * integer; anything else sorts last lexicographically. A plain name
    * sort reads v9 as newer than v10 once a table passes 10 versions.
    */
  private[sources] def metaVersion(name: String): Long = {
    val base = name.stripSuffix(".metadata.json")
    val v = "^v(\\d+)$".r
    val seq = "^(\\d+)(?:-.*)?$".r
    base match {
      case v(n) => n.toLong
      case seq(n) => n.toLong
      case _ => -1L
    }
  }

  /** Publish `md` as the metadata version after `base` — the file
    * [[loadMetadata]] returned, which `md` was derived from. The JSON
    * is linked in as `v<n+1>.metadata.json` and never replaces a file
    * already there: when a concurrent commit from the same base took
    * that version first this fails loudly and publishes nothing (the
    * staged `.tmp` name fails the `.metadata.json` filter, so readers
    * never see a torn file). `version-hint.text`, when the table keeps
    * one, then moves to n+1 atomically. Returns n+1.
    */
  private def publish(base: Path, md: JValue): Long = {
    val ver = metaVersion(base.getFileName.toString)
    require(ver >= 0, s"unversioned metadata file ${base.getFileName}")
    val mdir = base.getParent
    LakeWriter.publishNew(mdir.resolve(s"v${ver + 1}.metadata.json"),
      JsonMethods.compact(JsonMethods.render(md)))
    val hint = mdir.resolve("version-hint.text")
    if (Files.exists(hint)) LakeWriter.replaceAtomic(hint, (ver + 1).toString)
    ver + 1
  }

  /** A snapshot's (or ref's) `snapshot-id`; None when it has none. */
  private def idOf(node: JValue): Option[Long] = (node \ "snapshot-id") match {
    case JInt(v) => Some(v.toLong)
    case _ => None
  }

  /** The table's `current-snapshot-id`; loud when it has none. */
  private def currentId(md: JValue): Long = (md \ "current-snapshot-id") match {
    case JInt(v) => v.toLong
    case _ => throw new IllegalArgumentException("no current-snapshot-id")
  }

  /** `md` with `current-snapshot-id` — and the `main` ref, when the
    * table carries one — at `id`: every move of the main branch.
    */
  private def withMainAt(md: JValue, id: Long): JValue = {
    val cur = md merge JObject("current-snapshot-id" -> JInt(id))
    (md \ "refs") match {
      case JObject(fs) if fs.exists(_._1 == "main") =>
        cur merge JObject("refs" -> JObject("main" -> JObject(
          "snapshot-id" -> JInt(id), "type" -> JString("branch"))))
      case _ => cur
    }
  }

  /** Parse the newest metadata JSON: `version-hint.text` when present
    * (the HadoopTables commit pointer), else max NUMERIC version.
    */
  private def loadMetadata(table: String): (JValue, Path) = {
    val mdir = Paths.get(table, "metadata")
    require(Files.isDirectory(mdir), s"not an iceberg table: $table")
    val hint = mdir.resolve("version-hint.text")
    val p =
      if (Files.exists(hint)) {
        val v = Files.readString(hint).trim.toLong
        val hinted = mdir.resolve(s"v$v.metadata.json")
        require(Files.exists(hinted),
          s"version-hint.text says $v but $hinted is missing")
        hinted
      } else {
        val metas = {
          val st = Files.list(mdir)
          try st.iterator().asScala
            .filter(_.getFileName.toString.endsWith(".metadata.json"))
            .toSeq
          finally st.close()
        }
        require(metas.nonEmpty, s"no metadata.json under $mdir")
        metas.maxBy(m =>
          (metaVersion(m.getFileName.toString), m.getFileName.toString))
      }
    (JsonMethods.parse(Files.readString(p)), p)
  }

  private def avroRows(path: Path): Seq[GenericRecord] = {
    val rd = new DataFileReader[GenericRecord](path.toFile,
      new GenericDatumReader[GenericRecord]())
    try rd.iterator().asScala.toList finally rd.close()
  }

  private def optField(r: GenericRecord, name: String): Option[AnyRef] =
    if (r.getSchema.getField(name) != null) Option(r.get(name)) else None

  /** Resolve a possibly-absolute manifest location into the table dir:
    * real Iceberg writes absolute `file:`/object-store URIs — relocated
    * fixtures and copied tables keep only the tail, so anchor at the
    * table's directory name when present. The table path is
    * absolutized first so a single-segment relative table name cannot
    * NPE on a null parent, and `file://host/x` authorities parse via
    * URI instead of leaking `//host` into the filesystem path.
    */
  private[graft] def resolve(table: String, loc: String): Path = {
    val raw =
      if (loc.startsWith("file:"))
        try Paths.get(new java.net.URI(loc)).toString
        catch { case _: Exception =>
          loc.stripPrefix("file:").replaceFirst("^//[^/]*/", "/")
        }
      else loc
    val p = Paths.get(raw)
    val tableAbs = Paths.get(table).toAbsolutePath
    if (Files.exists(p)) p
    else {
      val tail = raw.split('/').dropWhile(_ != tableAbs.getFileName.toString)
      if (tail.nonEmpty) tableAbs.getParent.resolve(tail.mkString("/"))
      else tableAbs.resolve(raw)
    }
  }

  /** Decode one Iceberg single-value binary bound (spec Appendix D:
    * little-endian fixed width numerics, UTF-8 strings).
    */
  private def decodeBound(bytes: Array[Byte], t: DataType): Option[Any] = t match {
    case LongType if bytes.length == 8 =>
      Some(java.nio.ByteBuffer.wrap(bytes)
        .order(java.nio.ByteOrder.LITTLE_ENDIAN).getLong)
    case org.apache.spark.sql.types.IntegerType if bytes.length == 4 =>
      Some(java.nio.ByteBuffer.wrap(bytes)
        .order(java.nio.ByteOrder.LITTLE_ENDIAN).getInt)
    case StringType => Some(new String(bytes, StandardCharsets.UTF_8))
    case _ => None // undecodable bound = no skipping for this column
  }

  /** Bound maps arrive either as an Avro array of {key,value} records
    * (the spec layout — keys are ints, Avro maps can't hold them) or,
    * from lenient writers, as a string-keyed map.
    */
  private def boundMap(v: AnyRef): Map[Int, Array[Byte]] = {
    def bytes(b: AnyRef): Array[Byte] = b match {
      case bb: java.nio.ByteBuffer =>
        val a = new Array[Byte](bb.remaining()); bb.duplicate().get(a); a
      case a: Array[Byte] => a
      case other => other.toString.getBytes(StandardCharsets.UTF_8)
    }
    v match {
      case null => Map.empty
      case arr: java.util.Collection[_] =>
        arr.asScala.collect { case r: GenericRecord =>
          r.get("key").toString.toInt -> bytes(r.get("value").asInstanceOf[AnyRef])
        }.toMap
      case m: java.util.Map[_, _] =>
        m.asScala.map { case (k, b) =>
          k.toString.toInt -> bytes(b.asInstanceOf[AnyRef])
        }.toMap
      case _ => Map.empty
    }
  }

  /** Replay metadata to the live file set at a snapshot. */
  def state(spark: SparkSession, table: String,
            snapshotId: Option[Long] = None): IceState = {
    val (md, _) = loadMetadata(table)
    val current = snapshotId.getOrElse(currentId(md))
    val snap = (md \ "snapshots").children.find(s => idOf(s).contains(current))
      .getOrElse(throw new IllegalArgumentException(s"snapshot $current not found"))
    val JString(mlist) = snap \ "manifest-list"
    // schema: v2 `schemas` + current-schema-id, v1 fallback `schema`.
    // TIME TRAVEL (explicit snapshotId) to a snapshot stamped with its
    // OWN `schema-id` (r14 — what engine-written commits record) reads
    // under the schema it was committed with, so travel below an
    // [[addColumn]] sees the old shape; the CURRENT table always reads
    // (and writes) under current-schema-id — Iceberg's own rule, which
    // is what lets evolution apply to old files without rewrites.
    val schemaJson = (md \ "schemas") match {
      case JArray(ss) if ss.nonEmpty =>
        val currentId = (md \ "current-schema-id") match {
          case JInt(v) => v.toInt; case _ => 0
        }
        val cur =
          if (snapshotId.isEmpty) currentId
          else (snap \ "schema-id") match {
            case JInt(v) => v.toInt
            case _ => currentId
          }
        ss.find(s => (s \ "schema-id") match {
          case JInt(v) => v.toInt == cur; case _ => false
        }).getOrElse(ss.head)
      case _ => md \ "schema"
    }
    val schema = schemaOf(schemaJson \ "fields")
    val byId = fieldIds(schemaJson \ "fields")
    // ALL partition specs, historical included (r13, spec evolution on
    // read): every spec validates — an unknown transform in a spec no
    // file uses anymore is STILL a loud reject, because a later
    // manifest may reference it; each file reads under its own spec.
    def parseSpecFields(fields: List[JValue]): Seq[IcebergTransforms.SpecField] =
      fields.map { f =>
        val JString(n) = f \ "name"
        val transform = (f \ "transform") match {
          case JString(t) => t
          case JNothing => "identity"
          case other => throw new IllegalArgumentException(
            s"unparseable transform node for partition field $n: $other")
        }
        IcebergTransforms.validate(transform)
        val source = (f \ "source-id") match {
          case JInt(id) if byId.contains(id.toInt) => byId(id.toInt)._1
          // fixtures write source-id 0 for identity fields whose name IS
          // the source column; a non-identity transform must resolve
          case _ if transform == "identity" => n
          case other => throw new IllegalArgumentException(
            s"partition field $n ($transform) has unresolvable source-id $other")
        }
        IcebergTransforms.SpecField(n, transform, source)
      }
    val (specsById, defId) = (md \ "partition-specs") match {
      case JArray(specs) if specs.nonEmpty =>
        val defId0 = (md \ "default-spec-id") match {
          case JInt(v) => v.toInt; case _ => 0
        }
        val m = specs.map { s =>
          val id = (s \ "spec-id") match {
            case JInt(v) => v.toInt
            case _ => throw new IllegalArgumentException(
              "partition spec without spec-id")
          }
          id -> parseSpecFields((s \ "fields").children)
        }.toMap
        require(m.contains(defId0),
          s"default-spec-id $defId0 not present in partition-specs")
        (m, defId0)
      case _ => (Map(0 -> parseSpecFields((md \ "partition-spec").children)), 0)
    }
    val parsedSpec: Seq[IcebergTransforms.SpecField] = specsById(defId)
    // identity fields reconstruct as literal columns under the SOURCE
    // name (a renamed identity field still reads — the schema lookup in
    // read() stays loud if the name resolves to nothing)
    val partitionFields =
      parsedSpec.filter(_.transform == "identity").map(_.name)
    // (manifest path, spec-id it was written under): the manifest-list
    // entry's partition_spec_id, defaulting to the table default for
    // legacy single-spec lists that never carried the field
    val manifests = avroRows(resolve(table, mlist))
      .map(r => (r.get("manifest_path").toString,
        optField(r, "partition_spec_id").map(_.toString.toInt)
          .getOrElse(defId)))
    manifests.foreach { case (mp, sid) =>
      require(specsById.contains(sid),
        s"manifest $mp written under unknown spec-id $sid " +
          s"(known: ${specsById.keys.toSeq.sorted.mkString(",")}): $table")
    }
    val dataFiles = Seq.newBuilder[IceFile]
    val posDeletes = Seq.newBuilder[IceFile]
    val eqDeletes = Seq.newBuilder[(IceFile, Seq[String], Long)]
    manifests.foreach { case (mp, mSpecId) =>
      avroRows(resolve(table, mp)).foreach { entry =>
        val status = optField(entry, "status").map(_.toString.toInt).getOrElse(1)
        if (status != 2) { // skip DELETED entries
          val df = entry.get("data_file").asInstanceOf[GenericRecord]
          val content = optField(df, "content").map(_.toString.toInt).getOrElse(0)
          val seq = optField(entry, "sequence_number").map(_.toString.toLong).getOrElse(0L)
          val part = optField(df, "partition")
            .map(_.asInstanceOf[GenericRecord]) match {
            case Some(pr) =>
              // Avro strings arrive as Utf8 — keep values raw (content
              // equality holds for grouping); stringified at literal time
              pr.getSchema.getFields.asScala
                .map(f => f.name() -> pr.get(f.name())).toMap
            case None => Map.empty[String, Any]
          }
          val bounds: Map[String, (Any, Any)] = {
            val lo = optField(df, "lower_bounds").map(boundMap).getOrElse(Map.empty)
            val hi = optField(df, "upper_bounds").map(boundMap).getOrElse(Map.empty)
            lo.keySet.intersect(hi.keySet).flatMap { id =>
              byId.get(id).flatMap { case (n, t) =>
                for (l <- decodeBound(lo(id), t); h <- decodeBound(hi(id), t))
                  yield n -> (l, h)
              }
            }.toMap
          }
          val f = IceFile(df.get("file_path").toString, part, bounds,
            specId = mSpecId, seq = seq)
          content match {
            case 0 =>
              dataFiles += f
            case 1 => posDeletes += f
            case 2 =>
              val ids = optField(df, "equality_ids") match {
                case Some(c: java.util.Collection[_]) =>
                  c.asScala.map(_.toString.toInt).toSeq
                case _ => throw new IllegalArgumentException(
                  s"equality delete file without equality_ids: ${f.path}")
              }
              val names = ids.map(id => byId.getOrElse(id,
                throw new IllegalArgumentException(
                  s"equality_id $id not in schema"))._1)
              eqDeletes += ((f, names, seq))
            case other => throw new IllegalArgumentException(
              s"unknown content=$other in manifest entry: ${f.path}")
          }
        }
      }
    }
    // v2 sequence scoping (r14): an equality delete with seq s covers
    // data files with seq STRICTLY below s — the rule that lets a MERGE
    // snapshot delete old rows without swallowing the rows it appends
    // in the same commit. seq 0 keeps the legacy whole-live-set scope
    // (the pre-r14 fixture shape).
    IceState(current, schema, partitionFields, dataFiles.result(),
      posDeletes.result(), eqDeletes.result(),
      parsedSpec, specsById, defId)
  }

  /** The files surviving min/max range pruning — the house
    * [[graft.layout.FileManifest]] box-intersection rule over the
    * manifest's decoded `lower_bounds`/`upper_bounds`; files without a
    * decoded bound for a ranged column always survive (no false
    * negatives).
    */
  def filesInRange(files: Seq[IceFile],
                   ranges: Map[String, (Long, Long)]): Seq[IceFile] =
    files.filter { f =>
      ranges.forall { case (c, (lo, hi)) =>
        f.bounds.get(c) match {
          case Some((l: Long, h: Long)) => h >= lo && l <= hi
          case Some((l: Int, h: Int)) => h >= lo && l <= hi
          case _ => true
        }
      }
    }

  /** The files surviving TRANSFORM-aware partition pruning (r11): a
    * range on a SOURCE column drops partition groups whose transform
    * value cannot hold it — identity intervals, monotone truncate
    * endpoint bounds, bucket equality points
    * ([[IcebergTransforms.rangeKeeps]]); files without the partition
    * value always survive. Composes with [[filesInRange]]'s per-file
    * bound boxes in [[read]] — the manifests are the partition index,
    * so both prunes happen before any scan is planned.
    */
  def filesByTransformRange(files: Seq[IceFile],
                            specFields: Seq[IcebergTransforms.SpecField],
                            ranges: Map[String, (Long, Long)]): Seq[IceFile] =
    if (ranges.isEmpty || specFields.isEmpty) files
    else files.filter(transformKeepsFile(_, specFields, ranges))

  /** One file's transform-prune verdict under ONE spec — the per-file
    * form [[read]] evaluates with each file's OWN spec (r13, spec
    * evolution: a range on a source column prunes spec-0 files by the
    * spec-0 transform and spec-1 files by the spec-1 transform).
    */
  private def transformKeepsFile(f: IceFile,
                                 specFields: Seq[IcebergTransforms.SpecField],
                                 ranges: Map[String, (Long, Long)]): Boolean =
    specFields.forall { sf =>
      ranges.get(sf.sourceName) match {
        case None => true
        case Some((lo, hi)) =>
          f.partition.get(sf.name) match {
            case Some(v) if v != null =>
              IcebergTransforms.rangeKeeps(sf.transform, v.toString, lo, hi)
            case _ => true
          }
      }
    }

  // ------------------------------------------------------------------
  // Minimal writer — the fixture/export counterpart of the reader:
  // enough of the spec (Avro manifest list + manifests with STRING
  // identity partitions, metadata JSON with schemas/specs/snapshots) to
  // round-trip a table through this module and hand it to any Iceberg
  // reader. Data files are written by the caller (plain parquet).
  // ------------------------------------------------------------------

  private def manifestListSchema = new org.apache.avro.Schema.Parser().parse(
    """{"type":"record","name":"manifest_file","fields":[
      |  {"name":"manifest_path","type":"string"},
      |  {"name":"partition_spec_id","type":"int","default":0}]}""".stripMargin)

  private def manifestSchema(partFields: Seq[String]) = {
    // nullable so DELETE-file entries (whose partition is unused here)
    // can share the manifest record with data entries
    val pf = partFields.map(f =>
      s"""{"name":"$f","type":["null","string"],"default":null}""").mkString(",")
    new org.apache.avro.Schema.Parser().parse(
      s"""{"type":"record","name":"manifest_entry","fields":[
         |  {"name":"status","type":"int"},
         |  {"name":"sequence_number","type":["null","long"],"default":null},
         |  {"name":"data_file","type":{"type":"record","name":"data_file","fields":[
         |    {"name":"file_path","type":"string"},
         |    {"name":"content","type":"int"},
         |    {"name":"partition","type":{"type":"record","name":"part_r","fields":[$pf]}},
         |    {"name":"record_count","type":"long"},
         |    {"name":"equality_ids","type":["null",{"type":"array","items":"int"}],"default":null},
         |    {"name":"lower_bounds","type":["null",{"type":"array","items":
         |      {"type":"record","name":"kv_lo","fields":[
         |        {"name":"key","type":"int"},{"name":"value","type":"bytes"}]}}],"default":null},
         |    {"name":"upper_bounds","type":["null",{"type":"array","items":
         |      {"type":"record","name":"kv_hi","fields":[
         |        {"name":"key","type":"int"},{"name":"value","type":"bytes"}]}}],"default":null}
         |  ]}}]}""".stripMargin)
  }

  def writeManifestList(path: Path, manifests: Seq[Path]): Unit =
    writeManifestListSpec(path, manifests.map(m => (m, 0)))

  /** Spec-id-stamped form (r13): each manifest-list entry records the
    * `partition_spec_id` its manifest's files were written under — the
    * spec's own evolution mechanism. Legacy lists without the field
    * read as the table's default spec.
    */
  def writeManifestListSpec(path: Path, manifests: Seq[(Path, Int)]): Unit = {
    val s = manifestListSchema
    val w = new org.apache.avro.file.DataFileWriter[GenericRecord](
      new org.apache.avro.generic.GenericDatumWriter[GenericRecord](s))
    w.create(s, path.toFile)
    manifests.foreach { case (m, sid) =>
      val r = new org.apache.avro.generic.GenericData.Record(s)
      r.put("manifest_path", m.toString)
      r.put("partition_spec_id", sid)
      w.append(r)
    }
    w.close()
  }

  /** One manifest entry for [[writeManifest]]: content 0=data,
    * 1=positional deletes, 2=equality deletes (then `equalityIds` names
    * the schema field ids); `boundsLong` emits spec-layout
    * little-endian lower/upper bounds for long-typed columns.
    */
  final case class ManifestEntry(status: Int, filePath: String, content: Int,
                                 partition: Map[String, String],
                                 equalityIds: Seq[Int] = Seq.empty,
                                 boundsLong: Map[Int, (Long, Long)] = Map.empty,
                                 seq: Long = 0L)

  /** entries: (status 1=ADDED/0=EXISTING/2=DELETED, filePath,
    * content 0=data, partitionValues).
    */
  def writeManifest(path: Path, partFields: Seq[String],
                    entries: Seq[(Int, String, Int, Map[String, String])]): Unit =
    writeManifestEntries(path, partFields, entries.map { case (s, fp, c, pv) =>
      ManifestEntry(s, fp, c, pv)
    })

  def writeManifestEntries(path: Path, partFields: Seq[String],
                           entries: Seq[ManifestEntry]): Unit = {
    val s = manifestSchema(partFields)
    val dfS = s.getField("data_file").schema()
    val pS = dfS.getField("partition").schema()
    def kvArr(schemaField: String, m: Map[Int, Long]) = {
      val arrS = dfS.getField(schemaField).schema().getTypes.get(1)
      val recS = arrS.getElementType
      val arr = new org.apache.avro.generic.GenericData.Array[GenericRecord](m.size, arrS)
      m.toSeq.sortBy(_._1).foreach { case (k, v) =>
        val r = new org.apache.avro.generic.GenericData.Record(recS)
        r.put("key", k)
        r.put("value", java.nio.ByteBuffer.wrap(
          java.nio.ByteBuffer.allocate(8)
            .order(java.nio.ByteOrder.LITTLE_ENDIAN).putLong(v).array()))
        arr.add(r)
      }
      arr
    }
    val w = new org.apache.avro.file.DataFileWriter[GenericRecord](
      new org.apache.avro.generic.GenericDatumWriter[GenericRecord](s))
    w.create(s, path.toFile)
    entries.foreach { me =>
      val pr = new org.apache.avro.generic.GenericData.Record(pS)
      partFields.foreach(f => pr.put(f, me.partition.getOrElse(f, null)))
      val df = new org.apache.avro.generic.GenericData.Record(dfS)
      df.put("file_path", me.filePath); df.put("content", me.content)
      df.put("partition", pr); df.put("record_count", 0L)
      if (me.equalityIds.nonEmpty) {
        val ids = new java.util.ArrayList[Integer]()
        me.equalityIds.foreach(i => ids.add(i))
        df.put("equality_ids", ids)
      }
      if (me.boundsLong.nonEmpty) {
        df.put("lower_bounds", kvArr("lower_bounds", me.boundsLong.map { case (k, v) => k -> v._1 }))
        df.put("upper_bounds", kvArr("upper_bounds", me.boundsLong.map { case (k, v) => k -> v._2 }))
      }
      val e = new org.apache.avro.generic.GenericData.Record(s)
      e.put("status", me.status); e.put("data_file", df)
      // 0 = unsequenced (the legacy fixture shape) writes null; a real
      // data sequence number rides the entry — the v2 row-level scope
      if (me.seq > 0L) e.put("sequence_number", java.lang.Long.valueOf(me.seq))
      w.append(e)
    }
    w.close()
  }

  /** One v2 metadata.json: `fields` = (name, icebergType, required),
    * `snapshots` = (snapshotId, manifestListPath), current = last.
    */
  def writeMetadataJson(path: Path, fields: Seq[(String, String, Boolean)],
                        partitionFields: Seq[String],
                        snapshots: Seq[(Long, Path)]): Unit =
    writeMetadataJsonSpec(path, fields,
      partitionFields.map(n => (n, "identity", n)), snapshots)

  /** Transform-aware form (r11): `partitionSpec` = (fieldName,
    * transform, sourceColumnName) — source-ids resolve against the
    * field list by name.
    */
  def writeMetadataJsonSpec(path: Path, fields: Seq[(String, String, Boolean)],
                            partitionSpec: Seq[(String, String, String)],
                            snapshots: Seq[(Long, Path)]): Unit = {
    val fs = fields.zipWithIndex.map { case ((n, t, r), i) =>
      // a type starting with '{' is a raw nested type-JSON node
      // (struct/list — r9); anything else is a primitive name
      val tj = if (t.startsWith("{")) t else "\"" + t + "\""
      s"""{"id": ${i + 1}, "name": "$n", "required": $r, "type": $tj}"""
    }.mkString(",")
    val idByName = fields.map(_._1).zipWithIndex.map { case (n, i) => n -> (i + 1) }.toMap
    val ps = partitionSpec.zipWithIndex.map { case ((n, tr, src), i) =>
      val sid =
        if (tr == "identity") idByName.getOrElse(src, 0)
        else idByName.getOrElse(src, throw new IllegalArgumentException(
          s"partition source column $src not in fields"))
      s"""{"name": "$n", "transform": "$tr", "source-id": $sid, "field-id": ${1000 + i}}"""
    }.mkString(",")
    val ss = snapshots.map { case (id, ml) =>
      s"""{"snapshot-id": $id, "manifest-list": "$ml"}"""
    }.mkString(",")
    val cur = snapshots.last._1
    Files.writeString(path,
      s"""{
         |  "format-version": 2,
         |  "current-snapshot-id": $cur,
         |  "current-schema-id": 0,
         |  "default-spec-id": 0,
         |  "schemas": [{"schema-id": 0, "type": "struct", "fields": [$fs]}],
         |  "partition-specs": [{"spec-id": 0, "fields": [$ps]}],
         |  "snapshots": [$ss]
         |}""".stripMargin)
  }

  /** COMMIT a v2 POSITIONAL DELETE (r10 — the Iceberg sibling of
    * Delta's `deleteWithDv`): evaluate `predicate` over the rows of
    * the live data file whose path ends with `dataFileTail`, write a
    * position-delete parquet (`file_path`, `pos` — the spec's
    * schema), a new manifest carrying it (content=1), a new manifest
    * list extending the current snapshot's, and a NEW metadata.json
    * version with the snapshot appended and `current-snapshot-id`
    * advanced (version-hint.text updated when present — the
    * HadoopTables commit protocol). Returns the new snapshot id.
    *
    * Scale shape: per-file position sets, driver-held only for the
    * one target file — the same bound as the Delta DV writer.
    */
  def commitPositionDelete(spark: SparkSession, table: String,
                           dataFileTail: String,
                           predicate: org.apache.spark.sql.Column,
                           snapshotId: Long,
                           timestampMs: Long = -1L): Long = {
    val st = state(spark, table)
    val target = st.files.find(_.path.endsWith(dataFileTail)).getOrElse(
      throw new IllegalArgumentException(
        s"no live data file ending with $dataFileTail in $table"))
    val positions = spark.read
      .parquet(resolve(table, target.path).toString)
      .select(col("_metadata.row_index").as("__pos"), col("*"))
      .filter(predicate)
      .select("__pos").as[Long](org.apache.spark.sql.Encoders.scalaLong)
      .collect().sorted
    require(positions.nonEmpty, "predicate deleted no rows: refuse a no-op commit")
    import spark.implicits._
    // the delete rows name the file by its MANIFEST-RECORDED path, so
    // the reader's tail-anchored comparison holds after relocation
    val pdRel = s"data/pos-delete-$snapshotId.parquet"
    val pdAbs = Paths.get(table).toAbsolutePath.resolve(pdRel)
    LakeWriter.writeParquetFile(
      positions.toSeq.map(p => (target.path, p)).toDF("file_path", "pos"), pdAbs)
    appendDeleteSnapshot(table, st,
      ManifestEntry(1, pdAbs.toString, 1, Map.empty), snapshotId)
  }

  /** COMMIT a v2 EQUALITY DELETE (r10): `rows` names the doomed value
    * tuples over `equalityCols` (resolved to schema field ids);
    * written as an equality-delete parquet + content=2 manifest entry
    * and committed as a new snapshot/metadata version like
    * [[commitPositionDelete]]. Entries carry no sequence number, which
    * under this reader's stated subset means the delete covers the
    * WHOLE live data set — exactly the semantics the caller asked for.
    */
  def commitEqualityDelete(spark: SparkSession, table: String,
                           equalityCols: Seq[String],
                           rows: org.apache.spark.sql.DataFrame,
                           snapshotId: Long,
                           timestampMs: Long = -1L): Long = {
    require(equalityCols.nonEmpty, "equality delete with no columns")
    val st = state(spark, table)
    val idByName = schemaFieldIdsByName(table)
    val ids = equalityCols.map(c => idByName.getOrElse(c,
      throw new IllegalArgumentException(s"column $c not in table schema")))
    val doomed = rows.select(equalityCols.map(col): _*)
    require(doomed.count() > 0, "empty equality delete: refuse a no-op commit")
    val edAbs = Paths.get(table).toAbsolutePath
      .resolve(s"data/eq-delete-$snapshotId.parquet")
    LakeWriter.writeParquetFile(doomed, edAbs)
    appendDeleteSnapshot(table, st,
      ManifestEntry(1, edAbs.toString, 2, Map.empty, equalityIds = ids),
      snapshotId)
  }

  /** Column name → schema field id from the CURRENT schema. */
  private def schemaFieldIdsByName(table: String): Map[String, Int] = {
    val (md, _) = loadMetadata(table)
    val schemaJson = (md \ "schemas") match {
      case JArray(ss) if ss.nonEmpty =>
        val cur = (md \ "current-schema-id") match {
          case JInt(v) => v.toInt; case _ => 0
        }
        ss.find(s => (s \ "schema-id") match {
          case JInt(v) => v.toInt == cur; case _ => false
        }).getOrElse(ss.head)
      case _ => md \ "schema"
    }
    (schemaJson \ "fields").children.map { f =>
      val JString(n) = f \ "name"
      val JInt(id) = f \ "id"
      n -> id.toInt
    }.toMap
  }

  /** Spark/Hive partition-directory unescape (`%2F` etc.); loud on the
    * null sentinel — null identity-partition values are outside the
    * stated subset.
    */
  private[sources] def unescapePartitionValue(s: String): String = {
    require(s != "__HIVE_DEFAULT_PARTITION__",
      "null identity-partition values are not in the stated subset")
    def hexAt(i: Int): Boolean = i < s.length &&
      java.lang.Character.digit(s.charAt(i), 16) >= 0
    val sb = new StringBuilder
    val pending = new java.io.ByteArrayOutputStream // consecutive %XX bytes
    def flush(): Unit = if (pending.size() > 0) {
      // a multi-byte UTF-8 character escapes as CONSECUTIVE %XX triples —
      // decode the whole run as one UTF-8 byte sequence, never per byte
      sb.append(new String(pending.toByteArray, StandardCharsets.UTF_8))
      pending.reset()
    }
    var i = 0
    while (i < s.length) {
      val c = s.charAt(i)
      if (c == '%') {
        require(hexAt(i + 1) && hexAt(i + 2),
          s"malformed %XX escape at index $i of partition value '$s'")
        pending.write(Integer.parseInt(s.substring(i + 1, i + 3), 16))
        i += 3
      } else { flush(); sb.append(c); i += 1 }
    }
    flush()
    sb.toString
  }

  /** COMMIT an APPEND (r10b — `appendFiles`): `rows` (full table
    * schema) written as NEW data parquet files through ONE distributed
    * `partitionBy` write — identity-partition values ride the manifest
    * entries (parsed back from the `k=v` directory layout), data files
    * carry data columns only, exactly the layout [[read]] re-assembles.
    * Entries carry spec-layout lower/upper bounds for every long-typed
    * data column (one grouped aggregate over the appended files), so
    * [[filesInRange]] prunes engine-appended files like fixture files.
    * Commit = content=0 manifest + manifest list EXTENDING the current
    * snapshot's + new metadata.json version with current advanced —
    * appends COMPOSE with the existing live set. Returns the snapshot
    * id. Loud when the table holds equality deletes: under the
    * no-sequence-number subset those cover the WHOLE live set, and an
    * append would retroactively fall inside their scope.
    */
  def commitAppend(spark: SparkSession, table: String,
                   rows: org.apache.spark.sql.DataFrame,
                   snapshotId: Long,
                   timestampMs: Long = -1L,
                   branch: String = "main"): Long = {
    // a BRANCH append (r13) composes with the BRANCH head's live set,
    // not main's, and only re-points the branch ref — main reads stay
    // pinned until [[fastForward]]
    val st =
      if (branch == "main") state(spark, table)
      else {
        val all = refs(table)
        val (sid, tpe) = all.getOrElse(branch,
          throw new IllegalArgumentException(
            s"unknown branch '$branch' (createRef it first): $table"))
        require(tpe == "branch",
          s"ref '$branch' is a $tpe — appending to a tag would move " +
            s"what a tag exists to pin: $table")
        state(spark, table, Some(sid))
      }
    // a LEGACY (seq-0) equality delete scopes the whole live set and
    // would retroactively swallow the appended rows — still loud;
    // seq-scoped deletes (r14) cover only files sequenced below them,
    // so appending ABOVE them is exactly the v2 contract
    require(st.eqDeletes.forall(_._3 > 0L),
      "append to a table with unsequenced equality deletes: they scope " +
        "the WHOLE live set and would retroactively cover the appended rows")
    val entries = writeDataEntries(spark, table, st, rows,
      s"append-$snapshotId", nextSeq(st))
    appendSnapshot(table, st, entries, snapshotId, "add", timestampMs, branch)
  }

  /** The next DATA SEQUENCE NUMBER for a new snapshot: one above every
    * live data file's and equality delete's — new rows sit above every
    * delete already recorded, existing deletes never cover them.
    */
  private def nextSeq(st: IceState): Long =
    (st.files.map(_.seq) ++ st.eqDeletes.map(_._3))
      .foldLeft(0L)(math.max) + 1

  /** Write `rows` (full table schema) as NEW data parquet files through
    * ONE distributed `partitionBy` write under the table's DEFAULT spec
    * — identity-partition values ride the manifest entries, transform
    * values are derived (the reader never recomputes transforms), and
    * every long-typed data column gets spec-layout min/max bounds from
    * one grouped aggregate over the new files only. Returns the
    * content=0 manifest entries, stamped with `seq`.
    */
  private def writeDataEntries(spark: SparkSession, table: String,
                               st: IceState,
                               rows: org.apache.spark.sql.DataFrame,
                               filePrefix: String,
                               seq: Long): Seq[ManifestEntry] = {
    val ordered = rows.select(st.schema.fieldNames.map(col).toSeq: _*)
    // derive NON-IDENTITY partition values as extra columns (r11):
    // partitionBy drops exactly the spec-field columns from the data
    // files — identity sources leave (the reader reconstructs them),
    // transform sources STAY (the reader never recomputes transforms)
    val spec =
      if (st.specFields.nonEmpty) st.specFields
      else st.partitionFields.map(n =>
        IcebergTransforms.SpecField(n, "identity", n))
    val withParts = spec.filterNot(_.transform == "identity")
      .foldLeft(ordered) { (df, sf) =>
        require(!st.schema.fieldNames.contains(sf.name),
          s"transform partition field ${sf.name} collides with a schema column")
        val srcField = st.schema.fields.find(_.name == sf.sourceName)
          .getOrElse(throw new IllegalArgumentException(
            s"source column ${sf.sourceName} of partition field ${sf.name} " +
              "not in schema"))
        df.withColumn(sf.name, IcebergTransforms.columnTyped(
          sf.transform, col(sf.sourceName), srcField.dataType))
      }
    val dataDir = Paths.get(table).toAbsolutePath.resolve("data")
    val moved = LakeWriter.writeParquet(withParts, spec.map(_.name))(
      (_, i) => dataDir.resolve(s"$filePrefix-$i.parquet"))
    require(moved.nonEmpty, "empty append: refuse a no-op commit")
    // per-file min/max bounds for long-typed data columns: one grouped
    // aggregate over the appended files only (file-scoped statistics,
    // never a table scan)
    val longCols = st.schema.fields
      .filterNot(f => st.partitionFields.contains(f.name))
      .filter(_.dataType == org.apache.spark.sql.types.LongType)
      .map(_.name).toSeq
    val idByName = schemaFieldIdsByName(table)
    val stats =
      if (longCols.isEmpty) Map.empty[String, LakeWriter.FileStats]
      else LakeWriter.fileStats(spark, moved.map(_._1.toString), longCols)
    def boundsOf(name: String): Map[Int, (Long, Long)] =
      stats.get(name).fold(Map.empty[Int, (Long, Long)]) { fs =>
        longCols.flatMap(c => for {
          lo <- fs.min.get(c); hi <- fs.max.get(c); id <- idByName.get(c)
        } yield id -> (lo, hi)).toMap
      }
    moved.map { case (dst, pv) =>
      ManifestEntry(1, dst.toString, 0, pv,
        boundsLong = boundsOf(dst.getFileName.toString), seq = seq)
    }
  }

  /** COMMIT a key-based MERGE/upsert (r14, C38 — the reference's own
    * delta→MERGE loop, scripts/03_cdc_etl.py:203-379, landed as ONE v2
    * Iceberg snapshot): an equality delete over `pk` for the MATCHED
    * staged keys plus data files for the staged rows, both sequenced
    * at `nextSeq` — the delete (covering strictly-older files only)
    * removes the matched keys' old rows, the appended rows carry their
    * new values, and nothing is rewritten. Soft deletes stay as
    * flagged rows; [[graft.cdc.Cdc.splitMerge]] validates the batch and
    * splits it into updates and guarded inserts.
    *
    * Scale shape: PURE merge-on-read — the commit writes O(staged)
    * bytes (one delete parquet + the staged rows), touches no existing
    * file, and the read-side anti-join scopes to files sequenced below
    * the delete. The one distributed join here (staged × live keys for
    * the matched/insert split) is key-only.
    *
    * Returns the snapshot id, or the CURRENT one when the batch
    * matches nothing and inserts nothing (an all-tombstones-for-
    * absent-keys delta is a legitimate CDC outcome, not an error).
    */
  def commitMerge(spark: SparkSession, table: String,
                  staged: org.apache.spark.sql.DataFrame,
                  pk: Seq[String],
                  snapshotId: Long,
                  insertFilter: Option[org.apache.spark.sql.Column] = None,
                  timestampMs: Long = -1L): Long = {
    val st = state(spark, table)
    val cols = st.schema.fieldNames.toSeq
    require(staged.columns.toSet == cols.toSet,
      s"merge schema mismatch: table=${cols.mkString(",")} " +
        s"staged=${staged.columns.mkString(",")}")
    require(st.eqDeletes.forall(_._3 > 0L),
      "merge into a table with unsequenced equality deletes: they scope " +
        "the WHOLE live set and would retroactively cover the merged rows")
    val split = graft.cdc.Cdc.splitMerge(read(spark, table), staged, pk, insertFilter, table)
    val matchedKeys = split.postimages.select(pk.map(col): _*)
    val nMatched = matchedKeys.count()
    if (nMatched == 0 && split.inserts.isEmpty) return st.snapshotId
    val seq = nextSeq(st)
    val delEntries =
      if (nMatched == 0) Seq.empty
      else {
        val idByName = schemaFieldIdsByName(table)
        val ids = pk.map(c => idByName.getOrElse(c,
          throw new IllegalArgumentException(s"column $c not in table schema")))
        val edAbs = Paths.get(table).toAbsolutePath
          .resolve(s"data/eq-delete-$snapshotId.parquet")
        LakeWriter.writeParquetFile(matchedKeys, edAbs)
        Seq(ManifestEntry(1, edAbs.toString, 2, Map.empty,
          equalityIds = ids, seq = seq))
      }
    val dataEntries = writeDataEntries(spark, table, st,
      split.postimages.unionByName(split.inserts),
      s"merge-$snapshotId", seq)
    appendSnapshot(table, st, delEntries ++ dataEntries, snapshotId,
      "merge", timestampMs)
  }

  /** COMPACT / rewrite-data-files (r14): materialize the LIVE rows
    * (all merge-on-read deletes applied) as fresh data files in ONE
    * snapshot whose manifest list REPLACES the old one — old data
    * files, positional and equality deletes all leave the live set,
    * bounding the read-side anti-join amplification that each
    * [[commitMerge]] adds. Old snapshots stay time-travelable until
    * [[expireSnapshots]] collects them — exactly Iceberg's own
    * `rewriteDataFiles` contract. Returns the snapshot id.
    *
    * Scale shape: one distributed read of the live set + one
    * distributed partitioned write; the commit is metadata. Run it on
    * the cadence at which accumulated deletes start to dominate scan
    * cost — the lake-maintenance twin of Delta's OPTIMIZE.
    */
  def rewriteDataFiles(spark: SparkSession, table: String,
                       snapshotId: Long,
                       timestampMs: Long = -1L): Long = {
    val st = state(spark, table)
    require(st.posDeletes.nonEmpty || st.eqDeletes.nonEmpty ||
      st.files.size > 1,
      s"nothing to compact (no deletes, <2 data files): $table")
    val entries = writeDataEntries(spark, table, st,
      read(spark, table), s"compact-$snapshotId", nextSeq(st))
    appendSnapshot(table, st, entries, snapshotId, "compact",
      timestampMs, replaceLive = true)
  }

  /** CREATE a new Iceberg table: metadata dir, v1 metadata.json with
    * the schema/spec and one EMPTY base snapshot (`snapshotId0`) —
    * the shape [[commitAppend]]/[[commitMerge]] then build on.
    * `fields` = (name, icebergType, required); `partitionSpec` =
    * (fieldName, transform, sourceColumn).
    */
  def createTable(path: String, fields: Seq[(String, String, Boolean)],
                  partitionSpec: Seq[(String, String, String)] = Seq.empty,
                  snapshotId0: Long = 1L): Unit = {
    val mdir = Paths.get(path, "metadata")
    require(!Files.exists(mdir), s"iceberg table already exists: $path")
    Files.createDirectories(mdir)
    val ml = mdir.resolve(s"snap-$snapshotId0.avro")
    writeManifestList(ml, Seq.empty)
    writeMetadataJsonSpec(mdir.resolve("v1.metadata.json"), fields,
      partitionSpec, Seq(snapshotId0 -> ml))
  }

  /** Spark schema → [[createTable]] fields: (name, icebergType,
    * required = !nullable). Primitive columns only — the CDC replica
    * shape; nested types go through writeMetadataJsonSpec's raw JSON.
    */
  def icebergFields(schema: StructType): Seq[(String, String, Boolean)] =
    schema.fields.toSeq.map { f =>
      val t = f.dataType match {
        case LongType => "long"
        case org.apache.spark.sql.types.IntegerType => "int"
        case StringType => "string"
        case org.apache.spark.sql.types.DoubleType => "double"
        case org.apache.spark.sql.types.FloatType => "float"
        case org.apache.spark.sql.types.BooleanType => "boolean"
        case org.apache.spark.sql.types.DateType => "date"
        case org.apache.spark.sql.types.TimestampType => "timestamp"
        case d: org.apache.spark.sql.types.DecimalType =>
          s"decimal(${d.precision},${d.scale})"
        case other => throw new IllegalArgumentException(
          s"column ${f.name}: no iceberg mapping for ${other.simpleString}")
      }
      (f.name, t, !f.nullable)
    }

  /** The next free snapshot id: one above the table's largest. */
  def nextSnapshotId(table: String): Long = {
    val (md, _) = loadMetadata(table)
    (md \ "snapshots").children.map(idOf(_).getOrElse(0L))
      .foldLeft(0L)(math.max) + 1
  }

  /** EVOLVE the partition spec (r13): append a NEW spec (fields =
    * (name, transform, sourceColumn)) and make it the default in a new
    * metadata version. Nothing is rewritten — files already written
    * keep their old spec-id and [[read]] interprets each file under
    * its own spec; only FUTURE appends partition the new way. Exactly
    * `ALTER TABLE … REPLACE PARTITION FIELD`'s shape. Returns the new
    * spec-id.
    */
  def evolveSpec(table: String,
                 fields: Seq[(String, String, String)]): Int = {
    val (md, mdPath) = loadMetadata(table)
    val idByName = schemaFieldIdsByName(table)
    fields.foreach { case (n, tr, src) =>
      IcebergTransforms.validate(tr)
      require(idByName.contains(src),
        s"partition source column $src of new spec field $n not in schema")
    }
    val existing = (md \ "partition-specs") match {
      case JArray(specs) => specs
      case _ => List(JObject(
        "spec-id" -> JInt(0),
        "fields" -> (md \ "partition-spec")))
    }
    val newId = existing.map(s => (s \ "spec-id") match {
      case JInt(v) => v.toInt; case _ => 0
    }).max + 1
    val newSpec = JObject(
      "spec-id" -> JInt(newId),
      "fields" -> JArray(fields.zipWithIndex.map { case ((n, tr, src), i) =>
        JObject("name" -> JString(n), "transform" -> JString(tr),
          "source-id" -> JInt(idByName(src)),
          "field-id" -> JInt(1000 + newId * 100 + i))
      }.toList))
    val newMd = JObject(md.asInstanceOf[JObject].obj
      .filterNot(f => f._1 == "partition-specs" || f._1 == "default-spec-id" ||
        f._1 == "partition-spec") ++
      List("partition-specs" -> JArray(existing :+ newSpec),
        "default-spec-id" -> JInt(newId)))
    publish(mdPath, newMd)
    newId
  }

  /** ADD a COLUMN on write (r14, F15n): a NEW schema (the current
    * one's fields plus `(name, icebergType)` at the next free field
    * id) joins the `schemas` list and `current-schema-id` bumps in a
    * new metadata version. Nothing rewrites — old data files simply
    * lack the field and read as NULL under the field-id-keyed reader;
    * snapshots committed BEFORE the evolution keep their own
    * `schema-id`, so time travel below it sees the old shape. Exactly
    * `ALTER TABLE … ADD COLUMN`'s shape. New columns are optional
    * (required would break every existing row — loud by construction).
    * Returns the new schema-id.
    */
  def addColumn(table: String, name: String, icebergType: String): Int = {
    icePrimitive(icebergType) // loud on unknown types
    val (md, mdPath) = loadMetadata(table)
    val existing = (md \ "schemas") match {
      case JArray(ss) if ss.nonEmpty => ss
      case _ => List(JObject(
        "schema-id" -> JInt(0), "type" -> JString("struct"),
        "fields" -> (md \ "schema" \ "fields")))
    }
    val cur = (md \ "current-schema-id") match {
      case JInt(v) => v.toInt; case _ => 0
    }
    val curSchema = existing.find(s => (s \ "schema-id") match {
      case JInt(v) => v.toInt == cur; case _ => false
    }).getOrElse(existing.head)
    val curFields = (curSchema \ "fields").children
    require(!curFields.exists(f => (f \ "name") == JString(name)),
      s"column $name already exists in the current schema: $table")
    // next free field id across EVERY schema the table ever had —
    // field ids are assigned once and never reused (the spec's rule)
    val maxFieldId = existing.flatMap(s => (s \ "fields").children)
      .map(f => (f \ "id") match {
        case JInt(v) => v.toInt; case _ => 0
      }).foldLeft(0)(math.max)
    val newSchemaId = existing.map(s => (s \ "schema-id") match {
      case JInt(v) => v.toInt; case _ => 0
    }).max + 1
    val newSchema = JObject(
      "schema-id" -> JInt(newSchemaId),
      "type" -> JString("struct"),
      "fields" -> JArray(curFields :+ JObject(
        "id" -> JInt(maxFieldId + 1), "name" -> JString(name),
        "required" -> JBool(false), "type" -> JString(icebergType))))
    val newMd = JObject(md.asInstanceOf[JObject].obj
      .filterNot(f => f._1 == "schemas" || f._1 == "current-schema-id" ||
        f._1 == "schema" || f._1 == "last-column-id") ++
      List("schemas" -> JArray(existing :+ newSchema),
        "current-schema-id" -> JInt(newSchemaId),
        "last-column-id" -> JInt(maxFieldId + 1)))
    publish(mdPath, newMd)
    newSchemaId
  }

  /** FAST-FORWARD main to a branch head (r13): `current-snapshot-id`
    * (and the `main` ref when present) re-point at the branch's
    * snapshot in a new metadata version — the audit-then-publish
    * workflow branch refs exist for. The current head must be an
    * ancestor of the branch head (commit order is this subset's
    * ancestry), else the move would LOSE main-only commits. Returns
    * the new metadata version.
    */
  def fastForward(table: String, branch: String): Long = {
    val (md, mdPath) = loadMetadata(table)
    val all = refs(table)
    val (target, tpe) = all.getOrElse(branch,
      throw new IllegalArgumentException(
        s"unknown branch '$branch' (known: " +
          s"${all.keys.toSeq.sorted.mkString(",")}): $table"))
    require(tpe == "branch",
      s"ref '$branch' is a $tpe, not a branch: $table")
    val cur = currentId(md)
    require(target != cur,
      s"fast-forward to the current snapshot $cur is a no-op")
    val order = (md \ "snapshots").children.map(s => idOf(s).getOrElse(
      throw new IllegalArgumentException("snapshot without id")))
    require(order.indexOf(cur) < order.indexOf(target),
      s"branch '$branch' head $target is not ahead of main's $cur: " +
        s"a fast-forward would lose main-only commits")
    publish(mdPath, withMainAt(md, target))
  }

  /** Shared commit tail: a new manifest with `entry`, a manifest list
    * extending the current snapshot's, a new metadata.json version
    * with the snapshot appended and current advanced
    * (version-hint.text updated when present).
    */
  private def appendDeleteSnapshot(table: String, st: IceState,
                                   entry: ManifestEntry,
                                   snapshotId: Long,
                                   timestampMs: Long = -1L): Long =
    appendSnapshot(table, st, Seq(entry), snapshotId, "del", timestampMs)

  private def appendSnapshot(table: String, st: IceState,
                             entries: Seq[ManifestEntry],
                             snapshotId: Long, kind: String,
                             timestampMs: Long = -1L,
                             branch: String = "main",
                             replaceLive: Boolean = false): Long = {
    val (md, mdPath) = loadMetadata(table)
    val snap = (md \ "snapshots").children.find(idOf(_).contains(st.snapshotId)).get
    val JString(oldMl) = snap \ "manifest-list"
    // preserve each inherited manifest's spec-id (r13): a spec-evolved
    // table's old manifests keep meaning their own partitioning.
    // `replaceLive` (r14, the compaction commit) inherits NOTHING —
    // the new manifest IS the live set; old manifests stay reachable
    // through the old snapshots only.
    val oldManifests =
      if (replaceLive) Seq.empty
      else avroRows(resolve(table, oldMl))
        .map(r => (resolve(table, r.get("manifest_path").toString),
          optField(r, "partition_spec_id").map(_.toString.toInt)
            .getOrElse(st.defaultSpecId)))
    val mdir = mdPath.getParent
    val newManifest = mdir.resolve(s"m-$kind-$snapshotId.avro")
    val partNames =
      if (st.specFields.nonEmpty) st.specFields.map(_.name)
      else st.partitionFields
    writeManifestEntries(newManifest, partNames, entries)
    val newMl = mdir.resolve(s"snap-$snapshotId.avro")
    writeManifestListSpec(newMl,
      oldManifests :+ ((newManifest, st.defaultSpecId)))
    // new metadata version: snapshot appended; `current-snapshot-id`
    // advances for main, a BRANCH commit re-points only its ref (r13 —
    // stage work on `audit`, main reads stay pinned until fastForward)
    // timestamp-ms (F15k, r12): the spec's commit instant — what
    // time travel by wall clock resolves against; -1 = unstamped (the
    // pre-r12 fixture shape stays byte-identical)
    // the snapshot records the schema it was committed under (r14) —
    // what makes time travel below a later addColumn read the old shape
    val curSchemaId = (md \ "current-schema-id") match {
      case JInt(v) => Some(v.toInt); case _ => None
    }
    val snapFields =
      List("snapshot-id" -> JInt(snapshotId),
        "manifest-list" -> JString(newMl.toString)) ++
        curSchemaId.map(id => "schema-id" -> JInt(id)).toList ++
        (if (timestampMs >= 0) List("timestamp-ms" -> JInt(timestampMs))
         else Nil)
    // a main commit also re-points the explicit `main` ref when one
    // exists (as fastForward/rollbackTo do) — otherwise readRef("main")
    // and expireSnapshots' pin set diverge from read()
    val head =
      if (branch == "main") withMainAt(md, snapshotId)
      else md merge JObject("refs" -> JObject(branch -> JObject(
        "snapshot-id" -> JInt(snapshotId), "type" -> JString("branch"))))
    publish(mdPath, head merge JObject(
      "snapshots" -> JArray(List(JObject(snapFields: _*)))))
    snapshotId
  }

  /** ROLLBACK to an earlier snapshot (r11, F15i — the Iceberg undo:
    * `current-snapshot-id` re-points at the old snapshot in a NEW
    * metadata version; nothing is deleted, so the rolled-back interval
    * stays time-travelable until [[expireSnapshots]] collects it —
    * exactly Iceberg's own rollback semantics). The target must be an
    * existing, non-current snapshot. Returns the new metadata version.
    */
  def rollbackTo(table: String, snapshotId: Long): Long = {
    val (md, mdPath) = loadMetadata(table)
    val cur = currentId(md)
    require(snapshotId != cur,
      s"rollback to the current snapshot $cur is a no-op")
    require((md \ "snapshots").children.exists(idOf(_).contains(snapshotId)),
      s"snapshot $snapshotId not in the table's history")
    // the `main` BRANCH tracks the current snapshot by definition —
    // re-pointed too when the table carries refs (r12)
    publish(mdPath, withMainAt(md, snapshotId))
  }

  /** Roll back to the snapshot a NAMED REF pins — how humans actually
    * say it ("back to the audited tag"), r12.
    */
  def rollbackTo(table: String, ref: String): Long =
    rollbackTo(table, snapshotForRef(table, ref))

  // ───────── named refs: branches and tags (r12, F15j — the spec's
  // `refs` map; a tag pins "the audited snapshot" by NAME) ─────────

  /** The table's named refs: name → (snapshot id, "branch"|"tag").
    * Absent map = no refs (pre-refs metadata), not an error.
    */
  def refs(table: String): Map[String, (Long, String)] = {
    val (md, _) = loadMetadata(table)
    (md \ "refs") match {
      case JObject(fields) => fields.map { case (name, v) =>
        val id = idOf(v).getOrElse(throw new IllegalArgumentException(
          s"ref '$name' has no snapshot-id: $table"))
        val tpe = (v \ "type") match {
          case JString(t) => t
          case _ => throw new IllegalArgumentException(
            s"ref '$name' has no type: $table")
        }
        require(tpe == "branch" || tpe == "tag",
          s"ref '$name' has unknown type '$tpe': $table")
        name -> (id, tpe)
      }.toMap
      case JNothing => Map.empty
      case other => throw new IllegalArgumentException(
        s"unparseable refs node: $other")
    }
  }

  /** Resolve a ref name to its snapshot — unknown names reject LOUDLY
    * (a silent fallback to current would read the wrong data).
    */
  def snapshotForRef(table: String, ref: String): Long = {
    val all = refs(table)
    all.getOrElse(ref, throw new IllegalArgumentException(
      s"unknown ref '$ref' (known: " +
        s"${if (all.isEmpty) "none" else all.keys.toSeq.sorted.mkString(",")}): " +
        table))._1
  }

  /** F15k (r12): time travel by TIMESTAMP — the LAST snapshot whose
    * `timestamp-ms` is at or before the instant, commit-order
    * monotonic-adjusted like the Delta resolution (a clock-skewed
    * later snapshot inherits its predecessor's time). Snapshots
    * WITHOUT `timestamp-ms` (pre-r12 fixtures) cannot anchor a
    * resolution and are skipped; an instant before the first STAMPED
    * snapshot rejects loudly.
    */
  def snapshotAtTimestamp(table: String, tsMillis: Long): Long = {
    val (md, _) = loadMetadata(table)
    val snaps = (md \ "snapshots").children.map { sn =>
      val id = idOf(sn).getOrElse(
        throw new IllegalArgumentException("snapshot without id"))
      val ts = (sn \ "timestamp-ms") match {
        case JInt(v) => Some(v.toLong)
        case _ => None
      }
      (id, ts)
    }
    var runningMax = Long.MinValue
    val stamped = snaps.flatMap { case (id, ts) =>
      ts.map { t => runningMax = math.max(runningMax, t); (id, runningMax) }
    }
    require(stamped.nonEmpty,
      s"no snapshot carries timestamp-ms; timestampAsOf cannot resolve: $table")
    require(stamped.head._2 <= tsMillis,
      s"timestampAsOf $tsMillis is before the first stamped snapshot " +
        s"(${stamped.head._2}): $table")
    stamped.takeWhile(_._2 <= tsMillis).last._1
  }

  /** [[read]] pinned to the snapshot a wall-clock instant saw. */
  def readAsOfTimestamp(spark: SparkSession, table: String,
                        tsMillis: Long): DataFrame =
    read(spark, table, Some(snapshotAtTimestamp(table, tsMillis)))

  /** Read the snapshot a named branch/tag pins. */
  def readRef(spark: SparkSession, table: String, ref: String,
              partitionFilter: Map[String, Any] => Boolean = _ => true,
              ranges: Map[String, (Long, Long)] = Map.empty): DataFrame =
    read(spark, table, Some(snapshotForRef(table, ref)),
      partitionFilter, ranges)

  /** Create (or re-point) a named ref at an existing snapshot in a new
    * metadata version — `ALTER TABLE … CREATE TAG/BRANCH`'s shape.
    */
  def createRef(table: String, name: String, snapshotId: Long,
                refType: String = "tag"): Long = {
    require(refType == "branch" || refType == "tag",
      s"ref type must be branch|tag, got $refType")
    require(name.nonEmpty, "ref name must be non-empty")
    val (md, mdPath) = loadMetadata(table)
    require((md \ "snapshots").children.exists(idOf(_).contains(snapshotId)),
      s"snapshot $snapshotId not in the table's history")
    publish(mdPath, md merge JObject("refs" -> JObject(name -> JObject(
      "snapshot-id" -> JInt(snapshotId), "type" -> JString(refType)))))
  }

  /** EXPIRE old snapshots (r11, F15h — the maintenance half of the
    * write story; unexpired metadata grows forever and holds every
    * superseded data file hostage): keep the LAST `keepLast` snapshots
    * (commit order — the current snapshot must be among them, loud
    * otherwise), write a new metadata version carrying only them, and
    * DELETE every manifest list, manifest, and data/delete file
    * referenced ONLY by expired snapshots — reference-counted against
    * the kept set, so shared files (the normal case: a snapshot
    * extends its parent's manifests) survive. Time travel to an
    * expired snapshot then fails loudly, exactly like a real engine.
    *
    * Scale shape: pure metadata work — file COUNTS bound everything;
    * no data scan.
    *
    * @return (kept snapshot count, deleted file count)
    */
  def expireSnapshots(table: String, keepLast: Int): (Int, Int) = {
    require(keepLast >= 1, s"keepLast must be >= 1, got $keepLast")
    val (md, mdPath) = loadMetadata(table)
    val snaps = (md \ "snapshots").children
    if (snaps.size <= keepLast) return (snaps.size, 0)
    // named refs PIN their snapshots (r12): a tagged snapshot survives
    // expiration no matter how old — dangling a ref would turn every
    // later readRef into a corruption
    val pinned: Set[Long] = refs(table).values.map(_._1).toSet
    val (expired, kept) = {
      val (e0, k0) = snaps.splitAt(snaps.size - keepLast)
      val (rescued, stillExpired) = e0.partition(s => pinned.contains(
        idOf(s).getOrElse(throw new IllegalArgumentException("snapshot without id"))))
      (stillExpired, rescued ++ k0)
    }
    if (expired.isEmpty) return (kept.size, 0)
    val curId = currentId(md)
    require(kept.exists(idOf(_).contains(curId)),
      s"current snapshot $curId would be expired (keepLast=$keepLast)")
    // the filesystem paths one snapshot reaches: its manifest list,
    // that list's manifests, and data_file entry paths. For KEPT
    // snapshots only LIVE entries (status != 2) pin a data file — a
    // DELETED entry tells readers the file is gone, it does not read
    // it; for EXPIRED snapshots every named path is a deletion
    // candidate.
    def reachable(snap: JValue, liveOnly: Boolean): Set[Path] = {
      val JString(ml) = snap \ "manifest-list"
      val mlPath = resolve(table, ml)
      val manifests = avroRows(mlPath)
        .map(r => resolve(table, r.get("manifest_path").toString))
      val dataFiles = manifests.flatMap(mp => avroRows(mp).flatMap { e =>
        val status = optField(e, "status").map(_.toString.toInt).getOrElse(1)
        if (liveOnly && status == 2) None
        else Some(resolve(table,
          e.get("data_file").asInstanceOf[GenericRecord]
            .get("file_path").toString))
      })
      (Seq(mlPath) ++ manifests ++ dataFiles).toSet
    }
    val keepPaths = kept.flatMap(reachable(_, liveOnly = true)).toSet
    val doomed =
      expired.flatMap(reachable(_, liveOnly = false)).toSet -- keepPaths
    // publish the trimmed metadata BEFORE deleting: a commit that loses
    // its version to a concurrent writer throws here with every file
    // still on disk, and the current metadata never names a deleted file
    publish(mdPath, JObject(md.asInstanceOf[JObject].obj.map {
      case ("snapshots", _) => ("snapshots", JArray(kept.toList))
      case other => other
    }))
    val deleted = doomed.toSeq.sortBy(_.toString).count(Files.deleteIfExists(_))
    (kept.size, deleted)
  }

  /** Both sides of a delete↔data path comparison normalize to the tail
    * after the table directory's name — the same anchoring rule
    * [[resolve]] uses for relocated tables (a delete file written on
    * one filesystem must still hit its data file after a copy).
    */
  private def normPath(table: String, c: Column): Column = {
    val anchor = Paths.get(table).toAbsolutePath.getFileName.toString
    substring_index(c, "/" + anchor + "/", -1)
  }

  /** Read the live table (optionally at an old snapshot), the F14
    * reading shape: one pruned parquet scan per partition-value group,
    * partition columns re-entering as typed literals; positional and
    * equality delete files apply as distributed anti-joins; `ranges`
    * prunes files on decoded manifest bounds before any scan.
    */
  def read(spark: SparkSession, table: String,
           snapshotId: Option[Long] = None,
           partitionFilter: Map[String, Any] => Boolean = _ => true,
           ranges: Map[String, (Long, Long)] = Map.empty)
      : DataFrame = {
    val st = state(spark, table, snapshotId)
    val hasDeletes = st.posDeletes.nonEmpty || st.eqDeletes.nonEmpty
    // seq-SCOPED deletes (r14, the merge-on-read shape) need each row
    // tagged with its file's data sequence number; legacy whole-set
    // deletes keep the untagged plan byte-for-byte
    val seqScoped = st.eqDeletes.exists(_._3 > 0L)
    // per-file pruning under each file's OWN spec (r13): transform
    // prunes resolve through specOf, the bound-box prune is
    // spec-independent
    val groups = filesInRange(
        st.files.filter(f => partitionFilter(f.partition))
          .filter(f => ranges.isEmpty ||
            transformKeepsFile(f, st.specOf(f), ranges)), ranges)
      .groupBy(f => (f.specId, f.partition,
        if (seqScoped) f.seq else 0L)).toSeq
      .sortBy { case ((sid, pv, seq), _) =>
        (sid, pv.toSeq.map(kv => kv._1 + "=" + String.valueOf(kv._2))
          .sorted.mkString(","), seq)
      }
    if (groups.isEmpty)
      return spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], st.schema)
    val metaCols =
      if (hasDeletes) Seq(col("_metadata.file_path").as("__fp"),
        col("_metadata.row_index").as("__pos"))
      else Seq.empty
    val keep = st.schema.fieldNames.toSeq ++
      (if (hasDeletes) Seq("__fp", "__pos") else Nil) ++
      (if (seqScoped) Seq("__seq") else Nil)
    val parts = groups.map { case ((sid, pvals, fseq), files) =>
      // the spec a file was written under decides which columns its
      // data file OMITS (identity sources reconstruct from partition
      // values) — a spec-evolved table mixes shapes in one read
      val identityFields = st.specsById.getOrElse(sid, st.specFields)
        .filter(_.transform == "identity").map(_.name)
      val dataSchema = StructType(
        st.schema.fields.filterNot(f => identityFields.contains(f.name)))
      val base0 = spark.read.schema(dataSchema)
        .parquet(files.map(f => resolve(table, f.path).toString): _*)
      val seqCols =
        if (seqScoped) Seq(lit(fseq).as("__seq")) else Seq.empty
      val base = base0.select(
        base0.columns.map(col).toSeq ++ metaCols ++ seqCols: _*)
      identityFields.foldLeft(base) { (df, c0) =>
        val fld = st.schema.fields.find(_.name == c0).getOrElse(
          throw new IllegalArgumentException(s"partition field $c0 not in schema"))
        val raw = pvals.get(c0).orNull
        val litV = if (raw == null) lit(null)
                   else lit(String.valueOf(raw))
        df.withColumn(c0, litV.cast(fld.dataType))
      }.select(keep.map(col): _*)
    }
    var df = parts.reduce(_ unionByName _)
    if (st.posDeletes.nonEmpty) {
      val pd = spark.read
        .parquet(st.posDeletes.map(f => resolve(table, f.path).toString): _*)
        .select(col("file_path").cast("string").as("__dfp"),
          col("pos").cast("long").as("__dpos"))
      df = df.join(pd,
        normPath(table, col("__fp")) === normPath(table, col("__dfp")) &&
          col("__pos") === col("__dpos"), "left_anti")
    }
    st.eqDeletes.foreach { case (f, cols, dseq) =>
      val ed = spark.read.parquet(resolve(table, f.path).toString)
        .select(cols.map(col): _*)
      if (dseq == 0L)
        // legacy unsequenced delete: the whole live set is in scope
        df = df.join(ed, cols, "left_anti")
      else
        // v2 scope: only rows from data files SEQUENCED BELOW the
        // delete are candidates; same-or-newer rows pass untouched —
        // the anti-join runs over the covered slice only
        df = df.filter(col("__seq") >= dseq)
          .unionByName(df.filter(col("__seq") < dseq)
            .join(ed, cols, "left_anti"))
    }
    val residual = ranges.map { case (c, (lo, hi)) =>
      col(c) >= lo && col(c) <= hi
    }.reduceOption(_ && _).getOrElse(lit(true))
    df.filter(residual).select(st.schema.fieldNames.map(col).toSeq: _*)
  }
}
