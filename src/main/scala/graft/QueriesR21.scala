package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.sources.{LakeWriter, Tables}

/** Round-11 surface growth: the real-lake tier the r10 verdict ranked —
  * Delta column mapping under the protocol guard (F14f: physical-name
  * parquet columns mapped back to logical, the one silent-misread hole
  * closed), deletion-vector MERGE on a re-deleted file (F14g), and
  * Iceberg non-identity partition transforms (F15f). House contract as
  * everywhere: deterministic fixtures, every gate a bit-exact hash
  * compare against DuckDB on the same tables.
  */
object QueriesR21 {
  private def t(s: SparkSession, dir: String, name: String): DataFrame =
    Tables.load(s, dir, name)

  private def esc(s: String): String =
    s.replace("\\", "\\\\").replace("\"", "\\\"")

  // ---------------------------------------------------------------
  // F14f: Delta columnMapping=name — a table whose parquet data files
  // carry PHYSICAL column names (the uuid-style names a renamed table
  // keeps forever) while the log's schemaString maps them to logical
  // names via field metadata; partitionValues keys are physical per
  // the protocol. Before r11 this reader ignored the protocol action
  // entirely and would have joined on the wrong columns; now the guard
  // rejects unknown reader requirements and the read maps names back.
  // ---------------------------------------------------------------

  /** Physical names, fixed (what a real writer mints once at
    * upgrade/rename time and never changes).
    */
  private val phys = Map(
    "s_suppkey" -> "col-9f1a", "s_name" -> "col-22bd",
    "cents" -> "col-77c0", "meta" -> "col-m31e",
    "nm" -> "col-n1", "ln" -> "col-l2", "bucket" -> "col-b4k7")

  private def buildDeltaColmapTable(s: SparkSession, dir: String): String =
    Staged(s, dir, "delta_colmap") {
      import org.apache.spark.sql.types._
      val t0 = java.nio.file.Files.createTempDirectory("delta_cm")
      def fld(name: String, dt: DataType, id: Int): StructField =
        StructField(name, dt, nullable = true,
          new MetadataBuilder()
            .putLong("delta.columnMapping.id", id)
            .putString("delta.columnMapping.physicalName", phys(name))
            .build())
      val metaT = StructType(Seq(
        fld("nm", StringType, 5), fld("ln", LongType, 6)))
      val schema = StructType(Seq(
        fld("s_suppkey", LongType, 1), fld("s_name", StringType, 2),
        fld("cents", LongType, 3), fld("meta", metaT, 4),
        fld("bucket", StringType, 7)))
      val sup = t(s, dir, "supplier").select(
        col("s_suppkey").cast("long").as("s_suppkey"), col("s_name"),
        (col("s_acctbal").cast("decimal(12,2)") * 100)
          .cast("long").as("cents"),
        pmod(col("s_suppkey"), lit(3)).cast("string").as("bucket"))
      // data files under PHYSICAL names at every nesting level — TWO
      // per bucket (split by suppkey parity) so the engine-side
      // compact below has real work in every partition group
      val adds = (0 until 3).flatMap { b =>
        (0 until 2).map { half =>
          val rel = s"data/b$b-$half.parquet"
          LakeWriter.writeParquetFile(
            sup.filter(col("bucket") === b.toString &&
                pmod(col("s_suppkey"), lit(2)) === half).select(
              col("s_suppkey").as(phys("s_suppkey")),
              col("s_name").as(phys("s_name")),
              col("cents").as(phys("cents")),
              struct(col("s_name").as(phys("nm")),
                length(col("s_name")).cast("long").as(phys("ln")))
                .as(phys("meta"))),
            t0.resolve(rel))
          s"""{"add":{"path":"$rel","partitionValues":{"${phys("bucket")}":"$b"},"dataChange":true}}"""
        }
      }
      val metaLine =
        s"""{"metaData":{"id":"cm","schemaString":"${esc(schema.json)}",""" +
          s""""partitionColumns":["bucket"],""" +
          s""""configuration":{"delta.columnMapping.mode":"name","delta.columnMapping.maxColumnId":"7"}}}"""
      // feature-gated protocol: the writerFeatures allowlist must PASS
      // columnMapping for the engine's own compact to be allowed
      val protoLine =
        """{"protocol":{"minReaderVersion":2,"minWriterVersion":7,""" +
          """"writerFeatures":["columnMapping"]}}"""
      val logDir = t0.resolve("_delta_log")
      java.nio.file.Files.createDirectories(logDir)
      java.nio.file.Files.writeString(logDir.resolve(f"${0L}%020d.json"),
        (Seq(protoLine, metaLine) ++ adds).mkString("\n"))
      // engine-side WRITE on the mapped table (r12): compact merges
      // each bucket's two files into one, emitting PHYSICAL-name
      // parquet and physical-key partitionValues/stats — the re-read
      // below hash-fails if any logical name leaked into the files
      val v = graft.sources.DeltaLog.compact(s, t0.toString)
      require(v == 1L, s"colmap compact landed at version $v, want 1")
      val st = graft.sources.DeltaLog.state(s, t0.toString)
      require(st.files.size == 3 &&
          st.files.forall(_.path.startsWith("compact-1-")),
        s"colmap compact did not replace the six files: ${st.files.map(_.path)}")
      t0.toString
    }

  /** F14f (r11): Delta columnMapping=name read — the parquet files
    * hold only physical uuid-style names (`col-…`, nested struct
    * fields included) and physical partitionValues keys; the reader
    * maps them back to the logical schema from the metaData field
    * metadata, under a protocol guard that rejects any reader
    * requirement this subset does not implement. Oracle = the same
    * projection in plain SQL — the mapping must be invisible.
    */
  def deltaColmapRoundtrip(s: SparkSession, dir: String): DataFrame =
    graft.sources.DeltaLog.read(s, buildDeltaColmapTable(s, dir))
      .select(col("s_suppkey"), col("s_name"), col("cents"),
        col("meta.nm").as("meta_nm"), col("meta.ln").as("meta_ln"),
        col("bucket"))
      .orderBy(col("s_suppkey"))

  // ---------------------------------------------------------------
  // F14g: deletion-vector MERGE — two engine DV commits against the
  // SAME data file; the second decodes the first's bitmap and unions
  // it with the new positions (what real engines do on a hot file)
  // instead of rejecting or silently dropping the earlier deletes.
  // ---------------------------------------------------------------

  private def buildDeltaDvMergeTable(s: SparkSession, dir: String): String =
    Staged(s, dir, "delta_dvmerge") {
      val t0 = java.nio.file.Files.createTempDirectory("delta_dvm")
      val sup = t(s, dir, "supplier").select(
        col("s_suppkey").cast("long").as("s_suppkey"),
        (col("s_acctbal").cast("decimal(12,2)") * 100)
          .cast("long").as("cents"),
        pmod(col("s_suppkey"), lit(2)).cast("string").as("bucket"))
      val schema = org.apache.spark.sql.types.StructType.fromDDL(
        "s_suppkey BIGINT, cents BIGINT, bucket STRING")
      val adds = (0 until 2).map { b =>
        val rel = s"data/bucket=$b/f0.parquet"
        LakeWriter.writeParquetFile(
          sup.filter(col("bucket") === b.toString).drop("bucket")
            .orderBy(col("s_suppkey")),
          t0.resolve(rel))
        s"""{"add":{"path":"$rel","partitionValues":{"bucket":"$b"},"dataChange":true}}"""
      }
      val meta =
        s"""{"metaData":{"id":"dvm","schemaString":"${esc(schema.json)}","partitionColumns":["bucket"]}}"""
      val logDir = t0.resolve("_delta_log")
      java.nio.file.Files.createDirectories(logDir)
      java.nio.file.Files.writeString(logDir.resolve(f"${0L}%020d.json"),
        (meta +: adds).mkString("\n"))
      // two DV commits on bucket 0's file (even s_suppkeys): %4 rows
      // first, then %6 rows — overlapping at multiples of 12, so the
      // second commit MUST union, not replace
      val v1 = graft.sources.DeltaLog.deleteWithDv(s, t0.toString,
        "data/bucket=0/f0.parquet", col("s_suppkey") % 4 === 0,
        uuid = new java.util.UUID(0x6772616674L, 0x64766d31L)) // fixed
      require(v1 == 1L, s"first DV commit landed at version $v1, want 1")
      val v2 = graft.sources.DeltaLog.deleteWithDv(s, t0.toString,
        "data/bucket=0/f0.parquet", col("s_suppkey") % 6 === 0,
        uuid = new java.util.UUID(0x6772616674L, 0x64766d32L)) // fixed
      require(v2 == 2L, s"second DV commit landed at version $v2, want 2")
      t0.toString
    }

  /** F14g (r11): deletion-vector merge on re-delete — the engine
    * deletes `%4` rows, then `%6` rows of the SAME file in a second
    * DV commit; its reader sees the union (rows divisible by 4 OR 6
    * gone, the overlap at 12 deleted exactly once). Oracle = the
    * survivors in plain SQL.
    */
  def deltaDvMergeRoundtrip(s: SparkSession, dir: String): DataFrame =
    graft.sources.DeltaLog.read(s, buildDeltaDvMergeTable(s, dir))
      .orderBy(col("s_suppkey"))

  // ---------------------------------------------------------------
  // F15f: Iceberg NON-IDENTITY partition transforms — a table born
  // empty and appended by the engine under `year(o_orderdate)` +
  // `bucket[4](o_orderkey)`; transform values ride the manifests and
  // directory names for PRUNING only (the source columns stay in the
  // data files), and the read prunes whole years through the
  // partition filter before any scan is planned.
  // ---------------------------------------------------------------

  private def buildIcebergTransformTable(s: SparkSession, dir: String): String =
    Staged(s, dir, "iceberg_transforms") {
      import graft.sources.IcebergCatalog._
      val t0 = java.nio.file.Files.createTempDirectory("ice_tf_rt")
      val mdir = t0.resolve("metadata")
      java.nio.file.Files.createDirectories(mdir)
      val ml1 = mdir.resolve("snap-10.avro")
      writeManifestList(ml1, Seq.empty)
      writeMetadataJsonSpec(mdir.resolve("v1.metadata.json"),
        Seq(("o_orderkey", "long", true), ("cents", "long", false),
          ("o_orderstatus", "string", false), ("o_orderdate", "date", false),
          ("o_ts", "timestamp", false)),
        Seq(("od_year", "year", "o_orderdate"),
          ("ok_bucket", "bucket[4]", "o_orderkey"),
          ("ts_bucket", "bucket[8]", "o_ts")),
        Seq(10L -> ml1))
      val o = t(s, dir, "orders").select(
        col("o_orderkey").cast("long").as("o_orderkey"),
        (col("o_totalprice").cast("decimal(12,2)") * 100)
          .cast("long").as("cents"),
        col("o_orderstatus"),
        col("o_orderdate").cast("date").as("o_orderdate"),
        // timestamp source for the r12 bucket[8] leg (UTC session)
        col("o_orderdate").cast("timestamp").as("o_ts"))
      val snap = commitAppend(s, t0.toString, o, snapshotId = 20L)
      require(snap == 20L)
      // the spec values must actually PRUNE: years < 1998 (value 28 =
      // 1998-1970) drop whole file groups before any scan is planned
      val st = graft.sources.IcebergCatalog.state(s, t0.toString)
      val kept = st.files.count(f =>
        f.partition.get("od_year").exists(_.toString.toInt >= 28))
      require(kept > 0 && kept < st.files.size,
        s"transform pruning is not selective: $kept of ${st.files.size}")
      // write→manifest consistency for the TIMESTAMP bucket (r12):
      // every file's manifest-borne ts_bucket must equal the
      // Appendix-B hash of the epoch-micros the file actually holds
      st.files.foreach { f =>
        val claimed = f.partition("ts_bucket").toString.toInt
        val distinct = s.read.parquet(
            graft.sources.IcebergCatalog.resolve(t0.toString, f.path).toString)
          .select(org.apache.spark.sql.graftbridge.ColumnBridge.column(
            graft.sources.IcebergBucketExpr(
              org.apache.spark.sql.graftbridge.ColumnBridge.expression(
                col("o_ts")), 8)).as("b"))
          .distinct().collect().map(_.getInt(0)).toSeq
        require(distinct == Seq(claimed),
          s"ts_bucket mismatch in ${f.path}: manifest=$claimed data=$distinct")
      }
      t0.toString
    }

  /** F15f (r11): Iceberg partition-transform round-trip — the engine
    * appends orders under `year(o_orderdate)` + `bucket[4](o_orderkey)`
    * (bucket = Appendix-B murmur3 over the little-endian long, pinned
    * against the spec's own test vectors in IcebergCatalogSpec), then
    * reads back ONLY years ≥ 1998 via the manifest-borne transform
    * values — the pruned files are never scanned. Oracle = the same
    * filter in plain SQL; a wrong year evaluation or a bucket value
    * that diverged between write and manifest hash-fails.
    */
  def icebergTransformsRoundtrip(s: SparkSession, dir: String): DataFrame =
    graft.sources.IcebergCatalog.read(s, buildIcebergTransformTable(s, dir),
        partitionFilter = pv =>
          pv.get("od_year").exists(_.toString.toInt >= 28))
      .select(col("o_orderkey"), col("cents"), col("o_orderstatus"),
        date_format(col("o_orderdate"), "yyyy-MM-dd").as("od"))
      .orderBy(col("o_orderkey"))

  // ---------------------------------------------------------------
  // T34b: BYTE-LEVEL BPE — the GPT-2 deployment shape. The corpus gets
  // multi-byte UTF-8 injected (a→ä, e→é via translate, both engines),
  // so a tokenizer that can't segment arbitrary UTF-8 hash-fails; the
  // trained symbols are byte-mapped characters with NO unknown tokens.
  // ---------------------------------------------------------------

  /** Merge budget for the byte-level gates (the corpus vocabulary is
    * ~31 words; 16 merges leaves multi-token and fully-merged words).
    */
  val byteBpeMerges = 16

  /** The multi-byte corpus text: both engines apply the same 1:1
    * codepoint translation, turning the ASCII fixture into UTF-8 with
    * 2-byte characters in most words.
    */
  private def mbText = translate(col("text"), "ae", "äé")
  private val mbTextSql = "translate(text, 'ae', 'äé')"

  private[graft] def byteBpeTrained(s: SparkSession, dir: String)
      : (DataFrame, DataFrame) =
    Staged(s, dir, "byte_bpe")(
      graft.operators.Bpe.trainByteLevel(
        t(s, dir, "documents"), mbText, byteBpeMerges))

  /** T34b (r11): byte-level BPE merges — the learned ranks over the
    * byte-mapped alphabet; the oracle replays the identical loop from
    * the identical UTF-8 byte derivation (hex pairs + the 256-row
    * bytes→unicode table) in DuckDB.
    */
  def textBpeBytelevelMerges(s: SparkSession, dir: String): DataFrame = {
    val (merges, _) = byteBpeTrained(s, dir)
    merges.orderBy(col("mrank"))
  }

  /** T34b (r11): per-document byte-level token accounting — whitespace
    * tokens next to trained byte-level subword counts; the budget
    * basis a GPT-2-style tokenizer would hand a packing operator. The
    * per-word counts (vocab-sized) broadcast into the corpus join.
    */
  def textBpeBytelevelTokenize(s: SparkSession, dir: String): DataFrame = {
    val (_, endState) = byteBpeTrained(s, dir)
    val nSub = endState.groupBy(col("w")).agg(count(lit(1)).as("n_sub"))
    t(s, dir, "documents")
      .select(col("doc_id"), explode(split(mbText, " ")).as("w"))
      .filter(col("w") =!= "")
      .join(broadcast(nSub), Seq("w"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_ws"), sum(col("n_sub")).as("n_bpe"))
      .orderBy(col("doc_id"))
  }

  // ---------------------------------------------------------------
  // X57: consumer-group coordination on the Kafka wire — a consumer
  // crashes mid-topic and a FRESH query (no checkpoint dir) resumes
  // from the group's broker-committed offsets.
  // ---------------------------------------------------------------

  /** X57 (r11): group kill-and-resume — orders produce onto a
    * 4-partition broker in key order; a `groupId` consumer processes
    * ONE admission-controlled micro-batch (its end offsets commit via
    * OffsetCommit), then crashes; a fresh query in the same group
    * OffsetFetch-resumes and aggregates ONLY the suffix. The committed
    * boundary is [[graft.streaming.BusSource.admit]]'s even budget
    * split (total/8 per partition), so the oracle replays it as a
    * window rank over the per-partition produce order.
    */
  def streamKafkaGroupResume(s: SparkSession, dir: String): DataFrame = {
    val o = t(s, dir, "orders").select(
      pmod(col("o_orderkey"), lit(4)).cast("int").as("pt"),
      col("o_orderkey").as("ok"),
      to_json(struct(col("o_orderkey"), col("o_orderstatus"),
        (col("o_totalprice").cast("decimal(12,2)") * 100)
          .cast("long").as("cents"))).as("v"))
    val server = graft.streaming.KafkaBusServer.serve(
      null, emptyPartitions = 4)
    try {
      graft.streaming.KafkaWire.produceSink(
        o.repartition(4, col("pt")).sortWithinPartitions(col("pt"), col("ok")),
        "127.0.0.1", server.port, "bus", col("pt"), col("v"))
      val total = o.count()
      val budget = 4L * (total / 8L) // divisible by 4: per-partition K = total/8
      require(budget > 0 && budget < total,
        s"group-resume budget $budget degenerate for $total rows")
      val tag = System.nanoTime()
      graft.streaming.Streams.kafkaBusGroupResume(s, "127.0.0.1", server.port,
          "bus", s"graft-g-$tag", budget, s"gate_kafkagroup_$tag") { stream =>
        stream.select(from_json(col("value"),
            org.apache.spark.sql.types.StructType.fromDDL(
              "o_orderkey BIGINT, o_orderstatus STRING, cents BIGINT")).as("e"))
          .groupBy(col("e.o_orderstatus").as("o_orderstatus"))
          .agg(count(lit(1)).as("n"), sum(col("e.cents")).as("sum_cents"),
            min(col("e.o_orderkey")).as("min_ok"),
            max(col("e.o_orderkey")).as("max_ok"))
      }.orderBy(col("o_orderstatus"))
    } finally server.close()
  }

  /** X5b (r11): purchases LEFT OUTER joined to same-user clicks from
    * the trailing 30 minutes through the streaming engine — unmatched
    * purchases emit with click_id -1 once the watermark expires their
    * join window (the null-emit leg X5's inner join cannot express);
    * second-truncated event time so the batch LEFT JOIN oracle
    * compares exactly.
    */
  def streamJoinOuter(s: SparkSession, dir: String): DataFrame = {
    val e = t(s, dir, "events")
      .select(col("user_id"), col("event_id"), col("event_type"),
        to_timestamp(unix_timestamp(col("ts").cast("timestamp"))).as("tsec"))
    val purchases = e.filter(col("event_type") === "purchase")
      .select(col("user_id").as("l_key"), col("event_id").as("l_id"),
        col("tsec").as("l_ts"))
    val clicks = e.filter(col("event_type") === "click")
      .select(col("user_id").as("r_key"), col("event_id").as("r_id"),
        col("tsec").as("r_ts"))
    graft.streaming.Streams.intervalJoinLeftOuter(s, purchases, clicks,
        gapSec = 1800, queryName = s"graft_ivjoinL_${System.nanoTime()}")
      .select(col("l_id").as("purchase_id"), col("l_key").as("user_id"),
        coalesce(col("r_id"), lit(-1L)).as("click_id"))
      .orderBy(col("purchase_id"), col("click_id"))
  }

  /** X5c (r11): the FULL OUTER leg — unmatched purchases AND unmatched
    * clicks both emit (the other side -1) on watermark expiry; the
    * missed-enrichment and orphaned-event shapes in one result.
    */
  def streamJoinFullOuter(s: SparkSession, dir: String): DataFrame = {
    val e = t(s, dir, "events")
      .select(col("user_id"), col("event_id"), col("event_type"),
        to_timestamp(unix_timestamp(col("ts").cast("timestamp"))).as("tsec"))
    val purchases = e.filter(col("event_type") === "purchase")
      .select(col("user_id").as("l_key"), col("event_id").as("l_id"),
        col("tsec").as("l_ts"))
    val clicks = e.filter(col("event_type") === "click")
      .select(col("user_id").as("r_key"), col("event_id").as("r_id"),
        col("tsec").as("r_ts"))
    graft.streaming.Streams.intervalJoinFullOuter(s, purchases, clicks,
        gapSec = 1800, queryName = s"graft_ivjoinF_${System.nanoTime()}")
      .select(coalesce(col("l_id"), lit(-1L)).as("purchase_id"),
        coalesce(col("l_key"), col("r_key")).as("user_id"),
        coalesce(col("r_id"), lit(-1L)).as("click_id"))
      .orderBy(col("purchase_id"), col("click_id"), col("user_id"))
  }

  /** T34f (r11): byte-level BPE encode-to-ids — T34d's model-input leg
    * on the byte-level tokenizer: symbol ids by rank over the trained
    * byte alphabet, each word's ordered id list, first 50 docs
    * re-assembled to space-joined id sequences.
    */
  def textBpeBytelevelEncode(s: SparkSession, dir: String): DataFrame = {
    val (_, endState) = byteBpeTrained(s, dir)
    val vocab = endState.select(col("s")).distinct()
      .withColumn("tid", row_number().over(
        org.apache.spark.sql.expressions.Window.orderBy(col("s"))).cast("long"))
    val wsub = endState.join(vocab, Seq("s"))
      .select(col("w"), col("p"), col("tid"))
    t(s, dir, "documents").filter(col("doc_id") < 50)
      .select(col("doc_id"),
        posexplode(split(mbText, " ")).as(Seq("wp", "w")))
      .filter(col("w") =!= "")
      .join(broadcast(wsub), Seq("w"))
      .groupBy(col("doc_id"))
      .agg(expr(
        """array_join(transform(sort_array(collect_list(struct(wp, p, tid))),
          |                     x -> cast(x.tid AS string)), ' ')""".stripMargin)
        .as("token_ids"))
      .orderBy(col("doc_id"))
  }

  // ---------------------------------------------------------------
  // F15h: snapshot EXPIRATION — the maintenance pass; after it the
  // state is reachable ONLY through the kept snapshot and every
  // expired-only manifest/data file is physically gone.
  // ---------------------------------------------------------------

  private def buildIcebergExpireTable(s: SparkSession, dir: String): String =
    Staged(s, dir, "iceberg_expire") {
      val t0 = QueriesR16.buildIcebergFresh(s, dir)
      val snap = graft.sources.IcebergCatalog.commitPositionDelete(
        s, t0, "rk=3/f0.parquet", col("n_nationkey") % 2 === 1,
        snapshotId = 40L)
      require(snap == 40L)
      val (kept, deleted) =
        graft.sources.IcebergCatalog.expireSnapshots(t0, keepLast = 1)
      require(kept == 1 && deleted > 0,
        s"expiration must delete expired-only files (kept=$kept, deleted=$deleted)")
      // time travel to an expired snapshot is gone, loudly
      val gone = try {
        graft.sources.IcebergCatalog.read(s, t0, snapshotId = Some(10L))
        false
      } catch { case _: IllegalArgumentException => true }
      require(gone, "expired snapshot must not be readable")
      t0
    }

  /** F15h (r11): snapshot expiration round-trip — the F15c table
    * (fixture snapshots 10/20/30 + an engine positional-delete commit
    * at 40) EXPIRED down to the last snapshot: unreferenced manifest
    * lists/manifests/data files physically deleted (reference-counted
    * against live entries of the kept snapshot), expired time travel
    * loud, and the CURRENT state byte-identical to the pre-expiration
    * read — the same oracle as `iceberg_delete_roundtrip`.
    */
  def icebergExpireRoundtrip(s: SparkSession, dir: String): DataFrame =
    graft.sources.IcebergCatalog.read(s, buildIcebergExpireTable(s, dir))
      .select(col("n_nationkey"), col("n_name"),
        col("meta.nm").as("meta_nm"), col("meta.ln").as("meta_ln"),
        element_at(col("arr"), 1).as("arr0"),
        element_at(col("arr"), 2).as("arr1"), col("rk"))
      .orderBy(col("n_nationkey"))

  // ---------------------------------------------------------------
  // F14h/F14i: Delta maintenance + change feed — VACUUM deletes the
  // files only expired versions could read; tableChanges is the
  // version-diff CDF every downstream CDC consumer wants.
  // ---------------------------------------------------------------

  private def buildDeltaVacuumTable(s: SparkSession, dir: String): String =
    Staged(s, dir, "delta_vacuum") {
      val t0 = QueriesR16.buildDeltaFresh(s, dir)
      // OPTIMIZE folds the DVs away and rewrites buckets 1/2; VACUUM
      // with retainLast=1 then deletes every file only pre-compaction
      // versions could read (incl. bucket 0's replaced original and
      // both DV bins)
      val v4 = graft.sources.DeltaLog.compact(s, t0)
      require(v4 == 4L, s"compaction landed at version $v4, want 4")
      val removed = java.nio.file.Paths.get(t0, "data/bucket=0/f0.parquet")
      require(java.nio.file.Files.exists(removed),
        "pre-vacuum: the replaced original must still be on disk")
      val (floor, deleted) =
        graft.sources.DeltaLog.vacuum(s, t0, retainLast = 1)
      require(floor == 4L && deleted >= 4,
        s"vacuum should delete the superseded files (floor=$floor, n=$deleted)")
      require(!java.nio.file.Files.exists(removed),
        "vacuum must delete the replaced original")
      t0
    }

  /** F14h (r11): VACUUM round-trip — the F14b table OPTIMIZED (DVs
    * folded away) then vacuumed down to the current version: every
    * superseded data file and DV bin physically gone, and the current
    * read still byte-identical to the F14b oracle — maintenance must
    * be invisible to the live state.
    */
  def deltaVacuumRoundtrip(s: SparkSession, dir: String): DataFrame =
    graft.sources.DeltaLog.read(s, buildDeltaVacuumTable(s, dir))
      .orderBy(col("s_suppkey"))

  /** F14i (r11): version-diff CHANGE FEED — the row-level changes
    * between v0 and v3 of the F14b table: bucket 0's replacement
    * surfaces as delete+insert pairs (the update shape), the two DV
    * commits as deletes; full-row multiset semantics via exceptAll.
    * Oracle = the same change set derived in plain SQL.
    */
  def deltaTableChanges(s: SparkSession, dir: String): DataFrame =
    graft.sources.DeltaLog.tableChanges(s,
        QueriesR16.buildDeltaTable(s, dir), 0L, 3L)
      .orderBy(col("_change_type"), col("s_suppkey"))

  /** F14i (r11): the change feed with per-VERSION attribution — each
    * commit step's delete/insert rows stamped `_commit_version`: the
    * replacement lands at 1, the fixture DV's deletes at 2, the engine
    * DV's deletes at 3.
    */
  def deltaChangesByVersion(s: SparkSession, dir: String): DataFrame =
    graft.sources.DeltaLog.tableChangesByVersion(s,
        QueriesR16.buildDeltaTable(s, dir), 0L, 3L)
      .orderBy(col("_commit_version"), col("_change_type"), col("s_suppkey"))

  // ---------------------------------------------------------------
  // F14j/F15i: the undo buttons — Delta RESTORE re-instates an old
  // version's files in a new commit; Iceberg rollback re-points
  // current-snapshot-id. History stays time-travelable in both.
  // ---------------------------------------------------------------

  private def buildDeltaRestoreTable(s: SparkSession, dir: String): String =
    Staged(s, dir, "delta_restore") {
      val t0 = QueriesR16.buildDeltaFresh(s, dir) // v0..v3
      val v4 = graft.sources.DeltaLog.restore(s, t0, toVersion = 0L)
      require(v4 == 4L, s"restore landed at version $v4, want 4")
      // the bad interval is still time-travelable
      require(graft.sources.DeltaLog.state(s, t0, Some(3L))
        .files.exists(_.deletionVector.isDefined),
        "pre-restore history must stay reachable")
      t0
    }

  /** F14j (r11): Delta RESTORE round-trip — the F14b table (replace +
    * two DV commits) restored to v0 in ONE new commit: the head state
    * is the pristine supplier projection again while v3 stays
    * time-travelable; oracle = the untouched projection in plain SQL.
    */
  def deltaRestoreRoundtrip(s: SparkSession, dir: String): DataFrame =
    graft.sources.DeltaLog.read(s, buildDeltaRestoreTable(s, dir))
      .orderBy(col("s_suppkey"))

  private def buildIcebergRollbackTable(s: SparkSession, dir: String): String =
    Staged(s, dir, "iceberg_rollback") {
      val t0 = QueriesR16.buildIcebergFresh(s, dir) // snaps 10/20/30
      val ver = graft.sources.IcebergCatalog.rollbackTo(t0, 10L)
      require(ver == 2L, s"rollback wrote metadata v$ver, want 2")
      t0
    }

  /** F15i (r11): Iceberg ROLLBACK round-trip — the F15b table rolled
    * back to snapshot 10 (before the region-0 renumber and both v2
    * deletes): the head read is the pristine nation projection; the
    * rolled-back snapshots stay in history for time travel.
    */
  def icebergRollbackRoundtrip(s: SparkSession, dir: String): DataFrame =
    graft.sources.IcebergCatalog.read(s, buildIcebergRollbackTable(s, dir))
      .select(col("n_nationkey"), col("n_name"),
        col("meta.nm").as("meta_nm"), col("meta.ln").as("meta_ln"),
        element_at(col("arr"), 1).as("arr0"),
        element_at(col("arr"), 2).as("arr1"), col("rk"))
      .orderBy(col("n_nationkey"))

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "delta_restore_roundtrip" -> (deltaRestoreRoundtrip _),
    "iceberg_rollback_roundtrip" -> (icebergRollbackRoundtrip _),
    "delta_vacuum_roundtrip" -> (deltaVacuumRoundtrip _),
    "delta_table_changes" -> (deltaTableChanges _),
    "delta_changes_by_version" -> (deltaChangesByVersion _),
    "iceberg_expire_roundtrip" -> (icebergExpireRoundtrip _),
    "stream_join_outer" -> (streamJoinOuter _),
    "stream_join_full_outer" -> (streamJoinFullOuter _),
    "text_bpe_bytelevel_encode" -> (textBpeBytelevelEncode _),
    "stream_kafka_group_resume" -> (streamKafkaGroupResume _),
    "delta_colmap_roundtrip" -> (deltaColmapRoundtrip _),
    "delta_dv_merge_roundtrip" -> (deltaDvMergeRoundtrip _),
    "iceberg_transforms_roundtrip" -> (icebergTransformsRoundtrip _),
    "text_bpe_bytelevel_merges" -> (textBpeBytelevelMerges _),
    "text_bpe_bytelevel_tokenize" -> (textBpeBytelevelTokenize _))

  val sql: Map[String, String] = Map(
    "delta_vacuum_roundtrip" ->
      """WITH base AS (
        |  SELECT s_suppkey,
        |    CAST(CAST(s_acctbal AS DECIMAL(12,2)) * 100 AS BIGINT)
        |      + CASE WHEN s_nationkey % 5 = 0 THEN 10000 ELSE 0 END
        |      AS bal_cents,
        |    CAST(s_nationkey % 5 AS VARCHAR) AS bucket
        |  FROM supplier
        |), pos AS (
        |  SELECT s_suppkey, bal_cents, bucket,
        |    ROW_NUMBER() OVER (PARTITION BY bucket ORDER BY s_suppkey) - 1 AS p
        |  FROM base
        |)
        |SELECT s_suppkey, bal_cents, bucket FROM pos
        |WHERE (bucket <> '1' OR p % 3 <> 0)
        |  AND NOT (bucket = '2' AND s_suppkey % 7 = 0)
        |ORDER BY s_suppkey""".stripMargin,
    "delta_table_changes" ->
      """WITH base AS (
        |  SELECT s_suppkey,
        |    CAST(CAST(s_acctbal AS DECIMAL(12,2)) * 100 AS BIGINT) AS bal0,
        |    CAST(s_nationkey % 5 AS VARCHAR) AS bucket
        |  FROM supplier
        |), pos AS (
        |  SELECT s_suppkey, bal0, bucket,
        |    ROW_NUMBER() OVER (PARTITION BY bucket ORDER BY s_suppkey) - 1 AS p
        |  FROM base
        |)
        |SELECT s_suppkey, bal0 + 10000 AS bal_cents, bucket,
        |  'insert' AS _change_type
        |FROM pos WHERE bucket = '0'
        |UNION ALL
        |SELECT s_suppkey, bal0, bucket, 'delete' FROM pos WHERE bucket = '0'
        |UNION ALL
        |SELECT s_suppkey, bal0, bucket, 'delete'
        |FROM pos WHERE bucket = '1' AND p % 3 = 0
        |UNION ALL
        |SELECT s_suppkey, bal0, bucket, 'delete'
        |FROM pos WHERE bucket = '2' AND s_suppkey % 7 = 0
        |ORDER BY _change_type, s_suppkey""".stripMargin,
    "delta_restore_roundtrip" ->
      """SELECT s_suppkey,
        |  CAST(CAST(s_acctbal AS DECIMAL(12,2)) * 100 AS BIGINT) AS bal_cents,
        |  CAST(s_nationkey % 5 AS VARCHAR) AS bucket
        |FROM supplier ORDER BY s_suppkey""".stripMargin,
    "iceberg_rollback_roundtrip" ->
      """SELECT n_nationkey, n_name,
        |  n_name AS meta_nm, CAST(length(n_name) AS BIGINT) AS meta_ln,
        |  n_nationkey AS arr0, n_nationkey * 2 + 1 AS arr1,
        |  CAST(n_regionkey AS VARCHAR) AS rk
        |FROM nation ORDER BY n_nationkey""".stripMargin,
    "delta_changes_by_version" ->
      """WITH base AS (
        |  SELECT s_suppkey,
        |    CAST(CAST(s_acctbal AS DECIMAL(12,2)) * 100 AS BIGINT) AS bal0,
        |    CAST(s_nationkey % 5 AS VARCHAR) AS bucket
        |  FROM supplier
        |), pos AS (
        |  SELECT s_suppkey, bal0, bucket,
        |    ROW_NUMBER() OVER (PARTITION BY bucket ORDER BY s_suppkey) - 1 AS p
        |  FROM base
        |)
        |SELECT s_suppkey, bal0 + 10000 AS bal_cents, bucket,
        |  'insert' AS _change_type, 1 AS _commit_version
        |FROM pos WHERE bucket = '0'
        |UNION ALL
        |SELECT s_suppkey, bal0, bucket, 'delete', 1
        |FROM pos WHERE bucket = '0'
        |UNION ALL
        |SELECT s_suppkey, bal0, bucket, 'delete', 2
        |FROM pos WHERE bucket = '1' AND p % 3 = 0
        |UNION ALL
        |SELECT s_suppkey, bal0, bucket, 'delete', 3
        |FROM pos WHERE bucket = '2' AND s_suppkey % 7 = 0
        |ORDER BY _commit_version, _change_type, s_suppkey""".stripMargin,
    "iceberg_expire_roundtrip" ->
      """WITH fin AS (
        |  SELECT CASE WHEN n_regionkey = 0 THEN n_nationkey + 1000
        |         ELSE n_nationkey END AS n_nationkey,
        |    n_name, CAST(n_regionkey AS VARCHAR) AS rk
        |  FROM nation
        |  WHERE NOT (n_regionkey = 1 AND n_nationkey =
        |      (SELECT MIN(n_nationkey) FROM nation WHERE n_regionkey = 1))
        |    AND n_name <> (SELECT n_name FROM nation WHERE n_nationkey = 14)
        |    AND NOT (n_regionkey = 3 AND n_nationkey % 2 = 1)
        |)
        |SELECT n_nationkey, n_name,
        |  n_name AS meta_nm, CAST(length(n_name) AS BIGINT) AS meta_ln,
        |  n_nationkey AS arr0, n_nationkey * 2 + 1 AS arr1, rk
        |FROM fin ORDER BY n_nationkey""".stripMargin,
    "stream_join_full_outer" ->
      """SELECT COALESCE(p.event_id, -1) AS purchase_id,
        |  COALESCE(p.user_id, c.user_id) AS user_id,
        |  COALESCE(c.event_id, -1) AS click_id
        |FROM (SELECT * FROM events WHERE event_type = 'purchase') p
        |FULL JOIN (SELECT * FROM events WHERE event_type = 'click') c
        |  ON c.user_id = p.user_id
        |  AND floor(epoch(c.ts)) >= floor(epoch(p.ts)) - 1800
        |  AND floor(epoch(c.ts)) <= floor(epoch(p.ts))
        |ORDER BY purchase_id, click_id, user_id""".stripMargin,
    "text_bpe_bytelevel_encode" ->
      s"""WITH ${graft.operators.Bpe.byteOracleCtes(
             "documents", mbTextSql, byteBpeMerges)},
        |vocab AS MATERIALIZED (
        |  SELECT s, CAST(ROW_NUMBER() OVER (ORDER BY s) AS BIGINT) AS tid
        |  FROM (SELECT DISTINCT s FROM st$byteBpeMerges)
        |), wsub AS MATERIALIZED (
        |  SELECT w, p, tid FROM st$byteBpeMerges JOIN vocab USING (s)
        |), dw AS (
        |  SELECT doc_id, CAST(i AS BIGINT) AS wp, w FROM (
        |    SELECT doc_id, unnest(string_split($mbTextSql, ' ')) AS w,
        |           generate_subscripts(string_split($mbTextSql, ' '), 1) AS i
        |    FROM documents WHERE doc_id < 50
        |  ) WHERE w <> ''
        |)
        |SELECT doc_id,
        |  string_agg(CAST(tid AS VARCHAR), ' ' ORDER BY wp, p) AS token_ids
        |FROM dw JOIN wsub USING (w)
        |GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    "stream_join_outer" ->
      """SELECT p.event_id AS purchase_id, p.user_id AS user_id,
        |  COALESCE(c.event_id, -1) AS click_id
        |FROM events p LEFT JOIN events c ON c.user_id = p.user_id
        |  AND c.event_type = 'click'
        |  AND floor(epoch(c.ts)) >= floor(epoch(p.ts)) - 1800
        |  AND floor(epoch(c.ts)) <= floor(epoch(p.ts))
        |WHERE p.event_type = 'purchase'
        |ORDER BY purchase_id, click_id""".stripMargin,
    "stream_kafka_group_resume" ->
      """WITH k AS (SELECT COUNT(*) // 8 AS kk FROM orders),
        |r AS (
        |  SELECT o_orderkey, o_orderstatus,
        |    CAST(CAST(o_totalprice AS DECIMAL(12,2)) * 100 AS BIGINT) AS cents,
        |    ROW_NUMBER() OVER (PARTITION BY o_orderkey % 4
        |                       ORDER BY o_orderkey) - 1 AS rn
        |  FROM orders)
        |SELECT o_orderstatus, COUNT(*) AS n,
        |  CAST(SUM(cents) AS BIGINT) AS sum_cents,
        |  CAST(MIN(o_orderkey) AS BIGINT) AS min_ok,
        |  CAST(MAX(o_orderkey) AS BIGINT) AS max_ok
        |FROM r, k WHERE r.rn >= k.kk
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    "delta_colmap_roundtrip" ->
      """SELECT CAST(s_suppkey AS BIGINT) AS s_suppkey, s_name,
        |  CAST(CAST(s_acctbal AS DECIMAL(12,2)) * 100 AS BIGINT) AS cents,
        |  s_name AS meta_nm, CAST(length(s_name) AS BIGINT) AS meta_ln,
        |  CAST(s_suppkey % 3 AS VARCHAR) AS bucket
        |FROM supplier ORDER BY s_suppkey""".stripMargin,
    "delta_dv_merge_roundtrip" ->
      """SELECT CAST(s_suppkey AS BIGINT) AS s_suppkey,
        |  CAST(CAST(s_acctbal AS DECIMAL(12,2)) * 100 AS BIGINT) AS cents,
        |  CAST(s_suppkey % 2 AS VARCHAR) AS bucket
        |FROM supplier
        |WHERE NOT (s_suppkey % 2 = 0
        |           AND (s_suppkey % 4 = 0 OR s_suppkey % 6 = 0))
        |ORDER BY s_suppkey""".stripMargin,
    "iceberg_transforms_roundtrip" ->
      """SELECT CAST(o_orderkey AS BIGINT) AS o_orderkey,
        |  CAST(CAST(o_totalprice AS DECIMAL(12,2)) * 100 AS BIGINT) AS cents,
        |  o_orderstatus,
        |  strftime(CAST(o_orderdate AS DATE), '%Y-%m-%d') AS od
        |FROM orders
        |WHERE EXTRACT(year FROM o_orderdate) >= 1998
        |ORDER BY o_orderkey""".stripMargin,
    "text_bpe_bytelevel_merges" ->
      s"""WITH ${graft.operators.Bpe.byteOracleCtes(
             "documents", mbTextSql, byteBpeMerges)}
         |SELECT mrank, l_sym, r_sym, cnt FROM (${(1 to byteBpeMerges)
             .map(i => s"SELECT * FROM mg$i").mkString(" UNION ALL ")})
         |ORDER BY mrank""".stripMargin,
    "text_bpe_bytelevel_tokenize" ->
      s"""WITH ${graft.operators.Bpe.byteOracleCtes(
             "documents", mbTextSql, byteBpeMerges)},
         |${graft.operators.Bpe.nsubCte(byteBpeMerges)},
         |dw AS MATERIALIZED (
         |  SELECT doc_id, w FROM (
         |    SELECT doc_id, unnest(string_split($mbTextSql, ' ')) AS w
         |    FROM documents
         |  ) WHERE w <> ''
         |)
         |SELECT doc_id, COUNT(*) AS n_ws, CAST(SUM(n_sub) AS BIGINT) AS n_bpe
         |FROM dw JOIN ns USING (w) GROUP BY doc_id ORDER BY doc_id""".stripMargin)
}
