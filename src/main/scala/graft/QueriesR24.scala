package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.sources.{DeltaLog, IcebergCatalog, LakeWriter, Tables}

/** Round-14 surface growth, per the r13 verdict's ranked gaps: the
  * Iceberg-target CDC apply (C38 — the reference's own
  * delta→MERGE→watermark loop landed as v2 merge-on-read snapshots:
  * equality-delete matched PKs + append staged rows in ONE snapshot),
  * the streaming CDC apply INTO the Delta target (C14×C37:
  * foreachBatch → DeltaWrite.merge, multi-commit recorded CDF), and
  * the lake-format evolution legs. House contract as everywhere:
  * deterministic fixtures, every gate a bit-exact hash compare
  * against DuckDB on the same parquet tables.
  */
object QueriesR24 {
  private def t(s: SparkSession, dir: String, name: String): DataFrame =
    Tables.load(s, dir, name)

  // ---------------------------------------------------------------
  // C38 (r14): CDC replication INTO an Iceberg table — two
  // Pipeline.replicateIceberg runs (bootstrap createTable+append +
  // incremental commitMerge) against the SAME deterministic
  // orders-derived change script as cdc_delta_apply; the merge lands
  // as one v2 snapshot (equality delete over the matched PKs at data
  // sequence N + staged rows at the same N) and rewrites NOTHING.
  // ---------------------------------------------------------------

  private[graft] def buildCdcIcebergApply(s: SparkSession, dir: String): String =
    Staged(s, dir, "cdc_iceberg_apply")(cdcIcebergApplyFresh(s, dir))

  /** A fresh, unstaged copy of the cdc_iceberg_apply replica, for
    * fixtures that change it.
    */
  private def cdcIcebergApplyFresh(s: SparkSession, dir: String): String = {
    import graft.cdc.Pipeline
    val root = java.nio.file.Files.createTempDirectory("cdc_ice_apply")
    val orders = t(s, dir, "orders").select(
      col("o_orderkey").cast("long").as("o_orderkey"),
      col("o_orderstatus"),
      (col("o_totalprice").cast("decimal(12,2)") * 100)
        .cast("long").as("cents"),
      col("o_orderdate").cast("timestamp").as("__odate"))
    val cutoff = lit("2000-01-01 00:00:00").cast("timestamp")
    val src1 = orders.filter(col("__odate") < cutoff).select(
      col("o_orderkey"), col("o_orderstatus"), col("cents"),
      col("__odate").as("created_at"),
      lit(null).cast("timestamp").as("updated_at"),
      lit("N").as("is_deleted"))
    val spec = Seq(Pipeline.TableSpec("orders_rep", Seq("o_orderkey")))
    val (r1, wm1) = Pipeline.replicateIceberg(s, spec, Nil,
      _ => src1, root.toString, Map.empty)
    require(r1.processed == 1 && r1.failed == 0,
      s"bootstrap run failed: ${r1.results}")
    val tbl = s"$root/orders_rep"
    val bootSnap = IcebergCatalog.state(s, tbl).snapshotId
    val bootFiles = IcebergCatalog.state(s, tbl).files.map(_.path).toSet
    // run 2: same change script as cdc_delta_apply — every 3rd key
    // updated (+1000 cents, every 37th a soft delete), post-2000
    // keys inserted (every 41st a source-side tombstone the insert
    // guard must drop); untouched run-1 rows ride along and the
    // watermark must filter them out
    val touch = lit("2005-06-01 00:00:00").cast("timestamp")
    val upd = src1.filter(col("o_orderkey") % 3 === 0).select(
      col("o_orderkey"), lit("U").as("o_orderstatus"),
      (col("cents") + 100000L).as("cents"),
      col("created_at"), touch.as("updated_at"),
      when(col("o_orderkey") % 37 === 0, "Y").otherwise("N")
        .as("is_deleted"))
    val ins = orders.filter(col("__odate") >= cutoff).select(
      col("o_orderkey"), col("o_orderstatus"), col("cents"),
      touch.as("created_at"),
      lit(null).cast("timestamp").as("updated_at"),
      when(col("o_orderkey") % 41 === 0, "Y").otherwise("N")
        .as("is_deleted"))
    val src2 = src1.unionByName(upd).unionByName(ins)
    val (r2, _) = Pipeline.replicateIceberg(s, spec, Nil,
      _ => src2, root.toString, wm1)
    require(r2.processed == 1 && r2.failed == 0,
      s"incremental run failed: ${r2.results}")
    val st = IcebergCatalog.state(s, tbl)
    // the MERGE snapshot's shape: one sequenced equality delete
    // over the PK, every bootstrap file still live and untouched
    // (pure merge-on-read — zero rewrite), staged rows sequenced
    // WITH the delete so it cannot cover them
    require(st.eqDeletes.size == 1, s"eq deletes: ${st.eqDeletes.size}")
    val (_, edCols, edSeq) = st.eqDeletes.head
    require(edCols == Seq("o_orderkey") && edSeq > 0L,
      s"eq delete over pk at a real seq: cols=$edCols seq=$edSeq")
    require(bootFiles.subsetOf(st.files.map(_.path).toSet),
      "merge must not rewrite or drop the bootstrap files")
    require(st.files.exists(_.seq == edSeq),
      "staged rows must carry the merge's own sequence number")
    // time travel below the merge still reads the bootstrap state
    require(IcebergCatalog.read(s, tbl, Some(bootSnap)).count() ==
      src1.count(),
      "time travel to the bootstrap snapshot must see the full load")
    tbl
  }

  /** C38 (r14): the Iceberg-target CDC apply end-to-end — the final
    * replica state of the engine-written v2 table (bootstrap append +
    * ONE merge-on-read snapshot: sequenced equality delete over the
    * matched PKs plus the staged rows). The oracle replays the same
    * change script in plain SQL; a merge whose delete swallows its own
    * appends, drops a tombstone wrong, inserts a dead key, or loses an
    * untouched bootstrap row hash-fails. The fixture additionally pins
    * zero-rewrite (bootstrap files byte-identical) and time travel
    * below the merge.
    */
  def cdcIcebergApply(s: SparkSession, dir: String): DataFrame = {
    val tbl = buildCdcIcebergApply(s, dir)
    IcebergCatalog.read(s, tbl)
      .select(col("o_orderkey"), col("o_orderstatus"), col("cents"),
        col("is_deleted"))
      .orderBy(col("o_orderkey"))
  }

  // ---------------------------------------------------------------
  // X64 (r14): streaming CDC apply INTO the Delta target — C14's
  // foreachBatch loop composed with C37's lake merge: three in-order
  // micro-batches each land as a DeltaWrite.merge COMMIT, the
  // recorded change feed carries per-batch update pre/post images,
  // and the streamed table equals the batch-applied state hash-exact.
  // ---------------------------------------------------------------

  /** Stage change batch `i` as `b<i>.parquet` under `staged`, its
    * mtime a minute after batch i-1's (the order the CDC drains read).
    */
  private def stageBatch(b: DataFrame, staged: java.nio.file.Path,
                         i: Int): Unit = {
    val target = staged.resolve(f"b$i%d.parquet")
    LakeWriter.writeParquetFile(b, target)
    java.nio.file.Files.setLastModifiedTime(target,
      java.nio.file.attribute.FileTime.fromMillis(1700000000000L + i * 60000L))
  }

  /** The shared three-batch change script over `orders`: bootstrap
    * `pre` (live pre-2000 rows), then b1 (update every 5th bootstrap
    * key, every 35th a soft delete), b2 (insert the post-2000 keys,
    * every 41st a tombstone the guard drops), b3 (re-update every 7th
    * LIVE key — un-deleting the 35s, a legitimate CDC reinsert). Both
    * the Delta and the Iceberg streaming-apply gates replay exactly
    * this script, so they share the SQL oracle's algebra.
    */
  private def streamBatches(s: SparkSession, dir: String)
      : (DataFrame, Seq[DataFrame]) = {
    val base = t(s, dir, "orders").select(
      col("o_orderkey").cast("long").as("o_orderkey"),
      col("o_orderstatus"),
      (col("o_totalprice").cast("decimal(12,2)") * 100)
        .cast("long").as("cents"),
      col("o_orderdate").cast("timestamp").as("__odate"))
    val cutoff = lit("2000-01-01 00:00:00").cast("timestamp")
    val pre = base.filter(col("__odate") < cutoff)
      .select(col("o_orderkey"), col("o_orderstatus"), col("cents"))
    val post = base.filter(col("__odate") >= cutoff)
      .select(col("o_orderkey"), col("o_orderstatus"), col("cents"))
    val ts = lit("2005-06-01 00:00:00").cast("timestamp")
    val b1 = pre.filter(col("o_orderkey") % 5 === 0).select(
      col("o_orderkey"), lit("A").as("o_orderstatus"),
      (col("cents") + 500L).as("cents"),
      when(col("o_orderkey") % 35 === 0, "Y").otherwise("N")
        .as("is_deleted"), ts.as("__ts"))
    val b2 = post.select(
      col("o_orderkey"), col("o_orderstatus"), col("cents"),
      when(col("o_orderkey") % 41 === 0, "Y").otherwise("N")
        .as("is_deleted"), ts.as("__ts"))
    val liveKeys = pre.select("o_orderkey").unionByName(
      post.filter(col("o_orderkey") % 41 =!= 0).select("o_orderkey"))
    val b3 = base.select(col("o_orderkey"), col("cents"))
      .join(liveKeys, Seq("o_orderkey"), "left_semi")
      .filter(col("o_orderkey") % 7 === 0)
      .select(col("o_orderkey"), lit("B").as("o_orderstatus"),
        (col("cents") + 7000L).as("cents"),
        lit("N").as("is_deleted"), ts.as("__ts"))
    (pre, Seq(b1, b2, b3))
  }

  private def buildStreamDeltaApply(s: SparkSession, dir: String): String =
    Staged(s, dir, "stream_delta_apply") {
      import graft.sources.DeltaWrite
      val root = java.nio.file.Files.createTempDirectory("stream_delta")
      val (pre, Seq(b1, b2, b3)) = streamBatches(s, dir)
      val tbl = s"$root/orders_rep"
      // v0: bootstrap create (CDF on) — the initial full load, live rows
      DeltaWrite.create(s, tbl,
        pre.withColumn("is_deleted", lit("N")),
        configuration = Map("delta.enableChangeDataFeed" -> "true"))
      val staged = root.resolve("staged")
      Seq(b1, b2, b3).zipWithIndex.foreach { case (b, i) =>
        stageBatch(b, staged, i)
      }
      val batches = graft.streaming.Streams.cdcApplyDelta(s, tbl,
        staged.toString, b1.schema, Seq("o_orderkey"), "__ts",
        insertFilter = Some(col("is_deleted") === "N"))
      require(batches >= 3,
        s"per-file admission: want >= 3 data micro-batches, got $batches")
      require(DeltaLog.state(s, tbl).version == 3L,
        "three micro-batches must land exactly three merge commits")
      // THE apply law, checked exact: the streamed table equals the
      // same batches applied through the batch merge path
      import graft.cdc.Cdc
      val boot = pre.withColumn("is_deleted", lit("N"))
      val expected = Seq(b1, b2, b3).foldLeft(boot) { (st0, b) =>
        Cdc.mergeSoftDelete(st0, b.drop("__ts"), Seq("o_orderkey"))
      }
      val got = DeltaLog.read(s, tbl)
        .select(boot.columns.map(col).toSeq: _*)
      require(got.exceptAll(expected).isEmpty &&
        expected.exceptAll(got).isEmpty,
        "streamed Delta state diverged from the batch-applied state")
      tbl
    }

  /** X64 (r14): the streaming lake-target CDC apply end-to-end — the
    * recorded change feed of the engine's create + THREE foreachBatch
    * merge commits (per-batch update pre/post images and guarded
    * inserts) unioned with the final replica state. The fixture proves
    * streamed ≡ batch-applied hash-exact; the oracle replays the same
    * three batches in plain SQL, so a batch applied out of order, a
    * skipped image, or an un-guarded tombstone insert hash-fails.
    */
  def streamDeltaApply(s: SparkSession, dir: String): DataFrame = {
    val tbl = buildStreamDeltaApply(s, dir)
    val payload = Seq("o_orderkey", "o_orderstatus", "cents", "is_deleted")
    val feed = DeltaLog.tableChangesCdf(s, tbl, -1L, 3L)
      .select((payload :+ "_change_type" :+ "_commit_version").map(col): _*)
    val fin = DeltaLog.read(s, tbl)
      .select(payload.map(col): _*)
      .withColumn("_change_type", lit("final"))
      .withColumn("_commit_version", lit(9L))
    feed.unionByName(fin)
      .orderBy(col("_commit_version"), col("_change_type"),
        col("o_orderkey"))
  }

  // ---------------------------------------------------------------
  // X66 (r14): streaming CDC apply INTO the ICEBERG target — the X64
  // loop with each micro-batch landing as one v2 merge-on-read
  // snapshot (sequenced eq-delete + staged rows); successive batches
  // compose through the sequence-scoping rule.
  // ---------------------------------------------------------------

  private def buildStreamIcebergApply(s: SparkSession, dir: String): String =
    Staged(s, dir, "stream_iceberg_apply") {
      val root = java.nio.file.Files.createTempDirectory("stream_ice")
      val (pre, batches) = streamBatches(s, dir)
      val tbl = s"$root/orders_rep"
      val boot = pre.withColumn("is_deleted", lit("N"))
      IcebergCatalog.createTable(tbl,
        IcebergCatalog.icebergFields(boot.schema))
      IcebergCatalog.commitAppend(s, tbl, boot,
        IcebergCatalog.nextSnapshotId(tbl))
      val staged = root.resolve("staged")
      batches.zipWithIndex.foreach { case (b, i) =>
        stageBatch(b, staged, i)
      }
      val applied = graft.streaming.Streams.cdcApplyIceberg(s, tbl,
        staged.toString, batches.head.schema, Seq("o_orderkey"), "__ts",
        insertFilter = Some(col("is_deleted") === "N"))
      require(applied >= 3,
        s"per-file admission: want >= 3 data micro-batches, got $applied")
      val st = IcebergCatalog.state(s, tbl)
      // each update batch landed its own SEQUENCED delete; the
      // sequence-scoping rule is what lets batch 3 re-delete rows
      // batch 1 wrote (b2 is insert-only: no matched keys, no delete)
      val seqs = st.eqDeletes.map(_._3).sorted
      require(seqs.size == 2 && seqs == seqs.distinct,
        s"two update batches must land two distinct-seq deletes: $seqs")
      // THE apply law: the streamed table equals the same batches
      // applied through the batch merge path
      import graft.cdc.Cdc
      val expected = batches.foldLeft(boot) { (st0, b) =>
        Cdc.mergeSoftDelete(st0, b.drop("__ts"), Seq("o_orderkey"))
      }
      val got = IcebergCatalog.read(s, tbl)
        .select(boot.columns.map(col).toSeq: _*)
      require(got.exceptAll(expected).isEmpty &&
        expected.exceptAll(got).isEmpty,
        "streamed Iceberg state diverged from the batch-applied state")
      tbl
    }

  /** X66 (r14): the streaming Iceberg-target CDC apply — the final
    * replica state after the bootstrap append + three foreachBatch
    * merge-on-read snapshots (each a sequenced equality delete + its
    * staged rows, nothing rewritten). The fixture proves streamed ≡
    * batch-applied hash-exact and pins the two distinct-sequence
    * deletes whose scoping lets batch 3 re-delete what batch 1 wrote;
    * the oracle replays the three batches in plain SQL.
    */
  def streamIcebergApply(s: SparkSession, dir: String): DataFrame =
    IcebergCatalog.read(s, buildStreamIcebergApply(s, dir))
      .select(col("o_orderkey"), col("o_orderstatus"), col("cents"),
        col("is_deleted"))
      .orderBy(col("o_orderkey"))

  // ---------------------------------------------------------------
  // F14s (r14): schema evolution + CDF on a COLUMN-MAPPED Delta
  // table — the r13 loud-rejects lifted: an evolving merge mints a
  // fresh physical name + field id from delta.columnMapping
  // .maxColumnId (bumping the counter in the same metaData action),
  // `_change_data` files carry physical names like the data files,
  // and tableChangesCdf maps them back. Mapped tables are the ones
  // that evolve — renames are why mapping exists.
  // ---------------------------------------------------------------

  private def buildDeltaColmapEvolve(s: SparkSession, dir: String): String =
    Staged(s, dir, "delta_colmap_evolve") {
      import graft.sources.DeltaWrite
      import org.apache.spark.sql.types.MetadataBuilder
      val root = java.nio.file.Files.createTempDirectory("delta_cme")
      val tbl = s"$root/supplier_rep"
      def meta(id: Int, phys: String) = new MetadataBuilder()
        .putLong("delta.columnMapping.id", id)
        .putString("delta.columnMapping.physicalName", phys).build()
      val sup = t(s, dir, "supplier").select(
        col("s_suppkey").cast("long").as("k", meta(1, "col-9f1a")),
        col("s_name").as("nm", meta(2, "col-22bd")),
        (col("s_acctbal").cast("decimal(12,2)") * 100)
          .cast("long").as("cents", meta(3, "col-77c0")))
      // v0: a mapped CDF-enabled table — data files on disk carry
      // ONLY physical names
      DeltaWrite.create(s, tbl, sup, configuration = Map(
        "delta.columnMapping.mode" -> "name",
        "delta.columnMapping.maxColumnId" -> "3",
        "delta.enableChangeDataFeed" -> "true"))
      val base = sup.select(col("k"), col("nm"), col("cents"))
      // v1: a NON-evolving merge on the mapped table (mapped CDF
      // alone): every 4th key gets cents+40
      val b1 = base.filter(col("k") % 4 === 0)
        .withColumn("cents", col("cents") + 40L)
      DeltaWrite.merge(s, tbl, b1, Seq("k"))
      // v2: the EVOLVING merge — a new `segment` column rides in:
      // every 6th key updates (cents+600, segment from the key),
      // every 10th key inserts a fresh k+10000 row (segment 'T')
      val b2u = base.filter(col("k") % 6 === 0)
        .withColumn("cents", col("cents") + 600L)
        .withColumn("segment",
          concat(lit("S"), (col("k") % 9).cast("string")))
      val b2i = base.filter(col("k") % 10 === 0)
        .select((col("k") + 10000L).as("k"), col("nm"),
          col("cents"), lit("T").as("segment"))
      DeltaWrite.merge(s, tbl, b2u.unionByName(b2i), Seq("k"))
      val st = graft.sources.DeltaLog.state(s, tbl)
      require(st.version == 2L, s"want 3 commits, at v${st.version}")
      // the evolved field carries a MINTED physical identity and the
      // counter bumped with it
      val seg = st.schema.fields.find(_.name == "segment").getOrElse(
        throw new IllegalStateException("evolved column missing"))
      require(seg.metadata.getString("delta.columnMapping.physicalName")
        == "col-4" && seg.metadata.getLong("delta.columnMapping.id") == 4L,
        "evolved column must mint physical name col-4 / id 4")
      require(st.configuration("delta.columnMapping.maxColumnId") == "4",
        "maxColumnId must bump with the minted id")
      // physical names ON DISK for the new column — no logical leak
      val merged = st.files.filter(_.path.startsWith("merge-2"))
      require(merged.nonEmpty, "merge-2 data files missing")
      val diskCols = s.read.parquet(
        java.nio.file.Paths.get(tbl, merged.head.path).toString)
        .columns.toSet
      require(diskCols.contains("col-4") && !diskCols.contains("segment") &&
        diskCols.contains("col-9f1a"),
        s"merge-2 files must hold physical names only: $diskCols")
      // time travel below the evolution sees the old shape
      require(!graft.sources.DeltaLog.read(s, tbl, Some(1L))
        .columns.contains("segment"),
        "time travel below the evolution must see the old shape")
      tbl
    }

  /** F14s (r14): the evolving CDF merge on a column-mapped table,
    * end-to-end — the recorded change feed across the create + two
    * merges (the second minting a fresh physical column) unioned with
    * the final state, all read back through the logical names.
    * Pre-evolution rows and images surface the new column as NULL (the
    * evolved shape); the fixture pins the minted physical identity,
    * the maxColumnId bump, physical-only names on disk, and time
    * travel below the evolution. A reader that misses the mapping on
    * `_change_data` files, or a writer that reuses a physical name,
    * hash-fails.
    */
  def deltaColmapEvolve(s: SparkSession, dir: String): DataFrame = {
    val tbl = buildDeltaColmapEvolve(s, dir)
    val payload = Seq("k", "nm", "cents", "segment")
    val feed = DeltaLog.tableChangesCdf(s, tbl, -1L, 2L)
      .select((payload :+ "_change_type" :+ "_commit_version").map(col): _*)
    val fin = DeltaLog.read(s, tbl)
      .select(payload.map(col): _*)
      .withColumn("_change_type", lit("final"))
      .withColumn("_commit_version", lit(9L))
    feed.unionByName(fin)
      .orderBy(col("_commit_version"), col("_change_type"), col("k"))
  }

  // ---------------------------------------------------------------
  // F15n (r14): Iceberg schema evolution on WRITE — addColumn bumps
  // current-schema-id in a new metadata version (field ids assigned
  // once across every schema the table ever had), appends before and
  // after mix in one read (old files NULL for the new field), and
  // snapshots keep their own schema-id so time travel below the
  // evolution sees the old shape.
  // ---------------------------------------------------------------

  private def buildIcebergAddColumn(s: SparkSession, dir: String): String =
    Staged(s, dir, "iceberg_add_column") {
      val root = java.nio.file.Files.createTempDirectory("ice_addcol")
      val tbl = root.resolve("nation_rep").toString
      IcebergCatalog.createTable(tbl,
        Seq(("n_nationkey", "long", true), ("cents", "long", false)))
      val nat = t(s, dir, "nation").select(
        col("n_nationkey").cast("long").as("n_nationkey"),
        (col("n_regionkey").cast("long") * 100 +
          length(col("n_name")).cast("long")).as("cents"))
      val preSnap = IcebergCatalog.commitAppend(s, tbl, nat,
        IcebergCatalog.nextSnapshotId(tbl))
      val sid = IcebergCatalog.addColumn(tbl, "tag", "string")
      require(sid == 1, s"evolved schema-id: $sid")
      IcebergCatalog.commitAppend(s, tbl,
        t(s, dir, "nation").select(
          (col("n_nationkey").cast("long") + 1000L).as("n_nationkey"),
          (col("n_regionkey").cast("long") * 100 +
            length(col("n_name")).cast("long")).as("cents"),
          concat(lit("R"), col("n_regionkey").cast("string")).as("tag")),
        IcebergCatalog.nextSnapshotId(tbl))
      // time travel BELOW the evolution reads the committed shape —
      // no tag column at all, not a column of NULLs
      val old = IcebergCatalog.read(s, tbl, Some(preSnap))
      require(old.columns.toSeq == Seq("n_nationkey", "cents"),
        s"pre-evolution snapshot must keep the old shape: " +
          s"${old.columns.mkString(",")}")
      require(old.count() == nat.count(),
        "pre-evolution snapshot must hold the first append")
      // the counter rule: the new field sits at the next free id
      val st = IcebergCatalog.state(s, tbl)
      require(st.schema.fieldNames.toSeq ==
        Seq("n_nationkey", "cents", "tag"),
        s"evolved read schema: ${st.schema.fieldNames.mkString(",")}")
      tbl
    }

  /** F15n (r14): the cross-evolution Iceberg read — pre-evolution
    * rows surface the added column as NULL (field-id-keyed schema
    * pinning over files that simply lack it), post-evolution rows
    * carry their written values. The fixture pins the bumped
    * schema-id and that time travel below the evolution sees the old
    * two-column shape. A reader that applies the old schema to new
    * files (or invents the column on the old snapshot) hash-fails.
    */
  def icebergAddColumn(s: SparkSession, dir: String): DataFrame =
    IcebergCatalog.read(s, buildIcebergAddColumn(s, dir))
      .orderBy(col("n_nationkey"))

  // ---------------------------------------------------------------
  // F15p (r14): Iceberg COMPACTION — rewriteDataFiles folds the
  // merge-on-read deletes in: the live rows land as fresh files in a
  // snapshot whose manifest list REPLACES the old one, bounding the
  // read-side anti-join amplification each commitMerge adds.
  // ---------------------------------------------------------------

  private def buildIcebergCompact(s: SparkSession, dir: String): String =
    Staged(s, dir, "iceberg_compact") {
      val tbl = cdcIcebergApplyFresh(s, dir)
      val before = IcebergCatalog.state(s, tbl)
      require(before.eqDeletes.nonEmpty,
        "fixture must carry the merge's equality delete pre-compaction")
      val preRows = IcebergCatalog.read(s, tbl)
      val snap = IcebergCatalog.rewriteDataFiles(s, tbl,
        IcebergCatalog.nextSnapshotId(tbl))
      val after = IcebergCatalog.state(s, tbl)
      // deletes folded in, only compacted files live, rows identical
      require(after.eqDeletes.isEmpty && after.posDeletes.isEmpty,
        "compaction must fold every delete in")
      require(after.files.forall(_.path.contains(s"compact-$snap")),
        s"live set must be the compacted files: ${after.files.map(_.path)}")
      val now = IcebergCatalog.read(s, tbl)
      require(now.exceptAll(preRows).isEmpty &&
        preRows.exceptAll(now).isEmpty,
        "compaction changed the table's rows")
      // the pre-compaction snapshot still time-travels, deletes applied
      require(IcebergCatalog.read(s, tbl, Some(before.snapshotId))
        .count() == preRows.count(),
        "pre-compaction snapshot must stay travelable")
      tbl
    }

  /** F15p (r14): the compacted replica — [[cdcIcebergApply]]'s final
    * state after `rewriteDataFiles` folded the merge's equality delete
    * into fresh data files (manifest list replaced, zero deletes
    * live). Same oracle as the merge gate: compaction that loses,
    * duplicates, or resurrects a row hash-fails; the fixture pins
    * delete-free state, compacted-only live files, row identity both
    * ways, and pre-compaction time travel.
    */
  def icebergCompact(s: SparkSession, dir: String): DataFrame =
    IcebergCatalog.read(s, buildIcebergCompact(s, dir))
      .select(col("o_orderkey"), col("o_orderstatus"), col("cents"),
        col("is_deleted"))
      .orderBy(col("o_orderkey"))

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "cdc_iceberg_apply" -> (cdcIcebergApply _),
    "stream_delta_apply" -> (streamDeltaApply _),
    "delta_colmap_evolve" -> (deltaColmapEvolve _),
    "iceberg_add_column" -> (icebergAddColumn _),
    "iceberg_compact" -> (icebergCompact _),
    "stream_iceberg_apply" -> (streamIcebergApply _))

  val sql: Map[String, String] = Map(
    // t1 = bootstrap population; upd = the staged update script;
    // ins = the post-2000 inserts minus source tombstones. The final
    // state is t1 overridden by upd plus live ins — soft deletes stay
    // as flagged rows, exactly the replica contract (and exactly
    // cdc_delta_apply's final section).
    "cdc_iceberg_apply" ->
      """WITH t1 AS (
        |  SELECT CAST(o_orderkey AS BIGINT) AS k, o_orderstatus AS st,
        |    CAST(CAST(o_totalprice AS DECIMAL(12,2)) * 100 AS BIGINT) AS cents
        |  FROM orders WHERE o_orderdate < TIMESTAMP '2000-01-01 00:00:00'
        |), upd AS (
        |  SELECT k, 'U' AS st, cents + 100000 AS cents,
        |    CASE WHEN k % 37 = 0 THEN 'Y' ELSE 'N' END AS isd
        |  FROM t1 WHERE k % 3 = 0
        |), ins AS (
        |  SELECT CAST(o_orderkey AS BIGINT) AS k, o_orderstatus AS st,
        |    CAST(CAST(o_totalprice AS DECIMAL(12,2)) * 100 AS BIGINT) AS cents
        |  FROM orders
        |  WHERE o_orderdate >= TIMESTAMP '2000-01-01 00:00:00'
        |    AND o_orderkey % 41 <> 0
        |)
        |SELECT COALESCE(u.k, t.k) AS o_orderkey,
        |  COALESCE(u.st, t.st) AS o_orderstatus,
        |  COALESCE(u.cents, t.cents) AS cents,
        |  COALESCE(u.isd, 'N') AS is_deleted
        |FROM t1 t LEFT JOIN upd u ON u.k = t.k
        |UNION ALL
        |SELECT k, st, cents, 'N' FROM ins
        |ORDER BY o_orderkey""".stripMargin,
    // t1 = bootstrap; b1/insl/b3 = the three streamed batches; s2 = the
    // state after batch 2; s3 = the final state. The feed replays each
    // commit's recorded images: v0 derived inserts, v1 update images,
    // v2 guarded inserts, v3 update images over s2.
    "stream_delta_apply" ->
      """WITH base AS (
        |  SELECT CAST(o_orderkey AS BIGINT) AS k, o_orderstatus AS st,
        |    CAST(CAST(o_totalprice AS DECIMAL(12,2)) * 100 AS BIGINT) AS cents,
        |    o_orderdate < TIMESTAMP '2000-01-01 00:00:00' AS pre
        |  FROM orders
        |), t1 AS (
        |  SELECT k, st, cents FROM base WHERE pre
        |), b1 AS (
        |  SELECT k, 'A' AS st, cents + 500 AS cents,
        |    CASE WHEN k % 35 = 0 THEN 'Y' ELSE 'N' END AS isd
        |  FROM t1 WHERE k % 5 = 0
        |), insl AS (
        |  SELECT k, st, cents FROM base WHERE NOT pre AND k % 41 <> 0
        |), s2 AS (
        |  SELECT COALESCE(b.k, t.k) AS k, COALESCE(b.st, t.st) AS st,
        |    COALESCE(b.cents, t.cents) AS cents, COALESCE(b.isd, 'N') AS isd
        |  FROM t1 t LEFT JOIN b1 b ON b.k = t.k
        |  UNION ALL
        |  SELECT k, st, cents, 'N' FROM insl
        |), b3 AS (
        |  SELECT s.k, 'B' AS st, b.cents + 7000 AS cents, 'N' AS isd
        |  FROM s2 s JOIN base b ON b.k = s.k
        |  WHERE s.k % 7 = 0
        |), s3 AS (
        |  SELECT COALESCE(b.k, s.k) AS k, COALESCE(b.st, s.st) AS st,
        |    COALESCE(b.cents, s.cents) AS cents,
        |    COALESCE(b.isd, s.isd) AS isd
        |  FROM s2 s LEFT JOIN b3 b ON b.k = s.k
        |)
        |SELECT k AS o_orderkey, st AS o_orderstatus, cents,
        |  'N' AS is_deleted, 'insert' AS _change_type,
        |  CAST(0 AS BIGINT) AS _commit_version FROM t1
        |UNION ALL
        |SELECT k, st, cents, 'N', 'update_preimage', 1 FROM t1 WHERE k % 5 = 0
        |UNION ALL
        |SELECT k, st, cents, isd, 'update_postimage', 1 FROM b1
        |UNION ALL
        |SELECT k, st, cents, 'N', 'insert', 2 FROM insl
        |UNION ALL
        |SELECT k, st, cents, isd, 'update_preimage', 3 FROM s2 WHERE k % 7 = 0
        |UNION ALL
        |SELECT k, st, cents, isd, 'update_postimage', 3 FROM b3
        |UNION ALL
        |SELECT k, st, cents, isd, 'final', 9 FROM s3
        |ORDER BY _commit_version, _change_type, o_orderkey""".stripMargin,
    // t0 = the mapped table's base load; b1 = the non-evolving merge;
    // b2u/b2i = the EVOLVING merge's updates/inserts. Pre-evolution
    // rows and images carry NULL for the minted column — the evolved
    // shape the recorded feed reads back under.
    "delta_colmap_evolve" ->
      """WITH t0 AS (
        |  SELECT CAST(s_suppkey AS BIGINT) AS k, s_name AS nm,
        |    CAST(CAST(s_acctbal AS DECIMAL(12,2)) * 100 AS BIGINT) AS cents
        |  FROM supplier
        |), b1 AS (
        |  SELECT k, nm, cents + 40 AS cents FROM t0 WHERE k % 4 = 0
        |), s1 AS (
        |  SELECT t.k, t.nm, COALESCE(b.cents, t.cents) AS cents
        |  FROM t0 t LEFT JOIN b1 b ON b.k = t.k
        |), b2u AS (
        |  SELECT k, nm, cents + 600 AS cents,
        |    'S' || CAST(k % 9 AS VARCHAR) AS seg
        |  FROM t0 WHERE k % 6 = 0
        |), b2i AS (
        |  SELECT k + 10000 AS k, nm, cents, 'T' AS seg
        |  FROM t0 WHERE k % 10 = 0
        |), fin AS (
        |  SELECT s.k, s.nm, COALESCE(u.cents, s.cents) AS cents, u.seg
        |  FROM s1 s LEFT JOIN b2u u ON u.k = s.k
        |  UNION ALL
        |  SELECT k, nm, cents, seg FROM b2i
        |)
        |SELECT k, nm, cents, CAST(NULL AS VARCHAR) AS segment,
        |  'insert' AS _change_type, CAST(0 AS BIGINT) AS _commit_version
        |FROM t0
        |UNION ALL
        |SELECT k, nm, cents, NULL, 'update_preimage', 1 FROM t0 WHERE k % 4 = 0
        |UNION ALL
        |SELECT k, nm, cents, NULL, 'update_postimage', 1 FROM b1
        |UNION ALL
        |SELECT k, nm, cents, NULL, 'update_preimage', 2 FROM s1 WHERE k % 6 = 0
        |UNION ALL
        |SELECT k, nm, cents, seg, 'update_postimage', 2 FROM b2u
        |UNION ALL
        |SELECT k, nm, cents, seg, 'insert', 2 FROM b2i
        |UNION ALL
        |SELECT k, nm, cents, seg, 'final', 9 FROM fin
        |ORDER BY _commit_version, _change_type, k""".stripMargin,
    // pre-evolution append (tag NULL) + post-evolution append (+1000
    // keys, tag from the region)
    "iceberg_add_column" ->
      """SELECT CAST(n_nationkey AS BIGINT) AS n_nationkey,
        |  CAST(n_regionkey * 100 + length(n_name) AS BIGINT) AS cents,
        |  CAST(NULL AS VARCHAR) AS tag
        |FROM nation
        |UNION ALL
        |SELECT CAST(n_nationkey + 1000 AS BIGINT),
        |  CAST(n_regionkey * 100 + length(n_name) AS BIGINT),
        |  'R' || CAST(n_regionkey AS VARCHAR)
        |FROM nation
        |ORDER BY n_nationkey""".stripMargin,
    // compaction preserves the merge gate's final state exactly
    "iceberg_compact" ->
      """WITH t1 AS (
        |  SELECT CAST(o_orderkey AS BIGINT) AS k, o_orderstatus AS st,
        |    CAST(CAST(o_totalprice AS DECIMAL(12,2)) * 100 AS BIGINT) AS cents
        |  FROM orders WHERE o_orderdate < TIMESTAMP '2000-01-01 00:00:00'
        |), upd AS (
        |  SELECT k, 'U' AS st, cents + 100000 AS cents,
        |    CASE WHEN k % 37 = 0 THEN 'Y' ELSE 'N' END AS isd
        |  FROM t1 WHERE k % 3 = 0
        |), ins AS (
        |  SELECT CAST(o_orderkey AS BIGINT) AS k, o_orderstatus AS st,
        |    CAST(CAST(o_totalprice AS DECIMAL(12,2)) * 100 AS BIGINT) AS cents
        |  FROM orders
        |  WHERE o_orderdate >= TIMESTAMP '2000-01-01 00:00:00'
        |    AND o_orderkey % 41 <> 0
        |)
        |SELECT COALESCE(u.k, t.k) AS o_orderkey,
        |  COALESCE(u.st, t.st) AS o_orderstatus,
        |  COALESCE(u.cents, t.cents) AS cents,
        |  COALESCE(u.isd, 'N') AS is_deleted
        |FROM t1 t LEFT JOIN upd u ON u.k = t.k
        |UNION ALL
        |SELECT k, st, cents, 'N' FROM ins
        |ORDER BY o_orderkey""".stripMargin,
    // the stream_delta_apply script's FINAL state — the Iceberg
    // streaming apply lands the same three batches merge-on-read
    "stream_iceberg_apply" ->
      """WITH base AS (
        |  SELECT CAST(o_orderkey AS BIGINT) AS k, o_orderstatus AS st,
        |    CAST(CAST(o_totalprice AS DECIMAL(12,2)) * 100 AS BIGINT) AS cents,
        |    o_orderdate < TIMESTAMP '2000-01-01 00:00:00' AS pre
        |  FROM orders
        |), t1 AS (
        |  SELECT k, st, cents FROM base WHERE pre
        |), b1 AS (
        |  SELECT k, 'A' AS st, cents + 500 AS cents,
        |    CASE WHEN k % 35 = 0 THEN 'Y' ELSE 'N' END AS isd
        |  FROM t1 WHERE k % 5 = 0
        |), insl AS (
        |  SELECT k, st, cents FROM base WHERE NOT pre AND k % 41 <> 0
        |), s2 AS (
        |  SELECT COALESCE(b.k, t.k) AS k, COALESCE(b.st, t.st) AS st,
        |    COALESCE(b.cents, t.cents) AS cents, COALESCE(b.isd, 'N') AS isd
        |  FROM t1 t LEFT JOIN b1 b ON b.k = t.k
        |  UNION ALL
        |  SELECT k, st, cents, 'N' FROM insl
        |), b3 AS (
        |  SELECT s.k, 'B' AS st, b.cents + 7000 AS cents, 'N' AS isd
        |  FROM s2 s JOIN base b ON b.k = s.k
        |  WHERE s.k % 7 = 0
        |)
        |SELECT COALESCE(b.k, s.k) AS o_orderkey,
        |  COALESCE(b.st, s.st) AS o_orderstatus,
        |  COALESCE(b.cents, s.cents) AS cents,
        |  COALESCE(b.isd, s.isd) AS is_deleted
        |FROM s2 s LEFT JOIN b3 b ON b.k = s.k
        |ORDER BY o_orderkey""".stripMargin)
}
