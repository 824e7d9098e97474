package graft.sources

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}

import DeltaActions.{Action, Add, Cdc, Protocol, Remove}

/** F14o (r13): the Delta WRITE side beyond maintenance — CREATE,
  * APPEND, and the key-based MERGE/upsert that points the reference's
  * own replication loop (scripts/03_cdc_etl.py:203-379: per-table
  * delta → MERGE → watermark) at the lake format the engine already
  * reads, compacts, restores, and vacuums. This is also the only
  * writer that produces UPDATE pre/post images in the RECORDED change
  * feed (`_change_data` + cdc actions) — the one CDF shape no snapshot
  * diff can reconstruct ([[DeltaLog.tableChangesCdf]]).
  *
  * Merge semantics are [[graft.cdc.Cdc.mergeSoftDelete]]'s, re-expressed
  * as a transaction-log commit:
  *  - matched keys take ALL staged column values (a soft delete flips
  *    `is_deleted` in place — an UPDATE, recorded as pre/post images);
  *  - unmatched staged rows insert only when they pass `insertFilter`
  *    (the reference MERGE's `WHERE s.IS_DELETED = 'N'` guard);
  *  - unmatched target rows pass through untouched — files holding no
  *    matched key are NEVER rewritten.
  *
  * Scale shape: one distributed semi-join finds the TOUCHED files, and
  * the commit itself is metadata. How a touched file changes depends
  * on the table's own configuration:
  *  - copy-on-write (the default): the driver holds only the touched
  *    paths (bounded by file count), and those files rewrite (survivors
  *    anti-join + updated rows + inserts, one distributed write), so a
  *    merge costs O(touched files);
  *  - merge-on-read (`delta.enableDeletionVectors=true`, how
  *    [[graft.cdc.Pipeline.replicateDelta]] creates replicas): the
  *    driver holds the matched rows' (file, row index) pairs (bounded
  *    by the batch), only updated rows and inserts are written, and
  *    each touched file is re-added with a deletion vector over its
  *    matched rows ([[DeltaLog.markDeleted]], one `.bin` for all of
  *    the commit's DVs), so a merge costs O(changed rows). Readers drop the marked rows, and
  *    [[DeltaLog.compact]] folds them away.
  * Untouched files stay byte-identical either way.
  */
object DeltaWrite {

  /** CREATE a new Delta table at `path` from `df` — v0: data files,
    * the metaData action (schema, partition columns, configuration),
    * and a protocol action when the configuration enables
    * feature-gated behavior (deletion vectors ⇒ reader v3 with the
    * `deletionVectors` reader feature; deletion vectors or
    * inCommitTimestamps ⇒ writer v7 listing every active writer
    * feature).
    * Partition column types are bounded to string/int/long (the
    * stated subset: their string form round-trips the
    * `partitionValues` map losslessly). Returns version 0.
    */
  def create(spark: SparkSession, path: String, df: DataFrame,
             partitionColumns: Seq[String] = Seq.empty,
             configuration: Map[String, String] = Map.empty,
             nowMs: Long = -1L): Long = {
    require(!Files.exists(Paths.get(path, "_delta_log")),
      s"delta table already exists: $path")
    val schema = df.schema
    partitionColumns.foreach { c =>
      val f = schema.fields.find(_.name == c).getOrElse(
        throw new IllegalArgumentException(s"partition column $c not in schema"))
      require(Seq("string", "integer", "long").contains(f.dataType.typeName),
        s"partition column $c has type ${f.dataType.typeName}: the " +
          "stated subset partitions on string/int/long only")
    }
    Files.createDirectories(Paths.get(path, "_delta_log"))
    val st = DeltaLog.State(0L, schema, partitionColumns,
      Seq.empty, configuration, metaDataId = s"graft-${path.split('/').last}")
    val written = writeDataFiles(spark, path, st, df, "part-0")
    // a feature-gated table (deletion vectors, in-commit timestamps)
    // declares writer v7 listing every active writer feature, and DVs
    // also reader v3; CDF alone keeps the legacy default protocol
    def on(key: String) = configuration.getOrElse(key, "false") == "true"
    val dvs = on("delta.enableDeletionVectors")
    val writerFeatures = Seq(
      "deletionVectors" -> "delta.enableDeletionVectors",
      "changeDataFeed" -> "delta.enableChangeDataFeed",
      "inCommitTimestamp" -> "delta.enableInCommitTimestamps")
      .collect { case (f, k) if on(k) => f }
    val proto =
      if (!dvs && !on("delta.enableInCommitTimestamps")) Seq.empty
      else Seq(Protocol(if (dvs) 3 else 1, 7,
        if (dvs) Seq("deletionVectors") else Seq.empty, writerFeatures))
    val adds = addActions(spark, path, st, written, dataChange = true)
    DeltaLog.writeCommit(path, st, 0L, (proto ++ Seq(st.metaData) ++ adds).map(_.json), nowMs)
    0L
  }

  /** APPEND `df` as a new commit of pure adds (`dataChange: true`) —
    * the CDF spec's derived-insert shape, no cdc action needed.
    * Returns the new version.
    */
  def append(spark: SparkSession, table: String, df: DataFrame,
             nowMs: Long = -1L): Long = {
    val st = DeltaLog.state(spark, table)
    DeltaLog.writerGuard(st, table, "append")
    require(df.schema.fieldNames.toSet == st.schema.fieldNames.toSet,
      s"append schema mismatch: table=${st.schema.fieldNames.mkString(",")} " +
        s"df=${df.schema.fieldNames.mkString(",")}")
    val next = st.version + 1
    val written = writeDataFiles(spark, table, st,
      df.select(st.schema.fieldNames.map(col).toSeq: _*), s"part-$next")
    require(written.nonEmpty, "empty append: refuse a no-op commit")
    DeltaLog.writeCommit(table, st, next,
      addActions(spark, table, st, written, dataChange = true).map(_.json), nowMs)
    next
  }

  /** Key-based MERGE of `staged` into the table (soft-delete CDC
    * semantics above, split by [[graft.cdc.Cdc.splitMerge]]). `staged`
    * must be unique per `pk` (use [[graft.cdc.Cdc.latestPerKey]] first).
    * When `delta.enableChangeDataFeed` is set, the commit
    * records its cdc actions: `update_preimage`/`update_postimage`
    * for every matched key (the staged values count as the update,
    * exactly the real MERGE contract) and `insert` for the new keys;
    * the touched files' add/remove actions (rewrites, or re-adds with a
    * deletion vector on a DV table) stay `dataChange: true` and the
    * recorded feed overrides their derivation. Returns the
    * new version — or the CURRENT version when the staged batch
    * matches nothing and inserts nothing (an all-tombstones-for-
    * absent-keys delta is a legitimate CDC outcome, not an error).
    */
  def merge(spark: SparkSession, table: String, staged: DataFrame,
            pk: Seq[String], insertFilter: Option[Column] = None,
            nowMs: Long = -1L): Long = {
    val st0 = DeltaLog.state(spark, table)
    DeltaLog.writerGuard(st0, table, "merge")
    // SCHEMA EVOLUTION on merge (r13): a column the source ADDED joins
    // the table schema in this commit's metaData action — existing
    // data files simply lack it, and the schema-pinned scans read the
    // missing column as NULL for pre-evolution rows (parquet's own
    // rule); a column the source DROPPED is retained (replicas never
    // lose data silently) and staged rows carry NULL for it. Out of
    // the stated subset: evolving a PARTITION or PK column, and type
    // changes (same name, new type) — loud.
    val newFields0 = staged.schema.fields
      .filterNot(f => st0.schema.fieldNames.contains(f.name))
    staged.schema.fields.foreach { f =>
      st0.schema.fields.find(_.name == f.name).foreach { tf =>
        require(tf.dataType == f.dataType,
          s"merge column ${f.name} changes type ${tf.dataType.simpleString}" +
            s" -> ${f.dataType.simpleString}: type evolution is not in " +
            s"the stated subset: $table")
      }
    }
    // evolution on a COLUMN-MAPPED table (r14): each added field mints
    // a fresh physical name + field id from delta.columnMapping
    // .maxColumnId, and the metaData action bumps the counter — the
    // protocol's rule for why the counter exists (physical names are
    // assigned once, never reused, so a later rename of the new column
    // cannot collide with any file ever written)
    val (newFields, evolvedConf) =
      if (newFields0.isEmpty || st0.columnMappingMode != "name")
        (newFields0, st0.configuration)
      else {
        val maxId = st0.configuration
          .get("delta.columnMapping.maxColumnId").map(_.toLong)
          .getOrElse(throw new IllegalArgumentException(
            s"column-mapped table without delta.columnMapping.maxColumnId" +
              s" — cannot mint physical names for evolution: $table"))
        val stamped = newFields0.zipWithIndex.map { case (f, i) =>
          val id = maxId + i + 1
          f.copy(metadata = new org.apache.spark.sql.types.MetadataBuilder()
            .withMetadata(f.metadata)
            .putLong("delta.columnMapping.id", id)
            .putString("delta.columnMapping.physicalName", s"col-$id")
            .build())
        }
        (stamped, st0.configuration +
          ("delta.columnMapping.maxColumnId" ->
            (maxId + newFields0.length).toString))
      }
    val st =
      if (newFields.isEmpty) st0
      else st0.copy(schema = StructType(st0.schema.fields ++ newFields),
        configuration = evolvedConf)
    val cols = st.schema.fieldNames.toSeq
    require(pk.forall(k => newFields.forall(_.name != k)),
      s"merge pk ${pk.mkString(",")} cannot be a newly added column")
    // staged rows align to the (possibly evolved) table schema:
    // retained-but-dropped columns fill NULL
    val stagedAligned = st.schema.fields
      .filterNot(f => staged.columns.contains(f.name))
      .foldLeft(staged) { (d, f) =>
        d.withColumn(f.name, lit(null).cast(f.dataType))
      }
    require(stagedAligned.columns.toSet == cols.toSet,
      s"merge schema mismatch: table=${cols.mkString(",")} " +
        s"staged=${staged.columns.mkString(",")}")
    // CDF on a column-mapped table (r14): the `_change_data` files
    // carry PHYSICAL names like the data files (writeDataFiles maps
    // them; `_change_type` passes through unmapped) and
    // [[DeltaLog.tableChangesCdf]] maps them back on read
    val cdfEnabled = st.configuration.getOrElse(
      "delta.enableChangeDataFeed", "false") == "true"
    val snap = DeltaLog.readInternal(spark, table, st,
      _ => true, Map.empty, tagRel = true) // cols + __graft_rel, __graft_pos
    val split = graft.cdc.Cdc.splitMerge(snap.drop("__graft_rel", "__graft_pos"),
      stagedAligned, pk, insertFilter, table)
    // merge-on-read when the table's own configuration enables DVs:
    // matched rows are MARKED in their files instead of rewritten
    val dvMode = st.configuration.getOrElse(
      "delta.enableDeletionVectors", "false") == "true"
    // the TOUCHED files: every file holding at least one matched key —
    // one distributed semi-join; the driver collects the file paths
    // (copy-on-write, bounded by file count) or the matched rows'
    // (file, row index) pairs (DV mode, bounded by the batch)
    val hits = snap.join(split.keys, pk, "left_semi")
      .select((if (dvMode) Seq("__graft_rel", "__graft_pos")
        else Seq("__graft_rel")).map(col): _*)
      .distinct().collect()
    val affected = hits.map(_.getString(0)).toSet
    // the evolved schema rides the same commit as its first data —
    // readers at this version and later see the new column (NULL for
    // pre-evolution rows), time travel below it sees the old shape; the
    // table id stays the one the log already carries
    val metaActions: Seq[Action] =
      if (newFields.isEmpty) Seq.empty else Seq(st.metaData)
    val next = st.version + 1
    if (affected.isEmpty && split.inserts.isEmpty) {
      // nothing matched and nothing inserts — but a batch that CARRIES a
      // schema evolution must not silently defer it (the caller's
      // watermark advances either way): commit the metaData-only change
      if (newFields.isEmpty) return st.version
      DeltaLog.writeCommit(table, st, next, metaActions.map(_.json), nowMs)
      return next
    }
    // copy-on-write rewrites each touched file's surviving rows next to
    // the postimages and inserts; DV mode writes only the new rows and
    // marks the matched ones through the one DV write step
    val (kept, fileActions) =
      if (dvMode) {
        val byPath = st.files.map(f => f.path -> f).toMap
        val marks = hits.groupBy(_.getString(0)).toSeq.sortBy(_._1)
          .map { case (rel, rows) => byPath(rel) -> rows.map(_.getLong(1)).toSeq }
        (Seq.empty[DataFrame], DeltaLog.markDeleted(table, marks, dataChange = true)._1)
      } else (Seq(snap
        .filter(col("__graft_rel").isInCollection(
          if (affected.isEmpty) Set("") else affected))
        .join(split.keys, pk, "left_anti")
        .drop("__graft_rel", "__graft_pos")),
        affected.toSeq.sorted.map(Remove(_, dataChange = true)))
    val written = writeDataFiles(spark, table, st,
      (kept :+ split.postimages :+ split.inserts).reduce(_ unionByName _)
        .select(cols.map(col): _*),
      s"merge-$next")
    val adds = addActions(spark, table, st, written, dataChange = true)
    val cdcActions: Seq[Action] =
      if (!cdfEnabled) Seq.empty
      else {
        val changes = split.preimages
          .withColumn("_change_type", lit("update_preimage"))
          .unionByName(split.postimages
            .withColumn("_change_type", lit("update_postimage")))
          .unionByName(split.inserts.withColumn("_change_type", lit("insert")))
        val dataCols = cols.filterNot(st.partitionColumns.contains)
        val cdcFiles = writeDataFiles(spark, table,
          st.copy(schema = StructType(st.schema.fields :+
            StructField("_change_type", StringType))),
          changes.select((dataCols :+ "_change_type").map(col) ++
            st.partitionColumns.map(col): _*),
          s"cdc-$next", subdir = "_change_data")
        cdcFiles.map { case (rel, pv) => Cdc(rel, pv, None, dataChange = false) }
      }
    DeltaLog.writeCommit(table, st, next,
      (metaActions ++ fileActions ++ adds ++ cdcActions).map(_.json), nowMs)
    next
  }

  /** Write `rows` as data parquet files of the table: one distributed
    * `partitionBy` write (partition values parsed back from the `k=v`
    * directory layout, Hive-unescaped), files moved under the table
    * root (partitioned files under their `k=v/` directories — the
    * layout the fixtures use), physical names applied under
    * columnMapping=name at every nesting level. Returns
    * (relative path, partitionValues) per file — partitionValues keys
    * PHYSICAL under mapping, the spec's storage rule.
    */
  private def writeDataFiles(spark: SparkSession, table: String,
                             st: DeltaLog.State, rows: DataFrame,
                             prefix: String,
                             subdir: String = ""): Seq[(String, Map[String, String])] = {
    val mapped = st.columnMappingMode == "name"
    val fieldByName = st.schema.fields.map(f => f.name -> f).toMap
    val physByLogical: Map[String, String] =
      st.schema.fields.map(f => f.name -> DeltaLog.physicalName(f)).toMap
    val ordered = rows.select(rows.columns.map { c =>
      fieldByName.get(c) match {
        case Some(f) if mapped =>
          col(c).cast(DeltaLog.physicalType(f.dataType))
            .as(DeltaLog.physicalName(f))
        case _ => col(c) // extra columns (_change_type) pass through
      }
    }.toSeq: _*)
    val partCols = st.partitionColumns.map(c =>
      if (mapped) physByLogical(c) else c)
    val destDirBase = if (subdir.isEmpty) "" else subdir + "/"
    def relOf(pv: Map[String, String], i: Int): String =
      destDirBase + pv.toSeq.sortBy(_._1).map { case (k, v) => s"$k=$v/" }.mkString +
        s"$prefix-$i.parquet"
    LakeWriter.writeParquet(ordered, partCols)((pv, i) => Paths.get(table, relOf(pv, i)))
      .zipWithIndex.map { case ((_, pv), i) => (relOf(pv, i), pv) }
  }

  /** The `add` actions for freshly written files, carrying
    * numRecords + long-column min/max stats (one grouped scan over the
    * NEW files only — file-scoped statistics, never a table scan) so
    * [[DeltaLog.filesInRange]] skipping works on engine-written files.
    */
  private def addActions(spark: SparkSession, table: String,
                         st: DeltaLog.State,
                         written: Seq[(String, Map[String, String])],
                         dataChange: Boolean): Seq[Add] = {
    if (written.isEmpty) return Seq.empty
    val mapped = st.columnMappingMode == "name"
    val dataFields = st.schema.fields
      .filterNot(f => st.partitionColumns.contains(f.name))
    val longCols = dataFields.filter(_.dataType == LongType)
      .map(f => if (mapped) DeltaLog.physicalName(f) else f.name).toSeq
    val stats = LakeWriter.fileStats(spark,
      written.map(w => Paths.get(table, w._1).toString), longCols)
    written.map { case (rel, pv) =>
      Add(rel, pv, dataChange, Some(DeltaLog.statsJson(stats.get(rel.split("/").last),
        longCols, withBounds = longCols.nonEmpty)))
    }
  }
}
