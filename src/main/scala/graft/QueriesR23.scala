package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.sources.{DeltaLog, LakeWriter, Tables}

/** Round-13 surface growth, per the r12 verdict's ranked gaps: the
  * lake-target CDC apply (C36→F14o composite — the reference's own
  * delta→merge→watermark loop pointed at a Delta table, producing
  * engine-recorded UPDATE pre/post images in the change feed), plus
  * the Iceberg next-tier (partition-spec evolution on read, write-to-
  * branch) and the streaming LSH index maintenance composite. House
  * contract as everywhere: deterministic fixtures, every gate a
  * bit-exact hash compare against DuckDB on the same parquet tables.
  */
object QueriesR23 {
  private def t(s: SparkSession, dir: String, name: String): DataFrame =
    Tables.load(s, dir, name)

  // ---------------------------------------------------------------
  // F14o (r13): CDC replication INTO a Delta table — two
  // Pipeline.replicateDelta runs (bootstrap create + incremental
  // MERGE) against a deterministic orders-derived change script; the
  // gate reads BOTH the recorded change feed (v0's derived inserts,
  // v1's engine-recorded update pre/post images + inserts) and the
  // final replica state from the table the engine wrote.
  // ---------------------------------------------------------------

  private def buildCdcDeltaApply(s: SparkSession, dir: String): String =
    Staged(s, dir, "cdc_delta_apply") {
      import graft.cdc.Pipeline
      val root = java.nio.file.Files.createTempDirectory("cdc_delta_apply")
      val orders = t(s, dir, "orders").select(
        col("o_orderkey").cast("long").as("o_orderkey"),
        col("o_orderstatus"),
        (col("o_totalprice").cast("decimal(12,2)") * 100)
          .cast("long").as("cents"),
        col("o_orderdate").cast("timestamp").as("__odate"))
      val cutoff = lit("2000-01-01 00:00:00").cast("timestamp")
      // run 1 (bootstrap): the pre-2000 population, all live
      val src1 = orders.filter(col("__odate") < cutoff).select(
        col("o_orderkey"), col("o_orderstatus"), col("cents"),
        col("__odate").as("created_at"),
        lit(null).cast("timestamp").as("updated_at"),
        lit("N").as("is_deleted"))
      val spec = Seq(Pipeline.TableSpec("orders_rep", Seq("o_orderkey")))
      val (r1, wm1) = Pipeline.replicateDelta(s, spec, Nil,
        _ => src1, root.toString, Map.empty)
      require(r1.processed == 1 && r1.failed == 0,
        s"bootstrap run failed: ${r1.results}")
      // run 2 (incremental): every 3rd key updated (+1000, every
      // 37th a soft delete), post-2000 keys inserted (every 41st a
      // source-side tombstone the insert guard must drop); the
      // untouched run-1 rows ride along and the watermark must
      // filter them out
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
      val (r2, _) = Pipeline.replicateDelta(s, spec, Nil,
        _ => src2, root.toString, wm1)
      require(r2.processed == 1 && r2.failed == 0,
        s"incremental run failed: ${r2.results}")
      val tbl = s"$root/orders_rep"
      require(DeltaLog.state(s, tbl).version == 1L,
        "two runs must land exactly two commits (create + merge)")
      tbl
    }

  /** F14o (r13): the lake-target CDC apply end-to-end — the recorded
    * change feed of the engine's own two commits (v0 derived inserts,
    * v1 recorded update pre/post images + filtered inserts) UNIONED
    * with the final replica state (`_change_type = 'final'`). The
    * oracle replays the same change script in plain SQL; a merge that
    * drops a tombstone wrong, inserts a dead key, skips an image, or
    * rewrites an untouched row hash-fails.
    */
  def cdcDeltaApply(s: SparkSession, dir: String): DataFrame = {
    val tbl = buildCdcDeltaApply(s, dir)
    val payload = Seq("o_orderkey", "o_orderstatus", "cents", "is_deleted")
    val feed = DeltaLog.tableChangesCdf(s, tbl, -1L, 1L)
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
  // F15l (r13): Iceberg PARTITION-SPEC EVOLUTION on read — a table
  // that appended under identity(rk), evolved to bucket[4] on the
  // key, and appended again; each file reads (and prunes) under the
  // spec it was WRITTEN with. The r12 reader loud-rejected any table
  // whose spec-id moved — the most common long-lived-table gap.
  // ---------------------------------------------------------------

  private def buildIcebergSpecEvo(s: SparkSession, dir: String): String =
    Staged(s, dir, "iceberg_spec_evo") {
      import graft.sources.IcebergCatalog._
      val t0 = java.nio.file.Files.createTempDirectory("ice_evo")
      val mdir = t0.resolve("metadata")
      java.nio.file.Files.createDirectories(mdir)
      val ml1 = mdir.resolve("snap-10.avro")
      writeManifestList(ml1, Seq.empty)
      writeMetadataJsonSpec(mdir.resolve("v1.metadata.json"),
        Seq(("n_nationkey", "long", true), ("rk", "string", false),
          ("cents", "long", false)),
        Seq(("rk", "identity", "rk")), Seq(10L -> ml1))
      val nat = t(s, dir, "nation").select(
        col("n_nationkey").cast("long").as("n_nationkey"),
        col("n_regionkey").cast("string").as("rk"),
        (col("n_regionkey").cast("long") * 100 +
          length(col("n_name")).cast("long")).as("cents"))
      // snapshot 20 under spec 0: rk is an IDENTITY partition —
      // data files omit it, manifests carry it
      require(commitAppend(s, t0.toString, nat, snapshotId = 20L) == 20L)
      // evolve: bucket[4] on the key becomes the default spec —
      // nothing rewrites, spec-0 files keep meaning identity(rk)
      val newId = graft.sources.IcebergCatalog.evolveSpec(t0.toString,
        Seq(("nk_bucket", "bucket[4]", "n_nationkey")))
      require(newId == 1, s"evolved spec-id: $newId")
      // snapshot 30 under spec 1: rk rides IN the data files now
      require(commitAppend(s, t0.toString,
        nat.select((col("n_nationkey") + 1000L).as("n_nationkey"),
          col("rk"), col("cents")),
        snapshotId = 30L) == 30L)
      val st = graft.sources.IcebergCatalog.state(s, t0.toString)
      require(st.files.exists(_.specId == 0) &&
        st.files.exists(_.specId == 1),
        s"both specs must hold live files: ${st.files.map(_.specId)}")
      // new files prune by the NEW spec: a point range on the key
      // keeps only the matching bucket's spec-1 files
      val spec1 = st.files.filter(_.specId == 1)
      val keptB = graft.sources.IcebergCatalog.filesByTransformRange(
        spec1, st.specsById(1), Map("n_nationkey" -> ((1005L, 1005L))))
      require(keptB.nonEmpty && keptB.size < spec1.size,
        s"bucket prune on spec-1 files: ${keptB.size} of ${spec1.size}")
      // and the pruned read still answers exactly
      val one = graft.sources.IcebergCatalog.read(s, t0.toString,
        ranges = Map("n_nationkey" -> ((1005L, 1005L))))
      require(one.count() ==
        nat.filter(col("n_nationkey") === 5L).count(),
        "point read across the evolution must hit exactly the row")
      // an unknown transform in a HISTORICAL spec is still loud
      val bad = java.nio.file.Files.createTempDirectory("ice_evo_bad")
      val bdir = bad.resolve("metadata")
      java.nio.file.Files.createDirectories(bdir)
      val bml = bdir.resolve("snap-10.avro")
      writeManifestList(bml, Seq.empty)
      java.nio.file.Files.writeString(bdir.resolve("v1.metadata.json"),
        s"""{
           |  "format-version": 2, "current-snapshot-id": 10,
           |  "current-schema-id": 0, "default-spec-id": 1,
           |  "schemas": [{"schema-id": 0, "type": "struct", "fields": [
           |    {"id": 1, "name": "k", "required": true, "type": "long"}]}],
           |  "partition-specs": [
           |    {"spec-id": 0, "fields": [{"name": "p", "transform": "weird[9]", "source-id": 1, "field-id": 1000}]},
           |    {"spec-id": 1, "fields": []}],
           |  "snapshots": [{"snapshot-id": 10, "manifest-list": "$bml"}]
           |}""".stripMargin)
      val loud =
        try { graft.sources.IcebergCatalog.state(s, bad.toString); false }
        catch { case _: IllegalArgumentException => true }
      require(loud, "unknown transform in a historical spec must reject")
      t0.toString
    }

  /** F15l (r13): the spec-evolved table read with a partition filter
    * the OLD spec understands — spec-0 files prune to rk=3 by their
    * identity values (reconstructed into the rows), spec-1 files have
    * no rk partition key and ALL survive (rk comes from their data
    * files). A reader that applies the default spec to old files, or
    * the old spec to new ones, loses or invents rows and hash-fails.
    */
  def icebergSpecEvolution(s: SparkSession, dir: String): DataFrame =
    graft.sources.IcebergCatalog.read(s, buildIcebergSpecEvo(s, dir),
        partitionFilter = m => m.get("rk").forall(v =>
          String.valueOf(v) == "3"))
      .orderBy(col("n_nationkey"), col("rk"))

  // ---------------------------------------------------------------
  // F15m (r13): Iceberg WRITE-TO-BRANCH + fast-forward — stage an
  // append on branch `audit` (main reads pinned), audit it, then
  // fast-forward main; tags refuse appends, expiration rescues the
  // branch head.
  // ---------------------------------------------------------------

  private def buildIcebergBranch(s: SparkSession, dir: String): String =
    Staged(s, dir, "iceberg_branch") {
      import graft.sources.IcebergCatalog
      import graft.sources.IcebergCatalog._
      val t0 = java.nio.file.Files.createTempDirectory("ice_branch")
      val mdir = t0.resolve("metadata")
      java.nio.file.Files.createDirectories(mdir)
      val ml1 = mdir.resolve("snap-10.avro")
      writeManifestList(ml1, Seq.empty)
      writeMetadataJsonSpec(mdir.resolve("v1.metadata.json"),
        Seq(("n_nationkey", "long", true), ("cents", "long", false)),
        Seq.empty, Seq(10L -> ml1))
      val nat = t(s, dir, "nation").select(
        col("n_nationkey").cast("long").as("n_nationkey"),
        (col("n_regionkey").cast("long") * 100 +
          length(col("n_name")).cast("long")).as("cents"))
      val baseN = nat.count()
      require(commitAppend(s, t0.toString, nat, snapshotId = 20L) == 20L)
      IcebergCatalog.createRef(t0.toString, "main", 20L, "branch")
      IcebergCatalog.createRef(t0.toString, "audit", 20L, "branch")
      // staged on the branch: main must NOT move
      require(commitAppend(s, t0.toString,
        nat.select((col("n_nationkey") + 1000L).as("n_nationkey"),
          col("cents")),
        snapshotId = 30L, branch = "audit") == 30L)
      require(IcebergCatalog.read(s, t0.toString).count() == baseN,
        "main must stay pinned while the branch advances")
      require(IcebergCatalog.readRef(s, t0.toString, "audit")
        .count() == baseN * 2, "the branch must see its own append")
      require(IcebergCatalog.refs(t0.toString)("main")._1 == 20L,
        "the main ref must not move on a branch commit")
      // a TAG refuses appends
      IcebergCatalog.createRef(t0.toString, "pin", 20L, "tag")
      val tagLoud =
        try {
          commitAppend(s, t0.toString, nat, snapshotId = 40L,
            branch = "pin"); false
        } catch { case e: IllegalArgumentException =>
          e.getMessage.contains("tag") }
      require(tagLoud, "appending to a tag must reject loudly")
      // expiration rescues the branch head (and the pinned main)
      val (kept, _) = IcebergCatalog.expireSnapshots(t0.toString,
        keepLast = 1)
      require(kept == 2, s"branch head + pinned main survive: $kept")
      // fast-forward main to the audited branch
      IcebergCatalog.fastForward(t0.toString, "audit")
      require(IcebergCatalog.read(s, t0.toString).count() == baseN * 2,
        "fast-forwarded main must equal the branch")
      require(IcebergCatalog.refs(t0.toString)("main")._1 == 30L,
        "fast-forward must move the main ref")
      t0.toString
    }

  /** F15m (r13): main AFTER the audit-then-fast-forward workflow —
    * the base projection plus the branch-staged append. The fixture
    * asserts branch isolation (main pinned while `audit` advanced),
    * tag immutability, and expiration rescuing the branch head; the
    * hash pins the fast-forwarded state.
    */
  def icebergBranchWrite(s: SparkSession, dir: String): DataFrame =
    graft.sources.IcebergCatalog.read(s, buildIcebergBranch(s, dir))
      .orderBy(col("n_nationkey"))

  // ---------------------------------------------------------------
  // X62 (r13): STREAMING LSH index maintenance — D13's band-ownership
  // index kept current from the stream (foreachBatch delta-merge,
  // min-ownership's associative law), candidates then SERVED from the
  // maintained index; must equal the batch-rebuilt index hash-exact
  // after ≥3 micro-batches.
  // ---------------------------------------------------------------

  private def buildLshIndexStore(s: SparkSession, dir: String): String =
    Staged(s, dir, "stream_lsh_maintain") {
      import graft.dedup.Dedup
      val d = t(s, dir, "documents")
        .select(col("doc_id").cast("long").as("doc_id"), col("text"))
      val store = java.nio.file.Files
        .createTempDirectory("lsh_maintain")
      val staged = store.resolve("in")
      val mx = d.agg(max(col("doc_id"))).head().getLong(0)
      // three id-sliced replay files with increasing mtimes → three
      // in-order micro-batches under maxFilesPerTrigger=1
      (0 until 3).foreach { i =>
        val lo = mx * i / 3; val hi = mx * (i + 1) / 3
        LakeWriter.writeParquetFile(
          d.filter(col("doc_id") > lo && col("doc_id") <= hi ||
            lit(i == 0) && col("doc_id") === 0L),
          staged.resolve(f"b$i%d.parquet"))
        java.nio.file.Files.setLastModifiedTime(
          staged.resolve(f"b$i%d.parquet"),
          java.nio.file.attribute.FileTime.fromMillis(
            1700000000000L + i * 60000L))
      }
      val owners = store.resolve("owners").toString
      // per-file admission: at least three data micro-batches
      graft.streaming.Streams.drain(s, minBatches = 3) { (iso, _) =>
        iso.readStream.schema(d.schema)
          .option("maxFilesPerTrigger", "1").parquet(staged.toString)
      } { (batch, _) =>
        val delta = Dedup.bandOwners(Dedup.minhashBandRows(batch,
          col("doc_id"), col("text"),
          shingleWords = 3, k = 12, bands = 4))
        val merged =
          if (!java.nio.file.Files.exists(java.nio.file.Paths.get(owners)))
            delta
          else Dedup.mergeBandOwners(s.read.parquet(owners), delta)
        // read-modify-write on the index path: materialize to a
        // sibling then swap, as no write may overwrite the files it reads
        val next = s"$owners.next"
        merged.write.mode("overwrite").parquet(next)
        val old = new java.io.File(owners)
        if (old.exists()) graft.sources.DeltaLog.deleteTmp(old.toPath)
        require(new java.io.File(next).renameTo(old),
          s"index swap failed: $next -> $owners")
      }
      // THE maintenance law, checked hash-exact: the maintained index
      // equals a from-scratch rebuild over the whole corpus
      val idx = s.read.parquet(owners)
      val rebuilt = Dedup.bandOwners(Dedup.minhashBandRows(d,
        col("doc_id"), col("text"), shingleWords = 3, k = 12, bands = 4))
      require(idx.exceptAll(rebuilt).isEmpty &&
        rebuilt.exceptAll(idx).isEmpty,
        "maintained index diverged from the batch rebuild")
      owners
    }

  /** X62 (r13): near-dup candidates served from the STREAM-MAINTAINED
    * band index — the keep set under the index that foreachBatch
    * delta-merges built across ≥3 micro-batches. The fixture proves
    * maintained ≡ rebuilt hash-exact; the gate's oracle is the batch
    * owns-all-bands rule (`stream_near_dup`'s), so a drifted index,
    * a lost band, or a wrong merge direction all hash-fail.
    */
  def streamLshMaintain(s: SparkSession, dir: String): DataFrame = {
    import graft.dedup.Dedup
    val owners = buildLshIndexStore(s, dir)
    val d = t(s, dir, "documents")
      .select(col("doc_id").cast("long").as("doc_id"), col("text"))
    val bands = Dedup.minhashBandRows(d, col("doc_id"), col("text"),
      shingleWords = 3, k = 12, bands = 4)
    Dedup.nearDupKeepSet(d.select(col("doc_id")), bands,
        s.read.parquet(owners))
      .orderBy(col("doc_id"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "cdc_delta_apply" -> (cdcDeltaApply _),
    "iceberg_spec_evolution" -> (icebergSpecEvolution _),
    "iceberg_branch_write" -> (icebergBranchWrite _),
    "stream_lsh_maintain" -> (streamLshMaintain _))

  val sql: Map[String, String] = Map(
    // t1 = bootstrap population; upd = the staged update script;
    // ins = the post-2000 inserts minus source tombstones. The final
    // state is t1 overridden by upd plus live ins — soft deletes stay
    // as flagged rows, exactly the replica contract.
    "cdc_delta_apply" ->
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
        |SELECT k AS o_orderkey, st AS o_orderstatus, cents,
        |  'N' AS is_deleted, 'insert' AS _change_type,
        |  CAST(0 AS BIGINT) AS _commit_version FROM t1
        |UNION ALL
        |SELECT k, st, cents, 'N', 'update_preimage', 1 FROM t1 WHERE k % 3 = 0
        |UNION ALL
        |SELECT k, st, cents, isd, 'update_postimage', 1 FROM upd
        |UNION ALL
        |SELECT k, st, cents, 'N', 'insert', 1 FROM ins
        |UNION ALL
        |SELECT COALESCE(u.k, t.k), COALESCE(u.st, t.st),
        |  COALESCE(u.cents, t.cents), COALESCE(u.isd, 'N'), 'final', 9
        |FROM t1 t LEFT JOIN upd u ON u.k = t.k
        |UNION ALL
        |SELECT k, st, cents, 'N', 'final', 9 FROM ins
        |ORDER BY _commit_version, _change_type, o_orderkey""".stripMargin,
    // spec-0 files filtered to rk=3 by their identity partition; the
    // spec-1 (+1000) append has no rk partition key and fully survives
    "iceberg_spec_evolution" ->
      """SELECT CAST(n_nationkey AS BIGINT) AS n_nationkey,
        |  CAST(n_regionkey AS VARCHAR) AS rk,
        |  CAST(n_regionkey * 100 + length(n_name) AS BIGINT) AS cents
        |FROM nation WHERE n_regionkey = 3
        |UNION ALL
        |SELECT CAST(n_nationkey + 1000 AS BIGINT),
        |  CAST(n_regionkey AS VARCHAR),
        |  CAST(n_regionkey * 100 + length(n_name) AS BIGINT)
        |FROM nation
        |ORDER BY n_nationkey, rk""".stripMargin,
    // main after fast-forward = base projection + branch-staged append
    "iceberg_branch_write" ->
      """SELECT CAST(n_nationkey AS BIGINT) AS n_nationkey,
        |  CAST(n_regionkey * 100 + length(n_name) AS BIGINT) AS cents
        |FROM nation
        |UNION ALL
        |SELECT CAST(n_nationkey + 1000 AS BIGINT),
        |  CAST(n_regionkey * 100 + length(n_name) AS BIGINT)
        |FROM nation
        |ORDER BY n_nationkey""".stripMargin,
    // the maintained-index keep set reproduces the batch owns-all-bands
    // rule exactly (the maintenance law the fixture pins hash-exact)
    "stream_lsh_maintain" -> QueriesData.sql("stream_near_dup"))
}
