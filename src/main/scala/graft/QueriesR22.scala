package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.sources.{LakeWriter, Tables}

/** Round-12 surface growth, per the r11 verdict's ranked gaps: Kafka
  * consumer-group REBALANCE (X58 — two consumers split partitions via
  * the classic JoinGroup/SyncGroup dance, one crashes mid-drain, the
  * survivor inherits and resumes from the victim's committed offsets,
  * zombie commits fenced by generation), plus the Delta/Iceberg
  * maintenance next-tier. House contract as everywhere: deterministic
  * fixtures, every gate a bit-exact hash compare against DuckDB on the
  * same parquet tables.
  */
object QueriesR22 {
  private def t(s: SparkSession, dir: String, name: String): DataFrame =
    Tables.load(s, dir, name)

  /** Run two blocking actions concurrently and propagate the first
    * failure — the shape a JOINT group formation needs (both members'
    * JoinGroup calls must be in flight together for the coordinator to
    * land them in one generation).
    */
  private def inParallel(f: => Unit, g: => Unit): Unit = {
    @volatile var err: Throwable = null
    def guard(body: => Unit): Runnable = () =>
      try body catch { case e: Throwable => if (err == null) err = e }
    val t1 = new Thread(guard(f)); val t2 = new Thread(guard(g))
    t1.start(); t2.start()
    t1.join(60000); t2.join(60000)
    if (err != null) throw err
    require(!t1.isAlive && !t2.isAlive, "parallel group action hung")
  }

  /** X58 (r12): consumer-group REBALANCE end-to-end — the r11
    * verdict's #1 gap ("a group is still single-client; partition
    * splitting and zombie fencing are what 'consumer group' means").
    *
    * Script: orders staged to a 4-partition broker; consumers A and B
    * join one group (classic JoinGroup v0 → leader computes the RANGE
    * assignment client-side → SyncGroup v0 distributes) and split the
    * topic 2+2; each drains a capped slice of its partitions and
    * commits under its (generation, member id); B is KILLED mid-drain
    * (socket death, no LeaveGroup — the crash shape); A rejoins, the
    * coordinator evicts B via session(-as-connection) expiry, and the
    * new generation hands A all 4 partitions; A resumes B's partitions
    * from B's COMMITTED offsets and drains to head. The union of
    * everything consumed must equal the staged topic EXACTLY ONCE —
    * any lost or doubled record shifts the counts/sums and fails the
    * hash. Consumption is client-side by construction (the gate's
    * subject is the membership protocol — a "consumer" IS one client);
    * the executor-parallel data plane remains [[KafkaWireProvider]].
    */
  def streamKafkaRebalance(s: SparkSession, dir: String): DataFrame = {
    val o = t(s, dir, "orders").select(
      pmod(col("o_orderkey"), lit(4)).cast("int").as("pt"),
      col("o_orderkey").as("ok"),
      to_json(struct(col("o_orderkey"), col("o_orderstatus"),
        (col("o_totalprice").cast("decimal(12,2)") * 100)
          .cast("long").as("cents"))).as("v"))
    val total = o.count()
    val server = graft.streaming.KafkaBusServer.serve(
      null, emptyPartitions = 4)
    try {
      graft.streaming.KafkaWire.produceSink(
        o.repartition(4, col("pt")).sortWithinPartitions(col("pt"), col("ok")),
        "127.0.0.1", server.port, "bus", col("pt"), col("v"))
      val group = s"graft-rb-${System.nanoTime()}"
      val a = new graft.streaming.KafkaWire.GroupConsumer(
        "127.0.0.1", server.port, group, "bus")
      val b = new graft.streaming.KafkaWire.GroupConsumer(
        "127.0.0.1", server.port, group, "bus")
      // joint formation: both joins in flight together land in ONE
      // generation inside the coordinator's initial-delay window; the
      // retry erases the residual race (a member that formed alone
      // rejoins — the protocol's own recovery, not a special case)
      var attempts = 0
      var formed = false
      while (!formed) {
        attempts += 1
        require(attempts <= 8, "joint group formation did not converge")
        inParallel(a.rebalance(), b.rebalance())
        formed = a.generation == b.generation &&
          (a.assigned ++ b.assigned).sorted == Seq(0, 1, 2, 3) &&
          a.assigned.intersect(b.assigned).isEmpty
      }
      require(a.assigned.size == 2 && b.assigned.size == 2,
        s"range assignor did not split 2+2: A=${a.assigned} B=${b.assigned}")
      // generation 1: each member drains a capped slice and commits
      val capEach = math.max(1L, total / 16)
      val gotA1 = a.consume(capEach)
      val gotB1 = b.consume(capEach)
      b.kill() // crash, not LeaveGroup: eviction is the broker's job
      val inherited = a.rebalance()
      require(inherited.sorted == Seq(0, 1, 2, 3),
        s"survivor did not inherit all partitions: $inherited")
      val gotA2 = a.consume() // to head; B's partitions resume from B's commits
      a.close()
      import s.implicits._
      val consumed = (gotA1 ++ gotB1 ++ gotA2).map(_._3)
      val df = s.createDataset(consumed).toDF("v")
      df.select(from_json(col("v"),
          org.apache.spark.sql.types.StructType.fromDDL(
            "o_orderkey BIGINT, o_orderstatus STRING, cents BIGINT")).as("e"))
        .groupBy(col("e.o_orderstatus").as("o_orderstatus"))
        .agg(count(lit(1)).as("n"), sum(col("e.cents")).as("sum_cents"),
          min(col("e.o_orderkey")).as("min_ok"),
          max(col("e.o_orderkey")).as("max_ok"))
        .orderBy(col("o_orderstatus"))
    } finally server.close()
  }

  // ---------------------------------------------------------------
  // F14k/F14l: Delta timestampAsOf + the change feed as a STREAMING
  // source — one fresh F14b-shape table (v0 adds, v1 bucket-0 replace,
  // v2/v3 DV deletes) with commit mtimes PINNED a minute apart so the
  // timestamp resolution is deterministic.
  // ---------------------------------------------------------------

  /** Epoch base for the pinned commit clock (any fixed instant works —
    * the gate only relies on v's mtime = base + v minutes).
    */
  private val deltaTsBase = 1700000000000L

  private def buildDeltaTsTable(s: SparkSession, dir: String): String =
    Staged(s, dir, "delta_ts") {
      val t0 = QueriesR16.buildDeltaFresh(s, dir) // v0..v3
      val log = java.nio.file.Paths.get(t0, "_delta_log")
      (0L to 3L).foreach { v =>
        java.nio.file.Files.setLastModifiedTime(
          log.resolve(f"$v%020d.json"),
          java.nio.file.attribute.FileTime.fromMillis(
            deltaTsBase + v * 60000L))
      }
      t0
    }

  /** F14l (r12): time travel by TIMESTAMP — the table read "as of
    * 30 seconds after the first commit": the resolution must land on
    * v0 (the last commit at or before the instant), i.e. the pristine
    * projection, not any of the three later states. A resolution that
    * rounds the wrong way, compares off-by-one, or ignores the
    * monotonic adjustment lands on v1+ and hash-fails.
    */
  def deltaTimestampAsof(s: SparkSession, dir: String): DataFrame = {
    val t0 = buildDeltaTsTable(s, dir)
    // sanity-pin the whole resolution surface while we're here
    require(graft.sources.DeltaLog.versionAtTimestamp(t0,
      deltaTsBase + 3 * 60000L + 1) == 3L, "head instant must resolve to v3")
    require(graft.sources.DeltaLog.versionAtTimestamp(t0,
      deltaTsBase + 60000L) == 1L, "exact commit instant resolves to it")
    // r13 extension: inCommitTimestamp — an ICT-enabled table whose
    // log mtimes are deliberately SCRAMBLED still resolves correctly,
    // because the engine's own commits carry the durable in-commit
    // stamps (mtime resolution would land on the wrong version)
    buildDeltaIctDrill(s, dir)
    graft.sources.DeltaLog.readAsOfTimestamp(s, t0, deltaTsBase + 30000L)
      .orderBy(col("s_suppkey"))
  }

  /** The ICT drill table: created + appended by the ENGINE with pinned
    * in-commit timestamps (one minute apart), then every log mtime set
    * to lie. Resolution must follow the stamps.
    */
  private def buildDeltaIctDrill(s: SparkSession, dir: String): String =
    Staged(s, dir, "delta_ict") {
      import graft.sources.{DeltaLog, DeltaWrite}
      import s.implicits._
      val t0 = java.nio.file.Files.createTempDirectory("delta_ict").toString
      DeltaWrite.create(s, t0,
        Seq((1L, "a"), (2L, "b")).toDF("id", "v"),
        configuration = Map("delta.enableInCommitTimestamps" -> "true"),
        nowMs = deltaTsBase)
      DeltaWrite.append(s, t0, Seq((3L, "c")).toDF("id", "v"),
        nowMs = deltaTsBase + 60000L)
      require(DeltaLog.ictOf(t0, 0L).contains(deltaTsBase) &&
        DeltaLog.ictOf(t0, 1L).contains(deltaTsBase + 60000L),
        "engine commits must carry the pinned in-commit timestamps")
      val log = java.nio.file.Paths.get(t0, "_delta_log")
      // mtimes lie in BOTH directions — only the stamps survive
      java.nio.file.Files.setLastModifiedTime(
        log.resolve(f"${0L}%020d.json"),
        java.nio.file.attribute.FileTime.fromMillis(
          deltaTsBase + 86400000L))
      java.nio.file.Files.setLastModifiedTime(
        log.resolve(f"${1L}%020d.json"),
        java.nio.file.attribute.FileTime.fromMillis(
          deltaTsBase - 86400000L))
      require(DeltaLog.versionAtTimestamp(t0, deltaTsBase + 30000L) == 0L,
        "scrambled mtimes must not move the ICT resolution (v0)")
      require(DeltaLog.versionAtTimestamp(t0, deltaTsBase + 60000L) == 1L,
        "scrambled mtimes must not move the ICT resolution (v1)")
      require(DeltaLog.readAsOfTimestamp(s, t0, deltaTsBase + 30000L)
        .count() == 2L, "as-of read must see only v0's rows")
      t0
    }

  /** F14k (r12): the change feed consumed as a STREAM — readStream
    * over the delta log with `maxVersionsPerTrigger=1`, so the three
    * commits drain as (at least) three per-commit micro-batches; the
    * union must be bit-for-bit the BATCH `tableChangesByVersion(0,3)`
    * (same oracle as `delta_changes_by_version`). A source that skips
    * a version, doubles a boundary, or mis-attributes `_commit_version`
    * hash-fails.
    */
  def deltaCdfStream(s: SparkSession, dir: String): DataFrame = {
    val t0 = buildDeltaTsTable(s, dir)
    // per-commit admission: at least three data micro-batches
    graft.streaming.Streams.replay(s, Nil, s"gate_deltacdf_${System.nanoTime()}",
        "append", minBatches = 3) { (iso, _) =>
      iso.readStream.format("graft.sources.DeltaCdfProvider")
        .option("table", t0)
        .option("startingVersion", "0")
        .option("maxVersionsPerTrigger", "1")
        .load()
    }
      .orderBy(col("_commit_version"), col("_change_type"), col("s_suppkey"))
  }

  // ---------------------------------------------------------------
  // F15j: Iceberg NAMED REFS — a tag pins "the audited snapshot" by
  // name; reads resolve through the refs map, expiration must NOT
  // collect a pinned snapshot, unknown names reject loudly.
  // ---------------------------------------------------------------

  private def buildIcebergRefTable(s: SparkSession, dir: String): String =
    Staged(s, dir, "iceberg_refs") {
      import graft.sources.IcebergCatalog
      val t0 = QueriesR16.buildIcebergFresh(s, dir) // snaps 10/20/30
      IcebergCatalog.createRef(t0, "audited", 10L, "tag")
      IcebergCatalog.createRef(t0, "main", 30L, "branch")
      require(IcebergCatalog.refs(t0) ==
        Map("audited" -> ((10L, "tag")), "main" -> ((30L, "branch"))),
        s"refs round-trip: ${IcebergCatalog.refs(t0)}")
      // unknown names reject loudly — never fall back to current
      val loud =
        try { IcebergCatalog.snapshotForRef(t0, "nope"); false }
        catch { case e: IllegalArgumentException =>
          e.getMessage.contains("unknown ref 'nope'") }
      require(loud, "unknown ref must reject loudly")
      // a tag PINS its snapshot through expiration: keepLast=1 would
      // collect snaps 10 and 20, but 'audited' rescues 10
      val (keptN, _) = IcebergCatalog.expireSnapshots(t0, keepLast = 1)
      require(keptN == 2, s"tag must pin snap 10 through expire: kept $keptN")
      // time travel to the unpinned middle snapshot is gone
      val expiredLoud =
        try { IcebergCatalog.state(s, t0, Some(20L)); false }
        catch { case _: IllegalArgumentException => true }
      require(expiredLoud, "snap 20 must be expired")
      t0
    }

  /** F15j (r12): read a TAGGED snapshot by name — `audited` pins snap
    * 10 (the pristine nation projection) while the table head is snap
    * 30 and snapshot 20 has been expired AROUND the pin. Same oracle
    * as the rollback gate: both see the snap-10 state by definition.
    */
  def icebergRefRead(s: SparkSession, dir: String): DataFrame =
    graft.sources.IcebergCatalog.readRef(s, buildIcebergRefTable(s, dir),
        "audited")
      .select(col("n_nationkey"), col("n_name"),
        col("meta.nm").as("meta_nm"), col("meta.ln").as("meta_ln"),
        element_at(col("arr"), 1).as("arr0"),
        element_at(col("arr"), 2).as("arr1"), col("rk"))
      .orderBy(col("n_nationkey"))

  // ---------------------------------------------------------------
  // F14n: the RECORDED Delta change feed — `cdc` actions +
  // `_change_data` files (where UPDATE pre/post images live), the
  // spec's add-only/remove-only derivations, and the WRITER side:
  // deleteWithDv on a CDF-enabled table records its deletes.
  // ---------------------------------------------------------------

  private def esc(s: String): String =
    s.replace("\\", "\\\\").replace("\"", "\\\"")

  private def buildDeltaCdfActionsTable(s: SparkSession, dir: String): String =
    Staged(s, dir, "delta_cdf_actions") {
      val t0 = java.nio.file.Files.createTempDirectory("delta_cdfact")
      val sup = t(s, dir, "supplier").select(
        col("s_suppkey").cast("long").as("s_suppkey"),
        (col("s_acctbal").cast("decimal(12,2)") * 100)
          .cast("long").as("cents"),
        pmod(col("s_suppkey"), lit(2)).cast("string").as("bucket"))
      val schema = org.apache.spark.sql.types.StructType.fromDDL(
        "s_suppkey BIGINT, cents BIGINT, bucket STRING")
      def data(b: Int) = sup.filter(col("bucket") === b.toString)
        .drop("bucket").orderBy(col("s_suppkey"))
      // v0: CDF-enabled table, two partition files (pure-add commit —
      // the spec's DERIVED-insert shape, no cdc action on purpose)
      val adds = (0 until 2).map { b =>
        val rel = s"data/bucket=$b/f0.parquet"
        LakeWriter.writeParquetFile(data(b), t0.resolve(rel))
        s"""{"add":{"path":"$rel","partitionValues":{"bucket":"$b"},"dataChange":true}}"""
      }
      val meta =
        s"""{"metaData":{"id":"cdfa","schemaString":"${esc(schema.json)}",""" +
          s""""partitionColumns":["bucket"],""" +
          s""""configuration":{"delta.enableChangeDataFeed":"true"}}}"""
      val logDir = t0.resolve("_delta_log")
      java.nio.file.Files.createDirectories(logDir)
      java.nio.file.Files.writeString(logDir.resolve(f"${0L}%020d.json"),
        (meta +: adds).mkString("\n"))
      // v1: hand-written UPDATE on bucket 0 — rewrite with %5==0 rows
      // bumped by 100 cents, cdc file carrying ONLY the changed rows
      // as pre/post images (what a snapshot diff cannot reconstruct)
      val b0 = data(0)
      val updated = b0.withColumn("cents",
        when(col("s_suppkey") % 5 === 0, col("cents") + 100)
          .otherwise(col("cents")))
      LakeWriter.writeParquetFile(updated, t0.resolve("data/bucket=0/f1.parquet"))
      val pre = b0.filter(col("s_suppkey") % 5 === 0)
        .withColumn("_change_type", lit("update_preimage"))
      val post = updated.filter(col("s_suppkey") % 5 === 0)
        .withColumn("_change_type", lit("update_postimage"))
      LakeWriter.writeParquetFile(pre.unionAll(post).orderBy(
          col("_change_type"), col("s_suppkey")),
        t0.resolve("_change_data/cdc-v1.parquet"))
      java.nio.file.Files.writeString(logDir.resolve(f"${1L}%020d.json"), Seq(
        """{"remove":{"path":"data/bucket=0/f0.parquet","dataChange":true}}""",
        """{"add":{"path":"data/bucket=0/f1.parquet","partitionValues":{"bucket":"0"},"dataChange":true}}""",
        """{"cdc":{"path":"_change_data/cdc-v1.parquet","partitionValues":{"bucket":"0"},"dataChange":false}}""")
        .mkString("\n"))
      // v2: ENGINE delete on bucket 1 — the CDF-enabled writer must
      // record the deleted rows itself
      val v2 = graft.sources.DeltaLog.deleteWithDv(s, t0.toString,
        "data/bucket=1/f0.parquet", col("s_suppkey") % 3 === 0,
        uuid = new java.util.UUID(0x6772616674L, 0x63646631L))
      require(v2 == 2L, s"engine CDF delete landed at v$v2, want 2")
      val v2Lines = java.nio.file.Files.readString(
        logDir.resolve(f"${2L}%020d.json"))
      require(v2Lines.contains("\"cdc\""),
        "CDF-enabled deleteWithDv must record a cdc action")
      t0.toString
    }

  /** F14n (r12): the recorded change feed end-to-end — v0's inserts
    * DERIVED from the pure-add commit, v1's update pre/post images
    * read VERBATIM from its `_change_data` file, v2's deletes recorded
    * by the ENGINE's own CDF-enabled deleteWithDv. Oracle replays all
    * three shapes in plain SQL; a reader that diffs snapshots instead
    * of reading the recorded feed cannot produce the pre/post rows and
    * hash-fails.
    */
  def deltaCdfActions(s: SparkSession, dir: String): DataFrame =
    graft.sources.DeltaLog.tableChangesCdf(s,
        buildDeltaCdfActionsTable(s, dir), -1L, 2L)
      .orderBy(col("_commit_version"), col("_change_type"),
        col("s_suppkey"))

  // ---------------------------------------------------------------
  // T38: PII scrubbing — emails/IPv4s/phones to typed placeholders
  // with a per-document removal report. The corpus gets DETERMINISTIC
  // PII injected (both engines apply the identical concatenation), so
  // a pattern that under- or over-matches hash-fails on every row.
  // ---------------------------------------------------------------

  /** T38 (r12): per-document PII redaction + removal report — doc_id,
    * progressive per-class counts, and the md5 of the redacted text
    * (the full text stays out of the compare payload; a single
    * mis-redacted character flips the hash).
    */
  def textPiiRedact(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.Pii
    val withPii = t(s, dir, "documents").select(col("doc_id"),
      concat(col("text"),
        lit(" reach user"), col("doc_id"), lit("@ex-mail.org or 10."),
        pmod(col("doc_id"), lit(200)), lit("."),
        pmod(col("doc_id"), lit(250)), lit(".7 call 415-555-"),
        lpad(pmod(col("doc_id"), lit(10000)).cast("string"), 4, "0"))
        .as("txt"))
    withPii.select(col("doc_id"),
        Pii.countEmails(col("txt")).cast("long").as("n_email"),
        Pii.countIps(col("txt")).cast("long").as("n_ip"),
        Pii.countPhones(col("txt")).cast("long").as("n_phone"),
        md5(Pii.redact(col("txt"))).as("red_md5"))
      .orderBy(col("doc_id"))
  }

  // ---------------------------------------------------------------
  // F15k: Iceberg time travel by TIMESTAMP — snapshots stamped
  // `timestamp-ms` by the engine's own commits, resolved like the
  // Delta leg (last stamped snapshot ≤ t, monotonic-adjusted).
  // ---------------------------------------------------------------

  private val iceTsBase = 1700000000000L

  private def buildIcebergTsTable(s: SparkSession, dir: String): String =
    Staged(s, dir, "iceberg_ts") {
      import graft.sources.IcebergCatalog._
      val t0 = java.nio.file.Files.createTempDirectory("ice_ts")
      val mdir = t0.resolve("metadata")
      java.nio.file.Files.createDirectories(mdir)
      val ml1 = mdir.resolve("snap-10.avro")
      writeManifestList(ml1, Seq.empty)
      writeMetadataJsonSpec(mdir.resolve("v1.metadata.json"),
        Seq(("n_nationkey", "long", true), ("cents", "long", false)),
        Seq.empty, Seq(10L -> ml1)) // snap 10: empty, UNSTAMPED
      val nat = t(s, dir, "nation").select(
        col("n_nationkey").cast("long").as("n_nationkey"),
        (col("n_regionkey").cast("long") * 100 +
          length(col("n_name")).cast("long")).as("cents"))
      val s20 = commitAppend(s, t0.toString, nat, snapshotId = 20L,
        timestampMs = iceTsBase)
      require(s20 == 20L)
      val s30 = commitAppend(s, t0.toString,
        nat.select((col("n_nationkey") + 1000L).as("n_nationkey"),
          col("cents")),
        snapshotId = 30L, timestampMs = iceTsBase + 60000L)
      require(s30 == 30L)
      // pin the whole resolution surface
      require(graft.sources.IcebergCatalog
        .snapshotAtTimestamp(t0.toString, iceTsBase + 60000L) == 30L)
      require(graft.sources.IcebergCatalog
        .snapshotAtTimestamp(t0.toString, iceTsBase + 59999L) == 20L)
      val loud =
        try { graft.sources.IcebergCatalog
          .snapshotAtTimestamp(t0.toString, iceTsBase - 1L); false }
        catch { case _: IllegalArgumentException => true }
      require(loud, "pre-first-stamp instant must reject loudly")
      t0.toString
    }

  /** F15k (r12): read "as of 30 seconds after the first stamped
    * commit" — resolves to snapshot 20 (the nation projection), not
    * the later append; the unstamped empty snapshot never anchors.
    */
  def icebergTimestampAsof(s: SparkSession, dir: String): DataFrame =
    graft.sources.IcebergCatalog.readAsOfTimestamp(s,
        buildIcebergTsTable(s, dir), iceTsBase + 30000L)
      .orderBy(col("n_nationkey"))

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "iceberg_timestamp_asof" -> (icebergTimestampAsof _),
    "stream_kafka_rebalance" -> (streamKafkaRebalance _),
    "delta_timestamp_asof" -> (deltaTimestampAsof _),
    "delta_cdf_stream" -> (deltaCdfStream _),
    "iceberg_ref_read" -> (icebergRefRead _),
    "text_pii_redact" -> (textPiiRedact _),
    "delta_cdf_actions" -> (deltaCdfActions _))

  val sql: Map[String, String] = Map(
    "stream_kafka_rebalance" ->
      """SELECT o_orderstatus, COUNT(*) AS n,
        |  CAST(SUM(CAST(CAST(o_totalprice AS DECIMAL(12,2)) * 100 AS BIGINT))
        |    AS BIGINT) AS sum_cents,
        |  CAST(MIN(o_orderkey) AS BIGINT) AS min_ok,
        |  CAST(MAX(o_orderkey) AS BIGINT) AS max_ok
        |FROM orders GROUP BY 1 ORDER BY 1""".stripMargin,
    // v0 of the F14b table = the pristine supplier projection (the
    // delta_restore_roundtrip oracle — restore-to-v0 and as-of-v0 see
    // the same state by definition)
    "delta_timestamp_asof" ->
      """SELECT s_suppkey,
        |  CAST(CAST(s_acctbal AS DECIMAL(12,2)) * 100 AS BIGINT) AS bal_cents,
        |  CAST(s_nationkey % 5 AS VARCHAR) AS bucket
        |FROM supplier ORDER BY s_suppkey""".stripMargin,
    // bit-for-bit the batch feed: the delta_changes_by_version oracle
    "delta_cdf_stream" ->
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
    // the snap-10 state = the pristine nation projection (the
    // iceberg_rollback_roundtrip oracle — a tag at 10 and a rollback
    // to 10 read the same snapshot by definition)
    "iceberg_ref_read" ->
      """SELECT n_nationkey, n_name,
        |  n_name AS meta_nm, CAST(length(n_name) AS BIGINT) AS meta_ln,
        |  n_nationkey AS arr0, n_nationkey * 2 + 1 AS arr1,
        |  CAST(n_regionkey AS VARCHAR) AS rk
        |FROM nation ORDER BY n_nationkey""".stripMargin,
    // same injection, same patterns (the portable ASCII subset), same
    // email→ip→phone progressive order; RE2 needs the 'g' flag
    "text_pii_redact" ->
      """WITH w AS (
        |  SELECT doc_id,
        |    text || ' reach user' || doc_id || '@ex-mail.org or 10.'
        |      || (doc_id % 200) || '.' || (doc_id % 250)
        |      || '.7 call 415-555-'
        |      || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') AS txt
        |  FROM documents
        |), s1 AS (
        |  SELECT doc_id, txt,
        |    regexp_replace(txt,
        |      '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}',
        |      '<EMAIL>', 'g') AS t1
        |  FROM w
        |), s2 AS (
        |  SELECT doc_id, txt, t1,
        |    regexp_replace(t1, '\b(?:\d{1,3}\.){3}\d{1,3}\b', '<IP>', 'g') AS t2
        |  FROM s1
        |)
        |SELECT doc_id,
        |  CAST(len(regexp_extract_all(txt,
        |    '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS BIGINT)
        |    AS n_email,
        |  CAST(len(regexp_extract_all(t1,
        |    '\b(?:\d{1,3}\.){3}\d{1,3}\b')) AS BIGINT) AS n_ip,
        |  CAST(len(regexp_extract_all(t2,
        |    '\b\d{3}-\d{3}-\d{4}\b')) AS BIGINT) AS n_phone,
        |  md5(regexp_replace(t2, '\b\d{3}-\d{3}-\d{4}\b', '<PHONE>', 'g'))
        |    AS red_md5
        |FROM s2 ORDER BY doc_id""".stripMargin,
    // v0 = every row as a derived insert; v1 = pre/post images of the
    // bucket-0 %5 rows; v2 = engine-recorded deletes of bucket-1 %3
    "delta_cdf_actions" ->
      """WITH base AS (
        |  SELECT CAST(s_suppkey AS BIGINT) AS s_suppkey,
        |    CAST(CAST(s_acctbal AS DECIMAL(12,2)) * 100 AS BIGINT) AS cents,
        |    CAST(s_suppkey % 2 AS VARCHAR) AS bucket
        |  FROM supplier
        |)
        |SELECT s_suppkey, cents, bucket,
        |  'insert' AS _change_type, 0 AS _commit_version FROM base
        |UNION ALL
        |SELECT s_suppkey, cents, bucket, 'update_preimage', 1
        |FROM base WHERE bucket = '0' AND s_suppkey % 5 = 0
        |UNION ALL
        |SELECT s_suppkey, cents + 100, bucket, 'update_postimage', 1
        |FROM base WHERE bucket = '0' AND s_suppkey % 5 = 0
        |UNION ALL
        |SELECT s_suppkey, cents, bucket, 'delete', 2
        |FROM base WHERE bucket = '1' AND s_suppkey % 3 = 0
        |ORDER BY _commit_version, _change_type, s_suppkey""".stripMargin,
    // snapshot 20 = the nation projection alone (the later append is
    // after the pinned instant)
    "iceberg_timestamp_asof" ->
      """SELECT CAST(n_nationkey AS BIGINT) AS n_nationkey,
        |  CAST(n_regionkey * 100 + length(n_name) AS BIGINT) AS cents
        |FROM nation ORDER BY n_nationkey""".stripMargin)
}
