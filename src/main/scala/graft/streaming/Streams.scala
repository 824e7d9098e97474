package graft.streaming

import graft.PlanProbe.CkptOps
import graft.cdc.Cdc
import java.nio.file.Files
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{DataStreamWriter, GroupState,
  GroupStateTimeout, OutputMode}

/** Event row for stateful sessionization (X3). */
case class SessionEvent(user_id: Long, event_id: Long, ts_sec: Long)

/** (band key, document) row for streaming near-dup claims (X11). */
case class BandClaim(band: String, doc_id: Long)

/** Timestamped band-claim row for the TTL'd variant of X11. */
case class BandClaimT(band: String, doc_id: Long, ts: java.sql.Timestamp)

/** Per-key session counter state carried across micro-batches. */
case class SessionState(nextSeq: Long, lastTs: Long)

/** Structured Streaming operators. Every operator is a finite replay run
  * by one harness, [[run]]:
  *  1. staging — its input tables are written once as parquet under one
  *     temp dir, which is removed after the drain;
  *  2. session — the query runs in an isolated child session with
  *     [[StatePartitions]] state partitions (RocksDB state per
  *     `rocksDb`);
  *  3. running — the staged copies are read back as file streams, the
  *     operator's pipeline is started on its sink and driven until all
  *     input is processed, then stopped;
  *  4. read-back — a memory sink's table, or the number of non-empty
  *     micro-batches for a per-batch sink.
  * The plans are exactly what a production readStream over an arriving
  * directory/Kafka topic would run.
  */
object Streams {
  /** Stateful streaming queries fix their state-store partition count from
    * spark.sql.shuffle.partitions AT START, and every micro-batch then
    * pays per-partition store maintenance (snapshot, delta files) whether
    * or not the partition holds data. Every replay scopes its state
    * partitions to this workload-sized count instead of inheriting the
    * batch-tuned setting — in an ISOLATED child session
    * (`spark.newSession()`: same SparkContext and shared state, private
    * SQL conf), not by mutating the shared session conf, which a
    * concurrent batch or streaming query on the same session would
    * silently pick up. Memory-sink views live in that child session too,
    * so none outlives the replay in the caller's catalog.
    */
  private val StatePartitions = 8

  /** `f` on a fresh temp dir `graft_<prefix>…`, removed afterwards. */
  private def withTempDir[T](prefix: String)(f: String => T): T = {
    val dir = Files.createTempDirectory(s"graft_$prefix")
    try f(dir.toString) finally graft.sources.DeltaLog.deleteTmp(dir)
  }

  /** The finite-replay harness (steps in the header). `query` gets the
    * child session and the staged `inputs` read back as streams (reader
    * options `read`) and builds the pipeline; `sink` lands it. `refill`,
    * when given, runs on the staged dirs after the first drain, and a
    * second drain consumes what it appended. Fails loudly when fewer
    * than `minBatches` micro-batches carried data. Returns the child
    * session and the number of non-empty micro-batches.
    */
  private def run(spark: SparkSession, inputs: Seq[DataFrame],
                  sink: DataStreamWriter[Row] => DataStreamWriter[Row],
                  rocksDb: Boolean = UseRocksDb,
                  read: Map[String, String] = Map.empty,
                  refill: Option[Seq[String] => Unit] = None,
                  minBatches: Int = 0)(
                  query: (SparkSession, Seq[DataFrame]) => DataFrame)
      : (SparkSession, Int) = withTempDir("replay") { dir =>
    val paths = inputs.indices.map(i => s"$dir/in$i")
    inputs.zip(paths).foreach { case (df, p) => df.write.parquet(p) }
    val iso = spark.newSession()
    iso.conf.set("spark.sql.shuffle.partitions", StatePartitions.toString)
    if (rocksDb) iso.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    val streams = inputs.zip(paths).map { case (df, p) =>
      iso.readStream.schema(df.schema).options(read).parquet(p)
    }
    val q = sink(query(iso, streams).writeStream).start()
    try {
      q.processAllAvailable()
      refill.foreach { f => f(paths); q.processAllAvailable() }
    } finally q.stop()
    val batches = q.recentProgress.count(_.numInputRows > 0)
    require(batches >= minBatches,
      s"replay admission: want >= $minBatches data micro-batches, got $batches")
    (iso, batches)
  }

  /** [[run]] into the memory table `queryName` in output `mode`; returns
    * that table (its rows live on the driver, so it outlives the staged
    * input).
    */
  private[graft] def replay(spark: SparkSession, inputs: Seq[DataFrame],
                            queryName: String, mode: String,
                            rocksDb: Boolean = UseRocksDb,
                            read: Map[String, String] = Map.empty,
                            refill: Option[Seq[String] => Unit] = None,
                            minBatches: Int = 0)(
                            query: (SparkSession, Seq[DataFrame]) => DataFrame)
      : DataFrame =
    run(spark, inputs, _.outputMode(mode).format("memory").queryName(queryName),
      rocksDb, read, refill, minBatches)(query)._1.table(queryName)

  /** [[run]] into `perBatch`, called with each micro-batch and its id;
    * returns the number of non-empty micro-batches.
    */
  private[graft] def drain(spark: SparkSession, inputs: Seq[DataFrame] = Nil,
                           minBatches: Int = 0)(
                           query: (SparkSession, Seq[DataFrame]) => DataFrame)(
                           perBatch: (DataFrame, Long) => Unit): Int =
    run(spark, inputs, _.outputMode("append").foreachBatch(perBatch),
      minBatches = minBatches)(query)._2

  /** Source `format` read with `options`, admission capped at
    * `maxRowsPerTrigger` rows per micro-batch.
    */
  private def readSource(iso: SparkSession, format: String,
                         options: Map[String, String],
                         maxRowsPerTrigger: Long): DataFrame =
    iso.readStream.format(format).options(options)
      .option("maxRowsPerTrigger", maxRowsPerTrigger.toString).load()

  /** State-store backend switch. The default HDFS-backed store keeps every
    * key in executor heap — fine for bounded-key workloads, fatal when
    * per-key state outgrows memory (billions of dedup fingerprints, long
    * watermark horizons). RocksDB spills state to local disk with
    * changelog/snapshot persistence to the checkpoint, which is the 100 TB
    * posture; flip it per-process (graft.streaming.rocksdb=true) since the
    * provider binds at query start. StreamsSpec runs the stateful paths
    * under both providers and asserts identical results.
    */
  val UseRocksDb: Boolean =
    sys.props.get("graft.streaming.rocksdb").orElse(sys.env.get("GRAFT_STREAMING_ROCKSDB"))
      .exists(v => v == "1" || v.equalsIgnoreCase("true"))

  /** X1: tumbling-window aggregation over an event stream. Watermark bounds
    * state at scale; the memory sink in complete mode drains a finite
    * replay deterministically. Output: hour bucket (epoch hours), type,
    * count, decimal-exact value sum.
    */
  def tumblingWindowAgg(spark: SparkSession, events: DataFrame, tsCol: String,
                        typeCol: String, valueCol: String, queryName: String): DataFrame =
    replay(spark, Seq(events), queryName, "complete") { (_, in) =>
      in.head
        .withWatermark(tsCol, "1 hour")
        .groupBy(window(col(tsCol), "1 hour").as("win"), col(typeCol))
        .agg(count(lit(1)).as("n_events"),
          sum(col(valueCol).cast("decimal(18,2)")).as("sum_value_dec"))
    }
      .select(
        (unix_timestamp(col("win.start")) / 3600L).cast("long").as("bucket_hour"),
        col(typeCol),
        col("n_events"),
        col("sum_value_dec").cast("double").as("sum_value"))

  /** X2: streaming CDC apply — the reference's incremental merge loop
    * (scripts/03_cdc_etl.py:259-346) as readStream → foreachBatch →
    * mergeSoftDelete. Each micro-batch is deduped to latest-per-key and
    * merged into the running replica; localCheckpoint breaks lineage so
    * state doesn't grow across batches.
    */
  def cdcApply(spark: SparkSession, initialTarget: DataFrame, delta: DataFrame,
               pk: Seq[String], orderCols: Seq[Column]): DataFrame = {
    var state = initialTarget.ckpt
    drain(spark, Seq(delta))((_, in) => in.head) { (batch, _) =>
      state = Cdc.mergeSoftDelete(state, Cdc.latestPerKey(batch, pk, orderCols),
        pk).ckpt
    }
    state
  }

  /** X64 (r14): streaming CDC apply INTO a Delta table — X2's
    * foreachBatch loop with the merge landing as TRANSACTION-LOG
    * commits via [[graft.sources.DeltaWrite.merge]] instead of a
    * session DataFrame: each micro-batch dedupes to latest-per-key
    * (ordered by `orderCol`, dropped before the merge) and merges into
    * `table` with the soft-delete insert guard — the reference's
    * incremental loop (scripts/03_cdc_etl.py:259-346) in its 2026
    * deployment shape, where a SECOND reader sees every batch as a
    * committed version and the recorded change feed carries per-batch
    * update pre/post images. `stagedDir` is a directory of change
    * files; `maxFilesPerTrigger=1` admits them as separate in-order
    * micro-batches (mtime order). Returns the number of non-empty
    * micro-batches applied.
    */
  def cdcApplyDelta(spark: SparkSession, table: String, stagedDir: String,
                    schema: org.apache.spark.sql.types.StructType,
                    pk: Seq[String], orderCol: String,
                    insertFilter: Option[Column] = None): Int =
    drainCdcToLake(spark, stagedDir, schema, pk, orderCol) { (s, staged) =>
      graft.sources.DeltaWrite.merge(s, table, staged, pk, insertFilter)
    }

  /** X66 (r14): streaming CDC apply INTO an ICEBERG table — the
    * [[cdcApplyDelta]] shape with each micro-batch landing as one v2
    * MERGE-ON-READ snapshot via
    * [[graft.sources.IcebergCatalog.commitMerge]] (equality-delete
    * matched PKs + staged rows at the same data sequence number,
    * nothing rewritten). A second reader sees every batch as a
    * committed snapshot, and successive batches compose through the
    * sequence-scoping rule (each delete covers strictly-older files
    * only). Returns the number of non-empty micro-batches applied.
    */
  def cdcApplyIceberg(spark: SparkSession, table: String, stagedDir: String,
                      schema: org.apache.spark.sql.types.StructType,
                      pk: Seq[String], orderCol: String,
                      insertFilter: Option[Column] = None): Int = {
    import graft.sources.IcebergCatalog
    drainCdcToLake(spark, stagedDir, schema, pk, orderCol) { (s, staged) =>
      IcebergCatalog.commitMerge(s, table, staged, pk,
        IcebergCatalog.nextSnapshotId(table), insertFilter)
    }
  }

  /** The lake CDC drain behind [[cdcApplyDelta]] and [[cdcApplyIceberg]]:
    * change files admitted one per micro-batch, each non-empty batch
    * deduped to latest-per-key (`orderCol` dropped after) and handed to
    * `commit` with the batch's session. Returns the number of non-empty
    * micro-batches applied.
    */
  private def drainCdcToLake(spark: SparkSession, stagedDir: String,
                             schema: org.apache.spark.sql.types.StructType,
                             pk: Seq[String], orderCol: String)(
                             commit: (SparkSession, DataFrame) => Unit): Int =
    drain(spark) { (iso, _) =>
      iso.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1").parquet(stagedDir)
    } { (batch, _) =>
      if (!batch.isEmpty) commit(batch.sparkSession,
        Cdc.latestPerKey(batch, pk, Seq(col(orderCol))).drop(orderCol))
    }

  /** X44: streaming CDC apply FROM the message bus ([[BusSource]]) —
    * the reference's incremental merge loop on its real arrival path:
    * change rows ride a keyed bus as JSON values (producer keying =
    * PK hash, so each key's changes stay ordered under the bus's
    * per-partition contract — exactly Kafka's CDC topology), are
    * decoded in-stream with from_json, and drain through the identical
    * X2 foreachBatch latest-per-key + soft-delete merge tail. Cross-key
    * interleaving differs from the single-file replay and is irrelevant
    * by construction: merges of distinct keys commute, and per-key
    * order is preserved end to end (staging order → partition offsets →
    * admission-control prefix slices). Shares X2's born-and-died edge:
    * a key inserted AND deleted by changes that split across
    * micro-batches leaves a tombstone, while a one-shot replay collapses
    * it to no row — feed deltas through C35's net-change squash upstream
    * when replay-invariance across batch shapes is required.
    */
  def cdcApplyFromBus(spark: SparkSession, initialTarget: DataFrame,
                      delta: DataFrame, pk: Seq[String],
                      orderCols: Seq[Column], busPartitions: Int,
                      maxRowsPerTrigger: Long): DataFrame =
    drainCdcFromBus(spark, initialTarget, delta, pk, orderCols, busPartitions,
      maxRowsPerTrigger, "graft.streaming.BusSourceProvider") {
      root => drain => drain(Map("path" -> root))
    }

  /** [[cdcApplyFromBus]] with arrivals crossing the NETWORK transport:
    * the staged bus is served by an in-process TCP broker
    * ([[BusServer]]) and consumed through `SocketBusProvider` — the
    * reference's CDC apply loop fed the way a real deployment is, over
    * a wire. Same merge/state contract; the broker lives only for the
    * replay.
    */
  def cdcApplyFromSocketBus(spark: SparkSession, initialTarget: DataFrame,
                            delta: DataFrame, pk: Seq[String],
                            orderCols: Seq[Column], busPartitions: Int,
                            maxRowsPerTrigger: Long): DataFrame =
    drainCdcFromBus(spark, initialTarget, delta, pk, orderCols, busPartitions,
      maxRowsPerTrigger, "graft.streaming.SocketBusProvider") {
      root => drain =>
        val server = BusServer.serve(root)
        try drain(Map("host" -> "127.0.0.1", "port" -> server.port.toString))
        finally server.close()
    }

  /** The bus CDC drain behind [[cdcApplyFromBus]] and
    * [[cdcApplyFromSocketBus]]: stages `delta` as a keyed bus of JSON
    * values under a temp root, then `connect(root)` runs the drain with
    * the reader options of source `format`. The drain decodes each value
    * with from_json and folds every micro-batch into the replica through
    * the X2 latest-per-key + soft-delete merge.
    */
  private def drainCdcFromBus(spark: SparkSession, initialTarget: DataFrame,
                              delta: DataFrame, pk: Seq[String],
                              orderCols: Seq[Column], busPartitions: Int,
                              maxRowsPerTrigger: Long, format: String)(
                              connect: String => (Map[String, String] => DataFrame) => DataFrame)
      : DataFrame = withTempDir("buscdc") { root =>
    val pt = pmod(hash(pk.map(col): _*), lit(busPartitions))
    BusSource.stage(
      delta.withColumn("__pt", pt)
        .withColumn("__v", to_json(struct(delta.columns.map(col): _*))),
      root, busPartitions, col("__pt"), col("__v"), orderCols: _*)
    connect(root) { options =>
      var state = initialTarget.ckpt
      drain(spark) { (iso, _) =>
        readSource(iso, format, options, maxRowsPerTrigger)
          .select(from_json(col("value"), delta.schema).as("__r"))
          .select(col("__r.*"))
      } { (batch, _) =>
        state = Cdc.mergeSoftDelete(state,
          Cdc.latestPerKey(batch, pk, orderCols), pk).ckpt
      }
      state
    }
  }

  /** X4: streaming exact dedup — dropDuplicates on the canonical content
    * fingerprint with a watermark bounding the dedup state. The streaming
    * twin of Dedup.exactKeep: late duplicates beyond the watermark horizon
    * age out of state instead of growing it forever.
    */
  def streamingDedup(spark: SparkSession, docs: DataFrame, idCol: String,
                     fingerprintCol: String, queryName: String,
                     rocksDb: Boolean = UseRocksDb): DataFrame =
    replay(spark, Seq(docs), queryName, "append", rocksDb) { (_, in) =>
      in.head.dropDuplicates(Seq(fingerprintCol))
    }

  /** X11: streaming NEAR-dup band claims — the streaming twin of the
    * minhash/LSH pipeline (D2), beside X4's exact dedup. Band keys are
    * computed inside the stream (the same narrow codegen'd
    * shingle→minhash→band projection as batch); state per BAND key is its
    * first claimant, O(1) per band no matter how many rows stream
    * through. A document is a near-dup candidate iff any of its bands is
    * owned by an earlier document; dropped documents still block their
    * bands (tombstone semantics), so chains A~B~C collapse onto A and,
    * for an id-ordered replay, the kept set is exactly the batch rule
    * "doc owns all its bands" — order-free and SQL-expressible, which is
    * what the gate checks. Returns the claims table (band, doc_id,
    * owner); keep = docs with no band owned by someone else.
    */
  def streamingNearDupClaims(spark: SparkSession, docs: DataFrame, idCol: String,
                             textCol: String, shingleWords: Int, k: Int, bands: Int,
                             queryName: String,
                             rocksDb: Boolean = UseRocksDb): DataFrame = {
    import graft.dedup.Dedup
    import spark.implicits._
    // one file → in-order single-batch replay: "first claimant" is then
    // deterministic (= min doc_id), which the batch oracle reproduces
    val staged = docs.coalesce(1).sortWithinPartitions(col(idCol))
    val claim = (band: String, rows: Iterator[BandClaim], state: GroupState[Long]) => {
      val ids = rows.map(_.doc_id).toSeq.sorted
      val owner = state.getOption.getOrElse(ids.head)
      state.update(owner)
      ids.iterator.map(id => (band, id, owner))
    }
    replay(spark, Seq(staged), queryName, "append", rocksDb) { (_, in) =>
      // aggregation-free staged band keys: the one-select signature form
      // re-inlines the shingle pipeline k times (the 50x hazard noted on
      // minhashSignatureTable), and a groupBy signature table would be a
      // second stateful operator in this query
      Dedup.minhashBandRows(in.head,
          col(idCol).cast("long"), col(textCol), shingleWords, k, bands)
        .select(col("band"), col("doc_id")).as[BandClaim]
        .groupByKey(_.band)
        .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout)(claim)
        .toDF("band", "doc_id", "owner")
    }
  }

  /** X11 with BOUNDED state: band claims expire once the watermark passes
    * their last sighting by `ttl` — the production posture for an
    * unbounded corpus, where claim state must be sized by the DEDUP
    * HORIZON (bands seen in the last N days) rather than by the corpus.
    * The semantic trade is explicit: a duplicate arriving after its
    * predecessor's claim expired is treated as novel (it re-claims the
    * band), exactly like X4's watermark-bounded exact dedup ages out
    * fingerprints. Docs need an event-time column; rows later than the
    * watermark horizon are dropped by the engine as late data.
    */
  def streamingNearDupClaimsTtl(spark: SparkSession, docs: DataFrame, idCol: String,
                                textCol: String, tsCol: String,
                                shingleWords: Int, k: Int, bands: Int,
                                ttl: String, queryName: String,
                                maxFilesPerTrigger: Int = 0,
                                stagedPath: String = null,
                                rocksDb: Boolean = UseRocksDb): DataFrame = {
    import graft.dedup.Dedup
    import spark.implicits._
    // stagedPath: a pre-written replay directory (files replay in
    // modification-time order — how specs script batch boundaries);
    // by default `docs` is staged as one batch
    val read =
      if (maxFilesPerTrigger > 0) Map("maxFilesPerTrigger" -> maxFilesPerTrigger.toString)
      else Map.empty[String, String]
    val ttlMs = org.apache.spark.sql.catalyst.util.IntervalUtils
      .stringToInterval(org.apache.spark.unsafe.types.UTF8String.fromString(ttl))
    require(ttlMs.months == 0,
      s"ttl '$ttl': month-based intervals have no fixed millisecond length; " +
        "use days/hours/minutes")
    val ttlMillis = ttlMs.days * 86400000L + ttlMs.microseconds / 1000L
    val claim = (band: String, rows: Iterator[BandClaimT], state: GroupState[Long]) => {
      if (state.hasTimedOut) {
        // claim aged out: forget the owner; the band is claimable again
        state.remove()
        Iterator.empty
      } else {
        val sorted = rows.toSeq.sortBy(r => (r.ts.getTime, r.doc_id))
        val owner = state.getOption.getOrElse(sorted.head.doc_id)
        state.update(owner)
        state.setTimeoutTimestamp(sorted.map(_.ts.getTime).max + ttlMillis)
        sorted.iterator.map(r => (band, r.doc_id, owner))
      }
    }
    replay(spark, if (stagedPath == null) Seq(docs) else Nil, queryName,
        "append", rocksDb, read) { (iso, in) =>
      val stream = in.headOption
        .getOrElse(iso.readStream.schema(docs.schema).options(read).parquet(stagedPath))
        .withWatermark(tsCol, ttl)
      // ts rides the staged band projections (carry) — joining the stream
      // to itself would be a SECOND stateful operator in this query
      Dedup.minhashBandRows(stream,
          col(idCol).cast("long"), col(textCol), shingleWords, k, bands,
          carry = Seq(col(tsCol).as("ts")))
        .select(col("band"), col("doc_id"), col("__c0").as("ts")).as[BandClaimT]
        .groupByKey(_.band)
        .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.EventTimeTimeout)(claim)
        .toDF("band", "doc_id", "owner")
    }
  }

  /** X5: stream-stream interval (event-time range) join. Both sides carry
    * watermarks and the join condition bounds right-side event time to a
    * trailing window of the left's — exactly what lets the engine expire
    * join state instead of buffering both streams forever. Left columns
    * (l_key, l_id, l_ts), right (r_key, r_id, r_ts); emits matches with
    * r_ts in [l_ts - gapSec, l_ts].
    */
  def intervalJoin(spark: SparkSession, left: DataFrame, right: DataFrame,
                   gapSec: Long, queryName: String): DataFrame =
    replay(spark, Seq(left, right), queryName, "append") { (_, in) =>
      in(0).withWatermark("l_ts", "1 hour").join(
        in(1).withWatermark("r_ts", "1 hour"), expr(
          s"l_key = r_key AND r_ts >= l_ts - INTERVAL $gapSec SECONDS AND r_ts <= l_ts"))
    }

  /** X5b (r11): stream-stream LEFT OUTER interval join — the
    * enrichment-miss shape: every left event emits, matched rows as
    * they join, unmatched rows WITH NULL right columns once the
    * watermark proves no match can still arrive (state expiry is the
    * null-emit trigger — the engine cannot know "no match" earlier).
    *
    * Drain-completeness: outer results only surface when the GLOBAL
    * watermark (the min across both sources) passes a left row's
    * expiry, and state EVICTION runs with the watermark computed at
    * the END of the PREVIOUS batch — so a single flush at the end of
    * the data still leaves the final evictions to a no-data batch the
    * drain call does not wait for. Two flush WAVES fix it
    * deterministically: wave 1 (staged with the data, far-future
    * timestamps under a key no real row uses) raises the watermark
    * past every real expiry; wave 2 (appended to the staged dirs
    * AFTER the first drain) is a DATA batch that runs under that
    * raised watermark and therefore emits every remaining null row
    * before the second drain returns. Sentinels filter from the
    * output.
    */
  def intervalJoinLeftOuter(spark: SparkSession, left: DataFrame,
                            right: DataFrame, gapSec: Long,
                            queryName: String): DataFrame =
    intervalJoinOuter(spark, left, right, gapSec, "leftOuter", queryName)

  /** X5c (r11): FULL OUTER form — unmatched rows on EITHER side emit
    * with the other side null on watermark expiry; same two-wave flush
    * and outside-the-plan sentinel filtering as the left-outer leg.
    */
  def intervalJoinFullOuter(spark: SparkSession, left: DataFrame,
                            right: DataFrame, gapSec: Long,
                            queryName: String): DataFrame =
    intervalJoinOuter(spark, left, right, gapSec, "fullOuter", queryName)

  private def intervalJoinOuter(spark: SparkSession, left: DataFrame,
                                right: DataFrame, gapSec: Long,
                                joinType: String,
                                queryName: String): DataFrame = {
    import org.apache.spark.sql.functions.{expr => fexpr}
    // driver scalars: the flush timestamp must clear every expiry
    // (max event time + gap + watermark delay + margin). An empty side
    // yields a NULL max — reject loudly instead of NPEing below (the
    // sentinel builder also assumes the staged 3-column row shape).
    val maxL = left.agg(max(col("l_ts"))).head().getTimestamp(0)
    val maxR = right.agg(max(col("r_ts"))).head().getTimestamp(0)
    require(maxL != null && maxR != null,
      s"intervalJoinOuter($joinType) requires non-empty inputs: " +
        s"left ${if (maxL == null) "EMPTY" else "ok"}, " +
        s"right ${if (maxR == null) "EMPTY" else "ok"}")
    val flushMs = math.max(maxL.getTime, maxR.getTime) +
      (gapSec + 2 * 3600L + 60L) * 1000L
    def sentinel(schema: org.apache.spark.sql.types.StructType,
                 ms: Long): DataFrame =
      left.sparkSession.createDataFrame(
        java.util.List.of(org.apache.spark.sql.Row(
          -1L, -1L, new java.sql.Timestamp(ms))), schema)
    // wave 2: a data batch under the already-raised watermark — the
    // batch whose eviction emits the last unmatched rows
    val wave2 = flushMs + 3600L * 1000L
    val refill = (paths: Seq[String]) => {
      sentinel(left.schema, wave2).coalesce(1)
        .write.mode("append").parquet(paths(0))
      sentinel(right.schema, wave2).coalesce(1)
        .write.mode("append").parquet(paths(1))
    }
    replay(spark, Seq(left.unionByName(sentinel(left.schema, flushMs)),
        right.unionByName(sentinel(right.schema, flushMs))),
        queryName, "append", refill = Some(refill)) { (_, in) =>
      // NOTE: the sentinel filter must NOT live in the streaming plan —
      // `l_key != -1` would constraint-propagate through the equi-join
      // (inferring `r_key != -1`) and push below BOTH EventTimeWatermark
      // nodes, so the flush rows would never raise the watermark. The
      // sentinels flow through the join (each wave's pair matches
      // itself, nothing else — no real key is -1) and filter from the
      // BATCH read of the sink table instead.
      in(0).withWatermark("l_ts", "1 hour").join(
        in(1).withWatermark("r_ts", "1 hour"), fexpr(
          s"l_key = r_key AND r_ts >= l_ts - INTERVAL $gapSec SECONDS AND r_ts <= l_ts"),
        joinType)
    }
      // null-safe: a full-outer row may carry null on either side, and
      // each wave's sentinels match each OTHER, never real rows
      .filter(coalesce(col("l_key"), lit(0L)) =!= -1L &&
        coalesce(col("r_key"), lit(0L)) =!= -1L)
  }

  /** X6: stream-static join — each micro-batch of the stream joins the
    * static side (broadcast when small) with no state at all: the static
    * side is re-resolvable per batch, so nothing needs watermarking. The
    * standard enrichment shape (events against a replicated dimension).
    */
  def streamStaticJoin(spark: SparkSession, stream: DataFrame, static: DataFrame,
                       joinCol: String, queryName: String): DataFrame =
    replay(spark, Seq(stream), queryName, "append") { (_, in) =>
      in.head.join(broadcast(static), Seq(joinCol))
    }

  /** X3: stateful gap-based sessionization with flatMapGroupsWithState —
    * the custom-state path for when windowed builtins can't express the
    * semantics. State per user is just (next session seq, last event time);
    * events inside a micro-batch are ordered by event_id before the gap
    * scan, and the state carries the cursor across batches.
    */
  def statefulSessionize(spark: SparkSession, events: DataFrame,
                         gapSec: Long, queryName: String,
                         rocksDb: Boolean = UseRocksDb): DataFrame = {
    import spark.implicits._
    val typed = events.select(col("user_id").cast("long"), col("event_id").cast("long"),
      col("ts_sec").cast("long")).as[SessionEvent]

    val assign = (_: Long, rows: Iterator[SessionEvent],
                  state: GroupState[SessionState]) => {
      val sorted = rows.toSeq.sortBy(e => (e.ts_sec, e.event_id))
      var st = state.getOption.getOrElse(SessionState(0L, Long.MinValue))
      val out = sorted.map { e =>
        val newSession = st.lastTs == Long.MinValue || e.ts_sec - st.lastTs > gapSec
        val seq = if (newSession) st.nextSeq + 1 else st.nextSeq
        st = SessionState(seq, e.ts_sec)
        (e.user_id, e.event_id, seq)
      }
      state.update(st)
      out.iterator
    }

    replay(spark, Seq(typed.toDF()), queryName, "append", rocksDb) { (_, in) =>
      in.head.as[SessionEvent].groupByKey(_.user_id)
        .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout)(assign)
        .toDF("user_id", "event_id", "session_seq")
    }
  }

  /** X10: streaming CDC apply with incremental view maintenance — each
    * micro-batch merges into the replica AND folds retract/add
    * adjustments into a grouped SUM/COUNT view (operators/Ivm), so the
    * materialized aggregate stays current without ever rescanning the
    * replica. Retraction reads the PRE-batch replica state, which makes
    * the final view independent of how the replay splits into batches.
    * Returns (replica, view) after the drain.
    */
  def cdcApplyWithView(spark: SparkSession, initialTarget: DataFrame, delta: DataFrame,
                       pk: Seq[String], orderCols: Seq[Column],
                       groupCol: String, valueCol: String): (DataFrame, DataFrame) = {
    import graft.operators.Ivm
    var state = initialTarget.ckpt
    var view = Ivm.sumCountView(state, groupCol, valueCol).ckpt
    drain(spark, Seq(delta))((_, in) => in.head) { (batch, _) =>
      val deduped = Cdc.latestPerKey(batch, pk, orderCols)
      view = Ivm.maintainSumCount(view, state, deduped, pk, groupCol, valueCol)
        .ckpt
      state = Cdc.mergeSoftDelete(state, deduped, pk).ckpt
    }
    (state, view)
  }

  /** X9: declarative session windows — the builtin `session_window`
    * merges an event into the current session while it lands within
    * `gap` of the session's end, all inside the streaming aggregation
    * operator (no user state code, unlike X3's flatMapGroupsWithState).
    * Complete mode suits the finite-replay harness (every session emits
    * after the drain; the engine rejects update mode for session
    * windows). A continuous production stream would run append mode —
    * sessions emit once the watermark passes them and state stays
    * bounded; complete mode retains all aggregates.
    * Output: key, session start/end (formatted), event count.
    */
  def sessionWindowAgg(spark: SparkSession, events: DataFrame, tsCol: String,
                       keyCol: String, gap: String, queryName: String,
                       rocksDb: Boolean = UseRocksDb): DataFrame = {
    // one file → one micro-batch; session-window streaming aggregation
    // supports append & complete; complete emits every closed-or-open
    // session after the finite replay drains (append would hold back
    // sessions the watermark hasn't passed)
    replay(spark, Seq(events.coalesce(1)), queryName, "complete", rocksDb) { (_, in) =>
      in.head
        .withWatermark(tsCol, "1 hour")
        .groupBy(session_window(col(tsCol), gap).as("sw"), col(keyCol))
        .agg(count(lit(1)).as("n_events"))
    }
      .select(col(keyCol),
        date_format(col("sw.start"), "yyyy-MM-dd HH:mm:ss").as("session_start"),
        date_format(col("sw.end"), "yyyy-MM-dd HH:mm:ss").as("session_end"),
        col("n_events"))
  }

  /** X8: streaming quantiles — a t-digest per key carried as
    * mapGroupsWithState state, updated each micro-batch, emitting the
    * key's current quantile estimates. The state is O(compression) per
    * key no matter how many rows stream through — the streaming twin of
    * sketches/TDigest exactly as the reference's watermark table is the
    * streaming twin of a batch MAX. Input: (key: string, v: double);
    * output per key: estimates at `qs` after the replay drains.
    */
  def streamingTdigest(spark: SparkSession, rows: DataFrame, qs: Seq[Double],
                       queryName: String, compression: Double = 200,
                       rocksDb: Boolean = UseRocksDb): DataFrame = {
    import graft.sketches.TDigest
    import spark.implicits._
    val typed = rows.select(col("key").cast("string"), col("v").cast("double"))
      .as[(String, Double)]

    val update: (String, Iterator[(String, Double)], GroupState[TDigest.State]) =>
        (String, Long, Seq[Double]) = (key, batch, state) => {
      val agg = new TDigest.TDigestAgg(qs, compression)
      var st = state.getOption.getOrElse(TDigest.State.empty)
      batch.foreach { case (_, v) => st = agg.reduce(st, v) }
      val compact = TDigest.compress(st, compression)
      state.update(compact)
      // total absorbed weight is monotone per key — the "which emit is
      // newest" ordinal that survives any batch split of the replay
      (key, compact.weights.sum, qs.map(q => TDigest.quantile(compact, q, compression)))
    }

    replay(spark, Seq(typed.toDF("key", "v")), queryName, "update", rocksDb) { (_, in) =>
      in.head.as[(String, Double)].groupByKey(_._1)
        .mapGroupsWithState(GroupStateTimeout.NoTimeout)(update)
        .toDF("key", "n_seen", "est")
    }
      .groupBy("key")
      .agg(max_by(col("est"), col("n_seen")).as("est"),
        max(col("n_seen")).as("n_seen"))
  }

  /** X12: streaming heavy hitters — a Misra-Gries counter set per key as
    * mapGroupsWithState state, the streaming twin of sketches/FreqItems
    * exactly as X8 is t-digest's. State is O(k) per key FOREVER — the
    * property that lets "top items per stream" run unbounded, where a
    * groupBy count would grow state with the key universe. MG's
    * guarantees (every item with freq > n/k present; estimates within
    * [true − n/k, true]) hold after ANY offer/merge order, so the gate
    * checks them against an exact oracle just like the batch form.
    * Input: (key: string, item: long); output per key after the replay
    * drains: the counter map and total absorbed weight.
    */
  def streamingFreqItems(spark: SparkSession, rows: DataFrame, k: Int,
                         queryName: String,
                         rocksDb: Boolean = UseRocksDb): DataFrame = {
    import graft.sketches.FreqItems
    import spark.implicits._
    val typed = rows.select(col("key").cast("string"), col("item").cast("long"))
      .as[(String, Long)]

    val update: (String, Iterator[(String, Long)], GroupState[(FreqItems.Counters, Long)]) =>
        (String, Long, FreqItems.Counters) = (key, batch, state) => {
      val agg = new FreqItems.FreqAgg(k)
      var (st, seen) = state.getOption.getOrElse((Map.empty: FreqItems.Counters, 0L))
      batch.foreach { case (_, item) => st = agg.reduce(st, item); seen += 1 }
      state.update((st, seen))
      (key, seen, st)
    }

    replay(spark, Seq(typed.toDF("key", "item")), queryName, "update", rocksDb) { (_, in) =>
      in.head.as[(String, Long)].groupByKey(_._1)
        .mapGroupsWithState(GroupStateTimeout.NoTimeout)(update)
        .toDF("key", "n_seen", "sk")
    }
      .groupBy("key")
      .agg(max_by(col("sk"), col("n_seen")).as("sk"),
        max(col("n_seen")).as("n_seen"))
  }

  /** X13: streaming exact moments — per key, the integer running state
    * (n, Σx, Σx²) maintained across micro-batches. Sums commute, so
    * after the replay drains the state equals the batch aggregate
    * BIT-FOR-BIT regardless of batch splits or arrival order — the
    * strongest statement a streaming gate can make, and the state any
    * online mean/variance/z-score monitor needs (the streaming side of
    * the R54 anomaly algebra: 12 bytes of state per key, never a row
    * buffer). Input: (key: string, x: long).
    */
  def streamingMoments(spark: SparkSession, rows: DataFrame,
                       queryName: String,
                       rocksDb: Boolean = UseRocksDb): DataFrame = {
    import spark.implicits._
    val typed = rows.select(col("key").cast("string"), col("x").cast("long"))
      .as[(String, Long)]

    val update: (String, Iterator[(String, Long)], GroupState[(Long, Long, Long)]) =>
        (String, Long, Long, Long) = (key, batch, state) => {
      var (n, s1, s2) = state.getOption.getOrElse((0L, 0L, 0L))
      batch.foreach { case (_, x) => n += 1; s1 += x; s2 += x * x }
      state.update((n, s1, s2))
      (key, n, s1, s2)
    }

    replay(spark, Seq(typed.toDF("key", "x")), queryName, "update", rocksDb) { (_, in) =>
      in.head.as[(String, Long)].groupByKey(_._1)
        .mapGroupsWithState(GroupStateTimeout.NoTimeout)(update)
        .toDF("key", "n", "s1", "s2")
    }
      .groupBy("key")
      .agg(max(col("n")).as("n"), max_by(col("s1"), col("n")).as("s1"),
        max_by(col("s2"), col("n")).as("s2"))
  }

  /** X14: streaming ordered funnel — per-user stage-completion times as
    * mapGroupsWithState state, O(stages) longs per user FOREVER.
    *
    * Contract: per-user EVENT-TIME-ORDERED delivery (the replay is
    * staged globally ts-sorted; a production pipeline gets the same
    * guarantee from watermark-ordered reprocessing, and each batch is
    * re-sorted internally so intra-batch shuffle order never matters).
    * Under that contract the greedy rule — set tᵢ on the first stage-i
    * event STRICTLY after tᵢ₋₁, never overwrite — computes exactly the
    * batch [[graft.operators.Cohorts.funnelTimes]] chain: the earliest
    * stage-1 time arrives first, and any stage-i event processed while
    * tᵢ₋₁ is unset has ts ≤ tᵢ₋₁, so rejecting it matches the strict
    * order semantics (ties included). Stage times are immutable once
    * set, so the latest emit per user is the final chain.
    *
    * Input: (user: long, stage: int 1-based, tsu: long epoch-µs > 0).
    * Output per user after the replay drains: the stage-time array
    * (0 = never reached).
    */
  def streamingFunnel(spark: SparkSession, rows: DataFrame, nStages: Int,
                      queryName: String,
                      rocksDb: Boolean = UseRocksDb): DataFrame = {
    import spark.implicits._
    require(nStages >= 1)
    val typed = rows.select(col("user").cast("long"), col("stage").cast("int"),
        col("tsu").cast("long"))
      .orderBy(col("tsu"), col("stage"), col("user"))
      .coalesce(1) // one ts-ordered file = ordered replay
      .as[(Long, Int, Long)]

    val update: (Long, Iterator[(Long, Int, Long)], GroupState[Seq[Long]]) =>
        (Long, Seq[Long]) = (user, batch, state) => {
      val ts = state.getOption.map(_.toArray).getOrElse(Array.fill(nStages)(0L))
      batch.toSeq.sortBy(r => (r._3, r._2)).foreach { case (_, stage, tsu) =>
        val i = stage - 1
        if (i >= 0 && i < nStages && ts(i) == 0L &&
            (i == 0 || (ts(i - 1) != 0L && tsu > ts(i - 1))))
          ts(i) = tsu
      }
      state.update(ts.toSeq)
      (user, ts.toSeq)
    }

    replay(spark, Seq(typed.toDF("user", "stage", "tsu")), queryName, "update",
        rocksDb) { (_, in) =>
      in.head.as[(Long, Int, Long)].groupByKey(_._1)
        .mapGroupsWithState(GroupStateTimeout.NoTimeout)(update)
        .toDF("user", "stage_ts")
    }
      // stage times are immutable once set -> per user, the emit with the
      // most stages set is the final chain
      .groupBy("user")
      .agg(max_by(col("stage_ts"),
        size(filter(col("stage_ts"), t => t =!= 0L))).as("stage_ts"))
  }

  /** X15: streaming session-transition counts — the incremental twin of
    * the batch transition matrix (R58). Per-user state is O(1): the last
    * event's (seq, type, ts) plus the user's transition-count map
    * (bounded by |event types|², not by history length). Each event
    * extends the chain iff it continues the 30-minute session contract,
    * exactly the batch lag/gap semantics.
    *
    * Delivery contract: per-user seq-ordered, like [[streamingFunnel]]
    * (batches sort on seq; the replay stages one ordered file). Under
    * that contract the drained per-user maps aggregate to the SAME matrix
    * as the batch window formulation, so the gate shares its oracle.
    *
    * @param rows (user: long, seq: long, typ: string, ts_sec: long)
    * @return (prev_type, next_type, n_transitions)
    */
  def streamingTransitions(spark: SparkSession, rows: DataFrame, gapSec: Long,
                           queryName: String,
                           rocksDb: Boolean = UseRocksDb): DataFrame = {
    import spark.implicits._
    val typed = rows.select(col("user").cast("long"), col("seq").cast("long"),
        col("typ").cast("string"), col("ts_sec").cast("long"))
      .orderBy(col("seq"))
      .coalesce(1) // one seq-ordered file = ordered replay
      .as[(Long, Long, String, Long)]

    // state: (lastTyp, lastTs, counts)
    val update: (Long, Iterator[(Long, Long, String, Long)],
        GroupState[(String, Long, Map[String, Long])]) =>
        (Long, Long, Map[String, Long]) = (user, batch, state) => {
      var (lastTyp, lastTs, counts) =
        state.getOption.getOrElse((null: String, 0L, Map.empty[String, Long]))
      batch.toSeq.sortBy(_._2).foreach { case (_, _, typ, ts) =>
        if (lastTyp != null && ts - lastTs <= gapSec) {
          val k = lastTyp + "|" + typ
          counts = counts.updated(k, counts.getOrElse(k, 0L) + 1L)
        }
        lastTyp = typ; lastTs = ts
      }
      state.update((lastTyp, lastTs, counts))
      (user, counts.valuesIterator.sum, counts)
    }

    replay(spark, Seq(typed.toDF("user", "seq", "typ", "ts_sec")), queryName,
        "update", rocksDb) { (_, in) =>
      in.head.as[(Long, Long, String, Long)].groupByKey(_._1)
        .mapGroupsWithState(GroupStateTimeout.NoTimeout)(update)
        .toDF("user", "total", "counts")
    }
      // counts only grow -> per user, the emit with the largest total is final
      .groupBy("user")
      .agg(max_by(col("counts"), col("total")).as("counts"))
      .select(explode(col("counts")).as(Seq("k", "n")))
      .select(split(col("k"), "\\|").getItem(0).as("prev_type"),
        split(col("k"), "\\|").getItem(1).as("next_type"), col("n"))
      .groupBy(col("prev_type"), col("next_type"))
      .agg(sum(col("n")).as("n_transitions"))
  }

  /** X39: streaming token-bucket rate limiter — R167's admission policy
    * enforced LIVE: per-key state is two longs (tokens, lastTs), each
    * arriving event appends its admit/reject decision (Append-mode
    * flatMap). Under per-key (ts, id)-ordered delivery (the X15
    * contract — CDC/event logs deliver per-key in order) the appended
    * decisions are identical to the batch replay
    * ([[graft.operators.RateLimit.tokenBucket]]), so the gate shares the
    * batch oracle verbatim.
    */
  def streamingRateLimit(spark: SparkSession, rows: DataFrame,
                         capMilli: Long, refillMilli: Long, costMilli: Long,
                         queryName: String,
                         rocksDb: Boolean = UseRocksDb): DataFrame = {
    import spark.implicits._
    val typed = rows.select(col("key").cast("long"), col("id").cast("long"),
        col("ts_sec").cast("long"))
      .orderBy(col("ts_sec"), col("id"))
      .coalesce(1) // one ordered file = ordered replay
      .as[(Long, Long, Long)]

    val update: (Long, Iterator[(Long, Long, Long)],
        GroupState[(Long, Long)]) =>
        Iterator[(Long, Long, Long, Boolean, Long)] = (key, batch, state) => {
      var (tokens, lastTs) = state.getOption.getOrElse((capMilli, Long.MinValue))
      val out = batch.toSeq.sortBy(r => (r._3, r._2)).map { case (_, id, ts) =>
        if (lastTs != Long.MinValue)
          tokens = math.min(capMilli, tokens + (ts - lastTs) * refillMilli)
        lastTs = ts
        val admitted = tokens >= costMilli
        if (admitted) tokens -= costMilli
        (key, id, ts, admitted, tokens)
      }
      state.update((tokens, lastTs))
      out.iterator
    }

    replay(spark, Seq(typed.toDF("key", "id", "ts_sec")), queryName, "append",
        rocksDb) { (_, in) =>
      in.head.as[(Long, Long, Long)].groupByKey(_._1)
        .flatMapGroupsWithState(OutputMode.Append,
          GroupStateTimeout.NoTimeout)(update)
        .toDF("key", "id", "ts_sec", "admitted", "tokens_milli")
    }
  }

  /** X40: streaming embedding-drift monitor — D20 maintained as vectors
    * arrive: per (label, side, dim) the state is (Σx, n) — two longs,
    * order-independent by commutativity — drained in complete mode and
    * reduced to sign-carried centroid means + the per-label squared L2
    * shift, identical to the batch report bit-for-bit. O(labels·dims)
    * state regardless of stream length.
    */
  def streamingEmbedDrift(spark: SparkSession, vecs: DataFrame,
                          queryName: String): DataFrame = {
    val arr = vecs.select(col("label").cast("long").as("label"),
      col("vec_id").cast("long").as("vec_id"),
      transform(col("embedding").cast("array<double>"),
        x => floor(x * 1000).cast("long")).as("xs"))
    val sums = replay(spark, Seq(arr), queryName, "complete") { (_, in) =>
      in.head
        .select(col("label"), (col("vec_id") % 2 === 0).as("side"),
          posexplode(col("xs")))
        .groupBy(col("label"), col("side"), col("pos"))
        .agg(sum(col("col")).as("s"), count(lit(1)).as("n"))
    }
    // the memory view exposes the same attribute ids on both sides of a
    // self-join; project each side to fresh names before joining
    def side(even: Boolean, lbl: String, ps: String, c: String) =
      sums
        .filter(if (even) col("side") else !col("side"))
        .select(col("label").as(lbl), col("pos").as(ps),
          when(col("s") >= 0, expr("s div n"))
            .otherwise(-expr("(-s) div n")).as(c))
    side(even = true, "la", "pa", "ca")
      .join(side(even = false, "lb", "pb", "cb"),
        col("la") === col("lb") && col("pa") === col("pb"))
      .groupBy(col("la").as("label"))
      .agg(sum((col("ca") - col("cb")) * (col("ca") - col("cb")))
        .as("shift_sq"))
  }

  /** X41: streaming Lindley queue monitor — R182 live: per-key state is
    * (wait, lastTs), each arrival appends its wait (Append-mode
    * flatMap); under per-key ordered delivery the appended series ≡ the
    * batch replay, oracle shared verbatim. The live backlog gauge the
    * batch what-if sizes offline.
    */
  def streamingQueueWait(spark: SparkSession, rows: DataFrame,
                         serviceSec: Long, queryName: String,
                         rocksDb: Boolean = UseRocksDb): DataFrame = {
    import spark.implicits._
    val typed = rows.select(col("key").cast("long"), col("id").cast("long"),
        col("ts_sec").cast("long"))
      .orderBy(col("ts_sec"), col("id"))
      .coalesce(1) // one ordered file = ordered replay
      .as[(Long, Long, Long)]

    val update: (Long, Iterator[(Long, Long, Long)],
        GroupState[(Long, Long)]) =>
        Iterator[(Long, Long, Long, Long)] = (key, batch, state) => {
      var (w, lastTs) = state.getOption.getOrElse((0L, Long.MinValue))
      val out = batch.toSeq.sortBy(r => (r._3, r._2)).map { case (_, id, ts) =>
        if (lastTs != Long.MinValue)
          w = math.max(0L, w + serviceSec - (ts - lastTs))
        lastTs = ts
        (key, id, ts, w)
      }
      state.update((w, lastTs))
      out.iterator
    }

    replay(spark, Seq(typed.toDF("key", "id", "ts_sec")), queryName, "append",
        rocksDb) { (_, in) =>
      in.head.as[(Long, Long, Long)].groupByKey(_._1)
        .flatMapGroupsWithState(OutputMode.Append,
          GroupStateTimeout.NoTimeout)(update)
        .toDF("key", "id", "ts_sec", "wait_sec")
    }
  }

  /** X42: streaming adstock — R189's carryover pressure maintained
    * live: per-key state is (a, seen), each arrival appends its adstock
    * level (Append-mode flatMap); under per-key ordered delivery the
    * appended series ≡ the batch replay, oracle shared verbatim. The
    * live "current pressure" gauge campaign pacing reads.
    */
  def streamingAdstock(spark: SparkSession, rows: DataFrame,
                       lambdaPpm: Long, queryName: String,
                       rocksDb: Boolean = UseRocksDb): DataFrame = {
    import spark.implicits._
    val typed = rows.select(col("key").cast("long"), col("id").cast("long"),
        col("ts_sec").cast("long"), col("x").cast("long"))
      .orderBy(col("ts_sec"), col("id"))
      .coalesce(1) // one ordered file = ordered replay
      .as[(Long, Long, Long, Long)]

    val update: (Long, Iterator[(Long, Long, Long, Long)],
        GroupState[(Long, Boolean)]) =>
        Iterator[(Long, Long, Long, Long, Long)] = (key, batch, state) => {
      var (a, seen) = state.getOption.getOrElse((0L, false))
      val out = batch.toSeq.sortBy(r => (r._3, r._2)).map {
        case (_, id, ts, v) =>
          a = if (!seen) { seen = true; v * 1000L }
              else v * 1000L + lambdaPpm * a / 1000000L
          (key, id, ts, v, a)
      }
      state.update((a, seen))
      out.iterator
    }

    replay(spark, Seq(typed.toDF("key", "id", "ts_sec", "x")), queryName,
        "append", rocksDb) { (_, in) =>
      in.head.as[(Long, Long, Long, Long)].groupByKey(_._1)
        .flatMapGroupsWithState(OutputMode.Append,
          GroupStateTimeout.NoTimeout)(update)
        .toDF("key", "id", "ts_sec", "x", "adstock_milli")
    }
  }

  /** X16: streaming CUSUM — the drift monitor (R61) maintained
    * incrementally. Per-key state is two longs (the prefix sum P and its
    * historical minimum), because Sₜ = Pₜ − min(0, minᵢ≤ₜ Pᵢ) needs no
    * history; each arriving tick appends its statistic row (Append-mode
    * flatMap). Under per-key order-of-`order` delivery the emitted
    * series is identical to the batch closed form
    * ([[graft.operators.Changepoint.cusum]]) — StreamsSpec pins the
    * equality, the gate shares the batch oracle.
    *
    * @param rows (key: string, order: long, x: long, k: long) — k is the
    *             configured reference level (a parameter of the monitor,
    *             not derived from unseen future data)
    * @return (key, order, s)
    */
  /** X17: streaming per-day KMV distinct state — each calendar day's
    * sketch maintained incrementally as hashes arrive, O(k) longs of
    * state per day FOREVER (the day-key space is calendar-bounded; an
    * exact per-day distinct set grows with the user universe).
    *
    * The drained day sketches are what the rolling-reach report merges:
    * KMV's merge law kminₖ(kminₖ(A) ∪ kminₖ(B)) = kminₖ(A ∪ B) makes a
    * trailing-window estimate from the per-day states EQUAL to the
    * sketch of the window's union — so the streaming state, the batch
    * merge, and the SQL oracle all land on the same integer. Arrival
    * order and batch splits never matter: insert-then-insert commutes
    * (the state is a set's k smallest elements).
    *
    * Input: (day: long, h: long) with h a 48-bit [[graft.sketches.Kmv]]
    * hash. Output per day after the replay drains: the final sorted
    * sketch array + the exact count of retained hashes' source rows seen.
    */
  def streamingDayKmv(spark: SparkSession, rows: DataFrame, k: Int,
                      queryName: String,
                      rocksDb: Boolean = UseRocksDb): DataFrame = {
    import graft.sketches.Kmv
    import spark.implicits._
    val typed = rows.select(col("day").cast("long"), col("h").cast("long"))
      .as[(Long, Long)]

    val update: (Long, Iterator[(Long, Long)], GroupState[(Array[Long], Long)]) =>
        (Long, Long, Array[Long]) = (day, batch, state) => {
      var (sk, seen) = state.getOption.getOrElse((Array.emptyLongArray, 0L))
      batch.foreach { case (_, h) => sk = Kmv.insert(sk, h, k); seen += 1 }
      state.update((sk, seen))
      (day, seen, sk)
    }

    replay(spark, Seq(typed.toDF("day", "h")), queryName, "update", rocksDb) { (_, in) =>
      in.head.as[(Long, Long)].groupByKey(_._1)
        .mapGroupsWithState(GroupStateTimeout.NoTimeout)(update)
        .toDF("day", "n_seen", "sk")
    }
      .groupBy("day")
      .agg(max_by(col("sk"), col("n_seen")).as("sk"),
        max(col("n_seen")).as("n_seen"))
  }

  def streamingCusum(spark: SparkSession, rows: DataFrame,
                     queryName: String,
                     rocksDb: Boolean = UseRocksDb): DataFrame = {
    import spark.implicits._
    val typed = rows.select(col("key").cast("string"), col("order").cast("long"),
        col("x").cast("long"), col("k").cast("long"))
      .orderBy(col("order"))
      .coalesce(1) // one ordered file = ordered replay
      .as[(String, Long, Long, Long)]

    // state: (p, minP)
    val step: (String, Iterator[(String, Long, Long, Long)],
        GroupState[(Long, Long)]) => Iterator[(String, Long, Long)] =
      (key, batch, state) => {
        var (p, minP) = state.getOption.getOrElse((0L, 0L))
        val out = batch.toSeq.sortBy(_._2).map { case (_, order, x, k) =>
          p += x - k
          if (p < minP) minP = p
          (key, order, p - math.min(0L, minP))
        }
        state.update((p, minP))
        out.iterator
      }

    replay(spark, Seq(typed.toDF("key", "order", "x", "k")), queryName,
        "append", rocksDb) { (_, in) =>
      in.head.as[(String, Long, Long, Long)].groupByKey(_._1)
        .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout)(step)
        .toDF("key", "order", "s")
    }
  }

  /** X29: streaming EWMA — R116's truncating fixed-point recursion
    * maintained across micro-batches: per-key state is the last smoothed
    * milli-value (ONE long per key — bounded by the key cardinality, not
    * history), each arriving tick emits its smoothed value in Append
    * mode. The recursion has no prefix closed form (per-step truncation
    * compounds), which is exactly why the streaming form matters: state
    * carries the accumulated rounding verbatim, so batch replay ≡
    * streaming bit-for-bit. Ordered-replay contract as
    * [[streamingCusum]]; the gate shares R116's recursive-CTE oracle.
    */
  def streamingEwma(spark: SparkSession, rows: DataFrame, alphaPpm: Long,
                    queryName: String,
                    rocksDb: Boolean = UseRocksDb): DataFrame = {
    require(alphaPpm >= 1 && alphaPpm <= 1000000, s"alphaPpm: $alphaPpm")
    import spark.implicits._
    val typed = rows.select(col("key").cast("long"), col("id").cast("long"),
        col("ts_sec").cast("long"), col("x").cast("long"))
      .orderBy(col("ts_sec"), col("id"))
      .coalesce(1) // one ordered file = ordered replay
      .as[(Long, Long, Long, Long)]

    // state: the last smoothed milli-value, or None before the first tick
    val step: (Long, Iterator[(Long, Long, Long, Long)],
        GroupState[Long]) => Iterator[(Long, Long, Long, Long, Long)] =
      (key, batch, state) => {
        var m = state.getOption.getOrElse(Long.MinValue)
        val out = batch.toSeq.sortBy(r => (r._3, r._2)).map {
          case (_, id, t, v) =>
            m = if (m == Long.MinValue) v * 1000L
                else (alphaPpm * v * 1000L +
                  (1000000L - alphaPpm) * m) / 1000000L
            (key, id, t, v, m)
        }
        state.update(m)
        out.iterator
      }

    replay(spark, Seq(typed.toDF("key", "id", "ts_sec", "x")), queryName,
        "append", rocksDb) { (_, in) =>
      in.head.as[(Long, Long, Long, Long)].groupByKey(_._1)
        .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout)(step)
        .toDF("key", "id", "ts_sec", "x", "ewma_milli")
    }
  }

  /** X32: streaming Holt linear-trend smoothing — R130's coupled
    * level+trend recursion with per-key state = TWO longs (the last
    * level and trend milli-values — bounded by key cardinality, not
    * history), each tick emitting (level, trend, forecast) in Append
    * mode. Ordered-replay contract and truncating-division contract as
    * the batch walk, so streaming ≡ batch bit-for-bit and X32 shares
    * R130's two-accumulator recursive-CTE oracle. The live forecast
    * baseline next to X29's trend line.
    */
  def streamingHolt(spark: SparkSession, rows: DataFrame, alphaPpm: Long,
                    betaPpm: Long, queryName: String,
                    rocksDb: Boolean = UseRocksDb): DataFrame = {
    require(alphaPpm >= 1 && alphaPpm <= 1000000, s"alphaPpm: $alphaPpm")
    require(betaPpm >= 1 && betaPpm <= 1000000, s"betaPpm: $betaPpm")
    import spark.implicits._
    val typed = rows.select(col("key").cast("long"), col("id").cast("long"),
        col("ts_sec").cast("long"), col("x").cast("long"))
      .orderBy(col("ts_sec"), col("id"))
      .coalesce(1) // one ordered file = ordered replay
      .as[(Long, Long, Long, Long)]

    // state: (level, trend) milli-values, or None before the first tick
    val step: (Long, Iterator[(Long, Long, Long, Long)],
        GroupState[(Long, Long)]) =>
        Iterator[(Long, Long, Long, Long, Long, Long, Long)] =
      (key, batch, state) => {
        var (l, b) = state.getOption.getOrElse((Long.MinValue, 0L))
        val out = batch.toSeq.sortBy(r => (r._3, r._2)).map {
          case (_, id, t, v) =>
            if (l == Long.MinValue) { l = v * 1000L; b = 0L }
            else {
              val lPrev = l
              l = (alphaPpm * v * 1000L +
                (1000000L - alphaPpm) * (l + b)) / 1000000L
              b = (betaPpm * (l - lPrev) + (1000000L - betaPpm) * b) /
                1000000L
            }
            (key, id, t, v, l, b, l + b)
        }
        state.update((l, b))
        out.iterator
      }

    replay(spark, Seq(typed.toDF("key", "id", "ts_sec", "x")), queryName,
        "append", rocksDb) { (_, in) =>
      in.head.as[(Long, Long, Long, Long)].groupByKey(_._1)
        .flatMapGroupsWithState(OutputMode.Append,
          GroupStateTimeout.NoTimeout)(step)
        .toDF("key", "id", "ts_sec", "x", "level_milli", "trend_milli",
          "forecast_milli")
    }
  }

  /** X21: streaming cumulative distinct — R85's running per-user count
    * of distinct event types, maintained incrementally: per-user state
    * is the SET of types seen (bounded by |event types|, not history),
    * each event emits its running count in Append mode. Ordered-replay
    * contract as [[streamingCusum]]; the gate shares R85's oracle.
    */
  def streamingCumulativeDistinct(spark: SparkSession, rows: DataFrame,
                                  queryName: String,
                                  rocksDb: Boolean = UseRocksDb): DataFrame = {
    import spark.implicits._
    val typed = rows.select(col("user_id").cast("long"),
        col("event_id").cast("long"), col("ts_sec").cast("long"),
        col("event_type").cast("string"))
      .orderBy(col("ts_sec"), col("event_id"))
      .coalesce(1) // one ordered file = ordered replay
      .as[(Long, Long, Long, String)]

    val step: (Long, Iterator[(Long, Long, Long, String)],
        GroupState[Set[String]]) => Iterator[(Long, Long, String, Long)] =
      (user, batch, state) => {
        var seen = state.getOption.getOrElse(Set.empty[String])
        val out = batch.toSeq.sortBy(r => (r._3, r._2)).map {
          case (_, eid, _, et) =>
            seen = seen + et
            (user, eid, et, seen.size.toLong)
        }
        state.update(seen)
        out.iterator
      }

    replay(spark, Seq(typed.toDF("user_id", "event_id", "ts_sec", "event_type")),
        queryName, "append", rocksDb) { (_, in) =>
      in.head.as[(Long, Long, Long, String)].groupByKey(_._1)
        .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout)(step)
        .toDF("user_id", "event_id", "event_type", "n_types_seen")
    }
  }

  /** X22: streaming longest streak — R91 maintained from FOUR scalars of
    * per-user state (current run type/length, best length/type under the
    * max-(len, type) tie rule); the final emit per user is the report
    * row. Update-mode last-emit-wins like [[streamingFunnel]].
    */
  def streamingLongestStreak(spark: SparkSession, rows: DataFrame,
                             queryName: String,
                             rocksDb: Boolean = UseRocksDb): DataFrame = {
    import spark.implicits._
    val typed = rows.select(col("user_id").cast("long"),
        col("event_id").cast("long"), col("ts_sec").cast("long"),
        col("event_type").cast("string"))
      .orderBy(col("ts_sec"), col("event_id"))
      .coalesce(1)
      .as[(Long, Long, Long, String)]

    // state: (curType, curLen, bestLen, bestType)
    val step: (Long, Iterator[(Long, Long, Long, String)],
        GroupState[(String, Long, Long, String)]) => (Long, Long, String) =
      (user, batch, state) => {
        var (curT, curL, bestL, bestT) =
          state.getOption.getOrElse(("", 0L, 0L, ""))
        batch.toSeq.sortBy(r => (r._3, r._2)).foreach { case (_, _, _, et) =>
          if (et == curT) curL += 1 else { curT = et; curL = 1 }
          if (curL > bestL || (curL == bestL && curT > bestT)) {
            bestL = curL; bestT = curT
          }
        }
        state.update((curT, curL, bestL, bestT))
        (user, bestL, bestT)
      }

    replay(spark, Seq(typed.toDF("user_id", "event_id", "ts_sec", "event_type")),
        queryName, "update", rocksDb) { (_, in) =>
      in.head.as[(Long, Long, Long, String)].groupByKey(_._1)
        .mapGroupsWithState(GroupStateTimeout.NoTimeout)(step)
        .toDF("user_id", "longest_streak", "streak_type")
    }
      // streak stats only grow → per user the max (len, type) emit is final
      .groupBy("user_id")
      .agg(max(struct(col("longest_streak"), col("streak_type"))).as("b"))
      .select(col("user_id"), col("b.longest_streak").as("longest_streak"),
        col("b.streak_type").as("streak_type"))
  }

  /** X23: streaming golden record — C31's survivorship merge maintained
    * from O(1) per-user state: latest event identity plus the latest
    * NON-NULL value and the running counts; each batch emits the current
    * golden row, last-emit-wins drain. Shares C31's oracle.
    */
  def streamingGoldenRecord(spark: SparkSession, rows: DataFrame,
                            queryName: String,
                            rocksDb: Boolean = UseRocksDb): DataFrame = {
    import spark.implicits._
    val typed = rows.select(col("user_id").cast("long"),
        col("event_id").cast("long"), col("ts_sec").cast("long"),
        col("event_type").cast("string"), col("cents_p").cast("long"))
      .orderBy(col("ts_sec"), col("event_id"))
      .coalesce(1)
      .as[(Long, Long, Long, String, Option[Long])]

    // state: (lastEid, lastType, lastCents (MinValue = none), n, nMissing)
    val step: (Long, Iterator[(Long, Long, Long, String, Option[Long])],
        GroupState[(Long, String, Long, Long, Long)]) =>
        (Long, Long, String, Option[Long], Long, Long) =
      (user, batch, state) => {
        var (eid, typ, cents, n, miss) =
          state.getOption.getOrElse((0L, "", Long.MinValue, 0L, 0L))
        batch.toSeq.sortBy(r => (r._3, r._2)).foreach {
          case (_, e, _, et, cp) =>
            eid = e; typ = et; n += 1
            cp match {
              case Some(v) => cents = v
              case None    => miss += 1
            }
        }
        state.update((eid, typ, cents, n, miss))
        (user, eid, typ,
          if (cents == Long.MinValue) None else Some(cents), n, miss)
      }

    replay(spark, Seq(typed.toDF(
        "user_id", "event_id", "ts_sec", "event_type", "cents_p")),
        queryName, "update", rocksDb) { (_, in) =>
      in.head.as[(Long, Long, Long, String, Option[Long])].groupByKey(_._1)
        .mapGroupsWithState(GroupStateTimeout.NoTimeout)(step)
        .toDF("user_id", "last_event_id", "last_event_type", "last_cents",
          "n_events", "n_missing")
    }
      // n_events only grows → per user the max-n emit is final
      .groupBy("user_id")
      .agg(max_by(struct(col("last_event_id"), col("last_event_type"),
        col("last_cents"), col("n_events"), col("n_missing")),
        col("n_events")).as("g"))
      .select(col("user_id"), col("g.last_event_id").as("last_event_id"),
        col("g.last_event_type").as("last_event_type"),
        col("g.last_cents").as("last_cents"),
        col("g.n_events").as("n_events"),
        col("g.n_missing").as("n_missing"))
  }

  /** X19: streaming first/last-touch attribution — the incremental twin
    * of the batch attribution report (R79). Per-user state is THREE
    * scalars (first touch type, last touch type + its ts), because both
    * models only ever need the earliest and the most recent preceding
    * touch; each purchase emits one attributed row (Append-mode flatMap)
    * computed from the state as of that event — exactly the batch
    * [−∞, −1] window-frame semantics. Under per-user (ts, event_id)
    * delivery (the X14/X15 ordered-replay contract) the emitted rows are
    * identical to the batch carries, so the gate aggregates them with the
    * SAME oracle as `q_attribution`.
    *
    * @param rows (user_id, event_id, ts_sec, event_type, cents)
    * @param horizonSec last-touch validity window (the gate: 7 days)
    * @return (user_id, event_id, first_touch, last_touch, cents) — one
    *         row per purchase
    */
  def streamingAttribution(spark: SparkSession, rows: DataFrame,
                           horizonSec: Long, queryName: String,
                           rocksDb: Boolean = UseRocksDb): DataFrame = {
    import spark.implicits._
    val typed = rows.select(col("user_id").cast("long"),
        col("event_id").cast("long"), col("ts_sec").cast("long"),
        col("event_type").cast("string"), col("cents").cast("long"))
      .orderBy(col("ts_sec"), col("event_id"))
      .coalesce(1) // one ordered file = ordered replay
      .as[(Long, Long, Long, String, Long)]

    // state: (firstType, lastTs, lastType); "" = unset
    val step: (Long, Iterator[(Long, Long, Long, String, Long)],
        GroupState[(String, Long, String)]) =>
        Iterator[(Long, Long, String, String, Long)] =
      (user, batch, state) => {
        var (firstT, lastTs, lastT) = state.getOption.getOrElse(("", 0L, ""))
        val out = scala.collection.mutable.ArrayBuffer
          .empty[(Long, Long, String, String, Long)]
        batch.toSeq.sortBy(r => (r._3, r._2)).foreach {
          case (_, eid, ts, et, cents) =>
            if (et == "purchase") {
              val last =
                if (lastT.nonEmpty && ts - lastTs <= horizonSec) lastT
                else "direct"
              val first = if (firstT.nonEmpty) firstT else "direct"
              out += ((user, eid, first, last, cents))
            } else if (et == "click" || et == "view") {
              if (firstT.isEmpty) firstT = et
              lastTs = ts
              lastT = et
            }
        }
        state.update((firstT, lastTs, lastT))
        out.iterator
      }

    replay(spark, Seq(typed.toDF("user_id", "event_id", "ts_sec", "event_type",
        "cents")), queryName, "append", rocksDb) { (_, in) =>
      in.head.as[(Long, Long, Long, String, Long)].groupByKey(_._1)
        .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout)(step)
        .toDF("user_id", "event_id", "first_touch", "last_touch", "cents")
    }
  }

  /** X24: streaming k-anonymity monitor — Q3's governance screen
    * maintained continuously: per (event_type, day) quasi-identifier
    * group the state is the distinct-user set, each batch emits the
    * group's current user count, and the drained snapshot aggregates to
    * the per-type risk report (groups, groups below `k`, smallest
    * group). Counts only GROW, so update-mode max-per-group is the final
    * state — batch-equivalent to [[graft.QueriesR7.dqKAnonymity]] and
    * gated on its oracle.
    *
    * State is exact (the report's min/count-below-k must be exact); a
    * group's set is bounded by its user population, the same bound the
    * batch countDistinct shuffles. For release-gating over unbounded
    * groups the KMV day-sketch path (streamingDayKmv) is the bounded
    * companion — this monitor is the exact one.
    *
    * @param rows (event_type, day, user_id) — order-insensitive
    * @param k    anonymity threshold: a group with < k users is risky
    */
  def streamingKAnonymity(spark: SparkSession, rows: DataFrame, k: Int,
                          queryName: String,
                          rocksDb: Boolean = UseRocksDb): DataFrame = {
    import spark.implicits._
    val typed = rows.select(col("event_type").cast("string"),
        col("day").cast("long"), col("user_id").cast("long"))
      .as[(String, Long, Long)]

    val step: ((String, Long), Iterator[(String, Long, Long)],
        GroupState[Set[Long]]) => (String, Long, Long) =
      (key, batch, state) => {
        var seen = state.getOption.getOrElse(Set.empty[Long])
        batch.foreach { case (_, _, uid) => seen = seen + uid }
        state.update(seen)
        (key._1, key._2, seen.size.toLong)
      }

    replay(spark, Seq(typed.toDF("event_type", "day", "user_id")), queryName,
        "update", rocksDb) { (_, in) =>
      in.head.as[(String, Long, Long)].groupByKey(r => (r._1, r._2))
        .mapGroupsWithState(GroupStateTimeout.NoTimeout)(step)
        .toDF("event_type", "day", "n_users")
    }
      // group counts only grow → the max emit per group is its final state
      .groupBy(col("event_type"), col("day"))
      .agg(max(col("n_users")).as("n_users"))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_groups"),
        sum(when(col("n_users") < k, 1L).otherwise(0L)).as("n_risky_groups"),
        min(col("n_users")).as("min_group_users"))
  }

  /** X30: streaming total-variation drift monitor — R122's exact TV
    * distance maintained from ONE LONG of state per (group, category,
    * side) cell (the running count); each batch emits the cell's
    * current count, update-mode max-per-cell is the final snapshot
    * (counts only grow), and the drained cell table flows through the
    * SAME batch tail ([[graft.operators.RankStats.tvFromCells]]), so
    * streaming ≡ batch holds by construction and X30 shares R122's
    * oracle verbatim. O(groups × categories) total state — the live
    * "did this feed's mix drift from the reference population" alarm.
    *
    * @param rows (grp, cat, s) — side s true = population A
    */
  def streamingDriftTv(spark: SparkSession, rows: DataFrame,
                       queryName: String,
                       rocksDb: Boolean = UseRocksDb): DataFrame = {
    import spark.implicits._
    val typed = rows.select(col("grp").cast("string"),
        col("cat").cast("string"), col("s").cast("boolean"))
      .as[(String, String, Boolean)]

    val step: ((String, String, Boolean),
        Iterator[(String, String, Boolean)], GroupState[Long]) =>
        (String, String, Boolean, Long) =
      (key, batch, state) => {
        val n = state.getOption.getOrElse(0L) + batch.size.toLong
        state.update(n)
        (key._1, key._2, key._3, n)
      }

    // localCheckpoint: the TV tail self-joins the cell table, and a
    // MemorySink plan reused on both sides trips Catalyst's conflicting-
    // reference check — breaking lineage gives each side fresh attrs
    val cells = replay(spark, Seq(typed.toDF("grp", "cat", "s")), queryName,
        "update", rocksDb) { (_, in) =>
      in.head.as[(String, String, Boolean)].groupByKey(identity)
        .mapGroupsWithState(GroupStateTimeout.NoTimeout)(step)
        .toDF("grp", "cat", "s", "n_emit")
    }
      .groupBy(col("grp"), col("cat"), col("s"))
      .agg(max(col("n_emit")).as("n"))
      .groupBy(col("grp"), col("cat"))
      .agg(sum(when(col("s"), col("n")).otherwise(0L)).as("c_a"),
        sum(when(!col("s"), col("n")).otherwise(0L)).as("c_b"))
      .localCheckpoint()
    graft.operators.RankStats.tvFromCells(cells)
  }

  /** X34: streaming Welch monitor — R141's exact two-sample t²
    * maintained from THREE longs of state per (group, side) cell
    * (n, Σx, Σx²); each batch emits the cell's current moments,
    * update-mode max_by-n per cell is the final snapshot (n only
    * grows), and the drained moment cells flow through the SAME batch
    * tail ([[graft.operators.RankStats.welchFromMoments]]) — streaming
    * ≡ batch by construction, X34 shares R141's oracle verbatim. State
    * is O(groups × 2): the live "did the two feeds' means split" alarm
    * next to X30's mix-drift and X31's quantile-shift monitors.
    *
    * @param rows (grp, s, v) — side s true = population A
    */
  def streamingWelch(spark: SparkSession, rows: DataFrame,
                     queryName: String,
                     rocksDb: Boolean = UseRocksDb): DataFrame = {
    import spark.implicits._
    val typed = rows.select(col("grp").cast("string"),
        col("s").cast("boolean"), col("v").cast("long"))
      .as[(String, Boolean, Long)]

    val update: ((String, Boolean), Iterator[(String, Boolean, Long)],
        GroupState[(Long, Long, Long)]) =>
        (String, Boolean, Long, Long, Long) = (key, batch, state) => {
      var (n, sx, qx) = state.getOption.getOrElse((0L, 0L, 0L))
      batch.foreach { case (_, _, v) => n += 1; sx += v; qx += v * v }
      state.update((n, sx, qx))
      (key._1, key._2, n, sx, qx)
    }

    // localCheckpoint: the Welch tail splits the cell table into the
    // two sides and full-outer-joins them — a MemorySink plan reused
    // on both sides trips Catalyst's conflicting-reference check
    val cells = replay(spark, Seq(typed.toDF("grp", "s", "v")), queryName,
        "update", rocksDb) { (_, in) =>
      in.head.as[(String, Boolean, Long)].groupByKey(r => (r._1, r._2))
        .mapGroupsWithState(GroupStateTimeout.NoTimeout)(update)
        .toDF("grp", "s", "n", "sx", "qx")
    }
      .groupBy(col("grp"), col("s"))
      .agg(max(col("n")).as("n"), max_by(col("sx"), col("n")).as("sx"),
        max_by(col("qx"), col("n")).cast("decimal(38,0)").as("qx"))
      .localCheckpoint()
    graft.operators.RankStats.welchFromMoments(cells)
  }

  /** X36: streaming net-change squash — C35 maintained from
    * order-INDEPENDENT per-key state: (n, minSeq, opAtMin, maxSeq,
    * opAtMax, payloadAtMax). Because the state tracks the sequence
    * extremes rather than arrival order, NO ordered-delivery contract
    * is needed (unlike X14) — late events fold in correctly; the
    * drained snapshot flows through the IDENTICAL
    * [[graft.cdc.Cdc.netDecision]] tail, so streaming ≡ batch and X36
    * shares C35's oracle verbatim. O(1) state per live key — the
    * continuously-maintained "what would this batch window net to"
    * view of a CDC feed.
    *
    * @param rows (key: long, seq: long, op: string, payload: long)
    */
  def streamingNetChanges(spark: SparkSession, rows: DataFrame,
                          queryName: String,
                          rocksDb: Boolean = UseRocksDb): DataFrame = {
    import spark.implicits._
    val typed = rows.select(col("key").cast("long"), col("seq").cast("long"),
        col("op").cast("string"), col("payload").cast("long"))
      .as[(Long, Long, String, Long)]

    val update: (Long, Iterator[(Long, Long, String, Long)],
        GroupState[(Long, Long, String, Long, String, Long)]) =>
        (Long, Long, String, String, Long) = (key, batch, state) => {
      var (n, fs, fo, ls, lo, lp) = state.getOption
        .getOrElse((0L, Long.MaxValue, "", Long.MinValue, "", 0L))
      batch.foreach { case (_, seq, op, pl) =>
        n += 1
        if (seq < fs) { fs = seq; fo = op }
        if (seq > ls) { ls = seq; lo = op; lp = pl }
      }
      state.update((n, fs, fo, ls, lo, lp))
      (key, n, fo, lo, lp)
    }

    val snap = replay(spark, Seq(typed.toDF("key", "seq", "op", "payload")),
        queryName, "update", rocksDb) { (_, in) =>
      in.head.as[(Long, Long, String, Long)].groupByKey(_._1)
        .mapGroupsWithState(GroupStateTimeout.NoTimeout)(update)
        .toDF("key", "n_ops", "first_op", "last_op", "__pl")
    }
      .groupBy(col("key"))
      .agg(max(col("n_ops")).as("n_ops"),
        max_by(col("first_op"), col("n_ops")).as("first_op"),
        max_by(col("last_op"), col("n_ops")).as("last_op"),
        max_by(col("__pl"), col("n_ops")).as("__pl"))
    graft.cdc.Cdc.netDecision(snap)
  }

  /** X35: streaming score-quality monitor — R150/R151's Brier + ECE
    * maintained from FIVE longs of state per (group, bin) cell
    * (n, Σp, Σp², Σy, Σp·y); update-mode max_by-n snapshot drains
    * through the IDENTICAL
    * [[graft.operators.Eval.scoreQualityFromCells]] batch tail —
    * streaming ≡ batch by construction, shares the batch oracle
    * verbatim. O(groups × bins) state: the live "is the model drifting
    * off calibration" alarm. Headroom: Σp² stays in int64 up to ~9·10⁶
    * rows per cell at full-confidence scores — stated.
    *
    * @param rows (grp, y, p) — p in ppm
    */
  def streamingScoreQuality(spark: SparkSession, rows: DataFrame, bins: Int,
                            queryName: String,
                            rocksDb: Boolean = UseRocksDb): DataFrame = {
    require(bins >= 2, s"bins must be >= 2, got $bins")
    import spark.implicits._
    val typed = rows.select(col("grp").cast("string"),
        col("y").cast("boolean"), col("p").cast("long"))
      .as[(String, Boolean, Long)]

    val update: ((String, Long), Iterator[(String, Long, Boolean, Long)],
        GroupState[(Long, Long, Long, Long, Long)]) =>
        (String, Long, Long, Long, Long, Long, Long) = (key, batch, state) => {
      var (n, sp, sp2, sy, spy) = state.getOption.getOrElse((0L, 0L, 0L, 0L, 0L))
      batch.foreach { case (_, _, y, p) =>
        n += 1; sp += p; sp2 += p * p
        if (y) { sy += 1; spy += p }
      }
      state.update((n, sp, sp2, sy, spy))
      (key._1, key._2, n, sp, sp2, sy, spy)
    }

    val cells = replay(spark, Seq(typed.toDF("grp", "y", "p")), queryName,
        "update", rocksDb) { (_, in) =>
      in.head.as[(String, Boolean, Long)]
        .map { case (g, y, p) =>
          (g, math.min(p * bins / 1000000L, bins - 1L), y, p)
        }
        .groupByKey(r => (r._1, r._2))
        .mapGroupsWithState(GroupStateTimeout.NoTimeout)(update)
        .toDF("grp", "bin", "n", "sp", "sp2", "sy", "spy")
    }
      .groupBy(col("grp"), col("bin"))
      .agg(max(col("n")).as("n"), max_by(col("sp"), col("n")).as("sp"),
        max_by(col("sp2"), col("n")).cast("decimal(38,0)").as("sp2"),
        max_by(col("sy"), col("n")).as("sy"),
        max_by(col("spy"), col("n")).as("spy"))
      .localCheckpoint()
    graft.operators.Eval.scoreQualityFromCells(cells)
  }

  /** X31: streaming quantile-shift monitor — R129's two-sample type-1
    * quantile report maintained from ONE long of state per
    * (group, side, value) grid cell; update-mode max-per-cell is the
    * final snapshot (counts only grow) and the drained cell grid flows
    * through the SAME batch tail
    * ([[graft.operators.RankStats.quantileShiftFromCells]]) — streaming
    * ≡ batch by construction, X31 shares R129's oracle verbatim. State
    * is O(groups × values): the value-grid contract (bounded-cardinality
    * scores) is what bounds it. The live "did P99 move" alarm.
    *
    * @param rows (grp, s, v) — side s true = population A
    * @param ps   probabilities in ppm
    */
  def streamingQuantileShift(spark: SparkSession, rows: DataFrame,
                             ps: Seq[Long], queryName: String,
                             rocksDb: Boolean = UseRocksDb): DataFrame = {
    import spark.implicits._
    val typed = rows.select(col("grp").cast("string"),
        col("s").cast("boolean"), col("v").cast("long"))
      .as[(String, Boolean, Long)]

    val step: ((String, Boolean, Long), Iterator[(String, Boolean, Long)],
        GroupState[Long]) => (String, Boolean, Long, Long) =
      (key, batch, state) => {
        val n = state.getOption.getOrElse(0L) + batch.size.toLong
        state.update(n)
        (key._1, key._2, key._3, n)
      }

    // localCheckpoint: the quantile tail windows + self-references the
    // MemorySink snapshot — break lineage as in streamingDriftTv
    val cells = replay(spark, Seq(typed.toDF("grp", "s", "v")), queryName,
        "update", rocksDb) { (_, in) =>
      in.head.as[(String, Boolean, Long)].groupByKey(identity)
        .mapGroupsWithState(GroupStateTimeout.NoTimeout)(step)
        .toDF("grp", "s", "v", "n_emit")
    }
      .groupBy(col("grp"), col("s"), col("v"))
      .agg(max(col("n_emit")).as("n"))
      .groupBy(col("grp"), col("v"))
      .agg(sum(when(col("s"), col("n")).otherwise(0L)).as("c_a"),
        sum(when(!col("s"), col("n")).otherwise(0L)).as("c_b"))
      .localCheckpoint()
    graft.operators.RankStats.quantileShiftFromCells(cells, ps)
  }

  /** X33: streaming log-rank monitor — R132's survival A/B test
    * maintained from ONE long of state per (group, time, side, event)
    * cell; update-mode max-per-cell is the final snapshot (counts only
    * grow) and the drained cells pivot into the grid the SAME batch
    * tail consumes ([[graft.operators.Survival.logRankFromGrid]]) —
    * streaming ≡ batch by construction, X33 shares R132's oracle
    * verbatim. State is O(groups × time-grid × 4): the live "is the
    * treatment arm's survival curve diverging" alarm.
    *
    * @param rows (grp, s, t, obs)
    */
  def streamingLogRank(spark: SparkSession, rows: DataFrame,
                       queryName: String,
                       rocksDb: Boolean = UseRocksDb): DataFrame = {
    import spark.implicits._
    val typed = rows.select(col("grp").cast("string"),
        col("s").cast("boolean"), col("t").cast("long"),
        col("obs").cast("boolean"))
      .as[(String, Boolean, Long, Boolean)]

    val step: ((String, Boolean, Long, Boolean),
        Iterator[(String, Boolean, Long, Boolean)], GroupState[Long]) =>
        (String, Boolean, Long, Boolean, Long) =
      (key, batch, state) => {
        val n = state.getOption.getOrElse(0L) + batch.size.toLong
        state.update(n)
        (key._1, key._2, key._3, key._4, n)
      }

    // localCheckpoint: the log-rank tail windows + joins the snapshot
    // twice — break the MemorySink lineage as in streamingDriftTv
    val grid = replay(spark, Seq(typed.toDF("grp", "s", "t", "obs")), queryName,
        "update", rocksDb) { (_, in) =>
      in.head.as[(String, Boolean, Long, Boolean)].groupByKey(identity)
        .mapGroupsWithState(GroupStateTimeout.NoTimeout)(step)
        .toDF("grp", "s", "t", "obs", "n_emit")
    }
      .groupBy(col("grp"), col("s"), col("t"), col("obs"))
      .agg(max(col("n_emit")).as("n"))
      .groupBy(col("grp"), col("t"))
      .agg(sum(col("n")).as("arr"),
        sum(when(col("s"), col("n")).otherwise(0L)).as("arr_a"),
        sum(when(col("obs"), col("n")).otherwise(0L)).as("d"),
        sum(when(col("s") && col("obs"), col("n")).otherwise(0L))
          .as("d_a"))
      .localCheckpoint()
    graft.operators.Survival.logRankFromGrid(grid)
  }

  /** X25: streaming class-balance monitor — R83's label-share/Gini
    * report maintained from ONE LONG of state per label (the running
    * count); each batch emits the label's current count, update-mode
    * max-per-label is the final snapshot (counts only grow), and the
    * drained snapshot derives shares and the Gini impurity exactly as
    * the batch report does. O(|labels|) total state — the live
    * "did the ingest skew my training mix" alarm next to X24's
    * re-identification alarm. Shares R83's oracle.
    */
  def streamingClassBalance(spark: SparkSession, rows: DataFrame,
                            queryName: String,
                            rocksDb: Boolean = UseRocksDb): DataFrame = {
    import spark.implicits._
    val typed = rows.select(col("label").cast("long")).as[Long]

    val step: (Long, Iterator[Long], GroupState[Long]) => (Long, Long) =
      (label, batch, state) => {
        val n = state.getOption.getOrElse(0L) + batch.size.toLong
        state.update(n)
        (label, n)
      }

    val w = org.apache.spark.sql.expressions.Window.partitionBy()
    replay(spark, Seq(typed.toDF("label")), queryName, "update", rocksDb) { (_, in) =>
      in.head.as[Long].groupByKey(identity)
        .mapGroupsWithState(GroupStateTimeout.NoTimeout)(step)
        .toDF("label", "n_emit")
    }
      .groupBy(col("label")).agg(max(col("n_emit")).as("n"))
      .withColumn("n_total", sum(col("n")).over(w))
      .withColumn("share_ppm", expr("n * 1000000 div n_total"))
      .withColumn("gini_ppm",
        expr("1000000 - sum(n * n) OVER () * 1000000 div (n_total * n_total)"))
      .select(col("label"), col("n"), col("share_ppm"), col("gini_ppm"))
  }

  /** X26: streaming backfill-gap monitor — C28's planner maintained
    * continuously: per event_type the state is the observed-hour SET
    * (bounded by the span; a production horizon caps/bitmaps it), each
    * batch re-derives the gap report for that type, and the LATEST emit
    * per type (update counter in the emit, not arrival order) is the
    * final snapshot. The live "is my feed developing holes" alarm;
    * shares C28's oracle (types with no gaps are absent, as there).
    *
    * Gap stats are NOT monotone (a late hour can close a gap), so the
    * drain keys on the per-type update counter rather than a max over
    * stats — deterministic under any micro-batch split.
    */
  def streamingBackfillGaps(spark: SparkSession, rows: DataFrame,
                            queryName: String,
                            rocksDb: Boolean = UseRocksDb): DataFrame = {
    import spark.implicits._
    val typed = rows.select(col("event_type").cast("string"),
      col("hr").cast("long")).as[(String, Long)]

    // state: (observed hours, update counter)
    val step: (String, Iterator[(String, Long)],
        GroupState[(Set[Long], Long)]) =>
        (String, Long, Long, Long, Option[Long], Option[Long]) =
      (et, batch, state) => {
        var (seen, ver) = state.getOption.getOrElse((Set.empty[Long], 0L))
        batch.foreach { case (_, h) => seen = seen + h }
        ver += 1
        state.update((seen, ver))
        val lo = seen.min
        val hi = seen.max
        val missing = (lo to hi).filterNot(seen)
        (et, ver, hi - lo + 1,
          missing.size.toLong, missing.headOption, missing.lastOption)
      }

    replay(spark, Seq(typed.toDF("event_type", "hr")), queryName, "update",
        rocksDb) { (_, in) =>
      in.head.as[(String, Long)].groupByKey(_._1)
        .mapGroupsWithState(GroupStateTimeout.NoTimeout)(step)
        .toDF("event_type", "ver", "n_slot_hours", "n_missing_hours",
          "first_missing_hr", "last_missing_hr")
    }
      // latest state per type = the max update counter's emit
      .groupBy(col("event_type"))
      .agg(max(struct(col("ver"), col("n_slot_hours"),
        col("n_missing_hours"), col("first_missing_hr"),
        col("last_missing_hr"))).as("s"))
      .filter(col("s.n_missing_hours") > 0)
      .select(col("event_type"), col("s.n_slot_hours").as("n_slot_hours"),
        col("s.n_missing_hours").as("n_missing_hours"),
        col("s.first_missing_hr").as("first_missing_hr"),
        col("s.last_missing_hr").as("last_missing_hr"))
  }

  /** X28: streaming record-linkage scoring — D16's Fellegi–Sunter
    * decision layer run as arrivals enrich against a broadcast static
    * reference (the X6 shape): each micro-batch blocks on `blockCol`,
    * the caller's `score` stage (typically a `Linkage.score` pipeline
    * with an id-ordering filter) turns pair rows into decisions, and
    * matches APPEND to the sink — stateless, because each arrival meets
    * the full reference exactly once and an id-ordering predicate keeps
    * self-linkage pairs unique across batches. The live "is this
    * incoming record a duplicate of something we already have" gate.
    */
  def streamingLinkage(spark: SparkSession, arrivals: DataFrame,
                       staticRef: DataFrame, blockCol: String,
                       score: DataFrame => DataFrame,
                       queryName: String): DataFrame = {
    // staged as MULTIPLE files (r14): a single-file arrival table made
    // the micro-batch's broadcast block-join + score pipeline run as
    // ONE task (measured 5.3 s serial at sf0.1). The join is stateless
    // append, so file layout changes parallelism only, never the
    // decision set. Hash layout over the full row keeps the staging
    // deterministic; the block column alone is too coarse (25 nations).
    val staged = arrivals.repartition(
      spark.sparkContext.defaultParallelism,
      arrivals.columns.map(col).toIndexedSeq: _*)
    replay(spark, Seq(staged), queryName, "append") { (_, in) =>
      score(in.head.join(broadcast(staticRef), Seq(blockCol)))
    }
  }

  /** X37: streaming spatial enrich — arriving points emit every static
    * reference point (depot/store/cell tower) within Euclidean distance
    * r, as they arrive. The R156 grid shape with the streaming side
    * replicated: each arrival explodes into its 3×3 cell neighborhood
    * (a per-row generator — stateless), the reference's home-cell table
    * BROADCASTS, and the exact integer distance predicate filters the
    * fan-in. Stateless ⇒ append mode ⇒ appended pairs ≡ the batch join
    * bit-for-bit regardless of micro-batching — no watermark, no state
    * store, O(1) per arrival beyond the 9× key replication.
    *
    * Unlike the bounded-report streaming gates, the PAIR output here is
    * data-sized (points × in-radius refs), so it must never pass through
    * the driver: the stream sinks to a parquet FILE sink (exactly-once,
    * executor-parallel) and the result is read back as a distributed
    * scan — the shape a 100 TB deployment would use. The r7 memory-sink
    * form collected ~5M rows onto the driver at sf0.1 (32 s of the
    * round's bench; an OOM at scale).
    *
    * @param points (id, x, y) arrivals; ref (id, x, y) static reference
    * @return (id, ref_id, dist_sq) for every in-radius pair
    */
  def streamingSpatialEnrich(spark: SparkSession, points: DataFrame,
                             ref: DataFrame, r: Long,
                             queryName: String): DataFrame = {
    require(r >= 1, s"radius must be >= 1, got $r")
    // staged as MULTIPLE files (r14): the point table arrives as one
    // parquet file, so the single micro-batch's 9× grid explode +
    // broadcast probe ran as ONE task (measured 1.9 s serial); the join
    // is stateless, so file layout changes parallelism only, never the
    // pair set. Hash layout on id keeps the staging deterministic.
    val arrivals = points.select(col("id").cast("long").as("id"),
      col("x").cast("long").as("x"), col("y").cast("long").as("y"))
      .repartition(spark.sparkContext.defaultParallelism, col("id"))
    def cx(c: Column) = floor(c / r).cast("long")
    val home = ref.select(col("id").cast("long").as("ref_id"),
      col("x").cast("long").as("xr"), col("y").cast("long").as("yr"))
      .withColumn("gx", cx(col("xr"))).withColumn("gy", cx(col("yr")))
    // the output dir stays: the result below reads it lazily
    val outDir = Files.createTempDirectory(s"graft_${queryName}_out").toString
    run(spark, Seq(arrivals), _.outputMode("append")
      .format("parquet").option("path", s"$outDir/out")
      .option("checkpointLocation", s"$outDir/ckpt")
      .queryName(queryName)) { (_, in) =>
      in.head
        .withColumn("dx", explode(array(lit(-1L), lit(0L), lit(1L))))
        .withColumn("dy", explode(array(lit(-1L), lit(0L), lit(1L))))
        .select(col("id"), col("x"), col("y"),
          (cx(col("x")) + col("dx")).as("gx"),
          (cx(col("y")) + col("dy")).as("gy"))
        .join(broadcast(home), Seq("gx", "gy"))
        .withColumn("dist_sq",
          (col("x") - col("xr")) * (col("x") - col("xr")) +
            (col("y") - col("yr")) * (col("y") - col("yr")))
        .filter(col("dist_sq") <= r * r)
        .select(col("id"), col("ref_id"), col("dist_sq"))
    }
    spark.read.parquet(s"$outDir/out")
  }

  /** X38: streaming k-means centroid update — the first Lloyd pass of
    * D19 as vectors arrive. The SEED centroids stay a DataFrame: the
    * static side folds them into ONE row (`collect_list` of (cid, cx)
    * structs) that broadcast-cross-joins into the stream — executor
    * memory only, no driver collect, and the query PLAN carries no
    * literal that grows with the corpus (the r6 verdict's scale flag:
    * the literal formulation embedded every seed in the plan, a driver
    * OOM at 10⁹ vectors; a spec now pins the plan-literal shape).
    * Each arrival's assignment is still a PURE per-row expression:
    * distances via `zip_with`+`aggregate` over the joined array, argmin
    * via `array_min` on (dist, cid) structs — the (d, cid) struct order
    * IS the house tie-break, no window, no per-key state.
    * The only stateful stage is the (cid, dim) running-sum aggregate —
    * O(k·dim) state regardless of stream length, order-independent by
    * commutativity, drained in complete mode. Post-drain the snapshot
    * reduces to centroids by the sign-carried integer mean, identical
    * to the batch c1 table bit-for-bit.
    *
    * Scale note: the one-row centroid array is k·dim longs on the
    * executors — the same working set the batch Lloyd broadcast join
    * carries; pair a data-proportional corpus with a FIXED k seeding
    * ([[graft.similarity.KMeans.seedsTopK]]) so it stays metadata-sized.
    *
    * @param vecs (vec_id, embedding: array&lt;float&gt;)
    * @return (cid, dim (1-based), cx_milli) — the updated centroids
    */
  def streamingKmeansUpdate(spark: SparkSession, vecs: DataFrame,
                            seedMod: Long, queryName: String): DataFrame = {
    require(seedMod >= 1, s"seedMod must be >= 1, got $seedMod")
    streamingKmeansUpdateWith(spark, vecs,
      _.filter(col("vec_id") % seedMod === 0), queryName)
  }

  /** [[streamingKmeansUpdate]] seeded by an explicit id set — the
    * fixed-k production form (pair with
    * [[graft.similarity.KMeans.seedsTopK]]).
    */
  def streamingKmeansUpdateSeeded(spark: SparkSession, vecs: DataFrame,
                                  seeds: DataFrame,
                                  queryName: String): DataFrame =
    streamingKmeansUpdateWith(spark, vecs,
      _.join(broadcast(seeds.select(col("vec_id"))), Seq("vec_id")),
      queryName)

  private def streamingKmeansUpdateWith(spark: SparkSession, vecs: DataFrame,
                                        seed: DataFrame => DataFrame,
                                        queryName: String): DataFrame = {
    val arr = vecs.select(col("vec_id").cast("long").as("vec_id"),
      transform(col("embedding").cast("array<double>"),
        x => floor(x * 1000).cast("long")).as("xs"))
    // one-row static side: the centroid set as data, never a plan literal
    val seedSet = seed(arr)
    require(!seedSet.isEmpty, "no seed centroids under the seed rule")
    val centRow = seedSet
      .agg(sort_array(collect_list(struct(col("vec_id").as("cid"),
        col("xs").as("cx")))).as("__cents"))
    replay(spark, Seq(arr), queryName, "complete") { (_, in) =>
      in.head.crossJoin(broadcast(centRow))
        .withColumn("__best", array_min(expr(
          """transform(__cents, c -> struct(
            |  aggregate(zip_with(xs, c.cx, (a, b) -> (a - b) * (a - b)),
            |    0L, (acc, e) -> acc + e) AS d,
            |  c.cid AS cid))""".stripMargin)))
        .select(col("__best.cid").as("cid"), posexplode(col("xs")))
        .groupBy(col("cid"), col("pos"))
        .agg(sum(col("col")).as("s"), count(lit(1)).as("n"))
    }
      .select(col("cid"), (col("pos") + 1).cast("long").as("dim"),
        when(col("s") >= 0, expr("s div n"))
          .otherwise(-expr("(-s) div n")).as("cx_milli"))
  }

  /** X27: streaming backfill-HORIZON monitor — [[streamingBackfillGaps]]
    * bounded to the trailing `horizon` hours with O(horizon) bitmap
    * state: per event_type the state is (loSeen, hiSeen, bitmap, ver)
    * where bit i (word i/64, position i%64) records presence of hour
    * (hiSeen − i). X26's state is the full observed-hour set (grows
    * with stream lifetime); here a year-old feed costs the same
    * ⌈horizon/64⌉ words per key as a day-old one — the shape that
    * survives an unbounded stream. Late hours still close gaps exactly:
    * an hour inside the final window has offset < horizon from every
    * intermediate maximum it follows, so its bit survives every shift.
    *
    * The report is the gap scan of the window [max(loSeen, hiSeen −
    * horizon + 1), hiSeen] — keys whose trailing window is complete are
    * absent, like X26. Non-monotone for the same reason, so the drain
    * keys on the per-type update counter.
    *
    * @param horizon trailing window size in hours (≤ 64 packs into one
    *                int64 word; larger horizons widen the word array)
    */
  def streamingBackfillHorizon(spark: SparkSession, rows: DataFrame,
                               horizon: Int, queryName: String,
                               rocksDb: Boolean = UseRocksDb): DataFrame = {
    require(horizon >= 1 && horizon <= 4096,
      s"horizon must be in [1, 4096], got $horizon")
    import spark.implicits._
    val typed = rows.select(col("event_type").cast("string"),
      col("hr").cast("long")).as[(String, Long)]

    val nWords = (horizon + 63) >> 6
    val capacity = nWords.toLong * 64
    def shl(a: Array[Long], s: Long): Array[Long] = {
      val out = new Array[Long](nWords)
      if (s < capacity) {
        val ws = (s >> 6).toInt
        val bs = (s & 63).toInt
        var j = nWords - 1
        while (j >= ws) {
          val low = a(j - ws)
          val carry =
            if (bs == 0 || j - ws - 1 < 0) 0L
            else a(j - ws - 1) >>> (64 - bs)
          out(j) = (if (bs == 0) low else low << bs) | carry
          j -= 1
        }
      }
      out
    }
    def setBit(a: Array[Long], i: Long): Unit =
      if (i >= 0 && i < capacity) a((i >> 6).toInt) |= 1L << (i & 63)
    def getBit(a: Array[Long], i: Long): Boolean =
      ((a((i >> 6).toInt) >>> (i & 63)) & 1L) == 1L

    // state: (loSeen, hiSeen, bits, ver); bit i of bits = hour (hiSeen-i)
    val step: (String, Iterator[(String, Long)],
        GroupState[(Long, Long, Array[Long], Long)]) =>
        (String, Long, Long, Long, Option[Long], Option[Long]) =
      (et, batch, state) => {
        var (lo, hi, bits, ver) = state.getOption
          .getOrElse((0L, Long.MinValue, new Array[Long](nWords), 0L))
        batch.foreach { case (_, h) =>
          if (hi == Long.MinValue) { lo = h; hi = h; setBit(bits, 0L) }
          else if (h > hi) {
            bits = shl(bits, h - hi)
            setBit(bits, 0L)
            hi = h
          } else setBit(bits, hi - h)
          if (h < lo) lo = h
        }
        ver += 1
        state.update((lo, hi, bits, ver))
        val wlo = math.max(lo, hi - horizon + 1)
        val n = (hi - wlo + 1).toInt
        var firstMiss = Option.empty[Long]
        var lastMiss = Option.empty[Long]
        var nMiss = 0L
        var i = n - 1 // oldest window hour first
        while (i >= 0) {
          if (!getBit(bits, i.toLong)) {
            val hrMiss = hi - i
            if (firstMiss.isEmpty) firstMiss = Some(hrMiss)
            lastMiss = Some(hrMiss)
            nMiss += 1
          }
          i -= 1
        }
        (et, ver, n.toLong, nMiss, firstMiss, lastMiss)
      }

    replay(spark, Seq(typed.toDF("event_type", "hr")), queryName, "update",
        rocksDb) { (_, in) =>
      in.head.as[(String, Long)].groupByKey(_._1)
        .mapGroupsWithState(GroupStateTimeout.NoTimeout)(step)
        .toDF("event_type", "ver", "n_window_hours", "n_missing_hours",
          "first_missing_hr", "last_missing_hr")
    }
      .groupBy(col("event_type"))
      .agg(max(struct(col("ver"), col("n_window_hours"),
        col("n_missing_hours"), col("first_missing_hr"),
        col("last_missing_hr"))).as("s"))
      .filter(col("s.n_missing_hours") > 0)
      .select(col("event_type"),
        col("s.n_window_hours").as("n_window_hours"),
        col("s.n_missing_hours").as("n_missing_hours"),
        col("s.first_missing_hr").as("first_missing_hr"),
        col("s.last_missing_hr").as("last_missing_hr"))
  }

  /** X43: replay a staged message bus ([[BusSource]]) through a
    * consumer pipeline and drain its COMPLETE-mode result — the gate
    * harness for the bus arrival path. Unlike every other X gate's
    * `coalesce(1)` parquet replay (a deliberate ordered-delivery
    * determinism contract), the bus delivers from MULTIPLE partitions
    * in parallel with only per-partition ordering — so the pipelines
    * it gates must be order-independent aggregates, and passing here
    * proves exactly that under real multi-partition input.
    * `maxRowsPerTrigger` forces the replay through several
    * micro-batches (admission control), so incremental state
    * maintenance is exercised too, not one big batch.
    */
  def busReplay(spark: SparkSession, bus: String, maxRowsPerTrigger: Long,
                queryName: String)(pipe: DataFrame => DataFrame): DataFrame =
    sourceReplay(spark, "graft.streaming.BusSourceProvider", Map("path" -> bus),
      maxRowsPerTrigger, queryName)(pipe)

  /** [[busReplay]] over the NETWORK transport ([[SocketBusProvider]]):
    * same admission control and termination contract, arrivals fetched
    * from a TCP broker by the executor tasks.
    */
  def socketBusReplay(spark: SparkSession, host: String, port: Int,
                      maxRowsPerTrigger: Long, queryName: String)
                     (pipe: DataFrame => DataFrame): DataFrame =
    sourceReplay(spark, "graft.streaming.SocketBusProvider",
      Map("host" -> host, "port" -> port.toString), maxRowsPerTrigger,
      queryName)(pipe)

  /** [[socketBusReplay]]'s twin over the KAFKA wire protocol ([[KafkaWire]]):
    * same admission control, same offsets, rows fetched as
    * message-format-v2 RecordBatches through per-task broker
    * connections.
    */
  def kafkaBusReplay(spark: SparkSession, host: String, port: Int,
                     topic: String, maxRowsPerTrigger: Long,
                     queryName: String)
                    (pipe: DataFrame => DataFrame): DataFrame =
    sourceReplay(spark, KafkaFormat, kafkaOptions(host, port, topic),
      maxRowsPerTrigger, queryName)(pipe)

  /** [[kafkaBusReplay]] seeking its START by record CREATE-TIME (r10b):
    * first offsets come from the broker's ListOffsets time lookup
    * (`offsetsForTimes`), and rows carry the wire `timestamp` column —
    * the replay-the-suffix-since-T consumer shape.
    */
  def kafkaBusReplayFrom(spark: SparkSession, host: String, port: Int,
                         topic: String, startTimestamp: Long,
                         maxRowsPerTrigger: Long, queryName: String)
                        (pipe: DataFrame => DataFrame): DataFrame =
    sourceReplay(spark, KafkaFormat, kafkaOptions(host, port, topic) ++ Map(
      "startTimestamp" -> startTimestamp.toString, "includeTimestamp" -> "true"),
      maxRowsPerTrigger, queryName)(pipe)

  /** X57 (r11): consumer-group kill-and-resume over the Kafka wire —
    * NO checkpoint directory carries state between the two queries;
    * the GROUP's broker-committed offsets do.
    *
    * Phase 1: a consumer in `groupId` with `maxRowsPerTrigger`
    * admission processes exactly ONE micro-batch (its end offsets
    * auto-commit to the coordinator on batch completion), then DIES
    * mid-topic — the second batch throws inside foreachBatch, the
    * simulated crash every group-offset design exists for. Phase 2: a
    * FRESH query (new session, new implicit checkpoint) in the same
    * group starts from OffsetFetch — the committed positions — and
    * drains the remainder; `pipe` aggregates only the suffix.
    *
    * Determinism: batch 0's end offsets are [[BusSource.admit]]'s
    * even budget split over the backlogged partitions (sorted ids) —
    * pure arithmetic over the produced heads, replayed by the oracle.
    */
  def kafkaBusGroupResume(spark: SparkSession, host: String, port: Int,
                          topic: String, groupId: String,
                          maxRowsPerTrigger: Long, queryName: String)
                         (pipe: DataFrame => DataFrame): DataFrame = {
    val options = kafkaOptions(host, port, topic) + ("groupId" -> groupId)
    try drain(spark)((iso, _) =>
      readSource(iso, KafkaFormat, options, maxRowsPerTrigger)) { (df, id) =>
      if (id == 0L) df.count()
      else throw new IllegalStateException(
        "simulated consumer crash after the first committed batch")
    } catch {
      case _: org.apache.spark.sql.streaming.StreamingQueryException => ()
    }
    sourceReplay(spark, KafkaFormat, options, maxRowsPerTrigger, queryName)(pipe)
  }

  private val KafkaFormat = "graft.streaming.KafkaWireProvider"

  private def kafkaOptions(host: String, port: Int,
                           topic: String): Map[String, String] =
    Map("host" -> host, "port" -> port.toString, "topic" -> topic)

  /** The replay behind the bus and Kafka consumers: source `format` with
    * its transport `options` through `pipe`, drained in complete mode.
    */
  private def sourceReplay(spark: SparkSession, format: String,
                           options: Map[String, String],
                           maxRowsPerTrigger: Long, queryName: String)
                          (pipe: DataFrame => DataFrame): DataFrame =
    replay(spark, Nil, queryName, "complete") { (iso, _) =>
      pipe(readSource(iso, format, options, maxRowsPerTrigger))
    }
}
