package graft.cdc

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Core CDC operators, re-expressed Spark-first.
  *
  * The reference pipeline (scripts/03_cdc_etl.py) implements timestamp-based
  * CDC with an Oracle MERGE; here the same semantics are declarative
  * DataFrame plans so Catalyst can push the watermark predicate into the
  * scan, prune columns, and let AQE pick broadcast vs shuffle for the merge
  * join (the delta side is typically tiny relative to the target).
  */
object Cdc {
  val CreatedAt = "created_at"
  val UpdatedAt = "updated_at"
  val IsDeleted = "is_deleted"

  /** Add any missing CDC tracking columns, mirroring the one-time prep of
    * reference scripts/01_prepare_cdc_columns:20-38 + config/settings.py:22-27
    * (CREATED_AT default now, UPDATED_AT null, IS_DELETED default 'N').
    * Pure projection — no shuffle, stays inside whole-stage codegen.
    */
  def withCdcColumns(df: DataFrame, now: Column = current_timestamp()): DataFrame = {
    val have = df.columns.map(_.toLowerCase).toSet
    var out = df
    if (!have(CreatedAt)) out = out.withColumn(CreatedAt, now)
    if (!have(UpdatedAt)) out = out.withColumn(UpdatedAt, lit(null).cast("timestamp"))
    if (!have(IsDeleted)) out = out.withColumn(IsDeleted, lit("N"))
    out
  }

  /** Change timestamp of a row: GREATEST(COALESCE(UPDATED_AT, CREATED_AT),
    * CREATED_AT) — reference scripts/03_cdc_etl.py:284-287. Codegen'd
    * builtins only.
    */
  def changeTs(createdAt: Column, updatedAt: Column): Column =
    greatest(coalesce(updatedAt, createdAt), createdAt)

  /** Rows changed strictly after the watermark; None = initial full load
    * (reference scripts/03_cdc_etl.py:291-294). The comparison is a plain
    * predicate so it reaches the parquet scan (partition pruning on a
    * date-partitioned change log at scale).
    */
  def deltaSince(df: DataFrame, changeTsCol: Column, watermark: Option[Column]): DataFrame =
    watermark match {
      case Some(w) => df.filter(changeTsCol > w)
      case None    => df
    }

  /** Collapse a change stream to the latest change per key. The reference
    * avoids this by truncating staging per run; at scale a delta batch can
    * contain several versions of a key, so dedup before the merge join.
    * One shuffle on the key; tiebreak columns make the pick deterministic.
    */
  def latestPerKey(df: DataFrame, keys: Seq[String], orderCols: Seq[Column]): DataFrame = {
    val w = Window.partitionBy(keys.map(col): _*).orderBy(orderCols.map(_.desc): _*)
    df.withColumn("__graft_rn", row_number().over(w))
      .filter(col("__graft_rn") === 1)
      .drop("__graft_rn")
  }

  /** Key-based merge with soft delete — the Spark-native equivalent of the
    * reference's Oracle MERGE (scripts/03_cdc_etl.py:129-172):
    *   - matched keys take ALL staged column values (including is_deleted,
    *     so a soft delete flips the flag in place);
    *   - unmatched staged rows are inserted only when is_deleted = 'N'
    *     (the MERGE's `WHERE s.IS_DELETED = 'N'` insert guard);
    *   - unmatched target rows pass through untouched.
    *
    * Implementation: one full-outer shuffle join on the PK. With AQE on,
    * a small delta side is converted to a broadcast at runtime, so steady
    * state incremental merges don't reshuffle the big target.
    * `staged` and `target` must share the same schema (column order
    * irrelevant) and must already be unique per key (use latestPerKey).
    */
  def mergeSoftDelete(target: DataFrame, staged: DataFrame, pk: Seq[String]): DataFrame = {
    val cols = target.columns.toSeq
    require(staged.columns.toSet == cols.toSet,
      s"merge schema mismatch: target=${cols.mkString(",")} staged=${staged.columns.mkString(",")}")
    val s = cols.foldLeft(staged.select(cols.map(col): _*)) {
      (d, c) => d.withColumnRenamed(c, s"__s_$c")
    }.withColumn("__s_present", lit(1))
    val t = target.withColumn("__t_present", lit(1))
    val cond = pk.map(k => t(k) <=> s(s"__s_$k")).reduce(_ && _)
    val merged = t.join(s, cond, "full_outer")
    val fromStage = col("__s_present").isNotNull
    val out = cols.map(c => when(fromStage, col(s"__s_$c")).otherwise(col(c)).as(c))
    merged
      .filter(col("__t_present").isNotNull || col(s"__s_$IsDeleted") === "N")
      .select(out: _*)
  }

  /** [[mergeSoftDelete]]'s contract as the row sets a lake commit writes
    * (`DeltaWrite.merge`, `IcebergCatalog.commitMerge`). `target` is the
    * table's live rows; `staged` is projected onto its columns and must
    * be unique per `pk`: null key parts and duplicate key tuples reject
    * loudly, counted in one aggregate (`count_distinct` skips a null
    * part, so it would otherwise read as a duplicate).
    */
  private[graft] def splitMerge(target: DataFrame, staged: DataFrame, pk: Seq[String],
                                insertFilter: Option[Column], table: String): MergeSplit = {
    require(pk.nonEmpty && pk.forall(target.columns.contains),
      s"merge pk ${pk.mkString(",")} not in table columns")
    val src = staged.select(target.columns.map(col).toSeq: _*)
    val kcheck = src.agg(count(lit(1)), count_distinct(col(pk.head), pk.tail.map(col): _*),
      count(when(pk.map(col(_).isNull).reduce(_ || _), lit(1)))).head()
    val (n, d, z) = (kcheck.getLong(0), kcheck.getLong(1), kcheck.getLong(2))
    require(z == 0, s"staged batch holds $z rows with a null pk part " +
      s"(${pk.mkString(",")}) — a null key matches no row: $table")
    require(n == d, s"staged batch holds duplicate pk tuples ($n rows over $d " +
      s"distinct keys) — dedup with latestPerKey before merge: $table")
    val liveKeys = target.select(pk.map(col): _*).distinct()
    val inserts = src.join(liveKeys, pk, "left_anti")
    new MergeSplit(src.select(pk.map(col): _*).distinct(), src.join(liveKeys, pk, "left_semi"),
      insertFilter.map(inserts.filter).getOrElse(inserts), target, pk)
  }

  /** [[splitMerge]]'s row sets: the distinct staged `keys`; `postimages`,
    * the staged rows of keys the target holds (they take every staged
    * value); `inserts`, the other staged rows that pass the insert guard
    * (the reference MERGE's `WHERE s.IS_DELETED = 'N'`); and, built on
    * first use, `preimages`, the target rows of the staged keys. */
  private[graft] final class MergeSplit(val keys: DataFrame, val postimages: DataFrame,
                                        val inserts: DataFrame, target: DataFrame, pk: Seq[String]) {
    lazy val preimages: DataFrame = target.join(keys, pk, "left_semi")
  }

  /** C34: tombstone vacuum with a retention watermark — soft deletes
    * ([[mergeSoftDelete]]'s 'Y' rows) must outlive the longest consumer
    * lag so downstream delta readers see the delete, then they are pure
    * storage cost; this pass purges tombstones older than `retention`
    * measured from the replica's own high watermark (max change ts —
    * data-derived, so a paused pipeline never purges tombstones its
    * consumers haven't seen; wall-clock retention would). Live rows are
    * never touched. One broadcast scalar + one filtered scan.
    *
    * Reference anchor: the MERGE pipeline (03_cdc_etl.py) soft-deletes
    * and never purges — unbounded tombstone growth is the gap this
    * closes.
    */
  def vacuumTombstones(replica: DataFrame, changeTs: Column,
                       retentionDays: Int): DataFrame = {
    require(retentionDays >= 0, s"negative retention: $retentionDays")
    val hw = replica.agg(max(changeTs).as("__hw"))
    replica.crossJoin(broadcast(hw))
      .filter(col(IsDeleted) === "N" ||
        changeTs >= col("__hw") - expr(s"INTERVAL $retentionDays DAYS"))
      .drop("__hw")
  }

  /** SCD Type-2 history from a change stream: one validity interval per
    * change, closed by the next change of the same key (lead over a single
    * key-partitioned window; one shuffle).
    */
  def scd2(changes: DataFrame, keys: Seq[String], orderCols: Seq[Column]): DataFrame = {
    val w = Window.partitionBy(keys.map(col): _*).orderBy(orderCols: _*)
    changes
      .withColumn("version", row_number().over(w))
      .withColumn("valid_to_version", lead(col("version"), 1).over(w))
      .withColumn("is_current", col("valid_to_version").isNull)
      .drop("valid_to_version")
  }

  /** Order-free table checksum for replica validation: per row, 48 bits of
    * md5 over the '|'-joined column values (null → literal "␀"), summed
    * exactly in DECIMAL(38,0). Identical SQL reproduces it in any engine
    * with md5, so source and replica can be compared WITHOUT moving either
    * table — each side computes one number over its own data. Addition is
    * commutative, so partitioning/row order never matters, and a single
    * changed/missing/extra row shifts the sum (48-bit per-row hashes make
    * silent cancellation over any realistic table astronomically
    * unlikely).
    */
  def tableChecksum(df: DataFrame, cols: Seq[String]): DataFrame = {
    val joined = concat_ws("|",
      cols.map(c => coalesce(col(c).cast("string"), lit("␀"))): _*)
    val rowHash = conv(substring(md5(joined), 1, 12), 16, 10)
      .cast(DecimalType(38, 0))
    df.agg(count(lit(1)).as("n_rows"),
      sum(rowHash).cast(DecimalType(38, 0)).cast("string").as("checksum"))
  }

  /** C24: column-level change audit — for every key present in both the
    * target and the staged delta, the comma-joined list of columns whose
    * values actually differ (null-safe comparison, so null→value and
    * value→null both register). The replication-debugging companion to
    * [[mergeSoftDelete]]: MERGE tells you a row changed, this tells you
    * WHAT changed — the reference's manual "compare a few rows by eye"
    * validation step (04_validate_data.py) made systematic.
    *
    * One equi-join on the PK (same shuffle the merge itself pays; AQE
    * broadcasts a small delta), then a pure projection — the diff list is
    * codegen'd CASE/concat, no per-column joins. Keys with NO differing
    * columns are dropped (they're the no-op updates a well-behaved
    * extractor shouldn't ship).
    */
  def columnDiff(target: DataFrame, staged: DataFrame, pk: Seq[String],
                 cols: Seq[String]): DataFrame = {
    val t = target.as("t")
    val s = staged.as("s")
    val joinCond = pk.map(k => col(s"t.$k") === col(s"s.$k")).reduce(_ && _)
    val diffs = cols.map(c =>
      when(!(col(s"t.$c") <=> col(s"s.$c")), lit(c)))
    t.join(s, joinCond, "inner")
      .select(pk.map(k => col(s"t.$k").as(k)) :+
        concat_ws(",", diffs: _*).as("changed_cols"): _*)
      .filter(col("changed_cols") =!= "")
  }

  /** C26: as-of snapshot — reconstruct the replica's state at a past
    * point from the change history: per key, the latest change (by the
    * version order) at or before the as-of predicate. The time-travel
    * read an auditor or a backfill job asks of a CDC archive, without
    * any stored snapshot: history IS the table.
    *
    * One filtered scan + one max_by aggregate (map-side partial, struct
    * ordering is lexicographic on `versionCols`) — cheaper at scale than
    * the window row_number formulation, which must sort every key group.
    *
    * @param changes     full change history
    * @param keys        primary key columns
    * @param versionCols change-order columns (e.g. ts then change id) —
    *                    lexicographic max wins
    * @param asOf        predicate selecting history ≤ the snapshot point
    */
  def asOfSnapshot(changes: DataFrame, keys: Seq[String],
                   versionCols: Seq[String], asOf: Column): DataFrame = {
    val others = changes.columns.filterNot(keys.contains).toSeq
    changes.filter(asOf)
      .groupBy(keys.map(col): _*)
      .agg(max_by(struct(others.map(col): _*),
        struct(versionCols.map(col): _*)).as("__r"))
      .select(keys.map(col) ++ others.map(c => col(s"__r.$c").as(c)): _*)
  }

  /** C27: snapshot diff — classify every key across two as-of states:
    * `added` (only in the newer), `removed` (only in the older — possible
    * once deletes are soft-applied), `changed` (present in both with any
    * `cmpCols` difference, null-safe), `unchanged`. The "what moved
    * between Monday and Friday" report over [[asOfSnapshot]] outputs; one
    * full-outer PK join, no history re-read.
    */
  def snapshotDiff(older: DataFrame, newer: DataFrame, keys: Seq[String],
                   cmpCols: Seq[String]): DataFrame = {
    val a = older.as("a")
    val b = newer.as("b")
    val joinCond = keys.map(k => col(s"a.$k") === col(s"b.$k")).reduce(_ && _)
    val anyDiff = cmpCols.map(c => !(col(s"a.$c") <=> col(s"b.$c")))
      .reduce(_ || _)
    a.join(b, joinCond, "full_outer")
      .select(
        when(keys.map(k => col(s"a.$k").isNull).reduce(_ && _), lit("added"))
          .when(keys.map(k => col(s"b.$k").isNull).reduce(_ && _), lit("removed"))
          .when(anyDiff, lit("changed"))
          .otherwise(lit("unchanged")).as("status"))
      .groupBy(col("status")).agg(count(lit(1)).as("n_keys"))
  }

  /** C33: multi-source (bidirectional / multi-master) conflict detection
    * — the failure mode the reference's one-direction pipeline
    * (03_cdc_etl.py) never has to face: two replicas both accepting
    * writes. A conflict is a key that BOTH sources updated within the
    * same `bucketSec` window; resolution is deterministic last-writer-
    * wins on the composite (ts, seq) — seq (a monotone change id) breaks
    * exact-timestamp ties, so replaying either side's feed reproduces
    * the same winner (the GoldenGate/BDR resolution contract).
    *
    * One shuffle on (pk, bucket); the composite order key is packed into
    * a single int64 (ts·10⁸ + seq, exact while ts < 9.2·10¹⁰ s and
    * seq < 10⁸ — ENFORCED per row, out-of-domain input raises rather
    * than resolving a wrong winner) so the winner is a plain MAX — no
    * window sort, and any engine reproduces it with arg_max-free SQL.
    *
    * @return per (pk, bucket): per-source update counts, is_conflict,
    *         and the winning seq (the caller maps it back to its source)
    */
  def detectConflicts(updates: DataFrame, pk: Column, ts: Column,
                      seq: Column, source: Column,
                      bucketSec: Long): DataFrame = {
    // the packing is exact ONLY inside these domains; out-of-range rows
    // (epoch-MILLISECOND timestamps, seq ≥ 10⁸) would silently alias the
    // packed order and crown a wrong winner — fail loudly instead
    val tsOk = ts.cast("long").between(0L, 92233720368L)
    val seqOk = seq.cast("long").between(0L, 99999999L)
    val guarded = when(tsOk && seqOk,
      ts.cast("long") * 100000000L + seq.cast("long"))
      .otherwise(raise_error(concat(
        lit("detectConflicts: (ts, seq) outside the exact-packing domain "),
        lit("ts<9.2e10 s (epoch SECONDS, not millis), seq<1e8 — got ts="),
        ts.cast("string"), lit(" seq="), seq.cast("string"))))
    updates
      .select(pk.as("pk"),
        floor(ts.cast("long") / bucketSec).cast("long").as("bucket"),
        source.as("src"), guarded.as("ord"), seq.cast("long").as("seq"))
      .groupBy(col("pk"), col("bucket"))
      .agg(
        sum(when(col("src") === "a", 1L).otherwise(0L)).as("n_a"),
        sum(when(col("src") === "b", 1L).otherwise(0L)).as("n_b"),
        max(col("ord")).as("max_ord"))
      .withColumn("is_conflict", col("n_a") > 0 && col("n_b") > 0)
      .withColumn("winner_seq", col("max_ord") % 100000000L)
      .drop("max_ord")
  }

  /** C35: net-change squash — collapse each key's I/U/D chain within a
    * batch window to its NET effect before applying downstream (the
    * Debezium/Kafka-Connect "tombstone + squash" step; without it a
    * hot key replays its whole intra-batch history against the target):
    *
    *   first=I, last=D → NOOP    (born and died inside the window)
    *   first=I, last≠D → INSERT  (with the LAST payload)
    *   first≠I, last=D → DELETE
    *   first≠I, last≠D → UPDATE  (with the LAST payload)
    *
    * One hash aggregate — min_by/max_by on the sequence pick the first
    * op and the last (op, payload); no window, no per-key sort.
    * Sequence numbers must be unique per key (stated — CDC log offsets
    * are).
    *
    * @return (key, n_ops, first_op, last_op, net_op, payload) — payload
    *         null for DELETE/NOOP
    */
  def netChanges(changes: DataFrame, key: Column, seq: Column, op: Column,
                 payload: Column): DataFrame =
    netDecision(changes
      .select(key.as("key"), seq.cast("long").as("seq"),
        op.cast("string").as("op"), payload.as("payload"))
      .groupBy(col("key"))
      .agg(count(lit(1)).as("n_ops"),
        min_by(col("op"), col("seq")).as("first_op"),
        max_by(col("op"), col("seq")).as("last_op"),
        max_by(col("payload"), col("seq")).as("__pl")))

  /** The C35 decision tail over (key, n_ops, first_op, last_op, __pl)
    * rows — shared verbatim by the batch operator and the X36 streaming
    * twin.
    */
  private[graft] def netDecision(agg: DataFrame): DataFrame =
    agg
      .withColumn("net_op",
        when(col("first_op") === "I" && col("last_op") === "D", "NOOP")
          .when(col("first_op") === "I", "INSERT")
          .when(col("last_op") === "D", "DELETE")
          .otherwise("UPDATE"))
      .withColumn("payload",
        when(col("net_op").isin("INSERT", "UPDATE"), col("__pl")))
      .drop("__pl")
}
