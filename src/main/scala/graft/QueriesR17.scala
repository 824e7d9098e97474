package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.operators.Unigram
import graft.sources.Tables

/** Round-8 surface growth: unigram-LM (SentencePiece-family)
  * tokenization (T35) beside the r7 BPE trainer — the other trained
  * tokenizer family modern models ship — with the packing budget
  * operator gaining a unigram variant (T9c). House contract as
  * everywhere: integer/string outputs, deterministic total orders,
  * every gate a bit-exact hash compare against DuckDB (the trained
  * pipeline replayed as a chained materialized-CTE pyramid, the T34
  * oracle pattern).
  */
object QueriesR17 {
  private def t(s: SparkSession, dir: String, name: String): DataFrame =
    Tables.load(s, dir, name)

  // One staged training: vocabulary-sized tables, ckpt'd, consumed by
  // three gates.
  private[graft] def uniTrained(s: SparkSession, dir: String)
      : (DataFrame, DataFrame) =
    Staged(s, dir, "unigram")(
      Unigram.train(t(s, dir, "documents"), col("text")))

  /** Trained unigram piece inventory off the shared staging — the T37
    * WordPiece gates consume it as their piece inventory.
    */
  private[graft] def uniVocab(s: SparkSession, dir: String): DataFrame =
    uniTrained(s, dir)._1

  /** Per-doc (doc_id, source, n_uni) off the shared trained state. */
  private def uniDocCounts(s: SparkSession, dir: String): DataFrame = {
    val (_, dp) = uniTrained(s, dir)
    val nPieces = dp.filter(col("pos") === length(col("w")))
      .select(col("w"), col("n").as("n_p"))
    t(s, dir, "documents")
      .select(col("doc_id"), col("source"),
        explode(split(col("text"), " ")).as("w"))
      .filter(col("w") =!= "")
      .join(broadcast(nPieces), Seq("w"))
      .groupBy(col("doc_id"), col("source"))
      .agg(sum(col("n_p")).as("n_uni"))
  }

  /** T35: the trained unigram vocabulary — retained pieces with their
    * final M-step counts (see [[graft.operators.Unigram]]).
    */
  def textUnigramVocab(s: SparkSession, dir: String): DataFrame = {
    val (vocab, _) = uniTrained(s, dir)
    vocab.orderBy(col("piece"))
  }

  /** T35: per-document token accounting under the trained unigram
    * model — (doc_id, n_ws, n_uni), the [[Unigram.tokenCounts]] shape
    * off the shared staging.
    */
  def textUnigramTokenize(s: SparkSession, dir: String): DataFrame = {
    val (_, dp) = uniTrained(s, dir)
    val nPieces = dp.filter(col("pos") === length(col("w")))
      .select(col("w"), col("n").as("n_p"))
    t(s, dir, "documents")
      .select(col("doc_id"), explode(split(col("text"), " ")).as("w"))
      .filter(col("w") =!= "")
      .join(broadcast(nPieces), Seq("w"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_ws"), sum(col("n_p")).as("n_uni"))
      .orderBy(col("doc_id"))
  }

  /** T9c: sequence packing budgeted in unigram pieces — T9b's greedy
    * per-source cumulative packing re-pointed at the second tokenizer
    * family. Budget 512 pieces per chunk; exact integer division.
    */
  def textPackUnigram(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("source")).orderBy(col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    uniDocCounts(s, dir)
      .withColumn("cum", sum(col("n_uni")).over(w))
      .select(col("doc_id"), col("source"), col("n_uni"),
        expr("(cum - n_uni) div 512").as("chunk_id"))
      .orderBy(col("doc_id"))
  }

  /** T35b: unigram ENCODING — the second tokenizer family closed end to
    * end like T34d: train (T35) → piece ids (rank under the total
    * order over the pieces the final segmentation actually uses) →
    * per-document token-ID sequences. Encoding is vocabulary-joined:
    * each distinct word carries its ordered (start-position, piece-id)
    * list recovered from the trained DP lattice's pred pointers
    * ([[Unigram.segments]], a vocab-sized table), docs explode to
    * (position, word), broadcast-join, and re-assemble ordered by
    * (word position, piece start). First 50 docs, ids space-joined
    * (bounded, readable gate output — the T34d shape).
    */
  def textUnigramEncode(s: SparkSession, dir: String): DataFrame = {
    val (_, dp) = uniTrained(s, dir)
    val seg = Unigram.segments(dp)
    val vocab = seg.select(col("piece")).distinct()
      .withColumn("tid", row_number().over(
        Window.orderBy(col("piece"))).cast("long"))
    val wseg = seg.join(vocab, Seq("piece"))
      .select(col("w"), col("pos"), col("tid"))
    t(s, dir, "documents").filter(col("doc_id") < 50)
      .select(col("doc_id"),
        posexplode(split(col("text"), " ")).as(Seq("wp", "w")))
      .filter(col("w") =!= "")
      .join(broadcast(wseg), Seq("w"))
      .groupBy(col("doc_id"))
      .agg(expr(
        """array_join(transform(sort_array(collect_list(struct(wp, pos, tid))),
          |                     x -> cast(x.tid AS string)), ' ')""".stripMargin)
        .as("token_ids"))
      .orderBy(col("doc_id"))
  }

  /** Semantic-dedup blocking constants: clusters above [[SemCap]]
    * members split by low bits of a [[SemBits]]-bit integer SimHash
    * until the expected block population is ≤ cap (per-cluster adaptive
    * depth, the CASE ladder both engines replay exactly).
    */
  private[graft] val SemCap = 64L
  private[graft] val SemBits = 16
  private[graft] val SemDim = 64

  /** ±1 hyperplane sign for (bit b, coordinate i): the top bit of
    * md5("b:i") — replayed in SQL as `substr(md5(b || ':' || i), 1, 1)
    * < '8'` (hex digits 0-7 ⇔ high nibble's top bit clear).
    */
  private def semSign(b: Int, i: Int): Long = {
    val d = java.security.MessageDigest.getInstance("MD5")
      .digest(s"$b:$i".getBytes("UTF-8"))
    if ((d(0) & 0x80) == 0) 1L else -1L
  }

  /** D22: SEMANTIC dedup — the SemDeDup recipe (Abbas et al. 2023,
    * arXiv:2303.09540): k-means the embedding space (the D18 trained
    * clustering, FIXED k, exact milli-integer trajectory), then search
    * for near-duplicates ONLY within each cluster — the clustering is
    * the blocking structure, so the pair join is per-cluster, never
    * corpus². Pairs with cosine ≥ 2/5 (integer cross-multiplied:
    * dot > 0 and 25·dot² ≥ 4·‖a‖²‖b‖², exact at milli quantization)
    * form near-dup groups via convergence-checked connected
    * components; each group keeps its minimum vec_id as the
    * deterministic survivor.
    *
    * SCALE CONTRACT (the r8 fixed-k finding, closed in code): cluster
    * population is bounded BEFORE pair generation. Every cluster above
    * [[SemCap]] members splits on the low bits of a [[SemBits]]-bit
    * integer SimHash over the milli coordinates (±1 hyperplanes from
    * md5 parity — exact integer projections, so both engines compute
    * identical bands); the per-cluster split depth d is the smallest
    * with pop/2^d ≤ cap (a CASE ladder, engine-exact), so expected
    * block population is ≤ cap at ANY corpus size and expected pair
    * volume is ≤ cap·n — the "raise k with n" posture of the paper,
    * realized as adaptive blocking instead of retraining. Identical
    * vectors share every sign bit by construction, so true duplicates
    * are never separated; near-dups at angle θ cross a given bit with
    * probability θ/π (the D8 recall trade, stated). Pair scoring is
    * ONE row per candidate pair over packed milli arrays (zip_with +
    * aggregate), not one per (pair, dimension).
    *
    * Output: every vector with its cluster, its duplicate-group
    * representative (self if unique), and the keep/drop verdict the
    * curation pipeline filters on.
    */
  /** The blocking structure behind [[dedupSemantic]]: every vector with
    * its cluster, split-block key, packed milli vector, and squared
    * norm. Exposed for the spec that pins the pair-volume bound.
    */
  private[graft] def semMembers(s: SparkSession, dir: String)
      : (DataFrame, DataFrame) = {
    import graft.PlanProbe.CkptOps
    val e = t(s, dir, "embeddings")
    // ckpt: the assignment feeds the mask build, the member join, AND
    // the final output — without it the whole Lloyd chain re-executes
    // once per consumer (DataFrame plans share no CTEs)
    val assign = graft.similarity.KMeans.lloydMilliK(e,
      col("vec_id"), col("embedding"), k = 10, iterations = 2).ckpt
    // packed milli vectors (one row per vector) + squared norm + band
    val packed = e.select(col("vec_id").cast("long").as("vec_id"),
      expr("transform(embedding, v -> CAST(floor(CAST(v AS DOUBLE) * 1000) AS BIGINT))")
        .as("mv"))
    val bandCol = (0 until SemBits).map { b =>
      val sgn = array((0 until SemDim).map(i => lit(semSign(b, i))): _*)
      val proj = aggregate(
        zip_with(col("mv"), sgn, (x, sg) => x * sg),
        lit(0L), (acc, v) => acc + v)
      when(proj >= 0, lit(1L << b)).otherwise(lit(0L))
    }.reduce(_ + _)
    val vecs = packed.select(col("vec_id"), col("mv"), bandCol.as("band"),
      aggregate(transform(col("mv"), x => x * x), lit(0L),
        (acc, v) => acc + v).as("n2"))
    // per-cluster adaptive split depth: mask = 2^d, smallest d with
    // pop ≤ cap·2^d (capped at 2^16) — k rows, broadcast
    val maskCol = {
      val first = when(col("pop") <= SemCap, lit(1L))
      (1 to 16).foldLeft(first)((acc, d) =>
        acc.when(col("pop") <= SemCap * (1L << d), lit(1L << d)))
        .otherwise(lit(1L << 16))
    }
    val masks = assign.groupBy(col("cluster_id"))
      .agg(count(lit(1)).as("pop"))
      .select(col("cluster_id"), maskCol.as("mask"))
    val members = assign.join(broadcast(masks), Seq("cluster_id"))
      .join(vecs, Seq("vec_id"))
      .select(col("vec_id"), col("cluster_id"),
        (col("band") % col("mask")).as("blk"), col("mv"), col("n2"))
    (assign, members)
  }

  def dedupSemantic(s: SparkSession, dir: String): DataFrame = {
    val (assign, members) = semMembers(s, dir)
    val pairs = members.as("a").join(members.as("b"),
        col("a.cluster_id") === col("b.cluster_id") &&
          col("a.blk") === col("b.blk") &&
          col("a.vec_id") < col("b.vec_id"))
      .select(col("a.vec_id").as("id_a"), col("b.vec_id").as("id_b"),
        aggregate(zip_with(col("a.mv"), col("b.mv"), (x, y) => x * y),
          lit(0L), (acc, v) => acc + v).as("dot"),
        col("a.n2").as("na"), col("b.n2").as("nb"))
    val near = pairs.filter(col("dot") > 0 &&
      col("dot") * col("dot") * 25 >= col("na") * col("nb") * 4)
    val rep = graft.dedup.Dedup
      .connectedComponents(near.select(col("id_a"), col("id_b")))
      .select(col("doc_id").as("vec_id"), col("cluster_id").as("rep_id"))
    assign.join(rep, Seq("vec_id"), "left")
      .select(col("vec_id"), col("cluster_id"),
        coalesce(col("rep_id"), col("vec_id")).as("rep_id"))
      .withColumn("kept",
        when(col("vec_id") === col("rep_id"), 1L).otherwise(0L))
      .orderBy(col("vec_id"))
  }

  /** X46: streaming unigram token monitor — the second tokenizer
    * family's live twin of `stream_bpe_tokens`: documents replayed
    * through the message bus as JSON (4 partitions, admission-controlled
    * ~8 batches at any SF), each micro-batch joining the BROADCAST
    * vocabulary-sized per-word piece-count table from the trained T35
    * state and folding into per-source whitespace/subword totals. The
    * batch-identical tail makes the oracle the batch oracle.
    */
  def streamUnigramTokens(s: SparkSession, dir: String): DataFrame = {
    val (_, dp) = uniTrained(s, dir)
    val nPieces = broadcast(dp.filter(col("pos") === length(col("w")))
      .select(col("w"), col("n").as("n_p")))
    val d = t(s, dir, "documents")
      .select(col("doc_id"), col("source"), col("text"))
    val root = java.nio.file.Files.createTempDirectory("graft_busuni").toString
    graft.streaming.BusSource.stage(
      d.select(pmod(hash(col("doc_id")), lit(4)).as("pt"),
        to_json(struct(col("source"), col("text"))).as("v"), col("doc_id")),
      root, busPartitions = 4, pt = col("pt"), value = col("v"),
      col("doc_id"))
    val trigger = math.max(100L, d.count() / 8)
    graft.streaming.Streams.busReplay(s, root, maxRowsPerTrigger = trigger,
        s"gate_busuni_${System.nanoTime()}") { stream =>
      stream.select(from_json(col("value"),
          org.apache.spark.sql.types.StructType.fromDDL(
            "source STRING, text STRING")).as("e"))
        .select(col("e.source").as("source"),
          explode(split(col("e.text"), " ")).as("w"))
        .join(nPieces, Seq("w"))
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_ws"), sum(col("n_p")).as("n_uni"))
    }.orderBy(col("source"))
  }

  /** M10: true BMP raster decode — each row synthesizes a REAL 24-bit
    * BMP file (valid headers, bottom-up padded BGR rows) whose pixel
    * bytes are a deterministic function of doc_id, and
    * [[graft.multimodal.BmpRaster]] decodes it back to channel sums and
    * a luminance histogram; the oracle regenerates the same pixels
    * arithmetically (the construct→parse identity contract of the
    * M-family). The decoder itself is format-real — the spec validates
    * it against the JDK's own BMP encoder.
    */
  /** Little-endian hex of a (small, non-negative) integer column over
    * `nBytes` bytes — the M-family fixture-construction helper.
    */
  private def le(v: Column, nBytes: Int): Column =
    concat((0 until nBytes).map(i =>
      lpad(hex(pmod(v.cast("long") / (1L << (8 * i)), lit(256)).cast("int")),
        2, "0")): _*)

  def mmBmpStats(s: SparkSession, dir: String): DataFrame = {
    val d = t(s, dir, "documents").select(col("doc_id"))
      .withColumn("w", (col("doc_id") % 5 + 1).cast("int"))
      .withColumn("h", (col("doc_id") % 3 + 1).cast("int"))
      .withColumn("rs", expr("((3 * w + 3) div 4) * 4").cast("int"))
    val header = concat(
      lit("424D"), le(lit(54) + col("rs") * col("h"), 4), lit("00000000"),
      le(lit(54), 4),
      le(lit(40), 4), le(col("w"), 4), le(col("h"), 4),
      le(lit(1), 2), le(lit(24), 2), le(lit(0), 4),
      le(col("rs") * col("h"), 4), lit("0" * 32))
    val pixels = expr(
      """array_join(transform(sequence(0, rs * h - 1), i ->
        |  CASE WHEN (i % rs) >= 3 * w THEN '00'
        |       ELSE lpad(hex((doc_id * 7 + i * 13) % 256), 2, '0') END), '')""".stripMargin)
    d.withColumn("st",
        graft.multimodal.BmpRaster.bmp_stats(unhex(concat(header, pixels))))
      .select(Seq(col("doc_id")) ++
        graft.multimodal.BmpRaster.schema.fieldNames.map(f =>
          col(s"st.$f").as(f)): _*)
      .withColumn("width", col("width").cast("long"))
      .withColumn("height", col("height").cast("long"))
      .orderBy(col("doc_id"))
  }

  /** M11: true WAV waveform decode — each row synthesizes a REAL 16-bit
    * PCM WAV file (RIFF + fmt + data, interleaved little-endian
    * samples) whose samples are a deterministic function of doc_id, and
    * [[graft.multimodal.WavPcm]] decodes it back to frame/duration/
    * peak/energy/clipping statistics; the oracle regenerates the
    * samples arithmetically (the construct→parse identity). The decoder
    * is format-real — the spec validates it against the JDK's own WAV
    * encoder.
    */
  def mmWavStats(s: SparkSession, dir: String): DataFrame = {
    val d = t(s, dir, "documents").select(col("doc_id"))
      .withColumn("ch", (col("doc_id") % 2 + 1).cast("int"))
      .withColumn("rate", (lit(8000) + (col("doc_id") % 5) * 4000).cast("int"))
      .withColumn("nf", (lit(20) + col("doc_id") % 11).cast("int"))
      .withColumn("ns", col("nf") * col("ch"))
    val header = concat(
      lit("52494646"), le(lit(36) + col("ns") * 2, 4), lit("57415645"),
      lit("666D7420"), le(lit(16), 4), le(lit(1), 2), le(col("ch"), 2),
      le(col("rate"), 4), le(col("rate") * col("ch") * 2, 4),
      le(col("ch") * 2, 2), le(lit(16), 2),
      lit("64617461"), le(col("ns") * 2, 4))
    val samples = expr(
      """array_join(transform(sequence(0, ns - 1), k ->
        |  concat(lpad(hex(((doc_id * 37 + k * 97) % 65536) % 256), 2, '0'),
        |         lpad(hex(((doc_id * 37 + k * 97) % 65536) div 256), 2, '0'))), '')""".stripMargin)
    d.withColumn("st",
        graft.multimodal.WavPcm.wav_stats(unhex(concat(header, samples))))
      .select(Seq(col("doc_id")) ++
        graft.multimodal.WavPcm.schema.fieldNames.map(f =>
          col(s"st.$f").as(f)): _*)
      .withColumn("channels", col("channels").cast("long"))
      .withColumn("sample_rate", col("sample_rate").cast("long"))
      .orderBy(col("doc_id"))
  }

  /** M12: true PNG raster decode — each row synthesizes a REAL PNG file
    * (signature, IHDR, one IDAT carrying a zlib stream, IEND) whose
    * pixels are a deterministic function of doc_id, and
    * [[graft.multimodal.PngRaster]] decodes it back through the JDK's
    * zlib and the PNG filter reconstruction to channel sums and a
    * luminance histogram. SQL can't deflate, so the fixture's zlib
    * stream uses a STORED (uncompressed) block — wrapper 0x7801, block
    * header 01 + LEN + ~LEN, payload, Adler-32 computed arithmetically
    * — which is a fully valid stream the REAL Inflater consumes; the
    * first scanline carries filter 0 (None) and the rest filter 2 (Up),
    * so the oracle reconstructs pixels as closed-form column prefix
    * sums mod 256 (mod distributes over the chained byte additions).
    * Genuine-deflate streams and the Sub/Average/Paeth filters are
    * exercised in the spec against the JDK's own PNG encoder.
    */
  def mmPngStats(s: SparkSession, dir: String): DataFrame = {
    val d = t(s, dir, "documents").select(col("doc_id"))
      .withColumn("w", (col("doc_id") % 4 + 1).cast("int"))
      .withColumn("h", (col("doc_id") % 3 + 1).cast("int"))
      .withColumn("stride", (col("w") * 3 + 1).cast("long"))
      .withColumn("len", (col("stride") * col("h")).cast("long"))
    // scanline byte at offset p: filter byte (0 first row, 2 = Up after)
    // or the raw pixel byte (doc_id*11 + y*31 + lane*7) mod 256
    def byteAt(p: String) =
      s"""(CASE WHEN ($p) % stride = 0
         |      THEN (CASE WHEN ($p) div stride = 0 THEN 0 ELSE 2 END)
         |      ELSE (doc_id * 11 + (($p) div stride) * 31 +
         |            ((($p) % stride) - 1) * 7) % 256 END)""".stripMargin
    val withAdler = d
      .withColumn("data_hex", expr(
        s"""array_join(transform(sequence(0L, len - 1), p ->
           |  lpad(hex(${byteAt("p")}), 2, '0')), '')""".stripMargin))
      .withColumn("ad_a", expr(
        s"""(1 + aggregate(sequence(0L, len - 1), cast(0 as bigint),
           |  (acc, p) -> acc + ${byteAt("p")})) % 65521""".stripMargin))
      .withColumn("ad_b", expr(
        s"""(len + aggregate(sequence(0L, len - 1), cast(0 as bigint),
           |  (acc, p) -> acc + (len - p) * ${byteAt("p")})) % 65521""".stripMargin))
    def be(v: Column, nBytes: Int): Column = lpad(hex(v), 2 * nBytes, "0")
    val png = concat(
      lit("89504E470D0A1A0A"),
      lit("0000000D"), lit("49484452"), be(col("w"), 4), be(col("h"), 4),
      lit("0802000000"), lit("00000000"),
      be(col("len") + 11, 4), lit("49444154"),
      lit("7801"), lit("01"), le(col("len"), 2), le(lit(65535) - col("len"), 2),
      col("data_hex"), be(col("ad_b"), 2), be(col("ad_a"), 2), lit("00000000"),
      lit("00000000"), lit("49454E44"), lit("00000000"))
    withAdler.withColumn("st",
        graft.multimodal.PngRaster.png_stats(unhex(png)))
      .select(Seq(col("doc_id")) ++
        graft.multimodal.PngRaster.schema.fieldNames.map(f =>
          col(s"st.$f").as(f)): _*)
      .withColumn("width", col("width").cast("long"))
      .withColumn("height", col("height").cast("long"))
      .orderBy(col("doc_id"))
  }

  /** X47: streaming over the NETWORK bus transport — orders staged to a
    * 4-partition bus, served by the in-process TCP broker
    * ([[graft.streaming.BusServer]]), consumed through
    * `SocketBusProvider`: the driver sees only HEADS metadata, each
    * micro-batch's partition slices are fetched over per-task
    * connections, and the per-(partition, status) totals must equal
    * the batch SQL — the first gate whose arrivals cross a real
    * network path.
    */
  def streamSocketBus(s: SparkSession, dir: String): DataFrame = {
    val o = t(s, dir, "orders").select(col("o_orderkey"), col("o_orderstatus"),
      (col("o_totalprice").cast("decimal(12,2)") * 100)
        .cast("long").as("cents"))
    val root = java.nio.file.Files.createTempDirectory("graft_sockbus").toString
    graft.streaming.BusSource.stage(
      o.select(pmod(col("o_orderkey"), lit(4)).as("pt"),
        to_json(struct(col("o_orderstatus"), col("cents"))).as("v"),
        col("o_orderkey")),
      root, busPartitions = 4, pt = col("pt"), value = col("v"),
      col("o_orderkey"))
    val server = graft.streaming.BusServer.serve(root)
    try {
      val trigger = math.max(100L, o.count() / 8)
      graft.streaming.Streams.socketBusReplay(s, "127.0.0.1", server.port,
          trigger, s"gate_sockbus_${System.nanoTime()}") { stream =>
        stream.select(col("partition").cast("long").as("pt"),
            from_json(col("value"),
              org.apache.spark.sql.types.StructType.fromDDL(
                "o_orderstatus STRING, cents LONG")).as("e"))
          .groupBy(col("pt"), col("e.o_orderstatus").as("o_orderstatus"))
          .agg(count(lit(1)).as("n"), sum(col("e.cents")).as("sum_cents"))
      }.orderBy(col("pt"), col("o_orderstatus"))
    } finally server.close()
  }

  /** X52: the bus spoken over KAFKA'S OWN WIRE PROTOCOL — X45's exact
    * fixture served through [[graft.streaming.KafkaBusServer]] (real
    * size-framed ApiVersions/Metadata/ListOffsets/Fetch exchanges,
    * records as CRC32C-checked message-format-v2 RecordBatches) and
    * consumed through `KafkaWireProvider`: the executor tasks each
    * Fetch-loop their own [from, to) slice. Shares X45's oracle — the
    * aggregate is delivery-shape-independent, so a hash match here
    * certifies the whole wire path end to end.
    */
  def streamKafkaBus(s: SparkSession, dir: String): DataFrame = {
    val o = t(s, dir, "orders").select(col("o_orderkey"), col("o_orderstatus"),
      (col("o_totalprice").cast("decimal(12,2)") * 100)
        .cast("long").as("cents"))
    val root = java.nio.file.Files.createTempDirectory("graft_kafkabus").toString
    graft.streaming.BusSource.stage(
      o.select(pmod(col("o_orderkey"), lit(4)).as("pt"),
        to_json(struct(col("o_orderstatus"), col("cents"))).as("v"),
        col("o_orderkey")),
      root, busPartitions = 4, pt = col("pt"), value = col("v"),
      col("o_orderkey"))
    val server = graft.streaming.KafkaBusServer.serve(root)
    try {
      val trigger = math.max(100L, o.count() / 8)
      graft.streaming.Streams.kafkaBusReplay(s, "127.0.0.1", server.port,
          "bus", trigger, s"gate_kafkabus_${System.nanoTime()}") { stream =>
        stream.select(col("partition").cast("long").as("pt"),
            from_json(col("value"),
              org.apache.spark.sql.types.StructType.fromDDL(
                "o_orderstatus STRING, cents LONG")).as("e"))
          .groupBy(col("pt"), col("e.o_orderstatus").as("o_orderstatus"))
          .agg(count(lit(1)).as("n"), sum(col("e.cents")).as("sum_cents"))
      }.orderBy(col("pt"), col("o_orderstatus"))
    } finally server.close()
  }

  /** X53 (r10): the bus WRITE leg over the wire — orders rows PRODUCED
    * to an empty broker as message-format-v2 RecordBatches from
    * executor tasks (Produce v3, [[graft.streaming.KafkaWire
    * .produceSink]]), then consumed back over Fetch v4 through the
    * streaming client: a full produce → fetch round-trip where every
    * record crosses the wire twice. Same oracle as X52 — the transport
    * must be invisible to the aggregate.
    */
  def streamKafkaProduce(s: SparkSession, dir: String): DataFrame = {
    val o = t(s, dir, "orders").select(col("o_orderkey"), col("o_orderstatus"),
      (col("o_totalprice").cast("decimal(12,2)") * 100)
        .cast("long").as("cents"))
    val server = graft.streaming.KafkaBusServer.serve(
      null, emptyPartitions = 4)
    try {
      graft.streaming.KafkaWire.produceSink(
        o.select(pmod(col("o_orderkey"), lit(4)).as("pt"),
            to_json(struct(col("o_orderstatus"), col("cents"))).as("v"))
          .repartition(8, col("pt")),
        "127.0.0.1", server.port, "bus", col("pt"), col("v"))
      val trigger = math.max(100L, o.count() / 8)
      graft.streaming.Streams.kafkaBusReplay(s, "127.0.0.1", server.port,
          "bus", trigger, s"gate_kafkaprod_${System.nanoTime()}") { stream =>
        stream.select(col("partition").cast("long").as("pt"),
            from_json(col("value"),
              org.apache.spark.sql.types.StructType.fromDDL(
                "o_orderstatus STRING, cents LONG")).as("e"))
          .groupBy(col("pt"), col("e.o_orderstatus").as("o_orderstatus"))
          .agg(count(lit(1)).as("n"), sum(col("e.cents")).as("sum_cents"))
      }.orderBy(col("pt"), col("o_orderstatus"))
    } finally server.close()
  }

  /** X54 (r10): COMPRESSED RecordBatches on the wire — X53's produce →
    * fetch round-trip with BOTH legs compressed, each with a different
    * codec (executors produce zstd batches; the broker serves gzip
    * Fetch responses): the attribute-bit codec arms (bits 0-2 of the
    * batch attributes, the format every bandwidth-tuned broker uses)
    * exercised end-to-end over the wire. Same oracle again — the
    * codec, like the transport, must be invisible.
    */
  def streamKafkaCompressed(s: SparkSession, dir: String): DataFrame = {
    val o = t(s, dir, "orders").select(col("o_orderkey"), col("o_orderstatus"),
      (col("o_totalprice").cast("decimal(12,2)") * 100)
        .cast("long").as("cents"))
    val server = graft.streaming.KafkaBusServer.serve(
      null, emptyPartitions = 4,
      fetchCodec = graft.streaming.KafkaWire.CodecGzip)
    try {
      graft.streaming.KafkaWire.produceSink(
        o.select(pmod(col("o_orderkey"), lit(4)).as("pt"),
            to_json(struct(col("o_orderstatus"), col("cents"))).as("v"))
          .repartition(8, col("pt")),
        "127.0.0.1", server.port, "bus", col("pt"), col("v"),
        codec = graft.streaming.KafkaWire.CodecZstd)
      val trigger = math.max(100L, o.count() / 8)
      graft.streaming.Streams.kafkaBusReplay(s, "127.0.0.1", server.port,
          "bus", trigger, s"gate_kafkazstd_${System.nanoTime()}") { stream =>
        stream.select(col("partition").cast("long").as("pt"),
            from_json(col("value"),
              org.apache.spark.sql.types.StructType.fromDDL(
                "o_orderstatus STRING, cents LONG")).as("e"))
          .groupBy(col("pt"), col("e.o_orderstatus").as("o_orderstatus"))
          .agg(count(lit(1)).as("n"), sum(col("e.cents")).as("sum_cents"))
      }.orderBy(col("pt"), col("o_orderstatus"))
    } finally server.close()
  }

  /** X53b (r10): KEYED produce with the default partitioner — records
    * keyed by o_orderstatus ride the wire with their keys and route by
    * Kafka's murmur2 key hash, so each status lands WHOLLY on one
    * partition (the log-compaction/per-key-ordering invariant); the
    * consume side aggregates by the VALUE-carried status, so the
    * result is partition-layout-independent and the oracle stays plain
    * SQL — partition affinity itself is spec-pinned (murmur2 is not
    * SQL-expressible).
    */
  def streamKafkaKeyed(s: SparkSession, dir: String): DataFrame = {
    val o = t(s, dir, "orders").select(col("o_orderkey"), col("o_orderstatus"),
      (col("o_totalprice").cast("decimal(12,2)") * 100)
        .cast("long").as("cents"))
    val server = graft.streaming.KafkaBusServer.serve(
      null, emptyPartitions = 4)
    try {
      graft.streaming.KafkaWire.produceSinkKeyed(
        o.select(col("o_orderstatus"),
            to_json(struct(col("o_orderstatus"), col("cents"))).as("v"))
          .repartition(8, col("o_orderstatus")),
        "127.0.0.1", server.port, "bus", numPartitions = 4,
        key = col("o_orderstatus"), value = col("v"))
      val trigger = math.max(100L, o.count() / 8)
      graft.streaming.Streams.kafkaBusReplay(s, "127.0.0.1", server.port,
          "bus", trigger, s"gate_kafkakey_${System.nanoTime()}") { stream =>
        stream.select(from_json(col("value"),
            org.apache.spark.sql.types.StructType.fromDDL(
              "o_orderstatus STRING, cents LONG")).as("e"))
          .groupBy(col("e.o_orderstatus").as("o_orderstatus"))
          .agg(count(lit(1)).as("n"), sum(col("e.cents")).as("sum_cents"))
      }.orderBy(col("o_orderstatus"))
    } finally server.close()
  }

  /** T36: TextRank keyword extraction (Mihalcea & Tarau 2004) — the
    * classic unsupervised keyword ranker: content words (length ≥ 4,
    * the deterministic stand-in for a POS filter) form a co-occurrence
    * graph over adjacent filtered tokens, edge weight = corpus-wide
    * adjacency count, and [[graft.operators.Graph.pageRankWeighted]]
    * ranks the nodes in the house exact-ppm fixed-point arithmetic
    * (3 rounds, per-edge truncated shares — the R71b machinery reused
    * verbatim on a WORD graph). Top 100 by (rank desc, word).
    */
  def textTextrank(s: SparkSession, dir: String): DataFrame = {
    val toks = t(s, dir, "documents")
      .select(col("doc_id"),
        posexplode(split(col("text"), " ")).as(Seq("p", "w")))
      .filter(length(col("w")) >= 4)
    val win = Window.partitionBy(col("doc_id")).orderBy(col("p"))
    val adj = toks.withColumn("nw", lead(col("w"), 1).over(win))
      .filter(col("nw").isNotNull && col("w") =!= col("nw"))
    val und = adj.select(least(col("w"), col("nw")).as("src"),
        greatest(col("w"), col("nw")).as("dst"))
      .groupBy(col("src"), col("dst")).agg(count(lit(1)).as("w"))
    graft.operators.Graph.pageRankWeighted(und, iterations = 3)
      .orderBy(col("pr_ppm").desc, col("node"))
      .limit(100)
  }

  /** F16: Avro container round-trip — documents written to one Avro
    * object-container file per partition through
    * [[graft.sources.AvroTable]] (avro-core, already on Spark's
    * classpath) and read back file-parallel via `DataFileStream`;
    * null-union nullability exercised by a column that is NULL on every
    * 7th doc. The container also carries the LOGICAL-type columns real
    * lake Avro has on nearly every table (r10): a bytes-decimal, a
    * timestamp-micros, an int-date, and a string-keyed map — each
    * projected back to an exact integer/string after the read so the
    * DuckDB hash compare witnesses the annotation encode/decode.
    * Oracle = the same projection in plain SQL: the format layer must
    * be invisible.
    */
  def avroRoundtrip(s: SparkSession, dir: String): DataFrame = {
    val root = Staged(s, dir, "avro") {
      val out = java.nio.file.Files
        .createTempDirectory("graft_avro").toString
      graft.sources.AvroTable.write(
        t(s, dir, "documents")
          .select(col("doc_id"), col("source"),
            length(col("text")).cast("long").as("n_chars"),
            when(col("doc_id") % 7 === 0, lit(null).cast("string"))
              .otherwise(col("source")).as("source_alt"),
            // nested columns (r9): a struct and an array ride the
            // container and are projected back flat after the read,
            // so the hash compare witnesses the nested encoding
            struct(col("source").as("nm"),
              length(col("text")).cast("long").as("ln")).as("meta"),
            array(col("doc_id"),
              length(col("text")).cast("long")).as("arr"),
            // logical types (r10): exact cent-derived decimal,
            // microsecond timestamp, epoch-offset date, and a map
            expr("CAST((doc_id * 101 + 25) AS DECIMAL(16,2)) / 100")
              .cast("decimal(12,2)").as("dec"),
            expr("timestamp_micros(1577836800000000 + doc_id * 1234567)")
              .as("ts"),
            expr("date_add(DATE '2020-01-01', CAST(doc_id % 1000 AS INT))")
              .as("dt"),
            map(col("source"),
              length(col("text")).cast("long")).as("mp"))
          .repartition(4), out)
      out
    }
    graft.sources.AvroTable.read(s, root)
      .select(col("doc_id"), col("source"), col("n_chars"), col("source_alt"),
        col("meta.nm").as("meta_nm"), col("meta.ln").as("meta_ln"),
        element_at(col("arr"), 1).as("arr0"),
        element_at(col("arr"), 2).as("arr1"),
        (col("dec") * 100).cast("long").as("dec_cents"),
        expr("unix_micros(ts)").as("ts_us"),
        date_format(col("dt"), "yyyy-MM-dd").as("dt_s"),
        element_at(col("mp"), col("source")).as("mp_v"))
      .orderBy(col("doc_id"))
  }

  /** F16b (r10): DEFLATE-compressed Avro container round-trip — the
    * same contract as F16 with the container blocks compressed (what
    * real lakes write); the codec rides the file header, sync markers
    * survive, and the read side decodes by header name. A fresh column
    * mix (strings + decimal) so the gate is not a byte-copy of F16's.
    */
  def avroDeflateRoundtrip(s: SparkSession, dir: String): DataFrame = {
    val root = Staged(s, dir, "avro_deflate") {
      val out = java.nio.file.Files
        .createTempDirectory("graft_avro_z").toString
      graft.sources.AvroTable.write(
        t(s, dir, "documents")
          .select(col("doc_id"), col("source"), col("text"),
            expr("CAST(CAST(doc_id * 37 + 11 AS DECIMAL(16,2)) / 100 AS DECIMAL(12,2))")
              .as("dec"))
          .repartition(4), out, codec = "deflate")
      out
    }
    graft.sources.AvroTable.read(s, root)
      .select(col("doc_id"), col("source"),
        md5(col("text")).as("text_md5"),
        (col("dec") * 100).cast("long").as("dec_cents"))
      .orderBy(col("doc_id"))
  }

  /** X48: CDC apply over the NETWORK bus — X44's exact fixture with the
    * change stream served by the TCP broker and consumed through
    * `SocketBusProvider` ([[graft.streaming.Streams
    * .cdcApplyFromSocketBus]]): the reference's apply loop fed over a
    * wire. Shares X2/X44's oracle — the merge result is
    * delivery-shape-independent.
    */
  def streamSocketCdc(s: SparkSession, dir: String): DataFrame = {
    val target = t(s, dir, "orders")
      .filter(col("o_orderdate").cast("timestamp") <
        lit("2000-01-01 00:00:00").cast("timestamp"))
      .select(col("o_orderkey"), col("o_orderstatus"),
        col("o_totalprice").as("total"), lit("N").as("is_deleted"))
    val staged = t(s, dir, "orders")
      .filter(col("o_orderkey") % 3 === 0)
      .select(col("o_orderkey"), lit("U").as("o_orderstatus"),
        (col("o_totalprice").cast("decimal(12,2)") + 1000)
          .cast("double").as("total"),
        when(col("o_orderkey") % 37 === 0, "Y").otherwise("N")
          .as("is_deleted"))
    graft.streaming.Streams.cdcApplyFromSocketBus(s, target, staged,
        Seq("o_orderkey"), Seq(col("o_orderkey")),
        busPartitions = 8,
        maxRowsPerTrigger = math.max(2000L, staged.count() / 8))
      .orderBy(col("o_orderkey"))
  }

  /** M13: G.711 companded-audio decode — each row synthesizes a REAL
    * μ-law (odd doc_id) or A-law (even) WAV file whose companded bytes
    * are a deterministic function of doc_id, and
    * [[graft.multimodal.G711]] expands them through the CCITT
    * segment/mantissa formulas to linear statistics; the oracle decodes
    * the same bytes with the identical integer arithmetic (the
    * construct→parse identity). The codecs themselves are validated
    * against the JDK's own μ-law/A-law converters in the spec.
    */
  def mmG711Stats(s: SparkSession, dir: String): DataFrame = {
    val d = t(s, dir, "documents").select(col("doc_id"))
      .withColumn("codec", (col("doc_id") % 2 + 6).cast("int"))
      .withColumn("ch", (expr("(doc_id % 4) div 2") + 1).cast("int"))
      .withColumn("rate", (lit(8000) + (col("doc_id") % 3) * 4000).cast("int"))
      .withColumn("nf", (lit(20) + col("doc_id") % 11).cast("int"))
      .withColumn("ns", col("nf") * col("ch"))
    val header = concat(
      lit("52494646"), le(lit(36) + col("ns"), 4), lit("57415645"),
      lit("666D7420"), le(lit(16), 4), le(col("codec"), 2), le(col("ch"), 2),
      le(col("rate"), 4), le(col("rate") * col("ch"), 4),
      le(col("ch"), 2), le(lit(8), 2),
      lit("64617461"), le(col("ns"), 4))
    val samples = expr(
      """array_join(transform(sequence(0, ns - 1), k ->
        |  lpad(hex((doc_id * 31 + k * 53) % 256), 2, '0')), '')""".stripMargin)
    d.withColumn("st",
        graft.multimodal.G711.g711_stats(unhex(concat(header, samples))))
      .select(Seq(col("doc_id")) ++
        graft.multimodal.G711.schema.fieldNames.map(f =>
          col(s"st.$f").as(f)): _*)
      .withColumn("channels", col("channels").cast("long"))
      .withColumn("sample_rate", col("sample_rate").cast("long"))
      .withColumn("codec", col("codec").cast("long"))
      .orderBy(col("doc_id"))
  }

  /** M14: true GIF raster decode — each row synthesizes a REAL GIF89a
    * file (logical screen + 256-entry global color table + image
    * descriptor + LZW data sub-blocks + trailer) whose palette indices
    * are a deterministic function of doc_id, and
    * [[graft.multimodal.GifRaster]] decodes it through the full LZW
    * decompressor and palette map. SQL can't run LZW, so the fixture's
    * stream is the degenerate-but-valid CLEAR-before-every-literal
    * encoding — code width pinned at 9 bits, each byte spanning at most
    * two codes, so the LSB-first bit packing is closed-form shift
    * arithmetic; the oracle computes the statistics directly from the
    * index formula. Real dictionary-growing LZW is exercised in the
    * spec against the JDK's own GIF encoder.
    */
  def mmGifStats(s: SparkSession, dir: String): DataFrame = {
    val d = t(s, dir, "documents").select(col("doc_id"))
      .withColumn("w", (col("doc_id") % 4 + 1).cast("int"))
      .withColumn("h", (col("doc_id") % 3 + 1).cast("int"))
      .withColumn("n", (col("w") * col("h")).cast("long"))
      .withColumn("nc", col("n") * 2 + 1)
      .withColumn("nbytes", expr("(9 * nc + 7) div 8"))
    // code j of the stream: CLEAR(256) before every literal, EOI(257)
    def codeAt(j: String) =
      s"""(CASE WHEN ($j) = 2 * n THEN 257
         |      WHEN ($j) % 2 = 0 THEN 256
         |      ELSE (doc_id * 13 + ((($j) - 1) div 2) * 29) % 256 END)""".stripMargin
    val dataHex = expr(
      s"""array_join(transform(sequence(0L, nbytes - 1), i ->
         |  lpad(hex((shiftright(${codeAt("(8 * i) div 9")}, cast(8 * i - 9 * ((8 * i) div 9) as int))
         |    | shiftleft(CASE WHEN (8 * i) div 9 + 1 <= 2 * n
         |        THEN ${codeAt("(8 * i) div 9 + 1")} ELSE 0 END,
         |        cast(9 - (8 * i - 9 * ((8 * i) div 9)) as int))) & 255),
         |  2, '0')), '')""".stripMargin)
    val gctHex = expr(
      """array_join(transform(sequence(0, 255), i ->
        |  concat(lpad(hex((i * 5) % 256), 2, '0'),
        |         lpad(hex((i * 11) % 256), 2, '0'),
        |         lpad(hex((i * 17) % 256), 2, '0'))), '')""".stripMargin)
    val gif = concat(
      lit("474946383961"), le(col("w"), 2), le(col("h"), 2),
      lit("F70000"), gctHex,
      lit("2C"), lit("00000000"), le(col("w"), 2), le(col("h"), 2), lit("00"),
      lit("08"), le(col("nbytes"), 1), dataHex, lit("00"),
      lit("3B"))
    d.withColumn("st",
        graft.multimodal.GifRaster.gif_stats(unhex(gif)))
      .select(Seq(col("doc_id")) ++
        graft.multimodal.GifRaster.schema.fieldNames.map(f =>
          col(s"st.$f").as(f)): _*)
      .withColumn("width", col("width").cast("long"))
      .withColumn("height", col("height").cast("long"))
      .orderBy(col("doc_id"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "text_unigram_vocab" -> (textUnigramVocab _),
    "text_unigram_tokenize" -> (textUnigramTokenize _),
    "text_pack_unigram" -> (textPackUnigram _),
    "text_unigram_encode" -> (textUnigramEncode _),
    "stream_unigram_tokens" -> (streamUnigramTokens _),
    "dedup_semantic" -> (dedupSemantic _),
    "avro_roundtrip" -> (avroRoundtrip _),
    "avro_deflate_roundtrip" -> (avroDeflateRoundtrip _),
    "text_textrank" -> (textTextrank _),
    "stream_socket_bus" -> (streamSocketBus _),
    "stream_kafka_bus" -> (streamKafkaBus _),
    "stream_kafka_produce" -> (streamKafkaProduce _),
    "stream_kafka_compressed" -> (streamKafkaCompressed _),
    "stream_kafka_keyed" -> (streamKafkaKeyed _),
    "mm_g711_stats" -> (mmG711Stats _),
    "stream_socket_cdc" -> (streamSocketCdc _),
    "mm_gif_stats" -> (mmGifStats _),
    "mm_bmp_stats" -> (mmBmpStats _),
    "mm_wav_stats" -> (mmWavStats _),
    "mm_png_stats" -> (mmPngStats _))

  val sql: Map[String, String] = Map(
    "text_unigram_vocab" ->
      Unigram.vocabOracle("documents", "text"),
    "text_unigram_tokenize" ->
      Unigram.tokenCountsOracle("documents", "doc_id", "text"),
    "text_pack_unigram" ->
      s"""WITH ${Unigram.oracleCtes("documents", "text")},
         |${Unigram.npCte},
         |db AS MATERIALIZED (
         |  SELECT doc_id, source, CAST(SUM(n_p) AS BIGINT) AS n_uni
         |  FROM (SELECT doc_id, source,
         |          unnest(string_split(text, ' ')) AS w
         |        FROM documents) dw
         |  JOIN np USING (w)
         |  WHERE w <> '' GROUP BY doc_id, source
         |),
         |ck AS (
         |  SELECT doc_id, source, n_uni,
         |         SUM(n_uni) OVER (PARTITION BY source ORDER BY doc_id
         |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
         |  FROM db
         |)
         |SELECT doc_id, source, n_uni,
         |  CAST((cum - n_uni) // 512 AS BIGINT) AS chunk_id
         |FROM ck ORDER BY doc_id""".stripMargin,
    "text_unigram_encode" ->
      s"""WITH ${Unigram.oracleCtes("documents", "text")},
         |${Unigram.segCte},
         |vocab AS MATERIALIZED (
         |  SELECT piece, CAST(ROW_NUMBER() OVER (ORDER BY piece) AS BIGINT) AS tid
         |  FROM (SELECT DISTINCT piece FROM seg)
         |), wseg AS MATERIALIZED (
         |  SELECT w, pos, tid FROM seg JOIN vocab USING (piece)
         |), dw AS (
         |  SELECT doc_id, CAST(i AS BIGINT) AS wp, w FROM (
         |    SELECT doc_id, unnest(string_split(text, ' ')) AS w,
         |           generate_subscripts(string_split(text, ' '), 1) AS i
         |    FROM documents WHERE doc_id < 50
         |  ) WHERE w <> ''
         |)
         |SELECT doc_id,
         |  string_agg(CAST(tid AS VARCHAR), ' ' ORDER BY wp, pos) AS token_ids
         |FROM dw JOIN wseg USING (w)
         |GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    "stream_unigram_tokens" ->
      s"""WITH ${Unigram.oracleCtes("documents", "text")},
         |${Unigram.npCte}
         |SELECT source, COUNT(*) AS n_ws, CAST(SUM(n_p) AS BIGINT) AS n_uni
         |FROM (SELECT source, unnest(string_split(text, ' ')) AS w
         |      FROM documents) dw
         |JOIN np USING (w) WHERE w <> '' GROUP BY source
         |ORDER BY source""".stripMargin,
    "dedup_semantic" ->
      s"""WITH RECURSIVE ${QueriesR15.kmeansCtes},
         |sgn AS (
         |  SELECT b, i, CASE WHEN substr(md5(CAST(b AS VARCHAR) || ':' ||
         |      CAST(i - 1 AS VARCHAR)), 1, 1) < '8' THEN 1 ELSE -1 END AS s
         |  FROM (SELECT unnest(generate_series(0, ${SemBits - 1})) AS b),
         |       (SELECT DISTINCT i FROM flat)
         |), proj AS (
         |  SELECT f.vec_id, g.b, SUM(g.s * f.x) AS p
         |  FROM flat f JOIN sgn g ON g.i = f.i GROUP BY 1, 2
         |), band AS (
         |  SELECT vec_id,
         |    CAST(SUM(CASE WHEN p >= 0 THEN 1 << b ELSE 0 END) AS BIGINT) AS band
         |  FROM proj GROUP BY 1
         |), pop AS (
         |  SELECT cid, COUNT(*) AS pop FROM a2 GROUP BY cid
         |), msk AS (
         |  SELECT cid, CASE ${(0 to 16).map(d =>
              s"WHEN pop <= ${SemCap * (1L << d)} THEN ${1L << d}")
              .mkString(" ")} ELSE 65536 END AS mask
         |  FROM pop
         |), members AS (
         |  SELECT a.vec_id, a.cid, bd.band % m.mask AS blk
         |  FROM a2 a JOIN band bd USING (vec_id) JOIN msk m USING (cid)
         |), fa AS (
         |  SELECT mm.vec_id, mm.cid, mm.blk, f.i, f.x
         |  FROM members mm JOIN flat f USING (vec_id)
         |), pr AS (
         |  SELECT a.vec_id AS id_a, b.vec_id AS id_b,
         |         SUM(a.x * b.x) AS dot,
         |         SUM(a.x * a.x) AS na, SUM(b.x * b.x) AS nb
         |  FROM fa a JOIN fa b
         |    ON a.cid = b.cid AND a.blk = b.blk AND a.i = b.i
         |       AND a.vec_id < b.vec_id
         |  GROUP BY 1, 2
         |), near AS (
         |  SELECT id_a, id_b FROM pr
         |  WHERE dot > 0 AND dot * dot * 25 >= na * nb * 4
         |), sym AS (
         |  SELECT id_a AS src, id_b AS dst FROM near
         |  UNION SELECT id_b, id_a FROM near
         |), reach(id, lbl) AS (
         |  SELECT src, src FROM sym
         |  UNION
         |  SELECT s.src, r.lbl FROM reach r JOIN sym s ON s.dst = r.id
         |), rep AS (
         |  SELECT id, MIN(lbl) AS rep_id FROM reach GROUP BY id
         |)
         |SELECT a.vec_id, CAST(a.cid AS BIGINT) AS cluster_id,
         |  CAST(COALESCE(r.rep_id, a.vec_id) AS BIGINT) AS rep_id,
         |  CAST(CASE WHEN COALESCE(r.rep_id, a.vec_id) = a.vec_id
         |       THEN 1 ELSE 0 END AS BIGINT) AS kept
         |FROM a2 a LEFT JOIN rep r ON r.id = a.vec_id
         |ORDER BY a.vec_id""".stripMargin,
    "avro_deflate_roundtrip" ->
      """SELECT doc_id, source, md5(text) AS text_md5,
        |  CAST(doc_id * 37 + 11 AS BIGINT) AS dec_cents
        |FROM documents ORDER BY doc_id""".stripMargin,
    "avro_roundtrip" ->
      """SELECT doc_id, source, CAST(length(text) AS BIGINT) AS n_chars,
        |  CASE WHEN doc_id % 7 = 0 THEN NULL ELSE source END AS source_alt,
        |  source AS meta_nm, CAST(length(text) AS BIGINT) AS meta_ln,
        |  doc_id AS arr0, CAST(length(text) AS BIGINT) AS arr1,
        |  CAST(doc_id * 101 + 25 AS BIGINT) AS dec_cents,
        |  CAST(1577836800000000 + doc_id * 1234567 AS BIGINT) AS ts_us,
        |  strftime(DATE '2020-01-01' + CAST(doc_id % 1000 AS INTEGER),
        |           '%Y-%m-%d') AS dt_s,
        |  CAST(length(text) AS BIGINT) AS mp_v
        |FROM documents ORDER BY doc_id""".stripMargin,
    "stream_socket_cdc" -> Queries.sqlCdc("cdc_merge"),
    "stream_kafka_bus" ->
      """SELECT o_orderkey % 4 AS pt, o_orderstatus,
        |  COUNT(*) AS n,
        |  CAST(SUM(CAST(CAST(o_totalprice AS DECIMAL(12,2)) * 100 AS BIGINT))
        |    AS BIGINT) AS sum_cents
        |FROM orders GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "stream_kafka_produce" ->
      """SELECT o_orderkey % 4 AS pt, o_orderstatus,
        |  COUNT(*) AS n,
        |  CAST(SUM(CAST(CAST(o_totalprice AS DECIMAL(12,2)) * 100 AS BIGINT))
        |    AS BIGINT) AS sum_cents
        |FROM orders GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "stream_kafka_compressed" ->
      """SELECT o_orderkey % 4 AS pt, o_orderstatus,
        |  COUNT(*) AS n,
        |  CAST(SUM(CAST(CAST(o_totalprice AS DECIMAL(12,2)) * 100 AS BIGINT))
        |    AS BIGINT) AS sum_cents
        |FROM orders GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "stream_kafka_keyed" ->
      """SELECT o_orderstatus, COUNT(*) AS n,
        |  CAST(SUM(CAST(CAST(o_totalprice AS DECIMAL(12,2)) * 100 AS BIGINT))
        |    AS BIGINT) AS sum_cents
        |FROM orders GROUP BY 1 ORDER BY 1""".stripMargin,
    "stream_socket_bus" ->
      """SELECT o_orderkey % 4 AS pt, o_orderstatus,
        |  COUNT(*) AS n,
        |  CAST(SUM(CAST(CAST(o_totalprice AS DECIMAL(12,2)) * 100 AS BIGINT))
        |    AS BIGINT) AS sum_cents
        |FROM orders GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "text_textrank" ->
      """WITH tk AS (
        |  SELECT doc_id, i AS p, w FROM (
        |    SELECT doc_id, unnest(string_split(text, ' ')) AS w,
        |           generate_subscripts(string_split(text, ' '), 1) AS i
        |    FROM documents)
        |  WHERE length(w) >= 4
        |), sq AS (
        |  SELECT doc_id, w,
        |         LEAD(w) OVER (PARTITION BY doc_id ORDER BY p) AS nw
        |  FROM tk
        |), und AS (
        |  SELECT LEAST(w, nw) AS a, GREATEST(w, nw) AS b,
        |         CAST(COUNT(*) AS BIGINT) AS wt
        |  FROM sq WHERE nw IS NOT NULL AND w <> nw GROUP BY 1, 2
        |), e AS (
        |  SELECT a AS src, b AS dst, wt AS w FROM und
        |  UNION ALL SELECT b, a, wt FROM und
        |), st AS (
        |  SELECT src, CAST(SUM(w) AS BIGINT) AS strength FROM e GROUP BY src
        |), p0 AS (
        |  SELECT src AS node, CAST(1000000 AS BIGINT) AS pr FROM st
        |), s1 AS (
        |  SELECT e.dst AS node, SUM(CAST(p.pr AS HUGEINT) * e.w // t.strength) AS s
        |  FROM e JOIN p0 p ON p.node = e.src JOIN st t ON t.src = e.src
        |  GROUP BY e.dst
        |), p1 AS (
        |  SELECT node, CAST(150000 + CAST(850000 AS HUGEINT) * s // 1000000
        |    AS BIGINT) AS pr FROM s1
        |), s2 AS (
        |  SELECT e.dst AS node, SUM(CAST(p.pr AS HUGEINT) * e.w // t.strength) AS s
        |  FROM e JOIN p1 p ON p.node = e.src JOIN st t ON t.src = e.src
        |  GROUP BY e.dst
        |), p2 AS (
        |  SELECT node, CAST(150000 + CAST(850000 AS HUGEINT) * s // 1000000
        |    AS BIGINT) AS pr FROM s2
        |), s3 AS (
        |  SELECT e.dst AS node, SUM(CAST(p.pr AS HUGEINT) * e.w // t.strength) AS s
        |  FROM e JOIN p2 p ON p.node = e.src JOIN st t ON t.src = e.src
        |  GROUP BY e.dst
        |), p3 AS (
        |  SELECT node, CAST(150000 + CAST(850000 AS HUGEINT) * s // 1000000
        |    AS BIGINT) AS pr FROM s3
        |)
        |SELECT node, pr AS pr_ppm FROM p3
        |ORDER BY pr DESC, node LIMIT 100""".stripMargin,
    "mm_bmp_stats" ->
      """WITH dims AS (
        |  SELECT doc_id, doc_id % 5 + 1 AS w, doc_id % 3 + 1 AS h,
        |         ((3 * (doc_id % 5 + 1) + 3) // 4) * 4 AS rs
        |  FROM documents
        |), bytes AS (
        |  SELECT doc_id, w, h, rs, i,
        |         (doc_id * 7 + i * 13) % 256 AS v
        |  FROM (SELECT doc_id, w, h, rs,
        |          unnest(generate_series(0, rs * h - 1)) AS i FROM dims)
        |  WHERE (i % rs) < 3 * w
        |), pix AS (
        |  SELECT doc_id,
        |         (i // rs) * w + (i % rs) // 3 AS p,
        |         CAST(SUM(CASE WHEN (i % rs) % 3 = 2 THEN v ELSE 0 END) AS BIGINT) AS r,
        |         CAST(SUM(CASE WHEN (i % rs) % 3 = 1 THEN v ELSE 0 END) AS BIGINT) AS g,
        |         CAST(SUM(CASE WHEN (i % rs) % 3 = 0 THEN v ELSE 0 END) AS BIGINT) AS b
        |  FROM bytes GROUP BY doc_id, p
        |), lum AS (
        |  SELECT doc_id, r, g, b,
        |         CASE WHEN (299*r + 587*g + 114*b) // 31875 > 7 THEN 7
        |              ELSE (299*r + 587*g + 114*b) // 31875 END AS bk
        |  FROM pix
        |)
        |SELECT d.doc_id, CAST(d.w AS BIGINT) AS width,
        |  CAST(d.h AS BIGINT) AS height,
        |  CAST(d.w * d.h AS BIGINT) AS n_px,
        |  CAST(SUM(l.r) AS BIGINT) AS sum_r,
        |  CAST(SUM(l.g) AS BIGINT) AS sum_g,
        |  CAST(SUM(l.b) AS BIGINT) AS sum_b,
        |  CAST(SUM(CASE WHEN bk = 0 THEN 1 ELSE 0 END) AS BIGINT) AS h0,
        |  CAST(SUM(CASE WHEN bk = 1 THEN 1 ELSE 0 END) AS BIGINT) AS h1,
        |  CAST(SUM(CASE WHEN bk = 2 THEN 1 ELSE 0 END) AS BIGINT) AS h2,
        |  CAST(SUM(CASE WHEN bk = 3 THEN 1 ELSE 0 END) AS BIGINT) AS h3,
        |  CAST(SUM(CASE WHEN bk = 4 THEN 1 ELSE 0 END) AS BIGINT) AS h4,
        |  CAST(SUM(CASE WHEN bk = 5 THEN 1 ELSE 0 END) AS BIGINT) AS h5,
        |  CAST(SUM(CASE WHEN bk = 6 THEN 1 ELSE 0 END) AS BIGINT) AS h6,
        |  CAST(SUM(CASE WHEN bk = 7 THEN 1 ELSE 0 END) AS BIGINT) AS h7
        |FROM dims d JOIN lum l USING (doc_id)
        |GROUP BY d.doc_id, d.w, d.h
        |ORDER BY d.doc_id""".stripMargin,
    "mm_wav_stats" ->
      """WITH dims AS (
        |  SELECT doc_id, doc_id % 2 + 1 AS ch,
        |         8000 + (doc_id % 5) * 4000 AS rate,
        |         20 + doc_id % 11 AS nf,
        |         (doc_id % 2 + 1) * (20 + doc_id % 11) AS ns
        |  FROM documents
        |), smp AS (
        |  SELECT doc_id,
        |         CASE WHEN (doc_id * 37 + k * 97) % 65536 >= 32768
        |              THEN (doc_id * 37 + k * 97) % 65536 - 65536
        |              ELSE (doc_id * 37 + k * 97) % 65536 END AS s
        |  FROM (SELECT doc_id, unnest(generate_series(0, ns - 1)) AS k
        |        FROM dims)
        |)
        |SELECT d.doc_id, CAST(d.ch AS BIGINT) AS channels,
        |  CAST(d.rate AS BIGINT) AS sample_rate,
        |  CAST(d.nf AS BIGINT) AS n_frames,
        |  CAST(d.nf * 1000 // d.rate AS BIGINT) AS duration_ms,
        |  CAST(MAX(ABS(m.s)) AS BIGINT) AS peak_abs,
        |  CAST(SUM(m.s * m.s) AS BIGINT) AS sum_sq,
        |  CAST(SUM(CASE WHEN m.s IN (32767, -32768) THEN 1 ELSE 0 END) AS BIGINT) AS n_clipped
        |FROM dims d JOIN smp m USING (doc_id)
        |GROUP BY d.doc_id, d.ch, d.rate, d.nf
        |ORDER BY d.doc_id""".stripMargin,
    "mm_png_stats" ->
      """WITH dims AS (
        |  SELECT doc_id, doc_id % 4 + 1 AS w, doc_id % 3 + 1 AS h
        |  FROM documents
        |), px AS (
        |  SELECT doc_id, w, h, k // w AS y, k % w AS xp
        |  FROM (SELECT doc_id, w, h,
        |          unnest(generate_series(0, h * w - 1)) AS k FROM dims)
        |), rc AS (
        |  SELECT doc_id, w, h,
        |    ((y+1) * (doc_id*11 + (3*xp)*7)   + 31 * y * (y+1) // 2) % 256 AS r,
        |    ((y+1) * (doc_id*11 + (3*xp+1)*7) + 31 * y * (y+1) // 2) % 256 AS g,
        |    ((y+1) * (doc_id*11 + (3*xp+2)*7) + 31 * y * (y+1) // 2) % 256 AS b
        |  FROM px
        |), lum AS (
        |  SELECT doc_id, w, h, r, g, b,
        |    CASE WHEN (299*r + 587*g + 114*b) // 31875 > 7 THEN 7
        |         ELSE (299*r + 587*g + 114*b) // 31875 END AS bk
        |  FROM rc
        |)
        |SELECT doc_id, CAST(MIN(w) AS BIGINT) AS width,
        |  CAST(MIN(h) AS BIGINT) AS height,
        |  CAST(MIN(w) * MIN(h) AS BIGINT) AS n_px,
        |  CAST(SUM(r) AS BIGINT) AS sum_r,
        |  CAST(SUM(g) AS BIGINT) AS sum_g,
        |  CAST(SUM(b) AS BIGINT) AS sum_b,
        |  CAST(SUM(CASE WHEN bk = 0 THEN 1 ELSE 0 END) AS BIGINT) AS h0,
        |  CAST(SUM(CASE WHEN bk = 1 THEN 1 ELSE 0 END) AS BIGINT) AS h1,
        |  CAST(SUM(CASE WHEN bk = 2 THEN 1 ELSE 0 END) AS BIGINT) AS h2,
        |  CAST(SUM(CASE WHEN bk = 3 THEN 1 ELSE 0 END) AS BIGINT) AS h3,
        |  CAST(SUM(CASE WHEN bk = 4 THEN 1 ELSE 0 END) AS BIGINT) AS h4,
        |  CAST(SUM(CASE WHEN bk = 5 THEN 1 ELSE 0 END) AS BIGINT) AS h5,
        |  CAST(SUM(CASE WHEN bk = 6 THEN 1 ELSE 0 END) AS BIGINT) AS h6,
        |  CAST(SUM(CASE WHEN bk = 7 THEN 1 ELSE 0 END) AS BIGINT) AS h7
        |FROM lum GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    "mm_g711_stats" ->
      """WITH dims AS (
        |  SELECT doc_id, doc_id % 2 + 6 AS codec,
        |         (doc_id % 4) // 2 + 1 AS ch,
        |         8000 + (doc_id % 3) * 4000 AS rate,
        |         20 + doc_id % 11 AS nf,
        |         ((doc_id % 4) // 2 + 1) * (20 + doc_id % 11) AS ns
        |  FROM documents
        |), smp AS (
        |  SELECT doc_id, codec, (doc_id * 31 + k * 53) % 256 AS b
        |  FROM (SELECT doc_id, codec, unnest(generate_series(0, ns - 1)) AS k
        |        FROM dims)
        |), lin AS (
        |  SELECT doc_id,
        |    CASE WHEN codec = 7 THEN
        |      CASE WHEN (255 - b) >= 128
        |        THEN -((((((255 - b) % 16) * 8 + 132) << (((255 - b) // 16) % 8)) - 132))
        |        ELSE (((((255 - b) % 16) * 8 + 132) << (((255 - b) // 16) % 8)) - 132)
        |      END
        |    ELSE
        |      CASE WHEN xor(b, 85) >= 128
        |        THEN (CASE WHEN (xor(b, 85) // 16) % 8 = 0
        |              THEN (xor(b, 85) % 16) * 16 + 8
        |              ELSE ((xor(b, 85) % 16) * 16 + 264)
        |                   << ((xor(b, 85) // 16) % 8 - 1) END)
        |        ELSE -(CASE WHEN (xor(b, 85) // 16) % 8 = 0
        |              THEN (xor(b, 85) % 16) * 16 + 8
        |              ELSE ((xor(b, 85) % 16) * 16 + 264)
        |                   << ((xor(b, 85) // 16) % 8 - 1) END)
        |      END
        |    END AS s
        |  FROM smp
        |)
        |SELECT d.doc_id, CAST(d.ch AS BIGINT) AS channels,
        |  CAST(d.rate AS BIGINT) AS sample_rate,
        |  CAST(d.codec AS BIGINT) AS codec,
        |  CAST(d.nf AS BIGINT) AS n_frames,
        |  CAST(d.nf * 1000 // d.rate AS BIGINT) AS duration_ms,
        |  CAST(MAX(ABS(l.s)) AS BIGINT) AS peak_abs,
        |  CAST(SUM(l.s * l.s) AS BIGINT) AS sum_sq,
        |  CAST(SUM(CASE WHEN ABS(l.s) =
        |      CASE WHEN d.codec = 7 THEN 32124 ELSE 32256 END
        |    THEN 1 ELSE 0 END) AS BIGINT) AS n_fullscale
        |FROM dims d JOIN lin l USING (doc_id)
        |GROUP BY d.doc_id, d.ch, d.rate, d.codec, d.nf
        |ORDER BY d.doc_id""".stripMargin,
    "mm_gif_stats" ->
      """WITH dims AS (
        |  SELECT doc_id, doc_id % 4 + 1 AS w, doc_id % 3 + 1 AS h
        |  FROM documents
        |), px AS (
        |  SELECT doc_id, w, h,
        |         (doc_id * 13 + p * 29) % 256 AS ix
        |  FROM (SELECT doc_id, w, h,
        |          unnest(generate_series(0, w * h - 1)) AS p FROM dims)
        |), rgb AS (
        |  SELECT doc_id, w, h,
        |         (ix * 5) % 256 AS r, (ix * 11) % 256 AS g,
        |         (ix * 17) % 256 AS b
        |  FROM px
        |), lum AS (
        |  SELECT doc_id, w, h, r, g, b,
        |    CASE WHEN (299*r + 587*g + 114*b) // 31875 > 7 THEN 7
        |         ELSE (299*r + 587*g + 114*b) // 31875 END AS bk
        |  FROM rgb
        |)
        |SELECT doc_id, CAST(MIN(w) AS BIGINT) AS width,
        |  CAST(MIN(h) AS BIGINT) AS height,
        |  CAST(MIN(w) * MIN(h) AS BIGINT) AS n_px,
        |  CAST(SUM(r) AS BIGINT) AS sum_r,
        |  CAST(SUM(g) AS BIGINT) AS sum_g,
        |  CAST(SUM(b) AS BIGINT) AS sum_b,
        |  CAST(SUM(CASE WHEN bk = 0 THEN 1 ELSE 0 END) AS BIGINT) AS h0,
        |  CAST(SUM(CASE WHEN bk = 1 THEN 1 ELSE 0 END) AS BIGINT) AS h1,
        |  CAST(SUM(CASE WHEN bk = 2 THEN 1 ELSE 0 END) AS BIGINT) AS h2,
        |  CAST(SUM(CASE WHEN bk = 3 THEN 1 ELSE 0 END) AS BIGINT) AS h3,
        |  CAST(SUM(CASE WHEN bk = 4 THEN 1 ELSE 0 END) AS BIGINT) AS h4,
        |  CAST(SUM(CASE WHEN bk = 5 THEN 1 ELSE 0 END) AS BIGINT) AS h5,
        |  CAST(SUM(CASE WHEN bk = 6 THEN 1 ELSE 0 END) AS BIGINT) AS h6,
        |  CAST(SUM(CASE WHEN bk = 7 THEN 1 ELSE 0 END) AS BIGINT) AS h7
        |FROM lum GROUP BY doc_id ORDER BY doc_id""".stripMargin)
}
