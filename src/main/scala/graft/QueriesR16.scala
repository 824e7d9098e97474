package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.operators.Bpe
import graft.sources.{LakeWriter, Tables}

/** Round-7 surface growth: true BPE tokenization (T34 — the r6 verdict's
  * top text gap) with the token-budget operators re-pointed at trained
  * subword counts (T9b packing, T24b mixture), cross-document repeated-
  * span detection (D21 — the cut-list half of the Lee et al. exact-
  * substring pass), and schema-evolving union (R80). House contract as
  * everywhere: integer/string outputs, deterministic total orders, every
  * gate a bit-exact hash compare against DuckDB.
  */
object QueriesR16 {
  private def t(s: SparkSession, dir: String, name: String): DataFrame =
    Tables.load(s, dir, name)

  /** BPE merge budget shared by the Scala gates and the generated
    * oracle SQL. Small on purpose: the gate corpus has a ~31-word
    * vocabulary, so 24 merges leaves both multi-token and fully-merged
    * words in play (a production run would use 30k+).
    */
  val bpeMerges = 24

  // One staged training: the merges and end-state tables are
  // vocabulary-sized and ckpt'd, and FOUR gates consume them (merges,
  // tokenize, pack, mixture). At production scale this is the "train
  // once, broadcast the vocab everywhere" deployment shape.
  private[graft] def bpeTrained(s: SparkSession, dir: String)
      : (DataFrame, DataFrame) =
    Staged(s, dir, "bpe")(
      Bpe.train(t(s, dir, "documents"), col("text"), bpeMerges))

  /** Per-doc (doc_id, source, n_bpe) off the shared trained state. */
  private def bpeDocCounts(s: SparkSession, dir: String): DataFrame = {
    val (_, endState) = bpeTrained(s, dir)
    val nSub = endState.groupBy(col("w")).agg(count(lit(1)).as("n_sub"))
    t(s, dir, "documents")
      .select(col("doc_id"), col("source"),
        explode(split(col("text"), " ")).as("w"))
      .join(broadcast(nSub), Seq("w"))
      .groupBy(col("doc_id"), col("source"))
      .agg(sum(col("n_sub")).as("n_bpe"))
  }

  /** T34: the trained BPE merges table — rank order IS the tokenizer
    * (see [[graft.operators.Bpe]]); the oracle replays the identical
    * training loop as an unrolled chained-CTE pyramid.
    */
  def textBpeMerges(s: SparkSession, dir: String): DataFrame = {
    val (merges, _) = bpeTrained(s, dir)
    merges.orderBy(col("mrank"))
  }

  /** T34: per-document token accounting under the trained tokenizer —
    * whitespace count next to BPE subword count, the honest budget
    * basis for every token-budget operator.
    */
  def textBpeTokenize(s: SparkSession, dir: String): DataFrame = {
    val (_, endState) = bpeTrained(s, dir)
    val nSub = endState.groupBy(col("w")).agg(count(lit(1)).as("n_sub"))
    t(s, dir, "documents")
      .select(col("doc_id"), explode(split(col("text"), " ")).as("w"))
      .join(broadcast(nSub), Seq("w"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_ws"), sum(col("n_sub")).as("n_bpe"))
      .orderBy(col("doc_id"))
  }

  /** T9b: sequence packing re-pointed at BPE token counts — T9's
    * greedy per-source cumulative packing, budgeting in the units an
    * LLM consumes (the r6 verdict: whitespace budgets mis-size real
    * batches 20–40%). Budget 512 subwords per chunk.
    */
  def textPackBpe(s: SparkSession, dir: String): DataFrame = {
    val budget = 512L
    val w = Window.partitionBy(col("source")).orderBy(col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    bpeDocCounts(s, dir)
      .withColumn("cum", sum(col("n_bpe")).over(w))
      .select(col("doc_id"), col("source"), col("n_bpe"),
        // exact integer division (house idiom): the double-division form
        // diverges from the oracle's '//' once cum exceeds 2^53
        expr(s"(cum - n_bpe) div $budget").as("chunk_id"))
      .orderBy(col("doc_id"))
  }

  /** T24b: mixture materialization re-pointed at BPE token counts —
    * T24's hash-shuffled per-source budget fill over n_bpe (budgets
    * scaled 2× vs the whitespace form since subword counts run higher).
    */
  def textMixtureBpe(s: SparkSession, dir: String): DataFrame = {
    val d = bpeDocCounts(s, dir)
      .withColumn("budget",
        when(substring(col("source"), 4, 10).cast("long") % 2 === 0, 1600L)
          .otherwise(400L))
    graft.operators.Sampling.mixtureSelect(d, col("source"), col("doc_id"),
        col("n_bpe"), col("budget"))
      .select(col("source"), col("doc_id"), col("n_bpe"), col("cum_before"))
      .orderBy(col("source"), col("doc_id"))
  }

  /** D21: cross-document repeated-span cut list (see
    * [[graft.dedup.Dedup.repeatedSpans]]) — maximal token ranges that
    * repeat text seen earlier in the corpus (keep-first rule), 8-token
    * windows; the spans a dedup pass removes, complementing D14's
    * pairwise overlap report.
    */
  def dedupRepeatedSpans(s: SparkSession, dir: String): DataFrame =
    graft.dedup.Dedup.repeatedSpans(t(s, dir, "documents"),
        col("doc_id"), col("text"), w = 8)
      .orderBy(col("doc_id"), col("span_start"))

  /** R80: schema-evolving union — unionByName with allowMissingColumns,
    * the relational form of "append a table whose schema drifted"
    * (columns matched BY NAME, absent columns null-filled); the id-gap
    * filler the r6 verdict flagged. Split orders by key parity into a
    * narrow v1 and a wider v2 and re-unify.
    */
  def qUnionEvolve(s: SparkSession, dir: String): DataFrame = {
    val o = t(s, dir, "orders")
    val v1 = o.filter(col("o_orderkey") % 2 === 0)
      .select(col("o_orderkey"), col("o_totalprice"))
    val v2 = o.filter(col("o_orderkey") % 2 === 1)
      .select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"))
    v1.unionByName(v2, allowMissingColumns = true)
      .orderBy(col("o_orderkey"))
  }

  /** X43: aggregation fed from the message-bus source (see
    * [[graft.streaming.BusSource]]) — events staged onto an 8-partition
    * bus keyed by user hash (Kafka producer keying), JSON payloads
    * decoded in-stream with from_json, and an order-independent
    * per-type aggregate drained in complete mode across several
    * admission-controlled micro-batches. The one X gate whose input
    * arrives from MULTIPLE partitions in parallel — per-partition order
    * only, like a real bus.
    */
  def streamBusAgg(s: SparkSession, dir: String): DataFrame = {
    val e = t(s, dir, "events")
      .select(col("event_type"), col("user_id").cast("long").as("user_id"),
        col("event_id").cast("long").as("event_id"))
    val root = java.nio.file.Files.createTempDirectory("graft_bus").toString
    graft.streaming.BusSource.stage(
      e.select(pmod(hash(col("user_id")), lit(8)).as("pt"),
        to_json(struct(col("event_type"), col("user_id"))).as("v"),
        col("event_id")),
      root, busPartitions = 8, pt = col("pt"), value = col("v"),
      col("event_id"))
    // ~8 admission-controlled batches at any SF (events scale linearly);
    // a FIXED trigger size at sf0.1 meant 20 micro-batches of pure
    // harness overhead in the bench
    val trigger = math.max(1000L, e.count() / 8)
    graft.streaming.Streams.busReplay(s, root, maxRowsPerTrigger = trigger,
        s"gate_bus_${System.nanoTime()}") { stream =>
      stream.select(from_json(col("value"),
          org.apache.spark.sql.types.StructType.fromDDL(
            "event_type STRING, user_id BIGINT")).as("e"))
        .groupBy(col("e.event_type").as("event_type"))
        .agg(count(lit(1)).as("n_events"),
          sum(pmod(col("e.user_id"), lit(1000))).as("checksum"))
    }.orderBy(col("event_type"))
  }

  /** M9: pixel-level perceptual near-dup (see
    * [[graft.multimodal.PatchHash]]) — aHash over each doc's synthetic
    * 8×8 luma patch (the DECODE stub: patch bytes are a deterministic
    * function of doc_id, with every 50th doc a pixel-swapped copy of
    * its predecessor — the planted near-dups), then the BANDED Hamming
    * self-join (4 × 16-bit bands; pigeonhole-complete for Hamming ≤ 3)
    * with exact `bit_count(a ^ b)` verify. No all-pairs stage.
    */
  def mmPatchAhash(s: SparkSession, dir: String): DataFrame = {
    val d = t(s, dir, "documents").select(col("doc_id"))
    val patch = expr(
      """unhex(array_join(transform(sequence(0, 63), i ->
        |  lpad(hex(CASE WHEN doc_id % 50 = 1 THEN
        |    CASE WHEN i = 0 THEN ((doc_id - 1) * 31 + 17) % 256
        |         WHEN i = 1 THEN ((doc_id - 1) * 31) % 256
        |         ELSE ((doc_id - 1) * 31 + i * 17) % 256 END
        |  ELSE (doc_id * 31 + i * 17) % 256 END), 2, '0')), ''))""".stripMargin)
    val hashes = d.withColumn("hash",
      graft.multimodal.PatchHash.ahash(patch))
    val bands = hashes.select(col("doc_id"), col("hash"),
        explode(expr(
          """transform(sequence(0, 3), b -> struct(
            |  b AS band_id,
            |  shiftright(hash, CAST(b * 16 AS INT)) & 65535 AS band))""".stripMargin))
          .as("bnd"))
      .select(col("doc_id"), col("hash"),
        col("bnd.band_id").as("band_id"), col("bnd.band").as("band"))
    val pairs = bands.as("a").join(bands.as("b"),
        col("a.band_id") === col("b.band_id") &&
          col("a.band") === col("b.band") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
        col("a.hash").as("ha"), col("b.hash").as("hb"))
      .distinct()
    pairs
      .select(col("doc_a"), col("doc_b"),
        expr("CAST(bit_count(ha ^ hb) AS BIGINT)").as("hamming"))
      .filter(col("hamming") <= 3)
      .orderBy(col("doc_a"), col("doc_b"))
  }

  /** T34c: the exported subword VOCABULARY — the artifact a tokenizer
    * consumer actually ships: every trained subword with how many
    * distinct words use it and its total corpus occurrence mass
    * (Σ freq over its (word, pos) slots). One join of the vocab-sized
    * end state against the word-freq table.
    */
  def textBpeVocab(s: SparkSession, dir: String): DataFrame = {
    val (_, endState) = bpeTrained(s, dir)
    val wf = t(s, dir, "documents")
      .select(explode(split(col("text"), " ")).as("w"))
      .filter(col("w") =!= "")
      .groupBy(col("w")).agg(count(lit(1)).as("freq"))
    endState.join(wf, Seq("w"))
      .groupBy(col("s").as("subword"))
      .agg(countDistinct(col("w")).as("n_words"),
        sum(col("freq")).as("total_freq"))
      .orderBy(col("subword"))
  }

  /** D21b: the dedup DECISION report over the span cut list — per
    * source: total tokens, removable (repeated-span) tokens, and the
    * removable rate in ppm; the number a pipeline owner reads before
    * turning span-cutting on.
    */
  def dedupSpanStats(s: SparkSession, dir: String): DataFrame = {
    val d = t(s, dir, "documents")
    val cut = graft.dedup.Dedup.repeatedSpans(d, col("doc_id"), col("text"),
        w = 8)
      .groupBy(col("doc_id")).agg(sum(col("span_tokens")).as("cut"))
    d.select(col("doc_id"), col("source"),
        size(split(col("text"), " ")).cast("long").as("n"))
      .join(cut, Seq("doc_id"), "left")
      .groupBy(col("source"))
      .agg(sum(col("n")).as("total_tokens"),
        sum(coalesce(col("cut"), lit(0L))).as("cut_tokens"),
        expr("CAST(sum(coalesce(cut, 0)) * 1000000 div sum(n) AS BIGINT)")
          .as("cut_ppm"))
      .orderBy(col("source"))
  }

  /** X44: CDC apply from the bus (see
    * [[graft.streaming.Streams.cdcApplyFromBus]]) — X2's exact fixture
    * (pre-2000 orders target, every-3rd-key staged changes with
    * every-37th a soft delete) with the changes arriving as JSON on an
    * 8-partition PK-keyed bus instead of a single staged file; shares
    * X2's oracle because the merge result is delivery-shape-independent
    * (per-key order preserved, cross-key merges commute).
    */
  def streamBusCdc(s: SparkSession, dir: String): DataFrame = {
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
    graft.streaming.Streams.cdcApplyFromBus(s, target, staged,
        Seq("o_orderkey"), Seq(col("o_orderkey")),
        busPartitions = 8,
        // ~8 admission-controlled batches at any SF (the streamBusAgg
        // rule; fixed 2000 meant 25 batches at sf0.1)
        maxRowsPerTrigger = math.max(2000L, staged.count() / 8))
      .orderBy(col("o_orderkey"))
  }

  /** T34d: BPE ENCODING — the tokenizer loop closed end to end: train
    * (T34) → vocabulary ids (subword rank under the total order) →
    * per-document token-ID sequences, the actual model input. Encoding
    * is vocabulary-joined, never per-token recomputed: each distinct
    * word carries its ordered subword-id list (vocab-sized table), docs
    * explode to (position, word), join, and re-assemble in word order —
    * the corpus-side cost is one explode + one broadcast join + one
    * grouped ordered flatten. First 50 docs, ids space-joined (bounded,
    * readable gate output).
    */
  def textBpeEncode(s: SparkSession, dir: String): DataFrame = {
    val (_, endState) = bpeTrained(s, dir)
    val vocab = endState.select(col("s")).distinct()
      .withColumn("tid", row_number().over(
        org.apache.spark.sql.expressions.Window.orderBy(col("s"))).cast("long"))
    val wsub = endState.join(vocab, Seq("s"))
      .select(col("w"), col("p"), col("tid"))
    t(s, dir, "documents").filter(col("doc_id") < 50)
      .select(col("doc_id"),
        posexplode(split(col("text"), " ")).as(Seq("wp", "w")))
      .filter(col("w") =!= "")
      .join(broadcast(wsub), Seq("w"))
      .groupBy(col("doc_id"))
      .agg(expr(
        """array_join(transform(sort_array(collect_list(struct(wp, p, tid))),
          |                     x -> cast(x.tid AS string)), ' ')""".stripMargin)
        .as("token_ids"))
      .orderBy(col("doc_id"))
  }

  /** R191: deterministic random-walk corpus (see
    * [[graft.operators.Graph.randomWalks]]) — 4-step walks from every
    * 97th co-purchase node, the DeepWalk-style training corpus for
    * graph embeddings with hash-replayable "randomness".
    */
  def graphWalks(s: SparkSession, dir: String): DataFrame = {
    val edges = QueriesR6.coPurchaseEdges(s, dir)
    val seeds = edges
      .select(explode(array(col("src"), col("dst"))).as("node"))
      .distinct().filter(col("node") % 97 === 0)
    graft.operators.Graph.randomWalks(edges, seeds, steps = 4)
      .orderBy(col("seed"))
  }

  private def walksOracle: String = {
    val steps = (1 to 4).map { i =>
      s"""w$i AS (
         |  SELECT seed, cur2 AS cur,
         |         path || '->' || CAST(cur2 AS VARCHAR) AS path
         |  FROM (
         |    SELECT w.seed, w.path,
         |      CASE WHEN a.ns IS NULL THEN w.cur
         |           ELSE a.ns[CAST(CAST(('0x' || substr(md5(
         |             CAST(w.seed AS VARCHAR) || '|$i|' ||
         |             CAST(w.cur AS VARCHAR)), 1, 12)) AS BIGINT)
         |             % len(a.ns) AS BIGINT) + 1]
         |      END AS cur2
         |    FROM w${i - 1} w LEFT JOIN adj a ON a.node = w.cur
         |  )
         |)""".stripMargin
    }.mkString(",\n")
    s"""WITH li AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
       |und AS (
       |  SELECT a.l_partkey AS a, b.l_partkey AS b
       |  FROM li a JOIN li b
       |    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
       |  GROUP BY 1, 2
       |), e0 AS (
       |  SELECT a AS src, b AS dst FROM und
       |  UNION ALL SELECT b, a FROM und
       |), adj AS MATERIALIZED (
       |  SELECT src AS node, list_sort(list(dst)) AS ns FROM e0 GROUP BY src
       |), sd AS (
       |  SELECT DISTINCT src AS node FROM e0 WHERE src % 97 = 0
       |), w0 AS (
       |  SELECT node AS seed, node AS cur, CAST(node AS VARCHAR) AS path
       |  FROM sd
       |),
       |$steps
       |SELECT seed, path FROM w4 ORDER BY seed""".stripMargin
  }

  /** D9b: per-document contamination RATE — D9's drop decision turned
    * into the report evaluators actually read: for every training doc,
    * its distinct 24-char grams, how many appear anywhere in the eval
    * split, and the contamination rate in exact ppm (hits·10⁶ div
    * grams). Eval grams are a broadcast semi-join side (corpus never
    * shuffles on grams); zero-contamination docs report 0, full
    * coverage.
    */
  def dedupContaminationRate(s: SparkSession, dir: String): DataFrame = {
    val d = t(s, dir, "documents")
    def grams(df: DataFrame) = df.filter(length(col("text")) >= 24)
      .select(col("doc_id"), explode(expr(
        "transform(sequence(1, length(text) - 23), i -> substring(text, i, 24))"))
        .as("g"))
      .distinct()
    val ev = grams(d.filter(col("doc_id") % 97 === 0)).select(col("g")).distinct()
    val tg = grams(d.filter(col("doc_id") % 97 =!= 0))
    val tot = tg.groupBy(col("doc_id")).agg(count(lit(1)).as("n_grams"))
    val hit = tg.join(broadcast(ev), Seq("g"), "left_semi")
      .groupBy(col("doc_id")).agg(count(lit(1)).as("n_hits"))
    tot.join(hit, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_grams"),
        coalesce(col("n_hits"), lit(0L)).as("n_hits"),
        expr("CAST(coalesce(n_hits, 0) * 1000000 div n_grams AS BIGINT)")
          .as("rate_ppm"))
      .orderBy(col("doc_id"))
  }

  /** X45: streaming BPE token accounting — arriving documents counted
    * in TRAINED subword units live (the budget gauge a streaming ingest
    * pipeline runs): docs ride the bus as JSON, the vocab-sized
    * per-word subword table joins the stream as a broadcast static
    * side, per-source (ws, bpe) totals drain in complete mode ≡ the
    * batch report — order-independent sums, so multi-partition bus
    * delivery is safe by construction.
    */
  def streamBpeTokens(s: SparkSession, dir: String): DataFrame = {
    val (_, endState) = bpeTrained(s, dir)
    val nSub = broadcast(
      endState.groupBy(col("w")).agg(count(lit(1)).as("n_sub")))
    val d = t(s, dir, "documents")
      .select(col("doc_id"), col("source"), col("text"))
    val root = java.nio.file.Files.createTempDirectory("graft_busbpe").toString
    graft.streaming.BusSource.stage(
      d.select(pmod(hash(col("doc_id")), lit(4)).as("pt"),
        to_json(struct(col("source"), col("text"))).as("v"), col("doc_id")),
      root, busPartitions = 4, pt = col("pt"), value = col("v"),
      col("doc_id"))
    // ~8 admission-controlled batches at any SF (the streamBusAgg rule;
    // a fixed 100-row trigger meant 50 micro-batches of pure harness
    // overhead at sf0.1 — 32 s of the r8 recon bench)
    val trigger = math.max(100L, d.count() / 8)
    graft.streaming.Streams.busReplay(s, root, maxRowsPerTrigger = trigger,
        s"gate_busbpe_${System.nanoTime()}") { stream =>
      stream.select(from_json(col("value"),
          org.apache.spark.sql.types.StructType.fromDDL(
            "source STRING, text STRING")).as("e"))
        .select(col("e.source").as("source"),
          explode(split(col("e.text"), " ")).as("w"))
        .join(nSub, Seq("w"))
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_ws"), sum(col("n_sub")).as("n_bpe"))
    }.orderBy(col("source"))
  }

  // ---------------------------------------------------------------
  // F14b/F15b: open-table-format ROUND-TRIP gates — build a real Delta
  // / Iceberg table from the test schema inside the gate (data files +
  // protocol-faithful logs/manifests incl. a remove/replace commit),
  // read it back through the graft readers, and hash-compare against
  // plain SQL over the source table: the readers' correctness becomes
  // oracle-backed, not just spec-backed. Staged; the build cost is a
  // handful of tiny writes.
  // ---------------------------------------------------------------

  private def esc(s: String): String =
    s.replace("\\", "\\\\").replace("\"", "\\\"")

  private def centsBal = (col("s_acctbal").cast("decimal(12,2)") * 100)
    .cast("long")

  /** The staged (read-only) F14b table. */
  private[graft] def buildDeltaTable(s: SparkSession, dir: String): String =
    Staged(s, dir, "delta")(buildDeltaFresh(s, dir))

  /** A fresh, unstaged F14b table for fixtures that change it. */
  private[graft] def buildDeltaFresh(s: SparkSession, dir: String): String = {
        val t0 = java.nio.file.Files.createTempDirectory("delta_rt")
        val sup = t(s, dir, "supplier").select(col("s_suppkey"),
          centsBal.as("bal_cents"),
          (col("s_nationkey") % 5).cast("string").as("bucket"))
        val schema = org.apache.spark.sql.types.StructType.fromDDL(
          "s_suppkey BIGINT, bal_cents BIGINT, bucket STRING")
        // key-sorted data files: the v2 DELETION VECTOR addresses rows
        // by position, so positions must be deterministic
        val adds = (0 until 5).map { b =>
          val rel = s"data/bucket=$b/f0.parquet"
          LakeWriter.writeParquetFile(
            sup.filter(col("bucket") === b.toString).drop("bucket")
              .orderBy(col("s_suppkey")),
            t0.resolve(rel))
          s"""{"add":{"path":"$rel","partitionValues":{"bucket":"$b"},"dataChange":true}}"""
        }
        val meta =
          s"""{"metaData":{"id":"rt","schemaString":"${esc(schema.json)}","partitionColumns":["bucket"]}}"""
        val logDir = t0.resolve("_delta_log")
        java.nio.file.Files.createDirectories(logDir)
        java.nio.file.Files.writeString(logDir.resolve(f"${0L}%020d.json"),
          (meta +: adds).mkString("\n"))
        // v1: replace bucket 0 with bal + 10000 (the remove/re-add path)
        LakeWriter.writeParquetFile(
          sup.filter(col("bucket") === "0").drop("bucket")
            .withColumn("bal_cents", col("bal_cents") + 10000L),
          t0.resolve("data/bucket=0/f1.parquet"))
        java.nio.file.Files.writeString(logDir.resolve(f"${1L}%020d.json"), Seq(
          """{"remove":{"path":"data/bucket=0/f0.parquet","dataChange":true}}""",
          """{"add":{"path":"data/bucket=0/f1.parquet","partitionValues":{"bucket":"0"},"dataChange":true}}""")
          .mkString("\n"))
        // v2: a DELETION VECTOR (F14c) re-adds bucket 1's file with
        // every 3rd key-ranked row dead — the bitmap bytes come from
        // the CANONICAL RoaringBitmap library (Spark's own classpath),
        // the reader decodes them with the house codec
        val n1 = sup.filter(col("bucket") === "1").count()
        val rb = new org.roaringbitmap.longlong.Roaring64NavigableMap()
        (0L until n1 by 3).foreach(rb.addLong)
        rb.runOptimize()
        val bos = new java.io.ByteArrayOutputStream()
        rb.serializePortable(new java.io.DataOutputStream(bos))
        val (dvFile, dvOff, dvSize) =
          graft.sources.DeletionVectors.dvFileBytes(bos.toByteArray)
        val uuid = new java.util.UUID(0x6772616674L, 0x64766273L) // fixed
        java.nio.file.Files.write(
          t0.resolve(s"deletion_vector_$uuid.bin"), dvFile)
        val ub = java.nio.ByteBuffer.allocate(16)
        ub.putLong(uuid.getMostSignificantBits)
        ub.putLong(uuid.getLeastSignificantBits)
        val z85 = graft.sources.DeletionVectors.z85Encode(ub.array())
        java.nio.file.Files.writeString(logDir.resolve(f"${2L}%020d.json"),
          s"""{"add":{"path":"data/bucket=1/f0.parquet","partitionValues":{"bucket":"1"},"dataChange":false,"deletionVector":{"storageType":"u","pathOrInlineDv":"$z85","offset":$dvOff,"sizeInBytes":$dvSize,"cardinality":${rb.getLongCardinality}}}}""")
        // v3 (r10): a DV commit WRITTEN BY THE ENGINE — deleteWithDv
        // evaluates a predicate over bucket 2's file, encodes the
        // positions with the HOUSE Roaring encoder, writes the DV file
        // and the commit; the reader decodes its own writer's bytes
        // (and the spec pins the encoder against the canonical library)
        val v3 = graft.sources.DeltaLog.deleteWithDv(s, t0.toString,
          "data/bucket=2/f0.parquet", col("s_suppkey") % 7 === 0,
          uuid = new java.util.UUID(0x6772616674L, 0x64767772L)) // fixed
        require(v3 == 3L, s"engine DV commit landed at version $v3, want 3")
        t0.toString
  }

  /** The F14e fixture: the same table CHECKPOINTED by the engine at v3
    * and then RETENTION-TRIMMED — every JSON commit ≤ the checkpoint
    * deleted, so the reader can only reach the state through the
    * checkpoint the engine wrote.
    */
  private def buildDeltaCkTable(s: SparkSession, dir: String): String =
    Staged(s, dir, "delta_ck") {
      val t0 = buildDeltaFresh(s, dir)
      val v = graft.sources.DeltaLog.writeCheckpoint(s, t0)
      require(v == 3L, s"checkpoint landed at version $v, want 3")
      (0L to v).foreach(i => java.nio.file.Files.deleteIfExists(
        java.nio.file.Paths.get(t0, "_delta_log", f"$i%020d.json")))
      t0
    }

  /** F14b: Delta round-trip — the [[graft.sources.DeltaLog]] reader
    * against a table this gate wrote (partitioned adds + a
    * remove/replace commit); oracle = the same transform in plain SQL.
    */
  def deltaRoundtrip(s: SparkSession, dir: String): DataFrame =
    graft.sources.DeltaLog.read(s, buildDeltaTable(s, dir))
      .orderBy(col("s_suppkey"))

  /** F14e (r10): Delta CHECKPOINT write — the engine checkpoints its
    * own table at v3 (metaData + per-file add rows incl. the DV
    * descriptor, `_last_checkpoint` updated) and the fixture deletes
    * every JSON commit ≤ 3, so this read replays from the
    * engine-written checkpoint ALONE; identical oracle to F14b — a
    * checkpoint must be invisible to the state.
    */
  def deltaCheckpointRoundtrip(s: SparkSession, dir: String): DataFrame =
    graft.sources.DeltaLog.read(s, buildDeltaCkTable(s, dir))
      .orderBy(col("s_suppkey"))

  private def buildIcebergTable(s: SparkSession, dir: String): String =
    Staged(s, dir, "iceberg")(buildIcebergFresh(s, dir))

  /** Fresh (unstaged) F15b fixture for gates that MUTATE the table after
    * building (r11: snapshot expiration).
    */
  private[graft] def buildIcebergFresh(s: SparkSession, dir: String): String = {
        import graft.sources.IcebergCatalog._
        val t0 = java.nio.file.Files.createTempDirectory("ice_rt")
        val mdir = t0.resolve("metadata")
        java.nio.file.Files.createDirectories(mdir)
        val n = t(s, dir, "nation").select(col("n_nationkey"),
          col("n_name"), col("n_regionkey").cast("string").as("rk"))
        // nested columns (r9): a struct and a list derived from the
        // row's FINAL values ride every data file — the reader maps the
        // metadata's nested type JSON and the gate projects them flat
        def nest(df: DataFrame): DataFrame = df
          .withColumn("meta", struct(col("n_name").as("nm"),
            length(col("n_name")).cast("long").as("ln")))
          .withColumn("arr",
            array(col("n_nationkey"), col("n_nationkey") * 2 + 1))
        val rks = (0 until 5).map(_.toString)
        // each data file written key-sorted so POSITIONAL delete rows
        // (file, pos) address deterministic records
        val files = rks.map { r =>
          val rel = t0.resolve(s"data/rk=$r/f0.parquet")
          LakeWriter.writeParquetFile(
            nest(n.filter(col("rk") === r).drop("rk")
              .orderBy(col("n_nationkey"))), rel)
          r -> rel.toString
        }
        val m1 = mdir.resolve("m1.avro")
        writeManifest(m1, Seq("rk"),
          files.map { case (r, p) => (1, p, 0, Map("rk" -> r)) })
        val ml1 = mdir.resolve("snap-10.avro")
        writeManifestList(ml1, Seq(m1))
        // snapshot 20: renumber region 0's nations by +1000
        val repl = t0.resolve("data/rk=0/f1.parquet")
        LakeWriter.writeParquetFile(
          nest(n.filter(col("rk") === "0").drop("rk")
            .withColumn("n_nationkey", col("n_nationkey") + 1000L)),
          repl)
        val m2 = mdir.resolve("m2.avro")
        writeManifest(m2, Seq("rk"),
          files.map { case (r, p) =>
            (if (r == "0") 2 else 0, p, 0, Map("rk" -> r))
          } :+ ((1, repl.toString, 0, Map("rk" -> "0"))))
        val ml2 = mdir.resolve("snap-20.avro")
        writeManifestList(ml2, Seq(m2))
        // snapshot 30: v2 DELETE files — a POSITIONAL delete removing
        // row 0 of region 1's (key-sorted) data file, and an EQUALITY
        // delete on n_name (field id 2) removing nation 14's name
        val live3 = files.collect { case (r, p) if r != "0" =>
          ManifestEntry(0, p, 0, Map("rk" -> r)) } :+
          ManifestEntry(0, repl.toString, 0, Map("rk" -> "0"))
        val pd = t0.resolve("data/pd1.parquet")
        LakeWriter.writeParquetFile(
          s.createDataFrame(Seq((files.toMap.apply("1"), 0L)))
            .toDF("file_path", "pos"), pd)
        val ed = t0.resolve("data/ed1.parquet")
        LakeWriter.writeParquetFile(
          n.filter(col("n_nationkey") === 14).select(col("n_name")), ed)
        val m3 = mdir.resolve("m3.avro")
        writeManifestEntries(m3, Seq("rk"), live3 :+
          ManifestEntry(1, pd.toString, 1, Map.empty) :+
          ManifestEntry(1, ed.toString, 2, Map.empty, equalityIds = Seq(2)))
        val ml3 = mdir.resolve("snap-30.avro")
        writeManifestList(ml3, Seq(m3))
        writeMetadataJson(mdir.resolve("v1.metadata.json"),
          Seq(("n_nationkey", "long", true), ("n_name", "string", false),
            ("meta", """{"type": "struct", "fields": [""" +
              """{"id": 101, "name": "nm", "required": false, "type": "string"}, """ +
              """{"id": 102, "name": "ln", "required": false, "type": "long"}]}""",
              false),
            ("arr", """{"type": "list", "element-id": 103, """ +
              """"element": "long", "element-required": false}""", false),
            ("rk", "string", false)),
          Seq("rk"), Seq(10L -> ml1, 20L -> ml2, 30L -> ml3))
        t0.toString
  }

  /** The F15c fixture: the same table plus a snapshot-40 POSITIONAL
    * delete COMMITTED BY THE ENGINE — positions computed from a
    * predicate over rk=3's rows, delete parquet + manifest + manifest
    * list + v2.metadata.json all engine-written.
    */
  private def buildIcebergDelTable(s: SparkSession, dir: String): String =
    Staged(s, dir, "iceberg_del") {
      val t0 = buildIcebergFresh(s, dir)
      val snap = graft.sources.IcebergCatalog.commitPositionDelete(
        s, t0, "rk=3/f0.parquet", col("n_nationkey") % 2 === 1,
        snapshotId = 40L)
      require(snap == 40L)
      t0
    }

  /** F15b: Iceberg round-trip — the [[graft.sources.IcebergCatalog]]
    * reader against a table this gate wrote (Avro manifests with
    * added/existing/deleted entries across three snapshots; the third
    * carries a v2 POSITIONAL delete file and an EQUALITY delete file,
    * both applied at read as anti-joins); oracle = the same transform
    * in plain SQL.
    */
  def icebergRoundtrip(s: SparkSession, dir: String): DataFrame =
    graft.sources.IcebergCatalog.read(s, buildIcebergTable(s, dir))
      .select(col("n_nationkey"), col("n_name"),
        col("meta.nm").as("meta_nm"), col("meta.ln").as("meta_ln"),
        element_at(col("arr"), 1).as("arr0"),
        element_at(col("arr"), 2).as("arr1"), col("rk"))
      .orderBy(col("n_nationkey"))

  /** The F15d fixture: an EQUALITY delete committed by the engine —
    * the doomed n_name values of nations 7 and 21, applied by value
    * over every live data file (snapshot 41).
    */
  private def buildIcebergEqDelTable(s: SparkSession, dir: String): String =
    Staged(s, dir, "iceberg_eqdel") {
      val t0 = buildIcebergFresh(s, dir)
      val doomed = t(s, dir, "nation")
        .filter(col("n_nationkey").isin(7L, 21L))
        .select(col("n_name"))
      val snap = graft.sources.IcebergCatalog.commitEqualityDelete(
        s, t0, Seq("n_name"), doomed, snapshotId = 41L)
      require(snap == 41L)
      t0
    }

  /** F15d (r10): Iceberg EQUALITY-DELETE write — the engine writes the
    * delete parquet with the doomed value tuples, the content=2
    * manifest entry with the resolved equality_ids, and the new
    * snapshot; its own reader applies it by value over every live
    * file. Oracle = F15b's minus the two names.
    */
  def icebergEqDeleteRoundtrip(s: SparkSession, dir: String): DataFrame =
    graft.sources.IcebergCatalog.read(s, buildIcebergEqDelTable(s, dir))
      .select(col("n_nationkey"), col("n_name"),
        col("meta.nm").as("meta_nm"), col("meta.ln").as("meta_ln"),
        element_at(col("arr"), 1).as("arr0"),
        element_at(col("arr"), 2).as("arr1"), col("rk"))
      .orderBy(col("n_nationkey"))

  /** F15c (r10): Iceberg POSITIONAL-DELETE write — the engine commits
    * snapshot 40 itself (delete parquet from a predicate, manifest,
    * manifest list, new metadata.json version with current advanced)
    * and its own reader applies it; the Delta-DV write posture on the
    * Iceberg protocol. Oracle = F15b's minus the predicate rows.
    */
  def icebergDeleteRoundtrip(s: SparkSession, dir: String): DataFrame =
    graft.sources.IcebergCatalog.read(s, buildIcebergDelTable(s, dir))
      .select(col("n_nationkey"), col("n_name"),
        col("meta.nm").as("meta_nm"), col("meta.ln").as("meta_ln"),
        element_at(col("arr"), 1).as("arr0"),
        element_at(col("arr"), 2).as("arr1"), col("rk"))
      .orderBy(col("n_nationkey"))

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "text_bpe_merges" -> (textBpeMerges _),
    "text_bpe_tokenize" -> (textBpeTokenize _),
    "text_pack_bpe" -> (textPackBpe _),
    "text_mixture_bpe" -> (textMixtureBpe _),
    "dedup_repeated_spans" -> (dedupRepeatedSpans _),
    "q_union_evolve" -> (qUnionEvolve _),
    "stream_bus_agg" -> (streamBusAgg _),
    "mm_patch_ahash" -> (mmPatchAhash _),
    "text_bpe_vocab" -> (textBpeVocab _),
    "dedup_span_stats" -> (dedupSpanStats _),
    "stream_bus_cdc" -> (streamBusCdc _),
    "delta_roundtrip" -> (deltaRoundtrip _),
    "delta_checkpoint_roundtrip" -> (deltaCheckpointRoundtrip _),
    "iceberg_roundtrip" -> (icebergRoundtrip _),
    "iceberg_delete_roundtrip" -> (icebergDeleteRoundtrip _),
    "iceberg_eqdelete_roundtrip" -> (icebergEqDeleteRoundtrip _),
    "stream_bpe_tokens" -> (streamBpeTokens _),
    "dedup_contamination_rate" -> (dedupContaminationRate _),
    "text_bpe_encode" -> (textBpeEncode _),
    "graph_walks" -> (graphWalks _))

  /** Shared oracle prefix: the BPE training pyramid + per-(doc, source)
    * subword counts, as chained CTE text.
    */
  private def bpeDocCte: String =
    s"""${Bpe.oracleCtes("documents", "text", bpeMerges)},
       |${Bpe.nsubCte(bpeMerges)},
       |db AS (
       |  SELECT doc_id, source, CAST(SUM(n_sub) AS BIGINT) AS n_bpe
       |  FROM (SELECT doc_id, source, unnest(string_split(text, ' ')) AS w
       |        FROM documents) dw
       |  JOIN ns USING (w) GROUP BY doc_id, source
       |)""".stripMargin

  /** Shared oracle prefix for the D21 span machinery (tok → grams →
    * keep-first dup positions → gaps-and-islands groups).
    */
  private val spansCtes: String =
    """tok AS (
      |  SELECT doc_id, string_split(text, ' ') AS tk FROM documents
      |), g AS (
      |  SELECT doc_id, CAST(i - 1 AS BIGINT) AS p,
      |         array_to_string(list_slice(tk, i, i + 7), ' ') AS g
      |  FROM (SELECT doc_id, tk, unnest(generate_series(1, len(tk) - 7)) AS i
      |        FROM tok WHERE len(tk) >= 8)
      |), dup AS (
      |  SELECT doc_id, p FROM (
      |    SELECT doc_id, p,
      |           ROW_NUMBER() OVER (PARTITION BY g ORDER BY doc_id, p) AS rn,
      |           COUNT(*) OVER (PARTITION BY g) AS n
      |    FROM g) WHERE n > 1 AND rn > 1
      |), br AS (
      |  SELECT doc_id, p,
      |         CASE WHEN lag(p) OVER (PARTITION BY doc_id ORDER BY p) IS NULL
      |              OR p - lag(p) OVER (PARTITION BY doc_id ORDER BY p) > 8
      |         THEN 1 ELSE 0 END AS brk
      |  FROM dup
      |), gr AS (
      |  SELECT doc_id, p, SUM(brk) OVER (PARTITION BY doc_id ORDER BY p
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS grp
      |  FROM br
      |)""".stripMargin

  val sql: Map[String, String] = Map(
    "text_bpe_merges" ->
      Bpe.mergesOracle("documents", "text", bpeMerges),
    "text_bpe_tokenize" ->
      Bpe.tokenCountsOracle("documents", "doc_id", "text", bpeMerges),
    "text_pack_bpe" ->
      s"""WITH $bpeDocCte
         |SELECT doc_id, source, n_bpe,
         |  CAST((cum - n_bpe) // 512 AS BIGINT) AS chunk_id
         |FROM (
         |  SELECT doc_id, source, n_bpe,
         |    SUM(n_bpe) OVER (PARTITION BY source ORDER BY doc_id
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
         |  FROM db) p
         |ORDER BY doc_id""".stripMargin,
    "text_mixture_bpe" ->
      s"""WITH $bpeDocCte,
         |d AS (
         |  SELECT source, doc_id, n_bpe,
         |    CASE WHEN CAST(substr(source, 4) AS BIGINT) % 2 = 0
         |      THEN 1600 ELSE 400 END AS budget,
         |    md5(CAST(doc_id AS VARCHAR)) AS h
         |  FROM db
         |), c AS (
         |  SELECT source, doc_id, n_bpe, budget,
         |    CAST(COALESCE(SUM(n_bpe) OVER (
         |      PARTITION BY source ORDER BY h, doc_id
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
         |      AS BIGINT) AS cum_before
         |  FROM d
         |)
         |SELECT source, doc_id, n_bpe, cum_before FROM c
         |WHERE cum_before < budget
         |ORDER BY source, doc_id""".stripMargin,
    "dedup_repeated_spans" ->
      """WITH tok AS (
        |  SELECT doc_id, string_split(text, ' ') AS tk FROM documents
        |), g AS (
        |  SELECT doc_id, CAST(i - 1 AS BIGINT) AS p,
        |         array_to_string(list_slice(tk, i, i + 7), ' ') AS g
        |  FROM (SELECT doc_id, tk, unnest(generate_series(1, len(tk) - 7)) AS i
        |        FROM tok WHERE len(tk) >= 8)
        |), dup AS (
        |  SELECT doc_id, p FROM (
        |    SELECT doc_id, p,
        |           ROW_NUMBER() OVER (PARTITION BY g ORDER BY doc_id, p) AS rn,
        |           COUNT(*) OVER (PARTITION BY g) AS n
        |    FROM g) WHERE n > 1 AND rn > 1
        |), br AS (
        |  SELECT doc_id, p,
        |         CASE WHEN lag(p) OVER (PARTITION BY doc_id ORDER BY p) IS NULL
        |              OR p - lag(p) OVER (PARTITION BY doc_id ORDER BY p) > 8
        |         THEN 1 ELSE 0 END AS brk
        |  FROM dup
        |), gr AS (
        |  SELECT doc_id, p, SUM(brk) OVER (PARTITION BY doc_id ORDER BY p
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS grp
        |  FROM br
        |)
        |SELECT doc_id, CAST(MIN(p) AS BIGINT) AS span_start,
        |       CAST(MAX(p) + 7 AS BIGINT) AS span_end,
        |       CAST(MAX(p) + 8 - MIN(p) AS BIGINT) AS span_tokens
        |FROM gr GROUP BY doc_id, grp
        |ORDER BY doc_id, span_start""".stripMargin,
    "mm_patch_ahash" ->
      """WITH px AS (
        |  SELECT doc_id, i,
        |    CASE WHEN doc_id % 50 = 1 THEN
        |      CASE WHEN i = 0 THEN ((doc_id - 1) * 31 + 17) % 256
        |           WHEN i = 1 THEN ((doc_id - 1) * 31) % 256
        |           ELSE ((doc_id - 1) * 31 + i * 17) % 256 END
        |    ELSE (doc_id * 31 + i * 17) % 256 END AS p
        |  FROM (SELECT doc_id, unnest(generate_series(0, 63)) AS i
        |        FROM documents)
        |), m AS (
        |  SELECT doc_id, SUM(p) // 64 AS mean FROM px GROUP BY doc_id
        |), rawh AS (
        |  SELECT px.doc_id,
        |    SUM(CASE WHEN px.p > m.mean
        |        THEN CAST(1 AS HUGEINT) << px.i
        |        ELSE CAST(0 AS HUGEINT) END) AS raw
        |  FROM px JOIN m USING (doc_id) GROUP BY px.doc_id
        |), h AS (
        |  SELECT doc_id,
        |    CAST(CASE WHEN raw >= CAST(1 AS HUGEINT) << 63
        |         THEN raw - (CAST(1 AS HUGEINT) << 64)
        |         ELSE raw END AS BIGINT) AS hash
        |  FROM rawh
        |)
        |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
        |  CAST(bit_count(xor(a.hash, b.hash)) AS BIGINT) AS hamming
        |FROM h a JOIN h b ON a.doc_id < b.doc_id
        |WHERE bit_count(xor(a.hash, b.hash)) <= 3
        |ORDER BY doc_a, doc_b""".stripMargin,
    "stream_bus_agg" ->
      """SELECT event_type, COUNT(*) AS n_events,
        |  CAST(SUM(user_id % 1000) AS BIGINT) AS checksum
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,
    "dedup_span_stats" ->
      s"""WITH $spansCtes,
        |spans AS (
        |  SELECT doc_id, MAX(p) + 8 - MIN(p) AS span_tokens
        |  FROM gr GROUP BY doc_id, grp
        |), cut AS (
        |  SELECT doc_id, CAST(SUM(span_tokens) AS BIGINT) AS cut
        |  FROM spans GROUP BY doc_id
        |), base AS (
        |  SELECT doc_id, source,
        |         CAST(len(string_split(text, ' ')) AS BIGINT) AS n
        |  FROM documents
        |)
        |SELECT source, CAST(SUM(n) AS BIGINT) AS total_tokens,
        |  CAST(SUM(COALESCE(cut, 0)) AS BIGINT) AS cut_tokens,
        |  CAST(SUM(COALESCE(cut, 0)) * 1000000 // SUM(n) AS BIGINT) AS cut_ppm
        |FROM base LEFT JOIN cut USING (doc_id)
        |GROUP BY source ORDER BY source""".stripMargin,
    "text_bpe_vocab" ->
      s"""WITH ${Bpe.oracleCtes("documents", "text", bpeMerges)}
        |SELECT s AS subword, COUNT(DISTINCT w) AS n_words,
        |  CAST(SUM(freq) AS BIGINT) AS total_freq
        |FROM st$bpeMerges JOIN wf USING (w)
        |GROUP BY s ORDER BY subword""".stripMargin,
    "stream_bus_cdc" -> Queries.sqlCdc("cdc_merge"),
    "graph_walks" -> walksOracle,
    "text_bpe_encode" ->
      s"""WITH ${Bpe.oracleCtes("documents", "text", bpeMerges)},
        |vocab AS MATERIALIZED (
        |  SELECT s, CAST(ROW_NUMBER() OVER (ORDER BY s) AS BIGINT) AS tid
        |  FROM (SELECT DISTINCT s FROM st$bpeMerges)
        |), wsub AS MATERIALIZED (
        |  SELECT w, p, tid FROM st$bpeMerges JOIN vocab USING (s)
        |), dw AS (
        |  SELECT doc_id, CAST(i AS BIGINT) AS wp, w FROM (
        |    SELECT doc_id, unnest(string_split(text, ' ')) AS w,
        |           generate_subscripts(string_split(text, ' '), 1) AS i
        |    FROM documents WHERE doc_id < 50
        |  ) WHERE w <> ''
        |)
        |SELECT doc_id,
        |  string_agg(CAST(tid AS VARCHAR), ' ' ORDER BY wp, p) AS token_ids
        |FROM dw JOIN wsub USING (w)
        |GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    "dedup_contamination_rate" ->
      """WITH ev AS (
        |  SELECT DISTINCT substr(text, i, 24) AS g
        |  FROM (SELECT text, unnest(generate_series(1, length(text) - 23)) AS i
        |        FROM documents WHERE doc_id % 97 = 0) t
        |), tr AS (
        |  SELECT DISTINCT doc_id, substr(text, i, 24) AS g
        |  FROM (SELECT doc_id, text, unnest(generate_series(1, length(text) - 23)) AS i
        |        FROM documents WHERE doc_id % 97 <> 0) t
        |), tot AS (
        |  SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_grams
        |  FROM tr GROUP BY doc_id
        |), hit AS (
        |  SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_hits
        |  FROM tr JOIN ev USING (g) GROUP BY doc_id
        |)
        |SELECT doc_id, n_grams,
        |  CAST(COALESCE(n_hits, 0) AS BIGINT) AS n_hits,
        |  CAST(COALESCE(n_hits, 0) * 1000000 // n_grams AS BIGINT) AS rate_ppm
        |FROM tot LEFT JOIN hit USING (doc_id)
        |ORDER BY doc_id""".stripMargin,
    "stream_bpe_tokens" ->
      s"""WITH ${Bpe.oracleCtes("documents", "text", bpeMerges)},
        |${Bpe.nsubCte(bpeMerges)}
        |SELECT source, COUNT(*) AS n_ws, CAST(SUM(n_sub) AS BIGINT) AS n_bpe
        |FROM (SELECT source, unnest(string_split(text, ' ')) AS w
        |      FROM documents) dw
        |JOIN ns USING (w) GROUP BY source ORDER BY source""".stripMargin,
    "delta_roundtrip" ->
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
    "delta_checkpoint_roundtrip" ->
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
    "iceberg_roundtrip" ->
      """WITH fin AS (
        |  SELECT CASE WHEN n_regionkey = 0 THEN n_nationkey + 1000
        |         ELSE n_nationkey END AS n_nationkey,
        |    n_name, CAST(n_regionkey AS VARCHAR) AS rk
        |  FROM nation
        |  WHERE NOT (n_regionkey = 1 AND n_nationkey =
        |      (SELECT MIN(n_nationkey) FROM nation WHERE n_regionkey = 1))
        |    AND n_name <> (SELECT n_name FROM nation WHERE n_nationkey = 14)
        |)
        |SELECT n_nationkey, n_name,
        |  n_name AS meta_nm, CAST(length(n_name) AS BIGINT) AS meta_ln,
        |  n_nationkey AS arr0, n_nationkey * 2 + 1 AS arr1, rk
        |FROM fin ORDER BY n_nationkey""".stripMargin,
    "iceberg_eqdelete_roundtrip" ->
      """WITH fin AS (
        |  SELECT CASE WHEN n_regionkey = 0 THEN n_nationkey + 1000
        |         ELSE n_nationkey END AS n_nationkey,
        |    n_name, CAST(n_regionkey AS VARCHAR) AS rk
        |  FROM nation
        |  WHERE NOT (n_regionkey = 1 AND n_nationkey =
        |      (SELECT MIN(n_nationkey) FROM nation WHERE n_regionkey = 1))
        |    AND n_name <> (SELECT n_name FROM nation WHERE n_nationkey = 14)
        |    AND n_name NOT IN
        |      (SELECT n_name FROM nation WHERE n_nationkey IN (7, 21))
        |)
        |SELECT n_nationkey, n_name,
        |  n_name AS meta_nm, CAST(length(n_name) AS BIGINT) AS meta_ln,
        |  n_nationkey AS arr0, n_nationkey * 2 + 1 AS arr1, rk
        |FROM fin ORDER BY n_nationkey""".stripMargin,
    "iceberg_delete_roundtrip" ->
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
    "q_union_evolve" ->
      """SELECT o_orderkey, o_totalprice FROM orders WHERE o_orderkey % 2 = 0
        |UNION ALL BY NAME
        |SELECT o_orderkey, o_orderstatus, o_totalprice FROM orders
        |WHERE o_orderkey % 2 = 1
        |ORDER BY o_orderkey""".stripMargin)
}
