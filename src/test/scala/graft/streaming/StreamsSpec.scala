package graft.streaming

import graft.SparkTestSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class StreamsSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  test("tumblingWindowAgg over a replayed stream equals the batch aggregate") {
    val events = Seq(
      ("2024-01-01 00:10:00", "a", 1.0), ("2024-01-01 00:50:00", "a", 2.0),
      ("2024-01-01 01:10:00", "a", 4.0), ("2024-01-01 00:20:00", "b", 8.0))
      .toDF("ts_s", "event_type", "value")
      .select(col("ts_s").cast("timestamp").as("ts"), col("event_type"), col("value"))
    val got = Streams.tumblingWindowAgg(spark, events, "ts", "event_type", "value",
        queryName = s"spec_winagg_${System.nanoTime()}")
      .orderBy("bucket_hour", "event_type")
      .as[(Long, String, Long, Double)].collect().toSeq
    val h0 = 473352L // hours from epoch to 2024-01-01 00:00 UTC (1704067200/3600)
    assert(got == Seq((h0, "a", 2L, 3.0), (h0, "b", 1L, 8.0), (h0 + 1, "a", 1L, 4.0)))
  }

  test("dedup state survives a query restart via checkpoint (exactly-once)") {
    import java.nio.file.Files
    val in = Files.createTempDirectory("graft_ckpt_in").toString
    val out = Files.createTempDirectory("graft_ckpt_out").toString
    val ckpt = Files.createTempDirectory("graft_ckpt_state").toString
    val schema = Seq((0L, "x")).toDF("id", "fp").schema

    def runOnce(): Unit = {
      val q = spark.readStream.schema(schema).parquet(in)
        .dropDuplicates(Seq("fp"))
        .writeStream.outputMode("append")
        .option("checkpointLocation", ckpt)
        .format("parquet").option("path", out).start()
      try q.processAllAvailable() finally q.stop()
    }

    // the file-stream source lists plain files under `in` (not nested
    // write dirs) — stage each batch and move its part file in
    def addBatch(n: Int, rows: Seq[(Long, String)]): Unit = {
      val tmp = Files.createTempDirectory(s"graft_ckpt_b$n").toString
      rows.toDF("id", "fp").coalesce(1).write.mode("overwrite").parquet(tmp)
      val part = new java.io.File(tmp).listFiles()
        .find(_.getName.endsWith(".parquet")).get
      part.renameTo(new java.io.File(s"$in/batch$n.parquet"))
    }

    addBatch(1, Seq((1L, "f1"), (2L, "f2"), (3L, "f3")))
    runOnce()
    // second run: two already-seen fingerprints + one new — the restart
    // must recover dedup state from the checkpoint, not re-emit f2/f3
    addBatch(2, Seq((4L, "f2"), (5L, "f3"), (6L, "f4")))
    runOnce()

    val got = spark.read.parquet(out).select("fp").as[String].collect().toSeq.sorted
    assert(got == Seq("f1", "f2", "f3", "f4"),
      s"each fingerprint exactly once across restarts, got $got")
  }

  test("RocksDB state store produces identical results to the default provider") {
    val rnd = new scala.util.Random(51)
    val events = Seq.tabulate(2000)(i =>
      (rnd.nextLong(40), i.toLong, rnd.nextLong(100000))).toDF("user_id", "event_id", "ts_sec")
    def run(rocks: Boolean) =
      Streams.statefulSessionize(spark, events, gapSec = 600,
          queryName = s"spec_rocks_${rocks}_${System.nanoTime()}", rocksDb = rocks)
        .as[(Long, Long, Long)].collect().toSet
    val hdfs = run(rocks = false)
    val rocks = run(rocks = true)
    assert(hdfs.nonEmpty && hdfs == rocks)
  }

  test("streaming near-dup claims match the batch owns-all-bands rule, both state backends") {
    val docs = graft.sources.Tables.load(spark, "/root/testdata/sf0.001", "documents")
      .select(col("doc_id"), col("text"))
      // two unshingleable docs: both must own NO bands and be kept (the
      // all-null signature used to collapse every short doc onto one
      // shared md5("") band, falsely dropping the second)
      .unionByName(Seq((100001L, "tiny"), (100002L, "ab cd")).toDF("doc_id", "text"))
    // batch rule: a doc is kept iff no band of its signature has a
    // smaller-id owner (tombstone semantics); docs too short to shingle
    // own no bands (the gate's DuckDB oracle enforces the same rule
    // independently)
    val bands = graft.dedup.Dedup.minhashBandRows(
      docs, col("doc_id"), col("text"), 3, 12, 4)
    val owners = bands.groupBy("band").agg(min("doc_id").as("owner"))
    val blockedB = bands.join(owners, "band").filter(col("owner") =!= col("doc_id"))
      .select("doc_id").distinct()
    val expect = docs.select("doc_id").join(blockedB, Seq("doc_id"), "left_anti")
      .as[Long].collect().toSet
    def run(rocks: Boolean): Set[Long] = {
      val claims = Streams.streamingNearDupClaims(spark, docs, "doc_id", "text",
        shingleWords = 3, k = 12, bands = 4,
        queryName = s"spec_sneardup_${rocks}_${System.nanoTime()}", rocksDb = rocks)
      val blocked = claims.filter(col("owner") =!= col("doc_id"))
        .select("doc_id").distinct()
      docs.select("doc_id").join(blocked, Seq("doc_id"), "left_anti")
        .as[Long].collect().toSet
    }
    val hdfs = run(rocks = false)
    assert(hdfs == expect, s"missing=${(expect -- hdfs).size} extra=${(hdfs -- expect).size}")
    assert(hdfs.size < 502, "fixture contains near-dups; some docs must drop")
    assert(Set(100001L, 100002L).subsetOf(hdfs), "bandless short docs are kept")
    assert(run(rocks = true) == expect)
  }

  test("TTL'd near-dup claims: an expired band claim is forgotten and re-claimable") {
    import java.sql.Timestamp
    val text = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    val fill1 = "one two three four five six seven eight nine ten"
    val fill2 = "red orange yellow green blue indigo violet pink brown black"
    def ts(s: String) = Timestamp.valueOf(s)
    val dir = java.nio.file.Files.createTempDirectory("graft_ttl").toString + "/in"
    // four mtime-ordered files = four micro-batches (maxFilesPerTrigger=1):
    // doc 1 claims the band at 00:00; fillers advance the watermark past
    // the claim's 1h TTL (the timer fires only in a trigger where the band
    // has NO data); doc 3 with the SAME text then re-claims at 04:00
    val batches = Seq(
      Seq((1L, text, ts("2024-01-01 00:00:00"))),
      Seq((50L, fill1, ts("2024-01-01 03:00:00"))),
      Seq((51L, fill2, ts("2024-01-01 03:30:00"))),
      Seq((3L, text, ts("2024-01-01 04:00:00"))))
    batches.foreach { b =>
      b.toDF("doc_id", "text", "ts").coalesce(1).write.mode("append").parquet(dir)
      Thread.sleep(1050) // distinct mtimes => deterministic replay order
    }
    val schemaDf = Seq((0L, "", ts("2024-01-01 00:00:00"))).toDF("doc_id", "text", "ts")
    val claims = Streams.streamingNearDupClaimsTtl(spark, schemaDf,
      "doc_id", "text", "ts", shingleWords = 3, k = 12, bands = 4,
      ttl = "1 hour", queryName = s"spec_ttl_${System.nanoTime()}",
      maxFilesPerTrigger = 1, stagedPath = dir)
    val ownersOf3 = claims.filter(col("doc_id") === 3L)
      .select("owner").as[Long].collect().toSet
    assert(ownersOf3 == Set(3L),
      s"doc 3 must RE-claim the expired bands, got owners $ownersOf3")
    // control: without TTL the same replay keeps doc 1's claim alive
    val docs = batches.flatten.toDF("doc_id", "text", "ts").drop("ts")
    val noTtl = Streams.streamingNearDupClaims(spark, docs, "doc_id", "text",
      shingleWords = 3, k = 12, bands = 4,
      queryName = s"spec_nottl_${System.nanoTime()}")
    val owners3NoTtl = noTtl.filter(col("doc_id") === 3L)
      .select("owner").as[Long].collect().toSet
    assert(owners3NoTtl == Set(1L), s"without TTL doc 1 owns doc 3's bands: $owners3NoTtl")
  }

  test("streaming t-digest state tracks per-key quantiles within rank bounds") {
    val rnd = new scala.util.Random(52)
    val rows = (for (k <- Seq("a", "b"); _ <- 0 until 6000)
      yield (k, rnd.nextDouble() * (if (k == "a") 10 else 1000))).toSeq
    val got = Streams.streamingTdigest(spark, rows.toDF("key", "v"), Seq(0.5, 0.9),
        queryName = s"spec_stdigest_${System.nanoTime()}")
      .as[(String, Seq[Double], Long)].collect()
      .map { case (k, est, n) => k -> (est, n) }.toMap
    for (k <- Seq("a", "b")) {
      val vals = rows.filter(_._1 == k).map(_._2).sorted.toArray
      val (est, n) = got(k)
      assert(n == 6000L, s"digest must absorb every row for $k, saw $n")
      for ((q, e) <- Seq(0.5, 0.9).zip(est)) {
        val i = java.util.Arrays.binarySearch(vals, e)
        val rank = (if (i >= 0) i else -i - 1).toDouble / vals.length
        assert(math.abs(rank - q) < 0.02, s"key=$k q=$q est=$e rank=$rank")
      }
    }
  }

  test("streaming transitions match the batch lag/gap matrix") {
    // user 1: a->b (gap ok), b->c (gap ok); user 2: a->a within gap,
    // then a session BREAK (gap > limit) so a->b must NOT count
    val rows = Seq(
      (1L, 1L, "a", 100L), (1L, 2L, "b", 200L), (1L, 3L, "c", 250L),
      (2L, 4L, "a", 100L), (2L, 5L, "a", 150L), (2L, 6L, "b", 5000L)
    ).toDF("user", "seq", "typ", "ts_sec")
    val got = Streams.streamingTransitions(spark, rows, gapSec = 1800,
        queryName = s"spec_stransit_${System.nanoTime()}")
      .as[(String, String, Long)].collect().toSet
    assert(got == Set(("a", "b", 1L), ("b", "c", 1L), ("a", "a", 1L)))
  }

  test("streaming CUSUM equals the batch closed form, tick for tick") {
    val xs = Seq(5L, 5L, 30L, 0L, 0L, 50L, 2L)
    val k = 8L
    val rows = xs.zipWithIndex.map { case (x, i) => ("m", i.toLong, x, k) }
      .toDF("key", "order", "x", "k")
    val got = Streams.streamingCusum(spark, rows,
        queryName = s"spec_scusum_${System.nanoTime()}")
      .orderBy("order").select("s").as[Long].collect().toSeq
    assert(got == graft.operators.Changepoint.cusumRef(xs, k))
  }

  test("streaming attribution emits the batch window-frame carries per purchase") {
    // user 1: click -> purchase (in horizon), view -> purchase (last=view,
    //         first stays click), purchase with last touch EXPIRED -> direct
    // user 2: purchase before any touch -> direct/direct
    val rows = Seq(
      (1L, 1L, 100L, "click", 10L),
      (1L, 2L, 200L, "purchase", 30L),
      (1L, 3L, 300L, "view", 0L),
      (1L, 4L, 400L, "purchase", 50L),
      (1L, 5L, 2000L, "purchase", 70L), // 2000-300 > horizon
      (2L, 6L, 100L, "purchase", 90L),
      (2L, 7L, 150L, "view", 0L)
    ).toDF("user_id", "event_id", "ts_sec", "event_type", "cents")
    val got = Streams.streamingAttribution(spark, rows, horizonSec = 1000L,
        queryName = s"spec_sattr_${System.nanoTime()}")
      .select("event_id", "first_touch", "last_touch", "cents")
      .as[(Long, String, String, Long)].collect().toSet
    assert(got == Set(
      (2L, "click", "click", 30L),
      (4L, "click", "view", 50L),
      (5L, "click", "direct", 70L),
      (6L, "direct", "direct", 90L)))
  }

  test("cdcApply merges a streamed delta into the target") {
    val target = Seq((1L, "v1", "N"), (2L, "v2", "N")).toDF("id", "v", "is_deleted")
    val delta = Seq((2L, "v2b", "N"), (3L, "v3", "N"), (1L, "v1", "Y"))
      .toDF("id", "v", "is_deleted")
    val got = Streams.cdcApply(spark, target, delta, Seq("id"), Seq(col("id")))
      .orderBy("id").as[(Long, String, String)].collect().toSeq
    assert(got == Seq((1L, "v1", "Y"), (2L, "v2b", "N"), (3L, "v3", "N")))
  }

  test("replays remove their staged input: no graft_* dir outlives the call") {
    val tmp = new java.io.File(System.getProperty("java.io.tmpdir"))
    def graftDirs() = tmp.listFiles().map(_.getName).filter(_.startsWith("graft_")).toSet
    val before = graftDirs()
    val docs = Seq((1L, "a"), (2L, "b"), (3L, "a")).toDF("id", "fp")
    assert(Streams.streamingDedup(spark, docs, "id", "fp",
      queryName = s"spec_leak_dedup_${System.nanoTime()}").count() == 2L)
    val ts = (s: Long) => new java.sql.Timestamp(s * 1000L)
    val left = Seq((1L, 10L, ts(100L))).toDF("l_key", "l_id", "l_ts")
    val right = Seq((1L, 20L, ts(90L))).toDF("r_key", "r_id", "r_ts")
    assert(Streams.intervalJoinLeftOuter(spark, left, right, gapSec = 60L,
      queryName = s"spec_leak_ivjoin_${System.nanoTime()}").count() == 1L)
    val leaked = graftDirs() -- before
    assert(leaked.isEmpty, s"staged input left behind: $leaked")
  }

  test("memory-sink views stay out of the caller's session") {
    val events = Seq((1L, 7L), (2L, 8L)).toDF("k", "e")
    val dim = Seq((1L, "one")).toDF("k", "name")
    val joinName = s"spec_view_ssjoin_${System.nanoTime()}"
    assert(Streams.streamStaticJoin(spark, events, dim, "k", joinName)
      .as[(Long, Long, String)].collect().toSeq == Seq((1L, 7L, "one")))
    val vecs = Seq((0L, Seq(1.0f, 2.0f)), (1L, Seq(3.0f, 4.0f)))
      .toDF("vec_id", "embedding")
    val kmName = s"spec_view_kmeans_${System.nanoTime()}"
    assert(Streams.streamingKmeansUpdate(spark, vecs, seedMod = 2L, kmName)
      .count() == 2L)
    assert(!spark.catalog.tableExists(joinName))
    assert(!spark.catalog.tableExists(kmName))
  }
}
