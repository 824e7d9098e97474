package graft.dedup

import graft.SparkTestSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class DedupSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  val docs = Seq(
    (1L, "the quick brown fox jumps over the lazy dog"),
    (2L, "the quick brown fox jumps over the lazy dog"),   // exact dup of 1
    (3L, "the quick brown fox jumps over the lazy cat"),   // near dup
    (4L, "completely different text with other words entirely"))
    .toDF("doc_id", "text")

  test("exact dedup groups and keeps min id") {
    val g = Dedup.exactGroups(docs, col("doc_id"), col("text"))
    assert(g.count() == 3)
    val dup = g.filter(col("n_dups") === 2).head()
    assert(dup.getAs[Long]("keeper_id") == 1L)
    assert(Dedup.exactKeep(docs, col("doc_id"), col("text")).count() == 3)
  }

  test("minhash: identical docs have identical signatures; near-dups collide") {
    val sigs = docs.select(col("doc_id"),
      Dedup.minhashSignature(col("text"), 3, 12).as("sig"))
      .as[(Long, Seq[Long])].collect().toMap
    assert(sigs(1L) == sigs(2L))
    assert(sigs(1L) != sigs(4L))
    val cands = Dedup.lshCandidates(docs, col("doc_id"), col("text"), 3, 12, 4)
      .as[(Long, Long)].collect().toSet
    assert(cands.contains((1L, 2L)))     // exact dup always a candidate
    assert(!cands.contains((1L, 4L)))    // unrelated docs don't collide
  }

  test("PPJoin prefix-filtered ngram jaccard equals the full-join formulation") {
    val d = graft.sources.Tables.load(spark, "/root/testdata/sf0.001", "documents")
    def pairs(df: org.apache.spark.sql.DataFrame) =
      df.select(col("id_a"), col("id_b"), round(col("jacc"), 9))
        .as[(Long, Long, Double)].collect().toSet
    val pp = pairs(Dedup.ngramJaccardPairs(
      d, col("doc_id"), col("text"), col("source"), 3, 0.5))
    val blocked = pairs(Dedup.ngramJaccardPairsBlocked(
      d, col("doc_id"), col("text"), col("source"), 3, 0.5))
    val full = pairs(Dedup.ngramJaccardPairsJoinAll(
      d, col("doc_id"), col("text"), col("source"), 3, 0.5))
    assert(pp.nonEmpty && pp == full && blocked == full)
  }

  test("connectedComponents: chains collapse to min-id clusters") {
    // 1-2-3 via a chain (diameter 2), 4-5 separate, 6-1 closes a loop
    val edges = Seq((1L, 2L), (2L, 3L), (4L, 5L), (6L, 1L)).toDF("id_a", "id_b")
    val got = Dedup.connectedComponents(edges)
      .as[(Long, Long)].collect().toMap
    assert(got == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 6L -> 1L, 4L -> 4L, 5L -> 4L))
  }

  test("connectedComponents: throws on non-convergence instead of splitting clusters") {
    // path 1-2-3-4-5-6-7-8: min-label needs ~diameter rounds; maxIter=2 can't.
    // Force the DISTRIBUTED path (wave gate off) — the r14 driver-wave
    // union-find always converges, so the guard lives on the loop branch.
    val chain = (1L until 8L).map(i => (i, i + 1)).toDF("id_a", "id_b")
    spark.conf.set("spark.graft.graph.waveRows", "0")
    try {
      val e = intercept[IllegalStateException](
        Dedup.connectedComponents(chain, maxIter = 2).collect())
      assert(e.getMessage.contains("not converged"))
      // and with enough rounds the same graph is one cluster
      val ok = Dedup.connectedComponents(chain, maxIter = 10)
        .as[(Long, Long)].collect().toMap
      assert(ok.values.toSet == Set(1L))
    } finally spark.conf.unset("spark.graft.graph.waveRows")
  }

  test("r14 wave CC: local union-find ≡ both distributed forms, self-loops and singleton ids kept") {
    val rnd = new scala.util.Random(97)
    val edges = (Seq.fill(400)((rnd.nextLong(150), rnd.nextLong(150))) ++
      Seq((200L, 200L)))  // self-loop-only id must label itself
      .toDF("id_a", "id_b")
    val wave = Dedup.connectedComponents(edges)
      .as[(Long, Long)].collect().toMap
    val waveStar = Dedup.connectedComponentsStar(edges)
      .as[(Long, Long)].collect().toMap
    spark.conf.set("spark.graft.graph.waveRows", "0")
    try {
      val dist = Dedup.connectedComponents(edges, maxIter = 60)
        .as[(Long, Long)].collect().toMap
      val distStar = Dedup.connectedComponentsStar(edges)
        .as[(Long, Long)].collect().toMap
      assert(wave == dist && waveStar == distStar && wave == waveStar)
      assert(wave(200L) == 200L)
    } finally spark.conf.unset("spark.graft.graph.waveRows")
  }

  test("star CC: deep chain converges in O(log n) rounds, matches min-label on random graphs") {
    // 65-node chain, diameter 64: min-label would need 64 rounds; star needs ~log
    val chain = (1L until 65L).map(i => (i, i + 1)).toDF("id_a", "id_b")
    val star = Dedup.connectedComponentsStar(chain, maxIter = 12)
      .as[(Long, Long)].collect().toMap
    assert(star.size == 65 && star.values.toSet == Set(1L))
    // parity with the min-label implementation on a random graph
    val rnd = new scala.util.Random(41)
    val edges = Seq.fill(300)((rnd.nextLong(120), rnd.nextLong(120)))
      .filter(p => p._1 != p._2).toDF("id_a", "id_b")
    val minLabel = Dedup.connectedComponents(edges, maxIter = 40)
      .as[(Long, Long)].collect().toMap
    val starCc = Dedup.connectedComponentsStar(edges)
      .as[(Long, Long)].collect().toMap
    assert(starCc == minLabel)
  }

  test("embedNearDupLsh equals the all-pairs baseline, with no cross join in the plan") {
    val e = graft.sources.Tables.load(spark, "/root/testdata/sf0.001", "embeddings")
      .select(col("vec_id"), col("embedding"))
    val lsh = Dedup.embedNearDupLsh(e, "vec_id", dim = 64, threshold = 0.4)
    val plan = lsh.queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoopJoin"),
      s"banded candidate generation must not plan a cross join:\n$plan")
    val got = lsh.select("id_a", "id_b").as[(Long, Long)].collect().toSet
    val exact = graft.similarity.Ann.allPairsCosineAbove(e, "vec_id", 0.4)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(got == exact, s"missing=${(exact -- got).size} extra=${(got -- exact).size}")
    assert(got.nonEmpty)
  }

  test("embedNearDupLsh at a production threshold: aggressive bits, tiny candidate set, recall 1.0") {
    // the regime the operator is built for — near-IDENTICAL vectors
    // (cosine ≥ 0.9), where 2 bands × 12 bits shrink candidates ~1000×
    // below all-pairs. The gate fixture's 0.4 threshold is the adversarial
    // case and deliberately pays ~4× all-pairs volume for completeness.
    val rnd = new scala.util.Random(77)
    val n = 2000
    val base = Array.fill(40, 64)(rnd.nextGaussian().toFloat)
    val rows = (0 until n).map { i =>
      val c = base(rnd.nextInt(40))
      // 1% near-dups: tiny perturbation of a cluster center; the rest
      // get strong independent noise (cosine far below 0.9)
      val eps = if (i % 100 == 0) 0.01f else 0.9f
      (i.toLong, c.map(x => x + eps * rnd.nextGaussian().toFloat).toSeq)
    }
    val df = spark.createDataFrame(rows).toDF("vec_id", "embedding")
      .select(col("vec_id"), col("embedding").cast("array<float>"))
    val exact = graft.similarity.Ann.allPairsCosineAbove(df, "vec_id", 0.9)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    val lsh = Dedup.embedNearDupLsh(df, "vec_id", dim = 64, threshold = 0.9,
      bands = 2, bitsPerBand = 12)
    val got = lsh.select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(exact.nonEmpty && got == exact,
      s"exact=${exact.size} missing=${(exact -- got).size} extra=${(got -- exact).size}")
    // pruning is real: candidate volume (pre-verify) ≪ all-pairs
    val banded = df.select(col("vec_id"),
      posexplode(graft.similarity.Ann.hyperplaneBandValues(col("embedding"), 64, 2, 12)))
      .select(col("vec_id"), concat(col("pos"), lit(":"), col("col")).as("band"))
    val collisions = banded.as("a").join(banded.as("b"),
        col("a.band") === col("b.band") && col("a.vec_id") < col("b.vec_id"))
      .count()
    val allPairs = n.toLong * (n - 1) / 2
    assert(collisions < allPairs / 100,
      s"expected ≥100x pruning: $collisions collisions vs $allPairs pairs")
  }

  test("jaccard on shingle arrays") {
    val df = Seq((Seq("a", "b", "c"), Seq("b", "c", "d"))).toDF("x", "y")
    val j = df.select(Dedup.jaccard(col("x"), col("y"))).as[Double].head()
    assert(math.abs(j - 2.0 / 4.0) < 1e-12)
  }

  test("simhash: identical text same hash, near-dups close in hamming") {
    val h = docs.select(col("doc_id"), Dedup.simhash(col("text"), 16).as("h"))
      .as[(Long, Long)].collect().toMap
    assert(h(1L) == h(2L))
    assert(h.values.forall(v => v >= 0 && v < (1L << 16)))
    val ham = docs.as("a").crossJoin(docs.as("b"))
      .filter(col("a.doc_id") === 1 && col("b.doc_id").isin(3, 4))
      .select(col("b.doc_id"),
        Dedup.hamming(Dedup.simhash(col("a.text"), 16), Dedup.simhash(col("b.text"), 16), 16))
      .as[(Long, Long)].collect().toMap
    assert(ham(3L) <= ham(4L)) // near-dup at most as far as unrelated doc
  }
}
