package graft.dedup

import graft.PlanProbe.CkptOps
import graft.functions.TextFunctions._
import graft.operators.Wave
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Deduplication operators for corpus-scale pipelines.
  *
  * Scale posture: every variant is shuffle-bounded by a groupBy on a hash or
  * band key — never a cross join over the corpus. Candidate verification
  * (Jaccard / cosine) runs only on bucket-colocated pairs.
  *
  * All hashes that must be reproducible by an external engine derive from
  * md5 hex strings (minhash "min" is taken lexicographically over hex, which
  * is a valid uniform min-wise scheme and portable everywhere md5 exists).
  */
object Dedup {
  /** Modulus for the universal-hash minhash family (fits exact 64-bit
    * arithmetic in any engine: a < 2^21, gram hash < 2^24 → a*h+b < 2^46).
    */
  val MinhashP: Long = 2147483647L

  /** Deterministic affine coefficients (a_k odd, b_k) for minhash family k,
    * derived from md5 so the external-oracle SQL can embed the same
    * constants. a < 2^21, b < 2^20.
    */
  def minhashCoeff(seed: Int): (Long, Long) = {
    def h5(s: String): Long = {
      val md = java.security.MessageDigest.getInstance("MD5")
      val hex = md.digest(s.getBytes("UTF-8")).take(3).map("%02x".format(_)).mkString
      java.lang.Long.parseLong(hex.take(5), 16)
    }
    (2L * h5(s"a:$seed") + 1L, h5(s"b:$seed"))
  }

  /** Exact dedup groups: one row per distinct canonical content hash with
    * the number of duplicates and the kept (minimum) id.
    */
  def exactGroups(docs: DataFrame, id: Column, text: Column): DataFrame =
    docs.groupBy(fingerprint(text).as("content_hash"))
      .agg(count(lit(1)).as("n_dups"), min(id).as("keeper_id"))

  /** Exact dedup: keep one representative row per canonical content hash. */
  def exactKeep(docs: DataFrame, id: Column, text: Column): DataFrame = {
    val keepers = exactGroups(docs, id, text).select(col("keeper_id"))
    docs.join(keepers, id === col("keeper_id"), "left_semi")
  }

  /** MinHash signature of a document: for each of k affine hash families
    * (a_k·h(g) + b_k) mod p over the 24-bit md5-derived gram hash, the
    * minimum over the doc's word shingles. Returns array<long> of length k.
    * Narrow (per-row); [[minhashSignatureTable]] is the corpus-scale shape.
    */
  def minhashSignature(text: Column, shingleWords: Int, k: Int): Column = {
    val hashes = transform(array_distinct(wordShingles(text, shingleWords)),
      g => graft.functions.NativeExpressions.md5_prefix24(g))
    val sig = (0 until k).map { seed =>
      val (a, b) = minhashCoeff(seed)
      array_min(transform(hashes, h => (h * a + b) % MinhashP))
    }
    array(sig: _*)
  }

  /** LSH band keys: the signature split into `bands` groups of `rows` hashes,
    * each band hashed to one md5 bucket key. Docs sharing any band key are
    * near-dup candidates. bands*rows must equal the signature length.
    */
  def lshBandKeys(signature: Column, bands: Int, rows: Int): Column =
    array((0 until bands).map { b =>
      md5(concat_ws("|",
        transform(slice(signature, b * rows + 1, rows), h => h.cast("string"))))
    }: _*)

  /** MinHash signature as a TABLE: one row per doc with columns h0..h{k-1}.
    * Shape matters at scale: shingles are exploded once (narrow) and the k
    * minima come from ONE codegen'd hash aggregate — vs. evaluating the
    * shingle array k times inside interpreted higher-order lambdas
    * (measured 50× slower at sf0.1). Each gram is md5'd ONCE; the k family
    * members are affine mixes (a_k·h + b_k) mod p of the 24-bit gram hash —
    * 12× less hashing than per-family md5, still engine-portable integers.
    */
  def minhashSignatureTable(docs: DataFrame, id: Column, text: Column,
                            shingleWords: Int, k: Int): DataFrame = {
    // The local fixture is a one-row-group parquet file → a 1-task scan,
    // and shingling+md5 is the hot loop; spread it across cores first. At
    // real scale the scan has thousands of splits (keep: it's one narrow
    // 2-column exchange).
    val sh = docs.select(id.as("doc_id"), text.as("__text"))
      .repartition(docs.sparkSession.sparkContext.defaultParallelism)
      .select(col("doc_id"),
        explode(array_distinct(wordShingles(col("__text"), shingleWords))).as("g"))
      .select(col("doc_id"),
        graft.functions.NativeExpressions.md5_prefix24(col("g")).as("gh"))
    val mins = (0 until k).map { seed =>
      val (a, b) = minhashCoeff(seed)
      min((col("gh") * a + b) % MinhashP).as(s"h$seed")
    }
    sh.groupBy(col("doc_id")).agg(mins.head, mins.tail: _*)
  }

  /** Per-row (aggregation-free) banded minhash: (doc_id, band) rows.
    * For STREAMING pipelines, where the groupBy-based
    * [[minhashSignatureTable]] would be a second stateful operator in
    * the same query. Three chained projections keep each non-cheap stage
    * (gram hashing, signature, band keys) evaluated once per row —
    * CollapseProject declines to merge projects that would duplicate a
    * non-cheap expression, so the shingle pipeline is NOT re-inlined k
    * times the way the naive [[minhashSignature]]-in-one-select form is.
    */
  def minhashBandRows(docs: DataFrame, id: Column, text: Column,
                      shingleWords: Int, k: Int, bands: Int,
                      carry: Seq[Column] = Nil): DataFrame = {
    val carried = carry.zipWithIndex.map { case (c, i) => c.as(s"__c$i") }
    val carriedRefs = carry.indices.map(i => col(s"__c$i"))
    val hashed = docs.select((Seq(id.as("doc_id")) ++ carried :+
      transform(array_distinct(wordShingles(text, shingleWords)),
        g => graft.functions.NativeExpressions.md5_prefix24(g)).as("__hashes")): _*)
      // a doc too short to shingle owns NO bands (it can match nothing) —
      // without this filter every such doc's signature is all-null, every
      // band key collapses to md5("") via concat_ws's null-skipping, and
      // all short docs falsely collide on one shared bucket
      .filter(size(col("__hashes")) > 0)
    val sig = array((0 until k).map { seed =>
      val (a, b) = minhashCoeff(seed)
      array_min(transform(col("__hashes"), h => (h * a + b) % MinhashP))
    }: _*)
    hashed.select((Seq(col("doc_id")) ++ carriedRefs :+ sig.as("__sig")): _*)
      .select((Seq(col("doc_id")) ++ carriedRefs :+
        explode(lshBandKeys(col("__sig"), bands, k / bands)).as("band")): _*)
  }

  /** Candidate pairs (idA < idB) that collide in at least one LSH band.
    * One narrow explode + one shuffle on the band key; bucket sizes are
    * ~uniform for md5 keys so no reducer hot-spots.
    */
  def lshCandidates(docs: DataFrame, id: Column, text: Column,
                    shingleWords: Int, k: Int, bands: Int): DataFrame = {
    val rows = k / bands
    val sig = minhashSignatureTable(docs, id, text, shingleWords, k)
    val bandKeys = (0 until bands).map { b =>
      md5(concat_ws("|",
        (0 until rows).map(r => col(s"h${b * rows + r}").cast("string")): _*))
    }
    val exploded = sig.select(col("doc_id"), explode(array(bandKeys: _*)).as("band"))
    val a = exploded.select(col("band"), col("doc_id").as("id_a"))
    val b = exploded.select(col("band").as("band_b"), col("doc_id").as("id_b"))
    a.join(b, col("band") === col("band_b") && col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b")).distinct()
  }

  /** Embedding near-duplicate pairs (idA < idB, cosine > threshold) via
    * hyperplane-LSH candidate generation + exact cosine verification
    * within buckets — the scale path that replaces
    * [[graft.similarity.Ann.allPairsCosineAbove]]'s O(n²) theta-join.
    * Shape mirrors the minhash [[lshCandidates]] design: band keys are
    * computed per row (narrow, loop-codegen'd), candidates come from a
    * shuffle join on the band key, pairs are deduped, and the exact
    * cosine (bit-identical arithmetic to the all-pairs baseline) runs
    * once per candidate pair — never a cross join over the corpus.
    *
    * Parameterization: a pair at angle θ agrees on one sign bit with
    * probability 1−θ/π, so the miss probability is
    * (1 − (1−θ/π)^bitsPerBand)^bands, and expected candidate volume is
    * ~(bands/2^bitsPerBand)·n²/2. Tight thresholds (cosine ≥ 0.8, the
    * production near-dup regime) allow 8-16 bits/band where bucketing
    * prunes thousands-fold; the defaults here (64 bands × 4 bits) are
    * sized for recall-completeness down to cosine 0.4 — LSH at such weak
    * thresholds bounds work per band-bucket but cannot beat all-pairs
    * volume (miss bound ~1.5e-5 per pair at cosine exactly 0.4, and
    * deterministic for the md5-derived planes, so a fixed corpus gives a
    * fixed, testable result).
    */
  def embedNearDupLsh(corpus: DataFrame, idCol: String, dim: Int, threshold: Double,
                      bands: Int = 64, bitsPerBand: Int = 4): DataFrame = {
    import graft.functions.VectorFunctions.norm
    import graft.similarity.Ann
    // norms once per row; re-read three times (band explode + both verify
    // sides) so materialize the narrow projection
    val base = corpus.select(col(idCol).as("__id"), col("embedding"),
      norm(col("embedding")).as("__nrm")).ckpt
    // posexplode the band-values array (ONE native-loop call site), then
    // derive the "band:value" key from (pos, value): the key-array form
    // would inline `bands` copies of the projection loop into the fused
    // collision-join stage, blowing the JIT huge-method threshold and
    // running the whole stage interpreted (196s -> ~6s at sf0.1)
    val banded = base.select(col("__id"),
        posexplode(Ann.hyperplaneBandValues(col("embedding"), dim, bands, bitsPerBand)))
      .select(col("__id"),
        concat(col("pos").cast("string"), lit(":"), col("col").cast("string")).as("band"))
      // explicit exchange width for the bucket-collision self-join (r14,
      // guide §2.5): the band-key table shuffles few bytes, AQE coalesces
      // to a couple of tasks, and the per-bucket pair fanout then runs
      // serial — same fix as the wedge joins, the repartition IS the
      // join's exchange
      .repartition(corpus.sparkSession.conf
        .get("spark.sql.shuffle.partitions").toInt, col("band"))
    val cand = banded.select(col("band"), col("__id").as("id_a"))
      .join(banded.select(col("band").as("band_b"), col("__id").as("id_b")),
        col("band") === col("band_b") && col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b")).distinct()
    val a = base.select(col("__id").as("id_a"), col("embedding").as("a_emb"),
      col("__nrm").as("a_nrm"))
    val b = base.select(col("__id").as("id_b"), col("embedding").as("b_emb"),
      col("__nrm").as("b_nrm"))
    cand.join(a, Seq("id_a")).join(b, Seq("id_b"))
      .select(col("id_a"), col("id_b"),
        (graft.functions.NativeExpressions.vec_dot(col("a_emb"), col("b_emb")) /
          (col("a_nrm") * col("b_nrm"))).as("cos"))
      .filter(col("cos") > threshold)
  }

  /** Driver-wave connected components (r14): a local union-find over
    * the collected pair list labels every endpoint (self-loop-only ids
    * label themselves) with its component's min id — the exact contract
    * both distributed forms document. The callers collect through
    * [[graft.operators.Wave.collectIfSmall]], so only a pair list within
    * the wave row cap lands here: one collect replaces the whole
    * iterative loop's per-round jobs (each round = 2-3 exchanges + an
    * eager checkpoint + a convergence action; measured ~0.15-0.5 s of
    * fixed cost per round at any data size).
    */
  private def ccLocal(spark: SparkSession, pairs: Array[(Long, Long)]): DataFrame = {
    val g = new Wave.LocalDigraph(pairs)
    val uf = new Wave.UnionFind(g.n)
    var e = 0
    while (e < g.m) { uf.union(g.es(e), g.ed(e)); e += 1 }
    import spark.implicits._
    Array.tabulate(g.n)(i => (g.ids(i), g.ids(uf.find(i))))
      .toSeq.toDF("doc_id", "cluster_id")
  }

  /** Connected components over candidate duplicate pairs — the step that
    * turns pair lists (LSH/simhash/Jaccard output) into duplicate GROUPS
    * with one canonical keeper (the minimum id). Min-label propagation:
    * every node starts as its own label, each round takes the min over
    * neighbors, converging in graph-diameter rounds — duplicate clusters
    * have tiny diameters, so a handful of joins. Each round is one
    * edge⋈label join + groupBy min; labels are localCheckpointed so
    * lineage doesn't stack. (For general billion-edge graphs with long
    * chains, switch to large-star/small-star; dup clusters don't need it.)
    *
    * @param edges (id_a, id_b) undirected candidate pairs
    * @param maxIter iteration cap; exhausting it without convergence
    *        THROWS, because split clusters silently elect several
    *        "canonical" keepers for one duplicate group and every
    *        downstream keep/drop decision is then wrong. Raise maxIter
    *        (diameter bound) for adversarially chainy graphs.
    * @return (doc_id, cluster_id) for every endpoint; cluster_id = min id
    *         of the component
    */
  def connectedComponents(edges: DataFrame, maxIter: Int = 20): DataFrame = {
    val pairs = edges
      .select(col("id_a").cast("long").as("a"), col("id_b").cast("long").as("b"))
      .ckpt
    Wave.collectIfSmall(pairs, Seq("a", "b"))(Wave.pair) match {
      case Some(local) => return ccLocal(pairs.sparkSession, local)
      case None =>
    }
    val sym = pairs.select(col("a").as("src"), col("b").as("dst"))
      .unionByName(pairs.select(col("b").as("src"), col("a").as("dst")))
      .ckpt
    var labels = sym.select(col("src").as("id")).distinct()
      .withColumn("lbl", col("id")).ckpt
    var converged = false
    var i = 0
    while (!converged && i < maxIter) {
      val nbrMin = sym.join(labels, col("dst") === col("id"))
        .groupBy(col("src")).agg(min(col("lbl")).as("nbr_lbl"))
      val updated = labels.join(nbrMin, col("id") === col("src"), "left")
        .select(col("id"), col("lbl"),
          least(col("lbl"), coalesce(col("nbr_lbl"), col("lbl"))).as("new_lbl"))
        .ckpt
      converged = updated.filter(col("new_lbl") < col("lbl")).isEmpty
      labels = updated.select(col("id"), col("new_lbl").as("lbl"))
      i += 1
    }
    if (!converged)
      throw new IllegalStateException(
        s"connectedComponents: not converged after $maxIter rounds " +
          "(component diameter exceeds maxIter); returning would silently " +
          "split clusters — raise maxIter or pre-contract the graph")
    labels.select(col("id").as("doc_id"), col("lbl").as("cluster_id"))
  }

  /** Connected components via alternating large-star/small-star
    * (Kiveris et al., "Connected Components in MapReduce and Beyond") —
    * the deep-graph path. Min-label propagation needs DIAMETER rounds: a
    * 10⁶-long chain means 10⁶ shuffles. Star contraction rewires the edge
    * set itself each round (every node links toward the minimum of its
    * neighborhood), collapsing any component to a star in O(log n)
    * rounds regardless of diameter. Same output contract as
    * [[connectedComponents]]; same throw-on-non-convergence posture.
    *
    * Invariant: the working edge set is directed u→v with u > v.
    * large-star connects every neighbor larger than u to
    * min(Γ(u) ∪ {u}); small-star connects u and its (all smaller)
    * neighbors to the minimum among them. Fixed point = every node
    * points straight at its component minimum.
    */
  def connectedComponentsStar(edges: DataFrame, maxIter: Int = 25): DataFrame = {
    // Round fusion: each star is ONE window-aggregate pass — min over the
    // u-partition travels to every row of the partition directly, instead
    // of a groupBy followed by a join back (which shuffles the edge set a
    // second time). Neither star dedups its output; one distinct at the
    // end of the round bounds the working set. A round is 3 exchanges
    // (large-star window, small-star window, distinct) vs 6 for the
    // groupBy+join formulation.
    import org.apache.spark.sql.expressions.Window
    def largeStar(ed: DataFrame): DataFrame = {
      val sym = ed.unionByName(ed.select(col("v").as("u"), col("u").as("v")))
      sym.withColumn("m",
          least(min(col("v")).over(Window.partitionBy(col("u"))), col("u")))
        .filter(col("v") > col("u"))
        .select(col("v").as("u"), col("m").as("v"))
        .filter(col("u") =!= col("v"))
    }
    def smallStar(ed: DataFrame): DataFrame = {
      // input invariant u > v, so m = min Γ(u) < u. Rows carrying the min
      // (v = m) become the self edge (u, m); the rest rewire (v, m) pairs.
      val withM = ed.withColumn("m", min(col("v")).over(Window.partitionBy(col("u"))))
      withM.select(
        when(col("v") === col("m"), col("u"))
          .otherwise(greatest(col("v"), col("m"))).as("u"),
        least(col("v"), col("m")).as("v"))
    }
    // edge-set signature for the fixed-point check: one cheap agg pass
    // (bit_xor is order-free and cannot overflow, unlike an ANSI sum)
    def sig(d: DataFrame): (Long, Long) = {
      val r = d.agg(count(lit(1)),
        coalesce(expr("bit_xor(xxhash64(u, v))"), lit(0L))).head()
      (r.getLong(0), r.getLong(1))
    }
    // One eager materialization of the (usually expensive) upstream pair
    // join (r14): BOTH the edge canonicalization below and the final
    // node-labeling join consume it — without this the blocked
    // similarity join / levenshtein verify feeding a dedup gate runs
    // TWICE (measured 3.5 s of entity_resolution's 10 s was the second
    // evaluation). Projected to the two id columns first, so only
    // edge-sized data is checkpointed (guide §5: cut lineage where an
    // intermediate is reused and recomputation is the expensive part).
    val idPairs = edges
      .select(col("id_a").cast("long").as("a"), col("id_b").cast("long").as("b"))
      .ckpt
    // driver-wave dispatch under the measured count gate (see
    // [[ccLocal]]) — identical min-id labels, one collect
    // instead of O(log n) star rounds
    Wave.collectIfSmall(idPairs, Seq("a", "b"))(Wave.pair) match {
      case Some(local) => return ccLocal(idPairs.sparkSession, local)
      case None =>
    }
    var e = idPairs
      .filter(col("a") =!= col("b"))
      .select(greatest(col("a"), col("b")).as("u"), least(col("a"), col("b")).as("v"))
      .distinct().ckpt
    var prev = sig(e)
    var converged = false
    var i = 0
    while (!converged && i < maxIter) {
      e = smallStar(largeStar(e)).distinct().ckpt
      val cur = sig(e)
      converged = cur == prev
      prev = cur
      i += 1
    }
    if (!converged)
      throw new IllegalStateException(
        s"connectedComponentsStar: not converged after $maxIter rounds")
    // every input endpoint gets a label; roots and singletons label themselves
    val nodes = idPairs.select(col("a").as("id"))
      .unionByName(idPairs.select(col("b").as("id"))).distinct()
    nodes.join(e.select(col("u").as("id"), col("v").as("lbl")), Seq("id"), "left")
      .select(col("id").as("doc_id"),
        coalesce(col("lbl"), col("id")).as("cluster_id"))
  }

  /** Benchmark DECONTAMINATION: training documents sharing at least one
    * character n-gram with an evaluation/benchmark set — the standard
    * pre-training hygiene pass (eval answers leaking into training data
    * inflate benchmarks silently). Shape for 100 TB: the benchmark side
    * is small by construction (an eval suite, not a corpus), so its
    * distinct gram set BROADCASTS; the training side is one narrow
    * explode + a broadcast semi-join per gram — the corpus never
    * shuffles. Returns (doc_id, n_shared_grams) for contaminated docs
    * only; drop them (or route to audit) downstream.
    *
    * @param n  gram length in characters; production uses 8-13-token
    *           grams — the parameter, not the mechanics, changes
    */
  def benchmarkContamination(train: DataFrame, evalDocs: DataFrame,
                             id: Column, text: Column, n: Int): DataFrame = {
    val evalGrams = evalDocs
      .select(explode(array_distinct(charShingles(text, n))).as("g"))
      .distinct()
    train
      .select(id.as("doc_id"), explode(array_distinct(charShingles(text, n))).as("g"))
      .join(broadcast(evalGrams), Seq("g"), "left_semi")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_shared_grams"))
  }

  /** Exact Jaccard similarity between two documents' distinct shingle sets
    * (used to verify LSH candidates; runs only on candidate pairs).
    */
  def jaccard(shinglesA: Column, shinglesB: Column): Column = {
    val inter = size(array_intersect(shinglesA, shinglesB)).cast("double")
    val uni = size(array_union(shinglesA, shinglesB)).cast("double")
    when(uni === 0, lit(0.0)).otherwise(inter / uni)
  }

  /** SimHash fingerprint (nbits <= 24 keeps the SQL-oracle arithmetic in
    * exact integer range): per token, md5-derived nbits; each bit votes
    * +1/-1; fingerprint bit b set iff the sum of votes for b is positive.
    * Computed per-row from builtins (narrow, codegen'd).
    */
  def simhash(text: Column, nbits: Int): Column = {
    require(nbits >= 1 && nbits <= 24, "nbits in [1,24]")
    // 6 hex chars = 24 bits of md5 per token, as an int via conv()
    val tokenBits = transform(tokens(text),
      t => graft.functions.NativeExpressions.md5_prefix24(t))
    val bitCols = (0 until nbits).map { b =>
      val votes = aggregate(tokenBits, lit(0L),
        (acc, h) => acc + when(shiftright(h, b).bitwiseAND(1) === 1, 1L).otherwise(-1L))
      when(votes > 0, lit(1L << b)).otherwise(lit(0L))
    }
    bitCols.reduce(_ + _)
  }

  /** Hamming distance between two simhash fingerprints. */
  def hamming(a: Column, b: Column, nbits: Int): Column =
    (0 until nbits).map { b2 =>
      shiftright(a.bitwiseXOR(b), b2).bitwiseAND(1)
    }.reduce(_ + _)

  /** SimHash as a TABLE (doc_id, simhash): tokens exploded once, the nbits
    * vote sums come from one codegen'd hash aggregate. Same values as
    * [[simhash]]; this is the corpus-scale shape.
    */
  def simhashTable(docs: DataFrame, id: Column, text: Column, nbits: Int): DataFrame = {
    require(nbits >= 1 && nbits <= 24, "nbits in [1,24]")
    val tok = docs.select(id.as("doc_id"), explode(tokens(text)).as("t"))
      .withColumn("h", graft.functions.NativeExpressions.md5_prefix24(col("t")))
    val votes = (0 until nbits).map(b =>
      sum(when(shiftright(col("h"), b).bitwiseAND(1) === 1, 1L).otherwise(-1L)).as(s"v$b"))
    val fp = (0 until nbits)
      .map(b => when(col(s"v$b") > 0, lit(1L << b)).otherwise(lit(0L)))
      .reduce(_ + _)
    tok.groupBy(col("doc_id")).agg(votes.head, votes.tail: _*)
      .select(col("doc_id"), fp.as("simhash"))
  }

  /** N-gram Jaccard pairs above a positive threshold, PPJoin-style:
    *
    *  1. grams exploded once (narrow), hashed to 64-bit;
    *  2. one groupBy computes global gram document-frequency (the rarity
    *     order for prefix filtering);
    *  3. per doc, the gram set becomes ONE row carrying (a) the gh-sorted
    *     array for merge-scan verification and (b) the rarity-sorted prefix
    *     of length n_g - ⌈t·n_g⌉ + 1. Prefix filtering is lossless: J ≥ t
    *     forces overlap ≥ ⌈t·n_g⌉ on both sides, and two sets with overlap
    *     o must collide within their (n-o+1)-prefixes under any shared
    *     total order;
    *  4. candidates = equi-join on (block, prefix gram) with the size-ratio
    *     prune t ≤ n_b/n_a ≤ 1/t (also implied by J ≥ t);
    *  5. exact verification per candidate pair via a codegen'd merge scan
    *     ([[graft.functions.NativeExpressions.sorted_intersect_count]]) —
    *     O(n_a+n_b), no hash-set build, no re-join over grams.
    *
    * vs. counting intersections with a full (block, gram) self-join: that
    * join materializes Σ_gram m² rows (quadratic in gram frequency), which
    * is exactly what explodes on a low-entropy corpus; the prefix join only
    * pays that for the rarest ~(1-t) fraction of each doc's grams
    * (measured 3.5× at sf0.1, and the gap widens with corpus size).
    * Per-doc state is one long per gram — fine up to multi-MB docs; beyond
    * that use [[ngramJaccardPairsJoinAll]].
    */
  /** Per-doc distinct gram hashes: (doc_id, blk, gh), exploded narrow. */
  private def gramRows(docs: DataFrame, id: Column, text: Column, block: Column,
                       n: Int): DataFrame =
    docs.select(id.as("doc_id"), block.as("blk"), text.as("__text"))
      // one-file local scans: spread the shingling (narrow at scale)
      .repartition(docs.sparkSession.sparkContext.defaultParallelism)
      .select(col("doc_id"), col("blk"),
        explode(array_distinct(charShingles(col("__text"), n))).as("g"))
      .select(col("doc_id"), col("blk"), xxhash64(col("g")).as("gh"))

  def ngramJaccardPairs(docs: DataFrame, id: Column, text: Column, block: Column,
                        n: Int, minJaccard: Double): DataFrame = {
    require(minJaccard > 0 && minJaccard <= 1, "threshold in (0, 1]")
    val g0 = gramRows(docs, id, text, block, n)
    val dfreq = g0.groupBy(col("gh")).agg(count(lit(1)).as("df"))
    val docGrams = g0.join(dfreq, Seq("gh"))
      .groupBy(col("doc_id"), col("blk"))
      .agg(sort_array(collect_list(col("gh"))).as("grams"),
        sort_array(collect_list(struct(col("df"), col("gh")))).as("by_rarity"))
      .withColumn("n_g", size(col("grams")).cast("long"))
      // +1 safety margin on top of n-⌈t·n⌉+1 absorbs any fp-rounding of
      // ceil(n·t) for non-dyadic t; verification is exact either way
      .withColumn("prefix",
        transform(
          slice(col("by_rarity"), lit(1),
            greatest(col("n_g") - ceil(col("n_g") * minJaccard) + 2, lit(1)).cast("int")),
          p => p.getField("gh")))
    val a = docGrams.select(col("blk"), col("doc_id").as("id_a"),
      col("n_g").as("n_a"), explode(col("prefix")).as("ph"))
    val b = docGrams.select(col("blk").as("blk_b"), col("doc_id").as("id_b"),
      col("n_g").as("n_b"), explode(col("prefix")).as("ph_b"))
    val cands = a.join(b,
        col("blk") === col("blk_b") && col("ph") === col("ph_b") &&
          col("id_a") < col("id_b") &&
          col("n_b") >= col("n_a") * minJaccard && col("n_b") <= col("n_a") / minJaccard)
      .select(col("id_a"), col("id_b")).distinct()
    val ga = docGrams.select(col("doc_id").as("id_a"),
      col("grams").as("grams_a"), col("n_g").as("n_a"))
    val gb = docGrams.select(col("doc_id").as("id_b"),
      col("grams").as("grams_b"), col("n_g").as("n_b"))
    cands.join(ga, Seq("id_a")).join(gb, Seq("id_b"))
      .withColumn("n_inter",
        graft.functions.NativeExpressions.sorted_intersect_count(
          col("grams_a"), col("grams_b")))
      .select(col("id_a"), col("id_b"),
        (col("n_inter").cast("double") / (col("n_a") + col("n_b") - col("n_inter")))
          .as("jacc"))
      .filter(col("jacc") >= minJaccard)
  }

  /** Block-pair formulation of [[ngramJaccardPairs]]: pair docs directly
    * within each block (size-ratio pruned), verify every pair with the
    * merge scan — no candidate-generation join at all. When a block holds
    * B docs of ~G grams, the prefix join materializes one row per shared
    * prefix gram per colliding pair — Θ(B²·G·overlap) on a low-entropy
    * corpus where common grams collide across most of the block — while
    * this shape is Θ(B²) join rows and Θ(B²·G) scan work in the verifier's
    * tight codegen loop (measured 5× over the prefix join on the synthetic
    * docs corpus; the prefix join wins when blocks are huge and grams
    * high-entropy).
    *
    * The blk key is inherently skewed (few distinct blocks, quadratic work
    * per block — and AQE coalesces the small *input* bytes into few tasks,
    * blind to the join's fan-out), so the join is salted: the a-side
    * replicates across all salts (probe/stream side), the b-side takes one
    * deterministic per-doc salt (build side stays un-replicated). Each
    * pair still appears exactly once; the verify loop spreads over
    * blocks×salts tasks.
    */
  def ngramJaccardPairsBlocked(docs: DataFrame, id: Column, text: Column, block: Column,
                               n: Int, minJaccard: Double, salts: Int = 32): DataFrame = {
    require(minJaccard > 0 && minJaccard <= 1, "threshold in (0, 1]")
    // materialized once (localCheckpoint): both join sides read the same
    // computed gram sets instead of re-running the shingling + aggregate
    val docGrams = gramRows(docs, id, text, block, n)
      .groupBy(col("doc_id"), col("blk"))
      .agg(sort_array(collect_list(col("gh"))).as("grams"))
      .withColumn("n_g", size(col("grams")).cast("long"))
      .ckpt
    // the salt EXPLODE goes on the a-side (each a-row is replicated once
    // per salt and probes one (blk, salt) bucket); the b-side carries a
    // single deterministic salt, so the build/broadcast side stays
    // un-replicated. Under SMJ at scale the same shape spreads one block's
    // pairs over `salts` reducers. Every (a,b) pair still matches exactly
    // once: b's salt is unique and a covers all salts.
    val a = docGrams.select(col("blk"), col("doc_id").as("id_a"),
        col("grams").as("grams_a"), col("n_g").as("n_a"))
      .withColumn("salt", explode(sequence(lit(0L), lit(salts - 1L))))
    val b = docGrams.select(col("blk").as("blk_b"), col("doc_id").as("id_b"),
        col("grams").as("grams_b"), col("n_g").as("n_b"))
      .withColumn("salt_b", pmod(xxhash64(col("id_b")), lit(salts)))
    val joined = a.join(b,
      col("blk") === col("blk_b") && col("salt") === col("salt_b") &&
        col("id_a") < col("id_b") &&
        col("n_b") >= col("n_a") * minJaccard && col("n_b") <= col("n_a") / minJaccard)
    // fenced(): pins the threshold filter ABOVE this projection — otherwise
    // Catalyst substitutes the merge scan into the join condition, where it
    // runs per probed pair (ahead of the cheap id/size conjuncts) and is
    // evaluated twice more inside the rewritten jacc predicate
    val verified = joined.select(col("id_a"), col("id_b"), col("n_a"), col("n_b"),
      graft.functions.NativeExpressions.fenced(
        graft.functions.NativeExpressions.sorted_intersect_count(
          col("grams_a"), col("grams_b"))).as("n_inter"))
    verified
      .select(col("id_a"), col("id_b"),
        (col("n_inter").cast("double") / (col("n_a") + col("n_b") - col("n_inter")))
          .as("jacc"))
      .filter(col("jacc") >= minJaccard)
  }

  /** The full (block, gram) self-join formulation of [[ngramJaccardPairs]] —
    * no per-doc gram arrays, so it also covers corpora whose documents are
    * too large to hold one row per doc. Same results.
    */
  def ngramJaccardPairsJoinAll(docs: DataFrame, id: Column, text: Column, block: Column,
                               n: Int, minJaccard: Double): DataFrame = {
    require(minJaccard > 0, "threshold must be positive (zero-overlap pairs are pruned)")
    // grams travel as 64-bit hashes through the intersection join: the
    // count is representation-independent and the narrow key halves the
    // shuffle (xxhash64 collisions across <<2^20 distinct n-grams: ~2^-25)
    val g0 = docs.select(id.as("doc_id"), block.as("blk"),
        explode(array_distinct(charShingles(text, n))).as("g"))
      .select(col("doc_id"), col("blk"), xxhash64(col("g")).as("gh"))
    val sizes = g0.groupBy(col("doc_id")).agg(count(lit(1)).as("n_g"))
    val g = g0.join(sizes, Seq("doc_id"))
    val a = g.select(col("blk"), col("doc_id").as("id_a"), col("gh"), col("n_g").as("n_a"))
    val b = g.select(col("blk").as("blk_b"), col("doc_id").as("id_b"),
      col("gh").as("gh_b"), col("n_g").as("n_b"))
    // lossless size-ratio prune: J(A,B) >= t requires t <= |B|/|A| <= 1/t,
    // so mismatched-size pairs never enter the intersection count
    val inter = a.join(b,
        col("blk") === col("blk_b") && col("gh") === col("gh_b") && col("id_a") < col("id_b") &&
          col("n_b") >= col("n_a") * minJaccard && col("n_b") <= col("n_a") / minJaccard)
      .groupBy(col("id_a"), col("id_b"), col("n_a"), col("n_b"))
      .agg(count(lit(1)).as("n_inter"))
    inter
      .select(col("id_a"), col("id_b"),
        (col("n_inter").cast("double") / (col("n_a") + col("n_b") - col("n_inter"))).as("jacc"))
      .filter(col("jacc") >= minJaccard)
  }

  /** D11: per-pair minhash Jaccard ESTIMATE — for each LSH candidate
    * pair, the number of agreeing signature components out of k
    * (n_agree/k is the unbiased Jaccard estimate; kept as integers so
    * the oracle reproduces it bit-exactly). The triage step between
    * candidate generation (cheap, band collisions) and exact
    * verification (expensive, full shingle intersection): at scale you
    * estimate on the O(k) signatures you already shuffled, and only
    * pairs above the estimate threshold pay the exact pass.
    *
    * The signature table is computed once; the band-explode and the two
    * per-side projections all reuse its exchange.
    */
  def minhashAgreement(docs: DataFrame, id: Column, text: Column,
                       shingleWords: Int, k: Int, bands: Int): DataFrame = {
    val rows = k / bands
    val sig = minhashSignatureTable(docs, id, text, shingleWords, k)
    val bandKeys = (0 until bands).map { b =>
      md5(concat_ws("|",
        (0 until rows).map(r => col(s"h${b * rows + r}").cast("string")): _*))
    }
    val exploded = sig.select(col("doc_id"), explode(array(bandKeys: _*)).as("band"))
    val a = exploded.select(col("band"), col("doc_id").as("id_a"))
    val b = exploded.select(col("band").as("band_b"), col("doc_id").as("id_b"))
    val pairs = a.join(b, col("band") === col("band_b") && col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b")).distinct()
    val sa = sig.select(col("doc_id").as("ia") +:
      (0 until k).map(j => col(s"h$j").as(s"a$j")): _*)
    val sb = sig.select(col("doc_id").as("ib") +:
      (0 until k).map(j => col(s"h$j").as(s"b$j")): _*)
    val agree = (0 until k).map(j =>
      when(col(s"a$j") === col(s"b$j"), 1L).otherwise(0L)).reduce(_ + _)
    pairs.join(sa, col("id_a") === col("ia"))
      .join(sb, col("id_b") === col("ib"))
      .select(col("id_a"), col("id_b"), agree.as("n_agree"),
        lit(k.toLong).as("k_total"))
      .orderBy(col("id_a"), col("id_b"))
  }

  /** D10: cross-source duplicate containment — aggregate a near-dup pair
    * list (e.g. [[lshCandidates]] output `id_a`/`id_b`) into a
    * source×source leakage matrix: how many near-duplicate pairs connect
    * each (unordered) pair of corpus sources. The curation report that
    * answers "is crawl B just a mirror of crawl A?" and "how much does
    * the new source overlap what we already have?" before anything is
    * dropped.
    *
    * The pair list is tiny relative to the corpus (it's already the
    * post-LSH survivors), so both id→source lookups broadcast the pairs
    * against a two-column projection of the docs table — no shuffle of
    * the corpus, and the matrix aggregation runs on |pairs| rows.
    */
  def crossSourceMatrix(docs: DataFrame, pairs: DataFrame,
                        idCol: String, srcCol: String): DataFrame = {
    val slim = docs.select(col(idCol), col(srcCol))
    val withA = slim
      .join(org.apache.spark.sql.functions.broadcast(pairs), col(idCol) === col("id_a"))
      .select(col("id_b"), col(srcCol).as("src_a"))
    val withB = slim
      .join(org.apache.spark.sql.functions.broadcast(withA), col(idCol) === col("id_b"))
      .select(col("src_a"), col(srcCol).as("src_b"))
    withB
      .select(least(col("src_a"), col("src_b")).as("source_a"),
        greatest(col("src_a"), col("src_b")).as("source_b"))
      .groupBy(col("source_a"), col("source_b"))
      .agg(count(lit(1)).as("n_pairs"))
      .orderBy(col("source_a"), col("source_b"))
  }

  // ------------------------------------------------- incremental near-dup

  /** Band-ownership index from banded minhash rows ([[minhashBandRows]]
    * output): the min doc id per band — the persistable state of the
    * streaming/incremental near-dup keep rule (a doc is kept iff it owns
    * every band it touches). O(bands) rows per doc in, one map-side-
    * partial min aggregate out; the index is a fraction of the corpus
    * and is what an incremental pipeline stores between runs.
    */
  def bandOwners(bandRows: DataFrame): DataFrame =
    bandRows.groupBy(col("band")).agg(min(col("doc_id")).as("owner"))

  /** Merge a persisted ownership index with a new batch's index. Min is
    * associative/commutative/idempotent, so merged ≡ the index built
    * from scratch over the union — the delta-maintenance law
    * (DedupIncrementalSpec pins it). When ingest ids are monotone (the
    * production case: new docs get larger ids), a delta can never steal
    * a band from history, so previously-kept docs stay kept and the old
    * keep set needs no revisit.
    */
  def mergeBandOwners(a: DataFrame, b: DataFrame): DataFrame =
    a.unionByName(b).groupBy(col("band")).agg(min(col("owner")).as("owner"))

  /** The keep set under an ownership index: every doc in `allIds` except
    * those touching a band owned by a smaller id. Docs owning no bands
    * (too short to shingle — they appear in `allIds` but not `bandRows`)
    * are trivially kept, matching the batch rule and the X11 stream.
    */
  def nearDupKeepSet(allIds: DataFrame, bandRows: DataFrame,
                     owners: DataFrame): DataFrame = {
    val blocked = bandRows.join(owners, Seq("band"))
      .filter(col("owner") =!= col("doc_id"))
      .select(col("doc_id")).distinct()
    allIds.join(blocked, Seq("doc_id"), "left_anti")
  }

  /** D14: exact substring-overlap dedup — the training-data "exact
    * substring" pass (Lee et al., "Deduplicating Training Data Makes
    * Language Models Better": 50-token exact overlaps across documents),
    * re-expressed as sliding-window grouping instead of a suffix array:
    * every `w`-token window of every doc is a join key; docs sharing
    * ≥ `minShared` distinct windows are reported with their longest
    * CONTIGUOUS run of shared windows (a run of r windows = an exact
    * shared substring of w + r − 1 tokens).
    *
    * Scale posture: never corpus-quadratic — candidate pairs come only
    * from window-key groups, and windows occurring in more than `hotCap`
    * docs (boilerplate) are dropped before pair generation, bounding any
    * group's contribution to C(hotCap, 2). Windows are deduped to their
    * FIRST occurrence per doc, so runs are counted over first
    * occurrences (deterministic in both engines). All operators are
    * codegen builtins (split/slice/concat_ws/posexplode + two
    * aggregates and one window pass); the raw window STRING is the join
    * key for cross-engine exactness — a production deployment swaps it
    * for xxhash64(window) with the identical plan shape.
    *
    * @return (doc_a < doc_b, n_shared distinct windows,
    *         longest_tokens = w + longest run − 1), n_shared ≥ minShared
    */
  def substringOverlap(docs: DataFrame, id: Column, text: Column,
                       w: Int, minShared: Int, hotCap: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(w >= 2 && minShared >= 1 && hotCap >= 2,
      s"bad params (w=$w, minShared=$minShared, hotCap=$hotCap)")
    val tok = docs.select(id.as("doc_id"), split(text, " ").as("tk"))
    // sequence(a, b) runs DESCENDING when b < a — guard the short docs
    val win = tok
      .select(col("doc_id"), posexplode(expr(
        s"""CASE WHEN size(tk) >= $w
           |  THEN transform(sequence(1, size(tk) - ${w - 1}),
           |                 i -> concat_ws(' ', slice(tk, i, $w)))
           |  ELSE array() END""".stripMargin)))
      .select(col("doc_id"), (col("pos") + 1).as("pos"), col("col").as("w"))
    val winu = win.groupBy(col("doc_id"), col("w"))
      .agg(min(col("pos")).as("pos"))
    val rare = winu.groupBy(col("w"))
      .agg(count(lit(1)).as("df")).filter(col("df") <= hotCap)
      .select(col("w"))
    val wf = winu.join(rare, Seq("w"))
    val pairs = wf.select(col("w"), col("doc_id").as("doc_a"), col("pos").as("pa"))
      .join(wf.select(col("w"), col("doc_id").as("doc_b"), col("pos").as("pb")),
        Seq("w"))
      .filter(col("doc_a") < col("doc_b"))
      .select(col("doc_a"), col("doc_b"), col("pa"), col("pb"))
      .ckpt // feeds both the run pass and the count
    val rn = row_number().over(
      Window.partitionBy(col("doc_a"), col("doc_b")).orderBy(col("pa")))
    val runs = pairs
      .withColumn("ga", col("pa") - rn).withColumn("gb", col("pb") - rn)
      .groupBy(col("doc_a"), col("doc_b"), col("ga"), col("gb"))
      .agg(count(lit(1)).as("run"))
      .groupBy(col("doc_a"), col("doc_b"))
      .agg((max(col("run")) + (w - 1)).as("longest_tokens"))
    pairs.groupBy(col("doc_a"), col("doc_b"))
      .agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= minShared)
      .join(runs, Seq("doc_a", "doc_b"))
      .select(col("doc_a"), col("doc_b"), col("n_shared"),
        col("longest_tokens"))
  }

  /** D21: cross-document repeated-SPAN detection — the other half of the
    * Lee et al. exact-substring pass that D14 reports pairwise: instead
    * of "which doc PAIRS overlap", this answers "which token RANGES of
    * each document are repeats of text seen earlier in the corpus" — the
    * spans a training-data pipeline actually CUTS. An occurrence of a
    * `w`-token window is a repeat iff it is not the corpus-wide FIRST
    * occurrence of that window under the total order (doc_id, pos) — the
    * keep-first rule, so exactly one copy of every repeated region
    * survives. Overlapping/adjacent repeat windows of a doc coalesce
    * (gaps-and-islands, gap > w breaks) into maximal spans; a planted
    * L-token duplicate surfaces as one span of exactly L tokens.
    *
    * Scale posture: no pair generation at all — cost is one grouped
    * aggregate per window key (min (doc_id, pos) struct + count, full
    * map-side combine, no per-key window sort, so boilerplate windows
    * with millions of occurrences stay balanced aggregation keys, never
    * a single-partition sort), one join back, and one per-DOC window
    * pass over repeat positions only. All stages are codegen builtins;
    * the raw window string is the key for cross-engine exactness (a
    * production deployment swaps in xxhash64 with the same plan).
    *
    * @return (doc_id, span_start, span_end, span_tokens) — 0-based
    *         token positions, inclusive; one row per maximal repeat span
    */
  def repeatedSpans(docs: DataFrame, id: Column, text: Column,
                    w: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(w >= 2, s"w must be >= 2, got $w")
    val tok0 = docs.select(id.as("doc_id"), split(text, " ").as("tk"))
    // widen ONLY under-split scans (r14, guide §2.5/§6): the 8-token
    // window explode + gram hashing is the hot loop and a one-file local
    // corpus arrives as a single split, serializing it (measured two
    // 1-task stages of 1.2 s + 0.8 s at sf0.1); a real many-split scan
    // adds no exchange
    val tokP = docs.sparkSession.sparkContext.defaultParallelism
    val tok = if (tok0.rdd.getNumPartitions >= tokP) tok0
      else tok0.repartition(tokP)
    // sequence(a, b) runs DESCENDING when b < a — guard the short docs
    val grams = tok
      .select(col("doc_id"), posexplode(expr(
        s"""CASE WHEN size(tk) >= $w
           |  THEN transform(sequence(1, size(tk) - ${w - 1}),
           |                 i -> concat_ws(' ', slice(tk, i, $w)))
           |  ELSE array() END""".stripMargin)))
      .select(col("doc_id"), col("pos").cast("long").as("p"),
        col("col").as("g"))
    val own = grams.groupBy(col("g"))
      .agg(min(struct(col("doc_id"), col("p"))).as("first"),
        count(lit(1)).as("n"))
      .filter(col("n") > 1)
    val dup = grams.join(own, Seq("g"))
      .filter(!(col("doc_id") === col("first.doc_id") &&
        col("p") === col("first.p")))
      .select(col("doc_id"), col("p"))
    val byDoc = Window.partitionBy(col("doc_id")).orderBy(col("p"))
    val spans = dup
      .withColumn("prev", lag(col("p"), 1).over(byDoc))
      .withColumn("brk",
        when(col("prev").isNull || col("p") - col("prev") > w, 1L)
          .otherwise(0L))
      .withColumn("grp", sum(col("brk")).over(
        byDoc.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy(col("doc_id"), col("grp"))
      .agg(min(col("p")).as("span_start"),
        (max(col("p")) + (w - 1)).as("span_end"),
        (max(col("p")) + w - min(col("p"))).as("span_tokens"))
    spans.select(col("doc_id"), col("span_start"), col("span_end"),
      col("span_tokens"))
  }

  /** D15: sorted-neighborhood dedup (Hernández–Stolfo SNM) — sort the
    * corpus by a normalized blocking key, slide a fixed window down the
    * sorted order, and exact-verify only the pairs inside the window:
    * the classic record-linkage blocking scheme, complementary to LSH
    * (D2) — SNM catches prefix-similar records whose differing tails
    * break band signatures, LSH catches similarity anywhere.
    *
    * Spark-first shape, NO global sort of the data: the global rank
    * comes from the two-stage scan (the R97 prefix-sum posture) — the
    * only unpartitioned window runs over BUCKET COUNTS (first-byte
    * buckets, metadata-sized); rows get rank = bucket offset + intra-
    * bucket row_number, partitioned and parallel. Window pairs come
    * from the bucketed band join (R24 machinery: Δrank ∈ [1, window−1]),
    * and the n-gram Jaccard verify (exact, integer ppm) touches only
    * those ~n·window pairs.
    *
    * @param window  SNM window size (pairs within window−1 rank steps)
    * @param nGram   char n-gram size for the verify step
    * @param minPpm  keep pairs with Jaccard ≥ minPpm/1e6
    * @return (id_a, id_b, jaccard_ppm) — id_a is the LOWER-ranked doc
    */
  def sortedNeighborhoodPairs(docs: DataFrame, id: Column, text: Column,
                              window: Int, nGram: Int,
                              minPpm: Long): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(window >= 2, s"window must be >= 2, got $window")
    val base = docs.select(id.as("doc_id"), text.as("__text"))
      .withColumn("__key", substring(lower(trim(col("__text"))), 1, 24))
      .withColumn("__bkt", ascii(col("__key")))
    val counts = base.groupBy(col("__bkt")).agg(count(lit(1)).as("__n"))
    // the ONLY unpartitioned window: first-byte bucket counts
    val wB = Window.orderBy(col("__bkt"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val offsets = counts.select(col("__bkt"),
      coalesce(sum(col("__n")).over(wB), lit(0L)).as("__off"))
    val wIntra = Window.partitionBy(col("__bkt"))
      .orderBy(col("__key"), col("doc_id"))
    val ranked = base.join(broadcast(offsets), Seq("__bkt"))
      .withColumn("__rank", col("__off") + row_number().over(wIntra))
      .select(col("doc_id"), col("__text"), col("__rank"))
    val lo = ranked.select(col("doc_id").as("id_a"), col("__rank").as("__ra"))
    val hi = ranked.select(col("doc_id").as("id_b"), col("__rank").as("__rb"))
    // rank-only band join (narrow rows); texts never ride the shuffle
    val pairs = graft.operators.RangeJoin.bandJoin(
      hi, col("__rb"), lo, col("__ra") + 1, col("__ra") + window,
      window.toDouble)
    // per-doc sorted distinct gram hashes, built ONCE (not per pair) and
    // verified with the codegen'd merge scan — the ngramJaccardPairs
    // posture; docs too short for a single n-gram drop their pairs (the
    // oracle's gram-set join does the same)
    val gramSets = base
      .repartition(docs.sparkSession.sparkContext.defaultParallelism)
      .select(col("doc_id"),
        explode(array_distinct(charShingles(col("__text"), nGram))).as("g"))
      .select(col("doc_id"), xxhash64(col("g")).as("gh"))
      .groupBy(col("doc_id"))
      .agg(sort_array(collect_list(col("gh"))).as("grams"))
      .withColumn("n_g", size(col("grams")).cast("long"))
      .ckpt
    pairs
      .join(gramSets.select(col("doc_id").as("id_a"),
        col("grams").as("__ga"), col("n_g").as("__na")), Seq("id_a"))
      .join(gramSets.select(col("doc_id").as("id_b"),
        col("grams").as("__gb"), col("n_g").as("__nb")), Seq("id_b"))
      .withColumn("__inter", graft.functions.NativeExpressions
        .sorted_intersect_count(col("__ga"), col("__gb")))
      .withColumn("__union", col("__na") + col("__nb") - col("__inter"))
      .withColumn("jaccard_ppm",
        expr("__inter * 1000000 div __union"))
      .filter(col("jaccard_ppm") >= minPpm)
      .select(col("id_a"), col("id_b"), col("jaccard_ppm"))
  }
}
