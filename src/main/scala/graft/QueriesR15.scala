package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.sources.Tables

/** Round-6 surface growth, batch z: the spatial grid family (R156 radius
  * join, R157 radius-bounded kNN, R158 grid-density clustering) and exact
  * milli-quantized Lloyd k-means (D18). House contract as everywhere:
  * pure integer arithmetic after a single deterministic quantization, so
  * every gate is a bit-exact hash compare against DuckDB.
  *
  * Point coordinates derive from event ids by an affine congruential
  * scatter ((id·48271) mod 2000, (id·16807+12345) mod 2000) — plain
  * integer ops both engines share, standing in for the delivery/store
  * coordinates a production replica of the reference's schema would carry
  * (reference: README.md:24, the real-time warehouse use case).
  */
object QueriesR15 {
  private def t(s: SparkSession, dir: String, name: String): DataFrame =
    Tables.load(s, dir, name)

  // Staged order-contact graph (r14): the distinct customer→part-supplier
  // contact events from orders⋈lineitem — the shared input of the six
  // temporal/cascade gates below, which each rebuilt it (~2 s at sf0.1:
  // a broadcast-side timestamp-cast scan plus the join+distinct). At
  // production scale this is the bucketed materialization of the contact
  // fact the gates would all read.

  /** Distinct (c, p, t) contact triples, t = order-date day number. */
  private[graft] def contactTriples(s: SparkSession, dir: String): DataFrame =
    Staged.frame(s, dir, "contact_triples")(
      t(s, dir, "orders")
        .join(t(s, dir, "lineitem").select(col("l_orderkey"), col("l_suppkey")),
          col("o_orderkey") === col("l_orderkey"))
        .select(col("o_custkey").as("c"),
          (col("l_suppkey") + 1000000L).as("p"),
          expr("unix_micros(CAST(o_orderdate AS TIMESTAMP)) div 86400000000")
            .as("t"))
        .distinct())

  /** Distinct (c, p) contact pairs — the untimed projection of
    * [[contactTriples]] (identical pair set: distinct of a projection of
    * a distinct join is the distinct projection of the join).
    */
  private[graft] def contactPairs(s: SparkSession, dir: String): DataFrame =
    Staged.frame(s, dir, "contact_pairs")(
      contactTriples(s, dir).select(col("c"), col("p")).distinct())

  /** Money columns in integer cents: exact in both engines. */
  private def cents(c: org.apache.spark.sql.Column) =
    (c.cast("decimal(12,2)") * 100).cast("long")

  /** Synthetic point cloud: one point per event, coords in [0, 2000).
    * Derivation must be genuinely scattered — an affine (LCG-style) map
    * of sequential ids is a LATTICE (Marsaglia), whose minimum
    * inter-point distance can exceed any useful radius — so coords come
    * from the house 48-bit md5 idiom, salted per axis.
    */
  private def points(s: SparkSession, dir: String): DataFrame = {
    def h48(salt: String) = conv(substring(
      md5(concat(col("event_id").cast("string"), lit(salt))), 1, 12), 16, 10)
      .cast("long")
    t(s, dir, "events").select(
      col("event_id").as("id"),
      (h48(":x") % 2000L).as("x"),
      (h48(":y") % 2000L).as("y"))
  }

  private val pointsSql =
    """SELECT event_id AS id,
      |    CAST(('0x' || substr(md5(CAST(event_id AS VARCHAR) || ':x'), 1, 12))
      |      AS BIGINT) % 2000 AS x,
      |    CAST(('0x' || substr(md5(CAST(event_id AS VARCHAR) || ':y'), 1, 12))
      |      AS BIGINT) % 2000 AS y FROM events""".stripMargin

  /** R156: all customer-pair proximity within Euclidean distance 25 —
    * grid equi-join (3×3 neighbor replication of the narrow projection),
    * never the O(n²) cross join the oracle brute-forces at gate scale.
    */
  def qSpatialRadiusJoin(s: SparkSession, dir: String): DataFrame =
    graft.operators.Spatial.radiusJoin(points(s, dir),
        col("id"), col("x"), col("y"), r = 25L)
      .orderBy(col("id_a"), col("id_b"))

  /** R157: 5 nearest in-radius (r=100) neighbors for the id%97 query
    * panel — the query side replicates into its neighborhood, the corpus
    * keeps its home cell, per-query top-k is a window over the bounded
    * in-radius fan-in.
    */
  def qSpatialKnn(s: SparkSession, dir: String): DataFrame = {
    val p = points(s, dir)
    graft.operators.Spatial.knnWithinRadius(
        p.filter(col("id") % 97 === 0), p,
        col("id"), col("x"), col("y"), r = 100L, k = 5)
      .orderBy(col("query_id"), col("rnk"))
  }

  /** R158: DBSCAN-style demand pockets — cells of side 50 with ≥3 points
    * are dense, 8-adjacent dense cells merge via star-contraction CC on
    * the CELL table (data-sized work: one aggregate + one join back);
    * sparse-cell points are noise and absent.
    */
  def qSpatialCluster(s: SparkSession, dir: String): DataFrame =
    graft.operators.Spatial.gridDensityCluster(points(s, dir),
        col("id"), col("x"), col("y"), cellSize = 50L, minPts = 3L)
      .orderBy(col("id"))

  /** D18: two exact Lloyd passes over milli-quantized embeddings, FIXED
    * k = 10 seeds by portable hash rank ([[graft.similarity.KMeans
    * .seedsTopK]] — k stays 10 at any corpus size, so the centroid
    * broadcast contract survives a 100× scale-up; the r6 verdict's
    * data-proportional-k flag) — the deterministic clustering that feeds
    * stratified corpus sampling and IVF partition pruning.
    */
  def qKmeansCluster(s: SparkSession, dir: String): DataFrame =
    graft.similarity.KMeans.lloydMilliK(t(s, dir, "embeddings"),
        col("vec_id"), col("embedding"), k = 10, iterations = 2)
      .orderBy(col("vec_id"))

  /** R159: simplified squared-distance silhouette of D18's assignment —
    * the decisiveness monitor for the clustering that feeds sampling and
    * IVF pruning; per-cluster sign-carried mean in exact ppm.
    */
  def qSilhouette(s: SparkSession, dir: String): DataFrame =
    graft.similarity.KMeans.silhouetteMilliK(t(s, dir, "embeddings"),
        col("vec_id"), col("embedding"), k = 10, iterations = 2)
      .orderBy(col("cluster_id"))

  /** R160: stationary distribution of the R58 event-type Markov kernel
    * after 3 exact power-iteration rounds — where the user process spends
    * its long-run time; state-sized work beyond the pair aggregate.
    */
  def qMarkovStationary(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val e = t(s, dir, "events").select(col("user_id"), col("event_id"),
      col("event_type"),
      unix_timestamp(col("ts").cast("timestamp")).as("ts_sec"))
    val w = Window.partitionBy(col("user_id")).orderBy(col("event_id"))
    val pairs = e
      .withColumn("prev", lag(col("event_type"), 1).over(w))
      .withColumn("gap", col("ts_sec") - lag(col("ts_sec"), 1).over(w))
      .filter(col("prev").isNotNull && col("gap") <= 1800)
      .select(col("prev").as("from_state"), col("event_type").as("to_state"))
    graft.operators.Markov.stationaryPpm(pairs, rounds = 3)
      .orderBy(col("state"))
  }

  /** R161: cross-source quantile normalization of document length — each
    * source's distribution maps onto the pooled one by type-1 rank
    * lookup, the fix before mixing heterogeneous quality scores.
    */
  def qQuantileNormalize(s: SparkSession, dir: String): DataFrame =
    graft.operators.Ranking.quantileNormalize(
        t(s, dir, "documents").select(col("doc_id"), col("source"),
          col("n_chars")),
        Seq("source"), col("n_chars"), col("doc_id"))
      .select(col("doc_id"), col("source"), col("n_chars"), col("norm"))
      .orderBy(col("doc_id"))

  /** R162 (dq): l-diversity audit behind the C-family k-anonymity gate —
    * per event type, quasi-groups (type, day) whose distinct sensitive
    * payloads fall below l=3.
    */
  def dqLDiversity(s: SparkSession, dir: String): DataFrame =
    graft.operators.Quality.lDiversity(
        t(s, dir, "events").select(col("event_type"),
          expr("unix_micros(CAST(ts AS TIMESTAMP)) div 86400000000").as("day"),
          col("props")),
        col("event_type"), Seq(col("day")), col("props"), l = 3L)
      .orderBy(col("report_key"))

  /** R163: trimmed + winsorized order-value means per priority class —
    * the robust-location pair (drop vs clamp the tails) at 10% per tail.
    */
  def qTrimmedMean(s: SparkSession, dir: String): DataFrame =
    graft.operators.Ranking.trimmedWinsorizedMean(
        t(s, dir, "orders").select(col("o_orderpriority").as("grp"),
          col("o_totalprice"), col("o_orderkey")),
        Seq("grp"), cents(col("o_totalprice")), col("o_orderkey"),
        trimPpm = 100000L)
      .orderBy(col("grp"))

  /** X37: streaming spatial enrich — arrivals emit in-radius (r=200)
    * depot pairs (depots = the id%61 panel of the same cloud) as they
    * land; stateless grid join ⇒ appended output ≡ the batch join.
    */
  def streamSpatialJoin(s: SparkSession, dir: String): DataFrame = {
    val p = points(s, dir)
    graft.streaming.Streams.streamingSpatialEnrich(s, p,
        p.filter(col("id") % 61 === 0), r = 200L,
        queryName = "stream_spatial_join")
      .orderBy(col("id"), col("ref_id"))
  }

  /** T31: hashing-trick vectorizer — token counts folded into a fixed
    * 64-bucket space by the portable 48-bit md5 hash; the fixed-width
    * sparse feature vector a downstream linear model consumes with zero
    * vocabulary state (collisions are the accepted contract of the
    * trick). One explode + one hash aggregate; panel doc_id%97 keeps the
    * gate output bounded — production emits all docs.
    */
  def textFeatureHash(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "documents")
      .filter(col("doc_id") % 97 === 0)
      .select(col("doc_id"), explode(split(col("text"), " ")).as("tok"))
      .filter(col("tok") =!= "")
      .select(col("doc_id"),
        (graft.sketches.Kmv.hash48(col("tok")) % 64).as("bucket"))
      .groupBy(col("doc_id"), col("bucket"))
      .agg(count(lit(1)).as("cnt"))
      .orderBy(col("doc_id"), col("bucket"))

  /** R164: smoothed target encoding — category → (Σ target + m·prior)
    * div (n + m) with the global mean as prior (m=100), the standard
    * leakage-safe categorical feature; exact integer cents end to end.
    */
  def qTargetEncode(s: SparkSession, dir: String): DataFrame = {
    val o = t(s, dir, "orders").select(col("o_orderpriority").as("grp"),
      cents(col("o_totalprice")).as("v"))
    val prior = o.agg(expr("sum(v) div count(1)").as("__p"))
    o.groupBy(col("grp"))
      .agg(sum(col("v")).as("sv"), count(lit(1)).as("n"))
      .crossJoin(broadcast(prior))
      .select(col("grp"), col("n"),
        expr("(sv + 100 * __p) div (n + 100)").as("enc_cents"))
      .orderBy(col("grp"))
  }

  /** R165: GROUP-aware dataset split — the 80/10/10 assignment happens at
    * the USER level (h48(user) → bucket), so every event of a user lands
    * in one split: the leakage control the per-row split (R47) cannot
    * give. Report: per split, distinct users and event rows.
    */
  def qGroupSplit(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "events")
      .withColumn("__h", graft.sketches.Kmv.hash48(col("user_id")))
      .withColumn("__bucket",
        expr(s"(__h * 10) div ${graft.sketches.Kmv.HashRange}"))
      .select(col("user_id"),
        when(col("__bucket") < 8, "train")
          .when(col("__bucket") === 8, "val").otherwise("test").as("split"))
      .groupBy(col("split"))
      .agg(countDistinct(col("user_id")).as("n_users"),
        count(lit(1)).as("n_events"))
      .orderBy(col("split"))

  /** X38: streaming centroid update — the first Lloyd pass of D19 as
    * vectors arrive; drained snapshot ≡ the batch c1 table bit-for-bit.
    */
  def streamKmeansUpdate(s: SparkSession, dir: String): DataFrame = {
    val e = t(s, dir, "embeddings")
    graft.streaming.Streams.streamingKmeansUpdateSeeded(s,
        e.select(col("vec_id"), col("embedding")),
        graft.similarity.KMeans.seedsTopK(e, col("vec_id"), k = 10),
        queryName = "stream_kmeans_update")
      .orderBy(col("cid"), col("dim"))
  }

  /** S15: IVF top-k over the TRAINED exact k-means index — the D19 loop
    * closed into similarity search; probes 3 of 10 partitions, exact
    * integer L2 re-rank.
    */
  def annIvfKmeansTopk(s: SparkSession, dir: String): DataFrame =
    graft.similarity.KMeans.ivfTopKMilliK(t(s, dir, "embeddings"),
        col("vec_id"), col("embedding"), centroids = 10, iterations = 2,
        queryFilter = col("vec_id") < 10, k = 5, nprobe = 3)
      .orderBy(col("query_id"), col("rnk"))

  /** M8: FLAC STREAMINFO decode (see
    * [[graft.multimodal.FlacHeader]]) — synthesized fLaC containers
    * (rate/channel/bps/sample-count fields from the doc id, packed into
    * the spec's 64-bit STREAMINFO field); the oracle recomputes the
    * expected fields from the id alone.
    */
  def mmFlacMeta(s: SparkSession, dir: String): DataFrame = {
    val d = t(s, dir, "documents").select(col("doc_id"))
    val sr = expr("""CASE doc_id % 4 WHEN 0 THEN 44100 WHEN 1 THEN 48000
                    |WHEN 2 THEN 96000 ELSE 22050 END""".stripMargin)
    val ch = col("doc_id") % 2 + 1
    val bps = expr("CASE doc_id % 3 WHEN 0 THEN 8 WHEN 1 THEN 16 ELSE 24 END")
    val total = col("doc_id") * 1000L + 7L
    val packed = shiftleft(sr.cast("long"), 44) +
      shiftleft((ch - 1).cast("long"), 41) +
      shiftleft((bps - 1).cast("long"), 36) + total
    val payload = unhex(concat(
      lit("664c614300000022" + "1000" + "1000" + "000000" + "000000"),
      lpad(hex(packed), 16, "0"), lit("00" * 16)))
    d.withColumn("meta", graft.multimodal.FlacHeader.flac_meta(payload))
      .select(col("doc_id"), col("meta.format").as("format"),
        col("meta.sample_rate").cast("long").as("sample_rate"),
        col("meta.channels").cast("long").as("channels"),
        col("meta.bits_per_sample").cast("long").as("bits_per_sample"),
        col("meta.n_samples").as("n_samples"))
      .orderBy(col("doc_id"))
  }

  /** R166: time-respecting reachability over the order contact graph —
    * earliest arrival from the seed watchlist within 3 hops; edges fire
    * at their order day and influence only flows forward in time.
    */
  def graphTemporalReach(s: SparkSession, dir: String): DataFrame = {
    val e0 = contactTriples(s, dir)
    val edges = e0.select(col("c").as("src"), col("p").as("dst"), col("t"))
      .unionAll(e0.select(col("p").as("src"), col("c").as("dst"), col("t")))
    val seeds = s.range(1, 4).select(col("id").as("node"))
    graft.operators.TemporalGraph.earliestArrival(edges, seeds, rounds = 3)
      .orderBy(col("seed"), col("node"))
  }

  /** R167: token-bucket rate-limit replay — per-user bucket of 5 tokens
    * (5000 milli), 2 milli/s refill, 1 token per event; the exact audit
    * of "what would this quota have admitted".
    */
  def qRateLimit(s: SparkSession, dir: String): DataFrame =
    graft.operators.RateLimit.tokenBucket(
        t(s, dir, "events").select(col("user_id"), col("event_id"),
          unix_timestamp(col("ts").cast("timestamp")).as("ts_sec")),
        col("user_id"), col("event_id"), col("ts_sec"),
        capMilli = 5000L, refillMilli = 2L, costMilli = 1000L)
      .select(col("key").as("user_id"), col("id").as("event_id"),
        col("ts_sec"), col("admitted"), col("tokens_milli"))
      .orderBy(col("user_id"), col("ts_sec"), col("event_id"))

  /** R168: functional-dependency audit — does determinant → dependent
    * hold, and over how many violating determinant values; the schema
    * check behind key discovery and denormalization safety.
    */
  def dqFdCheck(s: SparkSession, dir: String): DataFrame = {
    val e = t(s, dir, "events")
    def fd(name: String, det: org.apache.spark.sql.Column,
           dep: org.apache.spark.sql.Column): DataFrame =
      e.groupBy(det.as("__d")).agg(countDistinct(dep).as("nv"))
        .agg(count(lit(1)).as("n_det"),
          sum(when(col("nv") > 1, 1L).otherwise(0L)).as("n_violating"))
        .select(lit(name).as("fd"), col("n_det"), col("n_violating"),
          (col("n_violating") === 0).as("holds"))
    fd("event_id->event_type", col("event_id"), col("event_type"))
      .unionByName(fd("user_id->event_type", col("user_id"), col("event_type")))
      .unionByName(fd("event_type->user_id", col("event_type"), col("user_id")))
      .orderBy(col("fd"))
  }

  /** X39: streaming token-bucket enforcement — R167 live, appended
    * decisions ≡ the batch replay under per-key ordered delivery;
    * shares the batch recursive-CTE oracle verbatim.
    */
  def streamRateLimit(s: SparkSession, dir: String): DataFrame =
    graft.streaming.Streams.streamingRateLimit(s,
        t(s, dir, "events").select(col("user_id").as("key"),
          col("event_id").as("id"),
          unix_timestamp(col("ts").cast("timestamp")).as("ts_sec")),
        capMilli = 5000L, refillMilli = 2L, costMilli = 1000L,
        queryName = "stream_rate_limit")
      .select(col("key").as("user_id"), col("id").as("event_id"),
        col("ts_sec"), col("admitted"), col("tokens_milli"))
      .orderBy(col("user_id"), col("ts_sec"), col("event_id"))

  /** T32 (eval): language-ID confusion matrix — T2's heuristic scored
    * against the corpus's labeled language; the quality loop the
    * langid gate alone can't close.
    */
  def textLangidConfusion(s: SparkSession, dir: String): DataFrame =
    QueriesData.textLangid(s, dir)
      .join(t(s, dir, "documents").select(col("doc_id"),
        col("lang").as("lang_true")), Seq("doc_id"))
      .groupBy(col("lang_true"), col("lang_pred"))
      .agg(count(lit(1)).as("n"))
      .orderBy(col("lang_true"), col("lang_pred"))

  /** R169: latest-departure reachability toward a supplier watchlist —
    * the recovery-planning mirror of R166 (how late can each party still
    * start and reach the target in time).
    */
  def graphTemporalLatest(s: SparkSession, dir: String): DataFrame = {
    val e0 = contactTriples(s, dir)
    val edges = e0.select(col("c").as("src"), col("p").as("dst"), col("t"))
      .unionAll(e0.select(col("p").as("src"), col("c").as("dst"), col("t")))
    val targets = s.range(1000001L, 1000004L).select(col("id").as("node"))
    graft.operators.TemporalGraph.latestDeparture(edges, targets,
        rounds = 3, horizon = 30000L)
      .orderBy(col("target"), col("node"))
  }

  /** R170 (dq): exact-duplicate rate per source — the corpus-health
    * metric behind mixture decisions (a source that is 30% self-copies
    * contributes less novelty than its row count claims).
    */
  def dedupRateBySource(s: SparkSession, dir: String): DataFrame = {
    val d = t(s, dir, "documents").select(col("doc_id"), col("source"),
      graft.functions.TextFunctions.fingerprint(col("text")).as("h"))
    val sizes = d.groupBy(col("h")).agg(count(lit(1)).as("grp_n"))
    d.join(sizes, Seq("h"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("grp_n") > 1, 1L).otherwise(0L)).as("n_dup_docs"))
      .select(col("source"), col("n_docs"), col("n_dup_docs"),
        expr("n_dup_docs * 1000000 div n_docs").as("dup_ppm"))
      .orderBy(col("source"))
  }

  /** R171: Mondrian split-conformal coverage — per priority class, the
    * 90% distribution-free interval half-width from the calibration half
    * and its empirical coverage on the held-out half.
    */
  def qConformal(s: SparkSession, dir: String): DataFrame =
    graft.operators.Conformal.splitConformal(
        t(s, dir, "orders").select(col("o_orderpriority").as("grp"),
          col("o_totalprice"), col("o_orderkey")),
        Seq("grp"), cents(col("o_totalprice")), col("o_orderkey"),
        alphaPpm = 100000L)
      .orderBy(col("grp"))

  /** R172: linear-interpolation gap fill of the hourly per-user value
    * series — the smoother sibling of R28's forward fill, one exact
    * sign-carried division per gap row.
    */
  def qResampleInterp(s: SparkSession, dir: String): DataFrame = {
    val obs = t(s, dir, "events")
      .select(col("user_id"),
        expr("unix_micros(CAST(ts AS TIMESTAMP)) div 3600000000").as("hr"),
        round(col("value") * 100).cast("long").as("cents"))
      .groupBy(col("user_id"), col("hr")).agg(sum(col("cents")).as("v"))
    graft.operators.Resample.interpolate(obs, col("user_id"), col("hr"),
        col("v"))
      .select(col("key").as("user_id"), col("bucket").as("hr"),
        col("value"), col("interp"))
      .orderBy(col("user_id"), col("hr"))
  }

  /** C36: bitemporal as-of — "what did the warehouse BELIEVE at system
    * batch S about the state VALID at time V": C26's filtered max_by
    * with the two-axis predicate (sys_batch ≤ 59, valid_from ≤
    * 2024-01-16T08:53:20Z) and the (valid_from, sys_batch, id) total
    * order; no window sort, one aggregate.
    */
  def cdcBitemporal(s: SparkSession, dir: String): DataFrame = {
    val e = t(s, dir, "events").select(col("user_id"),
      unix_timestamp(col("ts").cast("timestamp")).as("valid_from"),
      (col("event_id") % 100).as("sys_batch"), col("event_id"),
      col("event_type"))
    graft.cdc.Cdc.asOfSnapshot(e, Seq("user_id"),
        Seq("valid_from", "sys_batch", "event_id"),
        col("valid_from") <= 1705400000L && col("sys_batch") <= 59)
      .select(col("user_id"), col("valid_from"), col("sys_batch"),
        col("event_type"))
      .orderBy(col("user_id"))
  }

  /** T33: keyword-in-context concordance — every occurrence of the term
    * with its ±20-char window, the corpus-exploration staple; positions
    * via a higher-order filter over the index sequence (codegen'd, no
    * UDF), one generator per match.
    */
  def textConcordance(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "documents")
      .select(col("doc_id"), col("text"),
        expr("""filter(sequence(1, greatest(length(text) - 4, 0)),
               |  i -> substr(text, i, 5) = 'query')""".stripMargin)
          .as("ps"))
      .filter(size(col("ps")) > 0)
      .select(col("doc_id"), explode(col("ps")).as("pos"), col("text"))
      .select(col("doc_id"), col("pos").cast("long").as("pos"),
        expr("substr(text, greatest(1, pos - 20), 45)").as("context"))
      .orderBy(col("doc_id"), col("pos"))

  /** R174: rich-club coefficient of the co-purchase graph — how
    * completely are the hub parts wired to EACH OTHER, per degree
    * threshold; the structural companion of R135's assortativity.
    */
  def graphRichClub(s: SparkSession, dir: String): DataFrame =
    graft.operators.Graph.richClub(
      QueriesR6.coPurchaseEdges(s, dir),
      ks = Seq(8L, 16L, 32L, 64L))

  /** R173: binary-segmentation changepoint of the daily order-count
    * series per priority class — WHERE the series breaks, with segment
    * means; CUSUM's (R61) localizing sibling.
    */
  def qChangepointSplit(s: SparkSession, dir: String): DataFrame = {
    val series = t(s, dir, "orders")
      .groupBy(col("o_orderpriority").as("grp"),
        expr("unix_micros(CAST(o_orderdate AS TIMESTAMP)) div 86400000000")
          .as("day"))
      .agg(count(lit(1)).as("x"))
    graft.operators.Changepoint.binarySegment(series, col("grp"),
        col("day"), col("x"))
      .withColumnRenamed("key", "grp")
      .orderBy(col("grp"))
  }

  /** R175: exact 4-cycle census of the co-purchase graph — the
    * bipartite-ish clustering motif triangles can't see; one scalar row.
    */
  def graphSquares(s: SparkSession, dir: String): DataFrame =
    graft.operators.Graph.squareCount(
      QueriesR6.coPurchaseEdges(s, dir))

  /** R176: peak concurrent sessions per event type — sweep line over
    * [ts, ts+1800) session intervals; the capacity-planning number.
    */
  def qMaxConcurrency(s: SparkSession, dir: String): DataFrame = {
    val base = t(s, dir, "events").select(col("event_type"),
      unix_timestamp(col("ts").cast("timestamp")).as("ts_sec"))
    graft.operators.Intervals.peakConcurrency(base, col("event_type"),
        col("ts_sec"), col("ts_sec") + 1800L)
      .orderBy(col("grp"))
  }

  /** R177: two-level changepoint hierarchy — R173 applied recursively:
    * the top split, then each half re-segmented (keys with interior
    * splits only); the standard binary-segmentation tree cut at depth 2.
    */
  def qChangepointMulti(s: SparkSession, dir: String): DataFrame = {
    val series = t(s, dir, "orders")
      .groupBy(col("o_orderpriority").as("grp"),
        expr("unix_micros(CAST(o_orderdate AS TIMESTAMP)) div 86400000000")
          .as("day"))
      .agg(count(lit(1)).as("x"))
    val top = graft.operators.Changepoint.binarySegment(series, col("grp"),
        col("day"), col("x"))
      .select(col("key").as("grp"), col("split_pos"))
    val tagged = series.join(top, Seq("grp"))
      .withColumn("seg", when(col("day") <= col("split_pos"), "L")
        .otherwise("R"))
    val sub = graft.operators.Changepoint.binarySegment(
        tagged.withColumn("k2", concat(col("grp"), lit("|"), col("seg"))),
        col("k2"), col("day"), col("x"))
    sub
      .withColumn("grp", split(col("key"), "\\|").getItem(0))
      .withColumn("seg", split(col("key"), "\\|").getItem(1))
      .select(col("grp"), col("seg"), col("n"), col("split_pos"),
        col("score"), col("mean_left_milli"), col("mean_right_milli"))
      .orderBy(col("grp"), col("seg"))
  }

  /** D20 (dq): embedding centroid drift — per label, the exact squared
    * L2 distance between the milli centroids of the even and odd vec_id
    * halves; the "did this class's embedding distribution move between
    * snapshots" monitor.
    */
  def embedDrift(s: SparkSession, dir: String): DataFrame = {
    val flat = t(s, dir, "embeddings")
      .select(col("label").cast("long").as("label"), col("vec_id"),
        posexplode(col("embedding")))
      .select(col("label"), (col("vec_id") % 2 === 0).as("side"),
        col("pos").as("i"),
        floor(col("col").cast("double") * 1000).cast("long").as("x"))
    val cent = flat.groupBy(col("label"), col("side"), col("i"))
      .agg(sum(col("x")).as("s"), count(lit(1)).as("n"))
      .select(col("label"), col("side"), col("i"),
        expr("""CASE WHEN s >= 0 THEN s div n
               |ELSE -((-s) div n) END""".stripMargin).as("c"))
    cent.filter(col("side"))
      .select(col("label"), col("i"), col("c").as("ca"))
      .join(cent.filter(!col("side"))
        .select(col("label"), col("i"), col("c").as("cb")), Seq("label", "i"))
      .groupBy(col("label"))
      .agg(sum((col("ca") - col("cb")) * (col("ca") - col("cb")))
        .as("shift_sq"))
      .orderBy(col("label"))
  }

  /** R178: hash-coin independent cascade from the customer watchlist
    * over the order contact graph — who gets reached, and in how many
    * hops, when each contact edge transmits with probability 0.3.
    */
  def graphCascade(s: SparkSession, dir: String): DataFrame = {
    val e0 = contactPairs(s, dir)
    val edges = e0.select(col("c").as("src"), col("p").as("dst"))
      .unionAll(e0.select(col("p").as("src"), col("c").as("dst")))
    val seeds = s.range(1, 4).select(col("id").as("node"))
    graft.operators.Graph.independentCascade(edges, seeds,
        pPpm = 300000L, rounds = 3)
      .orderBy(col("node"))
  }

  /** R179: two Borůvka phases of the minimum spanning forest over
    * co-purchase DISSIMILARITY (10⁶ div shared-order count) — the
    * single-linkage backbone of the part-similarity structure.
    */
  def graphMsf(s: SparkSession, dir: String): DataFrame = {
    val weighted = QueriesR6.coPurchaseWeighted(s, dir)
      .withColumnRenamed("w", "n")
      .select(col("src"), col("dst"), expr("1000000 div n").as("w"))
    graft.operators.Graph.boruvkaForest(weighted, phases = 2)
      .orderBy(col("a"), col("b"))
  }

  /** R180: single-linkage clusters = the MSF cut at a dissimilarity
    * threshold — drop forest edges with w > τ (weakest links), the
    * surviving components ARE the single-linkage clustering at τ; CC on
    * the (tiny) forest, labels joined back to every node.
    */
  def graphMsfClusters(s: SparkSession, dir: String): DataFrame = {
    val weighted = QueriesR6.coPurchaseWeighted(s, dir)
      .withColumnRenamed("w", "n")
      .select(col("src"), col("dst"), expr("1000000 div n").as("w"))
    val forest = graft.operators.Graph.boruvkaForest(weighted, phases = 2)
      .filter(col("w") <= 500000L)
    val nodes = weighted.select(col("src").as("node"))
      .unionAll(weighted.select(col("dst").as("node"))).distinct()
    val cc = graft.dedup.Dedup.connectedComponentsStar(
      forest.select(col("a").as("id_a"), col("b").as("id_b")))
    nodes.join(cc.select(col("doc_id").as("node"),
        col("cluster_id")), Seq("node"), "left")
      .select(col("node"), coalesce(col("cluster_id"), col("node"))
        .as("cluster_id"))
      .orderBy(col("node"))
  }

  /** S16: recall@5 of the trained-k-means IVF against brute-force milli
    * kNN — the eval loop for S15 (R137's posture: a retrieval path
    * ships with its quality number); one row per query + the mean.
    */
  def annIvfRecall(s: SparkSession, dir: String): DataFrame = {
    val ivf = annIvfKmeansTopk(s, dir)
      .select(col("query_id"), col("cand_id"))
    val e = t(s, dir, "embeddings")
    val flat = e.select(col("vec_id"), posexplode(col("embedding")))
      .select(col("vec_id"), col("pos").as("i"),
        floor(col("col").cast("double") * 1000).cast("long").as("x"))
    val q = flat.filter(col("vec_id") < 10)
      .select(col("vec_id").as("query_id"), col("i"), col("x").as("xq"))
    val brute = q.join(flat.select(col("vec_id").as("cand_id"), col("i"),
          col("x").as("xc")), Seq("i"))
      .filter(col("query_id") =!= col("cand_id"))
      .groupBy(col("query_id"), col("cand_id"))
      .agg(sum((col("xq") - col("xc")) * (col("xq") - col("xc"))).as("d"))
      .withColumn("rn", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy(col("query_id"))
          .orderBy(col("d"), col("cand_id"))))
      .filter(col("rn") <= 5)
      .select(col("query_id"), col("cand_id"))
    brute.join(ivf.withColumn("hit", lit(1L)),
        Seq("query_id", "cand_id"), "left")
      .groupBy(col("query_id"))
      .agg(expr("coalesce(sum(hit), 0) * 1000000 div 5").as("recall_ppm"))
      .orderBy(col("query_id"))
  }

  /** X40: streaming embedding-drift monitor — D20 live from
    * order-independent (label, side, dim) sums; shares the batch oracle.
    */
  def streamEmbedDrift(s: SparkSession, dir: String): DataFrame =
    graft.streaming.Streams.streamingEmbedDrift(s,
        t(s, dir, "embeddings").select(col("label"), col("vec_id"),
          col("embedding")),
        queryName = "stream_embed_drift")
      .orderBy(col("label"))

  /** R181: per-candidate cascade reach — which watchlist account would
    * spread furthest at p=0.3 within 3 hops; one pass for the panel.
    */
  def graphInfluenceRank(s: SparkSession, dir: String): DataFrame = {
    val e0 = contactPairs(s, dir)
    val edges = e0.select(col("c").as("src"), col("p").as("dst"))
      .unionAll(e0.select(col("p").as("src"), col("c").as("dst")))
    val seeds = s.range(1, 6).select(col("id").as("node"))
    graft.operators.Graph.cascadeReach(edges, seeds,
        pPpm = 300000L, rounds = 3)
      .orderBy(col("seed"))
  }

  /** R182: Lindley queue-wait replay — per event type, the wait each
    * event would suffer behind a 600-second single server; the
    * deterministic capacity what-if on real arrivals.
    */
  def qQueueWait(s: SparkSession, dir: String): DataFrame = {
    val keyed = t(s, dir, "events").select(
      graft.sketches.Kmv.hash48(col("event_type")).as("key_id"),
      col("event_type"), col("event_id"),
      unix_timestamp(col("ts").cast("timestamp")).as("ts_sec"))
    graft.operators.Queueing.lindleyWait(keyed, col("key_id"),
        col("event_id"), col("ts_sec"), serviceSec = 600L)
      .join(keyed.select(col("key_id").as("key"), col("event_type"))
        .distinct(), Seq("key"))
      .select(col("event_type"), col("id").as("event_id"), col("ts_sec"),
        col("wait_sec"))
      .orderBy(col("event_type"), col("ts_sec"), col("event_id"))
  }

  /** R183: edge embeddedness — per co-purchase edge, how many common
    * neighbors its endpoints share (Granovetter: embeddedness 0 = a
    * LOCAL BRIDGE, the weak tie that alone connects two social
    * neighborhoods); top-200 strongest-embedded edges under a total
    * order. r7: re-expressed through [[graft.operators.Graph
    * .edgeSupport]]'s adjacency-intersection (the R63 trick) — the
    * node-centered wedge aggregate this replaces materialized and
    * shuffled EVERY wedge of the graph (Σ deg² rows; 65 s in the r7
    * full-gate bench, now ~4 s), for identical counts.
    */
  def graphEmbeddedness(s: SparkSession, dir: String): DataFrame =
    graft.operators.Graph.edgeSupport(QueriesR6.coPurchaseEdges(s, dir))
      .select(col("a"), col("b"), col("support").as("embeddedness"))
      .orderBy(col("embeddedness").desc, col("a"), col("b"))
      .limit(200)

  /** R184: difference-in-differences — the textbook two-group two-period
    * causal baseline in exact cents: did = (T₂−T₁) − (C₂−C₁) over
    * sign-carried integer means; treated = URGENT+HIGH priorities,
    * periods split at 1995-01-01.
    */
  def qDiffInDiff(s: SparkSession, dir: String): DataFrame = {
    val o = t(s, dir, "orders").select(
      (col("o_orderpriority").isin("1-URGENT", "2-HIGH")).as("treated"),
      (expr("unix_micros(CAST(o_orderdate AS TIMESTAMP))") >=
        lit(788918400000000L)).as("late"),
      cents(col("o_totalprice")).as("v"))
    val cells = o.groupBy(col("treated"), col("late"))
      .agg(sum(col("v")).as("s"), count(lit(1)).as("n"))
      .withColumn("m", expr("""CASE WHEN s >= 0 THEN s div n
                              |ELSE -((-s) div n) END""".stripMargin))
    val wide = cells
      .groupBy()
      .agg(
        max(when(col("treated") && col("late"), col("m"))).as("t2"),
        max(when(col("treated") && !col("late"), col("m"))).as("t1"),
        max(when(!col("treated") && col("late"), col("m"))).as("c2"),
        max(when(!col("treated") && !col("late"), col("m"))).as("c1"),
        sum(col("n")).as("n_total"))
    wide.select(col("n_total"), col("t1"), col("t2"), col("c1"), col("c2"),
      ((col("t2") - col("t1")) - (col("c2") - col("c1"))).as("did_cents"))
  }

  /** X41: streaming queue-wait monitor — R182 live, appended waits ≡
    * the batch replay under per-key ordered delivery; shared oracle.
    */
  def streamQueueWait(s: SparkSession, dir: String): DataFrame = {
    val keyed = t(s, dir, "events").select(
      graft.sketches.Kmv.hash48(col("event_type")).as("key"),
      col("event_type"), col("event_id").as("id"),
      unix_timestamp(col("ts").cast("timestamp")).as("ts_sec"))
    graft.streaming.Streams.streamingQueueWait(s,
        keyed.select(col("key"), col("id"), col("ts_sec")),
        serviceSec = 600L, queryName = "stream_queue_wait")
      .join(keyed.select(col("key"), col("event_type")).distinct(),
        Seq("key"))
      .select(col("event_type"), col("id").as("event_id"), col("ts_sec"),
        col("wait_sec"))
      .orderBy(col("event_type"), col("ts_sec"), col("event_id"))
  }

  /** R185: cohort LTV curve — per first-order-month cohort and months of
    * age: customers, period and CUMULATIVE revenue, and cumulative
    * revenue per cohort customer in exact cents; the "how much is a
    * January customer worth by month 6" table.
    */
  def qCohortLtv(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val o = t(s, dir, "orders").select(col("o_custkey"),
      expr("""(year(CAST(o_orderdate AS TIMESTAMP)) * 12
             | + month(CAST(o_orderdate AS TIMESTAMP))) - 1""".stripMargin)
        .as("m"),
      cents(col("o_totalprice")).as("v"))
    val cohort = o.groupBy(col("o_custkey")).agg(min(col("m")).as("cm"))
    val sized = cohort.groupBy(col("cm")).agg(count(lit(1)).as("n_customers"))
    val per = o.join(cohort, Seq("o_custkey"))
      .groupBy(col("cm"), (col("m") - col("cm")).as("age"))
      .agg(sum(col("v")).as("rev"))
    val w = Window.partitionBy(col("cm")).orderBy(col("age"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    per.withColumn("cum_rev", sum(col("rev")).over(w))
      .join(sized, Seq("cm"))
      .select(col("cm").as("cohort_month"), col("age"), col("n_customers"),
        col("rev").as("rev_cents"), col("cum_rev").as("cum_rev_cents"),
        expr("cum_rev div n_customers").as("ltv_cents"))
      .orderBy(col("cohort_month"), col("age"))
  }

  /** R186: fastest-journey durations over the order contact graph —
    * minimum transit time (not earliest arrival) from the watchlist
    * within 3 hops; exact via per-start earliest-arrival labels.
    */
  def graphTemporalFastest(s: SparkSession, dir: String): DataFrame = {
    val e0 = contactTriples(s, dir)
    val edges = e0.select(col("c").as("src"), col("p").as("dst"), col("t"))
      .unionAll(e0.select(col("p").as("src"), col("c").as("dst"), col("t")))
    val seeds = s.range(1, 4).select(col("id").as("node"))
    graft.operators.TemporalGraph.fastestJourney(edges, seeds, rounds = 3)
      .orderBy(col("seed"), col("node"))
  }

  /** R187: greedy influence-maximization marginal step — with the best
    * watchlist account fixed, each other candidate's ADDED reach; set
    * additivity of the deterministic cascade makes it a label-set union.
    */
  def graphInfluenceGreedy(s: SparkSession, dir: String): DataFrame = {
    val e0 = contactPairs(s, dir)
    val edges = e0.select(col("c").as("src"), col("p").as("dst"))
      .unionAll(e0.select(col("p").as("src"), col("c").as("dst")))
    val seeds = s.range(1, 6).select(col("id").as("node"))
    graft.operators.Graph.influenceGreedyStep(edges, seeds,
        pPpm = 300000L, rounds = 3)
      .orderBy(col("seed"))
  }

  /** R188: greedy k-center exemplars on the co-purchase graph — 3
    * maximally-spread parts under 2-hop distance; the diversity-pick
    * primitive behind coverage-driven curation.
    */
  def graphKCenter(s: SparkSession, dir: String): DataFrame =
    graft.operators.Graph.kCenterGreedy(
        QueriesR6.coPurchaseEdges(s, dir),
        k = 3, rounds = 2)
      .orderBy(col("pick_order"))

  /** R189: geometric adstock of the per-user event-value stream —
    * carryover pressure at λ=0.7, the marketing-mix transform whose
    * stacking (unlike EWMA's blend) is the modeled effect.
    */
  def qAdstock(s: SparkSession, dir: String): DataFrame =
    graft.operators.Changepoint.adstock(
        t(s, dir, "events").select(col("user_id"), col("event_id"),
          unix_timestamp(col("ts").cast("timestamp")).as("ts_sec"),
          round(col("value") * 100).cast("long").as("cents")),
        col("user_id"), col("event_id"), col("ts_sec"), col("cents"),
        lambdaPpm = 700000L)
      .select(col("key").as("user_id"), col("id").as("event_id"),
        col("ts_sec"), col("x").as("cents"), col("adstock_milli"))
      .orderBy(col("user_id"), col("ts_sec"), col("event_id"))

  /** R190: coverage profile of the R188 exemplars — nodes per
    * distance-to-nearest-center, uncovered counted at rounds+1.
    */
  def graphKCenterCoverage(s: SparkSession, dir: String): DataFrame =
    graft.operators.Graph.kCenterCoverage(
        QueriesR6.coPurchaseEdges(s, dir),
        k = 3, rounds = 2)
      .orderBy(col("dist"))

  /** X42: streaming adstock — R189 live, appended levels ≡ the batch
    * walk under per-key ordered delivery; shares the batch oracle.
    */
  def streamAdstock(s: SparkSession, dir: String): DataFrame =
    graft.streaming.Streams.streamingAdstock(s,
        t(s, dir, "events").select(col("user_id").as("key"),
          col("event_id").as("id"),
          unix_timestamp(col("ts").cast("timestamp")).as("ts_sec"),
          round(col("value") * 100).cast("long").as("x")),
        lambdaPpm = 700000L, queryName = "stream_adstock")
      .select(col("key").as("user_id"), col("id").as("event_id"),
        col("ts_sec"), col("x").as("cents"), col("adstock_milli"))
      .orderBy(col("user_id"), col("ts_sec"), col("event_id"))

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_spatial_radius_join" -> (qSpatialRadiusJoin _),
    "q_spatial_knn" -> (qSpatialKnn _),
    "q_spatial_cluster" -> (qSpatialCluster _),
    "q_kmeans_cluster" -> (qKmeansCluster _),
    "q_silhouette" -> (qSilhouette _),
    "q_markov_stationary" -> (qMarkovStationary _),
    "q_quantile_normalize" -> (qQuantileNormalize _),
    "dq_l_diversity" -> (dqLDiversity _),
    "q_trimmed_mean" -> (qTrimmedMean _),
    "stream_spatial_join" -> (streamSpatialJoin _),
    "text_feature_hash" -> (textFeatureHash _),
    "q_target_encode" -> (qTargetEncode _),
    "q_group_split" -> (qGroupSplit _),
    "stream_kmeans_update" -> (streamKmeansUpdate _),
    "ann_ivf_kmeans_topk" -> (annIvfKmeansTopk _),
    "mm_flac_meta" -> (mmFlacMeta _),
    "graph_temporal_reach" -> (graphTemporalReach _),
    "q_rate_limit" -> (qRateLimit _),
    "dq_fd_check" -> (dqFdCheck _),
    "stream_rate_limit" -> (streamRateLimit _),
    "text_langid_confusion" -> (textLangidConfusion _),
    "graph_temporal_latest" -> (graphTemporalLatest _),
    "dedup_rate_by_source" -> (dedupRateBySource _),
    "q_conformal" -> (qConformal _),
    "q_resample_interp" -> (qResampleInterp _),
    "cdc_bitemporal" -> (cdcBitemporal _),
    "text_concordance" -> (textConcordance _),
    "graph_rich_club" -> (graphRichClub _),
    "q_changepoint_split" -> (qChangepointSplit _),
    "graph_squares" -> (graphSquares _),
    "q_max_concurrency" -> (qMaxConcurrency _),
    "q_changepoint_multi" -> (qChangepointMulti _),
    "embed_drift" -> (embedDrift _),
    "graph_cascade" -> (graphCascade _),
    "graph_msf" -> (graphMsf _),
    "graph_msf_clusters" -> (graphMsfClusters _),
    "ann_ivf_recall" -> (annIvfRecall _),
    "stream_embed_drift" -> (streamEmbedDrift _),
    "graph_influence_rank" -> (graphInfluenceRank _),
    "q_queue_wait" -> (qQueueWait _),
    "graph_embeddedness" -> (graphEmbeddedness _),
    "q_diff_in_diff" -> (qDiffInDiff _),
    "stream_queue_wait" -> (streamQueueWait _),
    "q_cohort_ltv" -> (qCohortLtv _),
    "graph_temporal_fastest" -> (graphTemporalFastest _),
    "graph_influence_greedy" -> (graphInfluenceGreedy _),
    "graph_k_center" -> (graphKCenter _),
    "q_adstock" -> (qAdstock _),
    "graph_k_center_coverage" -> (graphKCenterCoverage _),
    "stream_adstock" -> (streamAdstock _))

  val sql: Map[String, String] = Map(
    "q_spatial_radius_join" ->
      s"""WITH p AS ($pointsSql)
         |SELECT a.id AS id_a, b.id AS id_b,
         |  CAST((a.x-b.x)*(a.x-b.x) + (a.y-b.y)*(a.y-b.y) AS BIGINT) AS dist_sq
         |FROM p a JOIN p b ON a.id < b.id
         |WHERE (a.x-b.x)*(a.x-b.x) + (a.y-b.y)*(a.y-b.y) <= 625
         |ORDER BY id_a, id_b""".stripMargin,
    "q_spatial_knn" ->
      s"""WITH p AS ($pointsSql),
         |q AS (SELECT * FROM p WHERE id % 97 = 0),
         |scored AS (
         |  SELECT q.id AS query_id, c.id AS cand_id,
         |    (q.x-c.x)*(q.x-c.x) + (q.y-c.y)*(q.y-c.y) AS dist_sq
         |  FROM q JOIN p c ON c.id <> q.id
         |  WHERE (q.x-c.x)*(q.x-c.x) + (q.y-c.y)*(q.y-c.y) <= 10000
         |)
         |SELECT query_id, cand_id, CAST(dist_sq AS BIGINT) AS dist_sq,
         |  CAST(rnk AS BIGINT) AS rnk
         |FROM (SELECT query_id, cand_id, dist_sq,
         |        ROW_NUMBER() OVER (PARTITION BY query_id
         |          ORDER BY dist_sq, cand_id) AS rnk
         |      FROM scored) t
         |WHERE rnk <= 5 ORDER BY query_id, rnk""".stripMargin,
    "q_spatial_cluster" ->
      s"""WITH RECURSIVE p AS (
         |  SELECT id, x // 50 AS gx, y // 50 AS gy FROM ($pointsSql) pt
         |), dense AS (
         |  SELECT gx, gy, gx * 1048576 + gy AS cell
         |  FROM p GROUP BY gx, gy HAVING COUNT(*) >= 3
         |), edges AS (
         |  SELECT a.cell AS ca, b.cell AS cb FROM dense a JOIN dense b
         |  ON abs(a.gx - b.gx) <= 1 AND abs(a.gy - b.gy) <= 1
         |    AND a.cell <> b.cell
         |), r(cell, anc) AS (
         |  SELECT cell, cell FROM dense
         |  UNION
         |  SELECT e.ca, r.anc FROM r JOIN edges e ON e.cb = r.cell
         |), reach AS (
         |  SELECT cell, MIN(anc) AS cluster_id FROM r GROUP BY cell
         |)
         |SELECT p.id AS id, re.cluster_id
         |FROM p
         |JOIN dense d ON d.gx = p.gx AND d.gy = p.gy
         |JOIN reach re ON re.cell = d.cell
         |ORDER BY id""".stripMargin,
    "q_kmeans_cluster" ->
      s"""WITH $kmeansCtes
         |SELECT vec_id, cid AS cluster_id FROM a2 ORDER BY vec_id""".stripMargin,
    "stream_kmeans_update" ->
      s"""WITH $kmeansCtes
         |SELECT cid, CAST(i AS BIGINT) AS dim, CAST(cx AS BIGINT) AS cx_milli
         |FROM c1 ORDER BY cid, dim""".stripMargin,
    "ann_ivf_kmeans_topk" ->
      s"""WITH $kmeansCtes, probes AS (
         |  SELECT vec_id AS query_id, cid FROM (
         |    SELECT vec_id, cid, ROW_NUMBER() OVER (PARTITION BY vec_id
         |      ORDER BY d, cid) AS rn
         |    FROM d2 WHERE vec_id < 10) t
         |  WHERE rn <= 3
         |), cands AS (
         |  SELECT p.query_id, a.vec_id AS cand_id
         |  FROM probes p JOIN a2 a ON a.cid = p.cid
         |  WHERE a.vec_id <> p.query_id
         |), dist AS (
         |  SELECT c.query_id, c.cand_id,
         |    SUM((fq.x - fc.x) * (fq.x - fc.x)) AS dist_sq
         |  FROM cands c
         |  JOIN flat fq ON fq.vec_id = c.query_id
         |  JOIN flat fc ON fc.vec_id = c.cand_id AND fc.i = fq.i
         |  GROUP BY 1, 2
         |)
         |SELECT query_id, cand_id, CAST(dist_sq AS BIGINT) AS dist_sq,
         |  CAST(rnk AS BIGINT) AS rnk
         |FROM (SELECT query_id, cand_id, dist_sq,
         |        ROW_NUMBER() OVER (PARTITION BY query_id
         |          ORDER BY dist_sq, cand_id) AS rnk
         |      FROM dist) t
         |WHERE rnk <= 5 ORDER BY query_id, rnk""".stripMargin,
    "q_silhouette" ->
      s"""WITH $kmeansCtes, sa AS (
         |  SELECT d2.vec_id, d2.cid, d2.d AS a FROM d2
         |  JOIN a2 ON a2.vec_id = d2.vec_id AND a2.cid = d2.cid
         |), sb AS (
         |  SELECT d2.vec_id, MIN(d2.d) AS b FROM d2
         |  JOIN a2 ON a2.vec_id = d2.vec_id AND a2.cid <> d2.cid
         |  GROUP BY d2.vec_id
         |), sil AS (
         |  SELECT sa.vec_id, sa.cid,
         |    CASE WHEN GREATEST(sa.a, sb.b) = 0 THEN 0
         |         WHEN sb.b >= sa.a
         |           THEN (sb.b - sa.a) * 1000000 // GREATEST(sa.a, sb.b)
         |         ELSE -((sa.a - sb.b) * 1000000 // GREATEST(sa.a, sb.b)) END AS s
         |  FROM sa JOIN sb ON sb.vec_id = sa.vec_id
         |)
         |SELECT cid AS cluster_id, CAST(COUNT(*) AS BIGINT) AS n,
         |  CAST(CASE WHEN SUM(s) >= 0 THEN SUM(s) // COUNT(*)
         |            ELSE -((-SUM(s)) // COUNT(*)) END AS BIGINT)
         |    AS mean_sil_ppm
         |FROM sil GROUP BY cid ORDER BY cluster_id""".stripMargin,
    "q_markov_stationary" -> {
      val rounds = (0 until 3).map { k =>
        s"""p${k + 1} AS (
           |  SELECT s.state,
           |    COALESCE(SUM(p$k.pi * t.p), 0) // 1000000 AS pi
           |  FROM states s
           |  LEFT JOIN tr t ON t.tt = s.state
           |  LEFT JOIN p$k ON p$k.state = t.f
           |  GROUP BY s.state
           |)""".stripMargin
      }.mkString(", ")
      s"""WITH e AS (
         |  SELECT user_id, event_id, event_type,
         |    CAST(floor(epoch(ts)) AS BIGINT) AS ts_sec
         |  FROM events
         |), m AS (
         |  SELECT event_type, lag(event_type) OVER w AS prev_type,
         |    ts_sec - lag(ts_sec) OVER w AS gap
         |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY event_id)
         |), c AS (
         |  SELECT prev_type AS f, event_type AS tt, COUNT(*) AS n
         |  FROM m WHERE prev_type IS NOT NULL AND gap <= 1800
         |  GROUP BY 1, 2
         |), states AS (
         |  SELECT f AS state FROM c UNION SELECT tt FROM c
         |), kern AS (
         |  SELECT f, tt, (n * 1000000) // SUM(n) OVER (PARTITION BY f) AS p
         |  FROM c
         |), dang AS (
         |  SELECT state AS f, state AS tt, 1000000 AS p FROM states
         |  WHERE state NOT IN (SELECT f FROM c)
         |), tr AS (
         |  SELECT f, tt, p FROM kern UNION ALL SELECT f, tt, p FROM dang
         |), p0 AS (
         |  SELECT state, 1000000 // (SELECT COUNT(*) FROM states) AS pi
         |  FROM states
         |), $rounds
         |SELECT state, CAST(pi AS BIGINT) AS pi_ppm FROM p3
         |ORDER BY state""".stripMargin
    },
    "text_feature_hash" ->
      """WITH tok AS (
        |  SELECT doc_id, unnest(str_split(text, ' ')) AS tok
        |  FROM documents WHERE doc_id % 97 = 0
        |)
        |SELECT doc_id,
        |  CAST(('0x' || substr(md5(tok), 1, 12)) AS BIGINT) % 64 AS bucket,
        |  CAST(COUNT(*) AS BIGINT) AS cnt
        |FROM tok WHERE tok <> ''
        |GROUP BY 1, 2 ORDER BY doc_id, bucket""".stripMargin,
    "q_target_encode" ->
      """WITH o AS (
        |  SELECT o_orderpriority AS grp,
        |    CAST(CAST(o_totalprice AS DECIMAL(12,2)) * 100 AS BIGINT) AS v
        |  FROM orders
        |), p AS (SELECT SUM(v) // COUNT(*) AS prior FROM o)
        |SELECT grp, CAST(COUNT(*) AS BIGINT) AS n,
        |  CAST((SUM(v) + 100 * (SELECT prior FROM p))
        |    // (COUNT(*) + 100) AS BIGINT) AS enc_cents
        |FROM o GROUP BY grp ORDER BY grp""".stripMargin,
    "q_group_split" ->
      """WITH u AS (
        |  SELECT user_id,
        |    (CAST(('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 12))
        |      AS BIGINT) * 10) // 281474976710656 AS b
        |  FROM events
        |)
        |SELECT CASE WHEN b < 8 THEN 'train' WHEN b = 8 THEN 'val'
        |            ELSE 'test' END AS split,
        |  CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users,
        |  CAST(COUNT(*) AS BIGINT) AS n_events
        |FROM u GROUP BY 1 ORDER BY split""".stripMargin,
    "dq_l_diversity" ->
      """WITH g AS (
        |  SELECT event_type, epoch_us(ts) // 86400000000 AS day,
        |    CAST(COUNT(DISTINCT props) AS BIGINT) AS n_vals
        |  FROM events GROUP BY 1, 2
        |)
        |SELECT event_type AS report_key, CAST(COUNT(*) AS BIGINT) AS n_groups,
        |  CAST(SUM(CASE WHEN n_vals < 3 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_low_div,
        |  CAST(MIN(n_vals) AS BIGINT) AS min_diversity
        |FROM g GROUP BY event_type ORDER BY report_key""".stripMargin,
    "q_trimmed_mean" ->
      """WITH b AS (
        |  SELECT o_orderpriority AS grp,
        |    CAST(CAST(o_totalprice AS DECIMAL(12,2)) * 100 AS BIGINT) AS v,
        |    o_orderkey AS id
        |  FROM orders
        |), r AS (
        |  SELECT grp, v,
        |    ROW_NUMBER() OVER (PARTITION BY grp ORDER BY v, id) AS r,
        |    COUNT(*) OVER (PARTITION BY grp) AS n
        |  FROM b
        |), kk AS (
        |  SELECT grp, v, r, n, (n * 100000) // 1000000 AS k FROM r
        |), a AS (
        |  SELECT grp, MAX(n) AS n, MAX(k) AS k,
        |    SUM(CASE WHEN r > k AND r <= n - k THEN v END) AS si,
        |    COUNT(CASE WHEN r > k AND r <= n - k THEN 1 END) AS ni,
        |    MAX(CASE WHEN r = k + 1 THEN v END) AS lo_v,
        |    MAX(CASE WHEN r = n - k THEN v END) AS hi_v
        |  FROM kk GROUP BY grp
        |)
        |SELECT grp, CAST(n AS BIGINT) AS n,
        |  CAST(CASE WHEN ni > 0 THEN
        |    CASE WHEN si >= 0 THEN si // ni ELSE -((-si) // ni) END
        |  END AS BIGINT) AS trim_mean,
        |  CAST(CASE WHEN ni > 0 THEN
        |    CASE WHEN si + k * lo_v + k * hi_v >= 0
        |      THEN (si + k * lo_v + k * hi_v) // n
        |      ELSE -((-(si + k * lo_v + k * hi_v)) // n) END
        |  END AS BIGINT) AS winsor_mean
        |FROM a ORDER BY grp""".stripMargin,
    "stream_spatial_join" ->
      s"""WITH p AS ($pointsSql)
         |SELECT a.id AS id, b.id AS ref_id,
         |  CAST((a.x-b.x)*(a.x-b.x) + (a.y-b.y)*(a.y-b.y) AS BIGINT) AS dist_sq
         |FROM p a JOIN p b ON b.id % 61 = 0
         |WHERE (a.x-b.x)*(a.x-b.x) + (a.y-b.y)*(a.y-b.y) <= 40000
         |ORDER BY id, ref_id""".stripMargin,
    // X39 shares its batch twin's oracle verbatim: streaming ≡ batch
    "stream_rate_limit" -> rateLimitSql,
    "q_rate_limit" -> rateLimitSql,
    "text_langid_confusion" ->
      s"""WITH pred AS (
         |${QueriesData.sql("text_langid")}
         |)
         |SELECT d.lang AS lang_true, p.lang_pred,
         |  CAST(COUNT(*) AS BIGINT) AS n
         |FROM pred p JOIN documents d USING (doc_id)
         |GROUP BY 1, 2 ORDER BY lang_true, lang_pred""".stripMargin,

    "dq_fd_check" -> {
      def one(name: String, det: String, dep: String) =
        s"""SELECT '$name' AS fd, CAST(COUNT(*) AS BIGINT) AS n_det,
           |  CAST(SUM(CASE WHEN nv > 1 THEN 1 ELSE 0 END) AS BIGINT)
           |    AS n_violating,
           |  SUM(CASE WHEN nv > 1 THEN 1 ELSE 0 END) = 0 AS holds
           |FROM (SELECT $det, COUNT(DISTINCT $dep) AS nv
           |      FROM events GROUP BY $det) t""".stripMargin
      s"""${one("event_id->event_type", "event_id", "event_type")}
         |UNION ALL
         |${one("user_id->event_type", "user_id", "event_type")}
         |UNION ALL
         |${one("event_type->user_id", "event_type", "user_id")}
         |ORDER BY fd""".stripMargin
    },
    "graph_temporal_fastest" -> {
      val rounds = (0 until 3).map { k =>
        s"""f${k + 1} AS (
           |  SELECT seed, start, node, MIN(arr) AS arr FROM (
           |    SELECT seed, start, node, arr FROM f$k
           |    UNION ALL
           |    SELECT r.seed, r.start, e.dst AS node, CAST(e.t AS BIGINT)
           |    FROM f$k r JOIN e ON e.src = r.node AND e.t >= r.arr
           |  ) u GROUP BY 1, 2, 3
           |)""".stripMargin
      }.mkString(", ")
      s"""WITH e0 AS (
         |  SELECT DISTINCT o_custkey AS c, l_suppkey + 1000000 AS p,
         |    epoch_us(o_orderdate) // 86400000000 AS t
         |  FROM orders JOIN lineitem ON l_orderkey = o_orderkey
         |), e AS (
         |  SELECT c AS src, p AS dst, t FROM e0
         |  UNION ALL SELECT p AS src, c AS dst, t FROM e0
         |), sd AS (SELECT unnest(generate_series(1, 3)) AS seed),
         |starts AS (
         |  SELECT DISTINCT sd.seed, CAST(e.t AS BIGINT) AS start
         |  FROM sd JOIN e ON e.src = sd.seed
         |), f0 AS (
         |  SELECT seed, start, seed AS node, start AS arr FROM starts
         |), $rounds
         |SELECT CAST(seed AS BIGINT) AS seed, CAST(node AS BIGINT) AS node,
         |  CAST(dur AS BIGINT) AS dur
         |FROM (
         |  SELECT seed, seed AS node, 0 AS dur FROM sd
         |  UNION ALL
         |  SELECT seed, node, MIN(arr - start) AS dur
         |  FROM f3 WHERE node <> seed GROUP BY seed, node
         |) z ORDER BY seed, node""".stripMargin
    },
    "graph_temporal_latest" -> {
      val rounds = (0 until 3).map { k =>
        s"""r${k + 1} AS (
           |  SELECT target, node, MAX(dep) AS dep FROM (
           |    SELECT target, node, dep FROM r$k
           |    UNION ALL
           |    SELECT r.target, e.src AS node, CAST(e.t AS BIGINT) AS dep
           |    FROM r$k r JOIN e ON e.dst = r.node AND e.t <= r.dep
           |  ) u GROUP BY 1, 2
           |)""".stripMargin
      }.mkString(", ")
      s"""WITH e0 AS (
         |  SELECT DISTINCT o_custkey AS c, l_suppkey + 1000000 AS p,
         |    epoch_us(o_orderdate) // 86400000000 AS t
         |  FROM orders JOIN lineitem ON l_orderkey = o_orderkey
         |), e AS (
         |  SELECT c AS src, p AS dst, t FROM e0
         |  UNION ALL SELECT p AS src, c AS dst, t FROM e0
         |), r0 AS (
         |  SELECT target, target AS node, CAST(30000 AS BIGINT) AS dep
         |  FROM (SELECT unnest(generate_series(1000001, 1000003)) AS target) s
         |), $rounds
         |SELECT CAST(target AS BIGINT) AS target, CAST(node AS BIGINT) AS node,
         |  CAST(dep AS BIGINT) AS dep
         |FROM r3 ORDER BY target, node""".stripMargin
    },
    "graph_msf" ->
      """WITH RECURSIVE li AS (
        |  SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
        |), und AS (
        |  SELECT a.l_partkey AS a, b.l_partkey AS b,
        |    1000000 // COUNT(*) AS w
        |  FROM li a JOIN li b
        |    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
        |  GROUP BY 1, 2
        |), nodes AS (
        |  SELECT a AS node FROM und UNION SELECT b FROM und
        |), cand1 AS (
        |  SELECT a AS comp, w, a, b FROM und
        |  UNION ALL SELECT b AS comp, w, a, b FROM und
        |), p1 AS (
        |  SELECT DISTINCT a, b, w FROM (
        |    SELECT comp, a, b, w, ROW_NUMBER() OVER (PARTITION BY comp
        |      ORDER BY w, a, b) AS rn
        |    FROM cand1) t
        |  WHERE rn = 1
        |), e1 AS (
        |  SELECT a AS u, b AS v FROM p1 UNION ALL SELECT b AS u, a AS v FROM p1
        |), r1(node, anc) AS (
        |  SELECT node, node FROM nodes
        |  UNION
        |  SELECT e1.v, r1.anc FROM r1 JOIN e1 ON e1.u = r1.node
        |), lbl1 AS (
        |  SELECT node, MIN(anc) AS comp FROM r1 GROUP BY node
        |), cross2 AS (
        |  SELECT und.a, und.b, und.w, la.comp AS ca, lb.comp AS cb
        |  FROM und JOIN lbl1 la ON la.node = und.a
        |  JOIN lbl1 lb ON lb.node = und.b
        |  WHERE la.comp <> lb.comp
        |), cand2 AS (
        |  SELECT ca AS comp, w, a, b FROM cross2
        |  UNION ALL SELECT cb AS comp, w, a, b FROM cross2
        |), p2 AS (
        |  SELECT DISTINCT a, b, w FROM (
        |    SELECT comp, a, b, w, ROW_NUMBER() OVER (PARTITION BY comp
        |      ORDER BY w, a, b) AS rn
        |    FROM cand2) t
        |  WHERE rn = 1
        |)
        |SELECT a, b, CAST(w AS BIGINT) AS w, CAST(phase AS BIGINT) AS phase
        |FROM (
        |  SELECT a, b, w, 1 AS phase FROM p1
        |  UNION ALL SELECT a, b, w, 2 FROM p2
        |) f ORDER BY a, b""".stripMargin,
    "graph_embeddedness" ->
      """WITH li AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
        |und AS (
        |  SELECT a.l_partkey AS a, b.l_partkey AS b
        |  FROM li a JOIN li b
        |    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
        |  GROUP BY 1, 2
        |), e AS (
        |  SELECT a AS src, b AS dst FROM und
        |  UNION ALL SELECT b, a FROM und
        |), w AS (
        |  SELECT e1.dst AS u, e2.dst AS v, CAST(COUNT(*) AS BIGINT) AS c
        |  FROM e e1 JOIN e e2 ON e1.src = e2.src AND e1.dst < e2.dst
        |  GROUP BY 1, 2
        |)
        |SELECT und.a, und.b, COALESCE(w.c, 0) AS embeddedness
        |FROM und LEFT JOIN w ON w.u = und.a AND w.v = und.b
        |ORDER BY embeddedness DESC, a, b LIMIT 200""".stripMargin,
    "q_diff_in_diff" ->
      """WITH o AS (
        |  SELECT o_orderpriority IN ('1-URGENT', '2-HIGH') AS treated,
        |    epoch_us(o_orderdate) >= 788918400000000 AS late,
        |    CAST(CAST(o_totalprice AS DECIMAL(12,2)) * 100 AS BIGINT) AS v
        |  FROM orders
        |), cells AS (
        |  SELECT treated, late,
        |    CASE WHEN SUM(v) >= 0 THEN SUM(v) // COUNT(*)
        |         ELSE -((-SUM(v)) // COUNT(*)) END AS m,
        |    COUNT(*) AS n
        |  FROM o GROUP BY 1, 2
        |)
        |SELECT CAST(SUM(n) AS BIGINT) AS n_total,
        |  CAST(MAX(CASE WHEN treated AND NOT late THEN m END) AS BIGINT)
        |    AS t1,
        |  CAST(MAX(CASE WHEN treated AND late THEN m END) AS BIGINT) AS t2,
        |  CAST(MAX(CASE WHEN NOT treated AND NOT late THEN m END) AS BIGINT)
        |    AS c1,
        |  CAST(MAX(CASE WHEN NOT treated AND late THEN m END) AS BIGINT)
        |    AS c2,
        |  CAST((MAX(CASE WHEN treated AND late THEN m END)
        |    - MAX(CASE WHEN treated AND NOT late THEN m END))
        |    - (MAX(CASE WHEN NOT treated AND late THEN m END)
        |    - MAX(CASE WHEN NOT treated AND NOT late THEN m END))
        |    AS BIGINT) AS did_cents
        |FROM cells""".stripMargin,
    // X42 shares its batch twin's oracle verbatim: streaming ≡ batch
    "stream_adstock" -> adstockSql,
    "q_adstock" -> adstockSql) ++ sqlTail2

  /** R189/X42 shared oracle: the exact adstock walk as a recursive CTE
    * (λ = 0.7).
    */
  private lazy val adstockSql: String =
      """WITH RECURSIVE e AS (
        |  SELECT user_id, event_id,
        |    CAST(floor(epoch(ts)) AS BIGINT) AS ts_sec,
        |    CAST(ROUND(value * 100) AS BIGINT) AS cents
        |  FROM events
        |), r AS (
        |  SELECT user_id, event_id, ts_sec, cents,
        |    ROW_NUMBER() OVER (PARTITION BY user_id
        |      ORDER BY ts_sec, event_id) AS rn
        |  FROM e
        |), rec AS (
        |  SELECT user_id, event_id, ts_sec, cents, rn,
        |    cents * 1000 AS a
        |  FROM r WHERE rn = 1
        |  UNION ALL
        |  SELECT r.user_id, r.event_id, r.ts_sec, r.cents, r.rn,
        |    r.cents * 1000 + (700000 * rec.a) // 1000000 AS a
        |  FROM rec JOIN r ON r.user_id = rec.user_id AND r.rn = rec.rn + 1
        |)
        |SELECT user_id, event_id, ts_sec, cents, a AS adstock_milli
        |FROM rec ORDER BY user_id, ts_sec, event_id""".stripMargin

  private lazy val sqlTail2: Map[String, String] = Map(
    "graph_k_center" -> kCenterSql(
      """SELECT CAST(center AS BIGINT) AS center,
        |  CAST(pick_order AS BIGINT) AS pick_order,
        |  CAST(dist_at_pick AS BIGINT) AS dist_at_pick
        |FROM (
        |  SELECT n AS center, 1 AS pick_order, 0 AS dist_at_pick FROM c1
        |  UNION ALL SELECT node, 2, dist FROM p2
        |  UNION ALL SELECT node, 3, dist FROM p3
        |) z ORDER BY pick_order""".stripMargin),
    "graph_k_center_coverage" -> kCenterSql(
      """SELECT CAST(dist AS BIGINT) AS dist,
        |  CAST(COUNT(*) AS BIGINT) AS n_nodes
        |FROM dc GROUP BY dist ORDER BY dist""".stripMargin),

    "graph_influence_greedy" -> {
      val rounds = (0 until 3).map { k =>
        s"""a${k + 1} AS (
           |  SELECT DISTINCT seed, node FROM (
           |    SELECT seed, node FROM a$k
           |    UNION ALL
           |    SELECT f.seed, l.dst AS node
           |    FROM a$k f JOIN live l ON l.src = f.node
           |  ) u
           |)""".stripMargin
      }.mkString(", ")
      s"""WITH e0 AS (
         |  SELECT DISTINCT o_custkey AS c, l_suppkey + 1000000 AS p
         |  FROM orders JOIN lineitem ON l_orderkey = o_orderkey
         |), e AS (
         |  SELECT c AS src, p AS dst FROM e0
         |  UNION ALL SELECT p AS src, c AS dst FROM e0
         |), live AS (
         |  SELECT src, dst FROM e
         |  WHERE CAST(('0x' || substr(md5(CAST(src AS VARCHAR) || ':'
         |    || CAST(dst AS VARCHAR)), 1, 12)) AS BIGINT) % 1000000 < 300000
         |), sd AS (SELECT unnest(generate_series(1, 5)) AS seed),
         |a0 AS (SELECT seed, seed AS node FROM sd), $rounds,
         |counts AS (SELECT seed, COUNT(*) AS n FROM a3 GROUP BY seed),
         |best AS (
         |  SELECT seed AS bseed, n AS base FROM (
         |    SELECT seed, n, ROW_NUMBER() OVER (ORDER BY n DESC, seed) AS rn
         |    FROM counts) t
         |  WHERE rn = 1
         |), bl AS (
         |  SELECT a3.node FROM a3 JOIN best ON a3.seed = best.bseed
         |), un AS (
         |  SELECT seed, COUNT(DISTINCT node) AS union_reach FROM (
         |    SELECT seed, node FROM a3
         |    UNION ALL
         |    SELECT sd.seed, bl.node FROM sd CROSS JOIN bl
         |  ) s GROUP BY seed
         |)
         |SELECT CAST(seed AS BIGINT) AS seed,
         |  CAST(base AS BIGINT) AS base_reach,
         |  CAST(union_reach AS BIGINT) AS union_reach,
         |  CAST(union_reach - base AS BIGINT) AS marginal
         |FROM un CROSS JOIN best ORDER BY seed""".stripMargin
    },
    "graph_influence_rank" -> {
      val rounds = (0 until 3).map { k =>
        s"""a${k + 1} AS (
           |  SELECT DISTINCT seed, node FROM (
           |    SELECT seed, node FROM a$k
           |    UNION ALL
           |    SELECT f.seed, l.dst AS node
           |    FROM a$k f JOIN live l ON l.src = f.node
           |  ) u
           |)""".stripMargin
      }.mkString(", ")
      s"""WITH e0 AS (
         |  SELECT DISTINCT o_custkey AS c, l_suppkey + 1000000 AS p
         |  FROM orders JOIN lineitem ON l_orderkey = o_orderkey
         |), e AS (
         |  SELECT c AS src, p AS dst FROM e0
         |  UNION ALL SELECT p AS src, c AS dst FROM e0
         |), live AS (
         |  SELECT src, dst FROM e
         |  WHERE CAST(('0x' || substr(md5(CAST(src AS VARCHAR) || ':'
         |    || CAST(dst AS VARCHAR)), 1, 12)) AS BIGINT) % 1000000 < 300000
         |), a0 AS (
         |  SELECT seed, seed AS node
         |  FROM (SELECT unnest(generate_series(1, 5)) AS seed) s
         |), $rounds
         |SELECT CAST(seed AS BIGINT) AS seed,
         |  CAST(COUNT(*) AS BIGINT) AS n_reached
         |FROM a3 GROUP BY seed ORDER BY seed""".stripMargin
    },
    // X41 shares its batch twin's oracle verbatim: streaming ≡ batch
    "stream_queue_wait" -> queueWaitSql,
    "q_queue_wait" -> queueWaitSql,
    "q_cohort_ltv" ->
      """WITH o AS (
        |  SELECT o_custkey,
        |    (year(o_orderdate) * 12 + month(o_orderdate)) - 1 AS m,
        |    CAST(CAST(o_totalprice AS DECIMAL(12,2)) * 100 AS BIGINT) AS v
        |  FROM orders
        |), cohort AS (
        |  SELECT o_custkey, MIN(m) AS cm FROM o GROUP BY 1
        |), sized AS (
        |  SELECT cm, CAST(COUNT(*) AS BIGINT) AS n_customers
        |  FROM cohort GROUP BY cm
        |), per AS (
        |  SELECT c.cm, o.m - c.cm AS age, SUM(o.v) AS rev
        |  FROM o JOIN cohort c USING (o_custkey) GROUP BY 1, 2
        |), cum AS (
        |  SELECT cm, age, rev,
        |    SUM(rev) OVER (PARTITION BY cm ORDER BY age
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_rev
        |  FROM per
        |)
        |SELECT cm AS cohort_month, CAST(age AS BIGINT) AS age, n_customers,
        |  CAST(rev AS BIGINT) AS rev_cents,
        |  CAST(cum_rev AS BIGINT) AS cum_rev_cents,
        |  CAST(cum_rev // n_customers AS BIGINT) AS ltv_cents
        |FROM cum JOIN sized USING (cm)
        |ORDER BY cohort_month, age""".stripMargin,
    "graph_msf_clusters" ->
      """WITH RECURSIVE li AS (
        |  SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
        |), und AS (
        |  SELECT a.l_partkey AS a, b.l_partkey AS b,
        |    1000000 // COUNT(*) AS w
        |  FROM li a JOIN li b
        |    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
        |  GROUP BY 1, 2
        |), nodes AS (
        |  SELECT a AS node FROM und UNION SELECT b FROM und
        |), cand1 AS (
        |  SELECT a AS comp, w, a, b FROM und
        |  UNION ALL SELECT b AS comp, w, a, b FROM und
        |), p1 AS (
        |  SELECT DISTINCT a, b, w FROM (
        |    SELECT comp, a, b, w, ROW_NUMBER() OVER (PARTITION BY comp
        |      ORDER BY w, a, b) AS rn
        |    FROM cand1) t
        |  WHERE rn = 1
        |), e1 AS (
        |  SELECT a AS u, b AS v FROM p1 UNION ALL SELECT b AS u, a AS v FROM p1
        |), r1(node, anc) AS (
        |  SELECT node, node FROM nodes
        |  UNION
        |  SELECT e1.v, r1.anc FROM r1 JOIN e1 ON e1.u = r1.node
        |), lbl1 AS (
        |  SELECT node, MIN(anc) AS comp FROM r1 GROUP BY node
        |), cross2 AS (
        |  SELECT und.a, und.b, und.w, la.comp AS ca, lb.comp AS cb
        |  FROM und JOIN lbl1 la ON la.node = und.a
        |  JOIN lbl1 lb ON lb.node = und.b
        |  WHERE la.comp <> lb.comp
        |), cand2 AS (
        |  SELECT ca AS comp, w, a, b FROM cross2
        |  UNION ALL SELECT cb AS comp, w, a, b FROM cross2
        |), p2 AS (
        |  SELECT DISTINCT a, b, w FROM (
        |    SELECT comp, a, b, w, ROW_NUMBER() OVER (PARTITION BY comp
        |      ORDER BY w, a, b) AS rn
        |    FROM cand2) t
        |  WHERE rn = 1
        |), forest AS (
        |  SELECT a, b FROM p1 WHERE w <= 500000
        |  UNION ALL SELECT a, b FROM p2 WHERE w <= 500000
        |), ef AS (
        |  SELECT a AS u, b AS v FROM forest
        |  UNION ALL SELECT b AS u, a AS v FROM forest
        |), rf(node, anc) AS (
        |  SELECT node, node FROM nodes
        |  UNION
        |  SELECT ef.v, rf.anc FROM rf JOIN ef ON ef.u = rf.node
        |)
        |SELECT node, MIN(anc) AS cluster_id FROM rf GROUP BY node
        |ORDER BY node""".stripMargin,
    "ann_ivf_recall" ->
      s"""WITH $kmeansCtes, probes AS (
         |  SELECT vec_id AS query_id, cid FROM (
         |    SELECT vec_id, cid, ROW_NUMBER() OVER (PARTITION BY vec_id
         |      ORDER BY d, cid) AS rn
         |    FROM d2 WHERE vec_id < 10) t
         |  WHERE rn <= 3
         |), icands AS (
         |  SELECT p.query_id, a.vec_id AS cand_id
         |  FROM probes p JOIN a2 a ON a.cid = p.cid
         |  WHERE a.vec_id <> p.query_id
         |), idist AS (
         |  SELECT c.query_id, c.cand_id,
         |    SUM((fq.x - fc.x) * (fq.x - fc.x)) AS d
         |  FROM icands c
         |  JOIN flat fq ON fq.vec_id = c.query_id
         |  JOIN flat fc ON fc.vec_id = c.cand_id AND fc.i = fq.i
         |  GROUP BY 1, 2
         |), ivf AS (
         |  SELECT query_id, cand_id FROM (
         |    SELECT query_id, cand_id, ROW_NUMBER() OVER (
         |      PARTITION BY query_id ORDER BY d, cand_id) AS rnk
         |    FROM idist) t
         |  WHERE rnk <= 5
         |), bd AS (
         |  SELECT bq.vec_id AS query_id, f.vec_id AS cand_id,
         |    SUM((bq.x - f.x) * (bq.x - f.x)) AS d
         |  FROM flat bq JOIN flat f ON f.i = bq.i
         |  WHERE bq.vec_id < 10 AND f.vec_id <> bq.vec_id
         |  GROUP BY 1, 2
         |), brute AS (
         |  SELECT query_id, cand_id FROM (
         |    SELECT query_id, cand_id, ROW_NUMBER() OVER (
         |      PARTITION BY query_id ORDER BY d, cand_id) AS rn
         |    FROM bd) t
         |  WHERE rn <= 5
         |)
         |SELECT b.query_id,
         |  CAST(COALESCE(SUM(CASE WHEN i.cand_id IS NOT NULL THEN 1 END), 0)
         |    * 1000000 // 5 AS BIGINT) AS recall_ppm
         |FROM brute b LEFT JOIN ivf i
         |  ON i.query_id = b.query_id AND i.cand_id = b.cand_id
         |GROUP BY b.query_id ORDER BY b.query_id""".stripMargin,
    "graph_cascade" -> {
      val rounds = (0 until 3).map { k =>
        s"""a${k + 1} AS (
           |  SELECT node, MIN(round) AS round FROM (
           |    SELECT node, round FROM a$k
           |    UNION ALL
           |    SELECT l.dst AS node, ${k + 1} AS round
           |    FROM a$k f JOIN live l ON l.src = f.node
           |  ) u GROUP BY node
           |)""".stripMargin
      }.mkString(", ")
      s"""WITH e0 AS (
         |  SELECT DISTINCT o_custkey AS c, l_suppkey + 1000000 AS p
         |  FROM orders JOIN lineitem ON l_orderkey = o_orderkey
         |), e AS (
         |  SELECT c AS src, p AS dst FROM e0
         |  UNION ALL SELECT p AS src, c AS dst FROM e0
         |), live AS (
         |  SELECT src, dst FROM e
         |  WHERE CAST(('0x' || substr(md5(CAST(src AS VARCHAR) || ':'
         |    || CAST(dst AS VARCHAR)), 1, 12)) AS BIGINT) % 1000000 < 300000
         |), a0 AS (
         |  SELECT seed AS node, CAST(0 AS BIGINT) AS round
         |  FROM (SELECT unnest(generate_series(1, 3)) AS seed) s
         |), $rounds
         |SELECT CAST(node AS BIGINT) AS node, CAST(round AS BIGINT) AS round
         |FROM a3 ORDER BY node""".stripMargin
    },
    "q_changepoint_multi" ->
      """WITH series AS (
        |  SELECT o_orderpriority AS grp,
        |    epoch_us(o_orderdate) // 86400000000 AS day,
        |    CAST(COUNT(*) AS BIGINT) AS x
        |  FROM orders GROUP BY 1, 2
        |), pre1 AS (
        |  SELECT grp, day, x,
        |    SUM(x) OVER (PARTITION BY grp ORDER BY day
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sb,
        |    ROW_NUMBER() OVER (PARTITION BY grp ORDER BY day) AS b,
        |    SUM(x) OVER (PARTITION BY grp) AS s,
        |    COUNT(*) OVER (PARTITION BY grp) AS n
        |  FROM series
        |), top AS (
        |  SELECT grp, day AS split_pos FROM (
        |    SELECT grp, day, ROW_NUMBER() OVER (PARTITION BY grp
        |      ORDER BY ABS(sb * n - s * b) DESC, day) AS rn
        |    FROM pre1 WHERE b < n) t
        |  WHERE rn = 1
        |), tagged AS (
        |  SELECT s.grp,
        |    CASE WHEN s.day <= t.split_pos THEN 'L' ELSE 'R' END AS seg,
        |    s.day, s.x
        |  FROM series s JOIN top t USING (grp)
        |), pre2 AS (
        |  SELECT grp, seg, day, x,
        |    SUM(x) OVER (PARTITION BY grp, seg ORDER BY day
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sb,
        |    ROW_NUMBER() OVER (PARTITION BY grp, seg ORDER BY day) AS b,
        |    SUM(x) OVER (PARTITION BY grp, seg) AS s,
        |    COUNT(*) OVER (PARTITION BY grp, seg) AS n
        |  FROM tagged
        |), scored2 AS (
        |  SELECT grp, seg, day, sb, b, s, n,
        |    ABS(sb * n - s * b) AS score,
        |    ROW_NUMBER() OVER (PARTITION BY grp, seg
        |      ORDER BY ABS(sb * n - s * b) DESC, day) AS rn
        |  FROM pre2 WHERE b < n
        |)
        |SELECT grp, seg, CAST(n AS BIGINT) AS n,
        |  CAST(day AS BIGINT) AS split_pos, CAST(score AS BIGINT) AS score,
        |  CAST(CASE WHEN sb >= 0 THEN (sb * 1000) // b
        |    ELSE -((-(sb * 1000)) // b) END AS BIGINT) AS mean_left_milli,
        |  CAST(CASE WHEN s - sb >= 0 THEN ((s - sb) * 1000) // (n - b)
        |    ELSE -((-((s - sb) * 1000)) // (n - b)) END AS BIGINT)
        |    AS mean_right_milli
        |FROM scored2 WHERE rn = 1 ORDER BY grp, seg""".stripMargin,
    // X40 shares its batch twin's oracle verbatim: streaming ≡ batch
    "stream_embed_drift" -> embedDriftSql,
    "embed_drift" -> embedDriftSql) ++ sqlTail

  private lazy val embedDriftSql: String =
      """WITH flat AS (
        |  SELECT CAST(label AS BIGINT) AS label, vec_id % 2 = 0 AS side,
        |    generate_subscripts(embedding, 1) AS i,
        |    CAST(floor(CAST(unnest(embedding) AS DOUBLE) * 1000) AS BIGINT)
        |      AS x
        |  FROM embeddings
        |), cent AS (
        |  SELECT label, side, i,
        |    CASE WHEN SUM(x) >= 0 THEN SUM(x) // COUNT(*)
        |         ELSE -((-SUM(x)) // COUNT(*)) END AS c
        |  FROM flat GROUP BY 1, 2, 3
        |)
        |SELECT a.label,
        |  CAST(SUM((a.c - b.c) * (a.c - b.c)) AS BIGINT) AS shift_sq
        |FROM cent a JOIN cent b
        |  ON a.label = b.label AND a.i = b.i AND a.side AND NOT b.side
        |GROUP BY a.label ORDER BY a.label""".stripMargin

  private lazy val sqlTail: Map[String, String] = Map(
    "graph_squares" ->
      """WITH li AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
        |und AS (
        |  SELECT a.l_partkey AS a, b.l_partkey AS b
        |  FROM li a JOIN li b
        |    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
        |  GROUP BY 1, 2
        |), e AS (
        |  SELECT a AS src, b AS dst FROM und
        |  UNION ALL SELECT b, a FROM und
        |), w AS (
        |  SELECT e1.dst AS u, e2.dst AS v, COUNT(*) AS c
        |  FROM e e1 JOIN e e2 ON e1.src = e2.src AND e1.dst < e2.dst
        |  GROUP BY 1, 2
        |)
        |SELECT (SELECT CAST(COUNT(DISTINCT src) AS BIGINT) FROM e)
        |    AS n_nodes,
        |  (SELECT CAST(COUNT(*) AS BIGINT) FROM und) AS n_edges,
        |  CAST(COALESCE(SUM(CASE WHEN c >= 2 THEN 1 ELSE 0 END), 0)
        |    AS BIGINT) AS n_copaired,
        |  CAST(COALESCE(SUM(c * (c - 1) // 2), 0) // 2 AS BIGINT)
        |    AS n_squares
        |FROM w""".stripMargin,
    "q_max_concurrency" ->
      """WITH base AS (
        |  SELECT event_type AS g, CAST(floor(epoch(ts)) AS BIGINT) AS s,
        |    CAST(floor(epoch(ts)) AS BIGINT) + 1800 AS e
        |  FROM events
        |), ev AS (
        |  SELECT g, s AS t, 1 AS d FROM base
        |  UNION ALL SELECT g, e AS t, -1 AS d FROM base
        |), r AS (
        |  SELECT g, t, SUM(d) OVER (PARTITION BY g ORDER BY t, d
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS running
        |  FROM ev
        |), best AS (
        |  SELECT g, t, running, ROW_NUMBER() OVER (PARTITION BY g
        |    ORDER BY running DESC, t) AS rn
        |  FROM r
        |)
        |SELECT b.g AS grp,
        |  (SELECT CAST(COUNT(*) AS BIGINT) FROM base WHERE base.g = b.g)
        |    AS n_intervals,
        |  CAST(b.running AS BIGINT) AS peak, b.t AS peak_at
        |FROM best b WHERE rn = 1 ORDER BY grp""".stripMargin,
    "graph_rich_club" ->
      """WITH li AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
        |und AS (
        |  SELECT a.l_partkey AS a, b.l_partkey AS b
        |  FROM li a JOIN li b
        |    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
        |  GROUP BY 1, 2
        |), e AS (
        |  SELECT a AS src, b AS dst FROM und
        |  UNION ALL SELECT b, a FROM und
        |), deg AS (
        |  SELECT src AS node, CAST(COUNT(*) AS BIGINT) AS deg
        |  FROM e GROUP BY 1
        |), wd AS (
        |  SELECT da.deg AS da, db.deg AS db
        |  FROM und JOIN deg da ON da.node = und.a
        |  JOIN deg db ON db.node = und.b
        |), ks AS (SELECT unnest([8, 16, 32, 64]) AS k)
        |SELECT CAST(k AS BIGINT) AS k,
        |  (SELECT CAST(COUNT(*) AS BIGINT) FROM deg WHERE deg > ks.k)
        |    AS m_nodes,
        |  (SELECT CAST(COUNT(*) AS BIGINT) FROM wd
        |   WHERE da > ks.k AND db > ks.k) AS e_within,
        |  CASE WHEN (SELECT COUNT(*) FROM deg WHERE deg > ks.k) >= 2 THEN
        |    CAST((SELECT COUNT(*) FROM wd WHERE da > ks.k AND db > ks.k)
        |      * 1000000
        |      // ((SELECT COUNT(*) FROM deg WHERE deg > ks.k)
        |        * ((SELECT COUNT(*) FROM deg WHERE deg > ks.k) - 1) // 2)
        |      AS BIGINT)
        |  END AS phi_ppm
        |FROM ks ORDER BY k""".stripMargin,
    "q_changepoint_split" ->
      """WITH series AS (
        |  SELECT o_orderpriority AS grp,
        |    epoch_us(o_orderdate) // 86400000000 AS day,
        |    CAST(COUNT(*) AS BIGINT) AS x
        |  FROM orders GROUP BY 1, 2
        |), pre AS (
        |  SELECT grp, day, x,
        |    SUM(x) OVER (PARTITION BY grp ORDER BY day
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sb,
        |    ROW_NUMBER() OVER (PARTITION BY grp ORDER BY day) AS b,
        |    SUM(x) OVER (PARTITION BY grp) AS s,
        |    COUNT(*) OVER (PARTITION BY grp) AS n
        |  FROM series
        |), scored AS (
        |  SELECT grp, day, sb, b, s, n,
        |    ABS(sb * n - s * b) AS score,
        |    ROW_NUMBER() OVER (PARTITION BY grp
        |      ORDER BY ABS(sb * n - s * b) DESC, day) AS rn
        |  FROM pre WHERE b < n
        |)
        |SELECT grp, CAST(n AS BIGINT) AS n, CAST(day AS BIGINT) AS split_pos,
        |  CAST(score AS BIGINT) AS score,
        |  CAST(CASE WHEN sb >= 0 THEN (sb * 1000) // b
        |    ELSE -((-(sb * 1000)) // b) END AS BIGINT) AS mean_left_milli,
        |  CAST(CASE WHEN s - sb >= 0 THEN ((s - sb) * 1000) // (n - b)
        |    ELSE -((-((s - sb) * 1000)) // (n - b)) END AS BIGINT)
        |    AS mean_right_milli
        |FROM scored WHERE rn = 1 ORDER BY grp""".stripMargin,
    "cdc_bitemporal" ->
      """WITH c AS (
        |  SELECT user_id, CAST(floor(epoch(ts)) AS BIGINT) AS valid_from,
        |    event_id % 100 AS sys_batch, event_id, event_type
        |  FROM events
        |  WHERE floor(epoch(ts)) <= 1705400000 AND event_id % 100 <= 59
        |), r AS (
        |  SELECT user_id, valid_from, sys_batch, event_type,
        |    ROW_NUMBER() OVER (PARTITION BY user_id
        |      ORDER BY valid_from DESC, sys_batch DESC, event_id DESC) AS rn
        |  FROM c
        |)
        |SELECT user_id, valid_from, CAST(sys_batch AS BIGINT) AS sys_batch,
        |  event_type
        |FROM r WHERE rn = 1 ORDER BY user_id""".stripMargin,
    "text_concordance" ->
      """SELECT doc_id, CAST(i AS BIGINT) AS pos,
        |  substr(text, GREATEST(1, i - 20), 45) AS context
        |FROM (
        |  SELECT doc_id, text,
        |    unnest(generate_series(1, GREATEST(length(text) - 4, 0))) AS i
        |  FROM documents) t
        |WHERE substr(text, i, 5) = 'query'
        |ORDER BY doc_id, pos""".stripMargin,
    "q_conformal" ->
      """WITH b AS (
        |  SELECT o_orderpriority AS grp,
        |    CAST(CAST(o_totalprice AS DECIMAL(12,2)) * 100 AS BIGINT) AS v,
        |    o_orderkey AS id,
        |    CAST(('0x' || substr(md5(CAST(o_orderkey AS VARCHAR)), 1, 12))
        |      AS BIGINT) < 140737488355328 AS cal
        |  FROM orders
        |), enc AS (
        |  SELECT grp,
        |    CASE WHEN SUM(v) >= 0 THEN SUM(v) // COUNT(*)
        |         ELSE -((-SUM(v)) // COUNT(*)) END AS enc,
        |    CAST(COUNT(*) AS BIGINT) AS n_cal
        |  FROM b WHERE cal GROUP BY grp
        |), resid AS (
        |  SELECT b.grp, ABS(b.v - enc.enc) AS r, b.id
        |  FROM b JOIN enc USING (grp) WHERE b.cal
        |), rk AS (
        |  SELECT grp, r, ROW_NUMBER() OVER (PARTITION BY grp
        |      ORDER BY r, id) AS rk,
        |    COUNT(*) OVER (PARTITION BY grp) AS n
        |  FROM resid
        |), q AS (
        |  SELECT grp, CAST(r AS BIGINT) AS q_resid FROM rk
        |  WHERE rk = LEAST(n, ((n + 1) * 900000 + 999999) // 1000000)
        |)
        |SELECT t.grp, enc.n_cal, CAST(COUNT(*) AS BIGINT) AS n_test,
        |  q.q_resid,
        |  CAST(SUM(CASE WHEN ABS(t.v - enc.enc) <= q.q_resid
        |    THEN 1 ELSE 0 END) AS BIGINT) AS n_covered,
        |  CAST((SUM(CASE WHEN ABS(t.v - enc.enc) <= q.q_resid
        |    THEN 1 ELSE 0 END) * 1000000) // COUNT(*) AS BIGINT) AS cover_ppm
        |FROM b t JOIN enc USING (grp) JOIN q USING (grp)
        |WHERE NOT t.cal
        |GROUP BY t.grp, enc.n_cal, q.q_resid
        |ORDER BY grp""".stripMargin,
    "q_resample_interp" ->
      """WITH obs AS (
        |  SELECT user_id, epoch_us(ts) // 3600000000 AS hr,
        |    CAST(SUM(CAST(ROUND(value * 100) AS BIGINT)) AS BIGINT) AS v
        |  FROM events GROUP BY 1, 2
        |), grid AS (
        |  SELECT user_id, unnest(generate_series(b0, b1)) AS hr
        |  FROM (SELECT user_id, MIN(hr) AS b0, MAX(hr) AS b1
        |        FROM obs GROUP BY user_id) t
        |), g AS (
        |  SELECT grid.user_id, grid.hr, obs.v,
        |    LAST_VALUE(CASE WHEN obs.v IS NOT NULL THEN grid.hr END
        |      IGNORE NULLS) OVER wp AS pb,
        |    LAST_VALUE(obs.v IGNORE NULLS) OVER wp AS pv,
        |    FIRST_VALUE(CASE WHEN obs.v IS NOT NULL THEN grid.hr END
        |      IGNORE NULLS) OVER wn AS nb,
        |    FIRST_VALUE(obs.v IGNORE NULLS) OVER wn AS nv
        |  FROM grid LEFT JOIN obs USING (user_id, hr)
        |  WINDOW wp AS (PARTITION BY grid.user_id ORDER BY grid.hr
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
        |    wn AS (PARTITION BY grid.user_id ORDER BY grid.hr
        |      ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)
        |)
        |SELECT user_id, CAST(hr AS BIGINT) AS hr, CAST(v AS BIGINT) AS value,
        |  CAST(CASE WHEN v IS NOT NULL THEN v
        |    ELSE pv + CASE WHEN (nv - pv) * (hr - pb) >= 0
        |      THEN ((nv - pv) * (hr - pb)) // (nb - pb)
        |      ELSE -((-((nv - pv) * (hr - pb))) // (nb - pb)) END
        |    END AS BIGINT) AS interp
        |FROM g ORDER BY user_id, hr""".stripMargin,
    "dedup_rate_by_source" ->
      s"""WITH d AS (
         |  SELECT doc_id, source, ${QueriesData.canon} AS h FROM documents
         |), g AS (SELECT h, COUNT(*) AS grp_n FROM d GROUP BY h)
         |SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
         |  CAST(SUM(CASE WHEN grp_n > 1 THEN 1 ELSE 0 END) AS BIGINT)
         |    AS n_dup_docs,
         |  CAST((SUM(CASE WHEN grp_n > 1 THEN 1 ELSE 0 END) * 1000000)
         |    // COUNT(*) AS BIGINT) AS dup_ppm
         |FROM d JOIN g USING (h) GROUP BY source ORDER BY source""".stripMargin,
    "graph_temporal_reach" -> {
      val rounds = (0 until 3).map { k =>
        s"""r${k + 1} AS (
           |  SELECT seed, node, MIN(arr) AS arr FROM (
           |    SELECT seed, node, arr FROM r$k
           |    UNION ALL
           |    SELECT r.seed, e.dst AS node, CAST(e.t AS BIGINT) AS arr
           |    FROM r$k r JOIN e ON e.src = r.node AND e.t >= r.arr
           |  ) u GROUP BY 1, 2
           |)""".stripMargin
      }.mkString(", ")
      s"""WITH e0 AS (
         |  SELECT DISTINCT o_custkey AS c, l_suppkey + 1000000 AS p,
         |    epoch_us(o_orderdate) // 86400000000 AS t
         |  FROM orders JOIN lineitem ON l_orderkey = o_orderkey
         |), e AS (
         |  SELECT c AS src, p AS dst, t FROM e0
         |  UNION ALL SELECT p AS src, c AS dst, t FROM e0
         |), r0 AS (
         |  SELECT seed, seed AS node, CAST(0 AS BIGINT) AS arr
         |  FROM (SELECT unnest(generate_series(1, 3)) AS seed) s
         |), $rounds
         |SELECT CAST(seed AS BIGINT) AS seed, CAST(node AS BIGINT) AS node,
         |  CAST(arr AS BIGINT) AS arr
         |FROM r3 ORDER BY seed, node""".stripMargin
    },
    "mm_flac_meta" ->
      """SELECT doc_id, 'flac' AS format,
        |  CAST(CASE doc_id % 4 WHEN 0 THEN 44100 WHEN 1 THEN 48000
        |    WHEN 2 THEN 96000 ELSE 22050 END AS BIGINT) AS sample_rate,
        |  CAST(doc_id % 2 + 1 AS BIGINT) AS channels,
        |  CAST(CASE doc_id % 3 WHEN 0 THEN 8 WHEN 1 THEN 16 ELSE 24 END
        |    AS BIGINT) AS bits_per_sample,
        |  CAST(doc_id * 1000 + 7 AS BIGINT) AS n_samples
        |FROM documents ORDER BY doc_id""".stripMargin,
    "q_quantile_normalize" ->
      """WITH d AS (
        |  SELECT doc_id, source, n_chars FROM documents
        |), r AS (
        |  SELECT doc_id, source, n_chars,
        |    ROW_NUMBER() OVER (PARTITION BY source
        |      ORDER BY n_chars, doc_id) AS r,
        |    COUNT(*) OVER (PARTITION BY source) AS n
        |  FROM d
        |), p AS (
        |  SELECT n_chars AS pv,
        |    ROW_NUMBER() OVER (ORDER BY n_chars, doc_id) AS q
        |  FROM d
        |), nn AS (SELECT COUNT(*) AS nn FROM d)
        |SELECT r.doc_id, r.source, r.n_chars, CAST(p.pv AS BIGINT) AS norm
        |FROM r CROSS JOIN nn
        |JOIN p ON p.q = (r.r * nn.nn + r.n - 1) // r.n
        |ORDER BY r.doc_id""".stripMargin)

  /** R182/X41 shared oracle: the exact Lindley walk as a recursive CTE
    * (service 600 s).
    */
  private lazy val queueWaitSql: String =
    """WITH RECURSIVE e AS (
      |  SELECT event_type, event_id,
      |    CAST(floor(epoch(ts)) AS BIGINT) AS ts_sec
      |  FROM events
      |), r AS (
      |  SELECT event_type, event_id, ts_sec,
      |    ROW_NUMBER() OVER (PARTITION BY event_type
      |      ORDER BY ts_sec, event_id) AS rn
      |  FROM e
      |), rec AS (
      |  SELECT event_type, event_id, ts_sec, rn,
      |    CAST(0 AS BIGINT) AS w
      |  FROM r WHERE rn = 1
      |  UNION ALL
      |  SELECT r.event_type, r.event_id, r.ts_sec, r.rn,
      |    GREATEST(0, rec.w + 600 - (r.ts_sec - rec.ts_sec)) AS w
      |  FROM rec JOIN r ON r.event_type = rec.event_type
      |    AND r.rn = rec.rn + 1
      |)
      |SELECT event_type, event_id, ts_sec, w AS wait_sec
      |FROM rec ORDER BY event_type, ts_sec, event_id""".stripMargin

  /** R167/X39 shared oracle: the exact token-bucket walk as a
    * recursive CTE (cap 5000 milli, refill 2 milli/s, cost 1000).
    */
  private lazy val rateLimitSql: String =
    """WITH RECURSIVE e AS (
        |  SELECT user_id, event_id,
        |    CAST(floor(epoch(ts)) AS BIGINT) AS ts_sec
        |  FROM events
        |), r AS (
        |  SELECT user_id, event_id, ts_sec,
        |    ROW_NUMBER() OVER (PARTITION BY user_id
        |      ORDER BY ts_sec, event_id) AS rn
        |  FROM e
        |), rec AS (
        |  SELECT user_id, event_id, ts_sec, rn,
        |    TRUE AS admitted, CAST(4000 AS BIGINT) AS tokens,
        |    ts_sec AS last_ts
        |  FROM r WHERE rn = 1
        |  UNION ALL
        |  SELECT r.user_id, r.event_id, r.ts_sec, r.rn,
        |    LEAST(5000, rec.tokens + (r.ts_sec - rec.last_ts) * 2) >= 1000
        |      AS admitted,
        |    CAST(CASE WHEN
        |        LEAST(5000, rec.tokens + (r.ts_sec - rec.last_ts) * 2) >= 1000
        |      THEN LEAST(5000, rec.tokens + (r.ts_sec - rec.last_ts) * 2) - 1000
        |      ELSE LEAST(5000, rec.tokens + (r.ts_sec - rec.last_ts) * 2)
        |      END AS BIGINT) AS tokens,
        |    r.ts_sec AS last_ts
        |  FROM rec JOIN r ON r.user_id = rec.user_id AND r.rn = rec.rn + 1
        |)
        |SELECT user_id, event_id, ts_sec, admitted,
        |  tokens AS tokens_milli
        |FROM rec ORDER BY user_id, rn""".stripMargin

  /** R188/R190 shared oracle scaffold: the greedy k-center CTE chain
    * (k=3, rounds=2) plus a third BFS from all picked centers (dc);
    * each gate supplies its own final SELECT.
    */
  private def kCenterSql(finalSelect: String): String = {
    def bfs(tag: String, seedsSel: String) = {
      val chain = (1 to 2).map { r =>
        s"""s${tag}_$r AS (
           |  SELECT node, MIN(dist) AS dist FROM (
           |    SELECT node, dist FROM s${tag}_${r - 1}
           |    UNION ALL
           |    SELECT e.dst AS node, $r AS dist
           |    FROM s${tag}_${r - 1} f JOIN e ON e.src = f.node
           |  ) u GROUP BY node
           |)""".stripMargin
      }.mkString(", ")
      s"""s${tag}_0 AS ($seedsSel), $chain,
         |d$tag AS (
         |  SELECT n.node, COALESCE(s.dist, 3) AS dist
         |  FROM nodes n LEFT JOIN s${tag}_2 s USING (node)
         |)""".stripMargin
    }
    s"""WITH li AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
       |und AS (
       |  SELECT a.l_partkey AS a, b.l_partkey AS b
       |  FROM li a JOIN li b
       |    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
       |  GROUP BY 1, 2
       |), e AS (
       |  SELECT a AS src, b AS dst FROM und
       |  UNION ALL SELECT b, a FROM und
       |), nodes AS (
       |  SELECT a AS node FROM und UNION SELECT b FROM und
       |), c1 AS (SELECT MIN(node) AS n FROM nodes),
       |${bfs("1", "SELECT n AS node, 0 AS dist FROM c1")},
       |p2 AS (
       |  SELECT node, dist FROM d1 ORDER BY dist DESC, node LIMIT 1
       |),
       |${bfs("2",
        "SELECT n AS node, 0 AS dist FROM c1 " +
          "UNION ALL SELECT node, 0 FROM p2")},
       |p3 AS (
       |  SELECT node, dist FROM d2 ORDER BY dist DESC, node LIMIT 1
       |),
       |${bfs("c",
        "SELECT n AS node, 0 AS dist FROM c1 " +
          "UNION ALL SELECT node, 0 FROM p2 " +
          "UNION ALL SELECT node, 0 FROM p3")}
       |$finalSelect""".stripMargin
  }

  /** Shared k-means CTE chain (2 unrolled Lloyd passes): flat milli
    * quantization → seed centroids → distance/argmin → sign-carried
    * integer-mean centroid update → final distance/argmin (d2/a2).
    */
  private[graft] lazy val kmeansCtes: String =
    """flat AS (
      |  SELECT vec_id,
      |    CAST(floor(CAST(unnest(embedding) AS DOUBLE) * 1000) AS BIGINT) AS x,
      |    generate_subscripts(embedding, 1) AS i
      |  FROM embeddings
      |), seeds AS (
      |  SELECT vec_id FROM (SELECT DISTINCT vec_id FROM embeddings) t
      |  ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id LIMIT 10
      |), c0 AS (
      |  SELECT f.vec_id AS cid, f.i, f.x AS cx
      |  FROM flat f JOIN seeds s ON s.vec_id = f.vec_id
      |), d1 AS (
      |  SELECT f.vec_id, c.cid, SUM((f.x - c.cx) * (f.x - c.cx)) AS d
      |  FROM flat f JOIN c0 c ON c.i = f.i GROUP BY 1, 2
      |), a1 AS (
      |  SELECT vec_id, cid FROM (
      |    SELECT vec_id, cid, ROW_NUMBER() OVER (PARTITION BY vec_id
      |      ORDER BY d, cid) AS rn FROM d1) t
      |  WHERE rn = 1
      |), c1 AS (
      |  SELECT a.cid, f.i,
      |    CASE WHEN SUM(f.x) >= 0 THEN SUM(f.x) // COUNT(*)
      |         ELSE -((-SUM(f.x)) // COUNT(*)) END AS cx
      |  FROM flat f JOIN a1 a ON a.vec_id = f.vec_id GROUP BY 1, 2
      |), d2 AS (
      |  SELECT f.vec_id, c.cid, SUM((f.x - c.cx) * (f.x - c.cx)) AS d
      |  FROM flat f JOIN c1 c ON c.i = f.i GROUP BY 1, 2
      |), a2 AS (
      |  SELECT vec_id, cid FROM (
      |    SELECT vec_id, cid, ROW_NUMBER() OVER (PARTITION BY vec_id
      |      ORDER BY d, cid) AS rn FROM d2) t
      |  WHERE rn = 1
      |)""".stripMargin
}
