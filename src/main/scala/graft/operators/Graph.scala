package graft.operators

import graft.PlanProbe.CkptOps
import org.apache.spark.sql.{DataFrame, Encoder}
import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
import org.apache.spark.sql.expressions.{Aggregator, Window}
import org.apache.spark.sql.functions._

/** Distributed triangle counting — the clustering-structure metric on
  * similarity/co-occurrence graphs (near-dup pair graphs are unions of
  * cliques; a co-purchase graph's triangle density measures basket
  * coherence). Sibling of the connected-components operators in
  * [[graft.dedup.Dedup]].
  *
  * The naive triple self-join explodes on high-degree nodes (a hub of
  * degree d contributes d² wedge rows). The standard fix (Suri &
  * Vassilvitskii's MR triangle counting): orient every edge from the
  * lower-ranked to the higher-ranked endpoint under the total order
  * (degree, id). Every triangle then has exactly ONE source node with
  * two outgoing oriented edges, and each node's out-degree is bounded by
  * O(√m) on any graph (the arboricity bound) — so the wedge join is
  * bounded even with power-law hubs: the hub's edges point INTO it and
  * generate no wedges.
  *
  * Shuffles: degree aggregate, two orientation joins, wedge self-join,
  * closing-edge semi-join — all hash exchanges on node/edge keys, no
  * broadcast of anything data-sized.
  */
object Graph {
  /** Conditionally broadcast a node-sized per-round loop table.
    *
    * The loop state is localCheckpointed (RDD-backed), which blinds
    * Catalyst stats and AQE — without a hint every round pays two
    * sort-merge shuffles of the full edge list. But an UNCONDITIONAL
    * hint is a hard failure once the node table outgrows the executor
    * broadcast limit (10⁹ nodes of (id, value) ≈ tens of GB). The gate:
    * an exact row count the loop already collected (the convergence
    * probes) or a cheap count() over the checkpointed RDD, compared to
    * "spark.graft.broadcastMaxRows" (default 2·10⁷ — these tables are
    * 2–3 narrow columns, so ~hundreds of MB serialized, inside the
    * broadcast limit with margin). Above it, the join falls back to a
    * hash-partitioned shuffle and the operator survives any node count.
    */
  private def maybeBroadcast(df: DataFrame, rows: Long): DataFrame = {
    val max = df.sparkSession.conf
      .get("spark.graft.broadcastMaxRows", "20000000").toLong
    if (rows <= max) broadcast(df) else df
  }

  /** Count triangles in an undirected simple graph.
    *
    * @param edges (src, dst) pairs; may contain duplicates, reversed
    *              copies, and self-loops — canonicalized and deduped here.
    * @return one row: (n_nodes, n_edges, n_triangles)
    */
  def triangleCount(edges: DataFrame): DataFrame = {
    val e = edges.select(least(col("src"), col("dst")).as("a"),
        greatest(col("src"), col("dst")).as("b"))
      .filter(col("a") =!= col("b")).distinct()
      // consumed by three branches (degree, orientation, count): one
      // eager materialization beats three edge-build recomputes
      .ckpt
    val deg = e.select(col("a").as("v")).unionAll(e.select(col("b").as("v")))
      .groupBy(col("v")).agg(count(lit(1)).as("deg"))
    // orient a->b iff (deg(a), a) < (deg(b), b): a total order, so each
    // undirected edge gets exactly one direction
    val oriented = e
      .join(deg.withColumnRenamed("v", "a").withColumnRenamed("deg", "da"), Seq("a"))
      .join(deg.withColumnRenamed("v", "b").withColumnRenamed("deg", "db"), Seq("b"))
      .select(
        when(col("da") < col("db") || (col("da") === col("db") && col("a") < col("b")),
          col("a")).otherwise(col("b")).as("u"),
        when(col("da") < col("db") || (col("da") === col("db") && col("a") < col("b")),
          col("b")).otherwise(col("a")).as("w"))
      // consumed by the adjacency build and twice by the counting join
      .ckpt
    // Count per EDGE by out-neighbor-list intersection rather than
    // materializing the wedge set: a dense graph's wedge count dwarfs its
    // edge count (the sf0.1 co-purchase graph: 41M wedges over 1.2M
    // edges), and shuffling wedge rows into a semi-join is pure overhead
    // when the closing test can run inside one projection. Under the
    // acyclic orientation each triangle's nodes rank r1<r2<r3 and it is
    // counted exactly once — on edge r1→r2, as common out-neighbor r3.
    // The adjacency table has one row per NODE (≤ out-degree O(√m)
    // elements each): small enough to broadcast on mid-size graphs, a
    // plain hash join at 100 TB.
    val adj = oriented.groupBy(col("u"))
      .agg(sort_array(collect_list(col("w"))).as("nbrs"))
    val tri = oriented
      .join(adj.select(col("u"), col("nbrs").as("n1")), Seq("u"))
      .join(adj.select(col("u").as("w"), col("nbrs").as("n2")), Seq("w"))
      .select(size(array_intersect(col("n1"), col("n2"))).cast("long").as("c"))
      .agg(coalesce(sum(col("c")), lit(0L)).as("n_triangles"))
    val nodes = deg.agg(count(lit(1)).as("n_nodes"))
    val edgeCount = e.agg(count(lit(1)).as("n_edges"))
    nodes.crossJoin(edgeCount).crossJoin(tri)
  }

  /** Fixed-iteration PageRank in exact ppm fixed-point — node importance
    * on the co-purchase / near-dup-cluster graph without a single float.
    *
    * Semantics: undirected graph (edges are canonicalized, deduped, and
    * doubled into both directions); every node starts at 10⁶ (rank scaled
    * by N·10⁻⁶, so the mass interpretation is per-node share of N); each
    * iteration is
    *
    *   pr'(v) = 150000 + (850000 · Σ_{u→v} (pr(u) div deg(u))) div 10⁶
    *
    * with TRUNCATING integer division at both marked points — the
    * deterministic contract: per-edge shares are order-free (each u's
    * share is computed once, not accumulated in float), so any partition
    * layout, shuffle order, or engine lands on the identical integers.
    * The classic damping 0.85 is exactly 850000 ppm. Mass truncation
    * (≤ deg(u)−1 ppm per node per round) is part of the defined result,
    * same on both sides of the oracle.
    *
    * Scale shape: per iteration one pr⋈deg broadcast-or-hash join keyed
    * on node, one edge⋈share join keyed on src, one sum keyed on dst —
    * the Pregel message pattern as plain relational algebra, 3 hash
    * exchanges per round, nothing node-quadratic anywhere. Ranks are
    * localCheckpointed each round (the lineage would otherwise re-run
    * every prior round per action; at production scale: checkpoint to
    * the cluster store instead). The 850000·Σ product is computed in
    * DECIMAL(38,0): Σ shares ≤ N·10⁶, so ·850000 exceeds int64 already
    * at N ≈ 10⁷ nodes.
    *
    * @param edges (src, dst) pairs, any duplication/orientation
    * @param iterations fixed round count (the gate pins 3 — enough for
    *                   rank separation, cheap enough for a CTE oracle)
    * @return (node, pr_ppm) after `iterations` rounds
    */
  /** Canonical DOUBLED directed table of an undirected simple graph —
    * the shared prelude of the iterative operators: least/greatest
    * canonicalization, self-loop drop, dedup, both directions, eager
    * checkpoint (consumed once per round). The `*OnDir` entry points
    * accept this shape directly so a STAGED graph (one canonicalization
    * per process, the r7/r9 staging posture) skips the per-gate
    * re-canonicalization shuffle — on canonical input it is a no-op
    * dedup, but never a free one.
    */
  private def canonDir(edges: DataFrame): DataFrame = {
    val und = edges.select(least(col("src"), col("dst")).as("a"),
        greatest(col("src"), col("dst")).as("b"))
      .filter(col("a") =!= col("b")).distinct()
    und.select(col("a").as("src"), col("b").as("dst"))
      .unionAll(und.select(col("b").as("src"), col("a").as("dst")))
      .ckpt
  }

  def pageRank(edges: DataFrame, iterations: Int): DataFrame =
    pageRankOnDir(canonDir(edges), iterations)

  /** [[pageRank]] over an ALREADY canonical doubled directed table
    * (both directions present, no self-loops, distinct) — the staged
    * co-purchase posture; output identical to the raw-edge path by
    * construction (GraphSpec pins it).
    */
  def pageRankOnDir(dir: DataFrame, iterations: Int): DataFrame = {
    require(iterations >= 1, s"iterations must be >= 1, got $iterations")
    // r14 wave mode: each round's join + dst aggregate + ckpt burns
    // ~13 CPU-s of row-processing overhead on the sf0.1 graph where a
    // local integer loop does the identical ppm trajectory in ~50 ms;
    // capFactor 2 = the doubled-table form of the waveRows gate, and the
    // waveLabels node bound doubles as int64 headroom for the ppm sums.
    // Over-cap graphs take the loop below unchanged.
    Wave.collectIfSmall(dir, Seq("src", "dst"), capFactor = 2)(Wave.pair) match {
      case Some(pairs)
        if pairNodeCount(pairs) <= Wave.labelCap(dir.sparkSession) =>
        return pageRankLocal(dir.sparkSession, pairs, iterations)
      case _ =>
    }
    val deg = dir.groupBy(col("src")).agg(count(lit(1)).as("deg"))
      .withColumnRenamed("src", "node").ckpt
    // Per-round plan: the per-NODE share table (one row per node — pr div
    // deg happens before the edge join, not per edge row) broadcasts into
    // the edge join, so the only shuffle per round is the dst aggregate
    // (measured 13.2 s → 4.4 s vs the unhinted sort-merge form on the
    // sf0.1 co-purchase graph). The hint is size-gated ([[maybeBroadcast]]
    // on the node count — share has exactly one row per node), so a
    // 10⁹-node graph degrades to shuffle joins instead of dying on the
    // broadcast limit.
    val nNodes = deg.count()
    var pr = deg.select(col("node"), lit(1000000L).as("pr"))
    for (_ <- 1 to iterations) {
      val share = pr.join(deg, Seq("node"))
        .select(col("node").as("src"), expr("pr div deg").as("share"))
      pr = dir.join(maybeBroadcast(share, nNodes), Seq("src"))
        .groupBy(col("dst").as("node"))
        .agg(sum(col("share")).as("s"))
        .select(col("node"),
          expr("150000 + CAST(850000 AS DECIMAL(38,0)) * s div 1000000")
            .as("pr"))
        .ckpt
    }
    pr.select(col("node"), col("pr").cast("long").as("pr_ppm"))
  }

  /** Driver-local [[pageRankOnDir]] twin, value-for-value: pr⁰ = 10⁶ on
    * the out-degree key set; per round share(u) = pr(u) div deg(u) (only
    * nodes present in BOTH the pr table and the deg table share — the
    * join), s(v) sums shares over in-edges, and the new pr table holds
    * exactly the nodes that received ≥ 1 contribution (the dst
    * aggregate). Long math is exact here: Σpr ≤ n·10⁶ by induction
    * (mass is conserved or lost to truncation), so 850000·s ≤ 3.4·10¹⁸
    * at the 4·10⁶-node gate bound — inside int64 like the DECIMAL(38,0)
    * the distributed form uses.
    */
  private def pageRankLocal(ss: org.apache.spark.sql.SparkSession,
                            pairs: Array[(Long, Long)],
                            iterations: Int): DataFrame = {
    val g = new Wave.LocalDigraph(pairs)
    val pr = new Array[Long](g.n)
    var has = new Array[Boolean](g.n)
    var i = 0
    while (i < g.n) {
      if (g.isSrc(i)) { pr(i) = 1000000L; has(i) = true }
      i += 1
    }
    val s = new Array[Long](g.n)
    for (_ <- 1 to iterations) {
      java.util.Arrays.fill(s, 0L)
      val got = new Array[Boolean](g.n)
      var u = 0
      while (u < g.n) {
        if (has(u)) {
          val a = g.outOff(u)
          val bnd = g.outOff(u + 1)
          if (bnd > a) {
            val share = pr(u) / (bnd - a)
            var j = a
            while (j < bnd) { val v = g.outTgt(j); s(v) += share; got(v) = true; j += 1 }
          }
        }
        u += 1
      }
      var v = 0
      while (v < g.n) {
        if (got(v)) pr(v) = 150000L + 850000L * s(v) / 1000000L
        v += 1
      }
      has = got
    }
    val rows = scala.collection.mutable.ArrayBuffer.empty[(Long, Long)]
    i = 0
    while (i < g.n) { if (has(i)) rows += ((g.ids(i), pr(i))); i += 1 }
    Wave.localResult(ss, rows.toArray, Seq("node", "pr_ppm"))
  }

  /** R124: personalized PageRank — proximity to a SEED SET rather than
    * global importance (the recommender / fraud-neighborhood workhorse:
    * "rank everything by closeness to what this user already bought" /
    * "to these known-bad accounts"). Identical iteration shape to
    * [[pageRank]] — per-node share table, size-gated broadcast into the
    * edge join, one dst-aggregate shuffle per round — except the
    * teleport mass lands only on seeds:
    *
    *   pr⁰(v)   = 10⁶·[v ∈ S]
    *   prᵏ⁺¹(v) = 150000·[v ∈ S] + 850000·Σ_{u→v} (prᵏ(u) div deg(u)) div 10⁶
    *
    * all integer ppm with per-step floor division, so any engine
    * replays it bit-for-bit. Non-seed nodes unreachable from S stay at
    * exactly 0 and are kept (the "no path" answer is part of the
    * result). Seeds dataframe joins by node id — never collected to the
    * driver, so a million-seed personalization vector is fine; duplicate
    * seed ids are collapsed (set semantics), and a seed with NO edges is
    * still reported — it keeps exactly its teleport mass 150000 from the
    * first iteration on (its outflow has nowhere to go, the standard
    * dangling-node treatment).
    *
    * @param edges (src, dst); canonicalized to an undirected simple graph
    * @param seeds one column `node` — the personalization support
    */
  def personalizedPageRank(edges: DataFrame, seeds: DataFrame,
                           iterations: Int): DataFrame =
    personalizedPageRankOnDir(canonDir(edges), seeds, iterations)

  /** [[personalizedPageRank]] over an already canonical doubled table
    * (the staged-graph posture; identical output, GraphSpec-pinned).
    */
  def personalizedPageRankOnDir(dir: DataFrame, seeds: DataFrame,
                                iterations: Int): DataFrame = {
    require(iterations >= 1, s"iterations must be >= 1, got $iterations")
    // r14 wave mode — the [[pageRankOnDir]] dispatch with the seeded
    // universe (teleport mass only on seeds, zero-inflow nodes kept)
    val wave = for {
      pairs <- Wave.collectIfSmall(dir, Seq("src", "dst"), capFactor = 2)(Wave.pair)
      sd <- Wave.collectIdsIfSmall(seeds, "node", distinct = true)
      if pairNodeCount(pairs) + sd.length <= Wave.labelCap(dir.sparkSession)
    } yield pprLocal(dir.sparkSession, pairs, sd, iterations)
    wave match {
      case Some(out) => return out
      case None =>
    }
    val deg = dir.groupBy(col("src")).agg(count(lit(1)).as("deg"))
      .withColumnRenamed("src", "node").ckpt
    // node universe = edge endpoints ∪ seeds: an isolated seed is the
    // extreme no-path answer and must surface with its teleport mass,
    // not vanish. Seeds are set-deduped — duplicate ids must not
    // double-count teleport or fan out the joins.
    val seedSet = seeds.select(col("node")).distinct()
    val seeded = deg.select(col("node"))
      .unionAll(seedSet).distinct()
      .join(seedSet.select(col("node"), lit(1L).as("__s")), Seq("node"), "left")
      .select(col("node"), coalesce(col("__s"), lit(0L)).as("is_seed"))
      .ckpt
    val nNodes = seeded.count()
    var pr = seeded.select(col("node"),
      (col("is_seed") * 1000000L).as("pr"))
    for (_ <- 1 to iterations) {
      val share = pr.join(deg, Seq("node"))
        .select(col("node").as("src"), expr("pr div deg").as("share"))
      pr = dir.join(maybeBroadcast(share, nNodes), Seq("src"))
        .groupBy(col("dst").as("node"))
        .agg(sum(col("share")).as("s"))
        // right join keeps zero-inflow nodes (and their teleport mass if
        // seeded) — personalization must not silently drop them
        .join(seeded, Seq("node"), "right")
        .select(col("node"),
          expr("""is_seed * 150000
                 | + CAST(850000 AS DECIMAL(38,0)) * coalesce(s, 0) div 1000000"""
            .stripMargin).as("pr"))
        .ckpt
    }
    pr.select(col("node"), col("pr").cast("long").as("ppr_ppm"))
  }

  /** Driver-local [[personalizedPageRankOnDir]] twin: universe =
    * out-degree key set ∪ seeds (the right join keeps every universe
    * node each round, zero inflow included); pr⁰ = 10⁶·[seed];
    * pr'(v) = 150000·[seed] + 850000·s(v) div 10⁶ with s contributions
    * only from nodes in the pr∩deg join. Same int64 headroom argument
    * as [[pageRankLocal]] (teleport mass ≤ the global case).
    */
  private def pprLocal(ss: org.apache.spark.sql.SparkSession,
                       pairs: Array[(Long, Long)], sd: Array[Long],
                       iterations: Int): DataFrame = {
    val g = new Wave.LocalDigraph(pairs, sd)
    val seed = new Array[Boolean](g.n)
    sd.foreach(s => seed(g.idxOf(s)) = true)
    // universe = src key set ∪ seeds (the right-joined `seeded` table);
    // dst-only nodes receive no pr row, exactly like the right join
    val uni = new Array[Boolean](g.n)
    var i = 0
    while (i < g.n) { uni(i) = g.isSrc(i) || seed(i); i += 1 }
    val pr = new Array[Long](g.n)
    i = 0
    while (i < g.n) { if (uni(i) && seed(i)) pr(i) = 1000000L; i += 1 }
    val s = new Array[Long](g.n)
    for (_ <- 1 to iterations) {
      java.util.Arrays.fill(s, 0L)
      var u = 0
      while (u < g.n) {
        if (uni(u)) {
          val a = g.outOff(u)
          val bnd = g.outOff(u + 1)
          if (bnd > a) {
            val share = pr(u) / (bnd - a)
            var j = a
            while (j < bnd) { s(g.outTgt(j)) += share; j += 1 }
          }
        }
        u += 1
      }
      var v = 0
      while (v < g.n) {
        if (uni(v))
          pr(v) = (if (seed(v)) 150000L else 0L) + 850000L * s(v) / 1000000L
        v += 1
      }
    }
    val rows = scala.collection.mutable.ArrayBuffer.empty[(Long, Long)]
    i = 0
    while (i < g.n) { if (uni(i)) rows += ((g.ids(i), pr(i))); i += 1 }
    Wave.localResult(ss, rows.toArray, Seq("node", "ppr_ppm"))
  }

  /** Per-node triangle participation and local clustering coefficient in
    * exact ppm — "how clique-like is each node's neighborhood", the
    * node-level refinement of [[triangleCount]].
    *
    * coeff(v) = 2·tri(v)·10⁶ div (deg(v)·(deg(v)−1)), NULL for leaves
    * (deg < 2 — NULLIF keeps the division total in both engines).
    * Integer headroom: tri(v) ≤ C(deg,2), so the scaled numerator stays
    * inside int64 for deg up to ~2·10⁶; beyond that widen to decimal.
    *
    * Shape: the same degree-ordered orientation + adjacency-intersection
    * as [[triangleCount]] — but the per-node split means each closing
    * node must be NAMED, so the intersection array explodes (bounded: one
    * row per triangle corner, 3T rows total — still never the wedge set,
    * which is what quadratic formulations shuffle).
    */
  def clusteringCoefficient(edges: DataFrame): DataFrame = {
    val e = edges.select(least(col("src"), col("dst")).as("a"),
        greatest(col("src"), col("dst")).as("b"))
      .filter(col("a") =!= col("b")).distinct()
      .ckpt
    val deg = e.select(col("a").as("v")).unionAll(e.select(col("b").as("v")))
      .groupBy(col("v")).agg(count(lit(1)).as("deg"))
      .ckpt
    val oriented = e
      .join(deg.withColumnRenamed("v", "a").withColumnRenamed("deg", "da"), Seq("a"))
      .join(deg.withColumnRenamed("v", "b").withColumnRenamed("deg", "db"), Seq("b"))
      .select(
        when(col("da") < col("db") || (col("da") === col("db") && col("a") < col("b")),
          col("a")).otherwise(col("b")).as("u"),
        when(col("da") < col("db") || (col("da") === col("db") && col("a") < col("b")),
          col("b")).otherwise(col("a")).as("w"))
      .ckpt
    val adj = oriented.groupBy(col("u"))
      .agg(sort_array(collect_list(col("w"))).as("nbrs"))
    // Explicit exchange width for the intersection join (r14, guide
    // §2.5): AQE sizes the post-shuffle stage from the ~5 MB of packed
    // neighbor arrays, but the intersect + corner explode below runs
    // far more compute than bytes (measured: 8.4 CPU-s on 5 tasks, 2 s
    // single-task wall). The repartition IS the join's exchange on w —
    // exchange count unchanged, spread at the deployment-scaled width.
    val triParts = edges.sparkSession.conf
      .get("spark.sql.shuffle.partitions").toInt
    // One pass over the intersected edges (r14): emit the two endpoint
    // contributions (size(xs) each) and the corner contributions (1 per
    // named closing node) as one exploded struct array — the previous
    // three-branch union re-read a checkpointed (u, w, xs) table three
    // times; same contribution multiset by construction.
    val contrib = oriented
      .join(adj.select(col("u"), col("nbrs").as("n1")), Seq("u"))
      .repartition(triParts, col("w"))
      .join(adj.select(col("u").as("w"), col("nbrs").as("n2")), Seq("w"))
      .select(col("u"), col("w"), array_intersect(col("n1"), col("n2")).as("xs"))
      .filter(size(col("xs")) > 0)
      .select(explode(expr(
        """concat(
          |  array(named_struct('v', u, 'c', CAST(size(xs) AS BIGINT)),
          |        named_struct('v', w, 'c', CAST(size(xs) AS BIGINT))),
          |  transform(xs, x -> named_struct('v', x, 'c', CAST(1 AS BIGINT))))"""
          .stripMargin)).as("s"))
      .select(col("s.v").as("v"), col("s.c").as("c"))
    val triNode = contrib.groupBy(col("v")).agg(sum(col("c")).as("n_triangles"))
    deg.join(triNode, Seq("v"), "left")
      .na.fill(0L, Seq("n_triangles"))
      .select(col("v").as("node"), col("deg"), col("n_triangles"),
        expr("2 * n_triangles * 1000000 div nullif(deg * (deg - 1), 0)")
          .as("coeff_ppm"))
  }

  /** Weighted fixed-iteration PageRank — same integer contract as
    * [[pageRank]], with per-edge weights steering the mass:
    *
    *   pr'(v) = 150000 + (850000 · Σ_{u→v} (pr(u)·w(u,v) div strength(u)))
    *            div 10⁶,   strength(u) = Σ_w w(u,·)
    *
    * The pr·w product runs in DECIMAL(38,0) (pr ≤ N·10⁶ and weights are
    * unbounded counts — int64 headroom is gone at ~10⁵·weight already).
    * Truncation now happens per EDGE (not per node), which remains
    * order-free: each directed edge's share is an independent integer
    * expression. On the co-purchase graph the natural weight is the
    * shared-order multiplicity — a pair bought together 50× pulls rank
    * harder than a one-off.
    *
    * @param edges (src, dst, w) with w a positive integral weight;
    *              canonicalized+deduped by (src,dst) pair taking MAX(w)
    *              (a reversed duplicate with a different weight is a data
    *              bug this makes deterministic), then doubled.
    */
  def pageRankWeighted(edges: DataFrame, iterations: Int): DataFrame = {
    require(iterations >= 1, s"iterations must be >= 1, got $iterations")
    val und = edges.select(least(col("src"), col("dst")).as("a"),
        greatest(col("src"), col("dst")).as("b"), col("w").cast("long").as("w"))
      .filter(col("a") =!= col("b"))
      .groupBy(col("a"), col("b")).agg(max(col("w")).as("w"))
    val dir = und.select(col("a").as("src"), col("b").as("dst"), col("w"))
      .unionAll(und.select(col("b").as("src"), col("a").as("dst"), col("w")))
      .ckpt
    val strength = dir.groupBy(col("src")).agg(sum(col("w")).as("strength"))
      .withColumnRenamed("src", "node").ckpt
    // Unlike [[pageRank]], the share DEPENDS on the edge weight, so the
    // broadcastable per-node table carries (pr, strength) and the per-edge
    // expression is the single multiply-divide — still one shuffle (the
    // dst aggregate) per round. Size-gated like [[pageRank]].
    val nNodes = strength.count()
    var pr = strength.select(col("node"), lit(1000000L).as("pr"))
    for (_ <- 1 to iterations) {
      val ranks = pr.join(strength, Seq("node"))
        .select(col("node").as("src"), col("pr"), col("strength"))
      pr = dir.join(maybeBroadcast(ranks, nNodes), Seq("src"))
        .select(col("dst").as("node"),
          expr("CAST(pr AS DECIMAL(38,0)) * w div strength").as("share"))
        .groupBy(col("node"))
        .agg(sum(col("share")).as("s"))
        .select(col("node"),
          expr("150000 + CAST(850000 AS DECIMAL(38,0)) * s div 1000000")
            .as("pr"))
        .ckpt
    }
    pr.select(col("node"), col("pr").cast("long").as("pr_ppm"))
  }

  /** One-scan-per-metric structural summary of an undirected graph:
    * node/edge counts, degree extremes, mean degree in exact ppm
    * (2m·10⁶ div n), component count and largest-component size (via
    * the O(log n) star-contraction CC in [[graft.dedup.Dedup]] — the
    * summary never materializes anything node-quadratic).
    */
  def summary(edges: DataFrame): DataFrame = {
    val und = edges.select(least(col("src"), col("dst")).as("a"),
        greatest(col("src"), col("dst")).as("b"))
      .filter(col("a") =!= col("b")).distinct()
      .ckpt
    val deg = und.select(col("a").as("v")).unionAll(und.select(col("b").as("v")))
      .groupBy(col("v")).agg(count(lit(1)).as("deg"))
    val degStats = deg.agg(count(lit(1)).as("n_nodes"),
      max(col("deg")).as("max_degree"), min(col("deg")).as("min_degree"))
    val m = und.agg(count(lit(1)).as("n_edges"))
    val comps = graft.dedup.Dedup.connectedComponentsStar(
        und.select(col("a").as("id_a"), col("b").as("id_b")))
      .groupBy(col("cluster_id")).agg(count(lit(1)).as("sz"))
      .agg(count(lit(1)).as("n_components"),
        max(col("sz")).as("largest_component"))
    degStats.crossJoin(m).crossJoin(comps)
      .select(col("n_nodes"), col("n_edges"), col("max_degree"),
        col("min_degree"),
        expr("2 * n_edges * 1000000 div n_nodes").as("avg_degree_ppm"),
        col("n_components"), col("largest_component"))
  }

  /** Fixed-iteration synchronous label propagation — community detection
    * as deterministic relational algebra.
    *
    * Every node starts labelled with its own id; each round, every node
    * SIMULTANEOUSLY adopts the most frequent label among its neighbors,
    * ties broken by the SMALLEST label. Unlike classic async LPA (whose
    * result depends on visit order — useless under a cross-engine oracle),
    * the synchronous rule with a total tie order is a pure function of
    * the graph, so a chained-CTE oracle reproduces it row for row.
    *
    * Determinism argument: within a node's neighbor-label histogram the
    * labels are distinct, so (count, −label) pairs are distinct and the
    * argmax is unique — `max_by` never sees a tie. Isolated nodes don't
    * occur (the node set is edge-derived).
    *
    * Scale shape per round: one edge⋈label hash join keyed on src, one
    * (dst, label) count aggregate, one per-dst argmax aggregate — the
    * same Pregel message pattern as [[pageRank]], 3 hash exchanges, no
    * node-quadratic step. Labels are localCheckpointed per round.
    *
    * @return (node, lbl) after `iterations` synchronous rounds
    */
  def labelPropagation(edges: DataFrame, iterations: Int): DataFrame =
    labelPropagationOnDir(canonDir(edges), iterations)

  /** [[labelPropagation]] over an already canonical doubled table (the
    * staged-graph posture; identical output, GraphSpec-pinned).
    */
  def labelPropagationOnDir(dir: DataFrame, iterations: Int): DataFrame = {
    require(iterations >= 1, s"iterations must be >= 1, got $iterations")
    // r14 wave mode: the synchronous histogram argmax is a pure function
    // of the previous round's labels — a local sweep replays it exactly
    // (same (count, −label) total order); dispatch as in [[pageRankOnDir]]
    Wave.collectIfSmall(dir, Seq("src", "dst"), capFactor = 2)(Wave.pair) match {
      case Some(pairs)
        if pairNodeCount(pairs) <= Wave.labelCap(dir.sparkSession) =>
        return labelPropLocal(dir.sparkSession, pairs, iterations)
      case _ =>
    }
    // Same broadcast posture as [[pageRank]]: the label table is one row
    // per node; hinting it into the edge join leaves the histogram
    // aggregate as the round's only full-size shuffle (the dst argmax
    // then reduces (dst, lbl) pairs, already a fraction of the edges).
    // Size-gated on the node count ([[maybeBroadcast]]).
    var lbl = dir.select(col("src").as("node")).distinct()
      .select(col("node"), col("node").as("lbl"))
      .ckpt
    val nNodes = lbl.count()
    for (_ <- 1 to iterations) {
      lbl = dir
        .join(maybeBroadcast(lbl.withColumnRenamed("node", "src"), nNodes),
          Seq("src"))
        .groupBy(col("dst"), col("lbl"))
        .agg(count(lit(1)).as("n"))
        .groupBy(col("dst").as("node"))
        .agg(max_by(col("lbl"), struct(col("n"), -col("lbl"))).as("lbl"))
        .ckpt
    }
    lbl
  }

  /** Driver-local [[labelPropagationOnDir]] twin: lbl⁰(v) = v on the src
    * key set; per round every dst with ≥ 1 labelled in-neighbor takes
    * the (max count, then smallest) label of the PREVIOUS round's
    * histogram — the synchronous max_by((n, −lbl)) argmax exactly.
    */
  private def labelPropLocal(ss: org.apache.spark.sql.SparkSession,
                             pairs: Array[(Long, Long)],
                             iterations: Int): DataFrame = {
    val g = new Wave.LocalDigraph(pairs)
    // labels are node ids, so they live in the same dense index space;
    // the histogram is a stamped count array (cleared by stamp compare,
    // not by refill) and the argmax is maintained online: counts grow
    // one at a time, so `c > bestN`, ties to the smaller RAW id, lands
    // on the same (count, −label) max the distributed max_by takes
    var lbl = new Array[Int](g.n)
    var has = java.util.Arrays.copyOf(g.isSrc, g.n)
    var i = 0
    while (i < g.n) { lbl(i) = i; i += 1 }
    val counts = new Array[Int](g.n)
    val stamp = new Array[Int](g.n)
    java.util.Arrays.fill(stamp, -1)
    for (_ <- 1 to iterations) {
      val newLbl = new Array[Int](g.n)
      val newHas = new Array[Boolean](g.n)
      var v = 0
      while (v < g.n) {
        var best = -1
        var bestN = 0
        var j = g.inOff(v)
        val bnd = g.inOff(v + 1)
        while (j < bnd) {
          val u = g.inSrc(j)
          if (has(u)) {
            val l = lbl(u)
            if (stamp(l) != v) { stamp(l) = v; counts(l) = 0 }
            counts(l) += 1
            val c = counts(l)
            if (best < 0 || c > bestN ||
                (c == bestN && g.ids(l) < g.ids(best))) {
              best = l; bestN = c
            }
          }
          j += 1
        }
        if (best >= 0) { newLbl(v) = best; newHas(v) = true }
        v += 1
      }
      // stamps are keyed by the inner node id, which repeats across v —
      // reset between rounds so a stale count cannot leak
      java.util.Arrays.fill(stamp, -1)
      lbl = newLbl
      has = newHas
    }
    val rows = scala.collection.mutable.ArrayBuffer.empty[(Long, Long)]
    i = 0
    while (i < g.n) { if (has(i)) rows += ((g.ids(i), g.ids(lbl(i)))); i += 1 }
    Wave.localResult(ss, rows.toArray, Seq("node", "lbl"))
  }

  /** Fixed-round k-core peel — repeatedly delete nodes of degree < k
    * (with their edges) until the k-core remains: the densest-subgraph
    * screen a co-occurrence graph gets before community/centrality work,
    * and the standard noise filter on near-dup candidate graphs (a node
    * that survives the 3-core sits in genuinely clustered duplication,
    * not a stray band collision).
    *
    * Fixed `rounds` rather than loop-to-fixpoint: each convergence test
    * is a driver-side action (a count per round), and the gate's oracle
    * is a straight-line chained CTE — the same contract as [[pageRank]]
    * and [[labelPropagation]]. Peeling is monotone (the surviving edge
    * set only shrinks), so rounds beyond convergence are no-ops and a
    * caller who needs the true fixpoint picks `rounds` ≥ the peel depth
    * (GraphSpec pins fixed-round ≡ fixpoint on a deep-peel chain).
    *
    * Per-round shape: one degree aggregate over the current edge set,
    * then the survivor set — one row per node, the [[pageRank]] broadcast
    * posture — hinted into two semi-joins that restrict both endpoints.
    * The only full-size shuffle per round is the degree aggregate; the
    * edge set is localCheckpointed so each round scans the PEELED
    * residue, not the original graph's lineage.
    *
    * @param edges  (src, dst) pairs, any duplication/orientation
    * @param k      minimum surviving degree
    * @param rounds fixed peel round count
    * @return (node, deg_core): surviving nodes with their degree in the
    *         peeled subgraph
    */
  def kCore(edges: DataFrame, k: Int, rounds: Int): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    require(rounds >= 1, s"rounds must be >= 1, got $rounds")
    val und = edges.select(least(col("src"), col("dst")).as("a"),
        greatest(col("src"), col("dst")).as("b"))
      .filter(col("a") =!= col("b")).distinct()
    var dir = und.select(col("a").as("src"), col("b").as("dst"))
      .unionAll(und.select(col("b").as("src"), col("a").as("dst")))
      .ckpt
    var it = 0
    var converged = false
    var lastDeg: DataFrame = null
    while (it < rounds && !converged) {
      // out-degree ≡ undirected degree in the both-directions encoding;
      // the node-sized table is checkpointed once and feeds the stats
      // probe, both semi-joins, and (on convergence) the result itself
      val deg = dir.groupBy(col("src")).agg(count(lit(1)).as("deg"))
        .ckpt
      val Array(nNodes, nSurvivors) = deg
        .agg(count(lit(1)), sum(when(col("deg") >= k, 1L).otherwise(0L)))
        .collect().head.toSeq.map(v => if (v == null) 0L else v.asInstanceOf[Long]).toArray
      if (nSurvivors == nNodes) {
        // peeling is monotone: a round that deletes nothing makes every
        // remaining round a no-op — same result as running all `rounds`,
        // minus the dead edge-set materializations
        converged = true
        lastDeg = deg
      } else {
        // nSurvivors IS keep's row count — the probe already paid for it
        val keep = deg.filter(col("deg") >= k).select(col("src"))
        dir = dir
          .join(maybeBroadcast(keep, nSurvivors), Seq("src"), "left_semi")
          .join(maybeBroadcast(keep.withColumnRenamed("src", "dst"),
            nSurvivors), Seq("dst"), "left_semi")
          .select(col("src"), col("dst"))
          .ckpt
        it += 1
      }
    }
    if (converged)
      lastDeg.select(col("src").as("node"), col("deg").as("deg_core"))
    else dir.groupBy(col("src").as("node"))
      .agg(count(lit(1)).as("deg_core"))
  }

  /** Multi-source BFS hop distance: minimum hops from any seed node,
    * relaxed for a fixed number of rounds — "what's within k hops of
    * the flagged set", the reachability screen behind blast-radius
    * analysis on dependency graphs and taint spread on near-dup graphs.
    *
    * Fixed rounds for the same reasons as [[kCore]]: relaxation is
    * monotone (labels only decrease, new nodes only appear), rounds ≥
    * diameter-from-seeds ≡ the true distance, and the oracle stays a
    * straight-line chained CTE. Per round the one-row-per-node distance
    * table broadcasts into the edge join ([[pageRank]] posture) and the
    * only full-size shuffle is the dst min-aggregate.
    *
    * @param edges (src, dst) pairs, any duplication/orientation
    * @param seeds one `node` column; seeds absent from the graph report
    *              hops = 0 (they are their own component)
    * @return (node, hops ≤ rounds) for every node reached
    */
  /** Fixed-round k-truss peel — repeatedly delete edges supported by
    * fewer than k−2 triangles until every surviving edge sits in a
    * dense, triangle-reinforced neighborhood: the EDGE-level density
    * screen where [[kCore]] is the node-level one (a k-core can still
    * contain bridge edges; a k-truss cannot). On near-dup candidate
    * graphs the 4-truss keeps only corroborated duplicate clusters.
    *
    * Per round: one per-edge support count (the common-neighbor join —
    * bounded by the wedge count like [[triangleCount]], never
    * node-quadratic), one filter, localCheckpointed residue. Monotone,
    * so the [[kCore]] convergence early-exit applies: a round that
    * deletes nothing ends the loop with the fixed-round result.
    *
    * @return surviving (a, b, support) with support RECOMPUTED on the
    *         final residue (the truss's own triangle counts)
    */
  /** Per-edge triangle-support (common-neighbor) counts of a canonical
    * (a &lt; b, distinct) edge set via sorted adjacency-list
    * INTERSECTION — the R63 counting trick applied to edges: the wedge
    * set (41M rows on the sf0.1 co-purchase graph) is never
    * materialized or shuffled; each edge pays one in-projection
    * `array_intersect` over its endpoints' neighbor lists. Replaced the
    * wedge join + left-semi + groupBy formulation that made the truss
    * family the slowest non-headline gates (graph_trussness 58 s,
    * graph_trussness_inc 212 s in the r7 full-gate bench) — hub edges
    * expanded by hub degree into a Σdeg-sized shuffle every peel round.
    *
    * Measured negative result (r7, keep for the record): the
    * degree-ORIENTED variant (enumerate each triangle once on its base
    * edge, explode +1 credits to the other two edges, re-aggregate)
    * bounds the intersection work by Σ outdeg² but SHUFFLES 3T credit
    * rows — and the co-purchase graph is clique-dense (baskets are
    * cliques, T ≫ m), so it benched ~1.5–2× SLOWER than this in-place
    * form (ktruss 8.9→11.1 s, trussness 18→27 s, embeddedness
    * 2.3→4.7 s at sf0.1). Orientation pays off when wedges dwarf
    * triangles; here the per-edge intersect stays in codegen'd local
    * array work with zero extra exchange.
    */
  private def supportByIntersect(und: DataFrame): DataFrame = {
    val d = und.select(col("a").as("v"), col("b").as("w"))
      .unionAll(und.select(col("b").as("v"), col("a").as("w")))
    val adj = d.groupBy(col("v"))
      .agg(sort_array(collect_list(col("w"))).as("ns"))
    und
      .join(adj.select(col("v").as("a"), col("ns").as("na")), Seq("a"))
      .join(adj.select(col("v").as("b"), col("ns").as("nb")), Seq("b"))
      .select(col("a"), col("b"),
        size(array_intersect(col("na"), col("nb"))).cast("long")
          .as("support"))
  }

  /** R191: deterministic random-walk corpus generation — fixed-length
    * walks from a seed set (node2vec with p = q = 1), the standard
    * input corpus for graph-embedding training (DeepWalk) and a
    * neighborhood sampler for GNN minibatching. "Random" choices are
    * the house portable hash: step i at node v picks sorted-neighbor
    * index h48(seed|i|v) mod deg(v) — engine-replayable (the oracle
    * unrolls the same walk in SQL), seed-path reproducible forever, no
    * RNG state. Isolated current nodes absorb (the walk keeps
    * appending the node), keeping path length fixed.
    *
    * Scale shape: adjacency is one sorted-list aggregate (node-keyed);
    * each step is ONE hash join of the walk table (|seeds| rows)
    * against it plus a per-row projection — L steps = L joins, walk
    * state never exceeds |seeds| rows, and the neighbor pick is an
    * `element_at` on the joined list, not an explode.
    *
    * @return (seed, path) — "v0->v1->...->vL" over node ids
    */
  def randomWalks(edges: DataFrame, seeds: DataFrame, steps: Int): DataFrame = {
    require(steps >= 1, s"steps must be >= 1, got $steps")
    val und = edges.select(least(col("src"), col("dst")).as("a"),
        greatest(col("src"), col("dst")).as("b"))
      .filter(col("a") =!= col("b")).distinct()
    val dir = und.select(col("a").as("src"), col("b").as("dst"))
      .unionAll(und.select(col("b").as("src"), col("a").as("dst")))
    val adj = dir.groupBy(col("src").as("node"))
      .agg(sort_array(collect_list(col("dst"))).as("ns"))
      .ckpt
    def h48(c: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
      conv(substring(md5(c), 1, 12), 16, 10).cast("long")
    var walk = seeds.select(col("node").as("seed"), col("node").as("cur"),
      col("node").cast("string").as("path"))
    for (i <- 1 to steps) {
      val idx = pmod(h48(concat_ws("|", col("seed"), lit(i), col("cur"))),
        size(col("ns")))
      val nxt = when(col("ns").isNull, col("cur"))
        .otherwise(element_at(col("ns"), (idx + 1).cast("int")))
      walk = walk
        .join(adj, walk("cur") === adj("node"), "left")
        .select(col("seed"), nxt.as("cur"),
          concat(col("path"), lit("->"), nxt.cast("string")).as("path"))
    }
    walk.select(col("seed"), col("path"))
  }

  /** R183: exact per-edge common-neighbor (embeddedness / triangle
    * support) counts — input canonicalized, then [[supportByIntersect]].
    */
  def edgeSupport(edges: DataFrame): DataFrame = {
    val und = edges.select(least(col("src"), col("dst")).as("a"),
        greatest(col("src"), col("dst")).as("b"))
      .filter(col("a") =!= col("b")).distinct()
      .ckpt
    supportByIntersect(und)
  }

  def kTruss(edges: DataFrame, k: Int, rounds: Int): DataFrame = {
    require(k >= 3, s"k must be >= 3, got $k")
    require(rounds >= 1, s"rounds must be >= 1, got $rounds")
    kTrussCanon(edges.select(least(col("src"), col("dst")).as("a"),
        greatest(col("src"), col("dst")).as("b"))
      .filter(col("a") =!= col("b")).distinct()
      .ckpt, k, rounds)
  }

  /** Supports of `edges` measured WITHIN the canonical survivor set
    * `surv` — ROW-form, expanded from each edge's lower-static-degree
    * endpoint: candidate rows (edge, neighbor) close against `surv`
    * with a semi-join. No per-node neighbor ARRAYS anywhere — the
    * hub-safe slow path of the hybrid support plan; only edges with a
    * hub endpoint take it.
    */
  private def supportRows(edges: DataFrame, surv: DataFrame,
                          survDir: DataFrame, sideDeg: DataFrame): DataFrame = {
    val aLower = col("da") < col("db") ||
      (col("da") === col("db") && col("a") < col("b"))
    val sided = edges
      .join(sideDeg.select(col("u").as("a"), col("d").as("da")), Seq("a"), "left")
      .join(sideDeg.select(col("u").as("b"), col("d").as("db")), Seq("b"), "left")
      .select(col("a"), col("b"),
        when(aLower, col("a")).otherwise(col("b")).as("lo"),
        when(aLower, col("b")).otherwise(col("a")).as("hi"))
    val cand = sided.join(survDir.withColumnRenamed("u", "lo"), Seq("lo"))
      .filter(col("w") =!= col("hi"))
      .select(col("a"), col("b"),
        least(col("hi"), col("w")).as("ca"), greatest(col("hi"), col("w")).as("cb"))
    val counts = cand
      .join(surv.select(col("a").as("ca"), col("b").as("cb")), Seq("ca", "cb"),
        "left_semi")
      .groupBy(col("a"), col("b")).agg(count(lit(1)).as("support"))
    edges.join(counts, Seq("a", "b"), "left")
      .select(col("a"), col("b"),
        coalesce(col("support"), lit(0L)).as("support"))
  }

  /** [[kTruss]] over an ALREADY canonical (a < b, distinct,
    * checkpointed) edge set — the per-level entry point of [[trussness]]
    * (each level's residue is canonical by construction; the defensive
    * re-canonicalization is one wasted distinct shuffle per level).
    *
    * TARGETED peel (r11): ONE full support pass seeds a per-edge
    * support table; after that a removal can only change the support
    * of edges sharing a triangle with it, so each round refreshes only
    * the triangle neighborhood of the edges that just fell (discovered
    * against the STATIC input graph — a superset of current triangles,
    * so no affected edge is missed) within the CURRENT survivor set.
    * Trajectory and final supports IDENTICAL to the full per-round
    * recompute (monotonicity: the edge set only shrinks, and a shrink
    * only touches triangle-adjacent edges).
    *
    * HUB-SAFE HYBRID (r12, the verdict's remaining scale hazard):
    * neighbor-list arrays are built ONLY for nodes whose static degree
    * is ≤ `spark.graft.graph.hubDegree` (default 65536) — bounded row
    * size by construction; edges touching a hub take an exact ROW-form
    * path ([[supportRows]] / the row discovery) instead. On a hub-free
    * graph the hub set is empty and every plan is EXACTLY the r11
    * array-intersect plan plus empty side-branches. `seedSupport` lets
    * [[trussness]]'s level k+1 reuse level k's final supports instead
    * of re-running the full pass per level.
    */
  private def kTrussCanon(canonical: DataFrame, k: Int, rounds: Int,
                          seedSupport: Option[DataFrame] = None,
                          hubFree: Option[Boolean] = None): DataFrame = {
    if (canonical.isEmpty)
      return canonical.select(col("a"), col("b"), lit(0L).as("support"))
    // WAVE path first (r13, the barrier diet): a driver-small level
    // peels locally after ONE adjacency collect — zero per-round jobs
    kTrussCanonWave(canonical, k, rounds) match {
      case Some(sup) => sup
      case None =>
        // the hub DECISION is one cheap row aggregate (no arrays built);
        // callers that peel nested levels compute it once — degrees only
        // shrink, so a hub-free graph stays hub-free all the way down
        val isHubFree = hubFree.getOrElse(hubFreeOf(canonical))
        if (isHubFree) kTrussCanonFast(canonical, k, rounds, seedSupport)
        else kTrussCanonHubSafe(canonical, k, rounds, seedSupport)
    }
  }

  /** WAVE-MODE single-level peel (r13, the trussness barrier diet —
    * the direct-peel sibling of [[peelCandidates]]): when the level's
    * edge set is driver-small ([[Wave.rowCap]], default
    * 2*10^6 — adjacency entries are exactly 2|E|, so one row count
    * gates both structures) and node ids are non-negative ints under
    * 2^31 (edge keys pack into one long), collect the edge list ONCE
    * and run every peel round as driver arithmetic via
    * [[LocalTrussPeel]] — the r12 distributed rounds paid ~6
    * fixed-cost jobs per round, ~1.1 s each, on waves of a few
    * hundred edges. Supports after the final round are the
    * survivor-set supports the distributed peel ends with (static
    * adjacency minus accumulated removals ≡ rebuilt survivor
    * adjacency), so cross-level seeding semantics are preserved by
    * construction. Returns None — and the caller's unchanged
    * distributed strategies run — for over-cap levels or out-of-range
    * ids; the DATA PATH at scale is untouched.
    */
  private def kTrussCanonWave(canonical: DataFrame, k: Int,
                              rounds: Int): Option[DataFrame] = {
    Wave.collectIfSmall(canonical, Seq("a", "b"), widenInt = true,
      idBound = true)(Wave.pair).map { edges =>
      val lp = new LocalTrussPeel(edges)
      lp.peelLevel(k, rounds)
      localSupDf(canonical, lp)
    }
  }

  /** The alive support table of a finished local peel, re-typed to the
    * canonical frame's node types.
    */
  private def localSupDf(canonical: DataFrame,
                         lp: LocalTrussPeel): DataFrame = {
    val ss = canonical.sparkSession
    val aT = canonical.schema("a").dataType
    val bT = canonical.schema("b").dataType
    Wave.localResult(ss, lp.aliveEntries.toArray, Seq("a", "b", "support"))
      .select(col("a").cast(aT).as("a"), col("b").cast(bT).as("b"),
        col("support"))
  }

  /** Driver-local k-truss peel state over a packed edge list: sorted
    * neighbor arrays, accumulated removed-neighbor sets, and the alive
    * (edge → support) map. The two compute-heavy phases — initial
    * supports and affected-edge refreshes — run data-parallel across
    * driver cores (adj/removed are READ-ONLY during each phase,
    * results land in preallocated slots); all map mutation stays
    * sequential between phases. Support math is the distributed
    * plan's own: |N(a) ∩ N(b)| over static adjacency minus removed
    * neighbors, so round trajectories are IDENTICAL. Levels COMPOSE:
    * [[peelLevel]] at k+1 continues from level k's survivors exactly
    * like the distributed cross-level seeding.
    */
  private final class LocalTrussPeel(edges: Array[(Long, Long)],
                                     candidates: Option[Array[Long]] = None) {
    private def pack(a: Long, b: Long): Long = (a << 31) | b
    /** Common neighbors under the STATIC adjacency (removals ignored)
      * — the merged-graph closure queries of the local incremental
      * sweep.
      */
    def forCommonStatic(a: Long, b: Long)(f: Long => Unit): Unit =
      common(a, b)(f)
    private val adj = {
      val b = scala.collection.mutable.LongMap
        .empty[scala.collection.mutable.ArrayBuffer[Long]]
      edges.foreach { case (x, y) =>
        b.getOrElseUpdate(x, scala.collection.mutable.ArrayBuffer.empty) += y
        b.getOrElseUpdate(y, scala.collection.mutable.ArrayBuffer.empty) += x
      }
      val m = scala.collection.mutable.LongMap.empty[Array[Long]]
      b.foreach { case (v, ws) => m(v) = ws.toArray.sorted }
      m
    }
    private val removed = scala.collection.mutable.LongMap
      .empty[scala.collection.mutable.HashSet[Long]]
    private def common(a: Long, b: Long)(f: Long => Unit): Unit = {
      val na = adj.getOrElse(a, Array.emptyLongArray)
      val nb = adj.getOrElse(b, Array.emptyLongArray)
      var i = 0; var j = 0
      while (i < na.length && j < nb.length) {
        if (na(i) < nb(j)) i += 1
        else if (na(i) > nb(j)) j += 1
        else { f(na(i)); i += 1; j += 1 }
      }
    }
    private def supportNow(x: Long, y: Long): Long = {
      val rx = removed.getOrElse(x, null)
      val ry = removed.getOrElse(y, null)
      var s = 0L
      common(x, y) { w =>
        if ((rx == null || !rx.contains(w)) &&
            (ry == null || !ry.contains(w))) s += 1
      }
      s
    }
    private def parSupports(keys: Array[Long]): Array[Long] = {
      val out = new Array[Long](keys.length)
      java.util.stream.IntStream.range(0, keys.length).parallel().forEach(
        new java.util.function.IntConsumer {
          override def accept(i: Int): Unit = {
            val key = keys(i)
            out(i) = supportNow(key >>> 31, key & ((1L << 31) - 1))
          }
        })
      out
    }
    // alive = the peelable edge set: every input edge by default, or
    // an explicit candidate subset (the incremental sweep peels only
    // the pool region; the rest of the adjacency — the old truss — is
    // kept by fiat and only DONATES triangles)
    private val alive = scala.collection.mutable.LongMap.empty[Long]
    locally {
      val keys = candidates.getOrElse(edges.map { case (a, b) => pack(a, b) })
      val sup0 = parSupports(keys)
      var i = 0
      while (i < keys.length) { alive(keys(i)) = sup0(i); i += 1 }
    }
    def isEmpty: Boolean = alive.isEmpty
    def aliveKeys: Array[Long] = alive.keysIterator.toArray
    def aliveEntries: Iterator[(Long, Long, Long)] =
      alive.iterator.map { case (key, s) =>
        (key >>> 31, key & ((1L << 31) - 1), s)
      }
    /** Peel at threshold k−2 for at most `rounds` rounds — identical
      * round trajectory to the distributed loop: remove the wave,
      * refresh the tri-neighborhood (discovered against static
      * adjacency, a superset — no affected edge missed), repeat until
      * no removals or the budget ends.
      */
    def peelLevel(k: Int, rounds: Int): Unit = {
      var it = 0
      var done = alive.isEmpty
      while (it < rounds && !done) {
        val wave = alive.iterator.filter(_._2 < k - 2).map(_._1).toArray
        if (wave.isEmpty) done = true
        else {
          wave.foreach { key =>
            val a = key >>> 31; val b = key & ((1L << 31) - 1)
            alive.remove(key)
            removed.getOrElseUpdate(a,
              scala.collection.mutable.HashSet.empty) += b
            removed.getOrElseUpdate(b,
              scala.collection.mutable.HashSet.empty) += a
          }
          val found = new Array[Array[Long]](wave.length)
          java.util.stream.IntStream.range(0, wave.length).parallel().forEach(
            new java.util.function.IntConsumer {
              override def accept(i: Int): Unit = {
                val key = wave(i)
                val a = key >>> 31; val b = key & ((1L << 31) - 1)
                val buf = scala.collection.mutable.ArrayBuffer.empty[Long]
                common(a, b) { w =>
                  val e1 = pack(math.min(a, w), math.max(a, w))
                  val e2 = pack(math.min(b, w), math.max(b, w))
                  if (alive.contains(e1)) buf += e1
                  if (alive.contains(e2)) buf += e2
                }
                found(i) = buf.toArray
              }
            })
          val affected = scala.collection.mutable.LongMap.empty[Unit]
          found.foreach(_.foreach(e => affected(e) = ()))
          val affKeys = affected.keysIterator.toArray
          val affSup = parSupports(affKeys)
          var j = 0
          while (j < affKeys.length) { alive(affKeys(j)) = affSup(j); j += 1 }
          it += 1
        }
      }
    }
  }

  /** The hub-free strategy: full per-node neighbor arrays (bounded by
    * the hub threshold BY THE DISPATCH CHECK) + per-edge
    * array_intersect — the fastest plan on ordinary graphs.
    */
  private def kTrussCanonFast(canonical: DataFrame, k: Int, rounds: Int,
                              seedSupport: Option[DataFrame]): DataFrame = {
    val adjStatic = canonical.select(col("a").as("v"), col("b").as("w"))
      .unionAll(canonical.select(col("b").as("v"), col("a").as("w")))
      .groupBy(col("v"))
      .agg(sort_array(collect_list(col("w"))).as("ns"))
      .ckpt
    var sup = seedSupport.getOrElse(canonical
      .join(adjStatic.select(col("v").as("a"), col("ns").as("na")), Seq("a"))
      .join(adjStatic.select(col("v").as("b"), col("ns").as("nb")), Seq("b"))
      .select(col("a"), col("b"),
        size(array_intersect(col("na"), col("nb"))).cast("long").as("support"))
      .ckpt)
    var it = 0
    var done = false
    while (it < rounds && !done) {
      val surviving = sup.filter(col("support") >= k - 2)
      val removed = sup.filter(col("support") < k - 2)
        .select(col("a"), col("b")).ckpt
      val nRemoved = removed.count()
      if (nRemoved == 0) done = true
      else {
        // COUNT-GATED broadcasts (r12): tail rounds remove a handful of
        // edges, and without a hint each of their joins re-shuffled the
        // full (ckpt'd, stats-less) adjacency/survivor tables; the gate
        // keeps round-0's mass-removal wave on the shuffle path
        val affected = triAdjacentVia(adjStatic, bcIfSmall(removed, nRemoved))
          .join(surviving.select(col("a"), col("b")), Seq("a", "b"),
            "left_semi").ckpt
        val affectedB = bcIfSmall(affected, affected.count())
        val nodes = affected.select(col("a").as("v"))
          .unionAll(affected.select(col("b").as("v"))).distinct()
        val keep = surviving.select(col("a"), col("b"))
        val scopedAdj = keep.select(col("a").as("v"), col("b").as("w"))
          .unionAll(keep.select(col("b").as("v"), col("a").as("w")))
          .join(broadcast(nodes), Seq("v"), "left_semi")
          .groupBy(col("v"))
          .agg(collect_list(col("w")).as("ns"))
        val refreshed = affectedB
          .join(scopedAdj.select(col("v").as("a"), col("ns").as("na")), Seq("a"))
          .join(scopedAdj.select(col("v").as("b"), col("ns").as("nb")), Seq("b"))
          .select(col("a"), col("b"),
            size(array_intersect(col("na"), col("nb"))).cast("long")
              .as("support"))
        sup = surviving.join(affectedB, Seq("a", "b"), "left_anti")
          .unionAll(refreshed).ckpt
        it += 1
      }
    }
    sup
  }

  /** Broadcast a FRONTIER-sized frame only when its known row count
    * says the driver collect is trivial — mass-removal waves stay on
    * the shuffle path.
    */
  private def bcIfSmall(df: DataFrame, rows: Long): DataFrame =
    if (rows <= 1000000L) broadcast(df) else df

  /** Edges sharing a triangle with `edges` under the given node-keyed
    * adjacency: common neighbors w of (a, b) exploded to (a,w), (b,w).
    */
  private def triAdjacentVia(adj: DataFrame, edges: DataFrame): DataFrame = {
    val cs = edges
      .join(adj.select(col("v").as("a"), col("ns").as("na")), Seq("a"))
      .join(adj.select(col("v").as("b"), col("ns").as("nb")), Seq("b"))
      .select(col("a"), col("b"),
        array_intersect(col("na"), col("nb")).as("cs"))
      .filter(size(col("cs")) > 0)
      .select(col("a"), col("b"), explode(col("cs")).as("w"))
    cs.select(least(col("a"), col("w")).as("a"),
        greatest(col("a"), col("w")).as("b"))
      .unionAll(cs.select(least(col("b"), col("w")).as("a"),
        greatest(col("b"), col("w")).as("b")))
      .distinct()
  }

  /** The hub-PRESENT strategy: neighbor arrays only for nodes under
    * the hub threshold; edges touching a hub take exact ROW-form
    * paths ([[supportRows]] and the row discovery) — no unbounded
    * array row anywhere.
    */
  private def kTrussCanonHubSafe(canonical: DataFrame, k: Int, rounds: Int,
                                 seedSupport: Option[DataFrame]): DataFrame = {
    val hubC = canonical.sparkSession.conf
      .get("spark.graft.graph.hubDegree", "65536").toLong
    val statDir = canonical.select(col("a").as("u"), col("b").as("w"))
      .unionAll(canonical.select(col("b").as("u"), col("a").as("w")))
      .ckpt
    val statDeg = statDir.groupBy(col("u"))
      .agg(count(lit(1)).as("d")).ckpt
    // hub nodes: ≤ 2m/hubC of them — broadcast-small by construction
    val statHubs = statDeg.filter(col("d") > hubC).select(col("u")).ckpt
    // full static neighbor lists of NON-hub nodes only (≤ hubC each)
    val statAdjNH = statDir
      .join(broadcast(statHubs), Seq("u"), "left_anti")
      .groupBy(col("u")).agg(collect_list(col("w")).as("ns"))
      .ckpt
    // split an edge set on hub involvement: (both-non-hub, any-hub)
    def hubSplit(edges: DataFrame): (DataFrame, DataFrame) = {
      val nh = edges
        .join(broadcast(statHubs.select(col("u").as("a"))), Seq("a"), "left_anti")
        .join(broadcast(statHubs.select(col("u").as("b"))), Seq("b"), "left_anti")
      val hub = edges
        .join(broadcast(statHubs.select(col("u").as("a"))), Seq("a"), "left_semi")
        .unionAll(edges
          .join(broadcast(statHubs.select(col("u").as("b"))), Seq("b"), "left_semi"))
        .distinct()
      (nh, hub)
    }
    // supports of `edges` within survivors `surv`: array-intersect for
    // both-non-hub edges over `adj` (node-scoped lists), rows otherwise
    def supportHybrid(edges: DataFrame, surv: DataFrame, survDir: DataFrame,
                      adj: DataFrame): DataFrame = {
      val (nh, hub) = hubSplit(edges)
      val fast = nh
        .join(adj.select(col("u").as("a"), col("ns").as("na")), Seq("a"))
        .join(adj.select(col("u").as("b"), col("ns").as("nb")), Seq("b"))
        .select(col("a"), col("b"),
          size(array_intersect(col("na"), col("nb"))).cast("long").as("support"))
      fast.unionAll(supportRows(hub, surv, survDir, statDeg))
    }
    var sup = seedSupport.getOrElse(
      supportHybrid(canonical, canonical, statDir, statAdjNH).ckpt)
    var it = 0
    var done = false
    while (it < rounds && !done) {
      val surviving = sup.filter(col("support") >= k - 2)
      val removed = sup.filter(col("support") < k - 2)
        .select(col("a"), col("b")).ckpt
      if (removed.isEmpty) done = true
      else {
        val surv = surviving.select(col("a"), col("b")).ckpt
        // affected discovery: common STATIC neighbors of each removed
        // edge — intersect for both-non-hub removals, rows otherwise
        val (nhR, hubR) = hubSplit(removed)
        val csFast = nhR
          .join(statAdjNH.select(col("u").as("a"), col("ns").as("na")), Seq("a"))
          .join(statAdjNH.select(col("u").as("b"), col("ns").as("nb")), Seq("b"))
          .select(col("a"), col("b"),
            array_intersect(col("na"), col("nb")).as("cs"))
          .filter(size(col("cs")) > 0)
          .select(col("a"), col("b"), explode(col("cs")).as("w"))
        val aLower = col("da") < col("db") ||
          (col("da") === col("db") && col("a") < col("b"))
        val csRows = hubR
          .join(statDeg.select(col("u").as("a"), col("d").as("da")), Seq("a"))
          .join(statDeg.select(col("u").as("b"), col("d").as("db")), Seq("b"))
          .select(when(aLower, col("a")).otherwise(col("b")).as("lo"),
            when(aLower, col("b")).otherwise(col("a")).as("hi"))
          .join(statDir.withColumnRenamed("u", "lo"), Seq("lo"))
          .filter(col("w") =!= col("hi"))
          .select(col("lo").as("a"), col("hi").as("b"), col("w"),
            least(col("hi"), col("w")).as("ca"),
            greatest(col("hi"), col("w")).as("cb"))
          .join(canonical.select(col("a").as("ca"), col("b").as("cb")),
            Seq("ca", "cb"), "left_semi")
          .select(col("a"), col("b"), col("w"))
        val cs = csFast.unionAll(csRows)
        val affected = cs
          .select(least(col("a"), col("w")).as("a"),
            greatest(col("a"), col("w")).as("b"))
          .unionAll(cs.select(least(col("b"), col("w")).as("a"),
            greatest(col("b"), col("w")).as("b")))
          .distinct()
          .join(surv, Seq("a", "b"), "left_semi").ckpt
        val survDir = surv.select(col("a").as("u"), col("b").as("w"))
          .unionAll(surv.select(col("b").as("u"), col("a").as("w")))
        val nodes = affected.select(col("a").as("u"))
          .unionAll(affected.select(col("b").as("u"))).distinct()
        val scopedAdj = survDir
          .join(broadcast(nodes), Seq("u"), "left_semi")
          .join(broadcast(statHubs), Seq("u"), "left_anti")
          .groupBy(col("u")).agg(collect_list(col("w")).as("ns"))
        val refreshed = supportHybrid(affected, surv, survDir, scopedAdj)
        sup = surviving.join(affected, Seq("a", "b"), "left_anti")
          .unionAll(refreshed).ckpt
        it += 1
      }
    }
    // sup values already equal the support ON THE FINAL RESIDUE (the
    // invariant maintained every round). Return UNFILTERED: under the
    // bounded-rounds contract (and the fixed-round DuckDB oracles) the
    // post-round edge set keeps its recomputed — possibly
    // sub-threshold — supports when `rounds` runs out before the peel
    // converges; on convergence `removed` was empty, so every support
    // is already >= k-2 and the filter would be a no-op anyway.
    sup
  }

  def bfsHops(edges: DataFrame, seeds: DataFrame, rounds: Int): DataFrame = {
    require(rounds >= 1, s"rounds must be >= 1, got $rounds")
    val und = edges.select(least(col("src"), col("dst")).as("a"),
        greatest(col("src"), col("dst")).as("b"))
      .filter(col("a") =!= col("b")).distinct()
    val dir = und.select(col("a").as("src"), col("b").as("dst"))
      .unionAll(und.select(col("b").as("src"), col("a").as("dst")))
      .ckpt
    var dist = seeds.select(col("node"), lit(0L).as("hops"))
      .ckpt
    for (_ <- 1 to rounds) {
      // dist grows toward the node count; per-round count over the
      // checkpointed RDD keeps the size gate exact
      val relaxed = dir
        .join(maybeBroadcast(dist.withColumnRenamed("node", "src"),
          dist.count()), Seq("src"))
        .select(col("dst").as("node"), (col("hops") + 1L).as("hops"))
      dist = dist.unionByName(relaxed)
        .groupBy(col("node")).agg(min(col("hops")).as("hops"))
        .ckpt
    }
    dist
  }

  /** Degree-peel a both-directions edge encoding at threshold `k` for at
    * most `rounds` rounds with the [[kCore]] convergence early-exit —
    * shared level step for [[coreness]]. Returns the residue (still
    * both-directions).
    */
  private def peelResidue(dir0: DataFrame, k: Int, rounds: Int): DataFrame = {
    var dir = dir0
    var it = 0
    var converged = false
    while (it < rounds && !converged) {
      val deg = dir.groupBy(col("src")).agg(count(lit(1)).as("deg"))
        .ckpt
      val Array(nNodes, nSurvivors) = deg
        .agg(count(lit(1)), sum(when(col("deg") >= k, 1L).otherwise(0L)))
        .collect().head.toSeq
        .map(v => if (v == null) 0L else v.asInstanceOf[Long]).toArray
      if (nSurvivors == nNodes) converged = true
      else {
        val keep = deg.filter(col("deg") >= k).select(col("src"))
        dir = dir
          .join(maybeBroadcast(keep, nSurvivors), Seq("src"), "left_semi")
          .join(maybeBroadcast(keep.withColumnRenamed("src", "dst"),
            nSurvivors), Seq("dst"), "left_semi")
          .select(col("src"), col("dst"))
          .ckpt
        it += 1
      }
    }
    dir
  }

  /** Driver-local nested degree peel state (r14): static adjacency
    * arrays plus a live-degree map over a collected canonical edge
    * list. The round trajectory mirrors [[peelResidue]]
    * decision-for-decision — simultaneous removal of every present
    * node with deg &lt; k, rounds counted only when a removal happened,
    * convergence = no present node under threshold — so bounded-round
    * (non-convergent) residues match the distributed loop exactly.
    * Levels COMPOSE on the same state, like the distributed nested
    * sweep: deg counts only live edges (each removal decrements its
    * live neighbors), and a node whose degree hits zero has vanished
    * from the residue just as it drops out of the distributed degree
    * table.
    */
  private final class LocalDegreePeel(edges: Array[(Long, Long)]) {
    private val adj = {
      val b = scala.collection.mutable.LongMap
        .empty[scala.collection.mutable.ArrayBuffer[Long]]
      edges.foreach { case (x, y) =>
        b.getOrElseUpdate(x, scala.collection.mutable.ArrayBuffer.empty) += y
        b.getOrElseUpdate(y, scala.collection.mutable.ArrayBuffer.empty) += x
      }
      val m = scala.collection.mutable.LongMap.empty[Array[Long]]
      b.foreach { case (v, ws) => m(v) = ws.toArray }
      m
    }
    /** live degree; 0 = no residue edge left (the node is absent from
      * the distributed deg table) */
    val deg = scala.collection.mutable.LongMap.empty[Long]
    adj.foreach { case (v, ns) => deg(v) = ns.length.toLong }
    /** One level-k peel over the current residue, at most `rounds`
      * removal rounds — [[peelResidue]]'s trajectory.
      */
    def peelLevel(k: Int, rounds: Int): Unit = {
      var it = 0
      var converged = false
      while (it < rounds && !converged) {
        val wave = deg.iterator
          .filter { case (_, d) => d > 0 && d < k }.map(_._1).toArray
        if (wave.isEmpty) converged = true
        else {
          wave.foreach(v => deg(v) = 0L)
          wave.foreach { v =>
            adj(v).foreach { w =>
              val dw = deg.getOrElse(w, 0L)
              if (dw > 0) deg(w) = dw - 1
            }
          }
          it += 1
        }
      }
    }
    def present: Iterator[Long] = deg.iterator.filter(_._2 > 0).map(_._1)
  }

  /** WAVE-MODE coreness (r14): when the canonical edge set passes the
    * wave gates ([[Wave.collectIfSmall]] — count-gated by
    * [[Wave.rowCap]], integral ids), the nested level peel
    * runs as driver arithmetic — one collect plus one parallelized
    * result materialization replace ~4 fixed-cost Spark jobs per peel
    * round (degree aggregate, survivor stats, two-sided semi-join
    * checkpoint, survivor-set checkpoint). Per-level survivors and
    * bounded-round residues are identical to the distributed loop by
    * construction (CorenessWaveSpec pins wave ≡ forced-distributed,
    * including a non-convergent bounded-rounds case). Over-cap or
    * non-integral graphs return None; the distributed path then runs
    * unchanged, so big graphs can never enter the driver path.
    */
  private def corenessLocalWave(und: DataFrame, maxK: Int,
                                rounds: Int): Option[DataFrame] = {
    Wave.collectIfSmall(und, Seq("a", "b"), widenInt = true,
      idBound = true)(Wave.pair).map { edges =>
      val lp = new LocalDegreePeel(edges)
      val lvl = scala.collection.mutable.LongMap.empty[Long]
      lp.deg.foreach { case (v, d) => if (d > 0) lvl(v) = 1L }
      var k = 2
      var empty = lvl.isEmpty
      while (k <= maxK && !empty) {
        lp.peelLevel(k, rounds)
        empty = true
        lp.present.foreach { v => lvl(v) = k.toLong; empty = false }
        k += 1
      }
      val aT = und.schema("a").dataType
      Wave.localResult(und.sparkSession, lvl.toArray, Seq("node", "coreness"))
        .select(col("node").cast(aT).as("node"), col("coreness"))
    }
  }

  /** Fully-local incremental coreness sweep (r14): when the MERGED
    * graph passes the wave gates, [[corenessIncremental]]'s whole
    * per-level machinery — old-core monotonicity, pool carve-out,
    * bounded delta-closure BFS, bounded candidate peel — runs as driver
    * set arithmetic: three collects (merged edges, canonical delta,
    * base labels) and one result materialization replace ~8 jobs per
    * level plus ~2 per BFS/peel round. Every decision mirrors the
    * distributed branch value-for-value — same round caps, same
    * empty-frontier and no-deletion early exits, same full-adjacency
    * closure expansion — so the trajectory and result are identical by
    * construction (CorenessWaveSpec). Returns None above the caps or
    * for non-integral label frames; the distributed path then runs
    * unchanged.
    */
  private def corenessIncLocalWave(baseLabels: DataFrame, und: DataFrame,
                                   delta: DataFrame, maxK: Int,
                                   rounds: Int): Option[DataFrame] = {
    import org.apache.spark.sql.types.{IntegerType, LongType}
    val edgesU = Wave.collectIfSmall(und, Seq("a", "b"), widenInt = true,
      idBound = true)(Wave.pair) match {
      case Some(e) => e
      case None => return None
    }
    val nT = baseLabels.schema("node").dataType
    if (nT != LongType && nT != IntegerType) return None
    def num(v: Any): Long = v match {
      case l: Long => l
      case i: Int => i.toLong
      case other => throw new IllegalStateException(s"non-integral id $other")
    }
    // static merged adjacency (closure and peel both query it)
    val adj = {
      val b = scala.collection.mutable.LongMap
        .empty[scala.collection.mutable.ArrayBuffer[Long]]
      edgesU.foreach { case (x, y) =>
        b.getOrElseUpdate(x, scala.collection.mutable.ArrayBuffer.empty) += y
        b.getOrElseUpdate(y, scala.collection.mutable.ArrayBuffer.empty) += x
      }
      val m = scala.collection.mutable.LongMap.empty[Array[Long]]
      b.foreach { case (v, ws) => m(v) = ws.toArray }
      m
    }
    val baseCor = scala.collection.mutable.LongMap.empty[Long]
    baseLabels.select(col("node"), col("coreness")).collect()
      .foreach(r => baseCor(num(r.get(0))) = num(r.get(1)))
    val touched = scala.collection.mutable.HashSet.empty[Long]
    delta.select(col("a"), col("b")).collect().foreach { r =>
      touched += num(r.get(0)); touched += num(r.get(1))
    }
    val lvl = scala.collection.mutable.LongMap.empty[Long]
    adj.foreach { case (v, _) => lvl(v) = 1L }
    var prev = adj.keysIterator
      .foldLeft(scala.collection.mutable.HashSet.empty[Long])(_ += _)
    var k = 2
    var empty = false
    while (k <= maxK && !empty) {
      // monotonicity: the old k-core survives any edge addition
      val oldCore = scala.collection.mutable.HashSet.empty[Long]
      baseCor.foreach { case (v, c) => if (c >= k) oldCore += v }
      // candidate pool: previous level's NEW residue minus the old core
      val pool = prev.filterNot(oldCore)
      // closure of delta endpoints through the pool, over the FULL
      // merged adjacency — the distributed BFS round for round
      val reached = scala.collection.mutable.HashSet.empty[Long]
      touched.foreach(v => if (pool(v)) reached += v)
      var frontier = reached.toArray
      var r = 0
      while (r < rounds && frontier.nonEmpty) {
        val next = scala.collection.mutable.HashSet.empty[Long]
        frontier.foreach { v =>
          adj.getOrElse(v, Array.emptyLongArray).foreach { w =>
            if (pool(w) && !reached(w)) next += w
          }
        }
        frontier = next.toArray
        reached ++= next
        r += 1
      }
      // candidate-only peel: survive with >= k neighbors in the old
      // core or among surviving candidates
      var alive = reached.clone()
      var nAlive = alive.size
      var done = nAlive == 0
      var it = 0
      while (it < rounds && !done) {
        val next = alive.filter { v =>
          var d = 0L
          adj.getOrElse(v, Array.emptyLongArray).foreach { w =>
            if (oldCore(w) || alive(w)) d += 1
          }
          d >= k
        }
        if (next.size == nAlive) done = true
        else { alive = next; nAlive = next.size; it += 1 }
      }
      val core = if (nAlive == 0) oldCore else oldCore union alive
      empty = core.isEmpty
      if (!empty) core.foreach(v => lvl(v) = k.toLong)
      prev = core
      k += 1
    }
    val aT = und.schema("a").dataType
    Some(Wave.localResult(und.sparkSession, lvl.toArray, Seq("node", "coreness"))
      .select(col("node").cast(aT).as("node"), col("coreness")))
  }

  /** Coreness (k-core hierarchy) labeling: each node's largest k such
    * that it survives the level-k degree peel — the node-density
    * HIERARCHY where [[kCore]] is one slice of it. On a co-purchase
    * graph coreness stratifies products into periphery (1), weakly
    * connected (2), and dense cross-sold cores (3+); on near-dup
    * candidate graphs it separates chance collisions from dense
    * duplicate neighborhoods without picking a single k up front.
    *
    * Levels are NESTED (the k-core is a subgraph of the (k−1)-core), so
    * each level peels the PREVIOUS level's residue — total work is one
    * peel sweep over a shrinking graph, not maxK independent peels of
    * the full edge set. Per level the [[kCore]] posture holds: the only
    * full-size shuffle per round is the degree aggregate; survivor sets
    * are node-sized broadcasts; peeling is monotone so a no-delete round
    * ends the level early with the fixed-round result.
    *
    * Fixed `roundsPerLevel` keeps the oracle a straight-line unrolled
    * peel (the [[kCore]] contract): with rounds ≥ the peel's convergence
    * depth the result is the true coreness, and for ANY rounds both
    * engines compute identically.
    *
    * @return (node, coreness ∈ [1, maxK]) for every non-isolated node
    */
  def coreness(edges: DataFrame, maxK: Int, roundsPerLevel: Int): DataFrame = {
    require(maxK >= 1, s"maxK must be >= 1, got $maxK")
    require(roundsPerLevel >= 1, s"roundsPerLevel must be >= 1, got $roundsPerLevel")
    // materialized once (r14): the wave gate runs two actions (count +
    // collect) and the distributed fallback re-scans it per level
    val und = edges.select(least(col("src"), col("dst")).as("a"),
        greatest(col("src"), col("dst")).as("b"))
      .filter(col("a") =!= col("b")).distinct()
      .ckpt
    // wave sweep first (r14): a driver-small graph runs the whole nested
    // degree peel locally — see [[corenessLocalWave]]
    corenessLocalWave(und, maxK, roundsPerLevel) match {
      case Some(result) => return result
      case None =>
    }
    var dir = und.select(col("a").as("src"), col("b").as("dst"))
      .unionAll(und.select(col("b").as("src"), col("a").as("dst")))
      .ckpt
    // any node with an edge is in the 1-core
    var labels = dir.select(col("src").as("node")).distinct()
      .select(col("node"), lit(1L).as("lvl"))
    var k = 2
    var empty = false
    while (k <= maxK && !empty) {
      dir = peelResidue(dir, k, roundsPerLevel)
      val survivors = dir.select(col("src").as("node")).distinct()
        .ckpt
      empty = survivors.isEmpty
      if (!empty)
        labels = labels.unionAll(survivors.select(col("node"), lit(k.toLong).as("lvl")))
      k += 1
    }
    labels.groupBy(col("node")).agg(max(col("lvl")).as("coreness"))
  }

  /** Trussness (k-truss hierarchy) labeling: each edge's largest k such
    * that it survives the level-k support peel — the EDGE-level
    * hierarchy where [[kTruss]] is one slice, and the edge analogue of
    * [[coreness]]. Every edge is trivially a 2-truss; trussness ≥ 3
    * means the edge sits in at least one triangle that itself survives
    * the peel. On near-dup candidate graphs the trussness level is a
    * per-PAIR corroboration strength: bridges between clusters stay at
    * 2 no matter how dense the clusters are.
    *
    * Nested like coreness (k-truss ⊆ (k−1)-truss), so each level peels
    * the previous residue via [[kTruss]] — per round one wedge-bounded
    * support join and a filter, never node-quadratic. Fixed
    * `roundsPerLevel` for the straight-line-oracle contract.
    *
    * @return (a, b, trussness ∈ [2, maxK]) for every distinct edge
    */
  def trussness(edges: DataFrame, maxK: Int, roundsPerLevel: Int): DataFrame = {
    require(maxK >= 2, s"maxK must be >= 2, got $maxK")
    require(roundsPerLevel >= 1, s"roundsPerLevel must be >= 1, got $roundsPerLevel")
    val und = edges.select(least(col("src"), col("dst")).as("a"),
        greatest(col("src"), col("dst")).as("b"))
      .filter(col("a") =!= col("b")).distinct()
      .ckpt
    // WAVE sweep (r13): one edge-list collect, every level's peel
    // rounds local, one result materialization — levels compose in
    // [[LocalTrussPeel]] exactly like the distributed cross-level
    // seeding (level k+1 continues from level k's survivor supports)
    Wave.collectIfSmall(und, Seq("a", "b"), widenInt = true,
      idBound = true)(Wave.pair) match {
      case Some(edges) =>
        val ss = und.sparkSession
        import ss.implicits._
        val lp = new LocalTrussPeel(edges)
        val lvl = scala.collection.mutable.LongMap.empty[Long]
        edges.foreach { case (a, b) => lvl((a << 31) | b) = 2L }
        var k = 3
        while (k <= maxK && !lp.isEmpty) {
          lp.peelLevel(k, roundsPerLevel)
          lp.aliveKeys.foreach(key => lvl(key) = k.toLong)
          k += 1
        }
        val aT = und.schema("a").dataType
        val bT = und.schema("b").dataType
        return Wave.localResult(ss,
            lvl.iterator.map { case (key, l) =>
              (key >>> 31, key & ((1L << 31) - 1), l)
            }.toArray, Seq("a", "b", "trussness"))
          .select(col("a").cast(aT).as("a"), col("b").cast(bT).as("b"),
            col("trussness"))
      case None =>
    }
    var labels = und.select(col("a"), col("b"), lit(2L).as("lvl"))
    var residue = und
    // cross-level support seeding (r12): level k's peel ends with the
    // EXACT supports of its final residue — precisely the table level
    // k+1's peel starts from, so the full support pass runs once for
    // the whole sweep instead of once per level (the r11 bench's
    // dominant per-level constant). The hub decision is likewise one
    // check for the whole sweep: degrees only shrink level over level.
    var levelSup: Option[DataFrame] = None
    val hubFree = Some(hubFreeOf(und))
    var k = 3
    var empty = false
    while (k <= maxK && !empty) {
      val supK = kTrussCanon(residue, k, roundsPerLevel, levelSup, hubFree).ckpt
      residue = supK.select(col("a"), col("b"))
      levelSup = Some(supK)
      empty = residue.isEmpty
      if (!empty)
        labels = labels.unionAll(
          residue.select(col("a"), col("b"), lit(k.toLong).as("lvl")))
      k += 1
    }
    labels.groupBy(col("a"), col("b")).agg(max(col("lvl")).as("trussness"))
  }

  /** True iff no node's degree exceeds the hub threshold — one cheap
    * row aggregate over a canonical edge set.
    */
  private def hubFreeOf(canonical: DataFrame): Boolean = {
    val hubC = canonical.sparkSession.conf
      .get("spark.graft.graph.hubDegree", "65536").toLong
    canonical.select(col("a").as("u"))
      .unionAll(canonical.select(col("b").as("u")))
      .groupBy(col("u")).agg(count(lit(1)).as("d"))
      .filter(col("d") > hubC).isEmpty
  }

  /** R98: 3-clique percolation communities (Palla et al., CPM) — the
    * OVERLAPPING community model: communities are connected components
    * of the TRIANGLE-adjacency graph (triangles adjacent iff they share
    * an edge), and a node belongs to every community whose triangles
    * contain it. On near-dup candidate graphs this separates genuinely
    * fused duplicate groups from clusters that merely touch through a
    * bridge edge — a bridge carries no triangle, so CPM never leaks a
    * community across it (exactly where plain CC over-merges).
    *
    * Plumbing: triangles from the a<b<c ordered wedge join (closing-edge
    * semi-join), each packed into ONE int64 (a·2⁴⁰ + b·2²⁰ + c — ids
    * must fit 20 bits; hash-pack at larger id domains), adjacency from a
    * per-edge self-join of the 3-per-triangle edge rows (two distinct
    * triangles share ≤ 1 edge, so no dedup pass), components via the
    * O(log n) large-star/small-star contraction
    * ([[graft.dedup.Dedup.connectedComponentsStar]]), community label =
    * min packed tid. Lone triangles are their own community.
    *
    * @return (node, community) pairs — a node CAN appear under several
    *         communities; nodes in no triangle appear in none
    */
  def cliquePercolation3(edges: DataFrame): DataFrame = {
    val e = edges.select(least(col("src"), col("dst")).as("a"),
        greatest(col("src"), col("dst")).as("b"))
      .filter(col("a") =!= col("b")).distinct()
      .ckpt
    val maxId = e.agg(coalesce(max(greatest(col("a"), col("b"))), lit(0L)))
      .head().getLong(0)
    require(maxId < (1L << 20),
      s"cliquePercolation3: node id $maxId overflows the 20-bit packing")
    val tri = e
      .join(e.select(col("a").as("b"), col("b").as("c")), Seq("b"))
      .join(e.select(col("a"), col("b").as("c")), Seq("a", "c"), "left_semi")
      .select(col("a"), col("b"), col("c"))
      .withColumn("tid",
        col("a") * (1L << 40) + col("b") * (1L << 20) + col("c"))
      .ckpt
    val tedges = tri.select(col("tid"), explode(array(
        struct(col("a").as("u"), col("b").as("v")),
        struct(col("b").as("u"), col("c").as("v")),
        struct(col("a").as("u"), col("c").as("v")))).as("e"))
      .select(col("e.u").as("u"), col("e.v").as("v"), col("tid"))
    val adj = tedges.as("p")
      .join(tedges.as("q"), Seq("u", "v"))
      .filter(col("p.tid") < col("q.tid"))
      .select(col("p.tid").as("id_a"), col("q.tid").as("id_b"))
    val cc = graft.dedup.Dedup.connectedComponentsStar(adj)
      .select(col("doc_id").as("tid"), col("cluster_id").as("community"))
    val lone = tri.select(col("tid"))
      .join(cc, Seq("tid"), "left_anti")
      .select(col("tid"), col("tid").as("community"))
    tri.select(col("tid"), explode(array(col("a"), col("b"), col("c"))).as("node"))
      .join(cc.unionByName(lone), Seq("tid"))
      .select(col("node"), col("community")).distinct()
  }

  /** R100: 4-clique percolation communities — CPM one notch stricter
    * than [[cliquePercolation3]]: communities are connected components
    * of the K4-adjacency graph (K4s adjacent iff they share a TRIANGLE,
    * i.e. 3 of their 4 vertices). Two dense duplicate groups fused by a
    * shared EDGE merge under 3-CPM (their triangles touch through that
    * edge) but stay separate here — a shared edge is only 2 vertices, so
    * no K4 adjacency crosses it. The escalation path when 3-CPM still
    * over-merges: each k up trades recall for bridge resistance.
    *
    * Plumbing mirrors the k=3 operator with one more closure level:
    * K4s from the ordered-triangle ⋈ extension-vertex join (two
    * closing-edge semi-joins — bounded by triangle count × degree,
    * never node-quadratic), each K4 packed into ONE int64 (4 × 15-bit
    * ids), adjacency from the 4 triangular faces per K4 joined on the
    * packed face key (two distinct K4s share ≤ 1 face — sharing two
    * would mean 4 shared vertices, i.e. the same K4 — so no dedup
    * pass), components via the O(log n) star contraction, community
    * label = min packed K4 id. Lone K4s are their own community.
    *
    * @return (node, community) pairs — overlapping: a node CAN appear
    *         under several communities; nodes in no K4 appear in none
    */
  def cliquePercolation4(edges: DataFrame): DataFrame = {
    val e = edges.select(least(col("src"), col("dst")).as("a"),
        greatest(col("src"), col("dst")).as("b"))
      .filter(col("a") =!= col("b")).distinct()
      .ckpt
    val maxId = e.agg(coalesce(max(col("b")), lit(0L))).head().getLong(0)
    require(maxId < (1L << 15),
      s"cliquePercolation4: node id $maxId overflows the 15-bit packing")
    val tri = e
      .join(e.select(col("a").as("b"), col("b").as("c")), Seq("b"))
      .join(e.select(col("a"), col("b").as("c")), Seq("a", "c"), "left_semi")
      .select(col("a"), col("b"), col("c"))
    val k4 = tri
      .join(e.select(col("a").as("c"), col("b").as("d")), Seq("c"))
      .join(e.select(col("a"), col("b").as("d")), Seq("a", "d"), "left_semi")
      .join(e.select(col("a").as("b"), col("b").as("d")), Seq("b", "d"),
        "left_semi")
      .select(col("a"), col("b"), col("c"), col("d"))
      .withColumn("qid", col("a") * (1L << 45) + col("b") * (1L << 30) +
        col("c") * (1L << 15) + col("d"))
      .ckpt
    val faces = k4.select(col("qid"), explode(array(
        col("a") * (1L << 30) + col("b") * (1L << 15) + col("c"),
        col("a") * (1L << 30) + col("b") * (1L << 15) + col("d"),
        col("a") * (1L << 30) + col("c") * (1L << 15) + col("d"),
        col("b") * (1L << 30) + col("c") * (1L << 15) + col("d"))).as("t"))
    val adj = faces.as("p")
      .join(faces.as("q"), Seq("t"))
      .filter(col("p.qid") < col("q.qid"))
      .select(col("p.qid").as("id_a"), col("q.qid").as("id_b"))
    val cc = graft.dedup.Dedup.connectedComponentsStar(adj)
      .select(col("doc_id").as("qid"), col("cluster_id").as("community"))
    val lone = k4.select(col("qid"))
      .join(cc, Seq("qid"), "left_anti")
      .select(col("qid"), col("qid").as("community"))
    k4.select(col("qid"),
        explode(array(col("a"), col("b"), col("c"), col("d"))).as("node"))
      .join(cc.unionByName(lone), Seq("qid"))
      .select(col("node"), col("community")).distinct()
  }

  /** R99: incremental coreness maintenance under batch edge ARRIVALS —
    * given exact [[coreness]] labels for a base graph and a delta of new
    * edges, produce the full graph's coreness WITHOUT re-peeling the
    * old cores. The CDC posture applied to graph analytics: the nightly
    * full decomposition plus per-batch maintenance whose work is
    * proportional to the affected region, not the graph.
    *
    * Soundness (per level k): coreness is monotone under edge addition,
    * so the old k-core survives verbatim — its members are never
    * re-checked. The only question is the promoted set P = new k-core \
    * old k-core. Every v ∈ P has < k old-neighbors inside the old
    * k-core (else old-core ∪ {v} would contradict the old core's
    * maximality), so v needs a supporting neighbor that is itself in P
    * or a new delta edge — which chains: every connected component of
    * the promoted set (in the new graph restricted to non-old-core
    * vertices) contains a delta endpoint. Candidates are therefore the
    * BFS closure of delta endpoints through the non-old-core part of
    * the previous level's residue, and a candidate-only peel (support =
    * neighbors in old core + surviving candidates) decides exactly who
    * is promoted: the peel's maximal fixpoint unioned with the old core
    * is a min-degree-k subgraph (⊆ new k-core) and contains P (P
    * survives every peel round by induction) — so it IS the new k-core.
    *
    * Scale shape: per level, one anti-join for the candidate pool, a
    * frontier BFS whose per-round shuffle is bounded by the closure
    * region's edges, and a peel over candidate-incident edges only. A
    * delta touching 1% of the graph peels ~1% of the edges; the old
    * labels are read, never recomputed. Fixed `rounds` caps both loops
    * with the [[kCore]] convergence early-exit (frontier empty / no
    * deletion), so rounds ≥ the true closure depth gives the exact
    * answer — GraphSpec pins incremental ≡ full recompute on a
    * promotion-cascade chain where the delta's effect propagates the
    * whole graph away from the new edge.
    *
    * @param baseLabels exact (node, coreness) for the base graph
    * @param baseEdges  base (src, dst) pairs, any duplication/orientation
    * @param deltaEdges newly-arrived (src, dst) pairs; may duplicate
    *                   base edges (deduped) and introduce new nodes
    * @param maxK       label ceiling, as in [[coreness]]
    * @param rounds     per-level cap for both the closure BFS and the
    *                   candidate peel
    * @return (node, coreness ∈ [1, maxK]) for every non-isolated node
    *         of the MERGED graph — identical to
    *         `coreness(base ∪ delta, maxK, rounds)` at convergence
    */
  def corenessIncremental(baseLabels: DataFrame, baseEdges: DataFrame,
                          deltaEdges: DataFrame, maxK: Int,
                          rounds: Int): DataFrame = {
    require(maxK >= 1, s"maxK must be >= 1, got $maxK")
    require(rounds >= 1, s"rounds must be >= 1, got $rounds")
    def canon(df: DataFrame): DataFrame =
      df.select(least(col("src"), col("dst")).as("a"),
          greatest(col("src"), col("dst")).as("b"))
        .filter(col("a") =!= col("b")).distinct()
    // canonicalize the delta ONCE (r14): it feeds the merged set, the
    // closure seeds, and the wave's collected endpoints — re-evaluation
    // re-ran the caller's whole delta construction
    val delta = canon(deltaEdges).ckpt
    // materialized once (r14): the wave gate runs two actions (count +
    // collect) and the distributed fallback re-derives dir from it
    val und = canon(baseEdges).unionAll(delta).distinct().ckpt
    // wave sweep first (r14): a driver-small merged graph runs the whole
    // level machinery locally — see [[corenessIncLocalWave]]
    corenessIncLocalWave(baseLabels, und, delta, maxK, rounds) match {
      case Some(result) => return result
      case None =>
    }
    val dir = und.select(col("a").as("src"), col("b").as("dst"))
      .unionAll(und.select(col("b").as("src"), col("a").as("dst")))
      .ckpt
    val touched = delta
      .select(explode(array(col("a"), col("b"))).as("node")).distinct()
      .ckpt
    val allNodes = dir.select(col("src").as("node")).distinct()
      .ckpt
    var labels = allNodes.select(col("node"), lit(1L).as("lvl"))
    var prev = allNodes
    var k = 2
    var empty = false
    while (k <= maxK && !empty) {
      // monotonicity: the old k-core survives any edge addition
      val oldCore = baseLabels.filter(col("coreness") >= k)
        .select(col("node")).ckpt
      // candidate pool: previous level's NEW residue minus the old core
      val pool = prev.join(oldCore, Seq("node"), "left_anti")
        .ckpt
      // closure of delta endpoints through the pool — every promoted
      // component contains one (see soundness note above)
      var reached = touched.join(pool, Seq("node"), "left_semi")
        .ckpt
      var frontier = reached
      // one count per round drives BOTH the broadcast gate and the
      // empty-frontier exit (was isEmpty + count — two actions)
      var nFrontier = frontier.count()
      var r = 0
      while (r < rounds && nFrontier > 0) {
        frontier = dir
          .join(maybeBroadcast(frontier.withColumnRenamed("node", "src"),
            nFrontier), Seq("src"), "left_semi")
          .select(col("dst").as("node")).distinct()
          .join(pool, Seq("node"), "left_semi")
          .join(reached, Seq("node"), "left_anti")
          .ckpt
        nFrontier = frontier.count()
        reached = reached.unionAll(frontier).ckpt
        r += 1
      }
      // candidate-only peel: survive with ≥ k neighbors in the old core
      // or among surviving candidates; only candidate-incident edges move
      val candEdges = dir
        .join(reached.withColumnRenamed("node", "src"), Seq("src"),
          "left_semi")
        .ckpt
      var alive = reached
      var nAlive = alive.count()
      var done = nAlive == 0
      var it = 0
      while (it < rounds && !done) {
        val keep = oldCore.unionAll(alive).withColumnRenamed("node", "dst")
        val next = candEdges
          .join(alive.withColumnRenamed("node", "src"), Seq("src"),
            "left_semi")
          .join(keep, Seq("dst"), "left_semi")
          .groupBy(col("src")).agg(count(lit(1)).as("deg"))
          .filter(col("deg") >= k).select(col("src").as("node"))
          .ckpt
        val n = next.count()
        if (n == nAlive) done = true
        else { alive = next; nAlive = n; it += 1 }
      }
      val core =
        (if (nAlive == 0) oldCore else oldCore.unionAll(alive))
          .ckpt
      empty = core.isEmpty
      if (!empty)
        labels = labels.unionAll(
          core.select(col("node"), lit(k.toLong).as("lvl")))
      prev = core
      k += 1
    }
    labels.groupBy(col("node")).agg(max(col("lvl")).as("coreness"))
  }

  /** R101: incremental trussness maintenance under batch edge ARRIVALS —
    * [[corenessIncremental]]'s maintain-don't-recompute contract lifted
    * to the EDGE level: given exact [[trussness]] labels for a base
    * graph and a delta of new edges, produce the merged graph's
    * trussness without re-peeling the old trusses.
    *
    * Soundness (per level k): the old k-truss survives any edge
    * addition verbatim (its support triangles are intact), so only the
    * promoted edge set P = new k-truss \ old k-truss is in question —
    * and P always includes the qualifying delta edges themselves. Every
    * e ∈ P needs ≥ k−2 support triangles inside the new truss; if some
    * triangle-connected component of P contained no delta edge, all its
    * members' supports would live in old edges (old truss + the
    * component), making old-truss ∪ component a k-truss of the BASE
    * graph — contradicting the old truss's maximality. So candidates
    * are the triangle-adjacency BFS closure of the delta edges through
    * the non-old-truss pool, and a candidate-only support peel (count
    * triangles whose other two edges are old-truss or surviving
    * candidates) decides promotion exactly: the peel fixpoint unioned
    * with the old truss is a valid k-truss (⊆ the new one) and contains
    * P (P survives every round by induction) — so it IS the new
    * k-truss.
    *
    * Scale shape: per level, BFS rounds and peel rounds are wedge joins
    * RESTRICTED to frontier/candidate edges — a delta touching 1% of
    * the graph re-supports ~1% of the wedges; old labels are read,
    * never recomputed. Fixed `rounds` caps both loops with the
    * convergence early-exit, as everywhere in this module.
    *
    * @param baseLabels exact (a, b, trussness) for the base graph
    * @return (a, b, trussness ∈ [2, maxK]) for every distinct merged
    *         edge — identical to `trussness(base ∪ delta, ...)` at
    *         convergence (TrussnessIncSpec pins a whole-ring promotion
    *         cascade)
    */
  /** WAVE-MODE candidate peel (r13, the trussness barrier diet): run
    * the per-round peel bookkeeping on the DRIVER when the candidate
    * support table is driver-small, instead of paying ~6 fixed-cost
    * Spark jobs (two checkpoints, two counts, a growing union chain)
    * per round on waves of a few hundred edges. Entry gates, all
    * honest measured bounds:
    *  - the support table is POOL-bounded by construction (`nPool`
    *    rows, already counted by the caller) vs
    *    [[Wave.rowCap]] (default 2*10^6);
    *  - the peel's adjacency queries are keyed ONLY by pool-edge
    *    endpoints (removals and refreshes touch candidate edges
    *    alone), so the keep0 adjacency restricted to pool nodes is
    *    what gets collected - its total entry count is measured by
    *    one aggregate vs `spark.graft.graph.waveAdjEntries` (default
    *    3*10^7 neighbor entries, ~250 MB) BEFORE any collect.
    * Inside the gates a level costs THREE distributed jobs total (the
    * initial support pass, the entry-count probe, the scoped-adjacency
    * collect) and every peel round is pure driver arithmetic - the
    * r12 shape paid ~6 jobs at ~1.1 s fixed overhead PER ROUND. The
    * refresh formula is the distributed round's own (static adjacency
    * minus accumulated removed neighbors), so the trajectory is
    * IDENTICAL round for round. Over-cap pools, over-cap adjacency,
    * and non-integral node ids take `fallback` - the unchanged
    * distributed loop.
    */
  private def peelCandidates(und: DataFrame, adjKeep0: DataFrame,
                             supPlan: DataFrame, nPool: Long, k: Int,
                             rounds: Int,
                             fallback: (DataFrame, Option[DataFrame], Int) => DataFrame)
      : DataFrame = {
    import org.apache.spark.sql.types.{IntegerType, LongType}
    val ss = und.sparkSession
    import ss.implicits._
    val aT = und.schema("a").dataType
    val bT = und.schema("b").dataType
    val integral = Seq(aT, bT).forall(t => t == LongType || t == IntegerType)
    if (!integral || nPool > Wave.rowCap(ss))
      return fallback(supPlan.ckpt, None, 0)
    def num(v: Any): Long = v match {
      case l: Long => l
      case i: Int => i.toLong
      case other => throw new IllegalStateException(s"non-integral id $other")
    }
    def toEdges(pairs: Seq[(Long, Long)]): DataFrame =
      ss.createDataset(pairs).toDF("a", "b")
        .select(col("a").cast(aT).as("a"), col("b").cast(bT).as("b"))
    val aliveM = scala.collection.mutable.HashMap.empty[(Long, Long), Long]
    supPlan.collect().foreach { r =>
      aliveM((num(r.get(0)), num(r.get(1)))) = num(r.get(2))
    }
    if (aliveM.isEmpty) return toEdges(Seq.empty)
    // the adjacency slice the whole peel can ever query: keep0
    // neighbor lists of pool-edge endpoints, size-PROBED before any
    // collect (one aggregate), then collected once
    val poolNodes = aliveM.keysIterator
      .flatMap(e => Iterator(e._1, e._2)).toSet
    val nodesDf = broadcast(ss.createDataset(poolNodes.toSeq).toDF("v")
      .select(col("v").cast(aT).as("v")))
    val scopedPlan = adjKeep0.join(nodesDf, Seq("v"), "left_semi")
    val entryCap = ss.conf
      .get("spark.graft.graph.waveAdjEntries", "30000000").toLong
    val entries = scopedPlan
      .agg(coalesce(sum(size(col("ns"))), lit(0L))).head().getLong(0)
    if (entries > entryCap)
      return fallback(supPlan.ckpt, None, 0)
    val adjLoc = scala.collection.mutable.HashMap.empty[Long, Array[Long]]
    scopedPlan.collect().foreach { r =>
      adjLoc(num(r.get(0))) =
        r.getSeq[Any](1).iterator.map(num).toArray.sorted
    }
    // driver-local peel: identical trajectory to the distributed
    // rounds (removals accumulate per node; supports recompute as
    // |adj0(x) intersect adj0(y)| minus removed-neighbor hits)
    val removedNbrs = scala.collection.mutable.HashMap
      .empty[Long, scala.collection.mutable.HashSet[Long]]
    def remSet(v: Long) = removedNbrs.get(v)
    def commonNeighbors(a: Long, b: Long): Iterator[Long] = {
      val na = adjLoc.getOrElse(a, Array.emptyLongArray)
      val nb = adjLoc.getOrElse(b, Array.emptyLongArray)
      new Iterator[Long] {
        private var i = 0; private var j = 0
        private var nextV = 0L; private var ready = false
        private def advance(): Unit = {
          while (!ready && i < na.length && j < nb.length) {
            if (na(i) < nb(j)) i += 1
            else if (na(i) > nb(j)) j += 1
            else { nextV = na(i); i += 1; j += 1; ready = true }
          }
        }
        def hasNext: Boolean = { advance(); ready }
        def next(): Long = { advance(); ready = false; nextV }
      }
    }
    def supportNow(x: Long, y: Long): Long = {
      val rx = remSet(x); val ry = remSet(y)
      var s = 0L
      val it0 = commonNeighbors(x, y)
      while (it0.hasNext) {
        val w = it0.next()
        if (!rx.exists(_.contains(w)) && !ry.exists(_.contains(w))) s += 1
      }
      s
    }
    var it = 0
    var done = false
    while (it < rounds && !done) {
      val wave = aliveM.iterator.filter(_._2 < k - 2).map(_._1).toArray
      if (wave.isEmpty) done = true
      else {
        wave.foreach { case (a, b) =>
          aliveM.remove((a, b))
          removedNbrs.getOrElseUpdate(a,
            scala.collection.mutable.HashSet.empty) += b
          removedNbrs.getOrElseUpdate(b,
            scala.collection.mutable.HashSet.empty) += a
        }
        // tri-neighborhood discovery against the STATIC adjacency (a
        // superset of current triangles - no affected edge missed),
        // refreshed only for still-alive candidate edges
        val affected = scala.collection.mutable.HashSet.empty[(Long, Long)]
        wave.foreach { case (a, b) =>
          val cn = commonNeighbors(a, b)
          while (cn.hasNext) {
            val w = cn.next()
            val e1 = (math.min(a, w), math.max(a, w))
            val e2 = (math.min(b, w), math.max(b, w))
            if (aliveM.contains(e1)) affected += e1
            if (aliveM.contains(e2)) affected += e2
          }
        }
        affected.foreach { case (x, y) => aliveM((x, y)) = supportNow(x, y) }
        it += 1
      }
    }
    toEdges(aliveM.iterator.filter(_._2 >= k - 2).map(_._1).toSeq)
  }

  /** Fully-local incremental sweep (r13, the barrier diet's last leg):
    * when the MERGED graph passes the wave gates
    * ([[Wave.collectIfSmall]] — count-gated, integral ids), the whole
    * per-level machinery (old-truss monotonicity, merged-support
    * prefilter, adaptive direct/incremental cutover, delta closure,
    * candidate peel) runs as driver arithmetic over packed edge sets:
    * THREE collects total (merged edges, delta, base labels) and one
    * result materialization replace the r12 shape's two prep passes
    * plus ~10 jobs per level plus ~6 jobs per peel round. Every
    * decision mirrors the distributed branch value-for-value — same
    * pool filter, same nPool·2 &gt; nPrev cutover, same nSeeds·20 ≥
    * nPool closure skip, same bounded closure/peel rounds — so the
    * trajectory (and the oracle result) is identical by construction.
    * Returns None above the caps; the distributed path then runs
    * unchanged.
    */
  private def trussnessIncLocal(baseLabels: DataFrame, und: DataFrame,
                                delta: DataFrame, maxK: Int,
                                rounds: Int): Option[DataFrame] = {
    val edgesU = Wave.collectIfSmall(und, Seq("a", "b"), widenInt = true,
      idBound = true)(Wave.pair) match {
      case Some(e) => e
      case None => return None
    }
    val ss = und.sparkSession
    def pack(a: Long, b: Long): Long = (a << 31) | b
    // delta edges and base labels are subsets of the merged graph's
    // edge/id space — bounded by the same cap that admitted edgesU;
    // non-integral label frames bail out before any local work
    val lTypes = Seq(baseLabels.schema("a").dataType,
      baseLabels.schema("b").dataType)
    if (!lTypes.forall(t => t == org.apache.spark.sql.types.LongType ||
        t == org.apache.spark.sql.types.IntegerType)) return None
    // fastCollect + parallel decode (r14): the base-label table is
    // edge-sized (1.19M rows at sf0.1) and Dataset.collect's per-row
    // external decode ran ~0.5 s single-threaded on it
    import org.apache.spark.sql.types.{IntegerType, LongType}
    def decodePacked(df: DataFrame, withVal: Boolean)
        : (Array[Long], Array[Long]) = {
      val fs = df.schema.fields
      val ir = Wave.fastCollect(df)
      val keys = new Array[Long](ir.length)
      val vals = if (withVal) new Array[Long](ir.length) else null
      java.util.stream.IntStream.range(0, ir.length).parallel().forEach { i =>
        val r = ir(i)
        def g(j: Int): Long =
          if (fs(j).dataType == LongType) r.getLong(j) else r.getInt(j).toLong
        keys(i) = pack(g(0), g(1))
        if (withVal) vals(i) = g(2)
      }
      (keys, vals)
    }
    val deltaSet = scala.collection.mutable.LongMap.empty[Unit]
    decodePacked(delta.select(col("a"), col("b")), withVal = false)
      ._1.foreach(deltaSet(_) = ())
    val labelDf = baseLabels.select(col("a"), col("b"), col("trussness"))
    if (!labelDf.schema.fields.forall(f =>
        f.dataType == LongType || f.dataType == IntegerType)) return None
    val labelsBase = scala.collection.mutable.LongMap.empty[Long]
    locally {
      val (keys, vals) = decodePacked(labelDf, withVal = true)
      var i = 0
      while (i < keys.length) { labelsBase(keys(i)) = vals(i); i += 1 }
    }
    // merged-graph structure + per-edge merged support, all local:
    // LocalTrussPeel's initial supports ARE ms(a,b) = |N(a) ∩ N(b)|
    val merged = new LocalTrussPeel(edgesU)
    val ms = scala.collection.mutable.LongMap.empty[Long]
    merged.aliveEntries.foreach { case (a, b, s) => ms(pack(a, b)) = s }
    def unpackEdges(keys: Iterable[Long]): Array[(Long, Long)] =
      keys.iterator.map(k => (k >>> 31, k & ((1L << 31) - 1))).toArray
    val labels = scala.collection.mutable.LongMap.empty[Long]
    edgesU.foreach { case (a, b) => labels(pack(a, b)) = 2L }
    var prevSet: scala.collection.mutable.LongMap[Unit] = {
      val m = scala.collection.mutable.LongMap.empty[Unit]
      edgesU.foreach { case (a, b) => m(pack(a, b)) = () }
      m
    }
    var k = 3
    var empty = false
    while (k <= maxK && !empty) {
      // monotonicity: the old k-truss survives any edge addition
      val oldTruss = scala.collection.mutable.LongMap.empty[Unit]
      labelsBase.foreach { case (key, t) => if (t >= k) oldTruss(key) = () }
      // merged-support prefilter ∩ prev ∖ oldTruss — the pool
      val pool = scala.collection.mutable.LongMap.empty[Unit]
      prevSet.foreachKey { key =>
        if (ms.getOrElse(key, 0L) >= k - 2 && !oldTruss.contains(key))
          pool(key) = ()
      }
      val nPool = pool.size.toLong
      val nPrev = prevSet.size.toLong
      val truss: scala.collection.mutable.LongMap[Unit] =
        if (nPool * 2 > nPrev) {
          // direct peel of the whole level — fresh supports within
          // prev (≡ the distributed branch's seeded kTrussCanon)
          val lp = new LocalTrussPeel(unpackEdges(prevSet.keysIterator
            .to(Iterable)))
          lp.peelLevel(k, rounds)
          val out = scala.collection.mutable.LongMap.empty[Unit]
          lp.aliveKeys.foreach(out(_) = ())
          out
        } else {
          val seeds = scala.collection.mutable.LongMap.empty[Unit]
          pool.foreachKey(key => if (deltaSet.contains(key)) seeds(key) = ())
          val nSeeds = seeds.size.toLong
          // closure of the delta through the pool via shared
          // triangles, skipped for bulk deltas (r11 semantics)
          val reached: scala.collection.mutable.LongMap[Unit] =
            if (nSeeds * 20 >= nPool) pool
            else {
              val acc = scala.collection.mutable.LongMap.empty[Unit]
              seeds.foreachKey(acc(_) = ())
              var frontier = seeds.keysIterator.toArray
              var r = 0
              while (r < rounds && frontier.nonEmpty) {
                val next = scala.collection.mutable.LongMap.empty[Unit]
                frontier.foreach { key =>
                  val a = key >>> 31; val b = key & ((1L << 31) - 1)
                  merged.forCommonStatic(a, b) { w =>
                    val e1 = pack(math.min(a, w), math.max(a, w))
                    val e2 = pack(math.min(b, w), math.max(b, w))
                    if (pool.contains(e1) && !acc.contains(e1)) next(e1) = ()
                    if (pool.contains(e2) && !acc.contains(e2)) next(e2) = ()
                  }
                }
                next.foreachKey(acc(_) = ())
                frontier = next.keysIterator.toArray
                r += 1
              }
              acc
            }
          // candidate peel within keep0 = oldTruss ∪ reached: the old
          // truss donates triangles, only candidates peel
          val keep0 = scala.collection.mutable.LongMap.empty[Unit]
          oldTruss.foreachKey(keep0(_) = ())
          reached.foreachKey(keep0(_) = ())
          val lp = new LocalTrussPeel(
            unpackEdges(keep0.keysIterator.to(Iterable)),
            candidates = Some(reached.keysIterator.toArray))
          lp.peelLevel(k, rounds)
          val out = scala.collection.mutable.LongMap.empty[Unit]
          oldTruss.foreachKey(out(_) = ())
          lp.aliveEntries.foreach { case (a, b, s) =>
            if (s >= k - 2) out(pack(a, b)) = ()
          }
          out
        }
      empty = truss.isEmpty
      if (!empty) truss.foreachKey(key => labels(key) = k.toLong)
      prevSet = truss
      k += 1
    }
    val aT = und.schema("a").dataType
    val bT = und.schema("b").dataType
    val out = Wave.localResult(ss,
      labels.iterator.map { case (key, l) =>
        (key >>> 31, key & ((1L << 31) - 1), l)
      }.toArray, Seq("a", "b", "trussness"))
      .select(col("a").cast(aT).as("a"), col("b").cast(bT).as("b"),
        col("trussness"))
    Some(out)
  }

  def trussnessIncremental(baseLabels: DataFrame, baseEdges: DataFrame,
                           deltaEdges: DataFrame, maxK: Int,
                           rounds: Int): DataFrame = {
    require(maxK >= 2, s"maxK must be >= 2, got $maxK")
    require(rounds >= 1, s"rounds must be >= 1, got $rounds")
    def canon(df: DataFrame): DataFrame =
      df.select(least(col("src"), col("dst")).as("a"),
          greatest(col("src"), col("dst")).as("b"))
        .filter(col("a") =!= col("b")).distinct()
    // canonicalize the delta ONCE (r12): it feeds both the merged set
    // and the closure seeds — the second evaluation re-ran the caller's
    // whole delta-edge construction (the gate's lineitem self-join)
    val delta = canon(deltaEdges).ckpt
    val und = canon(baseEdges).unionAll(delta).distinct()
      .ckpt
    // wave sweep first (r13): a driver-small merged graph runs the
    // whole level machinery locally — see [[trussnessIncLocal]]
    trussnessIncLocal(baseLabels, und, delta, maxK, rounds) match {
      case Some(result) => return result
      case None =>
    }
    // sorted adjacency lists of the MERGED graph (static across levels):
    // triangle closure runs as per-edge array_intersect against these —
    // the supportByIntersect posture; the doubled-edge wedge joins this
    // replaces were the 212 s in the r7 full-gate bench
    val adjAll = und.select(col("a").as("v"), col("b").as("w"))
      .unionAll(und.select(col("b").as("v"), col("a").as("w")))
      .groupBy(col("v"))
      .agg(sort_array(collect_list(col("w"))).as("ns"))
      .ckpt
    // merged-graph support of EVERY merged edge, computed ONCE (r11):
    // the per-level pool prefilter below needs ms(a,b) = |N(a) ∩ N(b)|
    // against the STATIC merged adjacency — recomputing the full
    // intersect pass per level was one whole support sweep per level
    // for a value that never changes
    val mergedSupport = und
      .join(adjAll.select(col("v").as("a"), col("ns").as("na")), Seq("a"))
      .join(adjAll.select(col("v").as("b"), col("ns").as("nb")), Seq("b"))
      .select(col("a"), col("b"),
        size(array_intersect(col("na"), col("nb"))).as("ms"))
      .ckpt
    var labels = und.select(col("a"), col("b"), lit(2L).as("lvl"))
    var prev = und // edge set of the new (k-1)-truss
    // supports on `prev` when the last level ran the DIRECT peel (r12
    // cross-level seeding; an incremental level resets to None because
    // its oldTruss edges carry no full-graph supports)
    var levelSup: Option[DataFrame] = None
    val hubFree = Some(hubFreeOf(und))
    var k = 3
    var empty = false
    // edges sharing a triangle with `f` in the merged graph: common
    // neighbors w of (a, b) exploded to (a,w) and (b,w)
    def triAdjacent(f: DataFrame): DataFrame = {
      val cs = f
        .join(adjAll.select(col("v").as("a"), col("ns").as("na")), Seq("a"))
        .join(adjAll.select(col("v").as("b"), col("ns").as("nb")), Seq("b"))
        .select(col("a"), col("b"),
          array_intersect(col("na"), col("nb")).as("cs"))
        .filter(size(col("cs")) > 0)
        .select(col("a"), col("b"), explode(col("cs")).as("w"))
      cs.select(least(col("a"), col("w")).as("a"),
          greatest(col("a"), col("w")).as("b"))
        .unionAll(cs.select(least(col("b"), col("w")).as("a"),
          greatest(col("b"), col("w")).as("b")))
        .distinct()
    }
    while (k <= maxK && !empty) {
      // monotonicity: the old k-truss survives any edge addition
      val oldTruss = baseLabels.filter(col("trussness") >= k)
        .select(col("a"), col("b")).ckpt
      // merged-graph support prefilter (r7): every edge of the new
      // k-truss has support ≥ k−2 IN THE NEW TRUSS ⊆ merged graph, and
      // every relay edge on a promotion-closure path is itself promoted
      // — so edges below k−2 merged support can neither be candidates
      // NOR carry closure connectivity. One intersection pass against
      // the static merged adjacency shrinks the pool to the dense
      // region before the closure/peel loops run (the big-delta case
      // otherwise closes over nearly the whole graph: 212 s → this +
      // supportByIntersect cut the gate to ~a third).
      val pool = mergedSupport.filter(col("ms") >= k - 2)
        .select(col("a"), col("b"))
        .join(prev, Seq("a", "b"), "left_semi")
        .join(oldTruss, Seq("a", "b"), "left_anti")
        .ckpt
      // Adaptive cutover (r7): incremental maintenance only wins while
      // the candidate region is SMALL — with a bulk delta (the gate's
      // every-7th-basket arrival) the closure + candidate peel touch
      // most of the graph across many bounded rounds and cost MORE than
      // one direct peel. Both paths compute the same object — the exact
      // k-truss of the merged (k−1)-truss (the closure/maximality
      // argument; the gate oracle IS the full re-peel) — so when the
      // support-filtered pool exceeds half the level's edge set, peel
      // `prev` directly and skip the per-edge bookkeeping.
      val nPool = pool.count()
      val nPrev = prev.count()
      val truss = (if (nPool * 2 > nPrev) {
        val supK = kTrussCanon(prev, k, rounds, levelSup, hubFree).ckpt
        levelSup = Some(supK)
        supK.select(col("a"), col("b"))
      } else {
        levelSup = None
        // closure of the delta edges through the pool, via shared
        // triangles. The closure exists for SMALL deltas (peel only the
        // touched region); it is not needed for correctness — peeling
        // the WHOLE pool reaches the same fixpoint, because a surviving
        // pool component with no delta edge would make oldTruss ∪
        // component a k-truss of the BASE graph, contradicting the base
        // labels' maximality, so the peel itself removes it. With a
        // bulk delta the closure reaches ~the whole pool anyway and its
        // BFS rounds are pure overhead (r11: 6-8 s of the gate's 35 s),
        // so it only runs when the delta seeds are a small fraction of
        // the pool.
        val seeds = delta.join(pool, Seq("a", "b"), "left_semi").ckpt
        val nSeeds = seeds.count()
        var reached =
          if (nSeeds * 20 >= nPool) pool
          else {
            var acc = seeds
            var frontier = acc
            var r = 0
            while (r < rounds && !frontier.isEmpty) {
              frontier = triAdjacent(frontier)
                .join(pool, Seq("a", "b"), "left_semi")
                .join(acc, Seq("a", "b"), "left_anti")
                .ckpt
              // acc stays a UNION of already-checkpointed frontiers —
              // plan depth is O(rounds) over leaf RDDs, and skipping the
              // re-checkpoint saves one full-set materialization per round
              acc = acc.unionAll(frontier)
              r += 1
            }
            acc
          }
        // candidate-only peel: support = triangles whose other two
        // edges are old-truss or surviving candidates. TARGETED form
        // (r11): one full support pass seeds a per-edge support table;
        // after that a removal can only change the support of edges
        // sharing a triangle with it, so each round re-intersects ONLY
        // the triangle-neighborhood of the edges that just fell — the
        // tail rounds of this peel drop a handful of edges each, and
        // the former full-keep re-aggregate + full intersect per round
        // was the level's dominant constant. Unaffected supports are
        // exact by monotonicity (keep only shrinks, and a shrink only
        // touches triangle-adjacent edges), so the trajectory is
        // IDENTICAL to the full per-round recompute.
        // the level's KEEP universe at round 0 is oldTruss ∪ reached,
        // and within the level edges only LEAVE it — so its adjacency
        // builds ONCE (r12) and every round's survivor lists derive by
        // array_except-ing the accumulated removals (frontier-sized
        // broadcasts), replacing the full keep-set re-scan + re-group
        // that was the per-round fixed cost of the r11 peel.
        val adjKeep0 = {
          val keep0 = oldTruss.unionAll(reached)
          keep0.select(col("a").as("v"), col("b").as("w"))
            .unionAll(keep0.select(col("b").as("v"), col("a").as("w")))
            .groupBy(col("v")).agg(collect_list(col("w")).as("ns"))
            .ckpt
        }
        val supPlan = reached
          .join(adjKeep0.select(col("v").as("a"), col("ns").as("na")), Seq("a"))
          .join(adjKeep0.select(col("v").as("b"), col("ns").as("nb")), Seq("b"))
          .select(col("a"), col("b"),
            size(array_intersect(col("na"), col("nb"))).as("support"))
        // the DISTRIBUTED peel loop — the over-cap path, and the wave
        // peel's fallback (resumable from any round's exact state)
        def peelDistributed(aliveSup0: DataFrame,
                            removedAcc0: Option[DataFrame],
                            it0: Int): DataFrame = {
          var aliveSup = aliveSup0
          var removedAcc = removedAcc0
          var it = it0
          var done = false
          while (it < rounds && !done) {
            val surviving = aliveSup.filter(col("support") >= k - 2)
            val removed = aliveSup.filter(col("support") < k - 2)
              .select(col("a"), col("b")).ckpt
            val nRemoved = removed.count()
            if (nRemoved == 0) done = true
            else {
              removedAcc = Some(removedAcc match {
                case Some(acc) => acc.unionAll(removed).ckpt
                case None => removed
              })
              // count-gated broadcasts (r12): tail rounds keep the full
              // adjacency/survivor tables un-shuffled
              val affected = triAdjacent(bcIfSmall(removed, nRemoved))
                .join(surviving.select(col("a"), col("b")), Seq("a", "b"),
                  "left_semi").ckpt
              val affectedB = bcIfSmall(affected, affected.count())
              val nodes = affected.select(col("a").as("v"))
                .unionAll(affected.select(col("b").as("v"))).distinct()
              val remAcc = removedAcc.get
              val remNbrs = remAcc.select(col("a").as("v"), col("b").as("w"))
                .unionAll(remAcc.select(col("b").as("v"), col("a").as("w")))
                .join(broadcast(nodes), Seq("v"), "left_semi")
                .groupBy(col("v")).agg(collect_list(col("w")).as("rem"))
              val scopedAdj = adjKeep0
                .join(broadcast(nodes), Seq("v"), "left_semi")
                .join(remNbrs, Seq("v"), "left")
                .select(col("v"), when(col("rem").isNull, col("ns"))
                  .otherwise(array_except(col("ns"), col("rem"))).as("ns"))
              val refreshed = affectedB
                .join(scopedAdj.select(col("v").as("a"), col("ns").as("na")), Seq("a"))
                .join(scopedAdj.select(col("v").as("b"), col("ns").as("nb")), Seq("b"))
                .select(col("a"), col("b"),
                  size(array_intersect(col("na"), col("nb"))).as("support"))
              aliveSup = surviving
                .join(affectedB, Seq("a", "b"), "left_anti")
                .unionAll(refreshed).ckpt
              it += 1
            }
          }
          aliveSup.filter(col("support") >= k - 2)
            .select(col("a"), col("b"))
        }
        val alive = peelCandidates(und, adjKeep0, supPlan, nPool, k, rounds,
          peelDistributed)
        if (alive.isEmpty) oldTruss else oldTruss.unionAll(alive)
      }).ckpt
      empty = truss.isEmpty
      if (!empty)
        labels = labels.unionAll(
          truss.select(col("a"), col("b"), lit(k.toLong).as("lvl")))
      prev = truss
      k += 1
    }
    labels.groupBy(col("a"), col("b")).agg(max(col("lvl")).as("trussness"))
  }

  /** R102: multi-source WEIGHTED shortest paths — [[bfsHops]] with edge
    * costs: distributed Bellman-Ford, relaxed for a fixed number of
    * rounds. On a co-purchase graph with cost = inverse affinity this
    * is "how related is every part to the flagged set" where hop count
    * would treat a chance co-occurrence and a 500-basket pairing as the
    * same step.
    *
    * Fixed rounds for the [[bfsHops]] reasons: relaxation is monotone
    * (per-node distances only decrease, new nodes only appear), rounds
    * ≥ the shortest-path tree's edge depth ≡ exact, and the oracle
    * stays a straight-line chained CTE. Convergence early-exit: the
    * (count, sum) signature of the distance table is monotone (count
    * only grows, sum per node only shrinks), so an unchanged signature
    * means a fixpoint and ends the loop — two scalar aggregates per
    * round, no row-level diff join. Per round the one-row-per-node
    * distance table broadcasts into the edge join ([[pageRank]]
    * posture); the only full-size shuffle is the dst min-aggregate.
    *
    * Weights must be non-negative (Bellman-Ford with negative cycles
    * has no fixpoint); integer weights keep the oracle compare exact.
    *
    * @param edges (src, dst, w) — any duplication/orientation;
    *              parallel edges collapse to the cheapest
    * @param seeds one `node` column; seeds cost 0
    * @param rounds fixed relaxation count
    * @return (node, dist) for every node reached within `rounds` relaxed
    *         edges
    */
  /** R103: k-peak decomposition (Govindan et al.) — coreness measures
    * how deep a node sits in its OWN mountain; k-peak asks how tall that
    * mountain is: repeatedly compute coreness, peel off the innermost
    * contour (all nodes at the maximum coreness), and recompute on the
    * residual. A node hanging off the dense core gets a high coreness
    * from the core's mass alone; its peak number, computed after the
    * core is gone, reveals it as foothill. The global-structure map the
    * nested [[coreness]] hierarchy cannot give.
    *
    * Contract: coreness here is CAPPED at maxK ([[coreness]]'s cap), so
    * the first contour merges everything at capped level maxK — the
    * "capped k-peak", documented honestly; raise maxK for finer tops.
    * Fixed `maxContours` iterations keep the oracle a straight-line
    * repetition of the nested peel + max-contour removal; nodes are
    * labeled only while they retain an edge in the residual (edge-based
    * peeling, like every operator in this module).
    *
    * Per contour: one [[coreness]] sweep of the residual (shrinking),
    * one driver-side scalar max, two anti-joins to drop contour nodes.
    *
    * @return (node, peak) for every node labeled within `maxContours`
    *         contours
    */
  def kPeak(edges: DataFrame, maxK: Int, roundsPerLevel: Int,
            maxContours: Int): DataFrame = {
    require(maxContours >= 1, s"maxContours must be >= 1, got $maxContours")
    var und = edges.select(least(col("src"), col("dst")).as("a"),
        greatest(col("src"), col("dst")).as("b"))
      .filter(col("a") =!= col("b")).distinct()
      .ckpt
    var labels: DataFrame = null
    var it = 0
    var empty = und.isEmpty
    while (it < maxContours && !empty) {
      val cor = coreness(
          und.select(col("a").as("src"), col("b").as("dst")),
          maxK, roundsPerLevel)
        .ckpt
      val kmax = cor.agg(coalesce(max(col("coreness")), lit(0L)))
        .head().getLong(0)
      val contour = cor.filter(col("coreness") === kmax)
        .select(col("node")).ckpt
      val labeled = contour.select(col("node"), lit(kmax).as("peak"))
      labels = if (labels == null) labeled else labels.unionAll(labeled)
      und = und
        .join(contour.withColumnRenamed("node", "a"), Seq("a"), "left_anti")
        .join(contour.withColumnRenamed("node", "b"), Seq("b"), "left_anti")
        .select(col("a"), col("b"))
        .ckpt
      empty = und.isEmpty
      it += 1
    }
    if (labels == null)
      und.select(col("a").as("node"), lit(0L).as("peak")).limit(0)
    else labels
  }

  /** R105: shortest-path COUNTING from a seed set — per (seed, node):
    * the hop distance and σ = the NUMBER of distinct shortest paths,
    * via level-synchronous BFS where a newly-reached node's σ is the
    * sum of its predecessors' σ (the forward half of Brandes'
    * betweenness; the backward dependency accumulation needs rational
    * arithmetic, so σ/dist — integer-exact in any engine — is the part
    * that gates; consumers derive centrality approximations from it).
    * σ separates corridor nodes (every route passes them, σ
    * concentrates) from redundant-mesh nodes even at the same distance.
    *
    * Per round: the frontier (nodes first reached at dist r−1)
    * broadcasts into the edge join, one (seed, dst) sum-aggregate, one
    * anti-join against the settled set. Monotone (settled only grows),
    * empty-frontier early-exit; rounds ≥ max seed eccentricity ≡ exact.
    *
    * @param seeds one `node` column; σ(seed, seed) = 1 at dist 0
    * @return (seed, node, dist, sigma) for every node reached within
    *         `rounds`
    */
  // ---------------------------------------------------------------------
  // Vectorized multi-source BFS: the seed dimension as a fixed-width long
  // array per NODE instead of a (seed, node) row per pair. With k pivots
  // the row formulation expands every round into Σdeg(frontier) ≈ k·|E|
  // intermediate ROWS (41M+ per round on the sf0.1 co-purchase graph for
  // k = 32; 260M+ for the %97 seed sets) that each pay join/agg row
  // machinery. Here the per-round job is one broadcast-gated hash join of
  // the |E| edge list against the |V|-row state plus one array-summing
  // aggregate whose per-edge work is a compiled k-length loop with full
  // map-side combine — shuffle bytes are O(|V|·k) regardless of degree.
  // Results are bit-identical to the row path (same first-reach dist,
  // same σ sums, same truncating δ division); the row path remains the
  // fallback above the seed-width bound, where O(k) per node no longer
  // fits a row ("spark.graft.bfsVectorMaxSeeds", default 4096).
  // ---------------------------------------------------------------------

  /** Elementwise sum of equal-length long-array messages (the BFS σ
    * combiner). Buffer starts empty and adopts the first message's width,
    * so one instance serves any seed count.
    */
  private class SumLongArraysAgg
      extends Aggregator[Array[Long], Array[Long], Array[Long]] {
    private def add(b: Array[Long], a: Array[Long]): Array[Long] =
      if (a == null || a.isEmpty) b
      else if (b.isEmpty) a.clone()
      else { var i = 0; while (i < b.length) { b(i) += a(i); i += 1 }; b }
    override def zero: Array[Long] = Array.emptyLongArray
    override def reduce(b: Array[Long], a: Array[Long]): Array[Long] = add(b, a)
    override def merge(a: Array[Long], b: Array[Long]): Array[Long] = add(a, b)
    override def finish(b: Array[Long]): Array[Long] = b
    override def bufferEncoder: Encoder[Array[Long]] = ExpressionEncoder()
    override def outputEncoder: Encoder[Array[Long]] = ExpressionEncoder()
  }

  /** Per-edge Brandes dependency terms at backward level `d`, summed
    * elementwise: for each seed position i with dist_i(v) = d on the v
    * side and a REACHED successor w at level d+1 (σw_i > 0 — masked
    * upstream, and σ ≥ 1 whenever settled), the term is
    * σ_v·(10⁶ + δ_w) div σ_w with truncating long division (operands
    * nonnegative, so trunc ≡ floor — identical to the decimal row path).
    */
  private class BrandesContribAgg(d: Long)
      extends Aggregator[(Array[Long], Array[Long], Array[Long], Array[Long]),
                         Array[Long], Array[Long]] {
    override def zero: Array[Long] = Array.emptyLongArray
    override def reduce(b0: Array[Long],
                        in: (Array[Long], Array[Long], Array[Long], Array[Long]))
        : Array[Long] = {
      val (distV, sigV, sigW, deltaW) = in
      val b = if (b0.isEmpty) new Array[Long](distV.length) else b0
      var i = 0
      while (i < b.length) {
        if (sigW(i) > 0L && distV(i) == d)
          b(i) += sigV(i) * (1000000L + deltaW(i)) / sigW(i)
        i += 1
      }
      b
    }
    override def merge(a: Array[Long], b: Array[Long]): Array[Long] =
      if (b.isEmpty) a
      else if (a.isEmpty) b
      else { var i = 0; while (i < a.length) { a(i) += b(i); i += 1 }; a }
    override def finish(b: Array[Long]): Array[Long] = b
    override def bufferEncoder: Encoder[Array[Long]] = ExpressionEncoder()
    override def outputEncoder: Encoder[Array[Long]] = ExpressionEncoder()
  }

  private def bfsVectorMaxSeeds(df: DataFrame): Long =
    df.sparkSession.conf.get("spark.graft.bfsVectorMaxSeeds", "4096").toLong

  /** Seed-width bound for the EXPRESSION-SUM aggregation path of the
    * vector BFS/Brandes passes (r14 optimization): at or below it, the
    * elementwise array sums run as k independent `sum(arr[j])` columns —
    * whole-stage-codegen long sums that read the packed array data
    * in-place — instead of a typed Aggregator whose per-input-row
    * encoder materializes every array as a boxed JVM object (measured
    * 196 CPU-s for one 2.4M-edge backward level at k = 32; the
    * expression form is ~10×). Above the bound the udaf path stays: a
    * thousand-column aggregate would blow codegen method limits for no
    * win (guide §4 "prefer built-in expressions in the hot path").
    */
  private def vectorExprSumMaxK(df: DataFrame): Long =
    df.sparkSession.conf.get("spark.graft.graph.vectorExprSumMaxK", "128").toLong

  /** groupBy(key).agg of the elementwise sum of a k-wide long-array
    * column, as k codegen sum columns reassembled into one array —
    * output identical to `udaf(SumLongArraysAgg)` over the same rows
    * (groups here are never empty, and inputs carry no nulls).
    */
  private def sumArrayByExpr(grouped: DataFrame,
                             key: org.apache.spark.sql.Column, keyName: String,
                             arr: org.apache.spark.sql.Column,
                             k: Long, out: String): DataFrame = {
    val sums = (0 until k.toInt).map(j => sum(arr.getItem(j)).as(s"__s$j"))
    grouped.groupBy(key.as(keyName))
      .agg(sums.head, sums.tail: _*)
      .select(col(keyName),
        array((0 until k.toInt).map(j => col(s"__s$j")): _*).as(out))
  }

  /** Dense seed index (seed, idx 0..k−1) under the total order on seed
    * ids — k rows, metadata-sized; the single-partition window is over
    * the already-distinct seed set only.
    */
  private def seedIndex(seeds: DataFrame): DataFrame =
    seeds.select(col("node").as("seed")).distinct()
      .withColumn("idx",
        (row_number().over(Window.orderBy(col("seed"))) - 1).cast("long"))

  /** Vectorized forward pass. Returns the per-node state (node,
    * dist: array&lt;long&gt; — −1 = unreached, sig: array&lt;long&gt;)
    * plus the seed index and node count for downstream passes.
    */
  private def bfsVectorForward(dir: DataFrame, seedIdx: DataFrame, k: Long,
                               rounds: Int): (DataFrame, Long) = {
    val sumArr = udaf(new SumLongArraysAgg)
    val nodes = dir.select(col("src").as("node"))
      .unionAll(seedIdx.select(col("seed").as("node"))).distinct()
    var state = nodes
      .join(broadcast(seedIdx), nodes("node") === seedIdx("seed"), "left")
      .select(col("node"),
        expr(s"transform(sequence(0, ${k - 1}), j -> CAST(CASE WHEN idx IS NOT NULL AND j = idx THEN 0 ELSE -1 END AS BIGINT))").as("dist"),
        expr(s"transform(sequence(0, ${k - 1}), j -> CAST(CASE WHEN idx IS NOT NULL AND j = idx THEN 1 ELSE 0 END AS BIGINT))").as("sig"))
      .ckpt
    val nNodes = state.count()
    for (r <- 1 to rounds) {
      val active = state
        .filter(expr(s"exists(dist, dd -> dd = ${r - 1})"))
        .select(col("node").as("src"),
          expr(s"zip_with(dist, sig, (dd, s) -> CAST(CASE WHEN dd = ${r - 1} THEN s ELSE 0 END AS BIGINT))").as("msg"))
      val joined = dir.join(maybeBroadcast(active, nNodes), Seq("src"))
      val msgs =
        if (k <= vectorExprSumMaxK(dir))
          sumArrayByExpr(joined, col("dst"), "node", col("msg"), k, "m")
        else joined.groupBy(col("dst").as("node"))
          .agg(sumArr(col("msg")).as("m"))
      state = state.join(msgs, Seq("node"), "left")
        .select(col("node"),
          expr(s"CASE WHEN m IS NULL THEN dist ELSE zip_with(dist, m, (dd, mv) -> CAST(CASE WHEN dd >= 0 THEN dd WHEN mv > 0 THEN $r ELSE -1 END AS BIGINT)) END").as("dist"),
          expr(s"CASE WHEN m IS NULL THEN sig ELSE zip_with(arrays_zip(dist, sig), m, (ds, mv) -> CAST(CASE WHEN ds.dist >= 0 THEN ds.sig WHEN mv > 0 THEN mv ELSE 0 END AS BIGINT)) END").as("sig"))
        .ckpt
    }
    (state, nNodes)
  }

  /** Explode the vector state back to the row contract
    * (seed, node, dist, sigma) — reached positions only.
    */
  private def bfsVectorToRows(state: DataFrame, seedIdx: DataFrame): DataFrame =
    state.select(col("node"), posexplode(expr("arrays_zip(dist, sig)")))
      .filter(col("col.dist") >= 0)
      .join(broadcast(seedIdx), col("pos").cast("long") === seedIdx("idx"))
      .select(col("seed"), col("node"), col("col.dist").as("dist"),
        col("col.sig").as("sigma"))

  def shortestPathCounts(edges: DataFrame, seeds: DataFrame,
                         rounds: Int): DataFrame = {
    require(rounds >= 1, s"rounds must be >= 1, got $rounds")
    val und = edges.select(least(col("src"), col("dst")).as("a"),
        greatest(col("src"), col("dst")).as("b"))
      .filter(col("a") =!= col("b")).distinct()
    val dir = und.select(col("a").as("src"), col("b").as("dst"))
      .unionAll(und.select(col("b").as("src"), col("a").as("dst")))
      .ckpt
    shortestPathCountsOnDir(dir, seeds, rounds)
  }

  /** [[shortestPathCounts]] over an ALREADY canonicalized+doubled+staged
    * directed edge table — the entry point for callers (betweenness) that
    * build that table themselves and would otherwise pay the
    * canonicalize/double/checkpoint twice per gate.
    */
  def shortestPathCountsOnDir(dir: DataFrame, seeds: DataFrame,
                              rounds: Int): DataFrame = {
    val seedIdx = seedIndex(seeds).ckpt
    val k = seedIdx.count()
    if (k >= 1 && k <= bfsVectorMaxSeeds(dir)) {
      val (state, _) = bfsVectorForward(dir, seedIdx, k, rounds)
      return bfsVectorToRows(state, seedIdx)
    }
    var frontier = seeds.select(col("node").as("seed"), col("node"),
        lit(0L).as("dist"), lit(1L).as("sigma"))
      .ckpt
    var done = frontier
    // exact row counts of the checkpointed loop state (cheap RDD counts)
    // gate the broadcast hints below: the (seed, node) state is pivot- ×
    // node-sized — with a fixed pivot budget it broadcasts comfortably,
    // and hinting it turns each round's edge join into one streaming
    // pass over `dir` with map-side combine instead of a sort-merge that
    // sorts and shuffles the Σdeg-sized expansion (41M+ rows per round
    // on the sf0.1 co-purchase graph). Above the gate the joins fall
    // back to hash shuffles and the pass survives any node count.
    var frontRows = frontier.count()
    var doneRows = frontRows
    var r = 1
    while (r <= rounds && frontRows > 0) {
      frontier = maybeBroadcast(frontier, frontRows)
        .join(dir.withColumnRenamed("src", "node"), Seq("node"))
        .groupBy(col("seed"), col("dst").as("node"))
        .agg(sum(col("sigma")).as("sigma"))
        .join(maybeBroadcast(done.select(col("seed"), col("node")), doneRows),
          Seq("seed", "node"), "left_anti")
        .select(col("seed"), col("node"), lit(r.toLong).as("dist"),
          col("sigma"))
        .ckpt
      frontRows = frontier.count()
      done = done.unionByName(frontier).ckpt
      doneRows += frontRows
      r += 1
    }
    done
  }

  /** R133: seeded betweenness centrality — Brandes' algorithm restricted
    * to a seed set and a round cap (Brandes 2001; the standard partial/
    * pivot formulation, public literature): forward, [[shortestPathCounts]]
    * settles (seed, node, dist, σ); backward, dependencies flow down the
    * BFS DAG level by level,
    *
    *   δ(v) = Σ_{w: succ of v} σ_v · (10⁶ + δ(w)) div σ_w   (ppm)
    *
    * with PER-EDGE floor division — the stated exactness contract (all
    * operands nonnegative), replayed level-for-level by the oracle's
    * chained CTEs. bc_ppm(v) = Σ_seeds δ_s(v) over v ≠ s: "how much
    * shortest-path traffic from the seed pivots routes THROUGH v" — the
    * broker/chokepoint metric R105's σ counts feed. Everything is
    * level-keyed joins on the settled table: one join + one aggregate
    * per level per direction, no all-pairs stage; the round cap bounds
    * the DAG exactly as in R105/R106.
    *
    * @return (node, bc_ppm) for every non-seed node settled at dist ≥ 1
    */
  def betweennessSeeded(edges: DataFrame, seeds: DataFrame,
                        rounds: Int): DataFrame = {
    require(rounds >= 1, s"rounds must be >= 1, got $rounds")
    val und = edges.select(least(col("src"), col("dst")).as("a"),
        greatest(col("src"), col("dst")).as("b"))
      .filter(col("a") =!= col("b")).distinct()
    val dir = und.select(col("a").as("src"), col("b").as("dst"))
      .unionAll(und.select(col("b").as("src"), col("a").as("dst")))
      .ckpt
    betweennessOnDir(dir, seeds, rounds)
  }

  /** [[betweennessSeeded]] over an ALREADY canonicalized + doubled +
    * checkpointed directed edge table (both (u,v) and (v,u) present,
    * self-loops removed, distinct) — for callers that stage that table
    * ONCE across many gates (the QueriesR6 co-purchase staging): the
    * defensive re-canonicalization is a full distinct + double +
    * checkpoint of the edge list, ~20% of this gate's wall time when
    * the input is already canonical.
    */
  def betweennessOnDir(dir: DataFrame, seeds: DataFrame,
                       rounds: Int): DataFrame = {
    require(rounds >= 1, s"rounds must be >= 1, got $rounds")
    // r14 wave mode: the forward BFS + backward Brandes walk replayed as
    // driver arithmetic when the (nodes × seeds) label volume fits the
    // wave budget — the pageRankOnDir dispatch with the per-seed label
    // multiplier (a k-seed walk holds k labels per node). Over-cap
    // inputs take the distributed vector/row paths below unchanged.
    val wave = for {
      pairs <- Wave.collectIfSmall(dir, Seq("src", "dst"), capFactor = 2)(Wave.pair)
      sd <- Wave.collectIdsIfSmall(seeds, "node", distinct = true)
      if (pairNodeCount(pairs) + sd.length) * math.max(sd.length, 1L) <=
        Wave.labelCap(dir.sparkSession)
    } yield betweennessLocal(dir.sparkSession, pairs, sd, rounds)
    wave match {
      case Some(out) => return out
      case None =>
    }
    val seedIdx = seedIndex(seeds).ckpt
    val k = seedIdx.count()
    if (k >= 1 && k <= bfsVectorMaxSeeds(dir))
      return betweennessVector(dir, seedIdx, k, rounds)
    // forward pass on the SAME staged directed table (one build per gate,
    // not one per pass)
    val sp = shortestPathCountsOnDir(dir, seeds, rounds).ckpt
    val spRows = sp.count()
    // Long fixed-point for δ (the R141 convention, replacing the
    // DECIMAL(38,0) this used through r6 — identical values, both types
    // truncate-divide nonnegative operands): each per-edge term is
    // σ_v·(10⁶ + δ_w) div σ_w, so int64 holds while σ·(10⁶ + δ) <
    // 9.2·10¹⁸ — comfortable for pivot-capped walks of this depth;
    // an adversarially deep/dense DAG needs the decimal widening back.
    //
    // deepest level seeds the walk with δ = 0 — and being non-seed
    // (dist = rounds ≥ 1) its nodes belong in the output with bc 0
    var prev = sp.filter(col("dist") === rounds)
      .select(col("seed"), col("node"), col("sigma"),
        lit(0L).as("delta"))
      .ckpt
    var acc: DataFrame = prev
    for (d <- rounds - 1 to 0 by -1) {
      val level = sp.filter(col("dist") === d)
        .select(col("seed"), col("node"), col("sigma"))
      // both loop tables are (seed, node)-sized: broadcast-gated on the
      // settled-table count so the Σdeg-sized expansion streams through
      // two hash joins with map-side combine, never a sort-merge
      val contrib = maybeBroadcast(level, spRows)
        .join(dir.withColumnRenamed("src", "node"), Seq("node"))
        .join(maybeBroadcast(prev.select(col("seed"), col("node").as("dst"),
            col("sigma").as("__sw"), col("delta").as("__dw")), spRows),
          Seq("seed", "dst"))
        .select(col("seed"), col("node"),
          expr("sigma * (1000000 + __dw) div __sw").as("__term"))
        .groupBy(col("seed"), col("node"))
        .agg(sum(col("__term")).as("__delta"))
      val cur = level.join(contrib, Seq("seed", "node"), "left")
        .select(col("seed"), col("node"), col("sigma"),
          coalesce(col("__delta"), lit(0L)).as("delta"))
        .ckpt
      // v = seed (d = 0) carries dependency but is not a broker for its
      // own traffic — excluded from the centrality sum, Brandes' v ≠ s
      if (d > 0) acc = acc.unionByName(cur)
      prev = cur
    }
    acc.groupBy(col("node"))
      .agg(sum(col("delta")).cast("long").as("bc_ppm"))
  }

  /** Vectorized [[betweennessSeeded]] body: forward state from
    * [[bfsVectorForward]], then the backward dependency walk with a
    * δ array per node — level d's contributions are computed inside a
    * compiled per-edge aggregate ([[BrandesContribAgg]]) and land only
    * on positions settled at d, so one running δ array accumulates each
    * (seed, node) dependency exactly once, exactly as the row path's
    * level tables do. Output contract identical: nodes settled at
    * dist ≥ 1 for at least one seed, bc_ppm = Σ_seeds δ over those
    * positions (the seed's own d = 0 position excluded — Brandes v ≠ s).
    */
  private def betweennessVector(dir: DataFrame, seedIdx: DataFrame, k: Long,
                                rounds: Int): DataFrame = {
    val (fwd, nNodes) = bfsVectorForward(dir, seedIdx, k, rounds)
    var state = fwd
      .withColumn("delta",
        expr(s"transform(sequence(0, ${k - 1}), j -> CAST(0 AS BIGINT))"))
      .ckpt
    for (d <- rounds - 1 to 0 by -1) {
      val brandes = udaf(new BrandesContribAgg(d.toLong))
      val wside = state
        .filter(expr(s"exists(dist, dd -> dd = ${d + 1})"))
        .select(col("node").as("dst"),
          expr(s"zip_with(dist, sig, (dd, s) -> CAST(CASE WHEN dd = ${d + 1} THEN s ELSE 0 END AS BIGINT))").as("sigw"),
          expr(s"zip_with(dist, delta, (dd, dl) -> CAST(CASE WHEN dd = ${d + 1} THEN dl ELSE 0 END AS BIGINT))").as("deltaw"))
      val vside = state
        .filter(expr(s"exists(dist, dd -> dd = $d)"))
        .select(col("node").as("src"), col("dist").as("distv"),
          col("sig").as("sigv"))
      val edgeTerms = dir
        .join(maybeBroadcast(vside, nNodes), Seq("src"))
        .join(maybeBroadcast(wside, nNodes), Seq("dst"))
      val contrib =
        if (k <= vectorExprSumMaxK(dir)) {
          // per-position Brandes term as a codegen long expression — the
          // udaf's loop body verbatim (truncating div, nonneg operands)
          val sums = (0 until k.toInt).map(j => sum(expr(
            s"CASE WHEN distv[$j] = $d AND sigw[$j] > 0 THEN " +
              s"sigv[$j] * (1000000 + deltaw[$j]) div sigw[$j] " +
              s"ELSE CAST(0 AS BIGINT) END")).as(s"__c$j"))
          edgeTerms.groupBy(col("src").as("node"))
            .agg(sums.head, sums.tail: _*)
            .select(col("node"),
              array((0 until k.toInt).map(j => col(s"__c$j")): _*).as("c"))
        } else edgeTerms.groupBy(col("src").as("node"))
          .agg(brandes(col("distv"), col("sigv"), col("sigw"), col("deltaw"))
            .as("c"))
      state = state.join(contrib, Seq("node"), "left")
        .select(col("node"), col("dist"), col("sig"),
          expr("CASE WHEN c IS NULL THEN delta ELSE zip_with(delta, c, (dl, cv) -> dl + cv) END").as("delta"))
        .ckpt
    }
    state
      .filter(expr("exists(dist, dd -> dd >= 1)"))
      .select(col("node"),
        expr("aggregate(zip_with(dist, delta, (dd, dl) -> CAST(CASE WHEN dd >= 1 THEN dl ELSE 0 END AS BIGINT)), CAST(0 AS BIGINT), (a, x) -> a + x)").as("bc_ppm"))
  }

  /** Driver-local [[betweennessOnDir]] twin (r14 wave mode): the
    * vectorized forward BFS and backward Brandes walk replayed
    * value-for-value over dense (node × seed) arrays — synchronous
    * rounds, per-position settles (a position settles at round r iff
    * still unsettled and its summed σ message is positive), the same
    * per-edge truncating division (all operands nonnegative, so Long `/`
    * ≡ SQL `div`), the v ≠ s seed exclusion, and the dist ≥ 1 output
    * membership. The in-place δ accumulation is exact because a level-d
    * sweep writes only positions settled at d while reading positions
    * settled at d + 1 — per-node position-disjoint sets. State rows
    * exist only for src-side nodes and seeds (the bfsVectorForward node
    * universe); messages landing elsewhere are dropped like the state
    * left-join drops them.
    */
  private def betweennessLocal(ss: org.apache.spark.sql.SparkSession,
                               pairs: Array[(Long, Long)], sd: Array[Long],
                               rounds: Int): DataFrame = {
    val k = sd.length
    if (k == 0)
      return Wave.localResult(ss, Array.empty[(Long, Long)], Seq("node", "bc_ppm"))
    val g = new Wave.LocalDigraph(pairs, sd)
    val n = g.n
    val member = java.util.Arrays.copyOf(g.isSrc, n)
    sd.foreach(s => member(g.idxOf(s)) = true)
    val dist = new Array[Int](n * k)
    java.util.Arrays.fill(dist, -1)
    val sig = new Array[Long](n * k)
    val delta = new Array[Long](n * k)
    var j = 0
    while (j < k) {
      val i = g.idxOf(sd(j))
      dist(i * k + j) = 0
      sig(i * k + j) = 1L
      j += 1
    }
    // Per-POSITION parallel sweeps: position p's reads and writes touch
    // only index slots ≡ p (mod k), so sharding the k seed positions
    // across driver threads is write-disjoint — same arithmetic, same
    // results, driver-core-width instead of one core. (The vector form's
    // "received a message row" guard is implied: a position settles only
    // on a POSITIVE σ sum, and a positive sum is a received message.)
    def perPosition(body: Int => Unit): Unit =
      java.util.stream.IntStream.range(0, k).parallel().forEach(p => body(p))
    val m = new Array[Long](n * k)
    var r = 1
    while (r <= rounds) {
      perPosition { p =>
        var u = 0
        while (u < n) {
          if (dist(u * k + p) == r - 1) {
            val su = sig(u * k + p)
            var e = g.outOff(u)
            val bnd = g.outOff(u + 1)
            while (e < bnd) {
              m(g.outTgt(e) * k + p) += su
              e += 1
            }
          }
          u += 1
        }
      }
      perPosition { p =>
        var v = 0
        while (v < n) {
          val idx = v * k + p
          if (member(v) && dist(idx) < 0 && m(idx) > 0) {
            dist(idx) = r
            sig(idx) = m(idx)
          }
          m(idx) = 0L
          v += 1
        }
      }
      r += 1
    }
    var d = rounds - 1
    while (d >= 0) {
      val dd = d
      perPosition { p =>
        var u = 0
        while (u < n) {
          val ui = u * k + p
          if (dist(ui) == dd) {
            val su = sig(ui)
            var acc = 0L
            var e = g.outOff(u)
            val bnd = g.outOff(u + 1)
            while (e < bnd) {
              val w = g.outTgt(e)
              val wi = w * k + p
              if (dist(wi) == dd + 1 && sig(wi) > 0)
                acc += su * (1000000L + delta(wi)) / sig(wi)
              e += 1
            }
            delta(ui) += acc
          }
          u += 1
        }
      }
      d -= 1
    }
    val rows = scala.collection.mutable.ArrayBuffer.empty[(Long, Long)]
    var i = 0
    while (i < n) {
      var any = false
      var bc = 0L
      var p = 0
      while (p < k) {
        val idx = i * k + p
        if (dist(idx) >= 1) { any = true; bc += delta(idx) }
        p += 1
      }
      if (any) rows += ((g.ids(i), bc))
      i += 1
    }
    Wave.localResult(ss, rows.toArray, Seq("node", "bc_ppm"))
  }

  /** R134: eigenvector centrality by power iteration with exact
    * max-normalization — "important because connected to the important"
    * (the undirected degeneration of HITS: on a symmetric graph hubs ≡
    * authorities, so ONE score is the honest form):
    *
    *   x⁰(v)     = 10⁶
    *   rᵏ⁺¹(v)   = Σ_{u~v} xᵏ(u)
    *   xᵏ⁺¹(v)   = rᵏ⁺¹(v)·10⁶ div max_u rᵏ⁺¹(u)
    *
    * all integer with one floor division per node per round against the
    * round's GLOBAL max (a broadcast scalar — metadata, not data), so
    * the fixed-round trajectory is bit-replayable as chained CTEs with
    * a scalar subquery. The top node is pinned at exactly 10⁶ each
    * round; everything else lands in (0, 10⁶]. Per round: one
    * neighbor-sum shuffle + one scalar aggregate — the R71 shape with
    * normalization instead of teleport.
    *
    * @return (node, ev_ppm) after `iterations` normalized rounds
    */
  def eigenvectorCentrality(edges: DataFrame, iterations: Int): DataFrame =
    eigenvectorCentralityOnDir(canonDir(edges), iterations)

  /** [[eigenvectorCentrality]] over an already canonical doubled table
    * (the staged-graph posture; identical output, GraphSpec-pinned).
    */
  def eigenvectorCentralityOnDir(dir: DataFrame, iterations: Int): DataFrame = {
    require(iterations >= 1, s"iterations must be >= 1, got $iterations")
    // r14 wave mode: neighbor sums + a scalar max + one floor division
    // per node — the same dispatch as [[pageRankOnDir]]; the waveLabels
    // node bound keeps r·10⁶ inside int64 exactly like the stated
    // maxdeg ≤ 9.2·10⁶ headroom below. A zero round max (possible only
    // on non-doubled directed inputs — the distributed form turns it
    // into NULL scores) bails back to the loop below.
    val wave = for {
      pairs <- Wave.collectIfSmall(dir, Seq("src", "dst"), capFactor = 2)(Wave.pair)
      if pairNodeCount(pairs) <= Wave.labelCap(dir.sparkSession)
      out <- eigenvectorLocal(dir.sparkSession, pairs, iterations)
    } yield out
    wave match {
      case Some(out) => return out
      case None =>
    }
    // Long fixed-point throughout (the R141 convention): x ∈ [0, 10⁶],
    // so r = Σ_{u~v} x(u) ≤ maxdeg·10⁶ and the normalization product
    // r·10⁶ ≤ maxdeg·10¹² — exact in int64 for max degree up to
    // 9.2·10⁶ (stated headroom; a graph with hotter hubs needs the
    // DECIMAL(38,0) widening this replaced). Identical values either
    // way: both types truncate-divide nonnegative operands.
    var x = dir.select(col("src").as("node")).distinct()
      .withColumn("x", lit(1000000L))
      .ckpt
    // node count for the broadcast gate — one cheap count over the
    // already-checkpointed state, constant across rounds (the node set
    // never changes), instead of a full edge-list distinct per call
    val nNodes = x.count()
    for (_ <- 1 to iterations) {
      // checkpoint the neighbor sums BEFORE deriving max: the broadcast
      // subquery and the normalization otherwise each re-run the round's
      // join+aggregate — two executions of the only expensive stage
      val raw = dir
        .join(maybeBroadcast(x.withColumnRenamed("node", "src"), nNodes),
          Seq("src"))
        .groupBy(col("dst").as("node"))
        .agg(sum(col("x")).as("r"))
        .ckpt
      val mx = raw.agg(max(col("r")).as("__mx"))
      x = raw.crossJoin(broadcast(mx))
        .select(col("node"), expr("r * 1000000 div __mx").as("x"))
    }
    x.select(col("node"), col("x").as("ev_ppm"))
  }

  /** Driver-local [[eigenvectorCentralityOnDir]] twin: x⁰ = 10⁶ on the
    * src key set; per round r(v) = Σ in-neighbor x, then x = r·10⁶ div
    * max(r). An empty round (no labelled source has an out-edge) leaves
    * x empty, like the distributed join; a zero max returns None (the
    * distributed NULL-score corner — take the loop, don't emulate it).
    */
  private def eigenvectorLocal(ss: org.apache.spark.sql.SparkSession,
                               pairs: Array[(Long, Long)],
                               iterations: Int): Option[DataFrame] = {
    val g = new Wave.LocalDigraph(pairs)
    val x = new Array[Long](g.n)
    var has = java.util.Arrays.copyOf(g.isSrc, g.n)
    var i = 0
    while (i < g.n) { if (has(i)) x(i) = 1000000L; i += 1 }
    val r = new Array[Long](g.n)
    for (_ <- 1 to iterations) {
      java.util.Arrays.fill(r, 0L)
      val got = new Array[Boolean](g.n)
      var u = 0
      while (u < g.n) {
        if (has(u)) {
          val xu = x(u)
          var j = g.outOff(u)
          val bnd = g.outOff(u + 1)
          while (j < bnd) { val v = g.outTgt(j); r(v) += xu; got(v) = true; j += 1 }
        }
        u += 1
      }
      var mx = Long.MinValue
      var any = false
      var v = 0
      while (v < g.n) {
        if (got(v)) { any = true; if (r(v) > mx) mx = r(v) }
        v += 1
      }
      if (any && mx == 0L) return None
      v = 0
      while (v < g.n) { if (got(v)) x(v) = r(v) * 1000000L / mx; v += 1 }
      has = got
    }
    val rows = scala.collection.mutable.ArrayBuffer.empty[(Long, Long)]
    i = 0
    while (i < g.n) { if (has(i)) rows += ((g.ids(i), x(i))); i += 1 }
    Some(Wave.localResult(ss, rows.toArray, Seq("node", "ev_ppm")))
  }

  /** R135: degree assortativity — "do hubs link to hubs" (Newman 2002).
    * Pearson correlation of endpoint degrees over the DIRECTED edge
    * list; on a symmetric (both-directions) list the two marginals are
    * identical, which collapses the usual square root: both variance
    * factors equal M·Σj² − (Σj)², so
    *
    *   r_ppm = sign(N) · |N|·10⁶ div D,
    *   N = M·Σjk − (Σj)²,  D = M·Σj² − (Σj)²
    *
    * — exactly rational, one signed magnitude division (floor ≡ trunc
    * on the nonneg magnitude). NULL for degree-regular graphs (D = 0).
    * Cost: one degree aggregate + one edge join + one global aggregate.
    *
    * @return single row (m_directed, assortativity_ppm)
    */
  def assortativity(edges: DataFrame): DataFrame = {
    val und = edges.select(least(col("src"), col("dst")).as("a"),
        greatest(col("src"), col("dst")).as("b"))
      .filter(col("a") =!= col("b")).distinct()
    val dir = und.select(col("a").as("src"), col("b").as("dst"))
      .unionAll(und.select(col("b").as("src"), col("a").as("dst")))
    val deg = dir.groupBy(col("src")).agg(count(lit(1)).as("deg"))
      .withColumnRenamed("src", "node")
    dir
      .join(deg.select(col("node").as("src"), col("deg").as("j")), Seq("src"))
      .join(deg.select(col("node").as("dst"), col("deg").as("k")), Seq("dst"))
      .agg(count(lit(1)).as("m_directed"),
        sum(expr("CAST(j AS DECIMAL(38,0)) * k")).as("__sjk"),
        sum(col("j")).as("__sj"),
        sum(expr("CAST(j AS DECIMAL(38,0)) * j")).as("__sj2"))
      .select(col("m_directed"),
        expr("""CASE
               |WHEN m_directed * __sj2 - CAST(__sj AS DECIMAL(38,0)) * __sj
               |     = 0 THEN NULL
               |WHEN m_directed * __sjk - CAST(__sj AS DECIMAL(38,0)) * __sj
               |     < 0 THEN
               |  -CAST(-(m_directed * __sjk
               |          - CAST(__sj AS DECIMAL(38,0)) * __sj) * 1000000
               |    div (m_directed * __sj2
               |         - CAST(__sj AS DECIMAL(38,0)) * __sj) AS BIGINT)
               |ELSE
               |  CAST((m_directed * __sjk
               |        - CAST(__sj AS DECIMAL(38,0)) * __sj) * 1000000
               |    div (m_directed * __sj2
               |         - CAST(__sj AS DECIMAL(38,0)) * __sj) AS BIGINT)
               |END""".stripMargin).as("assortativity_ppm"))
  }

  /** R136: modularity report of a community labeling — "did the
    * clustering find real structure" (Newman–Girvan): per community,
    *
    *   contrib_ppm = sign(N_c) · |N_c|·10⁶ div (4m²),
    *   N_c = 4m·e_c − d_c²
    *
    * (e_c = intra-community undirected edges, d_c = total degree, m =
    * undirected edge count) — the exact per-community share of
    * Q = Σ_c [e_c/m − (d_c/2m)²]; a stated per-community floor, global
    * Q recoverable by summing the N_c before dividing. Evaluates any
    * (node, lbl) labeling — the gate feeds it R72's label propagation.
    *
    * @return (lbl, n_nodes, e_intra, deg_total, contrib_ppm)
    */
  def modularity(edges: DataFrame, labels: DataFrame): DataFrame = {
    val und = edges.select(least(col("src"), col("dst")).as("a"),
        greatest(col("src"), col("dst")).as("b"))
      .filter(col("a") =!= col("b")).distinct().ckpt
    val deg = und.select(col("a").as("node"))
      .unionAll(und.select(col("b").as("node")))
      .groupBy(col("node")).agg(count(lit(1)).as("deg"))
    val m = und.count()
    val ec = und
      .join(labels.select(col("node").as("a"), col("lbl").as("la")), Seq("a"))
      .join(labels.select(col("node").as("b"), col("lbl").as("lb")), Seq("b"))
      .filter(col("la") === col("lb"))
      .groupBy(col("la").as("lbl")).agg(count(lit(1)).as("e_intra"))
    labels.join(deg, Seq("node"))
      .groupBy(col("lbl"))
      .agg(count(lit(1)).as("n_nodes"), sum(col("deg")).as("deg_total"))
      .join(ec, Seq("lbl"), "left")
      .select(col("lbl"), col("n_nodes"),
        coalesce(col("e_intra"), lit(0L)).as("e_intra"), col("deg_total"))
      .withColumn("__n", expr(
        s"""4 * CAST($m AS DECIMAL(38,0)) * e_intra
           | - CAST(deg_total AS DECIMAL(38,0)) * deg_total""".stripMargin))
      .withColumn("contrib_ppm", expr(
        s"""CASE WHEN __n < 0
           |THEN -CAST((-__n) * 1000000
           |  div (4 * CAST($m AS DECIMAL(38,0)) * $m) AS BIGINT)
           |ELSE CAST(__n * 1000000
           |  div (4 * CAST($m AS DECIMAL(38,0)) * $m) AS BIGINT)
           |END""".stripMargin))
      .drop("__n")
  }

  def shortestPathsWeighted(edges: DataFrame, seeds: DataFrame,
                            rounds: Int): DataFrame = {
    require(rounds >= 1, s"rounds must be >= 1, got $rounds")
    val und = edges.select(least(col("src"), col("dst")).as("a"),
        greatest(col("src"), col("dst")).as("b"), col("w"))
      .filter(col("a") =!= col("b"))
      .groupBy(col("a"), col("b")).agg(min(col("w")).as("w"))
    val dir = und.select(col("a").as("src"), col("b").as("dst"), col("w"))
      .unionAll(und.select(col("b").as("src"), col("a").as("dst"), col("w")))
      .ckpt
    shortestPathsWeightedOnDir(dir, seeds, rounds)
  }

  /** [[shortestPathsWeighted]] over an ALREADY canonicalized + doubled
    * weighted table (both (u,v,w) and (v,u,w) present, min-w per distinct
    * pair, no self-loops) — the staged-graph posture of the other *OnDir
    * entry points: the defensive min-w canonicalization + doubling +
    * checkpoint is a no-op on such input and costs a full groupBy +
    * checkpoint per call.
    */
  def shortestPathsWeightedOnDir(dir: DataFrame, seeds: DataFrame,
                                 rounds: Int): DataFrame = {
    require(rounds >= 1, s"rounds must be >= 1, got $rounds")
    // r14 wave mode: the frontier Bellman-Ford below is already the
    // synchronous changed-set sweep — on a driver-small graph it runs
    // as local arithmetic (duplicate seed rows kept: they surface as
    // duplicate result rows distributed, so the twin reproduces them)
    val wave = for {
      tri <- Wave.collectIfSmall(dir, Seq("src", "dst", "w"), capFactor = 2)(Wave.triple)
      sd <- Wave.collectIdsIfSmall(seeds, "node", distinct = false)
      if pairNodeCount(tri.map(t => (t._1, t._2))) + sd.length <=
        Wave.labelCap(dir.sparkSession)
    } yield ssspLocal(dir.sparkSession, tri, sd, rounds)
    wave match {
      case Some(out) => return out
      case None =>
    }
    var dist = seeds.select(col("node"), lit(0L).as("dist"))
      .ckpt
    // FRONTIER-restricted Bellman-Ford (r14, guide §2.3 "shuffle fewer
    // bytes"): only nodes whose distance CHANGED last round can improve
    // a neighbor this round (for r ≥ 1, a settled dist(u) was already
    // offered to every neighbor in the round it last changed), so each
    // round relaxes the frontier instead of the full settled table —
    // the identical fixpoint trajectory, with the relax join shrinking
    // as the wavefront passes instead of re-expanding every settled
    // node every round (Σ|settled|·deg work on a converging state).
    // Convergence = empty frontier; an empty frontier is exactly the
    // old (count, sum-of-dist) signature going unchanged, since
    // distances only ever decrease.
    var frontier = dist
    var nFront = dist.count()
    var r = 0
    while (r < rounds && nFront > 0) {
      val relaxed = dir
        .join(maybeBroadcast(frontier.withColumnRenamed("node", "src"),
          nFront), Seq("src"))
        .groupBy(col("dst").as("node"))
        .agg(min(col("dist") + col("w")).as("cand"))
      val merged = dist
        .join(relaxed, Seq("node"), "full_outer")
        .select(col("node"),
          least(coalesce(col("dist"), col("cand")),
            coalesce(col("cand"), col("dist"))).as("nd"),
          (col("dist").isNull || col("cand") < col("dist")).as("chg"))
        .ckpt
      dist = merged.select(col("node"), col("nd").as("dist"))
      frontier = merged.filter(col("chg"))
        .select(col("node"), col("nd").as("dist"))
      nFront = frontier.count()
      r += 1
    }
    dist
  }

  /** Driver-local [[shortestPathsWeighted]] twin: the same synchronous
    * frontier relaxation (candidates from the changed set only, merged
    * by min, rounds bounded, early exit on an empty frontier). Seed
    * multiplicity is preserved in the output — a duplicated seed row
    * rides the distributed full-outer joins unchanged.
    */
  private def ssspLocal(ss: org.apache.spark.sql.SparkSession,
                        tri: Array[(Long, Long, Long)], sd: Array[Long],
                        rounds: Int): DataFrame = {
    val g = new Wave.LocalDigraph(tri.map(t => (t._1, t._2)), sd)
    // edge weights in CSR emission order: rebuild the per-source layout
    // the same way LocalDigraph.csr does, carrying w alongside (off the
    // precomputed source-index array — no per-edge id lookups)
    val wArr = new Array[Long](g.m)
    locally {
      val cnt = new Array[Int](g.n + 1)
      var i = 0
      while (i < g.m) { cnt(g.es(i) + 1) += 1; i += 1 }
      i = 0
      while (i < g.n) { cnt(i + 1) += cnt(i); i += 1 }
      i = 0
      while (i < g.m) {
        val u = g.es(i)
        wArr(cnt(u)) = tri(i)._3
        cnt(u) += 1
        i += 1
      }
    }
    val mult = new Array[Int](g.n)
    sd.foreach(s => mult(g.idxOf(s)) += 1)
    val INF = Long.MaxValue
    val dist = new Array[Long](g.n)
    java.util.Arrays.fill(dist, INF)
    var frontier = scala.collection.mutable.ArrayBuffer.empty[Int]
    var i = 0
    while (i < g.n) { if (mult(i) > 0) { dist(i) = 0L; frontier += i }; i += 1 }
    val cand = new Array[Long](g.n)
    java.util.Arrays.fill(cand, INF)
    var r = 0
    while (r < rounds && frontier.nonEmpty) {
      val touched = scala.collection.mutable.ArrayBuffer.empty[Int]
      frontier.foreach { u =>
        val du = dist(u)
        var j = g.outOff(u)
        val bnd = g.outOff(u + 1)
        while (j < bnd) {
          val v = g.outTgt(j)
          val c = du + wArr(j)
          if (cand(v) == INF) touched += v
          if (c < cand(v)) cand(v) = c
          j += 1
        }
      }
      val changed = scala.collection.mutable.ArrayBuffer.empty[Int]
      touched.foreach { v =>
        if (cand(v) < dist(v)) { dist(v) = cand(v); changed += v }
        cand(v) = INF
      }
      frontier = changed
      r += 1
    }
    val rows = scala.collection.mutable.ArrayBuffer.empty[(Long, Long)]
    i = 0
    while (i < g.n) {
      if (dist(i) != INF) {
        var k = math.max(mult(i), 1)
        while (k > 0) { rows += ((g.ids(i), dist(i))); k -= 1 }
      }
      i += 1
    }
    Wave.localResult(ss, rows.toArray, Seq("node", "dist"))
  }

  /** R139: HITS hubs and authorities on a DIRECTED graph (Kleinberg
    * 1999) — the two-sided refinement R134 collapses on symmetric
    * graphs: a good hub points at good authorities, a good authority is
    * pointed at by good hubs. Natural home: bipartite who-buys-from-whom
    * (hub = a broad buyer, authority = a widely-bought-from seller).
    *
    *   h⁰(u) = 10⁶ on out-nodes
    *   aᵏ⁺¹(v) = Σ_{u→v} hᵏ(u),  normalized to ppm of the round max
    *   hᵏ⁺¹(u) = Σ_{u→v} aᵏ⁺¹(v), normalized likewise
    *
    * — the standard authority-first half-step order; each normalization
    * is one floor division per node against a broadcast SCALAR, so the
    * fixed-round trajectory replays as chained CTEs exactly like R134.
    * Per round: two neighbor-sum shuffles + two scalar aggregates; the
    * score tables are node-sized, size-gated for broadcast.
    *
    * @param edges directed (src, dst); duplicates deduped, self-loops
    *              kept (a self-loop is a legitimate directed edge here)
    * @return (node, hub_ppm, auth_ppm) — null where the node has no
    *         out-edges (no hub score) or no in-edges (no authority)
    */
  def hits(edges: DataFrame, iterations: Int): DataFrame = {
    require(iterations >= 1, s"iterations must be >= 1, got $iterations")
    val dir = edges.select(col("src"), col("dst")).distinct().ckpt
    // r14 wave mode — the [[pageRankOnDir]] dispatch; the authority-first
    // half-step order and both scalar normalizations replay locally, and
    // a zero round max (NULL scores distributed) bails to the loop
    val wave = for {
      pairs <- Wave.collectIfSmall(dir, Seq("src", "dst"), capFactor = 2)(Wave.pair)
      if pairNodeCount(pairs) <= Wave.labelCap(dir.sparkSession)
      out <- hitsLocal(dir.sparkSession, pairs, iterations)
    } yield out
    wave match {
      case Some(out) => return out
      case None =>
    }
    val nSrc = dir.select(col("src")).distinct().count()
    val nDst = dir.select(col("dst")).distinct().count()
    var h = dir.select(col("src").as("node")).distinct()
      .withColumn("h", lit(1000000L).cast("decimal(38,0)"))
    var a: DataFrame = null
    for (_ <- 1 to iterations) {
      val rawA = dir
        .join(maybeBroadcast(h.withColumnRenamed("node", "src"), nSrc),
          Seq("src"))
        .groupBy(col("dst").as("node"))
        .agg(sum(col("h")).as("r"))
      val mxA = rawA.agg(max(col("r")).as("__mx"))
      a = rawA.crossJoin(broadcast(mxA))
        .select(col("node"), expr("r * 1000000 div __mx").as("a")).ckpt
      val rawH = dir
        .join(maybeBroadcast(a.withColumnRenamed("node", "dst"), nDst),
          Seq("dst"))
        .groupBy(col("src").as("node"))
        .agg(sum(col("a")).as("r"))
      val mxH = rawH.agg(max(col("r")).as("__mx"))
      h = rawH.crossJoin(broadcast(mxH))
        .select(col("node"), expr("r * 1000000 div __mx").as("h")).ckpt
    }
    h.select(col("node"), col("h").cast("long").as("hub_ppm"))
      .join(a.select(col("node"), col("a").cast("long").as("auth_ppm")),
        Seq("node"), "full_outer")
  }

  /** Driver-local [[hits]] twin: h⁰ = 10⁶ on out-nodes; per round
    * a = normalize(Σ_{u→v} h(u)) then h = normalize(Σ_{u→v} a(v)) —
    * authority first, each normalization a floor division by the round
    * max. Output is the full-outer hub/authority merge (NULL where a
    * node only appears on one side — e.g. the bipartite contact graph).
    * None on a zero round max (the distributed NULL-score corner).
    */
  private def hitsLocal(ss: org.apache.spark.sql.SparkSession,
                        pairs: Array[(Long, Long)],
                        iterations: Int): Option[DataFrame] = {
    val g = new Wave.LocalDigraph(pairs)
    val h = new Array[Long](g.n)
    var hasH = java.util.Arrays.copyOf(g.isSrc, g.n)
    var i = 0
    while (i < g.n) { if (hasH(i)) h(i) = 1000000L; i += 1 }
    val a = new Array[Long](g.n)
    var hasA = new Array[Boolean](g.n)
    // normalize in place; false = a zero round max (bail to distributed)
    def normalized(x: Array[Long], got: Array[Boolean]): Boolean = {
      var mx = Long.MinValue
      var any = false
      var v = 0
      while (v < g.n) {
        if (got(v)) { any = true; if (x(v) > mx) mx = x(v) }
        v += 1
      }
      if (any && mx == 0L) return false
      v = 0
      while (v < g.n) { if (got(v)) x(v) = x(v) * 1000000L / mx; v += 1 }
      true
    }
    for (_ <- 1 to iterations) {
      java.util.Arrays.fill(a, 0L)
      val gotA = new Array[Boolean](g.n)
      var u = 0
      while (u < g.n) {
        if (hasH(u)) {
          val hu = h(u)
          var j = g.outOff(u)
          val bnd = g.outOff(u + 1)
          while (j < bnd) { val v = g.outTgt(j); a(v) += hu; gotA(v) = true; j += 1 }
        }
        u += 1
      }
      if (!normalized(a, gotA)) return None
      hasA = gotA
      java.util.Arrays.fill(h, 0L)
      val gotH = new Array[Boolean](g.n)
      u = 0
      while (u < g.n) {
        var j = g.outOff(u)
        val bnd = g.outOff(u + 1)
        while (j < bnd) {
          val v = g.outTgt(j)
          if (hasA(v)) { h(u) += a(v); gotH(u) = true }
          j += 1
        }
        u += 1
      }
      if (!normalized(h, gotH)) return None
      hasH = gotH
    }
    val rows = scala.collection.mutable
      .ArrayBuffer.empty[(Long, java.lang.Long, java.lang.Long)]
    i = 0
    while (i < g.n) {
      if (hasH(i) || hasA(i))
        rows += ((g.ids(i),
          if (hasH(i)) java.lang.Long.valueOf(h(i)) else null,
          if (hasA(i)) java.lang.Long.valueOf(a(i)) else null))
      i += 1
    }
    Some(Wave.localResult(ss, rows.toArray, Seq("node", "hub_ppm", "auth_ppm"),
      nullable = Set("hub_ppm", "auth_ppm")))
  }

  /** R140: common-neighbor link prediction with exact neighborhood
    * Jaccard — for every non-adjacent pair within distance 2, how much
    * do their neighborhoods overlap? The classic "who should be
    * connected" / "which products should co-sell" query
    * (Liben-Nowell & Kleinberg 2003), scored exactly:
    *
    *   jaccard_ppm(u,v) = |Γu ∩ Γv|·10⁶ div (deg u + deg v − |Γu ∩ Γv|)
    *
    * Candidates come from the wedge join (two hops through a shared
    * neighbor — the triangle-counting shape, NOT all pairs) with a HUB
    * CAP on the wedge center: only nodes with deg ≤ `maxCenterDegree`
    * mediate candidates, bounding total wedge fanout at Σ_{deg≤C} deg²
    * ≤ C·2|E| — linear in edges with constant C, the R133 pivot-budget
    * idea applied to candidate generation (uncapped, the dense sf0.1
    * co-purchase graph emits 149M wedge pairs for 1.2M edges and the
    * aggregate dwarfs everything else; capped at 96 it emits 12× fewer
    * for near-identical top-of-list ordering, since a super-hub's
    * contribution lands on pairs whose Jaccard is near zero anyway).
    * `common` therefore counts shared neighbors OF DEGREE ≤ C — the cap
    * is part of the operator's stated semantics, applied identically by
    * the oracle; the Jaccard denominator keeps the FULL degrees.
    * Existing edges leave by an anti join, thin pairs by `minCommon`.
    *
    * @param edges     undirected (src, dst); canonicalized, deduped
    * @param minCommon keep pairs with at least this many shared
    *                  neighbors (≥1; higher prunes the wedge fanout)
    * @param maxCenterDegree hub cap for wedge centers (Long.MaxValue =
    *                  exact uncapped counting)
    * @return (u, v, common, deg_u, deg_v, jaccard_ppm), u < v
    */
  def linkPredictJaccard(edges: DataFrame, minCommon: Long,
                         maxCenterDegree: Long = Long.MaxValue): DataFrame = {
    require(minCommon >= 1, s"minCommon must be >= 1, got $minCommon")
    require(maxCenterDegree >= 1,
      s"maxCenterDegree must be >= 1, got $maxCenterDegree")
    val und = edges.select(least(col("src"), col("dst")).as("a"),
        greatest(col("src"), col("dst")).as("b"))
      .filter(col("a") =!= col("b")).distinct().ckpt
    val nEdges = und.count()
    val dir = und.select(col("a").as("src"), col("b").as("dst"))
      .unionAll(und.select(col("b").as("src"), col("a").as("dst")))
    val deg = dir.groupBy(col("src").as("node"))
      .agg(count(lit(1)).as("deg"))
    // hub suppression: only nodes with degree ≤ maxCenterDegree serve as
    // wedge CENTERS. A center contributes O(deg²) candidate pairs, and a
    // super-hub's contribution lands on pairs whose Jaccard is near zero
    // anyway (its huge neighborhood inflates both unions); capping the
    // center degree bounds total wedge work at Σ_{deg≤C} deg² ≤ C·2|E| —
    // LINEAR in edges with constant C — the same budget idea as the
    // R133 betweenness pivot cap, and part of the operator's stated
    // semantics (the oracle applies the identical cap).
    val centers = deg.filter(col("deg") <= maxCenterDegree)
      .select(col("node").as("w"))
    // Explicit exchange width for the wedge self-join (r14, guide §2.5):
    // AQE sizes post-shuffle parallelism from MAP OUTPUT bytes, and the
    // capped adjacency is edge-sized (~2 MB at sf0.1) — it coalesced the
    // wedge stage to 2 tasks while the join below explodes each w-group
    // to deg² rows and the partial aggregate runs 50× the shuffled bytes
    // (measured: 8.9 s single-task wall, 106 MB of partial-agg output).
    // A fixed-width hash repartition on the join key keeps the exchange
    // count identical (it IS the join's exchange, reused by both sides)
    // and spreads the wedge work across the configured shuffle width —
    // the knob that already scales with the deployment.
    val wedgeParts = dir.sparkSession.conf
      .get("spark.sql.shuffle.partitions").toInt
    val capped = dir.select(col("src").as("w"), col("dst"))
      .join(maybeBroadcast(centers, nEdges), Seq("w"))
      .repartition(wedgeParts, col("w"))
    val wedges = capped.select(col("w"), col("dst").as("u"))
      .join(capped.select(col("w"), col("dst").as("v")), Seq("w"))
      .filter(col("u") < col("v"))
      .groupBy(col("u"), col("v"))
      .agg(count(lit(1)).as("common"))
      .filter(col("common") >= minCommon)
    // dense graphs emit O(Σ deg²) candidate pairs; every join below must
    // stream over them map-side — the edge set and the degree table are
    // node/edge-sized, so size-gated broadcasts keep the pair stream in
    // ONE stage (an SMJ here would re-shuffle and re-sort the 10⁷-pair
    // stream twice, dwarfing the wedge aggregate itself)
    wedges
      .join(maybeBroadcast(und, nEdges),
        wedges("u") === und("a") && wedges("v") === und("b"), "left_anti")
      .join(maybeBroadcast(
        deg.select(col("node").as("u"), col("deg").as("deg_u")), nEdges),
        Seq("u"))
      .join(maybeBroadcast(
        deg.select(col("node").as("v"), col("deg").as("deg_v")), nEdges),
        Seq("v"))
      .withColumn("jaccard_ppm",
        expr("common * 1000000 div (deg_u + deg_v - common)"))
      .select(col("u"), col("v"), col("common"), col("deg_u"), col("deg_v"),
        col("jaccard_ppm"))
  }

  /** R174: rich-club coefficient — do the high-degree nodes form their
    * own tight club (Zhou & Mondragón 2004)? For each degree threshold
    * k: the nodes with deg > k, the edges BOTH of whose endpoints are in
    * that club, and φ(k) = e·10⁶ div (m(m−1)/2) — the club's realized
    * edge density in exact ppm; fewer than 2 members → NULL. The
    * structural complement of R135: assortativity asks whether hubs
    * PREFER hubs on average, the rich club measures how complete their
    * mutual wiring actually is.
    *
    * Scale shape: one degree aggregate, one join of degrees onto the
    * edge list (via size-gated broadcast), then EVERY threshold is a
    * conditional aggregate over the same pass — the k panel adds
    * columns, not scans.
    *
    * @param edges (src, dst); canonicalized to an undirected simple graph
    * @param ks    degree thresholds to report
    * @return (k, m_nodes, e_within, phi_ppm) ordered by k
    */
  def richClub(edges: DataFrame, ks: Seq[Long]): DataFrame = {
    require(ks.nonEmpty, "at least one threshold required")
    val und = edges.select(least(col("src"), col("dst")).as("a"),
        greatest(col("src"), col("dst")).as("b"))
      .filter(col("a") =!= col("b")).distinct().ckpt
    val dir = und.select(col("a").as("src"), col("b").as("dst"))
      .unionAll(und.select(col("b").as("src"), col("a").as("dst")))
    val deg = dir.groupBy(col("src").as("node"))
      .agg(count(lit(1)).as("deg")).ckpt
    val nNodes = deg.count()
    val withDegs = und
      .join(maybeBroadcast(deg.select(col("node").as("a"),
        col("deg").as("da")), nNodes), Seq("a"))
      .join(maybeBroadcast(deg.select(col("node").as("b"),
        col("deg").as("db")), nNodes), Seq("b"))
    val eCols = ks.map(k => sum(when(col("da") > k && col("db") > k, 1L)
      .otherwise(0L)).as(s"e_$k"))
    val eAgg = withDegs.agg(eCols.head, eCols.tail: _*)
    val mCols = ks.map(k =>
      sum(when(col("deg") > k, 1L).otherwise(0L)).as(s"m_$k"))
    val mAgg = deg.agg(mCols.head, mCols.tail: _*)
    val row = eAgg.crossJoin(mAgg)
    ks.map { k =>
      row.select(lit(k).as("k"), col(s"m_$k").as("m_nodes"),
        col(s"e_$k").as("e_within"),
        when(col(s"m_$k") >= 2,
          expr(s"e_$k * 1000000 div (m_$k * (m_$k - 1) div 2)"))
          .as("phi_ppm"))
    }.reduce(_ unionByName _).orderBy(col("k"))
  }

  /** R181: per-seed cascade reach — R178 run for a CANDIDATE PANEL with
    * the seed identity carried through (the greedy influence-
    * maximization primitive: "which single account would spread
    * furthest"); same live-subgraph BFS, labels keyed (seed, node) with
    * min-round label correcting, so one pass serves every candidate
    * (no per-candidate re-run).
    *
    * @return (seed, n_reached) — activated nodes within `rounds`,
    *         seed included
    */
  def cascadeReach(edges: DataFrame, seeds: DataFrame, pPpm: Long,
                   rounds: Int): DataFrame =
    cascadeLabels(edges, seeds, pPpm, rounds)
      .groupBy(col("seed")).agg(count(lit(1)).as("n_reached"))

  /** The (seed, node) label SET behind [[cascadeReach]] — exposed
    * because the deterministic cascade is SET-ADDITIVE: the reach of a
    * seed SET is exactly the union of its members' label sets (the live
    * subgraph is fixed — no per-set resampling), which makes greedy
    * influence maximization a join over these labels instead of a
    * cascade re-run per candidate set.
    */
  def cascadeLabels(edges: DataFrame, seeds: DataFrame, pPpm: Long,
                    rounds: Int): DataFrame = {
    require(pPpm >= 0 && pPpm <= 1000000, s"pPpm: $pPpm")
    require(rounds >= 1, s"rounds must be >= 1, got $rounds")
    val live = edges.select(col("src"), col("dst")).distinct()
      .filter(graft.sketches.Kmv.hash48(
        concat(col("src").cast("string"), lit(":"),
          col("dst").cast("string"))) % 1000000L < pPpm)
      .ckpt
    // r14 wave mode: the live coin flips stay in Spark (the hash IS the
    // fixture); on a driver-small live set the per-round
    // join+distinct+ckpt machinery collapses to per-seed bounded BFS —
    // the distributed label set after round k is exactly the nodes
    // within k live hops, which BFS layers reproduce by construction.
    val wave = for {
      pairs <- Wave.collectIfSmall(live, Seq("src", "dst"))(Wave.pair)
      sd <- Wave.collectIdsIfSmall(seeds, "node", distinct = true)
      out <- cascadeLabelsLocal(edges.sparkSession, pairs, sd, rounds)
    } yield out
    wave.getOrElse {
      var r = seeds.select(col("node")).distinct()
        .select(col("node").as("seed"), col("node"))
        .ckpt
      for (_ <- 1 to rounds) {
        r = r.unionByName(
            r.join(live.withColumnRenamed("src", "node"), Seq("node"))
              .select(col("seed"), col("dst").as("node")))
          .select(col("seed"), col("node")).distinct()
          .ckpt
      }
      r
    }
  }

  /** Driver-local cascade labels: per seed, the nodes within `rounds`
    * directed live-edge hops, seed included. None when the projected
    * label volume (|seeds| x |nodes|) exceeds the wave label budget.
    */
  private def cascadeLabelsLocal(ss: org.apache.spark.sql.SparkSession,
                                 pairs: Array[(Long, Long)],
                                 sd: Array[Long], rounds: Int)
      : Option[DataFrame] = {
    val nodes = scala.collection.mutable.LongMap.empty[Unit]
    pairs.foreach { case (u, v) => nodes(u) = (); nodes(v) = () }
    sd.foreach(s => nodes(s) = ())
    if (sd.length.toLong * nodes.size.toLong > Wave.labelCap(ss)) return None
    val adj = Wave.adjacency(pairs)
    val out = scala.collection.mutable.ArrayBuffer.empty[(Long, Long)]
    sd.foreach { s =>
      Wave.bfs(adj, Seq(s), rounds).foreachKey(v => out += ((s, v)))
    }
    Some(Wave.localResult(ss, out.toArray, Seq("seed", "node")))
  }

  /** Distinct endpoint count of a collected pair list. */
  private def pairNodeCount(pairs: Array[(Long, Long)]): Long = {
    val n = scala.collection.mutable.LongMap.empty[Unit]
    pairs.foreach { case (u, v) => n(u) = (); n(v) = () }
    n.size.toLong
  }

  /** R187: one greedy influence-maximization step — with the best single
    * seed fixed (max reach, ties to the smaller id), every remaining
    * candidate's MARGINAL gain: |reach(best ∪ c)| − |reach(best)|. Set
    * additivity (see [[cascadeLabels]]) turns this into label-set
    * unions — no cascade re-runs; the greedy algorithm's 1−1/e
    * guarantee (Kempe et al.) rides on exactly this step repeated.
    *
    * @return (seed, base_reach, union_reach, marginal) per non-best
    *         candidate, plus the best seed's row with marginal 0
    */
  def influenceGreedyStep(edges: DataFrame, seeds: DataFrame, pPpm: Long,
                          rounds: Int): DataFrame = {
    val labels = cascadeLabels(edges, seeds, pPpm, rounds).ckpt
    val counts = labels.groupBy(col("seed")).agg(count(lit(1)).as("n"))
    val best = counts
      .agg(max_by(col("seed"), struct(col("n"), -col("seed"))).as("best"),
        max(col("n")).as("base_reach"))
    val bestLabels = labels
      .join(broadcast(best.select(col("best"))),
        col("seed") === col("best")).select(col("node"))
    val unions = labels
      .unionByName(seeds.select(col("node")).distinct()
        .select(col("node").as("seed"))
        .crossJoin(bestLabels))
      .select(col("seed"), col("node")).distinct()
      .groupBy(col("seed")).agg(count(lit(1)).as("union_reach"))
    unions.crossJoin(broadcast(best))
      .select(col("seed"), col("base_reach"), col("union_reach"),
        (col("union_reach") - col("base_reach")).as("marginal"))
  }

  /** Driver-local greedy k-center pick sequence — mirrors
    * [[kCenterGreedy]]'s trajectory exactly: first center = min node
    * id; each further pick = argmax of (bounded-BFS distance to the
    * current centers, tie → smaller id), unreached = rounds+1.
    */
  private def localKCenterPicks(adj: scala.collection.mutable.LongMap[Array[Long]],
                                k: Int, rounds: Int): Seq[(Long, Long, Long)] = {
    val first = adj.keysIterator.min
    var picks = Seq((first, 1L, 0L))
    val centers = scala.collection.mutable.ArrayBuffer(first)
    for (i <- 2 to k) {
      val dist = Wave.bfs(adj, centers, rounds)
      var bestNode = Long.MinValue
      var bestDist = -1L
      adj.keysIterator.foreach { v =>
        val d = dist.getOrElse(v, rounds.toLong + 1)
        if (d > bestDist || (d == bestDist && v < bestNode)) {
          bestNode = v; bestDist = d
        }
      }
      picks = picks :+ ((bestNode, i.toLong, bestDist))
      centers += bestNode
    }
    picks
  }

  /** R188: greedy k-center selection (Gonzalez 1985 — the 2-approximation
    * for minimizing the max distance to a center, and data curation's
    * "pick k maximally diverse exemplars" routine): start from the
    * minimum node id, then repeatedly add the node FARTHEST from the
    * current center set (hop distance via multi-source BFS bounded at
    * `rounds`; nodes beyond the bound count as distance rounds+1 —
    * maximally far — and ties break on the smaller id, so the pick
    * sequence is a total order both engines replay).
    *
    * Scale shape: k−1 multi-source BFS passes, each `rounds` frontier
    * joins + one global max_by — the pick is a scalar, never a
    * collected set.
    *
    * @return (center, pick_order, dist_at_pick) — dist_at_pick = the
    *         picked node's distance to the previous centers (0 for the
    *         first center)
    */
  def kCenterGreedy(edges: DataFrame, k: Int, rounds: Int): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    require(rounds >= 1, s"rounds must be >= 1, got $rounds")
    val und = edges.select(least(col("src"), col("dst")).as("a"),
        greatest(col("src"), col("dst")).as("b"))
      .filter(col("a") =!= col("b")).distinct()
      .ckpt
    // wave sweep first (r14): k−1 bounded BFS passes over a
    // driver-small graph are pure driver arithmetic — the distributed
    // loop pays rounds ckpt'd relaxations per pick at any data size
    Wave.collectIfSmall(und, Seq("a", "b"), widenInt = true,
      idBound = true)(Wave.pair) match {
      case Some(es) if es.nonEmpty =>
        import und.sparkSession.implicits._
        return localKCenterPicks(Wave.adjacency(es ++ es.map(_.swap)), k, rounds)
          .toDF("center", "pick_order", "dist_at_pick")
      case _ =>
    }
    val dir = und.select(col("a").as("src"), col("b").as("dst"))
      .unionAll(und.select(col("b").as("src"), col("a").as("dst")))
      .ckpt
    val nodes = dir.select(col("src").as("node")).distinct().ckpt
    val first = nodes.agg(min(col("node"))).head().getLong(0)
    var picks = Seq((first, 1L, 0L))
    var centers = nodes.sparkSession.createDataFrame(
      java.util.Arrays.asList(org.apache.spark.sql.Row(first)),
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("node",
          org.apache.spark.sql.types.LongType, nullable = false))))
    for (i <- 2 to k) {
      var settled = centers.select(col("node"), lit(0L).as("dist")).ckpt
      for (r <- 1 to rounds) {
        val stepped = settled
          .join(dir.withColumnRenamed("src", "node"), Seq("node"))
          .select(col("dst").as("node"), lit(r.toLong).as("dist"))
        settled = settled.unionByName(stepped)
          .groupBy(col("node")).agg(min(col("dist")).as("dist"))
          .ckpt
      }
      val dist = nodes.join(settled, Seq("node"), "left")
        .select(col("node"),
          coalesce(col("dist"), lit(rounds.toLong + 1)).as("dist"))
      val pick = dist
        .agg(max_by(struct(col("node"), col("dist")),
          struct(col("dist"), -col("node"))).as("p"))
        .select(col("p.node"), col("p.dist")).head()
      picks = picks :+ ((pick.getLong(0), i.toLong, pick.getLong(1)))
      centers = centers.unionByName(
        nodes.filter(col("node") === pick.getLong(0)))
    }
    import nodes.sparkSession.implicits._
    picks.toDF("center", "pick_order", "dist_at_pick")
  }

  /** R190: k-center coverage profile — the quality number behind R188
    * (the R159 posture: a selection ships with its coverage): after the
    * greedy picks, one multi-source BFS from ALL centers, then the node
    * count per distance-to-nearest-center (rounds+1 = uncovered). The
    * max covered distance IS the k-center objective the greedy
    * 2-approximates.
    *
    * @return (dist, n_nodes) for dist 0..rounds+1, zero rows absent
    */
  def kCenterCoverage(edges: DataFrame, k: Int, rounds: Int): DataFrame = {
    val und = edges.select(least(col("src"), col("dst")).as("a"),
        greatest(col("src"), col("dst")).as("b"))
      .filter(col("a") =!= col("b")).distinct()
      .ckpt
    // wave sweep first (r14): the greedy picks AND the coverage BFS run
    // locally over one collected edge list; the histogram is ≤ rounds+2
    // rows
    Wave.collectIfSmall(und, Seq("a", "b"), widenInt = true,
      idBound = true)(Wave.pair) match {
      case Some(es) if es.nonEmpty =>
        import und.sparkSession.implicits._
        val adj = Wave.adjacency(es ++ es.map(_.swap))
        val centers = localKCenterPicks(adj, k, rounds).map(_._1)
        val dist = Wave.bfs(adj, centers.distinct, rounds)
        val hist = scala.collection.mutable.LongMap.empty[Long]
        adj.keysIterator.foreach { v =>
          val d = dist.getOrElse(v, rounds.toLong + 1)
          hist(d) = hist.getOrElse(d, 0L) + 1
        }
        return hist.toSeq.toDF("dist", "n_nodes")
      case _ =>
    }
    val centers = kCenterGreedy(edges, k, rounds).select(col("center"))
    val dir = und.select(col("a").as("src"), col("b").as("dst"))
      .unionAll(und.select(col("b").as("src"), col("a").as("dst")))
      .ckpt
    val nodes = dir.select(col("src").as("node")).distinct()
    var settled = centers.select(col("center").as("node"), lit(0L).as("dist"))
      .ckpt
    for (r <- 1 to rounds) {
      settled = settled.unionByName(
          settled.join(dir.withColumnRenamed("src", "node"), Seq("node"))
            .select(col("dst").as("node"), lit(r.toLong).as("dist")))
        .groupBy(col("node")).agg(min(col("dist")).as("dist"))
        .ckpt
    }
    nodes.join(settled, Seq("node"), "left")
      .select(coalesce(col("dist"), lit(rounds.toLong + 1)).as("dist"))
      .groupBy(col("dist")).agg(count(lit(1)).as("n_nodes"))
  }

  /** R179: Borůvka minimum spanning forest — the distributed MST
    * algorithm (each component picks its cheapest outgoing edge; all
    * picks join the forest; components contract; repeat), which is also
    * single-linkage clustering's backbone when the weight is a
    * dissimilarity. Components at least HALVE per phase, so `phases` =
    * ⌈log₂ n⌉ completes any graph; a fixed smaller budget is a stated
    * partial forest (the R133 budget posture). Determinism: all ties
    * break on the (w, a, b) total order, so both engines pick identical
    * edges — no "any MST" ambiguity.
    *
    * Scale shape per phase: two label joins onto the edge list (labels
    * node-sized, size-gated broadcast), one min_by per component, and a
    * star-contraction CC over the forest-so-far
    * ([[graft.dedup.Dedup.connectedComponentsStar]], O(log n) rounds) —
    * no phase touches anything data-sized beyond the edge list.
    *
    * @param edges (src, dst, w) undirected; parallel edges collapse to
    *              their minimum weight
    * @return the forest: (a, b, w, phase) with a < b, phase = the
    *         Borůvka phase (1-based) that picked the edge
    */
  def boruvkaForest(edges: DataFrame, phases: Int): DataFrame = {
    require(phases >= 1, s"phases must be >= 1, got $phases")
    val und = edges.select(least(col("src"), col("dst")).as("a"),
        greatest(col("src"), col("dst")).as("b"), col("w").cast("long").as("w"))
      .filter(col("a") =!= col("b"))
      .groupBy(col("a"), col("b")).agg(min(col("w")).as("w"))
      .ckpt
    // r14 wave mode: each phase pays two label joins, a min_by, a
    // star-contraction CC and three checkpoints at ANY data size; on a
    // driver-small canonical edge list the identical pick trajectory —
    // per-component min by the (w, a, b) total order, min-id component
    // labels, first-pick-phase retention — is a few array sweeps.
    Wave.collectIfSmall(und, Seq("a", "b", "w"))(Wave.triple) match {
      case Some(tri) => return boruvkaLocal(edges.sparkSession, tri, phases)
      case None =>
    }
    val nodes = und.select(col("a").as("node"))
      .unionAll(und.select(col("b").as("node"))).distinct().ckpt
    val nNodes = nodes.count()
    var lbl = nodes.select(col("node"), col("node").as("comp"))
    var forest: DataFrame = null
    for (phase <- 1 to phases) {
      val cross = und
        .join(maybeBroadcast(lbl.select(col("node").as("a"),
          col("comp").as("ca")), nNodes), Seq("a"))
        .join(maybeBroadcast(lbl.select(col("node").as("b"),
          col("comp").as("cb")), nNodes), Seq("b"))
        .filter(col("ca") =!= col("cb"))
      val cand = cross.select(col("ca").as("comp"), col("w"), col("a"), col("b"))
        .unionAll(cross.select(col("cb").as("comp"), col("w"), col("a"),
          col("b")))
      val picked = cand.groupBy(col("comp"))
        .agg(min_by(struct(col("a"), col("b"), col("w")),
          struct(col("w"), col("a"), col("b"))).as("__e"))
        .select(col("__e.a").as("a"), col("__e.b").as("b"),
          col("__e.w").as("w"))
        .distinct()
        .withColumn("phase", lit(phase.toLong))
        .ckpt
      forest = if (forest == null) picked
        else forest.unionByName(
          picked.join(forest.select(col("a"), col("b")), Seq("a", "b"),
            "left_anti"))
      forest = forest.ckpt
      val cc = graft.dedup.Dedup.connectedComponentsStar(
        forest.select(col("a").as("id_a"), col("b").as("id_b")))
      lbl = nodes.join(cc.select(col("doc_id").as("node"),
          col("cluster_id").as("comp")), Seq("node"), "left")
        .select(col("node"), coalesce(col("comp"), col("node")).as("comp"))
        .ckpt
    }
    forest
  }

  /** Driver-local [[boruvkaForest]] twin, value-for-value: per phase,
    * every edge whose endpoints sit in different components offers
    * itself to BOTH components; each component keeps its minimum by the
    * (w, a, b) total order (min_by's struct order — ties impossible
    * beyond it, (a, b) is unique); picked edges enter the forest unless
    * already present (the left-anti: an edge re-picked later keeps its
    * FIRST phase); components relabel to the min node id of their
    * forest component (connectedComponentsStar's documented label
    * contract — only label EQUALITY feeds the next phase anyway).
    */
  private def boruvkaLocal(ss: org.apache.spark.sql.SparkSession,
                           tri: Array[(Long, Long, Long)],
                           phases: Int): DataFrame = {
    val g = new Wave.LocalDigraph(tri.map(t => (t._1, t._2)))
    val n = g.n
    val m = tri.length
    var comp = Array.tabulate(n)(identity)
    val inForest = new Array[Boolean](m)
    val phaseOf = new Array[Long](m)
    // e1 strictly smaller than e2 by (w, a, b)
    def better(e1: Int, e2: Int): Boolean = {
      val c = java.lang.Long.compare(tri(e1)._3, tri(e2)._3)
      if (c != 0) c < 0
      else {
        val ca = java.lang.Long.compare(tri(e1)._1, tri(e2)._1)
        if (ca != 0) ca < 0 else tri(e1)._2 < tri(e2)._2
      }
    }
    var phase = 1
    while (phase <= phases) {
      val bestEdge = new Array[Int](n)
      java.util.Arrays.fill(bestEdge, -1)
      var e = 0
      while (e < m) {
        val ca = comp(g.es(e))
        val cb = comp(g.ed(e))
        if (ca != cb) {
          if (bestEdge(ca) < 0 || better(e, bestEdge(ca))) bestEdge(ca) = e
          if (bestEdge(cb) < 0 || better(e, bestEdge(cb))) bestEdge(cb) = e
        }
        e += 1
      }
      var c = 0
      while (c < n) {
        val be = bestEdge(c)
        if (be >= 0 && !inForest(be)) { inForest(be) = true; phaseOf(be) = phase.toLong }
        c += 1
      }
      // relabel: the min-id node's index per forest component
      // (isolated = own index)
      val uf = new Wave.UnionFind(n)
      e = 0
      while (e < m) {
        if (inForest(e)) uf.union(g.es(e), g.ed(e))
        e += 1
      }
      comp = Array.tabulate(n)(uf.find)
      phase += 1
    }
    val rows = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Long, Long)]
    var e = 0
    while (e < m) {
      if (inForest(e)) rows += ((tri(e)._1, tri(e)._2, tri(e)._3, phaseOf(e)))
      e += 1
    }
    Wave.localResult(ss, rows.toArray, Seq("a", "b", "w", "phase"))
  }

  /** R178: independent-cascade influence spread (Kempe–Kleinberg–Tardos
    * 2003) with the RNG replaced by the house 48-bit hash: each directed
    * edge (u, v) carries ONE deterministic coin — live iff
    * h48(u:v) mod 10⁶ < pPpm — so the cascade is exactly BFS on the
    * live-edge subgraph, replayable bit-for-bit by any engine (the
    * deterministic single-sample member of the family; production
    * influence ESTIMATION averages many salted replays of this same
    * operator, embarrassingly parallel). Returns every activated node
    * with its activation round (seeds at 0), `rounds` bounding the
    * cascade depth.
    *
    * Scale shape: the coin filter is a map-side projection over the
    * edge list (no shuffle); each round is one frontier-edge equi-join
    * + one anti join against the settled set — the R105 BFS shape.
    *
    * @param edges (src, dst) directed; duplicates collapse (one coin
    *              per distinct edge)
    * @param seeds one column `node`
    * @param pPpm  activation probability in ppm
    */
  def independentCascade(edges: DataFrame, seeds: DataFrame, pPpm: Long,
                         rounds: Int): DataFrame = {
    require(pPpm >= 0 && pPpm <= 1000000, s"pPpm: $pPpm")
    require(rounds >= 1, s"rounds must be >= 1, got $rounds")
    val live = edges.select(col("src"), col("dst")).distinct()
      .filter(graft.sketches.Kmv.hash48(
        concat(col("src").cast("string"), lit(":"),
          col("dst").cast("string"))) % 1000000L < pPpm)
      .ckpt
    // r14 wave mode: same dispatch as [[cascadeLabels]] — one
    // multi-source BFS (layer = first-reached round) replaces the
    // per-round join/anti-join/ckpt machinery on driver-small live sets
    val wave = for {
      pairs <- Wave.collectIfSmall(live, Seq("src", "dst"))(Wave.pair)
      sd <- Wave.collectIdsIfSmall(seeds, "node", distinct = true)
    } yield {
      val layers = Wave.bfs(Wave.adjacency(pairs), sd, rounds)
      Wave.localResult(edges.sparkSession, layers.toArray, Seq("node", "round"))
    }
    wave.getOrElse {
      var settled = seeds.select(col("node")).distinct()
        .select(col("node"), lit(0L).as("round"))
        .ckpt
      var frontier = settled
      var r = 1
      while (r <= rounds && !frontier.isEmpty) {
        frontier = frontier
          .join(live.withColumnRenamed("src", "node"), Seq("node"))
          .select(col("dst").as("node")).distinct()
          .join(settled.select(col("node")), Seq("node"), "left_anti")
          .select(col("node"), lit(r.toLong).as("round"))
          .ckpt
        settled = settled.unionByName(frontier).ckpt
        r += 1
      }
      settled
    }
  }

  /** R175: exact 4-cycle (square) count — the bipartite-ish clustering
    * motif triangles can't see (two parts sharing two orders form a
    * square through them with NO triangle anywhere). From the wedge
    * pair counts: a pair (u, v) with c common neighbors closes C(c, 2)
    * squares through each unordered neighbor pair, and every square is
    * seen from BOTH of its diagonals, so
    *
    *   n_squares = (Σ_{u<v} C(common(u,v), 2)) div 2   — exactly even.
    *
    * Same wedge aggregate as R140 (fanout Σ deg² — run as an offline
    * audit, not a per-query path; the R140 hub cap applies upstream if
    * the graph is hub-dense), then ONE scalar aggregate.
    *
    * @return one row: (n_nodes, n_edges, n_copaired, n_squares) —
    *         n_copaired = pairs with ≥2 common neighbors
    */
  def squareCount(edges: DataFrame): DataFrame = {
    val und = edges.select(least(col("src"), col("dst")).as("a"),
        greatest(col("src"), col("dst")).as("b"))
      .filter(col("a") =!= col("b")).distinct().ckpt
    val dir = und.select(col("a").as("src"), col("b").as("dst"))
      .unionAll(und.select(col("b").as("src"), col("a").as("dst")))
    val wedges = dir.select(col("src").as("w"), col("dst").as("u"))
      .join(dir.select(col("src").as("w"), col("dst").as("v")), Seq("w"))
      .filter(col("u") < col("v"))
      .groupBy(col("u"), col("v"))
      .agg(count(lit(1)).as("c"))
    val nNodes = dir.select(col("src")).distinct().count()
    val nEdges = und.count()
    wedges.agg(
        coalesce(sum(when(col("c") >= 2, 1L).otherwise(0L)), lit(0L))
          .as("n_copaired"),
        coalesce(sum(expr("c * (c - 1) div 2")), lit(0L)).as("__tot"))
      .select(lit(nNodes).as("n_nodes"), lit(nEdges).as("n_edges"),
        col("n_copaired"), expr("__tot div 2").as("n_squares"))
  }
}
