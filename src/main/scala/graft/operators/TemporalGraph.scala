package graft.operators

import graft.PlanProbe.CkptOps
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Time-respecting graph traversal: paths must use edges in
  * non-decreasing timestamp order — information, goods, or contagion can
  * only flow FORWARD in time, which static reachability over the same
  * edge list silently gets wrong (a 2019 edge cannot carry influence
  * arriving in 2023). The replicated order graph is exactly this shape:
  * customer→supplier contact events stamped with the order date
  * (reference: README.md:24 — the warehouse's relationship questions,
  * here with the time dimension made honest).
  *
  * Exact contract: earliest-arrival labels. arr(seed, v) = the minimum
  * time at which v is reachable from seed along a time-respecting path
  * (waiting at a node is allowed — non-strict ≥). Seeds start at arr = 0
  * (before every edge). Each round is one full label-correcting pass —
  * candidates = settled labels joined to edges with t ≥ arr, then a
  * (seed, node) min — so a fixed round count replays as chained CTEs in
  * any engine (the R71/R134 fixed-trajectory posture); `rounds` bounds
  * the path HOP length, the standard budget on temporal BFS.
  *
  * Scale shape: per round one equi-join on the node key (edges
  * hash-partitioned on src) + one (seed, node) hash aggregate; the label
  * table is bounded by |seeds|·|nodes| — seed panels are small by
  * construction (a watchlist, not a corpus).
  */
object TemporalGraph {

  /** Earliest-arrival reachability from each seed within `rounds` hops.
    *
    * @param edges (src, dst, t) directed temporal edges, integer t
    * @param seeds one column `node`
    * @return (seed, node, arr) — every (seed, reachable node) with its
    *         earliest time-respecting arrival; seeds carry arr = 0
    */
  def earliestArrival(edges: DataFrame, seeds: DataFrame,
                      rounds: Int): DataFrame = {
    require(rounds >= 1, s"rounds must be >= 1, got $rounds")
    val e = edges.select(col("src"), col("dst"), col("t").cast("long").as("t"))
      .ckpt
    // r14 wave mode (the coreness/k-center dispatch): each distributed
    // round costs 2-3 exchanges + a checkpoint at ANY data size; on a
    // driver-small edge set the identical synchronous label trajectory
    // runs as local min-label sweeps (see [[minLabelSweep]]). Over-cap
    // graphs take the loop below unchanged.
    val wave = for {
      tri <- Wave.collectIfSmall(e, Seq("src", "dst", "t"))(Wave.triple)
      sd <- Wave.collectIdsIfSmall(seeds, "node", distinct = true)
      out <- earliestArrivalLocal(e.sparkSession, tri, sd, rounds)
    } yield out
    wave.getOrElse {
      var r = seeds.select(col("node").as("seed")).distinct()
        .select(col("seed"), col("seed").as("node"), lit(0L).as("arr"))
        .ckpt
      for (_ <- 1 to rounds) {
        val stepped = r.join(e, col("node") === col("src"))
          .filter(col("t") >= col("arr"))
          .select(col("seed"), col("dst").as("node"), col("t").as("arr"))
        r = r.unionByName(stepped)
          .groupBy(col("seed"), col("node"))
          .agg(min(col("arr")).as("arr"))
          .ckpt
      }
      r
    }
  }

  /** Fastest-journey durations (Wu et al. 2014's third temporal-path
    * flavor): earliest arrival rewards starting EARLY, latest departure
    * rewards arriving LATE — the fastest journey minimizes the time IN
    * TRANSIT, arrival − departure, over all time-respecting paths. The
    * trick that keeps it exact without pareto frontiers: a journey's
    * departure is the time of its FIRST edge, and the first edges out of
    * a seed are enumerable — so labels carry (seed, start) and run the
    * earliest-arrival recursion per start, and the answer reduces over
    * starts at the end. Label volume is |starts(seed)| × reach — the
    * price of exactness; seeds are a small panel by construction.
    *
    * @return (seed, node, dur) — minimum transit seconds over journeys
    *         of ≤ `rounds` hops; the seed itself reports 0
    */
  def fastestJourney(edges: DataFrame, seeds: DataFrame,
                     rounds: Int): DataFrame = {
    require(rounds >= 1, s"rounds must be >= 1, got $rounds")
    val e = edges.select(col("src"), col("dst"), col("t").cast("long").as("t"))
      .ckpt
    // r14 wave mode: the (seed, start)-keyed recursion is the same
    // sweep per start (arr seeded at `start` instead of 0); the label
    // budget gate multiplies by |starts|, the price of exactness
    val wave = for {
      tri <- Wave.collectIfSmall(e, Seq("src", "dst", "t"))(Wave.triple)
      sd <- Wave.collectIdsIfSmall(seeds, "node", distinct = true)
      out <- fastestJourneyLocal(e.sparkSession, tri, sd, rounds)
    } yield out
    wave.getOrElse {
      val starts = seeds.select(col("node").as("seed")).distinct()
        .join(e, col("seed") === col("src"))
        .select(col("seed"), col("t").as("start")).distinct()
      // per (seed, start): earliest arrival among journeys whose first
      // edge departs exactly at `start` (enforced by seeding arr = start
      // and requiring t >= arr as usual)
      var r = starts
        .select(col("seed"), col("start"), col("seed").as("node"),
          col("start").as("arr"))
        .ckpt
      for (_ <- 1 to rounds) {
        val stepped = r.join(e, col("node") === col("src"))
          .filter(col("t") >= col("arr"))
          .select(col("seed"), col("start"), col("dst").as("node"),
            col("t").as("arr"))
        r = r.unionByName(stepped)
          .groupBy(col("seed"), col("start"), col("node"))
          .agg(min(col("arr")).as("arr"))
          .ckpt
      }
      val best = r.filter(col("node") =!= col("seed"))
        .groupBy(col("seed"), col("node"))
        .agg(min(col("arr") - col("start")).as("dur"))
      seeds.select(col("node").as("seed")).distinct()
        .select(col("seed"), col("seed").as("node"), lit(0L).as("dur"))
        .unionByName(best)
    }
  }

  /** Latest-departure labels — the reverse question: how LATE can each
    * node still start and reach the target along a time-respecting path
    * (the recovery-planning / last-safe-moment query)? dep(target) =
    * `horizon` (after every edge); dep(v) = max over edges (v, w, t)
    * with t ≤ dep(w) of t — you can leave v at the edge's own time. The
    * max-label mirror of [[earliestArrival]], same dominance argument
    * (a LATER departure enables a superset of usable edges), same fixed
    * `rounds` = hop budget, same chained-CTE replay.
    *
    * @param edges   (src, dst, t) directed temporal edges, integer t
    * @param targets one column `node`
    * @return (target, node, dep) — nodes that can still reach target;
    *         targets carry dep = horizon
    */
  def latestDeparture(edges: DataFrame, targets: DataFrame, rounds: Int,
                      horizon: Long): DataFrame = {
    require(rounds >= 1, s"rounds must be >= 1, got $rounds")
    val e = edges.select(col("src"), col("dst"), col("t").cast("long").as("t"))
      .ckpt
    // r14 wave mode: the max-label mirror — reverse adjacency, offers
    // gated t <= dep, candidates take the max, frontier = increased
    val wave = for {
      tri <- Wave.collectIfSmall(e, Seq("src", "dst", "t"))(Wave.triple)
      tg <- Wave.collectIdsIfSmall(targets, "node", distinct = true)
      out <- latestDepartureLocal(e.sparkSession, tri, tg, rounds, horizon)
    } yield out
    wave.getOrElse {
      var r = targets.select(col("node").as("target")).distinct()
        .select(col("target"), col("target").as("node"),
          lit(horizon).as("dep"))
        .ckpt
      for (_ <- 1 to rounds) {
        val stepped = r.join(e, col("node") === col("dst"))
          .filter(col("t") <= col("dep"))
          .select(col("target"), col("src").as("node"), col("t").as("dep"))
        r = r.unionByName(stepped)
          .groupBy(col("target"), col("node"))
          .agg(max(col("dep")).as("dep"))
          .ckpt
      }
      r
    }
  }

  // ───────── r14 driver-wave plumbing (the coreness/k-center dispatch
  // applied to the fixed-round temporal label recursions) ─────────

  /** Interleaved temporal adjacency: key → [nbr0, t0, nbr1, t1, ...],
    * forward (src → dst) or reverse (dst → src).
    */
  private def temporalAdjacency(tri: Array[(Long, Long, Long)],
                                forward: Boolean)
      : scala.collection.mutable.LongMap[Array[Long]] = {
    val b = scala.collection.mutable.LongMap
      .empty[scala.collection.mutable.ArrayBuffer[Long]]
    tri.foreach { case (s, d, t) =>
      val (k, v) = if (forward) (s, d) else (d, s)
      val buf = b.getOrElseUpdate(k,
        scala.collection.mutable.ArrayBuffer.empty)
      buf += v
      buf += t
    }
    val m = scala.collection.mutable.LongMap.empty[Array[Long]]
    b.foreach { case (k, vs) => m(k) = vs.toArray }
    m
  }

  private def nodeCount(tri: Array[(Long, Long, Long)],
                        extra: Array[Long]): Long = {
    val n = scala.collection.mutable.LongMap.empty[Unit]
    tri.foreach { case (s, d, _) => n(s) = (); n(d) = () }
    extra.foreach(x => n(x) = ())
    n.size.toLong
  }

  /** One (source, start) min-label-correcting sweep — the driver twin of
    * the distributed earliest-arrival round, value-for-value: offers use
    * the PREVIOUS round's labels (candidates apply after the offer
    * phase, so the pass is synchronous like the distributed
    * union+min-agg), and only nodes whose label changed last round
    * re-offer (an unchanged label's offers were already applied the
    * round after it last changed; min is idempotent, so dropping the
    * re-offer cannot change any round's labels). Bounded-round
    * non-convergent residues therefore match too.
    */
  private def minLabelSweep(
      adj: scala.collection.mutable.LongMap[Array[Long]],
      source: Long, start: Long, rounds: Int)
      : scala.collection.mutable.LongMap[Long] = {
    val arr = scala.collection.mutable.LongMap(source -> start)
    var changed: Array[Long] = Array(source)
    var r = 1
    while (r <= rounds && changed.nonEmpty) {
      val cand = scala.collection.mutable.LongMap.empty[Long]
      changed.foreach { u =>
        val au = arr(u)
        val es = adj.getOrElse(u, Array.emptyLongArray)
        var i = 0
        while (i < es.length) {
          val v = es(i)
          val t = es(i + 1)
          if (t >= au && t < cand.getOrElse(v, Long.MaxValue)) cand(v) = t
          i += 2
        }
      }
      val nc = scala.collection.mutable.ArrayBuffer.empty[Long]
      cand.foreach { case (v, tv) =>
        if (tv < arr.getOrElse(v, Long.MaxValue)) { arr(v) = tv; nc += v }
      }
      changed = nc.toArray
      r += 1
    }
    arr
  }

  /** The max-label mirror of [[minLabelSweep]]: dep(v) = max t of edges
    * (v, w, t) with t <= dep(w); frontier = nodes whose dep increased.
    */
  private def maxLabelSweep(
      radj: scala.collection.mutable.LongMap[Array[Long]],
      target: Long, horizon: Long, rounds: Int)
      : scala.collection.mutable.LongMap[Long] = {
    val dep = scala.collection.mutable.LongMap(target -> horizon)
    var changed: Array[Long] = Array(target)
    var r = 1
    while (r <= rounds && changed.nonEmpty) {
      val cand = scala.collection.mutable.LongMap.empty[Long]
      changed.foreach { w =>
        val dw = dep(w)
        val es = radj.getOrElse(w, Array.emptyLongArray)
        var i = 0
        while (i < es.length) {
          val v = es(i)
          val t = es(i + 1)
          if (t <= dw && t > cand.getOrElse(v, Long.MinValue)) cand(v) = t
          i += 2
        }
      }
      val nc = scala.collection.mutable.ArrayBuffer.empty[Long]
      cand.foreach { case (v, tv) =>
        if (tv > dep.getOrElse(v, Long.MinValue)) { dep(v) = tv; nc += v }
      }
      changed = nc.toArray
      r += 1
    }
    dep
  }

  private def earliestArrivalLocal(ss: org.apache.spark.sql.SparkSession,
                                   tri: Array[(Long, Long, Long)],
                                   sd: Array[Long], rounds: Int)
      : Option[DataFrame] = {
    if (sd.length.toLong * nodeCount(tri, sd) > Wave.labelCap(ss))
      return None
    val adj = temporalAdjacency(tri, forward = true)
    val out = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Long)]
    sd.foreach { s =>
      minLabelSweep(adj, s, 0L, rounds).foreach { case (v, a) =>
        out += ((s, v, a))
      }
    }
    Some(Wave.localResult(ss, out.toArray, Seq("seed", "node", "arr")))
  }

  private def fastestJourneyLocal(ss: org.apache.spark.sql.SparkSession,
                                  tri: Array[(Long, Long, Long)],
                                  sd: Array[Long], rounds: Int)
      : Option[DataFrame] = {
    val adj = temporalAdjacency(tri, forward = true)
    // starts per seed: the distinct out-edge times (the distributed
    // seeds ⋈ e distinct)
    val starts: Array[(Long, Array[Long])] = sd.map { s =>
      val es = adj.getOrElse(s, Array.emptyLongArray)
      val ts = scala.collection.mutable.LongMap.empty[Unit]
      var i = 1
      while (i < es.length) { ts(es(i)) = (); i += 2 }
      (s, ts.keysIterator.toArray)
    }
    val totalStarts = starts.iterator.map(_._2.length.toLong).sum
    if (totalStarts * nodeCount(tri, sd) > Wave.labelCap(ss))
      return None
    val best = scala.collection.mutable.HashMap.empty[(Long, Long), Long]
    starts.foreach { case (s, ts) =>
      ts.foreach { st =>
        minLabelSweep(adj, s, st, rounds).foreach { case (v, a) =>
          if (v != s) {
            val d = a - st
            val k = (s, v)
            if (d < best.getOrElse(k, Long.MaxValue)) best(k) = d
          }
        }
      }
    }
    val out = sd.map(s => (s, s, 0L)) ++
      best.iterator.map { case ((s, v), d) => (s, v, d) }
    Some(Wave.localResult(ss, out, Seq("seed", "node", "dur")))
  }

  private def latestDepartureLocal(ss: org.apache.spark.sql.SparkSession,
                                   tri: Array[(Long, Long, Long)],
                                   tg: Array[Long], rounds: Int,
                                   horizon: Long): Option[DataFrame] = {
    if (tg.length.toLong * nodeCount(tri, tg) > Wave.labelCap(ss))
      return None
    val radj = temporalAdjacency(tri, forward = false)
    val out = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Long)]
    tg.foreach { g =>
      maxLabelSweep(radj, g, horizon, rounds).foreach { case (v, d) =>
        out += ((g, v, d))
      }
    }
    Some(Wave.localResult(ss, out.toArray, Seq("target", "node", "dep")))
  }
}
