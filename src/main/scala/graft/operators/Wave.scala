package graft.operators

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.{IntegerType, LongType, StructField, StructType}

import scala.collection.mutable
import scala.reflect.ClassTag

/** The driver-wave substrate of the iterative graph and dedup operators.
  * Each such operator runs a driver-local "wave" twin when its input is
  * small and its distributed loop otherwise; this module holds what the
  * twins share: the row cap that decides between the two, the
  * count-gated collect, the local result frame, the dense-index/CSR
  * graph image, bounded BFS and union-find.
  *
  * The cap is a measured row count, never an assumption, so a big input
  * can never enter a driver path. A zero or negative cap sends every
  * non-empty input to the distributed loops, which is how the parity
  * specs and forced-path gate runs exercise them.
  */
private[graft] object Wave {

  /** The wave row cap (default 2·10⁶ ≈ 32 MB of id pairs on the
    * driver): the most rows a wave twin may collect, in the caller's
    * canonical unit (an undirected edge, an id pair, a pool edge).
    */
  def rowCap(ss: SparkSession): Long =
    ss.conf.get("spark.graft.graph.waveRows", "2000000").toLong

  /** The wave LABEL budget: a per-source label recursion holds up to
    * |sources| x |nodes| labels on the driver, which the row cap alone
    * does not bound — `spark.graft.graph.waveLabels` caps the projected
    * volume (default 8·10⁶ ≈ 64 MB of packed longs); over-cap instances
    * take the distributed loops unchanged.
    */
  def labelCap(ss: SparkSession): Long =
    ss.conf.get("spark.graft.graph.waveLabels", "8000000").toLong

  /** Count-gated collect of `cols` from `df`: None — the caller runs its
    * distributed path — when a column is not `LongType` (`IntegerType`
    * too when `widenInt`), when `df.count()` exceeds `capFactor` x
    * [[rowCap]] (2 for already-doubled directed tables, so the cap keeps
    * its canonical-edge meaning), when any value is null, or, with
    * `idBound`, when any value lies outside [0, 2^31) (callers that pack
    * two ids into one long). Otherwise every row, decoded across driver
    * cores by `row` from its column values in `cols` order.
    */
  def collectIfSmall[T: ClassTag](df: DataFrame, cols: Seq[String],
                                  capFactor: Long = 1L,
                                  widenInt: Boolean = false,
                                  idBound: Boolean = false)
                                 (row: Array[Long] => T): Option[Array[T]] = {
    val types = cols.map(df.schema(_).dataType)
    if (!types.forall(t => t == LongType || (widenInt && t == IntegerType)))
      return None
    if (df.count() > capFactor * rowCap(df.sparkSession)) return None
    val isLong = types.map(_ == LongType).toArray
    val ir = fastCollect(df.select(cols.map(col): _*))
    val out = new Array[T](ir.length)
    val bad = new java.util.concurrent.atomic.AtomicBoolean(false)
    java.util.stream.IntStream.range(0, ir.length).parallel().forEach { i =>
      val r = ir(i)
      val v = new Array[Long](isLong.length)
      var j = 0
      while (j < v.length && !r.isNullAt(j)) {
        v(j) = if (isLong(j)) r.getLong(j) else r.getInt(j).toLong
        j += 1
      }
      if (j < v.length || (idBound && v.exists(x => x < 0 || x >= (1L << 31))))
        bad.set(true)
      else out(i) = row(v)
    }
    if (bad.get) None else Some(out)
  }

  /** Row decoders for [[collectIfSmall]]. */
  val pair: Array[Long] => (Long, Long) = v => (v(0), v(1))
  val triple: Array[Long] => (Long, Long, Long) = v => (v(0), v(1), v(2))

  /** The id-panel form of [[collectIfSmall]] (seeds, targets): the
    * long-typed column `name`, duplicates kept or removed, limit-collected
    * at [[rowCap]] + 1 so an over-cap panel never lands on the driver.
    * Kept duplicates serve the operators whose distributed joins turn a
    * duplicate seed row into duplicate result rows. None when over the
    * cap, null-bearing, or not long-typed.
    */
  def collectIdsIfSmall(ids: DataFrame, name: String,
                        distinct: Boolean): Option[Array[Long]] = {
    if (ids.schema(name).dataType != LongType) return None
    val cap = math.min(rowCap(ids.sparkSession), Int.MaxValue.toLong - 1L).toInt
    val panel = ids.select(col(name))
    val rows = (if (distinct) panel.distinct() else panel).limit(cap + 1).collect()
    if (rows.length > cap || rows.exists(_.isNullAt(0))) None
    else Some(rows.map(_.getLong(0)))
  }

  /** Driver materialization of a small projection WITHOUT the per-row
    * external-Row decode: the executed plan's `executeCollect` hands
    * back the internal row batch directly (`Dataset.collect` builds a
    * GenericRow per row — measured ~1 s of single-threaded driver decode
    * per 2.4M-row wave collect), and the callers' primitive getters then
    * run across driver cores.
    */
  def fastCollect(df: DataFrame): Array[org.apache.spark.sql.catalyst.InternalRow] =
    df.queryExecution.executedPlan.executeCollect()

  /** A wave result as a frame of `LongType` columns `names` (those in
    * `nullable` nullable, holding `java.lang.Long` or null). The tuples
    * are parallelized rather than turned into a local relation:
    * `createDataset(bigSeq)` row-encodes the whole result ON THE DRIVER
    * and plans it as one partition, so the caller's orderBy/count then
    * sorts 10⁶ rows in one task (measured ~5 s of the trussness_inc
    * gate); parallelized, rows are built and sorted at executor width.
    */
  def localResult[T <: Product : ClassTag](ss: SparkSession, rows: Array[T],
                                           names: Seq[String],
                                           nullable: Set[String] = Set.empty): DataFrame = {
    val parts = math.max(1, math.min(ss.sparkContext.defaultParallelism,
      rows.length / 50000 + 1))
    val rdd = ss.sparkContext.parallelize(rows.toIndexedSeq, parts).map(Row.fromTuple)
    ss.createDataFrame(rdd, StructType(names.map(n =>
      StructField(n, LongType, nullable = nullable(n)))))
  }

  /** Dense-index CSR image of a collected (src, dst) pair list — the
    * shared substrate of the numeric wave sweeps (a LongMap-per-edge
    * accumulation measured ~2.6 s/gate driver-side at 2.4M edges; the
    * indexed-array form is O(E) per round with zero per-edge allocation).
    * `extra` indexes panel ids (seeds) that may lie outside the edge set.
    */
  final class LocalDigraph(pairs: Array[(Long, Long)],
                           extra: Array[Long] = Array.emptyLongArray) {
    val m: Int = pairs.length
    // Sorted-unique dense index (parallel sort + in-place dedup + binary
    // search) instead of an insertion-ordered LongMap: the hash build
    // was ~0.5 s of single-threaded work per 2.4M-edge wave collect; the
    // sort path uses every driver core. No twin reads meaning into the
    // dense index, only into the id it maps back to — except that index
    // order IS id order, which [[UnionFind]]'s min-root labels rely on.
    val ids: Array[Long] = {
      val all = new Array[Long](2 * m + extra.length)
      java.util.stream.IntStream.range(0, m).parallel().forEach { i =>
        all(2 * i) = pairs(i)._1
        all(2 * i + 1) = pairs(i)._2
      }
      System.arraycopy(extra, 0, all, 2 * m, extra.length)
      java.util.Arrays.parallelSort(all)
      var w = 0
      var i = 0
      while (i < all.length) {
        if (w == 0 || all(i) != all(w - 1)) { all(w) = all(i); w += 1 }
        i += 1
      }
      java.util.Arrays.copyOf(all, w)
    }
    val n: Int = ids.length
    /** Dense index of an id KNOWN to be in pairs ∪ extra. */
    def idxOf(id: Long): Int = java.util.Arrays.binarySearch(ids, id)
    /** Dense source / destination index of each edge, in input order. */
    val es = new Array[Int](m)
    val ed = new Array[Int](m)
    locally {
      java.util.stream.IntStream.range(0, m).parallel().forEach { i =>
        es(i) = idxOf(pairs(i)._1)
        ed(i) = idxOf(pairs(i)._2)
      }
    }
    /** Whether index i occurs as an edge source (the deg-table key set). */
    val isSrc: Array[Boolean] = {
      val b = new Array[Boolean](n)
      var i = 0
      while (i < m) { b(es(i)) = true; i += 1 }
      b
    }
    private def csr(key: Array[Int], value: Array[Int]): (Array[Int], Array[Int]) = {
      val off = new Array[Int](n + 1)
      var i = 0
      while (i < m) { off(key(i) + 1) += 1; i += 1 }
      i = 0
      while (i < n) { off(i + 1) += off(i); i += 1 }
      val pos = java.util.Arrays.copyOf(off, n + 1)
      val tgt = new Array[Int](m)
      i = 0
      while (i < m) { tgt(pos(key(i))) = value(i); pos(key(i)) += 1; i += 1 }
      (off, tgt)
    }
    /** Out-adjacency: targets of u are outTgt[outOff(u) until outOff(u+1)). */
    val (outOff, outTgt) = csr(es, ed)
    /** In-adjacency, built on first use (only histogram sweeps need it). */
    lazy val (inOff, inSrc) = csr(ed, es)
  }

  /** Union-find over the dense indices 0 until n. A set's root is always
    * its minimum index, so over a [[LocalDigraph]] `ids(find(i))` is the
    * minimum id of i's component — the min-id label contract of the
    * distributed connected-components loops.
    */
  final class UnionFind(n: Int) {
    private val parent = Array.tabulate(n)(identity)
    def find(x: Int): Int = {
      var r = x
      while (parent(r) != r) r = parent(r)
      var c = x
      while (parent(c) != r) { val nx = parent(c); parent(c) = r; c = nx }
      r
    }
    def union(a: Int, b: Int): Unit = {
      val ra = find(a); val rb = find(b)
      if (ra < rb) parent(rb) = ra else if (rb < ra) parent(ra) = rb
    }
  }

  /** Directed adjacency arrays over collected (src, dst) pairs; pass both
    * orientations of each edge for the undirected form.
    */
  def adjacency(pairs: Array[(Long, Long)]): mutable.LongMap[Array[Long]] = {
    val b = mutable.LongMap.empty[mutable.ArrayBuffer[Long]]
    pairs.foreach { case (u, v) =>
      b.getOrElseUpdate(u, mutable.ArrayBuffer.empty) += v
    }
    val m = mutable.LongMap.empty[Array[Long]]
    b.foreach { case (u, vs) => m(u) = vs.toArray }
    m
  }

  /** Driver-local multi-source bounded BFS: node → hop layer (≤ rounds)
    * from the seed set — the wave twin of the frontier and settled-table
    * relaxation loops (after round r the settled set holds exactly the
    * nodes within r hops, at their first-reached layer).
    */
  def bfs(adj: mutable.LongMap[Array[Long]], seeds: Iterable[Long],
          rounds: Int): mutable.LongMap[Long] = {
    val layer = mutable.LongMap.empty[Long]
    seeds.foreach(s => layer(s) = 0L)
    var frontier = layer.keysIterator.toArray
    var r = 1
    while (r <= rounds && frontier.nonEmpty) {
      val next = mutable.ArrayBuffer.empty[Long]
      frontier.foreach { u =>
        adj.getOrElse(u, Array.emptyLongArray).foreach { v =>
          if (!layer.contains(v)) { layer(v) = r.toLong; next += v }
        }
      }
      frontier = next.toArray
      r += 1
    }
    layer
  }
}
