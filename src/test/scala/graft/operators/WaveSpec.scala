package graft.operators

import graft.SparkTestSession
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.types.{IntegerType, LongType, StructField, StructType}
import org.scalatest.funsuite.AnyFunSuite

/** The shared wave substrate on its own: the count gate and its
  * fall-back conditions, the id panel, union-find, BFS and the local
  * result frame. The operator parity specs compare whole wave twins with
  * their distributed loops; this pins the pieces every twin relies on.
  */
class WaveSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private def withCap[A](cap: Long)(f: => A): A = {
    spark.conf.set("spark.graft.graph.waveRows", cap.toString)
    try f finally spark.conf.unset("spark.graft.graph.waveRows")
  }

  private def pairs(n: Int): DataFrame =
    (1 to n).map(i => (i.toLong, i.toLong + 1)).toDF("src", "dst")

  private def collect(df: DataFrame, capFactor: Long = 1L,
                      widenInt: Boolean = false, idBound: Boolean = false) =
    Wave.collectIfSmall(df, Seq("src", "dst"), capFactor, widenInt,
      idBound)(Wave.pair)

  /** A two-column frame with explicit types and nullable cells. */
  private def frame(types: (Boolean, Boolean), rows: Seq[(Any, Any)]): DataFrame = {
    def t(isLong: Boolean) = if (isLong) LongType else IntegerType
    spark.createDataFrame(
      spark.sparkContext.parallelize(rows.map { case (a, b) =>
        org.apache.spark.sql.Row(a, b) }),
      StructType(Seq(StructField("src", t(types._1)),
        StructField("dst", t(types._2)))))
  }

  test("count == cap takes the wave path, cap + 1 does not") {
    withCap(3) {
      assert(collect(pairs(3)).map(_.toSeq) ==
        Some(Seq((1L, 2L), (2L, 3L), (3L, 4L))))
      assert(collect(pairs(4)).isEmpty)
    }
  }

  test("capFactor scales the cap") {
    withCap(2) {
      assert(collect(pairs(4), capFactor = 2).map(_.length) == Some(4))
      assert(collect(pairs(5), capFactor = 2).isEmpty)
      assert(collect(pairs(4)).isEmpty)
    }
  }

  test("a cap of -1 or 0 forces the distributed path on non-empty input") {
    for (cap <- Seq(-1L, 0L)) withCap(cap) {
      assert(collect(pairs(1)).isEmpty, s"cap $cap")
      assert(Wave.collectIdsIfSmall(pairs(1), "src", distinct = true).isEmpty)
      assert(Wave.collectIdsIfSmall(pairs(1), "src", distinct = false).isEmpty)
    }
    withCap(0)(assert(collect(pairs(0)).map(_.length) == Some(0)))
    withCap(-1)(assert(collect(pairs(0)).isEmpty))
  }

  test("a null in any column returns None") {
    val nullSrc = frame((true, true), Seq((1L, 2L), (null, 3L)))
    val nullDst = frame((true, true), Seq((1L, 2L), (2L, null)))
    assert(collect(frame((true, true), Seq((1L, 2L), (2L, 3L)))).isDefined)
    assert(collect(nullSrc).isEmpty)
    assert(collect(nullDst).isEmpty)
    val w = Seq[(java.lang.Long, java.lang.Long, java.lang.Long)](
      (1L, 2L, 5L), (2L, 3L, null)).toDF("src", "dst", "w")
    assert(Wave.collectIfSmall(w, Seq("src", "dst", "w"))(Wave.triple).isEmpty)
    assert(Wave.collectIfSmall(w, Seq("src", "dst"))(Wave.pair).isDefined)
    val ids = Seq[java.lang.Long](1L, null).toDF("node")
    assert(Wave.collectIdsIfSmall(ids, "node", distinct = true).isEmpty)
    assert(Wave.collectIdsIfSmall(ids, "node", distinct = false).isEmpty)
  }

  test("ids of 2^31 or -1 return None only when the id bound is requested") {
    for (bad <- Seq(1L << 31, -1L)) {
      val df = Seq((0L, 1L), (bad, 2L)).toDF("src", "dst")
      assert(collect(df, idBound = true).isEmpty, s"id $bad")
      assert(collect(df).map(_.toSeq) == Some(Seq((0L, 1L), (bad, 2L))))
    }
    val edge = Seq((0L, (1L << 31) - 1)).toDF("src", "dst")
    assert(collect(edge, idBound = true).isDefined)
  }

  test("an Int column is accepted only when widening is requested") {
    val ints = frame((false, true), Seq((7, 8L)))
    assert(collect(ints).isEmpty)
    assert(collect(ints, widenInt = true).map(_.toSeq) == Some(Seq((7L, 8L))))
    val str = Seq(("a", 1L)).toDF("src", "dst")
    assert(collect(str, widenInt = true).isEmpty)
    val intPanel = Seq(1, 2).toDF("node")
    assert(Wave.collectIdsIfSmall(intPanel, "node", distinct = true).isEmpty)
  }

  test("the id panel keeps duplicates in one form and removes them in the other") {
    val ids = Seq(3L, 1L, 3L, 2L, 1L).toDF("node")
    assert(Wave.collectIdsIfSmall(ids, "node", distinct = false)
      .map(_.sorted.toSeq) == Some(Seq(1L, 1L, 2L, 3L, 3L)))
    assert(Wave.collectIdsIfSmall(ids, "node", distinct = true)
      .map(_.sorted.toSeq) == Some(Seq(1L, 2L, 3L)))
    withCap(3) {
      assert(Wave.collectIdsIfSmall(ids, "node", distinct = true).isDefined)
      assert(Wave.collectIdsIfSmall(ids, "node", distinct = false).isEmpty)
    }
  }

  test("union-find labels each component with its minimum id; a self-loop-only id labels itself") {
    val es = Array((9L, 4L), (4L, 7L), (20L, 11L), (5L, 5L), (-3L, 11L))
    val g = new Wave.LocalDigraph(es)
    val uf = new Wave.UnionFind(g.n)
    es.indices.foreach(e => uf.union(g.es(e), g.ed(e)))
    val label = g.ids.indices.map(i => g.ids(i) -> g.ids(uf.find(i))).toMap
    assert(label == Map(4L -> 4L, 7L -> 4L, 9L -> 4L, 11L -> -3L, 20L -> -3L,
      -3L -> -3L, 5L -> 5L))
  }

  test("bfs layers nodes by first-reached round; both orientations give the undirected form") {
    val es = Array((1L, 2L), (2L, 3L), (3L, 4L), (5L, 4L))
    val dir = Wave.bfs(Wave.adjacency(es), Seq(1L), rounds = 5)
    assert(dir.toMap == Map(1L -> 0L, 2L -> 1L, 3L -> 2L, 4L -> 3L))
    val und = Wave.bfs(Wave.adjacency(es ++ es.map(_.swap)), Seq(1L), rounds = 3)
    assert(und.toMap == Map(1L -> 0L, 2L -> 1L, 3L -> 2L, 4L -> 3L))
    val multi = Wave.bfs(Wave.adjacency(es ++ es.map(_.swap)), Seq(1L, 5L), 1)
    assert(multi.toMap == Map(1L -> 0L, 5L -> 0L, 2L -> 1L, 4L -> 1L))
  }

  test("the result builder keeps column names and nullability and follows the partition formula") {
    val rows = Array[(Long, java.lang.Long)]((1L, 10L), (2L, null))
    val df = Wave.localResult(spark, rows, Seq("node", "score"),
      nullable = Set("score"))
    assert(df.schema == StructType(Seq(StructField("node", LongType, nullable = false),
      StructField("score", LongType, nullable = true))))
    assert(df.as[(Long, Option[Long])].collect().sorted.toSeq ==
      Seq((1L, Some(10L)), (2L, None)))
    assert(df.rdd.getNumPartitions == 1)
    val dp = spark.sparkContext.defaultParallelism
    val big = Array.tabulate(120000)(i => (i.toLong, i.toLong, i.toLong))
    val wide = Wave.localResult(spark, big, Seq("a", "b", "c"))
    assert(wide.schema.map(f => (f.name, f.nullable)) ==
      Seq(("a", false), ("b", false), ("c", false)))
    assert(wide.rdd.getNumPartitions == math.min(dp, 3))
    assert(wide.count() == 120000L)
    assert(Wave.localResult(spark, Array.empty[(Long, Long)], Seq("x", "y"))
      .rdd.getNumPartitions == 1)
  }
}
