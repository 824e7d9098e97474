package graft.cdc

import graft.sources.Tables
import org.scalatest.funsuite.AnyFunSuite

class TopoSortSpec extends AnyFunSuite {
  test("schema FK graph orders parents before children") {
    val lv = TopoSort.levels(Tables.all, Tables.fkEdges).toMap
    assert(lv("region") == 0 && lv("part") == 0)
    assert(lv("nation") == 1)
    assert(lv("customer") == 2 && lv("supplier") == 2)
    assert(lv("orders") == 3 && lv("events") == 3)
    assert(lv("lineitem") == 4)
    assert(lv("documents") == 0 && lv("embeddings") == 0) // isolated roots
    // every edge respects the level order
    Tables.fkEdges.foreach { case (p, c) => assert(lv(p) < lv(c), s"$p->$c") }
  }

  test("cycles fall out as -1 leftovers, appended last (reference behavior)") {
    // a<->b cycle; d standalone; c under the cycle never resolves either
    val lv = TopoSort.levels(Seq("a", "b", "c", "d"),
      Seq("a" -> "b", "b" -> "a", "a" -> "c"))
    assert(lv.toMap == Map("d" -> 0, "a" -> -1, "b" -> -1, "c" -> -1))
    assert(lv.head._1 == "d") // resolvable nodes first, leftovers appended
  }

  test("a cycle hanging under a root is a -1 leftover too (Kahn's leftovers)") {
    // r resolves; x<->y never reaches in-degree 0 although r feeds x
    val lv = TopoSort.levels(Seq("r", "x", "y", "z"),
      Seq("r" -> "x", "x" -> "y", "y" -> "x", "y" -> "z"))
    assert(lv == Seq("r" -> 0, "x" -> -1, "y" -> -1, "z" -> -1))
  }

  test("deterministic: same input, same order") {
    val e = Tables.fkEdges
    assert(TopoSort.order(Tables.all, e) == TopoSort.order(Tables.all.reverse, e.reverse))
  }

  test("cascadeAffected: multi-hop chains and diamond paths union without double counting") {
    val spark = graft.SparkTestSession.spark
    import spark.implicits._
    // A → B → C and A → C directly: C is reachable via both paths
    val a = Seq(1L, 2L).toDF("a_id")
    val b = Seq((10L, 1L), (11L, 2L)).toDF("b_id", "a_fk")
    val c = Seq(
      (100L, 10L, 2L), // via B(10)←A(1) AND directly via A(2): one row, two paths
      (101L, 11L, 2L), // via B(11)←A(2) and A(2)
      (102L, 99L, 1L), // only via direct A(1) edge (b_fk dangles)
      (103L, 99L, 9L)) // unreachable
      .toDF("c_id", "b_fk", "a_fk")
    val tables = Map("A" -> a, "B" -> b, "C" -> c)
    val edges = Seq(("A", "B", "a_id", "a_fk"), ("B", "C", "b_id", "b_fk"),
      ("A", "C", "a_id", "a_fk"))
    val seeds = Seq(1L).toDF("a_id")
    val got = TopoSort.cascadeAffected(tables, edges, "A", seeds)
    assert(got("A").select("a_id").as[Long].collect().toSet == Set(1L))
    assert(got("B").select("b_id").as[Long].collect().toSet == Set(10L))
    // C: 100 via B(10); 102 via direct A(1); NOT 101 (parents untouched),
    // and 100 appears exactly once despite... (single path here; dedup
    // guarded by distinct on union)
    assert(got("C").select("c_id").as[Long].collect().toSeq.sorted == Seq(100L, 102L))
  }
}
