package graft

import org.scalatest.funsuite.AnyFunSuite

/** `Bench.planNorm`: two runs of one plan hash alike, a different
  * operator tree does not.
  */
class BenchSpec extends AnyFunSuite {

  /** The plan text Spark prints: the file list is cut to 100 chars. */
  private def plan(dir: String, lambdaId: Int, cls: String, hash: String): String = {
    val loc = s"InMemoryFileIndex(2 paths)[file:$dir/data/a.parquet, file:$dir/data/b.parquet]"
    val shown = if (loc.length > 100) loc.take(97) + "..." else loc
    s"""Project [id#12L, (vecdot(e#3, e#4) / q#5) AS cosine#7]
       |+- MapGroups graft.operators.Survival$$$$$$Lambda$$$cls@$hash
       |   +- Project [aggregate(transform(e, lambdafunction((lambda x_$lambdaId * lambda x_$lambdaId), lambda x_$lambdaId, false)), 0.0)]
       |      +- Filter (k#9 < 10), [D@$hash
       |         +- Exchange hashpartitioning(id#12L, 4), ENSURE_REQUIREMENTS, [plan_id=41]
       |            +- FileScan parquet [id#12L] Format: Parquet, Location: $shown, PartitionFilters: []
       |               +- FileScan parquet [k#1L] Location: InMemoryFileIndex(1 paths)[file:/srv/testdata/sf0.01/t.parquet]"""
      .stripMargin
  }

  test("per-run tokens normalize away; the operator tree stays") {
    val a = Bench.planNorm(plan("/tmp/t1", 5, "4077/0x00007f70c1094d90", "642ebd4c"), "/srv/testdata")
    val b = Bench.planNorm(plan("/tmp/ice_app_rt8123456789012345678", 9,
      "4165/0x00007ff7e10ae938", "13c0ced1"), "/srv/testdata")
    assert(a == b, s"\n$a\n$b")
    assert(a.contains("Location: InMemoryFileIndex(2 paths)[file:/tmp/X]"))
    assert(a.contains("lambda x * lambda x"))
    assert(a.contains("[file:/data/X]"))
    val other = Bench.planNorm(plan("/tmp/t1", 5, "4077/0x00007f70c1094d90", "642ebd4c")
      .replace("Filter (k#9 < 10)", "Filter (k#9 < 11)"), "/srv/testdata")
    assert(other != a)
  }

  test("a temp file list cut just after a dot normalizes like any other cut") {
    def scan(shown: String) = Bench.planNorm(
      s"+- FileScan parquet [id#1L] Location: InMemoryFileIndex(2 paths)[file:$shown, PartitionFilters: []",
      "/srv/testdata")
    val afterDot = scan("/tmp/t1/data/a." + "...")
    val elsewhere = scan("/tmp/t12/data/a.parq" + "...")
    assert(afterDot == elsewhere, s"\n$afterDot\n$elsewhere")
    assert(afterDot.contains("[file:/tmp/X], PartitionFilters"), afterDot)
  }
}
