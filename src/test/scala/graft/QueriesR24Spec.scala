package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.sources.IcebergCatalog

/** Staged lake fixtures stay as built: the compaction gate rewrites its
  * own copy of the cdc_iceberg_apply replica, never the staged one.
  */
class QueriesR24Spec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  private val dir = "/root/testdata/sf0.001"

  test("iceberg_compact leaves the staged cdc_iceberg_apply table at its merge snapshot") {
    QueriesR24.queries("iceberg_compact")(spark, dir).count()
    val st = IcebergCatalog.state(spark, QueriesR24.buildCdcIcebergApply(spark, dir))
    assert(st.eqDeletes.nonEmpty, "staged merge lost its equality delete")
    val (_, cols, seq) = st.eqDeletes.head
    assert(cols == Seq("o_orderkey"))
    assert(st.files.exists(_.seq == seq), "the merge's staged rows are gone")
    assert(!st.files.exists(_.path.contains("compact-")),
      s"staged table was compacted: ${st.files.map(_.path)}")
    // both gates still answer the same rows
    val merged = QueriesR24.queries("cdc_iceberg_apply")(spark, dir)
    val compacted = QueriesR24.queries("iceberg_compact")(spark, dir)
    assert(merged.exceptAll(compacted).isEmpty && compacted.exceptAll(merged).isEmpty)
  }
}
