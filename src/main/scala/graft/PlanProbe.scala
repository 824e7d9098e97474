package graft

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Dataset}

/** Capture point for the physical plans of ITERATIVE loop state.
  *
  * The driver-side loops (graph peeling/propagation, star-contraction
  * dedup, incremental maintenance) localCheckpoint their per-round state,
  * which truncates lineage — the gate's final DataFrame then explains as
  * a bare scan over checkpointed RDDs and [[PlanDump]] has nothing to
  * show for the rounds where the actual work (the per-round exchanges)
  * happens. Routing every loop checkpoint through [[CkptOps.ckpt]] lets
  * PlanDump flip [[start]] on and collect each DISTINCT round-plan shape
  * (normalized of expression ids), so PLANS.md can show
  * exchanges-per-round for the iterative families too.
  *
  * Inactive by default: `ckpt` is exactly `localCheckpoint(true)` unless
  * a dump run switched the probe on (plan capture costs a toString per
  * checkpoint, so production paths never pay it).
  */
object PlanProbe {
  @volatile private var active = false
  // normalized plan shape -> occurrence count, insertion-ordered so the
  // dump reads in first-seen (round-structure) order
  private val shapes = mutable.LinkedHashMap[String, Int]()

  def start(): Unit = synchronized { active = true; shapes.clear() }

  /** Stop capturing and hand back (shape, count) in first-seen order. */
  def drain(): Seq[(String, Int)] = synchronized {
    active = false
    val out = shapes.toSeq
    shapes.clear()
    out
  }

  private def normalize(p: String): String =
    p.replaceAll("#\\d+L?", "").replaceAll(", \\[plan_id=\\d+\\]", "")

  def record(ds: Dataset[_]): Unit = if (active) synchronized {
    val p = normalize(ds.queryExecution.executedPlan.toString())
    shapes.update(p, shapes.getOrElse(p, 0) + 1)
  }

  /** Eager localCheckpoint that DROPS inherited plan statistics (and,
    * unlike [[CkptOps.ckpt]], records nothing into the probe).
    *
    * Spark 4's `LogicalRDD.fromDataset` (inside localCheckpoint) rewrites
    * the origin plan's size estimate onto the new leaf. A loop whose
    * round plan MULTIPLIES its leaf's estimate — every join does — then
    * compounds the estimate exponentially across rounds: by round ~14 of
    * the 24-round BPE trainer the driver sat for minutes multiplying
    * million-digit BigInts inside `SizeInBytesOnlyStatsPlanVisitor`
    * (observed via jstack; the shorter graph loops stay under the radar
    * only because their digit growth is 2^rounds with small rounds).
    * Rebuilding the Dataset from the checkpointed RDD gives a leaf with
    * default statistics; every size-sensitive join in the tokenizer
    * rounds carries an explicit broadcast hint, so no planning decision
    * there ever consulted the inherited estimate. Row-conversion cost is
    * paid on VOCABULARY-sized data only.
    */
  def ckptFresh(df: DataFrame): DataFrame = {
    val c = df.localCheckpoint(true)
    df.sparkSession.createDataFrame(c.rdd, c.schema)
  }

  implicit class CkptOps[T](private val ds: Dataset[T]) extends AnyVal {
    /** Eager localCheckpoint that first lets an active [[PlanProbe]]
      * snapshot the (AQE-finalized, since execution already ran) plan.
      */
    def ckpt: Dataset[T] = {
      val out = ds.localCheckpoint(true)
      PlanProbe.record(ds)
      out
    }
  }
}
