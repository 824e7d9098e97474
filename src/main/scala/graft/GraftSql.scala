package graft

import org.apache.spark.sql.SparkSession

import graft.sources.Tables

/** Pure-SQL front end over the engine — the deployment shape the
  * reference's warehouse users actually have (they query the replica in
  * SQL, not through a library API; reference README's warehouse use
  * case). Two layers:
  *
  *   1. [[GraftExtensions]] injects the native expressions
  *      (`rolling_hash`, `vec_dot`, `zvalue`, `image_meta`, …) as SQL
  *      functions, so ad-hoc SQL composes them like builtins;
  *   2. this facade registers the replicated schema as temp views and
  *      each operator composite as `graft_<key>` — after
  *      `GraftSql.registerAll(spark, dir)`, every gate result is
  *      `SELECT * FROM graft_<key>`, and arbitrary SQL can join/filter
  *      over those views with full Catalyst optimization (views are
  *      lazy logical plans, not materializations — predicates push
  *      through them into the parquet scans).
  *
  * Iterative operators (graph loops, incremental maintenance) execute
  * driver-side rounds at VIEW DEFINITION time — registering them eagerly
  * runs those rounds, so they are excluded from [[lazyViews]] and opt-in
  * by name.
  */
object GraftSql {
  /** Register the replicated schema (all 10 tables) as temp views named
    * exactly like the reference's tables.
    */
  def registerTables(spark: SparkSession, dir: String): Unit =
    Tables.all.foreach(n =>
      Tables.load(spark, dir, n).createOrReplaceTempView(n))

  /** Gate keys whose plans are fully lazy (no driver-side iteration or
    * streaming harness at definition time) — safe to register wholesale.
    */
  lazy val lazyViews: Seq[String] = {
    val eager = Set(
      // driver-side loops / convergence probes at definition time
      "graph_pagerank", "graph_pagerank_weighted", "graph_labelprop",
      "graph_kcore", "graph_ktruss", "graph_coreness", "graph_trussness",
      "graph_coreness_inc", "graph_trussness_inc", "graph_kpeak",
      "graph_sssp", "graph_bfs", "graph_path_counts", "graph_harmonic",
      "graph_percolation", "graph_percolation4", "graph_triangles",
      "graph_clustering_coeff", "graph_summary", "cc_star_cluster",
      "dedup_cluster", "zorder_incremental", "entity_resolution",
      "q_eval_kappa", "dedup_sorted_neighborhood", "dedup_substring",
      // write side effects / persisted state at definition time
      "q_basket_incremental", "sketch_tdigest_incremental",
      "sketch_hll_incremental", "dedup_incremental", "jdbc_roundtrip",
      // streaming harnesses (drained at definition time)
      "stream_cdc_apply") ++
      SparkEntry.queries.keys.filter(_.startsWith("stream_"))
    SparkEntry.queries.keys.toSeq.filterNot(eager).sorted
  }

  /** Register operator composites as `graft_<key>` temp views; returns
    * the view names. Defaults to every lazy gate.
    */
  def registerViews(spark: SparkSession, dir: String,
                    names: Seq[String] = lazyViews): Seq[String] =
    names.map { n =>
      val view = s"graft_$n"
      SparkEntry.queries(n)(spark, dir).createOrReplaceTempView(view)
      view
    }

  /** Tables + every lazy composite in one call. */
  def registerAll(spark: SparkSession, dir: String): Seq[String] = {
    registerTables(spark, dir)
    registerViews(spark, dir)
  }
}
