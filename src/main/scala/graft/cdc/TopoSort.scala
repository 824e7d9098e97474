package graft.cdc

/** Dependency-aware load ordering.
  *
  * The reference orders tables parent-before-child with Kahn's algorithm and
  * appends cycle leftovers at the end (scripts/03_cdc_etl.py:174-201). Kahn's
  * pop order is nondeterministic there; here each node gets its *longest-path
  * level* from a root, which is unique, parallelism-revealing (all tables in
  * a level can load concurrently), and reproducible by a recursive-CTE
  * oracle. This is driver-side metadata work — table counts are tiny even
  * when the tables themselves are 100 TB.
  */
object TopoSort {
  /** (table, level) pairs; level = longest path from any root (0-based).
    * Nodes on cycles get level -1 and sort after everything, mirroring the
    * reference's "leftovers appended" behavior.
    */
  def levels(nodes: Seq[String], edges: Seq[(String, String)]): Seq[(String, Int)] = {
    val ns = nodes.distinct
    val es = edges.filter { case (p, c) => ns.contains(p) && ns.contains(c) && p != c }.distinct
    val inDeg = scala.collection.mutable.Map(ns.map(_ -> 0): _*)
    es.foreach { case (_, c) => inDeg(c) += 1 }
    val level = scala.collection.mutable.Map[String, Int]()
    var frontier = ns.filter(inDeg(_) == 0).toList
    frontier.foreach(level(_) = 0)
    val remaining = scala.collection.mutable.Map(inDeg.toSeq: _*)
    // a node gets its level only once every parent has one: a cycle that
    // hangs under a root stays a leftover, as in Kahn's algorithm
    val longest = scala.collection.mutable.Map[String, Int]()
    while (frontier.nonEmpty) {
      val next = scala.collection.mutable.ListBuffer[String]()
      for (n <- frontier; (p, c) <- es if p == n) {
        longest(c) = math.max(longest.getOrElse(c, 0), level(n) + 1)
        remaining(c) -= 1
        if (remaining(c) == 0) { level(c) = longest(c); next += c }
      }
      frontier = next.toList
    }
    val sorted = ns.filter(level.contains).map(n => n -> level(n))
      .sortBy { case (n, l) => (l, n) }
    val cyclic = ns.filterNot(level.contains).sorted.map(_ -> -1)
    sorted ++ cyclic
  }

  /** Flat load order (parents first), as the reference consumes it. */
  def order(nodes: Seq[String], edges: Seq[(String, String)]): Seq[String] =
    levels(nodes, edges).map(_._1)

  /** Reachable-rows cascade: rows of every table transitively referencing
    * the seed rows of `root` — the impact set of a hard delete / GDPR
    * erasure on a replica (the reference tracks IS_DELETED but never
    * answers "what else must go"; at scale this is the audit you run
    * BEFORE flipping flags). Each FK edge is one semi-join; tables are
    * visited in dependency order so multi-hop chains resolve in a single
    * pass over the edge list (FK graphs are DAGs).
    *
    * @param edges (parentTable, childTable, parentKeyCol, childFkCol)
    * @param seedKeys one-column DataFrame of root keys (named as the
    *                 root's key column)
    * @return per-table DataFrame of affected rows (root included)
    */
  def cascadeAffected(tables: Map[String, org.apache.spark.sql.DataFrame],
                      edges: Seq[(String, String, String, String)],
                      root: String,
                      seedKeys: org.apache.spark.sql.DataFrame)
      : Map[String, org.apache.spark.sql.DataFrame] = {
    import org.apache.spark.sql.functions.col
    val keyCol = seedKeys.columns.head
    var affected = Map(root ->
      tables(root).join(seedKeys, tables(root)(keyCol) === seedKeys(keyCol), "left_semi"))
    val tableOrder = order(tables.keys.toSeq, edges.map(e => (e._1, e._2)))
    // parents resolve before children, so one ordered sweep suffices
    tableOrder.foreach { t =>
      edges.filter(_._2 == t).foreach { case (parent, child, pKey, cFk) =>
        affected.get(parent).foreach { pRows =>
          val keys = pRows.select(col(pKey)).distinct()
          val hit = tables(child).join(keys, tables(child)(cFk) === keys(pKey), "left_semi")
          affected += child -> (affected.get(child) match {
            case Some(prev) => prev.unionByName(hit).distinct()
            case None => hit
          })
        }
      }
    }
    affected
  }
}
