package graft.operators

import graft.Materialize
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Hierarchy / transitive-closure operators.
  *
  * Reference provenance: jobs/extract/ontology_hierarchy_extractor.py —
  * the reference walks ontology parent edges to produce, per term, its
  * ancestor chain (intermediate terms, top-level terms). Re-expressed
  * as an iterative self-join to fixpoint (each round doubles nothing:
  * it extends paths by one edge; rounds = max depth, each one shuffle
  * on the frontier only).
  */
object Hierarchy {

  /** Ancestor closure of an edge table (child, parent): returns
    * (node, ancestor, depth>=1) for every ancestor reachable via
    * parent edges. `maxDepth` bounds runaway cycles. Each (node,
    * ancestor) pair keeps its MINIMUM path length, so the depth is
    * deterministic on diamond DAGs; on trees every pair has one path.
    *
    * Scale: each iteration joins the current frontier (paths that
    * extended last round) against the edge table — broadcast when the
    * edge table is dimension-sized, shuffle-join otherwise. Work per
    * round is O(|frontier|), not O(|closure|).
    */
  def ancestors(edges: DataFrame, childCol: String, parentCol: String,
                maxDepth: Int = 20): DataFrame = {
    Materialize.scoped { s =>
      // Edges are joined every round and frontiers are re-materialized by
      // the emptiness check — cache both (frontier lineage would
      // otherwise deepen each round and recompute from scratch). All
      // intermediates are released after the result is checkpointed.
      val e = s.cache(edges.select(col(childCol).as("node"), col(parentCol).as("anc"))
        .filter(col("anc").isNotNull)
        .withColumn("depth", lit(1)))
      var closure = e
      var frontier = e
      var d = 1
      var done = false
      while (d < maxDepth && !done) {
        val next = s.cache(frontier.alias("f")
          .join(e.alias("e"), col("f.anc") === col("e.node"))
          .select(col("f.node").as("node"), col("e.anc").as("anc"),
            (col("f.depth") + 1).as("depth")))
        done = next.isEmpty
        frontier = next
        if (!done) closure = closure.unionByName(next)
        d += 1
      }
      if (!done) System.err.println(
        s"[graft] Hierarchy.ancestors: maxDepth=$maxDepth reached with a non-empty " +
          "frontier — the closure may be truncated (cycle or deeper hierarchy)")
      // Checkpoint the closure ONCE (eager, truncates lineage); the
      // scope then drops every per-round cache
      Materialize.checkpoint(closure.groupBy("node", "anc")
        .agg(min(col("depth")).as("depth")))
    }
  }

  /** Per-node ancestor ARRAYS — the reference's actual product shape
    * (ontology_hierarchy_extractor.py:181 emits per-term arrays of
    * intermediate/top-level ancestors, not pairs): sorted distinct
    * ancestor ids, their count, and the chain depth. One shuffle over
    * the closure; collect_set partial-aggregates map-side. */
  def ancestorArrays(closureDf: DataFrame): DataFrame =
    closureDf.groupBy("node")
      .agg(sort_array(collect_set(col("anc"))).as("ancestors"),
        count(lit(1)).as("n_anc"),
        max(col("depth")).as("max_depth"))

  /** Root (top-level ancestor) per node: the ancestor at max depth. */
  def roots(closureDf: DataFrame): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("node")).orderBy(col("depth").desc, col("anc"))
    closureDf.withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col("node"), col("anc").as("root"), col("depth").as("root_depth"))
  }
}
