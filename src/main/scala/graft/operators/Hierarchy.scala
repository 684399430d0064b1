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
    * parent edges. `maxDepth` bounds runaway cycles.
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
      Materialize.checkpoint(closure.dropDuplicates("node", "anc"))
    }
  }

  /** Ancestor closure by PATH DOUBLING: O(log depth) rounds instead of
    * O(depth). Each round joins the closure with itself (ancestor of
    * ancestor), so after k rounds every path up to length 2^k is
    * present; (node, anc) pairs keep their MINIMUM path length, which
    * also makes the depth deterministic on diamond DAGs (the linear
    * walk keeps an arbitrary one).
    *
    * Scale trade-off vs [[ancestors]]: the linear walk shuffles only
    * the frontier each round (best for shallow, wide hierarchies —
    * most ontologies); doubling shuffles the whole closure per round
    * but needs exponentially fewer rounds (best when depth is large —
    * deep taxonomies, long dependency chains — where round-count,
    * i.e. job-scheduling latency, dominates).
    */
  def ancestorsDoubling(edges: DataFrame, childCol: String, parentCol: String,
                        maxDepth: Int = 1 << 20): DataFrame = {
    Materialize.scoped { s =>
      var closure = s.cache(edges.select(col(childCol).as("node"), col(parentCol).as("anc"))
        .filter(col("anc").isNotNull)
        .withColumn("depth", lit(1)))
      var size = closure.count()
      var reach = 1L
      var done = false
      while (!done && reach < maxDepth) {
        val doubled = closure.alias("a")
          .join(closure.alias("b"), col("a.anc") === col("b.node"))
          .select(col("a.node").as("node"), col("b.anc").as("anc"),
            (col("a.depth") + col("b.depth")).as("depth"))
        val next = s.cache(closure.unionByName(doubled)
          .groupBy("node", "anc").agg(min(col("depth")).as("depth")))
        val nextSize = next.count()
        done = nextSize == size // no new reachable pairs => fixpoint
        size = nextSize
        closure = next
        reach *= 2
      }
      if (!done) System.err.println(
        s"[graft] Hierarchy.ancestorsDoubling: maxDepth=$maxDepth reached before " +
          "fixpoint — the closure may be truncated (cycle or deeper hierarchy)")
      Materialize.checkpoint(closure)
    }
  }

  /** HYBRID closure: the linear frontier walk while the hierarchy is
    * shallow (one frontier-sized shuffle per round — the cheap regime
    * for ontology-shaped data), flipping to PATH DOUBLING over the
    * accumulated closure once depth passes `switchDepth` (O(log
    * remaining) rounds — the cheap regime for deep chains, where the
    * linear walk's round count, i.e. job-scheduling latency, takes
    * over). The flip is exact: after s linear rounds the closure holds
    * every path of depth <= s, so doubling from it reaches 2s, 4s, …
    *
    * Depth semantics: pairs found by the doubling phase carry MINIMUM
    * path length (deterministic on diamond DAGs); on trees — unique
    * paths — output is identical to [[ancestors]], which is what the
    * closure queries' oracles pin. */
  def ancestorsAdaptive(edges: DataFrame, childCol: String, parentCol: String,
                        maxDepth: Int = 1 << 20, switchDepth: Int = 4): DataFrame = {
    require(switchDepth >= 1, s"switchDepth >= 1; got $switchDepth")
    Materialize.scoped { s =>
      val e = s.cache(edges.select(col(childCol).as("node"), col(parentCol).as("anc"))
        .filter(col("anc").isNotNull)
        .withColumn("depth", lit(1)))
      var closure = e
      var frontier = e
      var d = 1
      var done = false
      while (d < math.min(switchDepth, maxDepth) && !done) {
        val next = s.cache(frontier.alias("f")
          .join(e.alias("e"), col("f.anc") === col("e.node"))
          .select(col("f.node").as("node"), col("e.anc").as("anc"),
            (col("f.depth") + 1).as("depth")))
        done = next.isEmpty
        frontier = next
        if (!done) closure = closure.unionByName(next)
        d += 1
      }
      if (done) Materialize.checkpoint(closure.dropDuplicates("node", "anc"))
      else {
        // not converged by switchDepth: double from the accumulated
        // closure (deduped to min depth first — the doubling loop's
        // invariant surface)
        var cur = s.cache(closure.groupBy("node", "anc").agg(min(col("depth")).as("depth")))
        var size = cur.count()
        var reach = d.toLong
        var fixed = false
        while (!fixed && reach < maxDepth) {
          val doubled = cur.alias("a")
            .join(cur.alias("b"), col("a.anc") === col("b.node"))
            .select(col("a.node").as("node"), col("b.anc").as("anc"),
              (col("a.depth") + col("b.depth")).as("depth"))
          val next = s.cache(cur.unionByName(doubled)
            .groupBy("node", "anc").agg(min(col("depth")).as("depth")))
          val nextSize = next.count()
          fixed = nextSize == size
          size = nextSize
          cur = next
          reach *= 2
        }
        if (!fixed) System.err.println(
          s"[graft] Hierarchy.ancestorsAdaptive: maxDepth=$maxDepth reached before " +
            "fixpoint — the closure may be truncated (cycle or deeper hierarchy)")
        Materialize.checkpoint(cur)
      }
    }
  }

  /** Strategy selector for the closure queries' scale A/B
    * (SPARK_GRAFT_CLOSURE = linear | doubling | adaptive): the
    * committed default stays the linear walk — the measured-best plan
    * for the shallow decimal-tree corpus — and the scale harness flips
    * the env var to measure the alternatives at depth. */
  private[graft] def ancestorsByEnv(edges: DataFrame, childCol: String,
                                    parentCol: String, maxDepth: Int): DataFrame =
    sys.env.getOrElse("SPARK_GRAFT_CLOSURE", "linear") match {
      case "doubling" => ancestorsDoubling(edges, childCol, parentCol, maxDepth)
      case "adaptive" => ancestorsAdaptive(edges, childCol, parentCol, maxDepth)
      case _          => ancestors(edges, childCol, parentCol, maxDepth)
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
