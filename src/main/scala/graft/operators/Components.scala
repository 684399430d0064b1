package graft.operators

import graft.Materialize
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Connected components over an undirected edge list — the step that
  * turns near-duplicate PAIRS into duplicate CLUSTERS (pick one
  * survivor per component). Large-corpus dedup pipelines end with
  * exactly this.
  *
  * Algorithm: alternating large-star / small-star contraction
  * (Kiveris et al., "Connected Components in MapReduce and Beyond",
  * 2014 — public algorithm). large-star points every larger neighbor
  * at the neighborhood minimum; small-star re-roots the smaller
  * neighbors and the node itself. The edge set converges to one star
  * per component rooted at the component minimum in O(log²) rounds —
  * unlike plain min-label propagation, whose round count equals the
  * graph DIAMETER and which crawls (or times out maxIter) on
  * weakly-chained collision graphs. Each star step is one
  * neighborhood aggregation + one join, both bounded by |E|.
  *
  * Every edge-set intermediate is checkpointed: the edge plan (often
  * a deep candidate-generation pipeline) would otherwise be embedded
  * once per round in a growing logical tree — at high diameter the
  * plan STRING alone OOMs the driver (found by the differential
  * fuzz; AQE renders the plan on every update). LogicalRDD leaves
  * keep every round's plan O(1); the intermediates are released when
  * the call returns, leaving only the result's checkpoint. The
  * convergence fingerprint of each round is observed on that round's
  * small-star checkpoint job, so a round is its checkpoints and no
  * further action.
  */
object Components {

  /** Directed both-ways view of an undirected pair set. */
  private def sym(e: DataFrame): DataFrame =
    e.unionByName(e.select(col("dst").as("src"), col("src").as("dst")))

  /** (node, m) where m = min(N(node) ∪ {node}). */
  private def nbrMin(symE: DataFrame): DataFrame =
    symE.groupBy("src").agg(min(col("dst")).as("__nm"))
      .select(col("src").as("__node"), least(col("src"), col("__nm")).as("__m"))

  /** large-star: for every node u, connect each neighbor w > u to
    * min(N(u) ∪ {u}). Output edges are canonically (big, small). */
  private def largeStar(e: DataFrame): DataFrame = {
    val s = sym(e)
    s.join(nbrMin(s), col("src") === col("__node"))
      .filter(col("dst") > col("src"))
      .select(col("dst").as("src"), col("__m").as("dst"))
      .filter(col("src") =!= col("dst"))
      .distinct()
  }

  /** small-star: for every node u, connect each neighbor w <= u and u
    * itself to min(N(u) ∪ {u}). */
  private def smallStar(e: DataFrame): DataFrame = {
    val s = sym(e)
    val m = nbrMin(s)
    s.join(m, col("src") === col("__node"))
      .filter(col("dst") <= col("src"))
      .select(col("dst").as("src"), col("__m").as("dst"))
      .unionByName(m.select(col("__node").as("src"), col("__m").as("dst")))
      .filter(col("src") =!= col("dst"))
      .distinct()
  }

  /** @param edges (id_a, id_b) undirected pairs
    * @return (node, component) — component = min node id reachable */
  def connectedComponents(edges: DataFrame, aCol: String = "id_a",
                          bCol: String = "id_b", maxIter: Int = 15): DataFrame = {
    Materialize.scoped { s =>
      // checkpoint a canonical distinct edge set with its order-independent
      // fingerprint observed on the same job: (count, XOR of per-edge
      // xxhash64 — commutative, no overflow under ANSI). Equal
      // fingerprints on two such sets imply equality up to a 64-bit
      // collision (vanishing at any |E|, and a false "stable" still
      // leaves a valid though unconverged labeling, as maxIter would)
      def observed(e: DataFrame): (DataFrame, (Long, Long)) = {
        val (cp, r) = s.checkpointObserved(e, "connectedComponents",
          count(lit(1)), bit_xor(xxhash64(col("src"), col("dst"))))
        (cp, (r.getLong(0), if (r.isNullAt(1)) 0L else r.getLong(1)))
      }
      val input = s.checkpoint(edges.select(col(aCol).as("src"), col(bCol).as("dst")))
      // every endpoint must appear in the result, including self-loop-only
      // and about-to-be-contracted nodes; derived from the input's
      // checkpoint inside the final plan
      val nodes = sym(input).select(col("src").as("node")).distinct()
      var (cur, curSig) = observed(input.filter(col("src") =!= col("dst"))
        .select(greatest(col("src"), col("dst")).as("src"),
          least(col("src"), col("dst")).as("dst"))
        .distinct())

      var i = 0
      var stable = curSig._1 == 0L
      while (i < maxIter && !stable) {
        // checkpoint between the stars too: smallStar references its
        // input ~4x (sym twice, nbrMin, join probe) and would otherwise
        // re-evaluate the large-star join per reference
        val (next, nextSig) = observed(smallStar(s.checkpoint(largeStar(cur))))
        // both sides are canonically-oriented distinct sets, so equal
        // fingerprints mean a fixpoint — observed on the checkpoints
        // instead of count + except (which doubles per-round cost at
        // large |E|)
        stable = nextSig == curSig
        cur = next
        curSig = nextSig
        i += 1
      }
      if (!stable) System.err.println(
        s"[graft] connectedComponents: maxIter=$maxIter star rounds reached " +
          "before fixpoint — labels may be unconverged")
      // fixpoint edges are one star per component: (member, root=min);
      // nodes without a star row are their own singleton component
      val roots = cur.select(col("src").as("node"), col("dst").as("__root"))
      Materialize.checkpoint(nodes.join(roots, Seq("node"), "left")
        .groupBy("node")
        .agg(min(coalesce(col("__root"), col("node"))).as("component")))
    }
  }

  /** Collapse near-dup pairs to per-component survivors:
    * (component, survivor_id = min id, n_members). */
  def dedupClusters(edges: DataFrame, aCol: String = "id_a",
                    bCol: String = "id_b"): DataFrame =
    connectedComponents(edges, aCol, bCol)
      .groupBy("component")
      .agg(min(col("node")).as("survivor_id"), count(lit(1)).as("n_members"))
}
