package graft.operators

import graft.Materialize
import org.apache.spark.sql.{DataFrame, GraftBridge}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.catalyst.util.TypeUtils
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DataType, StructField, StructType}

/** Connected components over an undirected edge list — the step that
  * turns near-duplicate PAIRS into duplicate CLUSTERS (pick one
  * survivor per component). Large-corpus dedup pipelines end with
  * exactly this.
  *
  * Algorithm: the canonical distinct edge set (each edge as
  * (greatest, least), self-loops kept because they name nodes) is
  * checkpointed once, its row count observed on the same job.
  *  - Up to [[OneTaskEdges]] rows: union-find over all of them in one
  *    task gives (node, min id of its component) for every endpoint,
  *    checkpointed as the result — the local contraction of Łącki et
  *    al., "Connected Components at Scale via Local Contractions"
  *    (2018), applied to an edge set small enough to contract whole.
  *    The task's state is a hash map over at most twice that many ids,
  *    which cannot spill, so the bound is on rows, not on partitions
  *    (AQE coalescing merges partitions and never splits them, and at
  *    one core every edge set is one partition).
  *  - Larger: alternating large-star / small-star contraction
  *    (Kiveris et al., "Connected Components in MapReduce and Beyond",
  *    2014 — public algorithm), all of it Spark joins and
  *    aggregations, which spill. large-star points every larger
  *    neighbor at the neighborhood minimum; small-star re-roots the
  *    smaller neighbors and the node itself. The edge set converges to
  *    one star per component rooted at the component minimum in
  *    O(log²) rounds — unlike plain min-label propagation, whose round
  *    count equals the graph DIAMETER and which crawls (or times out
  *    maxIter) on weakly-chained collision graphs. Each star step is
  *    one neighborhood aggregation + one join, both bounded by |E|.
  *
  * Ids keep their column type and compare under the ordering Spark's
  * `least` / `min` use. An edge with a null endpoint connects nothing:
  * its other endpoint is a node of its own, and a null node labelled
  * null joins the result.
  *
  * Every edge-set intermediate of the star loop is checkpointed: the
  * edge plan (often a deep candidate-generation pipeline) would
  * otherwise be embedded once per round in a growing logical tree —
  * at high diameter the plan STRING alone OOMs the driver (found by
  * the differential fuzz; AQE renders the plan on every update).
  * LogicalRDD leaves keep every round's plan O(1); the intermediates
  * are released when the call returns, leaving only the result's
  * checkpoint. The convergence fingerprint of each round is observed
  * on that round's small-star checkpoint job, so a round is its
  * checkpoints and no further action.
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

  /** Canonical edge sets of at most this many rows are solved in one
    * task. Its union-find holds at most twice as many ids, boxed in a
    * hash map: a few tens of MB for long ids. */
  private[graft] val OneTaskEdges: Long = 1L << 18

  /** Union-find over canonical (src, dst) edges of id type `dt`: every
    * non-null node with the least id (under `dt`'s ordering) of its
    * component, as (node, component) rows, plus one (null, null) row
    * when an endpoint is null. A set's root is always its least
    * member: a union hangs the greater root under the lesser. */
  private def unionFind(edges: Iterator[InternalRow], dt: DataType): Iterator[InternalRow] = {
    val ord = TypeUtils.getInterpretedOrdering(dt)
    val parent = new java.util.HashMap[Any, Any]()
    def node(r: InternalRow, i: Int): Any = {
      val id = InternalRow.copyValue(r.get(i, dt))
      parent.putIfAbsent(id, id)
      id
    }
    def find(x: Any): Any = {
      var n = x
      while (parent.get(n) != n) {
        val up = parent.get(parent.get(n))
        parent.put(n, up)
        n = up
      }
      n
    }
    var nullNode = false
    edges.foreach { r =>
      if (r.isNullAt(1)) {
        nullNode = true
        if (!r.isNullAt(0)) node(r, 0)
      } else {
        val (a, b) = (find(node(r, 0)), find(node(r, 1)))
        if (a != b) { if (ord.lt(a, b)) parent.put(b, a) else parent.put(a, b) }
      }
    }
    val rows = parent.keySet.toArray.iterator
      .map(n => new GenericInternalRow(Array[Any](n, find(n))): InternalRow)
    if (nullNode) rows ++ Iterator(new GenericInternalRow(2)) else rows
  }

  /** @param edges (id_a, id_b) undirected pairs
    * @param maxIter star rounds allowed above [[OneTaskEdges]] rows
    * @return (node, component) — component = min node id reachable */
  def connectedComponents(edges: DataFrame, aCol: String = "id_a",
                          bCol: String = "id_b", maxIter: Int = 15): DataFrame =
    solve(edges, aCol, bCol, maxIter, OneTaskEdges)

  /** [[connectedComponents]] with the one-task bound as a parameter,
    * so a small graph can be sent down the star loop. */
  private[graft] def solve(edges: DataFrame, aCol: String, bCol: String,
                           maxIter: Int, oneTaskEdges: Long): DataFrame = {
    Materialize.scoped { s =>
      // (greatest, least); an edge with a null endpoint keeps its other
      // endpoint (or null) as src and a null dst
      val (a, b) = (col(aCol), col(bCol))
      val (canon, size) = s.checkpointObserved(edges
        .select(greatest(a, b).as("src"), when(a.isNotNull && b.isNotNull, least(a, b)).as("dst"))
        .distinct(), "connectedComponents", count(lit(1)))
      if (size.getLong(0) <= oneTaskEdges) {
        val (rdd, dt) = GraftBridge.analyzedPlan(canon) match {
          case lr: LogicalRDD => (lr.rdd, lr.schema.head.dataType)
        }
        Materialize.checkpoint(GraftBridge.internalFrame(canon.sparkSession,
          rdd.coalesce(1).mapPartitions(unionFind(_, dt)),
          StructType(Seq(StructField("node", dt), StructField("component", dt)))))
      } else {
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
        // every endpoint must appear in the result, including self-loop-only
        // and about-to-be-contracted nodes; derived from the canonical
        // checkpoint inside the final plan
        val nodes = sym(canon).select(col("src").as("node")).distinct()
        var (cur, curSig) = observed(canon.filter(col("src") =!= col("dst")))

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
  }

  /** Collapse near-dup pairs to per-component survivors:
    * (component, survivor_id = min id, n_members). */
  def dedupClusters(edges: DataFrame, aCol: String = "id_a",
                    bCol: String = "id_b"): DataFrame =
    connectedComponents(edges, aCol, bCol)
      .groupBy("component")
      .agg(min(col("node")).as("survivor_id"), count(lit(1)).as("n_members"))
}
