package graft.operators

import graft.Materialize
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Link-graph centrality (r15, VERDICT r14 next-round #4): crawl
  * curation weights documents by graph centrality next to the content
  * signals (quality scores, dedup verdicts) this engine already
  * derives — the OPR/harmonic-centrality prior every production crawl
  * pipeline carries. PageRank is kept EXACT ppm FIXED-POINT (integer
  * ranks, truncating division — identical on JVM longs and DuckDB
  * `//`), so a fixed iteration count is replayable bit-for-bit by an
  * unrolled-CTE oracle (the q_kmeans / q_token_bpe_verify
  * discipline), where float power iteration would hash-drift on
  * summation order.
  */
object Graph {

  /** Fixed-iteration PageRank over an edge list, ranks in ppm:
    *
    *   r⁰(v)   = 10⁶
    *   contrib = r(u) div outdeg(u)              (per edge u→v)
    *   rᵗ⁺¹(v) = (10⁶ − d) + d · Σ contrib div 10⁶   (d = dampingPpm)
    *
    * Semantics notes (each deterministic and oracle-replayable):
    *  - duplicate edges collapse (a multigraph caller pre-weights);
    *  - DANGLING nodes (no out-edges) keep receiving rank but emit
    *    none. Default: their mass LEAKS (the simplified map-reduce
    *    variant). With `redistributeDangling = true` the STANDARD
    *    term applies instead — each iteration adds the 1-row dangling
    *    mass aggregate and every node receives `dm div N` extra
    *    contribution before damping (truncating, still exact ppm);
    *  - nodes with no in-edges settle at the base (10⁶ − d).
    *
    * Scale shape: the deduped edge list and the node spine (with
    * out-degree attached) persist once; past
    * [[Dedup.BroadcastSafeCorpusRows]] nodes (the same pin that flips
    * the contribution join from broadcast to merge — a node-scaling
    * broadcast build is the r10-measured driver-OOM class) both
    * re-cache pre-partitioned and sorted on their join keys (src /
    * node — the GraphX routing-table discipline), so the per-iteration
    * sort-merge joins re-exchange NEITHER cached frame and each
    * iteration moves only the node-sized contribution frame
    * followed by the map-side-combined per-dst sum;
    * lineage is truncated every `checkpointEvery` iterations (the
    * [[Components]] discipline, so a deep `iters` cannot blow the
    * planner). Exact while iters·10⁶·maxdeg < 2⁶³ — unreachable.
    *
    * @return (node, out_degree, rank_ppm) after `iters` iterations. */
  /** Multi-source BFS hop distance over an edge list — the crawl-depth
    * prior (distance from a trusted seed set) that web curation ranks
    * hosts by, and the k-hop reachability a link-graph audit asks for.
    *
    * dist(v) = min hops from ANY seed, settled frontier-by-frontier:
    * unit weights make the first visit minimal, so a node joins the
    * `reached` set exactly once and each iteration expands only the
    * PREVIOUS frontier — per hop ONE edge-keyed shuffle (frontier ⋈
    * edges), never a full relax over all nodes. Unreached nodes are
    * absent from the output (their distance is undefined, not 0/null
    * — callers left-join).
    *
    * Scale shape: edges persist once; the frontier is the only moving
    * frame and shrinks as the graph saturates. `reached` is merged
    * with each hop's candidates via a node-keyed FULL OUTER join and
    * stays HASH-PARTITIONED on node across hops (the join's output
    * partitioning, re-claimed on each per-hop checkpoint), so
    * only the new candidates shuffle — the r16 union+anti-join form
    * re-exchanged the ENTIRE reached set every hop (measured
    * 7.6×-of-linear shuffle at ×32; at a 100 TB graph with deep
    * frontiers that term dominates). The checkpoint still truncates
    * the per-hop lineage (a deep maxHops cannot blow the planner).
    * Deterministic — set semantics, no floats — so a DuckDB oracle
    * replays hop-by-hop as unrolled CTEs.
    *
    * @param seeds single-column ("node") frame of BFS sources.
    * @return (node, hops) for every node within `maxHops` of a seed. */
  def bfsHops(edges: DataFrame, srcCol: String, dstCol: String,
              seeds: DataFrame, maxHops: Int): DataFrame = {
    require(maxHops >= 1)
    Materialize.scoped { s =>
      val e = s.cache(edges
        .select(col(srcCol).cast("long").as("node"), col(dstCol).cast("long").as("dst"))
        .distinct())
      e.count()
      val spark = edges.sparkSession
      // AQE partition COALESCING off for the state-building actions:
      // the re-asserted hash claim (claimHashPartitioned's safety
      // contract) requires the physical layout to be exactly
      // hash(node) % P, which coalesced shuffle reads break. Restored
      // in the finally; the returned frame is fully materialized
      // (an eager checkpoint) before restore, so later consumers run
      // under the session's own config.
      val coalesceKey = "spark.sql.adaptive.coalescePartitions.enabled"
      val prevCoalesce = spark.conf.getOption(coalesceKey)
      spark.conf.set(coalesceKey, "false")
      try {
        var reached = org.apache.spark.sql.GraftBridge.claimHashPartitioned(
          s.checkpoint(seeds.select(col("node").cast("long").as("node")).distinct()
            .select(col("node"), lit(0).as("hops"))
            // seed the node-keyed physical layout the per-hop merge reuses
            .repartition(col("node"))),
          Seq("node"))
        var frontier = reached.select("node")
        for (t <- 1 to maxHops) {
          val cand = e.join(frontier, "node").select(col("dst").as("node")).distinct()
            .select(col("node"), lit(t).as("__t"))
          // full-outer merge instead of anti-join + union (VERDICT r16
          // #3: the union form re-exchanged the ENTIRE reached set every
          // hop — 7.6×-of-linear shuffle at ×32): reached stays
          // hash-partitioned on node so only `cand` (the new frontier's
          // expansion, which shrinks as the graph saturates) moves;
          // first-visit wins (existing hops beat this hop's label); the
          // checkpoint pins ONE evaluation per hop, truncates lineage,
          // and re-asserts the layout claim a FullOuter join drops
          reached = org.apache.spark.sql.GraftBridge.claimHashPartitioned(
            s.checkpoint(reached.join(cand, Seq("node"), "full_outer")
              .select(col("node"), coalesce(col("hops"), col("__t")).as("hops"))),
            Seq("node"), sortedWithinPartitions = true)
          frontier = reached.filter(col("hops") === t).select("node")
        }
        reached
      } finally {
        prevCoalesce match {
          case Some(v) => spark.conf.set(coalesceKey, v)
          case None => spark.conf.unset(coalesceKey)
        }
      }
    }
  }

  /** Fixed-iteration HITS (hubs & authorities) in exact integer ppm —
    * the OTHER classic link-graph prior: on a crawl graph, authority
    * scores surface content pages and hub scores surface index/portal
    * pages, complementary to PageRank's random-surfer mass.
    *
    *   h⁰(u) = 10⁶
    *   aᵗ(v) = Σ_{u→v} hᵗ⁻¹(u), then a ← a·10⁶ div max(a)
    *   hᵗ(u) = Σ_{u→v} aᵗ(v),   then h ← h·10⁶ div max(h)
    *
    * Max-normalization (instead of the float L2 norm) keeps every
    * value an exact long under truncating division, so a fixed
    * iteration count replays bit-for-bit in an unrolled-CTE oracle —
    * the [[pagerankPpm]] discipline. Nodes with no in-edges settle at
    * authority 0, no out-edges at hub 0; duplicate edges collapse.
    *
    * Scale shape: past [[Dedup.BroadcastSafeCorpusRows]] nodes the
    * edge list persists TWICE — pre-partitioned and sorted on src and
    * on dst (the GraphX mirror-table trade), so the h→a and a→h
    * sort-merge joins re-exchange no O(E) frame; per iteration only
    * the two map-side-combined contribution sums and two 1-row max
    * aggregates (broadcast as constants) move. Below the pin the rank
    * frames broadcast and the single raw cache never moves.
    * Each normalized frame is EAGERLY checkpointed before the next
    * step: the max-normalization references its frame TWICE (the 1-row
    * aggregate and the scaled projection), so without a per-iteration
    * pin the unevaluated join subtree doubles per reference and the
    * final action re-executes it ~2^(2·iters) times — measured 36.9 s
    * → 9.9 s (single-query JVM incl. startup) at sf0.1 when the pin
    * landed. Exact while iters·10⁶·maxdeg < 2⁶³.
    *
    * @return (node, hub_ppm, auth_ppm) after `iters` iterations. */
  def hitsPpm(edges: DataFrame, srcCol: String, dstCol: String,
              iters: Int = 3): DataFrame = {
    require(iters >= 1)
    Materialize.scoped { s =>
      val eRaw = s.cache(edges
        .select(col(srcCol).cast("long").as("src"), col(dstCol).cast("long").as("dst"))
        .distinct())
      val spine = s.cache(eRaw.select(col("src").as("node")).union(eRaw.select(col("dst")))
        .distinct())
      val nNodes = spine.count()
      // past the broadcast-safe node count the edge list re-caches TWICE,
      // pre-partitioned+sorted on src and on dst (the GraphX mirror-table
      // trade): the h→a join keys on src and the a→h join on dst, and an
      // unpartitioned cache re-exchanged the full O(E) frame on EVERY one
      // of the 2·iters sort-merge joins (measured 9.9 GB shuffle write at
      // ×100 for a ~330 MB edge list). eDst derives from the cached eSrc
      // so the distinct computes once; with the claims in place,
      // iterations exchange only the node-sized normalized frames. Below
      // the pin the rank frames broadcast and the cached edge list never
      // moves, so the re-layout would be pure overhead — skipped.
      val (eSrc, eDst) =
        if (nNodes > Dedup.BroadcastSafeCorpusRows) {
          val es = s.cache(eRaw.repartition(col("src")).sortWithinPartitions("src"))
          es.count()
          val ed = s.cache(es.repartition(col("dst")).sortWithinPartitions("dst"))
          ed.count()
          s.release(eRaw)
          (es, ed)
        } else (eRaw, eRaw)
      def maxNorm(df: DataFrame, c: String): DataFrame = {
        val mx = df.agg(greatest(max(col(c)), lit(1L)).as("mx"))
        df.crossJoin(broadcast(mx))
          .select(col("node"), expr(s"($c * 1000000) div mx").as(c))
      }
      var hubs = spine.select(col("node"), lit(1000000L).as("h"))
      var auths: DataFrame = null
      for (i <- 1 to iters) {
        val aRaw = eSrc.join(hubs.withColumnRenamed("node", "src"), "src")
          .groupBy(col("dst").as("node")).agg(sum(col("h")).as("a"))
        auths = s.checkpoint(maxNorm(spine.join(aRaw, Seq("node"), "left")
          .select(col("node"), coalesce(col("a"), lit(0L)).as("a")), "a"))
        val hRaw = eDst.join(auths.withColumnRenamed("node", "dst"), "dst")
          .groupBy(col("src").as("node")).agg(sum(col("a")).as("h"))
        hubs = s.checkpoint(maxNorm(spine.join(hRaw, Seq("node"), "left")
          .select(col("node"), coalesce(col("h"), lit(0L)).as("h")), "h"))
      }
      Materialize.checkpoint(hubs.join(auths, "node")
        .select(col("node"), col("h").as("hub_ppm"), col("a").as("auth_ppm")))
    }
  }

  /** Per-node TRIANGLE counts over an undirected graph — the local
    * clustering signal link-spam detection keys on (link farms are
    * triangle-dense, organic link neighborhoods are sparse), and the
    * third classic graph prior next to [[pagerankPpm]]/[[hitsPpm]].
    *
    * Degree-ordered enumeration (the arboricity-bounded method every
    * distributed triangle counter uses): each undirected edge is
    * oriented from its lower-(degree, id) endpoint to the higher one,
    * wedges are built only from a node's OUT-edges under that order,
    * and a wedge (v, w) closes iff the oriented edge v→w exists — so
    * every triangle is found exactly once and per-node wedge work is
    * O(out-degree²), bounded by O(m^{3/2}) total regardless of hub
    * skew, where a naive neighbor-join is O(Σ deg²) and explodes on
    * hubs.
    *
    * Scale shape: canonical-edge dedup (one shuffle), degree
    * aggregation (one), the wedge self-join keys by wedge CENTER and
    * the close join by the (v, w) edge — all equi-joins on bounded
    * frames; duplicate and reversed input edges collapse, self-loops
    * drop. Deterministic set semantics, no floats — the oracle
    * replays orientation, wedges and closure with tuple comparisons.
    *
    * @return (node, n_triangles) for every node in ≥ 1 triangle. */
  def triangleCount(edges: DataFrame, srcCol: String, dstCol: String): DataFrame = {
    Materialize.scoped { s =>
      val und = s.cache(edges
        .select(col(srcCol).cast("long").as("x"), col(dstCol).cast("long").as("y"))
        .filter(col("x") =!= col("y"))
        .select(least(col("x"), col("y")).as("a"), greatest(col("x"), col("y")).as("b"))
        .distinct())
      val deg = und.select(col("a").as("node")).union(und.select(col("b")))
        .groupBy("node").agg(count(lit(1)).as("dg"))
      val keyed = und
        .join(deg.select(col("node").as("a"), col("dg").as("da")), "a")
        .join(deg.select(col("node").as("b"), col("dg").as("db")), "b")
      val ord = s.cache(keyed.select(
          when(struct(col("da"), col("a")) < struct(col("db"), col("b")), col("a"))
            .otherwise(col("b")).as("src"),
          when(struct(col("da"), col("a")) < struct(col("db"), col("b")), col("b"))
            .otherwise(col("a")).as("dst"),
          when(struct(col("da"), col("a")) < struct(col("db"), col("b")), col("db"))
            .otherwise(col("da")).as("kdg")))
      ord.count() // materialize; und no longer needed after this
      s.release(und)
      val x = ord.select(col("src").as("u"), col("dst").as("v"), col("kdg").as("kv"))
      val y = ord.select(col("src").as("u"), col("dst").as("w"), col("kdg").as("kw"))
      val wedges = x.join(y, Seq("u"))
        .filter(struct(col("kv"), col("v")) < struct(col("kw"), col("w")))
      val tris = wedges.join(
          ord.select(col("src").as("v"), col("dst").as("w")), Seq("v", "w"))
        .select(col("u"), col("v"), col("w"))
      Materialize.checkpoint(tris.select(col("u").as("node"))
        .unionByName(tris.select(col("v").as("node")))
        .unionByName(tris.select(col("w").as("node")))
        .groupBy("node").agg(count(lit(1)).as("n_triangles")))
    }
  }

  def pagerankPpm(edges: DataFrame, srcCol: String, dstCol: String,
                  iters: Int = 4, dampingPpm: Long = 850000L,
                  checkpointEvery: Int = 2,
                  redistributeDangling: Boolean = false): DataFrame = {
    require(iters >= 1 && dampingPpm >= 0 && dampingPpm <= 1000000L)
    Materialize.scoped { s =>
      val eRaw = s.cache(edges
        .select(col(srcCol).cast("long").as("src"), col(dstCol).cast("long").as("dst"))
        .distinct())
      val deg = eRaw.groupBy(col("src").as("node")).agg(count(lit(1)).as("deg"))
      val spineRaw = s.cache(eRaw.select(col("src").as("node"))
        .union(eRaw.select(col("dst")))
        .distinct()
        .join(deg, Seq("node"), "left"))
      val nNodes = spineRaw.count() // materializes the caches, sizes the pin
      val pin = nNodes > Dedup.BroadcastSafeCorpusRows
      // on the pinned (merge-join) path the edge list and spine re-cache
      // PRE-PARTITIONED AND SORTED on their join keys (the GraphX
      // routing-table discipline): an unpartitioned cache made every
      // iteration's sort-merge join RE-EXCHANGE the full O(E) frame —
      // the term that dominated the graph family's ×100 shuffle. With
      // the hash+order claims carried by the caches, iterations exchange
      // only the node-sized contribs frame plus the map-side-combined
      // per-dst sum. Below the pin the iterations broadcast contribs and
      // never exchange the cached frames at all, so the re-layout would
      // be pure overhead — the raw caches are kept as-is.
      val (e, spine) =
        if (pin) {
          val ep = s.cache(eRaw.repartition(col("src")).sortWithinPartitions("src"))
          val sp = s.cache(spineRaw.repartition(col("node")).sortWithinPartitions("node"))
          ep.count(); sp.count()
          s.release(eRaw); s.release(spineRaw)
          (ep, sp)
        } else (eRaw, spineRaw)
      val base = 1000000L - dampingPpm
      var ranks = spine.select(col("node"), col("deg"), lit(1000000L).as("r"))
      for (i <- 1 to iters) {
        val contribs = ranks.filter(col("deg").isNotNull)
          .select(col("node").as("src"), expr("r div deg").as("c"))
        val summed =
          (if (pin) e.hint("merge").join(contribs.hint("merge"), "src")
           else e.join(broadcast(contribs), "src"))
            .groupBy(col("dst").as("node"))
            .agg(sum(col("c")).as("s"))
        val joined = spine.join(summed, Seq("node"), "left")
        ranks =
          if (redistributeDangling) {
            // the standard dangling-mass term (VERDICT r15 next-round
            // #9): sink rank redistributes uniformly instead of
            // leaking — ONE 1-row aggregate per iteration (a narrow
            // filtered sum over the rank frame, broadcast as a
            // constant), truncating `div nNodes` so the trajectory
            // stays exact-integer and oracle-replayable
            val dang = ranks.filter(col("deg").isNull)
              .agg(coalesce(sum(col("r")), lit(0L)).as("dm"))
            joined.crossJoin(broadcast(dang))
              .select(col("node"), col("deg"),
                (lit(base) + expr(s"($dampingPpm * (coalesce(s, cast(0 as bigint))" +
                  s" + dm div ${nNodes}L)) div 1000000")).as("r"))
          } else {
            joined.select(col("node"), col("deg"),
              (lit(base) + expr(s"($dampingPpm * coalesce(s, cast(0 as bigint))) div 1000000"))
                .as("r"))
          }
        if (i % checkpointEvery == 0 && i < iters)
          ranks = s.checkpoint(ranks, eager = false)
      }
      Materialize.checkpoint(ranks
        .select(col("node"), coalesce(col("deg"), lit(0L)).as("out_degree"),
          col("r").as("rank_ppm")))
    }
  }
}
