package graft

import graft.operators.Graph
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Graph.pagerankPpm semantics on hand-computed fixtures: the exact
  * fixed-point trajectory, dangling-leak semantics, duplicate-edge
  * collapse, and partition-layout independence. Corpus-level parity is
  * the q_pagerank unrolled-CTE oracle's job.
  */
class GraphSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private def ranks(edges: Seq[(Long, Long)], iters: Int): Map[Long, (Long, Long)] =
    Graph.pagerankPpm(edges.toDF("src", "dst"), "src", "dst", iters = iters)
      .as[(Long, Long, Long)].collect()
      .map(r => r._1 -> (r._2, r._3)).toMap

  test("symmetric 2-cycle is the exact fixed point") {
    // A<->B, deg 1 each: contrib = 1e6, r' = 150000 + 850000 = 1e6
    val got = ranks(Seq((1L, 2L), (2L, 1L)), iters = 3)
    assert(got == Map(1L -> ((1L, 1000000L)), 2L -> ((1L, 1000000L))))
  }

  test("symmetric 3-star: hand-unrolled exact trajectory") {
    // center 0 <-> leaves 1,2,3. deg(0)=3, deg(leaf)=1.
    // iter1: r(0) = 150000 + 850000*3e6 div 1e6             = 2700000
    //        r(L) = 150000 + 850000*(1e6 div 3) div 1e6     =  433333
    // iter2: r(0) = 150000 + 850000*(3*433333) div 1e6      = 1254999
    //        r(L) = 150000 + 850000*(2700000 div 3) div 1e6 =  915000
    val star = Seq(0L -> 1L, 0L -> 2L, 0L -> 3L, 1L -> 0L, 2L -> 0L, 3L -> 0L)
    val r1 = ranks(star, iters = 1)
    assert(r1(0L) == ((3L, 2700000L)))
    Seq(1L, 2L, 3L).foreach(l => assert(r1(l) == ((1L, 433333L))))
    val r2 = ranks(star, iters = 2)
    assert(r2(0L) == ((3L, 1254999L)))
    Seq(1L, 2L, 3L).foreach(l => assert(r2(l) == ((1L, 915000L))))
    // total mass stays ~N*1e6 (truncation leaks only ppm crumbs)
    val total = r2.values.map(_._2).sum
    assert(total <= 4000000L && total > 3999000L)
  }

  test("dangling sink absorbs rank and emits none; sources settle at base") {
    // 1 -> 2 -> 3 (3 dangling). deg: 1->1, 2->1, 3->none.
    val got = ranks(Seq(1L -> 2L, 2L -> 3L), iters = 4)
    assert(got(3L)._1 == 0L, "sink has out-degree 0")
    // node 1 has no in-edges: settles at base after iter 1
    assert(got(1L)._2 == 150000L)
    // rank flows 1->2->3 but never back out of 3 (leak semantics)
    assert(got(2L)._2 > 150000L && got(3L)._2 > got(2L)._2)
  }

  private def ranksRedist(edges: Seq[(Long, Long)], iters: Int): Map[Long, (Long, Long)] =
    Graph.pagerankPpm(edges.toDF("src", "dst"), "src", "dst", iters = iters,
        redistributeDangling = true)
      .as[(Long, Long, Long)].collect()
      .map(r => r._1 -> (r._2, r._3)).toMap

  test("dangling redistribution: hand-unrolled trajectory conserves mass") {
    // 1 -> 2 -> 3 (3 dangling), N = 3, d = 850000 ppm.
    // iter1: dm = r0(3) = 1e6, share = dm div 3 = 333333
    //  r(1) = 150000 + 850000*(0    + 333333) div 1e6 = 433333
    //  r(2) = 150000 + 850000*(1e6  + 333333) div 1e6 = 1283333
    //  r(3) = 150000 + 850000*(1e6  + 333333) div 1e6 = 1283333
    // iter2: dm = 1283333, share = 427777
    //  r(1) = 150000 + 850000*427777 div 1e6            = 513610
    //  r(2) = 150000 + 850000*(433333 + 427777) div 1e6 = 881943
    //  r(3) = 150000 + 850000*(1283333 + 427777) div 1e6 = 1604443
    val chain = Seq(1L -> 2L, 2L -> 3L)
    val r1 = ranksRedist(chain, iters = 1)
    assert(r1 == Map(1L -> ((1L, 433333L)), 2L -> ((1L, 1283333L)),
      3L -> ((0L, 1283333L))), s"iter1: $r1")
    val r2 = ranksRedist(chain, iters = 2)
    assert(r2 == Map(1L -> ((1L, 513610L)), 2L -> ((1L, 881943L)),
      3L -> ((0L, 1604443L))), s"iter2: $r2")
    // vs the leak default: the same chain loses the sink's emission
    // entirely, so total redistributed mass strictly exceeds it
    val leak = ranks(chain, iters = 2)
    assert(r2.values.map(_._2).sum > leak.values.map(_._2).sum)
    // mass conservation up to ppm truncation crumbs: total stays near
    // N·1e6 under redistribution (the leak variant drains toward base)
    val total = r2.values.map(_._2).sum
    assert(total > 2990000L && total <= 3000000L, s"total=$total")
  }

  test("redistribution on a graph with no dangling nodes equals the default") {
    val star = Seq(0L -> 1L, 0L -> 2L, 0L -> 3L, 1L -> 0L, 2L -> 0L, 3L -> 0L)
    assert(ranksRedist(star, iters = 3) == ranks(star, iters = 3))
  }

  test("duplicate edges collapse; layout does not change ranks") {
    val star = Seq(0L -> 1L, 0L -> 2L, 0L -> 3L, 1L -> 0L, 2L -> 0L, 3L -> 0L)
    val dup = star ++ star ++ star
    assert(ranks(dup, iters = 2) == ranks(star, iters = 2))
    val a = Graph.pagerankPpm(star.toDF("src", "dst").repartition(7, col("dst")),
      "src", "dst", iters = 2).as[(Long, Long, Long)].collect().sortBy(_._1).toSeq
    val b = Graph.pagerankPpm(star.toDF("src", "dst").coalesce(1),
      "src", "dst", iters = 2).as[(Long, Long, Long)].collect().sortBy(_._1).toSeq
    assert(a == b)
  }

  private def bfs(edges: Seq[(Long, Long)], seeds: Seq[Long],
                  maxHops: Int): Map[Long, Int] =
    Graph.bfsHops(edges.toDF("src", "dst"), "src", "dst",
        seeds.toDF("node"), maxHops)
      .as[(Long, Int)].collect().toMap

  test("bfsHops: chain distances, hop cap, unreachable absent") {
    // 1 -> 2 -> 3 -> 4 (directed); 5 -> 6 is a separate component
    val chain = Seq(1L -> 2L, 2L -> 3L, 3L -> 4L, 5L -> 6L)
    assert(bfs(chain, Seq(1L), maxHops = 4) ==
      Map(1L -> 0, 2L -> 1, 3L -> 2, 4L -> 3))
    // the cap truncates the frontier, it does not relabel
    assert(bfs(chain, Seq(1L), maxHops = 2) == Map(1L -> 0, 2L -> 1, 3L -> 2))
    // direction matters: seeding the sink reaches nothing upstream
    assert(bfs(chain, Seq(4L), maxHops = 4) == Map(4L -> 0))
  }

  test("bfsHops: multi-source takes the MINIMUM distance per node") {
    val chain = Seq(1L -> 2L, 2L -> 3L, 3L -> 4L, 4L -> 5L)
    // node 3 is 2 hops from seed 1 but becomes hop-1 from seed 2;
    // node 5 is hop-1 from seed 4
    assert(bfs(chain, Seq(1L, 4L), maxHops = 4) ==
      Map(1L -> 0, 4L -> 0, 2L -> 1, 5L -> 1, 3L -> 2))
    // a seed already reached stays at 0 — first settle wins
    assert(bfs(chain, Seq(1L, 2L), maxHops = 4)(2L) == 0)
  }

  private def hits(edges: Seq[(Long, Long)], iters: Int): Map[Long, (Long, Long)] =
    Graph.hitsPpm(edges.toDF("src", "dst"), "src", "dst", iters = iters)
      .as[(Long, Long, Long)].collect()
      .map(r => r._1 -> (r._2, r._3)).toMap

  test("hitsPpm: hand-unrolled bipartite trajectory") {
    // 1 -> 10, 2 -> 10, 2 -> 11
    // iter1: a_raw(10)=2e6, a_raw(11)=1e6, max 2e6
    //        a: 10=1e6, 11=500000
    //        h_raw(1)=1e6, h_raw(2)=1.5e6, max 1.5e6
    //        h: 1=666666, 2=1e6
    // iter2: a_raw(10)=1666666, a_raw(11)=1e6, max 1666666
    //        a: 10=1e6, 11=600000
    //        h_raw(1)=1e6, h_raw(2)=1.6e6 -> h: 1=625000, 2=1e6
    val g = Seq(1L -> 10L, 2L -> 10L, 2L -> 11L)
    val r1 = hits(g, iters = 1)
    assert(r1 == Map(1L -> ((666666L, 0L)), 2L -> ((1000000L, 0L)),
      10L -> ((0L, 1000000L)), 11L -> ((0L, 500000L))), s"iter1: $r1")
    val r2 = hits(g, iters = 2)
    assert(r2(1L) == ((625000L, 0L)) && r2(2L) == ((1000000L, 0L)))
    assert(r2(10L) == ((0L, 1000000L)) && r2(11L) == ((0L, 600000L)))
  }

  private def tris(edges: Seq[(Long, Long)]): Map[Long, Long] =
    Graph.triangleCount(edges.toDF("src", "dst"), "src", "dst")
      .as[(Long, Long)].collect().toMap

  test("triangleCount: triangle, square, and K4 land on exact counts") {
    // one triangle: every node counts it once
    assert(tris(Seq(1L -> 2L, 2L -> 3L, 3L -> 1L)) ==
      Map(1L -> 1L, 2L -> 1L, 3L -> 1L))
    // a 4-cycle has NO triangles -> empty result
    assert(tris(Seq(1L -> 2L, 2L -> 3L, 3L -> 4L, 4L -> 1L)).isEmpty)
    // K4 has 4 triangles; each node sits in C(3,2) = 3 of them
    val k4 = for { a <- 1L to 4L; b <- (a + 1) to 4L } yield a -> b
    val got = tris(k4)
    assert(got == Map(1L -> 3L, 2L -> 3L, 3L -> 3L, 4L -> 3L))
    assert(got.values.sum == 12L) // 4 triangles x 3 corners
  }

  test("triangleCount: reversed/duplicate edges and self-loops collapse") {
    val t = Seq(1L -> 2L, 2L -> 3L, 3L -> 1L)
    val noisy = t ++ t.map(_.swap) ++ t ++ Seq(1L -> 1L, 2L -> 2L)
    assert(tris(noisy) == tris(t))
  }

  test("hitsPpm: duplicate edges collapse; pure-sink/source zeros") {
    val g = Seq(1L -> 10L, 2L -> 10L, 2L -> 11L)
    assert(hits(g ++ g, iters = 2) == hits(g, iters = 2))
    // customers (sources) carry zero authority; suppliers zero hub
    val r = hits(g, iters = 3)
    assert(r(1L)._2 == 0L && r(10L)._1 == 0L)
  }

  test("hitsPpm: a null endpoint names no node and adds nothing") {
    // the null dst's sum (2·10⁶) would be the max if it were a node;
    // 2 and 3 are nodes only through their null-partnered edges
    val g = Seq((Some(1L), Some(10L)), (Some(2L), None), (Some(3L), None), (None, Some(10L)))
    val r = Graph.hitsPpm(g.toDF("src", "dst"), "src", "dst", iters = 2)
      .as[(Option[Long], Long, Long)].collect()
    assert(r.toSet == Set((Some(1L), 1000000L, 0L), (Some(2L), 0L, 0L), (Some(3L), 0L, 0L),
      (Some(10L), 0L, 1000000L)))
  }

  test("pagerankPpm: a null endpoint names no node, in both variants") {
    // 1 -> 2 and 1 -> null: the null edge still counts in deg(1), so
    // half of 1's rank leaks; 2 is dangling; the null-src edge adds
    // nothing. iters = 1 over N = 2 nodes:
    //  default:      r(1) = 150000 (no in-edges)
    //                r(2) = 150000 + 850000*(1e6 div 2) div 1e6 = 575000
    //  redistribute: share = r0(2) div 2 = 500000
    //                r(1) = 150000 + 850000*500000 div 1e6 = 575000
    //                r(2) = 150000 + 850000*(500000 + 500000) div 1e6 = 1000000
    val g = Seq((Some(1L), Some(2L)), (Some(1L), None), (None, Some(2L))).toDF("src", "dst")
    def run(redistribute: Boolean) = Graph.pagerankPpm(g, "src", "dst", iters = 1,
        redistributeDangling = redistribute)
      .as[(Option[Long], Long, Long)].collect().toSet
    assert(run(false) == Set((Some(1L), 2L, 150000L), (Some(2L), 0L, 575000L)))
    assert(run(true) == Set((Some(1L), 2L, 575000L), (Some(2L), 0L, 1000000L)))
  }

  test("pinned path (> broadcast-safe nodes): ring fixed point is exact") {
    // past Dedup.BroadcastSafeCorpusRows both operators re-cache the
    // edge list pre-partitioned+sorted (the routing-table layout) and
    // take the merge-join path — this drives THAT branch, which the
    // hand fixtures above cannot reach. On a directed ring every node
    // has in/out degree 1, so the exact-integer trajectory is a fixed
    // point: pagerank r = 150000 + 850000·(1e6 div 1) div 1e6 = 1e6
    // and HITS a = h = 1e6 under max-normalization — any drift (a
    // mis-claimed hash layout mis-joining, a lost edge in the
    // re-partition) breaks exactness loudly.
    val n = graft.operators.Dedup.BroadcastSafeCorpusRows + 100
    val ring = spark.range(n).select(col("id").as("src"),
      ((col("id") + 1) % n).as("dst"))
    val pr = Graph.pagerankPpm(ring, "src", "dst", iters = 2)
      .agg(count(lit(1)), min("rank_ppm"), max("rank_ppm"), min("out_degree"), max("out_degree"))
      .as[(Long, Long, Long, Long, Long)].first()
    assert(pr == ((n, 1000000L, 1000000L, 1L, 1L)))
    val ht = Graph.hitsPpm(ring, "src", "dst", iters = 1)
      .agg(count(lit(1)), min("hub_ppm"), max("hub_ppm"), min("auth_ppm"), max("auth_ppm"))
      .as[(Long, Long, Long, Long, Long)].first()
    assert(ht == ((n, 1000000L, 1000000L, 1000000L, 1000000L)))
  }
}
