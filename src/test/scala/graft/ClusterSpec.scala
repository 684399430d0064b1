package graft

import graft.operators.Cluster
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** kmeansInt8: the oracle-checked integer Lloyd's — determinism,
  * partition-layout independence, membership conservation, and the
  * exact-arithmetic contract on a hand-checkable fixture. */
class ClusterSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private def embTable(rows: Seq[(Long, Seq[Float])]) =
    rows.toDF("vec_id", "embedding")

  test("clusters partition the input and the surface is deterministic") {
    val emb = embTable((0L until 100L).map(i =>
      i -> Seq.tabulate(8)(j => ((i * 31 + j * 7) % 13 - 6).toFloat / 3f)))
    val r1 = Cluster.kmeansInt8(emb, "vec_id", "embedding", k = 4, iters = 2)
      .orderBy("cluster").collect()
    val r2 = Cluster.kmeansInt8(emb.repartition(7), "vec_id", "embedding", k = 4, iters = 2)
      .orderBy("cluster").collect()
    assert(r1.toSeq == r2.toSeq, "layout-independent")
    assert(r1.map(_.getLong(1)).sum == 100L, "every vector in exactly one cluster")
    assert(r1.map(_.getInt(0)).toSeq == (0 until 4), "all k clusters emitted")
  }

  test("two well-separated blobs recover their centers exactly") {
    // blob A around (+100,...), blob B around (-100,...): gscale =
    // 100/127 pushes quantized values to ~+-127; means are exact
    // integers the fingerprint pins
    val a = (0L until 20L).map(i => i -> Seq.fill(4)(100f))
    val b = (20L until 40L).map(i => i -> Seq.fill(4)(-100f))
    val out = Cluster.kmeansInt8(embTable(a ++ b), "vec_id", "embedding",
        k = 2, iters = 3).orderBy("cluster").collect()
    // init = vec_ids 0 and 1 (identical, both blob A): iteration 1
    // collapses everything into cluster 0 (ties break low) pulling c0
    // to the midpoint while c1 stays on A; iteration 2 separates (A
    // ties to the exact c1, B nearer the midpoint c0); by iteration 3
    // the centroids sit exactly on the blobs and inertia is 0
    assert(out.map(_.getLong(1)).sum == 40L)
    assert(out.map(_.getLong(2)).sum == 0L, "exact recovery => zero inertia")
  }

  test("join-path assignment (k > literalAssignMaxK) is bit-identical to the literal path") {
    // same corpus, same k: force the broadcast-join argmin by setting
    // the literal threshold to 0 and compare full trajectories — the
    // centroid sequence AND the final per-row (cid, dist) assignment
    val emb = embTable((0L until 120L).map(i =>
      i -> Seq.tabulate(6)(j => ((i * 17 + j * 11) % 19 - 9).toFloat / 4f)))
    val trLit = Cluster.trainInt8(emb, "vec_id", "embedding", k = 5, iters = 3)
    val trJoin = Cluster.trainInt8(emb, "vec_id", "embedding", k = 5, iters = 3,
      literalAssignMaxK = 0)
    val (aLit, cLit) = (trLit.assigned, trLit.centroids)
    val (aJoin, cJoin) = (trJoin.assigned, trJoin.centroids)
    assert(cLit == cJoin, "post-update centroids identical across assignment paths")
    val lit = aLit.select("id", "cid", "dist").orderBy("id").collect().toSeq
    val join = aJoin.select("id", "cid", "dist").orderBy("id").collect().toSeq
    assert(lit == join, "per-row assignment identical across assignment paths")
  }

  test("a null vector or a null element fails fast on both assignment paths") {
    // without the grid's refusal the literal path put such a vector in
    // cell 0 with a null dist and the join path gave it a null cid
    val ok = (0L until 20L).map(i =>
      i -> Option(Seq.tabulate(4)(j => Option(((i * 3 + j) % 7 - 3).toFloat))))
    for (bad <- Seq(None, Some(Seq(Some(1f), None, Some(2f), Some(0f))));
         seam <- Seq(Cluster.LiteralAssignMaxK, 0)) {
      val emb = (ok :+ (20L -> bad)).toDF("vec_id", "embedding")
      val e = intercept[IllegalArgumentException] {
        Cluster.trainInt8(emb, "vec_id", "embedding", k = 3, iters = 2,
          literalAssignMaxK = seam)
      }
      assert(e.getMessage.contains("1 null vectors"), e.getMessage)
    }
  }

  test("kForCorpus derives the IVF nlist rule and refuses oversized k") {
    assert(Cluster.kForCorpus(500, 64) == 8)   // the oracle corpus: LIMIT 8
    assert(Cluster.kForCorpus(64, 64) == 1)
    assert(Cluster.kForCorpus(65, 64) == 2)
    assert(Cluster.kForCorpus(200000, 64) == 3125)  // x100 scale corpus
    val e = intercept[IllegalArgumentException] {
      Cluster.kForCorpus(10_000_000L, 64) // k would be 156250
    }
    assert(e.getMessage.contains("two-level blocking"))
    intercept[IllegalArgumentException](Cluster.kForCorpus(0, 64))
  }

  test("assignCells: flat regime is bit-identical to the derived-k path") {
    // below the ceiling assignCells must be EXACTLY the r9 path
    // (kForCorpus k + kmeansAssignInt8) — q_dedup_semantic's oracle
    // hash-pins that trajectory, so the auto-escalation wrapper may
    // not perturb it
    val emb = embTable((0L until 200L).map(i =>
      i -> Seq.tabulate(6)(j => ((i * 13 + j * 5) % 17 - 8).toFloat / 3f)))
    val viaCells = Cluster.assignCells(emb, "vec_id", "embedding", targetCellSize = 25)
      .orderBy("vec_id").collect().toSeq
    val direct = Cluster.kmeansAssignInt8(emb, "vec_id", "embedding",
        k = Cluster.kForCorpus(200, 25), iters = 2)
      .orderBy("vec_id").collect().toSeq
    assert(viaCells == direct)
  }

  test("assignCells escalates to two-level past the flat ceiling") {
    // force the escalation cheaply: maxK=8 with targetCellSize=4 over
    // 100 rows needs 25 cells > maxK, so the flat path would refuse —
    // assignCells must route to kmeansTwoLevel instead of throwing
    val emb = embTable((0L until 100L).map(i =>
      i -> Seq.tabulate(6)(j => ((i * 29 + j * 3) % 23 - 11).toFloat / 4f)))
    val out = Cluster.assignCells(emb, "vec_id", "embedding",
      targetCellSize = 4, maxK = 8)
    val rows = out.collect()
    assert(rows.length == 100, "every vector assigned exactly once")
    assert(rows.map(_.getLong(0)).distinct.length == 100)
    val cells = rows.groupBy(_.getLong(1)).map(_._2.length)
    assert(cells.sum == 100 && cells.max <= 4 * 8,
      s"cells stay bounded (max=${cells.max})")
  }

  test("two-level assignment is deterministic and layout-independent") {
    val emb = embTable((0L until 150L).map(i =>
      i -> Seq.tabulate(8)(j => ((i * 7 + j * 19) % 29 - 14).toFloat / 5f)))
    val r1 = Cluster.kmeansTwoLevel(emb, "vec_id", "embedding",
      targetCellSize = 8, maxK = 16).orderBy("vec_id").collect().toSeq
    val r2 = Cluster.kmeansTwoLevel(emb.repartition(13), "vec_id", "embedding",
      targetCellSize = 8, maxK = 16).orderBy("vec_id").collect().toSeq
    assert(r1 == r2, "same assignment regardless of input layout")
  }

  test("two-level blocking finds every exact-dup pair flat blocking finds") {
    // 150 seeded random base vectors, each with an exact duplicate:
    // duplicates quantize to the SAME grid point, and a deterministic
    // argmin sends identical q to identical cells — so BOTH blockings
    // must put every dup pair in one cell and embedCosine must emit
    // all 150 pairs. This is the blocking-quality parity contract:
    // the two-level path may reshape cells, but it cannot lose the
    // near-dup mass the flat path preserves.
    val rnd = new scala.util.Random(7)
    val base = (0L until 150L).map(i =>
      i -> Seq.fill(8)(rnd.nextFloat() * 2f - 1f))
    val dups = base.map { case (i, v) => (i + 1000L) -> v }
    val emb = embTable(base ++ dups)
    def pairsWith(blocks: org.apache.spark.sql.DataFrame): Set[(Long, Long)] =
      graft.operators.Dedup.embedCosine(
          emb.join(blocks, "vec_id"), "vec_id", "embedding",
          blockCol = "cluster", threshold = 0.999, maxBlock = 1000)
        .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    val truth = base.map { case (i, _) => (i, i + 1000L) }.toSet
    val flat = pairsWith(Cluster.assignCells(emb, "vec_id", "embedding",
      targetCellSize = 16))
    val two = pairsWith(Cluster.kmeansTwoLevel(emb, "vec_id", "embedding",
      targetCellSize = 16, maxK = 32))
    assert(truth.subsetOf(flat), s"flat blocking must keep all dup pairs (missing ${(truth -- flat).size})")
    assert(truth.subsetOf(two), s"two-level blocking must keep all dup pairs (missing ${(truth -- two).size})")
  }

  test("sampled coarse training preserves the fine-assignment invariants") {
    // the 400k certification runs with the xxhash64 sample gate ACTIVE
    // (coarseK x samplePerCoarse << n), a config the DuckDB oracle
    // cannot replay — this differential pins the same invariants where
    // a spec can see them, with sampling FORCED (samplePerCoarse=2):
    // layout-independent determinism, every row assigned once, bounded
    // cells, and exact-dup co-location (the blocking-recall contract)
    val rnd = new scala.util.Random(11)
    val base = (0L until 200L).map(i =>
      i -> Seq.fill(8)(rnd.nextFloat() * 2f - 1f))
    val dups = base.map { case (i, v) => (i + 1000L) -> v }
    val emb = embTable(base ++ dups)
    def run(df: org.apache.spark.sql.DataFrame) =
      Cluster.kmeansTwoLevel(df, "vec_id", "embedding",
        targetCellSize = 8, maxK = 16, samplePerCoarse = 2)
    val r1 = run(emb).orderBy("vec_id").collect().toSeq
    val r2 = run(emb.repartition(17)).orderBy("vec_id").collect().toSeq
    assert(r1 == r2, "sampled config must stay layout-independent")
    assert(r1.map(_.getLong(0)).distinct.size == 400, "every row exactly once")
    val cells = r1.groupBy(_.getLong(1)).map(_._2.size)
    assert(cells.max <= 8 * 16, s"cells stay bounded (max=${cells.max})")
    val cellOf = r1.map(r => r.getLong(0) -> r.getLong(1)).toMap
    base.foreach { case (i, _) =>
      assert(cellOf(i) == cellOf(i + 1000L),
        s"exact dup $i split across cells under sampled coarse training") }
  }

  test("empty cluster keeps its previous centroid and emits n=0") {
    // k=3 over two distinct points: one cluster can never win a vector
    val emb = embTable((0L until 10L).map(i =>
      i -> Seq.fill(4)(if (i % 2 == 0) 50f else -50f)))
    val out = Cluster.kmeansInt8(emb, "vec_id", "embedding", k = 3, iters = 2)
      .orderBy("cluster").collect()
    assert(out.length == 3)
    assert(out.map(_.getLong(1)).sum == 10L)
    assert(out.exists(_.getLong(1) == 0L), "an empty cluster still emits")
  }
}
