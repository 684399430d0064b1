package graft.operators

import graft.Materialize
import graft.functions.VectorFunctions
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Similarity search over an embedding column (Array[Float]).
  *
  * Five top-k searches and one bitext miner, each with its own
  * candidate generator: brute force (broadcast cross join), quantized
  * (int8 cross join, exact integer score), IVF (ML KMeans cells),
  * int8 IVF (bit-deterministic k-means cells), LSH (random-hyperplane
  * buckets) and bitext (int8 cells or all pairs). Three private
  * pieces do the rest:
  *  - [[side]], the one side step: (id, vector, norm) selected once
  *    per VECTOR, for the corpus side and for the query side, so no
  *    pair re-derives a norm;
  *  - [[cosine]], the one cosine: one native FloatVecDot per pair over
  *    the two norms, 0 for a zero vector. Every float path runs the
  *    same IEEE operations in the same order, so brute force, IVF, LSH
  *    and bitext cosines agree bit for bit;
  *  - [[topK]], the one rank-and-cut step every search ends in: drop
  *    self-matches, rank each query's candidates by (score desc,
  *    id asc), keep rk <= k, emit (query_id, neighbor_id, score, rk).
  */
object Similarity {

  /** One side of a search: `extra` columns, then `id`, the vector as
    * `v` and its L2 norm as `n` — the norm computed once per vector. */
  private def side(df: DataFrame, id: Column, vecCol: String, v: String, n: String,
                   extra: Column*): DataFrame =
    df.select(extra ++ Seq(id, col(vecCol).as(v), VectorFunctions.vecNorm(col(vecCol)).as(n)): _*)

  /** Cosine of vector columns `a` and `b` from their norms `an` and
    * `bn`; 0 when either vector is zero. */
  private def cosine(a: String, an: String, b: String, bn: String): Column =
    when(col(an) === 0 || col(bn) === 0, lit(0.0))
      .otherwise(VectorFunctions.vecDot(col(a), col(b)) / (col(an) * col(bn)))

  /** Rank each query's rows by `order` as `rk` and keep rk <= k. */
  private def firstK(df: DataFrame, k: Int, order: Column*): DataFrame =
    df.withColumn("rk", row_number().over(Window.partitionBy(col("query_id")).orderBy(order: _*)))
      .filter(col("rk") <= k)

  /** The step every search ends in: drop self-matches, keep each
    * query's k best `score`s (ties by `id` ascending) and emit
    * (query_id, neighbor_id, round(score, 6) as `out`, rk). */
  private def topK(scored: DataFrame, k: Int, id: String, score: String,
                   out: String): DataFrame =
    firstK(scored.filter(col("query_id") =!= col(id)), k, col(score).desc, col(id).asc)
      .select(col("query_id"), col(id).as("neighbor_id"), round(col(score), 6).as(out), col("rk"))

  /** Exact top-k cosine neighbors for each query vector. `queries`
    * must be small (it is broadcast). Excludes self-matches. */
  def bruteForceTopK(corpus: DataFrame, queries: DataFrame, k: Int,
                     idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val c = side(corpus, col(idCol), vecCol, "__cv", "__cn")
    val q = side(queries, col(idCol).as("query_id"), vecCol, "__qv", "__qn")
    topK(c.crossJoin(broadcast(q)).withColumn("cosine", cosine("__qv", "__qn", "__cv", "__cn")),
      k, idCol, "cosine", "cosine")
  }

  /** Quantized top-k by approximate dot product: int8-quantize corpus
    * and queries (VectorFunctions.quantizeInt8), score with the EXACT
    * integer dot (native LongVecDot) rescaled by the two per-vector
    * scales, rank (score DESC, id). The candidate payload is 4x
    * smaller than float32 and the hot loop is integer multiply-add —
    * the memory-bound regime a 100 TB ANN sweep lives in. Scores are
    * approximate (quantization error) but the ARITHMETIC is exact, so
    * rankings are bit-reproducible on any engine — unlike float
    * accumulation, an independent implementation (or the DuckDB
    * oracle) reproduces them integer-for-integer. */
  def quantizedTopK(corpus: DataFrame, queries: DataFrame, k: Int,
                    idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    def quantize(df: DataFrame, id: Column, idName: String, s: String, q: String) = df
      .select(id.as(idName), col(vecCol).as("__v"))
      .withColumn(s, VectorFunctions.int8Scale(col("__v")))
      .select(col(idName), col(s), VectorFunctions.quantizeInt8(col("__v"), col(s)).as(q))
    val c = quantize(corpus, col(idCol), idCol, "__cs", "__cq")
    val q = quantize(queries, col(idCol), "query_id", "__qs", "__qq")
    val scored = c.crossJoin(broadcast(q))
      .withColumn("__score",
        VectorFunctions.vecDotLong(col("__cq"), col("__qq")).cast("double") *
          col("__cs") * col("__qs"))
    topK(scored, k, idCol, "__score", "qscore")
  }

  /** Deterministic pseudo-random hyperplane `p` (seeded PRNG — stable
    * across runs and JVMs). */
  private def planeVec(p: Int, dim: Int): Array[Float] = {
    val rnd = new scala.util.Random(0x5DEECE66DL * (p + 1) + 11L)
    Array.fill(dim)(rnd.nextFloat() * 2f - 1f)
  }

  /** Multi-table random-hyperplane LSH: `tables` independent bucket
    * ids, each from `planes` sign bits (sign = native dot against a
    * literal plane vector — codegen'd, no per-element lambdas).
    * Output rows are exploded per table — (table, bucket) is the
    * shuffle key at scale. */
  def withLshBuckets(df: DataFrame, vecCol: String, tables: Int, planes: Int,
                     dim: Int): DataFrame = {
    // planes = 0 degenerates to ONE bucket per table (every sign-bit
    // term absent → bucket 0): candidates become all pairs, i.e.
    // exact brute force — the lever the q_ann_lsh_verify oracle twin
    // uses to check the bucketing/join/top-k machinery hash-exactly.
    val bucketForTable = (t: Int) =>
      (0 until planes).map { b =>
        val plane = typedlit(planeVec(t * planes + b, dim))
        when(VectorFunctions.vecDot(col(vecCol), plane) > 0, lit(1L << b)).otherwise(lit(0L))
      }.foldLeft(lit(0L))(_ + _)
    df.withColumn("lsh", explode(array((0 until tables).map(t =>
        struct(lit(t).as("tbl"), bucketForTable(t).as("bucket"))): _*)))
      .select(df.columns.map(col) :+ col("lsh.tbl") :+ col("lsh.bucket"): _*)
  }

  /** IVF (inverted-file) ANN: corpus is clustered into `nlist`
    * KMeans cells; a query probes only its `nprobe` nearest
    * centroids' cells and brute-forces within them. The classic
    * scale path when recall must be tunable independently of hash
    * luck: cells shuffle once by cell id, centroids broadcast.
    * Deterministic for a fixed seed. */
  def ivfTopK(corpus: DataFrame, queries: DataFrame, k: Int,
              nlist: Int = 16, nprobe: Int = 2, seed: Long = 42L,
              idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    import org.apache.spark.ml.clustering.KMeans
    import org.apache.spark.ml.functions.array_to_vector

    val fc = side(corpus, col(idCol), vecCol, "__cv", "__cn")
      .withColumn("__features", array_to_vector(col("__cv").cast("array<double>")))
    val model = new KMeans().setK(nlist).setSeed(seed).setMaxIter(5)
      .setFeaturesCol("__features").setPredictionCol("__cell")
      .fit(fc)
    val cells = model.transform(fc).drop("__features")

    // nprobe nearest centroids per query (centroids are tiny: local
    // math). Nearness must match the assignment metric (Euclidean):
    // argmin ||q-c||^2 = argmax(dot(q,c) - ||c||^2/2), so rank by that
    // score — probing by raw dot product would skip the right cells
    // whenever centroid norms differ.
    val centroids = model.clusterCenters.map(_.toArray.map(_.toFloat)).zipWithIndex
    val q = side(queries, col(idCol).as("query_id"), vecCol, "__qv", "__qn")
    val probed = q.withColumn("__cell", explode({
      val dists = centroids.map { case (cv, ci) =>
        val cNorm2 = cv.map(x => x.toDouble * x.toDouble).sum
        struct((VectorFunctions.vecDot(col("__qv"), typedlit(cv)) - lit(cNorm2 / 2.0))
          .multiply(-1).as("negscore"), lit(ci).as("cell"))
      }
      slice(array_sort(array(dists: _*)), 1, nprobe).getField("cell")
    }))

    val cand = cells.join(broadcast(probed), Seq("__cell"))
      .dropDuplicates("query_id", idCol)
      .withColumn("cosine", cosine("__qv", "__qn", "__cv", "__cn"))
    topK(cand, k, idCol, "cosine", "cosine")
  }

  /** IVF ANN over the engine's own BIT-DETERMINISTIC int8 k-means
    * ([[Cluster.trainInt8]]) instead of ML KMeans — same cell routing
    * as [[ivfTopK]], but because the cell training is an exact
    * integer trajectory the WHOLE approximate path (cells, probe
    * ranking, candidate set, top-k) is a pure function of the data
    * that an oracle can replay: this is what lets q_ann_recall put an
    * oracle-checked recall@k number on a production nprobe < nlist
    * config, where the seed-dependent ML-KMeans variant can only ever
    * be rows-only.
    *
    * Probing ranks the ASSIGNMENT centroids (the pre-update set that
    * defined the cells, [[Cluster.Trained.assignCentroids]]) by exact
    * integer L2 with the same (dist, cid) tie-break as assignment —
    * probing the post-update set would skip the right cells near cell
    * boundaries. Queries must be rows of the corpus (selected by
    * `queryFilter`): the shared global int8 grid is what makes query
    * and centroid distances comparable.
    *
    * Scale shape: cells shuffle once by id for the vector fetch; the
    * probe table (queries × nprobe) and query vectors broadcast; the
    * candidate fan-out is |probed cells| × cell size, never all
    * pairs. Size nlist with [[Cluster.kForCorpus]]. Recall and probe
    * cost vs nprobe at 64k and 400k vectors: SCALE_r14
    * `ivf_recall_curve_x32` / `ivf_recall_curve_x200`.
    *
    * Probe paths (the [[Cluster.LiteralAssignMaxK]] discipline —
    * the centroid-scoring expression tree is nlist × dim nodes, a
    * codegen bomb past a few dozen centroids, exactly what
    * Cluster.assignJoin exists to avoid):
    *  - nlist <= LiteralAssignMaxK: centroid LITERALS, one codegen'd
    *    sort of nlist scored structs per query row — zero extra
    *    shuffle;
    *  - larger nlist: explode nlist cids per QUERY row (queries are
    *    few — the fan-out is |queries| × nlist, never corpus-sized),
    *    broadcast-join the nlist-row centroid table, exact integer
    *    dist = aa - 2ab + bb via the native LongVecDot, rank per
    *    query with the same (dist, cid) ascending tie-break.
    * Both paths produce the identical probe set (SimilaritySpec
    * proves it via the `literalProbeMaxK` seam). */
  def ivfInt8TopK(corpus: DataFrame, queryFilter: Column, k: Int,
                  nlist: Int = 8, iters: Int = 2, nprobe: Int = 2,
                  idCol: String = "vec_id", vecCol: String = "embedding",
                  literalProbeMaxK: Int = Cluster.LiteralAssignMaxK): DataFrame = {
    val tr = Cluster.trainInt8(corpus, idCol, vecCol, nlist, iters)
    val cells = tr.assigned // (id, q, cid, dist)
    // the probe set — (query_id, cid), each query's `nprobe` nearest
    // assignment cells. Query rows' quantized vectors come from the
    // same assignment frame — same grid, no re-quantization drift
    val qids = corpus.filter(queryFilter)
      .select(col(idCol).cast("long").as("id"))
    val qq = cells.join(broadcast(qids), Seq("id"))
      .select(col("id").as("query_id"), col("q"))
    val probed =
      if (tr.assignCentroids.size <= literalProbeMaxK) {
        // the SAME scored-struct builder as Cluster.assignLiteral —
        // one definition keeps probe and assignment bit-identical
        val scoredCells = Cluster.scoredCellStructs(tr.assignCentroids)
        qq.withColumn("__p", slice(array_sort(scoredCells), 1, nprobe))
          .select(col("query_id"), explode(col("__p").getField("cid")).as("cid"))
      } else {
        // the SAME pairs and distance as Cluster.assignJoin
        val dists = Cluster.cellPairs(qq, tr.assignCentroids)
          .select(col("query_id"), col("cid"), Cluster.cellDist.as("__dist"))
        firstK(dists, nprobe, col("__dist").asc, col("cid").asc)
          .select(col("query_id"), col("cid"))
      }
    val corpusVec = side(corpus, col(idCol).cast("long").as("id"), vecCol, "__cv", "__cn")
    val qVec = side(corpus.filter(queryFilter), col(idCol).cast("long").as("query_id"),
      vecCol, "__qv", "__qn")
    val cand = cells.select(col("id"), col("cid"))
      .join(broadcast(probed), Seq("cid"))
      .join(corpusVec, Seq("id"))
      .join(broadcast(qVec), Seq("query_id"))
      .withColumn("cosine", cosine("__qv", "__qn", "__cv", "__cn"))
    topK(cand, k, "id", "cosine", "cosine")
  }

  /** Multi-table LSH ANN: a query's candidates are the union of its
    * buckets across all tables (dedup'd), then exact cosine top-k on
    * the candidates. More tables → higher recall; more planes →
    * smaller buckets. At corpus scale the join shuffles by
    * (table, bucket) — never all-pairs. */
  def lshTopK(corpus: DataFrame, queries: DataFrame, k: Int,
              tables: Int = 8, planes: Int = 4, dim: Int = 64,
              idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val cb = withLshBuckets(side(corpus, col(idCol), vecCol, "__cv", "__cn"),
      "__cv", tables, planes, dim)
    val qb = withLshBuckets(side(queries, col(idCol).as("query_id"), vecCol, "__qv", "__qn"),
      "__qv", tables, planes, dim)
    val cand = cb.join(broadcast(qb), Seq("tbl", "bucket"))
      .dropDuplicates("query_id", idCol)
      .withColumn("cosine", cosine("__qv", "__qn", "__cv", "__cn"))
    topK(cand, k, idCol, "cosine", "cosine")
  }

  /** Margin-based bitext mining (the Artetxe & Schwenk ratio margin —
    * the standard recipe for mining parallel sentence pairs out of two
    * monolingual embedding spaces, the step that produces translation
    * training data at corpus scale).
    *
    * A pair (x, y) survives iff each side is the other's BEST margin
    * partner (mutual top-1) and the margin clears `minMarginPpm`:
    *
    *   margin(x,y) = cos(x,y) / ((avgₖ(x) + avgₖ(y)) / 2)
    *
    * where avgₖ(s) is the mean cosine of s's k nearest cross-side
    * CANDIDATES — the margin denominator is the "how dense is your
    * neighborhood" correction that plain cosine thresholds lack
    * (hubness: some vectors are close to everything).
    *
    * Candidates are SAME-CELL cross-side pairs under the shared
    * bit-deterministic int8 k-means ([[Cluster.trainInt8]] — the
    * q_dedup_semantic blocking discipline): never all-pairs, and the
    * whole pipeline — Lloyd trajectory, candidate set, kNN lists,
    * margins, mutual filter — is a pure function of the data that a
    * DuckDB oracle replays exactly. Margin arithmetic is integer after
    * one float→ppb floor per pair (floor(cos·10⁹) — IEEE-exact on both
    * engines): per-side sums of top-k ppb values are order-independent
    * longs, truncating `div` keeps ties engine-identical.
    *
    * Scale shape: one cell-keyed shuffle builds candidates (cells from
    * the broadcast-literal centroid assignment), then two window
    * re-keys (x side, y side) + two bounded aggregate joins — every
    * frame is O(candidates), candidates are cell-bounded. Sides are
    * fixed by `sideExpr` (true = X/source side).
    *
    * @param allPairs true = NO blocking: every cross-side pair is a
    *        candidate — the brute-forced TRUTH leg of the blocking-
    *        recall certification (q_bitext_recall). O(|X|·|Y|): only
    *        for a bounded certification universe, never production —
    *        the y side is broadcast whole, so past
    *        [[Dedup.BroadcastSafeCorpusRows]] y rows this throws
    *        before any pair is formed.
    * @return (x_id, y_id, cos_ppb, margin_ppm) for mutual-best pairs
    *         with margin ≥ minMarginPpm, one row per surviving pair. */
  def bitextMarginMine(corpus: DataFrame, sideExpr: Column,
                       k: Int = 4, minMarginPpm: Long = 1000000L,
                       nlist: Int = 0, iters: Int = 2,
                       idCol: String = "vec_id", vecCol: String = "embedding",
                       allPairs: Boolean = false): DataFrame = {
    require(k >= 1 && minMarginPpm >= 0)
    if (allPairs) {
      val nY = corpus.filter(!sideExpr).count()
      require(nY <= Dedup.BroadcastSafeCorpusRows,
        s"bitextMarginMine(allPairs = true) broadcasts its whole y side: $nY rows > " +
          s"Dedup.BroadcastSafeCorpusRows = ${Dedup.BroadcastSafeCorpusRows} (allPairs is " +
          "the certification-scale truth leg only)")
    }
    // nlist = 0 derives cell count by the IVF rule (cells stay ~64
    // rows at every corpus size — the assignCells discipline, which
    // also auto-escalates to two-level k-means past the flat ceiling
    // (~262k vectors), exactly like q_dedup_semantic's blocking; a
    // fixed nlist would let candidate blocks grow with the data)
    val cells =
      if (allPairs)
        corpus.select(col(idCol).cast("long").as("id"), lit(0).as("cid"))
      else if (nlist > 0)
        Cluster.trainInt8(corpus, idCol, vecCol, nlist, iters)
          .assigned.select(col("id"), col("cid"))
      else
        Cluster.assignCells(corpus, idCol, vecCol, targetCellSize = 64, iters = iters)
          .select(col(idCol).cast("long").as("id"), col("cluster").as("cid"))
    val vecs = corpus.select(col(idCol).cast("long").as("id"),
      col(vecCol).as("__v"), sideExpr.as("__x"))
    val sided = cells.join(vecs, "id")
    val xs = side(sided.filter(col("__x")), col("id").as("x_id"), "__v", "__xv", "__xn", col("cid"))
    val ys = side(sided.filter(!col("__x")), col("id").as("y_id"), "__v", "__yv", "__yn", col("cid"))
    // allPairs joins every x to every y through the ONE literal cell —
    // a single-task join (the 1M-pair cosine grind ran serially on one
    // core, measured 10.4 s of the r18 baseline bench). Spread the
    // probe side across the session's parallelism with an EXPLICIT
    // partition count (AQE would coalesce the tiny-by-bytes partitions
    // right back — the per-pair CPU is invisible to byte-based
    // coalescing) and broadcast the bounded certification side
    // (guide §2.5: a single enormous key is skew AQE cannot split).
    val joined =
      if (allPairs) {
        val p = math.max(1, corpus.sparkSession.sparkContext.defaultParallelism)
        xs.repartition(p, col("x_id")).join(broadcast(ys), "cid")
      } else xs.join(ys, "cid")
    Materialize.scoped { s =>
      val pairs = s.cache(joined
        .withColumn("cos_ppb",
          floor(cosine("__xv", "__xn", "__yv", "__yn") * 1e9).cast("long"))
        // negative-cosine candidates are never translations; dropping
        // them here also keeps EVERY div operand nonnegative, where
        // Spark's truncating `div` and DuckDB's flooring `//` agree
        .filter(col("cos_ppb") >= 0)
        .select(col("x_id"), col("y_id"), col("cos_ppb")))
      // per-side kNN means over the candidate set, kept as exact longs:
      // sum of the top-k ppb cosines (order-independent), truncated avg
      def kAvg(of: String, other: String, out: String) = {
        val w = Window.partitionBy(col(of))
          .orderBy(col("cos_ppb").desc, col(other).asc)
        pairs.withColumn("__rk", row_number().over(w))
          .filter(col("__rk") <= k)
          .groupBy(col(of))
          .agg(expr(s"sum(cos_ppb) div count(*)").as(out))
      }
      val ax = kAvg("x_id", "y_id", "__ax")
      val ay = kAvg("y_id", "x_id", "__ay")
      val margined = pairs.join(ax, "x_id").join(ay, "y_id")
        .filter(col("__ax") + col("__ay") > 0)
        .withColumn("margin_ppm",
          expr("(cos_ppb * 2000000) div (__ax + __ay)"))
      val bx = Window.partitionBy(col("x_id"))
        .orderBy(col("margin_ppm").desc, col("y_id").asc)
      val by = Window.partitionBy(col("y_id"))
        .orderBy(col("margin_ppm").desc, col("x_id").asc)
      Materialize.checkpoint(margined
        .withColumn("__bx", row_number().over(bx))
        .withColumn("__by", row_number().over(by))
        .filter(col("__bx") === 1 && col("__by") === 1 &&
          col("margin_ppm") >= minMarginPpm)
        .select(col("x_id"), col("y_id"), col("cos_ppb"), col("margin_ppm")))
    }
  }
}
