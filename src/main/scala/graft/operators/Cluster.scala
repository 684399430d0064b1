package graft.operators

import graft.Materialize
import graft.functions.LongVecDot
import graft.functions.VectorFunctions.{quantizeInt8, vecDotLong}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Distributed k-means (Lloyd's) on a global int8 integer grid —
  * an ORACLE-CHECKABLE iterative clustering operator.
  *
  * Everything after quantization is exact integer arithmetic:
  *  - one corpus-wide symmetric scale (global max |x| / 127) maps all
  *    vectors onto a common integer grid (per-vector scales would put
  *    vectors in incomparable spaces — fine for storage, wrong for
  *    clustering);
  *  - assignment: argmin of the exact integer squared L2 distance,
  *    ties to the smallest cluster id;
  *  - update: per-dimension floor(sum / count) — floor-of-double
  *    division, exact below 2^52 and identical in every engine
  *    (unlike `div`, whose negative-operand truncation direction
  *    differs between Spark and DuckDB);
  *  - empty clusters keep their previous centroid.
  * So the full trajectory (assignments, centroids, inertia) is a pure
  * function of the data and DuckDB can replay the unrolled iterations
  * bit-for-bit — the same portability discipline as the md5 shard /
  * rolling-fingerprint / simhash families.
  *
  * Scale posture (the 100 TB k-means shape): centroids are k x dim
  * longs — a CONFIG-SIZED driver collect per iteration (k = 8: 512
  * values, the capped merges-table class), shipped back as literals.
  * Assignment is then a NARROW codegen'd map: k scored structs,
  * array_sort, take the head — the IVF probe pattern; no crossJoin,
  * no shuffle, no window. Each update is ONE map-side-combined
  * (cluster, pos) shuffle whose reduced volume is k x dim x
  * partitions, independent of row count. Total: `iters` shuffles of
  * bounded reduced size + one final bounded aggregation.
  *
  * Reference analog: the stats pipeline's grouping of result packets
  * into phenotype clusters is config-driven; this supplies the
  * data-driven variant an embedding-bearing corpus needs (cell
  * training for IVF ANN, mixture balancing, near-dup cluster seeding).
  */
object Cluster {

  /** A finished Lloyd's run. `assigned` is the FINAL per-row
    * assignment, made against `assignCentroids` (the last
    * pre-update centroid set — the set that DEFINES the cells);
    * `centroids` is the post-update set (what the next iteration
    * would assign against, and what [[kmeansInt8]] fingerprints).
    * IVF probing must rank `assignCentroids`, not `centroids`:
    * probing a different centroid set than the one that assigned the
    * cells silently skips the right cells near cell boundaries.
    * `scale` is the grid the run quantized on (an ANN index's frozen
    * state with `centroids`). */
  private[graft] final case class Trained(
      assigned: DataFrame,
      assignCentroids: IndexedSeq[Seq[Long]],
      centroids: IndexedSeq[Seq[Long]],
      scale: Double)

  /** Above this k the assignment switches from centroid LITERALS (zero
    * shuffle, one codegen'd argmin projection — but the expression tree
    * grows k × dim nodes, a codegen bomb past a few dozen centroids)
    * to a broadcast equi-join (explode k cids per row → broadcast-hash
    * join the k-row centroid table → map-side-combined min_by per id).
    * Both paths are exact integer arithmetic with the same (dist, cid)
    * tie-break, so the trajectory is bit-identical either way
    * (ClusterSpec proves it). */
  private[graft] val LiteralAssignMaxK = 64

  /** The IVF nlist sizing rule as a CODE PATH, not a comment:
    * k = ceil(n / targetCellSize), so expected cell population stays
    * ~targetCellSize no matter the corpus. A FIXED k is the silent
    * 100 TB failure mode for k-means blocking: cells grow with the
    * data until the pair generator's maxBlock cap drops them all and
    * dedup quietly finds nothing (the embedCosine drop gate turns
    * that loud; this derivation prevents it). maxK bounds the
    * flat-assignment regime — each row scores all k centroids,
    * O(k × dim) per row, FAISS's own flat-nlist territory; past it,
    * the two-level path takes over ([[kmeansTwoLevel]], or
    * [[assignCells]] which escalates automatically). */
  def kForCorpus(n: Long, targetCellSize: Long = 64, maxK: Int = 4096): Int = {
    require(n > 0, s"empty corpus (n=$n)")
    require(targetCellSize > 0, s"targetCellSize must be positive; got $targetCellSize")
    val k = (n + targetCellSize - 1) / targetCellSize
    require(k <= maxK,
      s"kForCorpus($n, $targetCellSize) derives k=$k > maxK=$maxK: flat centroid " +
        "scoring is O(k x dim) per row and past this k you want two-level blocking " +
        "— kmeansTwoLevel (sample-trained coarse shards, then distributed per-shard " +
        "Lloyd's), or assignCells which picks the path automatically — or a larger " +
        "targetCellSize")
    k.toInt
  }

  /** Blocking-cell assignment with AUTOMATIC path selection — the
    * entry point semantic dedup / IVF blocking should call instead of
    * wiring kForCorpus + kmeansAssignInt8 by hand:
    *  - n <= maxK × targetCellSize: flat derived-k Lloyd's
    *    ([[kmeansAssignInt8]] at [[kForCorpus]]'s k — bit-identical to
    *    the r9 path, so existing oracles are untouched);
    *  - past the flat ceiling: [[kmeansTwoLevel]] — the path the
    *    kForCorpus refusal message promises.
    * Returns (idCol, cluster); cells average ~targetCellSize on both
    * paths. */
  def assignCells(emb: DataFrame, idCol: String, vecCol: String,
                  targetCellSize: Long = 64, iters: Int = 2,
                  maxK: Int = 4096, nKnown: Option[Long] = None): DataFrame = {
    val n = nKnown.getOrElse(emb.count())
    require(n > 0, "empty corpus")
    val kNeeded = (n + targetCellSize - 1) / targetCellSize
    if (kNeeded <= maxK)
      kmeansAssignInt8(emb, idCol, vecCol,
        kForCorpus(n, targetCellSize, maxK), iters)
    else
      kmeansTwoLevel(emb, idCol, vecCol, targetCellSize, iters, maxK)
  }

  /** Two-level (coarse-then-fine) k-means blocking — the path past
    * [[kForCorpus]]'s flat ceiling (n > maxK × targetCellSize, i.e.
    * ~262k vectors at the defaults), the same shape FAISS uses for
    * large-nlist IVF training (sample-train the coarse quantizer,
    * then cluster within cells).
    *
    *  1. COARSE: quantize the whole corpus onto one global int8 grid
    *     (one aggregate, which also counts n; the grid must be
    *     corpus-wide or sample-trained centroids and corpus rows live
    *     in incomparable spaces), then
    *     train coarseK = ceil(sqrt(cellsNeeded)) centroids on a
    *     deterministic xxhash-gated SAMPLE (~samplePerCoarse rows per
    *     centroid) with the same Lloyd's loop as [[trainInt8]].
    *     Driver state: coarseK × dim longs — config-sized, exactly
    *     [[trainInt8]]'s own footprint.
    *  2. SHARD: assign every corpus row to its coarse centroid
    *     ([[assignTo]] — the broadcast-join argmin, one linear
    *     shuffle).
    *  3. FINE: per-shard Lloyd's, ALL shards trained simultaneously
    *     with DISTRIBUTED centroids — fine centroids live in a
    *     (shard, fcid, cq) DataFrame, never on the driver (there are
    *     ~n/targetCellSize of them — driver-collecting them is the
    *     bounded-state violation this design exists to avoid). Per
    *     iteration: rows join centroids on shard (the n × fineK
    *     fan-out is generated post-shuffle by the join itself, so
    *     only n rows ride the wire), packed-long argmin per row, one
    *     (shard, fcid, pos) partial-agg update. Init is the
    *     fineK_s smallest ids per shard; empty cells keep their
    *     previous centroid; every step is the same exact integer
    *     arithmetic as the flat path, so the result is deterministic.
    *
    * Total work is n × (coarseK + fineK) ≈ 2n·sqrt(n/targetCellSize)
    * — the flat path's n²/targetCellSize with the exponent halved;
    * capacity is maxK² × targetCellSize ≈ 1.07e9 vectors at the
    * defaults (past that, raise targetCellSize). Cells average
    * ~targetCellSize; per-shard fineK is derived per shard
    * (ceil(n_s/targetCellSize)) so a hot coarse cell gets more fine
    * cells instead of bigger ones.
    *
    * Returns (idCol, cluster) with cluster = shard × (maxK+1) + fcid
    * — disjoint across shards, stable across runs. Not SQL-replayable
    * (the sample gate + per-shard loops defeat an unrolled oracle);
    * proven by ClusterSpec instead: blocking-recall parity vs the
    * flat path at small n, bounded cells + determinism at n past the
    * flat ceiling. */
  def kmeansTwoLevel(emb: DataFrame, idCol: String, vecCol: String,
                     targetCellSize: Long = 64, iters: Int = 2,
                     maxK: Int = 4096, samplePerCoarse: Int = 32): DataFrame = {
    val spark = emb.sparkSession
    val (n, scale) = grid(emb, vecCol)
    require(n > 0, "empty corpus")
    val cellsNeeded = (n + targetCellSize - 1) / targetCellSize
    require(cellsNeeded <= maxK.toLong * maxK,
      s"two-level capacity is maxK^2 x targetCellSize = ${maxK.toLong * maxK * targetCellSize} " +
        s"rows; got n=$n — raise targetCellSize")
    val coarseK = math.min(maxK.toLong,
      math.ceil(math.sqrt(cellsNeeded.toDouble)).toLong).toInt
    val kpack = maxK.toLong + 1 // fcid < maxK always fits

    // one corpus-wide grid + one spread shuffle, reused by the coarse
    // sample, the shard assignment, and every fine iteration
    val qAll = Materialize.checkpoint(onGrid(emb, idCol, vecCol, scale)
      .repartition(spark.sparkContext.defaultParallelism), eager = false)

    // deterministic sample gate: ~samplePerCoarse rows per coarse
    // centroid; xxhash64 is seed-free and stable across runs/JVMs
    val sampleTarget = coarseK.toLong * samplePerCoarse
    val sampled =
      if (sampleTarget >= n) qAll
      else {
        val gate = math.max(1L, sampleTarget * 1000000L / n)
        val s = qAll.filter(pmod(xxhash64(col("id")), lit(1000000L)) < lit(gate))
        // a pathological id distribution could under-fill the gate;
        // training needs at least coarseK init rows — fall back loudly
        if (s.count() >= coarseK) s
        else { System.err.println(
          s"[cluster] two-level sample gate under-filled (< $coarseK rows); training coarse on the full corpus")
          qAll }
      }
    val coarse = trainLoop(sampled, scale, coarseK, iters, LiteralAssignMaxK).centroids

    // shard every row; aa precomputed once (reused every fine iteration)
    val rows = Materialize.checkpoint(assignTo(qAll, coarse)
      .select(col("id"), col("q"), col("cid").as("shard"))
      .withColumn("aa", vecDotLong(col("q"), col("q"))), eager = false)

    // per-shard fine-cell count: ceil(n_s / targetCellSize), capped
    val meta = rows.groupBy("shard").agg(count(lit(1)).as("n_s"))
      .select(col("shard"),
        least(((col("n_s") - 1) / lit(targetCellSize)).cast("long") + 1,
          lit(maxK.toLong)).as("fineK"))

    // init: the fineK_s smallest ids per shard, fcid by that order
    val w = Window.partitionBy(col("shard")).orderBy(col("id"))
    var cent = Materialize.checkpoint(rows.withColumn("rn", row_number().over(w))
      .join(broadcast(meta), "shard")
      .filter(col("rn") <= col("fineK"))
      .select(col("shard"), (col("rn") - 1).cast("int").as("fcid"), col("q").as("cq")),
      eager = false)

    // rows meet only their own shard's cells: the n x fineK fan-out is
    // generated inside the shard-join's partition, so the partial min
    // collapses to one row per id before the shuffle
    def assignFine(c: DataFrame): DataFrame =
      nearestCell(rows.join(c.withColumn("bb", vecDotLong(col("cq"), col("cq"))), "shard"),
        "fcid", kpack, rows.drop("aa"))

    def updateFine(assigned: DataFrame, prev: DataFrame): DataFrame = {
      val next = means(assigned, "shard", "fcid").groupBy("shard", "fcid")
        .agg(transform(array_sort(collect_list(struct(col("pos"), col("cv")))),
          s => s("cv")).as("next"))
      prev.select(col("shard"), col("fcid"), col("cq").as("prevq"))
        .join(next, Seq("shard", "fcid"), "left")
        .select(col("shard"), col("fcid"),
          coalesce(col("next"), col("prevq")).as("cq"))
    }

    var assigned: DataFrame = null
    for (i <- 1 to iters) {
      assigned = Materialize.checkpoint(assignFine(cent), eager = false)
      // the final assignment is made against the (iters-1)-times-
      // updated centroids — the same pre-update semantics as
      // trainLoop's Trained.assigned — so the last update is skipped
      if (i < iters) cent = Materialize.checkpoint(updateFine(assigned, cent), eager = false)
    }
    assigned.select(col("id").as(idCol),
      (col("shard").cast("long") * kpack + col("fcid")).as("cluster"))
  }

  /** Final per-vector cluster assignment (id, cluster) from the same
    * bit-deterministic Lloyd's run as [[kmeansInt8]] — the blocking
    * surface for label-free semantic dedup and IVF cell routing.
    * Size k with [[kForCorpus]] so cells track the corpus. */
  def kmeansAssignInt8(emb: DataFrame, idCol: String, vecCol: String,
                       k: Int, iters: Int): DataFrame =
    trainInt8(emb, idCol, vecCol, k, iters).assigned
      .select(col("id").as(idCol), col("cid").as("cluster"))

  /** @return one row per cluster: (cluster, n_members, inertia,
    *         centroid_fp) — counts/inertia from the final assignment
    *         against the pre-update centroids, fingerprint of the
    *         post-update centroid (md5 of the comma-joined longs). */
  def kmeansInt8(emb: DataFrame, idCol: String, vecCol: String,
                 k: Int, iters: Int): DataFrame = {
    val tr = trainInt8(emb, idCol, vecCol, k, iters)
    val (assigned, centroids) = (tr.assigned, tr.centroids)
    val spark = emb.sparkSession
    // final surface: membership + inertia from the last assignment,
    // fingerprint of the post-update centroid (hashed by Spark's own
    // md5 — same MD5-of-UTF-8 the oracle's md5() computes)
    import spark.implicits._
    val fpDf = centroids.zipWithIndex
      .map { case (cent, c) => (c, cent.mkString(",")) }
      .toDF("cluster", "__cs")
      .select(col("cluster"), md5(col("__cs")).as("centroid_fp"))
    assigned.groupBy(col("cid").as("cluster"))
      .agg(count(lit(1)).as("n_members"), sum(col("dist")).as("inertia"))
      .join(fpDf, Seq("cluster"), "right") // empty clusters still emit
      .select(col("cluster"),
        coalesce(col("n_members"), lit(0L)).as("n_members"),
        coalesce(col("inertia"), lit(0L)).as("inertia"),
        col("centroid_fp"))
  }

  /** Incremental index maintenance: assign a NEW batch of vectors to
    * the cells of an index trained on the history alone — the ANN
    * counterpart of [[Dedup.incrementalExact]]'s nightly-ingest
    * contract. The index's frozen state is (grid scale, post-update
    * centroids): the grid derives from the HISTORY max (a deployed
    * index stores it; batch vectors landing outside ±127 stay exact,
    * just off-grid), history trains `iters` Lloyd rounds, and the
    * batch is ONE narrow argmin map against the final centroids — no
    * retraining, no history re-shuffle, O(batch) work per ingest.
    * Returns (idCol, cluster, dist) for the batch rows only: exactly
    * [[assignIndexed]] over [[annIndex]] of the history.
    * History and batch MUST share the grid — quantizing each side on
    * its own max would put them in incomparable spaces (the
    * [[quantize]] scaladoc contract). */
  def assignIncremental(emb: DataFrame, idCol: String, vecCol: String,
                        historyPred: Column, k: Int, iters: Int): DataFrame = {
    // three-valued logic would drop NULL-predicate rows from BOTH
    // sides (filter(p) and filter(!p) each reject NULL); coalescing to
    // false pins them deterministically to the batch, preserving the
    // every-row-is-history-or-batch contract
    val isHist = coalesce(historyPred, lit(false))
    assignIndexed(annIndex(emb.filter(isHist), idCol, vecCol, k, iters),
      emb.filter(!isHist), idCol, vecCol)
  }

  /** The PERSISTABLE ANN index state [[assignIncremental]] re-trains on
    * every call — the frozen (grid scale, post-update centroids) pair
    * as one config-sized DataFrame (k rows of (cid, cq, gscale): a
    * KB-scale parquet target). Write it once ([[Targets]]); every
    * ingest then calls [[assignIndexed]] — one narrow argmin map over
    * the batch, no history scan, no Lloyd rounds. */
  def annIndex(history: DataFrame, idCol: String, vecCol: String,
               k: Int, iters: Int): DataFrame = {
    val spark = history.sparkSession
    import spark.implicits._
    val tr = trainInt8(history, idCol, vecCol, k, iters)
    tr.centroids.zipWithIndex.map { case (cq, c) => (c, cq, tr.scale) }
      .toDF("cid", "cq", "gscale")
  }

  /** Assign a batch against a read-back [[annIndex]] — bit-identical
    * to [[assignIncremental]]'s batch output over the same history
    * (spec-proven): the k-row index collect is the capped
    * merges-table class, and the batch never touches history. */
  def assignIndexed(index: DataFrame, batch: DataFrame,
                    idCol: String, vecCol: String): DataFrame = {
    val rows = index.select(col("cid"), col("cq"), col("gscale")).collect()
    require(rows.nonEmpty, "empty ANN index")
    val gscale = rows.head.getDouble(2)
    val cents: IndexedSeq[Seq[Long]] = rows.sortBy(_.getInt(0))
      .map(_.getSeq[Long](1).toIndexedSeq: Seq[Long]).toIndexedSeq
    assignTo(onGrid(batch, idCol, vecCol, gscale), cents)
      .select(col("id").as(idCol), col("cid").as("cluster"), col("dist"))
  }

  /** The Lloyd's run behind every flat surface (the summary, the
    * assignment, IVF cells and the ANN index): the frame's own grid,
    * then [[trainLoop]]. `literalAssignMaxK` is a test seam
    * (ClusterSpec forces the join path at small k to prove path
    * parity); production callers leave the default. */
  private[graft] def trainInt8(emb: DataFrame, idCol: String, vecCol: String,
                               k: Int, iters: Int,
                               literalAssignMaxK: Int = LiteralAssignMaxK)
      : Trained = {
    val scale = grid(emb, vecCol)._2
    val q = onGrid(emb, idCol, vecCol, scale)
    // join-path assignment fans each row out k ways, so its work is
    // n x k however few input splits the (small-on-disk, float-packed)
    // embedding parquet arrived in — ONE extra n-row shuffle here
    // spreads the fan-out across the cluster (measured 16x on a
    // single-split x32 corpus). The literal path stays zero-shuffle.
    // Lazily lineage-truncated: q feeds every assignment pass and the
    // final aggregation — without the checkpoint each pass re-runs the
    // scan + quantization chain (same discipline as q_corpus_e2e's
    // Mix-stage boundary).
    trainLoop(Materialize.checkpoint(
      if (k > literalAssignMaxK) q.repartition(emb.sparkSession.sparkContext.defaultParallelism)
      else q,
      eager = false), scale, k, iters, literalAssignMaxK)
  }

  /** The corpus-wide symmetric int8 grid of a frame, in ONE aggregate:
    * (rows, scale) with scale = max |x| / 127 (1.0 for an all-zero or
    * empty frame). A null vector, or one holding a null element, has
    * no grid point — the literal and join argmins would place it
    * differently — so the same aggregate counts them and refuses the
    * frame. */
  private def grid(emb: DataFrame, vecCol: String): (Long, Double) = {
    val v = col(vecCol)
    val r = emb.agg(count(lit(1)),
      max(array_max(transform(v, x => abs(x.cast("double"))))),
      count(when(v.isNull || exists(v, _.isNull), lit(1)))).head()
    require(r.getLong(2) == 0L,
      s"${r.getLong(2)} null vectors (null, or holding a null element) in $vecCol; " +
        "the int8 grid needs every vector whole")
    val gmax = if (r.isNullAt(1)) 0.0 else r.getDouble(1)
    (r.getLong(0), if (gmax == 0.0) 1.0 else gmax / 127.0)
  }

  // the grid projection: floor(x / scale + 0.5) per element
  private def onGrid(df: DataFrame, idCol: String, vecCol: String,
                     scale: Double): DataFrame =
    df.select(col(idCol).cast("long").as("id"),
      quantizeInt8(col(vecCol), lit(scale)).as("q"))

  /** Quantize onto the corpus-wide symmetric int8 grid of THIS frame
    * ([[grid]]). Returns (id, q). Callers that train on a SAMPLE but
    * assign the full corpus must quantize the full corpus once and
    * sample the quantized frame — computing the grid per-subset would
    * put sample-trained centroids and corpus rows in incomparable
    * spaces. */
  private[graft] def quantize(emb: DataFrame, idCol: String, vecCol: String): DataFrame =
    onGrid(emb, idCol, vecCol, grid(emb, vecCol)._2)

  /** The k scored (dist, cid) structs against centroid LITERALS over a
    * frame's `q` column — ONE definition shared by [[assignLiteral]]
    * (argmin = element_at(array_sort(.), 1)) and the IVF literal probe
    * (nprobe = slice of the same sorted array, Similarity.scala). The
    * bit-identical-arithmetic contract between the assignment and
    * probe paths is load-bearing for the oracles; sharing the builder
    * keeps a future fix from diverging one copy silently. Codegen-
    * tight and zero-shuffle, but the expression tree is k x dim nodes
    * — only used while k <= literalAssignMaxK. */
  private[graft] def scoredCellStructs(cents: IndexedSeq[Seq[Long]]): Column =
    array(cents.indices.map { c =>
      struct(
        aggregate(
          zip_with(col("q"), typedlit(cents(c)), (a, b) => (a - b) * (a - b)),
          lit(0L), (acc, x) => acc + x).as("dist"),
        lit(c).as("cid"))
    }: _*)

  /** Every (row, cell) pair of a frame's `q` against a driver-held
    * centroid set: the row's aa = q·q is computed once, k cids
    * explode per row, and the broadcast k-row (cid, cq, bb) table
    * joins on (bb = cq·cq precomputed) — ready for [[cellDist]].
    * Shared by [[assignJoin]] and the IVF join probe. */
  private[graft] def cellPairs(q: DataFrame, cents: IndexedSeq[Seq[Long]]): DataFrame = {
    val spark = q.sparkSession
    import spark.implicits._
    val cdf = cents.zipWithIndex
      .map { case (cq, c) => (c, cq, LongVecDot.dot(cq.toArray, cq.toArray)) }
      .toDF("cid", "cq", "bb")
    q.withColumn("aa", vecDotLong(col("q"), col("q")))
      .withColumn("cid", explode(sequence(lit(0), lit(cents.size - 1))))
      .join(broadcast(cdf), "cid")
  }

  /** The exact integer squared L2 between a row and a cell, through
    * the NATIVE codegen'd LongVecDot: aa − 2·q·cq + bb over a pair
    * frame carrying (q, aa, cq, bb). The one definition shared by
    * the flat join argmin, the two-level fine argmin and the IVF join
    * probe (zip_with/aggregate lambdas are interpreted-eval
    * expressions, catastrophic at n x k pair counts). */
  private[graft] def cellDist: Column =
    col("aa") - lit(2L) * vecDotLong(col("q"), col("cq")) + col("bb")

  /** The nearest cell per id over a pair frame: (dist, cell) PACKED
    * into one long (dist · kpack + cell, dist >= 0, cell < kpack), so
    * min(packed) is a primitive hash-aggregate with map-side combine
    * where min(struct) falls back to a SortAggregate that sorts every
    * pair. Packing preserves the (dist, cell) tie-break exactly;
    * overflow needs dist · kpack < 2^63 — int8-grid dist <= dim x
    * 254^2, fine for any real dim at k <= 4096. Only (id, packed)
    * crosses the shuffle (n rows regardless of k); `rows` is re-joined
    * once on id and gains (cell, dist). Carrying q through the agg
    * (max over ArrayType) would reject hash aggregation — the
    * measured-100x-slower fallback this shape exists to avoid. */
  private def nearestCell(pairs: DataFrame, cell: String, kpack: Long,
                          rows: DataFrame): DataFrame = {
    val best = pairs.groupBy("id")
      .agg(min(cellDist * lit(kpack) + col(cell)).as("packed"))
    rows.join(best, "id").select(rows.columns.map(col) :+
      (col("packed") % kpack).cast("int").as(cell) :+
      // integer `div`, not `/` (which is double division — lossy past
      // 2^53; packed stays exact as a long throughout)
      expr(s"packed div ${kpack}L").as("dist"): _*)
  }

  private def assignLiteral(q: DataFrame, cents: IndexedSeq[Seq[Long]]): DataFrame =
    q.withColumn("best", element_at(array_sort(scoredCellStructs(cents)), 1))
      .select(col("id"), col("q"),
        col("best.cid").as("cid"), col("best.dist").as("dist"))

  // large-k argmin: every (row, cell) pair, the nearest per id (an
  // HOF + struct-min draft ran 100x slower at k=1000). Bit-identical
  // to assignLiteral (spec-proven).
  private def assignJoin(q: DataFrame, cents: IndexedSeq[Seq[Long]]): DataFrame =
    nearestCell(cellPairs(q, cents), "cid", cents.size, q)

  /** Argmin assignment of a quantized (id, q) frame against a driver-
    * held centroid set — literal path below `literalAssignMaxK`, the
    * broadcast-join path above it; bit-identical either way. */
  private[graft] def assignTo(q: DataFrame, cents: IndexedSeq[Seq[Long]],
                              literalAssignMaxK: Int = LiteralAssignMaxK): DataFrame =
    if (cents.size <= literalAssignMaxK) assignLiteral(q, cents)
    else assignJoin(q, cents)

  /** The Lloyd update's means: per (group keys, pos) the members'
    * floor(sum / count) — floor-of-double division, the same IEEE
    * divide and floor on the driver, in SQL and in DuckDB — as
    * (keys…, pos, cv). ONE map-side-combined shuffle whose reduced
    * size is groups x dim, independent of row count. */
  private def means(assigned: DataFrame, keys: String*): DataFrame =
    assigned.select(keys.map(col) :+ posexplode(col("q")).as(Seq("pos", "v")): _*)
      .groupBy((keys :+ "pos").map(col): _*)
      .agg(floor(sum(col("v")).cast("double") / count(lit(1))).cast("long").as("cv"))

  /** The Lloyd's loop over an already-quantized, already-checkpointed
    * (id, q) frame on grid `scale` — shared by [[trainInt8]] (every
    * flat surface) and [[kmeansTwoLevel]]'s sample-trained coarse
    * stage, so both inherit its bounds. */
  private def trainLoop(q: DataFrame, scale: Double, k: Int, iters: Int,
                        literalAssignMaxK: Int): Trained = {
    require(k > 0 && k <= 4096,
      s"k bounded at 4096 (flat assignment scores all k centroids per row — " +
        s"O(k x dim); shard first beyond this, see kForCorpus); got $k")
    require(iters >= 1 && iters <= 8, s"iters bounded (each is a pass); got $iters")
    // deterministic init: the k smallest ids' vectors, cluster id by
    // that order (a bounded k-row collect — NOT a sort of the corpus:
    // TakeOrderedAndProject)
    var centroids: IndexedSeq[Seq[Long]] = q.orderBy("id").limit(k)
      .select(col("q")).collect()
      .map(_.getSeq[Long](0).toIndexedSeq: Seq[Long]).toIndexedSeq
    require(centroids.nonEmpty, "empty input")

    var assigned: DataFrame = null
    var assignCentroids: IndexedSeq[Seq[Long]] = centroids
    for (_ <- 1 to iters) {
      assignCentroids = centroids
      // lazily checkpointed: the update's collect below materializes
      // the assignment, and the final membership/inertia aggregation
      // reuses the checkpointed RDD instead of re-running the argmin
      // map — which also keeps Catalyst from pushing the argmin
      // lambda chain into an inferred isnotnull Filter under the
      // output join (the interpreted re-derivation PlanAuditSpec
      // gates against)
      assigned = Materialize.checkpoint(assignTo(q, centroids, literalAssignMaxK), eager = false)
      val byC = means(assigned, "cid").collect().groupBy(_.getInt(0))
      centroids = centroids.indices.map { c =>
        byC.get(c).fold(centroids(c)) { rows => // empty cluster: keep previous
          val arr = new Array[Long](centroids(c).length)
          rows.foreach(r => arr(r.getInt(1)) = r.getLong(2))
          arr.toSeq
        }
      }
    }

    Trained(assigned, assignCentroids, centroids, scale)
  }
}
