package graft.operators

import graft.Materialize
import graft.functions.TextFunctions
import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._

/** Hashed-feature linear models — the fastText / Vowpal-Wabbit hashing
  * trick as a Spark plan: score(doc) = bias + Σ_tokens w[h(token) mod B].
  * This is how corpus-scale quality/toxicity/language classifiers run
  * over training data (a linear model over hashed unigrams), and the
  * plan is the point: the MODEL RIDES THE PLAN as a literal array (B
  * weights ship with the task binary — no join, no broadcast table, no
  * UDF), the feature map is a narrow codegen'd explode, and the only
  * shuffle is the per-doc aggregation, map-side-combined down to one
  * row per document.
  *
  * The four scoring and training functions compose three private
  * pieces:
  *  - [[bucketOf]], the one feature hash: the library's md5 convention
  *    (first 3 hex digits → 0..4095, [[Shard.md5Shard]]'s ladder) mod B,
  *    NOT Spark's internal Murmur3 — so any engine (and the DuckDB
  *    oracle) reproduces bucket assignment, and integer weights make
  *    every score an exact sum;
  *  - [[fit]], the one trainer: a checkpointed per-doc feature map,
  *    then a fixed-point descent over K heads at once
  *    ([[trainLogistic]] is K = 1, [[trainOvr]] one head per class);
  *  - [[scoreHeads]], the one scoring pass: K literal-weight sums per
  *    doc in one aggregate, left-joined back onto the doc spine so
  *    docs with no tokens keep their bias ([[linearScore]] is K = 1,
  *    [[predictOvr]] argmaxes K).
  */
object Infer {

  /** The shared hashed-feature token stream: word unigrams, optionally
    * augmented with character n-grams of each token (fastText's
    * subword features — orthography lives in character sequences, so
    * langid-class models need them to generalize to unseen words).
    * Char grams carry a `#` marker prefix so the gram "abc" and the
    * token "abc" hash to independent buckets; tokens shorter than
    * `charNgram` contribute only their unigram. `charNgram = 0`
    * (every pre-r16 call site) is the identity — the pure-unigram
    * stream, bit-compatible with all existing trained models and
    * oracles. */
  private[operators] def featTokens(textCol: Column, charNgram: Int): Column = {
    val toks = TextFunctions.tokens(textCol)
    if (charNgram <= 0) toks
    else concat(toks, flatten(transform(toks, t =>
      when(length(t) >= charNgram,
        transform(sequence(lit(0), length(t) - charNgram),
          i => concat(lit("#"), t.substr(i + 1, lit(charNgram)))))
        .otherwise(array().cast("array<string>")))))
  }

  /** The bucket of feature token `__tok`, as an int: the first 3 hex
    * digits of the md5 of salt ‖ token, mod `b`. `b` must divide 4096
    * (the 3-hex-digit hash range) so the buckets stay uniform. */
  private def bucketOf(salt: String, b: Int): Column = {
    require(b > 0 && 4096 % b == 0, s"bucket count must divide 4096 (3 hex digits); got $b")
    (conv(substring(md5(concat(lit(salt), col("__tok"))), 1, 3), 16, 10).cast("long") % b)
      .cast("int")
  }

  /** Per doc of `docs`: `n_tokens` and, for each head i, its score
    * `__s<i>` = bias + Σ_tokens w[bucket] over literal weights. One
    * narrow token explode, ONE map-side-combined per-doc aggregate
    * carrying K running sums, then a left join onto the doc spine —
    * token-less docs get `n_tokens` 0 and bias-only scores. A caller
    * that drops `n_tokens` leaves its count to column pruning. */
  private def scoreHeads(docs: DataFrame, idCol: String, textCol: String,
                         heads: Seq[(Seq[Long], Long)], salt: String,
                         charNgram: Int): DataFrame = {
    val b = heads.head._1.length
    require(heads.forall(_._1.length == b), "heads must share bucket count")
    val sums = heads.indices.map(i =>
      sum(element_at(lit(heads(i)._1.toArray), col("__b") + 1)).as(s"__sw$i"))
    val perDoc = docs
      .select(col(idCol), explode(featTokens(col(textCol), charNgram)).as("__tok"))
      .filter(length(col("__tok")) > 0)
      .withColumn("__b", bucketOf(salt, b))
      .groupBy(idCol)
      .agg(count(lit(1)).as("n_tokens"), sums: _*)
    docs.select(col(idCol))
      .join(perDoc, Seq(idCol), "left")
      .select(col(idCol) +: coalesce(col("n_tokens"), lit(0L)).as("n_tokens") +:
        heads.indices.map(i => (coalesce(col(s"__sw$i"), lit(0L)) + heads(i)._2).as(s"__s$i")): _*)
  }

  /** @param weights the model: weight per hash bucket; size must
    *                divide 4096 (the 3-hex-digit hash range) so
    *                bucket = hex3 mod B stays uniform.
    * @param salt    feature-hash salt — distinct models decorrelate.
    * @return (idCol, n_tokens, score, keep = score > 0), every doc once. */
  def linearScore(docs: DataFrame, idCol: String, textCol: String,
                  weights: Seq[Long], bias: Long = 0L,
                  salt: String = "fh", charNgram: Int = 0): DataFrame =
    scoreHeads(docs, idCol, textCol, Seq(weights -> bias), salt, charNgram)
      .select(col(idCol), col("n_tokens"), col("__s0").as("score"))
      .withColumn("keep", col("score") > 0)

  /** The one trainer behind [[trainLogistic]] and [[trainOvr]]:
    * full-batch gradient descent on logistic loss for K heads over the
    * [[linearScore]] feature space (same salt, same hex3 % B buckets),
    * so the learned weights feed [[linearScore]] / [[predictOvr]]
    * directly as the literals they consume. Every arithmetic step is
    * EXACT FIXED-POINT, so a DuckDB oracle replays the whole trajectory
    * by unrolling the steps as chained CTEs (the q_kmeans Lloyd-round
    * discipline). Per head, against its boolean target y_d:
    *
    *  - weights/bias live in ppm longs, initialized to 0;
    *  - score  z_d = bias + Σ_b w_b · x_db   (x = bucket token counts);
    *  - probability is the HARD sigmoid in ppm (the piecewise-linear
    *    σ̂(z) = clamp(½ + z/4, 0, 1) used by quantized trainers —
    *    transcendental exp would break engine parity):
    *    p_d = least(10⁶, greatest(0, 500000 + z_d div 4));
    *  - error e_d = p_d − 10⁶·y_d (a null target counts as 0);
    *    gradients g_b = Σ_d e_d · x_db (g_{-1} = Σ_d e_d for the bias,
    *    as a pseudo-feature);
    *  - update w_b ← w_b − g_b div (N · lrDiv) — truncating division,
    *    identical on JVM longs and DuckDB `//`.
    *
    * Scale shape (the Lloyd-round idiom): the per-doc bucket-count MAP,
    * label `y` in `__y`, is built once (one doc-keyed shuffle, ≤ B+1
    * entries per doc) and checkpointed, with its row count and
    * `metrics` observed on the same job. Each step is then a NARROW map
    * (all K scores in one projection, from literal weights riding the
    * plan) plus ONE map-side-combined (head, bucket) aggregate whose
    * reduced size is K·(B+1) cells per partition REGARDLESS of corpus
    * rows, and a K·(B+1)-row collect. Docs with no tokens carry no
    * gradient signal under hashed features and are excluded
    * (documented contract; [[linearScore]] still scores them by bias).
    *
    * @param heads the K heads from the observed row (doc count, then
    *              `metrics`): a key and a boolean target over `__y`
    * @return per head: (key, weights 0..B-1, bias) in ppm */
  private def fit[K](op: String, docs: DataFrame, idCol: String, textCol: String, y: Column,
                     buckets: Int, iters: Int, lrDiv: Long, salt: String, charNgram: Int,
                     metrics: Column*)(heads: Row => Seq[(K, Column)]): Seq[(K, IndexedSeq[Long], Long)] = {
    val bucket = bucketOf(salt, buckets)
    require(iters >= 1 && lrDiv >= 1, "iters and lrDiv must be positive")
    Materialize.scoped { s =>
      // the bias pseudo-feature (bucket -1, x 1) rides inside the map so
      // each step's gradient explode covers bias and weights in one
      // pass. Checkpointed, not cached: every iteration re-analyzes its
      // step plan from the map, and a LogicalRDD leaf spares the planner
      // a walk of the explode/groupBy build tree per iteration
      val (docFeats, sized) = s.checkpointObserved(docs
        .select(col(idCol), y.as("__y"), explode(featTokens(col(textCol), charNgram)).as("__tok"))
        .filter(length(col("__tok")) > 0)
        .withColumn("__b", bucket)
        .groupBy(col(idCol), col("__y"), col("__b"))
        .agg(count(lit(1)).as("__x"))
        .groupBy(col(idCol), col("__y"))
        .agg(map_concat(
          map_from_entries(collect_list(struct(col("__b"), col("__x")))),
          map(lit(-1), lit(1L))).as("__m")),
        op, count(lit(1)) +: metrics: _*)
      val nDocs = sized.getLong(0)
      require(nDocs > 0, s"$op: no docs with >= 1 token")
      val (keys, targets) = heads(sized).unzip
      var model = keys.map(_ => (0L, IndexedSeq.fill(buckets)(0L)))
      for (_ <- 1 to iters) {
        // all K score columns in ONE projection: a per-head withColumn
        // chain would re-run full plan analysis K times per iteration
        val zCols = model.zipWithIndex.map { case ((b0, w0), i) =>
          // literal lookup array: index 1 = bias (key -1), 2.. = buckets
          val wArr = (b0 +: w0).toArray
          aggregate(map_entries(col("__m")), lit(0L),
            (acc, e) => acc + element_at(lit(wArr), e("key") + lit(2)) * e("value"))
            .as(s"__z$i")
        }
        val eArr = array(targets.zipWithIndex.map { case (t, i) =>
          struct(lit(i).as("ci"),
            (least(lit(1000000L), greatest(lit(0L), lit(500000L) + expr(s"__z$i div 4")))
              - when(t, lit(1000000L)).otherwise(lit(0L))).as("e"))
        }: _*)
        val grads = docFeats.select(col("*") +: zCols: _*)
          .select(explode(eArr).as("__ce"), col("__m"))
          .select(col("__ce.ci").as("ci"), col("__ce.e").as("e"),
            explode(map_entries(col("__m"))).as("__kv"))
          .groupBy(col("ci"), col("__kv.key").as("b"))
          .agg(sum(col("e") * col("__kv.value")).as("g"))
          .collect()
          .map(r => (r.getInt(0), r.getInt(1)) -> r.getLong(2)).toMap
          .withDefaultValue(0L)
        val denom = nDocs * lrDiv
        model = model.zipWithIndex.map { case ((b0, w0), i) =>
          (b0 - grads((i, -1)) / denom, w0.indices.map(b => w0(b) - grads((i, b)) / denom))
        }
      }
      keys.zip(model).map { case (k, (bias, w)) => (k, w, bias) }
    }
  }

  /** Binary classifier TRAINING for the [[linearScore]] model: [[fit]]
    * with one head whose target is `label` (a null label counts as a
    * negative).
    *
    * @return (weights per bucket 0..B-1, bias) in ppm — plug straight
    *         into [[linearScore]](weights, bias). */
  def trainLogistic(docs: DataFrame, idCol: String, textCol: String,
                    label: Column, buckets: Int = 64, iters: Int = 3,
                    lrDiv: Long = 8L, salt: String = "fh",
                    charNgram: Int = 0): (IndexedSeq[Long], Long) = {
    val Seq((_, w, bias)) = fit("trainLogistic", docs, idCol, textCol, label.cast("boolean"),
      buckets, iters, lrDiv, salt, charNgram)(_ => Seq(() -> col("__y")))
    (w, bias)
  }

  /** MULTICLASS classifier training — one-vs-rest logistic regression,
    * the in-engine langid trainer (fastText's supervised shape: K
    * linear heads over shared hashed unigrams): [[fit]] with one head
    * per class c against the one-hot target (class == c), so a DuckDB
    * oracle replays the K-class trajectory with a `cls` dimension on
    * the binary chain's weight table. The class vocabulary is a
    * `collect_set` observed on the feature map's checkpoint job
    * (bounded: a label vocabulary, not data-scaled), sorted, so class
    * indexing is deterministic; a null class fails fast.
    *
    * @return per class (sorted): (class, weights 0..B-1, bias) in ppm —
    *         each plugs into [[linearScore]]; argmax over the K scores
    *         ([[predictOvr]]) is the predicted class. */
  def trainOvr(docs: DataFrame, idCol: String, textCol: String,
               classCol: Column, buckets: Int = 64, iters: Int = 3,
               lrDiv: Long = 8L, salt: String = "fh",
               charNgram: Int = 0): Seq[(String, IndexedSeq[Long], Long)] =
    fit("trainOvr", docs, idCol, textCol, classCol.cast("string"), buckets, iters, lrDiv,
        salt, charNgram, count(col("__y")), collect_set(col("__y"))) { sized =>
      require(sized.getLong(1) == sized.getLong(0), "trainOvr: a doc with >= 1 token has a null class")
      sized.getSeq[String](2).sorted.map(c => c -> (col("__y") === c))
    }

  /** Argmax PREDICTION over [[trainOvr]]'s K heads in ONE
    * [[scoreHeads]] pass — the inference half of the multiclass loop.
    * The winner is the max (score, class-order) struct, ties broken
    * toward the FIRST class in the sorted vocabulary (the same
    * deterministic rule an oracle replays with
    * row_number(ORDER BY score DESC, cls)). Token-less docs score
    * bias-only, like [[linearScore]].
    *
    * @return (idCol, pred <the predicted class>, pred_score <its score>). */
  def predictOvr(docs: DataFrame, idCol: String, textCol: String,
                 models: Seq[(String, IndexedSeq[Long], Long)],
                 salt: String = "fh", charNgram: Int = 0): DataFrame = {
    require(models.nonEmpty, "predictOvr needs at least one class head")
    // the rk = K−i tie key below encodes "first class in the SORTED
    // vocabulary" only when callers pass models sorted and distinct —
    // fail loudly on any other ordering instead of silently breaking
    // the documented tie rule
    require(models.map(_._1) == models.map(_._1).sorted &&
        models.map(_._1).distinct.size == models.size,
      "predictOvr: models must be sorted by distinct class name " +
        "(the tie rule resolves toward the first sorted class)")
    val k = models.size
    val candidates = array(models.zipWithIndex.map { case ((cls, _, _), i) =>
      struct(col(s"__s$i").as("score"), lit(k - i).as("rk"), lit(cls).as("cls"))
    }: _*)
    scoreHeads(docs, idCol, textCol, models.map(m => m._2 -> m._3), salt, charNgram)
      .withColumn("__best", array_max(candidates))
      .select(col(idCol), col("__best.cls").as("pred"),
        col("__best.score").as("pred_score"))
  }

  /** Binary-classifier evaluation over a scored frame — confusion
    * counts at the `score > 0` operating point plus EXACT ppm metrics
    * including rank-based AUC, all integer (the scores are exact longs
    * from [[linearScore]], so midranks are exact and the AUC is a
    * ratio of integers — no float sums anywhere, hash-reproducible
    * across engines). AUC via the Mann–Whitney identity: Σ over
    * positives of 2·midrank, computed per DISTINCT score group
    * (2·midrank = 2·cum_before + n + 1), then
    * AUC = (2U) / (2·n_pos·n_neg) with 2U = Σ2R⁺ − 2·U_offset.
    *
    * Scale: one groupBy(score) shuffle, then a window over DISTINCT
    * scores — score-cardinality-bounded, not row-bounded (an eval set
    * is sampled at corpus scale anyway). Returns ONE row:
    * n_eval/n_pos/n_neg/tp/fp/tn/fn/accuracy_ppm/precision_ppm/
    * recall_ppm/auc_ppm (nullable where undefined). */
  def evalBinary(scored: DataFrame, scoreCol: String, labelCol: String): DataFrame = {
    val y = col(labelCol)
    val sc = col(scoreCol)
    val perScore = scored.groupBy(sc.as("__s"))
      .agg(count(lit(1)).as("n"), sum(when(y, 1L).otherwise(0L)).as("np"))
    // partitionBy(lit(0)): same single partition over the DISTINCT
    // score groups (score-cardinality-bounded), explicit constant key
    // so the bounded window doesn't trip WindowExec's "No Partition
    // Defined" warning (VERDICT r17 #5)
    val wOrd = org.apache.spark.sql.expressions.Window.partitionBy(lit(0)).orderBy("__s")
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
    val r2 = perScore
      .withColumn("cum", coalesce(sum(col("n")).over(wOrd), lit(0L)))
      .agg(sum(col("np") * (lit(2L) * col("cum") + col("n") + lit(1L))).as("r2pos"))
    scored.agg(
        count(lit(1)).as("n_eval"),
        sum(when(y, 1L).otherwise(0L)).as("n_pos"),
        sum(when(!y, 1L).otherwise(0L)).as("n_neg"),
        sum(when(y && sc > 0, 1L).otherwise(0L)).as("tp"),
        sum(when(!y && sc > 0, 1L).otherwise(0L)).as("fp"),
        sum(when(!y && sc <= 0, 1L).otherwise(0L)).as("tn"),
        sum(when(y && sc <= 0, 1L).otherwise(0L)).as("fn"))
      .crossJoin(broadcast(r2))
      .select(col("n_eval"), col("n_pos"), col("n_neg"),
        col("tp"), col("fp"), col("tn"), col("fn"),
        // CASE-guarded like the other ratio metrics (ADVICE r15): an
        // empty scored frame must yield null, not DIVIDE_BY_ZERO
        // under spark.sql.ansi.enabled
        expr("CASE WHEN n_eval > 0 THEN (tp + tn) * 1000000 div n_eval END").as("accuracy_ppm"),
        expr("CASE WHEN tp + fp > 0 THEN tp * 1000000 div (tp + fp) END").as("precision_ppm"),
        expr("CASE WHEN n_pos > 0 THEN tp * 1000000 div n_pos END").as("recall_ppm"),
        expr("CASE WHEN n_pos * n_neg > 0 THEN (r2pos - n_pos * (n_pos + 1)) * 1000000" +
          " div (2 * n_pos * n_neg) END").as("auc_ppm"))
  }
}
