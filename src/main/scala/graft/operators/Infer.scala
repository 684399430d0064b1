package graft.operators

import graft.Materialize
import graft.functions.TextFunctions
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Hashed-feature linear model inference — the fastText /
  * Vowpal-Wabbit hashing trick as a Spark plan: score(doc) =
  * bias + Σ_tokens w[h(token) mod B]. This is how corpus-scale
  * quality/toxicity/language classifiers actually run over training
  * data (a linear model over hashed unigrams), and the plan is the
  * point: the MODEL RIDES THE PLAN as a literal array (B weights ship
  * with the task binary — no join, no broadcast table, no UDF), the
  * feature map is a narrow codegen'd explode, and the only shuffle is
  * the per-doc score aggregation, map-side-combined down to one row
  * per document.
  *
  * Portability: the feature hash is the library's md5 convention
  * (first 3 hex digits → 0..4095, [[Shard.md5Shard]]'s ladder), NOT
  * Spark's internal Murmur3 — so any engine (and the DuckDB oracle)
  * reproduces bucket assignment, and integer weights make the score
  * an exact sum. Docs with no tokens keep the bias score (left join
  * back onto the doc spine; same-key exchange reuse).
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

  /** @param weights the model: weight per hash bucket; size must
    *                divide 4096 (the 3-hex-digit hash range) so
    *                bucket = hex3 mod B stays uniform.
    * @param salt    feature-hash salt — distinct models decorrelate. */
  def linearScore(docs: DataFrame, idCol: String, textCol: String,
                  weights: Seq[Long], bias: Long = 0L,
                  salt: String = "fh", charNgram: Int = 0): DataFrame = {
    val b = weights.length
    require(b > 0 && 4096 % b == 0,
      s"weights size must divide 4096 (3 hex digits); got $b")
    val bucket =
      conv(substring(md5(concat(lit(salt), col("__tok"))), 1, 3), 16, 10)
        .cast("long") % b
    val scores = docs
      .select(col(idCol), explode(featTokens(col(textCol), charNgram)).as("__tok"))
      .filter(length(col("__tok")) > 0)
      .withColumn("__w", element_at(lit(weights.toArray), (bucket + 1).cast("int")))
      .groupBy(idCol)
      .agg(count(lit(1)).as("n_tokens"), sum("__w").as("__sw"))
    docs.select(col(idCol))
      .join(scores, Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("n_tokens"), lit(0L)).as("n_tokens"),
        (coalesce(col("__sw"), lit(0L)) + bias).as("score"))
      .withColumn("keep", col("score") > 0)
  }

  /** Distributed TRAINING for the [[linearScore]] model — the half of
    * the quality-classifier story inference alone left open (VERDICT
    * r14 next-round #1): full-batch gradient descent on logistic loss
    * over the SAME md5-hashed unigram feature space (same salt, same
    * hex3 % B bucketing), so the learned weights feed [[linearScore]]
    * directly as the literal array it already consumes. The fastText /
    * CCNet pattern (a linear model over hashed features) with every
    * arithmetic step EXACT FIXED-POINT, so a DuckDB oracle replays the
    * whole training trajectory by unrolling the gradient steps as
    * chained CTEs (the q_kmeans Lloyd-round discipline):
    *
    *  - weights/bias live in ppm longs, initialized to 0;
    *  - score  z_d = bias + Σ_b w_b · x_db   (x = bucket token counts);
    *  - probability is the HARD sigmoid in ppm (the piecewise-linear
    *    σ̂(z) = clamp(½ + z/4, 0, 1) used by quantized trainers —
    *    transcendental exp would break engine parity):
    *    p_d = least(10⁶, greatest(0, 500000 + z_d div 4));
    *  - error e_d = p_d − 10⁶·y_d; gradients g_b = Σ_d e_d · x_db
    *    (g_{-1} = Σ_d e_d for the bias, as a pseudo-feature);
    *  - update w_b ← w_b − g_b div (N · lrDiv) — truncating division,
    *    identical on JVM longs and DuckDB `//`.
    *
    * Scale shape (the Lloyd-round idiom): the per-doc bucket-count
    * MAP is built once (one doc-keyed shuffle, ≤ B+1 entries per doc)
    * and checkpointed; each step is then a NARROW map (z, p, e from
    * literal weights riding the plan) plus ONE map-side-combined
    * aggregate whose reduced size is B+1 cells per partition
    * REGARDLESS of corpus rows, and a (B+1)-row collect (the
    * config-bounded k×dim class). Docs with no tokens carry no
    * gradient signal under hashed-unigram features and are excluded
    * (documented contract; [[linearScore]] still scores them by bias).
    *
    * @return (weights per bucket 0..B-1, bias) in ppm — plug straight
    *         into [[linearScore]](weights, bias). */
  def trainLogistic(docs: DataFrame, idCol: String, textCol: String,
                    label: Column, buckets: Int = 64, iters: Int = 3,
                    lrDiv: Long = 8L, salt: String = "fh",
                    charNgram: Int = 0): (IndexedSeq[Long], Long) = {
    require(buckets > 0 && 4096 % buckets == 0,
      s"buckets must divide 4096 (3 hex digits); got $buckets")
    require(iters >= 1 && lrDiv >= 1, "iters and lrDiv must be positive")
    val bucket = (conv(substring(md5(concat(lit(salt), col("__tok"))), 1, 3), 16, 10)
      .cast("long") % buckets).cast("int")
    Materialize.scoped { s =>
      // one doc-keyed shuffle builds the per-doc feature map; the bias
      // pseudo-feature (bucket -1, x 1) rides inside it so each step's
      // gradient explode covers bias and weights in one pass. It is
      // checkpointed, not cached: every iteration re-analyzes its step
      // plan from docFeats, and a LogicalRDD leaf spares the planner a
      // walk of the explode/groupBy build tree per iteration. Its
      // checkpoint job also counts the docs (observed) to size updates
      val (docFeats, sized) = s.checkpointObserved(docs
        .select(col(idCol), label.cast("boolean").as("__y"),
          explode(featTokens(col(textCol), charNgram)).as("__tok"))
        .filter(length(col("__tok")) > 0)
        .withColumn("__b", bucket)
        .groupBy(col(idCol), col("__y"), col("__b"))
        .agg(count(lit(1)).as("__x"))
        .groupBy(col(idCol), col("__y"))
        .agg(map_concat(
          map_from_entries(collect_list(struct(col("__b"), col("__x")))),
          map(lit(-1), lit(1L))).as("__m")),
        "trainLogistic", count(lit(1)))
      val nDocs = sized.getLong(0)
      require(nDocs > 0, "trainLogistic: no docs with >= 1 token")
      var bias = 0L
      var w = IndexedSeq.fill(buckets)(0L)
      for (_ <- 1 to iters) {
        // literal lookup array: index 1 = bias (key -1), 2.. = buckets
        val wArr = (bias +: w).toArray
        val z = aggregate(map_entries(col("__m")), lit(0L),
          (acc, e) => acc + element_at(lit(wArr), e("key") + lit(2)) * e("value"))
        val e = (least(lit(1000000L), greatest(lit(0L), lit(500000L) + expr("__z div 4")))
          - when(col("__y"), lit(1000000L)).otherwise(lit(0L)))
        val grads = docFeats
          .withColumn("__z", z)
          .withColumn("__e", e)
          .select(col("__e"), explode(map_entries(col("__m"))).as("__kv"))
          .groupBy(col("__kv.key").as("b"))
          .agg(sum(col("__e") * col("__kv.value")).as("g"))
          .collect()
          .map(r => r.getInt(0) -> r.getLong(1)).toMap
          .withDefaultValue(0L)
        val denom = nDocs * lrDiv
        bias -= grads(-1) / denom
        w = w.indices.map(b => w(b) - grads(b) / denom)
      }
      (w, bias)
    }
  }

  /** MULTICLASS classifier training — one-vs-rest logistic regression
    * over the same hashed-feature space as [[trainLogistic]], the
    * in-engine langid trainer (fastText's supervised shape: K linear
    * heads over shared hashed unigrams). Every arithmetic step is the
    * binary trainer's exact fixed-point (hard-sigmoid ppm, truncating
    * division), applied per class against the one-hot label y_c =
    * (class == c), so a DuckDB oracle replays the whole K-class
    * trajectory with a `cls` dimension on the weight table.
    *
    * Scale shape: the per-doc feature map is built ONCE (one doc-keyed
    * shuffle) and shared by all classes; each step computes all K
    * scores from literal weight arrays riding the plan (narrow), then
    * ONE map-side-combined aggregate whose reduced size is K·(B+1)
    * cells regardless of corpus rows, and a K·(B+1)-row collect. The
    * class vocabulary is collected once, as a `collect_set` observed
    * on the feature map's checkpoint job (bounded: a label vocabulary,
    * not data-scaled), and ordered, so class indexing is
    * deterministic; a null class fails fast.
    *
    * @return per class (sorted): (class, weights 0..B-1, bias) in ppm —
    *         each plugs into [[linearScore]]; argmax over the K scores
    *         is the predicted class. */
  def trainOvr(docs: DataFrame, idCol: String, textCol: String,
               classCol: Column, buckets: Int = 64, iters: Int = 3,
               lrDiv: Long = 8L, salt: String = "fh",
               charNgram: Int = 0): Seq[(String, IndexedSeq[Long], Long)] = {
    require(buckets > 0 && 4096 % buckets == 0,
      s"buckets must divide 4096 (3 hex digits); got $buckets")
    require(iters >= 1 && lrDiv >= 1, "iters and lrDiv must be positive")
    val bucket = (conv(substring(md5(concat(lit(salt), col("__tok"))), 1, 3), 16, 10)
      .cast("long") % buckets).cast("int")
    Materialize.scoped { s =>
      // checkpointed, not cached: see trainLogistic. Its checkpoint
      // job also counts the docs and collects the class set (observed)
      val (docFeats, sized) = s.checkpointObserved(docs
        .select(col(idCol), classCol.cast("string").as("__y"),
          explode(featTokens(col(textCol), charNgram)).as("__tok"))
        .filter(length(col("__tok")) > 0)
        .withColumn("__b", bucket)
        .groupBy(col(idCol), col("__y"), col("__b"))
        .agg(count(lit(1)).as("__x"))
        .groupBy(col(idCol), col("__y"))
        .agg(map_concat(
          map_from_entries(collect_list(struct(col("__b"), col("__x")))),
          map(lit(-1), lit(1L))).as("__m")),
        "trainOvr", count(lit(1)), count(col("__y")), collect_set(col("__y")))
      val nDocs = sized.getLong(0)
      require(nDocs > 0, "trainOvr: no docs with >= 1 token")
      require(sized.getLong(1) == nDocs, "trainOvr: a doc with >= 1 token has a null class")
      val classes = sized.getSeq[String](2).sorted
      var model: Map[String, (Long, IndexedSeq[Long])] =
        classes.map(c => c -> (0L, IndexedSeq.fill(buckets)(0L))).toMap
      for (_ <- 1 to iters) {
        // all K score columns in ONE projection: the former per-class
        // withColumn chain re-ran full plan analysis K times per
        // iteration over a K-deep projection stack (the classic
        // withColumn-in-a-loop driver tax)
        val zCols = classes.zipWithIndex.map { case (c, i) =>
          val (b0, w0) = model(c)
          val wArr = (b0 +: w0).toArray
          aggregate(map_entries(col("__m")), lit(0L),
            (acc, e) => acc + element_at(lit(wArr), e("key") + lit(2)) * e("value"))
            .as(s"__z$i")
        }
        val frame = docFeats.select(col("*") +: zCols: _*)
        val eArr = array(classes.zipWithIndex.map { case (c, i) =>
          struct(lit(i).as("ci"),
            (least(lit(1000000L), greatest(lit(0L), lit(500000L) + expr(s"__z$i div 4")))
              - when(col("__y") === c, lit(1000000L)).otherwise(lit(0L))).as("e"))
        }: _*)
        val grads = frame
          .select(explode(eArr).as("__ce"), col("__m"))
          .select(col("__ce.ci").as("ci"), col("__ce.e").as("e"),
            explode(map_entries(col("__m"))).as("__kv"))
          .groupBy(col("ci"), col("__kv.key").as("b"))
          .agg(sum(col("e") * col("__kv.value")).as("g"))
          .collect()
          .map(r => (r.getInt(0), r.getInt(1)) -> r.getLong(2)).toMap
          .withDefaultValue(0L)
        val denom = nDocs * lrDiv
        model = classes.zipWithIndex.map { case (c, i) =>
          val (b0, w0) = model(c)
          c -> (b0 - grads((i, -1)) / denom,
            w0.indices.map(b => w0(b) - grads((i, b)) / denom))
        }.toMap
      }
      classes.map(c => (c, model(c)._2, model(c)._1))
    }
  }

  /** Argmax PREDICTION over [[trainOvr]]'s K heads in ONE pass — the
    * inference half of the multiclass loop. All K scores come from
    * literal weight arrays riding the plan (no joins, no broadcast
    * tables); the winner is the max (score, class-order) struct, ties
    * broken toward the FIRST class in the sorted vocabulary (the same
    * deterministic rule an oracle replays with
    * row_number(ORDER BY score DESC, cls)). Token-less docs score
    * bias-only, like [[linearScore]].
    *
    * Scale: one narrow token explode + ONE map-side-combined per-doc
    * aggregate carrying K running sums, then a doc-spine left join —
    * the linearScore shape, K columns wide instead of one.
    *
    * @return (idCol, pred_<i.e. predicted class>, score of winner). */
  def predictOvr(docs: DataFrame, idCol: String, textCol: String,
                 models: Seq[(String, IndexedSeq[Long], Long)],
                 salt: String = "fh", charNgram: Int = 0): DataFrame = {
    require(models.nonEmpty, "predictOvr needs at least one class head")
    // the rk = K−i tie key below encodes "first class in the SORTED
    // vocabulary" only when callers pass models sorted and distinct —
    // fail loudly on any other ordering instead of silently breaking
    // the documented tie rule (ADVICE r15)
    require(models.map(_._1) == models.map(_._1).sorted &&
        models.map(_._1).distinct.size == models.size,
      "predictOvr: models must be sorted by distinct class name " +
        "(the tie rule resolves toward the first sorted class)")
    val b = models.head._2.length
    require(models.forall(_._2.length == b), "heads must share bucket count")
    val bucket =
      conv(substring(md5(concat(lit(salt), col("__tok"))), 1, 3), 16, 10)
        .cast("long") % b
    val sums = models.zipWithIndex.map { case ((cls, w, _), i) =>
      sum(element_at(lit(w.toArray), (col("__b") + 1).cast("int"))).as(s"__sw$i")
    }
    val perDoc = docs
      .select(col(idCol), explode(featTokens(col(textCol), charNgram)).as("__tok"))
      .filter(length(col("__tok")) > 0)
      .withColumn("__b", bucket)
      .groupBy(idCol)
      .agg(sums.head, sums.tail: _*)
    // winner = max (score, classRank, cls) struct; classRank = K − i
    // so a score tie resolves toward the FIRST sorted class
    val k = models.size
    val candidates = array(models.zipWithIndex.map { case ((cls, _, bias), i) =>
      struct((coalesce(col(s"__sw$i"), lit(0L)) + bias).as("score"),
        lit(k - i).as("rk"), lit(cls).as("cls"))
    }: _*)
    docs.select(col(idCol))
      .join(perDoc, Seq(idCol), "left")
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
