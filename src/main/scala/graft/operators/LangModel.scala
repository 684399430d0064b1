package graft.operators

import graft.Materialize
import graft.functions.TextFunctions._
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Count-based language-model scoring for corpus curation — the
  * KenLM/CCNet perplexity-filter family, kept INTEGER-EXACT so the
  * scores hash identically across engines (float log-prob sums are
  * order-dependent; integer inverse-probability ratios are not).
  */
object LangModel {

  /** Bigram-LM surprisal quality filter: a transition w1→w2 costs its
    * add-one-smoothed inverse conditional probability
    * `(c1 + V) div (c12 + 1)` (c12 = corpus count of the bigram, c1 =
    * corpus count of w1 as a bigram prefix, V = |distinct successor
    * vocabulary|), and a document scores the mean transition cost of
    * its bigrams in ppm; `keep` cuts at `keepPpm`. Predictable prose
    * rides high-count transitions; rare-transition soup scores high.
    *
    * Dataflow, sized for a corpus where the token stream is the
    * dominant cost (measured at ×32: ONE tokenize+explode pass ≈ the
    * whole budget, so the naive DAG that recomputes it per derived
    * aggregate pays 3–4× for nothing):
    *  - bigrams stay TWO COLUMNS (w1, w2) — no per-bigram string
    *    concat, no substring re-splitting downstream;
    *  - the (doc, w1, w2, multiplicity) frame is folded map-side in
    *    one shuffle and PERSISTED (the [[Dedup]] shingle-cache
    *    precedent: the corpus-scaling frame every downstream branch
    *    reads is cached spillable, computed exactly once);
    *  - bigram counts / prefix counts / V all derive from the cached
    *    frames; the corpus-scaling cost table joins back by shuffle
    *    (merge pin — a broadcast build here would grow with the
    *    corpus), the 1-row V broadcasts;
    *  - the result is checkpointed; the caches are released on return.
    * Nothing all-pairs, nothing driver-side beyond the 1-row V. */
  def bigramSurprisal(df: DataFrame, idCol: String, textCol: String,
                      keepPpm: Long): DataFrame = {
    val toks = df.select(col(idCol), tokens(col(textCol)).as("__toks"))
      .filter(size(col("__toks")) >= 2)
    Materialize.scoped { s =>
      // NARROW cache: the raw (doc, w1, w2) stream caches without a
      // shuffle — the per-doc multiplicity fold isn't worth its own
      // corpus-wide shuffle (real text rarely repeats a bigram within a
      // doc; the count/sum in the final fold handles it either way)
      val bi = s.cache(toks.select(col(idCol),
          explode(zip_with(
            slice(col("__toks"), lit(1), size(col("__toks")) - 1),
            slice(col("__toks"), lit(2), size(col("__toks")) - 1),
            (a, b) => struct(a.as("w1"), b.as("w2")))).as("__bg"))
        .select(col(idCol), col("__bg.w1").as("__w1"), col("__bg.w2").as("__w2")))
      val c12 = s.cache(bi.groupBy("__w1", "__w2").agg(count(lit(1)).as("__c12")))
      // materializes both caches and measures the bigram vocabulary in
      // one pass — the cost-join strategy pin below is sized by MEASURED
      // vocab rows, not a planner estimate (the Dedup
      // BroadcastSafeCorpusRows rule: below it a broadcast hash join
      // keeps the corpus-sized probe side narrow and sort-free; past it
      // the build would scale with the corpus → merge)
      val nVocab = c12.count()
      val pinMerge = nVocab > Dedup.BroadcastSafeCorpusRows
      val c1 = c12.groupBy("__w1").agg(sum(col("__c12")).as("__c1"))
      val vocab = c12.agg(countDistinct(col("__w2")).as("__v"))
      val costs0 = c12.join(if (pinMerge) c1.hint("merge") else broadcast(c1), "__w1")
        .crossJoin(broadcast(vocab))
        .select(col("__w1"), col("__w2"),
          expr("(__c1 + __v) div (__c12 + 1)").as("__cost"))
      val costs = if (pinMerge) costs0.hint("merge") else broadcast(costs0)
      Materialize.checkpoint(bi.join(costs, Seq("__w1", "__w2"))
        .groupBy(col(idCol))
        .agg(count(lit(1)).as("n_bigrams"), sum(col("__cost")).as("total_cost"))
        // the ppm lift runs in DECIMAL: total_cost is a per-doc sum of
        // costs each bounded by (c1 + V), which scales with corpus token
        // count — on a multi-billion-token corpus a long doc's
        // total_cost·1e6 would exceed 2^63 in int64. DECIMAL(30,0)·1e6
        // needs precision 38, exact; the integral divide lands back in a
        // long. The RESULT stays int64-exact while the per-doc MEAN cost
        // < 2^63/1e6 ≈ 9.2e12 — i.e. while prefix counts stay below ~9e12
        // tokens, the same tens-of-TB bound [[dsirWeight]] documents.
        .withColumn("mean_cost_ppm",
          expr("cast(total_cost as decimal(30,0)) * 1000000 div n_bigrams"))
        .withColumn("keep", col("mean_cost_ppm") <= keepPpm))
    }
  }

  // ──────────── frozen-model train/apply split (r15) ────────────
  // The incremental curation DAG (VERDICT r14 next-round #3) persists
  // its quality models as parquet targets at the EPOCH build and
  // applies them to nightly batches — production model-versioning
  // semantics (fastText/CCNet models are trained occasionally, applied
  // nightly; retraining is a new epoch = a full recompute). The apply
  // functions reproduce the train-and-score functions EXACTLY on
  // in-model inputs (CurateIncrementalSpec locks the formulas) and
  // extend them with the add-one-smoothed out-of-model forms.

  /** The TRAIN half of [[bigramSurprisal]] as a persistable model:
    * corpus bigram counts (w1, w2, c12). c1 (prefix totals) and V
    * (successor vocabulary) derive from it at apply time — one table
    * round-trips instead of three. */
  def bigramCounts(df: DataFrame, textCol: String): DataFrame =
    df.select(tokens(col(textCol)).as("__toks"))
      .filter(size(col("__toks")) >= 2)
      .select(explode(zip_with(
        slice(col("__toks"), lit(1), size(col("__toks")) - 1),
        slice(col("__toks"), lit(2), size(col("__toks")) - 1),
        (a, b) => struct(a.as("w1"), b.as("w2")))).as("__bg"))
      .groupBy(col("__bg.w1").as("w1"), col("__bg.w2").as("w2"))
      .agg(count(lit(1)).as("c12"))

  /** The APPLY half of [[bigramSurprisal]]: score `df` against a
    * PREBUILT [[bigramCounts]] model. Seen bigrams cost exactly the
    * train-and-score formula `(c1 + V) div (c12 + 1)`; bigrams outside
    * the model take the same formula's add-one-smoothed limits
    * (unseen successor: `(c1 + V) div 1`; unseen prefix: `V div 1`) —
    * so apply(model(d), d) == bigramSurprisal(d) bit-for-bit, and
    * out-of-model text degrades continuously instead of erroring.
    * Same dataflow discipline as the trainer: ONE persisted bigram
    * pass, model-sized join sides broadcast below / merge past the
    * measured [[Dedup.BroadcastSafeCorpusRows]] pin. */
  def surprisalApplyCounts(model: DataFrame, df: DataFrame, idCol: String,
                           textCol: String, keepPpm: Long): DataFrame = {
    val toks = df.select(col(idCol), tokens(col(textCol)).as("__toks"))
      .filter(size(col("__toks")) >= 2)
    Materialize.scoped { s =>
      val bi = s.cache(toks.select(col(idCol),
          explode(zip_with(
            slice(col("__toks"), lit(1), size(col("__toks")) - 1),
            slice(col("__toks"), lit(2), size(col("__toks")) - 1),
            (a, b) => struct(a.as("w1"), b.as("w2")))).as("__bg"))
        .select(col(idCol), col("__bg.w1").as("__w1"), col("__bg.w2").as("__w2")))
      val c12 = model.select(col("w1").as("__w1"), col("w2").as("__w2"),
        col("c12").as("__c12"))
      val nVocab = c12.count()
      val pinMerge = nVocab > Dedup.BroadcastSafeCorpusRows
      def pinModel(d: DataFrame) = if (pinMerge) d.hint("merge") else broadcast(d)
      val c1 = c12.groupBy("__w1").agg(sum(col("__c12")).as("__c1"))
      val vocab = c12.agg(countDistinct(col("__w2")).as("__v"))
      Materialize.checkpoint(bi
        .join(pinModel(c12), Seq("__w1", "__w2"), "left")
        .join(pinModel(c1), Seq("__w1"), "left")
        .crossJoin(broadcast(vocab))
        .select(col(idCol),
          expr("(coalesce(__c1, cast(0 as bigint)) + __v) div (coalesce(__c12, cast(0 as bigint)) + 1)")
            .as("__cost"))
        .groupBy(col(idCol))
        .agg(count(lit(1)).as("n_bigrams"), sum(col("__cost")).as("total_cost"))
        .withColumn("mean_cost_ppm",
          expr("cast(total_cost as decimal(30,0)) * 1000000 div n_bigrams"))
        .withColumn("keep", col("mean_cost_ppm") <= keepPpm))
    }
  }

  /** The TRAIN half of [[dsirWeight]] as a persistable model: per-token
    * raw and target occurrence counts (tok, cr, ct). */
  def tokenCounts(df: DataFrame, textCol: String,
                  targetFilter: org.apache.spark.sql.Column): DataFrame =
    df.select(targetFilter.as("__tgt"), explode(tokens(col(textCol))).as("tok"))
      .filter(length(col("tok")) > 0)
      .groupBy("tok")
      .agg(count(lit(1)).as("cr"),
        sum(when(col("__tgt"), 1L).otherwise(0L)).as("ct"))

  /** The APPLY half of [[dsirWeight]] against a PREBUILT
    * [[tokenCounts]] model — the identical smoothed-lift formula with
    * coalesced zero counts for out-of-model tokens (their lift is the
    * unseen-token limit `scale · N_raw div (N_tgt + 1)`), so
    * apply(model(d), d) == dsirWeight(d) bit-for-bit. */
  def dsirApplyCounts(model: DataFrame, df: DataFrame, idCol: String,
                      textCol: String, keepPpm: Long = 1000000L,
                      scale: Long = 1000000L): DataFrame = {
    val counts = model.select(col("tok"), col("cr").as("__cr"), col("ct").as("__ct"))
    // vocabulary size and both token totals in one action; over an
    // empty model the totals are null and so is every lift
    val sizes = counts.agg(count(lit(1)), sum(col("__cr")), sum(col("__ct"))).head()
    val countSide = if (sizes.getLong(0) > Dedup.BroadcastSafeCorpusRows)
      counts.hint("merge") else broadcast(counts)
    Materialize.checkpoint(df
      .select(col(idCol), explode(tokens(col(textCol))).as("tok"))
      .filter(length(col("tok")) > 0)
      .join(countSide, Seq("tok"), "left")
      .select(col(idCol),
        expr(s"((coalesce(__ct, cast(0 as bigint)) + 1) * $scale div " +
          s"(coalesce(__cr, cast(0 as bigint)) + 1)) * ${sqlLong(sizes, 1)} div " +
          s"(${sqlLong(sizes, 2)} + 1)").as("__lift"))
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_tokens"), sum(col("__lift")).as("__total"))
      .withColumn("mean_lift_ppm", expr("__total div n_tokens"))
      .withColumn("keep", col("mean_lift_ppm") >= keepPpm)
      .select(col(idCol), col("n_tokens"), col("mean_lift_ppm"), col("keep")))
  }

  /** Field `i` of `r`, a bigint or null, as a SQL literal. */
  private def sqlLong(r: org.apache.spark.sql.Row, i: Int): String =
    if (r.isNullAt(i)) "cast(null as bigint)" else s"${r.getLong(i)}L"

  /** DSIR-style importance weighting (Xie et al.'s data selection via
    * importance resampling, reduced to its count-LM core): score every
    * document by how much more its tokens look drawn from the TARGET
    * distribution (rows matching `targetFilter`) than from the raw
    * pool, and keep docs at or above `keepPpm`. The per-token weight
    * p_target(w)/p_raw(w) is kept INTEGER-EXACT as a smoothed lift in
    * parts-per-`scale` (the q_cooccur_pmi idiom, at full ppm
    * resolution where digit-count log buckets wash out on mildly
    * separated distributions):
    * `lift = ((c_tgt+1)·scale div (c_raw+1)) · N_raw div (N_tgt+1)`
    * and a doc scores the MEAN token lift; `scale` (1e6) is the
    * "equally likely under both" baseline. All terms are positive, so
    * floor-vs-truncate division semantics agree across engines. Exact
    * in 64-bit while `scale · N_raw < 2^63` — at the default ppm scale
    * that is ~9e12 raw tokens (tens of TB of text); drop `scale` one
    * decade per decade beyond (the first factor is ≤ `scale` because
    * c_tgt ≤ c_raw, so the bound is exactly scale·N_raw).
    *
    * Scale (the [[bigramSurprisal]] dataflow): ONE tokenize+explode
    * pass persisted spillable; BOTH count tables fold from that single
    * pass (target counts are a conditional aggregate — no second scan,
    * no filter-join); the vocabulary size and both totals are observed
    * on the count table's checkpoint job and enter the lift as
    * literals; the vocab-sized
    * lift table joins back broadcast-below / merge-above the measured
    * [[Dedup.BroadcastSafeCorpusRows]] pin; one map-side-combined doc
    * fold ends the plan. */
  def dsirWeight(df: DataFrame, idCol: String, textCol: String,
                 targetFilter: org.apache.spark.sql.Column,
                 keepPpm: Long, scale: Long = 1000000L): DataFrame = {
    Materialize.scoped { s =>
      val toks = s.cache(df.select(col(idCol), targetFilter.as("__tgt"),
          explode(tokens(col(textCol))).as("tok"))
        .filter(length(col("tok")) > 0))
      // the checkpoint job materializes both frames and observes the
      // vocabulary size (the join pin) and the two token totals
      val (counts, sizes) = s.checkpointObserved(toks.groupBy("tok")
        .agg(count(lit(1)).as("__cr"),
          sum(when(col("__tgt"), 1L).otherwise(0L)).as("__ct")),
        "dsirWeight", count(lit(1)), sum(col("__cr")), sum(col("__ct")))
      val gains = counts.select(col("tok"),
        expr(s"((__ct + 1) * $scale div (__cr + 1)) * ${sqlLong(sizes, 1)} div " +
          s"(${sqlLong(sizes, 2)} + 1)").as("__lift"))
      val gainSide = if (sizes.getLong(0) > Dedup.BroadcastSafeCorpusRows)
        gains.hint("merge") else broadcast(gains)
      Materialize.checkpoint(toks.join(gainSide, "tok")
        .groupBy(col(idCol))
        .agg(count(lit(1)).as("n_tokens"),
          sum(col("__lift")).as("__total"))
        .withColumn("mean_lift_ppm", expr("__total div n_tokens"))
        .withColumn("keep", col("mean_lift_ppm") >= keepPpm)
        .select(col(idCol), col("n_tokens"), col("mean_lift_ppm"), col("keep")))
    }
  }
}
