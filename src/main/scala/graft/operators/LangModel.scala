package graft.operators

import graft.Materialize
import graft.functions.TextFunctions._
import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._

/** Count-based language-model scoring for corpus curation — the
  * KenLM/CCNet perplexity-filter family, kept INTEGER-EXACT so the
  * scores hash identically across engines (float log-prob sums are
  * order-dependent; integer inverse-probability ratios are not).
  *
  * Two families, each a train-and-score function plus a persistable
  * model and its apply function (the incremental curation DAG trains
  * its models at the epoch build and applies them to nightly batches —
  * fastText/CCNet model-versioning semantics):
  *  - bigram surprisal: [[bigramSurprisal]], [[bigramCounts]],
  *    [[surprisalApplyCounts]];
  *  - DSIR importance lifts: [[dsirWeight]], [[tokenCounts]],
  *    [[dsirApplyCounts]].
  * All six are thin compositions over four private pieces: one token
  * pass per family (`bigramPass`, `tokenPass`, also the source of the
  * models) and one scoring step per family (`surprisal`, `dsir`), which
  * left-joins the pass to the model and prices out-of-model entries at
  * the add-one-smoothed limits. A trainer caches its pass once and
  * scores it against its own counts, so apply(model(d), d) equals
  * train-and-score(d) bit for bit by construction.
  *
  * Dataflow, sized for a corpus where the token stream is the dominant
  * cost (measured at ×32: ONE tokenize+explode pass ≈ the whole budget):
  * bigrams stay two columns (no per-bigram concat); the model-sized
  * sides join back broadcast below / merge above the MEASURED
  * [[Dedup.BroadcastSafeCorpusRows]] pin (a broadcast build past it
  * would grow with the corpus); each model's size and totals come from
  * one action and enter the formulas as literals; one map-side-combined
  * doc fold ends the plan in a checkpoint.
  */
object LangModel {

  /** Bigram-LM surprisal quality filter: a transition w1→w2 costs its
    * add-one-smoothed inverse conditional probability
    * `(c1 + V) div (c12 + 1)` (c12 = corpus count of the bigram, c1 =
    * corpus count of w1 as a bigram prefix, V = |distinct successor
    * vocabulary|), and a document scores the mean transition cost of
    * its bigrams in ppm; `keep` cuts at `keepPpm`. Predictable prose
    * rides high-count transitions; rare-transition soup scores high.
    * The pass and its bigram counts are cached (computed once, read by
    * the sizing action and the scoring plan) and released on return. */
  def bigramSurprisal(df: DataFrame, idCol: String, textCol: String,
                      keepPpm: Long): DataFrame =
    Materialize.scoped { s =>
      val bi = s.cache(bigramPass(df, Seq(idCol), textCol))
      surprisal(bi, s.cache(pairCounts(bi)), idCol, keepPpm)
    }

  /** The TRAIN half of [[bigramSurprisal]] as a persistable model:
    * corpus bigram counts (w1, w2, c12). c1 (prefix totals) and V
    * (successor vocabulary) derive from it at apply time — one table
    * round-trips instead of three. */
  def bigramCounts(df: DataFrame, textCol: String): DataFrame =
    pairCounts(bigramPass(df, Nil, textCol)).toDF("w1", "w2", "c12")

  /** The APPLY half of [[bigramSurprisal]]: score `df` against a
    * PREBUILT [[bigramCounts]] model. Seen bigrams cost exactly the
    * train-and-score formula `(c1 + V) div (c12 + 1)`; bigrams outside
    * the model take the same formula's add-one-smoothed limits
    * (unseen successor: `(c1 + V) div 1`; unseen prefix: `V div 1`), so
    * out-of-model text degrades continuously instead of erroring. The
    * pass is read once, so it is not cached. */
  def surprisalApplyCounts(model: DataFrame, df: DataFrame, idCol: String,
                           textCol: String, keepPpm: Long): DataFrame =
    surprisal(bigramPass(df, Seq(idCol), textCol),
      model.select(col("w1").as("__w1"), col("w2").as("__w2"), col("c12").as("__c12")),
      idCol, keepPpm)

  /** The TRAIN half of [[dsirWeight]] as a persistable model: per-token
    * raw and target occurrence counts (tok, cr, ct). */
  def tokenCounts(df: DataFrame, textCol: String, targetFilter: Column): DataFrame =
    tokenTotals(tokenPass(df, Seq(targetFilter.as("__tgt")), textCol))

  /** The APPLY half of [[dsirWeight]] against a PREBUILT
    * [[tokenCounts]] model: out-of-model tokens take the unseen-token
    * limit `scale · N_raw div (N_tgt + 1)`. The vocabulary size and
    * both totals come from one action; over an empty model the totals
    * are null and so is every lift. */
  def dsirApplyCounts(model: DataFrame, df: DataFrame, idCol: String,
                      textCol: String, keepPpm: Long = 1000000L,
                      scale: Long = 1000000L): DataFrame = {
    val counts = model.select("tok", "cr", "ct")
    dsir(tokenPass(df, Seq(col(idCol)), textCol), counts,
      counts.agg(modelSizes.head, modelSizes.tail: _*).head(), idCol, keepPpm, scale)
  }

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
    * The token pass is cached once; both counts fold from it in one
    * conditional aggregate (no second scan, no filter-join), whose
    * checkpoint job also observes the vocabulary size and both totals. */
  def dsirWeight(df: DataFrame, idCol: String, textCol: String,
                 targetFilter: Column, keepPpm: Long, scale: Long = 1000000L): DataFrame =
    Materialize.scoped { s =>
      val toks = s.cache(tokenPass(df, Seq(col(idCol), targetFilter.as("__tgt")), textCol))
      val (counts, sizes) = s.checkpointObserved(tokenTotals(toks), "dsirWeight", modelSizes: _*)
      dsir(toks, counts, sizes, idCol, keepPpm, scale)
    }

  /** (`ids`…, __w1, __w2): one row per adjacent token pair of every doc
    * with at least two tokens. */
  private def bigramPass(df: DataFrame, ids: Seq[String], textCol: String): DataFrame = {
    val t = col("__toks")
    df.select(ids.map(col) :+ tokens(col(textCol)).as("__toks"): _*)
      .filter(size(t) >= 2)
      .select(ids.map(col) :+ inline(zip_with(
        slice(t, lit(1), size(t) - 1), slice(t, lit(2), size(t) - 1),
        (a, b) => struct(a.as("__w1"), b.as("__w2")))): _*)
  }

  /** Bigram counts (__w1, __w2, __c12) of a [[bigramPass]]. */
  private def pairCounts(bi: DataFrame): DataFrame =
    bi.groupBy("__w1", "__w2").agg(count(lit(1)).as("__c12"))

  /** The one surprisal scoring step: `bi` priced against the bigram
    * counts `c12`, the unseen limits through the coalesced zeros.
    * c12's row count (the join pin) and V come from one action; V is a
    * DISTINCT count, which Spark rejects in observed metrics. */
  private def surprisal(bi: DataFrame, c12: DataFrame, idCol: String,
                        keepPpm: Long): DataFrame = {
    val sizes = c12.agg(count(lit(1)), countDistinct(col("__w2"))).head()
    val c1 = c12.groupBy("__w1").agg(sum(col("__c12")).as("__c1"))
    Materialize.checkpoint(bi
      .join(pinned(c12, sizes), Seq("__w1", "__w2"), "left")
      .join(pinned(c1, sizes), Seq("__w1"), "left")
      .select(col(idCol), expr(s"(coalesce(__c1, cast(0 as bigint)) + ${sizes.getLong(1)}L) div " +
        "(coalesce(__c12, cast(0 as bigint)) + 1)").as("__cost"))
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

  /** (`cols`…, tok): one row per non-empty token. */
  private def tokenPass(df: DataFrame, cols: Seq[Column], textCol: String): DataFrame =
    df.select(cols :+ explode(tokens(col(textCol))).as("tok"): _*)
      .filter(length(col("tok")) > 0)

  /** Raw and target counts (tok, cr, ct) of a [[tokenPass]] carrying `__tgt`. */
  private def tokenTotals(toks: DataFrame): DataFrame =
    toks.groupBy("tok").agg(count(lit(1)).as("cr"),
      sum(when(col("__tgt"), 1L).otherwise(0L)).as("ct"))

  /** A token model's vocabulary size (the join pin), N_raw and N_tgt. */
  private val modelSizes: Seq[Column] = Seq(count(lit(1)), sum(col("cr")), sum(col("ct")))

  /** The one DSIR scoring step: `toks` priced against the per-token
    * lifts of `counts`, an unseen token at the lift of zero counts. */
  private def dsir(toks: DataFrame, counts: DataFrame, sizes: Row, idCol: String,
                   keepPpm: Long, scale: Long): DataFrame = {
    val (nRaw, nTgt) = (sqlLong(sizes, 1), sqlLong(sizes, 2))
    val gains = counts.select(col("tok"),
      expr(s"((ct + 1) * $scale div (cr + 1)) * $nRaw div ($nTgt + 1)").as("__lift"))
    Materialize.checkpoint(toks.join(pinned(gains, sizes), Seq("tok"), "left")
      .select(col(idCol), expr(s"coalesce(__lift, $scale * $nRaw div ($nTgt + 1))").as("__lift"))
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_tokens"), sum(col("__lift")).as("__total"))
      .withColumn("mean_lift_ppm", expr("__total div n_tokens"))
      .withColumn("keep", col("mean_lift_ppm") >= keepPpm)
      .select(col(idCol), col("n_tokens"), col("mean_lift_ppm"), col("keep")))
  }

  /** A model-sized join side: broadcast while the model's row count
    * (field 0 of `sizes`) is within [[Dedup.BroadcastSafeCorpusRows]],
    * merge past it. */
  private def pinned(side: DataFrame, sizes: Row): DataFrame =
    if (sizes.getLong(0) > Dedup.BroadcastSafeCorpusRows) side.hint("merge") else broadcast(side)

  /** Field `i` of `r`, a bigint or null, as a SQL literal. */
  private def sqlLong(r: Row, i: Int): String =
    if (r.isNullAt(i)) "cast(null as bigint)" else s"${r.getLong(i)}L"
}
