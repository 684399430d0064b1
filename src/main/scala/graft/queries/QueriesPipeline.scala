package graft.queries

import graft.Materialize
import graft.operators.{Cleaning, Components, Dedup, Derive, Ids, Joins, LangModel, Mix, Pack, Reshape, Select, Split, Tokenize}
import graft.sources.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Composition batch: the reference's essence is not any single
  * operator but the CHAIN — extract → clean → cross-ref → temporal
  * association → derive → observations → wide doc, wired as one
  * dataflow (workflow/main.py:75; observation_mapper.py:125 alone
  * consumes five upstream jobs' outputs; experiment_bw_age_calculator
  * .py:291 sits mid-chain). q_pipeline_e2e runs that whole shape as
  * ONE query against ONE DuckDB oracle — the composition is where
  * column collisions, nullability drift, and plan blowups appear.
  *
  * Also here: the spec-TABLE-driven mapping engine (config/constants
  * .py analog) and reproducible surrogate ids — both "day one of a
  * port" needs.
  *
  * Oracle-parity conventions follow QueriesCore.scala's scaladoc.
  * Money/measures ride as long cents (floor(x*100 + 0.5): identical
  * half-rounding on every engine, unlike round()); time deltas as long
  * micros; JSON docs carry only strings and longs (double formatting
  * differs across engines).
  */
object QueriesPipeline {

  private val segMap = Map("AUTOMOBILE" -> "AUTO", "BUILDING" -> "BLD",
    "FURNITURE" -> "FURN", "HOUSEHOLD" -> "HH", "MACHINERY" -> "MACH")

  // --- the six pipeline stages as named functions, composed inline by
  // wideDocs (one lineage chain) and as parquet-target stages by
  // wideDocsStages (Targets.run — the Luigi-analog operating mode).

  /** 1. CLEAN (experiment_cleaner.py): required-null drop + measure
    * normalization to exact long cents in the scan projection. */
  private[graft] def stageCleanClicks(events: DataFrame): DataFrame =
    events.filter(col("event_type") === "click")
      .transform(Cleaning.dropRequiredNulls(Seq("event_id", "user_id", "ts")))
      .select(col("event_id"), col("user_id"),
        unix_micros(col("ts")).as("t_us"),
        floor(col("value") * 100 + 0.5).cast("long").as("m_value_c"))

  /** The registry dims get their own cleaning (vocabulary mapping). */
  private[graft] def stageRegistry(customer: DataFrame): DataFrame =
    customer.transform(Cleaning.mapValues("c_mktsegment", segMap))

  /** 2. CROSS-REF (specimen_cross_ref.py:130): primary registry on
    * user id, unmatched remainder retries a legacy key. */
  private[graft] def stageXref(clicks: DataFrame, reg: DataFrame): DataFrame = {
    val prim = reg.filter(col("c_acctbal") > 100)
      .select(col("c_custkey").as("pk"), col("c_mktsegment").as("segment"))
    val sec = reg.filter(col("c_custkey") < 500)
      .select(col("c_custkey").as("sk"), col("c_mktsegment").as("segment"))
    Joins.fallbackJoin(
        clicks.withColumn("legacy_key", col("user_id") % 500),
        prim, ("user_id", "pk"), sec, ("legacy_key", "sk"))
      .withColumn("segment", coalesce(col("segment"), lit("UNKNOWN")))
  }

  /** 3. TEMPORAL ASSOCIATION (experiment_bw_age_calculator.py:291):
    * most recent purchase at-or-before each click — the custom
    * physical as-of operator (one shuffle+sort per side, O(1)
    * streaming merge), right side deduped per (key, instant).
    * repartition by user_id BEFORE the (user, instant) dedup: the
    * hash clustering on user_id satisfies both the dedup's grouping
    * (subset key) and the as-of's distribution, so the right side
    * shuffles ONCE end-to-end instead of (user,ts) then user. The
    * map-side combine given up is near-worthless here ((user,ts)
    * groups are almost unique), the saved shuffle is not. */
  private[graft] def stageAssoc(xref: DataFrame, events: DataFrame): DataFrame = {
    val purchases = events.filter(col("event_type") === "purchase")
      .repartition(col("user_id"))
      .groupBy(col("user_id").as("p_user"), col("ts").as("p_ts"))
      .agg(min_by(col("value"), col("event_id")).as("p_value"))
      .select(col("p_user"), unix_micros(col("p_ts")).as("p_t_us"),
        floor(col("p_value") * 100 + 0.5).cast("long").as("m_pvalue_c"))
    graft.plans.AsOfJoin.backward(xref, purchases,
      "user_id", "p_user", "t_us", "p_t_us")
  }

  /** 4. DERIVE (experiment_parameter_derivator.py): runtime string
    * formulas over the associated row, later ones reading earlier. */
  private[graft] def stageDerive(assoc: DataFrame): DataFrame =
    Derive.applyFormulas(assoc, Seq(
      "m_lag_us" -> "t_us - p_t_us",
      "m_total_c" -> "m_value_c + coalesce(m_pvalue_c, cast(0 as bigint))",
      "m_ratio_pm" -> ("CASE WHEN m_pvalue_c IS NULL OR m_pvalue_c <= 0 THEN NULL " +
        "ELSE m_value_c * 1000 div m_pvalue_c END")))

  /** 5. OBSERVATIONS (observation_mapper.py:125): wide → long, null
    * measures dropped (a parameter the association didn't yield). */
  private[graft] def stageObservations(derived: DataFrame): DataFrame =
    Reshape.unpivot(
        Seq("user_id", "segment", "match_source", "event_id"),
        Seq("m_value_c", "m_pvalue_c", "m_lag_us", "m_total_c", "m_ratio_pm"),
        "measure", "value", castTo = Some("bigint"))(derived)
      .filter(col("value").isNotNull)

  /** 6. WIDE DOC (impc_api_mapper.py:535): one JSON doc per user —
    * sorted observation array, longs-and-strings-only payload. */
  private[graft] def stageWideDoc(obs: DataFrame): DataFrame =
    obs.groupBy("user_id", "segment", "match_source")
      .agg(sort_array(collect_list(struct(col("event_id").as("e"),
          col("measure").as("m"), col("value").as("v")))).as("obs"),
        count(lit(1)).as("n_obs"))
      .select(col("user_id"), col("segment"), col("match_source"), col("n_obs"),
        to_json(struct(col("user_id").as("id"), col("segment").as("seg"),
          col("match_source").as("src"), col("obs"))).as("doc"))

  /** The whole reference chain as one dataflow over explicit inputs —
    * shared verbatim by the batch query (q_pipeline_e2e) and its
    * incremental twin (`EventStream.pipelineIncremental`, which
    * re-runs it per micro-batch on each dirty user's full history:
    * every stage is user-local, so a per-user restriction is exact). */
  def wideDocs(events: DataFrame, customer: DataFrame): DataFrame =
    stageWideDoc(stageObservations(stageDerive(
      stageAssoc(stageXref(stageCleanClicks(events), stageRegistry(customer)),
        events))))

  /** The SAME chain as a Targets DAG (operators/Targets.scala) — the
    * reference's Luigi operating mode: each stage materializes a
    * parquet target, a re-run skips complete targets, and an upstream
    * change re-runs exactly its downstream cone. The stage functions
    * are shared with wideDocs, so DAG output == inline output by
    * construction (spec-asserted, TargetsSpec). */
  def wideDocsStages(sfDir: String): Seq[graft.operators.Targets.Stage] = {
    import graft.operators.Targets.Stage
    Seq(
      Stage("clean_clicks", Nil,
        (s, _) => stageCleanClicks(Tables(s, sfDir).events)),
      Stage("registry", Nil,
        (s, _) => stageRegistry(Tables(s, sfDir).customer)),
      Stage("xref", Seq("clean_clicks", "registry"),
        (_, up) => stageXref(up("clean_clicks"), up("registry"))),
      Stage("assoc", Seq("xref"),
        (s, up) => stageAssoc(up("xref"), Tables(s, sfDir).events)),
      Stage("derived", Seq("assoc"), (_, up) => stageDerive(up("assoc"))),
      Stage("observations", Seq("derived"),
        (_, up) => stageObservations(up("derived"))),
      Stage("wide_doc", Seq("observations"),
        (_, up) => stageWideDoc(up("observations"))))
  }

  /** The CURATION endgame — the round-10 operator islands composed as
    * the one dataflow a pretraining pipeline actually ships, ending in
    * a per-document curation MANIFEST (the audit artifact: why each
    * surviving doc is in the set, which split it landed in, which
    * training bin packs it):
    *
    *   1. LM quality filter  ([[LangModel.bigramSurprisal]], the
    *      corpus-trained bigram surprisal gate at 35e6 ppm)
    *   2. exact dedup        ([[Dedup.exact]], min-id survivor per
    *      content fingerprint)
    *   3. near-dup dedup     (`nearDupStrategy` config: "lossless" —
    *      [[Dedup.prefixFilterJaccard]] 3-gram J≥0.5 pairs — or
    *      "pruned" — [[Dedup.minhashPrunedJaccard]], LSH-banded
    *      candidates exactly re-scored; both → [[Components]]
    *      min-label → keep each component's representative). The
    *      default is "auto" since r14: the measured post-exact-dedup
    *      doc count picks lossless below [[AutoPrunedMinDocs]] (the
    *      whole chain stays hash-verifiable against one chained
    *      DuckDB oracle at that scale) and pruned past it — the
    *      100 TB configuration the ×32/×100 A/B measured (fixed-width
    *      signature shuffle instead of corpus-text prefix shuffle;
    *      identical manifest per CurateStrategySpec, which also pins
    *      both sides of the auto rule).
    *   4. DSIR scoring       ([[LangModel.dsirWeight]], target = en)
    *   5. token-budget cut   ([[Select.tokenBudget]], best docs by
    *      mean lift until 12k tokens, auditable running total)
    *   6. leak-free split    ([[Split.leakFree]] keyed on 5-shingle
    *      co-occurrence components of the SELECTED corpus — split
    *      leakage guards residual overlap BELOW the dedup threshold)
    *   7. packing            ([[Pack.sequences]] over the train split
    *      at the SQL-replayable maxOpenBins=1 config, 512-token bins)
    *
    * Scale shape: stages 1–4 are the measured corpus-linear operators
    * (each persists its dominant tokenize pass once); everything after
    * the budget cut is BOUNDED BY CONFIG (≤ budget/1 docs), so the
    * tail joins are AQE-broadcast dimension joins at any corpus size.
    * Stage boundaries localCheckpoint(eager=false) exactly where a
    * production pipeline would materialize an intermediate table
    * (the q_corpus_e2e discipline).
    *
    * `corpusSizeHint` (r15, VERDICT r14 next-round #6): a production
    * Targets run that already KNOWS its post-exact-dedup corpus size
    * (from the previous night's manifest, or an upstream count) can
    * pass it to skip the auto-strategy's resolving count() action —
    * the rule then reads the hint instead of measuring (Option
    * .getOrElse is lazy: no hint → the count runs exactly as before,
    * which also eagerly materializes the canon checkpoint; with a
    * hint the checkpoint materializes at its first consumer instead).
    * The hint changes WHICH pair generator runs, never the manifest —
    * CurateStrategySpec pins both resolutions against the explicit
    * strategies. */
  private[graft] def curateManifest(docs0: DataFrame,
                                    nearDupStrategy: String = "auto",
                                    budget: Long = 12000L,
                                    keepPpm: Long = 35000000L,
                                    corpusSizeHint: Option[Long] = None): DataFrame = {
    val docs = docs0.select(col("doc_id"), col("text"), col("lang"))
    // 1. LM filter (docs with <2 tokens carry no bigram signal: dropped)
    val lmKeep = LangModel.bigramSurprisal(docs, "doc_id", "text",
        keepPpm = keepPpm)
      .filter(col("keep")).select("doc_id")
    val kept = docs.join(lmKeep, "doc_id")
    // 2. exact dedup (min-id survivor per fingerprint)
    // canon feeds pair-gen AND the reps filter
    val canon = Materialize.checkpoint(docs
      .join(Dedup.exact(kept, "doc_id", "text").select("doc_id"), "doc_id"), eager = false)
    // 3. near-dup components over the J>=0.5 pair set — strategy
    // selects the pair GENERATOR only; both emit the same schema and
    // bit-exact jaccard, so everything downstream is shared. "auto"
    // (the default since r14) picks by MEASURED post-exact-dedup
    // corpus size: the count() both resolves the strategy and
    // materializes the canon checkpoint its consumers reuse — at
    // verify/oracle scale auto always lands on lossless, so the
    // chained DuckDB oracle keeps checking the default chain.
    val pairs = nearDupPairs(canon, nearDupStrategy, corpusSizeHint)
    val comp = Components.connectedComponents(pairs)
      .withColumnRenamed("node", "doc_id")
    val reps = canon.join(comp, Seq("doc_id"), "left")
      .filter(coalesce(col("component"), col("doc_id")) === col("doc_id"))
      .drop("component")
    // 4. DSIR importance scoring on the deduped corpus (target = en)
    val scored = LangModel.dsirWeight(reps, "doc_id", "text",
        targetFilter = col("lang") === "en", keepPpm = 1000000L)
      .select("doc_id", "n_tokens", "mean_lift_ppm")
    // 5.–7. the config-bounded tail, shared with the incremental DAG
    manifestTail(docs, scored, budget)
  }

  /** Measured crossover for the AUTO near-dup strategy (r14, VERDICT
    * r13 #3): below this many post-exact-dedup docs the lossless
    * prefix filter wins (its bucket shuffle is small and the chain
    * stays verifiable end-to-end against one oracle); above it the
    * minhash-pruned generator wins — the ×32/×100 A/B measured the
    * prefix-shingle shuffle at 24.9 GB with 80.7 GB spill vs the
    * banded signature path's 2.2 GB / 0 spill for an IDENTICAL
    * manifest (SCALE_r13 curate_neardup_strategy_ab). The corpora pin
    * the crossover loosely — lossless was still fine at ×10 (~50k
    * docs) and clearly losing at ×32 (~160k) — so the threshold sits
    * between, and deliberately ABOVE [[Dedup.BroadcastSafeCorpusRows]]
    * (the two knobs gate different costs: join build sides vs pair-
    * generation shuffle). */
  val AutoPrunedMinDocs: Long = 100000L

  /** The pure auto rule, exposed for CurateStrategySpec to pin both
    * sides of the threshold without benching a 100k-doc corpus. */
  private[graft] def resolveNearDupStrategy(strategy: String, canonDocs: => Long,
                                            autoMinDocs: Long = AutoPrunedMinDocs): String =
    strategy match {
      case "auto" => if (canonDocs > autoMinDocs) "pruned" else "lossless"
      case s => s
    }

  /** The ONE near-dup pair-generator selection (curate stage 3),
    * shared by [[curateManifest]], [[epochReps]] and
    * [[curatePinnedBatch]] so the strategy rule and the generator
    * configs can never diverge between the batch and incremental
    * chains. Both generators emit the same schema and bit-exact
    * jaccard (CurateStrategySpec). */
  private[graft] def nearDupPairs(canon: DataFrame, strategy: String,
                                  sizeHint: Option[Long] = None): DataFrame =
    resolveNearDupStrategy(strategy, sizeHint.getOrElse(canon.count())) match {
      case "lossless" => Dedup.prefixFilterJaccard(canon, "doc_id", "text",
        shingleN = 3, threshold = 0.5)
      case "pruned" => Dedup.minhashPrunedJaccard(canon, "doc_id", "text",
        shingleN = 3, threshold = 0.5, numHashes = 32, bands = 16)
      case other => throw new IllegalArgumentException(
        s"nearDupStrategy must be 'auto', 'lossless' or 'pruned', got '$other'")
    }

  /** Stages 5–7 of [[curateManifest]] — token budget, leak-free split,
    * packing, manifest assembly — parameterized by the SCORED set so
    * the batch chain and the incremental DAG (r15) ride the identical
    * code (DAG output == batch output by construction wherever their
    * scored sets agree). `docs` must carry (doc_id, text, lang) for
    * the selection's shingle edges and the manifest's lang column;
    * everything here is CONFIG-BOUNDED past the budget cut. */
  private[graft] def manifestTail(docs: DataFrame, scored: DataFrame,
                                  budget: Long): DataFrame = {
    import graft.functions.TextFunctions.{shinglesOfTokens, tokens}
    // 5. global token budget; output is CONFIG-BOUNDED from here on
    // consumed by split, pack, manifest
    val sel = Materialize.checkpoint(Select.tokenBudget(scored, "doc_id", "n_tokens",
      "mean_lift_ppm", budget = budget), eager = false)
    // 6. leak-free split on residual 5-shingle overlap of the selection
    val sh5 = docs.join(sel.select("doc_id"), "doc_id")
      .select(col("doc_id"),
        explode(shinglesOfTokens(tokens(col("text")), 5)).as("sh"))
      .distinct()
    val edges = Dedup.pairsFromBuckets(sh5, Seq("sh"), "doc_id", maxBucket = 20)
    // consumed by pack and manifest
    val spl = Materialize.checkpoint(Split.leakFree(sel.select("doc_id"), "doc_id", edges),
      eager = false)
    // 7. pack the train split into 512-token context windows
    val trainCounts = sel
      .join(spl.filter(col("split") === "train").select("doc_id"), "doc_id")
      .select(col("doc_id"), col("n_tokens"))
    val bins = Pack.sequences(trainCounts, "doc_id", "n_tokens",
      maxTokens = 512, numShards = 16, maxOpenBins = 1)
    val docBins = bins
      .select(col("bin_id"), explode(split(col("doc_ids"), ",")).as("__m"))
      .select(col("__m").cast("long").as("doc_id"), col("bin_id"))
    sel.join(docs.select("doc_id", "lang"), "doc_id")
      .join(spl.select("doc_id", "component", "split"), "doc_id")
      .join(docBins, Seq("doc_id"), "left")
      .select(col("doc_id"), col("lang"), col("n_tokens"),
        col("mean_lift_ppm"), col("cum_tokens"), col("component"),
        col("split"), col("bin_id"))
  }

  // ─────────────── incremental curation (r15) ───────────────
  // VERDICT r14 next-round #3: the curation flagship as a nightly
  // O(batch) ingest. Epoch semantics (production model versioning):
  // the LM gate's bigram counts and the DSIR token counts are TRAINED
  // on the history epoch and persisted as parquet targets; nightly
  // batches are gated/scored with those FROZEN models (add-one-smoothed
  // outside the model — LangModel.surprisalApplyCounts /
  // dsirApplyCounts), and dedup rides the persisted exact + minhash
  // signature indexes, so no nightly stage ever re-reads history TEXT.
  // The config-bounded tail (budget cut → split → pack) re-runs over
  // the cumulative NARROW scored set ((doc_id, n_tokens, lift) — no
  // text) plus the selection's own text, so it stays cheap at any
  // history size. Retraining the models = a new epoch = the batch
  // recompute. Ingest contract: batch ids EXCEED history ids (min-id
  // survivor semantics then agree with the batch recompute; the
  // q_ingest id-monotonicity contract). Known divergence vs a full
  // recompute, inherited from the incremental verdict rules and
  // documented there (Dedup.incrementalNearDupIndexed): a batch doc
  // BRIDGING two history components merges them in a recompute but
  // not incrementally; near-dup FAMILIES (cliques) agree exactly —
  // CurateIncrementalSpec proves manifest equality with the
  // pinned-model batch recompute on corpus and fixture.

  /** Exact-survivor reps of the history epoch: canon docs (the exact
    * index's survivors) → lossless prefix-filter pairs at the curate
    * threshold → connected components → min-id representatives. The
    * [[curateManifest]] stage-3 shape over the epoch corpus. */
  private[graft] def epochReps(exactIndex: DataFrame, hist: DataFrame,
                               strategy: String = "auto"): DataFrame = {
    val canon = Materialize.checkpoint(hist.join(
      exactIndex.select(col("hist_id").as("doc_id")).distinct(), "doc_id"), eager = false)
    val pairs = nearDupPairs(canon, strategy)
    val comp = Components.connectedComponents(pairs)
      .withColumnRenamed("node", "doc_id")
    canon.join(comp, Seq("doc_id"), "left")
      .filter(coalesce(col("component"), col("doc_id")) === col("doc_id"))
      .drop("component")
  }

  /** One combined nightly verdict per batch doc — the audit artifact
    * an ingest run writes: `lm_drop` (failed the frozen LM gate, or
    * had < 2 tokens), `dup_exact_history`/`dup_exact_batch` (content
    * fingerprint), `dup_near_history`/`dup_near_batch` (J ≥ 0.5
    * against the signature index / within the batch), else `new`;
    * `canonical_id` is the doc downstream rewrites to (itself for
    * `lm_drop`/`new`). Each stage only sees the previous stage's
    * survivors, so the triage narrows as it proceeds (the
    * [[curateManifest]] stage order). */
  private[graft] def nightVerdicts(lmModel: DataFrame, exactIndex: DataFrame,
                                   ndIndex: DataFrame, batch: DataFrame,
                                   keepPpm: Long = 35000000L): DataFrame = {
    val gate = LangModel.surprisalApplyCounts(lmModel, batch, "doc_id", "text",
        keepPpm)
      .select(col("doc_id"), col("keep").as("__lm_keep"))
    val keptDocs = batch.join(
      gate.filter(col("__lm_keep")).select("doc_id"), "doc_id")
    val ex = Dedup.incrementalExactIndexed(exactIndex, keptDocs, "doc_id", "text")
      .select(col("doc_id"), col("status").as("__ex_status"),
        col("canonical_id").as("__ex_canon"))
    val exNewDocs = batch.join(
      ex.filter(col("__ex_status") === "new").select("doc_id"), "doc_id")
    val nd = Dedup.incrementalNearDupIndexed(ndIndex, exNewDocs, "doc_id", "text",
        threshold = 0.5)
      .select(col("doc_id"), col("status").as("__nd_status"),
        col("canonical_id").as("__nd_canon"))
    batch.select("doc_id")
      .join(gate, Seq("doc_id"), "left")
      .join(ex, Seq("doc_id"), "left")
      .join(nd, Seq("doc_id"), "left")
      .select(col("doc_id"),
        when(!coalesce(col("__lm_keep"), lit(false)), lit("lm_drop"))
          .when(col("__ex_status") === "dup_history", lit("dup_exact_history"))
          .when(col("__ex_status") === "dup_batch", lit("dup_exact_batch"))
          .when(col("__nd_status") === "dup_history", lit("dup_near_history"))
          .when(col("__nd_status") === "dup_batch", lit("dup_near_batch"))
          .otherwise(lit("new")).as("status"),
        when(col("__ex_status").isin("dup_history", "dup_batch"), col("__ex_canon"))
          .when(col("__nd_status").isin("dup_history", "dup_batch"), col("__nd_canon"))
          .otherwise(col("doc_id")).as("canonical_id"))
  }

  /** The pinned-model BATCH RECOMPUTE the incremental DAG must equal
    * (CurateIncrementalSpec): the [[curateManifest]] chain over
    * history ∪ batch with the LM and DSIR models trained on the
    * `histPred` epoch only — i.e. exactly what re-running the whole
    * corpus through the deployed (frozen) models computes. With
    * histPred = lit(true) this IS curateManifest's lossless chain
    * (apply(model(d), d) == train-and-score — the spec locks it).
    * Each model is checkpointed once, as a stored model is read: an
    * apply reads its model twice (a sizing action, then the scoring
    * plan), and both applies return their own checkpoints, so the
    * models are released on return. */
  private[graft] def curatePinnedBatch(docsAll0: DataFrame,
                                       histPred: org.apache.spark.sql.Column,
                                       budget: Long = 12000L,
                                       keepPpm: Long = 35000000L): DataFrame =
    Materialize.scoped { s =>
      val docsAll = docsAll0.select(col("doc_id"), col("text"), col("lang"))
      val hist = docsAll.filter(histPred)
      val lm = s.checkpoint(LangModel.bigramCounts(hist, "text"))
      val kept = docsAll.join(
        LangModel.surprisalApplyCounts(lm, docsAll, "doc_id", "text", keepPpm)
          .filter(col("keep")).select("doc_id"), "doc_id")
      val canon = Materialize.checkpoint(docsAll
        .join(Dedup.exact(kept, "doc_id", "text").select("doc_id"), "doc_id"), eager = false)
      val pairs = nearDupPairs(canon, "auto")
      val comp = Components.connectedComponents(pairs)
        .withColumnRenamed("node", "doc_id")
      val reps = Materialize.checkpoint(canon.join(comp, Seq("doc_id"), "left")
        .filter(coalesce(col("component"), col("doc_id")) === col("doc_id"))
        .drop("component"), eager = false)
      val dsir = s.checkpoint(LangModel.tokenCounts(reps.filter(histPred), "text",
        col("lang") === "en"))
      val scored = LangModel.dsirApplyCounts(dsir, reps, "doc_id", "text")
        .select("doc_id", "n_tokens", "mean_lift_ppm")
      manifestTail(docsAll, scored, budget)
    }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    "q_curate_e2e" -> ((s, d) => {
      // The near-dup pair generator runs the "auto" rule: lossless at
      // verify/oracle scale (so the chained DuckDB oracle checks the
      // lossless chain) and pruned past AutoPrunedMinDocs — the
      // ×32/×100 crossover in SCALE_r16 curate_neardup_strategy_ab;
      // CurateStrategySpec proves the strategies produce the
      // identical manifest and pins both sides of the rule
      // SPARK_GRAFT_CURATE_BUDGET scales the stage-5 token budget with
      // the corpus in the SCALE ladder only (a fixed 12k budget empties
      // the manifest past ~×32, so the ×100 tier would exercise stages
      // 1–4 but leave the config-bounded tail degenerate — VERDICT r12
      // "what's wrong" #4). Verify FAILS FAST if either var is set, so
      // the oracle always checks the default 12k lossless chain.
      val budget = sys.env.get("SPARK_GRAFT_CURATE_BUDGET")
        .map(_.toLong).getOrElse(12000L)
      // SPARK_GRAFT_CURATE_KEEPPPM re-calibrates the stage-1 LM gate
      // per corpus (bench ladder only, same fail-fast rule): an
      // ABSOLUTE surprisal threshold is corpus-calibrated by nature —
      // r13 measured the ScaleGen ×100 perturbation bijections
      // shifting the per-doc surprisal distribution from median
      // 29.6M ppm (×1) to 41.7M (×100), so the ×1-calibrated 35M gate
      // kept ZERO of 500k docs (the real cause of r12's degenerate
      // ×100 row — the budget was only the visible symptom). The ×1
      // default is p90 × ~1.17 ("drop the junk tail"); each tier's
      // knob value applies the same rule to its own measured p90.
      val keepPpm = sys.env.get("SPARK_GRAFT_CURATE_KEEPPPM")
        .map(_.toLong).getOrElse(35000000L)
      curateManifest(Tables(s, d).documents, budget = budget, keepPpm = keepPpm)
        .orderBy("doc_id")
    }),

    "q_ingest_night" -> ((s, d) => {
      // the ingest-night DEPLOYMENT surface as a Targets DAG: the
      // history content index is built ONCE as a persisted parquet
      // target, the nightly verdict stage READS it back
      // (Dedup.incrementalExactIndexed — no history re-fingerprint:
      // the measured 0.39 history-axis rebuild residual removed), and
      // a third stage refreshes the index for the next night from
      // index+batch alone. The DAG root is wiped first so Verify
      // always measures current code — skip-if-done/cone-invalidation
      // semantics are TargetsSpec's contract; what this query pins is
      // the index's parquet ROUND TRIP feeding verdicts that
      // hash-match the one-call operator's oracle.
      import graft.operators.Targets
      import graft.operators.Targets.Stage
      // root is suffixed with the Spark application id: deterministic
      // within a run (re-invocations in one driver still share/wipe
      // the same DAG root) but unique across drivers, so a concurrent
      // bench + verify on one machine can't clobber each other's DAG
      val root = sys.props("java.io.tmpdir") +
        "/graft_ingest_dag_" + new java.io.File(d).getName +
        "_" + s.sparkContext.applicationId
      val rootPath = new org.apache.hadoop.fs.Path(root)
      rootPath.getFileSystem(s.sparkContext.hadoopConfiguration)
        .delete(rootPath, true)
      val history = (sp: SparkSession) =>
        Tables(sp, d).documents.filter(col("doc_id") % 10 < 7)
      val batch = (sp: SparkSession) =>
        Tables(sp, d).documents.filter(col("doc_id") % 10 >= 7)
      Targets.run(s, root, Seq(
        Stage("dedup_index", Nil,
          (sp, _) => Dedup.exactIndex(history(sp), "doc_id", "text")),
        Stage("ingest_verdicts", Seq("dedup_index"),
          (sp, up) => Dedup.incrementalExactIndexed(up("dedup_index"),
            batch(sp), "doc_id", "text")),
        Stage("dedup_index_next", Seq("dedup_index"),
          (sp, up) => Dedup.exactIndexUpdated(up("dedup_index"),
            batch(sp), "doc_id", "text"))))
      Targets.read(s, root, "ingest_verdicts").orderBy("doc_id")
    }),

    "q_ingest_neardup" -> ((s, d) => {
      // q_ingest_night's persisted-index contract extended to
      // NEAR-dups (VERDICT r13 next-round #1): the history minhash
      // signature index (Dedup.minhashIndex — MinHash sig + hashed
      // shingle sets, ~(32+s)·8 B/doc, never the text) is built ONCE
      // as a parquet target; the nightly verdict stage READS IT BACK
      // and triages the batch in O(batch) — band keys gate the index
      // scan, exact Jaccard re-scores the candidates, batch-internal
      // components resolve dup_batch; a third stage appends the
      // batch's signatures for the next night. What this query pins:
      // the index's parquet ROUND TRIP feeding verdicts that
      // hash-match a DuckDB oracle brute-forcing exact Jaccard over
      // history ∪ batch (banding recall is effectively exact at the
      // 32/16 @ 0.7 config — the q_dedup_minhash_verify argument,
      // TextDedupSpec-guarded). Same application-id-suffixed DAG-root
      // discipline as q_ingest_night.
      import graft.operators.Targets
      import graft.operators.Targets.Stage
      val root = sys.props("java.io.tmpdir") +
        "/graft_ingest_nd_dag_" + new java.io.File(d).getName +
        "_" + s.sparkContext.applicationId
      val rootPath = new org.apache.hadoop.fs.Path(root)
      rootPath.getFileSystem(s.sparkContext.hadoopConfiguration)
        .delete(rootPath, true)
      val history = (sp: SparkSession) =>
        Tables(sp, d).documents.filter(col("doc_id") % 10 < 7)
      val batch = (sp: SparkSession) =>
        Tables(sp, d).documents.filter(col("doc_id") % 10 >= 7)
      Targets.run(s, root, Seq(
        Stage("neardup_index", Nil,
          (sp, _) => Dedup.minhashIndex(history(sp), "doc_id", "text")),
        Stage("neardup_verdicts", Seq("neardup_index"),
          (sp, up) => Dedup.incrementalNearDupIndexed(up("neardup_index"),
            batch(sp), "doc_id", "text")),
        Stage("neardup_index_next", Seq("neardup_index"),
          (sp, up) => Dedup.minhashIndexUpdated(up("neardup_index"),
            batch(sp), "doc_id", "text"))))
      Targets.read(s, root, "neardup_verdicts").orderBy("doc_id")
    }),

    "q_curate_incremental" -> ((s, d) => {
      // the INCREMENTAL CURATE MANIFEST (VERDICT r14 next-round #3) as
      // a Targets DAG: the epoch stages persist the frozen models
      // (bigram LM counts, DSIR token counts), the dedup indexes
      // (exact fingerprints, minhash signatures over the epoch canon),
      // and the epoch's narrow scored set; the nightly stages gate +
      // triage the batch against those parquet targets in O(batch) —
      // no stage re-reads history text — and the manifest stage
      // re-cuts the cumulative scored set through the shared
      // config-bounded tail (manifestTail — the SAME code
      // q_curate_e2e's batch chain runs). History/batch split by id
      // threshold (max_id·7 div 10) per the ingest id-monotonicity
      // contract. The oracle replays the WHOLE incremental chain —
      // frozen-model smoothed gating, min-id exact survivors,
      // history-component reps + the incremental batch verdict rules,
      // frozen-lift scoring, budget/split/pack — and the manifest must
      // hash-match it. CurateIncrementalSpec proves equality with the
      // pinned-model batch recompute (curatePinnedBatch).
      import graft.operators.Targets
      import graft.operators.Targets.Stage
      // same bench-ladder knobs as q_curate_e2e (budget scales with
      // the corpus factor, keepPpm re-calibrates the LM gate per
      // corpus — the x1-calibrated 35M gate keeps ZERO ScaleGen x100
      // docs); Verify FAILS FAST if either is set, so the oracle
      // always checks the default chain
      val incBudget = sys.env.get("SPARK_GRAFT_CURATE_BUDGET")
        .map(_.toLong).getOrElse(12000L)
      val incKeepPpm = sys.env.get("SPARK_GRAFT_CURATE_KEEPPPM")
        .map(_.toLong).getOrElse(35000000L)
      val root = sys.props("java.io.tmpdir") +
        "/graft_curate_inc_dag_" + new java.io.File(d).getName +
        "_" + s.sparkContext.applicationId
      val rootPath = new org.apache.hadoop.fs.Path(root)
      rootPath.getFileSystem(s.sparkContext.hadoopConfiguration)
        .delete(rootPath, true)
      def docsAll(sp: SparkSession) =
        Tables(sp, d).documents.select(col("doc_id"), col("text"), col("lang"))
      // resolved ONCE (deterministic per corpus): stages reference
      // hist/batch ~10 times and each lambda re-deriving the split
      // point would re-run the max(doc_id) job per reference
      val thresh: Long =
        docsAll(s).agg(max(col("doc_id"))).head.getLong(0) * 7 / 10
      def hist(sp: SparkSession) = docsAll(sp).filter(col("doc_id") <= thresh)
      def batch(sp: SparkSession) = docsAll(sp).filter(col("doc_id") > thresh)
      Targets.run(s, root, Seq(
        Stage("lm_model", Nil,
          (sp, _) => LangModel.bigramCounts(hist(sp), "text")),
        Stage("exact_index", Seq("lm_model"), (sp, up) => {
          val kept = hist(sp).join(
            LangModel.surprisalApplyCounts(up("lm_model"), hist(sp),
              "doc_id", "text", incKeepPpm)
              .filter(col("keep")).select("doc_id"), "doc_id")
          Dedup.exactIndex(kept, "doc_id", "text")
        }),
        Stage("nd_index", Seq("exact_index"), (sp, up) =>
          Dedup.minhashIndex(hist(sp).join(
            up("exact_index").select(col("hist_id").as("doc_id")).distinct(),
            "doc_id"), "doc_id", "text")),
        Stage("hist_reps", Seq("exact_index"), (sp, up) =>
          epochReps(up("exact_index"), hist(sp)).select("doc_id")),
        Stage("dsir_model", Seq("hist_reps"), (sp, up) =>
          LangModel.tokenCounts(hist(sp).join(up("hist_reps"), "doc_id"),
            "text", col("lang") === "en")),
        Stage("hist_scored", Seq("hist_reps", "dsir_model"), (sp, up) =>
          LangModel.dsirApplyCounts(up("dsir_model"),
            hist(sp).join(up("hist_reps"), "doc_id"), "doc_id", "text")
            .select("doc_id", "n_tokens", "mean_lift_ppm")),
        Stage("night_verdicts", Seq("lm_model", "exact_index", "nd_index"),
          (sp, up) => nightVerdicts(up("lm_model"), up("exact_index"),
            up("nd_index"), batch(sp), keepPpm = incKeepPpm)),
        Stage("manifest", Seq("night_verdicts", "hist_scored", "dsir_model"),
          (sp, up) => {
            val newDocs = docsAll(sp).join(
              up("night_verdicts").filter(col("status") === "new")
                .select("doc_id"), "doc_id")
            val scoredB = LangModel.dsirApplyCounts(up("dsir_model"), newDocs,
                "doc_id", "text")
              .select("doc_id", "n_tokens", "mean_lift_ppm")
            manifestTail(docsAll(sp),
              up("hist_scored").unionByName(scoredB), incBudget)
          })))
      Targets.read(s, root, "manifest").orderBy("doc_id")
    }),

    "q_pipeline_e2e" -> ((s, d) => {
      val t = Tables(s, d)
      wideDocs(t.events, t.customer).orderBy("user_id")
    }),

    "q_spec_mapping" -> ((s, d) => {
      // spec-TABLE-driven standardization (config/constants.py:1): the
      // renames/casts/vocabulary all arrive as DataFrame rows, compiled
      // by Derive.applyMappingSpec into one codegen'd projection
      import s.implicits._
      val spec = Seq(
        ("o_orderkey", "order_id", null.asInstanceOf[String]),
        ("o_orderstatus", "status_code", null.asInstanceOf[String]),
        ("o_orderpriority", "priority_code", null.asInstanceOf[String]),
        ("o_custkey", "customer_key", null.asInstanceOf[String]),
        ("o_orderdate", "order_date", "string"))
        .toDF("src_col", "dst_col", "cast_to")
      val vocab = Seq(
        ("status_code", "O", "OPEN"), ("status_code", "F", "FILLED"),
        ("status_code", "P", "PENDING"),
        ("priority_code", "1-URGENT", "U"), ("priority_code", "2-HIGH", "H"),
        ("priority_code", "3-MEDIUM", "M"), ("priority_code", "5-LOW", "L"))
        .toDF("dst_col", "from_value", "to_value")
      Derive.applyMappingSpec(Tables(s, d).orders, spec, Some(vocab))
        .orderBy("order_id")
    }),

    "q_token_bpe_exact" -> ((s, d) => {
      // REAL table-driven BPE (operators/Tokenize.scala): merge rules
      // learned from the corpus (deterministic tie-breaking), then
      // exact per-doc token counts next to the regex pre-token counts.
      // No SQL oracle: the encoder's iterative lowest-rank-pair merge
      // fold has no DuckDB analog — semantics are spec-proven against
      // hand-computed fixtures (TokenizePackSpec), and the driver's
      // rows>0 check covers the wiring.
      val docs = Tables(s, d).documents
      val merges = Tokenize.trainBpe(docs, "text", numMerges = 100, maxWords = 2000)
      Tokenize.bpeCounts(docs, "doc_id", "text", merges)
        .orderBy("doc_id")
    }),

    "q_token_bpe_dist" -> ((s, d) => {
      // the 100 TB BPE path, graded and benched: the FULLY
      // DISTRIBUTED trainer (Tokenize.trainBpeDistributed — the
      // dictionary stays a DataFrame end-to-end; each merge round is
      // one map-side-combined pair-count shuffle plus a 1-row
      // collect, the merge applied as a narrow codegen'd HOF fold)
      // feeding the same broadcast-codec exact counts as
      // q_token_bpe_exact. Rows-only for the same reason (iterative
      // merge folds have no SQL analog); trainer equivalence to the
      // driver loop — including supplementary-plane tie-breaks — is
      // spec-proven (TokenizePackSpec).
      val docs = Tables(s, d).documents
      val merges = Tokenize.trainBpeDistributed(docs, "text", numMerges = 30)
      Tokenize.bpeCounts(docs, "doc_id", "text", merges)
        .orderBy("doc_id")
    }),

    "q_token_bpe_verify" -> ((s, d) => {
      // oracle-checked verification twin for the BPE TRAINER (the
      // q_pack_verify pattern, VERDICT r12 #7 — the last rows-only
      // family gets a hash-compared anchor): the SAME Tokenize.trainBpe
      // — same regex pre-tokenizer, same (count desc, left, right)
      // code-point tie-break, same bestN ≥ 2 stop rule, same greedy
      // left-to-right merge application — at a REPLAYABLE config
      // (8 merges, 200-word dict), where DuckDB unrolls the 8 training
      // rounds as chained CTEs (the kmeansCtes discipline): per round,
      // weighted adjacent-pair counts over the current symbol
      // sequences, argmax with the identical tie-break, and the merge
      // applied via literal string replace over a double-space-
      // delimited symbol string — replace's non-overlapping
      // left-to-right scan IS the BPE merge fold (a merged token l+r
      // can never equal l, so look-behind never re-merges). The
      // production paths (q_token_bpe_exact 100×5000,
      // q_token_bpe_dist distributed) stay rows-only; this entry pins
      // the trainer's whole decision trajectory to an
      // engine-independent truth.
      import s.implicits._
      val merges = Tokenize.trainBpe(Tables(s, d).documents, "text",
        numMerges = 8, maxWords = 200)
      merges.zipWithIndex
        .map { case ((l, r), i) => (i, l, r) }
        .toDF("merge_rank", "lhs", "rhs")
        .orderBy("merge_rank")
    }),

    "q_pack_sequences" -> ((s, d) => {
      // context-window assembly (operators/Pack.scala), denominated in
      // EXACT BPE tokens — train merges, count, pack into 2048-token
      // bins. Rows-only for the same reason as q_token_bpe_exact (the
      // counts feeding the packer aren't SQL-expressible); the packing
      // invariants (every doc exactly once, no bin over budget,
      // determinism across partition layouts) are spec-proven.
      val docs = Tables(s, d).documents
      val merges = Tokenize.trainBpe(docs, "text", numMerges = 100, maxWords = 2000)
      val counts = Tokenize.bpeCounts(docs, "doc_id", "text", merges)
      Pack.sequences(counts, "doc_id", "n_bpe_exact", maxTokens = 2048)
        .orderBy("bin_id")
    }),

    "q_pack_tokens" -> ((s, d) => {
      // the materialized TRAINING ROWS: each packed context window's
      // token payload reassembled in pack order (Pack.withTokens).
      // Rows-only like q_pack_sequences (BPE streams aren't SQL-
      // expressible); order + corpus-wide conservation are spec-proven
      // (TokenizePackSpec). The wide token arrays stay out of the
      // verify dump — the payload is pinned by an md5 fingerprint.
      val docs = Tables(s, d).documents
      val merges = Tokenize.trainBpe(docs, "text", numMerges = 100, maxWords = 2000)
      val enc = Tokenize.bpeEncode(docs, "doc_id", "text", merges)
      val bins = Pack.sequences(enc, "doc_id", "n_bpe_exact", maxTokens = 2048)
      Pack.withTokens(bins, enc, "doc_id", "bpe_tokens")
        .select(col("bin_id"), col("n_docs"), col("total_tokens"),
          size(col("input_tokens")).as("n_materialized"),
          md5(concat_ws(" ", col("input_tokens"))).as("tok_fingerprint"))
        .orderBy("bin_id")
    }),

    "q_pack_verify" -> ((s, d) => {
      // oracle-checked verification twin for the packing family (the
      // same pattern the minhash/ngram/simhash dedups use): the SAME
      // greedy packer — Pack.sequences with its md5 shard assignment,
      // md5 scan order, and oversize isolation — denominated in
      // SQL-expressible whitespace tokens and run at maxOpenBins = 1,
      // where first-fit degenerates to a single-open-bin state machine
      // that DuckDB replays EXACTLY with a recursive CTE carrying the
      // per-shard (cur_seq, next_seq, used) fold state. maxTokens =
      // 512 (a power of two) keeps fill_ratio an exact binary double
      // in both engines. The production path (q_pack_sequences,
      // BPE-denominated, maxOpenBins = 256) stays rows-only; this
      // entry pins the fold itself — shard math, scan order, bin
      // numbering, oversize policy — to an engine-independent truth.
      val counts = Tables(s, d).documents
        .select(col("doc_id"),
          graft.functions.TextFunctions.tokenCount(col("text")).as("n_tok"))
      Pack.sequences(counts, "doc_id", "n_tok", maxTokens = 512,
          numShards = 16, maxOpenBins = 1)
        .orderBy("bin_id")
    }),

    "q_mix_weighted" -> ((s, d) => {
      // weighted source mixing (operators/Mix.scala): oversample src0
      // 2.25x ("epochs"), keep src1-3 at 1.5/1/1, thin src4-6, drop the
      // unlisted tail — the hash-deterministic kept/replicated set is
      // a pure function of (source, doc_id), reproduced literally by
      // the DuckDB oracle (same md5-prefix thresholds)
      val mixed = Mix.weightedSources(Tables(s, d).documents, "doc_id", "source",
        Map("src0" -> 2.25, "src1" -> 1.5, "src2" -> 1.0, "src3" -> 1.0,
            "src4" -> 0.6, "src5" -> 0.4, "src6" -> 0.25))
      mixed.select("doc_id", "source", "copy_idx")
        .orderBy("source", "doc_id", "copy_idx")
    }),

    "q_corpus_e2e" -> ((s, d) => {
      // the LLM-corpus twin of q_pipeline_e2e: the marquee training-
      // data ops chained as ONE oracle-checked dataflow — exact dedup
      // (survivor = min doc_id per content hash) → C4 span dedup on
      // the SURVIVOR corpus → token-count quality gate on the CLEANED
      // text → temperature mix over the POST-FILTER lang distribution.
      // Each stage's output feeds the next exactly as a production
      // pipeline would; the oracle replays the identical chain in SQL
      import graft.functions.TextFunctions.{tokenCountOfTokens, tokens}
      val docs = Tables(s, d).documents
      val keep = Dedup.exact(docs, "doc_id", "text").select("doc_id")
      val deduped = docs.join(keep, "doc_id")
      val cleaned = Dedup.dedupSpans(deduped, "doc_id", "text",
          spanTokens = 8, maxOccur = 1)
        .select(col("doc_id"), col("n_removed"), col("clean_text"))
      val scored = Materialize.checkpoint(cleaned.join(docs.select("doc_id", "lang"), "doc_id")
        .select(col("doc_id"), col("lang"), col("n_removed"),
          tokenCountOfTokens(tokens(col("clean_text"))).as("n_tokens"))
        .filter(col("n_tokens") >= 20),
        // stage boundary: Mix consumes its input twice (lang counts +
        // the replication join), and everything upstream of here is
        // the full dedup chain — materialize the per-doc METADATA
        // (4 narrow columns, no text) exactly where a production
        // pipeline would write an intermediate table, so the chain
        // runs once instead of twice. eager=false: nothing executes
        // at PLAN-BUILD time (PlanAuditSpec instantiates every query);
        // the first real action materializes the checkpoint and the
        // second consumer reuses it — same runtime shape as eager
        eager = false)
      Mix.temperature(scored, "doc_id", "lang", alpha = 0.5)
        .select("doc_id", "lang", "copy_idx", "weight_ppm",
          "n_tokens", "n_removed")
        .orderBy("lang", "doc_id", "copy_idx")
    }),

    "q_chunk_windows" -> ((s, d) => {
      // overlapping token-window chunking (Tokenize.chunk) — RAG/
      // embedding prep: 32-token windows every 24 tokens, short tail
      // kept; zero shuffles, oracle replays the window arithmetic
      Tokenize.chunk(Tables(s, d).documents, "doc_id", "text",
          size = 32, stride = 24)
        .orderBy("doc_id", "chunk_idx")
    }),

    "q_sft_format" -> ((s, d) => {
      // SFT chat-template rendering with LOSS-MASK spans
      // (Posttrain.sftSpans): conversations rendered as
      // <|system|>…<|user|>u<|assistant|>a…<|end|> and, per turn, the
      // 0-based character span of the assistant payload — the mask an
      // SFT tokenizer consumes (loss on assistant tokens only). Turns
      // synthesized IN-PLAN from documents (2 turns on even doc_ids,
      // 1 on odd; user/assistant = fixed token slices, so span starts
      // vary with real text lengths); offsets are pure length
      // arithmetic on ONE conversation-keyed exchange. The span
      // contract substring(rendered, start+1, len) == assistant is
      // spec-asserted; the oracle replays synthesis, prefix sums and
      // rendering bit-for-bit.
      val t = Tables(s, d)
      val toks = split(col("text"), " ")
      val turns = t.documents
        .select(col("doc_id"), posexplode(transform(
          sequence(lit(0), when(pmod(col("doc_id"), lit(2)) === 0, lit(1)).otherwise(lit(0))),
          k => struct(
            array_join(slice(toks, k * lit(16) + 1, lit(5)), " ").as("u"),
            array_join(slice(toks, k * lit(16) + 9, lit(6)), " ").as("a"))))
          .as(Seq("k", "t")))
        .select(col("doc_id"), col("k"), col("t.u").as("u"), col("t.a").as("a"))
      graft.operators.Posttrain.sftSpans(turns, "doc_id", "k", "u", "a")
        .orderBy("doc_id", "turn")
    }),

    "q_sft_normalized" -> ((s, d) => {
      // NORMALIZED sibling of q_sft_format (VERDICT r16 #6,
      // Posttrain.sftRendered): ONE row per conversation carrying the
      // rendered string once — q_sft_format's per-turn rows repeat
      // `rendered` by design (self-contained rows for a per-turn
      // tokenizer), which prices O(turns² · len) output per
      // conversation; the storage-bound form materializes THIS frame
      // next to the slim spans table (Posttrain.sftSpansOnly) and
      // joins back on demand — the join-back identity is spec-proven
      // (PosttrainSpec). Same in-plan turn synthesis, same template;
      // ONE conversation-keyed exchange (sort_array'd collect_list —
      // order-independent input, deterministic render).
      val t = Tables(s, d)
      val toks = split(col("text"), " ")
      val turns = t.documents
        .select(col("doc_id"), posexplode(transform(
          sequence(lit(0), when(pmod(col("doc_id"), lit(2)) === 0, lit(1)).otherwise(lit(0))),
          k => struct(
            array_join(slice(toks, k * lit(16) + 1, lit(5)), " ").as("u"),
            array_join(slice(toks, k * lit(16) + 9, lit(6)), " ").as("a"))))
          .as(Seq("k", "t")))
        .select(col("doc_id"), col("k"), col("t.u").as("u"), col("t.a").as("a"))
      graft.operators.Posttrain.sftRendered(turns, "doc_id", "k", "u", "a")
        .orderBy("doc_id")
    }),

    "q_dpo_pairs" -> ((s, d) => {
      // DPO/RLHF preference-pair assembly (Posttrain.dpoPairs): per
      // prompt the top- and bottom-scored candidate responses, ties
      // broken toward the smaller candidate id, kept only with a
      // positive score gap (an all-tied prompt teaches nothing) and
      // ≥ 2 candidates. Events play the scored-candidates table
      // (prompt = user_id, candidate = event_id, score = exact
      // floor-cents of value — integer scores keep ties
      // engine-replayable); one prompt-keyed exchange serves both
      // rank windows and the count.
      val cands = Tables(s, d).events
        .filter(col("event_type").isin("view", "click"))
        .select(col("user_id").as("prompt_id"), col("event_id"),
          floor(col("value") * 100).cast("long").as("score"))
      graft.operators.Posttrain.dpoPairs(cands, "prompt_id", "event_id", "score")
        .orderBy("prompt_id")
    }),

    "q_mix_temperature" -> ((s, d) => {
      // multinomial temperature sampling over the skewed lang
      // distribution (alpha=0.5 upsamples low-resource langs) —
      // weights computed IN-PLAN from the lang counts, replication
      // hash-deterministic as in q_mix_weighted; the oracle replays
      // the same sqrt-share weights and md5 thresholds
      Mix.temperature(Tables(s, d).documents, "doc_id", "lang", alpha = 0.5)
        .select("doc_id", "lang", "copy_idx", "weight_ppm")
        .orderBy("lang", "doc_id", "copy_idx")
    }),

    "q_surrogate_id" -> ((s, d) => {
      // reproducible positional ids (mgi_phenotype_mapper.py:131 uses
      // monotonically_increasing_id, which is partition-layout-
      // dependent; Ids.surrogate is a pure function of the data)
      Ids.surrogate(Tables(s, d).orders.select("o_orderkey", "o_custkey"),
          Seq("o_orderkey"))
        .select("o_orderkey", "o_custkey", "surrogate_id")
        .orderBy("o_orderkey")
    }))

  val oracles: Map[String, String] = Map(

    // replays Tokenize.trainBpe's whole decision trajectory at the
    // 8-merge/200-word config: word dict (same regex, same
    // (n desc, w) cap), then 8 unrolled rounds of weighted pair-count
    // → argmax (count desc, left, right — DuckDB's binary UTF-8
    // collation IS code-point order, the trainer's tie-break) → merge
    // application via literal replace over '  '-delimited symbols
    // (boundary spaces make symbol-prefix/suffix false matches
    // impossible; replace's left-to-right non-overlap matches the
    // greedy fold, incl. the l==r run case). Empty mN short-circuits
    // the remaining rounds — the bestN>=2 stop rule.
    "q_token_bpe_verify" -> {
      val rounds = (1 to 8).map { r =>
        s"""p$r AS (
           | SELECT pr.l AS l, pr.r AS r, sum(n) AS cnt
           | FROM (
           |  SELECT unnest(list_transform(range(1, len(syms)),
           |    i -> struct_pack(l := syms[i], r := syms[i + 1]))) AS pr, n
           |  FROM (SELECT string_split(trim(s), '  ') AS syms, n FROM w${r - 1}))
           | GROUP BY 1, 2),
           |m$r AS (SELECT l, r FROM p$r WHERE cnt >= 2
           |        ORDER BY cnt DESC, l, r LIMIT 1),
           |w$r AS (SELECT replace(s, ' ' || m.l || '  ' || m.r || ' ',
           |          ' ' || m.l || m.r || ' ') AS s, n
           |        FROM w${r - 1}, m$r m)""".stripMargin
      }.mkString(",\n")
      val sel = (1 to 8)
        .map(r => s"SELECT ${r - 1} AS merge_rank, l AS lhs, r AS rhs FROM m$r")
        .mkString("\n UNION ALL ")
      s"""WITH wf AS (
         | SELECT w, count(*) AS n FROM (
         |  SELECT unnest(regexp_extract_all(text, '[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9\\s]+')) AS w
         |  FROM documents)
         | GROUP BY w ORDER BY n DESC, w LIMIT 200),
         |w0 AS (
         | SELECT '  ' || array_to_string(list_transform(range(1, length(w) + 1),
         |    i -> substr(w, i, 1)), '  ') || '  ' AS s, n
         | FROM wf),
         |$rounds
         |SELECT cast(merge_rank as int) AS merge_rank, lhs, rhs FROM (
         | $sel)
         |ORDER BY merge_rank""".stripMargin
    },

    // identical truth to q_dedup_incremental's oracle (the indexed DAG
    // path must land on the same verdicts the one-call operator does)
    "q_ingest_night" -> {
      val norm = "trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9 ]', ' ', 'g'), ' +', ' ', 'g'))"
      s"""WITH fp AS (SELECT doc_id, coalesce(md5($norm), '__null_text__') AS fp FROM documents),
         |h AS (SELECT fp, min(doc_id) AS hist_id FROM fp WHERE doc_id % 10 < 7 GROUP BY 1),
         |b AS (SELECT doc_id, fp FROM fp WHERE doc_id % 10 >= 7),
         |bm AS (SELECT fp, min(doc_id) AS batch_min FROM b GROUP BY 1)
         |SELECT b.doc_id, b.fp,
         | CASE WHEN h.hist_id IS NOT NULL THEN 'dup_history'
         |      WHEN b.doc_id <> bm.batch_min THEN 'dup_batch'
         |      ELSE 'new' END AS status,
         | coalesce(h.hist_id, bm.batch_min) AS canonical_id
         |FROM b JOIN bm USING (fp) LEFT JOIN h USING (fp)
         |ORDER BY b.doc_id""".stripMargin
    },

    // brute-force truth for the indexed near-dup triage: 3-gram
    // shingle sets (the q_curate_e2e cs CTE), exact Jaccard >= 0.7
    // batch-vs-history (min qualifying hist id + match count) and
    // batch-vs-batch (recursive min-label components), then the same
    // direct-evidence verdict rules the operator states. Banding
    // recall at 32/16 is effectively exact on this corpus (see the
    // query's scaladoc), so the pruned candidate path must land on
    // this full truth bit-for-bit.
    "q_ingest_neardup" -> {
      val norm = "trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9 ]', ' ', 'g'), ' +', ' ', 'g'))"
      s"""WITH RECURSIVE
         |cs AS MATERIALIZED (SELECT doc_id, list_distinct(CASE WHEN len(tk) < 3
         |  THEN [array_to_string(tk, ' ')]
         |  ELSE list_transform(range(len(tk)-2), i -> tk[i+1] || ' ' || tk[i+2] || ' ' || tk[i+3]) END) AS sh
         | FROM (SELECT doc_id, string_split($norm, ' ') AS tk FROM documents)),
         |h AS (SELECT * FROM cs WHERE doc_id % 10 < 7),
         |b AS (SELECT * FROM cs WHERE doc_id % 10 >= 7),
         |hm AS (SELECT b.doc_id, min(h.doc_id) AS hist_match, count(*) AS n_hist
         | FROM b, h
         | WHERE len(list_intersect(b.sh, h.sh))::DOUBLE / len(list_distinct(b.sh || h.sh)) >= 0.7
         | GROUP BY 1),
         |bp AS (SELECT a.doc_id AS ia, b2.doc_id AS ib FROM b a, b b2
         | WHERE a.doc_id < b2.doc_id
         | AND len(list_intersect(a.sh, b2.sh))::DOUBLE / len(list_distinct(a.sh || b2.sh)) >= 0.7),
         |nodes AS (SELECT DISTINCT node FROM (SELECT ia AS node FROM bp UNION ALL SELECT ib FROM bp)),
         |sym AS (SELECT ia AS src, ib AS dst FROM bp UNION ALL SELECT ib, ia FROM bp),
         |reach AS (SELECT node, node AS lbl FROM nodes
         | UNION SELECT s2.dst, r.lbl FROM reach r JOIN sym s2 ON s2.src = r.node),
         |comp AS (SELECT node, min(lbl) AS component FROM reach GROUP BY 1)
         |SELECT b.doc_id,
         | CASE WHEN hm.hist_match IS NOT NULL THEN 'dup_history'
         |      WHEN c.component IS NOT NULL AND c.component <> b.doc_id THEN 'dup_batch'
         |      ELSE 'new' END AS status,
         | coalesce(hm.hist_match,
         |   CASE WHEN c.component <> b.doc_id THEN c.component END,
         |   b.doc_id) AS canonical_id,
         | coalesce(c.component, b.doc_id) AS batch_component,
         | cast(coalesce(hm.n_hist, 0) as bigint) AS n_hist_matches
         |FROM b LEFT JOIN hm ON hm.doc_id = b.doc_id
         |LEFT JOIN comp c ON c.node = b.doc_id
         |ORDER BY b.doc_id""".stripMargin
    },

    // replays the INCREMENTAL curation chain end-to-end under the
    // frozen-epoch semantics the DAG ships: bigram/DSIR models from
    // the history split only, add-one-smoothed application to
    // everything, min-id exact survivors (identical to the
    // incremental verdicts under the id-monotone ingest contract),
    // history near-dup components + the INCREMENTAL batch verdict
    // rules (direct hist match at J>=0.5 kills; else batch-component
    // min survives), frozen-lift scoring of all reps, then the exact
    // q_curate_e2e tail (budget cut, 5-shingle leak-free split,
    // maxOpenBins=1 packing).
    "q_curate_incremental" -> {
      val norm = "trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9 ]', ' ', 'g'), ' +', ' ', 'g'))"
      val jac = (a: String, b: String) =>
        s"len(list_intersect($a.sh, $b.sh))::DOUBLE / len(list_distinct($a.sh || $b.sh)) >= 0.5"
      s"""WITH RECURSIVE
         |th AS (SELECT max(doc_id) * 7 // 10 AS t FROM documents),
         |dth AS (SELECT doc_id, string_split($norm, ' ') AS t FROM documents, th
         |  WHERE doc_id <= th.t AND len(string_split($norm, ' ')) >= 2),
         |bih AS (SELECT doc_id, unnest(list_filter(list_transform(t, (x, i) ->
         |   CASE WHEN i < len(t) THEN x || ' ' || t[i+1] END), b -> b IS NOT NULL)) AS bg FROM dth),
         |c12 AS MATERIALIZED (SELECT bg, count(*) AS c12 FROM bih GROUP BY 1),
         |c1 AS MATERIALIZED (SELECT split_part(bg, ' ', 1) AS w1, sum(c12) AS c1 FROM c12 GROUP BY 1),
         |v AS (SELECT count(DISTINCT split_part(bg, ' ', 2)) AS v FROM c12),
         |dta AS (SELECT doc_id, string_split($norm, ' ') AS t FROM documents
         |  WHERE len(string_split($norm, ' ')) >= 2),
         |bia AS (SELECT doc_id, unnest(list_filter(list_transform(t, (x, i) ->
         |   CASE WHEN i < len(t) THEN x || ' ' || t[i+1] END), b -> b IS NOT NULL)) AS bg FROM dta),
         |costs AS (SELECT b.doc_id,
         |  (coalesce(c1.c1, 0) + v.v) // (coalesce(c12.c12, 0) + 1) AS cost
         | FROM bia b LEFT JOIN c12 ON b.bg = c12.bg
         |  LEFT JOIN c1 ON split_part(b.bg, ' ', 1) = c1.w1, v),
         |lmkeep AS MATERIALIZED (SELECT doc_id FROM costs GROUP BY doc_id
         |  HAVING cast(sum(cost) as bigint) * 1000000 // count(*) <= 35000000),
         |ex AS (SELECT min(doc_id) AS doc_id FROM documents JOIN lmkeep USING (doc_id)
         |  GROUP BY md5($norm)),
         |canon AS MATERIALIZED (SELECT d.* FROM documents d JOIN ex USING (doc_id)),
         |cs AS MATERIALIZED (SELECT doc_id, list_distinct(CASE WHEN len(tk) < 3
         |  THEN [array_to_string(tk, ' ')]
         |  ELSE list_transform(range(len(tk)-2), i -> tk[i+1] || ' ' || tk[i+2] || ' ' || tk[i+3]) END) AS sh
         | FROM (SELECT doc_id, string_split($norm, ' ') AS tk FROM canon)),
         |csh AS MATERIALIZED (SELECT cs.* FROM cs, th WHERE cs.doc_id <= th.t),
         |csb AS MATERIALIZED (SELECT cs.* FROM cs, th WHERE cs.doc_id > th.t),
         |ndh AS (SELECT a.doc_id AS ia, b.doc_id AS ib FROM csh a, csh b
         | WHERE a.doc_id < b.doc_id AND ${jac("a", "b")}),
         |hnodes AS (SELECT DISTINCT node FROM (SELECT ia AS node FROM ndh UNION ALL SELECT ib FROM ndh)),
         |hsym AS (SELECT ia AS src, ib AS dst FROM ndh UNION ALL SELECT ib, ia FROM ndh),
         |hreach AS (SELECT node, node AS lbl FROM hnodes
         | UNION SELECT s2.dst, r.lbl FROM hreach r JOIN hsym s2 ON s2.src = r.node),
         |hcomp AS (SELECT node, min(lbl) AS component FROM hreach GROUP BY 1),
         |repsh AS MATERIALIZED (SELECT c.doc_id FROM csh c LEFT JOIN hcomp ON hcomp.node = c.doc_id
         |  WHERE coalesce(hcomp.component, c.doc_id) = c.doc_id),
         |bh AS MATERIALIZED (SELECT DISTINCT b.doc_id FROM csb b, csh h WHERE ${jac("b", "h")}),
         |ndb AS (SELECT a.doc_id AS ia, b.doc_id AS ib FROM csb a, csb b
         | WHERE a.doc_id < b.doc_id AND ${jac("a", "b")}),
         |bnodes AS (SELECT DISTINCT node FROM (SELECT ia AS node FROM ndb UNION ALL SELECT ib FROM ndb)),
         |bsym AS (SELECT ia AS src, ib AS dst FROM ndb UNION ALL SELECT ib, ia FROM ndb),
         |breach AS (SELECT node, node AS lbl FROM bnodes
         | UNION SELECT s2.dst, r.lbl FROM breach r JOIN bsym s2 ON s2.src = r.node),
         |bcomp AS (SELECT node, min(lbl) AS component FROM breach GROUP BY 1),
         |repsb AS MATERIALIZED (SELECT c.doc_id FROM csb c LEFT JOIN bcomp ON bcomp.node = c.doc_id
         |  WHERE c.doc_id NOT IN (SELECT doc_id FROM bh)
         |   AND coalesce(bcomp.component, c.doc_id) = c.doc_id),
         |reps AS MATERIALIZED (SELECT doc_id FROM repsh UNION ALL SELECT doc_id FROM repsb),
         |tfh AS (SELECT doc_id, lang, tok FROM
         |  (SELECT d.doc_id, d.lang, unnest(string_split($norm, ' ')) AS tok
         |   FROM documents d JOIN repsh USING (doc_id)) WHERE length(tok) > 0),
         |cnt AS MATERIALIZED (SELECT tok, count(*) AS cr,
         |  count(*) FILTER (WHERE lang = 'en') AS ct FROM tfh GROUP BY 1),
         |tot AS (SELECT sum(cr) AS nr, sum(ct) AS nt FROM cnt),
         |tfa AS (SELECT doc_id, tok FROM
         |  (SELECT d.doc_id, unnest(string_split($norm, ' ')) AS tok
         |   FROM documents d JOIN reps USING (doc_id)) WHERE length(tok) > 0),
         |scored AS MATERIALIZED (SELECT f.doc_id, count(*) AS n_tokens,
         |  cast(sum(((coalesce(cnt.ct, 0) + 1) * 1000000 // (coalesce(cnt.cr, 0) + 1))
         |    * tot.nr // (tot.nt + 1)) // count(*) as bigint) AS mean_lift_ppm
         | FROM tfa f LEFT JOIN cnt ON f.tok = cnt.tok, tot GROUP BY f.doc_id),
         |sel AS MATERIALIZED (SELECT doc_id, n_tokens, mean_lift_ppm, cum_tokens FROM
         |  (SELECT doc_id, n_tokens, mean_lift_ppm,
         |    cast(sum(n_tokens) OVER (ORDER BY mean_lift_ppm DESC, doc_id ROWS UNBOUNDED PRECEDING) as bigint) AS cum_tokens
         |   FROM scored) WHERE cum_tokens <= 12000),
         |s5 AS (SELECT DISTINCT doc_id, sh FROM (
         |  SELECT doc_id, unnest(CASE WHEN len(t) < 5 THEN [array_to_string(t, ' ')]
         |   ELSE list_filter(list_transform(t, (x, i) ->
         |     CASE WHEN i <= len(t) - 4 THEN array_to_string(t[i:i+4], ' ') END), g -> g IS NOT NULL) END) AS sh
         |  FROM (SELECT s.doc_id, string_split($norm, ' ') AS t FROM sel s JOIN documents USING (doc_id)))),
         |bk AS (SELECT sh FROM s5 GROUP BY sh HAVING count(*) BETWEEN 2 AND 20),
         |bounded AS (SELECT s.doc_id, s.sh FROM s5 s JOIN bk USING (sh)),
         |edges AS (SELECT DISTINCT a.doc_id AS ia, b.doc_id AS ib
         | FROM bounded a JOIN bounded b ON a.sh = b.sh AND a.doc_id < b.doc_id),
         |enodes AS (SELECT DISTINCT node FROM (SELECT ia AS node FROM edges UNION ALL SELECT ib FROM edges)),
         |esym AS (SELECT ia AS src, ib AS dst FROM edges UNION ALL SELECT ib, ia FROM edges),
         |ereach AS (SELECT node, node AS lbl FROM enodes
         | UNION SELECT s.dst AS node, r.lbl FROM ereach r JOIN esym s ON s.src = r.node),
         |ecomp AS (SELECT node, min(lbl) AS component FROM ereach GROUP BY 1),
         |spl AS MATERIALIZED (SELECT doc_id, component,
         |  CASE WHEN uval < 13421772 THEN 'train' WHEN uval < 15099494 THEN 'val' ELSE 'test' END AS split
         | FROM (SELECT s.doc_id, coalesce(c.component, s.doc_id) AS component,
         |   ((((cast(strpos('0123456789abcdef', substr(md5('spl' || cast(coalesce(c.component, s.doc_id) as varchar)), 1, 1)) - 1 as bigint) * 16 + strpos('0123456789abcdef', substr(md5('spl' || cast(coalesce(c.component, s.doc_id) as varchar)), 2, 1)) - 1) * 16 + strpos('0123456789abcdef', substr(md5('spl' || cast(coalesce(c.component, s.doc_id) as varchar)), 3, 1)) - 1) * 16 + strpos('0123456789abcdef', substr(md5('spl' || cast(coalesce(c.component, s.doc_id) as varchar)), 4, 1)) - 1) * 16 + strpos('0123456789abcdef', substr(md5('spl' || cast(coalesce(c.component, s.doc_id) as varchar)), 5, 1)) - 1) * 16 + strpos('0123456789abcdef', substr(md5('spl' || cast(coalesce(c.component, s.doc_id) as varchar)), 6, 1)) - 1 AS uval
         |  FROM sel s LEFT JOIN ecomp c ON c.node = s.doc_id)),
         |pq AS (SELECT *, cast(row_number() OVER (PARTITION BY shard ORDER BY ord) as int) AS rn FROM
         |  (SELECT s.doc_id AS id, s.n_tokens AS n_tok, md5(cast(s.doc_id as varchar)) AS ord,
         |    cast(((strpos('0123456789abcdef', substr(md5(cast(s.doc_id as varchar)), 1, 1)) - 1) * 16
         |        + strpos('0123456789abcdef', substr(md5(cast(s.doc_id as varchar)), 2, 1)) - 1) % 16 as int) AS shard
         |   FROM sel s JOIN spl p USING (doc_id) WHERE p.split = 'train')),
         |step AS (
         | SELECT shard, 0 AS rn, cast(NULL as bigint) AS id, 0 AS n_tok,
         |        false AS oversize, -1 AS bin_seq, -1 AS cur_seq, 0 AS next_seq, 0 AS used
         | FROM (SELECT DISTINCT shard FROM pq)
         | UNION ALL
         | SELECT d.shard, d.rn, d.id, d.n_tok, d.n_tok > 512,
         |  CASE WHEN d.n_tok > 512 THEN s.next_seq
         |       WHEN s.cur_seq >= 0 AND s.used + d.n_tok <= 512 THEN s.cur_seq ELSE s.next_seq END,
         |  CASE WHEN d.n_tok > 512 THEN s.cur_seq
         |       WHEN s.cur_seq >= 0 AND s.used + d.n_tok <= 512 THEN s.cur_seq ELSE s.next_seq END,
         |  CASE WHEN d.n_tok > 512 THEN s.next_seq + 1
         |       WHEN s.cur_seq >= 0 AND s.used + d.n_tok <= 512 THEN s.next_seq ELSE s.next_seq + 1 END,
         |  CASE WHEN d.n_tok > 512 THEN s.used
         |       WHEN s.cur_seq >= 0 AND s.used + d.n_tok <= 512 THEN s.used + d.n_tok ELSE d.n_tok END
         | FROM step s JOIN pq d ON d.shard = s.shard AND d.rn = s.rn + 1),
         |packed AS (SELECT id AS doc_id, cast(shard as bigint) * 4294967296 + bin_seq AS bin_id
         | FROM step WHERE rn > 0)
         |SELECT s.doc_id, d.lang, s.n_tokens, s.mean_lift_ppm, s.cum_tokens,
         | sp.component, sp.split, pb.bin_id
         |FROM sel s JOIN documents d USING (doc_id)
         |JOIN spl sp USING (doc_id) LEFT JOIN packed pb USING (doc_id)
         |ORDER BY s.doc_id
         |""".stripMargin
    },

    // the chained replay of curateManifest, stage for stage (each
    // stage SQL is the already-verified standalone oracle with its
    // input rewired to the previous CTE); multiply-referenced CTEs are
    // MATERIALIZED or DuckDB re-inlines the quadratic pair stage per
    // reference
    "q_curate_e2e" ->
      """WITH RECURSIVE
        |dt AS (SELECT doc_id, string_split(trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9 ]', ' ', 'g'), ' +', ' ', 'g')), ' ') AS t FROM documents WHERE len(string_split(trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9 ]', ' ', 'g'), ' +', ' ', 'g')), ' ')) >= 2),
        |bi AS MATERIALIZED (SELECT doc_id, unnest(list_filter(list_transform(t, (x, i) ->
        |   CASE WHEN i < len(t) THEN x || ' ' || t[i+1] END), b -> b IS NOT NULL)) AS bg FROM dt),
        |c12 AS (SELECT bg, count(*) AS c12 FROM bi GROUP BY 1),
        |c1 AS (SELECT split_part(bg, ' ', 1) AS w1, sum(c12) AS c1 FROM c12 GROUP BY 1),
        |v AS (SELECT count(DISTINCT split_part(bg, ' ', 2)) AS v FROM c12),
        |costs AS (SELECT bg, (c1 + v) // (c12 + 1) AS cost
        |  FROM c12 JOIN c1 ON split_part(c12.bg, ' ', 1) = c1.w1, v),
        |lmkeep AS (SELECT doc_id FROM bi JOIN costs USING (bg) GROUP BY doc_id
        |  HAVING cast(sum(cost) as bigint) * 1000000 // count(*) <= 35000000),
        |ex AS (SELECT min(doc_id) AS doc_id FROM documents JOIN lmkeep USING (doc_id) GROUP BY md5(trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9 ]', ' ', 'g'), ' +', ' ', 'g')))),
        |canon AS MATERIALIZED (SELECT d.* FROM documents d JOIN ex USING (doc_id)),
        |cs AS (SELECT doc_id, list_distinct(CASE WHEN len(tk) < 3
        |  THEN [array_to_string(tk, ' ')]
        |  ELSE list_transform(range(len(tk)-2), i -> tk[i+1] || ' ' || tk[i+2] || ' ' || tk[i+3]) END) AS sh
        | FROM (SELECT doc_id, string_split(trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9 ]', ' ', 'g'), ' +', ' ', 'g')), ' ') AS tk FROM canon)),
        |nd AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b
        | FROM cs a, cs b WHERE a.doc_id < b.doc_id
        | AND len(list_intersect(a.sh, b.sh))::DOUBLE / len(list_distinct(a.sh || b.sh)) >= 0.5),
        |ndnodes AS (SELECT DISTINCT node FROM (SELECT id_a AS node FROM nd UNION ALL SELECT id_b FROM nd)),
        |ndsym AS (SELECT id_a AS src, id_b AS dst FROM nd UNION ALL SELECT id_b, id_a FROM nd),
        |ndreach AS (SELECT node, node AS lbl FROM ndnodes
        | UNION SELECT s2.dst, r.lbl FROM ndreach r JOIN ndsym s2 ON s2.src = r.node),
        |ndcomp AS (SELECT node, min(lbl) AS component FROM ndreach GROUP BY 1),
        |reps AS MATERIALIZED (SELECT c.* FROM canon c LEFT JOIN ndcomp ON ndcomp.node = c.doc_id
        |  WHERE coalesce(ndcomp.component, c.doc_id) = c.doc_id),
        |tf AS (SELECT doc_id, lang, tok FROM
        |  (SELECT doc_id, lang, unnest(string_split(trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9 ]', ' ', 'g'), ' +', ' ', 'g')), ' ')) AS tok FROM reps) WHERE length(tok) > 0),
        |cnt AS (SELECT tok, count(*) AS cr, count(*) FILTER (WHERE lang = 'en') AS ct2 FROM tf GROUP BY tok),
        |tot AS (SELECT sum(cr) AS nr, sum(ct2) AS nt FROM cnt),
        |gains AS (SELECT tok, cast(((ct2 + 1) * 1000000 // (cr + 1)) * nr // (nt + 1) as bigint) AS lift FROM cnt, tot),
        |scored AS MATERIALIZED (SELECT tf.doc_id, count(*) AS n_tokens, cast(sum(lift) // count(*) as bigint) AS mean_lift_ppm
        |  FROM tf JOIN gains USING (tok) GROUP BY tf.doc_id),
        |sel AS MATERIALIZED (SELECT doc_id, n_tokens, mean_lift_ppm, cum_tokens FROM
        |  (SELECT doc_id, n_tokens, mean_lift_ppm,
        |    cast(sum(n_tokens) OVER (ORDER BY mean_lift_ppm DESC, doc_id ROWS UNBOUNDED PRECEDING) as bigint) AS cum_tokens
        |   FROM scored) WHERE cum_tokens <= 12000),
        |s5 AS (SELECT DISTINCT doc_id, sh FROM (
        |  SELECT doc_id, unnest(CASE WHEN len(t) < 5 THEN [array_to_string(t, ' ')]
        |   ELSE list_filter(list_transform(t, (x, i) ->
        |     CASE WHEN i <= len(t) - 4 THEN array_to_string(t[i:i+4], ' ') END), g -> g IS NOT NULL) END) AS sh
        |  FROM (SELECT s.doc_id, string_split(trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9 ]', ' ', 'g'), ' +', ' ', 'g')), ' ') AS t FROM sel s JOIN documents USING (doc_id)))),
        |bk AS (SELECT sh FROM s5 GROUP BY sh HAVING count(*) BETWEEN 2 AND 20),
        |bounded AS (SELECT s.doc_id, s.sh FROM s5 s JOIN bk USING (sh)),
        |edges AS (SELECT DISTINCT a.doc_id AS ia, b.doc_id AS ib
        | FROM bounded a JOIN bounded b ON a.sh = b.sh AND a.doc_id < b.doc_id),
        |enodes AS (SELECT DISTINCT node FROM (SELECT ia AS node FROM edges UNION ALL SELECT ib FROM edges)),
        |esym AS (SELECT ia AS src, ib AS dst FROM edges UNION ALL SELECT ib, ia FROM edges),
        |ereach AS (SELECT node, node AS lbl FROM enodes
        | UNION SELECT s.dst AS node, r.lbl FROM ereach r JOIN esym s ON s.src = r.node),
        |ecomp AS (SELECT node, min(lbl) AS component FROM ereach GROUP BY 1),
        |spl AS MATERIALIZED (SELECT doc_id, component,
        |  CASE WHEN uval < 13421772 THEN 'train' WHEN uval < 15099494 THEN 'val' ELSE 'test' END AS split
        | FROM (SELECT s.doc_id, coalesce(c.component, s.doc_id) AS component,
        |   ((((cast(strpos('0123456789abcdef', substr(md5('spl' || cast(coalesce(c.component, s.doc_id) as varchar)), 1, 1)) - 1 as bigint) * 16 + strpos('0123456789abcdef', substr(md5('spl' || cast(coalesce(c.component, s.doc_id) as varchar)), 2, 1)) - 1) * 16 + strpos('0123456789abcdef', substr(md5('spl' || cast(coalesce(c.component, s.doc_id) as varchar)), 3, 1)) - 1) * 16 + strpos('0123456789abcdef', substr(md5('spl' || cast(coalesce(c.component, s.doc_id) as varchar)), 4, 1)) - 1) * 16 + strpos('0123456789abcdef', substr(md5('spl' || cast(coalesce(c.component, s.doc_id) as varchar)), 5, 1)) - 1) * 16 + strpos('0123456789abcdef', substr(md5('spl' || cast(coalesce(c.component, s.doc_id) as varchar)), 6, 1)) - 1 AS uval
        |  FROM sel s LEFT JOIN ecomp c ON c.node = s.doc_id)),
        |pq AS (SELECT *, cast(row_number() OVER (PARTITION BY shard ORDER BY ord) as int) AS rn FROM
        |  (SELECT s.doc_id AS id, s.n_tokens AS n_tok, md5(cast(s.doc_id as varchar)) AS ord,
        |    cast(((strpos('0123456789abcdef', substr(md5(cast(s.doc_id as varchar)), 1, 1)) - 1) * 16
        |        + strpos('0123456789abcdef', substr(md5(cast(s.doc_id as varchar)), 2, 1)) - 1) % 16 as int) AS shard
        |   FROM sel s JOIN spl p USING (doc_id) WHERE p.split = 'train')),
        |step AS (
        | SELECT shard, 0 AS rn, cast(NULL as bigint) AS id, 0 AS n_tok,
        |        false AS oversize, -1 AS bin_seq, -1 AS cur_seq, 0 AS next_seq, 0 AS used
        | FROM (SELECT DISTINCT shard FROM pq)
        | UNION ALL
        | SELECT d.shard, d.rn, d.id, d.n_tok, d.n_tok > 512,
        |  CASE WHEN d.n_tok > 512 THEN s.next_seq
        |       WHEN s.cur_seq >= 0 AND s.used + d.n_tok <= 512 THEN s.cur_seq ELSE s.next_seq END,
        |  CASE WHEN d.n_tok > 512 THEN s.cur_seq
        |       WHEN s.cur_seq >= 0 AND s.used + d.n_tok <= 512 THEN s.cur_seq ELSE s.next_seq END,
        |  CASE WHEN d.n_tok > 512 THEN s.next_seq + 1
        |       WHEN s.cur_seq >= 0 AND s.used + d.n_tok <= 512 THEN s.next_seq ELSE s.next_seq + 1 END,
        |  CASE WHEN d.n_tok > 512 THEN s.used
        |       WHEN s.cur_seq >= 0 AND s.used + d.n_tok <= 512 THEN s.used + d.n_tok ELSE d.n_tok END
        | FROM step s JOIN pq d ON d.shard = s.shard AND d.rn = s.rn + 1),
        |packed AS (SELECT id AS doc_id, cast(shard as bigint) * 4294967296 + bin_seq AS bin_id
        | FROM step WHERE rn > 0)
        |SELECT s.doc_id, d.lang, s.n_tokens, s.mean_lift_ppm, s.cum_tokens,
        | sp.component, sp.split, pb.bin_id
        |FROM sel s JOIN documents d USING (doc_id)
        |JOIN spl sp USING (doc_id) LEFT JOIN packed pb USING (doc_id)
        |ORDER BY s.doc_id
        |""".stripMargin,

    // replays Pack.sequences at maxOpenBins = 1 exactly: md5 shard
    // byte (% 16), md5 scan order, then a recursive CTE advancing
    // every shard one document per iteration while carrying the greedy
    // fold's (cur_seq, next_seq, used) state — oversize docs take the
    // next seq without touching the open bin, a fitting doc joins
    // cur_seq, anything else retires the open bin and starts a new one
    "q_pack_verify" ->
      """WITH RECURSIVE dcounts AS (
        | SELECT doc_id AS id,
        |  CASE WHEN length(nrm) = 0 THEN 0
        |       ELSE cast(len(string_split(nrm, ' ')) as int) END AS n_tok,
        |  md5(cast(doc_id as varchar)) AS ord
        | FROM (SELECT doc_id,
        |   trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9 ]', ' ', 'g'), ' +', ' ', 'g')) AS nrm
        |  FROM documents)),
        |sh AS (
        | SELECT id, n_tok, ord,
        |  cast(((strpos('0123456789abcdef', substr(ord, 1, 1)) - 1) * 16
        |      + strpos('0123456789abcdef', substr(ord, 2, 1)) - 1) % 16 as int) AS shard
        | FROM dcounts),
        |sq AS (
        | SELECT *, cast(row_number() OVER (PARTITION BY shard ORDER BY ord) as int) AS rn
        | FROM sh),
        |step AS (
        | SELECT shard, 0 AS rn, cast(NULL as bigint) AS id, 0 AS n_tok,
        |        false AS oversize, -1 AS bin_seq, -1 AS cur_seq, 0 AS next_seq, 0 AS used
        | FROM (SELECT DISTINCT shard FROM sq)
        | UNION ALL
        | SELECT d.shard, d.rn, d.id, d.n_tok, d.n_tok > 512,
        |  CASE WHEN d.n_tok > 512 THEN s.next_seq
        |       WHEN s.cur_seq >= 0 AND s.used + d.n_tok <= 512 THEN s.cur_seq
        |       ELSE s.next_seq END,
        |  CASE WHEN d.n_tok > 512 THEN s.cur_seq
        |       WHEN s.cur_seq >= 0 AND s.used + d.n_tok <= 512 THEN s.cur_seq
        |       ELSE s.next_seq END,
        |  CASE WHEN d.n_tok > 512 THEN s.next_seq + 1
        |       WHEN s.cur_seq >= 0 AND s.used + d.n_tok <= 512 THEN s.next_seq
        |       ELSE s.next_seq + 1 END,
        |  CASE WHEN d.n_tok > 512 THEN s.used
        |       WHEN s.cur_seq >= 0 AND s.used + d.n_tok <= 512 THEN s.used + d.n_tok
        |       ELSE d.n_tok END
        | FROM step s JOIN sq d ON d.shard = s.shard AND d.rn = s.rn + 1)
        |SELECT cast(shard as bigint) * 4294967296 + bin_seq AS bin_id,
        | cast(count(*) as int) AS n_docs,
        | cast(sum(n_tok) as int) AS total_tokens,
        | cast(sum(n_tok) as double) / 512 AS fill_ratio,
        | bool_or(oversize) AS oversize,
        | string_agg(cast(id as varchar), ',' ORDER BY rn) AS doc_ids
        |FROM step WHERE rn > 0
        |GROUP BY shard, bin_seq
        |ORDER BY bin_id""".stripMargin,

    "q_pipeline_e2e" ->
      """WITH clicks AS (
        | SELECT event_id, user_id, cast(ts as timestamp) AS tts,
        |  cast(floor(value*100 + 0.5) as bigint) AS m_value_c
        | FROM events
        | WHERE event_type = 'click' AND event_id IS NOT NULL
        |   AND user_id IS NOT NULL AND ts IS NOT NULL),
        |seg AS (
        | SELECT c_custkey, c_acctbal,
        |  CASE c_mktsegment WHEN 'AUTOMOBILE' THEN 'AUTO' WHEN 'BUILDING' THEN 'BLD'
        |   WHEN 'FURNITURE' THEN 'FURN' WHEN 'HOUSEHOLD' THEN 'HH'
        |   WHEN 'MACHINERY' THEN 'MACH' ELSE c_mktsegment END AS segment
        | FROM customer),
        |prim AS (SELECT c_custkey AS pk, segment FROM seg WHERE c_acctbal > 100),
        |sec AS (SELECT c_custkey AS sk, segment FROM seg WHERE c_custkey < 500),
        |xref AS (
        | SELECT c.event_id, c.user_id, c.tts, c.m_value_c,
        |  coalesce(p.segment, s2.segment, 'UNKNOWN') AS segment,
        |  CASE WHEN p.pk IS NOT NULL THEN 'primary'
        |       WHEN s2.sk IS NOT NULL THEN 'secondary'
        |       ELSE 'none' END AS match_source
        | FROM clicks c
        |  LEFT JOIN prim p ON c.user_id = p.pk
        |  LEFT JOIN sec s2 ON p.pk IS NULL AND (c.user_id % 500) = s2.sk),
        |purch AS (
        | SELECT user_id AS p_user, cast(ts as timestamp) AS p_tts,
        |  cast(floor(arg_min(value, event_id)*100 + 0.5) as bigint) AS m_pvalue_c
        | FROM events WHERE event_type = 'purchase' GROUP BY 1, 2),
        |assoc AS (
        | SELECT x.*, epoch_us(x.tts) - epoch_us(p.p_tts) AS m_lag_us, p.m_pvalue_c
        | FROM xref x ASOF LEFT JOIN purch p
        |   ON x.user_id = p.p_user AND x.tts >= p.p_tts),
        |derived AS (
        | SELECT *, m_value_c + coalesce(m_pvalue_c, 0) AS m_total_c,
        |  CASE WHEN m_pvalue_c IS NULL OR m_pvalue_c <= 0 THEN NULL
        |       ELSE m_value_c * 1000 // m_pvalue_c END AS m_ratio_pm
        | FROM assoc),
        |obs AS (
        | SELECT user_id, segment, match_source, event_id, measure, value FROM (
        |  SELECT user_id, segment, match_source, event_id,
        |   'm_value_c' AS measure, m_value_c AS value FROM derived
        |  UNION ALL SELECT user_id, segment, match_source, event_id, 'm_pvalue_c', m_pvalue_c FROM derived
        |  UNION ALL SELECT user_id, segment, match_source, event_id, 'm_lag_us', m_lag_us FROM derived
        |  UNION ALL SELECT user_id, segment, match_source, event_id, 'm_total_c', m_total_c FROM derived
        |  UNION ALL SELECT user_id, segment, match_source, event_id, 'm_ratio_pm', m_ratio_pm FROM derived)
        | WHERE value IS NOT NULL)
        |SELECT user_id, segment, match_source, cast(count(*) as bigint) AS n_obs,
        | to_json(struct_pack(id := user_id, seg := segment, src := match_source,
        |  obs := list(struct_pack(e := event_id, m := measure, v := value)
        |              ORDER BY event_id, measure, value))) AS doc
        |FROM obs
        |GROUP BY user_id, segment, match_source
        |ORDER BY user_id""".stripMargin,

    "q_spec_mapping" ->
      """SELECT o_orderkey AS order_id,
        | CASE o_orderstatus WHEN 'O' THEN 'OPEN' WHEN 'F' THEN 'FILLED'
        |  WHEN 'P' THEN 'PENDING' ELSE o_orderstatus END AS status_code,
        | CASE o_orderpriority WHEN '1-URGENT' THEN 'U' WHEN '2-HIGH' THEN 'H'
        |  WHEN '3-MEDIUM' THEN 'M' WHEN '5-LOW' THEN 'L'
        |  ELSE o_orderpriority END AS priority_code,
        | o_custkey AS customer_key,
        | cast(cast(o_orderdate as timestamp) as varchar) AS order_date
        |FROM orders ORDER BY order_id""".stripMargin,

    "q_mix_weighted" ->
      """WITH w AS (
        | SELECT doc_id, source,
        |  substr(md5(source || '|' || cast(doc_id as varchar)), 1, 8) AS u,
        |  CASE source WHEN 'src0' THEN 2 WHEN 'src1' THEN 1 WHEN 'src2' THEN 1
        |   WHEN 'src3' THEN 1 ELSE 0 END AS n_base,
        |  CASE source WHEN 'src0' THEN '40000000' WHEN 'src1' THEN '80000000'
        |   WHEN 'src2' THEN '00000000' WHEN 'src3' THEN '00000000'
        |   WHEN 'src4' THEN '99999999' WHEN 'src5' THEN '66666666'
        |   WHEN 'src6' THEN '40000000' ELSE '00000000' END AS thr
        | FROM documents),
        |c AS (
        | SELECT doc_id, source,
        |  n_base + CASE WHEN u < thr THEN 1 ELSE 0 END AS n_copies
        | FROM w)
        |SELECT doc_id, source, unnest(range(n_copies)) AS copy_idx
        |FROM c WHERE n_copies > 0
        |ORDER BY source, doc_id, copy_idx""".stripMargin,

    "q_corpus_e2e" -> {
      val norm = "trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9 ]', ' ', 'g'), ' +', ' ', 'g'))"
      s"""WITH keep AS (
         | SELECT min(doc_id) AS doc_id FROM documents GROUP BY md5($norm)),
         |dd AS (SELECT d.* FROM documents d JOIN keep USING (doc_id)),
         |t AS (SELECT doc_id, string_split($norm, ' ') AS toks FROM dd),
         |s AS (
         | SELECT doc_id, i AS pos, array_to_string(toks[(i*8+1):(i*8+8)], ' ') AS span
         | FROM t, unnest(range(cast(ceil(len(toks) / 8.0) as bigint))) AS u(i)),
         |banned AS (SELECT span FROM s GROUP BY span HAVING count(*) > 1),
         |clean AS (
         | SELECT s.doc_id,
         |  count(CASE WHEN b.span IS NOT NULL THEN 1 END) AS n_removed,
         |  coalesce(string_agg(CASE WHEN b.span IS NULL THEN s.span END, ' ' ORDER BY s.pos), '') AS clean_text
         | FROM s LEFT JOIN banned b ON s.span = b.span GROUP BY s.doc_id),
         |scored AS (
         | SELECT c.doc_id, d.lang, c.n_removed,
         |  CASE WHEN length(c.clean_text) = 0 THEN 0
         |   ELSE cast(len(string_split(c.clean_text, ' ')) as int) END AS n_tokens
         | FROM clean c JOIN documents d USING (doc_id)),
         |f AS (SELECT * FROM scored WHERE n_tokens >= 20),
         |counts AS (SELECT lang, count(*) AS n FROM f GROUP BY lang),
         |tot AS (SELECT sum(n) AS total, sum(sqrt(n)) AS sp FROM counts),
         |w AS (SELECT lang, round(sqrt(n) * total / (n * sp), 6) AS wt FROM counts, tot),
         |m AS (SELECT f.doc_id, f.lang, f.n_tokens, f.n_removed,
         |  substr(md5(f.lang || '|' || cast(f.doc_id as varchar)), 1, 8) AS u,
         |  cast(floor(wt) as bigint) AS n_base,
         |  lpad(lower(hex(cast(floor((wt - floor(wt)) * 4294967296.0) as bigint))), 8, '0') AS thr,
         |  cast(round(wt * 1000000, 0) as bigint) AS weight_ppm
         | FROM f JOIN w USING (lang)),
         |c AS (SELECT doc_id, lang, n_tokens, n_removed, weight_ppm,
         |  n_base + CASE WHEN u < thr THEN 1 ELSE 0 END AS n_copies FROM m)
         |SELECT doc_id, lang, cast(unnest(range(n_copies)) as bigint) AS copy_idx,
         | weight_ppm, n_tokens, n_removed
         |FROM c WHERE n_copies > 0
         |ORDER BY lang, doc_id, copy_idx""".stripMargin
    },

    // replays sftSpans: same in-plan turn synthesis, template-constant
    // lengths INTERPOLATED from the Posttrain tags (one Scala constant
    // feeds both sides — the hadamardProj discipline), prefix sums
    // over the same frame, ordered full-partition string_agg rendering
    "q_sft_format" -> {
      import graft.operators.Posttrain.{AssistantTag, EndTag, SystemTag, UserTag}
      val uT = UserTag.length
      val aT = AssistantTag.length
      val sys = "You are a helpful assistant."
      val sysLen = SystemTag.length + sys.length
      s"""WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
         |ks AS (
         | SELECT doc_id, t,
         |  unnest(range(0, CASE WHEN doc_id % 2 = 0 THEN 2 ELSE 1 END)) AS k
         | FROM toks),
         |turns AS (
         | SELECT doc_id, k,
         |  coalesce(array_to_string(t[(k*16+1):(k*16+5)], ' '), '') AS u,
         |  coalesce(array_to_string(t[(k*16+9):(k*16+14)], ' '), '') AS a
         | FROM ks),
         |m AS (
         | SELECT doc_id, k, u, a,
         |  coalesce(sum($uT + length(u) + $aT + length(a)) OVER (
         |   PARTITION BY doc_id ORDER BY k
         |   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS prefix,
         |  cast(row_number() OVER (PARTITION BY doc_id ORDER BY k) - 1 as int) AS turn,
         |  count(*) OVER (PARTITION BY doc_id) AS n_turns,
         |  '$SystemTag$sys' || string_agg('$UserTag' || u || '$AssistantTag' || a, '') OVER (
         |   PARTITION BY doc_id ORDER BY k
         |   ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) || '$EndTag' AS rendered
         | FROM turns)
         |SELECT doc_id, turn,
         | cast($sysLen + prefix + $uT + length(u) + $aT as bigint) AS span_start,
         | cast(length(a) as bigint) AS span_len, n_turns, rendered
         |FROM m ORDER BY doc_id, turn""".stripMargin
    },

    // replays sftRendered: same synthesis, the rendered aggregate as
    // an ordered string_agg per conversation — ONE row each
    "q_sft_normalized" -> {
      import graft.operators.Posttrain.{AssistantTag, EndTag, SystemTag, UserTag}
      val sys = "You are a helpful assistant."
      s"""WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
         |ks AS (
         | SELECT doc_id, t,
         |  unnest(range(0, CASE WHEN doc_id % 2 = 0 THEN 2 ELSE 1 END)) AS k
         | FROM toks),
         |turns AS (
         | SELECT doc_id, k,
         |  coalesce(array_to_string(t[(k*16+1):(k*16+5)], ' '), '') AS u,
         |  coalesce(array_to_string(t[(k*16+9):(k*16+14)], ' '), '') AS a
         | FROM ks),
         |r AS (
         | SELECT doc_id, count(*) AS n_turns,
         |  '$SystemTag$sys' || string_agg('$UserTag' || u || '$AssistantTag' || a,
         |    '' ORDER BY k) || '$EndTag' AS rendered
         | FROM turns GROUP BY doc_id)
         |SELECT doc_id, n_turns, cast(length(rendered) as bigint) AS rendered_len,
         | rendered
         |FROM r ORDER BY doc_id""".stripMargin
    },

    // replays dpoPairs: same candidate projection, both rank windows
    // with the smaller-id tie-break, the >= 2 candidate gate and the
    // positive-gap gate
    "q_dpo_pairs" ->
      """WITH c AS (
        | SELECT user_id AS prompt_id, event_id,
        |  cast(floor(value * 100) as bigint) AS s
        | FROM events WHERE event_type IN ('view', 'click')),
        |r AS (
        | SELECT *,
        |  row_number() OVER (PARTITION BY prompt_id ORDER BY s DESC, event_id) AS rt,
        |  row_number() OVER (PARTITION BY prompt_id ORDER BY s ASC, event_id) AS rb,
        |  count(*) OVER (PARTITION BY prompt_id) AS n
        | FROM c),
        |ch AS (SELECT prompt_id, event_id AS chosen_id, s AS chosen_score
        | FROM r WHERE rt = 1),
        |rj AS (SELECT prompt_id, event_id AS rejected_id, s AS rejected_score, n
        | FROM r WHERE rb = 1 AND n >= 2)
        |SELECT rj.prompt_id, chosen_id, rejected_id, chosen_score, rejected_score,
        | chosen_score - rejected_score AS gap, n AS n_candidates
        |FROM rj JOIN ch USING (prompt_id)
        |WHERE chosen_score - rejected_score >= 1
        |ORDER BY rj.prompt_id""".stripMargin,

    "q_chunk_windows" -> {
      val norm = "trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9 ]', ' ', 'g'), ' +', ' ', 'g'))"
      s"""WITH t AS (
         | SELECT doc_id, string_split($norm, ' ') AS toks FROM documents),
         |nc AS (
         | SELECT doc_id, toks, len(toks) AS n,
         |  CASE WHEN len(toks) <= 32 THEN 1
         |   ELSE cast(ceil((len(toks) - 32) / 24.0) as bigint) + 1 END AS n_chunks
         | FROM t)
         |SELECT doc_id, i AS chunk_idx,
         | least(32, n - i * 24) AS n_tokens,
         | array_to_string(toks[(i*24+1):(i*24+32)], ' ') AS chunk_text
         |FROM nc, unnest(range(n_chunks)) AS u(i)
         |WHERE NOT (n = 1 AND toks[1] = '')
         |ORDER BY doc_id, chunk_idx""".stripMargin
    },

    "q_mix_temperature" ->
      """WITH counts AS (SELECT lang, count(*) AS n FROM documents GROUP BY lang),
        |tot AS (SELECT sum(n) AS total, sum(sqrt(n)) AS sp FROM counts),
        |w AS (SELECT lang, round(sqrt(n) * total / (n * sp), 6) AS wt FROM counts, tot),
        |m AS (SELECT d.doc_id, d.lang,
        |  substr(md5(d.lang || '|' || cast(d.doc_id as varchar)), 1, 8) AS u,
        |  cast(floor(wt) as bigint) AS n_base,
        |  lpad(lower(hex(cast(floor((wt - floor(wt)) * 4294967296.0) as bigint))), 8, '0') AS thr,
        |  cast(round(wt * 1000000, 0) as bigint) AS weight_ppm
        | FROM documents d JOIN w USING (lang)),
        |c AS (SELECT doc_id, lang, weight_ppm,
        |  n_base + CASE WHEN u < thr THEN 1 ELSE 0 END AS n_copies FROM m)
        |SELECT doc_id, lang, cast(unnest(range(n_copies)) as bigint) AS copy_idx, weight_ppm
        |FROM c WHERE n_copies > 0
        |ORDER BY lang, doc_id, copy_idx""".stripMargin,

    "q_surrogate_id" ->
      """SELECT o_orderkey, o_custkey,
        | cast(row_number() OVER (ORDER BY md5(cast(o_orderkey as varchar))) as bigint)
        |  AS surrogate_id
        |FROM orders ORDER BY o_orderkey""".stripMargin)
}
