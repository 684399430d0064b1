package graft.queries

import graft.Materialize
import graft.functions.TextFunctions._
import graft.functions.VectorFunctions
import graft.multimodal.Media
import graft.operators.{Dedup, LangModel, Select, Similarity, Split}
import graft.sources.Tables
import graft.streaming.EventStream
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Text analysis / dedup / similarity / multimodal / streaming queries
  * (SURVEY §2 D/E) — the LLM-training-data-pipeline operator family.
  */
object QueriesText {
  type Q = (SparkSession, String) => DataFrame

  // DuckDB replica of TextFunctions.normText — keep in sync
  private val normSql =
    "trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9 ]', ' ', 'g'), ' +', ' ', 'g'))"
  private def toksSql = s"string_split($normSql, ' ')"

  // DuckDB replica of the md5-threshold uniform draw (first 6 hex
  // digits of md5 as an integer in [0, 16^6)) — keep in sync with
  // operators/Split.scala and the q_sample_stratified idiom.
  private def md5UvalSql(argSql: String): String = {
    val digit = (i: Int) =>
      s"strpos('0123456789abcdef', substr(__m, $i, 1)) - 1"
    s"""((((cast(${digit(1)} as bigint) * 16
       |    + ${digit(2)}) * 16 + ${digit(3)}) * 16
       |    + ${digit(4)}) * 16 + ${digit(5)}) * 16 + ${digit(6)}"""
      .stripMargin.replace("__m", s"md5($argSql)")
  }

  val queries: Map[String, Q] = Map(
    "q_token_count" -> ((s, d) => {
      Tables(s, d).documents
        .select(col("doc_id"), tokens(col("text")).as("__toks"))
        .select(col("doc_id"), tokenCountOfTokens(col("__toks")).as("n_tokens"))
        .orderBy("doc_id")
    }),

    "q_text_quality" -> ((s, d) => {
      // tokens materialized once (HOF lambdas don't CSE), quality
      // assembled from the same raw components as the oracle
      Tables(s, d).documents
        .select(col("doc_id"), col("text"), tokens(col("text")).as("__toks"))
        .select(col("doc_id"),
          tokenCountOfTokens(col("__toks")).as("n_tokens"),
          punctRatio(col("text")).as("__punct"),
          stopwordRatioOfTokens(col("__toks")).as("__stop"))
        .select(col("doc_id"), col("n_tokens"),
          round(col("__punct"), 6).as("punct_ratio"),
          round(col("__stop"), 6).as("stop_ratio"),
          round(qualityScoreOf(col("n_tokens"), col("__punct"), col("__stop")), 6)
            .as("quality"))
        .orderBy("doc_id")
    }),

    "q_lang_id" -> ((s, d) => {
      // tokens, then the 5 scores, each materialized ONCE per row —
      // the argmax in the final projection reads cheap struct fields
      // (inline scores re-evaluate per `when` reference: no CSE
      // through HOF lambdas)
      Tables(s, d).documents
        .select(col("doc_id"), col("lang").as("lang_actual"), tokens(col("text")).as("__toks"))
        .select(col("doc_id"), col("lang_actual"),
          langScoresOfTokens(col("__toks")).as("__ls"))
        .select(col("doc_id"), col("lang_actual"),
          langIdOfScores(col("__ls")).as("lang_pred"))
        .orderBy("doc_id")
    }),

    "q_token_bpe" -> ((s, d) => {
      // BPE-ish regex pre-tokenization counts (letters/digits/punct
      // runs) alongside whitespace token counts
      Tables(s, d).documents
        .select(col("doc_id"), col("text"), tokens(col("text")).as("__toks"))
        .select(col("doc_id"),
          tokenCountOfTokens(col("__toks")).as("n_ws_tokens"),
          bpeTokenCount(col("text")).as("n_bpe_tokens"))
        .orderBy("doc_id")
    }),

    "q_fingerprint_rolling" -> ((s, d) => {
      // order-sensitive rolling-hash fingerprint, ENGINE-PORTABLE
      // form: h = (h*31 + md5-20-bit(token)) mod 2^40, so the DuckDB
      // oracle replays the identical recurrence with list_reduce —
      // the simhashPortable conversion applied to the rolling hash
      // (the xxhash64 variant stays as TextFunctions.
      // rollingFingerprint for parity-free production use).
      Tables(s, d).documents
        .select(col("doc_id"), tokens(col("text")).as("__toks"))
        .select(col("doc_id"),
          rollingFingerprintPortable(col("__toks")).as("rolling_fp"))
        .orderBy("doc_id")
    }),

    "q_fingerprint" -> ((s, d) => {
      Tables(s, d).documents
        .groupBy(fingerprint(col("text")).as("fp"))
        .agg(count(lit(1)).as("n_docs"), min(col("doc_id")).as("first_doc"))
        .orderBy("fp")
    }),

    "q_dedup_exact" -> ((s, d) => {
      Dedup.exact(Tables(s, d).documents, "doc_id", "text")
        .select(col("fp"), col("doc_id").as("keep_id"), col("n_dups"))
        .orderBy("fp")
    }),

    "q_dedup_incremental" -> ((s, d) => {
      // incremental corpus update: docs hashing into the 70% split
      // are the already-indexed history; the other 30% arrive as the
      // new batch and are triaged against the history's (fp, min id)
      // index (Dedup.incrementalExact — only fingerprints of the
      // history move, its text is never re-shuffled)
      val docs = Tables(s, d).documents
      Dedup.incrementalExact(
          docs.filter(col("doc_id") % 10 < 7),
          docs.filter(col("doc_id") % 10 >= 7),
          "doc_id", "text")
        .orderBy("doc_id")
    }),

    "q_dedup_ngram" -> ((s, d) => {
      Dedup.ngramJaccard(Tables(s, d).documents, "doc_id", "text",
          shingleN = 3, threshold = 0.5)
        .orderBy("id_a", "id_b")
    }),

    "q_dedup_survivors" -> ((s, d) => {
      // survivor-policy exact dedup + rewrite map (Dedup.
      // exactSurvivors): every doc maps to its group's best-quality
      // canonical (longest doc wins, ties to smallest id) — the table
      // downstream references are rewritten through
      Dedup.exactSurvivors(Tables(s, d).documents, "doc_id", "text", "n_chars")
        .orderBy("doc_id")
    }),

    "q_dedup_spans" -> ((s, d) => {
      // C4-style WITHIN-document boilerplate removal: every 8-token
      // span seen more than once corpus-wide is deleted, the document
      // survives with its unique remainder (operators/Dedup.scala
      // dedupSpans; the oracle replays the identical window/ban/
      // reassemble dataflow in SQL)
      Dedup.dedupSpans(Tables(s, d).documents, "doc_id", "text",
          spanTokens = 8, maxOccur = 1)
        .orderBy("doc_id")
    }),

    "q_dedup_sentence" -> ((s, d) => {
      // corpus-wide SENTENCE dedup, keep-first (Dedup.dedupSentences —
      // the C4-family stage between doc dedup and span/substring
      // dedup): repeated eligible sentences survive ONLY at their
      // canonical first occurrence, so unique content is preserved
      // exactly once, where dedupSpans/dedupSubstrings ban every
      // occurrence. The corpus carries no sentence boundaries, so
      // multi-sentence pages are synthesized IN-PLAN (the
      // q_html_extract fixture discipline): a per-source subscribe
      // banner (repeated ~100×), the doc's unique body, a shared
      // rights notice on every third doc, a sub-minChars "OK" fragment
      // that repeats corpus-wide but is too short to dedup, and a
      // short unique tail. The oracle replays wrap + split + count +
      // first-occurrence rank + reassembly bit-for-bit.
      val page = concat(
        lit("Subscribe to the "), col("source"), lit(" newsletter today. "),
        substring(col("text"), 1, 60), lit(". "),
        when(pmod(col("doc_id"), lit(3)) === 0,
          lit("All rights reserved by the operator"))
          .otherwise(concat(lit("Thanks "), col("doc_id"))),
        lit(". OK"))
      Dedup.dedupSentences(
          Tables(s, d).documents.select(col("doc_id"), page.as("page")),
          "doc_id", "page", minChars = 12, maxOccur = 1)
        .orderBy("doc_id")
    }),

    "q_dedup_substring" -> ((s, d) => {
      // arbitrary-length exact-substring dedup (VERDICT r15 #4, the
      // Lee-et-al suffix-array family): every token covered by a
      // repeated stride-1 6-gram is removed, so maximal repeats of
      // ANY length >= 6 die in full while dedupSpans' fixed windows
      // would only clip them at 8-token granularity. n_extents counts
      // the merged variable-length extents per doc (operators/Dedup
      // .scala dedupSubstrings; the oracle replays the gram-ban +
      // difference-array coverage dataflow with SQL windows)
      Dedup.dedupSubstrings(Tables(s, d).documents, "doc_id", "text",
          minTokens = 6, maxOccur = 1)
        .orderBy("doc_id")
    }),

    "q_dedup_minhash" -> ((s, d) => {
      Dedup.minHashLsh(Tables(s, d).documents, "doc_id", "text",
          shingleN = 3, numHashes = 32, bands = 8, threshold = 0.6)
        .orderBy("id_a", "id_b")
    }),

    "q_dedup_simhash" -> ((s, d) => {
      Dedup.simHashDups(Tables(s, d).documents, "doc_id", "text", maxHamming = 3)
        .orderBy("id_a", "id_b")
    }),

    // ── precision/recall oracles for the probabilistic dedup family ──
    // Each of these is hash-compared against a brute-forced DuckDB
    // ground truth, turning the rows-only generators' spec evidence
    // into driver-visible exactness proofs (the q_shingle_clusters
    // pattern, applied to pairs).

    "q_heavy_hitters" -> ((s, d) => {
      // corpus-wide token heavy hitters: the Misra–Gries NATIVE
      // aggregate (functions/HeavyHitters.scala — fixed k-counter
      // state riding the partial-agg path, no full word-count
      // shuffle) proposes candidates; ONE broadcast-semi-join exact
      // pass re-counts them; the EMITTED surface is the items whose
      // EXACT count exceeds n/(k+1) — deterministic, because the MG
      // bound guarantees every such item survives the sketch
      // regardless of partition/merge order (sketch nondeterminism
      // only touches sub-threshold candidates, which the final filter
      // drops). That makes the query plain GROUP BY + HAVING in the
      // oracle, while the Spark plan never shuffles the full word
      // count — only k candidate counters ride the partial-agg path.
      import graft.functions.HeavyHitters
      val k = 30
      val toks = Tables(s, d).documents
        .select(explode(tokens(col("text"))).as("tok"))
        .filter(length(col("tok")) > 0)
      val candidates = toks
        .agg(HeavyHitters.misraGries(col("tok"), k).as("hh"))
        .select(explode(col("hh")).as("h"))
        .select(col("h.item").as("item"))
      val total = toks.agg(count(lit(1)).as("__n"))
      toks.join(broadcast(candidates), col("tok") === col("item"), "left_semi")
        .groupBy(col("tok"))
        .agg(count(lit(1)).as("exact_count"))
        .crossJoin(broadcast(total))
        .filter(col("exact_count") * (k + 1) > col("__n"))
        .select(col("tok"), col("exact_count"))
        .orderBy(col("exact_count").desc, col("tok"))
    }),

    "q_dedup_minhash_verify" -> ((s, d) => {
      // the FULL MinHash+LSH pipeline (sketch, banding, bucket join,
      // exact-Jaccard verify) at a band config whose recall is
      // effectively exact — 16 bands of 2 rows: P[miss] = (1-j²)^16
      // ≤ 1.4e-11 at j ≥ 0.889 (the gate corpora's closest
      // qualifying pairs), so the emitted set EQUALS the oracle's
      // brute-forced truth. Precision is exact by construction
      // (verifyJaccard); this query makes the recall side
      // driver-checkable too. The j-distribution ASSUMPTION is
      // guarded by a spec (TextDedupSpec "sensitive jaccard band"):
      // corpus drift into [0.7, 0.85) fails there, not here.
      Dedup.minHashLsh(Tables(s, d).documents, "doc_id", "text",
          shingleN = 3, numHashes = 32, bands = 16, threshold = 0.7,
          maxBucket = 100000)
        .orderBy("id_a", "id_b")
    }),

    "q_dedup_ngram_verify" -> ((s, d) => {
      // the exact-Jaccard VERIFY core (hashed-shingle intersection /
      // union) through an ungated all-pairs candidate set on a bounded
      // universe — proves the arithmetic every probabilistic generator
      // funnels into. 2-gram shingles at 0.3: a different arity and
      // threshold than the minhash query, same 25-pair truth with
      // different jaccard VALUES, so the hash compare exercises fresh
      // numbers. doc_id < 500 bounds the quadratic candidate set at
      // every SF (verification-scale by design, see bruteForceJaccard).
      Dedup.bruteForceJaccard(
          Tables(s, d).documents.filter(col("doc_id") < 500),
          "doc_id", "text", shingleN = 2, threshold = 0.3)
        .orderBy("id_a", "id_b")
    }),

    "q_simjoin_prefix" -> ((s, d) => {
      // EXACT set-similarity join (Dedup.prefixFilterJaccard): the
      // lossless PPJoin-style prefix filter over the SAME 3-gram/0.5
      // universe as q_dedup_ngram — so where that query's 1-hash
      // minhash gate is probabilistic recall (rows-only, declared),
      // this one's output is the COMPLETE J≥τ pair set and the oracle
      // brute-forces the full truth and hash-matches it, proving both
      // the filter's losslessness and the probabilistic family's
      // target. Candidates form only inside rarest-shingle prefix
      // buckets (max bucket 3 at sf0.01, 10 at sf0.1 — vs 500/5000
      // docs), never all-pairs; a loud gate throws if a bucket would
      // be dropped, since a drop would break the exactness contract.
      Dedup.prefixFilterJaccard(Tables(s, d).documents, "doc_id", "text",
          shingleN = 3, threshold = 0.5)
        .orderBy("id_a", "id_b")
    }),

    "q_dedup_simhash_verify" -> ((s, d) => {
      // the simhash FAMILY made engine-portable: md5-derived 60-bit
      // signatures (Dedup.simhashPortable) through the same block-
      // bucket + pigeonhole + hamming machinery as q_dedup_simhash
      // (Dedup.simHashOnSig). maxHamming=3 < 4 blocks ⇒ recall is
      // DETERMINISTICALLY exact, so emitted pairs == the oracle's
      // brute-forced hamming truth, bit for bit.
      val sig = Dedup.simhashPortable(Tables(s, d).documents, "doc_id", "text")
      Dedup.simHashOnSig(sig, "doc_id", "sig", bits = 60, blocks = 4,
          maxHamming = 3, maxBucket = 100000)
        .orderBy("id_a", "id_b")
    }),

    "q_dedup_embed" -> ((s, d) => {
      // embedding-cosine near-dup: candidate pairs blocked by a coarse
      // cluster key (label) through the CAPPED bucket generator — a hot
      // block at corpus scale is dropped, never allowed to go O(m²).
      // Threshold is domain-tuned; 0.42 exercises the tail of this
      // synthetic corpus (true dups would sit near 1.0).
      Dedup.embedCosine(Tables(s, d).embeddings, "vec_id", "embedding",
          blockCol = "label", threshold = 0.42, maxBlock = 1000)
        .orderBy("id_a", "id_b")
    }),

    "q_bitext_mine" -> ((s, d) => {
      // margin-based bitext mining (Similarity.bitextMarginMine — the
      // Artetxe & Schwenk ratio margin, the standard recipe for
      // mining parallel sentence pairs out of two monolingual
      // embedding spaces): mutual best-margin cross-side pairs where
      // margin = cos / mean-of-kNN-cos corrects for hubness. Sides by
      // vec_id parity; candidates are SAME-CELL pairs under the shared
      // bit-deterministic int8 k-means (the q_dedup_semantic blocking
      // discipline, nlist derived so cells stay ~64 rows) — never
      // all-pairs. One float→ppb floor per pair, then integer sums /
      // truncating divs, so the DuckDB oracle replays candidate set,
      // kNN means, margins and the mutual filter bit-for-bit.
      Similarity.bitextMarginMine(Tables(s, d).embeddings,
          pmod(col("vec_id"), lit(2)) === 0, k = 4, minMarginPpm = 1000000L)
        .orderBy("x_id", "y_id")
    }),

    "q_bitext_recall" -> ((s, d) => {
      // ORACLE-CHECKED blocking recall for bitext mining (VERDICT r16
      // #2 — the q_ann_recall discipline applied to
      // bitextMarginMine): the production same-cell candidate
      // generation has unmeasured recall, and q_bitext_mine's oracle
      // replays the SAME blocking, so a cross-cell miss is invisible
      // to it. Here the TRUTH leg mines with NO blocking (allPairs —
      // every cross-side pair a candidate; margins/kNN means computed
      // over the full candidate set, the real answer) and recall =
      // |blocked ∩ truth| / |truth| at the production cell config
      // (assignCells targetCellSize=64 — the q_dedup_semantic
      // blocking). Both legs are exact-integer after the one
      // float→ppb floor, so DuckDB replays blocking, truth AND the
      // recall arithmetic bit-for-bit. The truth leg is O(|X|·|Y|) BY
      // DESIGN — certification on the bounded corpus, never the
      // production path (SimilaritySpec pins a cross-cell near-pair
      // the blocked leg misses, proving the metric detects misses).
      val emb = Tables(s, d).embeddings
      val side = pmod(col("vec_id"), lit(2)) === 0
      val blocked = Similarity.bitextMarginMine(emb, side,
          k = 4, minMarginPpm = 1000000L)
        .select(col("x_id"), col("y_id"), lit(1).as("__hit"))
      val truth = Similarity.bitextMarginMine(emb, side,
          k = 4, minMarginPpm = 1000000L, allPairs = true)
        .select(col("x_id"), col("y_id"))
      val nb = blocked.agg(count(lit(1)).as("n_blocked"))
      truth.join(blocked, Seq("x_id", "y_id"), "left")
        .agg(count(lit(1)).as("n_truth"), count(col("__hit")).as("n_hits"))
        .crossJoin(broadcast(nb))
        .select(col("n_truth"), col("n_blocked"), col("n_hits"),
          round(col("n_hits").cast("double") / col("n_truth"), 6).as("recall"))
    }),

    "q_dedup_semantic" -> ((s, d) => {
      // LABEL-FREE semantic near-dup: blocks come from the engine's
      // own bit-deterministic int8 k-means (Cluster.kmeansAssignInt8,
      // the q_kmeans machinery) instead of a given label column — the
      // shape a real corpus needs, since nothing ships pre-clustered.
      // Same capped-block pair generator + exact cosine as
      // q_dedup_embed; determinism of the clustering is what makes
      // the whole composition hash-exact against a DuckDB oracle that
      // replays the two Lloyd's iterations unrolled.
      // Scale: k-means is broadcast-centroid + one k×dim shuffle per
      // iteration; blocking then bounds candidate pairs to cell-local
      // (capped) — no all-pairs at any corpus size. k is DERIVED by
      // the IVF nlist rule (Cluster.kForCorpus: k = ceil(n/64), so
      // cells stay ~64 rows at every corpus size — a fixed k would
      // let cells grow with the data until the maxBlock cap drops
      // them, which embedCosine's drop gate now turns into a loud
      // failure instead of a silent empty result). At the 500-vector
      // oracle corpus the derivation lands on exactly 8, the k the
      // unrolled DuckDB oracle replays (LIMIT 8 init). Past the flat
      // ceiling (~262k vectors at cell 64) assignCells escalates to
      // the two-level path (Cluster.kmeansTwoLevel: sample-trained
      // coarse shards, distributed per-shard Lloyd's) AUTOMATICALLY —
      // below it the wrapper is spec-proven bit-identical to the
      // kForCorpus + kmeansAssignInt8 trajectory this oracle pins.
      val emb = Tables(s, d).embeddings
      val n = emb.count() // parquet metadata count — cheap, reused twice
      val cells = graft.operators.Cluster.assignCells(
        emb, "vec_id", "embedding", targetCellSize = 64, iters = 2,
        nKnown = Some(n))
      // cells has one row per corpus vector: past the measured
      // break-even (Dedup.BroadcastSafeCorpusRows) it must ride a
      // shuffle join, never a driver broadcast build
      val joined =
        if (n > Dedup.BroadcastSafeCorpusRows)
          emb.join(cells.hint("merge"), "vec_id")
        else emb.join(cells, "vec_id")
      Dedup.embedCosine(joined, "vec_id", "embedding",
          blockCol = "cluster", threshold = 0.42, maxBlock = 1000)
        .orderBy("id_a", "id_b")
    }),

    "q_embed_pool" -> ((s, d) => {
      // mean-pooling aggregation over embedding vectors (the
      // chunk-embeddings → document-embedding shape): posexplode to
      // (group, pos) then ONE map-side-combined shuffle of dim-sized
      // partial sums per group. Sums ride decimal(38,20) — a float's
      // double value is exact at scale 20, and decimal addition is
      // associative, so the pooled mean is partitioning-independent
      // (a raw double sum is merge-order dependent).
      Tables(s, d).embeddings
        .select(col("label"), posexplode(col("embedding")).as(Seq("pos", "v")))
        .groupBy("label", "pos")
        .agg(
          round(sum(col("v").cast("double").cast("decimal(38,20)")).cast("double")
            / count(lit(1)), 6).as("mean_val"),
          count(lit(1)).as("n_vecs"))
        .orderBy("label", "pos")
    }),

    "q_embed_norm" -> ((s, d) => {
      Tables(s, d).embeddings
        .select(col("vec_id"), size(col("embedding")).as("dim"),
          round(sqrt(VectorFunctions.dotHof(col("embedding"), col("embedding"))), 6)
            .as("l2_norm"),
          round(VectorFunctions.dotHof(col("embedding"), col("embedding")), 6)
            .as("sq_sum"))
        .orderBy("vec_id")
    }),

    "q_quality_model" -> ((s, d) => {
      // hashed-feature linear classifier inference (operators/
      // Infer.scala): the fastText-style quality model run as a plan —
      // weights are a literal array riding the task binary (no join),
      // features are md5-hashed unigrams (engine-portable buckets),
      // one map-side-combined per-doc aggregation. The "model" here is
      // a fixed arithmetic function of the bucket id so the oracle can
      // derive every weight: w(i) = (i * 2654435761) % 2003 - 1001.
      val weights = Array.tabulate(4096)(i => (i.toLong * 2654435761L) % 2003L - 1001L)
      graft.operators.Infer.linearScore(Tables(s, d).documents,
          "doc_id", "text", weights.toSeq, bias = 7L)
        .orderBy("doc_id")
    }),

    "q_cooccur_pmi" -> ((s, d) => {
      // vocabulary-bounded token co-occurrence with integer-exact PMI
      // lift (operators/CoOccur.scala): top-40 document-frequency
      // vocab (deterministic ties) caps the pair join; lift ppm > 1e6
      // marks above-chance collocations. All counts/divisions integer
      // → hash-exact oracle.
      graft.operators.CoOccur.pmi(Tables(s, d).documents, "doc_id", "text",
          topV = 40, minPairCount = 3L)
        .orderBy("tok_a", "tok_b")
    }),

    "q_embed_robust" -> ((s, d) => {
      // per-dimension robust feature profile (Stats.robustProfile):
      // EXACT nearest-rank p25/median/p75 + Tukey outlier counts by
      // histogram counting on the global int8 grid — the sort-free,
      // collect-free way to get exact percentiles at corpus scale
      // (reduced shuffle volume = dim x 255 cells, independent of
      // rows). Pure integers after quantization → hash-exact oracle.
      graft.operators.Stats.robustProfile(Tables(s, d).embeddings, "embedding")
        .orderBy("dim")
    }),

    "q_ann_bruteforce" -> ((s, d) => {
      val t = Tables(s, d)
      // native FloatVecDot folds left-to-right exactly like the
      // oracle's sequential list_sum — bit-identical doubles
      Similarity.bruteForceTopK(t.embeddings,
          t.embeddings.filter(col("vec_id") < 3), k = 5, useNative = true)
        .orderBy("query_id", "rk")
    }),

    "q_ann_quantized" -> ((s, d) => {
      // int8-quantized ANN: exact integer dots (LongVecDot) rescaled
      // by per-vector scales — approximate scores, exact arithmetic,
      // so the DuckDB oracle reproduces the ranking bit-for-bit
      val t = Tables(s, d)
      Similarity.quantizedTopK(t.embeddings,
          t.embeddings.filter(col("vec_id") < 3), k = 5)
        .orderBy("query_id", "rk")
    }),

    "q_ann_lsh" -> ((s, d) => {
      val t = Tables(s, d)
      Similarity.lshTopK(t.embeddings, t.embeddings.filter(col("vec_id") < 3),
          k = 5, tables = 8, planes = 4, dim = 64)
        .orderBy("query_id", "rk")
    }),

    "q_ann_lsh_verify" -> ((s, d) => {
      // ORACLE twin of q_ann_lsh: planes = 0 degenerates every table
      // to ONE bucket, so candidates = all pairs and the bucketing /
      // candidate-join / dedup / top-k machinery must reproduce exact
      // brute force — checked against the seedless brute-force SQL.
      // The production q_ann_lsh (8 tables × 4 planes) stays
      // rows-only by design: its recall depends on hash luck.
      val t = Tables(s, d)
      Similarity.lshTopK(t.embeddings, t.embeddings.filter(col("vec_id") < 3),
          k = 5, tables = 1, planes = 0, dim = 64)
        .orderBy("query_id", "rk")
    }),

    "q_dedup_clusters" -> ((s, d) => {
      // near-dup pairs -> connected components -> survivor per cluster
      // (the end product of a corpus dedup pipeline)
      val pairs = Dedup.minHashLsh(Tables(s, d).documents, "doc_id", "text",
        shingleN = 3, numHashes = 32, bands = 8, threshold = 0.6)
      graft.operators.Components.dedupClusters(pairs)
        .orderBy("component")
    }),

    "q_ann_ivf" -> ((s, d) => {
      val t = Tables(s, d)
      Similarity.ivfTopK(t.embeddings, t.embeddings.filter(col("vec_id") < 3),
          k = 5, nlist = 16, nprobe = 4)
        .orderBy("query_id", "rk")
    }),

    "q_ann_ivf_verify" -> ((s, d) => {
      // ORACLE twin of q_ann_ivf: probe EVERY cell (nprobe = nlist).
      // With all cells probed the candidate set is the whole corpus,
      // so the IVF plumbing (ML KMeans cell assignment, centroid
      // probe ranking, candidate join, cosine top-k) must reproduce
      // exact brute force REGARDLESS of what the seed-dependent
      // clustering learned — which makes the seedless brute-force SQL
      // a hash-exact oracle for the production path's machinery. The
      // production q_ann_ivf (nprobe=4) stays rows-only by design:
      // its recall depends on the learned cells.
      val t = Tables(s, d)
      Similarity.ivfTopK(t.embeddings, t.embeddings.filter(col("vec_id") < 3),
          k = 5, nlist = 16, nprobe = 16)
        .orderBy("query_id", "rk")
    }),

    "q_ann_recall" -> ((s, d) => {
      // ORACLE-CHECKED recall@k at a PRODUCTION nprobe < nlist: the
      // IVF is built on the engine's own bit-deterministic int8
      // k-means (Similarity.ivfInt8TopK), so the approximate result
      // set — and therefore the recall number itself — is a pure
      // function of the data that DuckDB replays exactly (kmeansCtes
      // + probe + cell-local top-k vs the brute-forced truth). This
      // closes the gap the verify twins leave: q_ann_ivf_verify
      // proves the machinery at nprobe = nlist; this measures the
      // approximation quality where it is actually approximate.
      val t = Tables(s, d)
      val ivf = Similarity.ivfInt8TopK(t.embeddings, col("vec_id") < 8,
        k = 5, nlist = 8, iters = 2, nprobe = 2)
      val exact = Similarity.bruteForceTopK(t.embeddings,
        t.embeddings.filter(col("vec_id") < 8), k = 5, useNative = true)
      exact.select(col("query_id"), col("neighbor_id"))
        .join(ivf.select(col("query_id"), col("neighbor_id"), lit(1).as("__hit")),
          Seq("query_id", "neighbor_id"), "left")
        .groupBy("query_id")
        .agg(count(col("__hit")).as("n_hits"), count(lit(1)).as("k"))
        .select(col("query_id"), col("n_hits"), col("k"),
          round(col("n_hits").cast("double") / col("k"), 6).as("recall"))
        .orderBy("query_id")
    }),

    "q_kmeans" -> ((s, d) => {
      // ORACLE-checked distributed k-means (operators/Cluster.scala):
      // Lloyd's, 2 iterations, on a GLOBAL int8 grid — one corpus-wide
      // scale puts every vector in a common integer space, so
      // assignment distances, floor-of-mean centroid updates, and
      // inertia are EXACT integer arithmetic DuckDB replays
      // bit-for-bit with the iterations unrolled. Deterministic init
      // (the k smallest vec_ids), argmin ties to the smallest cluster
      // id, empty clusters keep their centroid. The iterative-ML
      // counterpart of q_shingle_clusters' oracle-checked graph
      // clustering; IVF's cell-training primitive, here driver-checked.
      // Scale: per iteration — broadcast-literal centroids (k x dim, a
      // config-sized collect) -> NARROW codegen'd argmin map
      // (array_sort of k scored structs, the IVF probe pattern; no
      // crossJoin, no window) -> ONE map-side-combined (cluster, pos)
      // shuffle whose reduced size is k x dim x partitions. The
      // textbook 100 TB k-means plan shape.
      graft.operators.Cluster.kmeansInt8(Tables(s, d).embeddings,
          "vec_id", "embedding", k = 8, iters = 2)
        .orderBy("cluster")
    }),

    "q_kmeans_twolevel" -> ((s, d) => {
      // ORACLE-checked two-level (coarse-then-fine) k-means — the
      // past-the-flat-ceiling path (Cluster.kmeansTwoLevel) pinned in
      // SQL the way q_ann_recall pins the IVF probe: at
      // samplePerCoarse=1024 the xxhash sample gate never engages
      // below ~65k vectors (sampleTarget = coarseK x 1024 >= n), so
      // the whole trajectory — coarse Lloyd's on the full corpus,
      // shard = argmin against the POST-update coarse centroids
      // (trainLoop.centroids), per-shard fineK = ceil(n_s/16) capped
      // at maxK, per-shard init by smallest ids, one fine update,
      // final assignment packed shard x (maxK+1) + fcid — is a pure
      // function of the data that DuckDB replays with every loop
      // unrolled. The production config (assignCells defaults,
      // sampling ON past the ceiling) is certified structurally at
      // 400k vectors by TwoLevelBench (SCALE_r10); THIS config proves
      // the machinery's arithmetic bit-for-bit where an oracle can
      // reach it.
      graft.operators.Cluster.kmeansTwoLevel(Tables(s, d).embeddings,
          "vec_id", "embedding", targetCellSize = 16, iters = 2,
          maxK = 64, samplePerCoarse = 1024)
        .orderBy("vec_id")
    }),

    "q_ann_incremental" -> ((s, d) => {
      // incremental ANN index maintenance (Cluster.assignIncremental —
      // the q_dedup_incremental contract for vectors): the index's
      // frozen state is (history grid scale, post-update centroids
      // from 2 Lloyd rounds on history vec_id < 400); a new batch is
      // ONE narrow argmin map against those centroids — no
      // retraining, no history re-shuffle, O(batch) per ingest.
      // Oracle unrolls history training then replays the batch argmin
      // with the same (dist, cid) ties — the whole trajectory is a
      // pure function of the data.
      graft.operators.Cluster.assignIncremental(
          Tables(s, d).embeddings, "vec_id", "embedding",
          historyPred = col("vec_id") < 400, k = 8, iters = 2)
        .orderBy("vec_id")
    }),

    "q_embed_gram" -> ((s, d) => {
      // exact integer gram (scatter) matrix of the int8-quantized
      // embedding corpus — the distributed core of PCA / whitening /
      // covariance-based outlier scoring: G[i][j] = Σ_v q_i·q_j over
      // the upper triangle. Pipeline shape: the shared global int8
      // grid (Cluster.quantize — one corpus max + a narrow map), one
      // narrow generate of dim(dim+1)/2 products per vector, ONE
      // map-side-combined (i,j) shuffle whose reduced size is 2080
      // cells per partition regardless of corpus rows. The eigen step
      // on the 64×64 result is driver-side by design (constant work);
      // the corpus-scaling half is this plan (operators/Stats
      // gramMatrix — the expression-level draft generated 2080
      // structs PER VECTOR and measured 0.81-of-linear at ×32; the
      // per-partition fold emits 2080 partials PER PARTITION).
      val q = graft.operators.Cluster.quantize(
        Tables(s, d).embeddings, "vec_id", "embedding")
      graft.operators.Stats.gramMatrix(q, "q")
        .orderBy("i", "j")
    }),

    "q_embed_project" -> ((s, d) => {
      // the APPLY side of the PCA/whitening loop q_embed_gram opens
      // (VERDICT r12 #6): the eigen step on the 64×64 gram output is
      // driver-side constant work BY DESIGN; what must scale is
      // applying the resulting projection back to every vector — a
      // narrow map where the d×dim matrix rides the plan as LITERALS
      // (the q_quality_model weights-ride-the-plan idiom), one native
      // LongVecDot per component on the shared int8 grid, zero
      // shuffle, exact integer output. Demonstrated with the
      // deterministic Walsh–Hadamard ±1 row subset
      // (P[c][k] = (−1)^popcount(c AND k) — a structured
      // Johnson–Lindenstrauss transform) so the oracle replays the
      // projection bit-exactly off the same quantization CTEs; the
      // data-derived eigenbasis rides the identical plan as a
      // different set of literals in q_embed_eigen (r14), certified
      // in-plan against the gram's quadratic forms.
      import graft.functions.VectorFunctions.vecDotLong
      val q = graft.operators.Cluster.quantize(
        Tables(s, d).embeddings, "vec_id", "embedding")
      val comps = hadamardProj.zipWithIndex.map { case (w, c) =>
        vecDotLong(col("q"), typedlit(w)).as(s"proj_$c") }
      q.select(col("id").as("vec_id") +: comps: _*)
        .orderBy("vec_id")
    }),

    "q_embed_eigen" -> ((s, d) => {
      // the DATA-DERIVED eigenbasis closing the PCA loop that
      // q_embed_gram (distributed gram) and q_embed_project (literal-
      // matrix apply) opened (VERDICT r13 next-round #2): driver-side
      // Jacobi on the 64×64 gram output (Stats.jacobiEigen — constant
      // work by design; the collect is the adjudicated dim(dim+1)/2-row
      // class), the top-8 eigenvectors quantized to 2¹⁵ fixed point
      // and fed back as projection LITERALS through the same
      // LongVecDot plan q_embed_project rides. Certification is the
      // r13 in-plan pattern made EXACT: per component the plan
      // computes the projection energy Σ_v (ũ·q_v)² (long products,
      // decimal-exact sum — zero shuffle beyond the gram's own) and
      // compares it to the driver's exact integer quadratic form ũᵀGũ
      // over the SAME gram the q_embed_gram oracle hash-verifies —
      // equal by algebra, so the hash match certifies the whole
      // derive-and-apply path against an independently verified gram;
      // energy_monotone additionally pins the eigen ORDERING to the
      // corpus's measured variance ordering. The oracle emits literal
      // TRUE (an eigensolve has no SQL analog); EmbedEigenSpec proves
      // the solver itself on closed-form fixtures.
      import graft.functions.VectorFunctions.vecDotLong
      val q = graft.operators.Cluster.quantize(
        Tables(s, d).embeddings, "vec_id", "embedding")
      val gram = graft.operators.Stats.collectGram(
        graft.operators.Stats.gramMatrix(q, "q"), 64)
      val (basis, quad, evals) =
        graft.operators.Stats.eigenBasisWithValues(gram, topD = 8)
      val energies = (0 until 8).map { c =>
        val p = vecDotLong(col("q"), typedlit(basis(c)))
        sum((p * p).cast(org.apache.spark.sql.types.DecimalType(38, 0))).as(s"e_$c")
      }
      val agg = q.agg(energies.head, energies.tail: _*)
      // monotone guard (ADVICE r14, the small-group percentile-guard
      // pattern): the 2^15 fixed-point quantization perturbs each
      // energy by O(sqrt(dim)/scale) relative to λ_max, so on a
      // near-degenerate adjacent pair the QUANTIZED energies can
      // legitimately swap while the exact eigenvalues are ordered —
      // below the gap threshold the assertion falls back to the
      // oracle's literal TRUE (the ordering claim is vacuous inside
      // the quantization noise band)
      val gapTol = 4.0 * math.sqrt(64.0) / 32768.0 // ~9.8e-4 of λ_max
      val lamMax = math.max(math.abs(evals(0)), 1e-300)
      val rows = (0 until 8).map { c =>
        struct(lit(c).as("component"),
          (col(s"e_$c") === lit(new java.math.BigDecimal(quad(c).toString)))
            .as("energy_matches_quadform"),
          (if (c == 7 || (evals(c) - evals(c + 1)) <= gapTol * lamMax) lit(true)
           else col(s"e_$c") >= col(s"e_${c + 1}")).as("energy_monotone"))
      }
      agg.select(explode(array(rows: _*)).as("r"))
        .select(col("r.component").as("component"),
          col("r.energy_matches_quadform").as("energy_matches_quadform"),
          col("r.energy_monotone").as("energy_monotone"))
        .orderBy("component")
    }),

    "q_sample_diverse" -> ((s, d) => {
      // cluster-balanced diversity sampling (the SemDeDup/DDS
      // "coverage" selection): k-means the embedding space, then take
      // an EXACT per-cell quota in deterministic md5 order — the
      // sample spans the space instead of mirroring its density, and
      // any engine reproduces membership bit-for-bit (the
      // q_sample_exact_n draw over LEARNED groups; oracle replays
      // Lloyd's via kmeansCtes then the draw). Scale: assignment is
      // the narrow literal-centroid argmin map (no shuffle), the
      // quota window shuffles once on cluster id — cells are
      // size-bounded by kForCorpus sizing, so no window straggler.
      val assigned = graft.operators.Cluster.kmeansAssignInt8(
        Tables(s, d).embeddings, "vec_id", "embedding", k = 8, iters = 2)
      val w = org.apache.spark.sql.expressions.Window.partitionBy(col("cluster"))
        .orderBy(md5(concat(lit("div"), col("vec_id").cast("string"))), col("vec_id"))
      assigned.withColumn("rk", row_number().over(w))
        .filter(col("rk") <= 10)
        .select(col("vec_id"), col("cluster"), col("rk"))
        .orderBy("cluster", "rk")
    }),

    "q_html_extract" -> ((s, d) => {
      // HTML/boilerplate extraction (Cleaning.extractHtml — VERDICT
      // r13 "what's missing" #2): the tag-strip/main-content stage a
      // crawl corpus needs AHEAD of the LM gate. The corpus ships as
      // clean text, so the markup is synthesized IN-PLAN around it —
      // deterministic per doc, with the adversarial bits a stripper
      // must survive: a script body containing `<`, quotes and an
      // entity; a style block; a comment; entity-encoded VISIBLE text
      // (&lt;more&gt; &amp; info must decode to literal text, never
      // re-parse as markup). Extraction is a narrow zero-shuffle
      // codegen'd regexp chain; the oracle replays wrap + extraction
      // bit-for-bit (the patterns avoid dialect-divergent regex). The
      // curate-from-markup composition is CurateE2ESpec's variant.
      import graft.operators.Cleaning
      val id = col("doc_id").cast("string")
      val html = concat(
        lit("<html><head><title>Doc "), id, lit("</title>"),
        lit("<style type=\"text/css\">p{margin:0} .nav{color:#888}</style>"),
        lit("<script>var t = 1; if (t < 2) { track(\"&amp;\"); }</script>"),
        lit("</head><body><!-- nav boilerplate --><p id=\"main\">"),
        col("text"),
        lit("</p><br><a href=\"https://example.com/"), id,
        lit("\">&lt;more&gt; &amp; info</a>"),
        // NCR fixtures (r15, ADVICE r14): decimal + hex ASCII refs
        // decode (&#72; &#x77;), the &-producing form decodes LAST so
        // &#38;#60; yields the literal text &#60; (never re-decoded),
        // out-of-range &#9999; and the amp-escaped &amp;#35; pass
        // through as literal refs
        lit("<p>NCR &#72;ello &#x77;orld &#38;#60; &#9999; &amp;#35;</p>"),
        lit("</body></html>"))
      Tables(s, d).documents
        .select(col("doc_id"), Cleaning.extractHtml(html).as("main_text"),
          length(html).as("n_chars_html"))
        .withColumn("n_chars_main", length(col("main_text")))
        .orderBy("doc_id")
    }),

    "q_main_content" -> ((s, d) => {
      // MAIN-CONTENT extraction beyond tag stripping (Cleaning
      // .extractMainContent — VERDICT r14 next-round #2): extractHtml
      // keeps nav/menu/footer TEXT; the trafilatura/jusText-class
      // block classifier drops them by link density and text length.
      // The corpus ships clean, so a full PAGE is synthesized in-plan
      // around each doc with the boilerplate classes a crawl carries:
      // a pure-link nav, a short site header, the content div (one
      // low-density anchor + NCR entities inside — content links must
      // NOT kill a real paragraph), a link-farm "related" box, and a
      // link+copyright footer. Still a narrow zero-shuffle codegen'd
      // chain; the oracle replays wrap, block split, per-block
      // scoring, and the decode tail bit-for-bit.
      import graft.operators.Cleaning
      val id = col("doc_id").cast("string")
      val html = concat(
        lit("<html><head><title>Doc "), id, lit("</title>"),
        lit("<style>.nav{display:flex}</style>"),
        lit("<script>menu(\"<div class='x'>\");</script></head><body>"),
        lit("<nav><ul><li><a href=\"/\">Home</a></li><li><a href=\"/about\">About us</a></li>"
          + "<li><a href=\"/contact\">Contact</a></li></ul></nav>"),
        lit("<header><h1>Site "), id, lit("</h1></header>"),
        lit("<!-- ad slot --><div class=\"content\"><p>"), col("text"), lit("</p>"),
        lit("<p>Appendix "), id,
        lit(": methods &#38; &#109;aterials &#8212; see <a href=\"/fig\">figure one</a>"
          + " for the full layout, procedures and calibration details.</p></div>"),
        lit("<div class=\"related\">Related: <a href=\"/a\">first related article</a>"
          + " <a href=\"/b\">second related article</a></div>"),
        lit("<footer><a href=\"/privacy\">Privacy</a> | <a href=\"/terms\">Terms</a>"
          + " | copyright 2026</footer></body></html>"))
      Tables(s, d).documents
        .select(col("doc_id"), Cleaning.extractMainContent(html).as("mc"))
        .select(col("doc_id"), col("mc.main_text").as("main_text"),
          col("mc.n_blocks").as("n_blocks"), col("mc.n_kept").as("n_kept"))
        .orderBy("doc_id")
    }),

    "q_corpus_filter" -> ((s, d) => {
      // composed curation pipeline: language-consistency + quality
      // + exact-dedup canonical flags -> per-language keep/drop counts
      val docs = Tables(s, d).documents
        .select(col("doc_id"), col("lang"), col("text"), tokens(col("text")).as("__toks"))
        .withColumn("__fp", fingerprint(col("text")))
        .withColumn("__ls", langScoresOfTokens(col("__toks")))
        .withColumn("lang_ok", langIdOfScores(col("__ls")) === col("lang"))
        .withColumn("q_ok",
          qualityScoreOf(tokenCountOfTokens(col("__toks")), punctRatio(col("text")),
            stopwordRatioOfTokens(col("__toks"))) >= 0.5)
      // canonical-flag via a window MIN over the fingerprint, not a
      // self-join against a groupBy: the join form computes the
      // expensive tokenize/lang/quality chain TWICE (once per side)
      // and its physical strategy flapped run-to-run at x10 (AQE
      // broadcast vs SMJ of the aggregate — 2x wall-time variance).
      // The window is one deterministic hash shuffle on __fp with the
      // chain evaluated once; no orderBy in the frame, so it is an
      // unbounded-frame agg, not a sort window.
      val wf = org.apache.spark.sql.expressions.Window.partitionBy("__fp")
      docs
        .withColumn("is_canonical", col("doc_id") === min(col("doc_id")).over(wf))
        .groupBy("lang")
        .agg(count(lit(1)).as("n_docs"),
          sum(when(col("is_canonical") && col("lang_ok") && col("q_ok"), 1L)
            .otherwise(0L)).as("n_kept"),
          sum(when(!col("is_canonical"), 1L).otherwise(0L)).as("n_dup_dropped"),
          sum(when(col("is_canonical") && !col("lang_ok"), 1L).otherwise(0L)).as("n_lang_dropped"),
          sum(when(col("is_canonical") && col("lang_ok") && !col("q_ok"), 1L)
            .otherwise(0L)).as("n_quality_dropped"))
        .orderBy("lang")
    }),

    "q_repetition" -> ((s, d) => {
      // Gopher-style repetition signals (top-2-gram fraction, duplicate-
      // bigram fraction). Doc-local, so computed as a zero-shuffle
      // narrow map: bigrams from materialized tokens, top count via a
      // sorted-run fold (maxRunLength) — NOT an explode + corpus-wide
      // groupBy, which would shuffle every n-gram of a 100 TB corpus.
      Tables(s, d).documents
        .select(col("doc_id"), tokens(col("text")).as("__toks"))
        .select(col("doc_id"),
          when(size(col("__toks")) >= 2, shinglesOfTokens(col("__toks"), 2))
            .otherwise(array().cast("array<string>")).as("__bgs"))
        .select(col("doc_id"), size(col("__bgs")).as("__n"),
          maxRunLength(sort_array(col("__bgs"))).as("__top"),
          size(array_distinct(col("__bgs"))).as("__nd"))
        .select(col("doc_id"), col("__n").cast("int").as("n_bigrams"),
          when(col("__n") === 0, lit(0.0))
            .otherwise(round(col("__top").cast("double") / col("__n"), 6))
            .as("top_bigram_frac"),
          when(col("__n") === 0, lit(0.0))
            .otherwise(round(lit(1.0) - col("__nd").cast("double") / col("__n"), 6))
            .as("dup_bigram_frac"))
        .withColumn("keep", col("top_bigram_frac") <= 0.18)
        .orderBy("doc_id")
    }),

    "q_anchor_text" -> ((s, d) => {
      // anchor-text aggregation per link TARGET — the classic web
      // signal (anchor terms describe the target better than the
      // target describes itself) that retrieval/quality pipelines
      // aggregate into a per-page term profile. A link table is
      // synthesized IN-PLAN (each doc links to 3 targets
      // (doc_id*7+k) % 100 with a 2-token anchor sliced from the
      // SOURCE doc's own text at offset 3k — deterministic, unique
      // slices); per (target, term) counts roll up map-side, then ONE
      // target-keyed window takes the top-3 terms with (count DESC,
      // term) ties. Linear: one narrow explode (3·2 terms per doc),
      // one aggregate shuffle, one window exchange — never the link
      // graph squared.
      val t = Tables(s, d)
      val toks = split(col("text"), " ")
      val links = t.documents
        .select(col("doc_id"), posexplode(transform(sequence(lit(0), lit(2)),
          k => struct(
            pmod(col("doc_id") * 7 + k, lit(100)).as("target"),
            slice(toks, k * lit(3) + 1, lit(2)).as("terms")))).as(Seq("__k", "l")))
        .select(col("l.target").as("target"), explode(col("l.terms")).as("term"))
      val counts = links.groupBy("target", "term")
        .agg(count(lit(1)).as("n"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("target")).orderBy(col("n").desc, col("term").asc)
      counts.withColumn("rk", row_number().over(w))
        .filter(col("rk") <= 3)
        .select(col("target"), col("term"), col("n"), col("rk"))
        .orderBy("target", "rk")
    }),

    "q_url_dedup" -> ((s, d) => {
      // recrawl dedup keyed by CANONICAL URL (Cleaning.canonicalizeUrl
      // — fragment/default-port/tracking-param/case/trailing-slash
      // normalization, the step before any URL-keyed dedup since the
      // same page arrives as HTTPS://Host:443/p/?b=2&a=1&utm_source=x
      // and https://host/p?a=1&b=2). Five crawl variants of each page
      // are synthesized IN-PLAN (variant = doc_id div 100 mod 5, page
      // group = doc_id mod 100, so every group carries all five);
      // keep-best = (n_chars DESC, doc_id) per canonical key — ONE
      // url-keyed exchange serving both the survivor window and the
      // dup count. Pure codegen'd column expression, no UDF; the
      // oracle replays wrap + canonicalization + keep-best literally.
      val grp = pmod(col("doc_id"), lit(100))
      val variant = pmod(expr("doc_id div 100"), lit(5))
      val url = when(variant === 0, concat(
          lit("https://WWW.Example.org:443/docs/page-"), grp,
          lit("?utm_source=feed&b=2&a=1")))
        .when(variant === 1, concat(
          lit("https://www.example.org/docs/page-"), grp, lit("/?a=1&b=2")))
        .when(variant === 2, concat(
          lit("https://www.example.org/docs/page-"), grp,
          lit("?b=2&a=1&fbclid=xyz#frag")))
        .when(variant === 3, concat(
          lit("https://www.example.org/docs/page-"), grp,
          lit("?a=1&ref="), col("source"), lit("&b=2")))
        .otherwise(concat(
          lit("HTTPS://www.example.org/docs/page-"), grp, lit("?a=1&b=2")))
      val canon = Tables(s, d).documents
        .select(col("doc_id"), col("n_chars"),
          graft.operators.Cleaning.canonicalizeUrl(url).as("canonical_url"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("canonical_url"))
      canon
        .withColumn("__rn", row_number().over(
          w.orderBy(col("n_chars").desc, col("doc_id").asc)))
        .withColumn("n_dups", count(lit(1)).over(w))
        .filter(col("__rn") === 1)
        .select(col("canonical_url"), col("doc_id"), col("n_chars"), col("n_dups"))
        .orderBy("canonical_url")
    }),

    "q_url_parse" -> ((s, d) => {
      // URL normalization for web-corpus curation: host/path extraction
      // + tracking-param strip. parse_url + regex, pure narrow map. The
      // URL is derived deterministically from table columns (documents
      // carry no raw URLs in the test data; the plumbing is the point).
      val url = concat(lit("https://"), col("source"), lit(".example.org/"),
        col("lang"), lit("/doc/"), col("doc_id"),
        lit("?utm_source=feed&ref="), col("source"),
        lit("&page="), pmod(col("doc_id"), lit(7)))
      Tables(s, d).documents
        .select(col("doc_id"), url.as("__url"))
        .select(col("doc_id"),
          parse_url(col("__url"), lit("HOST")).as("host"),
          parse_url(col("__url"), lit("PATH")).as("path"),
          regexp_replace(
            regexp_replace(parse_url(col("__url"), lit("QUERY")),
              "(utm_[a-z]+|ref)=[^&]*&?", ""),
            "&$", "").as("clean_params"))
        .orderBy("doc_id")
    }),

    "q_shard_assign" -> ((s, d) => {
      // content-addressed output sharding (operators/Shard.scala):
      // per-shard row/byte stats = the write-planning step for a
      // 100 TB partitioned dump. md5-derived so ANY engine reproduces
      // the assignment (Spark's hash() is Murmur3-internal).
      Tables(s, d).documents
        .withColumn("shard", graft.operators.Shard.md5Shard(col("doc_id"), 16))
        .groupBy("shard")
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_chars").cast("long")).as("total_chars"),
          min("doc_id").as("min_doc"), max("doc_id").as("max_doc"))
        .orderBy("shard")
    }),

    "q_embed_quantize" -> ((s, d) => {
      // int8 symmetric quantization of the embedding column: 4x
      // smaller ANN candidate store; exact integer self-dot via the
      // HOF fold that VecDotRewrite rewrites to native LongVecDot.
      // scale and q materialized stepwise (no CSE through HOF lambdas).
      Tables(s, d).embeddings
        .select(col("vec_id"), col("embedding"),
          VectorFunctions.int8Scale(col("embedding")).as("__scale"))
        .select(col("vec_id"), col("embedding"), col("__scale"),
          VectorFunctions.quantizeInt8(col("embedding"), col("__scale")).as("__q"))
        .select(col("vec_id"),
          round(col("__scale"), 6).as("scale6"),
          size(filter(col("__q"), x => abs(x) === 127)).as("n_sat"),
          VectorFunctions.dotHofLong(col("__q"), col("__q")).as("qdot"),
          round(VectorFunctions.dequantMaxError(col("__q"), col("embedding"),
            col("__scale")), 6).as("max_err6"))
        .orderBy("vec_id")
    }),

    "q_shingle_clusters" -> ((s, d) => {
      // ORACLE-CHECKED connected components: edges are SQL-expressible
      // (docs sharing an exact 5-token shingle, the decontaminate
      // pattern) so the iterative min-label operator is verified
      // against a DuckDB recursive-CTE closure — covering the
      // components machinery that the LSH-fed q_dedup_clusters can
      // only rows-check.
      // capped buckets (2..20 docs per shingle): a shingle shared by
      // hundreds of docs is non-discriminative and would generate
      // quadratic pairs. Reuses Dedup.pairsFromBuckets — ONE shuffle
      // of (shingle, id) — with the cap mirrored in the oracle's
      // HAVING (the in-bucket pair set is identical either way).
      val docs = Tables(s, d).documents
        .select(col("doc_id"), tokens(col("text")).as("__toks"))
      val sh = docs
        .select(col("doc_id"), explode(shinglesOfTokens(col("__toks"), 5)).as("sh"))
        .distinct()
      val edges = graft.operators.Dedup.pairsFromBuckets(
        sh, keyCols = Seq("sh"), idCol = "doc_id", maxBucket = 20)
      graft.operators.Components.connectedComponents(edges)
        .orderBy("node")
    }),

    "q_token_budget" -> ((s, d) => {
      // token-budget corpus selection (operators/Select.tokenBudget):
      // rank every doc by an integer lexical-diversity score
      // (distinct-token ppm — the Gopher repetition family) and keep
      // the best docs until a global 8k-token budget is exhausted,
      // emitting each survivor's auditable running total. The naive
      // plan is a GLOBAL window (one task holds the corpus); the
      // operator's two-phase form — domain-bounded bucket prefix
      // totals + per-bucket windows — keeps every stage
      // corpus-partitioned. Score is cast long before *1e6: int
      // multiply overflows past ~2k tokens/doc.
      val base = Tables(s, d).documents
        .select(col("doc_id"), tokens(col("text")).as("__toks"))
        .select(col("doc_id"),
          tokenCountOfTokens(col("__toks")).as("n_tokens"),
          size(array_distinct(col("__toks"))).as("__nd"))
        .filter(col("n_tokens") >= 1)
        .withColumn("diversity_ppm",
          expr("cast(__nd as bigint) * 1000000 div n_tokens"))
      Select.tokenBudget(base, "doc_id", "n_tokens", "diversity_ppm",
          budget = 8000L)
        .orderBy("doc_id")
    }),

    "q_split_leakfree" -> ((s, d) => {
      // leakage-free train/val/test split (operators/Split.leakFree):
      // assignment hashes the near-dup COMPONENT representative, so no
      // near-dup pair ever straddles a split (train-on-val
      // contamination is structurally impossible). Same capped
      // shingle-bucket edge rule as q_shingle_clusters, so the DuckDB
      // oracle replays components via the recursive CTE, then the
      // md5-threshold draw digit-for-digit.
      val docs = Tables(s, d).documents
      val sh = docs
        .select(col("doc_id"), tokens(col("text")).as("__toks"))
        .select(col("doc_id"), explode(shinglesOfTokens(col("__toks"), 5)).as("sh"))
        .distinct()
      val edges = Dedup.pairsFromBuckets(sh, Seq("sh"), "doc_id", maxBucket = 20)
      Split.leakFree(docs, "doc_id", edges)
        .orderBy("doc_id")
    }),

    "q_tfidf_terms" -> ((s, d) => {
      // per-doc top TF-IDF terms. idf is the LINEAR rarity ratio N/df,
      // not log(N/df): scores stay exact integer ratios (one IEEE
      // division), so rankings are bit-reproducible across engines —
      // log() is libm-dependent and 1-ulp score noise can flip
      // near-tied ranks. Scale: tf is one (doc,term) shuffle with
      // map-side combine; df one term shuffle; N a 1-row broadcast.
      val docs = Tables(s, d).documents
        .select(col("doc_id"), tokens(col("text")).as("__toks"))
      val tf = docs.select(col("doc_id"), explode(col("__toks")).as("term"))
        .groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
      val dfreq = tf.groupBy("term").agg(count(lit(1)).as("df"))
      val n = docs.agg(count(lit(1)).as("n"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("doc_id")).orderBy(col("score").desc, col("term"))
      // merge hint: dfreq is the corpus VOCABULARY (term, df) — it
      // grows with the corpus, and the static planner's aggregate
      // estimate picked a broadcast that grew linearly at x10 (bcast
      // probe). Both sides shuffle on term; spillable at any factor.
      tf.join(dfreq.hint("merge"), "term").crossJoin(broadcast(n))
        .withColumn("score", (col("tf") * col("n")).cast("double") / col("df").cast("double"))
        .withColumn("rk", row_number().over(w))
        .filter(col("rk") <= 3)
        .select(col("doc_id"), col("term"), col("score"), col("rk"))
        .orderBy("doc_id", "rk")
    }),

    "q_bm25" -> ((s, d) => {
      // BM25 retrieval scoring against a literal query-term set — the
      // ranking function a corpus-curation stack uses to mine
      // topic-relevant documents (the DSIR/importance-sampling cousin
      // with an IR pedigree). EXACT INTEGER fixed-point throughout
      // (the q_tfidf_terms discipline — log-free): idf is the
      // Robertson ratio (N − df + ½)/(df + ½) scaled ×2 to integers,
      // the tf saturation uses k1 = 1.2, b = 0.75 cleared of fractions
      // by ×10·A (A = total corpus tokens, so dl/avgdl = dl·N/A stays
      // integral): tfn_ppm = 22·tf·A·10⁶ div (10·A·tf + 3·A + 9·dl·N).
      // Every per-term contribution and the doc score are exact longs,
      // so the top-k is engine-reproducible bit-for-bit (ties broken
      // by doc_id). Scale: one token shuffle for dl, a term-filtered
      // (doc,term) shuffle for tf (the 4-term filter prunes the scan),
      // df and totals broadcast (term-count- and 1-row-sized); the
      // final top-20 is TakeOrderedAndProject, no global sort.
      // Long-overflow bound: 22·tf·A·10⁶ needs A·tf < 4·10¹¹ — fine
      // through every test tier; a 100 TB corpus runs the same ratio
      // at reduced ppm scale (documented, not auto-switched).
      graft.operators.Rank.bm25(Tables(s, d).documents, "doc_id", "text",
          terms = Seq("merge", "vector", "stream", "window"))
        .orderBy(col("score_ppm").desc, col("doc_id")).limit(20)
    }),

    "q_bm25_table" -> ((s, d) => {
      // BM25 against a query TABLE (VERDICT r15 #8, Rank.bm25Table):
      // three queries with overlapping vocabularies scored in ONE
      // corpus pass — dl/df/totals computed once and shared, the
      // query dim broadcast both as the token-stream prune and the
      // per-query fan-out, per-query top-10 via one partitioned
      // window. Identical exact-integer fixed point as q_bm25, so
      // every (query, doc) score is an exact long and the ranking is
      // engine-reproducible bit-for-bit.
      import s.implicits._
      val queries = Seq(
        ("compute", "merge"), ("compute", "vector"), ("compute", "stream"),
        ("windows", "window"), ("windows", "stream"),
        ("rare", "vector"), ("rare", "quantile")).toDF("query_id", "term")
      graft.operators.Rank.bm25Table(Tables(s, d).documents, "doc_id", "text",
          queries, k = 10)
        .orderBy(col("query_id"), col("rank"))
    }),

    "q_retrieve_hybrid" -> ((s, d) => {
      // HYBRID retrieval fusion via reciprocal-rank fusion (VERDICT
      // r16 #4): the sparse leg (Rank.bm25Table — many term queries,
      // ONE corpus pass) and the dense leg (Similarity.ivfInt8TopK —
      // the bit-deterministic IVF, one index) fused per (query, id):
      //   rrf_ppm = Σ legs 10⁶ div (60 + rank)     (absent leg → 0)
      // — the standard RRF with K=60, kept EXACT INTEGER (truncating
      // div over ranks 1..k: all operands positive, DuckDB's `//`
      // agrees), so the fused ordering is engine-replayable
      // bit-for-bit where float RRF would tie-drift. Queries bridge
      // the two spaces by id: query_id '0'/'1'/'2' carries both a term
      // set (documents leg) and its embedding (vec_id 0/1/2 — the
      // shared id space doc_id ≡ vec_id the testdata defines). Scale:
      // each leg is its own bounded top-k (k·|queries| rows); the
      // fusion full-outer join and final window are dim-sized — the
      // corpus is touched once per leg, never by the fusion.
      import s.implicits._
      val t = Tables(s, d)
      val queries = Seq(
        ("0", "merge"), ("0", "vector"),
        ("1", "stream"), ("1", "window"),
        ("2", "quantile"), ("2", "vector")).toDF("query_id", "term")
      val sparse = graft.operators.Rank.bm25Table(t.documents, "doc_id", "text",
          queries, k = 10)
        .select(col("query_id"), col("doc_id").cast("long").as("id"),
          col("rank").as("bm25_rank"))
      val dense = Similarity.ivfInt8TopK(t.embeddings, col("vec_id") < 3,
          k = 10, nlist = 8, iters = 2, nprobe = 2)
        .select(col("query_id").cast("string").as("query_id"),
          col("neighbor_id").as("id"), col("rk").as("dense_rank"))
      val fused = sparse.join(dense, Seq("query_id", "id"), "full_outer")
        .select(col("query_id"), col("id"),
          (coalesce(expr("1000000 div (60 + bm25_rank)"), lit(0L)) +
            coalesce(expr("1000000 div (60 + dense_rank)"), lit(0L))).as("rrf_ppm"),
          col("bm25_rank"), col("dense_rank"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("query_id"))
        .orderBy(col("rrf_ppm").desc, col("id"))
      fused.withColumn("rank", row_number().over(w))
        .filter(col("rank") <= 10)
        .orderBy("query_id", "rank")
    }),

    "q_dedup_containment" -> ((s, d) => {
      // asymmetric CONTAINMENT dedup (Dedup.containmentPairs): the
      // quote/subset detector — |∩| / min(|Sa|,|Sb|) ≥ τ catches a
      // short doc swallowed by a long one, which Jaccard structurally
      // misses (the union is the long doc). Lossless prefix×full
      // candidate rule with the LOUD bucket gate; doc_id < 500 bounds
      // the oracle's brute-force universe at every SF (the
      // q_dedup_ngram_verify discipline), the operator itself is the
      // production path.
      Dedup.containmentPairs(
          Tables(s, d).documents.filter(col("doc_id") < 500),
          "doc_id", "text", shingleN = 3, threshold = 0.7)
        .orderBy("id_a", "id_b")
    }),

    "q_dedup_containment_pruned" -> ((s, d) => {
      // the 100 TB strategy of the containment slot (VERDICT r15 #5,
      // Dedup.minhashPrunedContainment): rows=1 minhash banding — a
      // single shared signature value makes a candidate, the rule
      // that survives the asymmetric pairs multi-row bands miss —
      // then the identical exact containment re-score. Same universe,
      // threshold, and oracle as q_dedup_containment: on this corpus
      // the pruned survivor set must EQUAL the lossless one
      // (hash-checked here, asserted again by TextDedupSpec); the
      // recall boundary (catch prob 1−(1−J)^32) and the fixed-width
      // candidate shuffle are the documented trade, measured by the
      // ×32/×100 A/B ladder rows.
      Dedup.minhashPrunedContainment(
          Tables(s, d).documents.filter(col("doc_id") < 500),
          "doc_id", "text", shingleN = 3, threshold = 0.7)
        .orderBy("id_a", "id_b")
    }),

    "q_text_normalize" -> ((s, d) => {
      // unicode punctuation normalization (Cleaning.normalizeText):
      // curly quotes/dashes/ellipsis/NBSP/zero-widths → ASCII, then
      // the Java∩RE2 whitespace collapse — the cleanup pass ahead of
      // tokenization that stops unicode variance from splitting dedup
      // fingerprints. The messy fixture is synthesized IN-PLAN from
      // table columns (the q_html_extract discipline: documents carry
      // no unicode punctuation in the test data, the operator chain is
      // the thing under test); the oracle replays the same literal
      // replace chain and must land byte-identical. Narrow zero-
      // shuffle codegen'd map.
      val messy = concat(
        lit("\u201C"), col("source"), lit("\u201D \u2014 doc\u00A0"),
        col("doc_id").cast("string"),
        lit(" \u2018"), col("lang"), lit("\u2019\u2026 \u200Bz\uFEFF \t"),
        substring(col("text"), 1, 40), lit(" \u2013 end"))
      Tables(s, d).documents
        .select(col("doc_id"), messy.as("raw"))
        .select(col("doc_id"), length(col("raw")).as("raw_len"),
          graft.operators.Cleaning.normalizeText(col("raw")).as("clean"))
        .withColumn("clean_len", length(col("clean")))
        .orderBy("doc_id")
    }),

    "q_oov_rate" -> ((s, d) => {
      // unigram-vocabulary coverage scoring (the integer-exact core of
      // a KenLM-style quality filter): vocab = top-500 corpus tokens
      // under the TOTAL order (freq desc, token) — so the cut is
      // deterministic — then each doc's out-of-vocabulary fraction in
      // ppm (integer division; no doubles through the hash gate).
      // Scale: one token shuffle bounded by |vocab| for the top-K
      // (TakeOrderedAndProject, no global sort), vocab broadcast back,
      // one doc_id shuffle for the per-doc fold.
      val toks = Tables(s, d).documents
        .select(col("doc_id"), explode(tokens(col("text"))).as("tok"))
        .filter(length(col("tok")) > 0)
      val vocab = toks.groupBy("tok").agg(count(lit(1)).as("n"))
        .orderBy(col("n").desc, col("tok")).limit(500)
        .select(col("tok"), lit(1).as("in_vocab"))
      toks.join(broadcast(vocab), Seq("tok"), "left")
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_tokens"),
          sum(when(col("in_vocab").isNull, 1L).otherwise(0L)).as("n_oov"))
        .withColumn("oov_ppm", expr("n_oov * 1000000 div n_tokens"))
        .orderBy("doc_id")
    }),

    "q_token_surprise" -> ((s, d) => {
      // unigram-LM surprisal quality filter (the CCNet/KenLM
      // perplexity signal), INTEGER-EXACT: a token's surprisal is the
      // decimal digit count of floor(N_total / count(tok)) — a
      // ceil-log10 of its inverse frequency, so rare tokens cost more
      // — and a document scores the mean surprisal of its tokens in
      // ppm (integer division). Low mean = natural high-frequency
      // text, high mean = gibberish/rare-token soup; `keep` thresholds
      // at 2.5 digits. Integer digits instead of float log-probs keep
      // the oracle hash-exact (float log sums are order-dependent).
      // Scale: the token-cost table is the full corpus VOCABULARY, so
      // it joins by shuffle (merge hint — the q_tfidf_terms lesson:
      // the static planner's aggregate estimate would broadcast a
      // corpus-scaling side), then one map-side-combined doc_id agg.
      // The 1-row total crossJoins broadcast, as everywhere else.
      val toks = Tables(s, d).documents
        .select(col("doc_id"), explode(tokens(col("text"))).as("tok"))
        .filter(length(col("tok")) > 0)
      val total = toks.agg(count(lit(1)).as("__n"))
      val costs = toks.groupBy("tok").agg(count(lit(1)).as("__c"))
        .crossJoin(broadcast(total))
        .select(col("tok"),
          length(expr("__n div __c").cast("string")).as("__cost"))
      toks.join(costs.hint("merge"), "tok")
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_tokens"),
          sum(col("__cost").cast("long")).as("total_surprise"))
        .withColumn("mean_surprise_ppm",
          expr("total_surprise * 1000000 div n_tokens"))
        .withColumn("keep", col("mean_surprise_ppm") <= 2500000L)
        .orderBy("doc_id")
    }),

    "q_ngram_lm" -> ((s, d) => {
      // bigram-LM quality filter — the CONDITIONAL-probability upgrade
      // of q_token_surprise's unigram signal (operators/LangModel
      // bigramSurprisal: integer add-one-smoothed inverse transition
      // costs, hash-exact where float log-prob sums are order-
      // dependent; the tokenize pass — measured as the whole budget
      // at ×32 — runs exactly once behind a spillable cache).
      LangModel.bigramSurprisal(Tables(s, d).documents, "doc_id", "text",
          keepPpm = 35000000L)
        .orderBy("doc_id")
    }),

    "q_dsir_select" -> ((s, d) => {
      // DSIR-style importance selection (operators/LangModel
      // dsirWeight): target = English docs, raw = the whole pool; a
      // doc's score is the mean integer lift p_target/p_raw of its
      // tokens in ppm, keep at the >= 1e6 "leans target" baseline.
      // One tokenize pass, both count LMs from one conditional
      // aggregate, vocab-pinned lift join, one doc fold.
      LangModel.dsirWeight(Tables(s, d).documents, "doc_id", "text",
          targetFilter = col("lang") === "en", keepPpm = 1000000L)
        .orderBy("doc_id")
    }),

    "q_length_histogram" -> ((s, d) => {
      // corpus length profile: fixed-width binning of n_chars — the
      // pre-curation length-distribution check (narrow map + tiny agg)
      Tables(s, d).documents
        .groupBy((floor(col("n_chars") / 100) * 100).cast("int").as("bucket_lo"))
        .agg(count(lit(1)).as("n_docs"),
          min("n_chars").as("min_chars"), max("n_chars").as("max_chars"))
        .orderBy("bucket_lo")
    }),

    "q_media_pipeline" -> ((s, d) => {
      // REAL codec round-trip: synthesize PNG / WAV / animated-GIF
      // containers per id, decode them back with the JDK codecs
      // (ImageIO, javax.sound), emit decoded dims + exact pixel/sample
      // sums. The oracle predicts every value from the synthesis
      // formulas — if the decode were faked, compressed containers
      // would not hash-match.
      Media.decodedMedia(s, Tables(s, d).documents)
        .orderBy("media_id")
    }),

    "q_media_phash" -> ((s, d) => {
      // perceptual-hash image dedup: REAL ImageIO decode → 64-bit
      // aHash (8×8 block means vs global mean, exact integer
      // cross-products) → canonical-per-cluster verdicts. Clustering
      // happens at the DISTINCT-HASH level: one node per hash group
      // (its min media_id), 4×16-bit LSH bands over hash NODES
      // (lossless for hamming≤3 by pigeonhole), exact hamming edges,
      // star-contraction components, then a hash→canonical join maps
      // every image. The first cut generated image-level pairs and
      // its completeness gate correctly THREW at ×32 — near-identical
      // images make pair output quadratic by definition; group-level
      // output is linear in images + quadratic only in DISTINCT
      // hashes, which scale with content diversity, not corpus size.
      // Oracle replays the pixel FORMULA (the q_media_pipeline trust
      // argument: a faked decode cannot produce formula-matching
      // hashes from compressed containers), brute-forces the full
      // hash graph, and walks the same closure via recursive CTE.
      Materialize.scoped { m =>
        val sig = m.cache(Media.aHash(s, Media.asMediaTable(Tables(s, d).documents)).toDF())
        val nodes = m.cache(sig.groupBy("ahash").agg(min(col("media_id")).as("node")))
        val banded = nodes.select(col("node"),
          posexplode(array((0 until 4).map(b =>
            expr(s"shiftright(ahash, ${16 * b}) & 65535")): _*)).as(Seq("band", "bv")))
        val sizes = banded.groupBy("band", "bv").agg(count(lit(1)).as("__n"))
        val maxBucket = sizes.agg(coalesce(max(col("__n")), lit(0L))).head().getLong(0)
        require(maxBucket <= 4096,
          s"aHash band bucket of $maxBucket DISTINCT hashes exceeds the 4096 " +
          "completeness cap: near-dup edges would be silently dropped")
        val cand = Dedup.pairsFromBuckets(banded, Seq("band", "bv"), "node",
          maxBucket = 4096)
        val edges = cand
          .join(nodes.select(col("node").as("id_a"), col("ahash").as("__ha")), "id_a")
          .join(nodes.select(col("node").as("id_b"), col("ahash").as("__hb")), "id_b")
          .filter(expr("bit_count(__ha ^ __hb) <= 3"))
          .select(col("id_a"), col("id_b"))
        val comp = graft.operators.Components.connectedComponents(edges)
          .withColumnRenamed("node", "__cn")
        Materialize.checkpoint(sig.join(nodes, "ahash")
          .join(comp, col("node") === col("__cn"), "left")
          .withColumn("canonical_id", coalesce(col("component"), col("node")))
          .select(col("media_id"), col("canonical_id"),
            (col("media_id") === col("canonical_id")).as("is_canonical"))
          .orderBy("media_id"))
      }
    }),

    "q_media_thumbs" -> ((s, d) => {
      // encode-OUT round trip (Media.thumbnails): synthesize real
      // PNGs, decode, nearest-neighbor resize to a 12×12 box, re-
      // encode as JPEG + PNG, then RE-DECODE what was just written.
      // The oracle predicts src/thumb dims, the JPEG magic, the JPEG
      // container's stored dims, and the PNG thumb's exact pixel sum
      // (NN sampling is integer math over the synthesis formula) —
      // if the encoders were faked, none of those would match.
      Media.thumbnails(s, Media.asMediaTable(Tables(s, d).documents))
        .toDF()
        .orderBy("media_id")
    }),

    "q_media_sniff" -> ((s, d) => {
      // binary magic-number sniffing (Media.sniffKind): classify blobs
      // by their leading bytes in the scan stage — the ingest triage
      // that routes a mixed 100 TB media dump to type-specific decode
      // pipelines. Oracle rebuilds the same payloads in DuckDB blob
      // algebra and hex-matches identically.
      val media = Media.asMagicMediaTable(Tables(s, d).documents)
      media.select(col("media_id"), Media.sniffKind(col("payload")).as("kind"),
          length(col("payload")).as("n_bytes"))
        .groupBy("kind")
        .agg(count(lit(1)).as("n"), sum(col("n_bytes").cast("long")).as("total_bytes"),
          min("media_id").as("first_id"))
        .orderBy("kind")
    }),

    "q_stream_window" -> ((s, d) => {
      EventStream.runBatchEquivalent(s, d)
    }),

    "q_stream_interval" -> ((s, d) => {
      // stream-stream interval join (click attribution) run as a real
      // two-source streaming query; the oracle is the equivalent batch
      // self-join with the same two-sided time bound
      EventStream.runIntervalEquivalent(s, d)
    }),

    "q_stream_dedup" -> ((s, d) => {
      // streaming dedup with watermark-bounded state
      // (dropDuplicatesWithinWatermark) run to completion on the
      // static dir; the deterministic surface is the surviving KEY
      // SET (one row per key ⇒ count-per-type == distinct keys),
      // which the batch oracle states as count(DISTINCT).
      EventStream.runDedupEquivalent(s, d)
    }),

    "q_stream_asof" -> ((s, d) => {
      // the CUSTOM STATEFUL streaming operator (flatMapGroupsWithState
      // LOCF as-of, EventStream.asOfEnrich) surfaced as a driver
      // query: per-key state is the latest reference seen — O(1) per
      // key like the batch physical operator — and the oracle is
      // DuckDB's NATIVE ASOF LEFT JOIN, so custom streaming state is
      // hash-checked against a database primitive.
      EventStream.runAsOfEquivalent(s, d)
    }))

  /** Shared DuckDB replay of Cluster.trainInt8 (k=8, 2 Lloyd
    * iterations unrolled) through the FINAL assignment `a2` — used by
    * both the q_kmeans summary oracle and q_dedup_semantic's blocking
    * oracle. Any change to the Scala trainer must mirror here.
    * (The g/sc/qv quantization prefix lives in [[quantCtes]], shared
    * with oracles that need the int8 grid but not the Lloyd
    * iterations — q_embed_gram.) */
  /** The q_embed_project literal projection: 8 Walsh–Hadamard rows
    * over 64 dims, P[c][k] = (−1)^popcount(c & k). ONE Scala constant
    * feeds both the Spark plan (typedlit per component) and the
    * DuckDB oracle (inline list literals), so the two sides cannot
    * desynchronize. */
  /** Generate a DuckDB `replace(replace(...))` nest from the SAME
    * (from, to) tables the Spark plans fold over (Cleaning
    * .BaseEntities/NcrDecodes/AmpEntities) — one Scala constant feeds
    * both sides, the hadamardProj discipline. */
  private def sqlEsc(s: String): String = s.replace("'", "''")
  private[queries] def replChainSql(inner: String,
                                    pairs: Seq[(String, String)]): String =
    pairs.foldLeft(inner) { case (acc, (f, t)) =>
      s"replace($acc, '${sqlEsc(f)}', '${sqlEsc(t)}')" }

  /** The full DuckDB mirror of [[graft.operators.Cleaning.decodeEntities]]
    * as chained CTEs: base entities, the 188-step NCR chain split into
    * <=47-replace chunks (DuckDB's binder caps expression nesting at
    * 128) each gated on the SAME '&#' probe over the pre-NCR text,
    * then the &-producing forms. Emits CTE text ending in `{p}d`
    * holding `__dec` (plus `doc_id` and `carry` columns); append after
    * an existing WITH list. */
  private[queries] def decodeCtesSql(p: String, fromCte: String,
                                     inCol: String, carry: Seq[String]): String = {
    import graft.operators.Cleaning.{AmpEntities, BaseEntities, NcrDecodes}
    val cols = ("doc_id" +: carry).mkString(", ")
    val chunks = NcrDecodes.grouped(47).toSeq
    val base =
      s"""|${p}b AS (
          | SELECT $cols, ${replChainSql(inCol, BaseEntities)} AS __t0
          | FROM $fromCte),""".stripMargin
    val ncr = chunks.zipWithIndex.map { case (ch, i) =>
      val prev = if (i == 0) s"${p}b" else s"${p}n$i"
      s"""|${p}n${i + 1} AS (
          | SELECT $cols, __t0, CASE WHEN strpos(__t0, '&#') > 0
          |  THEN ${replChainSql(s"__t$i", ch)} ELSE __t$i END AS __t${i + 1}
          | FROM $prev),""".stripMargin
    }.mkString("\n")
    val amp =
      s"""|${p}d AS (
          | SELECT $cols, ${replChainSql(s"__t${chunks.size}", AmpEntities)} AS __dec
          | FROM ${p}n${chunks.size})""".stripMargin
    s"$base\n$ncr\n$amp"
  }

  private val hadamardProj: IndexedSeq[Seq[Long]] =
    (0 until 8).map(c => (0 until 64).map(k =>
      if (java.lang.Integer.bitCount(c & k) % 2 == 0) 1L else -1L))

  private val quantCtes: String =
    """g AS (
      | SELECT max(list_max(list_transform(embedding, x -> abs(cast(x as double))))) AS m
      | FROM embeddings),
      |sc AS (SELECT CASE WHEN m IS NULL OR m = 0 THEN 1.0 ELSE m / 127.0 END AS gs FROM g),
      |qv AS (
      | SELECT vec_id AS id,
      |  list_transform(embedding, x -> cast(floor(cast(x as double) / gs + 0.5) as bigint)) AS q
      | FROM embeddings, sc)""".stripMargin

  private val kmeansCtes: String =
    s"""$quantCtes,
      |c0 AS (
      | SELECT cast(row_number() OVER (ORDER BY id) - 1 as int) AS cid, q AS cq
      | FROM (SELECT id, q FROM qv ORDER BY id LIMIT 8)),
      |a1 AS (
      | SELECT id, q, cid, dist FROM (
      |  SELECT id, q, cid, dist,
      |   row_number() OVER (PARTITION BY id ORDER BY dist, cid) AS rk
      |  FROM (SELECT qv.id, qv.q, c.cid,
      |   cast(list_sum(list_transform(range(1, len(qv.q) + 1),
      |     i -> (qv.q[i] - c.cq[i]) * (qv.q[i] - c.cq[i]))) as bigint) AS dist
      |   FROM qv, c0 c)) WHERE rk = 1),
      |u1 AS (
      | SELECT cid, i AS pos,
      |  cast(floor(cast(sum(q[i]) as double) / count(*)) as bigint) AS v
      | FROM a1, range(1, 65) t(i) GROUP BY cid, i),
      |c1 AS (
      | SELECT g.cid, list(coalesce(u.v, g.cv) ORDER BY g.i) AS cq
      | FROM (SELECT c0.cid, t.i, c0.cq[t.i] AS cv FROM c0, range(1, 65) t(i)) g
      | LEFT JOIN u1 u ON u.cid = g.cid AND u.pos = g.i
      | GROUP BY g.cid),
      |a2 AS (
      | SELECT id, q, cid, dist FROM (
      |  SELECT id, q, cid, dist,
      |   row_number() OVER (PARTITION BY id ORDER BY dist, cid) AS rk
      |  FROM (SELECT qv.id, qv.q, c.cid,
      |   cast(list_sum(list_transform(range(1, len(qv.q) + 1),
      |     i -> (qv.q[i] - c.cq[i]) * (qv.q[i] - c.cq[i]))) as bigint) AS dist
      |   FROM qv, c1 c)) WHERE rk = 1)""".stripMargin

  val oracles: Map[String, String] = Map(

    // replays the SYNTHESIS formula of every image payload (the
    // q_media_pipeline trust argument), derives the 64 aHash bits with
    // the same forward block map and integer cross-product compare,
    // brute-forces the hamming<=3 edges between DISTINCT-hash nodes,
    // and walks the same closure via recursive CTE — hash-matching
    // Spark's banded path proves the 4x16 banding lossless
    "q_media_phash" ->
      """WITH RECURSIVE dims AS (
        | SELECT doc_id AS id, cast(8 + doc_id % 24 as bigint) AS W,
        |        cast(8 + (doc_id*7) % 16 as bigint) AS H
        | FROM documents WHERE doc_id % 3 = 0),
        |xs AS (SELECT id, W, H, unnest(range(0, W)) AS x FROM dims),
        |px AS (
        | SELECT id, (x + y + id) % 256 AS v,
        |  (y * 8 // H) * 8 + (x * 8 // W) AS b
        | FROM (SELECT id, W, H, x, unnest(range(0, H)) AS y FROM xs)),
        |tot AS (SELECT id, sum(v) AS tv, count(*) AS npx FROM px GROUP BY id),
        |blk AS (SELECT id, b, sum(v) AS bv, count(*) AS bn FROM px GROUP BY id, b),
        |bitlist AS (
        | SELECT blk.id, list(CASE WHEN bv * npx > tv * bn THEN 1 ELSE 0 END ORDER BY b) AS bits
        | FROM blk JOIN tot ON blk.id = tot.id GROUP BY blk.id),
        |hnodes AS (SELECT bits, min(id) AS node FROM bitlist GROUP BY bits),
        |edges AS (
        | SELECT a.node AS ia, b.node AS ib
        | FROM hnodes a JOIN hnodes b ON a.node < b.node
        | WHERE len(list_filter(range(1, 65), i -> a.bits[i] != b.bits[i])) <= 3),
        |sym AS (SELECT ia AS src, ib AS dst FROM edges
        |        UNION ALL SELECT ib, ia FROM edges),
        |enodes AS (SELECT DISTINCT src AS node FROM sym),
        |reach AS (
        | SELECT node, node AS lbl FROM enodes
        | UNION
        | SELECT s.dst AS node, r.lbl FROM reach r JOIN sym s ON s.src = r.node),
        |comp AS (SELECT node, min(lbl) AS component FROM reach GROUP BY 1)
        |SELECT bl.id AS media_id,
        | coalesce(c.component, n.node) AS canonical_id,
        | bl.id = coalesce(c.component, n.node) AS is_canonical
        |FROM bitlist bl JOIN hnodes n ON bl.bits = n.bits
        |LEFT JOIN comp c ON c.node = n.node
        |ORDER BY media_id""".stripMargin,

    // unrolls the HISTORY-only trajectory (grid from history max,
    // init by smallest history ids, 2 Lloyd rounds incl. the final
    // update) then assigns the BATCH against the post-update
    // centroids — deliberately restated with history filters rather
    // than reusing kmeansCtes (whose grid/init span the full corpus)
    "q_ann_incremental" ->
      """WITH g AS (
        | SELECT max(list_max(list_transform(embedding, x -> abs(cast(x as double))))) AS m
        | FROM embeddings WHERE vec_id < 400),
        |sc AS (SELECT CASE WHEN m IS NULL OR m = 0 THEN 1.0 ELSE m / 127.0 END AS gs FROM g),
        |qv AS (
        | SELECT vec_id AS id,
        |  list_transform(embedding, x -> cast(floor(cast(x as double) / gs + 0.5) as bigint)) AS q
        | FROM embeddings, sc),
        |h AS (SELECT id, q FROM qv WHERE id < 400),
        |c0 AS (
        | SELECT cast(row_number() OVER (ORDER BY id) - 1 as int) AS cid, q AS cq
        | FROM (SELECT id, q FROM h ORDER BY id LIMIT 8)),
        |a1 AS (
        | SELECT id, q, cid FROM (
        |  SELECT id, q, cid,
        |   row_number() OVER (PARTITION BY id ORDER BY dist, cid) AS rk
        |  FROM (SELECT h.id, h.q, c.cid,
        |   cast(list_sum(list_transform(range(1, len(h.q) + 1),
        |     i -> (h.q[i] - c.cq[i]) * (h.q[i] - c.cq[i]))) as bigint) AS dist
        |   FROM h, c0 c)) WHERE rk = 1),
        |u1 AS (
        | SELECT cid, i AS pos,
        |  cast(floor(cast(sum(q[i]) as double) / count(*)) as bigint) AS v
        | FROM a1, range(1, 65) t(i) GROUP BY cid, i),
        |c1 AS (
        | SELECT g.cid, list(coalesce(u.v, g.cv) ORDER BY g.i) AS cq
        | FROM (SELECT c0.cid, t.i, c0.cq[t.i] AS cv FROM c0, range(1, 65) t(i)) g
        | LEFT JOIN u1 u ON u.cid = g.cid AND u.pos = g.i
        | GROUP BY g.cid),
        |a2 AS (
        | SELECT id, q, cid FROM (
        |  SELECT id, q, cid,
        |   row_number() OVER (PARTITION BY id ORDER BY dist, cid) AS rk
        |  FROM (SELECT h.id, h.q, c.cid,
        |   cast(list_sum(list_transform(range(1, len(h.q) + 1),
        |     i -> (h.q[i] - c.cq[i]) * (h.q[i] - c.cq[i]))) as bigint) AS dist
        |   FROM h, c1 c)) WHERE rk = 1),
        |u2 AS (
        | SELECT cid, i AS pos,
        |  cast(floor(cast(sum(q[i]) as double) / count(*)) as bigint) AS v
        | FROM a2, range(1, 65) t(i) GROUP BY cid, i),
        |c2 AS (
        | SELECT g.cid, list(coalesce(u.v, g.cv) ORDER BY g.i) AS cq
        | FROM (SELECT c1.cid, t.i, c1.cq[t.i] AS cv FROM c1, range(1, 65) t(i)) g
        | LEFT JOIN u2 u ON u.cid = g.cid AND u.pos = g.i
        | GROUP BY g.cid),
        |b AS (SELECT id, q FROM qv WHERE id >= 400)
        |SELECT id AS vec_id, cid AS cluster, dist FROM (
        | SELECT id, cid, dist,
        |  row_number() OVER (PARTITION BY id ORDER BY dist, cid) AS rk
        | FROM (SELECT b.id, c.cid,
        |  cast(list_sum(list_transform(range(1, len(b.q) + 1),
        |    i -> (b.q[i] - c.cq[i]) * (b.q[i] - c.cq[i]))) as bigint) AS dist
        |  FROM b, c2 c)) WHERE rk = 1
        |ORDER BY vec_id""".stripMargin,

    // replays the int8 grid (quantCtes) then folds the upper-triangle
    // products — exact integer equality, cell for cell
    "q_embed_gram" ->
      s"""WITH $quantCtes,
         |xs AS (SELECT q, unnest(range(1, len(q) + 1)) AS i FROM qv),
         |prods AS (
         | SELECT i, j, q[i] * q[j] AS p
         | FROM (SELECT q, i, unnest(range(i, len(q) + 1)) AS j FROM xs))
         |SELECT cast(i as int) AS i, cast(j as int) AS j,
         | cast(sum(p) as bigint) AS gram
         |FROM prods GROUP BY i, j
         |ORDER BY i, j""".stripMargin,

    // replays the int8 grid (quantCtes) then the literal ±1 projection
    // — same hadamardProj constant inlined as list literals, exact
    // integer equality per component
    "q_embed_project" -> {
      val projCols = hadamardProj.zipWithIndex.map { case (w, c) =>
        s"""cast(list_sum(list_transform(range(1, len(q) + 1),
           |   i -> q[i] * ([${w.mkString(",")}])[i])) as bigint) AS proj_$c""".stripMargin
      }.mkString(",\n ")
      s"""WITH $quantCtes
         |SELECT id AS vec_id,
         | $projCols
         |FROM qv
         |ORDER BY vec_id""".stripMargin
    },

    // the eigensolve has no SQL analog; the corpus-dependent halves of
    // the certification are computed twice on the Spark side (in-plan
    // projection energy vs driver quadratic form over the gram the
    // q_embed_gram oracle independently hash-verifies) and the oracle
    // pins the resulting booleans — the r13 certified-sketch idiom
    "q_embed_eigen" ->
      """SELECT cast(r as int) AS component,
        | TRUE AS energy_matches_quadform,
        | TRUE AS energy_monotone
        |FROM range(8) t(r)
        |ORDER BY component""".stripMargin,

    // replays Lloyd's (kmeansCtes) then the deterministic md5-ordered
    // per-cell quota draw
    "q_sample_diverse" ->
      s"""WITH $kmeansCtes,
         |sel AS (
         | SELECT id, cid,
         |  cast(row_number() OVER (PARTITION BY cid
         |   ORDER BY md5('div' || cast(id as varchar)), id) as int) AS rk
         | FROM a2)
         |SELECT id AS vec_id, cid AS cluster, rk
         |FROM sel WHERE rk <= 10
         |ORDER BY cluster, rk""".stripMargin,

    // replays the full approximate path: probe = rank the SAME c1
    // centroids a2's cells were assigned against (exact integer L2,
    // (dist, cid) ties), take nprobe=2; candidates = probed cells
    // minus self; IVF top-5 by exact cosine; recall = overlap with
    // the brute-forced truth per query
    "q_ann_recall" ->
      s"""WITH $kmeansCtes,
         |probe AS (
         | SELECT id AS query_id, cid FROM (
         |  SELECT aq.id, c.cid,
         |   row_number() OVER (PARTITION BY aq.id ORDER BY
         |    cast(list_sum(list_transform(range(1, len(aq.q) + 1),
         |      i -> (aq.q[i] - c.cq[i]) * (aq.q[i] - c.cq[i]))) as bigint), c.cid) AS rk
         |  FROM (SELECT id, q FROM a2 WHERE id < 8) aq, c1 c)
         | WHERE rk <= 2),
         |cand AS (
         | SELECT p.query_id, a.id AS neighbor_id
         | FROM probe p JOIN a2 a ON a.cid = p.cid AND a.id <> p.query_id),
         |ivf AS (
         | SELECT query_id, neighbor_id FROM (
         |  SELECT c.query_id, c.neighbor_id,
         |   row_number() OVER (PARTITION BY c.query_id ORDER BY
         |    list_sum(list_transform(list_zip(eq.embedding, en.embedding),
         |      p -> cast(p[1] as double) * cast(p[2] as double)))
         |    / (sqrt(list_sum(list_transform(eq.embedding, x -> cast(x as double) * cast(x as double))))
         |     * sqrt(list_sum(list_transform(en.embedding, x -> cast(x as double) * cast(x as double))))) DESC,
         |    c.neighbor_id) AS rk
         |  FROM cand c
         |   JOIN embeddings eq ON eq.vec_id = c.query_id
         |   JOIN embeddings en ON en.vec_id = c.neighbor_id)
         | WHERE rk <= 5),
         |brute AS (
         | SELECT query_id, neighbor_id FROM (
         |  SELECT q.query_id, e.vec_id AS neighbor_id,
         |   row_number() OVER (PARTITION BY q.query_id ORDER BY
         |    list_sum(list_transform(list_zip(q.qv, e.embedding),
         |      p -> cast(p[1] as double) * cast(p[2] as double)))
         |    / (sqrt(list_sum(list_transform(q.qv, x -> cast(x as double) * cast(x as double))))
         |     * sqrt(list_sum(list_transform(e.embedding, x -> cast(x as double) * cast(x as double))))) DESC,
         |    e.vec_id) AS rk
         |  FROM embeddings e CROSS JOIN
         |   (SELECT vec_id AS query_id, embedding AS qv FROM embeddings WHERE vec_id < 8) q
         |  WHERE e.vec_id <> q.query_id)
         | WHERE rk <= 5)
         |SELECT b.query_id, count(i.neighbor_id) AS n_hits, count(*) AS k,
         | round(cast(count(i.neighbor_id) as double) / count(*), 6) AS recall
         |FROM brute b LEFT JOIN ivf i
         | ON i.query_id = b.query_id AND i.neighbor_id = b.neighbor_id
         |GROUP BY 1 ORDER BY 1""".stripMargin,

    // replays bitextMarginMine end-to-end: the shared unrolled k-means
    // (a2 = final cells), same-cell cross-side candidates with the
    // parity sides, the one float→ppb floor (IEEE-exact both engines),
    // per-side top-4 ppb sums (order-independent longs), truncating
    // margin division (all operands nonnegative, where DuckDB's
    // flooring // equals Spark's truncating div), and the mutual
    // best-margin filter with identical tie-breaks.
    "q_bitext_mine" ->
      s"""WITH $kmeansCtes,
         |sided AS (
         | SELECT a.id, a.cid, e.embedding FROM a2 a
         |  JOIN embeddings e ON e.vec_id = a.id),
         |pairs AS (
         | SELECT * FROM (
         |  SELECT x.id AS x_id, y.id AS y_id,
         |   cast(floor(1e9 * (
         |    list_sum(list_transform(list_zip(x.embedding, y.embedding),
         |      p -> cast(p[1] as double) * cast(p[2] as double)))
         |    / (sqrt(list_sum(list_transform(x.embedding, v -> cast(v as double) * cast(v as double))))
         |     * sqrt(list_sum(list_transform(y.embedding, v -> cast(v as double) * cast(v as double))))))) as bigint) AS cos_ppb
         |  FROM sided x JOIN sided y
         |   ON x.cid = y.cid AND x.id % 2 = 0 AND y.id % 2 = 1)
         | WHERE cos_ppb >= 0),
         |rkx AS (SELECT *, row_number() OVER (
         |  PARTITION BY x_id ORDER BY cos_ppb DESC, y_id) AS rk FROM pairs),
         |ax AS (SELECT x_id, cast(sum(cos_ppb) // count(*) as bigint) AS a_x
         | FROM rkx WHERE rk <= 4 GROUP BY 1),
         |rky AS (SELECT *, row_number() OVER (
         |  PARTITION BY y_id ORDER BY cos_ppb DESC, x_id) AS rk FROM pairs),
         |ay AS (SELECT y_id, cast(sum(cos_ppb) // count(*) as bigint) AS a_y
         | FROM rky WHERE rk <= 4 GROUP BY 1),
         |m AS (
         | SELECT p.x_id, p.y_id, p.cos_ppb,
         |  cast((p.cos_ppb * 2000000) // (a_x + a_y) as bigint) AS margin_ppm
         | FROM pairs p JOIN ax USING (x_id) JOIN ay USING (y_id)
         | WHERE a_x + a_y > 0),
         |b AS (
         | SELECT *,
         |  row_number() OVER (PARTITION BY x_id ORDER BY margin_ppm DESC, y_id) AS bx,
         |  row_number() OVER (PARTITION BY y_id ORDER BY margin_ppm DESC, x_id) AS by
         | FROM m)
         |SELECT x_id, y_id, cos_ppb, margin_ppm FROM b
         |WHERE bx = 1 AND by = 1 AND margin_ppm >= 1000000
         |ORDER BY x_id, y_id""".stripMargin,

    // replays BOTH legs of the blocking-recall certification: the
    // blocked leg is the exact q_bitext_mine pipeline (same-cell
    // candidates under the shared unrolled k-means), the truth leg the
    // same margin pipeline over ALL cross-side pairs (no blocking),
    // then the exact-integer recall arithmetic
    "q_bitext_recall" -> {
      def marginLeg(pairsCte: String, p: String): String =
        s"""${p}rx AS (SELECT *, row_number() OVER (
           |  PARTITION BY x_id ORDER BY cos_ppb DESC, y_id) AS rk FROM $pairsCte),
           |${p}ax AS (SELECT x_id, cast(sum(cos_ppb) // count(*) as bigint) AS a_x
           | FROM ${p}rx WHERE rk <= 4 GROUP BY 1),
           |${p}ry AS (SELECT *, row_number() OVER (
           |  PARTITION BY y_id ORDER BY cos_ppb DESC, x_id) AS rk FROM $pairsCte),
           |${p}ay AS (SELECT y_id, cast(sum(cos_ppb) // count(*) as bigint) AS a_y
           | FROM ${p}ry WHERE rk <= 4 GROUP BY 1),
           |${p}m AS (
           | SELECT q.x_id, q.y_id,
           |  cast((q.cos_ppb * 2000000) // (a_x + a_y) as bigint) AS margin_ppm
           | FROM $pairsCte q JOIN ${p}ax USING (x_id) JOIN ${p}ay USING (y_id)
           | WHERE a_x + a_y > 0),
           |${p}b AS (
           | SELECT *,
           |  row_number() OVER (PARTITION BY x_id ORDER BY margin_ppm DESC, y_id) AS bx,
           |  row_number() OVER (PARTITION BY y_id ORDER BY margin_ppm DESC, x_id) AS by
           | FROM ${p}m),
           |${p}sel AS (SELECT x_id, y_id FROM ${p}b
           | WHERE bx = 1 AND by = 1 AND margin_ppm >= 1000000)""".stripMargin
      val cosExpr = (a: String, b: String) =>
        s"""list_sum(list_transform(list_zip($a, $b),
           |      p -> cast(p[1] as double) * cast(p[2] as double)))
           |    / (sqrt(list_sum(list_transform($a, v -> cast(v as double) * cast(v as double))))
           |     * sqrt(list_sum(list_transform($b, v -> cast(v as double) * cast(v as double)))))""".stripMargin
      s"""WITH $kmeansCtes,
         |sided AS (
         | SELECT a.id, a.cid, e.embedding FROM a2 a
         |  JOIN embeddings e ON e.vec_id = a.id),
         |bpairs AS (
         | SELECT * FROM (
         |  SELECT x.id AS x_id, y.id AS y_id,
         |   cast(floor(1e9 * (${cosExpr("x.embedding", "y.embedding")})) as bigint) AS cos_ppb
         |  FROM sided x JOIN sided y
         |   ON x.cid = y.cid AND x.id % 2 = 0 AND y.id % 2 = 1)
         | WHERE cos_ppb >= 0),
         |${marginLeg("bpairs", "b")},
         |tpairs AS (
         | SELECT * FROM (
         |  SELECT x.vec_id AS x_id, y.vec_id AS y_id,
         |   cast(floor(1e9 * (${cosExpr("x.embedding", "y.embedding")})) as bigint) AS cos_ppb
         |  FROM embeddings x JOIN embeddings y
         |   ON x.vec_id % 2 = 0 AND y.vec_id % 2 = 1)
         | WHERE cos_ppb >= 0),
         |${marginLeg("tpairs", "t")}
         |SELECT t.n_truth, bl.n_blocked, h.n_hits,
         | round(cast(h.n_hits as double) / t.n_truth, 6) AS recall
         |FROM (SELECT count(*) AS n_truth FROM tsel) t,
         | (SELECT count(*) AS n_blocked FROM bsel) bl,
         | (SELECT count(*) AS n_hits FROM tsel JOIN bsel USING (x_id, y_id)) h""".stripMargin
    },

    "q_dedup_semantic" ->
      s"""WITH $kmeansCtes,
         |blocks AS (SELECT cid FROM a2 GROUP BY cid HAVING count(*) BETWEEN 2 AND 1000),
         |pr AS (
         | SELECT a.id AS id_a, b.id AS id_b
         | FROM a2 a JOIN a2 b ON a.cid = b.cid AND a.id < b.id
         | JOIN blocks bl ON bl.cid = a.cid),
         |co AS (
         | SELECT pr.id_a, pr.id_b,
         |  list_sum(list_transform(list_zip(ea.embedding, eb.embedding),
         |    p -> cast(p[1] as double) * cast(p[2] as double)))
         |  / (sqrt(list_sum(list_transform(ea.embedding, x -> cast(x as double) * cast(x as double))))
         |   * sqrt(list_sum(list_transform(eb.embedding, x -> cast(x as double) * cast(x as double))))) AS cosine
         | FROM pr JOIN embeddings ea ON ea.vec_id = pr.id_a
         |         JOIN embeddings eb ON eb.vec_id = pr.id_b)
         |SELECT id_a, id_b, round(cosine, 6) AS cosine
         |FROM co WHERE cosine >= 0.42 ORDER BY id_a, id_b""".stripMargin,

    "q_embed_pool" ->
      """SELECT label, cast(pos - 1 as int) AS pos,
        | round(cast(sum(cast(cast(v as double) as decimal(38,20))) as double) / count(*), 6) AS mean_val,
        | count(*) AS n_vecs
        |FROM (SELECT label, unnest(embedding) AS v,
        |       generate_subscripts(embedding, 1) AS pos FROM embeddings)
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    "q_stream_dedup" ->
      """SELECT event_type, count(DISTINCT user_id) AS n_users
        |FROM events GROUP BY 1 ORDER BY 1""".stripMargin,

    // replays Cluster.kmeansInt8 bit-for-bit with the two Lloyd
    // iterations UNROLLED: global int8 grid (max |x| / 127), init =
    // the 8 smallest ids, exact integer L2 argmin with (dist, cid)
    // tie-break, per-dimension floor-of-double-mean centroid updates
    // (dim fixed at 64 = the embeddings table's width), empty
    // clusters inherit the prior centroid via the positions x c_prev
    // left join, membership/inertia from the final assignment and the
    // post-update centroid fingerprinted as md5 of the joined longs
    "q_kmeans" ->
      s"""WITH $kmeansCtes,
        |u2 AS (
        | SELECT cid, i AS pos,
        |  cast(floor(cast(sum(q[i]) as double) / count(*)) as bigint) AS v
        | FROM a2, range(1, 65) t(i) GROUP BY cid, i),
        |c2 AS (
        | SELECT g.cid, list(coalesce(u.v, g.cv) ORDER BY g.i) AS cq
        | FROM (SELECT c1.cid, t.i, c1.cq[t.i] AS cv FROM c1, range(1, 65) t(i)) g
        | LEFT JOIN u2 u ON u.cid = g.cid AND u.pos = g.i
        | GROUP BY g.cid),
        |m AS (SELECT cid, count(*) AS n, cast(sum(dist) as bigint) AS inertia
        |      FROM a2 GROUP BY cid)
        |SELECT c2.cid AS cluster,
        | coalesce(m.n, 0) AS n_members,
        | cast(coalesce(m.inertia, 0) as bigint) AS inertia,
        | md5(array_to_string(c2.cq, ',')) AS centroid_fp
        |FROM c2 LEFT JOIN m ON m.cid = c2.cid
        |ORDER BY cluster""".stripMargin,

    // replays Cluster.kmeansTwoLevel at its no-sampling config
    // (samplePerCoarse=1024 => sampleTarget >= n below ~65k vectors)
    // with every loop unrolled: the same global int8 grid as q_kmeans;
    // coarse k = min(64, ceil(sqrt(ceil(n/16)))) trained 2 Lloyd's
    // iterations on the FULL corpus (init = k smallest ids, (dist,cid)
    // ties, floor-of-mean updates, empty keeps prev); shard = exact
    // integer L2 argmin against the POST-update coarse centroids
    // (trainLoop.centroids); per-shard fineK = min(ceil(n_s/16), 64),
    // init = the fineK smallest ids per shard, ONE fine update, final
    // assignment against the updated fine centroids; cluster id packs
    // shard x 65 + fcid
    "q_kmeans_twolevel" ->
      """WITH g AS (
        | SELECT max(list_max(list_transform(embedding, x -> abs(cast(x as double))))) AS m
        | FROM embeddings),
        |sc AS (SELECT CASE WHEN m IS NULL OR m = 0 THEN 1.0 ELSE m / 127.0 END AS gs FROM g),
        |qv AS (
        | SELECT vec_id AS id,
        |  list_transform(embedding, x -> cast(floor(cast(x as double) / gs + 0.5) as bigint)) AS q
        | FROM embeddings, sc),
        |par AS (SELECT cast(least(64, cast(ceil(sqrt(ceil(count(*) / 16.0))) as bigint)) as int) AS ck
        |        FROM qv),
        |cc0 AS (
        | SELECT cast(rn - 1 as int) AS cid, q AS cq
        | FROM (SELECT q, row_number() OVER (ORDER BY id) AS rn FROM qv), par
        | WHERE rn <= ck),
        |ca1 AS (
        | SELECT id, q, cid FROM (
        |  SELECT id, q, cid, row_number() OVER (PARTITION BY id ORDER BY dist, cid) AS rk
        |  FROM (SELECT qv.id, qv.q, c.cid,
        |   cast(list_sum(list_transform(range(1, len(qv.q) + 1),
        |     i -> (qv.q[i] - c.cq[i]) * (qv.q[i] - c.cq[i]))) as bigint) AS dist
        |   FROM qv, cc0 c)) WHERE rk = 1),
        |cu1 AS (
        | SELECT cid, i AS pos, cast(floor(cast(sum(q[i]) as double) / count(*)) as bigint) AS v
        | FROM ca1, range(1, 65) t(i) GROUP BY cid, i),
        |cc1 AS (
        | SELECT b.cid, list(coalesce(u.v, b.cv) ORDER BY b.i) AS cq
        | FROM (SELECT cc0.cid, t.i, cc0.cq[t.i] AS cv FROM cc0, range(1, 65) t(i)) b
        | LEFT JOIN cu1 u ON u.cid = b.cid AND u.pos = b.i GROUP BY b.cid),
        |ca2 AS (
        | SELECT id, q, cid FROM (
        |  SELECT id, q, cid, row_number() OVER (PARTITION BY id ORDER BY dist, cid) AS rk
        |  FROM (SELECT qv.id, qv.q, c.cid,
        |   cast(list_sum(list_transform(range(1, len(qv.q) + 1),
        |     i -> (qv.q[i] - c.cq[i]) * (qv.q[i] - c.cq[i]))) as bigint) AS dist
        |   FROM qv, cc1 c)) WHERE rk = 1),
        |cu2 AS (
        | SELECT cid, i AS pos, cast(floor(cast(sum(q[i]) as double) / count(*)) as bigint) AS v
        | FROM ca2, range(1, 65) t(i) GROUP BY cid, i),
        |cc2 AS (
        | SELECT b.cid, list(coalesce(u.v, b.cv) ORDER BY b.i) AS cq
        | FROM (SELECT cc1.cid, t.i, cc1.cq[t.i] AS cv FROM cc1, range(1, 65) t(i)) b
        | LEFT JOIN cu2 u ON u.cid = b.cid AND u.pos = b.i GROUP BY b.cid),
        |sh AS (
        | SELECT id, q, cid AS shard FROM (
        |  SELECT id, q, cid, row_number() OVER (PARTITION BY id ORDER BY dist, cid) AS rk
        |  FROM (SELECT qv.id, qv.q, c.cid,
        |   cast(list_sum(list_transform(range(1, len(qv.q) + 1),
        |     i -> (qv.q[i] - c.cq[i]) * (qv.q[i] - c.cq[i]))) as bigint) AS dist
        |   FROM qv, cc2 c)) WHERE rk = 1),
        |meta AS (SELECT shard, least(cast(ceil(count(*) / 16.0) as bigint), 64) AS fk
        |         FROM sh GROUP BY shard),
        |f0 AS (
        | SELECT s.shard, cast(s.rn - 1 as int) AS fcid, s.q AS cq
        | FROM (SELECT shard, q, row_number() OVER (PARTITION BY shard ORDER BY id) AS rn
        |       FROM sh) s JOIN meta ON meta.shard = s.shard
        | WHERE s.rn <= meta.fk),
        |fa1 AS (
        | SELECT id, shard, q, fcid FROM (
        |  SELECT id, shard, q, fcid, row_number() OVER (PARTITION BY id ORDER BY dist, fcid) AS rk
        |  FROM (SELECT sh.id, sh.shard, sh.q, c.fcid,
        |   cast(list_sum(list_transform(range(1, len(sh.q) + 1),
        |     i -> (sh.q[i] - c.cq[i]) * (sh.q[i] - c.cq[i]))) as bigint) AS dist
        |   FROM sh JOIN f0 c ON c.shard = sh.shard)) WHERE rk = 1),
        |fu1 AS (
        | SELECT shard, fcid, i AS pos,
        |  cast(floor(cast(sum(q[i]) as double) / count(*)) as bigint) AS v
        | FROM fa1, range(1, 65) t(i) GROUP BY shard, fcid, i),
        |fc1 AS (
        | SELECT b.shard, b.fcid, list(coalesce(u.v, b.cv) ORDER BY b.i) AS cq
        | FROM (SELECT f0.shard, f0.fcid, t.i, f0.cq[t.i] AS cv
        |       FROM f0, range(1, 65) t(i)) b
        | LEFT JOIN fu1 u ON u.shard = b.shard AND u.fcid = b.fcid AND u.pos = b.i
        | GROUP BY b.shard, b.fcid),
        |fa2 AS (
        | SELECT id, shard, fcid FROM (
        |  SELECT id, shard, fcid, row_number() OVER (PARTITION BY id ORDER BY dist, fcid) AS rk
        |  FROM (SELECT sh.id, sh.shard, c.fcid,
        |   cast(list_sum(list_transform(range(1, len(sh.q) + 1),
        |     i -> (sh.q[i] - c.cq[i]) * (sh.q[i] - c.cq[i]))) as bigint) AS dist
        |   FROM sh JOIN fc1 c ON c.shard = sh.shard)) WHERE rk = 1)
        |SELECT id AS vec_id, cast(shard as bigint) * 65 + fcid AS cluster
        |FROM fa2 ORDER BY vec_id""".stripMargin,

    // k=30 in the query ⇒ the deterministic surface is exact_count
    // > n/31; the MG sketch is invisible to the oracle by design
    "q_heavy_hitters" ->
      s"""WITH tk AS (SELECT t AS tok FROM
         |  (SELECT unnest($toksSql) AS t FROM documents) WHERE length(t) > 0),
         |n AS (SELECT count(*) AS n FROM tk)
         |SELECT tok, count(*) AS exact_count
         |FROM tk, n GROUP BY tok, n.n
         |HAVING count(*) * 31 > n.n
         |ORDER BY exact_count DESC, tok""".stripMargin,

    // replays rollingFingerprintPortable's h = (h*31 + md5_20(t))
    // mod 2^40 recurrence: per-token 20-bit hash from the first 5 md5
    // hex chars, then an ordered fold seeded with 0
    "q_fingerprint_rolling" ->
      s"""WITH tk AS (SELECT doc_id, $toksSql AS toks FROM documents),
         |h AS (SELECT doc_id, list_transform(toks, t ->
         |  cast(list_sum(list_transform(range(5), i ->
         |    (strpos('0123456789abcdef', substr(md5(t), i+1, 1)) - 1)::BIGINT
         |      << (4 * (4 - i)))) as bigint)) AS hs
         | FROM tk)
         |SELECT doc_id, cast(list_reduce([0::BIGINT] || hs,
         |  (a, x) -> (a * 31 + x) % 1099511627776) as bigint) AS rolling_fp
         |FROM h ORDER BY doc_id""".stripMargin,

    "q_dedup_minhash_verify" ->
      s"""WITH t AS (SELECT doc_id, $toksSql AS toks FROM documents),
         |s AS (SELECT doc_id, list_distinct(CASE WHEN len(toks) < 3
         |  THEN [array_to_string(toks, ' ')]
         |  ELSE list_transform(range(len(toks)-2),
         |         i -> toks[i+1] || ' ' || toks[i+2] || ' ' || toks[i+3]) END) AS sh
         | FROM t),
         |p AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b,
         |  len(list_intersect(a.sh, b.sh))::DOUBLE
         |    / len(list_distinct(a.sh || b.sh)) AS j
         | FROM s a, s b WHERE a.doc_id < b.doc_id)
         |SELECT id_a, id_b, round(j, 6) AS jaccard FROM p
         |WHERE j >= 0.7 ORDER BY 1, 2""".stripMargin,

    // brute-forced containment truth over the same bounded universe:
    // hash-matching it proves containmentPairs' prefix×full candidate
    // rule lossless here (same argument as q_simjoin_prefix)
    "q_dedup_containment" ->
      s"""WITH t AS (SELECT doc_id, $toksSql AS toks FROM documents
         |  WHERE doc_id < 500),
         |s AS (SELECT doc_id, list_distinct(CASE WHEN len(toks) < 3
         |  THEN [array_to_string(toks, ' ')]
         |  ELSE list_transform(range(len(toks)-2),
         |         i -> toks[i+1] || ' ' || toks[i+2] || ' ' || toks[i+3]) END) AS sh
         | FROM t),
         |p AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b,
         |  cast(len(list_intersect(a.sh, b.sh)) as double)
         |    / least(len(a.sh), len(b.sh)) AS c
         | FROM s a, s b WHERE a.doc_id < b.doc_id)
         |SELECT id_a, id_b, round(c, 6) AS containment FROM p
         |WHERE c >= 0.7 ORDER BY 1, 2""".stripMargin,

    // the pruned strategy must reproduce the lossless pair set on
    // this corpus — same brute-force oracle, so any banding recall
    // miss is a HASH FAILURE, not a silent grade
    "q_dedup_containment_pruned" ->
      s"""WITH t AS (SELECT doc_id, $toksSql AS toks FROM documents
         |  WHERE doc_id < 500),
         |s AS (SELECT doc_id, list_distinct(CASE WHEN len(toks) < 3
         |  THEN [array_to_string(toks, ' ')]
         |  ELSE list_transform(range(len(toks)-2),
         |         i -> toks[i+1] || ' ' || toks[i+2] || ' ' || toks[i+3]) END) AS sh
         | FROM t),
         |p AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b,
         |  cast(len(list_intersect(a.sh, b.sh)) as double)
         |    / least(len(a.sh), len(b.sh)) AS c
         | FROM s a, s b WHERE a.doc_id < b.doc_id)
         |SELECT id_a, id_b, round(c, 6) AS containment FROM p
         |WHERE c >= 0.7 ORDER BY 1, 2""".stripMargin,

    // the same exact-integer BM25 dag: dl/totals, term-filtered tf,
    // df, then the ×2-scaled Robertson idf and the ×10·A-cleared tf
    // saturation — every contribution an exact long, so the top-20
    // (score desc, doc_id) is the identical row set
    "q_bm25" ->
      s"""WITH tk AS (SELECT doc_id, unnest($toksSql) AS term FROM documents),
         |t2 AS (SELECT doc_id, term FROM tk WHERE length(term) > 0),
         |dl AS (SELECT doc_id, count(*) AS dl FROM t2 GROUP BY 1),
         |tot AS (SELECT cast(sum(dl) as bigint) AS a, count(*) AS nd FROM dl),
         |tf AS (SELECT doc_id, term, count(*) AS tf FROM t2
         |  WHERE term IN ('merge', 'vector', 'stream', 'window') GROUP BY 1, 2),
         |dfq AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
         |sc AS (SELECT t.doc_id,
         |  ((2 * tot.nd - 2 * dfq.df + 1) * 1000000 // (2 * dfq.df + 1)) *
         |  (22 * t.tf * tot.a * 1000000
         |    // (10 * tot.a * t.tf + 3 * tot.a + 9 * dl.dl * tot.nd)) // 1000000 AS contrib
         | FROM tf t JOIN dfq USING (term) JOIN dl USING (doc_id), tot)
         |SELECT doc_id, count(*) AS n_terms, cast(sum(contrib) as bigint) AS score_ppm
         |FROM sc GROUP BY 1 ORDER BY score_ppm DESC, doc_id LIMIT 20""".stripMargin,

    // the same exact-integer dag with the query dim joined in: corpus
    // facts once, per-(query, doc) sums, rank <= 10 per query
    "q_bm25_table" ->
      s"""WITH q(query_id, term) AS (VALUES
         |  ('compute', 'merge'), ('compute', 'vector'), ('compute', 'stream'),
         |  ('windows', 'window'), ('windows', 'stream'),
         |  ('rare', 'vector'), ('rare', 'quantile')),
         |tk AS (SELECT doc_id, unnest($toksSql) AS term FROM documents),
         |t2 AS (SELECT doc_id, term FROM tk WHERE length(term) > 0),
         |dl AS (SELECT doc_id, count(*) AS dl FROM t2 GROUP BY 1),
         |tot AS (SELECT cast(sum(dl) as bigint) AS a, count(*) AS nd FROM dl),
         |tf AS (SELECT doc_id, term, count(*) AS tf FROM t2
         |  WHERE term IN (SELECT DISTINCT term FROM q) GROUP BY 1, 2),
         |dfq AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
         |sc AS (SELECT t.doc_id, t.term,
         |  ((2 * tot.nd - 2 * dfq.df + 1) * 1000000 // (2 * dfq.df + 1)) *
         |  (22 * t.tf * tot.a * 1000000
         |    // (10 * tot.a * t.tf + 3 * tot.a + 9 * dl.dl * tot.nd)) // 1000000 AS contrib
         | FROM tf t JOIN dfq USING (term) JOIN dl USING (doc_id), tot),
         |s AS (SELECT q.query_id, sc.doc_id, count(*) AS n_terms,
         |  cast(sum(sc.contrib) as bigint) AS score_ppm
         | FROM sc JOIN q ON sc.term = q.term GROUP BY 1, 2),
         |r AS (SELECT *, cast(row_number() OVER (PARTITION BY query_id
         |  ORDER BY score_ppm DESC, doc_id) as int) AS rank FROM s)
         |SELECT query_id, doc_id, n_terms, score_ppm, rank FROM r
         |WHERE rank <= 10 ORDER BY query_id, rank""".stripMargin,

    // replays both retrieval legs and the integer RRF fusion: the
    // sparse leg is the exact q_bm25_table dag over this query dim,
    // the dense leg the exact q_ann_recall IVF probe (shared unrolled
    // k-means, nprobe 2, top-10 by exact cosine), fused by
    // 10⁶ // (60 + rank) per leg (absent leg → 0), re-ranked per query
    "q_retrieve_hybrid" ->
      s"""WITH q(query_id, term) AS (VALUES
         |  ('0', 'merge'), ('0', 'vector'),
         |  ('1', 'stream'), ('1', 'window'),
         |  ('2', 'quantile'), ('2', 'vector')),
         |tk AS (SELECT doc_id, unnest($toksSql) AS term FROM documents),
         |t2 AS (SELECT doc_id, term FROM tk WHERE length(term) > 0),
         |dl AS (SELECT doc_id, count(*) AS dl FROM t2 GROUP BY 1),
         |tot AS (SELECT cast(sum(dl) as bigint) AS a, count(*) AS nd FROM dl),
         |tf AS (SELECT doc_id, term, count(*) AS tf FROM t2
         |  WHERE term IN (SELECT DISTINCT term FROM q) GROUP BY 1, 2),
         |dfq AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
         |bmc AS (SELECT t.doc_id, t.term,
         |  ((2 * tot.nd - 2 * dfq.df + 1) * 1000000 // (2 * dfq.df + 1)) *
         |  (22 * t.tf * tot.a * 1000000
         |    // (10 * tot.a * t.tf + 3 * tot.a + 9 * dl.dl * tot.nd)) // 1000000 AS contrib
         | FROM tf t JOIN dfq USING (term) JOIN dl USING (doc_id), tot),
         |bms AS (SELECT q.query_id, bmc.doc_id,
         |  cast(sum(bmc.contrib) as bigint) AS score_ppm
         | FROM bmc JOIN q ON bmc.term = q.term GROUP BY 1, 2),
         |sparse AS (SELECT query_id, doc_id AS id, rank FROM (
         |  SELECT *, cast(row_number() OVER (PARTITION BY query_id
         |   ORDER BY score_ppm DESC, doc_id) as int) AS rank FROM bms)
         | WHERE rank <= 10),
         |$kmeansCtes,
         |probe AS (
         | SELECT id AS query_id, cid FROM (
         |  SELECT aq.id, c.cid,
         |   row_number() OVER (PARTITION BY aq.id ORDER BY
         |    cast(list_sum(list_transform(range(1, len(aq.q) + 1),
         |      i -> (aq.q[i] - c.cq[i]) * (aq.q[i] - c.cq[i]))) as bigint), c.cid) AS rk
         |  FROM (SELECT id, q FROM a2 WHERE id < 3) aq, c1 c)
         | WHERE rk <= 2),
         |cand AS (
         | SELECT p.query_id, a.id AS neighbor_id
         | FROM probe p JOIN a2 a ON a.cid = p.cid AND a.id <> p.query_id),
         |dense AS (
         | SELECT cast(query_id as varchar) AS query_id, neighbor_id AS id,
         |  cast(rk as int) AS rk FROM (
         |  SELECT c.query_id, c.neighbor_id,
         |   row_number() OVER (PARTITION BY c.query_id ORDER BY
         |    list_sum(list_transform(list_zip(eq.embedding, en.embedding),
         |      p -> cast(p[1] as double) * cast(p[2] as double)))
         |    / (sqrt(list_sum(list_transform(eq.embedding, x -> cast(x as double) * cast(x as double))))
         |     * sqrt(list_sum(list_transform(en.embedding, x -> cast(x as double) * cast(x as double))))) DESC,
         |    c.neighbor_id) AS rk
         |  FROM cand c
         |   JOIN embeddings eq ON eq.vec_id = c.query_id
         |   JOIN embeddings en ON en.vec_id = c.neighbor_id)
         | WHERE rk <= 10),
         |fused AS (
         | SELECT coalesce(s.query_id, d.query_id) AS query_id,
         |  coalesce(s.id, d.id) AS id,
         |  cast(coalesce(1000000 // (60 + s.rank), 0)
         |   + coalesce(1000000 // (60 + d.rk), 0) as bigint) AS rrf_ppm,
         |  s.rank AS bm25_rank, d.rk AS dense_rank
         | FROM sparse s FULL OUTER JOIN dense d
         |  ON s.query_id = d.query_id AND s.id = d.id)
         |SELECT query_id, id, rrf_ppm, bm25_rank, dense_rank,
         | cast(row_number() OVER (PARTITION BY query_id
         |  ORDER BY rrf_ppm DESC, id) as int) AS rank
         |FROM fused
         |QUALIFY rank <= 10
         |ORDER BY query_id, rank""".stripMargin,

    // replays the in-plan messy wrap via chr() codepoints, then the
    // identical literal replace chain — GENERATED from the same
    // Cleaning.PunctNormalizations constants the Spark plan folds
    // over, so the two sides cannot desynchronize — then the shared
    // Java∩RE2 whitespace collapse
    "q_text_normalize" -> {
      val messy = Seq(
        "chr(8220)", "source",
        "chr(8221) || ' ' || chr(8212) || ' doc' || chr(160)",
        "cast(doc_id as varchar)",
        "' ' || chr(8216)", "lang",
        "chr(8217) || chr(8230) || ' ' || chr(8203) || 'z' || chr(65279) || ' ' || chr(9)",
        "substr(text, 1, 40)", "' ' || chr(8211) || ' end'").mkString(" || ")
      val chain = graft.operators.Cleaning.PunctNormalizations.foldLeft("raw") {
        case (acc, (from, to)) =>
          val f = from.map(c => s"chr(${c.toInt})").mkString(" || ")
          s"replace($acc, $f, '${to.replace("'", "''")}')"
      }
      s"""WITH m AS (SELECT doc_id, $messy AS raw FROM documents)
         |SELECT doc_id, cast(length(raw) as int) AS raw_len,
         | trim(regexp_replace($chain, '[ \\t\\n\\f\\r\\x0B]+', ' ', 'g')) AS clean,
         | cast(length(trim(regexp_replace($chain,
         |   '[ \\t\\n\\f\\r\\x0B]+', ' ', 'g'))) as int) AS clean_len
         |FROM m ORDER BY doc_id""".stripMargin
    },

    "q_dedup_ngram_verify" ->
      s"""WITH t AS (SELECT doc_id, $toksSql AS toks FROM documents
         |  WHERE doc_id < 500),
         |s AS (SELECT doc_id, list_distinct(CASE WHEN len(toks) < 2
         |  THEN [array_to_string(toks, ' ')]
         |  ELSE list_transform(range(len(toks)-1),
         |         i -> toks[i+1] || ' ' || toks[i+2]) END) AS sh
         | FROM t),
         |p AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b,
         |  len(list_intersect(a.sh, b.sh))::DOUBLE
         |    / len(list_distinct(a.sh || b.sh)) AS j
         | FROM s a, s b WHERE a.doc_id < b.doc_id)
         |SELECT id_a, id_b, round(j, 6) AS jaccard FROM p
         |WHERE j >= 0.3 ORDER BY 1, 2""".stripMargin,

    // brute-forced FULL truth (every pair, no filter): hash-matching
    // it proves prefixFilterJaccard's candidate rule lossless here
    "q_simjoin_prefix" ->
      s"""WITH t AS (SELECT doc_id, $toksSql AS toks FROM documents),
         |s AS (SELECT doc_id, list_distinct(CASE WHEN len(toks) < 3
         |  THEN [array_to_string(toks, ' ')]
         |  ELSE list_transform(range(len(toks)-2),
         |         i -> toks[i+1] || ' ' || toks[i+2] || ' ' || toks[i+3]) END) AS sh
         | FROM t),
         |p AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b,
         |  len(list_intersect(a.sh, b.sh))::DOUBLE
         |    / len(list_distinct(a.sh || b.sh)) AS j
         | FROM s a, s b WHERE a.doc_id < b.doc_id)
         |SELECT id_a, id_b, round(j, 6) AS jaccard FROM p
         |WHERE j >= 0.5 ORDER BY 1, 2""".stripMargin,

    "q_dedup_simhash_verify" ->
      s"""WITH tok AS (SELECT doc_id, unnest($toksSql) AS t FROM documents),
         |hx AS (SELECT doc_id, substr(md5(t), 1, 15) AS hx FROM tok),
         |h AS (SELECT doc_id, list_sum(list_transform(range(15),
         |  i -> ((strpos('0123456789abcdef', substr(hx, i+1, 1)) - 1)::BIGINT
         |        << (4 * (14 - i))))) AS h
         | FROM hx),
         |bits AS (SELECT doc_id, b,
         |  sum(CASE WHEN (h >> b) & 1 = 1 THEN 1 ELSE -1 END) AS s
         | FROM h, range(60) r(b) GROUP BY 1, 2),
         |sig AS (SELECT doc_id,
         |  sum(CASE WHEN s > 0 THEN 1::BIGINT << b ELSE 0::BIGINT END) AS sig
         | FROM bits GROUP BY 1)
         |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
         | cast(bit_count(xor(a.sig, b.sig)) as bigint) AS hamming
         |FROM sig a, sig b
         |WHERE a.doc_id < b.doc_id AND bit_count(xor(a.sig, b.sig)) <= 3
         |ORDER BY 1, 2""".stripMargin,

    // Mirrors Media's synthesis formulas (Media.scala pngW/pngH/pngPx,
    // wavN/wavSample, gifW/gifH/gifFrames/gifPx): the Spark side never
    // sees these formulas at decode time — it reads real PNG/WAV/GIF
    // bytes back through the JDK codecs, so a hash match proves the
    // container round-trip.
    "q_media_pipeline" ->
      """WITH d AS (SELECT doc_id AS media_id,
        |  CASE WHEN doc_id % 3 = 0 THEN 'image'
        |       WHEN doc_id % 3 = 1 THEN 'audio' ELSE 'video' END AS media_type
        | FROM documents),
        |img AS (SELECT media_id, 8 + media_id % 24 AS w, 8 + (media_id*7) % 16 AS h
        | FROM d WHERE media_type = 'image'),
        |imgr AS (SELECT i.media_id, i.w, i.h, i.w * i.h AS n_px,
        |  cast(sum((x.x + y.y + i.media_id) % 256) as bigint) AS px_sum
        | FROM img i, range(32) x(x), range(24) y(y)
        | WHERE x.x < i.w AND y.y < i.h GROUP BY 1, 2, 3, 4),
        |aud AS (SELECT media_id, 64 + media_id % 192 AS n FROM d WHERE media_type = 'audio'),
        |audr AS (SELECT a.media_id, a.n AS w, 1 AS h, a.n AS n_px,
        |  cast(sum((s.i * 3 + a.media_id) % 256) as bigint) AS px_sum
        | FROM aud a, range(256) s(i) WHERE s.i < a.n GROUP BY 1, 2, 3, 4),
        |vid AS (SELECT media_id, 8 + media_id % 16 AS w, 6 + (media_id*5) % 12 AS h,
        |  2 + media_id % 4 AS nf FROM d WHERE media_type = 'video'),
        |vidr AS (SELECT v.media_id, v.w, v.h, v.w * v.h * v.nf AS n_px,
        |  cast(sum((x.x + y.y + v.media_id + f.f * 7) % 256) as bigint) AS px_sum
        | FROM vid v, range(24) x(x), range(18) y(y), range(6) f(f)
        | WHERE x.x < v.w AND y.y < v.h AND f.f < v.nf GROUP BY 1, 2, 3, 4),
        |u AS (SELECT * FROM imgr UNION ALL SELECT * FROM audr UNION ALL SELECT * FROM vidr)
        |SELECT u.media_id, d.media_type, cast(u.w as int) AS width,
        | cast(u.h as int) AS height, cast(u.n_px as bigint) AS n_px, u.px_sum
        |FROM u JOIN d USING (media_id)
        |ORDER BY media_id""".stripMargin,

    // Mirrors Media.thumbnails' integer NN-resize contract: thumb
    // dims via least(12/w, 12/h, 1.0) IEEE-double box fit (identical
    // rounding in both engines), PNG pixel sum via the pure-integer
    // sample map src((x*w)//tw, (y*h)//th) over pngPx = (sx+sy+id)%256
    "q_media_thumbs" ->
      """WITH img AS (SELECT doc_id AS media_id,
        |  8 + doc_id % 24 AS w, 8 + (doc_id*7) % 16 AS h
        | FROM documents WHERE doc_id % 3 = 0),
        |dims AS (SELECT media_id, w, h,
        |  least(12.0 / w, 12.0 / h, 1.0) AS scale FROM img),
        |t AS (SELECT media_id, w, h,
        |  greatest(1, cast(floor(w * scale) as bigint)) AS tw,
        |  greatest(1, cast(floor(h * scale) as bigint)) AS th FROM dims),
        |px AS (SELECT t.media_id, t.w, t.h, t.tw, t.th,
        |  cast(sum(((x.x * t.w) // t.tw + (y.y * t.h) // t.th + t.media_id) % 256)
        |    as bigint) AS s
        | FROM t, range(12) x(x), range(12) y(y)
        | WHERE x.x < t.tw AND y.y < t.th GROUP BY 1, 2, 3, 4, 5)
        |SELECT media_id, cast(w as int) AS src_w, cast(h as int) AS src_h,
        | cast(tw as int) AS thumb_w, cast(th as int) AS thumb_h,
        | 'jpeg' AS jpeg_kind, cast(tw as int) AS jpeg_w, cast(th as int) AS jpeg_h,
        | s AS png_px_sum
        |FROM px ORDER BY media_id""".stripMargin,

    "q_repetition" ->
      s"""WITH tk AS (SELECT doc_id, $toksSql AS t FROM documents),
         |bg AS (
         | SELECT doc_id, CASE WHEN len(t) >= 2
         |  THEN list_filter(list_transform(t, (x, i) ->
         |        CASE WHEN i < len(t) THEN x || ' ' || t[i+1] END), b -> b IS NOT NULL)
         |  ELSE [] END AS bgs
         | FROM tk),
         |ex AS (SELECT doc_id, unnest(bgs) AS b FROM bg),
         |cnt AS (SELECT doc_id, b, count(*) AS c FROM ex GROUP BY 1, 2),
         |agg AS (SELECT doc_id, cast(sum(c) as bigint) AS n, max(c) AS topc,
         |        count(*) AS nd FROM cnt GROUP BY 1),
         |res AS (
         | SELECT g.doc_id, cast(coalesce(a.n, 0) as int) AS n_bigrams,
         |  CASE WHEN coalesce(a.n, 0) = 0 THEN 0.0
         |   ELSE round(cast(a.topc as double) / a.n, 6) END AS top_bigram_frac,
         |  CASE WHEN coalesce(a.n, 0) = 0 THEN 0.0
         |   ELSE round(1.0 - cast(a.nd as double) / a.n, 6) END AS dup_bigram_frac
         | FROM bg g LEFT JOIN agg a USING (doc_id))
         |SELECT *, top_bigram_frac <= 0.18 AS keep FROM res
         |ORDER BY doc_id""".stripMargin,

    // replays the in-plan link synthesis (same 2-token slices at
    // offset 3k, same (doc_id*7+k) % 100 targets), the per-(target,
    // term) rollup and the top-3 window with identical ties
    "q_anchor_text" ->
      """WITH ks AS (SELECT unnest([0, 1, 2]) AS k),
        |links AS (
        | SELECT (doc_id * 7 + k) % 100 AS target,
        |  unnest(string_split(text, ' ')[(k*3+1):(k*3+2)]) AS term
        | FROM documents, ks),
        |c AS (SELECT target, term, count(*) AS n FROM links GROUP BY 1, 2),
        |r AS (SELECT *, row_number() OVER (
        |  PARTITION BY target ORDER BY n DESC, term) AS rk FROM c)
        |SELECT target, term, n, cast(rk as int) AS rk FROM r
        |WHERE rk <= 3 ORDER BY target, rk""".stripMargin,

    // replays canonicalizeUrl literally (same Java∩RE2 regexes, no
    // backreferences; bytewise param sort = Spark array_sort) plus the
    // keep-best window
    "q_url_dedup" ->
      """WITH u AS (
        | SELECT doc_id, n_chars,
        |  CASE (doc_id // 100) % 5
        |   WHEN 0 THEN 'https://WWW.Example.org:443/docs/page-' || (doc_id % 100) || '?utm_source=feed&b=2&a=1'
        |   WHEN 1 THEN 'https://www.example.org/docs/page-' || (doc_id % 100) || '/?a=1&b=2'
        |   WHEN 2 THEN 'https://www.example.org/docs/page-' || (doc_id % 100) || '?b=2&a=1&fbclid=xyz#frag'
        |   WHEN 3 THEN 'https://www.example.org/docs/page-' || (doc_id % 100) || '?a=1&ref=' || source || '&b=2'
        |   ELSE 'HTTPS://www.example.org/docs/page-' || (doc_id % 100) || '?a=1&b=2'
        |  END AS url
        | FROM documents),
        |nf AS (SELECT doc_id, n_chars, regexp_replace(url, '#.*$', '') AS nf FROM u),
        |parts AS (
        | SELECT doc_id, n_chars,
        |  lower(regexp_extract(nf, '^([A-Za-z][A-Za-z0-9+.-]*)://', 1)) AS scheme,
        |  regexp_extract(regexp_extract(nf, '^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]+)', 1), '^(.*@)', 1)
        |   || lower(regexp_replace(regexp_extract(nf, '^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]+)', 1), '^.*@', '')) AS hostport,
        |  regexp_extract(nf, '^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]+([^?#]*)', 1) AS rawpath,
        |  regexp_extract(nf, '\?([^#]*)', 1) AS rawq
        | FROM nf),
        |canon AS (
        | SELECT doc_id, n_chars,
        |  scheme || '://' ||
        |  CASE WHEN scheme = 'https' THEN regexp_replace(hostport, ':443$', '')
        |       WHEN scheme = 'http' THEN regexp_replace(hostport, ':80$', '')
        |       ELSE hostport END ||
        |  CASE WHEN p2 LIKE '%/' AND length(p2) > 1 THEN substr(p2, 1, length(p2) - 1)
        |       ELSE p2 END ||
        |  CASE WHEN params = '' THEN '' ELSE '?' || params END AS canonical_url
        | FROM (
        |  SELECT *, CASE WHEN rawpath = '' THEN '/' ELSE rawpath END AS p2,
        |   array_to_string(list_sort(list_filter(string_split(rawq, '&'),
        |     p -> p <> '' AND NOT regexp_matches(p, '^(utm_[a-z]+|ref|fbclid|gclid)='))), '&') AS params
        |  FROM parts)),
        |r AS (
        | SELECT *,
        |  row_number() OVER (PARTITION BY canonical_url ORDER BY n_chars DESC, doc_id) AS rn,
        |  count(*) OVER (PARTITION BY canonical_url) AS n_dups
        | FROM canon)
        |SELECT canonical_url, doc_id, n_chars, n_dups FROM r WHERE rn = 1
        |ORDER BY canonical_url""".stripMargin,

    "q_url_parse" ->
      """WITH u AS (
        | SELECT doc_id, 'https://' || source || '.example.org/' || lang || '/doc/'
        |   || doc_id || '?utm_source=feed&ref=' || source || '&page=' || (doc_id % 7) AS url
        | FROM documents)
        |SELECT doc_id,
        | regexp_extract(url, '^https?://([^/?#]+)', 1) AS host,
        | regexp_extract(url, '^https?://[^/?#]+([^?#]*)', 1) AS path,
        | regexp_replace(regexp_replace(regexp_extract(url, '\?([^#]*)', 1),
        |   '(utm_[a-z]+|ref)=[^&]*&?', '', 'g'), '&$', '') AS clean_params
        |FROM u ORDER BY doc_id""".stripMargin,

    "q_shard_assign" ->
      """WITH s AS (
        | SELECT *, ((strpos('0123456789abcdef', substr(md5(cast(doc_id as varchar)), 1, 1)) - 1) * 16
        |   + strpos('0123456789abcdef', substr(md5(cast(doc_id as varchar)), 2, 1)) - 1) % 16 AS shard
        | FROM documents)
        |SELECT cast(shard as int) AS shard, count(*) AS n_docs,
        | cast(sum(cast(n_chars as bigint)) as bigint) AS total_chars,
        | min(doc_id) AS min_doc, max(doc_id) AS max_doc
        |FROM s GROUP BY 1 ORDER BY 1""".stripMargin,

    "q_embed_quantize" ->
      """WITH b AS (
        | SELECT vec_id, embedding,
        |  list_max(list_transform(embedding, x -> abs(cast(x as double)))) AS m
        | FROM embeddings),
        |sc AS (
        | SELECT vec_id, embedding,
        |  CASE WHEN m IS NULL OR m = 0 THEN 1.0 ELSE m / 127.0 END AS scale FROM b),
        |q AS (
        | SELECT vec_id, embedding, scale,
        |  list_transform(embedding,
        |    x -> cast(floor(cast(x as double) / scale + 0.5) as bigint)) AS qv
        | FROM sc)
        |SELECT vec_id, round(scale, 6) AS scale6,
        | cast(len(list_filter(qv, x -> abs(x) = 127)) as int) AS n_sat,
        | cast(list_sum(list_transform(qv, x -> x * x)) as bigint) AS qdot,
        | round(list_max(list_transform(qv,
        |   (x, i) -> abs(x * scale - cast(embedding[i] as double)))), 6) AS max_err6
        |FROM q ORDER BY vec_id""".stripMargin,

    // replays the integer DSIR lift: smoothed per-token target/raw
    // probability ratio in ppm, mean per doc (all terms positive, so
    // // and Spark's div agree)
    "q_dsir_select" ->
      s"""WITH tf AS (
         | SELECT doc_id, lang, tok FROM
         |  (SELECT doc_id, lang, unnest($toksSql) AS tok FROM documents)
         | WHERE length(tok) > 0),
         |counts AS (
         | SELECT tok, count(*) AS cr,
         |  count(*) FILTER (WHERE lang = 'en') AS ct
         | FROM tf GROUP BY tok),
         |tot AS (SELECT sum(cr) AS nr, sum(ct) AS nt FROM counts),
         |gains AS (
         | SELECT tok,
         |  cast(((ct + 1) * 1000000 // (cr + 1)) * nr // (nt + 1) as bigint) AS lift
         | FROM counts, tot),
         |j AS (SELECT tf.doc_id, g.lift FROM tf JOIN gains g USING (tok))
         |SELECT doc_id, count(*) AS n_tokens,
         | cast(sum(lift) // count(*) as bigint) AS mean_lift_ppm,
         | (sum(lift) // count(*)) >= 1000000 AS keep
         |FROM j GROUP BY doc_id
         |ORDER BY doc_id""".stripMargin,

    "q_token_budget" ->
      s"""WITH t AS (
         | SELECT doc_id, cast(len(tk) as int) AS n_tokens,
         |  cast(len(list_distinct(tk)) as bigint) * 1000000 // len(tk) AS diversity_ppm
         | FROM (SELECT doc_id, $toksSql AS tk FROM documents)
         | WHERE NOT (len(tk) = 1 AND tk[1] = '')),
         |c AS (
         | SELECT doc_id, n_tokens, diversity_ppm,
         |  cast(sum(n_tokens) OVER (ORDER BY diversity_ppm DESC, doc_id
         |    ROWS UNBOUNDED PRECEDING) as bigint) AS cum_tokens
         | FROM t)
         |SELECT doc_id, diversity_ppm, n_tokens, cum_tokens
         |FROM c WHERE cum_tokens <= 8000 ORDER BY doc_id""".stripMargin,

    "q_split_leakfree" ->
      s"""WITH RECURSIVE
         |tk AS (SELECT doc_id, $toksSql AS t FROM documents),
         |sh AS (
         | SELECT DISTINCT doc_id, sh FROM (
         |  SELECT doc_id, unnest(CASE WHEN len(t) < 5 THEN [array_to_string(t, ' ')]
         |   ELSE list_filter(list_transform(t, (x, i) ->
         |     CASE WHEN i <= len(t) - 4 THEN array_to_string(t[i:i+4], ' ') END),
         |     g -> g IS NOT NULL) END) AS sh
         |  FROM tk)),
         |keep AS (SELECT sh FROM sh GROUP BY sh HAVING count(*) BETWEEN 2 AND 20),
         |bounded AS (SELECT s.doc_id, s.sh FROM sh s JOIN keep USING (sh)),
         |edges AS (
         | SELECT DISTINCT a.doc_id AS ia, b.doc_id AS ib
         | FROM bounded a JOIN bounded b ON a.sh = b.sh AND a.doc_id < b.doc_id),
         |nodes AS (SELECT DISTINCT node FROM
         | (SELECT ia AS node FROM edges UNION ALL SELECT ib FROM edges)),
         |sym AS (SELECT ia AS src, ib AS dst FROM edges
         |        UNION ALL SELECT ib, ia FROM edges),
         |reach AS (
         | SELECT node, node AS lbl FROM nodes
         | UNION
         | SELECT s.dst AS node, r.lbl FROM reach r JOIN sym s ON s.src = r.node),
         |comp AS (SELECT node, min(lbl) AS component FROM reach GROUP BY 1),
         |assigned AS (
         | SELECT d.doc_id, coalesce(c.component, d.doc_id) AS component
         | FROM documents d LEFT JOIN comp c ON c.node = d.doc_id),
         |drawn AS (
         | SELECT doc_id, component,
         |  ${md5UvalSql("'spl' || cast(component as varchar)")} AS uval
         | FROM assigned)
         |SELECT doc_id, component,
         | CASE WHEN uval < 13421772 THEN 'train'
         |      WHEN uval < 15099494 THEN 'val' ELSE 'test' END AS split
         |FROM drawn ORDER BY doc_id""".stripMargin,

    "q_shingle_clusters" ->
      s"""WITH RECURSIVE
         |tk AS (SELECT doc_id, $toksSql AS t FROM documents),
         |sh AS (
         | SELECT DISTINCT doc_id, sh FROM (
         |  SELECT doc_id, unnest(CASE WHEN len(t) < 5 THEN [array_to_string(t, ' ')]
         |   ELSE list_filter(list_transform(t, (x, i) ->
         |     CASE WHEN i <= len(t) - 4 THEN array_to_string(t[i:i+4], ' ') END),
         |     g -> g IS NOT NULL) END) AS sh
         |  FROM tk)),
         |keep AS (SELECT sh FROM sh GROUP BY sh HAVING count(*) BETWEEN 2 AND 20),
         |bounded AS (SELECT s.doc_id, s.sh FROM sh s JOIN keep USING (sh)),
         |edges AS (
         | SELECT DISTINCT a.doc_id AS ia, b.doc_id AS ib
         | FROM bounded a JOIN bounded b ON a.sh = b.sh AND a.doc_id < b.doc_id),
         |nodes AS (SELECT DISTINCT node FROM
         | (SELECT ia AS node FROM edges UNION ALL SELECT ib FROM edges)),
         |sym AS (SELECT ia AS src, ib AS dst FROM edges
         |        UNION ALL SELECT ib, ia FROM edges),
         |reach AS (
         | SELECT node, node AS lbl FROM nodes
         | UNION
         | SELECT s.dst AS node, r.lbl FROM reach r JOIN sym s ON s.src = r.node)
         |SELECT node, min(lbl) AS component FROM reach GROUP BY 1
         |ORDER BY 1""".stripMargin,

    "q_tfidf_terms" ->
      s"""WITH tk AS (SELECT doc_id, unnest($toksSql) AS term FROM documents),
         |tf AS (SELECT doc_id, term, count(*) AS tf FROM tk GROUP BY 1, 2),
         |dfreq AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
         |n AS (SELECT count(*) AS n FROM documents),
         |scored AS (
         | SELECT doc_id, tf.term, cast(tf * n as double) / df AS score
         | FROM tf JOIN dfreq ON tf.term = dfreq.term CROSS JOIN n),
         |ranked AS (SELECT *, cast(row_number() OVER (PARTITION BY doc_id
         |  ORDER BY score DESC, term) as int) AS rk FROM scored)
         |SELECT doc_id, term, score, rk FROM ranked WHERE rk <= 3
         |ORDER BY doc_id, rk""".stripMargin,

    "q_oov_rate" ->
      s"""WITH tf AS (
         | SELECT doc_id, tok FROM
         |  (SELECT doc_id, unnest($toksSql) AS tok FROM documents)
         | WHERE length(tok) > 0),
         |vocab AS (
         | SELECT tok FROM (SELECT tok, count(*) AS n FROM tf GROUP BY 1
         |                  ORDER BY n DESC, tok LIMIT 500)),
         |joined AS (
         | SELECT tf.doc_id, v.tok AS vtok
         | FROM tf LEFT JOIN vocab v ON tf.tok = v.tok)
         |SELECT doc_id, count(*) AS n_tokens,
         | cast(count(*) FILTER (WHERE vtok IS NULL) as bigint) AS n_oov,
         | (count(*) FILTER (WHERE vtok IS NULL)) * 1000000 // count(*) AS oov_ppm
         |FROM joined GROUP BY doc_id
         |ORDER BY doc_id""".stripMargin,

    // replays the integer surprisal: digits of (total // count) per
    // token, mean per doc in ppm via exact integer division
    "q_token_surprise" ->
      s"""WITH tf AS (
         | SELECT doc_id, tok FROM
         |  (SELECT doc_id, unnest($toksSql) AS tok FROM documents)
         | WHERE length(tok) > 0),
         |n AS (SELECT count(*) AS total FROM tf),
         |costs AS (
         | SELECT tok, length(cast(total // count(*) as varchar)) AS cost
         | FROM tf, n GROUP BY tok, total),
         |j AS (SELECT tf.doc_id, c.cost FROM tf JOIN costs c USING (tok))
         |SELECT doc_id, count(*) AS n_tokens,
         | cast(sum(cost) as bigint) AS total_surprise,
         | cast(sum(cost) as bigint) * 1000000 // count(*) AS mean_surprise_ppm,
         | (cast(sum(cost) as bigint) * 1000000 // count(*)) <= 2500000 AS keep
         |FROM j GROUP BY doc_id
         |ORDER BY doc_id""".stripMargin,

    // replays the add-one-smoothed bigram LM: integer transition cost
    // (c1 + V) // (c12 + 1) per distinct bigram, mean per doc in ppm
    "q_ngram_lm" ->
      s"""WITH dt AS (
         | SELECT doc_id, $toksSql AS t FROM documents
         | WHERE len($toksSql) >= 2),
         |bi AS (
         | SELECT doc_id, unnest(list_filter(list_transform(t, (x, i) ->
         |   CASE WHEN i < len(t) THEN x || ' ' || t[i+1] END),
         |   b -> b IS NOT NULL)) AS bg
         | FROM dt),
         |c12 AS (SELECT bg, count(*) AS c12 FROM bi GROUP BY 1),
         |c1 AS (SELECT split_part(bg, ' ', 1) AS w1, sum(c12) AS c1
         |       FROM c12 GROUP BY 1),
         |v AS (SELECT count(DISTINCT split_part(bg, ' ', 2)) AS v FROM c12),
         |costs AS (
         | SELECT bg, (c1 + v) // (c12 + 1) AS cost
         | FROM c12 JOIN c1 ON split_part(c12.bg, ' ', 1) = c1.w1, v)
         |SELECT doc_id, count(*) AS n_bigrams,
         | cast(sum(cost) as bigint) AS total_cost,
         | cast(sum(cost) as bigint) * 1000000 // count(*) AS mean_cost_ppm,
         | (cast(sum(cost) as bigint) * 1000000 // count(*)) <= 35000000 AS keep
         |FROM bi JOIN costs USING (bg) GROUP BY doc_id
         |ORDER BY doc_id""".stripMargin,

    "q_length_histogram" ->
      """SELECT cast(floor(n_chars / 100) * 100 as int) AS bucket_lo,
        | count(*) AS n_docs, min(n_chars) AS min_chars, max(n_chars) AS max_chars
        |FROM documents GROUP BY 1 ORDER BY 1""".stripMargin,

    "q_media_sniff" ->
      """WITH m AS (
        | SELECT doc_id AS media_id,
        |  CASE cast(doc_id % 3 as int) WHEN 0 THEN 'png' WHEN 1 THEN 'flac' ELSE 'riff' END AS kind,
        |  (CASE cast(doc_id % 3 as int) WHEN 0 THEN 8 ELSE 4 END)
        |    + octet_length(encode(text)) AS n_bytes
        | FROM documents)
        |SELECT kind, count(*) AS n,
        | cast(sum(cast(n_bytes as bigint)) as bigint) AS total_bytes,
        | min(media_id) AS first_id
        |FROM m GROUP BY 1 ORDER BY 1""".stripMargin,

    "q_token_count" ->
      s"""SELECT doc_id,
         | CASE WHEN length($normSql) = 0 THEN 0 ELSE cast(len($toksSql) as int) END AS n_tokens
         |FROM documents ORDER BY doc_id""".stripMargin,

    "q_text_quality" ->
      s"""WITH base AS (
         | SELECT doc_id, text, $normSql AS norm,
         |  CASE WHEN length($normSql) = 0 THEN 0 ELSE cast(len($toksSql) as int) END AS n_tokens,
         |  CASE WHEN length(text) = 0 THEN 0.0
         |   ELSE cast(length(text) - length(regexp_replace(text, '[^a-zA-Z0-9 ]', '', 'g')) as double) / length(text) END AS punct_ratio,
         |  CASE WHEN len($toksSql) = 0 THEN 0.0
         |   ELSE cast(len(list_filter($toksSql, x -> x IN ('the','a','an','and','or','of','to','in','is','it','for','on','with','as','at','by','from','that','this','be'))) as double) / len($toksSql) END AS stop_ratio
         | FROM documents)
         |SELECT doc_id, n_tokens, round(punct_ratio, 6) AS punct_ratio,
         | round(stop_ratio, 6) AS stop_ratio,
         | round(least(cast(n_tokens as double) / 50.0, 1.0) * 0.4
         |  + greatest(0.0, 1.0 - punct_ratio * 5.0) * 0.3
         |  + least(stop_ratio * 5.0, 1.0) * 0.3, 6) AS quality
         |FROM base ORDER BY doc_id""".stripMargin,

    "q_lang_id" ->
      s"""WITH scored AS (
         | SELECT doc_id, lang AS lang_actual,
         |  len(list_filter($toksSql, x -> x IN ('the','and','of','is','with'))) AS s_en,
         |  len(list_filter($toksSql, x -> x IN ('le','la','et','les','des'))) AS s_fr,
         |  len(list_filter($toksSql, x -> x IN ('der','die','und','das','ist'))) AS s_de,
         |  len(list_filter($toksSql, x -> x IN ('el','los','las','una','es'))) AS s_es,
         |  len(list_filter($toksSql, x -> x IN ('de','shi','le','zai','he'))) AS s_zh
         | FROM documents),
         |best AS (SELECT *, greatest(s_en, s_fr, s_de, s_es, s_zh) AS b FROM scored)
         |SELECT doc_id, lang_actual,
         | CASE WHEN s_en = b AND b > 0 THEN 'en'
         |      WHEN s_fr = b AND b > 0 THEN 'fr'
         |      WHEN s_de = b AND b > 0 THEN 'de'
         |      WHEN s_es = b AND b > 0 THEN 'es'
         |      WHEN s_zh = b AND b > 0 THEN 'zh'
         |      ELSE 'und' END AS lang_pred
         |FROM best ORDER BY doc_id""".stripMargin,

    "q_token_bpe" ->
      s"""SELECT doc_id,
         | CASE WHEN length($normSql) = 0 THEN 0 ELSE cast(len($toksSql) as int) END AS n_ws_tokens,
         | cast(len(regexp_extract_all(text, '[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9\\s]+')) as int) AS n_bpe_tokens
         |FROM documents ORDER BY doc_id""".stripMargin,

    "q_fingerprint" ->
      s"""SELECT md5($normSql) AS fp, count(*) AS n_docs, min(doc_id) AS first_doc
         |FROM documents GROUP BY 1 ORDER BY 1""".stripMargin,

    "q_dedup_exact" ->
      s"""SELECT md5($normSql) AS fp, min(doc_id) AS keep_id, count(*) AS n_dups
         |FROM documents GROUP BY 1 ORDER BY 1""".stripMargin,

    "q_dedup_survivors" ->
      s"""WITH fp AS (
         | SELECT doc_id, md5($normSql) AS fp, cast(n_chars as double) AS q
         | FROM documents),
         |w AS (
         | SELECT fp, doc_id, q,
         |  count(*) OVER (PARTITION BY fp) AS n_dups,
         |  row_number() OVER (PARTITION BY fp ORDER BY q DESC, doc_id ASC) AS rk
         | FROM fp),
         |k AS (SELECT fp, doc_id AS keep_id, n_dups FROM w WHERE rk = 1)
         |SELECT f.doc_id, f.fp, k.keep_id, k.n_dups,
         | f.doc_id = k.keep_id AS is_kept
         |FROM fp f JOIN k USING (fp)
         |ORDER BY f.doc_id""".stripMargin,

    "q_dedup_incremental" ->
      s"""WITH fp AS (SELECT doc_id, coalesce(md5($normSql), '__null_text__') AS fp FROM documents),
         |h AS (SELECT fp, min(doc_id) AS hist_id FROM fp WHERE doc_id % 10 < 7 GROUP BY 1),
         |b AS (SELECT doc_id, fp FROM fp WHERE doc_id % 10 >= 7),
         |bm AS (SELECT fp, min(doc_id) AS batch_min FROM b GROUP BY 1)
         |SELECT b.doc_id, b.fp,
         | CASE WHEN h.hist_id IS NOT NULL THEN 'dup_history'
         |      WHEN b.doc_id <> bm.batch_min THEN 'dup_batch'
         |      ELSE 'new' END AS status,
         | coalesce(h.hist_id, bm.batch_min) AS canonical_id
         |FROM b JOIN bm USING (fp) LEFT JOIN h USING (fp)
         |ORDER BY b.doc_id""".stripMargin,

    // replays dedupSentences end-to-end: the same in-plan page wrap,
    // the ". " split with positions, ONE count + ONE first-occurrence
    // rank per sentence (eligibility is a pure function of the unit
    // text, so both ride the sentence partition), the keep rule, and
    // the ordered ". " reassembly. coalesce('') matches Spark's
    // array_join over an all-removed doc.
    "q_dedup_sentence" ->
      """WITH pages AS (
        | SELECT doc_id,
        |  'Subscribe to the ' || source || ' newsletter today. ' ||
        |  substr(text, 1, 60) || '. ' ||
        |  CASE WHEN doc_id % 3 = 0 THEN 'All rights reserved by the operator'
        |       ELSE 'Thanks ' || doc_id END || '. OK' AS page
        | FROM documents),
        |segs AS (
        | SELECT doc_id, unnest(string_split(page, '. ')) AS sent,
        |  generate_subscripts(string_split(page, '. '), 1) - 1 AS pos
        | FROM pages),
        |m AS (
        | SELECT doc_id, pos, sent,
        |  row_number() OVER (PARTITION BY sent ORDER BY doc_id, pos) AS rn,
        |  count(*) OVER (PARTITION BY sent) AS n
        | FROM segs),
        |k AS (SELECT *, (length(sent) < 12 OR n <= 1 OR rn = 1) AS keep FROM m)
        |SELECT doc_id, count(*) AS n_sentences,
        | count(CASE WHEN NOT keep THEN 1 END) AS n_removed,
        | coalesce(string_agg(CASE WHEN keep THEN sent END, '. ' ORDER BY pos), '') AS clean_text
        |FROM k GROUP BY 1 ORDER BY 1""".stripMargin,

    "q_dedup_spans" ->
      s"""WITH t AS (
         | SELECT doc_id, string_split($normSql, ' ') AS toks FROM documents),
         |s AS (
         | SELECT doc_id, i AS pos,
         |  array_to_string(toks[(i*8+1):(i*8+8)], ' ') AS span
         | FROM t, unnest(range(cast(ceil(len(toks) / 8.0) as bigint))) AS u(i)),
         |banned AS (
         | SELECT span FROM s GROUP BY span HAVING count(*) > 1)
         |SELECT s.doc_id,
         | count(*) AS n_spans,
         | count(CASE WHEN b.span IS NOT NULL THEN 1 END) AS n_removed,
         | coalesce(string_agg(CASE WHEN b.span IS NULL THEN s.span END, ' ' ORDER BY s.pos), '') AS clean_text
         |FROM s LEFT JOIN banned b ON s.span = b.span
         |GROUP BY s.doc_id ORDER BY s.doc_id""".stripMargin,

    // replays dedupSubstrings exactly: stride-1 6-grams, corpus-wide
    // repeat ban, +1/−1 difference-array coverage summed doc-locally
    // (deltas order before the token at an equal position via o),
    // islands = removed && !lag(removed)
    "q_dedup_substring" ->
      s"""WITH t AS (
         | SELECT doc_id, string_split($normSql, ' ') AS toks FROM documents),
         |tok AS (
         | SELECT doc_id, i - 1 AS pos, toks[i] AS tok
         | FROM t, unnest(range(1, len(toks) + 1)) AS u(i)),
         |g AS (
         | SELECT doc_id, i - 1 AS gs, array_to_string(toks[i:(i+5)], ' ') AS gram
         | FROM t, unnest(range(1, len(toks) - 6 + 2)) AS u(i)
         | WHERE len(toks) >= 6),
         |rep AS (SELECT gram FROM g GROUP BY gram HAVING count(*) > 1),
         |bans AS (SELECT g.doc_id, g.gs FROM g JOIN rep USING (gram)),
         |ev AS (
         | SELECT doc_id, pos, tok, 0 AS d, 2 AS o FROM tok
         | UNION ALL SELECT doc_id, gs, NULL, 1, 1 FROM bans
         | UNION ALL SELECT doc_id, gs + 6, NULL, -1, 1 FROM bans),
         |cum AS (
         | SELECT doc_id, pos, tok, o,
         |  sum(d) OVER (PARTITION BY doc_id ORDER BY pos, o
         |   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cov
         | FROM ev),
         |tk AS (
         | SELECT doc_id, pos, tok, cov > 0 AS rm,
         |  coalesce(lag(cov > 0) OVER (PARTITION BY doc_id ORDER BY pos), false) AS prev
         | FROM cum WHERE o = 2)
         |SELECT doc_id,
         | count(*) AS n_tokens,
         | count(CASE WHEN rm THEN 1 END) AS n_removed,
         | count(CASE WHEN rm AND NOT prev THEN 1 END) AS n_extents,
         | coalesce(string_agg(CASE WHEN NOT rm THEN tok END, ' ' ORDER BY pos), '') AS clean_text
         |FROM tk GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    "q_dedup_embed" ->
      """SELECT a.vec_id AS id_a, b.vec_id AS id_b,
        | round(
        |  list_sum(list_transform(list_zip(a.embedding, b.embedding), x -> cast(x[1] as double) * cast(x[2] as double)))
        |  / (sqrt(list_sum(list_transform(a.embedding, x -> cast(x as double) * cast(x as double))))
        |   * sqrt(list_sum(list_transform(b.embedding, x -> cast(x as double) * cast(x as double))))), 6) AS cosine
        |FROM embeddings a JOIN embeddings b ON a.label = b.label AND a.vec_id < b.vec_id
        |JOIN (SELECT label FROM embeddings GROUP BY label
        |      HAVING count(*) BETWEEN 2 AND 1000) ok ON a.label = ok.label
        |WHERE list_sum(list_transform(list_zip(a.embedding, b.embedding), x -> cast(x[1] as double) * cast(x[2] as double)))
        |  / (sqrt(list_sum(list_transform(a.embedding, x -> cast(x as double) * cast(x as double))))
        |   * sqrt(list_sum(list_transform(b.embedding, x -> cast(x as double) * cast(x as double))))) >= 0.42
        |ORDER BY id_a, id_b""".stripMargin,

    "q_embed_norm" ->
      """SELECT vec_id, cast(len(embedding) as int) AS dim,
        | round(sqrt(list_sum(list_transform(embedding, x -> cast(x as double) * cast(x as double)))), 6) AS l2_norm,
        | round(list_sum(list_transform(embedding, x -> cast(x as double) * cast(x as double))), 6) AS sq_sum
        |FROM embeddings ORDER BY vec_id""".stripMargin,

    "q_quality_model" ->
      """WITH toks AS (
        | SELECT doc_id,
        |  unnest(string_split(trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9 ]', ' ', 'g'), ' +', ' ', 'g')), ' ')) AS tok
        | FROM documents),
        |f AS (
        | SELECT doc_id,
        |  ((strpos('0123456789abcdef', substr(md5('fh' || tok), 1, 1)) - 1) * 256
        |   + (strpos('0123456789abcdef', substr(md5('fh' || tok), 2, 1)) - 1) * 16
        |   + (strpos('0123456789abcdef', substr(md5('fh' || tok), 3, 1)) - 1)) AS bucket
        | FROM toks WHERE len(tok) > 0),
        |s AS (
        | SELECT doc_id, count(*) AS n_tokens,
        |  cast(sum((bucket * 2654435761) % 2003 - 1001) as bigint) AS sw
        | FROM f GROUP BY 1)
        |SELECT d.doc_id,
        | coalesce(s.n_tokens, 0) AS n_tokens,
        | coalesce(s.sw, 0) + 7 AS score,
        | (coalesce(s.sw, 0) + 7) > 0 AS keep
        |FROM documents d LEFT JOIN s USING (doc_id)
        |ORDER BY d.doc_id""".stripMargin,

    "q_cooccur_pmi" ->
      """WITH raw AS (
        | SELECT doc_id AS doc,
        |  unnest(string_split(trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9 ]', ' ', 'g'), ' +', ' ', 'g')), ' ')) AS tok
        | FROM documents),
        |toks AS (
        | SELECT DISTINCT doc, tok FROM raw WHERE len(tok) > 0),
        |vocab AS (
        | SELECT tok, c FROM (
        |  SELECT tok, c, row_number() OVER (ORDER BY c DESC, tok) AS rk
        |  FROM (SELECT tok, count(*) AS c FROM toks GROUP BY 1))
        | WHERE rk <= 40),
        |nd AS (SELECT count(DISTINCT doc) AS n_docs FROM toks),
        |kept AS (SELECT doc, tok FROM toks JOIN vocab USING (tok)),
        |pairs AS (
        | SELECT a.tok AS tok_a, b.tok AS tok_b, count(*) AS c_xy
        | FROM kept a JOIN kept b ON a.doc = b.doc AND a.tok < b.tok
        | GROUP BY 1, 2 HAVING count(*) >= 3)
        |SELECT tok_a, tok_b, c_xy, va.c AS c_x, vb.c AS c_y, nd.n_docs,
        | ((c_xy * 1000000) // va.c) * nd.n_docs // vb.c AS lift_ppm
        |FROM pairs
        | JOIN vocab va ON tok_a = va.tok
        | JOIN vocab vb ON tok_b = vb.tok, nd
        |ORDER BY tok_a, tok_b""".stripMargin,

    "q_embed_robust" ->
      """WITH g AS (
        | SELECT CASE WHEN max(list_max(list_transform(embedding, x -> abs(cast(x as double))))) > 0
        |  THEN max(list_max(list_transform(embedding, x -> abs(cast(x as double))))) / 127.0
        |  ELSE 1.0 END AS gscale
        | FROM embeddings),
        |e AS (
        | SELECT cast(generate_subscripts(embedding, 1) - 1 as bigint) AS dim,
        |  unnest(embedding) AS x
        | FROM embeddings),
        |cells AS (
        | SELECT dim, cast(floor(cast(x as double) / g.gscale + 0.5) as bigint) AS q,
        |  count(*) AS cnt
        | FROM e, g GROUP BY 1, 2),
        |cum AS (
        | SELECT dim, q, cnt,
        |  sum(cnt) OVER (PARTITION BY dim ORDER BY q
        |   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS c,
        |  sum(cnt) OVER (PARTITION BY dim) AS n
        | FROM cells),
        |pct AS (
        | SELECT dim, cast(max(n) as bigint) AS n,
        |  min(CASE WHEN c >= ceil(0.25 * n) THEN q END) AS p25,
        |  min(CASE WHEN c >= ceil(0.50 * n) THEN q END) AS median,
        |  min(CASE WHEN c >= ceil(0.75 * n) THEN q END) AS p75
        | FROM cum GROUP BY 1)
        |SELECT cells.dim, max(pct.n) AS n, max(p25) AS p25,
        | max(median) AS median, max(p75) AS p75,
        | max(p75 - p25) AS iqr,
        | cast(sum(CASE WHEN cells.q * 2 < p25 * 2 - (p75 - p25) * 3
        |   OR cells.q * 2 > p75 * 2 + (p75 - p25) * 3
        |  THEN cells.cnt ELSE 0 END) as bigint) AS n_outliers
        |FROM cells JOIN pct ON cells.dim = pct.dim
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    "q_ann_quantized" ->
      """WITH base AS (
        | SELECT vec_id, embedding,
        |  list_max(list_transform(embedding, x -> abs(cast(x as double)))) AS m
        | FROM embeddings),
        |sq AS (
        | SELECT vec_id,
        |  CASE WHEN m IS NULL OR m = 0 THEN 1.0 ELSE m / 127.0 END AS s,
        |  list_transform(embedding, x -> cast(floor(cast(x as double)
        |    / (CASE WHEN m IS NULL OR m = 0 THEN 1.0 ELSE m / 127.0 END) + 0.5) as bigint)) AS qv
        | FROM base),
        |p AS (
        | SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
        |  cast(list_sum(list_transform(list_zip(c.qv, q.qv), z -> z[1] * z[2])) as double)
        |    * c.s * q.s AS score
        | FROM sq c CROSS JOIN (SELECT * FROM sq WHERE vec_id < 3) q
        | WHERE c.vec_id <> q.vec_id),
        |r AS (SELECT *, row_number() OVER (PARTITION BY query_id
        |       ORDER BY score DESC, neighbor_id) AS rk FROM p)
        |SELECT query_id, neighbor_id, round(score, 6) AS qscore, cast(rk as int) AS rk
        |FROM r WHERE rk <= 5 ORDER BY query_id, rk""".stripMargin,

    // zero-plane LSH == brute force by construction (one bucket ->
    // candidates = all pairs), so the twin shares the brute oracle.
    "q_ann_lsh_verify" ->
      """WITH q AS (SELECT vec_id AS query_id, embedding AS qv FROM embeddings WHERE vec_id < 3),
        | pairs AS (
        |  SELECT q.query_id, e.vec_id AS neighbor_id,
        |   list_sum(list_transform(list_zip(q.qv, e.embedding),
        |     p -> cast(p[1] as double) * cast(p[2] as double)))
        |   / (sqrt(list_sum(list_transform(q.qv, x -> cast(x as double) * cast(x as double))))
        |    * sqrt(list_sum(list_transform(e.embedding, x -> cast(x as double) * cast(x as double))))) AS cosine
        |  FROM embeddings e CROSS JOIN q WHERE e.vec_id <> q.query_id),
        | ranked AS (SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS rk FROM pairs)
        |SELECT query_id, neighbor_id, round(cosine, 6) AS cosine, cast(rk as int) AS rk
        |FROM ranked WHERE rk <= 5 ORDER BY query_id, rk""".stripMargin,

    "q_stream_asof" ->
      """WITH clicks AS (
        | SELECT event_id, user_id, cast(ts as timestamp) AS tts
        | FROM events WHERE event_type = 'click'),
        |purchases AS (
        | SELECT user_id AS p_user, cast(ts as timestamp) AS p_tts,
        |  min(event_id) AS purchase_id, arg_min(value, event_id) AS p_value
        | FROM events WHERE event_type = 'purchase' GROUP BY 1, 2)
        |SELECT c.event_id, c.user_id, p.purchase_id, round(p.p_value, 4) AS p_value
        |FROM clicks c ASOF LEFT JOIN purchases p
        |  ON c.user_id = p.p_user AND c.tts >= p.p_tts
        |ORDER BY c.event_id""".stripMargin,

    // exhaustive-probe IVF == brute force by construction (every cell
    // probed -> candidates = corpus), so the twin shares the oracle.
    "q_ann_ivf_verify" ->
      """WITH q AS (SELECT vec_id AS query_id, embedding AS qv FROM embeddings WHERE vec_id < 3),
        | pairs AS (
        |  SELECT q.query_id, e.vec_id AS neighbor_id,
        |   list_sum(list_transform(list_zip(q.qv, e.embedding),
        |     p -> cast(p[1] as double) * cast(p[2] as double)))
        |   / (sqrt(list_sum(list_transform(q.qv, x -> cast(x as double) * cast(x as double))))
        |    * sqrt(list_sum(list_transform(e.embedding, x -> cast(x as double) * cast(x as double))))) AS cosine
        |  FROM embeddings e CROSS JOIN q WHERE e.vec_id <> q.query_id),
        | ranked AS (SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS rk FROM pairs)
        |SELECT query_id, neighbor_id, round(cosine, 6) AS cosine, cast(rk as int) AS rk
        |FROM ranked WHERE rk <= 5 ORDER BY query_id, rk""".stripMargin,

    "q_ann_bruteforce" ->
      """WITH q AS (SELECT vec_id AS query_id, embedding AS qv FROM embeddings WHERE vec_id < 3),
        | pairs AS (
        |  SELECT q.query_id, e.vec_id AS neighbor_id,
        |   list_sum(list_transform(list_zip(q.qv, e.embedding),
        |     p -> cast(p[1] as double) * cast(p[2] as double)))
        |   / (sqrt(list_sum(list_transform(q.qv, x -> cast(x as double) * cast(x as double))))
        |    * sqrt(list_sum(list_transform(e.embedding, x -> cast(x as double) * cast(x as double))))) AS cosine
        |  FROM embeddings e CROSS JOIN q WHERE e.vec_id <> q.query_id),
        | ranked AS (SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS rk FROM pairs)
        |SELECT query_id, neighbor_id, round(cosine, 6) AS cosine, cast(rk as int) AS rk
        |FROM ranked WHERE rk <= 5 ORDER BY query_id, rk""".stripMargin,

    // replays the in-plan markup wrap, then the identical extraction
    // chain: script/style elements (with content) -> comments -> tags
    // -> entity decode (base entities, then the NCR chain gated on a
    // '&#' containment probe, then the &-producing forms LAST — the
    // replace sequences are GENERATED from the same Cleaning constants
    // the Spark plan folds over, so the two sides cannot
    // desynchronize) -> whitespace collapse. Regex constructs
    // restricted to the dialect intersection (inline (?is), non-greedy
    // .*?, \b, the explicit whitespace class) so Java and RE2 agree
    // byte-for-byte.
    "q_html_extract" ->
      s"""WITH h AS (
        | SELECT doc_id,
        |  '<html><head><title>Doc ' || cast(doc_id as varchar) || '</title>' ||
        |  '<style type="text/css">p{margin:0} .nav{color:#888}</style>' ||
        |  '<script>var t = 1; if (t < 2) { track("&amp;"); }</script>' ||
        |  '</head><body><!-- nav boilerplate --><p id="main">' || text ||
        |  '</p><br><a href="https://example.com/' || cast(doc_id as varchar) ||
        |  '">&lt;more&gt; &amp; info</a>' ||
        |  '<p>NCR &#72;ello &#x77;orld &#38;#60; &#9999; &amp;#35;</p>' ||
        |  '</body></html>' AS html
        | FROM documents),
        |e0 AS (
        | SELECT doc_id, html,
        |  regexp_replace(
        |     regexp_replace(
        |      regexp_replace(
        |       regexp_replace(html, '(?is)<script\\b[^>]*>.*?</script>', ' ', 'g'),
        |       '(?is)<style\\b[^>]*>.*?</style>', ' ', 'g'),
        |      '(?s)<!--.*?-->', ' ', 'g'),
        |     '(?s)<[^>]*>', ' ', 'g') AS stripped
        | FROM h),
${decodeCtesSql("x", "e0", "stripped", Seq("html"))},
        |e AS (
        | SELECT doc_id, html,
        |  trim(regexp_replace(__dec,
        |   '[ \\t\\n\\f\\r\\x0B]+', ' ', 'g')) AS main_text
        | FROM xd)
        |SELECT doc_id, main_text,
        | cast(length(html) as int) AS n_chars_html,
        | cast(length(main_text) as int) AS n_chars_main
        |FROM e ORDER BY doc_id""".stripMargin,

    // replays the q_main_content wrap, then the identical block
    // classifier: strip script/style/comments, split on the SAME
    // block-tag pattern (regexp_split_to_array keeps interior empty
    // fragments exactly like Java's split with limit -1; the trailing
    // fragment is non-empty by construction), score each block's
    // cleaned text length and anchor-text share with the identical
    // integer cross-multiplied rule, join survivors, then the shared
    // decode CTEs + whitespace collapse. n_blocks/n_kept pin the
    // classification itself, not just the surviving text.
    "q_main_content" -> {
      val ws = "'[ \\t\\n\\f\\r\\x0B]+'"
      def clean(in: String) =
        s"trim(regexp_replace(regexp_replace($in, '(?s)<[^>]*>', ' ', 'g'), $ws, ' ', 'g'))"
      val noA = "regexp_replace(b, '(?is)<a\\b[^>]*>.*?</a>', ' ', 'g')"
      s"""WITH h AS (
         | SELECT doc_id,
         |  '<html><head><title>Doc ' || cast(doc_id as varchar) || '</title>' ||
         |  '<style>.nav{display:flex}</style>' ||
         |  '<script>menu("<div class=''x''>");</script></head><body>' ||
         |  '<nav><ul><li><a href="/">Home</a></li><li><a href="/about">About us</a></li><li><a href="/contact">Contact</a></li></ul></nav>' ||
         |  '<header><h1>Site ' || cast(doc_id as varchar) || '</h1></header>' ||
         |  '<!-- ad slot --><div class="content"><p>' || text || '</p>' ||
         |  '<p>Appendix ' || cast(doc_id as varchar) ||
         |  ': methods &#38; &#109;aterials &#8212; see <a href="/fig">figure one</a> for the full layout, procedures and calibration details.</p></div>' ||
         |  '<div class="related">Related: <a href="/a">first related article</a> <a href="/b">second related article</a></div>' ||
         |  '<footer><a href="/privacy">Privacy</a> | <a href="/terms">Terms</a> | copyright 2026</footer></body></html>' AS html
         | FROM documents),
         |st AS (
         | SELECT doc_id, regexp_replace(regexp_replace(regexp_replace(html,
         |   '(?is)<script\\b[^>]*>.*?</script>', ' ', 'g'),
         |   '(?is)<style\\b[^>]*>.*?</style>', ' ', 'g'),
         |   '(?s)<!--.*?-->', ' ', 'g') AS nc
         | FROM h),
         |bl AS (
         | SELECT doc_id, regexp_split_to_array(nc,
         |   '${graft.operators.Cleaning.BlockTagSplit}') AS blocks
         | FROM st),
         |sc AS (
         | SELECT doc_id, cast(len(blocks) as int) AS n_blocks,
         |  list_filter(list_transform(blocks, b -> struct_pack(
         |    t := ${clean("b")},
         |    u := ${clean(noA)})),
         |   s -> length(s.t) >= 30
         |    AND (length(s.t) - length(s.u)) * 100 <= length(s.t) * 33) AS kept
         | FROM bl),
         |j AS (
         | SELECT doc_id, n_blocks, cast(len(kept) as int) AS n_kept,
         |  array_to_string(list_transform(kept, s -> s.t), ' ') AS joined
         | FROM sc),
${decodeCtesSql("mc", "j", "joined", Seq("n_blocks", "n_kept"))}
         |SELECT doc_id,
         | trim(regexp_replace(__dec, $ws, ' ', 'g')) AS main_text,
         | n_blocks, n_kept
         |FROM mcd ORDER BY doc_id""".stripMargin
    },

    "q_corpus_filter" ->
      s"""WITH base AS (
         | SELECT doc_id, lang, md5($normSql) AS fp,
         |  CASE WHEN length($normSql) = 0 THEN 0 ELSE cast(len($toksSql) as int) END AS n_tokens,
         |  CASE WHEN length(text) = 0 THEN 0.0
         |   ELSE cast(length(text) - length(regexp_replace(text, '[^a-zA-Z0-9 ]', '', 'g')) as double) / length(text) END AS punct_ratio,
         |  CASE WHEN len($toksSql) = 0 THEN 0.0
         |   ELSE cast(len(list_filter($toksSql, x -> x IN ('the','a','an','and','or','of','to','in','is','it','for','on','with','as','at','by','from','that','this','be'))) as double) / len($toksSql) END AS stop_ratio,
         |  len(list_filter($toksSql, x -> x IN ('the','and','of','is','with'))) AS s_en,
         |  len(list_filter($toksSql, x -> x IN ('le','la','et','les','des'))) AS s_fr,
         |  len(list_filter($toksSql, x -> x IN ('der','die','und','das','ist'))) AS s_de,
         |  len(list_filter($toksSql, x -> x IN ('el','los','las','una','es'))) AS s_es,
         |  len(list_filter($toksSql, x -> x IN ('de','shi','le','zai','he'))) AS s_zh
         | FROM documents),
         |flags AS (
         | SELECT doc_id, lang, fp,
         |  (CASE WHEN s_en = greatest(s_en,s_fr,s_de,s_es,s_zh) AND greatest(s_en,s_fr,s_de,s_es,s_zh) > 0 THEN 'en'
         |        WHEN s_fr = greatest(s_en,s_fr,s_de,s_es,s_zh) AND greatest(s_en,s_fr,s_de,s_es,s_zh) > 0 THEN 'fr'
         |        WHEN s_de = greatest(s_en,s_fr,s_de,s_es,s_zh) AND greatest(s_en,s_fr,s_de,s_es,s_zh) > 0 THEN 'de'
         |        WHEN s_es = greatest(s_en,s_fr,s_de,s_es,s_zh) AND greatest(s_en,s_fr,s_de,s_es,s_zh) > 0 THEN 'es'
         |        WHEN s_zh = greatest(s_en,s_fr,s_de,s_es,s_zh) AND greatest(s_en,s_fr,s_de,s_es,s_zh) > 0 THEN 'zh'
         |        ELSE 'und' END) = lang AS lang_ok,
         |  (least(cast(n_tokens as double) / 50.0, 1.0) * 0.4
         |   + greatest(0.0, 1.0 - punct_ratio * 5.0) * 0.3
         |   + least(stop_ratio * 5.0, 1.0) * 0.3) >= 0.5 AS q_ok
         | FROM base),
         |canon AS (SELECT fp, min(doc_id) AS keep_id FROM flags GROUP BY 1)
         |SELECT lang, count(*) AS n_docs,
         | cast(sum(CASE WHEN is_canonical AND lang_ok AND q_ok THEN 1 ELSE 0 END) as bigint) AS n_kept,
         | cast(sum(CASE WHEN NOT is_canonical THEN 1 ELSE 0 END) as bigint) AS n_dup_dropped,
         | cast(sum(CASE WHEN is_canonical AND NOT lang_ok THEN 1 ELSE 0 END) as bigint) AS n_lang_dropped,
         | cast(sum(CASE WHEN is_canonical AND lang_ok AND NOT q_ok THEN 1 ELSE 0 END) as bigint) AS n_quality_dropped
         |FROM (SELECT f.*, f.doc_id = c.keep_id AS is_canonical FROM flags f JOIN canon c USING (fp))
         |GROUP BY 1 ORDER BY 1""".stripMargin,

    "q_stream_window" ->
      """SELECT strftime(date_trunc('hour', cast(ts as timestamp)), '%Y-%m-%d %H:%M:%S') AS bucket_start,
        | event_type, count(*) AS n_events,
        | round(cast(sum(cast(value as decimal(28,15))) as double), 4) AS value_sum
        |FROM events GROUP BY 1,2 ORDER BY 1,2""".stripMargin,

    "q_stream_interval" ->
      """SELECT p.event_id AS purchase_id, c.event_id AS click_id, c.user_id,
        | strftime(cast(c.ts as timestamp), '%Y-%m-%d %H:%M:%S') AS click_ts,
        | strftime(cast(p.ts as timestamp), '%Y-%m-%d %H:%M:%S') AS purchase_ts,
        | round(p.value, 4) AS purchase_value
        |FROM events c JOIN events p
        | ON c.user_id = p.user_id
        | AND c.event_type = 'click' AND p.event_type = 'purchase'
        | AND cast(c.ts as timestamp) <= cast(p.ts as timestamp)
        | AND cast(c.ts as timestamp) >= cast(p.ts as timestamp) - INTERVAL 2 HOUR
        |ORDER BY purchase_id, click_id""".stripMargin)
}
