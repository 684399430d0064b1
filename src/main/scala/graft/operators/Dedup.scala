package graft.operators

import graft.Materialize
import graft.functions.HashFunctions.{minhashSig, simhash64}
import graft.functions.TextFunctions._
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Deduplication family for corpus-scale pipelines.
  *
  * Every variant avoids the O(n²) trap at 100 TB:
  *  - exact:    hash groupBy (one shuffle on the content hash)
  *  - minhash:  LSH banding — pairs only form inside a band bucket
  *  - simhash:  block-permutation buckets (pigeonhole on 16-bit blocks)
  *  - ngram:    candidate gating by (length bucket, rare-prefix) before
  *              any pairwise Jaccard
  *
  * Shuffle discipline: bucket shuffles carry ONLY (bucket key, doc id)
  * — signatures/shingle sets are re-joined by id for the (few)
  * surviving candidate pairs, so the wide payload never rides the
  * quadratic-prone path. Sketches (MinHashSig/SimHash64) are one-pass
  * native Catalyst expressions, not per-element HOF lambdas.
  */
object Dedup {

  /** Corpus-row count above which [[embedCosine]] pins its verify
    * joins to shuffle (merge) instead of letting the planner broadcast
    * the id→vector sides. Measured at both ends on the 64-dim
    * embeddings corpus: at 2k rows the broadcast plan is ~1.8× faster
    * end-to-end (the merge pin costs ~10 extra scheduled stages that
    * dominate at toy scale), at 400k rows the broadcast builds OOM an
    * 8g driver while the 40M-pair aggregates hold the execution pool.
    * 64k rows × ~300 B/vector ≈ 20 MB hashed — the last size where a
    * broadcast build is comfortably sub-problem-sized. */
  val BroadcastSafeCorpusRows: Long = 65536

  /** Exact dedup on normalized content: keep the smallest id per
    * fingerprint. One shuffle; survivor choice is a min aggregation,
    * not a window, so it partial-aggregates map-side. */
  def exact(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.withColumn("fp", fingerprint(col(textCol)))
      .groupBy(col("fp"))
      .agg(min(col(idCol)).as(idCol), count(lit(1)).as("n_dups"))

  /** Incremental exact dedup: triage a NEW batch against an already-
    * indexed history — the corpus-UPDATE pattern (a crawl refresh, a
    * nightly ingest) where re-deduping 100 TB of history per batch is
    * the thing a production pipeline must never do. Only fingerprints
    * of the history move: the history side reduces to one (fp,
    * min id) row per distinct content BEFORE the join (map-side
    * combined), the batch resolves within itself the same way, and
    * the verdict is one left join on fp. History text is never
    * re-shuffled; at scale the (fp, id) index would be a persisted
    * bucketed table this join co-locates with.
    *
    * Per batch doc: `status` = 'dup_history' (content already
    * indexed) | 'dup_batch' (first seen in this batch, but not this
    * row) | 'new'; `canonical_id` = the doc everything downstream
    * should rewrite to (history winner, else batch winner, else
    * itself).
    *
    * NULL text fingerprints to a sentinel, not NULL: the verdict join
    * is on fp, and a NULL key matches nothing — null-text batch docs
    * would silently get NO verdict, contradicting the one-row-per-
    * batch-doc contract (and diverging from [[exact]], whose groupBy
    * keeps the null-fp group). With the sentinel, all null-text docs
    * form one content group, the same grouping [[exact]] gives them. */
  def incrementalExact(history: DataFrame, batch: DataFrame,
                       idCol: String, textCol: String): DataFrame =
    incrementalExactIndexed(exactIndex(history, idCol, textCol),
      batch, idCol, textCol)

  private val fpOf = (c: Column) => coalesce(fingerprint(c), lit("__null_text__"))

  /** The PERSISTABLE (fp, hist_id) content index [[incrementalExact]]
    * re-derives from history text on every call — exposed so a
    * deployment writes it ONCE as a parquet target ([[Targets]]) and
    * every subsequent ingest reads it back instead of re-fingerprinting
    * the corpus: the measured 0.39 history-axis wall exponent
    * (SCALE_r10 incremental_dedup_history_axis) is exactly that
    * rebuild; against a read-back index only the ~40 B/doc index rows
    * move. Refresh after an ingest with [[exactIndexUpdated]] — the
    * reference's Luigi parquet-target reuse (impc_etl/workflow/main
    * .py:1), re-expressed as index state. */
  def exactIndex(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.select(fpOf(col(textCol)).as("fp"), col(idCol).cast("long").as("__hid"))
      .groupBy("fp").agg(min(col("__hid")).as("hist_id"))

  /** [[incrementalExact]] against a prebuilt [[exactIndex]] (verdicts
    * identical by construction — the non-indexed form delegates here).
    * O(batch) work plus one narrow scan of the index — no history
    * text is ever read; at warehouse scale the index is a bucketed
    * table this fp-join co-locates with. */
  def incrementalExactIndexed(index: DataFrame, batch: DataFrame,
                              idCol: String, textCol: String): DataFrame = {
    val b = batch.select(col(idCol).cast("long").as(idCol),
      fpOf(col(textCol)).as("fp"))
    val bIdx = b.groupBy("fp").agg(min(col(idCol)).as("__batch_min"))
    b.join(bIdx, Seq("fp"))
      .join(index.select(col("fp"), col("hist_id").as("__hist_id")),
        Seq("fp"), "left")
      .select(col(idCol), col("fp"),
        when(col("__hist_id").isNotNull, lit("dup_history"))
          .when(col(idCol) =!= col("__batch_min"), lit("dup_batch"))
          .otherwise(lit("new")).as("status"),
        // for 'new' rows the batch winner IS the row itself
        coalesce(col("__hist_id"), col("__batch_min")).as("canonical_id"))
  }

  /** Post-ingest index refresh: the next night's [[exactIndex]] from
    * the current index plus the batch — one narrow union + min, no
    * history text. Equal to exactIndex(history ∪ batch) because min
    * distributes over the union (spec-proven). */
  def exactIndexUpdated(index: DataFrame, batch: DataFrame,
                        idCol: String, textCol: String): DataFrame =
    index.select(col("fp"), col("hist_id"))
      .unionByName(exactIndex(batch, idCol, textCol))
      .groupBy("fp").agg(min(col("hist_id")).as("hist_id"))

  /** All unordered in-bucket pairs from a sorted id list column. */
  private def bucketPairs(docsCol: Column): Column =
    explode(flatten(
      transform(sequence(lit(0), size(docsCol) - 2), i =>
        transform(sequence(i + 1, size(docsCol) - 1), j =>
          struct(element_at(docsCol, i + 1).as("id_a"),
                 element_at(docsCol, j + 1).as("id_b"))))))

  /** Exact Jaccard over two shingle-set columns. */
  private def jaccard(a: Column, b: Column): Column =
    size(array_intersect(a, b)).cast("double") / size(array_union(a, b)).cast("double")

  /** Bucket membership lists from exploded (bucket key → id) rows:
    * one sorted id list per bucket, singletons dropped. Only ids
    * shuffle. Split from [[pairsFromLists]] so a caller can account
    * for capped buckets (see [[minhashPrunedJaccard]]) without a
    * second bucket shuffle. */
  private[graft] def bucketLists(banded: DataFrame, keyCols: Seq[String],
                                 idCol: String): DataFrame =
    banded.groupBy(keyCols.map(col): _*)
      .agg(sort_array(collect_set(col(idCol))).as("ids"))
      .filter(size(col("ids")) >= 2)

  /** In-bucket candidate pairs from [[bucketLists]] output, buckets
    * past `maxBucket` dropped (the pathological-bucket cap). */
  private[graft] def pairsFromLists(lists: DataFrame, maxBucket: Int): DataFrame =
    lists.filter(size(col("ids")) <= maxBucket)
      .select(bucketPairs(col("ids")).as("p"))
      .select(col("p.id_a"), col("p.id_b"))
      .dropDuplicates("id_a", "id_b")

  /** Candidate (id_a, id_b) pairs from exploded (bucket key → id)
    * rows: group to sorted id lists, cap pathological buckets,
    * emit in-bucket pairs, dedup. Only ids shuffle. */
  private[graft] def pairsFromBuckets(banded: DataFrame, keyCols: Seq[String], idCol: String,
                                      maxBucket: Int): DataFrame =
    pairsFromLists(bucketLists(banded, keyCols, idCol), maxBucket)

  /** Join shingle sets back onto candidate pairs and keep those with
    * jaccard >= threshold. Shingles are compared as xxhash64 longs —
    * 8-byte equality instead of UTF8 string compares, and an 8x
    * lighter join payload; hash collisions shift Jaccard by O(1e-15),
    * irrelevant at near-dup thresholds. */
  private def verifyJaccard(pairs: DataFrame, sh: DataFrame, idCol: String,
                            threshold: Double): DataFrame = {
    val hashed = sh.select(col(idCol),
      array_distinct(transform(col("__sh"), s => xxhash64(s))).as("__sh"))
    val a = hashed.select(col(idCol).as("id_a"), col("__sh").as("sh_a"))
    val b = hashed.select(col(idCol).as("id_b"), col("__sh").as("sh_b"))
    pairs.join(a, "id_a").join(b, "id_b")
      .withColumn("jaccard", jaccard(col("sh_a"), col("sh_b")))
      .filter(col("jaccard") >= threshold)
      .select(col("id_a"), col("id_b"), round(col("jaccard"), 6).as("jaccard"))
  }

  /** MinHash + LSH banding near-dup pairs, verified with exact Jaccard
    * over the shingle sets. Returns (id_a, id_b, jaccard) with
    * id_a < id_b, jaccard >= threshold.
    *
    * Config change (r13): non-divisible (numHashes, bands) configs now
    * FAIL the require below where they previously silently floored
    * rows = numHashes / bands (dropping the trailing hashes from every
    * band — a quietly different recall curve than the one asked for).
    * All in-repo callers use 32/8 or 32/16; an external caller relying
    * on the old flooring must pick a divisible config explicitly. */
  def minHashLsh(df: DataFrame, idCol: String, textCol: String,
                 shingleN: Int = 3, numHashes: Int = 32, bands: Int = 8,
                 threshold: Double = 0.7, maxBucket: Int = 1000): DataFrame = {
    require(numHashes % bands == 0, "bands must divide numHashes")
    Materialize.scoped { s =>
      // cached: the banding branch and the Jaccard-verify branch both
      // read it — without the cache the tokenize+shingle+minhash scan
      // (the dominant narrow stage) runs twice
      val sig = s.cache(df.select(col(idCol), tokens(col(textCol)).as("__toks"))
        .select(col(idCol), array_distinct(shinglesOfTokens(col("__toks"), shingleN)).as("__sh"))
        .withColumn("minhash", minhashSig(col("__sh"), numHashes)))

      val banded = bandBuckets(sig, idCol, numHashes, bands)

      val pairs = pairsFromBuckets(banded, Seq("band", "bh"), idCol, maxBucket)
      // materialize the (tiny) verified pairs eagerly; the signature
      // cache must not outlive the call (a long session running many
      // dedups would otherwise accumulate executor memory)
      Materialize.checkpoint(verifyJaccard(pairs, sig.select(col(idCol), col("__sh")),
        idCol, threshold))
    }
  }

  /** LSH band buckets from a `minhash` signature column: each of the
    * `bands` row-slices hashes to one (band, bh) bucket key per doc.
    * The ONE definition of the banding scheme — [[minHashLsh]] and
    * [[minhashPrunedJaccard]] both ride it, so a change to the slice
    * hashing can never desynchronize the two entry points. */
  private def bandBuckets(sig: DataFrame, idCol: String,
                          numHashes: Int, bands: Int): DataFrame = {
    val rows = numHashes / bands
    sig.select(col(idCol),
        explode(array((0 until bands).map(b =>
          struct(lit(b).as("band"),
            xxhash64(slice(col("minhash"), b * rows + 1, rows)).as("bh"))): _*)).as("lsh"))
      .select(col(idCol), col("lsh.band"), col("lsh.bh"))
  }

  /** 64-bit SimHash signature column (one-pass native expression). */
  def withSimHash(df: DataFrame, textCol: String): DataFrame =
    df.withColumn("simhash", simhash64(tokens(col(textCol))))

  /** Block-permutation near-dup pairing over ANY precomputed simhash-
    * style signature column: the `bits`-wide signature is cut into
    * `blocks` equal blocks; candidates form only where a whole block
    * matches (pigeonhole: hamming < blocks ⇒ at least one block equal,
    * so recall is EXACT for maxHamming <= blocks-1, up to the bucket
    * cap); candidates are verified with the true hamming distance.
    * Factored out of [[simHashDups]] so an engine-portable signature
    * (see [[simhashPortable]]) can ride the identical machinery. */
  def simHashOnSig(sig: DataFrame, idCol: String, sigCol: String,
                   bits: Int = 64, blocks: Int = 4,
                   maxHamming: Int = 3, maxBucket: Int = 1000): DataFrame = {
    require(bits % blocks == 0, "bits must divide evenly into blocks")
    val w = bits / blocks
    require(w <= 62, "block width must fit a positive long")
    val mask = (1L << w) - 1
    val blocked = sig.select(col(idCol),
        explode(array((0 until blocks).map(b => struct(lit(b).as("blk"),
          shiftright(col(sigCol), b * w).bitwiseAND(mask).as("bh"))): _*)).as("l"))
      .select(col(idCol), col("l.blk"), col("l.bh"))

    val pairs = pairsFromBuckets(blocked, Seq("blk", "bh"), idCol, maxBucket)
    val a = sig.select(col(idCol).as("id_a"), col(sigCol).as("h_a"))
    val b = sig.select(col(idCol).as("id_b"), col(sigCol).as("h_b"))
    pairs.join(a, "id_a").join(b, "id_b")
      .withColumn("hamming", bit_count(col("h_a").bitwiseXOR(col("h_b"))).cast("long"))
      .filter(col("hamming") <= maxHamming)
      .select(col("id_a"), col("id_b"), col("hamming"))
  }

  /** SimHash near-dup pairs with hamming distance <= maxHamming (< 4
    * guaranteed found by pigeonhole over four 16-bit blocks). */
  def simHashDups(df: DataFrame, idCol: String, textCol: String,
                  maxHamming: Int = 3, maxBucket: Int = 1000): DataFrame =
    simHashOnSig(withSimHash(df, textCol).select(col(idCol), col("simhash")),
      idCol, "simhash", bits = 64, blocks = 4,
      maxHamming = maxHamming, maxBucket = maxBucket)

  /** Engine-PORTABLE 60-bit simhash signature: per-token hash = first
    * 15 hex chars of md5 (60 bits — fits a signed long on any engine),
    * bit b of the signature set when the signed vote sum over token
    * OCCURRENCES (duplicates vote once each, standard simhash
    * weighting) is positive. Functionally identical to
    * [[withSimHash]]'s xxhash64 signature, but every step (md5, hex,
    * shifts, sums) exists verbatim in other SQL engines — which is
    * what lets `q_dedup_simhash_verify` hash-compare the WHOLE
    * simhash family (signature + block buckets + pigeonhole recall +
    * hamming verify) against an independent brute-force oracle.
    * Production pipelines should prefer the one-pass native
    * [[withSimHash]]; this exists to prove it.
    *
    * Dataflow: ONE narrow codegen'd pass per row (the
    * [[graft.functions.Md5SimHash60]] expression — md5 per token,
    * 60-bit vote pack) — zero shuffles for the signature. The
    * spec proves the expression's token hash is bit-identical to
    * `conv(substring(md5(t),1,15),16,10)`, the form the SQL oracle
    * replays. */
  def simhashPortable(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.select(col(idCol),
      graft.functions.HashFunctions.md5simhash60(tokens(col(textCol))).as("sig"))

  /** Brute-force exact-Jaccard pairs — the VERIFICATION twin of the
    * gated generators ([[minHashLsh]]/[[ngramJaccard]]): every pair in
    * the (bounded!) universe goes through the same hashed-shingle
    * [[verifyJaccard]] core with no probabilistic gate, so an
    * independent SQL oracle brute-forcing string-shingle Jaccard must
    * reproduce it exactly. Deliberately NOT a production path — the
    * all-pairs candidate set is quadratic; callers bound the universe
    * (oracle scale or a capped sample) and the require() enforces it. */
  def bruteForceJaccard(df: DataFrame, idCol: String, textCol: String,
                        shingleN: Int, threshold: Double,
                        maxDocs: Int = 2000): DataFrame = {
    Materialize.scoped { s =>
      val sh = s.cache(df.select(col(idCol), tokens(col(textCol)).as("__toks"))
        .select(col(idCol), array_distinct(shinglesOfTokens(col("__toks"), shingleN)).as("__sh")))
      require(sh.count() <= maxDocs,
        s"bruteForceJaccard is verification-scale only (cap $maxDocs docs)")
      val pairs = pairsFromBuckets(
        sh.select(lit(0).as("__all"), col(idCol)), Seq("__all"), idCol,
        maxBucket = maxDocs)
      Materialize.checkpoint(verifyJaccard(pairs, sh, idCol, threshold))
    }
  }

  /** Embedding-cosine near-dup pairs with CAPPED block-key candidate
    * generation: candidates only form inside a (blockCol) bucket, and
    * buckets larger than `maxBlock` are dropped (the same discipline
    * as every other generator here — an unbounded hot block, e.g. one
    * dominant language label at corpus scale, would otherwise go
    * quadratic). Only (block, id) rides the candidate shuffle; the
    * wide embedding vectors are re-joined by id for surviving pairs.
    * Returns (id_a < id_b, cosine >= threshold).
    *
    * LOUD drop gate: unlike the minhash/simhash band caps (where an
    * oversized bucket is a spam cluster and dropping it is the point),
    * an oversized block HERE means the blocking key is undersized for
    * the corpus — every row it drops is dedup work silently skipped,
    * the fixed-k failure mode [[Cluster.kForCorpus]] exists to
    * prevent. When more than `maxDroppedRowFrac` of the non-null rows
    * sit in capped-out blocks, this throws with the measured drop
    * instead of returning a quietly-empty result; pass
    * maxDroppedRowFrac >= 1.0 to accept drops explicitly. The gate
    * costs one (block)-keyed count aggregation — the same shuffle
    * shape the pair generator itself runs. */
  def embedCosine(df: DataFrame, idCol: String, vecCol: String, blockCol: String,
                  threshold: Double, maxBlock: Int = 1000,
                  maxDroppedRowFrac: Double = 0.05): DataFrame = {
    import graft.functions.VectorFunctions
    // NULL block keys never pair (groupBy would otherwise collect all
    // NULL-labeled rows into ONE bucket — the equi-join semantics this
    // generator replaces exclude NULLs)
    val blocked = df.select(col(blockCol), col(idCol)).filter(col(blockCol).isNotNull)
    // one (block)-keyed count aggregation serves BOTH the drop gate
    // and the join-strategy pin below — the same shuffle shape the
    // pair generator itself runs. A caller who opted OUT of the gate
    // (maxDroppedRowFrac >= 1.0) pays only the plain row count the
    // pin needs, not the per-block rollup.
    val (total, dropped, biggest) =
      if (maxDroppedRowFrac < 1.0) {
        val r = blocked.groupBy(col(blockCol)).agg(count(lit(1)).as("n"))
          .agg(coalesce(sum(col("n")), lit(0L)),
            coalesce(sum(when(col("n") > maxBlock, col("n"))), lit(0L)),
            coalesce(max(col("n")), lit(0L))).head()
        (r.getLong(0), r.getLong(1), r.getLong(2))
      } else (blocked.count(), 0L, 0L)
    if (maxDroppedRowFrac < 1.0) {
      if (total > 0 && dropped.toDouble / total > maxDroppedRowFrac)
        throw new IllegalStateException(
          f"embedCosine: $dropped of $total rows (${100.0 * dropped / total}%.1f%%) " +
            s"sit in blocks larger than maxBlock=$maxBlock (largest=$biggest) and " +
            "would be silently excluded from candidate generation — the blocking " +
            "key is undersized for this corpus. Re-block with more cells (k-means " +
            "blocking: k = Cluster.kForCorpus(n, targetCellSize)), raise maxBlock, " +
            "or pass maxDroppedRowFrac >= 1.0 to accept the drop.")
    }
    val pairs = pairsFromBuckets(blocked, Seq(blockCol), idCol, maxBlock)
    // Past BroadcastSafeCorpusRows every side of the verify joins is
    // a driver-OOM liability — the candidate pairs (cells x C(cell,2)
    // rows) and the id→vector tables (n rows x dim floats) all scale
    // with the corpus, so merge hints pin shuffle joins (measured on
    // the 400k-vector two-level corpus: the un-hinted plan broadcast
    // the vector sides three ways and the builds OOM'd an 8g driver
    // while the 40M-pair aggregates held the execution pool). Below
    // the pin the planner/AQE keeps the broadcast plan — ~1.8× faster
    // end-to-end at 2k vectors, where the merge pin's extra stages
    // dominate.
    val pin = total > BroadcastSafeCorpusRows
    def side(n: String, v: String) = {
      val s = df.select(col(idCol).as(n), col(vecCol).as(v))
      if (pin) s.hint("merge") else s
    }
    val a = side("id_a", "emb_a")
    val b = side("id_b", "emb_b")
    val dot = VectorFunctions.vecDot(col("emb_a"), col("emb_b"))
    val na = sqrt(VectorFunctions.vecDot(col("emb_a"), col("emb_a")))
    val nb = sqrt(VectorFunctions.vecDot(col("emb_b"), col("emb_b")))
    pairs.join(a, "id_a").join(b, "id_b")
      .withColumn("cosine", dot / (na * nb))
      .filter(col("cosine") >= threshold)
      .select(col("id_a"), col("id_b"), round(col("cosine"), 6).as("cosine"))
  }

  /** n-gram Jaccard near-dup with candidate gating: only documents in
    * the same (token-count bucket, min-shingle-hash band) are
    * compared — a cheap literal analog of prefix filtering. */
  def ngramJaccard(df: DataFrame, idCol: String, textCol: String,
                   shingleN: Int = 3, threshold: Double = 0.5,
                   maxBucket: Int = 1000): DataFrame = {
    Materialize.scoped { s =>
      val sh = s.cache(df.select(col(idCol), tokens(col(textCol)).as("__toks"))
        .select(col(idCol), array_distinct(shinglesOfTokens(col("__toks"), shingleN)).as("__sh")))
      // candidates = docs sharing their minimum shingle hash (a 1-hash
      // MinHash: P[shared min] ≈ jaccard, so real near-dups gate in and
      // unrelated docs land in distinct buckets) within a length band
      val gated = sh.select(col(idCol),
        (size(col("__sh")) / 10).cast("int").as("lenb"),
        array_min(transform(col("__sh"), s => xxhash64(s))).as("pref"))
      val pairs = pairsFromBuckets(gated, Seq("lenb", "pref"), idCol, maxBucket)
      Materialize.checkpoint(verifyJaccard(pairs, sh, idCol, threshold))
    }
  }

  /** EXACT set-similarity self-join via PREFIX FILTERING — the
    * PPJoin/AllPairs candidate rule (Xiao et al., WWW'08; public
    * algorithm): returns EVERY pair whose shingle-set Jaccard clears
    * `threshold`, unlike the probabilistic minhash/simhash/ngram
    * generators whose recall is < 1 by construction. The filter is
    * lossless: under ANY global token order, two sets with
    * J(A,B) ≥ τ must collide inside their (s − ⌈τ·s⌉ + 1)-prefixes —
    * if the prefixes were disjoint, even matching everything OUTSIDE
    * both prefixes leaves J < τ. Ordering by ascending document
    * frequency puts the RAREST shingles in the prefixes, so candidate
    * buckets track near-dup cluster sizes, not corpus size.
    *
    * Scale shape (the whole point vs brute force):
    *  - one (shingle)-keyed count for the global order — vocabulary-
    *    sized, map-side combined;
    *  - the rank window shuffles (doc, shingle, df) once on the doc id;
    *    only the ⌈(1−τ)·s⌉+1 prefix shingles per doc continue;
    *  - candidates form ONLY inside a prefix-shingle bucket
    *    ([[pairsFromBuckets]] — ids-only shuffle);
    *  - the length filter (J ≥ τ ⇒ min(sa,sb) ≥ τ·max(sa,sb)) prunes
    *    on narrow (id, size) joins BEFORE the wide set join;
    *  - exact Jaccard runs on surviving pairs only, over raw shingle
    *    strings (not xxhash64) so an oracle can replay it verbatim.
    *
    * LOUD completeness gate: [[pairsFromBuckets]] drops buckets past
    * `maxBucket` — sound for the probabilistic family (an oversized
    * bucket is a spam cluster), but HERE a dropped bucket silently
    * breaks the operator's exactness contract. If the largest prefix
    * bucket exceeds the cap this throws with the measured size instead
    * of returning an incomplete pair set (remedies: raise τ so
    * prefixes shrink, raise maxBucket, or pre-dedup the exact-dup spam
    * cluster the bucket is). The gate costs one (shingle)-keyed count —
    * the same shuffle shape the pair generator itself runs. */
  def prefixFilterJaccard(df: DataFrame, idCol: String, textCol: String,
                          shingleN: Int = 3, threshold: Double = 0.5,
                          maxBucket: Int = 10000): DataFrame = {
    require(threshold > 0.0 && threshold <= 1.0,
      s"threshold must be in (0, 1], got $threshold")
    // the exactness-critical bounds below are computed in INTEGER
    // arithmetic at ppm resolution: ceil(τ·s) via double can land one
    // ULP high exactly when τ·s is an integer (τ=0.5, s even), which
    // would shorten the prefix by one shingle and silently drop a
    // qualifying pair — the one failure mode a lossless filter must
    // not have. τ is snapped to ppm once at the boundary — FLOOR, not
    // round: the candidate gates must run at a threshold ≤ τ (gate
    // looser ⇒ candidate superset ⇒ still lossless vs the exact final
    // `jaccard >= threshold` filter), whereas rounding UP (τ=2/3 →
    // 666667 ppm) makes the length filter stricter than the final
    // filter and drops a pair with J exactly τ (|A|=2 ⊂ |B|=3:
    // 2·1e6 < 666667·3 prunes, yet 2/3 ≥ τ passes). Every subsequent
    // bound is exact 64-bit (s ≤ shingles/doc, so s·tPpm ≤ ~1e12 «
    // 2^63).
    val tPpm = math.floor(threshold * 1e6).toLong
    Materialize.scoped { s =>
      val sh = s.cache(df.select(col(idCol), tokens(col(textCol)).as("__toks"))
        .select(col(idCol), array_distinct(shinglesOfTokens(col("__toks"), shingleN)).as("__sh")))
      // materializes the cache (sh feeds candidate gen AND both verify
      // sides) and sizes the verify-join pin below in one cheap job
      val nRows = sh.count()
      val ex = sh.select(col(idCol), size(col("__sh")).as("__s"),
        explode(col("__sh")).as("__g"))
      val dfreq = ex.groupBy("__g").agg(count(lit(1)).as("__df"))
      // global order (df asc, shingle asc) — deterministic, rarest first
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(idCol).orderBy(col("__df"), col("__g"))
      // vocabulary scales with the corpus: both sides shuffle on the
      // shingle (merge pin — the static planner's aggregate estimate
      // would broadcast a corpus-scaling build)
      val prefix = ex.join(dfreq.hint("merge"), "__g")
        .withColumn("__rk", row_number().over(w))
        // prefix length = s - ceil(τ·s) + 1, ceil in exact integers:
        // ceil(s·tPpm / 1e6) = (s·tPpm + 999999) div 1e6
        .filter(expr(s"__rk <= __s - ((__s * ${tPpm}L + 999999) div 1000000) + 1"))
      // ONE (shingle)-keyed shuffle serves the completeness gate, the
      // in-bucket pair generation AND the length filter: buckets carry
      // (id, set size) structs, sorted by id (ids are unique, so the
      // struct sort IS the id sort)
      val buckets = s.cache(prefix.groupBy("__g")
        .agg(sort_array(collect_set(struct(col(idCol).as("id"), col("__s").as("s")))).as("ids"))
        .filter(size(col("ids")) >= 2))
      val biggest = buckets.agg(coalesce(max(size(col("ids"))), lit(0))).head().getInt(0)
      if (biggest > maxBucket)
        throw new IllegalStateException(
          s"prefixFilterJaccard: largest prefix bucket has $biggest docs > maxBucket=$maxBucket; " +
            "dropping it would break the exact-result contract. Raise threshold (shorter " +
            "prefixes), raise maxBucket, or exact-dedup the spam cluster first.")
      // in-bucket pairs with the PPJoin LENGTH FILTER applied during
      // generation (J ≥ τ ⇒ min(sa,sb) ≥ τ·max(sa,sb)): sizes ride the
      // bucket structs, so no join ever touches a pruned pair
      val pairStructs = flatten(
        transform(sequence(lit(0), size(col("ids")) - 2), i =>
          transform(sequence(i + 1, size(col("ids")) - 1), j =>
            struct(element_at(col("ids"), i + 1).getField("id").as("id_a"),
                   element_at(col("ids"), j + 1).getField("id").as("id_b"),
                   element_at(col("ids"), i + 1).getField("s").as("sa"),
                   element_at(col("ids"), j + 1).getField("s").as("sb")))))
      val pairs = buckets.select(explode(pairStructs).as("p"))
        .select(col("p.id_a"), col("p.id_b"), col("p.sa"), col("p.sb"))
        // PPJoin length filter in the same exact integers: J ≥ τ ⇒
        // min·1e6 ≥ tPpm·max (no division, no floats)
        .filter(least(col("sa"), col("sb")).cast("long") * lit(1000000L)
          >= lit(tPpm) * greatest(col("sa"), col("sb")).cast("long"))
        .dropDuplicates("id_a", "id_b")
      // raw-string set compare (NOT verifyJaccard's xxhash64 payload):
      // replayable bit-for-bit by an ANSI oracle. |union| = sa + sb − |∩|
      // — the carried sizes spare the array_union pass. Join strategy
      // pinned by measured corpus size, the embedCosine rule: past
      // BroadcastSafeCorpusRows the id→shingle-set sides are driver-OOM
      // liabilities → merge; below it AQE's broadcast plan wins.
      val pin = nRows > BroadcastSafeCorpusRows
      def side(n: String, v: String) = {
        val s = sh.select(col(idCol).as(n), col("__sh").as(v))
        if (pin) s.hint("merge") else s
      }
      Materialize.checkpoint(pairs
        .join(side("id_a", "sh_a"), "id_a").join(side("id_b", "sh_b"), "id_b")
        .withColumn("__i", size(array_intersect(col("sh_a"), col("sh_b"))))
        .withColumn("jaccard",
          col("__i").cast("double") / (col("sa") + col("sb") - col("__i")).cast("double"))
        .filter(col("jaccard") >= threshold)
        .select(col("id_a"), col("id_b"), round(col("jaccard"), 6).as("jaccard")))
    }
  }

  /** EXACT set-CONTAINMENT join — the asymmetric sibling of
    * [[prefixFilterJaccard]] that Jaccard structurally misses: a short
    * document quoted inside a much longer one has tiny Jaccard (the
    * union is the long doc) but containment |A∩B| / |A| ≈ 1. This is
    * the quote/subset detector a pretraining corpus runs next to
    * near-dup (a doc wholly contained in another is redundant even
    * when the big doc survives).
    *
    * Returns (id_a < id_b, containment) where containment =
    * |∩| / min(|Sa|,|Sb|) ≥ τ — the smaller side's coverage by the
    * larger. Lossless candidate rule (the ssjoin containment variant
    * of the PPJoin prefix filter): if C(min→max) ≥ τ then at most
    * s − ceil(τ·s) of the SMALLER doc's s shingles miss the other
    * set, so at least one of its s − ceil(τ·s) + 1 rarest shingles
    * (global df-asc order, the prefixFilterJaccard order) is shared —
    * and since the candidate bucket carries the FULL shingle list of
    * every doc, that bucket surfaces the pair. Candidates therefore
    * form in (prefix(smaller) × full(other)) bucket pairs; all bounds
    * run in the same exact ppm integers as prefixFilterJaccard (τ
    * snapped FLOOR to ppm; ceil via (s·τppm + 999999) div 1e6).
    *
    * Scale shape & cost honesty: unlike the Jaccard prefix filter
    * (both sides shuffle only prefixes), containment needs the full
    * inverted index on one side — that is inherent to the asymmetric
    * predicate (no length filter exists: a 10-shingle doc CAN be
    * contained in a 10k-shingle one). Bucket size = shingle document
    * frequency; the same LOUD gate as prefixFilterJaccard throws if
    * the largest bucket exceeds `maxBucket` rather than silently
    * breaking the exactness contract (remedy: drop stop-shingles past
    * a df ceiling first, or raise the cap). */
  def containmentPairs(df: DataFrame, idCol: String, textCol: String,
                       shingleN: Int = 3, threshold: Double = 0.8,
                       maxBucket: Int = 10000): DataFrame = {
    require(threshold > 0.0 && threshold <= 1.0,
      s"threshold must be in (0, 1], got $threshold")
    val tPpm = math.floor(threshold * 1e6).toLong
    Materialize.scoped { s =>
      val sh = s.cache(df.select(col(idCol), tokens(col(textCol)).as("__toks"))
        .select(col(idCol), array_distinct(shinglesOfTokens(col("__toks"), shingleN)).as("__sh")))
      val nRows = sh.count()
      val ex = sh.select(col(idCol), size(col("__sh")).as("__s"),
        explode(col("__sh")).as("__g"))
      val dfreq = ex.groupBy("__g").agg(count(lit(1)).as("__df"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(idCol).orderBy(col("__df"), col("__g"))
      // every occurrence rides the bucket (the full inverted index);
      // the prefix FLAG, not a prefix filter, marks the rarest
      // s − ceil(τ·s) + 1 entries per doc
      val flagged = ex.join(dfreq.hint("merge"), "__g")
        .withColumn("__rk", row_number().over(w))
        .withColumn("__p",
          expr(s"__rk <= __s - ((__s * ${tPpm}L + 999999) div 1000000) + 1"))
      val buckets = s.cache(flagged.groupBy("__g")
        .agg(sort_array(collect_set(struct(col(idCol).as("id"),
          col("__s").as("s"), col("__p").as("p")))).as("ids"))
        .filter(size(col("ids")) >= 2))
      val biggest = buckets.agg(coalesce(max(size(col("ids"))), lit(0))).head().getInt(0)
      if (biggest > maxBucket)
        throw new IllegalStateException(
          s"containmentPairs: largest shingle bucket has $biggest docs > maxBucket=$maxBucket; " +
            "dropping it would break the exact-result contract. Strip stop-shingles past a df " +
            "ceiling first, or raise maxBucket.")
      val pairStructs = flatten(
        transform(sequence(lit(0), size(col("ids")) - 2), i =>
          transform(sequence(i + 1, size(col("ids")) - 1), j =>
            struct(element_at(col("ids"), i + 1).getField("id").as("id_a"),
                   element_at(col("ids"), j + 1).getField("id").as("id_b"),
                   element_at(col("ids"), i + 1).getField("s").as("sa"),
                   element_at(col("ids"), j + 1).getField("s").as("sb"),
                   element_at(col("ids"), i + 1).getField("p").as("pa"),
                   element_at(col("ids"), j + 1).getField("p").as("pb")))))
      val pairs = buckets.select(explode(pairStructs).as("p"))
        .select(col("p.id_a"), col("p.id_b"), col("p.sa"), col("p.sb"),
          col("p.pa"), col("p.pb"))
        // lossless keep rule: the smaller side's entry must be one of
        // its prefix shingles (ties: either side qualifies)
        .filter((col("sa") <= col("sb") && col("pa")) ||
          (col("sb") <= col("sa") && col("pb")))
        .dropDuplicates("id_a", "id_b")
      val pin = nRows > BroadcastSafeCorpusRows
      def side(n: String, v: String) = {
        val s = sh.select(col(idCol).as(n), col("__sh").as(v))
        if (pin) s.hint("merge") else s
      }
      // final filter on the exact rational (i / min is one IEEE division
      // of two integers — engine-reproducible), the prefixFilterJaccard
      // discipline: the ppm constant gates only the lossless candidate
      // bounds, where FLOOR keeps them a superset
      Materialize.checkpoint(pairs
        .join(side("id_a", "sh_a"), "id_a").join(side("id_b", "sh_b"), "id_b")
        .withColumn("__i", size(array_intersect(col("sh_a"), col("sh_b"))))
        .withColumn("containment", col("__i").cast("double") /
          least(col("sa"), col("sb")).cast("double"))
        .filter(col("containment") >= threshold)
        .select(col("id_a"), col("id_b"),
          round(col("containment"), 6).as("containment")))
    }
  }

  /** The 100 TB configuration of the near-dup slot: MinHash/LSH
    * banding PRUNES the candidate space, the prefix filter's exact
    * raw-string Jaccard re-scores the survivors — same output schema
    * and same bit-exact `jaccard` values as [[prefixFilterJaccard]]
    * (raw-string `array_intersect`, |union| = sa + sb − |∩|, round 6),
    * so the two strategies are interchangeable behind a config flag
    * (see `QueriesPipeline.curateManifest(nearDupStrategy)`).
    *
    * Why this is the scale path: the lossless prefix filter shuffles
    * every document's rarest ~(1−τ)·s shingles — the bucket shuffle
    * grows with corpus text. LSH banding shuffles a FIXED-WIDTH
    * signature (numHashes longs/doc) regardless of document length,
    * and the band-bucket pair space is far sparser than prefix-shingle
    * buckets on non-duplicate text. The price is probabilistic recall
    * at the threshold margin: at the 32-hash/16-band (rows=2) default,
    * pair recall is 1−(1−J²)¹⁶ ≥ 0.99 at J = 0.5 and →1 above it
    * (the `q_dedup_minhash_verify` configuration, where measured
    * recall on the test corpus is exact). CurateStrategySpec asserts
    * the pruned survivor set EQUALS the lossless one on the test
    * corpus; the ×32 A/B row in SCALE_r{N} measures the bucket-shuffle
    * reduction.
    *
    * Dataflow: one persisted tokenize+shingle+minhash pass feeds the
    * banding branch and both re-score sides; banding is one
    * (band, bucket)-keyed shuffle of 8-byte hashes; the re-score join
    * is pinned merge past [[BroadcastSafeCorpusRows]] (same rule as
    * the lossless path). */
  def minhashPrunedJaccard(df: DataFrame, idCol: String, textCol: String,
                           shingleN: Int = 3, threshold: Double = 0.5,
                           numHashes: Int = 32, bands: Int = 16,
                           maxBucket: Int = 10000): DataFrame = {
    require(numHashes % bands == 0, "bands must divide numHashes")
    Materialize.scoped { s =>
      val sh = s.cache(df.select(col(idCol), tokens(col(textCol)).as("__toks"))
        .select(col(idCol),
          array_distinct(shinglesOfTokens(col("__toks"), shingleN)).as("__sh"))
        .withColumn("__s", size(col("__sh"))))
      val nRows = sh.count() // materializes the cache, sizes the join pin
      val banded = bandBuckets(
        sh.withColumn("minhash", minhashSig(col("__sh"), numHashes)),
        idCol, numHashes, bands)
      // bucket lists persist for ONE extra pass that ACCOUNTS for the
      // pathological-bucket cap instead of silently eating it: a dropped
      // LSH bucket is a real recall-loss mode (a dense >maxBucket
      // near-dup cluster loses its in-bucket pairs), distinct from the
      // banding probability — the lossless twin THROWS in the analogous
      // case, so the pruned path must at least be loud. Since r14 the
      // numbers ALSO ride the returned frame as the named
      // NearDupDropObservation (withDropMetric), landing in bench/scale
      // artifacts next to spill instead of only a stderr line.
      val buckets = s.cache(bucketLists(banded, Seq("band", "bh"), idCol))
      val (db, dr, mx) = dropStats(buckets, maxBucket)
      warnDrops(db, dr, mx, maxBucket, "minhashPrunedJaccard")
      val pairs = pairsFromLists(buckets, maxBucket)
      val pin = nRows > BroadcastSafeCorpusRows
      def reScoreSide(n: String, shName: String, sName: String) = {
        val s = sh.select(col(idCol).as(n), col("__sh").as(shName),
          col("__s").as(sName))
        if (pin) s.hint("merge") else s
      }
      val result = Materialize.checkpoint(pairs
        .join(reScoreSide("id_a", "sh_a", "sa"), "id_a")
        .join(reScoreSide("id_b", "sh_b", "sb"), "id_b")
        .withColumn("__i", size(array_intersect(col("sh_a"), col("sh_b"))))
        .withColumn("jaccard",
          col("__i").cast("double") / (col("sa") + col("sb") - col("__i")).cast("double"))
        .filter(col("jaccard") >= threshold)
        .select(col("id_a"), col("id_b"), round(col("jaccard"), 6).as("jaccard")))
      withDropMetric(result, db, dr, mx)
    }
  }

  /** The 100 TB configuration of the ASYMMETRIC containment slot
    * (VERDICT r15 next-round #5): [[containmentPairs]] is lossless
    * but rides the FULL inverted index on one side — its bucket
    * shuffle grows with corpus text. This sibling prunes candidates
    * with single-value minhash collisions (banding at ONE ROW PER
    * BAND: bands = numHashes), then re-scores survivors with the
    * exact containment rational — same output schema and bit-exact
    * `containment` values as the lossless path, so the two are
    * interchangeable behind a strategy config (the
    * minhashPrunedJaccard pattern).
    *
    * Why rows=1 banding: containment pairs are asymmetric — a quote
    * contained in a 10× larger host has Jaccard ≈ |A|/|B| ≈ 0.1, so
    * multi-row bands (which need ALL rows of some band equal,
    * P=J^rows) would miss exactly the pairs this operator exists for.
    * A single shared minhash VALUE happens with P = J per hash, so
    * the catch probability is 1−(1−J)^numHashes — ≥ 0.96 at J = 0.1
    * with 32 hashes, degrading only toward extreme size ratios
    * (J = 0.03 → 0.62). That recall boundary is the documented trade;
    * the shuffle in exchange is numHashes 8-byte values per doc,
    * FIXED-WIDTH regardless of document length.
    *
    * Dataflow: one persisted tokenize+shingle+minhash pass feeds the
    * banding branch and both re-score sides; candidate generation is
    * one (pos, value)-keyed shuffle; capped buckets are loud
    * (stderr + the NearDupDropObservation riding the result); the
    * re-score join is merge-pinned past [[BroadcastSafeCorpusRows]].
    *
    * Returns (id_a, id_b, containment) like [[containmentPairs]]. */
  def minhashPrunedContainment(df: DataFrame, idCol: String, textCol: String,
                               shingleN: Int = 3, threshold: Double = 0.8,
                               numHashes: Int = 32,
                               maxBucket: Int = 10000): DataFrame = {
    require(threshold > 0.0 && threshold <= 1.0,
      s"threshold must be in (0, 1], got $threshold")
    Materialize.scoped { s =>
      val sh = s.cache(df.select(col(idCol), tokens(col(textCol)).as("__toks"))
        .select(col(idCol),
          array_distinct(shinglesOfTokens(col("__toks"), shingleN)).as("__sh"))
        .withColumn("__s", size(col("__sh"))))
      val nRows = sh.count()
      // bands = numHashes -> one hash per band: a single shared minhash
      // value anywhere in the signature makes a candidate
      val banded = bandBuckets(
        sh.withColumn("minhash", minhashSig(col("__sh"), numHashes)),
        idCol, numHashes, bands = numHashes)
      val buckets = s.cache(bucketLists(banded, Seq("band", "bh"), idCol))
      val (db, dr, mx) = dropStats(buckets, maxBucket)
      warnDrops(db, dr, mx, maxBucket, "minhashPrunedContainment")
      val pairs = pairsFromLists(buckets, maxBucket)
      val pin = nRows > BroadcastSafeCorpusRows
      def reScoreSide(n: String, shName: String, sName: String) = {
        val s = sh.select(col(idCol).as(n), col("__sh").as(shName),
          col("__s").as(sName))
        if (pin) s.hint("merge") else s
      }
      val result = Materialize.checkpoint(pairs
        .join(reScoreSide("id_a", "sh_a", "sa"), "id_a")
        .join(reScoreSide("id_b", "sh_b", "sb"), "id_b")
        .withColumn("__i", size(array_intersect(col("sh_a"), col("sh_b"))))
        .withColumn("containment", col("__i").cast("double") /
          least(col("sa"), col("sb")).cast("double"))
        .filter(col("containment") >= threshold)
        .select(col("id_a"), col("id_b"),
          round(col("containment"), 6).as("containment")))
      withDropMetric(result, db, dr, mx)
    }
  }

  /** Exact dedup with a SURVIVOR POLICY and rewrite map: one row per
    * input document carrying the canonical `keep_id` of its content
    * group — the table downstream references are rewritten through.
    * The survivor is the group's best-quality doc (ties → smallest
    * id), not blindly the smallest id as in [[exact]]: in a real
    * corpus the duplicates differ in metadata and you keep the best.
    *
    * One fingerprint shuffle; the per-group argmax is a max_by-style
    * struct-max aggregation (partial-combines map-side, no window
    * sort), re-joined to the exploded membership — both sides keyed by
    * the fingerprint, so AQE plans the small aggregated side broadcast
    * at dimension-ish cardinalities. */
  def exactSurvivors(df: DataFrame, idCol: String, textCol: String,
                     qualityCol: String): DataFrame = {
    val fp = df.select(col(idCol), fingerprint(col(textCol)).as("fp"),
      col(qualityCol).cast("double").as("__q"))
    // struct max orders by (quality, -id): greatest quality, then
    // smallest id — negation flips the id tie to a minimum
    val winners = fp.groupBy("fp")
      .agg(max(struct(col("__q"), (-col(idCol)).as("__negid"))).as("__w"),
        count(lit(1)).as("n_dups"))
      .select(col("fp"), (-col("__w.__negid")).cast("long").as("keep_id"),
        col("n_dups"))
    fp.join(winners, "fp")
      .select(col(idCol), col("fp"), col("keep_id"), col("n_dups"),
        (col(idCol) === col("keep_id")).as("is_kept"))
  }

  /** C4-style SPAN dedup: remove every fixed-size token span that
    * occurs more than `maxOccur` times corpus-wide, keeping the rest
    * of each document intact (C4 removed any 3-sentence span seen
    * twice; with no sentence boundaries in the corpus this is the
    * token-window generalization). Unlike document-level dedup
    * (exact/minhash/…), this deletes boilerplate INSIDE otherwise
    * unique documents — the op that strips cookie banners and license
    * headers from a crawl.
    *
    * Dataflow: tokenize → non-overlapping `spanTokens` windows (the
    * trailing partial window included) → posexplode → corpus-wide span
    * frequency (one shuffle, map-side combine — the count stream is
    * (span, 1), never the document) → left join spans against the
    * over-frequency set (only spans with count > maxOccur survive the
    * HAVING, so the build side is the BOILERPLATE set, typically tiny
    * → AQE broadcasts it; a 64-bit span-hash join key would halve the
    * shuffle bytes but trades oracle-exactness for a 2^-64 false ban)
    * → reassemble per doc (one groupBy(id) with an order-restoring
    * sort_array — spans re-concatenate in position order regardless of
    * partitioning). Three shuffles total, all linear in corpus size;
    * nothing pairwise, nothing driver-side.
    */
  def dedupSpans(df: DataFrame, idCol: String, textCol: String,
                 spanTokens: Int = 8, maxOccur: Long = 1): DataFrame = {
    require(spanTokens >= 1, "spanTokens must be >= 1")
    val k = lit(spanTokens)
    // posexplode_outer, NOT posexplode: the inner form makes Catalyst
    // infer a `size(arr)>0 AND isnotnull(arr)` filter BELOW the
    // Generate that re-derives the whole tokenize+window chain per row
    // in an interpreted Filter (measured 3-6x on this op). The arrays
    // here are never empty (split yields >= 1 token), so the only
    // outer artifact is a null-span row for null text — dropped by the
    // cheap post-Generate filter on the GENERATED column.
    val spans = df
      .select(col(idCol), tokens(col(textCol)).as("__toks"))
      .select(col(idCol),
        transform(sequence(lit(0), ceil(size(col("__toks")) / k.cast("double")).cast("int") - 1),
          i => array_join(slice(col("__toks"), i * k + 1, lit(spanTokens)), " ")).as("__spans"))
      .select(col(idCol), posexplode_outer(col("__spans")).as(Seq("pos", "span")))
      .filter(col("span").isNotNull)
    val banned = spans.groupBy("span").agg(count(lit(1)).as("__n"))
      .filter(col("__n") > maxOccur)
      .select(col("span"), lit(true).as("__banned"))
    spans.join(banned, Seq("span"), "left")
      .withColumn("__keep", col("__banned").isNull)
      .groupBy(col(idCol))
      .agg(
        count(lit(1)).as("n_spans"),
        count(when(!col("__keep"), 1)).as("n_removed"),
        array_join(
          transform(sort_array(collect_list(when(col("__keep"),
            struct(col("pos"), col("span"))))), s => s("span")),
          " ").as("clean_text"))
  }

  /** Arbitrary-length EXACT-SUBSTRING dedup (VERDICT r15 next-round
    * #4 — the suffix-array family of Lee et al., "Deduplicating
    * Training Data Makes Language Models Better": kill every token
    * run of length ≥ `minTokens` that repeats corpus-wide, whatever
    * its length). [[dedupSpans]] bans fixed non-overlapping windows;
    * this operator bans VARIABLE-length maximal extents:
    *
    *   - a token is removed iff some repeated `minTokens`-gram
    *     (stride-1 window, corpus occurrence count > `maxOccur`)
    *     covers it. Every repeated run of length M ≥ minTokens is
    *     removed in full under this rule (each of its tokens sits in
    *     a fully-contained minTokens-window, which repeats wherever
    *     the run does), and no token outside a ≥minTokens repeat is
    *     touched — exactly the suffix-array semantics, without
    *     building a suffix array;
    *   - coverage is resolved with a difference array, not an
    *     interval join: each banned window start contributes +1 at
    *     `gs` and −1 at `gs+L`, a doc-local running sum over the
    *     merged (token ∪ delta) stream marks covered tokens, and
    *     maximal extents fall out as `removed && !lag(removed)`
    *     islands. Window-function ties are harmless by construction:
    *     deltas order before the token at the same position, so every
    *     token row sees a deterministic cover count.
    *
    * Scale: one linear gram-count shuffle (string grams for oracle
    * exactness — the xxhash64 variant would halve the bytes at a
    * 2⁻⁶⁴ false-ban risk, the [[dedupSpans]] trade), one ban join
    * (the repeated-gram side is the boilerplate set — AQE broadcasts
    * it when small), then ONE doc-keyed exchange reused by both
    * doc-local windows (cover sum, island lag) and the reassembly
    * aggregate. Nothing pairwise, nothing quadratic in doc count,
    * per-doc state bounded by doc length.
    *
    * Returns (idCol, n_tokens, n_removed, n_extents, clean_text). */
  def dedupSubstrings(df: DataFrame, idCol: String, textCol: String,
                      minTokens: Int = 6, maxOccur: Long = 1): DataFrame = {
    require(minTokens >= 2, "minTokens must be >= 2")
    val L = minTokens
    val base = df.select(col(idCol), tokens(col(textCol)).as("__toks"))
    val toks = base
      .select(col(idCol), posexplode_outer(col("__toks")).as(Seq("pos", "tok")))
      .filter(col("tok").isNotNull)
    val grams = base
      .filter(size(col("__toks")) >= L)
      .select(col(idCol),
        posexplode_outer(transform(sequence(lit(0), size(col("__toks")) - L),
          i => array_join(slice(col("__toks"), i + 1, lit(L)), " "))).as(Seq("gs", "gram")))
      .filter(col("gram").isNotNull)
    val rep = grams.groupBy("gram").agg(count(lit(1)).as("__n"))
      .filter(col("__n") > maxOccur).select("gram")
    // merge-PINNED, never broadcast: unlike dedupSpans' boilerplate
    // set (non-overlapping windows over-frequent corpus-wide —
    // typically tiny), the stride-1 ban set scales with the corpus's
    // DUPLICATED VOLUME (every position of a repeated run is a banned
    // gram) — the r16 scale gate measured the AQE broadcast build
    // growing 42 MB → 470 MB from ×1 to ×10, the corpus-scaling
    // broadcast class that OOMs the driver at 100 TB. Both sides key
    // by gram (rep comes from the same aggregation), so the pin costs
    // one linear probe-side shuffle, nothing pairwise.
    val bans = grams.join(rep.hint("merge"), Seq("gram"))
      .select(col(idCol), col("gs"))
    // difference-array events: __o orders deltas BEFORE the token at
    // an equal position (a window starting AT a token covers it; one
    // ENDING at it — interval [gs, gs+L-1] — does not)
    val events = toks
      .select(col(idCol), col("pos"), col("tok"), lit(0).as("__d"), lit(2).as("__o"))
      .unionByName(bans.select(col(idCol), col("gs").as("pos"),
        lit(null).cast("string").as("tok"), lit(1).as("__d"), lit(1).as("__o")))
      .unionByName(bans.select(col(idCol), (col("gs") + L).as("pos"),
        lit(null).cast("string").as("tok"), lit(-1).as("__d"), lit(1).as("__o")))
    val W = org.apache.spark.sql.expressions.Window
    val wCum = W.partitionBy(col(idCol)).orderBy(col("pos"), col("__o"))
      .rowsBetween(W.unboundedPreceding, W.currentRow)
    val wLag = W.partitionBy(col(idCol)).orderBy(col("pos"))
    events
      .withColumn("__cov", sum(col("__d")).over(wCum))
      .filter(col("__o") === 2)
      .withColumn("__rm", col("__cov") > 0)
      .withColumn("__prev", lag(col("__rm"), 1, false).over(wLag))
      .groupBy(col(idCol))
      .agg(
        count(lit(1)).as("n_tokens"),
        count(when(col("__rm"), 1)).as("n_removed"),
        count(when(col("__rm") && !col("__prev"), 1)).as("n_extents"),
        array_join(
          transform(sort_array(collect_list(when(!col("__rm"),
            struct(col("pos"), col("tok"))))), s => s("tok")),
          " ").as("clean_text"))
  }

  /** Corpus-wide SENTENCE dedup, keep-first (the C4-family boilerplate
    * stage between doc-level dedup and window/substring dedup): split
    * each document into sentence units on the literal ". " boundary,
    * count each unit's corpus-wide occurrences, and for units that are
    * ELIGIBLE (length ≥ `minChars` — short fragments like "OK" are
    * never deduped) and REPEATED (count > `maxOccur`) keep only the
    * canonical FIRST occurrence, ordered by (doc id, position). Unlike
    * [[dedupSpans]]/[[dedupSubstrings]] (which BAN every occurrence of
    * an over-frequent unit), keep-first preserves the corpus-level
    * guarantee a C4-style pipeline wants: every unique sentence
    * survives somewhere, exactly once.
    *
    * Eligibility is a pure function of the unit text, so all
    * occurrences of a sentence share it — the occurrence count and the
    * first-occurrence rank can both ride ONE sentence-keyed exchange
    * (two window functions over the same partitioning). Reassembly is
    * the usual doc-keyed sort_array(collect_list) join with ". " —
    * lossless for surviving units by construction of the split.
    *
    * Scale: one sentence-keyed shuffle (count + rank windows) + one
    * doc-keyed exchange for reassembly — linear, nothing pairwise;
    * per-sentence state is bounded by the duplicate class size and the
    * rank window streams (row_number, no buffering).
    *
    * Returns (idCol, n_sentences, n_removed, clean_text). */
  def dedupSentences(df: DataFrame, idCol: String, textCol: String,
                     minChars: Int = 12, maxOccur: Long = 1): DataFrame = {
    require(minChars >= 1 && maxOccur >= 1)
    val W = org.apache.spark.sql.expressions.Window
    val wRank = W.partitionBy(col("sent")).orderBy(col(idCol), col("pos"))
    val wCnt = W.partitionBy(col("sent"))
    df.select(col(idCol),
        posexplode_outer(split(col(textCol), "\\. ")).as(Seq("pos", "sent")))
      .filter(col("sent").isNotNull)
      .withColumn("__rn", row_number().over(wRank))
      .withColumn("__n", count(lit(1)).over(wCnt))
      .withColumn("__keep",
        length(col("sent")) < minChars || col("__n") <= maxOccur || col("__rn") === 1)
      .groupBy(col(idCol))
      .agg(
        count(lit(1)).as("n_sentences"),
        count(when(!col("__keep"), 1)).as("n_removed"),
        array_join(
          transform(sort_array(collect_list(when(col("__keep"),
            struct(col("pos"), col("sent"))))), s => s("sent")),
          ". ").as("clean_text"))
  }

  // ───────────────────────── drop-accounting observation ──────────────

  /** Name of the plan-riding observation under which banded candidate
    * generators report capped-bucket drops: (dropped_buckets,
    * dropped_rows, largest_bucket). Bench harvests it per query into
    * bench/scale artifacts next to spill — the metric survives where a
    * driver stderr line would not (VERDICT r13 #7). */
  val NearDupDropObservation = "graft_neardup_drops"

  /** One-row cap-drop accounting over a bucket-lists frame (an `ids`
    * array column per bucket): (dropped buckets, dropped member rows,
    * largest bucket). One aggregation over rows the pair generator
    * reads anyway (callers persist the frame). An in-plan
    * CollectMetrics on the BUCKET frame was tried first and rejected
    * measured: the generators materialize through localCheckpoint,
    * whose action does not deliver observed metrics (probed on Spark
    * 4.1 — `observed=Map()` on the checkpoint execution), so the
    * metric would silently never reach a listener. */
  private def dropStats(lists: DataFrame, maxBucket: Int): (Long, Long, Int) = {
    val r = lists.agg(
      count(when(size(col("ids")) > maxBucket, 1)).as("db"),
      coalesce(sum(when(size(col("ids")) > maxBucket, size(col("ids")))), lit(0L))
        .as("dr"),
      coalesce(max(size(col("ids"))), lit(0)).as("mx")).head()
    (r.getLong(0), r.getLong(1), r.getInt(2))
  }

  /** Ride the already-computed drop stats on the RETURNED frame as a
    * named observation: it survives every downstream transformation
    * and fires on the CALLER's terminal action (bench noop sink,
    * production table write), where QueryExecutionListeners harvest
    * it into artifacts next to spill (VERDICT r13 #7). Probed
    * limitation: a FULLY-capped (zero-row) result delivers no
    * observation row — that case has already printed the loud stderr
    * warning, and a capped-to-empty near-dup pass is a configuration
    * error, not a telemetry case. */
  private def withDropMetric(df: DataFrame, db: Long, dr: Long, mx: Int): DataFrame =
    df.observe(NearDupDropObservation,
      max(lit(db)).as("dropped_buckets"),
      max(lit(dr)).as("dropped_rows"),
      max(lit(mx)).as("largest_bucket"))

  private def warnDrops(db: Long, dr: Long, mx: Int, maxBucket: Int,
                        what: String): Unit =
    if (db > 0) System.err.println(
      s"[graft] $what: dropped $db bucket(s) past maxBucket=$maxBucket " +
        s"(largest $mx docs, $dr member rows) — their in-bucket candidate " +
        "pairs are LOST (recall loss beyond the banding probability); " +
        "raise maxBucket or exact-dedup upstream")

  // ─────────────────── incremental NEAR-dup (persisted index) ─────────

  /** The PERSISTABLE near-dup signature index — [[exactIndex]]'s
    * contract extended to near-duplicates (VERDICT r13 next-round #1):
    * one row per history doc carrying everything a nightly batch needs
    * to triage against it WITHOUT ever re-reading history text:
    *
    *   - `minhash`: the `numHashes`-long MinHash signature (the same
    *     [[graft.functions.HashFunctions.minhashSig]] expression the
    *     one-call [[minHashLsh]] rides, so banding is bit-compatible),
    *   - `sh`:      the doc's distinct shingles as xxhash64 longs (the
    *     [[verifyJaccard]] payload — 8-byte set elements for the exact
    *     re-score; collisions shift Jaccard by O(1e-15)),
    *   - `s`:       the distinct-shingle count.
    *
    * Written once as a parquet target ([[Targets]]) and read back by
    * every subsequent ingest: only these ~(numHashes + s)·8 B/doc
    * index rows ever move again. Refresh after an ingest with
    * [[minhashIndexUpdated]]. */
  def minhashIndex(history: DataFrame, idCol: String, textCol: String,
                   shingleN: Int = 3, numHashes: Int = 32): DataFrame = {
    // LOUD long-id contract (ADVICE r14): the index stores hist_id as
    // long, and under non-ANSI casting a string id would become NULL
    // silently — corrupting every verdict join downstream. Reject
    // non-integral id columns here instead.
    import org.apache.spark.sql.types.{ByteType, IntegerType, LongType, ShortType}
    val idType = history.schema(idCol).dataType
    require(Seq(ByteType, ShortType, IntegerType, LongType).contains(idType),
      s"minhashIndex requires an integral id column (the persisted " +
        s"index stores hist_id as long); '$idCol' is $idType — map ids " +
        "to longs upstream (Ids.surrogate)")
    signatures(history, idCol, textCol, shingleN, numHashes)
      .select(col(idCol).cast("long").as("hist_id"), col("minhash"),
        col("sh"), col("s"))
  }

  /** The shared signature pipeline: (id, minhash, sh, s). */
  private def signatures(df: DataFrame, idCol: String, textCol: String,
                         shingleN: Int, numHashes: Int): DataFrame =
    df.select(col(idCol), tokens(col(textCol)).as("__toks"))
      .select(col(idCol),
        array_distinct(shinglesOfTokens(col("__toks"), shingleN)).as("__shs"))
      .select(col(idCol),
        minhashSig(col("__shs"), numHashes).as("minhash"),
        array_distinct(transform(col("__shs"), s => xxhash64(s))).as("sh"))
      .withColumn("s", size(col("sh")))

  /** Post-ingest index refresh: the next night's index from the
    * current index plus the batch — one narrow scan of each, no
    * history text (the [[exactIndexUpdated]] discipline). Unlike the
    * exact index there is no per-key reduction to re-run: near-dup
    * signatures are per-doc facts, so the refresh is a pure append.
    * Doc ids must be globally unique across history and batches (the
    * caller's ingest contract — re-appending a batch would duplicate
    * its rows). */
  def minhashIndexUpdated(index: DataFrame, batch: DataFrame,
                          idCol: String, textCol: String,
                          shingleN: Int = 3, numHashes: Int = 32): DataFrame =
    index.select(col("hist_id"), col("minhash"), col("sh"), col("s"))
      .unionByName(minhashIndex(batch, idCol, textCol, shingleN, numHashes))

  /** Incremental NEAR-dup triage of a nightly batch against a
    * PREBUILT [[minhashIndex]] — the [[incrementalExactIndexed]]
    * contract extended past exact content equality: without this, a
    * nightly ingest would re-pair the whole corpus through the curate
    * chain's generator (quadratic-prone work the index makes
    * O(batch)). One row per batch doc:
    *
    *   - `status`: 'dup_history' (exact-Jaccard ≥ threshold against
    *     some indexed doc) | 'dup_batch' (no history match, but
    *     near-dups an earlier doc of THIS batch — its connected
    *     component's min id is not itself) | 'new';
    *   - `canonical_id`: the doc downstream references rewrite to —
    *     the smallest qualifying history id, else the batch
    *     component's min id, else itself. Status is decided from
    *     DIRECT evidence per doc (a doc whose only link to history is
    *     through a batch sibling stays 'dup_batch' with the sibling
    *     as canonical; the rewrite chain reaches history in one more
    *     hop) — a deterministic, engine-replayable rule;
    *   - `batch_component`: the batch-internal near-dup component
    *     ([[Components.connectedComponents]] min-label; itself when
    *     unpaired);
    *   - `n_hist_matches`: qualifying history matches (audit).
    *
    * Scale shape (the O(batch) claim, measured by IncrementalBench's
    * neardup axis):
    *  - batch signatures: one narrow pass over batch text, persisted
    *    (feeds banding, both re-score sides, and the verdict spine);
    *  - history candidates: the index is scanned ONCE, narrowly —
    *    band keys are derived per index row and semi-joined against
    *    the batch's band-key set (broadcast below
    *    [[BroadcastSafeCorpusRows]] batch rows, merge past it), so
    *    only index rows sharing a band bucket with the batch ever
    *    reach a shuffle; the surviving bucket lists are capped at
    *    `maxBucket` with the drop-accounting observation attached;
    *  - exact re-score touches candidate pairs only; joins back to
    *    the index and batch signatures are AQE-planned (candidate
    *    sets are batch-bounded), pinned merge past the same row pin;
    *  - batch-internal pairs ride the standard [[bandBuckets]] →
    *    [[pairsFromBuckets]] path at batch size.
    *
    * Oracle-parity: at the 32-hash/16-band default and threshold 0.7,
    * banding recall is effectively exact on the gate corpora (the
    * q_dedup_minhash_verify configuration — P[miss] = (1−j²)¹⁶ ≤
    * 1.4e-11 at j ≥ 0.889, the corpora's closest qualifying pairs;
    * TextDedupSpec's sensitive-jaccard band guards the assumption),
    * so DuckDB can replay the truth as brute-force exact Jaccard over
    * history ∪ batch plus the same verdict rules. */
  def incrementalNearDupIndexed(index: DataFrame, batch: DataFrame,
                                idCol: String, textCol: String,
                                shingleN: Int = 3, numHashes: Int = 32,
                                bands: Int = 16, threshold: Double = 0.7,
                                maxBucket: Int = 100000): DataFrame = {
    require(numHashes % bands == 0, "bands must divide numHashes")
    Materialize.scoped { s =>
      val bsig = s.cache(signatures(batch, idCol, textCol, shingleN, numHashes))
      val nBatch = bsig.count() // materializes the cache, sizes the pins
      val pinBig = nBatch > BroadcastSafeCorpusRows
      def pin(df: DataFrame) = if (pinBig) df.hint("merge") else df

      val bBands = bandBuckets(bsig, idCol, numHashes, bands)
      // history band rows that share a bucket with ANY batch doc: the
      // batch's distinct band keys gate the index scan — the index side
      // is never shuffled on its own account (left_semi against a
      // broadcast batch-key set at nightly batch sizes; a corpus-sized
      // "batch" flips the gate join to merge by the same pin)
      val bKeys = bBands.select(col("band"), col("bh")).distinct()
      val iBands = bandBuckets(
        index.select(col("hist_id").as("__hid"), col("minhash")),
        "__hid", numHashes, bands)
      val hHit = iBands.join(
        if (pinBig) bKeys.hint("merge") else broadcast(bKeys),
        Seq("band", "bh"), "left_semi")
      // surviving history bucket lists, capped + drop-accounted (the
      // minhashPrunedJaccard discipline — an over-cap bucket here is a
      // spam cluster whose history matches would be lost; the numbers
      // ride the returned frame as the named observation)
      val hBuckets = s.cache(hHit.groupBy(col("band"), col("bh"))
        .agg(sort_array(collect_set(col("__hid"))).as("ids")))
      val (db, dr, mx) = dropStats(hBuckets, maxBucket)
      warnDrops(db, dr, mx, maxBucket, "incrementalNearDupIndexed")
      val cand = bBands.join(pin(hBuckets.filter(size(col("ids")) <= maxBucket)),
          Seq("band", "bh"))
        .select(col(idCol), explode(col("ids")).as("__hid"))
        .dropDuplicates(idCol, "__hid")
      val rescored = cand
        .join(pin(index.select(col("hist_id").as("__hid"), col("sh").as("sh_h"))),
          "__hid")
        .join(pin(bsig.select(col(idCol), col("sh").as("sh_b"))), idCol)
        .filter(jaccard(col("sh_b"), col("sh_h")) >= threshold)
      val histVerdict = rescored.groupBy(col(idCol))
        .agg(min(col("__hid")).as("__hist_match"),
          count(lit(1)).as("__n_hist"))

      // batch-internal near-dup components (batch-sized work). The
      // bucket lists are built explicitly (not via pairsFromBuckets) so
      // over-cap BATCH buckets get the same loud drop accounting the
      // history path has — a silently-capped batch bucket would lose
      // dup_batch pairs with no warning and no observation (ADVICE r14).
      val bLists = s.cache(bucketLists(bBands, Seq("band", "bh"), idCol))
      val (bdb, bdr, bmx) = dropStats(bLists, maxBucket)
      warnDrops(bdb, bdr, bmx, maxBucket,
        "incrementalNearDupIndexed (batch-internal)")
      val bPairs = pairsFromLists(bLists, maxBucket)
      val bEdges = bPairs
        .join(bsig.select(col(idCol).as("id_a"), col("sh").as("sh_a")), "id_a")
        .join(bsig.select(col(idCol).as("id_b"), col("sh").as("sh_b")), "id_b")
        .filter(jaccard(col("sh_a"), col("sh_b")) >= threshold)
        .select(col("id_a"), col("id_b"))
      val comp = Components.connectedComponents(bEdges)
        .withColumnRenamed("node", idCol)

      val result = Materialize.checkpoint(bsig.select(col(idCol))
        .join(histVerdict, Seq(idCol), "left")
        .join(comp, Seq(idCol), "left")
        .select(col(idCol),
          when(col("__hist_match").isNotNull, lit("dup_history"))
            .when(col("component").isNotNull && col("component") =!= col(idCol),
              lit("dup_batch"))
            .otherwise(lit("new")).as("status"),
          coalesce(col("__hist_match"),
            when(col("component") =!= col(idCol), col("component")),
            col(idCol)).as("canonical_id"),
          coalesce(col("component"), col(idCol)).as("batch_component"),
          coalesce(col("__n_hist"), lit(0L)).as("n_hist_matches")))
      // ONE observation folding both candidate paths' drops (history
      // band buckets + batch-internal buckets)
      withDropMetric(result, db + bdb, dr + bdr, math.max(mx, bmx))
    }
  }

  /** [[incrementalNearDupIndexed]] with the index derived inline from
    * history text (verdicts identical by construction — spec-proven
    * against the parquet round trip). The deployment path builds the
    * index ONCE as a parquet target and calls the indexed form. */
  def incrementalNearDup(history: DataFrame, batch: DataFrame,
                         idCol: String, textCol: String,
                         shingleN: Int = 3, numHashes: Int = 32,
                         bands: Int = 16, threshold: Double = 0.7,
                         maxBucket: Int = 100000): DataFrame =
    incrementalNearDupIndexed(
      minhashIndex(history, idCol, textCol, shingleN, numHashes),
      batch, idCol, textCol, shingleN, numHashes, bands, threshold, maxBucket)
}
