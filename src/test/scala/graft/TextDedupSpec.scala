package graft

import graft.functions.{TextFunctions, VectorFunctions}
import graft.operators.{Dedup, Similarity}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class TextFunctionsSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  test("tokenCount and normalization collapse punctuation/whitespace") {
    val df = Seq("Hello,   WORLD!! ", "", "one two three").toDF("text")
    val out = df.select(TextFunctions.tokenCount(col("text"))).as[Int].collect().toSeq
    assert(out == Seq(2, 0, 3))
  }

  test("fingerprint is invariant to case/punct/extra spaces") {
    val df = Seq("The cat, sat.", "the  CAT sat", "a dog").toDF("text")
    val fps = df.select(TextFunctions.fingerprint(col("text"))).as[String].collect()
    assert(fps(0) == fps(1) && fps(0) != fps(2))
  }

  test("langId picks the language with most marker hits") {
    val df = Seq("the cat and the dog of it is with",
      "le chat et la mer les des", "xyzzy qwerty").toDF("text")
    val out = df.select(TextFunctions.langId(col("text"))).as[String].collect().toSeq
    assert(out == Seq("en", "fr", "und"))
  }

  test("qualityScore in [0,1], higher for fluent text") {
    val good = "the cat sat on the mat and it was a good day for all of the cats " * 2
    val bad = "@@@@ #### !!!! %%%%"
    val df = Seq(good, bad).toDF("text")
    val s = df.select(TextFunctions.qualityScore(col("text"))).as[Double].collect()
    assert(s.forall(x => x >= 0.0 && x <= 1.0) && s(0) > s(1))
  }

  test("shingles produce n-grams in order") {
    val out = Seq("a b c d").toDF("text")
      .select(TextFunctions.shingles(col("text"), 3)).as[Seq[String]].head()
    assert(out == Seq("a b c", "b c d"))
  }
}

class DedupSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private val docs = Seq(
    (1L, "the quick brown fox jumps over the lazy dog near the river bank today"),
    (2L, "THE QUICK  brown fox, jumps over the lazy dog near the river bank today"), // exact dup of 1 after norm
    (3L, "the quick brown fox jumps over the lazy dog near the river bank yesterday"), // near dup of 1
    (4L, "completely different content about spark engines and distributed shuffles ok"),
    (5L, "another unrelated document mentioning embeddings vectors and cosine metrics"))
    .toDF("doc_id", "text")

  test("exact dedup collapses normalized duplicates keeping min id") {
    val out = Dedup.exact(docs, "doc_id", "text")
    assert(out.count() == 4)
    val dup = out.filter(col("n_dups") === 2).collect()
    assert(dup.length == 1 && dup.head.getAs[Long]("doc_id") == 1L)
  }

  test("incrementalExact triages a new batch against the history index") {
    // history: docs 1-3 (1 and 2 are the same content). batch: 6 =
    // dup of history's 1, 7/8 = dups of each other (7 wins), 9 = new.
    val history = docs.filter(col("doc_id") <= 3)
    val batch = Seq(
      (6L, "the quick brown fox jumps over the lazy dog near the river bank today"),
      (7L, "a batch-internal duplicate sentence appearing twice in this ingest"),
      (8L, "a BATCH-internal duplicate sentence, appearing twice in this ingest"),
      (9L, "genuinely novel content never seen in history or this batch"))
      .toDF("doc_id", "text")
    val out = Dedup.incrementalExact(history, batch, "doc_id", "text")
      .select("doc_id", "status", "canonical_id")
      .as[(Long, String, Long)].collect()
      .map { case (id, st, c) => id -> ((st, c)) }.toMap
    assert(out(6L) == (("dup_history", 1L)), "content indexed under history min id 1")
    assert(out(7L) == (("new", 7L)), "batch winner of an unseen fp is new")
    assert(out(8L) == (("dup_batch", 7L)), "loser rewrites to the batch winner")
    assert(out(9L) == (("new", 9L)))
    assert(out.size == 4, "every batch doc gets exactly one verdict")
  }

  test("incrementalExact gives null-text batch docs a verdict (sentinel fp)") {
    // md5(NULL) is NULL and a NULL join key matches nothing — without
    // the sentinel these rows silently vanish from the verdict table,
    // breaking the one-row-per-batch-doc contract (ADVICE r9). All
    // null-text docs form ONE content group, matching exact()'s
    // null-fp groupBy semantics.
    val history = Seq((1L, "indexed content"), (2L, null.asInstanceOf[String]))
      .toDF("doc_id", "text")
    val batch = Seq((10L, null.asInstanceOf[String]),
      (11L, null.asInstanceOf[String]), (12L, "fresh content"))
      .toDF("doc_id", "text")
    val out = Dedup.incrementalExact(history, batch, "doc_id", "text")
      .select("doc_id", "status", "canonical_id")
      .as[(Long, String, Long)].collect()
      .map { case (id, st, c) => id -> ((st, c)) }.toMap
    assert(out.size == 3, "every batch doc — null text included — gets a verdict")
    assert(out(10L) == (("dup_history", 2L)), "null text is indexed under history's null-text min id")
    assert(out(11L) == (("dup_history", 2L)))
    assert(out(12L) == (("new", 12L)))
  }

  test("minhash LSH finds the near-dup pair and not unrelated docs") {
    val pairs = Dedup.minHashLsh(docs, "doc_id", "text",
        shingleN = 3, numHashes = 32, bands = 16, threshold = 0.5)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(pairs.contains((1L, 2L)) || pairs.contains((1L, 3L)))
    assert(!pairs.exists(p => p._1 == 4L || p._2 == 4L))
  }

  test("simhash hamming distance 0 for exact normalized dup") {
    val sigs = Dedup.withSimHash(docs, "text")
      .select("doc_id", "simhash").as[(Long, Long)].collect().toMap
    assert(sigs(1L) == sigs(2L))
    assert(java.lang.Long.bitCount(sigs(1L) ^ sigs(4L)) > 10)
  }

  test("ngram jaccard near-dups score high for small edits") {
    val pairs = Dedup.ngramJaccard(docs, "doc_id", "text", shingleN = 2, threshold = 0.4)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(pairs.contains((1L, 2L)))
  }

  test("gated generators emit a SUBSET of brute-force truth (precision)") {
    // the probabilistic part of minhash/ngram is candidate GENERATION;
    // verification is exact — so every emitted pair must appear in the
    // ungated all-pairs truth at the same threshold, with the same
    // jaccard value
    val truth = Dedup.bruteForceJaccard(docs, "doc_id", "text",
        shingleN = 3, threshold = 0.5)
      .select("id_a", "id_b", "jaccard").as[(Long, Long, Double)].collect().toSet
    val lsh = Dedup.minHashLsh(docs, "doc_id", "text",
        shingleN = 3, numHashes = 32, bands = 16, threshold = 0.5)
      .select("id_a", "id_b", "jaccard").as[(Long, Long, Double)].collect().toSet
    assert(lsh.subsetOf(truth), s"LSH emitted non-truth pairs: ${lsh -- truth}")
  }

  test("prefix-filter join EQUALS brute-force truth (lossless, both directions)") {
    // unlike the gated generators' subset property, prefixFilterJaccard
    // claims completeness: pair set AND jaccard values must match the
    // ungated all-pairs truth exactly — on the fixture and the sf
    // corpus, at two thresholds (prefix length depends on τ)
    for (thr <- Seq(0.3, 0.5)) {
      val truth = Dedup.bruteForceJaccard(docs, "doc_id", "text",
          shingleN = 3, threshold = thr)
        .select("id_a", "id_b", "jaccard").as[(Long, Long, Double)].collect().toSet
      val got = Dedup.prefixFilterJaccard(docs, "doc_id", "text",
          shingleN = 3, threshold = thr)
        .select("id_a", "id_b", "jaccard").as[(Long, Long, Double)].collect().toSet
      assert(got == truth, s"thr=$thr: missing=${truth -- got} extra=${got -- truth}")
    }
    val dir = SparkTestSession.sfDir
    if (new java.io.File(s"$dir/documents.parquet").exists) {
      val full = spark.read.parquet(s"$dir/documents.parquet")
      val truth = Dedup.bruteForceJaccard(full, "doc_id", "text",
          shingleN = 3, threshold = 0.5)
        .select("id_a", "id_b", "jaccard").as[(Long, Long, Double)].collect().toSet
      val got = Dedup.prefixFilterJaccard(full, "doc_id", "text",
          shingleN = 3, threshold = 0.5)
        .select("id_a", "id_b", "jaccard").as[(Long, Long, Double)].collect().toSet
      assert(got == truth, s"$dir: missing=${truth -- got} extra=${got -- truth}")
    }
  }

  test("prefix-filter keeps a J-exactly-τ containment pair at non-ppm τ (floor snap)") {
    // the ppm-ROUNDING counterexample: round(τ·1e6) at τ = 2/3 gives
    // 666667 > τ·1e6, making the integer length filter (min·1e6 ≥
    // tPpm·max: 2e6 < 666667·3) STRICTER than the final
    // jaccard >= threshold filter, which accepts J = 2/3 — a
    // qualifying containment pair (2 shingles ⊂ 3 shingles) silently
    // vanishes. The floor snap keeps every candidate gate at ≤ τ
    // (candidate superset — lossless); this pins it.
    val pair = Seq(
      (1L, "alpha beta gamma delta"),            // 2 3-shingles
      (2L, "alpha beta gamma delta epsilon"))    // 3 3-shingles, superset
      .toDF("doc_id", "text")
    val got = Dedup.prefixFilterJaccard(pair, "doc_id", "text",
        shingleN = 3, threshold = 2.0 / 3.0)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(got == Set((1L, 2L)), s"J=2/3 containment pair must survive: $got")
  }

  test("prefix-filter join refuses to drop an oversized bucket (exactness gate)") {
    val e = intercept[IllegalStateException] {
      Dedup.prefixFilterJaccard(docs, "doc_id", "text",
        shingleN = 3, threshold = 0.5, maxBucket = 1)
    }
    assert(e.getMessage.contains("prefix bucket"))
  }

  test("verify-gate corpora have no pairs in the LSH-sensitive jaccard band") {
    // q_dedup_minhash_verify's hash-exact oracle rests on effectively-
    // exact recall: at 16 bands × 2 rows, P[miss] = (1-j²)^16 ≈ 2e-5
    // at j = 0.7 but ≤ 1.3e-9 once j ≥ 0.85. That exactness holds
    // only while every qualifying pair sits comfortably above the 0.7
    // threshold, so guard the ASSUMPTION itself: the brute-forced
    // truth on each gate corpus must contain no pair with jaccard in
    // the sensitive band [0.7, 0.85). (The current corpora's closest
    // qualifying pairs sit at 0.889/0.9 — miss odds ≤ 1.4e-11.)
    // Corpus regeneration that introduces a borderline pair fails
    // HERE, loudly, instead of flaking the driver's hash compare.
    for (dir <- Seq(SparkTestSession.sfDir, "/root/testdata/sf0.01")
         if new java.io.File(s"$dir/documents.parquet").exists) {
      val full = spark.read.parquet(s"$dir/documents.parquet")
      val inBand = Dedup.bruteForceJaccard(full, "doc_id", "text",
          shingleN = 3, threshold = 0.5)
        .filter(col("jaccard") >= 0.7 && col("jaccard") < 0.85)
        .count()
      assert(inBand == 0, s"$dir has $inBand pairs in the sensitive band [0.7, 0.85)")
    }
  }

  test("Md5SimHash60 token hash is bit-identical to the SQL md5 formulation") {
    // the cross-engine contract: the native expression's 60-bit token
    // hash must equal conv(substring(md5(t),1,15),16,10) — the form
    // both the Spark SQL surface and the DuckDB oracle can compute
    val toks = Seq("hello", "wörld", "", "123", "a b")
    val sqlVals = toks.toDF("t")
      .select(conv(substring(md5(col("t")), 1, 15), 16, 10).cast("long"))
      .as[Long].collect().toSeq
    val exprVals = toks.map(t => graft.functions.Md5SimHash60.hash60(
      org.apache.spark.unsafe.types.UTF8String.fromString(t)))
    assert(exprVals == sqlVals)
  }

  test("portable simhash blocks + pigeonhole find ALL hamming<=3 pairs") {
    // maxHamming=3 < 4 blocks: recall is deterministically exact, so
    // the block-bucketed pairs equal the all-pairs hamming truth
    val sig = Dedup.simhashPortable(docs, "doc_id", "text")
    val sigs = sig.as[(Long, Long)].collect().toMap
    val truth = (for {
      a <- sigs.keys; b <- sigs.keys if a < b
      h = java.lang.Long.bitCount(sigs(a) ^ sigs(b)) if h <= 3
    } yield (a, b, h.toLong)).toSet
    val emitted = Dedup.simHashOnSig(sig, "doc_id", "sig", bits = 60, blocks = 4,
        maxHamming = 3, maxBucket = 100000)
      .select("id_a", "id_b", "hamming").as[(Long, Long, Long)].collect().toSet
    assert(emitted == truth, s"missing=${truth -- emitted} extra=${emitted -- truth}")
    // signatures use only the low 60 bits
    assert(sigs.values.forall(s => (s >>> 60) == 0))
  }

  test("embedCosine finds in-block near-dups and CAPS oversized blocks") {
    // block "a": two near-identical vectors + one orthogonal
    val small = Seq(
      (1L, Array(1f, 0f, 0f), "a"), (2L, Array(0.99f, 0.01f, 0f), "a"),
      (3L, Array(0f, 1f, 0f), "a"), (4L, Array(1f, 0f, 0f), "b"))
      .toDF("vec_id", "embedding", "label")
    val pairs = Dedup.embedCosine(small, "vec_id", "embedding", "label", 0.9)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(pairs == Set((1L, 2L)))                      // in-block only, above threshold
    // a hot block larger than maxBlock: with drops explicitly accepted
    // (maxDroppedRowFrac >= 1.0) the cap yields ZERO candidate pairs —
    // the quadratic guard doing its job
    val hot = (0L until 50L).map(i => (i, Array(1f, 0f), "hot")).toDF("vec_id", "embedding", "label")
    assert(Dedup.embedCosine(hot, "vec_id", "embedding", "label",
      threshold = 0.0, maxBlock = 10, maxDroppedRowFrac = 1.0).count() == 0)
  }

  test("embedCosine fails LOUDLY when a grown corpus overflows a fixed blocking key") {
    // the fixed-k sizing bug: blocks sized for a small corpus, corpus
    // grows, every row lands in a capped-out block — the default gate
    // must throw with the measured drop, not return an empty result
    val grown = (0L until 50L).map(i => (i, Array(1f, 0f), "hot"))
      .toDF("vec_id", "embedding", "label")
    val e = intercept[IllegalStateException] {
      Dedup.embedCosine(grown, "vec_id", "embedding", "label",
        threshold = 0.0, maxBlock = 10)
    }
    assert(e.getMessage.contains("50 of 50 rows"))
    assert(e.getMessage.contains("kForCorpus"))
    // a small drop under the threshold passes: 3-row hot block dropped
    // (3/23 = 13% > 5% -> still loud), so use 49 kept + capped at 48
    val mild = ((0L until 48L).map(i => (i, Array(1f, 0f), s"b${i % 24}")) :+
      (900L, Array(1f, 0f), "solo")).toDF("vec_id", "embedding", "label")
    // blocks of 2 within cap, one singleton: nothing dropped -> no throw
    assert(Dedup.embedCosine(mild, "vec_id", "embedding", "label",
      threshold = 0.0, maxBlock = 10).count() >= 24)
  }

  // ───────────────── containmentPairs (r15) ─────────────────

  /** Spec-local brute-force containment truth (independent Scala set
    * arithmetic, not the operator's join dag). */
  private def bruteContainment(rows: Seq[(Long, String)], n: Int,
                               thr: Double): Set[(Long, Long, Double)] = {
    def sh(text: String): Set[String] = {
      val toks = text.toLowerCase.replaceAll("[^a-z0-9 ]", " ")
        .replaceAll(" +", " ").trim.split(" ").filter(_.nonEmpty).toSeq
      if (toks.size < n) Set(toks.mkString(" "))
      else toks.sliding(n).map(_.mkString(" ")).toSet
    }
    val sets = rows.map { case (id, t) => id -> sh(t) }
    (for {
      (ia, sa) <- sets; (ib, sb) <- sets if ia < ib
      c = (sa & sb).size.toDouble / math.min(sa.size, sb.size)
      if c >= thr
    } yield (ia, ib, BigDecimal(c).setScale(6,
      scala.math.BigDecimal.RoundingMode.HALF_UP).toDouble)).toSet
  }

  test("containment detects a quoted subset that Jaccard structurally misses") {
    val quote = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    val fixture = Seq(
      (1L, quote),
      (2L, s"intro words before the passage $quote and then a very long tail " +
        "of unrelated filler content that keeps going with many extra tokens " +
        "so the union is dominated by this host document entirely"),
      (3L, "completely disjoint vocabulary about engines and shuffles"))
      .toDF("doc_id", "text")
    val got = Dedup.containmentPairs(fixture, "doc_id", "text",
        shingleN = 3, threshold = 0.8)
      .select("id_a", "id_b", "containment").as[(Long, Long, Double)]
      .collect().toSet
    assert(got == Set((1L, 2L, 1.0)), s"quote pair at containment 1.0: $got")
    // the same pair is INVISIBLE to symmetric Jaccard at its own
    // near-dup threshold — the reason the asymmetric operator exists
    val j = Dedup.bruteForceJaccard(fixture, "doc_id", "text",
      shingleN = 3, threshold = 0.5)
    assert(j.count() == 0, "Jaccard must miss the contained quote")
  }

  test("containmentPairs EQUALS brute-force truth (lossless prefix x full rule)") {
    val rows = docs.as[(Long, String)].collect().toSeq
    for (thr <- Seq(0.5, 0.8)) {
      val truth = bruteContainment(rows, 3, thr)
      val got = Dedup.containmentPairs(docs, "doc_id", "text",
          shingleN = 3, threshold = thr)
        .select("id_a", "id_b", "containment").as[(Long, Long, Double)]
        .collect().toSet
      assert(got == truth, s"thr=$thr: missing=${truth -- got} extra=${got -- truth}")
    }
    val dir = SparkTestSession.sfDir
    if (new java.io.File(s"$dir/documents.parquet").exists) {
      val full = spark.read.parquet(s"$dir/documents.parquet")
      val truth = bruteContainment(
        full.select("doc_id", "text").as[(Long, String)].collect().toSeq, 3, 0.7)
      val got = Dedup.containmentPairs(full, "doc_id", "text",
          shingleN = 3, threshold = 0.7)
        .select("id_a", "id_b", "containment").as[(Long, Long, Double)]
        .collect().toSet
      assert(got == truth, s"$dir: missing=${truth -- got} extra=${got -- truth}")
    }
  }

  test("minhashPrunedContainment matches the lossless strategy, including " +
    "the asymmetric quote pair (rows=1 banding)") {
    // the quote-in-host pair has LOW Jaccard (the union is the host)
    // but must survive the pruned candidate rule: one shared minhash
    // value suffices at rows=1
    val quote = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    val fixture = Seq(
      (1L, quote),
      (2L, s"intro words before the passage $quote and then a very long tail " +
        "of unrelated filler content that keeps going with many extra tokens " +
        "so the union is dominated by this host document entirely"),
      (3L, "completely disjoint vocabulary about engines and shuffles"))
      .toDF("doc_id", "text")
    val pruned = Dedup.minhashPrunedContainment(fixture, "doc_id", "text",
        shingleN = 3, threshold = 0.8)
      .select("id_a", "id_b", "containment").as[(Long, Long, Double)]
      .collect().toSet
    assert(pruned == Set((1L, 2L, 1.0)), s"pruned quote pair: $pruned")
    // strategy A/B on the spec corpus: identical survivor sets
    for (thr <- Seq(0.5, 0.8)) {
      val lossless = Dedup.containmentPairs(docs, "doc_id", "text",
          shingleN = 3, threshold = thr)
        .select("id_a", "id_b", "containment").as[(Long, Long, Double)]
        .collect().toSet
      val p = Dedup.minhashPrunedContainment(docs, "doc_id", "text",
          shingleN = 3, threshold = thr)
        .select("id_a", "id_b", "containment").as[(Long, Long, Double)]
        .collect().toSet
      assert(p == lossless,
        s"thr=$thr: missing=${lossless -- p} extra=${p -- lossless}")
    }
  }

  test("containmentPairs refuses to drop an oversized bucket (exactness gate)") {
    val e = intercept[IllegalStateException] {
      Dedup.containmentPairs(docs, "doc_id", "text",
        shingleN = 3, threshold = 0.5, maxBucket = 1)
    }
    assert(e.getMessage.contains("shingle bucket"))
  }

  test("dedupSentences: keep-first across docs, ordered by (doc_id, pos)") {
    val boiler = "all rights reserved forever"
    val fx = Seq(
      (2L, s"unique middle content here. $boiler"),
      (1L, s"$boiler. body of the first document"),
      (3L, s"$boiler. another unique tail sentence"))
      .toDF("doc_id", "text")
    val got = Dedup.dedupSentences(fx, "doc_id", "text")
      .select("doc_id", "n_sentences", "n_removed", "clean_text")
      .as[(Long, Long, Long, String)].collect().map(r => r._1 -> r).toMap
    // doc 1 holds the canonical first occurrence (lowest doc_id)
    assert(got(1L) == ((1L, 2L, 0L, s"$boiler. body of the first document")))
    assert(got(2L) == ((2L, 2L, 1L, "unique middle content here")))
    assert(got(3L) == ((3L, 2L, 1L, "another unique tail sentence")))
  }

  test("dedupSentences: within-doc repeats keep the earliest position") {
    val s1 = "repeated sentence inside one document"
    val fx = Seq((7L, s"$s1. interlude goes right here. $s1")).toDF("doc_id", "text")
    val got = Dedup.dedupSentences(fx, "doc_id", "text")
      .select("n_sentences", "n_removed", "clean_text")
      .as[(Long, Long, String)].head()
    assert(got == ((3L, 1L, s"$s1. interlude goes right here")))
  }

  test("dedupSentences: minChars shields short fragments; maxOccur gates") {
    // "OK" repeats corpus-wide but is under minChars — never removed
    val fx = Seq((1L, "alpha beta gamma delta. OK"), (2L, "epsilon zeta eta theta. OK"))
      .toDF("doc_id", "text")
    val texts = Dedup.dedupSentences(fx, "doc_id", "text", minChars = 12)
      .select("clean_text").as[String].collect().toSet
    assert(texts == Set("alpha beta gamma delta. OK", "epsilon zeta eta theta. OK"))
    // maxOccur = 2 tolerates a pair, removes only at the third copy
    val tri = Seq((1L, "tolerated duplicate sentence"), (2L, "tolerated duplicate sentence"),
      (3L, "tolerated duplicate sentence")).toDF("doc_id", "text")
    val byDoc = Dedup.dedupSentences(tri, "doc_id", "text", maxOccur = 2)
      .select("doc_id", "n_removed").as[(Long, Long)].collect().toMap
    assert(byDoc == Map(1L -> 0L, 2L -> 1L, 3L -> 1L))
    val pair = Dedup.dedupSentences(tri.filter($"doc_id" < 3), "doc_id", "text",
        maxOccur = 2)
      .select("n_removed").as[Long].collect().toSeq
    assert(pair == Seq(0L, 0L))
  }
}

class SimilaritySpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  test("FloatVecDot matches HOF dot and plain math") {
    val df = Seq((Array(1f, 2f, 3f), Array(4f, 5f, 6f))).toDF("a", "b")
    val native = df.select(VectorFunctions.vecDot(col("a"), col("b"))).as[Double].head()
    val hof = df.select(VectorFunctions.dotHof(col("a"), col("b"))).as[Double].head()
    assert(native == 32.0 && hof == 32.0)
  }

  test("bruteForceTopK ranks by cosine, excludes self") {
    val vecs = Seq(
      (0L, Array(1f, 0f)), (1L, Array(0.9f, 0.1f)),
      (2L, Array(0f, 1f)), (3L, Array(-1f, 0f))).toDF("vec_id", "embedding")
    val out = Similarity.bruteForceTopK(vecs, vecs.filter(col("vec_id") === 0), k = 3)
      .orderBy("rk").select("neighbor_id").as[Long].collect().toSeq
    assert(out == Seq(1L, 2L, 3L))
  }

  test("LSH ANN recall vs brute force on real embeddings") {
    val emb = spark.read.parquet(s"${SparkTestSession.sfDir}/embeddings.parquet")
    val q = emb.filter(col("vec_id") < 3)
    val bf = Similarity.bruteForceTopK(emb, q, 5).select("query_id", "neighbor_id")
      .as[(Long, Long)].collect().toSet
    val lsh = Similarity.lshTopK(emb, q, 5).select("query_id", "neighbor_id")
      .as[(Long, Long)].collect().toSet
    // bucketing is approximate: require non-trivial overlap and same-bucket sanity
    assert(lsh.nonEmpty && (lsh & bf).nonEmpty)
  }

  test("lshTopK(tables = 1, planes = 0) and ivfTopK(nprobe = nlist) equal bruteForceTopK") {
    // one bucket, or every cell probed: the candidates are all pairs,
    // so both searches must return brute force's rows, cosines included
    val emb = spark.read.parquet(s"${SparkTestSession.sfDir}/embeddings.parquet")
    val q = emb.filter(col("vec_id") < 3)
    def rows(df: org.apache.spark.sql.DataFrame) = df.as[(Long, Long, Double, Int)]
      .collect().toSeq.sortBy(r => (r._1, r._4))
    val bf = rows(Similarity.bruteForceTopK(emb, q, 5))
    assert(bf.size == 15)
    assert(rows(Similarity.lshTopK(emb, q, 5, tables = 1, planes = 0)) == bf)
    assert(rows(Similarity.ivfTopK(emb, q, 5, nlist = 8, nprobe = 8)) == bf)
  }

  test("a zero vector scores 0.0 on every float path") {
    // vector 5 is all zeros and a query too; k covers the corpus and
    // every cell or bucket is probed, so each query meets it
    val vecs = Seq(
      (0L, Array(1f, 0f, 0f, 0f)), (1L, Array(0.9f, 0.1f, 0f, 0f)),
      (2L, Array(0f, 1f, 0f, 0f)), (3L, Array(0f, 0f, 1f, 1f)),
      (4L, Array(-1f, 0f, 0.5f, 0f)), (5L, Array(0f, 0f, 0f, 0f))).toDF("vec_id", "embedding")
    val isQuery = col("vec_id") === 0 || col("vec_id") === 5
    val q = vecs.filter(isQuery)
    Seq(
      "bruteForceTopK" -> Similarity.bruteForceTopK(vecs, q, 10),
      "ivfTopK" -> Similarity.ivfTopK(vecs, q, 10, nlist = 2, nprobe = 2),
      "ivfInt8TopK" -> Similarity.ivfInt8TopK(vecs, isQuery, 10, nlist = 2, nprobe = 2),
      "lshTopK" -> Similarity.lshTopK(vecs, q, 10, tables = 1, planes = 0, dim = 4)
    ).foreach { case (name, out) =>
      val rows = out.select("query_id", "neighbor_id", "cosine")
        .as[(Long, Long, Double)].collect().toSeq
      assert(rows.size == 10, s"$name: $rows")
      val zero = rows.filter(r => r._1 == 5L || r._2 == 5L)
      assert(zero.size == 6 && zero.forall(_._3 == 0.0), s"$name: $zero")
    }
  }

  test("bitextMarginMine at nlist=1 equals a Scala brute force of the definition") {
    // ONE cell = every cross-side pair is a candidate, so the whole
    // operator (ppb floor, top-k sums, truncating margin, mutual
    // filter, tie-breaks) must reproduce a from-scratch replay
    val emb = spark.read.parquet(s"${SparkTestSession.sfDir}/embeddings.parquet")
      .filter(col("vec_id") < 60)
    val got = Similarity.bitextMarginMine(emb, pmod(col("vec_id"), lit(2)) === 0,
        k = 4, minMarginPpm = 1000000L, nlist = 1)
      .select("x_id", "y_id", "cos_ppb", "margin_ppm")
      .as[(Long, Long, Long, Long)].collect().toSet

    val vecs = emb.select("vec_id", "embedding").as[(Long, Array[Float])]
      .collect().toMap
    // sequential left-to-right double fold = FloatVecDot's order
    def dot(a: Array[Float], b: Array[Float]): Double =
      a.indices.foldLeft(0.0)((acc, i) => acc + a(i).toDouble * b(i).toDouble)
    def cosPpb(a: Array[Float], b: Array[Float]): Long = {
      val (na, nb) = (math.sqrt(dot(a, a)), math.sqrt(dot(b, b)))
      val c = if (na == 0 || nb == 0) 0.0 else dot(a, b) / (na * nb)
      math.floor(c * 1e9).toLong
    }
    val xs = vecs.keys.filter(_ % 2 == 0).toSeq.sorted
    val ys = vecs.keys.filter(_ % 2 == 1).toSeq.sorted
    val pairs = (for { x <- xs; y <- ys
      c = cosPpb(vecs(x), vecs(y)) if c >= 0 } yield (x, y, c))
    def kAvg(group: Seq[(Long, Long)]): Long = { // (cos, partner)
      val top = group.sortBy { case (c, p) => (-c, p) }.take(4)
      top.map(_._1).sum / top.size
    }
    val ax = pairs.groupBy(_._1).map { case (x, g) => x -> kAvg(g.map(t => (t._3, t._2))) }
    val ay = pairs.groupBy(_._2).map { case (y, g) => y -> kAvg(g.map(t => (t._3, t._1))) }
    val margined = pairs.flatMap { case (x, y, c) =>
      val d = ax(x) + ay(y)
      if (d > 0) Some((x, y, c, c * 2000000L / d)) else None
    }
    val bestX = margined.groupBy(_._1).map { case (x, g) =>
      x -> g.minBy { case (_, y, _, m) => (-m, y) } }
    val bestY = margined.groupBy(_._2).map { case (y, g) =>
      y -> g.minBy { case (x, _, _, m) => (-m, x) } }
    val want = margined.filter { case t @ (x, y, _, m) =>
      bestX(x) == t && bestY(y) == t && m >= 1000000L }.toSet
    assert(want.nonEmpty, "fixture must mine at least one pair")
    assert(got == want, s"got ${got.size} pairs, want ${want.size}")
  }

  test("bitextMarginMine(allPairs = true) refuses a y side past the broadcast bound") {
    val n = Dedup.BroadcastSafeCorpusRows + 1
    val emb = spark.range(0, n + 1)
      .select(col("id").as("vec_id"), array(lit(1.0f), lit(0.0f)).as("embedding"))
    val e = intercept[IllegalArgumentException](
      Similarity.bitextMarginMine(emb, col("vec_id") === 0, allPairs = true))
    assert(e.getMessage.contains(s"$n rows > Dedup.BroadcastSafeCorpusRows = 65536"))
  }

  test("bitext blocking recall detects cross-cell misses (q_bitext_recall's metric)") {
    // the metric must MEASURE blocking loss, pinned at both ends
    // (VERDICT r16 #2 — the production oracle replays the same
    // blocking, so a cross-cell miss is invisible to it):
    //  - one cell (lossless blocking) → blocked == truth, recall 1;
    //  - singleton cells (over-sharded blocking: every mutual pair is
    //    cross-cell) → blocked mines NOTHING, recall 0 — the miss is
    //    loud in the metric instead of silently absent.
    def v(a: Float, b: Float) = Array(a, b, 0f, 0f)
    val emb = Seq(
      (0L, v(100f, 0f)), (1L, v(100f, 1f)),
      (2L, v(-100f, 10f)), (3L, v(-100f, 0f)),
      (4L, v(0f, 100f)), (5L, v(1f, 100f))).toDF("vec_id", "embedding")
    val side = pmod(col("vec_id"), lit(2)) === 0
    val truth = Similarity.bitextMarginMine(emb, side, k = 2,
        minMarginPpm = 0L, allPairs = true)
      .select("x_id", "y_id").as[(Long, Long)].collect().toSet
    assert(truth == Set((0L, 1L), (2L, 3L), (4L, 5L)),
      s"the three directions must pair up: $truth")
    val lossless = Similarity.bitextMarginMine(emb, side, k = 2,
        minMarginPpm = 0L, nlist = 1)
      .select("x_id", "y_id").as[(Long, Long)].collect().toSet
    assert(lossless == truth, "one cell = no blocking loss, recall 1")
    val sharded = Similarity.bitextMarginMine(emb, side, k = 2,
        minMarginPpm = 0L, nlist = 6)
      .select("x_id", "y_id").as[(Long, Long)].collect().toSet
    assert(sharded.isEmpty,
      s"singleton cells put every pair cross-cell — recall must read 0, got $sharded")
  }

  test("bitextMarginMine: sides never mix and the threshold gates") {
    val emb = spark.read.parquet(s"${SparkTestSession.sfDir}/embeddings.parquet")
    val out = Similarity.bitextMarginMine(emb, pmod(col("vec_id"), lit(2)) === 0,
        k = 4, minMarginPpm = 1000000L)
      .select("x_id", "y_id", "margin_ppm").as[(Long, Long, Long)].collect()
    assert(out.nonEmpty)
    assert(out.forall { case (x, y, m) => x % 2 == 0 && y % 2 == 1 && m >= 1000000L })
    // a y_id appears at most once (mutual top-1 is one-to-one)
    assert(out.map(_._2).distinct.length == out.length)
    assert(out.map(_._1).distinct.length == out.length)
    // an unreachable threshold mines nothing
    val none = Similarity.bitextMarginMine(emb, pmod(col("vec_id"), lit(2)) === 0,
        k = 4, minMarginPpm = 100000000L)
    assert(none.count() == 0)
  }
}

class MediaStreamSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  test("media pipeline: REAL codec round-trip (PNG decode matches synthesis)") {
    val docs = spark.read.parquet(s"${SparkTestSession.sfDir}/documents.parquet")
    val feats = graft.multimodal.Media.extractFeatures(
      spark, graft.multimodal.Media.asMediaTable(docs))
    // media_id 0 is a PNG: 8x8, px(x,y) = (x+y) % 256 — the decoded
    // dims and exact gray sum prove the bytes went through ImageIO,
    // not a formula replay (the payload is a compressed container)
    val f = feats.filter(col("media_id") === 0).collect().head
    assert(f.width == 8 && f.height == 8 && f.n_px == 64)
    assert(f.px_sum == (for (x <- 0 until 8; y <- 0 until 8) yield (x + y) % 256).sum)
    assert(f.byte_len > 0)
    // media_id 1 is a WAV: 65 unsigned 8-bit samples (i*3 + 1) % 256
    val a = feats.filter(col("media_id") === 1).collect().head
    assert(a.width == 65 && a.height == 1)
    assert(a.px_sum == (0 until 65).map(i => (i * 3 + 1) % 256).sum)
    // media_id 2 is an animated GIF: 10x16, 4 frames
    val v = feats.filter(col("media_id") === 2).collect().head
    assert(v.width == 10 && v.height == 16 && v.n_px == 10L * 16 * 4)
    assert(v.px_sum == (for (fr <- 0 until 4; x <- 0 until 10; y <- 0 until 16)
      yield (x + y + 2 + fr * 7) % 256).sum)
    // determinism
    val f2 = feats.filter(col("media_id") === 0).collect().head
    assert(f == f2)
  }

  test("aHash matches a pixel-formula reference and banding is lossless at hamming<=3") {
    val docs = spark.read.parquet(s"${SparkTestSession.sfDir}/documents.parquet")
    val hs = graft.multimodal.Media.aHash(
        spark, graft.multimodal.Media.asMediaTable(docs))
      .collect().map(r => r.media_id -> r.ahash).toMap
    assert(hs.nonEmpty)
    // reference: recompute a few hashes straight from the synthesis
    // formula (no codec) — decode-side and formula-side must agree
    // bit-for-bit
    def ref(id: Long): Long = {
      val (w, h) = ((8 + id % 24).toInt, (8 + id * 7 % 16).toInt)
      val vs = for (y <- 0 until h; x <- 0 until w)
        yield ((y * 8 / h) * 8 + x * 8 / w, ((x + y + id) % 256))
      val tot = vs.map(_._2).sum.toLong
      val nPx = w.toLong * h
      val byB = vs.groupBy(_._1)
      (0 until 64).foldLeft(0L) { (acc, b) =>
        byB.get(b) match {
          case Some(cells) if cells.map(_._2).sum.toLong * nPx > tot * cells.size => acc | (1L << b)
          case _ => acc
        }
      }
    }
    for (id <- hs.keys.take(8)) assert(hs(id) == ref(id), s"hash mismatch for $id")
    // lossless-banding invariant on the full corpus: every hamming<=3
    // pair shares at least one exact 16-bit band (pigeonhole)
    val ids = hs.keys.toSeq.sorted
    for {
      (a, ai) <- ids.zipWithIndex; b <- ids.drop(ai + 1)
      if java.lang.Long.bitCount(hs(a) ^ hs(b)) <= 3
    } assert((0 until 4).exists(k =>
      ((hs(a) >> (16 * k)) & 0xFFFF) == ((hs(b) >> (16 * k)) & 0xFFFF)))
  }

  test("composed multimodal pipeline: real decode -> feature vector -> LSH buckets") {
    // the end-to-end shape a media dedup pipeline takes at scale:
    // binary column -> partition-batched codec decode -> a float
    // feature vector -> LSH bucketing for candidate generation.
    val docs = spark.read.parquet(s"${SparkTestSession.sfDir}/documents.parquet").limit(64)
    val feats = graft.multimodal.Media.extractFeatures(
      spark, graft.multimodal.Media.asMediaTable(docs))
    val vecs = feats.toDF().select(col("media_id"),
      array(col("byte_len").cast("float"), col("width").cast("float"),
        col("height").cast("float"),
        (col("px_sum") % 1000L).cast("float")).as("feature_vec"))
    val bucketed = graft.operators.Similarity
      .withLshBuckets(vecs, "feature_vec", tables = 2, planes = 4, dim = 4)
    val rows = bucketed.select("media_id", "tbl", "bucket").collect()
    assert(rows.length == 64 * 2)                       // one row per (media, table)
    assert(rows.map(_.getLong(0)).distinct.length == 64)
    // determinism: hyperplanes are seeded — same buckets on re-run
    val again = graft.operators.Similarity
      .withLshBuckets(vecs, "feature_vec", tables = 2, planes = 4, dim = 4)
      .select("media_id", "tbl", "bucket").collect()
    assert(rows.map(_.toString).sorted.toSeq == again.map(_.toString).sorted.toSeq)
  }

  test("streaming windowed agg equals batch equivalent") {
    val streamed = graft.streaming.EventStream
      .runBatchEquivalent(spark, SparkTestSession.sfDir, "t_stream")
      .collect()
    val batch = graft.queries.QueriesText.queries("q_stream_window") // same code path
    val tbl = graft.sources.Tables(spark, SparkTestSession.sfDir).events
      .groupBy(date_format(date_trunc("hour", col("ts")), "yyyy-MM-dd HH:mm:ss")
        .as("bucket_start"), col("event_type"))
      .agg(count(lit(1)).as("n_events"),
        round(sum(col("value").cast("decimal(28,15)")).cast("double"), 4).as("value_sum"))
      .orderBy("bucket_start", "event_type").collect()
    assert(streamed.map(_.toString).toSeq == tbl.map(_.toString).toSeq)
  }
}

class EntrySpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark

  test("entry returns rows") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("every oracle key has a query") {
    val missing = SparkEntry.oracleSql.keySet -- SparkEntry.queries.keySet
    assert(missing.isEmpty, s"oracles without queries: $missing")
  }

  test("oracle_sql.json and _failed.json content round-trips through ObjectMapper") {
    import scala.jdk.CollectionConverters._
    val nasty = "SELECT '\"q\"', 'a\\b'\tFROM t\r\n-- \u0001 end"
    val oracle = SparkEntry.oracleSql + ("q_nasty" -> nasty)
    val failed = scala.collection.mutable.LinkedHashMap(
      "q_nasty" -> s"RuntimeException: $nasty", "q_plain" -> "boom")
    val dir = java.nio.file.Files.createTempDirectory("graft-json")
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper
    def readBack(name: String): Map[String, String] = mapper
      .readValue(dir.resolve(name).toFile, classOf[java.util.Map[String, String]])
      .asScala.toMap
    Json.writeFile(s"$dir/oracle_sql.json", oracle)
    Json.writeFile(s"$dir/_failed.json", failed)
    assert(readBack("oracle_sql.json") == oracle)
    assert(readBack("_failed.json") == failed.toMap)
  }
}

class TokenizerSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  test("BPE-ish tokenization splits letter/digit/punct runs") {
    val df = Seq("hello world42!? ok", "").toDF("text")
    val out = df.select(TextFunctions.bpeTokens(col("text"))).as[Seq[String]].collect()
    assert(out(0) == Seq("hello", "world", "42", "!?", "ok"))
    assert(out(1).isEmpty)
  }

  test("rolling fingerprint is order-sensitive, md5 fingerprint is not") {
    val df = Seq("alpha beta gamma", "gamma beta alpha").toDF("text")
      .select(col("text"), TextFunctions.tokens(col("text")).as("toks"))
    val roll = df.select(TextFunctions.rollingFingerprint(col("toks"))).as[Long].collect()
    assert(roll(0) != roll(1)) // different order → different rolling hash
    val same = Seq("alpha beta", "ALPHA beta.").toDF("text")
      .select(TextFunctions.fingerprint(col("text"))).as[String].collect()
    assert(same(0) == same(1)) // set/normalized fingerprint ignores case+punct
    // determinism across evaluations
    val again = df.select(TextFunctions.rollingFingerprint(col("toks"))).as[Long].collect()
    assert(roll.toSeq == again.toSeq)
  }
}

class ComponentsIvfSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  test("connected components merges chained pairs into one cluster") {
    // 1-2, 2-3 chain plus isolated pair 10-11
    val edges = Seq((1L, 2L), (2L, 3L), (10L, 11L)).toDF("id_a", "id_b")
    val comps = graft.operators.Components.connectedComponents(edges)
      .as[(Long, Long)].collect().toMap
    assert(comps(1L) == 1L && comps(2L) == 1L && comps(3L) == 1L)
    assert(comps(10L) == 10L && comps(11L) == 10L)
    val clusters = graft.operators.Components.dedupClusters(edges)
      .as[(Long, Long, Long)].collect().toSet
    assert(clusters == Set((1L, 1L, 3L), (10L, 10L, 2L)))
  }

  test("IVF ANN finds neighbors with decent recall vs brute force") {
    val emb = spark.read.parquet(s"${SparkTestSession.sfDir}/embeddings.parquet")
    val q = emb.filter(col("vec_id") < 3)
    val bf = graft.operators.Similarity.bruteForceTopK(emb, q, 5)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val ivf = graft.operators.Similarity.ivfTopK(emb, q, 5, nlist = 8, nprobe = 4)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    assert(ivf.nonEmpty && (ivf & bf).nonEmpty)
  }

  test("int8 IVF at nprobe = nlist reproduces brute force exactly") {
    // every cell probed -> candidates = whole corpus, so the int8
    // cell assignment / probe ranking / candidate join / top-k must
    // reproduce exact brute force regardless of what the clustering
    // learned — the same exhaustive-probe property the ML-KMeans twin
    // (q_ann_ivf_verify) pins, now for the deterministic trainer
    val emb = spark.read.parquet(s"${SparkTestSession.sfDir}/embeddings.parquet")
    val bf = graft.operators.Similarity
      .bruteForceTopK(emb, emb.filter(col("vec_id") < 5), 4)
      .select("query_id", "neighbor_id", "rk").as[(Long, Long, Int)].collect().toSet
    val ivf = graft.operators.Similarity
      .ivfInt8TopK(emb, col("vec_id") < 5, k = 4, nlist = 8, iters = 2, nprobe = 8)
      .select("query_id", "neighbor_id", "rk").as[(Long, Long, Int)].collect().toSet
    assert(ivf == bf, "exhaustive probe must equal brute force")
  }

  test("int8 IVF at production nprobe returns a ranked subset with nonzero recall") {
    val emb = spark.read.parquet(s"${SparkTestSession.sfDir}/embeddings.parquet")
    val ivf = graft.operators.Similarity
      .ivfInt8TopK(emb, col("vec_id") < 5, k = 4, nlist = 8, iters = 2, nprobe = 2)
      .select("query_id", "neighbor_id", "rk").as[(Long, Long, Int)].collect().toSeq
    val bf = graft.operators.Similarity
      .bruteForceTopK(emb, emb.filter(col("vec_id") < 5), 4)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    // per query: ranks are 1..n with no gaps, neighbors distinct
    ivf.groupBy(_._1).foreach { case (_, rows) =>
      assert(rows.map(_._3).sorted == (1 to rows.size).toSeq)
      assert(rows.map(_._2).distinct.size == rows.size)
    }
    val hits = ivf.map(r => (r._1, r._2)).toSet & bf
    assert(hits.nonEmpty, "2-of-8-cell probe should still recover some true neighbors")
  }

  test("int8 IVF join-path probe (nlist > literalProbeMaxK) matches the literal probe") {
    // the literal probe's expression tree is nlist x dim nodes — the
    // codegen bomb Cluster.assignJoin guards against; past
    // LiteralAssignMaxK the probe switches to an explode + broadcast-
    // join + (dist, cid)-ranked window. Both are exact integer
    // arithmetic with the same tie-break, so the probe sets — and
    // therefore the full result — must be identical. literalProbeMaxK=0
    // forces the join path at a small nlist to prove it.
    val emb = spark.read.parquet(s"${SparkTestSession.sfDir}/embeddings.parquet")
    def run(seam: Int) = graft.operators.Similarity
      .ivfInt8TopK(emb, col("vec_id") < 5, k = 4, nlist = 8, iters = 2, nprobe = 3,
        literalProbeMaxK = seam)
      .select("query_id", "neighbor_id", "rk").as[(Long, Long, Int)].collect().toSet
    assert(run(0) == run(64), "join-path probe must be bit-identical to the literal probe")
  }
}
