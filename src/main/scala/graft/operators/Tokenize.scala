package graft.operators

import graft.Materialize
import graft.functions.TextFunctions
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import scala.collection.mutable

/** Real byte-pair-encoding tokenization, table-driven: merge rules are
  * DATA (the public GPT-2 `merges.txt` format — one "left right" pair
  * per line, rank = line order), not code. Exact token counts are the
  * unit every LLM-pipeline decision (packing, pricing, length filters)
  * is denominated in — the regex pre-tokenizer (`q_token_bpe`) only
  * approximates them.
  *
  * Spark posture: the merge table is vocabulary-sized by definition →
  * broadcast once; encoding is a per-row imperative merge loop (the
  * lowest-rank adjacent pair is folded repeatedly), which no built-in
  * column function expresses — this is the sanctioned `mapPartitions`
  * case: one codec + one word-cache per partition, no per-row setup,
  * no Python, no shuffle. Training aggregates the corpus ONCE into a
  * word-frequency dictionary (one shuffle), caps it at `maxWords`
  * (standard practice — the head carries the mass), and runs the
  * classic merge-count loop on the driver over that config-sized dict.
  *
  * Deviation from GPT-2 noted: symbols start at CHARACTER level (the
  * test corpus is ASCII; byte-level round-tripping adds nothing here)
  * and there is no end-of-word marker. Both are properties of the
  * TRAINED TABLE, not the engine — a real GPT-2 merges file slots in
  * unchanged.
  */
object Tokenize {

  /** Pre-tokenizer shared with the declarative surface
    * (TextFunctions.BpePattern): letter runs, digit runs, punct runs. */
  private val Pretoken = java.util.regex.Pattern.compile(TextFunctions.BpePattern)

  def pretokenize(text: String): Iterator[String] = new Iterator[String] {
    private val m = Pretoken.matcher(text)
    private var ready = m.find()
    override def hasNext: Boolean = ready
    override def next(): String = { val s = m.group(); ready = m.find(); s }
  }

  /** Split a word into CODEPOINT symbols (not UTF-16 chars): the
    * distributed trainer's Spark-side `substring(w, i, 1)` is
    * codepoint-based (UTF8String counts code points), so the JVM
    * trainer/codec must match or the two would diverge on
    * supplementary-plane text (emoji, rare CJK). */
  private[graft] def codepointSyms(w: String): Array[String] = {
    val out = new mutable.ArrayBuffer[String](w.length)
    var i = 0
    while (i < w.length) {
      val n = Character.charCount(w.codePointAt(i))
      out += w.substring(i, i + n)
      i += n
    }
    out.toArray
  }

  /** Code-point string order (== UTF-8 binary order == Spark's
    * UTF8String comparison). The driver trainer must break ties
    * exactly like the distributed trainer's Spark-side ORDER BY;
    * Java String.compareTo compares UTF-16 code units, which ranks
    * supplementary-plane symbols (surrogate pairs, 0xD800-) BELOW
    * BMP chars in [U+E000,U+FFFF] — code-point order ranks them
    * above. */
  private[graft] def codePointCompare(a: String, b: String): Int = {
    var i = 0
    while (i < a.length && i < b.length) {
      val ca = a.codePointAt(i); val cb = b.codePointAt(i)
      if (ca != cb) return Integer.compare(ca, cb)
      i += Character.charCount(ca)
    }
    Integer.compare(a.length, b.length)
  }

  /** (count desc, left, right) with code-point string comparison —
    * the shared tie-break rule of both trainers. */
  private val pairCountOrdering: Ordering[((String, String), Long)] =
    new Ordering[((String, String), Long)] {
      override def compare(x: ((String, String), Long), y: ((String, String), Long)): Int = {
        val byN = java.lang.Long.compare(y._2, x._2)
        if (byN != 0) byN
        else {
          val byL = codePointCompare(x._1._1, y._1._1)
          if (byL != 0) byL else codePointCompare(x._1._2, y._1._2)
        }
      }
    }

  /** GPT-2 merges.txt lines → ranked merge pairs. Canonical parsers
    * drop ONLY the first line when it is the `#version:` header — a
    * later rule whose LEFT symbol is literally '#version…' (possible
    * for code-trained vocabularies) must be kept, so the header test
    * is positional, not a prefix filter over the whole file. Blank
    * lines are skipped anywhere. */
  def parseMergesLines(lines: Seq[String]): Seq[(String, String)] = {
    val body =
      if (lines.nonEmpty && lines.head.trim.startsWith("#version")) lines.tail
      else lines
    body.iterator
      .map(_.trim)
      .filter(_.nonEmpty)
      .map { l =>
        val sp = l.split(" ", 2)
        require(sp.length == 2, s"malformed merges line: '$l'")
        (sp(0), sp(1))
      }.toSeq
  }

  /** The encoder: applies ranked merges exactly as GPT-2's bpe() —
    * repeatedly find the lowest-rank adjacent pair present and merge
    * ALL its occurrences left-to-right. Serializable so one instance
    * rides a broadcast into executors. */
  final class BpeCodec(merges: Seq[(String, String)]) extends Serializable {
    private val ranks: Map[(String, String), Int] = merges.zipWithIndex.toMap

    // per-instance word cache: corpora repeat words heavily, and the
    // codec is partition-local (one cache per partition, bounded)
    @transient private lazy val cache = new java.util.LinkedHashMap[String, Array[String]](
      1024, 0.75f, true) {
      override def removeEldestEntry(e: java.util.Map.Entry[String, Array[String]]): Boolean =
        size() > 50000
    }

    def encodeWord(word: String): Array[String] = {
      val hit = cache.get(word)
      if (hit != null) return hit
      var parts: Array[String] = codepointSyms(word)
      var done = parts.length < 2
      while (!done) {
        var bestRank = Int.MaxValue
        var i = 0
        while (i < parts.length - 1) {
          val r = ranks.getOrElse((parts(i), parts(i + 1)), Int.MaxValue)
          if (r < bestRank) bestRank = r
          i += 1
        }
        if (bestRank == Int.MaxValue) done = true
        else {
          val (l, r) = merges(bestRank)
          val out = new mutable.ArrayBuffer[String](parts.length)
          var j = 0
          while (j < parts.length) {
            if (j < parts.length - 1 && parts(j) == l && parts(j + 1) == r) {
              out += l + r; j += 2
            } else { out += parts(j); j += 1 }
          }
          parts = out.toArray
          done = parts.length < 2
        }
      }
      cache.put(word, parts)
      parts
    }

    def encode(text: String): Array[String] =
      pretokenize(text).flatMap(encodeWord).toArray

    def countTokens(text: String): Int = {
      var n = 0
      val it = pretokenize(text)
      while (it.hasNext) n += encodeWord(it.next()).length
      n
    }
  }

  /** Learn `numMerges` merge rules from a text column. One corpus
    * shuffle builds the word-frequency dictionary; the top `maxWords`
    * by (count desc, word) — deterministic — come to the driver and
    * the classic weighted pair-count loop runs there. Ties in pair
    * counts break to the smallest pair in CODE-POINT order (matching
    * Spark's UTF8String comparison, see [[codePointCompare]]), so the
    * trained table is a pure function of the corpus and identical to
    * [[trainBpeDistributed]]'s even on supplementary-plane text. */
  def trainBpe(df: DataFrame, textCol: String,
               numMerges: Int = 100, maxWords: Int = 5000): Seq[(String, String)] = {
    val wordFreq: Seq[(String, Long)] =
      df.select(explode(TextFunctions.bpeTokens(col(textCol))).as("w"))
        .groupBy("w").agg(count(lit(1)).as("n"))
        .orderBy(col("n").desc, col("w"))
        .limit(maxWords)
        .collect().toSeq
        .map(r => (r.getString(0), r.getLong(1)))

    var words: Array[(Array[String], Long)] =
      wordFreq.map { case (w, n) => (codepointSyms(w), n) }.toArray
    val merges = mutable.ArrayBuffer[(String, String)]()
    var continue = true
    while (merges.size < numMerges && continue) {
      val pairCounts = mutable.HashMap[(String, String), Long]()
      words.foreach { case (syms, n) =>
        var i = 0
        while (i < syms.length - 1) {
          val p = (syms(i), syms(i + 1))
          pairCounts.update(p, pairCounts.getOrElse(p, 0L) + n)
          i += 1
        }
      }
      if (pairCounts.isEmpty) continue = false
      else {
        val (bestPair, bestN) = pairCounts.toSeq.min(pairCountOrdering)
        if (bestN < 2) continue = false // a pair seen once generalizes to nothing
        else {
          merges += bestPair
          val (l, r) = bestPair
          words = words.map { case (syms, n) =>
            if (syms.length < 2) (syms, n)
            else {
              val out = new mutable.ArrayBuffer[String](syms.length)
              var j = 0
              while (j < syms.length) {
                if (j < syms.length - 1 && syms(j) == l && syms(j + 1) == r) {
                  out += l + r; j += 2
                } else { out += syms(j); j += 1 }
              }
              (out.toArray, n)
            }
          }
        }
      }
    }
    merges.toSeq
  }

  /** FULLY DISTRIBUTED BPE training — the uncapped sibling of
    * [[trainBpe]]: the word-frequency DICTIONARY (vocabulary-sized,
    * but unbounded) stays a DataFrame for the whole run; each merge
    * round is ONE pair-count shuffle over the dictionary plus a
    * 1-row top-pair collect, and the winning merge is applied as a
    * narrow codegen'd HOF fold (no driver dict, no cap, no bias).
    * Tie-breaks match [[trainBpe]] exactly — (count desc, left,
    * right) — so at an unbounded cap the two trainers are
    * spec-interchangeable; at 100 TB this is the path that trains on
    * the FULL dictionary (numMerges small driver round-trips over a
    * vocabulary-sized table, each partial-aggregating map-side).
    *
    * The fold applies the round's (l, r) merge left-to-right exactly
    * like the scan in [[BpeCodec.encodeWord]]: a merged token l+r can
    * never equal l (r is non-empty), so the fold's look-behind never
    * re-merges a token the scan would have skipped.
    *
    * Per-round lineage is truncated by a checkpoint (the Components
    * lesson: 100 rounds of HOF transforms would otherwise stack into
    * one giant plan); each round's checkpoint is released once the
    * next one is made. */
  def trainBpeDistributed(df: DataFrame, textCol: String,
                          numMerges: Int = 100): Seq[(String, String)] = {
    val spark = df.sparkSession
    import spark.implicits._
    // structural-only expr (no data-derived literals embedded)
    val charSplit = expr("transform(sequence(1, length(w)), i -> substring(w, i, 1))")
    val adjPairs = expr(
      "transform(sequence(0, size(syms) - 2), " +
        "i -> struct(element_at(syms, i + 1) as l, element_at(syms, i + 2) as r))")
    Materialize.scoped { s =>
      var words = s.checkpoint(df
        .select(explode(TextFunctions.bpeTokens(col(textCol))).as("w"))
        .groupBy("w").agg(count(lit(1)).as("n"))
        .select(charSplit.as("syms"), col("n"))
        .filter(size(col("syms")) >= 2))
      val merges = mutable.ArrayBuffer[(String, String)]()
      var continue = true
      while (merges.size < numMerges && continue) {
        val top = words.select(explode(adjPairs).as("p"), col("n"))
          .groupBy(col("p.l").as("l"), col("p.r").as("r"))
          .agg(sum(col("n")).as("cnt"))
          .orderBy(col("cnt").desc, col("l"), col("r"))
          .limit(1)
          .as[(String, String, Long)].collect()
        if (top.isEmpty || top.head._3 < 2) continue = false // same stop rule as trainBpe
        else {
          val (l, r, _) = top.head
          merges += ((l, r))
          val mergedTok = lit(l + r)
          val applied = words.select(
            aggregate(col("syms"), array().cast("array<string>"), (acc, s) =>
              when(size(acc) > 0 && element_at(acc, -1) === lit(l) && s === lit(r),
                concat(slice(acc, lit(1), size(acc) - 1), array(mergedTok)))
                .otherwise(concat(acc, array(s)))).as("syms"),
            col("n"))
            .filter(size(col("syms")) >= 2) // fully-merged words can't pair again
          val next = s.checkpoint(applied)
          s.release(words)
          words = next
        }
      }
      merges.toSeq
    }
  }

  /** Full per-row BPE encoding: (idCol, bpe_tokens array<string>,
    * n_bpe_exact). Same broadcast-codec pass as [[bpeCounts]] but
    * materializing the token stream — the form sequence packing
    * flattens into training rows. */
  def bpeEncode(df: DataFrame, idCol: String, textCol: String,
                merges: Seq[(String, String)]): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val b = spark.sparkContext.broadcast(merges)
    df.select(col(idCol).cast("long"), col(textCol).cast("string"))
      .as[(Long, String)]
      .mapPartitions { it =>
        val codec = new BpeCodec(b.value)
        it.map { case (id, text) =>
          val toks = codec.encode(if (text == null) "" else text)
          (id, toks, toks.length)
        }
      }
      .toDF(idCol, "bpe_tokens", "n_bpe_exact")
  }

  /** Exact per-row BPE token counts: (idCol, n_pretokens, n_bpe_exact).
    * Merges broadcast once; one narrow pass. */
  def bpeCounts(df: DataFrame, idCol: String, textCol: String,
                merges: Seq[(String, String)]): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val b = spark.sparkContext.broadcast(merges)
    df.select(col(idCol).cast("long"), col(textCol).cast("string"))
      .as[(Long, String)]
      .mapPartitions { it =>
        val codec = new BpeCodec(b.value)
        it.map { case (id, text) =>
          val t = if (text == null) "" else text
          var pre = 0
          val words = pretokenize(t)
          var bpe = 0
          while (words.hasNext) { pre += 1; bpe += codec.encodeWord(words.next()).length }
          (id, pre, bpe)
        }
      }
      .toDF(idCol, "n_pretokens", "n_bpe_exact")
  }

  /** Overlapping token-window CHUNKING — the RAG/embedding prep op:
    * windows of `size` tokens starting every `stride` tokens
    * (stride < size ⇒ overlap), the tail window short rather than
    * dropped, so every token lands in at least one chunk. A document
    * of n tokens yields 1 chunk when n <= size, else
    * ceil((n-size)/stride)+1; an EMPTY (or whitespace-only) document
    * yields ZERO chunks — `split('')` produces `['']`, which is 0
    * tokens by the tokenCountOfTokens convention, and downstream
    * RAG/embedding consumers must not receive phantom chunks.
    *
    * Scale: a pure narrow map + generate — zero shuffles; chunk ids
    * are (doc, position) pairs so downstream embedding/packing can
    * repartition however it likes. posexplode_outer + post-filter for
    * the same below-Generate reason as [[Dedup.dedupSpans]].
    */
  def chunk(df: DataFrame, idCol: String, textCol: String,
            size: Int = 256, stride: Int = 192): DataFrame = {
    require(size >= 1 && stride >= 1 && stride <= size,
      "need 1 <= stride <= size")
    val toks = TextFunctions.tokens(col(textCol))
    val n = org.apache.spark.sql.functions.size(col("__toks"))
    val nChunks = when(n <= size, lit(1)).otherwise(
      ceil((n - size).cast("double") / stride).cast("int") + 1)
    df.select(col(idCol), toks.as("__toks"))
      .select(col(idCol),
        transform(sequence(lit(0), nChunks - 1), i => struct(
          array_join(slice(col("__toks"), i * stride + 1, lit(size)), " ").as("chunk_text"),
          least(lit(size), n - i * stride).cast("long").as("n_tokens"))).as("__chunks"))
      .select(col(idCol), posexplode_outer(col("__chunks")).as(Seq("chunk_idx", "c")))
      // a chunk can only have empty text when the whole document
      // normalized to '' (split yields [''], n=1) — drop that phantom
      // chunk so empty docs emit zero rows
      .filter(col("c").isNotNull && col("c.chunk_text") =!= "")
      .select(col(idCol), col("chunk_idx").cast("long").as("chunk_idx"),
        col("c.n_tokens").as("n_tokens"), col("c.chunk_text").as("chunk_text"))
  }
}
