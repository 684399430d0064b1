package graft

import graft.operators.Infer
import org.scalatest.funsuite.AnyFunSuite

/** Hashed-feature linear inference: score parity with a naive JDK-md5
  * reference (independent of Spark's expression stack), bias-only
  * empty docs, and the bucket-range contract.
  */
class InferSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private def md5Bucket(salt: String, tok: String, b: Int): Int = {
    val d = java.security.MessageDigest.getInstance("MD5")
      .digest((salt + tok).getBytes("UTF-8"))
    val hex = d.map("%02x".format(_)).mkString
    Integer.parseInt(hex.take(3), 16) % b
  }

  private def naiveScore(text: String, weights: Seq[Long], bias: Long): (Long, Long) = {
    val toks = text.toLowerCase.replaceAll("[^a-z0-9 ]", " ")
      .replaceAll(" +", " ").trim.split(" ").filter(_.nonEmpty)
    (toks.length.toLong, bias + toks.map(t => weights(md5Bucket("fh", t, weights.size))).sum)
  }

  test("linearScore matches the naive md5 reference, keeps empty docs at bias") {
    val weights = Seq.tabulate(256)(i => (i.toLong * 37) % 101 - 50)
    val docs = Seq(
      (1L, "The quick brown fox, jumps! Over 42 lazy dogs."),
      (2L, "spark spark spark"),
      (3L, ""),
      (4L, "!!! ... ---")).toDF("doc_id", "text")
    val got = Infer.linearScore(docs, "doc_id", "text", weights, bias = 5L)
      .select("doc_id", "n_tokens", "score", "keep")
      .as[(Long, Long, Long, Boolean)].collect()
      .map(r => r._1 -> r).toMap
    assert(got.size == 4, "every doc appears exactly once")
    for ((id, text) <- Seq(1L -> "The quick brown fox, jumps! Over 42 lazy dogs.",
        2L -> "spark spark spark")) {
      val (n, s) = naiveScore(text, weights, 5L)
      assert(got(id)._2 == n && got(id)._3 == s, s"doc $id")
      assert(got(id)._4 == (s > 0))
    }
    // token-free docs: zero features, bias-only score, still present
    assert(got(3L) == ((3L, 0L, 5L, true)))
    assert(got(4L) == ((4L, 0L, 5L, true)))
  }

  test("repeated tokens accumulate their weight linearly") {
    val weights = Seq.tabulate(16)(_.toLong)
    val w = weights(md5Bucket("fh", "spark", 16))
    val docs = Seq((1L, "spark"), (2L, "spark spark spark")).toDF("doc_id", "text")
    val got = Infer.linearScore(docs, "doc_id", "text", weights)
      .select("doc_id", "score").as[(Long, Long)].collect().toMap
    assert(got(2L) == 3 * got(1L))
    assert(got(1L) == w)
  }

  test("weights size must divide the 3-hex-digit range") {
    intercept[IllegalArgumentException] {
      Infer.linearScore(Seq((1L, "x")).toDF("doc_id", "text"),
        "doc_id", "text", Seq.fill(100)(1L))
    }
  }

  // ─────────────── trainLogistic (r15, VERDICT r14 #1) ───────────────

  /** A linearly separable fixture: positives speak "alpha/bravo"
    * vocabulary, negatives "zulu/yankee" — disjoint token sets, so a
    * hashed-unigram linear model must reach training accuracy 1. */
  private def separable = {
    val pos = (0L until 8L).map(i =>
      (i, s"alpha bravo alpha charlie delta bravo word$i", true))
    val neg = (8L until 16L).map(i =>
      (i, s"zulu yankee zulu xray whiskey yankee word$i", false))
    (pos ++ neg).toDF("doc_id", "text", "y")
  }

  test("trainLogistic separates a separable fixture and closes the loop through linearScore") {
    import org.apache.spark.sql.functions.col
    val docs = separable
    val (w, bias) = Infer.trainLogistic(docs, "doc_id", "text", col("y"),
      buckets = 64, iters = 6, lrDiv = 4L)
    assert(w.size == 64)
    // the trained literals feed the EXISTING inference operator (same
    // salt, same hex3 % B hash) — the whole point of the trainer
    val scored = Infer.linearScore(docs, "doc_id", "text", w, bias)
      .select("doc_id", "keep").as[(Long, Boolean)].collect().toMap
    val truth = docs.select("doc_id", "y").as[(Long, Boolean)].collect().toMap
    val acc = truth.count { case (id, y) => scored(id) == y }
    assert(acc == truth.size, s"training accuracy $acc/${truth.size}")
  }

  test("trainLogistic is partition-layout independent and label-sensitive") {
    import org.apache.spark.sql.functions.col
    val docs = separable
    val a = Infer.trainLogistic(docs.repartition(1), "doc_id", "text", col("y"))
    val b = Infer.trainLogistic(docs.repartition(7, col("text")), "doc_id", "text", col("y"))
    assert(a == b, "weights must not depend on partitioning")
    // flipping labels must flip the learned direction, not no-op
    val c = Infer.trainLogistic(docs, "doc_id", "text", !col("y"))
    assert(c != a)
  }

  test("trainLogistic excludes token-free docs and rejects empty corpora") {
    import org.apache.spark.sql.functions.col
    val docs = Seq((1L, "alpha beta", true), (2L, "...", false))
      .toDF("doc_id", "text", "y")
    // doc 2 has no tokens: training sees only doc 1 (documented
    // contract); one positive doc pushes bias and its buckets up
    val (w, bias) = Infer.trainLogistic(docs, "doc_id", "text", col("y"),
      iters = 1, lrDiv = 1L)
    // step 1: p = 500000, y = 1e6 -> e = -500000; N = 1;
    // bias grad = -500000 -> bias = +500000
    assert(bias == 500000L)
    assert(w.count(_ != 0L) <= 2 && w.exists(_ > 0L))
    intercept[IllegalArgumentException] {
      Infer.trainLogistic(Seq((1L, "!!!")).toDF("doc_id", "text"),
        "doc_id", "text", col("text") === "x")
    }
  }

  // ───────────────── trainOvr / evalBinary (r15) ─────────────────

  /** Three disjoint vocabularies — a hashed-unigram OvR model must
    * reach argmax accuracy 1. */
  private def separable3 = {
    val a = (0L until 6L).map(i => (i, s"alpha bravo alpha charlie word$i", "aa"))
    val b = (6L until 12L).map(i => (i, s"zulu yankee zulu xray word$i", "bb"))
    val c = (12L until 18L).map(i => (i, s"mike november mike oscar word$i", "cc"))
    (a ++ b ++ c).toDF("doc_id", "text", "cls")
  }

  test("trainOvr separates 3 classes; argmax over the linearScore heads predicts every doc") {
    import org.apache.spark.sql.functions.col
    val docs = separable3
    val models = Infer.trainOvr(docs, "doc_id", "text", col("cls"),
      buckets = 64, iters = 6, lrDiv = 4L)
    assert(models.map(_._1) == Seq("aa", "bb", "cc"), "classes sorted")
    // argmax over the K heads, scored through the production inference
    val scores = models.map { case (cls, w, bias) =>
      cls -> Infer.linearScore(docs, "doc_id", "text", w, bias)
        .select("doc_id", "score").as[(Long, Long)].collect().toMap
    }
    val truth = docs.select("doc_id", "cls").as[(Long, String)].collect().toMap
    val correct = truth.count { case (id, cls) => scores.maxBy(_._2(id))._1 == cls }
    assert(correct == truth.size, s"argmax accuracy $correct/${truth.size}")
  }

  test("trainOvr's head equals trainLogistic on the matching binary label") {
    import org.apache.spark.sql.functions.col
    val docs = separable.withColumn("cls",
      org.apache.spark.sql.functions.when(col("y"), "pos").otherwise("neg"))
    val ovr = Infer.trainOvr(docs, "doc_id", "text", col("cls"),
      buckets = 64, iters = 3, lrDiv = 8L).map(m => m._1 -> (m._2, m._3)).toMap
    val bin = Infer.trainLogistic(docs, "doc_id", "text", col("y"),
      buckets = 64, iters = 3, lrDiv = 8L)
    assert(ovr("pos") == bin,
      "the one-vs-rest 'pos' head must replay the binary trajectory exactly")
  }

  test("predictOvr argmaxes the trained heads in one pass; ties go to the first class") {
    import org.apache.spark.sql.functions.col
    val docs = separable3
    val models = Infer.trainOvr(docs, "doc_id", "text", col("cls"),
      buckets = 64, iters = 6, lrDiv = 4L)
    val pred = Infer.predictOvr(docs, "doc_id", "text", models)
      .select("doc_id", "pred").as[(Long, String)].collect().toMap
    val truth = docs.select("doc_id", "cls").as[(Long, String)].collect().toMap
    assert(truth.forall { case (id, cls) => pred(id) == cls },
      s"one-pass argmax must equal the per-head maximum: $pred")
    // hand-built heads: a token-less doc scores bias-only everywhere;
    // equal biases tie -> the FIRST class in order wins
    val handModels = Seq(
      ("aa", IndexedSeq.fill(64)(0L), 5L),
      ("bb", IndexedSeq.fill(64)(0L), 5L))
    val p2 = Infer.predictOvr(Seq((1L, "...")).toDF("doc_id", "text"),
        "doc_id", "text", handModels)
      .select("doc_id", "pred", "pred_score").as[(Long, String, Long)].head()
    assert(p2 == ((1L, "aa", 5L)), s"bias-only tie-break: $p2")
  }

  test("predictOvr with one head scores every doc as linearScore does") {
    val weights = IndexedSeq.tabulate(256)(i => (i.toLong * 37) % 101 - 50)
    val docs = Seq(
      (1L, "The quick brown fox, jumps! Over 42 lazy dogs."),
      (2L, "spark spark spark"),
      (3L, ""),
      (4L, "!!! ... ---")).toDF("doc_id", "text")
    val single = Infer.linearScore(docs, "doc_id", "text", weights, bias = -3L)
      .select("doc_id", "score").as[(Long, Long)].collect().toMap
    val pred = Infer.predictOvr(docs, "doc_id", "text", Seq(("only", weights, -3L)))
      .select("doc_id", "pred", "pred_score").as[(Long, String, Long)].collect()
    assert(pred.length == 4 && pred.forall(_._2 == "only"))
    assert(pred.map(r => r._1 -> r._3).toMap == single, "token-less docs included")
  }

  test("trainLogistic counts a null label as a negative") {
    import org.apache.spark.sql.functions.{coalesce, col, lit, when}
    val docs = separable.withColumn("y3",
      when(col("doc_id") % 3 === 0, lit(null).cast("boolean")).otherwise(col("y")))
    val withNull = Infer.trainLogistic(docs, "doc_id", "text", col("y3"), buckets = 64, iters = 3)
    val coalesced = Infer.trainLogistic(docs, "doc_id", "text",
      coalesce(col("y3"), lit(false)), buckets = 64, iters = 3)
    assert(withNull == coalesced)
    assert(withNull != Infer.trainLogistic(docs, "doc_id", "text", col("y"), buckets = 64, iters = 3),
      "the nulled positives must change the trajectory")
  }

  test("predictOvr rejects a head size that does not divide 4096") {
    intercept[IllegalArgumentException] {
      Infer.predictOvr(Seq((1L, "x")).toDF("doc_id", "text"), "doc_id", "text",
        Seq(("aa", IndexedSeq.fill(100)(1L), 0L)))
    }
  }

  test("evalBinary computes exact confusion and tie-aware AUC on a hand fixture") {
    // scores 3,2,2,1,0 / labels T,T,F,F,T. At the >0 operating point:
    // tp=2 fp=2 tn=0 fn=1. AUC over (pos, neg) pairs with the tie at
    // score 2: (3,2)=1 (3,1)=1 (2,2)=.5 (2,1)=1 (0,2)=0 (0,1)=0
    // -> 3.5/6 = 583333 ppm
    val scored = Seq((3L, true), (2L, true), (2L, false), (1L, false), (0L, true))
      .toDF("score", "y")
    val r = Infer.evalBinary(scored, "score", "y").collect()(0)
    assert(r.getAs[Long]("n_eval") == 5 && r.getAs[Long]("n_pos") == 3
      && r.getAs[Long]("n_neg") == 2)
    assert(r.getAs[Long]("tp") == 2 && r.getAs[Long]("fp") == 2
      && r.getAs[Long]("tn") == 0 && r.getAs[Long]("fn") == 1)
    assert(r.getAs[Long]("accuracy_ppm") == 400000L)
    assert(r.getAs[Long]("precision_ppm") == 500000L)
    assert(r.getAs[Long]("recall_ppm") == 666666L)
    assert(r.getAs[Long]("auc_ppm") == 3500000L / 6L, "AUC = 3.5/6 in ppm (floor)")
  }

  test("evalBinary leaves ratio metrics null where undefined") {
    val allNeg = Seq((-1L, false), (-2L, false)).toDF("score", "y")
    val r = Infer.evalBinary(allNeg, "score", "y").collect()(0)
    assert(r.isNullAt(r.fieldIndex("precision_ppm")), "no predicted positives")
    assert(r.isNullAt(r.fieldIndex("auc_ppm")), "no positive class")
    assert(r.getAs[Long]("accuracy_ppm") == 1000000L)
  }

  test("char n-gram features generalize to UNSEEN words; charNgram=0 is the " +
    "pure-unigram stream") {
    import spark.implicits._
    // train: two classes whose words share per-class character stems;
    // eval: an unseen word per class carrying only the stem signal
    val train = Seq(
      (1L, "abcdef abcdqq", "A"), (2L, "abcdrr abcdss", "A"),
      (3L, "uvwxyz uvwxkk", "B"), (4L, "uvwxmm uvwxnn", "B"))
      .toDF("doc_id", "text", "cls")
    val eval = Seq((10L, "abcdzz"), (11L, "uvwxtt")).toDF("doc_id", "text")
    def preds(n: Int): Map[Long, String] = {
      val m = graft.operators.Infer.trainOvr(train, "doc_id", "text",
        classCol = org.apache.spark.sql.functions.col("cls"),
        buckets = 64, iters = 8, lrDiv = 1L, charNgram = n)
      graft.operators.Infer.predictOvr(eval, "doc_id", "text", m, charNgram = n)
        .select("doc_id", "pred").as[(Long, String)].collect().toMap
    }
    // unigram-only: the eval words are unseen -> all-zero feature
    // weights, every score ties at bias, argmax falls to the first
    // sorted class for both docs (no generalization)
    val uni = preds(0)
    assert(uni(10L) == uni(11L),
      s"unigram model cannot separate unseen words: $uni")
    // char trigrams: the shared stems (#abc #bcd ...) carry the class
    val sub = preds(3)
    assert(sub == Map(10L -> "A", 11L -> "B"),
      s"char-gram model must generalize via stems: $sub")
  }

}
