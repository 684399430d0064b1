package graft

import java.util.concurrent.atomic.AtomicInteger

import graft.operators.{Components, Dedup, Graph, LangModel}
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.functions.{col, when}
import org.scalatest.funsuite.AnyFunSuite

/** Jobs per call of the iterative operators, as upper bounds: under
  * AQE every stage is a job and each costs tens of milliseconds of
  * scheduling, so a change that adds jobs to these loops must move a
  * bound here and say why. The bounds are the counts on these fixed
  * graphs in the test session (local[4], 4 shuffle partitions, AQE on).
  */
class JobBudgetSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private val Tag = "graft.test.jobBudget"

  /** Run `body`; return its value and the number of jobs it started.
    * Jobs are matched by a local property, which Spark hands on to
    * the threads that submit AQE stages and broadcasts. */
  private def jobsOf[T](body: => T): (T, Int) = {
    val sc = spark.sparkContext
    val id = java.util.UUID.randomUUID().toString
    val jobs = new AtomicInteger(0)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(_.getProperty(Tag) == id)) jobs.incrementAndGet()
    }
    sc.addSparkListener(listener)
    sc.setLocalProperty(Tag, id)
    try {
      val out = body
      org.apache.spark.sql.GraftBridge.drainListenerBus(sc, 30000)
      (out, jobs.get())
    } finally {
      sc.setLocalProperty(Tag, null)
      sc.removeSparkListener(listener)
    }
  }

  test("Graph.hitsPpm(iters = 3) stays within its job budget") {
    // 6 hubs pointing at overlapping sets of 5 authorities
    val edges = (for (u <- 1L to 6L; v <- 101L to 105L if (u + v) % 3 != 0) yield (u, v))
      .toDF("src", "dst")
    val (scores, jobs) = jobsOf(Graph.hitsPpm(edges, "src", "dst", iters = 3))
    assert(scores.count() == edges.select("src").union(edges.select("dst")).distinct().count())
    assert(jobs <= 29, s"hitsPpm ran $jobs jobs")
  }

  test("Components.connectedComponents stays within its job budget") {
    // a 12-edge chain and a triangle: several star rounds to converge
    val edges = ((1L to 12L).map(k => (k, k + 1)) ++ Seq((50L, 51L), (51L, 52L), (52L, 50L)))
      .toDF("id_a", "id_b")
    val (labels, jobs) = jobsOf(Components.connectedComponents(edges))
    assert(labels.select("component").distinct().count() == 2)
    assert(jobs <= 48, s"connectedComponents ran $jobs jobs")
  }

  // near-dup families on a fixed small corpus; the bounds are the
  // counts before Dedup's four set-similarity joins shared one core
  private lazy val docs = Seq(
    (1L, "the quick brown fox jumps over the lazy dog near the river bank"),
    (2L, "the quick brown fox jumps over the lazy dog near the river bank today"),
    (3L, "a quick brown fox jumps over a lazy dog near the river"),
    (4L, "distributed query engines plan joins with cost based optimizers"),
    (5L, "distributed query engines plan joins with cost based optimizers too"),
    (6L, "the lazy dog near the river bank"),
    (7L, "completely unrelated words about gardening and tomatoes in summer"),
    (8L, "gardening and tomatoes in summer"))
    .toDF("doc_id", "text")

  private def nearDupBudget(name: String, budget: Int)(call: => org.apache.spark.sql.DataFrame) =
    test(s"Dedup.$name stays within its job budget") {
      val (pairs, jobs) = jobsOf(call)
      assert(pairs.count() > 0)
      assert(jobs <= budget, s"$name ran $jobs jobs")
    }

  nearDupBudget("prefixFilterJaccard", 12)(Dedup.prefixFilterJaccard(docs, "doc_id", "text"))
  nearDupBudget("containmentPairs", 12)(Dedup.containmentPairs(docs, "doc_id", "text"))
  nearDupBudget("minhashPrunedJaccard", 11)(Dedup.minhashPrunedJaccard(docs, "doc_id", "text"))
  nearDupBudget("minhashPrunedContainment", 11)(
    Dedup.minhashPrunedContainment(docs, "doc_id", "text"))

  // the four LM scoring entry points on the same corpus, with a target
  // language for DSIR; the apply functions score against models
  // checkpointed before the count starts, as a stored model is read.
  // Before the train and apply functions shared one pass and one
  // scoring step they ran 13, 11, 6 and 5 jobs
  private lazy val lmDocs = docs.withColumn("lang",
    when(col("doc_id") % 2 === 1, "en").otherwise("fr"))
  private val isEn = col("lang") === "en"
  private lazy val models = (LangModel.bigramCounts(lmDocs, "text").localCheckpoint(),
    LangModel.tokenCounts(lmDocs, "text", isEn).localCheckpoint())

  private def lmBudget(name: String, budget: Int)(call: => org.apache.spark.sql.DataFrame) =
    test(s"LangModel.$name stays within its job budget") {
      models
      val (scored, jobs) = jobsOf(call)
      assert(scored.count() > 0)
      assert(jobs <= budget, s"$name ran $jobs jobs")
    }

  lmBudget("bigramSurprisal", 11)(LangModel.bigramSurprisal(lmDocs, "doc_id", "text", 2000000L))
  lmBudget("surprisalApplyCounts", 8)(
    LangModel.surprisalApplyCounts(models._1, lmDocs, "doc_id", "text", 2000000L))
  lmBudget("dsirWeight", 6)(LangModel.dsirWeight(lmDocs, "doc_id", "text", isEn, 1000000L))
  lmBudget("dsirApplyCounts", 5)(LangModel.dsirApplyCounts(models._2, lmDocs, "doc_id", "text"))
}
