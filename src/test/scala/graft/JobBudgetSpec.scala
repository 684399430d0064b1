package graft

import java.util.concurrent.atomic.AtomicInteger

import graft.operators.{Components, Dedup, Graph, LangModel, Split}
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.functions.{col, sum, when}
import org.scalatest.funsuite.AnyFunSuite

/** Jobs per call of the iterative operators, as upper bounds: under
  * AQE every stage is a job and each costs tens of milliseconds of
  * scheduling, so a change that adds jobs to these loops must move a
  * bound here and say why. The bounds are the counts on these fixed
  * graphs in the test session (local[4], 4 shuffle partitions, AQE on).
  * The same fixed cost per class holds for code generation, so two
  * cases pin the compiles a plan makes: none for a repeated shape, and
  * none in the tasks of a fresh one beyond what the driver compiled.
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

  // a 12-edge chain and a triangle: several star rounds to converge,
  // or one union-find task within the one-task bound
  private lazy val chainAndTriangle =
    ((1L to 12L).map(k => (k, k + 1)) ++ Seq((50L, 51L), (51L, 52L), (52L, 50L)))
      .toDF("id_a", "id_b")

  private def componentsJobs(oneTaskEdges: Long): Int = {
    val (labels, jobs) = jobsOf(
      Components.solve(chainAndTriangle, "id_a", "id_b", 15, oneTaskEdges))
    assert(labels.select("component").distinct().count() == 2)
    jobs
  }

  test("Components.connectedComponents stays within its job budget") {
    // 48 jobs before an edge set of at most OneTaskEdges rows was
    // solved in one task
    val jobs = componentsJobs(Components.OneTaskEdges)
    assert(jobs <= 3, s"connectedComponents ran $jobs jobs")
  }

  test("Components.connectedComponents above its one-task bound runs the star loop") {
    // the path follows the row count, not the partition count: even an
    // edge set in one shuffle partition runs the star loop above the
    // bound (a one-task run is the 3 jobs above)
    val jobs = SparkTestSession.withConf("spark.sql.shuffle.partitions" -> "1")(componentsJobs(0))
    assert(jobs > 3 && jobs <= 48, s"connectedComponents ran $jobs jobs")
  }

  test("Split.leakFree stays within its job budget") {
    // 52 jobs, its components call's 48 among them, before that call
    // ran in one task
    val docs = (0L until 60L).toDF("doc_id")
    val (split, jobs) = jobsOf(Split.leakFree(docs, "doc_id", chainAndTriangle).collect())
    assert(split.length == 60)
    assert(jobs <= 7, s"leakFree ran $jobs jobs")
  }

  /** Classes Spark's code generator has compiled in this JVM so far. */
  private def compiles: Long = CodegenMetrics.METRIC_COMPILATION_TIME.getCount

  test("a repeated plan shape compiles no new classes") {
    def run() = spark.range(0, 5000, 1, 4).selectExpr("id % 6133 AS k", "id * 3 AS v")
      .groupBy("k").agg(sum("v").as("s")).filter(col("s") > 6133).count()
    run()
    val before = compiles
    run()
    assert(compiles == before, s"the second run compiled ${compiles - before} classes")
  }

  test("a fresh plan's tasks compile nothing the driver compiled") {
    // without AQE, building the physical RDD compiles every whole-stage
    // class on the driver before any task runs; a local task thread
    // that kept the executor's loader would compile each one again
    SparkTestSession.withConf("spark.sql.adaptive.enabled" -> "false") {
      val plan = spark.range(0, 5000, 1, 4).selectExpr("id * 7187 AS v").filter(col("v") % 7 === 3)
        .asInstanceOf[org.apache.spark.sql.classic.Dataset[_]].queryExecution.executedPlan
      val before = compiles
      val rdd = plan.execute()
      val driver = compiles - before
      assert(rdd.count() == 714)
      assert(driver > 0, "the driver compiled nothing")
      assert(compiles - before == driver, s"tasks compiled ${compiles - before - driver} classes")
    }
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
