package graft

import graft.operators.Targets
import graft.operators.Targets.Stage
import java.util.concurrent.atomic.AtomicInteger
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Luigi-analog target discipline (operators/Targets.scala): parquet
  * targets as checkpoints, skip-if-complete re-runs, and deleted /
  * incomplete targets recomputing exactly their downstream cone.
  */
class TargetsSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private def dag(builds: AtomicInteger*) = Seq(
    Stage("clean", Nil, (s, _) => {
      builds(0).incrementAndGet()
      import s.implicits._
      Seq((1L, "a", 10L), (2L, "b", 20L), (3L, "a", 30L)).toDF("id", "k", "v")
    }),
    Stage("agg", Seq("clean"), (_, up) => {
      builds(1).incrementAndGet()
      up("clean").groupBy("k").agg(sum("v").as("total"))
    }),
    Stage("report", Seq("agg"), (_, up) => {
      builds(2).incrementAndGet()
      up("agg").agg(max("total").as("top"))
    }))

  test("run materializes the DAG once, then skips complete targets") {
    val root = java.nio.file.Files.createTempDirectory("targets").toString
    val counters = Seq.fill(3)(new AtomicInteger)
    val stages = dag(counters: _*)
    val first = Targets.run(spark, root, stages)
    assert(first.ran == Seq("clean", "agg", "report") && first.skipped.isEmpty)
    assert(counters.map(_.get) == Seq(1, 1, 1))
    // outputs are real and readable back through the target surface
    assert(Targets.read(spark, root, "report").as[Long].head() == 40L)
    // idempotent re-run: everything target-skipped, nothing rebuilt
    val second = Targets.run(spark, root, stages)
    assert(second.ran.isEmpty && second.skipped.toSet == Set("clean", "agg", "report"))
    assert(counters.map(_.get) == Seq(1, 1, 1))
  }

  test("a cleared target recomputes its cone and nothing upstream") {
    val root = java.nio.file.Files.createTempDirectory("targets").toString
    val counters = Seq.fill(3)(new AtomicInteger)
    val stages = dag(counters: _*)
    Targets.run(spark, root, stages)
    // simulate a crash mid-write: agg loses its _SUCCESS marker only
    val fs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(
      Targets.targetPath(root, "agg") + "/_SUCCESS"), false)
    val rerun = Targets.run(spark, root, stages)
    // agg is incomplete -> re-runs; report is downstream of a stage
    // that ran -> re-runs; clean's target is intact -> skipped
    assert(rerun.ran == Seq("agg", "report") && rerun.skipped == Seq("clean"))
    assert(counters.map(_.get) == Seq(1, 2, 2))
    assert(Targets.read(spark, root, "report").as[Long].head() == 40L)
  }

  test("force re-runs a stage and cascades downstream only") {
    val root = java.nio.file.Files.createTempDirectory("targets").toString
    val counters = Seq.fill(3)(new AtomicInteger)
    val stages = dag(counters: _*)
    Targets.run(spark, root, stages)
    val rerun = Targets.run(spark, root, stages, force = Set("agg"))
    assert(rerun.ran == Seq("agg", "report") && rerun.skipped == Seq("clean"))
    assert(counters.map(_.get) == Seq(1, 2, 2))
  }

  test("the REAL q_pipeline_e2e chain runs as a Targets DAG: output parity, all-skip re-run, cone re-run") {
    // the six production stages (QueriesPipeline.wideDocsStages) over
    // the actual testdata — not a toy DAG: this is the reference's
    // Luigi operating mode on the engine's flagship composed pipeline
    val sfDir = SparkTestSession.sfDir
    val root = java.nio.file.Files.createTempDirectory("targets_e2e").toString
    val stages = graft.queries.QueriesPipeline.wideDocsStages(sfDir)
    val first = Targets.run(spark, root, stages)
    assert(first.ran == Seq("clean_clicks", "registry", "xref", "assoc",
      "derived", "observations", "wide_doc") && first.skipped.isEmpty)

    // DAG-materialized output == the inline lineage chain
    val t = graft.sources.Tables(spark, sfDir)
    val inline = graft.queries.QueriesPipeline.wideDocs(t.events, t.customer)
      .collect().map(_.toSeq).toSet
    val viaDag = Targets.read(spark, root, "wide_doc")
      .collect().map(_.toSeq).toSet
    assert(inline.nonEmpty && viaDag == inline)

    // second materialization: ALL skip, nothing recomputed
    val second = Targets.run(spark, root, stages)
    assert(second.ran.isEmpty && second.skipped.size == 7)

    // cone re-run on the real chain: xref invalidated -> exactly its
    // downstream (assoc, derived, observations, wide_doc) re-runs,
    // the two roots stay skipped
    val fs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(
      Targets.targetPath(root, "xref") + "/_SUCCESS"), false)
    val cone = Targets.run(spark, root, stages)
    assert(cone.ran == Seq("xref", "assoc", "derived", "observations", "wide_doc"))
    assert(cone.skipped.toSet == Set("clean_clicks", "registry"))
    assert(Targets.read(spark, root, "wide_doc")
      .collect().map(_.toSeq).toSet == inline)
  }

  test("independent stages run concurrently; deps are never read early") {
    // diamond with a wide middle: root -> m0..m3 -> join. Each middle
    // stage records its entry/exit window; the scheduler must overlap
    // at least two of them (they share no edge), and `join` must see
    // every middle target COMPLETE (its build asserts on the rows, so
    // a partial/early read fails the run, not just the assertion).
    val root = java.nio.file.Files.createTempDirectory("targets").toString
    val active = new AtomicInteger
    val maxActive = new AtomicInteger
    val mids = (0 until 4).map { i =>
      Stage(s"m$i", Seq("src"), (_, up) => {
        val now = active.incrementAndGet()
        maxActive.getAndUpdate(m => math.max(m, now))
        Thread.sleep(300)
        active.decrementAndGet()
        up("src").withColumn("part", lit(i))
      })
    }
    val stages = Stage("src", Nil, (s, _) => {
      import s.implicits._
      Seq(1L, 2L, 3L).toDF("id")
    }) +: mids :+
      Stage("join", (0 until 4).map(i => s"m$i"), (_, up) => {
        val u = (0 until 4).map(i => up(s"m$i")).reduce(_ unionByName _)
        require(u.count() == 12, "a middle target was read incomplete")
        u.groupBy("part").agg(count(lit(1)).as("n"))
      })
    val report = Targets.run(spark, root, stages)
    assert(report.ran == Seq("src", "m0", "m1", "m2", "m3", "join"))
    assert(maxActive.get >= 2, s"middle stages never overlapped (max ${maxActive.get})")
    assert(Targets.read(spark, root, "join").count() == 4)
  }

  test("a failing stage fails the run and leaves no _SUCCESS on its target") {
    val root = java.nio.file.Files.createTempDirectory("targets").toString
    val stages = Seq(
      Stage("ok", Nil, (s, _) => s.range(3).toDF()),
      Stage("boom", Seq("ok"), (_, _) => throw new RuntimeException("boom")))
    val err = intercept[RuntimeException](Targets.run(spark, root, stages))
    assert(err.getMessage.contains("boom"))
    val fs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(!fs.exists(new org.apache.hadoop.fs.Path(
      Targets.targetPath(root, "boom") + "/_SUCCESS")))
  }

  test("a failing middle stage: no target is written after run throws") {
    // a -> bad -> after, with an independent sibling that is still
    // building when `bad` fails; run must wait for it and skip its write
    val root = java.nio.file.Files.createTempDirectory("targets").toString
    val failed = new java.util.concurrent.CountDownLatch(1)
    val stages = Seq(
      Stage("a", Nil, (s, _) => s.range(3).toDF()),
      Stage("bad", Seq("a"), (_, _) => {
        failed.countDown()
        throw new IllegalStateException("middle stage failed")
      }),
      Stage("after", Seq("bad"), (_, up) => up("bad")),
      Stage("sibling", Nil, (s, _) => {
        failed.await()
        Thread.sleep(300)
        s.range(5).toDF()
      }))
    val err = intercept[IllegalStateException](Targets.run(spark, root, stages))
    assert(err.getMessage == "middle stage failed")
    def targets = java.nio.file.Files.list(java.nio.file.Paths.get(root))
      .toArray.map(_.toString).toSet
    val atThrow = targets
    Thread.sleep(1500)
    assert(targets == atThrow, "a target appeared after run threw")
    assert(atThrow == Set(Targets.targetPath(root, "a")), s"targets: $atThrow")
  }

  test("topoSort orders by dependency regardless of declaration order and rejects cycles") {
    val counters = Seq.fill(3)(new AtomicInteger)
    val shuffled = dag(counters: _*).reverse
    assert(Targets.topoSort(shuffled).map(_.name) == Seq("clean", "agg", "report"))
    val cyc = Seq(
      Stage("a", Seq("b"), (_, _) => spark.range(1).toDF()),
      Stage("b", Seq("a"), (_, _) => spark.range(1).toDF()))
    val err = intercept[IllegalArgumentException](Targets.topoSort(cyc))
    assert(err.getMessage.contains("cycle"))
    val unknown = Seq(Stage("a", Seq("nope"), (_, _) => spark.range(1).toDF()))
    assert(intercept[IllegalArgumentException](
      Targets.topoSort(unknown)).getMessage.contains("unknown"))
  }
}
