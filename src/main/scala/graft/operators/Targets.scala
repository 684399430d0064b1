package graft.operators

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Stage-target orchestration — how the reference pipeline is actually
  * OPERATED (impc_etl/workflow/: every job is a Luigi `SparkSubmitTask`
  * whose `output()` is a parquet target under the ImpcConfig output
  * prefix; `luigi.build` walks `requires()` edges, skips any task whose
  * target already exists, and a deleted target re-runs exactly that
  * task plus its downstream cone — parquet targets double as
  * checkpoints between jobs).
  *
  * Spark-first reformulation: a [[Stage]] is a named DataFrame producer
  * over its upstream targets; [[run]] materializes stages in dependency
  * order, skipping any whose parquet target is already COMPLETE
  * (`_SUCCESS` marker — the same completeness contract the versioned
  * streaming store uses, EventStream.latestDocs), and re-running the
  * downstream cone of anything that did run. Because each stage reads
  * its inputs back from parquet targets rather than chaining lineage,
  * a 20-stage DAG never accretes a 20-stage logical plan, each stage is
  * independently restartable, and a crash mid-write leaves a target
  * without `_SUCCESS` that the next run redoes — Luigi's idempotent
  * re-run semantics without an orchestrator process.
  *
  * Deliberately NOT a scheduler: no workers, no cron, no RPC — at
  * 100 TB the cluster manager owns execution; what survives from the
  * Luigi layer is the TARGET discipline (completeness markers +
  * skip-if-done + cone invalidation), which is this.
  */
object Targets {

  /** A named pipeline stage: `build` receives the materialized
    * upstream targets keyed by stage name. */
  final case class Stage(name: String, deps: Seq[String],
                         build: (SparkSession, Map[String, DataFrame]) => DataFrame)

  /** What a [[run]] did: stages that executed vs were target-skipped,
    * in execution order. */
  final case class RunReport(ran: Seq[String], skipped: Seq[String])

  def targetPath(rootDir: String, stage: String): String =
    s"$rootDir/$stage.parquet"

  private def isComplete(spark: SparkSession, dir: String): Boolean = {
    val p = new Path(dir)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.exists(new Path(p, "_SUCCESS"))
  }

  /** Deterministic topological order (stable within a dependency rank:
    * declaration order breaks ties). Cycles and unknown deps are
    * config errors — fail fast, not at materialization time. */
  private[graft] def topoSort(stages: Seq[Stage]): Seq[Stage] = {
    val byName = stages.map(s => s.name -> s).toMap
    require(byName.size == stages.size, "duplicate stage names")
    stages.flatMap(_.deps).foreach(d =>
      require(byName.contains(d), s"unknown dependency '$d'"))
    val done = scala.collection.mutable.LinkedHashMap.empty[String, Stage]
    val visiting = scala.collection.mutable.Set.empty[String]
    def visit(s: Stage): Unit = if (!done.contains(s.name)) {
      require(visiting.add(s.name), s"dependency cycle through '${s.name}'")
      s.deps.foreach(d => visit(byName(d)))
      visiting.remove(s.name)
      done(s.name) = s
    }
    stages.foreach(visit)
    done.values.toSeq
  }

  /** Run the DAG against `rootDir`, skipping complete targets. A stage
    * runs iff its target is incomplete, it is listed in `force`, or
    * any of its dependencies ran in THIS invocation (cone
    * invalidation — matching Luigi, where deleting an upstream target
    * cascades because downstream outputs are stale by definition).
    *
    * Stages whose dependencies are satisfied run CONCURRENTLY (a small
    * driver-side pool — Spark schedules jobs from several threads FIFO
    * and back-fills the tail of one stage's job with the next stage's
    * tasks, optimization guide §2.6): the wall clock of a run is the
    * DAG's critical path, not the stage sum. Dirtiness is decided
    * up-front from the target markers (same cone semantics as the
    * sequential form — a stage is dirty iff forced, incomplete, or any
    * dependency is dirty), every target still lands complete before any
    * consumer reads it, and the report lists stages in deterministic
    * topological order regardless of completion order.
    *
    * Fail-closed: the stages' jobs run in one job group per call. The
    * first failure cancels the group's running and future jobs, stages
    * not yet building or writing are skipped, and the call waits for
    * every stage before it rethrows that first cause — so no target is
    * written after `run` has thrown. */
  def run(spark: SparkSession, rootDir: String, stages: Seq[Stage],
          force: Set[String] = Set.empty): RunReport = {
    val ordered = topoSort(stages)
    val dirty = scala.collection.mutable.LinkedHashSet.empty[String]
    ordered.foreach { s =>
      if (force.contains(s.name) || s.deps.exists(dirty) ||
          !isComplete(spark, targetPath(rootDir, s.name))) dirty += s.name
    }
    // every stage's jobs run in this run's job group, so the first
    // failure can cancel its siblings' running and later jobs
    val group = s"graft-targets-${java.util.UUID.randomUUID()}"
    val firstFailure = new java.util.concurrent.atomic.AtomicReference[Throwable]()
    val sc = spark.sparkContext
    val pool = java.util.concurrent.Executors.newFixedThreadPool(
      math.min(4, math.max(1, dirty.size)))
    implicit val ec: scala.concurrent.ExecutionContext =
      scala.concurrent.ExecutionContext.fromExecutorService(pool)
    try {
      val done = scala.collection.mutable.Map.empty[String, scala.concurrent.Future[Unit]]
      ordered.foreach { s =>
        if (dirty(s.name)) {
          val depFs = s.deps.flatMap(done.get)
          done(s.name) = scala.concurrent.Future
            .sequence(depFs)
            .map { _ =>
              // a sibling already failed: neither build nor write
              if (firstFailure.get == null) try {
                sc.setJobGroup(group, s"target: ${s.name}")
                val ups = s.deps.map(d =>
                  d -> spark.read.parquet(targetPath(rootDir, d))).toMap
                val out = s.build(spark, ups)
                if (firstFailure.get == null)
                  out.write.mode("overwrite").parquet(targetPath(rootDir, s.name))
              } catch {
                case t: Throwable =>
                  if (firstFailure.compareAndSet(null, t)) sc.cancelJobGroupAndFutureJobs(group)
                  throw t
              }
            }
        }
      }
      // wait for EVERY stage, so none writes after this call returns or
      // throws; then surface the first cause
      done.values.foreach(f =>
        scala.concurrent.Await.ready(f, scala.concurrent.duration.Duration.Inf))
      Option(firstFailure.get).foreach(t => throw t)
    } finally pool.shutdown()
    RunReport(ordered.collect { case s if dirty(s.name) => s.name },
      ordered.collect { case s if !dirty(s.name) => s.name })
  }

  /** Read a (complete) stage target back — the downstream consumer
    * surface, and the checkpoint-reuse path between pipeline runs. */
  def read(spark: SparkSession, rootDir: String, stage: String): DataFrame = {
    val target = targetPath(rootDir, stage)
    require(isComplete(spark, target), s"target '$stage' is not complete")
    spark.read.parquet(target)
  }
}
