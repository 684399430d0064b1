package graft

import java.util.concurrent.atomic.AtomicLong
import scala.collection.immutable.ListMap

/** Perf harness: executes every query's FULL plan (noop sink — a
  * count() would let Catalyst prune computed columns) and prints ONE
  * JSON line. Each query runs SPARK_GRAFT_ITERS times (default 2) and
  * reports the per-query MINIMUM — single-shot numbers at local[32]
  * carry 2-3x sandbox-contention noise (VERDICT r1), the min is the
  * stable signal. Failures are excluded from the total and surfaced
  * in a `failed` field instead of silently shrinking it.
  *
  * Observability: a SparkListener accumulates per-query shuffle
  * read/write bytes, scan input bytes, spill, and max per-task peak
  * execution memory — written to target/bench_full.json next to the
  * seconds, so scaling verdicts ("did shuffle volume grow linearly?")
  * and regression triage are mechanical instead of forensic. The
  * stdout JSON line keeps its driver-parsed shape (seconds only).
  */
class BenchListener extends org.apache.spark.scheduler.SparkListener {
  val shuffleRead, shuffleWrite, input, spill, peakTaskMem = new AtomicLong
  def reset(): Unit =
    Seq(shuffleRead, shuffleWrite, input, spill, peakTaskMem).foreach(_.set(0))
  override def onTaskEnd(e: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    if (m != null) {
      shuffleRead.addAndGet(m.shuffleReadMetrics.totalBytesRead)
      shuffleWrite.addAndGet(m.shuffleWriteMetrics.bytesWritten)
      input.addAndGet(m.inputMetrics.bytesRead)
      spill.addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
      // max-over-tasks (not a sum): the hottest single task's unsafe
      // memory watermark — the number that predicts executor OOM
      peakTaskMem.getAndUpdate(cur => math.max(cur, m.peakExecutionMemory))
    }
  }
  def snapshot: Map[String, Long] = Map(
    "shuffle_read" -> shuffleRead.get, "shuffle_write" -> shuffleWrite.get,
    "input" -> input.get, "spill" -> spill.get, "peak_task_mem" -> peakTaskMem.get)
}

/** Post-execution plan probe: the max broadcast build side (rows,
  * bytes) across every execution a query triggers. This is the
  * bench-scale plan gate's sensor — scale_report.py compares these
  * across corpus factors and FAILS any query whose broadcast build
  * grows with the data (a broadcast must be a fixed dim or a bounded
  * aggregate; anything else is a deferred driver OOM). Registered as a
  * QueryExecutionListener so it sees the noop WRITE's QueryExecution —
  * the one whose post-AQE executed plan carries real metrics (the
  * bench's own `df.queryExecution` is never executed). */
class BroadcastProbe extends org.apache.spark.sql.util.QueryExecutionListener {
  val rows, bytes = new AtomicLong
  val outRows = new AtomicLong(-1)
  // capped-bucket drop accounting from the near-dup generators' named
  // observation (Dedup.NearDupDropObservation, r14): summed across the
  // executions a query triggers, so the pruned curate rows carry their
  // recall-loss accounting in bench/scale artifacts like spill does
  val ndDroppedBuckets, ndDroppedRows, ndLargestBucket = new AtomicLong
  def reset(): Unit = { rows.set(0); bytes.set(0); outRows.set(-1)
    ndDroppedBuckets.set(0); ndDroppedRows.set(0); ndLargestBucket.set(0) }
  override def onSuccess(funcName: String,
                         qe: org.apache.spark.sql.execution.QueryExecution,
                         durationNs: Long): Unit = {
    val (r, b) = org.apache.spark.sql.GraftBridge.maxBroadcastBuild(qe.executedPlan)
    rows.getAndUpdate(cur => math.max(cur, r))
    bytes.getAndUpdate(cur => math.max(cur, b))
    // rows the sink wrote — read from the bench's own `observe`
    // (CollectMetricsExec at the plan root, so it counts EXACTLY the
    // rows delivered to the noop sink, 0 included). Helper executions
    // a query triggers on the side (centroid collects, convergence
    // count()s) carry no observation and are ignored — a max over all
    // executions' numOutputRows would let a helper count()'s 1-row
    // aggregate mask a zero-output sink (and the V2 noop write exec
    // itself exposes no row metric at all, measured in r9: a plan-walk
    // approach reported -1 on every query). Last-wins: the final sink
    // execution's own number.
    qe.observedMetrics.get(Bench.SinkObservation).foreach { row =>
      outRows.set(row.getLong(0))
    }
    // positional access (withDropMetric's aggregate order); the
    // metrics fall back to their literals over an empty result, so a
    // null row only comes from a frame observed some other way
    qe.observedMetrics.get(graft.operators.Dedup.NearDupDropObservation)
      .filter(r => r.length >= 3 && !r.isNullAt(0) && !r.isNullAt(1) && !r.isNullAt(2))
      .foreach { row =>
        ndDroppedBuckets.addAndGet(row.getLong(0))
        ndDroppedRows.addAndGet(row.getLong(1))
        ndLargestBucket.getAndUpdate(cur => math.max(cur, row.getInt(2).toLong))
      }
  }
  override def onFailure(funcName: String,
                         qe: org.apache.spark.sql.execution.QueryExecution,
                         exception: Exception): Unit = ()
}

object Bench {
  /** Name of the sink-row observation the bench injects at every
    * query's plan root (see BroadcastProbe.onSuccess). */
  val SinkObservation = "graft_sink"

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val iters = sys.env.getOrElse("SPARK_GRAFT_ITERS", "2").toInt
    // SPARK_GRAFT_ONLY=q_a,q_b restricts the run for single-query iteration.
    val only = sys.env.get("SPARK_GRAFT_ONLY").map(_.split(",").toSet)
    val listener = new BenchListener
    val bcast = new BroadcastProbe
    def newSession(): org.apache.spark.sql.SparkSession = {
      val s = GraftSession.local()
      s.sparkContext.addSparkListener(listener)
      s.listenerManager.register(bcast)
      // Warm codegen + OS page cache so the alphabetically-first
      // queries aren't charged the session startup and cold-read costs
      // that every later query gets for free.
      Seq("region", "nation", "customer", "supplier", "part", "orders",
        "lineitem", "events", "documents", "embeddings").foreach { t =>
        try s.read.parquet(s"$sfDir/$t.parquet").count()
        catch { case _: Throwable => () }
      }
      s
    }
    var spark = newSession()
    // An executor OOM in local mode stops the shared SparkContext; at
    // the x32 tier that turned ONE q_ancestor_arrays task failure into
    // a dead suite (every later query "Cannot call methods on a
    // stopped SparkContext"). Rebuild the session so one heap-hungry
    // query costs exactly its own number, not the whole run's.
    def ensureAlive(): Unit = if (spark.sparkContext.isStopped) {
      System.err.println("[bench] SparkContext stopped (executor OOM?) — rebuilding session")
      org.apache.spark.sql.SparkSession.clearActiveSession()
      org.apache.spark.sql.SparkSession.clearDefaultSession()
      spark = newSession()
    }
    val todo = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (n, _) => only.forall(_.contains(n)) }
    // Iterations run PASS-MAJOR: interleaved across full-suite passes.
    // Machine contention is bursty on multi-minute timescales (VERDICT
    // r6/r7 measured 1.3-2x uniform noise on shared hosts), so
    // spreading a query's attempts gives each an independent draw and
    // the min lands on the quietest pass.
    val attemptsByQuery =
      scala.collection.mutable.Map[String, Vector[(Double, Map[String, Long])]]()
        .withDefaultValue(Vector.empty)
    val errByQuery = scala.collection.mutable.Map[String, String]()
    (1 to iters).foreach { pass =>
      todo.foreach { case (name, fn) =>
        ensureAlive()
        listener.reset()
        bcast.reset()
        val t0 = System.nanoTime()
        val elapsed =
          try { fn(spark, sfDir)
                  .observe(SinkObservation,
                    org.apache.spark.sql.functions.count(
                      org.apache.spark.sql.functions.lit(1)))
                  .write.mode("overwrite").format("noop").save()
                (System.nanoTime() - t0) / 1e9 }
          catch { case e: Throwable =>
            System.err.println(s"[bench] $name failed: $e")
            errByQuery(name) = s"${e.getClass.getSimpleName}: " +
              Option(e.getMessage).getOrElse("").linesIterator.take(2).mkString(" | ")
            -1.0 }
        // drop caches a query may have left behind so iterations and
        // queries are isolated (operators self-clean, belt-and-braces);
        // skip when the attempt itself killed the context
        if (!spark.sparkContext.isStopped) {
          spark.catalog.clearCache()
          org.apache.spark.sql.GraftBridge.drainListenerBus(spark.sparkContext, 10000)
        }
        attemptsByQuery(name) = attemptsByQuery(name) :+ (elapsed, listener.snapshot +
          ("bcast_rows" -> bcast.rows.get, "bcast_bytes" -> bcast.bytes.get,
            "out_rows" -> bcast.outRows.get,
            "neardup_dropped_buckets" -> bcast.ndDroppedBuckets.get,
            "neardup_dropped_rows" -> bcast.ndDroppedRows.get,
            "neardup_largest_bucket" -> bcast.ndLargestBucket.get))
      }
      System.err.println(s"[bench] --- pass $pass/$iters complete ---")
    }
    val runs = todo.map { case (name, _) =>
      val ok = attemptsByQuery(name).filter(_._1 >= 0)
      // metrics ride with the min-time attempt (bytes are plan-
      // deterministic; the fastest run is the least contended capture)
      val (best, metrics) =
        if (ok.nonEmpty) ok.minBy(_._1) else (-1.0, Map.empty[String, Long])
      val lastErr = errByQuery.getOrElse(name, null)
      System.err.println(f"[bench] $name%-24s " +
        (if (best >= 0) f"$best%8.2f s  (min of ${ok.size}, " +
          f"shW=${metrics.getOrElse("shuffle_write", 0L) / 1048576.0}%.1fMB)"
         else s"FAILED ($lastErr)"))
      (name, best, metrics, if (best >= 0) null else lastErr)
    }
    val results = runs.map { case (n, b, _, _) => n -> b }
    val failed = results.count(_._2 < 0)
    val total = results.collect { case (_, v) if v >= 0 => v }.sum
    // Full-precision per-query map goes to a file (and stderr already has
    // the human-readable table). The stdout JSON line must survive a
    // tail-capped log capture (~2000 chars incl. the sbt trailer), so it
    // lists queries heaviest-first and stops at a hard line budget with an
    // `omitted` count — the headline total always covers every query.
    // n_queries stamped from the SAME collection the map serializes
    // (VERDICT r16 #8: a commit message hand-wrote "all 197 queries"
    // over a 196-query dump — counts must come from the artifact)
    val fullJson = ListMap("metric" -> "total", "value" -> total, "unit" -> "sec",
      "failed" -> failed, "n_queries" -> runs.size,
      "queries" -> ListMap.from(runs.map { case (k, v, m, err) =>
        k -> (ListMap[String, Any]("sec" -> v) ++ m.toSeq.sortBy(_._1) ++
          Option(err).map("err" -> _)) }),
      "sf" -> sfDir)
    try Json.writeFile("target/bench_full.json", fullJson)
    catch { case e: Throwable => System.err.println(s"[bench] full dump failed: $e") }
    val lineBudget = 1500
    // Locale.ROOT: the f interpolator uses the JVM default locale, and a
    // comma-decimal locale would emit unparseable JSON
    def f3(d: Double) = String.format(java.util.Locale.ROOT, "%.3f", Double.box(d))
    // Committed quiet-machine series reference: driver-session captures
    // run under 1.3-2x bursty contention (VERDICT r6/r7), so the stdout
    // line carries the latest committed BENCH_LOCAL total alongside —
    // the reader can judge regressions against the stable series
    // without hunting through git history.
    val localRef = {
      // sort by parsed round number, not name: lexicographic breaks at
      // r100 (sorts before r99) and at any unpadded r9 vs r10
      val files = Option(new java.io.File(".").listFiles()).getOrElse(Array.empty)
        .flatMap { f =>
          "BENCH_LOCAL_r(\\d+)\\.json".r.findFirstMatchIn(f.getName)
            .filter(_.matched == f.getName).map(m => (m.group(1).toInt, f))
        }.sortBy(_._1).map(_._2)
      files.lastOption.flatMap { f =>
        val txt = new String(java.nio.file.Files.readAllBytes(f.toPath), "UTF-8")
        """"value"\s*:\s*([0-9.Ee+-]+)""".r.findFirstMatchIn(txt)
          .map(m => s""","local_ref":{"file":${Json.write(f.getName)},"value":${m.group(1)}}""")
      }.getOrElse("")
    }
    val header = s"""{"metric":"total","value":${f3(total)},"unit":"sec","failed":$failed,"n_queries":${runs.size}$localRef,"sf":${Json.write(sfDir)},"queries":{"""
    val entries = results.sortBy(-_._2)
      .map { case (k, v) => Json.write(k) + ":" + f3(v) }
    val sb = new StringBuilder(header)
    var kept = 0
    entries.foreach { e =>
      val sep = if (kept == 0) "" else ","
      // reserve ~30 chars for the closing `},"omitted":N}` suffix
      if (sb.length + sep.length + e.length + 30 <= lineBudget) {
        sb.append(sep).append(e); kept += 1
      }
    }
    sb.append("},\"omitted\":").append(entries.size - kept).append("}")
    // Silence Spark's shutdown chatter so nothing prints after this line
    // and pushes it out of a bounded tail capture.
    spark.sparkContext.setLogLevel("OFF")
    println(sb.toString)
    System.out.flush()
    spark.stop()
  }
}
