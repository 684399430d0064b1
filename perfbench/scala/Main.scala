package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.collection.mutable

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import graft.GraftSession
import org.apache.spark.PerfbenchListenerBus
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** The benchmark's driver process: one closed loop with one client.
  *
  *   --mode setup   report the time from JVM start to a ready session
  *   --mode run     run operations over `--inputs` until `--seconds` have
  *                  passed, the first one in the cold driver; with
  *                  `--trace 1` every operation records spans, jobs, task
  *                  metrics and Catalyst phases
  *
  * Raw measurements, and in run mode the engine oracle SQL the output
  * check needs, go to `<out>/result.json`; perfbench/run.py turns them
  * into metrics and checks the results. */
object Main {
  private val json = new ObjectMapper().registerModule(DefaultScalaModule)

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val out = opts("out")
    val spark = GraftSession.local()
    val setupS = (System.currentTimeMillis -
      ManagementFactory.getRuntimeMXBean.getStartTime) / 1000.0
    val result =
      try {
        if (opts("mode") == "setup") Map("setup_s" -> setupS)
        else run(spark, opts, setupS)
      } finally spark.stop()
    Files.writeString(Paths.get(s"$out/result.json"), json.writeValueAsString(result))
    sys.exit(0)
  }

  private def run(spark: SparkSession, opts: Map[String, String], setupS: Double): Map[String, Any] = {
    val wl = Workloads(opts("workload"))
    val in = opts("inputs")
    val work = s"${opts("out")}/work"
    val seconds = opts("seconds").toDouble
    val trace = opts("trace") == "1"
    val sc = spark.sparkContext
    Trace.init(spark)
    val collector = new Collector

    // operations run back to back until `seconds` have passed, the first
    // in the cold driver
    if (trace) collector.attach(spark)
    val ops = mutable.ArrayBuffer.empty[Map[String, Any]]
    var firstDigest: Map[String, String] = Map.empty
    var error: Option[String] = None
    val start = System.nanoTime()
    var i = 0
    while (error.isEmpty && (i == 0 || (System.nanoTime() - start) / 1e9 < seconds)) {
      val opDir = s"$work/op_$i"
      if (trace) Trace.begin()
      val gc0 = Gc.totalMs
      val s0 = System.nanoTime()
      try Trace.span("op")(wl.run(spark, in, opDir))
      catch { case e: Throwable => error = Some(s"op $i: ${e.toString}") }
      val wallS = (System.nanoTime() - s0) / 1e9
      val gcMs = Gc.totalMs - gc0
      var layers: Map[String, Any] = Map.empty
      if (trace) {
        Trace.end()
        PerfbenchListenerBus.flush(sc)
        layers = collector.drain() + ("spans" -> Trace.drainSpans().map(s => Map(
          "id" -> s.id, "parent" -> s.parent, "name" -> s.name,
          "start_ns" -> s.startNs, "end_ns" -> s.endNs)))
      }
      if (error.isEmpty) {
        // the first result is checked by perfbench/run.py; later ones are
        // compared with it by digest and not kept
        val digest = digests(spark, wl, opDir)
        if (trace) { PerfbenchListenerBus.flush(sc); collector.drain() } // not the operation's
        if (i == 0) firstDigest = digest
        ops += Map("i" -> i, "traced" -> trace, "wall_s" -> wallS, "gc_ms" -> gcMs,
          "written_bytes" -> Workloads.dirBytes(opDir),
          "input_bytes" -> wl.inputBytes(in),
          "digest" -> digest, "digest_ok" -> (digest == firstDigest), "dir" -> opDir) ++ layers
        if (i > 0) deleteTree(new java.io.File(opDir))
      }
      i += 1
    }

    Map(
      "setup_s" -> setupS,
      "ops" -> ops.toSeq,
      "error" -> error.orNull,
      "oracles" -> wl.oracles,
      "peak_rss_mb" -> peakRssMb,
      "host" -> Map(
        "available_processors" -> Runtime.getRuntime.availableProcessors,
        "spark_graft_cpus" -> GraftSession.cpus,
        "spark_master" -> sc.master,
        "default_parallelism" -> sc.defaultParallelism,
        "max_heap_mb" -> Runtime.getRuntime.maxMemory / (1024 * 1024),
        "jdk" -> System.getProperty("java.version"),
        "spark" -> org.apache.spark.SPARK_VERSION))
  }

  /** Order-independent digest of each written result: row count plus
    * the sum of per-row 64-bit hashes. */
  private def digests(spark: SparkSession, wl: Workload, opDir: String): Map[String, String] =
    wl.outputs.map { o =>
      val df = spark.read.parquet(s"$opDir/$o.parquet")
      val r = df.agg(count(lit(1)), sum(xxhash64(df.columns.toIndexedSeq.map(col): _*).cast("decimal(38,0)")))
        .head()
      o -> s"${r.getLong(0)}:${r.get(1)}"
    }.toMap

  private def peakRssMb: Double = {
    val hwm = scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble).getOrElse(0.0)
    hwm / 1024.0
  }

  private def deleteTree(f: java.io.File): Unit = {
    Option(f.listFiles).foreach(_.foreach(deleteTree))
    f.delete()
  }
}
