package graft

import java.util.{Collections, Map => JMap}

import org.apache.spark.SparkContext
import org.apache.spark.api.plugin.{DriverPlugin, ExecutorPlugin, PluginContext, SparkPlugin}
import org.apache.spark.sql.SparkSession

/** Canonical session builder for the engine's entry points: AQE on,
  * shuffle partitions sized to the executor core count (2-3x total
  * cores on a real cluster — AQE coalesces either way), UTC, the
  * legacy nanos-as-long parquet flag the events table needs (set here
  * ONCE instead of mutating conf inside table getters), and the
  * [[GraftPlugin]], which in local mode lets tasks reuse the classes
  * the driver generated while planning instead of compiling each one
  * a second time (it does nothing under any other master).
  */
object GraftSession {

  /** Cores to use locally: SPARK_GRAFT_CPUS, else min(32, available). */
  def cpus: String = sys.env.getOrElse("SPARK_GRAFT_CPUS",
    math.min(32, Runtime.getRuntime.availableProcessors).toString)

  /** Shuffle partitions, overridable INDEPENDENTLY of cores
    * (SPARK_GRAFT_SHUFFLE_PARTITIONS): the deployment knob a real
    * cluster turns as data grows — per-task state is total/partitions,
    * so scaling partitions with data keeps task memory flat. The scale
    * harness measures exactly this curve (SCALE_r6 partitions matrix);
    * default stays = cores, AQE coalesces small shuffles either way. */
  def shufflePartitions(cores: String): String =
    sys.env.getOrElse("SPARK_GRAFT_SHUFFLE_PARTITIONS", cores)

  /** The engine's `spark.plugins` value. */
  private[graft] val Plugins: String = classOf[GraftPlugin].getName

  def builder(cores: String = cpus): SparkSession.Builder =
    SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", shufflePartitions(cores))
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      // InferFiltersFromGenerate fires while the generator input is
      // still a cheap attribute, then PushDownPredicates inlines the
      // attribute's defining projection into the inferred
      // `size(..)>0 AND isnotnull(..)` filter — so every explode over
      // a DERIVED array (shingles, spans, BPE tokens) re-runs its
      // whole tokenize/regex chain per input row in an interpreted
      // Filter. Generate drops empty/null arrays itself, so the
      // inferred filter is purely an (mis)optimization: excluding the
      // rule is semantics-preserving and measured 3-6x on
      // explode-heavy operators (see PlanAuditSpec's regression gate).
      .config("spark.sql.optimizer.excludedRules",
        "org.apache.spark.sql.catalyst.optimizer.InferFiltersFromGenerate")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.plugins", Plugins)
      .config("spark.ui.enabled", "false")

  def local(cores: String = cpus): SparkSession = {
    val s = builder(cores).getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}

/** One compile per generated class in local mode. Spark keys its
  * codegen cache by the compiling thread's context classloader and the
  * source, and a local task thread runs under the executor's session
  * loader, so every whole-stage class the driver compiled while
  * planning would compile again in the first task that runs it. The
  * driver half records the loader the driver plans with (its `init`
  * runs on the thread that builds the SparkContext, before the local
  * executor exists); the executor half puts that loader on each task
  * thread. Under any master other than `local[...]` neither half acts:
  * executors are other JVMs, which have their own loaders.
  */
private[graft] class GraftPlugin extends SparkPlugin {
  override def driverPlugin(): DriverPlugin = new DriverPlugin {
    override def init(sc: SparkContext, ctx: PluginContext): JMap[String, String] = {
      if (sc.isLocal) GraftPlugin.driverLoader = Thread.currentThread.getContextClassLoader
      Collections.emptyMap()
    }
    override def shutdown(): Unit = GraftPlugin.driverLoader = null
  }

  override def executorPlugin(): ExecutorPlugin = new ExecutorPlugin {
    override def onTaskStart(): Unit = {
      val loader = GraftPlugin.driverLoader
      if (loader != null) Thread.currentThread.setContextClassLoader(loader)
    }
  }
}

private object GraftPlugin {
  @volatile private var driverLoader: ClassLoader = _
}
