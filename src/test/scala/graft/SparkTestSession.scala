package graft

import org.apache.spark.sql.SparkSession

/** One shared local session for all suites (forked test JVM). */
object SparkTestSession {
  lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.sql.warehouse.dir", "/tmp/graft_warehouse")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      // Regression gate for runtime codegen health: a custom Expression
      // whose generated Java fails to compile normally falls back to
      // interpreted execution silently (only an ERROR log). Disabling
      // the fallback turns any codegen compile failure into a test
      // failure — plan-string audits can't see these.
      .config("spark.sql.codegen.fallback", "false")
      // mirror GraftSession: InferFiltersFromGenerate re-derives
      // expensive array expressions in below-Generate filters
      .config("spark.sql.optimizer.excludedRules",
        "org.apache.spark.sql.catalyst.optimizer.InferFiltersFromGenerate")
      // mirror GraftSession: local tasks reuse the driver's generated classes
      .config("spark.plugins", GraftSession.Plugins)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
  val sfDir = "/root/testdata/sf0.001"

  /** Run `body` with `conf` set on the shared session; the previous
    * values come back afterwards, on return or on throw. */
  def withConf[T](conf: (String, String)*)(body: => T): T = {
    val c = spark.conf
    val prev = conf.map { case (k, _) => k -> c.getOption(k) }
    conf.foreach { case (k, v) => c.set(k, v) }
    try body
    finally prev.foreach { case (k, v) => v.fold(c.unset(k))(c.set(k, _)) }
  }
}
