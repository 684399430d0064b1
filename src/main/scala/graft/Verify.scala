package graft
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    // Fail FAST on bench-only env knobs: the curation queries read
    // these from the shared queries map, and a stray exported var
    // would make the DuckDB oracle check a non-default chain (a scaled
    // budget or LM gate changes the manifest outright). The invocation
    // convention ("Verify never sets them") is enforced, not assumed.
    val benchOnly =
      Seq("SPARK_GRAFT_CURATE_BUDGET", "SPARK_GRAFT_CURATE_KEEPPPM").filter(sys.env.contains)
    require(benchOnly.isEmpty,
      s"bench-only env knob(s) ${benchOnly.mkString(", ")} set — Verify " +
        "must check the default config; unset them (the oracle SQL " +
        "replays the default chain at the default budget)")
    val (sfDir, outDir) = (args(0), args(1))
    // optional 3rd arg: comma-separated query names (local iteration
    // on a subset; the driver always runs the full surface)
    val only: Option[Set[String]] = args.lift(2).map(_.split(",").toSet)
    val spark = GraftSession.local()
    new java.io.File(outDir).mkdirs()
    val failed = scala.collection.mutable.LinkedHashMap[String, String]()
    SparkEntry.queries
      .filter { case (name, _) => only.forall(_.contains(name)) }
      .foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
        // first line of the message is the diagnosable cause; the full
        // stack is already on stderr. Recording failures in an artifact
        // (not just a log) is what makes the next environment drift a
        // 5-minute fix instead of 32 silently-absent queries (VERDICT r7
        // finding 3).
        failed(name) = s"${e.getClass.getSimpleName}: " +
          Option(e.getMessage).getOrElse("").linesIterator.take(3).mkString(" | ")
      }
    }
    // Json escapes every control char: a tab or CR in an oracle's SQL
    // must not make a reader's json.load fail and drop every oracle.
    Json.writeFile(s"$outDir/oracle_sql.json", SparkEntry.oracleSql)
    Json.writeFile(s"$outDir/_failed.json", failed)
    spark.stop()
  }
}
