package graft

import graft.functions.{TextFunctions, VectorFunctions}
import graft.operators.Shard
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Round-3 corpus operators: repetition signals, URL normalization,
  * output sharding, int8 quantization. */
class CorpusOpsSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  /** L2 norm through the builtin-HOF dot. */
  private def normHof(a: org.apache.spark.sql.Column) = sqrt(VectorFunctions.dotHof(a, a))

  test("maxRunLength counts the longest equal-adjacent run of a sorted array") {
    val df = Seq(
      (1L, Seq("a", "b", "b", "b", "c", "c")),
      (2L, Seq("x")),
      (3L, Seq.empty[String]))
      .toDF("id", "arr")
    val out = df.select(col("id"),
        TextFunctions.maxRunLength(sort_array(col("arr"))).as("r"))
      .as[(Long, Long)].collect().toMap
    assert(out == Map(1L -> 3L, 2L -> 1L, 3L -> 0L))
  }

  test("q_repetition is a narrow map: single exchange (the parity order-by)") {
    val df = SparkEntry.queries("q_repetition")(spark, SparkTestSession.sfDir)
    val plan = df.queryExecution.executedPlan.toString
    val exchanges = "(?i)exchange".r.findAllIn(plan).size
    assert(exchanges <= 1, s"repetition signals must not shuffle n-grams:\n$plan")
  }

  test("md5Shard: stable, in-range, full spread; repartitionByShard co-locates") {
    val df = (0L until 512L).toDF("id")
    val shards = df.select(Shard.md5Shard(col("id"), 16).as("s"))
      .as[Int].collect()
    assert(shards.forall(s => s >= 0 && s < 16))
    assert(shards.distinct.length == 16) // 512 keys cover all 16 shards
    // deterministic: same input -> same assignment
    val again = df.select(Shard.md5Shard(col("id"), 16).as("s")).as[Int].collect()
    assert(shards.toSeq == again.toSeq)
    // NULL keys fold to a real shard, never a NULL shard
    val nullShard = Seq(Option.empty[Long]).toDF("id")
      .select(Shard.md5Shard(col("id"), 16).as("s")).as[Option[Int]].head()
    assert(nullShard.exists(s => s >= 0 && s < 16))
    // co-location: each output partition holds at most... every row of a
    // shard lands in exactly one partition
    val parts = Shard.repartitionByShard(df, col("id"), 16)
      .select(col("shard"), spark_partition_id().as("pid"))
      .distinct().groupBy("shard").count()
      .as[(Int, Long)].collect()
    assert(parts.forall(_._2 == 1L), "a shard split across partitions")
  }

  test("quantizeInt8: values in [-127,127], reconstruction within scale/2") {
    val df = Seq((1L, Array(0.5f, -1.0f, 0.25f, 0.0f)), (2L, Array(0f, 0f, 0f, 0f)))
      .toDF("id", "v")
    val out = df
      .select(col("id"), col("v"), VectorFunctions.int8Scale(col("v")).as("sc"))
      .select(col("id"), col("sc"),
        VectorFunctions.quantizeInt8(col("v"), col("sc")).as("q"),
        VectorFunctions.dequantMaxError(
          VectorFunctions.quantizeInt8(col("v"), col("sc")), col("v"), col("sc")).as("err"))
      .as[(Long, Double, Seq[Long], Double)].collect().sortBy(_._1)
    val (_, sc1, q1, err1) = out(0)
    assert(q1.forall(q => q >= -127 && q <= 127))
    assert(q1(1) == -127L)            // the max-magnitude element saturates
    assert(err1 <= sc1 / 2 + 1e-12)   // round-to-nearest error bound
    val (_, sc2, q2, err2) = out(1)
    assert(sc2 == 1.0 && q2.forall(_ == 0L) && err2 == 0.0) // zero vector
  }

  test("q_embed_quantize's HOF self-dot is rewritten to native LongVecDot") {
    val df = SparkEntry.queries("q_embed_quantize")(spark, SparkTestSession.sfDir)
    val optimized = df.queryExecution.optimizedPlan.toString
    assert(optimized.toLowerCase.contains("longvecdot"),
      s"expected VecDotRewrite to fire:\n$optimized")
  }

  test("quantizedTopK scores within the quantization error bound of exact dots") {
    val emb = graft.sources.Tables(spark, SparkTestSession.sfDir).embeddings
    val queries = emb.filter(col("vec_id") < 3)
    val approx = graft.operators.Similarity
      .quantizedTopK(emb, queries, k = 5)
      .select(col("query_id"), col("neighbor_id"), col("qscore"))
    // exact dot + Cauchy-Schwarz norm scale for the same pairs
    val c = emb.select(col("vec_id").as("neighbor_id"), col("embedding").as("cv"))
    val q = queries.select(col("vec_id").as("query_id"), col("embedding").as("qv"))
    val exact = c.crossJoin(q)
      .select(col("query_id"), col("neighbor_id"),
        VectorFunctions.dotHof(col("cv"), col("qv")).as("dot"),
        (normHof(col("cv")) * normHof(col("qv"))).as("nn"))
    val bad = approx.join(exact, Seq("query_id", "neighbor_id"))
      .filter(abs(col("qscore") - col("dot")) > col("nn") * 0.02 + 1e-6)
      .count()
    assert(bad == 0L, "quantized score drifted beyond 2% of the norm product")
  }

  test("salted join: identical rows to the plain join, hot key spread over tasks") {
    import graft.operators.SkewJoin
    // one hot key (0) carrying 90% of the probe side; the rest spread
    // over keys 1..4 so multi-key interleaving through the (key, salt)
    // shuffle is exercised too
    val probe = (0 until 2000)
      .map(i => (if (i % 10 == 0) (i / 10 % 4 + 1).toLong else 0L, i))
      .toDF("k", "line")
    val build = (0L until 5L).map(k => (k, s"dim_$k")).toDF("bk", "name")
    val salted = SkewJoin.salted(probe, build, "k", "bk", salts = 8, saltBy = col("line"))
    val plain = probe.join(build, col("k") === col("bk"))
    assert(salted.columns.toSeq == plain.columns.toSeq)
    assert(salted.collect().map(_.toSeq).toSet == plain.collect().map(_.toSeq).toSet)
    // the hot key's probe rows really occupy multiple salt slices
    val slices = probe.withColumn("s", pmod(hash(col("line")), lit(8)))
      .filter(col("k") === 0L).select("s").distinct().count()
    assert(slices > 1)
  }

  test("approx percentiles land within tolerance of the exact ones") {
    // r13: the query now emits the exact percentiles plus the
    // certification booleans (the sketch values became an in-plan
    // bound check the driver hash-compares); this spec asserts the
    // exacts match an independent computation and the bounds hold
    val t = graft.sources.Tables(spark, SparkTestSession.sfDir)
    val got = SparkEntry.queries("q_approx_percentile")(spark, SparkTestSession.sfDir)
      .as[(String, Double, Double, Boolean, Boolean)].collect()
      .map(r => r._1 -> (r._2, r._3, r._4, r._5)).toMap
    val exact = t.lineitem.groupBy("l_returnflag")
      .agg(round(percentile(col("l_extendedprice").cast("double"), lit(0.5)), 6).as("p50"),
        round(percentile(col("l_extendedprice").cast("double"), lit(0.95)), 6).as("p95"))
      .as[(String, Double, Double)].collect().map(r => r._1 -> (r._2, r._3)).toMap
    assert(got.keySet == exact.keySet)
    exact.foreach { case (flag, (p50, p95)) =>
      val (g50, g95, w50, w95) = got(flag)
      assert(g50 == p50 && g95 == p95, s"$flag exacts: ($g50,$g95) vs ($p50,$p95)")
      assert(w50 && w95, s"$flag sketch out of rank bounds")
    }
  }

  test("DataQuality.report: nulls count as violations, uniqueness surplus counted") {
    import graft.operators.DataQuality.{report, Constraint}
    val df = Seq(
      (Some(1L), Some(10.0)), (Some(1L), Some(-2.0)),
      (Some(2L), None), (None, Some(5.0)))
      .toDF("id", "price")
    val out = report(df,
        Seq(Constraint("id_not_null", col("id").isNotNull),
          Constraint("price_positive", col("price") > 0)),
        uniqueKey = Seq("id"))
      .as[(String, Long, Long, Boolean)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    assert(out("id_not_null") == ((4L, 1L, false)))
    // NULL price is a violation (three-valued logic folded to false)
    assert(out("price_positive") == ((4L, 2L, false)))
    // 4 rows, 3 distinct ids (1, 2, null) -> 1 surplus row
    assert(out("unique(id)") == ((4L, 1L, false)))
    // empty input: every row reports 0 violations / pass, never NULL
    val empty = report(df.filter(lit(false)),
        Seq(Constraint("id_not_null", col("id").isNotNull)), uniqueKey = Seq("id"))
      .as[(String, Long, Long, Boolean)].collect()
    assert(empty.length == 2 && empty.forall(r => r._3 == 0L && r._4))
    // dotted display names must not break column resolution
    val dotted = report(df, Seq(Constraint("price.positive", col("price") > 0)))
      .as[(String, Long, Long, Boolean)].collect()
    assert(dotted.head._1 == "price.positive" && dotted.head._3 == 2L)
  }

  test("q_url_parse strips tracking params, keeps the rest") {
    val out = SparkEntry.queries("q_url_parse")(spark, SparkTestSession.sfDir)
      .limit(5).select("host", "path", "clean_params")
      .as[(String, String, String)].collect()
    assert(out.nonEmpty)
    out.foreach { case (host, path, params) =>
      assert(host.endsWith(".example.org"))
      assert(path.startsWith("/") && path.contains("/doc/"))
      assert(!params.contains("utm_") && !params.contains("ref="))
      assert(params.startsWith("page="))
    }
  }
}
