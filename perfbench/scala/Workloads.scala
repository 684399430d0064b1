package perfbench

import graft.functions.TextFunctions.{shinglesOfTokens, tokens}
import graft.operators._
import graft.operators.Targets.Stage
import graft.sources.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import Trace.span

/** One benchmark workload: `run` executes one operation (a full pass
  * over the generated inputs) and writes its results under `opDir`.
  * Every engine call is wrapped in a span named
  * `<module>.<Object>.<function>` after the engine's own modules. */
trait Workload {
  def run(spark: SparkSession, in: String, opDir: String): Unit
  /** Bytes of input one operation consumes (write_amp denominator). */
  def inputBytes(in: String): Long
  /** Result tables an operation writes under `opDir`, as `<name>.parquet`
    * (digested to compare operations). */
  def outputs: Seq[String]
  /** Engine oracle SQL the output check replays, by output name. */
  def oracles: Map[String, String]
}

object Workloads {
  def apply(name: String): Workload = name match {
    case "etl_observations" => EtlObservations
    case "curate_iterative" => CurateIterative
    case other => throw new IllegalArgumentException(s"unknown workload '$other'")
  }

  def dirBytes(path: String): Long = {
    val f = new java.io.File(path)
    if (f.isFile) f.length
    else Option(f.listFiles).map(_.map(c => dirBytes(c.getPath)).sum).getOrElse(0L)
  }
}

/** The impc-etl spine at data volume: clean, cross-reference, as-of
  * join, derive, unpivot into observations and reshape into one wide
  * document per user, plus an order-side document (md5 ids, multi-way
  * cross-reference, nearest-event as-of, sorted flag sets), both
  * written as Targets parquet targets. */
object EtlObservations extends Workload {
  val outputs = Seq("wide_docs", "order_docs")
  def oracles = Map("wide_docs" -> graft.SparkEntry.oracleSql("q_pipeline_e2e"))

  private val segMap = Map("AUTOMOBILE" -> "AUTO", "BUILDING" -> "BLD",
    "FURNITURE" -> "FURN", "HOUSEHOLD" -> "HH", "MACHINERY" -> "MACH")

  def inputBytes(in: String): Long =
    Seq("events", "customer", "orders", "lineitem")
      .map(t => Workloads.dirBytes(s"$in/$t.parquet")).sum

  def run(spark: SparkSession, in: String, opDir: String): Unit = {
    val t = Tables(spark, in)
    val events = span("sources.Tables.events")(t.events)
    val customer = span("sources.Tables.customer")(t.customer)
    val orders = span("sources.Tables.orders")(t.orders)
    val lineitem = span("sources.Tables.lineitem")(t.lineitem)

    // the q_pipeline_e2e chain, stage by stage
    val clicks = span("operators.Cleaning.dropRequiredNulls")(
        events.filter(col("event_type") === "click")
          .transform(Cleaning.dropRequiredNulls(Seq("event_id", "user_id", "ts"))))
      .select(col("event_id"), col("user_id"), unix_micros(col("ts")).as("t_us"),
        floor(col("value") * 100 + 0.5).cast("long").as("m_value_c"))
    val reg = span("operators.Cleaning.mapValues")(
      customer.transform(Cleaning.mapValues("c_mktsegment", segMap)))
    val xref = span("operators.Joins.fallbackJoin")(Joins.fallbackJoin(
        clicks.withColumn("legacy_key", col("user_id") % 500),
        reg.filter(col("c_acctbal") > 100)
          .select(col("c_custkey").as("pk"), col("c_mktsegment").as("segment")),
        ("user_id", "pk"),
        reg.filter(col("c_custkey") < 500)
          .select(col("c_custkey").as("sk"), col("c_mktsegment").as("segment")),
        ("legacy_key", "sk")))
      .withColumn("segment", coalesce(col("segment"), lit("UNKNOWN")))
    val purchases = events.filter(col("event_type") === "purchase")
      .repartition(col("user_id"))
      .groupBy(col("user_id").as("p_user"), col("ts").as("p_ts"))
      .agg(min_by(col("value"), col("event_id")).as("p_value"))
      .select(col("p_user"), unix_micros(col("p_ts")).as("p_t_us"),
        floor(col("p_value") * 100 + 0.5).cast("long").as("m_pvalue_c"))
    val assoc = span("plans.AsOfJoin.backward")(graft.plans.AsOfJoin.backward(
      xref, purchases, "user_id", "p_user", "t_us", "p_t_us"))
    val derived = span("operators.Derive.applyFormulas")(Derive.applyFormulas(assoc, Seq(
      "m_lag_us" -> "t_us - p_t_us",
      "m_total_c" -> "m_value_c + coalesce(m_pvalue_c, cast(0 as bigint))",
      "m_ratio_pm" -> ("CASE WHEN m_pvalue_c IS NULL OR m_pvalue_c <= 0 THEN NULL " +
        "ELSE m_value_c * 1000 div m_pvalue_c END"))))
    val obs = span("operators.Reshape.unpivot")(Reshape.unpivot(
        Seq("user_id", "segment", "match_source", "event_id"),
        Seq("m_value_c", "m_pvalue_c", "m_lag_us", "m_total_c", "m_ratio_pm"),
        "measure", "value", castTo = Some("bigint"))(derived))
      .filter(col("value").isNotNull)
    val wide = obs.groupBy("user_id", "segment", "match_source")
      .agg(sort_array(collect_list(struct(col("event_id").as("e"),
          col("measure").as("m"), col("value").as("v")))).as("obs"),
        count(lit(1)).as("n_obs"))
      .select(col("user_id"), col("segment"), col("match_source"), col("n_obs"),
        to_json(struct(col("user_id").as("id"), col("segment").as("seg"),
          col("match_source").as("src"), col("obs"))).as("doc"))

    // order documents: md5 ids, customer cross-reference with a fallback
    // key, per-order line aggregates and flag sets, nearest purchase
    val ids = span("operators.Cleaning.withUniqueId")(
      orders.transform(Cleaning.withUniqueId("order_uid", Seq("o_orderkey", "o_custkey"))))
    val oref = span("operators.Joins.fallbackJoin")(Joins.fallbackJoin(
        ids.select(col("order_uid"), col("o_orderkey"), col("o_custkey"), col("o_orderdate"),
          (col("o_custkey") % 1000).as("o_legacy")),
        reg.filter(col("c_acctbal") > 0)
          .select(col("c_custkey").as("pk"), col("c_mktsegment").as("segment")),
        ("o_custkey", "pk"),
        reg.filter(col("c_custkey") < 1000)
          .select(col("c_custkey").as("sk"), col("c_mktsegment").as("segment")),
        ("o_legacy", "sk")))
    val lines = lineitem.select(col("l_orderkey").as("o_orderkey"),
      floor(col("l_extendedprice") * 100 + 0.5).cast("long").as("price_c"),
      floor(col("l_discount") * 100 + 0.5).cast("long").as("disc_pct"),
      col("l_returnflag"))
    val lineAgg = lines.groupBy("o_orderkey").agg(count(lit(1)).as("n_lines"),
      sum(expr("price_c * (100 - disc_pct) div 100")).as("revenue_c"))
    val flags = span("operators.Reshape.collectSortedSet")(
      Reshape.collectSortedSet(Seq("o_orderkey"), "l_returnflag", "flags")(lines))
    val near = span("operators.AsOf.nearest")(AsOf.nearest(
      oref.select("o_orderkey", "o_custkey", "o_orderdate"),
      events.filter(col("event_type") === "purchase")
        .select(col("user_id"), col("ts"), col("event_id")),
      "o_custkey", "user_id", "o_orderdate", "ts", Seq("event_id"),
      toleranceSec = 86400L, rightTieBreak = "event_id"))
    val joined = oref.drop("o_orderdate", "o_legacy")
      .join(lineAgg, "o_orderkey").join(flags, "o_orderkey")
      .join(near.select(col("o_orderkey"), col("event_id").as("near_event_id"),
        col("asof_diff_sec").as("near_diff_sec")), "o_orderkey")
    val orderDocs = span("operators.Derive.applyFormulas")(Derive.applyFormulas(joined, Seq(
      "avg_line_c" -> "revenue_c div n_lines",
      "big_order" -> "revenue_c > 10000000")))

    // the results are Luigi-style parquet targets, written concurrently
    span("operators.Targets.run") {
      val parent = Trace.currentId
      def stage(name: String, df: DataFrame) = Stage(name, Nil, (_, _) =>
        Trace.under(parent)(s"operators.Targets.stage.$name")(df))
      Targets.run(spark, opDir, Seq(stage("wide_docs", wide), stage("order_docs", orderDocs)))
    }
  }
}

/** The curation and iterative family at document scale: the curation
  * chain (LM gate, exact and near dedup, components, DSIR, token
  * budget, leak-free split, packing) plus langid training and HITS link
  * analysis. Dominated by per-job and planning cost. */
object CurateIterative extends Workload {
  val outputs = Seq("manifest", "langid", "hits")
  def oracles = Map(
    "manifest" -> graft.SparkEntry.oracleSql("q_curate_e2e"),
    "langid" -> graft.SparkEntry.oracleSql("q_train_langid"),
    "hits" -> graft.SparkEntry.oracleSql("q_hits"))

  def inputBytes(in: String): Long =
    Seq("documents", "orders", "lineitem").map(t => Workloads.dirBytes(s"$in/$t.parquet")).sum

  def run(spark: SparkSession, in: String, opDir: String): Unit = {
    import spark.implicits._
    val t = Tables(spark, in)
    val docs = span("sources.Tables.documents")(t.documents)
      .select(col("doc_id"), col("text"), col("lang"))

    // the q_curate_e2e chain (lossless near-dup strategy), stage by stage;
    // the localCheckpoint boundaries are the ones that chain ships with
    val lmKeep = span("operators.LangModel.bigramSurprisal")(
        LangModel.bigramSurprisal(docs, "doc_id", "text", keepPpm = 35000000L))
      .filter(col("keep")).select("doc_id")
    val kept = docs.join(lmKeep, "doc_id")
    val survivors = span("operators.Dedup.exact")(Dedup.exact(kept, "doc_id", "text"))
    val canon = docs.join(survivors.select("doc_id"), "doc_id").localCheckpoint(eager = false)
    val pairs = span("operators.Dedup.prefixFilterJaccard")(
      Dedup.prefixFilterJaccard(canon, "doc_id", "text", shingleN = 3, threshold = 0.5))
    val comp = span("operators.Components.connectedComponents")(
        Components.connectedComponents(pairs))
      .withColumnRenamed("node", "doc_id")
    val reps = canon.join(comp, Seq("doc_id"), "left")
      .filter(coalesce(col("component"), col("doc_id")) === col("doc_id"))
      .drop("component")
    val scored = span("operators.LangModel.dsirWeight")(LangModel.dsirWeight(reps, "doc_id",
        "text", targetFilter = col("lang") === "en", keepPpm = 1000000L))
      .select("doc_id", "n_tokens", "mean_lift_ppm")
    val sel = span("operators.Select.tokenBudget")(Select.tokenBudget(scored, "doc_id",
        "n_tokens", "mean_lift_ppm", budget = 12000L))
      .localCheckpoint(eager = false)
    // residual 5-shingle overlap edges of the selection: in-bucket pairs
    // of shingle buckets holding 2..20 documents
    val sh5 = docs.join(sel.select("doc_id"), "doc_id")
      .select(col("doc_id"), explode(shinglesOfTokens(tokens(col("text")), 5)).as("sh"))
      .distinct()
    val edges = sh5.groupBy("sh").agg(sort_array(collect_set(col("doc_id"))).as("ids"))
      .filter(size(col("ids")).between(2, 20))
      .select(explode(col("ids")).as("id_a"), col("ids"))
      .select(col("id_a"), explode(col("ids")).as("id_b"))
      .filter(col("id_a") < col("id_b"))
      .distinct()
    val spl = span("operators.Split.leakFree")(
        Split.leakFree(sel.select("doc_id"), "doc_id", edges))
      .localCheckpoint(eager = false)
    val trainCounts = sel
      .join(spl.filter(col("split") === "train").select("doc_id"), "doc_id")
      .select(col("doc_id"), col("n_tokens"))
    val bins = span("operators.Pack.sequences")(Pack.sequences(trainCounts, "doc_id",
      "n_tokens", maxTokens = 512, numShards = 16, maxOpenBins = 1))
    val docBins = bins
      .select(col("bin_id"), explode(split(col("doc_ids"), ",")).as("__m"))
      .select(col("__m").cast("long").as("doc_id"), col("bin_id"))
    val manifest = sel.join(docs.select("doc_id", "lang"), "doc_id")
      .join(spl.select("doc_id", "component", "split"), "doc_id")
      .join(docBins, Seq("doc_id"), "left")
      .select(col("doc_id"), col("lang"), col("n_tokens"), col("mean_lift_ppm"),
        col("cum_tokens"), col("component"), col("split"), col("bin_id"))

    // langid: one-vs-rest heads over hashed features (q_train_langid config)
    val models = span("operators.Infer.trainOvr")(Infer.trainOvr(t.documents, "doc_id",
      "text", classCol = col("lang"), buckets = 64, iters = 3, lrDiv = 8L))
    val langid = models.flatMap { case (cls, w, bias) =>
      (cls, -1, bias) +: w.zipWithIndex.map { case (wt, b) => (cls, b, wt) }
    }.toDF("lang", "bucket", "weight_ppm")

    // HITS over the customer -> supplier graph (q_hits)
    val orders = span("sources.Tables.orders")(t.orders)
    val lineitem = span("sources.Tables.lineitem")(t.lineitem)
    val links = orders.select(col("o_orderkey"), col("o_custkey"))
      .join(lineitem.select(col("l_orderkey").as("o_orderkey"), col("l_suppkey")), "o_orderkey")
      .select((col("o_custkey") * 2).as("src"), (col("l_suppkey") * 2 + 1).as("dst"))
      .distinct()
    val hits = span("operators.Graph.hitsPpm")(Graph.hitsPpm(links, "src", "dst", iters = 3))

    span("sink.write") {
      manifest.write.parquet(s"$opDir/manifest.parquet")
      langid.write.parquet(s"$opDir/langid.parquet")
      hits.write.parquet(s"$opDir/hits.parquet")
    }
  }
}
