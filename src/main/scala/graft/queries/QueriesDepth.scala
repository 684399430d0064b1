package graft.queries

import graft.sources.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Depth batch: reference patterns surfaced by the round-1 audit that
  * the first 64 queries didn't exercise — conditional distinct
  * counting, zip_with element-wise folds, when/otherwise cascades,
  * source-file provenance, CUBE grouping, and two further LLM-corpus
  * signals (repetition quality, vocabulary stats).
  *
  * Oracle-parity conventions follow QueriesCore.scala's scaladoc
  * (decimal-exact sums, NULLS FIRST ordering, int/bigint casts).
  */
object QueriesDepth {

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    "q_cond_distinct" -> ((s, d) => {
      // per-group conditional DISTINCT counts — the reference's
      // male/female mutant specimen counting pattern:
      // size(collect_set(when(cond, id))) per group
      // (stats_results_mapper.py:325–344)
      val t = Tables(s, d)
      t.orders.groupBy("o_orderstatus")
        .agg(
          size(collect_set(when(col("o_orderpriority") === "1-URGENT",
            col("o_custkey")))).as("n_urgent_cust"),
          size(collect_set(when(col("o_orderpriority") === "5-LOW",
            col("o_custkey")))).as("n_low_cust"),
          size(collect_set(col("o_orderpriority"))).as("n_prio"))
        .orderBy("o_orderstatus")
    }),

    "q_zip_weighted" -> ((s, d) => {
      // element-wise combine of parallel arrays via zip_with + fold —
      // the reference pairs parallel id/term arrays the same way
      // (impc_api_mapper.py:535, impc_kg_mapper.py:19). Money is held
      // as long cents so the fold is exact and partitioning-independent
      // (cents × cents = 1e-4 dollar² units, well inside long range).
      // Arrays are materialized as columns BEFORE the zip_with/aggregate
      // projection: Catalyst does not CSE through HOF lambdas.
      // No sort_array: both arrays come from the SAME collect_list so
      // they are always position-aligned, and the fold is a commutative
      // exact long sum — element order cannot change the result. (The
      // HOF fold itself is rewritten to native LongVecDot by
      // VecDotRewrite; the declarative form here is the oracle-parity
      // surface.)
      val t = Tables(s, d)
      val grouped = t.lineitem
        .select(col("l_orderkey"),
          struct(round(col("l_quantity") * 100).cast("long").as("qc"),
            round(col("l_extendedprice") * 100).cast("long").as("pc")).as("r"))
        .groupBy("l_orderkey")
        .agg(collect_list(col("r")).as("rs"))
        .select(col("l_orderkey"), col("rs.qc").as("qcs"), col("rs.pc").as("pcs"))
      grouped
        .select(col("l_orderkey"), size(col("qcs")).as("n_items"),
          aggregate(zip_with(col("qcs"), col("pcs"), (q, p) => q * p),
            lit(0L), (acc, x) => acc + x).as("rev_c4"))
        .orderBy("l_orderkey")
    }),

    "q_flag_cascade" -> ((s, d) => {
      // multi-branch when/otherwise classification with least/greatest
      // clamping — the reference's significance-flag cascades
      // (stats_results_mapper.py:393–468, F.least/F.greatest)
      val t = Tables(s, d)
      val tp = col("o_totalprice")
      t.orders.select(col("o_orderkey"),
          when(col("o_orderpriority") === "1-URGENT" && tp > 200000, "critical")
            .when(col("o_orderpriority").isin("1-URGENT", "2-HIGH"), "expedite")
            .when(tp > 250000, "jumbo")
            .otherwise("standard").as("tier"),
          // floor, not round: round(double, 2) differs between engines
          // at representational halves (Spark rounds the decimal string,
          // DuckDB the binary double) — floor is exact on both
          least(greatest(floor(tp / 1000.0), lit(10.0)), lit(300.0)).as("score"))
        .orderBy("o_orderkey")
    }),

    "q_file_provenance" -> ((s, d) => {
      // source-file provenance column — the reference stamps every
      // extracted row with its originating file
      // (xml_extraction_helper.py:56 `_sourceFile` = input_file_name()).
      // Scale: a pure narrow map; the basename extraction is a string
      // op per row, grouped with map-side partial agg.
      val t = Tables(s, d)
      t.orders
        .withColumn("src_file", regexp_extract(input_file_name(), "([^/]+)$", 1))
        .groupBy("src_file")
        .agg(count(lit(1)).as("n_rows"),
          countDistinct(col("o_orderkey")).as("n_keys"))
        .orderBy("src_file")
    }),

    "q_cube" -> ((s, d) => {
      // CUBE over (status, priority) — completes the grouping-sets
      // family next to q_rollup (the reference's stats-input mapper
      // aggregates the same slice at several grouping levels,
      // stats_pipeline_input_mapper.py). grouping_id() disambiguates
      // NULL-as-rollup from NULL-as-value.
      val t = Tables(s, d)
      t.orders.cube("o_orderstatus", "o_orderpriority")
        .agg(grouping_id().cast("int").as("gid"),
          count(lit(1)).as("n"),
          sum(col("o_totalprice").cast("decimal(18,2)")).cast("double").as("sum_price"))
        .orderBy(col("o_orderstatus").asc_nulls_first,
          col("o_orderpriority").asc_nulls_first)
    }),

    "q_gopher_quality" -> ((s, d) => {
      // repetition/shape quality signals (Gopher-style corpus rules):
      // duplicate-token ratio, mean and max word length, keep flag.
      // tokens materialized once as a column — Catalyst does not CSE
      // through HOF lambdas, so every signal reuses the same array.
      import graft.functions.TextFunctions
      val t = Tables(s, d)
      val base = t.documents.select(col("doc_id"),
        TextFunctions.normText(col("text")).as("norm"))
        .select(col("doc_id"), col("norm"), split(col("norm"), " ").as("toks"))
        .select(col("doc_id"), col("norm"), col("toks"),
          size(col("toks")).as("n_tok"))
      base.select(col("doc_id"), col("n_tok"),
          round(lit(1.0) - size(array_distinct(col("toks"))).cast("double")
            / col("n_tok").cast("double"), 6).as("dup_tok_ratio"),
          round((length(col("norm")) - (col("n_tok") - 1)).cast("double")
            / col("n_tok").cast("double"), 6).as("mean_word_len"),
          array_max(transform(col("toks"), t => length(t))).as("max_word_len"))
        .withColumn("keep",
          col("dup_tok_ratio") <= 0.8 && col("mean_word_len").between(3.0, 10.0))
        .orderBy("doc_id")
    }),

    "q_weighted_mean" -> ((s, d) => {
      // custom typed Aggregator (functions/Aggregators.scala): exact
      // weighted mean with long-integer state — partial-agg friendly
      // (map-side combine) and bit-stable under any partitioning,
      // unlike a double-state running mean
      val t = Tables(s, d)
      val wm = udaf(graft.functions.Aggregators.WeightedMeanCents)
      t.lineitem
        .select(col("l_returnflag"),
          round(col("l_extendedprice") * 100).cast("long").as("vc"),
          round(col("l_quantity") * 100).cast("long").as("wc"))
        .groupBy("l_returnflag")
        .agg(round(wm(col("vc"), col("wc")), 6).as("w_mean_price"),
          count(lit(1)).as("n"))
        .orderBy("l_returnflag")
    }),

    "q_scd2" -> ((s, d) => {
      // SCD2 versioned history over the event stream: per user, runs
      // of unchanged event_type with validity intervals — the
      // warehouse-grade generalization of the reference's per-release
      // snapshot diffing (operators/Scd2.scala).
      val t = Tables(s, d)
      graft.operators.Scd2.history(
          t.events.select("user_id", "ts", "event_id", "event_type"),
          keyCols = Seq("user_id"), tsCol = "ts",
          attrCols = Seq("event_type"), tieBreak = Seq("event_id"))
        .select(col("user_id"), col("version"), col("event_type"),
          col("valid_from_us"), col("valid_to_us"), col("n_snapshots"))
        .orderBy("user_id", "version")
    }),

    "q_variant_extract" -> ((s, d) => {
      // semi-structured props via Spark 4's VARIANT type — the scale
      // path for JSON at 100 TB: parse once into a shredded columnar
      // encoding, then typed path extraction (vs per-row string
      // re-parsing with get_json_object, cf. q_json_extract).
      val t = Tables(s, d)
      t.events
        .select(parse_json(col("props")).as("v"),
          col("value").cast("decimal(18,2)").as("dv"))
        .select(try_variant_get(col("v"), "$.k", "int").as("k"), col("dv"))
        .groupBy("k")
        .agg(count(lit(1)).as("n"), sum(col("dv")).cast("double").as("value_sum"))
        .orderBy("k")
    }),

    "q_wide_doc" -> ((s, d) => {
      // flagship wide-document assembly — the reference's Solr/Mongo
      // doc mappers built as one nested JSON doc per entity: dims
      // broadcast in, per-customer order array sort-collected as
      // structs, money as long cents (double JSON formatting differs
      // across engines), single to_json at the end
      // (impc_api_mapper.py:535, solr doc mappers, q_doc_json's big
      // sibling). Scale: one shuffle (groupBy custkey); the doc build
      // itself is a narrow map.
      val t = Tables(s, d)
      val orders = t.orders.select(col("o_custkey"),
        struct(col("o_orderkey").as("id"), col("o_orderstatus").as("st"),
          round(col("o_totalprice") * 100).cast("long").as("tp_c")).as("o"))
        .groupBy("o_custkey")
        .agg(sort_array(collect_list(col("o"))).as("orders"),
          count(lit(1)).as("n_orders"))
      t.customer
        .join(broadcast(t.nation.select(col("n_nationkey"), col("n_name"))),
          col("c_nationkey") === col("n_nationkey"))
        .join(orders, col("c_custkey") === col("o_custkey"))
        .select(col("c_custkey"), col("n_orders"),
          to_json(struct(col("c_custkey").as("id"), col("c_name").as("name"),
            col("n_name").as("nation"), col("orders"))).as("doc"))
        .orderBy("c_custkey")
    }),

    "q_sample_stratified" -> ((s, d) => {
      // stratified downsampling for corpus balancing, HASH-THRESHOLD
      // form: keep a row iff its md5-derived uniform (first 6 hex
      // digits of md5("smp" || vec_id), an integer in [0, 16^6)) falls
      // below the stratum's fraction of 16^6 — over-represented strata
      // (labels 5-9) thin to 30%, the rest keep everything. Unlike a
      // seeded Bernoulli draw (engine-private RNG, layout-dependent
      // replay — that surface is spec-covered in OperatorsSpec), the
      // hash threshold is what a 100 TB curation pipeline actually
      // wants: ANY engine recomputes the identical sample (DuckDB
      // oracle-checked), membership is stable under repartitioning,
      // and the sample GROWS MONOTONICALLY as the fraction rises.
      // Scale: narrow per-row filter, zero shuffle before the tiny
      // per-stratum count.
      val t = Tables(s, d)
      val u = conv(substring(md5(concat(lit("smp"),
        col("vec_id").cast("string"))), 1, 6), 16, 10).cast("long")
      val keep = u < when(col("label") >= 5, lit(5033164L)) // floor(0.3 * 16^6)
        .otherwise(lit(16777216L))                          // 16^6: keep all
      t.embeddings.filter(keep)
        .groupBy("label").agg(count(lit(1)).as("n_sampled"))
        .orderBy("label")
    }),

    "q_asof_backward" -> ((s, d) => {
      // directional as-of (LOCF): each click joined to the user's most
      // recent purchase at-or-before it — the database ASOF JOIN, and
      // the oracle IS DuckDB's native ASOF LEFT JOIN. Right side
      // deduped per (user, instant) with min_by so both engines pick
      // the same row when two purchases share a timestamp.
      val t = Tables(s, d)
      val ev = t.events
      val clicks = ev.filter(col("event_type") === "click")
        .select(col("event_id"), col("user_id"), col("ts"))
      val purchases = ev.filter(col("event_type") === "purchase")
        .groupBy(col("user_id").as("p_user"), col("ts").as("p_ts"))
        .agg(min(col("event_id")).as("purchase_id"),
          min_by(col("value"), col("event_id")).as("p_value"))
      graft.operators.AsOf.backward(clicks, purchases,
          "user_id", "p_user", "ts", "p_ts", Seq("purchase_id", "p_value"))
        .select("event_id", "user_id", "purchase_id", "p_value", "asof_lag_sec")
        .orderBy("event_id")
    }),

    "q_dq_report" -> ((s, d) => {
      // one-scan data-quality audit (operators/DataQuality.scala):
      // every row-level constraint + the uniqueness check fold into a
      // single aggregation, then pivot to report rows
      import graft.operators.DataQuality.{report, Constraint}
      val t = Tables(s, d)
      report(t.orders, Seq(
          Constraint("custkey_not_null", col("o_custkey").isNotNull),
          Constraint("price_positive", col("o_totalprice") > 0),
          Constraint("status_vocab", col("o_orderstatus").isin("O", "F", "P")),
          Constraint("date_in_range", col("o_orderdate").between("1992-01-01", "2005-12-31"))),
        uniqueKey = Seq("o_orderkey"))
        .orderBy("constraint")
    }),

    "q_funnel" -> ((s, d) => {
      // ordered-funnel analysis: signup → view → click → purchase,
      // each stage STRICTLY after the previous stage's first hit.
      // Single (user) shuffle + sorted fold per user (zero extra
      // stages); the oracle computes the same funnel as four chained
      // min-after aggregates — two formulations, one answer.
      val t = Tables(s, d)
      val st0 = struct(lit(0).as("stage"), lit(Long.MinValue).as("t"))
      val folded = t.events
        // only stage types ride the shuffle; 'error' etc. can never
        // advance the fold
        .filter(col("event_type").isin("signup", "view", "click", "purchase"))
        .select(col("user_id"),
          struct(unix_micros(col("ts")).as("ts"), col("event_type").as("et")).as("e"))
        .groupBy("user_id")
        .agg(sort_array(collect_list(col("e"))).as("es"))
        .select(col("user_id"), aggregate(col("es"), st0, (st, e) => {
          val stage = st.getField("stage")
          val last = st.getField("t")
          val ts = e.getField("ts")
          val et = e.getField("et")
          val advance = (stage === 0 && et === "signup") ||
            (stage === 1 && et === "view" && ts > last) ||
            (stage === 2 && et === "click" && ts > last) ||
            (stage === 3 && et === "purchase" && ts > last)
          struct(when(advance, stage + 1).otherwise(stage).as("stage"),
            when(advance, ts).otherwise(last).as("t"))
        }).getField("stage").as("stage"))
      folded.agg(
        sum(when(col("stage") >= 1, 1L).otherwise(0L)).as("n_signup"),
        sum(when(col("stage") >= 2, 1L).otherwise(0L)).as("n_view"),
        sum(when(col("stage") >= 3, 1L).otherwise(0L)).as("n_click"),
        sum(when(col("stage") >= 4, 1L).otherwise(0L)).as("n_purchase"))
    }),

    "q_nullsafe_join" -> ((s, d) => {
      // null-safe equality join (<=> / IS NOT DISTINCT FROM): NULL
      // keys MATCH the NULL dim row instead of silently dropping —
      // the semantics skip-list and bucket-other joins need when the
      // bucketing column is nullable
      val t = Tables(s, d)
      val o = t.orders.withColumn("pr", expr("nullif(o_orderpriority, '1-URGENT')"))
      val dim = o.select(col("pr").as("dpr")).distinct()
        .withColumn("label", coalesce(col("dpr"), lit("URGENT_BUCKET")))
      // broadcast the DIM: it is a distinct over a 5-value priority
      // domain (≤6 rows at any corpus size). Unhinted, the static
      // planner broadcast the FACT side instead — o's single-column
      // pruned estimate looks smaller than the aggregate's — which
      // grew linearly at x10 (bcast probe): the q_doc_assembly bug
      // class, fixed by pinning the genuinely bounded side.
      o.join(broadcast(dim), col("pr") <=> col("dpr"))
        .groupBy("label").agg(count(lit(1)).as("n"))
        .orderBy("label")
    }),

    "q_approx_percentile" -> ((s, d) => {
      // sketch percentiles (percentile_approx, GK-style): the
      // single-pass bounded-memory path for 100 TB quantiles, next to
      // q_percentile's exact sort-based path. DRIVER-CERTIFIED
      // (VERDICT r12 #5): the sketch values are partition-order
      // dependent (not hash-stable), but the ACCURACY CONTRACT is
      // checkable — at accuracy 10000 the rank error is ≤ 1e-4, so the
      // estimate must land between the exact 0.49/0.51 (0.94/0.96)
      // rank values (100× headroom). The emitted boolean rides the
      // hash compare; the oracle computes the identical exact
      // percentiles and literal TRUE.
      // SMALL-GROUP GUARD (r14, ADVICE r13): percentile_approx returns
      // a nearest-rank ELEMENT, and below n ≈ 200 a ±0.01 interpolated
      // rank window spans < 2 elements — the element the sketch
      // legitimately returns can fall outside it (n=10: approx p50 =
      // the 5th element < quantile_cont(0.49)). Groups under 200 rows
      // therefore certify the weaker-but-always-sound element-range
      // bound [min, max]; the tight ±0.01 window resumes where it is
      // sound (0.01·n ≥ 2 ranks ≥ nearest-rank deviation + 1e-4·n
      // sketch error). Current corpora never hit the fallback
      // (l_returnflag groups are thousands of rows), so hashes are
      // unchanged — the guard exists so a tiny fixture fails honestly
      // never spuriously.
      // all exact ranks come out of ONE percentile aggregate (the
      // array form — a single sorted buffer per group); separate
      // percentile() calls each buffer the whole column and measured
      // 8.2 s vs ~1 s on this suite
      val v = col("l_extendedprice").cast("double")
      val pe = col("__pe")
      val n = col("__n")
      def band(lo: Int, hi: Int) = (
        when(n >= 200, element_at(pe, lo)).otherwise(element_at(pe, 1)),
        when(n >= 200, element_at(pe, hi)).otherwise(element_at(pe, 8)))
      val (lo50, hi50) = band(2, 4)
      val (lo95, hi95) = band(5, 7)
      Tables(s, d).lineitem
        .groupBy("l_returnflag")
        .agg(
          count(v).as("__n"),
          percentile_approx(v, lit(0.5), lit(10000)).as("__p50a"),
          percentile_approx(v, lit(0.95), lit(10000)).as("__p95a"),
          percentile(v, typedlit(Seq(0.0, 0.49, 0.5, 0.51, 0.94, 0.95, 0.96, 1.0))).as("__pe"))
        .select(col("l_returnflag"),
          round(element_at(pe, 3), 6).as("p50_exact"),
          round(element_at(pe, 6), 6).as("p95_exact"),
          col("__p50a").between(lo50, hi50).as("p50_within_bounds"),
          col("__p95a").between(lo95, hi95).as("p95_within_bounds"))
        .orderBy("l_returnflag")
    }),

    "q_approx_percentile_sketch" -> ((s, d) => {
      // the PRODUCTION plan of q_approx_percentile — the GK-style
      // sketch alone (r14, VERDICT r13 #5): the certified sibling's
      // exact percentile() twin buffers and sorts every group's
      // column — per-group parallelism is bounded by the key count,
      // exactly the cost profile the single-pass bounded-memory
      // sketch exists to avoid at 100 TB. Rows-only by design (the
      // estimate is partition-order dependent; the accuracy contract
      // is what the certified sibling hash-checks); spec-backed by
      // CertifiedSketchSpec.
      val v = col("l_extendedprice").cast("double")
      Tables(s, d).lineitem
        .groupBy("l_returnflag")
        .agg(
          percentile_approx(v, lit(0.5), lit(10000)).as("p50_approx"),
          percentile_approx(v, lit(0.95), lit(10000)).as("p95_approx"))
        .orderBy("l_returnflag")
    }),

    "q_map_ops" -> ((s, d) => {
      // map-typed column algebra — the reference carries per-row
      // metadata as maps in its wide-doc assembly (q_doc_assembly's
      // map column); here the full family: map_from_arrays,
      // map_concat, transform_values, map_filter. Emitted as sorted
      // "k=v" strings (scalar-hash gate convention).
      val t = Tables(s, d)
      val base = t.orders.select(col("o_orderkey"),
        map_from_arrays(
          array(lit("status"), lit("prio")),
          array(col("o_orderstatus"), col("o_orderpriority"))).as("__m1"),
        map_from_arrays(array(lit("year")),
          array(year(col("o_orderdate")).cast("string"))).as("__m2"))
      val combined = base.select(col("o_orderkey"),
        map_concat(col("__m1"), col("__m2")).as("__m"))
      combined.select(col("o_orderkey"),
          transform_values(col("__m"), (_, v) => upper(v)).as("__mu"))
        .select(col("o_orderkey"),
          map_filter(col("__mu"), (k, _) => k =!= "prio").as("__mf"))
        .select(col("o_orderkey"),
          array_join(sort_array(transform(map_entries(col("__mf")),
            e => concat(e.getField("key"), lit("="), e.getField("value")))), ",")
            .as("meta"))
        .orderBy("o_orderkey")
    }),

    "q_gap_fill" -> ((s, d) => {
      // time-series resample + LOCF gap fill: per user, a dense daily
      // grid between their first and last active day; missing days are
      // forward-filled from the last observed daily total (the
      // feature-pipeline imputation the reference does per-specimen).
      // Scale: the grid generation is sequence+explode (narrow per
      // user); the fill is one window scan per user — no per-day join
      // fan-out.
      val t = Tables(s, d)
      val daily = t.events
        .groupBy(col("user_id"), date_trunc("day", col("ts")).as("day"))
        .agg(sum(col("value").cast("decimal(28,15)")).as("day_val"))
      val spans = daily.groupBy("user_id")
        .agg(min("day").as("d0"), max("day").as("d1"))
      val grid = spans.select(col("user_id"),
        explode(sequence(col("d0"), col("d1"), expr("interval 1 day"))).as("day"))
      val w = Window.partitionBy("user_id").orderBy("day")
        .rowsBetween(Window.unboundedPreceding, 0)
      // merge hint: daily is a corpus-scaling per-user-day aggregate;
      // the static planner's aggregate estimate picked a broadcast
      // that grew linearly at x10 (bcast probe). Shuffle join on
      // (user_id, day); the LOCF window repartitions by user_id after.
      grid.join(daily.hint("merge"), Seq("user_id", "day"), "left")
        .withColumn("__filled", last(col("day_val"), ignoreNulls = true).over(w))
        .select(col("user_id"),
          date_format(col("day"), "yyyy-MM-dd").as("day"),
          // round(,4): DuckDB's decimal(·,15)→double divides by 10^15 in
          // double arithmetic (1-ulp off Spark's correctly-rounded
          // BigDecimal path) — same convention as the stream-window agg
          round(col("__filled").cast("double"), 4).as("filled_val"),
          col("day_val").isNull.as("is_gap"))
        .orderBy("user_id", "day")
    }),

    "q_salted_join" -> ((s, d) => {
      // explicit salted join (operators/SkewJoin.scala): probe salted
      // by line number, build replicated — shuffle key (key, salt)
      // spreads a hot order across 8 partitions; the oracle is the
      // PLAIN join, proving the salt changes distribution only
      val t = Tables(s, d)
      val dim = t.orders.select(col("o_orderkey"), col("o_orderpriority"))
      // saltBy needs cardinality well above `salts` (the operator's
      // contract): (orderkey, linenumber) is unique per row
      graft.operators.SkewJoin.salted(t.lineitem, dim,
          "l_orderkey", "o_orderkey", salts = 8,
          saltBy = struct(col("l_orderkey"), col("l_linenumber")))
        .groupBy("o_orderpriority")
        .agg(count(lit(1)).as("n"),
          sum(col("l_quantity").cast("decimal(18,2)")).cast("double").as("qty_sum"))
        .orderBy("o_orderpriority")
    }),

    "q_sample_exact_n" -> ((s, d) => {
      // exact per-group quotas (vs sampleBy's binomial fractions):
      // deterministic pseudo-random order by md5 of the id, top-N per
      // group — reproducible corpus balancing any engine can replicate
      val w = Window.partitionBy(col("lang"))
        .orderBy(md5(concat(lit("s"), col("doc_id").cast("string"))), col("doc_id"))
      Tables(s, d).documents
        .withColumn("rk", row_number().over(w))
        .filter(col("rk") <= 3)
        .select(col("lang"), col("doc_id"), col("rk"))
        .orderBy("lang", "rk")
    }),

    "q_array_ops" -> ((s, d) => {
      // array algebra over collected sets — the reference thins and
      // compares per-entity term arrays with array_except /
      // array_contains / flatten (impc_kg_mapper.py, observation
      // mapper sub_term handling). Results sorted so the set algebra
      // is order-stable for the hash compare.
      val t = Tables(s, d)
      def prios(year: Int) = t.orders
        .filter(org.apache.spark.sql.functions.year(col("o_orderdate")) === year)
        .groupBy("o_custkey")
      val a = prios(1996).agg(sort_array(collect_set(col("o_orderpriority"))).as("p96"))
      val b = prios(1997).agg(sort_array(collect_set(col("o_orderpriority"))).as("p97"))
      // set results emitted as sorted joined strings — the gate's
      // row-hash compares scalars (same convention as q_collect_set).
      // merge hint: both sides are per-custkey AGGREGATES that scale
      // with the corpus; aggregate size estimates are guesswork to the
      // static planner, which picked a growing broadcast (bcast probe,
      // x10). Sort-merge stays spillable at any factor.
      a.join(b.hint("merge"), "o_custkey")
        .select(col("o_custkey"),
          array_contains(col("p96"), "1-URGENT").as("had_urgent_96"),
          array_join(sort_array(array_except(col("p96"), col("p97"))), ",").as("dropped"),
          array_join(sort_array(array_intersect(col("p96"), col("p97"))), ",").as("kept"),
          size(flatten(array(col("p96"), col("p97")))).as("n_all"))
        .orderBy("o_custkey")
    }),

    "q_json_typed" -> ((s, d) => {
      // ONE-pass typed JSON parsing: from_json with an explicit schema
      // materializes every field in a single parse — at 100 TB the
      // per-field get_json_object pattern re-parses the document once
      // PER FIELD. The JSON doc is built then round-tripped; the
      // oracle computes the same aggregate from the raw columns, so
      // parity proves the parse is lossless.
      val doc = to_json(struct(col("event_type").as("t"), col("user_id").as("u"),
        get_json_object(col("props"), "$.k").cast("int").as("k")))
      val schema = org.apache.spark.sql.types.StructType.fromDDL(
        "t STRING, u BIGINT, k INT")
      Tables(s, d).events
        .select(doc.as("__j"))
        .select(from_json(col("__j"), schema).as("__s"))
        .select(col("__s.t").as("event_type"), col("__s.u").as("user_id"),
          col("__s.k").as("k"))
        .groupBy("event_type")
        .agg(count(lit(1)).as("n"), sum(col("k").cast("long")).as("k_sum"),
          countDistinct(col("user_id")).as("n_users"))
        .orderBy("event_type")
    }),

    "q_json_roundtrip" -> ((s, d) => {
      // OpenStats-shape JSON normalization (reference
      // open_stats_extractor.py:82–117 — object_pairs_hook parsing of
      // schema-DRIFTING nested result packets, restructure, then
      // dump_json_windowed_data's selective re-serialization of
      // sub-objects back to JSON strings). Three drifting packet
      // shapes are synthesized from table columns, parsed ONCE
      // through a superset from_json schema plus a VARIANT path
      // extract for the drifting numeric, restructured into a
      // normalized summary object (re-dumped via to_json), and the
      // untouched meta sub-object re-serialized verbatim — the full
      // parse → reshape → re-dump round trip as one narrow
      // zero-shuffle map. Longs-and-strings-only payload (cross-
      // engine double formatting); to_json's null-field omission
      // matches DuckDB's json_extract of an absent key.
      val x = col("n_chars").cast("long") * 3 + 1
      val raw = when(pmod(col("doc_id"), lit(3)) === 0,
          concat(lit("{\"result\":{\"status\":\"ok\",\"detail\":{\"p_ppm\":"), x,
            lit(",\"effect\":"), pmod(col("doc_id"), lit(17)),
            lit("}},\"meta\":{\"src\":\""), col("source"), lit("\"}}")))
        .when(pmod(col("doc_id"), lit(3)) === 1,
          concat(lit("{\"result\":{\"status\":\"ok\",\"detail\":{\"p_ppm\":"), x,
            lit("}},\"extra\":["), pmod(col("doc_id"), lit(5)), lit(","),
            pmod(col("doc_id"), lit(7)), lit("]}")))
        .otherwise(
          concat(lit("{\"result\":{\"status\":\"fail\"},\"meta\":{\"src\":\""),
            col("source"), lit("\",\"lang\":\""), col("lang"), lit("\"}}")))
      val schema = org.apache.spark.sql.types.StructType.fromDDL(
        "result STRUCT<status: STRING, detail: STRUCT<p_ppm: BIGINT, effect: BIGINT>>, " +
          "meta STRUCT<src: STRING, lang: STRING>, extra ARRAY<BIGINT>")
      Tables(s, d).documents
        .select(col("doc_id"), raw.as("__raw"))
        .select(col("doc_id"),
          from_json(col("__raw"), schema).as("__p"),
          try_variant_get(parse_json(col("__raw")), "$.result.detail.p_ppm", "long")
            .as("p_ppm"))
        .select(col("doc_id"),
          col("__p.result.status").as("status"),
          col("p_ppm"),
          to_json(struct(col("__p.result.status").as("status"),
            coalesce(col("p_ppm"), lit(-1L)).as("p_ppm"),
            coalesce(size(col("__p.extra")), lit(0)).as("n_extra")))
            .as("summary_json"),
          to_json(col("__p.meta")).as("meta_json"))
        .orderBy("doc_id")
    }),

    "q_asof_plan" -> ((s, d) => {
      // the SAME backward as-of association as q_asof_backward, but
      // executed by the custom physical operator (plans/AsOfJoin.scala:
      // LogicalPlan + Strategy + SparkPlan): one hash shuffle + sort
      // per side, then a streaming O(1)-state partition merge — the
      // plan a native engine would pick, vs the window-based
      // declarative form. Same DuckDB ASOF LEFT JOIN oracle.
      val t = Tables(s, d)
      val ev = t.events
      val clicks = ev.filter(col("event_type") === "click")
        .select(col("event_id"), col("user_id"),
          unix_micros(col("ts")).as("t_us"))
      val purchases = ev.filter(col("event_type") === "purchase")
        .groupBy(col("user_id").as("p_user"), col("ts").as("p_ts"))
        .agg(min(col("event_id")).as("purchase_id"),
          min_by(col("value"), col("event_id")).as("p_value"))
        .select(col("p_user"), unix_micros(col("p_ts")).as("p_t_us"),
          col("purchase_id"), col("p_value"))
      graft.plans.AsOfJoin.backward(clicks, purchases,
          "user_id", "p_user", "t_us", "p_t_us")
        .select(col("event_id"), col("user_id"), col("purchase_id"), col("p_value"),
          ((col("t_us") - col("p_t_us")) / 1000000L).cast("double").as("asof_lag_sec"))
        .orderBy("event_id")
    }),

    "q_asof_split" -> ((s, d) => {
      // the SAME association as q_asof_plan, executed HOT-KEY-SAFE:
      // AsOfJoin.backwardRangeSplit shuffles on (user, day-bucket)
      // instead of user alone, with a per-(user, bucket) carry-in
      // rollup restoring cross-bucket LOCF — the "range-split by time
      // upstream" mitigation for the ordered-scan as-of's hot-key
      // limit, measured against q_asof_plan on hot-key corpora in
      // SCALE_r16 `asof_range_split_crossover`. Identical output, same
      // ASOF LEFT JOIN oracle.
      val t = Tables(s, d)
      val ev = t.events
      val clicks = ev.filter(col("event_type") === "click")
        .select(col("event_id"), col("user_id"),
          unix_micros(col("ts")).as("t_us"))
      val purchases = ev.filter(col("event_type") === "purchase")
        .groupBy(col("user_id").as("p_user"), col("ts").as("p_ts"))
        .agg(min(col("event_id")).as("purchase_id"),
          min_by(col("value"), col("event_id")).as("p_value"))
        .select(col("p_user"), unix_micros(col("p_ts")).as("p_t_us"),
          col("purchase_id"), col("p_value"))
      graft.plans.AsOfJoin.backwardRangeSplit(clicks, purchases,
          "user_id", "p_user", "t_us", "p_t_us",
          bucketWidth = 86400000000L) // 1 day of micros: ~30 buckets here
        .select(col("event_id"), col("user_id"), col("purchase_id"), col("p_value"),
          ((col("t_us") - col("p_t_us")) / 1000000L).cast("double").as("asof_lag_sec"))
        .orderBy("event_id")
    }),

    "q_set_ops" -> ((s, d) => {
      // relational set operators — the reference thins skip-lists and
      // compares releases with subtract/intersect/exceptAll
      // (dr_diff.py, experiment_cleaner.py): INTERSECT (set) over
      // distinct keys, EXCEPT ALL (bag) keeping multiplicity
      val t = Tables(s, d)
      val a = t.orders.select(col("o_custkey").as("custkey"))
      val b = t.customer.filter(col("c_acctbal") < 0)
        .select(col("c_custkey").as("custkey"))
      a.intersect(b).withColumn("tag", lit("intersect"))
        .unionByName(a.exceptAll(b).withColumn("tag", lit("except_all")))
        .select("tag", "custkey")
        .orderBy("tag", "custkey")
    }),

    "q_derive_runtime" -> ((s, d) => {
      // runtime formula engine (operators/Derive.scala — the
      // reference's IMPReSS-formula derivator analog): formulas arrive
      // as STRINGS at runtime, Catalyst parses them into the same
      // codegen'd plan as hand-written columns; later formulas
      // reference earlier derived ones.
      val t = Tables(s, d)
      graft.operators.Derive.applyFormulas(
          t.lineitem.select("l_orderkey", "l_linenumber",
            "l_extendedprice", "l_discount", "l_tax"),
          Seq(
            "net" -> "l_extendedprice * (1 - l_discount)",
            "charge" -> "net * (1 + l_tax)",
            "is_premium" -> "charge > 100000"))
        .select("l_orderkey", "l_linenumber", "net", "charge", "is_premium")
        .orderBy("l_orderkey", "l_linenumber")
    }),

    "q_stream_cdc" -> ((s, d) => {
      // STREAMING CDC apply (EventStream.runCdcEquivalent): the event
      // stream as a change feed over the customer snapshot, each
      // micro-batch folded into versioned state by Merge.mergeVersioned
      // (max-by-(ts, event_id) per key, tombstones RETAINED so a late
      // older update cannot resurrect a delete). The fold is
      // associative + commutative, so any batching/replay lands on the
      // global last-writer-wins snapshot — hash-checked against the
      // EXACT q_cdc_apply oracle SQL.
      graft.streaming.EventStream.runCdcEquivalent(s, d)
    }),

    "q_stream_sessions" -> ((s, d) => {
      // streaming session_window agg (gap-merge) — oracle-checked
      // against batch gap-sessionization SQL; second oracle-checked
      // streaming entry next to q_stream_window
      graft.streaming.EventStream.runSessionEquivalent(s, d)
    }),

    "q_merge_upsert" -> ((s, d) => {
      // incremental MERGE: a change set (modified balances for every
      // 10th customer + re-keyed new customers) upserted into the
      // customer snapshot (operators/Merge.scala — anti-join + union,
      // one shuffle per side, not full-outer + per-column coalesce)
      val t = Tables(s, d)
      val base = t.customer.select("c_custkey", "c_name", "c_acctbal")
      val updates = base.filter(col("c_custkey") % 10 === 0)
        .withColumn("c_acctbal", round(col("c_acctbal") + 1000.0, 2))
        .unionByName(base.filter(col("c_custkey") % 97 === 3)
          .withColumn("c_custkey", col("c_custkey") + 1000000)
          .withColumn("c_name", concat(lit("NEW-"), col("c_name"))))
      graft.operators.Merge.upsert(base, updates, Seq("c_custkey"))
        .orderBy("c_custkey")
    }),

    "q_cdc_apply" -> ((s, d) => {
      // CDC apply at a batch boundary (Merge.applyCdcLog): the events
      // table plays a raw change-data-capture log — many ops per key,
      // 'error' events as tombstones, everything else an upsert
      // carrying new values — compacted to last-writer-wins per key
      // under the (ts, event_id) total order, then merged into the
      // customer snapshot: last-op-delete keys vanish, others replace
      // their row, untouched keys pass through. Balances compare as
      // exact CENTS (floor(×100) longs — IEEE-identical both engines).
      // Two key-keyed shuffles of the small log + one of the target;
      // at scale the target is bucketed so only the log moves.
      val t = Tables(s, d)
      val target = t.customer.select(col("c_custkey"), col("c_name"),
        floor(col("c_acctbal") * 100).cast("long").as("acct_cents"))
      val log = t.events.select(
        col("user_id").as("c_custkey"),
        concat(lit("cdc-"), col("event_id")).as("c_name"),
        floor(col("value") * 100).cast("long").as("acct_cents"),
        when(col("event_type") === "error", lit("delete"))
          .otherwise(lit("upsert")).as("_op"),
        col("ts"), col("event_id"))
      graft.operators.Merge.applyCdcLog(target, log, Seq("c_custkey"),
          orderCols = Seq("ts", "event_id"))
        .orderBy("c_custkey")
    }),

    "q_cdc_ttl" -> ((s, d) => {
      // tombstone TTL over the VERSIONED CDC state (VERDICT r16 #5,
      // Merge.expireTombstones): the q_cdc_apply fold kept as
      // mergeVersioned state (tombstones RETAINED — a late older
      // update must not resurrect a delete), then compacted at a
      // version floor = max event ts − 15 days (the watermark a CDC
      // reader would promise: no change older than the floor can
      // still arrive). Tombstones strictly below the floor drop —
      // bounding state on an infinite stream — tombstones at/above it
      // and ALL live rows survive; the output is the post-TTL state
      // itself (op + version columns visible), so the oracle checks
      // both retention classes in one hash. Expiry is a pure narrow
      // filter (no shuffle); the floor is a 1-row broadcast aggregate.
      val t = Tables(s, d)
      val target0 = t.customer.select(col("c_custkey"), col("c_name"),
        floor(col("c_acctbal") * 100).cast("long").as("acct_cents"),
        lit("upsert").as("_op"),
        to_timestamp(lit("1970-01-01 00:00:00")).as("ts"),
        lit(-1L).cast("long").as("event_id"))
      val log = t.events.select(
        col("user_id").as("c_custkey"),
        concat(lit("cdc-"), col("event_id")).as("c_name"),
        floor(col("value") * 100).cast("long").as("acct_cents"),
        when(col("event_type") === "error", lit("delete"))
          .otherwise(lit("upsert")).as("_op"),
        col("ts"), col("event_id"))
      val state = graft.operators.Merge.mergeVersioned(target0, log,
        Seq("c_custkey"), versionCols = Seq("ts", "event_id"))
      val fl = t.events.agg(
        (max(col("ts")) - expr("INTERVAL 15 DAYS")).as("__floor"))
      graft.operators.Merge.expireTombstones(
          state.crossJoin(broadcast(fl)), col("ts"), col("__floor"))
        .select(col("c_custkey"), col("c_name"), col("acct_cents"), col("_op"),
          date_format(col("ts"), "yyyy-MM-dd HH:mm:ss.SSSSSS").as("ts"),
          col("event_id"))
        .orderBy("c_custkey")
    }),

    "q_decontaminate" -> ((s, d) => {
      // train/eval decontamination — flag training docs sharing 3-gram
      // shingles with the eval split (the standard pre-training
      // contamination check). Eval shingles broadcast (eval sets are
      // dimension-sized); shingles compared as strings here for oracle
      // parity — the hashed variant (xxhash64 shingles, 8-byte joins)
      // is the Dedup-family scale path.
      import graft.functions.TextFunctions
      val t = Tables(s, d)
      val sh = t.documents
        .select(col("doc_id"), TextFunctions.tokens(col("text")).as("toks"))
        .select(col("doc_id"),
          explode(array_distinct(TextFunctions.shinglesOfTokens(col("toks"), 3))).as("sh"))
      val evalSh = sh.filter(col("doc_id") % 50 === 0).select("sh").distinct()
      val shared = sh.filter(col("doc_id") % 50 =!= 0)
        .join(broadcast(evalSh), "sh")
        .groupBy("doc_id")
        .agg(countDistinct(col("sh")).as("n_shared"))
      t.documents.filter(col("doc_id") % 50 =!= 0).select("doc_id")
        .join(shared, Seq("doc_id"), "left")
        .select(col("doc_id"),
          coalesce(col("n_shared"), lit(0L)).as("n_shared"),
          (coalesce(col("n_shared"), lit(0L)) >= 5).as("contaminated"))
        .orderBy("doc_id")
    }),

    "q_pii_scrub" -> ((s, d) => {
      // PII redaction pass — the corpus-hygiene step every training
      // pipeline needs before text ships: pattern-redact emails and
      // long digit runs, count redactions. Patterns kept to the
      // Java-regex ∩ RE2 common subset so the oracle replicates them.
      // Scale: pure narrow map, streams through the scan.
      // (Synthetic corpus has no PII — a deterministic contact line is
      // appended per doc so the redactor has real work on every row.)
      val t = Tables(s, d)
      val email = "[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\\.[a-z]{2,}"
      val digits = "[0-9]{6,}"
      t.documents
        .select(col("doc_id"),
          concat(col("text"), lit(" contact user"), col("doc_id"),
            lit("@example.com or call 555"), col("doc_id"), lit("1234567")).as("full"))
        .select(col("doc_id"),
          size(regexp_extract_all(col("full"), lit(email), lit(0))).as("n_emails"),
          size(regexp_extract_all(col("full"), lit(digits), lit(0))).as("n_digit_runs"),
          length(regexp_replace(regexp_replace(col("full"), email, "[EMAIL]"),
            digits, "[NUM]")).as("scrubbed_len"))
        .orderBy("doc_id")
    }),

    "q_vocab_stats" -> ((s, d) => {
      // corpus vocabulary statistics: token → frequency + doc frequency.
      // The canonical word-count shuffle: explode streams through the
      // scan, groupBy partial-aggregates map-side; at 100 TB the reduce
      // side is bounded by |vocab|, not corpus size.
      import graft.functions.TextFunctions
      val t = Tables(s, d)
      t.documents
        .select(col("doc_id"), explode(TextFunctions.tokens(col("text"))).as("tok"))
        .filter(length(col("tok")) > 0)
        .groupBy("tok")
        .agg(count(lit(1)).as("n"), countDistinct(col("doc_id")).as("n_docs"))
        .orderBy("tok")
    }),

    "q_bloom_join" -> ((s, d) => {
      // bloom-filter semi-join reduction (operators/BloomPrune.scala):
      // the fact side is pruned at the scan by an in-plan bloom of the
      // SELECTIVE dim's keys before the join shuffle — the 100 TB
      // middle path when the dim is too big to broadcast but the join
      // survivor rate is low. False positives are eliminated by the
      // exact join, so the plain join IS the oracle.
      val t = Tables(s, d)
      val dim = t.part.filter(col("p_size") <= 5)
      graft.operators.BloomPrune.join(t.lineitem, dim, "l_partkey", "p_partkey",
          expectedItems = 200000L, numBits = 1L << 22)
        .groupBy("p_brand")
        .agg(sum(col("l_extendedprice").cast("decimal(18,2)") *
            (lit(1).cast("decimal(18,2)") - col("l_discount").cast("decimal(18,2)")))
          .cast("double").as("brand_revenue"),
          count(lit(1)).as("n_items"))
        .orderBy("p_brand")
    }),

    "q_zorder" -> ((s, d) => {
      // Z-order layout audit (operators/ZOrder.scala): interleave two
      // quantized dims of lineitem into a Morton key, then report each
      // 256-key bucket's bounding box — the per-file min/max stats a
      // zordered write would carry. Tight boxes (≤16 per dim) are WHY
      // multi-predicate file skipping works; contrast a plain sort,
      // whose second dim spans the full 0..255 (spec-asserted).
      // Pure integer bit-shuffle → hash-exact oracle.
      val t = Tables(s, d)
      val li = t.lineitem.select((col("l_partkey") % 256).as("px"),
        (col("l_suppkey") % 256).as("sx"))
      li.withColumn("z",
          graft.operators.ZOrder.zValue(Seq(col("px"), col("sx")), bits = 8))
        .withColumn("bucket", shiftright(col("z"), 8))
        .groupBy("bucket")
        .agg(count(lit(1)).as("n"),
          min("px").as("px_lo"), max("px").as("px_hi"),
          min("sx").as("sx_lo"), max("sx").as("sx_hi"))
        .orderBy("bucket")
    })
  )

  /** The q_zorder oracle's interleave, generated with the same
    * (i·d + j) bit placement as [[graft.operators.ZOrder.zValue]] —
    * DuckDB's integer shift/and/or replays it digit-for-digit. */
  private def zOrderSqlExpr(dims: Seq[String], bits: Int): String =
    (for { (c, j) <- dims.zipWithIndex; i <- 0 until bits }
      yield s"((($c >> $i) & 1) << ${i * dims.size + j})").mkString(" | ")

  /** Shared by q_cdc_apply (batch) and q_stream_cdc (micro-batch fold)
    * — the streaming apply's order-independence means both must land
    * on this one global last-writer-wins result. */
  private val cdcApplySql: String =
    """WITH target AS (
      | SELECT c_custkey, c_name,
      |  cast(floor(c_acctbal * 100) as bigint) AS acct_cents
      | FROM customer),
      |log AS (
      | SELECT user_id AS c_custkey, 'cdc-' || event_id AS c_name,
      |  cast(floor(value * 100) as bigint) AS acct_cents,
      |  CASE WHEN event_type = 'error' THEN 'delete' ELSE 'upsert' END AS _op,
      |  ts, event_id
      | FROM events),
      |last AS (
      | SELECT c_custkey, c_name, acct_cents, _op FROM (
      |  SELECT *, row_number() OVER (
      |   PARTITION BY c_custkey ORDER BY ts DESC, event_id DESC) AS rn
      |  FROM log) WHERE rn = 1)
      |SELECT * FROM (
      | SELECT t.* FROM target t ANTI JOIN last l ON t.c_custkey = l.c_custkey
      | UNION ALL
      | SELECT c_custkey, c_name, acct_cents FROM last WHERE _op <> 'delete')
      |ORDER BY c_custkey""".stripMargin

  val oracles: Map[String, String] = Map(

    // exact percentiles replay via quantile_cont (the q_percentile
    // interpolation equivalence); *_within_bounds is literal TRUE —
    // the hash match certifies the Spark-side rank-error contract
    "q_approx_percentile" ->
      """SELECT l_returnflag,
        | round(quantile_cont(cast(l_extendedprice as double), 0.5), 6) AS p50_exact,
        | round(quantile_cont(cast(l_extendedprice as double), 0.95), 6) AS p95_exact,
        | TRUE AS p50_within_bounds,
        | TRUE AS p95_within_bounds
        |FROM lineitem GROUP BY 1 ORDER BY 1""".stripMargin,

    "q_bloom_join" ->
      """SELECT p_brand,
        | cast(sum(cast(l_extendedprice as decimal(18,2)) * (cast(1 as decimal(18,2)) - cast(l_discount as decimal(18,2)))) as double) AS brand_revenue,
        | count(*) AS n_items
        |FROM lineitem JOIN part ON l_partkey = p_partkey
        |WHERE p_size <= 5
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    "q_zorder" ->
      s"""WITH q AS (
         | SELECT l_partkey % 256 AS px, l_suppkey % 256 AS sx
         | FROM lineitem),
         |z AS (
         | SELECT px, sx,
         |  (${zOrderSqlExpr(Seq("px", "sx"), 8)}) AS z
         | FROM q)
         |SELECT (z >> 8) AS bucket, count(*) AS n,
         | min(px) AS px_lo, max(px) AS px_hi,
         | min(sx) AS sx_lo, max(sx) AS sx_hi
         |FROM z GROUP BY 1 ORDER BY 1""".stripMargin,

    // replays the md5-threshold stratified sampler digit-for-digit:
    // the first 6 hex digits of md5('smp' || vec_id) assembled into an
    // integer via the same strpos ladder the shard/fingerprint oracles
    // use, compared to the stratum's integer threshold of 16^6
    "q_sample_stratified" ->
      """WITH u AS (
        | SELECT label,
        |  ((((cast(strpos('0123456789abcdef', substr(m, 1, 1)) - 1 as bigint) * 16
        |    + strpos('0123456789abcdef', substr(m, 2, 1)) - 1) * 16
        |    + strpos('0123456789abcdef', substr(m, 3, 1)) - 1) * 16
        |    + strpos('0123456789abcdef', substr(m, 4, 1)) - 1) * 16
        |    + strpos('0123456789abcdef', substr(m, 5, 1)) - 1) * 16
        |    + strpos('0123456789abcdef', substr(m, 6, 1)) - 1 AS uval
        | FROM (SELECT label, md5('smp' || cast(vec_id as varchar)) AS m FROM embeddings))
        |SELECT label, count(*) AS n_sampled FROM u
        |WHERE uval < CASE WHEN label >= 5 THEN 5033164 ELSE 16777216 END
        |GROUP BY label ORDER BY label""".stripMargin,

    "q_cond_distinct" ->
      """SELECT o_orderstatus,
        | cast(count(DISTINCT CASE WHEN o_orderpriority = '1-URGENT' THEN o_custkey END) as int) AS n_urgent_cust,
        | cast(count(DISTINCT CASE WHEN o_orderpriority = '5-LOW' THEN o_custkey END) as int) AS n_low_cust,
        | cast(count(DISTINCT o_orderpriority) as int) AS n_prio
        |FROM orders GROUP BY 1 ORDER BY 1""".stripMargin,

    "q_zip_weighted" ->
      """SELECT l_orderkey, cast(count(*) as int) AS n_items,
        | cast(sum(cast(round(l_quantity*100) as bigint)
        |        * cast(round(l_extendedprice*100) as bigint)) as bigint) AS rev_c4
        |FROM lineitem GROUP BY 1 ORDER BY 1""".stripMargin,

    "q_flag_cascade" ->
      """SELECT o_orderkey,
        | CASE WHEN o_orderpriority = '1-URGENT' AND o_totalprice > 200000 THEN 'critical'
        |      WHEN o_orderpriority IN ('1-URGENT','2-HIGH') THEN 'expedite'
        |      WHEN o_totalprice > 250000 THEN 'jumbo'
        |      ELSE 'standard' END AS tier,
        | least(greatest(floor(o_totalprice/1000.0), 10.0), 300.0) AS score
        |FROM orders ORDER BY o_orderkey""".stripMargin,

    "q_file_provenance" ->
      """SELECT 'orders.parquet' AS src_file, count(*) AS n_rows,
        | cast(count(DISTINCT o_orderkey) as bigint) AS n_keys
        |FROM orders GROUP BY 1 ORDER BY 1""".stripMargin,

    "q_cube" ->
      """SELECT o_orderstatus, o_orderpriority,
        | cast(GROUPING(o_orderstatus, o_orderpriority) as int) AS gid,
        | count(*) AS n,
        | cast(sum(cast(o_totalprice as decimal(18,2))) as double) AS sum_price
        |FROM orders GROUP BY CUBE (o_orderstatus, o_orderpriority)
        |ORDER BY o_orderstatus NULLS FIRST, o_orderpriority NULLS FIRST""".stripMargin,

    "q_gopher_quality" ->
      """WITH base AS (
        | SELECT doc_id,
        |  trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9 ]', ' ', 'g'), ' +', ' ', 'g')) AS norm
        | FROM documents),
        |toks AS (
        | SELECT doc_id, norm, string_split(norm, ' ') AS tk FROM base)
        |SELECT doc_id, cast(len(tk) as int) AS n_tok,
        | round(1.0 - len(list_distinct(tk)) / cast(len(tk) as double), 6) AS dup_tok_ratio,
        | round((length(norm) - (len(tk) - 1)) / cast(len(tk) as double), 6) AS mean_word_len,
        | cast(list_max(list_transform(tk, x -> length(x))) as int) AS max_word_len,
        | (round(1.0 - len(list_distinct(tk)) / cast(len(tk) as double), 6) <= 0.8
        |  AND round((length(norm) - (len(tk) - 1)) / cast(len(tk) as double), 6) BETWEEN 3.0 AND 10.0) AS keep
        |FROM toks ORDER BY doc_id""".stripMargin,

    "q_weighted_mean" ->
      """SELECT l_returnflag,
        | round(cast(sum(cast(round(l_extendedprice*100) as bigint)
        |               * cast(round(l_quantity*100) as bigint)) as double)
        |       / cast(sum(cast(round(l_quantity*100) as bigint)) as double)
        |       / 100.0, 6) AS w_mean_price,
        | count(*) AS n
        |FROM lineitem GROUP BY 1 ORDER BY 1""".stripMargin,

    "q_scd2" ->
      """WITH marked AS (
        | SELECT user_id, event_type, cast(ts as timestamp) AS tts, event_id,
        |  CASE WHEN row_number() OVER w = 1
        |         OR lag(event_type) OVER w IS DISTINCT FROM event_type
        |       THEN 1 ELSE 0 END AS chg
        | FROM events
        | WINDOW w AS (PARTITION BY user_id ORDER BY cast(ts as timestamp), event_id)),
        |runs AS (
        | SELECT user_id, event_type,
        |  cast(sum(chg) OVER (PARTITION BY user_id ORDER BY tts, event_id) as bigint) AS version,
        |  tts
        | FROM marked),
        |agg AS (
        | SELECT user_id, version, event_type,
        |  epoch_us(min(tts)) AS valid_from_us,
        |  count(*) AS n_snapshots
        | FROM runs GROUP BY 1, 2, 3)
        |SELECT user_id, version, event_type, valid_from_us,
        | lead(valid_from_us) OVER (PARTITION BY user_id ORDER BY version) AS valid_to_us,
        | n_snapshots
        |FROM agg ORDER BY user_id, version""".stripMargin,

    "q_variant_extract" ->
      """SELECT cast(json_extract(props, '$.k') as int) AS k, count(*) AS n,
        | cast(sum(cast(value as decimal(18,2))) as double) AS value_sum
        |FROM events GROUP BY 1 ORDER BY 1""".stripMargin,

    "q_wide_doc" ->
      """WITH o AS (
        | SELECT o_custkey,
        |  list(struct_pack(id := o_orderkey, st := o_orderstatus,
        |                   tp_c := cast(round(o_totalprice*100) as bigint))
        |       ORDER BY o_orderkey, o_orderstatus, cast(round(o_totalprice*100) as bigint)) AS orders,
        |  count(*) AS n_orders
        | FROM orders GROUP BY 1)
        |SELECT c.c_custkey, o.n_orders,
        | to_json(struct_pack(id := c.c_custkey, name := c.c_name,
        |                     nation := n.n_name, orders := o.orders)) AS doc
        |FROM customer c
        | JOIN nation n ON c.c_nationkey = n.n_nationkey
        | JOIN o ON c.c_custkey = o.o_custkey
        |ORDER BY c_custkey""".stripMargin,

    "q_asof_backward" ->
      """WITH clicks AS (
        | SELECT event_id, user_id, cast(ts as timestamp) AS tts
        | FROM events WHERE event_type = 'click'),
        |purchases AS (
        | SELECT user_id AS p_user, cast(ts as timestamp) AS p_tts,
        |  min(event_id) AS purchase_id, arg_min(value, event_id) AS p_value
        | FROM events WHERE event_type = 'purchase' GROUP BY 1, 2)
        |SELECT c.event_id, c.user_id, p.purchase_id, p.p_value,
        | cast(epoch_us(c.tts) - epoch_us(p.p_tts) as double) / 1000000 AS asof_lag_sec
        |FROM clicks c ASOF LEFT JOIN purchases p
        |  ON c.user_id = p.p_user AND c.tts >= p.p_tts
        |ORDER BY c.event_id""".stripMargin,

    "q_dq_report" ->
      """WITH base AS (
        | SELECT count(*) AS n,
        |  sum(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END) AS v_null,
        |  sum(CASE WHEN coalesce(o_totalprice > 0, false) THEN 0 ELSE 1 END) AS v_price,
        |  sum(CASE WHEN coalesce(o_orderstatus IN ('O','F','P'), false) THEN 0 ELSE 1 END) AS v_vocab,
        |  sum(CASE WHEN coalesce(cast(o_orderdate as timestamp)
        |    BETWEEN '1992-01-01' AND '2005-12-31', false) THEN 0 ELSE 1 END) AS v_date,
        |  count(*) - count(DISTINCT o_orderkey) AS v_uniq
        | FROM orders)
        |SELECT "constraint", cast(n as bigint) AS n_rows,
        | cast(v as bigint) AS n_violations, v = 0 AS pass
        |FROM (
        | SELECT 'custkey_not_null' AS "constraint", n, v_null AS v FROM base
        | UNION ALL SELECT 'price_positive', n, v_price FROM base
        | UNION ALL SELECT 'status_vocab', n, v_vocab FROM base
        | UNION ALL SELECT 'date_in_range', n, v_date FROM base
        | UNION ALL SELECT 'unique(o_orderkey)', n, v_uniq FROM base)
        |ORDER BY "constraint"""".stripMargin,

    "q_funnel" ->
      """WITH s1 AS (SELECT user_id, min(cast(ts as timestamp)) AS t1
        |  FROM events WHERE event_type = 'signup' GROUP BY 1),
        |s2 AS (SELECT e.user_id, min(cast(ts as timestamp)) AS t2
        |  FROM events e JOIN s1 USING (user_id)
        |  WHERE event_type = 'view' AND cast(ts as timestamp) > t1 GROUP BY 1),
        |s3 AS (SELECT e.user_id, min(cast(ts as timestamp)) AS t3
        |  FROM events e JOIN s2 USING (user_id)
        |  WHERE event_type = 'click' AND cast(ts as timestamp) > t2 GROUP BY 1),
        |s4 AS (SELECT e.user_id, min(cast(ts as timestamp)) AS t4
        |  FROM events e JOIN s3 USING (user_id)
        |  WHERE event_type = 'purchase' AND cast(ts as timestamp) > t3 GROUP BY 1)
        |SELECT cast((SELECT count(*) FROM s1) as bigint) AS n_signup,
        | cast((SELECT count(*) FROM s2) as bigint) AS n_view,
        | cast((SELECT count(*) FROM s3) as bigint) AS n_click,
        | cast((SELECT count(*) FROM s4) as bigint) AS n_purchase""".stripMargin,

    "q_nullsafe_join" ->
      """WITH o AS (SELECT *, nullif(o_orderpriority, '1-URGENT') AS pr FROM orders),
        |dim AS (SELECT DISTINCT pr AS dpr, coalesce(pr, 'URGENT_BUCKET') AS label FROM o)
        |SELECT label, count(*) AS n
        |FROM o JOIN dim ON o.pr IS NOT DISTINCT FROM dim.dpr
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    "q_map_ops" ->
      """SELECT o_orderkey,
        | array_to_string(list_sort([
        |   'status=' || upper(o_orderstatus),
        |   'year=' || cast(year(cast(o_orderdate as date)) as varchar)]), ',') AS meta
        |FROM orders ORDER BY o_orderkey""".stripMargin,

    "q_gap_fill" ->
      """WITH daily AS (
        | SELECT user_id, date_trunc('day', cast(ts as timestamp)) AS day,
        |  sum(cast(value as decimal(28,15))) AS day_val
        | FROM events GROUP BY 1, 2),
        |spans AS (SELECT user_id, min(day) AS d0, max(day) AS d1 FROM daily GROUP BY 1),
        |grid AS (SELECT user_id, unnest(generate_series(d0, d1, INTERVAL 1 DAY)) AS day FROM spans),
        |j AS (SELECT g.user_id, g.day, d.day_val
        |      FROM grid g LEFT JOIN daily d USING (user_id, day))
        |SELECT user_id, strftime(day, '%Y-%m-%d') AS day,
        | round(cast(last_value(day_val IGNORE NULLS) OVER (PARTITION BY user_id ORDER BY day
        |   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) as double), 4) AS filled_val,
        | day_val IS NULL AS is_gap
        |FROM j ORDER BY user_id, day""".stripMargin,

    "q_salted_join" ->
      """SELECT o_orderpriority, count(*) AS n,
        | cast(sum(cast(l_quantity as decimal(18,2))) as double) AS qty_sum
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    "q_sample_exact_n" ->
      """WITH r AS (
        | SELECT lang, doc_id, cast(row_number() OVER (PARTITION BY lang
        |   ORDER BY md5('s' || cast(doc_id as varchar)), doc_id) as int) AS rk
        | FROM documents)
        |SELECT lang, doc_id, rk FROM r WHERE rk <= 3
        |ORDER BY lang, rk""".stripMargin,

    "q_array_ops" ->
      """WITH a AS (
        | SELECT o_custkey, list_sort(list(DISTINCT o_orderpriority)) AS p96
        | FROM orders WHERE year(cast(o_orderdate as date)) = 1996 GROUP BY 1),
        |b AS (
        | SELECT o_custkey, list_sort(list(DISTINCT o_orderpriority)) AS p97
        | FROM orders WHERE year(cast(o_orderdate as date)) = 1997 GROUP BY 1)
        |SELECT a.o_custkey,
        | list_contains(p96, '1-URGENT') AS had_urgent_96,
        | coalesce(array_to_string(list_sort(list_filter(p96, x -> NOT list_contains(p97, x))), ','), '') AS dropped,
        | coalesce(array_to_string(list_sort(list_filter(p96, x -> list_contains(p97, x))), ','), '') AS kept,
        | cast(len(p96) + len(p97) as int) AS n_all
        |FROM a JOIN b USING (o_custkey)
        |ORDER BY o_custkey""".stripMargin,

    "q_json_typed" ->
      """SELECT event_type, count(*) AS n,
        | cast(sum(cast(props->>'k' as int)) as bigint) AS k_sum,
        | cast(count(DISTINCT user_id) as bigint) AS n_users
        |FROM events GROUP BY 1 ORDER BY 1""".stripMargin,

    // replays the same drifting packets from the same raw columns
    // through DuckDB's JSON functions: json_extract of an absent key
    // yields NULL (→ meta_json NULL on shape 1), json_object rebuilds
    // the normalized summary with the identical key order
    "q_json_roundtrip" ->
      """WITH raw AS (
        | SELECT doc_id,
        |  CASE cast(doc_id % 3 as int)
        |   WHEN 0 THEN '{"result":{"status":"ok","detail":{"p_ppm":' || (n_chars*3+1)
        |     || ',"effect":' || (doc_id % 17) || '}},"meta":{"src":"' || source || '"}}'
        |   WHEN 1 THEN '{"result":{"status":"ok","detail":{"p_ppm":' || (n_chars*3+1)
        |     || '}},"extra":[' || (doc_id % 5) || ',' || (doc_id % 7) || ']}'
        |   ELSE '{"result":{"status":"fail"},"meta":{"src":"' || source
        |     || '","lang":"' || lang || '"}}'
        |  END AS raw
        | FROM documents),
        |p AS (SELECT doc_id, raw,
        |  json_extract_string(raw, '$.result.status') AS status,
        |  cast(json_extract(raw, '$.result.detail.p_ppm') as bigint) AS p_ppm,
        |  coalesce(cast(json_array_length(raw, '$.extra') as int), 0) AS n_extra
        | FROM raw)
        |SELECT doc_id, status, p_ppm,
        | cast(json_object('status', status, 'p_ppm', coalesce(p_ppm, -1),
        |   'n_extra', n_extra) as varchar) AS summary_json,
        | cast(json_extract(raw, '$.meta') as varchar) AS meta_json
        |FROM p ORDER BY doc_id""".stripMargin,

    "q_asof_plan" ->
      """WITH clicks AS (
        | SELECT event_id, user_id, cast(ts as timestamp) AS tts
        | FROM events WHERE event_type = 'click'),
        |purchases AS (
        | SELECT user_id AS p_user, cast(ts as timestamp) AS p_tts,
        |  min(event_id) AS purchase_id, arg_min(value, event_id) AS p_value
        | FROM events WHERE event_type = 'purchase' GROUP BY 1, 2)
        |SELECT c.event_id, c.user_id, p.purchase_id, p.p_value,
        | cast(epoch_us(c.tts) - epoch_us(p.p_tts) as double) / 1000000 AS asof_lag_sec
        |FROM clicks c ASOF LEFT JOIN purchases p
        |  ON c.user_id = p.p_user AND c.tts >= p.p_tts
        |ORDER BY c.event_id""".stripMargin,

    // the range-split form must produce byte-identical output to the
    // plain-keyed operator, so it shares q_asof_plan's oracle verbatim
    "q_asof_split" ->
      """WITH clicks AS (
        | SELECT event_id, user_id, cast(ts as timestamp) AS tts
        | FROM events WHERE event_type = 'click'),
        |purchases AS (
        | SELECT user_id AS p_user, cast(ts as timestamp) AS p_tts,
        |  min(event_id) AS purchase_id, arg_min(value, event_id) AS p_value
        | FROM events WHERE event_type = 'purchase' GROUP BY 1, 2)
        |SELECT c.event_id, c.user_id, p.purchase_id, p.p_value,
        | cast(epoch_us(c.tts) - epoch_us(p.p_tts) as double) / 1000000 AS asof_lag_sec
        |FROM clicks c ASOF LEFT JOIN purchases p
        |  ON c.user_id = p.p_user AND c.tts >= p.p_tts
        |ORDER BY c.event_id""".stripMargin,

    "q_set_ops" ->
      """SELECT 'intersect' AS tag, custkey FROM (
        | SELECT o_custkey AS custkey FROM orders
        | INTERSECT
        | SELECT c_custkey FROM customer WHERE c_acctbal < 0)
        |UNION ALL
        |SELECT 'except_all' AS tag, custkey FROM (
        | SELECT o_custkey AS custkey FROM orders
        | EXCEPT ALL
        | SELECT c_custkey FROM customer WHERE c_acctbal < 0)
        |ORDER BY tag, custkey""".stripMargin,

    "q_derive_runtime" ->
      """SELECT l_orderkey, l_linenumber,
        | l_extendedprice * (1 - l_discount) AS net,
        | (l_extendedprice * (1 - l_discount)) * (1 + l_tax) AS charge,
        | ((l_extendedprice * (1 - l_discount)) * (1 + l_tax)) > 100000 AS is_premium
        |FROM lineitem ORDER BY l_orderkey, l_linenumber""".stripMargin,

    "q_stream_sessions" ->
      """WITH flagged AS (
        | SELECT user_id, cast(ts as timestamp) AS tts,
        |  CASE WHEN lag(cast(ts as timestamp)) OVER w IS NULL
        |         OR epoch_us(cast(ts as timestamp))
        |            - epoch_us(lag(cast(ts as timestamp)) OVER w) > 1800000000
        |       THEN 1 ELSE 0 END AS new_s
        | FROM events
        | WINDOW w AS (PARTITION BY user_id ORDER BY cast(ts as timestamp))),
        |s AS (
        | SELECT user_id, tts,
        |  sum(new_s) OVER (PARTITION BY user_id ORDER BY tts) AS seq
        | FROM flagged)
        |SELECT strftime(min(tts), '%Y-%m-%d %H:%M:%S.%f') AS session_start,
        | user_id, count(*) AS n_events
        |FROM s GROUP BY user_id, seq
        |ORDER BY user_id, session_start""".stripMargin,

    // replays applyCdcLog: the same log projection, last-writer-wins
    // compaction under the (ts, event_id) DESC total order, tombstone
    // filter, and anti-join + union apply
    "q_cdc_apply" -> cdcApplySql,

    // replays mergeVersioned's max-by-(ts, event_id) fold over the
    // seeded state (customer snapshot at epoch / event_id -1), then
    // expireTombstones' floor filter: live rows always survive;
    // tombstones survive iff ts >= max(ts) - 15 days
    "q_cdc_ttl" ->
      """WITH target AS (
        | SELECT c_custkey, c_name,
        |  cast(floor(c_acctbal * 100) as bigint) AS acct_cents,
        |  'upsert' AS _op, TIMESTAMP '1970-01-01 00:00:00' AS ts,
        |  cast(-1 as bigint) AS event_id
        | FROM customer),
        |log AS (
        | SELECT user_id AS c_custkey, 'cdc-' || event_id AS c_name,
        |  cast(floor(value * 100) as bigint) AS acct_cents,
        |  CASE WHEN event_type = 'error' THEN 'delete' ELSE 'upsert' END AS _op,
        |  ts, event_id
        | FROM events),
        |st AS (
        | SELECT c_custkey, c_name, acct_cents, _op, ts, event_id FROM (
        |  SELECT *, row_number() OVER (
        |   PARTITION BY c_custkey ORDER BY ts DESC, event_id DESC) AS rn
        |  FROM (SELECT * FROM target UNION ALL SELECT * FROM log)) WHERE rn = 1),
        |fl AS (SELECT max(ts) - INTERVAL 15 DAY AS f FROM events)
        |SELECT c_custkey, c_name, acct_cents, _op,
        | strftime(ts, '%Y-%m-%d %H:%M:%S.%f') AS ts, event_id
        |FROM st, fl
        |WHERE _op IS DISTINCT FROM 'delete' OR ts >= f
        |ORDER BY c_custkey""".stripMargin,

    // the STREAMING apply must land on the identical snapshot: global
    // last-writer-wins is the fixed point of any batched
    // mergeVersioned fold, so the oracle is the q_cdc_apply SQL itself
    "q_stream_cdc" -> cdcApplySql,

    "q_merge_upsert" ->
      """WITH base AS (SELECT c_custkey, c_name, c_acctbal FROM customer),
        |updates AS (
        | SELECT c_custkey, c_name, round(c_acctbal + 1000.0, 2) AS c_acctbal
        | FROM base WHERE c_custkey % 10 = 0
        | UNION ALL
        | SELECT c_custkey + 1000000, 'NEW-' || c_name, c_acctbal
        | FROM base WHERE c_custkey % 97 = 3)
        |SELECT * FROM (
        | SELECT b.* FROM base b ANTI JOIN updates u ON b.c_custkey = u.c_custkey
        | UNION ALL
        | SELECT * FROM updates)
        |ORDER BY c_custkey""".stripMargin,

    "q_decontaminate" ->
      """WITH toks AS (
        | SELECT doc_id,
        |  string_split(trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9 ]', ' ', 'g'), ' +', ' ', 'g')), ' ') AS tk
        | FROM documents),
        |sh AS (
        | SELECT doc_id, unnest(CASE WHEN len(tk) < 3 THEN [array_to_string(tk, ' ')]
        |   ELSE list_distinct(list_transform(range(1, len(tk) - 1),
        |          i -> tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2])) END) AS s
        | FROM toks),
        |evals AS (SELECT DISTINCT s FROM sh WHERE doc_id % 50 = 0),
        |shared AS (
        | SELECT t.doc_id, count(DISTINCT t.s) AS n_shared
        | FROM sh t JOIN evals e ON t.s = e.s
        | WHERE t.doc_id % 50 <> 0 GROUP BY 1)
        |SELECT d.doc_id, cast(coalesce(s.n_shared, 0) as bigint) AS n_shared,
        | coalesce(s.n_shared, 0) >= 5 AS contaminated
        |FROM documents d LEFT JOIN shared s USING (doc_id)
        |WHERE d.doc_id % 50 <> 0 ORDER BY doc_id""".stripMargin,

    "q_pii_scrub" ->
      """WITH src AS (
        | SELECT doc_id,
        |  text || ' contact user' || doc_id || '@example.com or call 555' || doc_id || '1234567' AS f
        | FROM documents)
        |SELECT doc_id,
        | cast(len(regexp_extract_all(f, '[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\.[a-z]{2,}')) as int) AS n_emails,
        | cast(len(regexp_extract_all(f, '[0-9]{6,}')) as int) AS n_digit_runs,
        | cast(length(regexp_replace(regexp_replace(f, '[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\.[a-z]{2,}', '[EMAIL]', 'g'), '[0-9]{6,}', '[NUM]', 'g')) as int) AS scrubbed_len
        |FROM src ORDER BY doc_id""".stripMargin,

    "q_vocab_stats" ->
      """WITH toks AS (
        | SELECT doc_id,
        |  unnest(string_split(trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9 ]', ' ', 'g'), ' +', ' ', 'g')), ' ')) AS tok
        | FROM documents)
        |SELECT tok, count(*) AS n, cast(count(DISTINCT doc_id) as bigint) AS n_docs
        |FROM toks WHERE length(tok) > 0 GROUP BY 1 ORDER BY 1""".stripMargin
  )
}
