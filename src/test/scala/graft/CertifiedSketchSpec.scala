package graft

import graft.operators.Dedup
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Round-13 additions: the driver-certified sketch bounds
  * (within_bounds booleans riding the hash compare), the
  * q_embed_project literal projection, and the pruned near-dup
  * bucket-cap accounting. */
class CertifiedSketchSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._
  private val sf = "/root/testdata/sf0.001"

  test("q_approx_distinct: exact counts match countDistinct, bounds hold") {
    val out = SparkEntry.queries("q_approx_distinct")(spark, sf).collect()
    assert(out.nonEmpty)
    // the certification booleans must all be true — an out-of-bound
    // sketch here means the driver's hash compare would fail too
    assert(out.forall(r => r.getBoolean(r.fieldIndex("users_within_bounds"))))
    assert(out.forall(r => r.getBoolean(r.fieldIndex("values_within_bounds"))))
  }

  test("q_approx_percentile: approx lands inside the exact rank margin") {
    val out = SparkEntry.queries("q_approx_percentile")(spark, sf).collect()
    assert(out.nonEmpty)
    assert(out.forall(r => r.getBoolean(r.fieldIndex("p50_within_bounds"))))
    assert(out.forall(r => r.getBoolean(r.fieldIndex("p95_within_bounds"))))
  }

  test("q_hll_union: per-type and UNION rollup estimates within 5% of exact") {
    val out = SparkEntry.queries("q_hll_union")(spark, sf).collect()
    assert(out.exists(_.getString(0) == "__total__"))
    assert(out.forall(r => r.getBoolean(r.fieldIndex("within_bounds"))))
  }

  test("sketch-alone production siblings: schema, coverage, and bounds " +
    "vs independently re-derived exacts") {
    // r14 (VERDICT r13 #5): the _sketch queries are the benched
    // production plans — no exact twin in-plan, so THIS spec carries
    // their accuracy evidence (the certified siblings hash-check the
    // same bounds in the driver gate).
    val ev = spark.read.parquet(s"$sf/events.parquet")
    val exactUsers = ev.groupBy("event_type")
      .agg(countDistinct(col("user_id")).as("n"))
      .as[(String, Long)].collect().toMap
    val ad = SparkEntry.queries("q_approx_distinct_sketch")(spark, sf).collect()
    assert(ad.map(_.getString(0)).toSet == exactUsers.keySet)
    ad.foreach { r =>
      val exact = exactUsers(r.getString(0))
      assert(math.abs(r.getLong(r.fieldIndex("approx_users")) - exact) <=
        math.max(1.0, exact * 0.20))
    }
    val hll = SparkEntry.queries("q_hll_union_sketch")(spark, sf).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(hll.keySet == exactUsers.keySet + "__total__")
    val exactTotal = ev.select(countDistinct(col("user_id"))).as[Long].head()
    assert(math.abs(hll("__total__") - exactTotal) <= math.max(1.0, exactTotal * 0.065))
    // union dominance on the emitted estimates, up to the 4σ relative
    // width at lgK=12 (ADVICE r14: the post-union composite estimator
    // can land slightly below a dominant input's HIP estimate)
    val domSlack = 4.0 * 1.04 / math.sqrt(4096.0)
    (hll - "__total__").values.foreach(e =>
      assert(hll("__total__") >= e * (1.0 - domSlack)))
    val li = spark.read.parquet(s"$sf/lineitem.parquet")
    val pe = li.groupBy("l_returnflag")
      .agg(percentile(col("l_extendedprice").cast("double"),
        typedlit(Seq(0.25, 0.75, 0.9, 1.0))).as("pe"))
      .as[(String, Seq[Double])].collect().toMap
    val ap = SparkEntry.queries("q_approx_percentile_sketch")(spark, sf).collect()
    assert(ap.map(_.getString(0)).toSet == pe.keySet)
    ap.foreach { r =>
      val b = pe(r.getString(0))
      // coarse envelope (the tight rank bound is the certified
      // sibling's job): p50 within the exact IQR, p95 in [p90, max]
      assert(r.getDouble(1) >= b(0) && r.getDouble(1) <= b(1))
      assert(r.getDouble(2) >= b(2) && r.getDouble(2) <= b(3))
    }
  }

  test("q_embed_project: exact integer Walsh–Hadamard projection, " +
    "independently recomputed") {
    val emb = spark.read.parquet(s"$sf/embeddings.parquet")
    val q = graft.operators.Cluster.quantize(emb, "vec_id", "embedding")
      .orderBy("id").limit(5).collect()
      .map(r => r.getLong(0) -> r.getSeq[Long](1))
    val proj = SparkEntry.queries("q_embed_project")(spark, sf)
      .filter(col("vec_id") <= q.map(_._1).max).orderBy("vec_id").collect()
    val wh = (0 until 8).map(c => (0 until 64).map(k =>
      if (java.lang.Integer.bitCount(c & k) % 2 == 0) 1L else -1L))
    q.zip(proj).foreach { case ((id, vec), row) =>
      assert(row.getLong(0) == id)
      (0 until 8).foreach { c =>
        val expect = vec.indices.map(k => vec(k) * wh(c)(k)).sum
        assert(row.getLong(1 + c) == expect,
          s"vec $id component $c: got ${row.getLong(1 + c)}, want $expect")
      }
    }
    // row 0 of the WH matrix is all +1: proj_0 is the plain coefficient
    // sum — a structural sanity anchor independent of the recompute
    q.zip(proj).foreach { case ((_, vec), row) =>
      assert(row.getLong(1) == vec.sum)
    }
  }

  test("minhashPrunedJaccard drops oversized buckets LOUDLY, not silently") {
    val docs = (0 until 6).map(i => (i.toLong, "alpha beta gamma delta common text"))
      .toDF("doc_id", "text")
    // every doc identical → one dense bucket per band; maxBucket=2
    // forces the cap: the call must complete (warn path), and the
    // capped pair set must be EMPTY (the only bucket exceeded the cap)
    val out = Dedup.minhashPrunedJaccard(docs, "doc_id", "text",
      shingleN = 3, threshold = 0.5, numHashes = 32, bands = 16, maxBucket = 2)
    assert(out.count() == 0)
    // at the default cap the same corpus yields all 15 unordered pairs
    val full = Dedup.minhashPrunedJaccard(docs, "doc_id", "text",
      shingleN = 3, threshold = 0.5, numHashes = 32, bands = 16)
    assert(full.count() == 15)
  }

  test("a fully capped pruned pass still reports its drops to the caller's action") {
    val docs = (0 until 6).map(i => (i.toLong, "alpha beta gamma delta common text"))
      .toDF("doc_id", "text")
    // 16 bands, each one bucket of all 6 docs, all past maxBucket=2:
    // the result is empty and the observation must still arrive
    val out = Dedup.minhashPrunedJaccard(docs, "doc_id", "text",
      shingleN = 3, threshold = 0.5, numHashes = 32, bands = 16, maxBucket = 2)
    val seen = new java.util.concurrent.LinkedBlockingQueue[org.apache.spark.sql.Row]()
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(f: String, qe: org.apache.spark.sql.execution.QueryExecution,
                             ns: Long): Unit =
        qe.observedMetrics.get(Dedup.NearDupDropObservation).foreach(seen.add)
      override def onFailure(f: String, qe: org.apache.spark.sql.execution.QueryExecution,
                             e: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      assert(out.collect().isEmpty)
      val row = seen.poll(30, java.util.concurrent.TimeUnit.SECONDS)
      assert(row != null, "no drop observation reached the listener")
      assert(row == org.apache.spark.sql.Row(16L, 96L, 6))
    } finally spark.listenerManager.unregister(listener)
  }

  test("q_token_bpe_verify: 8 ranked merges, deterministic across runs") {
    val a = SparkEntry.queries("q_token_bpe_verify")(spark, sf).collect()
    val b = SparkEntry.queries("q_token_bpe_verify")(spark, sf).collect()
    assert(a.length == 8 && a.sameElements(b))
    assert(a.map(_.getInt(0)).toSeq == (0 until 8))
  }
}
