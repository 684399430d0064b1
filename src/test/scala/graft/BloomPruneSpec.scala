package graft

import graft.operators.BloomPrune
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Bloom semi-join reduction: result parity with the plain join (under
  * a forced shuffle join — the scenario the operator exists for),
  * actual fact-side pruning, zero false negatives, and the in-plan
  * (scalar-subquery, driver-free) bloom build.
  */
class BloomPruneSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private def fixture = {
    // fact keys 0..9999, dim keeps only multiples of 97 → ~1% survive
    val fact = spark.range(0, 10000).select(col("id").as("fk"),
      (col("id") % 7).as("v"))
    val dim = spark.range(0, 10000).filter(col("id") % 97 === 0)
      .select(col("id").as("dk"), lit("d").as("tag"))
    (fact, dim)
  }

  test("pruned join returns exactly the plain join rows, even as a shuffle join") {
    val (fact, dim) = fixture
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val got = BloomPrune.join(fact, dim, "fk", "dk",
          expectedItems = 1000L, numBits = 1L << 16)
        .select("fk", "v", "dk", "tag")
      val want = fact.join(dim, col("fk") === col("dk"))
        .select("fk", "v", "dk", "tag")
      assert(got.collect().toSet == want.collect().toSet)
      assert(got.count() == 10000 / 97 + 1)
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("pruneFact drops most non-matching rows and never a matching one") {
    val (fact, dim) = fixture
    val pruned = BloomPrune.pruneFact(fact, dim, "fk", "dk",
      expectedItems = 1000L, numBits = 1L << 16)
    val n = pruned.count()
    val matches = 10000 / 97 + 1
    // no false negatives: every true key passes the bloom
    assert(pruned.filter(col("fk") % 97 === 0).count() == matches)
    // real pruning: survivors are a small multiple of the true
    // matches, nowhere near the 10k input (fpp at these sizes ≪ 1%)
    assert(n >= matches && n < 1000, s"pruned to $n rows")
  }

  test("the bloom is built in-plan: a scalar subquery, and the filter rides might_contain") {
    val (fact, dim) = fixture
    val plan = BloomPrune.pruneFact(fact, dim, "fk", "dk")
      .queryExecution.optimizedPlan.toString
    assert(plan.contains("might_contain"), plan.take(500))
    assert(plan.contains("scalar-subquery"), plan.take(500))
    assert(plan.contains("bloom_filter_agg"), plan.take(500))
  }

  test("shouldInject agrees with the measured payoff curve's sign at all three points") {
    // SCALE_r14 bloom_join_ab (x32, broadcast disabled) measured total-shuffle
    // ratios 0.104 / 0.418 / 1.023 at fact selectivities 0.10 / 0.40 /
    // 1.00 — wins at the first two, a pure-overhead loss at the third.
    // The heuristic must carry the same signs.
    assert(BloomPrune.shouldInject(0.10), "sel=0.10 measured a 10x win")
    assert(BloomPrune.shouldInject(0.40), "sel=0.40 measured a 2.4x win")
    assert(!BloomPrune.shouldInject(1.00), "sel=1.00 measured pure overhead")
    // fpp leakage counts toward the pass rate: a filter so mis-sized
    // that most non-matches leak through erases the win
    assert(!BloomPrune.shouldInject(0.40, fpp = 0.9))
    intercept[IllegalArgumentException](BloomPrune.shouldInject(1.5))
  }

  test("empty dim prunes everything; join is empty not failing") {
    val (fact, dim) = fixture
    val none = dim.filter(col("dk") < 0)
    assert(BloomPrune.join(fact, none, "fk", "dk").count() == 0)
  }
}
