package graft.operators

import org.apache.spark.sql.{Column, DataFrame, GraftBridge}
import org.apache.spark.sql.catalyst.expressions.{BloomFilterMightContain, XxHash64}
import org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate
import org.apache.spark.sql.functions._

/** Bloom-filter semi-join reduction: build a bloom filter over the
  * dimension side's join keys INSIDE the plan (a scalar subquery —
  * never materialized on the driver) and prune the fact side with it
  * BEFORE the join's shuffle.
  *
  * This is the key-pruning shape the reference effectively gets from
  * its Solr skip-lists (jobs/clean/experiment_cleaner.py:234 drops by
  * membership before heavy downstream work), generalized to any join:
  * at 100 TB a fact⋈dim join whose dim is too big to broadcast pays a
  * full fact shuffle even when only a few % of fact rows survive the
  * join. A bloom filter is the middle path — kilobytes-to-megabytes
  * broadcast to every task regardless of dim cardinality (sized by
  * `numBits`, NOT by dim rows), filtering at the scan so the shuffle
  * only carries probable matches. False positives only cost shuffled
  * bytes; the join's exact equality check keeps results identical —
  * which is why the whole operator is oracle-checkable against the
  * plain join.
  *
  * Spark's own InjectRuntimeFilter applies the same trick, but only
  * under its own heuristics (creation-side thresholds, no explicit
  * control); this operator makes it deterministic and caller-directed.
  * Both sides hash with XxHash64 (the engine's bloom convention).
  */
object BloomPrune {

  /** WHEN to inject, pinned from the measured payoff curve rather than
    * intuition (SCALE_r14 `bloom_join_ab`: ×32 corpus, broadcast disabled —
    * the dim-too-big-to-broadcast regime; ratios are bloom/plain TOTAL
    * query shuffle-write, so both sides include the common aggregation
    * shuffle and the isolated fact-side saving is stronger):
    *
    *   fact-survival selectivity 0.10 → ratio 0.104
    *   fact-survival selectivity 0.40 → ratio 0.418
    *   fact-survival selectivity 1.00 → ratio 1.023
    *
    * The curve is ~linear: ratio ≈ selectivity + ~2% build/probe
    * overhead. Shuffle-wise the filter pays for itself at any
    * selectivity below ~1; the break-even is set at 0.75 to leave
    * margin for the costs the shuffle ratio doesn't see — the extra
    * dim-side scan + aggregation that builds the filter (wall-time:
    * the sel=1.0 point ran 1.2× slower end-to-end), and false
    * positives inflating the effective pass rate. */
  val SelectivityBreakEven = 0.75

  /** True when bloom pruning is expected to win for a fact⋈dim join:
    * the effective fact pass rate — estimated survival selectivity
    * plus the false-positive leakage on the non-surviving fraction —
    * sits below [[SelectivityBreakEven]]. `fpp` defaults to ~3%, the
    * rate a filter sized with numBits ≈ 8–10 bits/expected item
    * delivers; callers with a mis-sized filter should pass their real
    * rate. Estimate selectivity the usual way: distinct dim keys ×
    * fact rows-per-key / fact rows, or a prior run's join output. */
  def shouldInject(estimatedFactSelectivity: Double, fpp: Double = 0.03): Boolean = {
    require(estimatedFactSelectivity >= 0 && estimatedFactSelectivity <= 1,
      s"selectivity is a fraction; got $estimatedFactSelectivity")
    require(fpp >= 0 && fpp < 1, s"fpp is a fraction; got $fpp")
    val effectivePassRate =
      estimatedFactSelectivity + (1 - estimatedFactSelectivity) * fpp
    effectivePassRate < SelectivityBreakEven
  }

  /** A `might_contain` predicate on `factKey` against a bloom filter
    * of `dim`'s `dimKey`s, built as a scalar subquery (one distributed
    * aggregation; its binary result is broadcast by the engine). */
  def mightMatch(fact: DataFrame, dim: DataFrame, factKey: String,
                 dimKey: String, expectedItems: Long, numBits: Long): Column = {
    val bloomAgg = GraftBridge.column(
      new BloomFilterAggregate(
        new XxHash64(Seq(GraftBridge.expression(col(dimKey)))),
        org.apache.spark.sql.catalyst.expressions.Literal(expectedItems),
        org.apache.spark.sql.catalyst.expressions.Literal(numBits))
        .toAggregateExpression())
    val bloomPlan = GraftBridge.analyzedPlan(dim.select(bloomAgg.as("bf")))
    val sub = org.apache.spark.sql.catalyst.expressions.ScalarSubquery(bloomPlan)
    GraftBridge.column(BloomFilterMightContain(sub,
      new XxHash64(Seq(GraftBridge.expression(col(factKey))))))
  }

  /** The fact side with non-candidate rows dropped at the scan.
    * `numBits` bounds the broadcast payload (default 8M bits = 1 MB);
    * size `expectedItems` to the dim's distinct-key estimate for the
    * target false-positive rate (~3% at n = bits/8·ln2·... — the
    * standard m/n trade-off). */
  def pruneFact(fact: DataFrame, dim: DataFrame, factKey: String, dimKey: String,
                expectedItems: Long = 1000000L, numBits: Long = 8388608L): DataFrame =
    fact.filter(mightMatch(fact, dim, factKey, dimKey, expectedItems, numBits))

  /** The full pruned inner join: bloom-filter the fact side, then the
    * exact equi-join — result rows identical to the plain join (false
    * positives are eliminated by the join itself), shuffle reduced to
    * probable matches. */
  def join(fact: DataFrame, dim: DataFrame, factKey: String, dimKey: String,
           expectedItems: Long = 1000000L, numBits: Long = 8388608L): DataFrame =
    pruneFact(fact, dim, factKey, dimKey, expectedItems, numBits)
      .join(dim, col(factKey) === col(dimKey))
}
