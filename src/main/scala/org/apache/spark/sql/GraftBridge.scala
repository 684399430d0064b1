package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan

/** Bridge into Spark 4's `private[sql]` Column↔Expression converters,
  * needed to expose custom Catalyst expressions as user-facing
  * `Column`s (the pre-4.0 `new Column(expr)` constructor is gone), and
  * the Dataset↔LogicalPlan converters custom logical operators need.
  */
object GraftBridge {
  def column(e: Expression): Column =
    Column(classic.ExpressionColumnNode(e))

  def expression(c: Column): Expression =
    classic.ColumnConversions.expression(c)

  /** The analyzed logical plan behind a DataFrame. */
  def analyzedPlan(df: Dataset[_]): LogicalPlan =
    df.asInstanceOf[classic.Dataset[_]].queryExecution.analyzed

  /** Wrap a logical plan back into a DataFrame. */
  def ofRows(spark: SparkSession, plan: LogicalPlan): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession], plan)

  /** A DataFrame over `rdd`, whose rows are internal rows of `schema`. */
  def internalFrame(spark: SparkSession, rdd: org.apache.spark.rdd.RDD[catalyst.InternalRow],
                    schema: types.StructType): DataFrame =
    spark.asInstanceOf[classic.SparkSession].internalCreateDataFrame(rdd, schema)

  /** Re-assert a hash-partitioning CLAIM on a checkpointed frame
    * (one made by `graft.Materialize`).
    *
    * Iterative operators (BFS's reached-set merge) keep their state
    * frame physically hash-partitioned on the key across iterations,
    * but the claim dies in DataFrame land: a FULL OUTER sort-merge
    * join reports UnknownPartitioning (either side's key attribute can
    * be null in the output, so neither SIDE's claim holds — even
    * though the COALESCED key column is exactly hash-distributed), and
    * the next iteration's EnsureRequirements re-exchanges the whole
    * state frame. This rebuilds the checkpoint's LogicalRDD with
    * HashPartitioning(cols, actual partition count) over the same RDD
    * so the next join only shuffles the small side.
    *
    * SAFETY CONTRACT (the caller proves, not this helper): the frame's
    * physical layout must BE hash(cols) % numPartitions — i.e. it came
    * out of a shuffle on exactly `cols` with AQE partition COALESCING
    * disabled for the materializing action (coalesced reads group hash
    * buckets, which satisfies clustering but NOT the modulo mapping —
    * claiming HashPartitioning over a coalesced layout mis-joins
    * silently). With `sortedWithinPartitions` the caller additionally
    * warrants each partition is ASCENDING on `cols` (e.g. the frame
    * came out of a sort-merge join on exactly them) — the ordering
    * claim lets the next sort-merge join skip re-sorting the big
    * side. Returns the input unchanged when the plan is not a
    * LogicalRDD. */
  def claimHashPartitioned(cp: DataFrame, cols: Seq[String],
                           sortedWithinPartitions: Boolean = false): DataFrame = {
    val ds = cp.asInstanceOf[classic.Dataset[_]]
    ds.queryExecution.analyzed match {
      case lr: org.apache.spark.sql.execution.LogicalRDD =>
        val attrs = cols.map(c => lr.output.find(_.name == c).getOrElse(
          throw new IllegalArgumentException(s"no column $c in checkpointed frame")))
        val n = lr.rdd.getNumPartitions
        val ordering =
          if (sortedWithinPartitions)
            attrs.map(a => org.apache.spark.sql.catalyst.expressions.SortOrder(
              a, org.apache.spark.sql.catalyst.expressions.Ascending))
          else lr.outputOrdering
        if (n < 1) cp
        else classic.Dataset.ofRows(ds.sparkSession,
          // fresh node, not copy(): LogicalRDD's curried
          // (originStats, originConstraints) are private with no copy
          // defaults; None falls back to conf.defaultSizeInBytes —
          // conservatively LARGE, so the re-claimed frame can never be
          // mistaken for broadcastable
          new org.apache.spark.sql.execution.LogicalRDD(
            lr.output, lr.rdd,
            org.apache.spark.sql.catalyst.plans.physical.HashPartitioning(attrs, n),
            ordering, lr.isStreaming, lr.stream)(
            ds.sparkSession, None, None))
      case _ => cp
    }
  }

  /** Block until the listener bus has delivered all queued events —
    * required before reading listener-accumulated metrics (the bus is
    * async; `private[spark]`, hence bridged here). */
  def drainListenerBus(sc: org.apache.spark.SparkContext, timeoutMs: Long): Unit =
    sc.listenerBus.waitUntilEmpty(timeoutMs)

  /** Max broadcast build-side (rows, bytes) over every broadcast
    * exchange in an EXECUTED physical plan, descending into AQE query
    * stages and reused exchanges. The bench harness records this per
    * query so the scale gate can fail any plan whose broadcast build
    * side GROWS with the corpus — the q_doc_assembly class of bug
    * (AQE broadcasting a fact-sized aggregate: invisible at test SF,
    * a guaranteed driver OOM at 100 TB). Plan-string audits can't see
    * this; only the post-AQE executed plan knows what was broadcast. */
  def maxBroadcastBuild(plan: org.apache.spark.sql.execution.SparkPlan): (Long, Long) = {
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    import org.apache.spark.sql.execution.exchange.{BroadcastExchangeLike, ReusedExchangeExec}
    var rows = 0L
    var bytes = 0L
    def walk(p: SparkPlan): Unit = p match {
      case a: AdaptiveSparkPlanExec => walk(a.executedPlan)
      case s: QueryStageExec => walk(s.plan)
      case r: ReusedExchangeExec => walk(r.child)
      case b: BroadcastExchangeLike =>
        rows = math.max(rows, b.metrics.get("numOutputRows").map(_.value).getOrElse(0L))
        bytes = math.max(bytes, b.metrics.get("dataSize").map(_.value).getOrElse(0L))
        b.children.foreach(walk)
      case other => other.children.foreach(walk)
    }
    walk(plan)
    (rows, bytes)
  }

}
