package graft

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, Dataset, GraftBridge}
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.storage.StorageLevel

/** The one way the engine materializes an intermediate. Every cache
  * and local checkpoint goes through here: this object fixes the
  * storage level (spillable `MEMORY_AND_DISK`) and owns release; each
  * call site keeps its choice of an eager or a lazy checkpoint.
  *
  * Release rule: a frame cached or checkpointed through a [[Scope]]
  * lives until its [[scoped]] block ends, on return or on throw, and
  * is released there (a cache is uncached, a checkpoint's blocks are
  * unpersisted through its `LogicalRDD`). The one exception is a
  * checkpoint the returned frame still reads, which is handed back as
  * it is. A frame that must outlive the function that made it (a lazy
  * stage boundary, a lazily returned result, streaming state) takes
  * the unscoped [[checkpoint]] and is reaped by the ContextCleaner
  * once unreferenced — so an operator that ends in an unscoped eager
  * checkpoint leaves exactly its result's blocks behind.
  */
object Materialize {
  private val Level = StorageLevel.MEMORY_AND_DISK

  /** The frames one [[scoped]] block materialized. */
  final class Scope private[Materialize] () {
    private val caches = ArrayBuffer.empty[DataFrame]
    private val checkpoints = ArrayBuffer.empty[RDD[_]]

    /** Cache `df` until the scope ends. */
    def cache(df: DataFrame): DataFrame = {
      df.persist(Level)
      caches += df
      df
    }

    /** Local-checkpoint `df` until the scope ends: `eager` runs one
      * job now, otherwise the first action on the result fills it. */
    def checkpoint(df: DataFrame, eager: Boolean = true): DataFrame = {
      val cp = Materialize.checkpoint(df, eager)
      checkpoints ++= reads(cp)
      cp
    }

    /** Release `df`, cached or checkpointed through this scope,
      * before the scope ends — once nothing still to run reads it. */
    def release(df: DataFrame): Unit = {
      if (caches.contains(df)) { caches -= df; df.unpersist() }
      GraftBridge.analyzedPlan(df) match {
        case lr: LogicalRDD if checkpoints.contains(lr.rdd) =>
          checkpoints -= lr.rdd
          lr.rdd.unpersist(blocking = false)
        case _ =>
      }
    }

    private[Materialize] def releaseAll(result: Option[Any]): Unit = {
      val kept = result match {
        case Some(d: Dataset[_]) if checkpoints.nonEmpty => reads(d)
        case _ => Nil
      }
      caches.foreach(_.unpersist())
      checkpoints.filterNot(r => kept.exists(_ eq r)).foreach(_.unpersist(blocking = false))
    }
  }

  /** Run `body` with a fresh [[Scope]], releasing what it holds when
    * `body` returns or throws. */
  def scoped[T](body: Scope => T): T = {
    val s = new Scope
    var result: Option[T] = None
    try {
      val r = body(s)
      result = Some(r)
      r
    } finally s.releaseAll(result)
  }

  /** Local-checkpoint a frame that outlives its caller. */
  def checkpoint(df: DataFrame, eager: Boolean = true): DataFrame =
    df.localCheckpoint(eager)

  /** The checkpointed RDDs a frame's plan reads. */
  private def reads(df: Dataset[_]): Seq[RDD[_]] =
    GraftBridge.analyzedPlan(df).collectLeaves().collect { case lr: LogicalRDD => lr.rdd }
}
