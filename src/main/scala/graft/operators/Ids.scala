package graft.operators

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructField, StructType}

/** Deterministic id assignment.
  *
  * Reference provenance: the reference stamps documents with
  * `monotonically_increasing_id()` (jobs/load/solr/mgi_phenotype_mapper
  * .py:131, mp_mapper.py:234) — ids that depend on the RDD's partition
  * layout, so two runs of the same pipeline over the same data can
  * disagree. The surrogate id here is a REPRODUCIBLE function of the
  * data alone (content-keyed md5 ids are [[Cleaning.withUniqueId]]).
  */
object Ids {

  /** Positional SURROGATE id: dense 1..N longs assigned in md5(key)
    * order — reproducible across runs, partition layouts, and cluster
    * sizes, unlike `monotonically_increasing_id`. Key columns must be
    * unique per row (the md5 total order is otherwise ambiguous among
    * ties).
    *
    * Scale: the classic two-pass offset scheme — range-partition and
    * sort by the md5 order key, count rows per partition (one cheap
    * job), broadcast the per-partition offsets, then assign
    * offset+local-index in a single narrow pass (`zipWithIndex` does
    * exactly this). No single-partition global window: a
    * `row_number() OVER (ORDER BY ...)` would funnel 100 TB through
    * one task. Output values don't depend on the (sampled) range
    * boundaries — only the total md5 order, which is a pure function
    * of the data. */
  def surrogate(df: DataFrame, keyCols: Seq[String],
                outCol: String = "surrogate_id"): DataFrame = {
    val spark = df.sparkSession
    val ordKey = md5(concat_ws("|",
      keyCols.map(c => coalesce(col(c).cast("string"), lit(""))): _*))
    val ordered = df.withColumn("__ord", ordKey)
      .repartitionByRange(col("__ord"))
      .sortWithinPartitions("__ord")
    val schema = StructType(ordered.schema.fields :+
      StructField(outCol, LongType, nullable = false))
    val indexed = ordered.rdd.zipWithIndex().map { case (row, idx) =>
      Row.fromSeq(row.toSeq :+ (idx + 1L))
    }
    spark.createDataFrame(indexed, schema).drop("__ord")
  }
}
