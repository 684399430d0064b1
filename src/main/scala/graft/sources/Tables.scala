package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.StructType

/** Typed access to the benchmark tables plus generic readers for the
  * source formats the reference consumes (TSV/CSV with explicit schema
  * and malformed-row dropping, JSON, parquet).
  *
  * Reference provenance: impc_etl/shared/utils.py:20 (extract_tsv with
  * DROPMALFORMED), impc_etl/jobs/extract (parquet/XML/JSON extractors).
  * XML nesting is represented here as nested parquet structs; see
  * [[graft.operators.Reshape.flattenStruct]] for the generic flattener.
  */
final case class Tables(spark: SparkSession, dir: String) {
  def table(name: String): DataFrame = spark.read.parquet(s"$dir/$name.parquet")

  def region: DataFrame     = table("region")
  def nation: DataFrame     = table("nation")
  def customer: DataFrame   = table("customer")
  def supplier: DataFrame   = table("supplier")
  def part: DataFrame       = table("part")
  def orders: DataFrame     = table("orders")
  def lineitem: DataFrame   = table("lineitem")
  /** events.ts has shipped in TWO on-disk layouts across testdata
    * generations: TIMESTAMP(NANOS) (read as long under the legacy
    * nanosAsLong conf [[graft.GraftSession]] sets) and plain
    * TIMESTAMP(MICROS) (read as TIMESTAMP_NTZ). A robust reader
    * branches on the READ schema instead of hard-coding either layout
    * — the reference's own extractors tolerate exactly this kind of
    * upstream drift (impc_etl standardize_schema and the
    * impc_etl/jobs/transform jobs). See [[Tables.normalizeEventTs]]. */
  def events: DataFrame = Tables.normalizeEventTs(table("events"))
  def documents: DataFrame  = table("documents")
  def embeddings: DataFrame = table("embeddings")
}

object Tables {

  /** Normalize an events frame's `ts` column to session-zoned
    * TimestampType regardless of the on-disk layout:
    *   - LongType → nanos-as-long (legacy TIMESTAMP(NANOS) files read
    *     under spark.sql.legacy.parquet.nanosAsLong): truncate to
    *     micros with integer `div` (a double division would lose
    *     precision above 2^53) — DuckDB's TIMESTAMP_NS → TIMESTAMP
    *     cast truncates identically;
    *   - TimestampNTZType → cast to TimestampType. The session tz is
    *     UTC (GraftSession), so the cast is value-identity and keeps
    *     every downstream consumer on the dtype it has always seen;
    *   - TimestampType → pass through.
    * Any other dtype is a real schema error and fails loudly. */
  def normalizeEventTs(df: DataFrame, tsCol: String = "ts"): DataFrame = {
    import org.apache.spark.sql.functions.{col, expr}
    import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}
    df.schema(tsCol).dataType match {
      case LongType         => df.withColumn(tsCol, expr(s"timestamp_micros($tsCol div 1000)"))
      case TimestampNTZType => df.withColumn(tsCol, col(tsCol).cast(TimestampType))
      case TimestampType    => df
      case other => throw new IllegalArgumentException(
        s"events.$tsCol: expected LongType (nanos-as-long), TIMESTAMP_NTZ or TIMESTAMP, got $other")
    }
  }

  /** TSV reader with schema + DROPMALFORMED, as the reference's
    * extract_tsv (shared/utils.py:20). */
  def readTsv(spark: SparkSession, path: String, schema: StructType = null,
              header: Boolean = true): DataFrame = {
    val base = spark.read
      .option("header", header.toString)
      .option("sep", "\t")
      .option("mode", "DROPMALFORMED")
    (if (schema != null) base.schema(schema) else base.option("inferSchema", "false")).csv(path)
  }

  /** JSON reader (line-delimited by default; multiline for document-style
    * payloads like the reference's IMPReSS extracts). */
  def readJson(spark: SparkSession, path: String, multiline: Boolean = false): DataFrame =
    spark.read.option("multiline", multiline.toString).json(path)

  /** XML reader (Spark 4's built-in XML source) with the reference's
    * extraction posture — rowTag selects the repeating element,
    * empty-string elements read as null, FAILFAST by default
    * (xml_extraction_helper.py:51: rowTag/nullValue/mode options). */
  def readXml(spark: SparkSession, path: String, rowTag: String,
              schema: StructType = null, nullValue: String = "",
              mode: String = "FAILFAST"): DataFrame = {
    val base = spark.read.format("xml")
      .option("rowTag", rowTag)
      .option("nullValue", nullValue)
      .option("mode", mode)
    (if (schema != null) base.schema(schema) else base).load(path)
  }

  /** XML writer twin (round-trips through readXml). */
  def writeXml(df: DataFrame, path: String, rowTag: String): Unit =
    df.write.mode("overwrite").format("xml").option("rowTag", rowTag).save(path)
}
