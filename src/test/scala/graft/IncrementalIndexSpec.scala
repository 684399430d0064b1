package graft

import graft.operators.{Cluster, Dedup}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The persisted-index deployment surface: the incremental dedup/ANN
  * operators' frozen state written to parquet and read back must land
  * on EXACTLY the verdicts the one-call operators produce — the claim
  * that lets ingest-night runs skip the history rebuild entirely
  * (SCALE_r10 measured that rebuild as the 0.39 history-axis wall
  * exponent; against a read-back index only index rows move).
  */
class IncrementalIndexSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private val sfDir = SparkTestSession.sfDir
  private def docs = spark.read.parquet(s"$sfDir/documents.parquet")
  private def hist = docs.filter(col("doc_id") % 10 < 7)
  private def batch = docs.filter(col("doc_id") % 10 >= 7)

  private def tmp(name: String): String = {
    val p = java.nio.file.Files.createTempDirectory(name)
    p.toFile.deleteOnExit()
    s"$p/$name.parquet"
  }

  test("dedup verdicts via a parquet round-tripped index match the one-call operator") {
    val path = tmp("graft_fp_index")
    Dedup.exactIndex(hist, "doc_id", "text").write.mode("overwrite").parquet(path)
    val indexed = Dedup.incrementalExactIndexed(spark.read.parquet(path),
        batch, "doc_id", "text")
      .orderBy("doc_id").collect().toSeq
    val direct = Dedup.incrementalExact(hist, batch, "doc_id", "text")
      .orderBy("doc_id").collect().toSeq
    assert(indexed.nonEmpty)
    assert(indexed == direct)
  }

  test("exactIndexUpdated equals the index rebuilt from history plus batch") {
    val updated = Dedup.exactIndexUpdated(
        Dedup.exactIndex(hist, "doc_id", "text"), batch, "doc_id", "text")
      .orderBy("fp").collect().toSeq
    val rebuilt = Dedup.exactIndex(hist.unionByName(batch), "doc_id", "text")
      .orderBy("fp").collect().toSeq
    assert(updated.nonEmpty)
    assert(updated == rebuilt)
  }

  test("NEAR-dup verdicts via a parquet round-tripped minhash index " +
    "match the one-call operator") {
    val path = tmp("graft_nd_index")
    Dedup.minhashIndex(hist, "doc_id", "text").write.mode("overwrite").parquet(path)
    val indexed = Dedup.incrementalNearDupIndexed(spark.read.parquet(path),
        batch, "doc_id", "text")
      .orderBy("doc_id").collect().toSeq
    val direct = Dedup.incrementalNearDup(hist, batch, "doc_id", "text")
      .orderBy("doc_id").collect().toSeq
    assert(indexed.nonEmpty)
    assert(indexed == direct)
  }

  test("minhashIndexUpdated equals the index rebuilt from history plus batch") {
    val updated = Dedup.minhashIndexUpdated(
        Dedup.minhashIndex(hist, "doc_id", "text"), batch, "doc_id", "text")
      .orderBy("hist_id").collect().toSeq
    val rebuilt = Dedup.minhashIndex(hist.unionByName(batch), "doc_id", "text")
      .orderBy("hist_id").collect().toSeq
    assert(updated.nonEmpty)
    assert(updated == rebuilt)
  }

  test("near-dup triage verdicts on a hand-built fixture") {
    // h10/h20 history; b17 ≈ h10 (one token changed in a long doc →
    // J >= 0.7), b27 ≈ b37 (batch-internal twins, far from history),
    // b47 unrelated. Statuses and canonicals follow the operator's
    // direct-evidence rules.
    val base = (1 to 40).map(i => s"tok$i").mkString(" ")
    val hd = Seq((10L, base), (20L, (1 to 40).map(i => s"zzz$i").mkString(" ")))
      .toDF("doc_id", "text")
    val bd = Seq(
      (17L, base.replace("tok5", "changed")),
      (27L, (1 to 40).map(i => s"qqq$i").mkString(" ")),
      (37L, (1 to 40).map(i => s"qqq$i").mkString(" ")),
      (47L, (1 to 40).map(i => s"unrelated$i").mkString(" ")))
      .toDF("doc_id", "text")
    val got = Dedup.incrementalNearDup(hd, bd, "doc_id", "text")
      .orderBy("doc_id")
      .select("doc_id", "status", "canonical_id", "batch_component", "n_hist_matches")
      .as[(Long, String, Long, Long, Long)].collect().toSeq
    assert(got == Seq(
      (17L, "dup_history", 10L, 17L, 1L),
      (27L, "new", 27L, 27L, 0L),
      (37L, "dup_batch", 27L, 27L, 0L),
      (47L, "new", 47L, 47L, 0L)))
  }

  test("ANN assignment via a parquet round-tripped index matches assignIncremental") {
    val emb = spark.read.parquet(s"$sfDir/embeddings.parquet")
    val pred = col("vec_id") % 10 < 7
    val path = tmp("graft_ann_index")
    Cluster.annIndex(emb.filter(pred), "vec_id", "embedding", k = 4, iters = 2)
      .write.mode("overwrite").parquet(path)
    val indexed = Cluster.assignIndexed(spark.read.parquet(path),
        emb.filter(!pred), "vec_id", "embedding")
      .orderBy("vec_id").collect().toSeq
    val direct = Cluster.assignIncremental(emb, "vec_id", "embedding",
        pred, k = 4, iters = 2)
      .orderBy("vec_id").collect().toSeq
    assert(indexed.nonEmpty)
    assert(indexed == direct)
  }

  test("annIndex and assignIncremental refuse iters = 0 and k past 4096") {
    val emb = spark.read.parquet(s"$sfDir/embeddings.parquet")
    for ((k, iters) <- Seq((4, 0), (5000, 2))) {
      intercept[IllegalArgumentException] {
        Cluster.annIndex(emb, "vec_id", "embedding", k, iters)
      }
      intercept[IllegalArgumentException] {
        Cluster.assignIncremental(emb, "vec_id", "embedding",
          col("vec_id") % 10 < 7, k, iters)
      }
    }
  }

  test("the ANN index is config-sized and carries one grid scale") {
    val emb = spark.read.parquet(s"$sfDir/embeddings.parquet")
    val idx = Cluster.annIndex(emb, "vec_id", "embedding", k = 4, iters = 2)
      .collect()
    assert(idx.length == 4) // k rows, never corpus rows
    assert(idx.map(_.getDouble(2)).distinct.length == 1)
    assert(idx.map(_.getInt(0)).sorted.toSeq == Seq(0, 1, 2, 3))
  }
}
