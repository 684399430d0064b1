package graft

import org.apache.spark.sql.functions._

/** Measures incrementalExact's O(batch) claim DIRECTLY: a FIXED batch
  * (the sf0.1 documents hashing into the 30% split — identical rows
  * at every point) triaged against histories of x1/x10/x32 the size.
  * If the operator is what it claims, wall-time stays ~flat while the
  * history side moves only its narrow (fingerprint, min-id) index —
  * shuffle bytes grow with DISTINCT history fingerprints (linear but
  * ~40 bytes/doc), never with history text.
  *
  * Emits target/incremental_hist.json with per-factor {sec,
  * shuffle_write} (min of 2) and the fitted wall-time exponent
  * log(t_x32/t_x1)/log(32) — ~0 is the O(batch) signature, 1 would
  * be O(history). scale_report.py folds it into SCALE_r{N}.
  */
object IncrementalBench {
  def main(args: Array[String]): Unit = {
    val base = sys.env.getOrElse("SPARK_GRAFT_INC_BASE", "/root/testdata/sf0.1")
    val hists = Seq(
      1 -> base,
      10 -> sys.env.getOrElse("SPARK_GRAFT_INC_X10", "target/scale/x10"),
      32 -> sys.env.getOrElse("SPARK_GRAFT_INC_X32", "target/scale/x32"))
    val spark = GraftSession.local()
    val listener = new BenchListener
    spark.sparkContext.addSparkListener(listener)

    Materialize.scoped { s =>
      // the FIXED batch: same rows at every history factor
      val batch = s.cache(spark.read.parquet(s"$base/documents.parquet")
        .filter(col("doc_id") % 10 >= 7))
      val batchN = batch.count()

      def run(histDir: String): (Double, Long) = {
        val history = spark.read.parquet(s"$histDir/documents.parquet")
          .filter(col("doc_id") % 10 < 7)
        listener.reset()
        val t0 = System.nanoTime()
        graft.operators.Dedup.incrementalExact(history, batch, "doc_id", "text")
          .write.mode("overwrite").format("noop").save()
        val sec = (System.nanoTime() - t0) / 1e9
        org.apache.spark.sql.GraftBridge.drainListenerBus(spark.sparkContext, 10000)
        (sec, listener.shuffleWrite.get)
      }

      // the PERSISTED-INDEX ingest (r10 verdict #2): the (fp, min-id)
      // index written once as a parquet target, the nightly run reading
      // it back — no history text, no fingerprint rebuild; the wall
      // should go ~flat where the rebuild path measured exponent 0.39
      def runIndexed(histDir: String, f: Int): (Double, Long) = {
        val idxPath = s"target/scale/fp_index_x$f.parquet"
        // the cache key is the CORPUS, not just the factor: a reused
        // index over a regenerated corpus would silently decouple the
        // indexed-path timings from the measured history — rebuild
        // whenever the corpus _SUCCESS is newer than the index's
        val idxSuccess = new java.io.File(s"$idxPath/_SUCCESS")
        val corpusSuccess =
          new java.io.File(s"$histDir/documents.parquet/_SUCCESS")
        val stale = !idxSuccess.exists() ||
          (corpusSuccess.exists() &&
            corpusSuccess.lastModified() > idxSuccess.lastModified())
        if (stale) {
          graft.operators.Dedup.exactIndex(
              spark.read.parquet(s"$histDir/documents.parquet")
                .filter(col("doc_id") % 10 < 7), "doc_id", "text")
            .write.mode("overwrite").parquet(idxPath)
        }
        listener.reset()
        val t0 = System.nanoTime()
        graft.operators.Dedup.incrementalExactIndexed(
            spark.read.parquet(idxPath), batch, "doc_id", "text")
          .write.mode("overwrite").format("noop").save()
        val sec = (System.nanoTime() - t0) / 1e9
        org.apache.spark.sql.GraftBridge.drainListenerBus(spark.sparkContext, 10000)
        (sec, listener.shuffleWrite.get)
      }

      // the NEAR-dup sibling (r14, VERDICT r13 #1): same fixed batch
      // triaged against a PREBUILT Dedup.minhashIndex parquet target per
      // history factor — the O(batch) claim for the banded signature
      // path. The index build (one-time deployment cost) is excluded
      // from the timed run, exactly like runIndexed above.
      def runNearDup(histDir: String, f: Int): (Double, Long) = {
        val idxPath = s"target/scale/nd_index_x$f.parquet"
        val idxSuccess = new java.io.File(s"$idxPath/_SUCCESS")
        val corpusSuccess =
          new java.io.File(s"$histDir/documents.parquet/_SUCCESS")
        val stale = !idxSuccess.exists() ||
          (corpusSuccess.exists() &&
            corpusSuccess.lastModified() > idxSuccess.lastModified())
        if (stale) {
          graft.operators.Dedup.minhashIndex(
              spark.read.parquet(s"$histDir/documents.parquet")
                .filter(col("doc_id") % 10 < 7), "doc_id", "text")
            .write.mode("overwrite").parquet(idxPath)
        }
        listener.reset()
        val t0 = System.nanoTime()
        graft.operators.Dedup.incrementalNearDupIndexed(
            spark.read.parquet(idxPath), batch, "doc_id", "text")
          .write.mode("overwrite").format("noop").save()
        val sec = (System.nanoTime() - t0) / 1e9
        org.apache.spark.sql.GraftBridge.drainListenerBus(spark.sparkContext, 10000)
        (sec, listener.shuffleWrite.get)
      }

      // the NIGHTLY CURATE axis (r15, VERDICT r14 #3): the whole
      // incremental curation night — frozen-model gate, exact + near-dup
      // triage against the persisted indexes, cumulative manifest re-cut
      // — with the fixed batch against growing history. The epoch
      // artifacts (models, indexes, scored set — the one-time deployment
      // cost) are built OUTSIDE the timed run, like the index paths
      // above; the epoch near-dup stage rides the auto strategy, so big
      // factors take the banded generator exactly as production would.
      // Expected shape: the verdict stages are O(batch); the manifest
      // tail re-sorts the cumulative NARROW scored set and re-reads
      // TEXT only for the config-bounded selection (one column-pruned
      // corpus scan feeds that join) — so mild sub-linear growth, not
      // the flat line of the pure triage axes.
      def runCurate(histDir: String, f: Int): (Double, Long) = {
        import graft.queries.QueriesPipeline
        import graft.operators.{Dedup, LangModel}
        val root = s"target/scale/curate_epoch_x$f"
        val marker = new java.io.File(s"$root/_EPOCH_DONE")
        val corpusSuccess =
          new java.io.File(s"$histDir/documents.parquet/_SUCCESS")
        val histDocs = spark.read.parquet(s"$histDir/documents.parquet")
          .filter(col("doc_id") % 10 < 7).select("doc_id", "text", "lang")
        if (!marker.exists() || (corpusSuccess.exists() &&
            corpusSuccess.lastModified() > marker.lastModified())) {
          LangModel.bigramCounts(histDocs, "text")
            .write.mode("overwrite").parquet(s"$root/lm_model")
          val lm = spark.read.parquet(s"$root/lm_model")
          val kept = histDocs.join(
            LangModel.surprisalApplyCounts(lm, histDocs, "doc_id", "text",
              35000000L).filter(col("keep")).select("doc_id"), "doc_id")
          Dedup.exactIndex(kept, "doc_id", "text")
            .write.mode("overwrite").parquet(s"$root/exact_index")
          val exIdx = spark.read.parquet(s"$root/exact_index")
          Dedup.minhashIndex(histDocs.join(
              exIdx.select(col("hist_id").as("doc_id")).distinct(), "doc_id"),
              "doc_id", "text")
            .write.mode("overwrite").parquet(s"$root/nd_index")
          val reps = Materialize.checkpoint(
            QueriesPipeline.epochReps(exIdx, histDocs).select("doc_id"))
          LangModel.tokenCounts(histDocs.join(reps, "doc_id"), "text",
              col("lang") === "en")
            .write.mode("overwrite").parquet(s"$root/dsir_model")
          LangModel.dsirApplyCounts(spark.read.parquet(s"$root/dsir_model"),
              histDocs.join(reps, "doc_id"), "doc_id", "text")
            .select("doc_id", "n_tokens", "mean_lift_ppm")
            .write.mode("overwrite").parquet(s"$root/hist_scored")
          marker.createNewFile()
        }
        val lm = spark.read.parquet(s"$root/lm_model")
        val exIdx = spark.read.parquet(s"$root/exact_index")
        val ndIdx = spark.read.parquet(s"$root/nd_index")
        val dsir = spark.read.parquet(s"$root/dsir_model")
        val histScored = spark.read.parquet(s"$root/hist_scored")
        val batch3 = batch.select("doc_id", "text", "lang")
        val docsAll = histDocs.unionByName(batch3)
        listener.reset()
        val t0 = System.nanoTime()
        val v = QueriesPipeline.nightVerdicts(lm, exIdx, ndIdx, batch3)
        val newDocs = batch3.join(
          v.filter(col("status") === "new").select("doc_id"), "doc_id")
        val scoredB = LangModel.dsirApplyCounts(dsir, newDocs, "doc_id", "text")
          .select("doc_id", "n_tokens", "mean_lift_ppm")
        QueriesPipeline.manifestTail(docsAll,
            histScored.unionByName(scoredB), "manifest", 12000L)
          .write.mode("overwrite").format("noop").save()
        val sec = (System.nanoTime() - t0) / 1e9
        org.apache.spark.sql.GraftBridge.drainListenerBus(spark.sparkContext, 10000)
        (sec, listener.shuffleWrite.get)
      }

      val rows = hists.map { case (f, dir) =>
        val histN = spark.read.parquet(s"$dir/documents.parquet")
          .filter(col("doc_id") % 10 < 7).count()
        val (sec, shw) = Seq(run(dir), run(dir)).minBy(_._1)
        val (isec, ishw) = Seq(runIndexed(dir, f), runIndexed(dir, f)).minBy(_._1)
        val (nsec, nshw) = Seq(runNearDup(dir, f), runNearDup(dir, f)).minBy(_._1)
        val (csec, cshw) = Seq(runCurate(dir, f), runCurate(dir, f)).minBy(_._1)
        System.err.println(f"[inc] history x$f%-3d ($histN%8d docs) batch=$batchN " +
          f"sec=$sec%6.2f shW=${shw / 1048576.0}%8.2fMB | indexed sec=$isec%6.2f " +
          f"shW=${ishw / 1048576.0}%8.2fMB | neardup sec=$nsec%6.2f " +
          f"shW=${nshw / 1048576.0}%8.2fMB | curate sec=$csec%6.2f " +
          f"shW=${cshw / 1048576.0}%8.2fMB")
        (f, histN, sec, shw, isec, ishw, nsec, nshw, csec, cshw)
      }
      val t1 = rows.head._3
      val t32 = rows.last._3
      val exponent = math.log(t32 / t1) / math.log(32.0)
      val iexponent = math.log(rows.last._5 / rows.head._5) / math.log(32.0)
      val nexponent = math.log(rows.last._7 / rows.head._7) / math.log(32.0)
      val cexponent = math.log(rows.last._9 / rows.head._9) / math.log(32.0)
      System.err.println(f"[inc] wall-time exponent vs history growth: $exponent%.3f " +
        f"rebuild / $iexponent%.3f indexed / $nexponent%.3f neardup-indexed / " +
        f"$cexponent%.3f curate-night (0 = O(batch), 1 = O(history))")
      val per = rows.map { case (f, hn, s, w, is, iw, ns, nw, cs, cw) =>
        s""""x$f":{"history_docs":$hn,"sec":$s,"shuffle_write":$w,"indexed_sec":$is,"indexed_shuffle_write":$iw,"neardup_indexed_sec":$ns,"neardup_indexed_shuffle_write":$nw,"curate_night_sec":$cs,"curate_night_shuffle_write":$cw}""" }.mkString(",")
      val json = f"""{"note":"FIXED batch ($batchN docs) vs history x1/x10/x32; min of 2 runs per point; exponent = log(t_x32/t_x1)/log(32) - ~0 is the O(batch) claim, 1 would be re-deduping the corpus per ingest. Shuffle bytes include the history (fp, min-id) index reduction - linear in DISTINCT history content but ~40B/doc, never the text. indexed_* rows are the PERSISTED-INDEX path (Dedup.exactIndex written once as a parquet target, incrementalExactIndexed reading it back): the fingerprint rebuild - the rebuild path's measured residual - is gone, leaving only the narrow index scan. neardup_indexed_* rows are the r14 NEAR-dup sibling (Dedup.minhashIndex parquet target read back by incrementalNearDupIndexed): batch band keys gate the index scan, exact Jaccard re-scores candidates - history text never read, signatures only shuffled where a band bucket matches the batch. curate_night_* rows are the r15 WHOLE-NIGHT incremental curation (frozen-model LM gate + exact/near-dup triage against the persisted indexes + cumulative manifest re-cut through the shared config-bounded tail): the triage stages are O(batch); the tail re-sorts the cumulative NARROW scored set and re-reads text only for the config-bounded selection via one column-pruned corpus scan, so the axis is expected mildly sub-linear rather than flat - the measured exponent IS the claim.","batch_docs":$batchN,"factors":{$per},"wall_exponent":$exponent%.4f,"indexed_wall_exponent":$iexponent%.4f,"neardup_indexed_wall_exponent":$nexponent%.4f,"curate_night_wall_exponent":$cexponent%.4f}"""
      val p = java.nio.file.Paths.get("target/incremental_hist.json")
      java.nio.file.Files.createDirectories(p.getParent)
      java.nio.file.Files.write(p, json.getBytes("UTF-8"))
      println(json)
    }
    spark.stop()
  }
}
