package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.types.StructType

import graft.dedup.Dedup
import graft.io.Warehouse
import graft.ops.Replay
import graft.text.TextOps

/** The composed training-data ingestion pipeline — the library's operators
  * chained into one checkpointed stream: every drained batch of raw documents
  * is normalized, quality-gated, exact-deduped (within the batch AND against
  * everything already ingested), optionally NEAR-dup-gated against the
  * ingested corpus, then accepted rows land in the corpus table and rejects
  * in a quarantine table with their reason.
  *
  * Idempotence is layered: the checkpoint stops re-reading absorbed files
  * across drains; the fingerprint anti-join stops re-appending rows even if a
  * crashed batch retries (at-least-once delivery collapses to effective
  * exactly-once per fingerprint). At 100 TB the anti-join's right side is a
  * fingerprint-only column scan of the corpus — pruned parquet, not the
  * texts.
  *
  * The near-dup gate (`nearDupThresh10` > 0) is the streaming form of the
  * batch MinHash pipeline (Dedup.minhashNearDupPairs): accepted documents
  * leave their LSH band keys in a compact side table (`<corpus>_bands`:
  * (band, bucket, fp) — O(corpus × bands) rows, ~1/1000 of the corpus bytes,
  * fp-joinable back to the text); an arriving document is a CANDIDATE iff it
  * shares ≥1 band bucket with an ingested doc (equi-join, never a cross
  * join), and candidates are verified with EXACT token-set Jaccard against
  * only the matched corpus rows (fp-keyed join prunes the text read to the
  * candidate set). Paraphrased re-deliveries quarantine as 'near_dup';
  * documents too short to shingle bypass the gate (no signature — the exact
  * fp gate still covers verbatim copies).
  *
  * IN-BATCH near-dups (both paraphrases arriving in ONE micro-batch,
  * neither ingested yet — the r4 gap) are screened too: the batch MinHash
  * pair generator (Dedup.minhashNearDupPairs) runs WITHIN the
  * corpus-screened survivors, verified pairs get a transitive closure
  * (batch-bounded — only pair-involved docs enter the CC), and each
  * component keeps its min-fp member; the rest quarantine as
  * 'near_dup_in_batch'. Cost stays O(batch): the pair join is LSH-banded
  * and the closure's vertex set is the candidates, not the batch.
  */
object CorpusIngest {

  /** Normalized text + content fingerprint, the dedup identity —
    * [[TextOps.normalizeAscii]], the ONE definition q115's oracle also
    * pins (a drifted copy would fork the fingerprint space). */
  private def withDerived(df: Dataset[Row]): Dataset[Row] =
    df.withColumn("norm_text", TextOps.normalizeAscii(col("text")))
      .withColumn("fp", md5(col("norm_text")))
      .withColumn("quality", TextOps.qualityBucket(col("norm_text")))

  /** (band, bucket, fp) keys for the near-dup side table. Rows too short to
    * shingle produce no keys (withMinhashSignature drops null signatures). */
  private def bandKeys(df: DataFrame, shingleN: Int, bands: Int, rows: Int): DataFrame =
    Dedup.withMinhashSignature(df.select(col("fp"), col("norm_text")),
        "norm_text", "__sig", shingleN, bands * rows)
      .select(col("fp"),
        posexplode(Dedup.lshBands(col("__sig"), bands, rows)).as(Seq("band", "bucket")))

  /** Drain `sourceGlob` into `corpusTable` (accepted) + `rejectTable`
    * (quarantined, with reason). Returns (accepted, rejected) row counts for
    * this drain.
    *
    * @param nearDupThresh10 Jaccard near-dup threshold ×10 (e.g. 8 = 0.8);
    *                        0 disables the near-dup gate (exact-fp gate only)
    */
  def run(spark: SparkSession, sourceGlob: String, schema: StructType,
          wh: Warehouse, corpusTable: String, rejectTable: String,
          checkpoint: String,
          nearDupThresh10: Int = 0,
          shingleN: Int = 3, bands: Int = 16, rows: Int = 4): (Long, Long) = {
    val bandsTable = s"${corpusTable}_bands"
    val accepted = spark.sparkContext.longAccumulator("corpus_accepted")
    val rejected = spark.sparkContext.longAccumulator("corpus_rejected")
    val fn: (Dataset[Row], Long) => Unit = (batch, _) => {
      val derived = Replay.stable(withDerived(batch), eager = true) // one scan, two consumers
      val bad = derived.filter(col("quality") =!= "ok")
        .select(col("doc_id"), col("fp"), col("quality").as("reject_reason"))
      val ok = derived.filter(col("quality") === "ok")
        .select(col("doc_id"), col("fp"), col("norm_text"), col("lang"), col("source"))
        .dropDuplicates("fp")
      val fresh =
        if (wh.exists(corpusTable))
          ok.join(wh.read(corpusTable).select("fp"), Seq("fp"), "left_anti")
        else ok
      val (kept, nearDups) =
        if (nearDupThresh10 > 0 && wh.exists(bandsTable)) {
          val cands = bandKeys(fresh, shingleN, bands, rows)
            .join(wh.read(bandsTable).withColumnRenamed("fp", "corpus_fp"),
              Seq("band", "bucket"))
            .select(col("fp"), col("corpus_fp")).distinct()
          val newSets = fresh.select(col("fp"), Dedup.tokenSet(col("norm_text")).as("ws_new"))
          // semi-join the corpus to the candidate fps BEFORE tokenizing:
          // Catalyst won't push a join below the tokenSet projection, so
          // without this the verify step tokenizes the ENTIRE corpus every
          // micro-batch; with it only the matched rows (usually a handful,
          // broadcastable) pay the token-set cost
          val oldSets = wh.read(corpusTable)
            .join(broadcast(cands.select(col("corpus_fp").as("fp")).distinct()),
              Seq("fp"), "left_semi")
            .select(col("fp").as("corpus_fp"), Dedup.tokenSet(col("norm_text")).as("ws_old"))
          val dupFps = cands.join(newSets, "fp").join(oldSets, "corpus_fp")
            .filter(Dedup.setIntersectionSize(col("ws_new"), col("ws_old")) * 10 >=
              Dedup.setUnionSize(col("ws_new"), col("ws_old")) * nearDupThresh10)
            .select("fp").distinct()
          (fresh.join(dupFps, Seq("fp"), "left_anti"),
            fresh.join(dupFps, Seq("fp"), "left_semi")
              .select(col("doc_id"), col("fp"), lit("near_dup").as("reject_reason")))
        } else (fresh, null)
      // in-batch near-dup screen: paraphrase pairs that arrived TOGETHER
      // (neither in the corpus yet) — banded pairs within the survivors,
      // transitive closure over verified matches, min-fp member survives
      val (finalKept, batchDups) =
        if (nearDupThresh10 > 0) {
          val pairs = Dedup.minhashNearDupPairs(
              kept.select(col("fp"), col("norm_text")), "fp", "norm_text",
              nearDupThresh10, shingleN, bands, rows)
            .select(col("id_a"), col("id_b"))
            .transform(Replay.stable(_, eager = true))
          val inPairs = pairs.select(col("id_a").as("fp"))
            .union(pairs.select(col("id_b").as("fp"))).distinct()
          val losers = graft.dedup.Clusters
            .connectedComponents(inPairs, "fp", pairs, "id_a", "id_b")
            .filter(col("fp") =!= col("cluster_id")).select("fp")
          (kept.join(losers, Seq("fp"), "left_anti"),
            kept.join(losers, Seq("fp"), "left_semi")
              .select(col("doc_id"), col("fp"), lit("near_dup_in_batch").as("reject_reason")))
        } else (kept, null)
      val keptMat = Replay.stable(finalKept, eager = true)
      // BANDS BEFORE CORPUS: the corpus append is the idempotence pivot
      // (the fp anti-join filters replays against it). A crash between
      // the two appends therefore replays the batch with the rows still
      // absent from the corpus — they re-enter kept and both appends
      // rerun; duplicate (band,bucket,fp) keys are harmless (the gate's
      // candidate join is .distinct()). The OLD order (corpus first) had
      // the fatal version: rows in the corpus with NO band keys, blinding
      // the near-dup gate for them permanently.
      if (nearDupThresh10 > 0)
        wh.append(bandsTable, bandKeys(keptMat, shingleN, bands, rows)
          .select("band", "bucket", "fp"))
      wh.append(corpusTable, keptMat)
      val rejects = (Seq(bad) ++ Option(nearDups) ++ Option(batchDups))
        .reduce(_ unionByName _)
      // replay-idempotent quarantine: a retried batch must not duplicate
      // reject rows (the corpus side gets this from the fp anti-join).
      // Keyed on (doc_id, fp, reject_reason) — doc_id is stable across
      // replays (same source files ⇒ same rows), so a replay is still
      // fully suppressed, while a genuinely NEW document that happens to
      // share fp+reason with an earlier reject (a verbatim copy of a
      // quality-rejected doc in a later batch) still lands in quarantine
      // instead of vanishing from both tables and undercounting.
      val rejectsFresh =
        if (wh.exists(rejectTable))
          rejects.join(wh.read(rejectTable).select("doc_id", "fp", "reject_reason"),
            Seq("doc_id", "fp", "reject_reason"), "left_anti")
        else rejects
      val rejectsMat = Replay.stable(rejectsFresh, eager = true)
      wh.append(rejectTable, rejectsMat)
      accepted.add(keptMat.count())
      rejected.add(rejectsMat.count())
    }
    val q = spark.readStream.schema(schema).parquet(sourceGlob)
      .writeStream
      .foreachBatch(fn)
      .option("checkpointLocation", checkpoint)
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    (accepted.value, rejected.value)
  }
}
