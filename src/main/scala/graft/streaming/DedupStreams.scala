package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import graft.operators.Dedup

/** Streaming near-dup detection — the d09 incremental shape under
  * Structured Streaming (SURVEY.md §2.11 L2 × T6): per micro-batch,
  *
  *  1. map-only MinHash signatures of the batch docs;
  *  2. probe the PERSISTED signature store on LSH band keys
  *     ([[Dedup.incrementalNearDup]] — candidates meet on an equi join,
  *     est-Jaccard from signatures only on candidates);
  *  3. write detections;
  *  4. append the batch's signatures to the store.
  *
  * The state is the parquet store itself, NOT the streaming state backend:
  * history survives restarts, is queryable as a table, and grows by
  * O(new docs) signature rows — the state-backend alternative would
  * rebuild from scratch on checkpoint loss and can't be probed offline.
  *
  * Replay idempotence: both the store and the detections are written as
  * `partitionBy(batch_id)` DYNAMIC overwrites, so a micro-batch replayed
  * after a failure rewrites exactly its own partition instead of
  * double-appending — the same touched-partition-bounded contract as the
  * e11 upsert sink. The history probe additionally excludes the batch's
  * OWN store partition (`batch_id < batchId`): a replay that crashed
  * between the store write and the checkpoint commit would otherwise find
  * its own signatures in the store and report every replayed doc as a
  * self-duplicate. Within-batch duplicates are the caller's concern
  * (run [[Dedup.minhashNearDupPairs]] on the batch, or exact-dedup it
  * first); this operator's contract is batch-vs-history, matching d09.
  */
object DedupStreams {

  /** Runs the catch-up replay (AvailableNow) to completion. Detections
    * land in `outDir` as (new_id, seen_id, est_jaccard) partitioned by
    * batch_id; signatures accumulate in `storeDir` as (id, sig)
    * partitioned by batch_id.
    */
  def nearDupDetectAvailableNow(docs: DataFrame, textCol: String,
      idCol: String, storeDir: String, outDir: String, checkpointDir: String,
      numHashes: Int = 128, bands: Int = 16, minEstJaccard: Double = 0.7,
      shingleK: Int = 3): Unit = {
    val q = docs.writeStream
      .option("checkpointLocation", checkpointDir)
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val spark = batch.sparkSession
        // signatures are read twice (probe + store append): materialize
        // once, release after the batch
        val sigs = Dedup.minhashSignatures(batch, textCol, idCol,
          shingleK, numHashes).localCheckpoint(true)
        try {
          // only a missing store (first batch ever) may read as empty —
          // any other failure must abort the batch (same contract as the
          // e11 sink: silent emptiness would drop every detection)
          val store =
            try Some(spark.read.parquet(storeDir))
            catch {
              case e: org.apache.spark.sql.AnalysisException
                  if e.getCondition == "PATH_NOT_FOUND" => None
            }
          store.foreach { seen =>
            // foreachBatch is at-least-once: on a replay after a crash
            // between the store write and the checkpoint commit, the store
            // already holds THIS batch's own signatures. Probing them would
            // make every replayed doc match itself (est_jaccard = 1.0) and
            // its within-batch pairs, overwriting the partition with
            // spurious detections — so restrict history to strictly earlier
            // batches (batch_id is the partition column, present in the
            // read schema), and belt-and-braces drop self-pairs.
            Dedup.incrementalNearDup(sigs,
              seen.filter(col("batch_id") < lit(batchId)).select("id", "sig"),
              numHashes, bands, minEstJaccard)
              .filter(col("new_id") =!= col("seen_id"))
              .withColumn("batch_id", lit(batchId))
              .write.mode("overwrite")
              .option("partitionOverwriteMode", "dynamic")
              .partitionBy("batch_id")
              .parquet(outDir)
          }
          sigs.withColumn("batch_id", lit(batchId))
            .write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("batch_id")
            .parquet(storeDir)
        } finally sigs.unpersist()
      }
      .start()
    q.awaitTermination()
  }
}
