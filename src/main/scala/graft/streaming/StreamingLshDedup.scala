package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import graft.dedup.MinHashLSH
import graft.functions.TextFunctions
import graft.sources.DeltaIndex

/** Streaming near-duplicate detection: every micro-batch of documents
  * is probed against the PERSISTED MinHash band index (d10's
  * incremental discipline wired into Structured Streaming), its
  * candidates appended to a result table, and its own bands appended
  * to the index — so each document's text is shingled exactly once,
  * in the batch that carried it.
  *
  * The index is a [[DeltaIndex]] — base snapshot + one immutable
  * `_batch=<id>` delta partition per batch — so PER-BATCH COST IS
  * O(batch), never O(index). A batch writes ONLY its own delta
  * partition; the probe join reads base ∪ live deltas, the only
  * legitimate per-batch O(index) cost, and shuffles only the small
  * (band, bucket) keys. Every `compactEvery` batches the deltas fold
  * into the base via the pointer commit.
  *
  * Replay safety: a micro-batch retried after a crash re-derives the
  * identical (deterministic) bands; candidates and the batch's delta
  * partition are both written with dynamic partition overwrite, so a
  * retry replaces its own output instead of appending a second copy;
  * the probe join drops id_index == id_probe (a replayed batch probes
  * an index that may already hold its own bands). A fold publishes the
  * cumulative list of batches it absorbed in the same pointer flip as
  * the folded bands, so a batch replayed AFTER a fold (or a delta whose
  * deletion crashed) re-creates a DEAD partition: reads skip it, band
  * rows never count twice, and the next fold deletes it.
  */
object StreamingLshDedup {

  /** base ∪ delta view of the band index (doc id, band, bucket). */
  def readIndex(spark: SparkSession, indexDir: String): DataFrame =
    new DeltaIndex(indexDir).read(spark).getOrElse(
      throw new IllegalStateException(s"no band index at $indexDir"))

  /** Fold the live delta partitions into the base snapshot. Runs inside
    * the micro-batch callback on the `compactEvery` cadence, or
    * standalone as an offline hygiene pass.
    */
  def compactIndex(spark: SparkSession, indexDir: String): Unit =
    new DeltaIndex(indexDir).compact(spark)

  /** Start the pipeline on a streaming documents DataFrame.
    *
    * @param indexDir      root of the base+delta band index layout
    * @param candidatesDir plain parquet dir the (id_index, id_probe)
    *                      candidate pairs are appended to
    * @param compactEvery  fold delta partitions into the base snapshot
    *                      every this many batches; 0 = never (run
    *                      [[compactIndex]] offline instead)
    * @param maxIndexPerBucket cap on index witnesses per (band, bucket)
    *                      in the probe join (deterministic smallest-id
    *                      truncation — the engine-wide candidate-volume
    *                      knob). On duplication-heavy streams hot
    *                      buckets otherwise make per-batch candidate
    *                      OUTPUT quadratic in duplication; a probe doc
    *                      still surfaces as a duplicate (the earliest
    *                      witnesses are the kept ones), only redundant
    *                      extra witnesses drop. Int.MaxValue = exact.
    */
  def start(spark: SparkSession, docs: DataFrame, idCol: String,
      textCol: String, indexDir: String, candidatesDir: String,
      checkpoint: String, trigger: Trigger,
      compactEvery: Int = 0,
      maxIndexPerBucket: Int = 64): StreamingQuery =
    docs.writeStream
      .option("checkpointLocation", checkpoint)
      .trigger(trigger)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        if (!batch.isEmpty) {
          val norm = TextFunctions.normalize(col(textCol))
          // A micro-batch's partitioning reflects its source (often 1
          // partition from a memory/file source), and SkewTools.fanOut
          // deliberately passes non-file inputs through — so spread the
          // batch across all cores HERE: one O(batch) shuffle of raw
          // docs unlocks parallel shingling/minhashing (measured 8.6 s
          // -> 1.1 s per 7.5k-doc batch on local[32]).
          val spread = batch.repartition(
            batch.sparkSession.sparkContext.defaultParallelism)
          // signatures computed ONCE per batch, reused for probe + append
          val bands = MinHashLSH.bandedIndex(spread, idCol, norm)
            .localCheckpoint(true)
          val index = new DeltaIndex(indexDir)
          // cold start probes an empty index of the batch's own schema
          BatchSink.write(MinHashLSH.probeCandidatesBanded(
              index.read(batch.sparkSession).getOrElse(bands.limit(0)),
              bands, idCol, maxIndexPerBucket),
            batchId, candidatesDir)
          // O(batch) append: only this batch's partition is written
          index.append(bands, batchId, compactEvery)
        }
        ()
      }
      .start()
}
