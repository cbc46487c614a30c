package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import graft.multimodal.MediaScreen

/** Streaming media ingest screening — the streaming twin of the batch
  * [[MediaScreen.screen]], completing the same symmetry the text side
  * has (d21 batch screen ↔ StreamingPipeline/StreamingDecontam):
  * every micro-batch of incoming (media_id, bytes) is classified
  * exact_dup / near_dup / fresh against the STORED perceptual-hash
  * artifact, per-batch cost O(batch) decode+hash plus two equi-joins
  * — corpus bytes never re-read, no state store (the stored artifact
  * IS the state, shared with the batch path and maintained O(new) as
  * accepted items commit).
  *
  * Reports append as immutable `_batch=<id>` partitions (dynamic
  * partition overwrite): hashing is deterministic, so a replayed
  * batch overwrites its own partition bit-identically — the same
  * replay contract as StreamingDecontam.
  */
object StreamingMediaScreen {

  def start(media: DataFrame, sfDir: String, table: String,
      outDir: String, checkpoint: String, trigger: Trigger): StreamingQuery =
    BatchSink.start(media, outDir, checkpoint, trigger) { batch =>
      MediaScreen.screen(media.sparkSession, sfDir, table, batch)
    }

  /** The screen's report read back (all batches). */
  def report(spark: SparkSession, outDir: String): DataFrame =
    spark.read.parquet(outDir)
}
