package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.lit
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

/** The one micro-batch report door. Every stored-artifact screen
  * stream has the same shape: the stored artifact is the state (no
  * streaming state store), the screen is deterministic, and each
  * batch's report lands as an immutable `outDir/_batch=<id>/`
  * partition by dynamic partition overwrite — so a batch replayed
  * after a crash replaces its own partition bit-identically and
  * touches no other (at-least-once in, exactly the same report out).
  */
object BatchSink {

  /** Write `df` as the `_batch=<batchId>` partition of `dir`, replacing
    * only that partition (a replay rewrites itself, nothing else).
    */
  def write(df: DataFrame, batchId: Long, dir: String): Unit =
    df.withColumn("_batch", lit(batchId))
      .write.mode("overwrite")
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy("_batch")
      .parquet(dir)

  /** Run `screen` over every non-empty micro-batch of `frame` and land
    * its report through [[write]]. An empty batch costs one `isEmpty`
    * job and writes nothing.
    */
  def start(frame: DataFrame, outDir: String, checkpoint: String,
      trigger: Trigger)(screen: DataFrame => DataFrame): StreamingQuery =
    frame.writeStream
      .option("checkpointLocation", checkpoint)
      .trigger(trigger)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        if (!batch.isEmpty) write(screen(batch), batchId, outDir)
        ()
      }
      .start()
}
