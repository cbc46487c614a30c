package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import graft.dedup.FullScreen

/** The FULL stored-screen stack as a stream — the d30 composition
  * ([[FullScreen]]: exact/near triage + Jaccard + containment
  * partners + stored-LM gate + 5-gram decontam verdict) applied to
  * every micro-batch, one normalization pass per batch, every corpus
  * side a stored artifact scan. This is the production ingest front
  * door in its streaming form: documents arrive continuously and each
  * batch's verdict report lands as an immutable `_batch=<id>`
  * partition.
  *
  * Same restart discipline as the other screen streams: the stored
  * artifacts ARE the state (no streaming state store), screening is
  * deterministic, and dynamic partition overwrite makes a replayed
  * batch replace itself bit-identically — at-least-once in, exactly
  * the same report out.
  */
object StreamingFullScreen {

  def start(docs: DataFrame, idCol: String,
      sfDir: String, table: String,
      outDir: String, checkpoint: String, trigger: Trigger): StreamingQuery =
    BatchSink.start(docs, outDir, checkpoint, trigger) { batch =>
      FullScreen.screen(batch.sparkSession, sfDir, table, batch, idCol)
    }
}
