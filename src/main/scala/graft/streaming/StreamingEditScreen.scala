package graft.streaming

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import graft.dedup.EditStore

/** EXACT edit-distance ingest screening as a stream: every
  * micro-batch of short strings (names, titles, URLs) is screened
  * against the STORED segment/probe dictionaries ([[EditStore]]) and
  * the guaranteed-complete list of corpus partners within Levenshtein
  * `k` lands as an immutable `_batch=<id>` report partition — the
  * streaming counterpart of d28, completing the streaming screen
  * family (prefix d24 / media m8 / LM gate). The stored artifact is
  * the state: no streaming state store, deterministic screening +
  * dynamic partition overwrite ⇒ replay-safe.
  */
object StreamingEditScreen {

  def start(strs: DataFrame, idCol: String, strCol: Column,
      corpusPath: String, variant: String, corpusIdCol: String,
      corpusStrCol: Column, k: Int,
      outDir: String, checkpoint: String, trigger: Trigger): StreamingQuery =
    BatchSink.start(strs, outDir, checkpoint, trigger) { batch =>
      EditStore.screen(batch.sparkSession, corpusPath, variant,
        corpusIdCol, corpusStrCol, batch, idCol, strCol, k)
    }
}
