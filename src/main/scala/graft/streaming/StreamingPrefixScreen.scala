package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import graft.dedup.PrefixStore

/** EXACT near-dup ingest screening as a stream: every micro-batch is
  * screened against the STORED prefix index ([[PrefixStore]]) and the
  * guaranteed-complete (no-false-negative) list of corpus partners at
  * Jaccard >= tau lands as an immutable `_batch=<id>` report
  * partition. The streaming counterpart of d24 exactly as
  * [[StreamingMediaScreen]] is of m8: the stored artifact is the
  * state — no streaming state store, so a restart replays cleanly
  * (screening is deterministic; dynamic partition overwrite makes a
  * replayed batch replace itself bit-identically).
  *
  * The frozen-order contract does the heavy lifting: batches may
  * carry tokens the stored order has never seen (they sort first,
  * with maximally conservative prefixes) and exactness is unaffected
  * — see [[PrefixStore]]. Per-batch cost: O(batch tokens) key
  * derivation + candidates keyed on rare prefix tokens.
  */
object StreamingPrefixScreen {

  def start(docs: DataFrame, idCol: String,
      sfDir: String, table: String, tauNum: Int, tauDen: Int,
      outDir: String, checkpoint: String, trigger: Trigger): StreamingQuery =
    BatchSink.start(docs, outDir, checkpoint, trigger) { batch =>
      PrefixStore.screen(batch.sparkSession, sfDir, table,
        batch, idCol, tauNum, tauDen)
    }
}
