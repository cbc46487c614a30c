package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import graft.dedup.Decontam
import graft.functions.TextFunctions

/** Contamination-aware INGEST: every micro-batch of incoming documents
  * is screened against a fixed benchmark/eval gram set — the reverse
  * direction of the batch d12 check (there: audit a finished corpus
  * against evals; here: keep a GROWING corpus clean by flagging leaks
  * as they arrive, before they enter training data). The gram set is
  * the persisted per-doc gram table (`GramStore.grams` of the eval
  * corpus) or any (…, gram) frame; eval sets are thousands of docs, so
  * the join side broadcasts and the per-batch cost is O(batch grams).
  *
  * Each batch appends its report to `outDir` as an immutable
  * `_batch=<id>` partition (dynamic partition overwrite — a replayed
  * batch replaces its own files; gram extraction is deterministic, so
  * the replacement is bit-identical). Output rows: the d12 report
  * schema (idCol, n_grams, n_hit, contam_ratio, is_contaminated) plus
  * `_batch`; a downstream keep-filter is `!is_contaminated` (or a
  * ratio threshold for near-verbatim paraphrase tolerance).
  */
object StreamingDecontam {

  def start(docs: DataFrame, idCol: String,
      evalGrams: DataFrame, n: Int,
      outDir: String, checkpoint: String, trigger: Trigger): StreamingQuery =
    BatchSink.start(docs, outDir, checkpoint, trigger) { batch =>
      Decontam.reportAgainstGrams(batch, evalGrams, idCol,
        TextFunctions.normalize(col("text")), n)
    }
}
