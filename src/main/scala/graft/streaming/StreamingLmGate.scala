package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.{coalesce, col, lit, when}
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import graft.functions.BigramLmStore

/** Perplexity gating as a stream: every micro-batch is scored under
  * the STORED KN bigram model ([[BigramLmStore]]) and lands as an
  * immutable `_batch=<id>` partition with a keep/drop flag — the
  * LM-based twin of [[StreamingQualityGate]] (classifier) and
  * [[StreamingPrefixScreen]] (dedup): the stored artifact is the
  * state, no streaming state store, deterministic scoring + dynamic
  * partition overwrite ⇒ replay-safe. OOV-heavy batches score low
  * but FINITELY (BigramLmStore's add-one continuation backoff), so
  * the gate never NaN-poisons a threshold comparison.
  *
  * EVERY batch doc lands exactly once — including docs with fewer
  * than 2 tokens, which produce no bigrams and so cannot be scored
  * by a bigram LM. Scores left-join back to the batch ids: an
  * unscorable doc is emitted with `n_bigrams = 0`,
  * `mean_logprob = null`, `keep = null` — an explicit "no evidence"
  * verdict the consumer routes by policy (`keep IS NULL`), never a
  * silently missing row.
  */
object StreamingLmGate {

  def start(docs: DataFrame, idCol: String,
      sfDir: String, table: String, threshold: Double,
      outDir: String, checkpoint: String, trigger: Trigger): StreamingQuery =
    BatchSink.start(docs, outDir, checkpoint, trigger) { batch =>
      val scored = BigramLmStore.scoreBatch(batch.sparkSession, sfDir,
        table, batch, idCol)
      batch.select(col(idCol))
        .join(scored, Seq(idCol), "left")
        .withColumn("n_bigrams", coalesce(col("n_bigrams"), lit(0L)))
        .withColumn("keep",
          when(col("mean_logprob").isNotNull,
            col("mean_logprob") >= threshold))
    }
}
