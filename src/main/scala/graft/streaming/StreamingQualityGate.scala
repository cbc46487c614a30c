package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import graft.functions.QualityClassifier
import graft.functions.QualityClassifier.LrModel

/** Learned quality gate at INGEST: every micro-batch of incoming
  * documents is scored by a TRAINED classifier (the t25 logistic
  * model, trained offline over the stored feature table) and split
  * into keep/drop by a score threshold — the streaming twin of the
  * batch t25/t26 surface, same division of labor as the other ingest
  * screens: heavy state lives in stored artifacts (here: a 4-double
  * model, trained once per corpus version), the per-batch cost is one
  * zero-shuffle feature projection + scoring pass over the batch.
  *
  * The model is passed in frozen (the deployed-classifier contract: a
  * gate must score consistently across a release; retraining produces
  * a NEW model for the next release, exactly the pinned-codebook
  * discipline of the vector stores). Reports append as immutable
  * `_batch=<id>` partitions — feature extraction and scoring are
  * deterministic, so a replayed batch rewrites itself bit-identically.
  *
  * Output rows: (idCol, label, score, keep, _batch) — label rides
  * along where the stream carries it so downstream calibration
  * monitoring (t26's table per batch) costs one aggregate.
  */
object StreamingQualityGate {

  def start(docs: DataFrame, idCol: String, model: LrModel,
      threshold: Double, labelCol: String, positive: String,
      outDir: String, checkpoint: String, trigger: Trigger): StreamingQuery =
    BatchSink.start(docs, outDir, checkpoint, trigger) { batch =>
      val feat = QualityClassifier.features(
        batch, idCol, col("text"), col(labelCol), positive)
      QualityClassifier.score(feat, model)
        .select(col(idCol), col("label"), col("score"),
          (col("score") >= threshold).as("keep"))
    }
}
