package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import graft.sources.v2.GraftSnapshotDataSource

/** Stream-static ENRICHMENT against the versioned snapshot store: every
  * micro-batch left-joins the dimension snapshot read through the
  * `graft-snapshot` connector — the streaming form of the reference's
  * "look the row up in the other store" step, with the connector's
  * snapshot isolation doing the correctness work:
  *
  *  - each batch re-resolves the pointer, so a dimension UPDATE
  *    (pointer flip) is visible from the next batch on — slowly
  *    changing dimension semantics, each batch internally consistent
  *    (the provider pins one version per read, never a half-flip);
  *  - `version = Some(n)` pins ALL batches to one snapshot — the
  *    bit-exact-replay form (a crash replay under the live mode
  *    re-enriches under the CURRENT snapshot: at-least-once with
  *    as-of-processing-time semantics, stated rather than hidden).
  *
  * The dimension side is a broadcast-friendly scan with the join keys
  * pushable; no streaming state store — the snapshot store IS the
  * state, exactly the [[StreamingPrefixScreen]] discipline.
  */
object StreamingSnapshotEnrich {

  def start(stream: DataFrame, keys: Seq[String], storePath: String,
      outDir: String, checkpoint: String, trigger: Trigger,
      version: Option[Long] = None): StreamingQuery =
    BatchSink.start(stream, outDir, checkpoint, trigger) { batch =>
      val reader = batch.sparkSession.read
        .format(GraftSnapshotDataSource.Name)
      val dim = version.fold(reader)(v =>
        reader.option("version", v)).load(storePath)
      batch.join(dim, keys, "left")
    }
}
