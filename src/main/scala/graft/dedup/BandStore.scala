package graft.dedup

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.TextFunctions
import graft.sources.IncrementalDocArtifact
import graft.sources.IncrementalDocArtifact.Piece

/** Persisted MinHash band index for BATCH ingest screening — the
  * near-dup counterpart of `DigestStore` (exact dups) and the batch
  * twin of the per-micro-batch `graft.sources.DeltaIndex` that
  * `StreamingLshDedup` keeps its bands in: an incoming
  * batch is banded once and equi-joined against the STORED (id, band,
  * bucket) table, so near-dup candidates per ingest cost O(batch ×
  * bucket occupancy) and the corpus text is never re-shingled.
  * Banding is a pure per-document function → additive piece, O(new)
  * per corpus increment; bands cluster by (band, bucket) so the probe
  * join's shuffle reads presorted runs.
  */
object BandStore {

  private def norm = TextFunctions.normalize(col("text"))

  private def byBucket(df: DataFrame): DataFrame =
    df.repartition(col("band"), col("bucket"))
      .sortWithinPartitions("band", "bucket")

  private def handle(corpusPath: String) =
    IncrementalDocArtifact(corpusPath, "bands", Seq(
      Piece("bands",
        (docs, _) => byBucket(MinHashLSH.bandedIndex(docs, "doc_id", norm)),
        fold = Some(byBucket))))

  /** Stored (doc_id, band, bucket) over `table`'s text at `sfDir`;
    * built on first use, advanced O(new) when the corpus grows.
    */
  def bands(spark: SparkSession, sfDir: String, table: String): DataFrame =
    handle(s"$sfDir/$table.parquet").serve(spark, "bands")

  /** Offline compaction hook. */
  def compact(spark: SparkSession, corpusPath: String): Unit =
    handle(corpusPath).compact(spark)
}
