package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import graft.similarity.{IvfKnn, ProductQuantizer}
import graft.sources.DeltaIndex

/** Streaming ANN-index growth: every micro-batch of vectors is encoded
  * with the STORED coarse codebook + PQ books (fixed artifacts — the
  * codebooks a production deployment trains offline and versions
  * through `CodebookStore`) and appended as a delta code partition, so
  * the IVFPQ corpus grows per batch WITHOUT re-encoding anything — the
  * [[graft.sources.DeltaIndex]] base+delta shape applied to the vector
  * artifact.
  *
  * A batch writes ONLY its own `_batch=<id>` partition (dynamic
  * partition overwrite — a replayed batch replaces its own files;
  * encoding is deterministic, so the replacement is bit-identical).
  * Code rows are not set-like (a duplicate row would score twice in
  * the ADC rank), so the index's crash-atomic fold marker matters
  * here: a batch replayed after its fold re-creates a dead partition
  * instead of double-counting codes.
  * Retrieval reads base ∪ delta through [[readIndex]] — the
  * (id, cell, pq_codes) layout `ProductQuantizer.ivfAdcTopK` /
  * `ivfAdcTopKResidual` scan — and a query finds a vector ingested in
  * ANY earlier batch. Every `compactEvery` batches the deltas fold
  * into the base via the pointer commit.
  *
  * Fixed-codebook caveat, stated because it is the real production
  * contract: cell boundaries and code resolution reflect the training
  * corpus; a drifted stream degrades recall gradually (vectors land in
  * increasingly suboptimal cells) rather than failing — the operational
  * answer is periodic offline retraining into a NEW keyed artifact and
  * an index rebuild, not per-batch retraining (which would re-encode
  * the world every batch and make codes incomparable across batches).
  */
object StreamingVectorIngest {

  /** base ∪ delta view of the code index: (id, `_cell`, pq_0 …). */
  def readIndex(spark: SparkSession, indexDir: String): DataFrame =
    new DeltaIndex(indexDir).read(spark).getOrElse(
      throw new IllegalStateException(s"no code index at $indexDir"))

  /** Fold the live delta partitions into the base snapshot
    * (crash-atomic, see [[graft.sources.DeltaIndex]]).
    */
  def compactIndex(spark: SparkSession, indexDir: String): Unit =
    new DeltaIndex(indexDir).compact(spark)

  /** Start the ingest on a streaming (id, embedding) DataFrame.
    *
    * @param coarseBook  collected (cell, centroid) coarse codebook —
    *                    the stored training artifact, fixed for the
    *                    stream's lifetime
    * @param books       stored PQ subquantizers (residual books when
    *                    `residual` is set — they must match the mode)
    * @param residual    encode x − centroid(cell) instead of x (the
    *                    `by_residual=true` layout `ivfAdcTopKResidual`
    *                    scans)
    * @param compactEvery fold deltas into the base every this many
    *                    batches; 0 = never (offline [[compactIndex]])
    */
  def start(spark: SparkSession, vectors: DataFrame, idCol: String,
      embCol: String, indexDir: String, checkpoint: String, trigger: Trigger,
      coarseBook: Seq[(Int, Seq[Double])],
      books: Seq[ProductQuantizer.SubCodebook], subDim: Int,
      residual: Boolean = false,
      compactEvery: Int = 0): StreamingQuery =
    vectors.writeStream
      .option("checkpointLocation", checkpoint)
      .trigger(trigger)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        if (!batch.isEmpty) {
          val s = batch.sparkSession
          import s.implicits._
          // spread the (often single-partition) micro-batch so the
          // argmax encode runs on all cores — one O(batch) shuffle
          val spread = batch.repartition(s.sparkContext.defaultParallelism)
          val assigned = IvfKnn.assignCells(spread, embCol, coarseBook, "_cell")
          val (toEncode, srcCol) =
            if (residual)
              (ProductQuantizer.withResidual(assigned, embCol, "_cell",
                coarseBook.toDF("cell", "centroid"), "_res"), "_res")
            else (assigned, embCol)
          new DeltaIndex(indexDir).append(
            ProductQuantizer.encoded(toEncode, srcCol, subDim, books)
              .select(col(idCol) +: col("_cell") +:
                books.map(b => col(s"pq_${b.subspace}")): _*),
            batchId, compactEvery)
        }
        ()
      }
      .start()
}
