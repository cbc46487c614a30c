package graft.sources

import java.nio.file.{Files, Path, Paths}

import scala.util.control.NonFatal

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.streaming.BatchSink

/** A row index grown one micro-batch at a time, with per-batch cost
  * O(batch), never O(index) — the lakehouse merge-on-read shape behind
  * the streaming band index (`StreamingLshDedup`) and code index
  * (`StreamingVectorIngest`):
  *
  *   indexDir/base/                versioned-pointer snapshot (ParquetTableIO)
  *   indexDir/delta/_batch=<id>/   one immutable partition per batch
  *
  * A batch writes ONLY its own `_batch=<id>` partition
  * ([[BatchSink.write]]: a replayed batch replaces its own files, no
  * other partition is touched). Reads see base ∪ live deltas. A fold
  * merges the live deltas into a staged base version (computed FROM
  * the old base while readers still resolve it) and publishes it with
  * one pointer commit.
  *
  * CRASH ATOMIC: the fold writes the cumulative list of batches it has
  * absorbed (`_folded_batches`) inside the staged base version, so the
  * marker publishes in the same pointer flip as the folded rows. A
  * partition the marker names is dead: it is skipped by every read even
  * if its physical deletion crashed, or if a batch replayed from an old
  * checkpoint after the fold re-created it — rows never count twice.
  * Physical deletion is GC, re-attempted on every fold.
  */
final class DeltaIndex(indexDir: String) {

  private val base = new ParquetTableIO(Paths.get(indexDir, "base").toString)
  private val delta: Path = Paths.get(indexDir, "delta")

  /** Batch partitions the CURRENT base snapshot already folded in. */
  private def foldedBatches: Set[String] =
    base.currentDir
      .map(d => Paths.get(d).resolve("_folded_batches"))
      .filter(Files.exists(_)) match {
      case Some(m) =>
        Files.readAllLines(m).toArray.toSeq.map(_.toString)
          .filter(_.nonEmpty).toSet
      case None => Set.empty
    }

  private def liveBatches(folded: Set[String]): Seq[Path] =
    if (!Files.exists(delta)) Nil
    else {
      val s = Files.list(delta)
      try s.filter(_.getFileName.toString.startsWith("_batch="))
        .toArray.toSeq.map(_.asInstanceOf[Path])
        .filterNot(p => folded(p.getFileName.toString))
      finally s.close()
    }

  private def readBatches(spark: SparkSession, parts: Seq[Path]): DataFrame =
    spark.read.option("basePath", delta.toString)
      .parquet(parts.map(_.toString): _*).drop("_batch")

  /** base ∪ live deltas, or None while the index holds nothing. */
  def read(spark: SparkSession): Option[DataFrame] = {
    val live = liveBatches(foldedBatches)
    Seq(
      if (base.exists) Some(base.read(spark)) else None,
      if (live.nonEmpty) Some(readBatches(spark, live)) else None
    ).flatten.reduceOption(_.unionByName(_))
  }

  /** Land `rows` as batch `batchId`'s delta partition, then fold when
    * the `compactEvery` cadence says so (0 = never: run [[compact]]
    * offline instead).
    */
  def append(rows: DataFrame, batchId: Long, compactEvery: Int): Unit = {
    BatchSink.write(rows, batchId, delta.toString)
    if (compactEvery > 0 && (batchId + 1) % compactEvery == 0)
      compact(rows.sparkSession)
  }

  /** Fold the live delta partitions into the base snapshot (distinct
    * rows), after garbage-collecting partitions an earlier fold
    * absorbed but did not delete.
    */
  def compact(spark: SparkSession): Unit = {
    val dead = foldedBatches
    dead.foreach(b => ParquetTableIO.deleteTree(delta.resolve(b)))
    val absorbed = liveBatches(dead)
    if (absorbed.isEmpty) return
    val deltaDf = readBatches(spark, absorbed)
    val merged = if (base.exists) base.read(spark).unionByName(deltaDf) else deltaDf
    val staged = base.stage()
    try {
      merged.distinct().write.mode("overwrite").parquet(staged.vDir.toString)
      Files.writeString(staged.vDir.resolve("_folded_batches"),
        (dead ++ absorbed.map(_.getFileName.toString)).toSeq.sorted
          .mkString("\n"))
    } catch { case NonFatal(e) => base.abortStaged(staged); throw e }
    base.commitStaged(staged)
    absorbed.foreach(ParquetTableIO.deleteTree) // tidy; a crash here is GC-covered
  }
}
