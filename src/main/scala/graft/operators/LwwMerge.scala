package graft.operators

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{Column, DataFrame}

/** Last-writer-wins merge — THE core operator of the engine
  * (SURVEY.md §2.4 A1).
  *
  * The reference delegates LWW to Elasticsearch's external versioning:
  * `_version_type='external'` keeps the max-version doc per `_id` and
  * 409s the rest (reference pyCassElastic.py:337-343). On ties ES keeps
  * the INCUMBENT (equal version → 409 for the newcomer,
  * pyCassElastic.py:340-341), so the two-sided merge must prefer the
  * destination side on equal versions.
  *
  * Two physical forms, same semantics:
  *
  *  - `latestAgg` — `groupBy(id).agg(max_by(struct(*), orderKey))`.
  *    Planned as a SortAggregate (max_by's struct buffer cannot be
  *    hash-aggregated) with MAP-SIDE PARTIAL aggregation:
  *    `partial_max_by` reduces each input partition to one candidate
  *    row per key before the exchange, so bytes shuffled ≈ |distinct
  *    keys| per partition, not |rows|. This is the 100 TB-scale
  *    default.
  *  - `latestWindow` — `row_number` over (partitionBy id, orderBy
  *    version desc). Shuffles EVERY row then sorts per partition;
  *    kept because it also yields losers (rank > 1) for conflictSplit,
  *    and as the oracle-friendly formulation (SQL QUALIFY).
  */
object LwwMerge {

  /** Deterministic total order for "newest": version, then tie-breakers. */
  private def orderKey(versionCol: String, tieBreak: Seq[Column]): Column =
    struct((col(versionCol) +: tieBreak): _*)

  /** Keep the newest row per key — aggregate form (map-side combine). */
  def latestAgg(
      df: DataFrame,
      idCols: Seq[String],
      versionCol: String,
      tieBreak: Seq[Column] = Nil): DataFrame = {
    val payload = df.columns.filterNot(idCols.contains)
    df.groupBy(idCols.map(col): _*)
      .agg(
        max_by(struct(payload.map(col): _*), orderKey(versionCol, tieBreak))
          .as("__winner"))
      .select(idCols.map(col) ++ payload.map(c => col(s"__winner.$c").as(c)): _*)
      // restore original column order
      .select(df.columns.map(col): _*)
  }

  /** SCD2 history: every version of every key annotated with its
    * validity interval — the warehouse-shaped complement of
    * `latestAgg`'s current-state view, derivable because the engine's
    * version column is a total order per key. `valid_from` is the
    * row's own version; `valid_to` is the NEXT version (null for the
    * current row) via one `lead` window — the half-open interval
    * [valid_from, valid_to) an as-of lookup joins against.
    *
    * One shuffle on the key, one sort per partition; ties broken by
    * `tieBreak` so replays produce identical intervals.
    */
  def history(
      df: DataFrame,
      idCols: Seq[String],
      versionCol: String,
      tieBreak: Seq[Column] = Nil): DataFrame = {
    val w = Window
      .partitionBy(idCols.map(col): _*)
      .orderBy((col(versionCol).asc +: tieBreak.map(_.asc)): _*)
    df.withColumn("valid_from", col(versionCol))
      .withColumn("valid_to", lead(col(versionCol), 1).over(w))
      .withColumn("is_current", col("valid_to").isNull)
  }

  /** Keep the newest row per key — ranking-window form. */
  def latestWindow(
      df: DataFrame,
      idCols: Seq[String],
      versionCol: String,
      tieBreak: Seq[Column] = Nil): DataFrame = {
    val w = Window
      .partitionBy(idCols.map(col): _*)
      .orderBy((col(versionCol).desc +: tieBreak.map(_.desc_nulls_last)): _*)
    df.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1)
      .drop("__rn")
  }

  /** Two-sided merge: the surviving state after syncing `incoming` into
    * `dest` under LWW. Ties prefer `dest` (the incumbent), mirroring
    * ES external-version semantics (reference pyCassElastic.py:340-341).
    * Columns are aligned by name (schema evolution happens upstream via
    * SchemaTools.align).
    *
    * The order key ends with a hash of the full payload: two rows in the
    * SAME store sharing (id, version) would otherwise give `max_by` an
    * equal key and an arbitrary winner, so a replayed/retried run could
    * publish a different snapshot. With the hash, replays are
    * deterministic (the discipline SkewTools documents engine-wide).
    */
  def merge(
      dest: DataFrame,
      incoming: DataFrame,
      idCols: Seq[String],
      versionCol: String): DataFrame = {
    val d = dest.withColumn("__side", lit(1)) // incumbent ranks higher on ties
    val i = incoming.withColumn("__side", lit(0))
    val u = d.unionByName(i, allowMissingColumns = true)
    val payloadHash =
      xxhash64(u.columns.filter(_ != "__side").sorted.map(col): _*)
    latestAgg(u, idCols, versionCol,
      tieBreak = Seq(col("__side"), payloadHash))
      .drop("__side")
  }
}
