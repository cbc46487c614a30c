package graft.operators

import scala.util.control.NonFatal

import org.apache.spark.sql.functions._
import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.core.{LegReport, SyncSpec, Watermark}
import graft.sources.TableIO

/** One run-tick of a bidirectional sync — the reference's
  * `PyCassElastic.run()` (pyCassElastic.py:54-115) re-expressed as a
  * deterministic dataflow:
  *
  *   1. schema-evolve both sides to the union schema (sync_schemas,
  *      pyCassElastic.py:412-446 — additive only);
  *   2. per leg, select the half-open window `(last, this]` on the
  *      version column when `filterDate` (S2, :205-212), drop rows
  *      that originated at the destination (anti-echo S4, :386-399);
  *   3. LWW-merge each leg's incoming rows into the destination
  *      snapshot; ties keep the incumbent (ES external-version rule,
  *      :340-341). Conflict losers simply don't appear in the next
  *      snapshot — the declarative form of the reference's 409-parse +
  *      DELETE (:508-582);
  *   4. stage BOTH outputs, then commit both, then commit the
  *      watermark — and only on success, fixing the reference's
  *      write-even-on-error gap (:138).
  *
  * Scale: each leg is one shuffle on the id columns — the LWW
  * `max_by` aggregate, planned as a SortAggregate whose
  * `partial_max_by` runs before the exchange (max_by's struct buffer
  * cannot be hash-aggregated, but the map-side combine still cuts the
  * shuffle to one candidate per key and partition). The window filter
  * is a pushed predicate; with a date-partitioned TableIO layout it
  * becomes partition pruning. Nothing is collected to the driver.
  */
object SyncRunner {

  final case class Sides(left: TableIO, right: TableIO)

  final case class RunReport(
      spec: String,
      legs: Seq[LegReport],
      error: Option[String] = None) {
    def failed: Boolean = error.isDefined
  }

  /** One tick for one spec. Both stores converge to the LWW-merged
    * state over the incremental window.
    */
  def runOnce(
      spark: SparkSession,
      spec: SyncSpec,
      sides: Sides,
      span: Option[Watermark.Span],
      collectStats: Boolean = true): RunReport = {
    val t0 = System.nanoTime()
    val (l0, r0) = (sides.left.read(spark), sides.right.read(spark))
    // 1. additive schema evolution, both directions
    val (l, r, _) = SchemaTools.alignBoth(l0, r0)
    val ids = Seq(spec.idCol)

    def incoming(src: DataFrame, destSourceId: Option[String]): DataFrame = {
      val windowed = span match {
        case Some(s) if spec.filterDate =>
          IncrementalScan(src, spec.versionCol, s, dayCol = spec.dayCol)
        case _ => src
      }
      destSourceId.filter(_ => spec.ignoreSameSource) match {
        case Some(sid) => AntiEcho(windowed, spec.sourceCol, sid)
        case None => windowed
      }
    }

    // 2+3. legs: L→R and R→L, each one LWW max_by aggregate. Leg row
    // counts ride the write pass as CollectMetrics observations
    // (A2 counters, reference pyCassElastic.py:262-314) — no extra
    // count() jobs re-executing the lineage.
    val (obsL, obsR) =
      (org.apache.spark.sql.Observation(s"${spec.name}-inL"),
        org.apache.spark.sql.Observation(s"${spec.name}-inR"))
    val inL = incoming(l, spec.right.sourceId) // rows moving left → right
      .observe(obsL, count(lit(1)).as("rows"))
    val inR = incoming(r, spec.left.sourceId) // rows moving right → left
      .observe(obsR, count(lit(1)).as("rows"))
    val newR = LwwMerge.merge(dest = r, incoming = inL, ids, spec.versionCol)
    val newL = LwwMerge.merge(dest = l, incoming = inR, ids, spec.versionCol)

    // 4. stage both before committing either: each output is computed
    // from both stores' OLD snapshots.
    val pR = sides.right.prepare(newR)
    val pL =
      try sides.left.prepare(newL)
      catch { case NonFatal(e) => pR.abort(); throw e }
    try pR.commit()
    catch { case NonFatal(e) => pL.abort(); throw e }
    pL.commit()

    // the staging writes were the observed actions; metrics are ready
    val stats =
      if (collectStats)
        Seq(obsL.get("rows").asInstanceOf[Long], obsR.get("rows").asInstanceOf[Long])
      else Seq(-1L, -1L)

    val ms = (System.nanoTime() - t0) / 1000000
    RunReport(spec.name, Seq(
      LegReport(s"${spec.name}:L->R", stats.head, -1L, ms),
      LegReport(s"${spec.name}:R->L", stats(1), -1L, ms)))
  }

  /** Per-spec watermark file: `<wmPath>.<spec name>` (sanitized). */
  def specWmPath(wmPath: String, specName: String): String =
    wmPath + "." + specName.replaceAll("[^A-Za-z0-9._-]", "_")

  /** All specs of a config; one spec failing must not abort its
    * siblings (the reference's deliberately-broken third sync,
    * tests/testConfig.json "this will fail!!").
    *
    * Each spec owns its own watermark (`specWmPath`), committed when
    * THAT spec succeeds. A single shared watermark gated on every spec
    * would let one persistently failing sibling freeze the window for
    * all — healthy specs would re-scan an unboundedly growing
    * (last, now] range every tick (correct under idempotent LWW, but
    * with tick cost growing without bound). A pre-existing shared file
    * at `wmPath` seeds specs that have no per-spec file yet. Window
    * computation sits inside the per-spec error path, so a corrupt
    * watermark file fails one spec's report instead of escaping to the
    * caller's loop.
    *
    * Specs that share no store and no watermark run concurrently (see
    * [[components]]); one component runs inline on the caller's
    * thread, the others on fresh threads, which inherit the caller's
    * Spark local properties and active session. Specs inside a
    * component run serially in config order. Reports come back in
    * config order; a fatal error in any component is rethrown to the
    * caller after every component has finished.
    */
  def runAll(
      spark: SparkSession,
      specs: Seq[(SyncSpec, Sides)],
      wmPath: String,
      nowMillis: Long): Seq[RunReport] = {
    val reports = new Array[RunReport](specs.size)
    def runSpec(i: Int): Unit = {
      val (spec, sides) = specs(i)
      val wm = specWmPath(wmPath, spec.name)
      reports(i) =
        try {
          val span = Watermark.nextSpan(wm, nowMillis)
            .orElse(Watermark.nextSpan(wmPath, nowMillis))
          val report = runOnce(spark, spec, sides, span)
          Watermark.write(wm,
            span.map(_.thisMs).getOrElse(Watermark.truncToMinute(nowMillis)))
          report
        } catch { case NonFatal(e) =>
          RunReport(spec.name, Nil, Some(e.toString))
        }
    }
    val groups = components(specs.map(_._1), wmPath)
    val fatal = new java.util.concurrent.atomic.AtomicReference[Throwable]()
    val threads = groups.drop(1).map { g =>
      val t = new Thread(() =>
        try g.foreach(runSpec)
        catch { case e: Throwable => fatal.compareAndSet(null, e) },
        s"graft-sync-${specs(g.head)._1.name}")
      t.start()
      t
    }
    try groups.headOption.foreach(_.foreach(runSpec))
    finally threads.foreach(_.join())
    Option(fatal.get).foreach(e => throw e)
    reports.toSeq
  }

  /** Spec indices grouped into components that must run serially: two
    * specs land in one component when they share a table name (both
    * would rewrite, or read while the other rewrites, the same store)
    * or a watermark file (same sanitized spec name). Each component
    * lists its specs in config order; components are ordered by their
    * first spec.
    */
  private[operators] def components(specs: Seq[SyncSpec],
      wmPath: String): Seq[Seq[Int]] =
    specs.zipWithIndex.foldLeft(Vector.empty[(Set[String], Vector[Int])]) {
      case (groups, (s, i)) =>
        val keys = Set(s"table:${s.left.table}", s"table:${s.right.table}",
          s"wm:${specWmPath(wmPath, s.name)}")
        val (hit, rest) = groups.partition(_._1.exists(keys))
        rest :+ (hit.flatMap(_._1).toSet ++ keys -> (hit.flatMap(_._2) :+ i).sorted)
    }.map(_._2).sortBy(_.head)
}
