package perfbench

import scala.collection.mutable

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.MapType

import graft.SparkEntry

/** `query_mix`: read-only warm serves. A fixed list of registered
  * queries covering every operator module runs as repeated passes over
  * generated tables. The set-up pass is cold — it builds every stored
  * artifact into the run's own index directory and records each
  * query's fingerprint (row count + order-insensitive hash); every
  * warm pass must reproduce those fingerprints exactly.
  */
object QueryMix {
  import Main._

  /** (query, module whose code dominates it). */
  val Mix: Seq[(String, String)] = Seq(
    "q57_triangle_count" -> "operators",
    "q44_market_basket" -> "plans", "q48_waiting_supplier" -> "plans",
    "d20_stored_band_probe" -> "dedup", "v16_ivfpq" -> "similarity",
    "t13_batch_search" -> "functions", "m7_phash_wide" -> "multimodal",
    "c10_stored_quantiles" -> "sketch", "a1_lww_latest" -> "core")

  val Modules: Seq[String] = Mix.map(_._2).distinct

  /** Median warm pass on the reference host: sizes the measured phase. */
  private val NominalPassS = 3.4

  /** (rows, order-insensitive hash) of a result, in one action. */
  def fingerprint(df: DataFrame): (Long, Long) = {
    val cols = df.schema.fields.toSeq.map { f =>
      val c = df.col(s"`${f.name}`")
      if (f.dataType.isInstanceOf[MapType]) to_json(c) else c
    }
    val h = xxhash64(cols: _*)
    val r = df.agg(count(lit(1)), sum(h.bitwiseAND(0xffffffffL)),
      sum(shiftrightunsigned(h, 32))).head()
    def l(i: Int) = if (r.isNullAt(i)) 0L else r.getLong(i)
    (l(0), l(1) * 31 + l(2))
  }

  def run(ctx: Ctx): Result = {
    val spark = ctx.spark
    val o = ctx.o
    val dir = ctx.dir("data")
    val inputs = Gen.tables(spark, dir, o.seed, if (o.tiny) 0.001 else 0.01)
    System.err.println(f"[perfbench] data ready at ${jvmUptimeS()}%.1f s")
    val queries = SparkEntry.queries
    val failures = mutable.ArrayBuffer[String]()

    // cold pass: builds the artifacts, records the fingerprints
    val expected = mutable.Map[String, (Long, Long)]()
    val cold = mutable.Map[String, Double]()
    Mix.foreach { case (q, _) =>
      timed(failures, s"cold $q") {
        expected(q) = fingerprint(queries(q)(spark, dir))
      }.foreach(cold(q) = _)
    }
    if (o.corrupt) expected(Mix.head._1) = (-1L, -1L)
    var wrong = 0
    def serve(q: String, pass: Int): Unit = {
      val fp = fingerprint(queries(q)(spark, dir))
      if (!expected.get(q).contains(fp)) {
        wrong += 1
        System.err.println(s"[perfbench] WRONG $q pass $pass: $fp != ${expected.get(q)}")
      }
    }
    val setupS = jvmUptimeS()

    val perQuery = mutable.Map[String, mutable.ArrayBuffer[Double]]()
    val passWalls = mutable.ArrayBuffer[Double]()
    val tracedPassWalls = mutable.ArrayBuffer[Double]()
    val acc = new Acc
    var attempted = Mix.size // the cold pass
    val passes = ctx.ops(NominalPassS)
    val inTime = ctx.inTime()
    var pass = 0
    while (pass < passes && inTime()) {
      val traced = ctx.tracer.isDefined && pass % 2 == 1
      val t0 = System.nanoTime()
      Mix.foreach { case (q, module) =>
        attempted += 1
        val w = timed(failures, s"$q pass $pass") {
          if (traced) {
            val t = ctx.tracer.get
            t.span(s"queries.$q") { t.note(s"module.$module", 1); serve(q, pass) }
          } else serve(q, pass)
        }
        if (!traced) w.foreach(perQuery.getOrElseUpdate(q, mutable.ArrayBuffer()) += _)
      }
      val wall = (System.nanoTime() - t0) / 1e9
      if (traced) tracedPassWalls += wall else passWalls += wall
      pass += 1
    }
    ctx.calibrate()

    if (ctx.tracer.isDefined) layerCounts(ctx, acc)
    System.err.println(s"[perfbench] pass walls: ${passWalls.map(w => f"$w%.3f").mkString(" ")}")
    System.err.println(s"[perfbench] cold: ${Mix.flatMap { case (q, _) =>
      cold.get(q).map(w => f"$q=$w%.2f") }.mkString(" ")}")
    val medians = Mix.map { case (q, m) => (q, m, median(perQuery.getOrElse(q, Nil).toSeq)) }
    val execs = perQuery.values.flatten.toSeq
    val (tl, pct) = tail(execs)
    val buildS = Mix.map { case (q, _) =>
      math.max(0.0, cold.getOrElse(q, 0.0) - median(perQuery.getOrElse(q, Nil).toSeq))
    }.sum
    val passS = median(passWalls.toSeq)
    val rate = Mix.size / math.max(passS, 1e-9)
    val geo = geomean(medians.map(_._3))
    val e2e = Seq(M("setup_s", setupS, "s"), M("op_p50_s", median(execs), "s"),
      M("items_per_s", rate, "1/s"), M("round_s", passS, "s"),
      M("geomean_s", geo, "s"))
    val named = Seq(M("setup_s", setupS, "s"), M(s"mix_pass_s(n=${passWalls.size})", passS, "s"),
      M("mix_geomean_s", geo, "s"), M(f"query_tail_s(p$pct%.0f,n=${execs.size})", tl, "s"))
    val layer = medians.map { case (q, _, v) => M(s"queries.${q}_s", v, "s") } ++
      Modules.map(m => M(s"$m.mix_s", medians.filter(_._2 == m).map(_._3).sum, "s")) ++
      acc.means ++ Seq(M("sources.artifact_build_s", buildS, "s")) ++
      (if (ctx.tracer.isDefined) Seq(M("trace_overhead_ratio",
        median(tracedPassWalls.toSeq) / math.max(passS, 1e-9), "ratio")) else Nil)
    Result(inputs, attempted, failures.size + wrong, Seq(
      s"query_mix every warm pass reproduced the cold-pass fingerprints ($wrong wrong)" ->
        (wrong == 0)), e2e, layer, named)
  }

  /** Per-module job, shuffle and driver-gap sums per traced pass. */
  private def layerCounts(ctx: Ctx, acc: Acc): Unit = {
    val t = ctx.tracer.get
    org.apache.spark.PerfbenchBridge.drainListeners(ctx.spark.sparkContext, 10000)
    val qs = t.spans.filter(_.name.startsWith("queries."))
    acc.n = math.max(1, qs.size / Mix.size)
    qs.foreach { s =>
      val m = s.attrs.keys.find(_.startsWith("module.")).get.stripPrefix("module.")
      val c = ctx.jobs.get.counts(t.subtree(s), s.startMs, s.endMs)
      acc.add(s"$m.mix_jobs", c.jobs, "count")
      acc.add(s"$m.mix_shuffle_bytes", c.shuffleBytes.toDouble, "bytes")
      acc.add(s"$m.mix_driver_gap_s", c.driverGapS, "s")
    }
  }
}
