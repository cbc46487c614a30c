package perfbench

import java.nio.file.{Files, Paths}

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** One benchmark run: one workload, one seed, one JVM on
  * `local[<cores>]`, driven by a single closed-loop thread.
  *
  * {{{
  * Main --workload <sync_tick|accept_ingest|query_mix> --seed <n>
  *      --seconds <s> --trace <0|1> --work <dir> [--size full|tiny]
  * }}}
  *
  * Writes `<work>/result.json` (the metrics, the operation counts and
  * the correctness verdict) and, with `--trace 1`, `<work>/spans.jsonl`.
  * `perfbench/run.py` builds the classes, owns the work directory and
  * prints the final result line.
  */
object Main {

  /** Median calibration time on the reference host (4 cores, quiet):
    * the unit that end-to-end seconds are expressed in.
    */
  val RefCalibrationS = 0.33

  final case class Opts(workload: String, seed: Long, seconds: Double, trace: Boolean,
      work: String, tiny: Boolean, corrupt: Boolean)

  /** Everything a workload gets from the harness. */
  final case class Ctx(spark: SparkSession, o: Opts, tracer: Option[Tracer],
      jobs: Option[JobLog]) {
    def dir(name: String): String = {
      val p = Paths.get(o.work, name)
      Files.createDirectories(p)
      p.toString
    }
    /** How many operations the measured phase runs: `--seconds` worth
      * at the workload's nominal operation time on the reference host
      * (see perfbench/README.md), at least one untraced and, when
      * tracing, one traced. A fixed count keeps the sample set the same
      * from run to run; a time-bounded loop let host speed decide it
      * (3 batches on a slow minute, 4 on a fast one).
      */
    def ops(nominalS: Double): Int =
      math.max(if (tracer.isDefined) 2 else 1, math.round(o.seconds / nominalS).toInt)

    /** Wall times of the calibration loop, see [[calibrate]]. */
    val calibrations: mutable.ArrayBuffer[Double] = mutable.ArrayBuffer()

    /** Times a fixed calibration loop on the driver thread: seeded
      * random values formatted to strings and hashed, the kind of
      * single-threaded work (planning, codegen, row building) that
      * dominates every workload's operations. The host this runs on is
      * shared and its speed drifts by 30% or more over minutes (the
      * same warm pass went from 3.0 s to 4.3 s and back within ten
      * minutes, and data generation slowed by the same share); the
      * calibration moves with it. Workloads call this right after
      * their measured phase, when no background work is left; the
      * first of four rounds only warms the JIT.
      */
    def calibrate(): Unit = (0 until 4).foreach { round =>
      val t0 = System.nanoTime()
      val r = new java.util.Random(42)
      val md = java.security.MessageDigest.getInstance("SHA-256")
      val sb = new java.lang.StringBuilder
      var i = 0
      while (i < 2000000) {
        sb.setLength(0)
        sb.append(r.nextLong()).append(' ').append(r.nextDouble())
        md.update(sb.toString.getBytes("UTF-8"))
        i += 1
      }
      if (md.digest().length > 0 && round > 0) calibrations += (System.nanoTime() - t0) / 1e9
    }

    /** False once the measured phase overruns `--seconds` threefold, so
      * a run on a badly stalled host still ends in time.
      */
    def inTime(): () => Boolean = {
      val start = System.nanoTime()
      () => (System.nanoTime() - start) / 1e9 < 3 * o.seconds
    }
  }

  /** A named metric with its unit. */
  final case class M(name: String, value: Double, unit: String)

  /** What a workload returns. `inputs` fingerprints the generated
    * inputs; `e2e` are the end-to-end metrics (from
    * untraced operations), `layer` the per-layer ones (from traced
    * operations), `named` the workload's own headline names.
    */
  final case class Result(inputs: String, attempted: Int, failed: Int,
      checks: Seq[(String, Boolean)], e2e: Seq[M], layer: Seq[M], named: Seq[M])

  def parse(args: Array[String]): Opts = {
    val kv = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    def need(k: String) = kv.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    Opts(need("workload"), need("seed").toLong, need("seconds").toDouble,
      need("trace") == "1", need("work"), kv.get("size").contains("tiny"),
      sys.env.get("PERFBENCH_CORRUPT_EXPECTATION").contains("1"))
  }

  def main(args: Array[String]): Unit = {
    val o = parse(args)
    val cores = Runtime.getRuntime.availableProcessors()
    val load0 = loadAverage()
    val tmp = Paths.get(o.work, "tmp").toString
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName(s"perfbench-${o.workload}")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.driver.host", "localhost")
      .config("spark.driver.bindAddress", "127.0.0.1")
      .config("spark.local.dir", tmp)
      .config("spark.sql.warehouse.dir", Paths.get(o.work, "warehouse").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val runId = f"${o.workload}-s${o.seed}-${System.currentTimeMillis()}%x"
    val jobs = if (o.trace) Some(new JobLog) else None
    jobs.foreach(spark.sparkContext.addSparkListener)
    val ctx = Ctx(spark, o, if (o.trace) Some(new Tracer(spark.sparkContext, runId)) else None, jobs)

    val r = o.workload match {
      case "sync_tick" => SyncTick.run(ctx)
      case "accept_ingest" => AcceptIngest.run(ctx)
      case "query_mix" => QueryMix.run(ctx)
      case w => throw new IllegalArgumentException(s"unknown workload $w")
    }
    val calib = median(ctx.calibrations.toSeq)
    System.err.println(s"[perfbench] calibration: ${ctx.calibrations.map(c => f"$c%.3f").mkString(" ")}")
    val host = if (o.trace) Seq(M("host.loadavg_start", load0, "load"),
      M("host.loadavg_end", loadAverage(), "load"), M("host.calibration_s", calib, "s")) else Nil
    val rss = M("peak_rss_mb", peakRssMb(), "MB")
    ctx.tracer.foreach(_.writeJsonl(Paths.get(o.work, "spans.jsonl").toString))
    spark.stop()

    // end-to-end times in reference-host seconds: raw × (reference
    // calibration ÷ this run's calibration), rates the inverse
    val speed = if (calib > 0) RefCalibrationS / calib else 1.0
    val e2e = r.e2e.map {
      case m if m.unit == "s" => m.copy(value = m.value * speed)
      case m if m.unit == "1/s" => m.copy(value = m.value / speed)
      case m => m
    }
    val correct = r.failed == 0 && r.checks.forall(_._2)
    val errRate = M("error_rate", r.failed.toDouble / math.max(1, r.attempted), "ratio")
    val named = r.named ++ Seq(errRate, rss, M("calibration_s", calib, "s"),
      M("host_speed_factor", speed, "ratio"))
    println(s"inputs ${r.inputs}")
    r.checks.foreach { case (n, ok) => println(s"check ${if (ok) "PASS" else "FAIL"} $n") }
    named.foreach(m => println(f"metric ${m.name} = ${m.value}%.6g ${m.unit}"))
    def obj(ms: Seq[M]) = ms.map(m =>
      s""""${m.name}":{"value":${num(m.value)},"unit":"${m.unit}"}""").mkString("{", ",", "}")
    val json = s"""{"correct":$correct,"attempted":${r.attempted},"failed":${r.failed},""" +
      s""""e2e":${obj(e2e :+ rss)},"layer":${obj(r.layer ++ host)},"named":${obj(named)}}"""
    Files.writeString(Paths.get(o.work, "result.json"), json)
  }

  private def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "0" else java.math.BigDecimal.valueOf(v).toPlainString

  private def loadAverage(): Double =
    java.lang.management.ManagementFactory.getOperatingSystemMXBean.getSystemLoadAverage

  /** The JVM's peak resident set (VmHWM), in MB. */
  private def peakRssMb(): Double = {
    val s = new String(Files.readAllBytes(Paths.get("/proc/self/status")), "UTF-8")
    s.linesIterator.find(_.startsWith("VmHWM:"))
      .map(_.replaceAll("[^0-9]", "").toDouble / 1024.0).getOrElse(0.0)
  }

  /** Seconds since the JVM started — the set-up clock's origin. */
  def jvmUptimeS(): Double =
    java.lang.management.ManagementFactory.getRuntimeMXBean.getUptime / 1000.0

  // ---- statistics over operation samples ----

  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  def quantile(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      val pos = q * (s.size - 1)
      val lo = math.floor(pos).toInt
      val hi = math.min(lo + 1, s.size - 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }

  /** The tail: the 11th-slowest sample — the highest percentile with
    * ten samples beyond it. Below 21 samples that percentile would sit
    * at or under the median, so the maximum stands in. Returns
    * (value, percentile).
    */
  def tail(xs: Seq[Double]): (Double, Double) =
    if (xs.isEmpty) (0.0, 0.0)
    else if (xs.size < 21) (xs.max, 100.0)
    else {
      val s = xs.sorted
      (s(s.size - 11), 100.0 * (s.size - 10) / s.size)
    }

  def geomean(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0 else math.exp(xs.map(x => math.log(math.max(x, 1e-9))).sum / xs.size)

  /** Mean per traced operation of the named attribute sums. */
  final class Acc {
    private val sums = mutable.LinkedHashMap[String, (Double, String)]()
    var n = 0
    def add(name: String, v: Double, unit: String): Unit =
      sums(name) = (sums.get(name).map(_._1).getOrElse(0.0) + v, unit)
    def counts(prefix: String, suffix: String, c: JobLog.Counts): Unit = {
      add(s"$prefix.jobs$suffix", c.jobs, "count")
      add(s"$prefix.stages$suffix", c.stages, "count")
      add(s"$prefix.tasks$suffix", c.tasks.toDouble, "count")
      add(s"$prefix.shuffle_bytes$suffix", c.shuffleBytes.toDouble, "bytes")
      add(s"$prefix.spill_bytes$suffix", c.spill.toDouble, "bytes")
      add(s"$prefix.output_bytes$suffix", c.output.toDouble, "bytes")
      add(s"$prefix.driver_gap_s$suffix", c.driverGapS, "s")
    }
    def means: Seq[M] = sums.toSeq.map { case (k, (v, u)) => M(k, v / math.max(1, n), u) }
  }

  /** Runs `op`, timing it; a throw is counted as a failed operation
    * and the loop goes on (a failing spec never aborts its siblings).
    */
  def timed(failures: mutable.Buffer[String], what: String)(op: => Unit): Option[Double] = {
    val t0 = System.nanoTime()
    try { op; Some((System.nanoTime() - t0) / 1e9) }
    catch {
      case scala.util.control.NonFatal(e) =>
        failures += s"$what: $e"
        System.err.println(s"[perfbench] FAILED $what: $e")
        None
    }
  }
}
