package perfbench

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.Daemon
import graft.core.{SideSpec, SyncConfig, SyncSpec, Watermark}
import graft.operators.SyncRunner
import graft.sources.{ParquetTableIO, SnapshotSourceIO, TableIO}

/** `sync_tick`: the paper's loop. `Daemon.tick` over a two-spec config
  * — `dsv2` through the DSv2 `SnapshotSourceIO`, `daypart` through
  * `ParquetTableIO.dayPartitioned` — both with `filter_date` and
  * `ignore_same_source`.
  *
  * Every store is seeded once with versions spread over `days` days;
  * the synthetic clock advances one day per tick, so each window holds
  * ~1/days of every store and no tick needs generator writes. ~5% of
  * each store's rows carry the other side's source tag (work for
  * AntiEcho). Before tick 2 one side of `dsv2` gains a column, so that
  * tick evolves the schema.
  *
  * The expected final stores are computed from the generated rows by
  * closed form (per id, the newest eligible row wins, the destination
  * keeps ties; eligible = inside a committed window and not echo-
  * tagged for the destination), not through `LwwMerge`.
  */
object SyncTick {
  import Main._

  private val Day = 86400000L
  private val Day0 = 1704067200000L // 2024-01-01T00:00Z
  private val EvolveTick = 2
  private val NewCol = "new_col"
  /** Median tick on the reference host: sizes the measured phase. */
  private val NominalTickS = 1.8

  final case class GRow(id: String, version: Long, text: String, source: String)

  private val Schema = StructType(Seq(
    StructField("id", StringType), StructField("version", LongType),
    StructField("text", StringType), StructField("source", StringType),
    StructField("date", TimestampType)))

  private def spec(name: String, day: Option[String]) = SyncSpec(name,
    SideSpec(s"c_$name", Some("CASSANDRA")), SideSpec(s"e_$name", Some("Elastic")),
    filterDate = true, ignoreSameSource = true, dayCol = day)

  private val Specs = Seq(spec("dsv2", None), spec("daypart", Some("day")))

  /** One store's rows: `n` distinct ids out of a pool shared with the
    * other side (so ~2/3 of ids exist on both), versions in
    * (Day0, Day0 + days·Day], 5% tagged with `other`.
    */
  private def rows(seed: Long, store: String, n: Int, days: Int, own: String,
      other: String): Seq[GRow] = {
    val r = Gen.rng(seed, store)
    val pool = (n * 3) / 2
    val ids = r.ints(0, pool).distinct().limit(n.toLong).toArray.toSeq
    ids.map { k =>
      GRow(f"${store.drop(2)}-$k%08d", Day0 + 1 + (r.nextDouble() * (days * Day - 1)).toLong,
        Gen.randomText(r, Gen.Words, 4, 12), if (r.nextDouble() < 0.05) other else own)
    }
  }

  private def toDf(spark: SparkSession, rs: Seq[GRow]): DataFrame = {
    import scala.jdk.CollectionConverters._
    spark.createDataFrame(rs.map(g => Row(g.id, g.version, g.text, g.source,
      new java.sql.Timestamp(g.version / 1000 * 1000))).asJava, Schema)
  }

  private def io(root: String, s: SyncSpec, table: String): TableIO = s.dayCol match {
    case Some(d) => ParquetTableIO.dayPartitioned(s"$root/$table", s.versionCol, d)
    case None => new SnapshotSourceIO(s"$root/$table")
  }

  def run(ctx: Ctx): Result = {
    val spark = ctx.spark
    val o = ctx.o
    val (n, days) = if (o.tiny) (1500, 8) else (16000, 20)
    val root = ctx.dir("stores")
    val wm = s"${ctx.dir("wm")}/last"

    val seeded = Specs.map { s =>
      val l = rows(o.seed, s.left.table, n, days, "CASSANDRA", "Elastic")
      val r = rows(o.seed, s.right.table, n, days, "Elastic", "CASSANDRA")
      Seq(s.left.table -> l, s.right.table -> r).foreach { case (t, rs) =>
        io(root, s, t) match {
          case d: SnapshotSourceIO => d.bootstrap(toDf(spark, rs))
          case p => p.overwrite(toDf(spark, rs))
        }
      }
      s -> (l, r)
    }.toMap
    Watermark.write(wm, Day0)
    val cfg = SyncConfig.Config(60, Specs)
    val failures = mutable.ArrayBuffer[String]()
    val okThrough = mutable.Map[String, Long]() // spec -> last committed window end
    // one failed operation per tick, however many of its specs failed
    def account(k: Int, now: Long, reports: Seq[SyncRunner.RunReport]): Unit = {
      val bad = reports.filter(_.failed)
      if (bad.nonEmpty) failures += s"tick $k: ${bad.map(r => s"${r.spec}: ${r.error.get}")}"
      reports.filterNot(_.failed).foreach(r => okThrough(r.spec) = now)
    }
    // ticks 0 and 1 are set-up: they warm the JIT and the plan caches
    (0 until 2).foreach { k =>
      val now = Day0 + (k + 1) * Day
      var reports: Seq[SyncRunner.RunReport] = Nil
      timed(failures, s"tick $k") { reports = Daemon.tick(spark, cfg, wm, root, now) }
      account(k, now, reports)
    }
    val setupS = jvmUptimeS()

    val walls = mutable.ArrayBuffer[Double]()
    val specWalls = mutable.Map[String, mutable.ArrayBuffer[Double]]()
    val rates = mutable.ArrayBuffer[Double]()
    var attempted = 2
    var evolvedAt: Option[Long] = None
    val acc = new Acc
    val tracedWalls = mutable.ArrayBuffer[Double]()
    val last = math.min(days, 2 + ctx.ops(NominalTickS))
    val inTime = ctx.inTime()
    var k = 2
    while (k < last && inTime()) {
      val now = Day0 + (k + 1) * Day
      if (k == EvolveTick) evolvedAt = Some(evolve(spark, root, now - Day))
      val traced = ctx.tracer.isDefined && k % 2 == 1
      attempted += 1
      var reports: Seq[SyncRunner.RunReport] = Nil
      val wall = timed(failures, s"tick $k") {
        reports =
          if (traced) tracedTick(ctx, cfg, root, wm, now)
          else Daemon.tick(spark, cfg, wm, root, now)
      }
      if (traced && wall.isDefined) attribute(ctx, cfg, acc)
      account(k, now, reports)
      wall.filter(_ => reports.forall(!_.failed)).foreach { w =>
        val moved = reports.flatMap(_.legs).map(_.rows).sum
        if (traced) tracedWalls += w
        else {
          walls += w
          rates += moved / w
          reports.foreach(r => specWalls.getOrElseUpdate(r.spec, mutable.ArrayBuffer()) +=
            r.legs.head.elapsedMs / 1000.0)
        }
      }
      k += 1
    }
    ctx.calibrate()

    val checks = Specs.map { s =>
      val (l0, r0) = seeded(s)
      val evolved = if (s.name == "dsv2") evolvedAt else None
      s"sync_tick ${s.name} stores equal the closed-form LWW state" ->
        check(spark, root, s, l0, r0, okThrough.getOrElse(s.name, Day0), evolved, o.corrupt)
    }
    System.err.println(s"[perfbench] tick walls: ${walls.map(w => f"$w%.3f").mkString(" ")}")
    val (tl, pct) = tail(walls.toSeq)
    val p50 = median(walls.toSeq)
    val rate = median(rates.toSeq)
    val specMedians = specWalls.values.map(w => median(w.toSeq)).toSeq
    val e2e = Seq(M("setup_s", setupS, "s"), M("op_p50_s", p50, "s"),
      M("items_per_s", rate, "1/s"), M("round_s", p50, "s"),
      M("geomean_s", geomean(specMedians), "s"))
    val named = Seq(M("setup_s", setupS, "s"), M("tick_p50_s", p50, "s"),
      M(f"tick_tail_s(p$pct%.0f,n=${walls.size})", tl, "s"), M("sync_rows_per_s", rate, "rows/s"))
    val layer = acc.means ++ (if (ctx.tracer.isDefined) Seq(M("trace_overhead_ratio",
      median(tracedWalls.toSeq) / math.max(p50, 1e-9), "ratio")) else Nil)
    val inputs = Gen.digest(Specs.iterator.flatMap(s => seeded(s)._1 ++ seeded(s)._2))
    Result(inputs, attempted, failures.size, checks, e2e, layer, named)
  }

  /** A DSv2-side schema change: `new_col` appears on the `dsv2` right
    * store, set on the rows no window has reached yet (versions after
    * `boundary`). Returns `boundary`.
    */
  private def evolve(spark: SparkSession, root: String, boundary: Long): Long = {
    val path = s"$root/e_dsv2"
    val cur = new SnapshotSourceIO(path).read(spark)
    new ParquetTableIO(path).overwrite(cur.withColumn(NewCol,
      when(col("version") > boundary, concat(lit("n-"), col("id")))))
    boundary
  }

  /** The tick `Daemon.tick` runs, spec by spec, with every store behind
    * the timing decorator.
    */
  private def tracedTick(ctx: Ctx, cfg: SyncConfig.Config, root: String, wm: String,
      now: Long): Seq[SyncRunner.RunReport] = {
    val t = ctx.tracer.get
    val reports = mutable.ArrayBuffer[SyncRunner.RunReport]()
    t.span("operators.tick") {
      cfg.syncs.foreach { s =>
        def side(table: String) = new TimedTableIO(io(root, s, table), s"$root/$table", t)
        t.span(s"operators.sync_run.${s.name}") {
          reports ++= SyncRunner.runAll(ctx.spark,
            Seq(s -> SyncRunner.Sides(side(s.left.table), side(s.right.table))), wm, now)
          t.note("rows", reports.last.legs.map(_.rows).sum.toDouble)
        }
      }
    }
    reports.toSeq
  }

  /** The last traced tick's spans and Spark work, into `acc`. */
  private def attribute(ctx: Ctx, cfg: SyncConfig.Config, acc: Acc): Unit = {
    val t = ctx.tracer.get
    org.apache.spark.PerfbenchBridge.drainListeners(ctx.spark.sparkContext, 10000)
    val tickSpan = t.spans.filter(_.name == "operators.tick").last
    val all = t.spans.filter(s => t.subtree(tickSpan)(s.id))
    def sum(prefix: String) = all.filter(_.name.startsWith(prefix)).map(_.seconds).sum
    def attr(k: String) = all.flatMap(_.attrs.get(k)).sum
    acc.n += 1
    cfg.syncs.foreach { s =>
      val sp = all.find(_.name == s"operators.sync_run.${s.name}").get
      val kids = all.filter(_.parent == sp.id).sortBy(_.startNs)
      acc.add(s"operators.sync_run_s.${s.name}", sp.seconds, "s")
      acc.add(s"operators.sync_self_s.${s.name}", sp.seconds - t.childSeconds(sp, "sources."), "s")
      if (kids.nonEmpty) acc.add("core.watermark_s",
        ((kids.head.startNs - sp.startNs) + (sp.endNs - kids.last.endNs)) / 1e9, "s")
    }
    acc.add("sources.read_s", sum("sources.read"), "s")
    acc.add("sources.prepare_s", sum("sources.prepare"), "s")
    acc.add("sources.commit_s", sum("sources.commit"), "s")
    val rows = attr("rows")
    acc.add("operators.window_rows", rows, "count")
    acc.counts("operators", "",
      ctx.jobs.get.counts(all.map(_.id).toSet, tickSpan.startMs, tickSpan.endMs))
    acc.add("sources.bytes_written", attr("bytes_written"), "bytes")
    acc.add("sources.files_written", attr("files_written"), "count")
    acc.add("sources.bytes_written_per_window_row",
      attr("bytes_written") / math.max(rows, 1.0), "bytes/row")
  }

  /** Final stores vs the closed-form expectation. */
  private def check(spark: SparkSession, root: String, s: SyncSpec, l0: Seq[GRow],
      r0: Seq[GRow], coveredEnd: Long, evolvedAt: Option[Long], corrupt: Boolean): Boolean = {
    val (lm, rm) = (l0.map(g => g.id -> g).toMap, r0.map(g => g.id -> g).toMap)
    def eligible(g: GRow, destSid: String) =
      g.version > Day0 && g.version <= coveredEnd && g.source != destSid
    // winner for `dest` among its own row and the other side's eligible row
    def winner(own: Option[GRow], in: Option[GRow], destSid: String): Option[(GRow, Boolean)] =
      (own, in.filter(eligible(_, destSid))) match {
        case (Some(a), Some(b)) => Some(if (b.version > a.version) (b, true) else (a, false))
        case (Some(a), None) => Some((a, false))
        case (None, Some(b)) => Some((b, true))
        case _ => None
      }
    val ids = (lm.keySet ++ rm.keySet).toSeq.sorted
    // (row, fromRight) per id; new_col is set iff the winning row came
    // from the right store's seed and lay beyond the evolve boundary
    def expected(fromLeftStore: Boolean) = ids.flatMap { id =>
      val w = if (fromLeftStore) winner(lm.get(id), rm.get(id), "CASSANDRA")
        else winner(rm.get(id), lm.get(id), "Elastic")
      w.map { case (g, moved) =>
        val fromRight = fromLeftStore == moved
        val nc = evolvedAt.filter(b => fromRight && g.version > b).map(_ => s"n-${g.id}")
        (g.id, g.version, g.text, g.source, nc)
      }
    }
    def actual(table: String) = {
      val df = io(root, s, table).read(spark)
      val hasNew = df.columns.contains(NewCol)
      df.select(col("id"), col("version"), col("text"), col("source"),
          (if (hasNew) col(NewCol) else lit(null).cast("string")).as(NewCol),
          col("date"))
        .collect().toSeq.map(r => ((r.getString(0), r.getLong(1), r.getString(2),
          r.getString(3), Option(r.getString(4))),
          r.getTimestamp(5).getTime == r.getLong(1) / 1000 * 1000))
        .sortBy(_._1._1)
    }
    val expL = expected(fromLeftStore = true)
    val expR = expected(fromLeftStore = false)
    val (actL, actR) = (actual(s.left.table), actual(s.right.table))
    val expLc = if (corrupt) expL.drop(1) else expL
    actL.map(_._1) == expLc && actR.map(_._1) == expR &&
      (actL ++ actR).forall(_._2)
  }
}
