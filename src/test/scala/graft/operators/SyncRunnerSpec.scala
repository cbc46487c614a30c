package graft.operators

import java.nio.file.Files
import java.util.concurrent.{CountDownLatch, TimeUnit}

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.SparkSpec
import graft.core.{SideSpec, SyncSpec, Watermark}
import graft.sources.{ParquetTableIO, TableIO}

/** End-to-end run-tick scenarios mirroring the reference's five
  * integration tests (tests/testSyncClass.py:111-268) on parquet
  * stores — SURVEY.md §5.
  */
class SyncRunnerSpec extends SparkSpec {
  import spark.implicits._

  // The reference seeds relative to a watermark 5 minutes ago
  // (tests/testSyncClass.py:453-463); we use fixed epoch millis.
  private val last = 1000000L
  private val now = 2000000L
  private val span = Some(Watermark.Span(last, now))
  private val inWin = last + 500 // inside (last, now]
  private val outWin = last - 500 // before the window

  private def stores(): (ParquetTableIO, ParquetTableIO) = {
    val d = Files.createTempDirectory("sync")
    (new ParquetTableIO(d.resolve("left").toString),
      new ParquetTableIO(d.resolve("right").toString))
  }

  private def df(rows: (String, Long, String, String)*): DataFrame =
    rows.toDF("id", "version", "text", "source")

  private val spec = SyncSpec("s", SideSpec("left", Some("L")),
    SideSpec("right", Some("R")), filterDate = true, ignoreSameSource = true)

  test("left→right: only in-window rows cross (testFromCassandraToElastic)") {
    val (l, r) = stores()
    l.overwrite(df(("a", inWin, "in", "L"), ("b", outWin, "out", "L")))
    r.overwrite(df())
    SyncRunner.runOnce(spark, spec, SyncRunner.Sides(l, r), span)
    r.read(spark).select("id").as[String].collect() shouldBe Array("a")
    // left unchanged (nothing came back)
    l.read(spark).count() shouldBe 2
  }

  test("right→left symmetric (testFromElasticToCassandra)") {
    val (l, r) = stores()
    l.overwrite(df())
    r.overwrite(df(("x", inWin, "doc", "R")))
    SyncRunner.runOnce(spark, spec, SyncRunner.Sides(l, r), span)
    l.read(spark).select("id").as[String].collect() shouldBe Array("x")
  }

  test("overlapping ids: newest version wins everywhere (testBothSides)") {
    val (l, r) = stores()
    l.overwrite(df(("k1", inWin + 10, "left-newer", "L"), ("k2", inWin, "left-older", "L")))
    r.overwrite(df(("k1", inWin, "right-older", "R"), ("k2", inWin + 10, "right-newer", "R")))
    SyncRunner.runOnce(spark, spec, SyncRunner.Sides(l, r), span)
    val want = Set(("k1", "left-newer"), ("k2", "right-newer"))
    l.read(spark).select("id", "text").as[(String, String)].collect().toSet shouldBe want
    r.read(spark).select("id", "text").as[(String, String)].collect().toSet shouldBe want
  }

  test("schema drift: extra right column lands on left, null-padded (testDifferentSchemas)") {
    val (l, r) = stores()
    l.overwrite(df(("a", inWin, "t", "L")))
    r.overwrite(Seq(("b", inWin, "u", "R", "extra-val"))
      .toDF("id", "version", "text", "source", "new_col"))
    SyncRunner.runOnce(spark, spec, SyncRunner.Sides(l, r), span)
    val lo = l.read(spark)
    lo.columns.toSet shouldBe Set("id", "version", "text", "source", "new_col")
    lo.filter($"id" === "b").select("new_col").as[String].collect() shouldBe Array("extra-val")
    lo.filter($"id" === "a").select("new_col").collect().head.isNullAt(0) shouldBe true
  }

  test("anti-echo: synced rows do not bounce back on the next tick") {
    val (l, r) = stores()
    l.overwrite(df(("a", inWin, "t", "L")))
    r.overwrite(df())
    SyncRunner.runOnce(spark, spec, SyncRunner.Sides(l, r), span)
    // tick 2 over the same window: the row (source=L) now sits on the
    // right; ignore_same_source must stop it flowing right→left as an
    // "update" (reference pyCassElastic.py:386-399).
    val r2 = SyncRunner.runOnce(spark, spec, SyncRunner.Sides(l, r), span)
    r2.legs(1).rows shouldBe 0 // R->L leg carried nothing
    l.read(spark).count() shouldBe 1
  }

  test("a failing spec does not abort siblings nor hold back their watermarks") {
    val d = Files.createTempDirectory("multi")
    val wm = d.resolve("wm.log").toString
    Watermark.write(wm, last) // legacy shared seed for first-ever runs
    val (l1, r1) = stores()
    l1.overwrite(df(("a", inWin, "t", "L"))); r1.overwrite(df())
    val broken = SyncRunner.Sides(
      new ParquetTableIO(d.resolve("missing-left").toString),
      new ParquetTableIO(d.resolve("missing-right").toString))
    val reports = SyncRunner.runAll(spark,
      Seq(spec -> SyncRunner.Sides(l1, r1), spec.copy(name = "broken") -> broken),
      wm, nowMillis = now)
    reports.map(_.failed) shouldBe Seq(false, true)
    // healthy sibling still ran (seeded from the shared legacy file)
    r1.read(spark).count() shouldBe 1
    // …and its OWN watermark advanced despite the failing sibling, so
    // its next window stays bounded (no unbounded (last, now] re-scan)
    Watermark.read(SyncRunner.specWmPath(wm, spec.name)) shouldBe
      Some(Watermark.truncToMinute(now))
    // the failing spec's watermark did not advance (no write on error)
    Watermark.read(SyncRunner.specWmPath(wm, "broken")) shouldBe None
    // legacy shared file is a read-only seed, never rewritten
    Watermark.read(wm) shouldBe Some(Watermark.truncToMinute(last))
  }

  test("a corrupt watermark file fails its spec's report, not the whole run") {
    val d = Files.createTempDirectory("corrupt")
    val wm = d.resolve("wm.log").toString
    val (l1, r1) = stores()
    l1.overwrite(df(("a", inWin, "t", "L"))); r1.overwrite(df())
    Files.writeString(d.resolve("wm.log." + spec.name), "not a watermark")
    val reports = SyncRunner.runAll(spark,
      Seq(spec -> SyncRunner.Sides(l1, r1)), wm, nowMillis = now)
    reports.map(_.failed) shouldBe Seq(true)
    reports.head.error.get should include("not a watermark")
  }

  // ----- runAll: store-disjoint specs run concurrently

  /** A store that runs hooks before delegating reads and prepares. */
  private class Hooked(inner: TableIO, onRead: () => Unit = () => (),
      onPrepare: () => Unit = () => ()) extends TableIO {
    override def read(spark: SparkSession): DataFrame = { onRead(); inner.read(spark) }
    override def exists: Boolean = inner.exists
    override def prepare(df: DataFrame): TableIO.Prepared = { onPrepare(); inner.prepare(df) }
  }

  /** A rendezvous for `n` specs, each inside `prepare`: a serial run
    * times out and fails the first spec instead of hanging.
    */
  private def rendezvous(n: Int): () => Unit = {
    val latch = new CountDownLatch(n)
    () => {
      latch.countDown()
      if (!latch.await(30, TimeUnit.SECONDS))
        throw new IllegalStateException("sibling spec never reached prepare: specs ran serially")
    }
  }

  private def named(name: String, left: String, right: String) = SyncSpec(name,
    SideSpec(left, Some(left.toUpperCase)), SideSpec(right, Some(right.toUpperCase)),
    filterDate = true, ignoreSameSource = true)

  /** A fresh seeded watermark and store factory under one temp dir. */
  private def multi(): (String, String => ParquetTableIO) = {
    val d = Files.createTempDirectory("concurrent")
    val wm = d.resolve("wm.log").toString
    Watermark.write(wm, last)
    (wm, t => new ParquetTableIO(d.resolve(t).toString))
  }

  test("components: specs sharing a table or a spec name group, in config order") {
    val specs = Seq(named("a", "x", "y"), named("b", "p", "q"), named("c", "y", "z"),
      named("b", "m", "n"), named("d", "k", "l"))
    SyncRunner.components(specs, "wm") shouldBe Seq(Seq(0, 2), Seq(1, 3), Seq(4))
  }

  test("store-disjoint specs are inside prepare at the same time") {
    val (wm, store) = multi()
    val meet = rendezvous(2)
    val specs = Seq(named("s1", "l1", "r1"), named("s2", "l2", "r2")).map { s =>
      val (l, r) = (store(s.left.table), store(s.right.table))
      l.overwrite(df(("a-" + s.name, inWin, "t", "L1"))); r.overwrite(df())
      s -> SyncRunner.Sides(l, new Hooked(r, onPrepare = meet))
    }
    val reports = SyncRunner.runAll(spark, specs, wm, nowMillis = now)
    reports.map(_.error) shouldBe Seq(None, None)
    specs.foreach { case (s, sides) =>
      sides.right.read(spark).select("id").as[String].collect() shouldBe Array("a-" + s.name)
      Watermark.read(SyncRunner.specWmPath(wm, s.name)) shouldBe Some(Watermark.truncToMinute(now))
    }
  }

  test("specs sharing a table run serially in config order; both merges land") {
    val (wm, store) = multi()
    val (x, y, z) = (store("x"), store("y"), store("z"))
    x.overwrite(df(("a", inWin, "from-x", "X")))
    y.overwrite(df())
    z.overwrite(df(("c", inWin, "from-z", "Z")))
    val log = mutable.ArrayBuffer[String]()
    def hook(t: String, io: TableIO) =
      new Hooked(io, onPrepare = () => log.synchronized(log += t))
    val reports = SyncRunner.runAll(spark, Seq(
      named("A", "x", "y") -> SyncRunner.Sides(hook("x", x), hook("y", y)),
      named("B", "y", "z") -> SyncRunner.Sides(hook("y", y), hook("z", z))),
      wm, nowMillis = now)
    reports.map(_.error) shouldBe Seq(None, None)
    log shouldBe Seq("y", "x", "z", "y") // A's two prepares, then B's
    def ids(io: TableIO) = io.read(spark).select("id").as[String].collect().sorted.toSeq
    ids(x) shouldBe Seq("a")
    ids(y) shouldBe Seq("a", "c") // no lost update: both specs' merges into y landed
    ids(z) shouldBe Seq("a", "c") // B saw A's write to y
  }

  test("a throwing spec leaves its concurrent sibling ok with its watermark advanced") {
    val (wm, store) = multi()
    val meet = rendezvous(2)
    val (l, r) = (store("l1"), store("r1"))
    l.overwrite(df(("a", inWin, "t", "L1"))); r.overwrite(df())
    val (bl, br) = (store("l2"), store("r2"))
    bl.overwrite(df(("b", inWin, "t", "L2"))); br.overwrite(df())
    val boom = () => { meet(); throw new RuntimeException("boom") }
    val reports = SyncRunner.runAll(spark, Seq(
      named("broken", "l2", "r2") -> SyncRunner.Sides(bl, new Hooked(br, onPrepare = boom)),
      named("healthy", "l1", "r1") -> SyncRunner.Sides(l, new Hooked(r, onPrepare = meet))),
      wm, nowMillis = now)
    reports.map(_.spec) shouldBe Seq("broken", "healthy")
    reports.head.error.get should include("boom")
    reports(1).error shouldBe None
    r.read(spark).select("id").as[String].collect() shouldBe Array("a")
    Watermark.read(SyncRunner.specWmPath(wm, "healthy")) shouldBe
      Some(Watermark.truncToMinute(now))
    Watermark.read(SyncRunner.specWmPath(wm, "broken")) shouldBe None
    br.read(spark).count() shouldBe 0 // the failed spec published nothing
  }

  test("reports come back in config order, whatever order specs finish in") {
    val (wm, store) = multi()
    val lastDone = new CountDownLatch(1)
    val specs = (0 until 3).map { i =>
      val s = named(s"s$i", s"l$i", s"r$i")
      val (l, r) = (store(s.left.table), store(s.right.table))
      l.overwrite(df((s"k$i", inWin, "t", "L"))); r.overwrite(df())
      // s0 cannot finish before s2 has reached its prepare
      val hook: () => Unit =
        if (i == 0) () => lastDone.await(30, TimeUnit.SECONDS)
        else if (i == 2) () => lastDone.countDown()
        else () => ()
      s -> SyncRunner.Sides(l, new Hooked(r, onPrepare = hook))
    }
    val reports = SyncRunner.runAll(spark, specs, wm, nowMillis = now)
    reports.map(_.spec) shouldBe Seq("s0", "s1", "s2")
    reports.map(_.error) shouldBe Seq(None, None, None)
  }

  test("a single spec runs on the caller's thread") {
    val (wm, store) = multi()
    val (l, r) = (store("l"), store("r"))
    l.overwrite(df(("a", inWin, "t", "L"))); r.overwrite(df())
    val threads = mutable.Set[Thread]()
    val seen: () => Unit = () => threads.synchronized(threads += Thread.currentThread)
    val reports = SyncRunner.runAll(spark, Seq(named("one", "l", "r") ->
      SyncRunner.Sides(new Hooked(l, seen, seen), new Hooked(r, seen, seen))),
      wm, nowMillis = now)
    reports.map(_.error) shouldBe Seq(None)
    threads shouldBe Set(Thread.currentThread)
  }

  test("end-to-end tick over day-partitioned stores (pruning-ready layout)") {
    val d = Files.createTempDirectory("daypart")
    val l = ParquetTableIO.dayPartitioned(d.resolve("left").toString, "version")
    val r = ParquetTableIO.dayPartitioned(d.resolve("right").toString, "version")
    l.overwrite(df(("a", inWin, "left-new", "L"), ("b", outWin, "stale", "L")))
    r.overwrite(df(("a", inWin - 10, "right-old", "R")))
    // dayCol wires the window into partition pruning on the scans
    SyncRunner.runOnce(spark, spec.copy(dayCol = Some("_day")),
      SyncRunner.Sides(l, r), span)
    // LWW across the partitioned layout: newest a wins everywhere,
    // out-of-window b stays left-only
    r.read(spark).select("id", "text").as[(String, String)].collect().toSet shouldBe
      Set(("a", "left-new"))
    l.read(spark).select("id", "text").as[(String, String)].collect().toSet shouldBe
      Set(("a", "left-new"), ("b", "stale"))
    // the published snapshots kept the day-partitioned directory layout
    new java.io.File(l.currentDir.get).list()
      .count(_.startsWith("_day=")) should be >= 1
    // the derived partition column round-trips without duplicating
    l.read(spark).columns.count(_ == "_day") shouldBe 1
  }

  test("idempotence: re-running the same window changes nothing (T5)") {
    val (l, r) = stores()
    l.overwrite(df(("a", inWin, "t", "L"), ("b", inWin + 1, "u", "L")))
    r.overwrite(df(("c", inWin, "v", "R")))
    SyncRunner.runOnce(spark, spec, SyncRunner.Sides(l, r), span)
    val (snapL, snapR) = (l.read(spark).collect().toSet, r.read(spark).collect().toSet)
    SyncRunner.runOnce(spark, spec, SyncRunner.Sides(l, r), span)
    l.read(spark).collect().toSet shouldBe snapL
    r.read(spark).collect().toSet shouldBe snapR
  }

  // ----- the same E2E path through the DSv2 connector (SnapshotSourceIO)

  private def connectorStores(): (graft.sources.SnapshotSourceIO,
      graft.sources.SnapshotSourceIO) = {
    val d = Files.createTempDirectory("sync-dsv2")
    (new graft.sources.SnapshotSourceIO(d.resolve("left").toString),
      new graft.sources.SnapshotSourceIO(d.resolve("right").toString))
  }

  test("full tick through the connector: LWW both ways, anti-echo, idempotent") {
    val (l, r) = connectorStores()
    l.bootstrap(df(("k1", inWin + 10, "left-newer", "L"), ("k2", inWin, "left-older", "L")))
    r.bootstrap(df(("k1", inWin, "right-older", "R"), ("k2", inWin + 10, "right-newer", "R")))
    SyncRunner.runOnce(spark, spec, SyncRunner.Sides(l, r), span)
    val want = Set(("k1", "left-newer"), ("k2", "right-newer"))
    l.read(spark).select("id", "text").as[(String, String)].collect().toSet shouldBe want
    r.read(spark).select("id", "text").as[(String, String)].collect().toSet shouldBe want
    // second tick over the same window: each side re-offers its one
    // locally-originated in-window row (at-least-once), LWW absorbs
    // them — state is unchanged (T5 through the connector)
    val r2 = SyncRunner.runOnce(spark, spec, SyncRunner.Sides(l, r), span)
    r2.legs.map(_.rows) shouldBe Seq(1L, 1L)
    l.read(spark).select("id", "text").as[(String, String)].collect().toSet shouldBe want
    r.read(spark).select("id", "text").as[(String, String)].collect().toSet shouldBe want
  }

  test("schema evolution composes with the connector tick (sync_schemas parity)") {
    val (l, r) = connectorStores()
    l.bootstrap(df(("a", inWin, "t", "L")))
    r.bootstrap(df(("b", inWin, "u", "R")))
    SyncRunner.runOnce(spark, spec, SyncRunner.Sides(l, r), span)

    // upstream ADD COLUMN on the left: the evolved snapshot publishes
    // THROUGH the connector as a new version — the store's schema is
    // per-version, so a wider write is just the next snapshot
    val evolved = Seq(("a", inWin + 10, "t2", "L", "xval"))
      .toDF("id", "version", "text", "source", "new_col")
    val aligned = SchemaTools.align(
      l.read(spark), SchemaTools.evolve(l.read(spark).schema, evolved.schema))
    evolved.unionByName(aligned.filter($"id" =!= "a"))
      .write.format("graft-snapshot")
      .mode(org.apache.spark.sql.SaveMode.Overwrite).save(l.path)

    // tick: the runner's alignBoth carries the column right; both
    // stores now expose it, synced value included
    SyncRunner.runOnce(spark, spec, SyncRunner.Sides(l, r), span)
    val ro = r.read(spark)
    ro.columns should contain("new_col")
    ro.filter($"id" === "a").select("new_col").as[String].collect() shouldBe
      Array("xval")
    // the pre-evolution row null-pads, reference insert-side semantics
    ro.filter($"id" === "b").select("new_col").collect()
      .head.isNullAt(0) shouldBe true
    l.read(spark).columns should contain("new_col")

    // time travel: the PRE-EVOLUTION right version is still readable
    // with its own (old) schema...
    val io = new ParquetTableIO(r.path)
    val prevVersion = io.currentVersion - 1
    val old = spark.read.format("graft-snapshot")
      .option("version", prevVersion).load(r.path)
    old.columns should not contain "new_col"
    // the pre-evolution snapshot is tick 1's state: a already synced
    old.select("id").as[String].collect().sorted shouldBe Array("a", "b")
    // ...and under the EVOLVED schema, where the absent column
    // null-pads at the parquet layer (no rewrite of old versions)
    val oldEvolved = spark.read.format("graft-snapshot")
      .schema(ro.schema)
      .option("version", prevVersion).load(r.path)
    oldEvolved.columns should contain("new_col")
    oldEvolved.select("new_col").collect()
      .foreach(_.isNullAt(0) shouldBe true)
  }

  test("connector read pushes the window predicate to the parquet scan") {
    val (l, _) = connectorStores()
    l.bootstrap(df(("a", inWin, "t", "L"), ("b", outWin, "old", "L")))
    val windowed = IncrementalScan(l.read(spark), "version", span.get)
    val plan = windowed.queryExecution.executedPlan.toString
    plan should include(s"GreaterThan(version,$last)")
    plan should include(s"LessThanOrEqual(version,$now)")
    windowed.select("id").as[String].collect() shouldBe Array("a")
  }
}
