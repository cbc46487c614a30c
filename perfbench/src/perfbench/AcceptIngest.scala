package perfbench

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types._

import graft.sources.IncrementalDocArtifact
import graft.streaming.StreamingAcceptIngest

/** `accept_ingest`: the write side of the artifact store and of the
  * dedup screens. A closed loop of fixed-size document batches; each
  * batch is offered to an exact-mode sink (`applyBatch`) and then to a
  * near-mode sink (`applyBatchNear`). The detached screen folds land
  * inside the run and the loop drains them at the end.
  *
  * Batches are built from the document vocabulary (each word with one
  * of 40 suffixes, so unrelated documents share few shingles):
  * ~25% exact re-offers of earlier texts, ~8% planted near copies (an
  * earlier fresh document plus one appended word, Jaccard ≈ 0.98), the
  * rest fresh. What each sink must accept is therefore known by
  * construction.
  */
object AcceptIngest {
  import Main._

  private val Threshold = 0.8
  private val ReofferShare = 0.25
  private val PlantShare = 0.08
  /** Median exact + near batch pair on the reference host: sizes the
    * measured phase.
    */
  private val NominalPairS = 3.2

  private val Vocab: IndexedSeq[String] =
    for (w <- Gen.Words; s <- 0 until 40) yield s"$w$s"

  private val Schema = StructType(Seq(StructField("doc_id", LongType),
    StructField("text", StringType)))

  /** What one batch offered, by kind. */
  final case class Batch(rows: Seq[(Long, String)], fresh: Seq[String], planted: Seq[String])

  /** Seeded batch stream. Fresh texts are unique; a planted copy's
    * base is a fresh text of an EARLIER batch, used once.
    */
  final class Docs(seed: Long, size: Int) {
    private val r = Gen.rng(seed, "accept")
    private var nextId = 0L
    private val offered = mutable.ArrayBuffer[String]()
    private val seen = mutable.HashSet[String]()
    private val plantable = mutable.ArrayBuffer[String]()

    def next(): Batch = {
      val rows = mutable.ArrayBuffer[(Long, String)]()
      val fresh = mutable.ArrayBuffer[String]()
      val planted = mutable.ArrayBuffer[String]()
      (0 until size).foreach { _ =>
        val u = r.nextDouble()
        val text =
          if (u < ReofferShare && offered.nonEmpty) offered(r.nextInt(offered.size))
          else if (u < ReofferShare + PlantShare && plantable.nonEmpty) {
            val base = plantable.remove(r.nextInt(plantable.size))
            val t = s"$base dup"
            planted += t
            t
          } else {
            var t = Gen.randomText(r, Vocab, 20, 60)
            while (seen(t)) t = Gen.randomText(r, Vocab, 20, 60)
            fresh += t
            t
          }
        seen += text
        rows += ((nextId, text))
        nextId += 1
      }
      offered ++= rows.map(_._2)
      plantable ++= fresh
      Batch(rows.toSeq, fresh.toSeq, planted.toSeq)
    }
  }

  private def df(spark: SparkSession, b: Batch): DataFrame =
    spark.createDataFrame(b.rows.map { case (i, t) => Row(i, t) }.asJava, Schema)

  private def du(p: String): Long =
    if (!Files.exists(Paths.get(p))) 0L
    else {
      val s = Files.walk(Paths.get(p))
      try s.filter((f: Path) => Files.isRegularFile(f)).mapToLong((f: Path) => Files.size(f)).sum()
      finally s.close()
    }

  def run(ctx: Ctx): Result = {
    val spark = ctx.spark
    val o = ctx.o
    val size = if (o.tiny) 60 else 150
    // fold every 4 generations (default 8) so folds land inside a run
    sys.props("graft.accept.compactEvery") = "4"
    val exactDir = ctx.dir("sinks/exact")
    val nearDir = ctx.dir("sinks/near")
    val docs = new Docs(o.seed, size)
    val failures = mutable.ArrayBuffer[String]()
    // the first batch lands both corpora and builds both screen
    // artifacts: it is set-up, and its offers count toward the checks
    val first = docs.next()
    timed(failures, "exact batch 0") {
      StreamingAcceptIngest.applyBatch(df(spark, first), 0, "doc_id", "text", exactDir)
    }
    timed(failures, "near batch 0") {
      StreamingAcceptIngest.applyBatchNear(df(spark, first), 0, "doc_id", "text", nearDir,
        Threshold)
    }
    val setupS = jvmUptimeS()

    IncrementalDocArtifact.Maintenance.reset()
    val batches = mutable.ArrayBuffer(first)
    val exactWalls = mutable.ArrayBuffer[Double]()
    val nearWalls = mutable.ArrayBuffer[Double]()
    val pairWalls = mutable.ArrayBuffer[Double]()
    val tracedWalls = mutable.ArrayBuffer[Double]()
    val acc = new Acc
    var attempted = 2
    val last = 1 + ctx.ops(NominalPairS)
    val inTime = ctx.inTime()
    var b = 1
    while (b < last && inTime()) {
      val batch = docs.next()
      batches += batch
      val frame = df(spark, batch)
      val traced = ctx.tracer.isDefined && b % 2 == 0
      attempted += 2
      def call(mode: String)(op: => Unit): Option[Double] = timed(failures, s"$mode batch $b") {
        if (traced) ctx.tracer.get.span(s"streaming.$mode")(op) else op
      }
      val e = call("exact")(StreamingAcceptIngest.applyBatch(frame, b, "doc_id", "text", exactDir))
      val n = call("near")(StreamingAcceptIngest.applyBatchNear(frame, b, "doc_id", "text",
        nearDir, Threshold))
      if (traced) {
        val t = ctx.tracer.get
        org.apache.spark.PerfbenchBridge.drainListeners(spark.sparkContext, 10000)
        Seq("exact", "near").foreach { mode =>
          val sp = t.spans.filter(_.name == s"streaming.$mode").last
          acc.counts("streaming", s".$mode",
            ctx.jobs.get.counts(t.subtree(sp), sp.startMs, sp.endMs))
        }
        acc.n += 1
        for (x <- e; y <- n) tracedWalls += x + y
      } else {
        e.foreach(exactWalls += _)
        n.foreach(nearWalls += _)
        for (x <- e; y <- n) pairWalls += x + y
      }
      b += 1
    }
    attempted += 1
    val drain = timed(failures, "drain") {
      StreamingAcceptIngest.awaitScreenMaintenance(exactDir, "doc_id", "text")
      StreamingAcceptIngest.awaitScreenMaintenanceNear(nearDir, "doc_id", "text")
    }.getOrElse(0.0)
    val maint = IncrementalDocArtifact.Maintenance.snapshot
    ctx.calibrate()

    // ---- correctness: exact sink = distinct offered texts, each once;
    // near sink = planted copies dropped, fresh texts kept ----
    val offered = batches.flatMap(_.rows.map(_._2))
    val distinct = offered.toSet
    def acceptedTexts(dir: String) =
      StreamingAcceptIngest.accepted(spark, dir).select("text").collect().map(_.getString(0)).toSeq
    val exactAcc = acceptedTexts(exactDir)
    val nearAcc = acceptedTexts(nearDir)
    val expectExact = if (o.corrupt) distinct + "never offered" else distinct
    val exactOk = exactAcc.size == exactAcc.toSet.size && exactAcc.toSet == expectExact
    val nearSet = nearAcc.toSet
    val planted = batches.flatMap(_.planted)
    val fresh = batches.flatMap(_.fresh)
    val recall = if (planted.isEmpty) 1.0 else planted.count(t => !nearSet(t)).toDouble / planted.size
    val falseDrop = fresh.count(t => !nearSet(t)).toDouble / math.max(1, fresh.size)
    val checks = Seq(
      "accept_ingest exact sink accepted exactly the distinct offered texts" -> exactOk,
      "accept_ingest near sink accepted no text twice" -> (nearAcc.size == nearSet.size),
      f"accept_ingest near planted-dup recall $recall%.3f >= 0.9" -> (recall >= 0.9),
      f"accept_ingest near false-drop ratio $falseDrop%.4f <= 0.01" -> (falseDrop <= 0.01))

    System.err.println(s"[perfbench] exact walls: ${exactWalls.map(w => f"$w%.3f").mkString(" ")}")
    System.err.println(s"[perfbench] near walls: ${nearWalls.map(w => f"$w%.3f").mkString(" ")}")
    val p50 = median(exactWalls.toSeq)
    val exactRate = size / math.max(p50, 1e-9)
    val nearRate = size / math.max(median(nearWalls.toSeq), 1e-9)
    val (tl, pct) = tail(exactWalls.toSeq)
    val e2e = Seq(M("setup_s", setupS, "s"), M("op_p50_s", p50, "s"),
      M("items_per_s", exactRate, "1/s"), M("round_s", median(pairWalls.toSeq), "s"),
      M("geomean_s", geomean(Seq(p50, median(nearWalls.toSeq))), "s"))
    val named = Seq(M("setup_s", setupS, "s"), M("accept_docs_per_s", exactRate, "docs/s"),
      M("accept_batch_p50_s", p50, "s"),
      M(f"accept_batch_tail_s(p$pct%.0f,n=${exactWalls.size})", tl, "s"),
      M("accept_near_docs_per_s", nearRate, "docs/s"), M("accept_drain_s", drain, "s"))
    val artifactBytes = du(StreamingAcceptIngest.screenArtifactDir(exactDir, "doc_id", "text")) +
      du(StreamingAcceptIngest.screenArtifactDirNear(nearDir, "doc_id", "text"))
    val acceptedBytes = du(StreamingAcceptIngest.acceptedCorpusPath(exactDir)) +
      du(StreamingAcceptIngest.acceptedCorpusPath(nearDir))
    val folds = maint("folds_completed").toDouble
    val layer = acc.means ++ Seq(
      M("sources.maint_folds", folds, "count"),
      M("sources.fold_s", maint("fold_total_ms") / 1000.0, "s"),
      M("sources.fold_max_s", maint("fold_max_ms") / 1000.0, "s"),
      M("sources.maint_queue_peak", maint("queue_peak").toDouble, "count"),
      M("sources.maint_failed", maint("folds_failed").toDouble, "count"),
      M("sources.artifact_bytes_per_accepted_byte",
        artifactBytes.toDouble / math.max(1L, acceptedBytes), "ratio"),
      M("dedup.exact_drop_ratio", 1.0 - exactAcc.size.toDouble / offered.size, "ratio"),
      M("dedup.near_planted_recall", recall, "ratio"),
      M("dedup.near_false_drop_ratio", falseDrop, "ratio"),
      M("accept.drain_s", drain, "s")) ++
      (if (ctx.tracer.isDefined) Seq(M("trace_overhead_ratio",
        median(tracedWalls.toSeq) / math.max(median(pairWalls.toSeq), 1e-9), "ratio")) else Nil)
    Result(Gen.digest(first.rows.iterator), attempted, failures.size, checks, e2e, layer, named)
  }
}
