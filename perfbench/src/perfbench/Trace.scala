package perfbench

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.sources.TableIO

/** Outside-in span recorder. A span is opened around a call into one
  * of the engine's public functions; it carries the run id, its parent
  * span and free-form numeric attributes. Spans stay in memory and are
  * written out once, at the end of the run ([[writeJsonl]]).
  *
  * While a span is open on the driver thread its id rides the Spark
  * local property [[SpanProp]], so every job that thread submits is
  * attributed to it by [[JobLog]] — the engine itself is not touched.
  */
final class Tracer(sc: SparkContext, val runId: String) {
  import Tracer._

  private val all = mutable.ArrayBuffer[Span]()
  private var open: List[Span] = Nil

  def spans: Seq[Span] = all.toSeq

  def span[A](name: String)(body: => A): A = {
    val s = Span(all.size, open.headOption.map(_.id).getOrElse(-1), name,
      System.nanoTime(), System.currentTimeMillis())
    all += s
    open = s :: open
    sc.setLocalProperty(SpanProp, s.id.toString)
    try body
    finally {
      s.endNs = System.nanoTime()
      s.endMs = System.currentTimeMillis()
      open = open.tail
      sc.setLocalProperty(SpanProp, open.headOption.map(_.id.toString).orNull)
    }
  }

  /** Attribute set on the innermost open span. */
  def note(key: String, v: Double): Unit =
    open.headOption.foreach(s => s.attrs(key) = s.attrs.getOrElse(key, 0.0) + v)

  /** Ids of `s` and every span below it. */
  def subtree(s: Span): Set[Int] = {
    val kids = all.groupBy(_.parent)
    def walk(id: Int): Seq[Int] = id +: kids.getOrElse(id, Nil).toSeq.flatMap(c => walk(c.id))
    walk(s.id).toSet
  }

  /** Sum of the durations of the direct children of `s` named `prefix*`. */
  def childSeconds(s: Span, prefix: String): Double =
    all.filter(c => c.parent == s.id && c.name.startsWith(prefix)).map(_.seconds).sum

  def writeJsonl(path: String): Unit = {
    val lines = all.map { s =>
      val attrs = s.attrs.map { case (k, v) => s""""$k":$v""" }.mkString(",")
      s"""{"run":"$runId","id":${s.id},"parent":${s.parent},"name":"${s.name}",""" +
        s""""start_ms":${s.startMs},"end_ms":${s.endMs},"dur_s":${s.seconds},"attrs":{$attrs}}"""
    }
    Files.write(Paths.get(path), (lines.mkString("\n") + "\n").getBytes("UTF-8"))
  }
}

object Tracer {
  val SpanProp = "perfbench.span"

  final case class Span(id: Int, parent: Int, name: String, startNs: Long, startMs: Long) {
    var endNs: Long = startNs
    var endMs: Long = startMs
    val attrs: mutable.Map[String, Double] = mutable.Map()
    def seconds: Double = (endNs - startNs) / 1e9
  }
}

/** Benchmark-owned listener: every job with its span property and
  * interval, every completed stage attempt with its span property,
  * task count and metrics.
  * Attribution happens after the run, once the listener bus drains.
  */
final class JobLog extends SparkListener {
  import JobLog._

  private val jobs = mutable.Map[Int, Job]()
  private val stageSpan = mutable.Map[(Int, Int), (Int, Long)]()
  private val stages = mutable.ArrayBuffer[Stage]()

  private def spanOf(p: java.util.Properties): Int =
    Option(p).flatMap(p => Option(p.getProperty(Tracer.SpanProp))).map(_.toInt).getOrElse(-1)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    jobs(e.jobId) = Job(e.jobId, spanOf(e.properties), e.time, e.time)
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
    stageSpan((e.stageInfo.stageId, e.stageInfo.attemptNumber)) =
      (spanOf(e.properties), e.stageInfo.submissionTime.getOrElse(System.currentTimeMillis()))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach(j => jobs(e.jobId) = j.copy(endMs = e.time))
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val i = e.stageInfo
    val m = i.taskMetrics
    val (span, at) = stageSpan.remove((i.stageId, i.attemptNumber)).getOrElse((-1, 0L))
    stages += Stage(span, at, i.numTasks,
      if (m == null) 0L else m.shuffleReadMetrics.totalBytesRead,
      if (m == null) 0L else m.shuffleWriteMetrics.bytesWritten,
      if (m == null) 0L else m.memoryBytesSpilled + m.diskBytesSpilled,
      if (m == null) 0L else m.outputMetrics.bytesWritten)
  }

  /** Counts for the jobs whose span is in `ids`, started inside
    * [startMs, endMs] (a pool thread that inherited a stale span
    * property is excluded by the interval check).
    */
  def counts(ids: Set[Int], startMs: Long, endMs: Long): Counts = synchronized {
    val js = jobs.values.filter(j => ids(j.span) && j.startMs >= startMs && j.startMs <= endMs)
      .toSeq.sortBy(_.startMs)
    val ss = stages.filter(s => ids(s.span) && s.atMs >= startMs && s.atMs <= endMs).toSeq
    // union of job intervals, clipped to the span
    var covered = 0L
    var curS = -1L
    var curE = -1L
    js.foreach { j =>
      val s = math.max(j.startMs, startMs)
      val e = math.min(math.max(j.endMs, j.startMs), endMs)
      if (s > curE) { if (curE > curS) covered += curE - curS; curS = s; curE = e }
      else curE = math.max(curE, e)
    }
    if (curE > curS) covered += curE - curS
    Counts(js.size, ss.size, ss.map(_.tasks.toLong).sum, ss.map(_.shuffleRead).sum,
      ss.map(_.shuffleWrite).sum, ss.map(_.spill).sum, ss.map(_.output).sum,
      math.max(0L, (endMs - startMs) - covered) / 1000.0)
  }
}

object JobLog {
  final case class Job(id: Int, span: Int, startMs: Long, endMs: Long)
  final case class Stage(span: Int, atMs: Long, tasks: Int, shuffleRead: Long,
      shuffleWrite: Long, spill: Long, output: Long)
  final case class Counts(jobs: Int, stages: Int, tasks: Long, shuffleRead: Long,
      shuffleWrite: Long, spill: Long, output: Long, driverGapS: Double) {
    def shuffleBytes: Long = shuffleRead + shuffleWrite
  }
}

/** [[TableIO]] decorator: `read`, `prepare` and `commit` each run in a
  * `sources.*` span; after a commit the published snapshot (the
  * store's `_current` pointer target) is walked for bytes and files.
  */
final class TimedTableIO(inner: TableIO, root: String, t: Tracer) extends TableIO {
  override def read(spark: SparkSession): DataFrame = t.span("sources.read")(inner.read(spark))
  override def exists: Boolean = inner.exists
  override def prepare(df: DataFrame): TableIO.Prepared = {
    val p = t.span("sources.prepare")(inner.prepare(df))
    new TableIO.Prepared {
      override def commit(): Unit = t.span("sources.commit") {
        p.commit()
        val (bytes, files) = TimedTableIO.published(root)
        t.note("bytes_written", bytes.toDouble)
        t.note("files_written", files.toDouble)
      }
      override def abort(): Unit = p.abort()
    }
  }
}

object TimedTableIO {
  /** (bytes, data files) of the snapshot a store's pointer names. */
  def published(root: String): (Long, Long) = {
    val ptr = Paths.get(root, "_current")
    if (!Files.exists(ptr)) (0L, 0L)
    else {
      val dir = Paths.get(root).resolve(Files.readString(ptr).trim)
      val s = Files.walk(dir)
      try {
        val fs = s.filter((p: Path) => Files.isRegularFile(p) &&
          p.getFileName.toString.endsWith(".parquet")).toArray.toSeq.map(_.asInstanceOf[Path])
        (fs.map(p => Files.size(p)).sum, fs.size.toLong)
      } finally s.close()
    }
  }
}
