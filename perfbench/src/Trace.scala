package perfbench

import java.nio.file.{Files, Paths}
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** One timed call into a layer. Times are `System.nanoTime` values.
  * `phase` is "setup" or "measure"; `req` groups the spans of one cycle,
  * query or operator pass. */
final case class Span(id: Long, parent: Long, name: String, req: String,
    phase: String, start: Long, end: Long) {
  def seconds: Double = (end - start) / 1e9
}

/** Spark work attributed to a span: a job belongs to the span whose id was
  * the submitting thread's job group. */
final case class JobRec(span: Long, start: Long, end: Long, stages: Seq[Int])

final case class StageRec(shuffleWrite: Long, spill: Long, inputBytes: Long)

/** Span recorder. The untraced tracer runs bodies bare; the traced one
  * keeps spans in memory, tags Spark jobs through a thread-local job
  * group and a benchmark-owned [[SparkListener]]. */
sealed trait Tracer {
  def enabled: Boolean
  @volatile var phase: String = "setup"
  def span[T](name: String, req: String)(body: => T): T
  def spans: Seq[Span] = Nil
  def jobs: Seq[JobRec] = Nil
  def stages: Map[Int, StageRec] = Map.empty
}

object NoTrace extends Tracer {
  val enabled = false
  def span[T](name: String, req: String)(body: => T): T = body
}

final class LiveTrace(sc: SparkContext) extends Tracer {
  val enabled = true
  private val ids = new AtomicLong(0)
  private val done = new ConcurrentLinkedQueue[Span]()
  private val stack = new ThreadLocal[List[Long]] {
    override def initialValue(): List[Long] = Nil
  }
  private val jobStart = new java.util.concurrent.ConcurrentHashMap[Int, (Long, Long, Seq[Int])]()
  private val jobDone = new ConcurrentLinkedQueue[JobRec]()
  private val stageDone = new java.util.concurrent.ConcurrentHashMap[Int, StageRec]()
  // listener times are wall-clock millis; spans use nanoTime
  private val nanoOffset = System.nanoTime() - System.currentTimeMillis() * 1000000L
  private def toNano(ms: Long): Long = ms * 1000000L + nanoOffset

  sc.addSparkListener(new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val g = Option(e.properties).flatMap(p =>
        Option(p.getProperty("spark.jobGroup.id")))
      val span = g.filter(_.startsWith("pb-")).map(_.drop(3).toLong).getOrElse(-1L)
      jobStart.put(e.jobId, (span, toNano(e.time), e.stageIds))
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(jobStart.remove(e.jobId)).foreach { case (span, st, stageIds) =>
        jobDone.add(JobRec(span, st, toNano(e.time), stageIds))
      }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val m = e.stageInfo.taskMetrics
      if (m != null) stageDone.put(e.stageInfo.stageId, StageRec(
        m.shuffleWriteMetrics.bytesWritten,
        m.memoryBytesSpilled + m.diskBytesSpilled,
        m.inputMetrics.bytesRead))
    }
  })

  def span[T](name: String, req: String)(body: => T): T = {
    val id = ids.incrementAndGet()
    val outer = stack.get()
    val parent = outer.headOption.getOrElse(0L)
    stack.set(id :: outer)
    sc.setJobGroup(s"pb-$id", name, interruptOnCancel = false)
    val ph = phase
    val t0 = System.nanoTime()
    try body
    finally {
      done.add(Span(id, parent, name, req, ph, t0, System.nanoTime()))
      stack.set(outer)
      if (parent == 0L) sc.clearJobGroup()
      else sc.setJobGroup(s"pb-$parent", "", interruptOnCancel = false)
    }
  }

  override def spans: Seq[Span] = done.asScala.toSeq.sortBy(_.start)
  override def jobs: Seq[JobRec] = jobDone.asScala.toSeq
  override def stages: Map[Int, StageRec] = stageDone.asScala.toMap
}

/** Derived per-span numbers: self time and the Spark work of a span and
  * all its descendants. */
final class SpanIndex(t: Tracer) {
  val spans: Seq[Span] = t.spans
  private val children = spans.groupBy(_.parent)
  private val jobsBySpan = t.jobs.groupBy(_.span)
  private val stageRecs = t.stages

  def descendants(s: Span): Seq[Span] =
    s +: children.getOrElse(s.id, Nil).flatMap(descendants)

  /** Span duration minus the union of its children's intervals. */
  def selfSeconds(s: Span): Double =
    (s.end - s.start - covered(children.getOrElse(s.id, Nil).map(c => (c.start, c.end)),
      s.start, s.end)) / 1e9

  def jobsOf(s: Span): Seq[JobRec] = descendants(s).flatMap(d => jobsBySpan.getOrElse(d.id, Nil))

  /** Wall time of `s` not covered by any of its Spark jobs. */
  def driverGapSeconds(s: Span): Double =
    (s.end - s.start - covered(jobsOf(s).map(j => (j.start, j.end)), s.start, s.end)) / 1e9

  def stageTotals(s: Span): (Int, StageRec) = {
    val ids = jobsOf(s).flatMap(_.stages).distinct.filter(stageRecs.contains)
    val recs = ids.map(stageRecs)
    (ids.length, StageRec(recs.map(_.shuffleWrite).sum, recs.map(_.spill).sum,
      recs.map(_.inputBytes).sum))
  }

  private def covered(iv: Seq[(Long, Long)], lo: Long, hi: Long): Long = {
    var total = 0L; var curS = Long.MinValue; var curE = Long.MinValue
    iv.map { case (a, b) => (math.max(a, lo), math.min(b, hi)) }
      .filter { case (a, b) => b > a }.sortBy(_._1).foreach { case (a, b) =>
        if (a > curE) { if (curE > curS) total += curE - curS; curS = a; curE = b }
        else curE = math.max(curE, b)
      }
    if (curE > curS) total += curE - curS
    total
  }
}

/** Storage accounting from outside: a snapshot of every file under the
  * lake root with its size and inode, and the difference between two
  * snapshots per table directory. */
object Storage {
  final case class FileInfo(size: Long, inode: Long)
  final case class Delta(filesAdded: Int, filesRemoved: Int, filesLinked: Int,
      bytesAdded: Long, bytesRemoved: Long)

  def snapshot(root: String): Map[String, FileInfo] = {
    val p = Paths.get(root)
    if (!Files.exists(p)) return Map.empty
    val s = Files.walk(p)
    try s.iterator().asScala.filter(f => Files.isRegularFile(f))
      .filterNot(f => f.getFileName.toString.endsWith(".crc"))
      .map { f =>
        val rel = p.relativize(f).toString
        rel -> FileInfo(Files.size(f),
          Files.getAttribute(f, "unix:ino").asInstanceOf[Number].longValue())
      }.toMap
    finally s.close()
  }

  /** Table of a lake-relative path: `<layer>/<domain>/<table>`. */
  def tableOf(rel: String): String = rel.split('/').take(3).mkString("/")

  /** Per-table change from `a` to `b`. A file at a new path whose inode
    * already existed in `a` was hard-linked, not written. */
  def diff(a: Map[String, FileInfo], b: Map[String, FileInfo]): Map[String, Delta] = {
    val oldInodes = a.values.map(_.inode).toSet
    val out = mutable.Map.empty[String, Delta]
    def upd(t: String)(f: Delta => Delta): Unit =
      out(t) = f(out.getOrElse(t, Delta(0, 0, 0, 0L, 0L)))
    b.foreach { case (rel, fi) =>
      a.get(rel) match {
        case Some(old) if old.inode == fi.inode => ()
        case _ =>
          if (oldInodes.contains(fi.inode)) upd(tableOf(rel))(d => d.copy(filesLinked = d.filesLinked + 1))
          else upd(tableOf(rel))(d => d.copy(filesAdded = d.filesAdded + 1,
            bytesAdded = d.bytesAdded + fi.size))
      }
    }
    a.foreach { case (rel, fi) =>
      if (!b.get(rel).exists(_.inode == fi.inode))
        upd(tableOf(rel))(d => d.copy(filesRemoved = d.filesRemoved + 1,
          bytesRemoved = d.bytesRemoved + fi.size))
    }
    out.toMap
  }
}
