package graft.perfbench

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** One benchmark span: a call into a layer, or a whole operation. `op`
  * groups the spans of one operation; `depth` is 0 for the root span.
  */
final case class Span(id: Long, name: String, parent: Long, op: Long,
    thread: Long, depth: Int, startNs: Long, startMs: Long,
    var endNs: Long = -1L, var endMs: Long = -1L)

final case class TaskRec(launchMs: Long, durationMs: Long, failed: Boolean,
    shuffleWrite: Long, shuffleRead: Long, spill: Long)

final class StageRec(val id: Int) {
  var submitMs: Long = -1L
  val tasks: mutable.ArrayBuffer[TaskRec] = mutable.ArrayBuffer.empty
}

/** A Spark job: its start (wall ms), the span id its job group names, and
  * the span it is attributed to (-1 while unattributed). `fallback` marks a
  * job whose group did not name its span.
  */
final class JobRec(val id: Int, val startMs: Long, val group: Option[Long],
    val stageIds: Seq[Int]) {
  var span: Long = -1L
  var fallback: Boolean = false
  var endMs: Long = -1L
}

/** Spans kept in memory and written once at the end, plus a SparkListener
  * that records every job. Each span sets the Spark job group of its
  * thread to its id, and [[drain]] attributes each job from its group and
  * start time. A job belongs to the span its group names when that span
  * covers the job's start and no child span on the same thread does. A
  * group that fails this test was inherited by a pooled thread from an
  * earlier span (IndexBuilder's side writes run on such threads); the job
  * then falls back to the innermost non-root span covering its start,
  * which must be unique across threads. A job with no such span, or with
  * candidates on several threads, stays unattributed and fails the traced
  * run. With tracing off, `span` only runs its body.
  */
final class Tracer(val enabled: Boolean, sc: SparkContext) {
  private val spans = mutable.ArrayBuffer.empty[Span]
  private val stacks = new ThreadLocal[List[Span]] {
    override def initialValue(): List[Span] = Nil
  }
  private var nextId = 0L
  val jobs: mutable.ArrayBuffer[JobRec] = mutable.ArrayBuffer.empty
  val stages: mutable.Map[Int, StageRec] = mutable.Map.empty

  def span[T](name: String, op: Long = -1L)(body: => T): T =
    if (!enabled) body
    else {
      val stack = stacks.get()
      val parent = stack.headOption
      val s = synchronized {
        nextId += 1
        val sp = Span(nextId, name, parent.map(_.id).getOrElse(0L),
          if (op >= 0) op else parent.map(_.op).getOrElse(-1L),
          Thread.currentThread.getId, stack.size, System.nanoTime(),
          System.currentTimeMillis())
        spans += sp
        sp
      }
      stacks.set(s :: stack)
      sc.setJobGroup(s.id.toString, name)
      try body
      finally {
        synchronized {
          s.endNs = System.nanoTime()
          s.endMs = System.currentTimeMillis()
        }
        stacks.set(stack)
        parent match {
          case Some(p) => sc.setJobGroup(p.id.toString, p.name)
          case None    => sc.clearJobGroup()
        }
      }
    }

  /** Whether `s` covers wall time `t` (an open span covers up to now). */
  private def covers(s: Span, t: Long): Boolean =
    s.startMs <= t && (s.endMs < 0 || t <= s.endMs)

  /** Attributes every recorded job (see the class comment). */
  private def attributeAll(): Unit = synchronized {
    val byId = spans.iterator.map(s => s.id -> s).toMap
    val kids = spans.groupBy(_.parent)
    jobs.foreach { j =>
      val named = j.group.flatMap(byId.get).filter { s =>
        covers(s, j.startMs) && !kids.getOrElse(s.id, Nil).exists(k =>
          k.thread == s.thread && k.startMs < j.startMs && (k.endMs < 0 || j.startMs < k.endMs))
      }
      named match {
        case Some(s) =>
          j.span = s.id
          j.fallback = false
        case None =>
          val innermost = spans.filter(s => s.depth >= 1 && covers(s, j.startMs))
            .groupBy(_.thread).values.map(_.maxBy(s => (s.depth, s.startNs))).toSeq
          j.span = if (innermost.size == 1) innermost.head.id else -1L
          j.fallback = true
      }
    }
  }

  if (enabled) sc.addSparkListener(new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val group = Option(e.properties)
        .flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      Tracer.this.synchronized(
        jobs += new JobRec(e.jobId, e.time, group.flatMap(_.toLongOption), e.stageIds))
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Tracer.this.synchronized(jobs.find(_.id == e.jobId).foreach(_.endMs = e.time))
    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
      Tracer.this.synchronized {
        stages.getOrElseUpdate(e.stageInfo.stageId,
          new StageRec(e.stageInfo.stageId)).submitMs =
          e.stageInfo.submissionTime.getOrElse(-1L)
      }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val m = e.taskMetrics
      val info = e.taskInfo
      val rec = TaskRec(info.launchTime, info.duration, info.failed,
        if (m == null) 0L else m.shuffleWriteMetrics.bytesWritten,
        if (m == null) 0L else m.shuffleReadMetrics.totalBytesRead,
        if (m == null) 0L else m.memoryBytesSpilled + m.diskBytesSpilled)
      Tracer.this.synchronized {
        stages.getOrElseUpdate(e.stageId, new StageRec(e.stageId)).tasks += rec
      }
    }
  })

  /** Blocks until the listener has seen every event posted so far, then
    * attributes the jobs.
    */
  def drain(): Unit = if (enabled) {
    org.apache.spark.PerfbenchBusDrain.drain(sc)
    attributeAll()
  }

  def allSpans: Seq[Span] = synchronized(spans.toList)

  /** Spans named `name` (closed ones only). */
  def named(name: String): Seq[Span] = allSpans.filter(s => s.name == name && s.endNs >= 0)

  /** Jobs attributed to `span` or to any span below it. */
  def jobsUnder(span: Span): Seq[JobRec] = {
    val all = allSpans
    val ids = mutable.Set(span.id)
    var grew = true
    while (grew) {
      val more = all.filter(s => !ids.contains(s.id) && ids.contains(s.parent)).map(_.id)
      grew = more.nonEmpty
      ids ++= more
    }
    synchronized(jobs.filter(j => ids.contains(j.span)).toList)
  }

  def stagesOf(js: Seq[JobRec]): Seq[StageRec] = synchronized {
    js.flatMap(_.stageIds).distinct.flatMap(stages.get)
  }

  def unattributedJobs: Int = synchronized(jobs.count(_.span < 0))

  /** Jobs attributed by the fallback rule rather than by their own group. */
  def fallbackJobs: Int = synchronized(jobs.count(j => j.fallback && j.span >= 0))

  /** Span time minus the part of it that its children cover. */
  def selfMs(s: Span): Double = {
    val kids = allSpans.filter(c => c.parent == s.id && c.endNs >= 0)
      .map(c => (math.max(c.startNs, s.startNs), math.min(c.endNs, s.endNs)))
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var covered = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    kids.foreach { case (a, b) =>
      if (a > curE) {
        if (curE > curS) covered += curE - curS
        curS = a; curE = b
      } else curE = math.max(curE, b)
    }
    if (curE > curS) covered += curE - curS
    (s.endNs - s.startNs - covered) / 1e6
  }

  /** Writes every span, one JSON object a line. */
  def write(path: java.nio.file.Path): Unit = {
    val lines = allSpans.map { s =>
      val own = synchronized(jobs.filter(_.span == s.id).toList)
      val (fallback, direct) = own.partition(_.fallback)
      f"""{"id":${s.id},"name":"${s.name}","parent":${s.parent},"op":${s.op},"thread":${s.thread},"start_ns":${s.startNs},"end_ns":${s.endNs},"self_ms":${selfMs(s)}%.4f,"jobs":[${direct.map(_.id).mkString(",")}],"fallback_jobs":[${fallback.map(_.id).mkString(",")}]}"""
    }
    java.nio.file.Files.createDirectories(path.getParent)
    java.nio.file.Files.write(path, lines.mkString("", "\n", "\n")
      .getBytes(java.nio.charset.StandardCharsets.UTF_8))
  }
}
