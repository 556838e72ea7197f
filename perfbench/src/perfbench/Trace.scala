package perfbench

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.PerfbenchBus
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}
import scala.collection.mutable

/** What one Spark stage attempt did, as the listener saw it: its engine
  * [[Phase]], and task, busy-time and shuffle/spill totals. */
final class StageRec(val phase: String) {
  var tasks: Int = 0
  var busyMs: Long = 0L
  var shuffleWriteBytes: Long = 0L
  var spillBytes: Long = 0L
  val taskMs: mutable.ArrayBuffer[Long] = mutable.ArrayBuffer.empty[Long]
}

/** Wall time `[startMs, endMs)` the engine spent in one [[Phase]]: a SQL
  * execution from before its planning to after its last job and commit, or
  * a job run outside any SQL execution. */
final case class Interval(phase: String, startMs: Double, endMs: Double)

object Interval {
  /** Wall time covered by the union of `xs`. */
  def covered(xs: Seq[Interval]): Double = {
    var total = 0.0
    var end = Double.MinValue
    xs.sortBy(_.startMs).foreach { i =>
      if (i.startMs >= end) { total += i.endMs - i.startMs; end = i.endMs }
      else if (i.endMs > end) { total += i.endMs - end; end = i.endMs }
    }
    total
  }
}

/** Which engine phase a job belongs to, from what the job does rather than
  * from a copy of the engine's code: a write is named by the table it
  * writes (`docmeta`, `postings`, ...), anything else by the first engine
  * frame of the driver stack that submitted it. */
object Phase {
  // the write command's details in the formatted plan:
  // "(n) Execute InsertIntoHadoopFsRelationCommand\nInput: []\nArguments: <path>, ..."
  private val writePath =
    """Execute InsertIntoHadoopFsRelationCommand\s*\n[^\n]*\nArguments: ([^,\s]+)""".r

  def of(planDescription: String, callSite: String): String = {
    val frames = callSite.linesIterator.filter(_.contains("graft.")).mkString("\n")
    val target = writePath.findFirstMatchIn(planDescription).map { m =>
      val parts = m.group(1).split('/')
      if (parts.length > 1 && parts(parts.length - 2) == "deletes") "deletes/" else parts.last
    }.getOrElse("")
    if (frames.contains("SegmentMerger")) "merge"
    else if (frames.contains("CheckIndex")) "check"
    else if (target.startsWith("deletes/")) "delete"
    else if (target == "docmeta") "analyze"
    else if (target == "postings" || target == "buildmetrics") "encode"
    else if (target == "termstats") "stats"
    else if (frames.contains("assignDocIds")) "docid"
    else if (frames.contains("fieldStatsOf")) "stats"
    else if (frames.contains("IndexStore$.open") || frames.contains("openManifest")) "open"
    else if (frames.contains("IndexStore$.updateDocs")) "delete"
    else if (frames.contains("graft.search")) "search"
    else "other"
  }
}

/** Job, stage and task metrics keyed by job group: every span runs its
  * Spark work under a job group of its own, so the group names the span.
  * Each stage and each [[Interval]] is also tagged with its engine [[Phase]]. */
final class SpanListener extends SparkListener {
  private val stageGroup = mutable.HashMap.empty[Int, (String, String)]
  private val stages = mutable.LinkedHashMap.empty[(Int, Int), (String, StageRec)]
  private val jobs = mutable.HashMap.empty[String, Int]
  /** Open SQL executions: id -> (job group, phase). */
  private val execs = mutable.HashMap.empty[Long, (String, String)]
  /** Open jobs outside any SQL execution: id -> (job group, phase, start ms). */
  private val bareJobs = mutable.HashMap.empty[Int, (String, String, Long)]
  private val intervals = mutable.ArrayBuffer.empty[(String, Interval)]
  /** How the docId attach joined the ranked keys back, per SQL plan seen. */
  val attachJoins: mutable.ArrayBuffer[String] = mutable.ArrayBuffer.empty[String]

  private def rec(stageId: Int, attempt: Int): Option[StageRec] =
    stageGroup.get(stageId).map { case (g, phase) =>
      stages.getOrElseUpdate((stageId, attempt), (g, new StageRec(phase)))._2
    }

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: SparkListenerSQLExecutionStart => synchronized {
      val phase = Phase.of(s.physicalPlanDescription, s.details)
      execs(s.executionId) = (s.jobGroupId.orNull, phase)
      if (phase == "analyze") {
        val plan = s.physicalPlanDescription
        if (plan.contains("BroadcastHashJoin")) attachJoins += "broadcast"
        else if (plan.contains("ShuffledHashJoin")) attachJoins += "shuffle_hash"
        else if (plan.contains("SortMergeJoin")) attachJoins += "sort_merge"
      }
    }
    case e: SparkListenerSQLExecutionEnd => synchronized {
      execs.remove(e.executionId).foreach { case (g, phase) =>
        if (g != null) intervals += g -> Interval(phase, e.time - PerfbenchBus.durationMs(e), e.time.toDouble)
      }
    }
    case _ =>
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val props = Option(e.properties)
    val g = props.map(_.getProperty("spark.jobGroup.id")).orNull
    if (g != null) {
      jobs(g) = jobs.getOrElse(g, 0) + 1
      val exec = props.flatMap(p => Option(p.getProperty("spark.sql.execution.id"))).map(_.toLong)
      val phase = exec.flatMap(execs.get).map(_._2)
        .getOrElse(Phase.of("", e.stageInfos.headOption.map(_.details).getOrElse("")))
      e.stageIds.foreach(s => stageGroup(s) = (g, phase))
      if (exec.isEmpty) bareJobs(e.jobId) = (g, phase, e.time)
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    bareJobs.remove(e.jobId).foreach { case (g, phase, t0) =>
      intervals += g -> Interval(phase, t0.toDouble, e.time.toDouble)
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    rec(e.stageId, e.stageAttemptId).foreach { r =>
      val ms = e.taskInfo.duration
      r.tasks += 1
      r.busyMs += ms
      r.taskMs += ms
      val m = e.taskMetrics
      if (m != null) {
        r.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
        r.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
      }
    }
  }

  /** Remove and return what was recorded under `group`: (jobs, stages, intervals). */
  def take(group: String): (Int, Seq[StageRec], Seq[Interval]) = synchronized {
    val mine = stages.collect { case (k, (g, r)) if g == group => k -> r }
    mine.keys.foreach(stages.remove)
    stageGroup.filterInPlace((_, gp) => gp._1 != group)
    val (in, out) = intervals.partition(_._1 == group)
    intervals.clear()
    intervals ++= out
    (jobs.remove(group).getOrElse(0), mine.values.toSeq, in.map(_._2).toSeq)
  }
}

/** One closed span: wall time plus the Spark work run under its job group
  * (children's work is recorded on the children, not here). */
final case class Span(
    id: Long,
    name: String,
    parent: Long,
    wallMs: Double,
    jobs: Int,
    stages: Seq[StageRec],
    intervals: Seq[Interval]) {
  def tasks: Int = stages.map(_.tasks).sum
  def busyMs: Long = stages.map(_.busyMs).sum
  def shuffleBytes: Long = stages.map(_.shuffleWriteBytes).sum
  def inPhase(p: String): Seq[StageRec] = stages.filter(_.phase == p)
  /** Wall time the span's engine work spent in phase `p`. */
  def phaseWallMs(p: String): Double = Interval.covered(intervals.filter(_.phase == p))
  /** Wall time covered by some phase: what is left is driver code between
    * Spark calls. */
  def coveredMs: Double = Interval.covered(intervals)
}

/** Span recorder. Off: `span` just runs its body. On: each span sets a
  * job group of its own, times its body, then drains the listener bus so
  * the span's Spark counts are complete before it is recorded. The drain
  * happens after the wall clock stops. */
final class Tracer(sc: SparkContext, val on: Boolean) {
  private val listener = if (on) { val l = new SpanListener; sc.addSparkListener(l); l } else null
  private var seq = 0L
  private val stack = mutable.Stack.empty[(Long, String)]
  val spans: mutable.ArrayBuffer[Span] = mutable.ArrayBuffer.empty[Span]

  private def group(id: Long): String = s"perfbench-$id"

  def span[T](name: String)(body: => T): T = {
    if (!on) return body
    seq += 1
    val id = seq
    val parent = stack.headOption
    sc.setJobGroup(group(id), name, interruptOnCancel = false)
    stack.push((id, name))
    val t0 = System.nanoTime()
    try body
    finally {
      val wall = (System.nanoTime() - t0) / 1e6
      stack.pop()
      parent match {
        case Some((pid, pname)) => sc.setJobGroup(group(pid), pname, interruptOnCancel = false)
        case None => sc.clearJobGroup()
      }
      PerfbenchBus.drain(sc)
      val (jobs, stages, intervals) = listener.take(group(id))
      spans += Span(id, name, parent.map(_._1).getOrElse(0L), wall, jobs, stages, intervals)
    }
  }

  /** Join strategies the docId attach was planned with (empty untraced). */
  def attachJoins: Seq[String] = if (listener == null) Nil else listener.attachJoins.toSeq

  /** Write every span as one JSON line (a no-op when tracing is off). */
  def write(path: String): Unit = if (on) {
    val out = new java.io.PrintWriter(path, "UTF-8")
    try spans.foreach { s =>
      val phases = s.stages.groupBy(_.phase).toSeq.sortBy(_._1).map { case (p, st) =>
        s""""$p":{"stages":${st.size},"tasks":${st.map(_.tasks).sum},"wall_ms":${s.phaseWallMs(p)},""" +
          s""""busy_ms":${st.map(_.busyMs).sum},"shuffle_write_bytes":${st.map(_.shuffleWriteBytes).sum},""" +
          s""""spill_bytes":${st.map(_.spillBytes).sum}}"""
      }.mkString("{", ",", "}")
      out.println(s"""{"id":${s.id},"parent":${s.parent},"name":"${s.name}","wall_ms":${s.wallMs},""" +
        s""""jobs":${s.jobs},"phases":$phases}""")
    } finally out.close()
  }

  def named(name: String): Seq[Span] = spans.filter(_.name == name).toSeq
  def childrenOf(id: Long): Seq[Span] = spans.filter(_.parent == id).toSeq
}
