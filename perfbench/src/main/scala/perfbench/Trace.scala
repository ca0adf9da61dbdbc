package perfbench

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** Task-metric totals of one completed Spark stage. */
final case class StageRec(
    tasks: Int, startMs: Long, endMs: Long,
    runMs: Long, cpuNs: Long, gcMs: Long, fetchWaitMs: Long,
    shuffleWriteBytes: Long) {
  def isShuffleMap: Boolean = shuffleWriteBytes > 0
}

/** One Spark job of an operation, with its completed stages. */
final case class JobRec(startMs: Long, endMs: Long, stages: Seq[StageRec])

/** Marker posted after each operation (see [[OpListener.drain]]). */
final case class DrainMarker(seq: Long) extends SparkListenerEvent

/** Collects job and stage events per job group. Every operation runs under
  * its own group, so the jobs and stages an operation caused are exactly
  * those filed under its group. */
final class OpListener extends SparkListener {
  private val jobGroup = mutable.HashMap.empty[Int, String]
  private val jobStart = mutable.HashMap.empty[Int, Long]
  private val jobStages = mutable.HashMap.empty[Int, Seq[Int]]
  private val jobEnd = mutable.HashMap.empty[Int, Long]
  private val stages = mutable.HashMap.empty[Int, StageRec]
  private var markerSeen = 0L
  private var markerSent = 0L

  private val tracked = mutable.HashSet.empty[Int] // stage ids of kept jobs

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    Option(e.properties).flatMap(p => Option(p.getProperty(OpListener.JobGroupKey)))
      .filter(_.startsWith(OpListener.GroupPrefix)).foreach { g =>
        jobGroup(e.jobId) = g
        jobStart(e.jobId) = e.time
        jobStages(e.jobId) = e.stageIds
        tracked ++= e.stageIds
      }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobEnd(e.jobId) = e.time
    notifyAll()
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val i = e.stageInfo
    val m = i.taskMetrics
    if (m != null && tracked.contains(i.stageId)) stages(i.stageId) = StageRec(
      i.numTasks,
      i.submissionTime.getOrElse(0L), i.completionTime.getOrElse(0L),
      m.executorRunTime, m.executorCpuTime, m.jvmGCTime,
      m.shuffleReadMetrics.fetchWaitTime, m.shuffleWriteMetrics.bytesWritten)
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case DrainMarker(s) => synchronized { markerSeen = s; notifyAll() }
    case _ =>
  }

  /** Block until every event posted before this call was delivered here,
    * and every job started under `group` has ended. Replaces a fixed sleep:
    * the wait is exactly as long as the bus needs. */
  def drain(sc: SparkContext, group: String, timeoutMs: Long = 60000L): Unit = {
    val seq = synchronized { markerSent += 1; markerSent }
    org.apache.spark.perfbench.ListenerBusAccess.post(sc, DrainMarker(seq))
    val deadline = System.currentTimeMillis() + timeoutMs
    synchronized {
      def pending: Boolean = markerSeen < seq ||
        jobGroup.exists { case (j, g) => g == group && !jobEnd.contains(j) }
      while (pending) {
        val left = deadline - System.currentTimeMillis()
        if (left <= 0) throw new IllegalStateException(
          s"listener did not drain within ${timeoutMs} ms for $group")
        wait(left)
      }
    }
  }

  /** Jobs of `group`, removed from the listener's state. */
  def take(group: String): Seq[JobRec] = synchronized {
    val ids = jobGroup.collect { case (j, g) if g == group => j }.toSeq.sorted
    val out = ids.map { j =>
      JobRec(jobStart(j), jobEnd.getOrElse(j, jobStart(j)), jobStages(j).flatMap(stages.get))
    }
    ids.foreach { j =>
      jobGroup.remove(j); jobStart.remove(j); jobEnd.remove(j)
      jobStages.remove(j).foreach(_.foreach { st => stages.remove(st); tracked.remove(st) })
    }
    out
  }
}

object OpListener {
  /** Job groups of timed operations; jobs of any other group are ignored. */
  final val GroupPrefix = "perfbench-op-"
  /** The local property `SparkContext.setJobGroup` sets. */
  final val JobGroupKey = "spark.jobGroup.id"
}

/** One traced interval. Times are epoch microseconds; `parent` is -1 for
  * an operation's root span. */
final case class Span(id: Int, parent: Int, op: Int, name: String, startUs: Long, endUs: Long) {
  def durUs: Long = endUs - startUs
}

/** In-memory span store; written once, when the run ends. While
  * `enabled` is off it runs bodies without recording anything. */
final class Tracer {
  var enabled = false
  private val baseMs = System.currentTimeMillis()
  private val baseNs = System.nanoTime()
  private val buf = mutable.ArrayBuffer.empty[Span]
  private var stack: List[Int] = Nil
  private var opId = -1

  def nowUs: Long = baseMs * 1000L + (System.nanoTime() - baseNs) / 1000L

  def spans: Seq[Span] = buf.toSeq

  private def add(parent: Int, name: String, startUs: Long, endUs: Long): Int = {
    val id = buf.length
    buf += Span(id, parent, opId, name, startUs, endUs)
    id
  }

  /** Root span of operation `op`; nested [[span]] calls parent to it. */
  def operation[A](op: Int, kind: String)(body: => A): A = {
    opId = op
    span(s"op:$kind")(body)
  }

  def span[A](name: String)(body: => A): A =
    if (!enabled) body
    else {
      val parent = stack.headOption.getOrElse(-1)
      val id = add(parent, name, 0L, 0L)
      stack = id :: stack
      val t0 = nowUs
      try body
      finally {
        stack = stack.tail
        buf(id) = buf(id).copy(startUs = t0, endUs = nowUs)
      }
    }

  /** Attach operation `op`'s Spark jobs, each beneath the innermost span
    * of that operation whose interval holds the job's start (stages beneath
    * their job), and, for a write, a `commit` span from the end of the last
    * job to the end of the span that ran it. */
  def attachJobs(op: Int, jobs: Seq[JobRec], commit: Boolean): Unit =
    if (enabled && jobs.nonEmpty) {
      val own = buf.filter(_.op == op).toSeq
      def holder(us: Long): Span = own.filter(s => s.startUs <= us && us <= s.endUs)
        .sortBy(s => s.endUs - s.startUs).headOption.getOrElse(own.head)
      val saved = opId
      opId = op
      jobs.foreach { j =>
        val jid = add(holder(j.startMs * 1000L).id, "spark.job", j.startMs * 1000L, j.endMs * 1000L)
        j.stages.foreach(s => add(jid, "spark.stage", s.startMs * 1000L, s.endMs * 1000L))
      }
      if (commit) {
        val lastEnd = jobs.map(_.endMs).max * 1000L
        val p = holder(lastEnd)
        add(p.id, "commit", math.min(lastEnd, p.endUs), p.endUs)
      }
      opId = saved
    }

  /** Self time per span name, in microseconds: each span's duration minus
    * the union of its children's intervals clipped to it. */
  def selfTimeUs: Map[String, Long] = {
    val children = buf.groupBy(_.parent)
    buf.toSeq.groupBy(_.name).map { case (name, ss) =>
      name -> ss.map { s =>
        val iv = children.getOrElse(s.id, Nil)
          .map(c => (math.max(c.startUs, s.startUs), math.min(c.endUs, s.endUs)))
          .filter { case (a, b) => b > a }.sortBy(_._1)
        var covered = 0L
        var curA = Long.MinValue
        var curB = Long.MinValue
        iv.foreach { case (a, b) =>
          if (a > curB) { covered += math.max(0L, curB - curA); curA = a; curB = b }
          else curB = math.max(curB, b)
        }
        covered += math.max(0L, curB - curA)
        math.max(0L, s.durUs - covered)
      }.sum
    }
  }

  def toJson(meta: Seq[(String, Any)]): String = {
    val spanJson = buf.map(s => Json.obj(Seq(
      "id" -> s.id, "parent" -> s.parent, "op" -> s.op, "name" -> s.name,
      "start_us" -> s.startUs, "end_us" -> s.endUs)))
    Json.obj(meta :+ ("spans" -> Json.Raw(spanJson.mkString("[\n", ",\n", "\n]"))))
  }
}
