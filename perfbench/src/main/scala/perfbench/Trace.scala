package perfbench

import scala.collection.mutable

import org.apache.spark.{PerfbenchBus, PerfbenchMarker, SparkContext}
import org.apache.spark.scheduler._

/** One call into a layer: `layer` is the module the call enters (core,
  * sources, filter, catalyst, spark, entry); `parent` is -1 for a call the
  * op makes directly. */
final case class Span(id: Int, parent: Int, op: Int, layer: String,
    name: String, startNs: Long, endNs: Long) {
  def durNs: Long = endNs - startNs
}

/** In-memory span recorder for the single client thread. Off, a span is
  * one boolean test around its body. */
final class Tracer {
  var on = false
  val spans = mutable.ArrayBuffer.empty[Span]
  private var nextId = 0
  private var stack: List[Int] = Nil
  var op = -1

  def span[T](layer: String, name: String)(body: => T): T =
    if (!on) body
    else {
      val id = nextId
      nextId += 1
      val parent = stack.headOption.getOrElse(-1)
      stack = id :: stack
      val t0 = System.nanoTime()
      try body
      finally {
        spans += Span(id, parent, op, layer, name, t0, System.nanoTime())
        stack = stack.tail
      }
    }

  /** Forget the spans of the op that just ran. */
  def dropOp(id: Int): Unit =
    while (spans.nonEmpty && spans.last.op == id) spans.remove(spans.size - 1)

  /** Self time of every span: its duration minus the time its children
    * cover (children of one thread never overlap). */
  def selfNs(ofOp: Int): Seq[(Span, Long)] = {
    val mine = spans.filter(_.op == ofOp)
    val childNs = mine.groupMapReduce(_.parent)(_.durNs)(_ + _)
    mine.map(s => s -> (s.durNs - childNs.getOrElse(s.id, 0L))).toSeq
  }
}

/** Scheduler counters of one job group. */
final class GroupStats {
  var jobsStarted = 0
  var jobsEnded = 0
  val stagesSubmitted = mutable.Set.empty[(Int, Int)]
  val stagesCompleted = mutable.Set.empty[(Int, Int)]
  var tasksStarted = 0L
  var tasksEnded = 0L
  var tasksFailed = 0L
  var taskRunMs = 0L
  var shuffleWriteBytes = 0L
  var shuffleReadBytes = 0L
  var spillBytes = 0L
  var recordsRead = 0L
  val stageIntervalsMs = mutable.ArrayBuffer.empty[(Long, Long)]

  def complete: Boolean = jobsStarted == jobsEnded &&
    stagesSubmitted == stagesCompleted && tasksStarted == tasksEnded

  /** Milliseconds of [fromMs, toMs] that no stage of the group covers:
    * time the op waited on the driver. */
  def driverMs(fromMs: Long, toMs: Long): Long = toMs - fromMs - stageCoverMs(fromMs, toMs)

  private def stageCoverMs(fromMs: Long, toMs: Long): Long = {
    var covered = 0L
    var reach = fromMs
    stageIntervalsMs.map { case (a, b) => (math.max(a, fromMs), math.min(b, toMs)) }
      .filter { case (a, b) => b > a }.sortBy(_._1).foreach { case (a, b) =>
        if (b > reach) { covered += b - math.max(a, reach); reach = b }
      }
    covered
  }
}

/** Collects the scheduler counters of the job group it is `watching`.
  * [[drain]] posts a marker behind the op's events and waits for it, then
  * until every job, stage and task the group started has reported its
  * end — no fixed sleep. */
final class OpListener(sc: SparkContext) extends SparkListener {
  @volatile var watching = ""
  private val groups = mutable.HashMap.empty[String, GroupStats]
  private val stageGroup = mutable.HashMap.empty[Int, String]
  private val jobGroup = mutable.HashMap.empty[Int, String]
  private var delivered = -1L
  private var posted = -1L

  private def stats(g: String) = groups.getOrElseUpdate(g, new GroupStats)
  private def groupOf(p: java.util.Properties): Option[String] =
    Option(p).flatMap(x => Option(x.getProperty("spark.jobGroup.id"))).filter(_ == watching)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    groupOf(e.properties).foreach { g =>
      jobGroup(e.jobId) = g
      e.stageIds.foreach(stageGroup(_) = g)
      stats(g).jobsStarted += 1
    }
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobGroup.remove(e.jobId).foreach(stats(_).jobsEnded += 1)
    notifyAll()
  }
  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
    val i = e.stageInfo
    groupOf(e.properties).orElse(stageGroup.get(i.stageId)).foreach { g =>
      stageGroup(i.stageId) = g
      stats(g).stagesSubmitted += ((i.stageId, i.attemptNumber()))
    }
  }
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val i = e.stageInfo
    stageGroup.get(i.stageId).foreach { g =>
      val s = stats(g)
      s.stagesCompleted += ((i.stageId, i.attemptNumber()))
      for (a <- i.submissionTime; b <- i.completionTime) s.stageIntervalsMs += ((a, b))
    }
    notifyAll()
  }
  override def onTaskStart(e: SparkListenerTaskStart): Unit = synchronized {
    stageGroup.get(e.stageId).foreach(stats(_).tasksStarted += 1)
  }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    stageGroup.get(e.stageId).foreach { g =>
      val s = stats(g)
      s.tasksEnded += 1
      if (!e.taskInfo.successful) s.tasksFailed += 1
      val m = e.taskMetrics
      if (m != null) {
        s.taskRunMs += m.executorRunTime
        s.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
        s.shuffleReadBytes += m.shuffleReadMetrics.totalBytesRead
        s.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
        s.recordsRead += m.inputMetrics.recordsRead
      }
    }
    notifyAll()
  }
  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case PerfbenchMarker(id) => synchronized { delivered = id; notifyAll() }
    case _ =>
  }

  /** The group's counters once they are confirmed complete, or why they
    * could not be confirmed within `timeoutMs`. */
  def drain(group: String, timeoutMs: Long = 60000L): Either[String, GroupStats] = {
    val id = synchronized { posted += 1; posted }
    PerfbenchBus.post(sc, PerfbenchMarker(id))
    synchronized {
      val deadline = System.currentTimeMillis() + timeoutMs
      def done = delivered >= id && groups.get(group).forall(_.complete)
      while (!done && System.currentTimeMillis() < deadline)
        wait(math.max(1L, deadline - System.currentTimeMillis()))
      if (!done) {
        val s = groups.getOrElse(group, new GroupStats)
        Left(s"counters of $group unconfirmed: jobs ${s.jobsEnded}/${s.jobsStarted}, " +
          s"stages ${s.stagesCompleted.size}/${s.stagesSubmitted.size}, " +
          s"tasks ${s.tasksEnded}/${s.tasksStarted}")
      } else Right(groups.remove(group).getOrElse(new GroupStats))
    }
  }
}
