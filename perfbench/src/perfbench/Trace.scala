package perfbench

import scala.collection.mutable
import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** One timed region of the benchmark. `group` is the Spark job group
  * every job launched inside the span (and not inside a child) carries. */
final case class Span(id: Int, name: String, parent: Int, runId: String,
                      startNs: Long, endNs: Long, cpuNs: Long = 0L) {
  def seconds: Double = (endNs - startNs) / 1e9
  /** Process CPU time over the span ÷ (wall × cores). */
  def cpuFrac(cores: Int): Double = if (endNs <= startNs) 0 else cpuNs.toDouble / ((endNs - startNs) * cores)
  def group: String = s"$runId/$id"
}

object Span {
  /** Wall time of `s` not covered by any of `children` (children may nest
    * or overlap each other; the covered part is their union, clipped to
    * the parent's interval). */
  def selfSeconds(s: Span, children: Seq[Span]): Double = {
    val iv = children.map(c => (math.max(c.startNs, s.startNs), math.min(c.endNs, s.endNs)))
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var covered = 0L; var curA = 0L; var curB = Long.MinValue
    iv.foreach { case (a, b) =>
      if (a > curB) { if (curB > curA) covered += curB - curA; curA = a; curB = b }
      else curB = math.max(curB, b)
    }
    if (curB > curA) covered += curB - curA
    (s.endNs - s.startNs - covered) / 1e9
  }
}

/** Per-job-group totals from the listener. */
final case class GroupMetrics(jobs: Int = 0, tasks: Long = 0, shuffleWrite: Long = 0,
                              spill: Long = 0, gcMs: Long = 0, bytesRead: Long = 0,
                              taskDurations: Map[Int, Vector[Long]] = Map.empty) {
  def +(o: GroupMetrics): GroupMetrics = GroupMetrics(jobs + o.jobs, tasks + o.tasks,
    shuffleWrite + o.shuffleWrite, spill + o.spill, gcMs + o.gcMs, bytesRead + o.bytesRead,
    taskDurations ++ o.taskDurations)
  def shuffleMb: Double = shuffleWrite / 1e6
  /** max÷median task duration of the worst stage with at least `minTasks`
    * tasks (1.0 when no stage is that wide). */
  def taskSkew(minTasks: Int): Double = {
    val per = taskDurations.values.filter(_.size >= minTasks).map { d =>
      val med = Stats.median(d.map(_.toDouble))
      if (med <= 0) 1.0 else d.max / med
    }
    if (per.isEmpty) 1.0 else per.max
  }
}

/** Collects job/task metrics keyed by the job group of the span that
  * launched them. Registered once per SparkContext. */
final class GroupListener extends SparkListener {
  private val stageGroup = mutable.HashMap.empty[Int, String]
  private val byGroup = mutable.HashMap.empty[String, GroupMetrics]

  private def upd(g: String)(f: GroupMetrics => GroupMetrics): Unit =
    byGroup.update(g, f(byGroup.getOrElse(g, GroupMetrics())))

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val g = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      .getOrElse("")
    e.stageIds.foreach(stageGroup(_) = g)
    upd(g)(m => m.copy(jobs = m.jobs + 1))
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val g = stageGroup.getOrElse(e.stageId, "")
    val tm = e.taskMetrics
    val dur = if (e.taskInfo != null) e.taskInfo.duration else 0L
    upd(g) { m =>
      val key = e.stageId * 1000 + e.stageAttemptId
      m.copy(tasks = m.tasks + 1,
        shuffleWrite = m.shuffleWrite + (if (tm == null) 0 else tm.shuffleWriteMetrics.bytesWritten),
        spill = m.spill + (if (tm == null) 0 else tm.memoryBytesSpilled + tm.diskBytesSpilled),
        gcMs = m.gcMs + (if (tm == null) 0 else tm.jvmGCTime),
        bytesRead = m.bytesRead + (if (tm == null) 0 else tm.inputMetrics.bytesRead),
        taskDurations = m.taskDurations.updated(key,
          m.taskDurations.getOrElse(key, Vector.empty) :+ dur))
    }
  }

  def metrics(group: String): GroupMetrics = synchronized(byGroup.getOrElse(group, GroupMetrics()))
}

/** In-memory span recorder for the single driver thread. Every span sets
  * its own job group so the listener can attribute Spark work to it. */
final class Tracer(sc: SparkContext, val runId: String) {
  val listener = new GroupListener
  sc.addSparkListener(listener)
  private val done = mutable.ArrayBuffer.empty[Span]
  private var stack: List[(Int, String, Long, Long)] = Nil
  private var nextId = 0
  private val os = java.lang.management.ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]

  def span[T](name: String)(body: => T): T = {
    val id = nextId; nextId += 1
    val parent = stack.headOption.map(_._1).getOrElse(-1)
    stack = (id, name, System.nanoTime(), os.getProcessCpuTime) :: stack
    sc.setJobGroup(s"$runId/$id", name)
    try body
    finally {
      val (_, _, t0, c0) = stack.head
      stack = stack.tail
      done += Span(id, name, parent, runId, t0, System.nanoTime(), os.getProcessCpuTime - c0)
      stack.headOption match {
        case Some((pid, pname, _, _)) => sc.setJobGroup(s"$runId/$pid", pname)
        case None => sc.clearJobGroup()
      }
    }
  }

  def spans: Seq[Span] = done.toSeq
  def last(name: String): Span = done.reverseIterator.find(_.name == name)
    .getOrElse(throw new NoSuchElementException(name))
  def all(name: String): Seq[Span] = done.filter(_.name == name).toSeq
  def children(s: Span): Seq[Span] = done.filter(_.parent == s.id).toSeq
  /** Spans named `name` recorded inside `s` (one driver thread: inside in
    * time means nested). */
  def within(s: Span, name: String): Seq[Span] =
    done.filter(x => x.name == name && x.id != s.id && x.startNs >= s.startNs && x.endNs <= s.endNs).toSeq
  def selfSeconds(s: Span): Double = Span.selfSeconds(s, children(s))

  /** Listener totals of `s` and all its descendants (waits for delivery). */
  def metrics(s: Span): GroupMetrics = {
    org.apache.spark.BusDrain.drain(sc)
    def rec(x: Span): GroupMetrics = children(x).foldLeft(listener.metrics(x.group))(_ + rec(_))
    rec(s)
  }
}
