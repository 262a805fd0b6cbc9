package perfbench

import scala.collection.mutable
import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}

/** One timed call into a layer. `request` groups the spans of one request
  * or operation; `parent` is the span that was open when this one started.
  */
final case class Span(
    id: Int,
    name: String,
    layer: String,
    request: Long,
    parent: Option[Int],
    startNs: Long,
    endNs: Long
) {
  def durNs: Long = endNs - startNs
}

object Span {

  /** Self time: the span's duration minus the part of its interval that its
    * children cover (overlapping children are counted once).
    */
  def selfNs(span: Span, all: Seq[Span]): Long = {
    val kids = all
      .filter(_.parent.contains(span.id))
      .map(k => (k.startNs max span.startNs, k.endNs min span.endNs))
      .filter { case (s, e) => e > s }
      .sortBy(_._1)
    var covered = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    for ((s, e) <- kids) {
      if (s > curE) {
        if (curE > curS) covered += curE - curS
        curS = s
        curE = e
      } else curE = curE max e
    }
    if (curE > curS) covered += curE - curS
    span.durNs - covered
  }
}

/** Task metrics summed over the jobs of one job group. */
final class TaskSums {
  var jobs = 0L
  var tasks = 0L
  var runMs = 0L
  var cpuNs = 0L
  var gcMs = 0L
  var shuffleWriteBytes = 0L
  var fetchWaitMs = 0L
  var spillBytes = 0L
  var bytesRead = 0L
  var bytesWritten = 0L

  def +=(o: TaskSums): Unit = {
    jobs += o.jobs; tasks += o.tasks; runMs += o.runMs; cpuNs += o.cpuNs
    gcMs += o.gcMs; shuffleWriteBytes += o.shuffleWriteBytes
    fetchWaitMs += o.fetchWaitMs; spillBytes += o.spillBytes; bytesRead += o.bytesRead
    bytesWritten += o.bytesWritten
  }
}

/** Sums task metrics by the job group that was set on the driver thread
  * when each job started. Byte counts are kept raw.
  */
final class GroupListener extends SparkListener {
  private val stageGroup = mutable.Map.empty[Int, String]
  private val sums = mutable.Map.empty[String, TaskSums]

  private def sumsOf(g: String) = sums.getOrElseUpdate(g, new TaskSums)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      .foreach { g =>
        e.stageIds.foreach(stageGroup(_) = g)
        val s = sumsOf(g)
        s.jobs += 1
      }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    if (m != null) stageGroup.get(e.stageId).foreach { g =>
      val s = sumsOf(g)
      s.tasks += 1
      s.runMs += m.executorRunTime
      s.cpuNs += m.executorCpuTime
      s.gcMs += m.jvmGCTime
      s.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
      s.fetchWaitMs += m.shuffleReadMetrics.fetchWaitTime
      s.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
      s.bytesRead += m.inputMetrics.bytesRead
      s.bytesWritten += m.outputMetrics.bytesWritten
    }
  }

  def of(group: String): TaskSums = synchronized(sums.getOrElse(group, new TaskSums))
}

/** Records spans around calls into the engine; made only for a traced run.
  * Outside [[recording]], [[span]] only runs its body. While recording,
  * each span gets its own Spark job group, so the [[GroupListener]]
  * attributes every job to the innermost open span.
  */
final class Tracer(sc: SparkContext) {
  private val done = mutable.ArrayBuffer.empty[Span]
  private val open = mutable.Stack.empty[Int]
  private var nextId = 0
  private var request = 0L
  private var on = false

  private val listener = new GroupListener
  sc.addSparkListener(listener)

  def spans: Seq[Span] = done.toSeq

  private def setGroup(id: Option[Int]): Unit = id match {
    case Some(i) => sc.setJobGroup(Tracer.group(i), "perfbench span", interruptOnCancel = false)
    case None => sc.clearJobGroup()
  }

  /** Runs `f` as request `id`: spans opened inside carry that id. */
  def inRequest[A](id: Long)(f: => A): A = {
    val prev = request
    request = id
    try f finally request = prev
  }

  /** Runs `f` with span recording on. */
  def recording[A](f: => A): A = {
    on = true
    try f finally on = false
  }

  def span[A](name: String, layer: String)(f: => A): A =
    if (!on) f
    else {
      val id = nextId
      nextId += 1
      val parent = open.headOption
      open.push(id)
      setGroup(Some(id))
      val t0 = System.nanoTime()
      try f
      finally {
        val t1 = System.nanoTime()
        open.pop()
        setGroup(parent)
        done += Span(id, name, layer, request, parent, t0, t1)
      }
    }

  /** Task sums of one span's own jobs (children's jobs excluded). */
  def sums(s: Span): TaskSums = {
    org.apache.spark.PerfbenchBridge.drainListeners(sc)
    listener.of(Tracer.group(s.id))
  }
}

object Tracer {
  def group(spanId: Int): String = s"perfbench-span-$spanId"
}
