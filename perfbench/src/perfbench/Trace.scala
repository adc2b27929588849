package perfbench

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** A timed span around one call into a layer. Times are `System.nanoTime`. */
final case class TraceSpan(id: Int, parent: Int, name: String, startNs: Long, endNs: Long) {
  def seconds: Double = (endNs - startNs) / 1e9
}

/** In-memory span recorder for the driver thread. Spans are written out
  * once, when the run ends.
  */
final class Tracer {
  private val done = Vector.newBuilder[TraceSpan]
  private var stack = List.empty[Int]
  private var nextId = 0

  def span[T](name: String)(body: => T): T = {
    val id = nextId
    nextId += 1
    val parent = stack.headOption.getOrElse(-1)
    stack = id :: stack
    val t0 = System.nanoTime()
    try body
    finally {
      done += TraceSpan(id, parent, name, t0, System.nanoTime())
      stack = stack.tail
    }
  }

  def spans: Vector[TraceSpan] = done.result().sortBy(_.id)

  /** Self time of each span: its duration minus what its children cover. */
  def selfSeconds: Vector[(TraceSpan, Double)] = {
    val all = spans
    val childSum = all.groupMapReduce(_.parent)(_.seconds)(_ + _)
    all.map(s => s -> (s.seconds - childSum.getOrElse(s.id, 0.0)))
  }

  def toJson: String = selfSeconds.map { case (s, self) =>
    s"""{"id":${s.id},"parent":${s.parent},"name":"${s.name}","start_ns":${s.startNs},""" +
      s""""end_ns":${s.endNs},"seconds":${s.seconds},"self_seconds":$self}"""
  }.mkString("[", ",\n", "]")
}

/** Stage, task and shuffle metrics of one measured interval, and the
  * planning time of the SQL executions in it.
  */
final case class StageWindow(
    stages: Int, tasks: Int, exchanges: Int, busyS: Double, busyInWindowS: Double,
    writeMb: Double, readMb: Double, spillMb: Double,
    maxTaskS: Double, medianTaskS: Double, gcS: Double,
    taskCpuS: Double, taskRunS: Double, planS: Double)

/** A listener the benchmark registers on its own session. It records only
  * while armed, so set-up and check jobs stay out of the numbers.
  */
final class StageProbe extends SparkListener with QueryExecutionListener {
  private final case class Stage(startMs: Long, endMs: Long, tasks: Int, shuffle: Boolean,
      write: Long, read: Long, spill: Long)
  private val stages = scala.collection.mutable.ArrayBuffer.empty[Stage]
  private val taskS = scala.collection.mutable.ArrayBuffer.empty[Double]
  private var gcMs, cpuNs, runMs = 0L
  private var planMs = 0L
  @volatile private var armed = false

  def arm(): Unit = synchronized {
    stages.clear(); taskS.clear(); gcMs = 0; cpuNs = 0; runMs = 0; planMs = 0
    armed = true
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = if (armed) synchronized {
    val i = e.stageInfo
    val m = i.taskMetrics
    stages += Stage(i.submissionTime.getOrElse(0L), i.completionTime.getOrElse(0L), i.numTasks,
      org.apache.spark.perfbenchbridge.Bus.writesShuffle(i),
      if (m == null) 0 else m.shuffleWriteMetrics.bytesWritten,
      if (m == null) 0 else m.shuffleReadMetrics.totalBytesRead,
      if (m == null) 0 else m.memoryBytesSpilled + m.diskBytesSpilled)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = if (armed) synchronized {
    taskS += e.taskInfo.duration / 1e3
    val m = e.taskMetrics
    if (m != null) { gcMs += m.jvmGCTime; cpuNs += m.executorCpuTime; runMs += m.executorRunTime }
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    if (armed) synchronized { planMs += qe.tracker.phases.values.map(_.durationMs).sum }

  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()

  /** Time at least one stage was active, over intervals clipped to [from, to]. */
  private def busyMs(from: Long, to: Long): Long = {
    var busy = 0L
    var end = Long.MinValue
    for (s <- stages.sortBy(_.startMs)) {
      val (a, b) = (math.max(s.startMs, from), math.min(s.endMs, to))
      if (a > end) { busy += math.max(0L, b - a); end = b }
      else if (b > end) { busy += b - end; end = b }
    }
    busy
  }

  /** Disarm and summarize the interval [fromMs, toMs] (wall clock). Call
    * after the listener bus has drained.
    */
  def collect(fromMs: Long, toMs: Long): StageWindow = synchronized {
    armed = false
    val mb = 1024.0 * 1024.0
    val sortedTasks = taskS.sorted
    StageWindow(
      stages = stages.size, tasks = stages.iterator.map(_.tasks).sum,
      exchanges = stages.count(_.shuffle),
      busyS = busyMs(Long.MinValue, Long.MaxValue) / 1e3, busyInWindowS = busyMs(fromMs, toMs) / 1e3,
      writeMb = stages.iterator.map(_.write).sum / mb,
      readMb = stages.iterator.map(_.read).sum / mb,
      spillMb = stages.iterator.map(_.spill).sum / mb,
      maxTaskS = sortedTasks.lastOption.getOrElse(0.0),
      medianTaskS = if (sortedTasks.isEmpty) 0.0 else sortedTasks(sortedTasks.size / 2),
      gcS = gcMs / 1e3, taskCpuS = cpuNs / 1e9, taskRunS = runMs / 1e3, planS = planMs / 1e3)
  }
}
