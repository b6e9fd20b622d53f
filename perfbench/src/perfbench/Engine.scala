package perfbench

import scala.collection.mutable.ArrayBuffer
import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** Spark engine counters from a listener the benchmark installs. One
  * client thread starts every job, so an operation's own counters are the
  * change in the totals across it ([[Engine.delta]]).
  */
final class Engine(sc: SparkContext) extends SparkListener {
  import Engine.Acc
  private var total = new Acc
  private val intervals = ArrayBuffer.empty[(Long, Long)]

  sc.addSparkListener(this)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized { total.jobs += 1 }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    total.stages += 1
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val info = e.taskInfo
    intervals += ((info.launchTime, info.finishTime))
    val m = e.taskMetrics
    val a = total
    a.tasks += 1
    if (m != null) {
      a.runMs += m.executorRunTime
      a.cpuNs += m.executorCpuTime
      a.gcMs += m.jvmGCTime
      a.delayMs += math.max(0L, info.duration - m.executorRunTime -
        m.executorDeserializeTime - m.resultSerializationTime)
      a.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      a.spill += m.memoryBytesSpilled + m.diskBytesSpilled
      a.bytesRead += m.inputMetrics.bytesRead
    }
  }

  /** Block until the listener bus has delivered every posted event. */
  def drain(): Unit = org.apache.spark.PerfbenchBus.drain(sc)

  def reset(): Unit = synchronized { total = new Acc; intervals.clear() }

  /** A copy of the totals. */
  def sum(): Acc = synchronized(total.minus(new Acc))

  /** `body`'s own counters, when `on`: the change in the totals across it,
    * each side read after a drain. The drains lie outside every timing
    * that `body` takes.
    */
  def delta[T](on: Boolean)(body: => T): (T, Acc) =
    if (!on) (body, new Acc) else {
      drain(); val before = sum()
      val out = body
      drain(); (out, sum().minus(before))
    }

  /** Share of the wall time inside `windows` (disjoint, in ms) in which no
    * task ran.
    */
  def driverOnlyShare(windows: Seq[(Long, Long)]): Double = synchronized {
    val tasks = intervals.filter { case (s, e) => e > s }.sortBy(_._1)
    val merged = ArrayBuffer.empty[(Long, Long)]
    tasks.foreach { case (s, e) =>
      if (merged.nonEmpty && s <= merged.last._2)
        merged(merged.size - 1) = (merged.last._1, math.max(merged.last._2, e))
      else merged += ((s, e))
    }
    val covered = windows.map { case (ws, we) =>
      merged.iterator.map { case (s, e) => math.max(0L, math.min(e, we) - math.max(s, ws)) }.sum
    }.sum
    1.0 - covered.toDouble / math.max(1L, windows.map { case (s, e) => e - s }.sum)
  }
}

object Engine {
  final class Acc {
    var jobs, stages, tasks = 0L
    var runMs, cpuNs, gcMs, delayMs, shuffleWrite, spill, bytesRead = 0L

    def minus(o: Acc): Acc = {
      val d = new Acc
      d.jobs = jobs - o.jobs; d.stages = stages - o.stages; d.tasks = tasks - o.tasks
      d.runMs = runMs - o.runMs; d.cpuNs = cpuNs - o.cpuNs; d.gcMs = gcMs - o.gcMs
      d.delayMs = delayMs - o.delayMs; d.shuffleWrite = shuffleWrite - o.shuffleWrite
      d.spill = spill - o.spill; d.bytesRead = bytesRead - o.bytesRead
      d
    }

    def plus(o: Acc): Acc = minus(new Acc().minus(o))
  }
}
