package perfbench

import java.nio.file.Path
import scala.collection.mutable
import scala.util.control.NonFatal
import org.apache.spark.sql.SparkSession

/** What every job of a run shares: the session, the engine listener, the
  * tracer, the run's scratch directory, and the operation tally.
  */
final class Ctx(val spark: SparkSession, val engine: Engine, val tracer: Tracer,
    val work: Path, val seed: Long, val injectFailure: Boolean) {
  var attempted = 0L
  var failed = 0L
  val failures = mutable.ArrayBuffer.empty[String]
  /** Sample counts per timed series, for the run record. */
  val samples = mutable.LinkedHashMap.empty[String, Int]
  /** Input properties the run depends on, for the run record. */
  val inputs = mutable.LinkedHashMap.empty[String, Any]
  /** Wall windows (epoch ms) of the timed operations that succeeded. */
  val windows = mutable.ArrayBuffer.empty[(Long, Long)]

  /** Run one operation. Its wall time is returned only when it completes
    * and `check` finds nothing wrong; a failed operation is counted and
    * never timed. An operation that only checks (`timed = false`) leaves
    * no window.
    */
  def op[T](what: String, timed: Boolean = true)(body: => T)(
      check: T => Option[String]): Option[(T, Double)] = {
    attempted += 1
    val fromMs = System.currentTimeMillis()
    val t0 = System.nanoTime()
    val out = try Right(body) catch { case NonFatal(e) => Left(s"$what threw: $e") }
    val secs = (System.nanoTime() - t0) / 1e9
    val toMs = System.currentTimeMillis()
    val problem = out match {
      case Left(msg) => Some(msg)
      case Right(v) =>
        try check(v).map(m => s"$what: $m")
        catch { case NonFatal(e) => Some(s"$what check threw: $e") }
    }
    problem match {
      case Some(msg) =>
        failed += 1
        if (failures.size < 20) failures += msg
        System.err.println(s"[perfbench] FAILED $msg")
        None
      case None =>
        if (timed) windows += ((fromMs, toMs))
        out.toOption.map(v => (v, secs))
    }
  }

  def noop(df: org.apache.spark.sql.DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  def deleteTree(p: Path): Unit = if (java.nio.file.Files.exists(p)) {
    val walk = java.nio.file.Files.walk(p)
    try walk.sorted(java.util.Comparator.reverseOrder())
      .forEach(f => java.nio.file.Files.deleteIfExists(f): Unit)
    finally walk.close()
  }
}

/** A workload's job: warm up, then run timed iterations, then report. */
trait Job {
  /** One iteration whose samples are not kept; returns its wall seconds. */
  def warmIteration(): Double
  /** One measured iteration. */
  def iteration(): Unit
  /** Items per second of the workload's batch work, one sample per iteration. */
  def throughput: Seq[Double]
  /** Wall times (ms) of the workload's unit operations. */
  def opMs: Seq[Double]
  /** The workload's own named metrics. */
  def detail: Seq[(String, Double, String)]
  /** Per-layer metrics; called once after the measured loop of a traced run. */
  def layerMetrics(): Seq[(String, Double, String)]
}
