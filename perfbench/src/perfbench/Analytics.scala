package perfbench

import java.security.MessageDigest
import scala.collection.mutable.ArrayBuffer
import org.apache.spark.sql.DataFrame
import graft.queries.Registry

/** Construction-heavy registry queries: each is built (eager Spark jobs
  * run here), planned, and executed into the noop sink, in a seed-permuted
  * order.
  */
final class Analytics(ctx: Ctx, dataDir: java.nio.file.Path) extends Job {
  import ctx.{engine, spark, tracer}

  val queries: Seq[String] = new scala.util.Random(ctx.seed).shuffle(Analytics.queries)
  ctx.inputs += "query_order" -> queries.mkString(",")

  private val phases = Seq("construct", "plan", "execute")
  private val passS = ArrayBuffer.empty[Double]
  private val perQuery = (for (q <- queries; p <- phases) yield (q, p) -> ArrayBuffer.empty[Double]).toMap
  private val checksums = scala.collection.mutable.Map.empty[String, String]
  private var measured = false

  /** Spark jobs per phase of the measured passes of a traced run. */
  private val jobs = scala.collection.mutable.Map("construct" -> 0L, "execute" -> 0L)
  private def counted[T](phase: String)(body: => T): T = {
    val (out, d) = engine.delta(tracer.enabled)(body)
    if (measured) jobs(phase) += d.jobs
    out
  }

  private def checksum(df: DataFrame): String = {
    val rows = df.collect().map(_.toString).sorted
    val md = MessageDigest.getInstance("SHA-256")
    rows.foreach(r => md.update(r.getBytes("UTF-8")))
    graft.core.Hashers.hex(md.digest()) + s"/${rows.length}"
  }

  private def pass(): Double = {
    val t0 = System.nanoTime()
    var total = 0.0
    var ok = true
    tracer.span("bench", "analytics.pass", tracer.newOp()) {
      queries.foreach { q =>
        val op = tracer.newOp()
        var t = Map.empty[String, Double]
        val built = counted("construct")(ctx.op(s"$q.construct") {
          tracer.span("queries", s"$q.construct", op)(Registry.all(q).build(spark, dataDir.toString))
        }(_ => None))
        built.foreach { case (df, s1) =>
          t += "construct" -> s1
          ctx.op(s"$q.plan")(tracer.span("queries", s"$q.plan", op)(df.queryExecution.executedPlan))(_ => None)
            .foreach(r => t += "plan" -> r._2)
          counted("execute")(
            ctx.op(s"$q.execute")(tracer.span("queries", s"$q.execute", op)(ctx.noop(df)))(_ => None))
            .foreach(r => t += "execute" -> r._2)
          // the checksum re-executes the plan, outside every timing
          val same = ctx.op(s"$q.checksum", timed = false)(checksum(df)) { c =>
            val prev = checksums.getOrElseUpdate(q, c)
            if (prev != c) Some(s"result checksum $c differs from $prev") else None
          }
          if (same.isEmpty) t = Map.empty
        }
        if (t.size == phases.size) {
          total += t.values.sum
          if (measured) phases.foreach(p => perQuery((q, p)) += t(p))
        } else ok = false
      }
    }
    if (ok && measured) passS += total
    (System.nanoTime() - t0) / 1e9
  }

  def warmIteration(): Double = pass()
  def iteration(): Unit = { measured = true; pass() }

  def throughput: Seq[Double] = passS.map(queries.size / _).toSeq
  def opMs: Seq[Double] = queries.flatMap(q =>
    perQuery((q, "construct")).indices.map(i => phases.map(p => perQuery((q, p))(i)).sum * 1e3))

  def detail: Seq[(String, Double, String)] = {
    ctx.samples += "analytics.pass" -> passS.size
    Seq(("analytics_pass_s", Stats.median(passS.toSeq), "s"))
  }

  def layerMetrics(): Seq[(String, Double, String)] = {
    val passes = math.max(1, passS.size)
    def med(q: String, p: String) = Stats.median(perQuery((q, p)).toSeq)
    phases.map(p => (s"queries.${p}_s", queries.map(med(_, p)).sum, "s")) ++
      Seq(("queries.construct_jobs", jobs("construct").toDouble / passes, "count"),
        ("queries.execute_jobs", jobs("execute").toDouble / passes, "count")) ++
      (for (q <- queries.sorted; p <- phases) yield (s"queries.$q.${p}_s", med(q, p), "s"))
  }
}

object Analytics {
  val queries: Seq[String] = Seq("q_text_bradley_terry", "q_text_entropy")
}
