package perfbench

import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}
import scala.util.control.NonFatal
import org.apache.spark.sql.SparkSession

/** One benchmark run: a fresh JVM, one workload, one seed, one client
  * thread. Prints the result object as the last line of stdout.
  *
  *   perfbench.Main --workload <hashdb|curate|analytics> --seed <n>
  *     --seconds <s> --trace <0|1> --work <dir> --record <file>
  *     --spans <file> [--inject-failure 1]
  *
  * `--workload train` runs one cold iteration of every workload and
  * prints nothing: the build records the classes it loads.
  */
object Main {

  /** How to set a workload up. A traced run also runs the `probe`
    * workload once, after its own measured loop: one warm-up and one
    * measured iteration, for the per-layer metrics of a workload that is
    * not in the benchmark's set.
    */
  final case class Plan(job: Ctx => Job, probe: Option[String] = None)

  /** The first iteration in a fresh JVM costs 2–3× a warm one, and the
    * second is within 10–20% of the ones after. Iterations keep getting a
    * little faster for many more, so every run measures the same positions
    * on that curve: one untimed warm-up iteration, then the measured loop,
    * which stops at `MinIterations` once `--seconds` have passed. One
    * measured iteration keeps a full set of runs inside the time budget in
    * perfbench/README.md. A traced run measures two, one traced and one
    * untraced.
    */
  val MinIterations = 1

  def plan(workload: String): Plan = workload match {
    case "hashdb" => Plan(ctx => {
      val w = Gen.words(ctx.work.resolve("gen"), ctx.seed, linesA = 24000, linesB = 9600,
        repeatShare = 0.25, overlapShare = 0.35)
      new HashDb(ctx, w, lookupsPerCycle = 48)
    })
    case "curate" => Plan(ctx => {
      val c = Gen.corpus(ctx.spark, ctx.work.resolve("gen"), ctx.seed, docs = 10000,
        copyDocs = 5000, nearDupShare = 0.10)
      new Curate(ctx, c)
    }, probe = Some("analytics"))
    case "analytics" => Plan(ctx => {
      val dir = ctx.work.resolve("gen")
      Gen.corpus(ctx.spark, dir, ctx.seed, docs = 500, copyDocs = 500, nearDupShare = 0.10)
      new Analytics(ctx, dir)
    })
    case other => throw new IllegalArgumentException(s"unknown workload: $other")
  }

  /** One warm-up and one measured iteration of `workload`; its named and
    * per-layer metrics. Its inputs are generated afresh in the run's `gen`
    * directory, which the calling workload no longer reads.
    */
  private def probe(ctx: Ctx, workload: String): Seq[(String, Double, String)] = {
    val dir = ctx.work.resolve("gen")
    ctx.deleteTree(dir); Files.createDirectories(dir)
    val job = plan(workload).job(ctx)
    job.warmIteration()
    job.iteration()
    job.detail ++ job.layerMetrics()
  }

  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = opt("workload")
    val seed = opt.getOrElse("seed", "1").toLong
    val seconds = opt.getOrElse("seconds", "1").toDouble
    val trace = opt.get("trace").contains("1")
    val work = Paths.get(opt("work")).toAbsolutePath
    // one local[n] process; n capped so a large box stays a small run
    val cpus = math.min(Runtime.getRuntime.availableProcessors, 8)

    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.autoBroadcastJoinThreshold", "32m")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .config("spark.hadoop.hadoop.tmp.dir", work.resolve("hadoop-tmp").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val sessionS = ManagementFactory.getRuntimeMXBean.getUptime / 1e3

    val engine = new Engine(spark.sparkContext)
    val tracer = new Tracer(trace)
    val ctx = new Ctx(spark, engine, tracer, work, seed, opt.get("inject-failure").contains("1"))
    tracer.on = false
    if (workload == "train") {
      // one cold iteration of every workload: the classes a run loads
      Seq("hashdb", "curate", "analytics").foreach { w =>
        Files.createDirectories(work.resolve("gen"))
        plan(w).job(ctx).warmIteration()
        ctx.deleteTree(work.resolve("gen"))
      }
      spark.stop()
      System.exit(0)
    }
    val p = plan(workload)

    // input generation three times over; the median is the set-up share
    val genS = (0 until 3).map { k =>
      val dir = work.resolve("gen")
      ctx.deleteTree(dir); Files.createDirectories(dir)
      val t0 = System.nanoTime()
      val job = p.job(ctx)
      ((System.nanoTime() - t0) / 1e9, job)
    }
    val job = genS.last._2
    ctx.inputs ++= Seq("workload" -> workload, "seed" -> seed)

    val warm = Seq(job.warmIteration())
    val setupS = sessionS + Stats.median(genS.map(_._1)) + warm.sum

    engine.drain(); engine.reset(); ctx.windows.clear()
    // heap still in use after a full collection at the end of each measured
    // iteration (outside every timing); the peak over the iterations
    val heap = ManagementFactory.getMemoryMXBean
    var heapMb = 0.0
    val t0 = System.nanoTime()
    val walls = scala.collection.mutable.ArrayBuffer.empty[(Boolean, Double)]
    val minIterations = if (trace) 2 else MinIterations
    while (walls.size < minIterations || (System.nanoTime() - t0) / 1e9 < seconds) {
      // a traced run alternates traced and untraced iterations; the gap
      // between the two medians is the tracing overhead
      tracer.on = trace && walls.size % 2 == 0
      val i0 = System.nanoTime()
      job.iteration()
      walls += tracer.on -> (System.nanoTime() - i0) / 1e9
      System.gc(); Thread.sleep(100); System.gc() // the second takes what cleaners released
      heapMb = math.max(heapMb, heap.getHeapMemoryUsage.getUsed / 1048576.0)
    }
    tracer.on = false
    val opWindows = ctx.windows.toList

    val (metrics, detail) = try {
      val detail = job.detail
      if (!trace) (Seq(
        ("setup_s", setupS, "s"),
        ("peak_heap_mb", heapMb, "MB"),
        ("ok_ratio", 1.0 - ctx.failed.toDouble / ctx.attempted, "ratio"),
        ("throughput_per_s", Stats.median(job.throughput), "1/s"),
        ("op_p50_ms", Stats.median(job.opMs), "ms")), detail)
      else {
        // the measured loop's engine counters, before the layer probes add theirs
        engine.drain()
        val e = engine.sum()
        val lm = job.layerMetrics() ++ p.probe.toSeq.flatMap(probe(ctx, _))
        val iters = walls.size.toDouble
        val tracedW = walls.filter(_._1).map(_._2).toSeq
        val plainW = walls.filterNot(_._1).map(_._2).toSeq
        val self = tracer.selfSeconds
        val measured = (detail ++ lm ++ Seq(
          ("spark.jobs", e.jobs / iters, "count"),
          ("spark.stages", e.stages / iters, "count"),
          ("spark.tasks", e.tasks / iters, "count"),
          ("spark.task_run_s", e.runMs / 1e3 / iters, "s"),
          ("spark.task_cpu_s", e.cpuNs / 1e9 / iters, "s"),
          ("spark.gc_s", e.gcMs / 1e3 / iters, "s"),
          ("spark.scheduler_delay_s", e.delayMs / 1e3 / iters, "s"),
          ("spark.shuffle_write_bytes", e.shuffleWrite / iters, "B"),
          ("spark.spill_bytes", e.spill / iters, "B"),
          ("spark.driver_only_share", engine.driverOnlyShare(opWindows), "ratio"),
          ("trace.overhead_share", Stats.median(tracedW) / Stats.median(plainW) - 1.0, "ratio")) ++
          Layers.spanLayers.map(l =>
            (s"self.${l}_s", self.getOrElse(l, 0.0) / tracedW.size, "s")))
          .map(m => m._1 -> m).toMap
        val unknown = measured.keySet -- Layers.all.map(_._1)
        require(unknown.isEmpty, s"metrics missing from the per-layer list: $unknown")
        // a layer the workload does not use reports 0
        (Layers.all.map { case (n, u) => measured.getOrElse(n, (n, 0.0, u)) }, detail)
      }
    } catch { case NonFatal(e) =>
      System.err.println(s"[perfbench] metrics failed: $e"); ctx.failed += 1
      (Seq.empty, Seq.empty)
    }

    if (trace) opt.get("spans").foreach(f => tracer.writeJsonl(Paths.get(f)))
    spark.stop()

    val clean = metrics.map { case (n, v, u) =>
      (n, if (v.isNaN || v.isInfinite) -1.0 else v, u)
    }
    val correct = ctx.failed == 0 && metrics.nonEmpty &&
      metrics.forall(m => !m._2.isNaN && !m._2.isInfinite)
    val metricJson = clean.map { case (n, v, u) => s""""$n": {"value": $v, "unit": "$u"}""" }
      .mkString("{", ", ", "}")
    val result = s"""{"correct": $correct, "attempted": ${ctx.attempted}, """ +
      s""""failed": ${ctx.failed}, "metrics": $metricJson}"""

    opt.get("record").foreach { f =>
      def js(v: Any): String = v match {
        case s: String => "\"" + s.replace("\\", "\\\\").replace("\"", "\\\"") + "\""
        case d: Double => if (d.isNaN) "null" else d.toString
        case other => other.toString
      }
      val load = ManagementFactory.getOperatingSystemMXBean.getSystemLoadAverage
      val rec = Seq(
        "nproc" -> Runtime.getRuntime.availableProcessors.toString,
        "local_threads" -> cpus.toString, "loadavg" -> js(load),
        "source" -> js(sys.props.getOrElse("perfbench.source", "unknown")),
        "trace" -> trace.toString, "session_s" -> js(sessionS),
        "generate_s" -> genS.map(_._1).mkString("[", ",", "]"),
        "warmup_s" -> warm.mkString("[", ",", "]"),
        "iteration_s" -> walls.map(_._2).mkString("[", ",", "]"),
        "inputs" -> ctx.inputs.map { case (k, v) => s""""$k": ${js(v)}""" }.mkString("{", ", ", "}"),
        "detail" -> detail.map { case (n, v, u) => s""""$n": {"value": ${js(v)}, "unit": "$u"}""" }
          .mkString("{", ", ", "}"),
        "samples" -> ctx.samples.map { case (k, v) => s""""$k": $v""" }.mkString("{", ", ", "}"),
        "failures" -> ctx.failures.map(js).mkString("[", ", ", "]"),
        "result" -> result)
      Files.write(Paths.get(f), rec.map { case (k, v) => s""""$k": $v""" }
        .mkString("{\n  ", ",\n  ", "\n}\n").getBytes(UTF_8))
    }
    println(result)
    System.out.flush()
    System.exit(0)
  }
}
