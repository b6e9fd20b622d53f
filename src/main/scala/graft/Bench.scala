package graft

import java.io.PrintStream

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Bench harness: runs every registered query against
  * `SPARK_GRAFT_SF_DIR`, forcing full execution through the noop sink
  * (count() alone lets Catalyst prune the very work being measured), and
  * prints the one-line JSON contract the driver records as BENCH_r{N}.json.
  *
  * Per query: ONE untimed warm-up run (absorbs codegen compilation and
  * JIT warmup), then `SPARK_GRAFT_BENCH_REPS` (default 3) timed runs,
  * reporting the median. The 1-minute loadavg (max over the reps) and
  * the median PROCESS-CPU seconds are recorded next to each time:
  * everything runs in this one JVM, so co-tenant load inflates wall but
  * not our CPU, and a row with inflated wall and baseline CPU is
  * machine noise.
  *
  * Quiet retry: after the battery, a query is re-run ONCE at the tail
  * when its median exceeds 1.5× the committed quiet baseline
  * (`BASELINE_QUERIES.json`, see [[graft.tools.BaselineGen]]; the
  * primary trigger, since a loadavg point probe misses short bursts) or
  * its loadavg exceeds `SPARK_GRAFT_BENCH_LOAD_RETRY` (default MACHINE
  * cores/4: the battery's own 32-core bursts put the quiet-box loadavg
  * at median 4.3 / p75 6.0, measured r9). The reported figure is
  * min(median, retry), sound because noise only inflates a run; retried
  * queries are listed under `retried`, and rows still over 1.5× (and
  * 0.5 s) their baseline under `suspect`.
  *
  * A query that throws on any run (warm-up, timed rep or retry) is
  * listed under `failed` on both JSON lines and left out of `queries`,
  * `total` and the retry pass: a failure is never a time.
  * `SPARK_GRAFT_BENCH_ONLY` names that match no registered query exit
  * with status 2 before any session starts.
  */
object Bench {
  val DefaultSfDir = "/root/testdata/sf0.1"

  type QueryFn = (SparkSession, String) => DataFrame

  /** One timed query: median wall s, max loadavg, median process-CPU s. */
  final case class Row(name: String, sec: Double, load: Double, cpuSec: Double)

  /** Timed rows after the quiet retry, the retries' own times, suspect
    * rows, and the queries that threw (battery order). */
  final case class Measured(rows: Seq[Row], retried: Map[String, Double],
      suspects: Seq[String], failed: Seq[String])

  def main(args: Array[String]): Unit = {
    val code = run(sys.env, System.err)
    if (code != 0) sys.exit(code)
  }

  /** The names in `names` that match no registered query, sorted. */
  private[graft] def unknownQueries(names: Iterable[String]): Seq[String] =
    names.filterNot(SparkEntry.queries.contains).toSeq.distinct.sorted

  private[graft] def run(env: Map[String, String], err: PrintStream): Int = {
    // optional comma-separated filter (dev): bench only matching queries
    val only = env.get("SPARK_GRAFT_BENCH_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    val unknown = unknownQueries(only.getOrElse(Set.empty))
    if (unknown.nonEmpty) {
      err.println("[bench] unknown query name(s) in SPARK_GRAFT_BENCH_ONLY: " +
        unknown.mkString(", "))
      2
    } else {
      bench(env, only, err)
      0
    }
  }

  private def bench(env: Map[String, String], only: Option[Set[String]],
      err: PrintStream): Unit = {
    val sfDir = env.getOrElse("SPARK_GRAFT_SF_DIR", DefaultSfDir)
    val cpus = env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val reps = env.getOrElse("SPARK_GRAFT_BENCH_REPS", "3").toInt.max(1)
    // baselines apply only to the table's own measurement shape (the
    // canonical sf dir at the recorded core count): at fewer cores every
    // query legitimately exceeds a 32-core baseline
    val baselines: Map[String, Double] =
      if (sfDir.stripSuffix("/") == DefaultSfDir &&
          graft.tools.BaselineGen.cpusOf("BASELINE_QUERIES.json")
            .forall(_.toString == cpus))
        graft.tools.BaselineGen.read("BASELINE_QUERIES.json")
      else Map.empty
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.autoBroadcastJoinThreshold", "32m")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    // one warm-up pass of the flagship to JIT/codegen-prime the session
    try SparkEntry.queries("q1_agg")(spark, sfDir)
      .write.format("noop").mode("overwrite").save()
    catch { case _: Throwable => }

    val battery = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (name, _) => only.forall(_.contains(name)) }
    // keyed on MACHINE cores, not SPARK_GRAFT_CPUS: ambient load scales
    // with the machine (r10: a cpus/4 bar at 8 of 32 cores retried
    // 162/236 queries against self-load)
    val loadThreshold = env.get("SPARK_GRAFT_BENCH_LOAD_RETRY")
      .map(_.toDouble)
      .getOrElse(Runtime.getRuntime.availableProcessors().toDouble / 4.0)
    val m = measure(spark, sfDir, battery, reps, baselines, loadThreshold, err)
    if (m.suspects.nonEmpty)
      err.println(s"[bench] ${m.suspects.size} suspect row(s) " +
        s"(>1.5x committed baseline after retry): ${m.suspects.mkString(", ")}")
    if (m.failed.nonEmpty)
      err.println(s"[bench] ${m.failed.size} failed query(ies), not timed: " +
        m.failed.mkString(", "))
    // Every run lands in bench-runs/BENCH_<millis>.json (untracked); the
    // committed BENCH.json is only PROMOTED on a run shaped like the
    // driver's (full battery at the canonical sf dir, or
    // SPARK_GRAFT_BENCH_PROMOTE=1), so dev-loop runs never clobber it.
    val bytes = (fullRecord(m, sfDir, reps, loadThreshold, baselines.size) +
      "\n").getBytes(java.nio.charset.StandardCharsets.UTF_8)
    val runsDir = java.nio.file.Paths.get("bench-runs")
    java.nio.file.Files.createDirectories(runsDir)
    val stamped = runsDir.resolve(s"BENCH_${System.currentTimeMillis()}.json")
    java.nio.file.Files.write(stamped, bytes)
    val promoted = only.isEmpty &&
      (sfDir.stripSuffix("/") == DefaultSfDir ||
        env.get("SPARK_GRAFT_BENCH_PROMOTE").contains("1"))
    if (promoted)
      java.nio.file.Files.write(java.nio.file.Paths.get("BENCH.json"), bytes)
    else
      err.println(s"[bench] NOT promoting to BENCH.json " +
        s"(only=${only.isDefined}, sfDir=$sfDir != $DefaultSfDir; " +
        "set SPARK_GRAFT_BENCH_PROMOTE=1 to force)")
    println(stdoutRecord(m, sfDir, reps,
      if (promoted) "BENCH.json" else stamped.toString))
    spark.stop()
  }

  /** Times `battery` as the object doc describes: warm-up, `reps` timed
    * noop-sink runs, then the quiet retry. A query that throws on any
    * run goes to `failed` and gets no time.
    */
  private[graft] def measure(spark: SparkSession, sfDir: String,
      battery: Seq[(String, QueryFn)], reps: Int,
      baselines: Map[String, Double], loadThreshold: Double,
      err: PrintStream): Measured = {
    val osBean = java.lang.management.ManagementFactory.getOperatingSystemMXBean
    def processCpuNs: Long = osBean match {
      case b: com.sun.management.OperatingSystemMXBean => b.getProcessCpuTime
      case _ => 0L
    }

    /** One noop-sink run: (wall s, process-CPU s), None if it threw. */
    def runOnce(name: String, fn: QueryFn): Option[(Double, Double)] = {
      // per-run cache isolation: leaked persists from one run otherwise
      // evict/churn the next's and make timings unstable run-to-run
      spark.catalog.clearCache()
      val c0 = processCpuNs
      val t0 = System.nanoTime()
      try {
        fn(spark, sfDir).write.format("noop").mode("overwrite").save()
        Some(((System.nanoTime() - t0) / 1e9, (processCpuNs - c0) / 1e9))
      } catch {
        case e: Throwable =>
          err.println(s"[bench] $name failed: ${e.getMessage}")
          None
      }
    }

    val firstPass = battery.map { case (name, fn) =>
      // loadavg sampled per rep: one pre-query sample misses a spike
      // that lands mid-window. The first failing run ends the query.
      val sampled =
        if (runOnce(name, fn).isEmpty) Vector.empty
        else Iterator.fill(reps) {
          val l = osBean.getSystemLoadAverage
          runOnce(name, fn).map(r => (r, l))
        }.takeWhile(_.isDefined).flatten.toVector
      if (sampled.size < reps) Left(name)
      else {
        val times = sampled.map(_._1._1).sorted
        val cpus = sampled.map(_._1._2).sorted
        Right(Row(name, times(times.size / 2), sampled.map(_._2).max,
          cpus(cpus.size / 2)))
      }
    }
    def overBaseline(name: String, v: Double): Boolean =
      baselines.get(name).exists(b => v > 1.5 * b)
    val fns = battery.toMap
    val timed = firstPass.collect { case Right(r) => r }
    val retries = timed
      .filter(r => r.load > loadThreshold || overBaseline(r.name, r.sec))
      .map { r =>
        val got = runOnce(r.name, fns(r.name))
        for ((t, _) <- got if t < r.sec)
          err.println(f"[bench] quiet-retry ${r.name}: ${r.sec}%.2f -> $t%.2f")
        r.name -> got
      }.toMap
    val failed = firstPass.collect { case Left(n) => n }.toSet ++
      retries.collect { case (n, None) => n }
    val rows = timed.filterNot(r => failed(r.name)).map { r =>
      retries.get(r.name).flatten match {
        case Some((t, c)) if t < r.sec => r.copy(sec = t, cpuSec = c)
        case _ => r
      }
    }
    // suspect = still >1.5× baseline after retry AND >0.5 s over it:
    // on sub-second rows 1.5× is ~100 ms of scheduler noise
    val suspects = rows.collect {
      case r if overBaseline(r.name, r.sec) &&
        baselines.get(r.name).exists(b => r.sec - b > 0.5) => r.name }
    Measured(rows, retries.collect { case (n, Some((t, _))) => n -> t },
      suspects, battery.map(_._1).filter(failed))
  }

  private def quoted(s: String): String = "\"" + s + "\""

  private def jsonMap(kv: Seq[(String, String)]): String =
    kv.map { case (k, v) => quoted(k) + ":" + v }.mkString("{", ",", "}")

  /** The complete run record written to bench-runs/ (and BENCH.json). */
  private[graft] def fullRecord(m: Measured, sfDir: String, reps: Int,
      loadThreshold: Double, nBaselines: Int): String = {
    def col(v: Row => String) = jsonMap(m.rows.map(r => r.name -> v(r)))
    val qs = col(r => f"${r.sec}%.3f")
    val retr = jsonMap(m.retried.toSeq.sortBy(_._1).map { case (k, v) => k -> f"$v%.3f" })
    val susp = m.suspects.map(quoted).mkString("[", ",", "]")
    val failed = m.failed.map(quoted).mkString("[", ",", "]")
    val cpuSec = col(r => f"${r.cpuSec}%.3f")
    val loads = col(r => f"${r.load}%.2f")
    val total = m.rows.map(_.sec).sum
    f"""{"metric":"total","value":$total%.3f,"unit":"sec","queries":$qs,"sf":"$sfDir","reps":$reps,"stat":"median","load_retry_threshold":$loadThreshold%.1f,"baseline_queries":$nBaselines,"suspect":$susp,"failed":$failed,"retried":$retr,"cpu_sec":$cpuSec,"loadavg":$loads}"""
  }

  /** The one stdout line. The driver parses JSON from only the LAST
    * 2,000 chars of stdout (r4's ~5k-char line was head-truncated and
    * parsed as null), so failed names and then the slowest queries are
    * packed into a 1,600-char budget; `full_per_query` names the
    * complete record.
    */
  private[graft] def stdoutRecord(m: Measured, sfDir: String, reps: Int,
      fullRecordPath: String): String = {
    // greedy: keep each entry that still fits, in order
    def pack(entries: Seq[String], budget: Int): Seq[String] =
      entries.foldLeft((Vector.empty[String], 0)) { case ((kept, used), e) =>
        val cost = e.length + (if (kept.isEmpty) 0 else 1)
        if (used + cost <= budget) (kept :+ e, used + cost) else (kept, used)
      }._1
    val failed = pack(m.failed.map(quoted), 1600).mkString(",")
    val shown = pack(m.rows.sortBy(-_.sec)
      .map(r => quoted(r.name) + ":" + f"${r.sec}%.2f"), 1600 - failed.length)
    val total = m.rows.map(_.sec).sum
    f"""{"metric":"total","value":$total%.3f,"unit":"sec","queries":{${shown.mkString(",")}},"sf":"$sfDir","reps":$reps,"stat":"median","n_queries":${m.rows.size},"queries_shown":${shown.size},"failed":[$failed],"n_failed":${m.failed.size},"full_per_query":"$fullRecordPath"}"""
  }
}
