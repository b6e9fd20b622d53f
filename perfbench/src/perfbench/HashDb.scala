package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path}
import java.util.Random
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.Row
import graft.core.Hashers
import graft.pipeline.{BuildJob, FooterMeta, InfoJob, QueryJob}
import graft.sources.WordSource

/** The reference's whole job: build a nine-algorithm, footer-bloomed hash
  * database from wordlist A, append-merge wordlist B into it, then answer
  * a closed loop of exact-hit, exact-miss and prefix lookups.
  */
final class HashDb(ctx: Ctx, w: Gen.Words, lookupsPerCycle: Int) extends Job {
  import ctx.{engine, spark, tracer}

  private val algos = Hashers.names
  private val cfgA = BuildJob.Config(algorithms = algos, sourceName = "wordsA", footerBloom = true)
  private val cfgB = cfgA.copy(sourceName = "wordsB", append = true)
  private val nA = w.distinctA.size
  private val nB = w.distinctB.size
  private val nAll = w.union.size

  final case class Lookup(kind: String, hex: String, algo: Option[String], word: String,
      eligible: Boolean)

  /** The same lookup list is replayed against every rebuilt db. The mix is
    * fixed: equal thirds of hits, misses and prefixes, as in the warm-lookup
    * probe (200 of each); half of each kind filtered by algorithm, the
    * algorithms in turn. The seed picks the words and the order.
    */
  private val lookups: IndexedSeq[Lookup] = {
    val r = new Random(ctx.seed * 31L + 17L)
    val pool = w.union.toArray.sorted
    val kinds = Seq("hit", "miss", "prefix").flatMap(Seq.fill(lookupsPerCycle / 3)(_))
    val list = kinds.zipWithIndex.map { case (kind, i) =>
      val a = algos(i % algos.size)
      val filtered = i % 2 == 0
      val word = pool(r.nextInt(pool.length))
      val probe = if (kind == "miss") "Q" + word else word // generated words are lowercase
      val full = Hashers.hex(Hashers(a).hash(probe.getBytes(UTF_8)))
      val hex = if (kind == "prefix") full.take(2 * (2 + i % 3)) else full
      // QueryJob's gate: no algorithm in scope may have a longer digest
      val eligible = kind != "prefix" && (filtered || Hashers(a).digestLength == 64)
      Lookup(kind, hex, if (filtered) Some(a) else None, probe, eligible)
    }
    new scala.util.Random(ctx.seed * 131L + 7L).shuffle(list).toIndexedSeq
  }
  ctx.inputs ++= Seq(
    "words_a_lines" -> Files.readAllLines(w.fileA).size,
    "words_a_distinct" -> nA, "words_b_distinct" -> nB,
    "repeat_share" -> w.repeatShare, "append_overlap_share" -> w.overlapShare,
    "lookups_per_cycle" -> lookupsPerCycle,
    "hit_share" -> share(_.kind == "hit"), "miss_share" -> share(_.kind == "miss"),
    "prefix_share" -> share(_.kind == "prefix"),
    "bloom_eligible_share" -> eligibleShare)

  private def share(p: Lookup => Boolean): Double =
    lookups.count(p).toDouble / lookups.size
  private def eligibleShare: Double =
    lookups.count(_.eligible).toDouble / lookups.count(_.kind != "prefix")

  private val buildRate, appendRate, writeRate = ArrayBuffer.empty[Double]
  private val lookupMs = Map("hit" -> ArrayBuffer.empty[Double],
    "miss" -> ArrayBuffer.empty[Double], "prefix" -> ArrayBuffer.empty[Double])
  private var bytesPerRecord = Double.NaN
  private var filesWritten = 0
  private var cycles = 0
  private var measured = false
  private var injectPending = ctx.injectFailure
  /** Engine counters of the measured operations of a traced run. */
  private var buildAcc = new Engine.Acc
  private val lookupAcc = scala.collection.mutable.Map("hit" -> new Engine.Acc,
    "miss" -> new Engine.Acc, "prefix" -> new Engine.Acc)
  private var eligibleMisses, rejectedMisses = 0

  private def counted[T](body: => T): (T, Engine.Acc) = engine.delta(tracer.enabled)(body)

  private def records(db: String): Long = InfoJob.run(spark, db).totalRecords

  private def expectRecords(n: Long)(r: BuildJob.Result): Option[String] =
    if (r.records != n) Some(s"build reported ${r.records} records, want $n") else None

  /** `InfoJob` must count `n` records in the db: an untimed operation of its own. */
  private def infoAgrees(db: String, n: Long): Boolean =
    ctx.op("info", timed = false)(records(db)) { i =>
      if (i != n) Some(s"info reports $i records, want $n") else None
    }.isDefined

  private def parquetFiles(db: String): Seq[Path] = {
    val s = Files.walk(java.nio.file.Paths.get(db))
    try s.iterator.asScala.filter(_.toString.endsWith(".parquet")).toList finally s.close()
  }

  private def runCycle(nLookups: Int): Double = {
    val t0 = System.nanoTime()
    cycles += 1
    val db = ctx.work.resolve(s"db-$cycles").toString
    val (built, bAcc) = counted(ctx.op("build") {
      val op = tracer.newOp()
      tracer.span("pipeline", "build", op) {
        val words = tracer.span("sources", "words", op)(
          WordSource.parse(w.fileA.toString).words(spark))
        BuildJob.run(spark, words, db, cfgA)
      }
    }(expectRecords(9L * nA)))
    val build = built.filter(_ => infoAgrees(db, 9L * nA))
    if (build.isDefined) {
      if (measured) { buildRate += nA / build.get._2; buildAcc = buildAcc.plus(bAcc) }
      filesWritten = parquetFiles(db).size
      val append = ctx.op("append") {
        val op = tracer.newOp()
        tracer.span("pipeline", "append", op) {
          val words = tracer.span("sources", "words", op)(
            WordSource.parse(w.fileB.toString).words(spark))
          BuildJob.run(spark, words, db, cfgB)
        }
      }(expectRecords(9L * nAll)).filter(_ => infoAgrees(db, 9L * nAll))
      append.foreach { case (_, secs) =>
        if (measured) {
          appendRate += nB / secs
          writeRate += nAll / (build.get._2 + secs)
        }
      }
      if (append.isDefined) {
        bytesPerRecord = parquetFiles(db).map(Files.size).sum.toDouble / records(db)
        lookups.take(nLookups).foreach(lookup(db, _))
      }
    }
    ctx.deleteTree(java.nio.file.Paths.get(db))
    (System.nanoTime() - t0) / 1e9
  }

  private def lookup(db: String, l: Lookup): Unit = {
    val op = tracer.newOp()
    val hex = if (measured && injectPending) { injectPending = false; "zz" } else l.hex
    val (res, acc) = counted(ctx.op(s"lookup.${l.kind}") {
      val df = tracer.span("pipeline", s"lookup.${l.kind}.plan", op)(
        QueryJob.run(spark, db, QueryJob.Params(hex, l.algo)))
      tracer.span("pipeline", s"lookup.${l.kind}.exec", op)(df.collect())
    }(rows => check(l, rows)))
    res.foreach { case (_, secs) =>
      if (measured) {
        lookupMs(l.kind) += secs * 1e3
        lookupAcc(l.kind) = lookupAcc(l.kind).plus(acc)
        // an eligible miss answered from footers alone ran no Spark job
        if (l.kind == "miss" && l.eligible) {
          eligibleMisses += 1
          if (acc.jobs == 0) rejectedMisses += 1
        }
      }
    }
  }

  private def check(l: Lookup, rows: Array[Row]): Option[String] = {
    def hexOf(r: Row) = Hashers.hex(r.getAs[Array[Byte]]("hash"))
    l.kind match {
      case "hit" =>
        val a = l.algo.getOrElse("")
        val ok = rows.exists(r => r.getAs[String]("preimage") == l.word &&
          hexOf(r) == l.hex && l.algo.forall(_ == r.getAs[String]("algorithm")))
        if (ok) None else Some(s"hit ${l.hex} $a did not return ${l.word}")
      case "miss" => if (rows.isEmpty) None else Some(s"miss ${l.hex} returned ${rows.length} rows")
      case _ =>
        if (rows.isEmpty) Some(s"prefix ${l.hex} returned nothing")
        else rows.find(r => !hexOf(r).startsWith(l.hex) ||
            l.algo.exists(_ != r.getAs[String]("algorithm")))
          .map(r => s"prefix ${l.hex} returned ${hexOf(r)}")
    }
  }

  /** A warm-up iteration runs half of the lookups: they bring the read
    * path near steady state as well, for less of the time budget.
    */
  def warmIteration(): Double = runCycle(lookups.size / 2)

  def iteration(): Unit = { measured = true; runCycle(lookups.size) }

  def throughput: Seq[Double] = writeRate.toSeq
  def opMs: Seq[Double] = lookupMs.values.flatten.toSeq

  def detail: Seq[(String, Double, String)] = {
    ctx.samples ++= Seq("build" -> buildRate.size, "append" -> appendRate.size) ++
      lookupMs.map { case (k, v) => s"lookup.$k" -> v.size }
    Seq(
      ("build_words_per_s", Stats.median(buildRate.toSeq), "1/s"),
      ("append_words_per_s", Stats.median(appendRate.toSeq), "1/s"),
      ("db_bytes_per_record", bytesPerRecord, "B"),
      ("lookup_hit_p50_ms", Stats.median(lookupMs("hit").toSeq), "ms"),
      ("lookup_miss_p50_ms", Stats.median(lookupMs("miss").toSeq), "ms"),
      ("lookup_prefix_p50_ms", Stats.median(lookupMs("prefix").toSeq), "ms"),
      ("lookup_p75_ms", Stats.pct(opMs, 75), "ms"))
  }

  /** Probes of single layers, run once in a traced run. */
  def layerMetrics(): Seq[(String, Double, String)] = {
    def secs(f: => Unit): Double = { val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e9 }
    val wordsS = secs(ctx.noop(WordSource.parse(w.fileA.toString).words(spark).toDF()))
    val bytes = w.distinctA.toArray.sorted.map(_.getBytes(UTF_8))
    val hashRates = algos.map { a =>
      val h = Hashers(a)
      bytes.foreach(h.hash) // JIT warm-up
      val s = secs(bytes.foreach(h.hash))
      (s"core.$a.hashes_per_s", bytes.length / s, "1/s")
    }
    val words = WordSource.parse(w.fileA.toString).words(spark)
    val expandS = secs(ctx.noop(BuildJob.expand(words, cfgA)))
    val plain = ctx.work.resolve("db-plain").toString
    val buildS = secs(BuildJob.run(spark, words, plain, cfgA.copy(footerBloom = false)))
    val stampS = secs(FooterMeta.writeBlooms(spark, plain))
    ctx.deleteTree(java.nio.file.Paths.get(plain))

    val perType = Seq("hit", "miss", "prefix").flatMap { k =>
      val plan = tracer.durationsMs(s"lookup.$k.plan")
      val exec = tracer.durationsMs(s"lookup.$k.exec")
      val acc = lookupAcc(k)
      val n = math.max(1, lookupMs(k).size)
      Seq(
        (s"pipeline.lookup_plan_ms.$k", if (plan.isEmpty) 0.0 else Stats.median(plan), "ms"),
        (s"pipeline.lookup_exec_ms.$k", if (exec.isEmpty) 0.0 else Stats.median(exec), "ms"),
        (s"pipeline.lookup_jobs.$k", acc.jobs.toDouble / n, "count"),
        (s"pipeline.lookup_bytes_read.$k", acc.bytesRead.toDouble / n, "B"))
    }
    Seq(("sources.words_s", wordsS, "s")) ++ hashRates ++ Seq(
      ("pipeline.expand_s", expandS, "s"),
      ("pipeline.build_s", buildS, "s"),
      ("pipeline.bloom_stamp_s", stampS, "s"),
      ("pipeline.append_s", Stats.median(tracer.durationsMs("append")) / 1e3, "s"),
      ("pipeline.build_jobs", buildAcc.jobs.toDouble / math.max(1, buildRate.size), "count"),
      ("pipeline.files_written", filesWritten.toDouble, "count")) ++ perType ++ Seq(
      ("pipeline.bloom_eligible_share", eligibleShare, "ratio"),
      ("pipeline.bloom_reject_share",
        if (eligibleMisses == 0) 0.0 else rejectedMisses.toDouble / eligibleMisses, "ratio"))
  }
}
