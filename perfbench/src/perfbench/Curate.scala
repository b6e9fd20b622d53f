package perfbench

import scala.collection.mutable.ArrayBuffer
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.ops.{DataSelect, Dedup, TextAnalysis, TextClean}

/** The curation headline chain (normalize → quality/lang gates → content-key
  * exact dedup → MinHash-LSH near-dedup → epoch-shuffle pack), each stage
  * materialized so its time is its own.
  */
final class Curate(ctx: Ctx, corpus: Gen.Corpus) extends Job {
  import ctx.{spark, tracer}

  private val docs: DataFrame = spark.read
    .parquet(corpus.dir.resolve("documents.parquet").toString).localCheckpoint(true)
  private val nIn = docs.count()
  ctx.inputs ++= Seq("docs" -> corpus.docs, "near_dup_injected" -> corpus.nearDups,
    "content_key_dup_injected" -> corpus.keyDups,
    "near_dup_share" -> (corpus.nearDups + corpus.keyDups).toDouble / corpus.docs)

  val stages = Seq("normalize", "gates", "exact_dedup", "near_dedup", "pack")
  private val docsPerS = ArrayBuffer.empty[Double]
  private val stageS = stages.map(_ -> ArrayBuffer.empty[Double]).toMap
  private var firstRows: Option[Seq[Long]] = None
  private var lastExact: Option[DataFrame] = None
  private var measured = false

  private def contentKey(df: DataFrame): DataFrame = {
    val toks = split(col("text"), " ")
    df.withColumn("content_key",
      md5(concat_ws(" ", (1 to 5).map(i => element_at(toks, i)): _*)))
  }

  private val chain: Seq[DataFrame => DataFrame] = Seq(
    _.withColumn("text", TextClean.normalize(col("text"))),
    _.withColumn("quality_bp",
        floor(TextAnalysis.qualityScore(col("text")) * 10000).cast("long"))
      .filter(col("quality_bp") >= 4000 && col("lang") === "en"),
    { gated =>
      val keyed = contentKey(gated)
      keyed.groupBy("content_key").agg(min("doc_id").as("doc_id"))
        .join(keyed, Seq("content_key", "doc_id"))
    },
    exact => exact.join(
      Dedup.minhashLsh(exact.select("doc_id", "text")).select(col("j").as("doc_id")).distinct(),
      Seq("doc_id"), "left_anti"),
    near => DataSelect.epochShuffle(near, epoch = 1, nShards = 32))

  /** One pass; a failed stage ends the pass, which then gives no sample. */
  private def pass(): Double = {
    val t0 = System.nanoTime()
    val out = ArrayBuffer.empty[DataFrame]
    val times = ArrayBuffer.empty[Double]
    var cur = docs
    val passOp = tracer.newOp()
    tracer.span("bench", "curate.pass", passOp) {
      stages.zip(chain).foreach { case (name, f) =>
        if (times.size == out.size) {
          val r = ctx.op(s"curate.$name") {
            tracer.span("ops", s"curate.$name", tracer.newOp())(f(cur).localCheckpoint(true))
          }(_ => None)
          r.foreach { case (df, secs) => out += df; times += secs; cur = df }
          if (r.isEmpty) times += Double.NaN
        }
      }
    }
    if (out.size == stages.size) {
      val rows = out.map(_.count()).toSeq
      val packed = out.last
      val dupKeys = ctx.op("curate.check", timed = false) {
        contentKey(packed).groupBy("content_key").count().filter(col("count") > 1).count()
      } { n =>
        if (n > 0) Some(s"$n content keys survive more than once")
        else if (firstRows.exists(_ != rows)) Some(s"stage rows $rows differ from ${firstRows.get}")
        else None
      }
      if (firstRows.isEmpty) firstRows = Some(rows)
      if (dupKeys.isDefined && measured) {
        docsPerS += nIn / times.sum
        stages.zip(times).foreach { case (s, t) => stageS(s) += t }
      }
    }
    lastExact.foreach(_.unpersist())
    lastExact = out.lift(2)
    out.zipWithIndex.filter(_._2 != 2).foreach(_._1.unpersist())
    (System.nanoTime() - t0) / 1e9
  }

  def warmIteration(): Double = pass()
  def iteration(): Unit = { measured = true; pass() }

  def throughput: Seq[Double] = docsPerS.toSeq
  /** One pass is the unit: the stages' times are too unequal for their
    * pooled median to be stable.
    */
  def opMs: Seq[Double] = docsPerS.map(nIn / _ * 1e3).toSeq

  def detail: Seq[(String, Double, String)] = {
    ctx.samples += "curate.pass" -> docsPerS.size
    Seq(("curate_docs_per_s", Stats.median(docsPerS.toSeq), "1/s"))
  }

  def layerMetrics(): Seq[(String, Double, String)] = {
    val pairs = lastExact.map(e => Dedup.minhashLsh(e.select("doc_id", "text")).count()).getOrElse(-1L)
    val rows = firstRows.getOrElse(Seq.fill(stages.size)(-1L))
    stages.map(s => (s"ops.${s}_s", Stats.median(stageS(s).toSeq), "s")) ++
      Seq(("ops.near_dup_pairs", pairs.toDouble, "count"),
        ("ops.rows_in", nIn.toDouble, "count")) ++
      stages.zip(rows).map { case (s, n) => (s"ops.rows_$s", n.toDouble, "count") }
  }
}
