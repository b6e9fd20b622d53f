package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path}
import java.util.Random
import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.types._

/** Seeded input generators. The same seed always yields the same files;
  * every property a workload's behaviour depends on is returned alongside
  * the files so the run record can state it.
  */
object Gen {
  private val alnum = "abcdefghijklmnopqrstuvwxyz0123456789"

  private def word(r: Random, minLen: Int, maxLen: Int, alphabet: String): String = {
    val n = minLen + r.nextInt(maxLen - minLen + 1)
    val sb = new StringBuilder(n)
    var i = 0
    while (i < n) { sb.append(alphabet.charAt(r.nextInt(alphabet.length))); i += 1 }
    sb.toString
  }

  final case class Words(
      fileA: Path, fileB: Path,
      distinctA: Set[String], distinctB: Set[String],
      repeatShare: Double, overlapShare: Double) {
    def union: Set[String] = distinctA ++ distinctB
  }

  /** Two wordlists: A has `repeatShare` of its lines repeating an earlier
    * line (plus a few blank lines), B draws `overlapShare` of its lines
    * from A's vocabulary. Generated words are lowercase alphanumerics, so
    * any word with an uppercase letter is guaranteed absent.
    */
  def words(dir: Path, seed: Long, linesA: Int, linesB: Int,
      repeatShare: Double, overlapShare: Double): Words = {
    val r = new Random(seed * 7919L + 1L)
    val a = new Array[String](linesA)
    val seenA = scala.collection.mutable.LinkedHashSet.empty[String]
    var i = 0
    while (i < linesA) {
      a(i) =
        if (i % 97 == 96) "" // blank lines: every source must drop them
        else if (i > 0 && r.nextDouble() < repeatShare) {
          var w = a(r.nextInt(i)); while (w.isEmpty) w = a(r.nextInt(i)); w
        } else word(r, 5, 12, alnum)
      if (a(i).nonEmpty) seenA += a(i)
      i += 1
    }
    val poolA = seenA.toArray
    val b = Array.fill(linesB) {
      if (r.nextDouble() < overlapShare) poolA(r.nextInt(poolA.length))
      else word(r, 5, 12, alnum)
    }
    val fa = dir.resolve("wordsA.txt"); val fb = dir.resolve("wordsB.txt")
    Files.write(fa, a.mkString("", "\n", "\n").getBytes(UTF_8))
    Files.write(fb, b.mkString("", "\n", "\n").getBytes(UTF_8))
    val distinctB = b.toSet
    Words(fa, fb, seenA.toSet, distinctB,
      repeatShare = 1.0 - seenA.size.toDouble / a.count(_.nonEmpty),
      overlapShare = distinctB.count(seenA.contains).toDouble / distinctB.size)
  }

  final case class Corpus(dir: Path, docs: Int, nearDups: Int, keyDups: Int)

  /** sf0.1's `documents.parquet`: 5,000 docs of 10–100 tokens drawn from a
    * 31-word vocabulary; 2,059 `en` and about 740 each of `zh`, `es`, `fr`
    * and `de`; 244 docs (4.9%) share their first five tokens with another.
    */
  private val langs = Array("en", "zh", "es", "fr", "de")
  private val langCum = Array(0.4118, 0.5624, 0.7112, 0.8596, 1.0)
  private val vocabSize = 31
  private val docSchema = StructType(Seq(
    StructField("doc_id", LongType), StructField("text", StringType),
    StructField("lang", StringType), StructField("source", StringType),
    StructField("n_chars", LongType)))

  /** `documents.parquet` in the testdata schema, shaped like sf0.1's (the
    * lengths, vocabulary size and language mix above). Each block of
    * `copyDocs` docs draws its tokens uniformly from its own vocabulary, and
    * the blocks' vocabularies are disjoint (the corpus-copy scheme of the
    * curation headline). `nearDupShare` of the docs are one-token edits of
    * an earlier doc of their block: half edit inside the first five tokens
    * (a different content key, left for near-dedup), half after them (the
    * same content key, caught by exact dedup).
    */
  def corpus(spark: SparkSession, dir: Path, seed: Long, docs: Int, copyDocs: Int,
      nearDupShare: Double): Corpus = {
    val r = new Random(seed * 104729L + 3L)
    val base = Array.fill(vocabSize)(word(r, 1, 7, "abcdefghijklmnopqrstuvwxyz"))
    var copy = -1
    var vocab = base
    def tok(): String = vocab(r.nextInt(vocab.length))
    val texts = new Array[Array[String]](docs)
    val langOf = new Array[String](docs)
    var near = 0; var keyed = 0
    var i = 0
    while (i < docs) {
      if (i / copyDocs != copy) {
        copy = i / copyDocs
        vocab = if (copy == 0) base else base.map(w => s"$w~c$copy")
      }
      val first = copy * copyDocs
      if (i > first + 10 && r.nextDouble() < nearDupShare) {
        val src = first + r.nextInt(i - first)
        val t = texts(src).clone()
        val inKey = (near + keyed) % 2 == 0 && t.length > 5
        val pos = if (inKey) r.nextInt(5) else 5 + r.nextInt(math.max(1, t.length - 5))
        if (pos < t.length) t(pos) = tok() + "x"
        if (inKey) near += 1 else keyed += 1
        texts(i) = t; langOf(i) = langOf(src)
      } else {
        texts(i) = Array.fill(10 + r.nextInt(91))(tok())
        val u = r.nextDouble()
        langOf(i) = langs(langCum.indexWhere(u < _))
      }
      i += 1
    }
    val rows = (0 until docs).map { d =>
      val text = texts(d).mkString(" ")
      Row(d.toLong, text, langOf(d), s"src${d % 20}", text.length.toLong)
    }
    write(spark, rows, docSchema, dir.resolve("documents.parquet"))
    Corpus(dir, docs, near, keyed)
  }

  private def write(spark: SparkSession, rows: Seq[Row], schema: StructType, out: Path): Unit =
    spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema)
      .coalesce(1).write.mode("overwrite").parquet(out.toString)
}
