package graft.ops

import org.scalatest.funsuite.AnyFunSuite
import graft.SparkTestBase

class TimeSeriesSpec extends AnyFunSuite with SparkTestBase {

  test("resample: regular grid, last-in-bucket wins, gaps forward-fill") {
    import spark.implicits._
    // user 1: obs in buckets 0 and 3 (step 10): grid 0..3, buckets 1-2 gap
    // user 2: two obs in the SAME bucket — later ts wins; same ts → higher id
    val events = Seq(
      (1L, 5L, 100L, 5.0), (1L, 31L, 101L, 9.0),
      (2L, 3L, 200L, 1.0), (2L, 7L, 201L, 2.0), // later ts wins bucket 0
      (2L, 7L, 202L, 3.0)                       // same ts, higher id wins
    ).toDF("user_id", "ts_ns", "event_id", "value")
    val out = TimeSeries.resample(events, "user_id", "ts_ns", "value",
        "event_id", stepNs = 10L)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> (r.getDouble(2), r.getBoolean(3)))
      .toMap
    assert(out((1L, 0L)) == ((5.0, false)))
    assert(out((1L, 10L)) == ((5.0, true)))  // carried forward, flagged
    assert(out((1L, 20L)) == ((5.0, true)))
    assert(out((1L, 30L)) == ((9.0, false)))
    assert(out((2L, 0L)) == ((3.0, false))) // ts tie broken by event_id
    assert(out.size == 5) // user 2 spans a single bucket
  }

  test("cusum: closed window form equals the textbook recursion per key") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    // two keys with different burst shapes, incl. a reset-to-zero dip
    val series = Map(
      "a" -> Seq(5L, 5L, 20L, 5L, 5L, 1L, 30L),
      "b" -> Seq(2L, 2L, 2L, 2L))
    val df = series.toSeq.flatMap { case (k, xs) =>
      xs.zipWithIndex.map { case (x, i) => (k, i.toLong, x) }
    }.toDF("key", "step", "x")
    val (ref, slack, thr) = (5L, 1L, 10L)
    val got = TimeSeries.cusum(df, Seq("key"), "step", "x",
        lit(ref), lit(slack), lit(thr))
      .collect()
      .map(r => (r.getAs[String]("key"), r.getAs[Long]("step")) ->
        (r.getAs[Long]("cusum"), r.getAs[Boolean]("alarm"))).toMap
    series.foreach { case (k, xs) =>
      var s = 0L
      xs.zipWithIndex.foreach { case (x, i) =>
        s = math.max(0L, s + (x - ref - slack))
        assert(got((k, i.toLong)) == ((s, s >= thr)),
          s"key $k step $i: got ${got((k, i.toLong))} want ($s, ${s >= thr})")
      }
    }
  }

  test("ewma: matches the truncated weighted mean; prior is null on first row") {
    import spark.implicits._
    val series = Map(
      "a" -> Seq(100L, 120L, 80L, 100L, 3000L, 110L),  // one burst
      "b" -> Seq(50L)                                   // singleton key
    )
    val rows = series.toSeq.flatMap { case (k, xs) =>
      xs.zipWithIndex.map { case (x, i) => (k, i.toLong, x) }
    }
    val out = TimeSeries.ewma(rows.toDF("k", "i", "v"), Seq("k"), Seq("i"), "v",
        lags = 16)
      .collect()
      .map(r => (r.getString(0), r.getLong(1)) ->
        (r.getLong(3), if (r.isNullAt(4)) None else Some(r.getLong(4))))
      .toMap

    def ref(xs: Seq[Long], t: Int, inclusive: Boolean): Option[Long] = {
      val lags = if (inclusive) 0 to 15 else 1 to 16
      val terms = lags.flatMap { j =>
        val idx = t - j
        val wt = if (inclusive) 1L << (15 - j) else 1L << (16 - j)
        if (idx >= 0) Some((xs(idx) * wt, wt)) else None
      }
      if (terms.isEmpty) None
      else Some(terms.map(_._1).sum * 1000000L / terms.map(_._2).sum)
    }
    series.foreach { case (k, xs) =>
      xs.indices.foreach { t =>
        val (gotE, gotP) = out((k, t.toLong))
        assert(gotE == ref(xs, t, inclusive = true).get, s"$k[$t] level")
        assert(gotP == ref(xs, t, inclusive = false), s"$k[$t] prior")
      }
    }
    // the burst row's observation dwarfs its own forecast
    val (_, priorAtBurst) = out(("a", 4L))
    assert(3000L * 1000000L > 3L * priorAtBurst.get, "burst must trip the test")
    assert(out(("b", 0L))._2.isEmpty, "singleton key has no forecast")
  }

  test("trend: exact line recovered with r2=10000; noise drops r2; " +
      "degenerate x yields nulls") {
    import spark.implicits._
    val rows =
      (0L to 9L).map(x => ("lin", x, 3 * x + 7)) ++          // exact line
      Seq(("noisy", 0L, 10L), ("noisy", 1L, 0L), ("noisy", 2L, 10L),
        ("noisy", 3L, 0L)) ++                                 // zigzag
      Seq(("flat", 5L, 1L), ("flat", 5L, 9L))                 // no x-variance
    val out = TimeSeries.trend(rows.toDF("k", "x", "y"), "k", "x", "y")
      .collect()
      .map(r => r.getString(0) ->
        (r.getLong(1), Option(r.get(2)).map(_.asInstanceOf[Long]),
          Option(r.get(3)).map(_.asInstanceOf[Long]),
          Option(r.get(4)).map(_.asInstanceOf[Long])))
      .toMap
    val (n, slope, icept, r2) = out("lin")
    assert(n == 10 && slope.contains(3000000L) &&
      icept.contains(7000000L) && r2.contains(10000L),
      s"lin: ${out("lin")}")
    assert(out("noisy")._4.exists(_ <= 2000L), s"noisy r2: ${out("noisy")}")
    assert(out("flat")._2.isEmpty && out("flat")._4.isEmpty)
  }

  test("trend: a ≥10k-word zipfFit matches a driver-side BigInt OLS " +
      "past the BIGINT range") {
    import spark.implicits._
    // one language, 11,000 distinct words, freq(w_i) = max(1, 3000/(i+1))
    val vocab = 11000
    val freqs = (0 until vocab).map(i => f"w$i%05d" -> (3000 / (i + 1)).max(1))
    val tokens = freqs.flatMap { case (w, f) => Seq.fill(f)(w) }
    val docs = tokens.grouped(500).zipWithIndex
      .map { case (ws, i) => (i.toLong, "xx", ws.mkString(" ")) }.toSeq
      .toDF("doc_id", "lang", "text")
    val got = TextAnalysis.zipfFit(docs).collect()
      .map(r => (r.getString(0), r.getLong(1),
        Option(r.get(2)).map(_.asInstanceOf[Long]),
        Option(r.get(3)).map(_.asInstanceOf[Long]),
        Option(r.get(4)).map(_.asInstanceOf[Long])))
    // driver-side reference: rank by (freq desc, word), both axes on
    // the same pseudo-log2, OLS in arbitrary precision (BigInt `/`
    // truncates toward zero, as `div` does)
    val pts = freqs.sortBy { case (w, f) => (-f, w) }.zipWithIndex
      .map { case ((_, f), r) =>
        (BigInt(TextAnalysis.pseudoLog2Long(r + 1L)),
          BigInt(TextAnalysis.pseudoLog2Long(f.toLong))) }
    val n = BigInt(pts.size)
    val (sx, sy) = (pts.map(_._1).sum, pts.map(_._2).sum)
    val sxy = pts.map(p => p._1 * p._2).sum
    val sxx = pts.map(p => p._1 * p._1).sum
    val syy = pts.map(p => p._2 * p._2).sum
    val (num, dx, dy) = (n * sxy - sx * sy, n * sxx - sx * sx, n * syy - sy * sy)
    assert(n * sxx > BigInt(Long.MaxValue),
      "fixture must leave the BIGINT range the old sums overflowed")
    val slope = num * 1000000 / dx
    val want = ("xx", vocab.toLong, Some(slope.toLong),
      Some(((sy * 1000000 - slope * sx) / n).toLong),
      Some((num * 10000 / dx * num / dy).toLong))
    assert(got.toSeq == Seq(want))
  }

  test("timingRegularity: metronome flags, bursty stream does not, gaps " +
    "clamp, zero-mean reports NULL cv2") {
    import spark.implicits._
    val ns = 1000000L // ms → ns
    def stream(key: String, gapsMs: Seq[Long]) = {
      val ts = gapsMs.scanLeft(0L)(_ + _)
      ts.zipWithIndex.map { case (t, i) => (key, t * ns, i.toLong) }
    }
    val bot = stream("bot", Seq.fill(30)(60000L))
    // bursty: gaps spanning three orders of magnitude → CV² ≫ 10⁴ bp
    val human = stream("human",
      (1 to 30).map(i => Seq(500L, 120000L, 7000L, 900000L)(i % 4)))
    // one normal run, then a week-long absence → the clamp absorbs it
    val vac = stream("vac",
      Seq.fill(25)(60000L) ++ Seq(604800000L) ++ Seq.fill(5)(60000L))
    // every event on the same instant → zero mean gap
    val burst = (0 until 25).map(i => ("burst", 0L, i.toLong))
    val ev = (bot ++ human ++ vac ++ burst)
      .toDF("user_id", "ts_ns", "event_id")
    val out = TimeSeries.timingRegularity(ev, capMs = 3600000L,
      minGaps = 20L, maxCv2Bp = 500L)
      .collect().map(r => r.getAs[String]("user_id") -> r).toMap
    assert(out("bot").getAs[Boolean]("flag_bot") &&
      out("bot").getAs[Long]("cv2_bp") == 0L &&
      out("bot").getAs[Long]("mean_gap_ms") == 60000L)
    assert(!out("human").getAs[Boolean]("flag_bot") &&
      out("human").getAs[Long]("cv2_bp") > 10000L,
      s"bursty cv2: ${out("human")}")
    // the clamped week reads as one capMs gap, not a statistic-drowner
    assert(out("vac").getAs[Long]("mean_gap_ms") < 3600000L / 10)
    val b = out("burst")
    assert(b.isNullAt(b.fieldIndex("cv2_bp")) &&
      !b.getAs[Boolean]("flag_bot"))
  }

  test("leadLag: a shifted copy correlates perfectly at its lag, " +
    "anti-correlates when mirrored; constant series → NULL") {
    import spark.implicits._
    // b = a shifted forward by 1 bucket (b at t+1 equals a at t):
    // pair (a, b) at lag +1 sees y_t = b_{t+1} = a_t = x_t → corr 1
    val a = Seq(1L, 5L, 2L, 8L, 3L, 9L, 4L)
    val rows =
      a.zipWithIndex.map { case (v, t) => ("a", t.toLong, v) } ++
      a.zipWithIndex.map { case (v, t) => ("b", t + 1L, v) } ++
      (0L to 7L).map(t => ("c", t, 5L)) // constant
    val out = TimeSeries.leadLag(rows.toDF("k", "h", "v"), "k", "h", "v",
        maxLag = 2)
      .collect()
      .map(r => (r.getString(0), r.getString(1), r.getInt(2)) ->
        (r.getLong(3), if (r.isNullAt(4)) None else Some(r.getLong(4))))
      .toMap
    // perfect correlation at the true lag: (1e4)² = 1e8 exactly
    assert(out(("a", "b", 1)) == ((7L, Some(100000000L))))
    // and symmetric the other way
    assert(out(("b", "a", -1)) == ((7L, Some(100000000L))))
    // at the WRONG lag the same series is far from perfect
    assert(out(("a", "b", 0))._2.exists(_ < 50000000L))
    // constant partner → zero variance → NULL, not zero
    assert(out(("a", "c", 0))._2.isEmpty)
  }

  test("acf: an alternating series anti-correlates perfectly at lag 1 " +
    "and correlates perfectly at lag 2; constant series → NULL") {
    import spark.implicits._
    val rows =
      (0L to 9L).map(t => ("alt", t, if (t % 2 == 0) 1L else 9L)) ++
      (0L to 5L).map(t => ("flat", t, 4L))
    val out = TimeSeries.acf(rows.toDF("k", "h", "v"), "k", "h", "v",
        maxLag = 3)
      .collect()
      .map(r => (r.getString(0), r.getInt(1)) ->
        (r.getLong(2), if (r.isNullAt(3)) None else Some(r.getLong(3))))
      .toMap
    assert(out(("alt", 1)) == ((9L, Some(-100000000L))))
    assert(out(("alt", 2)) == ((8L, Some(100000000L))))
    assert(out(("flat", 1))._2.isEmpty)
    // lags past the window still report their overlap count
    assert(out(("alt", 3))._1 == 7L)
  }

  test("changepoint: finds the level shift, breaks flat-series ties to " +
    "the smallest t, NULLs a single-bucket key") {
    import spark.implicits._
    val rows =
      Seq(1L, 2L, 3L, 4L, 5L).map(h => ("step", h,
        if (h <= 3) 0L else 10L)) ++
      Seq(1L, 2L, 3L).map(h => ("flat", h, 5L)) ++
      Seq(("lone", 1L, 7L))
    val out = TimeSeries.changepoint(
        rows.toDF("k", "h", "c"), "k", "h", "c")
      .collect().map(r => r.getAs[String]("k") -> r).toMap
    // [0,0,0,10,10]: D_t = 5·cum − 20·t = −20,−40,−60,−30 → split t=3
    val st = out("step")
    assert(st.getAs[Long]("n_buckets") == 5L &&
      st.getAs[Long]("split_ord") == 3L &&
      st.getAs[Long]("d_split") == -60L &&
      st.getAs[Long]("mean_pre_x100") == 0L &&
      st.getAs[Long]("mean_post_x100") == 1000L)
    // constant series: every D_t = 0 → smallest t wins the tie
    val fl = out("flat")
    assert(fl.getAs[Long]("split_ord") == 1L &&
      fl.getAs[Long]("d_split") == 0L &&
      fl.getAs[Long]("mean_pre_x100") == 500L &&
      fl.getAs[Long]("mean_post_x100") == 500L)
    // one bucket: nothing to cut
    val lo = out("lone")
    assert(lo.getAs[Long]("n_buckets") == 1L &&
      lo.isNullAt(lo.fieldIndex("split_ord")) &&
      lo.isNullAt(lo.fieldIndex("mean_post_x100")))
  }
}
