package graft

import java.io.{ByteArrayOutputStream, PrintStream}

import org.apache.spark.sql.functions.{assert_true, lit}
import org.scalatest.funsuite.AnyFunSuite

/** The bench record's failure contract: a query that throws is listed
  * under `failed` on both JSON lines and is never given a time, and a
  * query filter naming no registered query is rejected.
  */
class BenchSpec extends AnyFunSuite with SparkTestBase {

  private def capture(): (PrintStream, () => String) = {
    val buf = new ByteArrayOutputStream()
    (new PrintStream(buf, true, "UTF-8"), () => buf.toString("UTF-8"))
  }

  test("a throwing query is reported under failed, not timed or totalled") {
    val ok: Bench.QueryFn = (s, _) => s.range(100).toDF("x")
    val throwsAtBuild: Bench.QueryFn =
      (_, _) => throw new IllegalStateException("boom at build")
    val throwsAtRun: Bench.QueryFn =
      (s, _) => s.range(10).select(assert_true(lit(false)).as("x"))
    val (err, errText) = capture()
    val m = Bench.measure(spark, sf(),
      Seq("a_ok" -> ok, "b_build" -> throwsAtBuild, "c_run" -> throwsAtRun),
      reps = 2, baselines = Map.empty, loadThreshold = Double.MaxValue, err)
    assert(m.failed == Seq("b_build", "c_run"))
    assert(m.rows.map(_.name) == Seq("a_ok"))
    assert(errText().contains("b_build failed: boom at build"))
    val total = f"${m.rows.head.sec}%.3f"
    val full = Bench.fullRecord(m, sf(), 2, 1.0, 0)
    val line = Bench.stdoutRecord(m, sf(), 2, "bench-runs/x.json")
    for (json <- Seq(full, line)) {
      assert(json.contains("\"failed\":[\"b_build\",\"c_run\"]"), json)
      assert(json.contains(s"\"value\":$total,"), json)
      assert(!json.contains("\"b_build\":") && !json.contains("\"c_run\":"),
        s"a failed query carries a time: $json")
    }
    assert(line.contains("\"n_queries\":1,") && line.contains("\"n_failed\":2,"))
  }

  test("a query that throws on its quiet retry is failed, not timed") {
    var calls = 0
    // warm-up + 2 reps succeed; the retry (forced by a zero baseline)
    // is the 4th run and throws
    val flaky: Bench.QueryFn = (s, _) => {
      calls += 1
      if (calls > 3) throw new IllegalStateException("flaky")
      s.range(10).toDF("x")
    }
    val (err, _) = capture()
    val m = Bench.measure(spark, sf(), Seq("flaky" -> flaky), reps = 2,
      baselines = Map("flaky" -> 0.0), loadThreshold = Double.MaxValue, err)
    assert(calls == 4)
    assert(m.failed == Seq("flaky") && m.rows.isEmpty && m.retried.isEmpty)
    assert(m.suspects.isEmpty)
  }

  test("an unknown SPARK_GRAFT_BENCH_ONLY name exits 2 and is named") {
    val (err, errText) = capture()
    val code = Bench.run(
      Map("SPARK_GRAFT_BENCH_ONLY" -> "q1_agg, q_no_such_query,q_typo"), err)
    assert(code == 2)
    assert(errText().contains("q_no_such_query, q_typo"), errText())
    assert(!errText().contains("q1_agg"), "a known name is not unknown")
    assert(Bench.unknownQueries(SparkEntry.queries.keys).isEmpty)
  }
}
