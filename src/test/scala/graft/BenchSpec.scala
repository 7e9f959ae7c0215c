package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Failures are loud in the bench harness: a query that throws fails
  * the bench by name, never reads as a timing. */
class BenchSpec extends SparkSpec {

  test("a query that throws fails the bench, naming the query") {
    val ok: (SparkSession, String) => DataFrame = (s, _) => s.range(10).toDF()
    val boom: (SparkSession, String) => DataFrame =
      (s, _) => s.range(10).selectExpr("raise_error('boom')")
    // the warm-up run throws too and is ignored; the timed rep must not be
    val e = intercept[Bench.QueryFailed] {
      Bench.measure(spark, Map("q_ok" -> ok, "q_boom" -> boom), "sf", Some("warm"), reps = 2)
    }
    assert(e.query == "q_boom")
    assert(e.getMessage.contains("q_boom") && e.getMessage.contains("boom"))
    val times = Bench.measure(spark, Map("q_ok" -> ok), "sf", None, reps = 2)
    assert(times.keySet == Set("q_ok") && times("q_ok")._1 >= 0.0)
  }

  test("timeReps: every rep's result and time, at least one rep") {
    var n = 0
    val runs = Bench.timeReps("q", 0) { n += 1; n }
    assert(runs.map(_._1) == Seq(1) && runs.forall(_._2 >= 0.0))
    intercept[Bench.QueryFailed](Bench.timeReps("q", 3)(sys.error("x")))
  }
}
