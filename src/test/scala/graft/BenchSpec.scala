package graft

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col

/** Failures are loud in the bench harness: a query that throws fails
  * the bench by name, never reads as a timing, and a misspelt mode or
  * query name stops the harness before anything runs. */
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

  private type Mode = (SparkSession, Seq[String], Map[String, Bench.Query]) => Unit
  private val queryModes: Seq[(String, Mode)] = Seq(
    ("time", Bench.time), ("profile", Bench.profile), ("ab", Bench.ab), ("plan", Bench.plan))

  /** What `body` prints, line by line. */
  private def printed(body: => Unit): Seq[String] = {
    val out = new java.io.ByteArrayOutputStream()
    Console.withOut(out)(body)
    out.toString("UTF-8").linesIterator.toSeq
  }

  test("unknown query names fail before any query runs, naming every one") {
    val runs = new AtomicInteger()
    val counted: Bench.Query = (s, _) => { runs.incrementAndGet(); s.range(10).toDF() }
    for ((mode, run) <- queryModes) {
      val e = intercept[Bench.UsageError] {
        run(spark, Seq("1", "q_known", "q_typo", "q_gone"), Map("q_known" -> counted))
      }
      assert(e.getMessage.contains("q_typo") && e.getMessage.contains("q_gone"), mode)
      assert(!e.getMessage.contains("q_known"), mode)
    }
    assert(runs.get == 0, "a query ran before the unknown names failed")
  }

  test("an unknown mode fails listing the modes; every listed mode resolves") {
    val e = intercept[Bench.UsageError](Bench.mode("tiem"))
    assert(e.getMessage.contains("tiem"))
    for ((name, _) <- Bench.modes) {
      assert(e.getMessage.contains(name))
      Bench.mode(name)
    }
    assert(Bench.modes.map(_._1).toSet == Set("time", "profile", "ab", "plan", "expr",
      "gen", "scale", "ann", "ivf", "media", "stream", "ingest", "ledger", "bpe",
      "versionbump", "topk"))
  }

  test("time, profile and ab print one record per query of an injected map") {
    val queries: Map[String, Bench.Query] = Map(
      "q_a" -> ((s, _) => s.range(100).toDF()),
      "q_b" -> ((s, _) => s.range(0, 1000, 1, 4).groupBy(col("id") % 7).count()))
    val records = Seq(
      ("time", "[time] ", (a: Seq[String]) => Bench.time(spark, a, queries)),
      ("profile", "=== ", (a: Seq[String]) => Bench.profile(spark, a, queries)),
      ("ab", "[ab] ", (a: Seq[String]) => Bench.ab(spark, a, queries)))
    for ((mode, prefix, run) <- records) {
      val lines = printed(run(Seq("1", "q_a", "q_b"))).filter(_.startsWith(prefix))
      assert(lines.size == 2 && lines.head.startsWith(s"${prefix}q_a ") &&
        lines(1).startsWith(s"${prefix}q_b "), s"$mode printed:\n${lines.mkString("\n")}")
    }
    assert(spark.conf.getOption("graft.graph.driverLimit").isEmpty,
      "ab must leave the session conf it flips as it found it")
  }

  test("profile's job count equals an independent listener's") {
    val queries: Map[String, Bench.Query] = Map(
      "q_jobs" -> ((s, _) => s.range(0, 1000, 1, 4).groupBy((col("id") % 7).as("k")).count()
        .join(s.range(0, 7).toDF("k"), "k")))
    val started = new AtomicInteger()
    val independent = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties).forall(_.getProperty(Bench.DrainKey) == null))
          started.incrementAndGet()
    }
    spark.sparkContext.addSparkListener(independent)
    // no warm-ups: every job the mode starts belongs to the profiled rep
    val lines = try printed(Bench.profile(spark, Seq("0", "q_jobs"), queries))
      finally spark.sparkContext.removeSparkListener(independent)
    val header = """=== q_jobs profiled rep: wall \d+ ms, (\d+) jobs ===""".r
    val reported = lines.collectFirst { case header(n) => n.toInt }
    assert(reported.contains(started.get), s"profile printed:\n${lines.mkString("\n")}")
    assert(started.get > 1, "the profiled query must run more than one job")
    assert(lines.count(_.startsWith("[job ")) == started.get)
  }

  test("stream rejects an unknown argument with a usage error, naming it") {
    // `tws` named the deleted transformWithState host; then a typo, a
    // third count and a count after a flag
    val bad = Seq(Seq("200", "4", "tws"), Seq("200", "4", "rocksbd"), Seq("200", "4", "5"),
      Seq("rocksdb", "200"))
    val errors = bad.map(a => intercept[Bench.UsageError](StreamBench.run(spark, a)))
    for ((e, word) <- errors.zip(Seq("tws", "rocksbd", "5", "200")))
      assert(e.getMessage.contains(s"unknown argument(s) $word"), e.getMessage)
    assert(errors.forall(_.getMessage.contains("usage: stream")))
  }

  test("ann and ivf plant twins at every rung size, the sf0.01 x1 rung included") {
    import org.apache.spark.sql.functions.{array, lit}
    for (nVecs <- Seq(500L, 799L, 1000L, 20000L)) {
      val emb = AnnScaleBench.withNrm(spark.range(nVecs).select(col("id").as("vec_id"),
        array((0 until 64).map(j => (col("id") % (j + 2) + 1).cast("float")): _*).as("embedding")))
      val baseMod = AnnScaleBench.twinBaseMod(nVecs)
      val twins = AnnScaleBench.plantTwins(emb, baseMod, plantOffset = 100000L).count()
      assert(twins >= nVecs / baseMod - 1 && twins > 0, s"$twins twins of $nVecs vectors")
    }
    val emb = AnnScaleBench.withNrm(spark.range(10).select(col("id").as("vec_id"),
      array(lit(1.0f)).as("embedding")))
    val e = intercept[IllegalArgumentException](AnnScaleBench.plantTwins(emb, 2L, 100L))
    assert(e.getMessage.contains("no twin"))
  }
}
