package graftbench

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.SparkEntry
import graft.functions.GraftFunctions

/** Read-only batch curation: `SparkEntry.queries` covering the six
  * batch modules (Relational, Dedup, Similarity, Multimodal, TextOps,
  * Curation) over seeded tables run.py generates. Each query's first
  * execution writes its result (for run.py's DuckDB oracle check) and
  * is timed as its cold run; warm passes then time plain executions. */
object CurateBatch extends Workload {
  val name = "curate_batch"
  val reps = 3
  /** Nominal seconds per warm pass over the queries (sizes the run). */
  val nominalPassS = 8.0

  /** Execute the full physical plan (a bare count() would let Catalyst
    * prune projection-only work), then drop the blocks this call cached. */
  def execute(ctx: Ctx, q: String, dir: String, writeTo: Option[String] = None): Double = {
    val sc = ctx.spark.sparkContext
    val pre = sc.getPersistentRDDs.keySet
    val t0 = System.nanoTime()
    ctx.ops(q)(Trace.span("batch.query", q) {
      val df = SparkEntry.queries(q)(ctx.spark, dir)
      writeTo match {
        case Some(path) => df.write.parquet(path)
        case None => df.queryExecution.toRdd.count()
      }
    })
    val dt = (System.nanoTime() - t0) / 1e9
    sc.getPersistentRDDs.filter { case (id, _) => !pre(id) }.values.foreach(_.unpersist(blocking = true))
    dt
  }

  def run(ctx: Ctx): Outcome = {
    val spark = ctx.spark
    val dir = ctx.work.resolve("tables").toString
    require(ctx.inputGenS.nonEmpty, "curate_batch needs the tables run.py generates")
    if (ctx.trace) Trace.attach(spark.sparkContext)

    // set-up: JIT and parquet footers, not any query's own plan
    val warmS = (1 to reps).map { _ =>
      val t0 = System.nanoTime()
      ctx.ops("warm-up")(spark.range(1000000L).selectExpr("sum(id)").collect())
      Seq("documents", "embeddings", "events", "part", "orders", "lineitem", "customer")
        .foreach(t => ctx.ops(s"scan $t")(spark.read.parquet(s"$dir/$t.parquet").count()))
      (System.nanoTime() - t0) / 1e9
    }

    val qs = Metrics.queries
    val results = ctx.work.resolve("results")
    val cold = qs.map(q => q -> execute(ctx, q, dir, Some(results.resolve(q).toString))).toMap
    val passes = {
      val p = math.max(1, math.round(ctx.seconds / nominalPassS).toInt)
      // a traced run traces the even passes and needs an odd count of
      // at least 3, so each traced pass sits between two untraced ones
      if (ctx.trace) math.max(3, p | 1) else p
    }
    val warm = (1 to passes).map { p =>
      Trace.set(ctx.trace && p % 2 == 0)
      val t = qs.map(q => q -> execute(ctx, q, dir)).toMap
      (ctx.trace && p % 2 == 0) -> t
    }
    Trace.set(false)
    def steadyOf(ps: Seq[Map[String, Double]]) = qs.map(q => q -> Stats.median(ps.map(_(q)))).toMap
    val steady = steadyOf(warm.map(_._2))

    System.err.println(s"graftbench: seconds: session ${ctx.sessionStartS}, " +
      s"tables ${ctx.inputGenS.mkString(" ")}, warm-up ${warmS.mkString(" ")}, " +
      s"cold ${cold.values.sum}, warm passes ${warm.map(_._2.values.sum).mkString(" ")}")

    // run.py compares each result with its DuckDB oracle; an empty
    // result would match an empty oracle and prove nothing
    val empty = qs.filter(q =>
      ctx.ops(s"read result $q")(spark.read.parquet(results.resolve(q).toString).isEmpty))
    val sqls = SparkEntry.oracleSql
    val missing = qs.filterNot(sqls.contains)
    java.nio.file.Files.write(results.resolve("oracle_sql.json"),
      qs.filter(sqls.contains).map(q => s"${Json.str(q)}:${Json.str(sqls(q))}")
        .mkString("{", ",", "}").getBytes("UTF-8"))

    val st = steady.values.toSeq
    val e2e = Map(
      "setup_s" -> Metric(ctx.sessionStartS + Stats.median(ctx.inputGenS) + Stats.median(warmS), "s"),
      "latency_s.p50" -> Metric(Stats.percentile(st, 50), "s"),
      "throughput_per_s" -> Metric(qs.size / st.sum, "1/s"),
      "heap_peak_mb" -> Metric(ctx.heapPeakMb, "MB"))
    val detail = Map(
      "batch.cold_s" -> Metric(cold.values.sum, "s"),
      "batch.steady_s" -> Metric(st.sum, "s"),
      "batch.warm_passes" -> Metric(passes, "count"))
    val layers =
      if (!ctx.trace) Map.empty[String, Metric]
      else {
        val traced = steadyOf(warm.filter(_._1).map(_._2))
        queryLayers(ctx, traced) ++ functionLayers(ctx) + ("trace.overhead_pct" ->
          Metric(100 * Stats.tracedOverhead(warm.map { case (t, q) => t -> q.values.sum }), "%"))
      }
    Outcome(missing.map(q => s"$q has no DuckDB oracle") ++ empty.map(q => s"$q returned no rows"),
      e2e, layers, detail)
  }

  /** Per query, over its traced warm executions: median time, jobs,
    * tasks, shuffle bytes written and driver gap. */
  private def queryLayers(ctx: Ctx, steady: Map[String, Double]): Map[String, Metric] = {
    val jobs = Trace.jobs(ctx.spark.sparkContext)
    val all = Trace.allSpans
    val runs = all.filter(_.name == "batch.query").groupBy(_.tag)
    Metrics.queries.flatMap { q =>
      val per = runs.getOrElse(q, Nil).map(s => s -> Trace.jobsOf(s, all, jobs))
      def med(f: ((Span, Seq[JobRec])) => Double) = Stats.median(per.map(f))
      Seq(
        s"batch.$q.steady_s" -> Metric(steady(q), "s"),
        s"batch.$q.jobs" -> Metric(med(_._2.size.toDouble), "count"),
        s"batch.$q.tasks" -> Metric(med(_._2.map(_.tasks).sum.toDouble), "count"),
        s"batch.$q.shuffle_bytes" -> Metric(med(_._2.map(_.shuffleBytes).sum.toDouble), "bytes"),
        s"batch.$q.driver_gap_s" -> Metric(med(p => Trace.gapMs(p._1, p._2) / 1000), "s"))
    }.toMap
  }

  /** ns per row of each native function over a generated, cached frame:
    * best of three timed projections minus the same projection of the
    * bare inputs. */
  private def functionLayers(ctx: Ctx): Map[String, Metric] = {
    val spark = ctx.spark
    val rows = 20000L
    val rnd = (i: Int) => rand(ctx.seed * 31 + i)
    def vec(i: Int): Column = transform(sequence(lit(1), lit(64)), k => (rnd(i) * k % 1.0 - 0.5).cast("float"))
    val frame = spark.range(rows).select(
      transform(sequence(lit(1), lit(4)), k => ((k * 9973 + col("id") * 31) % 65536).cast("int")).as("words"),
      concat_ws(" ", transform(sequence(lit(1), lit(50)), k =>
        substring(md5(concat(col("id").cast("string"), k.cast("string"))), 1, 4))).as("text"),
      repeat(substring(md5(col("id").cast("string")), 1, 8), 40).as("media"),
      vec(1).as("a"), vec(2).as("b"))
      .withColumn("nrm", sqrt(GraftFunctions.vec_dot(col("a"), col("a"))))
      .withColumn("pa", GraftFunctions.int8_pack(col("a"), lit(0.5 / 127)))
      .withColumn("pb", GraftFunctions.int8_pack(col("b"), lit(0.5 / 127)))
      .cache()
    ctx.ops("functions frame")(frame.count())
    val cs = spark.range(32).select(col("id").as("cid"), vec(3).as("ce"))
      .withColumn("cn", sqrt(GraftFunctions.vec_dot(col("ce"), col("ce"))))
      .agg(sort_array(collect_list(struct(col("cid"), col("ce"), col("cn")))).as("cs"))
    val withCs = frame.crossJoin(broadcast(cs))
    def best(df: => DataFrame): Double = (1 to 3).map { _ =>
      val t0 = System.nanoTime()
      df.queryExecution.toRdd.count()
      System.nanoTime() - t0
    }.min.toDouble
    val cases: Seq[(String, DataFrame, Seq[Column], Column)] = Seq(
      ("decode_plc_words", frame, Seq(col("words")), GraftFunctions.decode_plc_words(col("words"))),
      ("minhash_sigs", frame, Seq(col("text")), GraftFunctions.minhash_sigs(col("text"))),
      ("phash_blocks", frame, Seq(col("media")), GraftFunctions.phash_blocks(col("media"), 32)),
      ("vec_dot", frame, Seq(col("a"), col("b")), GraftFunctions.vec_dot(col("a"), col("b"))),
      ("int8_dot", frame, Seq(col("pa"), col("pb")), GraftFunctions.int8_dot(col("pa"), col("pb"))),
      ("nearest_cells", withCs, Seq(col("a"), col("nrm"), col("cs")),
        GraftFunctions.nearest_cells(col("cs"), col("a"), col("nrm"), 4)))
    val out = cases.map { case (f, df, inputs, expr) =>
      val ns = ctx.ops(s"function $f") {
        Trace.span("functions", f) {
          math.max(0.0, best(df.select(inputs :+ expr.as("out"): _*)) - best(df.select(inputs: _*)))
        }
      }
      s"functions.$f.ns_per_row" -> Metric(ns / rows, "ns")
    }.toMap
    frame.unpersist()
    out
  }
}
