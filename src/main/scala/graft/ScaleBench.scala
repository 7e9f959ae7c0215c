package graft

import org.apache.spark.sql.SparkSession

/** Empirical scaling evidence for the heaviest operators: run them on
  * [[ScaleGen]]'s isomorphic 1×/3×/10× rungs of the sf0.1 fixture and
  * report, per query, the measured times and the fitted scaling
  * exponent  e = ln(t_hi / t_lo) / ln(scale_hi / scale_lo)  on steady
  * times between the smallest and largest rung (e ≈ 1 is linear;
  * local constant overheads — scheduling floor, fixed exchanges —
  * bias e DOWNWARD at these sizes, so anything ≈ 1 or below is
  * scale-clean and only a clearly super-linear e needs a plan
  * diagnosis). Output row counts per rung ride along: they separate
  * "more time because more answer" from "more time per answer".
  *
  * One JSON line per the Bench contract; BASELINE.md records the
  * numbers and the per-query diagnosis.
  */
object ScaleBench {

  /** The five heaviest queries by BASELINE.md steady time — the ones
    * whose 100 TB claims the scaling rungs are meant to test.
    * `SPARK_GRAFT_SCALE_QUERIES` overrides with any comma-separated
    * subset of SparkEntry.queries that reads only documents/embeddings
    * (the tables ScaleGen amplifies) — e.g. the banded/capped text
    * family: qd2_minhash_lsh,qd8_lsh_capped,qd9_substring_dup,
    * qd14_simhash_neardup,qt10_token_budget,qt16_chunk_windows. */
  private val Queries = sys.env.get("SPARK_GRAFT_SCALE_QUERIES")
    .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSeq)
    .getOrElse(Seq(
      "qc1_curation", "qc2_multimodal_curation", "qd13_cell_neardup",
      "qd6_dup_clusters", "qm4_video_framedup"))

  def main(args: Array[String]): Unit = {
    val srcDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val outRoot = sys.env.getOrElse("SPARK_GRAFT_SCALE_DIR", "target/scale")
    val scales = sys.env.getOrElse("SPARK_GRAFT_SCALES", "1,3,10")
      .split(",").map(_.trim.toInt).toSeq.sorted
    val reps = sys.env.get("SPARK_GRAFT_BENCH_REPS").flatMap(_.toIntOption).getOrElse(3)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "8")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.adaptive.coalescePartitions.parallelismFirst", "false")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    val dirs = scales.map { n =>
      val dir = s"$outRoot/x$n"
      ScaleGen.amplify(spark, srcDir, dir, n)
      n -> dir
    }

    // JIT/codegen warmup on the smallest rung so rung order doesn't
    // masquerade as scaling
    val warmDir = dirs.head._2
    Queries.foreach { q =>
      try SparkEntry.queries(q)(spark, warmDir).queryExecution.toRdd.count()
      catch { case _: Throwable => () }
    }

    // rows, cold, steady per (query, rung)
    val results: Seq[(String, Int, Long, Double, Double)] =
      Bench.failLoudly(spark) {
        for ((n, dir) <- dirs; q <- Queries) yield {
          val runs = Bench.timeReps(s"$q at x$n", reps)(
            SparkEntry.queries(q)(spark, dir).queryExecution.toRdd.count())
          val times = runs.map(_._2)
          (q, n, runs.last._1, times.head, times.min)
        }
      }

    def d3(v: Double): String =
      String.format(java.util.Locale.ROOT, "%.3f", Double.box(v))

    val lo = scales.head.toDouble
    val hi = scales.last.toDouble
    val perQuery = Queries.map { q =>
      val rs = results.filter(_._1 == q)
      val tLo = rs.find(_._2 == scales.head).get._5
      val tHi = rs.find(_._2 == scales.last).get._5
      val exp = math.log(tHi / tLo) / math.log(hi / lo)
      val rungs = rs.map { case (_, n, rows, cold, steady) =>
        s""""x$n":{"rows":$rows,"cold":${d3(cold)},"steady":${d3(steady)}}"""
      }.mkString(",")
      s""""$q":{$rungs,"exponent":${d3(exp)}}"""
    }.mkString("{", ",", "}")

    println(s"""{"metric":"scale_exponent_max","value":${d3(
      Queries.map { q =>
        val rs = results.filter(_._1 == q)
        math.log(rs.find(_._2 == scales.last).get._5 /
          rs.find(_._2 == scales.head).get._5) / math.log(hi / lo)
      }.max)},"unit":"exponent","scales":"${scales.mkString(",")}","src":"$srcDir","queries":$perQuery}""")
    spark.stop()
  }
}
