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

  def run(spark: SparkSession, args: Seq[String]): Unit = {
    val srcDir = Bench.sfDir()
    val scales = Bench.scales("1,3,10")
    val reps = Bench.benchReps(3)
    val named = Bench.lookup(Queries, SparkEntry.queries)

    val dirs = scales.map { n =>
      val dir = s"${Bench.scaleDir}/x$n"
      ScaleGen.amplify(spark, srcDir, dir, n)
      n -> dir
    }

    // JIT/codegen warmup on the smallest rung so rung order doesn't
    // masquerade as scaling
    val warmDir = dirs.head._2
    named.foreach { case (_, fn) => Bench.warm(Bench.execute(fn(spark, warmDir))) }

    // rows, cold, steady per (query, rung)
    val results: Seq[(String, Int, Long, Double, Double)] =
      for ((n, dir) <- dirs; (q, fn) <- named) yield {
        val runs = Bench.timeReps(s"$q at x$n", reps)(Bench.execute(fn(spark, dir)))
        val times = runs.map(_._2)
        (q, n, runs.last._1, times.head, times.min)
      }

    def exponentOf(q: String): Double = {
      val rs = results.filter(_._1 == q)
      Bench.exponent(rs.find(_._2 == scales.head).get._5, rs.find(_._2 == scales.last).get._5,
        scales.head, scales.last)
    }
    val perQuery = Queries.map { q =>
      val rungs = results.filter(_._1 == q).map { case (_, n, rows, cold, steady) =>
        s""""x$n":{"rows":$rows,"cold":${Bench.num(cold)},"steady":${Bench.num(steady)}}"""
      }.mkString(",")
      s""""$q":{$rungs,"exponent":${Bench.num(exponentOf(q))}}"""
    }.mkString("{", ",", "}")

    println(s"""{"metric":"scale_exponent_max","value":${Bench.num(Queries.map(exponentOf).max)},""" +
      s""""unit":"exponent","scales":"${scales.mkString(",")}","src":"$srcDir","queries":$perQuery}""")
  }
}
