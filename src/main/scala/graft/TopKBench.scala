package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** Micro-benchmark: native GroupTopK vs the window formulation
  * (which Spark 4 already optimizes with sort-based WindowGroupLimit).
  * `KEYS=1000 sbt "runMain graft.Bench topk"` — 20M rows, top-5 per key.
  *
  * Measured regimes (local[32], see PLANS.md): few keys relative to
  * rows → the heap operator wins ~1.5× (no sort, O(k·keys) state);
  * very high key cardinality (~rows/200) → Tungsten's codegen radix
  * sort wins — pick per workload.
  */
object TopKBench {
  def run(spark: SparkSession, args: Seq[String]): Unit = {
    val keys = sys.env.getOrElse("KEYS", "1000").toLong
    val df = spark.range(0, 20000000).select(
      (col("id") % keys).as("key"),
      ((col("id") * 2654435761L) % 1000000).as("v"), col("id").as("tid"))
    df.count() // warm the scan
    def time(what: String)(f: => Long): Unit = {
      val (secs, n) = Bench.timed(f)
      println(s"$what: ${Bench.num(secs, 2)} s ($n rows)")
    }
    val w = Window.partitionBy("key").orderBy(col("v").desc, col("tid").asc)
    for (_ <- 1 to 2) {
      time("window ") { df.withColumn("rank", row_number().over(w)).filter(col("rank") <= 5).count() }
      time("native ") { plans.GroupTopK.topK(df, Seq("key"), Seq(col("v").desc, col("tid").asc), 5).count() }
    }
  }
}
