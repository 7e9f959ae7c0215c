package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0); val outDir = args(1)
    // optional extra args: run only these queries (local iteration; the
    // driver always calls with exactly two args → full run)
    val only = args.drop(2).toSet
    val spark = Bench.session()
    new java.io.File(outDir).mkdirs()
    // a failed query leaves NO parquet under outDir, and the driver's
    // compare silently omits queries with no output (round 7's
    // qst2/qst4 vanished from CORRECTNESS exactly this way when a
    // fixture regeneration changed the events timestamp type) — so
    // collect failures and make them impossible to miss: a loud
    // end-of-run banner plus verify_errors.json next to the outputs
    val failures = scala.collection.mutable.ListBuffer[(String, String)]()
    SparkEntry.queries
      .filter { case (name, _) => only.isEmpty || only(name) }
      .foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
        failures += name -> String.valueOf(e.getMessage)
      }
    }
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${Bench.str(k)}: ${Bench.str(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    val errJson = failures
      .map { case (k, v) => s"${Bench.str(k)}: ${Bench.str(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/verify_errors.json"), errJson)
    if (failures.nonEmpty)
      println(s"[verify] ${failures.size} QUERIES FAILED TO DUMP: " +
        failures.map(_._1).mkString(", ") + " — see verify_errors.json")
    spark.stop()
  }
}
