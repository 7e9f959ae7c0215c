package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** SplitLedger assign-cost rungs (round-15 verdict #4): the spec pins
  * the delta layout's BYTES ratio; this bench pins its TIME — the
  * read-merge (reconstruct base + diff chain) and write (O(changed)
  * diff vs bounded-cadence compaction) costs the 100 TB claim rests
  * on. Per rung (x1/x10/x30 member counts) it drives one version
  * CADENCE — `SPARK_GRAFT_LEDGER_VERSIONS` assigns (default 5, with
  * `ledgerCompactEvery` = 4 so exactly one compaction lands INSIDE the
  * window) where each version appends 5% new docs and re-clusters a
  * 1% slice (the churn shape of a recurring crawl: append-dominated,
  * sticky moves rare) — and reports per-version seconds plus the
  * fitted exponent between the smallest and largest rung on
  *   - a representative DIFF version (v3: read ≤ chain, write
  *     O(changed)), and
  *   - the COMPACTION version (v5: read ≤ chain, write O(corpus) — the
  *     full rewrite, recurring only on the bounded cadence).
  * Members are synthetic ((id, id div 3) three-doc clusters — assign
  * cost does not depend on text, only on member/changed counts). One
  * JSON line per the Bench contract. */
object LedgerBench {
  def run(spark: SparkSession, args: Seq[String]): Unit = {
    val baseN = sys.env.get("SPARK_GRAFT_LEDGER_BASE").flatMap(_.toLongOption)
      .getOrElse(54000L) // sf0.1's corpus-side doc count, the x1 anchor
    val scales = Bench.scales("1,10,30")
    val nVersions = sys.env.get("SPARK_GRAFT_LEDGER_VERSIONS")
      .flatMap(_.toIntOption).getOrElse(5)
    require(nVersions >= 5,
      "LedgerBench needs ≥ 5 versions: v3 prices the diff shape and v5 the compaction")
    spark.conf.set("spark.graft.ledgerCompactEvery", "4")

    /** Version v's membership at rung scale s: the base corpus plus
      * 5%·(v−1) appended docs, in (id div 3) clusters; each version
      * additionally BRIDGES a 1% slice into the neighbouring cluster
      * (cluster_id − 1 for ids ≡ 0 mod 100·v), modelling the rare
      * re-cluster that makes a split move. */
    def membersAt(n: Long, v: Int) = {
      val total = n + (v - 1) * (n / 20)
      spark.range(total)
        .select(col("id").as("doc_id"),
          when(pmod(col("id"), lit(100L * v)) === 0 && col("id") >= 3,
            (col("id") / 3).cast("long") - 1)
            .otherwise((col("id") / 3).cast("long")).as("cluster_id"))
    }

    val rungs = scales.map { s =>
      val n = baseN * s
      val dir = java.nio.file.Files.createTempDirectory(s"ledger_x$s").toString
      val secs = (1 to nVersions).map { v =>
        val m = membersAt(n, v).localCheckpoint() // gen cost off the clock
        Bench.timed(Bench.execute(graft.batch.SplitLedger.assign(spark, dir, m)))._1
      }
      val vs = secs.zipWithIndex
        .map { case (t, i) => s""""v${i + 1}":${Bench.num(t)}""" }.mkString(",")
      (s, secs, s""""x$s":{"n":$n,$vs}""")
    }
    def expOf(pick: Seq[Double] => Double): Double =
      Bench.exponent(pick(rungs.head._2), pick(rungs.last._2), rungs.head._1, rungs.last._1)
    val diffExp = expOf(_(2))      // v3: a plain diff version
    val compactExp = expOf(_(4))   // v5: the cadence's full rewrite
    println(s"""{"metric":"ledger_assign_secs","value":${Bench.num(rungs.last._2.sum)},""" +
      s""""unit":"sec","scales":"${scales.mkString(",")}","versions":$nVersions,""" +
      s""""diff_exponent":${Bench.num(diffExp)},"compact_exponent":${Bench.num(compactExp)},""" +
      s""""rungs":{${rungs.map(_._3).mkString(",")}}}""")
  }
}
