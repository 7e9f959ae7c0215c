package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** End-to-end wall cost of the composed corpus-version bump
  * ([[graft.batch.Curation.versionBump]], round-15 verdict #3) at
  * sf0.1: version 1 = the split-ledgered curateToShards over the
  * prior corpus (the baseline a recurring pipeline pays anyway), then
  * ONE bump — a new dump of genuinely-new docs plus re-crawled copies
  * — through admission → ledger → re-shard. The component costs are
  * rung-measured separately (qd22 0.089, ledger diff/compact
  * 0.322/0.199, qc7 layout 0.291); this row pins the composition's
  * actual wall clock and the report's rejection counts at fixture
  * scale. One JSON line per the Bench contract. */
object VersionBumpBench {
  def run(spark: SparkSession, args: Seq[String]): Unit = {
    val sfDir = Bench.sfDir()
    val root = java.nio.file.Files.createTempDirectory("vbump").toString
    val p = graft.batch.Curation.Params(splitLedgerDir = Some(s"$root/ledger"))
    val all = Tables.spread(Tables.documents(spark, sfDir)).localCheckpoint()
    val ev = all.filter(pmod(col("doc_id"), lit(10)) === 7)
      .select(col("doc_id"), col("text"))
    val corpus = all.filter(pmod(col("doc_id"), lit(10)) =!= 7)
    val prior = corpus.filter(pmod(col("doc_id"), lit(3)) =!= 1)
    val fresh = corpus.filter(pmod(col("doc_id"), lit(3)) === 1)
    val recrawl = prior.filter(pmod(col("doc_id"), lit(5)) === 0)
      .withColumn("doc_id", col("doc_id") + lit(10000000L))
    val (v1Secs, _) = Bench.timed(graft.batch.Curation.curateToShards(prior, ev, s"$root/v1", 4, p))
    val newSlice = fresh.unionByName(recrawl).localCheckpoint()
    val (bumpSecs, rep) = Bench.timed(graft.batch.Curation
      .versionBump(prior, newSlice, ev, s"$root/v2", 4, p).head())
    // the sigStore arm: identical bump, but the prior side reads its
    // persisted signature table instead of re-minhashing — the
    // recurring pipeline's steady state
    val p2 = graft.batch.Curation.Params(splitLedgerDir = Some(s"$root/ledger2"))
    graft.batch.Curation.curateToShards(prior, ev, s"$root/v1b", 4, p2)
    graft.batch.Dedup.saveSigs(spark, s"$root/sigs", 1L,
      graft.batch.Dedup.minhashSigsOf(prior))
    val (storedSecs, rep2) = Bench.timed(graft.batch.Curation.versionBump(prior, newSlice, ev,
      s"$root/v2b", 4, p2, Some(s"$root/sigs")).head())
    require(rep2.getLong(2) == rep.getLong(2),
      "stored-signature bump must reject the identical set")
    // the SignalStore arm (round-17, verdict #4): v1 persists the whole
    // pass-1 signal table; the bump then (a) feeds admission from the
    // stored mh column and (b) skips pass 1 for every prior doc — the
    // only prior-side touches are one narrow signal read and the shard
    // writer's payload landing. Output equality is require()d at the
    // report AND the shard layout (file-for-file deterministic).
    val p3 = graft.batch.Curation.Params(
      splitLedgerDir = Some(s"$root/ledger3"),
      signalStoreDir = Some(s"$root/signals"))
    val (v1StoreSecs, _) = Bench.timed(graft.batch.Curation.curateToShards(prior, ev, s"$root/v1c", 4, p3))
    val (storeSecs, rep3) = Bench.timed(graft.batch.Curation.versionBump(prior, newSlice, ev,
      s"$root/v2c", 4, p3).head())
    require(rep3.getLong(2) == rep.getLong(2) &&
        rep3.getLong(3) == rep.getLong(3),
      "signal-store bump must reject and admit the identical sets")
    // shard-layout equality vs the from-text bump: same admitted docs,
    // same splits, same bins ⇒ identical (split, shard, doc) rows
    def shardRows(d: String) = spark.read.parquet(s"$d/shards")
      .select(col("split"), col("shard"), col("doc_id"))
    require(shardRows(s"$root/v2c").exceptAll(shardRows(s"$root/v2")).isEmpty &&
        shardRows(s"$root/v2").exceptAll(shardRows(s"$root/v2c")).isEmpty,
      "signal-store bump must land the identical shard layout")
    println(s"""{"metric":"version_bump_secs","value":${Bench.num(bumpSecs)},""" +
      s""""unit":"sec","sf":"$sfDir","v1_secs":${Bench.num(v1Secs)},""" +
      s""""bump_stored_sigs_secs":${Bench.num(storedSecs)},""" +
      s""""v1_signal_store_secs":${Bench.num(v1StoreSecs)},""" +
      s""""bump_signal_store_secs":${Bench.num(storeSecs)},""" +
      s""""ledger_version":${rep.getLong(0)},"n_new":${rep.getLong(1)},""" +
      s""""n_rejected":${rep.getLong(2)},"n_admitted":${rep.getLong(3)},""" +
      s""""n_recrawl":${recrawl.count()}}""")
  }
}
