package graft.stream

import java.nio.file.Files

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._

import graft.batch.Graph

/** The one-pass membrane verdicts against the post-hoc ledger passes
  * they replace ([[LedgerOracle]]): over the same batches, the same
  * admitted docs, the same metrics rows and, row for row, the same
  * chain-resolved ledger — per membrane and for the composed pipeline,
  * on the IngestBench-shaped corpus with malformed embeddings, and on
  * both sides of every probe size gate (trickle IN, broadcast, bulk
  * shuffle). Ledgers compare after chain resolution, the form the
  * stores hold: for an exact copy (same content hash or embedding) a
  * verdict names the copy's min doc as dup_of where the post-hoc pass
  * named the min's own witness, one hop further along the same chain. */
class VerdictEquivalenceSpec extends graft.SparkSpec {
  import spark.implicits._

  private val regimes = Seq(
    "trickle" -> Seq.empty[(String, String)],
    "broadcast" -> Seq("spark.graft.ingest.isinKeyLimit" -> "0"),
    "bulk" -> Seq("spark.graft.ingest.isinKeyLimit" -> "0",
      "spark.graft.ingest.broadcastKeyLimit" -> "0",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1"))

  private def withConf(pairs: Seq[(String, String)])(f: => Unit): Unit = {
    val olds = pairs.map { case (k, _) => k -> spark.conf.getOption(k) }
    pairs.foreach { case (k, v) => spark.conf.set(k, v) }
    try f finally olds.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  private def rows(df: DataFrame): Set[Row] = df.collect().toSet
  private def resolved(ledger: DataFrame): Set[Row] =
    rows(Graph.terminals(ledger, "doc_id", "dup_of", Seq("reason")))
  private def fresh(tag: String) = Files.createTempDirectory(s"graft_verdict_$tag").toString

  // three epochs of 60 docs — every group kind, exact payload copies
  // (hash = group mod 8) and a malformed embedding in every third
  // group's v3 doc — plus, from epoch 1 on, re-arrivals of 15 docs of
  // the previous epoch under new ids, so every corpus probe hits
  private def batch(e: Long) = {
    val own = IngestFixture.docs(spark, 7, e * 60, (e + 1) * 60, malformedEvery = 3)
    if (e == 0) own
    else own.unionByName(IngestFixture.docs(spark, 7, (e - 1) * 60, (e - 1) * 60 + 15,
      malformedEvery = 3).withColumn("doc_id", col("doc_id") + 100000L))
  }

  for ((regime, conf) <- regimes) {
    test(s"composed pipeline ($regime): admitted set, metrics, ledger and clusters equal the post-hoc path") {
      withConf(conf) {
        val (dirV, dirO) = (fresh("v") + "/mm", fresh("o") + "/mm")
        Seq(dirV, dirO).foreach(IngestFixture.init(spark, 7, _))
        (0L to 2L).foreach { e =>
          MultimodalIngest.ingestBatch(batch(e), dirV, e, tau = 0.99)
          LedgerOracle.Composed.ingestBatch(batch(e), dirO, e, tau = 0.99)
        }
        def ids(d: String) = rows(MultimodalIngest.corpus(spark, d).select("doc_id"))
        assert(ids(dirV) == ids(dirO))
        assert(ids(dirV).size == 3 * 12 + 1, "kept = every group's v0 plus the first v4")
        assert(rows(MultimodalIngest.metrics(spark, dirV)) == rows(MultimodalIngest.metrics(spark, dirO)))
        val ledger = rows(MultimodalIngest.ledger(spark, dirV))
        assert(ledger == rows(MultimodalIngest.ledger(spark, dirO)))
        assert(ledger.map(_.getString(2)) == Set("exact_batch", "exact_corpus", "near_batch",
          "near_corpus", "media_batch", "media_corpus", "embed_batch", "embed_corpus", "malformed"))
        assert(rows(MultimodalIngest.clusters(spark, dirV)) ==
          rows(MultimodalIngest.clusters(spark, dirO)))

        // a replayed epoch rewrites identical stores
        def stores(d: String) = Seq("text/corpus", "text/exact_idx", "text/band_idx",
          "media/media_idx", "embed/cells", "ledger", "metrics")
          .map(t => t -> rows(spark.read.parquet(s"$d/$t")))
        val before = stores(dirV)
        MultimodalIngest.ingestBatch(batch(2), dirV, 2, tau = 0.99)
        assert(stores(dirV) == before)
      }
    }

    test(s"text membrane ($regime): corpus and ledger equal the post-hoc path") {
      withConf(conf) {
        val (dirV, dirO) = (fresh("tv"), fresh("to"))
        (0L to 2L).foreach { e =>
          val b = batch(e).select("doc_id", "text")
          IngestDedup.ingestBatch(b, dirV, e)
          LedgerOracle.Text.ingestBatch(b, dirO, e)
        }
        assert(rows(spark.read.parquet(s"$dirV/corpus").select("doc_id")) ==
          rows(spark.read.parquet(s"$dirO/corpus").select("doc_id")))
        assert(rows(IngestDedup.ledger(spark, dirV)) == rows(IngestDedup.ledger(spark, dirO)))
        assert(rows(IngestDedup.ledger(spark, dirV)).map(_.getString(2)) ==
          Set("exact_batch", "exact_corpus", "near_batch", "near_corpus"))
      }
    }

    test(s"media membrane ($regime): admitted set and ledger equal the post-hoc path") {
      withConf(conf) {
        val dir = fresh("m")
        (0L to 2L).foreach { e =>
          val b = batch(e)
          val v = MediaIngest.verdicts(b, dir, e).localCheckpoint()
          val keep = LedgerOracle.Media.survivors(b, dir, e).localCheckpoint()
          assert(rows(v.filter(col("reason").isNull).select("doc_id")) ==
            rows(keep.select("doc_id")))
          assert(resolved(IngestDedup.rejections(v)) ==
            resolved(LedgerOracle.Media.rejectionLedger(b, dir, e, keep)))
          if (e > 0) assert(rows(IngestDedup.rejections(v).select("reason")) ==
            Set(Row("media_batch"), Row("media_corpus")))
          MediaIngest.ingestBatch(b, dir, e)
        }
      }
    }
  }

  test("embed membrane: admitted set and ledger (malformed rows included) equal the post-hoc path") {
    val dir = fresh("e")
    IngestFixture.init(spark, 7, dir)
    val embedDir = s"$dir/embed"
    (0L to 2L).foreach { e =>
      val b = batch(e).select(col("doc_id").as("vec_id"), col("embedding"))
      val v = EmbedIngest.verdicts(b, embedDir, e, 0.99, 4).localCheckpoint()
      val keep = LedgerOracle.Embed.survivors(b, embedDir, e, 0.99, 4).localCheckpoint()
      assert(rows(EmbedIngest.admitted(v)) == rows(keep))
      val oracle = LedgerOracle.Embed.rejectionLedger(b, embedDir, e, keep, 0.99, 4)
        .withColumnRenamed("vec_id", "doc_id")
      assert(resolved(IngestDedup.rejections(v, "vec_id")) == resolved(oracle))
      assert(rows(IngestDedup.rejections(v, "vec_id").select("reason")) ==
        Set(Row("embed_batch"), Row("malformed")) ++
          (if (e > 0) Set(Row("embed_corpus")) else Set.empty))
      EmbedIngest.admitted(v).write.mode("overwrite").partitionBy("cell")
        .parquet(s"$embedDir/cells/epoch=$e")
    }
  }

  /** The one documented departure ([[EmbedIngest.verdicts]]): in-batch
    * witnesses are capped per cell at [[EmbedIngest.InBatchWitnessCap]],
    * the post-hoc pass's were not. Vector 3000 probes cells 1 and 2; its
    * smallest tau-near batch-mate 1000 sits in cell 1 only, behind 512
    * smaller-id fillers that crowd it past the cap, while the larger
    * 2000 witnesses it inside cell 2's prefix. Both forms reject 3000 —
    * the verdict names 2000, the uncapped pass named 1000. */
  test("a witness past the cap in a crowded cell: same rejection, larger dup_of") {
    val dir = fresh("cap")
    def at(deg: Double) = Seq(math.cos(math.toRadians(deg)).toFloat,
      math.sin(math.toRadians(deg)).toFloat)
    EmbedIngest.init(spark, dir, Seq(-20.0, 0.0, 20.0, 180.0).zipWithIndex
      .map { case (deg, i) => (i.toLong, at(deg), 1.0) }.toDF("cid", "ce", "cn"))
    val cap = EmbedIngest.InBatchWitnessCap
    val fillers = (1 to cap).map(i => (i.toLong, at(-8.0 - i * 1e-3)))
    val b = (fillers ++ Seq(1000L -> at(-1.0), 2000L -> at(15.0), 3000L -> at(9.0)))
      .toDF("vec_id", "embedding")
    val v = EmbedIngest.verdicts(b, dir, 0, 0.98, 2).localCheckpoint()
    val keep = LedgerOracle.Embed.survivors(b, dir, 0, 0.98, 2)
    assert(rows(EmbedIngest.admitted(v).select("vec_id")) == rows(keep.select("vec_id")))
    def of3000(df: DataFrame) =
      df.filter(col("vec_id") === 3000L).select("dup_of", "reason").collect().toSeq
    assert(of3000(v) == Seq(Row(2000L, "embed_batch")))
    assert(of3000(LedgerOracle.Embed.rejectionLedger(b, dir, 0, keep, 0.98, 2)) ==
      Seq(Row(1000L, "embed_batch")))
  }
}
