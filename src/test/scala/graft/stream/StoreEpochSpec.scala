package graft.stream

import java.nio.file.Files

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** The two commit routes of an ingest epoch ([[StoreEpoch.commit]]):
  * the driver route (one gate job, driver-written files installed as
  * `epoch=N`) and the distributed route (Spark's writers), forced with
  * [[MultimodalIngest.ingestBatchWith]]'s row bound, leave the same rows
  * and schemas in all seven stores — after two epochs, after a compact,
  * on replay, on a route switch, for an epoch whose store output is
  * empty, and after a crash between removing `epoch=N` and renaming its
  * temporary into place. Also: the footer-schema read ≡
  * `spark.read.parquet`, and the metrics row counted on the driver ≡
  * the aggregate over the membrane verdicts it replaced. */
class StoreEpochSpec extends graft.SparkSpec {
  import spark.implicits._

  private val Stores = Seq("text/corpus", "text/exact_idx", "text/band_idx",
    "media/media_idx", "embed/cells", "ledger", "metrics")
  private val Driver = graft.stream.Sinks.DriverRouteRows
  private val Distributed = 0L

  private def fresh(tag: String): String = {
    val dir = Files.createTempDirectory(s"graft_store_epoch_$tag").toString + "/mm"
    IngestFixture.init(spark, 11, dir)
    dir
  }

  // 60 docs per epoch, malformed embeddings in every third group, and
  // from epoch 1 on re-arrivals of 10 docs of the previous epoch under
  // new ids, so every corpus probe hits
  private def batch(e: Long): DataFrame = {
    val own = IngestFixture.docs(spark, 11, e * 60, (e + 1) * 60, malformedEvery = 3)
    if (e == 0) own
    else own.unionByName(IngestFixture.docs(spark, 11, (e - 1) * 60, (e - 1) * 60 + 10,
      malformedEvery = 3).withColumn("doc_id", col("doc_id") + 100000L))
  }

  private def ingest(dir: String, e: Long, bound: Long, docs: DataFrame = null): Unit =
    MultimodalIngest.ingestBatchWith(Option(docs).getOrElse(batch(e)), dir, e, tau = 0.99,
      nProbe = 4, mediaBandBits = 8, lmModelDir = None, driverRows = bound)

  private def snapshot(dir: String): Seq[(String, StructType, Set[Row])] = Stores.map { t =>
    val df = spark.read.parquet(s"$dir/$t")
    (t, df.schema, df.collect().toSet)
  }

  private def assertSame(a: String, b: String): Unit =
    snapshot(a).zip(snapshot(b)).foreach { case ((t, sa, ra), (_, sb, rb)) =>
      assert(sa == sb, s"$t schema")
      assert(ra == rb, s"$t rows: ${(ra -- rb).take(3)} vs ${(rb -- ra).take(3)}")
    }

  /** The data files of epoch `e` of `store`, and whether the driver
    * wrote them (`part-e<N>-…`) rather than a Spark task. */
  private def writers(dir: String, store: String, e: Long): Set[Boolean] = {
    def files(f: java.io.File): Seq[java.io.File] =
      if (f.isFile) Seq(f).filter(_.getName.endsWith(".parquet"))
      else Option(f.listFiles).toSeq.flatten.filterNot(_.getName.startsWith(".")).flatMap(files)
    files(new java.io.File(s"$dir/$store/epoch=$e")).map(_.getName.startsWith(s"part-e$e-")).toSet
  }

  test("driver route ≡ distributed route: all seven stores after two epochs and after compact") {
    val (d, s) = (fresh("d"), fresh("s"))
    (0L to 1L).foreach { e => ingest(d, e, Driver); ingest(s, e, Distributed) }
    Stores.foreach { t =>
      // the one admitted media doc is in epoch 0; the media index's
      // epoch 1 is empty
      val e = if (t == "media/media_idx") 0 else 1
      assert(writers(d, t, e) == Set(true), s"$t: the driver wrote epoch $e")
      assert(writers(s, t, e) == Set(false), s"$t: Spark wrote epoch $e")
    }
    assertSame(d, s)
    // the footer-schema read of every store, from either writer
    for (dir <- Seq(d, s); t <- Stores) {
      val (viaFooter, inferred) = (StoreEpoch.read(spark, s"$dir/$t").get,
        spark.read.parquet(s"$dir/$t"))
      assert(viaFooter.schema == inferred.schema, s"$dir/$t")
      assert(viaFooter.collect().toSet == inferred.collect().toSet, s"$dir/$t")
    }
    Seq(d, s).foreach(MultimodalIngest.compact(spark, _, upTo = 2))
    assertSame(d, s)
    assert(MultimodalIngest.corpus(spark, d).count() == 2 * 12 + 1,
      "kept = every group's v0 plus the first v4")
  }

  test("driver route ≡ distributed route: replays and a route switch between epochs") {
    val (ref, mixed) = (fresh("ref"), fresh("mix"))
    (0L to 2L).foreach(ingest(ref, _, Driver))
    ingest(mixed, 0, Driver)
    ingest(mixed, 1, Distributed)
    ingest(mixed, 2, Driver)
    assertSame(ref, mixed)
    // a replay takes either route and converges
    ingest(mixed, 2, Distributed)
    assert(writers(mixed, "text/corpus", 2) == Set(false))
    assertSame(ref, mixed)
    ingest(mixed, 1, Driver)
    assert(writers(mixed, "text/corpus", 1) == Set(true))
    assertSame(ref, mixed)
  }

  test("an empty store epoch clears a previous attempt's epoch=N on either route") {
    for (bound <- Seq(Driver, Distributed)) {
      val dir = fresh(s"empty$bound")
      ingest(dir, 0, bound)
      ingest(dir, 1, bound)
      assert(spark.read.parquet(s"$dir/text/corpus").filter(col("epoch") === 1).count() > 0)
      // a second attempt at epoch 1 whose docs all re-arrive from epoch
      // 0: nothing is admitted, so the corpus, index and cell stores
      // hold nothing for epoch 1 — not the first attempt's rows
      ingest(dir, 1, bound, batch(0).withColumn("doc_id", col("doc_id") + 200000L))
      Seq("text/corpus", "text/exact_idx", "text/band_idx", "media/media_idx", "embed/cells")
        .foreach { t =>
          assert(spark.read.parquet(s"$dir/$t").filter(col("epoch") === 1).count() == 0,
            s"$t keeps the first attempt's epoch 1 (bound $bound)")
        }
      val m = MultimodalIngest.metrics(spark, dir).filter(col("batch_id") === 1)
        .select("n_in", "n_admitted").as[(Long, Long)].collect().toSeq
      assert(m == Seq((60L, 0L)), s"bound $bound")
    }
  }

  test("a crash after epoch=N is removed and before its temporary is renamed: readers " +
    "skip the temporary, and a replay on either route converges") {
    val ref = fresh("cref")
    (0L to 1L).foreach(ingest(ref, _, Driver))
    for (bound <- Seq(Driver, Distributed)) {
      val dir = fresh(s"crash$bound")
      (0L to 1L).foreach(ingest(dir, _, Driver))
      // the state install leaves between its delete and its rename
      Stores.foreach { t =>
        val store = new java.io.File(s"$dir/$t")
        assert(new java.io.File(store, "epoch=1").renameTo(new java.io.File(store, ".epoch=1.tmp")))
        assert(spark.read.parquet(store.toString).filter(col("epoch") === 1).count() == 0)
      }
      ingest(dir, 1, bound)
      assertSame(ref, dir)
      Stores.foreach(t => assert(!new java.io.File(s"$dir/$t/.epoch=1.tmp").exists(),
        s"$t: the stale temporary is cleared (bound $bound)"))
    }
    // a crash in the very first epoch leaves stores holding only their
    // temporaries: no data, so the replay probes empty stores
    val first = fresh("cfirst")
    ingest(first, 0, Driver)
    Stores.foreach { t =>
      val store = new java.io.File(s"$first/$t")
      assert(new java.io.File(store, "epoch=0").renameTo(new java.io.File(store, ".epoch=0.tmp")))
      assert(!EpochFold.hasDataFiles(spark, store.toString) &&
        StoreEpoch.read(spark, store.toString).isEmpty, t)
    }
    ingest(first, 0, Driver)
    val once = fresh("conce")
    ingest(once, 0, Driver)
    assertSame(once, first)
  }

  test("footer-schema read ≡ spark.read.parquet on a legacy flat index and a pre-owner index") {
    val root = Files.createTempDirectory("graft_footer_read").toString
    def same(path: String): Unit = {
      val (viaFooter, inferred) = (StoreEpoch.read(spark, path).get, spark.read.parquet(path))
      assert(viaFooter.schema == inferred.schema, path)
      assert(viaFooter.collect().toSet == inferred.collect().toSet, path)
    }
    // legacy flat: no epoch partitions, no owner column
    Seq("k1", "k2", "k3").toDF("content_key").write.parquet(s"$root/flat")
    same(s"$root/flat")
    // pre-owner: epoch-partitioned keys without the doc_id owner
    // column, the legacy files adopted into epoch=-1
    Seq("k4").toDF("content_key").write.parquet(s"$root/pre")
    EpochFold.migrateLegacyFlat(spark, s"$root/pre")
    Seq("k5", "k6").toDF("content_key").write.parquet(s"$root/pre/epoch=0")
    Seq("k7").toDF("content_key").write.parquet(s"$root/pre/epoch=1")
    same(s"$root/pre")
    assert(StoreEpoch.read(spark, s"$root/pre").get.columns.toSeq == Seq("content_key", "epoch"))
    // a pre-owner index still probes: the text membrane admits around it
    IngestDedup.ingestBatch(Seq((10L, "alpha beta gamma delta")).toDF("doc_id", "text"),
      s"$root/text", epochId = 0)
    assert(StoreEpoch.read(spark, s"$root/missing").isEmpty)
  }

  test("the metrics row counted on the driver ≡ the aggregate over the membrane verdicts, " +
    "with the LM gate on and malformed embeddings") {
    // the LM is trained on the fixture's own texts (8 copies: every
    // bigram scores 3 bits), so the fixture passes it, except the v4
    // docs of every fourth group, whose texts are replaced by unseen
    // tokens the gate rejects
    val texts = IngestFixture.docs(spark, 11, 0, 180).select("text")
    val model = Files.createTempDirectory("graft_store_epoch_lm").toString
    graft.batch.TextOps.saveLm(spark, model, graft.batch.TextOps.lmTrain(
      (0 until 8).map(_ => texts).reduce(_ union _).withColumn("doc_id", monotonically_increasing_id())))
    def gated(e: Long) = batch(e).withColumn("text",
      when(pmod(col("doc_id"), lit(5)) === 4 && pmod((col("doc_id") / 5).cast("long"), lit(4)) === 2,
        concat_ws(" ", transform(sequence(lit(0), lit(5)), i =>
          concat(lit("zq"), col("doc_id").cast("string"), lit("x"), i.cast("string")))))
        .otherwise(col("text")))
    val dir = fresh("lm")
    val byStage = (0L to 2L).map { e =>
      val expected = verdictAggregate(gated(e), dir, e, model)
      MultimodalIngest.ingestBatch(gated(e), dir, e, tau = 0.99, lmModelDir = Some(model))
      val row = MultimodalIngest.metrics(spark, dir).filter(col("batch_id") === e).collect().toSeq
      assert(row == Seq(expected), s"epoch $e")
      assert(expected.getLong(1) == gated(e).count() &&
        expected.getLong(1) == (2 to 6).map(expected.getLong).sum, s"epoch $e conserves docs")
      (2 to 5).map(expected.getLong)
    }
    assert(byStage.transpose.forall(_.sum > 0), s"every stage rejects: $byStage")
    assert(MultimodalIngest.ledger(spark, dir).filter(col("reason") === "malformed").count() > 0)
  }

  /** The metrics row of one epoch as the aggregate over the membranes'
    * verdicts computed it before the row was counted on the driver:
    * every batch doc has one text verdict, and a stage's rejections are
    * its non-null reasons. Computed before the epoch is ingested (the
    * probes see only earlier epochs). */
  private def verdictAggregate(b: DataFrame, dir: String, e: Long, model: String): Row = {
    val textV = IngestDedup.verdicts(b, s"$dir/text", e).localCheckpoint()
    val dedupKeep = textV.filter(col("reason").isNull).drop("dup_of", "reason")
    val lmRej = IngestDedup.lmRejects(dedupKeep, model).localCheckpoint()
    val textKeep = dedupKeep.join(broadcast(lmRej), Seq("doc_id"), "left_anti").localCheckpoint()
    val mediaV = MediaIngest.verdicts(textKeep, s"$dir/media", e).localCheckpoint()
    val mediaKeep = mediaV.filter(col("reason").isNull).drop("phash", "dup_of", "reason")
    val embedV = EmbedIngest.verdicts(mediaKeep.select(col("doc_id").as("vec_id"), col("embedding")),
      s"$dir/embed", e, 0.99, 4).localCheckpoint()
    def tally(stage: Int, v: DataFrame) = v.select(lit(stage).as("stage"), col("reason"))
    def n(p: org.apache.spark.sql.Column) = count(when(p, lit(1)))
    val rejected = col("reason").isNotNull
    val row = Seq(tally(0, textV), tally(1, lmRej.select(lit("lm").as("reason"))),
        tally(2, mediaV), tally(3, embedV)).reduce(_ unionByName _)
      .agg(n(col("stage") === 0), n(col("stage") === 0 && rejected), n(col("stage") === 1),
        n(col("stage") === 2 && rejected), n(col("stage") === 3 && rejected),
        n(col("stage") === 3 && !rejected))
      .head()
    Row(e, row.getLong(0), row.getLong(1), row.getLong(2), row.getLong(3), row.getLong(4),
      row.getLong(5))
  }
}
