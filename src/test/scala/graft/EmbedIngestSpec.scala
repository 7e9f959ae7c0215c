package graft

import java.nio.file.Files

import graft.stream.EmbedIngest

/** Streaming embedding near-dup at ingest (the qd5 membrane): in-batch
  * and vs-corpus cosine rejection over the epoch × cell layout. */
class EmbedIngestSpec extends SparkSpec
    with org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper {
  import spark.implicits._

  // orthogonal 2-d quantizer: cell 1 ≈ x-axis, cell 2 ≈ y-axis
  private def freshDir(): String = {
    val dir = Files.createTempDirectory("graft_embed").toString + "/idx"
    EmbedIngest.init(spark,
      dir,
      Seq((1L, Seq(1f, 0f), 1.0), (2L, Seq(0f, 1f), 1.0)).toDF("cid", "ce", "cn"))
    dir
  }

  private def ids(dir: String) = EmbedIngest.corpus(spark, dir)
    .select("vec_id").as[Long].collect().sorted.toSeq

  test("in-batch and vs-corpus cosine dups are rejected; novel vectors admitted") {
    val dir = freshDir()
    EmbedIngest.ingestBatch(Seq(
      (1L, Seq(1f, 0f)),
      (2L, Seq(0.999f, 0.01f)), // cos vs 1 ≈ 0.99995: loses to min vec_id
      (3L, Seq(0f, 1f))
    ).toDF("vec_id", "embedding"), dir, epochId = 0, tau = 0.99)
    assert(ids(dir) == Seq(1L, 3L), "in-batch near-dup 2 must lose to 1")

    EmbedIngest.ingestBatch(Seq(
      (4L, Seq(1f, 0f)),        // exact dup of corpus 1: rejected
      (5L, Seq(0.7f, 0.714f))   // cos ≈ 0.7 to both axes: novel
    ).toDF("vec_id", "embedding"), dir, epochId = 1, tau = 0.99)
    assert(ids(dir) == Seq(1L, 3L, 5L), "corpus dup 4 rejected, novel 5 admitted")

    // replay of epoch 1 (crash before checkpoint commit) is idempotent
    EmbedIngest.ingestBatch(Seq(
      (4L, Seq(1f, 0f)),
      (5L, Seq(0.7f, 0.714f))
    ).toDF("vec_id", "embedding"), dir, epochId = 1, tau = 0.99)
    assert(ids(dir) == Seq(1L, 3L, 5L), "epoch replay must not duplicate or drop")

    // layout: epoch dirs wrap cell dirs, so probes prune on both
    val e0 = new java.io.File(s"$dir/cells/epoch=0")
    assert(e0.isDirectory &&
      e0.listFiles().exists(f => f.isDirectory && f.getName.startsWith("cell=")))
  }

  test("the documented serving-index handoff: int8 IvfIndex built FROM the ingest corpus, searched") {
    // EmbedIngest's scaladoc routes read traffic to an int8 serving
    // index rebuilt from corpus() on a cadence (the membrane's cells
    // stay float because its τ decisions are exactness-pinned); this
    // pins that the handoff actually composes — corpus → build(int8)
    // → searchInt8 — and that an all-cell probe over the serving index
    // returns every admitted vector's true in-corpus neighbors
    import org.apache.spark.sql.functions.{col, lit, pmod, sqrt}
    val emb = Tables.embeddings(spark, "/root/testdata/sf0.01")
      .select("vec_id", "embedding")
    // a REAL 64-dim quantizer (freshDir's 2-d fixture would be
    // dimension-malformed against this corpus and the probe now
    // correctly excludes malformed centroids → empty membrane)
    val dir = Files.createTempDirectory("graft_embed_h").toString + "/idx"
    EmbedIngest.init(spark, dir,
      emb.filter(pmod(col("vec_id"), lit(50)) === 7)
        .select(col("vec_id").as("cid"), col("embedding").as("ce"),
          sqrt(graft.functions.GraftFunctions.vec_dot(
            col("embedding"), col("embedding"))).as("cn")))
    EmbedIngest.ingestBatch(emb, dir, epochId = 0, tau = 0.9999)
    val corpus = EmbedIngest.corpus(spark, dir)
    val serving = Files.createTempDirectory("graft_embed_srv").toString
    graft.batch.IvfIndex.build(corpus, serving,
      nCells = math.ceil(math.sqrt(corpus.count().toDouble)).toInt,
      assign = 2, int8 = true)
    val qs = corpus.filter(org.apache.spark.sql.functions.pmod(
      org.apache.spark.sql.functions.col("vec_id"),
      org.apache.spark.sql.functions.lit(100)) === 0)
    val got = graft.batch.IvfIndex.searchInt8(spark, serving, qs, corpus,
        k = 3, nProbe = Int.MaxValue min 1000, rescore = 10)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
    val brute = graft.batch.Similarity.knnTopK(corpus, qs.select("vec_id"), k = 3)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
    // all-cell probe + ≥3k funnel: the serving path must agree with
    // brute force over the admitted corpus on final ranks
    assert(got == brute)
  }

  test("a fully dim-mismatched batch fails LOUDLY; a stray malformed row is dropped and attributed") {
    // since the round-12 malformed-centroid exclusion a wrong-dim
    // quantizer scores every centroid NaN — without a guard the
    // membrane would silently admit NOTHING. The guard is BATCH-level
    // on purpose: a per-row error would turn one stray bad row into a
    // poison pill that wedges the exactly-once stream (foreachBatch
    // replays the same batch on every restart).
    val dir = freshDir() // 2-d quantizer
    val ex = intercept[IllegalStateException] {
      EmbedIngest.ingestBatch(
        Seq((1L, Seq(1f, 0f, 0f))).toDF("vec_id", "embedding"),
        dir, epochId = 0, tau = 0.99)
    }
    assert(ex.getMessage.contains("NO batch row matches"), ex.getMessage)
    // OPT-OUT (round-12 ADVICE): a genuinely-garbage first batch on a
    // NEW stream would otherwise wedge it permanently (foreachBatch
    // replays the same batch forever). strictBringup=false downgrades
    // bring-up to warn-and-drop: the batch writes an empty epoch and
    // the stream lives to see batch two.
    spark.conf.set("spark.graft.embedIngest.strictBringup", "false")
    try {
      EmbedIngest.ingestBatch(
        Seq((9L, Seq(1f, 0f, 0f))).toDF("vec_id", "embedding"),
        dir, epochId = 0, tau = 0.99)
      // the epoch dir holds no data files (only _SUCCESS) — nothing
      // was admitted, and the stream is not wedged
      val cellFiles = new java.io.File(s"$dir/cells")
      def dataFiles(f: java.io.File): Seq[java.io.File] =
        if (f.isFile) { if (f.getName.endsWith(".parquet")) Seq(f) else Nil }
        else Option(f.listFiles).map(_.toSeq.flatMap(dataFiles)).getOrElse(Nil)
      assert(dataFiles(cellFiles).isEmpty,
        "all-garbage bring-up batch drops, not admits")
    } finally spark.conf.unset("spark.graft.embedIngest.strictBringup")
    // mixed batch: healthy rows ingest, stray wrong-dim / null rows are
    // rejected and the ledger names them `malformed`, not `unknown`
    val mixed = Seq(
      (1L, Seq(1f, 0f)),
      (2L, Seq(1f, 0f, 0f)),
      (3L, null.asInstanceOf[Seq[Float]])).toDF("vec_id", "embedding")
    EmbedIngest.ingestBatch(mixed, dir, epochId = 0, tau = 0.99)
    assert(ids(dir) == Seq(1L), "healthy row admitted, stray rows dropped")
    val led = EmbedIngest.verdicts(mixed, dir, epochId = 1, tau = 0.99, nProbe = 4)
      .filter(org.apache.spark.sql.functions.col("reason").isNotNull)
      .collect().map(r => r.getAs[Long]("vec_id") -> r.getAs[String]("reason")).toMap
    assert(led(2L) == "malformed" && led(3L) == "malformed", led.toString)
    assert(led(1L) == "embed_corpus", led.toString) // dup of its epoch-0 self
  }

  test("streaming entry: two micro-batches through start()") {
    val root = Files.createTempDirectory("graft_embed_s").toString
    val dir = s"$root/idx"
    EmbedIngest.init(spark, dir,
      Seq((1L, Seq(1f, 0f), 1.0), (2L, Seq(0f, 1f), 1.0)).toDF("cid", "ce", "cn"))
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val input = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[(Long, Seq[Float])]
    val vecs = input.toDF().toDF("vec_id", "embedding")
    input.addData((1L, Seq(1f, 0f)), (2L, Seq(0.999f, 0.01f)), (3L, Seq(0f, 1f)))
    val q = EmbedIngest.start(vecs, dir, s"$root/ckpt",
      org.apache.spark.sql.streaming.Trigger.AvailableNow(), tau = 0.99)
    assert(q.awaitTermination(120000))
    assert(ids(dir) == Seq(1L, 3L))
    input.addData((4L, Seq(0.01f, 0.9999f)), (5L, Seq(-1f, 0f)))
    val q2 = EmbedIngest.start(vecs, dir, s"$root/ckpt",
      org.apache.spark.sql.streaming.Trigger.AvailableNow(), tau = 0.99)
    assert(q2.awaitTermination(120000))
    assert(ids(dir) == Seq(1L, 3L, 5L),
      "4 dups corpus vector 3 across batches; antipodal 5 is novel")
  }

  test("cell compaction folds epochs, preserves cell layout and probe results") {
    val dir = freshDir()
    // 4 epochs: one novel vector each, alternating cells
    val vs = Seq(
      (1L, Seq(1f, 0.0f)), (2L, Seq(0f, 1.0f)),
      (3L, Seq(0.9f, 0.436f)), (4L, Seq(0.436f, 0.9f)))
    vs.zipWithIndex.foreach { case (v, e) =>
      EmbedIngest.ingestBatch(Seq(v).toDF("vec_id", "embedding"), dir, epochId = e,
        tau = 0.999)
    }
    def epochDirs = new java.io.File(s"$dir/cells")
      .listFiles().count(f => f.isDirectory && f.getName.startsWith("epoch="))
    assert(epochDirs == 4)
    EmbedIngest.compactCells(spark, dir, upTo = 4)
    assert(epochDirs == 1, "four epochs fold into one")
    // folded partition keeps the cell= level and the epoch<N visibility
    val folded = spark.read.parquet(s"$dir/cells")
    assert(folded.columns.contains("cell") && folded.columns.contains("epoch"))
    assert(folded.select("epoch").as[Long].collect().forall(_ == 3L))
    // probes still reject dups of pre-fold vectors and admit novelty
    EmbedIngest.ingestBatch(Seq(
      (10L, Seq(0.9f, 0.436f)),  // dup of folded vector 3
      (11L, Seq(-1f, 0f))        // novel
    ).toDF("vec_id", "embedding"), dir, epochId = 4, tau = 0.999)
    assert(ids(dir) == Seq(1L, 2L, 3L, 4L, 11L))
  }

  test("exact-dup flood collapses before the pairwise stage; min id survives") {
    val dir = freshDir()
    // 50 byte-identical vectors + 1 distinct: the exact stage reduces
    // the tau pair space to the 2 distinct vectors
    val flood = (10L to 59L).map(i => (i, Seq(1f, 0f))) :+ (5L, Seq(0f, 1f))
    EmbedIngest.ingestBatch(flood.toDF("vec_id", "embedding"), dir, epochId = 0,
      tau = 0.99)
    assert(ids(dir) == Seq(5L, 10L),
      "min vec_id per identical embedding plus the distinct vector survive")
  }

  test("near-identical flood: witness-capped pair stage rejects it fully at linear cost") {
    import org.apache.spark.sql.functions._
    // 2000 DISTINCT near-identical vectors (the exact-dup collapse
    // can't help): all probe the same cells, all pairwise cosine ≈ 1.
    // The witness cap must (a) bound the pair space per cell at
    // rows × cap, and (b) still reject the whole flood — the min-id
    // member sits inside every cap prefix and witnesses everyone.
    val n = 2000
    require(n > EmbedIngest.InBatchWitnessCap * 2, "flood must exceed the cap")
    val flood = (0 until n).map(i => (100L + i, Seq(1f, i * 1e-7f)))

    // cost shape, pinned on the exact frame the join consumes: one
    // degenerate cell keeps only cap witnesses
    val probes = flood.toDF("vec_id", "embedding")
      .withColumn("nrm",
        sqrt(expr("aggregate(embedding, 0d, (a, x) -> a + double(x) * double(x))")))
      .withColumn("cell", lit(1L)).withColumn("pr", lit(1))
    assert(EmbedIngest.cappedWitnesses(probes).count() ===
      EmbedIngest.InBatchWitnessCap.toLong,
      "pair space must be rows × cap, not rows²")
    assert(EmbedIngest.inBatchLosers(probes, 0.99).count() === (n - 1).toLong,
      "flood rejection is lossless under the one-sided cap")

    // end-to-end through the real ingest path (cap binding), replay
    // idempotence unchanged
    val dir = freshDir()
    EmbedIngest.ingestBatch(flood.toDF("vec_id", "embedding"), dir, epochId = 0,
      tau = 0.99)
    assert(ids(dir) == Seq(100L), "only the min-id flood member survives")
    EmbedIngest.ingestBatch(flood.toDF("vec_id", "embedding"), dir, epochId = 0,
      tau = 0.99)
    assert(ids(dir) == Seq(100L), "replay with a binding cap is idempotent")
  }

  test("an EMPTY first batch does not poison the cell store for batch two") {
    val dir = freshDir()
    EmbedIngest.ingestBatch(
      Seq.empty[(Long, Seq[Float])].toDF("vec_id", "embedding"), dir, epochId = 0)
    EmbedIngest.ingestBatch(
      Seq((1L, Seq(1f, 0f))).toDF("vec_id", "embedding"), dir, epochId = 1)
    assert(ids(dir) == Seq(1L))
  }

  test("requantize re-cells a drifted corpus; dedup behavior converges") {
    val dir = freshDir() // axis quantizer — far from the diagonal corpus
    EmbedIngest.ingestBatch(Seq(
      (5L, Seq(0.7f, 0.714f)), (6L, Seq(0.7f, -0.714f))
    ).toDF("vec_id", "embedding"), dir, epochId = 0, tau = 0.999)
    EmbedIngest.ingestBatch(Seq(
      (7L, Seq(-0.7f, 0.714f))
    ).toDF("vec_id", "embedding"), dir, epochId = 1, tau = 0.999)
    assert(ids(dir) == Seq(5L, 6L, 7L))

    EmbedIngest.requantize(spark, dir, nCells = 3, upTo = 2)
    // the quantizer is now drawn from the corpus itself
    assert(spark.read.parquet(s"$dir/centroids")
      .select("cid").as[Long].collect().sorted.toSeq == Seq(5L, 6L, 7L))
    // the re-celled corpus lands folded in epoch = upTo - 1
    val epochs = new java.io.File(s"$dir/cells").listFiles()
      .filter(f => f.isDirectory && f.getName.startsWith("epoch=")).map(_.getName)
    assert(epochs.toSeq == Seq("epoch=1"))
    assert(ids(dir) == Seq(5L, 6L, 7L), "no vector lost or duplicated by the re-cell")

    // probes behave identically on the new layout: dup rejected, novelty in
    EmbedIngest.ingestBatch(Seq(
      (10L, Seq(0.7f, 0.714f)), // exact dup of 5
      (11L, Seq(0f, 1f))        // cos ≤ 0.714 to every corpus vector
    ).toDF("vec_id", "embedding"), dir, epochId = 2, tau = 0.999)
    assert(ids(dir) == Seq(5L, 6L, 7L, 11L))
  }

  test("requantize auto-sizing (nCells = 0): C = ceil(sqrt(corpus)), floored at the current count") {
    val dir = freshDir() // 2-cell axis quantizer
    // 25 pairwise-distant unit vectors; tau > 1 admits them all
    val vecs = (0 until 25).map { i =>
      (i.toLong, Seq(math.cos(i * 0.251).toFloat, math.sin(i * 0.251).toFloat))
    }.toDF("vec_id", "embedding")
    EmbedIngest.ingestBatch(vecs, dir, epochId = 0, tau = 1.1)
    EmbedIngest.requantize(spark, dir, nCells = 0, upTo = 1)
    assert(spark.read.parquet(s"$dir/centroids").count() == 5L,
      "auto C must be ceil(sqrt(25)) = 5")
    // fixed point: re-running auto on the same corpus keeps C (the
    // floor at the current count also means auto never shrinks a
    // hand-built quantizer)
    EmbedIngest.requantize(spark, dir, nCells = 0, upTo = 1)
    assert(spark.read.parquet(s"$dir/centroids").count() == 5L)
    val cells = spark.read.parquet(s"$dir/cells")
    assert(cells.count() == 25L && cells.select("vec_id").distinct().count() == 25L,
      "every admitted vector re-celled exactly once")
  }

  test("requantizeIfSkewed: fires on a hot-cell collapse, stays quiet on a " +
    "balanced layout, and the re-cell flattens occupancy") {
    import org.apache.spark.sql.functions._
    val dir = freshDir() // 2 cells: x-axis, y-axis
    // a collapsed ingest: 24 mutually-distinct vectors in a cone around
    // the x-axis (pairwise cos < 0.999999 ⇒ all admitted at that tau),
    // all landing in cell 1 — the drift-concentration shape
    val cone = (0 until 24).map { i =>
      val a = 0.02 * i
      (100L + i, Seq(math.cos(a).toFloat, math.sin(a).toFloat))
    }
    EmbedIngest.ingestBatch(cone.toDF("vec_id", "embedding"), dir,
      epochId = 0, tau = 0.999999)
    val before = EmbedIngest.corpus(spark, dir).count()
    // max = hot-cell occupancy, mean = total / 2 quantizer cells — the
    // collapse reads as ~2× skew; factor 1.5 puts the trigger below it
    assert(EmbedIngest.requantizeIfSkewed(spark, dir, upTo = 1L, factor = 1.5))
    // corpus content untouched, quantizer re-sized to ceil(sqrt(n)),
    // occupancy flattened below the trigger
    assert(EmbedIngest.corpus(spark, dir).count() == before)
    val c = spark.read.parquet(s"$dir/centroids").count()
    assert(c == math.ceil(math.sqrt(before.toDouble)).toLong, s"C = $c")
    val occ = spark.read.parquet(s"$dir/cells")
      .groupBy(col("cell")).agg(count(lit(1)).as("n"))
      .agg(max(col("n")), sum(col("n"))).head()
    // pre-trigger skew was ~2 (all rows in 1 of 2 cells); the re-cell
    // must land strictly below it
    val skewAfter = occ.getLong(0) / (occ.getLong(1).toDouble / c)
    assert(skewAfter < 2.0,
      s"re-cell must flatten: max ${occ.getLong(0)} of ${occ.getLong(1)} over $c cells")
    // balanced layout: never fires
    val dir2 = freshDir()
    EmbedIngest.ingestBatch(Seq(
      (1L, Seq(1f, 0f)), (2L, Seq(0f, 1f))
    ).toDF("vec_id", "embedding"), dir2, epochId = 0, tau = 0.99)
    assert(!EmbedIngest.requantizeIfSkewed(spark, dir2, upTo = 1L, factor = 1.5))
  }

  test("crash between requantize commit and install: old layout intact, next entry completes") {
    val dir = freshDir()
    EmbedIngest.ingestBatch(Seq(
      (5L, Seq(1f, 0f)), (6L, Seq(0f, 1f))
    ).toDF("vec_id", "embedding"), dir, epochId = 0, tau = 0.999)
    EmbedIngest.ingestBatch(Seq(
      (7L, Seq(0.7f, 0.714f))
    ).toDF("vec_id", "embedding"), dir, epochId = 1, tau = 0.999)

    // phase 1 only: snapshot committed to the dot-dir, install never ran
    EmbedIngest.writeRequantSnapshot(spark, dir, nCells = 3, upTo = 2)
    // the crash state: OLD layout fully readable — original quantizer,
    // corpus visible, the committed snapshot invisible
    assert(new java.io.File(s"$dir/.requant_tmp_2/_GRAFT_COMMIT").exists())
    assert(spark.read.parquet(s"$dir/centroids")
      .select("cid").as[Long].collect().sorted.toSeq == Seq(1L, 2L),
      "pre-install, searches still run against the pinned quantizer")
    assert(ids(dir) == Seq(5L, 6L, 7L))

    // the next ingest entry recovers BEFORE reading the quantizer
    EmbedIngest.ingestBatch(Seq(
      (8L, Seq(0.7f, 0.714f)), // dup of 7 — must be caught on the NEW layout
      (9L, Seq(-1f, 0f))       // novel
    ).toDF("vec_id", "embedding"), dir, epochId = 2, tau = 0.999)
    assert(ids(dir) == Seq(5L, 6L, 7L, 9L))
    assert(spark.read.parquet(s"$dir/centroids")
      .select("cid").as[Long].collect().sorted.toSeq == Seq(5L, 6L, 7L),
      "recovery must have installed the committed quantizer")
    assert(!new java.io.File(dir).listFiles()
      .exists(_.getName.startsWith(".requant_tmp")), "snapshot dir cleared")
  }

  test("compaction after a committed-but-uninstalled requantize does not duplicate rows") {
    // the dangerous interleaving: requantize committed its snapshot and
    // crashed; the next maintenance to run is a FOLD (not a requantize
    // replay — e.g. a manual requantize followed by a restart where only
    // the compact cadence fires). Folding the snapshot's source epochs
    // before the install would leave their rows twice.
    val dir = freshDir()
    EmbedIngest.ingestBatch(Seq(
      (5L, Seq(1f, 0f)), (6L, Seq(0f, 1f))
    ).toDF("vec_id", "embedding"), dir, epochId = 0, tau = 0.999)
    EmbedIngest.ingestBatch(Seq(
      (7L, Seq(0.7f, 0.714f))
    ).toDF("vec_id", "embedding"), dir, epochId = 1, tau = 0.999)
    EmbedIngest.writeRequantSnapshot(spark, dir, nCells = 3, upTo = 2)
    EmbedIngest.compactCells(spark, dir, upTo = 2)
    assert(ids(dir) == Seq(5L, 6L, 7L),
      "fold + pending snapshot must not double the pre-snapshot epochs")
    assert(spark.read.parquet(s"$dir/cells").count() == 3)
    assert(!new java.io.File(dir).listFiles()
      .exists(_.getName.startsWith(".requant_tmp")))
  }

  test("an uncommitted requantize snapshot is discarded at the next entry") {
    val dir = freshDir()
    EmbedIngest.ingestBatch(
      Seq((5L, Seq(1f, 0f))).toDF("vec_id", "embedding"), dir, epochId = 0)
    // crash mid-snapshot: partial dot-dir, no commit marker
    assert(new java.io.File(s"$dir/.requant_tmp_1/centroids").mkdirs())
    EmbedIngest.ingestBatch(
      Seq((6L, Seq(0f, 1f))).toDF("vec_id", "embedding"), dir, epochId = 1)
    assert(ids(dir) == Seq(5L, 6L))
    assert(spark.read.parquet(s"$dir/centroids")
      .select("cid").as[Long].collect().sorted.toSeq == Seq(1L, 2L),
      "the pinned quantizer survives a discarded snapshot")
    assert(!new java.io.File(dir).listFiles()
      .exists(_.getName.startsWith(".requant_tmp")))
  }

  test("streaming requantize cadence: quantizer rebuilt from the corpus mid-stream") {
    val root = Files.createTempDirectory("graft_embed_rq").toString
    val dir = s"$root/idx"
    EmbedIngest.init(spark, dir,
      Seq((1L, Seq(1f, 0f), 1.0), (2L, Seq(0f, 1f), 1.0)).toDF("cid", "ce", "cn"))
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val input = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[(Long, Seq[Float])]
    val vecs = input.toDF().toDF("vec_id", "embedding")
    def drain(): Unit = {
      val q = EmbedIngest.start(vecs, dir, s"$root/ckpt",
        org.apache.spark.sql.streaming.Trigger.AvailableNow(),
        tau = 0.99, requantizeEvery = 1)
      assert(q.awaitTermination(120000))
    }
    input.addData((5L, Seq(0.7f, 0.714f)), (6L, Seq(0.7f, -0.714f)))
    drain() // batch 0: no maintenance yet
    input.addData((7L, Seq(0.7f, 0.715f)), (8L, Seq(-1f, 0f))) // 7 dups 5
    drain() // batch 1: requantize fires BEFORE the batch
    assert(spark.read.parquet(s"$dir/centroids")
      .select("cid").as[Long].collect().sorted.toSeq == Seq(5L, 6L),
      "the quantizer must now be drawn from the corpus")
    assert(ids(dir) == Seq(5L, 6L, 8L),
      "dedup against the re-celled corpus still rejects the near-dup")
  }

  test("search over the ingest corpus equals brute force when probing all cells") {
    import org.apache.spark.sql.functions._
    val emb = Tables.embeddings(spark, "/root/testdata/sf0.01")
    val root = Files.createTempDirectory("graft_embed_srch").toString
    val (seed, dir) = (s"$root/seed", s"$root/idx")
    graft.batch.IvfIndex.build(emb, seed, nCells = 8)
    EmbedIngest.init(spark, dir, spark.read.parquet(s"$seed/centroids"))
    // two ingest epochs; tau > 1 disables cosine rejection so the
    // corpus is the byte-distinct fixture (search is under test here)
    EmbedIngest.ingestBatch(
      emb.filter(pmod(col("vec_id"), lit(2)) === 0), dir, epochId = 0, tau = 1.1)
    EmbedIngest.ingestBatch(
      emb.filter(pmod(col("vec_id"), lit(2)) === 1), dir, epochId = 1, tau = 1.1)
    // cut lineage: these frames must survive the fold below, which
    // rewrites the very files their scan enumerated
    val corpus = EmbedIngest.corpus(spark, dir).localCheckpoint()
    val queries = corpus.filter(pmod(col("vec_id"), lit(100)) === 0).localCheckpoint()
    val got = EmbedIngest.search(spark, dir, queries, k = 3, nProbe = 8)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
    val brute = graft.batch.Similarity.knnTopK(corpus, queries.select("vec_id"), k = 3)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
    assert(got == brute,
      "full-probe search over the epoch×cell layout must be exact")
    // and search still works after the epochs fold into one
    EmbedIngest.compactCells(spark, dir, upTo = 2)
    val foldedQ = EmbedIngest.search(spark, dir, queries, k = 3, nProbe = 8)
    val folded = foldedQ
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
    assert(folded == brute)
    // the scan treats epoch AND cell as partition metadata (IvfIndexSpec's
    // pin for its flat layout): probes open directories, not the corpus
    val scans = collectWithSubqueries(foldedQ.queryExecution.executedPlan) {
      case sc: org.apache.spark.sql.execution.FileSourceScanExec
        if sc.relation.location.rootPaths.head.toString.contains("cells") => sc
    }
    assert(scans.nonEmpty)
    assert(Seq("epoch", "cell").forall(
        scans.head.relation.partitionSchema.fieldNames.contains),
      s"cells layout lost its partition levels: ${scans.head.relation.partitionSchema}")
  }

  test("quantizer is pinned once") {
    val dir = freshDir()
    val e = intercept[IllegalArgumentException] {
      EmbedIngest.init(spark, dir,
        Seq((9L, Seq(1f, 1f), 1.4142)).toDF("cid", "ce", "cn"))
    }
    assert(e.getMessage.contains("already pinned"))
  }
}
