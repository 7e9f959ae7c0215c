package graft

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Throughput of the dedup-at-ingest path (stream.IngestDedup): N
  * synthetic docs in B-sized batches, each batch exact- and
  * near-dup-filtered against the accumulating corpus index.
  *
  * Synthetic corpus with known duplicate structure, per group of 5 ids:
  * one base doc, one exact dup (same text), one near dup (same
  * 120-char shingle window, different tail), two uniques → the
  * converged corpus keeps 3/5 of docs (base kept, exact dup dropped,
  * near dup dropped, both uniques kept).
  *
  * Env: GRAFT_INGEST_DOCS (default 100000), GRAFT_INGEST_BATCHES (10),
  * GRAFT_INGEST_MODE: `default` runs the production regime switches as
  * configured; `regimes` runs the SAME workload three times against a
  * fresh store, forcing each probe regime (trickle IN-pushdown /
  * broadcast / shuffle) via the `spark.graft.ingest.*` limit confs, and
  * prints per-regime docs/sec in one JSON line — the boundary numbers
  * BASELINE.md records; `lm` adds the frozen-LM quality membrane with
  * a planted low-LM slice (v3), every kept/rejected count require()d.
  * Prints one JSON line with docs/sec, the dedup ratio achieved and
  * the classes Spark compiled during the batches (`codegen_compiles`).
  */
object IngestBench {

  /** `body`'s result and the classes Spark's code generator compiled
    * while it ran (the JVM-wide `CodegenMetrics` count). */
  private def compiling[A](body: => A): (A, Long) = {
    val before = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    val a = body
    (a, CodegenMetrics.METRIC_COMPILATION_TIME.getCount - before)
  }

  def run(spark: SparkSession, args: Seq[String]): Unit = {
    val nDocs = sys.env.getOrElse("GRAFT_INGEST_DOCS", "100000").toLong
    val nBatches = sys.env.getOrElse("GRAFT_INGEST_BATCHES", "10").toInt
    val mode = sys.env.getOrElse("GRAFT_INGEST_MODE", "default")

    val dir = java.nio.file.Files.createTempDirectory("graft_ingest_bench").toString
    // deterministic text: 30 group-seeded tokens (shared shingle window)
    // + per-variant tail
    def toks(seed: Column, n: Int, salt: String): Column =
      concat_ws(" ", transform(sequence(lit(0), lit(n - 1)),
        i => substring(md5(concat(seed, lit(s"|$salt|"), i.cast("string"))), 1, 4)))
    val g = col("id") / 5
    val grp = g.cast("long").cast("string")
    val variant = pmod(col("id"), lit(5))
    val docs = spark.range(nDocs).toDF("id")
      .withColumn("text",
        when(variant === 0, toks(grp, 30, "base"))
        .when(variant === 1, toks(grp, 30, "base"))                             // exact dup of 0
        .when(variant === 2, concat(toks(grp, 30, "base"), lit(" "), toks(grp, 4, "tail"))) // near dup
        .otherwise(toks(concat(grp, variant.cast("string")), 30, "uniq")))
      .withColumnRenamed("id", "doc_id")

    val batchSize = math.max(1L, nDocs / nBatches)
    /** Batch b of `df`; the last batch takes the division remainder so
      * every doc ingests. */
    def batchOf(df: DataFrame, b: Int): DataFrame = {
      val hi = if (b == nBatches - 1) nDocs else (b + 1) * batchSize
      df.filter(col("doc_id") >= b * batchSize && col("doc_id") < hi)
    }
    /** Every batch through the text membrane into `toDir`: seconds, the
      * corpus size kept and the classes Spark's code generator compiled
      * while the batches ran. */
    def ingestAll(toDir: String, lmModelDir: Option[String] = None): (Double, Long, Long) = {
      val ((secs, _), compiles) = compiling(Bench.timed((0 until nBatches).foreach { b =>
        stream.IngestDedup.ingestBatch(batchOf(docs, b), toDir, epochId = b, lmModelDir = lmModelDir)
      }))
      (secs, spark.read.parquet(s"$toDir/corpus").count(), compiles)
    }

    if (mode == "multimodal") {
      // docs carry text AND a 16-dim embedding; per group of 5 ids:
      // v0 base (admitted), v1 exact-text dup, v2 near-text dup,
      // v3 unique text but BYTE-IDENTICAL embedding to v0 (the
      // embedding membrane's reject), v4 unique both → kept = 2/5.
      // Components are SIGNED (zero-centered): positive-only random
      // vectors all point into one orthant and cosine-collide.
      val dim = 16
      def emb(seed: Column): Column =
        transform(sequence(lit(0), lit(dim - 1)), i =>
          ((conv(substring(md5(concat(seed, lit("|e|"), i.cast("string"))), 1, 4), 16, 10)
            .cast("double") - 32768.0) / 32768.0).cast("float"))
      val gMm = (col("doc_id") / 5).cast("long").cast("string")
      val vMm = pmod(col("doc_id"), lit(5))
      // GRAFT_INGEST_MEDIA=1 adds the third membrane: v4 (unique text
      // AND embedding, so it reaches the media stage) carries a
      // 320-char payload whose phash is exactly bit (group % 8) — the 8
      // distinct hashes are pairwise Hamming distance 2 ≤ radius 3, so
      // across the whole run exactly ONE v4 survives (the globally
      // first, doc_id 4) and every other v4 is a media rejection;
      // all other variants are unhashable (pass unfiltered). Keeps the
      // kept-count provable: nDocs/5 (v0) + 1.
      val withMedia = sys.env.get("GRAFT_INGEST_MEDIA").contains("1")
      val mmDocs0 = docs.withColumn("embedding",
        when(vMm === 0 || vMm === 3, emb(gMm))
          .otherwise(emb(concat(gMm, lit("#"), col("doc_id").cast("string")))))
      val mmDocs = if (!withMedia) mmDocs0 else mmDocs0.withColumn("media", expr(
        "CASE WHEN pmod(doc_id, 5) = 4 THEN concat(" +
          "repeat('a', cast(pmod(doc_id div 5, 8) as int) * 10), repeat('z', 10), " +
          "repeat('a', (31 - cast(pmod(doc_id div 5, 8) as int)) * 10)) " +
          "ELSE 'x' END"))
      val mmDir = s"$dir/mm"
      val cents = spark.range(8).toDF("cid")
        .withColumn("ce", emb(concat(lit("cent"), col("cid").cast("string"))))
        .withColumn("cn", sqrt(graft.functions.GraftFunctions.vec_dot(col("ce"), col("ce"))))
      stream.MultimodalIngest.init(spark, mmDir, cents)
      // GRAFT_INGEST_REQUANT=N re-quantizes every N epochs mid-run (the
      // drift-handling cadence `start()` wires), so the bench records
      // what a requantize tick costs under load and whether ingest
      // throughput recovers after the rebuild. 0 = off.
      val requantEvery = sys.env.getOrElse("GRAFT_INGEST_REQUANT", "0").toInt
      // GRAFT_INGEST_STATS=1 adds the corpus-statistics membrane
      // (per-epoch MG + HLL + totals over each batch's ADMITTED docs)
      // so the bench records what live corpus observability costs
      val statsOn = sys.env.get("GRAFT_INGEST_STATS").contains("1")
      // GRAFT_INGEST_COMPACT=N folds every store's accumulated epoch
      // partitions every N epochs — the production cadence `start()`
      // wires (compactEvery = 64 there), so a long bench run measures
      // ingest WITH the accretion countermeasure on, not the
      // ever-growing epoch-dir listing the 200k-doc r9 run showed
      // degrading throughput. 0 = off (the r9 configuration).
      val compactEvery = sys.env.getOrElse("GRAFT_INGEST_COMPACT", "0").toInt
      var compactSecs = 0.0
      var compactions = 0
      var tickSecs = 0.0
      var ticks = 0
      var lastTick = -1
      var statsSecs = 0.0
      val batchSecs = Array.ofDim[Double](nBatches)
      val ((secs, _), compiles) = compiling(Bench.timed((0 until nBatches).foreach { b =>
        if (compactEvery > 0 && b > 0 && b % compactEvery == 0) {
          compactSecs += Bench.timed(stream.MultimodalIngest.compact(spark, mmDir, upTo = b))._1
          compactions += 1
        }
        if (requantEvery > 0 && b > 0 && b % requantEvery == 0) {
          // auto-sized (0): C = max(current, ⌈√corpus⌉) per tick — the
          // √N rule; a pinned C makes per-batch probe cost grow
          // linearly with the corpus (the 1M-doc run's quartile slide)
          tickSecs += Bench.timed(
            stream.MultimodalIngest.requantize(spark, mmDir, nCells = 0, upTo = b))._1
          ticks += 1
          lastTick = b
        }
        batchSecs(b) = Bench.timed {
          stream.MultimodalIngest.ingestBatch(batchOf(mmDocs, b), mmDir, epochId = b, tau = 0.99)
          if (statsOn)
            statsSecs += Bench.timed(stream.MultimodalIngest.foldStats(spark, mmDir, b))._1
        }._1
      }))
      val kept = stream.MultimodalIngest.corpus(spark, mmDir).count()
      val expectedKept = if (withMedia) nDocs / 5 + 1 else nDocs * 2 / 5

      // the composed per-doc ledger must roll up to EXACTLY the known
      // cluster structure, at bench scale: every group of 5 forms one
      // size-4 cluster rooted at v0 (text-exact v1, text-near v2 and
      // embed-dup v3 all resolve there — three membranes, one root),
      // and the v4s are nGroups singletons without media or ONE
      // nGroups-sized perceptual cluster rooted at doc 4 with it.
      val (clSecs, cl) = Bench.timed(stream.MultimodalIngest.clusters(spark, mmDir)
        .groupBy(col("cluster_size")).agg(
          countDistinct(col("cluster_id")).as("n_clusters"),
          count(lit(1)).as("n_members"))
        .collect().map(r => r.getAs[Long]("cluster_size") ->
          (r.getAs[Long]("n_clusters"), r.getAs[Long]("n_members"))).toMap)
      val nGroups = nDocs / 5
      require(cl.values.map(_._2).sum == nDocs,
        s"cluster membership ${cl.values.map(_._2).sum} != ingested $nDocs")
      require(cl.get(4L).exists(_._1 == nGroups),
        s"expected $nGroups size-4 clusters, got ${cl.get(4L)}")
      if (withMedia)
        require(cl.get(nGroups).exists(_._1 == 1L),
          s"expected one size-$nGroups media cluster, got ${cl.get(nGroups)}")
      else
        require(cl.get(1L).exists(_._1 == nGroups),
          s"expected $nGroups singletons, got ${cl.get(1L)}")
      val nMediaRej = stream.MultimodalIngest.metrics(spark, mmDir)
        .agg(sum(col("n_media_rejected"))).collect()(0).getLong(0)
      // throughput over the batches AFTER the last requantize tick —
      // proves the rebuilt cell layout probes as fast as the original
      val postSecs = batchSecs.drop(math.max(lastTick, 0)).sum
      val postDocs = (nBatches - math.max(lastTick, 0)) * batchSize
      val postRate = if (lastTick < 0 || postSecs == 0) nDocs / secs else postDocs / postSecs
      val statsJson = if (!statsOn) "" else {
        // sanity: the membrane's totals must equal the corpus exactly
        val (mg, agg) = stream.CorpusStats.summary(spark, s"$mmDir/stats", upTo = nBatches)
        val t = agg.collect()(0)
        require(t.getAs[Long]("n_docs") == kept,
          s"stats n_docs ${t.getAs[Long]("n_docs")} != corpus $kept")
        // headOption: a stats-on run whose admitted docs have no tokens
        // leaves the merged MG sketch empty — (0) would throw here
        val topTok = mg.limit(1).collect().headOption.map(_.getString(0)).getOrElse("")
        s""","stats_secs":${Bench.num(statsSecs, 1)},"stats_docs":${t.getAs[Long]("n_docs")},"stats_est_distinct":${t.getAs[Long]("est_distinct_content")},"stats_top_tok":${Bench.str(topTok)}"""
      }
      // flat-cost evidence: per-quartile ingest rate over the batch
      // sequence (compaction/requant/stats ticks excluded — batchSecs
      // times only ingestBatch) — a healthy cadence keeps Q4 within
      // noise of Q1 instead of the monotone accretion slide
      val quartileRates = (0 until 4).map { qi =>
        val loB = nBatches * qi / 4
        val hiB = if (qi == 3) nBatches else nBatches * (qi + 1) / 4
        val qSecs = (loB until hiB).map(batchSecs).sum
        val qDocs = (if (qi == 3) nDocs else hiB * batchSize) - loB * batchSize
        if (qSecs == 0) 0.0 else qDocs / qSecs
      }
      println(s"""{"metric":"multimodal_ingest_docs_per_sec","value":${Bench.num(nDocs / secs, 1)},"docs":$nDocs,"batches":$nBatches,"kept":$kept,"expected_kept":$expectedKept,"media":${if (withMedia) 1 else 0},"media_rejected":$nMediaRej,"secs":${Bench.num(secs, 1)},"codegen_compiles":$compiles,"cluster_secs":${Bench.num(clSecs, 1)},"n_clusters":${cl.values.map(_._1).sum},"q_docs_per_sec":[${quartileRates.map(Bench.num(_, 1)).mkString(",")}],"compact_every":$compactEvery,"compactions":$compactions,"compact_secs_per_tick":${Bench.num(if (compactions == 0) 0.0 else compactSecs / compactions, 2)},"requant_every":$requantEvery,"requant_ticks":$ticks,"requant_secs_per_tick":${Bench.num(if (ticks == 0) 0.0 else tickSecs / ticks, 2)},"post_requant_docs_per_sec":${Bench.num(postRate, 1)}$statsJson}""")
    } else if (mode == "lm") {
      // the LM/quality membrane priced (round-16 verdict #2): same
      // dedup structure, plus a planted quality structure — the frozen
      // model is trained on the v0/v4 slices (×8, so every trained
      // bigram scores ⌊log₂(1+8)⌋ = 3 bits ≥ the 2-bit line), while
      // v3's group-unique tokens are unseen (0 bits → rejected, reason
      // `lm`). Converged corpus: v0 + v4 kept (2/5), v1 exact-dup, v2
      // near-dup, v3 lm-rejected — every count require()d exact.
      val vD = pmod(col("doc_id"), lit(5))
      val refDocs = docs.filter(vD === 0 || vD === 4)
        .select(col("doc_id"), col("text"))
      val modelDir = s"$dir/lm_model"
      val (trainSecs, _) = Bench.timed(batch.TextOps.saveLm(spark, modelDir,
        batch.TextOps.lmTrain((0 until 8).map(_ => refDocs).reduce(_ union _))))
      val lmDir = s"$dir/lm"
      val (secs, kept, compiles) = ingestAll(lmDir, Some(modelDir))
      require(kept == nDocs * 2 / 5,
        s"lm-gated ingest kept $kept, expected ${nDocs * 2 / 5}")
      val lmRej = stream.IngestDedup.ledger(spark, lmDir)
        .filter(col("reason") === "lm").count()
      require(lmRej == nDocs / 5,
        s"lm rejections $lmRej, expected ${nDocs / 5} (every v3 doc)")
      println(s"""{"metric":"ingest_lm_docs_per_sec","value":${Bench.num(nDocs / secs, 1)},"docs":$nDocs,"batches":$nBatches,"kept":$kept,"expected_kept":${nDocs * 2 / 5},"lm_rejected":$lmRej,"train_secs":${Bench.num(trainSecs, 1)},"secs":${Bench.num(secs, 1)},"codegen_compiles":$compiles}""")
    } else if (mode == "regimes") {
      // force each probe regime over the identical workload; the limits
      // are read per batch, so setting them before a run is enough
      val forced = Seq(
        ("trickle", Map("spark.graft.ingest.isinKeyLimit" -> Long.MaxValue.toString,
                        "spark.graft.ingest.broadcastKeyLimit" -> Long.MaxValue.toString)),
        ("broadcast", Map("spark.graft.ingest.isinKeyLimit" -> "0",
                          "spark.graft.ingest.broadcastKeyLimit" -> Long.MaxValue.toString)),
        ("shuffle", Map("spark.graft.ingest.isinKeyLimit" -> "0",
                        "spark.graft.ingest.broadcastKeyLimit" -> "0")))
      val rates = forced.map { case (name, confs) =>
        confs.foreach { case (k, v) => spark.conf.set(k, v) }
        val (secs, kept, compiles) = ingestAll(s"$dir/$name")
        require(kept == nDocs * 3 / 5, s"$name regime kept $kept, expected ${nDocs * 3 / 5}")
        s""""$name":${Bench.num(nDocs / secs, 1)},"${name}_codegen_compiles":$compiles"""
      }
      println(s"""{"metric":"ingest_regime_docs_per_sec",${rates.mkString(",")},"docs":$nDocs,"batches":$nBatches}""")
    } else {
      val (secs, kept, compiles) = ingestAll(dir)
      println(s"""{"metric":"ingest_docs_per_sec","value":${Bench.num(nDocs / secs, 1)},"docs":$nDocs,"batches":$nBatches,"kept":$kept,"expected_kept":${nDocs * 3 / 5},"secs":${Bench.num(secs, 1)},"codegen_compiles":$compiles}""")
    }
  }
}
