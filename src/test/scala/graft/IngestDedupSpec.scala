package graft

import java.nio.file.Files

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.Trigger

import graft.stream.IngestDedup

/** Dedup-at-ingest: exact + near-dup filtering of arriving batches
  * against the accumulating corpus index (the streaming qd1/qd2).
  */
class IngestDedupSpec extends SparkSpec
    with org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper {
  import spark.implicits._

  // 30 distinct 3-char tokens ≈ 119 chars — fills the 120-char shingle
  // window, so any text sharing this prefix has the identical shingle
  // set (→ identical minhash signature) regardless of its tail
  private val prefix = (0 until 30).map(i => f"w$i%02d").mkString(" ")
  private val base = prefix + " tail one"
  private val exactDup = prefix + " tail one"        // same md5
  private val nearDup = prefix + " tail two differs" // same shingles, new md5
  private val other = (0 until 30).map(i => f"z$i%02d").mkString(" ")

  test("batch 1 in-batch dedup; batch 2 deduped against the corpus index") {
    val dir = Files.createTempDirectory("graft_ingest").toString
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val input = MemoryStream[(Long, String)]
    val docs = input.toDF().toDF("doc_id", "text")
    input.addData((1L, base), (2L, exactDup), (3L, nearDup), (4L, other))
    val q = IngestDedup.start(docs, s"$dir/out", s"$dir/ckpt", Trigger.AvailableNow())
    assert(q.awaitTermination(120000))

    def corpusIds = spark.read.parquet(s"$dir/out/corpus")
      .select("doc_id").as[Long].collect().sorted.toSeq
    assert(corpusIds == Seq(1L, 4L),
      "in-batch: exact dup (2) and near dup (3) lose to min doc_id 1")

    // second batch: everything dups against the CORPUS except the new doc
    input.addData((5L, base), (6L, nearDup),
      (7L, (0 until 30).map(i => f"y$i%02d").mkString(" ")))
    val q2 = IngestDedup.start(docs, s"$dir/out", s"$dir/ckpt", Trigger.AvailableNow())
    assert(q2.awaitTermination(120000))
    assert(corpusIds == Seq(1L, 4L, 7L),
      "cross-batch: 5 exact-dups and 6 near-dups the indexed corpus; 7 is new")

    // indexes grew only by the survivors
    assert(spark.read.parquet(s"$dir/out/exact_idx").count() == 3)
    assert(spark.read.parquet(s"$dir/out/band_idx").count() == 6) // 2 bands × 3 docs
  }

  test("row-local bandKeys ≡ aggregate minhash bands on the fixture corpus") {
    // the ingest index probe is only sound if the streaming (row-local)
    // and batch (explode+groupBy) signature paths agree exactly
    import org.apache.spark.sql.functions._
    val d = "/root/testdata/sf0.001"
    val viaAgg = graft.batch.Dedup.minhashSigs(spark, d)
      .select(col("doc_id"),
        md5(concat(col("h0"), col("h1"), col("h2"))).as("b0"),
        md5(concat(col("h3"), col("h4"), col("h5"))).as("b1"))
    val viaRow = Tables.documents(spark, d)
      .select(col("doc_id"), graft.batch.Dedup.bandKeys(col("text")).as("bands"))
      .select(col("doc_id"),
        col("bands")(0).getField("key").as("b0"),
        col("bands")(1).getField("key").as("b1"))
      .filter(col("b0").isNotNull) // all-empty docs have no aggregate row
    assert(viaRow.exceptAll(viaAgg).isEmpty && viaAgg.exceptAll(viaRow).isEmpty,
      "row-local and aggregate band keys must be identical")
  }

  test("ingestBatch is the same code path for batch backfill") {
    val dir = Files.createTempDirectory("graft_ingest_b").toString
    IngestDedup.ingestBatch(
      Seq((10L, base), (11L, nearDup)).toDF("doc_id", "text"), s"$dir/out", epochId = 0)
    IngestDedup.ingestBatch(
      Seq((12L, base)).toDF("doc_id", "text"), s"$dir/out", epochId = 1)
    assert(spark.read.parquet(s"$dir/out/corpus")
      .select("doc_id").as[Long].collect().toSeq == Seq(10L))
  }

  test("replaying an epoch is idempotent: no duplicate corpus rows") {
    val dir = Files.createTempDirectory("graft_ingest_r").toString
    val b0 = Seq((20L, base), (21L, exactDup)).toDF("doc_id", "text")
    val b1 = Seq((22L, other)).toDF("doc_id", "text")
    IngestDedup.ingestBatch(b0, s"$dir/out", epochId = 0)
    IngestDedup.ingestBatch(b1, s"$dir/out", epochId = 1)
    // crash-replay of BOTH epochs (e.g. restart before checkpoint
    // commit): overwrite-into-epoch-partition + epoch<N probes converge
    // to the identical corpus instead of re-appending survivors
    IngestDedup.ingestBatch(b0, s"$dir/out", epochId = 0)
    IngestDedup.ingestBatch(b1, s"$dir/out", epochId = 1)
    assert(spark.read.parquet(s"$dir/out/corpus")
      .select("doc_id").as[Long].collect().sorted.toSeq == Seq(20L, 22L))
    assert(spark.read.parquet(s"$dir/out/exact_idx").count() == 2)
  }

  private def uniq(tag: String) = (0 until 30).map(i => f"$tag%s$i%02d").mkString(" ")

  test("index compaction preserves dedup results and bounds probe file count") {
    val dir = Files.createTempDirectory("graft_ingest_c").toString
    // 6 epochs: one fresh doc each + a repeat of `base` (admitted at
    // epoch 0, rejected ever after)
    (0 to 5).foreach { e =>
      IngestDedup.ingestBatch(
        Seq((100L + e, uniq(s"u${e}x")), (200L + e, base)).toDF("doc_id", "text"),
        s"$dir/out", epochId = e)
    }
    def corpusIds = spark.read.parquet(s"$dir/out/corpus")
      .select("doc_id").as[Long].collect().sorted.toSeq
    val before = corpusIds
    assert(before == Seq(100L, 101L, 102L, 103L, 104L, 105L, 200L))

    def idxFiles(name: String) = spark.read.parquet(s"$dir/out/$name").inputFiles.length
    def idxEpochDirs(name: String) = new java.io.File(s"$dir/out/$name")
      .listFiles().count(f => f.isDirectory && f.getName.startsWith("epoch="))
    val filesBefore = idxFiles("exact_idx")
    assert(idxEpochDirs("exact_idx") == 6)

    IngestDedup.compactIndexes(spark, s"$dir/out", upTo = 6)
    // fold: 6 epoch partitions -> 1, strictly fewer files to open;
    // the corpus (what training jobs scan) folds on the same cadence
    assert(idxEpochDirs("exact_idx") == 1 && idxEpochDirs("band_idx") == 1)
    assert(idxEpochDirs("corpus") == 1)
    assert(corpusIds == before, "corpus fold must not lose or duplicate docs")
    assert(idxFiles("exact_idx") < filesBefore)
    // the folded partition carries the last committed epoch's label, so
    // the epoch<N visibility rule still exposes every key
    assert(spark.read.parquet(s"$dir/out/exact_idx")
      .select("epoch").as[Long].collect().forall(_ == 5L))

    // probe behavior identical after the fold: corpus dups still lose,
    // genuinely new docs still land
    IngestDedup.ingestBatch(
      Seq((300L, base), (301L, nearDup), (302L, uniq("vx"))).toDF("doc_id", "text"),
      s"$dir/out", epochId = 6)
    assert(corpusIds == before :+ 302L,
      "exact dup (300) and near dup (301) must still lose to the compacted index")

    // and a replay of the post-compaction epoch stays idempotent
    IngestDedup.ingestBatch(
      Seq((300L, base), (301L, nearDup), (302L, uniq("vx"))).toDF("doc_id", "text"),
      s"$dir/out", epochId = 6)
    assert(corpusIds == before :+ 302L)
    // re-running the same fold is a no-op: epoch=5 (compacted) stays,
    // epoch=6 (the live epoch, >= upTo) is untouched
    IngestDedup.compactIndexes(spark, s"$dir/out", upTo = 6)
    assert(idxEpochDirs("exact_idx") == 2)
  }

  test("a legacy index without epoch partitions is treated as all-prior") {
    val dir = Files.createTempDirectory("graft_ingest_l").toString
    // pre-epoch layout: flat key table, no epoch column
    Seq(base).toDF("text")
      .select(org.apache.spark.sql.functions.md5(
        $"text".cast("binary")).as("content_key"))
      .write.parquet(s"$dir/out/exact_idx")
    IngestDedup.ingestBatch(
      Seq((1L, base), (2L, uniq("lx"))).toDF("doc_id", "text"), s"$dir/out", epochId = 0)
    assert(spark.read.parquet(s"$dir/out/corpus")
      .select("doc_id").as[Long].collect().sorted.toSeq == Seq(2L),
      "doc 1 must dup against the legacy flat index instead of throwing")
    // the flat files were migrated into epoch=-1, so the mixed
    // flat+partitioned layout that used to kill the SECOND batch with
    // "Conflicting directory structures" never exists
    IngestDedup.ingestBatch(
      Seq((3L, base), (4L, uniq("mx"))).toDF("doc_id", "text"), s"$dir/out", epochId = 1)
    assert(spark.read.parquet(s"$dir/out/corpus")
      .select("doc_id").as[Long].collect().sorted.toSeq == Seq(2L, 4L),
      "batch 2: legacy key (epoch=-1) must still reject doc 3; doc 4 is new")
    assert(new java.io.File(s"$dir/out/exact_idx/epoch=-1").isDirectory,
      "legacy flat files must live in an epoch=-1 partition after first contact")
    // and the migrated legacy partition folds away like any other epoch
    IngestDedup.compactIndexes(spark, s"$dir/out", upTo = 2)
    assert(new java.io.File(s"$dir/out/exact_idx")
      .listFiles().count(f => f.isDirectory && f.getName.startsWith("epoch=")) == 1)
    IngestDedup.ingestBatch(
      Seq((5L, base)).toDF("doc_id", "text"), s"$dir/out", epochId = 2)
    assert(spark.read.parquet(s"$dir/out/corpus")
      .select("doc_id").as[Long].collect().sorted.toSeq == Seq(2L, 4L))
  }

  test("trickle probe: pushed IN filter on the index scan, no index shuffle") {
    import org.apache.spark.sql.execution.FileSourceScanExec
    import org.apache.spark.sql.execution.joins.SortMergeJoinExec
    val dir = Files.createTempDirectory("graft_ingest_p").toString
    IngestDedup.ingestBatch(
      Seq((1L, base), (2L, other)).toDF("doc_id", "text"), s"$dir/out", epochId = 0)
    IngestDedup.ingestBatch(
      Seq((3L, uniq("px"))).toDF("doc_id", "text"), s"$dir/out", epochId = 1)
    val plan = IngestDedup.verdicts(
        Seq((9L, base)).toDF("doc_id", "text"), s"$dir/out", epochId = 2)
      .queryExecution.executedPlan
    // the corpus-lifetime index must never be shuffled by a probe: every
    // probe join in the trickle/micro-batch regimes is broadcast
    assert(collectWithSubqueries(plan) { case j: SortMergeJoinExec => j }.isEmpty,
      "probe joins must be broadcast, not sort-merge (index-side shuffle)")
    // and the trickle regime's literal IN reaches the index scan itself
    val idxScans = collectWithSubqueries(plan) {
      case sc: FileSourceScanExec
        if sc.relation.location.rootPaths.exists(_.toString.contains("exact_idx")) => sc
    }
    assert(idxScans.nonEmpty, "no exact_idx scan in the probe plan")
    // Catalyst simplifies a 1-element IN to EqualTo; either way the
    // membership filter must reach the parquet scan
    assert(idxScans.exists(sc => Seq("In(content_key", "EqualTo(content_key")
        .exists(sc.metadata("PushedFilters").contains)),
      s"IN not pushed to the index scan: ${idxScans.map(_.metadata("PushedFilters"))}")
  }

  test("an EMPTY first batch does not poison the index for batch two") {
    // an idle stream's first micro-batch writes epoch dirs holding only
    // _SUCCESS; the next batch's index read must see "no index yet",
    // not die on UNABLE_TO_INFER_SCHEMA
    val dir = Files.createTempDirectory("graft_ingest_e").toString
    IngestDedup.ingestBatch(
      Seq.empty[(Long, String)].toDF("doc_id", "text"), s"$dir/out", epochId = 0)
    IngestDedup.ingestBatch(
      Seq((1L, base), (2L, base)).toDF("doc_id", "text"), s"$dir/out", epochId = 1)
    assert(spark.read.parquet(s"$dir/out/corpus")
      .select("doc_id").as[Long].collect().toSeq == Seq(1L))
  }

  test("compaction finishes after a crash between commit and install; no keys lost") {
    val dir = Files.createTempDirectory("graft_ingest_cc").toString
    (0 to 2).foreach { e =>
      IngestDedup.ingestBatch(
        Seq((100L + e, uniq(s"c${e}x"))).toDF("doc_id", "text"), s"$dir/out", epochId = e)
    }
    // replicate the crash window: fold committed to the dot-dir, sources
    // already deleted, but the rename into epoch=2 never happened
    val root = s"$dir/out/exact_idx"
    val tmp = s"$root/.compact_tmp_3"
    graft.batch.Lake.compactDirs(spark,
      (0 to 2).map(e => s"$root/epoch=$e"), tmp)
    new java.io.File(tmp, "_GRAFT_COMMIT").createNewFile()
    val fs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    (0 to 2).foreach { e =>
      assert(fs.delete(new org.apache.hadoop.fs.Path(s"$root/epoch=$e"), true))
    }
    IngestDedup.compactIndexes(spark, s"$dir/out", upTo = 3)
    assert(spark.read.parquet(root).select("content_key").count() == 3,
      "all three folded keys must survive the interrupted fold")
    // probes still reject the previously admitted docs
    IngestDedup.ingestBatch(
      Seq((200L, uniq("c1x")), (201L, uniq("dxx"))).toDF("doc_id", "text"),
      s"$dir/out", epochId = 3)
    assert(spark.read.parquet(s"$dir/out/corpus")
      .select("doc_id").as[Long].collect().sorted.toSeq ==
        Seq(100L, 101L, 102L, 201L))
  }

  test("compaction aborts loudly when the destination is blocked; nothing destroyed") {
    val dir = Files.createTempDirectory("graft_ingest_cb").toString
    (0 to 2).foreach { e =>
      IngestDedup.ingestBatch(
        Seq((300L + e, uniq(s"b${e}x"))).toDF("doc_id", "text"), s"$dir/out", epochId = e)
    }
    val root = s"$dir/out/exact_idx"
    // a plain FILE squatting on the destination partition name: not a
    // fold source, so installing the fold there would clobber it
    new java.io.File(s"$root/epoch=3").createNewFile()
    val e = intercept[IllegalArgumentException] {
      IngestDedup.compactIndexes(spark, s"$dir/out", upTo = 4)
    }
    assert(e.getMessage.contains("not a fold source"))
    // the abort happened BEFORE any source deletion: all keys readable
    assert((0 to 2).forall(ep => new java.io.File(s"$root/epoch=$ep").isDirectory))
    // clear the blocker; the same call converges
    assert(new java.io.File(s"$root/epoch=3").delete())
    IngestDedup.compactIndexes(spark, s"$dir/out", upTo = 4)
    assert(spark.read.parquet(root).select("content_key").count() == 3)
    assert(spark.read.parquet(root).select("epoch").as[Long].collect().forall(_ == 3L))
  }
}
