package graftbench

import java.nio.file.Path

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.GraftFunctions
import graft.stream.MultimodalIngest

/** Exactly-once multimodal ingest, then a search client on the same
  * stores. Epoch by epoch `MultimodalIngest.ingestBatch` runs the text,
  * media and embedding membranes; `compact` folds every store; then a
  * closed-loop client calls `MultimodalIngest.search` with planted
  * queries against the epoch-partitioned cells the ingest wrote.
  *
  * Corpus (the IngestBench multimodal+media shape, seeded): per group
  * of five ids, v0 is a base doc, v1 its exact text dup, v2 a near text
  * dup, v3 unique text but v0's embedding, v4 unique text and embedding
  * carrying a media payload whose perceptual hash is one of 8 values at
  * pairwise Hamming distance 2. So exactly v0 of every group plus the
  * first v4 are kept, every other v4 is a media rejection, and the
  * ledger rolls up to one size-4 cluster per group plus one
  * size-nGroups media cluster. */
object IngestServe extends Workload {
  val name = "ingest_serve"
  val dim = 16
  val docsPerEpoch = 500
  val searches = 10
  val reps = 3
  /** Nominal seconds per ingest epoch (sizes the run). */
  val nominalEpochS = 12.0

  private def toks(seed: Long, key: Column, n: Int, salt: String): Column =
    concat_ws(" ", transform(sequence(lit(0), lit(n - 1)),
      i => substring(md5(concat(lit(s"$seed|"), key, lit(s"|$salt|"), i.cast("string"))), 1, 4)))

  private def emb(seed: Long, key: Column): Column =
    transform(sequence(lit(0), lit(dim - 1)), i =>
      ((conv(substring(md5(concat(lit(s"$seed|"), key, lit("|e|"), i.cast("string"))), 1, 4), 16, 10)
        .cast("double") - 32768.0) / 32768.0).cast("float"))

  def docs(ctx: Ctx, lo: Long, hi: Long): DataFrame = {
    val s = ctx.seed
    val g = (col("doc_id") / 5).cast("long").cast("string")
    val v = pmod(col("doc_id"), lit(5))
    ctx.spark.range(lo, hi).toDF("doc_id")
      .withColumn("text",
        when(v === 0 || v === 1, toks(s, g, 30, "base"))
          .when(v === 2, concat(toks(s, g, 30, "base"), lit(" "), toks(s, g, 4, "tail")))
          .otherwise(toks(s, concat(g, v.cast("string")), 30, "uniq")))
      .withColumn("embedding",
        when(v === 0 || v === 3, emb(s, g))
          .otherwise(emb(s, concat(g, lit("#"), col("doc_id").cast("string")))))
      .withColumn("media", expr(
        "CASE WHEN pmod(doc_id, 5) = 4 THEN concat(" +
          "repeat('a', cast(pmod(doc_id div 5, 8) as int) * 10), repeat('z', 10), " +
          "repeat('a', (31 - cast(pmod(doc_id div 5, 8) as int)) * 10)) " +
          "ELSE 'x' END"))
  }

  /** A planted query per group: the base doc's embedding under a query
    * id no stored vector has. Its top-1 must be the base doc, cosine 1. */
  def plantedQuery(ctx: Ctx, group: Long): DataFrame =
    ctx.spark.range(1).select(lit(-1L - group).as("vec_id"), emb(ctx.seed, lit(group.toString)).as("embedding"))

  def init(ctx: Ctx, dir: Path): Unit = {
    val cents = ctx.spark.range(8).toDF("cid")
      .withColumn("ce", emb(ctx.seed, concat(lit("cent"), col("cid").cast("string"))))
      .withColumn("cn", sqrt(GraftFunctions.vec_dot(col("ce"), col("ce"))))
    ctx.ops("MultimodalIngest.init")(MultimodalIngest.init(ctx.spark, dir.toString, cents))
  }

  def ingest(ctx: Ctx, dir: Path, epoch: Long): Unit =
    ctx.ops(s"MultimodalIngest.ingestBatch epoch $epoch") {
      Trace.span("stream.ingest.batch", s"epoch=$epoch") {
        MultimodalIngest.ingestBatch(docs(ctx, epoch * docsPerEpoch, (epoch + 1) * docsPerEpoch),
          dir.toString, epochId = epoch, tau = 0.99)
      }
    }

  def run(ctx: Ctx): Outcome = {
    val spark = ctx.spark
    if (ctx.trace) Trace.attach(spark.sparkContext)
    // two epochs at least, so the fold below has partitions to fold
    val epochs = math.max(2, math.round(ctx.seconds / nominalEpochS).toInt)

    // set-up: quantizer init on fresh stores (the last one is kept)
    val initS = (1 to reps).map { r =>
      val t0 = System.nanoTime()
      init(ctx, ctx.work.resolve(s"mm-$r"))
      (System.nanoTime() - t0) / 1e9
    }
    val dir = ctx.work.resolve(s"mm-$reps")

    // every epoch is timed, the first one cold, as a freshly started
    // ingest job runs it: an untimed warm-up epoch would cost as much
    val problems = Seq.newBuilder[String]
    val epochS = (0L until epochs).map { b =>
      Trace.set(ctx.trace)
      val t1 = System.nanoTime()
      ingest(ctx, dir, b)
      (System.nanoTime() - t1) / 1e9
    }
    // fold every store, as the production cadence would by now
    val before = ctx.diskUsage(dir)._2
    val t1 = System.nanoTime()
    ctx.ops(s"MultimodalIngest.compact upTo $epochs")(Trace.span("stream.ingest.compact") {
      MultimodalIngest.compact(spark, dir.toString, upTo = epochs)
    })
    val fold = ((System.nanoTime() - t1) / 1e9, before, ctx.diskUsage(dir)._2)
    Trace.set(false)

    // closed-loop search client over the committed groups; the first,
    // untimed call pays the search plan's codegen. A traced run traces
    // every other timed call, never the first or last, so each traced
    // call sits between two untraced ones
    val rnd = new scala.util.Random(ctx.seed)
    val nDocs = epochs.toLong * docsPerEpoch
    val nGroups = nDocs / 5
    val searchS = (0 to searches).map { i =>
      val traced = ctx.trace && i % 2 == 0 && i > 0 && i < searches
      Trace.set(traced)
      val group = rnd.nextLong(nGroups)
      val t2 = System.nanoTime()
      val hits = ctx.ops(s"MultimodalIngest.search group $group") {
        Trace.span("stream.ingest.search", s"group=$group") {
          MultimodalIngest.search(spark, dir.toString, plantedQuery(ctx, group), k = 5, nProbe = 4)
            .collect()
        }
      }
      val dt = (System.nanoTime() - t2) / 1e9
      val top = hits.find(_.getAs[Number]("rank").intValue == 1)
      if (!top.exists(r => r.getAs[Long]("neighbor_id") == group * 5 && r.getAs[Double]("rcos") == 1.0))
        problems += s"search for group $group: top-1 ${top.map(r =>
          s"${r.getAs[Long]("neighbor_id")} at ${r.getAs[Double]("rcos")}").getOrElse("missing")}, " +
          s"expected base doc ${group * 5} at cosine 1.0"
      traced -> dt
    }.drop(1)
    Trace.set(false)

    System.err.println(s"graftbench: seconds: session ${ctx.sessionStartS}, init ${initS.mkString(" ")}, " +
      s"epochs ${epochS.mkString(" ")}, compact ${fold._1}, searches ${searchS.map(_._2).sum}")

    // exact outcome of the whole run
    val kept = ctx.ops("MultimodalIngest.corpus")(MultimodalIngest.corpus(spark, dir.toString).count())
    if (kept != nGroups + 1) problems += s"kept $kept docs, expected ${nGroups + 1}"
    val mediaRej = ctx.ops("MultimodalIngest.metrics")(MultimodalIngest.metrics(spark, dir.toString)
      .agg(sum(col("n_media_rejected"))).collect()(0).getLong(0))
    if (mediaRej != nGroups - 1) problems += s"media rejected $mediaRej, expected ${nGroups - 1}"
    val cl = ctx.ops("MultimodalIngest.clusters")(MultimodalIngest.clusters(spark, dir.toString)
      .groupBy(col("cluster_size")).agg(countDistinct(col("cluster_id")).as("n"), count(lit(1)).as("m"))
      .collect().map(r => r.getAs[Long]("cluster_size") -> ((r.getAs[Long]("n"), r.getAs[Long]("m")))).toMap)
    val want = Map(4L -> ((nGroups, 4 * nGroups)), nGroups -> ((1L, nGroups)))
    if (cl != want) problems += s"cluster rollup $cl, expected $want"

    val (bytes, _) = ctx.diskUsage(dir)
    val e2e = Map(
      "setup_s" -> Metric(ctx.sessionStartS + Stats.median(initS), "s"),
      "latency_s.p50" -> Metric(Stats.percentile(searchS.map(_._2), 50), "s"),
      "throughput_per_s" -> Metric(epochs * docsPerEpoch / epochS.sum, "1/s"),
      "heap_peak_mb" -> Metric(ctx.heapPeakMb, "MB"))
    val detail = Map(
      "ingest.docs_per_s" -> e2e("throughput_per_s"),
      "ingest.epoch_s.p50" -> Metric(Stats.median(epochS), "s"),
      "ingest.search_s.p50" -> e2e("latency_s.p50"),
      "ingest.search_s.p90" -> Metric(Stats.percentile(searchS.map(_._2), 90), "s"),
      "ingest.searches" -> Metric(searchS.size, "count"),
      "ingest.disk_bytes_per_doc" -> Metric(bytes.toDouble / nDocs, "bytes"))
    Outcome(problems.result(), e2e, if (ctx.trace) layers(ctx, searchS, fold) else Map.empty, detail)
  }

  private def layers(ctx: Ctx, srch: Seq[(Boolean, Double)],
      fold: (Double, Long, Long)): Map[String, Metric] = {
    val jobs = Trace.jobs(ctx.spark.sparkContext)
    val all = Trace.allSpans
    def named(n: String) = all.filter(_.name == n)
    val batches = named("stream.ingest.batch")
    def perBatch(f: Seq[JobRec] => Double) = Stats.median(batches.map(s => f(Trace.jobsOf(s, all, jobs))))
    val searches = named("stream.ingest.search")
    val searchJobs = searches.map(s => Trace.jobsOf(s, all, jobs))
    Map(
      "trace.overhead_pct" -> Metric(100 * Stats.tracedOverhead(srch), "%"),
      "stream.ingest.batch_s" -> Metric(Stats.median(batches.map(_.durMs / 1000)), "s"),
      "stream.ingest.jobs" -> Metric(perBatch(_.size.toDouble), "count"),
      "stream.ingest.tasks" -> Metric(perBatch(_.map(_.tasks).sum.toDouble), "count"),
      "stream.ingest.driver_gap_s" -> Metric(Stats.median(batches.map(s =>
        Trace.gapMs(s, Trace.jobsOf(s, all, jobs)) / 1000)), "s"),
      "stream.ingest.shuffle_bytes" -> Metric(perBatch(_.map(_.shuffleBytes).sum.toDouble), "bytes"),
      "stream.ingest.bytes_written" -> Metric(perBatch(_.map(_.bytesWritten).sum.toDouble), "bytes"),
      "stream.ingest.compact_s" -> Metric(fold._1, "s"),
      "stream.ingest.files_before_fold" -> Metric(fold._2.toDouble, "count"),
      "stream.ingest.files_after_fold" -> Metric(fold._3.toDouble, "count"),
      "stream.ingest.search.jobs" -> Metric(Stats.median(searchJobs.map(_.size.toDouble)), "count"),
      "stream.ingest.search.rows_scanned_per_result" -> Metric(
        Stats.median(searchJobs.map(_.map(_.recordsRead).sum / 5.0)), "count"))
  }
}
