package graft.stream

import java.nio.file.Files

import scala.collection.mutable

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent, SparkListenerJobStart}
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.apache.spark.sql.functions.col

/** The Spark jobs of one warm [[MultimodalIngest.ingestBatch]] epoch —
  * the per-epoch coordination cost the ingest path pays. Counted with a
  * SparkListener over the second epoch of a three-membrane store on the
  * IngestBench-shaped fixture, tagged through a local property so only
  * the epoch's own jobs count. Deciding and attributing each doc in the
  * membranes' own probe passes (verdicts), instead of re-probing the
  * rejected set in separate post-hoc ledger passes, took this epoch from
  * 194 jobs to 48; committing the stores from the driver
  * ([[StoreEpoch.commit]]), reading them with their footers' schemas
  * and counting the metrics row on the driver took it to 34; running
  * it under [[StoreEpoch.SmallEpochShape]] took it to 15, the bound,
  * with 2 generated classes compiled. The first epoch, the compiles
  * and the shape's confs are bounded too, and the same store serves
  * one search, bounded the same way. */
class IngestEpochJobsSpec extends graft.SparkSpec {

  /** Measured bounds of the fixture's epochs of 100 docs (the
    * compile count has slack for an evicted codegen cache entry). */
  private val ColdJobs = 12
  private val WarmJobs = 15
  private val WarmCompiles = 6L

  /** Jobs per call site of `f`, from the jobs started while it ran. A
    * job's site is the first graft frame of the call site of the SQL
    * execution it belongs to, or else of its own stage (the stage alone
    * often names only the AQE or broadcast thread pool). */
  private def jobsOf(f: => Unit): Map[String, Int] = {
    val tag = s"ingest-epoch-jobs-${System.nanoTime()}"
    val sites = mutable.ArrayBuffer.empty[String]
    val execSites = mutable.Map.empty[String, String]
    def graftFrame(details: String) =
      details.linesIterator.map(_.trim.stripPrefix("at "))
        .find(l => l.startsWith("graft.") && !l.contains("Spec"))
    val drained = new java.util.concurrent.CountDownLatch(1)
    val listener = new SparkListener {
      override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
        case x: SparkListenerSQLExecutionStart => graftFrame(x.details)
          .foreach(site => execSites.synchronized(execSites(x.executionId.toString) = site))
        case _ =>
      }
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        val p = Option(e.properties)
        val t = p.map(_.getProperty("graft.spec.tag")).orNull
        if (t == tag) sites.synchronized {
          sites += p.flatMap(q => Option(q.getProperty("spark.sql.execution.id")))
            .flatMap(id => execSites.synchronized(execSites.get(id)))
            .orElse(e.stageInfos.lastOption.flatMap(si => graftFrame(si.details)))
            .getOrElse("?")
        } else if (t == s"$tag-drained") drained.countDown()
      }
    }
    val sc = spark.sparkContext
    sc.addSparkListener(listener)
    try {
      sc.setLocalProperty("graft.spec.tag", tag)
      try f finally sc.setLocalProperty("graft.spec.tag", null)
      // the bus delivers events in order: once this marker job's start
      // arrives, every job `f` started has been seen
      sc.setLocalProperty("graft.spec.tag", s"$tag-drained")
      try sc.parallelize(Seq(1), 1).count() finally sc.setLocalProperty("graft.spec.tag", null)
      assert(drained.await(60, java.util.concurrent.TimeUnit.SECONDS))
    } finally sc.removeSparkListener(listener)
    sites.synchronized(sites.groupBy(identity).map { case (k, v) => k -> v.size })
  }

  private def report(sites: Map[String, Int]): (Int, String) =
    (sites.values.sum, sites.toSeq.sortBy(-_._2).map { case (k, v) => s"$v $k" }.mkString("\n  "))

  private lazy val store = {
    val dir = Files.createTempDirectory("graft_epoch_jobs").toString + "/mm"
    IngestFixture.init(spark, 901, dir)
    dir
  }
  private def epoch(e: Long): Unit = MultimodalIngest.ingestBatch(
    IngestFixture.docs(spark, 901, e * 100, (e + 1) * 100), store, epochId = e, tau = 0.99)

  /** Classes Spark's code generator compiled while `f` ran. */
  private def compilesOf(f: => Unit): Long = {
    val before = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    f
    CodegenMetrics.METRIC_COMPILATION_TIME.getCount - before
  }

  test("a warm three-membrane epoch runs at most half the jobs of the post-hoc ledger path") {
    store // the quantizer's write is not the epoch's
    var coldCompiles = 0L
    val (cold, coldBreakdown) = report(jobsOf { coldCompiles = compilesOf(epoch(0)) })
    info(s"$cold jobs cold, $coldCompiles classes compiled:\n  $coldBreakdown")
    assert(cold <= ColdJobs, s"$cold jobs in the first epoch:\n  $coldBreakdown")
    val (total, breakdown) = report(jobsOf(epoch(1)))
    info(s"$total jobs:\n  $breakdown")
    assert(total <= WarmJobs, s"$total jobs per warm epoch:\n  $breakdown")
  }

  test("a warm small epoch runs interpreted: at most a handful of generated classes") {
    if (!EpochFold.hasDataFiles(spark, s"$store/embed/cells")) { epoch(0); epoch(1) }
    val n = compilesOf(epoch(2))
    info(s"$n classes compiled")
    // about 175 under whole-stage codegen; a Spark that stops honouring
    // spark.sql.codegen.factoryMode compiles them again
    assert(n <= WarmCompiles, s"$n classes compiled in a warm small epoch")
  }

  test("the plan shape's confs read the same after an epoch, and after one that throws") {
    def confs = {
      val set = spark.conf.getAll
      StoreEpoch.SmallEpochShape.keys.toSeq.sorted.map(k => (k, set.get(k), spark.conf.getOption(k)))
    }
    // the spec session sets spark.sql.shuffle.partitions and leaves the
    // other keys unset: a restore must set the one and unset the others
    val before = confs
    if (!EpochFold.hasDataFiles(spark, s"$store/embed/cells")) { epoch(0); epoch(1) }
    epoch(3)
    assert(confs == before)
    // no quantizer pinned: the embedding stage throws inside the shape
    val bare = Files.createTempDirectory("graft_epoch_shape").toString + "/mm"
    val e = intercept[IllegalStateException](MultimodalIngest.ingestBatch(
      IngestFixture.docs(spark, 901, 0, 100), bare, epochId = 0, tau = 0.99))
    assert(e.getMessage.contains("no quantizer"), e.getMessage)
    assert(confs == before)
  }

  test("a search over the ingest stores runs at most 5 jobs") {
    if (!EpochFold.hasDataFiles(spark, s"$store/embed/cells")) { epoch(0); epoch(1) }
    val query = IngestFixture.docs(spark, 901, 0, 1)
      .select((-col("doc_id") - 1).as("vec_id"), col("embedding"))
    MultimodalIngest.search(spark, store, query, k = 5, nProbe = 4).collect() // warm
    val (total, breakdown) =
      report(jobsOf(MultimodalIngest.search(spark, store, query, k = 5, nProbe = 4).collect()))
    info(s"$total jobs:\n  $breakdown")
    // 7 while the centroids and cells reads inferred their schemas
    assert(total <= 5, s"$total jobs per search:\n  $breakdown")
  }
}
