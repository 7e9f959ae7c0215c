package graft.stream

import java.nio.file.Files

import scala.collection.mutable

import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent, SparkListenerJobStart}
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart

/** The Spark jobs of one warm [[MultimodalIngest.ingestBatch]] epoch —
  * the per-epoch coordination cost the ingest path pays. Counted with a
  * SparkListener over the second epoch of a three-membrane store on the
  * IngestBench-shaped fixture, tagged through a local property so only
  * the epoch's own jobs count. Deciding and attributing each doc in the
  * membranes' own probe passes (verdicts), instead of re-probing the
  * rejected set in separate post-hoc ledger passes, took this epoch from
  * 194 jobs to well under half that; the bound pins the halving. */
class IngestEpochJobsSpec extends graft.SparkSpec {

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

  test("a warm three-membrane epoch runs at most half the jobs of the post-hoc ledger path") {
    val dir = Files.createTempDirectory("graft_epoch_jobs").toString + "/mm"
    IngestFixture.init(spark, 901, dir)
    def epoch(e: Long): Unit = MultimodalIngest.ingestBatch(
      IngestFixture.docs(spark, 901, e * 100, (e + 1) * 100), dir, epochId = e, tau = 0.99)
    epoch(0)
    val sites = jobsOf(epoch(1))
    val total = sites.values.sum
    val breakdown = sites.toSeq.sortBy(-_._2).map { case (k, v) => s"$v $k" }.mkString("\n  ")
    info(s"$total jobs:\n  $breakdown")
    assert(total <= 194 / 2, s"$total jobs per warm epoch:\n  $breakdown")
  }
}
