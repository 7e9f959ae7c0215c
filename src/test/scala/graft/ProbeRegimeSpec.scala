package graft

import java.nio.file.Files

import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.execution.joins.{BroadcastHashJoinExec, SortMergeJoinExec}

import graft.stream.IngestDedup

/** One dataset driven through EACH of IngestDedup's three probe
  * regimes (trickle / broadcast / shuffle), pinning every regime's
  * plan shape — not just the trickle one — plus result equality.
  * The regime switch points are session confs so the same batch can
  * exercise all three code paths. */
class ProbeRegimeSpec extends SparkSpec with AdaptiveSparkPlanHelper {
  import spark.implicits._

  private val prefix = (0 until 30).map(i => f"w$i%02d").mkString(" ")
  private val base = prefix + " tail one"
  private def uniq(tag: String) = (0 until 30).map(i => f"$tag%s$i%02d").mkString(" ")

  /** Two committed epochs: docs 1 (base), 2 (unique ax), 3 (unique bx). */
  private def seedIndex(): String = {
    val dir = Files.createTempDirectory("graft_regime").toString + "/out"
    IngestDedup.ingestBatch(
      Seq((1L, base), (2L, uniq("ax"))).toDF("doc_id", "text"), dir, epochId = 0)
    IngestDedup.ingestBatch(
      Seq((3L, uniq("bx"))).toDF("doc_id", "text"), dir, epochId = 1)
    dir
  }

  // 9: exact dup of corpus doc 1; 11: exact dup of corpus doc 2;
  // 12: near dup of corpus doc 1 (same shingle window, new tail);
  // 10: novel → the expected survivor set is {10}
  private val probeBatch = Seq(
    (9L, base), (10L, uniq("cx")), (11L, uniq("ax")), (12L, prefix + " tail CHANGED"))

  private def isIndexScan(sc: FileSourceScanExec): Boolean =
    sc.relation.location.rootPaths.exists(_.toString.contains("_idx"))
  private def hasIndexScan(p: SparkPlan): Boolean =
    p.collect { case sc: FileSourceScanExec if isIndexScan(sc) => sc }.nonEmpty

  /** The no-index-shuffle invariant, precisely: rows DERIVED from an
    * index scan may shuffle (the hit sets are batch-bounded — e.g. the
    * `.distinct()` on loser ids), but the raw index must be bounded
    * BELOW any shuffle, by a pushed membership filter (trickle) or a
    * broadcast probe join (micro-batch). A shuffle whose subtree holds
    * an unbounded index scan is the per-batch full-index shuffle the
    * regimes exist to avoid. */
  private def indexBoundedBelowEveryShuffle(plan: SparkPlan): Boolean = {
    val shuffles = collectWithSubqueries(plan) {
      case e: ShuffleExchangeExec if hasIndexScan(e) => e
    }
    shuffles.forall { e =>
      e.collectFirst {
        case j: BroadcastHashJoinExec if hasIndexScan(j) => j
        case sc: FileSourceScanExec if isIndexScan(sc) &&
          Seq("In(", "EqualTo(").exists(sc.metadata("PushedFilters").contains) => sc
      }.nonEmpty
    }
  }

  private def withConf(pairs: (String, String)*)(f: => Unit): Unit = {
    val olds = pairs.map { case (k, _) => k -> spark.conf.getOption(k) }
    pairs.foreach { case (k, v) => spark.conf.set(k, v) }
    try f finally olds.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  private def run(dir: String): (Seq[Long], SparkPlan) = {
    val df = IngestDedup.verdicts(
      probeBatch.toDF("doc_id", "text"), dir, epochId = 2)
    (df.filter(df("reason").isNull).select("doc_id").as[Long].collect().sorted.toSeq,
      df.queryExecution.executedPlan)
  }

  test("trickle regime: literal IN reaches the index scan; index never shuffled") {
    val (ids, plan) = run(seedIndex()) // defaults: batch of 4 ≤ 8192
    assert(ids == Seq(10L))
    val idxScans = collectWithSubqueries(plan) {
      case sc: FileSourceScanExec if isIndexScan(sc) => sc
    }
    assert(idxScans.nonEmpty)
    assert(idxScans.exists(sc => Seq("In(content_key", "EqualTo(content_key")
        .exists(sc.metadata("PushedFilters").contains)),
      s"IN not pushed: ${idxScans.map(_.metadata("PushedFilters"))}")
    assert(collectWithSubqueries(plan) { case j: SortMergeJoinExec => j }.isEmpty)
    assert(indexBoundedBelowEveryShuffle(plan),
      "the raw index must be bounded below any shuffle")
  }

  test("broadcast regime: batch keys build-side, index streamed, no IN, no shuffle") {
    withConf("spark.graft.ingest.isinKeyLimit" -> "0") {
      val (ids, plan) = run(seedIndex())
      assert(ids == Seq(10L), "regimes must agree on the survivor set")
      val idxScans = collectWithSubqueries(plan) {
        case sc: FileSourceScanExec if isIndexScan(sc) => sc
      }
      assert(idxScans.nonEmpty)
      assert(!idxScans.exists(_.metadata("PushedFilters").contains("In(content_key")),
        "no driver-collected IN in the broadcast regime")
      // the distinguishing shape: a broadcast join whose STREAMED side
      // scans the index and whose build side does not — the unbounded
      // index is never the broadcast operand of its own probe
      val probeJoins = collectWithSubqueries(plan) {
        case j: BroadcastHashJoinExec => j
      }
      assert(probeJoins.exists { j =>
        val (build, streamed) = j.buildSide match {
          case org.apache.spark.sql.catalyst.optimizer.BuildLeft => (j.left, j.right)
          case org.apache.spark.sql.catalyst.optimizer.BuildRight => (j.right, j.left)
        }
        hasIndexScan(streamed) && !hasIndexScan(build)
      }, "expected a broadcast probe with the index on the streamed side")
      assert(collectWithSubqueries(plan) { case j: SortMergeJoinExec => j }.isEmpty)
      assert(indexBoundedBelowEveryShuffle(plan),
        "the raw index must be bounded below any shuffle")
    }
  }

  test("shuffle regime (bulk backfill): plain joins, planner free to shuffle the index") {
    withConf(
      "spark.graft.ingest.isinKeyLimit" -> "0",
      "spark.graft.ingest.broadcastKeyLimit" -> "0",
      // tiny fixtures would auto-broadcast; force the at-scale shape
      "spark.sql.autoBroadcastJoinThreshold" -> "-1") {
      val (ids, plan) = run(seedIndex())
      assert(ids == Seq(10L), "regimes must agree on the survivor set")
      // the bulk regime's contract IS the plain shuffle join: correct at
      // any size, paid for only by batches big enough to amortize it
      val smjOverIndex = collectWithSubqueries(plan) {
        case j: SortMergeJoinExec if hasIndexScan(j) => j
      }
      assert(smjOverIndex.nonEmpty,
        "expected the index probe to be a plain shuffle join in the bulk regime")
    }
  }

  test("mixed regime between limit/2 and limit: content trickle, bands broadcast") {
    // the limit compares KEY counts and the band probe carries ~2 keys
    // per doc, so a batch in (limit/2, limit] docs rides trickle on the
    // content index but broadcast on the band index — the boundary a
    // deployment sizing its micro-batches for full-trickle IO must
    // clear by 2×, pinned here so the 2-keys-per-doc contract can't
    // drift silently (batch = 4 docs, limit = 5: 4 ≤ 5 but 2·4 > 5)
    withConf("spark.graft.ingest.isinKeyLimit" -> "5") {
      val (ids, plan) = run(seedIndex())
      assert(ids == Seq(10L), "regimes must agree on the survivor set")
      val contentScans = collectWithSubqueries(plan) {
        case sc: FileSourceScanExec if isIndexScan(sc) &&
          sc.relation.location.rootPaths.exists(_.toString.contains("exact_idx")) => sc
      }
      assert(contentScans.exists(sc => Seq("In(content_key", "EqualTo(content_key")
          .exists(sc.metadata("PushedFilters").contains)),
        s"content probe must stay trickle at batch ≤ limit: ${
          contentScans.map(_.metadata("PushedFilters"))}")
      val bandScans = collectWithSubqueries(plan) {
        case sc: FileSourceScanExec if isIndexScan(sc) &&
          sc.relation.location.rootPaths.exists(_.toString.contains("band_idx")) => sc
      }
      assert(bandScans.nonEmpty)
      assert(!bandScans.exists(sc => Seq("In(key", "EqualTo(key")
          .exists(sc.metadata("PushedFilters").contains)),
        "band probe must NOT collect an IN list once 2·batch exceeds the limit")
      // still the broadcast shape: band index streamed, never build-side
      val probeJoins = collectWithSubqueries(plan) {
        case j: BroadcastHashJoinExec => j
      }
      assert(probeJoins.exists { j =>
        val streamed = j.buildSide match {
          case org.apache.spark.sql.catalyst.optimizer.BuildLeft => j.right
          case org.apache.spark.sql.catalyst.optimizer.BuildRight => j.left
        }
        streamed.collect { case sc: FileSourceScanExec if isIndexScan(sc) &&
          sc.relation.location.rootPaths.exists(_.toString.contains("band_idx")) => sc
        }.nonEmpty
      }, "expected a broadcast probe with the band index on the streamed side")
      assert(indexBoundedBelowEveryShuffle(plan),
        "the raw index must be bounded below any shuffle")
    }
  }
}
