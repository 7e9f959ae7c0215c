package graft.stream

import org.apache.spark.sql.DataFrame

import graft.GraphSpec
import graft.batch.Graph

/** [[Graph.terminals]] on the ingest ledger under adversarial chain
  * shapes, on both routes of its gate.
  *
  * In-batch dup_of chains are as deep as the duplicate cluster's
  * DIAMETER, not the number of membrane stages: a chained-neighbor LSH
  * cluster (doc k bands only with doc k−1) rejects every member
  * against its immediate predecessor, so a single batch can present a
  * chain thousands of hops deep. The driver route must stay O(rows)
  * there (memoized path compression), the doubling loop must resolve it
  * in O(log depth) rounds, and a genuine cycle — impossible from the
  * id-decreasing stage order, so corrupted input — must fail loudly
  * rather than spin.
  */
class DupChainSpec extends graft.SparkSpec {
  import spark.implicits._

  private def distributed[T](f: => T): T = GraphSpec.distributed(spark)(f)

  private def ledger(rows: (Long, Option[Long], String)*): DataFrame =
    rows.toDF("doc_id", "dup_of", "reason")

  private def chain(n: Int): DataFrame =
    ledger((1 to n).map(k => (k.toLong, Option((k - 1).toLong), "near_batch")): _*)

  private def terminals(rej: DataFrame): DataFrame =
    Graph.terminals(rej, "doc_id", "dup_of", Seq("reason"))

  private def resolved(rej: DataFrame): Map[Long, (Option[Long], String)] =
    terminals(rej).as[(Long, Option[Long], String)].collect()
      .map { case (id, dup, reason) => id -> (dup, reason) }.toMap

  // corrupted input: ledger chains are id-decreasing by construction.
  // A healthy chain rides alongside, so the failure is the cycle's
  private val evenCycle = Seq((1L, Some(2L), "near_batch"), (2L, Some(1L), "near_batch"),
    (5L, Some(4L), "exact_batch"))
  private val oddCycle = Seq((1L, Some(2L), "near_batch"), (2L, Some(3L), "near_batch"),
    (3L, Some(1L), "near_batch"), (5L, Some(4L), "exact_batch"))
  private val fourCycle = Seq((1L, Some(2L), "near_batch"), (2L, Some(3L), "near_batch"),
    (3L, Some(4L), "near_batch"), (4L, Some(1L), "near_batch"), (7L, Some(6L), "exact_batch"))

  test("a 10k-hop chained-neighbor ledger resolves to the terminal winner") {
    // doc k lost to doc k-1 for every k in 1..10000; doc 0 is admitted
    // (absent from the ledger). Every row must resolve to 0.
    val n = 10000
    val out = resolved(chain(n))
    assert(out.size === n)
    assert(out.values.forall(_ == ((Some(0L), "near_batch"))), "every chain member resolves to doc 0")
  }

  test("mixed chains keep per-row reasons and stop at a null-dup terminal") {
    // 4 -> 3 -> 2 (quality, dup_of null): 4 and 3 resolve to 2, which
    // keeps its own null dup_of; 9 -> 8 where 8 is absent (admitted):
    // 9 keeps 8. Reasons never rewrite. Both routes.
    val rej = ledger((2L, None, "quality"), (3L, Some(2L), "near_batch"),
      (4L, Some(3L), "exact_batch"), (9L, Some(8L), "near_corpus"))
    val want = Map(2L -> ((None, "quality")), 3L -> ((Some(2L), "near_batch")),
      4L -> ((Some(2L), "exact_batch")), 9L -> ((Some(8L), "near_corpus")))
    assert(resolved(rej) == want)
    assert(distributed(resolved(rej)) == want)
  }

  test("the distributed join loop resolves chains deeper than 256") {
    // the doubling loop (driverLimit = 0) doubles the resolved depth per
    // round, so depth 10k takes 14 rounds, inside Graph.MaxRounds
    val n = 10000
    val out = distributed(resolved(chain(n)))
    assert(out.size === n)
    assert(out.values.forall(_ == ((Some(0L), "near_batch"))), "every chain member resolves to doc 0")
  }

  test("a cycle (corrupted input) fails loudly instead of spinning") {
    for (rej <- Seq(evenCycle, oddCycle)) {
      val e = intercept[IllegalArgumentException](resolved(ledger(rej: _*)))
      assert(e.getMessage.contains("cycled"), e.getMessage)
    }
  }

  test("the distributed join loop also fails loudly on a cycle") {
    val After = """.*after (\d+) rounds.*""".r
    for ((rej, len) <- Seq(evenCycle -> 2, oddCycle -> 3, fourCycle -> 4)) {
      val e = intercept[IllegalArgumentException](distributed(resolved(ledger(rej: _*))))
      assert(e.getMessage.contains("cycled"), e.getMessage)
      // a cycle of length 2^k points each member at itself after k
      // rounds, which the round's one check job sees: ⌊log2 L⌋+1 rounds
      // at most, not Graph.MaxRounds
      if (Integer.bitCount(len) == 1) e.getMessage match {
        case After(r) => assert(r.toInt <= Integer.numberOfTrailingZeros(len) + 1, e.getMessage)
        case m => fail(s"a $len-cycle ran to the round cap: $m")
      }
    }
  }

  test("the driver route returns a local frame; the join loop does not") {
    val rej = ledger((3L, Some(2L), "near_batch"), (4L, Some(3L), "exact_batch"))
    assert(StoreEpoch.isLocal(terminals(rej)), "a gated ledger is read without a job")
    assert(!distributed(StoreEpoch.isLocal(terminals(rej))))
  }
}
