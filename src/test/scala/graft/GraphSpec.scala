package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.batch.{Dedup, Graph}

/** Route helpers shared by the graph specs: DedupClusterSpec pins
  * `Graph.components` on adversarial shapes, DupChainSpec pins
  * `Graph.terminals` on adversarial ledgers. */
object GraphSpec {

  /** `f` with `graft.graph.driverLimit` at 0: the distributed loops. */
  def distributed[T](spark: SparkSession)(f: => T): T = {
    spark.conf.set("graft.graph.driverLimit", "0")
    try f finally spark.conf.unset("graft.graph.driverLimit")
  }

  /** Local union-find reference: node -> its component's min id. */
  def unionFind(edges: Seq[(Long, Long)]): Map[Long, Long] = {
    val parent = scala.collection.mutable.Map.empty[Long, Long]
    def find(x: Long): Long = {
      val p = parent.getOrElseUpdate(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    edges.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    parent.keys.map(k => k -> find(k)).toMap
  }
}

/** [[Graph]]'s operations on both sides of their one gate
  * (`graft.graph.driverLimit`; 0 forces the distributed loops) on the
  * real LSH graph and a random graph 10× its size, and rank resolving a
  * depth-D chain in ⌊log2 D⌋+1 rounds with exact hops.
  */
class GraphSpec extends SparkSpec {
  import spark.implicits._
  import GraphSpec.unionFind

  private def distributed[T](f: => T): T = GraphSpec.distributed(spark)(f)

  private def labels(edges: Seq[(Long, Long)]): Map[Long, Long] =
    Graph.components(edges.toDF("id_a", "id_b"))
      .as[(Long, Long)].collect().toMap

  private def bothRoutesEqualUnionFind(edges: Seq[(Long, Long)]): Unit = {
    val want = unionFind(edges)
    assert(labels(edges) == want, s"driver route diverged on ${edges.take(5)}…")
    assert(distributed(labels(edges)) == want, s"distributed route diverged on ${edges.take(5)}…")
  }

  private def lshPairs(d: String): Seq[(Long, Long)] =
    Dedup.qd2_minhash_lsh(spark, d).select(col("id_a").cast("long"), col("id_b").cast("long"))
      .as[(Long, Long)].collect().toSeq

  test("components: qd6 is route-invariant on the real LSH graph") {
    val d = "/root/testdata/sf0.01"
    def qd6 = Dedup.qd6_dup_clusters(spark, d).as[(Long, Long, Boolean, Long)].collect().toSeq
    val viaDriver = qd6
    assert(viaDriver.nonEmpty, "the fixture LSH graph has candidate pairs")
    assert(distributed(qd6) == viaDriver, "qd6 must not depend on the route")
    assert(viaDriver.map(r => r._1 -> r._2).toMap == unionFind(lshPairs(d)),
      "qd6 clusters ≡ union-find over qd2's candidate pairs")
  }

  test("components: both routes on a random graph 10× the fixture's") {
    val fixture = lshPairs("/root/testdata/sf0.01")
    val nodes = fixture.flatMap(p => Seq(p._1, p._2)).distinct.size
    val rnd = new scala.util.Random(11)
    val random = Seq.fill(10 * fixture.size)(
        (rnd.nextInt(10 * nodes).toLong, rnd.nextInt(10 * nodes).toLong))
      .filter { case (a, b) => a != b }
    bothRoutesEqualUnionFind(random)
  }

  private def log2ceil(d: Long): Int =
    (math.log(d.toDouble) / math.log(2.0)).ceil.toInt

  test("rank: depth-299 chain resolves in <= log2(depth)+1 rounds, hops exact") {
    val n = 300L
    val state = spark.range(n).select(
      lit(1).as("g"), col("id"),
      when(col("id") === 0, lit(null).cast("long"))
        .otherwise(col("id") - 1).as("ptr"),
      when(col("id") === 0, 0L).otherwise(1L).as("dist"))
    val (out, rounds) = Graph.rank(state, Seq("g"), "id", "ptr", "dist")
    assert(rounds <= log2ceil(n - 1) + 1, s"rounds=$rounds for depth ${n - 1}")
    val got = out.select(col("id"), col("dist")).as[(Long, Long)].collect().toMap
    (0L until n).foreach(i => assert(got(i) == i, s"node $i dist"))
    assert(out.filter(col("ptr").isNotNull).isEmpty, "all pointers resolved")
  }

  test("rank: a cycle fails loudly instead of spinning") {
    // 0 -> 1 -> 0: the non-null pointer set never drains
    val state = Seq((1, 0L, Some(1L), 1L), (1, 1L, Some(0L), 1L))
      .toDF("g", "id", "ptr", "dist")
    val e = intercept[IllegalArgumentException] {
      Graph.rank(state, Seq("g"), "id", "ptr", "dist")
    }
    assert(e.getMessage.contains("converge"))
  }

  test("q37 rewrite: hash-identical to the row_number contract; rounds bounded") {
    val d = "/root/testdata/sf0.01"
    val w = Window.partitionBy("o_custkey").orderBy("o_orderkey")
    val base = Tables.orders(spark, d)
      .filter(pmod(col("o_custkey"), lit(50)) === 0)
      .select(col("o_custkey"), col("o_orderkey"))
    val expect = base.withColumn("hop", row_number().over(w))
      .select(col("o_custkey").as("custkey"), col("o_orderkey"), col("hop"))
      .as[(Long, Long, Int)].collect().sorted.toSeq
    val got = SparkEntry.queries("q37_recursive_chain")(spark, d)
      .as[(Long, Long, Int)].collect().sorted.toSeq
    assert(got == expect, "q37 must equal the oracle's row_number contract")

    // the round bound holds on the REAL chain state (depth = longest
    // per-customer chain), not just the synthetic one
    val depth = base.groupBy("o_custkey").count()
      .agg(max("count")).head.getLong(0)
    val state = base
      .withColumn("ptr", lag(col("o_orderkey"), 1).over(w))
      .withColumn("dist", when(col("ptr").isNull, 0L).otherwise(1L))
    val (_, rounds) = Graph.rank(state, Seq("o_custkey"), "o_orderkey", "ptr", "dist")
    assert(rounds <= log2ceil(depth - 1) + 1,
      s"rounds=$rounds for max chain depth ${depth - 1}")
  }
}
