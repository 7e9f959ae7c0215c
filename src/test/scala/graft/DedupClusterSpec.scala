package graft

import org.apache.spark.sql.functions._

import graft.batch.{Dedup, Graph}

/** qd6 duplicate-cluster resolution: structural invariants of the
  * connected-components output (the oracle pins exact values; these pin
  * the graph semantics independent of the fixture).
  */
class DedupClusterSpec extends SparkSpec {

  private val sf = "/root/testdata/sf0.001"

  test("clusters are consistent: canonical = min member, sizes add up") {
    val out = Dedup.qd6_dup_clusters(spark, sf).cache()
    val rows = out.collect()
    assert(rows.nonEmpty, "fixture LSH produces at least one candidate pair")

    // cluster_id is the min doc_id of the cluster (canonical representative)
    val byCluster = rows.groupBy(_.getAs[Long]("cluster_id"))
    byCluster.foreach { case (cid, members) =>
      assert(members.map(_.getAs[Long]("doc_id")).min == cid,
        s"cluster $cid: representative must be the min member id")
      val sizes = members.map(_.getAs[Long]("cluster_size")).distinct.toSeq
      assert(sizes == Seq(members.length.toLong),
        s"cluster $cid: cluster_size column must equal the member count")
      assert(members.count(_.getAs[Boolean]("is_canonical")) == 1,
        s"cluster $cid: exactly one canonical row")
    }

    // every doc appears exactly once
    val ids = rows.map(_.getAs[Long]("doc_id"))
    assert(ids.distinct.length == ids.length)
    out.unpersist()
  }

  test("hot-bucket flood: capped pair reporting emits cap rows, not m(m-1)/2") {
    import spark.implicits._
    // 1000 docs sharing the whole 120-char shingle window → identical
    // minhash → ONE bucket per band of m=1000: the uncapped reporting
    // shape would emit 2 × 499,500 rows
    val prefix = (0 until 30).map(i => f"w$i%02d").mkString(" ")
    val docs = (0L until 1000L).map(i => (i, s"$prefix tail$i")).toDF("doc_id", "text")
    val out = Dedup.lshPairsCapped(docs, cap = 10).collect()
    assert(out.length == 20, s"2 buckets × cap 10 expected, got ${out.length}")
    assert(out.forall(_.getAs[Long]("n_overflow") == 499500L - 10L),
      "overflow must count against the TRUE bucket pair count")
    assert(out.forall(_.getAs[Int]("n_match") == 6),
      "identical shingle windows → full minhash agreement")
  }

  test("cap above the bucket pair count reports every pair with zero overflow") {
    import spark.implicits._
    val prefix = (0 until 30).map(i => f"z$i%02d").mkString(" ")
    val docs = (0L until 5L).map(i => (i, s"$prefix tail$i")).toDF("doc_id", "text")
    val out = Dedup.lshPairsCapped(docs, cap = 1000).collect()
    assert(out.length == 2 * 10, "2 buckets × C(5,2) pairs")
    assert(out.forall(_.getAs[Long]("n_overflow") == 0L))
  }

  test("cross-corpus flood: qd22's witness side is capped — |new| × cap " +
    "pairs, never |new| × |bucket|, and rejection stays complete") {
    import spark.implicits._
    import org.apache.spark.sql.functions.{col, pmod, lit}
    // 1000 EXISTING docs + 10 NEW docs all sharing the whole shingle
    // window → identical band keys, one flood bucket per band
    val prefix = (0 until 30).map(i => f"x$i%02d").mkString(" ")
    val docs = ((0L until 1000L).map(i => (i * 10L + 1L, s"$prefix tail$i")) ++
      (0L until 10L).map(i => (i * 10L, s"$prefix tail$i"))).toDF("doc_id", "text")
    val sigs = Dedup.minhashSigsOf(docs).localCheckpoint()
    val out = Dedup.crossCorpusNearDup(sigs,
      isNew = pmod(col("doc_id"), lit(10)) === 0, cap = 16).collect()
    // every new doc is REJECTED (complete: the flood is a true dup set)
    assert(out.length == 10, s"all 10 new docs must match, got ${out.length}")
    // and each one's witness set is the cap prefix, not the bucket
    assert(out.forall(_.getAs[Long]("n_witnesses") == 16L),
      out.map(r => r.getAs[Long]("n_witnesses")).mkString(","))
    assert(out.forall(_.getAs[Int]("best_match") == 6))
  }

  test("identical-fingerprint flood: qd14's pair space is O(SimBandCap²), not O(m²)") {
    import spark.implicits._
    // 2000 docs with the SAME simhash: every band bucket floods; the
    // member prefix must bound the join at cap per (band, key)
    val sh = (0L until 2000L).map(i => (i, 0xABCDL)).toDF("doc_id", "simhash")
    val n = Dedup.simhashPairsOf(sh).count()
    val cap = 512L // Dedup.SimBandCap
    assert(n == cap * (cap - 1) / 2,
      s"all 4 bands hold the same first-$cap prefix → exactly C(cap,2) distinct pairs, got $n")
    assert(n < 2000L * 1999L / 2, "far below the uncapped pair space")
  }

  test("shared-span flood: qd9's pair output is O(dfCap²), not O(m²)") {
    import spark.implicits._
    // 1000 docs sharing a 160-char aligned span (the licence-header
    // case): every doc carries the SAME 9 stride-aligned window
    // fingerprints, so the uncapped inverted-index self-join would
    // enumerate 499,500 pairs per fingerprint — ~4.5M candidate rows
    val span = (0 until 40).map(i => f"w$i%02d").mkString(" ") // 159 chars
    val docs = (0L until 1000L).map(i => (i, s"$span padpad tail$i"))
      .toDF("doc_id", "text")
    val out = Dedup.substringPairsCapped(docs, dfCap = 4).collect()
    // pairs only among each fingerprint's 4-member md5-ordered prefix
    // (the eviction-bias rule): all 1000 docs share all 9 span
    // fingerprints, so every fingerprint keeps the SAME 4 docs —
    // those with the smallest md5(doc_id) — and C(4,2) = 6 pairs
    def md5hex(s: String): String =
      java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    val prefix = (0L until 1000L).sortBy(i => (md5hex(i.toString), i)).take(4).toSet
    assert(out.length == 6, s"expected C(4,2)=6 capped pairs, got ${out.length}")
    assert(out.forall(r => prefix(r.getAs[Long]("id_a")) && prefix(r.getAs[Long]("id_b"))),
      "capped pairs must come from the hash-ordered prefix")
    assert(out.forall(_.getAs[Long]("n_shared") >= 9L),
      "prefix members share all 9 aligned span fingerprints")

    // exact overflow accounting: each span fingerprint has df = 1000,
    // true pairs C(1000,2) = 499,500, reported C(4,2) = 6
    val ov = Dedup.substringOverflow(docs, dfCap = 4)
      .filter(col("df") === 1000L).collect()
    assert(ov.length >= 9, "all shared span fingerprints accounted")
    assert(ov.forall(_.getAs[Long]("n_pairs_true") == 499500L))
    assert(ov.forall(_.getAs[Long]("n_pairs_reported") == 6L))
    assert(ov.forall(_.getAs[Long]("n_overflow") == 499500L - 6L),
      "overflow must count against the TRUE per-fingerprint pair count")
  }

  test("qd9 cap above every fingerprint df reports the exact pair list") {
    import spark.implicits._
    val span = (0 until 40).map(i => f"z$i%02d").mkString(" ")
    val docs = (0L until 5L).map(i => (i, s"$span padpad tail$i"))
      .toDF("doc_id", "text")
    val out = Dedup.substringPairsCapped(docs, dfCap = 64).collect()
    assert(out.length == 10, "C(5,2) pairs, cap non-binding")
    assert(out.forall(_.getAs[Long]("n_shared") >= 9L))
    val ov = Dedup.substringOverflow(docs, dfCap = 64).collect()
    assert(ov.nonEmpty && ov.forall(_.getAs[Long]("n_overflow") == 0L))
  }

  test("labels respect the candidate edges: pair endpoints share a cluster") {
    val labels = Dedup.qd6_dup_clusters(spark, sf)
      .select(col("doc_id"), col("cluster_id"))
    // rebuild the same candidate pairs qd6 consumed via qd2's output
    val pairs = Dedup.qd2_minhash_lsh(spark, sf).select(col("id_a"), col("id_b"))
    val violated = pairs
      .join(labels.withColumnRenamed("doc_id", "id_a").withColumnRenamed("cluster_id", "ca"), "id_a")
      .join(labels.withColumnRenamed("doc_id", "id_b").withColumnRenamed("cluster_id", "cb"), "id_b")
      .filter(col("ca") =!= col("cb"))
    assert(violated.isEmpty, "every candidate pair must land in one cluster")
  }

  private def labels(edges: Seq[(Long, Long)]): Map[Long, Long] = {
    import spark.implicits._
    Graph.components(edges.toDF("id_a", "id_b")).as[(Long, Long)].collect().toMap
  }

  private def distributedLabels(edges: Seq[(Long, Long)]): Map[Long, Long] =
    GraphSpec.distributed(spark)(labels(edges))

  test("large-star/small-star: a 256-node path needs O(log² n) rounds, not O(n)") {
    // the adversarial case the qd6 scaladoc names: plain min-label
    // propagation walks a path one hop per round; the distributed loop's
    // pointer-jumping shortcut must collapse it under Graph.MaxRounds,
    // far fewer than the 255 rounds a hop-per-round loop would take
    // (the loop fails loudly at the cap)
    assert(Graph.MaxRounds < 255)
    val chain = (0L until 255L).map(i => (i, i + 1))
    val got = distributedLabels(chain)
    assert(got.keySet == (0L to 255L).toSet)
    assert(got.values.forall(_ == 0L), "one path component, rooted at 0")
  }

  test("star components ≡ union-find on star, two-component, and seeded random graphs") {
    val star = (1L to 40L).map(i => (0L, i))
    val two = Seq((1L, 2L), (2L, 3L), (10L, 11L), (11L, 12L), (12L, 10L))
    val rnd = new scala.util.Random(7)
    val random = Seq.fill(200)((rnd.nextInt(100).toLong, rnd.nextInt(100).toLong))
      .filter { case (a, b) => a != b }
    Seq(star, two, random).foreach { edges =>
      val want = GraphSpec.unionFind(edges)
      assert(distributedLabels(edges) == want, s"diverged from union-find on ${edges.take(5)}…")
    }
  }

  test("driver union-find route ≡ the distributed pointer-jump loop") {
    // Graph.components routes small edge sets to a driver union-find;
    // pin both routes label-identical on adversarial shapes by forcing
    // the loop through the conf gate (GraphSpec runs qd6 through both)
    val star = (1L to 40L).map(i => (0L, i))
    val chain = (0L until 64L).map(i => (i, i + 1))
    val rnd = new scala.util.Random(13)
    val random = Seq.fill(300)((rnd.nextInt(120).toLong, rnd.nextInt(120).toLong))
      .filter { case (a, b) => a != b }
    Seq(star, chain, random).foreach { edges =>
      val viaDriver = labels(edges)
      assert(viaDriver == GraphSpec.unionFind(edges), "driver route diverged from union-find")
      assert(distributedLabels(edges) == viaDriver, "loop route diverged from driver route")
    }
  }
}
