package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.batch.{Dedup, IvfIndex, Similarity}
import graft.functions.GraftFunctions

/** Rung-level recall audit for the ANN *search* path — VERDICT r10's
  * ask #3: the dedup side of the IVF machinery got planted-pair audits
  * at four rungs (IvfScaleBench); this applies the same method to
  * [[IvfIndex.search]], the top-k path qs3/qs5 pin only at fixture
  * scale. Per [[ScaleGen]] rung (1×/3×/10×/30×), under the production
  * √N cell sizing and the audited probe width:
  *
  *   - **recall@k vs brute force** for ~200 md5-spread corpus queries:
  *     |IVF top-k ∩ exact top-k| / k, averaged. Exact ground truth is
  *     [[Similarity.knnTopK]] (broadcast queries, map-side scoring,
  *     GroupTopK pre-reduce) over the SAME rung corpus — the audit
  *     cost is nQ·N score evaluations, bounded by the fixed query
  *     sample exactly like qs5's 1%-sliver design.
  *   - **planted-twin hit rate** for ~200 out-of-corpus queries: each
  *     twin is a base vector nudged by ±ε·‖v‖/√d per coordinate
  *     ([[plantTwins]], cos ≈ 0.949; IvfScaleBench plants the same), NOT
  *     inserted into the index; its true nearest neighbor is its base
  *     with near certainty (cross-replica cosines decorrelate to the
  *     random baseline — ScaleGen's isometry note). `twin@1` = the
  *     search returns the base at rank 1; `twin@k` = anywhere in
  *     top-k. This is the query-side analog of the dedup audit's
  *     planted-pair recall: the number that must hold at 100 TB.
  *
  * Probe width is swept at p = 1 and p = [[Dedup.ProbeCells]] so the
  * recall↔cost dial is measured, not asserted (reference anchor: the
  * scan-coalescing hand-optimization — read only what the index prunes
  * to). Search times are reported per arm (reps; min = steady). One
  * JSON line per the Bench contract; BASELINE.md records the run.
  */
object AnnScaleBench {

  private val Dim = 64
  private val K = 10
  /** Perturbation scale: cos ≈ 1/√(1+ε²) ≈ 0.9487 at ε = 1/3. */
  private val Eps = 1.0 / 3.0

  private[graft] def withNrm(df: DataFrame): DataFrame =
    df.withColumn("nrm",
      sqrt(GraftFunctions.vec_dot(col("embedding"), col("embedding"))))

  /** `df`'s embeddings drifted along coordinate 0 by `bias`·‖v‖. */
  private def drifted(df: DataFrame, bias: Float): DataFrame =
    withNrm(df).select(col("vec_id"),
      concat(array((element_at(col("embedding"), 1) +
          lit(bias) * col("nrm").cast("float")).cast("float")),
        org.apache.spark.sql.functions.slice(col("embedding"), 2, Dim - 1))
        .as("embedding"))

  /** Recursive local delete for the mutable-arm index dirs (the aged
    * index and the handoff membrane must start each RUN fresh). Local
    * java.io is fine here — the rungs live under a local scale dir by
    * contract, like [[run]]'s dirBytes walker. */
  private def rmTree(f: java.io.File): Unit = {
    Option(f.listFiles).foreach(_.foreach(rmTree))
    f.delete()
    ()
  }

  /** Deterministic dup-grade twins: for each base (`vec_id` ≡ `residue`
    * mod `baseMod`) a copy at `plantOffset + vec_id`, so the expected
    * neighbor is recoverable by subtraction, whose every coordinate is
    * nudged by ±ε·‖v‖/√d, the sign drawn from `hash(vec_id, j)` parity —
    * seed-free, so reruns plant the same twins. Planted pair cosine
    * concentrates at 1/√(1+ε²). `emb` carries `nrm` ([[withNrm]]).
    * AnnRecallSpec pins the fixture-scale floor with the same
    * construction the rung benches measure. */
  private[graft] def plantTwins(emb: DataFrame, baseMod: Long,
      plantOffset: Long, eps: Double = Eps, residue: Int = 3): DataFrame = {
    require(residue < baseMod, s"no vec_id % $baseMod is $residue: no twin would be planted")
    val bases = emb.filter(pmod(col("vec_id"), lit(baseMod)) === residue)
    bases.select(
      (col("vec_id") + lit(plantOffset)).as("vec_id"),
      array((0 until Dim).map { j =>
        (element_at(col("embedding"), j + 1) +
          (pmod(hash(col("vec_id"), lit(j)), lit(2)) * 2 - 1).cast("float") *
            lit(eps.toFloat) * (col("nrm") / lit(math.sqrt(Dim.toDouble))).cast("float"))
          .cast("float")
      }: _*).as("embedding"))
  }

  /** The modulus picking about 200 of `nVecs` vectors as twin bases
    * (`vec_id % m == 3`, [[plantTwins]]'s default residue) and as sample
    * queries (`== 1`); at least 4, so a small rung plants twins too. */
  private[graft] def twinBaseMod(nVecs: Long): Long = math.max(4L, nVecs / 200)

  def run(spark: SparkSession, args: Seq[String]): Unit = {
    val srcDir = Bench.sfDir()
    val outRoot = Bench.scaleDir
    val scales = Bench.scales("1,3,10")
    val reps = Bench.benchReps(2)

    // opt-in extra arms (SPARK_GRAFT_ANN_ARMS=aged,handoff): the aging
    // audit mutates ONE index dir across rungs and the handoff arm
    // runs a 16-epoch ingest at the top rung — both additive to the
    // default run's cost, so they're explicit
    val armsWanted = sys.env.getOrElse("SPARK_GRAFT_ANN_ARMS", "")
      .split(",").map(_.trim).filter(_.nonEmpty).toSet
    val agedDir = s"$outRoot/ivf_aged_q2_r13"
    var prevBoundary = 0L

    val rungs = scales.map { n =>
      val dir = s"$outRoot/x$n"
      ScaleGen.amplify(spark, srcDir, dir, n)

      val embRaw = withNrm(
        Tables.embeddings(spark, dir).select("vec_id", "embedding"))
        .localCheckpoint()
      val nVecs = embRaw.count()
      val maxId = embRaw.agg(max(col("vec_id"))).head.getLong(0)
      val plantOffset = (maxId / 100 + 1) * 100
      val baseMod = twinBaseMod(nVecs)

      val nCells = math.ceil(math.sqrt(nVecs.toDouble)).toInt
      val idxDir = s"$dir/ivf_sqrtn"
      val (tBuild, _) = Bench.timed {
        IvfIndex.build(Tables.embeddings(spark, dir), idxDir, nCells)
      }
      // the multi-assignment lever: same quantizer, every vector stored
      // in its 2 nearest cells — 2×p chances for a query to meet its
      // neighbor, at 2× cells storage (IvfIndex.build's scaladoc trade)
      val idx2Dir = s"$dir/ivf_sqrtn_q2"
      val (tBuild2, _) = Bench.timed {
        IvfIndex.build(Tables.embeddings(spark, dir), idx2Dir, nCells, assign = 2)
      }
      // the int8 storage lever at the SAME q=2 layout: cells carry
      // 1-byte-per-dim blobs instead of float arrays; searchInt8's
      // integer-dot funnel + RescoreCap float rescore must keep the
      // twin/recall numbers of the float q2 arm (VERDICT r11 ask #2)
      val idx8Dir = s"$dir/ivf_sqrtn_q2i8"
      val (tBuild8, _) = Bench.timed {
        IvfIndex.build(Tables.embeddings(spark, dir), idx8Dir, nCells,
          assign = 2, int8 = true)
      }
      def dirBytes(path: String): Long = {
        def walk(f: java.io.File): Long =
          if (f.isFile) f.length
          else Option(f.listFiles).map(_.map(walk).sum).getOrElse(0L)
        walk(new java.io.File(path))
      }
      // resolve the LIVE generation's cells path — $dir/cells is only
      // correct until the first rebuild / re-build of the same dir
      val bytesF32 = dirBytes(IvfIndex.cellsPath(spark, idx2Dir))
      val bytesI8 = dirBytes(IvfIndex.cellsPath(spark, idx8Dir))

      // corpus-sample queries (in-index) — md5-free modulus spread, the
      // same ~200-query budget as the dedup audit's planted bases
      val sampleQ = embRaw.filter(pmod(col("vec_id"), lit(baseMod)) === 1)
        .select("vec_id", "embedding").localCheckpoint()
      val nQ = sampleQ.count()
      val exact = Similarity.knnTopK(
          Tables.embeddings(spark, dir).select("vec_id", "embedding"),
          sampleQ.select("vec_id"), K)
        .select(col("qid"), col("neighbor_id")).localCheckpoint()

      // out-of-corpus twin queries: expected neighbor = vec_id − offset
      val twinQ = plantTwins(embRaw, baseMod, plantOffset)
        .localCheckpoint()
      val nTwin = twinQ.count()

      // one metric harness for every arm (float AND int8 — a fix to
      // the recall/twin computation can never apply to one and not the
      // other); `run` is the search under measurement
      def searchArm(run: org.apache.spark.sql.DataFrame
          => org.apache.spark.sql.DataFrame): String = {
        val ts = Bench.timeReps(s"search at x$n", reps)(Bench.execute(run(sampleQ))).map(_._2)
        val found = run(sampleQ).select(col("qid"), col("neighbor_id"))
        // recall@k: intersection size per query / k, averaged over the
        // sample (queries whose exact list is shorter than k — only
        // possible at a sub-k corpus — would cap at their list size)
        val inter = exact.join(found, Seq("qid", "neighbor_id"), "left_semi")
          .groupBy("qid").agg(count(lit(1)).as("n_hit"))
        val recallAtK = sampleQ.select(col("vec_id").as("qid"))
          .join(inter, Seq("qid"), "left")
          .agg(avg(coalesce(col("n_hit"), lit(0L)) / lit(K.toDouble)))
          .head.getDouble(0)
        val twinFound = run(twinQ)
          .withColumn("expected", col("qid") - lit(plantOffset))
          .filter(col("neighbor_id") === col("expected"))
        val twinAt1 = twinFound.filter(col("rank") === 1).count()
        val twinAtK = twinFound.count()
        s"""{"cold":${Bench.num(ts.head)},"steady":${Bench.num(ts.min)},""" +
          s""""recall_at_$K":${Bench.num(recallAtK)},""" +
          s""""twin_at_1":$twinAt1,"twin_at_$K":$twinAtK}"""
      }

      val corpus = Tables.embeddings(spark, dir).select("vec_id", "embedding")
      val p8 = Dedup.ProbeCells
      // funnel sized per RescoreCap's own ≳3×k contract (the cap
      // constant itself is calibrated for qs8's k = 3; this arm ranks
      // k = 10, so a k-wide funnel would have ZERO reorder headroom
      // and a quantization flip at rank 11 would read as a spurious
      // int8 recall loss)
      val rescore8 = 3 * K
      val arms = ((for {
        (tag, ix) <- Seq("q1" -> idxDir, "q2" -> idx2Dir)
        p <- Seq(1, Dedup.ProbeCells).distinct
      } yield s""""${tag}_p$p":${searchArm(qs => IvfIndex.search(spark, ix, qs, K, p))}""") :+
        s""""q2i8_p$p8":${searchArm(qs =>
          IvfIndex.searchInt8(spark, idx8Dir, qs, corpus, K, p8, rescore8))}""").mkString(",")

      // ---- `aged` arm (VERDICT r12 ask #1): ONE index built at the
      // FIRST rung's √N sizing absorbs every later rung's delta via
      // appendBatch — centroids frozen, occupancy growing — so recall
      // drift and occupancy are MEASURED per appended fraction, then
      // the crash-safe auto-sized rebuild is priced and must restore
      // the fresh-build numbers (rebuild ≡ fresh is spec-pinned; here
      // it's rung-measured). Same q=2 float layout as the `q2` arm so
      // aged-vs-fresh is apples-to-apples at every rung.
      val extraArms = new StringBuilder
      if (armsWanted("aged")) {
        val firstRung = scales.head
        if (n == firstRung) {
          val f = new java.io.File(agedDir)
          if (f.exists) rmTree(f)
          IvfIndex.build(Tables.embeddings(spark, dir), agedDir, nCells, assign = 2)
        } else {
          // the rungs are nested by construction (replica k's ids sit in
          // [k·off, (k+1)·off)), so rung n's delta over the previous
          // measured rung is exactly the ids past the boundary
          val delta = Tables.embeddings(spark, dir)
            .filter(col("vec_id") >= lit(prevBoundary))
            .select("vec_id", "embedding")
          IvfIndex.appendBatch(spark, agedDir, delta)
        }
        // plantOffset at rung n IS off × n — the rung's id ceiling —
        // so the NEXT rung's delta is exactly the ids at or past it
        prevBoundary = plantOffset
        val occ = spark.read.parquet(IvfIndex.cellsPath(spark, agedDir))
          .groupBy(col("cell")).agg(count(lit(1)).as("m"))
          .agg(max(col("m")), avg(col("m"))).head
        extraArms ++= s""","aged_p$p8":${searchArm(qs =>
          IvfIndex.search(spark, agedDir, qs, K, p8))}"""
        extraArms ++= s""","aged_occ_max":${occ.getLong(0)},""" +
          s""""aged_occ_avg":${Bench.num(occ.getDouble(1))},""" +
          s""""aged_frac":${Bench.num((n - firstRung).toDouble / n)}"""
        if (n == scales.last) {
          // the cadence answer: price the rebuild, prove recall returns
          val (tRb, _) = Bench.timed {
            IvfIndex.rebuild(spark, agedDir,
              Tables.embeddings(spark, dir).select("vec_id", "embedding"))
          }
          extraArms ++= s""","rebuild_sec":${Bench.num(tRb)},"rebuilt_p$p8":${
            searchArm(qs => IvfIndex.search(spark, agedDir, qs, K, p8))}"""
        }
      }

      // ---- `skewidx` arm (round-15 verdict #5): the SERVING index
      // under collapsed drift — the regime the GROWTH trigger
      // structurally cannot see (the driftcost arm measured it on the
      // streaming membrane; this prices the same trigger on
      // IvfIndex.rebuildIfGrown). Build at √N on half the rung corpus,
      // append three DRIFTED slices (coordinate-0 bias e·0.5·‖v‖ —
      // driftmembrane's construction, steeper) totalling 1.75× growth:
      // under the 2× growth factor, so growth alone says "not due",
      // while the drifted rows collapse into the few frozen cells
      // nearest the drift direction. The row records: the growth-only
      // verdict (must be false), the occupancy ratio, the
      // occupancy-triggered verdict (must be true) with its rebuild
      // priced, and the probe-path search time before vs after — the
      // cost the trigger exists to recover.
      if (armsWanted("skewidx") && n == scales.last) {
        val skewDir = s"$outRoot/ivf_skew_r16"
        val fsk = new java.io.File(skewDir)
        if (fsk.exists) rmTree(fsk)
        val embAll = Tables.embeddings(spark, dir).select("vec_id", "embedding")
        val half = embAll.filter(pmod(col("vec_id"), lit(2)) === 0)
        val cH = math.ceil(math.sqrt(half.count().toDouble)).toInt
        IvfIndex.build(half, skewDir, cH)
        val slices = (1 to 3).map { e =>
          drifted(embAll.filter(pmod(col("vec_id"), lit(8)) === lit(2 * e - 1)), 0.5f * e)
            .localCheckpoint()
        }
        slices.foreach(dlt => IvfIndex.appendBatch(spark, skewDir, dlt))
        val corpusNow = (half +: slices).reduce(_ unionByName _)
        val occ = spark.read.parquet(IvfIndex.cellsPath(spark, skewDir))
          .groupBy(col("cell")).agg(count(lit(1)).as("m"))
          .agg(max(col("m")), sum(col("m"))).head
        val occRatio = occ.getLong(0).toDouble / (occ.getLong(1).toDouble / cH)
        val (tAged, _) = Bench.timed {
          Bench.execute(IvfIndex.search(spark, skewDir, sampleQ, K, p8))
        }
        val grownDue = IvfIndex.rebuildIfGrown(spark, skewDir, corpusNow,
          factor = 2.0, skewFactor = 0)
        val (tTrig, skewDue) = Bench.timed {
          IvfIndex.rebuildIfGrown(spark, skewDir, corpusNow, factor = 2.0)
        }
        val (tRe, _) = Bench.timed {
          Bench.execute(IvfIndex.search(spark, skewDir, sampleQ, K, p8))
        }
        extraArms ++= s""","skewidx":{"grown_due":$grownDue,""" +
          s""""skew_due":$skewDue,"occ_ratio":${Bench.num(occRatio)},""" +
          s""""growth":${Bench.num(occ.getLong(1).toDouble / half.count())},""" +
          s""""search_aged_sec":${Bench.num(tAged)},"trigger_and_rebuild_sec":${Bench.num(tTrig)},""" +
          s""""search_rebuilt_sec":${Bench.num(tRe)}}"""
      }

      // ---- `semsweep` arm (round-16: the semantic-decontam eval-side
      // fan-out, rung-measured — CellNearDupSpec pins the fixture
      // curve): plant one ε = 0.25 twin per eval doc (cos ≈ 0.970,
      // every twin IS paraphrase contamination) into the rung corpus
      // and sweep qd21's eval-side probe count. p is the cheap recall
      // lever by construction — it scales the BROADCAST side's
      // fan-out, never the corpus's single assignment — so the sweep
      // prices recall per p at corpus density, where the fixture can't.
      if (armsWanted("semsweep") && n == scales.last) {
        val emb0 = Tables.embeddings(spark, dir).select("vec_id", "embedding")
        val twinOffS = plantOffset * 100
        val twins = plantTwins(withNrm(emb0), 25, twinOffS, eps = 0.25, residue = 0)
        val enm2 = withNrm(emb0.unionByName(twins)).localCheckpoint()
        val scents = enm2.filter(pmod(col("vec_id"), lit(100)) === 7)
          .select(col("vec_id").as("cid"), col("embedding").as("ce"),
            col("nrm").as("cn"))
        val isEvalS = pmod(col("vec_id"), lit(25)) === 0 &&
          col("vec_id") < twinOffS
        val nTwinS = twins.count()
        val sweep = Seq(1, 3, Dedup.ProbeCells, 10).distinct.map { pp =>
          val runs = Bench.timeReps(s"semsweep p$pp", reps)(
            graft.batch.Dedup.semanticPairs(enm2, isEvalS, scents, pp)
              .filter(col("vec_id") >= twinOffS &&
                col("eid") === col("vec_id") - twinOffS)
              .count())
          s""""p$pp":{"planted_hits":${runs.last._1},"steady":${Bench.num(runs.map(_._2).min)}}"""
        }
        extraArms ++= s""","semsweep":{"n_twins":$nTwinS,${sweep.mkString(",")}}"""
      }

      // ---- `filtered` arm: qs9's recall story, measured — planted
      // twins whose BASES all satisfy the predicate (label = 3, ~10%
      // selective), searched over the attr-carrying q=2 index WITH the
      // filter. The filter thins every probed cell to ~10% matching
      // rows, so the twin's base faces fewer distractors but the probe
      // set is unchanged — quantifying the scaladoc's p-first rule:
      // hit@1 at p, 3p, and the unfiltered-at-p contrast.
      if (armsWanted("filtered")) {
        val idxFDir = s"$dir/ivf_sqrtn_q2_attr"
        IvfIndex.build(
          Tables.embeddings(spark, dir).select("vec_id", "embedding", "label"),
          idxFDir, nCells, assign = 2, attrs = Seq("label"))
        val l3 = withNrm(Tables.embeddings(spark, dir)
          .filter(col("label") === 3).select("vec_id", "embedding"))
          .localCheckpoint()
        val bmF = twinBaseMod(l3.count())
        val twinF = plantTwins(l3, bmF, plantOffset).localCheckpoint()
        val nTF = twinF.count()
        def hitsAt(p: Int, flt: Option[org.apache.spark.sql.Column]): Long =
          IvfIndex.search(spark, idxFDir, twinF, K, p, flt)
            .withColumn("expected", col("qid") - lit(plantOffset))
            .filter(col("neighbor_id") === col("expected") && col("rank") === 1)
            .count()
        // the bench reps/steady protocol (searchArm's rule): a single
        // timing per configuration confounds config with ORDER — the
        // first search pays the just-built index's cold read, so
        // p5-once-then-p15-once reads as "wider probes are faster"
        def timedHits(p: Int, flt: Option[org.apache.spark.sql.Column])
            : (Double, Long) = {
          val runs = Bench.timeReps(s"filtered p$p", reps)(hitsAt(p, flt))
          (runs.map(_._2).min, runs.last._1)
        }
        val pF = Dedup.ProbeCells
        val (tP, hP) = timedHits(pF, Some(col("label") === 3))
        val (t3P, h3P) = timedHits(3 * pF, Some(col("label") === 3))
        val hU = hitsAt(pF, None)
        extraArms ++= s""","filtered":{"n_twins":$nTF,"p${pF}":$hP,""" +
          s""""p${3 * pF}":$h3P,"unfiltered_p$pF":$hU,""" +
          s""""p${pF}_steady_sec":${Bench.num(tP)},"p${3 * pF}_steady_sec":${Bench.num(t3P)}}"""
      }

      // ---- `selsweep` arm (VERDICT r13 ask #4): the p-first rule's
      // BREAKING point — the r13 filtered arm measured ~10% selectivity
      // (zero recall cost at p); here selectivity is swept down to 0.1%,
      // where a probed cell holds ~occupancy×sel ≈ O(1) matching rows
      // and p·sel candidates per query go to zero, against the
      // brute-force-over-filtered fallback (exact by construction:
      // score EVERY matching row, no probe stage — the routing target
      // for IvfIndex.search's selectivityHint). Twins are planted from
      // predicate-satisfying bases, so hit@1 measures whether the
      // filtered funnel still surfaces the true neighbor.
      if (armsWanted("selsweep")) {
        val idxFDir = s"$dir/ivf_sqrtn_q2_attr"
        if (!armsWanted("filtered")) IvfIndex.build(
          Tables.embeddings(spark, dir).select("vec_id", "embedding", "label"),
          idxFDir, nCells, assign = 2, attrs = Seq("label"))
        val preds = Seq(
          "sel10pct" -> (col("label") === 3),
          "sel1pct" -> (pmod(col("vec_id"), lit(100)) === 3),
          "sel01pct" -> (pmod(col("vec_id"), lit(1000)) === 3))
        val pS = Dedup.ProbeCells
        val sweep = preds.map { case (tag, pred) =>
          val matched = withNrm(Tables.embeddings(spark, dir).filter(pred)
            .select("vec_id", "embedding")).localCheckpoint()
          val nm = matched.count()
          val bmS = twinBaseMod(nm)
          val twinS = plantTwins(matched, bmS, plantOffset).localCheckpoint()
          val nT = twinS.count()
          def idxHits(p: Int): (Double, Long) = {
            val runs = Bench.timeReps(s"selsweep $tag p$p", reps)(
              IvfIndex.search(spark, idxFDir, twinS, K, p, Some(pred))
                .withColumn("expected", col("qid") - lit(plantOffset))
                .filter(col("neighbor_id") === col("expected") && col("rank") === 1)
                .count())
            (runs.map(_._2).min, runs.last._1)
          }
          // the fallback: score every matching row against the (tiny,
          // broadcast) query batch — no probe stage, exact over the
          // filter; same triple shape + GroupTopK as the index path
          def bruteHits(): (Double, Long) = {
            val runs = Bench.timeReps(s"selsweep $tag brute", reps) {
              val q = withNrm(twinS).select(col("vec_id").as("qid"),
                col("embedding").as("qe"), col("nrm").as("qn"))
              val cand = matched.crossJoin(broadcast(q))
                .withColumn("rcos", round(
                  GraftFunctions.vec_dot(col("qe"), col("embedding"))
                    / (col("qn") * col("nrm")), 6))
                .select(col("qid").cast("long"), col("vec_id").cast("long"),
                  col("rcos").cast("double"))
              graft.plans.GroupTopK.topK(cand, Seq("qid"),
                  Seq(col("rcos").desc, col("vec_id").asc), K)
                .withColumn("expected", col("qid") - lit(plantOffset))
                .filter(col("rank") === 1 && col("vec_id") === col("expected"))
                .count()
            }
            (runs.map(_._2).min, runs.last._1)
          }
          val (tP1, hP1) = idxHits(pS)
          val (tP3, hP3) = idxHits(3 * pS)
          val (tP9, hP9) = idxHits(9 * pS)
          val (tB, hB) = bruteHits()
          s""""$tag":{"n_match":$nm,"n_twins":$nT,""" +
            s""""p$pS":$hP1,"p${3 * pS}":$hP3,"p${9 * pS}":$hP9,""" +
            s""""p${pS}_sec":${Bench.num(tP1)},"p${3 * pS}_sec":${Bench.num(tP3)},""" +
            s""""p${9 * pS}_sec":${Bench.num(tP9)},""" +
            s""""brute":$hB,"brute_sec":${Bench.num(tB)}}"""
        }
        extraArms ++= s""","selsweep":{${sweep.mkString(",")}}"""
      }

      // ---- `agedmembrane` arm (VERDICT r13 ask #5): the STREAMING
      // membrane aged like the serving index — r13 measured the
      // requantize cadence's throughput but not its REJECTION quality:
      // does a membrane whose quantizer was pinned at birth (1/nE of
      // the final corpus) still reject planted dups as the corpus grows
      // past it? Ingest the rung corpus in nE epochs; from epoch 1 on,
      // each batch carries planted TWINS of the previous epoch's
      // vectors (ε = 0.25 → cos ≈ 0.970 > τ = 0.95: every twin IS a
      // dup the membrane must reject). Run twice — requantize off vs
      // every nE/4 epochs — and audit the rejection rate per ingest
      // quartile (a twin counts only when its base was itself
      // admitted). Epoch wall-times per quartile capture the probe-cost
      // side of aging.
      // `driftmembrane` variant: the same audit under a NON-stationary
      // corpus — epoch e's vectors carry a bias e·0.08·‖v‖ on
      // coordinate 0, so the distribution the birth quantizer described
      // walks ~1.2·‖v‖ away by the last epoch (far past the quantizer's
      // coverage) while two DISTINCT late vectors still sit below τ —
      // drift that collapses distinct content into mutual near-dups
      // would be dedup working as intended, not a drift artifact. The stationary arm measured
      // rejection flat because a twin's probe set tracks its BASE's
      // geometry regardless of centroid quality; drift tests whether
      // that argument survives when all new content collapses into the
      // few stale cells nearest the drift direction — and what that
      // does to probe COST, which is where requantize must earn its
      // keep.
      if ((armsWanted("agedmembrane") || armsWanted("driftmembrane"))
          && n == scales.last) {
        val drift = armsWanted("driftmembrane")
        val nE = 16
        val epsM = 0.25
        val twinOff = plantOffset * 10 // clear of corpus ids AND rung twins
        val embAll = Tables.embeddings(spark, dir).select("vec_id", "embedding")
        val cfgs = Seq("aged" -> 0, "requant" -> (nE / 4)).map {
          case (cfgTag, requantEvery) =>
            val memDir = s"$dir/membrane_${cfgTag}${if (drift) "_drift" else ""}_r14"
            val f = new java.io.File(memDir)
            if (f.exists) rmTree(f)
            def slice(e: Int) = {
              val raw = embAll.filter(pmod(col("vec_id"), lit(nE)) === e)
              // bias coordinate 0 by e·0.08·‖v‖ — deterministic, twins
              // planted FROM the drifted vectors drift with it
              if (!drift || e == 0) raw else drifted(raw, e * 0.08f)
            }
            val s0 = withNrm(slice(0)).localCheckpoint()
            val c0 = math.ceil(math.sqrt(s0.count().toDouble)).toInt
            graft.stream.EmbedIngest.init(spark, memDir,
              IvfIndex.sampleCentroids(s0, c0))
            val bmM = math.max(4L, s0.count() / 50)
            val planted = scala.collection.mutable.ArrayBuffer[(Long, Long, Int)]()
            val qSecs = Array.fill(4)(0.0)
            var requantSecs = 0.0
            for (e <- 0 until nE) {
              // the start() maintenance cadence, mirrored synchronously
              if (requantEvery > 0 && e > 0 && e % requantEvery == 0)
                requantSecs += Bench.timed {
                  graft.stream.EmbedIngest.requantize(spark, memDir,
                    nCells = 0, upTo = e.toLong)
                }._1
              val batch =
                if (e == 0) slice(0)
                else {
                  val twinEmb = plantTwins(withNrm(slice(e - 1)), bmM, twinOff,
                    epsM).localCheckpoint()
                  planted ++= twinEmb.select("vec_id").collect()
                    .map(r => (r.getLong(0), r.getLong(0) - twinOff, e))
                  slice(e).unionByName(twinEmb.select("vec_id", "embedding"))
                }
              qSecs(e * 4 / nE) += Bench.timed {
                graft.stream.EmbedIngest.ingestBatch(batch, memDir, e.toLong)
              }._1
            }
            val adm = graft.stream.EmbedIngest.corpus(spark, memDir)
              .select("vec_id").localCheckpoint()
            val plantedDf = spark.createDataFrame(planted.toSeq)
              .toDF("twin_id", "base_id", "epoch")
            val audit = plantedDf
              .join(adm.select(col("vec_id").as("base_id"))
                .withColumn("base_adm", lit(1)), Seq("base_id"), "left")
              .join(adm.select(col("vec_id").as("twin_id"))
                .withColumn("twin_adm", lit(1)), Seq("twin_id"), "left")
              .filter(col("base_adm") === 1)
              .groupBy(expr(s"int(epoch * 4 / $nE)").as("q"))
              .agg(count(lit(1)).as("n"),
                sum(when(col("twin_adm").isNull, 1L).otherwise(0L)).as("rejected"))
              .orderBy("q").collect()
            val perQ = audit.map(r =>
              s"""{"n":${r.getLong(1)},"rejected":${r.getLong(2)}}""").mkString(",")
            val cellsNow = spark.read.parquet(s"$memDir/cells")
            val nCellsNow = cellsNow.select(col("cell")).distinct().count()
            s""""$cfgTag":{"n_planted":${planted.size},"quartiles":[$perQ],""" +
              s""""q_ingest_secs":[${qSecs.map(Bench.num(_)).mkString(",")}],""" +
              s""""requant_secs":${Bench.num(requantSecs)},"n_cells":$nCellsNow}"""
        }
        extraArms ++= s""","${if (drift) "driftmembrane" else "agedmembrane"}":{${cfgs.mkString(",")}}"""
      }

      // ---- `driftcost` arm (VERDICT r14 ask #5): the COST side of the
      // collapsed-drift regime the driftmembrane arm's caveat recorded
      // — no twins, no recall question: ingest the drifted slices and
      // MEASURE per-quartile probe-candidate volume (Σ over batch
      // vectors of the occupancy of their probed cells — the rows the
      // membrane's tau stage actually scans) under (a) no maintenance
      // at all vs (b) EmbedIngest.requantizeIfSkewed ticked per epoch.
      // If drift concentrates content into few stale cells, (a)'s
      // candidates diverge super-linearly while (b)'s occupancy
      // trigger re-cells and flattens them — settling whether the
      // cadence needs an occupancy trigger in addition to the growth
      // one.
      if (armsWanted("driftcost") && n == scales.last) {
        val nE = 16
        val embAll = Tables.embeddings(spark, dir).select("vec_id", "embedding")
        def slice(e: Int) = {
          val raw = embAll.filter(pmod(col("vec_id"), lit(nE)) === e)
          if (e == 0) raw else drifted(raw, e * 0.08f)
        }
        // the tau stage's candidate volume for this batch against the
        // committed layout — the same nProbe=4 row-local probe
        // ingestBatch runs, joined to per-cell occupancy
        def candRows(batch: DataFrame, memDir: String): Long = {
          if (!new java.io.File(s"$memDir/cells").exists) return 0L // pre-first-epoch
          val cents = spark.read.parquet(s"$memDir/centroids")
          val occ = spark.read.parquet(s"$memDir/cells")
            .groupBy(col("cell")).agg(count(lit(1)).as("occ"))
          val r = withNrm(batch)
            .crossJoin(broadcast(IvfIndex.centroidArray(cents)))
            .select(explode(IvfIndex.nearestCells(col("embedding"), col("nrm"),
              4, rounded = false)).as("cell"))
            .groupBy(col("cell")).agg(count(lit(1)).as("nq"))
            .join(occ, Seq("cell"))
            .agg(sum(col("nq") * col("occ"))).head()
          if (r.isNullAt(0)) 0L else r.getLong(0)
        }
        val cfgs = Seq("nocadence" -> false, "occupancy" -> true).map {
          case (cfgTag, trigger) =>
            val memDir = s"$dir/driftcost_$cfgTag"
            val f = new java.io.File(memDir)
            if (f.exists) rmTree(f)
            val s0 = withNrm(slice(0)).localCheckpoint()
            val c0 = math.ceil(math.sqrt(s0.count().toDouble)).toInt
            graft.stream.EmbedIngest.init(spark, memDir,
              IvfIndex.sampleCentroids(s0, c0))
            val qCand = Array.fill(4)(0L)
            val qSecs = Array.fill(4)(0.0)
            var checkSecs = 0.0
            var requantSecs = 0.0
            var nRequants = 0
            for (e <- 0 until nE) {
              if (trigger && e > 0) {
                val (secs, fired) = Bench.timed {
                  graft.stream.EmbedIngest.requantizeIfSkewed(
                    spark, memDir, upTo = e.toLong, factor = 3.0)
                }
                if (fired) { nRequants += 1; requantSecs += secs }
                else checkSecs += secs
              }
              val batch = slice(e).localCheckpoint()
              qCand(e * 4 / nE) += candRows(batch, memDir)
              qSecs(e * 4 / nE) += Bench.timed {
                graft.stream.EmbedIngest.ingestBatch(batch, memDir, e.toLong)
              }._1
            }
            val occFinal = spark.read.parquet(s"$memDir/cells")
              .groupBy(col("cell")).agg(count(lit(1)).as("n"))
              .agg(count(lit(1)).as("nc"), max(col("n")).as("mx"),
                sum(col("n")).as("tot")).head()
            val skew = occFinal.getLong(1).toDouble /
              (occFinal.getLong(2).toDouble / occFinal.getLong(0))
            s""""$cfgTag":{"q_cand":[${qCand.mkString(",")}],""" +
              s""""q_ingest_secs":[${qSecs.map(Bench.num(_)).mkString(",")}],""" +
              s""""check_secs":${Bench.num(checkSecs)},""" +
              s""""requant_secs":${Bench.num(requantSecs)},"n_requants":$nRequants,""" +
              s""""n_cells":${occFinal.getLong(0)},"skew_final":${Bench.num(skew)}}"""
        }
        extraArms ++= s""","driftcost":{${cfgs.mkString(",")}}"""
      }

      // ---- `handoff` arm (VERDICT r12 ask #3): at the top rung, the
      // serving index is built FROM the membrane-filtered
      // epoch-partitioned ingest corpus (EmbedIngest.corpus — the
      // production handoff EmbedIngest's scaladoc prescribes), not from
      // the ScaleGen table, and its planted-twin recall must equal the
      // direct-build q2i8 arm's ON THE SAME TWIN SET (twins planted
      // from membrane-ADMITTED bases, present in both indexes).
      if (armsWanted("handoff") && n == scales.last) {
        val memDir = s"$dir/embed_membrane_r13"
        val f = new java.io.File(memDir)
        if (f.exists) rmTree(f)
        graft.stream.EmbedIngest.init(spark, memDir,
          IvfIndex.sampleCentroids(embRaw, nCells))
        val nB = 16
        val (tIngest, _) = Bench.timed {
          (0 until nB).foreach { e =>
            graft.stream.EmbedIngest.ingestBatch(
              Tables.embeddings(spark, dir)
                .filter(pmod(col("vec_id"), lit(nB)) === e)
                .select("vec_id", "embedding"),
              memDir, epochId = e.toLong)
          }
        }
        val admitted = graft.stream.EmbedIngest.corpus(spark, memDir)
          .localCheckpoint()
        val nAdm = admitted.count()
        val srvDir = s"$dir/serving_from_membrane_r13"
        val cSrv = math.ceil(math.sqrt(nAdm.toDouble)).toInt
        val (tSrv, _) = Bench.timed {
          IvfIndex.build(admitted, srvDir, cSrv, assign = 2, int8 = true)
        }
        val twinAdm = plantTwins(withNrm(admitted), baseMod, plantOffset)
          .localCheckpoint()
        val nTwinAdm = twinAdm.count()
        def twinHits(ix: String, corp: org.apache.spark.sql.DataFrame): (Long, Long) = {
          val found = IvfIndex.searchInt8(spark, ix, twinAdm, corp, K, p8, rescore8)
            .withColumn("expected", col("qid") - lit(plantOffset))
            .filter(col("neighbor_id") === col("expected")).localCheckpoint()
          (found.filter(col("rank") === 1).count(), found.count())
        }
        val (h1, hk) = twinHits(srvDir, admitted)
        val (d1, dk) = twinHits(idx8Dir, corpus)
        // the BASELINE.md handoff row attributes the build_sec delta
        // (epoch-fragmented ingest layout vs one flat parquet) to
        // missing compaction — measure that claim: fold the epochs on
        // the operator cadence, rebuild the serving index from the
        // compacted corpus, and require identical twin recall
        val (tCompact, _) = Bench.timed {
          graft.stream.EmbedIngest.compactCells(spark, memDir, upTo = nB.toLong)
        }
        val admittedC = graft.stream.EmbedIngest.corpus(spark, memDir)
          .localCheckpoint()
        val srvDirC = s"$dir/serving_from_membrane_compact_r13"
        val (tSrvC, _) = Bench.timed {
          IvfIndex.build(admittedC, srvDirC, cSrv, assign = 2, int8 = true)
        }
        val (c1, ck) = twinHits(srvDirC, admittedC)
        extraArms ++= s""","handoff":{"n_admitted":$nAdm,"n_cells":$cSrv,""" +
          s""""ingest_sec":${Bench.num(tIngest)},"build_sec":${Bench.num(tSrv)},""" +
          s""""compact_sec":${Bench.num(tCompact)},"build_compacted_sec":${Bench.num(tSrvC)},""" +
          s""""n_twins":$nTwinAdm,"twin_at_1":$h1,"twin_at_$K":$hk,""" +
          s""""compact_twin_at_1":$c1,"compact_twin_at_$K":$ck,""" +
          s""""direct_twin_at_1":$d1,"direct_twin_at_$K":$dk}"""
      }

      s""""x$n":{"n_vecs":$nVecs,"n_cells":$nCells,"n_queries":$nQ,""" +
        s""""n_twins":$nTwin,"build":${Bench.num(tBuild)},"build_q2":${Bench.num(tBuild2)},""" +
        s""""build_q2i8":${Bench.num(tBuild8)},"cells_bytes_f32":$bytesF32,""" +
        s""""cells_bytes_i8":$bytesI8,$arms${extraArms.toString}}"""
    }

    println(s"""{"metric":"ann_search_recall","value":$K,"unit":"k",""" +
      s""""scales":"${scales.mkString(",")}","src":"$srcDir",""" +
      s""""rungs":{${rungs.mkString(",")}}}""")
  }
}
