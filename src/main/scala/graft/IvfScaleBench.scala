package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.batch.{Dedup, IvfIndex}
import graft.functions.GraftFunctions

/** The √N-quantizer scaling measurement VERDICT r9 asked for: run the
  * cell-bucketed near-dup ([[Dedup.cellNearDup]], qd13/qc2's shared
  * machinery) on [[ScaleGen]]'s isomorphic rungs under BOTH quantizer
  * regimes and report cost AND recall side by side —
  *
  *   - `fix`: qd13's in-query `vec_id % 100` centroid sample. C ∝ N,
  *     so the probe stage scores N×C = O(N²/100) — the super-linear
  *     term ScaleBench measured behind qd13's 0.94 exponent — and cell
  *     occupancy stays pinned at ~500 (N·p/C with C = N/100), which is
  *     why the [[Dedup.CellCap]] never binds on the fixture.
  *   - `ivf`: a persisted [[IvfIndex]] built fresh per rung at
  *     `nCells = ⌈√N⌉` — the production regime the IvfIndex scaladoc
  *     prescribes. Probe scoring drops to O(N^1.5).
  *
  * Recall is audited per rung per arm at TWO thresholds, because they
  * scale differently and conflating them is how a dedup silently rots:
  *
  *   - **Weak pairs** (the fixture's τ = 0.4 band): the fixture
  *     embeddings are random 64-dim vectors, so ~98% of τ ≥ 0.4 pairs
  *     sit in band 4 — barely-correlated background pairs whose COUNT
  *     itself grows ~N² under replication (cross-replica pairs arrive
  *     at the corpus's own density; ScaleGen's scaladoc calls this
  *     out). Finding them is a range search at low similarity — pair
  *     output is Ω(N²·density), so NO sublinear index holds weak-band
  *     recall as N grows; what degrades is candidate coverage, and the
  *     audit quantifies exactly how much, for both quantizers. The
  *     exact ground truth rides a BOUNDED sample (`vec_id % (2·scale)
  *     == 1`, ~1000 vectors at every rung — qd5's odd-id rule at
  *     scale 1), so the audit costs sample², never corpus².
  *   - **Dup-grade pairs** (cos ≈ 0.95): the pairs an actual dedup
  *     exists to catch, absent from the random fixture, so the bench
  *     PLANTS them — [[AnnScaleBench.plantTwins]] adds a deterministic ±ε/√d
  *     perturbation twin for ~200 spread bases per rung (cos(v, twin)
  *     ≈ 1/√(1+ε²) ≈ 0.949, band 9) and the audit reports the
  *     fraction of planted pairs each arm's candidate generation
  *     recovers. THIS is the recall that must hold at 100 TB, and it
  *     holds at constant probe width because a cos-0.95 pair lands in
  *     the same top cells with near certainty at any cell count.
  *
  * Both arms run in the SAME JVM on the SAME rung data with reps, so
  * slot noise cancels out of the comparison; build time is reported
  * separately (at 100 TB the index amortizes over many passes — the
  * point of persisting it). One JSON line per the Bench contract;
  * BASELINE.md records the run and the per-rung diagnosis.
  */
object IvfScaleBench {
  import AnnScaleBench.{plantTwins, twinBaseMod, withNrm}

  /** Exact rcos ≥ tau all-pairs over the bounded sample — qd5's
    * computation with the sample modulus a parameter; planted twins
    * (ids ≥ `idCeil`) excluded so the weak-band truth is fixture-only. */
  private def exactPairs(emb: DataFrame, m: Int, tau: Double,
      idCeil: Long): DataFrame = {
    val nm = emb.filter(pmod(col("vec_id"), lit(m)) === 1 && col("vec_id") < idCeil)
    val a = nm.select(col("vec_id").as("id_a"), col("embedding").as("ea"), col("nrm").as("na"))
    val b = nm.select(col("vec_id").as("id_b"), col("embedding").as("eb"), col("nrm").as("nb"))
    a.join(b, col("id_a") < col("id_b"))
      .withColumn("rcos", round(
        GraftFunctions.vec_dot(col("ea"), col("eb")) / (col("na") * col("nb")), 6))
      .filter(col("rcos") >= tau)
      .select(col("id_a"), col("id_b"), col("rcos"))
  }

  def run(spark: SparkSession, args: Seq[String]): Unit = {
    val srcDir = Bench.sfDir()
    val scales = Bench.scales("1,3,10")
    val reps = Bench.benchReps(2)
    val armNames = sys.env.getOrElse("SPARK_GRAFT_IVF_ARMS", "ivf,fix,dup")
      .split(",").map(_.trim).filter(_.nonEmpty).toSeq
    val tau = 0.4

    val rungs = scales.map { n =>
      val dir = s"${Bench.scaleDir}/x$n"
      ScaleGen.amplify(spark, srcDir, dir, n)

      val embRaw = withNrm(
        Tables.embeddings(spark, dir).select("vec_id", "embedding"))
      val nVecs = embRaw.count()
      val maxId = embRaw.agg(max(col("vec_id"))).head.getLong(0)
      val plantOffset = (maxId / 100 + 1) * 100
      val baseMod = twinBaseMod(nVecs)
      val twins = withNrm(plantTwins(embRaw, baseMod, plantOffset))
      val plantedPairs = twins.select(
        (col("vec_id") - lit(plantOffset)).as("p_a"), col("vec_id").as("p_b"))
        .localCheckpoint()
      val nPlanted = plantedPairs.count()
      // the corpus both arms dedup: fixture + its planted twins; feeds
      // probe assignment and both verify-join sides (qd2's rule)
      val emb = embRaw.unionByName(twins).localCheckpoint()

      val nCells = math.ceil(math.sqrt(nVecs.toDouble)).toInt
      val idxDir = s"$dir/ivf_sqrtn"
      // index built BEFORE the twins arrive — the realistic order
      // (quantizer persisted, queries keep coming); centroids are a
      // deterministic md5 sample so the build is rerun-stable
      val (tBuild, _) = Bench.timed {
        IvfIndex.build(Tables.embeddings(spark, dir), idxDir, nCells)
      }
      val ivfCents = spark.read.parquet(IvfIndex.centroidsPath(spark, idxDir)).localCheckpoint()
      val fixCents = embRaw.filter(pmod(col("vec_id"), lit(100)) === 7)
        .select(col("vec_id").as("cid"), col("embedding").as("ce"), col("nrm").as("cn"))
        .localCheckpoint()

      val exact = exactPairs(embRaw, 2 * n, tau, plantOffset).localCheckpoint()

      def arm(name: String, cents: DataFrame, cap: Int, armTau: Double, probes: Int,
          scorer: (DataFrame, DataFrame, Double, Int, Int) => DataFrame)
          : (Long, Double, Double, Long, Long, Long, Long) = {
        val runs = Bench.timeReps(s"$name at x$n", reps)(
          Bench.execute(scorer(emb, cents, armTau, cap, probes)))
        val (rows, ts) = (runs.last._1, runs.map(_._2))
        val found = scorer(emb, cents, armTau, cap, probes)
          .select(col("id_a").as("f_a"), col("id_b").as("f_b"))
          .localCheckpoint()
        val weak = exact
          .join(found, col("id_a") === col("f_a") && col("id_b") === col("f_b"), "left")
          .select(floor(col("rcos") * 10).as("band"),
            when(col("f_a").isNotNull, 1L).otherwise(0L).as("hit"))
          .filter(col("band") === 4)
          .agg(count(lit(1)).as("n"), sum(col("hit")).as("f"))
          .head
        val planted = plantedPairs
          .join(found, col("p_a") === col("f_a") && col("p_b") === col("f_b"),
            "left_semi").count()
        (rows, ts.head, ts.min, weak.getLong(0), weak.getLong(1), nPlanted, planted)
      }
      // Three regimes (subset via SPARK_GRAFT_IVF_ARMS):
      //  - ivf: the range-search configuration at the PRODUCTION
      //    quantizer — √N cells, the fixture's τ = 0.4 / p = 5, cap
      //    sized from occupancy (the fixed CellCap saturates ordinary
      //    cells once occupancy 5·√N passes it — the r10 run measured
      //    0/200 planted pairs at the 10× rung under the old cap);
      //  - fix: the oracle path exactly as qd13 runs it (C ∝ N);
      //  - dup: the SemDeDup-shaped production DEDUP configuration —
      //    τ = 0.9, single-probe, occupancy cap: high-cosine pairs
      //    land in the same best cell with near certainty, so one
      //    probe suffices, occupancy is √N and the pair space is
      //    C·occ²/2 = N^1.5/2 — the genuinely sublinear-per-pair
      //    regime. The weak-band audit is vacuous here by design
      //    (no τ ≥ 0.9 pairs exist between fixture vectors); the
      //    planted cos ≈ 0.949 twins are its recall signal.
      //  - i8 / dup8: the SAME ivf / dup configurations through the
      //    int8 bounded-rescore pair stage (cellNearDupInt8, round-17)
      //    — the funnel is provably lossless, so planted/weak-band
      //    recall must be BIT-IDENTICAL to the float arm's; the deltas
      //    these arms exist to measure are time and pair-exchange IO
      val ivfCap = Dedup.occupancyCap(nVecs, nCells)
      val dupCap = Dedup.occupancyCap(nVecs, nCells, probes = 1)
      val fl = Dedup.cellNearDup _
      val i8 = Dedup.cellNearDupInt8 _
      val armDefs = Seq(
        ("ivf", ivfCents, ivfCap, tau, Dedup.ProbeCells, fl),
        ("fix", fixCents, Dedup.CellCap, tau, Dedup.ProbeCells, fl),
        ("dup", ivfCents, dupCap, 0.9, 1, fl),
        ("i8", ivfCents, ivfCap, tau, Dedup.ProbeCells, i8),
        ("dup8", ivfCents, dupCap, 0.9, 1, i8))
        .filter(a => armNames.contains(a._1))
      val ran = armDefs.map { case (nm, cents, cap, t, p, f) =>
        nm -> arm(nm, cents, cap, t, p, f)
      }

      def armJson(a: (Long, Double, Double, Long, Long, Long, Long)): String =
        s"""{"rows":${a._1},"cold":${Bench.num(a._2)},"steady":${Bench.num(a._3)},""" +
          s""""b4_exact":${a._4},"b4_found":${a._5},""" +
          s""""planted":${a._6},"planted_found":${a._7}}"""

      (n, s""""x$n":{"n_vecs":$nVecs,"n_cells":$nCells,"ivf_cap":$ivfCap,"build":${Bench.num(tBuild)},""" +
        ran.map { case (nm, a) => s""""$nm":${armJson(a)}""" }.mkString(",") + "}",
        ran.toMap.view.mapValues(_._3).toMap)
    }

    def expFor(armNm: String): Option[Double] =
      for {
        tHi <- rungs.last._3.get(armNm)
        tLo <- rungs.head._3.get(armNm)
      } yield Bench.exponent(tLo, tHi, scales.head, scales.last)
    val expJson = Seq("ivf", "fix", "dup").flatMap(nm =>
      expFor(nm).map(e => s""""${nm}_exponent":${Bench.num(e)}""")).mkString(",")

    println(s"""{"metric":"ivf_dedup_exponent","value":${Bench.num(
      expFor(armNames.head).getOrElse(Double.NaN))},"unit":"exponent",$expJson,"scales":"${scales.mkString(",")}","src":"$srcDir","rungs":{${rungs.map(_._2).mkString(",")}}}""")
  }
}
