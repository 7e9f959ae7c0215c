package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.batch.Multimodal

/** The band-width rung evidence VERDICT r9 asked for: run the
  * perceptual-dedup family on [[ScaleGen]]'s isomorphic rungs at BOTH
  * band widths and measure what saturation costs —
  *
  *   - `narrow`: qm3/qm4 exactly as the oracle runs them — 32-bit
  *     pHash, 8-bit bands, 4 × 256 = 1024 buckets total. Past
  *     ~1024 × cap hashes the member-cap prefix binds on ORDINARY
  *     buckets (not just floods) and recall decays silently — the
  *     10× rung is where ScaleBench caught qm4's output growing only
  *     3× for 10× the frames.
  *   - `wide`: the production pin [[Multimodal.videoFrameDupWide]] —
  *     64-byte frame windows hashed at 64 bits, banded at 16
  *     (4 × 65536 buckets; saturation deferred 256×), same cap, same
  *     radius-3 pigeonhole.
  *   - `wide_cap<N>`: the wide regime with the distinct-hash bucket
  *     cap swept to `SPARK_GRAFT_MEDIA_CAP2` (default 1024) — the
  *     residual dial after width, priced against the per-rung
  *     `hot_bucket` profile the other two arms report.
  *
  * Completeness is measured the MediaBandWidthSpec way, at rung scale:
  * [[plant]] injects deterministic Hamming ≤ 3 twins for ~200 spread
  * frame hashes into each width's REAL rung hash corpus, and the
  * bench reports how many planted pairs each width's capped band join
  * recovers. The planted set rides ids above the corpus range, which
  * makes the loss mechanism visible: the cap's doc_id-ordered prefix
  * evicts the HIGHEST ids from saturated buckets first, exactly what
  * late-arriving documents experience in a streaming corpus.
  *
  * One JSON line per the Bench contract; BASELINE.md records the run.
  */
object MediaScaleBench {

  /** Deterministic Hamming ≤ 3 twins for ~`target` spread hashes:
    * twin id = id + `offset`, twin hash = hash ⊕ (up to 3 bit flips
    * drawn from `hash(id, k)` — seed-free, rerun-stable). Flip
    * positions may collide, so planted distance is ≤ 3, inside the
    * verify radius either way. */
  private def plant(ph: DataFrame, bits: Int, offset: Long,
      baseMod: Long): DataFrame = {
    def flip(k: Int) =
      expr(s"shiftleft(1L, cast(pmod(hash(doc_id, $k), $bits) as int))")
    // residue 4, not 3: frame ids are doc·64 + an EVEN frame index, so
    // an odd residue matches nothing whenever baseMod is even
    ph.filter(pmod(col("doc_id"), lit(baseMod)) === 4)
      .select((col("doc_id") + lit(offset)).as("doc_id"),
        col("phash").bitwiseXOR(flip(1).bitwiseOR(flip(2)).bitwiseOR(flip(3)))
          .as("phash"))
  }

  def run(spark: SparkSession, args: Seq[String]): Unit = {
    val srcDir = Bench.sfDir()
    val scales = Bench.scales("1,3,10")
    val reps = Bench.benchReps(2)

    val rungs = scales.map { n =>
      val dir = s"${Bench.scaleDir}/x$n"
      ScaleGen.amplify(spark, srcDir, dir, n)
      val docs = Tables.spread(Tables.documents(spark, dir)).localCheckpoint()

      def timedRows(arm: String)(df: => DataFrame): (Long, Double, Double) = {
        val runs = Bench.timeReps(s"$arm at x$n", reps)(Bench.execute(df))
        (runs.last._1, runs.head._2, runs.map(_._2).min)
      }
      val nw = timedRows("narrow")(Multimodal.videoFrameDup(docs))
      val wd = timedRows("wide")(Multimodal.videoFrameDupWide(docs))
      // third arm — the residual dial after width: the same wide
      // regime with the DISTINCT-hash bucket cap swept up (default
      // 1024). 16-bit mean occupancy stays far under any cap, so what
      // the cap drops at x30 is genuinely hot buckets; this arm prices
      // recovering them (bucket-local cost is m², so the bill is
      // hot-bucket-bounded, not corpus-bounded).
      val sweepCap = sys.env.getOrElse("SPARK_GRAFT_MEDIA_CAP2", "1024").toInt
      val wo = timedRows(s"wide_cap$sweepCap")(Multimodal.videoFrameDupWide(docs, sweepCap))

      // planted completeness over each width's real frame-hash corpus
      def plantedRecall(ph0: DataFrame, bits: Int, bandBits: Int,
          cap: Int): (Long, Long, Long) = {
        val ph = ph0.localCheckpoint()
        val maxId = ph.agg(max(col("doc_id"))).head.getLong(0)
        val offset = (maxId / 100 + 1) * 100
        val nHashes = ph.count()
        val twins = plant(ph, bits, offset, math.max(1L, nHashes / 200))
          .localCheckpoint()
        val nPlanted = twins.count()
        val found = Multimodal.phashPairs(ph.unionByName(twins), cap, bandBits)
          .filter(col("id_b") === col("id_a") + lit(offset) &&
            col("id_b") >= lit(offset))
          .count()
        // the profile the cap fights: hottest DISTINCT-hash band
        // bucket in this width's real corpus (planted set excluded)
        val hot = ph.select(col("phash")).distinct()
          .select(posexplode(expr(
            s"transform(sequence(0, 3), k -> shiftright(phash, cast($bandBits * k as int))" +
              s" & ${(1L << bandBits) - 1}L)")))
          .toDF("k", "v").groupBy("k", "v").count()
          .agg(max(col("count"))).head.getLong(0)
        (nPlanted, found, hot)
      }
      val ph8 = Multimodal.phash32(Multimodal.sampledFrames(docs, 32))
      val ph16 = Multimodal.phashWide(Multimodal.sampledFrames(docs, 64), 64)
      val (p8, f8, hot8) = plantedRecall(ph8, 32, 8, Multimodal.PhashBandCap)
      val (p16, f16, hot16) = plantedRecall(ph16, 64, 16, Multimodal.PhashBandCap)
      val (po, fo, _) = plantedRecall(ph16, 64, 16, sweepCap)

      def armJson(a: (Long, Double, Double), p: Long, f: Long,
          extra: String = ""): String =
        s"""{"rows":${a._1},"cold":${Bench.num(a._2)},"steady":${Bench.num(a._3)},""" +
          s""""planted":$p,"planted_found":$f$extra}"""

      (n, s""""x$n":{"narrow":${armJson(nw, p8, f8, s""","hot_bucket":$hot8""")},""" +
        s""""wide":${armJson(wd, p16, f16, s""","hot_bucket":$hot16""")},""" +
        s""""wide_cap$sweepCap":${armJson(wo, po, fo)}}""", nw._3, wd._3, nw._1, wd._1)
    }

    def expOf(f: ((Int, String, Double, Double, Long, Long)) => Double): Double =
      Bench.exponent(f(rungs.head), f(rungs.last), scales.head, scales.last)

    println(s"""{"metric":"media_band_exponent","value":${Bench.num(expOf(_._4))},"unit":"exponent","narrow_exponent":${Bench.num(expOf(_._3))},"narrow_rows_exponent":${Bench.num(
      expOf(_._5.toDouble))},"wide_rows_exponent":${Bench.num(expOf(_._6.toDouble))},"scales":"${scales.mkString(",")}","src":"$srcDir","rungs":{${rungs.map(_._2).mkString(",")}}}""")
  }
}
