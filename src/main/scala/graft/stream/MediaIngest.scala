package graft.stream

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.batch.Multimodal

/** Perceptual near-dup filtering of a media payload column at ingest —
  * the third membrane, giving the binary modality what [[IngestDedup]]
  * gives text and [[EmbedIngest]] gives embeddings: a doc is rejected
  * when its payload's 32-bit perceptual hash (qm3's row-local
  * average-hash over the stub codec's block intensities) is within
  * Hamming distance `maxHamming` of a batch-mate's or an admitted
  * doc's.
  *
  * Candidate generation is qm3's exact Hamming-ball banding: 4 bands,
  * a pair within distance 3 shares ≥ 1 exact band value by pigeonhole
  * (the guarantee needs four bands, not any particular width). At the
  * 8-bit default the band-key space is 4 × 256 = 1024 TOTAL, so the
  * pushed-IN index probe is bounded by a CONSTANT (≤ 1024 literals)
  * at any batch size — but that same small space is the SATURATION
  * ceiling ScaleBench measured (past ~1024 × bucket-size hashes,
  * every probe touches O(corpus/1024) index rows per bucket). The
  * `bandBits = 16` configuration (64-bit hash, 4 × 65536 buckets)
  * defers saturation 256×; its probe IN is batch-bounded instead of
  * constant, so past the trickle limit the IN is skipped and the
  * map-side broadcast band join carries the probe — the text
  * membrane's regime split. The width is pinned per store
  * ([[checkBandBits]]); a mismatch would silently miss every key.
  * The index rows matching the probed buckets join against the
  * (micro-batch-bounded) broadcast band set and verify the exact
  * distance with `bit_count(xor)` map-side; the index is scanned,
  * never shuffled, and never grows a row per duplicate (only admitted
  * docs extend it). Bulk backfills past the broadcast limit fall back
  * to a plain shuffle join they amortize.
  *
  * Exactly-once state mirrors the sibling membranes: the index is
  * hive-partitioned by epoch, written OVERWRITE into `epoch=N`, probed
  * at `epoch < N`, and folded on the shared compact cadence.
  *
  * In-batch semantics: exact-hash dups collapse to the min doc_id
  * first (so a flood of identical payloads never pairs), then the
  * remaining distinct hashes pair per band bucket with the distance
  * verify — bounded by the micro-batch, the membrane's unit of work.
  * Payloads too short to hash (< 32 bytes) pass the membrane
  * unfiltered, like shingle-less docs in the text membrane. */
object MediaIngest {

  private[graft] val DefaultMaxHamming = 3

  /** Band keys of a phash: (k << bits) | band_k, k = 0..3 — one int
    * per band; 4 × 2^bits possible values total (1024 at the 8-bit
    * default). `bits` is the saturation lever
    * [[graft.batch.Multimodal.phashPairs]] documents: at 8-bit bands a
    * corpus past ~1024 × typical-bucket-size makes every probe touch
    * O(corpus / 1024) index rows per bucket; 16-bit bands (with the
    * matching 64-bit hash) defer that 256×. The width is PINNED per
    * store ([[checkBandBits]]) — probing an index with a different
    * width than it was written with would silently miss every key. */
  private[stream] def bandCol(bits: Int) = expr(
    s"transform(sequence(0, 3), k -> cast(shiftleft(k, $bits) as int) + " +
      s"cast(shiftright(phash, cast($bits * k as int)) & ${(1L << bits) - 1}L as int))")

  /** Hash width matching a band width: 4 bands always cover the hash
    * (the radius-3 pigeonhole needs exactly four). */
  private[stream] def hashBits(bandBits: Int) = 4 * bandBits

  /** First toucher pins the store's band width in a marker file; every
    * later writer AND prober must present the same width — a mismatch
    * would silently miss every index key (different bk encoding), the
    * unacceptable failure. Hadoop FS API so object stores work like
    * the EpochFold markers. */
  private[graft] def checkBandBits(s: SparkSession, dir: String, bits: Int): Unit = {
    require(bits == 8 || bits == 16, s"bandBits must be 8 or 16, got $bits")
    val p = new org.apache.hadoop.fs.Path(s"$dir/media_idx_bits")
    val fs = p.getFileSystem(s.sparkContext.hadoopConfiguration)
    if (fs.exists(p)) {
      val in = fs.open(p)
      val pinned = try scala.io.Source.fromInputStream(in).mkString.trim
                   finally in.close()
      require(pinned == bits.toString,
        s"media store $dir is pinned to $pinned-bit bands; probing/writing " +
          s"with $bits-bit bands would silently miss every key")
    } else {
      // a marker-less store with existing index data predates widths
      // and was necessarily written at 8
      require(bits == 8 || !EpochFold.hasDataFiles(s, s"$dir/media_idx"),
        s"media store $dir predates band widths (8-bit); cannot adopt it at $bits")
      fs.mkdirs(p.getParent)
      val out = fs.create(p, false)
      try out.write(bits.toString.getBytes("UTF-8")) finally out.close()
    }
  }

  /** One VERDICT row per batch doc (all original columns plus `phash`,
    * `dup_of` and `reason`; a null reason means admitted). `mediaCol`
    * is a string payload (the stub codec convention of qm1) or a raw
    * BinaryType payload (round-17: [[graft.functions.PhashExpr]] hashes
    * bytes natively — unsigned byte intensities, `length()` = byte
    * count — so real image/frame columns need no transcode; a real
    * deployment feeds decoded block intensities through the same hash).
    *
    * Decided and attributed in one pass, like [[IngestDedup.verdicts]]:
    * `media_batch` (an exact-hash copy of a smaller batch-mate — dup_of
    * = that mate, the collapse's min doc_id — or the smallest batch-mate
    * inside the Hamming ball) beats `media_corpus` (dup_of = the
    * smallest admitted owner from the index). A dup_of may name a
    * batch-mate a LATER membrane rejects — [[MultimodalIngest]] resolves
    * cross-membrane chains before the write.
    *
    * `rowsUpTo` bounds the batch's distinct hashes (the epoch's row
    * count, from [[StoreEpoch.sized]]); it sizes the corpus probe's
    * regime. Without it they are counted, one job. At 8-bit bands the
    * bound cannot change the regime; at 16-bit an epoch of many exact
    * copies may probe by broadcast where its distinct count would have
    * pushed the IN. */
  private[graft] def verdicts(batch: DataFrame, dir: String, epochId: Long,
      mediaCol: String = "media",
      maxHamming: Int = DefaultMaxHamming,
      bandBits: Int = 8,
      rowsUpTo: Option[Long] = None): DataFrame = {
    val s = batch.sparkSession
    checkBandBits(s, dir, bandBits)
    val nBits = hashBits(bandBits)
    // unhashable payloads (shorter than the block count) carry a null
    // phash and pass unfiltered. Exact-hash dups collapse to the min
    // doc_id first (floods of identical payloads never reach pairwise
    // work); the window groups all null hashes together, harmlessly
    val keyed = batch
      .withColumn("phash", when(length(col(mediaCol)) >= nBits,
        graft.functions.GraftFunctions.phash_blocks(col(mediaCol), nBits)))
      .withColumn("first", min(col("doc_id")).over(Window.partitionBy("phash")))
      .localCheckpoint(eager = false) // one micro-batch; probed + attributed below
    val hashed = keyed.filter(col("phash").isNotNull)

    // 1. exact-hash copies lose to the collapse's min doc_id
    val exactDups = hashed.filter(col("doc_id") =!= col("first"))
      .select(col("doc_id"), lit(1).as("rank"), col("first").as("dup_of"))
    val bands = hashed.filter(col("doc_id") === col("first"))
      .select(col("doc_id"), col("phash"), explode(bandCol(bandBits)).as("bk"))

    // 2. in-batch near-dup: distinct hashes pair per band bucket,
    // verified at the exact distance (batch-bounded work)
    val a = bands.as("a"); val b = bands.as("b")
    val inBatch = a.join(b, col("a.bk") === col("b.bk")
        && col("b.doc_id") < col("a.doc_id"))
      .filter(expr(s"bit_count(a.phash ^ b.phash) <= $maxHamming"))
      .select(col("a.doc_id").as("doc_id"), lit(1).as("rank"),
        col("b.doc_id").as("dup_of"))

    // 3. vs corpus: bounded IN pushed to the index scan — constant
    // (≤ 1024 keys) at 8-bit bands; at 16-bit the distinct band set is
    // batch-bounded instead, so past the trickle limit the IN is
    // skipped and the (still map-side) broadcast band join carries the
    // probe alone, mirroring the text membrane's regime split.
    // Distance is verified map-side either way.
    val corpus = StoreEpoch.read(s, s"$dir/media_idx") match {
      case Some(idx0) =>
        val idx = (if (idx0.columns.contains("epoch"))
          idx0.filter(col("epoch") < epochId) else idx0)
          .select(col("bk"), col("phash").as("c_phash"), col("doc_id").as("dup_src"))
        val batchRows = rowsUpTo.getOrElse(
          hashed.filter(col("doc_id") === col("first")).queryExecution.toRdd.count())
        val hits =
          if (batchRows > IngestDedup.broadcastKeyLimit(s)) idx.join(bands, Seq("bk"))
          else {
            // distinct band keys ≤ min(4·batch, 4·2^bits): at 8-bit the
            // band space itself bounds the IN at 1024 literals for ANY
            // batch; at 16-bit the IN is only worth pushing while the
            // batch keeps it under the trickle limit. Exact-hash copies
            // carry their min's bands, so every hashed row's keys are
            // exactly the probed set
            val bkUpper = math.min(4 * batchRows, 4L << bandBits)
            val pre =
              if (bkUpper <= IngestDedup.isinKeyLimit(s)) {
                val bks = StoreEpoch.distinctUpTo(hashed.select(explode(bandCol(bandBits))),
                  Int.MaxValue).toSeq
                if (bks.isEmpty) idx.limit(0)
                else idx.filter(col("bk").isin(bks: _*))
              } else idx
            pre.join(broadcast(bands), Seq("bk"))
          }
        hits.filter(expr(s"bit_count(phash ^ c_phash) <= $maxHamming"))
          .select(col("doc_id"), lit(2).as("rank"), col("dup_src").as("dup_of"))
      case None => IngestDedup.noClaims(s)
    }

    keyed.drop("first").join(
      IngestDedup.firstClaim(exactDups.unionByName(inBatch).unionByName(corpus),
        "doc_id", Seq("media_batch", "media_corpus")),
      Seq("doc_id"), "left")
  }

  /** The epoch write of the index under `dir` for a set of ADMITTED
    * docs — one (bk, phash, doc_id) row per band per distinct hash the
    * admitted set carries. Unhashable payloads contribute no rows
    * ([[Multimodal.phashWide]] drops them before hashing). Files are
    * sorted by bk so the bounded IN probe skips row groups. */
  private[graft] def indexStore(admitted: DataFrame, dir: String, mediaCol: String,
      bandBits: Int): StoreEpoch.Write =
    StoreEpoch.Write(s"$dir/media_idx", Multimodal.phashWide(
        admitted.select(col("doc_id"), col(mediaCol).as("text")), hashBits(bandBits))
      .select(col("doc_id"), col("phash"), explode(bandCol(bandBits)).as("bk"))
      .select(col("bk"), col("phash"), col("doc_id")), sortBy = Seq("bk"))

  /** Standalone one-batch pass (composition inside
    * [[MultimodalIngest.ingestBatch]] writes the index itself so only
    * fully-admitted docs extend it). Same epoch contract as
    * [[IngestDedup.ingestBatch]]. */
  def ingestBatch(batch: DataFrame, dir: String, epochId: Long,
      mediaCol: String = "media",
      maxHamming: Int = DefaultMaxHamming, bandBits: Int = 8): Unit =
    StoreEpoch.sized(batch, Sinks.DriverRouteRows) { (raw, rows) =>
      val keep = verdicts(raw, dir, epochId, mediaCol, maxHamming, bandBits, Some(rows))
        .filter(col("reason").isNull).drop("phash", "dup_of", "reason")
        .localCheckpoint(eager = false) // filled by the commit's gate
      StoreEpoch.commit(Seq(StoreEpoch.Write(s"$dir/corpus", keep),
        indexStore(keep, dir, mediaCol, bandBits)), epochId, Sinks.DriverRouteRows)
    }

  /** Fold index epochs `< upTo` on the shared cadence (same contract
    * as [[IngestDedup.compactIndexes]]). */
  def compact(s: SparkSession, dir: String, upTo: Long,
      targetBytes: Long = 128L * 1024 * 1024): Unit =
    // the shared maintenance fence (FsLease.guarded, round 14)
    graft.batch.FsLease.guarded(s, dir, "MediaIngest: maintenance") {
      EpochFold.fold(s, s"$dir/media_idx", upTo, targetBytes, Seq("bk"))
      EpochFold.fold(s, s"$dir/corpus", upTo, targetBytes)
    }
}
