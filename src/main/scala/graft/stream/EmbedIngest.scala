package graft.stream

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.batch.IvfIndex

/** Embedding near-dup at ingest: the streaming form of qd5 — reject
  * arriving vectors whose cosine against the accumulated corpus (or a
  * smaller batch-mate) reaches `tau` — over the IVF cell layout of
  * [[graft.batch.IvfIndex]] and the epoch-partitioned exactly-once
  * story of [[IngestDedup]].
  *
  * State under `dir`:
  *   - `centroids/` — the coarse quantizer (cid, ce, cn), tiny,
  *     broadcast at every batch ([[init]] pins it once; drift is
  *     handled in place by the crash-safe [[requantize]]);
  *   - `cells/epoch=N/cell=M/` — admitted vectors, partitioned by
  *     ingest epoch THEN cell, so a probe of p cells against k prior
  *     epochs opens p×k directories and the rest of the corpus is
  *     never read, while epoch-level OVERWRITE keeps replays
  *     idempotent (same visibility rule as IngestDedup: probes see
  *     strictly `epoch < N`).
  *
  * Near-dup checks are nProbe-approximate exactly like IVF search: a
  * vector is compared against corpus/batch vectors sharing at least
  * one of its `nProbe` nearest cells. In-batch ties break to the
  * smaller `vec_id` (the canonical-min rule of the text path).
  *
  * At 100 TB: the batch side is bounded (one micro-batch), centroids
  * broadcast, the corpus side is read partition-pruned and joined on
  * `cell` — the corpus is never shuffled, mirroring the text indexes'
  * probe regimes.
  *
  * STORAGE-FORMAT DECISION (round 12): the membrane's cells stay
  * FLOAT32, deliberately, even though [[graft.batch.IvfIndex]] now
  * ships an int8 layout with rung-measured recall parity. The
  * membrane's admit/reject decisions are exactness-pinned (kept =
  * expected at the 1M-doc IngestBench runs; the τ comparison is an
  * exact cosine against the corpus vectors) and the cells are the
  * corpus's ONLY embedding copy — int8 cells would either change the
  * decision boundary (int8 cosine ≠ float cosine at the τ margin) or
  * require a parallel float store for the verify step, negating the
  * IO saving. The int8 lever belongs on the SERVING side: build the
  * read-optimized index from [[corpus]] on any cadence —
  * `IvfIndex.build(corpus(s, dir), servingDir, nCells, assign = 2,
  * int8 = true)` — and point search traffic at
  * [[graft.batch.IvfIndex.searchInt8]]; ingest keeps its exact
  * membrane, readers get the 3× cheaper scans (BASELINE.md r12). */
object EmbedIngest {

  private[stream] def dot(a: org.apache.spark.sql.Column, b: org.apache.spark.sql.Column) =
    graft.functions.GraftFunctions.vec_dot(a, b)

  private[stream] def withNorm(df: DataFrame): DataFrame =
    df.withColumn("nrm", sqrt(dot(col("embedding"), col("embedding"))))

  // quantizer dimensionality per index dir, cached on the driver: it
  // is invariant for a dir's lifetime (requantize rebuilds from the
  // same-dim corpus), so the tiny head() job runs once per dir per
  // driver instead of once per micro-batch on the ingest hot path.
  // Invalidated at every point the quantizer under a path can change
  // identity — [[init]] (a deleted-and-re-pinned dir in the same JVM)
  // and [[recoverRequant]]'s install path — so a stale dim can never
  // drive the mis-dim guard or the ledger's `malformed` attribution
  // (round-12 ADVICE).
  private val dimCache = scala.collection.concurrent.TrieMap.empty[String, Int]

  private[stream] def quantizerDim(s: SparkSession, dir: String, cents: DataFrame): Int =
    dimCache.getOrElseUpdate(dir, cents.select(size(col("ce"))).head.getInt(0))

  /** The pinned quantizer ([[init]]), read with its footer's schema. */
  private def centroids(s: SparkSession, dir: String): DataFrame =
    StoreEpoch.read(s, s"$dir/centroids").getOrElse(
      throw new IllegalStateException(s"EmbedIngest: no quantizer pinned at $dir/centroids (init)"))

  /** Pin the coarse quantizer. `centroids` must be (cid, ce: embedding,
    * cn: norm)-shaped — typically `IvfIndex.build`'s centroids from a
    * seed corpus, or any deterministic subset. One-time; refuses to
    * silently re-pin (a different quantizer re-cells every vector —
    * drift is handled by the crash-safe [[requantize]]). */
  def init(spark: SparkSession, dir: String, centroids: DataFrame): Unit = {
    val p = new org.apache.hadoop.fs.Path(s"$dir/centroids")
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    require(!fs.exists(p),
      s"quantizer already pinned at $p (drift = requantize; rebuild = new dir)")
    dimCache.remove(dir) // a re-initialized dir may carry a new dim
    centroids.coalesce(1).write.parquet(p.toString)
  }

  /** Start the streaming ingest query ([[IngestDedup.start]]'s shape):
    * `vecs` needs (vec_id: long, embedding: array<float>) columns;
    * survivors accumulate under `dir/cells`. [[init]] must have pinned
    * the quantizer first.
    *
    * `requantizeEvery` (0 = off, the default — re-celling rewrites the
    * corpus, an operator-cadence decision): every N epochs the
    * quantizer is rebuilt from the current corpus at its current size
    * ([[requantize]]) — this folds the cell epochs as a side effect,
    * so it subsumes that batch's `compactEvery` fold. */
  def start(vecs: DataFrame, dir: String, checkpoint: String,
            trigger: org.apache.spark.sql.streaming.Trigger =
              org.apache.spark.sql.streaming.Trigger.ProcessingTime("1 second"),
            tau: Double = 0.95, nProbe: Int = 4, compactEvery: Int = 64,
            requantizeEvery: Int = 0)
      : org.apache.spark.sql.streaming.StreamingQuery =
    vecs.writeStream.trigger(trigger)
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, id: Long) =>
        // maintenance BEFORE the batch, when every epoch < id is
        // checkpoint-committed (IngestDedup.start's cadence rule)
        val s = batch.sparkSession
        if (requantizeEvery > 0 && id > 0 && id % requantizeEvery == 0)
          // auto-sized: C grows as √corpus (floored at the current
          // count) so per-batch probe cost stays Θ(batch × √n) instead
          // of decaying linearly under an init-pinned C
          requantize(s, dir, nCells = 0, upTo = id)
        else if (compactEvery > 0 && id > 0 && id % compactEvery == 0)
          compactCells(s, dir, upTo = id)
        ingestBatch(batch, dir, id, tau, nProbe)
      }
      .start()

  /** Fold cell epochs `< upTo` into one (crash-safe [[EpochFold]]
    * protocol, cell partitioning preserved) — without this a long-lived
    * stream probes nCells × epochs directories per batch. Same `upTo`
    * contract as [[IngestDedup.compactIndexes]]: pass only epochs that
    * can no longer replay. */
  def compactCells(s: SparkSession, dir: String, upTo: Long,
                   targetBytes: Long = 128L * 1024 * 1024): Unit =
    // maintenance holds the layout's FS lease (graft.batch.FsLease —
    // the IvfIndex install-lease mechanism, shared since round 14):
    // the streaming query structurally single-writes its own epochs,
    // but OUT-OF-BAND maintenance (an operator ticking requantize or
    // compaction from a second application) would otherwise race a
    // concurrent install cross-process.
    graft.batch.FsLease.guarded(s, dir, "EmbedIngest: maintenance") {
        // a committed-but-uninstalled requantize snapshot holds re-celled
        // COPIES of the pre-snapshot epochs; folding those source epochs
        // first would merge them into a partition the snapshot install
        // doesn't supersede — recovery later would then add the snapshot
        // rows NEXT to the folded copies (silent duplicates). Finish (or
        // discard) any interrupted requantize before touching the layout.
        recoverRequant(s, dir)
        EpochFold.fold(s, s"$dir/cells", upTo, targetBytes, partitionCols = Seq("cell"))
    }

  /** Crash-safe re-quantization ("re-cell") for a drifted corpus: pick
    * fresh centroids from the CURRENT admitted vectors (the same
    * content-addressed deterministic sample as IvfIndex.build), assign
    * every admitted vector to its new nearest centroid, and swap BOTH
    * the quantizer and the cell layout — the drift answer to [[init]]'s
    * "rebuild = new dir" pin, without abandoning the directory.
    *
    * Same `upTo` contract as [[compactCells]]: call between batches
    * with `upTo` ≤ the oldest epoch that can still replay. The re-celled
    * corpus lands folded in `epoch = upTo - 1` (probe visibility
    * unchanged: any epoch ≥ upTo still sees all of it); epochs ≥ upTo
    * (partial crash leftovers) are untouched — their replay overwrites
    * them under the NEW quantizer.
    *
    * Two-phase like [[EpochFold]]: the full snapshot (centroids +
    * re-celled corpus) is written to an invisible dot-dir, a commit
    * marker is created, and only then is the live layout touched. A
    * crash before the marker leaves the old layout untouched (the next
    * entry discards the partial snapshot); after it, [[recoverRequant]]
    * — run at every entry point — finishes the install, each step
    * conditional on its tmp subdir so resumption is idempotent.
    *
    * `nCells ≤ 0` sizes the new quantizer from the corpus itself:
    * `max(current cell count, ⌈√n⌉)` over the n committed vectors —
    * the C ∝ √N rule IvfScaleBench measured for the batch dedup path,
    * applied at the cadence where the streaming membrane can act on
    * it. Per-batch probe cost is Θ(batch × n/C), so a quantizer whose
    * C was pinned at init makes ingest throughput decay LINEARLY in
    * the corpus (the 1M-doc IngestBench run measured exactly that:
    * quartile rates 363→193 docs/s with compaction on); √N cells turn
    * the same term into Θ(batch × √n). The floor at the current count
    * means auto never shrinks a hand-built quantizer. */
  def requantize(s: SparkSession, dir: String, nCells: Int, upTo: Long): Unit =
    // same maintenance fence as [[compactCells]] (monitor + FS lease)
    graft.batch.FsLease.guarded(s, dir, "EmbedIngest: maintenance") {
      requantizeInner(s, dir, nCells, upTo)
    }

  private def requantizeInner(s: SparkSession, dir: String, nCells: Int,
      upTo: Long): Unit = {
    val root = new org.apache.hadoop.fs.Path(dir)
    val fs = root.getFileSystem(s.sparkContext.hadoopConfiguration)
    recoverRequant(s, dir)
    if (!EpochFold.hasDataFiles(s, s"$dir/cells")) return
    val c =
      if (nCells > 0) nCells
      else {
        val n = s.read.parquet(s"$dir/cells").filter(col("epoch") < upTo).count()
        val cur = s.read.parquet(s"$dir/centroids").count().toInt
        math.max(cur, math.ceil(math.sqrt(n.toDouble)).toInt)
      }
    writeRequantSnapshot(s, dir, c, upTo)
    // the snapshot write is the unbounded part (full re-cell of the
    // committed corpus) — re-stamp the lease before touching the live
    // layout so a TTL overrun fails here, not as a silent double-write
    graft.batch.FsLease.renewOrFail(s, dir, "EmbedIngest: requantize install")
    installRequant(fs, root, upTo)
    // every install site invalidates the cached quantizer dim — the
    // recoverRequant path does the same; the invariant is "the cache
    // never outlives the artifact it describes", not "the dim happens
    // to be invariant today"
    dimCache.remove(dir)
  }

  /** Occupancy-skew requantize cadence (round-14 verdict #5) — the
    * trigger [[graft.batch.IvfIndex.rebuildIfGrown]]'s GROWTH check
    * structurally cannot see: a drifting corpus concentrates new
    * content into the few stale cells nearest the drift direction, so
    * per-batch probe cost diverges (every batch probes the same hot
    * cells) while total rows — the growth signal — grow only
    * linearly. Requantize when the hottest committed cell holds
    * ≥ `factor` × the mean occupancy (AnnScaleBench's `driftcost` arm
    * measures the divergence and this trigger's effect). The check is
    * one narrow count-per-partition aggregate over the cells layout
    * (the `cell` partition column only — no vector bytes read), run
    * inside the same maintenance fence as the requantize it triggers,
    * like rebuildIfGrown's check-inside-lease discipline. Returns
    * whether a requantize ran. Same `upTo` contract as
    * [[requantize]]. Default factor 3, from the driftcost arm's x10
    * measurement: the collapsed-drift regime peaks at skew ≈ 4.1 under
    * a frozen quantizer while per-batch candidate volume has already
    * diverged 20×/epoch — at factor 3 the trigger fired 5× across the
    * run and cut final-quartile candidates 64% (22.4M → 8.1M,
    * flattened); higher thresholds sit out most of the divergence.
    * False-fire safety: centroids are content-addressed SAMPLES of the
    * corpus, so a statically concentrated (non-drifting) corpus
    * re-cells with more centroids in its dense regions and occupancy
    * self-equalizes — sustained re-firing happens only under ACTIVE
    * drift, where requantizing is the correct response (measured:
    * ordinary md5-sampled layouts sit near skew 1.2). */
  def requantizeIfSkewed(s: SparkSession, dir: String, upTo: Long,
      factor: Double = 3.0): Boolean =
    graft.batch.FsLease.guarded(s, dir, "EmbedIngest: maintenance") {
      recoverRequant(s, dir)
      if (!EpochFold.hasDataFiles(s, s"$dir/cells")) false
      else {
        // expected occupancy = total / QUANTIZER cells (not occupied
        // cells — a fully-collapsed layout has ONE occupied cell and
        // would read as perfectly balanced under an occupied-cell mean)
        val c = s.read.parquet(s"$dir/centroids").count()
        val occ = s.read.parquet(s"$dir/cells").filter(col("epoch") < upTo)
          .groupBy(col("cell")).agg(count(lit(1)).as("n"))
          .agg(count(lit(1)).as("nc"), max(col("n")).as("mx"),
            sum(col("n")).as("tot"))
          .head()
        val due = c > 1L && occ.getLong(0) > 0L &&
          occ.getLong(1) >= factor * (occ.getLong(2).toDouble / c)
        if (due) requantizeInner(s, dir, nCells = 0, upTo)
        due
      }
    }

  /** Phase 1: the committed-but-not-installed snapshot (split from
    * [[requantize]] so specs can pin the crash window between commit
    * and install). */
  private[graft] def writeRequantSnapshot(s: SparkSession, dir: String,
      nCells: Int, upTo: Long): Unit = {
    val root = new org.apache.hadoop.fs.Path(dir)
    val fs = root.getFileSystem(s.sparkContext.hadoopConfiguration)
    val tmp = new org.apache.hadoop.fs.Path(root, s".requant_tmp_$upTo")
    if (fs.exists(tmp)) require(fs.delete(tmp, true),
      s"requantize: could not clear stale snapshot $tmp")
    // committed epochs only; stored norms are reused, not recomputed
    val nm = s.read.parquet(s"$dir/cells").filter(col("epoch") < upTo)
      .select(col("vec_id"), col("embedding"), col("nrm"))
      .localCheckpoint() // feeds centroid pick AND reassignment
    val cents = nm
      .orderBy(md5(col("vec_id").cast("string")), col("vec_id"))
      .limit(nCells)
      .select(col("vec_id").as("cid"), col("embedding").as("ce"), col("nrm").as("cn"))
    cents.coalesce(1).write.parquet(s"$tmp/centroids")
    // row-local argmax over the broadcast quantizer array — see
    // IvfIndex.bestCell for why this replaces crossJoin+row_number
    nm.crossJoin(broadcast(IvfIndex.centroidArray(s.read.parquet(s"$tmp/centroids"))))
      .withColumn("cell", IvfIndex.bestCell(col("embedding"), col("nrm"), rounded = false))
      .select(col("vec_id"), col("embedding"), col("nrm"), col("cell"))
      .write.partitionBy("cell").parquet(s"$tmp/cells/epoch=${upTo - 1}")
    val o = fs.create(new org.apache.hadoop.fs.Path(tmp, "_GRAFT_COMMIT"), true)
    o.close()
  }

  /** Phase 2: install a committed snapshot. Every step is conditional
    * on its tmp subdir still existing, so a crash anywhere inside is
    * resumed by re-running; all FS booleans are require()d (the
    * snapshot may be the only copy once old state is deleted). */
  private def installRequant(fs: org.apache.hadoop.fs.FileSystem,
      root: org.apache.hadoop.fs.Path, n: Long): Unit = {
    val tmp = new org.apache.hadoop.fs.Path(root, s".requant_tmp_$n")
    val tCents = new org.apache.hadoop.fs.Path(tmp, "centroids")
    if (fs.exists(tCents)) {
      val dCents = new org.apache.hadoop.fs.Path(root, "centroids")
      if (fs.exists(dCents)) require(fs.delete(dCents, true),
        s"requantize: could not retire old quantizer $dCents")
      require(fs.rename(tCents, dCents),
        s"requantize: could not install quantizer from $tCents")
    }
    val tCells = new org.apache.hadoop.fs.Path(tmp, "cells")
    if (fs.exists(tCells)) {
      val cellsRoot = new org.apache.hadoop.fs.Path(root, "cells")
      val srcEpoch = new org.apache.hadoop.fs.Path(tCells, s"epoch=${n - 1}")
      // if the rename already happened, the dir at epoch=n-1 is the NEW
      // snapshot and must survive the source sweep; if not, any dir of
      // that name is an old fold source superseded by the snapshot
      val renamed = !fs.exists(srcEpoch)
      fs.listStatus(cellsRoot)
        .filter(st => st.isDirectory && st.getPath.getName.startsWith("epoch="))
        .filter(_.getPath.getName.stripPrefix("epoch=").toLong < n)
        .filter(st => !(renamed && st.getPath.getName == s"epoch=${n - 1}"))
        .foreach { st =>
          require(fs.delete(st.getPath, true),
            s"requantize: could not delete superseded ${st.getPath}")
        }
      if (!renamed) {
        val dest = new org.apache.hadoop.fs.Path(cellsRoot, s"epoch=${n - 1}")
        require(!fs.exists(dest), s"requantize: $dest reappeared mid-install")
        require(fs.rename(srcEpoch, dest),
          s"requantize: could not install re-celled corpus at $dest")
      }
      require(fs.delete(tCells, true),
        s"requantize: could not clear installed snapshot dir $tCells")
    }
    require(fs.delete(tmp, true), s"requantize: could not clear $tmp")
  }

  /** Finish (or discard) a requantize interrupted by a crash: committed
    * snapshots are installed, uncommitted ones discarded. Run at every
    * entry ([[verdicts]], [[requantize]], [[corpus]]) — one root
    * listing when idle. */
  private[graft] def recoverRequant(s: SparkSession, dir: String): Unit = {
    val root = new org.apache.hadoop.fs.Path(dir)
    val fs = root.getFileSystem(s.sparkContext.hadoopConfiguration)
    if (!fs.exists(root)) return
    val TmpName = """\.requant_tmp_(-?\d+)""".r
    val tmps = fs.listStatus(root).filter(st =>
      st.isDirectory && TmpName.pattern.matcher(st.getPath.getName).matches())
    if (tmps.isEmpty) return // the idle hot path: one listing, no lease
    // recovery MUTATES the layout, so it takes the same maintenance
    // fence as requantize/compactCells — but a READ path calling it
    // (verdicts, corpus) must not fail because a foreign writer is
    // live: that writer owns the snapshot and finishes (or discards)
    // its own install; the read proceeds on the committed layout.
    graft.batch.FsLease.monitorOf(dir).synchronized {
      if (!graft.batch.FsLease.tryAcquire(s, dir)) return
      try tmps.foreach { st =>
        st.getPath.getName match {
          case TmpName(n) if fs.exists(st.getPath) =>
            val committed =
              fs.exists(new org.apache.hadoop.fs.Path(st.getPath, "_GRAFT_COMMIT"))
            if (committed) {
              installRequant(fs, root, n.toLong)
              // the install swapped the quantizer — any cached dim for
              // this dir is now unverified (same-dim in practice, but
              // the cache must never outlive the artifact it describes)
              dimCache.remove(dir)
            } else require(fs.delete(st.getPath, true),
              s"requantize: could not discard uncommitted snapshot ${st.getPath}")
          case _ =>
        }
      } finally graft.batch.FsLease.release(s, dir)
    }
  }

  /** One micro-batch pass (callable from foreachBatch or backfill —
    * same epoch contract as [[IngestDedup.ingestBatch]]: strictly
    * increasing, replay-idempotent). `batch` needs (vec_id: long,
    * embedding: array<float>). */
  def ingestBatch(batch: DataFrame, dir: String, epochId: Long,
                  tau: Double = 0.95, nProbe: Int = 4): Unit =
    // survivors land in THEIR nearest cell (pr = 1) for this epoch;
    // epoch-dir OVERWRITE is the replay-idempotence point
    StoreEpoch.sized(batch, Sinks.DriverRouteRows) { (raw, _) =>
      StoreEpoch.commit(Seq(cellsStore(dir, admitted(verdicts(raw, dir, epochId, tau, nProbe)
        .localCheckpoint(eager = false)))), epochId, Sinks.DriverRouteRows)
    }

  /** The epoch write of the cells store under `dir`: admitted rows
    * ([[admitted]]) in `cell=M/` subdirectories. */
  private[stream] def cellsStore(dir: String, admitted: DataFrame): StoreEpoch.Write =
    StoreEpoch.Write(s"$dir/cells", admitted, partitionBy = Some("cell"))

  /** Witness-side cap for the in-batch pair stage — per probe cell,
    * only the first [[InBatchWitnessCap]] members (by vec_id) serve as
    * rejection witnesses. See [[inBatchLosers]] for why the cap sits
    * on ONE side here, unlike qd13's two-sided member prefix. */
  private[graft] val InBatchWitnessCap = 512

  /** The cap-prefix witness set per cell — split out so the flood spec
    * can pin the pair-space bound on the exact frame the join uses. */
  private[graft] def cappedWitnesses(probes: DataFrame): DataFrame =
    probes
      .withColumn("rk", row_number().over(
        Window.partitionBy("cell").orderBy("vec_id")))
      .filter(col("rk") <= InBatchWitnessCap).drop("rk", "pr")

  /** In-batch losers `(vec_id, dup_of)`: vec_ids with a SMALLER
    * tau-near batch-mate sharing a probe cell, and the smallest such
    * witness. The witness (smaller-id) side is capped per cell at
    * [[InBatchWitnessCap]], so the pair space is rows × nProbe × cap —
    * LINEAR in the micro-batch with O(cap²) for a cap-sized batch —
    * instead of quadratic when a degenerate batch collapses into one
    * cell.
    *
    * The cap deliberately sits on one side, not on membership like
    * qd13's CellCap: the a-side is already bounded by the micro-batch
    * trigger (the property the batch operator doesn't have), and a
    * one-sided cap keeps flood rejection LOSSLESS — a cell's min-id
    * member is inside every cap prefix by construction and witnesses
    * every later near-identical member, so a near-identical flood is
    * fully rejected at linear cost, where a two-sided membership cap
    * would leave everything past the prefix unchecked and ADMIT the
    * flood. Recall loss exists only in the adversarial
    * crowded-cell-with-late-witness shape, the same class qd13
    * documents. */
  private[graft] def inBatchLosers(probes: DataFrame, tau: Double): DataFrame = {
    val a = probes.as("a"); val b = cappedWitnesses(probes).as("b")
    a.join(b,
        col("a.cell") === col("b.cell") && col("a.vec_id") > col("b.vec_id"))
      .filter(dot(col("a.embedding"), col("b.embedding"))
        / (col("a.nrm") * col("b.nrm")) >= tau)
      .groupBy(col("a.vec_id").as("vec_id")).agg(min(col("b.vec_id")).as("dup_of"))
  }

  /** One VERDICT row per batch vector as a pure plan — (vec_id,
    * embedding, nrm, cell, dup_of, reason) with `cell` = the vector's
    * nearest centroid and a null reason meaning admitted, so the
    * admitted rows are exactly what the cells store holds. Split from
    * [[ingestBatch]] (IngestDedup.verdicts' shape) so specs can pin
    * plans and so [[MultimodalIngest]] can compose this membrane with
    * the text one before any write.
    *
    * Decided and attributed in one pass: `embed_batch` (an exact copy
    * of a smaller batch-mate — dup_of = the collapse's min vec_id — or
    * the smallest tau-near capped witness sharing a probe cell, see
    * [[inBatchLosers]]) beats `embed_corpus` (the smallest tau-near
    * admitted owner from the partition-pruned cells); a row the probes
    * drop — null, wrong-dim or null-element embeddings, or a zero
    * vector, which score NaN against every centroid — is `malformed`
    * (dup_of = null: it duplicates nothing).
    *
    * Attribution caveat: the witness side is capped per cell at
    * [[InBatchWitnessCap]] (the flood bound). In a cell crowded past
    * the cap, a rejected vector's smallest tau-near batch-mate may lie
    * beyond the cap prefix while a larger one in another probe cell
    * sits inside it; its `embed_batch` dup_of then names that larger
    * witness — a batch-mate it is genuinely tau-near, just not the
    * smallest. Admission is unaffected. */
  private[graft] def verdicts(batch: DataFrame, dir: String, epochId: Long,
                              tau: Double, nProbe: Int): DataFrame = {
    val s = batch.sparkSession
    // a crashed requantize must be finished BEFORE the quantizer is
    // read — a half-swapped layout (new centroids, old cells) would
    // probe the wrong cells silently
    recoverRequant(s, dir)
    val cents = centroids(s, dir)
    val cdim = quantizerDim(s, dir, cents)
    val cells = StoreEpoch.read(s, s"$dir/cells")
    // exact-dup collapse FIRST (linear, map-side hash): a crawl flood of
    // byte-identical embeddings would otherwise meet the pairwise tau
    // stage as one hot cell — m²/2 cosine pairs. Keeping min vec_id per
    // embedding hash changes no outcome (an exact dup is tau-near its
    // twin for any tau ≤ 1, so the pairwise rule rejected exactly the
    // same ids) but makes the pair stage quadratic only in DISTINCT
    // vectors. nProbe nearest cells per vector — a row-local sort-slice
    // over the broadcast quantizer array (IvfIndex.topCells: no
    // batch×centroids row explosion, no vec_id exchange); an empty list
    // means the probes drop the row
    val keyed = withNorm(batch)
      .withColumn("emb_key", md5(concat_ws(",", col("embedding").cast("array<string>"))))
      .withColumn("first", min(col("vec_id")).over(Window.partitionBy("emb_key")))
      .crossJoin(broadcast(IvfIndex.centroidArray(cents)))
      .withColumn("cells", IvfIndex.nearestCells(col("embedding"), col("nrm"), nProbe,
        rounded = false))
      .drop("cs", "emb_key")
      .localCheckpoint(eager = false) // bounded: one micro-batch; filled by the guard
    // MISCONFIGURATION guard, enforced at BATCH level: a quantizer
    // whose dims match nothing in the batch usually means the caller
    // pointed at the wrong index dir — every probe would EXCLUDE every
    // centroid (malformed scores are NaN-dropped since round 12) and
    // the membrane would silently admit NOTHING, writing empty epochs
    // forever. Deliberately NOT a per-row raise_error, and loud ONLY at
    // BRING-UP (empty corpus): either error mode on an ESTABLISHED
    // stream would be a poison pill — foreachBatch replays the same
    // batch on every restart, so one all-malformed micro-batch on a
    // low-traffic stream would wedge it permanently. Established
    // corpus ⇒ earlier batches matched ⇒ the dim is right ⇒ this is a
    // bad BATCH: warn and let every row's verdict read `malformed`.
    // One job over the whole batch, which also fills the checkpoint:
    // the distinct values of the dim-match flag (at most three).
    val dimMatch = StoreEpoch.distinctUpTo(keyed.select(size(col("embedding")) === cdim), 3)
    if (!dimMatch.contains(true) && dimMatch.nonEmpty) {
      // the bring-up throw is OPT-OUT (round-12 ADVICE): foreachBatch
      // replays the same batch on every restart, so if the FIRST
      // micro-batch of a genuinely new stream is all-garbage (not a
      // wrong dir), the strict throw would wedge the stream with no
      // code change available to the operator. Flipping
      // spark.graft.embedIngest.strictBringup=false downgrades
      // bring-up to the established-corpus behavior: warn and mark
      // every row `malformed`.
      // tolerant parse: a malformed value ("0", "yes") must not throw
      // inside foreachBatch — that would BE the replay poison pill this
      // flag exists to avoid; unparseable defaults to strict
      val strict = s.conf.getOption("spark.graft.embedIngest.strictBringup")
        .flatMap(_.toBooleanOption).getOrElse(true)
      if (cells.isEmpty && strict)
        throw new IllegalStateException(
          s"EmbedIngest: quantizer at $dir has dim $cdim but NO batch row matches " +
            "and the corpus is empty — wrong index dir? (set " +
            "spark.graft.embedIngest.strictBringup=false to warn-and-drop instead)")
      else org.slf4j.LoggerFactory.getLogger(getClass).warn(
        s"EmbedIngest: batch for epoch $epochId has NO row matching quantizer dim " +
          s"$cdim — dropping all rows as malformed (not wedging the stream)")
    }

    val probed = keyed.filter(size(col("cells")) > 0)
    // exact copies lose to the collapse's min vec_id (same embedding,
    // same probe cells — a malformed row's copies are malformed too)
    val exactDups = probed.filter(col("vec_id") =!= col("first"))
      .select(col("vec_id"), lit(1).as("rank"), col("first").as("dup_of"))
    val probes = probed.filter(col("vec_id") === col("first"))
      .select(col("vec_id"), col("embedding"), col("nrm"),
        posexplode(col("cells")).as(Seq("pos", "cell")))
      .select(col("vec_id"), col("embedding"), col("nrm"),
        col("cell"), (col("pos") + 1).cast("int").as("pr"))

    val inBatch = inBatchLosers(probes, tau)
      .select(col("vec_id"), lit(1).as("rank"), col("dup_of"))

    // corpus probe: partition-pruned read of (epoch < N) × touched
    // cells; join on cell, never a corpus shuffle. Touched cells are
    // bounded by the centroid count, not the batch.
    // data-presence gate (not fs.exists): an empty first micro-batch
    // leaves an epoch dir holding no data file, which must read as
    // "no corpus yet", not UNABLE_TO_INFER_SCHEMA on batch two
    val corpus = cells match {
      case None => IngestDedup.noClaims(s, "vec_id")
      case Some(stored) =>
        // copies probe their min's cells, so every probed row's cells
        // are exactly the touched set
        val touched = StoreEpoch.distinctUpTo(probed.select(explode(col("cells"))),
          Int.MaxValue).toSeq // ≤ nCells ids — bounded literal
        val corpus = stored
          .filter(col("epoch") < epochId && col("cell").isin(touched: _*))
          .select(col("cell"), col("vec_id").as("dup_src"),
            col("embedding").as("c_emb"), col("nrm").as("c_nrm"))
        probes.join(corpus, Seq("cell"))
          .filter(dot(col("embedding"), col("c_emb"))
            / (col("nrm") * col("c_nrm")) >= tau)
          .select(col("vec_id"), lit(2).as("rank"), col("dup_src").as("dup_of"))
    }

    keyed.join(
        IngestDedup.firstClaim(exactDups.unionByName(inBatch).unionByName(corpus),
          "vec_id", Seq("embed_batch", "embed_corpus")),
        Seq("vec_id"), "left")
      .select(col("vec_id"), col("embedding"), col("nrm"),
        try_element_at(col("cells"), lit(1)).as("cell"), col("dup_of"),
        when(col("reason").isNotNull, col("reason"))
          .when(coalesce(size(col("cells")), lit(0)) <= 0, lit("malformed"))
          .as("reason"))
  }

  /** The admitted rows of a [[verdicts]] frame, as the cells store
    * holds them: (vec_id, embedding, nrm, cell). */
  private[graft] def admitted(verdicts: DataFrame): DataFrame =
    verdicts.filter(col("reason").isNull).drop("dup_of", "reason")

  /** Admitted corpus without layout columns. */
  def corpus(spark: SparkSession, dir: String): DataFrame = {
    recoverRequant(spark, dir) // single-writer; readers share its session
    spark.read.parquet(s"$dir/cells").select("vec_id", "embedding")
  }

  /** Top-k cosine ANN over the ingest corpus — the read-side payoff of
    * the cell layout: the membrane doesn't just deduplicate, it leaves
    * behind a searchable IVF index. Same contract as
    * [[graft.batch.IvfIndex.search]] (probe the `nProbe` nearest cells;
    * output (qid, rank, neighbor_id, rcos)); the scan is pruned on the
    * `cell` partition level, with the `epoch` level read whole — every
    * epoch holds the same logical corpus slice, so a probe of p cells
    * against k epochs opens p×k directories, and [[compactCells]] /
    * [[requantize]] keep k at 1 on their cadence. */
  def search(spark: SparkSession, dir: String, queries: DataFrame,
             k: Int, nProbe: Int): DataFrame = {
    recoverRequant(spark, dir)
    val cents = centroids(spark, dir)
    val cells = StoreEpoch.read(spark, s"$dir/cells")
      .getOrElse(throw new IllegalStateException(s"EmbedIngest: no admitted vectors under $dir"))
    val q = withNorm(queries)
      .select(col("vec_id").as("qid"), col("embedding").as("qe"), col("nrm").as("qn"))
    val probes = q.crossJoin(broadcast(IvfIndex.centroidArray(cents)))
      .select(col("qid"), col("qe"), col("qn"),
        explode(IvfIndex.nearestCells(col("qe"), col("qn"), nProbe,
          rounded = false)).as("cell"))
    val cand = cells.join(broadcast(probes), Seq("cell"))
      .filter(col("vec_id") =!= col("qid"))
      .withColumn("rcos", round(dot(col("qe"), col("embedding"))
        / (col("qn") * col("nrm")), 6))
    graft.plans.GroupTopK.topK(
      cand.select(col("qid").cast("long"), col("vec_id").cast("long"),
        col("rcos").cast("double")),
      keys = Seq("qid"), order = Seq(col("rcos").desc, col("vec_id").asc), k = k)
      .select(col("qid"), col("rank"), col("vec_id").as("neighbor_id"), col("rcos"))
  }
}
