package graft.stream

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import graft.batch.{Dedup, Graph}

/** Dedup-at-ingest: the streaming form of qd1 (exact) + qd2 (near-dup)
  * for an incrementally built training corpus.
  *
  * Every micro-batch of arriving documents is:
  *  1. exact-deduped within the batch (first doc_id wins per content);
  *  2. exact-deduped against the accumulated corpus (anti join on the
  *     content hash index);
  *  3. near-dup-filtered within the batch and against the corpus's LSH
  *     band index — signatures are computed ROW-LOCALLY
  *     ([[Dedup.bandKeys]]), so the stream side needs no aggregation
  *     and the probe is a plain join;
  *  4. survivors are appended to the corpus, and their keys extend both
  *     indexes — later batches see them.
  *
  * State lives on disk as two parquet key tables (content hash; band
  * keys), not in the state store: corpus-lifetime dedup state is
  * unbounded by design, which is exactly what the streaming state store
  * is wrong for. At 100 TB the two indexes become bucketed/Delta tables
  * (the anti joins then co-locate by key); the call shape is unchanged.
  *
  * Exactly-once on plain parquet, by epoch-partitioned idempotence: all
  * three tables are hive-partitioned by the foreachBatch epoch id, each
  * epoch's output is written with OVERWRITE into its own `epoch=N`
  * partition, and every index probe filters to `epoch < N`. A replayed
  * epoch therefore (a) recomputes against exactly the pre-N index state
  * — any half-written epoch-N keys are invisible to the probe — and
  * (b) overwrites whatever partial epoch-N output the crash left, so
  * re-running converges to the same corpus with no duplicate rows. (A
  * transactional MERGE sink gets this for free; this is the same
  * commit-by-partition idea expressed on files.)
  */
object IngestDedup {

  /** Start the ingest query. `docs` must have `doc_id` (long) and
    * `text` columns; appends survivors under `dir/corpus` and keys
    * under `dir/exact_idx`, `dir/band_idx`.
    *
    * Every `compactEvery` epochs the accumulated index partitions are
    * folded into one ([[compactIndexes]]) BEFORE the batch runs — at
    * that point every epoch `< id` is checkpoint-committed, so the fold
    * cannot change what any replayable epoch sees. Without this, a
    * long-lived stream accretes one `epoch=N` partition per batch and
    * every probe opens thousands of tiny files. 0 disables.
    *
    * `lmModelDir` (None = off) adds the LM/quality membrane: dedup
    * survivors are scored against the frozen reference model
    * ([[graft.batch.TextOps.loadLm]]) and docs under the
    * 2-bits-per-bigram line are rejected with ledger reason `lm` —
    * production pipelines score quality AT ADMISSION, not in a later
    * batch sweep (round-16 verdict #2). */
  def start(docs: DataFrame, dir: String, checkpoint: String,
            trigger: Trigger = Trigger.ProcessingTime("1 second"),
            compactEvery: Int = 64,
            lmModelDir: Option[String] = None): StreamingQuery =
    docs.writeStream.trigger(trigger)
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, id: Long) =>
        if (compactEvery > 0 && id > 0 && id % compactEvery == 0)
          compactIndexes(batch.sparkSession, dir, upTo = id)
        ingestBatch(batch, dir, id, lmModelDir)
      }
      .start()

  /** Epochs strictly before `epochId`; an index written before the
    * epoch-partitioned layout (no `epoch` column) is all-prior by
    * definition — filtering on the missing column would throw, and
    * skipping corpus dedup entirely would be silent data corruption.
    * (After [[EpochFold.migrateLegacyFlat]] the legacy branch is only
    * reachable for an index read before any `ingestBatch` touched it.) */
  private[stream] def priorEpochs(idx: DataFrame, epochId: Long): DataFrame =
    if (idx.columns.contains("epoch")) idx.filter(col("epoch") < epochId) else idx

  /** One micro-batch pass; also callable on a plain batch DataFrame
    * (backfill and streaming share the exact code path). `epochId` is
    * deliberately NOT defaulted: it is the partition the pass
    * overwrites and the replay-idempotence key, so two backfill calls
    * that both landed in an implicit epoch 0 would silently OVERWRITE
    * each other (and probe `epoch < 0` = no corpus dedup at all).
    * Backfill callers must supply strictly increasing `epochId`s.
    *
    * With `lmModelDir` set, dedup survivors additionally pass the
    * frozen-LM quality gate ([[lmRejects]]) before admission — the
    * gate runs AFTER dedup so the admitted set equals the batch
    * pipeline's (dedup over all docs, then the gate on survivors:
    * `Curation.lmGate`'s order), and verdicts are per-doc content
    * functions of a FROZEN model, so a rejected doc's identical
    * re-arrival is rejected identically (its keys never enter the
    * indexes — state keeps describing the corpus and nothing else). */
  def ingestBatch(batch: DataFrame, dir: String, epochId: Long,
                  lmModelDir: Option[String] = None): Unit = {
    val s = batch.sparkSession
    // adopt any pre-epoch-layout tables BEFORE this epoch's partitioned
    // writes land beside their flat files (see EpochFold.migrateLegacyFlat)
    Seq("corpus", "exact_idx", "band_idx")
      .foreach(t => EpochFold.migrateLegacyFlat(s, s"$dir/$t"))
    StoreEpoch.sized(batch, Sinks.DriverRouteRows) { (raw, rows) =>
      val verdict = verdicts(raw, dir, epochId, Some(rows))
        .localCheckpoint(eager = false) // filled by the lm gate or the first write
      val dedupKeep = verdict.filter(col("reason").isNull).drop("dup_of", "reason")
      val lmRej = lmModelDir.map(m => lmRejects(dedupKeep, m).localCheckpoint())
      val keep = lmRej match {
        case None => dedupKeep
        case Some(r) =>
          dedupKeep.join(broadcast(r), Seq("doc_id"), "left_anti")
            .localCheckpoint() // consumed by three store writes below
      }

      // 4. commit survivors, index keys and the rejection ledger into this
      // epoch's partitions (StoreEpoch.commit: one gate job, then driver
      // writes for a batch-sized epoch). OVERWRITE of the epoch dir is the
      // idempotence point: a replay replaces any partial output instead
      // of appending next to it. The ledger says WHY each non-survivor
      // was turned away — the verdicts' rejected rows, chains resolved —
      // so cluster accounting stays exactly-once; lm rejections append as
      // terminal rows (dup_of = null — a quality drop has no content
      // owner)
      val ledger = Graph.terminals(lmRej.map(r => rejections(verdict).unionByName(lmRows(r)))
        .getOrElse(rejections(verdict)), "doc_id", "dup_of", Seq("reason"))
      StoreEpoch.commit(stores(keep, dir) :+ StoreEpoch.Write(s"$dir/ledger", ledger),
        epochId, Sinks.DriverRouteRows)
    }
  }

  /** The epoch writes of the text stores under `dir` for the admitted
    * docs `keep` (verdict columns): the corpus, and both indexes with
    * the owning doc_id beside the key — probes read it back as the
    * dup_of attribution (indexes written before this column existed
    * still probe fine and attribute a null dup_of). Index files are
    * key-sorted so their parquet row-group min/max stats are tight:
    * the trickle probe's pushed IN filter then skips nearly every row
    * group of every epoch file. */
  private[stream] def stores(keep: DataFrame, dir: String): Seq[StoreEpoch.Write] = Seq(
    StoreEpoch.Write(s"$dir/corpus", keep.drop("bands", "content_key")),
    StoreEpoch.Write(s"$dir/exact_idx", keep.select(col("content_key"), col("doc_id")),
      sortBy = Seq("content_key")),
    StoreEpoch.Write(s"$dir/band_idx", keep.select(col("doc_id"), explode(col("bands")).as("bk"))
      .select(col("bk.band").as("band"), col("bk.key").as("key"), col("doc_id"))
      .filter(col("key").isNotNull), // shingle-less docs have no signature
      sortBy = Seq("key")))

  /** Ledger rows for lm-rejected doc ids: terminal (dup_of = null). */
  private[stream] def lmRows(rejected: DataFrame): DataFrame =
    rejected.select(col("doc_id"), lit(null).cast("long").as("dup_of"),
      lit("lm").as("reason"))

  /** Doc ids in `surv` scoring under the batch gate's
    * 2-bits-per-bigram line against the frozen reference model
    * ([[graft.batch.TextOps.loadLm]]) — the LM/quality membrane
    * (round-16 verdict #2). Scoring rides
    * [[graft.batch.TextOps.lmScoreDocsBounded]]'s micro-batch regime:
    * the batch's bigram keys broadcast into the model scan, so the
    * vocabulary²-bounded model is read map-side and NEVER shuffled
    * per batch (plain join fallback for bulk backfills). Docs with
    * fewer than two tokens have no bigrams and pass — no evidence,
    * the batch gate's rule. */
  private[stream] def lmRejects(surv: DataFrame, lmModelDir: String): DataFrame = {
    val s = surv.sparkSession
    graft.batch.TextOps.lmScoreDocsBounded(
        surv.select(col("doc_id"), col("text")),
        lmModel(s, lmModelDir), broadcastKeyLimit(s))
      .filter(col("score") < lit(2) * col("n_bg"))
      .select(col("doc_id"))
  }

  // the model is FROZEN by contract (saveLm overwrites whole), so a
  // long-running stream pins it in executor storage once instead of
  // re-reading the model parquet every micro-batch (~25% of the gated
  // batch time at bench scale); MEMORY_AND_DISK, so a model larger
  // than storage degrades to spill, not OOM. Keyed per application —
  // a restarted driver re-pins from disk.
  private val lmModels = scala.collection.concurrent.TrieMap.empty[String, DataFrame]
  private def lmModel(s: SparkSession, dir: String): DataFrame =
    lmModels.getOrElseUpdate(s"${s.sparkContext.applicationId}:$dir",
      graft.batch.TextOps.loadLm(s, dir).persist(
        org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))

  /** Trickle regime: batches with ≤ this many docs probe the indexes
    * through a driver-collected literal IN filter (bounded by this
    * constant, not by data) that pushes down to the parquet scans.
    * Default for [[isinKeyLimit]]; override per session with
    * `spark.graft.ingest.isinKeyLimit`. Sizing note: the limit is
    * compared against KEY counts, and the band probe carries ~2 keys
    * per doc — so a batch rides trickle on ALL text probes only at
    * ≤ limit/2 docs (4096 at the default); between limit/2 and limit
    * the regime is mixed (content-key trickle, band-key broadcast). */
  private[graft] val IsinKeyLimit = 8192L
  /** Micro-batch regime: batches up to this size probe by broadcasting
    * their key set into a map-side join against the index. Beyond it
    * (huge backfills) the plain shuffle join takes over — at that
    * batch size the index shuffle amortizes. Default for
    * [[broadcastKeyLimit]]; override per session with
    * `spark.graft.ingest.broadcastKeyLimit`. */
  private[graft] val BroadcastKeyLimit = 4000000L

  // conf-overridable so deployments can tune the switch points to their
  // batch cadence (and so specs/benches can drive ONE dataset through
  // each regime and pin every regime's plan, not just the trickle one)
  private[graft] def isinKeyLimit(s: SparkSession): Long =
    s.conf.get("spark.graft.ingest.isinKeyLimit", IsinKeyLimit.toString).toLong
  private[graft] def broadcastKeyLimit(s: SparkSession): Long =
    s.conf.get("spark.graft.ingest.broadcastKeyLimit", BroadcastKeyLimit.toString).toLong

  /** Steps 1-3 as a pure plan: one VERDICT row per batch doc — the
    * batch's columns plus `content_key`, `bands`, `dup_of` and
    * `reason`, where a null reason means admitted. Split from
    * [[ingestBatch]] so specs can pin the PLAN shape, not just results.
    *
    * The verdict is decided and attributed in the same pass: each stage
    * emits `(doc_id, rank, dup_of)` claims from the probe it already
    * runs, and the lowest-ranked claim wins ([[firstClaim]]) — the
    * stage order `exact_batch`, `exact_corpus`, `near_batch`,
    * `near_corpus`, with the smallest witness within a stage:
    * `exact_batch` (a smaller batch-mate with identical content),
    * `exact_corpus` (content already admitted; dup_of = the indexed
    * owner), `near_batch` (shares a band with a smaller batch-mate;
    * dup_of = the smallest such mate), `near_corpus` (shares a band with
    * an admitted doc; dup_of = the smallest owner). A dup_of may name a
    * batch-mate that itself lost — callers resolve chains
    * ([[Graph.terminals]]) before writing the ledger. dup_of is null
    * only against a pre-owner-column legacy index.
    *
    * The index sides are corpus-lifetime (unbounded); the batch side is
    * one micro-batch (bounded). The default SMJ joins would therefore
    * shuffle the ENTIRE index every batch — the per-batch cost that
    * actually matters at 100 TB. Instead the probes pick a regime by
    * batch size:
    *   - trickle (≤ [[IsinKeyLimit]] docs): collect the batch's keys
    *     (driver memory bounded by the constant) and push a literal IN
    *     filter into the index scan — with key-sorted epoch files the
    *     row-group stats skip almost all index IO;
    *   - micro-batch (≤ [[BroadcastKeyLimit]]): broadcast the batch's
    *     key set, stream the index map-side (scanned, never shuffled),
    *     and broadcast the tiny hit set back into the probe join;
    *   - bulk backfill: plain shuffle joins — correct at any size, and
    *     a batch that large amortizes the index shuffle it pays for.
    *
    * `knownRows` is the batch's row count when the caller has it
    * ([[StoreEpoch.sized]] counts every ingest epoch); without it the
    * keyed batch is counted here, by the job that fills its checkpoint. */
  private[graft] def verdicts(batch: DataFrame, dir: String, epochId: Long,
      knownRows: Option[Long] = None): DataFrame = {
    val s = batch.sparkSession
    // 1. exact within batch: min doc_id per content wins (deterministic)
    val keyed = batch
      .withColumn("content_key", md5(col("text").cast("binary")))
      .withColumn("bands", Dedup.bandKeys(col("text")))
      .withColumn("winner", min(col("doc_id")).over(Window.partitionBy("content_key")))
      .localCheckpoint(eager = false) // small (one micro-batch); read multiple times below
    val batchRows = knownRows.getOrElse(keyed.queryExecution.toRdd.count())
    val isinLimit = isinKeyLimit(s)
    val bcastLimit = broadcastKeyLimit(s)
    // the trickle IN lists, in one collect: the batch's content keys and
    // (when the band probe rides trickle too) its band keys. Copies that
    // lose in-batch carry their winner's keys, so these are exactly the
    // probed keys (content) or a superset of them (bands: keys of docs
    // an exact stage removes; the probe join keeps exactness)
    val (contentLits, bandLits) =
      if (batchRows > isinLimit) (Nil, Nil)
      else {
        val keys = keyed.select(col("content_key"), col("bands.key")).collect()
        (keys.map(_.getString(0)).distinct.toSeq,
          if (2 * batchRows > isinLimit) Nil
          else keys.flatMap(_.getSeq[String](1)).filter(_ != null).distinct.toSeq)
      }

    val winners = keyed.filter(col("doc_id") === col("winner"))
    val exactBatch = keyed.filter(col("doc_id") =!= col("winner"))
      .select(col("doc_id"), lit(1).as("rank"), col("winner").as("dup_of"))

    // 2. exact vs corpus index (epochs strictly before this one: a
    // replayed epoch must not see its own half-committed keys). One
    // left join carries both the fresh docs and the owners they lost to
    val (exactFresh, exactCorpus) = StoreEpoch.read(s, s"$dir/exact_idx") match {
      case Some(idx) =>
        val idxPrior = priorEpochs(idx, epochId)
          .select(col("content_key"), ownerOf(idx), lit(true).as("hit"))
        // no distinct on the hit set: index keys are unique corpus-wide
        // by construction (a doc sharing a key is never admitted, so no
        // key is written twice) — a distinct here would only add a
        // shuffle stage per micro-batch
        val probed =
          if (batchRows > bcastLimit) winners.join(idxPrior, Seq("content_key"), "left")
          else {
            val hits =
              if (batchRows <= isinLimit)
                idxPrior.filter(col("content_key").isin(contentLits: _*))
              else
                idxPrior.join(broadcast(keyed.select("content_key").distinct()),
                  Seq("content_key"))
            winners.join(broadcast(hits), Seq("content_key"), "left")
          }
        (probed.filter(col("hit").isNull),
          probed.filter(col("hit"))
            .select(col("doc_id"), lit(2).as("rank"), col("dup_of")))
      case None => (winners, noClaims(s))
    }

    // 3a. near-dup within batch: a doc loses iff a SMALLER doc_id in
    // this batch shares any band (the canonical-min rule of qd6).
    // Computed per-bucket — doc_id > min(bucket) — which is the same
    // set as the pairwise formulation in linear, not quadratic, work
    // per band bucket (a crawl batch full of boilerplate puts
    // thousands of docs in ONE bucket)
    val bk = exactFresh.select(col("doc_id"), explode(col("bands")).as("bk"))
      .select(col("doc_id"), col("bk.band").as("band"), col("bk.key").as("key"))
    val nearBatch = bk
      .withColumn("min_id", min(col("doc_id")).over(Window.partitionBy("band", "key")))
      .filter(col("doc_id") > col("min_id"))
      .select(col("doc_id"), lit(3).as("rank"), col("min_id").as("dup_of"))
    // 3b. near-dup vs corpus band index (same epoch < N visibility rule,
    // same three probe regimes; band keys are ~2 per doc)
    val nearCorpus = StoreEpoch.read(s, s"$dir/band_idx") match {
      case Some(idx) =>
        val idxPrior = priorEpochs(idx, epochId)
          .select(col("band"), col("key"), ownerOf(idx))
        val hits =
          if (2 * batchRows > bcastLimit) bk.join(idxPrior, Seq("band", "key"))
          else if (2 * batchRows <= isinLimit)
            // IN on the key alone (a superset — keys are md5s, so a
            // cross-band collision is negligible IO); the join keeps
            // exactness on (band, key)
            bk.join(broadcast(idxPrior.filter(col("key").isin(bandLits: _*))),
              Seq("band", "key"))
          else {
            // band keys are unique corpus-wide too (sharing any band is
            // rejection), so the hit set needs no distinct either
            val bandHits = idxPrior.join(
              broadcast(bk.select("band", "key").distinct()), Seq("band", "key"))
            bk.join(broadcast(bandHits), Seq("band", "key"))
          }
        hits.select(col("doc_id"), lit(4).as("rank"), col("dup_of"))
      case None => noClaims(s)
    }
    // one verdict per claimed doc (≤ batch rows): broadcast back onto
    // the batch unless the batch is bulk-sized
    val claimed = firstClaim(exactBatch.unionByName(exactCorpus).unionByName(nearBatch)
      .unionByName(nearCorpus), "doc_id",
      Seq("exact_batch", "exact_corpus", "near_batch", "near_corpus"))
    keyed.drop("winner").join(if (batchRows > bcastLimit) claimed else broadcast(claimed),
      Seq("doc_id"), "left")
  }

  /** The owning doc_id column of an index (null before the owner column
    * existed — such an index still probes, and attributes a null dup_of). */
  private def ownerOf(idx: DataFrame) =
    (if (idx.columns.contains("doc_id")) col("doc_id") else lit(null).cast("long"))
      .as("dup_of")

  /** An empty `(doc_id, rank, dup_of)` claim frame. */
  private[stream] def noClaims(s: SparkSession, id: String = "doc_id"): DataFrame =
    s.emptyDataFrame.select(lit(0L).as(id), lit(0).as("rank"),
      lit(null).cast("long").as("dup_of"))

  /** One `(id, dup_of, reason)` row per claimed id from a membrane's
    * stage claims `(id, rank, dup_of)`: the lowest rank — the earliest
    * stage that rejected the doc — wins, and within it the smallest
    * witness; `reasons(rank - 1)` names the stage. */
  private[stream] def firstClaim(claims: DataFrame, id: String,
      reasons: Seq[String]): DataFrame =
    claims.groupBy(col(id)).agg(min(struct(col("rank"), col("dup_of"))).as("v"))
      .select(col(id), col("v.dup_of").as("dup_of"),
        element_at(typedLit(reasons), col("v.rank")).as("reason"))

  /** The ledger rows of a verdict frame: its rejected docs. */
  private[stream] def rejections(verdicts: DataFrame, id: String = "doc_id"): DataFrame =
    verdicts.filter(col("reason").isNotNull)
      .select(col(id).as("doc_id"), col("dup_of"), col("reason"))

  /** Rejected docs per reason in a chain-resolved ledger
    * ([[Graph.terminals]]): counted on the driver when the ledger was
    * resolved there (a local frame, no job), else by one aggregate. */
  private[stream] def reasonCounts(ledger: DataFrame): Map[String, Long] =
    if (StoreEpoch.isLocal(ledger))
      StoreEpoch.localRows(ledger.select(col("reason"))).toSeq
        .groupMapReduce(_.getUTF8String(0).toString)(_ => 1L)(_ + _)
    else ledger.groupBy(col("reason")).count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap

  /** The accumulated rejection ledger (all epochs); empty frame with
    * the correct schema before the first rejection lands. With the LM
    * gate on, quality rejections appear as reason `lm` with a null
    * dup_of (no content owner) — a dup chain may then terminate at an
    * lm-rejected doc (its cluster has no admitted member; see
    * [[MultimodalIngest.ledger]]). */
  def ledger(s: SparkSession, dir: String): DataFrame =
    if (!EpochFold.hasDataFiles(s, s"$dir/ledger")) {
      import s.implicits._
      Seq.empty[(Long, Option[Long], String)].toDF("doc_id", "dup_of", "reason")
    } else s.read.parquet(s"$dir/ledger")
      .select(col("doc_id"), col("dup_of"), col("reason"))

  /** qd6-shaped duplicate clusters over the STREAMED corpus — admitted
    * docs plus every ledgered rejection, grouped by the admitted doc
    * the rejection resolved to: `(doc_id, cluster_id, is_canonical,
    * cluster_size)` with the min member canonical, singletons included.
    * One aggregation + one co-partitioned join on the cluster root; no
    * LSH recompute, no iterative label propagation — the ledger already
    * carries the edges, which is the point of recording them at ingest.
    *
    * Semantics note: equal to batch [[Dedup.qd6_dup_clusters]] whenever
    * every duplicate shares a band with an ADMITTED doc (the star
    * shape real dup families have). A transitive chain A–B–C where B
    * bridges two otherwise-disjoint docs CAN differ: the membrane
    * rejects B on A, then admits C (B's keys never entered the index —
    * the state-describes-the-corpus invariant), where a full-corpus
    * batch pass would link all three. Legacy-index rejections with a
    * null dup_of are reported as their own singleton clusters. */
  def clusters(s: SparkSession, dir: String): DataFrame =
    clustersOf(s.read.parquet(s"$dir/corpus").select(col("doc_id")),
      ledger(s, dir))

  /** The cluster rollup over any (admitted ids, ledger) pair — shared
    * with [[MultimodalIngest.clusters]], whose ledger spans three
    * membranes but resolves to admitted docs the same way. */
  private[stream] def clustersOf(admitted: DataFrame, led: DataFrame): DataFrame = {
    val members = admitted.withColumn("root", col("doc_id"))
      .unionByName(led.select(col("doc_id"),
        coalesce(col("dup_of"), col("doc_id")).as("root")))
    val stats = members.groupBy(col("root"))
      .agg(min(col("doc_id")).as("cluster_id"), count(lit(1)).as("cluster_size"))
    members.join(stats, Seq("root"))
      .select(col("doc_id"), col("cluster_id"),
        (col("doc_id") === col("cluster_id")).as("is_canonical"),
        col("cluster_size"))
  }

  /** Fold every index partition with `epoch < upTo` into ONE compacted
    * partition labeled `epoch = upTo - 1`, for both key indexes. Probe
    * visibility is preserved exactly: any epoch `N >= upTo` still sees
    * all folded keys (`upTo - 1 < N`), and a replay of epoch `upTo - 1`
    * or later sees precisely the pre-replay state it would have seen
    * uncompacted. The caller must therefore pass `upTo` ≤ the oldest
    * epoch that can still be replayed (for the stream: the current
    * batch id — everything below it is checkpoint-committed).
    *
    * Crash-safe by commit marker: the folded snapshot is first written
    * to a dot-prefixed temp dir (invisible to Spark's file index, so
    * concurrent-looking probes never see it), and only once its own
    * `_GRAFT_COMMIT` marker exists are the source partitions dropped and
    * the temp dir renamed into place — every post-commit FS operation is
    * `require()`d, so a failed delete/rename aborts loudly with the fold
    * intact rather than stranding keys. Re-running after a crash (or an
    * abort) at ANY point completes the fold instead of losing keys —
    * lost index keys would silently re-admit duplicates, the one
    * unacceptable failure.
    */
  /** Sticky train/val/test assignment over the STREAMED corpus — the
    * production wiring the round-13 verdict sketched: the membership
    * frame comes from [[clusters]] (this layout's exactly-once
    * epoch-partitioned dup accounting — admitted docs plus every
    * rejected doc resolved to its cluster root), and the decision is
    * recorded through [[graft.batch.SplitLedger]], so re-running on
    * any maintenance cadence only ever moves docs TOWARD train
    * (train-est inheritance; nothing trained-on can surface in eval
    * later). Call between batches, e.g. on the [[compactIndexes]]
    * tick. Returns this version's (doc_id, cluster_id, split). */
  def assignSplits(s: SparkSession, dir: String, ledgerDir: String): DataFrame =
    graft.batch.SplitLedger.assign(s, ledgerDir,
      clusters(s, dir).select(col("doc_id"), col("cluster_id")))

  def compactIndexes(s: SparkSession, dir: String, upTo: Long,
                     targetBytes: Long = 128L * 1024 * 1024): Unit =
   // out-of-band maintenance holds the layout's FS lease + monitor
   // (graft.batch.FsLease.guarded — the shared fence, round 14): the
   // stream's own epoch writes are checkpoint-owned, but a second
   // application folding the same dir would race the install
   graft.batch.FsLease.guarded(s, dir, "IngestDedup: maintenance") {
    // re-cluster by probe key while folding: the trickle regime's
    // pushed IN filter lives off tight row-group stats. Commit
    // protocol (own marker, require()d FS ops) lives in EpochFold.
    EpochFold.fold(s, s"$dir/exact_idx", upTo, targetBytes, Seq("content_key"))
    EpochFold.fold(s, s"$dir/band_idx", upTo, targetBytes, Seq("key"))
    // the rejection ledger folds on the same cadence (cluster queries
    // scan it whole, so size-bounded files matter more than sort order)
    EpochFold.fold(s, s"$dir/ledger", upTo, targetBytes)
    // the corpus itself is never probed, but it IS what downstream
    // training jobs scan — fold its epoch dirs too, or a year of
    // 1 Hz micro-batches leaves consumers opening millions of
    // footer-heavy files
    EpochFold.fold(s, s"$dir/corpus", upTo, targetBytes)
   }
}
