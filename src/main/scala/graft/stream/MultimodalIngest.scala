package graft.stream

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import graft.batch.Graph

/** The composed ingest membrane for a multimodal training corpus: one
  * `foreachBatch` that runs every dedup-at-ingest filter over documents
  * carrying `text`, `embedding`, and (optionally) `media` columns —
  *
  *   1. text: exact (content hash) + near-dup (MinHash/LSH bands)
  *      against batch-mates and the accumulated corpus
  *      ([[IngestDedup.verdicts]]);
  *   1a. quality (when a frozen LM model dir is supplied): dedup
  *      survivors under the reference model's 2-bits-per-bigram line
  *      are rejected with ledger reason `lm`
  *      ([[IngestDedup.lmRejects]]) — quality scored AT ADMISSION;
  *   1b. media (when the batch carries a `media` payload column):
  *      perceptual near-dup — qm3's 32-bit average-hash within
  *      Hamming distance 3, banded candidates, constant-bounded index
  *      probe ([[MediaIngest.verdicts]]) — over the text survivors;
  *   2. embedding: cosine-at-tau against batch-mates and the
  *      accumulated corpus over the IVF cell layout
  *      ([[EmbedIngest.verdicts]]), evaluated on the earlier stages'
  *      survivors — a document is admitted iff it passes ALL.
  *
  * The two membranes share ONE epoch id (the foreachBatch batch id) and
  * ONE compaction cadence: every store under `dir` — text corpus, both
  * key indexes, and the vector cells — is epoch-partitioned on the same
  * id, written with OVERWRITE into its own `epoch=N` partition, and
  * probed at strictly `epoch < N`. A replayed epoch therefore recomputes
  * against exactly the pre-N state of BOTH membranes and overwrites any
  * partial output in ALL stores, so the composite stays exactly-once
  * even when a crash lands between the text-store and vector-store
  * writes of the same epoch.
  *
  * Rejection composes sequentially, like the equivalent batch pipeline
  * (text filter → embedding filter): a batch-mate that lost the text
  * stage to a doc the embedding stage later rejects is not resurrected.
  * Index keys and cell vectors are extended by ADMITTED docs only, so
  * the invariant of both membranes — state describes the corpus, the
  * whole corpus, and nothing else — holds for the composite too.
  *
  * An epoch's stores commit together through [[StoreEpoch.commit]]: a
  * batch-sized epoch brings every store's rows to the driver in one
  * gate job and installs each `epoch=N` from there, a backfill keeps
  * Spark's writers ([[ingestBatch]] has the protocol).
  *
  * State layout under `dir`:
  * {{{
  *   text/corpus/epoch=N/      admitted documents (all columns)
  *   text/exact_idx/epoch=N/   content-hash keys of admitted docs
  *   text/band_idx/epoch=N/    LSH band keys of admitted docs
  *   media/media_idx/epoch=N/  perceptual-hash band keys (media mode)
  *   embed/centroids/          pinned coarse quantizer ([[init]])
  *   embed/cells/epoch=N/cell=M/  admitted vectors, cell-partitioned
  *   metrics/epoch=N/          per-batch rejection ledger ([[metrics]])
  * }}}
  *
  * Scale story is inherited unchanged: the text probes pick their
  * no-index-shuffle regime by batch size, the vector probe is
  * partition-pruned to (epoch < N) × touched cells, and compaction
  * folds every store's epoch partitions under the crash-safe
  * [[EpochFold]] protocol on one cadence.
  */
object MultimodalIngest {

  /** Pin the embedding quantizer (see [[EmbedIngest.init]]); required
    * once before the first batch. */
  def init(spark: SparkSession, dir: String, centroids: DataFrame): Unit =
    EmbedIngest.init(spark, s"$dir/embed", centroids)

  /** Start the composed ingest query. `docs` must have `doc_id` (long),
    * `text` (string) and `embedding` (array<float>, non-null) columns;
    * an optional `media` payload column adds the perceptual membrane.
    * `requantizeEvery` (0 = off): rebuild the embedding quantizer from
    * the current corpus every N epochs — subsumes that batch's cell
    * fold; the text stores still fold on `compactEvery`.
    * `lmModelDir` (None = off) adds the frozen-LM quality membrane
    * between the text and media stages — see
    * [[IngestDedup.ingestBatch]]'s gate contract. */
  def start(docs: DataFrame, dir: String, checkpoint: String,
            trigger: Trigger = Trigger.ProcessingTime("1 second"),
            tau: Double = 0.95, nProbe: Int = 4,
            compactEvery: Int = 64, requantizeEvery: Int = 0,
            statsOn: Boolean = false,
            mediaBandBits: Int = 8,
            lmModelDir: Option[String] = None): StreamingQuery = {
    docs.writeStream.trigger(trigger)
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, id: Long) =>
        // one cadence for every store, BEFORE the batch runs — at that
        // point every epoch < id is checkpoint-committed in all of them
        val s = batch.sparkSession
        val requantNow = requantizeEvery > 0 && id > 0 && id % requantizeEvery == 0
        if (compactEvery > 0 && id > 0 && id % compactEvery == 0) {
          IngestDedup.compactIndexes(s, s"$dir/text", upTo = id)
          EpochFold.fold(s, s"$dir/metrics", upTo = id, 128L * 1024 * 1024)
          EpochFold.fold(s, s"$dir/ledger", upTo = id, 128L * 1024 * 1024)
          EpochFold.fold(s, s"$dir/media/media_idx", upTo = id,
            128L * 1024 * 1024, Seq("bk")) // no-op when media mode is off
          // the stats stores are ≤(capacity rows + 1 row) per epoch —
          // folding them on the shared cadence bounds file-count
          // accretion like the metrics ledger's
          if (statsOn) {
            EpochFold.fold(s, s"$dir/stats/stats_mg", upTo = id, 128L * 1024 * 1024)
            EpochFold.fold(s, s"$dir/stats/stats_agg", upTo = id, 128L * 1024 * 1024)
          }
          if (!requantNow) EmbedIngest.compactCells(s, s"$dir/embed", upTo = id)
        }
        // auto-sized (nCells = 0): the rebuilt quantizer carries
        // max(current C, ⌈√corpus⌉) cells — see EmbedIngest.requantize
        // for why a pinned C decays ingest throughput linearly
        if (requantNow)
          EmbedIngest.requantize(s, s"$dir/embed", nCells = 0, upTo = id)
        ingestBatch(batch, dir, id, tau, nProbe, mediaBandBits, lmModelDir)
        if (statsOn) foldStats(s, dir, id)
      }
      .start()
  }

  /** Fold the corpus-statistics membrane ([[CorpusStats]]) over THIS
    * epoch's ADMITTED documents — stats describe the corpus, so they
    * are computed on the committed `text/corpus/epoch=N` partition
    * (batch-sized read), not the raw batch with its rejected dups.
    * Same epoch id → a replayed batch overwrites its stats partition
    * along with every other store. Callable after a backfill
    * [[ingestBatch]] the same way. */
  def foldStats(s: SparkSession, dir: String, epochId: Long): Unit = {
    StoreEpoch.read(s, s"$dir/text/corpus/epoch=$epochId")
      .foreach(CorpusStats.fold(_, s"$dir/stats", epochId))
  }

  /** Fold epochs `< upTo` in every store — text indexes, text corpus,
    * and vector cells — under the shared cadence. Same `upTo` contract
    * as [[IngestDedup.compactIndexes]]: only epochs that can no longer
    * replay. */
  def compact(s: SparkSession, dir: String, upTo: Long,
              targetBytes: Long = 128L * 1024 * 1024): Unit =
    // the composed root holds ITS lease for its direct folds; the text
    // and embed sub-layouts are fenced by their own entry points
    // (different dirs — acquisition order is fixed, so no deadlock)
    graft.batch.FsLease.guarded(s, dir, "MultimodalIngest: maintenance") {
      IngestDedup.compactIndexes(s, s"$dir/text", upTo, targetBytes)
      EmbedIngest.compactCells(s, s"$dir/embed", upTo, targetBytes)
      EpochFold.fold(s, s"$dir/metrics", upTo, targetBytes)
      EpochFold.fold(s, s"$dir/ledger", upTo, targetBytes)
      EpochFold.fold(s, s"$dir/media/media_idx", upTo, targetBytes, Seq("bk"))
    }

  /** Re-cell the embedding membrane's corpus under fresh centroids
    * (drift handling; crash-safe — see [[EmbedIngest.requantize]]).
    * Same `upTo` contract as [[compact]]. */
  def requantize(s: SparkSession, dir: String, nCells: Int, upTo: Long): Unit =
    EmbedIngest.requantize(s, s"$dir/embed", nCells, upTo)

  /** One micro-batch pass (same epoch contract as
    * [[IngestDedup.ingestBatch]]: strictly increasing epochs,
    * replay-idempotent; backfill and streaming share this path).
    *
    * Plan shape: the batch is checkpointed and counted by one job
    * ([[StoreEpoch.sized]]). An epoch of at most [[Sinks.DriverRouteRows]]
    * rows — every live micro-batch — then runs its membranes under
    * [[StoreEpoch.SmallEpochShape]]: interpreted, with no AQE stage
    * barriers and one shuffle partition, so its cost is the rows rather
    * than generated-code compiles and per-stage jobs; larger epochs keep
    * the session's plans. A warm 100-doc three-membrane epoch runs 15
    * Spark jobs (34 under the session's plans) and compiles 2 generated
    * classes; IngestEpochJobsSpec bounds both.
    *
    * Commit protocol: every store's epoch N is committed by
    * [[StoreEpoch.commit]], which OVERWRITEs `epoch=N` in each store.
    * One gate job brings the rows of the corpus, both text indexes,
    * the cells and the media index to the driver (the ledger is already
    * there, from its chain resolution); when the epoch holds at most
    * [[Sinks.DriverRouteRows]] rows in all — every live micro-batch —
    * each store is written on the driver and installed as `epoch=N`
    * (hidden temporary, `epoch=N` removed, renamed into place), with no
    * further job; larger epochs (backfills) take Spark's writers. The
    * metrics row is then counted from what the driver holds: the
    * ledger's rejections per stage and the admitted count, with
    * `n_in` = admitted + rejected. */
  def ingestBatch(batch: DataFrame, dir: String, epochId: Long,
                  tau: Double = 0.95, nProbe: Int = 4,
                  mediaBandBits: Int = 8,
                  lmModelDir: Option[String] = None): Unit =
    ingestBatchWith(batch, dir, epochId, tau, nProbe, mediaBandBits, lmModelDir,
      Sinks.DriverRouteRows)

  /** [[ingestBatch]] with the driver route's row bound as a parameter:
    * it picks both the plan shape and the commit route (specs force the
    * session's shape and Spark's writers with 0). */
  private[graft] def ingestBatchWith(batch: DataFrame, dir: String, epochId: Long,
      tau: Double, nProbe: Int, mediaBandBits: Int, lmModelDir: Option[String],
      driverRows: Long): Unit = {
    val s = batch.sparkSession
    Seq("corpus", "exact_idx", "band_idx")
      .foreach(t => EpochFold.migrateLegacyFlat(s, s"$dir/text/$t"))

    val hasMedia = batch.columns.contains("media")
    StoreEpoch.sized(batch, driverRows) { (raw, rows) =>
      // each stage returns one VERDICT row per input doc — decided and
      // attributed by the same probes — and is checkpointed once: the
      // next stage and the ledger read that one materialization. Stage
      // 1 — text membrane (cheap hash work first, so the later stages
      // only ever see text-novel docs)
      val textV = IngestDedup.verdicts(raw, s"$dir/text", epochId, Some(rows))
        .localCheckpoint(eager = false) // bounded (one micro-batch)
      val dedupKeep = textV.filter(col("reason").isNull).drop("dup_of", "reason")
      // stage 1a — frozen-LM quality gate over the dedup survivors
      // (quality scored AT ADMISSION; after dedup so the admitted set
      // equals the batch pipeline's — IngestDedup.ingestBatch's contract
      // — and before the media/embed stages so their probes never pay
      // for docs quality already rejects)
      val lmRej = lmModelDir.map(m =>
        IngestDedup.lmRejects(dedupKeep, m).localCheckpoint())
      val textKeep = lmRej match {
        case None => dedupKeep
        case Some(r) =>
          dedupKeep.join(broadcast(r), Seq("doc_id"), "left_anti")
            .localCheckpoint() // feeds stage 1b + writes
      }
      // stage 1b — perceptual membrane over the text survivors (only
      // when the batch carries a media payload column)
      val mediaV = if (hasMedia) Some(MediaIngest.verdicts(textKeep, s"$dir/media", epochId,
          bandBits = mediaBandBits, rowsUpTo = Some(rows)).localCheckpoint(eager = false))
        else None
      val mediaKeep = mediaV.map(_.filter(col("reason").isNull)
          .drop("phash", "dup_of", "reason")).getOrElse(textKeep)
      // stage 2 — embedding membrane over the earlier survivors; its
      // admitted rows are the cells store's rows
      val embedV = EmbedIngest.verdicts(
          mediaKeep.select(col("doc_id").as("vec_id"), col("embedding")),
          s"$dir/embed", epochId, tau, nProbe)
        .localCheckpoint(eager = false)
      // the admitted documents, materialized once for the store writes below
      val keep = mediaKeep.join(
          broadcast(EmbedIngest.admitted(embedV).select(col("vec_id").as("doc_id"))),
          Seq("doc_id"))
        .localCheckpoint(eager = false)

      // the per-doc rejection ledger, spanning ALL membranes: the union of
      // every stage's rejected verdict rows, dup_of chains resolved ACROSS
      // membranes — a text loser whose batch winner the embedding stage
      // later rejects must point at that winner's terminal admitted
      // target, so every dup_of names an ADMITTED doc and [[clusters]]
      // can roll the composite up without a batch rebuild. lm rejections
      // are terminal rows (dup_of = null — a quality drop has no content
      // owner); a dup chain MAY therefore end at an lm-rejected doc, the
      // one documented exception to dup_of naming an admitted doc (the
      // content's owner was dropped for quality — that cluster simply has
      // no admitted member).
      val stageRows = Seq(IngestDedup.rejections(textV)) ++
        lmRej.map(IngestDedup.lmRows) ++ mediaV.map(IngestDedup.rejections(_)) :+
        IngestDedup.rejections(embedV, "vec_id")
      val ledger = Graph.terminals(stageRows.reduce(_ unionByName _), "doc_id", "dup_of",
        Seq("reason"))

      // commit, mirroring the single-membrane writes: OVERWRITE of each
      // epoch partition is the idempotence point in every store. The
      // perceptual index holds rows of FULLY-admitted docs only, so the
      // media membrane's state keeps the corpus-describing invariant too
      val stores = IngestDedup.stores(keep, s"$dir/text") ++ Seq(
          EmbedIngest.cellsStore(s"$dir/embed", EmbedIngest.admitted(embedV)),
          StoreEpoch.Write(s"$dir/ledger", ledger)) ++
        (if (hasMedia) Seq(MediaIngest.indexStore(keep, s"$dir/media", "media", mediaBandBits))
         else Nil)
      val admitted = StoreEpoch.commit(stores, epochId, driverRows).head // the corpus rows

      // per-batch observability: which membrane rejected how much — each
      // batch doc is admitted or has exactly one ledger row, so the row
      // is counted from what the driver holds. It commits into its own
      // epoch partition like every store — replays overwrite, so the
      // metrics are exactly-once too
      val rejected = IngestDedup.reasonCounts(ledger)
      val unknown = rejected.keySet -- StageReasons.flatten
      require(unknown.isEmpty, s"ingest ledger: rejection reasons of no stage: $unknown")
      val byStage = StageReasons.map(_.map(rejected.getOrElse(_, 0L)).sum)
      import s.implicits._
      // batch_id is a DATA column (the epoch partition label moves when
      // the ledger folds; attribution must survive the fold)
      val metrics = Seq((epochId, admitted + byStage.sum, byStage(0), byStage(1), byStage(2),
          byStage(3), admitted))
        .toDF("batch_id", "n_in", "n_text_rejected", "n_lm_rejected",
          "n_media_rejected", "n_embed_rejected", "n_admitted")
      StoreEpoch.commit(Seq(StoreEpoch.Write(s"$dir/metrics", metrics)), epochId, driverRows)
    }
  }

  /** The ledger reasons of each stage, in the metrics row's order:
    * text, lm, media, embedding. */
  private val StageReasons = Seq(
    Seq("exact_batch", "exact_corpus", "near_batch", "near_corpus"), Seq("lm"),
    Seq("media_batch", "media_corpus"), Seq("embed_batch", "embed_corpus", "malformed"))

  /** The admitted corpus (documents with all their columns). */
  def corpus(spark: SparkSession, dir: String): DataFrame =
    spark.read.parquet(s"$dir/text/corpus")

  /** The per-batch rejection ledger: one row per ingested epoch with
    * (batch_id, n_in, n_text_rejected, n_lm_rejected, n_media_rejected,
    * n_embed_rejected, n_admitted) — which membrane rejected how much,
    * exactly-once like every other store. Empty frame (correct schema)
    * before the first batch. */
  def metrics(spark: SparkSession, dir: String): DataFrame = {
    val cols = Seq("batch_id", "n_in", "n_text_rejected", "n_lm_rejected",
      "n_media_rejected", "n_embed_rejected", "n_admitted")
    if (!EpochFold.hasDataFiles(spark, s"$dir/metrics")) {
      import spark.implicits._
      Seq.empty[(Long, Long, Long, Long, Long, Long, Long)]
        .toDF(cols: _*)
    } else {
      // a ledger written before the media/lm membranes existed lacks
      // their columns — read them as 0 (that stage didn't run)
      val base = spark.read.parquet(s"$dir/metrics")
      val full = Seq("n_media_rejected", "n_lm_rejected").foldLeft(base) {
        (d, c) => if (d.columns.contains(c)) d else d.withColumn(c, lit(0L))
      }
      full.select(cols.map(col): _*)
    }
  }

  /** The accumulated per-doc rejection ledger across ALL membranes:
    * `(doc_id, dup_of, reason)` with reasons from the text stage
    * (`exact_batch`/`exact_corpus`/`near_batch`/`near_corpus`), the
    * LM quality gate (`lm`, dup_of = null — a quality drop has no
    * content owner), the media stage (`media_batch`/`media_corpus`)
    * and the embedding stage (`embed_batch`/`embed_corpus`); every
    * dup_of names an ADMITTED doc (cross-membrane chains are resolved
    * at write time), except that a dup chain may terminate at an
    * lm-rejected doc — the content's owner was dropped for quality,
    * so that cluster has no admitted member. Empty frame with the
    * correct schema before the first batch. */
  def ledger(spark: SparkSession, dir: String): DataFrame =
    if (!EpochFold.hasDataFiles(spark, s"$dir/ledger")) {
      import spark.implicits._
      Seq.empty[(Long, Option[Long], String)].toDF("doc_id", "dup_of", "reason")
    } else spark.read.parquet(s"$dir/ledger")
      .select(col("doc_id"), col("dup_of"), col("reason"))

  /** qd6-shaped duplicate clusters over the COMPOSED corpus — admitted
    * docs plus every ledgered rejection from any membrane, grouped by
    * the admitted doc it resolved to. Same rollup (and the same
    * star-vs-chain semantics note) as [[IngestDedup.clusters]]; the
    * difference is only that a cluster here can mix rejection
    * modalities (a text dup and an embedding dup of the same admitted
    * doc land in one cluster). */
  def clusters(spark: SparkSession, dir: String): DataFrame =
    IngestDedup.clustersOf(
      corpus(spark, dir).select(col("doc_id")), ledger(spark, dir))

  /** Top-k cosine ANN over the admitted embeddings — the membrane's
    * vector store doubles as a searchable IVF index
    * ([[EmbedIngest.search]]); join `neighbor_id` back to [[corpus]]
    * for the documents. */
  def search(spark: SparkSession, dir: String, queries: DataFrame,
             k: Int, nProbe: Int): DataFrame =
    EmbedIngest.search(spark, s"$dir/embed", queries, k, nProbe)
}
