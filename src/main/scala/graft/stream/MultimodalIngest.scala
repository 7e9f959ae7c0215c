package graft.stream

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

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
    val part = s"$dir/text/corpus/epoch=$epochId"
    if (EpochFold.hasDataFiles(s, part))
      CorpusStats.fold(s.read.parquet(part), s"$dir/stats", epochId)
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
    * replay-idempotent; backfill and streaming share this path). */
  def ingestBatch(batch: DataFrame, dir: String, epochId: Long,
                  tau: Double = 0.95, nProbe: Int = 4,
                  mediaBandBits: Int = 8,
                  lmModelDir: Option[String] = None): Unit = {
    val s = batch.sparkSession
    Seq("corpus", "exact_idx", "band_idx")
      .foreach(t => EpochFold.migrateLegacyFlat(s, s"$dir/text/$t"))

    val hasMedia = batch.columns.contains("media")
    // each stage returns one VERDICT row per input doc — decided and
    // attributed by the same probes — and is checkpointed once: the
    // next stage, the ledger and the metrics all read that one
    // materialization. Stage 1 — text membrane (cheap hash work first,
    // so the later stages only ever see text-novel docs)
    val textV = IngestDedup.verdicts(batch, s"$dir/text", epochId)
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
    val mediaV = if (hasMedia) Some(MediaIngest.verdicts(textKeep, s"$dir/media",
        epochId, bandBits = mediaBandBits).localCheckpoint(eager = false)) else None
    val mediaKeep = mediaV.map(_.filter(col("reason").isNull)
        .drop("phash", "dup_of", "reason")).getOrElse(textKeep)
    // stage 2 — embedding membrane over the earlier survivors; its
    // admitted rows are the cells store's rows
    val embedV = EmbedIngest.verdicts(
        mediaKeep.select(col("doc_id").as("vec_id"), col("embedding")),
        s"$dir/embed", epochId, tau, nProbe)
      .localCheckpoint(eager = false)
    // the admitted documents, materialized once for the four writes below
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
    // no admitted member). Committed into this epoch's partition like
    // every store — replays overwrite, exactly-once.
    val stageRows = Seq(IngestDedup.rejections(textV)) ++
      lmRej.map(IngestDedup.lmRows) ++ mediaV.map(IngestDedup.rejections(_)) :+
      IngestDedup.rejections(embedV, "vec_id")
    IngestDedup.resolveChains(stageRows.reduce(_ unionByName _))
      .write.mode(SaveMode.Overwrite).parquet(s"$dir/ledger/epoch=$epochId")

    // per-batch observability: which membrane rejected how much — one
    // aggregate over the checkpointed verdicts (every batch doc has one
    // text verdict; a stage's rejections are its non-null reasons). The
    // row commits into its own epoch partition like every store —
    // replays overwrite, so the ledger is exactly-once too.
    def tally(stage: Int, v: DataFrame) = v.select(lit(stage).as("stage"), col("reason"))
    val tallies = (Seq(tally(0, textV)) ++
        lmRej.map(r => tally(1, r.select(lit("lm").as("reason")))) ++
        mediaV.map(tally(2, _)) :+ tally(3, embedV))
      .reduce(_ unionByName _)
    def n(p: org.apache.spark.sql.Column) = count(when(p, lit(1)))
    val rejected = col("reason").isNotNull
    val row = tallies.agg(n(col("stage") === 0), n(col("stage") === 0 && rejected),
        n(col("stage") === 1), n(col("stage") === 2 && rejected),
        n(col("stage") === 3 && rejected), n(col("stage") === 3 && !rejected))
      .head()
    import s.implicits._
    // batch_id is a DATA column (the epoch partition label moves when
    // the ledger folds; attribution must survive the fold)
    Seq((epochId, row.getLong(0), row.getLong(1), row.getLong(2), row.getLong(3),
        row.getLong(4), row.getLong(5)))
      .toDF("batch_id", "n_in", "n_text_rejected", "n_lm_rejected",
        "n_media_rejected", "n_embed_rejected", "n_admitted")
      .coalesce(1)
      .write.mode(SaveMode.Overwrite).parquet(s"$dir/metrics/epoch=$epochId")

    // commit, mirroring the single-membrane writes: OVERWRITE of each
    // epoch partition is the idempotence point in every store
    keep.drop("bands", "content_key")
      .write.mode(SaveMode.Overwrite).parquet(s"$dir/text/corpus/epoch=$epochId")
    // owner column alongside the key, like IngestDedup's indexes —
    // the probes read it back as the dup_of attribution
    keep.select(col("content_key"), col("doc_id"))
      .sortWithinPartitions("content_key")
      .write.mode(SaveMode.Overwrite).parquet(s"$dir/text/exact_idx/epoch=$epochId")
    keep.select(col("doc_id"), explode(col("bands")).as("bk"))
      .select(col("bk.band").as("band"), col("bk.key").as("key"), col("doc_id"))
      .filter(col("key").isNotNull)
      .sortWithinPartitions("key")
      .write.mode(SaveMode.Overwrite).parquet(s"$dir/text/band_idx/epoch=$epochId")
    EmbedIngest.admitted(embedV)
      .write.mode(SaveMode.Overwrite).partitionBy("cell")
      .parquet(s"$dir/embed/cells/epoch=$epochId")
    // perceptual index rows for FULLY-admitted docs only, so the media
    // membrane's state keeps the corpus-describing invariant too
    if (hasMedia)
      MediaIngest.indexRows(keep, "media", mediaBandBits)
        .write.mode(SaveMode.Overwrite).parquet(s"$dir/media/media_idx/epoch=$epochId")
  }

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
