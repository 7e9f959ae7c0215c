package graft.batch

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.batch.{TextOps => T}

/** The composed batch curation pipeline — the end-to-end pass a
  * training-data run actually executes, as ONE library entry:
  *
  *   quality filters (qt2 stopword score + qt9 repetition) →
  *   exact dedup (qd1's min-per-content) →
  *   near dedup (qd2 bands, bucket-min rule) →
  *   eval-set decontamination (qd10 span fingerprints) →
  *   mixture sampling (qt8's integer-exact hash admission) →
  *   sequence packing (qt6's first-fit-decreasing)
  *
  * Composition is where scan discipline gets lost — five stages naively
  * chained re-tokenize the corpus five times. Here the corpus TEXT is
  * scanned exactly ONCE (CurationSpec pins it with a per-row
  * accumulator): pass 1 computes every per-doc signal the chain needs —
  * quality flags (which filter map-side inside the same pass), content
  * hash, LSH bands, span fingerprints, token count — and checkpoints
  * the narrow signal frame WITHOUT the text. Every later stage works on
  * that materialization.
  *
  * Post-checkpoint data movement, per stage (PLANS.md "curation
  * pipeline" row):
  *   - exact dedup: one exchange of (content_key, doc_id) pairs;
  *   - near dedup: one exchange of band keys (bucket-min, linear in
  *     hot-bucket size — never pairwise), then an anti join on doc_id.
  *     The loser set scales with the corpus dup rate, so it is NOT
  *     broadcast (a 50%-dup crawl would broadcast billions of ids);
  *   - decontam: the EVAL side tokenizes once and its stride-1
  *     fingerprint set broadcasts (benchmark-sized by definition);
  *     corpus fingerprints probe it map-side, then the contaminated
  *     ids anti-join on doc_id — same non-broadcast reasoning;
  *   - mixture: one source-cardinality aggregate broadcast back onto a
  *     map-side hash-admission filter (qt8's shape);
  *   - packing: one range exchange of the admitted (doc_id, tok)
  *     pairs (qt6's shape).
  *
  * Total: one text scan and a handful of exchanges that carry only
  * narrow signal columns — never the text. At 100 TB the checkpoint
  * would be a written table; the stage plans are unchanged.
  */
object Curation {

  /** Tunables, defaulted to the fixture-scale demo values of the
    * operators they come from. `weightPerMille` is the uniform qt8
    * mixture weight; heterogeneous weights join a config table in at
    * the `rates` aggregate without changing any plan shape. */
  case class Params(
      minTok: Long = 5,
      maxTopBigramPct: Long = 60,
      mixtureBudget: Long = 20000L,
      weightPerMille: Long = 20,
      packCapacity: Long = 2048L,
      cosTau: Double = 0.4,
      // qd12's regime for eval sets beyond broadcast-hash capacity:
      // bloom-prune the corpus fingerprints map-side, then verify
      // exactly with a non-broadcast join. Result-identical to the
      // broadcast path (false positives die in the verify join) —
      // CurationSpec pins the equivalence.
      bloomDecontam: Boolean = false,
      // qd17's keep rule threaded into the composed chain (round-12
      // ask #2): the BAND near-dedup seam keeps the per-bucket best
      // under (quality DESC, doc_id ASC) — qt2's integer stopword
      // quality, computed row-local inside the same pass-1 text scan —
      // instead of min doc_id. One strict total order, so the same
      // "survive iff best in every bucket" algebra as min-id (which IS
      // this rule at uniform quality). The EXACT-dedup seam keeps
      // min(doc_id) in both modes, provably the same decision:
      // byte-identical text scores byte-identical quality, so the
      // argmax tie always breaks to the min id anyway.
      qualityCanonical: Boolean = false,
      // qd19's selection threaded into the composed chain (round-13
      // ask #3), PARAMETERIZED instead of qd19's compile-time
      // constants: when set, admission is the importance-ordered token
      // budget cut — score every membrane survivor by qt17's
      // target-domain importance (distributions estimated over the
      // survivors; `targetLang` is the domain) and admit in
      // (importance DESC, doc_id) order until `importanceBudget`
      // tokens are spent — replacing the rate-based mixture admission
      // (both are admission policies; a run picks one). The bucket
      // histograms ride pass 1 row-locally (BucketHistogramExpr), so
      // the one-text-scan discipline holds. Requires a `lang` column
      // on the docs input.
      importanceBudget: Option[Long] = None,
      targetLang: String = "en",
      // qt20's perplexity gate threaded into the composed chain
      // (round-16): when set, admission additionally drops clean
      // survivors scoring under the 2-bits-per-bigram line against the
      // FROZEN reference-LM model persisted at this dir
      // ([[TextOps.saveLm]]) — qc9's stage with the production model
      // source: trained once on a curated slice, loaded per run, one
      // bigram-keyed join (never a reference re-scan). The scored text
      // re-read covers only the clean survivors (qc9's scan-budget
      // argument).
      lmModelDir: Option[String] = None,
      // the gate's reference-domain exemption (qc9's isRef rule,
      // source-keyed — the production shape when the model was trained
      // on one of the corpus's own sources): docs from this source ARE
      // the reference distribution and pass the gate by definition,
      // and their text is not even scored (one fewer slice through the
      // bigram join).
      lmRefSource: Option[String] = None,
      // qd20's sticky ledger threaded into the shard output (round-14
      // verdict #3): when set, [[curateToShards]] records this corpus
      // version's dup-cluster membership in the [[SplitLedger]] at
      // this dir, tags every admitted doc with its LEDGER split, packs
      // bins PER SPLIT, and lands shards under split=/shard= with a
      // per-(split, shard) manifest — so a training run consuming the
      // shards can never re-derive splits and violate the ledger: a
      // doc trained on at version N is in a train shard at N+1, by
      // construction.
      splitLedgerDir: Option[String] = None,
      // round-17 (verdict #4): the versioned per-doc [[SignalStore]].
      // When set (requires splitLedgerDir — versions come from the
      // ledger), the split-ledgered [[curateToShards]] loads the PRIOR
      // ledger version's pass-1 signal table, scans text only for docs
      // the table does not cover, and persists this version's table
      // after the shards commit; [[versionBump]] additionally feeds
      // its cross-corpus admission from the stored minhash column. A
      // missing / version-mismatched / schema-drifted table falls back
      // to recomputing from text (self-healing, never silently wrong).
      signalStoreDir: Option[String] = None)

  /** Run the pipeline: `docs` (doc_id, source, text) and `eval`
    * (doc_id, text) → packed admitted docs
    * (doc_id, source, tok, bin). */
  def curate(docs: DataFrame, eval: DataFrame,
             p: Params = Params()): DataFrame = {
    val adm = admitted(docs, eval, p)
    // packing: qt6's distributed first-fit-decreasing
    T.packFirstFit(adm.select(col("doc_id"), col("n_tok").as("tok")),
        p.packCapacity)
      .join(adm.select(col("doc_id"), col("source")), Seq("doc_id"))
      .select(col("doc_id"), col("source"), col("tok"), col("bin"))
  }

  /** The complete run, landing on disk: membrane chain → mixture →
    * qt6's DETERMINISTIC prefix-bin packing → [[Shards.write]]. The
    * admitted set and bin layout are parallelism-independent (the
    * prefix sum reproduces one global order at any partition count),
    * so two runs — or a resumed run — produce file-for-file identical
    * shards. Exactly TWO text scans total, the floor for a pipeline
    * that drops the payload early: pass 1 computes every signal
    * (quality, dedup, decontam, tokens) and the shard writer re-reads
    * text only for the admitted rows it lands (CurationSpec pins the
    * count). */
  def curateToShards(docs: DataFrame, eval: DataFrame, dir: String,
                     nShards: Int, p: Params = Params()): Unit = {
    require(p.signalStoreDir.isEmpty || p.splitLedgerDir.isDefined,
      "Params(signalStoreDir) needs splitLedgerDir — signal tables are " +
        "versioned by the split ledger")
    p.splitLedgerDir match {
    case None =>
      val adm = admitted(docs, eval, p)
      val binned = T.docBins(
        adm.select(col("doc_id"), col("n_tok").as("tok")), p.packCapacity)
      Shards.write(docs.select(col("doc_id"), col("source"), col("text")),
        binned, nShards, dir)
    case Some(ledgerDir) =>
      // the split-ledgered run (round-14 verdict #3): record this
      // version's membership, tag admission with the STICKY split, pack
      // and shard WITHIN each split. Still two text scans: membership
      // rides pass 1's signals (content_key + row-local band keys — no
      // re-tokenization), splits/bins move only narrow id frames, and
      // the shard writer's payload re-read is unchanged. With
      // Params(signalStoreDir), prior-version docs skip the pass-1
      // text scan entirely (their signals load as one narrow parquet
      // read) and this version's table is saved after the commit.
      val spark = docs.sparkSession
      val priorSig = p.signalStoreDir.flatMap(sd =>
        SignalStore.load(spark, sd,
          SplitLedger.currentVersion(spark, ledgerDir), storeCols(p, 0)))
      val (clean0, sig, sigAll) = cleanedSignalsStored(docs, eval, p,
        phashBits = 0, priorSig, wantMh = p.signalStoreDir.isDefined)
      // the LM gate sits between the membrane and admission, like every
      // other drop stage; membership stays PRE-gate (sig) — a low-LM
      // doc is still a recorded cluster member, like a dedup loser
      val clean = lmGate(docs, clean0, p)
      val adm =
        if (p.importanceBudget.isDefined) importanceAdmit(clean, p)
        else mixtureAdmit(clean, p)
      val splits = graft.batch.SplitLedger
        .assign(docs.sparkSession, ledgerDir, membersFromSignals(sig))
        .select(col("doc_id"), col("split"))
      // inner join: every admitted doc passed quality, hence is in sig
      // ⊆ the recorded membership
      val admS = adm.join(splits, Seq("doc_id"))
      Shards.writeSplits(docs.select(col("doc_id"), col("source"), col("text")),
        splitBins(admS, p.packCapacity), nShards, dir)
      // persist this version's signal table AFTER the shards commit
      // (versionBump's crash rule: no table at the new version means
      // the next run recomputes — stale signals never under-witness)
      p.signalStoreDir.foreach(sd => SignalStore.save(spark, sd,
        SplitLedger.currentVersion(spark, ledgerDir), sigAll))
    }
  }

  /** The composed CORPUS-VERSION BUMP (round-15 verdict #3) — the
    * versioned update loop a recurring-crawl pipeline runs per dump,
    * wiring the three pieces that existed separately into one library
    * entry (the batch twin of the streaming membrane's epoch):
    *
    *   1. ADMISSION — [[Dedup.crossCorpusNearDup]]: which new-slice
    *      docs near-duplicate the PRIOR corpus? Rejected up front (the
    *      recurring-crawl question; in-slice duplicates among the new
    *      docs themselves are the merged chain's own dedup membrane's
    *      job and fall out in step 3);
    *   2. LEDGER — [[SplitLedger.assign]] records the merged version's
    *      cluster membership, sticky across versions (a doc trained on
    *      at version N can never surface in eval at N+1);
    *   3. LAYOUT — [[curateToShards]]'s split-ledgered path re-runs
    *      the full membrane over prior ∪ admitted and lands
    *      split-tagged shards (steps 2 and 3 share the one
    *      `splitLedgerDir` run — assign rides inside curateToShards).
    *
    * Scale shape: the NEW slice is minhashed once; the PRIOR side
    * reads its persisted signature table when `sigStore` is set and
    * the saved version matches the ledger's ([[Dedup.loadSigs]] —
    * version-aligned, else the self-healing fallback recomputes from
    * text), and after the merge commits the NEXT version's table
    * (prior ∪ admitted-new signatures) is saved for the following
    * bump — so a recurring pipeline's prior-side admission cost is
    * one narrow parquet read, never a corpus re-minhash. Candidate
    * pairs ride the shuffle band join with the witness-side-only cap
    * (never broadcast, never all-pairs); everything after moves
    * narrow id frames. Returns the one-row version report
    * (ledger_version, n_new, n_rejected, n_admitted).
    *
    * The caller's NEXT `priorDocs` is this bump's prior ∪ admitted
    * slice — the merged corpus the ledger and the saved signatures
    * describe. */
  def versionBump(priorDocs: DataFrame, newSlice: DataFrame, eval: DataFrame,
      dir: String, nShards: Int, p: Params,
      sigStore: Option[String] = None): DataFrame = {
    require(p.splitLedgerDir.isDefined,
      "versionBump needs Params(splitLedgerDir) — the sticky ledger IS the " +
        "cross-version training contract")
    val spark = priorDocs.sparkSession
    // the id contract, enforced loudly (round-16 review): a new-slice
    // doc_id colliding with a prior doc_id would double-match the
    // signature-verify joins (inflating witnesses), and an admitted
    // collision would land the SAME doc_id twice in the merged corpus,
    // the ledger, and the shards. Re-crawls must carry fresh ids —
    // "same content, new id" is exactly what the admission stage
    // detects; id identity is the ledger's key, never a crawl's.
    val collided = newSlice.select(col("doc_id"))
      .join(priorDocs.select(col("doc_id")), Seq("doc_id"))
      .limit(1).collect()
    require(collided.isEmpty,
      s"versionBump: new-slice doc_id ${collided.headOption.map(_.getLong(0))
        .getOrElse(0L)} already exists in the prior corpus — assign fresh ids " +
        "to the new dump (admission matches content, the ledger keys on id)")
    val priorVer = SplitLedger.currentVersion(spark, p.splitLedgerDir.get)
    // admission's prior-side signatures, best source first: the
    // generalized SignalStore's mh column (round-17 — ONE table serves
    // admission AND the membrane's pass-1 skip), then the legacy
    // minhash-only sigStore, then the self-healing text recompute.
    // The corpus semi-join is the removal guard; mh-null rows are
    // shingle-less docs, which the aggregation form also omits.
    val storedMh = p.signalStoreDir
      .flatMap(sd => SignalStore.load(spark, sd, priorVer, storeCols(p, 0)))
      .map(_.filter(col("mh").isNotNull)
        .join(priorDocs.select(col("doc_id")), Seq("doc_id"))
        .select(col("doc_id") +:
          (0 until Dedup.NumHashes).map(j => col("mh")(j).as(s"h$j")): _*))
    val priorSigs = storedMh
      .orElse(sigStore.flatMap(Dedup.loadSigs(spark, _, priorVer)))
      .getOrElse(Dedup.minhashSigsOf(priorDocs)
        // materialized only on the recompute path (it feeds the union
        // below AND the post-commit save); a loaded table is already
        // one narrow parquet read per consumer
        .localCheckpoint())
    val newSigs = Dedup.minhashSigsOf(newSlice)
      .localCheckpoint() // feeds the union AND the post-commit save
    val sigs = priorSigs.withColumn("is_new", lit(false))
      .unionByName(newSigs.withColumn("is_new", lit(true)))
      .localCheckpoint() // feeds banding AND both verify sides
    val dupNew = Dedup.crossCorpusNearDup(sigs, col("is_new"), Dedup.CellCap)
      .select(col("doc_id"))
      .localCheckpoint() // bounded by |new slice|; read twice below
    val admittedNew = newSlice.join(dupNew, Seq("doc_id"), "left_anti")
    curateToShards(priorDocs.unionByName(admittedNew), eval, dir, nShards, p)
    val ver = SplitLedger.currentVersion(spark, p.splitLedgerDir.get)
    // the NEXT bump's prior-side table: saved AFTER the merge commits
    // (ledger at `ver`), so a crash in between leaves no table at
    // `ver` and the next bump recomputes — stale signatures can never
    // under-witness
    sigStore.foreach(st => Dedup.saveSigs(spark, st, ver,
      priorSigs.unionByName(newSigs.join(dupNew, Seq("doc_id"), "left_anti"))))
    val nNew = newSlice.count()
    val nRej = dupNew.count()
    spark.createDataFrame(Seq((ver, nNew, nRej, nNew - nRej)))
      .toDF("ledger_version", "n_new", "n_rejected", "n_admitted")
  }

  /** (doc_id, cluster_id) membership of the curation chain's OWN dup
    * equivalence, built entirely from pass-1 signals (never a second
    * text scan): exact edges connect each content_key's docs through
    * its min id; band edges connect each LSH bucket's EXACT-WINNER
    * docs through its min (identical text ⇒ identical band keys, so
    * banding only the exact winners yields the same components as
    * banding everything — the losers connect through their winner's
    * content edge — and matches the chain's own `bands` stage, which
    * the qc7 oracle restates). Components via [[Graph.components]]. */
  private[graft] def membersFromSignals(sig: DataFrame): DataFrame = {
    val exactMin = sig.groupBy(col("content_key")).agg(min(col("doc_id")).as("id_a"))
    val exactE = sig.select(col("content_key"), col("doc_id"))
      .join(exactMin, Seq("content_key"))
      .filter(col("doc_id") =!= col("id_a"))
      .select(col("id_a"), col("doc_id").as("id_b"))
    val ex = sig.select(col("content_key"), col("doc_id"), col("bands"))
      .join(exactMin.withColumnRenamed("id_a", "doc_id"), Seq("content_key", "doc_id"))
    val bk = ex.select(col("doc_id"), explode(col("bands")).as("b"))
      .select(col("doc_id"), col("b.band").as("band"), col("b.key").as("key"))
      .filter(col("key").isNotNull)
    val bandMin = bk.groupBy(col("band"), col("key")).agg(min(col("doc_id")).as("id_a"))
    val bandE = bk.join(bandMin, Seq("band", "key"))
      .filter(col("doc_id") =!= col("id_a"))
      .select(col("id_a"), col("doc_id").as("id_b"))
    // no checkpoint: Graph.components materializes the edge set itself,
    // in the job that gates it
    val pairs = exactE.union(bandE).distinct()
    Dedup.membersOf(sig.select(col("doc_id")), Graph.components(pairs))
  }

  /** Per-split deterministic prefix bins — [[TextOps.docBins]] run
    * inside each split (a training loader streams one split's shards;
    * bins must never straddle splits). Three narrow (doc_id, tok)
    * passes, no text anywhere. */
  private[graft] def splitBins(admS: DataFrame, capacity: Long): DataFrame = {
    // ONE keyed prefix pass for all three splits (round-17): the
    // historical form ran docBins per split — three range samples,
    // three shuffles, three totals collects, and six recomputes of the
    // un-materialized admission join (~18 jobs of a 69-job qc7).
    // Instead the narrow admitted frame is materialized once (its real
    // count sizes the range width — post-join plan stats degenerate to
    // the core count, Tables.widthForRows) and ONE runningOffsets runs
    // over the composite key `splitRank·2⁴⁰ + tok`: key-descending
    // order concatenates the splits (train, val, test) back to back
    // with each split internally in docBins' own (tok DESC, doc_id)
    // order — 2⁴⁰ dominates any per-doc token count, so splits can
    // never interleave — and a split's internal offsets are its global
    // offsets minus the tokens of the splits ahead of it (prefix sums
    // over a concatenation). Subtracting the three-row base table
    // reproduces docBins' bins BIT-identically (ShardsSpec pins the
    // equivalence against the per-split form).
    val m = admS.select(col("doc_id"), col("n_tok"), col("split"))
      .filter(col("split").isin(Splits: _*)) // the ledger's only values
      .localCheckpoint()
    val w = graft.Tables.widthForRows(m.sparkSession, m.count())
    val rank = Splits.zipWithIndex
      .foldLeft(lit(0L)) { case (acc, (spl, i)) =>
        when(col("split") === spl, lit((Splits.size - 1 - i).toLong)).otherwise(acc)
      }
    val offs = T.runningOffsets(
      m.select(col("doc_id"), col("n_tok").as("tok"),
        (rank * SplitKeyBase + col("n_tok")).as("key")), w)
    // three-row base table: tokens of all splits AHEAD in key order
    val tots = m.groupBy(col("split")).agg(sum(col("n_tok")).as("t"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val base = Splits.zipWithIndex.foldLeft(lit(0L)) { case (acc, (spl, i)) =>
      when(col("split") === spl,
        lit(Splits.take(i).map(tots.getOrElse(_, 0L)).sum)).otherwise(acc)
    }
    // decode the split back from the key stride — ordered when-chain,
    // widest threshold first (train ≥ 2·base, val ≥ 1·base, else test)
    val splitOf = when(col("key") >= 2L * SplitKeyBase, Splits(0))
      .when(col("key") >= SplitKeyBase, Splits(1))
      .otherwise(Splits(2))
    offs
      .withColumn("split", splitOf)
      .withColumn("bin", floor((col("off") - base) / capacity))
      .select(col("doc_id"), col("tok"), col("bin"), col("split"))
  }

  /** Split order of the ledger's three values — also the key-descending
    * concatenation order of [[splitBins]]' single prefix pass. */
  private val Splits = Seq("train", "val", "test")

  /** Composite-key stride for [[splitBins]]: must dominate any
    * per-document token count (2⁴⁰ ≈ 10¹² tokens/doc). */
  private val SplitKeyBase = 1L << 40

  /** Every stage up to (not including) packing — the admitted doc set
    * `(doc_id, source, n_tok)`. Split out so the composed selection is
    * ORACLE-CHECKED end-to-end (qc1): bin assignment is partitioning-
    * dependent, but which docs survive the composed membrane is exact
    * relational semantics DuckDB can reproduce. */
  private[graft] def admitted(docs: DataFrame, eval: DataFrame,
      p: Params): DataFrame = {
    val clean = lmGate(docs, cleanedSignals(docs, eval, p, phashBits = 0), p)
    if (p.importanceBudget.isDefined) importanceAdmit(clean, p)
    else mixtureAdmit(clean, p)
  }

  /** The frozen-model perplexity gate (`Params(lmModelDir)`): drop
    * clean survivors scoring under 2 bits/bigram against the persisted
    * reference-LM model — qc9's stage with [[TextOps.loadLm]] as the
    * model source. No-op when unset. Materialized like `clean` (the
    * admission tail reads its input twice). */
  private def lmGate(docs: DataFrame, clean: DataFrame, p: Params): DataFrame =
    p.lmModelDir match {
      case None => clean
      case Some(dir) =>
        // null-safe exemption (round-16 ADVICE): `=!=` evaluates to
        // NULL for null-source docs, which would silently exempt them
        // from scoring like reference docs — `<=>` keeps them in the
        // scored candidate set
        val candidates = p.lmRefSource
          .foldLeft(docs.select(col("doc_id"), col("source"), col("text"))) {
            (d, ref) => d.filter(!(col("source") <=> lit(ref)))
          }
        val lowLm = T.lmScoreDocs(
            candidates.join(clean.select(col("doc_id")), Seq("doc_id")),
            T.loadLm(docs.sparkSession, dir))
          .filter(col("score") < lit(2) * col("n_bg"))
          .select(col("doc_id"))
        clean.join(lowLm, Seq("doc_id"), "left_anti").localCheckpoint(eager = false)
    }

  /** Text-side membrane chain — quality gates → exact dedup → band
    * near-dedup → span decontamination — returning the narrow signal
    * frame `(doc_id, source, n_tok [, phash])` of the surviving docs.
    * `phashBits > 0` additionally computes qm3's perceptual hash of
    * the payload at that block count INSIDE the same single text pass
    * (row-local; null when too short to hash), so a multimodal
    * curation run gets its media signal without a second scan — 32 is
    * the fixture regime, 64 feeds [[qc4_multimodal_wide]]'s 16-bit
    * production banding. */
  private[graft] def cleanedSignals(docs: DataFrame, eval: DataFrame,
      p: Params, phashBits: Int): DataFrame =
    cleanedSignalsAndSig(docs, eval, p, phashBits)._1

  /** [[cleanedSignals]] plus the PRE-dedup pass-1 signal frame `sig`
    * (doc_id, content_key, bands, …) — the seam [[membersFromSignals]]
    * needs: the split ledger must record EVERY doc of the version that
    * participated in dedup (a rejected near-dup trained-on at version
    * N can reappear at N+1 and must inherit its cluster's split), not
    * just the survivors. */
  private[graft] def cleanedSignalsAndSig(docs: DataFrame, eval: DataFrame,
      p: Params, phashBits: Int): (DataFrame, DataFrame) = {
    val (clean, sig, _) =
      cleanedSignalsStored(docs, eval, p, phashBits, None, wantMh = false)
    (clean, sig)
  }

  /** The signal-store column contract for a chain run under `p` —
    * [[SignalStore.load]]'s schema guard (a stored table from a run
    * with different Params must not be consumed). */
  private[graft] def storeCols(p: Params, phashBits: Int): Seq[String] =
    Seq("doc_id", "source", "n_tok", "q_ok", "content_key", "bands", "fps") ++
      (if (phashBits > 0) Seq("phash") else Nil) ++
      (if (p.qualityCanonical) Seq("quality") else Nil) ++
      (if (p.importanceBudget.isDefined) Seq("lang", "ibuckets") else Nil) ++
      Seq("mh")

  /** PASS 1 over `docs` — one row PER INPUT DOC: the quality gates land
    * in a `q_ok` flag instead of a filter (round-17, the
    * [[SignalStore]] seam: a store row must exist for DROPPED docs too,
    * or every later version re-scans their text just to re-drop them),
    * with the heavy signal columns computed under `IF(q_ok, …)` so
    * dropped rows pay only the gate arithmetic, and the row-local
    * minhash signature `mh` ([[graft.functions.MinhashSigsExpr]])
    * computed UNCONDITIONALLY when `wantMh` (dropped docs are still
    * corpus members for cross-corpus admission witnessing). Filtering
    * `q_ok` afterwards reproduces the historical pass-1 output
    * row-for-row. */
  private def pass1SigAll(docs: DataFrame, p: Params, phashBits: Int,
      wantMh: Boolean): DataFrame = {
    val withPhash = phashBits > 0
    val withImp = p.importanceBudget.isDefined
    if (withImp) require(docs.columns.contains("lang"),
      "importanceBudget selection needs a lang column on the docs input " +
        "(the target-domain signal)")
    val sig0 = docs
      .withColumn("toks", filter(split(lower(col("text")), " "), t => length(t) > 0))
      .withColumn("n_tok", size(col("toks")).cast("long"))
      .withColumn("n_dup", col("n_tok") - size(array_distinct(col("toks"))).cast("long"))
      // the n_tok < 2 guards exist only for rows the historical
      // early-filter form never evaluated (minTok ≥ 2 dropped them
      // first); they keep sequence()/div well-defined on those rows
      .withColumn("bg", expr(
        "IF(n_tok < 2, array(), " +
          "transform(sequence(0, cast(n_tok as int) - 2), i -> concat(toks[i], ' ', toks[i + 1])))"))
      // sorted-run max multiplicity (qt9's form): one bg reference, so
      // the quality predicate stays O(n log n) per row even after
      // pushdown inlines it — the naive per-distinct filter() form
      // cost 17 s of the original 18 s qc1 steady time at sf0.1
      .withColumn("top_bg_pct", expr(
        "IF(n_tok < 2, 0L, aggregate(array_sort(bg), named_struct('prev', '', 'run', 0L, 'best', 0L), " +
          "(acc, x) -> named_struct('prev', x, " +
          "'run', IF(x = acc.prev, acc.run + 1L, 1L), " +
          "'best', greatest(acc.best, IF(x = acc.prev, acc.run + 1L, 1L))), " +
          "acc -> acc.best) * 100 div (n_tok - 1))"))
      .withColumn("q_ok", col("n_tok") >= p.minTok &&
        col("n_dup") * 2 < col("n_tok") && // qt9's repetitive-doc gate
        col("top_bg_pct") <= p.maxTopBigramPct)
      .withColumn("content_key", when(col("q_ok"), md5(col("text").cast("binary"))))
      .withColumn("bands", when(col("q_ok"), Dedup.bandKeys(col("text"))))
      // qd10's corpus-side stride-16 window fingerprints; the native
      // expression returns array() for docs too short to hold one
      // window (the old IF guard, now intrinsic)
      .withColumn("fps", when(col("q_ok"),
        graft.functions.GraftFunctions.span_fps(col("text"), 32, 16)))
    // qc5's keep signal rides the SAME pass-1 scan (row-local — the
    // one-text-scan discipline holds); only computed when the quality
    // keep rule is on, so the historical chains pay nothing
    val sigQ = if (p.qualityCanonical)
      sig0.withColumn("quality",
        when(col("q_ok"), TextOps.stopwordQualityOf(col("text"))))
    else sig0
    // qc6's importance signal rides pass 1 the same way: the per-doc
    // bucket HISTOGRAM (row-local RLE over the already-computed toks —
    // ≤ min(n_tok, B) narrow entries) lands in the checkpoint, so
    // scoring later never re-reads text
    val sigI = if (withImp)
      sigQ.withColumn("ibuckets", when(col("q_ok"), expr(TextOps.BucketHistogramExpr)))
    else sigQ
    val sigM = if (wantMh)
      sigI.withColumn("mh", graft.functions.GraftFunctions.minhash_sigs(col("text")))
    else sigI
    val keep = Seq(col("doc_id"), col("source"), col("n_tok"), col("q_ok"),
      col("content_key"), col("bands"), col("fps")) ++
      (if (withPhash) Seq(col("phash")) else Nil) ++
      (if (p.qualityCanonical) Seq(col("quality")) else Nil) ++
      (if (withImp) Seq(col("lang"), col("ibuckets")) else Nil) ++
      (if (wantMh) Seq(col("mh")) else Nil)
    (if (withPhash) Multimodal.withPhashN(sigM, phashBits) else sigM)
      .select(keep: _*)
  }

  /** [[cleanedSignalsAndSig]] with the [[SignalStore]] seam: docs whose
    * ids appear in `priorSigAll` (a loaded prior-version store table)
    * skip pass 1 entirely — their text is never scanned — and the
    * third return is the ALL-ROWS signal frame (q_ok flag included)
    * for the caller to persist as this version's table. Stored rows
    * for ids no longer in `docs` are dropped (removal guard: the store
    * describes at most the current corpus). Output is row-for-row
    * identical to a from-text run — signals are deterministic
    * row-local functions of text, and ids are immutable content
    * identities (versionBump's enforced contract). */
  private[graft] def cleanedSignalsStored(docs: DataFrame, eval: DataFrame,
      p: Params, phashBits: Int, priorSigAll: Option[DataFrame],
      wantMh: Boolean): (DataFrame, DataFrame, DataFrame) = {
    val withPhash = phashBits > 0
    val withImp = p.importanceBudget.isDefined
    val newDocs = priorSigAll match {
      case None => docs
      case Some(ps) =>
        docs.join(ps.select(col("doc_id")), Seq("doc_id"), "left_anti")
    }
    val newSig = pass1SigAll(newDocs, p, phashBits, wantMh)
    val sigAll = (priorSigAll match {
      case None => newSig
      case Some(ps) =>
        ps.join(docs.select(col("doc_id")), Seq("doc_id")).unionByName(newSig)
    }).localCheckpoint(eager = false)
    val sig = sigAll.filter(col("q_ok")).drop("q_ok", "mh")

    // exact dedup: min doc_id per content wins (qd1's rule) — in BOTH
    // keep modes: exact dups carry byte-identical text, hence
    // identical quality, so the quality argmax ties to min id anyway
    val exactWin = sig.groupBy(col("content_key")).agg(min(col("doc_id")).as("doc_id"))
    val ex = sig.join(exactWin, Seq("content_key", "doc_id"))

    // near dedup: a doc loses iff a bucket-mate PRECEDES it in the
    // keep order — (doc_id ASC) historically, (quality DESC, doc_id
    // ASC) under qualityCanonical — equivalently, survive iff best in
    // EVERY shared bucket; computed per bucket, linear in hot buckets
    val bkCols = Seq(col("doc_id")) ++
      (if (p.qualityCanonical) Seq(col("quality")) else Nil)
    val bk = ex.select(bkCols :+ explode(col("bands")).as("b"): _*)
      .withColumn("band", col("b.band")).withColumn("key", col("b.key"))
      .drop("b")
      .filter(col("key").isNotNull)
    val losers =
      if (!p.qualityCanonical) {
        val bmin = bk.groupBy(col("band"), col("key")).agg(min(col("doc_id")).as("min_id"))
        bk.join(bmin, Seq("band", "key"))
          .filter(col("doc_id") > col("min_id")).select(col("doc_id")).distinct()
      } else {
        // per-bucket argmax as ONE exact-integer struct min — ascending
        // (−quality, doc_id) IS (quality DESC, doc_id ASC); same
        // map-side-combining aggregate shape as the min-id rule
        val bbest = bk.groupBy(col("band"), col("key")).agg(
          min(struct((lit(0L) - col("quality")).as("nq"),
            col("doc_id").as("id"))).as("best"))
        bk.join(bbest, Seq("band", "key"))
          .filter(col("doc_id") =!= col("best.id")).select(col("doc_id")).distinct()
      }
    val deduped = ex.join(losers, Seq("doc_id"), "left_anti")

    // decontamination: eval emits stride-1 fingerprints (exact for any
    // shared span ≥ 47 chars against the corpus's stride-16 windows)
    val evFps = eval.filter(length(col("text")) >= 32)
      .select(explode(
        graft.functions.GraftFunctions.span_fps(col("text"), 32, 1)).as("fp"))
      .distinct()
    val corpusFps = deduped.select(col("doc_id"), explode(col("fps")).as("fp"))
    val contaminated =
      if (!p.bloomDecontam)
        corpusFps.join(broadcast(evFps), Seq("fp")).select(col("doc_id")).distinct()
      else {
        // qd12's shape: bits-sized bloom prunes map-side, exact verify
        // joins only the surviving fraction (shuffle_hash pins the
        // at-scale non-broadcast form)
        // materialize the exploded eval fingerprints once: the branch
        // reads them three times (size count, bloom build, verify join)
        val evMat = evFps.localCheckpoint()
        val bf = graft.functions.GraftFunctions.sizedBloomFilter(evMat, "fp")
        corpusFps
          .filter(graft.functions.GraftFunctions.bloom_might_contain(col("fp"), bf))
          .join(evMat.hint("shuffle_hash"), Seq("fp"))
          .select(col("doc_id")).distinct()
      }
    val clean = deduped.join(contaminated, Seq("doc_id"), "left_anti")
      .select((Seq(col("doc_id"), col("source"), col("n_tok")) ++
        (if (withPhash) Seq(col("phash")) else Nil) ++
        (if (withImp) Seq(col("lang"), col("ibuckets")) else Nil)): _*)
      .localCheckpoint(eager = false) // feeds the inventory AND the admission filter
    (clean, sig, sigAll)
  }

  /** Mixture: qt8's two-scan inventory-then-admit over the survivors.
    * Inventory rates are computed over whatever survived the membrane
    * chain handed in, so upstream stages compose freely. */
  private[graft] def mixtureAdmit(clean: DataFrame, p: Params): DataFrame = {
    val rates = clean.groupBy(col("source")).agg(sum(col("n_tok")).as("total_toks"))
      .withColumn("rate_ppm", least(lit(1000000L),
        expr(s"(${p.mixtureBudget} * ${p.weightPerMille} * 1000) div total_toks")))
      .select(col("source").as("r_source"), col("rate_ppm"))
    // null-safe rate join (round-17, the lmRefSource ADVICE's family):
    // groupBy puts NULL-source docs in their own rate group, but a
    // plain equi-join can never match them back — they silently
    // vanished from admission. `<=>` keeps them riding the mixture
    // under their own group's rate like any other source.
    clean
      .join(broadcast(rates), clean("source") <=> rates("r_source"))
      .filter(pmod(
        conv(substring(md5(col("doc_id").cast("string").cast("binary")), 1, 6), 16, 10)
          .cast("long"), lit(1000000)) < col("rate_ppm"))
      .select(col("doc_id"), col("source"), col("n_tok"))
  }

  /** Importance-ordered budget admission — qd19's selection cut
    * threaded into the composed chain, parameterized by
    * `Params(importanceBudget, targetLang)`: explode the pass-1 bucket
    * histograms (never re-reading text), estimate the target/raw
    * distributions over the SURVIVORS, weight, score, and admit in
    * (importance DESC, doc_id) order until the token budget is spent —
    * [[TextOps.runningOffsets]]' distributed prefix sum, never a
    * global single-partition window. */
  private[graft] def importanceAdmit(clean: DataFrame, p: Params): DataFrame = {
    val budget = p.importanceBudget.get
    // (doc_id, lang, bucket, c) — read twice (estimate + scoring
    // join), so materialize; narrow rows, no text anywhere
    val dbc = clean
      .select(col("doc_id"), col("lang"), explode(col("ibuckets")).as("b"))
      .select(col("doc_id"), col("lang"),
        col("b.bucket").as("bucket"), col("b.c").as("c"))
      .localCheckpoint(eager = false)
    // importanceFromBuckets already carries n_tok (Σ bucket counts =
    // the doc's token count, identical to pass-1's by construction) —
    // no extra join against clean for the budget weights
    // materialized: the prefix sum reads it twice (range sample +
    // shuffle) — and the real count sizes the range width, where the
    // post-join plan stats degenerate to the core count
    val scored = T.importanceFromBuckets(dbc, p.targetLang).localCheckpoint()
    val adm = T.runningOffsets(
      scored.select(col("doc_id"), col("n_tok").as("tok"), col("importance").as("key")),
      graft.Tables.widthForRows(scored.sparkSession, scored.count()))
      .filter(col("off") + col("tok") <= lit(budget))
      .select(col("doc_id"), col("key").as("importance"))
    clean.join(adm, Seq("doc_id"))
      .select(col("doc_id"), col("source"), col("n_tok"), col("importance"))
  }

  /** qc6's fixture token budget — sized to BIND at sf0.01 (the clean
    * set holds ~5.3k tokens, so the cut rejects ~40% of them) and to
    * stay FLAT as the corpus rungs grow, the qd19 convention:
    * selection gets more selective with scale while the output stays
    * bounded. */
  private[graft] val SelectionTokenBudget = 3000L

  /** qc1: the composed curation selection on the fixture corpus —
    * every 10th doc (doc_id % 10 = 7) plays the eval set (qd10's
    * split), the rest is the corpus; output is the admitted doc list
    * with its token count, which pins ALL five membrane stages —
    * quality gates, exact dedup, band near-dedup, span
    * decontamination, and the mixture hash admission — against one
    * DuckDB oracle in a single composed check. */
  def qc1_curation(s: org.apache.spark.sql.SparkSession, d: String): DataFrame = {
    val all = graft.Tables.spread(graft.Tables.documents(s, d))
    val corpus = all.filter(pmod(col("doc_id"), lit(10)) =!= 7)
    val ev = all.filter(pmod(col("doc_id"), lit(10)) === 7)
      .select(col("doc_id"), col("text"))
    admitted(corpus, ev, Params()).orderBy("doc_id")
  }

  /** qc5: [[qc1_curation]] under the QUALITY-CANONICAL keep rule
    * (round-12 ask #2) — qd17's keep-the-best-copy decision threaded
    * into the composed membrane: the band near-dedup seam keeps each
    * bucket's (quality DESC, doc_id ASC) best instead of the min id,
    * with qt2's integer stopword quality computed inside the same
    * pass-1 scan. Everything else — quality gates, exact dedup,
    * decontam, mixture — is qc1's chain verbatim, so the two results
    * differ EXACTLY where quality displaced a keep (on the sf0.01
    * fixture: doc 450 admitted in place of doc 92; CurationSpec pins
    * displacement > 0 structurally). */
  def qc5_quality_curation(s: org.apache.spark.sql.SparkSession, d: String): DataFrame = {
    val all = graft.Tables.spread(graft.Tables.documents(s, d))
    val corpus = all.filter(pmod(col("doc_id"), lit(10)) =!= 7)
    val ev = all.filter(pmod(col("doc_id"), lit(10)) === 7)
      .select(col("doc_id"), col("text"))
    admitted(corpus, ev, Params(qualityCanonical = true)).orderBy("doc_id")
  }

  /** qc6: the PRODUCTION admission tail — [[qc5_quality_curation]]'s
    * quality-canonical membrane with qd19's importance-ordered budget
    * selection in place of the rate-based mixture (round-13 ask #3):
    * the full curateToShards chain a targeted pretraining run executes
    * — quality gates → best-copy dedup → decontam → DSIR selection to
    * a token budget — oracle-gated end to end. The importance signal
    * rides pass 1 as a row-local bucket histogram, so the one-scan
    * discipline is unchanged (CurationSpec re-pins it on this path). */
  def qc6_selected_curation(s: org.apache.spark.sql.SparkSession, d: String): DataFrame = {
    val all = graft.Tables.spread(graft.Tables.documents(s, d))
    val corpus = all.filter(pmod(col("doc_id"), lit(10)) =!= 7)
    val ev = all.filter(pmod(col("doc_id"), lit(10)) === 7)
      .select(col("doc_id"), col("text"))
    admitted(corpus, ev, Params(qualityCanonical = true,
      importanceBudget = Some(SelectionTokenBudget))).orderBy("doc_id")
  }

  /** qc2: MULTIMODAL curation — qc1's text chain plus the two other
    * modality membranes, composed in rejection-cost order:
    *
    *   quality → exact/band text dedup → span decontam   (qc1 stages)
    *   → perceptual media dedup (qm3's banded Hamming-≤3 pairs over
    *     the payload phash computed inside the SAME text pass;
    *     larger doc_id of any near-dup pair loses)
    *   → embedding near-dup (qd13's machinery: qs3's deterministic
    *     centroids, each surviving doc's vector probes its ProbeCells
    *     nearest cells — broadcast map-side pass; the second probe
    *     catches boundary-straddling pairs — then pairs are generated
    *     cell-locally under the [[Dedup.CellCap]] member prefix and
    *     the larger doc_id of any rounded-cosine ≥ tau pair loses;
    *     docs without an embedding pass through, like unhashable
    *     payloads)
    *   → mixture admission (qt8)
    *
    * Scan discipline: text is still read exactly ONCE (the phash rides
    * pass 1); the embeddings table is read twice (corpus vectors + the
    * tiny centroid subset — a separate small table in production).
    * Pair generation is capped per band bucket (media) and per probe
    * cell (embeddings): the same audited shapes as qm3 and qd13 —
    * never corpus-quadratic, O(cap²) even on a degenerate one-cell
    * corpus (CurationSpec floods one cell to prove it). */
  /** qd13-shaped candidate generation, the seam shared by [[qc2_multimodal_curation]]'s
    * embedding membrane and CurationSpec's one-cell flood: each
    * (doc_id, embedding, nrm) row probes its `probes` nearest centroids
    * (row-local fold over one broadcast quantizer row), the `cap`
    * member prefix bounds every cell, and pairs are generated
    * cell-locally — O(cap²) per cell even when a degenerate corpus
    * collapses into one cell.
    *
    * The cap prefix is ordered by CONTENT HASH (md5 of the id, id
    * tie-break), not by raw id: IvfScaleBench's planted-pair audit
    * showed id-order eviction is catastrophic for a streaming corpus —
    * once occupancy passes the cap, the HIGHEST ids (the newest
    * documents) are evicted from every saturated cell and lose dedup
    * coverage entirely (0/200 planted cos-0.95 pairs found at the 10×
    * rung). Hash order keeps eviction unbiased — saturation degrades
    * recall proportionally instead of zeroing it for the newest docs —
    * and stays exactly reproducible in the DuckDB oracle (same md5,
    * same hex collation). Callers who must not saturate at all size
    * the cap from expected occupancy: [[Dedup.occupancyCap]]. */
  private[graft] def embedCandidatePairs(edocs: DataFrame, cents: DataFrame,
      cap: Int = Dedup.CellCap, probes: Int = Dedup.ProbeCells): DataFrame = {
    val (raw, w) = embedPairsFrom(edocs, cents, cap, probes, withVectors = false)
    raw.select(col("id_a"), col("id_b"))
      .repartition(w, col("id_a"), col("id_b")).distinct()
  }

  /** [[embedCandidatePairs]] with the exact rounded-cosine computed
    * INSIDE the pair self-join (round-17, guide §2.4/§8): the
    * historical two-step — emit bare (id_a, id_b), then join the
    * vectors back by each side's id — planned as two sort-merge joins
    * over the statless checkpoint frames, i.e. FOUR more exchanges and
    * two sorts, and at scale it moves the pair frame three times
    * (dedupe + two verify joins) where this form moves it once.
    * Carrying (embedding, nrm) through the cell exchange costs
    * probes·|edocs| vector copies — far below the pair-frame traffic
    * it deletes (occupancy ≫ 2·probes whenever near-dup banding is
    * worth running). A pair sharing two probe cells computes its dot
    * twice and the duplicates collapse in the same (id_a, id_b)
    * dedupe: double arithmetic over identical inputs is bit-identical,
    * so the distinct sees one value. Emits (id_a, id_b, rcos) with
    * rcos = round(⟨a,b⟩/(‖a‖‖b‖), 6) — the formula qd13 and the
    * qc2/qc4 embedding membrane both gate on. */
  private[graft] def embedCandidatePairsScored(edocs: DataFrame,
      cents: DataFrame, cap: Int = Dedup.CellCap,
      probes: Int = Dedup.ProbeCells): DataFrame = {
    val (raw, w) = embedPairsFrom(edocs, cents, cap, probes, withVectors = true)
    raw.withColumn("rcos", round(Similarity.dot(col("ea"), col("eb"))
        / (col("na") * col("nb")), 6))
      .select(col("id_a"), col("id_b"), col("rcos"))
      .repartition(w, col("id_a"), col("id_b")).distinct()
  }

  /** Shared capped multi-probe pair generation behind the two entry
    * points above: raw self-joined pairs (repeating once per shared
    * probe cell — callers project then dedupe at the returned width)
    * plus the workload-derived width. `withVectors` threads each
    * side's (embedding, nrm) through the cell exchange as
    * (ea, na)/(eb, nb) so the scored form never joins them back. */
  private def embedPairsFrom(edocs: DataFrame, cents: DataFrame,
      cap: Int, probes: Int, withVectors: Boolean): (DataFrame, Int) = {
    val vecCols = if (withVectors) Seq(col("embedding"), col("nrm")) else Nil
    val probed = edocs.crossJoin(broadcast(IvfIndex.centroidArray(cents)))
      .select(col("doc_id") +: vecCols :+
        explode(IvfIndex.nearestCells(col("embedding"), col("nrm"), probes,
          rounded = true)).as("cell"): _*)
    // narrow (doc_id, cell) rows; the self-join reads it twice
    val capped0 = probed
      .withColumn("rk", row_number().over(
        Window.partitionBy("cell")
          .orderBy(md5(col("doc_id").cast("string")), col("doc_id"))))
      .filter(col("rk") <= cap).drop("rk")
      .localCheckpoint()
    // pair-stage width (round-17, guide §2.2/§2.5): the self-join
    // inflates each (doc_id, cell) row to ≤ cap cell-mates — a
    // compute-dense stage whose INPUT bytes are tiny, so AQE's
    // size-based coalescing ran it (and the distinct + verify joins
    // downstream) as SINGLE tasks: three ~1.2–1.7 s one-task jobs in
    // qd13's profile at sf0.1. Width from the pair-workload upper
    // bound |capped|·cap/2 (the count is a cached-block scan of the
    // checkpoint just taken), never from the input bytes; explicit
    // repartition widths are exempt from AQE coalescing. Clamped to
    // 4× defaultParallelism — pair work is CPU-bound, so core-count
    // multiples are the right unit at every scale.
    val s = edocs.sparkSession
    val w = s.conf.getOption("graft.pairs.partitions").map(_.toInt).getOrElse {
      val n = capped0.count()
      (n * cap / 2 / PairsPerTask)
        .min(4L * s.sparkContext.defaultParallelism).max(1L).toInt
    }
    val capped = capped0.repartition(w, col("cell"))
    // a pair sharing both probe cells surfaces once per shared cell —
    // the callers' (id_a, id_b)-keyed dedupe collapses them. Their
    // dedupe exchange gets the SAME explicit width: duplicate pairs
    // come from DIFFERENT cells (hence different partitions), so the
    // partial-aggregate a bare .distinct() would add before its
    // exchange cannot drop them anyway — and the bare form's exchange
    // is AQE-coalesced back to one task.
    val sideA = Seq(col("a.doc_id").as("id_a")) ++
      (if (withVectors) Seq(col("a.embedding").as("ea"), col("a.nrm").as("na")) else Nil)
    val sideB = Seq(col("b.doc_id").as("id_b")) ++
      (if (withVectors) Seq(col("b.embedding").as("eb"), col("b.nrm").as("nb")) else Nil)
    (capped.as("a").join(capped.as("b"),
        col("a.cell") === col("b.cell") && col("a.doc_id") < col("b.doc_id"))
      .select(sideA ++ sideB: _*), w)
  }

  /** Candidate pairs one pair-stage task should score — with 64-dim
    * native dots a pair costs ~1 µs (qd13 measured 1.5 M pairs ≈
    * 1.7 s in one task), so a task at this size runs ~100 ms: small
    * enough to spread a fixture's pair load over the cores, big
    * enough that task overhead stays noise. */
  private[graft] val PairsPerTask = 100000L

  def qc2_multimodal_curation(s: org.apache.spark.sql.SparkSession,
      d: String): DataFrame =
    multimodalAdmitted(s, d,
      phashBits = 32, mediaCap = Multimodal.PhashBandCap, bandBits = 8)

  /** qc4: [[qc2_multimodal_curation]] with its media membrane at the
    * PRODUCTION pins — 64-bit payload hash, 16-bit bands (4 × 65536
    * buckets: saturation deferred 256× past the 8-bit fixture regime
    * that the round-10 rung audit measured decaying), and the
    * skew-sized [[Multimodal.PhashHotCap]] — so the flagship composed
    * query is oracle-checked under the regime a 100 TB corpus actually
    * runs, not just the fixture one. Same composed chain, same embed
    * membrane, same mixture tail; only the media levers move (qm5's
    * relationship to qm4, applied to the composed pipeline). */
  def qc4_multimodal_wide(s: org.apache.spark.sql.SparkSession,
      d: String): DataFrame =
    multimodalAdmitted(s, d,
      phashBits = 64, mediaCap = Multimodal.PhashHotCap, bandBits = 16)

  /** The shared composed multimodal chain behind qc2 (fixture media
    * pins) and qc4 (production media pins): text membrane with the
    * phash riding pass 1 at `phashBits` blocks → capped band media
    * dedup at `bandBits`-bit bands / `mediaCap` members → capped
    * embedding near-dup → mixture admission. */
  private[graft] def multimodalAdmitted(s: org.apache.spark.sql.SparkSession,
      d: String, phashBits: Int, mediaCap: Int, bandBits: Int): DataFrame = {
    val all = graft.Tables.spread(graft.Tables.documents(s, d))
    val corpus = all.filter(pmod(col("doc_id"), lit(10)) =!= 7)
    val ev = all.filter(pmod(col("doc_id"), lit(10)) === 7)
      .select(col("doc_id"), col("text"))
    val p = Params()
    val clean = cleanedSignals(corpus, ev, p, phashBits)

    // media membrane: qm3's capped band pairs over the clean set
    val mediaLosers = Multimodal.phashPairs(
        clean.filter(col("phash").isNotNull).select(col("doc_id"), col("phash")),
        mediaCap, bandBits)
      .select(col("id_b").as("doc_id")).distinct()
    val afterMedia = clean.join(mediaLosers, Seq("doc_id"), "left_anti")
      .select(col("doc_id"), col("source"), col("n_tok"))
      .localCheckpoint(eager = false) // feeds the embed join + the final anti join

    // embedding membrane: qd13's scale shape via the SHARED machinery —
    // multi-probe cells (IvfIndex.topCells, a row-local fold over ONE
    // broadcast quantizer row: the second probe catches near pairs
    // straddling a cell boundary that single-cell assignment loses) and
    // the Dedup.CellCap member prefix, so a degenerate corpus that
    // collapses into one cell costs O(cap²), never O(N²). Cell-local
    // pairs at rounded cosine ≥ tau, min doc_id survives. Probe width
    // and cap are both encoded in the oracle SQL below, exactly as
    // qd13's are.
    val enm = graft.Tables.embeddings(s, d)
      .withColumn("nrm", sqrt(Similarity.norm2(col("embedding"))))
    val cents = enm.filter(pmod(col("vec_id"), lit(100)) === 7)
      .select(col("vec_id").as("cid"), col("embedding").as("ce"), col("nrm").as("cn"))
    // single consumer since round-17 (the probe assignment): the
    // rounded cosine rides the pair self-join itself
    // (embedCandidatePairsScored), so the two vector joins back onto
    // edocs — and the checkpoint they forced — are gone
    val edocs = afterMedia.select(col("doc_id"))
      .join(enm.select(col("vec_id").as("doc_id"), col("embedding"), col("nrm")), Seq("doc_id"))
    val embedLosers = embedCandidatePairsScored(edocs, cents)
      .filter(col("rcos") >= p.cosTau)
      .select(col("id_b").as("doc_id")).distinct()

    mixtureAdmit(afterMedia.join(embedLosers, Seq("doc_id"), "left_anti"), p)
      .orderBy("doc_id")
  }

  /** Per-cell admission cap for [[qc3_semantic_balance]] — small
    * enough that it binds on the sf0.01 fixture (cells hold ~100
    * vectors), so the oracle actually exercises the cap path. */
  private val BalanceCap = 8

  /** qc3: semantic-diversity (cluster-balanced) corpus selection — the
    * SemDeDup-shaped pass that keeps a training mix from being swamped
    * by one over-represented semantic region: assign every vector to
    * its nearest coarse-quantizer cell, then admit at most
    * [[BalanceCap]] per cell, ranked by the content-addressed md5 key
    * q36's sampler uses (deterministic: re-runs and incremental
    * rebuilds admit the same vectors; no RNG state). Output is the
    * per-cell audit a balancing pass reports: population, admitted
    * count, admitted-id checksum, and the rank-1 pick.
    *
    * Scale shape: assignment is IvfIndex's row-local fold over ONE
    * broadcast quantizer row (no N×C explosion); per-cell admission
    * runs through the native GroupTopK — bounded heaps map-side, so
    * the cell exchange carries ≤ cap × partitions rows per cell, never
    * the cell population. The obvious row_number-over-cell window
    * would funnel each cell's full population through one task —
    * cells are few by construction, the exact single-task funnel
    * qt10's rewrite killed. Reference analog: the reference balances
    * per-machine report rows by top-N per group in T-SQL
    * (Prensas.py:285-302); this is the corpus-curation form. */
  def qc3_semantic_balance(s: org.apache.spark.sql.SparkSession, d: String): DataFrame = {
    val emb = graft.Tables.embeddings(s, d)
      .withColumn("nrm", sqrt(Similarity.norm2(col("embedding"))))
    val cents = emb.filter(pmod(col("vec_id"), lit(100)) === 7)
      .select(col("vec_id").as("cid"), col("embedding").as("ce"), col("nrm").as("cn"))
    val assigned = emb.crossJoin(broadcast(IvfIndex.centroidArray(cents)))
      .withColumn("cell", IvfIndex.bestCell(col("embedding"), col("nrm"), rounded = true))
      .select(col("vec_id"), col("cell"), md5(col("vec_id").cast("string")).as("hk"))
    val admitted = graft.plans.GroupTopK.topK(assigned, Seq("cell"),
      Seq(col("hk").asc, col("vec_id").asc), BalanceCap)
    val totals = assigned.groupBy(col("cell")).agg(count(lit(1)).as("n_vectors"))
    val adm = admitted.groupBy(col("cell")).agg(
      count(lit(1)).as("n_admitted"),
      sum(col("vec_id")).as("sum_admitted"),
      max(when(col("rank") === 1, col("vec_id"))).as("top_admit"))
    totals.join(adm, Seq("cell")).orderBy("cell")
  }

  /** qc7: split-tagged shard manifests (round-14 verdict #3) — the
    * functional single-version twin of [[curateToShards]] with
    * `splitLedgerDir` set: qc1's membrane + mixture admission, every
    * admitted doc tagged with its dup-CLUSTER split (the ledger's
    * version-1 assignment: [[Dedup.hashSplitOf]] of the component
    * label over the chain's own equivalence — exact content edges ∪
    * band-bucket edges from pass-1 signals), bins packed per split
    * (qt12's prefix rule inside each split), shard = bin % 4. Output
    * is the per-(split, shard) manifest a training loader verifies:
    * leakage-safe BY LAYOUT — no shard mixes splits, and the sticky
    * ledger (ShardsSpec's two-version case) keeps every re-shard's
    * train set a superset of the last. */
  def qc7_split_shards(s: org.apache.spark.sql.SparkSession, d: String): DataFrame = {
    val all = graft.Tables.spread(graft.Tables.documents(s, d))
    val corpus = all.filter(pmod(col("doc_id"), lit(10)) =!= 7)
    val ev = all.filter(pmod(col("doc_id"), lit(10)) === 7)
      .select(col("doc_id"), col("text"))
    val p = Params()
    val (clean, sig) = cleanedSignalsAndSig(corpus, ev, p, phashBits = 0)
    val adm = mixtureAdmit(clean, p)
    val splits = membersFromSignals(sig)
      .withColumn("split", Dedup.hashSplitOf(col("cluster_id")))
      .select(col("doc_id"), col("split"))
    val admS = adm.join(splits, Seq("doc_id"))
    Shards.manifestSplits(
      Shards.assign(splitBins(admS, p.packCapacity), nShards = 4))
  }

  /** qc8: qc1's composed curation with the SEMANTIC decontamination
    * layer threaded in (qd21's operator, composed) — the production
    * decontam stack runs BOTH granularities: span fingerprints catch
    * verbatim ≥ 47-char copies (qc1's stage), the embedding layer
    * catches the paraphrased/translated eval contamination
    * fingerprints structurally cannot see. Chain: quality gates →
    * exact/band dedup → span decontam → SEMANTIC decontam (drop clean
    * survivors whose embedding sits within [[Dedup.SemTau]] of any
    * eval doc's — qd21's broadcast-probe shape: eval embeddings
    * multi-probe and broadcast, the clean side assigns map-side, the
    * corpus never shuffles for it) → mixture admission. Text is still
    * scanned exactly once; the embeddings table joins the clean id
    * set by doc_id (qc2's seam — docs without an embedding pass
    * through, like unhashable payloads). */
  def qc8_semantic_curation(s: org.apache.spark.sql.SparkSession, d: String): DataFrame = {
    val all = graft.Tables.spread(graft.Tables.documents(s, d))
    val corpus = all.filter(pmod(col("doc_id"), lit(10)) =!= 7)
    val ev = all.filter(pmod(col("doc_id"), lit(10)) === 7)
      .select(col("doc_id"), col("text"))
    val p = Params()
    val clean = cleanedSignals(corpus, ev, p, phashBits = 0)
    val enm = graft.Tables.embeddings(s, d)
      .withColumn("nrm", sqrt(Similarity.norm2(col("embedding"))))
      .localCheckpoint(eager = false) // feeds quantizer, eval probes, clean assign
    val cents = enm.filter(pmod(col("vec_id"), lit(100)) === 7)
      .select(col("vec_id").as("cid"), col("embedding").as("ce"), col("nrm").as("cn"))
    val evCells = enm.filter(pmod(col("vec_id"), lit(10)) === 7)
      .crossJoin(broadcast(IvfIndex.centroidArray(cents)))
      .select(col("embedding").as("ee"), col("nrm").as("en"),
        explode(IvfIndex.nearestCells(col("embedding"), col("nrm"),
          Dedup.ProbeCells, rounded = true)).as("cell"))
    val cp = clean.select(col("doc_id"))
      .join(enm.select(col("vec_id").as("doc_id"), col("embedding"), col("nrm")),
        Seq("doc_id"))
      .crossJoin(broadcast(IvfIndex.centroidArray(cents)))
      .withColumn("cell", IvfIndex.bestCell(col("embedding"), col("nrm"), rounded = true))
    val semLosers = cp.join(broadcast(evCells), Seq("cell"))
      .filter(round(Similarity.dot(col("ee"), col("embedding"))
        / (col("en") * col("nrm")), 6) >= Dedup.SemTau)
      .select(col("doc_id")).distinct()
    // materialized like `clean`: mixtureAdmit reads its input twice,
    // and the semantic-loser chain would re-run in both branches
    // (qc9's PlanAudit finding, same shape here)
    val gated = clean.join(semLosers, Seq("doc_id"), "left_anti").localCheckpoint(eager = false)
    mixtureAdmit(gated, p).orderBy("doc_id")
  }

  /** qc9: qc1's composed curation with the REFERENCE-LM quality gate
    * threaded in (qt20's operator, composed — round-15 verdict #2):
    * the CCNet-style perplexity filter as a membrane stage. Chain:
    * quality gates → exact/band dedup → span decontam → LM gate (drop
    * clean survivors scoring under the 2-bits-per-bigram line against
    * a bigram model trained on the corpus's REFERENCE slice,
    * doc_id % 5 = 0 — qt20's curated-subset stand-in; reference docs
    * pass the gate by definition) → mixture admission.
    *
    * Scan accounting (the qc8 convention): the LM stage re-reads text
    * for the CLEAN SURVIVORS only — the same budget slot the shard
    * writer's payload re-read occupies in curateToShards, so the
    * composed query stays at two text touches. The PRODUCTION path
    * pays less still: the model is trained once and FROZEN
    * ([[TextOps.saveLm]]/[[TextOps.loadLm]] — QualitySpec pins saved ≡
    * in-query), so scoring a new corpus version is one bigram-keyed
    * join against the loaded table, never a reference re-scan. */
  def qc9_lm_curation(s: org.apache.spark.sql.SparkSession, d: String): DataFrame = {
    val all = graft.Tables.spread(graft.Tables.documents(s, d))
    val corpus = all.filter(pmod(col("doc_id"), lit(10)) =!= 7)
    val ev = all.filter(pmod(col("doc_id"), lit(10)) === 7)
      .select(col("doc_id"), col("text"))
    val p = Params()
    val clean = cleanedSignals(corpus, ev, p, phashBits = 0)
    // clean-survivor text, read once for BOTH the model slice and the
    // scored slice (the reference slice is corpus data too)
    val ctext = corpus.select(col("doc_id"), col("source"), col("text"))
      .join(clean.select(col("doc_id")), Seq("doc_id"))
      .localCheckpoint(eager = false)
    val isRef = pmod(col("doc_id"), lit(5)) === 0
    val lowLm = T.lmScoreDocs(ctext.filter(!isRef), T.lmTrain(ctext.filter(isRef)))
      .filter(col("score") < lit(2) * col("n_bg"))
      .select(col("doc_id"))
    // materialized like `clean` itself: mixtureAdmit reads its input
    // twice (inventory rates + the admission filter), and an
    // unmaterialized gate would re-run the whole LM scoring chain in
    // both branches (PlanAudit caught the doubled sub-tree)
    val gated = clean.join(lowLm, Seq("doc_id"), "left_anti").localCheckpoint(eager = false)
    mixtureAdmit(gated, p).orderBy("doc_id")
  }

  val queries: Map[String, (org.apache.spark.sql.SparkSession, String) => DataFrame] =
    Map("qc1_curation" -> (qc1_curation _),
      "qc2_multimodal_curation" -> (qc2_multimodal_curation _),
      "qc3_semantic_balance" -> (qc3_semantic_balance _),
      "qc4_multimodal_wide" -> (qc4_multimodal_wide _),
      "qc5_quality_curation" -> (qc5_quality_curation _),
      "qc6_selected_curation" -> (qc6_selected_curation _),
      "qc7_split_shards" -> (qc7_split_shards _),
      "qc8_semantic_curation" -> (qc8_semantic_curation _),
      "qc9_lm_curation" -> (qc9_lm_curation _))

  /** The text-membrane CTE chain (corpus split → quality → exact/band
    * dedup → span decontam), shared verbatim by the qc1/qc2/qc4/qc5
    * oracles so they cannot desynchronize. Ends at `clean`.
    * `qualityKeep` switches ONLY the band-dedup keep rule to qc5's
    * (quality DESC, doc_id ASC) bucket argmax — the quality expression
    * is qd17's oracle fragment verbatim (one formula, both engines);
    * exact dedup stays MIN(doc_id) in both modes because identical
    * text has identical quality, so the argmax provably ties to the
    * min id. */
  private def textChainSql(qualityKeep: Boolean): String = {
    val qualityCol =
      if (!qualityKeep) ""
      else s", ${T.StopwordQualitySql} AS quality"
    val bandKeep =
      if (!qualityKeep)
        """bmin AS (SELECT band, key, MIN(doc_id) AS min_id FROM bands GROUP BY 1, 2),
          |losers AS (
          | SELECT DISTINCT b.doc_id FROM bands b JOIN bmin USING (band, key)
          | WHERE b.doc_id > bmin.min_id),""".stripMargin
      else
        """bq AS (
          | SELECT b.doc_id, b.band, b.key, p.quality
          | FROM bands b JOIN pass p USING (doc_id)),
          |bbest AS (
          | SELECT band, key, doc_id AS best_id FROM bq
          | QUALIFY row_number() OVER (PARTITION BY band, key
          |   ORDER BY quality DESC, doc_id ASC) = 1),
          |losers AS (
          | SELECT DISTINCT bq.doc_id FROM bq JOIN bbest USING (band, key)
          | WHERE bq.doc_id <> bbest.best_id),""".stripMargin
    s"""WITH corpus AS (
        | SELECT doc_id, source, lang, text FROM documents WHERE doc_id % 10 <> 7),
        |ev AS (SELECT text FROM documents WHERE doc_id % 10 = 7),
        |t AS (
        | SELECT doc_id, source, lang, text,
        |  list_filter(string_split(lower(text), ' '), x -> length(x) > 0) AS toks
        | FROM corpus),
        |q AS (
        | SELECT doc_id, source, lang, text, toks, CAST(len(toks) AS BIGINT) AS n_tok,
        |  CAST(len(toks) AS BIGINT) - CAST(len(list_distinct(toks)) AS BIGINT) AS n_dup
        | FROM t WHERE len(toks) >= 5),
        |qb AS (
        | SELECT doc_id, source, lang, text, n_tok, n_dup,
        |  CAST(list_max(list_transform(list_distinct(bg),
        |   x -> len(list_filter(bg, y -> y = x)))) AS BIGINT) AS max_bg
        | FROM (SELECT *, list_transform(range(CAST(n_tok AS INT) - 1),
        |   i -> toks[CAST(i AS INT) + 1] || ' ' || toks[CAST(i AS INT) + 2]) AS bg FROM q)),
        |pass AS (
        | SELECT doc_id, source, lang, text, n_tok$qualityCol FROM qb
        | WHERE n_dup * 2 < n_tok AND max_bg * 100 // (n_tok - 1) <= 60),
        |exwin AS (SELECT md5(text) AS ck, MIN(doc_id) AS win FROM pass GROUP BY 1),
        |ex AS (SELECT p.* FROM pass p JOIN exwin w ON p.doc_id = w.win),
        |sh AS (
        | SELECT DISTINCT doc_id, concat_ws(' ', tk[i+1], tk[i+2], tk[i+3]) AS shingle
        | FROM (
        |  SELECT doc_id, tk, unnest(range(0, greatest(len(tk) - 3, 0) + 1)) AS i
        |  FROM (SELECT doc_id, string_split(lower(substr(text, 1, 120)), ' ') AS tk
        |        FROM ex))
        | WHERE length(concat_ws(' ', tk[i+1], tk[i+2], tk[i+3])) > 0),
        |sigs AS (
        | SELECT doc_id,
        |  MIN(md5('0|' || shingle)) AS h0, MIN(md5('1|' || shingle)) AS h1,
        |  MIN(md5('2|' || shingle)) AS h2, MIN(md5('3|' || shingle)) AS h3,
        |  MIN(md5('4|' || shingle)) AS h4, MIN(md5('5|' || shingle)) AS h5
        | FROM sh GROUP BY 1),
        |bands AS (
        | SELECT doc_id, 0 AS band, md5(h0 || h1 || h2) AS key FROM sigs
        | UNION ALL
        | SELECT doc_id, 1 AS band, md5(h3 || h4 || h5) AS key FROM sigs),
        |$bandKeep
        |dd AS (SELECT * FROM ex WHERE doc_id NOT IN (SELECT doc_id FROM losers)),
        |cfp AS (
        | SELECT DISTINCT doc_id, md5(substr(text, CAST(1 + 16 * i AS INT), 32)) AS fp
        | FROM (SELECT doc_id, text, unnest(range(0, (length(text) - 32) // 16 + 1)) AS i
        |       FROM dd WHERE length(text) >= 32)),
        |efp AS (
        | SELECT DISTINCT md5(substr(text, CAST(1 + i AS INT), 32)) AS fp
        | FROM (SELECT text, unnest(range(0, length(text) - 31)) AS i
        |       FROM ev WHERE length(text) >= 32)),
        |cont AS (SELECT DISTINCT doc_id FROM cfp JOIN efp USING (fp)),
        |clean AS (SELECT * FROM dd WHERE doc_id NOT IN (SELECT doc_id FROM cont))""".stripMargin
  }

  /** Mixture tail over a named survivor CTE (qt8's hash admission). */
  private def mixtureTailSql(src: String) =
    s"""rates AS (
       | SELECT source,
       |  least(1000000, (20000 * 20 * 1000) // CAST(SUM(n_tok) AS BIGINT)) AS rate_ppm
       | FROM $src GROUP BY 1)
       |SELECT c.doc_id, c.source, c.n_tok
       |FROM $src c JOIN rates r ON c.source = r.source
       |WHERE ('0x' || substr(md5(CAST(c.doc_id AS VARCHAR)), 1, 6))::BIGINT % 1000000
       |      < r.rate_ppm
       |ORDER BY c.doc_id""".stripMargin

  private val sqlDot64 =
    "list_sum(list_transform(range(64), i -> CAST(%s[CAST(i AS INT) + 1]" +
      " AS DOUBLE) * CAST(%s[CAST(i AS INT) + 1] AS DOUBLE)))"

  /** qm3's phash/band/cap CTE chain over `clean`, parameterized by the
    * media levers exactly as [[multimodalAdmitted]] is: block count
    * (`nBits`), band width, member cap. Ends at `am` (the media
    * survivors). Bit 63 of a 64-bit hash is BIGINT's sign bit — DuckDB
    * refuses `1 << 63` as an overflow, so it rides the MIN_BIGINT
    * literal (qm5's rule). */
  private def mediaMembraneSql(nBits: Int, bandBits: Int, cap: Int) = {
    val bit =
      if (nBits == 64)
        "CASE WHEN i.b = 63 THEN (-9223372036854775808)::BIGINT ELSE 1::BIGINT << i.b END"
      else "1::BIGINT << i.b"
    s"""mph0 AS (SELECT doc_id, text, CAST(length(text) AS BIGINT) AS L
       |         FROM clean WHERE length(text) >= $nBits),
       |mblk AS (
       | SELECT doc_id, text, L, b.b AS b,
       |  (b.b * L) // $nBits AS off, ((b.b + 1) * L) // $nBits - (b.b * L) // $nBits AS n
       | FROM mph0, range($nBits) b(b)),
       |minten AS (
       | SELECT doc_id, L, b, n,
       |  list_sum(list_transform(range(1, CAST(n + 1 AS INT)),
       |    p -> ord(substr(text, CAST(off + p AS INT), 1)))) AS i
       | FROM mblk),
       |mtot AS (SELECT doc_id, SUM(i) // MAX(L) AS m FROM minten GROUP BY 1),
       |mph AS (
       | SELECT i.doc_id,
       |  CAST(SUM(CASE WHEN i.i // i.n > t.m
       |   THEN $bit ELSE 0::BIGINT END) AS BIGINT) AS phash
       | FROM minten i JOIN mtot t ON i.doc_id = t.doc_id GROUP BY 1),
       |mgm AS (
       | SELECT doc_id, phash, row_number() OVER (PARTITION BY phash
       |   ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS g_rk FROM mph),
       |mmem AS (SELECT doc_id, phash FROM mgm WHERE g_rk <= $cap),
       |mwithin AS (
       | SELECT b.doc_id FROM mmem a JOIN mmem b
       |  ON a.phash = b.phash AND a.doc_id < b.doc_id),
       |mbands AS (
       | SELECT phash, k.k AS k,
       |  (phash >> CAST($bandBits * k.k AS INT)) & ${(1L << bandBits) - 1} AS v
       | FROM (SELECT DISTINCT phash FROM mph) dh, range(4) k(k)),
       |mpruned AS (
       | SELECT * FROM mbands
       | QUALIFY row_number() OVER (PARTITION BY k, v
       |   ORDER BY md5(CAST(phash AS VARCHAR)), phash) <= $cap),
       |mhp AS (
       | SELECT DISTINCT a.phash AS ha, b.phash AS hb
       | FROM mpruned a JOIN mpruned b ON a.k = b.k AND a.v = b.v AND a.phash < b.phash
       | WHERE bit_count(xor(a.phash, b.phash)) <= 3),
       |mlosers AS (
       | SELECT doc_id FROM mwithin
       | UNION
       | SELECT CASE WHEN ma.doc_id < mb.doc_id THEN mb.doc_id ELSE ma.doc_id END AS doc_id
       | FROM mhp JOIN mmem ma ON ma.phash = mhp.ha JOIN mmem mb ON mb.phash = mhp.hb),
       |am AS (SELECT doc_id, source, n_tok FROM clean
       |       WHERE doc_id NOT IN (SELECT doc_id FROM mlosers)),""".stripMargin
  }

  /** The embed-membrane + mixture tail shared verbatim by the qc2 and
    * qc4 oracles (the media levers are the ONLY difference between the
    * two composed queries). */
  private def multimodalTailSql: String =
    s"""enm AS (
       | SELECT vec_id, embedding,
       |  sqrt(${sqlDot64.format("embedding", "embedding")}) AS nrm
       | FROM embeddings),
       |ecents AS (SELECT vec_id AS cid, embedding AS ce, nrm AS cn FROM enm
       |           WHERE vec_id % 100 = 7),
       |edocs AS (SELECT am.doc_id, e.embedding, e.nrm
       |          FROM am JOIN enm e ON am.doc_id = e.vec_id),
       |escored AS (
       | SELECT d.doc_id, c.cid,
       |  round(${sqlDot64.format("c.ce", "d.embedding")} / (c.cn * d.nrm), 6) AS crcos
       | FROM edocs d, ecents c),
       |eprobed AS (
       | SELECT doc_id, cid AS cell FROM escored
       | QUALIFY row_number() OVER (PARTITION BY doc_id
       |   ORDER BY crcos DESC, cid) <= ${Dedup.ProbeCells}),
       |ecapped AS (
       | SELECT doc_id, cell FROM eprobed
       | QUALIFY row_number() OVER (PARTITION BY cell
       |   ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) <= ${Dedup.CellCap}),
       |epairs AS (
       | SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
       | FROM ecapped a JOIN ecapped b
       |  ON a.cell = b.cell AND a.doc_id < b.doc_id),
       |elosers AS (
       | SELECT DISTINCT id_b AS doc_id
       | FROM epairs JOIN edocs da ON id_a = da.doc_id
       |             JOIN edocs db ON id_b = db.doc_id
       | WHERE round(${sqlDot64.format("da.embedding", "db.embedding")}
       |       / (da.nrm * db.nrm), 6) >= 0.4),
       |ae AS (SELECT * FROM am WHERE doc_id NOT IN (SELECT doc_id FROM elosers)),
       |""".stripMargin + mixtureTailSql("ae")

  val oracle: Map[String, String] = Map(
    "qc1_curation" ->
      (textChainSql(qualityKeep = false) + ",\n" + mixtureTailSql("clean")),
    // qc5 = qc1's chain with the band-dedup keep rule at qd17's
    // quality argmax — the ONLY difference between the two oracles is
    // the parameterized keep fragment, the qc2/qc4 shared-chain pattern
    "qc5_quality_curation" ->
      (textChainSql(qualityKeep = true) + ",\n" + mixtureTailSql("clean")),
    // qc6 = qc5's quality-canonical chain, then qt17's importance
    // fragment instantiated OVER the clean survivors (the shared
    // importanceSqlOf parameterization), then the budget window —
    // cum ≤ B in (importance DESC, doc_id) order, qd19's cut
    "qc6_selected_curation" ->
      (textChainSql(qualityKeep = true) + ",\n" +
        T.importanceSqlOf("clean", "en") + ",\n" +
        s"""sel AS (
           | SELECT c.doc_id, c.source, c.n_tok, s.importance,
           |  SUM(c.n_tok) OVER (ORDER BY s.importance DESC, c.doc_id ASC
           |    ROWS UNBOUNDED PRECEDING) AS cum
           | FROM clean c JOIN imp_scores s ON c.doc_id = s.doc_id)
           |SELECT doc_id, source, n_tok, importance FROM sel
           |WHERE cum <= $SelectionTokenBudget ORDER BY doc_id""".stripMargin),
    // qc2 = the same text chain, then qm3's phash/band/cap CTEs over
    // `clean`, then qs3's centroid-cell assignment + cell-local cosine
    // pairs, then the same mixture tail
    "qc2_multimodal_curation" ->
      (textChainSql(qualityKeep = false) + ",\n" +
        mediaMembraneSql(32, 8, Multimodal.PhashBandCap) + "\n" +
        multimodalTailSql),
    // qc4 = qc2 with the media membrane at the production pins:
    // 64-bit hash, 16-bit bands, the skew-sized hot cap
    "qc4_multimodal_wide" ->
      (textChainSql(qualityKeep = false) + ",\n" +
        mediaMembraneSql(64, 16, Multimodal.PhashHotCap) + "\n" +
        multimodalTailSql),
    // qc8 = qc1's chain, then qd21's broadcast-probe semantic layer
    // over the clean survivors (eval = the SAME doc_id % 10 = 7 split,
    // at embedding granularity), then the shared mixture tail
    "qc8_semantic_curation" ->
      (textChainSql(qualityKeep = false) + ",\n" +
        s"""enm AS (
           | SELECT vec_id, embedding,
           |  sqrt(${sqlDot64.format("embedding", "embedding")}) AS nrm
           | FROM embeddings),
           |scents AS (SELECT vec_id AS cid, embedding AS ce, nrm AS cn FROM enm
           |           WHERE vec_id % 100 = 7),
           |sscored AS (
           | SELECT enm.vec_id, scents.cid,
           |  round(${sqlDot64.format("scents.ce", "enm.embedding")} / (scents.cn * enm.nrm), 6) AS crcos
           | FROM enm, scents),
           |sevp AS (
           | SELECT vec_id AS eid, cid AS cell FROM sscored WHERE vec_id % 10 = 7
           | QUALIFY row_number() OVER (PARTITION BY vec_id
           |   ORDER BY crcos DESC, cid) <= ${Dedup.ProbeCells}),
           |scp AS (
           | SELECT vec_id AS doc_id, cid AS cell FROM sscored
           | WHERE vec_id IN (SELECT doc_id FROM clean)
           | QUALIFY row_number() OVER (PARTITION BY vec_id
           |   ORDER BY crcos DESC, cid) = 1),
           |slosers AS (
           | SELECT DISTINCT doc_id FROM (
           |  SELECT c.doc_id,
           |   round(${sqlDot64.format("q.embedding", "v.embedding")} / (q.nrm * v.nrm), 6) AS rcos
           |  FROM scp c JOIN sevp e ON c.cell = e.cell
           |   JOIN enm q ON e.eid = q.vec_id JOIN enm v ON c.doc_id = v.vec_id)
           | WHERE rcos >= ${Dedup.SemTau}),
           |sclean AS (
           | SELECT * FROM clean WHERE doc_id NOT IN (SELECT doc_id FROM slosers)),
           |""".stripMargin + mixtureTailSql("sclean")),
    // qc9 = qc1's chain, then qt20's bigram-model CTEs instantiated
    // over the clean survivors (model = the doc_id % 5 = 0 reference
    // slice; score = Σ length(bin(1+c))−1, the integer-exact ⌊log₂⌋),
    // the 2-bits-per-bigram gate on the non-reference side, then the
    // shared mixture tail
    "qc9_lm_curation" ->
      (textChainSql(qualityKeep = false) + ",\n" +
        """lmtok AS (
          | SELECT doc_id,
          |  list_filter(string_split(lower(text), ' '), x -> length(x) > 0) AS toks
          | FROM clean),
          |lmbg AS (
          | SELECT doc_id,
          |  unnest(list_transform(range(len(toks) - 1),
          |    i -> toks[CAST(i AS INT) + 1] || ' ' || toks[CAST(i AS INT) + 2])) AS bg
          | FROM lmtok WHERE len(toks) >= 2),
          |lmmodel AS (
          | SELECT bg, CAST(COUNT(*) AS BIGINT) AS c FROM lmbg
          | WHERE doc_id % 5 = 0 GROUP BY 1),
          |lmsc AS (
          | SELECT b.doc_id,
          |  CAST(SUM(length(bin(1 + COALESCE(m.c, 0))) - 1) AS BIGINT) AS score,
          |  CAST(COUNT(*) AS BIGINT) AS n_bg
          | FROM lmbg b LEFT JOIN lmmodel m ON b.bg = m.bg
          | WHERE b.doc_id % 5 <> 0 GROUP BY 1),
          |lmlow AS (SELECT doc_id FROM lmsc WHERE score < 2 * n_bg),
          |lclean AS (
          | SELECT * FROM clean WHERE doc_id NOT IN (SELECT doc_id FROM lmlow)),
          |""".stripMargin + mixtureTailSql("lclean")),
    // qc7 = qc1's chain, then the chain's OWN dup components (exact
    // content edges through each content_key's min ∪ the chain's
    // `bands` buckets — full pairs here, star edges engine-side: same
    // components), the cluster-hash split, per-split prefix bins
    // (qt12's rule partitioned by split), shard = bin % 4
    "qc7_split_shards" ->
      (s"WITH RECURSIVE ${textChainSql(qualityKeep = false).stripPrefix("WITH ")},\n" +
        s"""exedges AS (
           | SELECT w.win AS id_a, p.doc_id AS id_b
           | FROM pass p JOIN exwin w ON md5(p.text) = w.ck
           | WHERE p.doc_id <> w.win),
           |cpairs AS (
           | SELECT id_a, id_b FROM exedges
           | UNION
           | SELECT a.doc_id AS id_a, b.doc_id AS id_b
           | FROM bands a JOIN bands b
           |  ON a.band = b.band AND a.key = b.key AND a.doc_id < b.doc_id),
           |cedges AS (
           | SELECT id_a AS src, id_b AS dst FROM cpairs
           | UNION SELECT id_b, id_a FROM cpairs),
           |cnodes AS (SELECT DISTINCT src AS id FROM cedges),
           |creach(id, lbl) AS (
           | SELECT id, id FROM cnodes
           | UNION
           | SELECT r.id, e.dst FROM creach r JOIN cedges e ON e.src = r.lbl),
           |clabels AS MATERIALIZED (
           | SELECT id, MIN(lbl) AS cluster_id FROM creach GROUP BY 1),
           |csplits AS (
           | SELECT p.doc_id,
           |  ${Dedup.sqlHashSplit("COALESCE(l.cluster_id, p.doc_id)")} AS split
           | FROM pass p LEFT JOIN clabels l ON p.doc_id = l.id),
           |rates AS (
           | SELECT source,
           |  least(1000000, (20000 * 20 * 1000) // CAST(SUM(n_tok) AS BIGINT)) AS rate_ppm
           | FROM clean GROUP BY 1),
           |adm AS (
           | SELECT c.doc_id, c.n_tok, s.split
           | FROM clean c JOIN rates r ON c.source = r.source
           |              JOIN csplits s ON c.doc_id = s.doc_id
           | WHERE ('0x' || substr(md5(CAST(c.doc_id AS VARCHAR)), 1, 6))::BIGINT % 1000000
           |       < r.rate_ppm),
           |boff AS (
           | SELECT split, doc_id, n_tok,
           |  SUM(n_tok) OVER (PARTITION BY split ORDER BY n_tok DESC, doc_id ASC
           |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - n_tok AS off
           | FROM adm),
           |bb AS (
           | SELECT split, doc_id, n_tok,
           |  CAST(floor(off / 2048) AS BIGINT) AS bin FROM boff)
           |SELECT split, bin % 4 AS shard, COUNT(DISTINCT bin) AS n_bins,
           | COUNT(*) AS n_docs, CAST(SUM(n_tok) AS BIGINT) AS n_tokens,
           | CAST(SUM(doc_id) AS BIGINT) AS sum_doc_ids
           |FROM bb GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin),
    // qc3 = qs3's centroid-cell assignment over the whole embeddings
    // table, then a per-cell md5-ranked cap (the GroupTopK path on the
    // Spark side; a plain window here — the oracle states semantics,
    // not the scale shape)
    "qc3_semantic_balance" ->
      s"""WITH nm AS (
         | SELECT vec_id, embedding,
         |  sqrt(${sqlDot64.format("embedding", "embedding")}) AS nrm
         | FROM embeddings),
         |cents AS (SELECT vec_id AS cid, embedding AS ce, nrm AS cn FROM nm
         |          WHERE vec_id % 100 = 7),
         |scored AS (
         | SELECT nm.vec_id, cents.cid,
         |  round(${sqlDot64.format("cents.ce", "nm.embedding")} / (cents.cn * nm.nrm), 6) AS crcos
         | FROM nm, cents),
         |assigned AS (
         | SELECT vec_id, cid AS cell FROM (
         |  SELECT vec_id, cid, ROW_NUMBER() OVER (PARTITION BY vec_id
         |    ORDER BY crcos DESC, cid ASC) AS rn FROM scored) t WHERE rn = 1),
         |ranked AS (
         | SELECT cell, vec_id,
         |  ROW_NUMBER() OVER (PARTITION BY cell
         |    ORDER BY md5(CAST(vec_id AS VARCHAR)) ASC, vec_id ASC) AS rn
         | FROM assigned),
         |tot AS (SELECT cell, COUNT(*) AS n_vectors FROM assigned GROUP BY 1),
         |adm AS (
         | SELECT cell, COUNT(*) AS n_admitted,
         |  CAST(SUM(vec_id) AS BIGINT) AS sum_admitted,
         |  MAX(CASE WHEN rn = 1 THEN vec_id END) AS top_admit
         | FROM ranked WHERE rn <= $BalanceCap GROUP BY 1)
         |SELECT tot.cell, tot.n_vectors, adm.n_admitted, adm.sum_admitted, adm.top_admit
         |FROM tot JOIN adm USING (cell)
         |ORDER BY tot.cell""".stripMargin)
}
