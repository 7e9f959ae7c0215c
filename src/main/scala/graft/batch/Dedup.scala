package graft.batch

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

import graft.Tables

/** Large-scale training-data deduplication operators over `documents`.
  *
  * All hashing uses md5-hex so the DuckDB oracle computes bit-identical
  * values; min-hash is the lexicographic min of salted md5 hex strings —
  * a valid minwise hash family that needs no engine-specific integer
  * hashing.
  *
  * Scale design: every operator is shuffle-by-key (doc_id / shingle /
  * band key) with no driver-side collection; candidate generation is
  * LSH-bucketed so the pair space never goes quadratic in the corpus.
  */
object Dedup {

  private[graft] val ShingleChars = 120  // shingling window per doc (bounds cost)
  private[graft] val NumHashes = 6
  private[graft] val BandSize = 3        // 2 bands of 3 → candidate P = J^3

  /** Row-local LSH band keys for one document text: the same 2 bands of
    * 3 salted-md5 min-hashes as [[minhashSigs]], but computed entirely
    * inside the row (the shingle set is row-local, so no explode /
    * groupBy is needed — `min` over duplicates equals `min` over the
    * distinct set). This is what lets a STREAM compute signatures
    * per-row and probe a static bucket index without any streaming
    * aggregation ([[graft.stream.IngestDedup]]).
    * Returns `array<struct<band:int, key:string>>`.
    *
    * Since round 11 this binds the NATIVE fused expression
    * ([[graft.functions.BandKeysExpr]], SQL `band_keys`) — one
    * zero-copy byte pass instead of the interpreted
    * tokenize/shingle/min-md5 lambda chain; [[bandKeysSql]] keeps the
    * original HOF form as the readable spec, and BandKeysExprSpec pins
    * them value-identical on fixture and randomized payloads. */
  private[graft] def bandKeys(text: Column): Column =
    graft.functions.GraftFunctions.band_keys(text)

  /** The original SQL-HOF form of [[bandKeys]] — the equivalence
    * test's oracle side. */
  private[graft] def bandKeysSql(text: Column): Column = {
    val toks = split(lower(substring(text, 1, ShingleChars)), " ")
    val shingles = filter(
      transform(sequence(lit(0), greatest(size(toks) - 3, lit(0))),
        i => concat_ws(" ", slice(toks, i + lit(1), lit(3)))),
      sh => length(sh) > 0)
    def minh(j: Int): Column =
      array_min(transform(shingles, sh => md5(concat(lit(s"$j|"), sh))))
    array(
      struct(lit(0).as("band"), md5(concat(minh(0), minh(1), minh(2))).as("key")),
      struct(lit(1).as("band"), md5(concat(minh(3), minh(4), minh(5))).as("key")))
  }

  /** Distinct word-3-gram shingles per doc over the first
    * [[ShingleChars]] chars, lowercased. */
  private def wordShingles(s: SparkSession, d: String): DataFrame = {
    // Tables.spread: the fixture corpus is one parquet file = one scan
    // task, so fan the CPU-bound shingle explode across cores; at scale
    // the scan already yields many partitions and spread is the
    // identity (an unconditional round-robin repartition here would
    // shuffle the full text payload of the corpus once per query)
    val toks = Tables.spread(Tables.documents(s, d))
      .select(col("doc_id"), split(lower(substring(col("text"), 1, ShingleChars)), " ").as("toks"))
    toks.select(col("doc_id"),
        explode(expr("transform(sequence(0, greatest(size(toks) - 3, 0)), " +
          "i -> concat_ws(' ', slice(toks, i + 1, 3)))")).as("shingle"))
      .filter(length(col("shingle")) > 0)
      .distinct()
  }

  /** qd1: exact dedup — hash-groupBy on content (md5), per source. */
  def qd1_exact_dedup(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        countDistinct(col("text")).as("n_unique"),
        countDistinct(md5(col("text").cast("binary"))).as("n_unique_md5"))
      .orderBy("source")

  /** MinHash signatures per doc: 6 salted-md5 min-hashes.
    *
    * Unlike [[wordShingles]] this skips the shingle `distinct()` —
    * `min` over duplicate shingles is the same value, so minhash needs
    * no dedup shuffle. [[Tables.spread]] fans the CPU-bound shingle+md5
    * map work across cores only when the source scan is narrower than
    * the cluster (the single-file fixture); at 100 TB the scan itself
    * provides the parallelism and no extra exchange runs.
    */
  private[graft] def minhashSigs(s: SparkSession, d: String): DataFrame =
    minhashSigsOf(Tables.spread(Tables.documents(s, d)))

  /** [[minhashSigs]] over any (doc_id, text) frame — the seam that lets
    * specs drive synthetic corpora (e.g. a single-bucket flood) through
    * the LSH machinery without parquet fixtures. */
  private[graft] def minhashSigsOf(docsIn: DataFrame): DataFrame = {
    // Row-local native signature (round-17, guide §2.3/§4: the
    // historical form exploded ~37 shingle rows per doc into a
    // shuffle and re-aggregated 6 interpreted min(md5(...)) aggs —
    // ~15 s of executor time per corpus pass at sf0.1, all of it
    // avoidable: the per-salt minima are a row-local fold over the
    // doc's own shingle set). [[graft.functions.MinhashSigsExpr]] is
    // the fused one-byte-pass form already riding pass 1 of the
    // curation chain; MinhashSigSpec pins it row-for-row against the
    // explode+groupBy aggregation (a shingle-less doc has no group row
    // there and a null signature here — the filter matches the sets).
    val sig = graft.functions.GraftFunctions.minhash_sigs(col("text"))
    docsIn.select(col("doc_id"), sig.as("s"))
      .filter(col("s").isNotNull)
      .select(col("doc_id") +: (0 until NumHashes).map(j => col("s")(j).as(s"h$j")): _*)
  }

  /** The historical explode + groupBy-aggregation form of
    * [[minhashSigsOf]] — kept as the equivalence spec's oracle side
    * (MinhashSigSpec pins the native rewrite against it). */
  private[graft] def minhashSigsOfAgg(docsIn: DataFrame): DataFrame = {
    val docs = docsIn
      .select(col("doc_id"), split(lower(substring(col("text"), 1, ShingleChars)), " ").as("toks"))
    val sh = docs.select(col("doc_id"),
        explode(expr("transform(sequence(0, greatest(size(toks) - 3, 0)), " +
          "i -> concat_ws(' ', slice(toks, i + 1, 3)))")).as("shingle"))
      .filter(length(col("shingle")) > 0)
    val minhashAggs = (0 until NumHashes).map(j =>
      min(md5(concat(lit(s"$j|"), col("shingle")))).as(s"h$j"))
    sh.groupBy(col("doc_id")).agg(minhashAggs.head, minhashAggs.tail: _*)
  }

  private def bandKeysOf(sigs: DataFrame): DataFrame =
    sigs.select(col("doc_id"),
      explode(array(
        struct(lit(0).as("band"), md5(concat(col("h0"), col("h1"), col("h2"))).as("key")),
        struct(lit(1).as("band"), md5(concat(col("h3"), col("h4"), col("h5"))).as("key")))).as("b"))
      .select(col("doc_id"), col("b.band").as("band"), col("b.key").as("key"))

  /** LSH candidate pairs (id_a < id_b) from 2 bands of 3 hashes:
    * docs collide when any full band matches — bucket-local self-join,
    * so the pair space never goes all-pairs ACROSS buckets. Within one
    * bucket it is still quadratic — this is the REPORTING shape (qd2
    * returns the pairs themselves); graph consumers use
    * [[lshStarEdges]], which is linear per bucket. */
  private def lshCandidatePairs(sigs: DataFrame): DataFrame = {
    val bands = bandKeysOf(sigs)
    val a = bands.as("a"); val b = bands.as("b")
    a.join(b, col("a.band") === col("b.band") && col("a.key") === col("b.key")
        && col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("id_a"), col("b.doc_id").as("id_b")).distinct()
  }

  /** Star edges per LSH bucket: (bucket-min doc, other doc) for every
    * other member. Connects exactly the same components as the bucket
    * clique — any two docs in a bucket reach each other through its min
    * — with m-1 edges per m-doc bucket instead of m(m-1)/2. The
    * difference is THE scale property of dedup graph building: a
    * boilerplate band key shared by 10⁶ docs (empty pages, cookie
    * banners, license headers — the 100 TB reality) costs 10⁶ edges
    * here and 5·10¹¹ in clique form. groupBy(min) + join, both on the
    * same (band, key), so AQE handles residual bucket skew. */
  private def lshStarEdges(sigs: DataFrame): DataFrame = {
    val bands = bandKeysOf(sigs)
    val mins = bands.groupBy(col("band"), col("key"))
      .agg(min(col("doc_id")).as("id_a"))
    bands.join(mins, Seq("band", "key"))
      .filter(col("doc_id") =!= col("id_a"))
      .select(col("id_a"), col("doc_id").as("id_b")).distinct()
  }

  /** qd2: MinHash + LSH near-dup candidates:
    * shingle → 6 salted-md5 min-hashes → 2 bands of 3 → bucket
    * self-join → candidate pairs with estimated Jaccard. */
  def qd2_minhash_lsh(s: SparkSession, d: String): DataFrame = {
    // sigs feeds the band self-join plus both verify-join sides; Spark
    // shares no subtrees, so without materialization the expensive
    // shingle→md5 signature pipeline runs 3× (same fix as qd6's)
    val sigs = minhashSigs(s, d).localCheckpoint(eager = false)
    val pairs = lshCandidatePairs(sigs)
    val sa = sigs.as("sa"); val sb = sigs.as("sb")
    pairs.join(sa, col("id_a") === col("sa.doc_id"))
      .join(sb, col("id_b") === col("sb.doc_id"))
      .select(col("id_a"), col("id_b"),
        (0 until NumHashes).map(j =>
          when(col(s"sa.h$j") === col(s"sb.h$j"), 1).otherwise(0))
          .reduce(_ + _).as("n_match"))
      .withColumn("est_jaccard", col("n_match").cast("double") / NumHashes)
      .orderBy("id_a", "id_b")
  }

  /** [[qd2_minhash_lsh]]'s reporting shape with a PER-BUCKET output
    * bound — the scale-safe variant for hot buckets. qd2's contract is
    * the full pair list, which at 100 TB makes the OUTPUT itself
    * quadratic in hot-bucket size (one boilerplate band key shared by
    * 10⁶ docs → 5·10¹¹ result rows). Here each (band, key) bucket
    * reports at most `cap` pairs plus an `n_overflow` column carrying
    * exactly how many pairs went unreported, so consumers can tell a
    * clean corpus from a truncated flood.
    *
    * Both compute AND output are O(cap) per bucket, never O(m²): pairs
    * are enumerated only among the bucket's first D members by doc_id,
    * with D chosen as the smallest prefix that can fill the cap
    * (D(D-1)/2 ≥ cap) — a 10⁶-doc bucket ranks its members (linear)
    * and scores ~cap pairs instead of 5·10¹¹. Reported pairs are the
    * top-`cap` by estimated Jaccard within that prefix (exact top-cap
    * whenever the bucket fits the prefix, i.e. m ≤ D; a representative
    * sample under flood); `n_overflow` always counts against the TRUE
    * bucket pair count m(m-1)/2. Unlike qd2, pairs are reported per
    * bucket (band, key in the output) so overflow attribution is
    * unambiguous. */
  /** Smallest member-prefix size whose pair count reaches `cap`
    * (D(D-1)/2 ≥ cap) — shared by [[lshPairsCapped]] and the qd8
    * oracle SQL so the two can never disagree on the prefix. */
  private[graft] def pairPrefix(cap: Int): Int =
    math.ceil((1 + math.sqrt(1 + 8.0 * cap)) / 2).toInt

  private[graft] def lshPairsCapped(docs: DataFrame, cap: Int): DataFrame = {
    require(cap >= 1, "cap must be at least 1")
    val sigs = minhashSigsOf(docs).localCheckpoint(eager = false)
    val bands = bandKeysOf(sigs)
    val dCap = pairPrefix(cap)
    val wBucket = Window.partitionBy("band", "key")
    // member prefix ordered by content hash, not id — the IvfScaleBench
    // eviction-bias rule: an id-ordered prefix evicts the NEWEST docs
    // from every saturated bucket, so a streaming corpus's latest
    // arrivals silently lose near-dup coverage; md5-order makes the
    // binding cap's loss unbiased (and stays oracle-reproducible)
    val sized = bands
      .withColumn("m", count(lit(1)).over(wBucket))
      .withColumn("rk", row_number().over(
        wBucket.orderBy(md5(col("doc_id").cast("string")), col("doc_id"))))
    val prefix = sized.filter(col("rk") <= dCap)
    val a = prefix.as("a"); val b = prefix.as("b")
    val paired = a.join(b, col("a.band") === col("b.band")
        && col("a.key") === col("b.key") && col("a.doc_id") < col("b.doc_id"))
      .select(col("a.band").as("band"), col("a.key").as("key"),
        col("a.doc_id").as("id_a"), col("b.doc_id").as("id_b"), col("a.m").as("m"))
    val sa = sigs.as("sa"); val sb = sigs.as("sb")
    val scored = paired
      .join(sa, col("id_a") === col("sa.doc_id"))
      .join(sb, col("id_b") === col("sb.doc_id"))
      .select(col("band"), col("key"), col("id_a"), col("id_b"), col("m"),
        (0 until NumHashes).map(j =>
          when(col(s"sa.h$j") === col(s"sb.h$j"), 1).otherwise(0))
          .reduce(_ + _).as("n_match"))
      .withColumn("est_jaccard", col("n_match").cast("double") / NumHashes)
    val wRank = Window.partitionBy("band", "key")
      .orderBy(col("est_jaccard").desc, col("id_a"), col("id_b"))
    scored.withColumn("prk", row_number().over(wRank)).filter(col("prk") <= cap)
      .withColumn("n_overflow",
        expr("m * (m - 1) div 2") - count(lit(1)).over(wBucket))
      .select(col("band"), col("key"), col("id_a"), col("id_b"),
        col("n_match"), col("est_jaccard"), col("n_overflow"))
      .orderBy("band", "key", "id_a", "id_b")
  }

  /** qd8: the capped qd2 on the fixture corpus. The oracle SQL encodes
    * the SAME prefix + top-cap selection (QUALIFY row_number), so it
    * stays exact even if the fixture grows a bucket past the cap; the
    * flood behavior is additionally pinned by DedupClusterSpec's
    * single-bucket flood. */
  def qd8_lsh_capped(s: SparkSession, d: String): DataFrame =
    lshPairsCapped(Tables.spread(Tables.documents(s, d)), 1000)

  /** qd9: exact-substring duplication — doc pairs sharing ≥ 2 aligned
    * 32-char window fingerprints (stride 16). The training-data
    * "verbatim copy" detector: where MinHash (qd2) finds whole-document
    * near-dups, this finds long EXACT shared spans (copied passages,
    * licence boilerplate, quoted chunks) the way suffix-array dedup
    * does, expressed scalably: each doc emits ⌈len/16⌉ fingerprints
    * (row-local map), candidates come from the fingerprint inverted
    * index (bucket-local self-join, never all-pairs across buckets —
    * qd4's shape), and the pair space is bounded by true span sharing.
    * Stride-aligned windows on both sides mean only alignment-preserving
    * copies match — exact dups and shared prefixes, the dominant crawl
    * case; a full containment detector would stride 1 on the probe
    * side (same plan, 16× the probe fingerprints). */
  /** Per-fingerprint document-frequency cap for [[qd9_substring_dup]]:
    * pairs are enumerated only among each fingerprint's first
    * `SubstringDfCap` members by doc_id. At the fixture scales the cap
    * never binds (max df is 4 at sf0.1 vs 64), so qd9 still matches
    * the exact oracle; at crawl scale it is what keeps a licence-header
    * span shared by 10⁶ docs from producing 5·10¹¹ candidate pairs in
    * one bucket — the qd8 lesson applied to the verbatim-copy
    * detector. Exact unreported-pair accounting lives in
    * [[qd11_substring_overflow]]. */
  private[graft] val SubstringDfCap = 64

  /** The stride-16 32-char window fingerprint set, one row per
    * (doc_id, fp) — the shared scan of qd9 and qd11. Row-local
    * (Generate + distinct), ⌈len/16⌉ fingerprints per doc. */
  private[graft] def substringFps(docs: DataFrame): DataFrame =
    docs.filter(length(col("text")) >= 32)
      .select(col("doc_id"),
        explode(graft.functions.GraftFunctions.span_fps(col("text"), 32, 16)).as("fp"))
      .distinct()

  def qd9_substring_dup(s: SparkSession, d: String): DataFrame =
    substringPairsCapped(Tables.spread(Tables.documents(s, d)), SubstringDfCap)

  /** qd9: exact-substring duplication — doc pairs sharing ≥ 2 aligned
    * 32-char window fingerprints (stride 16). The training-data
    * "verbatim copy" detector: where MinHash (qd2) finds whole-document
    * near-dups, this finds long EXACT shared spans (copied passages,
    * licence boilerplate, quoted chunks) the way suffix-array dedup
    * does, expressed scalably: each doc emits ⌈len/16⌉ fingerprints
    * (row-local map), candidates come from the fingerprint inverted
    * index, and — the hot-bucket guard — each fingerprint contributes
    * pairs only among its first `dfCap` members by doc_id, so a
    * boilerplate span shared by millions of docs costs O(dfCap²) pairs,
    * never O(df²). Stride-aligned windows on both sides mean only
    * alignment-preserving copies match — exact dups and shared
    * prefixes, the dominant crawl case; a full containment detector
    * would stride 1 on the probe side (same plan, 16× the probe
    * fingerprints).
    *
    * Plan shape (two shuffles, not the self-join's three): one
    * Exchange(fp) feeds row_number → the rank filter is a
    * WindowGroupLimit, so hot fingerprints are pruned to the prefix
    * MAP-SIDE before the exchange — then the groupBy(fp) pair
    * generation reuses the same partitioning (no new exchange), pairs
    * are emitted row-locally from the ≤ dfCap sorted member array, and
    * only the final groupBy(id_a, id_b) shuffles again. */
  private[graft] def substringPairsCapped(docs: DataFrame, dfCap: Int): DataFrame = {
    require(dfCap >= 2, "dfCap must be at least 2 to form any pair")
    val w = substringFps(docs)
      // hash-ordered prefix (the eviction-bias rule): a binding df cap
      // drops an unbiased member subset instead of every late doc
      .withColumn("rk",
        row_number().over(Window.partitionBy("fp")
          .orderBy(md5(col("doc_id").cast("string")), col("doc_id"))))
      .filter(col("rk") <= dfCap)
    val pairs = w.groupBy(col("fp"))
      .agg(sort_array(collect_list(col("doc_id"))).as("ids"))
      .select(explode(expr(
        // all ordered pairs of the sorted (≤ dfCap) member array,
        // generated row-locally: ids is bounded by the cap, so the
        // O(n²) slice work is O(dfCap²) worst-case per fingerprint
        "flatten(transform(ids, (x, i) -> " +
          "transform(slice(ids, i + 2, size(ids)), " +
          "y -> struct(x AS id_a, y AS id_b))))")).as("p"))
    pairs.select(col("p.id_a").as("id_a"), col("p.id_b").as("id_b"))
      .groupBy(col("id_a"), col("id_b"))
      .agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= 2)
      .orderBy("id_a", "id_b")
  }

  /** qd11: exact overflow accounting for qd9's df cap — the hottest
    * fingerprints with their true document frequency, true pair count,
    * the pair count qd9's prefix actually enumerates, and exactly how
    * many pairs went unreported. A clean corpus shows n_overflow = 0
    * everywhere; a boilerplate flood is visible and quantified instead
    * of silently truncated (qd8's reporting contract, at fingerprint
    * granularity). Linear work: one groupBy(fp) count — no window, no
    * pair enumeration. */
  def qd11_substring_overflow(s: SparkSession, d: String): DataFrame =
    substringOverflow(Tables.spread(Tables.documents(s, d)), SubstringDfCap)
      .orderBy(col("df").desc, col("fp"))
      .limit(20)

  private[graft] def substringOverflow(docs: DataFrame, dfCap: Int): DataFrame =
    substringFps(docs)
      .groupBy(col("fp")).agg(count(lit(1)).as("df"))
      .filter(col("df") >= 2)
      .withColumn("n_pairs_true", expr("df * (df - 1) div 2"))
      .withColumn("n_pairs_reported",
        expr(s"least(df, ${dfCap}L) * (least(df, ${dfCap}L) - 1) div 2"))
      .withColumn("n_overflow", col("n_pairs_true") - col("n_pairs_reported"))

  /** qd10: substring-level eval-set decontamination — corpus docs
    * sharing an exact 32-char span with an eval doc, detected by
    * fingerprint windows: the CORPUS side emits windows at stride 16
    * (⌈len/16⌉ per doc — corpus-linear, row-local), the EVAL side at
    * stride 1 (every alignment — affordable because the eval set is
    * benchmark-sized and broadcast). Any shared span of ≥ 47 chars
    * (window + stride − 1) contains a corpus-aligned window that the
    * stride-1 probe is guaranteed to cover, so detection of long
    * verbatim contamination is exact, not probabilistic — the
    * substring-granularity sharpening of qd7's shingle overlap, with
    * the same scale property: the corpus never shuffles, only the
    * broadcast eval fingerprints move. */
  def qd10_decontam_spans(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.spread(Tables.documents(s, d)).filter(length(col("text")) >= 32)
    val corpus = docs.filter(pmod(col("doc_id"), lit(10)) =!= 7)
      .select(col("doc_id").as("corpus_id"),
        explode(graft.functions.GraftFunctions.span_fps(col("text"), 32, 16)).as("fp"))
      .distinct()
    val ev = docs.filter(pmod(col("doc_id"), lit(10)) === 7)
      .select(col("doc_id").as("eval_id"),
        explode(graft.functions.GraftFunctions.span_fps(col("text"), 32, 1)).as("fp"))
      .distinct()
    corpus.join(broadcast(ev), Seq("fp"))
      .groupBy(col("corpus_id"), col("eval_id"))
      .agg(count(lit(1)).as("n_spans"))
      .orderBy("corpus_id", "eval_id")
  }

  /** qd3: 16-bit SimHash over distinct word tokens — per-bit ±1 votes
    * from the token's md5, bit set when the vote sum is positive. */
  def qd3_simhash(s: SparkSession, d: String): DataFrame = {
    // the per-doc token SET is row-local (doc_id is the PK), so the
    // whole fingerprint is a pure map pass: distinct tokens inside the
    // array, one md5 per token, 16 shift/mask vote folds — ZERO data
    // shuffles; the only exchange left is the presentation sort. (The
    // earlier explode → distinct → groupBy formulation paid two
    // shuffles of the 2M-row token stream for the same answer.)
    val hvs = expr(
      "transform(array_distinct(filter(split(lower(substring(text, 1, 200)), ' '), " +
        "t -> length(t) > 0)), t -> CAST(conv(substring(md5(t), 1, 4), 16, 10) AS INT))")
    val simhash = (0 until 16).map(b =>
      when(expr(s"aggregate(hvs, 0L, (acc, hv) -> acc + (shiftright(hv, $b) & 1) * 2 - 1)") > 0,
        lit(1L << b)).otherwise(lit(0L))).reduce(_ + _)
    Tables.documents(s, d).select(col("doc_id"), hvs.as("hvs"))
      .filter(size(col("hvs")) > 0) // all-empty docs vanish, as before
      .select(col("doc_id"), simhash.as("simhash"))
      .orderBy("doc_id")
  }

  /** qd4: exact n-gram Jaccard on a doc_id-sampled subset — shingle
    * inverted-index self-join, |∩| via pair counts, |∪| = na + nb − |∩|. */
  def qd4_ngram_jaccard(s: SparkSession, d: String): DataFrame = {
    // %10 sampling + low threshold: the fixtures are random text, so
    // high-jaccard pairs don't exist — a 0.2 threshold made this a
    // vacuous 0-row check; 0.01 keeps sharing pairs whose union stays
    // under 100 shingles (all of them, in these fixtures)
    val sub = wordShingles(s, d).filter(pmod(col("doc_id"), lit(10)) === 0)
    val counts = sub.groupBy(col("doc_id")).agg(count(lit(1)).as("n_sh"))
    val a = sub.as("a"); val b = sub.as("b")
    val inter = a.join(b, col("a.shingle") === col("b.shingle")
        && col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("id_a"), col("b.doc_id").as("id_b"))
      .agg(count(lit(1)).as("n_inter"))
    inter.join(counts.as("ca"), col("id_a") === col("ca.doc_id"))
      .join(counts.as("cb"), col("id_b") === col("cb.doc_id"))
      .select(col("id_a"), col("id_b"), col("n_inter"),
        (col("ca.n_sh") + col("cb.n_sh") - col("n_inter")).as("n_union"))
      .withColumn("jaccard", col("n_inter").cast("double") / col("n_union"))
      .filter(col("jaccard") >= 0.01)
      .orderBy("id_a", "id_b")
  }

  /** qd5: embedding-cosine near-dup — pairs of a vec_id-sampled subset
    * whose rounded cosine clears a fixture-calibrated threshold, plus
    * the canonical keep/dup assignment (min id survives). Sampling makes
    * the exact all-pairs oracle tractable, like [[qd4_ngram_jaccard]];
    * at corpus scale the pair space comes from LSH buckets
    * ([[Similarity.annTopK]]'s machinery) or IVF cells first, and this
    * exact cosine pass runs per bucket. */
  def qd5_embedding_neardup(s: SparkSession, d: String): DataFrame = {
    val nm = Tables.embeddings(s, d)
      .filter(pmod(col("vec_id"), lit(2)) === 1)
      .withColumn("nrm", sqrt(Similarity.norm2(col("embedding"))))
    // pair-sized spread of the STREAMED side (round-17, guide §2.2):
    // the theta-join plans as a broadcast nested loop over a's
    // partitions — a single-file sample scan is 1–2 partitions, so the
    // whole sample²/2 pair space (each with a native dot) ran in one
    // task. The footer-only total count sizes the width from the pair
    // workload; identity once the scan is already wider.
    val nHalf = Tables.embeddings(s, d).count() / 2
    val w = (nHalf * nHalf / 2 / Curation.PairsPerTask)
      .min(4L * s.sparkContext.defaultParallelism).max(1L).toInt
    val a = Tables.spreadTo(
      nm.select(col("vec_id").as("id_a"), col("embedding").as("ea"), col("nrm").as("na")), w)
    val b = nm.select(col("vec_id").as("id_b"), col("embedding").as("eb"), col("nrm").as("nb"))
    a.join(b, col("id_a") < col("id_b"))
      .withColumn("rcos", round(Similarity.dot(col("ea"), col("eb")) / (col("na") * col("nb")), 6))
      .filter(col("rcos") >= 0.4)
      .select(col("id_a").as("keep_id"), col("id_b").as("dup_id"), col("rcos"))
      .orderBy("keep_id", "dup_id")
  }

  /** qd6: duplicate-cluster resolution — the step after candidate
    * generation that an actual dedup pipeline needs: group the LSH
    * candidate pairs ([[qd2_minhash_lsh]]'s output) into connected
    * components and keep one canonical representative (min doc_id) per
    * cluster.
    *
    * Algorithm: [[Graph.components]] over the LSH star edges — union-find
    * on the driver for a graph within its gate, else min-label
    * propagation with a pointer-jumping shortcut. Only docs that appear
    * in a candidate pair enter the graph, so its input is
    * pair-space-sized, not corpus-sized.
    */
  def qd6_dup_clusters(s: SparkSession, d: String): DataFrame = {
    val labels = dupLabels(s, d)
    val sizes = labels.groupBy(col("label")).agg(count(lit(1)).as("cluster_size"))
    labels.join(sizes, "label")
      .select(col("id").as("doc_id"), col("label").as("cluster_id"),
        (col("id") === col("label")).as("is_canonical"), col("cluster_size"))
      .orderBy("doc_id")
  }

  /** The LSH near-dup graph's component labels (id, label = component
    * min id), extracted so [[qd17_quality_canonical]] shares the exact
    * same graph. */
  private[graft] def dupLabels(s: SparkSession, d: String): DataFrame =
    dupLabelsOf(Tables.spread(Tables.documents(s, d)))

  /** [[dupLabels]] over any (doc_id, text) frame — the seam that lets
    * [[qd20_sticky_split]] and SplitLedgerSpec build the graph of a
    * corpus VERSION (a filtered snapshot), not just the whole table. */
  private[graft] def dupLabelsOf(docsIn: DataFrame): DataFrame = {
    // checkpoint the minhash signatures BEFORE the band self-join and
    // the edge union: Spark does not share common subtrees, so without
    // this the full shingle→signature pipeline (the expensive part)
    // executes 4× — once per join side per union branch
    val sigs = minhashSigsOf(docsIn).localCheckpoint(eager = false)
    // star edges, not the bucket clique: identical components (any two
    // bucket members connect through the bucket min), linear — not
    // quadratic — in hot-bucket size; see lshStarEdges.
    // No checkpoint here: Graph.components materializes the edge set
    // itself, in the job that gates it.
    Graph.components(lshStarEdges(sigs))
  }

  /** qd17: quality-aware cluster canonicalization — the keep-decision a
    * real dedup pipeline actually ships: within each near-dup cluster
    * ([[dupLabels]] — qd6's exact graph), keep the HIGHEST-QUALITY
    * member (qt2's integer stopword-ratio score; tie → smallest
    * doc_id), not the arbitrary min-id representative. The min-id rule
    * (qd6's `is_canonical`) is the right CLUSTER KEY — stable,
    * content-addressed — but a curation pass wants the best copy of
    * the duplicated content, and which member wins is a per-cluster
    * argmax that the native [[graft.plans.GroupTopK]] computes with a
    * bounded heap (k = 1) instead of a per-cluster sort. `displaced`
    * marks clusters where quality moved the keep off the min id — the
    * rows where this operator differs from qd6.
    *
    * Scale shape: the graph side is pair-space-sized (qd6's property),
    * the quality side one corpus map-pass joined id-to-id, the argmax
    * map-side pre-reduced to one row per cluster per partition. */
  def qd17_quality_canonical(s: SparkSession, d: String): DataFrame = {
    val labels = dupLabels(s, d)
    val members = clusterMembersWithQuality(s, d, labels)
    val sizes = members.groupBy(col("label")).agg(count(lit(1)).as("cluster_size"))
    val keep = qualityKeeps(members)
    keep.join(sizes, "label")
      .select(col("label").as("cluster_id"), col("id").as("keep_id"),
        col("quality").as("keep_quality"), col("cluster_size"),
        (col("id") =!= col("label")).as("displaced"))
      .orderBy("cluster_id")
  }

  /** Graph members with qt2's quality, checkpointed — the frame both
    * the keep-argmax and the cluster-size aggregate derive from
    * (extracted from qd17 so [[qd19_canonical_selection]] shares the
    * exact scoring join). */
  private def clusterMembersWithQuality(s: SparkSession, d: String,
      labels: DataFrame): DataFrame = {
    // qt2's EXACT scoring, via the shared TextOps helpers — the
    // stopword list and formula live in one place
    val quality = TextOps.withStopwordStats(Tables.documents(s, d))
      .select(col("doc_id").as("id"), TextOps.stopwordQuality.as("quality"))
    labels.join(quality, "id").localCheckpoint(eager = false)
  }

  /** The per-cluster keep — (label, id, quality) argmax under
    * (quality DESC, id ASC) via the native bounded-heap GroupTopK. */
  private def qualityKeeps(members: DataFrame): DataFrame =
    graft.plans.GroupTopK.topK(
      members.select(col("label").cast("long"), col("id").cast("long"),
        col("quality").cast("long")),
      keys = Seq("label"), order = Seq(col("quality").desc, col("id").asc), k = 1)

  /** qd19: the composed curation core — DEDUP-CANONICAL ∘ IMPORTANCE ∘
    * BUDGET, one oracle-gated query: resolve each near-dup cluster to
    * its best-quality member (qd17's keep rule over qd6's exact
    * graph), rank every surviving document by qt17's target-domain
    * importance, and admit in (importance DESC, doc_id) order until a
    * fixed token budget is exhausted — "dedupe, then fill the training
    * budget with the most target-like data", the selection loop a real
    * pretraining pipeline runs between corpus and tokenizer. No new
    * formula anywhere: the graph, the keep rule, the importance score
    * and the tokenization are the SAME shared helpers their standalone
    * queries pin, so this query gates their composition.
    *
    * The cumulative-budget cut uses [[TextOps.runningOffsets]] — the
    * two-pass distributed prefix sum (docBins' engine, caller-keyed) —
    * NEVER a global single-partition window; a doc is admitted iff the
    * running total INCLUDING it fits. Output: per-lang admitted
    * counts/tokens/importance-sum + id checksum. Budget fixed at
    * [[SelectionBudget]] tokens (the qc1/qc5 fixed-budget convention:
    * selection gets MORE selective as the corpus rungs grow — output
    * stays bounded while input scales). */
  private[graft] val SelectionBudget = 10000L

  def qd19_canonical_selection(s: SparkSession, d: String): DataFrame = {
    val labels = dupLabels(s, d) // already checkpointed by the loop
    val members = clusterMembersWithQuality(s, d, labels)
    val keeps = qualityKeeps(members).select(col("id").as("doc_id"))
    val docs = Tables.documents(s, d)
    // canonical = docs outside the graph ∪ each cluster's keep
    val canon = docs
      .join(labels.select(col("id").as("doc_id")), Seq("doc_id"), "left_anti")
      .select(col("doc_id"))
      .unionByName(keeps)
    // importanceScores carries n_tok (Σ bucket counts = the doc's
    // non-empty token count) — no separate corpus text scan
    val scored = TextOps.importanceScores(s, d)
      .join(canon, "doc_id") // importance covers every doc with ≥1 token
      .localCheckpoint() // feeds the prefix sum AND the lang join
    val admitted = TextOps.runningOffsets(
      scored.select(col("doc_id"), col("n_tok").as("tok"),
        col("importance").as("key")),
      // scored is checkpointed — its cached count sizes the range
      // width (post-join plan stats degenerate to the core count)
      graft.Tables.widthForRows(s, scored.count()))
      .filter(col("off") + col("tok") <= lit(SelectionBudget))
      .select(col("doc_id"), col("tok"), col("key").as("importance"))
      .join(scored.select(col("doc_id"), col("lang")), "doc_id")
    admitted.groupBy(col("lang"))
      .agg(count(lit(1)).as("n_sel"),
        sum(col("tok")).as("tok_sel"),
        sum(col("importance")).as("imp_sum"),
        sum(col("doc_id")).as("id_checksum"))
      .orderBy("lang")
  }

  /** qd18: leakage-safe train/val/test split — assign every document a
    * split by hashing its DUP-CLUSTER id ([[dupLabels]] — qd6's exact
    * graph; singletons are their own cluster), not its own id, so no
    * near-dup pair ever spans splits: hashing doc ids directly leaks
    * duplicated content from train into eval (the canonical
    * train/test-contamination bug — memorized near-dups inflate eval),
    * while the cluster hash makes the split CLOSED under the dup
    * relation by construction. Buckets: md5(cluster_id) % 100 →
    * <80 train, <90 val, else test.
    *
    * The output is the per-split audit a pipeline records: doc/cluster
    * counts, an id checksum, and `n_leaky_edges_naive` — how many
    * near-dup STAR edges (member ↔ component label, linear in members,
    * never the cluster clique) the naive doc-hash split WOULD have cut
    * across splits. > 0 on any corpus with dups; the cluster rule's
    * own cross-split edge count is structurally zero (spec-asserted,
    * not a constant output column). Reference analog: the per-station
    * partition of work (Prensas.py:186-199) — identity-keyed sharding,
    * here lifted to content-cluster identity.
    *
    * Scale shape: one corpus map-pass for buckets; the graph side is
    * qd6's (already pair-space-bounded); the audit joins star edges to
    * the checkpointed per-doc split frame twice by id — broadcast-size
    * per-split aggregates out. */
  /** qd18's 80/10/10 hash rule — md5(id) % 100 banded into splits —
    * shared with [[qd20_sticky_split]] and [[SplitLedger]] so the
    * FRESH-cluster assignment can never drift between the one-shot
    * query and the versioned ledger. */
  private[graft] def hashSplitOf(c: Column): Column = {
    val b = pmod(
      conv(substring(md5(c.cast("string").cast("binary")), 1, 6), 16, 10).cast("long"),
      lit(100))
    when(b < 80, "train").when(b < 90, "val").otherwise("test")
  }

  def qd18_leakage_split(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d).select(col("doc_id"))
    // reused by membership AND the star-edge audit — dupLabels returns
    // its convergence loop's checkpointed frame, so consumers share it
    val labels = dupLabels(s, d)
    val sp = docs.join(labels.withColumnRenamed("id", "doc_id"), Seq("doc_id"), "left")
      .withColumn("cluster_id", coalesce(col("label"), col("doc_id")))
      .withColumn("split", hashSplitOf(col("cluster_id")))
      .withColumn("naive_split", hashSplitOf(col("doc_id")))
      .select("doc_id", "cluster_id", "split", "naive_split")
      .localCheckpoint(eager = false) // feeds the per-split agg + both audit joins
    val edges = labels.filter(col("id") =!= col("label"))
    val leak = edges
      .join(sp.select(col("doc_id").as("id"), col("split"),
        col("naive_split").as("m_naive")), "id")
      .join(sp.select(col("doc_id").as("label"),
        col("naive_split").as("c_naive")), "label")
      .groupBy(col("split"))
      .agg(sum(when(col("m_naive") =!= col("c_naive"), 1L).otherwise(0L))
        .as("n_leaky_edges_naive"))
    sp.groupBy(col("split"))
      .agg(count(lit(1)).as("n_docs"),
        countDistinct(col("cluster_id")).as("n_clusters"),
        sum(col("doc_id")).as("id_checksum"))
      .join(leak, Seq("split"), "left")
      .select(col("split"), col("n_docs"), col("n_clusters"), col("id_checksum"),
        coalesce(col("n_leaky_edges_naive"), lit(0L)).as("n_leaky_edges_naive"))
      .orderBy("split")
  }

  /** (doc_id, cluster_id) membership of a corpus version: its docs
    * left-joined to its graph labels, singletons their own cluster —
    * qd18's membership step, shared with [[qd20_sticky_split]] and
    * [[SplitLedger]]. */
  private[graft] def membersOf(docs: DataFrame, labels: DataFrame): DataFrame =
    docs.join(labels.withColumnRenamed("id", "doc_id"), Seq("doc_id"), "left")
      .withColumn("cluster_id", coalesce(col("label"), col("doc_id")))
      .select(col("doc_id"), col("cluster_id"))

  /** The STICKY split rule — the cross-version form of qd18's
    * assignment, shared by [[qd20_sticky_split]] (the oracle-gated
    * functional twin) and [[SplitLedger.assign]] (the persisted
    * production entry): a cluster whose members carry recorded prior
    * splits inherits the TRAIN-EST of them (train < val < test); only
    * clusters with no recorded member fall back to qd18's content hash.
    *
    * Why not re-hash every version: qd18's label is the component MIN
    * id, so an appended doc that BRIDGES two clusters relabels the
    * larger one and silently moves all its members between splits —
    * a doc trained on in version N lands in test in version N+1,
    * cross-version eval contamination by construction (round-13
    * verdict #1). Under the train-est rule a doc's priority can only
    * DECREASE (its own prior bounds the cluster min), so nothing ever
    * leaves train, and an eval doc whose content merges with train
    * content is pulled OUT of eval — the correct direction: future
    * evals stay clean. Within any one version the split is still
    * constant per cluster, so cross-split near-dup edges stay
    * structurally zero (SplitLedgerSpec asserts both).
    *
    * Scale shape: one id-join of members against the ledger, one
    * (cluster, min-priority) aggregate (map-side combining), one
    * cluster-join back — all linear in the corpus, keyed exactly like
    * the graph machinery upstream. Reference analog: the keyed-state
    * stickiness of active_records (Prensas.py:703-741) — identity
    * keeps its assignment across reloads. */
  private[graft] def stickySplits(members: DataFrame, prior: DataFrame): DataFrame = {
    val pri = when(col("prior_split") === "train", 0L)
      .when(col("prior_split") === "val", 1L).otherwise(2L)
    val inh = members
      .join(prior.select(col("doc_id"), col("split").as("prior_split")), Seq("doc_id"))
      .groupBy(col("cluster_id")).agg(min(pri).as("pri"))
    members.join(inh, Seq("cluster_id"), "left")
      .withColumn("split", when(col("pri") === 0L, "train")
        .when(col("pri") === 1L, "val").when(col("pri") === 2L, "test")
        .otherwise(hashSplitOf(col("cluster_id"))))
      .select(col("doc_id"), col("cluster_id"), col("split"))
  }

  /** qd20: split stability under corpus growth — qd18 one level up.
    * Two corpus VERSIONS of the same table (v1 = docs with
    * doc_id % 3 = 0, v2 = all docs — the appended docs include bridge
    * docs that merge v1 clusters), each with its OWN dup graph; v1 is
    * split by qd18's stateless hash, v2 by [[stickySplits]] over v1's
    * recorded assignment. The output is the per-split stability audit:
    * `n_promoted` (docs inheritance moved toward train — the merges at
    * work), and `n_migrated_naive` — how many docs the STATELESS rule
    * re-applied at v2 would have moved out of their v1 split (> 0 on
    * any bridging append: the exact cross-version contamination this
    * operator kills; the sticky rule's own out-of-train count is
    * structurally zero, spec-asserted like qd18's edge invariant). */
  def qd20_sticky_split(s: SparkSession, d: String): DataFrame = {
    val all = Tables.spread(Tables.documents(s, d))
    val v1docs = all.filter(pmod(col("doc_id"), lit(3)) === 0)
    val m1 = membersOf(v1docs.select(col("doc_id")), dupLabelsOf(v1docs))
    val m2 = membersOf(all.select(col("doc_id")), dupLabelsOf(all))
    val sp1 = m1.withColumn("split", hashSplitOf(col("cluster_id")))
      .select(col("doc_id"), col("split"))
      .localCheckpoint(eager = false) // feeds the inheritance join AND the audit join
    val sp2 = stickySplits(m2, sp1)
    val j = sp2
      .join(sp1.withColumnRenamed("split", "prior_split"), Seq("doc_id"), "left")
      .withColumn("naive_split", hashSplitOf(col("cluster_id")))
    j.groupBy(col("split")).agg(
        count(lit(1)).as("n_docs"),
        countDistinct(col("cluster_id")).as("n_clusters"),
        sum(col("doc_id")).as("id_checksum"),
        sum(when(col("prior_split").isNull, 1L).otherwise(0L)).as("n_new_docs"),
        sum(when(col("prior_split").isNotNull && col("split") =!= col("prior_split"), 1L)
          .otherwise(0L)).as("n_promoted"),
        sum(when(col("prior_split").isNotNull && col("naive_split") =!= col("prior_split"), 1L)
          .otherwise(0L)).as("n_migrated_naive"))
      .orderBy("split")
  }

  /** qd7: eval-set decontamination — the cross-set variant of
    * [[qd4_ngram_jaccard]] that an actual pretraining pipeline runs
    * before training: flag corpus documents sharing word shingles with
    * a held-out eval set (here: every 25th doc plays the eval role).
    * Scale shape: the eval side is benchmark-sized (thousands of docs,
    * not corpus-sized), so its distinct-shingle set broadcasts and the
    * corpus side is a map-side hash probe — no shuffle touches the
    * corpus until the tiny per-doc aggregation. */
  def qd7_decontaminate(s: SparkSession, d: String): DataFrame = {
    // shingles feed three consumers (eval set, corpus probe, corpus
    // counts) and Spark shares no subtrees — materialize once, as qd6
    // does for its signatures
    val sh = wordShingles(s, d).localCheckpoint(eager = false)
    val ev = sh.filter(pmod(col("doc_id"), lit(25)) === 0)
      .select(col("shingle")).distinct()
    val corpus = sh.filter(pmod(col("doc_id"), lit(25)) =!= 0)
    val counts = corpus.groupBy(col("doc_id")).agg(count(lit(1)).as("n_sh"))
    corpus.join(broadcast(ev), "shingle")
      .groupBy(col("doc_id")).agg(count(lit(1)).as("n_contaminated"))
      .join(counts, "doc_id")
      .withColumn("ratio", round(col("n_contaminated").cast("double") / col("n_sh"), 6))
      .filter(col("n_contaminated") >= 2)
      .select(col("doc_id"), col("n_contaminated"), col("n_sh"), col("ratio"))
      .orderBy("doc_id")
  }

  /** qd12: [[qd7_decontaminate]] behind a Bloom-filter candidate pass —
    * the form decontamination takes when the eval/blocklist shingle set
    * outgrows broadcast-HASH-join capacity. qd7 broadcasts the eval
    * shingles as a join hash table (~50+ bytes/entry with object
    * overhead); a Bloom filter over the same set at 1% fp is ~1.2 MB
    * per 10⁶ entries — an order of magnitude smaller — so the corpus
    * side is pruned MAP-SIDE by the bloom to (true matches + ~1% fp)
    * before any exchange, and the exact verify join then runs as a
    * shuffle join over that tiny surviving fraction (hinted
    * shuffle_hash to pin the at-scale shape; at fixture scale AQE
    * would pick broadcast and hide the point). False positives are
    * removed by the verify join, so the result — and the oracle — are
    * exactly qd7's. Per-doc shingle totals are computed on the
    * UNFILTERED corpus side, as in qd7.
    *
    * BloomSpec pins the plan (bloom filter below the corpus exchange,
    * no broadcast verify join) and result-equivalence with qd7. */
  def qd12_bloom_decontam(s: SparkSession, d: String): DataFrame = {
    val sh = wordShingles(s, d).localCheckpoint(eager = false)
    // materialized: read three times (size count, bloom build, verify
    // join), and the distinct is a shuffle worth paying exactly once
    val ev = sh.filter(pmod(col("doc_id"), lit(25)) === 0)
      .select(col("shingle")).distinct().localCheckpoint(eager = false)
    val corpus = sh.filter(pmod(col("doc_id"), lit(25)) =!= 0)
    val counts = corpus.groupBy(col("doc_id")).agg(count(lit(1)).as("n_sh"))
    // build over the small side, sized from its real cardinality
    // (count + build: two small jobs, bits-sized result)
    val bf = graft.functions.GraftFunctions.sizedBloomFilter(ev, "shingle")
    corpus.filter(graft.functions.GraftFunctions.bloom_might_contain(col("shingle"), bf))
      .join(ev.hint("shuffle_hash"), "shingle")
      .groupBy(col("doc_id")).agg(count(lit(1)).as("n_contaminated"))
      .join(counts, "doc_id")
      .withColumn("ratio", round(col("n_contaminated").cast("double") / col("n_sh"), 6))
      .filter(col("n_contaminated") >= 2)
      .select(col("doc_id"), col("n_contaminated"), col("n_sh"), col("ratio"))
      .orderBy("doc_id")
  }

  /** Members per (band, key) bucket that enter qd14's pair join —
    * qd8's treatment; encoded in the oracle SQL. */
  private[graft] val SimBandCap = 512

  /** qd14: SimHash near-dup PAIRS — completes [[qd3_simhash]] (which
    * computes the fingerprints) with the candidate-generation step a
    * dedup pipeline actually runs, the way [[qd13_cell_neardup]]
    * completes qd5: band the 16-bit fingerprint into 4×4-bit keys, so
    * by pigeonhole any pair within Hamming distance 3 shares at least
    * one untouched band — banding IS an exact Hamming-ball candidate
    * generator at radius 3 (the same argument as qm3's perceptual
    * bands, applied to text; reported here at radius 2, inside the
    * guaranteed ball). Candidates verify with one row-local
    * `bit_count(xor)`; the [[SimBandCap]] member prefix bounds a
    * degenerate bucket at O(cap²). At production scale the fingerprint
    * widens (64-bit, 4×16-bit bands) — the 16-bit width here is pinned
    * by qd3's oracle-shared formula.
    *
    * Scale shape: fingerprints are row-local (qd3's zero-shuffle
    * Project); ONE exchange by (band, key) serves the prefix window
    * and the pair self-join; the verify is row-local integer math. */
  def qd14_simhash_neardup(s: SparkSession, d: String): DataFrame = {
    // (doc_id, simhash) — row-local fingerprints, checkpointed once for
    // the band explode + both pair sides. doc_id-sampled like qd4/qd5:
    // random fixture text makes 16-bit fingerprints collide heavily, so
    // the unsampled pair OUTPUT is itself the quadratic thing the oracle
    // compare would choke on; production uses 64-bit prints (4×16-bit
    // bands), where Hamming-3 balls are genuinely selective
    val sh = qd3_simhash(s, d)
      .filter(pmod(col("doc_id"), lit(5)) === 0).localCheckpoint(eager = false)
    simhashPairsOf(sh)
  }

  /** [[qd14_simhash_neardup]]'s band/cap/verify machinery over any
    * (doc_id, simhash) frame — the seam that lets specs flood one
    * fingerprint through it (DedupClusterSpec's pattern). */
  private[graft] def simhashPairsOf(sh: DataFrame): DataFrame = {
    val banded = sh.select(col("doc_id"), col("simhash"),
        posexplode(expr(
          "transform(sequence(0, 3), b -> shiftright(simhash, b * 4) % 16)")))
      .withColumnRenamed("pos", "band").withColumnRenamed("col", "key")
    val capped = banded
      // hash-ordered prefix per the eviction-bias rule (see
      // lshPairsCapped) — a flooded band bucket loses an unbiased
      // subset, not its newest members
      .withColumn("rk", row_number().over(
        Window.partitionBy("band", "key")
          .orderBy(md5(col("doc_id").cast("string")), col("doc_id"))))
      .filter(col("rk") <= SimBandCap).drop("rk")
    val pairs = capped.as("a").join(capped.as("b"),
        col("a.band") === col("b.band") && col("a.key") === col("b.key")
          && col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("id_a"), col("b.doc_id").as("id_b"),
        col("a.simhash").as("sa"), col("b.simhash").as("sb"))
      .distinct()
    pairs.withColumn("hamming", expr("bit_count(sa ^ sb)").cast("long"))
      .filter(col("hamming") <= 2)
      .select(col("id_a"), col("id_b"), col("hamming"))
      .orderBy("id_a", "id_b")
  }

  /** Members per probe cell that enter qd13's pair join — the qd8/qd9
    * member-prefix treatment applied to quantizer cells (a degenerate
    * corpus that collapses into one cell must cost O(cap²), not
    * O(N²)). Non-binding on the fixtures; encoded in the oracle SQL so
    * a hot fixture cannot diverge silently. */
  private[graft] val CellCap = 512

  /** Probe cells per vector for the cell-bucketed near-dup candidate
    * generation (qd13, and qc2's embedding membrane through the shared
    * machinery). Tuned BY [[qd15_cell_recall]]'s audit, not guessed:
    * at the fixture tau (0.4) on sf0.1, p=2 recalled only 45% of
    * qd5's exact band-4 pairs (92/202) — boundary pairs at low cosine
    * rarely share a top-2 cell when the quantizer has ~N/100 cells —
    * while p=5 recalls 97.5% (197/202 band 4, 5/5 band 5; 11/11 at
    * sf0.01) at ~4× the candidate pairs (388k → 1.57M at sf0.1), still
    * Σcell²-bounded and far from corpus-quadratic. p=6+ without a cap
    * raise buys 1.5% recall for another 16% pairs — past the knee. */
  private[graft] val ProbeCells = 5

  /** qd13: embedding near-dup at corpus scale — the IVF-cell-bucketed
    * pair generation [[qd5_embedding_neardup]]'s doc promises, now
    * implemented and oracle-checked. Every vector is assigned its [[ProbeCells]]
    * nearest centroids (the multi-probe trick from qs4/IvfIndex.search
    * applied to dedup): pair candidates are generated cell-locally, and
    * the extra probe cells catch near pairs straddling cell
    * boundaries that single-cell assignment (SemDeDup-style) silently
    * loses — probe width tuned by [[qd15_cell_recall]]'s audit, see
    * [[ProbeCells]]. Pair space is Σ cell² — never corpus-quadratic like qd5's
    * exact baseline — with the [[CellCap]] member prefix bounding even
    * a degenerate one-cell corpus; the exact rounded-cosine verify then
    * runs per candidate pair, qd5's semantics unchanged.
    *
    * Scale shape: quantizer rides ONE broadcast row (the shared
    * row-local `topCells` fold — no N×C explosion, no vec_id
    * exchange); one exchange by probe cell for the capped self-join;
    * embeddings join back by id for the verify. */
  def qd13_cell_neardup(s: SparkSession, d: String): DataFrame = {
    val emb = Tables.embeddings(s, d)
      .withColumn("nrm", sqrt(Similarity.norm2(col("embedding"))))
      // feeds the centroid sample (a collect) + the probe assignment
      // (qd2's rule: Spark shares no subtrees)
      .localCheckpoint(eager = false)
    val cents = emb.filter(pmod(col("vec_id"), lit(100)) === 7)
      .select(col("vec_id").as("cid"), col("embedding").as("ce"), col("nrm").as("cn"))
    cellNearDup(emb, cents, tau = 0.4).orderBy("id_a", "id_b")
  }

  /** The whole cell-bucketed near-dup pass with the QUANTIZER
    * INJECTED: capped multi-probe candidate generation (the seam
    * [[Curation.embedCandidatePairs]] shares with qc2) with the exact
    * rounded-cosine verify riding the pair join itself
    * ([[Curation.embedCandidatePairsScored]]). `emb` must be
    * `(vec_id, embedding, nrm)` and MATERIALIZED by the caller — it
    * feeds the centroid sample and the probe assignment.
    * [[qd13_cell_neardup]]
    * passes the fixture's deterministic `vec_id % 100 == 7` centroid
    * sample (C ∝ N — an oracle device, and the one super-linear probe
    * term ScaleBench measured); production passes a persisted
    * [[IvfIndex]] quantizer built at `nCells ∝ √N`, which
    * [[graft.IvfScaleBench]] measures at the scale rungs and
    * IvfQuantizerSpec pins equivalent on identical centroid content. */
  /** Flood-guard member cap sized from EXPECTED cell occupancy — the
    * production sizing rule IvfScaleBench forced: a fixed cap under a
    * √N-cell quantizer saturates ordinary cells once N·probes/C passes
    * it (occupancy 5√N grows without bound), and a saturated cap
    * silently drops documents from dedup coverage. `headroom` × mean
    * occupancy binds only on genuinely skewed cells (the flood case
    * the cap exists for) while pair cost stays Σcell² ≈
    * headroom²·p²·N²/C — the standard N^1.5 IVF-dedup bill at
    * C ∝ √N. */
  private[graft] def occupancyCap(nVecs: Long, nCells: Int,
      probes: Int = ProbeCells, headroom: Int = 4): Int =
    math.max(CellCap,
      (headroom.toLong * probes * nVecs / math.max(1, nCells))
        .min(Int.MaxValue).toInt)

  private[graft] def cellNearDup(emb: DataFrame, cents: DataFrame,
      tau: Double, cap: Int = CellCap, probes: Int = ProbeCells): DataFrame = {
    val edocs = emb.select(col("vec_id").as("doc_id"), col("embedding"), col("nrm"))
    // CellCap / ProbeCells named in the defaults (not just inside the
    // seam) so tools/check_caps.py keeps attributing them to qd13/qd15.
    // Round-17: the rounded cosine rides the pair self-join itself
    // (embedCandidatePairsScored) — the former two vector joins back
    // onto `emb` planned as sort-merge over statless checkpoints (four
    // exchanges, two sorts) and moved the pair frame twice more.
    Curation.embedCandidatePairsScored(edocs, cents, cap, probes)
      .filter(col("rcos") >= tau)
      .select(col("id_a"), col("id_b"), col("rcos"))
  }

  /** [[cellNearDup]] with the serving index's int8 lever applied to
    * the PAIR stage (round-16 verdict #3: qd16's top-rung cost is
    * pair-scoring-dominated): candidate pairs first score an exact
    * INTEGER dot over 4×-smaller packed blobs — the pair exchange
    * carries 1-byte-per-dim binaries instead of float arrays — and
    * only pairs whose dequantized cosine PLUS a per-pair quantization
    * error bound clears tau are rescored in float.
    *
    * The bound is SOUND, so this is a lossless funnel, not
    * [[IvfIndex.searchInt8]]'s measured-recall top-`rescore` one:
    * with x̂ = sa·qa and the pack's floor(x/s + ½) rule giving
    * |x_i − x̂_i| ≤ sa/2,
    *   |x·y − sa·sb·(qa·qb)| = |(x−x̂)·y + x̂·(y−ŷ)|
    *     ≤ (sa/2)·‖y‖₁ + (sb/2)·(‖x‖₁ + d·sa/2).
    * A pair is pruned only when even `approx + bound < tau − 1e-6`
    * (the 1e-6 slack covers the float path's round(·, 6) lifting a
    * cosine onto the threshold, plus double-arithmetic noise), so no
    * pair the float verify would emit can be lost, and survivors'
    * emitted rcos comes from the IDENTICAL float expression —
    * Int8DedupSpec pins the two paths row-for-row equal and qd16's
    * oracle stays hash-exact. A side whose pack is null (zero/NaN
    * scale — [[graft.functions.Int8PackExpr]]'s loud-null contract)
    * cannot be bounded and falls through to the float verify, which
    * then decides exactly as [[cellNearDup]] would. */
  private[graft] def cellNearDupInt8(emb: DataFrame, cents: DataFrame,
      tau: Double, cap: Int = CellCap, probes: Int = ProbeCells): DataFrame = {
    val edocs = emb.select(col("vec_id").as("doc_id"), col("embedding"), col("nrm"))
    val pairs = Curation.embedCandidatePairs(edocs, cents, cap, probes)
    // per-vector int8 sidecar: packed blob, scale, L1 norm (the bound's
    // ‖·‖₁ terms), float norm, dim — narrow rows, read by both pair
    // sides of the approx join
    val q = emb.select(col("vec_id"), col("nrm"),
        IvfIndex.int8Scale(col("embedding")).as("scale"),
        aggregate(col("embedding"), lit(0d),
          (acc, v) => acc + abs(v.cast("double"))).as("l1"),
        size(col("embedding")).cast("double").as("d"),
        col("embedding"))
      .select(col("vec_id"), col("nrm"), col("scale"), col("l1"), col("d"),
        graft.functions.GraftFunctions.int8_pack(col("embedding"), col("scale")).as("q8"))
      .localCheckpoint(eager = false)
    val survivors = pairs
      .join(q.select(col("vec_id").as("id_a"), col("q8").as("qa"),
        col("scale").as("sa"), col("l1").as("la"), col("nrm").as("pna"),
        col("d")), "id_a")
      .join(q.select(col("vec_id").as("id_b"), col("q8").as("qb"),
        col("scale").as("sb"), col("l1").as("lb"), col("nrm").as("pnb")), "id_b")
      .withColumn("keep",
        when(col("qa").isNull || col("qb").isNull, lit(true)) // unboundable → float decides
          .otherwise((col("sa") * col("sb") *
              graft.functions.GraftFunctions.int8_dot(col("qa"), col("qb")).cast("double")
            + col("sa") / 2 * col("lb") + col("sb") / 2 * col("la")
            + col("d") * col("sa") * col("sb") / 4)
            / (col("pna") * col("pnb")) >= lit(tau - 1e-6)))
      .filter(col("keep"))
      .select(col("id_a"), col("id_b"))
    survivors
      .join(emb.select(col("vec_id").as("id_a"), col("embedding").as("ea"), col("nrm").as("na")), "id_a")
      .join(emb.select(col("vec_id").as("id_b"), col("embedding").as("eb"), col("nrm").as("nb")), "id_b")
      .withColumn("rcos", round(Similarity.dot(col("ea"), col("eb")) / (col("na") * col("nb")), 6))
      .filter(col("rcos") >= tau)
      .select(col("id_a"), col("id_b"), col("rcos"))
  }

  /** qd15: recall audit of the cell-bucketed scale path — quantify what
    * [[qd13_cell_neardup]]'s multi-probe candidate generation loses
    * against [[qd5_embedding_neardup]]'s exact all-pairs ground truth,
    * on qd5's odd-vec_id sample (the subset both paths compute), per
    * cosine decile. qs5's audit design applied to dedup: exact answers
    * for a sliver, indexed answers for everything — at 100 TB the
    * exact side stays a ~1% sample while the cell side is the
    * production pass, so the audit's cost is sample², not corpus².
    * `recall_pct` is an integer floor-percent (qt9's rule: never
    * hash-compare cross-engine float aggregates; the band key is an
    * integer decile for the same reason). */
  def qd15_cell_recall(s: SparkSession, d: String): DataFrame = {
    val exact = qd5_embedding_neardup(s, d)
    val found = qd13_cell_neardup(s, d).select(col("id_a"), col("id_b"))
    exact
      .join(found, col("keep_id") === col("id_a") && col("dup_id") === col("id_b"), "left")
      .select(floor(col("rcos") * 10).as("band"),
        when(col("id_a").isNotNull, 1L).otherwise(0L).as("found"))
      .groupBy("band")
      .agg(count(lit(1)).as("n_exact"), sum(col("found")).as("n_found"))
      .withColumn("recall_pct", floor(lit(100) * col("n_found") / col("n_exact")))
      .orderBy("band")
  }

  /** qd16: the PRODUCTION-SIZED cell near-dup — [[cellNearDup]] under
    * every at-scale rule the round-10 IvfScaleBench audit forced, now
    * oracle-gated rather than bench-asserted: the quantizer carries
    * `C = ⌈√N⌉` cells (the standard IVF sizing that keeps the probe
    * term N^1.5 instead of qd13's fixture N², BASELINE.md r10 row),
    * the flood cap is [[occupancyCap]] (headroom·p·N/C — sized from
    * mean occupancy so ordinary cells never saturate; a FIXED cap
    * under √N cells saturates at occupancy 5√N and starts dropping
    * docs), and the cap prefix orders by md5(id) so any binding evicts
    * an unbiased subset instead of the corpus's newest documents.
    *
    * The centroid selection — first ⌈√N⌉ corpus vectors by
    * md5(vec_id) order — is [[IvfIndex.sampleCentroids]], the SAME
    * code path [[IvfIndex.build]] runs, so this query runs the
    * production quantizer end to end and cannot drift from the
    * persisted index; IvfQuantizerSpec pins it pair-for-pair
    * identical to a persisted built index, and the IvfScaleBench
    * `ivf` arm measured the shape at the 1×/3×/10×/30× rungs
    * (planted dup-pair recall 199–200/200 at every rung).
    *
    * Scale shape: one count + a √N-row TakeOrdered for the centroid
    * sample (driver holds √N rows — 31k for a 1e9-doc corpus), then
    * [[cellNearDup]]'s broadcast-quantizer probe / capped cell-local
    * self-join / id-join verify. */
  def qd16_ivf_neardup(s: SparkSession, d: String): DataFrame = {
    val emb = Tables.embeddings(s, d)
      .withColumn("nrm", sqrt(Similarity.norm2(col("embedding"))))
      .localCheckpoint()
    val n = emb.count()
    val nCells = math.ceil(math.sqrt(n.toDouble)).toInt
    val cents = IvfIndex.sampleCentroids(emb, nCells)
    // int8 pair stage (round-17): lossless bounded funnel — output
    // identical to cellNearDup's, oracle unchanged
    cellNearDupInt8(emb, cents, tau = 0.4, cap = occupancyCap(n, nCells))
      .orderBy("id_a", "id_b")
  }

  /** qd22: incremental CROSS-CORPUS near-dedup — the batch form of the
    * streaming membrane's admission question: which docs of a NEW
    * crawl slice (doc_id % 3 = 0) near-duplicate the EXISTING corpus
    * (the rest)? Every recurring-crawl pipeline runs this before
    * merging a new dump into the corpus. Unlike qd7's decontamination
    * (whose eval side is benchmark-sized and broadcasts) BOTH sides
    * here are corpus-sized, so candidates ride a SHUFFLE join on the
    * shared LSH band keys — never a broadcast, never all-pairs. The
    * EXISTING side is capped per bucket ([[CellCap]], md5-ordered):
    * the cap sits on the WITNESS side only, so a boilerplate flood
    * bucket still witnesses every new doc at |new| × cap pairs instead
    * of |new| × |bucket| — the streaming membrane's one-sided-cap
    * argument ([[graft.stream.EmbedIngest.inBatchLosers]]) applied
    * batch-side; hash-ordering keeps eviction unbiased and
    * oracle-reproducible. Witnessed pairs verify at the signature
    * level (qd2's n_match / 6), and a new doc is a dup when its best
    * witness clears est-Jaccard ≥ 1/2 (2·n_match ≥ [[NumHashes]], the
    * integer-exact form). Output per duplicated new doc: its best
    * witness (n_match DESC, id ASC), that score, and the qualifying
    * witness count. */
  def qd22_cross_corpus_neardup(s: SparkSession, d: String): DataFrame =
    crossCorpusNearDup(minhashSigs(s, d).localCheckpoint(eager = false),
      isNew = pmod(col("doc_id"), lit(3)) === 0, cap = CellCap)
      .orderBy("doc_id")

  /** Persist a corpus version's minhash signature table (round-16:
    * the versionBump prior-side lever) — `sigs_v{ver}` parquet under
    * `dir`, version-stamped so a bump can only consume signatures that
    * describe EXACTLY its prior corpus (the ledger version the merge
    * committed). Narrow rows (doc_id + 6 md5 strings), one table per
    * version with one-cycle grace retirement. A 100 TB bump's
    * prior-side cost drops from a full text re-minhash to one narrow
    * parquet read. */
  def saveSigs(spark: SparkSession, dir: String, ver: Long,
      sigs: DataFrame): Unit = {
    sigs.write.mode(org.apache.spark.sql.SaveMode.Overwrite)
      .parquet(s"$dir/sigs_v$ver")
    // grace retirement (the SplitLedger rule): keep ver−1 for lazy
    // readers, sweep older — crash-skipped sweeps self-heal next save
    val root = new org.apache.hadoop.fs.Path(dir)
    val fs = root.getFileSystem(spark.sessionState.newHadoopConf())
    fs.listStatus(root).foreach { st =>
      val old = st.getPath.getName.stripPrefix("sigs_v").toLongOption
        .exists(_ < ver - 1)
      if (old) require(fs.delete(st.getPath, true),
        s"saveSigs: could not retire expired ${st.getPath}")
    }
  }

  /** The version-ALIGNED signature load: Some only when `sigs_v{ver}`
    * committed (`_SUCCESS`) — an older table would be missing the
    * docs the last bump admitted and silently under-witness; callers
    * fall back to recomputing from the corpus text (self-healing: a
    * crash between a bump's ledger commit and its sig save costs one
    * recompute, never a wrong answer). */
  def loadSigs(spark: SparkSession, dir: String, ver: Long): Option[DataFrame] = {
    val ok = new org.apache.hadoop.fs.Path(s"$dir/sigs_v$ver/_SUCCESS")
    val fs = ok.getFileSystem(spark.sessionState.newHadoopConf())
    if (fs.exists(ok)) Some(spark.read.parquet(s"$dir/sigs_v$ver")) else None
  }

  /** qd22's machinery over any signature frame — the seam that lets
    * DedupClusterSpec flood one bucket. `sigs` must be materialized by
    * the caller (it feeds banding AND both verify-join sides). */
  private[graft] def crossCorpusNearDup(sigs: DataFrame, isNew: Column,
      cap: Int): DataFrame = {
    // the membership split runs on the SIGS frame (before banding), so
    // `isNew` may reference any column the caller carried on it — an
    // id-residue (qd22's fixture), or a literal is_new tag from a
    // two-table union ([[graft.batch.Curation.versionBump]]'s shape)
    val nb = bandKeysOf(sigs.filter(isNew))
    val ob = bandKeysOf(sigs.filter(!isNew))
      .withColumn("rk", row_number().over(Window.partitionBy("band", "key")
        .orderBy(md5(col("doc_id").cast("string")), col("doc_id"))))
      .filter(col("rk") <= cap).drop("rk")
    val cand = nb.as("n").join(ob.as("o"),
        col("n.band") === col("o.band") && col("n.key") === col("o.key"))
      // names distinct from the sigs schema: the verify joins below
      // would otherwise make doc_id ambiguous
      .select(col("n.doc_id").as("nid"), col("o.doc_id").as("wid")).distinct()
    val sa = sigs.as("sa"); val sb = sigs.as("sb")
    val ver = cand
      .join(sa, col("nid") === col("sa.doc_id"))
      .join(sb, col("wid") === col("sb.doc_id"))
      .select(col("nid").as("doc_id"), col("wid").as("cand"),
        (0 until NumHashes).map(j =>
          when(col(s"sa.h$j") === col(s"sb.h$j"), 1).otherwise(0))
          .reduce(_ + _).as("n_match"))
      .filter(col("n_match") * 2 >= NumHashes)
    ver.groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_witnesses"),
        // best witness = (n_match DESC, cand ASC) as one exact struct max
        max(struct(col("n_match"), (lit(0L) - col("cand")).as("nc"))).as("b"))
      .select(col("doc_id"), (lit(0L) - col("b.nc")).as("dup_of"),
        col("b.n_match").as("best_match"), col("n_witnesses"))
  }

  /** qd21's cosine floor — the qc2/qd16 near-dup threshold applied
    * cross-set (a corpus doc this close to an eval doc is its
    * paraphrase/near-copy for contamination purposes). */
  private[graft] val SemTau = 0.4

  /** qd21: SEMANTIC eval-set decontamination — qd7/qd10's cross-set
    * membrane at EMBEDDING granularity: flag corpus vectors whose
    * cosine to ANY eval-set vector ≥ [[SemTau]] — the paraphrased /
    * translated / re-worded contamination that span fingerprints
    * (exact ≥ 47-char matches) structurally cannot see. Every modern
    * decontamination stack runs both layers.
    *
    * Scale shape — qd7's no-corpus-shuffle rule at embedding
    * granularity: the benchmark-sized EVAL side multi-probes its
    * [[ProbeCells]] nearest cells of the shared deterministic
    * quantizer and BROADCASTS as a (cell → eval member) table; each
    * corpus vector assigns to its ONE nearest cell map-side (row-local
    * fold over the one broadcast quantizer row) and scores only the
    * broadcast members sharing that cell. The corpus never shuffles —
    * the only exchanges are the final per-doc aggregate's. The
    * eval-side multiprobe catches boundary-straddling pairs that
    * single-cell assignment on both sides would lose (qd13's lesson,
    * applied cross-set where only the SMALL side can afford the probe
    * fan-out). No cap on the eval side: it is benchmark-bounded by
    * definition, and a cap would silently LOSE decontamination
    * coverage — unlike the self-join operators, where caps bound pair
    * blowup (qd13's two-sided prefix). */
  def qd21_semantic_decontam(s: SparkSession, d: String): DataFrame = {
    val enm = Tables.embeddings(s, d)
      .withColumn("nrm", sqrt(Similarity.norm2(col("embedding"))))
      .localCheckpoint(eager = false) // feeds quantizer, eval probes, corpus assign
    val cents = enm.filter(pmod(col("vec_id"), lit(100)) === 7)
      .select(col("vec_id").as("cid"), col("embedding").as("ce"), col("nrm").as("cn"))
    semanticPairs(enm, pmod(col("vec_id"), lit(25)) === 0, cents, ProbeCells)
      .groupBy(col("vec_id"))
      .agg(count(lit(1)).as("n_eval_hits"), max(col("rcos")).as("max_rcos"))
      .orderBy("vec_id")
  }

  /** qd21's probe/score machinery over any normed embedding frame —
    * the seam the paraphrase-twin recall sweep drives with planted
    * twins and a VARIABLE eval-side fan-out (the round-15 edge: p is
    * the cheap recall lever because it scales with the benchmark, not
    * the corpus): eval rows multi-probe `probe` cells of the shared
    * quantizer and broadcast as a cell → member table; every other
    * row assigns map-side to its ONE best cell and scores only the
    * broadcast members sharing it — the corpus never shuffles.
    * Returns the distinct contaminated (vec_id, eid, rcos) pairs at
    * `rcos ≥ [[SemTau]]`. */
  private[graft] def semanticPairs(enm: DataFrame, isEval: Column,
      cents: DataFrame, probe: Int): DataFrame = {
    val evCells = enm.filter(isEval)
      .crossJoin(broadcast(IvfIndex.centroidArray(cents)))
      .select(col("vec_id").as("eid"), col("embedding").as("ee"), col("nrm").as("en"),
        explode(IvfIndex.nearestCells(col("embedding"), col("nrm"), probe,
          rounded = true)).as("cell"))
    val cp = enm.filter(!isEval)
      .crossJoin(broadcast(IvfIndex.centroidArray(cents)))
      .withColumn("cell", IvfIndex.bestCell(col("embedding"), col("nrm"), rounded = true))
    cp.join(broadcast(evCells), Seq("cell"))
      .withColumn("rcos",
        round(Similarity.dot(col("ee"), col("embedding")) / (col("en") * col("nrm")), 6))
      .filter(col("rcos") >= SemTau)
      // a (corpus, eval) pair reached through several probed cells
      // would count several times — hits are per distinct pair
      .select(col("vec_id"), col("eid"), col("rcos")).distinct()
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "qd7_decontaminate" -> (qd7_decontaminate _),
    "qd12_bloom_decontam" -> (qd12_bloom_decontam _),
    "qd1_exact_dedup" -> (qd1_exact_dedup _),
    "qd2_minhash_lsh" -> (qd2_minhash_lsh _),
    "qd8_lsh_capped" -> (qd8_lsh_capped _),
    "qd9_substring_dup" -> (qd9_substring_dup _),
    "qd11_substring_overflow" -> (qd11_substring_overflow _),
    "qd10_decontam_spans" -> (qd10_decontam_spans _),
    "qd3_simhash" -> (qd3_simhash _),
    "qd4_ngram_jaccard" -> (qd4_ngram_jaccard _),
    "qd5_embedding_neardup" -> (qd5_embedding_neardup _),
    "qd13_cell_neardup" -> (qd13_cell_neardup _),
    "qd21_semantic_decontam" -> (qd21_semantic_decontam _),
    "qd22_cross_corpus_neardup" -> (qd22_cross_corpus_neardup _),
    "qd14_simhash_neardup" -> (qd14_simhash_neardup _),
    "qd15_cell_recall" -> (qd15_cell_recall _),
    "qd16_ivf_neardup" -> (qd16_ivf_neardup _),
    "qd6_dup_clusters" -> (qd6_dup_clusters _),
    "qd17_quality_canonical" -> (qd17_quality_canonical _),
    "qd18_leakage_split" -> (qd18_leakage_split _),
    "qd19_canonical_selection" -> (qd19_canonical_selection _),
    "qd20_sticky_split" -> (qd20_sticky_split _))

  /** The shingle CTE over a corpus version (`where` filters documents),
    * with every CTE name `p`-prefixed so [[qd20_sticky_split]]'s oracle
    * can instantiate the chain once per version in one statement. The
    * un-prefixed full-corpus instance below is the same text every
    * pre-qd20 oracle always used. */
  private def shingleSqlOf(p: String, where: String) =
    s"""${p}shingles AS (
       | SELECT DISTINCT doc_id, concat_ws(' ', toks[i+1], toks[i+2], toks[i+3]) AS shingle
       | FROM (
       |  SELECT doc_id, toks, unnest(range(0, greatest(len(toks) - 3, 0) + 1)) AS i
       |  FROM (SELECT doc_id, string_split(lower(substr(text, 1, $ShingleChars)), ' ') AS toks
       |        FROM documents WHERE $where))
       | WHERE length(concat_ws(' ', toks[i+1], toks[i+2], toks[i+3])) > 0)""".stripMargin

  private val shingleSql = shingleSqlOf("", "TRUE")

  /** The LSH graph → component labels CTE chain (sigs → bands → pairs
    * → edges → recursive reach → labels), shared by the qd6 and qd17
    * oracles so the two state the SAME graph; must appear under
    * `WITH RECURSIVE $shingleSql` (the reach CTE is self-referencing,
    * which is also why the materializer skips these statements).
    * `p`-prefixed like [[shingleSqlOf]] for multi-version statements. */
  private def clusterLabelsSqlOf(p: String) =
    s"""${p}sigs AS (
      | SELECT doc_id,
      |  MIN(md5('0|' || shingle)) AS h0, MIN(md5('1|' || shingle)) AS h1,
      |  MIN(md5('2|' || shingle)) AS h2, MIN(md5('3|' || shingle)) AS h3,
      |  MIN(md5('4|' || shingle)) AS h4, MIN(md5('5|' || shingle)) AS h5
      | FROM ${p}shingles GROUP BY 1),
      |${p}bands AS (
      | SELECT doc_id, 0 AS band, md5(h0 || h1 || h2) AS key FROM ${p}sigs
      | UNION ALL
      | SELECT doc_id, 1 AS band, md5(h3 || h4 || h5) AS key FROM ${p}sigs),
      |${p}pairs AS (
      | SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
      | FROM ${p}bands a JOIN ${p}bands b ON a.band = b.band AND a.key = b.key
      |  AND a.doc_id < b.doc_id),
      |${p}edges AS (
      | SELECT id_a AS src, id_b AS dst FROM ${p}pairs
      | UNION ALL SELECT id_b, id_a FROM ${p}pairs),
      |${p}nodes AS (SELECT DISTINCT src AS id FROM ${p}edges),
      |${p}reach(id, lbl) AS (
      | SELECT id, id FROM ${p}nodes
      | UNION
      | SELECT r.id, e.dst FROM ${p}reach r JOIN ${p}edges e ON e.src = r.lbl),
      |${p}labels AS MATERIALIZED (
      | SELECT id, MIN(lbl) AS cluster_id FROM ${p}reach GROUP BY 1)""".stripMargin

  private val clusterLabelsSql = clusterLabelsSqlOf("")

  /** qd18's hash-split CASE over a SQL expression — the oracle twin of
    * [[hashSplitOf]], one formula for qd18, qd20 and the ledger spec. */
  private[graft] def sqlHashSplit(x: String) =
    s"""CASE WHEN ('0x' || substr(md5(CAST($x AS VARCHAR)), 1, 6))::BIGINT % 100 < 80 THEN 'train'
       |      WHEN ('0x' || substr(md5(CAST($x AS VARCHAR)), 1, 6))::BIGINT % 100 < 90 THEN 'val'
       |      ELSE 'test' END""".stripMargin

  // shared by qd3 (fingerprints) and qd14 (pair generation over them)
  private val simhashCtes =
    """toks AS (
      | SELECT DISTINCT doc_id, t.tok FROM (
      |  SELECT doc_id, unnest(string_split(lower(substr(text, 1, 200)), ' ')) AS tok
      |  FROM documents) t
      | WHERE length(t.tok) > 0),
      |hv AS (SELECT doc_id, tok, ('0x' || substr(md5(tok), 1, 4))::INT AS hv FROM toks),
      |votes AS (
      | SELECT doc_id, b.b,
      |  SUM(CAST(floor(hv / pow(2, b.b)) AS BIGINT) % 2 * 2 - 1) AS votes
      | FROM hv, range(16) b(b) GROUP BY 1, 2),
      |sim AS (
      | SELECT doc_id,
      |  CAST(SUM(CASE WHEN votes > 0 THEN CAST(pow(2, b) AS BIGINT) ELSE 0 END) AS BIGINT) AS simhash
      | FROM votes GROUP BY 1)""".stripMargin

  // shared by qd7 and qd12: the bloom pass is a plan optimization, not
  // a semantics change, so both hash-match the same exact SQL
  private val decontamSql =
    s"""WITH $shingleSql,
       |ev AS (SELECT DISTINCT shingle FROM shingles WHERE doc_id % 25 = 0),
       |corpus AS (SELECT * FROM shingles WHERE doc_id % 25 <> 0),
       |counts AS (SELECT doc_id, COUNT(*) AS n_sh FROM corpus GROUP BY 1),
       |hits AS (
       | SELECT c.doc_id, COUNT(*) AS n_contaminated
       | FROM corpus c JOIN ev USING (shingle) GROUP BY 1)
       |SELECT h.doc_id, h.n_contaminated, counts.n_sh,
       | round(CAST(h.n_contaminated AS DOUBLE) / counts.n_sh, 6) AS ratio
       |FROM hits h JOIN counts USING (doc_id)
       |WHERE h.n_contaminated >= 2
       |ORDER BY doc_id""".stripMargin

  val oracle: Map[String, String] = Map(
    "qd7_decontaminate" -> decontamSql,
    "qd12_bloom_decontam" -> decontamSql,
    "qd1_exact_dedup" ->
      """SELECT source, COUNT(*) AS n_docs,
        | CAST(COUNT(DISTINCT text) AS BIGINT) AS n_unique,
        | CAST(COUNT(DISTINCT md5(text)) AS BIGINT) AS n_unique_md5
        |FROM documents GROUP BY 1 ORDER BY 1""".stripMargin,
    "qd2_minhash_lsh" ->
      s"""WITH $shingleSql,
         |sigs AS (
         | SELECT doc_id,
         |  MIN(md5('0|' || shingle)) AS h0, MIN(md5('1|' || shingle)) AS h1,
         |  MIN(md5('2|' || shingle)) AS h2, MIN(md5('3|' || shingle)) AS h3,
         |  MIN(md5('4|' || shingle)) AS h4, MIN(md5('5|' || shingle)) AS h5
         | FROM shingles GROUP BY 1),
         |bands AS (
         | SELECT doc_id, 0 AS band, md5(h0 || h1 || h2) AS key FROM sigs
         | UNION ALL
         | SELECT doc_id, 1 AS band, md5(h3 || h4 || h5) AS key FROM sigs),
         |pairs AS (
         | SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
         | FROM bands a JOIN bands b ON a.band = b.band AND a.key = b.key
         |  AND a.doc_id < b.doc_id)
         |SELECT id_a, id_b,
         | (CASE WHEN sa.h0 = sb.h0 THEN 1 ELSE 0 END + CASE WHEN sa.h1 = sb.h1 THEN 1 ELSE 0 END
         |  + CASE WHEN sa.h2 = sb.h2 THEN 1 ELSE 0 END + CASE WHEN sa.h3 = sb.h3 THEN 1 ELSE 0 END
         |  + CASE WHEN sa.h4 = sb.h4 THEN 1 ELSE 0 END + CASE WHEN sa.h5 = sb.h5 THEN 1 ELSE 0 END) AS n_match,
         | CAST((CASE WHEN sa.h0 = sb.h0 THEN 1 ELSE 0 END + CASE WHEN sa.h1 = sb.h1 THEN 1 ELSE 0 END
         |  + CASE WHEN sa.h2 = sb.h2 THEN 1 ELSE 0 END + CASE WHEN sa.h3 = sb.h3 THEN 1 ELSE 0 END
         |  + CASE WHEN sa.h4 = sb.h4 THEN 1 ELSE 0 END + CASE WHEN sa.h5 = sb.h5 THEN 1 ELSE 0 END) AS DOUBLE) / 6 AS est_jaccard
         |FROM pairs JOIN sigs sa ON id_a = sa.doc_id JOIN sigs sb ON id_b = sb.doc_id
         |ORDER BY id_a, id_b""".stripMargin,
    "qd10_decontam_spans" ->
      """WITH d AS (SELECT doc_id, text FROM documents WHERE length(text) >= 32),
        |corpus AS (
        | SELECT DISTINCT doc_id AS corpus_id,
        |  md5(substr(text, CAST(1 + 16 * i AS INT), 32)) AS fp
        | FROM (
        |  SELECT doc_id, text,
        |   unnest(range(0, (length(text) - 32) // 16 + 1)) AS i
        |  FROM d WHERE doc_id % 10 <> 7)),
        |ev AS (
        | SELECT DISTINCT doc_id AS eval_id,
        |  md5(substr(text, CAST(1 + i AS INT), 32)) AS fp
        | FROM (
        |  SELECT doc_id, text, unnest(range(0, length(text) - 31)) AS i
        |  FROM d WHERE doc_id % 10 = 7))
        |SELECT corpus_id, eval_id, COUNT(*) AS n_spans
        |FROM corpus JOIN ev USING (fp)
        |GROUP BY 1, 2 ORDER BY corpus_id, eval_id""".stripMargin,
    "qd9_substring_dup" ->
      s"""WITH w AS (
        | SELECT DISTINCT doc_id,
        |  md5(substr(text, CAST(1 + 16 * i AS INT), 32)) AS fp
        | FROM (
        |  SELECT doc_id, text,
        |   unnest(range(0, (length(text) - 32) // 16 + 1)) AS i
        |  FROM documents WHERE length(text) >= 32)),
        |p AS (
        | SELECT doc_id, fp FROM w
        | QUALIFY row_number() OVER (PARTITION BY fp
        |  ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) <= $SubstringDfCap)
        |SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS n_shared
        |FROM p a JOIN p b ON a.fp = b.fp AND a.doc_id < b.doc_id
        |GROUP BY 1, 2 HAVING COUNT(*) >= 2
        |ORDER BY id_a, id_b""".stripMargin,
    "qd11_substring_overflow" ->
      s"""WITH w AS (
        | SELECT DISTINCT doc_id,
        |  md5(substr(text, CAST(1 + 16 * i AS INT), 32)) AS fp
        | FROM (
        |  SELECT doc_id, text,
        |   unnest(range(0, (length(text) - 32) // 16 + 1)) AS i
        |  FROM documents WHERE length(text) >= 32)),
        |dfs AS (SELECT fp, COUNT(*) AS df FROM w GROUP BY 1)
        |SELECT fp, df,
        | df * (df - 1) // 2 AS n_pairs_true,
        | least(df, $SubstringDfCap) * (least(df, $SubstringDfCap) - 1) // 2 AS n_pairs_reported,
        | df * (df - 1) // 2
        |  - least(df, $SubstringDfCap) * (least(df, $SubstringDfCap) - 1) // 2 AS n_overflow
        |FROM dfs WHERE df >= 2
        |ORDER BY df DESC, fp LIMIT 20""".stripMargin,
    "qd8_lsh_capped" ->
      s"""WITH $shingleSql,
         |sigs AS (
         | SELECT doc_id,
         |  MIN(md5('0|' || shingle)) AS h0, MIN(md5('1|' || shingle)) AS h1,
         |  MIN(md5('2|' || shingle)) AS h2, MIN(md5('3|' || shingle)) AS h3,
         |  MIN(md5('4|' || shingle)) AS h4, MIN(md5('5|' || shingle)) AS h5
         | FROM shingles GROUP BY 1),
         |bands AS (
         | SELECT doc_id, 0 AS band, md5(h0 || h1 || h2) AS key FROM sigs
         | UNION ALL
         | SELECT doc_id, 1 AS band, md5(h3 || h4 || h5) AS key FROM sigs),
         |sized AS (
         | SELECT doc_id, band, key,
         |  COUNT(*) OVER (PARTITION BY band, key) AS m,
         |  row_number() OVER (PARTITION BY band, key
         |   ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rk
         | FROM bands),
         |prefix AS (SELECT * FROM sized WHERE rk <= ${pairPrefix(1000)}),
         |pairs AS (
         | SELECT a.band, a.key, a.doc_id AS id_a, b.doc_id AS id_b, a.m
         | FROM prefix a JOIN prefix b ON a.band = b.band AND a.key = b.key
         |  AND a.doc_id < b.doc_id),
         |scored AS (
         | SELECT band, key, id_a, id_b, m,
         |  (CASE WHEN sa.h0 = sb.h0 THEN 1 ELSE 0 END + CASE WHEN sa.h1 = sb.h1 THEN 1 ELSE 0 END
         |   + CASE WHEN sa.h2 = sb.h2 THEN 1 ELSE 0 END + CASE WHEN sa.h3 = sb.h3 THEN 1 ELSE 0 END
         |   + CASE WHEN sa.h4 = sb.h4 THEN 1 ELSE 0 END + CASE WHEN sa.h5 = sb.h5 THEN 1 ELSE 0 END) AS n_match
         | FROM pairs JOIN sigs sa ON id_a = sa.doc_id JOIN sigs sb ON id_b = sb.doc_id),
         |topc AS (
         | SELECT * FROM scored
         | QUALIFY row_number() OVER (PARTITION BY band, key
         |  ORDER BY CAST(n_match AS DOUBLE) / 6 DESC, id_a, id_b) <= 1000)
         |SELECT band, key, id_a, id_b, n_match,
         | CAST(n_match AS DOUBLE) / 6 AS est_jaccard,
         | CAST(m * (m - 1) // 2 - COUNT(*) OVER (PARTITION BY band, key) AS BIGINT) AS n_overflow
         |FROM topc
         |ORDER BY band, key, id_a, id_b""".stripMargin,
    "qd3_simhash" ->
      s"""WITH $simhashCtes
        |SELECT doc_id, simhash FROM sim ORDER BY 1""".stripMargin,
    "qd14_simhash_neardup" ->
      s"""WITH $simhashCtes,
        |bands AS (
        | SELECT doc_id, simhash, b.b AS band,
        |  CAST(floor(simhash / pow(2, b.b * 4)) AS BIGINT) % 16 AS key
        | FROM sim, range(4) b(b) WHERE doc_id % 5 = 0),
        |capped AS (
        | SELECT doc_id, simhash, band, key FROM bands
        | QUALIFY row_number() OVER (PARTITION BY band, key
        |  ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) <= $SimBandCap),
        |pairs AS (
        | SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
        |  a.simhash AS sa, b.simhash AS sb
        | FROM capped a JOIN capped b ON a.band = b.band AND a.key = b.key
        |  AND a.doc_id < b.doc_id),
        |ham AS (
        | SELECT id_a, id_b,
        |  CAST((SELECT SUM(CAST(floor(xor(sa, sb) / pow(2, bb.b)) AS BIGINT) % 2)
        |        FROM range(16) bb(b)) AS BIGINT) AS hamming
        | FROM pairs)
        |SELECT id_a, id_b, hamming FROM ham
        |WHERE hamming <= 2 ORDER BY id_a, id_b""".stripMargin,
    "qd4_ngram_jaccard" ->
      s"""WITH $shingleSql,
         |sub AS (SELECT * FROM shingles WHERE doc_id % 10 = 0),
         |counts AS (SELECT doc_id, COUNT(*) AS n_sh FROM sub GROUP BY 1),
         |inter AS (
         | SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS n_inter
         | FROM sub a JOIN sub b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
         | GROUP BY 1, 2)
         |SELECT id_a, id_b, n_inter, ca.n_sh + cb.n_sh - n_inter AS n_union,
         | CAST(n_inter AS DOUBLE) / (ca.n_sh + cb.n_sh - n_inter) AS jaccard
         |FROM inter JOIN counts ca ON id_a = ca.doc_id JOIN counts cb ON id_b = cb.doc_id
         |WHERE CAST(n_inter AS DOUBLE) / (ca.n_sh + cb.n_sh - n_inter) >= 0.01
         |ORDER BY id_a, id_b""".stripMargin,
    "qd6_dup_clusters" ->
      s"""WITH RECURSIVE $shingleSql,
         |$clusterLabelsSql,
         |sizes AS (SELECT cluster_id, COUNT(*) AS cluster_size FROM labels GROUP BY 1)
         |SELECT l.id AS doc_id, l.cluster_id, l.id = l.cluster_id AS is_canonical,
         | s.cluster_size
         |FROM labels l JOIN sizes s ON l.cluster_id = s.cluster_id
         |ORDER BY doc_id""".stripMargin,
    // qd19: the composed selection loop, stated entirely from shared
    // fragments: the labels chain (qd6/qd17/qd18's graph), the qt2
    // stopword quality (qd17's keep rule), qt17's importance scores
    // (TextOps.ImportanceSql, imp_-prefixed), and a budget window —
    // cum ≤ B, the cumulative-INCLUDING form of the engine's
    // off + tok ≤ B prefix-sum admission
    "qd19_canonical_selection" ->
      s"""WITH RECURSIVE $shingleSql,
         |$clusterLabelsSql,
         |${TextOps.ImportanceSql},
         |q AS (
         | SELECT doc_id AS id, ${TextOps.StopwordQualitySql} AS quality
         | FROM documents),
         |m AS (SELECT l.cluster_id, l.id, q.quality
         |      FROM labels l JOIN q ON l.id = q.id),
         |keeps AS (
         | SELECT id AS doc_id FROM m
         | QUALIFY row_number() OVER (PARTITION BY cluster_id
         |   ORDER BY quality DESC, id ASC) = 1),
         |canon AS (
         | SELECT d.doc_id FROM documents d
         |  LEFT JOIN labels l ON d.doc_id = l.id WHERE l.id IS NULL
         | UNION ALL SELECT doc_id FROM keeps),
         |toked AS (
         | SELECT doc_id, CAST(SUM(c) AS BIGINT) AS tok
         | FROM imp_dbc GROUP BY 1),
         |ranked AS (
         | SELECT c.doc_id, s.lang, s.importance, t.tok,
         |  SUM(t.tok) OVER (ORDER BY s.importance DESC, c.doc_id ASC
         |    ROWS UNBOUNDED PRECEDING) AS cum
         | FROM canon c JOIN imp_scores s ON c.doc_id = s.doc_id
         |  JOIN toked t ON c.doc_id = t.doc_id)
         |SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_sel,
         | CAST(SUM(tok) AS BIGINT) AS tok_sel,
         | CAST(SUM(importance) AS BIGINT) AS imp_sum,
         | CAST(SUM(doc_id) AS BIGINT) AS id_checksum
         |FROM ranked WHERE cum <= $SelectionBudget
         |GROUP BY 1 ORDER BY 1""".stripMargin,
    // qd18: qd6's exact graph again (the shared labels fragment), split
    // = md5(cluster_id) % 100 banded 80/10/10; the leakage audit walks
    // STAR edges (id ↔ cluster_id), never the cluster clique. sp is
    // hand-MATERIALIZED (three references; the materializer skips
    // RECURSIVE statements, and only the self-referencing reach CTE is
    // barred from MATERIALIZED — labels itself stays shared text).
    "qd18_leakage_split" ->
      s"""WITH RECURSIVE $shingleSql,
         |$clusterLabelsSql,
         |members AS MATERIALIZED (
         | SELECT d.doc_id, COALESCE(l.cluster_id, d.doc_id) AS cluster_id
         | FROM documents d LEFT JOIN labels l ON d.doc_id = l.id),
         |sp AS MATERIALIZED (
         | SELECT doc_id, cluster_id,
         |  ${sqlHashSplit("cluster_id")} AS split,
         |  ${sqlHashSplit("doc_id")} AS naive_split
         | FROM members),
         |leak AS (
         | SELECT m.split,
         |  CAST(SUM(CASE WHEN m.naive_split <> c.naive_split THEN 1 ELSE 0 END) AS BIGINT)
         |   AS n_leaky_edges_naive
         | FROM labels l JOIN sp m ON l.id = m.doc_id JOIN sp c ON l.cluster_id = c.doc_id
         | WHERE l.id <> l.cluster_id GROUP BY 1),
         |agg AS (
         | SELECT split, CAST(COUNT(*) AS BIGINT) AS n_docs,
         |  CAST(COUNT(DISTINCT cluster_id) AS BIGINT) AS n_clusters,
         |  CAST(SUM(doc_id) AS BIGINT) AS id_checksum
         | FROM sp GROUP BY 1)
         |SELECT a.split, a.n_docs, a.n_clusters, a.id_checksum,
         | COALESCE(k.n_leaky_edges_naive, CAST(0 AS BIGINT)) AS n_leaky_edges_naive
         |FROM agg a LEFT JOIN leak k ON a.split = k.split
         |ORDER BY a.split""".stripMargin,
    // qd20: the labels chain TWICE — once per corpus version (v1_ =
    // the doc_id % 7 <> 3 snapshot, v2_ = the full table), prefixed so
    // both live in one RECURSIVE statement — then the train-est
    // inheritance (MIN over split priority per v2 cluster) with qd18's
    // hash rule as the fresh-cluster fallback, and the stability audit
    "qd20_sticky_split" ->
      s"""WITH RECURSIVE ${shingleSqlOf("v1_", "doc_id % 3 = 0")},
         |${clusterLabelsSqlOf("v1_")},
         |${shingleSqlOf("v2_", "TRUE")},
         |${clusterLabelsSqlOf("v2_")},
         |v1m AS (
         | SELECT d.doc_id, COALESCE(l.cluster_id, d.doc_id) AS cluster_id
         | FROM (SELECT doc_id FROM documents WHERE doc_id % 3 = 0) d
         | LEFT JOIN v1_labels l ON d.doc_id = l.id),
         |v1sp AS MATERIALIZED (
         | SELECT doc_id, ${sqlHashSplit("cluster_id")} AS split FROM v1m),
         |v2m AS MATERIALIZED (
         | SELECT d.doc_id, COALESCE(l.cluster_id, d.doc_id) AS cluster_id
         | FROM documents d LEFT JOIN v2_labels l ON d.doc_id = l.id),
         |inh AS (
         | SELECT m.cluster_id,
         |  MIN(CASE p.split WHEN 'train' THEN 0 WHEN 'val' THEN 1 ELSE 2 END) AS pri
         | FROM v2m m JOIN v1sp p USING (doc_id) GROUP BY 1),
         |v2sp AS (
         | SELECT m.doc_id, m.cluster_id,
         |  CASE WHEN inh.pri = 0 THEN 'train' WHEN inh.pri = 1 THEN 'val'
         |       WHEN inh.pri = 2 THEN 'test'
         |       ELSE ${sqlHashSplit("m.cluster_id")} END AS split
         | FROM v2m m LEFT JOIN inh ON m.cluster_id = inh.cluster_id),
         |j AS (
         | SELECT s2.doc_id, s2.cluster_id, s2.split, s1.split AS prior_split,
         |  ${sqlHashSplit("s2.cluster_id")} AS naive_split
         | FROM v2sp s2 LEFT JOIN v1sp s1 ON s2.doc_id = s1.doc_id)
         |SELECT split, CAST(COUNT(*) AS BIGINT) AS n_docs,
         | CAST(COUNT(DISTINCT cluster_id) AS BIGINT) AS n_clusters,
         | CAST(SUM(doc_id) AS BIGINT) AS id_checksum,
         | CAST(SUM(CASE WHEN prior_split IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_new_docs,
         | CAST(SUM(CASE WHEN prior_split IS NOT NULL AND split <> prior_split
         |  THEN 1 ELSE 0 END) AS BIGINT) AS n_promoted,
         | CAST(SUM(CASE WHEN prior_split IS NOT NULL AND naive_split <> prior_split
         |  THEN 1 ELSE 0 END) AS BIGINT) AS n_migrated_naive
         |FROM j GROUP BY 1 ORDER BY 1""".stripMargin,
    // qd17: qd6's exact graph (one shared labels fragment — the two
    // oracles cannot drift), keep = per-cluster argmax by qt2's integer
    // stopword-ratio quality (tie → min id)
    "qd17_quality_canonical" ->
      s"""WITH RECURSIVE $shingleSql,
         |$clusterLabelsSql,
         |q AS (
         | SELECT doc_id AS id, ${TextOps.StopwordQualitySql} AS quality
         | FROM documents),
         |m AS (SELECT l.cluster_id, l.id, q.quality
         |      FROM labels l JOIN q ON l.id = q.id),
         |msizes AS (SELECT cluster_id, COUNT(*) AS cluster_size FROM m GROUP BY 1)
         |SELECT m.cluster_id, m.id AS keep_id, m.quality AS keep_quality,
         | msizes.cluster_size, m.id <> m.cluster_id AS displaced
         |FROM m JOIN msizes ON m.cluster_id = msizes.cluster_id
         |QUALIFY row_number() OVER (PARTITION BY m.cluster_id
         |  ORDER BY m.quality DESC, m.id ASC) = 1
         |ORDER BY m.cluster_id""".stripMargin,
    // qd22: the shared shingle/sigs/bands chain split cross-set — the
    // existing side takes the md5-ordered CellCap witness prefix per
    // bucket, the new side joins it on (band, key); signature verify
    // at the integer est-Jaccard ≥ 1/2 line; best witness by
    // (n_match DESC, id ASC)
    "qd22_cross_corpus_neardup" ->
      s"""WITH $shingleSql,
         |sigs AS (
         | SELECT doc_id,
         |  MIN(md5('0|' || shingle)) AS h0, MIN(md5('1|' || shingle)) AS h1,
         |  MIN(md5('2|' || shingle)) AS h2, MIN(md5('3|' || shingle)) AS h3,
         |  MIN(md5('4|' || shingle)) AS h4, MIN(md5('5|' || shingle)) AS h5
         | FROM shingles GROUP BY 1),
         |bands AS (
         | SELECT doc_id, 0 AS band, md5(h0 || h1 || h2) AS key FROM sigs
         | UNION ALL
         | SELECT doc_id, 1 AS band, md5(h3 || h4 || h5) AS key FROM sigs),
         |nb AS (SELECT doc_id, band, key FROM bands WHERE doc_id % 3 = 0),
         |ob AS (
         | SELECT doc_id, band, key FROM bands WHERE doc_id % 3 <> 0
         | QUALIFY row_number() OVER (PARTITION BY band, key
         |   ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) <= $CellCap),
         |cand AS (
         | SELECT DISTINCT n.doc_id, o.doc_id AS cand
         | FROM nb n JOIN ob o ON n.band = o.band AND n.key = o.key),
         |ver AS (
         | SELECT c.doc_id, c.cand,
         |  CAST(((CASE WHEN a.h0 = b.h0 THEN 1 ELSE 0 END) +
         |        (CASE WHEN a.h1 = b.h1 THEN 1 ELSE 0 END) +
         |        (CASE WHEN a.h2 = b.h2 THEN 1 ELSE 0 END) +
         |        (CASE WHEN a.h3 = b.h3 THEN 1 ELSE 0 END) +
         |        (CASE WHEN a.h4 = b.h4 THEN 1 ELSE 0 END) +
         |        (CASE WHEN a.h5 = b.h5 THEN 1 ELSE 0 END)) AS INT) AS n_match
         | FROM cand c JOIN sigs a ON c.doc_id = a.doc_id
         |             JOIN sigs b ON c.cand = b.doc_id),
         |q AS (SELECT * FROM ver WHERE 2 * n_match >= $NumHashes),
         |w AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_witnesses FROM q GROUP BY 1),
         |bst AS (
         | SELECT doc_id, cand AS dup_of, n_match AS best_match FROM q
         | QUALIFY row_number() OVER (PARTITION BY doc_id
         |   ORDER BY n_match DESC, cand ASC) = 1)
         |SELECT bst.doc_id, bst.dup_of, bst.best_match, w.n_witnesses
         |FROM bst JOIN w USING (doc_id) ORDER BY bst.doc_id""".stripMargin,
    // qd21: qd13's nm/cents/scored chain, split cross-set — the eval
    // side takes the ProbeCells prefix, the corpus side rank 1 (its
    // bestCell); hits are distinct (corpus, eval) pairs at ≥ SemTau
    "qd21_semantic_decontam" ->
      s"""WITH nm AS (
         | SELECT vec_id, embedding,
         |  sqrt(list_sum(list_transform(range(64), i -> CAST(embedding[CAST(i AS INT) + 1] AS DOUBLE) * CAST(embedding[CAST(i AS INT) + 1] AS DOUBLE)))) AS nrm
         | FROM embeddings),
         |cents AS (SELECT vec_id AS cid, embedding AS ce, nrm AS cn FROM nm
         |          WHERE vec_id % 100 = 7),
         |scored AS (
         | SELECT nm.vec_id, cents.cid,
         |  round(list_sum(list_transform(range(64), i -> CAST(cents.ce[CAST(i AS INT) + 1] AS DOUBLE) * CAST(nm.embedding[CAST(i AS INT) + 1] AS DOUBLE))) / (cents.cn * nm.nrm), 6) AS crcos
         | FROM nm, cents),
         |evp AS (
         | SELECT vec_id AS eid, cid AS cell FROM scored WHERE vec_id % 25 = 0
         | QUALIFY row_number() OVER (PARTITION BY vec_id ORDER BY crcos DESC, cid) <= $ProbeCells),
         |cp AS (
         | SELECT vec_id, cid AS cell FROM scored WHERE vec_id % 25 <> 0
         | QUALIFY row_number() OVER (PARTITION BY vec_id ORDER BY crcos DESC, cid) = 1),
         |hits AS (
         | SELECT DISTINCT vec_id, eid, rcos FROM (
         |  SELECT c.vec_id, e.eid,
         |   round(list_sum(list_transform(range(64), i -> CAST(q.embedding[CAST(i AS INT) + 1] AS DOUBLE) * CAST(v.embedding[CAST(i AS INT) + 1] AS DOUBLE))) / (q.nrm * v.nrm), 6) AS rcos
         |  FROM cp c JOIN evp e ON c.cell = e.cell
         |   JOIN nm q ON e.eid = q.vec_id JOIN nm v ON c.vec_id = v.vec_id)
         | WHERE rcos >= $SemTau)
         |SELECT vec_id, CAST(COUNT(*) AS BIGINT) AS n_eval_hits,
         | MAX(rcos) AS max_rcos
         |FROM hits GROUP BY 1 ORDER BY 1""".stripMargin,
    "qd13_cell_neardup" ->
      s"""WITH nm AS (
         | SELECT vec_id, embedding,
         |  sqrt(list_sum(list_transform(range(64), i -> CAST(embedding[CAST(i AS INT) + 1] AS DOUBLE) * CAST(embedding[CAST(i AS INT) + 1] AS DOUBLE)))) AS nrm
         | FROM embeddings),
         |cents AS (SELECT vec_id AS cid, embedding AS ce, nrm AS cn FROM nm
         |          WHERE vec_id % 100 = 7),
         |scored AS (
         | SELECT nm.vec_id, cents.cid,
         |  round(list_sum(list_transform(range(64), i -> CAST(cents.ce[CAST(i AS INT) + 1] AS DOUBLE) * CAST(nm.embedding[CAST(i AS INT) + 1] AS DOUBLE))) / (cents.cn * nm.nrm), 6) AS crcos
         | FROM nm, cents),
         |probed AS (
         | SELECT vec_id, cid AS cell FROM scored
         | QUALIFY row_number() OVER (PARTITION BY vec_id ORDER BY crcos DESC, cid) <= $ProbeCells),
         |capped AS (
         | SELECT vec_id, cell FROM probed
         | QUALIFY row_number() OVER (PARTITION BY cell
         |   ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) <= $CellCap),
         |pairs AS (
         | SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b
         | FROM capped a JOIN capped b ON a.cell = b.cell AND a.vec_id < b.vec_id)
         |SELECT id_a, id_b,
         | round(list_sum(list_transform(range(64), i -> CAST(na.embedding[CAST(i AS INT) + 1] AS DOUBLE) * CAST(nb.embedding[CAST(i AS INT) + 1] AS DOUBLE))) / (na.nrm * nb.nrm), 6) AS rcos
         |FROM pairs JOIN nm na ON id_a = na.vec_id JOIN nm nb ON id_b = nb.vec_id
         |WHERE round(list_sum(list_transform(range(64), i -> CAST(na.embedding[CAST(i AS INT) + 1] AS DOUBLE) * CAST(nb.embedding[CAST(i AS INT) + 1] AS DOUBLE))) / (na.nrm * nb.nrm), 6) >= 0.4
         |ORDER BY id_a, id_b""".stripMargin,
    // qd16: same pair machinery as qd13 but the quantizer carries the
    // PRODUCTION sizing — C = ceil(sqrt(N)) md5-sampled centroids and
    // the occupancy-sized flood cap GREATEST(CellCap, 4·p·N/C) —
    // both computed from the data inside the SQL so the oracle tracks
    // any fixture size. Integer division: Scala Long `/` truncates,
    // DuckDB `//` floors; identical on the positive operands here.
    "qd16_ivf_neardup" ->
      s"""WITH nm AS (
         | SELECT vec_id, embedding,
         |  sqrt(list_sum(list_transform(range(64), i -> CAST(embedding[CAST(i AS INT) + 1] AS DOUBLE) * CAST(embedding[CAST(i AS INT) + 1] AS DOUBLE)))) AS nrm
         | FROM embeddings),
         |st AS (SELECT COUNT(*) AS n, CAST(ceil(sqrt(COUNT(*))) AS BIGINT) AS nc FROM nm),
         |cents AS (
         | SELECT vec_id AS cid, embedding AS ce, nrm AS cn FROM nm, st
         | QUALIFY row_number() OVER (ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) <= nc),
         |scored AS (
         | SELECT nm.vec_id, cents.cid,
         |  round(list_sum(list_transform(range(64), i -> CAST(cents.ce[CAST(i AS INT) + 1] AS DOUBLE) * CAST(nm.embedding[CAST(i AS INT) + 1] AS DOUBLE))) / (cents.cn * nm.nrm), 6) AS crcos
         | FROM nm, cents),
         |probed AS (
         | SELECT vec_id, cid AS cell FROM scored
         | QUALIFY row_number() OVER (PARTITION BY vec_id ORDER BY crcos DESC, cid) <= $ProbeCells),
         |capped AS (
         | SELECT vec_id, cell FROM probed, st
         | QUALIFY row_number() OVER (PARTITION BY cell
         |   ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id)
         |  <= GREATEST($CellCap, (4 * $ProbeCells * n) // nc)),
         |pairs AS (
         | SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b
         | FROM capped a JOIN capped b ON a.cell = b.cell AND a.vec_id < b.vec_id)
         |SELECT id_a, id_b,
         | round(list_sum(list_transform(range(64), i -> CAST(na.embedding[CAST(i AS INT) + 1] AS DOUBLE) * CAST(nb.embedding[CAST(i AS INT) + 1] AS DOUBLE))) / (na.nrm * nb.nrm), 6) AS rcos
         |FROM pairs JOIN nm na ON id_a = na.vec_id JOIN nm nb ON id_b = nb.vec_id
         |WHERE round(list_sum(list_transform(range(64), i -> CAST(na.embedding[CAST(i AS INT) + 1] AS DOUBLE) * CAST(nb.embedding[CAST(i AS INT) + 1] AS DOUBLE))) / (na.nrm * nb.nrm), 6) >= 0.4
         |ORDER BY id_a, id_b""".stripMargin,
    "qd15_cell_recall" ->
      s"""WITH nm AS (
         | SELECT vec_id, embedding,
         |  sqrt(list_sum(list_transform(range(64), i -> CAST(embedding[CAST(i AS INT) + 1] AS DOUBLE) * CAST(embedding[CAST(i AS INT) + 1] AS DOUBLE)))) AS nrm
         | FROM embeddings),
         |sm AS (SELECT * FROM nm WHERE vec_id % 2 = 1),
         |exact AS (
         | SELECT a.vec_id AS keep_id, b.vec_id AS dup_id,
         |  round(list_sum(list_transform(range(64), i -> CAST(a.embedding[CAST(i AS INT) + 1] AS DOUBLE) * CAST(b.embedding[CAST(i AS INT) + 1] AS DOUBLE))) / (a.nrm * b.nrm), 6) AS rcos
         | FROM sm a JOIN sm b ON a.vec_id < b.vec_id
         | WHERE round(list_sum(list_transform(range(64), i -> CAST(a.embedding[CAST(i AS INT) + 1] AS DOUBLE) * CAST(b.embedding[CAST(i AS INT) + 1] AS DOUBLE))) / (a.nrm * b.nrm), 6) >= 0.4),
         |cents AS (SELECT vec_id AS cid, embedding AS ce, nrm AS cn FROM nm
         |          WHERE vec_id % 100 = 7),
         |scored AS (
         | SELECT nm.vec_id, cents.cid,
         |  round(list_sum(list_transform(range(64), i -> CAST(cents.ce[CAST(i AS INT) + 1] AS DOUBLE) * CAST(nm.embedding[CAST(i AS INT) + 1] AS DOUBLE))) / (cents.cn * nm.nrm), 6) AS crcos
         | FROM nm, cents),
         |probed AS (
         | SELECT vec_id, cid AS cell FROM scored
         | QUALIFY row_number() OVER (PARTITION BY vec_id ORDER BY crcos DESC, cid) <= $ProbeCells),
         |capped AS (
         | SELECT vec_id, cell FROM probed
         | QUALIFY row_number() OVER (PARTITION BY cell
         |   ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) <= $CellCap),
         |cpairs AS (
         | SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b
         | FROM capped a JOIN capped b ON a.cell = b.cell AND a.vec_id < b.vec_id),
         |creported AS (
         | SELECT c.id_a, c.id_b
         | FROM cpairs c JOIN nm na ON c.id_a = na.vec_id JOIN nm nb ON c.id_b = nb.vec_id
         | WHERE round(list_sum(list_transform(range(64), i -> CAST(na.embedding[CAST(i AS INT) + 1] AS DOUBLE) * CAST(nb.embedding[CAST(i AS INT) + 1] AS DOUBLE))) / (na.nrm * nb.nrm), 6) >= 0.4),
         |j AS (
         | SELECT CAST(floor(e.rcos * 10) AS BIGINT) AS band,
         |  CASE WHEN c.id_a IS NOT NULL THEN 1 ELSE 0 END AS found
         | FROM exact e LEFT JOIN creported c
         |  ON e.keep_id = c.id_a AND e.dup_id = c.id_b)
         |SELECT band, CAST(COUNT(*) AS BIGINT) AS n_exact,
         | CAST(SUM(found) AS BIGINT) AS n_found,
         | (100 * CAST(SUM(found) AS BIGINT)) // CAST(COUNT(*) AS BIGINT) AS recall_pct
         |FROM j GROUP BY 1 ORDER BY 1""".stripMargin,
    "qd5_embedding_neardup" ->
      """WITH nm AS (
        | SELECT vec_id, embedding,
        |  sqrt(list_sum(list_transform(range(64), i -> CAST(embedding[CAST(i AS INT) + 1] AS DOUBLE) * CAST(embedding[CAST(i AS INT) + 1] AS DOUBLE)))) AS nrm
        | FROM embeddings WHERE vec_id % 2 = 1)
        |SELECT a.vec_id AS keep_id, b.vec_id AS dup_id,
        | round(list_sum(list_transform(range(64), i -> CAST(a.embedding[CAST(i AS INT) + 1] AS DOUBLE) * CAST(b.embedding[CAST(i AS INT) + 1] AS DOUBLE))) / (a.nrm * b.nrm), 6) AS rcos
        |FROM nm a JOIN nm b ON a.vec_id < b.vec_id
        |WHERE round(list_sum(list_transform(range(64), i -> CAST(a.embedding[CAST(i AS INT) + 1] AS DOUBLE) * CAST(b.embedding[CAST(i AS INT) + 1] AS DOUBLE))) / (a.nrm * b.nrm), 6) >= 0.4
        |ORDER BY keep_id, dup_id""".stripMargin)
}
