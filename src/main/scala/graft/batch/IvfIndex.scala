package graft.batch

import org.apache.spark.sql.{Column, DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/** Persistent IVF (inverted-file) vector index: build once, search
  * many — the production ANN shape where the index amortizes over
  * query batches, unlike [[Similarity.qs3_ivf_ann]] which quantizes
  * per query run.
  *
  * Layout under `dir`:
  *   - `centroids/` — (cid, ce, cn): the coarse quantizer, tiny
  *     (≤ thousands of rows), broadcast at search time;
  *   - `cells/` — the corpus with norms, hive-PARTITIONED BY cell, so
  *     a probe of p cells opens p directories and the rest of the
  *     corpus is never read (same PartitionFilters machinery LakeSpec
  *     pins for dates; IvfIndexSpec pins it for cells);
  *   - `meta.json` — the layout facts (assign/quant/attrs/ver/rows)
  *     plus `gen`: after the first [[rebuild]] the live dirs are the
  *     generation-suffixed `centroids_gN`/`cells_gN` (resolve them
  *     with [[cellsPath]]/[[centroidsPath]] when reading the layout
  *     directly) — rebuilds install beside the live generation and
  *     flip meta, never delete under a lazy reader.
  *
  * At 100 TB: centroid selection and assignment are one broadcast
  * map-side pass over the corpus plus one partitioned write; search
  * shuffles only (qid, id, score) triples, pre-reduced to ≤ k per
  * partition per query by the native GroupTopK.
  */
object IvfIndex {

  private def dot(a: org.apache.spark.sql.Column, b: org.apache.spark.sql.Column) =
    graft.functions.GraftFunctions.vec_dot(a, b)

  private def withNorm(df: DataFrame): DataFrame =
    df.withColumn("nrm", sqrt(graft.functions.GraftFunctions.vec_dot(col("embedding"), col("embedding"))))

  // ------------------------------------------------- row-local selection
  // Every nearest/top-p centroid pick below scans ONE broadcast row
  // holding the whole cid-sorted quantizer, entirely inside the vector's
  // own row. The previous form (crossJoin each vector with each centroid
  // + a per-vector row_number window) explodes N vectors into N×C rows
  // and sorts them under a vec_id exchange — at production cell counts
  // that shuffle dominates the query, and it contradicts the "broadcast
  // map-side pass" this file's scaladoc promises. Shared by IvfIndex,
  // Similarity.qs3, Curation.qc2 and stream.EmbedIngest so the tie-break
  // semantics cannot drift between the batch and streaming membranes.

  /** One-row frame: the whole quantizer as a cid-sorted struct array.
    * Broadcast it at the call site. */
  private[graft] def centroidArray(cents: DataFrame): DataFrame =
    cents.agg(sort_array(collect_list(struct(col("cid"), col("ce"), col("cn")))).as("cs"))

  /** Per-centroid (nrc, cid) structs scored against one vector row.
    * nrc = 0 − cosine, so ascending struct order IS (cosine DESC, cid
    * ASC) — the ORDER BY every window this replaces used. Subtracting
    * from +0.0 (rather than negating) collapses ±0.0 into +0.0, so a
    * round()-produced −0.0 cannot win a tie the normalized window/
    * oracle comparison would break by cid. A malformed centroid (dim
    * mismatch or null element — vec_dot returns null) scores NaN and is
    * EXCLUDED from the probe list by every consumer: [[topCells]]
    * filters NaN entries, [[bestCellHof]]'s strict `<` never lets NaN
    * beat the accumulator (so all-malformed keeps the −1 sentinel), and
    * the native twin skips NaN candidates in its insertion loop —
    * pinned equivalent on a malformed fixture by IvfIndexSpec. Bad
    * metadata can never win a probe slot in either path. `cs` is
    * referenced exactly once (the single-reference HOF rule —
    * PLANS.md). */
  private def scoredCells(emb: Column, nrm: Column, rounded: Boolean): Column =
    transform(col("cs"), c => {
      val rc = dot(c.getField("ce"), emb) / (c.getField("cn") * nrm)
      struct((lit(0d) - coalesce(if (rounded) round(rc, 6) else rc,
        lit(Double.NaN))).as("nrc"),
        c.getField("cid").as("cid"))
    })

  /** Nearest-centroid id — since round 11 the NATIVE probe
    * ([[nearestCells]]) at p = 1, with [[bestCellHof]]'s −1
    * empty-quantizer sentinel preserved via a null-safe element get
    * (callers filter if that state is reachable). */
  private[graft] def bestCell(emb: Column, nrm: Column, rounded: Boolean): Column =
    coalesce(get(nearestCells(emb, nrm, 1, rounded), lit(0)), lit(-1L))

  /** The original HOF argmax fold — strictly-less replacement keeps the
    * FIRST minimum, and the array is cid-sorted, so the smallest cid
    * wins exact ties. Kept as the readable spec of what the native
    * probe computes at p = 1 (IvfIndexSpec pins the equivalence). */
  private[graft] def bestCellHof(emb: Column, nrm: Column, rounded: Boolean): Column =
    aggregate(scoredCells(emb, nrm, rounded),
      struct(lit(2d).as("nrc"), lit(-1L).as("cid")),
      (acc, s) => when(s.getField("nrc") < acc.getField("nrc"), s).otherwise(acc))
      .getField("cid")

  /** The `p` nearest cell ids in probe order as `array<long>` — the
    * NATIVE fused probe ([[graft.functions.NearestCellsExpr]], SQL
    * `nearest_cells`): one pass over the broadcast quantizer per row,
    * a primitive top-p insertion instead of the interpreted
    * per-centroid lambda + struct allocation + C-element sort that
    * [[topCells]] paid — the hot inner loop of every embedding
    * operator's probe stage. Shorter than `p` when the quantizer is. */
  private[graft] def nearestCells(emb: Column, nrm: Column, p: Int,
      rounded: Boolean): Column =
    // GRAFT_PROBE_HOF=1 routes through the HOF twin — the same-slot A/B
    // lever `graft.Bench time` uses to price the native probe without a rebuild
    if (sys.env.contains("GRAFT_PROBE_HOF"))
      transform(topCells(emb, nrm, p, rounded), c => c.getField("cid"))
    else
      graft.functions.GraftFunctions.nearest_cells(col("cs"), emb, nrm, p, rounded)

  /** The original HOF probe: drop NaN-scored (malformed) entries, sort
    * the scored array (struct order = cosine DESC, cid ASC) and slice.
    * Kept as the readable spec twin of [[nearestCells]] — IvfIndexSpec
    * pins them id-for-id identical on the full fixture corpus at both
    * rounding modes, and on a malformed-centroid fixture. */
  private[graft] def topCells(emb: Column, nrm: Column, p: Int, rounded: Boolean): Column =
    slice(array_sort(filter(scoredCells(emb, nrm, rounded),
      s => !isnan(s.getField("nrc")))), 1, p)

  /** The centroid-sample rule, shared by [[build]] and
    * [[Dedup.qd16_ivf_neardup]] so the ad-hoc production query and the
    * persisted index cannot drift: the first `nCells` corpus vectors in
    * md5(vec_id) order (content-addressed like q36's sampler — rebuilds
    * pick the same centroids, so incremental re-indexing is stable).
    * Global orderBy + limit plans as TakeOrderedAndProject: each corpus
    * partition keeps only its nCells best rows in a bounded heap and a
    * single tiny merge picks the winners — the exact distributed top-k,
    * in ONE corpus job. nCells stays ≤ tens of thousands by design (the
    * quantizer must broadcast); beyond
    * spark.sql.execution.topKSortFallbackThreshold Spark would fall
    * back to a full sort — raise that conf before raising nCells.
    * Input must carry (vec_id, embedding, nrm). */
  private[graft] def sampleCentroids(nm: DataFrame, nCells: Int): DataFrame =
    nm.orderBy(md5(col("vec_id").cast("string")), col("vec_id"))
      .limit(nCells)
      .select(col("vec_id").as("cid"), col("embedding").as("ce"), col("nrm").as("cn"))

  /** Build the index from an (vec_id, embedding) frame. Centroids are
    * the deterministic md5-ranked sample of [[sampleCentroids]].
    *
    * `assign` > 1 stores every vector in its `assign` nearest cells —
    * MULTI-ASSIGNMENT, the storage↔recall lever AnnScaleBench's rung
    * audit priced: with single assignment a query finds a dup-grade
    * neighbor iff that neighbor's ONE home cell is among the query's p
    * probes (measured 92–98.5% planted-twin hit@1 at p = 5, decaying
    * as cells refine), while q-assignment gives the pair q×p chances
    * to meet — the same both-sides multi-probing that buys the dedup
    * seam its ~100%. Costs: cells storage and append work ×q, search
    * candidates ×~q (measured, not ~: a probed cell holds every
    * vector assigned there). The trade is recorded per rung in
    * BASELINE.md; `meta.json` persists the choice so [[appendBatch]]
    * and [[search]] follow it without the caller re-stating it. */
  /** qs6's per-vector symmetric quantization scale, max|x| / 127 —
    * shared by [[build]]'s int8 store and [[searchInt8]]'s query-side
    * pack so the two sides can never round differently. */
  private[batch] def int8Scale(emb: Column): Column =
    array_max(transform(emb, v => abs(v.cast("double")))) / lit(127)

  /** `attrs` names extra corpus columns carried INTO the cell layout
    * (e.g. a label / language / license column) so [[search]] can take
    * a `where` predicate that the parquet cell scan prunes on —
    * FILTERED vector search, the production shape where the filter
    * must live in the index: filtering after the probe ranks k
    * winners and THEN discarding non-matching ones under-fills k,
    * while joining the corpus attribute table against candidates
    * re-shuffles the corpus per query. Recorded in meta.json so
    * [[appendBatch]] refuses a batch missing them (a null-attr append
    * would silently drop those rows from every filtered search). */
  def build(emb: DataFrame, dir: String, nCells: Int, assign: Int = 1,
      int8: Boolean = false, attrs: Seq[String] = Nil): Unit = {
    val spark = emb.sparkSession
    // attr names are interpolated into meta.json and parsed back with a
    // regex — a quote/backslash/bracket in a name would corrupt the
    // meta silently and break every later metaOf on the dir. Fail fast
    // by name instead (round-13 ADVICE); identifier-shaped names are
    // also the only ones the parquet cell schema round-trips cleanly.
    attrs.foreach(a => require(a.matches("[A-Za-z_][A-Za-z0-9_]*"),
      s"build: attr name '$a' must match [A-Za-z_][A-Za-z0-9_]* " +
        "(attrs are recorded in meta.json)"))
    withInstallLease(spark, dir) {
      val root = new org.apache.hadoop.fs.Path(dir)
      val fs = root.getFileSystem(spark.sessionState.newHadoopConf())
      // a build REPLACES whatever is here — a crashed rebuild's
      // committed snapshot must be DISCARDED, not recovered: letting a
      // later entry point install it would roll this build back to the
      // pre-crash layout with no error
      val tmp = new org.apache.hadoop.fs.Path(root, ".rebuild_tmp")
      if (fs.exists(tmp)) require(fs.delete(tmp, true),
        s"build: could not discard stale rebuild snapshot $tmp")
      // on a dir that already holds a layout, install like a rebuild:
      // into the NEXT generation, meta flip, THEN retirement with the
      // one-cycle grace — deleting the live dirs first would strand
      // every reader for the whole build job (the exact
      // never-delete-under-a-lazy-reader invariant the generation
      // machinery exists for). A fresh dir keeps plain gen-0 names.
      val prior =
        if (fs.exists(metaPath(dir))) Some(metaOf(spark, dir)) else None
      val gen = prior.map(_.gen + 1).getOrElse(0L)
      val rows = writeLayout(emb, dir, nCells, assign, int8, attrs, gen)
      val quant = if (int8) "int8" else "float32"
      writeMeta(spark, dir, metaJson(nCells, assign, quant,
        ver = prior.map(_.ver + 1).getOrElse(1L), rows, attrs, gen,
        statsJson = attrStatsJson(emb, attrs)))
      retireGenerationsBelow(fs, root, gen - 1)
    }
  }

  /** Retire every generation OLDER than `keepMin` (plain gen-0 dirs
    * count as generation 0) — the grace rule keeps the replaced
    * generation one full cycle, and sweeping everything below it makes
    * retirement self-healing: a crash that skipped a previous
    * retirement leaks nothing past the next successful install. */
  private def retireGenerationsBelow(fs: org.apache.hadoop.fs.FileSystem,
      root: org.apache.hadoop.fs.Path, keepMin: Long): Unit = {
    if (keepMin <= 0 || !fs.exists(root)) return
    fs.listStatus(root).foreach { st =>
      val n = st.getPath.getName
      val gen = n match {
        case "cells" | "centroids" => Some(0L)
        case g if g.matches("(cells|centroids)_g\\d+") =>
          Some(g.substring(g.indexOf("_g") + 2).toLong)
        case _ => None
      }
      if (gen.exists(_ < keepMin))
        require(fs.delete(st.getPath, true),
          s"retire: could not delete expired generation dir ${st.getPath}")
    }
  }

  /** The centroid-sample + assign + (optional) quantize + write
    * pipeline, shared by [[build]] and [[rebuild]]'s snapshot phase so
    * a rebuilt layout can never diverge from a fresh one. Returns the
    * cell ROW count (rows = vectors × assign for float; ≤ that for
    * int8, which drops unquantizable zero vectors) — a metadata-only
    * parquet count over the files just written, recorded in meta.json
    * so [[rebuildIfGrown]]'s growth ratio needs no full scan. */
  private def writeLayout(emb: DataFrame, dir: String, nCells: Int,
      assign: Int, int8: Boolean, attrs: Seq[String] = Nil, gen: Long = 0): Long = {
    val nm = withNorm(emb)
    val cents = sampleCentroids(nm, nCells)
    cents.coalesce(1).write.mode(SaveMode.Overwrite).parquet(centroidsDir(dir, gen))
    val assigned = assignCells(nm, cents, assign, attrs)
    val cells = if (int8) toInt8Cells(assigned, attrs) else assigned
    // the meta row count rides the write itself as an Observation —
    // the former read-back count() re-opened every just-written cell
    // file's footer, a whole extra FS pass per install (the round-14
    // verdict's "batch the per-install FS probes" item, measured as
    // the largest single win on the in-query build path)
    val obs = new org.apache.spark.sql.Observation()
    // cluster by cell before the dynamic-partition write (round-17,
    // guide §6 "cluster data by partition key"): without it every
    // writing task opens a file in EVERY cell directory it sees —
    // measured as a 1.1 s single-task job at fixture scale (one
    // AQE-coalesced task serially creating all ~45 cell files), and a
    // tasks×cells small-file explosion at scale. One exchange of the
    // narrow cell rows buys exactly one file per cell, written in
    // parallel. Width: one task per cell while cells ≤ cores, else
    // byte-sized at 128 MB/task with a core-count floor.
    val wWidth = {
      val dp = emb.sparkSession.sparkContext.defaultParallelism
      val byBytes = (cells.queryExecution.optimizedPlan.stats.sizeInBytes /
        (128L << 20)).min(BigInt(Int.MaxValue)).toInt
      math.min(nCells, math.max(dp, byBytes)).max(1)
    }
    cells.repartition(wWidth, col("cell"))
      .observe(obs, count(lit(1)).as("rows"))
      .write.mode(SaveMode.Overwrite).partitionBy("cell").parquet(cellsDirOf(dir, gen))
    val rows = obs.get("rows").asInstanceOf[Long]
    // an empty input writes only _SUCCESS — surface the REAL problem
    // (empty corpus: a membrane that admitted nothing, an all-zero
    // int8 batch) by name instead of a later obscure inference error
    if (rows == 0L) throw new IllegalArgumentException(
      s"IvfIndex: no cells written under $dir — empty corpus? An IVF " +
        "layout needs at least one assignable (nonzero) vector")
    rows
  }

  private def metaJson(nCells: Int, assign: Int, quant: String, ver: Long,
      rows: Long, attrs: Seq[String] = Nil, gen: Long = 0,
      statsJson: String = ""): String = {
    val a = attrs.map(n => s""""$n"""").mkString(",")
    val st = if (statsJson.isEmpty) "" else s""","attrstats":$statsJson"""
    s"""{"nCells":$nCells,"assign":$assign,"quant":"$quant","ver":$ver,""" +
      s""""rows":$rows,"gen":$gen,"attrs":[$a]$st}"""
  }

  // ------------------------------------------------ generation-suffixed dirs
  // A rebuild must never destroy the directories a concurrent reader is
  // mid-scan on: Spark reads are LAZY (paths are resolved at plan time,
  // files opened at task time), so an in-place delete+rename of
  // `cells/` can leave a reader probing NEW centroid ids against OLD
  // cell partitions (silently empty candidates) or fail on a vanished
  // path mid-job.
  // Instead each rebuild installs into generation-SUFFIXED dirs
  // (`cells_g2`, `centroids_g2`), flips meta.json (the single commit
  // point readers resolve paths from), and retires only the
  // generation BEFORE the one it replaces — so any reader holding the
  // previous generation's paths has a full rebuild-cycle grace period,
  // the snapshot-retirement discipline of every table format. gen 0
  // keeps the plain un-suffixed names (pre-gen layouts read unchanged).
  private def centroidsDir(dir: String, gen: Long): String =
    if (gen == 0) s"$dir/centroids" else s"$dir/centroids_g$gen"
  private def cellsDirOf(dir: String, gen: Long): String =
    if (gen == 0) s"$dir/cells" else s"$dir/cells_g$gen"

  /** The CURRENT generation's cells path, resolved from meta — for
    * external consumers (benches, specs, occupancy audits) that read
    * the layout directly; `$dir/cells` is only correct until the first
    * rebuild. */
  def cellsPath(spark: SparkSession, dir: String): String =
    cellsDirOf(dir, metaOf(spark, dir).gen)

  /** The CURRENT generation's centroids path (see [[cellsPath]]). */
  def centroidsPath(spark: SparkSession, dir: String): String =
    centroidsDir(dir, metaOf(spark, dir).gen)

  /** The int8 cell projection, shared by [[build]] and [[appendBatch]]
    * so an append can never write the wrong layout: the float
    * embedding NEVER reaches the cells — 1 byte/dim in one
    * plain-encoded BINARY blob + two doubles, vs 4 bytes/dim of float
    * array (the measured 2.7–3.1× IO lever; BASELINE.md r12 row). Zero
    * vectors (scale ≤ 0) are cosine-undefined and unquantizable:
    * excluded, like the qs6 audit and the qs8 oracle (`WHERE
    * scale > 0`). */
  private def toInt8Cells(assigned: DataFrame, attrs: Seq[String] = Nil): DataFrame =
    assigned
      .withColumn("scale", int8Scale(col("embedding")))
      .filter(col("scale") > 0)
      .select(col("vec_id") +:
        graft.functions.GraftFunctions.int8_pack(col("embedding"), col("scale")).as("q8") +:
        col("scale") +: col("nrm") +: attrs.map(col) :+ col("cell"): _*)

  // meta.json goes through the same Hadoop FS layer as the parquet
  // parts, so the index layout works wherever Spark can write (hdfs://,
  // s3a://, file:) — a java.nio side-channel would silently break the
  // format on any non-local dir (round-11 ADVICE).
  private def metaPath(dir: String) = new org.apache.hadoop.fs.Path(s"$dir/meta.json")

  private def writeMeta(spark: SparkSession, dir: String, json: String): Unit = {
    val p = metaPath(dir)
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    val out = fs.create(p, true)
    try out.write(json.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    finally out.close()
  }

  /** Map-side cell assignment shared by [[build]] and [[appendBatch]]:
    * one broadcast quantizer row, the row-local argmax fold at
    * assign = 1 (bit-identical to the historical layout) or the sorted
    * top-`assign` slice beyond. */
  private def assignCells(nm: DataFrame, cents: DataFrame, assign: Int,
      attrs: Seq[String] = Nil): DataFrame = {
    val withQ = nm.crossJoin(broadcast(centroidArray(cents)))
    val base = Seq(col("vec_id"), col("embedding"), col("nrm")) ++ attrs.map(col)
    if (assign <= 1)
      withQ.withColumn("cell", bestCell(col("embedding"), col("nrm"), rounded = true))
        .select(base :+ col("cell"): _*)
    else
      withQ.select(base :+
          explode(nearestCells(col("embedding"), col("nrm"), assign,
            rounded = true)).as("cell"): _*)
  }

  /** The persisted assignment multiplicity. [[build]] always writes
    * meta.json, so an index dir without a readable one is NOT a graft
    * IVF layout — fail loudly rather than default to 1: a silent
    * single-assign default on a q=2 index would disable the
    * search-side dedupe and let [[appendBatch]] mix multiplicities with
    * no error (round-11 ADVICE). Read through the Hadoop FS layer like
    * everything else in the layout. */
  private def metaText(spark: SparkSession, dir: String): String = {
    val p = metaPath(dir)
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    if (!fs.exists(p)) throw new IllegalStateException(
      s"$dir/meta.json missing — not an IvfIndex.build layout (or a partial write)")
    val in = fs.open(p)
    try new String(in.readAllBytes(), java.nio.charset.StandardCharsets.UTF_8)
    finally in.close()
  }

  /** The persisted layout facts every operation needs. Parsed from ONE
    * meta.json read per operation — a second read per field would
    * double the remote-FS round trips (two GETs per search on s3a) and
    * let a concurrent rebuild serve the two fields from DIFFERENT
    * index generations. `quant` defaults to "float32", `ver` to 1 and
    * `rows` to 0 when the fields predate them (pre-round-13 layouts;
    * rows = 0 makes [[rebuildIfGrown]] treat the index as
    * unconditionally due, the safe direction for an un-annotated
    * layout). */
  private[graft] case class Meta(nCells: Int, assign: Int, quant: String,
      ver: Long, rows: Long, attrs: Seq[String] = Nil, gen: Long = 0,
      attrStats: Map[String, AttrStat] = Map.empty)

  /** Per-attr value statistics recorded at (re)build time — the
    * "cells metadata" [[deriveSelectivity]] estimates attr-equality
    * selectivity from (round-14 verdict #6): corpus row count at the
    * stats snapshot, distinct value count, and the exact frequencies
    * of the top [[AttrStatTopK]] values (cast to string — the same
    * cast the lookup applies to the query literal). Appends between
    * rebuilds are NOT folded in: the estimate ages with the layout
    * exactly like the centroids do, and refreshes on the same
    * [[rebuild]] cadence. */
  private[graft] case class AttrStat(rows: Long, distinct: Long,
      top: Map[Option[String], Long])

  private[graft] val AttrStatTopK = 64

  /** The `"attrstats"` JSON subtree for `attrs` over the build corpus
    * — one narrow two-aggregate pass per attr, only when the layout
    * records attrs at all. Values are cast to string and json4s
    * handles the escaping (attr VALUES are corpus data — any byte can
    * appear; the regex-parsed top-level fields stay identifier-safe
    * by the build-time name check). */
  private def attrStatsJson(emb: DataFrame, attrs: Seq[String]): String = {
    if (attrs.isEmpty) return ""
    import org.json4s.JsonDSL._
    import org.json4s.jackson.JsonMethods
    val stats = attrs.map { a =>
      val counts = emb.groupBy(col(a).cast("string").as("v"))
        .agg(count(lit(1)).as("c"))
      // one TakeOrdered job covers the common low-cardinality case
      // entirely (≤ K distinct values ⇒ rows/distinct derive from the
      // collected top itself); only a genuinely wide attr pays the
      // second totals aggregate — in-query builds (qs9's shape) stay
      // one small job per attr
      val top0 = counts.orderBy(col("c").desc, col("v")).limit(AttrStatTopK + 1)
        .collect().map(r => (Option(r.getString(0)), r.getLong(1)))
      val (rows, distinct, top) =
        if (top0.length <= AttrStatTopK) (top0.map(_._2).sum, top0.length.toLong, top0)
        else {
          val agg = counts.agg(sum(col("c")).as("rows"), count(lit(1)).as("d")).head()
          (agg.getLong(0), agg.getLong(1), top0.take(AttrStatTopK))
        }
      // SQL NULL serializes as a JSON null, DISTINCT from the string
      // "null" (round-15 ADVICE: collapsing the two under .toMap could
      // mis-relate distinct/top.size and fire the provably-absent→0
      // branch off a wrong relation)
      a -> (("rows" -> rows) ~ ("distinct" -> distinct) ~
        ("top" -> top.toList.map { case (v, c) =>
          ("v" -> v.map(org.json4s.JString(_)).getOrElse(org.json4s.JNull)
            .asInstanceOf[org.json4s.JValue]) ~ ("c" -> c) }))
    }
    JsonMethods.compact(JsonMethods.render(
      stats.foldLeft(org.json4s.JObject()) { case (o, (k, v)) => o ~ (k -> v) }))
  }

  private def parseAttrStats(txt: String): Map[String, AttrStat] = {
    import org.json4s._
    import org.json4s.jackson.JsonMethods
    def asLong(v: JValue): Long = v match {
      case JInt(n) => n.toLong
      case JLong(n) => n
      case _ => 0L
    }
    scala.util.Try(JsonMethods.parse(txt) \ "attrstats").toOption match {
      case Some(JObject(fields)) =>
        fields.map { case (name, st) =>
          val top = (st \ "top") match {
            case JArray(items) => items.flatMap { it =>
              (it \ "v") match {
                case JString(v) => Some(Option(v) -> asLong(it \ "c"))
                // a JSON null value row is the SQL NULL bucket —
                // distinct from the string "null" (a pre-round-16
                // layout's "null" strings stay Some("null"), the old
                // collapsed behavior: conservative, never upgraded)
                case JNull => Some((None: Option[String]) -> asLong(it \ "c"))
                case _ => None
              }
            }.toMap
            case _ => Map.empty[Option[String], Long]
          }
          name -> AttrStat(asLong(st \ "rows"), asLong(st \ "distinct"), top)
        }.toMap
      case _ => Map.empty
    }
  }

  private def longField(txt: String, field: String): Option[Long] =
    s""""$field"\\s*:\\s*(\\d+)""".r.findFirstMatchIn(txt).map(_.group(1).toLong)

  private[graft] def metaOf(spark: SparkSession, dir: String): Meta = {
    val txt = metaText(spark, dir)
    val assign = longField(txt, "assign").map(_.toInt)
      .getOrElse(throw new IllegalStateException(
        s"""$dir/meta.json has no "assign" field: $txt"""))
    val quant = """"quant"\s*:\s*"(\w+)"""".r.findFirstMatchIn(txt)
      .map(_.group(1)).getOrElse("float32")
    // attrs list (pre-attr layouts have no field → Nil, the old shape)
    val attrs = """"attrs"\s*:\s*\[([^\]]*)\]""".r.findFirstMatchIn(txt)
      .map(m => """"([^"]+)"""".r.findAllMatchIn(m.group(1)).map(_.group(1)).toSeq)
      .getOrElse(Nil)
    Meta(longField(txt, "nCells").map(_.toInt).getOrElse(0), assign, quant,
      longField(txt, "ver").getOrElse(1L), longField(txt, "rows").getOrElse(0L),
      attrs, longField(txt, "gen").getOrElse(0L),
      if (attrs.isEmpty) Map.empty else parseAttrStats(txt))
  }

  /** Estimate the selectivity of `where` from the layout's recorded
    * attr statistics (round-14 verdict #6) — defined ONLY for
    * conjunctions of equality predicates on indexed attr columns
    * against literals, the shape the stats can answer honestly:
    *   - a recorded top value → its exact build-time fraction;
    *   - an unrecorded value with every distinct value recorded → 0
    *     (it cannot match anything the index held at build);
    *   - an unrecorded value beyond the top-K → the uncovered mass
    *     (an upper bound — conservative: overestimates keep the probe
    *     path, never mis-route to brute);
    *   - anything else (ranges, ORs, non-attr columns, expressions) →
    *     None, and the probe path runs unless the caller hints.
    * Conjuncts multiply (independence — the standard optimizer
    * assumption; each factor is itself exact-or-conservative). */
  private[graft] def deriveSelectivity(where: org.apache.spark.sql.Column,
      meta: Meta): Option[Double] = {
    import org.apache.spark.sql.catalyst.{expressions => E}
    def eqSel(attr: String, lit: E.Literal): Option[Double] =
      meta.attrStats.get(attr).filter(_.rows > 0).map { st =>
        // a NULL literal looks up the SQL-NULL bucket (None), never
        // the string "null" — mirroring the stats' JSON-null encoding
        val v: Option[String] = Option(lit.value).map(_.toString)
        st.top.get(v) match {
          case Some(c) => c.toDouble / st.rows
          case None if st.distinct <= st.top.size => 0.0
          case None => (st.rows - st.top.values.sum).toDouble / st.rows
        }
      }
    import org.apache.spark.sql.catalyst.analysis.{UnresolvedAttribute, UnresolvedFunction}
    def eqArgs(a: E.Expression, b: E.Expression): Option[Double] = (a, b) match {
      case (at: UnresolvedAttribute, v: E.Literal) => eqSel(at.name, v)
      case (v: E.Literal, at: UnresolvedAttribute) => eqSel(at.name, v)
      case _ => None
    }
    // the Column→catalyst converter yields UNRESOLVED nodes: `===` is
    // UnresolvedFunction("="), `&&` UnresolvedFunction("and") — match
    // both those and the typed forms (a caller may hand-build them)
    def walk(e: E.Expression): Option[Double] = e match {
      case E.And(l, r) => for (a <- walk(l); b <- walk(r)) yield a * b
      case E.EqualTo(l, r) => eqArgs(l, r)
      case f: UnresolvedFunction
          if f.nameParts.map(_.toLowerCase) == Seq("and") && f.arguments.size == 2 =>
        for (a <- walk(f.arguments(0)); b <- walk(f.arguments(1))) yield a * b
      case f: UnresolvedFunction
          if (f.nameParts == Seq("=") || f.nameParts == Seq("==")) &&
            f.arguments.size == 2 =>
        eqArgs(f.arguments(0), f.arguments(1))
      case _ => None
    }
    walk(org.apache.spark.sql.graftshim.ColumnBridge.eagerExpression(where))
  }

  /** Incremental maintenance: assign a NEW batch of (vec_id, embedding)
    * rows to the existing centroids and append into the cell layout —
    * what a streaming corpus does per micro-batch (call from
    * `foreachBatch`, like [[graft.stream.IngestDedup]]'s index).
    * Centroids stay fixed between rebuilds, so appends are one
    * broadcast map-side pass + a partitioned append; searchers see new
    * vectors immediately and drift is handled by periodic [[build]]
    * (content-addressed centroids make rebuilds reproducible).
    * Follows the persisted storage format from meta.json — an append
    * into an int8 index quantizes the batch ([[toInt8Cells]]); it can
    * never mix float rows into a quantized layout. */
  def appendBatch(spark: SparkSession, dir: String, batch: DataFrame): Unit =
    // a WRITER must hold the per-dir monitor end to end: with the meta
    // read outside it, a rebuild landing between the read and the
    // Append would retire this append's target generation and the
    // batch would vanish into a dead directory; the FS lease extends
    // the same fence across processes
    withInstallLease(spark, dir) {
      recoverRebuild(spark, dir)
      val meta = metaOf(spark, dir)
      // an append missing a recorded attr column would land files whose
      // schema lacks it — those rows then read as NULL under mergeSchema
      // (or break the read without it) and silently vanish from every
      // filtered search. Refuse up front, naming what's missing.
      val missing = meta.attrs.filterNot(batch.columns.contains)
      if (missing.nonEmpty) throw new IllegalArgumentException(
        s"appendBatch into $dir: batch lacks indexed attr column(s) " +
          s"${missing.mkString(", ")} recorded in meta.json")
      val cents = spark.read.parquet(centroidsDir(dir, meta.gen))
      val assigned = assignCells(withNorm(batch), cents, meta.assign, meta.attrs)
      val rows = if (meta.quant == "int8") toInt8Cells(assigned, meta.attrs) else assigned
      rows.write.mode(SaveMode.Append).partitionBy("cell")
        .parquet(cellsDirOf(dir, meta.gen))
    }

  // ------------------------------------------------------ rebuild cadence
  // An append-mostly corpus ages its index: appendBatch lands new
  // vectors in the nearest EXISTING cells, so occupancy grows linearly
  // while C stays pinned at build-time √N — per-probe candidate cost
  // rises as appended/built, and recall drifts as the frozen centroids
  // stop describing the corpus (AnnScaleBench's `aged` arm measures
  // both). This is the persisted-index form of the requantize rule the
  // streaming membrane already has (EmbedIngest.requantize): auto-size
  // C = ⌈√n⌉ from the CURRENT corpus, rebuild crash-safely in place,
  // version the meta. Reference anchor: the supervisor's hot-reload
  // discipline (Prensas.py:861-947) — the index must follow the corpus.

  /** Crash-safe in-place rebuild from `corpus`, the source-of-truth
    * (vec_id, embedding) table — REQUIRED even for float layouts so
    * the rule is uniform and an int8 layout (whose cells are lossy,
    * 1 B/dim) can never be rebuilt from its own rounded bytes.
    * Preserves the layout CONTRACT (assign, quant) — only centroids,
    * assignment, C and the meta version move — which is what makes the
    * install's meta-last write safe: a crash after the renames but
    * before the meta write leaves a stale-ver meta whose semantic
    * fields still describe the installed layout.
    *
    * `nCells ≤ 0` auto-sizes C = ⌈√n⌉ over the corpus (EmbedIngest's
    * rule, without its never-shrink floor: a fresh build at the same
    * corpus uses exactly ⌈√n⌉, and IvfIndexSpec pins rebuild ≡ fresh
    * bit-for-bit — content-addressed sampleCentroids makes the two
    * pick identical centroids).
    *
    * Two-phase like EmbedIngest.requantize: the full snapshot
    * (centroids + cells + next meta) lands in an invisible dot-dir, a
    * commit marker is created, and only then is the live layout
    * touched. Crash before the marker → the next entry point discards
    * the partial snapshot; after it → [[recoverRebuild]] (run at every
    * entry) finishes the install, each step conditional on its tmp
    * subpath so resumption is idempotent. Single-writer, like the
    * whole layout. */
  def rebuild(spark: SparkSession, dir: String, corpus: DataFrame,
      nCells: Int = 0): Unit = {
    val root = new org.apache.hadoop.fs.Path(dir)
    val fs = root.getFileSystem(spark.sessionState.newHadoopConf())
    // the WHOLE sequence holds the per-dir monitor + FS lease (both
    // reentrant, so the nested recoverRebuild re-entry is fine): with
    // meta read outside it, two concurrent rebuilds would both
    // snapshot from the same Meta and install the same ver/gen —
    // non-monotonic versions, and the loser could catch the winner's
    // meta mid-replace
    withInstallLease(spark, dir) {
      recoverRebuild(spark, dir)
      val meta = metaOf(spark, dir)
      val missingAttrs = meta.attrs.filterNot(corpus.columns.contains)
      if (missingAttrs.nonEmpty) throw new IllegalArgumentException(
        s"rebuild of $dir: corpus lacks indexed attr column(s) " +
          s"${missingAttrs.mkString(", ")} recorded in meta.json")
      val c =
        if (nCells > 0) nCells
        else math.ceil(math.sqrt(corpus.count().toDouble)).toInt
      writeRebuildSnapshot(spark, dir, corpus, c, meta)
      // the snapshot write is the unbounded part (a full-corpus Spark
      // job) — re-stamp the lease before touching the live layout so a
      // TTL overrun fails HERE instead of installing over a usurper
      FsLease.renewOrFail(spark, dir, "IvfIndex: rebuild install")
      installRebuild(fs, root)
    }
  }

  /** Phase 1: the committed-but-not-installed snapshot (split out so
    * IvfIndexSpec can pin the crash window between commit and
    * install). The snapshot's meta.json is written INSIDE the tmp dir
    * and installed last. */
  private[graft] def writeRebuildSnapshot(spark: SparkSession, dir: String,
      corpus: DataFrame, nCells: Int, meta: Meta): Unit = {
    val root = new org.apache.hadoop.fs.Path(dir)
    val fs = root.getFileSystem(spark.sessionState.newHadoopConf())
    val tmp = new org.apache.hadoop.fs.Path(root, ".rebuild_tmp")
    if (fs.exists(tmp)) require(fs.delete(tmp, true),
      s"rebuild: could not clear stale snapshot $tmp")
    // the snapshot layout uses the PLAIN names inside tmp (gen = 0);
    // the install renames them to the next generation's suffixed dirs
    // recorded in the snapshot meta
    val rows = writeLayout(corpus, tmp.toString, nCells,
      meta.assign, meta.quant == "int8", meta.attrs, gen = 0)
    writeMeta(spark, tmp.toString,
      metaJson(nCells, meta.assign, meta.quant, meta.ver + 1, rows, meta.attrs,
        gen = meta.gen + 1, statsJson = attrStatsJson(corpus, meta.attrs)))
    val o = fs.create(new org.apache.hadoop.fs.Path(tmp, "_GRAFT_COMMIT"), true)
    o.close()
  }

  /** Phase 2: install a committed snapshot — centroids and cells are
    * RENAMED into the next generation's suffixed dirs (never over the
    * live ones), then meta flips LAST (the single commit point readers
    * resolve paths from), then the generation BEFORE the replaced one
    * is retired — the replaced generation itself survives one full
    * rebuild cycle so lazy readers that resolved its paths finish
    * unharmed. Every step is conditional on its source still existing,
    * so a crash anywhere inside is resumed by re-running. */
  private def installRebuild(fs: org.apache.hadoop.fs.FileSystem,
      root: org.apache.hadoop.fs.Path): Unit = {
    val tmp = new org.apache.hadoop.fs.Path(root, ".rebuild_tmp")
    def readTxt(p: org.apache.hadoop.fs.Path): String = {
      val in = fs.open(p)
      try new String(in.readAllBytes(), java.nio.charset.StandardCharsets.UTF_8)
      finally in.close()
    }
    val dstMeta = new org.apache.hadoop.fs.Path(root, "meta.json")
    // a missing snapshot meta means a previous run crashed AFTER the
    // meta flip (the commit point) but before the cleanup — the
    // install already took effect; finish the retirement sweep (the
    // crashed run never reached it) and the tmp cleanup
    val tmpMeta = new org.apache.hadoop.fs.Path(tmp, "meta.json")
    if (!fs.exists(tmpMeta)) {
      require(fs.delete(tmp, true), s"rebuild: could not clear $tmp")
      if (fs.exists(dstMeta))
        retireGenerationsBelow(fs, root,
          longField(readTxt(dstMeta), "gen").getOrElse(0L) - 1)
      return
    }
    // gen 0 when absent: a committed snapshot written by the
    // pre-generation code installed into the PLAIN dirs — keep that
    // legacy recovery working instead of poisoning every entry point
    val gen = longField(readTxt(tmpMeta), "gen").getOrElse(0L)
    for (part <- Seq("centroids", "cells")) {
      val src = new org.apache.hadoop.fs.Path(tmp, part)
      if (fs.exists(src)) {
        val dst = new org.apache.hadoop.fs.Path(
          if (part == "cells") cellsDirOf(root.toString, gen)
          else centroidsDir(root.toString, gen))
        if (fs.exists(dst)) require(fs.delete(dst, true), // resumed crash re-run
          s"rebuild: could not clear partial $dst")
        require(fs.rename(src, dst), s"rebuild: could not install $part from $src")
      }
    }
    if (fs.exists(dstMeta)) require(fs.delete(dstMeta, false),
      s"rebuild: could not retire old $dstMeta")
    require(fs.rename(tmpMeta, dstMeta),
      s"rebuild: could not install meta from $tmpMeta")
    require(fs.delete(tmp, true), s"rebuild: could not clear $tmp")
    // grace retirement: installing gen G keeps G-1 (in-flight readers)
    // and sweeps everything older — self-healing for retirements a
    // crash skipped
    retireGenerationsBelow(fs, root, gen - 1)
  }

  // recovery runs on the READ path (every search may finish a crashed
  // rebuild), so two concurrent readers must not race the unguarded
  // delete/rename sequence in installRebuild — the loser's
  // require(delete(dst)) would remove the winner's freshly installed
  // cells with the tmp copy already consumed (data loss, not just a
  // spurious failure). All layout mutation happens on the driver, so a
  // per-dir JVM monitor closes the same-JVM race; CROSS-process
  // writers are fenced by the FS lease below. The monitor is
  // FsLease.monitorOf — the ONE per-dir monitor FsLease's contract
  // requires (a second monitor map guarding the same dir would race
  // the lease depth read-modify-write if the dir were ever also
  // reached via FsLease.guarded; round-14 ADVICE).

  // ------------------------------------------------------ install lease
  // The per-dir monitor is JVM-local: two separate Spark applications
  // rebuilding the same index dir bypass it entirely, and the
  // generation protocol only narrows the double-install window
  // (round-13 verdict #2). Writers therefore also hold an FS-level
  // LEASE: `_GRAFT_LEASE` under the index dir, created with
  // overwrite = false (atomic create-if-absent on HDFS and local FS;
  // object stores without conditional create keep the documented
  // single-writer contract), carrying owner + expiry. A writer finding
  // a live foreign lease fails LOUDLY by name — never a silent double
  // install; an expired lease (crashed writer) is broken and taken
  // over. Readers are unaffected: recovery of a crashed rebuild is
  // SKIPPED under a live foreign lease (the owning writer will finish
  // its own install) and the read proceeds on the committed meta.

  // the lease mechanism itself lives in [[FsLease]] (shared with the
  // streaming membrane's maintenance ops since round 14); this object
  // keeps only the call sites.
  private def tryAcquireLease(spark: SparkSession, dir: String): Boolean =
    FsLease.tryAcquire(spark, dir)

  private def releaseLease(spark: SparkSession, dir: String): Unit =
    FsLease.release(spark, dir)

  /** Writer scope: per-dir monitor (same-JVM) + FS lease (cross-JVM),
    * failing by name if another process holds the dir. */
  private def withInstallLease[T](spark: SparkSession, dir: String)(body: => T): T =
    FsLease.guarded(spark, dir, "IvfIndex: install")(body)

  /** Finish (or discard) a rebuild interrupted by a crash: a committed
    * snapshot is installed, an uncommitted one discarded. Run at every
    * entry point ([[search]], [[searchInt8]], [[appendBatch]],
    * [[rebuild]]) — one existence probe when idle. */
  private[graft] def recoverRebuild(spark: SparkSession, dir: String): Unit = {
    val root = new org.apache.hadoop.fs.Path(dir)
    val fs = root.getFileSystem(spark.sessionState.newHadoopConf())
    val tmp = new org.apache.hadoop.fs.Path(root, ".rebuild_tmp")
    if (!fs.exists(tmp)) return // cheap un-locked probe for the idle path
    FsLease.monitorOf(dir).synchronized {
      if (!fs.exists(tmp)) return // a concurrent recover finished it
      // recovery MUTATES the layout, so it needs the install lease too
      // — but a reader must not fail because a foreign writer is live:
      // that writer owns the snapshot and will finish (or discard) its
      // own install; we simply read the committed meta as-is
      if (!tryAcquireLease(spark, dir)) return
      try {
        if (!fs.exists(tmp)) return // the lease holder finished it
        if (fs.exists(new org.apache.hadoop.fs.Path(tmp, "_GRAFT_COMMIT")))
          installRebuild(fs, root)
        else require(fs.delete(tmp, true),
          s"rebuild: could not discard uncommitted snapshot $tmp")
      } finally releaseLease(spark, dir)
    }
  }

  /** The cadence rule: rebuild when the cell layout has grown to
    * `factor` × its meta-recorded row count at last (re)build — the
    * growth check is a metadata-only parquet count (footer row counts,
    * no data IO), so calling this on every maintenance tick is cheap.
    * Returns whether a rebuild ran. A pre-round-13 meta (rows = 0)
    * rebuilds unconditionally, the safe direction: it gains the
    * annotated meta in the process.
    *
    * OCCUPANCY SKEW (round-15 verdict #5) — the trigger growth
    * structurally cannot see: a drifting corpus appends into the few
    * frozen cells nearest the drift direction, so per-probe candidate
    * cost diverges while total rows grow only linearly. Like the
    * streaming membrane's [[graft.stream.EmbedIngest.requantizeIfSkewed]]
    * (whose driftcost arm measured the divergence and priced factor
    * 3), rebuild also when the hottest cell holds ≥ `skewFactor` ×
    * the MEAN occupancy over the quantizer's C cells (total / C, not
    * occupied cells — a fully collapsed layout must read as skewed,
    * not balanced). One count-per-partition aggregate over the `cell`
    * partition column — no vector bytes read — and only when growth
    * alone did not already fire. `skewFactor ≤ 0` disables. */
  def rebuildIfGrown(spark: SparkSession, dir: String, corpus: DataFrame,
      factor: Double = 2.0, skewFactor: Double = 3.0): Boolean =
    // the growth check and the rebuild it triggers hold ONE critical
    // section (the monitor is reentrant, so the nested rebuild re-entry
    // is fine): with the check outside it, two concurrent maintenance
    // ticks could both observe "due" and run back-to-back rebuilds —
    // wasted work, and the second install burns the one-cycle reader
    // grace twice in quick succession (round-13 ADVICE).
    withInstallLease(spark, dir) {
      recoverRebuild(spark, dir)
      val meta = metaOf(spark, dir)
      val cells = spark.read.parquet(cellsDirOf(dir, meta.gen))
      val rowsNow = cells.count()
      val grown = rowsNow >= factor * meta.rows
      val skewed = !grown && skewFactor > 0 && meta.nCells > 1 && {
        val occ = cells.groupBy(col("cell")).agg(count(lit(1)).as("n"))
          .agg(max(col("n")).as("mx"), sum(col("n")).as("tot")).head()
        !occ.isNullAt(0) &&
          occ.getLong(0) >= skewFactor * (occ.getLong(1).toDouble / meta.nCells)
      }
      val due = grown || skewed
      if (due) rebuild(spark, dir, corpus)
      due
    }

  /** Top-k cosine neighbors for each (vec_id, embedding) query row,
    * probing the `nProbe` nearest cells. Probing ALL cells is exact
    * brute force (IvfIndexSpec asserts equality with knnTopK); small
    * `nProbe` trades recall for opening only that many cell
    * directories. Output: (qid, rank, neighbor_id, rcos).
    *
    * `where` is a FILTERED-search predicate over attr columns the
    * index was built with (`build(attrs = …)`): applied to the cells
    * read itself, so it reaches the parquet scan as a pushed filter
    * AND the candidate set it thins is the PRE-ranking one — each
    * query still fills all k ranks from matching vectors (post-filter
    * ranking would return < k whenever a winner fails the predicate).
    * Recall under selective filters: matching vectors are sparser per
    * probed cell, so raise nProbe with filter selectivity (the p-first
    * rule; a 10%-selective filter at p probes sees ~p×10% of the
    * matching corpus a full scan would). */
  def search(spark: SparkSession, dir: String, queries: DataFrame,
             k: Int, nProbe: Int, where: Option[Column] = None,
             selectivityHint: Option[Double] = None): DataFrame = {
    recoverRebuild(spark, dir) // half-installed rebuild → finish first
    val meta = metaOf(spark, dir)
    if (meta.quant != "float32") throw new IllegalStateException(
      s"$dir stores ${meta.quant} cells — use searchInt8 (float search would misread the layout)")
    // ONE meta read resolves both generation paths — a rebuild flipping
    // meta after this point retires our generation only at the NEXT
    // rebuild (grace), so the scan below stays consistent end to end
    val cents = spark.read.parquet(centroidsDir(dir, meta.gen))
    val cells = where.foldLeft(spark.read.parquet(cellsDirOf(dir, meta.gen)))(_.filter(_))
    // LOW-selectivity routing (round-13 ask #4, measured by
    // AnnScaleBench's selsweep arm): the probe stage prunes the scan
    // to ~nProbe·assign/C of the corpus, so once the caller-declared
    // filter selectivity drops BELOW that fraction the filter
    // out-prunes the probes and exact brute force over the filtered
    // cells is strictly better — cheaper (measured 3-8× at 0.1-1%
    // selectivity on the x10/x30 rungs) AND exact, where the probe
    // path is approximate. The floor is DERIVED from the layout
    // (p·q/C, scaled by spark.graft.bruteRouteFactor; set 0 to
    // disable). Selectivity is a HINT because the engine has no stats
    // over an arbitrary Column predicate — callers that know their
    // attr cardinalities pass it; absent a hint the probe path always
    // runs. Queries stay a bounded broadcast batch in both paths.
    val bruteFloor = spark.conf.getOption("spark.graft.bruteRouteFactor")
      .flatMap(_.toDoubleOption).getOrElse(1.0) *
      nProbe.toDouble * meta.assign / math.max(1, meta.nCells)
    // absent a caller hint, the index estimates selectivity ITSELF for
    // attr-equality predicates from the stats its build recorded
    // ([[deriveSelectivity]], round-14 verdict #6) — the qs9 oracle
    // restates the estimate AND the floor, so the auto-route is
    // oracle-gated at every rung. FRESHNESS (round-15 verdict #7):
    // the stats age with appends and refresh only on the rebuild
    // cadence, so a heavily appended layout could mis-route to brute
    // on frequencies that no longer describe the cells. A derived
    // estimate may flip the route to brute ONLY while the layout holds
    // fewer than attrStatsStaleFactor × the stats' recorded rows — the
    // row count is one metadata-only parquet count, paid only when the
    // estimate would actually flip the route. Caller hints are the
    // caller's own claim and bypass the gate.
    val sel = selectivityHint.orElse {
      where.flatMap(deriveSelectivity(_, meta)).filter { s =>
        s >= bruteFloor || meta.rows <= 0 || {
          val staleFactor = spark.conf.getOption("spark.graft.attrStatsStaleFactor")
            .flatMap(_.toDoubleOption).getOrElse(1.5)
          spark.read.parquet(cellsDirOf(dir, meta.gen)).count() <
            staleFactor * meta.rows
        }
      }
    }
    if (where.isDefined && sel.exists(_ < bruteFloor)) {
      val q = withNorm(queries)
        .select(col("vec_id").as("qid"), col("embedding").as("qe"), col("nrm").as("qn"))
      val cand = cells.crossJoin(broadcast(q))
        .filter(col("vec_id") =!= col("qid"))
        .withColumn("rcos", round(dot(col("qe"), col("embedding")) / (col("qn") * col("nrm")), 6))
        .select(col("qid").cast("long"), col("vec_id").cast("long"),
          col("rcos").cast("double"))
      val dts = if (meta.assign > 1) cand.distinct() else cand
      return graft.plans.GroupTopK.topK(dts,
        keys = Seq("qid"), order = Seq(col("rcos").desc, col("vec_id").asc), k = k)
        .select(col("qid"), col("rank"), col("vec_id").as("neighbor_id"), col("rcos"))
    }
    val q = withNorm(queries)
      .select(col("vec_id").as("qid"), col("embedding").as("qe"), col("nrm").as("qn"))
    val probes = q.crossJoin(broadcast(centroidArray(cents)))
      .select(col("qid"), col("qe"), col("qn"),
        explode(nearestCells(col("qe"), col("qn"), nProbe, rounded = true)).as("cell"))
    val cand = cells.join(broadcast(probes), Seq("cell"))
      .filter(col("vec_id") =!= col("qid"))
      .withColumn("rcos", round(dot(col("qe"), col("embedding")) / (col("qn") * col("nrm")), 6))
    // a multi-assigned vector reached through two probed cells would
    // otherwise occupy two of the k ranks (identical triples) — dedupe
    // only when the layout can produce them (single-assignment keeps
    // the historical no-extra-exchange plan)
    val triples = cand
      .select(col("qid").cast("long"), col("vec_id").cast("long"), col("rcos").cast("double"))
    val distinctTriples = if (meta.assign > 1) triples.distinct() else triples
    graft.plans.GroupTopK.topK(distinctTriples,
      keys = Seq("qid"), order = Seq(col("rcos").desc, col("vec_id").asc), k = k)
      .select(col("qid"), col("rank"), col("vec_id").as("neighbor_id"), col("rcos"))
  }

  /** Top-k search over an int8-quantized index ([[build]] with
    * `int8 = true`): probe selection is unchanged (float query ×
    * float centroids — the quantizer is tiny and stays exact, so the
    * probed cell set is IDENTICAL to the float layout's), candidate
    * scoring is the exact INTEGER dot over the packed blobs
    * (score8 = idot·scale_q·scale_c / (‖q‖·‖c‖), the dequantized
    * cosine), the top-`rescore` int8 survivors per query are then
    * re-scored in float against `corpus` (the source-of-truth float
    * table the index was built from) — as a BOUNDED-ID pushdown read:
    * the ≤ queries×rescore survivor ids go into the corpus scan as an
    * IN filter, so row-group stats (and any vec_id-sorted/bucketed
    * layout) prune the float read to the survivors' groups and the
    * 3×-smaller int8 cells keep carrying ALL the per-query scan
    * volume at 100 TB — and the exact float top-k of the survivors is
    * emitted. Output: (qid, rank, neighbor_id, idot, rcos) — idot is
    * the integer-exact int8 score (cross-engine hashable with no
    * float-order caveat), rcos the float rescue score that ranked it.
    *
    * Recall: the int8 funnel can only lose a true neighbor if
    * quantization reorders it below rank `rescore` in its candidate
    * set — AnnScaleBench's `int8` arm measures planted-twin recall
    * unchanged at the rungs (BASELINE.md). */
  /** Low-selectivity note: [[search]]'s selectivityHint brute routing
    * is deliberately NOT mirrored here — below the p·q/C floor the
    * filtered candidate set is tiny, so the int8 layout's IO lever
    * (the reason to be on this path at all) is irrelevant; route such
    * queries at the float source of truth via
    * `search(..., selectivityHint)` or brute-force the filtered
    * corpus directly. */
  def searchInt8(spark: SparkSession, dir: String, queries: DataFrame,
      corpus: DataFrame, k: Int, nProbe: Int, rescore: Int,
      where: Option[Column] = None): DataFrame = {
    recoverRebuild(spark, dir) // half-installed rebuild → finish first
    val meta = metaOf(spark, dir)
    if (meta.quant != "int8") throw new IllegalStateException(
      s"$dir stores ${meta.quant} cells — searchInt8 needs an int8 layout (build with int8 = true)")
    val (q0, cand) = int8Candidates(spark, dir, queries, nProbe, where, Some(meta))
    val quads = cand.select(col("qid").cast("long"), col("vec_id").cast("long"),
      col("idot").cast("long"), col("score8").cast("double"))
    val dq = if (meta.assign > 1) quads.distinct() else quads
    val funnel = graft.plans.GroupTopK.topK(dq,
      keys = Seq("qid"), order = Seq(col("score8").desc, col("vec_id").asc), k = rescore)
      .select(col("qid"), col("vec_id"), col("idot"))
      // feeds the bounded id collect AND the rescore join — without the
      // checkpoint the whole probe+funnel chain would execute twice
      .localCheckpoint()
    // float rescore: survivors are an ID SET, not a scan. Collect the
    // ≤ queries×rescore distinct ids and push them into the corpus
    // read as (range ∧ IN) filters. Honest pruning contract (round-12
    // ADVICE): parquet converts an IN above
    // spark.sql.parquet.pushdown.inFilterThreshold (default 10) into
    // its min/max range, so EXACT per-row-group pruning holds only for
    // compact or vec_id-sorted survivor ranges — the explicit
    // between() states that range form outright. For md5-scattered
    // survivors the row-group win evaporates and what remains is still
    // the structural point: a map-side codegen'd InSet filter on the
    // scan, never a corpus-wide shuffle or an unfiltered read feeding
    // the join. The collect threshold is sized for PLANNING cost (an
    // InSet of 20k longs builds in ms; 100k-literal plans were the
    // advice's concern), conf-tunable for operators whose corpus
    // layout is id-sorted and benefits from a wider IN. Beyond it the
    // code falls back to the full scan + broadcast-funnel join rather
    // than collecting unbounded ids onto the driver.
    val idLimit = spark.conf.getOption("spark.graft.rescoreIdLimit")
      .flatMap(_.toIntOption).getOrElse(20000) // tolerant: bad conf ≠ broken search
    val ids = funnel.select(col("vec_id")).distinct()
      .limit(idLimit + 1).collect().map(_.getLong(0)).sorted
    val corpusSrc =
      if (ids.isEmpty) corpus.filter(lit(false)) // empty funnel (e.g. a
      // fully-filtering `where`): an empty-IN would otherwise fall to
      // the UNFILTERED branch and plan a full corpus read for nothing
      else if (ids.length <= idLimit)
        corpus.filter(col("vec_id").between(ids.head, ids.last) &&
          col("vec_id").isin(ids.toSeq: _*))
      else corpus
    val cn = withNorm(corpusSrc).select(col("vec_id"), col("embedding"), col("nrm"))
    val rescored = cn.join(broadcast(funnel), Seq("vec_id"))
      .join(broadcast(q0.select(col("qid"), col("qe"), col("qn"))), Seq("qid"))
      .withColumn("rcos", round(dot(col("qe"), col("embedding")) / (col("qn") * col("nrm")), 6))
      .select(col("qid"), col("vec_id"), col("idot"), col("rcos"))
    graft.plans.GroupTopK.topK(rescored,
      keys = Seq("qid"), order = Seq(col("rcos").desc, col("vec_id").asc), k = k)
      .select(col("qid"), col("rank"), col("vec_id").as("neighbor_id"),
        col("idot"), col("rcos"))
  }

  /** [[searchInt8]]'s candidate stage — (q0: quantized queries, cand:
    * int8-scored candidates from the partition-pruned cells join).
    * Split out because searchInt8's funnel is eagerly checkpointed
    * (the bounded id collect + rescore join both consume it), which
    * hides the cells scan from the FINAL plan — Int8Spec pins the
    * PartitionFilters contract on THIS frame, where the scan lives. */
  private[graft] def int8Candidates(spark: SparkSession, dir: String,
      queries: DataFrame, nProbe: Int, where: Option[Column] = None,
      metaHint: Option[Meta] = None): (DataFrame, DataFrame) = {
    // searchInt8 passes its already-read Meta so the operation stays on
    // ONE meta read (two reads could straddle a concurrent rebuild and
    // mix generations); direct spec calls resolve it here
    val gen = metaHint.getOrElse(metaOf(spark, dir)).gen
    val cents = spark.read.parquet(centroidsDir(dir, gen))
    val cells = where.foldLeft( // (vec_id, q8, scale, nrm[, attrs…], cell)
      spark.read.parquet(cellsDirOf(dir, gen)))(_.filter(_))
    val q0 = withNorm(queries)
      .withColumn("qscale", int8Scale(col("embedding")))
      .filter(col("qscale") > 0)
      .select(col("vec_id").as("qid"), col("embedding").as("qe"), col("nrm").as("qn"),
        col("qscale"),
        graft.functions.GraftFunctions.int8_pack(col("embedding"), col("qscale")).as("qq8"))
    val probes = q0.crossJoin(broadcast(centroidArray(cents)))
      .select(col("qid"), col("qn"), col("qscale"), col("qq8"),
        explode(nearestCells(col("qe"), col("qn"), nProbe, rounded = true)).as("cell"))
    val cand = cells.join(broadcast(probes), Seq("cell"))
      .filter(col("vec_id") =!= col("qid"))
      .withColumn("idot", graft.functions.GraftFunctions.int8_dot(col("qq8"), col("q8")))
      // ((idot·sq)·sc)/(qn·cn) — the qs8 oracle states the same
      // association so the rounded funnel scores match bit-for-bit
      .withColumn("score8", round(col("idot").cast("double") * col("qscale") * col("scale")
        / (col("qn") * col("nrm")), 6))
    (q0, cand)
  }
}
