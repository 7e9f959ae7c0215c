package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Loaders for the driver-generated parquet fixtures
  * (`/root/testdata/sf*`; see TESTDATA.md / FIXTURES.md §B).
  *
  * Parquet scans are the natural 100 TB path: columnar, splittable,
  * min/max-pruned; Catalyst pushes projections and filters into them
  * (visible as `PushedFilters`/`ReadSchema` in `.explain`).
  */
object Tables {
  def apply(spark: SparkSession, dir: String, name: String): DataFrame =
    spark.read.parquet(s"$dir/$name.parquet")

  def region(s: SparkSession, d: String): DataFrame    = apply(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame    = apply(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame  = apply(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame  = apply(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame      = apply(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame    = apply(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame  = apply(s, d, "lineitem")
  /** `events.ts` has shipped as TIMESTAMP(NANOS) in some fixture
    * generations and naive µs (→ Spark TIMESTAMP_NTZ) in others;
    * normalize both to session-zone TIMESTAMP so downstream
    * `unix_micros`/window functions accept it in every generation.
    * Nanos are read as long and truncated to µs — the same truncation
    * DuckDB applies converting ns → its native µs timestamps; the
    * NTZ→LTZ cast is value-identity under the UTC session zone, which
    * is also how DuckDB reads the naive µs file — oracle comparisons
    * stay exact either way. */
  def events(s: SparkSession, d: String): DataFrame = {
    s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val df = apply(s, d, "events")
    df.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        // integer `div`, NOT `/`: long/int goes through double and loses
        // precision at epoch-nanosecond magnitude (~1.7e18 > 2^53)
        df.withColumn("ts", org.apache.spark.sql.functions.expr(
          "timestamp_micros(ts div 1000)"))
      case org.apache.spark.sql.types.TimestampNTZType =>
        df.withColumn("ts",
          org.apache.spark.sql.functions.col("ts").cast("timestamp"))
      case _ => df
    }
  }
  def documents(s: SparkSession, d: String): DataFrame = apply(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = apply(s, d, "embeddings")

  /** Spread a narrow scan across cores ONLY when the source provides
    * fewer partitions than the cluster has slots — the small-fixture
    * case (one parquet file = one scan task) ahead of CPU-bound work
    * like shingling or tokenizing. At scale the scan itself already
    * yields thousands of partitions, and this is the identity: a
    * round-robin `repartition` is its own full Exchange of the corpus
    * payload (Catalyst does NOT merge it into a downstream hash
    * shuffle), so it must never run unconditionally on a big input.
    * The partition probe reads plan metadata only — no job runs. */
  /** Compressed input bytes one spread partition should carry —
    * round-17 (guide §2.2/§2.5): the old rule fanned every
    * single-file fixture read out to defaultParallelism (32)
    * partitions, so EVERY downstream job of every consumer — and
    * every localCheckpoint block scan — paid 32 task launches to
    * move a few thousand tiny rows, the dominant per-query cost at
    * bench scale (ExprProbe measured the whole pass-1 expression
    * suite under 150 ms of wall at any width). Sizing the fan-out
    * from the INPUT instead (≈4 partitions at sf0.1's 584 KB,
    * in-JVM A/B: qc1 −51%, qc7 −36%, qc2 −27%, qt18 −36%, no
    * compute-heavy query lost; width 2 ≈ width 4, so 4 is the knee)
    * keeps the same code scale-correct: a real corpus arrives
    * already split at spark.sql.files.maxPartitionBytes and spread
    * stays the no-op it always was past defaultParallelism·256 KB. */
  private val SpreadBytesPerTask = 256L << 10

  def spread(df: DataFrame): DataFrame = {
    val s = df.sparkSession
    // conf override: lets `graft.Bench ab` A/B the fan-out width in-JVM
    // (OPTIMIZATION_r17.md "spread width")
    val target = s.conf.getOption("graft.spread.partitions").map(_.toInt)
      .getOrElse(sizedWidth(df))
    if (df.rdd.getNumPartitions < target) df.repartition(target) else df
  }

  /** The spread sizing rule as a reusable width: how many exchange
    * partitions a narrow frame's PLAN-STAT bytes justify, clamped to
    * [1, defaultParallelism]. Round-17 (guide §2.5): every explicit
    * `repartition*`/`repartitionByRange` width in the library used to
    * be the bare core count, so fixture-sized frames paid 32 task
    * launches per downstream job; deriving the width from size keeps
    * the at-scale behavior (stats past defaultParallelism·bytesPerTask
    * clamp to the old value) while tiny inputs get the few partitions
    * they need. Post-join/filter stats can overestimate — that only
    * pushes the width back toward the historical core count, never
    * below 1. */
  private[graft] def sizedWidth(df: DataFrame,
      bytesPerTask: Long = SpreadBytesPerTask): Int = {
    val s = df.sparkSession
    val bytes = df.queryExecution.optimizedPlan.stats.sizeInBytes
    ((bytes + bytesPerTask - 1) / bytesPerTask)
      .min(BigInt(s.sparkContext.defaultParallelism)).max(BigInt(1)).toInt
  }

  /** [[spread]] to an explicit target width — for stages whose
    * per-row OUTPUT work (pair explosion, nested-loop probe) dwarfs
    * their input bytes, where the bytes rule undersizes. Identity when
    * the frame is already at least that wide, so a large input keeps
    * its scan-derived partitioning. */
  private[graft] def spreadTo(df: DataFrame, target: Int): DataFrame =
    if (df.rdd.getNumPartitions < target) df.repartition(target) else df

  /** [[sizedWidth]] from a KNOWN row count — for frames downstream of
    * joins, whose plan-stat bytes multiply so badly that the stats
    * rule degenerates to the core count (measured: qc7/qd19's prefix
    * sums stayed 32-wide under sizedWidth). Callers that just
    * materialized the frame know its real cardinality; ~32 bytes/row
    * covers the narrow (doc_id, tok, key)-shaped frames this sizes. */
  private[graft] def widthForRows(s: SparkSession, rows: Long,
      bytesPerRow: Long = 32L): Int =
    ((rows * bytesPerRow + SpreadBytesPerTask - 1) / SpreadBytesPerTask)
      .min(s.sparkContext.defaultParallelism.toLong).max(1L).toInt
}
