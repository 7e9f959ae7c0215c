package graft.batch

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/** Lake-layout writers: directory partitioning for coarse pruning.
  *
  * The reference appends everything into flat tables (histories,
  * production_records); at 100 TB the table layout IS the index:
  * partitioning by plan date means a dashboard query for one day
  * touches 1/365th of the files before a single row is read —
  * `PartitionFilters` in the scan node, enforced by LakeSpec. Combine
  * with [[Bucketing]] (sub-file clustering by join key) for the full
  * layout: `date=.../bucket-NNN.parquet`.
  */
object Lake {
  /** Write `df` under `path` hive-partitioned by `cols` (append). */
  def writePartitioned(df: DataFrame, path: String, cols: String*): Unit =
    df.write.mode(SaveMode.Append).partitionBy(cols: _*).parquet(path)

  /** Events partitioned by event date — the layout the reference's
    * histories table would use at scale. */
  def writeEventsByDay(events: DataFrame, path: String): Unit =
    writePartitioned(events.withColumn("event_date", to_date(col("ts"))), path, "event_date")

  /** Incremental-batch bookkeeping: which partitions of `dataDir` has
    * a consumer not yet processed? A daily 100 TB pipeline must re-run
    * over only the new day, and must be safe to re-run after a crash —
    * so the ledger is consulted with an anti join (idempotent: already
    * processed partitions return empty) and the partition listing is a
    * partition-column-only query, answered from directory metadata,
    * never by reading data files. Commit protocol: process the
    * returned partitions, THEN [[markProcessed]] — a crash in between
    * re-processes (at-least-once over idempotent writes), never skips. */
  def unprocessedPartitions(spark: SparkSession, dataDir: String,
                            ledgerDir: String, partCol: String): DataFrame = {
    val current = spark.read.parquet(dataDir).select(partCol).distinct()
    // explicit existence check (Hadoop FS, so it holds on HDFS/object
    // stores too) — a MISSING ledger means "all new", but a corrupt or
    // unreadable one must propagate, not silently re-emit every
    // partition as if the pipeline had never run
    val p = new org.apache.hadoop.fs.Path(ledgerDir)
    if (!p.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(p)) return current
    val done = spark.read.parquet(ledgerDir).select(partCol)
    current.join(done, Seq(partCol), "left_anti")
  }

  /** Record partitions as processed (append-only ledger; duplicates are
    * harmless because the consult side is an anti join). */
  def markProcessed(processed: DataFrame, ledgerDir: String, partCol: String): Unit =
    processed.select(partCol).distinct()
      .write.mode(SaveMode.Append).parquet(ledgerDir)

  /** Compact a parquet directory into ~`targetBytes`-sized files at
    * `dest`, preserving hive partitioning by `cols`.
    *
    * A streaming append sink (K3-style) lands one small file per
    * micro-batch per partition; after a day at 1 Hz that is thousands
    * of footer-heavy files whose open cost dominates the scan. The
    * 100 TB fix is a periodic compaction pass: read, re-bin to
    * size-targeted files, rewrite — exactly what Delta's OPTIMIZE or
    * Iceberg's rewrite_data_files does, expressed on plain parquet.
    * Writes to a fresh directory (atomic swap is the caller's rename)
    * rather than in place, so readers never see a half-compacted table.
    *
    * Returns (filesBefore, filesAfter).
    */
  def compactTo(spark: SparkSession, src: String, dest: String,
                targetBytes: Long = 128L * 1024 * 1024, cols: Seq[String] = Nil): (Int, Int) = {
    val df = spark.read.parquet(src)
    val before = df.inputFiles.length
    val totalBytes = df.inputFiles.map { f =>
      val p = new org.apache.hadoop.fs.Path(f)
      p.getFileSystem(spark.sparkContext.hadoopConfiguration).getFileStatus(p).getLen
    }.sum
    val nFiles = math.max(1, math.ceil(totalBytes.toDouble / targetBytes).toInt)
    // partitionBy + repartition(partCols) would put each hive partition
    // in one task-file; without partition cols a plain size-based re-bin
    val binned =
      if (cols.isEmpty) df.repartition(nFiles)
      else df.repartition(nFiles, cols.map(col): _*)
    binned.write.mode(SaveMode.Overwrite).partitionBy(cols: _*).parquet(dest)
    (before, spark.read.parquet(dest).inputFiles.length)
  }

  /** Size-binned rewrite of a SET of parquet directories into one
    * `dest` directory (no partition columns — the caller owns
    * directory-level layout, e.g. [[graft.stream.IngestDedup]] folding
    * many `epoch=N` index partitions into one). `coalesce`, not
    * `repartition`: a compaction rewrite needs no shuffle, only fewer,
    * larger files. `sortCols` re-clusters each output file
    * (sortWithinPartitions — still no shuffle) so parquet row-group
    * min/max stats stay tight for point-lookup pushdown; coalescing
    * alone concatenates sorted inputs and would destroy that. */
  def compactDirs(spark: SparkSession, srcs: Seq[String], dest: String,
                  targetBytes: Long = 128L * 1024 * 1024,
                  sortCols: Seq[String] = Nil,
                  partitionCols: Seq[String] = Nil): Unit = {
    // with partition subdirs below each src, a multi-path read trips
    // Spark's conflicting-directory-structures check — read each root
    // (which then infers its own partition cols) and union
    val df =
      if (partitionCols.isEmpty) spark.read.parquet(srcs: _*)
      else srcs.map(spark.read.parquet(_)).reduce(_.unionByName(_))
    val before = df.inputFiles.length
    val totalBytes = df.inputFiles.map { f =>
      val p = new org.apache.hadoop.fs.Path(f)
      p.getFileSystem(spark.sparkContext.hadoopConfiguration).getFileStatus(p).getLen
    }.sum
    val nFiles = math.max(1, math.ceil(totalBytes.toDouble / targetBytes).toInt)
    // with partitionCols (e.g. EmbedIngest folding epoch dirs that wrap
    // cell= subdirs): co-locate each hive partition's rows as compactTo
    // does, so a partition's data lands in few files, not one per task
    val binned =
      if (partitionCols.isEmpty) df.coalesce(nFiles)
      else df.repartition(nFiles, partitionCols.map(col): _*)
    val clustered =
      if (sortCols.isEmpty) binned
      else binned.sortWithinPartitions(sortCols.map(col): _*)
    clustered.write.mode(SaveMode.Overwrite).partitionBy(partitionCols: _*).parquet(dest)
  }
}
