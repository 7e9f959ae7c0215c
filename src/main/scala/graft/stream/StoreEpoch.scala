package graft.stream

import scala.collection.mutable

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}
import org.apache.hadoop.mapreduce.{Job, TaskAttemptID}
import org.apache.hadoop.mapreduce.task.TaskAttemptContextImpl
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.paths.SparkPath
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
import org.apache.spark.sql.catalyst.expressions.{Ascending, BoundReference,
  InterpretedOrdering, SortOrder}
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
import org.apache.spark.sql.execution.datasources.{FileFormat, PartitionedFile}
import org.apache.spark.sql.execution.datasources.parquet.{ParquetFileFormat,
  ParquetReadSupport, ParquetToSparkSchemaConverter}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.sources.Filter
import org.apache.spark.sql.types.{ArrayType, DataType, MapType, StructType}
import org.apache.spark.unsafe.types.UTF8String

import graft.io.NioLocal

/** Reads and commits the `epoch=N` partitions of the epoch-partitioned
  * stores — the ingest membranes' corpus, indexes, cells, ledger and
  * metrics, and the sink's histories — on the driver, without a Spark
  * job, when the data is batch-sized.
  *
  * At micro-batch size each Spark job and each distributed file commit
  * costs far more than the rows it moves (one job per store write, one
  * schema-inference job per plain `spark.read.parquet`). So:
  *
  *   - [[commit]] brings the rows of every store an epoch writes to the
  *     driver in ONE bounded job ([[gate]]), and when they number at
  *     most the bound it writes each store there with Spark's own
  *     parquet writer and [[install]]s it as `epoch=N`; larger epochs
  *     (backfills) keep Spark's distributed writers, the same
  *     OVERWRITE of `epoch=N` either way;
  *   - [[read]] takes a store's data schema from one footer on the
  *     driver and leaves partition discovery (`epoch=`, `cell=`) to
  *     Spark's file index, so no inference job runs.
  */
private[graft] object StoreEpoch {

  /** One store's output for an epoch: `rows` becomes `root/epoch=N`,
    * each file sorted by `sortBy` (ascending), laid out in
    * `partitionBy=` subdirectories when set. */
  final case class Write(root: String, rows: DataFrame, sortBy: Seq[String] = Nil,
      partitionBy: Option[String] = None)

  /** Commits each write as its store's `epoch=N`, replacing whatever the
    * directory held, and returns each write's row count.
    *
    * Frames already held on the driver (a local relation, such as a
    * chain-resolved ledger) are read without a job; the others are
    * unioned and brought to the driver by one [[gate]] job, which also
    * counts them. When the epoch holds at most `driverRows` rows in all
    * (and no gate task more than its share), every store is written on
    * the driver and installed with [[install]]; otherwise every store
    * takes Spark's writer. Both routes leave the same rows and schemas,
    * and each replaces `epoch=N` whole — an empty store epoch clears it
    * — so a replay converges whichever route either attempt took. */
  def commit(writes: Seq[Write], epochId: Long, driverRows: Long): Seq[Long] = {
    val spark = writes.head.rows.sparkSession
    val held = writes.map(w => if (isLocal(w.rows)) Some(localRows(w.rows).toSeq) else None)
    val remote = writes.indices.filter(held(_).isEmpty)
    // what the driver may still take: a negative limit gates no rows
    val room = driverRows - held.flatten.map(_.size.toLong).sum
    val (gated, counts) =
      if (remote.isEmpty) (Some(Nil).filter(_ => room >= 0), Map.empty[String, Long])
      else gate(tagged(remote.map(writes(_).rows)), room, Some("store"))
    val n = writes.indices.map(i =>
      held(i).fold(counts.getOrElse(remote.indexOf(i).toString, 0L))(_.size.toLong))
    gated match {
      case Some(rows) =>
        val byStore = rows.groupBy(_.getUTF8String(0).toString.toInt)
        val conf = NioLocal.withFileSystem(spark.sessionState.newHadoopConf())
        writes.indices.foreach { i =>
          val w = writes(i)
          val k = remote.indexOf(i)
          val rs = held(i).getOrElse(byStore.getOrElse(k, Nil)
            .map(_.getStruct(k + 1, w.rows.schema.length)))
          install(spark, conf, w.root, epochId, w.rows.schema, sorted(rs, w), w.partitionBy)
        }
      case None =>
        writes.foreach { w =>
          val out = if (w.sortBy.isEmpty) w.rows else w.rows.sortWithinPartitions(w.sortBy.map(col): _*)
          out.write.mode(SaveMode.Overwrite).partitionBy(w.partitionBy.toSeq: _*)
            .parquet(s"${w.root}/epoch=$epochId")
          // a driver install of N that crashed before its rename
          val tmp = temporary(new Path(w.root), epochId)
          val fs = tmp.getFileSystem(spark.sparkContext.hadoopConfiguration)
          require(!fs.exists(tmp) || fs.delete(tmp, true), s"could not clear $tmp")
        }
    }
    n
  }

  /** The frames of `dfs` as one: a `store` column (the frame's position)
    * and one struct column per frame, null but in that frame's rows. */
  private def tagged(dfs: Seq[DataFrame]): DataFrame =
    dfs.zipWithIndex.map { case (df, k) =>
      df.select(lit(k.toString).as("store") +: dfs.indices.map { j =>
        (if (j == k) struct(df.columns.map(df.col).toIndexedSeq: _*)
         else lit(null).cast(dfs(j).schema)).as(s"s$j")
      }: _*)
    }.reduce(_ union _)

  private def sorted(rows: Seq[InternalRow], w: Write): Seq[InternalRow] =
    if (w.sortBy.isEmpty) rows
    else rows.sorted(new InterpretedOrdering(w.sortBy.map { c =>
      val i = w.rows.schema.fieldIndex(c)
      SortOrder(BoundReference(i, w.rows.schema(i).dataType, nullable = true), Ascending)
    }))

  /** Replaces `root/epoch=N` with `rows` (of `schema`), written on the
    * driver: the files go into a fresh hidden temporary `.epoch=N.tmp`
    * (one file, or one per `partitionBy=` value), `epoch=N` is removed,
    * and the temporary is renamed into its place. No rows leave
    * `epoch=N` empty, as an empty Spark write leaves it without data
    * rows (so a later fold relabels the same epochs). A crash leaves
    * the old `epoch=N`, or the temporary beside a missing `epoch=N`;
    * readers and [[EpochFold.hasDataFiles]] skip the temporary, and the
    * next install of N discards it. `conf` is the session's Hadoop
    * conf, built once per epoch. */
  def install(spark: SparkSession, conf: Configuration, root: String, epochId: Long,
      schema: StructType, rows: Seq[InternalRow], partitionBy: Option[String]): Unit = {
    val base = new Path(root)
    val fs = base.getFileSystem(conf)
    val dir = new Path(base, s"epoch=$epochId")
    val tmp = temporary(base, epochId)
    require((!fs.exists(tmp) || fs.delete(tmp, true)) && fs.mkdirs(tmp), s"could not clear $tmp")
    partitionBy match {
      case _ if rows.isEmpty =>
      case None => writeParquet(spark, conf, nullable(schema), rows.iterator, epochFile(tmp, epochId))
      case Some(p) =>
        val at = schema.fieldIndex(p)
        val kept = schema.indices.filter(_ != at)
        val types = schema.map(_.dataType)
        val dataSchema = StructType(kept.map(schema(_)))
        rows.groupBy(r => if (r.isNullAt(at)) null else r.get(at, types(at))).foreach { case (v, rs) =>
          writeParquet(spark, conf, nullable(dataSchema),
            rs.iterator.map(r => InternalRow.fromSeq(kept.map(i => r.get(i, types(i))))),
            epochFile(partitionDir(tmp, p, v), epochId))
        }
    }
    if (fs.exists(dir)) require(fs.delete(dir, true), s"could not replace $dir")
    require(fs.rename(tmp, dir), s"could not install $dir")
  }

  /** The hidden temporary an [[install]] of epoch N writes under `root`. */
  private def temporary(root: Path, epochId: Long): Path = new Path(root, s".epoch=$epochId.tmp")

  /** The directory of partition value `v` of column `column` under
    * `root`; null and "" land in Hive's default partition, as on a
    * Spark write. */
  def partitionDir(root: Path, column: String, v: Any): Path = {
    val s = if (v == null || v.toString.isEmpty) ExternalCatalogUtils.DEFAULT_PARTITION_NAME
      else v.toString
    new Path(root, ExternalCatalogUtils.getPartitionPathString(column, s))
  }

  /** A store under `path`, or None when it holds no data file: the data
    * schema comes from the footer of one data file ([[EpochFold
    * .firstDataFile]], the file Spark's index would see), and Spark's
    * file index adds the partition columns, so no schema-inference job
    * runs. Where the store's files agree on their schema (every store
    * graft writes) this is `spark.read.parquet(path)`. */
  def read(spark: SparkSession, path: String): Option[DataFrame] = {
    val conf = spark.sparkContext.hadoopConfiguration
    EpochFold.firstDataFile(conf, path).map(f =>
      spark.read.schema(footerSchema(f, conf)).parquet(path))
  }

  /** The Spark schema a parquet file was written with, from its footer,
    * nullable throughout as Spark reads it: read on the driver, no job. */
  def footerSchema(file: FileStatus, conf: Configuration): StructType = {
    val in = ParquetFileReader.open(HadoopInputFile.fromStatus(file, conf))
    try {
      val meta = in.getFooter.getFileMetaData
      nullable(Option(meta.getKeyValueMetaData.get(ParquetReadSupport.SPARK_METADATA_KEY))
        .map(DataType.fromJson(_).asInstanceOf[StructType])
        .getOrElse(new ParquetToSparkSchemaConverter().convert(meta.getSchema)))
    } finally in.close()
  }

  /** `s` with every field, array element and map value nullable. */
  def nullable(s: StructType): StructType = {
    def all(t: DataType): DataType = t match {
      case st: StructType => nullable(st)
      case ArrayType(e, _) => ArrayType(all(e), containsNull = true)
      case MapType(k, v, _) => MapType(all(k), all(v), valueContainsNull = true)
      case other => other
    }
    StructType(s.map(f => f.copy(dataType = all(f.dataType), nullable = true)))
  }

  /** What a [[gate]] task ships: its rows, or null once it holds more
    * than its share, and its row count per tag value. */
  private type Shipped = (mutable.ArrayBuffer[InternalRow], mutable.HashMap[UTF8String, Array[Long]])

  /** One job over `df`: its rows when it holds at most `limit` of them
    * (else None), and its row count per value of the string column
    * `tag` (none without one). Each of the n tasks keeps up to
    * ⌈(limit + 1) / n⌉ rows and ships none once it holds more, so the
    * driver receives at most about `limit + n` rows however large the
    * frame; a frame skewed past one task's share is treated as over the
    * limit. The rows are the plan's internal rows, copied. */
  def gate(df: DataFrame, limit: Long, tag: Option[String] = None)
      : (Option[Seq[InternalRow]], Map[String, Long]) = {
    val rdd = df.queryExecution.toRdd
    val tasks = math.max(rdd.getNumPartitions, 1)
    val share = ((capOf(limit).toLong + tasks - 1) / tasks).toInt
    val at = tag.fold(-1)(df.schema.fieldIndex)
    val kept = mutable.ArrayBuffer.empty[InternalRow]
    val counts = mutable.HashMap.empty[String, Long]
    var fits = true
    df.sparkSession.sparkContext.runJob(rdd, (it: Iterator[InternalRow]) => {
      var rows = mutable.ArrayBuffer.empty[InternalRow]
      val seen = mutable.HashMap.empty[UTF8String, Array[Long]]
      it.foreach { r =>
        if (at >= 0) {
          val v = if (r.isNullAt(at)) null else r.getUTF8String(at)
          seen.get(v) match {
            case Some(c) => c(0) += 1
            case None => seen(if (v == null) null else v.clone()) = Array(1L)
          }
        }
        if (rows != null) { if (rows.size < share) rows += r.copy() else rows = null }
      }
      (rows, seen): Shipped
    }, (_: Int, res: Shipped) => {
      res._2.foreach { case (v, c) =>
        val k = if (v == null) null else v.toString
        counts(k) = counts.getOrElse(k, 0L) + c(0)
      }
      if (res._1 == null) { fits = false; kept.clear() } else if (fits) kept ++= res._1
    })
    (if (fits && kept.size <= limit) Some(kept.toSeq) else None, counts.toMap)
  }

  /** The plan shape of an ingest epoch of at most
    * [[Sinks.DriverRouteRows]] rows, as session confs: interpreted
    * expressions and operators (a warm 500-doc `ingest_serve` epoch's
    * plans otherwise compile about 175 generated classes, at 13–17 ms
    * each, more than its rows cost), no adaptive stage barriers (AQE runs each shuffle stage of a
    * verdict plan as its own job) and one shuffle partition.
    * `spark.sql.codegen.factoryMode` is a Spark-internal conf;
    * IngestEpochJobsSpec's compile bound fails if Spark stops honouring
    * it. */
  val SmallEpochShape: Map[String, String] = Map(
    "spark.sql.codegen.factoryMode" -> "NO_CODEGEN",
    "spark.sql.codegen.wholeStage" -> "false",
    "spark.sql.adaptive.enabled" -> "false",
    "spark.sql.shuffle.partitions" -> "1")

  /** `f(raw, rows)` for an ingest epoch: `raw` is `batch` checkpointed
    * and `rows` its row count, from the one job that fills the
    * checkpoint. The route is decided here, before any membrane plan
    * runs (under AQE even a lazy checkpoint runs its shuffle stages when
    * it is made): an epoch of at most `driverRows` rows runs under
    * [[SmallEpochShape]], set on the batch's session (in a streaming
    * query, the stream's own clone) and each key restored afterwards,
    * also when `f` throws; a larger one runs under the session's own
    * confs. */
  def sized[T](batch: DataFrame, driverRows: Long)(f: (DataFrame, Long) => T): T = {
    val raw = batch.localCheckpoint(eager = false)
    val rows = raw.queryExecution.toRdd.count()
    if (rows > driverRows) f(raw, rows)
    else {
      val conf = raw.sparkSession.conf
      val set = conf.getAll
      val prior = SmallEpochShape.keys.map(k => k -> set.get(k))
      SmallEpochShape.foreach { case (k, v) => conf.set(k, v) }
      try f(raw, rows)
      finally prior.foreach {
        case (k, Some(v)) => conf.set(k, v)
        case (k, None) => conf.unset(k)
      }
    }
  }

  /** `limit + 1` as a collect cap (one row past the limit tells a frame
    * over it from one at it); a negative limit collects nothing. */
  def capOf(limit: Long): Int =
    if (limit < 0) 0 else (math.min(limit, Int.MaxValue - 1L) + 1).toInt

  /** Up to `cap` distinct values of `df`'s one column. Each task keeps
    * at most `cap` of them and the driver merges task results into one
    * set as they arrive, capped again: one job, no shuffle, and the
    * driver holds at most `cap` values besides a task result in flight. */
  def distinctUpTo(df: DataFrame, cap: Int): collection.Set[Any] = {
    def add(s: mutable.HashSet[Any], v: Any) = { if (s.size < cap) s += v; s }
    df.rdd.map(_.get(0)).aggregate(mutable.HashSet.empty[Any])(add, _.foldLeft(_)(add))
  }

  /** Whether `df`'s rows are already on the driver: its optimized plan
    * is a local relation, which [[localRows]] reads without a job. */
  def isLocal(df: DataFrame): Boolean =
    df.queryExecution.optimizedPlan.isInstanceOf[LocalRelation]

  /** The rows of a frame over a driver-held batch: the optimizer folds
    * its filters and projections into one local relation, so computing
    * it runs no job. */
  def localRows(df: DataFrame): Array[InternalRow] =
    df.queryExecution.executedPlan.executeCollect()

  /** The data files directly under `dir` (none if it does not exist). */
  def dataFiles(fs: FileSystem, dir: Path): Seq[FileStatus] =
    if (!fs.exists(dir)) Nil
    else fs.listStatus(dir).toSeq.filter(st => st.isFile && !EpochFold.hidden(st.getPath.getName))

  /** Reads parquet `files` on the driver with the function a Spark scan
    * task runs (`ParquetFileFormat.buildReaderWithPartitionValues`,
    * rows not batches), `filters` pushed into it; no job. Rows hold the
    * `requiredSchema` columns, copied out of the reader's buffers.
    * `conf` is the session's Hadoop conf (`newHadoopConf`, which copies
    * every Hadoop and SQL setting: build it once per epoch). */
  def readParquet(spark: SparkSession, conf: Configuration, files: Seq[FileStatus],
      dataSchema: StructType, requiredSchema: StructType,
      filters: Seq[Filter] = Nil): Iterator[InternalRow] =
    if (files.isEmpty) Iterator.empty
    else {
      val read = new ParquetFileFormat().buildReaderWithPartitionValues(spark, dataSchema,
        new StructType(), requiredSchema, filters,
        Map(FileFormat.OPTION_RETURNING_BATCH -> "false"), conf)
      files.iterator.flatMap(f => read(PartitionedFile(InternalRow.empty, SparkPath.fromPath(f.getPath),
        0L, f.getLen, modificationTime = f.getModificationTime, fileSize = f.getLen))
        .map(_.copy()))
    }

  /** Writes `rows` to the parquet file `file` on the driver through
    * parquet-hadoop with Spark's `ParquetWriteSupport`, configured from
    * the session as a Spark write is, so the footer carries Spark's
    * schema metadata; no job. The write configures a copy of `conf`,
    * the session's Hadoop conf. */
  def writeParquet(spark: SparkSession, conf: Configuration, schema: StructType,
      rows: Iterator[InternalRow], file: Path): Unit = {
    val job = Job.getInstance(conf)
    val factory = new ParquetFileFormat().prepareWrite(spark, job, Map.empty, schema)
    val out = factory.newInstance(file.toString, schema,
      new TaskAttemptContextImpl(job.getConfiguration, new TaskAttemptID()))
    try rows.foreach(out.write) finally out.close()
  }

  /** A driver-written data file of epoch `epochId`: unique per attempt,
    * so installing it never overwrites a file a reader may still see. */
  def epochFile(dir: Path, epochId: Long): Path =
    new Path(dir, s"part-e$epochId-${java.util.UUID.randomUUID()}.parquet")
}
