package graft.stream

import scala.collection.mutable

import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}
import org.apache.spark.sql.{Column, DataFrame, Dataset, SaveMode, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
import org.apache.spark.sql.catalyst.expressions.{Ascending, BoundReference,
  GenericInternalRow, InterpretedOrdering, SortOrder}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.sources.{Filter, In}
import org.apache.spark.sql.types.StructType

import graft.io.NioLocal
import graft.model._
import graft.stream.StoreEpoch.{capOf, dataFiles, epochFile, footerSchema, gate, localRows,
  nullable, partitionDir, readParquet, writeParquet}

/** Batch/foreachBatch sinks for the action stream (K1-K5).
  *
  * The environment ships no Delta or Iceberg jar, so the keyed record
  * upsert is a MERGE-by-rewrite on parquet: the partitions a batch
  * touches are read, merged newest-per-key and overwritten.
  *
  * The sinks are declarative Spark plans, with one bounded exception:
  * a small [[applyActions]] epoch (an epoch id and at most
  * [[Sinks.DriverRouteRows]] action rows) is collected once and applied
  * on the driver — a merge of a few dozen rows into the one partition
  * they touch, which the driver reads whole, with Spark's own parquet
  * reader and writer — because at that size each Spark job's
  * scheduling and file commit cost far more than the work.
  */
object Sinks {

  /** `production_records` is laid out in `__shift=<date>|<shift>/`
    * partitions. The value is the `date|shift` suffix of `record_id`
    * ([[StateMachine.recordId]]), taken from the key itself because
    * update rows ([[ActionRow.updateQty]]) leave `plan_date` and
    * `shift_id` empty, so every version of a key lands in the same
    * partition. At the reference's 1 Hz cadence every live key updates
    * every tick, and every live key belongs to the current shift, so
    * an epoch rewrites one partition: the live shift's records,
    * however old the table is. */
  private val ShiftColumn = "__shift"
  private def shiftOf: Column = substring_index(col("record_id"), "|", -2)
  // the column of the retired `__bucket=NN/` hash layout, dropped when
  // migrateLayout adopts such a table
  private val LegacyBucketColumn = "__bucket"

  // hidden names ('.', or '_' without '=') are metadata, not data
  private def dataEntries(fs: FileSystem, root: Path): Seq[String] =
    if (!fs.exists(root)) Nil
    else fs.listStatus(root).toSeq.map(_.getPath.getName).filterNot(EpochFold.hidden)

  /** Refuses a table under `root` in another layout (flat files or other
    * partitions). */
  private def requireLayout(fs: FileSystem, root: Path): Unit = {
    val foreign = dataEntries(fs, root).filterNot(_.startsWith(ShiftColumn + "="))
    require(foreign.isEmpty,
      s"table at $root is not in the $ShiftColumn= layout " +
        s"(e.g. ${foreign.take(3).mkString(", ")}); run Sinks.migrateLayout " +
        s"once to adopt it")
  }

  /** Refuses a batch whose column names or types differ from those in
    * the footer of one data file in partition `dir`. */
  private def requireSchema(fs: FileSystem, dir: Path, batch: StructType): Unit =
    dataFiles(fs, dir).headOption.foreach { file =>
      val shape = (s: StructType) => s.fields.toSeq.filter(_.name != ShiftColumn)
        .map(f => f.name.toLowerCase -> f.dataType.catalogString).toSet
      val table = footerSchema(file, fs.getConf)
      require(shape(table) == shape(batch),
        s"batch columns ${shape(batch).toSeq.sorted.mkString(", ")} differ from the " +
          s"table's ${shape(table).toSeq.sorted.mkString(", ")} at ${dir.getParent}; an " +
          "upsert batch must carry the table's full schema")
    }

  /** Keyed upsert into a table in `__shift=` partitions, the layout of
    * `production_records` ([[ShiftColumn]]; the batch carries
    * `record_id`): newest row per key wins, ordered by `version` (ties
    * broken by later columns). Each batch reads only the partitions
    * its keys map to, with the batch's own schema (no listing or
    * schema-inference job), merges newest-per-key, and dynamically
    * overwrites those partitions.
    * Dynamic overwrite stages the output and swaps each partition in at
    * job commit, after every read of the merge, so the merge may read
    * the partitions it replaces (single writer; foreachBatch
    * serializes). A table in another layout — flat files or other
    * partitions — is refused with a pointer to [[migrateLayout]].
    *
    * The batch must carry the table's full schema: the merge reads the
    * old rows with the batch's columns, so a table column the batch
    * lacked would vanish from every rewritten row. The footer of one
    * file in a touched partition is checked on the driver, and a batch
    * whose column names or types differ from it is refused. */
  def upsertParquetPartitioned(batch: DataFrame, path: String, keys: Seq[String],
      version: Seq[String]): Unit = {
    val spark = batch.sparkSession
    val root = new Path(path)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    requireLayout(fs, root)
    val b = batch.withColumn(ShiftColumn, shiftOf)
    // the batch's partition values: bounded by the layout, not by the
    // batch
    val present = StoreEpoch.distinctUpTo(b.select(ShiftColumn), Int.MaxValue).toSeq
      .map(partitionDir(root, ShiftColumn, _))
      .filter(p => EpochFold.hasDataFiles(spark, p.toString))
    present.headOption.foreach(p => requireSchema(fs, p, b.schema))
    val merged =
      if (present.isEmpty) b
      else spark.read.schema(b.schema).option("basePath", path)
        .parquet(present.map(_.toString): _*).unionByName(b)
    // the shift column leads the window key (it is a function of the
    // keys, so the groups are the same): the window's sort then already
    // orders rows the way the partitioned write needs, and the write
    // adds no second sort holding its own memory pages in the same task
    val w = Window.partitionBy((ShiftColumn +: keys).map(col): _*)
      .orderBy(version.map(c => col(c).desc): _*)
    // partitionOverwriteMode is a per-writer option, NOT a session conf
    // mutation — a concurrent partitioned Overwrite on the same session
    // must not inherit dynamic mode from this writer
    merged.withColumn("__rn", row_number().over(w)).filter(col("__rn") === 1).drop("__rn")
      .write.mode(SaveMode.Overwrite)
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy(ShiftColumn).parquet(path)
  }

  /** [[upsertParquetPartitioned]] of a driver-held batch, applied on the
    * driver with the same refusals: for each partition the batch
    * touches, read its files, merge newest-per-key, write the result
    * as one epoch file, install it, then remove the files it
    * superseded. Until the removal a reader sees both (a key twice);
    * a crash there is harmless, since the next merge of the partition
    * reads them all and keeps the newest row per key. The driver holds
    * every row of a touched partition while it merges it (one partition
    * at a time): the bound on the batch does not bound the partitions. */
  private def upsertOnDriver(batch: DataFrame, path: String, keys: Seq[String],
      version: Seq[String], epochId: Long, conf: Configuration): Unit = {
    val b = batch.withColumn(ShiftColumn, shiftOf)
    val rows = localRows(b)
    if (rows.isEmpty) return
    val spark = batch.sparkSession
    val root = new Path(path)
    val fs = root.getFileSystem(conf)
    requireLayout(fs, root)
    val schema = nullable(batch.schema)
    val types = schema.map(_.dataType)
    val keyAt = keys.map(schema.fieldIndex)
    val newer = new InterpretedOrdering(version.map { v =>
      val i = schema.fieldIndex(v)
      SortOrder(BoundReference(i, types(i), nullable = true), Ascending)
    })
    val at = schema.length
    val byPartition = rows
      .groupBy(r => if (r.isNullAt(at)) null else r.get(at, b.schema(at).dataType).toString)
      .map { case (v, rs) => partitionDir(root, ShiftColumn, v) -> rs }
    byPartition.keys.find(dataFiles(fs, _).nonEmpty)
      .foreach(requireSchema(fs, _, b.schema))
    byPartition.foreach { case (dir, batchRows) =>
      val old = dataFiles(fs, dir)
      val newest = mutable.LinkedHashMap.empty[Seq[Any], InternalRow]
      def offer(r: InternalRow): Unit = {
        val k = keyAt.map(i => r.get(i, types(i)))
        if (newest.get(k).forall(cur => newer.lteq(cur, r))) newest(k) = r
      }
      readParquet(spark, conf, old, schema, schema).foreach(offer)
      batchRows.foreach(r =>
        offer(new GenericInternalRow(types.indices.map(i => r.get(i, types(i))).toArray)))
      val tmp = new Path(dir, s".e$epochId.tmp")
      fs.delete(tmp, false)
      writeParquet(spark, conf, schema, newest.valuesIterator, tmp)
      val file = epochFile(dir, epochId)
      require(fs.rename(tmp, file), s"could not install $file")
      old.foreach(f => require(fs.delete(f.getPath, false), s"could not remove superseded ${f.getPath}"))
    }
  }

  /** Replaces `root/epoch=N` with one driver-written file of `rows`
    * ([[StoreEpoch.install]]), whatever the directory held (a replay
    * converges whichever route either attempt took); no rows write
    * nothing, as on the distributed route. A legacy flat table is
    * adopted into `epoch=-1` first, as on the distributed route. */
  private def overwriteEpochOnDriver(rows: DataFrame, root: String, epochId: Long,
      conf: Configuration): Unit = {
    val data = localRows(rows)
    if (data.isEmpty) return
    EpochFold.migrateLegacyFlat(conf, root)
    StoreEpoch.install(rows.sparkSession, conf, root, epochId, rows.schema, data.toSeq, None)
  }

  /** Read an [[upsertParquetPartitioned]] table without its layout column. */
  def readUpsertedBucketed(spark: SparkSession, path: String): DataFrame =
    spark.read.parquet(path).drop(ShiftColumn)

  /** One-time migration of an upsert table into the `__shift=` layout
    * of [[upsertParquetPartitioned]], from a flat table or from another
    * partition layout — e.g. a `production_records` table written in
    * the retired `__bucket=` hash buckets. The rewritten table is
    * staged in a temp dir and swapped in with two renames (at no point
    * is the only copy deleted), so a crash at any point leaves either
    * the old table or the complete new one — never a half-layout the
    * upsert path would refuse or misread. */
  def migrateLayout(spark: SparkSession, path: String): Unit = {
    val cur = new Path(path)
    val fs = cur.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val tmp = new Path(path + "._tmp")
    val old = new Path(path + "._old")
    if (!fs.exists(cur) && fs.exists(old)) fs.rename(old, cur) // crash recovery
    require(fs.exists(cur), s"no table at $path to migrate")
    require(dataEntries(fs, cur).exists(!_.startsWith(ShiftColumn + "=")),
      s"table at $path is already in the $ShiftColumn= layout")
    if (fs.exists(tmp)) fs.delete(tmp, true)
    spark.read.parquet(path).drop(LegacyBucketColumn, ShiftColumn)
      .withColumn(ShiftColumn, shiftOf)
      .write.mode(SaveMode.Append).partitionBy(ShiftColumn).parquet(tmp.toString)
    if (fs.exists(old)) fs.delete(old, true)
    require(fs.rename(cur, old), s"could not displace $cur")
    require(fs.rename(tmp, cur), s"could not install migrated table at $cur")
    fs.delete(old, true)
  }

  /** K1/K2 against a real database: newest-per-key reduction in Spark,
    * then executor-side batched upserts over JDBC — the direct analog
    * of the reference's per-row ODBC UPDATE/INSERT (Prensas.py:166-169,
    * 315-341), minus the driver-side loop: each partition opens one
    * connection and upserts its own keys (disjoint after the reduction,
    * so no cross-partition write conflicts), committing once per
    * partition. The UPDATE-then-INSERT-if-absent pair is used instead
    * of MERGE because it is portable across SQL Server, DB2/AS400, and
    * embedded engines. The table must exist with matching column names.
    * This is the low-volume record-upsert path; bulk keyed merges stay
    * on [[upsertParquetPartitioned]].
    *
    * Statements go to the database in `jdbcBatchSize`-row batches
    * (`addBatch`/`executeBatch`): one round trip per batch, with the
    * 0-update-count misses collected into an INSERT batch — not one
    * round trip per row. Drivers that report `SUCCESS_NO_INFO` instead
    * of real counts can't distinguish a miss from a hit; those rows are
    * re-probed one-by-one (rare, and still transactionally correct). */
  def upsertJdbc(batch: DataFrame, url: String, table: String,
      keys: Seq[String], version: Seq[String],
      connProps: Map[String, String] = Map.empty,
      jdbcBatchSize: Int = 500): Unit = {
    val w = Window.partitionBy(keys.map(col): _*).orderBy(version.map(c => col(c).desc): _*)
    val newest = batch.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1).drop("__rn")
    val cols = newest.columns.toSeq
    val dataCols = cols.filterNot(keys.contains)
    val updateSql = s"UPDATE $table SET " + dataCols.map(c => s"$c = ?").mkString(", ") +
      " WHERE " + keys.map(k => s"$k = ?").mkString(" AND ")
    val insertSql = s"INSERT INTO $table (" + cols.mkString(", ") + ") VALUES (" +
      cols.map(_ => "?").mkString(", ") + ")"
    newest.foreachPartition { (rows: Iterator[org.apache.spark.sql.Row]) =>
      if (rows.nonEmpty) {
        val props = new java.util.Properties()
        connProps.foreach { case (k, v) => props.setProperty(k, v) }
        val conn = java.sql.DriverManager.getConnection(url, props)
        try {
          conn.setAutoCommit(false)
          try {
            val upd = conn.prepareStatement(updateSql)
            val ins = conn.prepareStatement(insertSql)
            val byName = cols.zipWithIndex.toMap
            def bindUpdate(r: org.apache.spark.sql.Row): Unit = {
              dataCols.zipWithIndex.foreach { case (c, i) => upd.setObject(i + 1, r.get(byName(c))) }
              keys.zipWithIndex.foreach { case (k, i) =>
                upd.setObject(dataCols.length + i + 1, r.get(byName(k))) }
            }
            def bindInsert(r: org.apache.spark.sql.Row): Unit =
              cols.zipWithIndex.foreach { case (c, i) => ins.setObject(i + 1, r.get(byName(c))) }
            // most drivers raise BatchUpdateException themselves; one that
            // instead reports per-row EXECUTE_FAILED without throwing must
            // not have those rows silently dropped from the upsert
            def requireNoFailures(counts: Array[Int], stmt: String): Unit = {
              val failed = counts.count(_ == java.sql.Statement.EXECUTE_FAILED)
              if (failed > 0) throw new java.sql.SQLException(
                s"$failed of ${counts.length} rows in a batched $stmt reported EXECUTE_FAILED")
            }
            rows.grouped(jdbcBatchSize).foreach { chunk =>
              chunk.foreach { r => bindUpdate(r); upd.addBatch() }
              val counts = upd.executeBatch()
              requireNoFailures(counts, "UPDATE")
              // misses (no existing row) become one INSERT batch; a driver
              // returning SUCCESS_NO_INFO hides the count, so re-probe
              // those rows individually rather than guessing either way
              val ins0 = chunk.zip(counts).collect {
                case (r, 0) => r
                case (r, java.sql.Statement.SUCCESS_NO_INFO) =>
                  bindUpdate(r)
                  if (upd.executeUpdate() == 0) r else null
              }.filter(_ != null)
              if (ins0.nonEmpty) {
                ins0.foreach { r => bindInsert(r); ins.addBatch() }
                requireNoFailures(ins.executeBatch(), "INSERT")
              }
            }
            conn.commit()
          } catch {
            // roll back explicitly: driver behavior on close() with an
            // open uncommitted transaction is implementation-defined, and
            // a driver that commits-on-close would persist half a batch
            case t: Throwable =>
              try conn.rollback() catch { case s: java.sql.SQLException => t.addSuppressed(s) }
              throw t
          }
        } finally conn.close()
      }
    }
  }

  /** K4: dedup-append CSV — append only rows whose logical key
    * (estacion, numero_parte, fecha) is absent (Prensas.py:227-279).
    *
    * With `epochId >= 0` (wired by [[applyActions]]) the sink keeps a
    * content-keyed parquet index in a dot-dir beside the CSV and lays
    * the CSV out in `epoch=N` partitions. The per-batch probe reads the
    * INDEX, never the accumulated CSV. A batch of at most
    * `isinKeyLimit` keys (every live epoch) is probed from the driver:
    * one collect of its distinct keys, at most `isinKeyLimit + 1` on
    * the driver at a time, and a driver-side read of the index files
    * with the keys pushed into it as IN (no job). An epoch with no new
    * key writes nothing, so a fleet that re-reports the same unknown
    * parts every tick adds no CSV or index partition; otherwise the
    * rows of the new keys are written, and only that write reads the
    * batch again.
    * Larger batches probe by broadcast or sort-merge join
    * (IngestDedup's regimes).
    *
    * Epoch OVERWRITE of both the CSV partition and the index partition
    * makes replays exactly-once: the survivors of epoch N depend only
    * on index epochs < N, which a fold keeps visible, so a replay
    * writes (or skips) exactly what the first attempt did. The index
    * folds on a cadence under the crash-safe [[EpochFold]] protocol. A
    * pre-epoch flat CSV is adopted into `epoch=-1` on first contact and
    * its keys bootstrapped into the index (one-time full read). CSV
    * consumers see the same rows — partition discovery adds only the
    * `epoch` column.
    *
    * `epochId = -1` keeps the original whole-CSV anti-join for callers
    * without a batch id (at-least-once, self-healing, flat layout). */
  def appendCsvDedup(batch: DataFrame, path: String, epochId: Long = -1L,
      compactEvery: Int = NfCompactEvery): Unit = {
    val spark = batch.sparkSession
    val fresh = batch.dropDuplicates(NfKeys)
    if (epochId < 0) {
      val fs = new Path(path).getFileSystem(spark.sparkContext.hadoopConfiguration)
      val toWrite =
        if (fs.exists(new Path(path))) {
          val existing = spark.read.schema(batch.schema).option("header", "true").csv(path)
          fresh.join(existing.select(NfKeys.map(col): _*), NfKeys, "left_anti")
            .select(batch.columns.map(col): _*) // join moves key cols first; keep file layout stable
        } else fresh
      toWrite.write.mode(SaveMode.Append).option("header", "true").csv(path)
      return
    }
    prepareNfIndex(spark, spark.sparkContext.hadoopConfiguration, path, batch.schema, epochId,
      compactEvery)
    val keyed = batch.withColumn("nf_key", nfKey)
    val limit = IngestDedup.isinKeyLimit(spark)
    val keys = StoreEpoch.distinctUpTo(keyed.select("nf_key"), capOf(limit))
      .map(_.asInstanceOf[String])
    if (keys.size <= limit)
      appendNovel(keyed, keys, path, epochId, batch.columns.toSeq, spark.sessionState.newHadoopConf())
    else {
      val survivors = csvDedupSurvivors(fresh, path, epochId)
        .localCheckpoint() // feeds the CSV write and the index write
      writeNf(survivors, survivors.select(col("nf_key")).sortWithinPartitions("nf_key"),
        batch.columns.toSeq, path, epochId)
    }
  }

  /** [[appendCsvDedup]] of a driver-held batch with an epoch id: the
    * keys are computed on the driver and take the driver probe, so an
    * epoch with no new key runs no job. */
  private def appendCsvDedupOnDriver(batch: DataFrame, path: String, epochId: Long,
      conf: Configuration): Unit = {
    val keyed = batch.withColumn("nf_key", nfKey)
    val keys = localRows(keyed.select("nf_key")).map(_.getUTF8String(0).toString).toSet
    if (keys.isEmpty) return
    prepareNfIndex(batch.sparkSession, conf, path, batch.schema, epochId, NfCompactEvery)
    appendNovel(keyed, keys, path, epochId, batch.columns.toSeq, conf)
  }

  /** Before an epoch's probe: adopt a flat-layout CSV and bootstrap its
    * keys into the index (once), and fold the index on its cadence. The
    * listings use the FileSystem of `conf`. */
  private def prepareNfIndex(spark: SparkSession, conf: Configuration, path: String,
      schema: StructType, epochId: Long, compactEvery: Int): Unit = {
    val idxPath = nfIdxPath(path)
    EpochFold.migrateLegacyFlat(conf, path)
    // the absent epoch=-1 first: in the steady state one existence
    // check, not a walk of the whole index
    if (EpochFold.hasDataFiles(conf, s"$path/epoch=-1") &&
        !EpochFold.hasDataFiles(conf, idxPath)) {
      spark.read.schema(schema).option("header", "true").csv(s"$path/epoch=-1")
        .select(nfKey.as("nf_key"))
        .sortWithinPartitions("nf_key")
        .write.mode(SaveMode.Overwrite).parquet(s"$idxPath/epoch=-1")
    }
    if (compactEvery > 0 && epochId > 0 && epochId % compactEvery == 0)
      EpochFold.fold(spark, idxPath, epochId, 128L * 1024 * 1024, Seq("nf_key"))
  }

  /** Writes the rows of `keyed` whose key (among its distinct `keys`)
    * the index does not hold yet; an epoch with no new key writes
    * nothing. */
  private def appendNovel(keyed: DataFrame, keys: collection.Set[String], path: String,
      epochId: Long, columns: Seq[String], conf: Configuration): Unit = {
    val novel = keys.filterNot(nfIndexHits(keyed.sparkSession, conf, path, epochId, keys))
      .toSeq.sorted
    if (novel.isEmpty) return
    // one partition: the per-key dedup needs no shuffle
    writeNf(keyed.filter(col("nf_key").isin(novel: _*)).coalesce(1).dropDuplicates("nf_key"),
      keyed.sparkSession.createDataFrame(novel.map(Tuple1(_))).toDF("nf_key").coalesce(1),
      columns, path, epochId)
  }

  private def writeNf(rows: DataFrame, newKeys: DataFrame, columns: Seq[String], path: String,
      epochId: Long): Unit = {
    rows.select(columns.map(col): _*)
      .write.mode(SaveMode.Overwrite).option("header", "true")
      .csv(s"$path/epoch=$epochId")
    newKeys.write.mode(SaveMode.Overwrite).parquet(s"${nfIdxPath(path)}/epoch=$epochId")
  }

  private val NfKeys = Seq("estacion", "numero_parte", "fecha")
  private val NfCompactEvery = 64
  private def nfIdxPath(path: String) = s"$path/._nf_idx"
  // "\\u0001" separator (explicit escape, not a raw control byte):
  // ("ab","c") and ("a","bc") must not share a key. concat_ws SKIPS
  // null columns entirely, which would make (null,"x") collide with
  // ("x",null) and with ("","x") — so each column is coalesced to a
  // "\\u0000" sentinel first, keeping null distinct from empty and
  // position-stable.
  private[graft] def nfKey =
    md5(concat_ws("\u0001",
      NfKeys.map(k => coalesce(col(k).cast("string"), lit("\u0000"))): _*)
      .cast("binary"))

  /** The index files epoch N may see: the data files of its `epoch=K`
    * directories with `K < N`, listed through the FileSystem of `conf`
    * (no Spark file index). */
  private def nfIndexFiles(conf: Configuration, path: String, epochId: Long): Seq[FileStatus] = {
    val root = new Path(nfIdxPath(path))
    val fs = root.getFileSystem(conf)
    if (!fs.exists(root)) Nil
    else fs.listStatus(root).toSeq
      .filter(st => st.isDirectory && st.getPath.getName.startsWith("epoch=") &&
        st.getPath.getName.stripPrefix("epoch=").toLongOption.exists(_ < epochId))
      .flatMap(st => dataFiles(fs, st.getPath))
  }

  /** The index probe for `keys` (None when there is nothing to probe):
    * the [[nfIndexFiles]] of epoch N and the filter [[nfIndexHits]]
    * pushes into their read. */
  private[graft] def nfIndexProbe(conf: Configuration, path: String, epochId: Long,
      keys: collection.Set[String]): Option[(Seq[FileStatus], Filter)] = {
    val files = if (keys.isEmpty) Nil else nfIndexFiles(conf, path, epochId)
    if (files.isEmpty) None else Some(files -> In("nf_key", keys.toArray[Any]))
  }

  private val NfIndexSchema = new StructType().add("nf_key", "string")

  /** The index hits among `keys`: the driver reads the files of
    * [[nfIndexProbe]] with Spark's parquet reader, the keys pushed in;
    * no job. */
  private def nfIndexHits(spark: SparkSession, conf: Configuration, path: String,
      epochId: Long, keys: collection.Set[String]): collection.Set[String] =
    nfIndexProbe(conf, path, epochId, keys).fold(Set.empty[String]) { case (files, pushed) =>
      readParquet(spark, conf, files, NfIndexSchema, NfIndexSchema, Seq(pushed))
        .map(_.getUTF8String(0).toString).filter(keys).toSet
    }

  /** The batch rows whose logical key is absent from the index, for
    * batches of more than `isinKeyLimit` keys: the index probe is a
    * broadcast or sort-merge join (the regimes and `epoch < N`
    * visibility of [[IngestDedup.verdicts]]) against the
    * [[nfIndexFiles]], read as explicit paths with the index's schema
    * (no schema inference, no scan of the index's root). */
  private def csvDedupSurvivors(fresh: DataFrame, path: String, epochId: Long): DataFrame = {
    val spark = fresh.sparkSession
    val keyed = fresh.withColumn("nf_key", nfKey)
      .localCheckpoint() // one micro-batch; probed + anti-joined below
    val files = nfIndexFiles(spark.sparkContext.hadoopConfiguration, path, epochId)
    if (files.isEmpty) keyed
    else {
      val idx = spark.read.schema(NfIndexSchema).parquet(files.map(_.getPath.toString): _*)
      // same conf-overridable switch point as the doc-ingest probes
      // (spark.graft.ingest.*), so one set of knobs tunes — and one
      // spec style can force — every probe regime in the library
      if (keyed.count() > IngestDedup.broadcastKeyLimit(spark))
        keyed.join(idx.select("nf_key"), Seq("nf_key"), "left_anti")
      else {
        val hits = idx.join(broadcast(keyed.select("nf_key").distinct()), Seq("nf_key"))
          .select("nf_key")
        keyed.join(broadcast(hits), Seq("nf_key"), "left_anti")
      }
    }
  }

  /** Apply one micro-batch of [[ActionRow]]s: records upsert (create →
    * update → close precedence at equal ts), histories append,
    * parts-not-found CSV dedup (the E3 foreachBatch sink).
    *
    * `production_records` is laid out by shift ([[ShiftColumn]]). At
    * the reference's 1 Hz cadence every live key updates every tick,
    * so a layout hashed on the key (one bucket per key, up to the
    * bucket count) would rewrite nearly the whole table each epoch
    * once the fleet has as many live keys as buckets. Every live key
    * belongs to the current shift, so the shift layout rewrites one
    * partition per epoch: the live shift's records, independent of the
    * table's age (two at a shift rollover). A table in the flat or
    * `__bucket=` layout is refused with a pointer to [[migrateLayout]];
    * run `migrateLayout(spark, path)` once. Read the table with
    * [[readUpsertedBucketed]].
    *
    * One job gates the epoch ([[StoreEpoch.gate]], which also builds the cache):
    * it returns the set of actions present and, when the batch holds at
    * most [[DriverRouteRows]] rows and no task more than its share of
    * them, the rows. Such a batch with an epoch id (every live 1 Hz
    * epoch) is then applied on the driver, with no further job: each
    * touched shift partition is read with Spark's parquet reader,
    * merged newest-per-key and written back as one epoch file, which is
    * installed before the files it supersedes are removed (in between,
    * a reader may see a key twice; a crash there is repaired by the next
    * merge of the partition); histories become one file replacing
    * `epoch=N`; the not-found keys take [[appendCsvDedup]]'s driver
    * probe. The driver holds the batch and, one at a time, every row of
    * each shift partition it touches: the live shift at 1 Hz, but a
    * whole old shift for an epoch that replays into one (after
    * downtime), however few of its rows the batch updates.
    * Other batches, and `epochId = -1`, take the distributed path (Spark
    * writes throughout). Both routes leave the same rows, and either
    * one converges from whatever the other left, so a replay may take
    * either.
    *
    * Delivery guarantee: the records upsert and the CSV dedup-append
    * are idempotent by construction (newest-per-key merge; logical-PK
    * anti join), but a plain histories APPEND would double rows when
    * foreachBatch replays a failed epoch. With `epochId >= 0` (wired
    * automatically by [[startPipeline]]) histories are OVERWRITE-
    * committed into their own `epoch=N` partition — the IngestDedup
    * idempotence move — making the whole sink exactly-once. A legacy
    * flat `histories` table is adopted into `epoch=-1` on first
    * contact. `epochId = -1` keeps the at-least-once append for
    * callers without a batch id. */
  def applyActions(actions: Dataset[ActionRow], outDir: String,
      epochId: Long = -1L): Unit =
    applyActionsWith(actions, outDir, epochId, DriverRouteRows)

  /** The most action rows an [[applyActions]] epoch applies on the
    * driver; larger epochs take the distributed route. Measured on a
    * 4-core host (Spark `local[4]`) with plc-shaped epochs — half
    * updates, half histories, one shift partition holding a row per
    * updated key — the driver route applied 100 to 4,000 rows in
    * about 0.2 s against 0.65–0.84 s distributed, 8,000 in 0.38 against
    * 1.01 s, 16,000 in 0.55 against 1.05 s, and broke even near 48,000
    * rows. The bound sits well below that break-even (more executors
    * speed up only the distributed route) and bounds the batch the
    * driver holds. The ingest membranes' epoch commits
    * ([[StoreEpoch.commit]]) take the driver route under the same
    * bound, counted over all the rows an epoch writes. */
  val DriverRouteRows = 8192L

  /** [[applyActions]] with the driver route's row bound as a parameter
    * (specs force either route with it). */
  private[graft] def applyActionsWith(actions: Dataset[ActionRow], outDir: String,
      epochId: Long, driverRows: Long): Unit = {
    val df = actions.toDF().cache()
    try {
      val spark = df.sparkSession
      // ONE job gates all three sink branches (this also materializes
      // the cache for the distributed writes)
      val (rows, counts) = gate(df, if (epochId >= 0) driverRows else -1L, Some("action"))
      val present = counts.keySet
      rows match {
        case Some(rows) =>
          val toRow = ExpressionEncoder(df.schema).resolveAndBind().createDeserializer()
          val local = spark.createDataFrame(rows.map(toRow).asJava, df.schema)
          // one copy of the session's Hadoop conf for every driver read,
          // write and listing, its file: paths on the fork-free FileSystem
          val conf = NioLocal.withFileSystem(spark.sessionState.newHadoopConf())
          upsertOnDriver(recordRows(local), s"$outDir/production_records",
            Seq("record_id"), Seq("ts", "rank"), epochId, conf)
          overwriteEpochOnDriver(historyRows(local), s"$outDir/histories", epochId, conf)
          appendCsvDedupOnDriver(notFoundRows(local), s"$outDir/parts_not_found", epochId, conf)
        case None =>
          if (Seq(ActionRow.Create, ActionRow.Update, ActionRow.Close).exists(present))
            upsertParquetPartitioned(recordRows(df), s"$outDir/production_records",
              Seq("record_id"), Seq("ts", "rank"))
          if (present(ActionRow.History)) {
            if (epochId >= 0) {
              EpochFold.migrateLegacyFlat(spark, s"$outDir/histories")
              historyRows(df).write.mode(SaveMode.Overwrite)
                .parquet(s"$outDir/histories/epoch=$epochId")
            } else
              historyRows(df).write.mode(SaveMode.Append).parquet(s"$outDir/histories")
          }
          if (present(ActionRow.NotFound))
            appendCsvDedup(notFoundRows(df), s"$outDir/parts_not_found", epochId)
      }
    } finally df.unpersist()
  }

  private def recordRows(actions: DataFrame): DataFrame = actions
    .filter(col("action").isin(ActionRow.Create, ActionRow.Update, ActionRow.Close))
    .withColumn("rank",
      when(col("action") === ActionRow.Close, 3)
        .when(col("action") === ActionRow.Update, 2).otherwise(1))
    .select(col("recordId").as("record_id"), col("station"), col("parte"),
      col("planDate").as("plan_date"), col("shiftId").as("shift_id"),
      col("produced"), col("plannedQty").as("planned"),
      col("statusId").as("status_id"), col("ts"), col("rank"))

  private def historyRows(actions: DataFrame): DataFrame = actions
    .filter(col("action") === ActionRow.History)
    .select(col("recordId").as("record_id"), col("station"), col("parte"),
      col("quantity"), col("perCycle").as("per_cycle"), col("ts"))

  private def notFoundRows(actions: DataFrame): DataFrame = actions
    .filter(col("action") === ActionRow.NotFound)
    .select(col("station").as("estacion"), col("parte").as("numero_parte"),
      col("original").as("numero_parte_original"), col("fecha"),
      date_format(col("ts"), "yyyy-MM-dd HH:mm:ss").as("timestamp"))

  /** Start the full streaming pipeline: observations → state machine →
    * foreachBatch(applyActions). Default trigger paces micro-batches at
    * the reference's 1 Hz cadence (ST1, Prensas.py:603-604) instead of
    * back-to-back empty batches; pass `Trigger.AvailableNow()` for
    * drain-and-stop (tests, backfills — state persists in the
    * checkpoint across restarts).
    *
    * At scale, set `spark.sql.streaming.stateStore.providerClass` to
    * `...state.RocksDBStateStoreProvider` (+
    * `spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing
    * .enabled=true`): keyed state goes off-heap/on-disk per executor
    * and checkpoints ship changelogs instead of full snapshots.
    * Semantics are provider-independent (RocksDBStateSpec).
    *
    * HOST DECISION: the state machine runs on `flatMapGroupsWithState`,
    * which works on every state store provider. A `transformWithState`
    * host of the same transition ran 10–15% faster at the 1M/5M-obs
    * rungs on RocksDB (BASELINE.md r11), but that API needs the RocksDB
    * provider, a session-level config this method can neither assume
    * nor set per query. Deployments that want the dimension lookups as
    * stream-static joins, or the event-time silence clock, wire
    * [[StateMachine.withDimTables]] into a foreachBatch identical to
    * this one.
    *
    * The session gets the fork-free `file:` FileContext
    * ([[graft.io.NioLocal.ensureInstalled]]) before the stream starts,
    * so a local checkpoint's offsets, commits and state-store files are
    * written without forking `chmod` or `readlink`, and each small
    * epoch's driver route lists, reads and writes its `file:` tables
    * through [[graft.io.NioLocalFileSystem]]. Only those forking calls
    * change: checksums, `.crc` files and atomic renames are Hadoop's
    * and Spark's own, and other schemes are untouched. */
  def startPipeline(obs: Dataset[PartObservation], machine: StateMachine,
      outDir: String, checkpoint: String,
      trigger: org.apache.spark.sql.streaming.Trigger =
        org.apache.spark.sql.streaming.Trigger.ProcessingTime("1 second"))
      : org.apache.spark.sql.streaming.StreamingQuery = {
    NioLocal.ensureInstalled(obs.sparkSession)
    machine(obs).writeStream
      .outputMode("append")
      .option("checkpointLocation", checkpoint)
      .trigger(trigger)
      .foreachBatch { (batch: Dataset[ActionRow], id: Long) =>
        applyActions(batch, outDir, epochId = id)
      }
      .start()
  }
}
