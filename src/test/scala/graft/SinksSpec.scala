package graft

import java.nio.file.Files

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.functions._

import graft.stream.{Sinks, StateMachine, StoreEpoch}

/** Upsert + dedup-append sink behavior (K1-K5, K4). */
class SinksSpec extends SparkSpec
    with org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper {
  import spark.implicits._

  /** The retired layouts of a keyed upsert table, written by hand:
    * flat parquet files, and `__bucket=NN/` hash buckets of the key
    * with their `_graft_buckets` marker. */
  private val legacyLayouts: Seq[(String, (org.apache.spark.sql.DataFrame, String) => Unit)] = Seq(
    "flat" -> ((df, path) => df.write.parquet(path)),
    "__bucket=" -> { (df, path) =>
      df.withColumn("__bucket", pmod(hash(col("record_id")), lit(8)))
        .write.partitionBy("__bucket").parquet(path)
      Files.write(new java.io.File(s"$path/_graft_buckets").toPath, "8".getBytes("UTF-8"))
    })

  /** Every file of each `__shift=` partition under `dir`, by name, with
    * its bytes. */
  private def shiftFiles(dir: String): Map[String, Map[String, Seq[Byte]]] =
    new java.io.File(dir).listFiles().filter(_.getName.startsWith("__shift=")).map { d =>
      d.getName -> d.listFiles().map(f => f.getName -> Files.readAllBytes(f.toPath).toSeq).toMap
    }.toMap

  test("upsertParquetPartitioned: newest wins; untouched __shift= partitions' files are byte-identical") {
    val dir = Files.createTempDirectory("graft_upsertp").toString + "/t"
    def rid(i: Any, day: Int) = s"P$i|A|2024-03-0$day|1"
    // seed: 200 keys over 8 shift partitions
    val seed = (0 until 200).map(i => (rid(i, i % 8 + 1), 1L, i.toLong))
    Sinks.upsertParquetPartitioned(seed.toDF("record_id", "v", "x"), dir, Seq("record_id"), Seq("v"))
    val before = shiftFiles(dir)
    assert(before.size == 8, s"expected all 8 shift partitions populated: ${before.keySet}")

    // upsert 3 keys (one with an older version) + 1 new key
    Sinks.upsertParquetPartitioned(
      Seq((rid(5, 6), 2L, 999L), (rid(6, 7), 2L, 998L), (rid(7, 8), 0L, 0L), (rid("NEW", 6), 1L, 777L))
        .toDF("record_id", "v", "x"), dir, Seq("record_id"), Seq("v"))

    val got = Sinks.readUpsertedBucketed(spark, dir)
      .select("record_id", "x").as[(String, Long)].collect().toMap
    assert(got.size == 201)
    assert(got(rid(5, 6)) == 999L && got(rid(6, 7)) == 998L)
    assert(got(rid(7, 8)) == 7L, "older version must not regress the row")
    assert(got(rid("NEW", 6)) == 777L && got(rid(0, 1)) == 0L)

    // only the partitions of the 4 batch keys were rewritten
    val touched = Set(6, 7, 8).map(d => s"__shift=2024-03-0$d|1")
    val after = shiftFiles(dir)
    assert(after.keySet == before.keySet)
    before.foreach { case (shift, files) =>
      if (!touched(shift)) assert(after(shift) == files, s"untouched $shift was rewritten")
      else assert(after(shift) != files, s"touched $shift unchanged")
    }
  }

  test("upsertParquetPartitioned: first write to a fresh table succeeds") {
    // the table directory does not exist yet: the layout check must let
    // it through and the merge must not try to read what is not there
    val dir = Files.createTempDirectory("graft_upsert_fresh").toString + "/t"
    Sinks.upsertParquetPartitioned(
      Seq(("P1|A|2024-03-05|1", 1L, 1L)).toDF("record_id", "v", "x"), dir, Seq("record_id"), Seq("v"))
    assert(Sinks.readUpsertedBucketed(spark, dir).count() == 1)
    assert(shiftFiles(dir).keySet == Set("__shift=2024-03-05|1"))
  }

  test("upsertParquetPartitioned: refuses a flat or __bucket= table; migrateLayout adopts it") {
    val (ra, rb, rc) = ("P1|A|2024-03-05|1", "P2|A|2024-03-05|2", "P3|A|2024-03-06|1")
    for ((layout, writeOld) <- legacyLayouts) {
      val dir = Files.createTempDirectory("graft_upsert_mig").toString + "/t"
      writeOld(Seq((ra, 1L, 10L), (rb, 1L, 20L)).toDF("record_id", "v", "x"), dir)
      val e = intercept[IllegalArgumentException] {
        Sinks.upsertParquetPartitioned(
          Seq((rc, 1L, 30L)).toDF("record_id", "v", "x"), dir, Seq("record_id"), Seq("v"))
      }
      assert(e.getMessage.contains("migrateLayout"), s"$layout: ${e.getMessage}")
      assert(spark.read.parquet(dir).count() == 2, s"$layout: a refused call must leave the table")

      Sinks.migrateLayout(spark, dir)
      assert(dirNames(dir, "__") == Set("__shift=2024-03-05|1", "__shift=2024-03-05|2"), layout)
      Sinks.upsertParquetPartitioned(
        Seq((ra, 2L, 99L), (rc, 1L, 30L)).toDF("record_id", "v", "x"), dir, Seq("record_id"), Seq("v"))
      val got = Sinks.readUpsertedBucketed(spark, dir)
      assert(got.columns.toSeq == Seq("record_id", "v", "x"), layout)
      assert(got.select("record_id", "x").as[(String, Long)].collect().toMap ==
        Map(ra -> 99L, rb -> 20L, rc -> 30L), layout)
    }
  }

  test("upsertParquetPartitioned refuses a batch whose columns differ from the table's") {
    val dir = Files.createTempDirectory("graft_upsert_schema").toString + "/t"
    val (ra, rb) = ("P1|A|2024-03-05|1", "P2|A|2024-03-05|1")
    Sinks.upsertParquetPartitioned(
      Seq((ra, 1L, 10L), (rb, 1L, 20L)).toDF("record_id", "v", "x"), dir, Seq("record_id"), Seq("v"))
    Seq(Seq((ra, 2L)).toDF("record_id", "v"),                   // lacks x: x would vanish from rb
        Seq((ra, 2L, "10")).toDF("record_id", "v", "x"),         // x retyped
        Seq((ra, 2L, 10L, 1)).toDF("record_id", "v", "x", "y")   // adds y
    ).foreach { batch =>
      val e = intercept[IllegalArgumentException] {
        Sinks.upsertParquetPartitioned(batch, dir, Seq("record_id"), Seq("v"))
      }
      assert(e.getMessage.contains("full schema"), e.getMessage)
    }
    assert(Sinks.readUpsertedBucketed(spark, dir).select("record_id", "v", "x")
      .as[(String, Long, Long)].collect().sorted.toSeq == Seq((ra, 1L, 10L), (rb, 1L, 20L)),
      "a refused batch must leave the table as it was")
    Sinks.upsertParquetPartitioned(
      Seq((ra, 2L, 11L)).toDF("record_id", "v", "x"), dir, Seq("record_id"), Seq("v"))
    assert(Sinks.readUpsertedBucketed(spark, dir).select("record_id", "x").as[(String, Long)]
      .collect().sorted.toSeq == Seq(ra -> 11L, rb -> 20L))
  }

  test("applyActions with epoch id: histories replay is exactly-once") {
    import graft.model.ActionRow
    val outDir = Files.createTempDirectory("graft_hist").toString
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    val b0 = Seq(
      ActionRow.appendHistory("P1", "AAA", "r1", 10L, 1.5, ts("2024-03-05 09:00:00")))
    val b1 = Seq(
      ActionRow.appendHistory("P1", "AAA", "r1", 14L, 1.6, ts("2024-03-05 09:00:05")))
    Sinks.applyActions(b0.toDS(), outDir, epochId = 0)
    Sinks.applyActions(b1.toDS(), outDir, epochId = 1)
    // crash-replay of epoch 1 (restart before checkpoint commit):
    // epoch-dir overwrite replaces, never appends beside
    Sinks.applyActions(b1.toDS(), outDir, epochId = 1)
    val hist = spark.read.parquet(s"$outDir/histories")
    assert(hist.count() == 2, "replayed epoch must not duplicate history rows")
    assert(hist.agg(sum("quantity")).as[Long].collect().head == 24L)
  }

  test("applyActions adopts a legacy flat histories table before epoch writes") {
    import graft.model.ActionRow
    val outDir = Files.createTempDirectory("graft_hist_l").toString
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    // round-4-era layout: plain appends, no epoch dirs
    Sinks.applyActions(Seq(
      ActionRow.appendHistory("P1", "AAA", "r1", 5L, 1.5, ts("2024-03-05 08:00:00"))
    ).toDS(), outDir) // epochId defaulted: legacy append
    // new layout takes over mid-table; both generations stay readable
    Sinks.applyActions(Seq(
      ActionRow.appendHistory("P1", "AAA", "r1", 7L, 1.5, ts("2024-03-05 09:00:00"))
    ).toDS(), outDir, epochId = 0)
    val hist = spark.read.parquet(s"$outDir/histories")
    assert(hist.count() == 2)
    assert(hist.agg(sum("quantity")).as[Long].collect().head == 12L)
    assert(hist.select("epoch").as[Long].collect().sorted.toSeq == Seq(-1L, 0L))
  }

  test("appendCsvDedup epoch layout: dedup across batches; replay is exactly-once") {
    val dir = Files.createTempDirectory("graft_csv_e").toString + "/nf"
    val r1 = Seq(("P1", "X", "X/Y", "2024-03-05", "2024-03-05 09:00:00"))
      .toDF("estacion", "numero_parte", "numero_parte_original", "fecha", "timestamp")
    val r2 = Seq(
      ("P1", "X", "X/Y", "2024-03-06", "2024-03-06 09:00:00"), // new fecha: kept
      ("P1", "X", "OTHER", "2024-03-05", "2024-03-05 10:00:00")) // dup PK: dropped
      .toDF("estacion", "numero_parte", "numero_parte_original", "fecha", "timestamp")
    Sinks.appendCsvDedup(r1, dir, epochId = 0)
    Sinks.appendCsvDedup(r2, dir, epochId = 1)
    def rows = spark.read.option("header", "true").csv(dir)
    assert(rows.count() == 2)
    assert(rows.select("fecha").as[String].collect().toSet ==
      Set("2024-03-05", "2024-03-06"))
    // crash-replay of epoch 1: OVERWRITE of its CSV + index partitions
    // converges instead of appending a third copy
    Sinks.appendCsvDedup(r2, dir, epochId = 1)
    assert(rows.count() == 2, "epoch replay must not duplicate CSV rows")
  }

  test("appendCsvDedup probe reads the key index, never the accumulated CSV") {
    import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution}
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    import org.apache.spark.sql.util.QueryExecutionListener
    val dir = Files.createTempDirectory("graft_csv_p").toString + "/nf"
    (0 to 2).foreach { e =>
      Sinks.appendCsvDedup(
        Seq((s"P$e", "X", "X/Y", s"2024-03-0${e + 1}", "t"))
          .toDF("estacion", "numero_parte", "numero_parte_original", "fecha", "timestamp"),
        dir, epochId = e)
    }
    val plans = new java.util.concurrent.ConcurrentLinkedQueue[QueryExecution]()
    val listener = new QueryExecutionListener {
      override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit = plans.add(qe)
      override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    drainListenerBus() // earlier writes' events must not reach the listener
    spark.listenerManager.register(listener)
    import scala.jdk.CollectionConverters._
    def writes = plans.asScala.filter(_.executedPlan.toString.contains("InsertIntoHadoopFsRelation"))
    val batch = Seq(("P0", "X", "X/Y", "2024-03-01", "t"), ("P9", "Y", "Y/Z", "2024-03-09", "t"))
      .toDF("estacion", "numero_parte", "numero_parte_original", "fecha", "timestamp")
    try {
      Sinks.appendCsvDedup(batch, dir, epochId = 3)
      val deadline = System.nanoTime() + 30e9.toLong // listener events arrive asynchronously
      while (writes.size < 2 && System.nanoTime() < deadline) Thread.sleep(10)
    } finally spark.listenerManager.unregister(listener)
    assert(spark.read.option("header", "true").csv(s"$dir/epoch=3").select("estacion")
      .as[String].collect().toSeq == Seq("P9"), "known key P0 rejected by the index; novel P9 survives")
    assert(writes.size == 2, "one CSV write and one index write")
    // the probe runs on the driver, outside any query execution: check
    // the files it lists and the filter it pushes into their read for
    // the same batch
    val keys = batch.select(Sinks.nfKey).as[String].collect().toSet
    val (probeFiles, pushed) = Sinks.nfIndexProbe(spark.sparkContext.hadoopConfiguration, dir, 3, keys).get
    val scans = plans.asScala.toSeq.flatMap(qe =>
      collectWithSubqueries(qe.executedPlan) { case sc: FileSourceScanExec => sc })
    val idxScans = scans.filter(_.relation.location.rootPaths
      .exists(_.toString.contains("_nf_idx")))
    assert(probeFiles.nonEmpty, "the probe must read the key index")
    assert(pushed match {
        case org.apache.spark.sql.sources.In("nf_key", vs) => vs.toSet == keys
        case _ => false
      }, s"batch keys must push into the index read: $pushed")
    assert(scans.size == idxScans.size,
      "per-batch read IO must not include the accumulated CSV itself")
    assert(probeFiles.forall(_.getPath.toString.contains("/._nf_idx/")),
      s"the driver read must open index files only: ${probeFiles.map(_.getPath)}")
    assert(probeFiles.map(_.getPath.getParent.getName).toSet == Set("epoch=0", "epoch=1", "epoch=2"),
      "epoch 3 probes the index epochs before it")
    assert(writes.forall(qe => collectWithSubqueries(qe.executedPlan) {
      case x: ShuffleExchangeExec => x }.isEmpty), "the survivor writes must not shuffle")
  }

  test("appendCsvDedup adopts a flat legacy CSV; its keys still dedup") {
    val dir = Files.createTempDirectory("graft_csv_l").toString + "/nf"
    val legacy = Seq(("P1", "X", "X/Y", "2024-03-05", "t"))
      .toDF("estacion", "numero_parte", "numero_parte_original", "fecha", "timestamp")
    Sinks.appendCsvDedup(legacy, dir) // epochId = -1: the flat layout
    Sinks.appendCsvDedup(
      Seq(("P1", "X", "OTHER", "2024-03-05", "t2"),  // dup of the legacy PK
          ("P2", "Z", "Z/W", "2024-03-05", "t3"))    // novel
        .toDF("estacion", "numero_parte", "numero_parte_original", "fecha", "timestamp"),
      dir, epochId = 0)
    val got = spark.read.option("header", "true").csv(dir)
    assert(got.count() == 2, "legacy key must reject its dup without a full-CSV read")
    assert(got.select("numero_parte").as[String].collect().toSet == Set("X", "Z"))
    assert(new java.io.File(s"$dir/epoch=-1").isDirectory,
      "flat files must live in an epoch=-1 partition after first contact")
  }

  test("appendCsvDedup: logical-PK dedup across appends (Prensas.py:252-258)") {
    val dir = Files.createTempDirectory("graft_csv").toString + "/nf"
    val r1 = Seq(("P1", "X", "X/Y", "2024-03-05", "2024-03-05 09:00:00"))
      .toDF("estacion", "numero_parte", "numero_parte_original", "fecha", "timestamp")
    Sinks.appendCsvDedup(r1, dir)
    Sinks.appendCsvDedup(r1, dir) // exact duplicate: dropped
    val r2 = Seq(
      ("P1", "X", "X/Y", "2024-03-06", "2024-03-06 09:00:00"), // new fecha: kept
      ("P1", "X", "OTHER", "2024-03-05", "2024-03-05 10:00:00")) // dup PK: dropped
      .toDF("estacion", "numero_parte", "numero_parte_original", "fecha", "timestamp")
    Sinks.appendCsvDedup(r2, dir)
    val got = spark.read.option("header", "true").csv(dir)
    assert(got.count() == 2)
    assert(got.select("fecha").as[String].collect().toSet ==
      Set("2024-03-05", "2024-03-06"))
  }

  private def ts(s: String) = java.sql.Timestamp.valueOf(s)

  /** Returns once every query event posted so far has reached the query
    * listeners: the bus delivers them in order, so a marker query's
    * event arrives after them all. */
  private def drainListenerBus(): Unit = {
    import org.apache.spark.sql.execution.QueryExecution
    import org.apache.spark.sql.util.QueryExecutionListener
    val marker = s"drain_${System.nanoTime()}"
    val seen = new java.util.concurrent.CountDownLatch(1)
    val listener = new QueryExecutionListener {
      override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
        if (qe.logical.toString.contains(marker)) seen.countDown()
      override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      spark.range(1).select(lit(1).as(marker)).collect()
      assert(seen.await(60, java.util.concurrent.TimeUnit.SECONDS))
    } finally spark.listenerManager.unregister(listener)
  }

  private def records(outDir: String) =
    Sinks.readUpsertedBucketed(spark, s"$outDir/production_records")
      .select("record_id", "produced", "status_id", "ts").as[(String, Long, Int, java.sql.Timestamp)]
      .collect().sortBy(_._1).toSeq

  private def dirNames(dir: String, prefix: String): Set[String] =
    Option(new java.io.File(dir).listFiles()).toSeq.flatten.map(_.getName)
      .filter(_.startsWith(prefix)).toSet

  test("applyActions: replaying an epoch leaves the shift-laid-out records identical") {
    import graft.model.ActionRow
    val outDir = Files.createTempDirectory("graft_rec_replay").toString
    val (r1, r2) = ("P1|AAA|2024-03-05|1", "P2|BBB|2024-03-05|1")
    val epochs = Seq(
      Seq(ActionRow.create("P1", "AAA", r1, "2024-03-05", 1, 0L, ts("2024-03-05 09:00:00")),
        ActionRow.create("P2", "BBB", r2, "2024-03-05", 1, 0L, ts("2024-03-05 09:00:00"))),
      Seq(ActionRow.updateQty("P1", "AAA", r1, 10L, 7, ts("2024-03-05 09:00:01")),
        ActionRow.updateQty("P2", "BBB", r2, 20L, 7, ts("2024-03-05 09:00:01"))),
      Seq(ActionRow.updateQty("P1", "AAA", r1, 12L, 7, ts("2024-03-05 09:00:02")),
        ActionRow.updateQty("P1", "AAA", r1, 11L, 7, ts("2024-03-05 09:00:01"))))
    epochs.zipWithIndex.foreach { case (b, e) => Sinks.applyActions(b.toDS(), outDir, epochId = e) }
    val before = records(outDir)
    assert(before.map(r => r._1 -> r._2) == Seq(r1 -> 12L, r2 -> 20L))
    // crash-replay of the last epoch (restart before the checkpoint commit)
    Sinks.applyActions(epochs.last.toDS(), outDir, epochId = 2)
    assert(records(outDir) == before, "a replayed epoch must not change production_records")
    assert(dirNames(s"$outDir/production_records", "__shift=") == Set("__shift=2024-03-05|1"))
  }

  test("applyActions: a batch spanning a shift rollover lands in two partitions") {
    import graft.model.ActionRow
    val outDir = Files.createTempDirectory("graft_rec_roll").toString
    val (r1, r2) = ("P1|AAA|2024-03-05|1", "P1|AAA|2024-03-05|2")
    Sinks.applyActions(Seq(
      ActionRow.create("P1", "AAA", r1, "2024-03-05", 1, 0L, ts("2024-03-05 15:59:50"))
    ).toDS(), outDir, epochId = 0)
    Sinks.applyActions(Seq(
      ActionRow.updateQty("P1", "AAA", r1, 9L, 7, ts("2024-03-05 15:59:58")),
      ActionRow.updateQty("P1", "AAA", r1, 10L, 7, ts("2024-03-05 15:59:59")),
      ActionRow.closeShift("P1", "AAA", r1, "2024-03-05", 1, ts("2024-03-05 16:00:00")),
      ActionRow.create("P1", "AAA", r2, "2024-03-05", 2, 0L, ts("2024-03-05 16:00:00")),
      ActionRow.updateQty("P1", "AAA", r2, 1L, 7, ts("2024-03-05 16:00:01"))
    ).toDS(), outDir, epochId = 1)
    assert(dirNames(s"$outDir/production_records", "__shift=") ==
      Set("__shift=2024-03-05|1", "__shift=2024-03-05|2"))
    val got = Sinks.readUpsertedBucketed(spark, s"$outDir/production_records")
    assert(!got.columns.contains("__shift"), "the layout column must not leak to readers")
    assert(records(outDir) == Seq(
      (r1, 0L, StateMachine.StatusPaused, ts("2024-03-05 16:00:00")),
      (r2, 1L, StateMachine.StatusProducing, ts("2024-03-05 16:00:01"))))
  }

  test("applyActions refuses a flat or bucketed production_records; migrateLayout adopts it") {
    import graft.model.ActionRow
    val rid = "P1|AAA|2024-03-05|1"
    val old = Seq((rid, "P1", "AAA", "2024-03-05", 1, 5L, 0L, 7, ts("2024-03-05 09:00:00"), 2))
      .toDF("record_id", "station", "parte", "plan_date", "shift_id", "produced", "planned",
        "status_id", "ts", "rank")
    val update = Seq(ActionRow.updateQty("P1", "AAA", rid, 6L, 7, ts("2024-03-05 09:00:01")))
    for ((_, writeOld) <- legacyLayouts) {
      val outDir = Files.createTempDirectory("graft_rec_mig").toString
      val path = s"$outDir/production_records"
      writeOld(old, path)
      val e = intercept[IllegalArgumentException] {
        Sinks.applyActions(update.toDS(), outDir, epochId = 0)
      }
      assert(e.getMessage.contains("migrateLayout"), e.getMessage)
      assert(records(outDir).map(_._2) == Seq(5L), "a refused epoch must leave the table as it was")
      Sinks.migrateLayout(spark, path)
      assert(dirNames(path, "__") == Set("__shift=2024-03-05|1"))
      Sinks.applyActions(update.toDS(), outDir, epochId = 0)
      assert(records(outDir).map(r => r._1 -> r._2) == Seq(rid -> 6L))
    }
  }

  test("appendCsvDedup: an epoch of already-indexed keys writes nothing; replays stay exact") {
    val dir = Files.createTempDirectory("graft_csv_skip").toString + "/nf"
    def nf(rows: (String, String)*) = rows.map { case (st, p) => (st, p, p, "2024-03-05", "t") }
      .toDF("estacion", "numero_parte", "numero_parte_original", "fecha", "timestamp")
    def csvRows = spark.read.option("header", "true").csv(dir)
      .select("estacion", "numero_parte").as[(String, String)].collect().sorted.toSeq
    val idx = s"$dir/._nf_idx"
    Sinks.appendCsvDedup(nf("P1" -> "A", "P2" -> "B"), dir, epochId = 0)
    // epoch 1 re-reports the same unknown parts: no partition at all
    Sinks.appendCsvDedup(nf("P1" -> "A", "P2" -> "B", "P1" -> "A"), dir, epochId = 1)
    assert(dirNames(dir, "epoch=") == Set("epoch=0"))
    assert(dirNames(idx, "epoch=") == Set("epoch=0"))
    Sinks.appendCsvDedup(nf("P1" -> "A", "P2" -> "B"), dir, epochId = 1) // replay
    assert(dirNames(dir, "epoch=") == Set("epoch=0") && dirNames(idx, "epoch=") == Set("epoch=0"))
    assert(csvRows == Seq("P1" -> "A", "P2" -> "B"))
    // a later epoch with one new key lands once, also when replayed
    Sinks.appendCsvDedup(nf("P1" -> "A", "P3" -> "C"), dir, epochId = 2)
    Sinks.appendCsvDedup(nf("P1" -> "A", "P3" -> "C"), dir, epochId = 2)
    assert(dirNames(dir, "epoch=") == Set("epoch=0", "epoch=2"))
    assert(dirNames(idx, "epoch=") == Set("epoch=0", "epoch=2"))
    assert(csvRows == Seq("P1" -> "A", "P2" -> "B", "P3" -> "C"))
    Sinks.appendCsvDedup(nf("P3" -> "C"), dir, epochId = 3)
    assert(csvRows.size == 3 && dirNames(dir, "epoch=") == Set("epoch=0", "epoch=2"))
  }

  test("appendCsvDedup: the driver path and the join path past isinKeyLimit keep the same rows") {
    def nf(parts: String*) = parts.map(p => (s"P$p", p, p, "2024-03-05", "t"))
      .toDF("estacion", "numero_parte", "numero_parte_original", "fecha", "timestamp")
    val epochs = Seq(nf("A", "B"), nf("A", "B", "C"), nf("C", "D", "A", "D"))
    def run(isinKeyLimit: Option[String]): Seq[String] = {
      val dir = Files.createTempDirectory("graft_csv_gate").toString + "/nf"
      isinKeyLimit.foreach(spark.conf.set("spark.graft.ingest.isinKeyLimit", _))
      try {
        epochs.zipWithIndex.foreach { case (b, e) => Sinks.appendCsvDedup(b, dir, epochId = e) }
        Sinks.appendCsvDedup(epochs.last, dir, epochId = epochs.size - 1) // replay
      } finally spark.conf.unset("spark.graft.ingest.isinKeyLimit")
      spark.read.option("header", "true").csv(dir).select("numero_parte").as[String]
        .collect().sorted.toSeq
    }
    val driver = run(None)
    assert(driver == Seq("A", "B", "C", "D"))
    assert(run(Some("1")) == driver, "every batch above holds more than one key")
    assert(run(Some(Long.MaxValue.toString)) == driver, "a limit with no bound keeps every row")
  }

  test("appendCsvDedup past isinKeyLimit reads the index files, not the index root") {
    import org.apache.logging.log4j.LogManager
    import org.apache.logging.log4j.core.{LogEvent, Logger}
    import org.apache.logging.log4j.core.appender.AbstractAppender
    def nf(parts: String*) = parts.map(p => (s"P$p", p, p, "2024-03-05", "t"))
      .toDF("estacion", "numero_parte", "numero_parte_original", "fecha", "timestamp")
    val epochs = Seq(nf("A", "B"), nf("A", "B", "C"), nf("C", "D", "A", "D"))
    val warnings = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val capture = new AbstractAppender("graft-nf-idx", null, null, true, Array.empty) {
      override def append(e: LogEvent): Unit = warnings.add(e.getMessage.getFormattedMessage)
    }
    val log = LogManager.getLogger("org.apache.spark.sql.execution.datasources.DataSource")
      .asInstanceOf[Logger]
    capture.start()
    log.addAppender(capture)
    // both join regimes: broadcast (the default limit) and sort-merge
    val runs = try Seq(None, Some("0")).map { broadcastLimit =>
      val dir = Files.createTempDirectory("graft_csv_join").toString + "/nf"
      spark.conf.set("spark.graft.ingest.isinKeyLimit", "1")
      broadcastLimit.foreach(spark.conf.set("spark.graft.ingest.broadcastKeyLimit", _))
      try {
        epochs.zipWithIndex.foreach { case (b, e) => Sinks.appendCsvDedup(b, dir, epochId = e) }
        Sinks.appendCsvDedup(epochs.last, dir, epochId = epochs.size - 1) // replay
      } finally {
        spark.conf.unset("spark.graft.ingest.isinKeyLimit")
        spark.conf.unset("spark.graft.ingest.broadcastKeyLimit")
      }
      spark.read.option("header", "true").csv(dir).select("numero_parte", "epoch")
        .as[(String, Int)].collect().sorted.toSeq
    } finally { log.removeAppender(capture); capture.stop() }
    assert(runs.forall(_ == Seq("A" -> 0, "B" -> 0, "C" -> 1, "D" -> 2)), runs)
    assert(!warnings.asScala.exists(_.contains("All paths were ignored")), warnings)
  }

  test("upsertParquetPartitioned: the partitioned write reuses the merge's sort") {
    import org.apache.spark.sql.execution.{QueryExecution, SortExec}
    import org.apache.spark.sql.util.QueryExecutionListener
    val dir = Files.createTempDirectory("graft_onesort").toString + "/t"
    def batch(v: Long) = (0 until 20).map(i => (s"P$i|A|2024-03-05|${i % 2 + 1}", v, i.toLong))
      .toDF("record_id", "v", "x")
    Sinks.upsertParquetPartitioned(batch(1L), dir, Seq("record_id"), Seq("v"))
    val plans = new java.util.concurrent.ConcurrentLinkedQueue[QueryExecution]()
    val listener = new QueryExecutionListener {
      override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit = plans.add(qe)
      override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    drainListenerBus() // earlier writes' events must not reach the listener
    spark.listenerManager.register(listener)
    import scala.jdk.CollectionConverters._
    def writes = plans.asScala.filter(_.executedPlan.toString.contains("InsertIntoHadoopFsRelation"))
    try {
      Sinks.upsertParquetPartitioned(batch(2L), dir, Seq("record_id"), Seq("v"))
      val deadline = System.nanoTime() + 30e9.toLong // listener events arrive asynchronously
      while (writes.isEmpty && System.nanoTime() < deadline) Thread.sleep(10)
    } finally spark.listenerManager.unregister(listener)
    assert(writes.size == 1)
    // the merge's window sorts by (__shift, record_id, v); a write that
    // needed its own order would add a sort by __shift alone
    val sorts = collectWithSubqueries(writes.head.executedPlan) { case s: SortExec => s }
    assert(sorts.nonEmpty && sorts.forall(_.sortOrder.size == 3),
      s"the write must reuse the window's order: $sorts")
    assert(Sinks.readUpsertedBucketed(spark, dir).select("v").as[Long].collect().toSet == Set(2L))
  }

  // ---- the small-epoch driver route of applyActions vs the distributed
  // route, forced with a driver-route bound of 0 on the same batches

  import graft.model.ActionRow

  private val (rA, rB, rA2) = ("P1|AAA|2024-03-05|1", "P2|BBB|2024-03-05|1", "P1|AAA|2024-03-05|2")
  private def nfRow(st: String, p: String, t: String) =
    ActionRow.partNotFound(st, p, s"$p/X", "2024-03-05", ts(t))

  /** Four plc-shaped epochs: creates, updates (one stale), histories, a
    * shift rollover in the last one, and not-found parts that repeat
    * (already indexed) next to new ones in epochs 1 and 3. */
  private val liveEpochs: Seq[Seq[ActionRow]] = Seq(
    Seq(ActionRow.create("P1", "AAA", rA, "2024-03-05", 1, 5L, ts("2024-03-05 15:59:57")),
      ActionRow.create("P2", "BBB", rB, "2024-03-05", 1, 6L, ts("2024-03-05 15:59:57")),
      nfRow("P9", "ZZZ", "2024-03-05 15:59:57")),
    Seq(ActionRow.updateQty("P1", "AAA", rA, 10L, 7, ts("2024-03-05 15:59:58")),
      ActionRow.updateQty("P2", "BBB", rB, 20L, 7, ts("2024-03-05 15:59:58")),
      ActionRow.appendHistory("P1", "AAA", rA, 10L, 1.5, ts("2024-03-05 15:59:58")),
      ActionRow.appendHistory("P2", "BBB", rB, 20L, 1.5, ts("2024-03-05 15:59:58")),
      nfRow("P9", "ZZZ", "2024-03-05 15:59:58"), nfRow("P8", "YYY", "2024-03-05 15:59:58")),
    Seq(ActionRow.updateQty("P1", "AAA", rA, 12L, 7, ts("2024-03-05 15:59:59")),
      ActionRow.updateQty("P1", "AAA", rA, 11L, 7, ts("2024-03-05 15:59:58")),
      ActionRow.updateQty("P2", "BBB", rB, 21L, 7, ts("2024-03-05 15:59:59")),
      ActionRow.appendHistory("P1", "AAA", rA, 2L, 1.5, ts("2024-03-05 15:59:59")),
      nfRow("P9", "ZZZ", "2024-03-05 15:59:59"), nfRow("P8", "YYY", "2024-03-05 15:59:59")),
    Seq(ActionRow.closeShift("P1", "AAA", rA, "2024-03-05", 1, ts("2024-03-05 16:00:00")),
      ActionRow.create("P1", "AAA", rA2, "2024-03-05", 2, 5L, ts("2024-03-05 16:00:00")),
      ActionRow.updateQty("P1", "AAA", rA2, 1L, 7, ts("2024-03-05 16:00:01")),
      ActionRow.appendHistory("P1", "AAA", rA2, 1L, 1.5, ts("2024-03-05 16:00:01")),
      nfRow("P9", "ZZZ", "2024-03-05 16:00:01"), nfRow("P7", "XXX", "2024-03-05 16:00:01")))

  /** Applies `epochs` (id, batch) in order to `outDir`; the i-th call
    * takes the distributed route when `distributed(i)`. */
  private def applyAll(outDir: String, epochs: Seq[(Long, Seq[ActionRow])],
      distributed: Int => Boolean): String = {
    epochs.zipWithIndex.foreach { case ((id, b), i) =>
      Sinks.applyActionsWith(b.toDS(), outDir, id, if (distributed(i)) 0L else Sinks.DriverRouteRows)
    }
    outDir
  }

  private def freshDir(): String = Files.createTempDirectory("graft_route").toString

  /** Every row of every sink table — records without their layout
    * column, histories and parts_not_found with their epoch — and of
    * the not-found key index, each sorted. */
  private def sinkState(outDir: String): Seq[Seq[String]] = {
    def rows(path: String)(read: String => org.apache.spark.sql.DataFrame) =
      if (!new java.io.File(path).exists) Nil
      else read(path).collect().map(_.toString).sorted.toSeq
    Seq(rows(s"$outDir/production_records")(Sinks.readUpsertedBucketed(spark, _)),
      rows(s"$outDir/histories")(spark.read.parquet(_)),
      rows(s"$outDir/parts_not_found")(spark.read.option("header", "true").csv(_)),
      rows(s"$outDir/parts_not_found/._nf_idx")(
        spark.read.schema("nf_key STRING, epoch LONG").parquet(_)))
  }

  /** The sink state `epochs` leave on the driver route, checked equal
    * to what they leave on the distributed route. */
  private def sameOnBothRoutes(epochs: Seq[(Long, Seq[ActionRow])],
      prepare: String => Unit = _ => ()): Seq[Seq[String]] = {
    def run(distributed: Boolean) = {
      val dir = freshDir(); prepare(dir)
      sinkState(applyAll(dir, epochs, _ => distributed))
    }
    val driver = run(distributed = false)
    assert(driver == run(distributed = true), "the two routes left different rows")
    driver
  }

  private val numbered = liveEpochs.zipWithIndex.map { case (b, i) => (i.toLong, b) }

  test("applyActions driver route ≡ distributed route: a fresh table") {
    val state = sameOnBothRoutes(numbered.take(1))
    assert(state.head.size == 2 && state(2).size == 1)
  }

  test("applyActions driver route ≡ distributed route: epoch replay") {
    val replayed = Seq(numbered(0), numbered(1), numbered(2), numbered(2), numbered(3), numbered(3))
    val state = sameOnBothRoutes(replayed)
    assert(state == sinkState(applyAll(freshDir(), numbered, _ => false)),
      "replays must leave what a run without them leaves")
  }

  test("applyActions driver route ≡ distributed route: shift rollover") {
    sameOnBothRoutes(numbered)
    val dir = applyAll(freshDir(), numbered, _ => false)
    assert(dirNames(s"$dir/production_records", "__shift=") ==
      Set("__shift=2024-03-05|1", "__shift=2024-03-05|2"))
    assert(records(dir) == Seq(
      (rA, 0L, StateMachine.StatusPaused, ts("2024-03-05 16:00:00")),
      (rA2, 1L, StateMachine.StatusProducing, ts("2024-03-05 16:00:01")),
      (rB, 21L, StateMachine.StatusProducing, ts("2024-03-05 15:59:59"))))
  }

  test("applyActions driver route ≡ distributed route: new and already-indexed not-found keys") {
    val state = sameOnBothRoutes(numbered)
    assert(state(2).size == 3, state(2).mkString("\n"))
    val dir = applyAll(freshDir(), numbered, _ => false)
    // epoch 2 re-reports only indexed keys: it writes no partition
    assert(dirNames(s"$dir/parts_not_found", "epoch=") == Set("epoch=0", "epoch=1", "epoch=3"))
    assert(spark.read.option("header", "true").csv(s"$dir/parts_not_found")
      .select("estacion", "epoch").as[(String, Int)].collect().sorted.toSeq ==
      Seq("P7" -> 3, "P8" -> 1, "P9" -> 0))
  }

  test("applyActions driver route ≡ distributed route: legacy flat histories") {
    val legacy = Seq(ActionRow.appendHistory("P1", "AAA", rA, 3L, 1.5, ts("2024-03-05 15:00:00")))
    val state = sameOnBothRoutes(numbered, dir => Sinks.applyActions(legacy.toDS(), dir))
    assert(state(1).size == 5 && state(1).exists(_.endsWith(",-1]")), state(1).mkString("\n"))
  }

  test("applyActions: a route switch between consecutive epochs, both ways") {
    val replayed = numbered :+ numbered.last
    val driver = sinkState(applyAll(freshDir(), replayed, _ => false))
    for (first <- Seq(0, 1)) {
      val switched = sinkState(applyAll(freshDir(), replayed, i => i % 2 == first))
      assert(switched == driver, s"routes alternating from ${if (first == 0) "distributed" else "driver"}")
    }
  }

  test("applyActions converges from an installed records file whose superseded file remains") {
    val reference = Seq(2, 3).map(n => n -> sinkState(applyAll(freshDir(), numbered.take(n), _ => false)))
    val shift1 = "production_records/__shift=2024-03-05|1"
    def crashed(): String = {
      val dir = applyAll(freshDir(), numbered.take(1), _ => false)
      val superseded = new java.io.File(s"$dir/$shift1").listFiles()
        .filter(f => f.getName.startsWith("part-")).map(f => f.getName -> Files.readAllBytes(f.toPath))
      assert(superseded.length == 1)
      applyAll(dir, numbered.slice(1, 2), _ => false)
      // the crash: epoch 1's file installed, epoch 0's not yet removed
      superseded.foreach { case (n, bytes) => Files.write(new java.io.File(s"$dir/$shift1/$n").toPath, bytes) }
      assert(Sinks.readUpsertedBucketed(spark, s"$dir/production_records").count() == 4)
      dir
    }
    // the replayed epoch, on either route
    for (distributed <- Seq(false, true))
      assert(sinkState(applyAll(crashed(), numbered.slice(1, 2), _ => distributed)) == reference(0)._2)
    // or the next epoch, on either route
    for (distributed <- Seq(false, true))
      assert(sinkState(applyAll(crashed(), numbered.slice(2, 3), _ => distributed)) == reference(1)._2)
  }

  test("applyActions driver route refuses another layout or schema and leaves the table") {
    val update = Seq(ActionRow.updateQty("P1", "AAA", rA, 6L, 7, ts("2024-03-05 09:00:01")))
    val outDir = freshDir()
    val path = s"$outDir/production_records"
    // a __shift table whose files lack the `rank` column
    Sinks.upsertParquetPartitioned(
      Seq((rA, "P1", "AAA", "2024-03-05", 1, 5L, 0L, 7, ts("2024-03-05 09:00:00")))
        .toDF("record_id", "station", "parte", "plan_date", "shift_id", "produced", "planned",
          "status_id", "ts"), path, Seq("record_id"), Seq("ts"))
    val e = intercept[IllegalArgumentException](Sinks.applyActions(update.toDS(), outDir, epochId = 0))
    assert(e.getMessage.contains("full schema"), e.getMessage)
    assert(Sinks.readUpsertedBucketed(spark, path).select("produced").as[Long].collect().toSeq == Seq(5L))
    // a flat file beside the partitions
    Files.write(new java.io.File(s"$path/stray.parquet").toPath, Array[Byte](1))
    val f = intercept[IllegalArgumentException](Sinks.applyActions(update.toDS(), outDir, epochId = 0))
    assert(f.getMessage.contains("migrateLayout"), f.getMessage)
    assert(dirNames(s"$path/__shift=2024-03-05|1", "part-").size == 1)
  }

  test("a warm plc-shaped applyActions epoch runs one Spark job") {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    val stations = (0 until 50).map(i => f"P$i%02d")
    def epoch(e: Int): Seq[ActionRow] = stations.flatMap { st =>
      val rid = s"$st|AAA|2024-03-05|1"
      val t = ts(f"2024-03-05 09:00:$e%02d")
      if (e == 0) Seq(ActionRow.create(st, "AAA", rid, "2024-03-05", 1, 5L, t))
      else Seq(ActionRow.updateQty(st, "AAA", rid, 10L * e, 7, t),
        ActionRow.appendHistory(st, "AAA", rid, 10L, 1.5, t))
    } ++ stations.take(5).map(st => nfRow(st, "UNKNOWN", f"2024-03-05 09:00:$e%02d"))
    val outDir = freshDir()
    (0 to 1).foreach(e => Sinks.applyActions(epoch(e).toDS(), outDir, epochId = e))
    val batch = epoch(2).toDS()
    val tag = s"sink-jobs-${System.nanoTime()}"
    val jobs = new java.util.concurrent.atomic.AtomicInteger()
    val drained = new java.util.concurrent.CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).map(_.getProperty("graft.spec.tag")).foreach { t =>
          if (t == tag) jobs.incrementAndGet() else if (t == s"$tag-drained") drained.countDown()
        }
    }
    val sc = spark.sparkContext
    sc.addSparkListener(listener)
    try {
      sc.setLocalProperty("graft.spec.tag", tag)
      try Sinks.applyActions(batch, outDir, epochId = 2) finally sc.setLocalProperty("graft.spec.tag", null)
      // the bus delivers events in order: once this marker job's start
      // arrives, every job of the epoch has been seen
      sc.setLocalProperty("graft.spec.tag", s"$tag-drained")
      try sc.parallelize(Seq(1), 1).count() finally sc.setLocalProperty("graft.spec.tag", null)
      assert(drained.await(60, java.util.concurrent.TimeUnit.SECONDS))
    } finally sc.removeSparkListener(listener)
    assert(jobs.get == 1, s"${jobs.get} Spark jobs in a warm 105-row epoch")
    assert(records(outDir).map(_._2).toSet == Set(20L))
    assert(spark.read.parquet(s"$outDir/histories").count() == 100)
    assert(dirNames(s"$outDir/parts_not_found", "epoch=") == Set("epoch=0"))
  }

  test("the applyActions gate returns rows only when every task stays within its share") {
    val sc = spark.sparkContext
    def frame(rdd: org.apache.spark.rdd.RDD[(Long, String)]) = rdd.toDF("id", "action")
    val even = frame(sc.parallelize((0L until 40L).map(i => i -> (if (i % 2 == 0) "a" else "b")), 4))
    val (fits, tags) = StoreEpoch.gate(even, 40, Some("action"))
    val perTag = Map("a" -> 20L, "b" -> 20L)
    assert(fits.map(_.map(_.getLong(0)).sorted) == Some(0L until 40L) && tags == perTag)
    // each task holds 10 rows, within its share of 10, but 40 > 39
    assert(StoreEpoch.gate(even, 39, Some("action")) == (None, perTag))
    assert(StoreEpoch.gate(even, -1, Some("action")) == (None, perTag))
    // 40 rows, under a bound of 100, but all in one of 4 tasks (share 26)
    val skewed = frame(sc.parallelize((0L until 40L).map(_ -> "a"), 1)
      .union(sc.parallelize(Seq.empty[(Long, String)], 3)))
    assert(skewed.rdd.getNumPartitions == 4)
    assert(StoreEpoch.gate(skewed, 100, Some("action")) == (None, Map("a" -> 40L)))
    assert(StoreEpoch.gate(skewed, 159, Some("action"))._1.map(_.size) == Some(40))
  }

  test("applyActions: a batch past the driver bound over many partitions goes distributed; its gate ships no rows") {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}
    val stations = (0 until 2000).map(i => f"P$i%04d")
    val t = ts("2024-03-05 09:00:01")
    val epoch = stations.flatMap { st =>
      val rid = s"$st|AAA|2024-03-05|1"
      Seq(ActionRow.updateQty(st, "AAA", rid, 10L, 7, t), ActionRow.appendHistory(st, "AAA", rid, 10L, 1.5, t))
    }
    val sc = spark.sparkContext
    /** The bytes the tasks of the gate's `runJob` in `run` return to the driver. */
    def gateResultBytes(run: => Unit): Long = {
      val tag = s"gate-bytes-${System.nanoTime()}"
      val gateStages = java.util.concurrent.ConcurrentHashMap.newKeySet[Int]()
      val bytes = new java.util.concurrent.atomic.AtomicLong()
      val drained = new java.util.concurrent.CountDownLatch(1)
      val listener = new SparkListener {
        override def onJobStart(e: SparkListenerJobStart): Unit =
          Option(e.properties).map(_.getProperty("graft.spec.tag")).foreach { p =>
            if (p == tag) e.stageInfos.filter(_.name.startsWith("runJob at StoreEpoch.scala"))
              .foreach(st => gateStages.add(st.stageId))
            else if (p == s"$tag-drained") drained.countDown()
          }
        override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
          if (gateStages.contains(e.stageId) && e.taskMetrics != null)
            bytes.addAndGet(e.taskMetrics.resultSize)
      }
      sc.addSparkListener(listener)
      try {
        sc.setLocalProperty("graft.spec.tag", tag)
        try run finally sc.setLocalProperty("graft.spec.tag", null)
        sc.setLocalProperty("graft.spec.tag", s"$tag-drained")
        try sc.parallelize(Seq(1), 1).count() finally sc.setLocalProperty("graft.spec.tag", null)
        assert(drained.await(60, java.util.concurrent.TimeUnit.SECONDS))
      } finally sc.removeSparkListener(listener)
      assert(gateStages.size == 1, s"one gate stage: $gateStages")
      bytes.get
    }
    // 4,000 rows over 64 tasks of about 62 rows; a bound of 1,000 gives
    // each task a share of 16, so none ships its rows
    val batch = epoch.toDS().repartition(64)
    val outDir = freshDir()
    val gated = gateResultBytes(Sinks.applyActionsWith(batch, outDir, 0, 1000L))
    // the same batch without an epoch id keeps no rows at all
    val rowless = gateResultBytes(Sinks.applyActionsWith(batch, freshDir(), -1, 1000L))
    val allRows = gateResultBytes(StoreEpoch.gate(batch.toDF(), Long.MaxValue, Some("action")))
    info(s"gate result bytes: $gated with the bound, $rowless keeping no rows, $allRows keeping all rows")
    assert(gated < rowless * 5 / 4 && gated * 2 < allRows,
      s"gate result bytes: $gated with the bound, $rowless keeping no rows, $allRows keeping all rows")
    // Spark wrote the tables: no driver-written epoch file
    val shift = s"$outDir/production_records/__shift=2024-03-05|1"
    assert(dirNames(shift, "part-").nonEmpty && dirNames(shift, "part-e").isEmpty)
    assert(dirNames(s"$outDir/histories/epoch=0", "part-").nonEmpty &&
      dirNames(s"$outDir/histories/epoch=0", "part-e").isEmpty)
    assert(records(outDir).size == 2000 && records(outDir).forall(_._2 == 10L))
    assert(spark.read.parquet(s"$outDir/histories").count() == 2000)
  }
}
