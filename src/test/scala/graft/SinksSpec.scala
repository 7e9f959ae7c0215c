package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.stream.{Sinks, StateMachine}

/** Upsert + dedup-append sink behavior (K1-K5, K4). */
class SinksSpec extends SparkSpec
    with org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper {
  import spark.implicits._

  test("upsertParquet: newest version wins per key; others untouched") {
    val dir = Files.createTempDirectory("graft_upsert").toString + "/t"
    Sinks.upsertParquet(
      Seq(("a", 1L, 10L), ("b", 1L, 20L)).toDF("k", "v", "x"), dir, Seq("k"), Seq("v"))
    Sinks.upsertParquet(
      Seq(("a", 2L, 99L), ("c", 1L, 30L)).toDF("k", "v", "x"), dir, Seq("k"), Seq("v"))
    val got = spark.read.parquet(dir).orderBy("k")
      .select("k", "x").as[(String, Long)].collect().toSeq
    assert(got == Seq(("a", 99L), ("b", 20L), ("c", 30L)))
  }

  test("upsertParquetBucketed: newest wins; untouched buckets not rewritten") {
    val dir = Files.createTempDirectory("graft_upsertb").toString + "/t"
    val nB = 8
    // seed: 200 keys spread across all buckets
    val seed = (0 until 200).map(i => (s"k$i", 1L, i.toLong))
    Sinks.upsertParquetBucketed(seed.toDF("k", "v", "x"), dir, Seq("k"), Seq("v"), nB)
    val before = new java.io.File(dir).listFiles().filter(_.getName.startsWith("__bucket="))
      .map(d => d.getName -> d.listFiles().map(f => (f.getName, f.lastModified)).toSet).toMap
    assert(before.size == nB, s"expected all $nB buckets populated")

    // upsert 3 keys (newer version) + 1 new key
    Sinks.upsertParquetBucketed(
      Seq(("k5", 2L, 999L), ("k6", 2L, 998L), ("k7", 0L, 0L), ("kNEW", 1L, 777L))
        .toDF("k", "v", "x"), dir, Seq("k"), Seq("v"), nB)

    val got = Sinks.readUpsertedBucketed(spark, dir)
      .select("k", "x").as[(String, Long)].collect().toMap
    assert(got.size == 201)
    assert(got("k5") == 999L && got("k6") == 998L)
    assert(got("k7") == 7L, "older version must not regress the row")
    assert(got("kNEW") == 777L && got("k0") == 0L)

    // only the buckets containing the 4 batch keys were rewritten
    val touched = Seq("k5", "k6", "k7", "kNEW").toDF("k")
      .select(pmod(hash(col("k")), lit(nB))).as[Int].collect()
      .map(b => s"__bucket=$b").toSet
    val after = new java.io.File(dir).listFiles().filter(_.getName.startsWith("__bucket="))
      .map(d => d.getName -> d.listFiles().map(f => (f.getName, f.lastModified)).toSet).toMap
    before.foreach { case (bucket, files) =>
      if (!touched(bucket))
        assert(after(bucket) == files, s"untouched $bucket was rewritten")
      else assert(after(bucket) != files, s"touched $bucket unchanged")
    }
  }

  test("upsertParquetBucketed: changing nBuckets on an existing table is refused") {
    val dir = Files.createTempDirectory("graft_upsertb2").toString + "/t"
    Sinks.upsertParquetBucketed(
      Seq(("a", 1L, 1L)).toDF("k", "v", "x"), dir, Seq("k"), Seq("v"), nBuckets = 8)
    val e = intercept[IllegalArgumentException] {
      Sinks.upsertParquetBucketed(
        Seq(("b", 1L, 2L)).toDF("k", "v", "x"), dir, Seq("k"), Seq("v"), nBuckets = 16)
    }
    assert(e.getMessage.contains("nBuckets=8"))
  }

  test("upsertParquetBucketed: refuses a flat table; migrateLayout adopts it") {
    val dir = Files.createTempDirectory("graft_upsertb3").toString + "/t"
    // a round-3-era flat table written by the non-bucketed upsert
    Sinks.upsertParquet(
      Seq(("a", 1L, 10L), ("b", 1L, 20L)).toDF("k", "v", "x"), dir, Seq("k"), Seq("v"))
    val e = intercept[IllegalArgumentException] {
      Sinks.upsertParquetBucketed(
        Seq(("c", 1L, 30L)).toDF("k", "v", "x"), dir, Seq("k"), Seq("v"), nBuckets = 8)
    }
    assert(e.getMessage.contains("migrateLayout"))
    // the refused call must not have poisoned the table with a marker
    assert(spark.read.parquet(dir).count() == 2)

    Sinks.migrateLayout(spark, dir, Sinks.Buckets(Seq("k"), 8))
    Sinks.upsertParquetBucketed(
      Seq(("a", 2L, 99L), ("c", 1L, 30L)).toDF("k", "v", "x"), dir, Seq("k"), Seq("v"), 8)
    val got = Sinks.readUpsertedBucketed(spark, dir)
      .select("k", "x").as[(String, Long)].collect().toMap
    assert(got == Map("a" -> 99L, "b" -> 20L, "c" -> 30L))
  }

  test("upsertParquetPartitioned refuses a batch whose columns differ from the table's") {
    val dir = Files.createTempDirectory("graft_upsert_schema").toString + "/t"
    Sinks.upsertParquetBucketed(
      Seq(("a", 1L, 10L), ("b", 1L, 20L)).toDF("k", "v", "x"), dir, Seq("k"), Seq("v"), 1)
    Seq(Seq(("a", 2L)).toDF("k", "v"),                   // lacks x: x would vanish from b
        Seq(("a", 2L, "10")).toDF("k", "v", "x"),         // x retyped
        Seq(("a", 2L, 10L, 1)).toDF("k", "v", "x", "y")   // adds y
    ).foreach { batch =>
      val e = intercept[IllegalArgumentException] {
        Sinks.upsertParquetBucketed(batch, dir, Seq("k"), Seq("v"), 1)
      }
      assert(e.getMessage.contains("full schema"), e.getMessage)
    }
    assert(Sinks.readUpsertedBucketed(spark, dir).select("k", "v", "x")
      .as[(String, Long, Long)].collect().sorted.toSeq == Seq(("a", 1L, 10L), ("b", 1L, 20L)),
      "a refused batch must leave the table as it was")
    Sinks.upsertParquetBucketed(Seq(("a", 2L, 11L)).toDF("k", "v", "x"), dir, Seq("k"), Seq("v"), 1)
    assert(Sinks.readUpsertedBucketed(spark, dir).select("k", "x").as[(String, Long)]
      .collect().sorted.toSeq == Seq("a" -> 11L, "b" -> 20L))
  }

  test("upsertParquetBucketed: first write to a fresh table succeeds (default path)") {
    // regression: the marker used to materialize the dir before the first
    // data write, and the merge-read then died on UNABLE_TO_INFER_SCHEMA
    val dir = Files.createTempDirectory("graft_upsertb4").toString + "/t"
    Sinks.upsertParquetBucketed(
      Seq(("a", 1L, 1L)).toDF("k", "v", "x"), dir, Seq("k"), Seq("v"))
    assert(Sinks.readUpsertedBucketed(spark, dir).count() == 1)
  }

  test("lookupBucketed: point lookup partition-prunes to one bucket") {
    import org.apache.spark.sql.execution.FileSourceScanExec
    val dir = Files.createTempDirectory("graft_lookup").toString + "/t"
    val nB = 8
    val seed = (0 until 200).map(i => (s"k$i", 1L, i.toLong))
    Sinks.upsertParquetBucketed(seed.toDF("k", "v", "x"), dir, Seq("k"), Seq("v"), nB)

    val res = Sinks.lookupBucketed(spark, dir, Seq("k"), Seq("k42"))
    assert(res.select("x").as[Long].collect().toSeq == Seq(42L))
    // the lookup must reach the scan as a PARTITION filter (one
    // __bucket= dir opened), not as a data filter over the whole table
    val qe = res.queryExecution
    qe.toRdd.count() // execute so the scan's numFiles metric is populated
    val scans = qe.executedPlan.collect {
      case s: FileSourceScanExec => s }
    assert(scans.nonEmpty && scans.forall(_.partitionFilters.nonEmpty),
      "bucket predicate did not become a partition filter")
    val filesRead = scans.map(_.metrics("numFiles").value).sum
    val filesTotal = spark.read.parquet(dir).inputFiles.length
    assert(filesRead < filesTotal,
      s"lookup read $filesRead of $filesTotal files — no pruning happened")
  }

  test("lookupBucketed: literal type narrower than the stored key still finds the row") {
    val dir = Files.createTempDirectory("graft_lookup_t").toString + "/t"
    val seed = (0 until 100).map(i => (i.toLong, 1L, i.toString))
    Sinks.upsertParquetBucketed(seed.toDF("id", "v", "x"), dir, Seq("id"), Seq("v"), 8)
    // probe with Int literals against the Long key column: Murmur3 over
    // 4 bytes != over 8 bytes, so an uncast literal would prune to the
    // WRONG __bucket= partition and silently return nothing
    (40 to 44).foreach { i =>
      val got = Sinks.lookupBucketed(spark, dir, Seq("id"), Seq(i)) // Int vs Long
        .select("x").as[String].collect().toSeq
      assert(got == Seq(i.toString), s"lookup for id=$i returned $got")
    }
  }

  test("mergeSql: refuses empty key/version; escaped identifiers still parse") {
    import org.apache.spark.sql.catalyst.plans.logical.MergeIntoTable
    val e = intercept[IllegalArgumentException] {
      Sinks.mergeSql("t", "s", Seq("k", "v"), Seq("k"), Nil)
    }
    assert(e.getMessage.contains("version"))
    // an empty version seq used to render `WHEN MATCHED AND ()` — a
    // runtime parse failure; reserved words / spaces in identifiers
    // used to break the statement entirely
    val sql = Sinks.mergeSql("lake.select", "src",
      Seq("record id", "order", "ts"), Seq("record id"), Seq("ts"))
    assert(spark.sessionState.sqlParser.parsePlan(sql).isInstanceOf[MergeIntoTable])
  }

  test("upsertDelta: generated MERGE parses to the expected plan shape") {
    import org.apache.spark.sql.catalyst.plans.logical.{InsertAction, MergeIntoTable, UpdateAction}
    val sql = Sinks.mergeSql("lake.production_records", "src",
      Seq("record_id", "produced", "ts", "rank"), Seq("record_id"), Seq("ts", "rank"))
    val m = spark.sessionState.sqlParser.parsePlan(sql).asInstanceOf[MergeIntoTable]
    assert(m.mergeCondition.sql.toLowerCase.contains("record_id"))
    m.matchedActions match {
      case Seq(UpdateAction(Some(cond), assigns, _)) =>
        assert(assigns.size == 4)
        // strictly-newer guard, lexicographic over (ts, rank)
        val c = cond.sql.toLowerCase
        assert(c.contains("ts") && c.contains("rank"))
      case other => fail(s"expected one conditional UPDATE, got $other")
    }
    m.notMatchedActions match {
      case Seq(InsertAction(None, assigns)) => assert(assigns.size == 4)
      case other => fail(s"expected one unconditional INSERT, got $other")
    }
    assert(m.notMatchedBySourceActions.isEmpty,
      "MERGE must never touch target rows absent from the batch")
  }

  test("upsertDelta through a file-backed MERGE runner ≡ upsertParquet") {
    import org.apache.spark.sql.catalyst.analysis.UnresolvedRelation
    import org.apache.spark.sql.catalyst.plans.logical.MergeIntoTable
    import org.apache.spark.sql.expressions.Window
    val root = Files.createTempDirectory("graft_delta").toString
    val (dirD, dirP) = (s"$root/delta", s"$root/plain")
    val keys = Seq("k"); val version = Seq("v")
    // a stand-in for DeltaTable.merge: takes the GENERATED statement,
    // resolves the source through the parsed plan (proving the temp view
    // is live when the runner fires), applies MERGE row-level semantics
    // to a parquet-backed target
    def fake(sql: String): Unit = {
      val m = spark.sessionState.sqlParser.parsePlan(sql).asInstanceOf[MergeIntoTable]
      val srcName = m.sourceTable.collectFirst {
        case r: UnresolvedRelation => r.multipartIdentifier.last
      }.get
      val src = spark.table(srcName)
      val exists = new java.io.File(dirD).exists
      val merged =
        if (!exists) src.withColumn("__src", lit(1))
        else spark.read.parquet(dirD).withColumn("__src", lit(0))
          .unionByName(src.withColumn("__src", lit(1)))
      // WHEN MATCHED AND strictly-newer → source; tie → target row wins
      val w = Window.partitionBy(keys.map(col): _*)
        .orderBy((version.map(c => col(c).desc) :+ col("__src").asc): _*)
      merged.withColumn("__rn", row_number().over(w)).filter(col("__rn") === 1)
        .drop("__rn", "__src")
        .localCheckpoint()
        .write.mode(org.apache.spark.sql.SaveMode.Overwrite).parquet(dirD)
    }
    val batches = Seq(
      Seq(("a", 1L, 10L), ("b", 1L, 20L)),
      Seq(("a", 2L, 99L), ("c", 1L, 30L)),
      Seq(("a", 1L, 0L))) // stale version: must not regress the row
    batches.foreach { b =>
      Sinks.upsertDelta(b.toDF("k", "v", "x"), "t", keys, version, run = fake)
      Sinks.upsertParquet(b.toDF("k", "v", "x"), dirP, keys, version)
    }
    def slurp(d: String) = spark.read.parquet(d)
      .select("k", "v", "x").as[(String, Long, Long)].collect().sorted.toSeq
    assert(slurp(dirD) == slurp(dirP))
    assert(slurp(dirD) == Seq(("a", 2L, 99L), ("b", 1L, 20L), ("c", 1L, 30L)))
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
    spark.listenerManager.register(listener)
    import scala.jdk.CollectionConverters._
    def writes = plans.asScala.filter(_.executedPlan.toString.contains("InsertIntoHadoopFsRelation"))
    try {
      Sinks.appendCsvDedup(
        Seq(("P0", "X", "X/Y", "2024-03-01", "t"), ("P9", "Y", "Y/Z", "2024-03-09", "t"))
          .toDF("estacion", "numero_parte", "numero_parte_original", "fecha", "timestamp"),
        dir, epochId = 3)
      val deadline = System.nanoTime() + 30e9.toLong // listener events arrive asynchronously
      while (writes.size < 2 && System.nanoTime() < deadline) Thread.sleep(10)
    } finally spark.listenerManager.unregister(listener)
    assert(spark.read.option("header", "true").csv(s"$dir/epoch=3").select("estacion")
      .as[String].collect().toSeq == Seq("P9"), "known key P0 rejected by the index; novel P9 survives")
    assert(writes.size == 2, "one CSV write and one index write")
    val scans = plans.asScala.toSeq.flatMap(qe =>
      collectWithSubqueries(qe.executedPlan) { case sc: FileSourceScanExec => sc })
    val idxScans = scans.filter(_.relation.location.rootPaths
      .exists(_.toString.contains("_nf_idx")))
    assert(idxScans.nonEmpty, "the probe must read the key index")
    assert(idxScans.exists(sc => Seq("In(nf_key", "EqualTo(nf_key")
        .exists(sc.metadata("PushedFilters").contains)),
      s"batch keys must push into the index scan: ${idxScans.map(_.metadata("PushedFilters"))}")
    assert(scans.size == idxScans.size,
      "per-batch read IO must not include the accumulated CSV itself")
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
    Seq[String => Unit](
      Sinks.upsertParquet(old, _, Seq("record_id"), Seq("ts", "rank")),
      Sinks.upsertParquetBucketed(old, _, Seq("record_id"), Seq("ts", "rank"), 8)
    ).foreach { writeOld =>
      val outDir = Files.createTempDirectory("graft_rec_mig").toString
      val path = s"$outDir/production_records"
      writeOld(path)
      val e = intercept[IllegalArgumentException] {
        Sinks.applyActions(update.toDS(), outDir, epochId = 0)
      }
      assert(e.getMessage.contains("migrateLayout"), e.getMessage)
      assert(records(outDir).map(_._2) == Seq(5L), "a refused epoch must leave the table as it was")
      Sinks.migrateLayout(spark, path, Sinks.RecordShifts)
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
  }

  test("upsertParquetPartitioned: the partitioned write reuses the merge's sort") {
    import org.apache.spark.sql.execution.{QueryExecution, SortExec}
    import org.apache.spark.sql.util.QueryExecutionListener
    val dir = Files.createTempDirectory("graft_onesort").toString + "/t"
    def batch(v: Long) = (0 until 20).map(i => (s"P$i|A|2024-03-05|${i % 2 + 1}", v, i.toLong))
      .toDF("record_id", "v", "x")
    Sinks.upsertParquetPartitioned(batch(1L), dir, Seq("record_id"), Seq("v"), Sinks.RecordShifts)
    val plans = new java.util.concurrent.ConcurrentLinkedQueue[QueryExecution]()
    val listener = new QueryExecutionListener {
      override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit = plans.add(qe)
      override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    import scala.jdk.CollectionConverters._
    def writes = plans.asScala.filter(_.executedPlan.toString.contains("InsertIntoHadoopFsRelation"))
    try {
      Sinks.upsertParquetPartitioned(batch(2L), dir, Seq("record_id"), Seq("v"), Sinks.RecordShifts)
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
}
