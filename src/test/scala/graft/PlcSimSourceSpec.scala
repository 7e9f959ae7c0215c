package graft

import java.nio.file.Files

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

import graft.model.StationSideConfig
import graft.sources.{PlcSim, PlcSimConfig}
import graft.stream.{Decode, Sinks, StateMachine}

/** The DSv2 plc-sim source: schema, determinism, packing the fleet into
  * one partition per core, and the full source → decode → state machine
  * → sinks integration. */
class PlcSimSourceSpec extends SparkSpec {
  import spark.implicits._

  private def reader = spark.readStream.format("plc-sim")
    .option("ips", "10.0.0.1,10.0.0.2")
    .option("addresses", "D3100,D3200,D3201")
    .option("counters", "D3100")
    .option("words", "D3200=16961;D3201=12849") // "AB" "12"
    .option("maxTicks", "5")

  test("emits one snapshot per (ip, tick) with deterministic words") {
    val q = reader.load().writeStream.format("memory").queryName("plcsim")
      .trigger(Trigger.AvailableNow()).start()
    assert(q.awaitTermination(60000))
    val rows = spark.table("plcsim")
    assert(rows.count() == 10) // 2 ips × 5 ticks
    val m = rows.filter($"ip" === "10.0.0.1")
      .select(element_at($"regs", "D3200")).as[Int].collect().toSet
    assert(m == Set(16961)) // static word stable across ticks
    val counters = rows.filter($"ip" === "10.0.0.1")
      .select(element_at($"regs", "D3100")).as[Int].collect().sorted
    assert(counters.zip(counters.tail).forall { case (a, b) => b == a + 1 }) // monotone
  }

  test("batch read matches streaming read (same generator)") {
    val batch = spark.read.format("plc-sim")
      .option("ips", "10.0.0.1").option("addresses", "D3100")
      .option("counters", "D3100").option("maxTicks", "3").load()
    assert(batch.count() == 3)
  }

  test("pushdown: column pruning reaches the scan, ip filter prunes partitions") {
    import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
    val df = spark.read.format("plc-sim")
      .option("ips", "10.0.0.1,10.0.0.2,10.0.0.3").option("addresses", "D3100")
      .option("counters", "D3100").option("maxTicks", "4").load()

    // projection without `regs` → pruned readSchema at the scan
    val slim = df.filter($"ip" === "10.0.0.2").select($"ip", $"ts")
    val scan = slim.queryExecution.executedPlan.collectFirst { case b: BatchScanExec => b }.get
    assert(scan.scan.readSchema().fieldNames.toSeq == Seq("ip", "ts"),
      s"expected pruned schema, got ${scan.scan.readSchema()}")
    // = filter became partition pruning: 1 of 3 ip partitions planned
    assert(slim.queryExecution.toRdd.getNumPartitions == 1)
    assert(slim.count() == 4)

    // IN-list pushdown keeps 2 partitions; results unchanged
    val two = df.filter($"ip".isin("10.0.0.1", "10.0.0.3"))
    assert(two.queryExecution.toRdd.getNumPartitions == 2)
    assert(two.count() == 8)
    assert(two.select(element_at($"regs", "D3100")).count() == 8) // regs still readable
  }

  test("maxTicksPerTrigger bounds micro-batch size (admission control)") {
    val sizes = scala.collection.mutable.ArrayBuffer.empty[Long]
    val q = spark.readStream.format("plc-sim")
      .option("ips", "10.0.0.1").option("addresses", "D3100")
      .option("counters", "D3100").option("maxTicks", "6")
      .option("maxTicksPerTrigger", "2").load()
      .writeStream
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
        sizes.synchronized { sizes += b.count() }; ()
      }
      .start()
    q.processAllAvailable()
    q.stop()
    val observed = sizes.synchronized(sizes.filter(_ > 0).toSeq)
    assert(observed.sum == 6, s"all 6 ticks eventually admitted: $observed")
    assert(observed.forall(_ <= 2), s"each batch bounded to 2 ticks: $observed")
    assert(observed.length >= 3, s"catch-up split across batches: $observed")
  }

  test("maxTicksPerTrigger holds under Trigger.AvailableNow: a 60-tick backlog drains in 3 epochs") {
    val sizes = scala.collection.mutable.ArrayBuffer.empty[Long]
    val q = spark.readStream.format("plc-sim")
      .option("ips", "10.0.0.1").option("addresses", "D3100")
      .option("counters", "D3100").option("maxTicks", "60")
      .option("maxTicksPerTrigger", "20").load()
      .writeStream
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
        sizes.synchronized { sizes += b.count() }; ()
      }
      .start()
    assert(q.awaitTermination(120000), "AvailableNow drain timed out")
    val observed = sizes.synchronized(sizes.filter(_ > 0).toSeq)
    assert(observed == Seq(20L, 20L, 20L), s"three data epochs of 20 ticks: $observed")
  }

  test("full integration: plc-sim → decode → state machine → records") {
    val outDir = Files.createTempDirectory("graft_sim").toString
    val layout = Seq(StationSideConfig("10.0.0.1", "PRENSA1", "LH",
      "D3100", None, Seq("D3200", "D3201")))
    val obs = Decode.decodeSnapshots(spark, reader.load().filter($"ip" === "10.0.0.1"), layout)
    val machine = new StateMachine(
      knownParts = Map(("PRENSA1", "AB12") -> 1L),
      multipliers = Map.empty, priorRecords = Map.empty, timeoutMs = 0)
    val q = Sinks.startPipeline(obs, machine, outDir, s"$outDir/_ckpt", Trigger.AvailableNow())
    assert(q.awaitTermination(120000))
    val rec = spark.read.parquet(s"$outDir/production_records").collect()
    assert(rec.length == 1)
    // produced := final raw counter (base + 4 after 5 ticks), base_ct 0
    val base = PlcSim.base("10.0.0.1", "D3100")
    assert(rec.head.getAs[Long]("produced") == base + 4L)
    assert(rec.head.getAs[String]("parte") == "AB12")
  }

  test("a fleet larger than the cores packs into defaultParallelism partitions, rows in closed form") {
    val cores = spark.sparkContext.defaultParallelism
    val ips = (1 to 2 * cores + 3).map(i => s"10.1.0.$i")
    val cfg = PlcSimConfig(ips, Seq("D3100", "D3200"), Set("D3100"), Map.empty,
      startEpochSec = 1709625600L, maxTicks = 3L)
    val options = Map("ips" -> ips.mkString(","), "addresses" -> "D3100,D3200",
      "counters" -> "D3100", "maxTicks" -> "3")
    val expected = for (ip <- ips; tick <- 0L until 3L)
      yield (ip, tick, cfg.addresses.map(a => a -> PlcSim.valueAt(cfg, ip, a, tick)).toMap)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select($"ip", $"ts", $"regs").as[(String, java.sql.Timestamp, Map[String, Int])]
        .collect().map { case (ip, ts, regs) => (ip, ts.getTime / 1000 - cfg.startEpochSec, regs) }

    val batch = spark.read.format("plc-sim").options(options).load()
    assert(batch.queryExecution.toRdd.getNumPartitions == cores)
    val read = rows(batch)
    assert(read.length == expected.length && read.toSet == expected.toSet)

    val planned = new java.util.concurrent.ConcurrentLinkedQueue[Int]()
    val streamed = new java.util.concurrent.ConcurrentLinkedQueue[(String, Long, Map[String, Int])]()
    val q = spark.readStream.format("plc-sim").options(options)
      .option("maxTicksPerTrigger", "2").load().writeStream
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
        planned.add(b.queryExecution.toRdd.getNumPartitions)
        rows(b).foreach(streamed.add); ()
      }.start()
    assert(q.awaitTermination(120000))
    import scala.jdk.CollectionConverters._
    assert(planned.asScala.toSeq == Seq(cores, cores), s"two epochs of $cores partitions: $planned")
    assert(streamed.size == expected.length && streamed.asScala.toSet == expected.toSet)
  }

  /** Starts the 50-PLC fleet (one-tick epochs up to tick `ticks`, every
    * fifth station's part unknown) through decode, state machine and
    * sinks on `Sinks.startPipeline`, checkpointed under `outDir/_ckpt`. */
  private def startFleet(outDir: String, ticks: Int = 3)
      : org.apache.spark.sql.streaming.StreamingQuery = {
    val ips = (1 to 50).map(i => s"10.2.0.$i")
    val stations = ips.indices.map(i => f"PRENSA$i%02d")
    val layout = ips.zip(stations).map { case (ip, st) =>
      StationSideConfig(ip, st, "LH", "D3100", None, Seq("D3200", "D3201"))
    }
    val source = spark.readStream.format("plc-sim")
      .option("ips", ips.mkString(",")).option("addresses", "D3100,D3200,D3201")
      .option("counters", "D3100").option("words", "D3200=16961;D3201=12849") // "AB12"
      .option("maxTicks", ticks.toString).option("maxTicksPerTrigger", "1").load()
    val machine = new StateMachine(
      knownParts = stations.zipWithIndex.collect { case (st, i) if i % 5 != 0 => (st, "AB12") -> 1L }.toMap,
      multipliers = Map.empty, priorRecords = Map.empty, timeoutMs = 0)
    Sinks.startPipeline(Decode.decodeSnapshots(spark, source, layout), machine,
      outDir, s"$outDir/_ckpt", Trigger.AvailableNow())
  }

  private def checkFleetOutput(outDir: String): Unit = {
    val produced = spark.read.parquet(s"$outDir/production_records").select("produced")
      .as[Long].collect()
    assert(produced.length == 40, "one record per known station")
    assert(spark.read.option("header", "true").csv(s"$outDir/parts_not_found").count() == 10)
  }

  test("a warm 50-PLC epoch through decode, state machine and sinks runs one job of at most 2 x cores tasks") {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageCompleted}
    val outDir = Files.createTempDirectory("graft_sim_jobs").toString
    // the jobs of the last epoch, by the batch id the stream tags them with
    val warm = "2"
    val jobs = new java.util.concurrent.atomic.AtomicInteger()
    val stages = java.util.concurrent.ConcurrentHashMap.newKeySet[Int]()
    val tasks = new java.util.concurrent.atomic.AtomicInteger()
    val tag = s"drained-${System.nanoTime()}"
    val drained = new java.util.concurrent.CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        val props = Option(e.properties)
        if (props.exists(_.getProperty("streaming.sql.batchId") == warm)) {
          jobs.incrementAndGet(); e.stageIds.foreach(stages.add(_))
        }
        if (props.exists(_.getProperty("graft.spec.tag") == tag)) drained.countDown()
      }
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
        if (stages.contains(e.stageInfo.stageId)) tasks.addAndGet(e.stageInfo.numTasks)
    }
    val sc = spark.sparkContext
    sc.addSparkListener(listener)
    try {
      assert(startFleet(outDir).awaitTermination(120000))
      // the bus delivers events in order: once this marker job's start
      // arrives, every event of the stream has been seen
      sc.setLocalProperty("graft.spec.tag", tag)
      try sc.parallelize(Seq(1), 1).count() finally sc.setLocalProperty("graft.spec.tag", null)
      assert(drained.await(60, java.util.concurrent.TimeUnit.SECONDS))
    } finally sc.removeSparkListener(listener)
    val cores = sc.defaultParallelism
    assert(jobs.get == 1, s"${jobs.get} Spark jobs in warm epoch $warm")
    assert(tasks.get <= 2 * cores, s"${tasks.get} tasks in warm epoch $warm ($cores cores)")
    checkFleetOutput(outDir)
  }

  test("warm 50-PLC epochs start no process on their checkpoint or tables") {
    val outDir = Files.createTempDirectory("graft_sim_forks").toString
    // the first epoch writes the new not-found keys with Spark's writer
    assert(startFleet(outDir, ticks = 1).awaitTermination(120000))
    // a restart on the checkpoint, then two warm epochs; every Hadoop
    // shell-out names the path it acts on
    val (forks, done) = Forks.during(startFleet(outDir).awaitTermination(120000))
    assert(done)
    val ours = forks.filter(_.contains(outDir))
    assert(ours.isEmpty, s"${ours.size} processes on $outDir, e.g. ${ours.take(3)}")
    checkFleetOutput(outDir)
  }

  test("the checkpoint keeps the .crc sidecars of its offsets, commits and state deltas, and the state checksums") {
    val outDir = Files.createTempDirectory("graft_sim_crc").toString
    assert(startFleet(outDir).awaitTermination(120000))
    val ckpt = java.nio.file.Paths.get(s"$outDir/_ckpt")
    def names(sub: String): Set[String] = {
      val walk = Files.walk(ckpt.resolve(sub))
      try walk.iterator().asScala.filter(Files.isRegularFile(_)).map(_.getFileName.toString).toSet
      finally walk.close()
    }
    for (log <- Seq("offsets", "commits"); epoch <- 0 to 2) {
      assert(names(log).contains(s"$epoch") && names(log).contains(s".$epoch.crc"),
        s"$log/$epoch and its sidecar: ${names(log)}")
    }
    val deltas = names("state").filter(_.endsWith(".delta"))
    assert(deltas.nonEmpty, s"state-store delta files: ${names("state")}")
    assert(deltas.forall(d => names("state").contains(s".$d.crc")),
      s"every delta has its sidecar: ${names("state")}")
    assert(deltas.forall(d => names("state").contains(s"$d.crc")),
      s"every delta has Spark's state checksum file: ${names("state")}")
  }
}
