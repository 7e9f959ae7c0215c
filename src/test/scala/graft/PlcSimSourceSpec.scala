package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

import graft.model.StationSideConfig
import graft.stream.{Decode, Sinks, StateMachine}

/** The DSv2 plc-sim source: schema, determinism, per-IP partitioning,
  * and the full source → decode → state machine → sinks integration. */
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
    val base = graft.sources.PlcSim.base("10.0.0.1", "D3100")
    assert(rec.head.getAs[Long]("produced") == base + 4L)
    assert(rec.head.getAs[String]("parte") == "AB12")
  }
}
