package graft

import java.nio.file.Files
import java.sql.Timestamp

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

import graft.model._
import graft.stream.{Sinks, StateMachine}

/** End-to-end streaming test: MemoryStream[PartObservation] → state
  * machine → foreachBatch sinks (production_records upsert + histories
  * append + parts-not-found CSV), asserted on the written tables
  * (SURVEY §5.4-5.5 golden test).
  */
class StreamingSpec extends SparkSpec {
  import spark.implicits._

  private def ts(s: String) = Timestamp.valueOf(s)

  test("golden end-to-end: stream → state machine → sinks") {
    val outDir = Files.createTempDirectory("graft_stream").toString
    val ckpt = Files.createTempDirectory("graft_ckpt").toString
    val station = "PRENSA1"

    val machine = new StateMachine(
      knownParts = Map((station, "AAA") -> 1L),
      multipliers = Map("AAA" -> 2L),
      priorRecords = Map.empty,
      timeoutMs = 0) // NoTimeout → AvailableNow drains and stops (ST4 covered in StateMachineSpec)

    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[PartObservation]

    // Trigger.AvailableNow: drain → stop; the second run restarts from
    // the checkpoint, proving state survives query restarts.
    input.addData(
      PartObservation(station, "AAA", "AAA", 10, 1.5, ts("2024-03-05 09:00:00")),
      PartObservation(station, "ZZZ", "Z/ZZ", 1, 0.5, ts("2024-03-05 09:00:00")))
    val q1 = Sinks.startPipeline(input.toDS(), machine, outDir, ckpt,
      org.apache.spark.sql.streaming.Trigger.AvailableNow())
    assert(q1.awaitTermination(120000), "first drain timed out")

    input.addData(
      PartObservation(station, "AAA", "AAA", 14, 1.6, ts("2024-03-05 09:00:05")))
    val q2 = Sinks.startPipeline(input.toDS(), machine, outDir, ckpt,
      org.apache.spark.sql.streaming.Trigger.AvailableNow())
    assert(q2.awaitTermination(120000), "second drain timed out")

    val records = spark.read.parquet(s"$outDir/production_records")
    val rid = StateMachine.recordId(station, "AAA", "2024-03-05", 1)
    val rec = records.filter(col("record_id") === rid).collect()
    assert(rec.length == 1, s"one row per record key, got ${records.count()}")
    // produced := counter × mult from base 0 = 14 * 2 = 28; status producing
    assert(rec.head.getAs[Long]("produced") == 28L)
    assert(rec.head.getAs[Int]("status_id") == StateMachine.StatusProducing)

    val hist = spark.read.parquet(s"$outDir/histories")
    // history rows carry the raw counter (10 + 14)
    assert(hist.agg(sum("quantity")).as[Long].collect().head == 24L)

    val nf = spark.read.option("header", "true").csv(s"$outDir/parts_not_found")
    assert(nf.count() == 1)
    assert(nf.collect().head.getAs[String]("numero_parte") == "ZZZ")
  }

  test("one AvailableNow drain of both observations gives the golden two-drain record") {
    val outDir = Files.createTempDirectory("graft_stream_b").toString
    val ckpt = Files.createTempDirectory("graft_ckpt_b").toString
    val station = "PRENSA1"
    val machine = new StateMachine(
      knownParts = Map((station, "AAA") -> 1L),
      multipliers = Map("AAA" -> 2L),
      priorRecords = Map.empty,
      timeoutMs = 0)
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[PartObservation]
    input.addData(
      PartObservation(station, "AAA", "AAA", 10, 1.5, ts("2024-03-05 09:00:00")),
      PartObservation(station, "AAA", "AAA", 14, 1.6, ts("2024-03-05 09:00:05")))
    val q = Sinks.startPipeline(input.toDS(), machine, outDir, ckpt,
      org.apache.spark.sql.streaming.Trigger.AvailableNow())
    assert(q.awaitTermination(120000), "drain timed out")

    val rec = Sinks.readUpsertedBucketed(spark, s"$outDir/production_records").collect()
    assert(rec.length == 1)
    assert(rec.head.getAs[Long]("produced") == 28L)
    assert(rec.head.getAs[Int]("status_id") == StateMachine.StatusProducing)
  }
}
