package graft

import java.sql.Timestamp

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.OutputMode

import graft.model._
import graft.stream.StateMachine

/** ST4 with the silence clock on EVENT time: the same Core transition
  * under EventTimeTimeout + withWatermark
  * ([[StateMachine.withDimTables]] with [[StateMachine.EventTime]]).
  * Pins, on the session's default state store (EventTimeTwsSpec pins
  * the same two watermark cases on RocksDB):
  *  - the watermark (not the wall clock) closes a silent run, at the
  *    deterministic stamp lastTs + timeout;
  *  - observations later than the watermark allowance are DROPPED by
  *    the engine — they can neither move the gate nor resurrect state;
  * and, on in-order input with closes disabled, that the event-time
  * clock is action-for-action identical to the processing-time clock
  * (the Core is shared; only the timeout plumbing differs).
  */
class EventTimeStateMachineSpec extends SparkSpec {
  import spark.implicits._

  private val station = "PRENSA1"
  private def ts(s: String) = Timestamp.valueOf(s)

  private def dims = {
    val parts = Seq((station, "AAA", 1L), (station, "BBB", 2L))
      .toDF("station", "parte", "part_id")
    val mults = Seq.empty[(String, Long)].toDF("parte", "multiplier")
    val records = Seq.empty[(String, Long, Int, Long)]
      .toDF("record_id", "produced", "status_id", "planned")
    (parts, mults, records)
  }

  private val eventTime = StateMachine.EventTime("10 seconds")

  test("watermark-driven close: silence in STREAM time closes 7→8 once, stamped lastTs + timeout") {
    implicit val sqlCtx = spark.sqlContext
    val (parts, mults, records) = dims
    val input = MemoryStream[PartObservation]
    val q = StateMachine.withDimTables(input.toDS(), parts, mults, records,
        timeoutMs = 30000L, clock = eventTime)
      .writeStream.format("memory").queryName("et_close")
      .outputMode(OutputMode.Append).start()
    try {
      // batch 1: AAA produces at 09:00
      input.addData(
        PartObservation(station, "AAA", "AAA", 10, 1.5, ts("2024-03-05 09:00:00")),
        PartObservation(station, "AAA", "AAA", 12, 1.5, ts("2024-03-05 09:00:10")))
      q.processAllAvailable()
      // wall-clock time passes but the STREAM clock is parked at
      // watermark 09:00:00 (< deadline 09:00:40): no close may fire,
      // no matter how long the query idles
      Thread.sleep(1500)
      q.processAllAvailable()
      val whileParked = spark.table("et_close").as[ActionRow].collect()
      assert(!whileParked.exists(_.action == ActionRow.Close),
        "close must follow the watermark, not the wall clock")
      // batch 2: a DIFFERENT key carries the stream clock to 09:10;
      // the watermark (09:09:50) passes AAA's deadline and the engine's
      // no-data batch fires the timeout
      input.addData(
        PartObservation(station, "BBB", "BBB", 1, 0.5, ts("2024-03-05 09:10:00")))
      q.processAllAvailable()
      val actions = spark.table("et_close").as[ActionRow].collect()
      val closes = actions.filter(_.action == ActionRow.Close)
      assert(closes.map(_.parte).toSeq == Seq("AAA"),
        s"exactly AAA's silent run closes (BBB is live): ${closes.toSeq}")
      assert(closes.head.ts == ts("2024-03-05 09:00:40"),
        "close stamp is lastTs + timeout — pure event time, replay-deterministic")
    } finally q.stop()
  }

  test("late observation beyond the allowance is dropped: gate unmoved, closed run not resurrected") {
    implicit val sqlCtx = spark.sqlContext
    val (parts, mults, records) = dims
    val input = MemoryStream[PartObservation]
    val q = StateMachine.withDimTables(input.toDS(), parts, mults, records,
        timeoutMs = 30000L, clock = eventTime)
      .writeStream.format("memory").queryName("et_late")
      .outputMode(OutputMode.Append).start()
    try {
      input.addData(
        PartObservation(station, "AAA", "AAA", 10, 1.5, ts("2024-03-05 09:00:00")))
      q.processAllAvailable()
      input.addData( // stream clock → watermark 09:09:50 after this batch
        PartObservation(station, "BBB", "BBB", 1, 0.5, ts("2024-03-05 09:10:00")))
      q.processAllAvailable()
      // AAA's run closes in this batch; the LATE row (08:59:00, far
      // below watermark) must be filtered before the state function —
      // were it admitted, it would re-create state and emit an update
      input.addData(
        PartObservation(station, "AAA", "AAA", 99, 1.5, ts("2024-03-05 08:59:00")),
        PartObservation(station, "BBB", "BBB", 2, 0.5, ts("2024-03-05 09:10:30")))
      q.processAllAvailable()
      val actions = spark.table("et_late").as[ActionRow].collect()
      assert(!actions.exists(a => a.parte == "AAA" && a.quantity == 99),
        "a counter-99 history row would mean the late observation reached the gate")
      assert(actions.count(a => a.parte == "AAA" && a.action == ActionRow.Close) == 1,
        "the silent run still closes exactly once")
    } finally q.stop()
  }

  test("in-order input, closes disabled: event-time host ≡ processing-time host") {
    implicit val sqlCtx = spark.sqlContext
    val (parts, mults, records) = dims
    val observations = Seq(
      PartObservation(station, "AAA", "AAA", 10, 1.5, ts("2024-03-05 15:59:00")),
      PartObservation(station, "AAA", "AAA", 15, 1.5, ts("2024-03-05 15:59:30")),
      PartObservation(station, "AAA", "AAA", 18, 1.6, ts("2024-03-05 16:00:10")),
      PartObservation(station, "BBB", "BBB", 3, 0.9, ts("2024-03-05 09:00:02")))
    def drain(name: String,
        wire: org.apache.spark.sql.Dataset[PartObservation] =>
          org.apache.spark.sql.Dataset[ActionRow]): Seq[ActionRow] = {
      val input = MemoryStream[PartObservation]
      input.addData(observations: _*)
      val q = wire(input.toDS()).writeStream.format("memory").queryName(name)
        .outputMode(OutputMode.Append)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
      assert(q.awaitTermination(120000), s"$name drain timed out")
      spark.table(name).as[ActionRow].collect().toSeq
    }
    val key = (a: ActionRow) =>
      (a.action, a.parte, a.recordId, a.ts.getTime, a.quantity, a.produced)
    val viaEvent = drain("et_equiv",
      ds => StateMachine.withDimTables(ds, parts, mults, records, timeoutMs = 0,
        clock = eventTime))
      .sortBy(key)
    val viaProc = drain("pt_equiv",
      ds => StateMachine.withDimTables(ds, parts, mults, records, timeoutMs = 0))
      .sortBy(key)
    assert(viaEvent.nonEmpty, "event-time host emitted nothing")
    assert(viaEvent == viaProc,
      s"hosts diverged:\nevent: ${viaEvent.mkString("\n  ")}\nproc:  ${viaProc.mkString("\n  ")}")
  }
}
