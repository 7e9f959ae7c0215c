package graft

import java.sql.Timestamp

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.OutputMode

import graft.model._
import graft.stream.StateMachine

/** The event-time silence clock on RocksDB, the large-state production
  * store. The spec is named for the transformWithState host it first
  * pinned, which required RocksDB; that host is gone and
  * [[StateMachine.withDimTables]] with [[StateMachine.EventTime]] is the
  * one event-time host, so the same two cases now run through it:
  *  - the watermark (not the wall clock) closes a silent run, at the
  *    deterministic stamp lastTs + timeout;
  *  - observations later than the watermark allowance are dropped by
  *    the engine before the state function sees them.
  * EventTimeStateMachineSpec pins both on the session's default store.
  */
class EventTimeTwsSpec extends SparkSpec {
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

  private def withRocksDB[A](f: => A): A = {
    val key = "spark.sql.streaming.stateStore.providerClass"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try f finally prev match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
  }

  private val eventTime = StateMachine.EventTime("10 seconds")

  test("tws event-time close follows the watermark, stamped lastTs + timeout") {
    withRocksDB {
      implicit val sqlCtx = spark.sqlContext
      val (parts, mults, records) = dims
      val input = MemoryStream[PartObservation]
      val q = StateMachine.withDimTables(input.toDS(), parts, mults, records,
          timeoutMs = 30000L, clock = eventTime)
        .writeStream.format("memory").queryName("ettws_close")
        .outputMode(OutputMode.Append).start()
      try {
        input.addData(
          PartObservation(station, "AAA", "AAA", 10, 1.5, ts("2024-03-05 09:00:00")),
          PartObservation(station, "AAA", "AAA", 12, 1.5, ts("2024-03-05 09:00:10")))
        q.processAllAvailable()
        // stream clock parked below the deadline: idling must not close
        Thread.sleep(1500)
        q.processAllAvailable()
        val parked = spark.table("ettws_close").as[ActionRow].collect()
        assert(!parked.exists(_.action == ActionRow.Close),
          "close must follow the watermark, not the wall clock")
        // a different key advances the watermark past AAA's deadline
        input.addData(
          PartObservation(station, "BBB", "BBB", 1, 0.5, ts("2024-03-05 09:10:00")))
        q.processAllAvailable()
        val closes = spark.table("ettws_close").as[ActionRow].collect()
          .filter(_.action == ActionRow.Close)
        assert(closes.map(_.parte).toSeq == Seq("AAA"),
          s"exactly AAA's silent run closes (BBB is live): ${closes.toSeq}")
        assert(closes.head.ts == ts("2024-03-05 09:00:40"),
          "close stamp is lastTs + timeout — pure event time")
      } finally q.stop()
    }
  }

  test("late row beyond the allowance is dropped before the processor") {
    withRocksDB {
      implicit val sqlCtx = spark.sqlContext
      val (parts, mults, records) = dims
      val input = MemoryStream[PartObservation]
      val q = StateMachine.withDimTables(input.toDS(), parts, mults, records,
          timeoutMs = 30000L, clock = eventTime)
        .writeStream.format("memory").queryName("ettws_late")
        .outputMode(OutputMode.Append).start()
      try {
        input.addData(
          PartObservation(station, "AAA", "AAA", 10, 1.5, ts("2024-03-05 09:00:00")))
        q.processAllAvailable()
        input.addData(
          PartObservation(station, "BBB", "BBB", 1, 0.5, ts("2024-03-05 09:10:00")))
        q.processAllAvailable()
        input.addData( // 08:59:00 is far below watermark 09:09:50
          PartObservation(station, "AAA", "AAA", 99, 1.5, ts("2024-03-05 08:59:00")),
          PartObservation(station, "BBB", "BBB", 2, 0.5, ts("2024-03-05 09:10:30")))
        q.processAllAvailable()
        val actions = spark.table("ettws_late").as[ActionRow].collect()
        assert(!actions.exists(a => a.parte == "AAA" && a.quantity == 99),
          "a counter-99 history row would mean the late observation reached the gate")
        assert(actions.count(a => a.parte == "AAA" && a.action == ActionRow.Close) == 1,
          "the silent run still closes exactly once")
      } finally q.stop()
    }
  }
}
