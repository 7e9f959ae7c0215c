package graftbench

import java.nio.file.{Files, Path}
import java.sql.Timestamp

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryProgress, Trigger}

import graft.model.{ActionRow, StationSideConfig}
import graft.sources.PlcSim
import graft.stream.{Decode, Sinks, StateMachine}

/** A seeded PLC fleet for the plc-sim source: one PLC per station, two
  * sides (LH, RH) per station, each side a counter that advances one
  * per tick, a static cycle-time word and a four-word part-number block.
  * Part numbers come from a catalog whose words sit at their own
  * addresses, so a station picks its part by the block it reads.
  * Some (station, part) pairs are missing from the part catalog and
  * take the not-found path. */
final case class Fleet(seed: Long, nPlc: Int) {
  private val rnd = new scala.util.Random(seed)
  private val catalogSize = 16
  val catalog: Vector[String] = Vector.fill(catalogSize)(
    Iterator.continually(rnd.nextInt(36)).take(8)
      .map(i => "ABCDEFGHIJKLMNOPQRSTUVWXYZ0123456789".charAt(i)).mkString)
  private def blockOf(k: Int): Seq[String] = (0 until 4).map(w => s"D${5000 + 4 * k + w}")

  val ips: Vector[String] = Vector.tabulate(nPlc)(i => s"10.${seed & 0x7f}.${i / 250}.${i % 250 + 1}")
  val stations: Vector[String] = Vector.tabulate(nPlc)(i => f"PRENSA$i%04d")
  /** Catalog index of each station's LH and RH part. */
  val sides: Vector[(Int, Int)] = Vector.fill(nPlc) {
    val lh = rnd.nextInt(catalogSize)
    (lh, if (rnd.nextDouble() < 0.75) lh else rnd.nextInt(catalogSize))
  }
  val keys: Vector[(String, String)] = stations.zip(sides).flatMap { case (s, (l, r)) =>
    Seq(s -> catalog(l), s -> catalog(r)).distinct
  }
  val known: Set[(String, String)] = keys.filter(_ => rnd.nextDouble() >= 0.1).toSet
  val multipliers: Map[String, Long] = catalog.map(p => p -> (1L + rnd.nextInt(4))).toMap
  /** First tick: 08:00 UTC plus a seeded offset, so every run of up to
    * 7 hours of ticks stays inside shift 1 of one plan date. */
  val startSec: Long = 1709625600L + rnd.nextInt(3600)
  val planDate = "2024-03-05"

  val counterAddr = Map("LH" -> "D3100", "RH" -> "D3110")
  val layout: Seq[StationSideConfig] = ips.indices.flatMap { i =>
    val (l, r) = sides(i)
    Seq(StationSideConfig(ips(i), stations(i), "LH", "D3100", Some("D3101"), blockOf(l)),
      StationSideConfig(ips(i), stations(i), "RH", "D3110", Some("D3111"), blockOf(r)))
  }
  val addresses: Seq[String] =
    Seq("D3100", "D3101", "D3110", "D3111") ++ (0 until catalogSize).flatMap(blockOf)
  /** Part numbers as PLC words: two ASCII chars per word, low byte first. */
  val words: String = (0 until catalogSize).flatMap { k =>
    blockOf(k).zip(catalog(k).grouped(2).toSeq).map { case (a, cc) =>
      s"$a=${cc.charAt(0).toInt + cc.charAt(1).toInt * 256}"
    }
  }.mkString(";")

  /** The fleet as a stream that admits one tick per micro-batch. */
  def source(ctx: Ctx, maxTicks: Long): DataFrame =
    ctx.spark.readStream.format("plc-sim")
      .option("ips", ips.mkString(","))
      .option("addresses", addresses.mkString(","))
      .option("counters", "D3100,D3110")
      .option("words", words)
      .option("startEpochSec", startSec)
      .option("maxTicks", maxTicks)
      .option("maxTicksPerTrigger", 1L)
      .load()

  /** Combined counter of one (station, part) at `tick`: the sum over the
    * sides that read that part, as the state machine combines them. */
  def counter(i: Int, part: String, tick: Long): Long = {
    val (l, r) = sides(i)
    Seq("LH" -> l, "RH" -> r).collect { case (side, k) if catalog(k) == part =>
      (PlcSim.base(ips(i), counterAddr(side)) + tick) & 0xFFFF
    }.sum
  }

  private def recordId(station: String, part: String) = s"$station|$part|$planDate|1"

  /** Final `production_records` after `ticks` ticks, in closed form:
    * one record per known key, produced = last combined counter times
    * the part's multiplier, status producing (7). */
  def expectedRecords(ticks: Long): Seq[(String, String, String, Long, Int, Timestamp)] =
    for {
      (station, i) <- stations.zipWithIndex
      part <- keys.collect { case (`station`, p) => p }.distinct
      if known((station, part))
    } yield (recordId(station, part), station, part,
      counter(i, part, ticks - 1) * multipliers(part), StateMachine.StatusProducing,
      new Timestamp((startSec + ticks - 1) * 1000L))

  /** `histories`: one row per tick whose combined counter passes the
    * gate (every tick, except tick 0 when its counter reads 0). */
  def expectedHistories(ticks: Long): Seq[(String, Long, Timestamp)] =
    for {
      (station, i) <- stations.zipWithIndex
      part <- keys.collect { case (`station`, p) => p }.distinct
      if known((station, part))
      t <- 0L until ticks
      if counter(i, part, t) > 0
    } yield (recordId(station, part), counter(i, part, t), new Timestamp((startSec + t) * 1000L))

  def expectedNotFound: Seq[(String, String, String)] =
    keys.filterNot(known).map { case (s, p) => (s, p, planDate) }
}

/** The plc-sim → decode → state machine → sinks stream, wired as
  * `Sinks.startPipeline` wires it; the benchmark owns the foreachBatch
  * so it can time the sink call. */
object PlcStream {
  /** Files and bytes each traced epoch's sink call wrote, by epoch id. */
  val writes = new java.util.concurrent.ConcurrentHashMap[Long, (Long, Long)]()

  def start(ctx: Ctx, fleet: Fleet, dir: Path, maxTicks: Long,
      onEpoch: Long => Unit = _ => ()): StreamingQuery = {
    val spark = ctx.spark
    val out = dir.resolve("out").toString
    val obs = ctx.ops("plc.decode")(
      Decode.decodeSnapshots(spark, fleet.source(ctx, maxTicks), fleet.layout))
    val machine = new StateMachine(
      knownParts = fleet.known.toSeq.map(k => k -> 1L).toMap,
      multipliers = fleet.multipliers, priorRecords = Map.empty, timeoutMs = 0)
    ctx.ops("plc.start")(machine(obs).writeStream.outputMode("append")
      .option("checkpointLocation", dir.resolve("ckpt").toString)
      .trigger(Trigger.ProcessingTime(0L))
      .foreachBatch { (b: Dataset[ActionRow], id: Long) =>
        onEpoch(id)
        val t0 = System.currentTimeMillis()
        ctx.ops(s"Sinks.applyActions epoch $id") {
          Trace.span("stream.sinks.apply", s"epoch=$id") {
            Sinks.applyActions(b, out, epochId = id)
          }
        }
        // file timestamps come from a coarser clock; allow for it
        if (Trace.on) writes.put(id, writtenSince(dir.resolve("out"), t0 - 20))
        ()
      }.start())
  }

  /** Whether timed epoch `id` (of `first` to `last`) is traced in a
    * traced run: every other one, never the first or last, so each
    * traced epoch sits between two untraced ones. */
  def isTraced(first: Long, last: Long)(id: Long): Boolean =
    id > first && id < last && (id - first) % 2 == 1

  def alternate(ctx: Ctx, traced: Long => Boolean): Long => Unit = id =>
    if (ctx.trace) {
      Trace.attach(ctx.spark.sparkContext)
      Trace.set(traced(id))
    }

  def dataEpochs(q: StreamingQuery): Seq[StreamingQueryProgress] =
    q.recentProgress.toSeq.filter(p => p != null && p.numInputRows > 0)

  /** Block until `n` data epochs have committed; seconds waited. */
  def awaitEpochs(q: StreamingQuery, n: Int): Double = {
    val t0 = System.nanoTime()
    while (dataEpochs(q).size < n) {
      q.exception.foreach(e => throw e)
      require(q.isActive, "stream stopped before its warm-up epochs committed")
      Thread.sleep(2)
    }
    (System.nanoTime() - t0) / 1e9
  }

  def durMs(p: StreamingQueryProgress, k: String): Double =
    Option(p.durationMs.get(k)).map(_.doubleValue).getOrElse(0.0)

  /** Set-up: `reps` times, build the fleet and analyze the stream's
    * plan (decode + state machine); then start the stream on a fresh
    * directory and wait for its first `warm` one-tick epochs, which pay
    * JIT, codegen and state-store creation. Returns the set-up seconds
    * (median plan time plus warm-up) and the running query. */
  def setUp(ctx: Ctx, nPlc: Int, reps: Int, warm: Int, maxTicks: Long,
      onEpoch: Long => Unit = _ => ()): (Double, Fleet, Path, StreamingQuery) = {
    val planS = (1 to reps).map { _ =>
      val t0 = System.nanoTime()
      val f = Fleet(ctx.seed, nPlc)
      ctx.ops("plc.plan")(Decode.decodeSnapshots(ctx.spark, f.source(ctx, maxTicks), f.layout)
        .queryExecution.analyzed)
      (System.nanoTime() - t0) / 1e9
    }
    val fleet = Fleet(ctx.seed, nPlc)
    val dir = ctx.work.resolve("plc")
    val t0 = System.nanoTime()
    val q = start(ctx, fleet, dir, maxTicks, onEpoch)
    ctx.ops("plc.warm-up epochs")(awaitEpochs(q, warm))
    val warmS = (System.nanoTime() - t0) / 1e9
    System.err.println(s"graftbench: set-up seconds: session ${ctx.sessionStartS}, " +
      s"plan ${planS.mkString(" ")}, warm-up $warmS")
    (Stats.median(planS) + warmS, fleet, dir, q)
  }

  /** Row-for-row check of the sink tables against the closed form. The
    * tables hold one row per key or per key and tick, so they are
    * collected and compared as multisets. */
  def check(ctx: Ctx, fleet: Fleet, dir: Path, ticks: Long): Seq[String] = {
    val spark = ctx.spark
    val out = dir.resolve("out").toString
    def rows(what: String, df: => DataFrame): Seq[Seq[Any]] =
      ctx.ops(s"plc.read $what")(df.collect().toSeq.map(_.toSeq))
    def diff(name: String, got: Seq[Seq[Any]], want: Seq[Product]): Option[String] = {
      val w = want.map(_.productIterator.toSeq)
      val extra = got.diff(w).size
      val missing = w.diff(got).size
      if (extra + missing == 0) None
      else Some(s"$name: $extra unexpected and $missing missing rows after $ticks ticks")
    }
    Seq(
      diff("production_records", rows("production_records",
        Sinks.readUpsertedBucketed(spark, s"$out/production_records")
          .select("record_id", "station", "parte", "produced", "status_id", "ts")),
        fleet.expectedRecords(ticks)),
      diff("histories", rows("histories",
        spark.read.parquet(s"$out/histories").select("record_id", "quantity", "ts")),
        fleet.expectedHistories(ticks)),
      diff("parts_not_found", rows("parts_not_found",
        spark.read.option("header", "true").csv(s"$out/parts_not_found")
          .select("estacion", "numero_parte", "fecha")),
        fleet.expectedNotFound)
    ).flatten
  }

  /** Files and bytes written since `sinceMs` under `dir`. */
  def writtenSince(dir: Path, sinceMs: Long): (Long, Long) = {
    if (!Files.exists(dir)) (0L, 0L)
    else {
      val st = Files.walk(dir)
      try {
        val fresh = st.iterator.asScala.filter { p =>
          val n = p.getFileName.toString
          Files.isRegularFile(p) && !n.startsWith(".") && !n.startsWith("_") &&
            Files.getLastModifiedTime(p).toMillis >= sinceMs
        }.toVector
        (fresh.size.toLong, fresh.map(Files.size).sum)
      } finally st.close()
    }
  }

  /** Per-layer figures of query `qid` over its traced epochs (see
    * [[isTraced]]): medians of the progress durations, state-store
    * counters, the sink span, and the Spark jobs stamped with each
    * epoch's id; the untraced neighbours give the tracing overhead. */
  def layers(ctx: Ctx, qid: String, timed: Seq[StreamingQueryProgress],
      isTraced: Long => Boolean): Map[String, Metric] = {
    val sc = ctx.spark.sparkContext
    val traced = timed.filter(p => isTraced(p.batchId))
    val jobs = Trace.jobs(sc).filter(_.query == qid)
    val sinkSpans = Trace.allSpans.filter(_.name == "stream.sinks.apply")
      .map(s => s.tag.stripPrefix("epoch=").toLong -> s).toMap
    val all = Trace.allSpans
    def med(f: StreamingQueryProgress => Double) = Stats.median(traced.map(f))
    def state(p: StreamingQueryProgress) = p.stateOperators.headOption
    val perEpoch = traced.map { p =>
      val js = jobs.filter(_.batch == p.batchId)
      val start = java.time.Instant.parse(p.timestamp).toEpochMilli.toDouble
      val end = start + durMs(p, "triggerExecution")
      val gap = Stats.driverGap(start, end, js.map(j => (j.startMs, if (j.endMs.isNaN) end else j.endMs)))
      (js.size.toDouble, js.map(_.tasks).sum.toDouble, gap / 1000, js.map(_.shuffleBytes).sum.toDouble)
    }
    val sinks = traced.flatMap(p => sinkSpans.get(p.batchId))
    Map(
      "sources.offset_ms" -> Metric(med(p => durMs(p, "latestOffset") + durMs(p, "getBatch")), "ms"),
      "stream.plan_ms" -> Metric(med(durMs(_, "queryPlanning")), "ms"),
      "stream.checkpoint_ms" -> Metric(med(p => durMs(p, "walCommit") + durMs(p, "commitOffsets")), "ms"),
      "stream.state.commit_ms" -> Metric(med(state(_).map(_.commitTimeMs.toDouble).getOrElse(0.0)), "ms"),
      "stream.state.update_ms" -> Metric(med(state(_).map(_.allUpdatesTimeMs.toDouble).getOrElse(0.0)), "ms"),
      "stream.state.rows" -> Metric(state(traced.last).map(_.numRowsTotal.toDouble).getOrElse(0.0), "count"),
      "stream.state.bytes" -> Metric(state(traced.last).map(_.memoryUsedBytes.toDouble).getOrElse(0.0), "bytes"),
      "stream.sinks.apply_s" -> Metric(Stats.median(sinks.map(_.durMs / 1000)), "s"),
      "stream.sinks.jobs" -> Metric(Stats.median(sinks.map(s => Trace.jobsOf(s, all, jobs).size.toDouble)), "count"),
      "stream.sinks.files_written" -> Metric(Stats.median(traced.map(p =>
        Option(writes.get(p.batchId)).map(_._1.toDouble).getOrElse(0.0))), "count"),
      "stream.sinks.bytes_written" -> Metric(Stats.median(traced.map(p =>
        Option(writes.get(p.batchId)).map(_._2.toDouble).getOrElse(0.0))), "bytes"),
      "spark.jobs_per_epoch" -> Metric(Stats.median(perEpoch.map(_._1)), "count"),
      "spark.tasks_per_epoch" -> Metric(Stats.median(perEpoch.map(_._2)), "count"),
      "spark.driver_gap_s" -> Metric(Stats.median(perEpoch.map(_._3)), "s"),
      "spark.shuffle_bytes_per_epoch" -> Metric(Stats.median(perEpoch.map(_._4)), "bytes"),
      "trace.overhead_pct" -> Metric(100 * Stats.tracedOverhead(
        timed.map(p => isTraced(p.batchId) -> durMs(p, "triggerExecution"))), "%"))
  }
}

/** Live traffic: the fleet admits one tick per micro-batch, so every
  * epoch pays the sink's fixed cost (rewrites, checkpoint, scheduling)
  * for a handful of rows. */
object PlcLive extends Workload {
  val name = "plc_live"
  val plcs = 50
  /** Untimed epochs that pay stream start, JIT and state-store creation. */
  val warm = 1
  val reps = 3
  /** Timed epochs per run: one per --second, at least 8, so the median
    * has samples on both sides to spare. More would not fit the
    * benchmark's schedule (a run already takes about 45 s on 4 cores).
    * The work per run is fixed by --seconds and does not follow the
    * machine. */
  val minEpochs = 8
  val epochsPerSecond = 1.0

  def run(ctx: Ctx): Outcome = {
    val n = math.max(minEpochs, math.round(ctx.seconds * epochsPerSecond).toInt)
    val ticks = (warm + n).toLong
    val traced = PlcStream.isTraced(warm, ticks - 1) _
    val (setupS, fleet, dir, q) = PlcStream.setUp(ctx, plcs, reps, warm, ticks,
      onEpoch = PlcStream.alternate(ctx, traced))
    val t0 = System.nanoTime()
    ctx.ops("plc_live.drain")(q.processAllAvailable())
    val wall = (System.nanoTime() - t0) / 1e9
    val epochs = PlcStream.dataEpochs(q)
    q.stop()

    val problems = Seq.newBuilder[String]
    if (epochs.size != ticks)
      problems += s"expected $ticks one-tick epochs, saw ${epochs.size}"
    epochs.filter(_.numInputRows != plcs).foreach(p =>
      problems += s"epoch ${p.batchId} admitted ${p.numInputRows} snapshots, expected $plcs")
    problems ++= PlcStream.check(ctx, fleet, dir, ticks)

    val timed = epochs.drop(warm)
    val lat = timed.map(PlcStream.durMs(_, "triggerExecution") / 1000)
    System.err.println(s"graftbench: epoch seconds ${lat.mkString(" ")}")
    val (bytes, _) = ctx.diskUsage(dir)
    val e2e = Map(
      "setup_s" -> Metric(ctx.sessionStartS + setupS, "s"),
      "latency_s.p50" -> Metric(Stats.percentile(lat, 50), "s"),
      "throughput_per_s" -> Metric(n / wall, "1/s"),
      "heap_peak_mb" -> Metric(ctx.heapPeakMb, "MB"))
    val detail = Map(
      "plc.epoch_s.p50" -> e2e("latency_s.p50"),
      "plc.epoch_s.p90" -> Metric(Stats.percentile(lat, 90), "s"),
      "plc.ticks_per_s" -> Metric(n / wall, "1/s"),
      "plc.disk_mb" -> Metric(bytes / 1048576.0, "MB"),
      "plc.epochs_timed" -> Metric(timed.size, "count"))
    val layers = if (ctx.trace) PlcStream.layers(ctx, q.id.toString, timed, traced) else Map.empty[String, Metric]
    Outcome(problems.result(), e2e, layers, detail)
  }
}
