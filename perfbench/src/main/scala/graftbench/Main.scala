package graftbench

import java.lang.management.{ManagementFactory, MemoryType}
import javax.management.{Notification, NotificationEmitter, NotificationListener}
import javax.management.openmbean.CompositeData

import scala.jdk.CollectionConverters._

import com.sun.management.GarbageCollectionNotificationInfo
import java.nio.file.{Files, Path, Paths}

import org.apache.spark.sql.SparkSession

/** An exception inside a call into graft, named by the operation. */
final class OpFailed(val op: String, cause: Throwable)
  extends RuntimeException(s"operation '$op' failed: $cause", cause)

/** Counts every call into graft against the attempted total. A call
  * that throws is a failed operation: it is counted, named and the run
  * ends — it never becomes a timing. */
final class Ops {
  private val nAttempted = new java.util.concurrent.atomic.AtomicLong
  private val nFailed = new java.util.concurrent.atomic.AtomicLong
  def attempted: Long = nAttempted.get
  def failed: Long = nFailed.get

  def apply[T](name: String)(body: => T): T = {
    nAttempted.incrementAndGet()
    try body
    catch {
      case t: Throwable =>
        // an operation nested in this one (a micro-batch inside a
        // stream drain) already counted and named itself
        Ops.inner(t) match {
          case Some(f) => throw f
          case None =>
            nFailed.incrementAndGet()
            throw new OpFailed(name, t)
        }
    }
  }
}

object Ops {
  def inner(t: Throwable): Option[OpFailed] =
    Iterator.iterate(t)(_.getCause).takeWhile(_ != null).take(16)
      .collectFirst { case f: OpFailed => f }
}

final case class Metric(value: Double, unit: String)

/** What a workload reports. `detail` carries the workload's own named
  * figures (for example `plc.epoch_s.p50`); run.py prints them on a line
  * of their own, above the result line. */
final case class Outcome(
    problems: Seq[String],
    endToEnd: Map[String, Metric],
    perLayer: Map[String, Metric],
    detail: Map[String, Metric])

final case class Ctx(spark: SparkSession, seed: Long, seconds: Int, trace: Boolean,
    work: Path, ops: Ops, sessionStartS: Double, inputGenS: Seq[Double]) {
  def heapPeakMb: Double = HeapPeak.mb

  /** Bytes and data files under `dir` (names starting `.` or `_` are
    * metadata and skipped, as Spark skips them). */
  def diskUsage(dir: Path): (Long, Long) = {
    if (!Files.exists(dir)) (0L, 0L)
    else {
      val st = Files.walk(dir)
      try {
        val files = st.filter(p => Files.isRegularFile(p)).toArray.map(_.asInstanceOf[Path])
        val data = files.filterNot { p =>
          val n = p.getFileName.toString
          n.startsWith(".") || n.startsWith("_")
        }
        (files.map(Files.size).sum, data.length.toLong)
      } finally st.close()
    }
  }
}

/** The largest heap in use right after a GC, over every GC of the JVM
  * from [[start]] on, timed sections included: each collector's
  * notification carries the usage of every pool after that GC, and the
  * heap pools are summed. */
object HeapPeak {
  private val peak = new java.util.concurrent.atomic.AtomicLong
  private lazy val heapPools: Set[String] = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == MemoryType.HEAP).map(_.getName).toSet

  private val listener = new NotificationListener {
    def handleNotification(n: Notification, handback: AnyRef): Unit =
      if (n.getType == GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
        val info = GarbageCollectionNotificationInfo.from(n.getUserData.asInstanceOf[CompositeData])
        val used = info.getGcInfo.getMemoryUsageAfterGc.asScala
          .collect { case (pool, u) if heapPools(pool) => u.getUsed }.sum
        peak.accumulateAndGet(used, (a, b) => math.max(a, b))
      }
  }

  def start(): Unit = ManagementFactory.getGarbageCollectorMXBeans.asScala.foreach {
    case e: NotificationEmitter => e.addNotificationListener(listener, null, null)
    case _ =>
  }

  /** The peak so far, in MB. */
  def mb: Double = peak.get / 1048576.0
}

trait Workload {
  def name: String
  def run(ctx: Ctx): Outcome
}

/** The metric names the benchmark prints; BENCHMARK.json lists the
  * same names (MetricsSpec checks the two agree). */
object Metrics {
  val endToEnd: Seq[(String, String)] = Seq(
    "setup_s" -> "s",
    "latency_s.p50" -> "s",
    "throughput_per_s" -> "1/s",
    "heap_peak_mb" -> "MB")

  /** One to three queries per batch module, chosen so the function
    * layers below each sit on a query's path (q21 decode_plc_words, qd2
    * minhash_sigs, qm4 phash_blocks, qs7 vec_dot/nearest_cells) and the
    * plans layer is exercised (q8 AsOf, q33 GroupTopK). */
  val queries: Seq[String] = Seq(
    "q8_asof", "q21_plc_decode", "q33_group_topk", "qd2_minhash_lsh",
    "qs7_ivf_search", "qm4_video_framedup", "qt3_tokens", "qc1_curation")

  val functions: Seq[String] = Seq(
    "decode_plc_words", "minhash_sigs", "phash_blocks", "vec_dot", "int8_dot", "nearest_cells")

  val perLayer: Seq[(String, String)] = Seq(
    "spark.session_start_s" -> "s",
    "trace.overhead_pct" -> "%",
    "sources.offset_ms" -> "ms",
    "stream.plan_ms" -> "ms",
    "stream.checkpoint_ms" -> "ms",
    "stream.state.commit_ms" -> "ms",
    "stream.state.update_ms" -> "ms",
    "stream.state.rows" -> "count",
    "stream.state.bytes" -> "bytes",
    "stream.sinks.apply_s" -> "s",
    "stream.sinks.jobs" -> "count",
    "stream.sinks.files_written" -> "count",
    "stream.sinks.bytes_written" -> "bytes",
    "spark.jobs_per_epoch" -> "count",
    "spark.tasks_per_epoch" -> "count",
    "spark.driver_gap_s" -> "s",
    "spark.shuffle_bytes_per_epoch" -> "bytes",
    "stream.ingest.batch_s" -> "s",
    "stream.ingest.jobs" -> "count",
    "stream.ingest.tasks" -> "count",
    "stream.ingest.driver_gap_s" -> "s",
    "stream.ingest.shuffle_bytes" -> "bytes",
    "stream.ingest.bytes_written" -> "bytes",
    "stream.ingest.compact_s" -> "s",
    "stream.ingest.files_before_fold" -> "count",
    "stream.ingest.files_after_fold" -> "count",
    "stream.ingest.search.jobs" -> "count",
    "stream.ingest.search.rows_scanned_per_result" -> "count") ++
    queries.flatMap(q => Seq(
      s"batch.$q.steady_s" -> "s",
      s"batch.$q.jobs" -> "count",
      s"batch.$q.tasks" -> "count",
      s"batch.$q.shuffle_bytes" -> "bytes",
      s"batch.$q.driver_gap_s" -> "s")) ++
    functions.map(f => s"functions.$f.ns_per_row" -> "ns")

  /** The metrics of one result line: every name of the requested list,
    * in list order; layers a workload does not exercise read 0. */
  def complete(trace: Boolean, got: Map[String, Metric]): Seq[(String, Metric)] = {
    val names = if (trace) perLayer else endToEnd
    val unknown = got.keySet -- names.map(_._1)
    require(unknown.isEmpty, s"metrics not declared: ${unknown.toSeq.sorted.mkString(", ")}")
    names.map { case (n, unit) =>
      val m = got.get(n) match {
        case Some(v) => v
        case None if trace => Metric(0.0, unit)
        case None => throw new IllegalStateException(s"end-to-end metric $n was not measured")
      }
      require(m.unit == unit, s"metric $n measured in ${m.unit}, declared in $unit")
      n -> m
    }
  }
}

object Main {
  val workloads: Seq[Workload] = Seq(PlcLive, IngestServe, CurateBatch)

  def session(cores: Int, work: Path): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("graft-perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.adaptive.coalescePartitions.parallelismFirst", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .config("spark.sql.streaming.numRecentProgressUpdates", "100000")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  private def arg(args: Array[String], key: String): Option[String] = {
    val i = args.indexOf(key)
    if (i >= 0 && i + 1 < args.length) Some(args(i + 1)) else None
  }

  def main(args: Array[String]): Unit = {
    val wl = arg(args, "--workload").getOrElse(sys.error("--workload is required"))
    val workload = workloads.find(_.name == wl)
      .getOrElse(sys.error(s"unknown workload $wl; known: ${workloads.map(_.name).mkString(", ")}"))
    val seed = arg(args, "--seed").map(_.toLong).getOrElse(1L)
    val seconds = arg(args, "--seconds").map(_.toInt).getOrElse(10)
    val trace = arg(args, "--trace").contains("1")
    val work = Paths.get(arg(args, "--work").getOrElse(sys.error("--work is required")))
    val result = Paths.get(arg(args, "--result").getOrElse(sys.error("--result is required")))
    val genS = arg(args, "--input-gen-s").toSeq.flatMap(_.split(",")).filter(_.nonEmpty).map(_.toDouble)
    val cores = arg(args, "--cores").map(_.toInt).getOrElse(Runtime.getRuntime.availableProcessors())
    Files.createDirectories(work)
    HeapPeak.start()

    val spark = session(cores, work)
    val sessionStartS =
      (System.currentTimeMillis() - ManagementFactory.getRuntimeMXBean.getStartTime) / 1000.0
    val code =
      try runWorkload(workload, Ctx(spark, seed, seconds, trace, work, new Ops, sessionStartS, genS), result)
      catch { case t: Throwable => t.printStackTrace(); 1 }
      finally spark.stop()
    sys.exit(code)
  }

  /** Run one workload and write its result file. Exit code: 0 for a
    * correct run, 3 when a check failed, 2 when an operation threw (the
    * result then has no metrics and counts the failure). */
  def runWorkload(workload: Workload, ctx: Ctx, result: Path): Int =
    try {
      val out = workload.run(ctx)
      val metrics = Metrics.complete(ctx.trace,
        if (ctx.trace) out.perLayer + ("spark.session_start_s" -> Metric(ctx.sessionStartS, "s"))
        else out.endToEnd)
      out.problems.foreach(p => System.err.println(s"graftbench: check failed: $p"))
      if (ctx.trace) Trace.write(ctx.work.resolve("spans.jsonl"))
      writeResult(result, out.problems.isEmpty, ctx.ops, metrics, out.detail)
      if (out.problems.isEmpty) 0 else 3
    } catch {
      case t: Throwable if Ops.inner(t).isDefined =>
        val f = Ops.inner(t).get
        System.err.println(s"graftbench: ${f.getMessage}")
        f.getCause.printStackTrace()
        writeResult(result, correct = false, ctx.ops, Nil, Map.empty)
        2
    }

  private def writeResult(path: Path, correct: Boolean, ops: Ops,
      metrics: Seq[(String, Metric)], detail: Map[String, Metric]): Unit = {
    def obj(ms: Seq[(String, Metric)]) = ms.map { case (n, m) =>
      s"""${Json.str(n)}:{"value":${Json.num(m.value)},"unit":${Json.str(m.unit)}}"""
    }.mkString("{", ",", "}")
    Files.write(path, (s"""{"correct":$correct,"attempted":${ops.attempted},""" +
      s""""failed":${ops.failed},"metrics":${obj(metrics)},""" +
      s""""detail":${obj(detail.toSeq.sortBy(_._1))}}""" + "\n").getBytes("UTF-8"))
  }
}
