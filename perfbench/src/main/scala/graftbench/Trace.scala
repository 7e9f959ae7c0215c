package graftbench

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** Pure summary math, kept free of Spark so the specs can check it on
  * synthetic traces. Intervals are half-open `(start, end)` pairs in one
  * time unit. */
object Stats {

  /** Linear-interpolated percentile (`p` in 0..100), the rule numpy and
    * Python's `statistics.quantiles(method="inclusive")` use. */
  def percentile(xs: Seq[Double], p: Double): Double = {
    require(xs.nonEmpty, "percentile of no samples")
    require(p >= 0 && p <= 100, s"percentile $p outside 0..100")
    val s = xs.sorted
    val rank = p / 100.0 * (s.length - 1)
    val lo = math.floor(rank).toInt
    val hi = math.ceil(rank).toInt
    s(lo) + (s(hi) - s(lo)) * (rank - lo)
  }

  def median(xs: Seq[Double]): Double = percentile(xs, 50)

  /** Total length covered by `intervals` inside `[from, to)`. */
  def covered(from: Double, to: Double, intervals: Seq[(Double, Double)]): Double = {
    val clipped = intervals.map { case (s, e) => (math.max(s, from), math.min(e, to)) }
      .filter { case (s, e) => e > s }.sortBy(_._1)
    var total = 0.0
    var curS = Double.NaN
    var curE = Double.NaN
    clipped.foreach { case (s, e) =>
      if (curS.isNaN) { curS = s; curE = e }
      else if (s <= curE) curE = math.max(curE, e)
      else { total += curE - curS; curS = s; curE = e }
    }
    if (!curS.isNaN) total += curE - curS
    total
  }

  /** Time inside `[from, to)` during which no Spark job ran. */
  def driverGap(from: Double, to: Double, jobs: Seq[(Double, Double)]): Double =
    (to - from) - covered(from, to, jobs)

  /** Tracing overhead from a run whose operations alternate between
    * traced (`true`) and untraced, in order: each traced operation that
    * sits between two untraced ones is compared with their mean, so a
    * trend along the run (JIT warm-up) cancels; the median ratio, less
    * one. */
  def tracedOverhead(ops: Seq[(Boolean, Double)]): Double = {
    val ratios = ops.indices.collect {
      case i if ops(i)._1 && i > 0 && i + 1 < ops.size && !ops(i - 1)._1 && !ops(i + 1)._1 =>
        ops(i)._2 / ((ops(i - 1)._2 + ops(i + 1)._2) / 2)
    }
    require(ratios.nonEmpty, "no traced operation between two untraced ones")
    median(ratios) - 1
  }

  /** A span's duration minus the part its child spans cover. */
  def selfTime(from: Double, to: Double, children: Seq[(Double, Double)]): Double =
    (to - from) - covered(from, to, children)
}

/** One call into a graft layer, recorded by the benchmark around the
  * call. `parent` is the enclosing span's id (0 at the top level);
  * `tag` carries the epoch id or query name. Times are wall-clock ms
  * with sub-ms precision, the clock Spark stamps job events with. */
final case class Span(id: Long, parent: Long, name: String, tag: String,
    startMs: Double, endMs: Double) {
  def durMs: Double = endMs - startMs
}

/** A Spark job seen by the listener, with the totals of its tasks.
  * `query`/`batch` are the streaming query id and micro-batch id Spark
  * stamps on the jobs of an epoch (empty/-1 outside streaming). */
final class JobRec(val id: Int, val span: Long, val startMs: Double,
    val query: String, val batch: Long) {
  var endMs: Double = Double.NaN
  var tasks = 0
  var shuffleBytes = 0L
  var recordsRead = 0L
  var bytesWritten = 0L
}

/** Span recorder plus job listener. Off by default: with tracing off a
  * span is just its body, so the untraced runs pay nothing. */
object Trace {
  /** Local property carrying the innermost open span id into the jobs
    * that span starts (local properties follow the calling thread). */
  val SpanKey = "graftbench.span"

  @volatile private var enabled = false
  private val nextId = new java.util.concurrent.atomic.AtomicLong(0)
  private val spans = mutable.ArrayBuffer.empty[Span]
  private val open = new ThreadLocal[List[Long]] { override def initialValue() = Nil }
  private var listener: JobListener = _

  def on: Boolean = enabled

  /** Attach the job listener (once per run). */
  def attach(sc: SparkContext): Unit = synchronized {
    if (listener == null) {
      listener = new JobListener
      sc.addSparkListener(listener)
    }
  }

  /** Switch recording on or off: while off, spans are just their
    * bodies and the listener ignores new jobs. Traced runs alternate
    * between the two to measure the tracing overhead. */
  def set(on: Boolean): Unit = enabled = on

  def span[T](name: String, tag: String = "")(body: => T): T =
    if (!enabled) body
    else {
      val sc = org.apache.spark.sql.SparkSession.getActiveSession
        .orElse(org.apache.spark.sql.SparkSession.getDefaultSession).map(_.sparkContext)
      val id = nextId.incrementAndGet()
      val stack = open.get()
      val parent = stack.headOption.getOrElse(0L)
      val prevProp = sc.map(_.getLocalProperty(SpanKey)).orNull
      sc.foreach(_.setLocalProperty(SpanKey, id.toString))
      open.set(id :: stack)
      val t0 = System.currentTimeMillis().toDouble
      val n0 = System.nanoTime()
      try body
      finally {
        val end = t0 + (System.nanoTime() - n0) / 1e6
        open.set(stack)
        sc.foreach(_.setLocalProperty(SpanKey, prevProp))
        spans.synchronized { spans += Span(id, parent, name, tag, t0, end) }
      }
    }

  def allSpans: Seq[Span] = spans.synchronized(spans.toVector)

  /** Every job seen so far, after the listener bus has drained. */
  def jobs(sc: SparkContext): Seq[JobRec] = {
    if (listener == null) Nil
    else {
      org.apache.spark.graftbench.BusDrain(sc)
      listener.synchronized(listener.jobs.values.toVector.sortBy(_.id))
    }
  }

  /** Ids of `root` and every span below it. */
  def subtree(root: Span, all: Seq[Span]): Set[Long] = {
    val kids = all.groupBy(_.parent)
    def go(id: Long): Set[Long] = kids.getOrElse(id, Nil).map(_.id).flatMap(go).toSet + id
    go(root.id)
  }

  /** Jobs started inside `s` or any of its child spans. */
  def jobsOf(s: Span, all: Seq[Span], jobs: Seq[JobRec]): Seq[JobRec] = {
    val ids = subtree(s, all)
    jobs.filter(j => ids(j.span))
  }

  /** Driver gap of a span: its wall time not covered by its own jobs. */
  def gapMs(s: Span, js: Seq[JobRec]): Double =
    Stats.driverGap(s.startMs, s.endMs, js.map(j => (j.startMs, if (j.endMs.isNaN) s.endMs else j.endMs)))

  /** Spans as JSON lines, written when the run ends. */
  def write(path: java.nio.file.Path): Unit = {
    val lines = allSpans.map { s =>
      s"""{"id":${s.id},"parent":${s.parent},"name":${Json.str(s.name)},"tag":${Json.str(s.tag)},""" +
        s""""start_ms":${Json.num(s.startMs)},"end_ms":${Json.num(s.endMs)},"self_ms":""" +
        Json.num(Stats.selfTime(s.startMs, s.endMs,
          allSpans.filter(_.parent == s.id).map(c => (c.startMs, c.endMs)))) + "}"
    }
    java.nio.file.Files.write(path, lines.mkString("", "\n", "\n").getBytes("UTF-8"))
  }
}

/** Collects per-job task totals. Jobs are tied to spans through the
  * [[Trace.SpanKey]] local property, set by [[Trace.span]]. */
final class JobListener extends SparkListener {
  val jobs = mutable.Map.empty[Int, JobRec]
  private val stageJob = mutable.Map.empty[Int, Int]

  /** Only jobs started inside a span are kept: the span property rides
    * on the job itself, so the decision does not race the tracing
    * switch (events arrive here after the job started). */
  override def onJobStart(e: SparkListenerJobStart): Unit = {
    def prop(k: String) = Option(e.properties).flatMap(p => Option(p.getProperty(k)))
    val span = prop(Trace.SpanKey).map(_.toLong).getOrElse(0L)
    if (span != 0L) synchronized {
      jobs(e.jobId) = new JobRec(e.jobId, span, e.time.toDouble,
        prop("sql.streaming.queryId").getOrElse(""),
        prop("streaming.sql.batchId").map(_.toLong).getOrElse(-1L))
      e.stageIds.foreach(stageJob(_) = e.jobId)
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach(_.endMs = e.time.toDouble)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    for (jid <- stageJob.get(e.stageId); j <- jobs.get(jid)) {
      j.tasks += 1
      val m = e.taskMetrics
      if (m != null) {
        j.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
        j.recordsRead += m.inputMetrics.recordsRead
        j.bytesWritten += m.outputMetrics.bytesWritten
      }
    }
  }
}

/** Minimal JSON rendering for the result line and the span file. */
object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => "\\u%04x".format(c.toInt)
    case c => c.toString
  } + "\""

  /** Full-precision number; JSON has no NaN or infinity. */
  def num(v: Double): String = {
    require(!v.isNaN && !v.isInfinite, s"metric value $v is not a finite number")
    if (v == math.rint(v) && math.abs(v) < 1e15) v.toLong.toString else v.toString
  }
}
