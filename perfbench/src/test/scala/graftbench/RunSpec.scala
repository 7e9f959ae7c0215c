package graftbench

import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite

/** A run's verdict: a throwing operation fails the run, loudly, and is
  * never recorded as a timing; every declared metric is emitted. */
class RunSpec extends AnyFunSuite {

  private def ctx(trace: Boolean = false) = Ctx(null, 1L, 1, trace,
    Files.createTempDirectory("graftbench-spec"), new Ops, 1.5, Nil)

  private def e2e(v: Double) = Metrics.endToEnd.map { case (n, u) => n -> Metric(v, u) }.toMap

  private def fake(body: Ctx => Outcome): Workload = new Workload {
    val name = "fake"
    def run(c: Ctx): Outcome = body(c)
  }

  private def read(p: java.nio.file.Path) = new String(Files.readAllBytes(p), "UTF-8")

  test("an operation that throws fails the run and counts as failed") {
    val c = ctx()
    val res = c.work.resolve("result.json")
    val code = Main.runWorkload(fake { c =>
      c.ops("fine")(1)
      c.ops("boom")(throw new IllegalStateException("kaput"))
      Outcome(Nil, e2e(1.0), Map.empty, Map.empty)
    }, c, res)
    assert(code == 2)
    assert(c.ops.attempted == 2 && c.ops.failed == 1)
    val json = read(res)
    assert(json.contains("\"correct\":false"))
    assert(json.contains("\"failed\":1"))
    assert(json.contains("\"metrics\":{}"), "a failed run reports no timings")
  }

  test("a failure inside a nested operation is counted once, under its own name") {
    val ops = new Ops
    val e = intercept[OpFailed] {
      ops("drain") {
        // a stream wraps a micro-batch's exception in its own
        throw new RuntimeException("query died", new OpFailed("epoch 3", new Error("x")))
      }
    }
    assert(e.op == "epoch 3")
    assert(ops.failed == 0, "the inner operation counted itself where it ran")
  }

  test("a failed correctness check makes the run incorrect") {
    val c = ctx()
    val res = c.work.resolve("result.json")
    val code = Main.runWorkload(fake(_ => Outcome(Seq("3 rows missing"), e2e(1.0), Map.empty, Map.empty)), c, res)
    assert(code == 3)
    assert(read(res).contains("\"correct\":false"))
  }

  test("every end-to-end metric is emitted, in declared order, and none is missing") {
    val got = Metrics.complete(trace = false, e2e(2.0))
    assert(got.map(_._1) == Metrics.endToEnd.map(_._1))
    assertThrows[IllegalStateException](Metrics.complete(trace = false, e2e(2.0) - "setup_s"))
    assertThrows[IllegalArgumentException](
      Metrics.complete(trace = false, e2e(2.0) + ("nope" -> Metric(1, "s"))))
    assertThrows[IllegalArgumentException](
      Metrics.complete(trace = false, e2e(2.0) + ("setup_s" -> Metric(1, "ms"))))
  }

  test("a traced run emits every per-layer metric; untouched layers read 0") {
    val got = Metrics.complete(trace = true, Map("stream.sinks.jobs" -> Metric(15, "count")))
    assert(got.map(_._1) == Metrics.perLayer.map(_._1))
    assert(got.toMap.apply("stream.sinks.jobs").value == 15)
    assert(got.toMap.apply("stream.ingest.jobs").value == 0)
  }

  test("the heap peak is the after-GC heap the collectors report") {
    HeapPeak.start()
    val live = Array.fill(64)(new Array[Byte](1 << 20))
    System.gc()
    val deadline = System.nanoTime() + 5000000000L
    while (HeapPeak.mb < 64 && System.nanoTime() < deadline) Thread.sleep(10)
    assert(HeapPeak.mb >= 64, "64 MB held across a GC must show in the peak")
    assert(live.length == 64)
  }

  test("BENCHMARK.json declares exactly the metrics the benchmark emits") {
    val src = scala.io.Source.fromFile("../BENCHMARK.json", "UTF-8")
    val text = try src.mkString finally src.close()
    def declared(section: String): Seq[(String, String)] = {
      val body = text.substring(text.indexOf(s"\"$section\""))
      val list = body.substring(body.indexOf('['), body.indexOf(']') + 1)
      "\\{\"name\": \"([^\"]+)\", \"unit\": \"([^\"]+)\"".r.findAllMatchIn(list)
        .map(m => m.group(1) -> m.group(2)).toSeq
    }
    assert(declared("end_to_end") == Metrics.endToEnd)
    assert(declared("per_layer") == Metrics.perLayer)
  }
}
