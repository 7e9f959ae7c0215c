package graft

import org.apache.spark.sql.functions._

import graft.sources.{McClient, PlcNetConfig}

/** In-JVM MELSEC 3E stub server: parses randomread (0x0403) and
  * batchread (0x0401) request frames — the same layout McProtocolSpec
  * pins byte-golden — and answers with words from `value(code, num)`.
  * `failFirstExchanges` drops the connection without replying for the
  * first N exchanges, to drill the reconnect/backoff loop. */
class StubMcServer(value: (Int, Int) => Int, failFirstExchanges: Int = 0)
    extends AutoCloseable {
  private val server = new java.net.ServerSocket(0, 16,
    java.net.InetAddress.getLoopbackAddress)
  val port: Int = server.getLocalPort
  @volatile private var closed = false
  val exchanges = new java.util.concurrent.atomic.AtomicInteger(0)
  val connections = new java.util.concurrent.atomic.AtomicInteger(0)

  private val acceptor = new Thread(() => {
    while (!closed) {
      try {
        val sock = server.accept()
        connections.incrementAndGet()
        val t = new Thread(() => serve(sock))
        t.setDaemon(true); t.start()
      } catch { case _: Exception => /* closed */ }
    }
  })
  acceptor.setDaemon(true); acceptor.start()

  private def serve(sock: java.net.Socket): Unit = {
    try {
      val in = new java.io.DataInputStream(sock.getInputStream)
      val out = sock.getOutputStream
      while (!closed) {
        val head = new Array[Byte](9) // through the LE length field
        in.readFully(head)
        val len = (head(7) & 0xFF) | ((head(8) & 0xFF) << 8)
        val body = new Array[Byte](len) // timer (2) + command payload
        in.readFully(body)
        if (exchanges.incrementAndGet() <= failFirstExchanges) { sock.close(); return }
        val p = body.drop(2)
        val cmd = (p(0) & 0xFF) | ((p(1) & 0xFF) << 8)
        val words: Seq[Int] = cmd match {
          case 0x0403 => // random read: wordCount at 4, devices of 4 bytes from 6
            val n = p(4) & 0xFF
            (0 until n).map { i =>
              val o = 6 + 4 * i
              val num = (p(o) & 0xFF) | ((p(o + 1) & 0xFF) << 8) | ((p(o + 2) & 0xFF) << 16)
              value(p(o + 3) & 0xFF, num)
            }
          case 0x0401 => // batch read: head device at 4, count at 8
            val num = (p(4) & 0xFF) | ((p(5) & 0xFF) << 8) | ((p(6) & 0xFF) << 16)
            val code = p(7) & 0xFF
            val count = (p(8) & 0xFF) | ((p(9) & 0xFF) << 8)
            (0 until count).map(i => value(code, num + i))
          case other => throw new IllegalStateException(f"unexpected command 0x$other%04X")
        }
        val data = words.flatMap(w =>
          Seq((w & 0xFF).toByte, ((w >> 8) & 0xFF).toByte)).toArray
        val resp = Array[Byte](0xD0.toByte, 0x00, 0x00, 0xFF.toByte, 0xFF.toByte,
          0x03, 0x00, ((2 + data.length) & 0xFF).toByte,
          (((2 + data.length) >> 8) & 0xFF).toByte, 0x00, 0x00) ++ data
        out.write(resp); out.flush()
      }
    } catch { case _: Exception => /* peer gone */ }
    finally { try sock.close() catch { case _: Exception => } }
  }

  override def close(): Unit = { closed = true; server.close() }
}

/** The MC-protocol-backed DSv2 source against a stubbed in-JVM PLC:
  * live reads, reconnect/backoff, pushdown, and the wire round-trip
  * (the simulator stays the e2e harness downstream of the read). */
class PlcNetSourceSpec extends SparkSpec {
  import spark.implicits._

  // deterministic register values: D3100 ≡ (0xA8, 3100) → 3100+0xA8
  private val valueFn: (Int, Int) => Int = (code, num) => (num + code) & 0xFFFF

  test("McClient round-trips randomread and batchread against the stub") {
    val srv = new StubMcServer(valueFn)
    try {
      val c = new McClient("127.0.0.1", srv.port, timeoutMs = 2000)
      try {
        assert(c.randomRead(Seq("D3100", "D3101", "W10")) ==
          Seq(3100 + 0xA8, 3101 + 0xA8, 10 + 0xB4)) // W device numbers are decimal
      } finally c.close()
    } finally srv.close()
  }

  test("batch read: one snapshot per ip with live register values") {
    val srv = new StubMcServer(valueFn)
    try {
      val df = spark.read.format("plc-net")
        .option("ips", s"127.0.0.1:${srv.port}")
        .option("addresses", "D3100,D3101,D3200")
        .load()
      val rows = df.select(col("ip"), map_values(col("regs")).as("vals")).collect()
      assert(rows.length == 1)
      assert(rows.head.getSeq[Int](1) ==
        Seq(3100 + 0xA8, 3101 + 0xA8, 3200 + 0xA8))
    } finally srv.close()
  }

  test("reconnect with backoff after a dropped connection (Prensas.py:597-600)") {
    val srv = new StubMcServer(valueFn, failFirstExchanges = 1)
    try {
      val df = spark.read.format("plc-net")
        .option("ips", s"127.0.0.1:${srv.port}")
        .option("addresses", "D3100")
        .option("backoffMs", "50")
        .load()
      val vals = df.select(map_values(col("regs"))).as[Seq[Int]].collect()
      assert(vals.toSeq == Seq(Seq(3100 + 0xA8)),
        "the retried read must succeed after the drop")
      assert(srv.connections.get() >= 2,
        "a fresh connection must have been opened after the failure")
    } finally srv.close()
  }

  test("a dead PLC fails the task loudly after maxRetries") {
    // a port with nothing listening: connect() refuses immediately
    val deadPort = { val s = new java.net.ServerSocket(0); val p = s.getLocalPort; s.close(); p }
    val df = spark.read.format("plc-net")
      .option("ips", s"127.0.0.1:$deadPort")
      .option("addresses", "D3100")
      .option("backoffMs", "10")
      .option("maxRetries", "2")
      .load()
    val e = intercept[org.apache.spark.SparkException] { df.collect() }
    assert(Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null).take(8)
        .exists(_.getMessage != null && e.getMessage.contains("plc-net") ||
          Option(e.getCause).exists(c => String.valueOf(c.getMessage).contains("retries"))),
      s"expected the bounded-retry failure, got: ${e.getMessage}")
  }

  test("ip filter pushdown prunes partitions: only the kept PLC is contacted") {
    val srv = new StubMcServer(valueFn)
    try {
      // two logical PLCs, both at the stub; the filter must prune one
      // PARTITION (one connection), not post-filter two reads
      val df = spark.read.format("plc-net")
        .option("ips", s"127.0.0.1:${srv.port},10.99.99.99:1")
        .option("addresses", "D3100")
        .load()
        .filter(col("ip") === s"127.0.0.1:${srv.port}")
      val rows = df.select(col("ip"), map_values(col("regs")).as("vals")).collect()
      assert(rows.map(_.getString(0)).toSeq == Seq(s"127.0.0.1:${srv.port}"))
      assert(rows.head.getSeq[Int](1) == Seq(3100 + 0xA8))
      // 10.99.99.99:1 would have hung the job if contacted; exactly one
      // stub connection proves partition-level pruning
      assert(srv.connections.get() == 1)
    } finally srv.close()
  }

  test("streaming: poll rounds advance one tick per trigger up to maxTicks") {
    val srv = new StubMcServer(valueFn)
    try {
      val dir = java.nio.file.Files.createTempDirectory("graft_plcnet").toString
      val q = spark.readStream.format("plc-net")
        .option("ips", s"127.0.0.1:${srv.port}")
        .option("addresses", "D3100,D3101")
        .option("maxTicks", "3")
        .load()
        .select(col("ip"), map_values(col("regs")).as("vals"))
        .writeStream.format("parquet")
        .option("path", s"$dir/out").option("checkpointLocation", s"$dir/ckpt")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      assert(q.awaitTermination(120000))
      val out = spark.read.parquet(s"$dir/out")
      assert(out.count() == 3, "3 poll rounds × 1 ip")
      assert(out.select("vals").as[Seq[Int]].collect()
        .forall(_ == Seq(3100 + 0xA8, 3101 + 0xA8)))
    } finally srv.close()
  }

  test("a fleet larger than the cores: one partition per core, one connection per PLC, one read per tick") {
    val cores = spark.sparkContext.defaultParallelism
    // one stub per logical PLC, each answering words offset by its index
    val stubs = (0 until 2 * cores + 1).map(k =>
      new StubMcServer((code, num) => (num + code + k) & 0xFFFF))
    try {
      val ips = stubs.map(s => s"127.0.0.1:${s.port}")
      val planned = new java.util.concurrent.atomic.AtomicInteger()
      val rows = new java.util.concurrent.ConcurrentLinkedQueue[(String, Seq[Int])]()
      val q = spark.readStream.format("plc-net")
        .option("ips", ips.mkString(","))
        .option("addresses", "D3100")
        .option("ticksPerTrigger", "3").option("maxTicks", "3")
        .load()
        .writeStream
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
          planned.set(b.queryExecution.toRdd.getNumPartitions)
          b.select(col("ip"), map_values(col("regs"))).as[(String, Seq[Int])].collect()
            .foreach(rows.add); ()
        }.start()
      assert(q.awaitTermination(120000))
      assert(planned.get == cores, s"${planned.get} partitions on $cores cores")
      import scala.jdk.CollectionConverters._
      assert(rows.asScala.toSeq.groupBy(_._1).map { case (ip, rs) => ip -> rs.map(_._2) } ==
        ips.zipWithIndex.map { case (ip, k) => ip -> Seq.fill(3)(Seq(3100 + 0xA8 + k)) }.toMap,
        "every PLC read once per tick, 3 ticks")
      assert(stubs.map(_.connections.get) == stubs.map(_ => 1),
        "one connection per PLC, held across the ticks")
      assert(stubs.map(_.exchanges.get) == stubs.map(_ => 3), "one read per PLC per tick")
    } finally stubs.foreach(_.close())
  }

  test("hostPort defaults to the reference's port 1025") {
    assert(PlcNetConfig.hostPort("192.168.1.7") == ("192.168.1.7", 1025))
    assert(PlcNetConfig.hostPort("192.168.1.7:5007") == ("192.168.1.7", 5007))
  }
}
