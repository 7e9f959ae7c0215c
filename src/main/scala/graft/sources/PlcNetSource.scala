package graft.sources

import java.util

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.catalyst.util.{ArrayBasedMapData, GenericArrayData}
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read.{Batch, InputPartition, PartitionReader, PartitionReaderFactory, ScanBuilder}
import org.apache.spark.sql.connector.read.streaming.{MicroBatchStream, Offset, ReadLimit, ReadMaxRows, SupportsAdmissionControl, SupportsTriggerAvailableNow}
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

/** DataSource v2 source reading LIVE Mitsubishi PLCs over the MC
  * protocol ([[McClient]]) — the production form of [[PlcSimProvider]],
  * with the same schema, the same topology (the fleet packed into one
  * input partition per core, each a fixed group of IPs:
  * [[PlcScanBuilder.partitions]]) and the same column-prune + ip-filter
  * pushdown (shared [[PlcScanBuilder]]).
  *
  * A partition holds one connection per PLC of its group, and each
  * tick reads its PLCs in turn — the order a core would run one task
  * per PLC in anyway. Per PLC it issues `randomread`-style requests for
  * all configured addresses (chunked at the protocol's 192-device
  * limit; the reference reads its whole address set in one call,
  * Prensas.py:505-509). Connection failures follow the reference's
  * recovery loop (Prensas.py:595-600), per connection: close, back off
  * (default the reference's 2 s), reconnect, retry — up to
  * `maxRetries`, after which the task fails loudly and the
  * supervisor's liveness restart ([[graft.stream.Supervisor]]) takes
  * over. The other PLCs of the group wait out a failing one's backoff.
  *
  * Offsets are poll rounds, not a replayable log: a PLC register has
  * no history, so a replayed batch re-polls and observes CURRENT
  * values — exactly the reference's live-read semantics. Downstream
  * state (the production state machine) is keyed and monotone, which
  * is what makes at-least-once polling safe there.
  *
  * Options: `ips` (csv of host[:port], port default 1025 — the
  * reference's default, Prensas.py:180-182), `addresses` (csv),
  * `ticksPerTrigger` (poll rounds admitted per micro-batch, default 1),
  * `maxTicks` (stop advancing after this many rounds — bounded runs /
  * `Trigger.AvailableNow`; default unbounded), `timeoutMs` (socket,
  * default 5000 = the reference's `soc_timeout`, Prensas.py:482),
  * `backoffMs` (default 2000), `maxRetries` (default 30).
  * Usage: `spark.readStream.format("plc-net").option(...)...load()`.
  */
class PlcNetProvider extends TableProvider
    with org.apache.spark.sql.sources.DataSourceRegister {
  override def shortName(): String = "plc-net"
  override def inferSchema(options: CaseInsensitiveStringMap): StructType = PlcSim.schema
  override def getTable(schema: StructType, partitioning: Array[Transform],
      properties: util.Map[String, String]): Table =
    new PlcNetTable(PlcNetConfig(properties))
}

case class PlcNetConfig(ips: Seq[String], addresses: Seq[String],
    ticksPerTrigger: Long, maxTicks: Long, timeoutMs: Int,
    backoffMs: Long, maxRetries: Int)

object PlcNetConfig {
  def apply(props: util.Map[String, String]): PlcNetConfig = {
    def csv(k: String): Seq[String] =
      Option(props.get(k)).map(_.split(",").map(_.trim).filter(_.nonEmpty).toSeq).getOrElse(Nil)
    PlcNetConfig(csv("ips"), csv("addresses"),
      Option(props.get("ticksPerTrigger")).map(_.toLong).getOrElse(1L),
      Option(props.get("maxTicks")).map(_.toLong).getOrElse(Long.MaxValue),
      Option(props.get("timeoutMs")).map(_.toInt).getOrElse(5000),
      Option(props.get("backoffMs")).map(_.toLong).getOrElse(2000L),
      Option(props.get("maxRetries")).map(_.toInt).getOrElse(30))
  }

  /** "host:port" → (host, port); bare host gets the reference's
    * default port 1025 (Prensas.py:180-182). */
  def hostPort(ip: String): (String, Int) = ip.split(":", 2) match {
    case Array(h, p) => (h, p.toInt)
    case Array(h) => (h, 1025)
  }
}

class PlcNetTable(cfg: PlcNetConfig) extends Table with SupportsRead {
  override def name(): String = s"plc-net(${cfg.ips.mkString(",")})"
  override def schema(): StructType = PlcSim.schema
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.MICRO_BATCH_READ, TableCapability.BATCH_READ)

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new PlcScanBuilder(cfg.ips) {
      override def toMicroBatchStream(checkpointLocation: String): MicroBatchStream =
        new PlcNetMicroBatchStream(cfg.copy(ips = selectedIps), required)
      override def toBatch: Batch = new Batch {
        override def planInputPartitions(): Array[InputPartition] =
          PlcScanBuilder.partitions(selectedIps)(
            PlcNetPartition(_, 0L, math.min(cfg.maxTicks, 1L), cfg))
        override def createReaderFactory(): PartitionReaderFactory =
          PlcNetReaderFactory(required)
      }
    }
}

class PlcNetMicroBatchStream(cfg: PlcNetConfig, schema: StructType)
    extends MicroBatchStream with SupportsAdmissionControl
    with SupportsTriggerAvailableNow {
  override def initialOffset(): Offset = TickOffset(0L)
  // live source: one poll round per trigger by default; the trigger
  // interval paces the fleet at the reference's ~1 Hz cadence.
  // Trigger.AvailableNow drains up to maxTicks (set it — an unbounded
  // live poll has no "available now"). Enforced here, not just
  // documented: without the option, the drain target would be
  // Long.MaxValue and the "bounded" run would poll live PLCs forever.
  override def prepareForTriggerAvailableNow(): Unit =
    require(cfg.maxTicks != Long.MaxValue,
      "plc-net: set the maxTicks option for Trigger.AvailableNow — " +
        "an unbounded live poll has no \"available now\"")
  override def latestOffset(): Offset = TickOffset(cfg.maxTicks)
  override def getDefaultReadLimit: ReadLimit = ReadLimit.maxRows(cfg.ticksPerTrigger)
  override def latestOffset(start: Offset, limit: ReadLimit): Offset = {
    val s = start.asInstanceOf[TickOffset].tick
    val step = limit match {
      case m: ReadMaxRows => m.maxRows()
      case _ => cfg.ticksPerTrigger
    }
    TickOffset(math.min(s + step, cfg.maxTicks))
  }
  override def deserializeOffset(json: String): Offset = TickOffset(json.toLong)
  override def commit(end: Offset): Unit = ()
  override def stop(): Unit = ()

  override def planInputPartitions(start: Offset, end: Offset): Array[InputPartition] = {
    val s = start.asInstanceOf[TickOffset].tick
    val e = end.asInstanceOf[TickOffset].tick
    PlcScanBuilder.partitions(cfg.ips)(PlcNetPartition(_, s, e, cfg))
  }
  override def createReaderFactory(): PartitionReaderFactory = PlcNetReaderFactory(schema)
}

/** The poll rounds [startTick, endTick) of a group of PLCs. */
case class PlcNetPartition(ips: Seq[String], startTick: Long, endTick: Long, cfg: PlcNetConfig)
  extends InputPartition

case class PlcNetReaderFactory(schema: StructType) extends PartitionReaderFactory {
  override def createReader(partition: InputPartition): PartitionReader[InternalRow] = {
    val p = partition.asInstanceOf[PlcNetPartition]
    new PlcNetPartitionReader(p, schema)
  }
}

/** One connection per PLC of the partition's group, each held across
  * the partition's ticks (the reference holds one `Type3E` connection
  * per reader loop); each tick reads the group's PLCs in turn. Reads
  * only happen when the pruned schema asks for `regs`. */
class PlcNetPartitionReader(p: PlcNetPartition, schema: StructType)
    extends PartitionReader[InternalRow] {
  private val fields = schema.fieldNames
  private val ips = p.ips.map(UTF8String.fromString).toArray
  private val hosts = p.ips.map(PlcNetConfig.hostPort).toArray
  private val clients = new Array[McClient](hosts.length)
  private var tick = p.startTick
  private var at = 0 // next PLC of the group at `tick`
  private var row: InternalRow = _

  /** The reference's recovery loop (Prensas.py:595-600) on PLC `i`'s
    * connection: on any IO failure close, back off, reconnect, retry
    * the SAME read. Bounded by maxRetries so a dead PLC eventually
    * fails the task loudly — the supervisor's liveness restart owns
    * long outages. */
  private def withRetry[T](i: Int)(f: McClient => T): T = {
    val (host, port) = hosts(i)
    var attempt = 0
    while (true) {
      try {
        if (clients(i) == null) clients(i) = new McClient(host, port, p.cfg.timeoutMs)
        return f(clients(i))
      } catch {
        case e: java.io.IOException =>
          if (clients(i) != null) { try clients(i).close() catch { case _: Exception => } }
          clients(i) = null
          attempt += 1
          if (attempt > p.cfg.maxRetries)
            throw new java.io.IOException(
              s"PLC $host:$port unreachable after ${p.cfg.maxRetries} retries", e)
          Thread.sleep(p.cfg.backoffMs)
      }
    }
    throw new IllegalStateException("unreachable")
  }

  private def readAll(i: Int): Seq[Int] =
    // chunk at the protocol's 192-device randomread limit; the
    // connection is reused across chunks and ticks
    p.cfg.addresses.grouped(192).toSeq.flatMap(chunk => withRetry(i)(_.randomRead(chunk)))

  override def next(): Boolean =
    if (tick >= p.endTick) false
    else {
      val values = fields.map[Any] {
        case "ip" => ips(at)
        case "ts" => System.currentTimeMillis() * 1000L // µs, read time
        case "regs" =>
          val addrs = p.cfg.addresses
          val words = readAll(at)
          val keys = new GenericArrayData(addrs.map(a => UTF8String.fromString(a)).toArray[Any])
          val vals = new GenericArrayData(words.map(w => w: java.lang.Integer).toArray[Any])
          new ArrayBasedMapData(keys, vals)
      }
      // note: with `regs` pruned out, nothing above touched the socket
      row = new GenericInternalRow(values.toArray)
      at += 1
      if (at == ips.length) { at = 0; tick += 1 }
      true
    }
  override def get(): InternalRow = row
  override def close(): Unit = clients.foreach(c => if (c != null) c.close())
}
