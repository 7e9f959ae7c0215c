package graft.sources

import java.util

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.catalyst.util.{ArrayBasedMapData, GenericArrayData}
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read.{Batch, InputPartition, PartitionReader, PartitionReaderFactory, Scan, ScanBuilder, SupportsPushDownFilters, SupportsPushDownRequiredColumns}
import org.apache.spark.sql.connector.read.streaming.{MicroBatchStream, Offset, ReadLimit, ReadMaxRows, SupportsAdmissionControl, SupportsTriggerAvailableNow}
import org.apache.spark.sql.sources.{DataSourceRegister, EqualTo, Filter, In}
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

/** DataSource v2 micro-batch source simulating the PLC register reader
  * (S2, Prensas.py:475-614): one snapshot row per (ip, tick) with an
  * address→word map — exactly what `Decode.decodeSnapshots` consumes.
  *
  * Topology: the fleet is packed into one input partition per core
  * ([[PlcScanBuilder.partitions]]), each a fixed group of IPs emitting
  * one row per (ip, tick) of its group — the reference polls its whole
  * fleet from one process (Prensas.py:843-850). The read parallelism is
  * bounded by the cores either way, and a tick of a large fleet runs
  * one task per core instead of one one-row task per PLC. No shuffle
  * precedes the keyed state stage.
  *
  * Deterministic generator (no wall clock — SURVEY §7.5):
  *  - counter addresses (`counters` option) increase by 1 per tick from
  *    a stable per-(ip, address) base;
  *  - `words` option pins static register values
  *    (`"D3200=16961;D3201=12849"`) for part-number blocks;
  *  - all other configured addresses hold a stable pseudo-random word.
  *
  * Options: `ips` (csv), `addresses` (csv), `counters` (csv),
  * `words` (addr=val;…), `startEpochSec`, `maxTicks`.
  * Usage: `spark.readStream.format("plc-sim").option(...)...load()`.
  */
class PlcSimProvider extends TableProvider with DataSourceRegister {
  override def shortName(): String = "plc-sim"
  override def inferSchema(options: CaseInsensitiveStringMap): StructType = PlcSim.schema
  override def getTable(schema: StructType, partitioning: Array[Transform],
      properties: util.Map[String, String]): Table =
    new PlcSimTable(PlcSimConfig(properties))
}

object PlcSim {
  val schema: StructType = StructType(Seq(
    StructField("ip", StringType, nullable = false),
    StructField("ts", TimestampType, nullable = false),
    StructField("regs", MapType(StringType, IntegerType), nullable = false)))

  /** Stable per-(ip, address) base word in [0, 100). */
  def base(ip: String, addr: String): Int =
    Math.floorMod((ip + "|" + addr).hashCode, 100)

  def valueAt(cfg: PlcSimConfig, ip: String, addr: String, tick: Long): Int =
    cfg.words.getOrElse(addr,
      if (cfg.counters.contains(addr)) (base(ip, addr) + tick).toInt & 0xFFFF
      else base(ip, addr))
}

case class PlcSimConfig(ips: Seq[String], addresses: Seq[String], counters: Set[String],
    words: Map[String, Int], startEpochSec: Long, maxTicks: Long,
    maxTicksPerTrigger: Option[Long] = None)

object PlcSimConfig {
  def apply(props: util.Map[String, String]): PlcSimConfig = {
    def csv(k: String): Seq[String] =
      Option(props.get(k)).map(_.split(",").map(_.trim).filter(_.nonEmpty).toSeq).getOrElse(Nil)
    val words = Option(props.get("words")).map(_.split(";").filter(_.contains("=")).map { kv =>
      val Array(a, v) = kv.split("=", 2); (a.trim, v.trim.toInt)
    }.toMap).getOrElse(Map.empty[String, Int])
    PlcSimConfig(csv("ips"), csv("addresses"), csv("counters").toSet, words,
      Option(props.get("startEpochSec")).map(_.toLong).getOrElse(1709625600L), // 2024-03-05 08:00 UTC
      Option(props.get("maxTicks")).map(_.toLong).getOrElse(10L),
      Option(props.get("maxTicksPerTrigger")).map(_.toLong))
  }
}

/** Shared DSv2 scan machinery for the PLC-snapshot sources (simulator
  * and the McProtocol-backed [[PlcNetTable]]) — the SURVEY §4 analog of
  * the reference reading ONLY configured registers/PLCs:
  *  - column pruning (`SupportsPushDownRequiredColumns`): a query that
  *    never touches `regs` skips generating/reading the register map;
  *  - `ip` filter pushdown (`SupportsPushDownFilters`, `=`/`IN`):
  *    prunes IPs before they are grouped into input partitions — the
  *    fleet analog of connecting to a subset of PLCs, before any row
  *    exists.
  */
abstract class PlcScanBuilder(allIps: Seq[String]) extends ScanBuilder with Scan
    with SupportsPushDownRequiredColumns with SupportsPushDownFilters {
  protected var required: StructType = PlcSim.schema
  private var ipFilter: Option[Set[String]] = None

  override def pruneColumns(requiredSchema: StructType): Unit =
    // preserve source field order regardless of projection order
    required = StructType(PlcSim.schema.filter(f => requiredSchema.fieldNames.contains(f.name)))

  override def pushFilters(filters: Array[Filter]): Array[Filter] = {
    val (pushable, rest) = filters.partition {
      case EqualTo("ip", _: String) => true
      case In("ip", vs) => vs.forall(_.isInstanceOf[String])
      case _ => false
    }
    val accepted = pushable.flatMap {
      case EqualTo("ip", v: String) => Seq(Set(v))
      case In("ip", vs) => Seq(vs.map(_.asInstanceOf[String]).toSet)
      case _ => Nil
    }
    if (accepted.nonEmpty) ipFilter = Some(accepted.reduce(_ intersect _))
    rest // Spark re-evaluates nothing we claimed; rest stays post-scan
  }
  override def pushedFilters(): Array[Filter] =
    ipFilter.map(ips => Array[Filter](In("ip", ips.toArray[Any]))).getOrElse(Array.empty)

  protected def selectedIps: Seq[String] =
    ipFilter.map(keep => allIps.filter(keep)).getOrElse(allIps)

  override def build(): Scan = this
  override def readSchema(): StructType = required
}

object PlcScanBuilder {
  /** The input partitions of a PLC source, for both sources and both
    * planners: `ips` dealt round-robin into min(#ips,
    * `defaultParallelism`) fixed groups, one partition per group, made
    * by `part`. More partitions than cores would only queue one-row
    * tasks behind each other; the group count is not part of any
    * offset, so a checkpoint restarts unchanged on another core count. */
  def partitions(ips: Seq[String])(part: Seq[String] => InputPartition): Array[InputPartition] = {
    val n = math.min(ips.size, SparkSession.active.sparkContext.defaultParallelism)
    Array.tabulate(n)(g => part((g until ips.size by n).map(ips)))
  }
}

class PlcSimTable(cfg: PlcSimConfig) extends Table with SupportsRead {
  override def name(): String = s"plc-sim(${cfg.ips.mkString(",")})"
  override def schema(): StructType = PlcSim.schema
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.MICRO_BATCH_READ, TableCapability.BATCH_READ)

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new PlcScanBuilder(cfg.ips) {
      override def toMicroBatchStream(checkpointLocation: String): MicroBatchStream =
        new PlcSimMicroBatchStream(cfg.copy(ips = selectedIps), required)
      override def toBatch: Batch = new Batch {
        override def planInputPartitions(): Array[InputPartition] =
          PlcScanBuilder.partitions(selectedIps)(PlcSimPartition(_, 0L, cfg.maxTicks, cfg))
        override def createReaderFactory(): PartitionReaderFactory = PlcSimReaderFactory(required)
      }
    }
}

case class TickOffset(tick: Long) extends Offset {
  override def json(): String = tick.toString
}

class PlcSimMicroBatchStream(cfg: PlcSimConfig,
    schema: StructType = PlcSim.schema)
  extends MicroBatchStream with SupportsAdmissionControl
  with SupportsTriggerAvailableNow {
  override def initialOffset(): Offset = TickOffset(0L)
  override def latestOffset(): Offset = TickOffset(cfg.maxTicks)
  // the generator's end is fixed at maxTicks, so "available now" is
  // already bounded; implementing the interface keeps the read limit
  // under Trigger.AvailableNow (Spark's fallback wrapper for sources
  // without it drains the whole backlog in one batch)
  override def prepareForTriggerAvailableNow(): Unit = ()
  override def deserializeOffset(json: String): Offset = TickOffset(json.toLong)
  override def commit(end: Offset): Unit = ()
  override def stop(): Unit = ()

  /** Admission control (`maxTicksPerTrigger`): bounds how many ticks one
    * micro-batch admits — the `maxOffsetsPerTrigger` analog. Without it,
    * a restart after downtime would emit ONE catch-up batch spanning the
    * whole gap (shuffle/state spikes sized by the outage, not the
    * steady state). */
  override def getDefaultReadLimit: ReadLimit =
    cfg.maxTicksPerTrigger.map(n => ReadLimit.maxRows(n)).getOrElse(ReadLimit.allAvailable())

  override def latestOffset(start: Offset, limit: ReadLimit): Offset = {
    val s = start.asInstanceOf[TickOffset].tick
    limit match {
      case m: ReadMaxRows => TickOffset(math.min(s + m.maxRows(), cfg.maxTicks))
      case _ => TickOffset(cfg.maxTicks)
    }
  }

  override def planInputPartitions(start: Offset, end: Offset): Array[InputPartition] = {
    val s = start.asInstanceOf[TickOffset].tick
    val e = end.asInstanceOf[TickOffset].tick
    PlcScanBuilder.partitions(cfg.ips)(PlcSimPartition(_, s, e, cfg))
  }
  override def createReaderFactory(): PartitionReaderFactory = PlcSimReaderFactory(schema)
}

/** The ticks [startTick, endTick) of a group of PLCs: one row per
  * (ip, tick), tick by tick, the group's IPs in turn. */
case class PlcSimPartition(ips: Seq[String], startTick: Long, endTick: Long, cfg: PlcSimConfig)
  extends InputPartition

case class PlcSimReaderFactory(schema: StructType = PlcSim.schema)
    extends PartitionReaderFactory {
  override def createReader(partition: InputPartition): PartitionReader[InternalRow] = {
    val p = partition.asInstanceOf[PlcSimPartition]
    val fields = schema.fieldNames
    val ips = p.ips.map(UTF8String.fromString).toArray
    val keys = new GenericArrayData(p.cfg.addresses.map(a => UTF8String.fromString(a)).toArray[Any])
    new PartitionReader[InternalRow] {
      private var tick = p.startTick
      private var at = 0 // next ip of the group at `tick`
      private var row: InternalRow = _
      override def next(): Boolean =
        if (tick >= p.endTick) false
        else {
          // build ONLY the pruned columns; in particular a pruned-out
          // `regs` skips the whole register-map generation
          val values = fields.map[Any] {
            case "ip" => ips(at)
            case "ts" => (p.cfg.startEpochSec + tick) * 1000000L // µs
            case "regs" =>
              val vals = new GenericArrayData(p.cfg.addresses
                .map(a => PlcSim.valueAt(p.cfg, p.ips(at), a, tick): java.lang.Integer).toArray[Any])
              new ArrayBasedMapData(keys, vals)
          }
          row = new GenericInternalRow(values.toArray)
          at += 1
          if (at == ips.length) { at = 0; tick += 1 }
          true
        }
      override def get(): InternalRow = row
      override def close(): Unit = ()
    }
  }
}
