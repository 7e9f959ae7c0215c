package graft.stream

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

import graft.model._
import graft.functions.PlcFunctions._

/** The E2 ingest pipeline (Prensas.py:475-614) as a declarative plan:
  * long/narrow register readings → per-(station, parte) observations.
  *
  * Stages (all narrow or one-shuffle; streaming-safe):
  *  1. pivot each (ip, ts) snapshot into an address→word map
  *  2. join the per-(station, side) register layout (a literal map
  *     lookup when streaming, a broadcast join in batch)
  *  3. decode: counter word, cycle-time F9, part string F1
  *  4. expand `/`-alternatives (G1), drop empties (P3)
  *  5. combinar_listas (A1): group by (station, ts, parte) — counters
  *     sum across sides, deterministic `max_by/min_by` replaces the
  *     reference's order-dependent first/last (SURVEY §7.5).
  */
object Decode {

  /** Pivot readings into one row per (ip, ts) with an address→value map
    * (the `dict(zip(...))` at Prensas.py:512, J7). Batch-only: this is a
    * streaming aggregation; streaming pipelines should ingest
    * [[RegisterSnapshot]] rows directly (see [[decodeSnapshots]]). */
  def snapshots(readings: DataFrame): DataFrame =
    readings.groupBy(col("ip"), col("ts"))
      .agg(map_from_entries(collect_list(struct(col("address"), col("value")))).as("regs"))

  /** Streaming-safe decode: snapshot rows → per-(station, side, parte)
    * candidate observations. Entirely NARROW (a per-row lookup of the
    * snapshot's ip in the layout + per-row expressions + explode — no
    * shuffle, no streaming aggregation), so `flatMapGroupsWithState`
    * can legally and efficiently follow it; the cross-side counter sum
    * happens inside the state function (StateMachine.combineEnriched).
    *
    * The static layout is a literal `ip → sides` map, looked up per row
    * and exploded: an inner join, since an ip with no layout yields no
    * rows, that plans no exchange — a broadcast join would collect its
    * build side in a Spark job on every micro-batch. */
  def decodeSnapshots(spark: SparkSession, snapshots: DataFrame,
      configs: Seq[StationSideConfig]): Dataset[PartObservation] = {
    import spark.implicits._
    val sides = typedLit(configs.groupBy(_.ip))
    snapshots.select(col("ts"), col("regs"), explode(element_at(sides, col("ip"))).as("cfg"))
      .select(col("cfg.station").as("station"), col("ts"),
        coalesce(element_at(col("regs"), col("cfg.counterAddr")), lit(0)).cast("long").as("contador"),
        msToSeconds(when(col("cfg.tiempoAddr").isNotNull,
          element_at(col("regs"), col("cfg.tiempoAddr"))).otherwise(lit(0))).as("tiempo"),
        decodePlcWords(transform(col("cfg.partAddrs"),
          a => coalesce(element_at(col("regs"), a), lit(0)))).as("original"))
      .select(col("station"), col("ts"), col("contador"), col("tiempo"), col("original"),
        explode(expandAlternatives(col("original"))).as("parte"))
      .filter(col("parte").isNotNull && col("parte") =!= "")
      .select(col("station"), col("parte"), col("original"),
        col("contador"), col("tiempo"), col("ts"))
      .as[PartObservation]
  }

  /** Full decode: readings + station/side layout → observations. */
  def observations(spark: SparkSession, readings: DataFrame,
      configs: Seq[StationSideConfig]): Dataset[PartObservation] = {
    import spark.implicits._
    val cfg = spark.createDataset(configs).toDF()
      .withColumnRenamed("ip", "cfg_ip")

    val snap = snapshots(readings)
    val sides = snap.join(broadcast(cfg), col("ip") === col("cfg_ip"))
      .select(col("station"), col("side"), col("ts"),
        coalesce(element_at(col("regs"), col("counterAddr")), lit(0)).cast("long").as("contador"),
        msToSeconds(when(col("tiempoAddr").isNotNull,
          element_at(col("regs"), col("tiempoAddr"))).otherwise(lit(0))).as("tiempo"),
        decodePlcWords(transform(col("partAddrs"),
          a => coalesce(element_at(col("regs"), a), lit(0)))).as("original"))

    // G1 + P3: flatten alternatives, drop null/empty candidates
    val candidates = sides
      .select(col("station"), col("side"), col("ts"), col("contador"), col("tiempo"),
        col("original"), explode(expandAlternatives(col("original"))).as("parte"))
      .filter(col("parte").isNotNull && col("parte") =!= "")

    // A1 combinar_listas: per (station, ts, parte) — sum counters,
    // deterministic max tiempo / min original BY VALUE (identical to
    // StateMachine.combineEnriched, so batch backfills match streaming runs)
    candidates
      .groupBy(col("station"), col("ts"), col("parte"))
      .agg(sum(col("contador")).as("contador"),
        max(col("tiempo")).as("tiempo"),
        min(col("original")).as("original"))
      .select(col("station"), col("parte"), col("original"),
        col("contador"), col("tiempo"), col("ts"))
      .as[PartObservation]
  }
}
