package graft.stream

import java.sql.Timestamp
import java.time.ZoneOffset

import org.apache.spark.sql.Dataset
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

import graft.io.NioLocal
import graft.model._

/** The per-(station, parte) production state machine — the reference's
  * `plc_processor` loop (Prensas.py:616-831) re-expressed as a
  * `flatMapGroupsWithState` function emitting typed [[ActionRow]]s. It
  * has two entry points, which differ only in how an observation's
  * dimension lookups are resolved: this class ([[apply]], in-memory
  * snapshot maps, processing-time silence) and
  * [[StateMachine.withDimTables]] (stream-static joins; the silence
  * clock a parameter). Both run one transition ([[StateMachine.Core]])
  * on `flatMapGroupsWithState`, which works on every state store
  * provider.
  *
  * Semantics mirrored from the reference (SURVEY ST2-ST5):
  *  - admission (Prensas.py:703-741): resolve the prior record for
  *    (station, date, shift, part) or create one (status 3); the gate
  *    baseline `contador_registro` starts at the record's produced
  *    quantity (zeroed on a paused record, whose produced becomes
  *    corrida_previa — Prensas.py:723-724); base_ct starts at 0, so
  *    produced := counter + corrida until the first shift change
  *    (Prensas.py:788-792)
  *  - counter gate (Prensas.py:756): `cnt > prev or (cambio and
  *    cnt >= prev)`; when the gate fails NOTHING updates — prev and
  *    hora_cambio only move on successful updates (Prensas.py:811-812)
  *  - shift rollover happens INSIDE the gate (Prensas.py:757-785):
  *    base_ct snapshots prev, the new shift's record is resolved or
  *    created, and corrida_previa comes from THAT record when paused,
  *    else 0 (Prensas.py:783)
  *  - history rows carry the RAW counter as quantity (Prensas.py:802)
  *  - silence: the group-state timeout closes the run 7→8 once and
  *    clears state (limpieza edge-trigger, Prensas.py:663-685); the
  *    close is stamped after the last update so a newest-wins upsert
  *    applies it
  *
  * Departures from the reference (SURVEY §7.5, deliberate):
  *  - record ids are deterministic keys `station|parte|date|shift`
  *    (no SQL-Server OUTPUT clause; distributed-safe)
  *  - the per-part AS400/records lookups become per-row pre-resolved
  *    fields instead of per-key round trips: stream-static joins at
  *    scale ([[StateMachine.withDimTables]]) or in-memory snapshot maps
  *    (this class) for tests and small catalogs
  *  - cambio also fires when the observation's (planDate, shift)
  *    differs from the state's — equal to the reference's time-of-day
  *    predicate under continuous 1 Hz ticks, but correct across
  *    multi-day stream gaps where the reference silently reuses the
  *    old record
  *  - event time comes from the observation's own timestamp (UTC),
  *    never the wall clock — deterministic and testable.
  */
class StateMachine(
    knownParts: Map[(String, String), Long],        // (station, parte) → part id
    multipliers: Map[String, Long],                 // parte → AS400 multiplier (default 1)
    priorRecords: Map[String, RecordSnapshot],      // recordId → snapshot (W1 lookup)
    timeoutMs: Long = 30000L  // ≤0 → NoTimeout (ST4 close disabled; drain-and-stop runs)
    ) extends Serializable {

  import StateMachine._

  private val core = new Core(timeoutMs)

  def multiplierOf(parte: String): Long = multipliers.getOrElse(parte, 1L)

  /** Resolve the dimension lookups for one observation from the
    * in-memory snapshots. The scale path resolves the same fields with
    * stream-static joins instead ([[StateMachine.withDimTables]]). */
  def enrich(o: PartObservation): ObsEnriched = {
    val (shiftId, planDate) = shiftAndDate(o.ts)
    val rid = recordId(o.station, o.parte, planDate, shiftId)
    val snap = priorRecords.get(rid)
    ObsEnriched(o.station, o.parte, o.original, o.contador, o.tiempo, o.ts,
      shiftId, planDate, rid,
      partKnown = knownParts.contains((o.station, o.parte)),
      multiplier = multiplierOf(o.parte),
      hasPrior = snap.isDefined,
      priorProduced = snap.map(_.produced).getOrElse(0L),
      priorStatus = snap.map(_.statusId).getOrElse(0),
      priorPlanned = snap.map(_.plannedQty).getOrElse(DefaultPlannedQty))
  }

  /** The flatMapGroupsWithState function (map-resolved lookup path). */
  def process(key: (String, String), rows: Iterator[PartObservation],
      state: GroupState[ActiveRecord]): Iterator[ActionRow] =
    core.process(key, rows.map(enrich), state)

  /** Wire the machine onto a typed observation stream. Installs the
    * fork-free `file:` FileContext ([[graft.io.NioLocal.ensureInstalled]])
    * in the session, so a stream started on the result writes its
    * offsets, commits and state-store files to a local checkpoint
    * without forking `chmod` or `readlink`; only those forking calls
    * change, and other schemes are untouched. */
  def apply(obs: Dataset[PartObservation]): Dataset[ActionRow] = {
    NioLocal.ensureInstalled(obs.sparkSession)
    import obs.sparkSession.implicits._
    obs.map(enrich).groupByKey(o => (o.station, o.parte))
      .flatMapGroupsWithState[ActiveRecord, ActionRow](
        OutputMode.Append, core.timeout)(core.process)
  }
}

object StateMachine {

  /** The clock ST4's silence is measured on. */
  sealed trait SilenceClock
  /** The executor wall clock, as in the reference's loop. */
  case object ProcessingTime extends SilenceClock
  /** The stream's watermark, trailing the newest event time by
    * `maxLateness` (SURVEY §2.10). What that buys at scale:
    *  - deterministic replay/backfill: a historical silence gap closes
    *    the run at the same stream position every run, even when the
    *    backfill processes days of data in minutes (the wall clock
    *    would either never close or close by luck);
    *  - observations later than `maxLateness` are dropped by the engine
    *    (FlatMapGroupsWithStateExec's watermark predicate) instead of
    *    resurrecting or corrupting an already-closed run — the
    *    admission/gate logic never sees them.
    * The close row is stamped lastTs + timeoutMs either way. */
  final case class EventTime(maxLateness: String) extends SilenceClock

  /** Wire the state machine onto an observation stream with the J6/W1
    * lookups (part catalog, AS400 multipliers, prior records) resolved
    * by stream-static LEFT joins instead of the reference's per-part
    * ODBC round trips (Prensas.py:117-149, 281-313) — and instead of
    * driver-collected maps: Catalyst broadcasts a small dim and
    * shuffles a large one, so a 10M-row part catalog is bounded by
    * executor memory, not driver heap. Each observation only ever
    * needs the prior record of its OWN (planDate, shiftId) — admission
    * and rollover both fire on the current observation's shift — so a
    * single equi-join on the precomputed record id covers the W1
    * lookup. Column contracts: parts(station, parte, part_id),
    * multipliers(parte, multiplier), records(record_id, produced,
    * status_id, planned); keys are assumed unique per catalog row.
    * Dims are snapshots as of query start; refresh on supervisor
    * reconcile when the config changes. `clock` is ST4's silence
    * clock: [[ProcessingTime]], or [[EventTime]] with its lateness
    * allowance (the replay/backfill configuration). */
  def withDimTables(obs: Dataset[PartObservation],
      parts: org.apache.spark.sql.DataFrame,
      multipliers: org.apache.spark.sql.DataFrame,
      records: org.apache.spark.sql.DataFrame,
      timeoutMs: Long = 30000L,
      clock: SilenceClock = ProcessingTime): Dataset[ActionRow] = {
    val s = obs.sparkSession
    import s.implicits._
    val enriched = enrichWithDims(obs, parts, multipliers, records)
    val clocked = clock match {
      case ProcessingTime => enriched
      case EventTime(maxLateness) => enriched.withWatermark("ts", maxLateness)
    }
    val core = new Core(timeoutMs, clock)
    clocked.groupByKey(o => (o.station, o.parte))
      .flatMapGroupsWithState[ActiveRecord, ActionRow](OutputMode.Append, core.timeout)(core.process)
  }

  /** The stream-static dimension joins of [[withDimTables]]; installs
    * the fork-free `file:` FileContext for its stream, as
    * [[StateMachine.apply]] does. */
  private def enrichWithDims(obs: Dataset[PartObservation],
      parts: org.apache.spark.sql.DataFrame,
      multipliers: org.apache.spark.sql.DataFrame,
      records: org.apache.spark.sql.DataFrame): Dataset[ObsEnriched] = {
    import org.apache.spark.sql.functions.{coalesce, col, lit}
    val s = obs.sparkSession
    NioLocal.ensureInstalled(s)
    import s.implicits._
    val keyed = obs.map { o =>
      val (shiftId, planDate) = shiftAndDate(o.ts)
      (o.station, o.parte, o.original, o.contador, o.tiempo, o.ts,
        shiftId, planDate, recordId(o.station, o.parte, planDate, shiftId))
    }.toDF("station", "parte", "original", "contador", "tiempo", "ts",
      "shiftId", "planDate", "rid")
    val p = parts.select(col("station"), col("parte"), lit(true).as("partKnown"))
    val m = multipliers.select(col("parte").as("m_parte"),
      col("multiplier").cast("long").as("multiplier"))
    val r = records.select(col("record_id").as("r_rid"),
      col("produced").cast("long").as("priorProduced"),
      col("status_id").cast("int").as("priorStatus"),
      col("planned").cast("long").as("priorPlanned"))
    keyed.join(p, Seq("station", "parte"), "left")
      .join(m, col("parte") === col("m_parte"), "left")
      .join(r, col("rid") === col("r_rid"), "left")
      .select(col("station"), col("parte"), col("original"), col("contador"),
        col("tiempo"), col("ts"), col("shiftId"), col("planDate"), col("rid"),
        coalesce(col("partKnown"), lit(false)).as("partKnown"),
        coalesce(col("multiplier"), lit(1L)).as("multiplier"),
        col("r_rid").isNotNull.as("hasPrior"),
        coalesce(col("priorProduced"), lit(0L)).as("priorProduced"),
        coalesce(col("priorStatus"), lit(0)).as("priorStatus"),
        coalesce(col("priorPlanned"), lit(DefaultPlannedQty)).as("priorPlanned"))
      .as[ObsEnriched]
  }

  /** The state-transition core: operates on [[ObsEnriched]] so it is
    * agnostic to HOW the dimension lookups were resolved (in-memory
    * maps for tests / small catalogs, stream-static joins at scale)
    * AND to the silence clock — `advance`/`closeRow` are pure (state
    * in, state + actions out); [[process]] adapts them to
    * flatMapGroupsWithState. */
  private class Core(timeoutMs: Long, clock: SilenceClock = ProcessingTime)
      extends Serializable {

    /** The group-state timeout `process` relies on; none when
      * `timeoutMs <= 0` (closes disabled). */
    def timeout: GroupStateTimeout =
      if (timeoutMs <= 0) GroupStateTimeout.NoTimeout
      else clock match {
        case ProcessingTime => GroupStateTimeout.ProcessingTimeTimeout
        case _: EventTime => GroupStateTimeout.EventTimeTimeout
      }

    /** Pure batch transition: current state + this tick's rows →
      * (next state, emitted actions). Never drops existing state — only
      * the silence timeout ([[closeRow]]) clears it. */
    def advance(station: String, parte: String, cur: Option[ActiveRecord],
        rows: Vector[ObsEnriched]): (Option[ActiveRecord], Vector[ActionRow]) = {
      var st = cur
      val out = Vector.newBuilder[ActionRow]

      for (obs <- combineEnriched(rows)) {
        val sec = secondsOfDay(obs.ts)

        if (st.isEmpty) st = admit(station, parte, obs, out)
        // the admission observation flows through the gate in the same
        // tick (the reference iterates `datos` twice, Prensas.py:703,744)
        st.foreach { ar0 =>
          var ar = ar0
          val cambio = shiftChanged(ar.lastUpdSec, sec) ||
            ar.planDate != obs.planDate || ar.shiftId != obs.shiftId
          val prev = ar.contadorRegistro
          // P8 gate (Prensas.py:756); on failure nothing moves
          if (obs.contador > prev || (cambio && obs.contador >= prev)) {
            if (cambio) {
              // ST5 rollover (Prensas.py:757-785): snapshot base, resolve
              // or create the NEW shift's record; corrida only from a
              // paused record of that new shift. The new shift IS the
              // observation's shift, so its lookup rode in on the row.
              val (corrida, qPlan) =
                if (obs.hasPrior)
                  (if (obs.priorStatus == StatusPaused) obs.priorProduced else 0L,
                    obs.priorPlanned)
                else {
                  out += ActionRow.create(station, parte, obs.rid, obs.planDate,
                    obs.shiftId, ar.plannedQty, obs.ts)
                  (0L, ar.plannedQty)
                }
              ar = ar.copy(recordId = obs.rid, planDate = obs.planDate,
                shiftId = obs.shiftId, baseCt = prev, corridaPrevia = corrida,
                plannedQty = qPlan)
            }
            val qty = (obs.contador - ar.baseCt + ar.corridaPrevia) * ar.multiplier
            // history carries the raw counter (Prensas.py:802)
            out += ActionRow.appendHistory(station, parte, ar.recordId,
              obs.contador, obs.tiempo, obs.ts)
            out += ActionRow.updateQty(station, parte, ar.recordId, qty, StatusProducing, obs.ts)
              .copy(planDate = ar.planDate, shiftId = ar.shiftId, plannedQty = ar.plannedQty)
            st = Some(ar.copy(contadorRegistro = obs.contador, lastUpdSec = sec,
              produced = qty, lastTsMs = obs.ts.getTime))
          }
        }
      }
      (st, out.result())
    }

    /** ST4: silence → close the run once (status 7→8). Stamped after
      * the last update so the newest-wins upsert applies it (close rank
      * also beats update at equal ts). */
    def closeRow(station: String, parte: String, ar: ActiveRecord): ActionRow =
      ActionRow.closeShift(station, parte, ar.recordId,
        ar.planDate, ar.shiftId, new Timestamp(ar.lastTsMs + math.max(timeoutMs, 1L)))
        .copy(produced = ar.produced, plannedQty = ar.plannedQty)

    /** The flatMapGroupsWithState adapter. Under [[EventTime]] the
      * run closes when the watermark passes lastTs + timeoutMs;
      * `setTimeoutTimestamp` is floored just above the current
      * watermark — Spark rejects a timestamp at or below it, and a state
      * whose deadline the watermark already passed should time out at
      * the next opportunity, not crash the query. */
    def process(key: (String, String), rows: Iterator[ObsEnriched],
        state: GroupState[ActiveRecord]): Iterator[ActionRow] = {
      val (station, parte) = key

      if (!state.exists && !rows.hasNext && state.hasTimedOut) return Iterator.empty
      if (state.hasTimedOut) {
        val ar = state.get
        state.remove()
        return Iterator.single(closeRow(station, parte, ar))
      }

      val (next, out) = advance(station, parte,
        if (state.exists) Some(state.get) else None, rows.toVector)
      next.foreach(state.update)
      if (timeoutMs > 0 && state.exists) clock match {
        case ProcessingTime => state.setTimeoutDuration(timeoutMs)
        case _: EventTime => state.setTimeoutTimestamp(
          math.max(state.get.lastTsMs + timeoutMs, state.getCurrentWatermarkMs() + 1))
      }
      out.iterator
    }

    /** ST3 admission for an unseen key (Prensas.py:703-741). */
    private def admit(station: String, parte: String, obs: ObsEnriched,
        out: collection.mutable.Builder[ActionRow, Vector[ActionRow]]): Option[ActiveRecord] = {
      if (!obs.partKnown) {
        // K4: unknown part number → dedup-append CSV sink (Prensas.py:343-353)
        out += ActionRow.partNotFound(station, parte, obs.original, obs.planDate, obs.ts)
        return None
      }
      val (qProd, status, qPlan) =
        if (obs.hasPrior) (obs.priorProduced, obs.priorStatus, obs.priorPlanned)
        else {
          out += ActionRow.create(station, parte, obs.rid, obs.planDate, obs.shiftId,
            DefaultPlannedQty, obs.ts)
          (0L, StatusCreated, DefaultPlannedQty)
        }
      // paused record: its produced becomes corrida, the gate baseline
      // restarts at 0 (Prensas.py:723-724, 731)
      val corrida = if (status == StatusPaused) qProd else 0L
      val prevEff = if (status == StatusPaused) 0L else qProd
      Some(ActiveRecord(obs.rid, obs.planDate, obs.shiftId,
        contadorRegistro = prevEff, baseCt = 0L, corridaPrevia = corrida,
        multiplier = obs.multiplier, plannedQty = qPlan, lastUpdSec = secondsOfDay(obs.ts),
        produced = prevEff, lastTsMs = obs.ts.getTime))
    }
  }

  val StatusCreated = 3   // Prensas.py:324
  val StatusProducing = 7 // Prensas.py:794
  val StatusPaused = 8    // Prensas.py:668,724
  val DefaultPlannedQty = 0L

  def recordId(station: String, parte: String, planDate: String, shiftId: Int): String =
    s"$station|$parte|$planDate|$shiftId"

  /** combinar_listas (A1, Prensas.py:399-440) folded into the state
    * function: same-part observations at the SAME tick (e.g. both LH
    * and RH sides) sum their counters; deterministic max tiempo / min
    * original replace the reference's order-dependent last/first.
    * Already-combined inputs (one row per ts) pass through unchanged.
    * Same-key same-ts observations share every lookup field (same
    * (station, parte, ts) → same rid and dims), so the head's
    * enrichment carries over unchanged. */
  private[stream] def combineEnriched(rows: Vector[ObsEnriched]): Vector[ObsEnriched] =
    rows.groupBy(_.ts).toVector.sortBy(_._1.getTime).map { case (_, group) =>
      group.head.copy(
        contador = group.map(_.contador).sum,
        tiempo = group.map(_.tiempo).max,
        original = group.map(_.original).min)
    }

  /** Seconds-of-day in UTC — explicitly NOT the executor JVM's default
    * timezone, so classification matches the batch-side shiftOf /
    * planDateOf under `spark.sql.session.timeZone=UTC`. */
  def secondsOfDay(ts: Timestamp): Int = {
    val t = ts.toInstant.atZone(ZoneOffset.UTC).toLocalDateTime
    t.getHour * 3600 + t.getMinute * 60 + t.getSecond
  }

  /** F7 (Prensas.py:653-659): shift 1 = 08:00-15:59 on today's date;
    * shift 2 otherwise, attributed to yesterday before 08:00. UTC. */
  def shiftAndDate(ts: Timestamp): (Int, String) = {
    val t = ts.toInstant.atZone(ZoneOffset.UTC).toLocalDateTime
    val shift = if (t.getHour >= 8 && t.getHour < 16) 1 else 2
    val date = if (t.getHour >= 8) t.toLocalDate else t.toLocalDate.minusDays(1)
    (shift, date.toString)
  }

  /** F8 (Prensas.py:750-751). */
  def shiftChanged(prevSec: Int, curSec: Int): Boolean =
    (prevSec < 8 * 3600 && curSec >= 8 * 3600) ||
      (prevSec < 16 * 3600 && curSec >= 16 * 3600)
}
