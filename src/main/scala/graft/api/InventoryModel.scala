package graft.api

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import graft.{Op, OpFamily}
import graft.streaming.Ev

/** The SECOND concrete application on [[GraftEngine]] — an inventory
  * reservation ledger — proving the engine is a framework users bring
  * models to (reference:
  * modules/command-engine/core/src/main/scala/surge/internal/domain/AggregateProcessingModel.scala:17-34
  * and the scala-sdk sample module), not an Account-shaped one-off.
  * The engine code is reused UNCHANGED; this model exercises the three
  * API shapes Account never touches:
  *
  *  - **command type ≠ event type** (C = raw [[Ev]], E = [[InvEvent]]);
  *  - **multi-event commands**: an accepted reserve that drains
  *    availability below the low-water mark emits TWO events
  *    (Reserved + an automatic Reorder) — surge's `ctx.persistEvents`
  *    takes a Seq for exactly this;
  *  - **zero-event accepted commands**: a `view` command is
  *    acknowledged but persists nothing.
  *
  * Domain reading of the events table: user_id stands in for a SKU.
  * signup = restock delivery (10× the cent value), purchase = reserve
  * request, click = ship request (consumes a reservation AND stock),
  * error = release request (cancels a reservation), view = stock
  * inquiry. All quantities in integer cents of `value` so every state
  * field is an exact int64 at any fold parallelism.
  */
final case class InvEvent(event_id: Long, ts: java.sql.Timestamp,
    sku_id: Long, kind: String, qty: Long)

final case class Inventory(on_hand_c: Long, reserved_c: Long, n_events: Long)

object InventoryModel extends AggregateModel[Inventory, Ev, InvEvent] {
  private[graft] val lowWater = 2000L   // reorder when availability < 20.00
  private[graft] val reorderQty = 10000L

  private def cents(v: Double): Long = math.round(v * 100)

  private def micros(t: java.sql.Timestamp): Long = {
    val i = t.toInstant
    i.getEpochSecond * 1000000L + i.getNano / 1000L
  }

  /** The event-log reading of a raw row — how replay interprets the
    * ALREADY-ACCEPTED history (no validation, no reorder synthesis:
    * those are command-time behaviors; the log is what happened). */
  def toEvent(e: Ev): InvEvent = e.event_type match {
    case "signup"   => InvEvent(e.event_id, e.ts, e.user_id, "restock", cents(e.value) * 10)
    case "purchase" => InvEvent(e.event_id, e.ts, e.user_id, "reserve", cents(e.value))
    case "click"    => InvEvent(e.event_id, e.ts, e.user_id, "ship", cents(e.value))
    case "error"    => InvEvent(e.event_id, e.ts, e.user_id, "release", cents(e.value))
    case _          => InvEvent(e.event_id, e.ts, e.user_id, "noop", 0L)
  }

  override def commandAggregateId(c: Ev): Long = c.user_id
  override def eventAggregateId(e: InvEvent): Long = e.sku_id
  override def eventSequence(e: InvEvent): (Long, Long) = (micros(e.ts), e.event_id)
  override def commandSequence(c: Ev): (Long, Long) = (micros(c.ts), c.event_id)

  override def handleCommand(state: Option[Inventory], cmd: Ev): Either[String, Seq[InvEvent]] = {
    val oh = state.map(_.on_hand_c).getOrElse(0L)
    val rv = state.map(_.reserved_c).getOrElse(0L)
    val q = cents(cmd.value)
    def ev(kind: String, qty: Long) =
      InvEvent(cmd.event_id, cmd.ts, cmd.user_id, kind, qty)
    cmd.event_type match {
      case "signup" => Right(Seq(ev("restock", q * 10)))
      case "purchase" =>
        val avail = oh - rv
        if (avail >= q) {
          val reserve = ev("reserve", q)
          // availability AFTER this reservation decides the reorder —
          // the multi-event command shape
          if (oh - (rv + q) < lowWater) Right(Seq(reserve, ev("reorder", reorderQty)))
          else Right(Seq(reserve))
        } else Left(s"insufficient stock $avail for $q")
      case "click" =>
        if (rv >= q) Right(Seq(ev("ship", q)))
        else Left(s"cannot ship $q: reserved $rv")
      case "error" =>
        if (rv >= q) Right(Seq(ev("release", q)))
        else Left(s"cannot release $q: reserved $rv")
      case _ => Right(Seq.empty) // inquiry: acknowledged, persists nothing
    }
  }

  override def applyEvent(state: Option[Inventory], e: InvEvent): Option[Inventory] = {
    val st = state.getOrElse(Inventory(0L, 0L, 0L))
    val next = e.kind match {
      case "restock" => st.copy(on_hand_c = st.on_hand_c + e.qty)
      case "reorder" => st.copy(on_hand_c = st.on_hand_c + e.qty)
      case "reserve" => st.copy(reserved_c = st.reserved_c + e.qty)
      case "ship"    => st.copy(on_hand_c = st.on_hand_c - e.qty,
        reserved_c = st.reserved_c - e.qty)
      case "release" => st.copy(reserved_c = st.reserved_c - e.qty)
      case _         => st
    }
    Some(next.copy(n_events = next.n_events + 1))
  }
}

object InventoryOps extends OpFamily {
  private val cutoff = "2024-01-20 00:00:00"

  private def rawEvents(s: SparkSession, d: String): Dataset[Ev] = {
    import s.implicits._
    graft.sources.Tables.events(s, d)
      .select("event_id", "ts", "user_id", "event_type", "value").as[Ev]
  }

  private def mapped(s: SparkSession, raw: Dataset[Ev]): Dataset[InvEvent] = {
    import s.implicits._
    raw.map(InventoryModel.toEvent)
  }

  private def engine(s: SparkSession): GraftEngine[Inventory, Ev, InvEvent] = {
    import s.implicits._
    new GraftEngine(InventoryModel)
  }

  // A8 `api_inv_replay`: engine replay of the mapped log. Observables
  // are signed sums, so the oracle is one GROUP BY — order-insensitive
  // by construction, like every cross-engine aggregate here.
  private def apiInvReplay(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    engine(s).replayState(mapped(s, rawEvents(s, d)))
      .map(k => (k.aggregateId, k.state.on_hand_c, k.state.reserved_c, k.state.n_events))
      .toDF("sku_id", "on_hand_c", "reserved_c", "n_events")
  }

  private val qC = "CAST(round(value*100,0) AS BIGINT)"

  private val apiInvReplaySql =
    s"""SELECT user_id AS sku_id,
       |  CAST(sum(CASE WHEN event_type = 'signup' THEN 10 * $qC
       |       WHEN event_type = 'click' THEN -$qC ELSE 0 END) AS BIGINT) AS on_hand_c,
       |  CAST(sum(CASE WHEN event_type = 'purchase' THEN $qC
       |       WHEN event_type IN ('click','error') THEN -$qC ELSE 0 END) AS BIGINT) AS reserved_c,
       |  count(*) AS n_events
       |FROM events GROUP BY user_id""".stripMargin

  // snapshot = replay before the cutoff; commands = EVERY post-cutoff
  // event (all five types — restocks, reserves, ships, releases, and
  // zero-event inquiries), applied sequentially per aggregate.
  private def outcomes(s: SparkSession, d: String) = {
    import s.implicits._
    val raw = rawEvents(s, d)
    val snapshot = engine(s).replayState(
      mapped(s, raw.filter(col("ts") < lit(cutoff).cast("timestamp")).as[Ev]))
    val cmds = raw.filter(col("ts") >= lit(cutoff).cast("timestamp")).as[Ev]
    engine(s).processCommands(snapshot, cmds)
  }

  // A9 `api_inv_commands`: accept/reject + EMITTED EVENT COUNT per
  // command — n_emitted is the multi-event contract made observable
  // (2 = reserve-with-reorder, 1 = plain mutation, 0 = rejected or
  // inquiry), hash-checked against the oracle's sequential walk.
  private def apiInvCommands(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    outcomes(s, d)
      .map(o => (o.command.event_id, o.aggregateId, o.accepted, o.events.size.toLong))
      .toDF("event_id", "sku_id", "accepted", "n_emitted")
  }

  // The oracle walks each aggregate's post-cutoff commands in (ts,
  // event_id) order through a recursive CTE, carrying (oh, rv). The
  // per-step transition is spliced by [[stepCols]] so the base and
  // recursive members stay textually identical.
  private def accSql(oh: String, rv: String): String =
    s"""CASE WHEN c.typ = 'signup' THEN TRUE
       |  WHEN c.typ = 'purchase' THEN ($oh - $rv) >= c.q
       |  WHEN c.typ IN ('click','error') THEN $rv >= c.q
       |  ELSE TRUE END""".stripMargin

  private def stepCols(oh: String, rv: String): String = {
    val acc = accSql(oh, rv)
    s"""$oh AS oh_before, $rv AS rv_before,
       |($acc) AS accepted,
       |CASE WHEN c.typ = 'signup' THEN $oh + 10 * c.q
       |  WHEN c.typ = 'purchase' AND ($acc)
       |    THEN $oh + CASE WHEN $oh - ($rv + c.q) < ${InventoryModel.lowWater}
       |      THEN ${InventoryModel.reorderQty} ELSE 0 END
       |  WHEN c.typ = 'click' AND ($acc) THEN $oh - c.q
       |  ELSE $oh END AS oh_after,
       |CASE WHEN c.typ = 'purchase' AND ($acc) THEN $rv + c.q
       |  WHEN c.typ IN ('click','error') AND ($acc) THEN $rv - c.q
       |  ELSE $rv END AS rv_after,
       |CAST(CASE WHEN NOT ($acc) THEN 0
       |  WHEN c.typ = 'signup' THEN 1
       |  WHEN c.typ = 'purchase' THEN
       |    CASE WHEN $oh - ($rv + c.q) < ${InventoryModel.lowWater} THEN 2 ELSE 1 END
       |  WHEN c.typ IN ('click','error') THEN 1
       |  ELSE 0 END AS BIGINT) AS n_emitted""".stripMargin
  }

  private def invWalkCtes =
    s"""snap AS (
       |  SELECT user_id,
       |    CAST(sum(CASE WHEN event_type = 'signup' THEN 10 * $qC
       |         WHEN event_type = 'click' THEN -$qC ELSE 0 END) AS BIGINT) AS oh,
       |    CAST(sum(CASE WHEN event_type = 'purchase' THEN $qC
       |         WHEN event_type IN ('click','error') THEN -$qC ELSE 0 END) AS BIGINT) AS rv
       |  FROM events WHERE ts < TIMESTAMP '$cutoff' GROUP BY user_id),
       |cmds AS (
       |  SELECT event_id, user_id, event_type AS typ, $qC AS q,
       |    row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn
       |  FROM events WHERE ts >= TIMESTAMP '$cutoff'),
       |walk AS (
       |  SELECT c.event_id, c.user_id, c.rn, c.typ, c.q,
       |    ${stepCols("COALESCE(s.oh, 0)", "COALESCE(s.rv, 0)")}
       |  FROM cmds c LEFT JOIN snap s ON c.user_id = s.user_id WHERE c.rn = 1
       |  UNION ALL
       |  SELECT c.event_id, c.user_id, c.rn, c.typ, c.q,
       |    ${stepCols("w.oh_after", "w.rv_after")}
       |  FROM walk w JOIN cmds c ON c.user_id = w.user_id AND c.rn = w.rn + 1)""".stripMargin

  private def apiInvCommandsSql =
    s"""WITH RECURSIVE $invWalkCtes
       |SELECT event_id, user_id AS sku_id, accepted, n_emitted FROM walk""".stripMargin

  // A10 `api_inv_rejections`: the reason strings, byte-for-byte — the
  // ctx.reject contract again (A7), now with THREE distinct failure
  // modes instead of Account's one.
  private def apiInvRejections(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    outcomes(s, d)
      .filter(o => !o.accepted)
      .map(o => (o.command.event_id, o.aggregateId, o.rejection.getOrElse("")))
      .toDF("event_id", "sku_id", "reason")
  }

  private def apiInvRejectionsSql =
    s"""WITH RECURSIVE $invWalkCtes
       |SELECT event_id, user_id AS sku_id,
       |  CASE typ
       |    WHEN 'purchase' THEN 'insufficient stock '
       |      || CAST(oh_before - rv_before AS VARCHAR) || ' for ' || CAST(q AS VARCHAR)
       |    WHEN 'click' THEN 'cannot ship ' || CAST(q AS VARCHAR)
       |      || ': reserved ' || CAST(rv_before AS VARCHAR)
       |    ELSE 'cannot release ' || CAST(q AS VARCHAR)
       |      || ': reserved ' || CAST(rv_before AS VARCHAR) END AS reason
       |FROM walk WHERE NOT accepted""".stripMargin

  // A11 `api_inv_stream`: streamingState over the same mapped log —
  // the second model through the CONTINUOUS path, converging to the
  // replay oracle (the apiStream pattern: n_events is monotone, so the
  // per-key max_by of the update stream is the final state).
  private def apiInvStream(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val evs = graft.streaming.Streams.eventStream(s, d).map(InventoryModel.toEvent)
    val folded = engine(s).streamingState(evs)
      .map(k => (k.aggregateId, k.state.on_hand_c, k.state.reserved_c, k.state.n_events))
      .toDF("sku_id", "on_hand_c", "reserved_c", "n_events")
    val t = graft.streaming.Streams.runToTable(s, folded, "graft_api_inv_stream", "update",
      graft.streaming.Streams.eventShards(s, d))
    t.groupBy("sku_id")
      .agg(max_by(struct(col("on_hand_c"), col("reserved_c"), col("n_events")),
        col("n_events")).as("st"))
      .select(col("sku_id"), col("st.on_hand_c"), col("st.reserved_c"), col("st.n_events"))
  }

  override def ops: Seq[Op] = Seq(
    Op("api_inv_replay", apiInvReplay, Some(apiInvReplaySql)),
    Op("api_inv_commands", apiInvCommands, Some(apiInvCommandsSql)),
    Op("api_inv_rejections", apiInvRejections, Some(apiInvRejectionsSql)),
    Op("api_inv_stream", apiInvStream, Some(apiInvReplaySql)))
}
