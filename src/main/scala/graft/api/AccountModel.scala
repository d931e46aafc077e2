package graft.api

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.{Op, OpFamily}
import graft.streaming.Ev

/** A concrete surge-style application on [[GraftEngine]]: a spending
  * account. signup grants a 1000-cent balance, purchases spend from it
  * (rejected when uncovered), other events only advance the log.
  *
  * These ops run the REAL engine callbacks (`handleCommand` /
  * `applyEvent` — arbitrary Scala, exactly what a surge user ports
  * over) and are still oracle-checked: replay is order-insensitive in
  * its observable fields, and sequential command processing is mirrored
  * in SQL with a recursive CTE walking each aggregate's command list in
  * order.
  */
final case class Account(balance_c: Long, n_purchases: Long, n_events: Long)

object AccountModel extends AggregateModel[Account, Ev, Ev] {
  private def cents(v: Double): Long = math.round(v * 100)

  // full-microsecond ordering keys — millisecond truncation would
  // reorder same-millisecond neighbors vs the oracle's full-precision ts
  private def micros(t: java.sql.Timestamp): Long = {
    val i = t.toInstant
    i.getEpochSecond * 1000000L + i.getNano / 1000L
  }

  override def commandAggregateId(c: Ev): Long = c.user_id
  override def eventAggregateId(e: Ev): Long = e.user_id
  override def eventSequence(e: Ev): (Long, Long) = (micros(e.ts), e.event_id)
  override def commandSequence(c: Ev): (Long, Long) = (micros(c.ts), c.event_id)

  override def handleCommand(state: Option[Account], cmd: Ev): Either[String, Seq[Ev]] = {
    val bal = state.map(_.balance_c).getOrElse(0L)
    if (cmd.event_type != "purchase") Right(Seq(cmd))
    else if (bal >= cents(cmd.value)) Right(Seq(cmd))
    else Left(s"insufficient balance $bal for ${cents(cmd.value)}")
  }

  override def applyEvent(state: Option[Account], e: Ev): Option[Account] = {
    val st = state.getOrElse(Account(0L, 0L, 0L))
    val next = e.event_type match {
      case "signup"   => st.copy(balance_c = st.balance_c + 1000L)
      case "purchase" => st.copy(balance_c = st.balance_c - cents(e.value),
        n_purchases = st.n_purchases + 1)
      case _          => st
    }
    Some(next.copy(n_events = next.n_events + 1))
  }
}

object AccountOps extends OpFamily {
  private val cutoff = "2024-01-20 00:00:00"

  private def events(s: SparkSession, d: String) = {
    import s.implicits._
    graft.sources.Tables.events(s, d)
      .select("event_id", "ts", "user_id", "event_type", "value").as[Ev]
  }

  private def engine(s: SparkSession): GraftEngine[Account, Ev, Ev] = {
    import s.implicits._
    new GraftEngine(AccountModel)
  }

  // engine replay over the full log → per-aggregate account state
  private def apiReplay(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    engine(s).replayState(events(s, d))
      .map(k => (k.aggregateId, k.state.balance_c, k.state.n_purchases, k.state.n_events))
      .toDF("user_id", "balance_c", "n_purchases", "n_events")
  }

  private val apiReplaySql =
    """SELECT user_id,
      |  CAST(sum(CASE WHEN event_type = 'signup' THEN 1000
      |       WHEN event_type = 'purchase' THEN -CAST(round(value*100,0) AS BIGINT)
      |       ELSE 0 END) AS BIGINT) AS balance_c,
      |  CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS n_purchases,
      |  count(*) AS n_events
      |FROM events GROUP BY user_id""".stripMargin

  // engine command processing: snapshot = replay before the cutoff,
  // commands = purchases after it, applied sequentially per aggregate
  // (each accepted purchase reduces the balance the next one sees).
  private def apiCommands(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val ev = events(s, d)
    val snapshot = engine(s).replayState(ev.filter(col("ts") < lit(cutoff).cast("timestamp")).as[Ev])
    val cmds = ev.filter(col("ts") >= lit(cutoff).cast("timestamp") &&
      col("event_type") === "purchase").as[Ev]
    engine(s).processCommands(snapshot, cmds)
      .map(o => (o.command.event_id, o.aggregateId, o.accepted))
      .toDF("event_id", "user_id", "accepted")
  }

  private val apiCommandsSql =
    s"""WITH RECURSIVE snap AS (
       |  SELECT user_id,
       |    CAST(sum(CASE WHEN event_type = 'signup' THEN 1000
       |         WHEN event_type = 'purchase' THEN -CAST(round(value*100,0) AS BIGINT)
       |         ELSE 0 END) AS BIGINT) AS balance_c
       |  FROM events WHERE ts < TIMESTAMP '$cutoff' GROUP BY user_id),
       |cmds AS (
       |  SELECT event_id, user_id, CAST(round(value*100,0) AS BIGINT) AS cost,
       |    row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn
       |  FROM events WHERE ts >= TIMESTAMP '$cutoff' AND event_type = 'purchase'),
       |walk AS (
       |  SELECT c.event_id, c.user_id, c.rn,
       |    COALESCE(s.balance_c, 0) >= c.cost AS accepted,
       |    COALESCE(s.balance_c, 0)
       |      - CASE WHEN COALESCE(s.balance_c, 0) >= c.cost THEN c.cost ELSE 0 END AS bal_after
       |  FROM cmds c LEFT JOIN snap s ON c.user_id = s.user_id WHERE c.rn = 1
       |  UNION ALL
       |  SELECT c.event_id, c.user_id, c.rn,
       |    w.bal_after >= c.cost AS accepted,
       |    w.bal_after - CASE WHEN w.bal_after >= c.cost THEN c.cost ELSE 0 END AS bal_after
       |  FROM walk w JOIN cmds c ON c.user_id = w.user_id AND c.rn = w.rn + 1)
       |SELECT event_id, user_id, accepted FROM walk""".stripMargin

  // A7 `api_rejections`: the FAILURE path proper — surge's ctx.reject
  // answers a command with a reason the caller acts on, so the reason
  // STRING is part of the contract, not a log line. Same sequential
  // walk as A2 but emitting only rejected commands with the exact
  // message handleCommand built ("insufficient balance <bal> for
  // <cost>"); the oracle reconstructs the running balance in its
  // recursive CTE and formats the identical string, so the engine's
  // error text is hash-checked byte-for-byte.
  private def apiRejections(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val ev = events(s, d)
    val snapshot = engine(s).replayState(ev.filter(col("ts") < lit(cutoff).cast("timestamp")).as[Ev])
    val cmds = ev.filter(col("ts") >= lit(cutoff).cast("timestamp") &&
      col("event_type") === "purchase").as[Ev]
    engine(s).processCommands(snapshot, cmds)
      .filter(o => !o.accepted)
      .map(o => (o.command.event_id, o.aggregateId, o.rejection.getOrElse("")))
      .toDF("event_id", "user_id", "reason")
  }

  private val apiRejectionsSql =
    s"""WITH RECURSIVE snap AS (
       |  SELECT user_id,
       |    CAST(sum(CASE WHEN event_type = 'signup' THEN 1000
       |         WHEN event_type = 'purchase' THEN -CAST(round(value*100,0) AS BIGINT)
       |         ELSE 0 END) AS BIGINT) AS balance_c
       |  FROM events WHERE ts < TIMESTAMP '$cutoff' GROUP BY user_id),
       |cmds AS (
       |  SELECT event_id, user_id, CAST(round(value*100,0) AS BIGINT) AS cost,
       |    row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn
       |  FROM events WHERE ts >= TIMESTAMP '$cutoff' AND event_type = 'purchase'),
       |walk AS (
       |  SELECT c.event_id, c.user_id, c.rn, c.cost,
       |    COALESCE(s.balance_c, 0) AS bal_before,
       |    COALESCE(s.balance_c, 0) >= c.cost AS accepted,
       |    COALESCE(s.balance_c, 0)
       |      - CASE WHEN COALESCE(s.balance_c, 0) >= c.cost THEN c.cost ELSE 0 END AS bal_after
       |  FROM cmds c LEFT JOIN snap s ON c.user_id = s.user_id WHERE c.rn = 1
       |  UNION ALL
       |  SELECT c.event_id, c.user_id, c.rn, c.cost,
       |    w.bal_after AS bal_before,
       |    w.bal_after >= c.cost AS accepted,
       |    w.bal_after - CASE WHEN w.bal_after >= c.cost THEN c.cost ELSE 0 END AS bal_after
       |  FROM walk w JOIN cmds c ON c.user_id = w.user_id AND c.rn = w.rn + 1)
       |SELECT event_id, user_id,
       |  'insufficient balance ' || CAST(bal_before AS VARCHAR)
       |    || ' for ' || CAST(cost AS VARCHAR) AS reason
       |FROM walk WHERE NOT accepted""".stripMargin

  // the engine's CONTINUOUS path over the same log: streamingState
  // through a real streaming query must converge to batch replay —
  // checked against the identical oracle.
  private def apiStream(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val folded = engine(s).streamingState(graft.streaming.Streams.eventStream(s, d))
      .map(k => (k.aggregateId, k.state.balance_c, k.state.n_purchases, k.state.n_events))
      .toDF("user_id", "balance_c", "n_purchases", "n_events")
    val t = graft.streaming.Streams.runToTable(s, folded, "graft_api_stream", "update",
      graft.streaming.Streams.eventShards(s, d))
    t.groupBy("user_id")
      .agg(max_by(struct(col("balance_c"), col("n_purchases"), col("n_events")),
        col("n_events")).as("st"))
      .select(col("user_id"), col("st.balance_c"), col("st.n_purchases"), col("st.n_events"))
  }

  // A6 `api_stream_commands`: the engine's CONTINUOUS command loop —
  // commands arrive on the stream, each answered accept/reject against
  // the aggregate's current state (seeded from the pre-cutoff snapshot,
  // then carried across micro-batches by the state store). Same
  // recursive-CTE oracle as the batch A2 twin ⇒ batch/stream parity of
  // the full sequential accept/reject walk.
  private def apiStreamCommands(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val ev = events(s, d)
    // materialize the pre-cutoff snapshot ONCE per invocation: it seeds
    // the state store as flatMapGroupsWithState's initialState, but the
    // static subtree stays in the streaming plan and every micro-batch
    // replans (and can re-execute) the full replay shuffle+fold — the
    // stream_forecast static-side rule applied to the typed engine path.
    val snapshot = graft.sources.Tables.stableCheckpoint(
      engine(s).replayState(
        ev.filter(col("ts") < lit(cutoff).cast("timestamp")).as[Ev]).toDF())
      .as[graft.api.Keyed[Account]]
    val cmdStream = graft.streaming.Streams.eventStream(s, d)
      .filter(col("ts") >= lit(cutoff).cast("timestamp") &&
        col("event_type") === "purchase").as[Ev]
    val out = engine(s).streamingCommands(cmdStream, snapshot)
      .map(o => (o.command.event_id, o.aggregateId, o.accepted))
      .toDF("event_id", "user_id", "accepted")
    graft.streaming.Streams.runToTable(s, out, "graft_api_stream_cmds", "update",
      graft.streaming.Streams.eventShards(s, d))
      .select("event_id", "user_id", "accepted")
  }

  override def ops: Seq[Op] = Seq(
    Op("api_replay", apiReplay, Some(apiReplaySql)),
    Op("api_commands", apiCommands, Some(apiCommandsSql)),
    Op("api_rejections", apiRejections, Some(apiRejectionsSql)),
    Op("api_stream", apiStream, Some(apiReplaySql)),
    Op("api_stream_commands", apiStreamCommands, Some(apiCommandsSql)))
}
