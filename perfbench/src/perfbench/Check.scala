package perfbench

import org.apache.spark.sql.Row
import org.apache.spark.sql.types.StructType

/** Output checks. */
object Check {

  /** Canonical text of one value: stable across runs, JVM time zones
    * and result order (maps sort by key, timestamps print as UTC
    * instants, doubles print every digit). */
  def canon(v: Any): String = v match {
    case null => "␀"
    case t: java.sql.Timestamp => t.toInstant.toString
    case t: java.time.Instant => t.toString
    case d: java.lang.Double => java.lang.Double.toString(d)
    case f: java.lang.Float => java.lang.Float.toString(f)
    case b: java.math.BigDecimal => b.toPlainString
    case b: scala.math.BigDecimal => b.bigDecimal.toPlainString
    case a: Array[Byte] => a.map(x => f"$x%02x").mkString
    case r: Row => (0 until r.length).map(i => canon(r.get(i))).mkString("(", ",", ")")
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => canon(k) + "->" + canon(x) }.sorted.mkString("{", ",", "}")
    case s: scala.collection.Seq[_] => s.map(canon).mkString("[", ",", "]")
    case other => other.toString
  }

  /** Row text with the columns taken in name order — the column order
    * an operator emits does not change its fingerprint. */
  def rowText(schema: StructType, r: Row): String =
    schema.fieldNames.zipWithIndex.sortBy(_._1)
      .map { case (_, i) => canon(r.get(i)) }.mkString("\u0001")

  /** Order-independent result fingerprint: the row count and the sum,
    * modulo 2^64, of a 64-bit digest of every row's text. */
  def fingerprint(schema: StructType, rows: Array[Row]): String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    var sum = 0L
    rows.foreach { r =>
      val d = md.digest(rowText(schema, r).getBytes("UTF-8"))
      sum += java.nio.ByteBuffer.wrap(d, 0, 8).getLong
    }
    f"${rows.length}%d:$sum%016x"
  }

  /** Latest state of one key, as LiveStore decodes it. */
  final case class State(lastUs: Long, lastId: Long, lastType: String,
      lastValue: Double, maxUs: Long, n: Long) {
    def row(key: Long): String =
      Seq(key, Math.floorDiv(maxUs, 1000000L), lastType, lastValue, n).map(canon).mkString("|")
  }

  private def micros(t: java.sql.Timestamp): Long =
    Math.multiplyExact(Math.floorDiv(t.getTime, 1000L), 1000000L) + t.getNanos / 1000L

  /** The fold of the committed batches, kept in the client: lookups are
    * checked against it at the moment they run. */
  final class Fold {
    private val states = scala.collection.mutable.HashMap.empty[Long, State]
    def add(batch: Iterable[Inputs.Event]): Unit = batch.foreach { e =>
      val us = micros(e.ts)
      val s = states.get(e.user_id)
      val later = s.forall(p => us > p.lastUs || (us == p.lastUs && e.event_id > p.lastId))
      val base = s.getOrElse(State(us, e.event_id, e.event_type, e.value, us, 0L))
      val next = if (later) base.copy(lastUs = us, lastId = e.event_id,
        lastType = e.event_type, lastValue = e.value) else base
      states(e.user_id) = next.copy(maxUs = math.max(next.maxUs, us), n = next.n + 1)
    }
    def expected(key: Long): Seq[String] = states.get(key).map(_.row(key)).toSeq
    def all: Seq[String] = states.toSeq.map { case (k, s) => s.row(k) }.sorted
  }

  /** A decoded state row (user_id, last_ts_s, last_type, last_value,
    * n_events) in the same text form as [[State.row]]. */
  def stateRow(r: Row): String =
    Seq("user_id", "last_ts_s", "last_type", "last_value", "n_events")
      .map(c => canon(r.get(r.fieldIndex(c)))).mkString("|")
}
