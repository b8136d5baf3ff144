package perfbench

import java.nio.charset.StandardCharsets
import java.time.LocalDate

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.core.Tables

/** Seeded sensor events in arrival order, pre-encoded as JSON wire
  * payloads (the `value` of a Kafka record carrying one events row).
  *
  * The traffic replays the repository's events table in its arrival
  * order (`event_id`), from a start row the seed picks, wrapping around
  * to the table's first row with event time shifted by the table's span.
  * User keys, event types, values, props and the event-time spacing are
  * the table's own; `event_id` is the arrival index. The table arrives
  * in event-time order (`out_of_order_stats` finds no late row), so the
  * disorder is the one thing the generator adds. Of the events:
  *   - `outOfOrderShare` have their event time moved back by less than
  *     the pipeline's 10-minute watermark delay, so none is dropped;
  *   - `lateShare` are late beyond the watermark: their event time lies
  *     before `lateBefore`, 20 minutes apart from each other, so every
  *     late event falls in sliding windows of its own. The late-event
  *     filter of a stateful operator uses the watermark of the batch
  *     before last, so a late event is dropped from the third
  *     micro-batch on; none of the first `onTimeHead` events (the first
  *     two micro-batches) is late. */
final class SensorEvents(table: SensorEvents.Table, seed: Long, n: Int, onTimeHead: Int) {
  import SensorEvents._

  val late = new Array[Boolean](n)
  val payloads = new Array[Array[Byte]](n)
  private val rows = table.tsMs.length
  private val rnd = new java.util.Random(seed)
  private val start = rnd.nextInt(rows)
  /** Every late event lies before this instant and every other after it. */
  val lateBefore: Long = table.tsMs(start) - 30 * MinuteMs

  locally {
    // one mean gap past the last row, so event time keeps rising on a wrap
    val span = (table.tsMs(rows - 1) - table.tsMs(0)) * rows / math.max(1, rows - 1)
    var lateSeen = 0L
    var i = 0
    while (i < n) {
      val j = (start + i) % rows
      val slot = table.tsMs(j) + (start + i) / rows * span
      val r = rnd.nextDouble()
      val ts =
        if (i >= onTimeHead && r < lateShare) {
          late(i) = true
          lateSeen += 1
          lateBefore - lateSeen * 20 * MinuteMs
        } else if (r < lateShare + outOfOrderShare) slot - rnd.nextInt(WatermarkMs.toInt)
        else slot
      val sb = new java.lang.StringBuilder(160)
      sb.append("{\"event_id\":").append(i).append(",\"ts\":\"")
      appendIso(sb, ts)
      sb.append("\",\"user_id\":").append(table.user(j))
        .append(",\"event_type\":\"").append(table.kind(j))
        .append("\",\"value\":").append(table.value(j))
        .append(",\"props\":\"").append(table.props(j).replace("\\", "\\\\").replace("\"", "\\\""))
        .append("\"}")
      payloads(i) = sb.toString.getBytes(StandardCharsets.UTF_8)
      i += 1
    }
  }

  /** Late events among the first `until`. */
  def lateCount(until: Long): Long = {
    var c = 0L; var i = 0
    while (i < until) { if (late(i)) c += 1; i += 1 }
    c
  }
}

object SensorEvents {
  val MinuteMs: Long = 60000L
  /** The watermark delay of `StreamPipelines.sliding`. */
  val WatermarkMs: Long = 10 * MinuteMs
  val outOfOrderShare = 0.1
  val lateShare = 0.01
  private val DayMs = 86400000L

  /** The events table's columns in arrival (`event_id`) order. */
  final case class Table(tsMs: Array[Long], user: Array[Long], kind: Array[String],
                         value: Array[Double], props: Array[String])

  def load(spark: SparkSession, dir: String): Table = {
    val rs = Tables.events(spark, dir).orderBy("event_id")
      .select(expr("unix_millis(ts)"), col("user_id"), col("event_type"), col("value"), col("props"))
      .collect()
    Table(rs.map(_.getLong(0)), rs.map(_.getLong(1)), rs.map(_.getString(2)),
      rs.map(_.getDouble(3)), rs.map(_.getString(4)))
  }

  private def pad(sb: java.lang.StringBuilder, v: Long, width: Int): Unit = {
    var w = width - 1; var lim = 10L
    while (w > 0) { if (v < lim) sb.append('0'); lim *= 10; w -= 1 }
    sb.append(v)
  }

  /** `yyyy-MM-dd'T'HH:mm:ss.SSS'Z'` of an epoch-millisecond instant. */
  private def appendIso(sb: java.lang.StringBuilder, ms: Long): Unit = {
    val day = Math.floorDiv(ms, DayMs)
    val tod = ms - day * DayMs
    sb.append(LocalDate.ofEpochDay(day)).append('T')
    pad(sb, tod / 3600000, 2); sb.append(':')
    pad(sb, tod / 60000 % 60, 2); sb.append(':')
    pad(sb, tod / 1000 % 60, 2); sb.append('.')
    pad(sb, tod % 1000, 3); sb.append('Z')
  }
}
