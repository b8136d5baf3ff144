package perfbench

import java.time.Instant
import java.util.concurrent.locks.LockSupport

import scala.collection.immutable.ListMap
import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryProgress}
import org.apache.spark.sql.types._

import graft.core.Tables
import graft.operators.Windows
import graft.streaming.{Sinks, StreamPipelines}

/** Stated sizes of the sensor stream. */
final case class StreamShape(backlogRows: Int, intakeRows: Int, liveRate: Double,
                             liveSeconds: Double, partitions: Int)

import SensorStream._

/** The reference pipeline as a restarted job: each cycle restarts the
  * query from its checkpoint on a backlog that built up while it was
  * down (catch-up, closed loop: the next trigger starts when the last
  * one ends, each taking at most `intakeRows`), then keeps it running
  * while one generator thread publishes events on a fixed schedule
  * (live, open loop). Payloads are decoded as a Kafka value would be,
  * parsed and enriched with the broadcast customer dim, aggregated in
  * sliding windows under a watermark on the RocksDB state store, and
  * fanned out to a parquet consumer and a Kafka-shaped consumer. */
final class SensorStream(spark: SparkSession, rec: Recorder, dir: String, cores: Int,
                         generated: SensorEvents, shape: StreamShape, work: java.nio.file.Path) {
  private val feedId = s"sensor-${System.nanoTime()}"
  // both released by close(), so that the heap retained after the run
  // holds none of the generated events
  private var events = generated
  private var feed = new Feed(generated.payloads)
  Feeds.register(feedId, feed)
  private val dim = Tables.customer(spark, dir)
  private def pipeline(src: DataFrame): DataFrame = SensorStream.pipeline(src, dim)
  private val ckpt = work.resolve("checkpoint").toString
  private val parquetOut = work.resolve("parquet").toString

  // consumer-side measurements; consumers run on the query thread
  private val emitted = mutable.ArrayBuffer.empty[String]
  private val sinkMs = mutable.Map("parquet" -> 0.0, "kafka_shaped" -> 0.0)
  private var sinkCalls = 0L
  private var sinkRows = 0L

  private def timedSink(name: String)(body: => Unit): Unit =
    rec.spans.span(s"sinks.$name") { _ =>
      val t0 = System.nanoTime()
      body
      synchronized { sinkMs(name) += (System.nanoTime() - t0) / 1e6 }
    }

  private val consumers: Seq[DataFrame => Unit] = Seq(
    b => timedSink("parquet")(b.write.mode("append").parquet(parquetOut)),
    b => timedSink("kafka_shaped") {
      val rows = Sinks.kafkaShaped(b, "event_type").collect()
      synchronized {
        emitted ++= rows.map(_.getString(1)); sinkRows += rows.length; sinkCalls += 1
      }
    })

  private def start(): (StreamingQuery, Double) = {
    val t0 = System.nanoTime()
    val q = rec.spans.span("operators.build") { _ =>
      val src = spark.readStream.format(classOf[PayloadSource].getName)
        .option("feed", feedId).option("partitions", shape.partitions.toString)
        .option("maxRowsPerTrigger", shape.intakeRows.toString).load()
      Sinks.fanOut(pipeline(src), "update", consumers)
        .option("checkpointLocation", ckpt).queryName("sensor").start()
    }
    (q, (System.nanoTime() - t0) / 1e9)
  }

  /** Publish events [from, until) on the live schedule. Returns the
    * generator's lateness per publication in ms, and the unprocessed
    * backlog sampled at each publication. */
  private def publishLive(from: Long, until: Long, startNanos: Long): (Seq[Double], Seq[Long]) = {
    val lateMs = mutable.ArrayBuffer.empty[Double]
    val backlog = mutable.ArrayBuffer.empty[Long]
    var next = from
    while (next < until) {
      val now = System.nanoTime()
      val dueNext = startNanos + ((next - from) * 1e9 / shape.liveRate).toLong
      if (now >= dueNext) {
        val upTo = math.min(until, from + ((now - startNanos) * shape.liveRate / 1e9).toLong + 1)
        lateMs += (now - dueNext) / 1e6
        feed.available = upTo
        backlog += upTo - feed.consumed
        next = upTo
      } else LockSupport.parkNanos(math.min(dueNext - now, 1000000L))
    }
    (lateMs.toSeq, backlog.toSeq)
  }

  private def cycle(backlog: Int, liveSeconds: Double, traced: Boolean): Cycle = {
    rec.spans.enabled = traced
    val w0 = rec.snapshot()
    val liveRows = (shape.liveRate * liveSeconds).toLong
    require(feed.available + backlog + liveRows <= events.payloads.length,
      "generated events exhausted")
    feed.available += backlog
    val catchupRows = feed.available - feed.consumed
    val t0 = System.nanoTime()
    val (q, buildS) = start()
    q.processAllAvailable()
    val drainS = (System.nanoTime() - t0) / 1e9
    val liveFrom = feed.available
    val liveStartNanos = System.nanoTime()
    val liveStartMs = rec.spans.epochMs(liveStartNanos)
    var gen = (Seq.empty[Double], Seq.empty[Long])
    val thread = new Thread(() => gen = publishLive(liveFrom, liveFrom + liveRows, liveStartNanos),
      "perfbench-generator")
    thread.start(); thread.join()
    q.processAllAvailable()
    q.stop()
    q.exception.foreach(e => throw e)
    val work = rec.snapshot() - w0
    rec.spans.enabled = false
    Cycle(traced, drainS, buildS, catchupRows, rec.drainProgress(), liveFrom, liveStartMs,
      gen._1, (gen._2 :+ 0L).max, work)
  }

  private def endOffset(p: StreamingQueryProgress): Long = p.sources.head.endOffset.trim.toLong
  private def startOffset(p: StreamingQueryProgress): Long =
    Option(p.sources.head.startOffset).map(_.trim.toLong).getOrElse(0L)
  private def triggerEndMs(p: StreamingQueryProgress): Double =
    Instant.parse(p.timestamp).toEpochMilli.toDouble + p.durationMs.get("triggerExecution").doubleValue

  /** Event-to-result latency of each live event: from the time it was due
    * to the end of the trigger that processed it (and emitted the update
    * of its windows). Late events produce no result and are skipped. */
  private def latenciesMs(c: Cycle): Seq[Double] =
    c.progress.flatMap { p =>
      val (s, e) = (math.max(startOffset(p), c.liveFrom), endOffset(p))
      val end = triggerEndMs(p)
      (s until e).iterator.filterNot(i => events.late(i.toInt))
        .map(i => end - (c.liveStartMs + (i - c.liveFrom) * 1e3 / shape.liveRate)).toSeq
    }

  /** Trigger spans from each progress event: the phases of `durationMs`
    * laid end to end in execution order, and the sink spans recorded in
    * the consumers hung under `addBatch`. */
  private def traceTriggers(ps: Seq[StreamingQueryProgress]): Unit = {
    val spans = rec.spans
    val order = Seq("latestOffset" -> "streaming.latest_offset", "walCommit" -> "streaming.wal_commit",
      "getBatch" -> "streaming.get_batch", "queryPlanning" -> "plans.query_planning",
      "addBatch" -> "streaming.add_batch", "commitOffsets" -> "streaming.commit_offsets")
    ps.foreach { p =>
      val d = Recorder.progressDurations(p)
      val start = Instant.parse(p.timestamp).toEpochMilli.toDouble
      val end = start + d.getOrElse("triggerExecution", 0L)
      val trig = spans.add("streaming.trigger", start, end)
      var at = start
      order.foreach { case (k, name) =>
        val len = d.getOrElse(k, 0L).toDouble
        val id = spans.add(name, at, at + len, trig)
        if (k == "addBatch") {
          val commit = math.min(len, p.stateOperators.map(_.commitTimeMs).sum.toDouble)
          spans.add("state.commit", at + len - commit, at + len, id)
          spans.reparent("sinks.", start, end, id)
        }
        at += len
      }
    }
  }

  /** Check the stream against batch: the last value emitted per window
    * equals `Windows.sliding` over every published event that was not
    * late, and the rows the watermark dropped equal the late events
    * published times the windows each falls in. */
  private def check(dropped: Long): Seq[String] = {
    val published = feed.available.toInt
    val kept = decodePayloads(payloadFrame(spark, events, published))
      .filter(col("ts") > lit(new java.sql.Timestamp(events.lateBefore)))
    val want = Windows.sliding(kept).collect().map(r =>
      (r.getLong(0), r.getString(1)) -> (r.getLong(2), r.getDouble(3))).toMap
    val field = "\"(\\w+)\":\"?([^,\"}]*)".r
    val got = mutable.Map.empty[(Long, String), (Long, Double)]
    emitted.foreach { v =>
      val f = field.findAllMatchIn(v).map(m => m.group(1) -> m.group(2)).toMap
      got((f("window_start").toLong, f("event_type"))) = (f("n").toLong, f("sum_value").toDouble)
    }
    val keys = (want.keySet ++ got.keySet).toSeq.sorted
    val bad = keys.filter(k => want.get(k) != got.get(k)).map(k =>
      s"window $k: batch ${want.get(k)} stream ${got.get(k)}")
    val late = events.lateCount(published) * SensorStream.WindowsPerEvent
    bad ++ (if (dropped != late) Seq(s"rows dropped by watermark $dropped, late rows $late") else Nil)
  }

  def measure(seconds: Double, trace: Boolean): Outcome = {
    // two untimed cycles: the query's first start, then a restart from
    // its checkpoint, which runs code (state and log recovery) the first
    // start does not
    val warm = Seq(cycle(shape.backlogRows, 0.5, traced = false),
      cycle(shape.intakeRows, 0.5, traced = false))
    // sink measurements of the measured cycles only
    val (parquetMs0, kafkaMs0, calls0, rows0) =
      synchronized((sinkMs("parquet"), sinkMs("kafka_shaped"), sinkCalls, sinkRows))
    val cycles = mutable.ArrayBuffer.empty[Cycle]
    val deadline = System.nanoTime() + (seconds * 1e9).toLong
    var failure: Option[Throwable] = None
    // at least three cycles: the first still runs slower while the JIT
    // catches up, and a fixed count keeps the medians from shifting with
    // the host's speed. The events run.py generated cover the minimum
    // cycles and as many more as fit the measured time at the present
    // speed
    def room = feed.available + shape.backlogRows + (shape.liveRate * shape.liveSeconds).toLong <=
      events.payloads.length
    while (failure.isEmpty &&
      (cycles.length < 3 || (System.nanoTime() < deadline && room))) {
      try cycles += cycle(shape.backlogRows, shape.liveSeconds, trace && cycles.length % 2 == 1)
      catch { case e: Exception => failure = Some(e); System.err.println(s"[perfbench] stream failed: $e") }
    }
    cycles.filter(_.traced).foreach(c => traceTriggers(c.progress))
    val all = (warm ++ cycles).flatMap(_.progress)
    val dropped = all.flatMap(_.stateOperators).map(_.numRowsDroppedByWatermark).sum
    val mismatches = if (failure.isEmpty) check(dropped) else Nil
    val ps = cycles.flatMap(_.progress)
    val withData = ps.filter(_.numInputRows > 0)
    val liveTriggers = cycles.flatMap(c => c.progress.filter(p => p.numInputRows > 0 && endOffset(p) > c.liveFrom))
    val catchupTriggers = cycles.flatMap(c => c.progress.filter(p => p.numInputRows > 0 && endOffset(p) <= c.liveFrom))
    val lat = cycles.flatMap(latenciesMs)
    val genLate = cycles.flatMap(_.genLateMs)
    val backlog = (cycles.map(_.backlogMax) :+ 0L).max
    // a live trigger takes what was published while the one before it
    // ran, so a stream that keeps up processes about `liveRate` rows/s;
    // one that processes far fewer falls behind and its backlog grows
    val liveProcessed = Stats.median(liveTriggers.map(_.processedRowsPerSecond).toSeq)
    val flags = Seq(
      if (!(liveProcessed >= shape.liveRate / 2)) Some(f"growing backlog: live triggers processed a median $liveProcessed%.0f rows/s of ${shape.liveRate}%.0f rows/s published") else None,
      if (Stats.quantile(genLate, 0.99) > 50) Some(f"generator behind: p99 lateness ${Stats.quantile(genLate, 0.99)}%.1f ms") else None
    ).flatten
    def phase(k: String): Double = Stats.mean(ps.map(p => Recorder.progressDurations(p).getOrElse(k, 0L).toDouble))
    val nCycles = math.max(1, cycles.length)
    val work = cycles.map(_.work).foldLeft(Work.zero)(_ + _)
    val execS = ps.map(p => Recorder.progressDurations(p).getOrElse("addBatch", 0L)).sum / 1e3
    val perCycle = Metrics.exec(work, execS, cores, Recorder.meanCompileMs)
      .map { case (k, v) => k -> (if (k == "exec.core_busy_frac") v else v / nCycles) }
    val lastState = ps.lastOption.toSeq.flatMap(_.stateOperators)
    val drains = cycles.map(_.drainS)
    val overhead = Stats.tracingOverhead(cycles.map(c => c.traced -> c.drainS).toSeq)
    Outcome(
      attempted = (warm ++ cycles).map(_.progress.length.toLong).sum + 1,
      failed = failure.size.toLong + mismatches.length,
      flags = flags, mismatches = mismatches,
      endToEnd = Map(
        "wall_s" -> Stats.median(drains),
        "op_geomean_ms" -> Stats.geomean(liveTriggers.map(_.durationMs.get("triggerExecution").doubleValue)),
        "latency_p50_ms" -> Stats.quantile(lat, 0.5),
        "latency_p90_ms" -> Stats.quantile(lat, 0.9)),
      perLayer = perCycle ++ Map(
        "operators.build_s" -> Stats.median(cycles.map(_.buildS).toSeq),
        "plans.plan_s" -> ps.map(p => Recorder.progressDurations(p).getOrElse("queryPlanning", 0L)).sum / 1e3 / nCycles,
        "streaming.triggers" -> ps.length.toDouble,
        "streaming.trigger_ms" -> phase("triggerExecution"),
        "streaming.latest_offset_ms" -> phase("latestOffset"),
        "streaming.get_batch_ms" -> phase("getBatch"),
        "streaming.query_planning_ms" -> phase("queryPlanning"),
        "streaming.add_batch_ms" -> phase("addBatch"),
        "streaming.wal_commit_ms" -> phase("walCommit"),
        "streaming.commit_offsets_ms" -> phase("commitOffsets"),
        "streaming.input_rows_per_s" -> Stats.median(catchupTriggers.map(_.inputRowsPerSecond).toSeq),
        "streaming.processed_rows_per_s" -> Stats.median(catchupTriggers.map(_.processedRowsPerSecond).toSeq),
        "streaming.catchup_rows_per_s" -> Stats.median(cycles.map(c => c.catchupRows / c.drainS).toSeq),
        "state.rows_total" -> lastState.map(_.numRowsTotal).sum.toDouble,
        "state.memory_bytes" -> lastState.map(_.memoryUsedBytes).sum.toDouble,
        "state.commit_ms" -> Stats.mean(ps.map(_.stateOperators.map(_.commitTimeMs).sum.toDouble).toSeq),
        "state.rows_dropped_by_watermark" -> dropped.toDouble,
        "sinks.parquet_ms" -> (sinkMs("parquet") - parquetMs0) / math.max(1L, sinkCalls - calls0),
        "sinks.kafka_shaped_ms" -> (sinkMs("kafka_shaped") - kafkaMs0) / math.max(1L, sinkCalls - calls0),
        "sinks.rows" -> (sinkRows - rows0).toDouble,
        "source.gen_late_ms" -> Stats.quantile(genLate, 0.99),
        "source.backlog_rows" -> backlog.toDouble),
      tracingOverhead = overhead,
      detail = ListMap(
        "cycles" -> cycles.length,
        "catchup_wall_s" -> drains.toSeq,
        "catchup_rows" -> cycles.map(_.catchupRows).toSeq,
        "live_triggers" -> liveTriggers.length,
        "latency_samples" -> lat.length,
        "published_rows" -> feed.available,
        "late_rows" -> events.lateCount(feed.available),
        "with_data_triggers" -> withData.length))
  }

  def close(): Unit = {
    Feeds.remove(feedId)
    events = null
    feed = null
    synchronized(emitted.clearAndShrink())
  }
}

object SensorStream {
  /** The wire schema of one payload and its decode, as `CAST(value AS
    * STRING)` + `from_json` would read a Kafka topic. */
  private val wire = StructType(Seq(
    StructField("event_id", LongType), StructField("ts", TimestampType),
    StructField("user_id", LongType), StructField("event_type", StringType),
    StructField("value", DoubleType), StructField("props", StringType)))
  private def decodePayloads(raw: DataFrame): DataFrame =
    raw.select(from_json(col("value").cast("string"), wire,
      Map("timestampFormat" -> "yyyy-MM-dd'T'HH:mm:ss.SSSXXX")).as("e"))
      .select("e.*")

  /** Decode, parse and enrich with the broadcast dim, sliding windows. */
  private def pipeline(src: DataFrame, dim: DataFrame): DataFrame =
    StreamPipelines.sliding(StreamPipelines.parseAndEnrich(decodePayloads(src), dim, broadcastDim = true))

  private def payloadFrame(spark: SparkSession, events: SensorEvents, n: Int): DataFrame =
    spark.createDataFrame(events.payloads.iterator.take(n).map(Row(_)).toSeq.asJava,
      StructType(StructField("value", BinaryType) :: Nil))

  /** The pipeline's transforms in batch over the first `n` payloads, to
    * warm up code generation during set-up. */
  def warmup(spark: SparkSession, dir: String, events: SensorEvents, n: Int): Unit =
    pipeline(payloadFrame(spark, events, n), Tables.customer(spark, dir))
      .write.format("noop").mode("overwrite").save()

  /** One restart of the query: its catch-up drain, the progress of its
    * triggers, the live phase's schedule, the generator's lateness and
    * the peak unprocessed backlog during the live phase. */
  private final case class Cycle(traced: Boolean, drainS: Double, buildS: Double,
                                 catchupRows: Long, progress: Seq[StreamingQueryProgress],
                                 liveFrom: Long, liveStartMs: Double,
                                 genLateMs: Seq[Double], backlogMax: Long, work: Work)

  /** A 10-minute window sliding by 5 minutes holds each event twice. */
  val WindowsPerEvent = 2
}
