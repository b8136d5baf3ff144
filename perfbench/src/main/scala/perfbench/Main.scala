package perfbench

import java.nio.file.{Files, Path, Paths}

import scala.collection.immutable.ListMap
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

import graft.SparkEntry
import graft.core.Sessions
import graft.streaming.StreamingConfs

/** One benchmark run in one JVM. Prints the run record as one JSON line
  * on stdout; `perfbench/run.py` builds this program, launches it and
  * turns the record into the benchmark's result line.
  *
  * Arguments (all `--name value`):
  *   workload    batch | stream_sensor
  *   seed        workload seed
  *   seconds     how long to measure
  *   trace       0 or 1: record spans on every second pass or cycle
  *   data        directory of the input tables
  *   work        working directory for this run's files
  *   traces      directory for span files
  *   cores       N of local[N]
  *   list, expected          batch: query list and expected outputs
  *   record-expected         batch: write the outputs seen to this file
  *   backlog, intake, rate, live-seconds, events
  *                           stream: stated sizes
  */
object Main {
  private val SetupRuns = 3

  def main(argv: Array[String]): Unit = {
    val a = argv.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    val workload = a("workload")
    val seed = a("seed").toLong
    val trace = a("trace") == "1"
    val dir = a("data")
    val work = Paths.get(a("work")).toAbsolutePath
    val cores = a("cores").toInt
    val load1 = Host.load1()
    System.setProperty("spark.local.dir", work.resolve("spark-local").toString)
    System.setProperty("spark.sql.warehouse.dir", work.resolve("warehouse").toString)

    val batch = workload == "batch"
    require(batch || workload == "stream_sensor", s"unknown workload $workload")
    val names = if (!batch) Nil else {
      val ns = Files.readAllLines(Paths.get(a("list"))).asScala.map(_.trim)
        .filter(l => l.nonEmpty && !l.startsWith("#")).toSeq
      val unknown = ns.filterNot(SparkEntry.queries.keySet)
      if (unknown.nonEmpty) {
        System.err.println(s"[perfbench] unknown queries in ${a("list")}: ${unknown.mkString(", ")}")
        sys.exit(2)
      }
      ns
    }

    // set-up, repeated: session build through Sessions.local, the
    // workload's input preparation and a warm-up of its code paths
    var spark: SparkSession = null
    var events: SensorEvents = null
    val setupS = (1 to SetupRuns).map { _ =>
      if (spark != null) spark.stop()
      val t0 = System.nanoTime()
      spark = Sessions.local(cores, s"perfbench-$workload")
      if (batch)
        SparkEntry.queries("q6_forecast_revenue")(spark, dir)
          .write.format("noop").mode("overwrite").save()
      else {
        StreamingConfs.applyRocksDb(spark)
        events = new SensorEvents(SensorEvents.load(spark, dir), seed, a("events").toInt,
          2 * a("intake").toInt)
        SensorStream.warmup(spark, dir, events, a("backlog").toInt)
      }
      (System.nanoTime() - t0) / 1e9
    }

    val t0 = System.nanoTime()
    def phase(what: String): Unit =
      System.err.println(f"[perfbench] $what done at ${(System.nanoTime() - t0) / 1e9}%.1f s after set-up")
    val spans = new Spans(false, s"$workload-s$seed-${System.currentTimeMillis()}")
    val rec = new Recorder(spark, spans)
    val seconds = a("seconds").toDouble
    val (outcome, checkMismatches, checked) =
      if (batch) {
        val wl = new BatchWorkload(spark, rec, dir, names, cores)
        val expected = a.get("expected").filter(p => Files.exists(Paths.get(p)))
          .map(readExpected).getOrElse(Map.empty)
        val (bad, got) = wl.check(expected)
        phase("output check")
        a.get("record-expected").foreach(p => writeExpected(Paths.get(p), names, got))
        (wl.measure(seed, seconds, trace), bad, names.length)
      } else {
        val s = new SensorStream(spark, rec, dir, cores, events, shape(a), work)
        events = null // the stream owns them now, and close() releases them
        try (s.measure(seconds, trace), Nil, 0) finally s.close()
      }
    phase("measurement")
    spark.catalog.clearCache()
    val heapMb = Host.retainedHeapMb()
    phase("heap measurement")

    val mismatches = checkMismatches ++ outcome.mismatches
    mismatches.foreach(m => System.err.println(s"[perfbench] MISMATCH $m"))
    outcome.flags.foreach(f => System.err.println(s"[perfbench] FLAG $f"))
    val failed = math.min(outcome.failed + checkMismatches.length, outcome.attempted + checked)

    val e2e = outcome.endToEnd ++ Map("setup_s" -> Stats.median(setupS), "retained_heap_mb" -> heapMb)
    val (selfTime, spanFile) = if (!trace) (ListMap.empty[String, Double], None) else {
      val all = spans.resolved
      val path = Paths.get(a("traces")).toAbsolutePath.resolve(s"$workload-s$seed.jsonl")
      spans.write(path, all)
      val st = ListMap(spans.selfTimeMs(all).toSeq.sortBy(-_._2): _*)
      printSelfTime(st, outcome.tracingOverhead)
      (st, Some(path.toString))
    }
    def withUnits(units: ListMap[String, String], v: Map[String, Double]) =
      units.map { case (k, u) => k -> ListMap("value" -> v.getOrElse(k, 0.0), "unit" -> u) }
    val record = ListMap(
      "workload" -> workload, "seed" -> seed, "trace" -> trace, "seconds" -> seconds,
      "fingerprint" -> Host.fingerprint(spark, load1),
      "correct" -> (failed == 0 && outcome.flags.isEmpty),
      "attempted" -> (outcome.attempted + checked), "failed" -> failed,
      "flags" -> outcome.flags, "mismatches" -> mismatches,
      "end_to_end" -> withUnits(Metrics.endToEnd, e2e),
      "per_layer" -> withUnits(Metrics.perLayer, outcome.perLayer),
      "setup_runs_s" -> setupS,
      "tracing_overhead" -> outcome.tracingOverhead,
      "self_time_ms" -> selfTime,
      "span_file" -> spanFile,
      "detail" -> outcome.detail)
    rec.detach()
    spark.stop()
    println(Json.render(record))
  }

  private def shape(a: Map[String, String]) = StreamShape(
    backlogRows = a("backlog").toInt, intakeRows = a("intake").toInt,
    liveRate = a("rate").toDouble, liveSeconds = a("live-seconds").toDouble,
    partitions = a("cores").toInt)

  private def readExpected(p: String): Map[String, (Long, String)] =
    Files.readAllLines(Paths.get(p)).asScala.map(_.trim)
      .filter(l => l.nonEmpty && !l.startsWith("#"))
      .map { l => val f = l.split("\t"); f(0) -> (f(1).toLong, f(2)) }.toMap

  private def writeExpected(p: Path, names: Seq[String], got: Map[String, (Long, String)]): Unit = {
    Files.createDirectories(p.toAbsolutePath.getParent)
    Files.write(p, ("# query\trows\tdigest" +: names.sorted.filter(got.contains).map(n =>
      s"$n\t${got(n)._1}\t${got(n)._2}")).asJava)
  }

  private def printSelfTime(st: ListMap[String, Double], overhead: Option[Double]): Unit = {
    val total = st.values.sum
    System.err.println(f"[perfbench] self time by layer (traced passes)")
    System.err.println(f"  ${"layer"}%-12s ${"self ms"}%12s ${"share"}%7s")
    st.foreach { case (l, ms) =>
      System.err.println(f"  $l%-12s $ms%12.1f ${100 * ms / total}%6.1f%%") }
    overhead.foreach(o => System.err.println(f"[perfbench] tracing overhead ${100 * o}%.1f%% of the untraced wall"))
  }
}
