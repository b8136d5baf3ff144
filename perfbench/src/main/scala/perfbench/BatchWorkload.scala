package perfbench

import scala.collection.immutable.ListMap
import scala.util.Random

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.SQLExecution
import org.apache.spark.sql.functions._

import graft.SparkEntry

import BatchWorkload.QueryRun

/** A fixed list of registered queries, run pass after pass. Each query
  * is timed in three phases through the public API:
  *   - build: `SparkEntry.queries(name)(spark, dir)`, which includes any
  *     eager materialization an operator does while it is constructed;
  *   - plan: `queryExecution.executedPlan`;
  *   - exec: that same executed plan run to completion as one SQL
  *     execution, producing every output row and column; the query is
  *     planned once, as a Dataset action plans it.
  * The listener bus is drained between phases (outside the timed
  * regions) so each phase's Spark work is attributed exactly. */
final class BatchWorkload(spark: SparkSession, rec: Recorder, dir: String,
                          names: Seq[String], cores: Int) {
  private val registry = SparkEntry.queries
  private val fns = names.map(n => n -> registry(n)).toMap

  /** Row count and order-insensitive digest of a query's output: the sum
    * of a 64-bit hash of each row's JSON form, so a changed, missing or
    * extra row changes it while row order does not. */
  def digest(df: DataFrame): (Long, String) = {
    val r = df.select(xxhash64(to_json(struct(col("*")))).as("h"))
      .agg(count(lit(1)), sum(col("h").cast("decimal(38,0)")))
      .head()
    (r.getLong(0), Option(r.getDecimal(1)).map(_.toPlainString).getOrElse("0"))
  }

  /** Run every query once, untimed, and compare its output with the
    * expected row count and digest. Returns one line per mismatch or
    * failed query, and the outputs seen. */
  def check(expected: Map[String, (Long, String)]): (Seq[String], Map[String, (Long, String)]) = {
    val got = names.flatMap { n =>
      try Some(n -> digest(fns(n)(spark, dir)))
      catch { case e: Exception => System.err.println(s"[perfbench] $n failed: $e"); None }
      finally spark.catalog.clearCache()
    }.toMap
    val bad = names.flatMap { n =>
      (expected.get(n), got.get(n)) match {
        case (_, None) => Some(s"$n: failed")
        case (None, _) => Some(s"$n: no expected value")
        case (Some(e), Some(g)) if e != g =>
          Some(s"$n: expected rows=${e._1} digest=${e._2}, got rows=${g._1} digest=${g._2}")
        case _ => None
      }
    }
    (bad, got)
  }

  private def runQuery(name: String): QueryRun = {
    val fn = fns(name)
    val spans = rec.spans
    val w0 = rec.snapshot()
    val b0 = Recorder.blockBytes(spark)
    spans.span("query") { q =>
      val t0 = System.nanoTime()
      val df = spans.span("operators.build", q)(_ => fn(spark, dir))
      val buildS = (System.nanoTime() - t0) / 1e9
      val w1 = rec.snapshot()
      val blocks = Recorder.blockBytes(spark) - b0
      val t1 = System.nanoTime()
      val qe = df.queryExecution
      spans.span("plans.plan", q)(_ => qe.executedPlan)
      val t2 = System.nanoTime()
      spans.span("exec.run", q)(_ =>
        SQLExecution.withNewExecutionId(qe, Some("perfbench"))(qe.toRdd.foreach(_ => ())))
      val t3 = System.nanoTime()
      val w2 = rec.snapshot()
      QueryRun(name, buildS, (t2 - t1) / 1e9, (t3 - t2) / 1e9, w1 - w0, w2 - w1, blocks)
    }
  }

  /** Passes until `seconds` have been spent measuring (at least four,
    * so that a per-query median drops the first pass after the cold
    * check pass, which the JIT has not caught up with yet, and a fixed
    * pass count keeps the medians from shifting with the host's speed).
    * The seed
    * permutes the query order of each pass. With `trace`, every second
    * pass records spans, and the overhead of tracing compares each
    * traced pass with the untraced passes around it. */
  def measure(seed: Long, seconds: Double, trace: Boolean): Outcome = {
    val rnd = new Random(seed)
    val passes = Seq.newBuilder[(Boolean, Seq[QueryRun])]
    var failed = 0L; var attempted = 0L
    def pass(): Seq[QueryRun] = rnd.shuffle(names).flatMap { n =>
      attempted += 1
      try Some(runQuery(n))
      catch { case e: Exception =>
        failed += 1
        System.err.println(s"[perfbench] $n failed: $e")
        None
      } finally spark.catalog.clearCache()
    }
    val deadline = System.nanoTime() + (seconds * 1e9).toLong
    var p = 0
    while (p < 4 || System.nanoTime() < deadline) {
      val traced = trace && p % 2 == 1
      rec.spans.enabled = traced
      passes += traced -> pass()
      p += 1
    }
    rec.spans.enabled = false
    val all = passes.result()
    val runs = all.flatMap(_._2)
    val passWall = all.map(_._2.map(_.wallS).sum)
    // per-query medians over passes: one slow pass of one query moves
    // neither the wall nor the geometric mean
    val perQuery = runs.groupBy(_.name).values.map(rs => Stats.median(rs.map(_.wallS))).toSeq
    val compileMs = Recorder.meanCompileMs
    val layer = Metrics.medians(all.map { case (_, rs) =>
      val build = rs.map(_.build).foldLeft(Work.zero)(_ + _)
      val exec = rs.map(_.exec).foldLeft(Work.zero)(_ + _)
      Map(
        "operators.build_s" -> rs.map(_.buildS).sum,
        "operators.build_jobs" -> build.jobs.toDouble,
        "operators.build_tasks" -> build.tasks.toDouble,
        "operators.build_task_s" -> build.taskMs / 1e3,
        "operators.build_block_bytes" -> rs.map(_.blockBytes).sum.toDouble,
        "plans.plan_s" -> rs.map(_.planS).sum) ++
        Metrics.exec(exec, rs.map(_.execS).sum, cores, compileMs)
    })
    val overhead = Stats.tracingOverhead(all.map { case (t, rs) => t -> rs.map(_.wallS).sum })
    val wallsMs = runs.map(_.wallS * 1e3)
    Outcome(attempted, failed, Nil, Nil,
      endToEnd = Map(
        "wall_s" -> perQuery.sum,
        "op_geomean_ms" -> Stats.geomean(perQuery.map(_ * 1e3)),
        "latency_p50_ms" -> Stats.quantile(wallsMs, 0.5),
        "latency_p90_ms" -> Stats.quantile(wallsMs, 0.9)),
      perLayer = layer,
      tracingOverhead = overhead,
      detail = ListMap(
        "passes" -> all.length,
        "pass_wall_s" -> passWall,
        "query_wall_s" -> ListMap(names.map(n =>
          n -> runs.filter(_.name == n).map(_.wallS)): _*)))
  }
}

object BatchWorkload {
  /** One timed query: its phase walls and the Spark work of each phase. */
  private final case class QueryRun(name: String, buildS: Double, planS: Double,
                                    execS: Double, build: Work, exec: Work,
                                    blockBytes: Long) {
    def wallS: Double = buildS + planS + execS
  }
}
