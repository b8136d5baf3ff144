package perfbench

import java.nio.file.{Files, Path}
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

/** One traced interval. Times are epoch milliseconds with sub-millisecond
  * digits; `parent` is the id of the enclosing span, or 0 at the top. */
final case class Span(id: Long, name: String, start: Double, end: Double,
                      parent: Long) {
  def layer: String = name.takeWhile(_ != '.')
}

/** Spans kept in memory and written out when the run ends. Spark jobs
  * arrive from the listener without a parent; `resolved` hangs each one
  * under the innermost benchmark span that was open when it started. */
final class Spans(@volatile var enabled: Boolean, val runId: String) {
  private val buf = new ConcurrentLinkedQueue[Span]
  private val ids = new AtomicLong
  private val jobs = new ConcurrentLinkedQueue[Span]

  /** Wall clock in epoch ms, read through nanoTime so that intervals are
    * monotonic; Spark's own event times use the same epoch. */
  private val baseNanos = System.nanoTime()
  private val baseEpochMs = System.currentTimeMillis().toDouble
  def now(): Double = epochMs(System.nanoTime())
  def epochMs(nanoTime: Long): Double = baseEpochMs + (nanoTime - baseNanos) / 1e6

  /** Record a span whose times are already known. */
  def add(name: String, start: Double, end: Double, parent: Long = 0L): Long = {
    val id = ids.incrementAndGet()
    buf.add(Span(id, name, start, end, parent))
    id
  }

  /** Hang the top-level spans named `prefix*` that started inside
    * [from, to] under `parent`. */
  def reparent(prefix: String, from: Double, to: Double, parent: Long): Unit =
    buf.asScala.toSeq.filter(s => s.parent == 0L && s.name.startsWith(prefix) &&
        s.start >= from && s.start <= to)
      .foreach { s => buf.remove(s); buf.add(s.copy(parent = parent)) }

  /** Time `body` as a span named `name`; the span's id is handed to the
    * body so that its children can name it as their parent. */
  def span[A](name: String, parent: Long = 0L)(body: Long => A): A =
    if (!enabled) body(0L)
    else {
      val id = ids.incrementAndGet()
      val start = now()
      try body(id) finally buf.add(Span(id, name, start, now(), parent))
    }

  def addJob(start: Double, end: Double): Unit =
    jobs.add(Span(0L, "exec.job", start, end, -1L))

  def resolved: Seq[Span] = {
    val own = buf.asScala.toSeq.sortBy(_.start)
    val js = jobs.asScala.toSeq.map { j =>
      val open = own.filter(s => s.start <= j.start && j.start <= s.end)
      val parent = if (open.isEmpty) 0L else open.maxBy(_.start).id
      j.copy(id = ids.incrementAndGet(), parent = parent)
    }
    (own ++ js).sortBy(s => (s.start, s.id))
  }

  /** Self time per layer: each span's duration minus the part of it
    * that its children cover. */
  def selfTimeMs(all: Seq[Span]): Map[String, Double] = {
    val kids = all.groupBy(_.parent)
    all.map { s =>
      val cs = kids.getOrElse(s.id, Nil)
        .map(c => (math.max(c.start, s.start), math.min(c.end, s.end)))
        .filter { case (a, b) => b > a }.sortBy(_._1)
      var covered = 0.0; var reach = s.start
      cs.foreach { case (a, b) =>
        val from = math.max(a, reach)
        if (b > from) { covered += b - from; reach = b }
      }
      s.layer -> math.max(0.0, (s.end - s.start) - covered)
    }.groupMapReduce(_._1)(_._2)(_ + _)
  }

  def write(path: Path, all: Seq[Span]): Unit = {
    Files.createDirectories(path.getParent)
    val lines = all.map { s =>
      Json.render(Map("run" -> runId, "id" -> s.id, "name" -> s.name,
        "start" -> s.start, "end" -> s.end, "parent" -> s.parent))
    }
    Files.write(path, lines.asJava)
  }
}
