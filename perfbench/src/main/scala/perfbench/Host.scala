package perfbench

import java.lang.management.ManagementFactory

import scala.collection.immutable.ListMap

import org.apache.spark.sql.SparkSession

/** What a record was measured on. Two records compare only when every
  * field but `load1` matches. */
object Host {
  def memTotalKb: Long = {
    val src = scala.io.Source.fromFile("/proc/meminfo")
    try src.getLines().collectFirst {
      case l if l.startsWith("MemTotal:") => l.split("\\s+")(1).toLong
    }.getOrElse(-1L)
    finally src.close()
  }

  def fingerprint(spark: SparkSession, load1: Double): ListMap[String, Any] = ListMap(
    "nproc" -> Runtime.getRuntime.availableProcessors,
    "mem_total_kb" -> memTotalKb,
    "jvm" -> s"${System.getProperty("java.vm.name")} ${System.getProperty("java.runtime.version")}",
    "spark" -> spark.version,
    "master" -> spark.sparkContext.master,
    "load1" -> load1)

  def load1(): Double =
    ManagementFactory.getOperatingSystemMXBean.getSystemLoadAverage

  /** Heap still in use after explicit full collections, in MiB. Spark's
    * ContextCleaner drops the blocks of unreachable RDDs, shuffles and
    * broadcasts on its own thread after a collection finds them, and
    * the next collection frees those blocks; so collect until the heap
    * in use stops falling (the cleaner polls every 100 ms). */
  def retainedHeapMb(): Double = {
    def used(): Long = {
      System.gc()
      ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed
    }
    var last = used()
    var settled = false
    var rounds = 0
    while (!settled && rounds < 20) {
      Thread.sleep(250)
      val now = used()
      settled = now > last - (1L << 20)
      last = math.min(last, now)
      rounds += 1
    }
    last / 1048576.0
  }
}
