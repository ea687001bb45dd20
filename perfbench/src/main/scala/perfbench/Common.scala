package perfbench

import org.apache.spark.sql.SparkSession

/** Minimal JSON writing (the harness has no JSON dependency). */
object Json {
  def esc(s: String): String = s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  }
  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null" else java.lang.Double.toString(d)
  def str(s: String): String = "\"" + esc(s) + "\""
  def obj(kv: Seq[(String, String)]): String =
    kv.map { case (k, v) => str(k) + ":" + v }.mkString("{", ",", "}")
  def arr(xs: Seq[String]): String = xs.mkString("[", ",", "]")
}

object Stats {
  /** Percentile by linear interpolation between closest ranks. */
  def pct(xs: Seq[Double], p: Double): Double = {
    require(xs.nonEmpty, "percentile of an empty sample")
    val s = xs.sorted
    val r = p / 100.0 * (s.length - 1)
    val lo = math.floor(r).toInt
    val hi = math.min(lo + 1, s.length - 1)
    s(lo) + (s(hi) - s(lo)) * (r - lo)
  }
  def median(xs: Seq[Double]): Double = pct(xs, 50)
}

/** Pinned, isolated engine environment for one benchmark process. */
final case class Env(cores: Int, workDir: String, warehouse: String) {

  /** A fresh session: local[cores], shuffle width = cores, UTC, with the
    * engine's planner extensions, and every file it writes kept under the
    * benchmark's own work directory. */
  def session(): SparkSession = {
    val s = SparkSession.builder()
      .withExtensions(new graft.plans.GraftExtensions)
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.default.parallelism", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir", warehouse)
      .config("spark.local.dir", s"$workDir/spark-local")
      .config("spark.sql.streaming.checkpointLocation", s"$workDir/checkpoints")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }
}

object Env {
  /** Peak resident set of this process (VmHWM), in MB. */
  def peakRssMb(): Double = rssField("VmHWM")
  private def rssField(f: String): Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().find(_.startsWith(f + ":"))
      .map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(Double.NaN)
    finally src.close()
  }

  /** Total size of the regular files under `dir`. */
  def bytesUnder(dir: String): Long = {
    val w = java.nio.file.Files.walk(java.nio.file.Paths.get(dir))
    try w.filter(p => java.nio.file.Files.isRegularFile(p))
      .mapToLong(p => java.nio.file.Files.size(p)).sum()
    finally w.close()
  }

  /** The machine's CPU ticks as (steal, all), from /proc/stat: the share
    * of time the host gave this VM's vCPUs to others. */
  def stealTicks(): (Long, Long) = {
    val src = scala.io.Source.fromFile("/proc/stat")
    try {
      val f = src.getLines().next().trim.split("\\s+").drop(1).map(_.toLong)
      (if (f.length > 7) f(7) else 0L, f.take(8).sum)
    } finally src.close()
  }

  def gcSeconds(): Double = {
    import scala.jdk.CollectionConverters._
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime.max(0L)).sum / 1000.0
  }

  /** Highest used-heap value seen across the JVM's memory pools' peaks. */
  def heapPeakMb(): Double = {
    import scala.jdk.CollectionConverters._
    java.lang.management.ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == java.lang.management.MemoryType.HEAP)
      .map(_.getPeakUsage.getUsed).sum / (1024.0 * 1024.0)
  }
}

/** The CPU work of each call: CPU time of the calling (client) thread,
  * which builds, plans and collects, plus the executor CPU time of every
  * Spark task, summed by a listener. Unlike wall time it leaves out time
  * spent waiting: for I/O, for a free core, and (on kernels with
  * paravirtual steal accounting) for the host. Unlike process CPU time it
  * leaves out the JIT compiler and GC threads, whose work swings with
  * timing. Nanosecond resolution. */
final class CpuMeter(spark: SparkSession) {
  private val taskNs = new java.util.concurrent.atomic.AtomicLong
  private val threads = java.lang.management.ManagementFactory.getThreadMXBean
  private val listener = new org.apache.spark.scheduler.SparkListener {
    override def onTaskEnd(e: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit =
      Option(e.taskMetrics).foreach(m =>
        taskNs.addAndGet(m.executorCpuTime + m.executorDeserializeCpuTime))
  }
  spark.sparkContext.addSparkListener(listener)

  /** Seconds of CPU work so far; waits for finished tasks' events. */
  def read(): Double = {
    org.apache.spark.sql.graftbridge.ColumnBridge.flushListeners(spark)
    (threads.getCurrentThreadCpuTime + taskNs.get) / 1e9
  }
  def stop(): Unit = spark.sparkContext.removeSparkListener(listener)
}

/** The host reference: a fixed CPU kernel (sorting the same 256k longs),
  * timed on the client thread before every op or key. On a shared host
  * the same work costs more CPU time while neighbours are busy (sibling
  * hyperthreads, shared caches), and that moves every op of a run alike:
  * across runs of one tree, the vault's mean op CPU time correlated 0.91
  * with this kernel's median. The CPU metrics are therefore reported in
  * multiples of the kernel's median CPU time in the same run. The kernel
  * runs no engine code, so an engine change moves only the numerator. */
object HostRef {
  private val input = { val r = new java.util.Random(1L); Array.fill(1 << 18)(r.nextLong()) }
  private val threads = java.lang.management.ManagementFactory.getThreadMXBean
  private val samples = scala.collection.mutable.ArrayBuffer.empty[Double]

  private def sortMs(): Double = {
    val a = input.clone()
    val t0 = threads.getCurrentThreadCpuTime
    java.util.Arrays.sort(a)
    (threads.getCurrentThreadCpuTime - t0) / 1e6
  }

  /** Run the kernel until the JIT has compiled it; nothing is recorded. */
  def warmUp(): Unit = (1 to 10).foreach(_ => sortMs())

  /** Time the kernel once and record it. */
  def sample(): Unit = samples += sortMs()

  /** Median CPU milliseconds of the recorded samples, and their count. */
  def median(): (Double, Int) =
    if (samples.isEmpty) (Double.NaN, 0) else (Stats.median(samples.toSeq), samples.size)
}
