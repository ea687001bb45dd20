package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}

/** Span tracing for the traced run.
  *
  * The harness wraps every call into the engine in [[phase]], which sets
  * a Spark job tag `pb|<op id>|<phase>` on the calling thread. Every job
  * and SQL execution the call launches carries that tag, so the listener
  * can attribute jobs, stages and tasks to (op, phase) without any shared
  * mutable "current op" state. Spans (run → op → phase → job → stage)
  * are kept in memory and written once, at the end of the run.
  *
  * With tracing off nothing is registered: [[phase]] only measures wall
  * time. A traced run pauses recording for some of its work to measure
  * the tracing overhead; paused work sets no tag and runs with the
  * listener detached, so it costs what it costs in an untraced run. */
final class Trace(spark: SparkSession, val on: Boolean) {
  import Trace._

  private val t0Ns = System.nanoTime()
  private val wallAtT0 = System.currentTimeMillis()
  private val nextId = new AtomicLong(1)
  private val spans = new ConcurrentLinkedQueue[Span]()

  private var recording = on

  /** Ops started while recording. */
  private val traced = java.util.concurrent.ConcurrentHashMap.newKeySet[Long]()

  // ---- listener-side state (listener bus thread only) -------------------
  private val jobs = mutable.Map.empty[Int, JobRec]
  private val stageToJob = mutable.Map.empty[Int, Int]
  private val execs = mutable.Map.empty[Long, ExecRec]
  val jobsDone = mutable.ArrayBuffer.empty[JobRec]
  val execsDone = mutable.ArrayBuffer.empty[ExecRec]

  private val listener = new SparkListener {
    // events arrive asynchronously, so whether to keep one is decided by
    // its op (traced when it started), not by the current recording state
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val tag = tagOf(e.properties)
      if (tag.exists(t => traced.contains(t._1))) {
        val sqlId = Option(e.properties).flatMap(p =>
          Option(p.getProperty("spark.sql.execution.id"))).map(_.toLong)
        jobs(e.jobId) = JobRec(e.jobId, tag, sqlId, e.time)
        e.stageIds.foreach(s => stageToJob(s) = e.jobId)
      }
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      jobs.remove(e.jobId).foreach { j => j.end = e.time; jobsDone += j }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val si = e.stageInfo
      stageToJob.get(si.stageId).flatMap(jobs.get).foreach { j =>
        val m = si.taskMetrics
        j.stages += StageRec(si.stageId, si.name,
          si.submissionTime.getOrElse(0L), si.completionTime.getOrElse(0L),
          if (m == null) 0L else m.shuffleWriteMetrics.bytesWritten,
          if (m == null) 0L else m.shuffleReadMetrics.totalBytesRead,
          if (m == null) 0L else m.memoryBytesSpilled + m.diskBytesSpilled,
          if (m == null) 0L else m.inputMetrics.bytesRead,
          if (m == null) 0L else m.jvmGCTime)
      }
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      stageToJob.get(e.stageId).flatMap(jobs.get).foreach { j =>
        val info = e.taskInfo
        val run = Option(e.taskMetrics).map(_.executorRunTime).getOrElse(0L)
        j.tasks += 1
        j.taskRunMs += run
        j.taskWaitMs += math.max(0L, (info.finishTime - info.launchTime) - run)
      }
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case s: SparkListenerSQLExecutionStart if s.rootExecutionId.forall(_ == s.executionId) =>
        val tag = s.jobTags.find(_.startsWith(TagPrefix)).map(parseTag)
        if (tag.exists(t => traced.contains(t._1)))
          execs(s.executionId) = ExecRec(s.executionId, tag, s.time)
      case e: SparkListenerSQLExecutionEnd =>
        execs.remove(e.executionId).foreach { x => x.end = e.time; execsDone += x }
      case _ => ()
    }
  }

  if (on) spark.sparkContext.addSparkListener(listener)

  /** Pause or resume recording. Ops started while paused are not traced;
    * the listener is detached (after the events already posted reach it). */
  def record(b: Boolean): Unit = if (on && b != recording) {
    if (b) spark.sparkContext.addSparkListener(listener)
    else { drain(); spark.sparkContext.removeSparkListener(listener) }
    recording = b
  }

  /** A new op id; ops started while recording count as traced. */
  def newOp(): Long = {
    val id = nextId.getAndIncrement()
    if (on && recording) traced.add(id)
    id
  }
  def tracedOps(op: Long): Boolean = traced.contains(op)

  /** Time `body` as phase `name` of op `op`; returns (result, seconds). */
  def phase[T](op: Long, name: String)(body: => T): (T, Double) = {
    val tag = s"$TagPrefix$op|$name"
    val sc = spark.sparkContext
    val tagged = traced.contains(op)
    if (tagged) sc.addJobTag(tag)
    val s = System.nanoTime()
    try {
      val r = body
      val e = System.nanoTime()
      if (tagged) spans.add(Span(nextId.getAndIncrement(), op, name, s, e))
      (r, (e - s) / 1e9)
    } finally if (tagged) sc.removeJobTag(tag)
  }

  /** Record the op span itself (parent of its phases). */
  def opSpan(op: Long, name: String, startNs: Long, endNs: Long): Unit =
    if (traced.contains(op)) spans.add(Span(op, 0L, name, startNs, endNs))

  /** Wait until every event posted so far has reached the listener. */
  def drain(): Unit = if (on) org.apache.spark.sql.graftbridge.ColumnBridge.flushListeners(spark)

  def stop(): Unit = record(false)

  /** Jobs attributed to op ids in `ops` and phase `ph` (None = any). */
  def jobsOf(ops: Set[Long], ph: Option[String] = None): Seq[JobRec] =
    jobsDone.toSeq.filter(j => j.tag.exists { case (o, p) => ops(o) && ph.forall(_ == p) })

  def execsOf(ops: Set[Long], ph: String): Seq[ExecRec] =
    execsDone.toSeq.filter(x => x.tag.exists { case (o, p) => ops(o) && p == ph })

  /** Write all spans as JSON lines: run-relative microseconds, parents by id. */
  def write(path: java.nio.file.Path): Unit = if (on) {
    def us(ns: Long): Long = (ns - t0Ns) / 1000L
    def msToUs(ms: Long): Long = (ms - wallAtT0) * 1000L
    val lines = mutable.ArrayBuffer.empty[String]
    def line(id: Long, parent: Long, op: Long, name: String, s: Long, e: Long): Unit =
      lines += s"""{"id":$id,"parent":$parent,"op":$op,"name":"${Json.esc(name)}","start_us":$s,"end_us":$e}"""
    val phaseIds = mutable.Map.empty[(Long, String), Long]
    spans.asScala.foreach { sp =>
      if (sp.parentOp == 0L) line(sp.id, 0L, sp.id, sp.name, us(sp.startNs), us(sp.endNs))
      else {
        phaseIds((sp.parentOp, sp.name)) = sp.id
        line(sp.id, sp.parentOp, sp.parentOp, sp.name, us(sp.startNs), us(sp.endNs))
      }
    }
    jobsDone.foreach { j =>
      val jid = nextId.getAndIncrement()
      val (op, parent) = j.tag.map { case (o, p) => (o, phaseIds.getOrElse((o, p), o)) }
        .getOrElse((0L, 0L))
      line(jid, parent, op, s"job ${j.jobId}", msToUs(j.start), msToUs(j.end))
      j.stages.foreach { st =>
        line(nextId.getAndIncrement(), jid, op, s"stage ${st.stageId} ${st.name}",
          msToUs(st.submit), msToUs(st.complete))
      }
    }
    java.nio.file.Files.write(path, lines.asJava)
  }
}

object Trace {
  val TagPrefix = "pb|"

  final case class Span(id: Long, parentOp: Long, name: String, startNs: Long, endNs: Long)
  final case class StageRec(stageId: Int, name: String, submit: Long,
      complete: Long, shuffleWrite: Long, shuffleRead: Long, spill: Long,
      input: Long, gcMs: Long)
  final case class JobRec(jobId: Int, tag: Option[(Long, String)], sqlId: Option[Long],
      start: Long) {
    var end: Long = start
    val stages = mutable.ArrayBuffer.empty[StageRec]
    var tasks = 0L
    var taskRunMs = 0L
    var taskWaitMs = 0L
  }
  final case class ExecRec(execId: Long, tag: Option[(Long, String)], start: Long) {
    var end: Long = start
  }

  private def parseTag(t: String): (Long, String) = {
    val parts = t.stripPrefix(TagPrefix).split('|')
    (parts(0).toLong, parts(1))
  }

  private def tagOf(p: java.util.Properties): Option[(Long, String)] =
    Option(p).flatMap(pp => Option(pp.getProperty("spark.job.tags")))
      .flatMap(_.split(',').find(_.startsWith(TagPrefix))).map(parseTag)
}
