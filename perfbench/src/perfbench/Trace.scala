package perfbench

import scala.collection.mutable
import org.apache.spark.SparkContext
import org.apache.spark.executor.TaskMetrics
import org.apache.spark.scheduler._
import org.apache.spark.sql.DataFrame

/** One timed interval. Times are epoch nanoseconds so spans line up with
  * the listener's (millisecond) job times.
  */
final case class Span(id: Int, parent: Int, op: Int, name: String,
                      start: Long, end: Long) {
  def layer: String = name.takeWhile(_ != '.')
  def dur: Long = end - start
}

/** Per-stage task totals, as the stage-completed event reports them. */
final case class StageRec(stageId: Int, tasks: Int, runMs: Long, cpuNs: Long,
                          gcMs: Long, inputRecords: Long, shuffleWrite: Long,
                          shuffleRead: Long, fetchWaitMs: Long, spill: Long)

/** A Spark job as the listener saw it; `desc` is the job description
  * set before the call that launched it.
  */
final class JobRec(val jobId: Int, val desc: String, val startMs: Long,
                   val stageIds: Seq[Int]) {
  @volatile var endMs: Long = -1L
  val stages: mutable.ArrayBuffer[StageRec] = mutable.ArrayBuffer.empty
}

/** Collects job and stage events. Buffers are guarded by the listener's
  * own lock: the bus thread appends while the benchmark thread reads.
  * Events arrive asynchronously, so the tracer drains the bus before it
  * reads them.
  */
final class JobListener extends SparkListener {
  @volatile var active = false
  private val jobs = mutable.LinkedHashMap.empty[Int, JobRec]
  private val stageToJob = mutable.HashMap.empty[Int, Int]

  override def onJobStart(e: SparkListenerJobStart): Unit = if (active) synchronized {
    val desc = Option(e.properties)
      .flatMap(p => Option(p.getProperty("spark.job.description")))
      .getOrElse("")
    jobs(e.jobId) = new JobRec(e.jobId, desc, e.time, e.stageIds)
    e.stageIds.foreach(s => stageToJob(s) = e.jobId)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach(_.endMs = e.time)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val si = e.stageInfo
    stageToJob.get(si.stageId).flatMap(jobs.get).foreach { j =>
      val m = Option(si.taskMetrics)
      def v(f: TaskMetrics => Long): Long = m.map(f).getOrElse(0L)
      j.stages += StageRec(si.stageId, si.numTasks, v(_.executorRunTime),
        v(_.executorCpuTime), v(_.jvmGCTime), v(_.inputMetrics.recordsRead),
        v(_.shuffleWriteMetrics.bytesWritten), v(_.shuffleReadMetrics.totalBytesRead),
        v(_.shuffleReadMetrics.fetchWaitTime), v(t => t.memoryBytesSpilled + t.diskBytesSpilled))
    }
  }

  /** Jobs under `prefix` whose start was seen but whose end was not. */
  def openJobs(prefix: String): Seq[Int] = synchronized(
    jobs.values.filter(j => j.endMs < 0 && j.desc.startsWith(prefix)).map(_.jobId).toSeq)

  /** Remove and return every job whose description starts with `prefix`. */
  def take(prefix: String): Seq[JobRec] = synchronized {
    val hit = jobs.values.filter(_.desc.startsWith(prefix)).toSeq
    hit.foreach { j => jobs.remove(j.jobId); j.stageIds.foreach(stageToJob.remove) }
    hit
  }
}

/** Spans around every call the benchmark makes into a layer, plus the
  * Spark jobs each call launched (attributed through the job
  * description `<workload>/<op kind>#<op id>/<phase>`) and the Catalyst
  * phases of each executed query. Everything stays in memory until the
  * run ends.
  */
final class Tracer(sc: SparkContext, workload: String) {
  val listener = new JobListener
  sc.addSparkListener(listener)

  private val anchorEpochNs = System.currentTimeMillis() * 1000000L
  private val anchorNano = System.nanoTime()
  private def now: Long = anchorEpochNs + (System.nanoTime() - anchorNano)

  val spans: mutable.ArrayBuffer[Span] = mutable.ArrayBuffer.empty
  val jobsOf: mutable.HashMap[Int, Seq[JobRec]] = mutable.HashMap.empty
  val incompleteOps: mutable.ArrayBuffer[Int] = mutable.ArrayBuffer.empty
  private var nextId = 0
  private var current: Option[(Int, Int, String)] = None // (op, span, kind)

  /** Tracing for the current operation: spans are kept only when on. */
  var on = false

  private def prefix(op: Int, kind: String) = s"$workload/$kind#$op/"

  /** Wait (bounded) until the bus has delivered every event and every
    * job under `prefix` whose start was seen has ended; false if the
    * wait ran out.
    */
  private def drain(prefix: String): Boolean = {
    val deadline = System.nanoTime() + Trace.DrainMs * 1000000L
    var empty = org.apache.spark.BusDrain.waitUntilEmpty(sc, Trace.DrainMs)
    while (listener.openJobs(prefix).nonEmpty && System.nanoTime() < deadline) {
      Thread.sleep(5)
      empty = org.apache.spark.BusDrain.waitUntilEmpty(sc, 100)
    }
    empty && listener.openJobs(prefix).isEmpty
  }

  def op[A](id: Int, kind: String)(body: => A): A = {
    if (!on) return body
    val sid = { nextId += 1; nextId }
    current = Some((id, sid, kind))
    listener.active = true
    val t0 = now
    try body finally {
      val t1 = now
      sc.setJobDescription(null)
      spans += Span(sid, 0, id, s"op.$kind", t0, t1)
      current = None
      val complete = drain(prefix(id, kind))
      listener.active = false
      val jobs = listener.take(prefix(id, kind))
      if (!complete) incompleteOps += id
      jobsOf(id) = jobs
      jobs.foreach { j =>
        val parent = spans.reverseIterator
          .find(s => s.op == id && s.name == j.desc.drop(prefix(id, kind).length))
          .map(_.id).getOrElse(sid)
        spans += Span({ nextId += 1; nextId }, parent, id, "spark.job",
          j.startMs * 1000000L, math.max(j.endMs, j.startMs) * 1000000L)
      }
    }
  }

  /** A call into one layer, named `<layer>.<call>`. */
  def phase[A](name: String)(body: => A): A = current match {
    case None => body
    case Some((op, opSpan, kind)) =>
      sc.setJobDescription(prefix(op, kind) + name)
      val t0 = now
      try body finally spans += Span({ nextId += 1; nextId }, opSpan, op, name, t0, now)
  }

  /** Record the Catalyst phases (analysis, optimization, planning) of an
    * executed query as children of the phase span they fall in.
    */
  def catalyst(df: DataFrame): Unit = current.foreach { case (op, opSpan, _) =>
    df.queryExecution.tracker.phases.foreach { case (ph, s) =>
      val (st, en) = (s.startTimeMs * 1000000L, s.endTimeMs * 1000000L)
      val parent = spans.reverseIterator
        .find(p => p.op == op && p.parent == opSpan && p.start <= st && st <= p.end)
        .map(_.id).getOrElse(opSpan)
      spans += Span({ nextId += 1; nextId }, parent, op, s"catalyst.$ph", st, en)
    }
  }

  def close(): Unit = sc.removeSparkListener(listener)
}

object Trace {

  /** Longest wait for the listener bus before a trace counts as incomplete. */
  val DrainMs = 5000L

  /** Length of the union of [s, e) intervals, clipped to [lo, hi). */
  def covered(iv: Seq[(Long, Long)], lo: Long, hi: Long): Long = {
    val clipped = iv.map { case (s, e) => (math.max(s, lo), math.min(e, hi)) }
      .filter { case (s, e) => e > s }.sortBy(_._1)
    var total = 0L
    var (cs, ce) = (Long.MinValue, Long.MinValue)
    clipped.foreach { case (s, e) =>
      if (s > ce) { if (ce > cs) total += ce - cs; cs = s; ce = e }
      else ce = math.max(ce, e)
    }
    if (ce > cs) total += ce - cs
    total
  }

  /** Self time of each span: its duration minus the part its children cover. */
  def selfTimes(spans: Seq[Span]): Map[Int, Long] = {
    val kids = spans.groupBy(_.parent)
    spans.map { s =>
      s.id -> (s.dur - covered(kids.getOrElse(s.id, Nil).map(k => (k.start, k.end)),
        s.start, s.end))
    }.toMap
  }

  def json(spans: Seq[Span]): String = spans.map { s =>
    s"""{"id":${s.id},"parent":${s.parent},"op":${s.op},"name":"${s.name}",""" +
      s""""start_ns":${s.start},"end_ns":${s.end}}"""
  }.mkString("[\n", ",\n", "\n]\n")
}
