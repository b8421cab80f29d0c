package graftbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong
import scala.jdk.CollectionConverters._
import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** One span: a timed call at a layer boundary. `parent` is 0 for a
  * root; every span of one caller operation shares its `opId`. */
final case class Span(id: Long, parent: Long, opId: Long, op: String,
                      name: String, startNs: Long, endNs: Long)

/** Spark work attributed to one caller operation. */
final class Counters {
  var jobs = 0L; var tasks = 0L; var cpuNs = 0L; var waitMs = 0L
  var shuffleBytes = 0L
  def add(o: Counters): Unit = {
    jobs += o.jobs; tasks += o.tasks; cpuNs += o.cpuNs; waitMs += o.waitMs
    shuffleBytes += o.shuffleBytes
  }
}

/** In-memory span recorder plus a Spark listener that attributes jobs,
  * tasks, CPU, scheduler wait and shuffle bytes to caller operations.
  *
  * Each operation sets a thread-local Spark property on its caller
  * thread, so concurrent callers on one session stay separable. Jobs
  * Spark submits from its own thread pools (broadcasts, adaptive query
  * stages) lose that property; they inherit the operation of another
  * job of the same SQL execution. Jobs graft submits from its own
  * futures go to the one operation open at the time, if only one was.
  * Attribution is resolved when the run ends. When disabled, `op` and
  * `span` only run their bodies. */
final class Tracer(sc: SparkContext, val enabled: Boolean) {
  private val OpKey = "graftbench.op"
  private val FlushOp = -1L
  private val ids = new AtomicLong(0)
  private val spans = new java.util.concurrent.ConcurrentLinkedQueue[Span]()
  private val current = new ThreadLocal[(Long, Long, String)]()
  private val opNames = new ConcurrentHashMap[Long, String]()
  // op id -> (start, end) in epoch ms; end is Long.MaxValue while open
  private val opTimes = new ConcurrentHashMap[Long, (Long, Long)]()

  private final case class Job(id: Int, timeMs: Long, op: Long, exec: Option[Long]) {
    val counters = new Counters
  }
  private val jobs = new ConcurrentHashMap[Int, Job]()
  private val stageJob = new ConcurrentHashMap[Int, Job]()
  private val stageSubmitted = new ConcurrentHashMap[Int, Long]()
  @volatile private var flushed = false

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val p = Option(e.properties)
      val op = p.flatMap(x => Option(x.getProperty(OpKey))).map(_.toLong).getOrElse(0L)
      val exec = p.flatMap(x => Option(x.getProperty("spark.sql.execution.id"))).map(_.toLong)
      val j = Job(e.jobId, e.time, op, exec)
      j.counters.jobs = 1
      jobs.put(e.jobId, j)
      e.stageIds.foreach(s => stageJob.put(s, j))
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      if (Option(jobs.get(e.jobId)).exists(_.op == FlushOp)) flushed = true
    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
      stageSubmitted.put(e.stageInfo.stageId,
        e.stageInfo.submissionTime.getOrElse(System.currentTimeMillis()))
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      Option(stageJob.get(e.stageId)).foreach { j =>
        val c = j.counters
        c.synchronized {
          c.tasks += 1
          Option(e.taskMetrics).foreach { t =>
            c.cpuNs += t.executorCpuTime
            c.shuffleBytes += t.shuffleWriteMetrics.bytesWritten
          }
          val sub = stageSubmitted.getOrDefault(e.stageId, 0L)
          if (sub > 0L) c.waitMs += math.max(0L, e.taskInfo.launchTime - sub)
        }
      }
  }

  if (enabled) sc.addSparkListener(listener)

  private val muted = new ThreadLocal[Boolean] { override def initialValue() = false }

  /** True when operations on this thread are traced. */
  def active: Boolean = enabled && !muted.get()

  /** Runs `body` untraced on this thread when `mute` is set; a traced
    * run alternates so it can report its own overhead. */
  def muting[A](mute: Boolean)(body: => A): A = {
    val was = muted.get()
    muted.set(mute)
    try body finally muted.set(was)
  }

  /** Runs `body` as one caller operation named `op` (a root span). */
  def op[A](op: String)(body: => A): A =
    if (!active) body
    else {
      val id = ids.incrementAndGet()
      opNames.put(id, op)
      val startMs = System.currentTimeMillis()
      opTimes.put(id, (startMs, Long.MaxValue))
      sc.setLocalProperty(OpKey, id.toString)
      current.set((id, id, op))
      val t0 = System.nanoTime()
      try body
      finally {
        spans.add(Span(id, 0L, id, op, "op", t0, System.nanoTime()))
        opTimes.put(id, (startMs, System.currentTimeMillis()))
        current.remove()
        sc.setLocalProperty(OpKey, null)
      }
    }

  /** Runs `body` as a child span of the current operation. */
  def span[A](name: String)(body: => A): A = {
    val cur = current.get()
    if (!active || cur == null) body
    else {
      val (opId, parent, op) = cur
      val id = ids.incrementAndGet()
      current.set((opId, id, op))
      val t0 = System.nanoTime()
      try body
      finally {
        spans.add(Span(id, parent, opId, op, name, t0, System.nanoTime()))
        current.set(cur)
      }
    }
  }

  /** Waits for the listener bus to drain, then detaches the listener. */
  def close(): Unit = if (enabled) {
    // the bus delivers events in order: once a marker job's end event
    // arrives, every event posted before it has been seen
    sc.setLocalProperty(OpKey, FlushOp.toString)
    sc.parallelize(Seq(1), 1).count()
    sc.setLocalProperty(OpKey, null)
    val deadline = System.nanoTime() + 10000000000L
    while (!flushed && System.nanoTime() < deadline) Thread.sleep(10)
    sc.removeSparkListener(listener)
  }

  def allSpans: Seq[Span] = spans.asScala.toSeq

  /** Operation id of each job: its own property, else another job of
    * its SQL execution, else the only operation open when it started. */
  private def resolve(all: Seq[Job]): Map[Int, Long] = {
    val times = opTimes.asScala.toMap
    def openAt(ms: Long): Seq[Long] =
      times.collect { case (id, (s, e)) if s <= ms && ms <= e => id }.toSeq
    val own = all.collect { case j if times.contains(j.op) => j.id -> j.op }.toMap
    val byExec = all.flatMap(j => for (x <- j.exec; o <- own.get(j.id)) yield x -> o).toMap
    all.map { j =>
      j.id -> own.get(j.id).orElse(j.exec.flatMap(byExec.get))
        .orElse(Some(openAt(j.timeMs)).filter(_.size == 1).map(_.head)).getOrElse(0L)
    }.toMap
  }

  /** Spark counters summed by operation name ("unattributed" for 0). */
  def countersByOp: Map[String, Counters] = {
    val all = jobs.asScala.values.filter(_.op != FlushOp).toSeq
    val opOf = resolve(all)
    all.groupBy(j => Option(opNames.get(opOf(j.id))).getOrElse("unattributed"))
      .map { case (name, js) =>
        val c = new Counters; js.foreach(j => c.add(j.counters)); name -> c
      }
  }
}
