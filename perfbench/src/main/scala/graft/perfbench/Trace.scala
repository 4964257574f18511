package graft.perfbench

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}

import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession

import graft.tools.PhaseTimers

/** One Spark job, as a child span of the op whose job group launched it. */
final case class JobSpan(group: String, startMs: Long, endMs: Long,
                         tasks: Int, executorRunMs: Long, shuffleBytes: Long,
                         spillBytes: Long, inputBytes: Long)

/** What an op's caller learns after the timed region: mismatches against
  * the ledger (each one fails the op) and counters for the trace. */
final case class Verified(problems: Seq[String] = Nil,
                          counters: Map[String, Double] = Map.empty)

object Verified {
  def expectEq(what: String, got: Long, want: Long): Verified =
    if (got == want) Verified() else Verified(Seq(s"$what: got $got, ledger says $want"))
}

/** One timed call into the engine. `phases` holds the PhaseTimers
  * (seconds, count) deltas taken around the op, when traced per op. */
final case class OpRecord(id: String, kind: String, label: String,
                          startMs: Long, endMs: Long, nanos: Long,
                          error: Option[String],
                          phases: Map[String, (Double, Long)],
                          counters: Map[String, Double]) {
  def ok: Boolean = error.isEmpty
  def millis: Double = nanos / 1e6
}

/** Records every job's span and task totals, keyed by job group. Spans
  * stay in memory until the run ends. */
final class JobRecorder extends SparkListener {
  private final class Acc(val group: String, val start: Long) {
    val tasks = new AtomicInteger
    val runMs = new AtomicLong
    val shuffle = new AtomicLong
    val spill = new AtomicLong
    val input = new AtomicLong
  }
  private val stageToJob = new ConcurrentHashMap[Int, Int]()
  private val open = new ConcurrentHashMap[Int, Acc]()
  private val done = new ConcurrentLinkedQueue[JobSpan]()

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val group = Option(e.properties)
      .flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      .getOrElse("")
    e.stageIds.foreach(s => stageToJob.put(s, e.jobId))
    open.put(e.jobId, new Acc(group, e.time))
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val job = stageToJob.get(e.stageId)
    val acc = open.get(job)
    if (acc != null) {
      acc.tasks.incrementAndGet()
      val m = e.taskMetrics
      if (m != null) {
        acc.runMs.addAndGet(m.executorRunTime)
        acc.shuffle.addAndGet(m.shuffleWriteMetrics.bytesWritten +
          m.shuffleReadMetrics.totalBytesRead)
        acc.spill.addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
        acc.input.addAndGet(m.inputMetrics.bytesRead)
      }
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = {
    val acc = open.remove(e.jobId)
    if (acc != null) {
      done.add(JobSpan(acc.group, acc.start, e.time, acc.tasks.get,
        acc.runMs.get, acc.shuffle.get, acc.spill.get, acc.input.get))
    }
  }

  def jobs: Seq[JobSpan] = done.asScala.toVector
}

/** Runs ops and keeps their records. Untraced, an op is a plain timed
  * call; traced, it also runs under its own job group and takes a
  * PhaseTimers delta (per op when `phasesPerOp`; with concurrent clients
  * the process-global timers can only be read per run). */
final class Harness(val spark: SparkSession, val traced: Boolean,
                    phasesPerOp: Boolean) {
  private val seq = new AtomicLong
  private val records = new ConcurrentLinkedQueue[OpRecord]()
  private val recorder: Option[JobRecorder] =
    if (traced) {
      val r = new JobRecorder
      spark.sparkContext.addSparkListener(r)
      Some(r)
    } else None

  /** Times `body`, then (outside the timed region) evaluates the check it
    * returns. A thrown exception or a reported problem fails the op; it is
    * never retried. */
  def op(kind: String, label: String)(body: => (() => Verified)): Boolean = {
    val id = s"op-${seq.incrementAndGet()}"
    val sc = spark.sparkContext
    if (traced) {
      sc.setJobGroup(id, label, interruptOnCancel = false)
      if (phasesPerOp) PhaseTimers.dumpAndReset()
    }
    val startMs = System.currentTimeMillis()
    val t0 = System.nanoTime()
    val out = try Right(body) catch { case NonFatal(t) => Left(t) }
    val nanos = System.nanoTime() - t0
    val endMs = System.currentTimeMillis()
    val phases =
      if (traced && phasesPerOp) Harness.phaseMap(PhaseTimers.dumpAndReset())
      else Map.empty[String, (Double, Long)]
    if (traced) sc.clearJobGroup()
    val verified = out.map(check =>
      try check() catch {
        case NonFatal(t) => Verified(Seq(s"check threw ${Harness.describe(t)}"))
      })
    val error = verified match {
      case Left(t) => Some(Harness.describe(t))
      case Right(v) if v.problems.nonEmpty => Some(v.problems.mkString("; "))
      case _ => None
    }
    records.add(OpRecord(id, kind, label, startMs, endMs, nanos, error,
      phases, verified.toOption.map(_.counters).getOrElse(Map.empty)))
    error.isEmpty
  }

  def all: Seq[OpRecord] = records.asScala.toVector

  /** Job spans, after the listener bus has delivered every event. */
  def jobs: Seq[JobSpan] = recorder.fold(Seq.empty[JobSpan]) { r =>
    org.apache.spark.PerfbenchAccess.drainListenerBus(spark.sparkContext)
    r.jobs
  }
}

object Harness {
  def phaseMap(dump: Seq[(String, Double, Long)]): Map[String, (Double, Long)] =
    dump.map { case (k, s, n) => k -> ((s, n)) }.toMap

  def describe(t: Throwable): String =
    s"${t.getClass.getName}: ${String.valueOf(t.getMessage).take(300)}"
}
