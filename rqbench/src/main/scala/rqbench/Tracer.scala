package rqbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession

/** One traced interval, in ms since the tracer's anchor. */
final case class Span(id: Long, parent: Long, name: String, kind: String,
    startMs: Double, endMs: Double) {
  def durMs: Double = endMs - startMs
  def toJson: Map[String, Any] = Json.obj("id" -> id, "parent" -> parent,
    "name" -> name, "kind" -> kind, "start_ms" -> startMs, "end_ms" -> endMs)
}

/** Task metrics summed over one stage attempt. */
final class StageAgg(val stageId: Int, val attempt: Int, val opId: Long, val jobId: Int) {
  var startMs = Double.NaN
  var endMs = Double.NaN
  var tasks = 0L
  var runMs = 0L
  var cpuNs = 0L
  var deserMs = 0L
  var inRecords = 0L
  var inBytes = 0L
  var scanTasks = 0L
  var shWriteBytes = 0L
  var shReadBytes = 0L
  var spillBytes = 0L
}

final class JobRec(val jobId: Int, val opId: Long, val startMs: Double) {
  @volatile var endMs = Double.NaN
}

/** Spans kept in memory: the benchmark's own `op`/`open`/`execute` spans
  * around its calls into the library, plus Spark job and stage spans from
  * this class's `SparkListener`. Jobs belong to an op through the local
  * property [[OpKey]], which [[op]] sets on the calling thread while the
  * tracer is active. Inactive, [[op]] only reads the clock. */
final class Tracer(spark: SparkSession) extends SparkListener {
  import Tracer._

  private val anchorNs = System.nanoTime()
  private val anchorEpochMs = System.currentTimeMillis()
  private val ids = new AtomicLong(0)
  private val jobs = new ConcurrentHashMap[Int, JobRec]()
  private val stageJob = new ConcurrentHashMap[Int, JobRec]()
  private val stages = new ConcurrentHashMap[(Int, Int), StageAgg]()
  @volatile private var lastEventNs = System.nanoTime()
  val spans: ArrayBuffer[Span] = ArrayBuffer.empty
  @volatile private var active = false

  def now(): Double = (System.nanoTime() - anchorNs) / 1e6
  private def fromEpoch(ms: Long): Double = (ms - anchorEpochMs).toDouble

  def start(): Unit = {
    spark.sparkContext.addSparkListener(this)
    active = true
  }

  /** Stop recording once every traced job's end has been delivered. */
  def stop(): Unit = {
    val deadline = System.nanoTime() + 10000000000L
    def settled = jobs.values.asScala.forall(!_.endMs.isNaN) &&
      System.nanoTime() - lastEventNs > 200000000L
    while (!settled && System.nanoTime() < deadline) Thread.sleep(20)
    spark.sparkContext.removeSparkListener(this)
    active = false
  }

  /** Run one op as a span; `body` gets the span id for its children. */
  def op[A](kind: String)(body: Long => A): (A, Span) = {
    val id = ids.incrementAndGet()
    val sc = spark.sparkContext
    if (active) sc.setLocalProperty(OpKey, id.toString)
    val t0 = now()
    try {
      val a = body(id)
      val s = Span(id, 0L, "op", kind, t0, now())
      if (active) spans += s
      (a, s)
    } finally if (active) sc.setLocalProperty(OpKey, null)
  }

  def child[A](parent: Long, name: String, kind: String)(body: => A): A = {
    val t0 = now()
    val a = body
    if (active) spans += Span(ids.incrementAndGet(), parent, name, kind, t0, now())
    a
  }

  private def touch(): Unit = lastEventNs = System.nanoTime()

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    touch()
    val op = Option(e.properties).flatMap(p => Option(p.getProperty(OpKey)))
    op.foreach { o =>
      val rec = new JobRec(e.jobId, o.toLong, fromEpoch(e.time))
      jobs.put(e.jobId, rec)
      e.stageIds.foreach(s => stageJob.put(s, rec))
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = {
    touch()
    Option(jobs.get(e.jobId)).foreach(_.endMs = fromEpoch(e.time))
  }

  private def agg(stageId: Int, attempt: Int): Option[StageAgg] =
    Option(stageJob.get(stageId)).map { j =>
      stages.computeIfAbsent((stageId, attempt),
        _ => new StageAgg(stageId, attempt, j.opId, j.jobId))
    }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    touch()
    val info = e.stageInfo
    agg(info.stageId, info.attemptNumber()).foreach { a =>
      a.synchronized {
        info.submissionTime.foreach(t => a.startMs = fromEpoch(t))
        info.completionTime.foreach(t => a.endMs = fromEpoch(t))
      }
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    touch()
    val m = e.taskMetrics
    if (m != null) agg(e.stageId, e.stageAttemptId).foreach { a =>
      a.synchronized {
        a.tasks += 1
        a.runMs += m.executorRunTime
        a.cpuNs += m.executorCpuTime
        a.deserMs += m.executorDeserializeTime
        a.inRecords += m.inputMetrics.recordsRead
        a.inBytes += m.inputMetrics.bytesRead
        if (m.inputMetrics.recordsRead > 0 || m.inputMetrics.bytesRead > 0) a.scanTasks += 1
        a.shWriteBytes += m.shuffleWriteMetrics.bytesWritten
        a.shReadBytes += m.shuffleReadMetrics.remoteBytesRead +
          m.shuffleReadMetrics.localBytesRead
        a.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
      }
    }
  }

  def jobsOf(opId: Long): Seq[JobRec] =
    jobs.values.asScala.filter(_.opId == opId).toSeq.sortBy(_.startMs)

  def stagesOf(opId: Long): Seq[StageAgg] =
    stages.values.asScala.filter(s => s.opId == opId && !s.startMs.isNaN).toSeq
      .sortBy(_.startMs)

  /** Job and stage spans, parented on the open/execute span they ran in. */
  def sparkSpans(): Seq[Span] = {
    val byOp = spans.filter(_.name != "op").groupBy(_.parent)
    val out = ArrayBuffer.empty[Span]
    jobs.values.asScala.toSeq.sortBy(_.jobId).foreach { j =>
      val parent = byOp.getOrElse(j.opId, Nil)
        .find(s => j.startMs >= s.startMs - 1 && j.startMs <= s.endMs + 1)
        .map(_.id).getOrElse(j.opId)
      val jobSpanId = ids.incrementAndGet()
      out += Span(jobSpanId, parent, "job", s"job ${j.jobId}", j.startMs,
        if (j.endMs.isNaN) j.startMs else j.endMs)
      stages.values.asScala.filter(s => s.jobId == j.jobId && !s.startMs.isNaN)
        .toSeq.sortBy(_.stageId).foreach { s =>
          out += Span(ids.incrementAndGet(), jobSpanId, "stage",
            s"stage ${s.stageId}.${s.attempt}", s.startMs,
            if (s.endMs.isNaN) s.startMs else s.endMs)
        }
    }
    out.toSeq
  }
}

object Tracer {
  val OpKey = "rqbench.op"

  /** Length of the union of `intervals` clipped to [lo, hi]. */
  def covered(intervals: Seq[(Double, Double)], lo: Double, hi: Double): Double = {
    var total = 0.0
    var curLo = Double.NaN
    var curHi = Double.NaN
    intervals.map { case (a, b) => (math.max(a, lo), math.min(b, hi)) }
      .filter { case (a, b) => b > a }.sortBy(_._1).foreach { case (a, b) =>
        if (curLo.isNaN || a > curHi) {
          if (!curLo.isNaN) total += curHi - curLo
          curLo = a; curHi = b
        } else curHi = math.max(curHi, b)
      }
    if (!curLo.isNaN) total += curHi - curLo
    total
  }

  /** Self time and count per span name: a span's duration minus the part
    * its children cover. */
  def selfTimes(all: Seq[Span]): Map[String, (Long, Double)] = {
    val kids = all.groupBy(_.parent)
    all.groupBy(_.name).map { case (name, ss) =>
      val self = ss.map { s =>
        s.durMs - covered(kids.getOrElse(s.id, Nil).map(c => (c.startMs, c.endMs)),
          s.startMs, s.endMs)
      }.sum
      name -> ((ss.size.toLong, self))
    }
  }
}
