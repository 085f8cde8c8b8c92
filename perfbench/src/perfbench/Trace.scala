package perfbench

import java.util.concurrent.ConcurrentLinkedQueue

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.PerfbenchBus
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec,
  QueryStageExec}
import org.apache.spark.sql.util.QueryExecutionListener

/** Wall clock in epoch milliseconds with sub-millisecond resolution, on the
  * same axis as Spark's listener event times.
  */
object Clock {
  private val baseNano = System.nanoTime()
  private val baseMs = System.currentTimeMillis().toDouble
  def ms: Double = baseMs + (System.nanoTime() - baseNano) / 1e6
  private val os = java.lang.management.ManagementFactory
    .getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]
  /** CPU time of the whole JVM in milliseconds: the driver thread, Spark's
    * task threads, GC and JIT.
    */
  def cpuMs: Double = os.getProcessCpuTime / 1e6
}

/** One Spark job: submission and end time, epoch ms. */
final case class JobRec(id: Int, t0: Double, t1: Double)

/** What one traced layer call did. */
final class SpanRec(val name: String, val t0: Double) {
  var t1: Double = t0
  val jobs = ArrayBuffer[JobRec]()
  var filesRead = 0L
  var inputBytes = 0L
  var outputBytes = 0L
  var shuffleBytes = 0L
}

/** One closed-loop operation; `spans` are the layer calls inside it.
  * A failed operation either threw (`ok` false) or returned a result that
  * failed its output check (`wrong` true as well).
  */
final class OpRec(val kind: String, val t0: Double) {
  var t1: Double = t0
  var ok = true
  var wrong = false
  var error = ""
  val spans = ArrayBuffer[SpanRec]()
}

/** Times operations and, when `traced`, attributes Spark jobs, stage I/O
  * and scanned files to the span that caused them. One client thread
  * issues every operation, so after a span returns, every event posted
  * since it began is its own: the recorder drains the listener bus and
  * claims them.
  */
final class Recorder(spark: SparkSession, traced: Boolean) {
  val ops = ArrayBuffer[OpRec]()
  private var current: OpRec = null

  private sealed trait Ev
  private final case class JobStart(id: Int, t: Long) extends Ev
  private final case class JobEnd(id: Int, t: Long) extends Ev
  private final case class StageIo(input: Long, output: Long, shuffle: Long)
      extends Ev
  private final case class Scan(files: Long) extends Ev
  private val events = new ConcurrentLinkedQueue[Ev]()
  // jobs a span claimed while they still ran; their end event is skipped
  private val claimedOpen = scala.collection.mutable.Set[Int]()

  if (traced) {
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        events.add(JobStart(e.jobId, e.time))
      override def onJobEnd(e: SparkListenerJobEnd): Unit =
        events.add(JobEnd(e.jobId, e.time))
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
        val m = e.stageInfo.taskMetrics
        if (m != null) events.add(StageIo(m.inputMetrics.bytesRead,
          m.outputMetrics.bytesWritten, m.shuffleWriteMetrics.bytesWritten))
      }
    })
    spark.listenerManager.register(new QueryExecutionListener {
      override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
        events.add(Scan(filesScanned(qe.executedPlan)))
      override def onFailure(f: String, qe: QueryExecution,
          e: Exception): Unit = ()
    })
  }

  private def filesScanned(p: SparkPlan): Long = p match {
    case a: AdaptiveSparkPlanExec => filesScanned(a.executedPlan)
    case q: QueryStageExec => filesScanned(q.plan)
    case s =>
      s.metrics.get("numFiles").map(_.value).getOrElse(0L) +
        s.children.map(filesScanned).sum +
        s.subqueries.map(filesScanned).sum
  }

  /** Drop whatever the bus still holds (set-up and warm-up events). */
  def reset(): Unit = {
    if (traced) { PerfbenchBus.drain(spark.sparkContext); events.clear() }
    ops.clear()
  }

  /** Run one operation; a throw marks it failed and returns None. */
  def op[A](kind: String)(body: => A): Option[A] = {
    val o = new OpRec(kind, Clock.ms)
    current = o
    val out = try Some(body) catch {
      case e: Throwable if scala.util.control.NonFatal(e) =>
        o.ok = false
        o.error = (o.spans.lastOption.map(_.name + ": ").getOrElse("") +
          s"${e.getClass.getSimpleName}: ${e.getMessage}").take(300)
        None
    }
    o.t1 = Clock.ms
    current = null
    ops += o
    out
  }

  /** Mark the operation in progress (or the last one) failed: its result
    * did not pass an output check.
    */
  def fail(msg: String): Unit = {
    val o = if (current != null) current else ops.last
    o.wrong = true
    if (o.ok) { o.ok = false; o.error = msg.take(300) }
  }

  def check(cond: Boolean, msg: => String): Unit = if (!cond) fail(msg)

  /** Time one layer call inside the current operation. */
  def span[A](name: String)(body: => A): A = {
    val s = new SpanRec(name, Clock.ms)
    try body finally {
      s.t1 = Clock.ms
      if (current != null) current.spans += s
      if (traced) claim(s)
    }
  }

  private def claim(s: SpanRec): Unit = {
    PerfbenchBus.drain(spark.sparkContext)
    val starts = scala.collection.mutable.Map[Int, Long]()
    var e = events.poll()
    while (e != null) {
      e match {
        case JobStart(id, t) => starts(id) = t
        case JobEnd(id, _) if claimedOpen.remove(id) =>
        case JobEnd(id, t) =>
          val t0 = starts.remove(id).map(_.toDouble).getOrElse(s.t0)
          s.jobs += JobRec(id, t0, t.toDouble)
        case StageIo(i, o, sh) =>
          s.inputBytes += i; s.outputBytes += o; s.shuffleBytes += sh
        case Scan(f) => s.filesRead += f
      }
      e = events.poll()
    }
    // a job still running when its span returned belongs to the span too
    starts.foreach { case (id, t0) =>
      s.jobs += JobRec(id, t0.toDouble, s.t1)
      claimedOpen += id
    }
  }
}

/** The record file's shape: spans and operations as maps and sequences
  * that json4s writes out.
  */
object Record {
  def span(s: SpanRec): Map[String, Any] = Map(
    "name" -> s.name, "t0" -> s.t0, "t1" -> s.t1,
    "jobs" -> s.jobs.map(j => Seq(j.t0, j.t1)).toSeq,
    "files_read" -> s.filesRead, "input_bytes" -> s.inputBytes,
    "output_bytes" -> s.outputBytes, "shuffle_bytes" -> s.shuffleBytes)

  def op(o: OpRec): Map[String, Any] = Map(
    "kind" -> o.kind, "t0" -> o.t0, "t1" -> o.t1, "ok" -> o.ok,
    "wrong" -> o.wrong, "error" -> o.error,
    "spans" -> o.spans.map(span).toSeq)
}
