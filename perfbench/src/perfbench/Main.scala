package perfbench

import java.io.File
import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets
import java.nio.file.Files

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.SparkSession
import org.json4s.{DefaultFormats, Formats}
import org.json4s.jackson.Serialization

import graft.GraftSession

/** A workload: `setUp` builds fresh state from the generated inputs,
  * `warmUp` runs each operation kind once off the clock, and `cycle`
  * issues one fixed sequence of closed-loop operations, which takes about
  * `cycleSeconds` on a 4-core host. `finish` runs the output checks and
  * end-of-run counts after the loop.
  */
trait Workload {
  def cycleSeconds: Double
  def setUp(): Unit
  def warmUp(): Unit
  def cycle(): Unit
  def finish(checks: Checks): Map[String, Double]
}

/** Output checks that run after the loop; each failed one counts as a
  * failed operation. `wrong` marks a check that saw a wrong result, as
  * opposed to an operation that threw.
  */
final class Checks {
  val results = ArrayBuffer[(String, Boolean, Boolean, String)]()
  def apply(name: String, ok: Boolean, detail: => String = "",
      wrong: Option[Boolean] = None): Unit =
    results += ((name, ok, wrong.getOrElse(!ok),
      if (ok) "" else detail.take(500)))
  def guard(name: String)(body: => Unit): Unit =
    try body catch {
      case e: Throwable if scala.util.control.NonFatal(e) =>
        apply(name, false, s"${e.getClass.getSimpleName}: ${e.getMessage}")
    }
}

/** Driver of one benchmark run: session, set-up, warm-up, the timed
  * closed loop with one client thread, checks, and a record file the
  * runner turns into metrics.
  *
  * Usage: perfbench.Main <workload> <seed> <inputs dir> <work dir>
  *   <seconds> <trace 0|1> <record file>
  *
  * or, for the JVM that dumps the class-data archive when it exits:
  * perfbench.Main train <work dir> <bucket_load inputs> <table_dml inputs>
  */
object Main {
  def main(args: Array[String]): Unit =
    if (args.headOption.contains("train")) train(args.tail) else run(args)

  private def session(name: String, work: String): SparkSession = {
    val spark = GraftSession.builder("local[4]", shufflePartitions = 4)
      .appName(name)
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.hadoop.hadoop.tmp.dir", s"$work/tmp")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    graft.plans.GraftFunctions.register(spark)
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  private def workload(name: String, spark: SparkSession, rec: Recorder,
      inputs: String, work: String, seed: Long): Workload = name match {
    case "bucket_load" => new BucketLoad(spark, rec, inputs, work)
    case "table_dml" => new TableDml(spark, rec, inputs, work, seed)
    case other => sys.error(s"unknown workload $other")
  }

  /** Set up and warm up every workload once in one session. */
  private def train(args: Array[String]): Unit = {
    val Array(work, bucketLoad, tableDml) = args
    val spark = session("perfbench-train", work)
    Seq("bucket_load" -> bucketLoad, "table_dml" -> tableDml).foreach {
      case (name, inputs) =>
        val w = workload(name, spark, new Recorder(spark, traced = false),
          inputs, work, 0L)
        w.setUp()
        w.warmUp()
    }
    spark.stop()
  }

  private def run(args: Array[String]): Unit = {
    val Array(name, seed, inputs, work, secondsArg, traceArg, out) = args
    val seconds = secondsArg.toDouble
    val traced = traceArg == "1"
    val jvmStart = ManagementFactory.getRuntimeMXBean.getStartTime.toDouble

    val spark = session(s"perfbench-$name", work)
    val sessionS = (Clock.ms - jvmStart) / 1e3

    val rec = new Recorder(spark, traced)
    val w = workload(name, spark, rec, inputs, work, seed.toLong)
    val s0 = Clock.ms
    w.setUp()
    val setUpS = (Clock.ms - s0) / 1e3
    val checks = new Checks
    val w0 = Clock.ms
    w.warmUp()
    val warmS = (Clock.ms - w0) / 1e3
    val warmFailed = rec.ops.filterNot(_.ok)
    checks("warm_up", warmFailed.isEmpty,
      warmFailed.map(o => s"${o.kind}: ${o.error}").mkString("; "),
      wrong = Some(warmFailed.exists(_.wrong)))
    rec.reset()

    // a fixed number of whole cycles sized from `seconds`, not a deadline:
    // every run then does the same operations, so a host that runs slower
    // for a while shifts the timings without changing what is timed
    val cycles = math.max(1, math.round(seconds / w.cycleSeconds).toInt)
    val cpu0 = Clock.cpuMs
    val loop0 = Clock.ms
    (0 until cycles).foreach(_ => w.cycle())
    val loop1 = Clock.ms
    val loopCpuMs = Clock.cpuMs - cpu0

    val rt = Runtime.getRuntime
    System.gc(); System.gc()
    val heapMb = (rt.totalMemory - rt.freeMemory) / 1048576.0

    val counts =
      try w.finish(checks)
      catch {
        case e: Throwable if scala.util.control.NonFatal(e) =>
          checks("finish", false, s"${e.getClass.getSimpleName}: " +
            e.getMessage)
          Map.empty[String, Double]
      }

    implicit val formats: Formats = DefaultFormats
    val json = Serialization.write(Map(
      "workload" -> name,
      "traced" -> traced,
      "session_s" -> sessionS,
      "workload_setup_s" -> setUpS,
      "warmup_s" -> warmS,
      "loop_t0" -> loop0, "loop_t1" -> loop1,
      "setup_cpu_ms" -> cpu0, "loop_cpu_ms" -> loopCpuMs,
      "cycles" -> cycles,
      "heap_live_mb" -> heapMb,
      "counts" -> counts,
      "checks" -> checks.results.map { case (n, ok, wrong, d) =>
        Map("name" -> n, "ok" -> ok, "wrong" -> wrong, "detail" -> d)
      }.toSeq,
      "ops" -> rec.ops.map(Record.op).toSeq))
    Files.write(new File(out).toPath, json.getBytes(StandardCharsets.UTF_8))
    spark.stop()
  }

  /** Total bytes of every regular file under `root`. */
  def bytesUnder(root: File): Long =
    if (!root.exists) 0L
    else if (root.isFile) root.length
    else Option(root.listFiles).toSeq.flatten.map(bytesUnder).sum

  def filesUnder(root: File, keep: File => Boolean): Seq[File] =
    if (!root.exists) Nil
    else if (root.isFile) (if (keep(root)) Seq(root) else Nil)
    else Option(root.listFiles).toSeq.flatten
      .sortBy(_.getName).flatMap(filesUnder(_, keep))

  /** Current version of a manifest table: its newest committed manifest. */
  def headVersion(dest: String): Long =
    filesUnder(new File(dest, "_log"), _.getName.endsWith(".manifest"))
      .map(_.getName.takeWhile(_.isDigit).toLong).maxOption.getOrElse(-1L)

  /** Bytes of `df` written once as plain parquet: the storage baseline. */
  def plainParquetBytes(df: org.apache.spark.sql.DataFrame,
      dir: String): Long = {
    df.write.mode("overwrite").parquet(dir)
    filesUnder(new File(dir), _.getName.endsWith(".parquet"))
      .map(_.length).sum
  }
}
