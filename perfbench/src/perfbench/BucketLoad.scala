package perfbench

import java.io.File

import scala.io.Source

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.json4s._
import org.json4s.jackson.JsonMethods

import graft.ingest.{Ingest, ManifestSink, NotificationIngest}
import graft.ledger.Ledger
import graft.model.{Manifest, Task}
import graft.views.Views

/** The paper's pipeline: OBJECT_FINALIZE frames → glob match → ledger
  * filter → header sniff → right-append evolution → ManifestSink commit
  * → ledger append, one small batch per commit, with the `_ordered` view
  * read after each batch and an earlier batch re-delivered after every
  * third.
  */
final class BucketLoad(spark: SparkSession, rec: Recorder, inputs: String,
    work: String) extends Workload {
  import spark.implicits._

  private final case class Batch(index: Int, day: String, files: Seq[String],
      rows: Long, newChannel: Boolean, events: Seq[(String, String, Long)])

  private val bucket = new File(inputs, "bucket").getAbsolutePath
  private def uri(name: String) = s"file://$bucket/$name"

  private val task: Task = Manifest.parse(
    s"""{"project":"perfbench","tasks":[{
       |"sources":["**/sensors/**/*.csv"],"dataset":"ds","table":"sensors",
       |"timePartitioningField":"timestamp",
       |"fields":[{"name":"timestamp","type":"timestamp"},
       |{"name":"utc_offset","type":"float"},
       |{"name":"location","type":"string"}]}]}""".stripMargin).tasks.head

  val cycleSeconds = 3.5
  private var batches: IndexedSeq[Batch] = IndexedSeq.empty
  private var wh = ""
  private def dest = s"$wh/ds/sensors"
  private def ledgerPath = s"$wh/ds/sensors_imported"

  // loop state
  private var next = 0
  private var loadedRows = 0L
  private val loaded = scala.collection.mutable.ArrayBuffer[Batch]()
  private var filesPlanned = 0L
  private var matchingNotified = 0L

  private def frame(b: Batch): DataFrame =
    b.events.map { case (et, payload, seq) =>
      (et, payload.replace("@BUCKET@", bucket), seq)
    }.toDF("eventType", "json", "seq")
      .select(col("eventType"), base64(col("json").cast("binary")).as("data"),
        col("seq"))

  def setUp(): Unit = {
    implicit val formats: Formats = DefaultFormats
    val src = Source.fromFile(new File(inputs, "notifications.jsonl"), "UTF-8")
    val all = try src.getLines().map { line =>
      val j = JsonMethods.parse(line)
      Batch((j \ "batch").extract[Int], (j \ "day").extract[String],
        (j \ "files").extract[Seq[String]].map(uri), (j \ "rows").extract[Long],
        (j \ "new_channel").extract[Boolean],
        (j \ "events").extract[Seq[JArray]].map { e =>
          val Seq(et, payload, seq) = e.arr
          (et.extract[String], payload.extract[String], seq.extract[Long])
        })
    }.toIndexedSeq finally src.close()
    batches = all
    wh = s"$work/bucket_load/wh"
  }

  /** One cycle off the clock: the timed loop starts on a table with
    * history and meets the new channel (batch 4) in its first cycle. At
    * 10 s the loop's three cycles commit versions 3 to 11, so the
    * auto-checkpoint at version 10 falls inside it.
    */
  def warmUp(): Unit = cycle()

  private def plan(frame: DataFrame): Ingest.LoadPlan =
    NotificationIngest.planNotified(spark, task, frame, wh,
      orderCols = Seq(col("seq")), scheme = "file://")

  /** Three new batches, each followed by a view read, then a replay of
    * the middle one.
    */
  def cycle(): Unit = {
    require(next + 3 <= batches.length, "generated batches exhausted")
    val bs = batches.slice(next, next + 3)
    next += 3
    bs.foreach { b => load(b); read() }
    replay(bs(1))
  }

  private def load(b: Batch): Unit = {
    val f = frame(b)
    rec.op("load_batch") {
      val p = rec.span("ingest.plan") { plan(f) }
      val r = rec.span("ingest.execute") {
        Ingest.executePlan(spark, p, ManifestSink)
      }
      filesPlanned += p.files.length
      matchingNotified += b.files.length
      loaded += b
      loadedRows += b.rows
      rec.check(p.files.sorted == b.files.sorted,
        s"batch ${b.index} planned ${p.files} not ${b.files}")
      rec.check(r.rows == loadedRows,
        s"batch ${b.index}: table has ${r.rows} rows, expected $loadedRows")
    }
  }

  private def replay(b: Batch): Unit = {
    val f = frame(b)
    val v0 = Main.headVersion(dest)
    rec.op("replay") {
      val p = rec.span("ingest.replay") {
        val p = plan(f)
        Ingest.executePlan(spark, p, ManifestSink)
        p
      }
      filesPlanned += p.files.length
      matchingNotified += b.files.length
      rec.check(p.files.isEmpty,
        s"replay of batch ${b.index} planned ${p.files}")
    }
    val v1 = Main.headVersion(dest)
    rec.check(v1 == v0, s"replay of batch ${b.index} committed v$v1 over v$v0")
  }

  private def read(): Unit = rec.op("fresh_read") {
    val n = rec.span("views.ordered_read") {
      Views.registerOrderedView(spark, "sensors",
        ManifestSink.readBack(spark, dest))
      spark.table("sensors_ordered").collect().length
    }
    rec.check(n == loadedRows, s"view read $n rows, expected $loadedRows")
  }

  def finish(checks: Checks): Map[String, Double] = {
    val table = ManifestSink.readBack(spark, dest)
    checks.guard("row_count") {
      val n = table.count()
      checks("row_count", n == loadedRows, s"$n rows, expected $loadedRows")
    }
    checks.guard("ledger_once") {
      val uris = Ledger.read(spark, ledgerPath).groupBy("uri").count()
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      val want = loaded.flatMap(_.files).toSet
      checks("ledger_once", uris.keySet == want && uris.values.forall(_ == 1),
        s"ledger has ${uris.size} uris (max count " +
          s"${uris.values.maxOption.getOrElse(0)}), expected ${want.size}")
    }
    checks.guard("new_channel_null_before") {
      val early = loaded.filterNot(_.newChannel)
      val cutoff = batches.find(_.newChannel).map(_.day).get
      val (nEarly, nullEarly) = table.where(col("timestamp") < lit(cutoff))
        .agg(count(lit(1)), count(when(col("pressure_hpa").isNull, 1)))
        .as[(Long, Long)].head()
      checks("new_channel_null_before",
        nEarly == early.map(_.rows).sum && nullEarly == nEarly,
        s"$nEarly early rows ($nullEarly NULL), expected " +
          s"${early.map(_.rows).sum} all NULL")
    }
    val d = ManifestSink.detail(spark, dest).head()
    val log = Main.filesUnder(new File(dest, "_log"), _ => true)
    val stored = Main.bytesUnder(new File(dest)) +
      Main.bytesUnder(new File(ledgerPath))
    val plain = Main.plainParquetBytes(table, s"$work/plain_copy")
    Map(
      "table.data_files" -> d.getAs[Long]("num_files").toDouble,
      "table.log_files" -> log.length.toDouble,
      "table.log_bytes" -> log.map(_.length).sum.toDouble,
      "table.version" -> d.getAs[Long]("version").toDouble,
      "table.stored_bytes_per_input_byte" -> stored.toDouble / plain,
      "ledger.rows" -> Ledger.read(spark, ledgerPath).count().toDouble,
      "ingest.new_file_frac" ->
        filesPlanned.toDouble / math.max(1L, matchingNotified),
      "input.batches_loaded" -> loaded.length.toDouble,
      "input.rows_loaded" -> loadedRows.toDouble)
  }
}
