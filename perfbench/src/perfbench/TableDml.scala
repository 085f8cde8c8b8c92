package perfbench

import java.sql.Timestamp

import scala.collection.immutable.TreeMap

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

import graft.ingest.ManifestSink
import graft.ingest.ManifestSink.SkipPredicate

/** Writes beside reads on one manifest table seeded with 100,000 events:
  * MERGE upsert, CDC merge, full sync, MOR delete and update, SQL
  * UPDATE/DELETE and a periodic optimize, interleaved with point lookups,
  * range aggregates, time travel and change-feed reads. Keys hit a
  * clustered recent-id range and scattered ids. Every result is checked
  * against an in-memory model of the same operation sequence applied to
  * the seed rows.
  */
final class TableDml(spark: SparkSession, rec: Recorder, inputs: String,
    work: String, seed: Long) extends Workload {
  import spark.implicits._

  /** One event row; `ts` in epoch microseconds. */
  private final case class Ev(ts: Long, user: Long, kind: String,
      value: Double, props: String)
  private type Model = TreeMap[Long, Ev]

  private val schema =
    "event_id BIGINT, ts TIMESTAMP, user_id BIGINT, event_type STRING, " +
      "value DOUBLE, props STRING"
  private val cols = Seq("event_id", "ts", "user_id", "event_type", "value",
    "props")

  /** One table and its model; `snapshots` holds the model at each
    * committed version.
    */
  private final class Table(val dest: String, val tbl: String,
      var model: Model, var nextId: Long) {
    val snapshots = scala.collection.mutable.LongMap[Model]()
  }
  val cycleSeconds = 10.0
  private var cur: Table = _
  private def dest = cur.dest
  private def tbl = cur.tbl
  private def model = cur.model
  private def model_=(m: Model): Unit = cur.model = m
  private def nextId = cur.nextId
  private def nextId_=(n: Long): Unit = cur.nextId = n
  private def snapshots = cur.snapshots
  private val rnd = new java.util.Random(seed)
  private var opIndex = 0
  private var syncs = 0

  private def micros(t: Timestamp): Long =
    t.getTime / 1000 * 1000000L + t.getNanos / 1000

  private def ev(r: Row): Ev = Ev(micros(r.getTimestamp(1)), r.getLong(2),
    r.getString(3), r.getDouble(4), r.getString(5))

  private def frameOf(rows: Seq[(Long, Ev)]): DataFrame =
    rows.map { case (id, e) =>
      val t = new Timestamp(Math.floorDiv(e.ts, 1000L))
      t.setNanos((Math.floorMod(e.ts, 1000000L) * 1000).toInt)
      (id, t, e.user, e.kind, e.value, e.props)
    }.toDF(cols: _*)

  private def events = spark.read.schema(schema).option("header", "true")
    .option("timestampFormat", "yyyy-MM-dd HH:mm:ss.SSSSSS")
    .csv(s"$inputs/events.csv")

  /** A fresh manifest table of `rows`, with its change feed enabled,
    * registered as a `USING graft` table, and its model.
    */
  private def seed(name: String, rows: DataFrame): Table = {
    val dest = s"$work/$name/events"
    ManifestSink.enableChangeFeed(spark, dest)
    ManifestSink.statsAppend(rows.repartitionByRange(8, col("event_id")),
      dest, None, statsCols = Seq("event_id"))
    spark.sql(s"CREATE TABLE $name USING graft LOCATION '$dest'")
    val model = TreeMap.from(rows.collect().map(r => r.getLong(0) -> ev(r)))
    val t = new Table(dest, name, model, model.lastKey + 1)
    t.snapshots(Main.headVersion(dest)) = model
    t
  }

  def setUp(): Unit = cur = seed("table_dml", events)

  /** One cycle on a 2,000-row table: every code path runs once, at a
    * fraction of the full table's cold cost. The loop then starts on the
    * set-up's table.
    */
  def warmUp(): Unit = {
    val main = cur
    cur = seed("table_dml_warm", events.where(col("event_id") < 2000))
    cycle()
    cur = main
    opIndex = 0
  }

  // ------------------------------------------------------------- keys

  private def recentKey(): Long =
    math.max(0L, nextId - 1 - rnd.nextInt(2000))
  private def scatteredKey(): Long = (rnd.nextDouble() * nextId).toLong
  /** Distinct live keys, half recent and half scattered. */
  private def liveKeys(n: Int): Seq[Long] = {
    val out = scala.collection.mutable.LinkedHashSet[Long]()
    var guard = 0
    while (out.size < n && guard < n * 50) {
      val k = if (out.size % 2 == 0) recentKey() else scatteredKey()
      if (model.contains(k)) out += k
      guard += 1
    }
    out.toSeq
  }
  private def freshEv(id: Long): Ev = Ev(
    1704067200000000L + id * 26000000L + rnd.nextInt(1000000),
    rnd.nextInt(1500).toLong, Seq("click", "error", "purchase", "signup",
      "view")(rnd.nextInt(5)), rnd.nextInt(20000) / 100.0,
    s"k${rnd.nextInt(100)}")
  private def newIds(n: Int): Seq[Long] = {
    val ids = nextId until nextId + n
    nextId += n
    ids
  }
  private def range(width: Int): (Long, Long) = {
    val lo = if (recentTurn) recentKey() else scatteredKey()
    (lo, lo + width - 1)
  }
  /** Alternates per operation, and per cycle for each operation kind. */
  private def recentTurn: Boolean =
    (opIndex + opIndex / ops.length) % 2 == 0
  private def inRange(m: Model, lo: Long, hi: Long) = m.range(lo, hi + 1)

  // ------------------------------------------------------------ cycle

  // each kind once; the change feed reads the four writes before it,
  // none of which is a full sync or an optimize
  private val ops: IndexedSeq[() => Unit] = IndexedSeq(
    () => mergeInto(), () => pointRead(), () => deleteMor(),
    () => rangeRead(), () => updateMor(), () => timeTravel(),
    () => sqlUpdate(), () => mergeCdc(), () => changeFeed(),
    () => sqlDelete(), () => fullSync(), () => optimize())

  def cycle(): Unit = ops.foreach { op => op(); opIndex += 1 }

  /** Run one write; on success, adopt `next` as the model and remember it
    * under the version the write committed.
    */
  private def write(next: Model)(body: => Unit): Unit = {
    val ok = rec.op("write") {
      body
      spark.catalog.refreshTable(tbl)
    }.isDefined
    if (ok) {
      model = next
      snapshots(Main.headVersion(dest)) = model
    }
  }

  private def mergeInto(): Unit = {
    val rows = (liveKeys(100) ++ newIds(100)).map(k => k -> freshEv(k))
    val src = frameOf(rows)
    val updated = rows.count(r => model.contains(r._1)).toLong
    write(model ++ rows) {
      val (u, i) = rec.span("sink.merge_into") {
        ManifestSink.mergeInto(spark, dest, src, "event_id",
          statsCols = Seq("event_id"))
      }
      rec.check((u, i) == ((updated, rows.length - updated)),
        s"mergeInto returned ($u, $i), model says " +
          s"($updated, ${rows.length - updated})")
    }
  }

  private def mergeCdc(): Unit = {
    val keys = liveKeys(100)
    val (upd, del) = keys.splitAt(60)
    val ins = newIds(20)
    val rows = (upd ++ ins).map(k => (k, freshEv(k), "U")) ++
      del.map(k => (k, model(k), "D"))
    val src = frameOf(rows.map(r => r._1 -> r._2))
      .join(rows.map(r => (r._1, r._3)).toDF("event_id", "op"), "event_id")
    val next = model ++ rows.filter(_._3 == "U").map(r => r._1 -> r._2) --
      del
    write(next) {
      val c = rec.span("sink.merge_cdc") {
        ManifestSink.mergeCdc(spark, dest, src, "event_id",
          col("op") === "D", directiveCols = Seq("op"),
          statsCols = Seq("event_id"))
      }
      rec.check(c == ((upd.length.toLong, ins.length.toLong,
        del.length.toLong)), s"mergeCdc returned $c")
    }
  }

  private def fullSync(): Unit = {
    // the desired state: drop one id residue class, bump another's value
    val k = syncs % 50
    syncs += 1
    val src = ManifestSink.readBack(spark, dest)
      .where(col("event_id") % 50 =!= k)
      .withColumn("value", when(col("event_id") % 50 === (k + 1) % 50,
        col("value") + 0.25).otherwise(col("value")))
      .select(cols.map(col): _*)
    val next = model.collect {
      case (id, e) if id % 50 != k =>
        id -> (if (id % 50 == (k + 1) % 50) e.copy(value = e.value + 0.25)
               else e)
    }
    write(next) {
      val o = rec.span("sink.merge_full_sync") {
        ManifestSink.mergeFullSync(spark, dest, src, "event_id",
          statsCols = Seq("event_id"))
      }
      rec.check(o.applied, s"mergeFullSync did not apply: $o")
    }
  }

  private def deleteMor(): Unit = {
    val (lo, hi) = range(40)
    val gone = inRange(model, lo, hi).keys
    write(model -- gone) {
      val n = rec.span("sink.delete_mor") {
        ManifestSink.deleteWhereMor(spark, dest,
          SkipPredicate.NumRange("event_id", lo.toDouble, hi.toDouble))
      }
      rec.check(n == gone.size,
        s"deleteWhereMor removed $n, model ${gone.size}")
    }
  }

  private def updateMor(): Unit = {
    val (lo, hi) = range(40)
    val hit = inRange(model, lo, hi)
    val next =
      model ++ hit.map { case (id, e) => id -> e.copy(value = e.value + 1) }
    write(next) {
      val n = rec.span("sink.update_mor") {
        ManifestSink.updateWhereMor(spark, dest,
          SkipPredicate.NumRange("event_id", lo.toDouble, hi.toDouble),
          Map("value" -> (col("value") + 1.0)))
      }
      rec.check(n == hit.size,
        s"updateWhereMor changed $n, model ${hit.size}")
    }
  }

  private def sqlUpdate(): Unit = {
    val (lo, hi) = range(40)
    val hit = inRange(model, lo, hi)
    val next =
      model ++ hit.map { case (id, e) => id -> e.copy(value = e.value * 2) }
    write(next) {
      val n = rec.span("sql.dml") {
        spark.sql(s"UPDATE $tbl SET value = value * 2 " +
          s"WHERE event_id BETWEEN $lo AND $hi").head().getLong(0)
      }
      rec.check(n == hit.size, s"UPDATE changed $n, model ${hit.size}")
    }
  }

  private def sqlDelete(): Unit = {
    val keys = liveKeys(30)
    write(model -- keys) {
      val n = rec.span("sql.dml") {
        spark.sql(s"DELETE FROM $tbl WHERE event_id IN " +
          keys.mkString("(", ",", ")")).head().getLong(0)
      }
      rec.check(n == keys.length, s"DELETE removed $n, model ${keys.length}")
    }
  }

  private def optimize(): Unit = write(model) {
    rec.span("sink.optimize") { ManifestSink.optimize(spark, dest) }
  }

  private def pointRead(): Unit = {
    val k = if (recentTurn) recentKey() else scatteredKey()
    rec.op("read") {
      val rows = rec.span("sql.point_read") {
        spark.sql(s"SELECT ${cols.mkString(", ")} FROM $tbl " +
          s"WHERE event_id = $k").collect()
      }
      rec.check(rows.map(ev).toSeq == model.get(k).toSeq,
        s"point read of $k returned ${rows.toSeq}")
    }
  }

  private def sameAgg(r: Row, m: Iterable[Ev]): Boolean = {
    val want = m.map(_.value).sum
    r.getLong(0) == m.size &&
      (m.isEmpty || math.abs(r.getDouble(1) - want) <= 1e-9 * math.abs(want))
  }

  private def rangeRead(): Unit = {
    val (lo, hi) = range(2000)
    rec.op("read") {
      val r = rec.span("sql.range_read") {
        spark.sql(s"SELECT count(*), sum(value) FROM $tbl " +
          s"WHERE event_id BETWEEN $lo AND $hi").head()
      }
      rec.check(sameAgg(r, inRange(model, lo, hi).values),
        s"range [$lo, $hi] read $r")
    }
  }

  private def timeTravel(): Unit = {
    val versions = snapshots.keys.toIndexedSeq.sorted
    val v = versions(rnd.nextInt(versions.length))
    rec.op("read") {
      val r = rec.span("sql.time_travel") {
        spark.sql(s"SELECT count(*), sum(value) FROM $tbl VERSION AS OF $v")
          .head()
      }
      rec.check(sameAgg(r, snapshots(v).values), s"VERSION AS OF $v read $r")
    }
  }

  /** Key-level change counts between consecutive model versions. */
  private def expectedChanges(since: Long, until: Long): (Long, Long) = {
    val vs = snapshots.keys.filter(v => v >= since && v <= until).toSeq.sorted
    vs.sliding(2).filter(_.length == 2).foldLeft((0L, 0L)) {
      case ((d, i), Seq(a, b)) =>
        val (o, n) = (snapshots(a), snapshots(b))
        (d + o.count { case (k, e) => !n.get(k).contains(e) },
          i + n.count { case (k, e) => !o.get(k).contains(e) })
    }
  }

  private def changeFeed(): Unit = {
    val versions = snapshots.keys.toIndexedSeq.sorted
    val until = versions.last
    val since = versions(math.max(0, versions.length - 5))
    val (wantDel, wantIns) = expectedChanges(since, until)
    rec.op("read") {
      val counts = rec.span("sink.change_feed") {
        ManifestSink.readChangesBetween(spark, dest, since, until)
          .groupBy("_change_type").count().collect()
          .map(r => r.getString(0) -> r.getLong(1)).toMap
      }
      rec.check(counts.getOrElse("delete", 0L) == wantDel &&
        counts.getOrElse("insert", 0L) == wantIns,
        s"change feed ($since, $until] = $counts, model " +
          s"delete=$wantDel insert=$wantIns")
    }
  }

  // ------------------------------------------------------------ checks

  private def rowsOf(df: DataFrame): Map[Long, Ev] =
    df.select(cols.map(col): _*).collect().map(r => r.getLong(0) -> ev(r))
      .toMap

  def finish(checks: Checks): Map[String, Double] = {
    checks.guard("current_read") {
      val got = rowsOf(spark.table(tbl))
      checks("current_read", got == model,
        s"${got.size} rows read, model ${model.size}; " +
          s"${got.count { case (k, e) => !model.get(k).contains(e) }} differ")
    }
    val versions = snapshots.keys.toIndexedSeq.sorted
    // the current read covers the newest version
    val sample = Seq(versions.head, versions(versions.length / 2)).distinct
    sample.foreach { v =>
      checks.guard(s"version_as_of_$v") {
        val got = rowsOf(spark.sql(s"SELECT * FROM $tbl VERSION AS OF $v"))
        checks(s"version_as_of_$v", got == snapshots(v),
          s"v$v: ${got.size} rows read, model ${snapshots(v).size}")
      }
    }
    val d = ManifestSink.detail(spark, dest).head()
    val log = Main.filesUnder(new java.io.File(dest, "_log"), _ => true)
    val stored = Main.bytesUnder(new java.io.File(dest))
    val plain = Main.plainParquetBytes(ManifestSink.readBack(spark, dest),
      s"$work/plain_copy")
    Map(
      "table.data_files" -> d.getAs[Long]("num_files").toDouble,
      "table.dv_files" -> d.getAs[Long]("num_dv_files").toDouble,
      "table.log_files" -> log.length.toDouble,
      "table.log_bytes" -> log.map(_.length).sum.toDouble,
      "table.version" -> d.getAs[Long]("version").toDouble,
      "table.stored_bytes_per_input_byte" -> stored.toDouble / plain,
      "input.rows_live" -> model.size.toDouble)
  }
}
