package graft.perfbench

import java.io.{File, PrintWriter}
import java.time.{LocalDate, LocalDateTime, ZoneOffset}
import java.time.format.DateTimeFormatter

import scala.collection.mutable
import scala.util.Random

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.{col, count, lit, sum}
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types._

import graft.plans.SnapshotTable

/** `stream_serve`, the second half of [[Lakehouse]]: many small commits
  * beside reads on one table. Set-up creates an events table partitioned
  * by `date` with merge key `event_id` and starts one long-lived query,
  * JSON file source →
  * `writeStream.format("graft").option("mergeKey", "event_id")`.
  *
  * A cycle is one new day: a micro-batch lands one file (mostly new
  * events, plus re-deliveries, updates and late days) and waits for the
  * query to commit it; then it issues one read of each class through
  * `spark.read.format("graft")`: a point lookup, a one-week date-range
  * aggregate, a `versionAsOf` head−20 aggregate and a change feed over
  * the last three versions; then a merge-on-read delete of the oldest
  * day and a vacuum, keeping versions enough for the travel reads. A
  * model keeps the table state per version; every read is checked
  * against it. */
final class StreamServe(spark: SparkSession, seed: Long, tracer: Tracer) {
  import StreamServe._

  private var root = ""
  private var rng = new Random(seed)
  private var query: Option[StreamingQuery] = None
  private var model = Map.empty[Long, Event]
  /** committed version → table state as of that version */
  private val history = mutable.Map.empty[Long, Map[Long, Event]]
  private val dayIds = mutable.Map.empty[String, mutable.ArrayBuffer[Long]]
  private var firstDay, today = 0
  private var nextId = 1L
  private var lastBatch = Seq.empty[Event]
  private var head = 0L

  private def path = s"$root/events"
  private def load: DataFrame = spark.read.format("graft").load(path)

  def setup(dir: String): Unit = {
    root = dir
    rng = new Random(seed)
    model = Map.empty
    history.clear(); dayIds.clear()
    nextId = 1L; firstDay = 0; today = SeedDays - 1
    lastBatch = Nil
    val seedRows = (0 until SeedDays).flatMap(d =>
      (1 to SeedPerDay).map(_ => newEvent(d)))
    seedRows.foreach(put)
    val df = spark.createDataFrame(
      java.util.Arrays.asList(seedRows.map(_.row): _*), Schema)
    val t = SnapshotTable(spark, path, "event_id", partitionCol = Some("date"))
    t.create(df)
    head = t.currentVersion.get
    history(head) = model
    new File(s"$root/landing").mkdirs()
    query = Some(spark.readStream.schema(Schema)
      .option("maxFilesPerTrigger", "1")
      .json(s"$root/landing")
      .writeStream.format("graft")
      .option("path", path)
      .option("mergeKey", "event_id")
      .option("checkpointLocation", s"$root/checkpoint")
      .start())
  }

  def teardown(): Unit = {
    query.foreach { q => q.stop(); q.awaitTermination() }
    query = None
  }

  private def put(e: Event): Unit = {
    if (!model.contains(e.id))
      dayIds.getOrElseUpdate(e.date, mutable.ArrayBuffer.empty) += e.id
    model = model.updated(e.id, e)
  }

  private def newEvent(d: Int): Event = {
    val id = nextId
    nextId += 1
    Event(id, dayStart(d) + rng.nextInt(86400), 1 + rng.nextInt(5000),
      Types(rng.nextInt(Types.size)), rng.nextInt(4000), dateOf(d))
  }

  private def randomLive(): Event = {
    val days = dayIds.keys.toIndexedSeq.sorted
    val ids = dayIds(days(rng.nextInt(days.size)))
    model(ids(rng.nextInt(ids.size)))
  }

  /** A new day: one micro-batch, then retention. */
  def cycle(i: Int, rec: Recorder): Unit = {
    today += 1
    microBatch(i.toString, rec)
    maintain(i, rec)
  }

  /** Land one micro-batch file and wait for the query to commit it, then
    * read one of each class. */
  private def microBatch(name: String, rec: Recorder): Unit = {
    // unique event ids within the file
    val batch = mutable.LinkedHashMap.empty[Long, Event]
    (1 to BatchEvents * 90 / 100).foreach { _ =>
      val e = newEvent(today); batch(e.id) = e }
    (1 to BatchEvents * 3 / 100).foreach { _ =>
      val e = newEvent(firstDay + 1 + rng.nextInt(today - firstDay)); batch(e.id) = e }
    lastBatch.take(BatchEvents * 4 / 100).foreach(e => batch(e.id) = e)
    (1 to BatchEvents * 3 / 100).foreach { _ =>
      val e = randomLive()
      if (!batch.contains(e.id)) batch(e.id) = e.copy(
        etype = Types(rng.nextInt(Types.size)), valueQ = rng.nextInt(4000))
    }
    val events = batch.values.toSeq
    val tmp = new File(s"$root/batch.tmp")
    val w = new PrintWriter(tmp, "UTF-8")
    try events.foreach(e => w.println(e.json)) finally w.close()
    if (!tmp.renameTo(new File(s"$root/landing/batch-$name.json")))
      throw new IllegalStateException("could not land the micro-batch")
    events.foreach(put)
    lastBatch = events
    rec.rows += events.size

    val q = query.get
    val before = q.recentProgress.length
    rec.timed("ingest")(tracer.span("sink")(q.processAllAvailable()))
    q.exception.foreach(e => throw e)
    if (tracer.enabled) {
      val progress = q.recentProgress.drop(before)
        .filter(_.numInputRows > 0)
      val add = progress.map(p => p.durationMs.getOrDefault("addBatch", 0L).longValue).sum
      val trig = progress.map(p =>
        p.durationMs.getOrDefault("triggerExecution", 0L).longValue).sum
      tracer.extra("sink.add_batch_s", add / 1000.0)
      tracer.extra("sink.trigger_overhead_s", (trig - add) / 1000.0)
    }
    committed(rec, s"micro-batch $name")
    rec.add("serve", reads(name, rec))
  }

  /** Retention: delete the oldest day merge-on-read, then vacuum. */
  private def maintain(i: Int, rec: Recorder): Unit = {
    val oldest = dateOf(firstDay)
    val t = SnapshotTable(spark, path, "event_id", partitionCol = Some("date"))
    val liveBefore = if (tracer.enabled) liveFiles(t) else Map.empty[String, Long]
    rec.timed("maint")(tracer.span("maint") {
      t.deleteMoR(col("date") === oldest)
      t.vacuum(keepVersions = KeepVersions, retentionMs = 0)
    })
    if (tracer.enabled) {
      val after = liveFiles(t)
      tracer.extra("maint.bytes_rewritten_mb",
        (liveBefore.keySet -- after.keySet).toSeq.map(liveBefore).sum /
          (1024.0 * 1024.0))
    }
    dayIds.remove(oldest).foreach(ids => model = model -- ids)
    firstDay += 1
    committed(rec, s"maintenance after cycle $i", exact = false)
  }

  private def liveFiles(t: SnapshotTable): Map[String, Long] =
    t.candidateFiles().map(f => f.path -> f.len).toMap

  /** Record the model as of the new head; a micro-batch must commit
    * exactly one version, maintenance at least one. */
  private def committed(rec: Recorder, what: String, exact: Boolean = true): Unit = {
    val v = SnapshotTable(spark, path, "event_id").currentVersion.get
    rec.check(if (exact) v == head + 1 else v > head,
      s"$what: unexpected commits after v$head, head is v$v")
    (head + 1 to v).foreach(history(_) = model)
    head = v
    history.keys.filter(_ < v - KeepVersions).toSeq.foreach(history.remove)
  }

  /** One read of each class; returns their summed latency. Model
    * answers are computed outside the timed calls. */
  private def reads(i: String, rec: Recorder): Double = {
    // a cold handle replaying the log to the head
    if (tracer.enabled) tracer.span("log.open") {
      SnapshotTable(spark, path, "event_id").candidateFiles()
    }

    val target = randomLive()
    var total = 0.0
    def read(span: String)(df: => DataFrame): Array[Row] = {
      val t0 = System.nanoTime()
      val r = rec.timed(span)(collectIn(span)(df))
      total += (System.nanoTime() - t0) / 1e9
      r
    }
    val pointRows = read("read.point") {
      load.filter(col("event_id") === target.id)
    }
    rec.check(pointRows.map(Event.of).toSeq == Seq(target),
      s"cycle $i point lookup ${target.id}: got ${pointRows.toSeq}, model $target")
    scanned("read.point", 1)

    val hi = firstDay + 6 + rng.nextInt((today - firstDay - 6).max(0) + 1)
    val (lo, hiD) = (dateOf(hi - 6), dateOf(hi))
    val scanRows = read("read.scan") {
      load.filter(col("date").between(lo, hiD))
        .agg(count(lit(1)), sum("value"))
    }
    val inRange = model.values.filter(e => e.date >= lo && e.date <= hiD)
    val want = (inRange.size.toLong, inRange.map(_.valueQ.toLong).sum / 4.0)
    val got = scanRows.headOption.map(r =>
      (r.getLong(0), if (r.isNullAt(1)) 0.0 else r.getDouble(1)))
    rec.check(got.contains(want), s"cycle $i week scan $lo..$hiD: got $got, model $want")
    scanned("read.scan", inRange.size)

    val tv = (head - 20).max(history.keys.min)
    val travelRows = read("read.travel") {
      spark.read.format("graft").option("versionAsOf", tv).load(path)
        .groupBy("date").agg(count(lit(1)), sum("value"))
    }
    val past = history(tv)
    val wantT = past.values.groupBy(_.date).map { case (d, es) =>
      d -> ((es.size.toLong, es.map(_.valueQ.toLong).sum / 4.0)) }
    val gotT = travelRows.map(r => r.getString(0) ->
      ((r.getLong(1), r.getDouble(2)))).toMap
    rec.check(gotT == wantT, s"cycle $i travel to v$tv (head v$head) differs")
    scanned("read.travel", past.size)

    val from = (head - 3).max(history.keys.min)
    val cdcRows = read("read.cdc") {
      spark.read.format("graft").option("readChangeFeed", "true")
        .option("startingVersion", from).option("endingVersion", head)
        .load(path)
    }
    val net = mutable.Map.empty[Event, Int].withDefaultValue(0)
    cdcRows.foreach { r =>
      val e = Event.of(r)
      net(e) += (if (r.getAs[String]("_change_image") == "after") 1 else -1)
    }
    val old = history(from)
    val wantC = mutable.Map.empty[Event, Int]
    model.values.foreach(e => if (!old.get(e.id).contains(e)) wantC(e) = 1)
    old.values.foreach(e => if (!model.get(e.id).contains(e)) wantC(e) = -1)
    rec.check(net.filter(_._2 != 0).toMap == wantC.toMap,
      s"cycle $i change feed (v$from, v$head] differs from the model diff")
    scanned("read.cdc", cdcRows.length.max(1))
    total
  }

  /** Collect `df` inside span `span`; in a traced run also record its
    * analysis, optimization and planning time. */
  private def collectIn(span: String)(df: => DataFrame): Array[Row] = {
    var frame: DataFrame = null
    val rows = tracer.span(span) { frame = df; frame.collect() }
    if (tracer.enabled) {
      val phases = frame.queryExecution.tracker.phases
      tracer.extra(s"$span.plan_s", Seq("analysis", "optimization", "planning")
        .flatMap(phases.get).map(_.durationMs).sum / 1000.0)
    }
    rows
  }

  /** Records the span's last read read per row the model says it matched. */
  private def scanned(span: String, matched: Int): Unit =
    if (tracer.enabled) tracer.samples.get(span).foreach { s =>
      tracer.extra(s"$span.rows_scanned_per_row",
        s.last.recordsRead / matched.max(1))
    }

  def finalCheck(rec: Recorder): Unit = {
    val rows = load.collect().map(Event.of)
    val ids = rows.map(_.id)
    rec.check(ids.distinct.length == ids.length,
      s"sink wrote duplicate event ids (${ids.length - ids.distinct.length})")
    rec.check(rows.length == model.size && rows.forall(e => model.get(e.id).contains(e)),
      s"table differs from the model (${rows.length} rows vs ${model.size})")
  }

  def diskBytes: Long = Main.dirBytes(path)
}

object StreamServe {
  val SeedDays = 20
  val SeedPerDay = 4000
  val BatchEvents = 2000
  val KeepVersions = 25

  val Types: IndexedSeq[String] = IndexedSeq("view", "click", "cart", "purchase")
  val Schema: StructType = StructType(Seq(
    StructField("event_id", LongType), StructField("ts", TimestampType),
    StructField("user_id", LongType), StructField("event_type", StringType),
    StructField("value", DoubleType), StructField("date", StringType)))

  def dayStart(d: Int): Long = LocalDate.of(2025, 1, 1).plusDays(d.toLong)
    .atStartOfDay().toEpochSecond(ZoneOffset.UTC)
  def dateOf(d: Int): String = LocalDate.of(2025, 1, 1).plusDays(d.toLong).toString
  val TsFormat: DateTimeFormatter = DateTimeFormatter.ofPattern("yyyy-MM-dd'T'HH:mm:ss")

  /** `value` is `valueQ / 4`, so every sum is exact in a double. */
  final case class Event(id: Long, ts: Long, user: Long, etype: String,
                         valueQ: Int, date: String) {
    def row: Row = Row(id, new java.sql.Timestamp(ts * 1000), user, etype,
      valueQ / 4.0, date)
    def json: String =
      s"""{"event_id":$id,"ts":"${TsFormat.format(LocalDateTime.ofEpochSecond(
        ts, 0, ZoneOffset.UTC))}","user_id":$user,"event_type":"$etype",""" +
        s""""value":${valueQ / 4.0},"date":"$date"}"""
  }
  object Event {
    def of(r: Row): Event = Event(r.getAs[Long]("event_id"),
      r.getAs[java.sql.Timestamp]("ts").getTime / 1000, r.getAs[Long]("user_id"),
      r.getAs[String]("event_type"), math.round(r.getAs[Double]("value") * 4).toInt,
      r.getAs[String]("date"))
  }
}
