package graft.perfbench

import java.lang.management.ManagementFactory

import scala.annotation.nowarn
import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.FileSystem
import org.apache.spark.SparkContext
import org.apache.spark.graftbench.ListenerDrain
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd,
  SparkListenerJobStart, SparkListenerTaskEnd}

/** What one span invocation cost. Times in seconds, volumes in MB. */
final case class SpanSample(wallS: Double, jobs: Double, tasks: Double,
    taskCpuS: Double, driverS: Double, shuffleMb: Double, inputMb: Double,
    outputMb: Double, gcS: Double, recordsRead: Double, cores: Int) {
  def taskSlotUtil: Double = if (wallS > 0) taskCpuS / (wallS * cores) else 0.0
}

/** Running totals fed by the listener bus thread; read only after a
  * drain, under the same lock. */
private final class BusTotals extends SparkListener {
  var jobs = 0L
  var tasks = 0L
  var cpuNs = 0L
  var shuffleBytes = 0L
  var recordsRead = 0L
  /** (start, end) epoch millis of every finished job, in end order. */
  val intervals = mutable.ArrayBuffer.empty[(Long, Long)]
  private val open = mutable.Map.empty[Int, Long]

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    jobs += 1
    open(e.jobId) = e.time
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    open.remove(e.jobId).foreach(s => intervals += ((s, e.time)))
  }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    tasks += 1
    val m = e.taskMetrics
    if (m != null) {
      cpuNs += m.executorCpuTime
      shuffleBytes += m.shuffleWriteMetrics.bytesWritten
      recordsRead += m.inputMetrics.recordsRead
    }
  }
  def openJobs: Int = synchronized(open.size)
}

/** Spans around calls into graft's layers, timed from outside.
  *
  * Untraced, a span is a plain call: no listener is registered and
  * nothing is drained, so end-to-end timings carry no tracing cost.
  * Traced, every span drains the listener bus on entry and exit and
  * folds the Spark listener totals (jobs, tasks, executor CPU, shuffle
  * writes, records read), the JVM's GC time and the Hadoop FileSystem
  * byte counters into the span. Spans run one at a time on the client
  * thread, so the totals' delta across a span is the span's own work;
  * in local mode the FileSystem counters cover driver and tasks alike.
  * `driverS` is span wall time minus the union of the span's job
  * intervals, taken from the listener events' own timestamps. */
final class Tracer(sc: SparkContext, val enabled: Boolean) {
  private val cores = sc.defaultParallelism
  private val totals = new BusTotals
  if (enabled) sc.addSparkListener(totals)

  val samples =
    mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[SpanSample]]
  val extras = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]

  private final case class Mark(jobs: Long, tasks: Long, cpuNs: Long,
      shuffle: Long, records: Long, intervals: Int, gcMs: Long,
      fsRead: Long, fsWritten: Long)

  /** Wait until every job started so far has its end event; fails when
    * one is still open after 30 s, rather than let its counters land in
    * the next span. */
  def drain(): Unit = {
    ListenerDrain.drain(sc)
    val deadline = System.nanoTime() + 30L * 1000000000L
    while (totals.openJobs > 0 && System.nanoTime() < deadline) {
      Thread.sleep(2)
      ListenerDrain.drain(sc)
    }
    if (totals.openJobs > 0) throw new IllegalStateException(
      s"${totals.openJobs} Spark job(s) still open 30 s after the span ended")
  }

  @nowarn("cat=deprecation")
  private def fsBytes: (Long, Long) =
    FileSystem.getAllStatistics.asScala.foldLeft((0L, 0L)) { (acc, s) =>
      (acc._1 + s.getBytesRead, acc._2 + s.getBytesWritten)
    }

  private def gcMs: Long = ManagementFactory.getGarbageCollectorMXBeans
    .asScala.map(_.getCollectionTime.max(0L)).sum

  private def mark(): Mark = {
    val (r, w) = fsBytes
    totals.synchronized {
      Mark(totals.jobs, totals.tasks, totals.cpuNs, totals.shuffleBytes,
        totals.recordsRead, totals.intervals.size, gcMs, r, w)
    }
  }

  def span[A](name: String)(body: => A): A =
    if (!enabled) body
    else {
      drain()
      val m0 = mark()
      val ms0 = System.currentTimeMillis()
      val t0 = System.nanoTime()
      val result = body
      val wall = (System.nanoTime() - t0) / 1e9
      val ms1 = System.currentTimeMillis()
      drain()
      val m1 = mark()
      val busyMs = totals.synchronized {
        unionMs(totals.intervals.slice(m0.intervals, m1.intervals).toSeq
          .map { case (s, e) => (s.max(ms0), e.min(ms1)) })
      }
      val mb = 1024.0 * 1024.0
      samples.getOrElseUpdate(name, mutable.ArrayBuffer.empty) += SpanSample(
        wallS = wall,
        jobs = (m1.jobs - m0.jobs).toDouble,
        tasks = (m1.tasks - m0.tasks).toDouble,
        taskCpuS = (m1.cpuNs - m0.cpuNs) / 1e9,
        driverS = (wall - busyMs / 1000.0).max(0.0),
        shuffleMb = (m1.shuffle - m0.shuffle) / mb,
        inputMb = (m1.fsRead - m0.fsRead) / mb,
        outputMb = (m1.fsWritten - m0.fsWritten) / mb,
        gcS = (m1.gcMs - m0.gcMs) / 1000.0,
        recordsRead = (m1.records - m0.records).toDouble,
        cores = cores)
      result
    }

  /** A span-specific counter (e.g. `pipeline.files_added`), traced only. */
  def extra(name: String, value: Double): Unit =
    if (enabled) extras.getOrElseUpdate(name, mutable.ArrayBuffer.empty) += value

  private def unionMs(iv: Seq[(Long, Long)]): Long = {
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    iv.filter { case (s, e) => e > s }.sortBy(_._1).foreach { case (s, e) =>
      if (s > curE) {
        if (curE > curS) total += curE - curS
        curS = s; curE = e
      } else curE = curE.max(e)
    }
    if (curE > curS) total += curE - curS
    total
  }
}
