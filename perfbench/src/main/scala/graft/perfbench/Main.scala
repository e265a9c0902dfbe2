package graft.perfbench

import java.io.File
import java.lang.management.ManagementFactory

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

import graft.Gate

/** One closed-loop workload: a single client thread issues a cycle,
  * waits for it, then issues the next. */
trait Workload {
  /** Generate the seeded inputs under `dir` and bring the system to its
    * starting state. */
  def setup(dir: String): Unit
  /** Release what the last setup holds (e.g. a running query). */
  def teardown(): Unit = ()
  /** One cycle. Latencies and input rows go into `rec`; an output that
    * disagrees with the workload's model goes into `rec.mismatch`. */
  def cycle(i: Int, rec: Recorder): Unit
  /** Whole-state checks after the measured window. */
  def finalCheck(rec: Recorder): Unit
  /** Bytes under the workload's tables (or output) right now. */
  def diskBytes: Long
  /** Cycles a run measures at the least, whatever `--seconds` says: a
    * fixed count keeps the medians' meaning the same from run to run. */
  def minCycles: Int
}

/** Per-run sample store. */
final class Recorder {
  val lat = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]
  var rows = 0L
  var attempted = 0L
  var failed = 0L
  val mismatches = mutable.ArrayBuffer.empty[String]
  val values = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]

  /** Time `body` as one attempted operation of kind `kind`. */
  def timed[A](kind: String)(body: => A): A = {
    attempted += 1
    val t0 = System.nanoTime()
    val r = try body catch { case e: Throwable => failed += 1; throw e }
    lat.getOrElseUpdate(kind, mutable.ArrayBuffer.empty) +=
      (System.nanoTime() - t0) / 1e9
    r
  }
  /** Count an operation timed by the caller. */
  def add(kind: String, seconds: Double): Unit = {
    attempted += 1
    lat.getOrElseUpdate(kind, mutable.ArrayBuffer.empty) += seconds
  }
  def value(name: String, v: Double): Unit =
    values.getOrElseUpdate(name, mutable.ArrayBuffer.empty) += v
  def mismatch(msg: String): Unit =
    if (mismatches.size < 20) mismatches += msg
  def check(ok: Boolean, msg: => String): Unit = if (!ok) mismatch(msg)
}

object Stats {
  /** Linear-interpolated quantile (the `inclusive` method). */
  def quantile(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "quantile of no samples")
    val s = xs.sorted
    val pos = q * (s.size - 1)
    val lo = pos.floor.toInt
    val hi = pos.ceil.toInt
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)
}

/** Benchmark main: one workload, one fresh JVM and one local SparkSession
  * built by the gate recipe ([[Gate.session]]).
  *
  * Usage: `Main --workload <lakehouse|curation> --seed <n>
  *   --seconds <n> --trace <0|1> --work <dir>`.
  *
  * Prints `# ` detail lines, then one JSON result line last. Exit code
  * 1 when any output check fails or any operation fails. */
object Main {

  val Cores: Int = Runtime.getRuntime.availableProcessors()

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) =>
      k.stripPrefix("--") -> v }.toMap
    def opt(k: String) = opts.getOrElse(k,
      throw new IllegalArgumentException(s"missing --$k"))
    val workload = opt("workload")
    val seed = opt("seed").toLong
    val seconds = opt("seconds").toDouble
    val traced = opt("trace") == "1"
    val work = opt("work")

    val spark = Gate.session(Cores.toString)
    val code =
      try run(spark, workload, seed, seconds, traced, work)
      finally spark.stop()
    System.out.flush()
    sys.exit(code)
  }

  def dirBytes(path: String): Long = {
    def walk(f: File): Long =
      if (f.isDirectory) Option(f.listFiles).fold(0L)(_.map(walk).sum)
      else f.length()
    walk(new File(path))
  }

  /** Heap retained after a full collection, in MB. */
  private def liveHeapMb(): Double = {
    System.gc()
    val rt = Runtime.getRuntime
    (rt.totalMemory() - rt.freeMemory()) / (1024.0 * 1024.0)
  }

  private val ConfKeys =
    Seq("spark.sql.files.minPartitionNum", "spark.sql.shuffle.partitions")

  def run(spark: SparkSession, name: String, seed: Long, seconds: Double,
          traced: Boolean, work: String): Int = {
    val tracer = new Tracer(spark.sparkContext, traced)
    val conf = spark.conf
    def confNow = ConfKeys.map(k => conf.getOption(k).getOrElse("<unset>"))
    val conf0 = confNow
    val wl: Workload = name match {
      case "lakehouse" => new Lakehouse(spark, seed, tracer)
      case "curation" => new Curation(spark, seed, tracer)
      case other => throw new IllegalArgumentException(
        s"unknown workload '$other' (lakehouse, curation)")
    }
    // one set-up per run, in the fresh JVM; the median over runs smooths it
    val s0 = System.nanoTime()
    wl.setup(s"$work/setup")
    val setupS = (System.nanoTime() - s0) / 1e9
    val rec = new Recorder
    var drift = 0
    var cycles = 0
    var disk = Double.NaN
    val t0 = System.nanoTime()
    def elapsed = (System.nanoTime() - t0) / 1e9
    try {
      while (cycles < wl.minCycles || elapsed < seconds) {
        val before = confNow
        wl.cycle(cycles + 1, rec)
        cycles += 1
        // bytes on disk at a fixed point, after the first cycle, so that
        // the figure does not depend on how many cycles fit in the window
        if (cycles == 1) disk = wl.diskBytes / (1024.0 * 1024.0)
        val after = confNow
        if (before != conf0 || after != before) drift += 1
      }
    } catch {
      case e: Throwable =>
        rec.mismatch(s"cycle ${cycles + 1} failed: $e")
        e.printStackTrace()
    }
    val wall = elapsed
    // heap retained after a full GC, probed after the window and after
    // the final checks; the larger counts
    val heapAfterWindow = liveHeapMb()
    val f0 = System.nanoTime()
    if (rec.failed == 0) {
      try wl.finalCheck(rec)
      catch { case e: Throwable =>
        rec.mismatch(s"final check failed: $e"); e.printStackTrace() }
    }
    val finalS = (System.nanoTime() - f0) / 1e9
    val heapPeak = heapAfterWindow.max(liveHeapMb())
    wl.teardown()

    val correct = rec.mismatches.isEmpty && rec.failed == 0
    rec.mismatches.foreach(m => println(s"# MISMATCH $m"))
    val lat = rec.lat.map { case (k, v) => k -> v.toSeq }.toMap
    def p50(k: String) = lat.get(k).filter(_.nonEmpty).map(Stats.median)
      .getOrElse(Double.NaN)
    val e2e = Seq(
      ("setup_s", setupS, "s"),
      ("op_p50_s", p50("op"), "s"),
      ("serve_p50_s", p50("serve"), "s"),
      ("rows_per_s", rec.rows / wall, "1/s"),
      ("disk_mb", disk, "MB"),
      ("heap_live_peak_mb", heapPeak, "MB"))
    println(f"# workload $name seed $seed cycles $cycles wall_s $wall%.3f " +
      f"attempted ${rec.attempted} failed ${rec.failed} " +
      f"setup_s $setupS%.3f traced $traced " +
      f"final_check_s $finalS%.3f " +
      s"jvm_uptime_s ${ManagementFactory.getRuntimeMXBean.getUptime / 1000.0}")
    // every operation kind by name, e.g. read_cdc_p50_s
    lat.toSeq.sortBy(_._1).foreach { case (k, v) =>
      println(f"# detail ${k.replace('.', '_')}_p50_s ${Stats.median(v)}%.6f s " +
        s"(n=${v.size}: ${v.map(x => f"$x%.3f").mkString(", ")})")
    }
    rec.values.foreach { case (k, v) =>
      println(f"# detail $k ${Stats.median(v.toSeq)}%.6f ratio (n=${v.size})")
    }
    println(s"# session.conf_drift $drift (${ConfKeys.mkString(", ")}; " +
      s"at session start ${conf0.mkString(", ")}, at the end ${confNow.mkString(", ")})")
    e2e.foreach { case (k, v, u) => println(f"# metric $k $v%.6f $u") }

    val metrics: Seq[(String, Double, String)] =
      if (!traced) e2e
      else Layers.metrics(tracer, lat, rec, drift)
    val body = metrics.map { case (k, v, u) =>
      val num = if (v.isNaN || v.isInfinite) "null" else v.toString
      s"${Gate.jstr(k)}: {\"value\": $num, \"unit\": ${Gate.jstr(u)}}"
    }.mkString(", ")
    println(s"""{"correct": $correct, "attempted": ${rec.attempted}, """ +
      s""""failed": ${rec.failed}, "metrics": {$body}}""")
    if (correct) 0 else 1
  }
}
