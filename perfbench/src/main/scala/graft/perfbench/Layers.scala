package graft.perfbench

/** The per-layer metric set of a traced run: every span's counters,
  * as the median over the span's invocations (0 where the workload
  * does not enter that layer), plus span-specific counters. */
object Layers {

  /** Spans with all counters: graft's write, refresh and compute paths. */
  val HeavySpans: Seq[String] =
    Seq("pipeline", "mv", "sink", "maint", "text", "neardup", "decontam", "ann")
  /** Read-side spans: a query's own jobs, no writes or shuffle to speak of. */
  val ReadSpans: Seq[String] =
    Seq("read.point", "read.scan", "read.travel", "read.cdc", "log.open")
  /** Curation writes nothing through these spans. */
  private val NoOutput = Set("text", "neardup", "decontam", "ann")

  private val Counters: Seq[(String, String, SpanSample => Double)] = Seq(
    ("wall_s", "s", _.wallS),
    ("jobs", "count", _.jobs),
    ("tasks", "count", _.tasks),
    ("task_cpu_s", "s", _.taskCpuS),
    ("driver_s", "s", _.driverS),
    ("shuffle_mb", "MB", _.shuffleMb),
    ("input_mb", "MB", _.inputMb),
    ("output_mb", "MB", _.outputMb),
    ("gc_s", "s", _.gcS),
    ("task_slot_util", "ratio", _.taskSlotUtil))
  private val ReadCounters =
    Set("wall_s", "jobs", "tasks", "task_cpu_s", "driver_s", "input_mb", "gc_s")

  val Extras: Seq[(String, String)] = Seq(
    "pipeline.files_added" -> "count",
    "pipeline.files_removed" -> "count",
    "pipeline.bytes_rewritten_mb" -> "MB",
    "sink.add_batch_s" -> "s",
    "sink.trigger_overhead_s" -> "s",
    "read.point.plan_s" -> "s",
    "read.scan.plan_s" -> "s",
    "read.travel.plan_s" -> "s",
    "read.cdc.plan_s" -> "s",
    "read.point.rows_scanned_per_row" -> "ratio",
    "read.scan.rows_scanned_per_row" -> "ratio",
    "read.travel.rows_scanned_per_row" -> "ratio",
    "read.cdc.rows_scanned_per_row" -> "ratio",
    "maint.bytes_rewritten_mb" -> "MB",
    "ann.recall_at_10" -> "ratio")

  /** (name, unit) of every per-layer metric, in report order. */
  val names: Seq[(String, String)] =
    HeavySpans.flatMap(s => Counters.collect {
      case (c, u, _) if !(NoOutput(s) && c == "output_mb") => (s"$s.$c", u)
    }) ++
    ReadSpans.flatMap(s => Counters.collect {
      case (c, u, _) if ReadCounters(c) => (s"$s.$c", u)
    }) ++
    Extras ++ Seq("session.conf_drift" -> "count", "traced.op_p50_s" -> "s")

  def metrics(tracer: Tracer, lat: Map[String, Seq[Double]], rec: Recorder,
              drift: Int): Seq[(String, Double, String)] = {
    val counter = Counters.map { case (c, _, f) => c -> f }.toMap
    def med(xs: Seq[Double]) = if (xs.isEmpty) 0.0 else Stats.median(xs)
    names.map { case (name, unit) =>
      val v = name match {
        case "session.conf_drift" => drift.toDouble
        case "traced.op_p50_s" => med(lat.getOrElse("op", Nil))
        case "ann.recall_at_10" => med(rec.values.get("recall_at_10")
          .fold(Seq.empty[Double])(_.toSeq))
        case n if Extras.exists(_._1 == n) =>
          med(tracer.extras.get(n).fold(Seq.empty[Double])(_.toSeq))
        case n =>
          val cut = n.lastIndexOf('.')
          val (span, c) = (n.take(cut), n.drop(cut + 1))
          med(tracer.samples.get(span).fold(Seq.empty[Double])(
            _.toSeq.map(counter(c))))
      }
      (name, v, unit)
    }
  }
}
