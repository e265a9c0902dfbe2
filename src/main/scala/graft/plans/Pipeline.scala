package graft.plans

import java.util.concurrent.{ExecutorService, Executors, ThreadFactory}
import java.util.concurrent.atomic.AtomicInteger

import scala.concurrent.{Await, Future, Promise}
import scala.concurrent.duration.Duration

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.SQLExecution
import org.apache.spark.sql.types.StructType

import graft.Tables
import graft.operators.{Dedup, Integrity, Validation, ValidationResult}

/** The reference's orchestration as a driver-side sequence (T4;
  * reference: src/step_functions.json:3-94 — ProcessProducts →
  * ProcessOrders → ProcessOrderItems → ArchiveFiles → validation
  * queries). Each step is the corresponding Glue job's logic
  * (product_etl.py / orders_etl.py / order_items_etl.py):
  * schema-enforced CSV scan → validate → [RI for order_items] → dedup →
  * MERGE upsert, with rejects side-written as CSV.
  *
  * Scale notes (100 TB): per-job data flow is one pass —
  * validation is shuffle-free, starts for every job at once (it reads
  * only the job's own drop), and its read and valid counts come from
  * ONE aggregate that also fills the validation cache, RI joins
  * broadcast the dim key set, dedup is the only keyed shuffle, and the
  * upsert evaluates the deduped batch once — the stage-first merge
  * ([[SnapshotTable.upsert]]) scopes it from the staged files' footers,
  * with no aggregate of its own — and touches only the cluster ranges
  * it lands in. The reject and orphan side outputs are written
  * CONCURRENTLY with the merge, off its critical path, and awaited
  * before the attempt returns, retries or releases the caches they
  * read. The driver does no data work (no collect in the loop);
  * post-load gates are aggregates pushed to the engine and run
  * concurrently (T7, step_functions.json:183-237). Every concurrent
  * piece runs through [[async]], on threads carrying the caller's Spark
  * local properties.
  */
object Pipeline {

  /** One ETL job spec (≈ one Glue job in the reference).
    *
    * `clusterCol` is the reference's partition key (`date` /
    * `department_id`, orders_etl.py:74) — kept as the table's RANGE
    * CLUSTERING key with manifest min/max stats rather than Hive
    * directory partitioning. Same pruning (a date predicate skips
    * files on manifest metadata alone), none of the small-file
    * explosion: the reference's daily `date` key fans a single batch
    * out to thousands of near-empty partition dirs (measured ~2,400
    * dirs × 2 tables ≈ 70% of the whole pipeline's wall time in
    * filesystem metadata), while the clustered layout writes a
    * handful of right-sized files per batch and the stats-scoped
    * merge still rewrites only the files the batch's date range
    * touches — Iceberg hidden-partitioning / Delta liquid-clustering
    * shape, the one that survives 100 TB. */
  final case class JobSpec(
      name: String,
      schema: StructType,
      primaryKey: String,
      clusterCol: String,
      /** (fact FK column, dim table name, dim key column) — checked
        * against the freshly-written dim (order_items_etl.py:66-90). */
      foreignKeys: Seq[(String, String, String)] = Nil)

  /** The reference's three jobs, in dependency order (T4). */
  val referenceJobs: Seq[JobSpec] = Seq(
    JobSpec("products", Tables.products, "product_id", "department_id"),
    JobSpec("orders", Tables.orders, "order_id", "date"),
    JobSpec("order_items", Tables.orderItems, "id", "date",
      foreignKeys = Seq(
        ("order_id", "orders", "order_id"),
        ("product_id", "products", "product_id"))))

  final case class JobResult(
      name: String, read: Long, valid: Long, rejected: Long,
      orphaned: Long, loaded: Long)

  /** T5 — retry with exponential backoff (reference:
    * step_functions.json:14-23 — 3 attempts, 30s interval, ×2 backoff
    * per Glue job). The warehouse tables commit atomically
    * (SnapshotTable: one manifest rename per upsert), so a crashed
    * attempt leaves the previous snapshot fully visible and the retry
    * simply re-runs the idempotent merge — transient failures must
    * actually re-run, not fail the pipeline.
    *
    * Reject side-writes that happened before the failure re-append on
    * retry, exactly as a re-run Glue job re-appends its reject objects
    * in the reference. `sleep` is injectable for tests. */
  def retry[A](name: String, attempts: Int = 3, initialDelayMs: Long = 30000,
               sleep: Long => Unit = Thread.sleep)(body: => A): A = {
    var i = 1
    var delay = initialDelayMs
    var result: Option[A] = None
    while (result.isEmpty) {
      try result = Some(body)
      catch {
        case scala.util.control.NonFatal(e) =>
          if (i >= attempts) throw e
          println(s"[pipeline] $name attempt $i/$attempts failed " +
            s"(${e.getMessage}); retrying in ${delay}ms")
          sleep(delay)
          delay *= 2
          i += 1
      }
    }
    result.get
  }

  /** `phases` — wall seconds per pipeline phase (`"<job>.<phase>"` for
    * per-job validate/ri/upsert/side-outputs, plus run-level `archive` /
    * `vacuum` / `gates`), recorded for the bench artifact so cold-run variance can
    * be attributed to a phase instead of guessed at. Defaulted so
    * existing positional constructions keep compiling. */
  final case class Report(jobs: Seq[JobResult], gatesPassed: Boolean,
                          phases: Seq[(String, Double)] = Nil)

  /** Run the full pipeline: for each job, raw CSVs under
    * `$rawDir/<name>/` are validated, RI-checked, deduped and
    * merged into `$warehouseDir/<name>`; rejects append under
    * `$rejectedDir/<name>`; raws then move to `$archivedDir` (T3); and
    * the post-load COUNT(*)/LIMIT 10 gates run in parallel (A3/T7).
    *
    * `onTerminal` is the T8 notification hook (reference:
    * step_functions.json:249-269 publishes success/failure to SNS):
    * invoked EXACTLY ONCE per run, with `Success(report)` after the
    * gates resolve or `Failure(cause)` when a job exhausts its retries
    * — the driver-side seam where a deployment wires its SNS/pager
    * publish. A hook that itself throws does not mask the outcome. */
  def run(spark: SparkSession, rawDir: String, warehouseDir: String,
          rejectedDir: String, archivedDir: String,
          jobs: Seq[JobSpec] = referenceJobs,
          retryAttempts: Int = 3, retryDelayMs: Long = 30000,
          onTerminal: scala.util.Try[Report] => Unit = _ => ()): Report = {
    val outcome = scala.util.Try(runJobs(spark, rawDir, warehouseDir,
      rejectedDir, archivedDir, jobs, retryAttempts, retryDelayMs))
    try onTerminal(outcome)
    catch {
      case scala.util.control.NonFatal(e) =>
        println(s"[pipeline] onTerminal hook failed: ${e.getMessage}")
    }
    outcome.get
  }

  /** A pool for one run's concurrent work: daemon threads, created on
    * demand (a wave's job may await its own side outputs, so a bounded
    * pool could starve), shut down when the run ends. */
  private def runPool(): ExecutorService = {
    val n = new AtomicInteger
    Executors.newCachedThreadPool(new ThreadFactory {
      def newThread(r: Runnable): Thread = {
        val t = new Thread(r, s"graft-pipeline-${n.incrementAndGet()}")
        t.setDaemon(true)
        t
      }
    })
  }

  /** Run `body` on `pool` with a snapshot of the CALLING thread's Spark
    * local properties, restored afterwards
    * (`SQLExecution.withThreadLocalCaptured`). Every concurrent piece of
    * a run goes through here: a pooled thread otherwise keeps whatever
    * properties it inherited when it was created — a worker spawned
    * while another thread was inside a SQL execution files every later
    * execution it runs as that execution's sub-execution (a stale
    * `spark.sql.execution.root.id`), and a job group or description
    * set by the caller would not follow the work. */
  private def async[A](spark: SparkSession, pool: ExecutorService)
                      (body: => A): Future[A] = {
    val p = Promise[A]()
    SQLExecution.withThreadLocalCaptured(
      spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession], pool) {
      try p.success(body)
      catch { case t: Throwable => p.failure(t) }
    }
    p.future
  }

  private def runJobs(spark: SparkSession, rawDir: String, warehouseDir: String,
          rejectedDir: String, archivedDir: String,
          jobs: Seq[JobSpec],
          retryAttempts: Int, retryDelayMs: Long): Report = {
    val pool = runPool()
    def concurrently[A](body: => A): Future[A] = async(spark, pool)(body)
    // the manifest commit (parallel per-file metadata + one rename)
    // makes each job's upsert atomic, which the retry loop relies
    // on. CLUSTERED layout
    // over Hive partitioning (see JobSpec.clusterCol): the daily date
    // key stays prunable via manifest min/max stats without fanning
    // every batch out to thousands of near-empty partition dirs.
    val tables = jobs.map { j =>
      j.name -> SnapshotTable(spark, s"$warehouseDir/${j.name}", j.primaryKey,
        partitionCol = None, Some(Tables.asNullable(j.schema)),
        statsCols = Seq(j.clusterCol), clusterBy = Seq(j.clusterCol))
    }.toMap
    // one read per freshly-written table, shared by downstream RI checks
    // and the post-load gates. Only DIM tables (those some later job's
    // foreign keys probe) are PERSISTED: the RI path re-reads exactly
    // those, while a fact table is only touched again by its two light
    // gate queries — at 100 TB caching the fact table is pure memory
    // churn for nothing (the manifest-planned re-read is cheap).
    val dimNames = jobs.flatMap(_.foreignKeys.map(_._2)).toSet
    // TrieMap: concurrently-running jobs of one wave each publish their
    // own entry (distinct keys — a job owns its table)
    val written = scala.collection.concurrent.TrieMap.empty[String, DataFrame]
    // phase wall-times for the Report; jobs in one wave run concurrently,
    // so the sink must be thread-safe. Seq-of-pairs (not a map) keeps
    // arrival order for the artifact.
    val phaseLog = new java.util.concurrent.ConcurrentLinkedQueue[(String, Double)]
    // validate (§2.12) — one cached pass, rejects written once (K3).
    // ONE aggregate fills the validation cache and yields the read and
    // valid counts: the reject count then comes free (read − valid) and
    // writeRejected skips its emptiness probe.
    def validated(job: JobSpec): (ValidationResult, Long, Long) = {
      val vr = Validation.validate(
        Tables.readCsv(spark, job.schema, s"$rawDir/${job.name}/"),
        job.schema, job.primaryKey)
      try { val (read, valid) = vr.counts(); (vr, read, valid) }
      catch { case e: Throwable => vr.unpersist(); throw e }
    }
    // A job's validation reads only its own raw drop, so every job's
    // first pass starts at once — a later wave's beside the earlier
    // waves' merges, off the critical path. It writes nothing: rejects,
    // RI and the merge still wait for the job's own attempt, so the
    // dependency order (T4) holds for every side effect. Passes no
    // attempt claims (an earlier wave failed) are released below.
    val firstPass = jobs.map(j => j.name -> concurrently(validated(j))).toMap
    val claimed = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
    // released in the finally below — also when a job exhausts its
    // retries, so earlier jobs' caches don't outlive a failed pipeline
    try {

    def runOne(job: JobSpec): JobResult =
      retry(job.name, retryAttempts, retryDelayMs) {
      val t0 = System.nanoTime()
      var lastLap = t0
      // laps buffer per ATTEMPT and flush into phaseLog only on
      // success: a retried job would otherwise publish its failed
      // attempts' partial phases too — duplicate keys in the bench
      // artifact's phases map, double-counted cold cost
      val attemptLaps = scala.collection.mutable.Buffer.empty[(String, Double)]
      def lap(tag: String): Unit = {
        val now = System.nanoTime()
        attemptLaps += ((s"${job.name}.$tag", (now - lastLap) / 1e9))
        lastLap = now
        println(f"[pipeline] ${job.name} $tag ${(now - t0) / 1e9}%.1fs")
      }
      // the first attempt takes over the job's first validation pass; a
      // retry validates afresh
      val (vr, readCount, validCount) =
        if (claimed.add(job.name)) Await.result(firstPass(job.name), Duration.Inf)
        else validated(job)
      // unpersist on the FAILURE path too: a failed attempt otherwise
      // leaves its cached blocks behind and each retry stacks more
      val cachedKeys = scala.collection.mutable.Buffer
        .empty[org.apache.spark.sql.Dataset[_]]
      // reject/orphan writes, running beside the merge; every one is
      // settled before the attempt returns, retries, or unpersists the
      // caches they read
      val sideOutputs = scala.collection.mutable.Buffer.empty[Future[Unit]]
      def settleSideOutputs(): Option[Throwable] =
        sideOutputs.flatMap(f =>
          scala.util.Try(Await.result(f, Duration.Inf)).failed.toOption)
          .headOption
      try {
        sideOutputs += concurrently(
          Validation.writeRejected(vr.rejected, s"$rejectedDir/${job.name}",
            knownCount = Some(readCount - validCount)))
        lap("validate")

        // RI against the freshly-written dims (J1/J2) — semi/anti split;
        // the dim key set is persisted so the orphan count and the upsert
        // lineage don't each re-list + re-scan the partitioned dim table
        // ALL FK probes in ONE cached pass. Each dim's key set
        // left-joins with its own hit flag (null-unsafe: null/missing
        // FK rows get a null flag → orphans, exactly the anti-join
        // semantics, and FK i applies only to rows that passed FKs
        // < i, preserving the chained-split contract); every orphan
        // count comes from ONE aggregate over the materialization, and
        // the per-FK reject writes plus the final upsert read the same
        // cache. The previous per-FK semi/anti PAIR re-executed the
        // whole upstream chain in every consumer — the write job alone
        // re-ran every FK join plus the dedup. O(batch) rows cached,
        // released in the finally. AQE still picks broadcast-vs-
        // shuffle per dim size; a FORCED broadcast of orders' distinct
        // keys would be O(orders table) driver memory and cannot hold
        // at the 100 TB shape.
        import org.apache.spark.sql.functions.{col => c, lit, sum, when}
        var kept = vr.valid
        var orphaned = 0L
        if (job.foreignKeys.nonEmpty) {
          val cols = kept.columns.toIndexedSeq.map(c)
          var joined = kept
          val hits = job.foreignKeys.map { case (fk, dimName, dimKey) =>
            // distinct() only when the FK probes a NON-key dim column:
            // when dimKey IS the dim table's primary key (the reference
            // shape for both FKs) the merged table already holds one
            // row per key — dropping the redundant distinct removes a
            // full shuffle + two HashAggregates per FK from the RI path
            // (guide §2.4, "a distinct on data that is already unique");
            // uniqueness is load-bearing for the left_outer fan-out and
            // guaranteed by the PK merge, not assumed from the batch
            val dimRead = written.getOrElse(dimName, tables(dimName).read)
              .select(c(dimKey).as(fk))
            val keys =
              if (tables(dimName).primaryKey == dimKey) dimRead
              else dimRead.distinct()
            val hit = s"__graft_ri_hit_$fk"
            joined = joined.join(
              keys.withColumn(hit, lit(true)), Seq(fk), "left_outer")
            hit
          }
          val marked = joined.persist()
          cachedKeys += marked
          // one aggregate fills the cache AND yields every FK's orphan
          // count: orphan(i) = passed FKs < i, missed FK i
          def orphanCond(i: Int) =
            hits.take(i).map(c(_)).foldLeft(c(hits(i)).isNull)(
              (acc, prev) => acc && prev)
          val counts = marked.agg(
            sum(when(orphanCond(0), 1L).otherwise(0L)),
            hits.indices.drop(1).map(i =>
              sum(when(orphanCond(i), 1L).otherwise(0L))): _*).head()
          job.foreignKeys.zipWithIndex.foreach { case ((fk, _, _), i) =>
            val n = if (counts.isNullAt(i)) 0L else counts.getLong(i)
            if (n > 0)
              sideOutputs += concurrently(Validation.writeRejected(
                marked.filter(orphanCond(i)).select(cols: _*),
                s"$rejectedDir/${job.name}_ri_$fk", knownCount = Some(n)))
            orphaned += n
          }
          kept = marked.filter(hits.map(c(_)).reduce(_ && _))
            .select(cols: _*)
        }
        lap("ri")

        // dedup (A2) then MERGE upsert (K2)
        val deduped = Dedup.arbitrary(kept, Seq(job.primaryKey))
        tables(job.name).upsert(deduped)
        val fresh = tables(job.name).read
        lap("upsert")
        // a failed side output fails the attempt, like any of its writes
        settleSideOutputs().foreach(e => throw e)
        lap("side-outputs")
        written(job.name) =
          if (dimNames(job.name)) fresh.persist() else fresh
        attemptLaps.foreach(phaseLog.add) // the attempt SUCCEEDED
        JobResult(job.name, readCount, validCount,
          readCount - validCount, orphaned, loaded = -1L)
      } finally {
        settleSideOutputs()
        vr.unpersist()
        cachedKeys.foreach(_.unpersist())
      }
      }

    // Topological WAVES: a job waits only for the tables its foreign
    // keys probe; everything else in a wave runs CONCURRENTLY in the
    // one session (Spark's scheduler interleaves their stages over the
    // same executor pool — products ∥ orders here, then order_items).
    // Dependency ORDER (T4) is exactly preserved: no job starts before
    // every table it reads has committed, and a wave failure (after
    // per-job retries) aborts before any dependent starts. At 100 TB
    // the pipeline's wall time is its critical path, not the sum of
    // its jobs — sequential execution left the cluster idle for every
    // independent load.
    val jobNames = jobs.map(_.name).toSet
    val done = scala.collection.mutable.Set.empty[String]
    val resultsByName = scala.collection.mutable.Map.empty[String, JobResult]
    var remaining = jobs
    while (remaining.nonEmpty) {
      val (ready, blocked) = remaining.partition(
        _.foreignKeys.forall { case (_, dim, _) =>
          done(dim) || !jobNames(dim) })
      require(ready.nonEmpty, "dependency cycle among pipeline jobs: " +
        remaining.map(_.name).mkString(", "))
      // SETTLE every job in the wave before acting on any failure:
      // Future.sequence fails fast, which would run the finally's
      // cache cleanup (and the terminal hook) while sibling jobs are
      // still mid-flight — a sibling's later `written(...) = persist()`
      // would then leak its cache for the session lifetime, and work
      // would keep committing after the pipeline reported failure.
      // Waiting for the stragglers costs nothing on success and makes
      // failure cleanup deterministic.
      val wave = ready.map(j =>
        concurrently(scala.util.Try(j.name -> runOne(j))))
        .map(Await.result(_, Duration.Inf))
      wave.collectFirst { case scala.util.Failure(e) => throw e }
      wave.foreach {
        case scala.util.Success((n, r)) => resultsByName(n) = r; done += n
        case _ => ()
      }
      remaining = blocked
    }
    val results = jobs.map(j => resultsByName(j.name))

    def timed[A](tag: String)(body: => A): A = {
      val t0 = System.nanoTime()
      val r = body
      phaseLog.add((tag, (System.nanoTime() - t0) / 1e9))
      r
    }
    timed("archive")(archive(spark, rawDir, archivedDir))

    // post-load validation gates, fanned out concurrently (A3/T7); the
    // COUNT(*) gate doubles as the per-table loaded count. r18: the
    // count is answered from MANIFEST METADATA — Σ(file:rows) −
    // Σ(DV cardinality) over the just-committed snapshot, the same
    // exact contract [[graft.sources.MetadataOnlyCount]] gives SQL
    // COUNT(*) — so the three gates cost O(manifest) driver work, not
    // three full table scans (at 100 TB a post-load COUNT(*) scan per
    // table would dwarf the loads themselves). A manifest predating
    // row-count recording falls back to the scan.
    jobs.foreach(j =>
      written.getOrElse(j.name, tables(j.name).read)
        .createOrReplaceTempView(j.name))
    val gates = jobs.map { j =>
      concurrently {
        val n = SnapshotTable.metadataRowCount(tables(j.name).candidateFiles())
          .getOrElse(spark.sql(s"SELECT COUNT(*) AS cnt FROM ${j.name}")
            .head().getLong(0))
        // the LIMIT 10 probe is logically implied by n > 0, but it is
        // the reference's OWN second validation query
        // (step_functions.json:193) — kept for behavioral parity; its
        // cost is one 10-row scan
        val sample = spark.sql(s"SELECT * FROM ${j.name} LIMIT 10").count()
        (n, n > 0 && sample > 0)
      }
    }
    val gateResults =
      timed("gates")(gates.map(Await.result(_, Duration.Inf)))
    val withLoaded = results.zip(gateResults).map { case (r, (n, _)) =>
      r.copy(loaded = n)
    }
    // bound version history: each run commits a full rewrite per table,
    // so without reclamation the warehouse grows by O(table files) per
    // run and every later merge pays for the garbage. Two versions stay
    // time-travelable; retention 0 is safe here because each table has
    // exactly one writer (the job that owns it, reference semantics —
    // a shared-table deployment would keep the default retention).
    if (gateResults.forall(_._2))
      timed("vacuum")(
        tables.values.foreach(_.vacuum(keepVersions = 2, retentionMs = 0)))
    Report(withLoaded, gateResults.forall(_._2),
      phases = phaseLog.toArray(Array.empty[(String, Double)]).toSeq)

    } finally {
      firstPass.foreach { case (n, f) =>
        if (claimed.add(n))
          scala.util.Try(Await.result(f, Duration.Inf)).foreach(_._1.unpersist())
      }
      written.values.foreach(_.unpersist())
      pool.shutdown()
    }
  }

  /** T3 — archive-after-success: move everything under raw/ to archived/
    * (reference: lambda_function.py:11-52; its delete is commented out,
    * making "move" a copy — we do the real move the code intends).
    *
    * Directory collisions MERGE: run 2's `raw/products` must land its
    * files inside the `archived/products` run 1 created — a bare
    * dir-level rename either nests (HDFS) or returns false (local FS),
    * and an UNCHECKED false silently leaves raws behind to be
    * re-ingested next run. File-name collisions get a unique prefix;
    * every rename result is checked. */
  def archive(spark: SparkSession, rawDir: String, archivedDir: String): Unit = {
    val conf = spark.sparkContext.hadoopConfiguration
    val src = new Path(rawDir)
    val fs = src.getFileSystem(conf)
    if (!fs.exists(src)) return
    def moveInto(from: Path, destDir: Path): Unit = {
      if (!fs.exists(destDir)) fs.mkdirs(destDir)
      fs.listStatus(from).foreach { st =>
        if (st.isDirectory) moveInto(st.getPath, new Path(destDir, st.getPath.getName))
        else {
          val plain = new Path(destDir, st.getPath.getName)
          val dest =
            if (!fs.exists(plain)) plain
            else new Path(destDir,
              s"${System.currentTimeMillis()}-${st.getPath.getName}")
          if (!fs.rename(st.getPath, dest))
            throw new IllegalStateException(
              s"archive failed: ${st.getPath} -> $dest")
        }
      }
      // the delete must be as loud as the renames: a false return (a
      // leftover the walk didn't move — e.g. a dot-file the next run
      // would half-re-process) is exactly the silent-partial-archive
      // class this rewrite exists to kill
      if (!fs.delete(from, false) && fs.exists(from))
        throw new IllegalStateException(
          s"archive failed: source dir $from not empty after moving " +
            s"its files (leftover: ${fs.listStatus(from).take(3)
              .map(_.getPath.getName).mkString(", ")})")
    }
    moveInto(src, new Path(archivedDir))
    fs.mkdirs(src) // keep the landing root for the next arrival
  }
}
