package graft.sources

import java.nio.file.Files

import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.functions._
import graft.SparkSpec
import graft.plans.SnapshotTable

/** Merge-on-read deletion vectors applied INSIDE the DSv2 scan
  * ([[GraftDvReaderFactory]]): `format("graft")`, the SQL catalog and
  * SQL DML all serve a DV'd snapshot directly — deleted rows hidden,
  * no purge/compact step — while the position-filter's structural
  * invariants (whole-file unsplit partitions, no pushed filters on
  * the DV side, no footer-only aggregate pushdown) hold in the
  * planned physical scan, not just in the results. */
class GraftDvScanSpec extends SparkSpec {

  import spark.implicits._

  private def tmp(tag: String): String =
    Files.createTempDirectory(s"graft_$tag").toString + "/table"

  /** A partitioned two-file-per-partition table with a scattered MoR
    * delete: ids ≡ 2 (mod 10) hidden by vectors, zero files rewritten. */
  private def dvTable(tag: String): (String, SnapshotTable) = {
    val path = tmp(tag)
    val t = SnapshotTable(spark, path, "id", Some("part"))
    t.create(spark.range(0, 200).select(
      $"id", ($"id" * 3).as("v"),
      when($"id" % 2 === 0, "even").otherwise("odd").as("part")))
    t.deleteMoR(col("id") % 10 === 2) // 20 rows, one partition's files
    (path, t)
  }

  test("format(graft) read hides DV'd rows: rows, count(*), and a filter") {
    val (path, t) = dvTable("dvread")
    val df = spark.read.format("graft").load(path)
    assert(df.count() == 180) // zero-column scan counts survivors
    assert(df.filter($"id" % 10 === 2).count() == 0)
    // a pushed range filter spanning deleted and kept rows stays exact
    val got = df.filter($"id" >= 10 && $"id" < 30)
      .select("id").collect().map(_.getLong(0)).sorted.toSeq
    assert(got == (10L until 30L).filterNot(_ % 10 == 2))
    // and equals the API read bit-for-bit
    assert(df.orderBy("id").collect().toSeq ==
      t.read.select("id", "v", "part").orderBy("id").collect().toSeq)
  }

  test("DV'd files plan as single whole-file row-based partitions") {
    val (path, _) = dvTable("dvplan")
    val df = spark.read.format("graft").load(path)
      .filter($"v" > 100) // pushed filter must not reach the DV side
    val scan = df.queryExecution.executedPlan.collectFirst {
      case b: BatchScanExec => b
    }.getOrElse(fail("no BatchScanExec in the plan"))
    assert(!scan.supportsColumnar, "DV'd snapshot must read row-based")
    val parts = scan.inputPartitions
    val dvParts = parts.collect { case p: GraftDvInputPartition => p }
    assert(dvParts.nonEmpty, "no DV partitions planned")
    dvParts.foreach { p =>
      assert(p.fp.files.length == 1, "DV partition spans multiple files")
      val f = p.fp.files.head
      assert(f.start == 0 && f.length == f.fileSize,
        "DV file read as a split, not whole — positions would renumber")
    }
  }

  test("versionAsOf: pre-delete version shows all rows, head hides them") {
    val (path, _) = dvTable("dvtravel")
    assert(spark.read.format("graft").option("versionAsOf", 1)
      .load(path).count() == 200)
    assert(spark.read.format("graft").load(path).count() == 180)
  }

  test("partition pruning composes with DVs (skip files, then hide rows)") {
    val (path, _) = dvTable("dvprune")
    val df = spark.read.format("graft").load(path)
    // the DV'd partition, pruned to it alone: survivors only
    assert(df.filter($"part" === "even").count() == 80)
    // the clean partition is untouched — and with every DV'd file
    // pruned away the scan keeps the full VECTORIZED path
    val cleanOnly = df.filter($"part" === "odd").select("id", "v")
    val scan = cleanOnly.queryExecution.executedPlan.collectFirst {
      case b: BatchScanExec => b
    }.getOrElse(fail("no BatchScanExec"))
    assert(scan.supportsColumnar,
      "pruning removed every DV'd file but the scan stayed row-based")
    assert(cleanOnly.count() == 100)
  }

  test("SQL catalog SELECT and DML work on a DV'd snapshot") {
    val (path, t) = dvTable("dvsql")
    val name = "graft_dv_sql"
    spark.sql(s"CREATE TABLE $name USING graft " +
      s"OPTIONS (primaryKey 'id') LOCATION '$path'")
    try {
      assert(spark.sql(s"SELECT count(*) FROM $name").head().getLong(0)
        == 180)
      // copy-on-write DELETE over a DV'd snapshot: must NOT resurrect
      // the vector-hidden rows into the rewritten files
      spark.sql(s"DELETE FROM $name WHERE id % 10 = 3")
      spark.sql(s"REFRESH TABLE $name")
      val ids = spark.sql(s"SELECT id FROM $name").collect()
        .map(_.getLong(0)).sorted.toSeq
      assert(ids == (0L until 200L).filterNot(i =>
        i % 10 == 2 || i % 10 == 3))
      // the rewrite purged the touched files' vectors lazily
      assert(t.read.count() == 160)
      // UPDATE on the (still partially DV'd?) table stays exact
      spark.sql(s"UPDATE $name SET v = -1 WHERE id = 7")
      spark.sql(s"REFRESH TABLE $name")
      assert(spark.sql(s"SELECT v FROM $name WHERE id = 7")
        .head().getLong(0) == -1)
      assert(spark.sql(s"SELECT count(*) FROM $name").head().getLong(0)
        == 160)
    } finally spark.sql(s"DROP TABLE IF EXISTS $name")
  }

  test("footer-only aggregate pushdown is refused for a DV'd snapshot") {
    val (path, _) = dvTable("dvagg")
    val key = "spark.sql.parquet.aggregatePushdown"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key, "true")
    try {
      // with pushdown the footer would count the 20 hidden rows
      assert(spark.read.format("graft").load(path).count() == 180)
    } finally prev.fold(spark.conf.unset(key))(spark.conf.set(key, _))
  }

  test("streaming a DV'd snapshot reads through its vectors (file-replay source)") {
    val (path, _) = dvTable("dvstream")
    val q = spark.readStream.format("graft").load(path)
      .writeStream.format("memory").queryName("graft_dv_stream")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .option("checkpointLocation",
        Files.createTempDirectory("graft_dvck").toString)
      .start()
    q.awaitTermination(60000)
    q.exception.foreach(e => throw e)
    // the initial snapshot applies the vectors: no hidden row streams
    val got = spark.table("graft_dv_stream")
    assert(got.count() == 180)
    assert(got.filter($"id" % 10 === 2).count() == 0)
  }
}
