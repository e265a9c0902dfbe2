package graft.sources

import java.nio.file.Files

import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{
  AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.datasources.FilePartition
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.functions._
import graft.SparkSpec
import graft.plans.SnapshotTable

/** Merge-on-read deletion vectors applied INSIDE the DSv2 scan
  * ([[GraftDvReaderFactory]]): `format("graft")`, the SQL catalog and
  * SQL DML all serve a DV'd snapshot directly — deleted rows hidden,
  * no purge/compact step — while the position filter's structural
  * invariants (every vectored file planned whole, packed into shared
  * partitions with other files, no pushed filters on the vectored
  * side, no footer-only aggregate pushdown) hold in the planned
  * physical scan, not just in the results. */
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

  /** Every BatchScanExec over a graft table in an (executed, possibly
    * adaptive) plan. */
  private def graftScans(df: DataFrame): Seq[BatchScanExec] = {
    def walk(p: SparkPlan): Seq[BatchScanExec] = (p match {
      case a: AdaptiveSparkPlanExec => walk(a.executedPlan)
      case q: QueryStageExec => walk(q.plan)
      case b: BatchScanExec if b.toString.contains("graft") => Seq(b)
      case _ => Nil
    }) ++ p.children.flatMap(walk)
    walk(df.queryExecution.executedPlan)
  }

  /** Asserts every vectored file of `t` among `parts` is planned once
    * and whole; returns, per partition, how many vectored files it holds. */
  private def vectoredPerPartition(t: SnapshotTable,
                                   parts: Seq[FilePartition]): Seq[Int] = {
    val vectored = t.candidateFiles().filter(_.hasDeletes)
      .map(e => SnapshotTable.basename(e.path)).toSet
    val files = parts.flatMap(_.files)
    val hits = files.filter(f => vectored(f.toPath.getName))
    assert(hits.map(_.toPath.getName).distinct.size == hits.size,
      "a vectored file was planned in more than one piece")
    hits.foreach(f => assert(f.start == 0 && f.length == f.fileSize,
      s"vectored ${f.toPath.getName} read as a split — positions would renumber"))
    parts.map(_.files.count(f => vectored(f.toPath.getName)))
  }

  test("vectored files plan whole, pack together, and read exact under a pushed filter") {
    val path = tmp("dvpack")
    val t = SnapshotTable(spark, path, "id", partitionCol = Some("part"),
      clusterBy = Seq("id"), clusterFiles = 1)
    val confs = Seq(
      // several row groups per file: a pushed range filter reaching the
      // vectored side would skip groups and renumber the rows after them
      "parquet.block.size" -> "16384",
      // splits small enough that the big file WOULD split if allowed,
      // open cost small enough that the small files share a partition
      "spark.sql.files.maxPartitionBytes" -> "131072",
      "spark.sql.files.openCostInBytes" -> "1024")
    val prev = confs.map { case (k, _) => k -> spark.conf.getOption(k) }
    confs.foreach { case (k, v) => spark.conf.set(k, v) }
    try {
      // one big partition of sorted ids plus five small ones, every
      // file vectored by a scattered delete
      t.create(spark.range(0, 40000).select($"id", ($"id" * 3).as("v"),
        when($"id" < 30000, lit("big"))
          .otherwise(concat(lit("s"), ($"id" / 2000).cast("int"))).as("part")))
      t.deleteMoR(col("id") % 10 === 2)
      assert(t.candidateFiles().forall(_.hasDeletes), "a file carries no vector")

      val df = spark.read.format("graft").load(path)
        .filter($"id" >= 5000 && $"id" < 35000)
      val got = df.select("id").collect().map(_.getLong(0)).sorted.toSeq
      assert(got == (5000L until 35000L).filterNot(_ % 10 == 2))

      val scan = graftScans(df).headOption
        .getOrElse(fail("no graft BatchScanExec in the plan"))
      assert(!scan.supportsColumnar, "vectored snapshot must read row-based")
      assert(scan.scan.asInstanceOf[GraftScan].pushedFilters.nonEmpty,
        "the range filter was not pushed, so the spec proves nothing")
      val parts = scan.inputPartitions.map(_.asInstanceOf[FilePartition])
      val big = parts.flatMap(_.files).find(_.toPath.getParent.getName == "part=big")
        .getOrElse(fail("the big partition's file was not planned"))
      val footer = ParquetFileReader.open(HadoopInputFile.fromPath(
        big.toPath, spark.sparkContext.hadoopConfiguration))
      try assert(footer.getRowGroups.size > 1, "the big file has one row group")
      finally footer.close()
      assert(big.fileSize > 131072, "the big file is too small to split")
      assert(vectoredPerPartition(t, parts).max >= 2,
        s"no partition packs two vectored files: ${parts.map(_.files.length)}")
    } finally prev.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  test("a runtime filter narrows a vectored fact scan; re-planned files stay whole") {
    val root = Files.createTempDirectory("graft_dvdpp").toString
    val fact = SnapshotTable(spark, s"$root/fact", "id",
      partitionCol = Some("d"))
    fact.create(spark.range(1000).select($"id",
      ($"id" % 20).cast("string").as("d"), ($"id" * 2).as("x")))
    fact.deleteMoR(col("id") % 7 === 3)
    assert(fact.candidateFiles().count(_.hasDeletes) >= 10)
    spark.range(3).select($"id".cast("string").as("d"), lit("yes").as("flag"))
      .write.parquet(s"$root/dim")
    val dim = spark.read.parquet(s"$root/dim").filter($"flag" === "yes")

    val j = spark.read.format("graft").load(s"$root/fact")
      .join(dim, Seq("d")).select("id", "d", "x")
    val rows = j.collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
      .sortBy(_._1).toSeq
    assert(j.queryExecution.executedPlan.toString
      .contains("dynamicpruningexpression"),
      s"no runtime filter reached the graft scan:\n${j.queryExecution.executedPlan}")
    // the API read through the same vectors agrees, and no hidden row shows
    val api = fact.read.join(dim, Seq("d")).select("id", "d", "x").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2))).sortBy(_._1).toSeq
    assert(rows == api)
    assert(rows.map(_._1) == (0L until 1000L).filter(i =>
      i % 20 < 3 && i % 7 != 3))

    // the scan's listing is now narrowed to the 3 joined partitions; a
    // re-plan packs exactly their files, every vectored one whole
    val scan = graftScans(j).headOption.getOrElse(fail("no graft scan"))
    val parts = scan.batch.planInputPartitions()
      .map(_.asInstanceOf[FilePartition]).toSeq
    val dirs = parts.flatMap(_.files).map(_.toPath.getParent.getName).toSet
    assert(dirs == Set("d=0", "d=1", "d=2"), s"runtime narrowing missed: $dirs")
    assert(vectoredPerPartition(fact, parts).sum ==
      fact.candidateFiles().count(e => e.hasDeletes &&
        Set("d=0", "d=1", "d=2").exists(d => e.path.startsWith(d + "/"))))
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
