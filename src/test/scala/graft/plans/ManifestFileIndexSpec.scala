package graft.plans

import java.nio.file.Files

import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.SparkSpec

/** The manifest-backed scan plan: reads of a declared-schema snapshot
  * table plan off manifest metadata alone, stay partition-prunable,
  * and agree bit-for-bit with the listing-based read path. */
class ManifestFileIndexSpec extends SparkSpec {

  import spark.implicits._

  private def tmp(tag: String): String =
    Files.createTempDirectory(s"graft_$tag").toString + "/table"

  private val schema = StructType(Seq(
    StructField("id", IntegerType), StructField("val", StringType),
    StructField("part", StringType)))

  private def frame(rows: (Int, String, String)*) =
    rows.toDF("id", "val", "part")

  private def scanOf(df: org.apache.spark.sql.DataFrame): FileSourceScanExec = {
    val plan = df.queryExecution.executedPlan
    val scans = plan.collect { case s: FileSourceScanExec => s } ++
      plan.collect { case a: AdaptiveSparkPlanExec =>
        a.executedPlan.collect { case s: FileSourceScanExec => s }
      }.flatten
    assert(scans.nonEmpty, s"no file scan in:\n$plan")
    scans.head
  }

  /** Strip the `file:meta` stats (recorded lengths) from every commit
    * record of the table at `path` — manifests and deltas' `add` lines —
    * simulating a table written before lengths were recorded. */
  private def stripLengths(path: String): Unit = {
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    def strip(fields: Seq[String]): Seq[String] = fields match {
      case "add" +: rest => "add" +: strip(rest)
      case head +: rest =>
        head +: rest.grouped(3).filterNot(_.headOption.contains("file:meta"))
          .flatten.toSeq
      case other => other
    }
    fs.listStatus(new org.apache.hadoop.fs.Path(s"$path/_commits"))
      .map(_.getPath).filter(p => p.getName.endsWith(".manifest") ||
        p.getName.endsWith(".delta"))
      .foreach { mf =>
        val txt = new String(
          org.apache.commons.io.IOUtils.toByteArray(fs.open(mf)), "UTF-8")
        val stripped = txt.linesIterator
          .map(line => strip(line.split("\t", -1).toSeq).mkString("\t"))
          .mkString("\n") + "\n"
        fs.delete(mf, false)
        val out = fs.create(mf, true)
        out.write(stripped.getBytes("UTF-8")); out.close()
      }
  }

  test("declared-schema read plans through ManifestFileIndex; parity with legacy") {
    val path = tmp("mfi")
    val t = SnapshotTable(spark, path, "id", Some("part"),
      declaredSchema = Some(schema))
    t.create(frame((1, "a", "p1"), (2, "b", "p2"), (3, "c", "p2")))
    t.upsert(frame((2, "B2", "p2"), (4, "d", "p3")))

    val fast = t.read
    assert(scanOf(fast).relation.location.isInstanceOf[ManifestFileIndex],
      "declared-schema read did not use the manifest index")
    // same table through the legacy listing path (no declared schema,
    // schema inferred) must agree on content
    val legacy = SnapshotTable(spark, path, "id", Some("part")).read
      .select("id", "val", "part")
    assert(fast.orderBy("id").collect().toSeq ==
      legacy.withColumn("id", col("id").cast(IntegerType))
        .orderBy("id").collect().toSeq)
    // declared column order is preserved
    assert(fast.columns.toSeq == Seq("id", "val", "part"))
  }

  test("partition filters prune at planning time from manifest metadata") {
    val path = tmp("mfiprune")
    val t = SnapshotTable(spark, path, "id", Some("part"),
      declaredSchema = Some(schema))
    t.create(frame((1, "a", "p1"), (2, "b", "p2"), (3, "c", "p3")))
    val pruned = t.read.filter(col("part") === "p2")
    val scan = scanOf(pruned)
    assert(scan.relation.location.isInstanceOf[ManifestFileIndex])
    // exactly one partition's file is selected — pruning happened on
    // manifest metadata, before any data I/O
    assert(scan.inputRDDs().head.partitions.nonEmpty)
    val selected = scan.relation.location
      .listFiles(scan.partitionFilters, scan.dataFilters)
    assert(selected.size == 1, s"expected 1 partition, got ${selected.size}")
    assert(pruned.select("id").as[Int].collect().toSeq == Seq(2))
  }

  test("pre-meta manifests (no recorded lengths) fall back to the listing path") {
    val path = tmp("mfiold")
    val t = SnapshotTable(spark, path, "id", Some("part"),
      declaredSchema = Some(schema))
    t.create(frame((1, "a", "p1"), (2, "b", "p2")))
    stripLengths(path)

    // a FRESH handle: the writing handle serves its own committed state
    // from cache (by design); a legacy table is met by a new reader
    val df = SnapshotTable(spark, path, "id", Some("part"),
      declaredSchema = Some(schema)).read
    assert(!scanOf(df).relation.location.isInstanceOf[ManifestFileIndex],
      "read without recorded lengths must not trust the manifest index")
    assert(df.orderBy("id").select("val").as[String].collect().toSeq ==
      Seq("a", "b"))
  }

  test("a vectored snapshot read through the listing path equals the manifest-index read") {
    val path = tmp("mfidv")
    val t = SnapshotTable(spark, path, "id", Some("part"),
      declaredSchema = Some(schema))
    t.create(frame((1 to 40).map(i =>
      (i, s"v$i", if (i % 2 == 0) "p1" else "p2")): _*))
    t.deleteMoR(col("id") % 5 === 0)
    val indexed = t.read
    assert(scanOf(indexed).relation.location.isInstanceOf[ManifestFileIndex])
    stripLengths(path)
    // a FRESH handle meets the stripped log and must take the listing path
    val listed = SnapshotTable(spark, path, "id", Some("part"),
      declaredSchema = Some(schema)).read
    val scan = scanOf(listed)
    assert(!scan.relation.location.isInstanceOf[ManifestFileIndex],
      "read without recorded lengths must not trust the manifest index")
    assert(scan.relation.fileFormat.isInstanceOf[DvParquetFileFormat],
      "the listed read does not apply vectors inside the reader")
    assert(listed.orderBy("id").collect().toSeq ==
      indexed.orderBy("id").collect().toSeq)
    assert(listed.count() == 32)
  }

  test("plain read.filter skips files automatically from manifest stats") {
    val path = tmp("mfiskip")
    val s2 = StructType(Seq(
      StructField("id", IntegerType), StructField("val", StringType)))
    val t = SnapshotTable(spark, path, "id",
      declaredSchema = Some(s2), statsCols = Seq("id"),
      clusterBy = Seq("id"), clusterFiles = 4)
    t.create((1 to 100).map(i => (i, s"v$i")).toDF("id", "val"))
    def selectedFiles(df: org.apache.spark.sql.DataFrame): Int = {
      val scan = scanOf(df)
      scan.relation.location
        .listFiles(scan.partitionFilters, scan.dataFilters)
        .map(_.files.size).sum
    }
    assert(selectedFiles(t.read) == 4)
    // a selective range opens only the overlapping file(s) — no
    // readWhere needed, the data filters prune at planning time
    val sel = t.read.filter(col("id") <= 10)
    assert(selectedFiles(sel) < 4, "stats pruned nothing")
    assert(sel.count() == 10)
    // equality probe
    val eq = t.read.filter(col("id") === 55)
    assert(selectedFiles(eq) == 1)
    assert(eq.select("val").as[String].head() == "v55")
    // provably-disjoint predicate: zero files, still a correct empty scan
    val none = t.read.filter(col("id") > 1000)
    assert(selectedFiles(none) == 0)
    assert(none.count() == 0)
    // a filter on a statless column prunes nothing and stays correct
    val statless = t.read.filter(col("val") === "v7")
    assert(selectedFiles(statless) == 4)
    assert(statless.count() == 1)
  }

  test("schema-less tables plan off the manifest: the commit logs the schema") {
    val path = tmp("mfilog")
    val t = SnapshotTable(spark, path, "id", Some("part"))
    t.create(frame((1, "a", "p1"), (2, "b", "p2")))
    val df = t.read
    assert(scanOf(df).relation.location.isInstanceOf[ManifestFileIndex],
      "schema-less read did not plan from the logged schema")
    // types come from the log, not partition-dir inference
    assert(df.schema("id").dataType == IntegerType)
    assert(df.schema("part").dataType == StringType)
    assert(df.count() == 2)
  }

  test("schema evolution: per-version logged schema null-fills old files") {
    val path = tmp("mfievo")
    val t = SnapshotTable(spark, path, "id", Some("part"))
    t.create(frame((1, "a", "p1"), (2, "b", "p2")))
    t.upsert(Seq((3, "c", "p2", 7)).toDF("id", "val", "part", "extra"),
      evolveSchema = true)
    val df = t.read
    // the evolved read still plans off the manifest (v2's schema has
    // the new column; parquet resolves by name, old files read null)
    assert(scanOf(df).relation.location.isInstanceOf[ManifestFileIndex])
    val rows = df.orderBy("id").select("id", "extra").collect()
      .map(r => (r.getInt(0), if (r.isNullAt(1)) None else Some(r.getInt(1))))
    assert(rows.toSeq == Seq((1, None), (2, None), (3, Some(7))))
    // time travel to v1 sees the PRE-evolution schema
    assert(!t.readVersion(1).columns.contains("extra"))
  }

  test("unpartitioned declared-schema table also plans off the manifest") {
    val path = tmp("mfiflat")
    val s2 = StructType(schema.fields.filterNot(_.name == "part"))
    val t = SnapshotTable(spark, path, "id",
      declaredSchema = Some(s2))
    t.create(frame((1, "a", "px"), (2, "b", "px")).drop("part"))
    val df = t.read
    assert(scanOf(df).relation.location.isInstanceOf[ManifestFileIndex])
    assert(df.count() == 2)
  }

  test("runtime key sets skip files by stats range and by bloom") {
    val path = tmp("mfirt")
    // two files with DISJOINT id ranges (clustered), blooms on val
    val t = SnapshotTable(spark, path, "id",
      statsCols = Seq("id"), clusterBy = Seq("id"), clusterFiles = 2,
      bloomCols = Seq("val"), bloomExpectedItems = 100)
    t.create((1 to 100).map(i => (i, s"v$i", "px")).toDF("id", "val", "part")
      .drop("part"))
    val (entries, sch, _) = t.scanInfo(None)
    def freshIndex() =
      new ManifestFileIndex(spark, t.dataDirPath, entries, StructType(Nil))
    assert(entries.size == 2)

    // a key set inside one file's id range lists only that file
    val byRange = freshIndex()
    byRange.narrowDataForRuntime("id", Seq(5L.toInt))
    assert(byRange.listFiles(Nil, Nil).head.files.length == 1)

    // a val probe not in any file's bloom lists nothing; a present
    // value keeps exactly the file(s) whose bloom may contain it
    val byBloom = freshIndex()
    byBloom.narrowDataForRuntime("val",
      Seq(org.apache.spark.unsafe.types.UTF8String.fromString("nope")))
    assert(byBloom.listFiles(Nil, Nil).head.files.isEmpty)
    val byBloomHit = freshIndex()
    byBloomHit.narrowDataForRuntime("val",
      Seq(org.apache.spark.unsafe.types.UTF8String.fromString("v7")))
    val hits = byBloomHit.listFiles(Nil, Nil).head.files.length
    assert(hits >= 1 && hits <= 2)

    // an unknown column or unsupported value type never prunes
    val byUnknown = freshIndex()
    byUnknown.narrowDataForRuntime("ghost", Seq(1))
    byUnknown.narrowDataForRuntime("id", Seq(new java.math.BigDecimal(5)))
    assert(byUnknown.listFiles(Nil, Nil).head.files.length == 2)
  }
}
