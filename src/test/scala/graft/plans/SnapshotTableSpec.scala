package graft.plans

import java.nio.file.Files

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.functions._
import graft.SparkSpec

/** Atomic-commit semantics of the manifest/pointer-file table: commits
  * are all-or-nothing across partitions, uncommitted files are
  * invisible, old versions stay readable, vacuum reclaims only
  * unreferenced files. */
class SnapshotTableSpec extends SparkSpec {

  import spark.implicits._

  private def tmp(tag: String): String =
    Files.createTempDirectory(s"graft_$tag").toString + "/table"

  private def frame(rows: (Int, String, String)*) =
    rows.toDF("id", "val", "part")

  private def contents(t: SnapshotTable): Seq[(Int, String)] =
    t.read.orderBy("id").collect()
      .map(r => (r.getAs[Int]("id"), r.getAs[String]("val"))).toSeq

  test("create/read round-trip; upsert merges; re-run is idempotent") {
    val t = SnapshotTable(spark, tmp("snap"), "id", Some("part"))
    t.create(frame((1, "a", "p1"), (2, "b", "p2"), (3, "c", "p2")))
    val batch = frame((2, "B2", "p2"), (4, "d", "p3"))
    t.upsert(batch)
    assert(contents(t) == Seq(1 -> "a", 2 -> "B2", 3 -> "c", 4 -> "d"))
    t.upsert(batch)
    assert(contents(t) == Seq(1 -> "a", 2 -> "B2", 3 -> "c", 4 -> "d"))
    assert(t.currentVersion.contains(3L))
  }

  test("readPartitions plans ONLY the named partitions' files (manifest-decided)") {
    val t = SnapshotTable(spark, tmp("readparts"), "id", Some("part"))
    t.create(frame((1, "a", "p1"), (2, "b", "p2"), (3, "c", "p3")))
    val df = t.readPartitions(Seq("p1", "p3"))
    assert(df.inputFiles.nonEmpty)
    assert(df.inputFiles.forall(f =>
      f.contains("part=p1") || f.contains("part=p3")),
      s"plan lists unnamed partitions' files: ${df.inputFiles.mkString(", ")}")
    assert(df.orderBy("id").collect().map(_.getInt(0)).toSeq == Seq(1, 3))
    // an empty selection still returns a typed empty frame
    assert(t.readPartitions(Seq("nope")).count() == 0)
    // null selects the default partition
    t.upsert(Seq((4, "d", null: String)).toDF("id", "val", "part"))
    assert(t.readPartitions(Seq(null)).collect().map(_.getInt(0)).toSeq
      == Seq(4))
  }

  test("multi-column partitioning: nested dirs, composite-scoped upsert, two-level pruned reads") {
    val t = SnapshotTable(spark, tmp("multipart"), "id",
      partitionCols = Seq("status", "month"))
    t.create(Seq(
      (1, "a", "F", 1), (2, "b", "F", 2), (3, "c", "O", 1), (4, "d", "O", 2))
      .toDF("id", "val", "status", "month"))
    // layout: two-level Hive dirs
    assert(t.candidateFiles().forall(e =>
      e.path.matches("status=[FO]/month=[12]/.*")),
      s"unexpected layout: ${t.candidateFiles().map(_.path)}")
    // upsert touching ONE (status, month) composite: the other three
    // composites' files carry over by reference
    val before = t.candidateFiles().map(_.path).toSet
    t.upsert(Seq((1, "A1", "F", 1), (9, "z", "F", 1))
      .toDF("id", "val", "status", "month"))
    val after = t.candidateFiles().map(_.path).toSet
    assert((before intersect after) ==
      before.filterNot(_.startsWith("status=F/month=1/")),
      s"composite scoping broke.\nbefore=$before\nafter=$after")
    assert(t.read.count() == 5)
    // partition values survive the read and both levels filter
    val got = t.read.filter(col("status") === "F" && col("month") === 1)
      .orderBy("id").collect().map(r => (r.getInt(0), r.getString(1))).toSeq
    assert(got == Seq(1 -> "A1", 9 -> "z"))
    // registered-source read: both levels prune AT PLANNING TIME
    val path = t.path
    val df = spark.read.format("graft").load(path)
      .filter(col("status") === "O" && col("month") === 2)
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters"), s"no partition filters:\n$plan")
    assert(df.collect().map(_.getInt(0)).toSeq == Seq(4))
    // DELETE prunes by both partition levels too
    t.delete(col("status") === "O" && col("month") === 1)
    assert(t.read.count() == 4)
    assert(t.candidateFiles().map(_.path).toSet ==
      after.filterNot(_.startsWith("status=O/month=1/")))
  }

  test("untouched partitions carry over BY REFERENCE: same physical files") {
    val path = tmp("snapref")
    val t = SnapshotTable(spark, path, "id", Some("part"))
    t.create(frame((1, "a", "p1"), (2, "b", "p2")))
    def filesOf(part: String) = new java.io.File(s"$path/data/part=$part")
      .listFiles().filter(_.getName.endsWith(".parquet"))
      .map(f => f.getName -> f.lastModified()).toMap
    val p1Before = filesOf("p1")
    t.upsert(frame((3, "c", "p2"))) // touches only p2
    assert(filesOf("p1") == p1Before, "untouched partition was rewritten")
    assert(contents(t) == Seq(1 -> "a", 2 -> "b", 3 -> "c"))
  }

  test("a crashed commit (data files, no manifest) is invisible to readers") {
    val path = tmp("snapcrash")
    val t = SnapshotTable(spark, path, "id", Some("part"))
    t.create(frame((1, "a", "p1")))
    // simulate a writer that died between data-move and manifest rename:
    // drop an orphan parquet file into a live partition dir
    frame((99, "GHOST", "p1")).drop("part").coalesce(1)
      .write.mode("overwrite").parquet(s"$path/orphan")
    val orphan = new java.io.File(s"$path/orphan").listFiles()
      .filter(_.getName.endsWith(".parquet")).head
    java.nio.file.Files.copy(orphan.toPath,
      java.nio.file.Paths.get(s"$path/data/part=p1/deadbeef-${orphan.getName}"))
    assert(contents(t) == Seq(1 -> "a"), "orphan file leaked into the snapshot")
    // default retention: the orphan is YOUNG, so it may belong to an
    // in-flight commit — vacuum must leave it alone
    t.vacuum(keepVersions = 1)
    assert(new java.io.File(s"$path/data/part=p1")
      .listFiles().exists(_.getName.startsWith("deadbeef-")),
      "vacuum reclaimed a young unreferenced file inside the retention age")
    // single-writer fast path reclaims it immediately
    t.vacuum(keepVersions = 1, retentionMs = 0)
    assert(!new java.io.File(s"$path/data/part=p1")
      .listFiles().exists(_.getName.startsWith("deadbeef-")))
    assert(contents(t) == Seq(1 -> "a"))
  }

  test("time travel: old version readable and unchanged after later commits") {
    val t = SnapshotTable(spark, tmp("snaptt"), "id", Some("part"))
    t.create(frame((1, "a", "p1"), (2, "b", "p2")))
    t.upsert(frame((2, "B2", "p2"), (3, "c", "p1")))
    assert(contents(t) == Seq(1 -> "a", 2 -> "B2", 3 -> "c"))
    val v1 = t.readVersion(1).orderBy("id").collect()
      .map(r => (r.getAs[Int]("id"), r.getAs[String]("val"))).toSeq
    assert(v1 == Seq(1 -> "a", 2 -> "b"))
  }

  test("changes: inserts + updates only, carried-over rows excluded, span composes") {
    val path = tmp("snapchg")
    val t = SnapshotTable(spark, path, "id", Some("part"))
    t.create(frame((1, "a", "p1"), (2, "b", "p2"), (3, "c", "p2")))
    t.upsert(frame((2, "B2", "p2"), (4, "d", "p3"))) // update + insert; 3 carried in rewritten p2
    def delta(a: Long, b: Long) = t.changes(a, b).orderBy("id").collect()
      .map(r => (r.getAs[Int]("id"), r.getAs[String]("val"))).toSeq
    assert(delta(1, 2) == Seq(2 -> "B2", 4 -> "d"),
      "delta must be exactly the upsert's row images")
    // only the rewritten partitions' files are read: p1 untouched, so a
    // corrupted p1 file must not break the diff
    val p1 = new java.io.File(s"$path/data/part=p1").listFiles()
      .filter(_.getName.endsWith(".parquet")).head
    val bytes = java.nio.file.Files.readAllBytes(p1.toPath)
    try {
      java.nio.file.Files.write(p1.toPath, Array[Byte](0, 1, 2, 3))
      assert(delta(1, 2) == Seq(2 -> "B2", 4 -> "d"),
        "changes read an untouched partition")
    } finally java.nio.file.Files.write(p1.toPath, bytes)
    t.upsert(frame((4, "D2", "p3")))
    assert(delta(2, 3) == Seq(4 -> "D2"))
    assert(delta(1, 3) == Seq(2 -> "B2", 4 -> "D2"),
      "multi-version span must net out intermediate states")
    assert(delta(3, 3).isEmpty, "same-version delta must be empty")
  }

  test("data skipping: range-clustered files prune by manifest stats alone") {
    val path = tmp("snapskip")
    val t = SnapshotTable(spark, path, "id", statsCols = Seq("id", "val"),
      clusterBy = Seq("id"), clusterFiles = 8)
    t.create((1 to 1000).map(i => (i, f"v$i%04d", "p"))
      .toDF("id", "val", "part").repartition(10))
    val total = t.candidateFiles(("id", Int.MinValue.toLong, Int.MaxValue.toLong)).size
    assert(total >= 4, s"expected several files, got $total")
    val hit = t.candidateFiles(("id", 100L, 150L))
    assert(hit.size < total, "narrow range pruned nothing")
    // the pruned read is still exact
    val got = t.readWhere(("id", 100L, 150L)).orderBy("id")
      .collect().map(_.getAs[Int]("id")).toSeq
    assert(got == (100 to 150))
    // string stats prune too, and URL-encoding round-trips
    val sHit = t.candidateFiles(("val", "v0100", "v0150"))
    assert(sHit.size < total, "string stats pruned nothing")
    assert(t.readWhere(("val", "v0100", "v0150")).count() == 51)
    // a column with no stats never prunes (conservative)
    assert(t.candidateFiles(("part", "zzz", "zzz")).size == 0 ||
      t.readWhere(("part", "p", "p")).count() == 1000)
  }

  test("partition-spec evolution: metadata-only commit, vintages read " +
      "and merge-scope under their own specs, both layouts prune") {
    val path = tmp("snapspecevo")
    // create partitioned by p1c; p2c is a plain data column (for now)
    SnapshotTable(spark, path, "id", Some("p1c")).create(
      Seq((1L, "r1", "a", "x"), (2L, "r2", "a", "y"),
        (3L, "r3", "b", "x"), (4L, "r4", "b", "y"))
        .toDF("id", "val", "p1c", "p2c"))
    // evolution-aware handles construct WITHOUT a ctor pin
    val t = SnapshotTable(spark, path, "id")
    val v1Files = dataFiles(path)
    t.repartitionTo(Seq("p2c"))
    assert(dataFiles(path) == v1Files, "spec evolution touched data files")
    // the full read is correct while every file is still old-vintage
    assert(t.read.count() == 4)
    // an upsert into old partition a: its files rewrite under the NEW
    // spec; partition b's files stay old-vintage — the table now MIXES
    t.upsert(Seq((1L, "R1", "a", "x"), (5L, "r5", "a", "y"))
      .toDF("id", "val", "p1c", "p2c"))
    // LIVE files (manifest entries — disk keeps dereferenced vintages
    // for time travel): partition a rewrote under the new spec,
    // partition b's old-layout files carry over by reference
    val live = t.candidateFiles().map(_.path).toSet
    assert(live.exists(_.contains("p2c=")), "no new-spec files written")
    assert(live.exists(_.contains("p1c=b")), "old vintage disappeared")
    assert(!live.exists(_.contains("p1c=a")),
      "touched old-vintage files were not rewritten")
    // NO duplicate keys across vintages (the merge-scoping claim), and
    // every vintage serves BOTH columns — the old files' p1c from
    // dirs / p2c from data, the new files' the other way around
    val rows = t.read.orderBy("id").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2),
        r.getString(3))).toSeq
    assert(rows == Seq((1L, "R1", "a", "x"), (2L, "r2", "a", "y"),
      (3L, "r3", "b", "x"), (4L, "r4", "b", "y"), (5L, "r5", "a", "y")),
      s"mixed-vintage read diverged: $rows")
    // time travel predates the evolution
    assert(t.readVersion(1).count() == 4)
    // pruning on BOTH layouts: each vintage's scan carries ITS spec's
    // column as a planning-time PartitionFilter
    def scannedFiles(df: org.apache.spark.sql.DataFrame): Long = {
      df.collect()
      var n = 0L
      def walk(p: org.apache.spark.sql.execution.SparkPlan): Unit = {
        p match {
          case f: org.apache.spark.sql.execution.FileSourceScanExec =>
            n += f.metrics("numFiles").value
          case _ => ()
        }
        p.children.foreach(walk)
      }
      walk(df.queryExecution.executedPlan)
      n
    }
    val total = scannedFiles(t.read)
    val byOld = t.read.filter(col("p1c") === "a")
    assert(byOld.queryExecution.executedPlan.toString
      .contains("PartitionFilters: [isnotnull(p1c"),
      "old vintage lost planning-time pruning on its own spec")
    assert(scannedFiles(byOld) < total,
      "a filter on the old spec's column pruned nothing")
    val byNew = t.read.filter(col("p2c") === "x")
    assert(byNew.queryExecution.executedPlan.toString
      .contains("PartitionFilters: [isnotnull(p2c"),
      "new vintage lost planning-time pruning on its own spec")
    assert(scannedFiles(byNew) < total,
      "a filter on the new spec's column pruned nothing")
    // the single-spec surfaces refuse the mixed snapshot with a remedy
    val e1 = intercept[Exception](
      spark.read.format("graft").load(path).count())
    assert(e1.getMessage.contains("migrateSpec"), e1.getMessage)
    val e2 = intercept[Exception](t.readPartitions(Seq("x")))
    assert(e2.getMessage.contains("migrateSpec"), e2.getMessage)
    // DML crosses vintages: delete an old-vintage row (its file —
    // being rewritten — migrates to the new layout as a side effect)
    t.delete(col("id") === 3L)
    assert(t.read.count() == 4)
    // eager migration: uniform new layout, every surface serves again
    t.migrateSpec()
    val migrated = t.candidateFiles().map(_.path).toSet
    assert(migrated.nonEmpty && migrated.forall(_.contains("p2c=")),
      s"migrateSpec left legacy-layout files live: $migrated")
    val sqlRows = spark.read.format("graft").load(path)
      .orderBy("id").collect()
      .map(r => (r.getAs[Long]("id"), r.getAs[String]("p2c"))).toSeq
    assert(sqlRows == Seq((1L, "x"), (2L, "y"), (4L, "y"), (5L, "y")))
    assert(t.readPartitions(Seq("y")).count() == 3)
    // a change-feed span reaching back ACROSS the evolution refuses:
    // its pre-evolution files would mis-decode under the current spec
    // (the head is uniform now, so the scan-builder guard passes and
    // the per-span planner guard is what must fire)
    val e3 = intercept[Exception](
      spark.read.format("graft").option("readChangeFeed", "true")
        .option("startingVersion", "1").load(path).collect())
    assert(e3.getMessage.contains("partition-spec evolution"),
      e3.getMessage)
    // guard rails: unknown column, no-op spec, dup columns
    intercept[IllegalArgumentException](t.repartitionTo(Seq("nope")))
    intercept[IllegalArgumentException](t.repartitionTo(Seq("p2c")))
    intercept[IllegalArgumentException](t.repartitionTo(Seq("p1c", "p1c")))
    // DE-partition: evolve to the EXPLICIT flat spec — metadata-only,
    // old p2c-layout files stay live under their path-encoded vintage
    val preFlat = dataFiles(path)
    t.repartitionTo(Nil)
    assert(dataFiles(path) == preFlat, "de-partitioning touched data files")
    assert(t.read.count() == 4)
    // a FRESH handle resolves the marker (not the legacy ambiguity)
    val flat = SnapshotTable(spark, path, "id")
    assert(flat.tablePartitionCols.isEmpty)
    assert(flat.read.orderBy("id").collect().map(_.getLong(0)).toSeq ==
      Seq(1L, 2L, 4L, 5L))
    // vintage-aware: the flat-spec snapshot still serves the OLD
    // Hive-layout files (asserted by the 4-row read above on a fresh
    // handle). New writes land at the data ROOT; an unpartitioned
    // upsert's merge scope is the whole table, so old-vintage files it
    // merges with legitimately rewrite flat.
    flat.upsert(Seq((7L, "r7", "c", "z")).toDF("id", "val", "p1c", "p2c"))
    val liveFlat = flat.candidateFiles().map(_.path)
    assert(liveFlat.exists(!_.contains("=")), "flat upsert wrote Hive dirs")
    assert(flat.read.count() == 5)
    // the marker survives FURTHER commits (a plain upsert must re-log
    // it, or the legacy ambiguity returns on the next fresh handle)
    assert(SnapshotTable(spark, path, "id").tablePartitionCols.isEmpty)
    // eager completion: uniform flat layout, single-spec SQL serves
    flat.migrateSpec()
    assert(flat.candidateFiles().map(_.path).forall(!_.contains("=")),
      "migrateSpec left Hive-layout files live")
    assert(spark.read.format("graft").load(path).count() == 5)
    // a no-op de-partition refuses like any other no-op spec
    intercept[IllegalArgumentException](flat.repartitionTo(Nil))
  }

  test("a stale handle cannot silently revert a concurrent " +
      "partition-spec evolution") {
    val path = tmp("snapspecrace")
    SnapshotTable(spark, path, "id", Some("p1c")).create(
      Seq((1L, "r1", "a", "x"), (2L, "r2", "b", "y"))
        .toDF("id", "val", "p1c", "p2c"))
    // handle A resolves its spec once (the per-handle cache)
    val a = SnapshotTable(spark, path, "id")
    assert(a.tablePartitionCols == Seq("p1c"))
    // handle B (another writer/process) evolves the spec
    SnapshotTable(spark, path, "id").repartitionTo(Seq("p2c"))
    // A's next commit would re-log p1c from its one-shot cache,
    // reverting the evolution with no conflict — it must REFUSE instead
    val e = intercept[IllegalStateException](
      a.upsert(Seq((3L, "r3", "a", "z")).toDF("id", "val", "p1c", "p2c")))
    assert(e.getMessage.contains("partition spec") ||
      e.getMessage.contains("evolved the partition spec"), e.getMessage)
    // the committed spec is still the evolved one, and a fresh handle
    // (the remedy the error names) writes under it
    val fresh = SnapshotTable(spark, path, "id")
    assert(fresh.tablePartitionCols == Seq("p2c"))
    fresh.upsert(Seq((3L, "r3", "a", "z")).toDF("id", "val", "p1c", "p2c"))
    assert(fresh.read.count() == 3)
    assert(fresh.candidateFiles().map(_.path).exists(_.contains("p2c=z")),
      "post-evolution upsert did not land under the evolved spec")
  }

  test("lazy checkpoint-planned scans: listing parity with the eager " +
      "entry list, partition pruning materializes only matching files, " +
      "DVs and COUNT(*) survive the lazy path") {
    import org.apache.spark.sql.catalyst.expressions.{
      AttributeReference, EqualTo, Literal}
    import org.apache.spark.sql.types.{StringType, StructField, StructType}
    import org.apache.spark.unsafe.types.UTF8String
    val path = tmp("lazyscan")
    val t = SnapshotTable(spark, path, "id", Some("part"),
      tableProps = Map(
        "graft.parquetCheckpointMinFiles" -> "0",
        "graft.checkpointInterval" -> "2",
        "graft.lazyPlanMinTwinBytes" -> "0"))
    t.create(frame((1, "a", "p1"), (2, "b", "p1"),
      (3, "c", "p2"), (4, "d", "p3")))
    t.upsert(frame((5, "e", "p2"))) // v2: checkpoint + parquet twin
    t.deleteMoR(col("id") === 2) // v3: a DELTA above the twin, with a DV
    // the lazy state engages on a fresh handle (cold cache) and
    // composes twin(v2) + the v3 delta
    val fresh = SnapshotTable(spark, path, "id")
    val st = fresh.lazyScanState(None)
    assert(st.isDefined, "lazy scan state did not engage")
    val (v, df, schema, spec) = st.get
    assert(v == 3L && spec == Seq("part"))
    assert(schema.fieldNames.toSeq == Seq("id", "val", "part"))
    // LISTING PARITY: lazy index == eager entry-list index, pruned and
    // unpruned, down to identical file path sets
    val partSchema = StructType(Seq(StructField("part", StringType)))
    val lazyIdx = ManifestFileIndex.lazyIndex(
      spark, fresh.dataDirPath, df, partSchema)
    val eagerIdx = new ManifestFileIndex(
      spark, fresh.dataDirPath, fresh.candidateFiles(), partSchema)
    def listed(idx: ManifestFileIndex,
               filters: Seq[org.apache.spark.sql.catalyst.expressions.Expression]) =
      idx.listFiles(filters, Nil)
        .flatMap(_.files.map(_.getPath.toString)).sorted
    val all = listed(eagerIdx, Nil)
    assert(listed(lazyIdx, Nil) == all && all.nonEmpty)
    val p1 = EqualTo(AttributeReference("part", StringType)(),
      Literal(UTF8String.fromString("p1"), StringType))
    val prunedLazy = listed(lazyIdx, Seq(p1))
    assert(prunedLazy == listed(eagerIdx, Seq(p1)))
    assert(prunedLazy.nonEmpty && prunedLazy.size < all.size,
      s"pruning did not narrow the listing: $prunedLazy")
    assert(lazyIdx.sizeInBytes == eagerIdx.sizeInBytes)
    // DSv2 read through the lazy path: full parity incl. the DV
    val dsv2 = spark.read.format("graft").load(path)
    assert(dsv2.orderBy("id").collect()
      .map(r => (r.getInt(0), r.getString(2))).toSeq ==
      Seq((1, "p1"), (3, "p2"), (4, "p3"), (5, "p2")))
    // metadata COUNT(*) (distributed Σ rows − DV cardinality)
    assert(dsv2.count() == 4L)
    // the size gate routes small twins back to the eager path
    val gated = SnapshotTable(spark, path, "id",
      tableProps = Map("graft.lazyPlanMinTwinBytes" -> "1000000000"))
    assert(gated.lazyScanState(None).isEmpty,
      "the twin-size gate did not route to the eager path")
  }

  test("vacuum sweeps aged orphaned .cpq checkpoint tmp dirs, " +
      "leaves fresh ones") {
    val path = tmp("snapcpqorphan")
    val t = SnapshotTable(spark, path, "id", Some("part"))
    t.create(frame((1, "a", "p1"), (2, "b", "p2")))
    t.upsert(frame((3, "c", "p1")))
    val commits = new java.io.File(s"$path/_commits")
    val orphan = new java.io.File(commits, ".cpq-dead")
    assert(orphan.mkdirs())
    new java.io.FileOutputStream(
      new java.io.File(orphan, "part-00000.parquet")).close()
    assert(orphan.setLastModified(
      System.currentTimeMillis() - 48L * 3600 * 1000))
    val inflight = new java.io.File(commits, ".cpq-inflight")
    assert(inflight.mkdirs())
    t.vacuum(keepVersions = 2, retentionMs = 3600 * 1000L)
    assert(!orphan.exists(), "aged .cpq orphan survived vacuum")
    assert(inflight.exists(), "in-flight .cpq tmp dir was swept")
    assert(t.read.count() == 3)
  }

  test("parquet checkpoints: the twin serves cold opens, text is the " +
      "authoritative fallback, replay and checkpoint agree") {
    val path = tmp("snapckptpq")
    val t = SnapshotTable(spark, path, "id", Some("part"),
      tableProps = Map("graft.parquetCheckpointMinFiles" -> "0",
        "graft.checkpointInterval" -> "3"))
    t.create(frame((1, "a", "p1"), (2, "b", "p2")))
    t.upsert(frame((3, "c", "p1")))
    t.upsert(frame((2, "B", "p2"), (4, "d", "p3"))) // v3: checkpoint + twin
    t.upsert(frame((5, "e", "p1"))) // v4: a delta replays on top
    val expected = Seq(1 -> "a", 2 -> "B", 3 -> "c", 4 -> "d", 5 -> "e")
    assert(contents(t) == expected)
    val fs = fsOf(path)
    val twin = new Path(s"$path/_commits/ckpt-v000000003.parquet")
    assert(fs.exists(twin), "no parquet checkpoint twin at v3")
    val textCkpt = new Path(s"$path/_commits/v000000003.manifest")
    val original = {
      val in = fs.open(textCkpt)
      try org.apache.commons.io.IOUtils.toByteArray(in) finally in.close()
    }
    // PROOF the twin is the active cold-open path: strip the text
    // checkpoint down to its header lines — a fresh handle must still
    // serve every row (entries came from the columnar side)
    val headerOnly = new String(original, "UTF-8").split("\n")
      .takeWhile(l => l.startsWith("version\t") || l.startsWith("token\t") ||
        l.startsWith("schema\t") || l.startsWith("partition\t") ||
        l.startsWith("check\t") || l.startsWith("layout\t") ||
        l.startsWith("property\t"))
      .mkString("", "\n", "\n")
    val out = fs.create(textCkpt, true)
    try out.write(headerOnly.getBytes("UTF-8")) finally out.close()
    val viaTwin = SnapshotTable(spark, path, "id", Some("part"))
    assert(contents(viaTwin) == expected,
      "cold open did not serve entries from the parquet twin")
    assert(viaTwin.readVersion(3).count() == 4)
    // restore the text record, corrupt the twin: the fallback must
    // serve the SAME state (speed lost, correctness kept)
    val out2 = fs.create(textCkpt, true)
    try out2.write(original) finally out2.close()
    fs.listStatus(twin).filter(_.getPath.getName.endsWith(".parquet"))
      .foreach { st =>
        val o = fs.create(st.getPath, true)
        try o.write(Array[Byte](0, 1, 2, 3)) finally o.close()
      }
    val viaText = SnapshotTable(spark, path, "id", Some("part"))
    assert(contents(viaText) == expected,
      "text fallback diverged after a corrupt parquet twin")
    // and with the twin gone entirely, replay still agrees
    fs.delete(twin, true)
    val replayOnly = SnapshotTable(spark, path, "id", Some("part"))
    assert(contents(replayOnly) == expected)
    // a table UNDER the size threshold never writes a twin
    val small = SnapshotTable(spark, tmp("snapckptsmall"), "id", Some("part"),
      tableProps = Map("graft.checkpointInterval" -> "2"))
    small.create(frame((1, "a", "p1")))
    small.upsert(frame((2, "b", "p1")))
    assert(!fsOf(small.path).exists(
      new Path(s"${small.path}/_commits/ckpt-v000000002.parquet")),
      "a tiny table paid a parquet checkpoint job")
  }

  test("type widening: metadata-only, widened upserts land, time travel " +
      "pins the narrow type, stats still prune") {
    import org.apache.spark.sql.types.{DoubleType, IntegerType, LongType}
    val path = tmp("snapwiden")
    val t = SnapshotTable(spark, path, "id", statsCols = Seq("q"),
      clusterBy = Seq("q"), clusterFiles = 8)
    t.create((1 to 1000).map(i => (i.toLong, i, i.toFloat / 2))
      .toDF("id", "q", "p").repartition(8))
    val v1Files = dataFiles(path)
    val total = t.candidateFiles(("q", Long.MinValue, Long.MaxValue)).size
    val hitBefore = t.candidateFiles(("q", 100L, 150L)).size
    assert(hitBefore < total, "narrow range pruned nothing pre-widening")
    t.widenColumn("q", LongType)
    t.widenColumn("p", DoubleType)
    assert(dataFiles(path) == v1Files, "widening touched data files")
    val sch = t.read.schema
    assert(sch("q").dataType == LongType && sch("p").dataType == DoubleType)
    // committed int/float bytes read exactly under the widened types
    assert(t.read.filter(col("id") === 7L).select("q", "p").head() ==
      org.apache.spark.sql.Row(7L, 3.5))
    // the OLD files' stats prune identically under widened (long) bounds
    assert(t.candidateFiles(("q", 100L, 150L)).size == hitBefore,
      "widening changed stats pruning")
    assert(t.readWhere(("q", 100L, 150L)).count() == 51)
    // a widened-typed source upserts with NO evolveSchema — and a value
    // outside the old type's range proves the widening is real
    t.upsert(Seq((1001L, 1L << 40, 0.25)).toDF("id", "q", "p"))
    assert(t.read.filter(col("id") === 1001L).head().getLong(1) == (1L << 40))
    assert(t.read.agg(sum("q")).head().getLong(0) ==
      (1 to 1000).map(_.toLong).sum + (1L << 40))
    // time travel reads the pre-widening version under ITS OWN type
    assert(t.readVersion(1).schema("q").dataType == IntegerType)
    assert(t.readVersion(1).count() == 1000)
    // and the DSv2/SQL path serves the widened schema
    val sqlRead = spark.read.format("graft").load(path)
    assert(sqlRead.schema("q").dataType == LongType)
    // refusals: narrowing, cross-family, partition columns
    assert(intercept[IllegalArgumentException](
      t.widenColumn("q", IntegerType)).getMessage.contains("widening"))
    assert(intercept[IllegalArgumentException](
      t.widenColumn("id", DoubleType)).getMessage.contains("widening"))
    val tp = SnapshotTable(spark, tmp("snapwidenpart"), "id", Some("part"))
    tp.create(Seq((1L, 1)).toDF("id", "part"))
    // INTEGRAL partition widening is sound: every shared value renders
    // the same Hive dir at every width ("1" as int and as long), so
    // old dirs keep merging and pruning
    tp.widenColumn("part", LongType)
    tp.upsert(Seq((2L, 1L), (3L, 1L << 40)).toDF("id", "part"))
    assert(tp.read.orderBy("id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq ==
      Seq((1L, 1L), (2L, 1L), (3L, 1L << 40)))
    // an upsert into the PRE-widening dir merges, never duplicates
    tp.upsert(Seq((1L, 1L)).toDF("id", "part"))
    assert(tp.read.count() == 3)
    assert(tp.readPartitions(Seq("1")).count() == 2)
    // non-integral partition widening renders "5" vs "5.0" — refused
    // (decimal(29,0) passes the long→decimal lattice, so the refusal
    // is specifically the partition-rendering guard)
    assert(intercept[IllegalArgumentException](
      tp.widenColumn("part", org.apache.spark.sql.types.DecimalType(29, 0)))
      .getMessage.contains("renderings"))
  }

  test("type widening v2: decimal precision/scale growth, date→timestamp_ntz, " +
      "int→decimal/double — metadata-only, stats prune exactly across vintages") {
    import org.apache.spark.sql.types._
    import java.time.{LocalDate, LocalDateTime}
    val path = tmp("snapwiden2")
    val t = SnapshotTable(spark, path, "id", statsCols = Seq("price", "d"),
      clusterBy = Seq("d"), clusterFiles = 8)
    val day0 = LocalDate.of(2021, 1, 1)
    t.create((1 to 400).map(i => (i.toLong, new java.math.BigDecimal(s"$i.25"),
        java.sql.Date.valueOf(day0.plusDays(i)), i, i))
      .toDF("id", "price", "d", "q", "w")
      .withColumn("price", col("price").cast(DecimalType(10, 2)))
      .repartition(8))
    val v1Files = dataFiles(path)
    val total = t.candidateFiles().size
    // dates and decimals PRUNE pre-widening (the "T:"/"C:" families)
    val hitDate = t.candidateFiles(("d", java.sql.Date.valueOf("2021-02-01"),
      java.sql.Date.valueOf("2021-02-15"))).size
    val hitDec = t.candidateFiles(("price", new java.math.BigDecimal("100.00"),
      new java.math.BigDecimal("120.00"))).size
    assert(hitDate < total, s"date stats pruned nothing ($hitDate/$total)")
    assert(hitDec < total, s"decimal stats pruned nothing ($hitDec/$total)")
    t.widenColumn("price", DecimalType(16, 4)) // precision AND scale grow
    t.widenColumn("d", TimestampNTZType)
    t.widenColumn("q", DecimalType(12, 1))
    t.widenColumn("w", DoubleType)
    assert(dataFiles(path) == v1Files, "widening touched data files")
    // committed bytes read exactly under every widened type
    val r7 = t.read.filter(col("id") === 7L).head()
    assert(r7.getDecimal(1) == new java.math.BigDecimal("7.2500"))
    assert(r7.getAs[LocalDateTime]("d") == day0.plusDays(7).atStartOfDay)
    assert(r7.getDecimal(3) == new java.math.BigDecimal("7.0"))
    assert(r7.getDouble(4) == 7.0)
    // the OLD files' stats prune identically under widened-type bounds:
    // "T:" micros serve date and ntz bounds in one unit; "C:" carries
    // its scale so scale-2 stats answer scale-4 bounds exactly
    assert(t.candidateFiles(("d", LocalDateTime.of(2021, 2, 1, 0, 0),
      LocalDateTime.of(2021, 2, 15, 0, 0))).size == hitDate,
      "date→ntz widening changed datetime pruning")
    assert(t.candidateFiles(("price", new java.math.BigDecimal("100.0000"),
      new java.math.BigDecimal("120.0000"))).size == hitDec,
      "decimal widening changed decimal pruning")
    // predicate-derived pruning ([[PredicateBounds]]) and the V1 scan's
    // data skipping ([[ManifestFileIndex.filterBounds]]) agree
    val feb = t.readMatching(
      col("d") >= lit(LocalDateTime.of(2021, 2, 1, 0, 0)) &&
        col("d") < lit(LocalDateTime.of(2021, 3, 1, 0, 0)))
    assert(feb.count() == 28)
    assert(t.readMatching(
      col("price") === lit(new java.math.BigDecimal("100.25"))).count() == 1)
    def scannedFiles(df: org.apache.spark.sql.DataFrame): Long = {
      df.collect()
      var n = 0L
      def walk(p: org.apache.spark.sql.execution.SparkPlan): Unit = {
        p match {
          case f: org.apache.spark.sql.execution.FileSourceScanExec =>
            n += f.metrics("numFiles").value
          case _ => ()
        }
        p.children.foreach(walk)
      }
      walk(df.queryExecution.executedPlan)
      n
    }
    val allScanned = scannedFiles(t.read)
    assert(scannedFiles(t.read.filter(
      col("d") >= lit(LocalDateTime.of(2021, 2, 1, 0, 0)) &&
        col("d") < lit(LocalDateTime.of(2021, 2, 15, 0, 0)))) < allScanned,
      "ntz filter skipped no files at the scan")
    assert(scannedFiles(t.read.filter(
      col("price") >= lit(new java.math.BigDecimal("100.0000")) &&
        col("price") <= lit(new java.math.BigDecimal("120.0000")))) <
        allScanned, "decimal filter skipped no files at the scan")
    // int→double left "L:" stats behind a "D:" bound — conservative
    // keep, never wrong: the exact filter still answers
    assert(t.readWhere(("w", 5.0, 10.0)).count() == 6)
    // a natively-wide upsert lands values beyond every narrow range,
    // and cross-vintage (scale-2 + scale-4 files) bounds stay exact
    t.upsert(Seq((1001L, "12345678901.2345", "2030-06-01T12:30",
        "99999999999.5", 0.5))
      .toDF("id", "price", "d", "q", "w")
      .select(col("id"), col("price").cast(DecimalType(16, 4)),
        col("d").cast(TimestampNTZType),
        col("q").cast(DecimalType(12, 1)), col("w")))
    assert(t.read.filter(col("id") === 1001L).head().getDecimal(1) ==
      new java.math.BigDecimal("12345678901.2345"))
    assert(t.readWhere(("price", new java.math.BigDecimal("1.00"),
      new java.math.BigDecimal("999999999999.00"))).count() == 401)
    // time travel reads the pre-widening version under ITS OWN types
    val v1 = t.readVersion(1)
    assert(v1.schema("price").dataType == DecimalType(10, 2))
    assert(v1.schema("d").dataType == DateType)
    assert(v1.schema("q").dataType == IntegerType)
    // CDC across the widening commits: the metadata-only versions
    // contribute NO row changes (narrow and wide images of the same
    // row must cancel in the diff), and the one upsert surfaces at the
    // widened types
    val cdc = t.changes(1, t.currentVersion.get)
    assert(cdc.schema("price").dataType == DecimalType(16, 4))
    val ch = cdc.collect()
    assert(ch.length == 1 && ch.head.getAs[Long]("id") == 1001L,
      ch.mkString("; "))
    // the DSv2/SQL path serves the widened schema
    val sqlRead = spark.read.format("graft").load(path)
    assert(sqlRead.schema("d").dataType == TimestampNTZType)
    assert(sqlRead.schema("price").dataType == DecimalType(16, 4))
    assert(sqlRead.count() == 401)
    // refusals: scale shrink, integer-digit shrink, date→LTZ (session-
    // zone reinterpretation), long→double (not exact), widening a
    // bloom column out of the integral family
    assert(intercept[IllegalArgumentException](
      t.widenColumn("price", DecimalType(17, 3))).getMessage
      .contains("widening"))
    assert(intercept[IllegalArgumentException](
      t.widenColumn("price", DecimalType(12, 4))).getMessage
      .contains("widening"))
    assert(intercept[IllegalArgumentException](
      t.widenColumn("id", DoubleType)).getMessage.contains("widening"))
    val td = SnapshotTable(spark, tmp("snapwidenltz"), "id")
    td.create(Seq((1L, java.sql.Date.valueOf("2021-01-01")))
      .toDF("id", "d"))
    assert(intercept[IllegalArgumentException](
      td.widenColumn("d", TimestampType)).getMessage.contains("widening"))
    val tb = SnapshotTable(spark, tmp("snapwidenbloom"), "id",
      bloomCols = Seq("q"))
    tb.create(Seq((1L, 2)).toDF("id", "q"))
    tb.widenColumn("q", LongType) // within the integral family: fine
    assert(intercept[IllegalArgumentException](
      tb.widenColumn("q", DecimalType(25, 1))).getMessage.contains("bloom"))
  }

  test("ADD COLUMN with DEFAULT: pre-add rows read the frozen default " +
      "metadata-only; rewrites materialize it; time travel predates it") {
    import org.apache.spark.sql.types.{DecimalType, IntegerType, StringType}
    val path = tmp("snapdefault")
    val t = SnapshotTable(spark, path, "id", Some("part"))
    t.create(frame((1, "a", "p1"), (2, "b", "p2")))
    val v1Files = dataFiles(path)
    t.addColumn("fee", DecimalType(8, 2), Some("1.50"))
    t.addColumn("channel", StringType, Some("'web'"))
    t.addColumn("note", StringType) // no default → old rows read null
    assert(dataFiles(path) == v1Files, "addColumn touched data files")
    val r = t.read.orderBy("id").collect().map(x =>
      (x.getAs[Int]("id"), x.getAs[java.math.BigDecimal]("fee"),
        x.getAs[String]("channel"), x.getAs[String]("note"))).toSeq
    assert(r == Seq(
      (1, new java.math.BigDecimal("1.50"), "web", null),
      (2, new java.math.BigDecimal("1.50"), "web", null)), r.toString)
    // the DSv2/SQL read path fills the same defaults
    val sqlRead = spark.read.format("graft").load(path)
    assert(sqlRead.filter(col("id") === 1).head()
      .getAs[String]("channel") == "web")
    // an upsert rewriting p2 materializes the default for KEPT rows;
    // the batch's explicit values win for its own
    t.upsert(Seq((3, "c", "p2", new java.math.BigDecimal("9.99"),
        "store", "n")).toDF("id", "val", "part", "fee", "channel", "note"))
    assert(t.read.filter(col("id") === 2).head()
      .getAs[java.math.BigDecimal]("fee") == new java.math.BigDecimal("1.50"))
    assert(t.read.filter(col("id") === 3).head()
      .getAs[String]("channel") == "store")
    // an API upsert OMITTING the columns null-fills ITS rows (DataFrame
    // union semantics — the default governs reads of files MISSING the
    // column and SQL INSERT resolution, not DataFrame writes)
    t.upsert(frame((4, "d", "p3")), evolveSchema = true)
    assert(t.read.filter(col("id") === 4).head()
      .getAs[String]("channel") == null)
    // time travel: the pre-add version has no such column
    assert(!t.readVersion(1).columns.contains("fee"))
    // defaults that reference columns or don't analyze refuse at ALTER
    intercept[Exception](t.addColumn("bad", IntegerType, Some("id + 1")))
    intercept[Exception](t.addColumn("bad2", IntegerType, Some("not sql (")))
  }

  test("pruning is never wrong: randomized predicates over every stat " +
      "family agree with the full scan") {
    import org.apache.spark.sql.types.DecimalType
    import java.time.LocalDateTime
    val rnd = new scala.util.Random(42)
    val day0 = java.time.LocalDate.of(2021, 1, 1)
    val t = SnapshotTable(spark, tmp("snapprune"), "id",
      statsCols = Seq("l", "x", "s", "d", "ts", "dec", "bigdec"),
      clusterBy = Seq("l"), clusterFiles = 6)
    t.create((1 to 500).map { i =>
      (i.toLong, rnd.nextInt(1000).toLong, rnd.nextDouble() * 100,
        f"k${rnd.nextInt(100)}%03d",
        java.sql.Date.valueOf(day0.plusDays(rnd.nextInt(400))),
        LocalDateTime.of(2021, 1, 1, 0, 0).plusMinutes(rnd.nextInt(500000)),
        new java.math.BigDecimal(s"${rnd.nextInt(10000)}.${10 + rnd.nextInt(89)}"),
        // precision 24 → FIXED_LEN_BYTE_ARRAY physical: footer stats
        // decode through the big-endian BigInteger path, ~15% null so
        // null-bearing chunks keep valid min/max
        if (rnd.nextInt(100) < 15) null
        else new java.math.BigDecimal(
          s"${rnd.nextLong(100000000000000L)}.${1000 + rnd.nextInt(8999)}"))
    }.toDF("id", "l", "x", "s", "d", "ts", "dec", "bigdec")
      .withColumn("dec", col("dec").cast(DecimalType(10, 2)))
      .withColumn("bigdec", col("bigdec").cast(DecimalType(24, 4))))
    val full = t.read.cache()
    full.count()
    // the families must actually EXIST on every file — otherwise the
    // agreement below would hold vacuously through conservative keeps
    val live = t.candidateFiles()
    assert(live.forall(e => Seq("l", "x", "s", "d", "ts", "dec", "bigdec")
      .forall(e.stats.contains)), "a stat family failed to collect")
    assert(live.forall(e => e.stats("d")._1.startsWith("T:") &&
      e.stats("ts")._1.startsWith("T:") &&
      e.stats("dec")._1.startsWith("C:") &&
      e.stats("bigdec")._1.startsWith("C:")))
    def rndLit(c: String): org.apache.spark.sql.Column = c match {
      case "l" => lit(rnd.nextInt(1100).toLong - 50)
      case "x" => lit(rnd.nextDouble() * 110 - 5)
      case "s" => lit(f"k${rnd.nextInt(110)}%03d")
      case "d" => lit(java.sql.Date.valueOf(day0.plusDays(rnd.nextInt(440) - 20)))
      case "ts" => lit(LocalDateTime.of(2021, 1, 1, 0, 0)
        .plusMinutes(rnd.nextInt(550000) - 25000))
      case "bigdec" => lit(new java.math.BigDecimal(
        s"${rnd.nextLong(110000000000000L) - 5000000000000L}.${1000 + rnd.nextInt(8999)}"))
      case _ => lit(new java.math.BigDecimal(
        s"${rnd.nextInt(11000) - 500}.${10 + rnd.nextInt(89)}"))
    }
    def rndCmp(): org.apache.spark.sql.Column = {
      val c = Seq("l", "x", "s", "d", "ts", "dec", "bigdec")(rnd.nextInt(7))
      rnd.nextInt(5) match {
        case 0 => col(c) === rndLit(c)
        case 1 => col(c) >= rndLit(c)
        case 2 => col(c) <= rndLit(c)
        case 3 => col(c) > rndLit(c)
        case _ => col(c) < rndLit(c)
      }
    }
    (1 to 80).foreach { _ =>
      val p = if (rnd.nextBoolean()) rndCmp() else rndCmp() && rndCmp()
      val (pruned, truth) = (t.readMatching(p).count(), full.filter(p).count())
      assert(pruned == truth, s"pruned scan diverged for $p: " +
        s"$pruned != $truth")
    }
    full.unpersist()
  }

  test("evolveSchema upsert widens the logged type when the source is wider") {
    import org.apache.spark.sql.types.{IntegerType, LongType}
    val t = SnapshotTable(spark, tmp("snapwidenevo"), "id", Some("part"))
    t.create(Seq((1L, 1, "p1"), (2L, 2, "p2")).toDF("id", "q", "part"))
    // p1 is untouched (kept by reference, int-typed file); p2 is merged
    // with the long source; p3 is new — all three vintages must unify
    t.upsert(Seq((2L, 1L << 40, "p2"), (3L, 7L, "p3")).toDF("id", "q", "part"),
      evolveSchema = true)
    assert(t.read.schema("q").dataType == LongType,
      s"union coercion did not widen: ${t.read.schema("q").dataType}")
    assert(t.read.orderBy("id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq ==
      Seq((1L, 1L), (2L, 1L << 40), (3L, 7L)))
    assert(t.readVersion(1).schema("q").dataType == IntegerType)
    val sqlRead = spark.read.format("graft").load(t.path)
    assert(sqlRead.schema("q").dataType == LongType)
    assert(sqlRead.agg(sum("q")).head().getLong(0) == 1L + (1L << 40) + 7L)
  }

  test("a narrower batch never narrows the logged schema") {
    val t = SnapshotTable(spark, tmp("snapnarrow"), "id", Some("part"))
    t.create(frame((1, "a", "p1")))
    t.upsert(frame((2, "b", "p2")).withColumn("extra", lit(7)),
      evolveSchema = true)
    assert(t.read.columns.contains("extra"))
    val colOrder = t.read.columns.toSeq
    // an all-new-partition batch that OMITS the evolved column used to
    // commit src.schema verbatim, silently dropping 'extra' (and its
    // committed data in untouched files) from the log
    t.upsert(frame((3, "c", "p3")), evolveSchema = true)
    assert(t.read.columns.contains("extra"),
      "schema narrowed by an untouched-partition upsert")
    assert(t.read.columns.toSeq == colOrder,
      s"column order shuffled by the alignment: ${t.read.columns.toSeq}")
    assert(t.read.filter(col("id") === 2).head().getAs[Int]("extra") == 7)
    assert(t.read.filter(col("id") === 3).head()
      .isNullAt(t.read.columns.indexOf("extra")))
    // without evolveSchema the omission is an error — the arity guard
    // (or, past it, the alignment/conforming select) refuses
    val e = intercept[IllegalArgumentException](t.upsert(frame((4, "d", "p4"))))
    assert(e.getMessage.contains("omits") || e.getMessage.contains("columns"),
      e.getMessage)
  }

  test("schema-evolving upsert: kept rows read the new column as null; CDC aligns") {
    val t = SnapshotTable(spark, tmp("snapevo"), "id", Some("part"))
    t.create(frame((1, "a", "p1"), (2, "b", "p2")))
    t.upsert(frame((2, "B", "p2")).withColumn("extra", lit(7)),
      evolveSchema = true)
    val out = t.read.orderBy("id").collect()
      .map(r => (r.getAs[Int]("id"), r.getAs[Any]("extra"))).toSeq
    assert(out == Seq(1 -> null, 2 -> 7))
    // the CDC diff crosses the evolution commit: old files pad with null
    val delta = t.changes(1, 2).orderBy("id").collect()
      .map(r => (r.getAs[Int]("id"), r.getAs[String]("val"))).toSeq
    assert(delta == Seq(2 -> "B"))
    // time travel keeps the pre-evolution shape
    assert(!t.readVersion(1).columns.contains("extra"))
  }

  test("upsert matches partitions whose values Spark escapes in dir names") {
    val t = SnapshotTable(spark, tmp("snapesc"), "id", Some("part"))
    t.create(frame((1, "a", "p:1"), (2, "b", "p2")))
    t.upsert(frame((1, "A", "p:1"))) // ':' is Hive-escaped to %3A on disk
    assert(contents(t) == Seq(1 -> "A", 2 -> "b"),
      "escaped partition treated as untouched → duplicate PK")
  }

  test("upsert matches the empty-string partition (written as the default partition)") {
    val t = SnapshotTable(spark, tmp("snapempty"), "id", Some("part"))
    t.create(frame((1, "a", ""), (2, "b", "p2")))
    t.upsert(frame((1, "A", ""))) // "" lands in __HIVE_DEFAULT_PARTITION__
    assert(contents(t) == Seq(1 -> "A", 2 -> "b"),
      "empty-string partition treated as untouched → duplicate PK")
  }

  test("upsert matches timestamp partitions (path rendering, not java toString)") {
    import org.apache.spark.sql.functions.to_timestamp
    def rows(v: (Int, String)*) = v.toDF("id", "val")
      .withColumn("part", to_timestamp(lit("2024-01-15 12:00:00")))
    val t = SnapshotTable(spark, tmp("snapts"), "id", Some("part"))
    t.create(rows(1 -> "a", 2 -> "b"))
    t.upsert(rows(1 -> "A")) // java.sql.Timestamp.toString appends ".0"
    assert(contents(t) == Seq(1 -> "A", 2 -> "b"),
      "timestamp partition treated as untouched → duplicate PK")
  }

  test("string stats compare on decoded values (URL-encoding is not order-preserving)") {
    val t = SnapshotTable(spark, tmp("snapord"), "id",
      statsCols = Seq("val"), clusterBy = Seq("val"), clusterFiles = 2)
    // '!' (0x21) URL-encodes to "%21", ' ' to "+": encoded order inverts
    t.create((1 to 100).map(i => (i, if (i <= 50) "!x" else "zx", "p"))
      .toDF("id", "val", "part"))
    assert(t.readWhere(("val", " ", "0")).count() == 50,
      "file with '!x' wrongly pruned for range [' ', '0']")
    // an all-pruned predicate returns an empty frame, not an error
    assert(t.readWhere(("val", "aaa", "bbb")).count() == 0)
  }

  test("data skipping: stats carry over with unrewritten files across upserts") {
    val path = tmp("snapskipup")
    val t = SnapshotTable(spark, path, "id", partitionCol = Some("part"),
      statsCols = Seq("id"), clusterBy = Seq("id"), clusterFiles = 8)
    t.create((1 to 500).map(i => (i, s"v$i", if (i <= 250) "p1" else "p2"))
      .toDF("id", "val", "part"))
    t.upsert(frame((1, "A1", "p1"))) // rewrites only p1
    val hi = t.candidateFiles(("id", 400L, 410L))
    assert(hi.nonEmpty && hi.forall(_.stats.contains("id")),
      "carried-over p2 files lost their stats")
    assert(t.readWhere(("id", 400L, 410L)).count() == 11)
    assert(t.readWhere(("id", 1L, 1L)).select("val").head().getString(0) == "A1")
  }

  test("vacuum drops pre-retention versions but keeps the live window") {
    val path = tmp("snapvac")
    val t = SnapshotTable(spark, path, "id", Some("part"))
    t.create(frame((1, "a", "p1")))
    t.upsert(frame((1, "a2", "p1")))
    t.upsert(frame((1, "a3", "p1")))
    t.vacuum(keepVersions = 2, retentionMs = 0)
    assert(contents(t) == Seq(1 -> "a3"))
    // v2 still time-travelable, v1 gone
    assert(t.readVersion(2).count() == 1)
    intercept[Exception](t.readVersion(1).count())
  }

  test("null partition values round-trip through upsert") {
    val t = SnapshotTable(spark, tmp("snapnull"), "id", Some("part"))
    t.create(frame((1, "a", "p1")).unionByName(
      Seq((2, "b")).toDF("id", "val")
        .withColumn("part", lit(null).cast("string"))))
    t.upsert(Seq((2, "B")).toDF("id", "val")
      .withColumn("part", lit(null).cast("string")))
    val out = t.read.orderBy("id").collect()
      .map(r => (r.getAs[Int]("id"), r.getAs[String]("val"))).toSeq
    assert(out == Seq(1 -> "a", 2 -> "B"))
  }

  test("a declared schema keeps a date-like string partition column a string") {
    import org.apache.spark.sql.types._
    val path = tmp("snapdeclared")
    val t = SnapshotTable(spark, path, "id", Some("date"), Some(StructType(Seq(
      StructField("id", IntegerType), StructField("date", StringType)))))
    t.create(Seq((1, "2025-04-01"), (2, "2025-04-02")).toDF("id", "date"))
    assert(t.read.schema("date").dataType == StringType)
    t.upsert(Seq((3, "2025-04-03")).toDF("id", "date"))
    // a bare handle reads the logged schema: no partition type inference
    for (h <- Seq(t, SnapshotTable(spark, path, "id")))
      assert(h.read.orderBy("id").select("date").as[String].collect().toSeq ==
        Seq("2025-04-01", "2025-04-02", "2025-04-03"))
  }

  test("an all-new-key upsert rewrites no existing file; its replay adds no rows") {
    val t = SnapshotTable(spark, tmp("snapallnew"), "id", Some("part"))
    t.create(frame((1, "a", "p1"), (2, "b", "p1"), (3, "c", "p1"), (4, "d", "p2")))
    val before = t.candidateFiles().toSet
    // no key overlaps: p1 (three live rows, more than the batch) merges
    // on read and hides nothing, p3 is a new partition
    val batch = frame((5, "e", "p1"), (6, "f", "p3"))
    t.upsert(batch)
    assert(before.subsetOf(t.candidateFiles().toSet),
      "a pre-existing file was rewritten or vectored")
    t.upsert(batch)
    assert(contents(t) == Seq(1 -> "a", 2 -> "b", 3 -> "c", 4 -> "d",
      5 -> "e", 6 -> "f"))
  }

  test("changesDelta: update emits before+after pair, insert after only, carried rows nothing") {
    import org.apache.spark.sql.functions.col
    val t = SnapshotTable(spark, tmp("snapdelta"), "id", Some("part"))
    t.create(frame((1, "a", "p1"), (2, "b", "p2"), (3, "c", "p2")))
    t.upsert(frame((2, "B2", "p2"), (4, "d", "p3"))) // update 2, insert 4; 3 carried in rewritten p2
    val d = t.changesDelta(1, 2)
      .select(col("id"), col("val"), col(SnapshotTable.ImageCol))
      .collect().map(r => (r.getInt(0), r.getString(1), r.getString(2))).toSet
    assert(d == Set(
      (2, "b", "before"), (2, "B2", "after"), (4, "d", "after")),
      s"wrong delta: $d")
    // maintained count via the delta algebra == direct count
    val net = d.toSeq.map { case (_, _, img) => if (img == "after") 1 else -1 }.sum
    assert(3 + net == t.read.count())
  }

  test("compact bin-packs fragmented files, carries packed partitions, no-ops when tight") {
    import org.apache.spark.sql.functions.col
    val path = tmp("snapcompact")
    val t = SnapshotTable(spark, path, "id",
      statsCols = Seq("id"), clusterBy = Seq("id"), clusterFiles = 8)
    t.create(spark.range(2000).select(col("id"), (col("id") % 7).as("v")))
    assert(t.candidateFiles().size >= 8)
    val before = t.read.orderBy("id").collect()
    t.compact() // tiny files, default 128MB target -> packs to 1
    assert(t.currentVersion.contains(2L))
    assert(t.candidateFiles().size == 1,
      s"expected 1 packed file, got ${t.candidateFiles().size}")
    assert(t.read.orderBy("id").collect().toSeq == before.toSeq)
    // packed files carry fresh stats: skipping still works
    assert(t.readWhere(("id", 10L, 20L)).count() == 11)
    // v1 still time-travelable
    assert(t.readVersion(1).count() == 2000)
    // second compact: nothing fragmented -> commits nothing
    t.compact()
    assert(t.currentVersion.contains(2L), "no-op compact committed a version")
  }

  test("compact leaves right-sized partitions by reference, rewrites only fragmented ones") {
    import org.apache.spark.sql.functions.col
    val path = tmp("snapcompactpart")
    // partitioned + clustered: ranges split across partition dirs, so
    // each dir holds several small files
    val t = SnapshotTable(spark, path, "id", partitionCol = Some("part"),
      clusterBy = Seq("id"), clusterFiles = 6)
    t.create(spark.range(1000).select(
      col("id"), (col("id") % 2).cast("string").as("part"), (col("id") % 5).as("v")))
    val fragged = t.candidateFiles().groupBy(e => e.path.split('/').head)
    assert(fragged.values.exists(_.size >= 2), "fixture not fragmented")
    t.compact()
    val after = t.candidateFiles().groupBy(e => e.path.split('/').head)
    assert(after.values.forall(_.size == 1),
      s"partitions still fragmented: ${after.view.mapValues(_.size).toMap}")
    assert(t.read.count() == 1000)
    assert(t.read.select("id").distinct().count() == 1000)
  }

  test("bloom index: point probe prunes files min/max cannot, result exact") {
    import org.apache.spark.sql.functions.{col, lit}
    val path = tmp("snapbloom")
    // k is a scattered high-cardinality key while files cluster on id:
    // every file's [min(k), max(k)] spans any probe, so min/max stats
    // alone keep ALL files — only the bloom can rule files out
    val df = spark.range(4000).select(
      col("id"),
      ((col("id") * 2654435761L) % 1000003L).as("k"),
      (col("id") % 97).as("v"))
    val t = SnapshotTable(spark, path, "id",
      statsCols = Seq("id", "k"), clusterBy = Seq("id"), clusterFiles = 8,
      bloomCols = Seq("k"), bloomExpectedItems = 1000L)
    t.create(df)
    val total = t.candidateFiles().size
    assert(total >= 8, s"expected >=8 files, got $total")
    // a key that exists: min/max keeps everything, bloom prunes
    val probe = (2000L * 2654435761L) % 1000003L
    val ranged = t.candidateFiles(("k", probe, probe)).size
    val bloomed = t.candidateFilesEq(("k", probe)).size
    assert(ranged == total, "scattered key was range-prunable — bad fixture")
    assert(bloomed < total, s"bloom pruned nothing: $bloomed of $total")
    val got = t.readWhereEq(("k", probe)).select("id", "k", "v").collect()
    val want = df.filter(col("k") === lit(probe)).select("id", "k", "v").collect()
    assert(got.map(_.toString).sorted.toSeq == want.map(_.toString).sorted.toSeq)
    // a key that does not exist: bloom rules (almost) everything out and
    // the read is still a correct empty result
    assert(t.candidateFilesEq(("k", 999999999L)).size < total)
    assert(t.readWhereEq(("k", 999999999L)).count() == 0)
    // un-bloomed column: no pruning, still correct
    assert(t.candidateFilesEq(("v", 3L)).size == total)
    assert(t.readWhereEq(("v", 3L)).count() == df.filter(col("v") === 3).count())
  }

  test("type-mismatched bloom probe never prunes (long probe vs string bloom)") {
    val t = SnapshotTable(spark, tmp("snapbloomtype"), "id",
      partitionCol = Some("part"), bloomCols = Seq("val"),
      bloomExpectedItems = 100L)
    t.create(frame((1, "42", "p1"), (2, "7", "p2")))
    val total = t.candidateFiles().size
    // the bloom was built with putString("42"); a Long probe hashes
    // unrelated bytes — it must consult nothing and keep every file
    assert(t.candidateFilesEq(("val", 42L)).size == total,
      "long probe pruned against a string-built bloom")
    // same-family probe still prunes and still finds the row
    assert(t.candidateFilesEq(("val", "42")).size < total)
    assert(t.readWhereEq(("val", "42")).select("id").head().getInt(0) == 1)
  }

  test("bloom basenames stay unique when ONE task writes multiple partition dirs") {
    import org.apache.spark.sql.functions.col
    // clusterFiles=1 + partitionCol: a single range task writes both
    // partition dirs, and Spark's dynamic-partition writer reuses the
    // same task file name in each (per-dir counter) — without globally
    // unique basenames, fileBlooms would attach a bloom to the WRONG
    // file and prune incorrectly
    val t = SnapshotTable(spark, tmp("snapbloomuniq"), "id",
      partitionCol = Some("part"), clusterBy = Seq("id"), clusterFiles = 1,
      bloomCols = Seq("val"), bloomExpectedItems = 100L)
    t.create(frame((1, "aa", "p1"), (2, "bb", "p2")))
    val files = t.candidateFiles()
    assert(files.size == 2, s"fixture wrong: ${files.map(_.path)}")
    assert(files.map(_.path.split('/').last).distinct.size == 2,
      "basename collision across partition dirs")
    assert(files.forall(_.bloom("val").isDefined),
      "a file lost its bloom to the basename collision")
    assert(t.readWhereEq(("val", "aa")).select("id").head().getInt(0) == 1)
    assert(t.readWhereEq(("val", "bb")).select("id").head().getInt(0) == 2)
  }

  test("blooms ride carried-over files across upserts") {
    import org.apache.spark.sql.functions.col
    val path = tmp("snapbloomcarry")
    val t = SnapshotTable(spark, path, "id", partitionCol = Some("part"),
      bloomCols = Seq("val"), bloomExpectedItems = 100L)
    t.create(frame((1, "alpha", "p1"), (2, "beta", "p2"), (3, "gamma", "p2")))
    t.upsert(frame((1, "ALPHA", "p1"))) // rewrites only p1; p2 carries over
    val p2 = t.candidateFiles().filter(_.path.startsWith("part=p2"))
    assert(p2.nonEmpty && p2.forall(_.bloom("val").isDefined),
      "carried-over p2 files lost their blooms")
    // the probe hits only p2's files (plus possible false positives in p1)
    val hit = t.candidateFilesEq(("val", "beta"))
    assert(hit.exists(_.path.startsWith("part=p2")))
    assert(t.readWhereEq(("val", "beta")).select("id").head().getInt(0) == 2)
    // rewritten p1 got a FRESH bloom: new value found, old value's rows gone
    assert(t.readWhereEq(("val", "ALPHA")).count() == 1)
    assert(t.readWhereEq(("val", "alpha")).count() == 0)
  }

  test("concurrent commit of the same version: loser fails, table intact") {
    val path = tmp("snapcc")
    val t = SnapshotTable(spark, path, "id", Some("part"))
    t.create(frame((1, "a", "p1")))
    // forge a competing v2 manifest, then attempt an upsert (also v2)
    val fs = new Path(path).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val live = fs.listStatus(new Path(s"$path/data/part=p1"))
      .map(st => "part=p1/" + st.getPath.getName)
      .filter(_.endsWith(".parquet"))
    val out = fs.create(new Path(s"$path/_commits/v000000002.manifest"), false)
    out.write(("version\t2\n" + live.mkString("\n") + "\n").getBytes("UTF-8"))
    out.close()
    intercept[IllegalStateException] {
      // direct probe of the commit primitive: committing a version that
      // already exists (the losing side of the race) must throw, not
      // clobber the winner's manifest
      // name-based lookup, trailing default params padded with their
      // None/empty defaults — the signature has grown overrides before
      // and a positional getDeclaredMethod breaks on each one
      val m = classOf[SnapshotTable].getDeclaredMethods
        .find(_.getName == "commitManifest")
        .getOrElse(fail("commitManifest not found"))
      m.setAccessible(true)
      val defaults = m.getParameterTypes.drop(3).map { pt =>
        if (pt == classOf[Option[_]]) None
        else if (pt == classOf[Map[_, _]]) Map.empty
        else fail(s"unexpected commitManifest param type $pt")
      }
      try m.invoke(t, (Seq[AnyRef](java.lang.Long.valueOf(2L),
        live.toSeq.map(SnapshotTable.FileEntry(_, Map.empty)),
        frame((1, "a", "p1")).schema) ++ defaults): _*)
      catch { case e: java.lang.reflect.InvocationTargetException => throw e.getCause }
    }
    assert(t.read.count() == 1, "losing commit corrupted the table")
  }

  test("two writers racing the same version: exactly one wins, loser fails cleanly") {
    import java.util.concurrent.{CyclicBarrier, Executors, TimeUnit}
    val path = tmp("snaprace")
    val results = new java.util.concurrent.ConcurrentHashMap[Int, Either[Throwable, Unit]]()
    val barrier = new CyclicBarrier(2)
    val pool = Executors.newFixedThreadPool(2)
    (0 to 1).foreach { i =>
      pool.submit(new Runnable {
        def run(): Unit = {
          val t = SnapshotTable(spark, path, "id", Some("part"))
          val df = frame((i + 10, s"w$i", "p1"))
          barrier.await(60, TimeUnit.SECONDS)
          results.put(i,
            try { t.create(df); Right(()) }
            catch { case e: Throwable => Left(e) })
        }
      })
    }
    pool.shutdown()
    assert(pool.awaitTermination(180, TimeUnit.SECONDS), "race threads hung")
    val (wins, losses) = (0 to 1).partition(i => results.get(i).isRight)
    assert(wins.size == 1,
      s"optimistic concurrency must elect exactly one winner: $results")
    // the loser failed cleanly — either at the exists precheck (table
    // already created) or at the atomic commit op (version conflict)
    val msg = results.get(losses.head).swap.toOption.get.getMessage
    assert(msg.contains("commit conflict") || msg.contains("already exists"),
      s"loser died with an undocumented error: $msg")
    // and left nothing visible: one committed version, the winner's row
    // only (the loser's data files are manifest-unreferenced orphans)
    val reader = SnapshotTable(spark, path, "id", Some("part"))
    assert(reader.currentVersion.contains(1L))
    val w = wins.head
    assert(contents(reader) == Seq((w + 10) -> s"w$w"))
  }

  test("_latest checkpoint: fresh, stale, corrupt, and missing hints all resolve") {
    val path = tmp("snaphint")
    val t = SnapshotTable(spark, path, "id", Some("part"))
    t.create(frame((1, "a", "p1")))
    (2 to 6).foreach(i => t.upsert(frame((i, s"v$i", "p1"))))
    val fs = new Path(path).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val hint = new Path(s"$path/_commits/_latest")
    def hintText: String = {
      val in = fs.open(hint)
      try new String(
        org.apache.commons.io.IOUtils.toByteArray(in), "UTF-8").trim
      finally in.close()
    }
    def rewrite(s: String): Unit = {
      val out = fs.create(hint, true)
      try out.write(s.getBytes("UTF-8")) finally out.close()
    }
    // fresh: every commit rewrote it, so the read path is hint + one
    // forward probe — O(1) metadata ops however long the history grows
    assert(hintText == "6")
    assert(t.currentVersion.contains(6L))
    // stale (writer crashed between commit and hint write, or a racing
    // writer's hint landed last): forward probe recovers the real head
    rewrite("2")
    assert(t.currentVersion.contains(6L))
    // pointing past the end (fabricated/rolled back): manifest-exists
    // check rejects it, listing fallback answers
    rewrite("99")
    assert(t.currentVersion.contains(6L))
    // corrupt: unparseable content falls back to the listing
    rewrite("not-a-version")
    assert(t.currentVersion.contains(6L))
    // missing entirely (pre-checkpoint table): listing fallback
    fs.delete(hint, false)
    assert(t.currentVersion.contains(6L))
    // and the next commit restores the fast path
    t.upsert(frame((7, "g", "p1")))
    assert(hintText == "7")
    assert(t.currentVersion.contains(7L))
  }

  test("delete: matching rows removed atomically; non-matching files carry over") {
    val path = tmp("snapdel")
    val t = SnapshotTable(spark, path, "id", Some("part"))
    t.create(frame((1, "a", "p1"), (2, "b", "p2"), (3, "c", "p2")))
    def filesOf(part: String) = new java.io.File(s"$path/data/part=$part")
      .listFiles().filter(_.getName.endsWith(".parquet"))
      .map(f => f.getName -> f.lastModified()).toMap
    val p1Before = filesOf("p1")
    t.delete(col("val") === "b")
    assert(contents(t) == Seq(1 -> "a", 3 -> "c"))
    assert(t.currentVersion.contains(2L))
    // the file with no matching row was never rewritten
    assert(filesOf("p1") == p1Before, "unmatched file was rewritten")
    // old version still time-travelable
    assert(t.readVersion(1).count() == 3)
  }

  test("delete SQL semantics: NULL predicate keeps the row; no match commits nothing") {
    val t = SnapshotTable(spark, tmp("snapdelnull"), "id", Some("part"))
    t.create(Seq((1, Some("a"), "p1"), (2, None, "p1"), (3, Some("b"), "p1"))
      .toDF("id", "val", "part"))
    t.delete(col("val") === "zzz") // matches nothing (NULL rows are not TRUE)
    assert(t.currentVersion.contains(1L), "no-op delete advanced the version")
    t.delete(col("val") === "a")
    // row 2's predicate is NULL — kept, exactly like SQL DELETE WHERE
    assert(t.read.orderBy("id").select("id").as[Int].collect().toSeq == Seq(2, 3))
  }

  test("a handle without partitionCol resolves the layout from the manifest") {
    val path = tmp("snappcless")
    SnapshotTable(spark, path, "id", Some("part"))
      .create(frame((1, "a", "p1"), (2, "b", "p2")))
    // read-only handle, no partitionCol declared: partition values must
    // come back real, not null (the manifest logs the layout)
    val bare = SnapshotTable(spark, path, "id")
    assert(bare.read.orderBy("id").select("part")
      .collect().map(_.getString(0)).toSeq == Seq("p1", "p2"))
    // and an upsert through the bare handle keeps the PARTITIONED
    // layout — it must not silently rewrite the table unpartitioned
    bare.upsert(frame((3, "c", "p3")))
    assert(new java.io.File(s"$path/data/part=p3").exists(),
      "bare-handle upsert lost the partition layout")
    assert(bare.read.count() == 3)
  }

  test("CDC: a delete that empties a partition still emits before-images") {
    val t = SnapshotTable(spark, tmp("snapdelpart"), "id", Some("part"))
    t.create(frame((1, "a", "p1"), (2, "b", "p2"), (3, "c", "p2")))
    t.delete(col("part") === "p1") // p1 loses its only file, no new file
    val delta = t.changesDelta(1, 2)
      .select(col("id"), col(SnapshotTable.ImageCol).as("img"))
      .as[(Int, String)].collect().toSeq.sorted
    assert(delta == Seq((1, "before")))
    // delete-all: every row must surface as a before-image
    val t2 = SnapshotTable(spark, tmp("snapdelall2"), "id", Some("part"))
    t2.create(frame((7, "x", "p1"), (8, "y", "p2")))
    t2.delete(lit(true))
    val all = t2.changesDelta(1, 2)
      .select(col("id"), col(SnapshotTable.ImageCol).as("img"))
      .as[(Int, String)].collect().toSeq.sorted
    assert(all == Seq((7, "before"), (8, "before")))
  }

  test("delete flows through CDC as before-images with no paired after") {
    val t = SnapshotTable(spark, tmp("snapdelcdc"), "id", Some("part"))
    t.create(frame((1, "a", "p1"), (2, "b", "p1"), (3, "c", "p2")))
    t.delete(col("id") === 2)
    val delta = t.changesDelta(1, 2)
      .select(col("id"), col(SnapshotTable.ImageCol).as("img"))
      .as[(Int, String)].collect().toSeq.sorted
    // only the deleted row appears, as a before image; the rewritten
    // file's surviving row and the untouched p2 file contribute nothing
    assert(delta == Seq((2, "before")))
    assert(t.changes(1, 2).count() == 0)
  }

  test("delete with stats bounds prunes files on manifest metadata alone") {
    val t = SnapshotTable(spark, tmp("snapdelskip"), "id", None,
      statsCols = Seq("id"), clusterBy = Seq("id"), clusterFiles = 4)
    t.create((1 to 100).map(i => (i, s"v$i", "p")).toDF("id", "val", "part"))
    val v1All = t.candidateFiles(("id", Int.MinValue, Int.MaxValue)).map(_.path)
    assert(v1All.size == 4)
    val v1Overlapping = t.candidateFiles(("id", Int.MinValue, 10)).map(_.path)
    assert(v1Overlapping.size < v1All.size, "bounds pruned nothing at v1")
    t.delete(col("id") <= 10, bounds = Seq(("id", Int.MinValue, 10)))
    assert(t.read.count() == 90)
    // every v1 file OUTSIDE the bounds must carry over verbatim (same
    // manifest path = same physical file, zero rewrite I/O); only the
    // overlapping file(s) were replaced (re-clustered at clusterFiles)
    val v2All = t.candidateFiles(("id", Int.MinValue, Int.MaxValue)).map(_.path).toSet
    val carried = v1All.filterNot(v1Overlapping.contains)
    assert(carried.forall(v2All), "a non-overlapping file was rewritten")
    assert(v1Overlapping.forall(p => !v2All(p)), "an overlapping file survived")
    assert(t.readVersion(1).count() == 100)
  }

  test("update: matched rows rewritten in place, one commit, files carry over") {
    val path = tmp("snapupd")
    val t = SnapshotTable(spark, path, "id", Some("part"))
    t.create(frame((1, "a", "p1"), (2, "b", "p2"), (3, "c", "p2")))
    def filesOf(part: String) = new java.io.File(s"$path/data/part=$part")
      .listFiles().filter(_.getName.endsWith(".parquet"))
      .map(f => f.getName -> f.lastModified()).toMap
    val p1Before = filesOf("p1")
    t.update(Map("val" -> upper(col("val"))), col("id") >= 2)
    assert(contents(t) == Seq(1 -> "a", 2 -> "B", 3 -> "C"))
    assert(t.currentVersion.contains(2L))
    assert(filesOf("p1") == p1Before, "unmatched file was rewritten")
    assert(t.readVersion(1).count() == 3)
  }

  test("update SET expressions all evaluate against the OLD row (swap works)") {
    val t = SnapshotTable(spark, tmp("snapswap"), "id", None)
    t.create(Seq((1, "x", "y")).toDF("id", "a", "b"))
    t.update(Map("a" -> col("b"), "b" -> col("a")), lit(true))
    val r = t.read.head()
    assert((r.getAs[String]("a"), r.getAs[String]("b")) == ("y", "x"))
  }

  test("update may move rows across partitions; values cast back to column type") {
    val t = SnapshotTable(spark, tmp("snapmove"), "id", Some("part"))
    t.create(frame((1, "a", "p1"), (2, "b", "p2")))
    t.update(Map("part" -> lit("p9")), col("id") === 1)
    val parts = t.read.orderBy("id").select("part").collect().map(_.getString(0))
    assert(parts.toSeq == Seq("p9", "p2"))
    // the moved row physically lives in its new partition dir
    assert(new java.io.File(t.path + "/data/part=p9").exists())
  }

  test("timestamp time travel: versionAt maps instants to commit versions") {
    val t = SnapshotTable(spark, tmp("snapasof"), "id", Some("part"))
    assert(t.versionAt(System.currentTimeMillis()).isEmpty) // no table yet
    t.create(frame((1, "a", "p1")))
    val afterV1 = System.currentTimeMillis()
    Thread.sleep(1100) // local FS mtime can be second-granular
    t.upsert(frame((2, "b", "p1")))
    val afterV2 = System.currentTimeMillis()
    assert(t.versionAt(afterV1).contains(1L))
    assert(t.versionAt(afterV2).contains(2L))
    assert(t.versionAt(0L).isEmpty) // before the table existed
    assert(t.readAsOf(afterV1).count() == 1)
    assert(t.readAsOf(afterV2).count() == 2)
    // the source option resolves the same way
    assert(spark.read.format("graft")
      .option("timestampAsOf", afterV1).load(t.path).count() == 1)
  }

  test("restoreTo: metadata-only rollback, files shared, bad version travelable") {
    val path = tmp("snaprestore")
    val t = SnapshotTable(spark, path, "id", Some("part"))
    t.create(frame((1, "a", "p1"), (2, "b", "p2")))
    t.upsert(frame((2, "BAD", "p2"), (3, "x", "p2")))
    t.restoreTo(1)
    assert(t.currentVersion.contains(3L))
    assert(contents(t) == Seq(1 -> "a", 2 -> "b"))
    // metadata-only: v3 references exactly v1's physical files
    assert(t.readVersion(3).inputFiles.sorted.toSeq ==
      t.readVersion(1).inputFiles.sorted.toSeq)
    // the undone version stays readable until vacuum
    assert(t.readVersion(2).count() == 3)
    // restoring to the current version is a no-op (no empty commit)
    t.restoreTo(3)
    assert(t.currentVersion.contains(3L))
    intercept[IllegalArgumentException](t.restoreTo(99))
  }

  test("vacuum after restore keeps files the restored manifest references") {
    val path = tmp("snaprestvac")
    val t = SnapshotTable(spark, path, "id", Some("part"))
    t.create(frame((1, "a", "p1"), (2, "b", "p2")))     // v1
    t.upsert(frame((2, "BAD", "p2"), (3, "x", "p2")))   // v2
    t.restoreTo(1)                                      // v3 = v1's files
    t.vacuum(keepVersions = 2, retentionMs = 0)         // drops v1's manifest
    // v3 references v1's physical files — they must survive the vacuum
    // even though v1's own manifest is gone
    assert(contents(t) == Seq(1 -> "a", 2 -> "b"))
    assert(t.readVersion(2).count() == 3) // still within keepVersions
    intercept[Exception](t.readVersion(1)) // manifest reclaimed
  }

  test("CHECK constraints: violating batch fails whole before commit; NULL passes") {
    val path = tmp("snapcheck")
    def table = SnapshotTable(spark, path, "id", Some("part"),
      checkConstraints = Seq("val_nonempty" -> (length(col("val")) > 0)))
    val t = table
    t.create(frame((1, "a", "p1"), (2, "b", "p2")))
    // a violating upsert fails whole: nothing committed, table intact.
    // Enforcement happens INSIDE the write job (Delta-invariant style),
    // so the failure surfaces as the job's error carrying the message.
    val e = intercept[Exception] {
      t.upsert(frame((3, "", "p1"), (4, "ok", "p2")))
    }
    def messages(x: Throwable): String =
      if (x == null) "" else x.getMessage + messages(x.getCause)
    assert(messages(e).contains("CHECK constraint 'val_nonempty'"))
    assert(t.currentVersion.contains(1L))
    assert(t.read.count() == 2)
    // NULL predicate passes (SQL CHECK semantics)
    t.upsert(Seq((5, null: String, "p1")).toDF("id", "val", "part"))
    assert(t.read.count() == 3)
    // update enforcement checks POST-images of modified rows only —
    // the nulled row 5 (constraint NULL, passes) is carried unchecked
    intercept[Exception] {
      t.update(Map("val" -> lit("")), col("id") === 1)
    }
    assert(t.read.filter(col("id") === 1).select("val").head().getString(0) == "a")
    t.update(Map("val" -> lit("A")), col("id") === 1)
    assert(t.read.filter(col("id") === 1).select("val").head().getString(0) == "A")
  }

  test("skipping layout persists in the manifest: bare-handle rewrites keep stats and blooms") {
    val path = tmp("snaplayout")
    val defining = SnapshotTable(spark, path, "k",
      statsCols = Seq("k"), clusterBy = Seq("k"), clusterFiles = 4,
      bloomCols = Seq("k"))
    defining.create(spark.range(0, 400).select(col("id").as("k"),
      (col("id") * 2).as("v")))
    // a BARE handle — as the SQL/sink paths construct — rewrites rows;
    // the new files must still carry k's min/max stats and bloom
    val bare = SnapshotTable(spark, path, "k")
    bare.upsert(spark.range(400, 800).select(col("id").as("k"),
      (col("id") * 2).as("v")))
    val t = SnapshotTable(spark, path, "k")
    // every live file has k stats: an impossible range prunes ALL files
    assert(t.candidateFiles(("k", -100L, -50L)).isEmpty,
      "a rewrite through a bare handle dropped the min/max stats")
    // blooms survive too: a point probe for an absent key prunes all
    assert(t.candidateFilesEq(("k", 999999L)).isEmpty,
      "a rewrite through a bare handle dropped the bloom index")
    assert(t.read.count() == 800)
  }

  test("dropCheckConstraint: metadata-only commit, later writers stop enforcing") {
    val path = tmp("snapdropchk")
    SnapshotTable(spark, path, "id", Some("part"),
      checkConstraints = Seq("val_nonempty" -> (length(col("val")) > 0)))
      .create(frame((1, "a", "p1")))
    val t = SnapshotTable(spark, path, "id", Some("part"))
    intercept[Exception] { t.upsert(frame((2, "", "p1"))) } // still bound
    intercept[IllegalArgumentException] {
      t.dropCheckConstraint("nope") // unknown name fails loudly
    }
    val before = t.candidateFiles().map(_.path).toSet
    t.dropCheckConstraint("val_nonempty")
    assert(t.candidateFiles().map(_.path).toSet == before,
      "drop must be metadata-only (files carried by reference)")
    // the dropping handle AND fresh handles both stop enforcing
    t.upsert(frame((2, "", "p1")))
    SnapshotTable(spark, path, "id", Some("part"))
      .upsert(frame((3, "", "p2")))
    assert(t.read.count() == 3)
  }

  test("restore succeeds when a logged constraint references an evolved column") {
    val path = tmp("snaprestorechk")
    val t1 = SnapshotTable(spark, path, "id", Some("part"))
    t1.create(frame((1, "a", "p1")))                        // v1: (id,val,part)
    t1.upsert(Seq((2, "b", "p2", 5)).toDF("id", "val", "part", "extra"),
      evolveSchema = true)                                   // v2: +extra
    SnapshotTable(spark, path, "id", Some("part"),
      checkConstraints = Seq("extra_pos" -> (coalesce(col("extra"),
        lit(1)) > 0)))
      .upsert(Seq((3, "c", "p1", 7)).toDF("id", "val", "part", "extra"))
    // v3 logged the constraint; restoring to v1 (whose schema has no
    // 'extra') must not re-analyze it against the old schema and fail
    val t = SnapshotTable(spark, path, "id", Some("part"))
    t.restoreTo(1)
    assert(t.read.columns.toSeq == Seq("id", "val", "part"))
    assert(t.read.count() == 1)
  }

  test("CHECK constraints persist in the manifest: every writer is bound, not just the defining handle") {
    val path = tmp("snapchecklog")
    SnapshotTable(spark, path, "id", Some("part"),
      checkConstraints = Seq("val_nonempty" -> (length(col("val")) > 0)))
      .create(frame((1, "a", "p1")))
    // a FRESH handle with no constructor constraints — as the
    // format("graft") sink or SQL INSERT constructs — still enforces
    val bare = SnapshotTable(spark, path, "id", Some("part"))
    val e = intercept[Exception] { bare.upsert(frame((2, "", "p1"))) }
    def messages(x: Throwable): String =
      if (x == null) "" else x.getMessage + messages(x.getCause)
    assert(messages(e).contains("CHECK constraint 'val_nonempty'"))
    assert(bare.read.count() == 1)
    // the registered sink path is bound too
    val e2 = intercept[Exception] {
      Seq((3, "", "p1")).toDF("id", "val", "part")
        .write.format("graft").option("primaryKey", "id")
        .mode("append").save(path)
    }
    assert(messages(e2).contains("CHECK constraint 'val_nonempty'"))
    // compliant rows still flow through the bare handle, and the
    // constraint survives ITS commit onto the next manifest as well
    bare.upsert(frame((4, "ok", "p2")))
    assert(bare.read.count() == 2)
    val e3 = intercept[Exception] {
      SnapshotTable(spark, path, "id", Some("part"))
        .upsert(frame((5, "", "p1")))
    }
    assert(messages(e3).contains("CHECK constraint 'val_nonempty'"))
  }

  test("setProperties cannot silently no-op an unset of a ctor-declared property") {
    val path = tmp("snapprops")
    val t = SnapshotTable(spark, path, "id", Some("part"),
      tableProps = Map("ttl" -> "7d"))
    t.create(frame((1, "a", "p1")))
    // effectiveProps re-applies ctor tableProps after the unset, so the
    // "removed" property would still be logged — fail loudly instead
    val e = intercept[IllegalArgumentException] {
      t.setProperties(Map.empty, remove = Seq("ttl"))
    }
    assert(e.getMessage.contains("ttl"))
    // a handle without the override removes it for real
    val bare = SnapshotTable(spark, path, "id")
    bare.setProperties(Map.empty, remove = Seq("ttl"))
    assert(!bare.properties.contains("ttl"))
  }

  test("delete can empty the table; a declared schema types the empty read") {
    val schema = frame((1, "a", "p1")).schema
    val t = SnapshotTable(spark, tmp("snapdelall"), "id", Some("part"),
      declaredSchema = Some(schema))
    t.create(frame((1, "a", "p1"), (2, "b", "p2")))
    t.delete(lit(true))
    assert(t.read.count() == 0)
    assert(t.read.schema.fieldNames.toSeq == schema.fieldNames.toSeq)
    assert(t.readVersion(1).count() == 2)
  }

  test("replacePartitions: touched partitions replaced wholesale, others carried by reference") {
    val root = Files.createTempDirectory("graft_dynover").toString
    val t = SnapshotTable(spark, s"$root/t", "id", partitionCol = Some("p"))
    t.create(Seq((1, "x", "old1"), (2, "x", "old2"), (3, "y", "keep"))
      .toDF("id", "p", "v").select("id", "v", "p")
      .select(col("id"), col("p"), col("v")))
    val yFilesBefore = t.candidateFilesEq().map(_.path)
      .filter(_.startsWith("p=y")).toSet

    // overwrite ONLY p=x: one new row replaces both old rows there
    t.replacePartitions(Seq((9, "x", "new")).toDF("id", "p", "v"))

    val t2 = SnapshotTable(spark, s"$root/t", "id")
    assert(t2.read.orderBy("id").collect()
      .map(r => (r.getInt(0), r.getString(1), r.getString(2))).toSeq ==
      Seq((3, "y", "keep"), (9, "x", "new")))
    // p=y's physical file is the SAME one (carried by reference)
    val yFilesAfter = t2.candidateFilesEq().map(_.path)
      .filter(_.startsWith("p=y")).toSet
    assert(yFilesAfter == yFilesBefore)
    // prior version still time-travels to the pre-overwrite state
    assert(t2.readVersion(1).count() == 3)

    // unpartitioned tables refuse (replace() is the right tool)
    val flat = SnapshotTable(spark, s"$root/flat", "id")
    flat.create(Seq((1, "a")).toDF("id", "v"))
    intercept[IllegalArgumentException] {
      flat.replacePartitions(Seq((2, "b")).toDF("id", "v"))
    }
  }

  test("concurrent blind appends both land: the version race re-bases, never drops") {
    val root = Files.createTempDirectory("graft_ccappend").toString
    // two handles on the same table — the second's append collides
    // with the first's commit and must re-base onto it
    val a = SnapshotTable(spark, s"$root/t", "id")
    val b = SnapshotTable(spark, s"$root/t", "id")
    a.create(Seq((1, "base")).toDF("id", "v"))
    val pool = java.util.concurrent.Executors.newFixedThreadPool(2)
    try {
      val fa = pool.submit(new java.util.concurrent.Callable[Unit] {
        override def call(): Unit =
          a.append(Seq((2, "fromA")).toDF("id", "v"))
      })
      val fb = pool.submit(new java.util.concurrent.Callable[Unit] {
        override def call(): Unit =
          b.append(Seq((3, "fromB")).toDF("id", "v"))
      })
      fa.get(); fb.get()
    } finally pool.shutdown()
    val got = SnapshotTable(spark, s"$root/t", "id").read
      .orderBy("id").collect().map(_.getInt(0)).toSeq
    assert(got == Seq(1, 2, 3), s"an append was lost: $got")
  }

  test("stream-epoch commit promotes only reported files; attempt-tmp partials never promote") {
    val root = Files.createTempDirectory("graft_stage_only").toString
    val t = SnapshotTable(spark, s"$root/t", "id")
    val df = Seq((1, "a")).toDF("id", "v")
    t.createEmpty(df.schema)

    // a deterministic epoch stage dir holding: this attempt's file, a
    // crashed PRIOR attempt's committed leftover, and a hard-killed
    // task's _tmp partial — only the first may reach the table
    val stage = new Path(s"$root/t/_stage/stream-q-0")
    val fs = stage.getFileSystem(spark.sparkContext.hadoopConfiguration)
    def stageOne(sub: String, rows: Seq[(Int, String)]): String = {
      val tmp = s"$root/tmp-${sub.replace('/', '_')}"
      rows.toDF("id", "v").coalesce(1).write.mode("overwrite").parquet(tmp)
      val part = fs.listStatus(new Path(tmp))
        .map(_.getPath).filter(_.getName.endsWith(".parquet")).head
      val rel = s"$sub${part.getName}"
      val dest = new Path(stage, rel)
      fs.mkdirs(dest.getParent)
      require(fs.rename(part, dest))
      rel
    }
    val mine = stageOne("", Seq((1, "a")))
    stageOne("", Seq((99, "leftover")))
    stageOne("_tmp-42/", Seq((666, "partial")))

    assert(t.commitStagedStreamAppend("stream-q-0", df.schema,
      "stream.epoch.q", 0L, truncate = false, stagedFiles = Set(mine)))
    val got = t.read.collect().map(r => (r.getInt(0), r.getString(1))).toSeq
    assert(got == Seq((1, "a")),
      s"leftover or partial staged files leaked into the commit: $got")

    // a replayed epoch (same high-water mark) commits nothing
    val v = t.currentVersion.get
    assert(!t.commitStagedStreamAppend("stream-q-0", df.schema,
      "stream.epoch.q", 0L, truncate = false, stagedFiles = Set.empty))
    assert(t.currentVersion.get == v)
  }

  test("upsert into all-new partitions conforms to the TABLE schema (columns survive)") {
    val t = SnapshotTable(spark, tmp("snapconform"), "id", Some("part"))
    t.create(Seq((1, "a", 10, "p1")).toDF("id", "val", "extra", "part"))
    // batch carries the same columns but string-typed id and a new
    // partition value — the commit must keep the table's types, not
    // coerce the logged schema out from under the carried-over file
    t.upsert(Seq(("2", "b", "20", "p9")).toDF("id", "val", "extra", "part"))
    val got = t.read.orderBy("id")
    assert(got.schema("id").dataType == org.apache.spark.sql.types.IntegerType)
    assert(got.schema("extra").dataType == org.apache.spark.sql.types.IntegerType)
    assert(got.collect().map(r => (r.getAs[Int]("id"), r.getAs[String]("val"),
      r.getAs[Int]("extra"))).toSeq == Seq((1, "a", 10), (2, "b", 20)))
    // a batch MISSING a table column must fail loudly, not silently
    // drop the column from the logged schema
    intercept[IllegalArgumentException] {
      t.upsert(Seq((3, "c", "p1")).toDF("id", "val", "part"))
    }
  }

  test("CDC has multiset semantics: duplicate-row append and removal emit images") {
    val t = SnapshotTable(spark, tmp("snapmultiset"), "id", Some("part"))
    t.create(frame((1, "a", "p1")))
    // append keeps duplicate rows by design; the identical row must
    // still produce an 'after' image (set-EXCEPT would emit nothing
    // and an incremental consumer would drift)
    t.append(frame((1, "a", "p1")))
    val imgs = t.changesDelta(1, 2)
      .select(SnapshotTable.ImageCol).collect().map(_.getString(0)).toSeq
    assert(imgs == Seq("after"), s"duplicate insert emitted $imgs")
    assert(t.changes(1, 2).count() == 1)
    // removing ONE copy of the duplicate emits exactly one before-image
    t.delete(col("val") =!= "zzz") // no-op guard: predicate matches all
    val t2 = SnapshotTable(spark, tmp("snapmultiset2"), "id", Some("part"))
    t2.create(frame((5, "x", "p1")))
    t2.append(frame((5, "x", "p1")))
    t2.compact(targetFileBytes = 1L << 30) // packs the pair into one file
    val afterCompact = t2.read.count()
    assert(afterCompact == 2, "compact must not dedup rows")
  }

  test("vacuum with a LARGER keepVersions than a prior run does not crash") {
    val t = SnapshotTable(spark, tmp("snapvacgrow"), "id", Some("part"))
    t.create(frame((1, "a", "p1")))
    (2 to 8).foreach(i => t.upsert(frame((i, s"v$i", "p1"))))
    t.vacuum(keepVersions = 2, retentionMs = 0)
    // manifests below v7 are gone; a wider window must skip them, not
    // throw FileNotFound while building the referenced set
    t.vacuum(keepVersions = 5, retentionMs = 0)
    assert(contents(t).size == 8)
    assert(t.hasVersion(8L) && !t.hasVersion(6L))
  }

  // ---- delta-log commit records (action deltas + periodic checkpoints)

  private def fsOf(path: String) =
    new Path(path).getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def commitText(path: String, name: String): String = {
    val fs = fsOf(path)
    val in = fs.open(new Path(s"$path/_commits/$name"))
    try new String(
      org.apache.commons.io.IOUtils.toByteArray(in), "UTF-8")
    finally in.close()
  }

  test("delta log: commits after v1 write O(touched-files) action deltas") {
    val path = tmp("snapdelta")
    val t = SnapshotTable(spark, path, "id", Some("part"))
    t.create(frame((1, "a", "p1"), (2, "b", "p2"), (3, "c", "p3")))
    t.upsert(frame((2, "B2", "p2"))) // touches ONLY p2
    val fs = fsOf(path)
    assert(fs.exists(new Path(s"$path/_commits/v000000001.manifest")),
      "v1 must be a full manifest (its own base checkpoint)")
    assert(!fs.exists(new Path(s"$path/_commits/v000000002.manifest")))
    assert(fs.exists(new Path(s"$path/_commits/v000000002.delta")))
    // the delta's action lines name p2's files only — untouched
    // partitions never re-serialize (the O(touched) claim, directly)
    val actions = commitText(path, "v000000002.delta").linesIterator
      .filter(l => l.startsWith("add\t") || l.startsWith("remove\t")).toSeq
    assert(actions.nonEmpty)
    assert(actions.forall(_.contains("part=p2")),
      s"delta serialized untouched partitions: $actions")
    // fresh handle replays base + delta to the same state
    val r = SnapshotTable(spark, path, "id", Some("part"))
    assert(contents(r) == Seq(1 -> "a", 2 -> "B2", 3 -> "c"))
  }

  test("delta log: checkpoint at the interval; fresh readers time-travel across it") {
    val path = tmp("snapckpt")
    val t = SnapshotTable(spark, path, "id", Some("part"))
    t.create(frame((1, "a", "p1")))
    (2 to 13).foreach(i => t.upsert(frame((i, s"v$i", "p1"))))
    val fs = fsOf(path)
    assert(fs.exists(new Path(s"$path/_commits/v000000010.manifest")),
      "interval checkpoint missing at v10")
    assert(!fs.exists(new Path(s"$path/_commits/v000000007.manifest")),
      "non-interval version must not checkpoint")
    // a checkpoint is a FULL state: header + every live file
    val ck = commitText(path, "v000000010.manifest")
    assert(ck.startsWith("version\t10\n"))
    // fresh handle: head reads from v10's checkpoint + 3 deltas;
    // time travel BELOW the checkpoint replays from the v1 base
    val r = SnapshotTable(spark, path, "id", Some("part"))
    assert(contents(r).size == 13)
    assert(r.readVersion(7).count() == 7)
    assert(r.readVersion(12).count() == 12)
  }

  test("delta log: a lost checkpoint costs replay depth, never correctness") {
    val path = tmp("snaplostck")
    val t = SnapshotTable(spark, path, "id", Some("part"))
    t.create(frame((1, "a", "p1")))
    (2 to 12).foreach(i => t.upsert(frame((i, s"v$i", "p1"))))
    fsOf(path).delete(new Path(s"$path/_commits/v000000010.manifest"), false)
    val r = SnapshotTable(spark, path, "id", Some("part"))
    assert(contents(r).size == 12, "reader must replay through the gap")
    assert(r.readVersion(11).count() == 11)
  }

  test("vacuum materializes a checkpoint at the horizon before dropping its base chain") {
    val path = tmp("snapvacck")
    val t = SnapshotTable(spark, path, "id", Some("part"))
    t.create(frame((1, "a", "p1")))
    (2 to 8).foreach(i => t.upsert(frame((i, s"v$i", "p1"))))
    t.vacuum(keepVersions = 3, retentionMs = 0) // keep v6..v8
    val fs = fsOf(path)
    assert(fs.exists(new Path(s"$path/_commits/v000000006.manifest")),
      "horizon version must gain a full checkpoint")
    assert(!fs.exists(new Path(s"$path/_commits/v000000001.manifest")))
    assert(!fs.exists(new Path(s"$path/_commits/v000000005.delta")))
    // every retained version reconstructs on a FRESH handle (no cache)
    val r = SnapshotTable(spark, path, "id", Some("part"))
    assert(r.readVersion(6).count() == 6)
    assert(r.readVersion(7).count() == 7)
    assert(contents(r).size == 8)
    // a reader pinned below the horizon fails loudly, not wrongly
    val e = intercept[IllegalStateException](r.readVersion(4).count())
    assert(e.getMessage.contains("no commit record"), e.getMessage)
  }

  test("vacuum never reclaims files reachable from the retained checkpoint+delta chain") {
    val path = tmp("snapvacreach")
    val t = SnapshotTable(spark, path, "id", Some("part"))
    // rows spread over partitions so old versions' files stay live in
    // later snapshots (upserts touch p-own partitions only)
    t.create(frame((1, "a", "p1")))
    t.upsert(frame((2, "b", "p2")))
    t.upsert(frame((3, "c", "p3")))
    (4 to 9).foreach(i => t.upsert(frame((i, s"v$i", "p3"))))
    t.vacuum(keepVersions = 2, retentionMs = 0)
    // p1/p2's files were written at v1/v2 — far below the horizon — but
    // are still REFERENCED by the retained snapshots: they must survive
    val r = SnapshotTable(spark, path, "id", Some("part"))
    assert(contents(r).take(3) == Seq(1 -> "a", 2 -> "b", 3 -> "c"),
      "vacuum reclaimed files still referenced by retained versions")
    assert(r.read.count() == 9)
  }

  test("a legacy .commit record fails loudly on both head-resolution paths") {
    val path = tmp("snaplegacy")
    val t = SnapshotTable(spark, path, "id", Some("part"))
    t.create(frame((1, "a", "p1")))
    val fs = fsOf(path)
    val out = fs.create(new Path(s"$path/_commits/v000000002.commit"), false)
    out.write("version\t2\n".getBytes("UTF-8")); out.close()
    // hint path: _latest says v1, the forward probe must trip on the
    // legacy record instead of silently serving the stale v1 head
    val e1 = intercept[IllegalStateException](
      SnapshotTable(spark, path, "id", Some("part")).read.count())
    assert(e1.getMessage.contains("legacy-format"), e1.getMessage)
    // listing path: with the hint gone the directory scan must trip too
    fs.delete(new Path(s"$path/_commits/_latest"), false)
    val e2 = intercept[IllegalStateException](
      SnapshotTable(spark, path, "id", Some("part")).read.count())
    assert(e2.getMessage.contains("legacy-format"), e2.getMessage)
  }

  test("a corrupt delta record fails reconstruction loudly, not wrongly") {
    val path = tmp("snapcorrupt")
    val t = SnapshotTable(spark, path, "id", Some("part"))
    t.create(frame((1, "a", "p1")))
    t.upsert(frame((2, "b", "p1")))
    val out = fsOf(path).create(
      new Path(s"$path/_commits/v000000002.delta"), true)
    out.write("garbage\tnot-a-commit\n".getBytes("UTF-8")); out.close()
    val e = intercept[Exception](
      SnapshotTable(spark, path, "id", Some("part")).read.count())
    assert(e.getMessage.contains("commit header mismatch"), e.getMessage)
  }

  // ---- merge-on-read deletes (deletion vectors)

  private def dataFiles(path: String): Set[String] = {
    val fs = fsOf(path)
    def walk(p: Path): Seq[String] =
      fs.listStatus(p).toSeq.flatMap { st =>
        if (st.isDirectory) walk(st.getPath)
        else if (st.getPath.getName.endsWith(".parquet"))
          Seq(st.getPath.toString)
        else Nil
      }
    walk(new Path(s"$path/data")).toSet
  }

  test("vacuum dry run lists EXACTLY the sweep's reclaim set, touching " +
      "nothing") {
    val path = tmp("snapvacdry")
    val t = SnapshotTable(spark, path, "id", Some("part"))
    t.create(frame((1, "a", "p1"), (2, "b", "p2")))
    t.upsert(frame((1, "A", "p1"))) // p1 rewritten: v1's file unreferenced
    val before = dataFiles(path)
    val dry = t.vacuumDryRun(keepVersions = 1, retentionMs = 0)
    assert(dry.nonEmpty, "a rewritten partition left nothing to reclaim?")
    assert(dataFiles(path) == before, "dry run deleted files")
    assert(contents(t) == Seq(1 -> "A", 2 -> "b"))
    t.vacuum(keepVersions = 1, retentionMs = 0)
    val swept = (before -- dataFiles(path))
      .map(_.split("/data/", 2)(1)) // strip scheme + table prefix
    assert(swept == dry.toSet,
      s"dry run ($dry) disagreed with the sweep ($swept)")
    assert(contents(t) == Seq(1 -> "A", 2 -> "b"))
  }

  test("MoR delete: a point delete rewrites ZERO data files") {
    val path = tmp("mordel")
    val t = SnapshotTable(spark, path, "id", Some("part"))
    t.create(frame((1, "a", "p1"), (2, "b", "p1"), (3, "c", "p2")))
    val v1Files = dataFiles(path)
    t.deleteMoR(col("id") === 2)
    assert(dataFiles(path) == v1Files,
      "a merge-on-read delete wrote or removed data files")
    assert(t.currentVersion.contains(2L))
    assert(contents(t) == Seq(1 -> "a", 3 -> "c"))
    // a FRESH handle replays the vector from the delta log
    val r = SnapshotTable(spark, path, "id", Some("part"))
    assert(contents(r) == Seq(1 -> "a", 3 -> "c"))
    // time travel: v1 still sees the row, under v1's (empty) vector
    assert(r.readVersion(1).count() == 3)
  }

  test("MoR delete at 10% of a multi-file table: zero rewrites, bitmap-exact reads, cap honored") {
    val path = tmp("morbroad")
    val t = SnapshotTable(spark, path, "id",
      statsCols = Seq("id"), clusterBy = Seq("id"), clusterFiles = 8)
    t.create(spark.range(1, 100001).toDF("id")
      .selectExpr("cast(id as int) as id", "concat('v', id) as val",
        "concat('p', id % 7) as part"))
    val v1Files = dataFiles(path)
    t.deleteMoR(col("id") % 10 === 0) // 10,000 rows across every file
    assert(dataFiles(path) == v1Files,
      "a broad MoR delete must still rewrite ZERO data files")
    assert(t.read.count() == 90000L)
    assert(t.read.filter(col("id") % 10 === 0).count() == 0L)
    // every file carries a vector; the total matches exactly
    val entries = t.scanInfo()._1
    assert(entries.forall(_.deletedRows.nonEmpty))
    assert(entries.map(_.deletedBitmap.cardinality).sum == 10000L)
    // the DSv2 scan applies the bitmaps too
    assert(spark.read.format("graft").load(path).count() == 90000L)
    // a delete past the cap fails with the rewrite guidance — and it
    // fails BEFORE building (let alone collecting) a single bitmap:
    // the cap check is its own count aggregate ahead of the DV pass
    val capped = SnapshotTable(spark, path, "id",
      tableProps = Map("graft.mor.maxDeleteRows" -> "100"))
    SnapshotTable.dvBitmapsBuilt.set(0L)
    val e = intercept[IllegalArgumentException](
      capped.deleteMoR(col("id") % 3 === 0))
    assert(e.getMessage.contains("copy-on-write"), e.getMessage)
    assert(SnapshotTable.dvBitmapsBuilt.get() == 0L,
      "over-cap deleteMoR built deletion-vector bitmaps before failing")
    // …while an in-cap delete does go through the streaming bitmap pass
    t.deleteMoR(col("id") === 77)
    assert(SnapshotTable.dvBitmapsBuilt.get() > 0L)
    assert(t.read.filter(col("id") === 77).count() == 0L)
  }

  test("MoR delete rejects non-deterministic predicates") {
    val t = SnapshotTable(spark, tmp("mornondet"), "id")
    t.create(Seq((1, "a"), (2, "b")).toDF("id", "val"))
    // the predicate runs twice (cap count + bitmap pass); rand() could
    // match different row sets per evaluation → refuse up front
    val e = intercept[IllegalArgumentException](
      t.deleteMoR(org.apache.spark.sql.functions.rand() < 0.5))
    assert(e.getMessage.contains("deterministic"), e.getMessage)
    assert(t.currentVersion.contains(1L),
      "rejected non-deterministic delete advanced the version")
    // rejection must be independent of pruning: a conjunct whose
    // stats box empties the candidate set (no id is ever 1M) must not
    // turn the same bad predicate into a silent no-op — data drift
    // would then flip the call from "works" to "throws"
    val e2 = intercept[IllegalArgumentException](
      t.deleteMoR(org.apache.spark.sql.functions.rand() < 0.5 &&
        col("id") === 1000000))
    assert(e2.getMessage.contains("deterministic"), e2.getMessage)
    t.deleteMoR(col("id") === 1) // deterministic path still works
    assert(t.read.count() == 1)
  }

  test("MoR delete: SQL semantics, no-match no-commit, idempotent re-delete") {
    val t = SnapshotTable(spark, tmp("mordel2"), "id", Some("part"))
    t.create(Seq((1, "a", "p1"), (2, null: String, "p1"))
      .toDF("id", "val", "part"))
    // NULL predicate keeps the row (SQL: only TRUE deletes)
    t.deleteMoR(length(col("val")) < 0)
    assert(t.currentVersion.contains(1L), "no-match delete advanced the version")
    t.deleteMoR(col("val").isNull)
    assert(t.currentVersion.contains(2L))
    assert(t.read.count() == 1)
    // re-running the same delete sees through the existing vector: no-op
    t.deleteMoR(col("val").isNull)
    assert(t.currentVersion.contains(2L), "re-delete re-committed")
  }

  test("MoR deletes union positions; each version time-travels its own vector") {
    val t = SnapshotTable(spark, tmp("mordel3"), "id", Some("part"))
    t.create(frame((1, "a", "p1"), (2, "b", "p1"), (3, "c", "p1"), (4, "d", "p1")))
    t.deleteMoR(col("id") === 2) // v2
    t.deleteMoR(col("id") === 4) // v3: same file, second vector entry
    assert(contents(t) == Seq(1 -> "a", 3 -> "c"))
    assert(t.readVersion(2).orderBy("id").collect().map(_.getInt(0)).toSeq
      == Seq(1, 3, 4))
    assert(t.readVersion(1).count() == 4)
  }

  test("MoR-deleted rows stay gone through an upsert; the key can reinsert") {
    val t = SnapshotTable(spark, tmp("mordel4"), "id", Some("part"))
    t.create(frame((1, "a", "p1"), (2, "b", "p1")))
    t.deleteMoR(col("id") === 2)
    // upsert into the touched partition: the merge reads THROUGH the
    // vector (no resurrection), rewrites the partition, clears the DV
    t.upsert(frame((3, "c", "p1")))
    assert(contents(t) == Seq(1 -> "a", 3 -> "c"))
    t.upsert(frame((2, "B2", "p1")))
    assert(contents(t) == Seq(1 -> "a", 2 -> "B2", 3 -> "c"))
  }

  test("CDC: a MoR delete emits exactly the hidden rows as before images") {
    val t = SnapshotTable(spark, tmp("mordel5"), "id", Some("part"))
    t.create(frame((1, "a", "p1"), (2, "b", "p1"), (3, "c", "p2")))
    t.deleteMoR(col("id") === 2)
    val delta = t.changesDelta(1L, 2L)
      .select("id", SnapshotTable.ImageCol).collect()
      .map(r => (r.getInt(0), r.getString(1))).toSeq
    assert(delta == Seq(2 -> "before"), s"got $delta")
    // and the after-only view is empty (nothing inserted)
    assert(t.changes(1L, 2L).count() == 0)
  }

  test("purgeDeletes materializes vectors; DSv2 serves DVs before AND after") {
    val path = tmp("mordel6")
    val t = SnapshotTable(spark, path, "id", Some("part"))
    t.create(frame((1, "a", "p1"), (2, "b", "p1"), (3, "c", "p2")))
    t.deleteMoR(col("id") === 2)
    // SQL/DSv2 scans apply vectors in-scan — no materialization step
    assert(spark.read.format("graft").load(path).count() == 2)
    val before = dataFiles(path)
    t.purgeDeletes()
    assert(dataFiles(path) != before, "purge rewrote nothing")
    assert(contents(t) == Seq(1 -> "a", 3 -> "c"))
    // the materialized snapshot reads identically (columnar path back)
    assert(spark.read.format("graft").load(path).count() == 2)
    // purge on a clean table is a no-op (no version churn)
    val v = t.currentVersion.get
    t.purgeDeletes()
    assert(t.currentVersion.contains(v))
  }

  // ---- branches (writable named commit lines)

  test("branches: fork is metadata-only; commit lines diverge independently") {
    val t = SnapshotTable(spark, tmp("br1"), "id", Some("part"))
    t.create(frame((1, "a", "p1"), (2, "b", "p2")))
    val filesBefore = dataFiles(t.path)
    t.createBranch("dev")
    assert(dataFiles(t.path) == filesBefore, "fork wrote data files")
    val dev = t.forBranch("dev")
    assert(contents(dev) == Seq(1 -> "a", 2 -> "b"))
    dev.upsert(frame((1, "DEV", "p1"), (3, "c", "p3")))
    assert(contents(dev) == Seq(1 -> "DEV", 2 -> "b", 3 -> "c"))
    assert(contents(t) == Seq(1 -> "a", 2 -> "b"), "branch leaked to main")
    t.upsert(frame((2, "MAIN", "p2")))
    assert(contents(dev) == Seq(1 -> "DEV", 2 -> "b", 3 -> "c"),
      "main leaked to branch")
    assert(t.branches == Seq("dev"))
    // branch time travel: its own v1 is the fork point
    assert(dev.readVersion(1).orderBy("id").collect()
      .map(r => (r.getAs[Int]("id"), r.getAs[String]("val"))).toSeq ==
      Seq(1 -> "a", 2 -> "b"))
  }

  test("main vacuum retains every branch-referenced file; dropBranch releases") {
    val t = SnapshotTable(spark, tmp("br2"), "id", Some("part"))
    t.create(frame((1, "a", "p1"), (2, "b", "p2")))
    t.createBranch("dev")
    val dev = t.forBranch("dev")
    dev.upsert(frame((3, "c", "p3")))   // branch-only file
    t.upsert(frame((1, "A2", "p1")))    // main rewrites p1
    t.upsert(frame((2, "B2", "p2")))    // main rewrites p2
    t.vacuum(keepVersions = 1, retentionMs = 0)
    // the fork point's files were rewritten away on MAIN — only the
    // branch still references them, and they must have survived
    assert(contents(dev) == Seq(1 -> "a", 2 -> "b", 3 -> "c"))
    assert(contents(t) == Seq(1 -> "A2", 2 -> "B2"))
    t.dropBranch("dev")
    t.vacuum(keepVersions = 1, retentionMs = 0)
    assert(t.branches.isEmpty)
    assert(contents(t) == Seq(1 -> "A2", 2 -> "B2"))
  }

  test("publishBranch fast-forwards main to the branch head (WAP)") {
    val t = SnapshotTable(spark, tmp("br4"), "id", Some("part"))
    t.create(frame((1, "a", "p1"), (2, "b", "p2")))          // main v1
    t.createBranch("audit")
    val b = t.forBranch("audit")
    b.upsert(frame((1, "A2", "p1"), (3, "c", "p3")))         // audit v2
    // nothing visible on main until publish
    assert(contents(t) == Seq(1 -> "a", 2 -> "b"))
    t.publishBranch("audit")                                 // main v2
    assert(contents(t) == Seq(1 -> "A2", 2 -> "b", 3 -> "c"))
    // main's pre-publish state stays time-travelable
    assert(t.readVersion(1).count() == 2)
    // the published state is main-shaped: no fork marker leaked
    assert(!t.properties.contains(SnapshotTable.ForkVersionProp))
    // the branch survives publish and can keep moving
    b.upsert(frame((4, "d", "p1")))
    assert(contents(t).size == 3)
  }

  test("publish commits the SAME record kind as regular commits: a racing append is never shadowed") {
    import java.util.concurrent.{CyclicBarrier, Executors, TimeUnit}
    val path = tmp("brrace")
    val t = SnapshotTable(spark, path, "id", Some("part"))
    t.create(frame((1, "a", "p1")))                           // main v1
    t.createBranch("wap")
    t.forBranch("wap").upsert(frame((2, "b", "p2")))          // wap v2
    // publish and a regular append race the next main version; the
    // append re-bases on a lost race, the publish fails (fast-forward
    // only) — in NO schedule may the append's rows vanish (the old
    // cross-kind manifest write silently shadowed the delta)
    val barrier = new CyclicBarrier(2)
    val pool = Executors.newFixedThreadPool(2)
    val pubOutcome = new java.util.concurrent.atomic.AtomicReference[Either[Throwable, Unit]]()
    pool.submit(new Runnable { def run(): Unit = {
      val h = SnapshotTable(spark, path, "id", Some("part"))
      barrier.await(60, TimeUnit.SECONDS)
      pubOutcome.set(
        try { h.publishBranch("wap"); Right(()) }
        catch { case e: Throwable => Left(e) })
    }})
    pool.submit(new Runnable { def run(): Unit = {
      val h = SnapshotTable(spark, path, "id", Some("part"))
      barrier.await(60, TimeUnit.SECONDS)
      h.append(frame((9, "z", "p9")))
    }})
    pool.shutdown()
    assert(pool.awaitTermination(180, TimeUnit.SECONDS), "race threads hung")
    val reader = SnapshotTable(spark, path, "id", Some("part"))
    val got = contents(reader).toMap
    assert(got.get(9).contains("z"),
      s"appended row was shadowed by the publish: $got")
    pubOutcome.get() match {
      case Right(()) => assert(got.get(2).contains("b"),
        s"publish reported success but its state is missing: $got")
      case Left(e) => assert(
        e.getMessage != null && (e.getMessage.contains("commit conflict") ||
          e.getMessage.contains("fork point")),
        s"publish loser died with an undocumented error: ${e.getMessage}")
    }
  }

  test("publishBranch refuses a diverged main (no silent merge)") {
    val t = SnapshotTable(spark, tmp("br5"), "id", Some("part"))
    t.create(frame((1, "a", "p1")))
    t.createBranch("dev")
    t.forBranch("dev").upsert(frame((2, "b", "p2")))
    t.upsert(frame((1, "MAIN", "p1"))) // main diverges past the fork
    val e = intercept[IllegalStateException](t.publishBranch("dev"))
    assert(e.getMessage.contains("fork point"), e.getMessage)
    assert(contents(t) == Seq(1 -> "MAIN"))
  }

  test("branch guards: no create/vacuum/nested fork; CRUD failures loud") {
    val t = SnapshotTable(spark, tmp("br3"), "id", Some("part"))
    t.create(frame((1, "a", "p1")))
    t.createBranch("dev")
    val dev = t.forBranch("dev")
    intercept[IllegalArgumentException](dev.create(frame((9, "z", "p9"))))
    intercept[IllegalArgumentException](
      dev.vacuum(keepVersions = 1, retentionMs = 0))
    intercept[IllegalArgumentException](dev.createBranch("nested"))
    intercept[IllegalStateException](t.createBranch("dev")) // duplicate
    intercept[IllegalArgumentException](t.createBranch("x", Some(99L)))
    intercept[IllegalArgumentException](t.dropBranch("missing"))
  }

  // ---- tags (named snapshots, vacuum pinning)

  test("tags pin versions: vacuum keeps the tagged snapshot, files included") {
    val t = SnapshotTable(spark, tmp("tags1"), "id", Some("part"))
    t.create(frame((1, "a", "p1"), (2, "b", "p2")))   // v1
    t.tag("baseline")
    t.upsert(frame((1, "A2", "p1")))                  // v2 rewrites p1
    t.upsert(frame((2, "B3", "p2")))                  // v3 rewrites p2
    t.upsert(frame((3, "c", "p1")))                   // v4
    t.vacuum(keepVersions = 1, retentionMs = 0)
    // untagged history is gone...
    assert(!t.hasVersion(2) && !t.hasVersion(3))
    intercept[Exception](t.readVersion(2).count())
    // ...but the tagged snapshot reads complete — v1's files were
    // rewritten away by v2/v3, so this proves the DATA pin, not just
    // the record pin
    assert(t.versionOfTag("baseline").contains(1L))
    assert(t.readTag("baseline").orderBy("id").collect()
      .map(r => (r.getAs[Int]("id"), r.getAs[String]("val"))).toSeq ==
      Seq(1 -> "a", 2 -> "b"))
    assert(contents(t) == Seq(1 -> "A2", 2 -> "B3", 3 -> "c"))
  }

  test("dropTag releases the pin: the next vacuum reclaims the version") {
    val t = SnapshotTable(spark, tmp("tags2"), "id", Some("part"))
    t.create(frame((1, "a", "p1")))
    t.tag("pin")
    t.upsert(frame((2, "b", "p2")))
    t.upsert(frame((3, "c", "p1")))
    t.dropTag("pin")
    assert(t.tags.isEmpty)
    t.vacuum(keepVersions = 1, retentionMs = 0)
    assert(!t.hasVersion(1))
    intercept[IllegalArgumentException](t.readTag("pin").count())
  }

  test("tag CRUD: duplicates, unknown versions, invalid names, listing") {
    val t = SnapshotTable(spark, tmp("tags3"), "id", Some("part"))
    t.create(frame((1, "a", "p1")))
    t.upsert(frame((2, "b", "p1")))
    t.tag("rel-1.0", Some(1L))
    t.tag("head_tag") // defaults to the current version
    assert(t.tags == Map("rel-1.0" -> 1L, "head_tag" -> 2L))
    intercept[IllegalStateException](t.tag("rel-1.0", Some(2L))) // dup
    intercept[IllegalArgumentException](t.tag("ghost", Some(99L)))
    intercept[IllegalArgumentException](t.tag("bad name!"))
    // an all-digit tag would shadow VERSION AS OF's numeric resolution
    intercept[IllegalArgumentException](t.tag("123", Some(1L)))
    intercept[IllegalArgumentException](t.dropTag("missing"))
    assert(t.versionOfTag("not a tag?") == None) // total, never throws
  }

  // ---- column-id mapping (RENAME/DROP COLUMN)

  private def mappedTable(tag: String) = {
    val t = SnapshotTable(spark, tmp(tag), "id", Some("part"),
      tableProps = Map(SnapshotTable.MappingProp -> "id"))
    t.create(frame((1, "a", "p1"), (2, "b", "p2")))
    t
  }

  test("rename column: metadata-only, id-resolved across file vintages") {
    val t = mappedTable("colmap1")
    val v1Files = dataFiles(t.path)
    t.renameColumn("val", "label")
    assert(dataFiles(t.path) == v1Files, "rename touched data files")
    assert(t.read.columns.toSeq == Seq("id", "label", "part"))
    // old-vintage files (written under the name 'val') resolve by id
    assert(t.read.orderBy("id").select("label").collect()
      .map(_.getString(0)).toSeq == Seq("a", "b"))
    // new files are written under the NEW name; both vintages unify
    t.upsert(Seq((3, "c", "p1")).toDF("id", "label", "part"))
    assert(t.read.orderBy("id").select("label").collect()
      .map(_.getString(0)).toSeq == Seq("a", "b", "c"))
    // time travel reads v1 under ITS name
    assert(t.readVersion(1).columns.toSeq == Seq("id", "val", "part"))
    assert(t.readVersion(1).count() == 2)
    // and the DSv2/SQL scan path id-resolves too
    val sql = spark.read.format("graft").load(t.path)
    assert(sql.columns.toSeq == Seq("id", "label", "part"))
    assert(sql.orderBy("id").select("label").collect()
      .map(_.getString(0)).toSeq == Seq("a", "b", "c"))
  }

  test("drop then re-add: the dropped column's bytes never resurface") {
    val t = mappedTable("colmap2")
    t.dropColumn("val")
    assert(t.read.columns.toSeq == Seq("id", "part"))
    // re-add the SAME name: fresh field id — the old files' 'val'
    // bytes (same name, old id) must read as NULL, not as values
    t.evolveTo(org.apache.spark.sql.types.StructType(
      t.read.schema.fields :+ org.apache.spark.sql.types.StructField(
        "val", org.apache.spark.sql.types.StringType)))
    val vals = t.read.orderBy("id").select("val").collect()
      .map(r => Option(r.getString(0))).toSeq
    assert(vals == Seq(None, None),
      s"dropped column's bytes resurfaced as the re-added column: $vals")
    // new writes populate the NEW column only
    t.upsert(Seq((3, "p1", "fresh")).toDF("id", "part", "val"))
    assert(t.read.filter(col("id") === 3).select("val").collect()
      .head.getString(0) == "fresh")
    assert(t.read.filter(col("val").isNotNull).count() == 1)
  }

  test("rename/drop validations: unmapped, partition, layout, check, dup") {
    val plain = SnapshotTable(spark, tmp("colmap3"), "id", Some("part"))
    plain.create(frame((1, "a", "p1")))
    val e1 = intercept[IllegalArgumentException](
      plain.renameColumn("val", "v2"))
    assert(e1.getMessage.contains("not column-id mapped"), e1.getMessage)
    val t = mappedTable("colmap4")
    assert(intercept[IllegalArgumentException](
      t.renameColumn("part", "p2")).getMessage.contains("partition"))
    assert(intercept[IllegalArgumentException](
      t.renameColumn("nope", "x")).getMessage.contains("no column"))
    assert(intercept[IllegalArgumentException](
      t.renameColumn("val", "id")).getMessage.contains("already exists"))
    assert(intercept[IllegalArgumentException](
      t.dropColumn("part")).getMessage.contains("partition"))
    // a CHECK-referenced column may not change under the constraint
    val tc = SnapshotTable(spark, tmp("colmap5"), "id", Some("part"),
      tableProps = Map(SnapshotTable.MappingProp -> "id"),
      checkConstraints = Seq("val_short" -> (length(col("val")) < lit(10))))
    tc.create(frame((1, "a", "p1")))
    assert(intercept[IllegalArgumentException](
      tc.dropColumn("val")).getMessage.contains("CHECK"))
  }

  test("an upsert sourced from ANOTHER id-mapped table cannot leak its ids") {
    // tableB declares the SAME column names with SWAPPED id positions;
    // trusting the source batch's ids would re-key tableA's carried
    // files to B's mapping — silently swapped column bytes under id
    // matching. The stamp must resolve by NAME against A's log.
    val a = mappedTable("colmapA")
    val b = SnapshotTable(spark, tmp("colmapB"), "id", Some("part"),
      tableProps = Map(SnapshotTable.MappingProp -> "id"))
    // B's create sees (val, id, …): ids assigned by position differ
    b.create(Seq(("z", 9, "p9")).toDF("val", "id", "part"))
    a.upsert(b.read.select("id", "val", "part"))
    // A's own files still read correctly (ids resolved from A's log)
    assert(contents(a) == Seq(1 -> "a", 2 -> "b", 9 -> "z"))
    // and the logged schema still carries A's original mapping
    val logged = a.read.schema
    def idOf(n: String) = logged.fields.find(_.name == n)
      .flatMap(SnapshotTable.fieldIdOf).get
    assert(idOf("id") == 1 && idOf("val") == 2,
      s"foreign ids leaked into the logged schema: " +
        logged.fields.map(f => f.name -> SnapshotTable.fieldIdOf(f)).toSeq)
  }

  test("readVersion(0) and negative versions fail loudly, never empty") {
    val t = SnapshotTable(spark, tmp("v0"), "id", Some("part"))
    t.create(frame((1, "a", "p1")))
    val e = intercept[IllegalArgumentException](t.readVersion(0).count())
    assert(e.getMessage.contains("versions start at 1"), e.getMessage)
    intercept[IllegalArgumentException](t.changesDelta(-1, 1).count())
  }

  test("id-mapped: UPDATE/MoR/compact rewrites keep ids (no null bleed)") {
    val t = mappedTable("colmap6")
    // UPDATE's CASE-WHEN projection drops attribute metadata — the
    // rewrite must re-stamp, or the rewritten file reads as nulls
    t.update(Map("val" -> concat(col("val"), lit("!"))), col("id") === 1)
    t.renameColumn("val", "label")
    assert(t.read.orderBy("id").select("label").collect()
      .map(_.getString(0)).toSeq == Seq("a!", "b"))
    t.deleteMoR(col("id") === 2)
    t.compact()
    assert(t.read.orderBy("id").select("label").collect()
      .map(_.getString(0)).toSeq == Seq("a!"))
  }

  test("compact purges vectors lazily") {
    val t = SnapshotTable(spark, tmp("mordel7"), "id", Some("part"))
    t.create(frame((1, "a", "p1"), (2, "b", "p1"), (3, "c", "p2")))
    t.deleteMoR(col("id") === 1)
    t.compact()
    assert(contents(t) == Seq(2 -> "b", 3 -> "c"))
    // vectors are gone: the DSv2 guard no longer trips
    assert(t.candidateFiles().forall(_.deletedRows.isEmpty))
  }

  /** Run `a` in a thread whose SOURCE evaluation blocks (via a gating
    * UDF on its rows) until `whileABlocked` has run on this thread —
    * a DETERMINISTIC commit interleave: A reads the head, B commits,
    * A commits and must arbitrate. Returns A's outcome. */
  private def interleaved(aSource: org.apache.spark.sql.DataFrame,
                          a: org.apache.spark.sql.DataFrame => Unit)
                         (whileABlocked: => Unit): Either[Throwable, Unit] = {
    import java.util.concurrent.{CountDownLatch, Executors, TimeUnit}
    // latches live on the companion: local-mode tasks still serialize
    // their closures, and a captured CountDownLatch is not Serializable
    SnapshotTableSpec.started = new CountDownLatch(1)
    SnapshotTableSpec.gate = new CountDownLatch(1)
    val started = SnapshotTableSpec.started
    val gated = aSource.filter(udf { () =>
      SnapshotTableSpec.started.countDown()
      SnapshotTableSpec.gate.await(120, TimeUnit.SECONDS)
    }.apply())
    val pool = Executors.newSingleThreadExecutor()
    val fut = pool.submit(new java.util.concurrent.Callable[Either[Throwable, Unit]] {
      def call(): Either[Throwable, Unit] =
        try { a(gated); Right(()) } catch { case e: Throwable => Left(e) }
    })
    assert(started.await(120, TimeUnit.SECONDS), "writer A never started")
    whileABlocked
    SnapshotTableSpec.gate.countDown()
    pool.shutdown()
    fut.get(180, TimeUnit.SECONDS)
  }

  test("concurrent upserts to DISJOINT partitions both land (optimistic re-base)") {
    val path = tmp("snapmergerace")
    SnapshotTable(spark, path, "id", Some("part"))
      .create(frame((1, "a", "p1"), (2, "b", "p2"), (3, "c", "p3")))
    val tA = SnapshotTable(spark, path, "id", Some("part"))
    val outcome = interleaved(frame((1, "W0", "p1")), tA.upsert(_)) {
      // B lands v2 into p2 while A (merging p1) holds a v1 snapshot
      SnapshotTable(spark, path, "id", Some("part"))
        .upsert(frame((2, "W1", "p2")))
    }
    assert(outcome.isRight,
      s"disjoint-partition merge must re-base and land: $outcome")
    val reader = SnapshotTable(spark, path, "id", Some("part"))
    assert(contents(reader) == Seq(1 -> "W0", 2 -> "W1", 3 -> "c"))
    assert(reader.currentVersion.contains(3L),
      "both merges must land as their own commit")
  }

  test("DELETE drops fully-matched files as pure metadata; boundary files rewrite") {
    val path = tmp("snapdeldrop")
    val t = SnapshotTable(spark, path, "id", Some("part"))
    t.create(frame((1, "a", "p1"), (2, "b", "p1"), (3, "c", "p2"),
      (4, "d", "p2"), (5, "e", "p3")))
    val before = t.candidateFiles().map(_.path).toSet
    // p1 matches WHOLLY (drop by reference); p2 partially (rewrite);
    // p3 not at all (carry over untouched)
    t.delete(col("part") === "p1" || col("id") === 3)
    val after = t.candidateFiles().map(_.path).toSet
    assert(contents(t) == Seq(4 -> "d", 5 -> "e"))
    // p1: all its files vanished and NONE were rewritten — no new
    // p1-dir file exists in the committed manifest
    assert(!after.exists(_.startsWith("part=p1")),
      s"fully-matched p1 files not dropped: $after")
    // p3 carried over by reference: identical path
    assert((before & after).exists(_.startsWith("part=p3")),
      "untouched p3 file was rewritten")
    // p2 was rewritten: new path, old gone
    assert(after.exists(p => p.startsWith("part=p2") && !before(p)))
    // CDC still surfaces the dropped rows as before-images
    val v = t.currentVersion.get
    val gone = t.changesDelta(v - 1, v)
      .filter(col(SnapshotTable.ImageCol) === "before")
      .select("id").collect().map(_.getInt(0)).toSet
    assert(Set(1, 2, 3).subsetOf(gone), s"CDC lost dropped-file rows: $gone")
  }

  test("DELETE of ONLY fully-matched files is a metadata-only commit (zero new files)") {
    val path = tmp("snapdelmeta")
    val t = SnapshotTable(spark, path, "id", Some("part"))
    t.create(frame((1, "a", "p1"), (2, "b", "p2"), (3, "c", "p3")))
    val before = t.candidateFiles().map(_.path).toSet
    t.delete(col("part") === "p2")
    val after = t.candidateFiles().map(_.path).toSet
    assert(after.subsetOf(before), s"retention delete wrote data: " +
      s"${after -- before} are new files")
    assert(contents(t) == Seq(1 -> "a", 3 -> "c"))
  }

  test("DELETE re-bases over a concurrent append (write-serializable)") {
    import java.util.concurrent.{CountDownLatch, Executors, TimeUnit}
    val path = tmp("snapdelrace")
    SnapshotTable(spark, path, "id", Some("part"))
      .create(frame((1, "a", "p1"), (2, "b", "p2")))
    SnapshotTableSpec.started = new CountDownLatch(1)
    SnapshotTableSpec.gate = new CountDownLatch(1)
    // the gate rides the PREDICATE: the delete's probe blocks with its
    // v2 snapshot read, B commits v3, the delete commits and must
    // re-base (an append never conflicts with DML under
    // write-serializable: the new rows simply aren't covered)
    val gatedPred = udf { () =>
      SnapshotTableSpec.started.countDown()
      SnapshotTableSpec.gate.await(120, TimeUnit.SECONDS)
    }.apply() && col("part") === "p1"
    val tA = SnapshotTable(spark, path, "id", Some("part"))
    val pool = Executors.newSingleThreadExecutor()
    val fut = pool.submit(new java.util.concurrent.Callable[Either[Throwable, Unit]] {
      def call(): Either[Throwable, Unit] =
        try { tA.delete(gatedPred); Right(()) }
        catch { case e: Throwable => Left(e) }
    })
    assert(SnapshotTableSpec.started.await(120, TimeUnit.SECONDS))
    SnapshotTable(spark, path, "id", Some("part"))
      .append(frame((3, "c", "p3")))
    SnapshotTableSpec.gate.countDown()
    pool.shutdown()
    val outcome = fut.get(180, TimeUnit.SECONDS)
    assert(outcome.isRight, s"delete must re-base over the append: $outcome")
    val reader = SnapshotTable(spark, path, "id", Some("part"))
    assert(contents(reader) == Seq(2 -> "b", 3 -> "c"),
      "both the append and the delete must be visible")
  }

  test("replacePartitions re-bases over a DISJOINT concurrent commit") {
    val path = tmp("snaprepldisj")
    SnapshotTable(spark, path, "id", Some("part"))
      .create(frame((1, "a", "p1"), (2, "b", "p2")))
    val tA = SnapshotTable(spark, path, "id", Some("part"))
    val outcome = interleaved(frame((10, "R", "p1")), tA.replacePartitions(_)) {
      SnapshotTable(spark, path, "id", Some("part"))
        .upsert(frame((2, "W1", "p2")))
    }
    assert(outcome.isRight, s"disjoint replace must re-base: $outcome")
    val reader = SnapshotTable(spark, path, "id", Some("part"))
    assert(contents(reader) == Seq(2 -> "W1", 10 -> "R"))
  }

  test("replacePartitions fails stale when a file lands INSIDE a replaced partition") {
    val path = tmp("snapreplconf")
    SnapshotTable(spark, path, "id", Some("part"))
      .create(frame((1, "a", "p1"), (2, "b", "p2")))
    val tA = SnapshotTable(spark, path, "id", Some("part"))
    val outcome = interleaved(frame((10, "R", "p1")), tA.replacePartitions(_)) {
      SnapshotTable(spark, path, "id", Some("part"))
        .append(frame((11, "X", "p1"))) // lands inside the replaced set
    }
    assert(outcome.isLeft, "overwrite would clobber the interleaved file")
    assert(outcome.swap.toOption.get.getMessage.contains("merge commit conflict"))
    val reader = SnapshotTable(spark, path, "id", Some("part"))
    assert(contents(reader) == Seq(1 -> "a", 2 -> "b", 11 -> "X"))
  }

  test("a concurrent widening (or DEFAULT add) fails an in-flight merge " +
      "loudly; the DDL survives") {
    import org.apache.spark.sql.types.{LongType, StringType}
    val path = tmp("snapwidenrace")
    SnapshotTable(spark, path, "id", Some("part"))
      .create(Seq((1L, 1, "p1"), (2L, 2, "p2")).toDF("id", "q", "part"))
    val tA = SnapshotTable(spark, path, "id", Some("part"))
    // A reads the head, B widens AND adds a defaulted column, A commits:
    // A's merge was planned under the OLD schema — silently landing it
    // would re-log that schema and revert the DDL (the same class of
    // loss as the partition-spec race) — it must fail with the remedy
    val outcome = interleaved(
      Seq((3L, 3, "p2")).toDF("id", "q", "part"), tA.upsert(_)) {
      val tB = SnapshotTable(spark, path, "id", Some("part"))
      tB.widenColumn("q", LongType)
      tB.addColumn("tag", StringType, Some("'old'"))
    }
    assert(outcome.isLeft, "an upsert raced past a concurrent schema change")
    assert(outcome.swap.toOption.get.getMessage.contains("metadata"),
      outcome.swap.toOption.get.getMessage)
    val reader = SnapshotTable(spark, path, "id", Some("part"))
    assert(reader.read.schema("q").dataType == LongType,
      "the widening was reverted by the losing merge")
    assert(reader.read.schema.fieldNames.contains("tag"),
      "the DEFAULT add was reverted by the losing merge")
    assert(reader.read.count() == 2)
  }

  test("upsertDelete: flagged rows remove their PK match, others merge; absent-PK delete no-ops") {
    val path = tmp("snapupsdel")
    val t = SnapshotTable(spark, path, "id", Some("part"))
    t.create(frame((1, "a", "p1"), (2, "b", "p1"), (3, "c", "p2")))
    val batch = Seq(
      (1, "A", "p1", false),  // update
      (2, "b", "p1", true),   // delete
      (9, "zz", "p2", true),  // delete of absent key: no-op
      (4, "d", "p2", false))  // insert
      .toDF("id", "val", "part", "__del")
    t.upsertDelete(batch, "__del")
    assert(contents(t) == Seq(1 -> "A", 3 -> "c", 4 -> "d"))
    assert(t.currentVersion.contains(2L), "one atomic commit")
    // idempotent re-run
    t.upsertDelete(batch, "__del")
    assert(contents(t) == Seq(1 -> "A", 3 -> "c", 4 -> "d"))
    // a delete-only batch still scopes to its partitions: p2 untouched
    val before = t.candidateFiles().map(_.path).toSet
    t.upsertDelete(Seq((1, "", "p1", true)).toDF("id", "val", "part", "__del"),
      "__del")
    assert(contents(t) == Seq(3 -> "c", 4 -> "d"))
    val after = t.candidateFiles().map(_.path).toSet
    assert((before & after).exists(_.startsWith("part=p2")),
      "delete-only batch rewrote an untouched partition")
  }

  test("stageProperties ride the next data commit atomically and persist") {
    val path = tmp("snapstageprops")
    val t = SnapshotTable(spark, path, "id", Some("part"))
    t.create(frame((1, "a", "p1")))
    t.stageProperties(Map("graft.mv.sourceVersion" -> "7"))
    // nothing committed yet: a fresh handle sees no property
    assert(!SnapshotTable(spark, path, "id", Some("part"))
      .properties.contains("graft.mv.sourceVersion"))
    t.upsert(frame((2, "b", "p2")))
    val fresh = SnapshotTable(spark, path, "id", Some("part"))
    assert(fresh.properties.get("graft.mv.sourceVersion").contains("7"),
      "staged property did not land with the upsert commit")
  }

  test("concurrent upserts to the SAME partition: the interleaved one fails stale") {
    val path = tmp("snapmergeconflict")
    SnapshotTable(spark, path, "id", Some("part"))
      .create(frame((1, "a", "p1"), (2, "b", "p2")))
    val tA = SnapshotTable(spark, path, "id", Some("part"))
    val outcome = interleaved(frame((10, "W0", "p1")), tA.upsert(_)) {
      SnapshotTable(spark, path, "id", Some("part"))
        .upsert(frame((11, "W1", "p1"))) // same partition as A
    }
    assert(outcome.isLeft, "overlapping merge must NOT silently land")
    val msg = outcome.swap.toOption.get.getMessage
    assert(msg != null && msg.contains("merge commit conflict"),
      s"loser must fail the scope re-check, got: $msg")
    // B's committed state is intact; A changed nothing
    val reader = SnapshotTable(spark, path, "id", Some("part"))
    assert(contents(reader) == Seq(1 -> "a", 2 -> "b", 11 -> "W1"))
  }

  test("clustered upsert is stats-scoped: out-of-range files carry over by reference") {
    val t = SnapshotTable(spark, tmp("clupsert"), "id",
      statsCols = Seq("k"), clusterBy = Seq("k"), clusterFiles = 8)
    t.create((1 to 400).map(i => (i, i, s"v$i")).toDF("id", "k", "val"))
    val before = t.scanInfo()._1.map(_.path).toSet
    assert(before.size == 8)
    // batch confined to k∈[10,20]: update two ids, insert 148 new —
    // at least as many rows as the touched files hold, so the merge
    // stays on the copy-on-write side of the plan rule (smaller
    // batches hide replaced rows with deletion vectors instead)
    val batch = (Seq((10, 10, "V10"), (20, 20, "V20")) ++
      (401 to 548).map(i => (i, 10 + i % 11, s"v$i"))).toDF("id", "k", "val")
    t.upsert(batch)
    val after = t.scanInfo()._1.map(_.path).toSet
    val carried = before intersect after
    assert(carried.nonEmpty, "no file carried over — merge was O(table)")
    // every carried file's k-range must be disjoint from the batch's
    val m = t.candidateFiles(("k", 10, 20)).map(_.path).toSet
    assert(carried.forall(!m.contains(_)),
      s"a file overlapping the batch range was not rewritten: ${carried & m}")
    assert(t.scanInfo()._1.forall(!_.hasDeletes), "copy-on-write left a vector")
    val got = t.read.orderBy("id").collect()
    assert(got.length == 548)
    assert(got.count(_.getString(2).startsWith("V")) == 2)
    // idempotent re-run
    t.upsert(batch)
    assert(t.read.count() == 548)
  }

  test("upsert batch omitting a statted cluster column is refused with guidance") {
    val t = SnapshotTable(spark, tmp("clupsertevolve"), "id",
      statsCols = Seq("k"), clusterBy = Seq("k"), clusterFiles = 4)
    t.create((1 to 20).map(i => (i, i, s"v$i")).toDF("id", "k", "val"))
    // accommodating the omission would null-fill k on the replaced
    // row — a LATER pruned merge re-sending id=1 with a real k could
    // then keep the hidden null-k row alongside it (duplicate PK).
    // The refusal must be the explicit contract error, not a raw
    // unresolved-column analysis failure.
    val e = intercept[IllegalArgumentException] {
      t.upsert(Seq((1, "V1", "new")).toDF("id", "val", "extra"),
        evolveSchema = true)
    }
    assert(e.getMessage.contains("omits statted cluster column"))
    // including the column (even as null) is the sanctioned path:
    // batch nulls disable pruning for the commit, correctness holds
    t.upsert(Seq((1, null.asInstanceOf[java.lang.Integer], "V1", "new"))
      .toDF("id", "k", "val", "extra"), evolveSchema = true)
    val got = t.read.orderBy("id").collect()
    assert(got.length == 20)
    assert(got.head.getAs[String]("val") == "V1")
    assert(got.head.getAs[String]("extra") == "new")
    assert(got(1).getAs[String]("extra") == null)
  }

  test("clustered upsert with a NULL cluster value disables pruning, stays correct") {
    val t = SnapshotTable(spark, tmp("clupsertnull"), "id",
      statsCols = Seq("k"), clusterBy = Seq("k"), clusterFiles = 4)
    t.create((Seq((100, null.asInstanceOf[java.lang.Integer], "old")) ++
      (1 to 50).map(i => (i, java.lang.Integer.valueOf(i), s"v$i")))
      .toDF("id", "k", "val"))
    // the null-keyed row lives in SOME file whose k-stats (nulls
    // excluded) need not overlap the batch — pruning must stand down
    t.upsert(Seq((100, null.asInstanceOf[java.lang.Integer], "NEW"),
      (51, java.lang.Integer.valueOf(51), "v51"))
      .toDF("id", "k", "val"))
    val rows = t.read.filter(col("id") === 100).collect()
    assert(rows.length == 1, s"duplicate PK 100: ${rows.length} rows")
    assert(rows.head.getString(2) == "NEW")
    assert(t.read.count() == 52)
  }
}

/** Gating latches for [[SnapshotTableSpec.interleaved]] — statics, so
  * the gating UDF's task closure stays serializable in local mode. */
object SnapshotTableSpec {
  @volatile var started: java.util.concurrent.CountDownLatch = _
  @volatile var gate: java.util.concurrent.CountDownLatch = _
}
