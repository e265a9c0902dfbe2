package graft.plans

import java.nio.file.Files
import java.util.concurrent.{CountDownLatch, Executors, TimeUnit}

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

import graft.SparkSpec

/** The merge plan rule and its merge-on-read side: a batch smaller
  * than the live rows of the files it touches writes only itself and
  * hides the rows it replaces with deletion vectors; the commit
  * detects conflicts on the vectored files; the merge sink promotes
  * its staged batch instead of reading it back. */
class MergeOnReadSpec extends SparkSpec {

  import spark.implicits._

  private def tmp(tag: String): String =
    Files.createTempDirectory(s"graft_$tag").toString + "/table"

  /** (id, val, part) with `perPart` rows in each of p0..p(n-1). */
  private def seeded(path: String, parts: Int, perPart: Int): SnapshotTable = {
    val t = SnapshotTable(spark, path, "id", Some("part"))
    t.create((0 until parts * perPart)
      .map(i => (i, s"v$i", s"p${i % parts}")).toDF("id", "val", "part"))
    t
  }

  private def contents(t: SnapshotTable): Seq[(Int, String)] =
    t.read.orderBy("id").collect()
      .map(r => (r.getAs[Int]("id"), r.getAs[String]("val"))).toSeq

  test("a batch smaller than its touched files merges on read: vectors, no rewrite") {
    val path = tmp("mor_rule")
    val t = seeded(path, parts = 2, perPart = 10)
    val before = t.candidateFiles().map(e => e.path -> e).toMap
    // update id 0 and insert id 100, both in p0 (10 live rows > 2)
    t.upsert(Seq((0, "W0", "p0"), (100, "n100", "p0")).toDF("id", "val", "part"))
    val after = t.candidateFiles()
    // every old file stays live; p0's carries a one-row vector, p1's
    // is untouched by reference
    assert(before.keySet.subsetOf(after.map(_.path).toSet))
    val p0 = after.filter(e => before.contains(e.path) && e.path.startsWith("part=p0"))
    assert(p0.nonEmpty && p0.map(_.deletedRowCount).sum == 1L)
    assert(after.filter(_.path.startsWith("part=p1")).forall(e =>
      before.get(e.path).contains(e)))
    // the new file holds the batch alone
    val fresh = after.filterNot(e => before.contains(e.path))
    assert(fresh.map(_.rows).sum == 2L)
    val want = ((0 until 20).map(i => i -> s"v$i").toMap +
      (0 -> "W0") + (100 -> "n100")).toSeq.sortBy(_._1)
    assert(contents(t) == want)
    assert(spark.read.format("graft").load(path).count() == 21)
    // CDC: exactly the replaced row before, the batch after
    val cdc = t.changesDelta(1, 2).collect().map(r =>
      (r.getAs[Int]("id"), r.getAs[String]("val"),
        r.getAs[String](SnapshotTable.ImageCol))).toSet
    assert(cdc == Set((0, "v0", "before"), (0, "W0", "after"),
      (100, "n100", "after")))
  }

  test("a batch as large as its touched files stays copy-on-write") {
    val path = tmp("cow_rule")
    val t = seeded(path, parts = 2, perPart = 4)
    val p1Before = t.candidateFiles().filter(_.path.startsWith("part=p1"))
    // four rows into p0, which holds four live rows: not more than the
    // batch, so p0 is rewritten and nothing carries a vector
    t.upsert((Seq(0, 2, 4, 6).map(i => (i, s"W$i", "p0"))).toDF("id", "val", "part"))
    val after = t.candidateFiles()
    assert(after.forall(!_.hasDeletes))
    assert(after.filter(_.path.startsWith("part=p1")) == p1Before)
    assert(after.filter(_.path.startsWith("part=p0")).map(_.rows).sum == 4L)
    assert(contents(t).toMap == Map(0 -> "W0", 2 -> "W2", 4 -> "W4",
      6 -> "W6", 1 -> "v1", 3 -> "v3", 5 -> "v5", 7 -> "v7"))
  }

  test("a null key replaces the null-keyed row on both sides of the rule; a replay is a no-op") {
    def frame(rows: (Option[Int], String)*) =
      rows.map { case (k, v) => (k, v, "p1") }.toDF("id", "val", "part")
    def rows(t: SnapshotTable): Seq[(Option[Int], String)] =
      t.read.collect().map(r => (Option(r.getAs[Integer]("id")).map(_.toInt),
        r.getAs[String]("val"))).toSeq.sortBy(_._2)
    val want = Seq((Some(1), "a"), (Some(2), "b"), (None, "n1"))
    val batch = frame(None -> "n1", Some(2) -> "b")
    val part = SnapshotTable(spark, tmp("nullpk_part"), "id", Some("part"))
    val flat = SnapshotTable(spark, tmp("nullpk_flat"), "id")
    for (t <- Seq(part, flat)) {
      t.create(frame(Some(1) -> "a", None -> "n0"))
      // as large as the two live rows: copy-on-write
      t.upsert(batch)
      assert(rows(t) == want, s"${t.path}: null-keyed row not replaced")
      // on the partitioned table, smaller than the three live rows:
      // merge-on-read; the unpartitioned table rewrites again
      t.upsert(batch)
      assert(rows(t) == want, s"${t.path}: a replay duplicated the null-keyed row")
    }
    assert(part.candidateFiles().map(_.deletedRowCount).sum == 2L)
    assert(flat.candidateFiles().forall(!_.hasDeletes))
  }

  test("upsertDelete merges on read: flagged keys are hidden, nothing rewritten") {
    val path = tmp("mor_updel")
    val t = seeded(path, parts = 2, perPart = 10)
    val files = t.candidateFiles().map(_.path).toSet
    t.upsertDelete(Seq((2, "", "p0", true), (4, "W4", "p0", false))
      .toDF("id", "val", "part", "__del"), "__del")
    assert(files.subsetOf(t.candidateFiles().map(_.path).toSet))
    assert(t.candidateFiles().map(_.deletedRowCount).sum == 2L)
    val m = contents(t).toMap
    assert(!m.contains(2) && m(4) == "W4" && m.size == 19)
  }

  test("clustered layout: the cluster-bounds count drives the same rule") {
    val t = SnapshotTable(spark, tmp("mor_clustered"), "id",
      statsCols = Seq("k"), clusterBy = Seq("k"), clusterFiles = 4)
    t.create((1 to 200).map(i => (i, i, s"v$i")).toDF("id", "k", "val"))
    val before = t.candidateFiles().map(_.path).toSet
    t.upsert(Seq((10, 10, "V10"), (201, 12, "v201")).toDF("id", "k", "val"))
    val after = t.candidateFiles()
    assert(before.subsetOf(after.map(_.path).toSet), "a touched file was rewritten")
    assert(after.map(_.deletedRowCount).sum == 1L)
    val rows = t.read.collect().map(r => r.getAs[Int]("id") -> r.getAs[String]("val")).toMap
    assert(rows.size == 201 && rows(10) == "V10" && rows(201) == "v201")
  }

  /** Run `a` on a gated source; `whileABlocked` runs after A read its
    * base manifest and before it commits. */
  private def interleaved(aSource: DataFrame, a: DataFrame => Unit)
                         (whileABlocked: => Unit): Either[Throwable, Unit] = {
    MergeOnReadSpec.started = new CountDownLatch(1)
    MergeOnReadSpec.gate = new CountDownLatch(1)
    val gated = aSource.filter(udf { () =>
      MergeOnReadSpec.started.countDown()
      MergeOnReadSpec.gate.await(120, TimeUnit.SECONDS)
    }.apply())
    val pool = Executors.newSingleThreadExecutor()
    val fut = pool.submit(new java.util.concurrent.Callable[Either[Throwable, Unit]] {
      def call(): Either[Throwable, Unit] =
        try { a(gated); Right(()) } catch { case e: Throwable => Left(e) }
    })
    assert(MergeOnReadSpec.started.await(120, TimeUnit.SECONDS), "writer A never started")
    whileABlocked
    MergeOnReadSpec.gate.countDown()
    pool.shutdown()
    fut.get(180, TimeUnit.SECONDS)
  }

  private def staleMessage(outcome: Either[Throwable, Unit]): String = {
    assert(outcome.isLeft, "a stale merge-on-read commit landed")
    val msg = outcome.swap.toOption.get.getMessage
    assert(msg != null && msg.contains("merge commit conflict"), msg)
    msg
  }

  test("conflict: a concurrent commit removing a file this merge vectors fails it stale") {
    val path = tmp("mor_conflict_removed")
    seeded(path, parts = 2, perPart = 10)
    val tA = SnapshotTable(spark, path, "id", Some("part"))
    val outcome = interleaved(Seq((0, "A0", "p0")).toDF("id", "val", "part"), tA.upsert(_)) {
      // copy-on-write delete rewrites p0's file: A's vector target is gone
      SnapshotTable(spark, path, "id", Some("part")).delete(col("id") === 2)
    }
    assert(staleMessage(outcome).contains("removed a file"))
    val m = contents(SnapshotTable(spark, path, "id", Some("part"))).toMap
    assert(m(0) == "v0" && !m.contains(2) && m.size == 19)
  }

  test("conflict: a concurrent vector change on a file this merge vectors fails it stale") {
    val path = tmp("mor_conflict_dv")
    seeded(path, parts = 2, perPart = 10)
    val tA = SnapshotTable(spark, path, "id", Some("part"))
    val outcome = interleaved(Seq((0, "A0", "p0")).toDF("id", "val", "part"), tA.upsert(_)) {
      SnapshotTable(spark, path, "id", Some("part")).deleteMoR(col("id") === 2)
    }
    assert(staleMessage(outcome).contains("modified a file"))
    val m = contents(SnapshotTable(spark, path, "id", Some("part"))).toMap
    assert(m(0) == "v0" && !m.contains(2) && m.size == 19)
  }

  test("conflict: a disjoint concurrent commit re-bases; both changes survive") {
    val path = tmp("mor_rebase")
    seeded(path, parts = 2, perPart = 10)
    val tA = SnapshotTable(spark, path, "id", Some("part"))
    val outcome = interleaved(Seq((0, "A0", "p0")).toDF("id", "val", "part"), tA.upsert(_)) {
      // B merges on read into p1 (a vector on p1's file) and deletes on
      // read in p1: neither touches A's scope
      val tB = SnapshotTable(spark, path, "id", Some("part"))
      tB.upsert(Seq((1, "B1", "p1")).toDF("id", "val", "part"))
      tB.deleteMoR(col("id") === 3)
    }
    assert(outcome.isRight, s"disjoint commit did not re-base: $outcome")
    val t = SnapshotTable(spark, path, "id", Some("part"))
    val m = contents(t).toMap
    assert(m(0) == "A0" && m(1) == "B1" && !m.contains(3) && m.size == 19)
    // A's vector and B's vectors all survived the re-base
    assert(t.candidateFiles().map(_.deletedRowCount).sum == 3L)
    assert(t.currentVersion.contains(4L))
  }

  test("merge sink: a merge-on-read epoch promotes its staged files; a replay commits once") {
    val root = Files.createTempDirectory("graft_mor_sink").toString
    val src = SnapshotTable(spark, s"$root/src", "id")
    // ids keep their partition (id % 2): the PK→partition contract
    src.create(Seq((1, "a1", "p1"), (2, "b1", "p0")).toDF("id", "val", "part"))
    val dstPath = s"$root/dst"
    seeded(dstPath, parts = 2, perPart = 10)
    val before = SnapshotTable(spark, dstPath, "id").candidateFiles().map(_.path).toSet
    def run(): Unit = {
      val q = spark.readStream.format("graft").load(s"$root/src")
        .writeStream.format("graft").option("path", dstPath)
        .option("mergeKey", "id")
        .option("checkpointLocation", s"$root/ckpt")
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination(120000)
      q.exception.foreach(e => throw e)
    }
    run()
    val dst = SnapshotTable(spark, dstPath, "id")
    val v = dst.currentVersion.get
    assert(v == 2L, "one epoch, one commit")
    val files = dst.candidateFiles()
    assert(before.subsetOf(files.map(_.path).toSet), "the sink rewrote a touched file")
    assert(files.map(_.deletedRowCount).sum == 2L)
    assert(files.filterNot(e => before(e.path)).map(_.rows).sum == 2L)
    def state(): Map[Int, String] = SnapshotTable(spark, dstPath, "id").read.collect()
      .map(r => r.getAs[Int]("id") -> r.getAs[String]("val")).toMap
    val want = (0 until 20).map(i => i -> s"v$i").toMap + (1 -> "a1") + (2 -> "b1")
    assert(state() == want)
    // replay: drop the checkpoint's last commit record and re-run
    val commits = new java.io.File(s"$root/ckpt/commits")
    val newest = commits.listFiles().filter(_.getName.forall(_.isDigit))
      .maxBy(_.getName.toLong)
    assert(newest.delete())
    new java.io.File(commits, s".${newest.getName}.crc").delete()
    run()
    assert(SnapshotTable(spark, dstPath, "id").currentVersion.contains(v),
      "a replayed epoch committed again")
    assert(state() == want)
    // a later epoch after the replay merges on read again
    src.append(Seq((3, "c1", "p1")).toDF("id", "val", "part"))
    run()
    assert(SnapshotTable(spark, dstPath, "id").currentVersion.contains(v + 1))
    assert(state() == want + (3 -> "c1"))
  }

  test("streaming source reads a merged-on-read snapshot through its vectors") {
    val root = Files.createTempDirectory("graft_mor_stream").toString
    val path = s"$root/table"
    val t = seeded(path, parts = 2, perPart = 10)
    t.upsert(Seq((0, "W0", "p0")).toDF("id", "val", "part")) // v2, merge-on-read
    assert(t.candidateFiles().exists(_.hasDeletes))
    val q = spark.readStream.format("graft").load(path)
      .writeStream.format("memory").queryName("graft_mor_stream")
      .option("checkpointLocation", s"$root/ckpt")
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(120000)
    q.exception.foreach(e => throw e)
    val got = spark.table("graft_mor_stream").collect()
      .map(r => r.getAs[Int]("id") -> r.getAs[String]("val"))
    assert(got.length == 20, "a hidden row streamed in the initial snapshot")
    assert(got.toMap == (0 until 20).map(i => i -> s"v$i").toMap + (0 -> "W0"))
  }

  test("size-derived split scopes nest across threads and restore the session value") {
    val k = "spark.sql.files.minPartitionNum"
    val prev = spark.conf.getOption(k)
    spark.conf.set(k, "7")
    try {
      val innerEntered = new CountDownLatch(1)
      val outerMayExit = new CountDownLatch(1)
      val pool = Executors.newSingleThreadExecutor()
      // thread B opens a nested scope inside its own, and stays in it
      // while thread A's overlapping scope opens and closes
      val b = pool.submit(new java.util.concurrent.Callable[Seq[String]] {
        def call(): Seq[String] = SnapshotTable.sizeDerivedSplits(spark) {
          SnapshotTable.sizeDerivedSplits(spark) {
            innerEntered.countDown()
            assert(outerMayExit.await(60, TimeUnit.SECONDS))
            Seq(spark.conf.get(k))
          } :+ spark.conf.get(k)
        }
      })
      assert(innerEntered.await(60, TimeUnit.SECONDS))
      val inA = SnapshotTable.sizeDerivedSplits(spark)(spark.conf.get(k))
      // A's scope closed while B's were open: the floor stays in force
      assert(inA == "1" && spark.conf.get(k) == "1")
      outerMayExit.countDown()
      assert(b.get(60, TimeUnit.SECONDS) == Seq("1", "1"))
      pool.shutdown()
      assert(spark.conf.get(k) == "7", "the last scope to close did not restore")
    } finally prev match {
      case Some(v) => spark.conf.set(k, v)
      case None => spark.conf.unset(k)
    }
  }
}

object MergeOnReadSpec {
  @volatile var started: CountDownLatch = _
  @volatile var gate: CountDownLatch = _
}
