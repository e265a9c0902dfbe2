package graft.plans

import java.nio.file.Files
import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.Path
import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent}
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart

import graft.SparkSpec

/** The stage-first keyed merge: on a scoped table the batch is written
  * once, the plan rule and the merge scope come from the staged
  * footers and dirs, and no job evaluates the batch to scope it. */
class StageFirstMergeSpec extends SparkSpec {

  import spark.implicits._

  private def tmp(tag: String): String =
    Files.createTempDirectory(s"graft_$tag").toString + "/table"

  /** The physical plans of the SQL executions `body` starts on this
    * thread, told apart from any other thread's by a job group of its
    * own. */
  private def executionsOf(body: => Unit): Seq[String] = {
    val group = s"stage-first-${System.nanoTime()}"
    val seen = new ConcurrentLinkedQueue[String]
    val listener = new SparkListener {
      override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
        case s: SparkListenerSQLExecutionStart if s.jobGroupId.contains(group) =>
          seen.add(s.physicalPlanDescription)
        case _ => ()
      }
    }
    val sc = spark.sparkContext
    sc.addSparkListener(listener)
    sc.setJobGroup(group, "stage-first merge spec")
    try body
    finally {
      sc.clearJobGroup()
      org.apache.spark.graft.ListenerBusDrain.drain(sc)
      sc.removeSparkListener(listener)
    }
    seen.asScala.toSeq
  }

  /** Every file under the table's `_stage` and `data` trees. */
  private def filesUnder(dir: String): Set[String] = {
    val p = new Path(dir)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) Set.empty
    else {
      val it = fs.listFiles(p, true)
      Iterator.continually(it).takeWhile(_.hasNext).map(_.next())
        .map(_.getPath.toString.stripPrefix(fs.makeQualified(p).toString + "/"))
        .filter(_.endsWith(".parquet")).toSet
    }
  }

  private def partitioned(path: String): SnapshotTable = {
    val t = SnapshotTable(spark, path, "id", Some("part"))
    t.create((0 until 40).map(i => (i, s"v$i", s"p${i % 2}")).toDF("id", "val", "part"))
    t
  }

  private def clustered(path: String): SnapshotTable = {
    val t = SnapshotTable(spark, path, "id",
      statsCols = Seq("k"), clusterBy = Seq("k"), clusterFiles = 4)
    t.create((1 to 200).map(i => (i, i, s"v$i")).toDF("id", "k", "val"))
    t
  }

  /** The stage write, then the probe that reads the touched files'
    * keys and row positions. */
  private def isWriteThenProbe(plans: Seq[String]): Boolean =
    plans.head.contains("InsertIntoHadoopFsRelationCommand") &&
      !plans(1).contains("InsertIntoHadoopFsRelationCommand") &&
      plans(1).contains("row_index")

  test("merge-on-read upserts run two SQL executions, write and probe — no scope aggregate") {
    val p = partitioned(tmp("sf_exec_part"))
    val pExecs = executionsOf(
      p.upsert(Seq((0, "W0", "p0"), (100, "n100", "p0")).toDF("id", "val", "part")))
    assert(p.candidateFiles().exists(_.hasDeletes), "the partitioned upsert did not merge on read")
    assert(pExecs.size == 2, s"partitioned upsert ran ${pExecs.size} executions")
    assert(isWriteThenProbe(pExecs), pExecs.mkString("\n----\n"))
    val c = clustered(tmp("sf_exec_clustered"))
    val cExecs = executionsOf(
      c.upsert(Seq((10, 10, "V10"), (201, 12, "v201")).toDF("id", "k", "val")))
    assert(c.candidateFiles().exists(_.hasDeletes), "the clustered upsert did not merge on read")
    assert(cExecs.size == 2, s"clustered upsert ran ${cExecs.size} executions")
    assert(isWriteThenProbe(cExecs), cExecs.mkString("\n----\n"))
    val rows = c.read.collect().map(r => r.getAs[Int]("id") -> r.getAs[String]("val")).toMap
    assert(rows.size == 201 && rows(10) == "V10" && rows(201) == "v201")
  }

  test("the footer-derived batch count is the rows the merge commits") {
    val t = partitioned(tmp("sf_count"))
    val before = t.candidateFiles().map(_.path).toSet
    val batch = (Seq(1, 3, 5) ++ (200 until 204))
      .map(i => (i, s"W$i", s"p${i % 2}")).toDF("id", "val", "part")
    t.upsert(batch)
    val after = t.candidateFiles()
    val fresh = after.filterNot(e => before(e.path))
    // merge-on-read: the promoted staged files hold the batch alone,
    // their footer counts sum to it, and the hidden rows are the
    // replaced keys
    assert(after.exists(_.hasDeletes))
    assert(fresh.map(_.rows).sum == 7L)
    assert(after.map(_.deletedRowCount).sum == 3L)
    assert(SnapshotTable.metadataRowCount(after).contains(44L))
    assert(t.read.count() == 44L)
  }

  test("an evolving batch that omits a legacy spec column touches that vintage whole") {
    val path = tmp("sf_legacy_evolve")
    SnapshotTable(spark, path, "id", Some("p1c")).create(
      Seq((1L, "r1", "a", "x"), (2L, "r2", "a", "y"),
        (3L, "r3", "b", "x"), (4L, "r4", "b", "y"))
        .toDF("id", "val", "p1c", "p2c"))
    val t = SnapshotTable(spark, path, "id")
    t.repartitionTo(Seq("p2c"))
    // the batch carries no p1c: the staged batch null-fills it, so its
    // rendering under the old spec says nothing about where id 3 lives
    t.upsert(Seq((3L, "R3", "x", 1)).toDF("id", "val", "p2c", "extra"),
      evolveSchema = true)
    val rows = t.read.collect().map(r => r.getAs[Long]("id") -> r.getAs[String]("val"))
    assert(rows.length == 4, s"duplicate keys across vintages: ${rows.toSeq}")
    assert(rows.toMap == Map(1L -> "r1", 2L -> "r2", 3L -> "R3", 4L -> "r4"))
  }

  test("a failure between staging and commit leaves the head unchanged; vacuum reaps its files") {
    val path = tmp("sf_inject")
    val t = SnapshotTable(spark, path, "id", Some("part"))
    t.create((0 until 40).map(i => (i, i * 0.5, s"p${i % 2}")).toDF("id", "d", "part"))
    val v = t.currentVersion
    val want = t.read.collect().toSet
    val dataBefore = filesUnder(s"$path/data")
    // a handle declaring a bloom index on a column the sketches cannot
    // hash (a double) fails inside promotion: after the batch is staged
    // and its files moved into the data tree, before the commit
    val failing = SnapshotTable(spark, path, "id", Some("part"), bloomCols = Seq("d"))
    val e = intercept[IllegalArgumentException](
      failing.upsert(Seq((0, 9.5, "p0")).toDF("id", "d", "part")))
    assert(e.getMessage.contains("bloom"), e.getMessage)
    assert(t.currentVersion == v, "a failed merge moved the head")
    assert(t.read.collect().toSet == want)
    assert(filesUnder(s"$path/_stage").isEmpty, "the merge left its stage behind")
    assert(filesUnder(s"$path/data").size > dataBefore.size,
      "the injected failure came before promotion")
    t.vacuum(keepVersions = 1, retentionMs = 0)
    assert(filesUnder(s"$path/data") == dataBefore,
      "vacuum left the failed merge's files")
    assert(t.read.collect().toSet == want)
  }
}
