package graft.plans

import java.nio.file.Files

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

import graft.SparkSpec
import graft.sources.GraftCatalog

/** Merge equivalence against a model: random sequences of keyed
  * merges — batch sizes on both sides of the copy-on-write /
  * merge-on-read plan rule — interleaved with merge-on-read deletes,
  * compaction, vector purges and vacuum, on a partitioned and on a
  * clustered table. The key domain holds a NULL key ([[NullId]] in the
  * model), which lands in the null partition or cluster value. After every step the head, every retained version
  * (API, `format("graft")` and SQL `VERSION AS OF`) and the step's
  * change feed (`changesDelta` and the batch `readChangeFeed`, each
  * net of cancelling pairs) must equal a pk→row model. Seeds are
  * fixed, so a failure replays. */
class MergeModelSpec extends SparkSpec {

  import spark.implicits._
  import MergeModelSpec._

  private lazy val warehouse: String = {
    val wh = Files.createTempDirectory("graft_model_wh").toString
    GraftCatalog.register(spark, "graftmodel", wh)
    wh
  }

  /** How one layout places a key: the partition/cluster value is a
    * function of the id (the PK→partition contract). */
  private final case class Layout(name: String, open: String => SnapshotTable,
                                  placed: DataFrame => DataFrame)

  private val partitioned = Layout("part",
    p => SnapshotTable(spark, p, "id", partitionCol = Some("part")),
    _.withColumn("part", concat(lit("p"), (col("id") % 3).cast("string"))))

  private val clustered = Layout("clus",
    p => SnapshotTable(spark, p, "id", statsCols = Seq("k"),
      clusterBy = Seq("k"), clusterFiles = 3),
    _.withColumn("k", (col("id") / 10).cast("int")))

  /** The model's id of a row: [[NullId]] for the null key. */
  private def idOf(r: Row): Int = if (r.isNullAt(0)) NullId else r.getInt(0)

  private def rowsOf(df: DataFrame): Map[Int, String] = {
    val rs = df.select("id", "v").collect()
    val m = rs.map(r => idOf(r) -> r.getString(1)).toMap
    assert(m.size == rs.length, s"duplicate keys: ${rs.length} rows, ${m.size} keys")
    m
  }

  /** Signed net of a change feed: +1 per after image, −1 per before. */
  private def net(df: DataFrame): Map[(Int, String), Int] =
    df.select(col("id"), col("v"), col(SnapshotTable.ImageCol)).collect()
      .groupMapReduce(r => (idOf(r), r.getString(1)))(r =>
        if (r.getString(2) == "after") 1 else -1)(_ + _)
      .filter(_._2 != 0)

  private def diff(from: Map[Int, String], to: Map[Int, String])
      : Map[(Int, String), Int] =
    (to.toSeq.filterNot(kv => from.get(kv._1).contains(kv._2)).map(_ -> 1) ++
      from.toSeq.filterNot(kv => to.get(kv._1).contains(kv._2)).map(_ -> -1))
      .toMap

  private def runSequence(layout: Layout, seed: Long): (Int, Int) = {
    val path = s"$warehouse/m${layout.name}$seed/t"
    val sqlName = s"graftmodel.m${layout.name}$seed.t"
    val ops = Gen.listOfN(Steps, opGen).pureApply(Gen.Parameters.default, Seed(seed))
    var model = (NullId +: (0 until Universe by 2)).map(i => i -> s"s0_$i").toMap
    def keyed(df: DataFrame): DataFrame =
      layout.placed(df.withColumn("id", when(col("id") =!= NullId, col("id"))))
    def frame(rows: Iterable[(Int, String)]): DataFrame =
      keyed(rows.toSeq.toDF("id", "v"))
    layout.open(path).create(frame(model))
    val history = scala.collection.mutable.Map(1L -> model)
    var (merged, rewritten) = (0, 0)
    ops.zipWithIndex.foreach { case (op, i) =>
      val step = i + 1
      val t = layout.open(path)
      val headBefore = t.currentVersion.get
      val filesBefore = t.candidateFiles().map(e => e.path -> e).toMap
      val what = s"${layout.name} seed $seed step $step $op"
      op match {
        case Merge(ids, deletes) =>
          val upserts = ids.map(id => id -> s"s${step}_$id")
          if (deletes.isEmpty) t.upsert(frame(upserts))
          else t.upsertDelete(
            keyed((upserts.map { case (id, v) => (id, v, false) } ++
              deletes.map(id => (id, "", true))).toDF("id", "v", "__del")),
            "__del")
          model = model ++ upserts -- deletes
          val after = t.candidateFiles()
          if (after.exists(e => filesBefore.get(e.path).exists(
              _.deletedRowCount < e.deletedRowCount))) merged += 1
          if (!filesBefore.keySet.subsetOf(after.map(_.path).toSet)) rewritten += 1
        case DeleteMoR(ids) =>
          t.deleteMoR(col("id").isin(ids: _*) ||
            (if (ids.contains(NullId)) col("id").isNull else lit(false)))
          model = model -- ids
        case Compact => t.compact()
        case Purge => t.purgeDeletes()
        case Vacuum => t.vacuum(keepVersions = 3, retentionMs = 0L)
      }
      val head = layout.open(path)
      val v = head.currentVersion.get
      assert(v <= headBefore + 1, s"$what committed more than one version")
      if (v > headBefore) history(v) = model
      history.keys.toSeq.filterNot(head.hasVersion).foreach(history.remove)
      assert(history.contains(v), s"$what: head v$v not retained")
      assert(rowsOf(head.read) == model, s"$what: head differs from the model")
      history.toSeq.sortBy(_._1).foreach { case (hv, want) =>
        assert(rowsOf(head.readVersion(hv)) == want, s"$what: readVersion($hv)")
        assert(rowsOf(spark.read.format("graft").option("versionAsOf", hv)
          .load(path)) == want, s"$what: format(graft) versionAsOf $hv")
        assert(rowsOf(spark.sql(s"SELECT id, v FROM $sqlName VERSION AS OF $hv"))
          == want, s"$what: SQL VERSION AS OF $hv")
      }
      if (v > headBefore) {
        val want = diff(history(headBefore), model)
        assert(net(head.changesDelta(headBefore, v)) == want,
          s"$what: changesDelta($headBefore, $v) differs from the model diff")
        assert(net(spark.read.format("graft").option("readChangeFeed", "true")
          .option("startingVersion", headBefore).option("endingVersion", v)
          .load(path)) == want, s"$what: readChangeFeed ($headBefore, $v]")
      }
    }
    (merged, rewritten)
  }

  test("partitioned table: merges on both sides of the plan rule match the model") {
    val sides = Seeds.map(runSequence(partitioned, _))
    assert(sides.map(_._1).sum > 0, "no merge took the merge-on-read side")
    assert(sides.map(_._2).sum > 0, "no merge took the copy-on-write side")
  }

  test("clustered table: merges on both sides of the plan rule match the model") {
    val sides = Seeds.map(runSequence(clustered, _))
    assert(sides.map(_._1).sum > 0, "no merge took the merge-on-read side")
    assert(sides.map(_._2).sum > 0, "no merge took the copy-on-write side")
  }
}

object MergeModelSpec {
  val Universe = 40
  /** The model's stand-in for the NULL key. */
  val NullId: Int = -1
  val Steps = 10
  val Seeds: Seq[Long] = Seq(11L, 29L)

  sealed trait Op
  /** Upsert `ids` (fresh values); with `deletes`, an upsertDelete that
    * also removes those keys. */
  final case class Merge(ids: Seq[Int], deletes: Seq[Int]) extends Op
  final case class DeleteMoR(ids: Seq[Int]) extends Op
  case object Compact extends Op
  case object Purge extends Op
  case object Vacuum extends Op

  private val domain: Seq[Int] = NullId +: (0 until Universe)
  private val id = Gen.oneOf(domain)

  /** Distinct keys: small batches land on the merge-on-read side, large
    * ones (most of the key space) on the copy-on-write side. */
  private def keys(lo: Int, hi: Int): Gen[Seq[Int]] =
    Gen.choose(lo, hi).flatMap(n => Gen.pick(n, domain)).map(_.toSeq)

  private val merge: Gen[Op] = for {
    ks <- Gen.frequency(3 -> keys(1, 3), 2 -> keys(Universe * 3 / 4, Universe))
    withDeletes <- Gen.oneOf(false, false, true)
    dels <- if (withDeletes) Gen.choose(1, 3).flatMap(n => Gen.listOfN(n, id))
            else Gen.const(Nil)
  } yield {
    val d = dels.distinct.filterNot(ks.contains)
    Merge(ks, d)
  }

  val opGen: Gen[Op] = Gen.frequency(
    6 -> merge,
    1 -> Gen.choose(1, 3).flatMap(n => Gen.listOfN(n, id)).map(ids => DeleteMoR(ids.distinct)),
    1 -> Gen.const(Compact),
    1 -> Gen.const(Purge),
    1 -> Gen.const(Vacuum))
}
