package graft.plans

import java.nio.file.Files

import graft.SparkSpec

/** Persistent catalog semantics (S4) of a graft table registered with
  * `CREATE TABLE … USING graft LOCATION`: it outlives the session that
  * registered it — the Glue-Catalog behavior — while a temp view does
  * not; partitions an upsert adds are visible after a REFRESH, with no
  * `MSCK REPAIR`, since the manifest lists them; a partition filter
  * through the name prunes at planning time. */
class CatalogSpec extends SparkSpec {

  import spark.implicits._

  /** A partitioned table created from `rows` and registered as `name`
    * for the duration of `body`. */
  private def registered(name: String, rows: (Int, String, String)*)(
      body: SnapshotTable => Unit): Unit = {
    val path = Files.createTempDirectory(s"graft_$name").toString + "/table"
    val t = SnapshotTable(spark, path, "id", Some("part"))
    t.create(rows.toDF("id", "val", "part"))
    spark.sql(s"CREATE TABLE $name USING graft LOCATION '$path'")
    try body(t) finally spark.sql(s"DROP TABLE IF EXISTS $name")
  }

  private def count(name: String): Long =
    spark.sql(s"SELECT count(*) FROM $name").head().getLong(0)

  test("a USING graft table survives a new session; a temp view does not") {
    registered("graft_cat_persistent", (1, "a", "p1"), (2, "b", "p2")) { t =>
      t.read.createOrReplaceTempView("graft_cat_tempview")
      // a NEW session: fresh temp-view namespace, same catalog — exactly
      // the boundary a Glue-Catalog table crosses and a temp view doesn't
      val s2 = spark.newSession()
      assert(s2.catalog.tableExists("graft_cat_persistent"))
      assert(!s2.catalog.tableExists("graft_cat_tempview"))
      assert(s2.sql("SELECT count(*) FROM graft_cat_persistent")
        .head().getLong(0) == 2)
    }
  }

  test("partition recovery: partitions added by upsert become queryable") {
    registered("graft_cat_grow", (1, "a", "p1")) { t =>
      assert(count("graft_cat_grow") == 1)
      t.upsert(Seq((2, "b", "p2")).toDF("id", "val", "part")) // new partition
      spark.sql("REFRESH TABLE graft_cat_grow")
      assert(count("graft_cat_grow") == 2)
      assert(spark.sql("SELECT val FROM graft_cat_grow WHERE part = 'p2'")
        .head().getString(0) == "b")
    }
  }

  test("partition filter prunes through the catalog table") {
    registered("graft_cat_prune", (1, "a", "p1"), (2, "b", "p2"), (3, "c", "p2")) { _ =>
      val df = spark.sql("SELECT id FROM graft_cat_prune WHERE part = 'p1'")
      val plan = df.queryExecution.executedPlan.toString
      assert(plan.contains("PartitionFilters: [isnotnull(part"),
        s"no partition pruning through the catalog table:\n$plan")
      assert(df.collect().map(_.getInt(0)).toSeq == Seq(1))
    }
  }
}
