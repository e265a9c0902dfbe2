package graft.perfbench

import java.io.{File, PrintWriter}
import java.time.{LocalDate, LocalDateTime, ZoneOffset}

import scala.collection.mutable
import scala.util.Random

import org.apache.spark.sql.SparkSession

import graft.plans.{MaterializedAgg, Pipeline, SnapshotTable}

/** `etl_daily`, the first half of [[Lakehouse]]: the reference's own
  * traffic. Set-up preloads a warehouse
  * through [[Pipeline.run]] and defines a recompute-join materialized
  * view (items sold by department, order_items ⋈ products). One cycle
  * lands one seeded daily drop — new orders and items, ~1% product
  * churn, re-submitted keys with changed values, late rows for earlier
  * dates, and every defect class at a fixed count — runs the pipeline
  * with a single attempt, then refreshes the view from its definition.
  *
  * A plain-Scala model applies the same rules (validation, then
  * referential integrity, then primary-key last-wins) and is the
  * oracle for the warehouse, the reject counts and the view. */
final class EtlDaily(spark: SparkSession, seed: Long, tracer: Tracer) {
  import EtlDaily._

  private var root = ""
  private var rng = new Random(seed)
  private val products = mutable.Map.empty[Int, Product]
  private val orders = mutable.Map.empty[Int, Order]
  private val items = mutable.Map.empty[Int, Item]
  private val productIds = mutable.ArrayBuffer.empty[Int]
  private val orderIds = mutable.ArrayBuffer.empty[Int]
  private val itemIds = mutable.ArrayBuffer.empty[Int]
  private var nextProduct, nextOrder, nextItem, nextFake = 1
  /** reject reason (per job dir) → planted count, over all runs */
  private val rejects = mutable.Map.empty[String, Long].withDefaultValue(0L)
  private var day = 0

  private def wh = s"$root/warehouse"
  private def mvPath = s"$root/views/dept_sales"
  private def table(name: String) = SnapshotTable(spark, s"$wh/$name",
    Pipeline.referenceJobs.find(_.name == name).get.primaryKey)

  def setup(dir: String): Unit = {
    root = dir
    rng = new Random(seed)
    Seq(products, orders, items).foreach(_.clear())
    Seq(productIds, orderIds, itemIds).foreach(_.clear())
    nextProduct = 1; nextOrder = 1; nextItem = 1; nextFake = 1
    rejects.clear()
    day = 0
    val batch = new Batch
    (1 to PreloadProducts).foreach(_ => newProduct(batch))
    (0 until PreloadDays).foreach { d =>
      dailyOrders(batch, d, OrdersPerDay, resubmit = false)
    }
    day = PreloadDays
    rawDir = s"$root/raw/preload"
    val expect = batch.land()
    checkReport(runPipeline(), expect, new Recorder, "preload")
    MaterializedAgg.defineRecomputeJoin(table("order_items"),
      Seq(MaterializedAgg.DimSpec(table("products"), "product_id",
        "product_id")),
      SnapshotTable(spark, mvPath, MaterializedAgg.KeyCol),
      Seq("department"), ViewMeasures)
  }

  /** Each drop lands under its own dated prefix (`raw/<date>/<table>/`).
    * Re-reading one fixed prefix in the same session reuses the earlier
    * drop's cached validation frame: `ValidationResult.unpersist` frees
    * the derived frames but not the cached base, and a later `persist`
    * of an equal plan (same CSV root path) is a no-op. */
  private var rawDir = ""

  private def runPipeline(): Pipeline.Report =
    Pipeline.run(spark, rawDir, wh, s"$root/rejected",
      s"$root/archived", retryAttempts = 1)

  def cycle(i: Int, rec: Recorder): Unit = {
    val batch = new Batch
    val churn = mutable.LinkedHashSet.empty[Int]
    while (churn.size < PreloadProducts / 100)
      churn += productIds(rng.nextInt(productIds.size))
    churn.foreach { id =>
      val old = products(id)
      val dept = rng.nextInt(6)
      batch.product(old.copy(deptId = dept + 1, dept = Departments(dept),
        name = s"Product_${id}_${Words(rng.nextInt(Words.size))}"))
    }
    (1 to 5).foreach(_ => newProduct(batch))
    dailyOrders(batch, day, DailyOrders, resubmit = true)
    rawDir = s"$root/raw/${dateOf(day)}"
    day += 1
    val expect = batch.land()
    rec.rows += batch.rows
    val before = if (tracer.enabled) Some(files()) else None
    rec.timed("op") {
      val report = tracer.span("pipeline")(runPipeline())
      checkReport(report, expect, rec, s"cycle $i")
      rec.timed("mv_refresh") {
        tracer.span("mv")(MaterializedAgg.refreshByDefinition(
          SnapshotTable(spark, mvPath, MaterializedAgg.KeyCol)))
      }
    }
    before.foreach { b =>
      val a = files()
      val added = a.keySet -- b.keySet
      val removed = b.keySet -- a.keySet
      tracer.extra("pipeline.files_added", added.size)
      tracer.extra("pipeline.files_removed", removed.size)
      tracer.extra("pipeline.bytes_rewritten_mb",
        removed.toSeq.map(b).sum / (1024.0 * 1024.0))
    }
  }

  /** Live data files of the three warehouse tables → bytes, read from
    * the snapshot manifests. */
  private def files(): Map[String, Long] =
    Pipeline.referenceJobs.flatMap { j =>
      table(j.name).candidateFiles().map(f => s"${j.name}/${f.path}" -> f.len)
    }.toMap

  private def checkReport(r: Pipeline.Report, e: Map[String, (Long, Long, Long)],
                          rec: Recorder, what: String): Unit = {
    rec.check(r.gatesPassed, s"$what: post-load gates failed")
    r.jobs.foreach { j =>
      val (read, rejected, orphaned) = e(j.name)
      val loaded = j.name match {
        case "products" => products.size
        case "orders" => orders.size
        case _ => items.size
      }
      rec.check(j.read == read && j.rejected == rejected &&
        j.orphaned == orphaned && j.loaded == loaded,
        s"$what ${j.name}: got read/rejected/orphaned/loaded " +
          s"${j.read}/${j.rejected}/${j.orphaned}/${j.loaded}, model " +
          s"$read/$rejected/$orphaned/$loaded")
    }
  }

  private def newProduct(b: Batch): Unit = {
    val dept = rng.nextInt(6)
    val id = nextProduct
    nextProduct += 1
    b.product(Product(id, dept + 1, Departments(dept),
      s"Product_${id}_${Words(rng.nextInt(Words.size))}"))
  }

  private def tsOf(d: Int): Long =
    LocalDate.of(2025, 1, 1).plusDays(d.toLong).atStartOfDay()
      .toEpochSecond(ZoneOffset.UTC) + rng.nextInt(86400)

  private def newOrder(b: Batch, d: Int): Order = {
    val id = nextOrder
    nextOrder += 1
    val o = Order(rng.nextInt(100) + 1, id, 1001 + rng.nextInt(8999),
      tsOf(d), 2003 + rng.nextInt(47994), dateOf(d))
    b.order(o)
    o
  }

  private def newItems(b: Batch, o: Order): Unit =
    (1 to 1 + rng.nextInt(9)).foreach { k =>
      val id = nextItem
      nextItem += 1
      val pid = productIds(rng.nextInt(productIds.size))
      b.item(Item(id, o.id, o.user,
        if (rng.nextInt(20) == 0) None else Some(rng.nextInt(31)), pid, k,
        rng.nextInt(2), o.ts, o.date))
    }

  /** One day's orders and items plus, for daily drops, re-submitted keys
    * and late rows; then the defect rows. */
  private def dailyOrders(b: Batch, d: Int, n: Int, resubmit: Boolean): Unit = {
    (1 to n).foreach(_ => newItems(b, newOrder(b, d)))
    if (resubmit) {
      (1 to n / 50).foreach(_ => newItems(b, newOrder(b, (d - 1 - rng.nextInt(5)).max(0))))
      val ro = mutable.Set.empty[Int]
      (1 to n / 50).foreach { _ => ro += orderIds(rng.nextInt(orderIds.size)) }
      (ro -- b.orderKeys).foreach(id => b.order(orders(id).copy(
        amountCents = 2003 + rng.nextInt(47994))))
      val ri = mutable.Set.empty[Int]
      (1 to n / 25).foreach { _ => ri += itemIds(rng.nextInt(itemIds.size)) }
      (ri -- b.itemKeys).foreach { id =>
        val it = items(id)
        b.item(it.copy(reordered = 1 - it.reordered, atc = 1 + rng.nextInt(10)))
      }
    }
    b.defects(d)
  }

  /** One drop's raw rows, applied to the model as they are generated. */
  private final class Batch {
    val productLines = mutable.ArrayBuffer.empty[String]
    val orderLines = mutable.ArrayBuffer.empty[String]
    val itemLines = mutable.ArrayBuffer.empty[String]
    val orderKeys = mutable.Set.empty[Int]
    val itemKeys = mutable.Set.empty[Int]
    private val pending = mutable.ArrayBuffer.empty[Item]
    private val rejected = mutable.Map.empty[String, Long].withDefaultValue(0L)
    private val orphans = mutable.Map.empty[String, Long].withDefaultValue(0L)

    def rows: Long = productLines.size + orderLines.size + itemLines.size

    def product(p: Product): Unit = {
      productLines += s"${p.id},${p.deptId},${p.dept},${p.name}"
      if (!products.contains(p.id)) productIds += p.id
      products(p.id) = p
    }
    def order(o: Order): Unit = {
      orderLines += orderLine(o)
      if (!orders.contains(o.id)) orderIds += o.id
      orders(o.id) = o
      orderKeys += o.id
    }
    /** Items wait for RI until the batch's orders and products are in. */
    def item(it: Item): Unit = {
      itemLines += itemLine(it)
      pending += it
      itemKeys += it.id
    }

    private def reject(job: String, reason: String, line: String): Unit = {
      (job match {
        case "products" => productLines
        case "orders" => orderLines
        case _ => itemLines
      }) += line
      rejected(job) += 1
      rejects(s"$job|$reason") += 1
    }
    private def fakeId(): Int = { nextFake += 1; 900000000 + nextFake }

    /** FIXTURES.md §2 defect classes, at fixed counts per drop. */
    def defects(d: Int): Unit = {
      def o(): Order = Order(rng.nextInt(100) + 1, fakeId(),
        1001 + rng.nextInt(8999), tsOf(d), 2003 + rng.nextInt(47994), dateOf(d))
      val ol = orderLine _
      reject("orders", "null_primary_key", ol(o()).replaceFirst(",\\d+,", ",,"))
      reject("orders", "null_required_column:user_id", {
        val x = o(); s"${x.num},${x.id},,${fmtTs(x.ts)},${fmtAmt(x.amountCents)},${x.date}" })
      reject("orders", "null_required_column:order_timestamp", {
        val x = o(); s"${x.num},${x.id},${x.user},not-a-time,${fmtAmt(x.amountCents)},${x.date}" })
      reject("orders", "null_required_column:order_num", "x" + ol(o()))
      // identical within-batch duplicate: either copy may survive
      val dup = newOrder(this, d)
      orderLines += orderLine(dup)
      newItems(this, dup)
      val anyOrder = orders(orderIds(rng.nextInt(orderIds.size)))
      def it(): Item = Item(fakeId(), anyOrder.id, anyOrder.user, Some(3),
        productIds(rng.nextInt(productIds.size)), 1, 0, anyOrder.ts, anyOrder.date)
      val il = itemLine _
      reject("order_items", "null_primary_key", {
        val x = it(); il(x).replaceFirst(s"^${x.id},", ",") })
      reject("order_items", "null_required_column:user_id", {
        val x = it(); il(x).replaceFirst(s"^${x.id},${x.orderId},${x.user},",
          s"${x.id},${x.orderId},,") })
      reject("order_items", "null_required_column:add_to_cart_order", {
        val x = it(); s"${x.id},${x.orderId},${x.user},3,${x.productId}," +
          s"seven,0,${fmtTs(x.ts)},${x.date}" })
      reject("order_items", "null_required_column:order_timestamp", {
        val x = it(); il(x).replace(fmtTs(x.ts), "2025-02-30T25:61:00") })
      // referential-integrity orphans, one bad key each
      val noOrder = it().copy(orderId = fakeId())
      itemLines += il(noOrder); orphans("order_id") += 1
      rejects("order_items_ri_order_id|") += 1
      val noProduct = it().copy(productId = fakeId())
      itemLines += il(noProduct); orphans("product_id") += 1
      rejects("order_items_ri_product_id|") += 1
      val dupItem = pending.last
      itemLines += itemLine(dupItem)
      reject("products", "null_primary_key", s",1,Books,Product_x_Store")
      reject("products", "null_required_column:department_id",
        s"${fakeId()},d3,Books,Product_y_Store")
    }

    /** Write the raw CSVs; returns job → (read, rejected, orphaned) as
      * the pipeline should report them, and folds the valid items into
      * the model. */
    def land(): Map[String, (Long, Long, Long)] = {
      pending.foreach { it =>
        if (orders.contains(it.orderId) && products.contains(it.productId)) {
          if (!items.contains(it.id)) itemIds += it.id
          items(it.id) = it
        }
      }
      write(s"$rawDir/products", ProductsHeader, productLines)
      write(s"$rawDir/orders", OrdersHeader, orderLines)
      write(s"$rawDir/order_items", ItemsHeader, itemLines)
      Map(
        "products" -> ((productLines.size.toLong, rejected("products"), 0L)),
        "orders" -> ((orderLines.size.toLong, rejected("orders"), 0L)),
        "order_items" -> ((itemLines.size.toLong, rejected("order_items"),
          orphans("order_id") + orphans("product_id"))))
    }
  }

  private def write(dir: String, header: String, lines: Iterable[String]): Unit = {
    new File(dir).mkdirs()
    val tmp = new File(s"$root/landing.tmp")
    val w = new PrintWriter(tmp, "UTF-8")
    try { w.println(header); lines.foreach(w.println) } finally w.close()
    val dst = new File(s"$dir/drop.csv")
    if (!tmp.renameTo(dst))
      throw new IllegalStateException(s"could not land $dst")
  }

  def finalCheck(rec: Recorder): Unit = {
    import org.apache.spark.sql.functions.col
    val p = table("products").read.collect().map { r =>
      Product(r.getAs[Int]("product_id"), r.getAs[Int]("department_id"),
        r.getAs[String]("department"), r.getAs[String]("product_name"))
    }
    rec.check(p.length == products.size && p.forall(x => products.get(x.id)
      .contains(x)), s"products differ from the model (${p.length} vs ${products.size})")
    val o = table("orders").read.collect().map { r =>
      Order(r.getAs[Int]("order_num"), r.getAs[Int]("order_id"),
        r.getAs[Int]("user_id"),
        r.getAs[java.sql.Timestamp]("order_timestamp").getTime / 1000,
        math.round(r.getAs[Double]("total_amount") * 100).toInt,
        r.getAs[String]("date"))
    }
    rec.check(o.length == orders.size && o.forall(x => orders.get(x.id)
      .contains(x)), s"orders differ from the model (${o.length} vs ${orders.size})")
    val it = table("order_items").read.collect().map { r =>
      Item(r.getAs[Int]("id"), r.getAs[Int]("order_id"), r.getAs[Int]("user_id"),
        Option(r.getAs[Integer]("days_since_prior_order")).map(_.intValue),
        r.getAs[Int]("product_id"), r.getAs[Int]("add_to_cart_order"),
        r.getAs[Int]("reordered"),
        r.getAs[java.sql.Timestamp]("order_timestamp").getTime / 1000,
        r.getAs[String]("date"))
    }
    rec.check(it.length == items.size && it.forall(x => items.get(x.id)
      .contains(x)), s"order_items differ from the model (${it.length} vs ${items.size})")

    // reject side outputs, per defect class, over every run: the CSV
    // part files are read line by line (reasons and ids hold no commas)
    val got = mutable.Map.empty[String, Long].withDefaultValue(0L)
    def csvRows(dir: String): Iterator[Array[String]] =
      Option(new File(dir).listFiles).iterator.flatten
        .filter(f => f.getName.startsWith("part-") && f.getName.endsWith(".csv"))
        .flatMap { f =>
          val src = scala.io.Source.fromFile(f, "UTF-8")
          try src.getLines().toVector.map(_.split(",", -1)) finally src.close()
        }
    Seq("products", "orders", "order_items").foreach { job =>
      csvRows(s"$root/rejected/$job").foreach { cells =>
        if (cells.last != "reject_reason") got(s"$job|${cells.last}") += 1
      }
    }
    Seq("order_items_ri_order_id", "order_items_ri_product_id").foreach { d =>
      got(s"$d|") += csvRows(s"$root/rejected/$d").count(_.head != "id")
    }
    rec.check(got.toMap == rejects.toMap,
      s"reject counts per class differ: got ${got.toMap}, planted ${rejects.toMap}")

    // the view against a recompute from the model
    val expected = items.values.groupBy(i => products(i.productId).dept).map {
      case (dept, xs) => dept -> ((xs.size.toLong, xs.map(_.orderId).toSet.size.toLong,
        xs.map(_.reordered.toLong).sum))
    }
    val view = SnapshotTable(spark, mvPath, MaterializedAgg.KeyCol).read
      .select(col("department"), col("items"), col("orders"), col("reorders"))
      .collect().map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2),
        r.getLong(3)))).toMap
    rec.check(view == expected,
      s"materialized view differs from a full recompute: $view vs $expected")
  }

  def diskBytes: Long = Main.dirBytes(wh) + Main.dirBytes(s"$root/views")
}

object EtlDaily {
  val PreloadProducts = 1000
  val PreloadDays = 2
  val OrdersPerDay = 500
  val DailyOrders = 500

  val Departments: IndexedSeq[String] =
    IndexedSeq("Books", "Clothing", "Electronics", "Home", "Sports", "Toys")
  val Words: IndexedSeq[String] =
    IndexedSeq("Store", "Prime", "Basic", "Ultra", "Lite", "Max", "Pro", "Eco")
  val ViewMeasures: Seq[(String, String)] = Seq(
    "items" -> "count(1)",
    "orders" -> "count(distinct order_id)",
    "reorders" -> "sum(cast(reordered as bigint))")

  final case class Product(id: Int, deptId: Int, dept: String, name: String)
  final case class Order(num: Int, id: Int, user: Int, ts: Long,
                         amountCents: Int, date: String)
  final case class Item(id: Int, orderId: Int, user: Int, dspo: Option[Int],
                        productId: Int, atc: Int, reordered: Int, ts: Long,
                        date: String)

  val ProductsHeader = "product_id,department_id,department,product_name"
  val OrdersHeader = "order_num,order_id,user_id,order_timestamp,total_amount,date"
  val ItemsHeader = "id,order_id,user_id,days_since_prior_order,product_id," +
    "add_to_cart_order,reordered,order_timestamp,date"

  def dateOf(d: Int): String = LocalDate.of(2025, 1, 1).plusDays(d.toLong).toString
  def fmtTs(epochS: Long): String =
    LocalDateTime.ofEpochSecond(epochS, 0, ZoneOffset.UTC).toString match {
      case s if s.length == 16 => s + ":00" // ISO drops zero seconds
      case s => s
    }
  def fmtAmt(cents: Int): String = f"${cents / 100}.${cents % 100}%02d"
  def orderLine(o: Order): String =
    s"${o.num},${o.id},${o.user},${fmtTs(o.ts)},${fmtAmt(o.amountCents)},${o.date}"
  def itemLine(i: Item): String =
    s"${i.id},${i.orderId},${i.user},${i.dspo.fold("")(_.toString)}," +
      s"${i.productId},${i.atc},${i.reordered},${fmtTs(i.ts)},${i.date}"
}
