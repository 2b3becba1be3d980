package perfbench

import java.time.LocalDate
import java.util.SplittableRandom

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.sources.cassandralike.Seed

/** Grouped aggregates and joins that no planning-time shortcut can answer:
  * a Q1-style grouped scan of a lineitem store, a Q3-style store x
  * dimension join, and a co-partitioned store-to-store join. The `scan`
  * merge, shuffle and task time dominate, which makes this the "no change"
  * control for optimisations of the lookup path. Parameters (dates,
  * segments, price floors) are drawn from the workload seed. */
final class ScanAnalytics(ctx: Ctx) extends Workload {
  import ctx.spark.implicits._

  val name = "scan_analytics"
  val warmupOps = 0
  val opsPerSecond = 1.5

  private val spark = ctx.spark
  private val rnd = new SplittableRandom(ctx.seed)
  private val lineDir = ctx.storeDir("sa_lineitem")
  private val ordersDir = ctx.storeDir("sa_orders")
  private val byKey = s"${ctx.namespace}.orders_by_key"
  private val revByKey = s"${ctx.namespace}.orderrev_by_key"
  val storeDirs: Seq[String] = Seq(lineDir, ordersDir,
    ctx.catalogDir("orders_by_key"), ctx.catalogDir("orderrev_by_key"))

  // reference model, from the source parquet
  private final class Lines(n: Int) {
    val order = new Array[Int](n); val qty = new Array[Long](n)
    val price = new Array[Long](n); val disc = new Array[Int](n)
    val flag = new Array[String](n); val status = new Array[String](n)
    val ship = new Array[Int](n)
  }
  private var li: Lines = _
  private var oCust, oDay: Array[Int] = _
  private var oPrio: Array[String] = _
  private var oTotal: Array[Double] = _
  private var oRevenue: Array[BigInt] = _ // scale 4
  private var cSeg: Array[String] = _

  private var customer: DataFrame = _

  def reference(): Unit = {
    val rows = ctx.parquet("lineitem").select($"l_orderkey", $"l_quantity", $"l_extendedprice",
      $"l_discount", $"l_returnflag", $"l_linestatus", $"l_shipdate").collect()
    li = new Lines(rows.length)
    rows.zipWithIndex.foreach { case (r, i) =>
      li.order(i) = r.getLong(0).toInt
      li.qty(i) = Check.toCents(r.getDouble(1))
      li.price(i) = Check.toCents(r.getDouble(2))
      li.disc(i) = Check.toCents(r.getDouble(3)).toInt
      li.flag(i) = r.getString(4); li.status(i) = r.getString(5)
      li.ship(i) = r.getDate(6).toLocalDate.toEpochDay.toInt
    }
    val n = Base.Orders
    oCust = new Array(n); oDay = new Array(n); oPrio = new Array(n); oTotal = new Array(n)
    ctx.parquet("orders").select($"o_orderkey", $"o_custkey", $"o_orderdate",
      $"o_orderpriority", $"o_totalprice").collect().foreach { r =>
      val k = r.getLong(0).toInt - 1
      oCust(k) = r.getLong(1).toInt; oDay(k) = r.getDate(2).toLocalDate.toEpochDay.toInt
      oPrio(k) = r.getString(3); oTotal(k) = r.getDouble(4)
    }
    oRevenue = Array.fill(n)(BigInt(0))
    li.order.indices.foreach(i => oRevenue(li.order(i) - 1) += revenue(i))
    cSeg = new Array(Base.Customers)
    ctx.parquet("customer").select($"c_custkey", $"c_mktsegment").collect()
      .foreach(r => cSeg(r.getLong(0).toInt - 1) = r.getString(1))
  }

  /** price * (1 - discount) of line i, exact at scale 4. */
  private def revenue(i: Int): BigInt = BigInt(li.price(i)) * (100 - li.disc(i))

  def clean(): Unit = {
    spark.sql(s"DROP TABLE IF EXISTS $byKey")
    spark.sql(s"DROP TABLE IF EXISTS $revByKey")
    storeDirs.foreach(d => Disk.deleteRecursively(java.nio.file.Paths.get(d)))
  }

  def setup(): Unit = {
    val lineitem = ctx.parquet("lineitem")
    val orders = ctx.parquet("orders")
    customer = ctx.parquet("customer")
    ctx.runner.write(lineDir, li.order.length * 7L, 0L) {
      Seed.table(spark, ctx.storeSet, "sa_lineitem", lineitem.select(
        concat(lpad($"l_orderkey".cast("string"), 10, "0"), $"l_linenumber".cast("string"))
          .as("l_key"),
        $"l_orderkey", $"l_quantity", $"l_extendedprice", $"l_discount",
        $"l_returnflag", $"l_linestatus", $"l_shipdate".cast("string")))
    }
    ctx.runner.write(ordersDir, Base.Orders * 4L, 0L) {
      Seed.table(spark, ctx.storeSet, "sa_orders", orders.select($"o_orderkey", $"o_custkey",
        $"o_orderdate".cast("string"), $"o_orderpriority", $"o_totalprice"))
    }
    // two stores with the same token-bucket layout, reported to Catalyst,
    // so their join on the row key needs no exchange on either side
    spark.sql(s"CREATE NAMESPACE IF NOT EXISTS ${ctx.namespace}")
    spark.sql(s"""CREATE TABLE $byKey
      |  (o_orderkey BIGINT, o_orderpriority STRING, o_totalprice DOUBLE) USING cassandralike
      |TBLPROPERTIES ('buckets' = '16', 'partitioning.report' = 'true')""".stripMargin)
    spark.sql(s"""CREATE TABLE $revByKey (o_orderkey BIGINT, revenue DOUBLE) USING cassandralike
      |TBLPROPERTIES ('buckets' = '16', 'partitioning.report' = 'true')""".stripMargin)
    ctx.runner.write(ctx.catalogDir("orders_by_key"), Base.Orders * 2L, 0L) {
      orders.select($"o_orderkey", $"o_orderpriority", $"o_totalprice").writeTo(byKey).append()
    }
    ctx.runner.write(ctx.catalogDir("orderrev_by_key"), Base.Orders.toLong, 0L) {
      lineitem.groupBy($"l_orderkey".as("o_orderkey")).agg(revenueCol.as("revenue"))
        .writeTo(revByKey).append()
    }
  }

  private def dec(c: Column): Column = c.cast("decimal(12,2)")
  private def revenueCol: Column =
    sum(dec($"l_extendedprice") * (lit(1) - $"l_discount".cast("decimal(4,2)"))).cast("double")

  private def lines = Seed.read(spark, lineDir)
  private def ordersStore = Seed.read(spark, ordersDir)
  /** Stores hold dates as ISO text, whose order is date order. */
  private def day(d: Int): String = LocalDate.ofEpochDay(d).toString

  private def sumDouble(xs: Iterator[BigInt], scale: Int): Double =
    Check.scaled(xs.foldLeft(BigInt(0))(_ + _), scale)

  private val kinds = Workload.mix(1, 1, 1)

  def next(): Op = kinds.next() match {
    case 0 =>
      val cut = LocalDate.of(1998, 12, 1).toEpochDay.toInt - (60 + rnd.nextInt(61))
      Read("q1_grouped", () => lines.filter($"l_shipdate" <= lit(day(cut)))
          .groupBy($"l_returnflag", $"l_linestatus")
          .agg(sum(dec($"l_quantity")).cast("double"), sum(dec($"l_extendedprice")).cast("double"),
            revenueCol, count(lit(1))),
        () => li.order.indices.filter(i => li.ship(i) <= cut)
          .groupBy(i => (li.flag(i), li.status(i))).toSeq.map { case ((f, s), is) =>
            Check.line(f, s, sumDouble(is.iterator.map(i => BigInt(li.qty(i))), 2),
              sumDouble(is.iterator.map(i => BigInt(li.price(i))), 2),
              sumDouble(is.iterator.map(revenue), 4), is.size.toLong)
          })
    case 1 =>
      val seg = Base.Segments(rnd.nextInt(Base.Segments.size))
      val d = LocalDate.of(1995, 3, 1).toEpochDay.toInt + rnd.nextInt(31)
      Read("q3_join", () => customer.filter($"c_mktsegment" === seg).select($"c_custkey")
          .join(ordersStore.filter($"o_orderdate" < lit(day(d)))
            .select($"o_orderkey", $"o_custkey", $"o_orderdate"), $"c_custkey" === $"o_custkey")
          .join(lines.filter($"l_shipdate" > lit(day(d)))
            .select($"l_orderkey", $"l_extendedprice", $"l_discount"), $"l_orderkey" === $"o_orderkey")
          .groupBy($"l_orderkey", $"o_orderdate").agg(revenueCol.as("revenue"))
          .orderBy($"revenue".desc, $"l_orderkey").limit(10),
        () => li.order.indices.filter { i =>
            val o = li.order(i) - 1
            li.ship(i) > d && oDay(o) < d && cSeg(oCust(o) - 1) == seg
          }.groupBy(li.order(_)).toSeq
          .map { case (o, is) => (o, sumDouble(is.iterator.map(revenue), 4)) }
          .sortBy { case (o, r) => (-r, o) }.take(10)
          .map { case (o, r) => Check.line(o.toLong, day(oDay(o - 1)), r) })
    case _ =>
      // floors below the cheapest tenth of orders: every floor joins about
      // the same number of rows, so the seed moves the answer, not the cost
      val p = 900.0 + 500 * rnd.nextInt(100)
      Read("copartitioned_join", () => spark.table(byKey).filter($"o_totalprice" >= p)
          .hint("MERGE")
          .join(spark.table(revByKey), Seq("o_orderkey"))
          .groupBy($"o_orderpriority")
          .agg(count(lit(1)), sum(dec($"o_totalprice")).cast("double"), max($"revenue")),
        () => oTotal.indices.filter(oTotal(_) >= p).groupBy(oPrio(_)).toSeq.map { case (pr, os) =>
          Check.line(pr, os.size.toLong, sumDouble(os.iterator.map(o => BigInt(Check.toCents(oTotal(o)))), 2),
            os.map(o => Check.scaled(oRevenue(o), 4)).max)
        })
  }
}
