package perfbench

import java.util.SplittableRandom

import org.apache.spark.sql.functions._

import graft.sources.cassandralike.{Options, Seed}

/** Key lookups against three pre-seeded stores: a regular orders store, a
  * wide-row (transposed) lineitem store and an indexed customer store. Each
  * op touches few cells, so the fixed cost of planning and launching Spark
  * work and the store's probe path dominate; shuffle does almost nothing.
  * Keys follow a Zipf distribution (s = 0.99). */
final class KvLookup(ctx: Ctx) extends Workload {
  import ctx.spark.implicits._
  import Workload.key

  val name = "kv_lookup"
  val warmupOps = 10
  val opsPerSecond = 25.0

  private val spark = ctx.spark
  private val rnd = new SplittableRandom(ctx.seed)
  private val orderZipf = new Zipf(Base.Orders, 0.99, rnd)
  private val custZipf = new Zipf(Base.Customers, 0.99, rnd)

  private val ordersDir = ctx.storeDir("kv_orders")
  private val wideDir = ctx.storeDir("kv_wide")
  private val custDir = ctx.storeDir("kv_cust")
  val storeDirs: Seq[String] = Seq(ordersDir, wideDir, custDir)

  // reference model, from the source parquet
  private var orders: Array[(Long, String, Double, String)] = _ // by orderkey - 1
  private var lines: Array[Array[(Int, Long)]] = _ // (linenumber, floor(qty)) by orderkey - 1
  private var cust: Array[(String, String, Double)] = _ // by custkey - 1
  private var segCount: Map[String, Long] = _
  // logical bytes of the user cells of each store: key plus value bytes
  private var ordersBytes, wideBytes, custBytes = 0L

  def reference(): Unit = {
    orders = new Array(Base.Orders)
    ctx.parquet("orders").select($"o_orderkey", $"o_custkey", $"o_orderstatus",
      $"o_totalprice", $"o_orderpriority").collect().foreach { r =>
      orders(r.getLong(0).toInt - 1) = (r.getLong(1), r.getString(2), r.getDouble(3), r.getString(4))
    }
    val ls = Array.fill(Base.Orders)(List.empty[(Int, Long)])
    ctx.parquet("lineitem").select($"l_orderkey", $"l_linenumber", $"l_quantity").collect()
      .foreach(r => ls(r.getLong(0).toInt - 1) ::= ((r.getInt(1), math.floor(r.getDouble(2)).toLong)))
    lines = ls.map(_.sortBy(_._1).toArray)
    cust = new Array(Base.Customers)
    ctx.parquet("customer").select($"c_custkey", $"c_name", $"c_mktsegment", $"c_acctbal")
      .collect().foreach(r => cust(r.getLong(0).toInt - 1) = (r.getString(1), r.getString(2), r.getDouble(3)))
    segCount = cust.groupBy(_._2).map { case (s, cs) => s -> cs.length.toLong }
    def b(s: String) = s.getBytes("UTF-8").length
    ordersBytes = orders.map(o => 4 * 10 + 8 + b(o._2) + 8 + b(o._4).toLong).sum
    wideBytes = lines.map(_.length * (10 + 4 + 8).toLong).sum
    custBytes = cust.map(c => 3 * 8 + b(c._1) + b(c._2) + 8L).sum
  }

  def clean(): Unit = storeDirs.foreach(d => Disk.deleteRecursively(java.nio.file.Paths.get(d)))

  def setup(): Unit = {
    val o = ctx.parquet("orders")
    // one writer task: every bucket gets one run, so the planning-time
    // answers (range counts, COUNT/MIN/MAX) apply
    ctx.runner.write(ordersDir, Base.Orders * 4L, ordersBytes) {
      Seed.table(spark, ctx.storeSet, "kv_orders", o.select(
        lpad($"o_orderkey".cast("string"), 10, "0").as("row_key"),
        $"o_custkey", $"o_orderstatus", $"o_totalprice", $"o_orderpriority").repartition(1))
    }
    ctx.runner.write(wideDir, lines.map(_.length.toLong).sum, wideBytes) {
      Seed.table(spark, ctx.storeSet, "kv_wide", ctx.parquet("lineitem").select(
        lpad($"l_orderkey".cast("string"), 10, "0").as("row_key"),
        lpad($"l_linenumber".cast("string"), 4, "0").as("column_name"),
        floor($"l_quantity").cast("bigint").as("value")).repartition(1),
        mapping = Some(":key,:column,:value"))
    }
    ctx.runner.write(custDir, Base.Customers * 3L, custBytes) {
      Seed.table(spark, ctx.storeSet, "kv_cust", ctx.parquet("customer")
        .select($"c_custkey", $"c_name", $"c_mktsegment", $"c_acctbal"),
        props = Map(Options.IndexColumns -> "c_name,c_mktsegment"))
    }
  }

  override def liveUserBytes: Long = ordersBytes + wideBytes + custBytes

  private def orderLine(k: Int): String = {
    val o = orders(k - 1)
    Check.line(key(k), o._1, o._2, o._3, o._4)
  }

  private def ordersStore = Seed.read(spark, ordersDir)
    .select($"row_key", $"o_custkey", $"o_orderstatus", $"o_totalprice", $"o_orderpriority")

  private val kinds = Workload.mix(5, 3, 3, 2, 2, 1, 2, 2)

  def next(): Op = kinds.next() match {
    case 0 =>
      val k = orderZipf.item()
      Read("point", () => ordersStore.filter($"row_key" === key(k)), () => Seq(orderLine(k)))
    case 1 =>
      val ks = Seq.fill(8)(orderZipf.item()).distinct
      Read("in", () => ordersStore.filter($"row_key".isin(ks.map(key(_)): _*)),
        () => ks.map(orderLine))
    case 2 =>
      val a = orderZipf.item()
      val hi = math.min(a + 50, Base.Orders + 1)
      Read("slice", () => ordersStore.filter($"row_key" >= key(a) && $"row_key" < key(hi)),
        () => (a until hi).map(orderLine))
    case 3 =>
      val k = orderZipf.item()
      Read("wide_row", () => Seed.read(spark, wideDir).filter($"row_key" === key(k))
          .select($"row_key", $"column_name", $"value"),
        () => lines(k - 1).toSeq.map { case (ln, q) => Check.line(key(k), f"$ln%04d", q) })
    case 4 =>
      // COUNT/MIN/MAX of a key range of the wide store, answered at planning
      val a = orderZipf.item()
      val hi = math.min(a + 2000, Base.Orders + 1)
      Read("range_count", () => Seed.read(spark, wideDir)
          .filter($"row_key" >= key(a) && $"row_key" < key(hi))
          .agg(count(lit(1)), min($"row_key"), max($"row_key")),
        () => Seq(Check.line((a until hi).map(k => lines(k - 1).length.toLong).sum,
          key(a), key(hi - 1))))
    case 5 =>
      // the same on the regular store: rows, not cells
      val a = orderZipf.item()
      val hi = math.min(a + 5000, Base.Orders + 1)
      Read("row_count", () => Seed.read(spark, ordersDir)
          .filter($"row_key" >= key(a) && $"row_key" < key(hi))
          .agg(count(lit(1)), min($"row_key"), max($"row_key")),
        () => Seq(Check.line((hi - a).toLong, key(a), key(hi - 1))))
    case 6 =>
      val c = custZipf.item()
      val nm = cust(c - 1)._1
      Read("index_eq", () => Seed.read(spark, custDir).filter($"c_name" === nm)
          .select($"c_custkey", $"c_name", $"c_mktsegment", $"c_acctbal"),
        () => Seq(Check.line(c.toLong, nm, cust(c - 1)._2, cust(c - 1)._3)))
    case _ =>
      val seg = Base.Segments(rnd.nextInt(Base.Segments.size))
      Read("index_count", () => Seed.read(spark, custDir)
          .filter($"c_mktsegment" === seg).agg(count(lit(1))),
        () => Seq(Check.line(segCount.getOrElse(seg, 0L))))
  }
}
