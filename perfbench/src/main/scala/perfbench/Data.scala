package perfbench

import java.nio.file.{Files, Path}
import java.util.SplittableRandom

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** The read-only base tables every workload starts from: a TPC-H-like star
  * at scale factor 0.01 (orders 15k, lineitem ~60k, customer 1.5k) plus a
  * document corpus (5k) and an embedding table (2k x 64). The scale keeps
  * one run, with its repeated setup, near half a minute on 4 busy cores,
  * so the runs that compare two commits fit in an hour. They are a pure
  * function of [[Base.Seed]] — not of the workload seed, which only picks
  * keys, parameters and generated rows — so they are written once per
  * checkout and reused by every run. */
object Base {
  val Seed = 20261017L
  val Orders = 15000
  val Customers = 1500
  val Docs = 5000
  val Vecs = 2000
  val Dim = 64
  /** Bumped whenever the generator changes, so a stale cache is not read. */
  val Version = "v3"

  val Segments = Seq("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
  val Priorities = Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
  val Regions = Seq("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
  val Nations: Seq[(String, Int)] = Seq(
    "ALGERIA" -> 0, "ARGENTINA" -> 1, "BRAZIL" -> 1, "CANADA" -> 1, "EGYPT" -> 4,
    "ETHIOPIA" -> 0, "FRANCE" -> 3, "GERMANY" -> 3, "INDIA" -> 2, "INDONESIA" -> 2,
    "IRAN" -> 4, "IRAQ" -> 4, "JAPAN" -> 2, "JORDAN" -> 4, "KENYA" -> 0,
    "MOROCCO" -> 0, "MOZAMBIQUE" -> 0, "PERU" -> 1, "CHINA" -> 2, "ROMANIA" -> 3,
    "SAUDI ARABIA" -> 4, "VIETNAM" -> 2, "RUSSIA" -> 3, "UNITED KINGDOM" -> 3,
    "UNITED STATES" -> 1)

  /** Order dates span this many days from 1992-01-01. */
  val OrderDays = 2400

  /** The base tables under `root`, generated there first if absent. */
  def ensure(spark: SparkSession, root: Path): String = {
    val dir = root.resolve(s"base-$Version")
    if (!Files.isDirectory(dir)) {
      val tmp = root.resolve(s"base-$Version.tmp-${ProcessHandle.current().pid()}")
      Disk.deleteRecursively(tmp)
      write(spark, tmp.toString)
      Files.move(tmp, dir, java.nio.file.StandardCopyOption.ATOMIC_MOVE)
    }
    dir.toString
  }

  // deterministic per-row pseudo-random integer in [0, n): a salted hash of
  // the row's identity, so the tables do not depend on partitioning
  private def h(n: Long, salt: Int, cs: org.apache.spark.sql.Column*) =
    pmod(xxhash64((cs :+ lit(salt)): _*), lit(n))

  private def pick(values: Seq[String], i: org.apache.spark.sql.Column) =
    element_at(array(values.map(lit): _*), (i + 1).cast("int"))

  def write(spark: SparkSession, dir: String): Unit = {
    import spark.implicits._
    def out(df: DataFrame, name: String): Unit =
      df.coalesce(1).write.parquet(s"$dir/$name.parquet")

    out(Regions.zipWithIndex.map { case (n, i) => (i, n) }.toDF("r_regionkey", "r_name"), "region")
    out(Nations.zipWithIndex.map { case ((n, r), i) => (i, n, r) }
      .toDF("n_nationkey", "n_name", "n_regionkey"), "nation")

    out(spark.range(1, Customers + 1).select(
      $"id".as("c_custkey"),
      format_string("Customer#%09d", $"id").as("c_name"),
      h(25, 1, $"id").cast("int").as("c_nationkey"),
      ((h(1100000, 2, $"id") - 100000) / 100.0).as("c_acctbal"),
      pick(Segments, h(5, 3, $"id")).as("c_mktsegment")), "customer")

    val orders = spark.range(1, Orders + 1).select(
      $"id".as("o_orderkey"),
      (h(Customers, 10, $"id") + 1).as("o_custkey"),
      pick(Seq("F", "O", "P"), h(3, 11, $"id")).as("o_orderstatus"),
      ((h(50000000L, 12, $"id") + 90000) / 100.0).as("o_totalprice"),
      date_add(lit(java.sql.Date.valueOf("1992-01-01")), h(OrderDays, 13, $"id").cast("int"))
        .as("o_orderdate"),
      pick(Priorities, h(5, 14, $"id")).as("o_orderpriority"))
    out(orders, "orders")

    val cutoff = java.sql.Date.valueOf("1995-06-17")
    out(orders.select($"o_orderkey", $"o_orderdate",
        explode(sequence(lit(1), (h(7, 20, $"o_orderkey") + 1).cast("int"))).as("l_linenumber"))
      .select(
        $"o_orderkey".as("l_orderkey"),
        (h(20000, 21, $"o_orderkey", $"l_linenumber") + 1).as("l_partkey"),
        (h(1000, 22, $"o_orderkey", $"l_linenumber") + 1).as("l_suppkey"),
        $"l_linenumber",
        (h(50, 23, $"o_orderkey", $"l_linenumber") + 1).cast("double").as("l_quantity"),
        ((h(50, 23, $"o_orderkey", $"l_linenumber") + 1) *
          (h(100000, 24, $"o_orderkey", $"l_linenumber") + 90000) / 100.0).as("l_extendedprice"),
        (h(11, 25, $"o_orderkey", $"l_linenumber") / 100.0).as("l_discount"),
        (h(9, 26, $"o_orderkey", $"l_linenumber") / 100.0).as("l_tax"),
        date_add($"o_orderdate", (h(121, 27, $"o_orderkey", $"l_linenumber") + 1).cast("int"))
          .as("l_shipdate"))
      .select($"*",
        when($"l_shipdate" <= lit(cutoff),
          pick(Seq("R", "A"), h(2, 28, $"l_orderkey", $"l_linenumber")))
          .otherwise(lit("N")).as("l_returnflag"),
        when($"l_shipdate" > lit(cutoff), lit("O")).otherwise(lit("F")).as("l_linestatus")),
      "lineitem")

    val docs = documents()
    out(spark.createDataFrame(spark.sparkContext.parallelize(docs.map { case (id, t) =>
      Row(id, t, if (id % 7 == 0) "de" else "en", s"src${id % 13}", t.length.toLong)
    }.toSeq, 4), StructType(Seq(
      StructField("doc_id", LongType), StructField("text", StringType),
      StructField("lang", StringType), StructField("source", StringType),
      StructField("n_chars", LongType)))), "documents")

    out(spark.createDataFrame(spark.sparkContext.parallelize(embeddings().map {
      case (id, v, label) => Row(id, v.toSeq, label)
    }.toSeq, 4), StructType(Seq(
      StructField("vec_id", LongType),
      StructField("embedding", ArrayType(FloatType, containsNull = false)),
      StructField("label", IntegerType)))), "embeddings")
  }

  /** Documents of 30-90 words over a 3000-word vocabulary. Every fifth
    * document is a near copy of an earlier one with zero to three word
    * substitutions, so both the shingle and the char-gram dedup find
    * pairs. */
  def documents(): Array[(Long, String)] = {
    val rnd = new SplittableRandom(Seed + 1)
    val vocab = Array.tabulate(3000) { _ =>
      val n = 3 + rnd.nextInt(7)
      new String(Array.fill(n)(('a' + rnd.nextInt(26)).toChar))
    }
    val words = new Array[Array[String]](Docs)
    (0 until Docs).foreach { i =>
      words(i) =
        if (i >= 10 && i % 5 == 0) {
          val w = words(rnd.nextInt(i)).clone()
          (0 until rnd.nextInt(4)).foreach(_ => w(rnd.nextInt(w.length)) = vocab(rnd.nextInt(vocab.length)))
          w
        } else Array.fill(30 + rnd.nextInt(61)) {
          // squared uniform: a skewed word frequency, like natural text
          val u = rnd.nextDouble()
          vocab((u * u * vocab.length).toInt)
        }
    }
    words.zipWithIndex.map { case (w, i) => (i.toLong, w.mkString(" ")) }
  }

  /** Vectors scattered around 40 centres, so nearest neighbours exist. */
  def embeddings(): Array[(Long, Array[Float], Int)] = {
    val rnd = new SplittableRandom(Seed + 2)
    val centres = Array.fill(40, Dim)(rnd.nextDouble() * 2 - 1)
    Array.tabulate(Vecs) { i =>
      val c = rnd.nextInt(centres.length)
      val v = Array.tabulate(Dim)(d => (centres(c)(d) + 0.35 * gaussian(rnd)).toFloat)
      (i.toLong, v, c)
    }
  }

  private def gaussian(r: SplittableRandom): Double =
    math.sqrt(-2 * math.log(1 - r.nextDouble())) * math.cos(2 * math.Pi * r.nextDouble())
}

/** Zipf-distributed ranks 1..n with exponent `s`, drawn by inverting the
  * cumulative distribution. A rank maps to an item through a fixed
  * permutation, so the hot items spread over the key space. */
final class Zipf(n: Int, s: Double, rnd: SplittableRandom) {
  private val cdf: Array[Double] = {
    val w = Array.tabulate(n)(i => 1.0 / math.pow(i + 1, s))
    val total = w.sum
    var acc = 0.0
    w.map { x => acc += x; acc / total }
  }

  /** A rank in 1..n; rank 1 is the most frequent. */
  def rank(): Int = {
    val u = rnd.nextDouble()
    val i = java.util.Arrays.binarySearch(cdf, u)
    (if (i >= 0) i else -i - 1).min(n - 1) + 1
  }

  /** An item in 1..n: the rank scattered by a multiplicative permutation. */
  def item(): Int = Zipf.scatter(rank(), n)
}

object Zipf {
  private val Stride = 7919L

  /** Bijection of 1..n onto itself when `n` is not a multiple of 7919. */
  def scatter(rank: Int, n: Int): Int = {
    require(n % Stride != 0)
    ((rank - 1) * Stride % n).toInt + 1
  }
}
