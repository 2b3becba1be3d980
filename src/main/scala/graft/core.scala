package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}

/** One judged query: a Spark DataFrame program plus (optionally) the ANSI-SQL
  * twin the driver runs in DuckDB over the same parquet tables.
  *
  * Conventions that make the DuckDB hash-compare deterministic:
  *   - every output column is explicitly aliased, identically on both sides;
  *   - results end with an ORDER BY over a unique column prefix on both sides;
  *   - money/quantity aggregates cast inputs to DECIMAL first (exact,
  *     order-independent) and cast the final aggregate back to DOUBLE, so both
  *     engines produce bit-identical doubles regardless of summation order;
  *   - timestamps are rendered as 'yyyy-MM-dd[ HH:mm:ss]' strings.
  */
final case class Q(
    name: String,
    fn: (SparkSession, String) => DataFrame,
    oracle: Option[String],
    bench: Boolean)

object Q {
  def apply(name: String, oracle: String, bench: Boolean = false)(
      fn: (SparkSession, String) => DataFrame): Q =
    Q(name, fn, Some(oracle), bench)
  def noOracle(name: String, bench: Boolean = false)(
      fn: (SparkSession, String) => DataFrame): Q =
    Q(name, fn, None, bench)
}

/** Loaders for the driver-provided parquet test tables (TESTDATA.md). */
object Tables {
  val names: Seq[String] = Seq("region", "nation", "customer", "supplier",
    "part", "orders", "lineitem", "events", "documents", "embeddings")

  /** Read a test table, normalizing `events.ts` to TimestampType whatever
    * physical form the parquet carries. The driver has shipped three forms
    * across regenerations, and the reference's type bridge dual-decodes
    * every layout it might meet (SURVEY §1.3) — so this loader does too:
    *   - TIMESTAMP(NANOS) → Long under spark.sql.legacy.parquet.nanosAsLong
    *     (set in every session builder): truncate to micros;
    *   - timestamp[us] without UTC adjustment → TIMESTAMP_NTZ: the session
    *     is pinned UTC, so cast(TimestampType) relabels the same instant
    *     exactly (and the DuckDB oracle is timezone-naive, unaffected);
    *   - TimestampType: already the target form.
    * `withWatermark` rejects NTZ event time, so the streaming loader
    * (StreamOps.eventsStream) applies the same normalization. */
  def load(spark: SparkSession, dir: String, name: String): DataFrame =
    memoOf(spark).tables.computeIfAbsent((dir, name), _ => {
      val df = spark.read.parquet(s"$dir/$name.parquet")
      if (name == "events") normalizeEventTs(df) else df
    })

  /** Per-(dir, table) memo of the loaded DataFrame: every
    * `spark.read.parquet` re-runs driver-side schema inference (~0.1-0.15 s
    * per table at sf0.1), and nearly every judged query loads 1-3 tables
    * per run. The DataFrame is an immutable logical plan over an immutable
    * dataset file, so reuse is exact; transformations derive new plans and
    * never mutate the memoized one. `registeredDir` is the dataset dir
    * whose views [[registerAll]] last created.
    *
    * The memo serves ONE session, the last one to ask: a session that
    * differs from the holder's replaces the whole memo, so a long-lived
    * driver that cycles sessions keeps at most one session's plans (and
    * through them the session) reachable. A session asking again after
    * another starts from an empty memo — it re-reads schemas and
    * re-creates its views, exact either way. */
  private final class Memo(val spark: SparkSession) {
    val tables = new java.util.concurrent.ConcurrentHashMap[(String, String), DataFrame]()
    val registeredDir = new java.util.concurrent.atomic.AtomicReference[String]()
  }
  private val memo = new java.util.concurrent.atomic.AtomicReference(new Memo(null))
  private def memoOf(spark: SparkSession): Memo = {
    val m = memo.get
    if (m.spark eq spark) m
    else memo.updateAndGet(cur => if (cur.spark eq spark) cur else new Memo(spark))
  }

  /** The session whose loads the memo currently holds (None when empty). */
  private[graft] def memoSession: Option[SparkSession] = Option(memo.get.spark)

  /** ts → TimestampType across all three physical forms (see load). */
  def normalizeEventTs(df: DataFrame): DataFrame = {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}
    df.schema("ts").dataType match {
      case LongType =>
        df.withColumn("ts", timestamp_micros(floor(col("ts") / 1000L).cast("long")))
      case TimestampNTZType => df.withColumn("ts", col("ts").cast(TimestampType))
      case _ => df
    }
  }

  /** Register every table as a temp view so spark.sql(...) queries work.
    * Memoized per dataset dir (see [[Memo]]): each registration re-runs
    * parquet schema inference for all ten tables on the driver (measured
    * 1.9-2.6 s per repeat call at sf0.1), while the views it creates are
    * pure functions of the immutable dataset dir — re-registering buys
    * nothing. Nothing else in the engine creates or drops these view names
    * (createOrReplaceTempView appears only here). Switching dirs on the
    * same session re-registers, so the views always point at the dataset
    * last asked for. */
  def registerAll(spark: SparkSession, dir: String): Unit =
    if (memoOf(spark).registeredDir.getAndSet(dir) != dir)
      names.foreach(n => load(spark, dir, n).createOrReplaceTempView(n))
}

object Util {
  import org.apache.spark.sql.functions._

  /** Exact decimal view of a 2-decimal-valued double column (money, qty).
    * Both Spark and DuckDB round the same binary double to the same 2-decimal
    * value, and decimal addition is exact, so aggregates built on this are
    * order-independent and engine-identical. */
  def dec(c: Column): Column = c.cast("decimal(18,2)")

  /** Final aggregate back to double for a stable output type. */
  def d(c: Column): Column = c.cast("double")

  def ymd(c: Column): Column = date_format(c, "yyyy-MM-dd")
  def ymdHms(c: Column): Column = date_format(c, "yyyy-MM-dd HH:mm:ss")
}

/** The one SparkSession factory, used by every main, the tests and the
  * benchmark: local mode sized for the container, AQE on, UTC, the graft
  * planner extensions. Library and test sessions get 32 shuffle partitions
  * (not the 200 default); the driver mains get one per core slot. */
object GraftSession {
  /** Spark scratch (shuffle files, spills, broadcast staging) stays on the
    * JVM-default disk tmpdir unless SPARK_GRAFT_SCRATCH_DIR opts into
    * another medium. The r16 round placed this on /dev/shm unconditionally
    * and the judged 32-core environment regressed 2-3x on the spill-heavy
    * query family: tmpfs "spill" consumes the very RAM that spilling exists
    * to relieve, the pressure grows with task concurrency, and at scale an
    * out-of-space tmpfs is an OOM-kill where a disk spill is just slow.
    * Disk is the correct default posture; a deployment that has measured
    * headroom (or real fast local disks) sets the env var explicitly. */
  val localDir: String =
    sys.env.getOrElse("SPARK_GRAFT_SCRATCH_DIR",
      System.getProperty("java.io.tmpdir", "/tmp"))

  /** Session width: `SPARK_GRAFT_CPUS`, else every core (at least 4). */
  private[graft] val cpus: String = sys.env.getOrElse("SPARK_GRAFT_CPUS",
    math.max(4, Runtime.getRuntime.availableProcessors()).toString)

  /** Every setting of a graft session, master and app name included. The
    * one difference between the two kinds of session: a driver main
    * (Bench, Verify, TimeQuery, ExplainQuery) sizes shuffle partitions to
    * the session width — one reduce task per core slot, the shape the
    * judged timings are taken at — while [[builder]] keeps a fixed 32. */
  private[graft] def settings(appName: String, driverMain: Boolean): Seq[(String, String)] = Seq(
    "spark.master" -> s"local[$cpus]",
    "spark.app.name" -> appName,
    "spark.sql.shuffle.partitions" -> (if (driverMain) cpus else "32"),
    "spark.local.dir" -> localDir,
    "spark.sql.warehouse.dir" -> "/tmp/graft_warehouse",
    "spark.sql.adaptive.enabled" -> "true",
    // subset co-partitioning: lets a join whose equi-keys extend an
    // existing HashPartitioning (e.g. the block-pair verify joins) reuse
    // it instead of reshuffling the array-carrying intermediate
    "spark.sql.requireAllClusterKeysForCoPartition" -> "false",
    // storage-partitioned joins over cassandralike stores that report
    // their token-bucket layout (Options.ReportPartitioning): same-bucket
    // stores join with no exchange on either side; pushPartValues lets a
    // bucket empty on one side still zip against its peer
    "spark.sql.sources.v2.bucketing.enabled" -> "true",
    "spark.sql.sources.v2.bucketing.pushPartValues.enabled" -> "true",
    "spark.sql.legacy.parquet.nanosAsLong" -> "true",
    "spark.sql.session.timeZone" -> "UTC",
    "spark.ui.enabled" -> "false",
    "spark.driver.host" -> "localhost")

  private def builderOf(settings: Seq[(String, String)]): SparkSession.Builder =
    settings.foldLeft(
      SparkSession.builder().withExtensions(new graft.plans.GraftExtensions)) {
      case (b, (k, v)) => b.config(k, v)
    }

  def builder(appName: String = "graft"): SparkSession.Builder =
    builderOf(settings(appName, driverMain = false))

  def get(appName: String = "graft"): SparkSession = start(builder(appName))

  /** The session of a driver main (see [[settings]]). */
  def driver(appName: String): SparkSession =
    start(builderOf(settings(appName, driverMain = true)))

  private def start(b: SparkSession.Builder): SparkSession = {
    val s = b.getOrCreate()
    graft.plans.CoBucketedWrite.install(s)
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** Release every cached block before the next query runs, so one
    * query's persist() calls never leak into the next. The unpersist must
    * BLOCK: catalog.clearCache() tears blocks down asynchronously, and the
    * next run's materialization racing that teardown shows up as
    * blockDoesNotExistError task retries — measured 2-4x swings on an
    * unchanged query until the drain was made synchronous. */
  def dropCaches(spark: SparkSession): Unit = {
    spark.sparkContext.getPersistentRDDs.values
      .foreach(_.unpersist(blocking = true))
    spark.catalog.clearCache()
  }
}
