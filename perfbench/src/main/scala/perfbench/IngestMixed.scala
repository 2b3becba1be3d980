package perfbench

import java.util.SplittableRandom

import scala.collection.mutable

import org.apache.spark.sql.Row
import org.apache.spark.sql.types._

import graft.sources.cassandralike.{Options, Seed}

/** Seeded write batches into one store: new keys, last-write-wins
  * overwrites at a newer `write.timestamp`, and key deletes, with read
  * probes biased toward recent keys after every batch and a compaction of
  * the whole store every [[IngestPlan.CompactEvery]] batches (a batch
  * count, not a timer). The only workload where `write` and `compact` do
  * most of the work; its reads run on a store whose segment set keeps
  * changing, so a write-side gain that costs reads or space shows. */
final class IngestMixed(ctx: Ctx) extends Workload {
  import IngestPlan._
  import ctx.spark.implicits._

  val name = "ingest_mixed"
  val warmupOps = StepOps
  val opsPerSecond = 34.0

  private val spark = ctx.spark
  private val table = s"${ctx.namespace}.ingest"
  private val dir = ctx.catalogDir("ingest")
  val storeDirs: Seq[String] = Seq(dir)

  private var plan: IngestPlan = _
  private val pending = mutable.Queue.empty[Op]

  private val schema = StructType(Seq(StructField("k", StringType),
    StructField("name", StringType), StructField("amount", LongType),
    StructField("note", StringType)))

  def reference(): Unit = ()

  def clean(): Unit = {
    spark.sql(s"DROP TABLE IF EXISTS $table")
    Disk.deleteRecursively(java.nio.file.Paths.get(dir))
  }

  private def save(rows: Seq[(String, Value)], ts: Long): Unit = {
    val df = spark.createDataFrame(spark.sparkContext.parallelize(
      rows.map { case (k, v) => Row(k, v.name, v.amount, v.note) }, 1), schema)
    Seed.append(df, dir, Map(Options.WriteTimestamp -> ts.toString))
  }

  def setup(): Unit = {
    plan = new IngestPlan(ctx.seed)
    pending.clear()
    spark.sql(s"CREATE NAMESPACE IF NOT EXISTS ${ctx.namespace}")
    spark.sql(s"""CREATE TABLE $table (k STRING, name STRING, amount BIGINT, note STRING)
      |USING cassandralike TBLPROPERTIES ('buckets' = '$Buckets')""".stripMargin)
    val Save(rows, ts) = plan.base()
    ctx.runner.write(dir, rows.size * 3L, rows.map(r => r._2.bytes).sum)(save(rows, ts))
  }

  override def liveUserBytes: Long = plan.liveBytes

  private def probes(): Seq[Op] = {
    val store = () => Seed.read(spark, dir).select($"k", $"name", $"amount", $"note")
    val p = plan.probes()
    // expected answers are taken now: the model does not change before
    // these reads run, and later batches must not leak into them
    val (e1, e2, e3, e4) = (plan.lines(Seq(p.point)), plan.lines(p.in),
      plan.lines(plan.range(p.lo, p.hi)), plan.lines(Seq(p.old)))
    Seq(
      Read("probe_point", () => store().filter($"k" === p.point), () => e1),
      Read("probe_in", () => store().filter($"k".isin(p.in: _*)), () => e2),
      Read("probe_range", () => store().filter($"k" >= p.lo && $"k" < p.hi), () => e3),
      Read("probe_old", () => store().filter($"k" === p.old), () => e4))
  }

  private def step(): Seq[Op] = {
    val w: Op = plan.nextBatch() match {
      case Delete(keys, bytes) =>
        Write("delete", dir, keys.size * 3L, bytes, () =>
          if (keys.nonEmpty)
            spark.sql(s"DELETE FROM $table WHERE k IN (${keys.map(k => s"'$k'").mkString(",")})"))
      case Save(rows, ts) =>
        Write("save", dir, rows.size * 3L, rows.map(_._2.bytes).sum, () => save(rows, ts))
    }
    val c = if (plan.compactDue) Seq(Compact("compact", dir, Buckets)) else Nil
    (w +: probes()) ++ c
  }

  def next(): Op = {
    if (pending.isEmpty) pending ++= step()
    pending.dequeue()
  }
}

/** The seeded batches and probe keys of `ingest_mixed`, and the
  * benchmark's own last-write-wins model of what the batches wrote. Pure:
  * one seed gives one sequence. */
final class IngestPlan(seed: Long) {
  import IngestPlan._
  import Workload.key

  private val rnd = new SplittableRandom(seed)
  private val recent = new Zipf(RecentWindow, 1.1, rnd)
  private val model = mutable.TreeMap.empty[String, Value]
  private var nextKey = 0L
  private var batch = 0

  private def value(): Value = Value(s"n${rnd.nextInt(100000)}", rnd.nextLong(1000000L),
    new String(Array.fill(10 + rnd.nextInt(30))(('a' + rnd.nextInt(26)).toChar)))

  /** A key near the newest one. */
  private def recentKey(): Long = math.max(0L, nextKey - recent.rank())

  /** The rows the store is seeded with. */
  def base(): Save = {
    val rows = (0L until BaseRows).map(k => key(k) -> value())
    nextKey = BaseRows
    model ++= rows
    Save(rows, 10L)
  }

  /** Every [[DeleteEvery]]th batch deletes live recent keys; the others
    * save new keys and overwrite recent ones. Timestamps grow by 10 per
    * batch, so a DELETE's tombstones (victim timestamp + 1) always sit
    * below the next batch's writes. */
  def nextBatch(): Batch = {
    val b =
      if (batch % DeleteEvery == DeleteEvery - 1) {
        val doomed = Seq.fill(DeleteKeys)(key(recentKey())).distinct.filter(model.contains)
        val bytes = doomed.map(k => model(k).bytes).sum
        doomed.foreach(model.remove)
        Delete(doomed, bytes)
      } else {
        val keys = Seq.fill(BatchRows)(
          if (rnd.nextInt(100) < 60) { nextKey += 1; nextKey - 1 } else recentKey()).distinct
        val rows = keys.map(k => key(k) -> value())
        model ++= rows
        Save(rows, 10L * (batch + 2))
      }
    batch += 1
    b
  }

  /** Whether the batch just planned is followed by a compaction. */
  def compactDue: Boolean = batch % CompactEvery == 0

  def probes(): Probes = {
    val lo = recentKey()
    Probes(key(recentKey()), Seq.fill(6)(key(recentKey())),
      key(math.max(0L, lo - 20)), key(lo + 20), key(rnd.nextLong(nextKey)))
  }

  def range(lo: String, hi: String): Seq[String] = model.range(lo, hi).keys.toSeq

  /** Expected answer rows for reads of `keys`. */
  def lines(keys: Seq[String]): Seq[String] = keys.distinct.flatMap(k =>
    model.get(k).map(v => Check.line(k, v.name, v.amount, v.note)))

  def liveBytes: Long = model.valuesIterator.map(_.bytes).sum
}

object IngestPlan {
  final case class Value(name: String, amount: Long, note: String) {
    /** Logical bytes of the row's three cells: key plus value each. */
    def bytes: Long = 3 * 10 + name.length + 8 + note.length
  }
  sealed trait Batch
  final case class Save(rows: Seq[(String, Value)], ts: Long) extends Batch
  final case class Delete(keys: Seq[String], bytes: Long) extends Batch
  final case class Probes(point: String, in: Seq[String], lo: String, hi: String, old: String)

  val Buckets = 8
  val BaseRows = 20000L
  val BatchRows = 300
  val DeleteEvery = 5
  val DeleteKeys = 25
  val CompactEvery = 10
  /** Read probes favour the newest keys of this many. */
  val RecentWindow = 5000
  /** Ops of one batch: the write and four probes. */
  val StepOps = 5
}
