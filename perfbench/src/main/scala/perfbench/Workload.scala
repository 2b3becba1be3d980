package perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.sources.cassandralike.Seed

/** What a workload shares with the harness. */
final class Ctx(val spark: SparkSession, val runner: Runner, val base: String,
    val work: java.nio.file.Path, val seed: Long) {
  /** Stores live under `Seed.storeRoot` of this name. */
  val storeSet = "perfbench"

  def storeDir(name: String): String = s"${Seed.storeRoot(storeSet)}/$name"

  def parquet(name: String): DataFrame = spark.read.parquet(s"$base/$name.parquet")

  /** The catalog namespace of the workloads' catalog tables. */
  val namespace = "cassandralike.pb"

  def catalogDir(table: String): String =
    spark.conf.get("spark.sql.catalog.cassandralike.warehouse") + s"/pb/$table"
}

/** A seeded, closed-loop workload. The harness calls [[reference]] once,
  * then [[clean]] and the timed [[setup]] several times, then [[next]] for
  * every op; a workload draws all keys, parameters and rows from the
  * generator seeded with the workload seed, so one seed gives one op
  * sequence. */
trait Workload {
  def name: String
  /** Reference answers from the source, through a path that does not use
    * the store. Untimed. */
  def reference(): Unit
  /** Drops what a previous setup left. Untimed. */
  def clean(): Unit
  /** Loads the inputs and seeds the stores: one `setup_s` sample. */
  def setup(): Unit
  /** Ops run before the measured ones, to fill caches and compile code. */
  def warmupOps: Int
  /** Measured ops per second of `--seconds`: the op count is fixed by the
    * seed and the run length, never by how fast the ops run. */
  def opsPerSecond: Double
  def next(): Op
  /** Store directories the workload reads, for the layout metrics. */
  def storeDirs: Seq[String]
  /** Logical bytes of the live user cells, for `space_amp`; 0 without a
    * store whose contents the workload tracks. */
  def liveUserBytes: Long = 0L
}

object Workload {
  val Names: Seq[String] = Seq("kv_lookup", "ingest_mixed", "analytics")

  def apply(name: String, ctx: Ctx): Workload = name match {
    case "kv_lookup" => new KvLookup(ctx)
    case "ingest_mixed" => new IngestMixed(ctx)
    case "analytics" => new Analytics(ctx)
    case other => throw new IllegalArgumentException(
      s"unknown workload $other; one of ${Names.mkString(", ")}")
  }

  /** Op kinds in a fixed interleaved order where kind i takes weights(i)
    * of every sum(weights) ops (smooth weighted round robin). The mix of a
    * run is then the same for every seed; the seed picks only keys,
    * parameters and rows, so runs with different seeds compare. */
  def mix(weights: Int*): Iterator[Int] = {
    val total = weights.sum
    val cur = Array.fill(weights.size)(0)
    Iterator.continually {
      weights.indices.foreach(i => cur(i) += weights(i))
      val i = cur.indices.maxBy(cur(_))
      cur(i) -= total
      i
    }
  }

  def key(k: Long): String = f"$k%010d"
}
