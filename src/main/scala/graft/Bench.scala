package graft
import org.apache.spark.sql.{DataFrame, SparkSession}
object Bench {
  /** Seconds for one `fn(spark, sfDir).count()`, or -1 when it throws (a
    * failed run never records a bogus wall-clock). Timing covers ONLY the
    * count; the cache drain runs after the clock stops, so teardown is
    * never billed into a measurement. */
  private def runOnce(spark: SparkSession, sfDir: String, name: String,
      fn: (SparkSession, String) => DataFrame): Double =
    try {
      val t0 = System.nanoTime()
      fn(spark, sfDir).count()
      (System.nanoTime() - t0) / 1e9
    } catch {
      case e: Throwable =>
        System.err.println(s"[bench] $name FAILED: $e")
        -1.0
    } finally GraftSession.dropCaches(spark)

  /** One warm-up run, then `n` timed runs, all back to back. Keeping a
    * query's runs adjacent preserves its JIT state and parquet footer
    * caches between warm-up and measurement (a global warm-up pass lets 15
    * other queries evict them again — measured as a uniform +30-60% on
    * unchanged relational plans in r6). GC after each timed run keeps one
    * run's garbage from billing the next. */
  def timedRuns(spark: SparkSession, sfDir: String, name: String,
      fn: (SparkSession, String) => DataFrame, n: Int): Seq[Double] = {
    runOnce(spark, sfDir, name, fn) // warm-up: JIT + parquet footers for THIS query
    Seq.fill(n) {
      val t = runOnce(spark, sfDir, name, fn); System.gc(); t
    }
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    // dev aid: SPARK_GRAFT_BENCH_ONLY=q1,q2 restricts the set for iterating
    // on one query; judged runs never set it. A name outside the bench set
    // is an error, not a silent 0.0 total.
    val only = sys.env.get("SPARK_GRAFT_BENCH_ONLY")
      .map(_.split(",").map(_.trim).toSet)
    val unknown = only.getOrElse(Set.empty) -- SparkEntry.benchQueries.map(_.name)
    if (unknown.nonEmpty) {
      System.err.println("[bench] SPARK_GRAFT_BENCH_ONLY names unknown bench " +
        s"queries: ${unknown.toSeq.sorted.mkString(", ")}")
      sys.exit(2)
    }
    val picked = SparkEntry.benchQueries
      .filter(q => only.forall(_.contains(q.name)))
    // every core by default (judged runs are local[32]); SPARK_GRAFT_CPUS
    // pins an explicit width for controlled comparisons
    val spark = GraftSession.driver("graft-bench")
    // Per query: MIN of 3 timed runs after one warm-up. Min-of-N rejects
    // co-tenant noise on shared hosts (identical queries swing 2-4x;
    // isolated reruns confirm the fast number reproduces).
    val results = picked.map { q =>
      val times = timedRuns(spark, sfDir, q.name, q.fn, 3)
      q.name -> (if (times.contains(-1.0)) -1.0 else times.min)
    }
    val qs = results.map { case (k, v) => s"\"" + k + "\":" + v }
      .mkString("{", ",", "}")
    // Any failed query poisons the headline: value becomes null (never a
    // total that silently SHRINKS as queries break) and the exit code is
    // nonzero so the artifact is unmistakably invalid.
    val failed = results.exists(_._2 == -1.0)
    val total: String =
      if (failed) "null" else results.map(_._2).sum.toString
    println(s"""{"metric":"total","value":$total,"unit":"sec","queries":$qs,"sf":"$sfDir"}""")
    spark.stop()
    if (failed) sys.exit(1)
  }
}
