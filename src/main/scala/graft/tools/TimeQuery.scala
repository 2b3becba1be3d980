package graft.tools

import graft.{Bench, GraftSession, SparkEntry}

/** Time individual judged queries outside the full Bench sweep:
  * `runMain graft.tools.TimeQuery <sfDir> <name> [name ...]`.
  * Bench's session and timing (warm-up + min-of-3, blocking cache drain)
  * so numbers are comparable to BENCH_r{N}. */
object TimeQuery {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val names = args.drop(1).toSeq
    val spark = GraftSession.driver("graft-time")
    names.foreach { name =>
      // SPARK_GRAFT_TIME_RUNS overrides the default min-of-3 (e.g. an
      // isolated min-of-5 with spread, for pinning a query's jitter band)
      val n = sys.env.get("SPARK_GRAFT_TIME_RUNS").map(_.toInt).getOrElse(3)
      val times = Bench.timedRuns(spark, sfDir, name, SparkEntry.queries(name), n)
      println(f"[time] $name min=${times.min}%.2f max=${times.max}%.2f " +
        s"runs=${times.map(t => f"$t%.2f").mkString(",")}")
    }
    spark.stop()
  }
}
