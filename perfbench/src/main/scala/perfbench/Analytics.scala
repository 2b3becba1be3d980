package perfbench

/** The analytic and the dedup queries of one run, interleaved in a fixed
  * order: grouped scans and store joins that no planning shortcut answers
  * (the `scan` merge, shuffle and task time), and MinHash, n-gram and PQ
  * queries (the `kernel` layer). Two workloads in one process, because
  * each run pays a fresh JVM's start, reference and setup once.
  *
  * There is no warm-up: each query kind runs twice, and its first, cold
  * run (code generation, JIT) is part of `ops_per_s` as it is of a fresh
  * session, while the kind's lower median is its warm run. */
final class Analytics(ctx: Ctx) extends Workload {
  private val scan = new ScanAnalytics(ctx)
  private val llm = new LlmDedup(ctx)
  private val parts = Seq[Workload](scan, llm)
  private val order = Workload.mix(parts.map(p => math.round(p.opsPerSecond * 10).toInt): _*)

  val name = "analytics"
  def warmupOps: Int = parts.map(_.warmupOps).sum
  def opsPerSecond: Double = parts.map(_.opsPerSecond).sum
  def storeDirs: Seq[String] = parts.flatMap(_.storeDirs)
  def reference(): Unit = parts.foreach(_.reference())
  def clean(): Unit = parts.foreach(_.clean())
  def setup(): Unit = parts.foreach(_.setup())
  def next(): Op = parts(order.next()).next()
}
