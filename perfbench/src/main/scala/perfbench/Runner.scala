package perfbench

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Row, SparkSession}

import graft.sources.cassandralike.CellStore

/** One client call of a workload. */
sealed trait Op { def kind: String }

/** A read: `build` constructs the DataFrame through the public API (Spark
  * analyzes it there) and the runner collects every row of it. `expected`
  * gives the reference answer, from a path that does not use the store; it
  * is called after the op, outside the timed region. */
final case class Read(kind: String, build: () => DataFrame,
    expected: () => Seq[String], kernelDocs: Long = 0L, kernelVecs: Long = 0L) extends Op

/** A write call: one batch `save()` or one `DELETE`. */
final case class Write(kind: String, dir: String, userCells: Long,
    userBytes: Long, run: () => Unit) extends Op

/** A compaction of every bucket of a store. */
final case class Compact(kind: String, dir: String, buckets: Int) extends Op

/** Per-layer totals of the traced calls of a run. */
final class LayerTotals {
  val exec = new ExecCounts
  val scan = new ScanCounts
  var store = StoreCounters(0, 0, 0)
  var analyzeNs = 0L
  var optimizeNs = 0L
  var physicalNs = 0L
  var opNs = 0L
  var tracedOps = 0L
  var writeCalls = 0L
  var writeNs = 0L
  var writeCells = 0L
  var writeUserBytes = 0L
  var writeStorageBytes = 0L
  var writeSegments = 0L
  var compactCalls = 0L
  var compactNs = 0L
  var compactBytes = 0L
  /** Documents sketched and vectors scored by the traced reads' kernels. */
  var kernelDocs = 0L
  var kernelVecs = 0L

  def add(e: ExecCounts): Unit = {
    exec.jobs += e.jobs; exec.stages += e.stages; exec.tasks += e.tasks
    exec.tasksFailed += e.tasksFailed; exec.taskWaitMs += e.taskWaitMs
    exec.taskBusyMs += e.taskBusyMs; exec.shuffleWriteBytes += e.shuffleWriteBytes
    exec.shuffleReadBytes += e.shuffleReadBytes; exec.spillBytes += e.spillBytes
  }

  def add(s: ScanCounts): Unit = {
    scan.partitions += s.partitions; scan.segmentsRead += s.segmentsRead
    scan.runsRead += s.runsRead; scan.runsSkipped += s.runsSkipped
    scan.cellsSeekSkipped += s.cellsSeekSkipped
    scan.statsOnlyPartitions += s.statsOnlyPartitions
    scan.cellsMerged += s.cellsMerged; scan.tombstonesDropped += s.tombstonesDropped
    scan.rowsOut += s.rowsOut
    s.answerPath.foreach { case (k, v) => scan.answerPath(k) = scan.answerPath.getOrElse(k, 0L) + v }
  }
}

/** The outcome of one measured call. */
final case class Sample(kind: String, cls: String, ns: Long, traced: Boolean, ok: Boolean,
    cells: Long) {
  def ms: Double = ns / 1e6
}

/** Executes ops in a closed loop from one client thread. Untraced calls do
  * nothing but the call itself inside the timed region. A traced call also
  * records spans for its plan phases, its Spark jobs and stages and its
  * write and compaction calls, and reads the layer counters around it. */
final class Runner(val spark: SparkSession) {
  val tracer = new Tracer
  val listener = new ExecListener(tracer)
  val totals = new LayerTotals
  /** Per op kind of the traced ops: ops, Spark jobs and tasks, and how
    * many store scans each path answered. */
  val kindStats = mutable.TreeMap.empty[String, mutable.Map[String, Long]]
  /** Op ids of the traced measured ops; self times are reported over these. */
  val measuredOps = mutable.Set.empty[Long]
  val failures = mutable.ArrayBuffer.empty[String]
  spark.sparkContext.addSparkListener(listener)

  /** The traced op and span that write and compaction calls nest under. */
  private var context: Option[(Long, Long)] = None

  private def withJobParent[T](op: Long, span: Long)(body: => T): T = {
    val sc = spark.sparkContext
    val prev = sc.getLocalProperty(ExecListener.Key)
    sc.setLocalProperty(ExecListener.Key, s"$op:$span")
    try body finally sc.setLocalProperty(ExecListener.Key, prev)
  }

  private def traced[T](op: Long, parent: Long, name: String)(body: => T): T =
    tracer.span(op, parent, name)(id => withJobParent(op, id)(body))

  /** Runs `body` as the root span `name` of a new traced op. */
  def tracedOp[T](name: String)(body: Long => T): (Long, T) = {
    val op = tracer.newId()
    val r = tracer.span(op, -1, name) { root =>
      context = Some((op, root))
      try withJobParent(op, root)(body(root)) finally context = None
    }
    (op, r)
  }

  /** A write call; under a traced op it gets a `write` span and counters. */
  def write(dir: String, userCells: Long, userBytes: Long)(body: => Unit): Unit =
    context match {
      case None => body
      case Some((op, parent)) =>
        val segsBefore = Disk.segmentNames(dir)
        val bytesBefore = Disk.bytes(dir)
        val t0 = System.nanoTime()
        traced(op, parent, "write")(body)
        totals.writeNs += System.nanoTime() - t0
        totals.writeCalls += 1
        totals.writeCells += userCells
        totals.writeUserBytes += userBytes
        totals.writeSegments += (Disk.segmentNames(dir) -- segsBefore).size
        totals.writeStorageBytes += Disk.bytes(dir) - bytesBefore
    }

  /** Compacts every bucket of a store; under a traced op it gets a
    * `compact` span and counters. Bytes rewritten are the segment bytes of
    * the buckets that held more than one segment. */
  def compact(dir: String, buckets: Int): Unit = {
    def run(): Unit = (0 until buckets).foreach(b => CellStore.compactBucket(dir, b))
    context match {
      case None => run()
      case Some((op, parent)) =>
        val rewritten = (0 until buckets).map(b => CellStore.segmentFiles(dir, b))
          .filter(_.size > 1).flatten.map(p => java.nio.file.Files.size(p)).sum
        val t0 = System.nanoTime()
        traced(op, parent, "compact")(run())
        totals.compactNs += System.nanoTime() - t0
        totals.compactCalls += 1
        totals.compactBytes += rewritten
    }
  }

  /** Runs one op, checks its answer and returns its sample. */
  def execute(op: Op, trace: Boolean): Sample = {
    val cls = op match {
      case _: Read => "read"
      case _: Write => "write"
      case _: Compact => "compact"
    }
    var ok = true
    val ns = try {
      if (!trace) {
        val t0 = System.nanoTime()
        val rows = op match {
          case r: Read => r.build().collect()
          case w: Write => write(w.dir, w.userCells, w.userBytes)(w.run()); null
          case c: Compact => compact(c.dir, c.buckets); null
        }
        val dt = System.nanoTime() - t0
        ok = verify(op, rows)
        dt
      } else {
        val storeBefore = StoreCounters.now()
        var qe: org.apache.spark.sql.execution.QueryExecution = null
        var rows: Array[Row] = null
        val t0 = System.nanoTime()
        val (id, _) = tracedOp("op") { root =>
          op match {
            case r: Read =>
              val id = currentOp
              val (df, a) = phase(id, root, "plan.analyze")(r.build())
              qe = df.queryExecution
              val (_, o) = phase(id, root, "plan.optimize")(qe.optimizedPlan)
              val (_, p) = phase(id, root, "plan.physical")(qe.executedPlan)
              totals.analyzeNs += a; totals.optimizeNs += o; totals.physicalNs += p
              rows = traced(id, root, "exec")(df.collect())
              totals.kernelDocs += r.kernelDocs; totals.kernelVecs += r.kernelVecs
            case w: Write => write(w.dir, w.userCells, w.userBytes)(w.run())
            case c: Compact => compact(c.dir, c.buckets)
          }
        }
        val dt = System.nanoTime() - t0
        org.apache.spark.PerfbenchBus.drain(spark.sparkContext)
        val ec = listener.take(id)
        totals.add(ec)
        val ks = kindStats.getOrElseUpdate(op.kind, mutable.Map.empty)
        def count(k: String, n: Long): Unit = ks(k) = ks.getOrElse(k, 0L) + n
        count("ops", 1); count("jobs", ec.jobs); count("tasks", ec.tasks)
        if (qe != null) {
          val sc = ScanCounts.of(qe.executedPlan)
          totals.add(sc)
          sc.answerPath.foreach { case (p, n) => count(s"path.$p", n) }
        }
        totals.store = totals.store + (StoreCounters.now() - storeBefore)
        totals.opNs += dt
        totals.tracedOps += 1
        measuredOps += id
        ok = verify(op, rows)
        dt
      }
    } catch {
      case e: Exception =>
        ok = false
        failures += s"${op.kind}: ${e.getClass.getSimpleName}: ${e.getMessage}".take(400)
        0L
    }
    dropCaches()
    val cells = op match {
      case w: Write => w.userCells
      case _ => 0L
    }
    Sample(op.kind, cls, ns, trace, ok, cells)
  }

  /** Releases what an op persisted, after its clock has stopped, as
    * `graft.Bench` does between runs: otherwise a later op whose plan
    * matches a cached one reads the cache, and which ops repeat depends on
    * the seed. The unpersist blocks, so no teardown overlaps the next op. */
  private def dropCaches(): Unit = {
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
    spark.catalog.clearCache()
  }

  private def currentOp: Long = context.map(_._1).getOrElse(-1L)

  private def phase[T](op: Long, parent: Long, name: String)(body: => T): (T, Long) = {
    val t0 = System.nanoTime()
    val r = traced(op, parent, name)(body)
    (r, System.nanoTime() - t0)
  }

  private def verify(op: Op, rows: Array[Row]): Boolean = op match {
    case r: Read =>
      Check.diff(r.expected(), Check.canon(rows)) match {
        case None => true
        case Some(d) => failures += s"${r.kind}: wrong answer: $d".take(600); false
      }
    case _ => true
  }
}
