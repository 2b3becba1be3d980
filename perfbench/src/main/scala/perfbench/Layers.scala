package perfbench

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec

import graft.sources.cassandralike.{CellStore, Options}

/** Spark work caused by one traced op: the `exec` layer. */
final class ExecCounts {
  var jobs = 0L
  var stages = 0L
  var tasks = 0L
  var tasksFailed = 0L
  /** Sum over tasks of the time from stage submission to task launch. */
  var taskWaitMs = 0L
  /** Sum over tasks of launch-to-finish time: slot time the op used. */
  var taskBusyMs = 0L
  var shuffleWriteBytes = 0L
  var shuffleReadBytes = 0L
  var spillBytes = 0L
}

/** Attributes jobs, stages and tasks to the traced op that launched them
  * (through a local property the op sets) and records `exec.job` and
  * `exec.stage` spans under the op's span that was running the job. */
final class ExecListener(tracer: Tracer) extends SparkListener {
  import ExecListener.Key
  private val offsetNs = System.nanoTime() - System.currentTimeMillis() * 1000000L
  private def ns(ms: Long): Long = ms * 1000000L + offsetNs

  private val counts = mutable.Map.empty[Long, ExecCounts]
  // jobId -> (op, parent span, job span, start ms)
  private val jobs = mutable.Map.empty[Int, (Long, Long, Long, Long)]
  // stageId -> (op, job span)
  private val stageOwner = mutable.Map.empty[Int, (Long, Long)]
  private val stageSubmit = mutable.Map.empty[Int, Long]

  private def of(op: Long): ExecCounts = counts.getOrElseUpdate(op, new ExecCounts)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    Option(e.properties).flatMap(p => Option(p.getProperty(Key))).foreach { v =>
      val Array(op, parent) = v.split(":").map(_.toLong)
      val id = tracer.newId()
      jobs(e.jobId) = (op, parent, id, e.time)
      e.stageIds.foreach(s => stageOwner(s) = (op, id))
      of(op).jobs += 1
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.remove(e.jobId).foreach { case (op, parent, id, t0) =>
      tracer.add(Span(id, parent, op, "exec.job", ns(t0), ns(e.time)))
    }
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
    e.stageInfo.submissionTime.foreach(t => stageSubmit(e.stageInfo.stageId) = t)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val si = e.stageInfo
    stageOwner.get(si.stageId).foreach { case (op, jobSpan) =>
      of(op).stages += 1
      for (a <- si.submissionTime; b <- si.completionTime)
        tracer.add(Span(tracer.newId(), jobSpan, op, "exec.stage", ns(a), ns(b)))
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    stageOwner.get(e.stageId).foreach { case (op, _) =>
      val c = of(op)
      val ti = e.taskInfo
      c.tasks += 1
      if (ti.failed || ti.killed) c.tasksFailed += 1
      c.taskBusyMs += ti.duration
      stageSubmit.get(e.stageId).foreach(s => c.taskWaitMs += math.max(0L, ti.launchTime - s))
      Option(e.taskMetrics).foreach { m =>
        c.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
        c.shuffleReadBytes += m.shuffleReadMetrics.totalBytesRead
        c.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
      }
    }
  }

  /** The counts of `op`; call after the listener bus has drained. */
  def take(op: Long): ExecCounts = synchronized {
    counts.remove(op).getOrElse(new ExecCounts)
  }
}

object ExecListener {
  /** Local property that names the op and span a job belongs to. */
  val Key = "perfbench.span"
}

/** What the store scans of one executed plan read, from the DSv2 metrics of
  * the final adaptive plan's `BatchScanExec` nodes, and which path answered
  * each scan, from the scan's `description()`. */
final class ScanCounts {
  var partitions = 0L
  var segmentsRead = 0L
  var runsRead = 0L
  var runsSkipped = 0L
  var cellsSeekSkipped = 0L
  var statsOnlyPartitions = 0L
  var cellsMerged = 0L
  var tombstonesDropped = 0L
  var rowsOut = 0L
  val answerPath = mutable.Map.empty[String, Long]
}

object ScanCounts extends AdaptiveSparkPlanHelper {
  val AnswerPaths: Seq[String] = Seq("complete", "metadata", "range_count", "indexed", "fold")

  private val indexedCols = new java.util.concurrent.ConcurrentHashMap[String, Set[String]]()

  private def indexed(dir: String): Set[String] =
    indexedCols.computeIfAbsent(dir, d =>
      CellStore.readMeta(d).flatMap(_.properties.get(Options.IndexColumns))
        .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet).getOrElse(Set.empty))

  private val PushedCol =
    """(?:EqualTo|In|GreaterThan|GreaterThanOrEqual|LessThan|LessThanOrEqual|StringStartsWith)\((\w+),""".r

  /** The path that answered one store scan. "indexed" means a pushed
    * value predicate on a column the store indexes; "fold" is a scan that
    * merged cells with no planning-time answer. */
  def answerPath(desc: String): String =
    if (desc.contains("AggStats: complete")) "complete"
    else if (desc.contains("AggStats: metadata-eligible")) "metadata"
    else if (desc.contains("AggStats: range-count")) "range_count"
    else {
      val dir = desc.stripPrefix("cassandralike ").takeWhile(_ != ' ')
      val pushed = desc.indexOf("PushedFilters: [") match {
        case -1 => ""
        case i => desc.substring(i, desc.indexOf("] Slice:", i) max i)
      }
      val cols = PushedCol.findAllMatchIn(pushed).map(_.group(1)).toSet
      if (cols.exists(indexed(dir).contains)) "indexed" else "fold"
    }

  def of(plan: SparkPlan): ScanCounts = {
    val c = new ScanCounts
    collectWithSubqueries(plan) { case b: BatchScanExec => b }
      .filter(_.scan.description().startsWith("cassandralike "))
      .foreach { b =>
        def m(n: String): Long = b.metrics.get(n).map(_.value).getOrElse(0L)
        c.partitions += b.inputPartitions.size
        c.segmentsRead += m("segmentsRead")
        c.runsRead += m("runsRead")
        c.runsSkipped += m("runsBloomSkipped") + m("runsColSkipped") +
          m("runsColBloomSkipped") + m("runsSubSkipped")
        c.cellsSeekSkipped += m("cellsSeekSkipped")
        c.statsOnlyPartitions += m("partitionsStatsOnly")
        c.cellsMerged += m("cellsMerged")
        c.tombstonesDropped += m("tombstonesDropped")
        c.rowsOut += m("numOutputRows")
        val p = answerPath(b.scan.description())
        c.answerPath(p) = c.answerPath.getOrElse(p, 0L) + 1
      }
    c
  }
}

/** The public planning-IO counters of `CellStore` (JVM-global, so a traced
  * op reads the difference across its own run). */
final case class StoreCounters(runTailReads: Long, pointProbeIndexReads: Long,
    bucketStatWalks: Long) {
  def +(o: StoreCounters): StoreCounters = StoreCounters(
    runTailReads + o.runTailReads,
    pointProbeIndexReads + o.pointProbeIndexReads,
    bucketStatWalks + o.bucketStatWalks)
  def -(o: StoreCounters): StoreCounters = StoreCounters(
    runTailReads - o.runTailReads,
    pointProbeIndexReads - o.pointProbeIndexReads,
    bucketStatWalks - o.bucketStatWalks)
}

object StoreCounters {
  def now(): StoreCounters = StoreCounters(CellStore.runTailReads.get(),
    CellStore.pointProbeIndexReads.get(), CellStore.bucketStatWalks.get())
}

/** On-disk layout of store directories. */
object Disk {
  private val Segment = """b(\d+)-.*\.bin""".r

  private def files(dir: String): Seq[Path] = {
    val root = Paths.get(dir)
    if (!Files.isDirectory(root)) return Nil
    val s = Files.walk(root)
    try s.iterator().asScala.filter(Files.isRegularFile(_)).toList
    finally s.close()
  }

  def bytes(dir: String): Long = files(dir).map(Files.size).sum

  /** Committed segment files per bucket that holds any, over every base
    * and index store under the given directories. */
  def segmentsPerBucket(dirs: Seq[String]): Double = {
    val segs = dirs.flatMap(files).flatMap { p =>
      p.getFileName.toString match {
        case Segment(b) => Some((p.getParent.toString, b.toInt))
        case _ => None
      }
    }
    if (segs.isEmpty) 0.0 else segs.size.toDouble / segs.distinct.size
  }

  /** Committed segment files, for counting the segments a write adds. */
  def segmentNames(dir: String): Set[String] = files(dir).map(_.toString)
    .filter(p => Segment.pattern.matcher(p.substring(p.lastIndexOf('/') + 1)).matches()).toSet

  def deleteRecursively(p: Path): Unit = if (Files.exists(p)) {
    val s = Files.walk(p)
    try s.iterator().asScala.toList.reverse.foreach(Files.deleteIfExists)
    finally s.close()
  }
}

/** Garbage collection and heap, from the JVM's management beans. */
object Jvm {
  private def heapPools = java.lang.management.ManagementFactory
    .getMemoryPoolMXBeans.asScala.filter(_.getType == java.lang.management.MemoryType.HEAP)

  def gcMs(): Long = java.lang.management.ManagementFactory
    .getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime max 0L).sum

  def resetPeak(): Unit = heapPools.foreach(_.resetPeakUsage())

  def peakHeapMb(): Double = heapPools.map(_.getPeakUsage.getUsed).sum / 1048576.0

  /** Heap still in use after full collections: the lesser of two
    * readings, because Spark frees broadcast and shuffle state on its
    * cleaner thread only after a collection has found it unreachable. */
  def retainedHeapMb(): Double = {
    val mem = java.lang.management.ManagementFactory.getMemoryMXBean
    (1 to 2).map { _ =>
      System.gc()
      Thread.sleep(100)
      mem.getHeapMemoryUsage.getUsed / 1048576.0
    }.min
  }
}
