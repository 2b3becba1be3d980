package perfbench

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** The benchmark's entry point:
  * {{{
  * Main --workload <name> --seed <n> --seconds <s> --trace <0|1> --work <dir>
  * }}}
  * One process, one client thread, a closed loop: set up (several times,
  * `setup_s` is the median), compute reference answers, warm up, then run
  * a seeded op sequence whose length is fixed by the workload and
  * `--seconds`, checking every answer outside the timed region. With
  * `--trace 0` it reports the end-to-end metrics; with `--trace 1` every
  * other op of each kind is traced and it reports the per-layer metrics. The last line
  * of stdout is one JSON object. */
object Main {
  final case class Args(workload: String, seed: Long, seconds: Int, trace: Boolean, work: String)

  /** Setup passes per run; `setup_s` is their median. */
  val SetupReps = 3

  /** End-to-end metrics (untraced run): name and unit. */

  def parse(args: Array[String]): Args = {
    val m = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def need(k: String) = m.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    val trace = need("trace") match {
      case "0" => false
      case "1" => true
      case t => throw new IllegalArgumentException(s"--trace must be 0 or 1, got $t")
    }
    val secs = need("seconds").toInt
    require(secs >= 1, "--seconds must be at least 1")
    Args(need("workload"), need("seed").toLong, secs, trace, need("work"))
  }

  def session(work: Path): SparkSession = {
    val s = graft.GraftSession.builder("perfbench")
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .config("spark.sql.catalog.cassandralike",
        classOf[graft.sources.cassandralike.CassandraLikeCatalog].getName)
      .config("spark.sql.catalog.cassandralike.warehouse", work.resolve("catalog").toString)
      .getOrCreate()
    graft.plans.CoBucketedWrite.install(s)
    s.sparkContext.setLogLevel("WARN")
    s
  }

  def main(argv: Array[String]): Unit = {
    val args = try parse(argv) catch {
      case e: IllegalArgumentException =>
        System.err.println(s"perfbench: ${e.getMessage}"); sys.exit(2)
    }
    require(Workload.Names.contains(args.workload),
      s"unknown workload ${args.workload}; one of ${Workload.Names.mkString(", ")}")
    val work = Paths.get(args.work).toAbsolutePath
    Files.createDirectories(work)
    val spark = session(work)
    val code = try run(spark, args, work) catch {
      case e: Throwable =>
        System.err.println(s"perfbench: run failed: $e")
        e.printStackTrace()
        1
    } finally spark.stop()
    System.exit(code)
  }

  private val VolatileConf = Set("spark.app.id", "spark.app.startTime", "spark.driver.port",
    "spark.app.submitTime", "spark.executor.id", "spark.driver.host")

  def run(spark: SparkSession, args: Args, work: Path): Int = {
    val runner = new Runner(spark)
    val base = Base.ensure(spark, work.resolve("data"))
    val ctx = new Ctx(spark, runner, base, work, args.seed)
    val wl = Workload(args.workload, ctx)
    val cores = spark.sparkContext.defaultParallelism
    println(s"perfbench workload=${wl.name} seed=${args.seed} seconds=${args.seconds} " +
      s"trace=${if (args.trace) 1 else 0} cores=$cores")
    // the effective session conf, so a conf change shows in every run
    spark.conf.getAll.toSeq.sortBy(_._1)
      .filterNot { case (k, _) => VolatileConf.contains(k) }
      .foreach { case (k, v) => println(s"conf $k=$v") }

    def progress(msg: String): Unit = System.err.println(s"perfbench: $msg")
    val tRef = System.nanoTime()
    wl.reference()
    progress(f"reference answers in ${(System.nanoTime() - tRef) / 1e9}%.1f s")
    val setupS = (1 to SetupReps).map { rep =>
      wl.clean()
      System.gc()
      val t0 = System.nanoTime()
      if (args.trace && rep == SetupReps) runner.tracedOp("setup")(_ => wl.setup())
      else wl.setup()
      (System.nanoTime() - t0) / 1e9
    }

    progress(s"setup passes ${setupS.map(s => f"$s%.2f").mkString(" ")} s")
    val tWarm = System.nanoTime()
    val warm = (0 until wl.warmupOps).map(_ => runner.execute(wl.next(), trace = false))
    val nOps = math.max(1, math.round(wl.opsPerSecond * args.seconds).toInt)
    progress(f"${warm.size} warm-up ops in ${(System.nanoTime() - tWarm) / 1e9}%.1f s")
    val tRun = System.nanoTime()
    System.gc()
    Jvm.resetPeak()
    val gc0 = Jvm.gcMs()
    // every other op of each kind is traced, so every kind is traced and
    // compared with its untraced twin
    val seen = mutable.Map.empty[String, Int]
    val samples = (0 until nOps).map { _ =>
      val op = wl.next()
      val k = seen.getOrElse(op.kind, 0)
      seen(op.kind) = k + 1
      runner.execute(op, args.trace && k % 2 == 1)
    }
    val gcMs = Jvm.gcMs() - gc0
    progress(f"$nOps measured ops in ${(System.nanoTime() - tRun) / 1e9}%.1f s")
    val peakMb = Jvm.peakHeapMb()

    val attempted = warm.size + samples.size
    val failed = (warm ++ samples).count(!_.ok)
    runner.failures.take(20).foreach(f => println(s"failure $f"))

    val metrics = mutable.LinkedHashMap.empty[String, (Any, String)]
    val info = mutable.LinkedHashMap.empty[String, (Any, String)]
    val untraced = samples.filterNot(_.traced)
    val spaceAmp = {
      val live = wl.liveUserBytes
      if (live > 0) wl.storeDirs.map(Disk.bytes).sum.toDouble / live else 0.0
    }
    if (!args.trace) {
      val ms = samples.map(_.ms)
      val (tailP, tail) = tailPercentile(ms)
      metrics("setup_s") = (Stats.median(setupS), "s")
      metrics("op_p50_ms") = (kindMedian(samples), "ms")
      metrics("ops_per_s") = (samples.size / (Stats.sum(ms) / 1000), "1/s")
      metrics("heap_retained_mb") = (Jvm.retainedHeapMb(), "MB")
      info("ops") = (samples.size, "count")
      info(s"op_p${tailP.toInt}_ms") = (tail, "ms")
      samples.groupBy(_.kind).toSeq.sortBy(_._1).foreach { case (k, ss) =>
        info(s"p50_ms.$k") = (Stats.median(ss.map(_.ms)), s"ms n=${ss.size}")
      }
      workloadMetrics(wl, untraced, spaceAmp, failed.toDouble / attempted).foreach { case (k, v) => info(k) = v }
    } else {
      layerMetrics(wl, runner, samples, cores, gcMs, peakMb, spaceAmp).foreach { case (k, v) => metrics(k) = v }
      runner.kindStats.foreach { case (kind, st) =>
        info(s"kind.$kind") = (st.toSeq.sorted.map { case (p, n) => s"$p=$n" }.mkString(","), "")
      }
      runner.tracer.write(work.resolve("trace").resolve(s"${wl.name}-seed${args.seed}.jsonl"))
    }
    info.foreach { case (k, (v, u)) => println(s"info $k ${fmt(v)} $u") }
    metrics.foreach { case (k, (v, u)) => println(s"metric $k ${fmt(v)} $u") }
    val body = metrics.map { case (k, (v, u)) => s""""$k": {"value": ${fmt(v)}, "unit": "$u"}""" }
    println(s"""{"correct": ${failed == 0}, "attempted": $attempted, "failed": $failed, """ +
      s""""metrics": {${body.mkString(", ")}}}""")
    if (failed == 0) 0 else 1
  }

  private def fmt(v: Any): String = v match {
    case d: Double if d.isNaN || d.isInfinite => "0"
    case d: Double => d.toString
    case x => x.toString
  }

  /** The typical op latency of a mix of op kinds: each kind's median,
    * combined as a geometric mean weighted by the kind's share of the ops.
    * The median of the pooled samples would jump between kinds whose
    * latencies differ by multiples; this moves only when ops get slower. */
  def kindMedian(samples: Seq[Sample]): Double = {
    val byKind = samples.groupBy(_.kind).values.toSeq
    math.exp(byKind.map(ss => ss.size * math.log(Stats.median(ss.map(_.ms)))).sum / samples.size)
  }

  /** The highest of p99, p95, p90, p75 and p50 with at least
    * [[Stats.MinBeyond]] samples beyond it. */
  def tailPercentile(xs: Seq[Double]): (Double, Double) = {
    val p = Seq(99.0, 95.0, 90.0, 75.0).find(p => Stats.beyond(xs.size, p) >= Stats.MinBeyond)
      .getOrElse(50.0)
    (p, Stats.percentile(xs, p))
  }

  /** Metrics that apply to some workloads only: printed as `info` lines,
    * outside the result object, whose metrics every workload reports. */
  private def workloadMetrics(wl: Workload, s: Seq[Sample], spaceAmp: Double,
      failedRatio: Double): Seq[(String, (Any, String))] = {
    val reads = s.filter(_.cls == "read").map(_.ms)
    val writes = s.filter(_.cls == "write")
    val compacts = s.filter(_.cls == "compact")
    val out = mutable.ArrayBuffer.empty[(String, (Any, String))]
    out += "failed_ratio" -> (failedRatio, "ratio")
    wl.name match {
      case "kv_lookup" | "ingest_mixed" =>
        out += "read_p50_ms" -> (Stats.median(reads), "ms")
        require(Stats.beyond(reads.size, 90) >= Stats.MinBeyond,
          s"${reads.size} reads leave fewer than ${Stats.MinBeyond} beyond p90; run longer")
        out += "read_p90_ms" -> (Stats.percentile(reads, 90), "ms")
        out += "space_amp" -> (spaceAmp, "ratio")
        if (wl.name == "kv_lookup") out += "reads_per_s" -> (reads.size / (Stats.sum(reads) / 1000), "1/s")
        else {
          val cells = writes.map(_.cells).sum
          val sec = (writes ++ compacts).map(_.ns).sum / 1e9
          out += "write_cells_per_s" -> (cells / sec, "1/s")
          out += "write_p50_ms" -> (Stats.median(writes.map(_.ms)), "ms")
        }
      case _ =>
        out += "query_p50_s" -> (Stats.median(reads) / 1000, "s")
        out += "queries_per_min" -> (reads.size / (Stats.sum(reads) / 60000), "1/min")
    }
    out.toSeq
  }

  /** Per-layer metrics of a traced run. Counts and times are totals over the
    * traced ops of the measured phase; `write.*` and `compact.*` also
    * include the traced setup pass. */
  private def layerMetrics(wl: Workload, runner: Runner, samples: Seq[Sample], cores: Int,
      gcMs: Long, peakMb: Double, spaceAmp: Double): Seq[(String, (Any, String))] = {
    val t = runner.totals
    val e = t.exec
    val sc = t.scan
    def ms(ns: Long): Double = ns / 1e6
    def ratio(a: Double, b: Double): Double = if (b == 0) 0.0 else a / b
    val planNs = t.analyzeNs + t.optimizeNs + t.physicalNs
    val k = Kernels.measure(Base.documents().take(500).map(_._2).toSeq,
      Base.embeddings().take(500).map(_._2.map(_.toDouble)).toSeq)
    val kernelNs = t.kernelDocs * (k.shingleNs + k.minhashNs) + t.kernelVecs * k.pqAdcNs
    val spans = runner.tracer.all.filter(s => runner.measuredOps.contains(s.op))
    val self = Span.selfMsByLayer(spans)
    val reads = samples.filter(_.cls == "read")
    val overhead = {
      val (tr, un) = reads.partition(_.traced)
      if (tr.isEmpty || un.isEmpty) 0.0 else Stats.median(tr.map(_.ms)) - Stats.median(un.map(_.ms))
    }
    val out = mutable.ArrayBuffer.empty[(String, (Any, String))]
    out += "plan.analyze_ms" -> (ms(t.analyzeNs), "ms")
    out += "plan.optimize_ms" -> (ms(t.optimizeNs), "ms")
    out += "plan.physical_ms" -> (ms(t.physicalNs), "ms")
    out += "plan.share" -> (ratio(planNs, t.opNs), "ratio")
    out += "exec.jobs" -> (e.jobs, "count")
    out += "exec.stages" -> (e.stages, "count")
    out += "exec.tasks" -> (e.tasks, "count")
    out += "exec.task_wait_ms" -> (e.taskWaitMs, "ms")
    out += "exec.task_busy_ms" -> (e.taskBusyMs, "ms")
    out += "exec.slot_util" -> (ratio(e.taskBusyMs, ms(t.opNs) * cores), "ratio")
    out += "exec.shuffle_write_bytes" -> (e.shuffleWriteBytes, "bytes")
    out += "exec.shuffle_read_bytes" -> (e.shuffleReadBytes, "bytes")
    out += "exec.spill_bytes" -> (e.spillBytes, "bytes")
    out += "exec.tasks_failed" -> (e.tasksFailed, "count")
    out += "store.run_tail_reads" -> (t.store.runTailReads, "count")
    out += "store.point_probe_index_reads" -> (t.store.pointProbeIndexReads, "count")
    out += "store.bucket_stat_walks" -> (t.store.bucketStatWalks, "count")
    ScanCounts.AnswerPaths.foreach(p => out += s"store.answer_path.$p" -> (sc.answerPath.getOrElse(p, 0L), "count"))
    out += "store.segments_per_bucket" -> (Disk.segmentsPerBucket(wl.storeDirs), "ratio")
    out += "store.space_amp" -> (spaceAmp, "ratio")
    out += "scan.partitions" -> (sc.partitions, "count")
    out += "scan.segments_read" -> (sc.segmentsRead, "count")
    out += "scan.runs_read" -> (sc.runsRead, "count")
    out += "scan.runs_skipped" -> (sc.runsSkipped, "count")
    out += "scan.run_skip_ratio" -> (ratio(sc.runsSkipped, sc.runsRead + sc.runsSkipped), "ratio")
    out += "scan.cells_seek_skipped" -> (sc.cellsSeekSkipped, "count")
    out += "scan.stats_only_partitions" -> (sc.statsOnlyPartitions, "count")
    out += "scan.cells_merged" -> (sc.cellsMerged, "count")
    out += "scan.tombstones_dropped" -> (sc.tombstonesDropped, "count")
    out += "scan.cells_per_row_out" -> (ratio(sc.cellsMerged, sc.rowsOut), "ratio")
    out += "kernel.shingle_ns_per_doc" -> (k.shingleNs, "ns")
    out += "kernel.minhash_ns_per_doc" -> (k.minhashNs, "ns")
    out += "kernel.pq_adc_ns_per_vec" -> (k.pqAdcNs, "ns")
    out += "kernel.share_est" -> (ratio(kernelNs, e.taskBusyMs * 1e6), "ratio")
    out += "write.calls" -> (t.writeCalls, "count")
    out += "write.ms" -> (ms(t.writeNs), "ms")
    out += "write.cells" -> (t.writeCells, "count")
    out += "write.segments_committed" -> (t.writeSegments, "count")
    out += "write.storage_bytes_per_user_byte" -> (ratio(t.writeStorageBytes, t.writeUserBytes), "ratio")
    out += "compact.calls" -> (t.compactCalls, "count")
    out += "compact.ms" -> (ms(t.compactNs), "ms")
    out += "compact.bytes_rewritten" -> (t.compactBytes, "bytes")
    out += "jvm.gc_ms" -> (gcMs, "ms")
    out += "jvm.heap_peak_mb" -> (peakMb, "MB")
    Seq("op", "plan", "exec", "write", "compact").foreach(l =>
      out += s"self.${l}_ms" -> (self.getOrElse(l, 0.0), "ms"))
    out += "trace.ops" -> (t.tracedOps, "count")
    out += "trace.overhead_ms" -> (overhead, "ms")
    out.toSeq
  }
}
