package graftbench

import java.io.File
import java.lang.management.ManagementFactory

import scala.jdk.CollectionConverters._

import org.apache.commons.io.FileUtils
import org.apache.spark.sql.SparkSession

/** The benchmark's entry point. One process runs one workload as a
  * single-client closed loop against graft's public API:
  *
  *   session → setup × [[Setups]] (each from scratch, median reported)
  *   → warm-up → load probe → timed loop for `--seconds` → load probe
  *   → correctness checks → report.
  *
  * Prints a `GRAFTBENCH_REPORT` line (every metric by name with its
  * unit, the load probes, the errors) and a `GRAFTBENCH_RESULT` line
  * (the metrics BENCHMARK.json declares). With `--trace 1` every layer
  * call runs in a span, and the per-layer metrics and a spans file come
  * from the spans and Spark's listener events.
  *
  * Usage: graftbench.Main --workload <name> --seed <n> --seconds <s>
  *   --trace <0|1> --work <dir> [--spans <file>]
  */
object Main {
  /** Set-ups per run; `setup_s` takes their median. */
  val Setups = 3

  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect { case Array(k, v) =>
      k.stripPrefix("--") -> v }.toMap
    val name = opt("workload")
    require(Workload.names.contains(name), s"unknown workload $name")
    val seed = opt("seed").toLong
    val seconds = opt("seconds").toDouble
    val trace = opt.getOrElse("trace", "0") == "1"
    val work = new File(opt("work")).getAbsoluteFile
    val spark = graft.Sessions.builder("graftbench")
      .config("spark.local.dir", new File(work, "local").getPath)
      .config("spark.sql.warehouse.dir", new File(work, "warehouse").getPath)
      .config("spark.hadoop.hadoop.tmp.dir", new File(work, "tmp").getPath)
      // the status store keeps the last N jobs, stages and executions on
      // the heap; a small N keeps that bookkeeping out of
      // retained_heap_mb, which would otherwise grow with the op count
      .config("spark.ui.retainedJobs", "50")
      .config("spark.ui.retainedStages", "50")
      .config("spark.ui.retainedTasks", "1000")
      .config("spark.sql.ui.retainedExecutions", "50")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    graft.functions.GraftFunctions.register(spark)
    val ok =
      try { run(spark, name, seed, seconds, trace, work, opt.get("spans")); true }
      catch { case e: Throwable => e.printStackTrace(); false }
      finally spark.stop()
    sys.exit(if (ok) 0 else 1)
  }

  private def secondsSince(t0: Long) = (System.nanoTime() - t0) / 1e9

  private def run(spark: SparkSession, name: String, seed: Long,
      seconds: Double, trace: Boolean, work: File,
      spansPath: Option[String]): Unit = {
    val sessionS = (System.currentTimeMillis() -
      ManagementFactory.getRuntimeMXBean.getStartTime) / 1000.0
    if (trace) Trace.install(spark)
    val rec = new Recorder(spark)
    val wl = Workload(name, spark, seed, rec)
    val setupS = (0 until Setups).map { i =>
      if (i > 0) FileUtils.deleteQuietly(new File(work, s"setup${i - 1}"))
      val t0 = System.nanoTime()
      wl.setup(new File(work, s"setup$i").getPath)
      secondsSince(t0)
    }
    val w0 = System.nanoTime()
    wl.warmup()
    val warmupS = secondsSince(w0)
    rec.latMs.clear()
    val probeBefore = probe(spark)
    Trace.timedAfter = Trace.op
    val gc0 = Trace.gcMs()
    val t0 = System.nanoTime()
    while (secondsSince(t0) < seconds) wl.step()
    val timedS = secondsSince(t0)
    val gcTimed = Trace.gcMs() - gc0
    val compiles = Trace.compiles()
    val rssMb = vmHwmKb() / 1024.0
    val retainedMb = retainedHeapMb()
    val probeAfter = probe(spark)
    val timedOps = rec.latMs.values.map(_.size).sum
    // op kinds differ in cost by 10x and more, and a short run holds
    // few of the slow ones: the geometric mean of per-kind medians does
    // not jump with the mix the way one median over all ops does
    val kindMedians = wl.primaryKinds.map(rec.lat).filter(_.nonEmpty)
      .map(Stats.median)
    val e2e = Seq(
      Metric("setup_s", sessionS + Stats.median(setupS) + warmupS, "s"),
      Metric("op_median_ms",
        math.exp(kindMedians.map(math.log).sum / kindMedians.size), "ms"),
      Metric("ops_per_s", timedOps / timedS, "ops/s"),
      Metric("retained_heap_mb", retainedMb, "MB"))
    val primary = rec.lats(wl.primaryKinds)
    val own = Seq(Metric("peak_rss_mb", rssMb, "MB"),
      Metric("op_p50_ms", Stats.median(primary), "ms"),
      Metric("op_p90_ms", Stats.quantile(primary, 0.9), "ms")) ++
      wl.report(timedS)
    val v0 = System.nanoTime()
    wl.verify()
    val verifyS = secondsSince(v0)
    val failFrac = rec.failed.toDouble / math.max(1L, rec.attempted)

    // traced: the layer metrics every workload has (the result line),
    // then the workload's own (the report line)
    val (layers, ownLayers, selfMs) =
      if (!trace) (Nil, Nil, Nil)
      else {
        org.apache.spark.graftbench.Bus.drain(spark.sparkContext)
        Trace.attribute()
        val incl = Trace.inclusive()
        spansPath.foreach(p => Trace.writeSpans(p, incl))
        // self time per layer over the loop: a span's time minus its
        // child spans' (the bench layer's self time is its own overhead)
        val self = Trace.timed("").groupBy(_.layer).toSeq.sortBy(_._1)
          .map { case (l, ss) => Metric(l, ss.map(s => incl(s.id).selfMs)
            .sum, "ms") }
        (common(incl, compiles, gcTimed, timedOps, wl, rec),
          wl.layerReport(incl), self)
      }

    def metricsJson(ms: Seq[Metric]) = Json.obj(ms.map(m => m.name ->
      Json.obj(Seq("value" -> Json.num(m.value), "unit" -> Json.str(m.unit)))))
    val samples = rec.latMs.toSeq.map { case (k, v) => k -> v.size.toString }
    println("GRAFTBENCH_REPORT " + Json.obj(Seq(
      "workload" -> Json.str(name), "seed" -> seed.toString,
      "seconds" -> Json.num(timedS), "trace" -> trace.toString,
      "cores" -> Json.str(graft.Sessions.cpus),
      "setup_runs_s" -> setupS.map(Json.num).mkString("[", ", ", "]"),
      "session_s" -> Json.num(sessionS), "warmup_s" -> Json.num(warmupS),
      "verify_s" -> Json.num(verifyS),
      "load_probe_s" -> Json.obj(Seq("before" -> Json.num(probeBefore),
        "after" -> Json.num(probeAfter))),
      "samples" -> Json.obj(samples),
      "attempted" -> rec.attempted.toString,
      "failed" -> rec.failed.toString,
      "end_to_end" -> metricsJson(e2e ++ own :+
        Metric("fail_frac", failFrac, "ratio")),
      "per_layer" -> metricsJson(layers ++ ownLayers),
      "loop_self_ms_by_layer" -> metricsJson(selfMs),
      "errors" -> rec.errors.map(Json.str).mkString("[", ", ", "]"))))
    println("GRAFTBENCH_RESULT " + Json.obj(Seq(
      "correct" -> (rec.failed == 0).toString,
      "attempted" -> rec.attempted.toString,
      "failed" -> rec.failed.toString,
      "metrics" -> metricsJson(if (trace) layers else e2e))))
  }

  /** Layer metrics every workload has: the versioned read and commit
    * paths and the Spark engine per timed-loop op, the JVM. taxi_scan
    * commits only in set-up, so there its commit figures are the ETL
    * commits'. */
  private def common(incl: Map[Int, Trace.Incl], compiles: Long,
      gcTimedMs: Long, timedOps: Int, wl: Workload,
      rec: Recorder): Seq[Metric] = {
    def med(ss: Seq[Span], f: Trace.Incl => Double) =
      Stats.median(ss.map(s => f(incl(s.id))))
    def mean(ss: Seq[Span], f: Trace.Incl => Double) =
      ss.map(s => f(incl(s.id))).sum / math.max(1, ss.size)
    val commits = Some(Trace.timed("versioned.commit.")).filter(_.nonEmpty)
      .getOrElse(Trace.spans.filter(_.name.startsWith("versioned.commit."))
        .toSeq)
    def added(k: String) =
      Stats.median(commits.map(_.attrs.getOrElse(k, 0.0)))
    val ops = Trace.timed("op.")
    val (files, meta, bytes) = Workload.walk(wl.mainTable)
    val heapPeak = ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == java.lang.management.MemoryType.HEAP)
      .map(_.getPeakUsage.getUsed).sum
    Seq(
      Metric("versioned.read.resolve_ms",
        med(Trace.timed("versioned.read.resolve"), _.durMs), "ms"),
      Metric("versioned.commit.ms", med(commits, _.durMs), "ms"),
      Metric("versioned.commit.jobs", med(commits, _.jobs.toDouble), "count"),
      Metric("versioned.commit.driver_gap_ms", med(commits, _.driverGapMs),
        "ms"),
      Metric("versioned.commit.files_added", added("files_added"), "count"),
      Metric("versioned.commit.bytes_added", added("bytes_added"), "bytes"),
      Metric("table.files", files.toDouble, "count"),
      Metric("table.metadata_files", meta.toDouble, "count"),
      Metric("table.bytes", bytes.toDouble, "bytes"),
      Metric("spark.planning_ms", med(ops, _.planningMs), "ms"),
      // the whole run's compiles (set-up, warm-up, loop): a warm loop
      // may compile nothing, while set-up and warm-up always do
      Metric("spark.codegen_compile_ms", compiles * Trace.compileMeanMs(),
        "ms"),
      Metric("spark.jobs", med(ops, _.jobs.toDouble), "count"),
      Metric("spark.tasks", med(ops, _.tasks.toDouble), "count"),
      Metric("spark.job_wall_ms", med(ops, _.jobWallMs), "ms"),
      Metric("spark.driver_gap_ms", med(ops, _.driverGapMs), "ms"),
      Metric("spark.task_run_ms", med(ops, _.taskRunMs), "ms"),
      Metric("spark.task_gc_ms", mean(ops, _.taskGcMs), "ms"),
      Metric("spark.shuffle_bytes", med(ops, _.shuffleBytes.toDouble),
        "bytes"),
      Metric("spark.peak_exec_mem_bytes",
        ops.map(s => incl(s.id).peakExecMem.toDouble).maxOption
          .getOrElse(0.0), "bytes"),
      Metric("spark.spill_bytes", mean(ops, _.spillBytes.toDouble), "bytes"),
      Metric("spark.leaked_persisted_rdds", rec.maxLeaked.toDouble, "count"),
      Metric("jvm.gc_ms", gcTimedMs.toDouble / math.max(1, timedOps), "ms"),
      Metric("jvm.heap_peak_mb", heapPeak / 1048576.0, "MB"))
  }

  /** Fixed-work load probe: a constant 100M-row range reduction whose
    * time depends only on the free CPU, timed on its second run (the
    * first compiles it). Recorded beside the metrics so a run taken
    * under box load shows in its own output. */
  private def probe(spark: SparkSession): Double = {
    import org.apache.spark.sql.functions.sum
    def once() = spark.range(100L * 1000 * 1000).agg(sum("id")).head()
    once()
    val t0 = System.nanoTime()
    once()
    secondsSince(t0)
  }

  /** Heap still in use after a full collection: what the session
    * keeps between ops (plan memos, cached frames, the benchmark's own
    * model). Unlike the peak resident set, it does not move with when
    * the collector happened to run. */
  private def retainedHeapMb(): Double = {
    // the first collection hands dead RDDs, shuffles and broadcasts to
    // Spark's cleaner, which drops their blocks asynchronously; the
    // second one counts the heap after that
    System.gc()
    Thread.sleep(500)
    System.gc()
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
  }

  /** Peak resident set (VmHWM) of this process, in kB. */
  private def vmHwmKb(): Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble).getOrElse(Double.NaN)
    finally src.close()
  }
}
