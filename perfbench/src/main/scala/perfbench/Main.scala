package perfbench

import java.lang.management.ManagementFactory

import scala.jdk.CollectionConverters._

import graft.storage.Manifest
import org.apache.spark.sql.SparkSession

/** Benchmark entry point, launched by `perfbench/run.py`:
  *
  *   Main --workload <name> --seed <n> --seconds <s> --trace <0|1>
  *        --out <dir> [--git-head <sha>] [--source-hash <hash>]
  *
  * Prints a witness line, then as its last stdout line one JSON object
  * with `correct`, `attempted`, `failed` and `metrics` — the end-to-end
  * metrics untraced, the per-layer metrics traced.
  */
object Main {
  val Workloads = Seq("append_subscribe", "read_mix", "ingest_curate")

  /** The tail percentile reported end to end: one with at least ten
    * samples beyond it in a run of append_subscribe, whose closed loop
    * completes the fewest ops (3 to 4 per second, 40 to 50 in a 13 s run).
    */
  val TailPct = 75

  /** end-to-end metric -> unit. The op median is in the record but not
    * here: in both client workloads it falls between two kinds of op
    * (EAPPEND and EMAPPEND, half each; EGET misses and ESCANs), so one
    * run's median moves by about 15 % with which ops it happened to
    * sample, while p75 and the op rate sit inside one population.
    */
  val EndToEnd: Seq[(String, String)] = Seq(
    "setup_s" -> "s", "op_p75_ms" -> "ms", "throughput_per_s" -> "1/s")

  /** per-layer metric -> (unit, workloads it applies to; empty = all) */
  val PerLayer: Seq[(String, String, Set[String])] = {
    val all = Set.empty[String]
    val streaming = Set("append_subscribe", "ingest_curate")
    Seq(
      ("server.self_ms_p50", "ms", all), ("commands.self_ms_p50", "ms", all),
      ("store.append_ms_p50", "ms", all), ("store.append_queue_ms_p50", "ms", all),
      ("store.ingest_ms_per_batch", "ms", all), ("store.ingest_jobs_per_batch", "count", all),
      ("store.compact_ms", "ms", all), ("store.compact_bytes_rewritten", "bytes", all),
      ("store.compact_files_before", "count", all), ("store.compact_files_after", "count", all),
      ("store.open_ms", "ms", all),
      ("store.eget_ms_p50", "ms", all), ("store.escan_ms_p50", "ms", all),
      ("store.esver_ms_p50", "ms", all), ("store.epscan_ms_p50", "ms", all),
      ("store.eget_cache_hit_ratio", "ratio", all), ("store.eget_cache_evictions", "count", all),
      ("storage.manifest_bytes", "bytes", all), ("storage.manifest_commit_ms_p50", "ms", all),
      ("storage.manifest_load_ms_p50", "ms", all), ("storage.manifest_loads_per_op", "count", all),
      ("storage.manifest_loads_per_idle_s", "1/s", all), ("storage.files_per_commit", "count", all),
      ("storage.event_files", "count", all), ("storage.write_amp", "ratio", all),
      ("storage.head_layers", "count", all),
      ("spark.jobs_per_op", "count", all), ("spark.tasks_per_op", "count", all),
      ("spark.job_ms_per_op", "ms", all), ("spark.plan_ms_per_op", "ms", all),
      ("spark.records_read_per_row_returned", "ratio", all), ("spark.bytes_read_per_op", "bytes", all),
      ("spark.executor_busy_share", "ratio", all), ("spark.shuffle_write_bytes", "bytes", all),
      ("spark.gc_ms", "ms", all), ("plans.graft_rule_ms_per_op", "ms", all),
      ("streaming.batches", "count", streaming), ("streaming.rows_per_batch", "count", streaming),
      ("streaming.trigger_ms_p50", "ms", streaming), ("streaming.latest_offset_ms_p50", "ms", streaming),
      ("streaming.overhead_ms_p50", "ms", streaming), ("streaming.jobs_per_batch", "count", streaming),
      ("ops.dedup.probe_ms_p50", "ms", all), ("ops.dedup.pairs", "count", all),
      ("ops.genindex.compact_ms", "ms", all),
      ("spans.op_self_ms_p50", "ms", all),
      ("trace.overhead_op_p50_ms", "ms", all), ("trace.overhead_share", "ratio", all))
  }

  def main(args: Array[String]): Unit = {
    val launchMs = ManagementFactory.getRuntimeMXBean.getStartTime
    val opts = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = opts.getOrElse("workload", "")
    require(Workloads.contains(workload), s"unknown workload '$workload'; one of ${Workloads.mkString(", ")}")
    val seed = opts("seed").toLong
    val seconds = opts("seconds").toInt
    val traced = opts.getOrElse("trace", "0") == "1"
    val out = java.nio.file.Paths.get(opts("out")).toAbsolutePath
    val work = out.resolve("work").resolve(s"$workload-$seed-${ProcessHandle.current().pid()}")
    java.nio.file.Files.createDirectories(work)
    val os = ManagementFactory.getOperatingSystemMXBean
    val loadStart = os.getSystemLoadAverage
    val cpuStart = cpuTicks()

    val spark = SparkSession.builder()
      .master("local[4]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", 4)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    val run = new Run(spark, seed, work, traced)
    run.tracer.enabled = false
    val wl: Workload = workload match {
      case "append_subscribe" => new AppendSubscribe(run)
      case "read_mix" => new ReadMix(run)
      case "ingest_curate" => new IngestCurate(run)
    }
    var exit = 0
    try {
      run.probe.foreach(_.attach())
      wl.setup()
      val setupS = run.setupSeconds(launchMs)
      run.log(f"set-up done: setup_s $setupS%.2f")
      run.probe.foreach(_.detach())
      val gcMs0 = gcMs()
      val jit = ManagementFactory.getCompilationMXBean
      val jitMs0 = jit.getTotalCompilationTime
      val (phase, tracedCounters) =
        if (!traced) (wl.measure(seconds), None)
        else {
          val (p, c) = tracedPhase(run, wl, seconds)
          (p, Some(c))
        }
      val gcMs1 = gcMs() - gcMs0
      val jitMs1 = jit.getTotalCompilationTime - jitMs0
      run.log("measured phase done")
      wl.verify()
      run.log("verified")
      val layerMetrics = tracedCounters.map { before =>
        val m = before ++ wl.layers(phase)
        run.probe.foreach(_.detach())
        m ++ spanMetrics(run, workload, out)
      }
      if (Stats.percentile(phase.opMs, TailPct).isEmpty)
        run.log(s"only ${Stats.beyond(phase.opMs.size, TailPct)} samples beyond p$TailPct: run longer")
      val e2e = Map("setup_s" -> setupS,
        "op_p75_ms" -> Stats.nearestRank(phase.opMs, TailPct), "throughput_per_s" -> phase.throughput)
      val metrics: Seq[(String, String, Double)] = layerMetrics match {
        case None => EndToEnd.map { case (k, u) => (k, u, e2e(k)) }
        case Some(lm) => PerLayer.map { case (k, u, _) => (k, u, lm.getOrElse(k, 0.0)) }
      }
      layerMetrics.foreach { lm =>
        PerLayer.foreach { case (k, _, applies) =>
          if (applies.isEmpty || applies(workload))
            run.check(lm.get(k).exists(v => !v.isNaN && !v.isInfinite),
              s"per-layer metric $k is missing or not finite")
        }
      }
      metrics.foreach { case (k, _, v) =>
        run.check(!v.isNaN && !v.isInfinite, s"metric $k is not finite")
      }
      val witness = Seq(
        "workload" -> workload, "seed" -> seed, "seconds" -> seconds, "trace" -> traced,
        "nproc" -> Runtime.getRuntime.availableProcessors(),
        "load_start" -> loadStart, "load_end" -> os.getSystemLoadAverage,
        "cpu_steal_share" -> stealShare(cpuStart, cpuTicks()),
        "heap_max_bytes" -> Runtime.getRuntime.maxMemory(),
        "spark_version" -> spark.version,
        "jvm" -> s"${System.getProperty("java.vm.name")} ${System.getProperty("java.runtime.version")}",
        "git_head" -> opts.getOrElse("git-head", "unknown"),
        "source_hash" -> opts.getOrElse("source-hash", "unknown"),
        "ready_step_ms" -> run.readyStepMs,
        "measured_gc_ms" -> gcMs1,
        "measured_jit_ms" -> jitMs1,
        "fsync" -> "none: the store does not fsync, so no run waits on the disk")
      val correct = run.mismatches.isEmpty
      val record = Json.obj(Seq(
        "witness" -> witness.toMap,
        "detail" -> (phase.detail ++ Seq("op_p50_ms" -> Stats.median(phase.opMs),
          "op_samples" -> phase.opMs.size,
          "op_samples_beyond_tail" -> Stats.beyond(phase.opMs.size, TailPct))).toMap,
        "mismatches" -> run.mismatches.take(20)))
      val recDir = out.resolve("records")
      java.nio.file.Files.createDirectories(recDir)
      java.nio.file.Files.writeString(
        recDir.resolve(s"$workload-seed$seed-trace${if (traced) 1 else 0}.json"), record)
      println(record)
      println(Json.obj(Seq(
        "correct" -> correct,
        "attempted" -> run.attempted.get.max(1L),
        "failed" -> run.failed.get,
        "metrics" -> metrics.map { case (k, u, v) =>
          k -> Map("value" -> v, "unit" -> u) }.toMap)))
      if (!correct) exit = 1
    } catch {
      case e: Throwable =>
        System.err.println(s"[perfbench] $workload failed: $e")
        e.printStackTrace()
        exit = 2
    } finally {
      try wl.close() catch { case _: Throwable => () }
      spark.stop()
      graft.core.Fs.deleteRecursively(work.toFile)
      run.log("stopped")
    }
    System.exit(exit)
  }

  /** JVM-wide garbage-collection time so far. */
  private def gcMs(): Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum

  /** Machine-wide CPU ticks (total, steal) from /proc/stat, if readable. */
  private def cpuTicks(): Option[(Long, Long)] =
    try {
      val f = java.nio.file.Files.readAllLines(java.nio.file.Paths.get("/proc/stat")).get(0)
        .trim.split("\\s+").drop(1).map(_.toLong)
      Some((f.sum, if (f.length > 7) f(7) else 0L))
    } catch { case _: Exception => None }

  /** Share of CPU time the hypervisor gave to other guests during the
    * run: a noisy neighbour shows here.
    */
  private def stealShare(a: Option[(Long, Long)], b: Option[(Long, Long)]): Option[Double] =
    for ((t0, s0) <- a; (t1, s1) <- b if t1 > t0) yield (s1 - s0).toDouble / (t1 - t0)

  /** The traced run's measured phase: twice the run length, with
    * tracing (listeners attached, spans recorded) switched on and off
    * every second, so the traced and untraced ops see the same warm-up
    * and store growth and their difference is the tracing overhead.
    * Returns the phase and the storage and engine counters around it;
    * Spark counters cover the traced slices only.
    */
  private def tracedPhase(run: Run, wl: Workload, seconds: Int): (Phase, Map[String, Double]) = {
    val probe = run.probe.get
    val root = wl.nextRoot
    def version = Manifest.newestVersion(root).getOrElse(0L)
    val (files0, bytes0, v0) = (Layers.eventFiles(root),
      Layers.dirBytes(java.nio.file.Paths.get(root)), version)
    val gc = ManagementFactory.getGarbageCollectorMXBeans.asScala
    val gc0 = gc.map(_.getCollectionTime).sum
    val loads0 = Manifest.loads.get
    val slices = new java.util.concurrent.ConcurrentLinkedQueue[(Long, Long)]()
    @volatile var stop = false
    val toggler = new Thread(() => {
      while (!stop) {
        probe.attach()
        run.tracer.enabled = true
        val s0 = System.nanoTime()
        Thread.sleep(1000)
        run.tracer.enabled = false
        probe.detach()
        slices.add(s0 -> System.nanoTime())
        if (!stop) Thread.sleep(1000)
      }
    }, "perfbench-trace-toggle")
    toggler.start()
    val p = try wl.measure(2.0 * seconds) finally { stop = true; toggler.join() }
    val loads1 = Manifest.loads.get
    val gcMs = gc.map(_.getCollectionTime).sum - gc0
    // idle: nothing is sent, so manifest loads come from polling alone
    Thread.sleep(2000)
    val idleLoads = Manifest.loads.get - loads1
    probe.settle()
    val on = slices.asScala.toSeq
    val tracedOp = p.opStarts.map(t => on.exists { case (a, b) => t >= a && t < b })
    val onMs = p.opMs.zip(tracedOp).collect { case (ms, true) => ms }
    val offMs = p.opMs.zip(tracedOp).collect { case (ms, false) => ms }
    val onShare = onMs.size.toDouble / p.opMs.size.max(1)
    val w = probe.window(p.t0, p.t1)
    val onWallMs = on.map { case (a, b) => (b - a) / 1e6 }.sum
    val commits = (version - v0).toDouble
    val mBytes = Layers.manifestBytes(root).toDouble
    val written = Layers.dirBytes(java.nio.file.Paths.get(root)) - bytes0 + commits * mBytes
    val userBytes = p.num("user_bytes")
    val overhead = Layers.med(onMs) - Layers.med(offMs)
    val counters = Layers.sparkPerOp(w, (p.ops * onShare).round.max(1L),
        (p.num("rows_out") * onShare).round, onWallMs, run.cores) ++ Map(
      "spark.gc_ms" -> gcMs.toDouble,
      "storage.manifest_bytes" -> mBytes,
      "storage.manifest_loads_per_op" -> (loads1 - loads0).toDouble / p.ops.max(1),
      "storage.manifest_loads_per_idle_s" -> idleLoads / 2.0,
      "storage.files_per_commit" ->
        (if (commits > 0) (Layers.eventFiles(root) - files0) / commits else 0.0),
      "storage.event_files" -> Layers.eventFiles(root).toDouble,
      "storage.write_amp" -> (if (userBytes > 0) written / userBytes else 0.0),
      "trace.overhead_op_p50_ms" -> overhead,
      "trace.overhead_share" -> (if (offMs.isEmpty) 0.0 else overhead / Layers.med(offMs)))
    run.log(s"traced ops ${onMs.size}, untraced ops ${offMs.size}")
    (p, counters)
  }

  /** Writes the spans file (benchmark spans plus Spark job, stage and
    * micro-batch spans) and returns span-derived metrics.
    */
  private def spanMetrics(run: Run, workload: String, out: java.nio.file.Path): Map[String, Double] = {
    val probe = run.probe.get
    val own = run.tracer.all
    val batchSpans = probe.batches.asScala.toSeq.map(b =>
      Span(2000000000000L + b.batchId, 0L, 0L, "streaming.batch", b.start, b.end))
    val jobSpans = probe.jobs.asScala.toSeq.map { j =>
      val parent =
        if (j.streaming) batchSpans.find(_.id == 2000000000000L + j.batchId).map(_.id).getOrElse(0L)
        else if (j.span != 0L) j.span
        else own.find(s => s.start <= j.start && s.end >= j.end).map(_.id).getOrElse(0L)
      val req = own.find(_.id == parent).map(_.request).getOrElse(0L)
      Span(1000000000000L + j.id, parent, req, "spark.job", j.start, j.end)
    }
    val stageSpans = probe.stages.asScala.toSeq.filter(_.job >= 0).map(s =>
      Span(3000000000000L + s.id, 1000000000000L + s.job, 0L, "spark.stage", s.start, s.end))
    val all = own ++ batchSpans ++ jobSpans ++ stageSpans
    val dir = out.resolve("traces")
    java.nio.file.Files.createDirectories(dir)
    Trace.writeJsonLines(all, dir.resolve(s"$workload-seed${run.seed}.spans.jsonl"))
    val opNames = own.map(_.name).filter(_.startsWith("resp.")).toSet
    val selfMs = opNames.toSeq.flatMap(n => Trace.selfMs(all, n))
    Map("spans.op_self_ms_p50" -> Layers.med(selfMs))
  }
}
