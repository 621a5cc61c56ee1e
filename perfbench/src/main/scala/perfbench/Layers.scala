package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.util.UUID

import graft.api.{Commands, EventStore}
import graft.core.{EventInput, ExpectedVersion}
import graft.ops.Dedup
import graft.storage.Manifest
import graft.streaming.{GenIndex, StreamingDedup}
import org.apache.spark.sql.functions.col

/** Per-layer measurements of the traced run. The depth replays send
  * the same kind of op single-client through the RESP socket, then
  * `Commands.executeRaw`, then the `EventStore` method; a layer's self
  * time is its depth's median minus the next depth's.
  */
object Layers {

  /** Read targets for a replay: event ids and cold streams (each used
    * once, so every EGET and cold ESVER misses the store's caches),
    * streams to scan and for the warm ESVER that times the server and
    * command layers, and partitions.
    */
  final case class ReadTargets(eventIds: IndexedSeq[String],
      streams: IndexedSeq[String], pids: IndexedSeq[Int],
      coldStreams: IndexedSeq[String])

  private def b(s: String) = s.getBytes(UTF_8)

  /** Replay `n` of each read kind at each depth; returns per
    * "depth.KIND" latency samples in ms.
    */
  def readDepths(run: Run, es: EventStore, port: Int, t: ReadTargets,
      n: Int): Map[String, Seq[Double]] = {
    val cmd = new Commands(es)
    val client = new RespClient(port)
    val out = collection.mutable.Map.empty[String, Seq[Double]]
    var idCursor = 0
    var coldCursor = 0
    def args(kind: String, k: Int): Seq[String] = kind match {
      case "EGET" => Seq("EGET", t.eventIds(idCursor))
      case "ESCAN" => Seq("ESCAN", t.streams(k % t.streams.size), "-", "+", "COUNT", "100")
      case "ESVER" => Seq("ESVER", t.streams(k % t.streams.size))
      case "EPSCAN" =>
        val p = t.pids(k % t.pids.size)
        Seq("EPSCAN", p.toString, (k * 7 % 50).toString, "+", "COUNT", "100")
      case "EPSEQ" => Seq("EPSEQ", t.pids(k % t.pids.size).toString)
      case "ESVER_COLD" => Seq("ESVER", t.coldStreams(coldCursor))
    }
    def storeCall(kind: String, a: Seq[String]): Unit = kind match {
      case "EGET" => es.getCached(UUID.fromString(a(1)))
      case "ESCAN" => es.scan(a(1), None, None, 100).events.collect()
      case "ESVER" | "ESVER_COLD" => es.sver(a(1))
      case "EPSCAN" => es.pscan(a(1).toInt, Some(a(2).toLong), None, 100).events.collect()
      case "EPSEQ" => es.pseq(a(1).toInt)
    }
    try {
      val plan = (for (kind <- Seq("EGET", "ESCAN", "ESVER", "EPSCAN", "EPSEQ");
           depth <- Seq("resp", "commands", "store")) yield kind -> depth) :+ ("ESVER_COLD" -> "store")
      for ((kind, depth) <- plan) {
        val samples = (0 until n).map { k =>
          val a = args(kind, k)
          if (kind == "EGET") idCursor += 1
          if (kind == "ESVER_COLD") coldCursor += 1
          val req = run.tracer.nextId()
          val sid = run.tracer.nextId()
          val (_, ms) = run.tracer.timed(s"$depth.$kind", req, id = sid) {
            depth match {
              case "resp" =>
                val r = client.callText(a: _*)
                run.check(!Reply.isError(r), s"replay $kind failed: $r")
              case "commands" =>
                SparkProbe.under(run.spark, sid) {
                  val r = cmd.executeRaw(a.map(b))
                  run.check(r.isRight, s"replay $kind failed: $r")
                }
              case "store" => SparkProbe.under(run.spark, sid)(storeCall(kind, a))
            }
          }
          ms
        }
        out(s"$depth.$kind") = samples
      }
    } finally client.close()
    out.toMap
  }

  /** Single-event appends to fresh streams at each depth. */
  def appendDepths(run: Run, es: EventStore, port: Int, n: Int): Map[String, Seq[Double]] = {
    val cmd = new Commands(es)
    val client = new RespClient(port)
    val tag = UUID.randomUUID().toString.take(8)
    try Seq("resp", "commands", "store").map { depth =>
      depth + ".EAPPEND" -> (0 until n).map { k =>
        val sid = s"probe-$tag-$depth-$k"
        val payload = s"""{"probe":$k}"""
        val a = Seq("EAPPEND", sid, "Probe", "EXPECTED_VERSION", "empty", "PAYLOAD", payload)
        val spanId = run.tracer.nextId()
        run.tracer.timed(s"$depth.EAPPEND", run.tracer.nextId(), id = spanId) {
          depth match {
            case "resp" =>
              val r = client.callText(a: _*)
              run.check(!Reply.isError(r), s"replay EAPPEND failed: $r")
            case "commands" => SparkProbe.under(run.spark, spanId) {
              val r = cmd.executeRaw(a.map(b))
              run.check(r.isRight, s"replay EAPPEND failed: $r")
            }
            case "store" => SparkProbe.under(run.spark, spanId) {
              val r = es.append(EventInput(sid, "Probe", b(payload),
                expectedVersion = ExpectedVersion.Empty))
              run.check(r.isRight, s"replay EAPPEND failed: $r")
            }
          }
        }._2
      }
    }.toMap
    finally client.close()
  }

  /** Three RESP writers appending to fresh streams for `ms`; the
    * latencies include waiting for the store's write lock.
    */
  def appendBurst(run: Run, port: Int, ms: Long): Seq[Double] = {
    val tag = UUID.randomUUID().toString.take(8)
    val deadline = System.nanoTime() + ms * 1000000L
    val lat = new java.util.concurrent.ConcurrentLinkedQueue[Double]()
    val threads = (0 until 3).map { w =>
      val th = new Thread(() => {
        val c = new RespClient(port)
        try {
          var k = 0
          while (System.nanoTime() < deadline) {
            val t0 = System.nanoTime()
            val r = c.callText("EAPPEND", s"burst-$tag-$w-$k", "Probe",
              "EXPECTED_VERSION", "empty")
            lat.add((System.nanoTime() - t0) / 1e6)
            run.check(!Reply.isError(r), s"burst EAPPEND failed: $r")
            k += 1
          }
        } finally c.close()
      })
      th.start(); th
    }
    threads.foreach(_.join())
    import scala.jdk.CollectionConverters._
    lat.asScala.toSeq
  }

  def dirBytes(p: java.nio.file.Path): Long =
    if (!java.nio.file.Files.exists(p)) 0L
    else {
      val s = java.nio.file.Files.walk(p)
      try s.filter(java.nio.file.Files.isRegularFile(_))
        .mapToLong(java.nio.file.Files.size(_)).sum()
      finally s.close()
    }

  def eventFiles(root: String): Int = {
    val p = java.nio.file.Paths.get(root, "events")
    if (!java.nio.file.Files.exists(p)) 0
    else {
      val s = java.nio.file.Files.walk(p)
      try s.filter(f => f.getFileName.toString.endsWith(".parquet")).count().toInt
      finally s.close()
    }
  }

  def manifestBytes(root: String): Long =
    Manifest.newestVersion(root).map(v =>
      java.nio.file.Files.size(Manifest.dirFor(root).resolve(s"v$v.json"))).getOrElse(0L)

  def headLayers(es: EventStore): Int = {
    val m = es.manifest
    (if (m.streamHeads.nonEmpty) 1 else 0) + m.headsDeltas.size + (if (m.headsBase > 0) 1 else 0)
  }

  /** `Manifest.commit` and `Manifest.load` of the store's current
    * state, on a scratch root.
    */
  def manifestTimes(run: Run, es: EventStore, n: Int): (Seq[Double], Seq[Double]) = {
    val root = run.dir(s"manifest-probe-${UUID.randomUUID()}")
    val st = es.manifest
    val commits = (1 to n).map { k =>
      val t0 = System.nanoTime()
      Manifest.commit(root, st.copy(version = k.toLong))
      (System.nanoTime() - t0) / 1e6
    }
    val loads = (1 to n).map { _ =>
      val t0 = System.nanoTime()
      Manifest.load(root)
      (System.nanoTime() - t0) / 1e6
    }
    graft.core.Fs.deleteRecursively(new java.io.File(root))
    (commits, loads)
  }

  /** Per-layer figures every served workload reports: depth replays,
    * storage and store probes, compaction last (it rewrites the log).
    */
  def store(run: Run, es: EventStore, root: String, port: Int, targets: ReadTargets,
      ingestMs: Seq[Double], ingestWindows: Seq[(Long, Long)],
      concurrentAppendP50: Option[Double]): Map[String, Double] = {
    val n = 6
    val reads = Layers.readDepths(run, es, port, targets, n)
    val appends = Layers.appendDepths(run, es, port, n)
    val m = (reads ++ appends).map { case (k, v) => k -> Stats.median(v) }
    val queueBase = concurrentAppendP50.getOrElse(
      Stats.median(Layers.appendBurst(run, port, 2000)))
    val (commits, loads) = Layers.manifestTimes(run, es, 20)
    val opens = (0 until 3).map { _ =>
      val t0 = System.nanoTime()
      EventStore.open(run.spark, root, run.numPartitions)
      (System.nanoTime() - t0) / 1e6
    }
    val cache = new Commands(es).info("CACHE")
    val filesBefore = Layers.eventFiles(root)
    val t0 = System.nanoTime()
    es.compact()
    val compactMs = (System.nanoTime() - t0) / 1e6
    Map(
      "server.self_ms_p50" -> (m("resp.ESVER") - m("commands.ESVER")),
      "commands.self_ms_p50" -> (m("commands.ESVER") - m("store.ESVER")),
      "store.append_ms_p50" -> m("store.EAPPEND"),
      "store.append_queue_ms_p50" -> (queueBase - m("resp.EAPPEND")),
      "store.eget_ms_p50" -> m("store.EGET"),
      "store.escan_ms_p50" -> m("store.ESCAN"),
      "store.esver_ms_p50" -> m("store.ESVER_COLD"),
      "store.epscan_ms_p50" -> m("store.EPSCAN"),
      "store.eget_cache_hit_ratio" -> cache("hit_ratio").asInstanceOf[Double],
      "store.eget_cache_evictions" -> cache("evictions").asInstanceOf[Long].toDouble,
      "store.ingest_ms_per_batch" -> Stats.median(ingestMs),
      "store.ingest_jobs_per_batch" -> Layers.jobsPerWindow(run, ingestWindows),
      "store.open_ms" -> Stats.median(opens),
      "store.compact_ms" -> compactMs,
      "store.compact_files_before" -> filesBefore.toDouble,
      "store.compact_files_after" -> Layers.eventFiles(root).toDouble,
      "store.compact_bytes_rewritten" -> Layers.dirBytes(java.nio.file.Paths.get(root, "events")).toDouble,
      "storage.manifest_commit_ms_p50" -> Stats.median(commits),
      "storage.manifest_load_ms_p50" -> Stats.median(loads),
      "storage.head_layers" -> Layers.headLayers(es).toDouble)
  }

  /** The curation layer on a small generated corpus: seed a GenIndex
    * with the first half of the documents, probe the rest in one batch
    * with the pruned minhash probe, compact the index, and
    * check the pairs against the batch incremental reference.
    */
  def curation(run: Run): Map[String, Double] = {
    val spark = run.spark
    import spark.implicits._
    val docs = Gen.Docs(run.seed, 100)
    val all = docs.texts.toSeq.zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("id", "text")
    val root = run.dir("curation-probe-index")
    GenIndex.init(root)(dir => StreamingDedup.seedMinhashIndexPruned(
      all.where(col("id") < 50), "text", "id", dir, parts = 16))
    val got = collection.mutable.Set.empty[(Long, Long, Double)]
    val probeMs = Seq((50, 100)).map { case (lo, hi) =>
      val batch = all.where(col("id") >= lo && col("id") < hi)
      val t0 = System.nanoTime()
      StreamingDedup.minhashProbeBatchPruned(batch, "text", "id", GenIndex.currentGen(root),
          all, parts = 16)
        .collect().foreach(r => got += ((r.getLong(0), r.getLong(1), r.getDouble(2))))
      (System.nanoTime() - t0) / 1e6
    }
    val g0 = System.nanoTime()
    GenIndex.compact(spark, root, Seq("pfx"), targetFiles = 4, partitionCols = Seq("pfx"))
    val compactMs = (System.nanoTime() - g0) / 1e6
    val want = Dedup.minhashLshIncremental(all, "text", "id", col("id") >= 50)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    run.check(got.toSet == want, s"curation probe found ${got.size} pairs, reference ${want.size}")
    Map("ops.dedup.probe_ms_p50" -> Stats.median(probeMs),
      "ops.dedup.pairs" -> got.size.toDouble, "ops.genindex.compact_ms" -> compactMs)
  }

  /** Spark counters per op of a measured phase. */
  def sparkPerOp(w: SparkProbe.Window, ops: Long, rowsOut: Long, wallMs: Double,
      cores: Int): Map[String, Double] = {
    val o = ops.max(1).toDouble
    Map(
      "spark.jobs_per_op" -> w.jobs.size / o,
      "spark.tasks_per_op" -> w.stages.map(_.tasks).sum / o,
      "spark.job_ms_per_op" -> w.jobs.map(j => (j.end - j.start) / 1e6).sum / o,
      "spark.plan_ms_per_op" -> w.plans.map(_.planMs).sum / o,
      "plans.graft_rule_ms_per_op" -> w.plans.map(_.graftRuleNs).sum / 1e6 / o,
      "spark.records_read_per_row_returned" ->
        w.stages.map(_.recordsRead).sum.toDouble / rowsOut.max(1),
      "spark.bytes_read_per_op" -> w.stages.map(_.bytesRead).sum / o,
      "spark.executor_busy_share" -> w.allStages.map(_.runMs).sum / (wallMs * cores),
      "spark.shuffle_write_bytes" -> w.allStages.map(_.shuffleWrite).sum.toDouble,
      "streaming.batches" -> w.batches.size.toDouble,
      "streaming.rows_per_batch" ->
        (if (w.batches.isEmpty) 0.0 else w.batches.map(_.rows).sum.toDouble / w.batches.size),
      "streaming.trigger_ms_p50" -> med(w.batches.map(_.triggerMs.toDouble)),
      "streaming.latest_offset_ms_p50" -> med(w.batches.map(_.latestOffsetMs.toDouble)),
      "streaming.overhead_ms_p50" -> med(w.batches.map(b => (b.triggerMs - b.addBatchMs).toDouble)),
      "streaming.jobs_per_batch" ->
        (if (w.batches.isEmpty) 0.0 else w.streamingJobs.size.toDouble / w.batches.size))
  }

  /** Median count of non-streaming Spark jobs ending in each window. */
  def jobsPerWindow(run: Run, ws: Seq[(Long, Long)]): Double = run.probe match {
    case Some(p) => med(ws.map { case (a, b) => p.window(a, b).jobs.size.toDouble })
    case None => 0.0
  }

  /** Median, or 0 for a layer that did no work in this workload. */
  def med(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else Stats.median(xs)
}
