package perfbench

import java.nio.charset.StandardCharsets.UTF_8

import scala.jdk.CollectionConverters._

import graft.api.EventStore
import graft.core.Ids
import graft.ops.Dedup
import graft.streaming.{GenIndex, StreamingDedup, Subscriptions}
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions.col

/** `ingest_curate`: a batch pipeline through the API, in process —
  * `EventStore.ingest` of an sf0.1-shaped log plus one stream per
  * document in 10 batches into an empty store, `compact()`, then a
  * curation consumer on `Subscriptions.subscribe` (all partitions,
  * from 0, WINDOW-bounded batches) running the pruned minhash probe
  * over each batch's documents against a `GenIndex` seeded with the
  * first fifth of the documents, compacting the index every second
  * batch.
  */
final class IngestCurate(run: Run) extends Workload {
  import IngestCurate._

  private val spark = run.spark
  import spark.implicits._

  val ev = Gen.Events(run.seed, Events, Streams, zipfStreams = false)
  val docs = Gen.Docs(run.seed, Docs)
  private lazy val layout = new Gen.Layout(ev, run.numPartitions)
  private var docsDf: DataFrame = _
  private var indexRoots = List.empty[String]
  private var phaseNo = 0
  /** curation pairs of every measured phase, checked in verify() */
  private var pairsByPhase = Vector.empty[Set[(Long, Long, Double)]]
  private var lastPipeline: Pipeline = _

  def setup(): Unit = {
    docsDf = docs.texts.toSeq.zipWithIndex.map { case (t, i) => (i.toLong, t) }
      .toDF("id", "text").persist()
    docsDf.count()
    // warm-up: the same pipeline on a small log, so the measured one
    // runs compiled code
    pipeline(Gen.Events(run.seed + 1, 2000, 100, zipfStreams = false), 40, seedCut = 12,
      batches = 1, window = 4000, tag = "warm", indexRoot = seedIndex("warm", 12), checked = false)
    (0 until 3).foreach(r => indexRoots :+= run.readyStep(seedIndex(s"r$r", SeedCut)))
  }

  /** A GenIndex holding the documents below `cut`. */
  private def seedIndex(tag: String, cut: Int): String = {
    val root = run.dir(s"index-$tag")
    GenIndex.init(root) { dir =>
      StreamingDedup.seedMinhashIndexPruned(docsDf.where(col("id") < cut), "text", "id",
        dir, parts = Parts)
    }
    root
  }

  private def docRows(lo: Int, hi: Int, base: Long): Seq[Row] =
    (lo until hi).map(d => Row(docs.streamId(d), "Document", docs.texts(d).getBytes(UTF_8),
      "{}".getBytes(UTF_8), 1704067200000L + d, base + d))

  final class Pipeline(val ingestMs: Seq[Double], val compactMs: Double,
      val curateMs: Double, val curateBatches: Int, val probeMs: Seq[Double],
      val indexCompactMs: Seq[Double], val pairs: Set[(Long, Long, Double)],
      val docsCurated: Int, val store: EventStore, val root: String,
      val ingestWindows: Seq[(Long, Long)], val filesBeforeCompact: Int)

  private def pipeline(e: Gen.Events, nDocs: Int, seedCut: Int, batches: Int, window: Int,
      tag: String, indexRoot: String, checked: Boolean): Pipeline = {
    val root = run.dir(s"store-$tag")
    val es = EventStore.open(spark, root, run.numPartitions)
    val windows = collection.mutable.ArrayBuffer.empty[(Long, Long)]
    val ingestMs = (0 until batches).map { b =>
      val (lo, hi) = (b * e.n / batches, (b + 1) * e.n / batches)
      val (dlo, dhi) = (b * nDocs / batches, (b + 1) * nDocs / batches)
      val docPart = spark.createDataFrame(
        spark.sparkContext.parallelize(docRows(dlo, dhi, e.n.toLong), 1), Served.InputSchema)
      val input = Served.eventsDf(spark, e, lo, hi).union(docPart)
      val t0 = System.nanoTime()
      es.ingest(input, "arrival")
      val t1 = System.nanoTime()
      windows += (t0 -> t1)
      (t1 - t0) / 1e6
    }
    if (checked) checkStore(es, "after ingest")
    val filesBefore = Layers.eventFiles(root)
    val c0 = System.nanoTime()
    es.compact()
    val c1 = System.nanoTime()
    if (checked) checkStore(es, "after compact")

    val probeMs = collection.mutable.ArrayBuffer.empty[Double]
    val indexCompactMs = collection.mutable.ArrayBuffer.empty[Double]
    val pairs = collection.mutable.Set.empty[(Long, Long, Double)]
    var curated = 0
    var nBatches = 0
    val ck = run.dir(s"ck-$tag")
    val u0 = System.nanoTime()
    val sub = Subscriptions.subscribe(es, Subscriptions.Matcher(allPartitions = true),
      Subscriptions.From.Value(0), window)
    val q = Subscriptions.deliver(sub, ck, byStream = false) { rows =>
      val batchDocs = rows.flatMap { r =>
        val sid = r.getAs[String]("stream_id")
        if (!sid.startsWith("doc-")) None
        else {
          val id = sid.stripPrefix("doc-").toLong
          if (id < seedCut) None
          else Some(id -> new String(r.getAs[Array[Byte]]("payload"), UTF_8))
        }
      }
      nBatches += 1
      if (batchDocs.nonEmpty) {
        val t0 = System.nanoTime()
        StreamingDedup.minhashProbeBatchPruned(batchDocs.toDF("id", "text"), "text", "id",
            GenIndex.currentGen(indexRoot), docsDf, parts = Parts)
          .collect().foreach(r => pairs += ((r.getLong(0), r.getLong(1), r.getDouble(2))))
        probeMs += (System.nanoTime() - t0) / 1e6
        curated += batchDocs.size
        if (probeMs.size % 2 == 0) {
          val g0 = System.nanoTime()
          GenIndex.compact(spark, indexRoot, Seq("pfx"), targetFiles = 4,
            partitionCols = Seq("pfx"))
          indexCompactMs += (System.nanoTime() - g0) / 1e6
        }
      }
    }
    try q.processAllAvailable() finally q.stop()
    val curateMs = (System.nanoTime() - u0) / 1e6
    new Pipeline(ingestMs, (c1 - c0) / 1e6, curateMs, nBatches, probeMs.toSeq,
      indexCompactMs.toSeq, pairs.toSet, curated, es, root, windows.toSeq, filesBefore)
  }

  /** Watermarks, heads and every stored event against the generator. */
  private def checkStore(es: EventStore, when: String): Unit = {
    val np = run.numPartitions
    // expected placement: batch by batch, events then documents, in
    // arrival order within each partition
    val seq = Array.fill(np)(-1L)
    val want = collection.mutable.Map.empty[(String, Long), (Int, Long, Array[Byte])]
    (0 until Batches).foreach { b =>
      (b * ev.n / Batches until (b + 1) * ev.n / Batches).foreach { i =>
        val s = layout.streamOfEvent(i)
        val p = layout.pidOfStream(s)
        seq(p) += 1
        want((ev.streamId(s), layout.versionOf(i).toLong)) = (p, seq(p), ev.payload(i))
      }
      (b * docs.n / Batches until (b + 1) * docs.n / Batches).foreach { d =>
        val p = Ids.partitionIdForStream(docs.streamId(d), np)
        seq(p) += 1
        want((docs.streamId(d), 0L)) = (p, seq(p), docs.texts(d).getBytes(UTF_8))
      }
    }
    val wm = es.manifest.watermarks
    (0 until np).foreach(p =>
      run.check(wm.getOrElse(p, -1L) == seq(p), s"$when: watermark of partition $p is ${wm.get(p)}, expected ${seq(p)}"))
    val heads = es.streamHeadEntries.map { case (sid, pk, v) => (sid, pk) -> v }.toMap
    val wantHeads = want.keys.groupBy(_._1).map { case (sid, ks) =>
      (sid, Ids.partitionKeyForStream(sid).toString) -> ks.map(_._2).max
    }
    run.check(heads == wantHeads, s"$when: stream heads differ (${heads.size} vs ${wantHeads.size})")
    var sumGot = 0L
    var rows = 0
    es.events().select("stream_id", "stream_version", "partition_id", "partition_sequence", "payload")
      .collect().foreach { r =>
        rows += 1
        val key = (r.getString(0), r.getLong(1))
        sumGot += rowSum(key._1, key._2, r.getInt(2), r.getLong(3), r.getAs[Array[Byte]](4))
        want.get(key) match {
          case Some((p, s, pay)) =>
            run.check(r.getInt(2) == p && r.getLong(3) == s && java.util.Arrays.equals(pay, r.getAs[Array[Byte]](4)),
              s"$when: event $key stored at ${r.getInt(2)}/${r.getLong(3)}, expected $p/$s")
          case None => run.mismatch(s"$when: unexpected event $key")
        }
      }
    val sumWant = want.iterator.map { case ((sid, v), (p, s, pay)) => rowSum(sid, v, p, s, pay) }.sum
    run.check(rows == want.size && sumGot == sumWant,
      s"$when: event checksum differs ($rows rows, expected ${want.size})")
  }

  private def rowSum(sid: String, v: Long, p: Int, s: Long, payload: Array[Byte]): Long = {
    val crc = new java.util.zip.CRC32()
    crc.update(s"$sid|$v|$p|$s|".getBytes(UTF_8))
    crc.update(payload)
    crc.getValue
  }

  def nextRoot: String = run.work.resolve(s"store-p${phaseNo + 1}").toString

  def measure(seconds: Double): Phase = {
    phaseNo += 1
    val t0 = System.nanoTime()
    val p = pipeline(ev, docs.n, SeedCut, Batches, Window, s"p$phaseNo", indexRoots(phaseNo - 1),
      checked = true)
    val t1 = System.nanoTime()
    run.attempted.addAndGet(Batches + 1 + p.curateBatches)
    pairsByPhase :+= p.pairs
    lastPipeline = p
    val total = ev.n + docs.n
    val busyS = (p.ingestMs.sum + p.compactMs + p.curateMs) / 1000.0
    Phase(p.ingestMs, p.ingestWindows.map(_._1), total / busyS, Batches + 1L + p.curateBatches, t0, t1, Seq(
      "ingest_events_per_s" -> total / (p.ingestMs.sum / 1000.0),
      "ingest_batch_p50_ms" -> Stats.median(p.ingestMs),
      "compact_s" -> p.compactMs / 1000.0,
      "curate_docs_per_s" -> p.docsCurated / (p.curateMs / 1000.0),
      "curate_batches" -> p.curateBatches,
      "curation_pairs" -> p.pairs.size,
      "rows_out" -> (total + p.docsCurated),
      "user_bytes" -> userBytes))
  }

  private lazy val userBytes: Long =
    (0 until ev.n).map(i => ev.payload(i).length + ev.metadata(i).length.toLong).sum +
      docs.texts.map(_.getBytes(UTF_8).length + 2L).sum

  def verify(): Unit = {
    // the reference: the batch incremental minhash answer over the
    // whole corpus, which the pruned streaming probe must equal for
    // any division into batches
    val want = Dedup.minhashLshIncremental(docsDf, "text", "id", col("id") >= SeedCut)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    run.check(want.nonEmpty, "generated documents produced no duplicate pairs")
    pairsByPhase.zipWithIndex.foreach { case (got, i) =>
      run.check(got == want,
        s"phase ${i + 1}: curation found ${got.size} pairs, reference ${want.size} " +
          s"(${(want -- got).size} missing, ${(got -- want).size} extra)")
    }
  }

  def layers(traced: Phase): Map[String, Double] = {
    val p = lastPipeline
    val filesAfter = Layers.eventFiles(p.root).toDouble
    val bytesAfter = Layers.dirBytes(java.nio.file.Paths.get(p.root, "events")).toDouble
    val server = new graft.server.RespServer(p.store).start()
    val common =
      try {
        val ids = p.store.events().select("event_id").limit(100).collect()
          .map(_.getString(0)).toIndexedSeq
        Layers.store(run, p.store, p.root, server.localPort,
          Layers.ReadTargets(ids, (0 until 40).map(s => ev.streamId(s * 37 % Streams)),
            0 until run.numPartitions, (0 until 40).map(s => ev.streamId((s * 37 + 1) % Streams))),
          p.ingestMs, p.ingestWindows, None)
      } finally server.stop()
    // the pipeline's own ingest and compaction, not the probe's
    common ++ Map(
      "store.compact_ms" -> p.compactMs,
      "store.compact_files_before" -> p.filesBeforeCompact.toDouble,
      "store.compact_files_after" -> filesAfter,
      "store.compact_bytes_rewritten" -> bytesAfter,
      "ops.dedup.probe_ms_p50" -> Layers.med(p.probeMs),
      "ops.dedup.pairs" -> p.pairs.size.toDouble,
      "ops.genindex.compact_ms" -> Layers.med(p.indexCompactMs))
  }

  def close(): Unit = if (docsDf != null) docsDf.unpersist()
}

object IngestCurate {
  val Events = 30000
  val Streams = 1500
  val Docs = 600
  val SeedCut = Docs / 5
  val Batches = 10
  val Window = 16000
  val Parts = 16
}
