package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

import graft.server.Resp._

/** `read_mix`: a closed loop of 2 read-only connections — EGET 40 %,
  * ESCAN 30 % (random start, COUNT 100), ESVER 15 %, EPSCAN 10 %,
  * EPSEQ 5 % — with Zipf(1) keys over events and streams, on a store
  * with more streams than the 100k inline-head bound, so heads spill
  * to the parquet head LSM and ESVER goes through `HeadProbe`.
  */
final class ReadMix(run: Run) extends Served(run) {
  import ReadMix._

  val ev = Gen.Events(run.seed, Events, Streams, zipfStreams = true)
  private lazy val layout = new Gen.Layout(ev, run.numPartitions)
  private val eventZipf = new Gen.Zipf(Events, 1.0)
  private val streamZipf = new Gen.Zipf(Streams, 1.0)
  private var eventIds: Array[String] = _
  /** Two, not four: at four the readers' Spark jobs saturate the four
    * cores, latency rises with queueing alone, and the host's noise
    * swings it by a fifth from run to run; at two each op still
    * overlaps another's job and the cores keep headroom.
    */
  private val clients = 2

  def setup(): Unit = {
    preload(ev, 1)
    eventIds = new Array[String](ev.n)
    es.events().select("payload", "event_id").collect().foreach { r =>
      eventIds(genIndex(r.getAs[Array[Byte]](0))) = r.getString(1)
    }
    run.check(!eventIds.contains(null), "preloaded log is missing generated events")
    (0 until 3).foreach(rep => run.readyStep {
      openAndServe()
      val c = new RespClient(port)
      try {
        val rng = new java.util.SplittableRandom(Gen.mix64(run.seed ^ (0xAB + rep)))
        Seq("EGET", "ESCAN", "ESVER", "EPSCAN", "EPSEQ").foreach(k => execute(c, opOf(k, rng)))
      } finally c.close()
    })
    warmCache()
  }

  /** Untimed, at the end of set-up: fill the EGET cache with the
    * hottest event ranks, as a long-running server's cache would hold
    * them. Started cold, the hit ratio climbs through a run (about 16 %
    * in its first half, 26 % in its second) and drags the op median
    * with it; with the top 64 ranks in place it holds near 39 %. A
    * count, not a time, so a slow host starts no colder than a fast one.
    */
  private def warmCache(): Unit =
    (0 until 4).map { ci =>
      val th = new Thread(() => {
        val c = new RespClient(port)
        try (ci until WarmHotEvents by 4).foreach(r =>
          execute(c, Op("EGET", Gen.permute(r, Events, run.seed), 0)))
        finally c.close()
      }, s"perfbench-warm-$ci")
      th.start(); th
    }.foreach(_.join())

  private def genIndex(payload: Array[Byte]): Int = {
    val s = new String(payload, "UTF-8")
    s.substring(5, s.indexOf(',')).toInt // {"g":<index>,...
  }

  private def opOf(kind: String, rng: java.util.SplittableRandom): Op = kind match {
    case "EGET" => Op(kind, Gen.permute(eventZipf.rank(rng.nextDouble()), Events, run.seed), 0)
    case "ESCAN" =>
      val s = streamZipf.rank(rng.nextDouble())
      Op(kind, s, rng.nextInt(layout.streamEvents(s).length))
    case "ESVER" => Op(kind, streamZipf.rank(rng.nextDouble()), 0)
    case "EPSCAN" =>
      val p = rng.nextInt(run.numPartitions)
      Op(kind, p, rng.nextInt(layout.partEvents(p).length))
    case "EPSEQ" => Op(kind, rng.nextInt(run.numPartitions), 0)
  }

  /** Ops in shuffled blocks of 20 holding the mix exactly, so every
    * run sees the same proportions.
    */
  private def opStream(rng: java.util.SplittableRandom): Iterator[Op] =
    Iterator.continually {
      val block = new scala.util.Random(rng.nextLong()).shuffle(MixBlock)
      block.map(opOf(_, rng))
    }.flatten

  private def args(op: Op): Seq[String] = op.kind match {
    case "EGET" => Seq("EGET", eventIds(op.key))
    case "ESCAN" => Seq("ESCAN", ev.streamId(op.key), op.start.toString, "+", "COUNT", "100")
    case "ESVER" => Seq("ESVER", ev.streamId(op.key))
    case "EPSCAN" => Seq("EPSCAN", op.key.toString, op.start.toString, "+", "COUNT", "100")
    case "EPSEQ" => Seq("EPSEQ", op.key.toString)
  }

  /** Send `op`, check the reply against the generated log; returns
    * the rows returned, or -1 if the op failed.
    */
  private def execute(c: RespClient, op: Op): Int = {
    run.attempted.incrementAndGet()
    val r = try c.callText(args(op): _*) catch { case e: Exception => SimpleErr(e.toString) }
    if (Reply.isError(r)) {
      run.failed.incrementAndGet()
      run.mismatch(s"$op failed: $r")
      return -1
    }
    def checkEvent(f: Map[String, Frame], g: Int, what: String): Unit = {
      val s = layout.streamOfEvent(g)
      run.check(Reply.text(f("stream_id")) == ev.streamId(s) &&
        Reply.num(f("stream_version")) == layout.versionOf(g) &&
        Reply.text(f("event_name")) == ev.name(g) &&
        Reply.num(f("partition_id")) == layout.pidOfStream(s) &&
        java.util.Arrays.equals(Reply.bytes(f("payload")), ev.payload(g)),
        s"$what: reply differs from generated event $g")
    }
    def checkPage(want: Array[Int], seqField: String): Int = {
      val f = Reply.fields(r)
      val got = f("events") match {
        case ArrayF(items) => items.map(Reply.fields)
        case other => sys.error(s"$op: no events in $other")
      }
      val page = want.slice(op.start, op.start + 100)
      run.check(got.size == page.length, s"$op returned ${got.size} events, expected ${page.length}")
      got.zip(page).zipWithIndex.foreach { case ((e, g), j) =>
        checkEvent(e, g, s"$op row $j")
        run.check(Reply.num(e(seqField)) == op.start + j, s"$op row $j out of order")
      }
      run.check(f("has_more") == Bool(op.start + 100 < want.length), s"$op has_more wrong")
      got.size
    }
    op.kind match {
      case "EGET" =>
        if (r == NullF) { run.mismatch(s"$op: event not found"); 0 }
        else {
          val f = Reply.fields(r)
          checkEvent(f, op.key, op.toString)
          run.check(Reply.text(f("event_id")) == eventIds(op.key), s"$op: wrong event id")
          1
        }
      case "ESCAN" => checkPage(layout.streamEvents(op.key), "stream_version")
      case "EPSCAN" =>
        val page = layout.partEvents(op.key)
        checkPage(page, "partition_sequence")
      case "ESVER" =>
        run.check(Reply.optNum(r).contains(layout.streamEvents(op.key).length - 1L),
          s"$op = $r")
        1
      case "EPSEQ" =>
        run.check(Reply.optNum(r).contains(layout.partEvents(op.key).length - 1L),
          s"$op = $r")
        1
    }
  }

  private var phaseNo = 0

  def measure(seconds: Double): Phase = {
    phaseNo += 1
    val deadline = System.nanoTime() + (seconds * 1e9).toLong
    val lat = new ConcurrentLinkedQueue[(String, Long, Double)]()
    val rows = new AtomicLong
    val t0 = System.nanoTime()
    val threads = (0 until clients).map { ci =>
      val th = new Thread(() => {
        val c = new RespClient(port)
        val rng = new java.util.SplittableRandom(Gen.mix64(run.seed * 131 + ci * 17 + phaseNo))
        val ops = opStream(rng)
        try while (System.nanoTime() < deadline) {
          val op = ops.next()
          val spanId = run.tracer.nextId()
          val start = System.nanoTime()
          val (n, ms) = run.tracer.timed(s"resp.${op.kind}", spanId, id = spanId)(execute(c, op))
          lat.add((op.kind, start, ms))
          if (n > 0) rows.addAndGet(n)
        } finally c.close()
      }, s"perfbench-reader-$ci")
      th.start(); th
    }
    threads.foreach(_.join())
    val t1 = System.nanoTime()
    val all = lat.asScala.toSeq
    val opMs = all.map(_._3)
    def kind(k: String) = all.collect { case (`k`, _, ms) => ms }
    val wall = (t1 - t0) / 1e9
    val mid = t0 + (t1 - t0) / 2
    Phase(opMs, all.map(_._2), opMs.size / wall, opMs.size.toLong, t0, t1, Seq(
      "read_p50_ms" -> Stats.median(opMs),
      "read_p50_ms_first_half" -> Stats.median(all.collect { case (_, t, ms) if t < mid => ms }),
      "read_p50_ms_second_half" -> Stats.median(all.collect { case (_, t, ms) if t >= mid => ms }),
      "read_p95_ms" -> Stats.percentile(opMs, 95),
      "reads_per_s" -> opMs.size / wall,
      "read_samples" -> opMs.size,
      "eget_p50_ms" -> Stats.median(kind("EGET")),
      "escan_p50_ms" -> Stats.median(kind("ESCAN")),
      "esver_p50_ms" -> Stats.median(kind("ESVER")),
      "epscan_p50_ms" -> Stats.median(kind("EPSCAN")),
      "epseq_p50_ms" -> Stats.median(kind("EPSEQ")),
      "rows_out" -> rows.get))
  }

  def verify(): Unit = ()

  def readTargets(): Layers.ReadTargets =
    Layers.ReadTargets(
      // the coldest Zipf ranks, so replayed EGETs miss the cache
      (0 until 100).map(r => eventIds(Gen.permute(Events - 1 - r, Events, run.seed))),
      (0 until 40).map(ev.streamId), 0 until run.numPartitions,
      (0 until 40).map(r => ev.streamId(Streams - 1 - r)))

  def layers(traced: Phase): Map[String, Double] = storeLayers(None)
}

object ReadMix {
  val Events = 120000
  val Streams = 102000
  val WarmHotEvents = 64
  final case class Op(kind: String, key: Int, start: Int)
  val MixBlock: Seq[String] = Seq.fill(8)("EGET") ++ Seq.fill(6)("ESCAN") ++
    Seq.fill(3)("ESVER") ++ Seq.fill(2)("EPSCAN") ++ Seq("EPSEQ")
}
