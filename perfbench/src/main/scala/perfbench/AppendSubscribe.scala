package perfbench

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

import graft.core.Ids
import graft.server.Resp._

/** `append_subscribe`: a closed loop of 3 writer connections and 1
  * `EPSUB * FROM LATEST` subscriber on a store preloaded with an
  * sf0.1-shaped log (1,500 streams, so heads stay inline). Writers own
  * disjoint streams and alternate EAPPEND with a 4-event EMAPPEND over
  * two of their streams under one partition key, always at the exact
  * expected version they have tallied.
  */
final class AppendSubscribe(run: Run) extends Served(run) {
  import AppendSubscribe._

  val ev = Gen.Events(run.seed, PreloadEvents, Streams, zipfStreams = false)
  private lazy val layout = new Gen.Layout(ev, run.numPartitions)
  private val writers = 3

  /** per writer: (partition key, stream) -> tallied version */
  private val tallies = Array.fill(writers)(collection.mutable.Map.empty[(String, String), Long])
  private val appendedPerPid = Array.fill(run.numPartitions)(new AtomicLong)
  /** events acknowledged since the live subscription started: key -> (pid, seq) */
  private val acked = new ConcurrentHashMap[String, (Int, Long)]()
  private var sub: Subscriber = _
  private var phaseNo = 0

  private def defaultPk(s: Int) = Ids.partitionKeyForStream(ev.streamId(s)).toString
  private def owned(w: Int): IndexedSeq[Int] = (w until Streams by writers)
  private def tally(w: Int, pk: String, sid: String): Long =
    tallies(w).getOrElseUpdate((pk, sid), {
      val s = sid.stripPrefix("u").toInt
      if (pk == defaultPk(s)) layout.streamEvents(s).length - 1L else -1L
    })
  private def expected(v: Long) = if (v < 0) "empty" else v.toString

  def setup(): Unit = {
    preload(ev, 1)
    (0 until 3).foreach(_ => run.readyStep { openAndServe(); warmAppends(1) })
    acked.clear() // appended before the subscription existed
    sub = new Subscriber(port)
    warmAppends(2)
    sub.awaitDelivered(acked.keySet.asScala.toSet, 60000)
  }

  /** `n` appends per writer; from the subscription on, they must be
    * delivered like any other.
    */
  private def warmAppends(n: Int): Unit = {
    val c = new RespClient(port)
    try for (w <- 0 until writers; k <- 0 until n) {
      val rng = new java.util.SplittableRandom(Gen.mix64(run.seed ^ (0x5EED + w)) + k)
      appendOnce(w, c, rng, s"warm$w.$k.${System.nanoTime()}", single = k == 0)
    } finally c.close()
  }

  /** One EAPPEND or EMAPPEND by writer `w`; returns (events, ok,
    * payload bytes).
    */
  private def appendOnce(w: Int, c: RespClient, rng: java.util.SplittableRandom,
      op: String, single: Boolean): (Int, Boolean, Long) = {
    val own = owned(w)
    val t = System.nanoTime()
    def payload(j: Int) = s"t=$t;op=$op;j=$j;w=$w"
    // (stream, pk, version) per event, in command order
    val plan =
      if (single) {
        val s = own(rng.nextInt(own.size))
        val pk = defaultPk(s)
        Seq((ev.streamId(s), pk, tally(w, pk, ev.streamId(s))))
      } else {
        val a = own(rng.nextInt(own.size))
        var b = own(rng.nextInt(own.size))
        if (b == a) b = own((own.indexOf(a) + 1) % own.size)
        val pk = defaultPk(a)
        val (sa, sb) = (ev.streamId(a), ev.streamId(b))
        val (va, vb) = (tally(w, pk, sa), tally(w, pk, sb))
        Seq((sa, pk, va), (sa, pk, va + 1), (sb, pk, vb), (sb, pk, vb + 1))
      }
    val args =
      if (single) {
        val (sid, _, v) = plan.head
        Seq("EAPPEND", sid, ev.name(rng.nextInt(ev.n)), "EXPECTED_VERSION", expected(v),
          "PAYLOAD", payload(0))
      } else
        Seq("EMAPPEND", plan.head._2) ++ plan.zipWithIndex.flatMap { case ((sid, _, v), j) =>
          Seq(sid, "Pair", "EXPECTED_VERSION", expected(v), "PAYLOAD", payload(j))
        }
    val reply = try c.callText(args: _*) catch {
      case e: Exception => SimpleErr(e.toString)
    }
    run.attempted.incrementAndGet()
    if (Reply.isError(reply)) {
      run.failed.incrementAndGet()
      run.mismatch(s"writer $w ${args.head} rejected: $reply")
      return (plan.size, false, 0L)
    }
    val pid = Ids.partitionIdFor(Ids.partitionHash(java.util.UUID.fromString(plan.head._2)),
      run.numPartitions)
    val f = Reply.fields(reply)
    val got: Seq[(Long, Long)] =
      if (single) Seq(Reply.num(f("partition_sequence")) -> Reply.num(f("stream_version")))
      else f("events") match {
        case ArrayF(items) => items.map { e =>
          val m = Reply.fields(e)
          Reply.num(m("partition_sequence")) -> Reply.num(m("stream_version"))
        }
        case other => sys.error(s"EMAPPEND reply without events: $other")
      }
    run.check(Reply.num(f("partition_id")) == pid, s"$op landed in the wrong partition")
    run.check(got.size == plan.size, s"$op acknowledged ${got.size} of ${plan.size} events")
    plan.zip(got).zipWithIndex.foreach { case (((sid, pk, v), (seq, ver)), j) =>
      run.check(ver == v + 1, s"$op event $j got version $ver, expected ${v + 1}")
      tallies(w)((pk, sid)) = ver
      acked.put(s"$op:$j", (pid, seq))
    }
    appendedPerPid(pid).addAndGet(plan.size)
    (plan.size, true, plan.indices.map(payload(_).length.toLong).sum)
  }

  def measure(seconds: Double): Phase = {
    phaseNo += 1
    val deadline = System.nanoTime() + (seconds * 1e9).toLong
    val lat = new ConcurrentLinkedQueue[(Long, Double)]()
    val events = new AtomicLong
    val userBytes = new AtomicLong
    val t0 = System.nanoTime()
    val threads = (0 until writers).map { w =>
      val th = new Thread(() => {
        val c = new RespClient(port)
        val rng = new java.util.SplittableRandom(Gen.mix64(run.seed * 31 + w * 7 + phaseNo))
        try {
          var k = 0
          while (System.nanoTime() < deadline) {
            val spanId = run.tracer.nextId()
            val start = System.nanoTime()
            val ((n, ok, bytes), ms) = run.tracer.timed(if (k % 2 == 0) "resp.EAPPEND" else "resp.EMAPPEND",
                spanId, id = spanId) {
              appendOnce(w, c, rng, s"p$phaseNo.w$w.$k", single = k % 2 == 0)
            }
            lat.add(start -> ms)
            if (ok) { events.addAndGet(n); userBytes.addAndGet(bytes) }
            k += 1
          }
        } finally c.close()
      }, s"perfbench-writer-$w")
      th.start(); th
    }
    threads.foreach(_.join())
    val t1 = System.nanoTime()
    sub.awaitDelivered(acked.keySet.asScala.toSet, 60000)
    val lags = sub.lagsBetween(t0, t1)
    val timed = lat.asScala.toSeq
    val opMs = timed.map(_._2)
    val mid = t0 + (t1 - t0) / 2
    val wall = (t1 - t0) / 1e9
    Phase(opMs, timed.map(_._1), events.get / wall, opMs.size.toLong, t0, t1, Seq(
      "append_p50_ms" -> Stats.median(opMs),
      "append_p95_ms" -> Stats.percentile(opMs, 95),
      "append_events_per_s" -> events.get / wall,
      "append_samples" -> opMs.size,
      "append_p50_ms_first_half" -> Stats.median(timed.collect { case (t, ms) if t < mid => ms }),
      "append_p50_ms_second_half" -> Stats.median(timed.collect { case (t, ms) if t >= mid => ms }),
      "deliver_lag_p50_ms" -> Stats.median(lags),
      "deliver_lag_p95_ms" -> Stats.percentile(lags, 95),
      "deliver_lag_samples" -> lags.size,
      "rows_out" -> events.get,
      "user_bytes" -> userBytes.get))
  }

  def verify(): Unit = {
    val want = acked.asScala.toMap
    sub.awaitDelivered(want.keySet, 60000)
    val got = sub.deliveredMap
    run.check(sub.duplicates.get == 0, s"${sub.duplicates.get} events delivered twice")
    run.check(sub.orderViolations.get == 0,
      s"${sub.orderViolations.get} events delivered out of partition-sequence order")
    val missing = want.keySet -- got.keySet
    run.check(missing.isEmpty, s"${missing.size} acknowledged events never delivered")
    val wrong = want.count { case (k, v) => got.get(k).exists(_ != v) }
    run.check(wrong == 0, s"$wrong events delivered at another position than acknowledged")
    val c = new RespClient(port)
    try {
      for (w <- 0 until writers; ((pk, sid), v) <- tallies(w)) {
        val r = c.callText("ESVER", sid, "PARTITION_KEY", pk)
        run.check(Reply.optNum(r).contains(v), s"ESVER $sid under $pk = $r, tallied $v")
      }
      (0 until run.numPartitions).foreach { p =>
        val want = layout.partEvents(p).length - 1L + appendedPerPid(p).get
        val r = c.callText("EPSEQ", p.toString)
        run.check(Reply.optNum(r).getOrElse(-1L) == want, s"EPSEQ $p = $r, tallied $want")
      }
    } finally c.close()
  }

  def readTargets(): Layers.ReadTargets = {
    val ids = es.events().select("event_id").limit(100).collect().map(_.getString(0)).toIndexedSeq
    Layers.ReadTargets(ids, (0 until 40).map(s => ev.streamId(s * 37 % Streams)),
      0 until run.numPartitions, (0 until 40).map(s => ev.streamId((s * 37 + 1) % Streams)))
  }

  def layers(traced: Phase): Map[String, Double] =
    storeLayers(Some(Stats.median(traced.opMs)))

  override def close(): Unit = {
    if (sub != null) sub.close()
    super.close()
  }
}

object AppendSubscribe {
  val PreloadEvents = 30000
  val Streams = 1500
  /** FROM LATEST still reads the log from the start in WINDOW-sized
    * micro-batches (about 0.3 s each): at the default window of 1,000 a
    * subscription on the preloaded log takes ~30 s to go live, so the
    * window covers the whole preload.
    */
  val Window = 100000

  /** The `EPSUB * FROM LATEST` connection: records every pushed event,
    * its delivery lag, and acks every 100 events.
    */
  final class Subscriber(port: Int) {
    private val c = new RespClient(port)
    val subId: String = Reply.text(c.callText("EPSUB", "*", "FROM", "LATEST", "WINDOW", Window.toString))
    private val delivered = new ConcurrentHashMap[String, (Int, Long)]()
    private val lags = new ConcurrentLinkedQueue[(Long, Double)]()
    val duplicates = new AtomicLong
    val orderViolations = new AtomicLong
    private val lastSeq = collection.mutable.Map.empty[Int, Long]
    @volatile private var stop = false

    private val thread = new Thread(() => {
      c.sock.setSoTimeout(200)
      var sinceAck = 0
      while (!stop) {
        try c.readFrame() match {
          case PushF(Seq(_, _, Num(cursor), event)) =>
            val now = System.nanoTime()
            onEvent(Reply.fields(event), now)
            sinceAck += 1
            if (sinceAck >= 100) {
              c.send(Seq("EACK", subId, cursor.toString).map(_.getBytes("UTF-8")))
              sinceAck = 0
            }
          case _ => ()
        } catch {
          case _: java.net.SocketTimeoutException => ()
          case _: Exception if stop => ()
        }
      }
    }, "perfbench-subscriber")
    thread.setDaemon(true)
    thread.start()

    private def onEvent(f: Map[String, Frame], now: Long): Unit = {
      val payload = new String(Reply.bytes(f("payload")), "UTF-8")
      if (!payload.startsWith("t=")) return // layer-probe appends
      val kv = payload.split(';').map(_.split('=')).collect { case Array(k, v) => k -> v }.toMap
      val pid = Reply.num(f("partition_id")).toInt
      val seq = Reply.num(f("partition_sequence"))
      if (delivered.put(s"${kv("op")}:${kv("j")}", (pid, seq)) != null) duplicates.incrementAndGet()
      if (lastSeq.get(pid).exists(_ >= seq)) orderViolations.incrementAndGet()
      lastSeq(pid) = seq
      val t = kv("t").toLong
      lags.add(t -> (now - t) / 1e6)
    }

    def deliveredMap: Map[String, (Int, Long)] = delivered.asScala.toMap

    def lagsBetween(t0: Long, t1: Long): Seq[Double] =
      lags.asScala.collect { case (t, ms) if t >= t0 && t <= t1 => ms }.toSeq

    def awaitDelivered(keys: Set[String], timeoutMs: Long): Unit = {
      val deadline = System.currentTimeMillis() + timeoutMs
      while (!keys.forall(delivered.containsKey) && System.currentTimeMillis() < deadline)
        Thread.sleep(10)
    }

    def close(): Unit = {
      stop = true
      thread.join(2000)
      c.close()
    }
  }
}
