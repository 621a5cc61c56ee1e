package perfbench

import graft.core.Ids

/** The benchmark's seeded input generator. Every value is a pure
  * function of (seed, index), so a Spark job can generate rows in
  * parallel and the Spark driver can recompute the expected answers without
  * asking the store.
  */
object Gen {

  /** SplitMix64 finaliser. */
  def mix64(x: Long): Long = {
    var z = x + 0x9E3779B97F4A7C15L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }

  /** Uniform in [0, 1) for (seed, salt, i). */
  def u01(seed: Long, salt: Long, i: Long): Double =
    (mix64(mix64(seed ^ (salt * 0x632BE59BD9B4E019L)) + i) >>> 11).toDouble / (1L << 53).toDouble

  /** Uniform in [0, n). */
  def below(seed: Long, salt: Long, i: Long, n: Int): Int =
    math.min((u01(seed, salt, i) * n).toInt, n - 1)

  /** Zipf(s) over ranks 0..n-1 (rank 0 most likely), by inverse CDF. */
  final class Zipf(n: Int, s: Double) extends Serializable {
    private val cdf: Array[Double] = {
      val w = Array.tabulate(n)(r => 1.0 / math.pow(r + 1.0, s))
      var acc = 0.0
      val total = w.sum
      w.map { x => acc += x / total; acc }
    }
    def rank(u: Double): Int = {
      val i = java.util.Arrays.binarySearch(cdf, u)
      math.min(if (i >= 0) i else -i - 1, n - 1)
    }
  }

  val EventNames: Array[String] = Array("view", "click", "signup", "purchase", "error")

  /** An event log of `n` events over `streams` streams. With
    * `zipfStreams` the first `streams` events give every stream one
    * event and the rest go to streams by Zipf(1) rank, so stream 0 is
    * the longest; otherwise streams are uniform, like the sf0.1
    * `events` table (100k events over 1,500 users).
    */
  final case class Events(seed: Long, n: Int, streams: Int, zipfStreams: Boolean) {
    @transient private lazy val zipf = new Zipf(streams, 1.0)

    def streamOf(i: Int): Int =
      if (!zipfStreams) below(seed, 1, i, streams)
      else if (i < streams) i
      else zipf.rank(u01(seed, 1, i))

    def streamId(s: Int): String = s"u$s"
    def name(i: Int): String = EventNames(below(seed, 2, i, EventNames.length))
    def payload(i: Int): Array[Byte] =
      s"""{"g":$i,"v":${below(seed, 3, i, 100000) / 100.0},"k":${below(seed, 4, i, 100)}}"""
        .getBytes(java.nio.charset.StandardCharsets.UTF_8)
    def metadata(i: Int): Array[Byte] =
      s"""{"src":"gen","k":${below(seed, 5, i, 16)}}""".getBytes(java.nio.charset.StandardCharsets.UTF_8)
    def timestampMs(i: Int): Long = 1704067200000L + i * 37L
  }

  /** Where the store must put each generated event: versions and
    * sequences are assigned in generation order within each stream and
    * partition, which is what `EventStore.ingest` promises for an
    * arrival-ordered input.
    */
  final class Layout(val ev: Events, val numPartitions: Int) {
    val streamOfEvent: Array[Int] = Array.tabulate(ev.n)(ev.streamOf)
    val pidOfStream: Array[Int] =
      Array.tabulate(ev.streams)(s => Ids.partitionIdForStream(ev.streamId(s), numPartitions))
    /** generation indices of each stream, in version order */
    val streamEvents: Array[Array[Int]] = group(ev.streams, streamOfEvent)
    /** generation indices of each partition, in sequence order */
    val partEvents: Array[Array[Int]] =
      group(numPartitions, streamOfEvent.map(pidOfStream(_)))
    /** stream version of each event */
    val versionOf: Array[Int] = {
      val v = new Array[Int](ev.n)
      streamEvents.foreach(es => es.indices.foreach(k => v(es(k)) = k))
      v
    }

    private def group(buckets: Int, keyOf: Array[Int]): Array[Array[Int]] = {
      val b = Array.fill(buckets)(Array.newBuilder[Int])
      keyOf.indices.foreach(i => b(keyOf(i)) += i)
      b.map(_.result())
    }
  }

  /** `n` documents of ~40 words over a 2,000-word vocabulary; about a
    * third are near-copies (three words replaced) of an earlier one, so
    * curation has real duplicate pairs to find.
    */
  final case class Docs(seed: Long, n: Int) {
    private val vocab: Array[String] = Array.tabulate(2000) { w =>
      val len = 3 + below(seed, 20, w, 6)
      (0 until len).map(c => ('a' + below(seed, 21 + c, w, 26)).toChar).mkString
    }
    val texts: Array[String] = {
      val out = new Array[Array[String]](n)
      (0 until n).foreach { d =>
        out(d) =
          if (d > 0 && u01(seed, 22, d) < 0.35) {
            val words = out(below(seed, 23, d, d)).clone()
            (0 until 3).foreach(j =>
              words(below(seed, 24 + j, d, words.length)) = vocab(below(seed, 27 + j, d, vocab.length)))
            words
          } else Array.tabulate(30 + below(seed, 30, d, 20))(j => vocab(below(seed, 31, d * 64L + j, vocab.length)))
      }
      out.map(_.mkString(" "))
    }
    def streamId(d: Int): String = s"doc-$d"
  }

  /** Permutation of 0..n-1 so Zipf-hot event ranks are spread over the
    * log instead of all being its first events.
    */
  def permute(r: Int, n: Int, seed: Long): Int = {
    val a = 1000003L // prime, larger than any log the benchmark makes
    val b = (mix64(seed) & 0x7fffffffL) % n
    ((r.toLong * a + b) % n).toInt
  }
}
