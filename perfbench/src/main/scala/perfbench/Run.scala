package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** Everything one benchmark run shares across its phases. */
final class Run(val spark: SparkSession, val seed: Long,
    val work: java.nio.file.Path, val traced: Boolean) {
  val tracer = new Tracer(traced)
  val probe: Option[SparkProbe] = if (traced) Some(new SparkProbe(spark)) else None
  val numPartitions = 32
  val cores = 4

  private val errors = new ConcurrentLinkedQueue[String]()
  val attempted = new AtomicLong
  val failed = new AtomicLong

  /** Record an output mismatch; the run then reports `correct: false`. */
  def mismatch(msg: String): Unit = {
    if (errors.size < 50) System.err.println(s"[perfbench] mismatch: $msg")
    errors.add(msg)
  }
  def check(ok: Boolean, msg: => String): Unit = if (!ok) mismatch(msg)
  def mismatches: Seq[String] = errors.asScala.toSeq

  def dir(name: String): String = {
    val p = work.resolve(name)
    java.nio.file.Files.createDirectories(p.getParent)
    p.toString
  }

  /** Set-up bookkeeping: `setup_s` is launch-to-first-timed-op, except
    * that the repeatable ready step is run several times and counted
    * once, by its median.
    */
  private val repMs = collection.mutable.ArrayBuffer.empty[Double]
  def readyStep[A](f: => A): A = {
    val t0 = System.nanoTime()
    val r = f
    repMs += (System.nanoTime() - t0) / 1e6
    log(f"ready step ${repMs.size} took ${repMs.last}%.0f ms")
    r
  }
  def setupSeconds(launchEpochMs: Long): Double = {
    val wallMs = System.currentTimeMillis() - launchEpochMs
    (wallMs - repMs.sum + Stats.median(repMs.toSeq)) / 1000.0
  }
  def readyStepMs: Seq[Double] = repMs.toSeq

  private val t00 = System.nanoTime()
  def log(msg: String): Unit =
    System.err.println(f"[perfbench +${(System.nanoTime() - t00) / 1e9}%.1fs] $msg")
}

/** What a workload's measured phase produced. `opMs` are the client
  * op latencies behind `op_p75_ms`, started at `opStarts` (nanoTime);
  * `throughput` is the workload's useful work per second; `detail`
  * carries the workload's own named figures (printed, not gated).
  */
final case class Phase(opMs: Seq[Double], opStarts: Seq[Long], throughput: Double, ops: Long,
    t0: Long, t1: Long, detail: Seq[(String, Any)]) {
  def num(key: String): Double = detail.collectFirst {
    case (`key`, v: Int) => v.toDouble
    case (`key`, v: Long) => v.toDouble
    case (`key`, v: Double) => v
  }.getOrElse(0.0)
}

trait Workload {
  def setup(): Unit
  /** One measured phase, with its output checks. */
  def measure(seconds: Double): Phase
  /** Final output checks after all phases. */
  def verify(): Unit
  /** Store root the next measured phase writes to. */
  def nextRoot: String
  /** Traced-run extras after `traced`, the traced measured phase:
    * single-client replays and layer probes.
    */
  def layers(traced: Phase): Map[String, Double]
  def close(): Unit
}
