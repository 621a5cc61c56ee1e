package perfbench

import graft.api.{Commands, EventStore}
import graft.server.RespServer
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types._

/** A store preloaded by bulk ingest and served on the RESP socket —
  * the shared base of the two client workloads.
  */
abstract class Served(val run: Run) extends Workload {
  val root: String = run.dir("store")
  var es: EventStore = _
  var server: RespServer = _
  var ingestMs: Seq[Double] = Nil
  var ingestWindows: Seq[(Long, Long)] = Nil

  def port: Int = server.localPort
  def nextRoot: String = root

  /** Bulk-ingest generated rows [lo, hi) in `batches` equal batches. */
  def preload(ev: Gen.Events, batches: Int): Unit = {
    es = EventStore.open(run.spark, root, run.numPartitions)
    val step = (ev.n + batches - 1) / batches
    (0 until batches).foreach { b =>
      val lo = b * step
      val hi = math.min(ev.n, lo + step)
      val t0 = System.nanoTime()
      es.ingest(Served.eventsDf(run.spark, ev, lo, hi), "arrival")
      val t1 = System.nanoTime()
      ingestMs :+= (t1 - t0) / 1e6
      run.log(f"preload batch $b: ${ingestMs.last}%.0f ms")
      ingestWindows :+= (t0 -> t1)
    }
  }

  /** The repeatable ready step: open the store, start the server. */
  def openAndServe(): Unit = {
    if (server != null) server.stop()
    es = EventStore.open(run.spark, root, run.numPartitions)
    server = new RespServer(es).start()
  }

  def close(): Unit = if (server != null) server.stop()

  /** Read targets for the layer replays. */
  def readTargets(): Layers.ReadTargets

  def storeLayers(concurrentAppendP50: Option[Double]): Map[String, Double] =
    Layers.store(run, es, root, port, readTargets(), ingestMs, ingestWindows,
      concurrentAppendP50) ++ Layers.curation(run)
}

object Served {
  val InputSchema: StructType = StructType(Seq(
    StructField("stream_id", StringType, nullable = false),
    StructField("event_name", StringType, nullable = false),
    StructField("payload", BinaryType, nullable = false),
    StructField("metadata", BinaryType, nullable = false),
    StructField("timestamp_ms", LongType, nullable = false),
    StructField("arrival", LongType, nullable = false)))

  /** Generated events [lo, hi) as an ingest input, built on the executors. */
  def eventsDf(spark: SparkSession, ev: Gen.Events, lo: Int, hi: Int): DataFrame = {
    val rows = spark.sparkContext.range(lo.toLong, hi.toLong, 1L, 4).map { i =>
      val k = i.toInt
      Row(ev.streamId(ev.streamOf(k)), ev.name(k), ev.payload(k), ev.metadata(k),
        ev.timestampMs(k), i)
    }
    spark.createDataFrame(rows, InputSchema)
  }
}
