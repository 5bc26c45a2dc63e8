package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestSession

/** End-to-end latency is measured per batch as `batch end − max(event
  * ts)` — the DummyLatencyCountingSink analog. */
class LatencySinkSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark

  case class Ev(ts: Timestamp, v: Long)

  /** The listener-side channel StreamBench's percentiles come from:
    * `observeSourceTs` attaches max(source ts) as an observed metric
    * and the ProgressCollector turns it into per-batch end-to-end
    * latency without touching the operator under test. */
  test("observeSourceTs feeds per-batch latency into BatchProgress") {
    import spark.implicits._
    implicit val sql = spark.sqlContext
    val collector = new Metrics.ProgressCollector
    spark.streams.addListener(collector)
    val in = MemoryStream[Ev]
    val q = Metrics.observeSourceTs(in.toDF(), "ts")
      .writeStream.format("noop").outputMode("append").start()
    try {
      val emit = System.currentTimeMillis() - 2000 // emitted 2 s ago
      in.addData(Ev(new Timestamp(emit), 1), Ev(new Timestamp(emit - 500), 2))
      q.processAllAvailable()
      // listener events are async — wait for the progress to land
      val deadline = System.currentTimeMillis() + 10000
      def sample = collector.progresses.filter(_.numInputRows > 0)
        .flatMap(_.latencyMs).headOption
      while (sample.isEmpty && System.currentTimeMillis() < deadline)
        Thread.sleep(100)
      val lat = sample.getOrElse(fail("no latency sample observed"))
      // latency = batch end − max(ts): at least the 2 s age, and sane
      assert(lat >= 2000 && lat < 120000, lat.toString)
    } finally {
      q.stop()
      spark.streams.removeListener(collector)
    }
  }
}
