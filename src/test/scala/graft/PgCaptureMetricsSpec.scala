package graft

import java.nio.file.Files

import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.unsafe.types.UTF8String

import graft.sources.PgWire
import graft.stream.{Metrics, PgCaptureStream}

/** The pgoutput capture stream is the real CDC source, so `/metrics`
  * must carry its latency gauges exactly like the file-WAL pipeline's:
  * `process_latency_current_ms{query=graft-pgcapture-…}` appears once a
  * segment has drained through the live query.
  */
class PgCaptureMetricsSpec extends SparkSuite {
  import spark.implicits._

  test("PgCaptureStream feeds process_latency_current_ms for its query") {
    def tmp(p: String) = Files.createTempDirectory(p).toString
    val cap = tmp("pgm-cap")
    val ts = 1706000000000000L
    val oid = 51300L
    def row(id: Long): (Long, Array[Byte]) = {
      val vals = Array[Any](UTF8String.fromString(id.toString),
        UTF8String.fromString("evt"), UTF8String.fromString("{}"))
      (10L + id, PgWire.encodeXLogData(10L + id, 0L, ts,
        PgWire.encodeDml(UTF8String.fromString("insert"), oid, null,
          new GenericArrayData(vals))))
    }
    val frames = Seq(
      (0L, PgWire.encodeXLogData(0L, 0L, ts, PgWire.encodeBegin(99L, ts, 7))),
      (1L, PgWire.encodeXLogData(1L, 0L, ts,
        PgWire.encodeRelation(oid, "public", "events_t", Seq(
          ("id", true, 20L), ("event_type", false, 25L),
          ("payload", false, 25L)))))) ++
      (1L to 3L).map(row) :+
      ((20L, PgWire.encodeXLogData(20L, 0L, ts,
        PgWire.encodeCommit(99L, 100L, ts))))
    frames.toDF("seq", "frame").coalesce(1).write.mode("append").parquet(cap)

    // a live (ProcessingTime) query: the gauges belong to running
    // queries and are dropped when a query terminates
    val q = PgCaptureStream.run(spark, cap, tmp("pgm-bulk"), tmp("pgm-dlq"),
      tmp("pgm-ckpt"), Map("public.events_t" -> "events_idx"),
      trigger = Trigger.ProcessingTime("200 milliseconds"))
    try {
      val gauge = s"process_latency_current_ms{query=${q.name}}"
      val deadline = System.nanoTime() + 120e9.toLong
      def drained = q.recentProgress.exists(_.numInputRows > 0)
      while (!(drained && Metrics.snapshot().contains(gauge)) &&
        q.isActive && System.nanoTime() < deadline) Thread.sleep(200)
      assert(drained, "the capture segment never drained")
      assert(q.name.startsWith("graft-pgcapture-"))
      assert(Metrics.snapshot().contains(gauge),
        s"no $gauge in ${Metrics.snapshot().keys.toSeq.sorted}")
      assert(Metrics.processLatencyMs(q.name) > 0L)
    } finally q.stop()
  }
}
