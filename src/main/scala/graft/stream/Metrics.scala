package graft.stream

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.LongAdder

import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.streaming.StreamingQueryListener._

/** R3 — metrics parity with the reference's Prometheus surface
  * (elasticsearch/bulk/metric.go:13-112):
  *
  *   - `index_total{index}` / `delete_total{index}`: per-index action
  *     counters, lazily registered per index name (metric.go:56-96) —
  *     here a concurrent counter map fed by the sink after each flush;
  *   - `process_latency_current` (event-time → ack lag) and
  *     `bulk_request_process_latency_current` (flush RTT) gauges
  *     (metric.go:35-54, set at bulk.go:168-170,312) — here fed from
  *     Structured Streaming's own query progress (triggerExecution /
  *     addBatch durations), via a [[StreamingQueryListener]].
  *
  * The gauges are keyed by STREAMING QUERY NAME: the reference defines
  * them per-connector (metric.go), and two connectors in one session
  * (distinct [[QueryNames]] suffixes) must not overwrite each other's
  * latencies. [[Connector.metrics]] reads its own query's gauges;
  * [[snapshot]] exposes all of them with a `{query=…}` label. The
  * counters stay keyed by index name — that IS the reference's label
  * (each connector writes its configured indexes).
  *
  * Scrape transport: [[MetricsEndpoint]] serves [[snapshot]] in
  * Prometheus text format when a port is configured (≙ the reference's
  * `/metrics` listener, README.md:247-274).
  */
object Metrics {

  private val counters = new ConcurrentHashMap[(String, String), LongAdder]()
  private val processLatency = new ConcurrentHashMap[String, java.lang.Long]()
  private val bulkLatency = new ConcurrentHashMap[String, java.lang.Long]()
  // live query id → name, so termination (whose event carries no name)
  // can prune that query's gauges
  private val queryIds = new ConcurrentHashMap[java.util.UUID, String]()

  private[stream] def record(indexName: String, actionType: String, n: Long): Unit =
    counters.computeIfAbsent((indexName, actionType), _ => new LongAdder).add(n)

  /** Listener entry, factored out for unit tests. */
  private[graft] def recordProgress(queryName: String,
      triggerMs: Option[Long], addBatchMs: Option[Long]): Unit = {
    triggerMs.foreach(d => processLatency.put(queryName, d))
    addBatchMs.foreach(d => bulkLatency.put(queryName, d))
  }

  /** Drop a terminated query's gauges: a scrape must not keep reporting
    * a dead connector's last latency forever, and a session that cycles
    * connectors (fresh checkpoint dir each run — the test-suite pattern)
    * must not grow the gauge maps without bound. Counters stay: totals
    * are cumulative by definition.
    */
  private[graft] def removeQuery(queryName: String): Unit = {
    processLatency.remove(queryName)
    bulkLatency.remove(queryName)
    ()
  }

  def processLatencyMs(queryName: String): Long =
    Option(processLatency.get(queryName)).map(_.longValue).getOrElse(0L)
  def bulkRequestLatencyMs(queryName: String): Long =
    Option(bulkLatency.get(queryName)).map(_.longValue).getOrElse(0L)

  /** ≙ scraping /metrics: counter/gauge name → value, gauges labeled by
    * connector query name.
    */
  def snapshot(): Map[String, Long] = {
    val m = scala.collection.mutable.Map[String, Long]()
    counters.forEach { (k, v) =>
      val metric = if (k._2 == "delete") "delete_total" else "index_total"
      m(s"$metric{index=${k._1}}") = v.sum()
    }
    processLatency.forEach { (q, v) =>
      m(s"process_latency_current_ms{query=$q}") = v.longValue
    }
    bulkLatency.forEach { (q, v) =>
      m(s"bulk_request_process_latency_current_ms{query=$q}") = v.longValue
    }
    m.toMap
  }

  /** One connector's view: the shared counters plus ITS gauges under the
    * stable unlabeled names (what a per-connector dashboard reads).
    */
  def snapshotFor(queryName: String): Map[String, Long] = {
    val m = scala.collection.mutable.Map[String, Long]()
    counters.forEach { (k, v) =>
      val metric = if (k._2 == "delete") "delete_total" else "index_total"
      m(s"$metric{index=${k._1}}") = v.sum()
    }
    m("process_latency_current_ms") = processLatencyMs(queryName)
    m("bulk_request_process_latency_current_ms") = bulkRequestLatencyMs(queryName)
    m.toMap
  }

  def reset(): Unit = {
    counters.clear()
    processLatency.clear()
    bulkLatency.clear()
    queryIds.clear()
  }

  /** Whether a query name belongs to the CDC chain: the file-WAL
    * pipeline ([[QueryNames.cdcPipeline]]) or the pgoutput capture
    * stream ([[PgCaptureStream]]).
    */
  private def isCdc(queryName: String): Boolean =
    queryName != null && (queryName.startsWith("graft-cdc-pipeline") ||
      queryName.startsWith("graft-pgcapture-"))

  /** Streaming listener feeding the latency gauges from query progress.
    * Filtered to the CDC chain's queries by name prefix ([[isCdc]]): the
    * listener is session-wide, so without the filter ANY other streaming
    * query in the session (a DedupStream, a user's own query) would
    * pollute the gauge map with non-CDC trigger durations. Within the
    * prefix each query keeps its OWN gauge (keyed by full name) — two
    * live connectors never overwrite each other.
    */
  final class Listener extends StreamingQueryListener {
    override def onQueryStarted(event: QueryStartedEvent): Unit =
      if (isCdc(event.name)) {
        queryIds.put(event.id, event.name)
        ()
      }
    override def onQueryTerminated(event: QueryTerminatedEvent): Unit = {
      val name = queryIds.remove(event.id)
      if (name != null) removeQuery(name)
    }
    override def onQueryProgress(event: QueryProgressEvent): Unit = {
      val p = event.progress
      if (isCdc(p.name)) {
        recordProgress(p.name,
          Option(p.durationMs.get("triggerExecution")).map(_.longValue),
          Option(p.durationMs.get("addBatch")).map(_.longValue))
      }
    }
  }
}
