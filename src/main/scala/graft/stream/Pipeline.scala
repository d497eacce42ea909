package graft.stream

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.types._

import graft.ops.CdcOps

/** End-to-end streaming wiring — the Spark-native rendition of the
  * reference's main loop (connector.go:129-171 → bulk.go:253-315):
  *
  *   - S1 CDC source: file replay of `events.parquet` as a Structured
  *     Streaming file source (each arriving file ≙ a WAL segment; the file
  *     source's offset log ≙ the replication slot position). A real
  *     pgoutput DSv2 source is out of scope for the zero-egress harness —
  *     SURVEY.md §7.3.
  *   - transforms: the SAME batch operators from [[graft.ops.CdcOps]] —
  *     typing → routing → handler → in-batch LWW dedup → NDJSON encode —
  *     applied per micro-batch inside foreachBatch (the micro-batch IS the
  *     reference's flush batch, bulk.go:164-173).
  *   - S3 ES bulk sink: one NDJSON file per output partition per batch ≙
  *     one concurrent `_bulk` request per goroutine-chunk (bulk.go:297-315);
  *     `concurrentRequest` maps to repartition count.
  *   - R1 response demux: actions failing sink validation are split to a
  *     dead-letter directory (≙ ResponseHandler.OnError,
  *     response_handler.go:8-23) instead of failing the batch.
  *   - R2 ack: the checkpoint commit log advances only after foreachBatch
  *     returns, i.e. after sink durability — the reference's
  *     ack-after-flush at-least-once contract (bulk.go:271-276). Doc-id
  *     keyed writes make replays idempotent at the index level.
  *
  * Scale: every stage is per-micro-batch and partition-parallel; the only
  * shuffle is the LWW-dedup window keyed by (doc_id, index_name). State
  * never accumulates across batches (matching the reference, whose dedup
  * scope is the flush batch), so this runs unbounded.
  */
object Pipeline {

  /** events.parquet physical schema (ts read as raw nanos — see
    * SparkEntry.events).
    */
  val eventSchema: StructType = StructType(Seq(
    StructField("event_id", LongType),
    StructField("ts", LongType), // TIMESTAMP(NANOS) via nanosAsLong
    StructField("user_id", LongType),
    StructField("event_type", StringType),
    StructField("value", DoubleType),
    StructField("props", StringType)
  ))

  /** S1 — replayed change stream over a directory of event files.
    * `maxFilesPerTrigger` ≙ batchSizeLimit-style admission control;
    * `maxBytesPerTrigger` (bytes) bounds each
    * micro-batch's admitted input by BYTES — the admission-side analog of
    * the reference's batchByteSizeLimit flush trigger (bulk.go:164-173).
    * The two are mutually exclusive in Spark's file source; the byte bound
    * wins when both are given. Formats: parquet (default), json, csv — a
    * WAL segment is whatever file shape the capture side wrote; the schema
    * contract is fixed.
    */
  def changeStream(spark: SparkSession, dir: String,
      maxFilesPerTrigger: Int = 1, format: String = "parquet",
      maxBytesPerTrigger: Option[Long] = None): DataFrame = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val base = spark.readStream.schema(eventSchema)
    val reader = maxBytesPerTrigger match {
      case Some(bytes) => base.option("maxBytesPerTrigger", bytes.toString)
      case None => base.option("maxFilesPerTrigger", maxFilesPerTrigger)
    }
    val src = format match {
      case "parquet" => reader.parquet(dir)
      case "json" => reader.json(dir)
      case "csv" => reader.option("header", "true").csv(dir)
      // the custom DSv2 source: LSN-like segment offsets + per-batch
      // segment admission (graft.sources.WalReplaySource). Byte admission
      // is a file-source feature; here a byte request FALLS BACK to
      // segment-count admission — silently removing the bound entirely
      // would be the opposite of what the caller asked for
      case "wal" =>
        spark.readStream
          .format(classOf[graft.sources.WalReplayProvider].getName)
          .option("path", dir)
          .option("maxSegmentsPerTrigger", maxFilesPerTrigger)
          .load()
      case other => throw new IllegalArgumentException(s"unsupported replay format: $other")
    }
    // Fan a files-admitted batch out before the chain (round 13 — the
    // PgCaptureStream lesson applied at the source): a micro-batch of
    // `maxFilesPerTrigger` files is narrow BY CONSTRUCTION, and split
    // counts cannot be trusted to say otherwise (a one-row-group file
    // fans into byte-range splits of which all but one are EMPTY — the
    // guard that trusted them serialized a whole 4M-event chain). The
    // decision is static, from the admission ARGUMENTS: few admitted
    // files → shuffle the raw events wide once (cheap, pre-chain);
    // byte admission spans many files → already wide, no exchange.
    //
    // Round 14 refinement, measured both ways: at the reference's actual
    // operating point (10k-event ticker batches, example/simple
    // main.go:88-89) the unconditional exchange itself dominates the
    // chain (~25% throughput tax — 6.3k → 4.5k ev/s at 200k/20seg),
    // while skipping it on a 4M-event segment was the r13 catastrophe
    // (58.8k serialized). The gate stays STATIC — the operator DECLARES
    // their per-file event count via [[FanoutEventsPerFileHintConf]]
    // (they size their capture segments; the reference sizes its ticker
    // the same way) and small declared batches skip the exchange. No
    // hint → fan out (big-batch safety is the default; the small-batch
    // tax is bounded, the serialization cliff is not).
    val par = spark.conf.get("spark.sql.shuffle.partitions", "32").toInt
    val declaredSmall = spark.conf.getOption(FanoutEventsPerFileHintConf)
      .map(_.toLong)
      .exists(_ * maxFilesPerTrigger < FanoutMinEvents)
    if (maxBytesPerTrigger.isEmpty && maxFilesPerTrigger * 2 < par &&
        !declaredSmall)
      src.repartition(par)
    else src
  }

  /** Operator-declared events per capture file/segment — the STATIC
    * input to the files-admitted fan-out gate (partition-count probes
    * are forbidden here: round 13 showed a one-row-group file faking
    * its width through empty byte-range splits). Unset = always fan out.
    */
  val FanoutEventsPerFileHintConf = "spark.graft.fanout.eventsPerFileHint"

  /** Declared events per micro-batch below which the pre-chain exchange
    * costs more than it buys: a <100k-event chain finishes in ~1-2 s on
    * one task, and the exchange adds ~0.5 s of its own (measured at
    * 200k/20seg — see SCALING.md round 14).
    */
  val FanoutMinEvents = 100000L

  /** Event-time column + watermark bound for late data (the reference has
    * no watermark concept — its batches are arrival-ordered; we bound state
    * the Spark way).
    */
  def withEventTime(events: DataFrame, delay: String = "1 hour"): DataFrame =
    events
      .withColumn("event_time", timestamp_micros(expr("ts div 1000")))
      .withWatermark("event_time", delay)

  /** The full pipeline: stream → typed → routed → actions, then per
    * micro-batch: LWW dedup → NDJSON → partitioned bulk write + dead-letter.
    *
    * @param concurrentRequest N-way partition split of each flush
    *                          (≙ config.concurrentRequest, B5)
    */
  def run(
      spark: SparkSession,
      eventsDir: String,
      bulkOutDir: String,
      deadLetterDir: String,
      checkpointDir: String,
      concurrentRequest: Int = 2,
      trigger: Trigger = Trigger.AvailableNow(),
      format: String = "parquet"
  ): StreamingQuery =
    startQuery(spark,
      CdcOps.handlerActions(CdcOps.typedMessages(
        changeStream(spark, eventsDir, format = format))),
      bulkOutDir, checkpointDir, concurrentRequest, trigger,
      ResponseHandler.deadLetter(deadLetterDir))

  /** Config-driven run (≙ NewConnector(cfg, handler): config parity via
    * [[graft.conf.GraftConfig]]): the table→index mapping routes events,
    * the batch ticker maps to the processing-time trigger,
    * concurrentRequest to the flush partition split.
    */
  def run(spark: SparkSession, cfg0: graft.conf.GraftConfig, eventsDir: String,
      bulkOutDir: String, deadLetterDir: String, checkpointDir: String,
      trigger: Option[Trigger],
      responseHandler: Option[ResponseHandler]): StreamingQuery = {
    // version="" ≙ auto-detect requested; with no probe wired at this
    // entry the reference's detection-failure fallback (7.0.0) applies —
    // Connector.newConnector is the probe-carrying entry (client.go:37-46)
    val cfg = graft.conf.resolveVersion(cfg0, None)
    val rh = ResponseHandler.forConfig(cfg, responseHandler,
      deadLetterDir, bulkOutDir)
    // ≙ ResponseHandler.OnInit (response_handler.go:9-12, invoked when the
    // handler is installed, bulk/option.go:19-27): users bootstrap
    // indices/templates here, before any batch flows
    rh.onInit(spark, cfg)
    runResolved(spark, cfg, eventsDir, bulkOutDir, checkpointDir, trigger, rh)
  }

  /** Config-driven run with the default dead-letter handler (overloads
    * cannot share default arguments).
    */
  def run(spark: SparkSession, cfg0: graft.conf.GraftConfig, eventsDir: String,
      bulkOutDir: String, deadLetterDir: String, checkpointDir: String,
      trigger: Option[Trigger]): StreamingQuery =
    run(spark, cfg0, eventsDir, bulkOutDir, deadLetterDir, checkpointDir,
      trigger, None)

  /** Config-resolved, init-already-fired entry (Connector calls this after
    * invoking onInit at construction — the bulk/option.go timing).
    */
  private[stream] def runResolved(spark: SparkSession,
      cfg: graft.conf.GraftConfig, eventsDir: String, bulkOutDir: String,
      checkpointDir: String, trigger: Option[Trigger],
      rh: ResponseHandler): StreamingQuery =
    // admission (maxBytesPerTrigger) is its OWN knob, not derived from
    // batchByteSizeLimit: the flush byte limit means "flush EARLIER when
    // exceeded" (bulk.go:164-173 — carried by the per-request split in
    // EsBulkSink.writeBatch); using it as a per-tick ingest cap would
    // bound throughput at limit/tickerDuration and grow backlog forever
    startQuery(spark,
      CdcOps.handlerActions(CdcOps.typedMessages(
          changeStream(spark, eventsDir,
            maxBytesPerTrigger = cfg.es.maxBytesPerTriggerBytes)),
        cfg.es.tableIndexMapping),
      bulkOutDir, checkpointDir, cfg.es.concurrentRequest,
      trigger.getOrElse(
        Trigger.ProcessingTime(cfg.es.batchTickerDuration.toMillis)),
      rh,
      cfg.es.esMajorVersion, cfg.es.typeNameOrDefault,
      cfg.es.batchByteSizeLimitBytes, cfg.es.batchSizeLimit)

  /** Typed-handler variant of the config-driven run (same knob wiring). */
  def runTyped(spark: SparkSession, cfg0: graft.conf.GraftConfig,
      eventsDir: String, handler: Handlers.Handler, bulkOutDir: String,
      deadLetterDir: String, checkpointDir: String,
      trigger: Option[Trigger],
      responseHandler: Option[ResponseHandler]): StreamingQuery = {
    val cfg = graft.conf.resolveVersion(cfg0, None)
    val rh = ResponseHandler.forConfig(cfg, responseHandler,
      deadLetterDir, bulkOutDir)
    rh.onInit(spark, cfg)
    runTypedResolved(spark, cfg, eventsDir, handler, bulkOutDir,
      checkpointDir, trigger, rh)
  }

  /** Config-driven runTyped with the default dead-letter handler
    * (overloads cannot share default arguments).
    */
  def runTyped(spark: SparkSession, cfg0: graft.conf.GraftConfig,
      eventsDir: String, handler: Handlers.Handler, bulkOutDir: String,
      deadLetterDir: String, checkpointDir: String,
      trigger: Option[Trigger]): StreamingQuery =
    runTyped(spark, cfg0, eventsDir, handler, bulkOutDir, deadLetterDir,
      checkpointDir, trigger, None)

  private[stream] def runTypedResolved(spark: SparkSession,
      cfg: graft.conf.GraftConfig, eventsDir: String,
      handler: Handlers.Handler, bulkOutDir: String, checkpointDir: String,
      trigger: Option[Trigger], rh: ResponseHandler): StreamingQuery = {
    implicit val s: SparkSession = spark
    startQuery(spark,
      Handlers.applyHandler(CdcOps.typedMessages(
          changeStream(spark, eventsDir,
            maxBytesPerTrigger = cfg.es.maxBytesPerTriggerBytes)),
        handler, cfg.es.tableIndexMapping),
      bulkOutDir, checkpointDir, cfg.es.concurrentRequest,
      trigger.getOrElse(
        Trigger.ProcessingTime(cfg.es.batchTickerDuration.toMillis)),
      rh,
      cfg.es.esMajorVersion, cfg.es.typeNameOrDefault,
      cfg.es.batchByteSizeLimitBytes, cfg.es.batchSizeLimit)
  }

  /** Typed-Handler pipeline: the user's `CdcMessage => Seq[EsAction]`
    * (handler.go:7) instead of the canonical column-expression handler.
    */
  def runTyped(
      spark: SparkSession,
      eventsDir: String,
      handler: Handlers.Handler,
      bulkOutDir: String,
      deadLetterDir: String,
      checkpointDir: String,
      concurrentRequest: Int = 2,
      trigger: Trigger = Trigger.AvailableNow(),
      mapping: Map[String, String] = CdcOps.tableIndexMapping
  ): StreamingQuery = {
    implicit val s: SparkSession = spark
    startQuery(spark,
      Handlers.applyHandler(CdcOps.typedMessages(changeStream(spark, eventsDir)),
        handler, mapping),
      bulkOutDir, checkpointDir, concurrentRequest, trigger,
      ResponseHandler.deadLetter(deadLetterDir))
  }

  private def startQuery(spark: SparkSession, actions: DataFrame,
      bulkOutDir: String, checkpointDir: String,
      concurrentRequest: Int, trigger: Trigger,
      responseHandler: ResponseHandler,
      esMajor: Int = 8, typeName: String = "_doc",
      batchByteSizeLimit: Long = 0L, batchSizeLimit: Int = 0): StreamingQuery = {
    // the name is QueryNames.cdcPipeline(checkpointDir): two connectors in
    // one session never collide; a restart of the same instance reuses it
    StreamQuery.batches(actions, "cdc-pipeline", checkpointDir, trigger) {
      (batch, batchId) =>
        EsBulkSink.writeBatch(batch, batchId, bulkOutDir,
          responseHandler, concurrentRequest,
          esMajor, typeName, batchByteSizeLimit, batchSizeLimit)
    }.start()
  }

  /** The pipeline over the REAL HTTP transport ([[EsHttpClient]]): same
    * chain, but each flush POSTs `_bulk` to live Elasticsearch instead of
    * writing payload files, and the response demux runs on the ACTUAL
    * `_bulk` response body. The ack contract is unchanged: a whole-batch
    * transport failure (non-2xx after the retry loop) throws, the batch
    * replays from the checkpoint — at-least-once in, LWW-deduped out.
    */
  def runHttp(spark: SparkSession, cfg0: graft.conf.GraftConfig,
      eventsDir: String, http: EsHttpConfig, deadLetterDir: String,
      checkpointDir: String,
      trigger: Option[Trigger] = None,
      responseHandler: Option[ResponseHandler] = None): StreamingQuery = {
    implicit val s: SparkSession = spark
    // ONE driver-side client up front: node discovery runs here (when
    // enabled) and the DISCOVERED pool ships to the executor tasks via
    // the config — without this, per-task clients rebuilt from the seed
    // URLs would put the whole write load on the seed node(s) and the
    // driver's discovery result would be discarded. Version auto-detect
    // (the reference's Info-API probe) rides the same client.
    val probe = new EsHttpClient(http)
    val (cfg, httpForTasks) =
      try {
        val c = graft.conf.resolveVersion(cfg0, Some(() => probe.info()))
        // seeds ∪ discovered: the discovery snapshot spreads load across
        // the cluster, but the SEED addresses (stable DNS) stay in the
        // pool — node churn after a one-shot snapshot must not leave the
        // query with only dead ephemeral addresses
        (c, http.copy(urls = (http.urls ++ probe.nodes).distinct,
          discoverNodesOnStart = false))
      } finally probe.close()
    // rejection route over the REAL transport: rejects post to the
    // configured index through the same cluster the data actions use
    val rh0 = responseHandler.getOrElse(ResponseHandler.deadLetter(deadLetterDir))
    val rh = cfg.es.rejectionLog match {
      case Some(rl) => ResponseHandler.withRejectionShip(rh0, rl,
        ResponseHandler.httpShip(httpForTasks,
          ResponseHandler.fileShip(deadLetterDir)),
        cfg.es.esMajorVersion, cfg.es.typeNameOrDefault)
      case None => rh0
    }
    rh.onInit(spark, cfg)
    val actions = CdcOps.handlerActions(CdcOps.typedMessages(
        changeStream(spark, eventsDir,
          maxBytesPerTrigger = cfg.es.maxBytesPerTriggerBytes)),
      cfg.es.tableIndexMapping)
    StreamQuery.batches(actions, "cdc-pipeline", checkpointDir,
        trigger.getOrElse(
          Trigger.ProcessingTime(cfg.es.batchTickerDuration.toMillis))) {
      (batch, batchId) =>
        EsHttpSink.postBatch(batch, batchId, httpForTasks, rh,
          cfg.es.concurrentRequest, cfg.es.esMajorVersion,
          cfg.es.typeNameOrDefault, cfg.es.batchByteSizeLimitBytes,
          cfg.es.batchSizeLimit)
    }.start()
  }

  // ------------------------------------------------------ snapshot modes

  /** S2 — snapshot actions for a whole table: every row becomes a SNAPSHOT
    * index action (op annotated like the reference's snapshot handler,
    * snapshot_test.go:313-315), routed through the same table→index
    * mapping. The keyset-chunked, claim/heartbeat worker pool of the
    * reference (README.md:26-45) maps onto Spark's partitioned scan +
    * task retry; `chunkSize` is accepted for config parity but is
    * deliberately INERT here (task granularity = input splits; the sink
    * re-partitions the flush anyway) — the oracle-checked keyset-chunk
    * rendition is `CdcOps.snapshotChunks`.
    */
  def snapshotActions(table: DataFrame, namespace: String, tableName: String,
      pkCol: String, chunkSize: Int = 8000,
      mapping: Map[String, String] = graft.ops.CdcOps.tableIndexMapping): DataFrame = {
    // No chunk repartition here: the sink re-partitions the flush anyway
    // (dedup key exchange + concurrentRequest split), so a pre-shuffle
    // would be pure wasted work. The reference's chunked-claim machinery
    // maps to Spark input-split scheduling + task retry; `chunkSize` is
    // accepted for config parity (the oracle-checked chunk rendition
    // lives in CdcOps.snapshotChunks).
    val cols = table.columns.map(col).toSeq
    table
      .select(
        col(pkCol).cast("long").as("event_id"), // snapshot seq = key order
        lit("index").as("action_type"),
        col(pkCol).cast("string").as("doc_id"),
        lit(mapping.getOrElse(s"$namespace.$tableName", null))
          .cast("string").as("index_name"),
        to_json(struct(cols :+ lit("SNAPSHOT").as("operation"): _*)).as("source"))
      .filter(col("index_name").isNotNull)
  }

  /** Mode `snapshot_only` (connector.go:84-96): process the snapshot
    * through the SAME sink machinery, no CDC afterwards.
    */
  def runSnapshotOnly(spark: SparkSession, table: DataFrame, namespace: String,
      tableName: String, pkCol: String, bulkOutDir: String,
      deadLetterDir: String, concurrentRequest: Int = 2,
      chunkSize: Int = 8000,
      mapping: Map[String, String] = graft.ops.CdcOps.tableIndexMapping,
      esMajor: Int = 8, typeName: String = "_doc"): Unit =
    EsBulkSink.writeBatch(
      snapshotActions(table, namespace, tableName, pkCol, chunkSize, mapping),
      batchId = -1L, bulkOutDir, ResponseHandler.deadLetter(deadLetterDir),
      concurrentRequest, esMajor, typeName)

  /** Mode `initial` (README.md:32-38): snapshot first, then the CDC stream
    * from the same sink/checkpoint — snapshot rows and subsequent change
    * rows flow through identical batch/ack machinery, giving the
    * reference's seamless-transition guarantee (no gaps: the stream's
    * checkpoint starts at offset 0 of the replay dir; no duplicates: doc-id
    * keyed writes are idempotent at the index).
    */
  def runInitial(spark: SparkSession, table: DataFrame, namespace: String,
      tableName: String, pkCol: String, eventsDir: String, bulkOutDir: String,
      deadLetterDir: String, checkpointDir: String,
      concurrentRequest: Int = 2,
      trigger: Trigger = Trigger.AvailableNow()): StreamingQuery = {
    runSnapshotOnly(spark, table, namespace, tableName, pkCol, bulkOutDir,
      deadLetterDir, concurrentRequest)
    run(spark, eventsDir, bulkOutDir, deadLetterDir, checkpointDir,
      concurrentRequest, trigger)
  }
}

/** R1 — per-action success/error callbacks, the reference's
  * `ResponseHandler {OnSuccess, OnError}` (response_handler.go:8-23,
  * installed via WithResponseHandler, option.go:19-23). The default
  * error handler is the dead-letter writer (≙ a rejection log,
  * config.RejectionLog — `includeSource=false` drops the payload column
  * before writing, config/config.go:28-31).
  */
trait ResponseHandler extends Serializable {
  /** ≙ OnInit (response_handler.go:9-12): invoked exactly once, before the
    * stream starts, with the session and the RESOLVED config (version
    * auto-detect already applied) — the analog of the reference's init
    * context carrying the ES client, where users bootstrap indices and
    * templates. Invoked by the config-driven `Pipeline.run`/`runTyped`
    * entries, or at `Connector.newConnector` construction (the
    * bulk/option.go:19-27 timing).
    */
  def onInit(spark: SparkSession, cfg: graft.conf.GraftConfig): Unit = ()
  def onSuccess(actions: DataFrame, batchId: Long): Unit = ()
  def onError(actions: DataFrame, batchId: Long): Unit
}

object ResponseHandler {
  /** Dead-letter parquet writer (rejection log). */
  def deadLetter(dir: String, includeSource: Boolean = true): ResponseHandler =
    new ResponseHandler {
      override def onError(actions: DataFrame, batchId: Long): Unit = {
        val out = if (includeSource) actions else actions.drop("source")
        out.withColumn("batch_id", lit(batchId))
          .write.mode("append").parquet(dir)
      }
    }

  /** `inner` plus the RejectionLog route (≙ config.RejectionLog,
    * config/config.go:27-31): every rejected action ALSO becomes an
    * INDEX action into `rl.index`, encoded through the SAME NDJSON path
    * as data actions and written as a `rejection_<batchId>` bulk payload
    * beside the batch flushes — the file-sink face of "index the
    * rejects into ES" (a transport-backed deployment posts the same
    * payload through its client). The rejection document body is
    * `{rejected_index, error[, source]}` — the failed doc's original
    * target, the server's per-item `_bulk` error text (or the
    * invalid-action reason for key-less rows), and the original source
    * when `rl.includeSource`. The inner handler runs FIRST, so the file
    * dead-letter record is unchanged by this route.
    */
  def withRejectionLog(inner: ResponseHandler,
      rl: graft.conf.RejectionLogConfig, bulkOutDir: String,
      esMajor: Int = 8, typeName: String = "_doc"): ResponseHandler =
    withRejectionShip(inner, rl, fileShip(bulkOutDir), esMajor, typeName)

  /** File transport for the rejection payload: one
    * `rejection_<batchId>` NDJSON dir beside the batch flushes
    * (overwrite — replays clobber their own output).
    */
  private[stream] def fileShip(bulkOutDir: String): (DataFrame, Long) => Unit =
    (payload, batchId) =>
      payload.coalesce(1).write.mode("overwrite")
        .text(s"$bulkOutDir/rejection_$batchId")

  /** Driver-collect line bound for [[httpShip]]: rejections are
    * failure-proportional, so the collect is usually tiny — but a
    * batch-wide outage (every retry exhausted) rejects the WHOLE batch,
    * and the worst case must not materialize a full batch in driver
    * memory. Above the bound the payload ships through the
    * executor-side file transport instead.
    */
  val HttpShipMaxDriverLines = 10000

  /** HTTP transport for the rejection payload: one driver-side `_bulk`
    * POST into the cluster, bounded by [[HttpShipMaxDriverLines]] —
    * above it (the batch-wide-outage shape) the payload spills through
    * `spill` (the executor-side file transport) without ever landing on
    * the driver. Ship FAILURES also spill, and never throw (review
    * round-11): the inner dead-letter already recorded the rows
    * durably, so an unhealthy rejection index must log-and-degrade, not
    * wedge the pipeline into replaying an already-dead-lettered batch.
    */
  private[graft] def httpShip(http: EsHttpConfig,
      spill: (DataFrame, Long) => Unit,
      maxDriverLines: Int = HttpShipMaxDriverLines): (DataFrame, Long) => Unit =
    (payload, batchId) => {
      val lines =
        payload.limit(maxDriverLines + 1).collect().map(_.getString(0))
      if (lines.length > maxDriverLines) {
        System.err.println(
          s"[graft-pipeline] rejection payload for batch $batchId exceeds " +
            s"$maxDriverLines lines — shipping via file transport instead " +
            "of driver _bulk")
        spill(payload, batchId)
      } else if (lines.nonEmpty) {
        try {
          val client = new EsHttpClient(http.copy(discoverNodesOnStart = false))
          try {
            val (status, body) = client.bulk(
              (lines.mkString("\n") + "\n").getBytes(
                java.nio.charset.StandardCharsets.UTF_8))
            if (status >= 300)
              throw new java.io.IOException(
                s"rejection-log _bulk HTTP $status: ${body.take(500)}")
          } finally client.close()
        } catch {
          case e: Exception =>
            System.err.println(
              s"[graft-pipeline] rejection-log ship failed for batch " +
                s"$batchId (${e.getMessage}) — payload spilled to the " +
                "file transport; the file dead-letter stays the durable " +
                "record")
            try spill(payload, batchId)
            catch {
              case e2: Exception => System.err.println(
                s"[graft-pipeline] rejection spill also failed: ${e2.getMessage}")
            }
        }
      }
    }

  /** [[withRejectionLog]] under an arbitrary payload transport. */
  private[stream] def withRejectionShip(inner: ResponseHandler,
      rl: graft.conf.RejectionLogConfig, ship: (DataFrame, Long) => Unit,
      esMajor: Int, typeName: String): ResponseHandler =
    new ResponseHandler {
      override def onInit(spark: SparkSession,
          cfg: graft.conf.GraftConfig): Unit = inner.onInit(spark, cfg)
      override def onSuccess(actions: DataFrame, batchId: Long): Unit =
        inner.onSuccess(actions, batchId)
      override def onError(actions: DataFrame, batchId: Long): Unit = {
        inner.onError(actions, batchId)
        // item failures arrive with the server's `_bulk_error`
        // (EsBulkSink.handleResponse*); the bad-split class (no doc key)
        // has no server text — stamp the reason
        val err =
          if (actions.columns.contains("_bulk_error")) col("_bulk_error")
          else lit("invalid action: missing doc id or index name")
        val bodyFields =
          Seq(col("index_name").as("rejected_index"), err.as("error")) ++
            (if (rl.includeSource) Seq(col("source").as("source")) else Nil)
        val rej = actions.select(
          lit("index").as("action_type"),
          // key-less rejects still need a deterministic `_id` (replays
          // must clobber, not duplicate): derive one from the event id
          coalesce(col("doc_id"), concat(lit("event-"), col("event_id")))
            .as("doc_id"),
          lit(rl.index).as("index_name"),
          to_json(struct(bodyFields: _*)).as("source"))
        val payload =
          (if (esMajor < 8)
            CdcOps.versionGatedMeta(rej, lit(esMajor), typeName)
          else CdcOps.ndjsonEncode(rej))
            .select(concat_ws("\n", col("meta"), col("source")).as("value"))
        ship(payload, batchId)
      }
    }

  /** Config-derived handler assembly, shared by every config-driven
    * entry (Pipeline.run/runTyped and Connector.newConnector): the
    * explicit handler (or the file dead-letter default), wrapped with
    * the RejectionLog route when the config declares one.
    */
  private[graft] def forConfig(cfg: graft.conf.GraftConfig,
      explicit: Option[ResponseHandler], deadLetterDir: String,
      bulkOutDir: String): ResponseHandler = {
    val inner = explicit.getOrElse(deadLetter(deadLetterDir))
    cfg.es.rejectionLog match {
      case Some(rl) => withRejectionLog(inner, rl, bulkOutDir,
        cfg.es.esMajorVersion, cfg.es.typeNameOrDefault)
      case None => inner
    }
  }
}

/** S3/R1 — the bulk sink: NDJSON `_bulk` payload files + dead-letter split.
  * File output stands in for the HTTP `_bulk` call (zero-egress harness);
  * the payload bytes are exactly what the reference posts
  * (bulk.go:176-245).
  */
object EsBulkSink {

  /** A batch write ≙ one flush (bulk.go:253-278):
    * 1. in-batch last-write-wins dedup (B1);
    * 2. R1 demux: invalid actions (no doc id / no index) → dead-letter
    *    parquet (OnError); valid → bulk payload (OnSuccess path);
    * 3. B5: exactly `concurrentRequest` output partitions, each written as
    *    one NDJSON file ≙ one concurrent `_bulk` request.
    */
  def writeBatch(batch: DataFrame, batchId: Long, bulkOutDir: String,
      deadLetterDir: String, concurrentRequest: Int): Unit =
    writeBatch(batch, batchId, bulkOutDir,
      ResponseHandler.deadLetter(deadLetterDir), concurrentRequest)

  /** R1 per-action response demux — the reference's handleResponse
    * (bulk.go:392-411) over the item-level error map that joinErrors
    * extracts from a `_bulk` response body (bulk.go:321-378): actions are
    * keyed `_id:_index` (`_id:_index:_routing` when the action carries
    * routing, getActionKey bulk.go:413-419); keys present in `errors`
    * route to OnError with the error text attached as `_bulk_error`, the
    * rest to OnSuccess — a mid-bulk item failure fails ONLY its item.
    *
    * The zero-egress file sink cannot produce item-level failures (a file
    * write is all-or-nothing), so `writeBatch` does not call this on its
    * own: a real HTTP sink parses the response body into `errors`; tests
    * exercise the demux by fault-injecting synthetic error maps. The
    * error map is driver-side and small (only failed items), so it joins
    * as a broadcast.
    */
  def handleResponse(actions: DataFrame, errors: Map[String, String],
      responseHandler: ResponseHandler, batchId: Long): Unit = {
    if (errors.isEmpty) {
      responseHandler.onSuccess(actions, batchId)
      return
    }
    val spark = actions.sparkSession
    import spark.implicits._
    val idIdx = concat_ws(":", col("doc_id"), col("index_name"))
    val key =
      if (actions.columns.contains("routing"))
        when(col("routing").isNotNull,
          concat_ws(":", col("doc_id"), col("index_name"), col("routing")))
          .otherwise(idIdx)
      else idIdx
    val errDf = broadcast(errors.toSeq.toDF("_action_key", "_bulk_error"))
    // cache: both demux branches scan the keyed frame once
    val keyed = actions.withColumn("_action_key", key).cache()
    try {
      val bad = keyed.join(errDf, "_action_key").drop("_action_key")
      val good = keyed.join(errDf, Seq("_action_key"), "left_anti")
        .drop("_action_key")
      responseHandler.onError(bad, batchId)
      responseHandler.onSuccess(good, batchId)
    } finally { keyed.unpersist(); () }
  }

  /** Demux keyed by EVENT id — the HTTP sink's form. A real `_bulk`
    * response does not echo routing, so `_id:_index`-keyed errors are
    * ambiguous between routed siblings (LWW dedups per id:index:ROUTING
    * — the delete-old-routing + index-new-routing CDC pattern keeps two
    * live actions per id:index); the HTTP sink therefore attributes item
    * failures POSITIONALLY within each request and arrives here with
    * exact event ids — no key ambiguity to resolve.
    */
  private[stream] def handleResponseByEventId(actions: DataFrame,
      errors: Map[Long, String], responseHandler: ResponseHandler,
      batchId: Long): Unit = {
    if (errors.isEmpty) {
      responseHandler.onSuccess(actions, batchId)
      return
    }
    val spark = actions.sparkSession
    import spark.implicits._
    val errDf = broadcast(errors.toSeq.toDF("event_id", "_bulk_error"))
    val cached = actions.cache()
    try {
      responseHandler.onError(cached.join(errDf, "event_id"), batchId)
      responseHandler.onSuccess(
        cached.join(errDf, Seq("event_id"), "left_anti"), batchId)
    } finally { cached.unpersist(); () }
  }

  /** Shared flush prologue of the file and HTTP sinks — bad-key demux →
    * LWW dedup (cached: the window runs once per flush) → version-gated
    * NDJSON encode — so the two transports can never drift on WHAT they
    * ship. Returns (deduped, payload(event_id, value)); the caller owns
    * `deduped.unpersist()`. The demux runs BEFORE dedup: a null doc key
    * is not a document identity, so key-less actions must not collapse
    * into one null-keyed window row. concat_ws skips NULLs: deletes emit
    * the meta line only (bulk.go:231-235).
    */
  private[stream] def flushPrologue(cached: DataFrame, batchId: Long,
      responseHandler: ResponseHandler, esMajor: Int, typeName: String)
      : (DataFrame, DataFrame) = {
    val bad = cached.filter(col("doc_id").isNull || col("index_name").isNull)
    if (!bad.isEmpty) responseHandler.onError(bad, batchId)
    val deduped = CdcOps.dedupLastWriteWins(
      cached.filter(col("doc_id").isNotNull && col("index_name").isNotNull))
      .cache()
    // X2: `_type` in the action metadata only for ES major < 8
    // (bulk.go:194-206,227-230; version from config ≙ Info-API detect)
    val payload =
      (if (esMajor < 8) CdcOps.versionGatedMeta(deduped, lit(esMajor), typeName)
       else CdcOps.ndjsonEncode(deduped))
      .select(col("event_id"),
        concat_ws("\n", col("meta"), col("source")).as("value"))
    (deduped, payload)
  }

  /** B2 flush-split arithmetic (bulk.go:164-173), shared by both sinks:
    * requests sized so none exceeds the byte/count limit, never fewer
    * than `concurrentRequest`.
    */
  private[stream] def requestSplit(totalBytes: Long, nActions: Long,
      concurrentRequest: Int, batchByteSizeLimit: Long,
      batchSizeLimit: Int): Int =
    if (batchByteSizeLimit <= 0L && batchSizeLimit <= 0) concurrentRequest
    else {
      val byBytes =
        if (batchByteSizeLimit <= 0L) 1
        else math.ceil(totalBytes.toDouble / batchByteSizeLimit).toInt
      val byCount =
        if (batchSizeLimit <= 0) 1
        else math.ceil(nActions.toDouble / batchSizeLimit).toInt
      math.max(concurrentRequest, math.max(byBytes, byCount))
    }

  def writeBatch(batch: DataFrame, batchId: Long, bulkOutDir: String,
      responseHandler: ResponseHandler, concurrentRequest: Int,
      esMajor: Int = 8, typeName: String = "_doc",
      batchByteSizeLimit: Long = 0L, batchSizeLimit: Int = 0): Unit = {
    // Two-level cache, both measured on the 1M-event load test: the raw
    // batch feeds the bad-split probe AND the dedup window (recomputing
    // the upstream chain twice loses to one materialization), and the
    // post-dedup frame feeds three consumers (payload write, metrics,
    // OnSuccess) — caching it runs the dedup window once per flush.
    // Both registrations happen INSIDE the try so a failure anywhere
    // (incl. the dead-letter write) still unpersists in finally — a
    // streaming engine retries failed batches, and a leak per retry
    // accumulates for the life of the query.
    // opt-in per-stage walls (`spark.graft.sink.verbose=true`) — the
    // pgcapture.verbose precedent, one level deeper: the first question
    // about a slow sink batch is which of cache-build / dedup / write
    // owns the wall
    def staged[T](name: String)(f: => T): T =
      if (!batch.sparkSession.conf.getOption("spark.graft.sink.verbose")
          .contains("true")) f
      else {
        import scala.jdk.CollectionConverters._
        def gcMs = java.lang.management.ManagementFactory
          .getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum
        val g0 = gcMs
        val t0 = System.nanoTime()
        val r = f
        System.err.println(
          f"[sink] $name%-18s ${(System.nanoTime() - t0) / 1e9}%.2f s " +
            f"(gc ${(gcMs - g0) / 1000.0}%.1f s)")
        r
      }
    val cached = batch.cache()
    var deduped: DataFrame = null
    try {
      // force the cache with one full pass BEFORE the demux probe, so the
      // whole upstream-chain materialization lands in ONE named stage
      // (the probe's early-terminating isEmpty otherwise caches only the
      // partitions it touches and smears the build across later
      // consumers, which makes a slow batch unattributable). Measured on
      // the 4M-event pgoutput batch: this build IS the sink's dominant
      // cost (25-28 s of a ~37 s sink wall; payload write 8-9 s) — the
      // reason batch sizing, not sink tuning, is the throughput knob
      // (README "size the admission knobs").
      staged("cache_build")(cached.count())
      val (d, payloadWithId) = staged("prologue")(flushPrologue(cached, batchId,
        responseHandler, esMajor, typeName))
      deduped = d
      val payload = payloadWithId.select("value")
      // B2 flush triggers: when a byte and/or action-count limit is set,
      // size the bulk-request split so no single `_bulk` file exceeds
      // either — payload sized in UTF-8 BYTES (octet_length; the
      // reference counts bytes, not chars). One tiny post-agg collect
      // computes both measures; skipped entirely when no limit binds.
      // The per-file bound is approximate under row-size skew
      // (round-robin balances rows). When the limits bind, nRequests
      // EXCEEDS concurrentRequest: the file sink writes all splits in
      // parallel tasks (for files the split is about per-request
      // byte/count bounds, not in-flight concurrency — the HTTP sink
      // caps in-flight separately, see EsHttpSink).
      val nRequests =
        if (batchByteSizeLimit <= 0L && batchSizeLimit <= 0)
          concurrentRequest
        else {
          val m = payload
            .agg(sum(octet_length(col("value"))), count(lit(1))).collect()(0)
          requestSplit(if (m.isNullAt(0)) 0L else m.getLong(0), m.getLong(1),
            concurrentRequest, batchByteSizeLimit, batchSizeLimit)
        }
      // overwrite INTO the per-batch directory: a replayed batch (failure
      // after partial write, before checkpoint commit) clobbers its own
      // partial output instead of duplicating it — effectively-once files
      // on top of the at-least-once ack contract
      staged("payload_write")(payload
        .repartition(nRequests)
        .write.mode("overwrite")
        .text(s"$bulkOutDir/batch_$batchId"))
      // R3 per-index action counters (metric.go:56-96): one tiny agg over
      // the cached batch after the flush succeeds. At-least-once like the
      // reference (its counters bump in handleResponse BEFORE the LSN ack,
      // bulk.go:392-411 vs 271-276): a crash between flush and checkpoint
      // commit replays the batch and re-counts it.
      staged("metrics_agg")(deduped.groupBy("index_name", "action_type").count()
        .collect()
        .foreach(r => Metrics.record(r.getString(0), r.getString(1), r.getLong(2))))
      staged("on_success")(responseHandler.onSuccess(deduped, batchId))
    } finally {
      if (deduped != null) deduped.unpersist()
      cached.unpersist()
      ()
    }
  }
}
