package graft.stream

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.streaming.{DataStreamWriter, StreamingQuery, StreamingQueryListener, Trigger}
import org.apache.spark.sql.types._

/** The one streaming-query skeleton every `graft.stream` entry is built
  * on — the Structured Streaming shape (SIGMOD 2018): a replayable
  * source, a per-batch body, an idempotent sink. An entry keeps only its
  * own body; the setup decisions live here once:
  *
  *   - [[files]]: the file source — a fixed schema, ONE file per trigger
  *     (a landed file ≙ a capture segment ≙ one micro-batch; the file
  *     source's offset log is the replay position).
  *   - [[writer]] / [[batches]]: the query name `graft-<kind>-<suffix>`
  *     ([[QueryNames]]: unique per checkpoint, stable across restarts),
  *     the checkpoint location and the trigger. Both return the
  *     configured writer and the ENTRY calls `.start()`: Spark stamps
  *     every job of a streaming query with the source line that called
  *     `start()`, so per-file job attribution (Spark UI, the perfbench
  *     `jobs_s.<file>` split) keeps naming the entry, not this file.
  *   - [[withStatics]]: cached frames that live exactly as long as the
  *     query (a stream-static join's history side).
  *   - the session's [[Metrics.Listener]], attached once by [[writer]].
  *
  * The per-batch state step is [[VersionedState.fold]].
  */
private[stream] object StreamQuery {

  /** (doc_id, text, source): the document-file schema most streams read. */
  val sourcedDocSchema: StructType = StructType(Seq(
    StructField("doc_id", LongType),
    StructField("text", StringType),
    StructField("source", StringType)))

  /** Parquet files landing in `dir`, admitted one file per micro-batch. */
  def files(spark: SparkSession, schema: StructType, dir: String): DataFrame =
    spark.readStream
      .schema(schema)
      .option("maxFilesPerTrigger", 1)
      .parquet(dir)

  /** `source`'s writer, named `graft-<kind>-<suffix>` and checkpointed
    * at `checkpointDir`. The caller adds its sink and calls `.start()`.
    */
  def writer(source: DataFrame, kind: String, checkpointDir: String,
      trigger: Trigger): DataStreamWriter[Row] = {
    registerMetrics(source.sparkSession)
    source.writeStream
      .queryName(QueryNames.of(kind, checkpointDir))
      .option("checkpointLocation", checkpointDir)
      .trigger(trigger)
  }

  /** [[writer]] with a `foreachBatch` body. */
  def batches(source: DataFrame, kind: String, checkpointDir: String,
      trigger: Trigger)(body: (DataFrame, Long) => Unit): DataStreamWriter[Row] =
    writer(source, kind, checkpointDir, trigger).foreachBatch(body)

  /** Run `start` with `statics` cached for the query's lifetime: they
    * are unpersisted if `start` throws, and again once the query
    * terminates — the streaming analog of a try/finally around a batch
    * job's cache. Without it a static outlives its stopped query for the
    * life of the SparkSession.
    */
  def withStatics(spark: SparkSession, statics: DataFrame*)(
      start: => StreamingQuery): StreamingQuery = {
    def free(): Unit = statics.foreach(_.unpersist())
    val q = try start catch { case t: Throwable => free(); throw t }
    val listener = new StreamingQueryListener {
      import StreamingQueryListener._
      override def onQueryStarted(e: QueryStartedEvent): Unit = ()
      override def onQueryProgress(e: QueryProgressEvent): Unit = ()
      override def onQueryTerminated(e: QueryTerminatedEvent): Unit =
        if (e.id == q.id) {
          free()
          spark.streams.removeListener(this)
        }
    }
    spark.streams.addListener(listener)
    // the terminated event can be dispatched BEFORE addListener completes
    // (an AvailableNow query over an empty dir finishes in milliseconds):
    // clean up here too. A double free is harmless — unpersist is
    // idempotent and removing a removed listener is a no-op.
    if (!q.isActive) {
      free()
      spark.streams.removeListener(listener)
    }
    q
  }

  // per-SESSION registration (weak: sessions must stay collectable), not a
  // JVM-global one-shot — with the global flag only the FIRST session ever
  // got a listener, and after it stopped every later session's gauges froze
  private val metricsSessions = java.util.Collections.newSetFromMap(
    new java.util.WeakHashMap[SparkSession, java.lang.Boolean]())

  /** Attach one [[Metrics.Listener]] to `spark`'s streams, once. */
  private def registerMetrics(spark: SparkSession): Unit =
    metricsSessions.synchronized {
      if (metricsSessions.add(spark)) spark.streams.addListener(new Metrics.Listener)
    }
}
