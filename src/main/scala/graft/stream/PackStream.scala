package graft.stream

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode, StreamingQuery, Trigger}
import org.apache.spark.sql.types.StructType

import graft.ops.{PretrainOps, TextOps}

/** Streaming sequence packing — the continuous-ingestion face of
  * [[graft.ops.PretrainOps.packSequences]]: documents arrive as files,
  * and each is assigned its token window in the per-source packed
  * stream AS IT ARRIVES, with the only cross-batch state being each
  * source's PARTIAL TAIL — the token cursor saying where the next doc
  * starts. This is how a production ingest pipeline packs: the batch
  * operator's whole-corpus prefix-sum window is unavailable mid-stream,
  * but the cursor IS that prefix sum, carried forward.
  *
  * Spark-native state: `flatMapGroupsWithState` keyed by source holds
  * ONE long per source (O(sources) state total — even smaller than
  * [[SampleStream]]'s bounded reservoirs). Within a batch a source's
  * docs are packed in doc_id order (deterministic under replay);
  * across batches, arrival order IS the packing order — a stream has
  * no other. When files arrive in doc_id order (an appending producer,
  * and every spec fixture), the streamed table is ROW-IDENTICAL to the
  * batch [[graft.ops.PretrainOps.packSequences]] over everything
  * ingested, across restarts — the nightly-batch-vs-always-on-stream
  * agreement the manifest builder needs; fill accounting closes the
  * loop through [[graft.ops.PretrainOps.sequenceManifestFrom]], the
  * same aggregation over either table.
  *
  * Exactly-once: the state store versions per batch (a replayed batch
  * re-reads its pre-batch cursor), and the sink overwrites
  * `batch_<id>/` — the [[SampleStream]] replay contract.
  */
object PackStream {

  val docSchema: StructType = StreamQuery.sourcedDocSchema

  private[stream] case class PackIn(doc_id: Long, source: Option[String],
      n_tokens: Long)
  private[stream] case class Cursor(tokens: Long)
  /** One packed doc: the [[graft.ops.PretrainOps.packTokenCounts]] row. */
  case class PackRow(doc_id: Long, source: Option[String], n_tokens: Long,
      tok_start: Long, seq_start: Long, seq_end: Long, seq_offset: Long)

  private val L = PretrainOps.SeqLen

  /** Pack one micro-batch of a source's docs onto its cursor — the
    * batch operator's window arithmetic (`div`/`pmod`, including the
    * zero-token-doc edge) verbatim, seeded at the carried cursor
    * instead of 0.
    */
  private def merge(key: Option[String], rows: Iterator[PackIn],
      state: GroupState[Cursor]): Iterator[PackRow] = {
    var cursor = state.getOption.map(_.tokens).getOrElse(0L)
    val out = rows.toList.sortBy(_.doc_id).map { d =>
      val ts = cursor
      cursor += d.n_tokens
      PackRow(d.doc_id, key, d.n_tokens, ts,
        ts / L, (ts + d.n_tokens - 1) / L, ts % L)
    }
    state.update(Cursor(cursor))
    out.iterator
  }

  def packStream(spark: SparkSession, docsDir: String): DataFrame = {
    import spark.implicits._
    val in = StreamQuery.files(spark, docSchema, docsDir)
    in.select(col("doc_id"), col("source"),
        size(TextOps.toksOf(in)).cast("long").as("n_tokens"))
      .as[PackIn]
      .groupByKey(_.source)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout)(merge)
      .toDF()
  }

  def run(spark: SparkSession, docsDir: String, outDir: String,
      checkpointDir: String,
      trigger: Trigger = Trigger.AvailableNow()): StreamingQuery =
    StreamQuery.batches(packStream(spark, docsDir), "pack-stream",
        checkpointDir, trigger) { (batch, batchId) =>
      batch.withColumn("batch_id", lit(batchId))
        .coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/batch_$batchId")
    }.start()

  /** The full streamed pack table so far: each doc packed exactly once
    * across the per-batch snapshots.
    */
  def packedTable(spark: SparkSession, outDir: String): DataFrame =
    spark.read.parquet(s"$outDir/batch_*")
      .select("doc_id", "source", "n_tokens", "tok_start",
        "seq_start", "seq_end", "seq_offset")
}
