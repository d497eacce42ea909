package graft.stream

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode, StreamingQuery, Trigger}
import org.apache.spark.sql.types._

import graft.ops.{PretrainOps, TextOps}

/** Streaming deterministic reservoir sampling — the continuous-ingestion
  * face of [[graft.ops.PretrainOps.sampleReservoir]]: documents arrive as
  * files of (doc_id, lang, source) and each language stratum keeps the
  * [[graft.ops.PretrainOps.ReservoirN]] docs with the SMALLEST
  * deterministic hash keys seen so far, across micro-batches.
  *
  * Because the admission key is the same pure function of doc_id
  * (`tokenHash("resv:" || doc_id)`, [[PretrainOps.sampleReservoir]]) and
  * the policy is "global top-N by (h, doc_id)", the streaming reservoir
  * CONVERGES: once every file has been processed, the held state is
  * byte-equal to the batch operator's output over the same corpus,
  * regardless of arrival order or batch boundaries. That is the property
  * a manifest builder needs — a nightly batch run and the always-on
  * stream agree on the sample, so either can serve it.
  *
  * Spark-native state: `flatMapGroupsWithState` keyed by stratum holds a
  * BOUNDED sorted list of at most N (h, doc_id, source) triples per
  * language — O(strata × N) state total, independent of corpus size
  * (unlike cross-batch dedup's O(distinct) state; at 100 TB this state
  * still fits on one executor). Each batch merges its rows into the
  * top-N and emits the stratum's full refreshed reservoir, so the sink's
  * LATEST snapshot per stratum is always the current sample. Replayed
  * batches (at-least-once) are harmless: admission is deterministic and
  * the merge dedupes on doc_id, so re-delivery cannot change the state.
  */
object SampleStream {

  val docSchema: StructType = StructType(Seq(
    StructField("doc_id", LongType),
    StructField("lang", StringType),
    StructField("source", StringType)
  ))

  private[stream] case class DocIn(doc_id: Long, lang: Option[String],
      source: Option[String], h: Long)
  private[stream] case class ResvState(entries: List[DocIn])
  /** One reservoir row: the stratum's current rank-`rk` member. */
  case class ResvRow(lang: Option[String], doc_id: Long,
      source: Option[String], h: Long, rk: Long)

  private val ord: Ordering[DocIn] = Ordering.by(e => (e.h, e.doc_id))

  /** Merge one micro-batch of a stratum's docs into its bounded top-N
    * state and emit the refreshed reservoir (ranked). List state is
    * rewritten wholesale per update — fine at N=50; a much larger N
    * would move to the ListState arbitrary-state API to append without
    * rewriting.
    */
  private def merge(key: Option[String], rows: Iterator[DocIn],
      state: GroupState[ResvState]): Iterator[ResvRow] = {
    val prev = state.getOption.map(_.entries).getOrElse(Nil)
    val merged = (prev ++ rows)
      .groupBy(_.doc_id).map(_._2.head) // replay-safe: same doc re-delivered
      .toList.sorted(ord)
      .take(PretrainOps.ReservoirN.toInt)
    if (merged != prev) state.update(ResvState(merged))
    merged.iterator.zipWithIndex.map { case (e, i) =>
      ResvRow(key, e.doc_id, e.source, e.h, i + 1L)
    }
  }

  /** File stream → per-stratum reservoir snapshots. The emitted frame
    * carries, per batch, the FULL current reservoir of every stratum
    * touched by that batch (untouched strata keep their previous
    * snapshot — `flatMapGroupsWithState` only runs for keys present in
    * the batch, which is exactly right: their reservoir cannot have
    * changed).
    */
  def reservoirStream(spark: SparkSession, docsDir: String): DataFrame = {
    import spark.implicits._
    StreamQuery.files(spark, docSchema, docsDir)
      .withColumn("h",
        TextOps.tokenHash(concat(lit("resv:"), col("doc_id").cast("string"))))
      .select(col("doc_id"), col("lang"), col("source"), col("h"))
      .as[DocIn]
      .groupByKey(_.lang)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout)(merge)
      .toDF()
  }

  /** End-to-end: per-batch reservoir snapshots land in
    * `outDir/batch_<id>/` (overwrite — the EsBulkSink replay-idempotence
    * contract), each row stamped with its batch id. The current full
    * sample = latest-batch snapshot per stratum across dirs; the final
    * batch's union equals [[PretrainOps.sampleReservoir]] over
    * everything ingested, for the strata it touched.
    */
  def run(spark: SparkSession, docsDir: String, outDir: String,
      checkpointDir: String,
      trigger: Trigger = Trigger.AvailableNow()): StreamingQuery =
    StreamQuery.batches(reservoirStream(spark, docsDir), "reservoir-stream",
        checkpointDir, trigger) { (batch, batchId) =>
      batch.withColumn("batch_id", lit(batchId))
        .coalesce(1).write.mode("overwrite").parquet(s"$outDir/batch_$batchId")
    }.start()

  // ------------------------------------------------------ mixture stream

  val mixSchema: StructType = StreamQuery.sourcedDocSchema

  /** Streaming domain-mixture admission — the continuous face of
    * [[PretrainOps.sampleMixture]]: each micro-batch's docs are admitted
    * at keep-rates derived from the RUNNING per-source token totals
    * (including the batch itself), so the realized mixture tracks
    * [[PretrainOps.MixTargets]] as the totals converge. Early batches
    * decide under partial totals — inherent to streaming admission (the
    * final rates are unknowable mid-stream); what converges exactly is
    * the rate table: after the last batch it equals the batch
    * operator's global rates, and that batch's decisions match the
    * batch operator's for its docs (spec-asserted).
    *
    * State is NOT a state store: the running totals are a sources-sized
    * [[VersionedState]] snapshot store under `outDir/_totals`
    * (underscore-hidden from output globs), so a replayed batch
    * recomputes identical rates. This is the 100 TB shape for cross-key
    * derived state too small to shard: the rate table is O(sources), so
    * one metadata-scale read-modify-write per batch beats holding it
    * hostage to per-key state semantics.
    *
  * Emits EVERY incoming doc with its decision (keep, keep_rate,
    * weight) — the audit-friendly superset of the batch operator's
    * kept-only output.
    */
  def runMixture(spark: SparkSession, docsDir: String, outDir: String,
      checkpointDir: String,
      trigger: Trigger = Trigger.AvailableNow()): StreamingQuery =
    StreamQuery.batches(StreamQuery.files(spark, mixSchema, docsDir),
        "mixture-stream", checkpointDir, trigger) { (batch, batchId) =>
      val written = VersionedState.fold(spark, s"$outDir/_totals", batchId) {
        prior =>
          val batchStats = PretrainOps.mixTokenTotals(batch)
          prior.fold(batchStats)(p =>
            p.unionByName(batchStats).groupBy("source")
              .agg(sum("src_tokens").as("src_tokens")))
            .coalesce(1)
      }
      // rates from the read-back snapshot (stable under re-planning),
      // covering the batch's own tokens — the batch operator's algebra
      val rates = PretrainOps.mixtureRates(spark.read.parquet(written))
      batch.select(col("doc_id"), col("source"),
          PretrainOps.mixBucket().as("bucket"))
        .join(broadcast(rates), "source")
        .select(col("doc_id"), col("source"), col("bucket"), col("keep_rate"),
          (col("bucket") < col("keep_rate") * lit(PretrainOps.MixBuckets.toDouble))
            .as("keep"),
          (lit(1.0) / col("keep_rate")).as("weight"))
        .withColumn("batch_id", lit(batchId))
        .coalesce(1).write.mode("overwrite").parquet(s"$outDir/batch_$batchId")
    }.start()
}
