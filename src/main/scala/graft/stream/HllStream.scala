package graft.stream

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import graft.ops.PretrainOps

/** Streaming distinct-cardinality monitoring — cross-batch HyperLogLog
  * accumulation, the stateful sibling of [[ManifestStream]] with MAX
  * where the manifest uses SUM+XOR: each micro-batch max-merges its own
  * (source, bucket, m) registers into the latest prior COMPACTED state
  * and writes the result as `_regs/b_<id>` — so the running "distinct
  * grams per source" number covers everything ever ingested while
  * PER-BATCH state I/O stays O(S · [[graft.ops.PretrainOps.HllM]])
  * registers regardless of how long the stream has run (the per-batch-
  * delta form re-read the whole version history each batch — quadratic
  * cumulative I/O with batch count), never a distinct shuffle, never
  * the corpus.
  *
  * Replay safety is STRUCTURAL, stronger than the [[VersionedState]]
  * contract it also rides: max-merge is idempotent, so even re-folding
  * a replayed batch's registers cannot move the estimate (the spec
  * replays one and asserts equality). A restart resumes from the
  * compacted state.
  */
object HllStream {

  def run(spark: SparkSession, docsDir: String, outDir: String,
      checkpointDir: String,
      trigger: Trigger = Trigger.AvailableNow()): StreamingQuery =
    StreamQuery.batches(
        StreamQuery.files(spark, StreamQuery.sourcedDocSchema, docsDir),
        "hll-stream", checkpointDir, trigger) { (batch, batchId) =>
      // COMPACTED running state, not per-batch deltas: b_<id> holds the
      // max-merge of every batch ≤ id, so each batch reads exactly ONE
      // prior version instead of re-merging the whole history — per-batch
      // I/O stays O(S·HllM) over the stream's life where the delta form
      // grew quadratically with batch count.
      val regsRoot = s"$outDir/_regs"
      // b_<id> changed meaning round-9 from per-batch DELTA to
      // cumulative COMPACTED state. Folding dirs written by the delta
      // scheme would silently treat one delta as the whole history
      // (max-merge just yields smaller registers — no error), so the
      // layout carries a format marker and a resume over unmarked
      // pre-existing state fails LOUDLY instead.
      assertCompactedFormat(spark, regsRoot, batchId)
      val written = VersionedState.fold(spark, regsRoot, batchId) { prior =>
        val mine = PretrainOps.hllRegisters(batch)
        prior.fold(mine)(p => mine.unionByName(p)
          .groupBy("source", "bucket").agg(max("m").as("m")))
      }
      // estimate from the WRITTEN state — re-running the merge plan for
      // a second action would double the aggregation on the ingest path
      PretrainOps.hllEstimates(spark.read.parquet(written))
        .withColumn("batch_id", lit(batchId))
        .write.mode("overwrite").parquet(s"$outDir/estimate/b_$batchId")
    }.start()

  /** Fail loudly when `regsRoot` holds versions written by the retired
    * per-batch-delta layout (no marker file): compacting on top of a
    * delta would silently drop every batch before it. Writes the
    * marker on first contact with an empty root.
    */
  private def assertCompactedFormat(spark: SparkSession, regsRoot: String,
      batchId: Long): Unit = {
    val marker = new org.apache.hadoop.fs.Path(s"$regsRoot/_format_compacted")
    val fs = marker.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(marker)) return
    val priorVersions = VersionedState.idsBefore(spark, regsRoot, batchId)
    require(priorVersions.isEmpty,
      s"$regsRoot holds versions ${priorVersions.mkString(",")} without the " +
        "compacted-format marker: they were written by the retired " +
        "per-batch-delta layout. Re-merging them as compacted state would " +
        "silently undercount. Migrate once (max-merge all b_* into the " +
        "newest id, write _format_compacted) or start a fresh outDir.")
    fs.create(marker, true).close()
  }
}
