package graft.stream

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.functions._

import graft.ops.PretrainOps

/** Streaming token-frequency sketching — cross-batch Count-Min
  * accumulation, the SUM sibling of [[HllStream]]'s max: each
  * micro-batch builds its own d·w counter table
  * ([[graft.ops.PretrainOps.cmsCounters]], one map-side-combined agg),
  * SUM-merges it into the latest prior COMPACTED state, and writes the
  * result as `_counters/b_<id>` — the running sketch covers everything
  * ever ingested while per-batch state I/O stays O(d·w) counters
  * regardless of stream age or vocabulary size.
  *
  * Replay safety: SUM is NOT idempotent (unlike [[HllStream]]'s max),
  * so correctness rests on the [[VersionedState]] contract alone (the
  * spec replays a batch and asserts the counters are unchanged and
  * still equal the batch sketch).
  *
  * The query face is [[estimate]]: resolve the newest version, point-
  * query it ([[graft.ops.PretrainOps.cmsPointQuery]] — estimate ≥ true
  * count, structurally). Production dashboards track heavy-hitter
  * estimates per batch without ever shuffling a vocabulary.
  */
object CmsStream {

  val docSchema: StructType = StreamQuery.sourcedDocSchema

  def run(spark: SparkSession, docsDir: String, outDir: String,
      checkpointDir: String,
      trigger: Trigger = Trigger.AvailableNow()): StreamingQuery =
    StreamQuery.batches(StreamQuery.files(spark, docSchema, docsDir),
        "cms-stream", checkpointDir, trigger) { (batch, batchId) =>
      VersionedState.fold(spark, s"$outDir/_counters", batchId) { prior =>
        val mine = PretrainOps.cmsCounters(batch)
        prior.fold(mine)(p => mine.unionByName(p)
          .groupBy("r", "b").agg(sum("c").as("c")))
      }
    }.start()

  /** Point-query the newest published counter state for `tokens`. */
  def estimate(spark: SparkSession, outDir: String,
      tokens: Seq[String]): DataFrame =
    PretrainOps.cmsPointQuery(VersionedState.latest(spark,
      s"$outDir/_counters", "CmsStream.estimate"), tokens)
}
