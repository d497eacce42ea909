package graft.stream

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.functions._

import graft.ops.ProfileOps

/** Streaming data-quality monitoring — the live face of
  * [[graft.ops.ProfileOps.validateCorpus]]: every ingested micro-batch
  * contributes its constraint-violation counts, and the running rule
  * table (5 rows) answers "has ANYTHING bad ever entered this corpus"
  * at any time — the alarm a production ingest wires to paging, since
  * a violation discovered at training time is a cluster-day late.
  *
  * Counts merge by SUM into a [[VersionedState]] snapshot store
  * (replay-safe by its contract although SUM is not idempotent). One
  * honest caveat, stated rather than papered over:
  * `pk_unique` is counted WITHIN each batch — a duplicate key split
  * across two batches is invisible to this monitor (detecting it
  * exactly needs per-key state, which is [[DedupStream]]'s job — the
  * incremental-dedup legs are precisely that machinery; this monitor
  * is the cheap O(rules) screen in front of it).
  */
object ValidateStream {

  import org.apache.spark.sql.types._
  val docSchema: StructType = StructType(Seq(
    StructField("doc_id", LongType),
    StructField("text", StringType),
    StructField("lang", StringType),
    StructField("source", StringType),
    StructField("n_chars", LongType)))

  def run(spark: SparkSession, docsDir: String, outDir: String,
      checkpointDir: String,
      trigger: Trigger = Trigger.AvailableNow()): StreamingQuery =
    StreamQuery.batches(StreamQuery.files(spark, docSchema, docsDir),
        "validate-stream", checkpointDir, trigger) { (batch, batchId) =>
      VersionedState.fold(spark, s"$outDir/_rules", batchId) { prior =>
        val mine = ProfileOps.validateCorpus(batch)
        prior.fold(mine)(p => mine.unionByName(p)
          .groupBy("rule").agg(sum("n_violations").as("n_violations")))
      }
    }.start()

  /** The current running rule table over everything ever ingested. */
  def current(spark: SparkSession, outDir: String): DataFrame =
    VersionedState.latest(spark, s"$outDir/_rules", "ValidateStream.current")
}
