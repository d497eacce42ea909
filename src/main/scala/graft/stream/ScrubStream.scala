package graft.stream

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.functions._

import graft.ops.TextOps

/** Streaming boilerplate-line accumulation — the live face of
  * [[graft.ops.TextOps.scrubBoilerplateLines]]'s document-frequency
  * index: each micro-batch APPENDS its per-line (hash, df-contribution)
  * counts as a delta (`outDir/_linedf/b_<id>`, a [[VersionedState]]
  * DELTA store — per-batch I/O is O(batch), never
  * O(distinct lines ever seen), which is what a compacted merge would
  * cost here because line vocabulary grows with the corpus). The
  * query face sums deltas; the ACTION face ([[scrubAgainst]]) applies
  * the FROZEN accumulated df to a document batch — production scrubs
  * with a trailing index (a line becomes boilerplate only after enough
  * distinct docs carried it), exactly like the frozen-λ/frozen-stats
  * apply faces.
  */
object ScrubStream {

  def run(spark: SparkSession, docsDir: String, outDir: String,
      checkpointDir: String,
      trigger: Trigger = Trigger.AvailableNow()): StreamingQuery =
    StreamQuery.batches(
        StreamQuery.files(spark, StreamQuery.sourcedDocSchema, docsDir),
        "scrub-stream", checkpointDir, trigger) { (batch, batchId) =>
      TextOps.lineDfCounts(batch).write.mode("overwrite")
        .parquet(VersionedState.versionDir(s"$outDir/_linedf", batchId))
    }.start()

  /** The accumulated line-df table over everything ingested. */
  def currentDf(spark: SparkSession, outDir: String): DataFrame = {
    val root = s"$outDir/_linedf"
    val dirs = VersionedState.allBefore(spark, root, Long.MaxValue)
    require(dirs.nonEmpty, s"ScrubStream.currentDf: no state under $root")
    spark.read.parquet(dirs: _*)
      .groupBy("h").agg(sum("df").as("df"))
  }

  /** Scrub `docs` against the FROZEN accumulated df: lines whose
    * corpus-wide document frequency has reached
    * [[graft.ops.TextOps.LineDupDocFreq]] are dropped, docs rebuilt in
    * line order — identical semantics to the batch op when the state
    * covers exactly `docs` (spec-asserted).
    */
  def scrubAgainst(spark: SparkSession, outDir: String,
      docs: DataFrame): DataFrame =
    TextOps.scrubWithBoilerplate(docs,
      currentDf(spark, outDir)
        .filter(col("df") >= TextOps.LineDupDocFreq)
        .select(col("h"), lit(true).as("bp")))
}
