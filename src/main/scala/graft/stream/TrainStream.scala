package graft.stream

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.types.StructType

import graft.ops.TextOps

/** Streaming (online-SGD) training of the linear quality classifier —
  * the continuous face of [[graft.ops.TextOps.qualityLinearTrain]]: doc
  * batches land as files, and each micro-batch takes ONE gradient step
  * at the weights learned so far (not the seed — this is sequential SGD,
  * the way an always-on quality model actually tracks a drifting crawl).
  *
  * Each batch is the [[graft.ops.TextOps.qualityLinearTrainStepWith]]
  * distributed agg (gopher silver labels, fast-sigmoid residuals,
  * ≤1024-key map-side-combined gradient); only the bucket-gradient rows
  * and a 1-row count reach the driver, and the update arithmetic is
  * [[graft.ops.TextOps.applyGradient]] — the batch trainer's exact
  * integer-micro rule, one definition point, so a two-batch stream is
  * BY CONSTRUCTION the same fold as two sequential driver steps (the
  * spec asserts equality against that composition, across a restart).
  *
  * State is the 1024-row weight vector as a [[VersionedState]] snapshot
  * store under `outDir/_weights` (a replayed batch re-reads its
  * predecessor and recomputes the identical step — it cannot
  * double-step), and `outDir/current` republishes the newest weights
  * for a serving-side [[graft.ops.TextOps.qualityLinearScoreWith]] to
  * pick up. Unlike the manifest's XOR fold this one is ORDER-SENSITIVE
  * (SGD), which is exactly why it must ride the checkpoint's serialized
  * batch order rather than any associative merge.
  */
object TrainStream {

  val docSchema: StructType = StreamQuery.sourcedDocSchema

  private def weightsOf(state: DataFrame): Map[Long, Long] =
    state.select("bucket", "w_micro").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap

  def run(spark: SparkSession, docsDir: String, outDir: String,
      checkpointDir: String,
      trigger: Trigger = Trigger.AvailableNow()): StreamingQuery =
    StreamQuery.batches(StreamQuery.files(spark, docSchema, docsDir),
        "train-stream", checkpointDir, trigger) { (batch, batchId) =>
      import spark.implicits._
      val written = VersionedState.fold(spark, s"$outDir/_weights", batchId) {
        prior =>
          val weights = prior.map(weightsOf).getOrElse(TextOps.seedWeightsMicro)
          val grads = TextOps.qualityLinearTrainStepWith(batch, Some(weights))
            .collect()
            .map(r => r.getAs[Long]("bucket") -> r.getAs[Long]("grad_micro"))
            .toSeq
          TextOps.applyGradient(weights, grads, batch.count()).toSeq
            .toDF("bucket", "w_micro").coalesce(1)
      }
      // publish from the read-back snapshot — replay-idempotent overwrite
      spark.read.parquet(written)
        .coalesce(1).write.mode("overwrite").parquet(s"$outDir/current")
    }.start()
}
