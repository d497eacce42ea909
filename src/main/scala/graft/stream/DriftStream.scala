package graft.stream

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.types.StructType

import graft.ops.PretrainOps

/** Streaming embedding-drift monitoring — the frozen-reference face of
  * [[graft.ops.PretrainOps.embedDrift]]: the reference per-dimension
  * means train ONCE batch-side ([[graft.ops.PretrainOps.embedDriftRef]],
  * a D-row artifact) and every arriving embedding batch is checked
  * against them by [[graft.ops.PretrainOps.embedDriftWith]] — one
  * dim-keyed map-side-combined agg per micro-batch, D rows out. This is
  * the production deployment of the monitor: the gate RUNS where the
  * embeddings arrive (the ingest stream), not where the reference was
  * computed, and an alert (any `drifted` row) fires before the
  * cosine-threshold operators consume a mixed space.
  *
  * Stateless like [[ScoreStream]]: the reference is immutable, so
  * exactly-once needs only per-batch overwrite (`outDir/b_<id>`); a
  * replayed batch rewrites identical rows. The latest monitor table is
  * published through a VERSIONED POINTER — `outDir/_latest` names the
  * newest `b_<id>` and [[current]] resolves it — because republishing a
  * `current` directory via overwrite is not atomic (the dir is deleted
  * then rewritten; a dashboard reading mid-publish fails or sees a
  * partial table), while the pointer is one small file whose create is
  * all-or-nothing and whose target is already fully written.
  */
object DriftStream {

  val embSchema: StructType = IndexStream.embSchema

  def run(spark: SparkSession, embDir: String, outDir: String,
      checkpointDir: String, refMicro: Map[Long, Long],
      trigger: Trigger = Trigger.AvailableNow()): StreamingQuery =
    StreamQuery.batches(StreamQuery.files(spark, embSchema, embDir),
        "drift-stream", checkpointDir, trigger) { (batch, batchId) =>
      PretrainOps.embedDriftWith(batch, refMicro)
        .withColumn("batch_id", lit(batchId))
        .write.mode("overwrite").parquet(s"$outDir/b_$batchId")
      // publish AFTER the table is fully written: flip the pointer to
      // the completed version (single small file, all-or-nothing) —
      // readers resolving through `current` never observe a partial dir
      publishLatest(spark, outDir, batchId)
    }.start()

  /** Flip `outDir/_latest` to name `b_<batchId>` — rename with OVERWRITE
    * (one atomic op; POSIX rename / HDFS overwrite-rename), NOT
    * delete-then-rename, whose window between the two ops is exactly
    * the reader-sees-no-pointer failure the pointer exists to prevent.
    */
  private def publishLatest(spark: SparkSession, outDir: String,
      batchId: Long): Unit = {
    val conf = spark.sparkContext.hadoopConfiguration
    val tmp = new org.apache.hadoop.fs.Path(s"$outDir/_latest.tmp")
    val dst = new org.apache.hadoop.fs.Path(s"$outDir/_latest")
    val fs = dst.getFileSystem(conf)
    val out = fs.create(tmp, true)
    try out.write(s"b_$batchId".getBytes("UTF-8")) finally out.close()
    val fc = org.apache.hadoop.fs.FileContext.getFileContext(
      fs.getUri, conf)
    fc.rename(fs.makeQualified(tmp), fs.makeQualified(dst),
      org.apache.hadoop.fs.Options.Rename.OVERWRITE)
    ()
  }

  /** The latest published monitor table — resolves the `_latest` pointer
    * the stream maintains (the dashboard's read path).
    */
  def current(spark: SparkSession, outDir: String): DataFrame = {
    val fs = new org.apache.hadoop.fs.Path(outDir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val ptr = new org.apache.hadoop.fs.Path(s"$outDir/_latest")
    val in = fs.open(ptr)
    val name = try scala.io.Source.fromInputStream(in, "UTF-8").mkString.trim
      finally in.close()
    spark.read.parquet(s"$outDir/$name")
  }
}
