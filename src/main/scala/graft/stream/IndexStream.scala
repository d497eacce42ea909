package graft.stream

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.types._

import graft.ops.SimilarityOps

/** Streaming IVF index maintenance: embedding batches arrive as files and
  * are assigned + APPENDED to a [[SimilarityOps.writeIvfIndex]]-layout
  * index — the ingestion half of an always-current ANN serving path
  * (daily crawl embeds in, probe queries read the same directory).
  *
  * The sink is Spark's native file sink, deliberately: it commits each
  * micro-batch through the `_spark_metadata` log, so a replayed batch
  * (crash between write and commit) REPLACES its files instead of
  * double-appending — exactly-once file output without any per-batch
  * directory dance — and it supports `partitionBy`, so the appended
  * files land under the same `centroid=<list>` directories the batch
  * writer uses. A reader going through `spark.read.parquet(indexDir)`
  * honors the metadata log, and [[SimilarityOps.annIvfProbeIndexed]]'s
  * dynamic partition pruning works unchanged over the growing index.
  *
  * The centroids are FROZEN at stream start (plan literals, the
  * [[SimilarityOps.ivfTrain]] output): an IVF index's lists are defined
  * by its quantizer, so retraining means rebuilding the index — at scale
  * that is a scheduled batch job producing a NEW index directory, never
  * an in-place mutation under live readers.
  */
object IndexStream {

  val embSchema: StructType = StructType(Seq(
    StructField("vec_id", LongType),
    StructField("embedding", ArrayType(FloatType)),
    StructField("label", IntegerType)
  ))

  /** Refuse to append into a BATCH-written index: the file sink's
    * _spark_metadata log, once created, becomes the exclusive file
    * listing for readers — every vector the batch writer put there
    * would silently vanish from probe results. Loud beats silently
    * wrong; seed a streamed index through the stream itself (or keep
    * batch and streamed indexes in separate directories).
    */
  private def guardStreamedDir(spark: SparkSession, indexDir: String,
      markerColumn: String): Unit = {
    val dirPath = new org.apache.hadoop.fs.Path(indexDir)
    val fs = dirPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(dirPath) && fs.listStatus(dirPath).nonEmpty) {
      if (!fs.exists(new org.apache.hadoop.fs.Path(dirPath, "_spark_metadata")))
        throw new IllegalStateException(
          s"$indexDir holds non-streamed files (no _spark_metadata): appending " +
            "a streaming sink here would hide every batch-written vector from " +
            "readers. Use a fresh directory for the streamed index, or rebuild " +
            "it through the stream from the start.")
      // flavor check: an exact-vector index and a PQ-coded one share the
      // layout but not the row schema — appending the wrong flavor passes
      // the metadata-log check and then either silently skips batches
      // (same checkpoint) or mixes schemas (fresh checkpoint). Loud here.
      // Only an empty/schema-less directory (AnalysisException from schema
      // inference) may skip the flavor check; anything else — OOM, interrupt,
      // corrupt footer — must propagate, or a broken index would silently
      // pass the guard that exists to fail loudly.
      val cols =
        try spark.read.parquet(indexDir).columns.toSet
        catch { case _: org.apache.spark.sql.AnalysisException => Set.empty[String] }
      if (cols.nonEmpty && !cols.contains(markerColumn))
        throw new IllegalStateException(
          s"$indexDir holds a different index flavor (existing columns " +
            s"$cols lack '$markerColumn'): exact-vector and PQ-coded " +
            "appenders must not share a directory. Use a fresh directory " +
            "for this flavor.")
    }
  }

  private def startIndexStream(spark: SparkSession, embDir: String,
      indexDir: String, checkpointDir: String, kind: String,
      trigger: Trigger,
      markerColumn: String,
      rows: org.apache.spark.sql.DataFrame => org.apache.spark.sql.DataFrame)
      : StreamingQuery = {
    guardStreamedDir(spark, indexDir, markerColumn)
    StreamQuery.writer(rows(StreamQuery.files(spark, embSchema, embDir)),
        kind, checkpointDir, trigger)
      .format("parquet")
      .partitionBy("centroid")
      .option("path", indexDir)
      .start()
  }

  def run(spark: SparkSession, embDir: String, indexDir: String,
      checkpointDir: String,
      centroids: Seq[IndexedSeq[Double]] = SimilarityOps.defaultCentroids,
      trigger: Trigger = Trigger.AvailableNow()): StreamingQuery =
    startIndexStream(spark, embDir, indexDir, checkpointDir,
      "ivf-index-stream", trigger, markerColumn = "emb_d",
      SimilarityOps.ivfIndexRows(_, centroids))

  /** The IVFADC (PQ-coded) appender: identical exactly-once layout to
    * [[run]], but the appended rows carry only the M PQ codes — the
    * streamed index stays ~32× smaller than the exact-vector one and is
    * served by [[SimilarityOps.annIvfPqProbeIndexed]] unchanged. The
    * codebook freezes with the centroids at stream start (same rationale:
    * codes are defined by their codebook; retraining ⇒ a new index
    * directory, never in-place mutation under live readers).
    */
  def runPq(spark: SparkSession, embDir: String, indexDir: String,
      checkpointDir: String,
      centroids: Seq[IndexedSeq[Double]] = SimilarityOps.defaultCentroids,
      codebook: Array[Double] = SimilarityOps.defaultPqCodebook,
      trigger: Trigger = Trigger.AvailableNow()): StreamingQuery =
    startIndexStream(spark, embDir, indexDir, checkpointDir,
      "ivfpq-index-stream", trigger, markerColumn = "codes",
      SimilarityOps.ivfPqIndexRows(_, centroids, codebook))
}
