package graft.stream

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}

/** The versioned-parquet streaming-state contract: a stream that carries
  * state between micro-batches keeps it as parquet versions
  * `root/b_<batchId>`, and every such store obeys three rules.
  *
  *   - READ BELOW: batch B reads only versions with id < B. A replayed
  *     batch (crash between its write and the checkpoint commit) must
  *     never see its own partial write.
  *   - OVERWRITE: batch B writes exactly `b_B`, with overwrite. A replay
  *     re-reads the same prior with the same input and rewrites the same
  *     version — at-least-once in, effectively-once out, the contract of
  *     the bulk sink's per-batch directories. This holds for folds that
  *     are not idempotent (a SUM re-applied to its own output would
  *     double-count), because a replay never reads its own output.
  *   - PRUNE (snapshot stores): once `b_B` is durable, versions below the
  *     one B read are unreachable — only the newest batch is ever
  *     replayed, and it re-reads that prior — so a snapshot store holds
  *     at most two versions.
  *
  * SNAPSHOT stores (each version is the whole fold through its batch;
  * written by [[fold]], which prunes): CmsStream `_counters`, HllStream
  * `_regs`, SketchStream `_sketch`, ValidateStream `_rules`, PassStream
  * and PrefStream `_state`, ManifestStream `_manifest`, TrainStream
  * `_weights`, BudgetStream and SampleStream.runMixture `_totals`;
  * PgCaptureStream `_pgstate` and IncCleanStream `_docs`/`_state`/`clean`
  * apply the same prune by hand. SaStream `_sa` is a snapshot store kept
  * UNPRUNED: [[SaStream.latestArray]] serves older versions by id.
  *
  * DELTA stores (each version holds only its batch's additions; readers
  * union [[allBefore]], so nothing is pruned): CleanStream `_hashes`,
  * UrlStream `_seen`, PrefStream `_sims`, ScrubStream `_linedf`,
  * SaStream `_docs`.
  */
object VersionedState {

  /** Version ids present under `root` that are `< batchId`, ascending. */
  def idsBefore(spark: SparkSession, root: String, batchId: Long): Seq[Long] = {
    val rootPath = new Path(root)
    val fs = rootPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(rootPath)) Seq.empty
    else fs.listStatus(rootPath).toSeq
      .map(_.getPath.getName)
      .collect { case n if n.startsWith("b_") => n.drop(2).toLong }
      .filter(_ < batchId)
      .sorted
  }

  /** Path of the NEWEST version strictly before `batchId`, if any. */
  def latestBefore(spark: SparkSession, root: String,
      batchId: Long): Option[String] =
    idsBefore(spark, root, batchId).lastOption.map(j => s"$root/b_$j")

  /** Paths of ALL versions strictly before `batchId`, ascending — the
    * delta-store read.
    */
  def allBefore(spark: SparkSession, root: String,
      batchId: Long): Seq[String] =
    idsBefore(spark, root, batchId).map(j => s"$root/b_$j")

  /** The write-side path for this batch's version. */
  def versionDir(root: String, batchId: Long): String = s"$root/b_$batchId"

  /** The newest version under `root` — the query face of a snapshot
    * store. `owner` names the caller in the no-state error.
    */
  def latest(spark: SparkSession, root: String, owner: String): DataFrame =
    spark.read.parquet(latestBefore(spark, root, Long.MaxValue)
      .getOrElse(sys.error(s"$owner: no state under $root")))

  /** One batch's step of a snapshot store: `step` gets the newest version
    * below `batchId` (None on the first batch) and returns the new
    * snapshot, which overwrites `b_<batchId>`; then the versions below the
    * one read are pruned (`pruned = false` keeps them). Returns the
    * written path, for read-back.
    */
  def fold(spark: SparkSession, root: String, batchId: Long,
      pruned: Boolean = true)(step: Option[DataFrame] => DataFrame): String = {
    val prior = idsBefore(spark, root, batchId).lastOption
    val out = versionDir(root, batchId)
    step(prior.map(id => spark.read.parquet(versionDir(root, id))))
      .write.mode("overwrite").parquet(out)
    if (pruned) prior.foreach(prune(spark, root, _))
    out
  }

  /** Compaction sweep for a snapshot store: delete versions with id <
    * `keepFrom`. Deletion failures are swallowed: a leftover version is
    * dead weight, never wrong (reads resolve by NEWEST id).
    */
  def prune(spark: SparkSession, root: String, keepFrom: Long): Unit = {
    val rootPath = new Path(root)
    val fs = rootPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    idsBefore(spark, root, keepFrom).foreach { id =>
      try { fs.delete(new Path(versionDir(root, id)), true); () }
      catch { case _: Exception => () }
    }
  }
}
