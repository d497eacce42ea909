package graft.stream

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import graft.ops.PostTrainOps

/** Streaming preference-pair state — the live face of
  * [[graft.ops.PostTrainOps.dpoPairs]]: candidate documents arrive
  * continuously (a generation service emitting scored samples), and the
  * per-prompt (best, worst, count) state accumulates across
  * micro-batches so the current DPO pair set is queryable at any time.
  *
  * State shape: ≤[[graft.ops.PostTrainOps.NumPromptGroups]] rows of
  * six scalars, COMPACTED per batch under `outDir/_state/b_<id>` — a
  * [[VersionedState]] snapshot store. max/min merge is idempotent but
  * the candidate COUNT sums, so replay safety rests on that contract
  * (spec-asserted byte-identical).
  *
  * The query face is [[pairs]]: resolve the newest state, apply the
  * SHARED emission rule ([[graft.ops.PostTrainOps.pairsFromState]] —
  * min-candidates + positive margin), identical by construction to
  * what batch dpoPairs would emit over everything ingested so far
  * (spec: streamed ≡ batch over the same corpus, and split-invariant).
  */
object PrefStream {

  def run(spark: SparkSession, docsDir: String, outDir: String,
      checkpointDir: String,
      trigger: Trigger = Trigger.AvailableNow()): StreamingQuery =
    StreamQuery.batches(
        StreamQuery.files(spark, StreamQuery.sourcedDocSchema, docsDir),
        "pref-stream", checkpointDir, trigger) { (batch, batchId) =>
      VersionedState.fold(spark, s"$outDir/_state", batchId) { prior =>
        val mine = PostTrainOps.prefState(batch)
        prior.fold(mine)(PostTrainOps.mergePrefStates(mine, _))
      }
      // pair-hygiene index: each batch ALSO appends its docs' simhash
      // signatures (doc_id, simhash — never text) as its own delta,
      // the UrlStream append-only discipline: a replayed batch
      // overwrites only its own version. The batch_id column makes the
      // read-side fold deterministic when a doc_id is RE-ingested in a
      // later batch (changed text → changed signature): latest batch
      // wins, mirroring the doc-store fold — without it the two left
      // joins in [[pairsNodup]] would fan each affected pair into
      // duplicate rows and diverge from batch dpoPairsNodup
      graft.ops.DedupOps.simhashSignature(batch)
        .withColumn("batch_id", lit(batchId))
        .coalesce(1).write.mode("overwrite")
        .parquet(VersionedState.versionDir(s"$outDir/_sims", batchId))
    }.start()

  /** Current DPO pairs over everything ingested so far. */
  def pairs(spark: SparkSession, outDir: String): DataFrame =
    PostTrainOps.pairsFromState(latestState(spark, outDir))

  /** [[pairs]] with the near-dup hygiene gate —
    * [[graft.ops.PostTrainOps.dpoPairsNodup]]'s streaming face: a pair
    * whose chosen and rejected texts are simhash near-duplicates
    * (hamming ≤ [[graft.ops.DedupOps.MaxHamming]]) expresses no real
    * preference and is dropped. The check joins the ≤groups-row pair
    * table against the ACCUMULATED signature index (every doc ever
    * ingested, across restarts) and evaluates the pair's hamming
    * DIRECTLY — exact and cap-free: the batch face's banded join exists
    * to avoid the corpus² pair space, but here the candidate pairs are
    * already enumerated, so the pigeonhole detour (lossless by the
    * hamming < bands argument) is unnecessary. Streamed ≡ batch
    * `dpoPairsNodup` over everything ingested, across a restart —
    * spec-asserted.
    */
  def pairsNodup(spark: SparkSession, outDir: String): DataFrame = {
    val simDirs =
      VersionedState.allBefore(spark, s"$outDir/_sims", Long.MaxValue)
    val p = pairs(spark, outDir)
    if (simDirs.isEmpty) return p
    // fold to ONE signature per doc_id, latest batch wins: a doc_id
    // re-ingested with changed text carries two delta rows, and an
    // unfolded join would duplicate every pair it touches (and pick
    // stale signatures nondeterministically). The fold key is recovered
    // from the `b_<id>` version-dir name rather than the stored
    // batch_id column (review round-11): deltas written before the
    // column existed would otherwise throw on schema inference or fold
    // nondeterministically on nulls — the path encodes the same id
    // exactly, for every vintage.
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("doc_id").orderBy(col("_bid").desc)
    val sims = spark.read.parquet(simDirs: _*)
      .withColumn("_bid",
        regexp_extract(input_file_name(), "/b_(\\d+)/", 1).cast("long"))
      .withColumn("_rn", row_number().over(w))
      .filter(col("_rn") === 1)
    p
      .join(sims.select(col("doc_id").as("chosen_id"),
        col("simhash").as("sim_c")), Seq("chosen_id"), "left")
      .join(sims.select(col("doc_id").as("rejected_id"),
        col("simhash").as("sim_r")), Seq("rejected_id"), "left")
      .filter(coalesce(
        bit_count(col("sim_c").bitwiseXOR(col("sim_r")))
          > graft.ops.DedupOps.MaxHamming, lit(true)))
      .select(p.columns.map(col): _*)
  }

  /** GRPO advantages for `docs` against the CURRENT accumulated group
    * statistics — the frozen-stats apply ([[ScoreStream]]'s λ
    * discipline): the normalizer a continuously-running RL data
    * pipeline actually uses, because per-batch statistics of a small
    * batch are noise. When the state covers exactly `docs`, this IS
    * batch `grpoAdvantage` (spec-asserted).
    */
  def advantages(spark: SparkSession, outDir: String,
      docs: DataFrame): DataFrame =
    PostTrainOps.advantageAgainst(docs, latestState(spark, outDir))

  private def latestState(spark: SparkSession, outDir: String): DataFrame =
    VersionedState.latest(spark, s"$outDir/_state", "PrefStream")
}
