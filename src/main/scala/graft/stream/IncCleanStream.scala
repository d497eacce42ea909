package graft.stream

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.types._

import graft.ops.CorpusOps

/** The DAILY-REBUILD loop as a stream — the continuous face of
  * [[graft.ops.CorpusOps.cleanCorpusIncremental]]: the input is a
  * CHANGE FEED (upserts + delete tombstones, the shape a CDC pipe or a
  * recrawl diff emits), and every micro-batch patches the full
  * four-stage clean pipeline (quality gate → language gate → exact
  * dedup → MinHash/LSH near-dup removal) instead of rebuilding it —
  * the first batch pays the one-time [[CorpusOps.cleanState]] build,
  * every later batch only churn-proportional patch work. This closes
  * the gap [[CleanStream]] deliberately leaves (its LSH stage is
  * delegated): here near-dup state — signatures, capped per-bucket
  * candidates, verdicts — is maintained incrementally with the exact
  * promotion/demotion/cap-eviction semantics of the batch operator.
  *
  * Two [[VersionedState]] snapshot stores, replay-stable by its contract:
  *
  *   - `_docs/b_<id>`: the FOLDED document snapshot as of this batch
  *     (prior snapshot patched by the batch's churn, tombstones folded
  *     out) — the LSM compaction applied to the doc store itself, so
  *     per-batch fold cost is one churn-sized anti-join + union (never a
  *     corpus-wide window over an ever-growing delta chain) and versions
  *     below the replay horizon are PRUNED ([[VersionedState.prune]]):
  *     file count and fold input stay O(corpus), not O(corpus × batches).
  *     The snapshot WRITE is corpus-proportional — the same cadence-
  *     priced daily-index write as the `_state` faces below; only the
  *     clean-state PATCH is churn-proportional. The clean state never
  *     stores text, but a PROMOTED doc (unchanged text, re-entering the
  *     survivor set because its better twin left) needs its text re-read
  *     to enter the signature index — production reads its document
  *     store; this stream maintains its own.
  *   - `_state/b_<id>/{gated,sigs,cands,verdicts}`: the patched
  *     [[CorpusOps.CleanState]] faces. Writing them flat each batch is
  *     the daily index write (and the LSM compaction of the in-memory
  *     base+delta chain); the cadence this face targets is the daily/
  *     hourly rebuild, not a per-second ticker. Like the doc store,
  *     versions below the replay horizon PRUNE each batch, so a k-day
  *     chain holds ≤2 state versions — disk O(corpus), not O(corpus×k).
  *
  * `added` vs `changed` needs no prior-text knowledge: the patch
  * treats them identically (both re-gate; the old rows, if any,
  * anti-join away), so every non-tombstone row is submitted as
  * `changed` and tombstones as `removed`.
  */
object IncCleanStream {

  val changeSchema: StructType = StructType(Seq(
    StructField("doc_id", LongType),
    StructField("text", StringType),
    StructField("source", StringType),
    StructField("deleted", BooleanType)))

  def run(spark: SparkSession, changesDir: String, outDir: String,
      checkpointDir: String,
      trigger: Trigger = Trigger.AvailableNow()): StreamingQuery =
    StreamQuery.batches(StreamQuery.files(spark, changeSchema, changesDir),
        "incclean-stream", checkpointDir, trigger) { (batch, batchId) =>
      processBatch(spark, batch, batchId, outDir)
    }.start()

  private[graft] def processBatch(spark: SparkSession, batch: DataFrame,
      batchId: Long, outDir: String): Unit = try {
    val docsRoot = s"$outDir/_docs"
    val stateRoot = s"$outDir/_state"
    // 1+2. fold the doc store: prior SNAPSHOT patched by this batch's
    // churn (batch rows win; tombstones fold out), written as THIS
    // batch's snapshot. Replay-stable: a replayed batch re-reads the
    // same prior snapshot (strictly below its id, untouched) and
    // re-derives b_<id> content-identical. Feed contract: at most one
    // row per doc_id per batch (a CDC pipe with finer granularity
    // pre-folds on its own sequence column).
    val live = batch.filter(!col("deleted")).select("doc_id", "text", "source")
    var migratedLegacy = false
    val folded = VersionedState.latestBefore(spark, docsRoot, batchId) match {
      case Some(prev) =>
        val prevRaw = spark.read.parquet(prev)
        // one-time migration (review round-11): a store written by the
        // pre-snapshot format holds APPEND-ONLY deltas per version
        // (doc_id,text,source,deleted,batch_id) — detectable by the
        // tombstone column. Fold ALL prior delta versions once (newest
        // batch wins per doc, tombstones out) into this batch's
        // snapshot; every later batch takes the cheap snapshot path.
        val prevSnap =
          if (prevRaw.columns.contains("deleted")) {
            migratedLegacy = true
            import org.apache.spark.sql.expressions.Window
            val wLast = Window.partitionBy("doc_id")
              .orderBy(col("batch_id").desc)
            spark.read
              .parquet(VersionedState.allBefore(spark, docsRoot, batchId): _*)
              .withColumn("rn", row_number().over(wLast))
              .filter(col("rn") === 1 && !col("deleted"))
              .select("doc_id", "text", "source")
          } else prevRaw
        prevSnap
          // churn ids are batch-sized — AQE broadcasts the anti-join side
          .join(batch.select("doc_id"), Seq("doc_id"), "left_anti")
          .unionByName(live)
      case None => live
    }
    // fan the snapshot out before writing (round 12, measured): a
    // change feed arriving as one file leaves `folded` single-partition,
    // so the snapshot lands as ONE file and every downstream
    // corpus-wide scan of it — the whole batch-1 gate+hash+LSH state
    // build — runs in one task (47.7 s vs 21.6 s at x32). The snapshot
    // is the corpus artifact every later batch reads; one extra
    // corpus-sized exchange at write time buys full parallelism on all
    // of them. On a real cluster with multi-split feeds this shuffle
    // is the same-sized insurance as DedupOps.fanout.
    folded.repartition(
        spark.conf.get("spark.sql.shuffle.partitions", "32").toInt)
      .write.mode("overwrite")
      .parquet(VersionedState.versionDir(docsRoot, batchId))
    // compaction: snapshots below the replay horizon (current - 1) are
    // unreachable — prune them so the store holds ≤ 2 versions. On the
    // migration batch the prior versions are DELTAS, each load-bearing
    // for a replay of this same batch — skip the prune once; the next
    // batch (prior = a complete snapshot) prunes them all.
    if (!migratedLegacy) VersionedState.prune(spark, docsRoot, batchId - 1)
    val docStore =
      spark.read.parquet(VersionedState.versionDir(docsRoot, batchId))
    // 3. patch (or, on the first batch, build) the clean state
    val (clean, next) = VersionedState.latestBefore(spark, stateRoot, batchId) match {
      case Some(prev) =>
        val state = CorpusOps.CleanState(
          spark.read.parquet(s"$prev/gated"),
          spark.read.parquet(s"$prev/sigs"),
          spark.read.parquet(s"$prev/cands"),
          spark.read.parquet(s"$prev/verdicts"))
        val diff = batch.select(col("doc_id"),
          when(col("deleted"), lit("removed")).otherwise(lit("changed"))
            .as("status"))
        // the InSet patch core: per-batch churn is small by definition
        // (a change feed), so the driver-set probes + pruned verify
        // side beat the generic 12-round checkpoint chain; falls back
        // to the generic path automatically on a big batch
        CorpusOps.cleanCorpusIncrementalInSet(spark, docStore, state,
          graft.ops.DedupOps.bandRows(state.sigs), diff)
      case None =>
        val st = CorpusOps.cleanState(docStore)
        (CorpusOps.cleanFromState(st), st)
    }
    // 4. persist the patched state + the queryable clean table
    val sd = VersionedState.versionDir(stateRoot, batchId)
    next.gated.write.mode("overwrite").parquet(s"$sd/gated")
    next.sigs.write.mode("overwrite").parquet(s"$sd/sigs")
    next.cands.write.mode("overwrite").parquet(s"$sd/cands")
    next.verdicts.write.mode("overwrite").parquet(s"$sd/verdicts")
    clean.write.mode("overwrite")
      .parquet(VersionedState.versionDir(s"$outDir/clean", batchId))
    // face compaction (round 13): every `_state/b_<id>` and `clean/b_<id>`
    // is a FULL snapshot (the faces write flat each batch — that write IS
    // the LSM compaction of the in-memory base+delta chain), so versions
    // below the replay horizon are unreachable exactly like doc-store
    // snapshots. Without this prune a 10-day chain holds 10 corpus-sized
    // state copies: disk O(corpus x days) instead of O(corpus).
    VersionedState.prune(spark, stateRoot, batchId - 1)
    VersionedState.prune(spark, s"$outDir/clean", batchId - 1)
    ()
  } finally
    // every face the patch returned is now durable parquet — free the
    // patch's cached/checkpointed scratch (review round-11: without
    // this, a long-running stream accumulates one generation of
    // MEMORY_AND_DISK blocks per micro-batch without bound). In the
    // finally: a failed batch replays from scratch anyway, and its
    // half-built scratch must not pile up across retries.
    CorpusOps.releasePatchScratch()

  /** The current cleaned corpus — clean(v) for the newest ingested
    * version; identical to batch [[CorpusOps.cleanCorpus]] over the
    * folded document store (spec-asserted, across restarts).
    */
  def currentClean(spark: SparkSession, outDir: String): DataFrame =
    VersionedState.latest(spark, s"$outDir/clean", "IncCleanStream")
}
