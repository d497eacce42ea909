package graft

import java.nio.file.Files

import org.apache.spark.sql.SaveMode
import org.apache.spark.sql.functions._

import graft.ops.ProfileOps
import graft.stream._

/** 30-batch soak over tiny files: every SNAPSHOT store of the versioned
  * state streams stays at ≤ 2 live `b_*` versions (the newest and the
  * one a replay of it would re-read) instead of one per batch, and the
  * pruned state still folds to the right answer.
  */
class StateSoakSpec extends SparkSuite {
  import spark.implicits._

  private val Batches = 30

  private def tmp(p: String) = Files.createTempDirectory(p).toString

  private def versions(root: String): Seq[Long] =
    VersionedState.idsBefore(spark, root, Long.MaxValue)

  test("30-batch soak: every snapshot store holds at most 2 versions") {
    val docsDir = tmp("soak-docs")
    // one tiny file per batch; the union schema serves every stream
    // (each reads its own columns)
    val texts = Seq(
      "the quick brown fox jumps over the lazy dog again and again",
      Seq.fill(30)("spam").mkString(" "),
      "a short line of plain english text for the soak")
    for (b <- 0 until Batches) {
      (0 until 3).map { i =>
        val id = b * 3L + i
        (id, texts(i), "en", s"s${i % 2}")
      }.toDF("doc_id", "text", "lang", "source")
        .withColumn("n_chars", length(col("text")).cast("long"))
        .coalesce(1).write.mode(SaveMode.Append).parquet(docsDir)
    }
    def out(name: String) = tmp(s"soak-$name")
    // store name → (state root, query); all ten drain concurrently
    val runs: Seq[(String, String, org.apache.spark.sql.streaming.StreamingQuery)] =
      Seq[(String, String, (String, String) => org.apache.spark.sql.streaming.StreamingQuery)](
        ("cms", "_counters", CmsStream.run(spark, docsDir, _, _)),
        ("hll", "_regs", HllStream.run(spark, docsDir, _, _)),
        ("sketch", "_sketch", SketchStream.run(spark, docsDir, _, _)),
        ("validate", "_rules", ValidateStream.run(spark, docsDir, _, _)),
        ("pass", "_state", PassStream.run(spark, docsDir, _, _)),
        ("pref", "_state", PrefStream.run(spark, docsDir, _, _)),
        ("manifest", "_manifest", ManifestStream.run(spark, docsDir, _, _)),
        ("train", "_weights", TrainStream.run(spark, docsDir, _, _)),
        ("budget", "_totals", BudgetStream.run(spark, docsDir, _, _)),
        ("mixture", "_totals", SampleStream.runMixture(spark, docsDir, _, _))
      ).map { case (name, store, start) =>
        val o = out(name)
        (name, s"$o/$store", start(o, tmp(s"soak-$name-ckpt")))
      }
    runs.foreach { case (_, _, q) => awaitDone(q, 600000) }

    runs.foreach { case (name, root, _) =>
      val live = versions(root)
      assert(live == Seq(Batches - 2L, Batches - 1L),
        s"$name: live versions under $root are $live, expected the last two")
    }
    // pruning never cut what the fold needed: the running rule table
    // still equals the batch validation over all 30 files
    val validateOut = runs.find(_._1 == "validate").get._2.stripSuffix("/_rules")
    val got = ValidateStream.current(spark, validateOut)
      .as[(String, Long)].collect().toMap
    val expect = ProfileOps.validateCorpus(spark.read.parquet(docsDir))
      .as[(String, Long)].collect().toMap
    assert(got == expect)
  }
}
