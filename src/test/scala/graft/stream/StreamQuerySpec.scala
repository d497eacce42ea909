package graft.stream

import java.nio.file.Files

import org.apache.spark.sql.SaveMode
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.storage.StorageLevel

import graft.SparkSuite

/** The shared query skeleton: query-lifetime statics are released when
  * `start()` throws (termination is covered by the DedupStream specs),
  * and the versioned-state fold hands each batch the newest version
  * below its id, then prunes what no replay can reach.
  */
class StreamQuerySpec extends SparkSuite {
  import spark.implicits._

  private def tmp(p: String) = Files.createTempDirectory(p).toString

  private def docs(dir: String, ids: Seq[Long]): Unit =
    ids.map(i => (i, s"doc $i", "s")).toDF("doc_id", "text", "source")
      .coalesce(1).write.mode(SaveMode.Append).parquet(dir)

  test("a start() that throws unpersists the query's statics") {
    val docsDir = tmp("sq-docs")
    docs(docsDir, Seq(1L, 2L))
    // the checkpoint location is a REGULAR FILE: the query cannot create
    // its offset log, so start() throws before any batch runs
    val ckptFile = Files.createTempFile("sq-ckpt", ".file").toString
    val static = Seq(1L, 2L, 3L).toDF("k").cache()
    assert(static.storageLevel != StorageLevel.NONE)
    intercept[Exception] {
      StreamQuery.withStatics(spark, static) {
        StreamQuery.batches(
          StreamQuery.files(spark, StreamQuery.sourcedDocSchema, docsDir),
          "sq-fail", ckptFile, Trigger.AvailableNow()) { (_, _) => () }.start()
      }
    }
    assert(static.storageLevel == StorageLevel.NONE,
      "a failed start must not leave the static cached for the session's life")
  }

  test("fold reads the newest version below the batch, overwrites its own, prunes below its prior") {
    val root = tmp("sq-fold")
    def ids = VersionedState.idsBefore(spark, root, Long.MaxValue)
    def step(id: Long): String =
      VersionedState.fold(spark, root, id) { prior =>
        val prev = prior.map(_.as[Long].collect().head).getOrElse(0L)
        Seq(prev + id).toDF("v")
      }
    assert(step(0L) == s"$root/b_0")
    step(1L); step(2L)
    assert(ids == Seq(1L, 2L))
    // replay of batch 2: re-reads b_1, rewrites b_2 identically
    step(2L)
    assert(ids == Seq(1L, 2L))
    assert(spark.read.parquet(s"$root/b_2").as[Long].collect().toSeq == Seq(3L))
    // a store whose readers need old versions keeps them
    VersionedState.fold(spark, root, 3L, pruned = false)(_.get)
    assert(ids == Seq(1L, 2L, 3L))
  }
}
