package perfbench

import java.io.File
import java.nio.file.{Files, Paths, StandardCopyOption}

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.unsafe.types.UTF8String

import graft.sources.PgWire

/** Seeded input generators. Every value is a pure function of (seed, id),
  * so the reference folds in [[Check]] recompute the inputs with plain
  * loops instead of reading them back through the engine.
  */
object Gen {

  /** splitmix64 finalizer: the one mixing function behind every draw. */
  def mix(x: Long): Long = {
    var z = x + 0x9E3779B97F4A7C15L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }
  def draw(seed: Long, salt: Long, id: Long, mod: Long): Long =
    java.lang.Math.floorMod(mix(mix(seed * 0x632BE59BD9B4E019L + salt) ^ id), mod)

  val KeySpace = 100000L
  /** 2024-01-01T00:00Z in ns; events are 30 s apart, so a 250k-event
    * segment spans three monthly `orders_YYYY_MM` partitions.
    */
  val BaseNs = 1704067200000000000L
  val StepNs = 30000000000L

  // ---------------------------------------------------------------- WAL

  /** Event mix of the testdata `events.parquet` (and of `StreamLoad`):
    * the five types at 20% each — signup (insert), purchase (update,
    * partitioned table), error (delete), view (unmapped table: dropped by
    * routing), click (unknown type: dropped by typing).
    */
  val EventTypes = Array("signup", "purchase", "error", "view", "click")
  def eventType(seed: Long, id: Long): String =
    EventTypes(draw(seed, 1, id, EventTypes.length).toInt)
  def userId(seed: Long, id: Long): Long = draw(seed, 2, id, KeySpace)
  def tsNs(id: Long): Long = BaseNs + id * StepNs
  def value(seed: Long, id: Long): Double = draw(seed, 3, id, 1000) / 10.0

  /** Writes `nSeg` parquet segments of `per` events each, ids
    * `[s*per, (s+1)*per)`, as `seg-NNNNN.parquet` files in `dir`, with
    * strictly increasing modification times so the file source admits
    * them in id order.
    */
  def walSegments(spark: SparkSession, dir: String, seed: Long, nSeg: Int,
      per: Int): Unit = {
    import spark.implicits._
    val staging = dir + ".staging"
    spark.range(0, nSeg.toLong * per, 1, nSeg)
      .map { id =>
        (id, tsNs(id), userId(seed, id), eventType(seed, id), value(seed, id), "{}")
      }
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.parquet(staging)
    publish(staging, dir, "parquet")
  }

  /** Moves the part files of a one-file-per-partition write into `dir` in
    * partition order, stamping increasing modification times.
    */
  private def publish(staging: String, dir: String, ext: String): Unit = {
    val parts = new File(staging).listFiles()
      .filter(f => f.getName.startsWith("part-") && f.getName.endsWith("." + ext))
      .sortBy(_.getName)
    new File(dir).mkdirs()
    val t0 = System.currentTimeMillis() - 3600000L
    parts.zipWithIndex.foreach { case (f, i) =>
      val dst = Paths.get(dir, f"seg-$i%05d.$ext")
      Files.move(f.toPath, dst, StandardCopyOption.REPLACE_EXISTING)
      dst.toFile.setLastModified(t0 + i * 2000L)
    }
    Files.walk(Paths.get(staging)).sorted(java.util.Comparator.reverseOrder())
      .forEach(p => Files.delete(p))
  }

  /** Copies the first `n` segments of `src` into `dst`, keeping their
    * modification-time order.
    */
  def copySegments(src: String, dst: String, n: Int): Unit = {
    new File(dst).mkdirs()
    new File(src).listFiles().filter(_.getName.startsWith("seg-"))
      .sortBy(_.getName).take(n).foreach { f =>
        val d = Paths.get(dst, f.getName)
        Files.copy(f.toPath, d, StandardCopyOption.REPLACE_EXISTING)
        d.toFile.setLastModified(f.lastModified())
      }
  }

  // ----------------------------------------------------------- pgoutput

  val RelOid = 51300L
  val PgMapping = Map("public.events_t" -> "events_idx")

  /** DML mix: the WAL mix's three DML types (signup → insert, purchase →
    * update, error → delete), so a third each.
    */
  val PgOps = Array("insert", "update", "delete")
  def pgOp(seed: Long, id: Long): String = PgOps(draw(seed, 11, id, PgOps.length).toInt)
  def pgKey(seed: Long, id: Long): String = draw(seed, 12, id, KeySpace).toString
  def pgType(id: Long): String = "evt" + (id % 5)
  def pgPayload(seed: Long, id: Long): String = "p" + draw(seed, 13, id, 97)

  /** seq of segment `s`'s first frame: segments are spaced by their size,
    * so every seq (and LSN) stays below the next segment's base.
    */
  def pgBase(s: Int, per: Int): Long = s.toLong * (per + 16)
  /** seq of DML `id` (0-based over the whole capture). */
  def pgSeq(id: Long, per: Int): Long = {
    val s = (id / per).toInt
    pgBase(s, per) + 2 + (id - s.toLong * per)
  }

  /** XLogData-enveloped pgoutput frames: Begin, the Relation message in
    * segment 0 only, `per` DMLs, Commit. One parquet file per segment.
    */
  def pgSegments(spark: SparkSession, dir: String, seed: Long, nSeg: Int,
      per: Int): Unit = {
    import spark.implicits._
    val ts = 1706000000000000L
    val staging = dir + ".staging"
    spark.range(0, nSeg, 1, nSeg).as[Long].flatMap { sl =>
      val s = sl.toInt
      val base = pgBase(s, per)
      val lo = s.toLong * per
      val begin = Iterator((base, PgWire.encodeXLogData(base, base, ts,
        PgWire.encodeBegin(base + per, ts + s, 1000 + s))))
      val rel =
        if (s != 0) Iterator.empty
        else Iterator((base + 1, PgWire.encodeXLogData(base + 1, base, ts,
          PgWire.encodeRelation(RelOid, "public", "events_t", Seq(
            ("id", true, 20L), ("event_type", false, 25L),
            ("payload", false, 25L))))))
      val dml = (0L until per.toLong).iterator.map { i =>
        val id = lo + i
        val seq = base + 2 + i
        val key = UTF8String.fromString(pgKey(seed, id))
        val op = pgOp(seed, id)
        val payload =
          if (op == "delete")
            PgWire.encodeDml(UTF8String.fromString(op), RelOid,
              new GenericArrayData(Array[Any](key, null, null)), null)
          else
            PgWire.encodeDml(UTF8String.fromString(op), RelOid, null,
              new GenericArrayData(Array[Any](key,
                UTF8String.fromString(pgType(id)),
                UTF8String.fromString(pgPayload(seed, id)))))
        (seq, PgWire.encodeXLogData(seq, base, ts, payload))
      }
      val end = base + 2 + per
      val commit = Iterator((end, PgWire.encodeXLogData(end, base, ts,
        PgWire.encodeCommit(base + per, base + per + 1, ts + s))))
      begin ++ rel ++ dml ++ commit
    }.toDF("seq", "frame").write.parquet(staging)
    publish(staging, dir, "parquet")
  }

  // ----------------------------------------------------------- curation

  private val Vocab = ("key agg row scan slow fast table value part hash merge " +
    "batch spark a the line sort window order data column join small query " +
    "customer big stream filter group vector index shard token model train " +
    "eval loss").split(' ')
  private val Langs = Array("en", "en", "en", "es", "zh", "de", "fr")

  /** A corpus in the shape of the repository's test fixtures (doc_id, text, lang, source,
    * n_chars): random-vocabulary texts with ~10% near-duplicates (an
    * earlier doc with two words replaced), 20 sources, 5 languages; and
    * 64-d embeddings with 10 labels.
    */
  def curationTables(spark: SparkSession, dir: String, seed: Long,
      nDocs: Int, nVecs: Int): Unit = {
    import spark.implicits._
    def words(id: Long): Array[String] = {
      val n = 10 + draw(seed, 21, id, 70).toInt
      Array.tabulate(n)(j => Vocab(draw(seed, 22, id * 131 + j, Vocab.length).toInt))
    }
    val docs = (0L until nDocs).map { id =>
      val w =
        if (id > 10 && draw(seed, 23, id, 10) == 0) {
          val src = words(draw(seed, 24, id, id))
          src.indices.foreach { j =>
            if (draw(seed, 25, id * 7 + j, src.length) < 2)
              src(j) = Vocab(draw(seed, 26, id * 7 + j, Vocab.length).toInt)
          }
          src
        } else words(id)
      val text = w.mkString(" ")
      (id, text, Langs(draw(seed, 27, id, Langs.length).toInt), "src" + (id % 20),
        text.length.toLong)
    }
    docs.toDF("doc_id", "text", "lang", "source", "n_chars")
      .coalesce(1).write.parquet(s"$dir/documents.parquet")
    val vecs = (0L until nVecs).map { id =>
      val e = Array.tabulate(64)(j =>
        (draw(seed, 31, id * 64 + j, 2000001) / 1000000.0 - 1.0).toFloat)
      (id, e, draw(seed, 32, id, 10).toInt)
    }
    vecs.toDF("vec_id", "embedding", "label")
      .coalesce(1).write.parquet(s"$dir/embeddings.parquet")
  }
}
