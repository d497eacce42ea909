package perfbench

import java.io.File
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.Files

import scala.collection.mutable

/** Correctness outside the timed window: plain-Scala reference folds of
  * the generated inputs, compared with the index state the engine's
  * output implies. Nothing here calls the engine.
  */
object Check {

  /** One bulk action as the engine must encode it. */
  final case class Act(index: String, id: String, source: String) {
    def isDelete: Boolean = source == null
    def meta: String =
      s"""{"${if (isDelete) "delete" else "index"}":{"_index":"$index","_id":"$id"}}"""
    /** The `_bulk` item text: meta line, plus the source line for index. */
    def item: String = if (isDelete) meta else meta + "\n" + source
  }

  /** The canonical handler's action for WAL event `id`, or null when
    * typing (unknown type) or routing (unmapped table) drops it.
    */
  def walAct(seed: Long, id: Long): Act = {
    val uid = Gen.userId(seed, id)
    val tsUs = Gen.tsNs(id) / 1000
    def src(op: String) = s"""{"id":$uid,"op":"$op","event_time_us":$tsUs}"""
    Gen.eventType(seed, id) match {
      case "signup" => Act("users_idx", uid.toString, src("INSERT"))
      case "purchase" => Act("orders_idx", uid.toString, src("UPDATE"))
      case "error" => Act("users_idx", uid.toString, null)
      case _ => null
    }
  }

  /** The pgoutput handler's action for DML `id`. */
  def pgAct(seed: Long, id: Long): Act = {
    val key = Gen.pgKey(seed, id)
    if (Gen.pgOp(seed, id) == "delete") Act("events_idx", key, null)
    else Act("events_idx", key,
      s"""{"id":"$key","event_type":"${Gen.pgType(id)}","payload":"${Gen.pgPayload(seed, id)}"}""")
  }

  /** The stub server's seeded item rejection (~1%). */
  def rejects(seed: Long, item: String): Boolean =
    Gen.draw(seed, 41, item.hashCode.toLong, 1000) < 10

  /** In-batch last-write-wins winners of one segment, in id order. */
  def winners(ids: Iterator[Long], act: Long => Act): Iterable[Act] = {
    val w = mutable.LinkedHashMap.empty[(String, String), Act]
    ids.foreach { id =>
      val a = act(id)
      if (a != null) { w.remove((a.index, a.id)); w((a.index, a.id)) = a }
    }
    w.values
  }

  /** Expected outcome of draining `nSeg` segments of `per` inputs. */
  final case class Expected(docs: Map[(String, String), String],
      counts: Map[String, Long], rejected: Map[(String, String), Int])

  def expected(nSeg: Int, per: Int, act: Long => Act,
      reject: Act => Boolean = _ => false): Expected = {
    val docs = mutable.HashMap.empty[(String, String), String]
    val counts = mutable.HashMap.empty[String, Long].withDefaultValue(0L)
    val rej = mutable.HashMap.empty[(String, String), Int].withDefaultValue(0)
    for (s <- 0 until nSeg) {
      val lo = s.toLong * per
      winners((lo until lo + per).iterator, act).foreach { a =>
        if (reject(a)) rej((a.index, a.id)) += 1
        else {
          val metric = if (a.isDelete) "delete_total" else "index_total"
          counts(s"$metric{index=${a.index}}") += 1
          if (a.isDelete) docs.remove((a.index, a.id))
          else docs((a.index, a.id)) = a.source
        }
      }
    }
    Expected(docs.toMap, counts.toMap, rej.toMap)
  }

  /** Batch ids the checkpoint's commit log acknowledges, ascending. */
  def committed(ckpt: String): Seq[Long] =
    Option(new File(ckpt, "commits").listFiles()).toSeq.flatten
      .map(_.getName).filter(_.forall(_.isDigit)).map(_.toLong).sorted

  /** Index state implied by the bulk payload files of `batches`, folded in
    * batch order.
    */
  def foldPayloads(bulk: String, batches: Seq[Long]): Map[(String, String), String] = {
    val docs = mutable.HashMap.empty[(String, String), String]
    batches.foreach { b =>
      val files = Option(new File(bulk, s"batch_$b").listFiles()).toSeq.flatten
        .filter(f => f.getName.startsWith("part-")).sortBy(_.getName)
      files.foreach { f =>
        val it = Files.readAllLines(f.toPath, UTF_8).iterator()
        while (it.hasNext) {
          val meta = it.next()
          val (action, index, id) = parseMeta(meta)
          if (action == "delete") docs.remove((index, id))
          else docs((index, id)) = it.next()
        }
      }
    }
    docs.toMap
  }

  /** (action, _index, _id) of a bulk meta line. */
  def parseMeta(meta: String): (String, String, String) = {
    def field(name: String): String = {
      val k = "\"" + name + "\":\""
      val i = meta.indexOf(k)
      if (i < 0) "" else meta.substring(i + k.length, meta.indexOf('"', i + k.length))
    }
    (meta.substring(2, meta.indexOf('"', 2)), field("_index"), field("_id"))
  }

  /** Number of documents whose final state differs. */
  def diff(got: Map[(String, String), String],
      want: Map[(String, String), String]): Int =
    (got.keySet ++ want.keySet).count(k => got.get(k) != want.get(k))
}
