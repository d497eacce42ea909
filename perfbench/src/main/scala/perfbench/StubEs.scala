package perfbench

import java.net.InetSocketAddress
import java.nio.charset.StandardCharsets.UTF_8
import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue, Executors}
import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}

import com.sun.net.httpserver.{HttpExchange, HttpServer}

/** Loopback `_bulk` stub: answers every item, rejecting a seeded ~1%
  * ([[Check.rejects]]), and folds the accepted items into the index state
  * a real cluster would hold. `threads` bounds concurrent handlers.
  */
final class StubEs(seed: Long, threads: Int) {
  val requests = new AtomicLong
  val requestBytes = new AtomicLong
  val items = new AtomicLong
  val itemsRejected = new AtomicLong
  val busyNs = new AtomicLong
  private val inflight = new AtomicInteger
  val inflightMax = new AtomicInteger
  val docs = new ConcurrentHashMap[(String, String), String]()
  val rejected = new ConcurrentLinkedQueue[(String, String)]()

  private val pool = Executors.newFixedThreadPool(threads)
  private val server = HttpServer.create(new InetSocketAddress("127.0.0.1", 0), 0)
  server.setExecutor(pool)
  server.createContext("/", (ex: HttpExchange) => handle(ex))
  server.start()
  val url = s"http://127.0.0.1:${server.getAddress.getPort}"

  def reset(): Unit = {
    Seq(requests, requestBytes, items, itemsRejected, busyNs).foreach(_.set(0))
    inflightMax.set(0)
    docs.clear()
    rejected.clear()
  }

  private def reply(ex: HttpExchange, status: Int, body: String): Unit = {
    val b = body.getBytes(UTF_8)
    ex.getResponseHeaders.set("Content-Type", "application/json")
    ex.sendResponseHeaders(status, b.length.toLong)
    ex.getResponseBody.write(b)
    ex.close()
  }

  private def handle(ex: HttpExchange): Unit = {
    val t0 = System.nanoTime()
    inflightMax.accumulateAndGet(inflight.incrementAndGet(), math.max)
    try {
      if (ex.getRequestURI.getPath != "/_bulk")
        reply(ex, 200, """{"name":"stub","version":{"number":"8.11.0"}}""")
      else {
        val raw = ex.getRequestBody.readAllBytes()
        requests.incrementAndGet()
        requestBytes.addAndGet(raw.length.toLong)
        val lines = new String(raw, UTF_8).split('\n')
        val out = new StringBuilder("""{"took":1,"errors":""")
        val body = new StringBuilder
        var anyErr = false
        var i = 0
        while (i < lines.length) {
          val meta = lines(i)
          val (action, index, id) = Check.parseMeta(meta)
          val source = if (action == "index") { i += 1; lines(i) } else null
          i += 1
          val act = Check.Act(index, id, source)
          items.incrementAndGet()
          if (body.nonEmpty) body.append(',')
          if (Check.rejects(seed, act.item)) {
            anyErr = true
            itemsRejected.incrementAndGet()
            rejected.add((index, id))
            body.append(s"""{"$action":{"_index":"$index","_id":"$id","status":400,""" +
              """"error":{"type":"mapper_parsing_exception","reason":"seeded"}}}""")
          } else {
            if (source == null) docs.remove((index, id)) else docs.put((index, id), source)
            body.append(s"""{"$action":{"_index":"$index","_id":"$id","status":200}}""")
          }
        }
        out.append(anyErr).append(""","items":[""").append(body).append("]}")
        reply(ex, 200, out.toString)
      }
    } finally {
      inflight.decrementAndGet()
      busyNs.addAndGet(System.nanoTime() - t0)
      ()
    }
  }

  def stop(): Unit = {
    server.stop(0)
    pool.shutdownNow()
    pool.awaitTermination(10, java.util.concurrent.TimeUnit.SECONDS)
    ()
  }
}
