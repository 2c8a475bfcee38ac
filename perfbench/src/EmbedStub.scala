package perfbench

import com.fasterxml.jackson.databind.ObjectMapper
import com.sun.net.httpserver.{HttpExchange, HttpServer}
import graft.functions.Hashing

import java.net.InetSocketAddress
import java.util.concurrent.{ConcurrentHashMap, Executors, TimeUnit}
import java.util.concurrent.atomic.AtomicLong

/** OpenAI-shaped embeddings stub on loopback: `POST /embeddings` with
  * `{"model", "input": [texts]}` answers `{"data": [{"index", "embedding"}]}`
  * using `Hashing.hashEmbedVec`, so a remote-embedded collection must equal
  * the in-plan one bit for bit.
  *
  * Latency model: every response waits `baseMs + perTextMs × texts`
  * (none while `delayed` is off).
  * Faults: every `faultOneIn`-th distinct batch (batches are told apart by
  * content) answers its first request with 503; a repeat of that batch
  * succeeds. The 503 count is thus fixed by the number of distinct batches:
  * it repeats exactly for the same inputs and, unlike a content-hash rule,
  * does not swing with the seed. */
final class EmbedStub(dim: Int, threads: Int, baseMs: Double,
    perTextMs: Double, faultOneIn: Int) {

  @volatile var delayed = true
  val calls = new AtomicLong
  val texts = new AtomicLong
  val retries = new AtomicLong
  private val busy = new ConcurrentHashMap[Long, (Long, Long)]()
  private val seq = new AtomicLong
  private val seen = ConcurrentHashMap.newKeySet[Long]()
  private val distinct = new AtomicLong
  private val mapper = new ObjectMapper()

  private val server = HttpServer.create(new InetSocketAddress("127.0.0.1", 0), 64)
  private val pool = Executors.newFixedThreadPool(threads)
  server.setExecutor(pool)
  server.createContext("/embeddings", (ex: HttpExchange) => handle(ex))
  server.start()

  def url: String = s"http://127.0.0.1:${server.getAddress.getPort}"

  private def handle(ex: HttpExchange): Unit = {
    val start = System.nanoTime()
    try {
      val req = mapper.readTree(ex.getRequestBody)
      val input = req.path("input")
      val batch = (0 until input.size()).map(i => input.get(i).asText())
      calls.incrementAndGet(); texts.addAndGet(batch.size)
      val key = batch.foldLeft(0x5bd1e995L)((h, t) =>
        Hashing.mix64(h ^ Hashing.hash64(t, 17L)))
      val sleepNs =
        if (delayed) ((baseMs + perTextMs * batch.size) * 1e6).toLong else 0L
      val fail = seen.add(key) && distinct.incrementAndGet() % faultOneIn == 0
      val body =
        if (fail) { retries.incrementAndGet(); "{\"error\":\"overloaded\"}" }
        else {
          val root = mapper.createObjectNode()
          val data = root.putArray("data")
          batch.zipWithIndex.foreach { case (t, i) =>
            val item = data.addObject()
            item.put("object", "embedding").put("index", i)
            val arr = item.putArray("embedding")
            Hashing.hashEmbedVec(t, dim).foreach(v => arr.add(v))
          }
          mapper.writeValueAsString(root)
        }
      val wait = sleepNs - (System.nanoTime() - start)
      if (wait > 0) TimeUnit.NANOSECONDS.sleep(wait)
      val bytes = body.getBytes("UTF-8")
      ex.getResponseHeaders.set("Content-Type", "application/json")
      ex.sendResponseHeaders(if (fail) 503 else 200, bytes.length)
      ex.getResponseBody.write(bytes)
    } finally {
      ex.close()
      busy.put(seq.incrementAndGet(), (start, System.nanoTime()))
    }
  }

  /** Wall seconds during which at least one request was inside the stub. */
  def serverSeconds: Double = {
    import scala.jdk.CollectionConverters._
    Trace.unionSeconds(busy.values().asScala.toSeq)
  }

  def reset(): Unit = {
    calls.set(0); texts.set(0); retries.set(0); busy.clear()
    seen.clear(); distinct.set(0)
  }

  def stop(): Unit = {
    server.stop(0)
    pool.shutdown()
    pool.awaitTermination(30, TimeUnit.SECONDS)
  }
}
