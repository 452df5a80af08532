package perfbench

import java.net.InetSocketAddress
import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue, Executors}

import com.fasterxml.jackson.core.{JsonFactory, JsonToken}
import com.sun.net.httpserver.{HttpExchange, HttpServer}

/** A Solr update endpoint on 127.0.0.1 that answers every POST after a
  * fixed delay and records, per core path, the (id, title_display) of each
  * doc it receives and the number of commits. Each benchmark operation
  * posts to its own core path (`/solr/op<n>`), so the checks can tell the
  * operations apart. */
final class SolrStub(delayMs: Long, threads: Int) {
  final class Core {
    val docs = new ConcurrentLinkedQueue[(String, String)]()
    val commits = new java.util.concurrent.atomic.AtomicInteger()
  }

  val cores = new ConcurrentHashMap[String, Core]()
  private val json = new JsonFactory()
  private val pool = Executors.newFixedThreadPool(threads)
  private val server = HttpServer.create(new InetSocketAddress("127.0.0.1", 0), 64)
  server.setExecutor(pool)
  server.createContext("/solr/", (ex: HttpExchange) => handle(ex))
  server.start()

  def baseUrl(core: String): String =
    s"http://127.0.0.1:${server.getAddress.getPort}/solr/$core"

  private def handle(ex: HttpExchange): Unit = {
    try {
      val path = ex.getRequestURI.getPath.stripPrefix("/solr/")
      val core = cores.computeIfAbsent(path.takeWhile(_ != '/'), _ => new Core)
      val body = ex.getRequestBody.readAllBytes()
      if (Option(ex.getRequestURI.getQuery).exists(_.contains("commit=true")))
        core.commits.incrementAndGet()
      else record(body, core)
      Thread.sleep(delayMs)
      val reply = """{"responseHeader":{"status":0}}""".getBytes("UTF-8")
      ex.sendResponseHeaders(200, reply.length.toLong)
      ex.getResponseBody.write(reply)
    } catch {
      case e: Exception =>
        System.err.println(s"[perfbench] stub error: $e")
        ex.sendResponseHeaders(500, -1)
    } finally ex.close()
  }

  /** Streams a JSON array of flat docs, keeping `id` and the first value of
    * `title_display` (a string or an array of strings). */
  private def record(body: Array[Byte], core: Core): Unit = {
    val p = json.createParser(body)
    try {
      require(p.nextToken() == JsonToken.START_ARRAY, "update body is not a JSON array")
      while (p.nextToken() == JsonToken.START_OBJECT) {
        var id: String = null
        var title: String = null
        while (p.nextToken() == JsonToken.FIELD_NAME) {
          val name = p.getCurrentName
          p.nextToken() match {
            case JsonToken.START_ARRAY =>
              var first: String = null
              while (p.nextToken() != JsonToken.END_ARRAY)
                if (first == null) first = p.getText
              if (name == "title_display") title = first
              if (name == "id") id = first
            case _ =>
              if (name == "id") id = p.getText
              if (name == "title_display") title = p.getText
          }
        }
        core.docs.add((id, title))
      }
    } finally p.close()
  }

  def stop(): Unit = {
    server.stop(0)
    pool.shutdownNow()
    pool.awaitTermination(10, java.util.concurrent.TimeUnit.SECONDS): Unit
  }
}
