package perfbench

import java.net.InetSocketAddress
import java.nio.file.{Files, Path}
import java.util.concurrent.{ExecutorService, Executors, TimeUnit}

import com.sun.net.httpserver.{HttpExchange, HttpServer}

/** Serves a generated mirror over loopback HTTP so the endpoint discovery
  * and the downloader's HTTP branch carry a cold cache. Missing paths are
  * 404. The executor threads are not daemons, so `stop()` must be called:
  * it closes the socket and waits for every handler thread to end.
  */
final class HttpMirror(root: Path, threads: Int) {
  private val pool: ExecutorService = Executors.newFixedThreadPool(threads)
  private val server = HttpServer.create(new InetSocketAddress("127.0.0.1", 0), 64)

  server.createContext("/", (ex: HttpExchange) => {
    try {
      val rel = ex.getRequestURI.getPath.stripPrefix("/")
      val f = root.resolve(rel).normalize()
      if (!f.startsWith(root) || !Files.isRegularFile(f)) ex.sendResponseHeaders(404, -1)
      else {
        val body = Files.readAllBytes(f)
        ex.sendResponseHeaders(200, body.length.toLong)
        ex.getResponseBody.write(body)
      }
    } finally ex.close()
  })
  server.setExecutor(pool)
  server.start()

  val url: String = s"http://127.0.0.1:${server.getAddress.getPort}"

  def stop(): Unit = {
    server.stop(0)
    pool.shutdown()
    if (!pool.awaitTermination(10, TimeUnit.SECONDS)) pool.shutdownNow()
  }
}
