package graft.http

import java.nio.charset.StandardCharsets
import com.sun.net.httpserver.HttpExchange
import graft.spec.SpecJson

/** Minimal paginated JSON data endpoint — the serving twin of the k31 REST
  * source (reference ROADMAP.md:43 "REST API endpoints" named a REST source
  * as a planned feature; the reference itself ships only the Flask
  * dashboard). Same JDK-HttpServer-no-framework shape as http.Dashboard.
  *
  * Contract (what sources.RestTable consumes):
  *   GET {path}?page=N  →  {"page": N, "total_pages": T, "rows": [ {..}, .. ]}
  * Pages are fixed-size slices of an immutable, ordered row list — the
  * stability that makes a page-NUMBER offset a correct streaming cursor
  * (unlike directory listings, where new names can sort anywhere).
  */
final class PagedJsonApi(initialRows: IndexedSeq[Map[String, Any]], pageSize: Int,
                         path: String = "/data", port: Int = 0) {
  require(pageSize > 0, "pageSize must be positive")

  @volatile private var rows: IndexedSeq[Map[String, Any]] = initialRows

  /** Append rows — the REST contract allows new rows only at the END (new
    * pages), which is exactly why a page-number offset is a safe cursor. */
  def append(more: Seq[Map[String, Any]]): Unit =
    synchronized { rows = rows ++ more }

  def totalPages: Int = math.max(1, (rows.size + pageSize - 1) / pageSize)

  /** pages served so far (all requests) — lets tests pin single-delivery */
  private val served = new java.util.concurrent.atomic.AtomicLong(0)
  def pagesServed: Long = served.get()

  private val server = LoopbackServer.create(port)
  server.createContext(path, (ex: HttpExchange) => handle(ex))

  def boundPort: Int = server.getAddress.getPort
  def url: String = s"http://127.0.0.1:$boundPort$path"

  /** Start from a daemon thread so the JDK dispatcher thread inherits
    * daemon status — a memoized fixture server must never keep the
    * driver JVM alive after main() returns (Verify/Bench exit cleanly
    * without an explicit stop()). */
  def start(): this.type = {
    val t = new Thread(() => server.start(), "paged-json-api-starter")
    t.setDaemon(true)
    t.start()
    t.join()
    this
  }
  def stop(): Unit = server.stop(0)

  private def handle(ex: HttpExchange): Unit = {
    val page = Option(ex.getRequestURI.getQuery).toSeq
      .flatMap(_.split("&").toSeq)
      .collectFirst { case q if q.startsWith("page=") => q.drop(5).toInt }
      .getOrElse(0)
    val (status, payload: Any) =
      if (page < 0 || page >= totalPages)
        (404, Map("error" -> s"page $page out of range [0, $totalPages)"))
      else {
        served.incrementAndGet()
        (200, Map(
          "page" -> page.toLong,
          "total_pages" -> totalPages.toLong,
          "rows" -> rows.slice(page * pageSize, (page + 1) * pageSize).toList))
      }
    val body = SpecJson.dumps(payload).getBytes(StandardCharsets.UTF_8)
    ex.getResponseHeaders.set("Content-Type", "application/json")
    ex.sendResponseHeaders(status, body.length)
    ex.getResponseBody.write(body)
    ex.close()
  }
}
