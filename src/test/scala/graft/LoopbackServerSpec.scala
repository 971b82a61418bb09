package graft

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.nio.file.Files
import org.scalatest.funsuite.AnyFunSuite
import graft.http.{Dashboard, PagedJsonApi}

/** Both servers open their sockets through `http.LoopbackServer`, so a
  * small reply is not held back by Nagle's algorithm until the client's
  * delayed ACK (about 40 ms a reply on Linux). */
class LoopbackServerSpec extends AnyFunSuite {
  private val client = HttpClient.newBuilder().version(HttpClient.Version.HTTP_1_1).build()

  /** Median wall time of 20 sequential GETs, after one untimed GET. */
  private def medianGetMs(url: String): Double = {
    def get(): Unit = {
      val r = client.send(HttpRequest.newBuilder(URI.create(url)).GET().build(),
        HttpResponse.BodyHandlers.ofString())
      assert(r.statusCode() == 200, r.body())
    }
    get()
    val ms = (1 to 20).map { _ =>
      val t0 = System.nanoTime()
      get()
      (System.nanoTime() - t0) / 1e6
    }.sorted
    (ms(9) + ms(10)) / 2
  }

  test("dashboard: 20 sequential small GETs have a median under 20 ms") {
    val d = new Dashboard(TestSpark.spark, Files.createTempDirectory("loop-cfg").toString,
      Files.createTempDirectory("loop-in").toString, Files.createTempDirectory("loop-out").toString)
    d.start()
    try {
      val ms = medianGetMs(s"http://127.0.0.1:${d.boundPort}/api/runs")
      assert(ms < 20, s"median $ms ms")
    } finally d.stop()
  }

  test("paged JSON API: 20 sequential small GETs have a median under 20 ms") {
    val rows = (1 to 30).map(i => Map[String, Any]("id" -> i.toLong, "name" -> s"row $i"))
    val api = new PagedJsonApi(rows, pageSize = 10).start()
    try {
      val ms = medianGetMs(s"${api.url}?page=1")
      assert(ms < 20, s"median $ms ms")
    } finally api.stop()
  }
}
