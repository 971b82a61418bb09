package graft.http

import java.net.InetSocketAddress
import com.sun.net.httpserver.HttpServer

/** The one way this program opens a JDK `HttpServer`: on 127.0.0.1, with
  * TCP_NODELAY on every connection. The JDK server writes a reply's
  * headers and its body in two writes; under Nagle's algorithm the body
  * then waits for the client's delayed ACK of the headers, about 40 ms on
  * Linux, however small the reply. The JDK reads
  * `sun.net.httpserver.nodelay` once per JVM, when the first server is
  * created, so it is set before that. */
object LoopbackServer {
  def create(port: Int): HttpServer = {
    System.setProperty("sun.net.httpserver.nodelay", "true")
    HttpServer.create(new InetSocketAddress("127.0.0.1", port), 0)
  }
}
