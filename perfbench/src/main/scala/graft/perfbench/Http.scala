package graft.perfbench

import com.fasterxml.jackson.databind.ObjectMapper
import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.nio.charset.StandardCharsets.UTF_8

/** One load client: a JDK HttpClient pinned to HTTP/1.1 and used from a
  * single thread, so it holds one persistent keep-alive connection — the
  * way agent SDKs talk to the server. */
final class Client(port: Int) {
  private val http = HttpClient.newBuilder()
    .version(HttpClient.Version.HTTP_1_1).build()
  private val base = s"http://127.0.0.1:$port"

  def send(method: String, path: String, body: Option[String] = None): (Int, String) = {
    val b = HttpRequest.newBuilder(URI.create(base + path))
      .timeout(java.time.Duration.ofSeconds(60))
    val req = body match {
      case Some(s) => b.header("Content-Type", "application/json")
          .method(method, HttpRequest.BodyPublishers.ofString(s)).build()
      case None => b.method(method, HttpRequest.BodyPublishers.noBody()).build()
    }
    val r = http.send(req, HttpResponse.BodyHandlers.ofString())
    (r.statusCode(), r.body())
  }

  def close(): Unit = http match {
    case c: AutoCloseable => c.close()
    case _ => ()
  }
}

object Client {
  private val mapper = new ObjectMapper()

  def searchBody(cid: String, r: Req): String = {
    val n = mapper.createObjectNode()
    n.put("container_id", cid).put("query", r.query).put("mode", r.mode)
      .put("top_k", r.topK)
    r.snippetTokens.foreach(n.put("snippet_tokens", _))
    r.mmrLambda.foreach(n.put("mmr_lambda", _))
    mapper.writeValueAsString(n)
  }

  def uploadBody(docs: Seq[Doc]): String = {
    val n = mapper.createObjectNode()
    val files = n.putArray("files")
    docs.foreach(d => files.addObject().put("path", d.path).put("content", d.content))
    mapper.writeValueAsString(n)
  }

  def deleteBody(docs: Seq[Doc]): String = {
    val n = mapper.createObjectNode()
    val ps = n.putArray("paths")
    docs.foreach(d => ps.add(d.path))
    mapper.writeValueAsString(n)
  }

  /** GET over a FRESH connection (`Connection: close`), for the transport
    * calibration: returns the HTTP status. */
  def freshGet(port: Int, path: String): Int = {
    val s = new java.net.Socket("127.0.0.1", port)
    try {
      s.setTcpNoDelay(true)
      val out = s.getOutputStream
      out.write(s"GET $path HTTP/1.1\r\nHost: 127.0.0.1\r\nConnection: close\r\n\r\n"
        .getBytes(UTF_8))
      out.flush()
      val in = new java.io.BufferedReader(new java.io.InputStreamReader(s.getInputStream, UTF_8))
      val status = in.readLine()
      while (in.read() >= 0) {}
      status.split(' ')(1).toInt
    } finally s.close()
  }
}
