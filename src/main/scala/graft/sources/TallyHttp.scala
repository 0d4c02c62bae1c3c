package graft.sources

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.nio.charset.StandardCharsets
import java.time.Duration

/** Live Tally HTTP transport (SURVEY §2.1 S1): POST the TDL envelope
  * to Tally's XML server and return the response body; a non-2xx
  * answer throws with its status code. Tally speaks
  * UTF-16LE on both request and response
  * (reference src/tally.mts:448-490).
  *
  * This is the only process boundary of the extract path; it is
  * driver-side by nature (one stream per table). It plugs into
  * [[TallyXml.extract]] as the `transport` function; tests inject a
  * canned transport instead (no live Tally in CI).
  */
final class TallyHttp(server: String = "localhost", port: Int = 9000,
    timeout: Duration = Duration.ofSeconds(60)) {

  private val client = HttpClient.newBuilder()
    .connectTimeout(timeout).build()

  def post(tdlXml: String): String = {
    val req = HttpRequest.newBuilder()
      .uri(URI.create(s"http://$server:$port"))
      .timeout(timeout)
      .header("Content-Type", "text/xml;charset=utf-16")
      .POST(HttpRequest.BodyPublishers.ofByteArray(
        tdlXml.getBytes(StandardCharsets.UTF_16LE)))
      .build()
    val resp = client.send(req,
      HttpResponse.BodyHandlers.ofByteArray())
    // an error page carries no rows: read as data, it would empty a
    // full-sync table or mark every stored key of a tick deleted
    if (resp.statusCode / 100 != 2)
      throw new java.io.IOException(
        s"Tally at $server:$port answered HTTP ${resp.statusCode}")
    new String(resp.body(), StandardCharsets.UTF_16LE)
  }

  /** Empty-body ping = Tally liveness probe
    * (reference src/server.mts:143-153). */
  def ping(): Boolean =
    try {
      val req = HttpRequest.newBuilder()
        .uri(URI.create(s"http://$server:$port"))
        .timeout(Duration.ofSeconds(5))
        .POST(HttpRequest.BodyPublishers.ofString("")).build()
      client.send(req, HttpResponse.BodyHandlers.ofString())
        .statusCode() == 200
    } catch { case _: Exception => false }
}
