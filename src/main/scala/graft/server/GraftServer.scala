package graft.server

import java.net.InetSocketAddress
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path}
import java.util.concurrent.atomic.AtomicReference

import com.sun.net.httpserver.{HttpExchange, HttpServer}

/** GUI/server mode (SURVEY §3.3; reference src/server.mts:81-169):
  * a localhost HTTP utility wrapping the sync engine —
  *
  *   - `/`             status page (the reference serves gui.html)
  *   - `/loadconfig`   returns the config JSON file
  *   - `/saveconfig`   overwrites the config JSON file with the body
  *   - `/sync`         starts a sync unless one runs ("Sync started" /
  *                     "Sync is already running", src/server.mts:107-119)
  *   - `/abort`        kills the running sync ("Process killed" /
  *                     "Could not kill process", src/server.mts:120-129)
  *   - `/list-company` posts the company-table TDL probe to Tally and
  *                     relays the XML ("<DATA></DATA>" on failure,
  *                     src/server.mts:130-142)
  *   - `/tally-status` posts an empty body to Tally and relays the
  *                     response ("" on failure, src/server.mts:143-153)
  *   - `/log`          returns captured sync log lines from an index
  *                     (`?from=N`) — the poll fallback next to the
  *                     live WebSocket stream
  *   - `/ws-port`      the port of the companion WebSocket log stream
  *                     ([[LogWebSocket]], the reference's `ws` server
  *                     on its own port, src/server.mts:8,13-15): every
  *                     log line is pushed to connected clients and `~`
  *                     marks sync completion (src/server.mts:35-39)
  *
  * The Tally transport and the sync body are injected so tests drive
  * every endpoint with a canned transport and a controllable job; the
  * reference forks `node ./dist/index.mjs` per sync, here it is a
  * daemon thread in-process (Spark sessions are JVM-wide).
  */
final class GraftServer(
    port: Int,
    transport: String => String,
    sync: Map[String, String] => Unit,
    configPath: Path,
    bindHost: String = "127.0.0.1") {

  // Loopback by default: /sync and /saveconfig are unauthenticated and
  // can rewrite the config file, so exposing them beyond the local
  // machine (the reference binds 'localhost' too, src/server.mts:165)
  // requires an explicit opt-in bindHost.
  private val server =
    HttpServer.create(new InetSocketAddress(bindHost, port), 0)
  private val syncThread = new AtomicReference[Thread](null)
  private val logLines = new java.util.concurrent.CopyOnWriteArrayList[String]
  private val ws = new LogWebSocket(bindHost = bindHost)

  /** Visible to the sync body for progress reporting: recorded for the
    * `/log` poll fallback AND pushed live to WebSocket clients (the
    * reference's syncProcess.on('message') relay). */
  def log(line: String): Unit = {
    logLines.add(line)
    ws.broadcast(line)
  }

  /** Company-table TDL probe (reference src/server.mts:131: a one-field
    * report over the Company collection). Built with the same envelope
    * vocabulary as [[graft.sources.TallyXml.generateTdl]]. */
  private[server] val companyListTdl: String =
    "<?xml version=\"1.0\" encoding=\"utf-8\"?><ENVELOPE><HEADER>" +
      "<VERSION>1</VERSION><TALLYREQUEST>Export</TALLYREQUEST>" +
      "<TYPE>Data</TYPE><ID>CompanyTable</ID></HEADER><BODY><DESC>" +
      "<STATICVARIABLES><SVEXPORTFORMAT>$$SysName:XML</SVEXPORTFORMAT>" +
      "</STATICVARIABLES><TDL><TDLMESSAGE>" +
      "<REPORT NAME=\"CompanyTable\"><FORMS>MyForm</FORMS></REPORT>" +
      "<FORM NAME=\"MyForm\"><PARTS>MyPart01</PARTS>" +
      "<XMLTAG>DATA</XMLTAG></FORM>" +
      "<PART NAME=\"MyPart01\"><LINES>MyLine01</LINES>" +
      "<REPEAT>MyLine01 : MyCollection</REPEAT>" +
      "<SCROLLED>Vertical</SCROLLED></PART>" +
      "<LINE NAME=\"MyLine01\"><FIELDS>Fld</FIELDS></LINE>" +
      "<FIELD NAME=\"Fld\"><SET>$Name</SET><XMLTAG>ROW</XMLTAG></FIELD>" +
      "<COLLECTION NAME=\"MyCollection\"><TYPE>Company</TYPE>" +
      "<FETCH></FETCH></COLLECTION>" +
      "</TDLMESSAGE></TDL></DESC></BODY></ENVELOPE>"

  /** The GUI page (classpath resource; a terse fallback keeps the
    * server usable if the jar was built without resources). */
  private lazy val guiHtml: String =
    Option(getClass.getResourceAsStream("/gui.html"))
      .map { in =>
        try new String(in.readAllBytes(), StandardCharsets.UTF_8)
        finally in.close()
      }
      .getOrElse("<html><body><h1>graft sync server</h1>" +
        "<p>gui.html resource missing from build</p></body></html>")

  private def body(ex: HttpExchange): String =
    new String(ex.getRequestBody.readAllBytes(), StandardCharsets.UTF_8)

  private def respond(ex: HttpExchange, text: String,
      contentType: String = "text/plain"): Unit = {
    val bytes = text.getBytes(StandardCharsets.UTF_8)
    ex.getResponseHeaders.set("Content-Type", contentType)
    ex.sendResponseHeaders(200, bytes.length)
    val os = ex.getResponseBody
    try os.write(bytes) finally os.close()
  }

  /** Parse a posted JSON config object into string key-values. Handles
    * the reference config.json's ONE level of nesting by qualifying
    * inner keys (`{"tally":{"server":…}}` → `tally.server`) — a flat
    * last-wins collapse would silently let `database.server`/`port`
    * shadow the Tally connection (or vice versa, order-dependent).
    * Top-level flat keys stay bare. */
  private[graft] def flatJson(s: String): Map[String, String] = {
    val sectionRe = "\"(\\w+)\"\\s*:\\s*\\{([^}]*)\\}".r
    val kvRe =
      "\"([^\"{}]+)\"\\s*:\\s*(?:\"([^\"]*)\"|([-0-9.]+|true|false))".r
    def kvs(text: String): Iterator[(String, String)] =
      kvRe.findAllMatchIn(text).map(m =>
        m.group(1) -> Option(m.group(2)).getOrElse(m.group(3)))
    val nested = sectionRe.findAllMatchIn(s).flatMap { m =>
      kvs(m.group(2)).map { case (k, v) => s"${m.group(1)}.$k" -> v }
    }.toMap
    val flat = kvs(sectionRe.replaceAllIn(s, "")).toMap
    flat ++ nested
  }

  private def handle(ex: HttpExchange): Unit = {
    val content = body(ex)
    ex.getRequestURI.getPath match {
      case "/" =>
        // the reference serves gui.html here (src/server.mts:90-97);
        // ours is an original page wired to THIS server's endpoints,
        // with /log polling standing in for the WebSocket console
        respond(ex, guiHtml, "text/html")
      case "/loadconfig" =>
        respond(ex, new String(Files.readAllBytes(configPath),
          StandardCharsets.UTF_8), "application/json")
      case "/saveconfig" =>
        Files.write(configPath,
          content.getBytes(StandardCharsets.UTF_8))
        respond(ex, "Config saved")
      case "/sync" =>
        val current = syncThread.get
        if (current != null && current.isAlive)
          respond(ex, "Sync is already running")
        else {
          val cfg = flatJson(content)
          val t = new Thread(() =>
            try sync(cfg)
            catch {
              case _: InterruptedException => log("sync aborted")
              case e: Exception => log(s"sync failed: ${e.getMessage}")
            } finally
              // completion marker, pushed to stream clients only — the
              // reference sends '~' on child-process close
              // (src/server.mts:36-39); the poll log keeps real lines
              ws.broadcast("~"),
            "graft-sync")
          t.setDaemon(true)
          syncThread.set(t)
          t.start()
          respond(ex, "Sync started")
        }
      case "/abort" =>
        val current = syncThread.get
        if (current != null && current.isAlive) {
          current.interrupt()
          respond(ex, "Process killed")
        } else respond(ex, "Could not kill process")
      case "/list-company" =>
        val resp =
          try transport(companyListTdl)
          catch { case _: Exception => "<DATA></DATA>" }
        respond(ex, resp, "text/xml")
      case "/tally-status" =>
        val resp =
          try transport("")
          catch { case _: Exception => "" }
        respond(ex, resp)
      case "/log" =>
        val from = Option(ex.getRequestURI.getQuery)
          .flatMap(q => "from=(\\d+)".r.findFirstMatchIn(q))
          .map(_.group(1).toInt).getOrElse(0)
        val lines = (from until logLines.size).map(logLines.get)
        respond(ex, lines.mkString("\n"))
      case "/ws-port" =>
        respond(ex, ws.boundPort.toString)
      case _ =>
        ex.sendResponseHeaders(404, -1)
        ex.close()
    }
  }

  server.createContext("/", handle _)
  server.setExecutor(null) // single-threaded dispatch, like the reference

  def start(): Unit = { server.start(); ws.start() }
  def stop(): Unit = { server.stop(0); ws.stop() }
  def boundPort: Int = server.getAddress.getPort
}
