package perfbench

import java.math.{BigDecimal => JBig}
import java.nio.charset.StandardCharsets.UTF_16LE
import java.time.LocalDate
import java.util.concurrent.{ConcurrentHashMap, Executors}

import com.sun.net.httpserver.{HttpExchange, HttpServer}
import graft.functions.TallyTypes

/** How a TDL field SET reads one exported line: a
  * `$Guid:<Collection>:$<Name>` lookup resolves against that
  * collection, anything else reads its first `$Attribute` (`$..X` from
  * the parent object). The fake's renderer and the expected tables both
  * evaluate fields through this one function. */
object Tdl {
  private val LookupRe = """\$Guid:(\w+):\$((?:\.\.)?\w+)""".r
  private val RefRe = """(?<!\$)\$(?!\$)((?:\.\.)?[A-Za-z_][A-Za-z0-9_]*)""".r

  def attr(name: String, line: Map[String, Any],
      parent: Map[String, Any]): Any =
    if (name.startsWith("..")) parent.getOrElse(name.drop(2), "")
    else line.getOrElse(name, parent.getOrElse(name, ""))

  /** The typed value a SET expression yields for one line. */
  def eval(set: String, c: Company): (Map[String, Any], Map[String, Any]) => Any =
    LookupRe.findFirstMatchIn(set) match {
      case Some(m) =>
        val index = c.guidByName.getOrElse(m.group(1), Map.empty)
        val nameAttr = m.group(2)
        (line, parent) => index.getOrElse(String.valueOf(attr(nameAttr, line, parent)), "")
      case None =>
        RefRe.findFirstMatchIn(set) match {
          case Some(m) => val a = m.group(1); (line, parent) => attr(a, line, parent)
          case None => (_, _) => ""
        }
    }
}

/** In-process fake Tally: an HTTP server on the loopback interface that
  * answers the TDL requests the engine generates (collection routes,
  * field SETs, `$AlterID > n` and the auto-numbering filter) over the
  * company it currently holds, in Tally's pseudo-XML: CRLF line breaks
  * and indent runs, XML entities, `<FLDBLANK>` lines for exploded
  * parents, `ñ` null dates, `(-)` negatives and short rows whose
  * trailing blank fields are left out.
  *
  * Responses are rendered once per (company, request) and kept as
  * UTF-16LE bytes, so serving a request is a byte copy; [[prerender]]
  * fills the cache before anything is timed. Switching [[company]] swaps
  * the cache with it. */
final class FakeTally(initial: Company) extends AutoCloseable {
  // keyed by identity: a company's structural hash walks every voucher
  private val caches = java.util.Collections.synchronizedMap(
    new java.util.IdentityHashMap[Company, ConcurrentHashMap[String, Array[Byte]]]())
  @volatile private var current: Company = initial
  @volatile private var failures: List[String] = Nil

  def company: Company = current
  def company_=(c: Company): Unit = current = c
  /** Requests the fake could not answer; a non-empty list fails the run. */
  def errors: List[String] = failures

  private val executor = Executors.newSingleThreadExecutor()
  private val server = {
    val s = HttpServer.create(new java.net.InetSocketAddress(
      java.net.InetAddress.getLoopbackAddress, 0), 16)
    s.createContext("/", (ex: HttpExchange) => handle(ex))
    s.setExecutor(executor)
    s.start()
    s
  }
  def port: Int = server.getAddress.getPort
  def host: String = server.getAddress.getAddress.getHostAddress

  private def handle(ex: HttpExchange): Unit =
    try {
      val req = new String(ex.getRequestBody.readAllBytes(), UTF_16LE)
      val body =
        try if (req.isEmpty) Array.emptyByteArray else respond(req)
        catch { case e: Exception =>
          failures ::= e.toString
          null
        }
      if (body == null) ex.sendResponseHeaders(500, -1)
      else {
        ex.sendResponseHeaders(200, if (body.isEmpty) -1 else body.length.toLong)
        if (body.nonEmpty) ex.getResponseBody.write(body)
      }
    } finally ex.close()

  /** The response bytes for one request over the current company. */
  def respond(request: String): Array[Byte] = {
    val c = current
    caches.computeIfAbsent(c, _ => new ConcurrentHashMap())
      .computeIfAbsent(request, r => FakeTally.render(r, c).getBytes(UTF_16LE))
  }

  def prerender(requests: Iterable[String]): Unit = requests.foreach(respond)

  /** An in-process transport: what the HTTP endpoint would answer. */
  def respondText(request: String): String = new String(respond(request), UTF_16LE)

  def close(): Unit = {
    server.stop(0)
    executor.shutdownNow()
    executor.awaitTermination(10, java.util.concurrent.TimeUnit.SECONDS)
  }
}

object FakeTally {
  private val TypeRe =
    "<COLLECTION NAME=\"MyCollection\"><TYPE>([A-Za-z]+)</TYPE>".r
  private val RepeatRe = "<REPEAT>MyLine\\d+ : ([A-Za-z]+)</REPEAT>".r
  private val FieldRe = "(?s)<FIELD NAME=\"Fld\\d+\"><SET>(.*?)</SET>".r
  private val FilterRe =
    "(?s)<SYSTEM TYPE=\"Formulae\" NAME=\"Fltr\\d+\">(.*?)</SYSTEM>".r
  private val AlterGtRe = """^\$AlterID > (-?\d+)$""".r
  private val AutoNumbering =
    "$$IsEqual:($NumberingMethod:VoucherType:$VoucherTypeName):\"Automatic\""

  /** Render Tally's answer to one TDL request over `c`. */
  def render(request: String, c: Company): String = {
    if (request.contains("<ID>AlterIdProbe</ID>"))
      return s""""${c.masterAlterId}","${c.voucherAlterId}"""" + "\r\n"
    val collection = TypeRe.findFirstMatchIn(request).getOrElse(
      throw new IllegalArgumentException("request names no collection")).group(1)
    val path = (collection +: RepeatRe.findAllMatchIn(request).map(_.group(1))
      .filterNot(_ == "MyCollection").toSeq).mkString(".")
    val sets = FieldRe.findAllMatchIn(request).map(_.group(1)).toIndexedSeq
    val keep = FilterRe.findAllMatchIn(request).map(_.group(1).trim)
      .map(filter(_, c)).foldLeft((_: Map[String, Any]) => true)(
        (a, b) => r => a(r) && b(r))
    val fields = sets.map(s => (Tdl.eval(s, c), kind(s)))
    val derived = path.contains('.')
    val sb = new java.lang.StringBuilder(1 << 16)
    sb.append("<ENVELOPE>\r\n")
    c.route(path).foreach { case (obj, lines) =>
      if (keep(obj)) {
        if (derived) sb.append(" <FLDBLANK></FLDBLANK>\r\n")
        lines.foreach { line =>
          val values = fields.map { case (f, k) => text(f(line, obj), k) }
          // Tally leaves out a line's trailing blank fields
          val n = values.lastIndexWhere(_.nonEmpty).max(0) + 1
          var i = 0
          while (i < n) {
            val tag = if (i < 9) s"F0${i + 1}" else s"F${i + 1}"
            sb.append(if (i % 3 == 0) " \t " else "  ")
              .append('<').append(tag).append('>')
            appendEscaped(sb, values(i), obj)
            sb.append("</").append(tag).append(">\r\n")
            i += 1
          }
        }
      }
    }
    sb.append("</ENVELOPE>\r\n").toString
  }

  private def filter(formula: String, c: Company): Map[String, Any] => Boolean =
    formula match {
      case AlterGtRe(n) =>
        val floor = n.toLong
        r => r.get("AlterId").exists(_.asInstanceOf[Long] > floor)
      case AutoNumbering =>
        val auto = c.vtypes.filter(_.numbering == "Automatic").map(_.name).toSet
        r => r.get("VoucherTypeName").exists(v => auto(v.asInstanceOf[String]))
      case other => throw new IllegalArgumentException(s"unsupported filter $other")
    }

  private sealed trait Kind
  private case object DateKind extends Kind
  private case object LogicalKind extends Kind
  private case object PlainKind extends Kind

  /** The value shape a SET template produces (see `TallyXml.fieldSetExpr`). */
  private def kind(set: String): Kind =
    if (set.contains("$$PyrlYYYYMMDDFormat")) DateKind
    else if (set.endsWith("then 1 else 0")) LogicalKind
    else PlainKind

  private def text(v: Any, k: Kind): String = (v, k) match {
    case (null, DateKind) => TallyTypes.NullDateSentinel
    case (d: LocalDate, _) => d.toString
    case (b: Boolean, _) => if (b) "1" else "0"
    case (n: JBig, _) =>
      // Tally writes some negatives as "(-)123.45"; the SET template
      // and the loader both map it back to "-"
      if (n.signum < 0 && n.unscaledValue.testBit(0)) "(-)" + n.negate.toPlainString
      else n.toPlainString
    case (r: Rate, _) => s"${r.value.toPlainString}/${r.unit}"
    case (null, _) => ""
    case (x, _) => x.toString
  }

  /** XML-escape a value. Every eighth voucher's narration also carries
    * a `&#13;&#10;` line-break entity before its first space, which the
    * loader drops, as it does for real Tally narrations. */
  private def appendEscaped(sb: java.lang.StringBuilder, v: String,
      obj: Map[String, Any]): Unit = {
    val esc = TallyTypes.escapeXml(v)
    val sp = esc.indexOf(' ')
    if (sp > 0 && obj.contains("Narration") && obj("Narration") == v &&
        (obj("Guid").hashCode & 7) == 0)
      sb.append(esc, 0, sp).append("&#13;&#10;").append(esc, sp, esc.length)
    else sb.append(esc)
  }
}
