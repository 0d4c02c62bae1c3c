package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** TDL expression → Spark `Column` translator (SURVEY §7.3, P3–P14).
  *
  * The reference passes `custom`-type YAML field expressions through to
  * Tally verbatim (reference src/tally.mts:675-679) — Tally evaluates
  * them server-side. When the engine computes Spark-side (fixture /
  * file extraction, derived columns), those expressions must run as
  * Catalyst expressions instead. This object parses the TDL expression
  * grammar the reference's YAMLs actually use
  * (tally-export-config.yaml + -incremental.yaml: `if/then/else`,
  * `or/and/not`, comparisons, arithmetic, 23 `$$` functions, `$Field`
  * references with `[First]/[Last]/[n]` indexing and `.member` chains)
  * and builds the equivalent `Column`. Unknown `$$` markers are
  * REJECTED with a clear error — never silently landed as text.
  *
  * Semantics are defined over the engine's POST-NORMALIZATION typed
  * columns (TallyTypes): amounts are debit-negative, quantities
  * inward-positive, dates are real DATE columns. Hence `$$IsDebit:$x`
  * is `x < 0`, `$$NumValue` is the unsigned magnitude, and
  * `$$ForexValue:$X` / `$$Currency:$X` read the companion columns the
  * extract layer materializes (resolver is asked for `X_forex` /
  * `X_currency`).
  *
  * Two constructs are join-shaped and deliberately NOT scalar:
  *  - `$Key:Collection:$Name` cross-collection lookup (P15) — exposed
  *    via [[lookupPattern]] for [[graft.operators.SurrogateFk]]
  *  - `$$IsLedOfGrp` (P16) — subtree membership; precompute with
  *    [[graft.operators.Hierarchy]] and resolve as a boolean column
  * Both raise a targeted error from the scalar translator.
  */
object TdlExpr {

  final class TdlTranslationException(msg: String)
    extends IllegalArgumentException(msg)

  /** Cross-collection lookup `$Key:Collection:$NameField` — the
    * surrogate-FK enrichment pattern of the incremental YAML
    * (tally-export-config-incremental.yaml:298,408,627). `guarded` is
    * true for the `if $$IsEmpty:…`/`if $$IsEqual:…:Primary then ""
    * else <lookup>` wrappers (empty/root names resolve to ""). */
  final case class Lookup(keyField: String, collection: String,
      nameField: String, guarded: Boolean = false)

  private val Fld = "\\$((?:\\.\\.)?[A-Za-z0-9_]+)"
  private val LookupRe =
    s"^\\$$([A-Za-z0-9_]+):([A-Za-z0-9_]+):$Fld$$".r
  // the two guard shapes the reference ships (empty-name and
  // Primary-root); the guard always tests the SAME name field the
  // lookup resolves
  private val GuardedEmptyRe =
    ("^if \\$\\$IsEmpty:" + Fld + " then \"\" else " +
      "\\$([A-Za-z0-9_]+):([A-Za-z0-9_]+):" + Fld + "$").r
  private val GuardedPrimaryRe =
    ("^if \\$\\$IsEqual:" + Fld + ":\\$\\$SysName:Primary then \"\" else " +
      "\\$([A-Za-z0-9_]+):([A-Za-z0-9_]+):" + Fld + "$").r

  def lookupPattern(field: String): Option[Lookup] =
    field.trim match {
      case LookupRe(k, c, n) => Some(Lookup(k, c, n))
      case GuardedEmptyRe(g, k, c, n) if stripParent(g) == stripParent(n) =>
        Some(Lookup(k, c, n, guarded = true))
      case GuardedPrimaryRe(g, k, c, n) if stripParent(g) == stripParent(n) =>
        Some(Lookup(k, c, n, guarded = true))
      case _ => None
    }

  /** Drop the `..` parent-reference prefix from a field name. */
  def stripParent(name: String): String = name.stripPrefix("..")

  /** Translate a TDL expression into a Spark Column. `resolve` maps a
    * Tally field name (e.g. "Parent") to its typed column; `typeOf`
    * (optional) lets `$$IsEmpty` treat array columns as lists. */
  def translate(tdl: String, resolve: String => Column,
      typeOf: String => Option[DataType] = _ => None): Column =
    new Parser(tokenize(tdl), tdl, resolve, typeOf).parseAll()

  /** Spark-side column for a spec field: typed fields resolve
    * directly; `custom` fields translate their TDL expression. */
  def customColumn(f: graft.sources.FieldSpec, resolve: String => Column,
      typeOf: String => Option[DataType] = _ => None): Column =
    translate(f.field, resolve, typeOf)

  /** A field string the TDL SET templates handle directly (a plain
    * attribute name, optionally `..`-parent-prefixed) — everything
    * else is an expression. */
  def isSimpleField(field: String): Boolean =
    field.matches("^(\\.\\.)?[A-Za-z0-9_]+$")

  /** Load-time validation: every expression-valued field (the
    * reference's user-extensible `custom` surface) must be either a
    * cross-collection lookup (P15 — handled by SurrogateFk) or a
    * translatable scalar TDL expression. Unknown `$$` markers raise
    * here, at spec load, instead of silently landing as text. */
  def validateCustomFields(spec: graft.sources.TableSpec): Unit =
    spec.fields
      .filter(f => f.ftype == TallyTypes.TCustom || !isSimpleField(f.field))
      .foreach { f =>
        if (lookupPattern(f.field).isEmpty) {
          try translate(f.field, name => col(name))
          catch {
            // join-shaped constructs are VALID custom fields — they
            // are just resolved by SurrogateFk/Hierarchy, not here
            case e: TdlTranslationException
                if e.getMessage.contains("join-shaped") => ()
            case e: TdlTranslationException =>
              throw new TdlTranslationException(
                s"table ${spec.name}, field ${f.name}: ${e.getMessage}")
          }
        }
      }

  // ── tokenizer ──────────────────────────────────────────────────────

  private sealed trait Tok
  private case class TFunc(name: String) extends Tok   // $$Name
  private case class TField(name: String) extends Tok  // $Name
  private case class TIdent(name: String) extends Tok  // bare word
  private case class TStr(value: String) extends Tok   // "…" or '…'
  private case class TNum(value: String) extends Tok
  private case class TOp(op: String) extends Tok

  private def tokenize(s: String): Vector[Tok] = {
    val out = Vector.newBuilder[Tok]
    var i = 0
    def identEnd(from: Int): Int = {
      var j = from
      while (j < s.length && (s(j).isLetterOrDigit || s(j) == '_')) j += 1
      j
    }
    while (i < s.length) {
      val c = s(i)
      if (c.isWhitespace) i += 1
      else if (s.startsWith("$$", i)) {
        val j = identEnd(i + 2)
        if (j == i + 2) fail(s, i, "dangling '$$'")
        out += TFunc(s.substring(i + 2, j)); i = j
      } else if (c == '$') {
        // `$..Name` = parent-collection back-reference (SURVEY §1.1)
        val start = if (s.startsWith("..", i + 1)) i + 3 else i + 1
        val j = identEnd(start)
        if (j == start) fail(s, i, "dangling '$'")
        out += TField(s.substring(i + 1, j)); i = j
      } else if (c == '"' || c == '\'') {
        val j = s.indexOf(c, i + 1)
        if (j < 0) fail(s, i, "unterminated string literal")
        out += TStr(s.substring(i + 1, j)); i = j + 1
      } else if (c.isDigit) {
        var j = i
        while (j < s.length && (s(j).isDigit || s(j) == '.')) j += 1
        out += TNum(s.substring(i, j)); i = j
      } else if (c.isLetter || c == '_') {
        val j = identEnd(i)
        out += TIdent(s.substring(i, j)); i = j
      } else {
        val two = if (i + 1 < s.length) s.substring(i, i + 2) else ""
        if (Set(">=", "<=", "<>").contains(two)) {
          out += TOp(two); i += 2
        } else if ("+-*/()[].:><=".indexOf(c) >= 0) {
          out += TOp(c.toString); i += 1
        } else fail(s, i, s"unexpected character '$c'")
      }
    }
    out.result()
  }

  private def fail(src: String, at: Int, msg: String): Nothing =
    throw new TdlTranslationException(
      s"TDL expression error at offset $at: $msg in: $src")

  // ── parser (precedence: or < and < not < cmp < add < mul < unary) ──

  private final class Parser(toks: Vector[Tok], src: String,
      resolve: String => Column, typeOf: String => Option[DataType]) {
    private var pos = 0
    private def peek: Option[Tok] = toks.lift(pos)
    private def next(): Tok = { val t = toks(pos); pos += 1; t }
    private def err(msg: String): Nothing =
      throw new TdlTranslationException(s"$msg in TDL expression: $src")
    private def isKw(t: Tok, w: String): Boolean = t match {
      case TIdent(x) => x.equalsIgnoreCase(w); case _ => false
    }
    private def atKw(w: String): Boolean = peek.exists(isKw(_, w))
    private def expectKw(w: String): Unit =
      if (atKw(w)) pos += 1 else err(s"expected '$w'")
    private def atOp(op: String): Boolean = peek.contains(TOp(op))
    private def expectOp(op: String): Unit =
      if (atOp(op)) pos += 1 else err(s"expected '$op'")

    def parseAll(): Column = {
      val c = expr()
      if (pos < toks.length) err(s"unexpected trailing tokens from ${toks(pos)}")
      c
    }

    private def expr(): Column = orExpr()

    private def orExpr(): Column = {
      var l = andExpr()
      while (atKw("or")) { pos += 1; l = l.or(andExpr()) }
      l
    }

    private def andExpr(): Column = {
      var l = notExpr()
      while (atKw("and")) { pos += 1; l = l.and(notExpr()) }
      l
    }

    private def notExpr(): Column =
      if (atKw("not")) { pos += 1; !notExpr() } else cmpExpr()

    private def cmpExpr(): Column = {
      val l = addExpr()
      peek match {
        case Some(TOp(op)) if Set(">", "<", ">=", "<=", "=", "<>")(op) =>
          pos += 1
          val r = addExpr()
          op match {
            case ">" => l > r;  case "<" => l < r
            case ">=" => l >= r; case "<=" => l <= r
            case "=" => l === r; case "<>" => l =!= r
          }
        case _ => l
      }
    }

    private def addExpr(): Column = {
      var l = mulExpr()
      var more = true
      while (more) peek match {
        case Some(TOp("+")) => pos += 1; l = l + mulExpr()
        case Some(TOp("-")) => pos += 1; l = l - mulExpr()
        case _ => more = false
      }
      l
    }

    private def mulExpr(): Column = {
      var l = unary()
      var more = true
      while (more) peek match {
        case Some(TOp("*")) => pos += 1; l = l * unary()
        case Some(TOp("/")) => pos += 1; l = l / unary()
        case _ => more = false
      }
      l
    }

    private def unary(): Column =
      if (atOp("-")) { pos += 1; negate(unary()) } else primary()

    private def primary(): Column = peek match {
      case Some(t) if isKw(t, "if") =>
        pos += 1
        val c = expr(); expectKw("then")
        val a = expr(); expectKw("else")
        val b = expr()
        // TDL is stringly-typed at the field edge: an if/then/else can
        // mix numeric and text branches (`then 0 else $$StringFind…`,
        // yaml:466) and its result always renders as text, which the
        // declared field type then parses (TallyTypes.parseValue).
        // Spark's ANSI branch coercion would instead cast the text
        // branch to the numeric type and throw — so render both
        // branches to string, faithfully to the TDL edge.
        when(c, a.cast(StringType)).otherwise(b.cast(StringType))
      case Some(TOp("(")) => pos += 1; val e = expr(); expectOp(")"); e
      case Some(TStr(v)) => pos += 1; lit(v)
      case Some(TNum(v)) =>
        pos += 1
        if (v.contains('.')) lit(v.toDouble) else lit(v.toLong)
      case Some(TFunc(f)) => pos += 1; funcCall(f)
      case Some(TField(f)) => pos += 1; fieldRef(f)
      case Some(TIdent(w)) => pos += 1; lit(w) // bare symbol (e.g. †)
      case other => err(s"expected an expression, got $other")
    }

    /** `$Field` with optional `[First]/[Last]/[n]` and `.member`
      * chains (P14). Detects the join-shaped `$Key:Coll:$Name` lookup
      * and raises the targeted P15 error. */
    private def fieldRef(name: String): Column = {
      (toks.lift(pos), toks.lift(pos + 1), toks.lift(pos + 2),
          toks.lift(pos + 3)) match {
        case (Some(TOp(":")), Some(TIdent(coll)), Some(TOp(":")),
            Some(TField(nm))) =>
          err(s"cross-collection lookup $$$name:$coll:$$$nm is " +
            "join-shaped (P15) — resolve it with " +
            "graft.operators.SurrogateFk.enrich, not a scalar translation")
        case _ =>
      }
      // parent back-references (`$..Name`) resolve by the bare name —
      // Derived.explodeView carries parent columns under their own
      // names through the flatten
      var c = resolve(stripParent(name))
      var more = true
      while (more) peek match {
        case Some(TOp("[")) =>
          pos += 1
          val idx = next() match {
            case TIdent(w) if w.equalsIgnoreCase("First") => 1
            case TIdent(w) if w.equalsIgnoreCase("Last") => -1
            case TNum(n) => n.toInt
            case other => err(s"bad index $other")
          }
          expectOp("]")
          c = element_at(c, idx)
        case Some(TOp(".")) =>
          pos += 1
          next() match {
            case TIdent(m) => c = c.getField(m)
            case other => err(s"expected member name after '.', got $other")
          }
        case _ => more = false
      }
      c
    }

    /** One `:`-prefixed argument at unary precedence (nested calls
      * consume their own arguments greedily — TDL's actual binding). */
    private def colArg(): Column = { expectOp(":"); unary() }

    /** Argument that must be a literal word/string/number. */
    private def rawArg(): String = {
      expectOp(":")
      next() match {
        case TStr(v) => v
        case TIdent(v) => v
        case TNum(v) => v
        case other => err(s"expected a literal argument, got $other")
      }
    }

    /** Argument column + the field name when it is a bare `$Field`
      * (for type-aware and companion-column functions). */
    private def namedArg(): (Column, Option[String]) = {
      expectOp(":")
      peek match {
        case Some(TField(n))
            if !toks.lift(pos + 1).exists(t =>
              t == TOp("[") || t == TOp(".")) =>
          pos += 1
          // parent back-refs resolve by the bare name, same as fieldRef
          val bare = stripParent(n)
          (resolve(bare), Some(bare))
        case _ => (unary(), None)
      }
    }

    private def strOf(c: Column): Column = c.cast(StringType)

    private def funcCall(f: String): Column = f match {
      case "IsEmpty" =>
        val (c, name) = namedArg()
        name.flatMap(typeOf) match {
          case Some(_: ArrayType) => c.isNull.or(size(c) === 0)
          case _ => c.isNull.or(strOf(c) === "")
        }
      case "IsEqual" => // TDL equality is case-insensitive
        val a = colArg(); val b = colArg()
        lower(strOf(a)) === lower(strOf(b))
      case "IsNotApplicable" =>
        val c = colArg()
        trim(strOf(c)) === lit(sysName("NotApplicable"))
      case "SysName" => lit(sysName(rawArg()))
      case "StringFindAndReplace" =>
        val c = colArg(); val find = rawArg(); val repl = rawArg()
        replace(strOf(c), lit(find), lit(repl))
      case "Number" =>
        val c = colArg()
        regexp_extract(strOf(c), "^-?[0-9]+(\\.[0-9]+)?", 0)
          .try_cast(DecimalType(15, 4))
      case "String" =>
        val c = colArg()
        // optional `:"TailUnits"` unit selector (quantity template) —
        // unit splitting happens Tally-side; typed columns are already
        // tail-unit numerics here
        if (atOp(":") && toks.lift(pos + 1).exists {
            case TStr(v) => v.equalsIgnoreCase("TailUnits"); case _ => false
          }) pos += 2
        strOf(c)
      case "NumValue" => abs(colArg().try_cast(DecimalType(17, 2)))
      case "IsDebit" => colArg() < 0 // post-normalization: debit < 0
      case "IsInwards" => colArg() > 0 // inward > 0
      case "ForexValue" => companion("_forex")
      case "Currency" => companion("_currency")
      case "FullList" =>
        val _ = rawArg() // collection name — the array column carries it
        TallyTypes.fullList(colArg())
      case "YearOfDate" => year(colArg())
      case "MonthOfDate" => month(colArg())
      case "DayOfDate" => dayofmonth(colArg())
      case "PyrlYYYYMMDDFormat" =>
        val c = colArg()
        val sep = if (atOp(":")) rawArg() else "-"
        replace(date_format(c, "yyyy-MM-dd"), lit("-"), lit(sep))
      case "StrByCharCode" =>
        lit(rawArg().toInt.toChar.toString)
      case "IsAccountingVch" =>
        val _ = colArg() // classification comes from the vouchertype dim
        resolve("is_accounting_voucher").cast(BooleanType)
      case "IsInventoryVch" =>
        val _ = colArg()
        resolve("is_inventory_voucher").cast(BooleanType)
      case "IsOrderVch" =>
        val _ = colArg()
        resolve("is_order_voucher").cast(BooleanType)
      case "GroupStock" => lit("Stock-in-Hand")
      case "IsLedOfGrp" =>
        colArg(); colArg()
        err("$$IsLedOfGrp is join-shaped (P16 subtree membership) — " +
          "precompute the group closure with graft.operators.Hierarchy" +
          ".subtreeMembers and resolve it as a boolean column")
      case other =>
        err(s"unknown TDL function $$$$${other} — supported: IsEmpty, " +
          "IsEqual, IsNotApplicable, SysName, StringFindAndReplace, " +
          "Number, String, NumValue, IsDebit, IsInwards, ForexValue, " +
          "Currency, FullList, YearOfDate, MonthOfDate, DayOfDate, " +
          "PyrlYYYYMMDDFormat, StrByCharCode, IsAccountingVch, " +
          "IsInventoryVch, IsOrderVch, GroupStock, IsLedOfGrp")
    }

    /** `$$ForexValue:$X` / `$$Currency:$X` — companion columns the
      * extract layer materializes next to the amount (P10). */
    private def companion(suffix: String): Column = {
      val (_, name) = namedArg()
      name match {
        case Some(n) => resolve(n + suffix)
        case None => err(s"$$$$ForexValue/$$$$Currency need a bare " +
          "$Field argument (the companion column is named after it)")
      }
    }
  }

  /** TDL system-name display text. */
  private def sysName(ident: String): String = ident match {
    case "NotApplicable" => "Not Applicable"
    case other => other
  }
}
