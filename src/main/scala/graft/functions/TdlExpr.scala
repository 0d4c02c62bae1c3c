package graft.functions

/** The one TDL shape the engine reads itself (SURVEY §7.3, P15). The
  * reference passes every other `custom`-type YAML field expression to
  * Tally verbatim, and Tally evaluates it server-side (reference
  * src/tally.mts:675-679); the cross-collection lookup
  * `$Key:Collection:$Name` is join-shaped, so the engine resolves it
  * after the load with [[graft.operators.SurrogateFk]].
  */
object TdlExpr {

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
}
