package graft.text

/** Arabic text normalization — T2 (basic) and T3 (enhanced) in
  * SURVEY.md §2.3, reimplementing clean_arabic_text:
  *
  *   basic    (scripts/all-pdf-to-json-smart.py:187-203):
  *     collapse whitespace -> fold alef variants to bare alef ->
  *     teh marbuta -> heh, yeh -> alef maksura -> strip diacritics +
  *     tatweel [ً-ٰٟـ] -> trim
  *   enhanced (scripts/all-pdf-to-json-smart-structured.py:324-345):
  *     basic + second whitespace collapse + Arabic punctuation
  *     [۔؍؎؏؞؟] -> "."
  *     (the reference's Kaf/Yeh "confusable" replaces at :335 are
  *     literal no-ops — same codepoints both sides — and are omitted;
  *     documented deviation none, semantics identical)
  *
  * Two twin forms here, with one source of truth for the char tables:
  *   - pure Scala: the regex forms `normalizeBasic`/`normalizeEnhanced`
  *     and their single-pass `*Fast` forms, which the typed OCR stage
  *     and the native Catalyst expressions run;
  *   - `*Sql`: ANSI SQL text for the DuckDB oracle.
  * The third twin, declarative Catalyst Column forms built from the
  * same tables, lives with the tests (`ReferenceNormalizer`); TwinSpec
  * and the ScalaCheck properties pin all of them to identical outputs.
  *
  * Whitespace contract: the reference uses Python str.split() (any
  * Unicode whitespace); we standardize on ASCII whitespace `\s` which
  * is identical on every fixture and driver table in scope.
  */
object ArabicNormalizer {

  // single source of truth for char tables
  val TranslateFrom = "أإآةي" // أ إ آ ة ي
  val TranslateTo = "اااهى" // ا ا ا ه ى
  val DiacriticChars: String = (0x064b to 0x065f).map(_.toChar).mkString + "ٰـ"
  val ArabicPunct = "۔؍؎؏؞؟" // ۔؍؎؏؞؟
  private val diacriticsClass = "[" + DiacriticChars + "]"
  private val punctClass = "[" + ArabicPunct + "]"

  // ---- pure Scala twins ------------------------------------------------

  // precompiled patterns: these run once per span in the OCR hot path
  private val wsPattern = java.util.regex.Pattern.compile("\\s+")
  private val diacriticsPattern = java.util.regex.Pattern.compile(diacriticsClass)
  private val punctPattern = java.util.regex.Pattern.compile(punctClass)

  private def collapseWs(s: String): String =
    wsPattern.split(s).filter(_.nonEmpty).mkString(" ")

  /** Python str.strip() at this pipeline point only ever removes
    * SPACES: split()-collapse has already consumed every edge
    * whitespace char, and non-whitespace control chars (e.g. U+0001)
    * are NOT stripped by Python. Java's String.trim (strips all chars
    * <= U+0020, control chars included) would diverge — so edge
    * stripping is space-only, matching Spark/DuckDB trim() too.
    */
  private def stripSpaces(s: String): String = {
    var a = 0
    var b = s.length
    while (a < b && s.charAt(a) == ' ') a += 1
    while (b > a && s.charAt(b - 1) == ' ') b -= 1
    s.substring(a, b)
  }

  def normalizeBasic(s: String): String = {
    if (s == null || s.isEmpty) return ""
    var t = collapseWs(s)
    t = translateStr(t)
    t = diacriticsPattern.matcher(t).replaceAll("")
    stripSpaces(t)
  }

  def normalizeEnhanced(s: String): String = {
    if (s == null || s.isEmpty) return ""
    var t = collapseWs(s)
    t = translateStr(t)
    t = diacriticsPattern.matcher(t).replaceAll("")
    t = wsPattern.matcher(t).replaceAll(" ")
    t = punctPattern.matcher(t).replaceAll(".")
    stripSpaces(t)
  }

  // ---- single-pass twins (used by the native Catalyst expressions) ------

  @inline private def isWsAscii(c: Char): Boolean =
    c == ' ' || c == '\t' || c == '\n' || c == '' || c == '\f' || c == '\r'

  @inline def isDiacritic(c: Char): Boolean =
    (c >= 'ً' && c <= 'ٟ') || c == 'ٰ' || c == 'ـ'

  @inline private def translateChar(c: Char): Char = {
    val i = TranslateFrom.indexOf(c)
    if (i >= 0) TranslateTo.charAt(i) else c
  }

  /** Byte-identical to normalizeBasic, in ONE scan: the two-phase
    * collapse-then-strip semantics (including the double-space quirk
    * around diacritic-only tokens) are reproduced by emitting the
    * inter-token separator unconditionally between tokens and trimming
    * at the end. Property-tested equal to the regex form.
    */
  def normalizeBasicFast(s: String): String = {
    if (s == null || s.isEmpty) return ""
    val sb = new java.lang.StringBuilder(s.length)
    var i = 0
    var inToken = false
    var seenToken = false
    while (i < s.length) {
      val c = s.charAt(i)
      if (isWsAscii(c)) {
        if (inToken) { seenToken = true; inToken = false }
      } else {
        if (!inToken) {
          if (seenToken) sb.append(' ') // separator of the collapsed form
          inToken = true
        }
        val t = translateChar(c)
        if (!isDiacritic(t)) sb.append(t)
      }
      i += 1
    }
    // final strip: drop leading/trailing SPACES left by edge
    // diacritic-only tokens (space-only, Python-faithful — see
    // stripSpaces)
    var a = 0
    var b = sb.length
    while (a < b && sb.charAt(a) == ' ') a += 1
    while (b > a && sb.charAt(b - 1) == ' ') b -= 1
    sb.substring(a, b)
  }

  /** Byte-identical to normalizeEnhanced in one scan: the enhanced form
    * re-collapses whitespace after diacritic removal, so separators are
    * emitted lazily — only when a token actually contributes output —
    * and Arabic punctuation folds to '.'.
    */
  def normalizeEnhancedFast(s: String): String = {
    if (s == null || s.isEmpty) return ""
    val sb = new java.lang.StringBuilder(s.length)
    var i = 0
    var pendingSep = false
    while (i < s.length) {
      val c = s.charAt(i)
      if (isWsAscii(c)) {
        if (sb.length > 0) pendingSep = true
      } else {
        val t = translateChar(c)
        if (!isDiacritic(t)) {
          if (pendingSep) { sb.append(' '); pendingSep = false }
          sb.append(if (ArabicPunct.indexOf(t) >= 0) '.' else t)
        }
      }
      i += 1
    }
    // no edge strip needed: separators are flushed lazily (never
    // trailing) and suppressed while empty (never leading); edge
    // control chars are kept, as Python strip() keeps them
    sb.toString
  }

  private def translateStr(s: String): String = {
    val sb = new StringBuilder(s.length)
    s.foreach { c =>
      val i = TranslateFrom.indexOf(c)
      sb.append(if (i >= 0) TranslateTo.charAt(i) else c)
    }
    sb.toString
  }

  // ---- SQL text twins (DuckDB dialect; RE2 regex, literal char classes) -

  /** SQL-escape a string literal. */
  def sqlLit(s: String): String = "'" + s.replace("'", "''") + "'"

  def normalizeBasicSql(expr: String): String = {
    val collapsed = s"trim(regexp_replace(coalesce($expr, ''), '\\s+', ' ', 'g'))"
    val translated = s"translate($collapsed, ${sqlLit(TranslateFrom)}, ${sqlLit(TranslateTo)})"
    s"trim(regexp_replace($translated, ${sqlLit(diacriticsClass)}, '', 'g'))"
  }

  def normalizeEnhancedSql(expr: String): String = {
    val basic = {
      val collapsed = s"trim(regexp_replace(coalesce($expr, ''), '\\s+', ' ', 'g'))"
      val translated = s"translate($collapsed, ${sqlLit(TranslateFrom)}, ${sqlLit(TranslateTo)})"
      s"regexp_replace($translated, ${sqlLit(diacriticsClass)}, '', 'g')"
    }
    s"trim(regexp_replace(regexp_replace($basic, '\\s+', ' ', 'g'), ${sqlLit(ArabicPunct.map(ch => ch.toString).mkString("[", "", "]"))}, '.', 'g'))"
  }
}
