package graft.functions

import java.text.Normalizer
import java.util.Locale

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{DataType, IntegerType, StringType}
import org.apache.spark.sql.Column
import org.apache.spark.unsafe.Platform
import org.apache.spark.unsafe.types.UTF8String

/** Native Catalyst expression: Unicode NFC normalization (UAX #15) of a
  * string column — the standard text-cleaning step before exact/fuzzy dedup
  * or tokenization, where visually-identical strings with different
  * codepoint sequences (decomposed e + COMBINING ACUTE vs precomposed é)
  * must compare equal. Semantics match DuckDB's `nfc_normalize` (both
  * implement the same Unicode standard), which is the d25 oracle.
  *
  * Codegen'd via a single static call (no UDF, no CodegenFallback): the
  * expression stays inside whole-stage codegen like any built-in string
  * function. Two allocation-free fast paths cover the bulk of web text:
  * pure-ASCII input (numBytes == numChars ⇒ already NFC by construction)
  * and already-normalized input (`Normalizer.isNormalized`, a scan without
  * building the normalized copy). Null in → null out.
  */
case class NfcNormalize(child: Expression) extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case _: StringType => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(s"graft_nfc requires string, got $t")
  }
  override def dataType: DataType = child.dataType
  override def prettyName: String = "graft_nfc"

  override def nullSafeEval(input: Any): Any =
    NfcNormalize.nfc(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      c => s"graft.functions.NfcNormalize$$.MODULE$$.nfc($c)")

  override protected def withNewChildInternal(newChild: Expression): NfcNormalize =
    copy(child = newChild)
}

object NfcNormalize {
  /** Shared by interpreted eval and generated code. */
  def nfc(s: UTF8String): UTF8String = {
    // pure ASCII (every codepoint one byte) is NFC by construction
    if (s.numBytes == s.numChars) return s
    val str = s.toString
    if (Normalizer.isNormalized(str, Normalizer.Form.NFC)) s
    else UTF8String.fromString(Normalizer.normalize(str, Normalizer.Form.NFC))
  }
}

/** Native Catalyst expression: the code-point count of a string column, the
  * figure `length()` gives, counted a word at a time. A code point is a
  * UTF-8 byte that is not a continuation byte (10xxxxxx), so the count is
  * `numBytes` minus the continuation bytes, 8 bytes per step. On the valid
  * UTF-8 that Spark encodes from Java Strings (an unpaired surrogate becomes
  * `?`) it equals `UTF8String.numChars`, which decodes each lead byte's
  * length instead. Codegen'd via a single static call, like [[NfcNormalize]].
  * Null in → null out.
  */
case class CodePoints(child: Expression) extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case _: StringType => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(s"graft_code_points requires string, got $t")
  }
  override def dataType: DataType = IntegerType
  override def prettyName: String = "graft_code_points"

  override def nullSafeEval(input: Any): Any =
    CodePoints.count(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      c => s"graft.functions.CodePoints$$.MODULE$$.count($c)")

  override protected def withNewChildInternal(newChild: Expression): CodePoints =
    copy(child = newChild)
}

object CodePoints {
  private final val HighBits = 0x8080808080808080L

  /** Shared by interpreted eval and generated code. */
  def count(s: UTF8String): Int = {
    val base = s.getBaseObject
    val n = s.numBytes
    var off = s.getBaseOffset
    val end = off + n
    var continuation = 0
    while (off + 8 <= end) {
      val w = Platform.getLong(base, off)
      // bit 7 of a byte set and bit 6 (shifted up into bit 7) clear
      continuation += java.lang.Long.bitCount(w & ~(w << 1) & HighBits)
      off += 8
    }
    while (off < end) {
      if ((Platform.getByte(base, off) & 0xc0) == 0x80) continuation += 1
      off += 1
    }
    n - continuation
  }
}

/** Native Catalyst expression: URL canonicalization for crawl dedup keys.
  * Deterministic, documented transform — NOT a general URL parser:
  *
  *  - the fragment (`#...`) is dropped (never sent to servers);
  *  - without a `://`, or when the text before the first `://` is not an
  *    RFC 3986 scheme (a schemeless URL may embed an absolute URL in its
  *    query), the input is returned fragment-stripped and otherwise
  *    untouched (no scheme ⇒ no authority semantics to normalize);
  *  - scheme and host are lowercased (RFC 3986 §6.2.2.1); userinfo and path
  *    keep their case (case-sensitive by spec);
  *  - trailing host dots (FQDN root) and bare trailing colons (empty
  *    ports, RFC 3986 §6.2.3) are dropped — stacked in any order they
  *    collapse in ONE pass, keeping canonicalization idempotent;
  *  - a digits-only port behind the host's only colon is normalized
  *    textually (leading zeros stripped) and dropped when it is the scheme
  *    default (http:80, https:443); a malformed port (non-digits, or
  *    several colons outside an IPv6 bracket) stays verbatim in the host
  *    so distinct inputs cannot collide;
  *  - an empty path becomes `/`;
  *  - query params are split on `&`; empty params and tracking params
  *    (name starting with `utm_`, or in [[CanonUrl.TrackingParams]],
  *    case-insensitive) are dropped; survivors are sorted lexicographically
  *    (full `k=v` string, UTF-16 order) so param order cannot defeat dedup;
  *    an emptied query drops its `?`;
  *  - percent-escapes are left verbatim (decoding can change semantics).
  *
  * Codegen'd via a single static call; null in → null out. The d26 oracle
  * is planted truth: the query synthesizes a messy URL per row and DuckDB
  * constructs the expected canonical form directly.
  */
case class CanonUrl(child: Expression) extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case _: StringType => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(s"graft_canon_url requires string, got $t")
  }
  override def dataType: DataType = child.dataType
  override def prettyName: String = "graft_canon_url"

  override def nullSafeEval(input: Any): Any =
    UTF8String.fromString(CanonUrl.canon(input.asInstanceOf[UTF8String].toString))

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c =>
      s"org.apache.spark.unsafe.types.UTF8String.fromString(" +
        s"graft.functions.CanonUrl$$.MODULE$$.canon($c.toString()))")

  override protected def withNewChildInternal(newChild: Expression): CanonUrl =
    copy(child = newChild)
}

object CanonUrl {

  /** Tracking params dropped besides the `utm_` prefix family. */
  val TrackingParams: Set[String] =
    Set("fbclid", "gclid", "msclkid", "yclid", "igshid", "mc_cid", "mc_eid")

  private def isTracking(param: String): Boolean = {
    val eq = param.indexOf('=')
    val name = (if (eq >= 0) param.substring(0, eq) else param)
      .toLowerCase(Locale.ROOT)
    name.startsWith("utm_") || TrackingParams.contains(name)
  }

  /** RFC 3986 scheme shape: ALPHA *( ALPHA / DIGIT / "+" / "-" / "." ).
    * Anything else before "://" means the text is NOT a scheme (e.g. a
    * schemeless URL whose query embeds an absolute URL) — treat as no
    * scheme rather than lowercasing half the input. */
  private def isScheme(s: String): Boolean =
    s.nonEmpty && {
      val c0 = s.charAt(0)
      (c0 >= 'a' && c0 <= 'z') || (c0 >= 'A' && c0 <= 'Z')
    } && s.forall(c =>
      (c >= 'a' && c <= 'z') || (c >= 'A' && c <= 'Z') ||
      (c >= '0' && c <= '9') || c == '+' || c == '-' || c == '.')

  /** Shared by interpreted eval and generated code. */
  def canon(url: String): String = {
    val hash = url.indexOf('#')
    val base = if (hash >= 0) url.substring(0, hash) else url
    val sep = base.indexOf("://")
    if (sep < 0 || !isScheme(base.substring(0, sep))) return base
    val scheme = base.substring(0, sep).toLowerCase(Locale.ROOT)
    val rest = base.substring(sep + 3)
    var aEnd = 0
    while (aEnd < rest.length &&
      rest.charAt(aEnd) != '/' && rest.charAt(aEnd) != '?') aEnd += 1
    val rawAuth = rest.substring(0, aEnd)
    // userinfo keeps its case; only the host is case-insensitive
    val at = rawAuth.lastIndexOf('@')
    val userinfo = if (at >= 0) rawAuth.substring(0, at + 1) else ""
    var hostPort = if (at >= 0) rawAuth.substring(at + 1) else rawAuth
    // Tail-normalize to a FIXPOINT before the port split: bare trailing
    // colons are empty ports (RFC 3986 §6.2.3) and trailing dots are FQDN
    // root dots — both meaningless, and they stack in either order
    // ("host:.", "host.."). A single-shot strip loses one layer per pass
    // and breaks canon(canon(x)) == canon(x) (caught by the seeded fuzz).
    def stripTail(s0: String): String = {
      var s = s0
      var again = true
      while (again) {
        again = false
        while (s.nonEmpty && s.charAt(s.length - 1) == ':') {
          s = s.substring(0, s.length - 1); again = true
        }
        while (s.length > 1 && s.charAt(s.length - 1) == '.') {
          s = s.substring(0, s.length - 1); again = true
        }
      }
      s
    }
    hostPort = stripTail(hostPort)
    var host = hostPort
    var port = ""
    // a digits-only port behind the host's ONLY colon splits off; anything
    // else (non-digits, or several colons outside an IPv6 bracket — which
    // would leave a colon-bearing "host" that the next pass re-splits) is
    // malformed and passes through verbatim so distinct inputs stay distinct
    if (hostPort.startsWith("[")) { // IPv6 literal: port only after "]:"
      val rb = hostPort.indexOf(']')
      if (rb >= 0 && rb + 1 < hostPort.length && hostPort.charAt(rb + 1) == ':') {
        val p = hostPort.substring(rb + 2)
        if (p.forall(ch => ch >= '0' && ch <= '9')) {
          host = hostPort.substring(0, rb + 1)
          port = p
        }
      }
    } else {
      val c = hostPort.lastIndexOf(':')
      if (c >= 0 && hostPort.indexOf(':') == c) {
        val p = hostPort.substring(c + 1)
        if (p.forall(ch => ch >= '0' && ch <= '9')) {
          host = stripTail(hostPort.substring(0, c)) // "h.:80" → host "h."
          port = p
        }
      }
    }
    host = host.toLowerCase(Locale.ROOT)
    val portNorm =
      if (port.isEmpty) ""
      else { val t = port.dropWhile(_ == '0'); if (t.isEmpty) "0" else t }
    val keepPort = portNorm.nonEmpty &&
      !((scheme == "http" && portNorm == "80") ||
        (scheme == "https" && portNorm == "443"))
    val pq = rest.substring(aEnd)
    val qIdx = pq.indexOf('?')
    var path = if (qIdx >= 0) pq.substring(0, qIdx) else pq
    if (path.isEmpty) path = "/"
    val query =
      if (qIdx < 0) null
      else {
        val kept = pq.substring(qIdx + 1).split("&", -1)
          .filter(_.nonEmpty).filterNot(isTracking)
        if (kept.isEmpty) null else { scala.util.Sorting.quickSort(kept); kept.mkString("&") }
      }
    val sb = new java.lang.StringBuilder(base.length)
    sb.append(scheme).append("://").append(userinfo).append(host)
    if (keepPort) sb.append(':').append(portNorm)
    sb.append(path)
    if (query != null) sb.append('?').append(query)
    sb.toString
  }
}

/** Native Catalyst expression: one-pass language-ID features —
  * `struct(n_latin INT, n_cjk INT, lang STRING)` — replacing the ~12
  * interpreted regex passes of the oracle-shaped `ReferenceForms.langIdDF` form
  * (6 char-class counts, a pad-and-double `regexp_replace`, 4 stopword
  * alternation counts, a diacritic count) with one code-point scan plus one
  * token scan, at BIT-IDENTICAL results (TextExprSpec pins the equivalence
  * on adversarial vectors and a seeded fuzz corpus).
  *
  * Parity is structural, not re-derived: the input is clipped with the same
  * `UTF8String.substringSQL(1, 4000)` the SQL `substring` calls and lowered
  * with the same `UTF8String.toLowerCase` the SQL `lower` calls (so
  * full-case-mapping edge cases like U+0130 agree by construction), and the
  * stopword count reproduces the regex form's space-doubling semantics —
  * a stopword counts iff it is a maximal run delimited by literal spaces
  * or the string boundary (tabs/newlines are NOT delimiters, matching the
  * `[ ]word[ ]` pattern). Null in → null out; the `langIdFast` wrapper
  * coalesces to the regex form's null outputs (0, 0, 'und').
  */
case class LangIdFeatures(child: Expression) extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case _: StringType => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(s"graft_lang_id requires string, got $t")
  }
  override def dataType: DataType = LangIdFeatures.schema
  override def prettyName: String = "graft_lang_id"

  override def nullSafeEval(input: Any): Any =
    LangIdFeatures.features(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      c => s"graft.functions.LangIdFeatures$$.MODULE$$.features($c)")

  override protected def withNewChildInternal(newChild: Expression): LangIdFeatures =
    copy(child = newChild)
}

object LangIdFeatures {
  import org.apache.spark.sql.types.{IntegerType, StructField, StructType}

  val schema: StructType = StructType(Seq(
    StructField("n_latin", IntegerType, nullable = false),
    StructField("n_cjk", IntegerType, nullable = false),
    StructField("lang", StringType, nullable = false)))

  private val En = Set("the", "and", "of", "to", "is")
  private val De = Set("der", "und", "die", "das", "ist")
  private val Fr = Set("le", "la", "les", "et", "est")
  private val Es = Set("el", "los", "las", "y", "es")

  /** Shared by interpreted eval and generated code. */
  def features(s0: UTF8String): org.apache.spark.sql.catalyst.InternalRow = {
    val s = s0.substringSQL(1, 4000)
    val str = s.toString
    var cjk = 0; var kana = 0; var hangul = 0; var arab = 0; var cyr = 0; var latin = 0
    var i = 0
    while (i < str.length) {
      val cp = str.codePointAt(i)
      if (cp >= 0x4E00 && cp <= 0x9FFF) cjk += 1
      else if (cp >= 0x3040 && cp <= 0x30FF) kana += 1
      else if (cp >= 0xAC00 && cp <= 0xD7AF) hangul += 1
      else if (cp >= 0x0600 && cp <= 0x06FF) arab += 1
      else if (cp >= 0x0400 && cp <= 0x04FF) cyr += 1
      else if ((cp >= 'A' && cp <= 'Z') || (cp >= 'a' && cp <= 'z') ||
        (cp >= 0xC0 && cp <= 0x17F)) latin += 1
      i += Character.charCount(cp)
    }
    val total = cjk + kana + hangul + arab + cyr + latin
    val lang =
      if (total == 0) "und"
      else if (kana * 5 >= total) "ja"
      else if (hangul * 2 >= total) "ko"
      else if (cjk * 2 >= total) "zh"
      else if (arab * 2 >= total) "ar"
      else if (cyr * 2 >= total) "ru"
      else if (latin * 2 >= total) latinLang(s)
      else "und"
    new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
      Array[Any](latin, cjk, UTF8String.fromString(lang)))
  }

  private def latinLang(s: UTF8String): String = {
    val lowered = s.toLowerCase.toString
    val n = lowered.length
    var wEn = 0; var wDe = 0; var wFr = 0; var wEs = 0
    var i = 0
    while (i <= n) { // <= so the final (virtually space-terminated) token runs
      var j = i
      while (j < n && lowered.charAt(j) != ' ') j += 1
      val len = j - i
      if (len >= 1 && len <= 3) { // every stopword is 1..3 chars
        val t = lowered.substring(i, j)
        if (En.contains(t)) wEn += 1
        if (De.contains(t)) wDe += 1
        if (Fr.contains(t)) wFr += 1
        if (Es.contains(t)) wEs += 1
      }
      i = j + 1
    }
    var k = 0
    while (k < n) {
      val c = lowered.charAt(k)
      if (c == 'ä' || c == 'ö' || c == 'ü' || c == 'ß') wDe += 1
      k += 1
    }
    if (math.max(math.max(wEn, wDe), math.max(wFr, wEs)) == 0) "en"
    else if (wEn >= wDe && wEn >= wFr && wEn >= wEs) "en"
    else if (wDe >= wFr && wDe >= wEs) "de"
    else if (wFr >= wEs) "fr"
    else "es"
  }
}

object TextFunctions {
  import org.apache.spark.sql.graft.Shims
  /** Column-level entry points used by ops.TextOps. */
  def nfc(c: Column): Column = Shims.column(NfcNormalize(Shims.expression(c)))
  def codePoints(c: Column): Column = Shims.column(CodePoints(Shims.expression(c)))
  def canonUrl(c: Column): Column = Shims.column(CanonUrl(Shims.expression(c)))
  def langIdFeatures(c: Column): Column =
    Shims.column(LangIdFeatures(Shims.expression(c)))
}
