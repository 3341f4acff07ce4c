package graft.html

/** HTML entity decoding — hand-rolled minimal table (named + numeric), the
  * analogue of the reference's 5-entity hand-rolled escape
  * (/root/reference/src/domain/structure.rs:535-541). Hand-rolled so the
  * byte-identity contract is under our control, not a library's.
  */
object Entities {
  private val named: Map[String, String] = Map(
    "amp" -> "&", "lt" -> "<", "gt" -> ">", "quot" -> "\"", "apos" -> "'",
    "nbsp" -> " ", "mdash" -> "—", "ndash" -> "–",
    "hellip" -> "…", "copy" -> "©", "reg" -> "®",
    "trade" -> "™", "laquo" -> "«", "raquo" -> "»",
    "lsquo" -> "‘", "rsquo" -> "’", "ldquo" -> "“",
    "rdquo" -> "”", "middot" -> "·", "bull" -> "•",
    "deg" -> "°", "plusmn" -> "±", "times" -> "×",
    "divide" -> "÷", "euro" -> "€", "pound" -> "£",
    "yen" -> "¥", "cent" -> "¢", "sect" -> "§",
    "para" -> "¶", "shy" -> ""
  )

  /** Longest entity body `matchAt` considers: its ';' must lie within ten
    * chars of the '&'. */
  val MaxLen = 9

  /** If an entity starts at `amp` (an '&' position) return its replacement
    * string (may be empty, e.g. &shy;) and the chars consumed, else null.
    * Named replacements come from the shared table (no allocation); numeric
    * ones allocate one tiny String. */
  def matchAt(s: String, amp: Int): (String, Int) = {
    // bounded search: a ';' further than 10 chars out can never complete an
    // entity, and an UNBOUNDED indexOf made '&'-dense text with no
    // semicolons quadratic (every '&' scanned to end-of-string)
    val limit = math.min(s.length, amp + MaxLen + 2)
    var semi = -1
    var k = amp + 1
    while (semi < 0 && k < limit) { if (s.charAt(k) == ';') semi = k; k += 1 }
    if (semi <= amp) return null
    val rep = replacement(s.substring(amp + 1, semi))
    if (rep == null) null else (rep, semi + 1 - amp)
  }

  /** Replacement of the entity body between '&' and ';', or null. */
  def replacement(body: String): String =
    if (body.startsWith("#x") || body.startsWith("#X")) {
      try String.valueOf(Character.toChars(Integer.parseInt(body.substring(2), 16)))
      catch { case _: Exception => null }
    } else if (body.startsWith("#")) {
      try String.valueOf(Character.toChars(Integer.parseInt(body.substring(1))))
      catch { case _: Exception => null }
    } else named.getOrElse(body, null)
}
