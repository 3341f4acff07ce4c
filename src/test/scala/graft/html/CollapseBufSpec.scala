package graft.html

import java.nio.charset.{Charset => JCharset, StandardCharsets}
import org.scalacheck.{Gen, Prop, Test}
import org.scalacheck.rng.Seed
import org.scalatest.funsuite.AnyFunSuite
import graft.score.Classifier
import graft.html.BlockBuilder.CollapseBuf

/** Reference forms of what `BlockBuilder.CollapseBuf` counts in its write
  * pass, kept here so the property below can check that pass against them. */
object CollapseRef {
  /** Word count: whitespace-delimited runs; each CJK codepoint counts as one
    * word (the reference's CJK-aware segmentation,
    * reference src/oarocr/ocr.rs:988-995). */
  def countWords(s: String): Int = {
    var n = 0
    var inWord = false
    var i = 0
    while (i < s.length) {
      val c = s.charAt(i)
      if (Classifier.isCjk(c)) { n += 1; inWord = false }
      else if (Character.isWhitespace(c)) inWord = false
      else if (!inWord) { n += 1; inWord = true }
      i += 1
    }
    n
  }

  /** Collapsible whitespace, as the kernel defines it: Java whitespace plus
    * NBSP. */
  def isWs(c: Char): Boolean = c == '\u00a0' || Character.isWhitespace(c)

  /** 64-bit FNV-1a over the UTF-16 chars. */
  def fingerprint(s: String): Long =
    s.foldLeft(0xcbf29ce484222325L)((h, c) => (h ^ c) * 0x100000001b3L)
}

/** The byte fast path of `CollapseBuf` (ASCII table, fused word count and
  * fingerprint, state carried across runs) against the String path and the
  * reference forms, over generated byte runs. */
class CollapseBufSpec extends AnyFunSuite {
  import CollapseRef._
  import CollapseBufSpec.Run

  private val cp1252 = JCharset.forName("windows-1252")

  /** Every ASCII byte `Character.isWhitespace` accepts. */
  private val asciiWs: Seq[Byte] = (0 until 128).filter(c => Character.isWhitespace(c.toChar)).map(_.toByte)

  private def atom(cs: JCharset): Gen[Array[Byte]] = {
    def enc(s: String) = s.getBytes(cs)
    val ascii = Gen.oneOf(Gen.alphaNumChar, Gen.oneOf('.', ',', ';', '#', '<', '>', '"'))
      .map(c => Array(c.toByte))
    val ws = Gen.oneOf(asciiWs).map(b => Array(b))
    // "&é;", "&#١٢;" and "&am中p;" hold a high byte inside the ';' window
    // ("&#١٢;" has Arabic-Indic digits, which Integer.parseInt accepts);
    // "&toolongname;" has its ';' past the window
    val entity = Gen.oneOf("&amp;", "&nbsp;", "&lt;", "&#x4E2D;", "&#169;", "&#x1F600;",
      "&shy;", "&bogus;", "&", "&amp", "&#;", "&#xZZ;", "&#1114112;",
      "&é;", "&#١٢;", "&am中p;", "&toolongname;").map(enc)
    val high =
      if (cs == StandardCharsets.UTF_8)
        Gen.oneOf(
          Gen.oneOf("é", "ß", "中文", "한", "カ", "\u00a0",
            "\u3000", "\u2028", "\u0085", "\uD83D\uDE00", "\u00ad").map(enc),
          // stray, truncated, overlong, surrogate and out-of-range
          // sequences: malformed input decodes to U+FFFD
          Gen.choose(0x80, 0xff).map(b => Array(b.toByte)),
          Gen.oneOf(Seq(0xc0, 0x80), Seq(0xc2), Seq(0xe0, 0x80, 0x80), Seq(0xe4, 0xb8),
            Seq(0xed, 0xa0, 0x80), Seq(0xef, 0xbf, 0xbf), Seq(0xf0, 0x9f, 0x98),
            Seq(0xf4, 0x90, 0x80, 0x80), Seq(0xf5, 0x80), Seq(0xe4, 0x41))
            .map(_.map(_.toByte).toArray))
      else Gen.choose(0x80, 0xff).map(b => Array(b.toByte)) // 0xA0 is NBSP
    Gen.frequency(5 -> ascii, 4 -> ws, 2 -> entity, 2 -> high)
  }

  private def run(cs: JCharset): Gen[Run] = for {
    atoms <- Gen.choose(0, 12).flatMap(Gen.listOfN(_, atom(cs)))
    bytes = atoms.toArray.flatten
    nCuts <- Gen.choose(0, 3)
    cuts <- Gen.listOfN(nCuts, Gen.choose(0, bytes.length))
    verbatim <- Gen.frequency(4 -> false, 1 -> true)
    hint <- Gen.oneOf(false, true)
  } yield Run(bytes, cuts.distinct.sorted, verbatim, hint)

  private val cases: Gen[(JCharset, List[Run])] = for {
    cs <- Gen.oneOf(StandardCharsets.UTF_8, cp1252)
    runs <- Gen.choose(1, 5).flatMap(Gen.listOfN(_, run(cs)))
  } yield (cs, runs)

  /** Feeds the runs, each split at its cuts, through `put`; returns the
    * buffer and the total non-whitespace count. */
  private def feed(runs: List[Run])(put: (CollapseBuf, Array[Byte], Int, Int) => Int): (CollapseBuf, Int) = {
    val b = new CollapseBuf(4)
    var nonWs = 0
    for (r <- runs) {
      b.verbatim = r.verbatim
      if (r.hint) b.wsHint()
      val edges = (0 :: r.cuts) :+ r.bytes.length
      edges.zip(edges.tail).foreach { case (from, until) => nonWs += put(b, r.bytes, from, until) }
    }
    (b, nonWs)
  }

  test("byte path matches the String path and the reference word count and fingerprint") {
    val prop = Prop.forAll(cases) { case (cs, runs) =>
      val (fast, fastNonWs) = feed(runs)((b, bs, from, until) => b.putRunBytes(bs, from, until, cs))
      val (slow, slowNonWs) = feed(runs)((b, bs, from, until) => b.putRun(Charset.decode(bs, from, until, cs)))
      val text = fast.result()
      // the fingerprint is a function of the text alone, however it was
      // split or decoded: a duplicate text always hits, and equals decides
      val ok = text == slow.result() &&
        fastNonWs == slowNonWs && fastNonWs == text.count(c => !isWs(c)) &&
        fast.words == slow.words && fast.words == countWords(text) &&
        fast.fingerprint == slow.fingerprint && fast.fingerprint == fingerprint(text)
      Prop(ok) :| s"text=${text.map(c => f"${c.toInt}%04x").mkString(" ")} " +
        s"slow=${slow.result().map(c => f"${c.toInt}%04x").mkString(" ")} " +
        s"nonWs=$fastNonWs/$slowNonWs words=${fast.words}/${slow.words}/${countWords(text)}"
    }
    val res = Test.check(
      Test.Parameters.default.withMinSuccessfulTests(600).withInitialSeed(Seed(20261017L)), prop)
    assert(res.passed, res.status.toString)
  }
}

object CollapseBufSpec {
  /** One run: its bytes, the cut points that split it across calls, the
    * verbatim mode it is written in, and whether a wsHint precedes it. */
  final case class Run(bytes: Array[Byte], cuts: List[Int], verbatim: Boolean, hint: Boolean)
}
