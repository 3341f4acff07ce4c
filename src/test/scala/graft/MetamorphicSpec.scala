package graft

import java.nio.charset.{Charset => JCharset, StandardCharsets}
import org.scalatest.funsuite.AnyFunSuite
import graft.fixtures.FixtureGen
import graft.model.Page

/** Metamorphic kernel properties: boilerplate added to a page must not change
  * what `Extractor.extract` emits for it. */
class MetamorphicSpec extends AnyFunSuite {

  /** The wire charset behind an `ExtractedPage.charset` label:
    * "utf-16le->utf-8" was read as UTF-16LE, "utf-8(mislabeled:utf-16)" as
    * UTF-8. */
  private def wireCharset(label: String): JCharset =
    JCharset.forName(label.split("->|\\(").head)

  test("an appended <footer> leaves text, spans and error unchanged on rows 0-2999") {
    val footer = "<footer><p>Footer paragraph with enough words to count as content here.</p>" +
      "<a href=\"/about\">about this site</a></footer>"
    var checked = 0
    for (fx <- FixtureGen.corpus(3000)) {
      val base = Extractor.extract(fx.page)
      if (!base.isPdf) {
        val tail = footer.getBytes(wireCharset(base.charset))
        val got = Extractor.extract(fx.page.copy(html = fx.page.html ++ tail))
        val url = fx.page.url
        assert(got.error == base.error, s"$url: error ${got.error} vs ${base.error}")
        assert(got.text == base.text, s"$url (${base.charset}): text changed")
        assert(got.spans.toSeq == base.spans.toSeq, s"$url (${base.charset}): spans changed")
        checked += 1
      }
    }
    // 2,880 of the 3,000 rows are HTML (rowId % 50 == 1 or 26 are PDF)
    assert(checked == 2880, s"checked $checked rows")
  }

  test("a paragraph wrapped in <nav> is dropped") {
    def extract(body: String) = Extractor.extract(Page("t://nav", new java.sql.Timestamp(0L),
      s"<html><body>$body</body></html>".getBytes(StandardCharsets.UTF_8), "", "en"))
    val main = "<p>The article paragraph carries the real content words of the page.</p>"
    val nav = "<nav><p>A navigation paragraph that is long enough to pass as content.</p></nav>"
    val base = extract(main)
    val got = extract(nav + main)
    assert(base.text.contains("real content words"), base.text)
    assert(got.error == "" && got.text == base.text, got.text)
  }
}
