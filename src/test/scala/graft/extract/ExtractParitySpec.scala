package graft.extract

import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.Files

/** Port of the reference's 9 JUnit tests (ExtractTextProcessorTest.java,
  * 302 lines) over the same four binary fixtures — the parity gate of
  * SURVEY.md §5.2. Assertions mirror the originals: golden trimmed
  * prefixes, MIME attribute values, max-length bound, and no failures.
  */
class ExtractParitySpec extends AnyFunSuite {
  private def read(name: String): Array[Byte] =
    Files.readAllBytes(graft.ReferenceFixtures.file(name))

  // ETPTest.java:47-69 — PDF text mode
  test("simple.pdf extracts text starting 'A Simple PDF File'") {
    val r = TextExtractor.extract(read("simple.pdf"), "simple.pdf")
    assert(r.error == null, s"error=${r.error}")
    assert(r.text.trim.startsWith("A Simple PDF File"), r.text.take(80))
  }

  // ETPTest.java:145-158 — PDF attributes
  test("simple.pdf stamps mime.type=text/plain, orig.mime.type=application/pdf") {
    val r = TextExtractor.extract(read("simple.pdf"), "simple.pdf")
    assert(r.mimeType == "text/plain")
    assert(r.origMimeType == "application/pdf")
  }

  // ETPTest.java:160-191 — PDF HTML mode
  test("simple.pdf HTML mode yields text/html with body content") {
    val r = TextExtractor.extract(read("simple.pdf"), "simple.pdf", htmlOutput = true)
    assert(r.mimeType == "text/html")
    assert(r.origMimeType == "application/pdf")
    assert(r.text.contains("<html"))
    assert(r.text.contains("A Simple PDF File"))
    // Tika ToXMLContentHandler envelope: XML decl + Content-Type meta
    assert(r.text.startsWith("<?xml version=\"1.0\" encoding=\"UTF-8\"?>"))
    assert(r.text.contains("<meta name=\"Content-Type\" content=\"application/pdf\"/>"))
    // Tika's PDF handler wraps each page in <div class="page">
    assert(r.text.contains("<div class=\"page\">"))
  }

  test("PDF page segments concatenate to the single-stream extraction") {
    for (f <- Seq("simple.pdf", "big.pdf")) {
      val bytes = read(f)
      val pages = PdfText.extractPages(bytes, maxLen = -1)
      assert(pages.nonEmpty, f)
      // segments are individually trimmed, so compare modulo whitespace
      // runs: no text lost, duplicated, or reordered across boundaries
      def ws(s: String) = s.replaceAll("\\s+", " ").trim
      assert(ws(pages.mkString("\n")) == ws(PdfText.extract(bytes, maxLen = -1)), f)
    }
    // multi-page fixture really exercises the wrapper: big.pdf has many
    // content streams, one div each
    assert(PdfText.extractPages(read("big.pdf"), -1).length > 1)
  }

  test("PDF page segments honor the SAME max-length budget as extract") {
    def ws(s: String) = s.replaceAll("\\s+", " ").trim
    for {
      f <- Seq("simple.pdf", "big.pdf")
      maxLen <- Seq(50, 500, 5000)
    } {
      val bytes = read(f)
      val pages = PdfText.extractPages(bytes, maxLen)
      // one shared budget → pages concat to exactly extract()'s capped
      // output (modulo per-segment trims), never more and never less
      assert(ws(pages.mkString("\n")) == ws(PdfText.extract(bytes, maxLen)),
        s"$f maxLen=$maxLen")
      assert(pages.map(_.length).sum <= maxLen, s"$f maxLen=$maxLen budget")
    }
  }

  // ETPTest.java:77-99 — legacy DOC
  test("simple.doc extracts text starting 'A Simple WORD DOC File'") {
    val r = TextExtractor.extract(read("simple.doc"), "simple.doc")
    assert(r.error == null, s"error=${r.error}")
    assert(r.text.trim.startsWith("A Simple WORD DOC File"), r.text.take(80))
  }

  // ETPTest.java:193-216 — DOC attributes
  test("simple.doc stamps orig.mime.type=application/msword") {
    val r = TextExtractor.extract(read("simple.doc"), "simple.doc")
    assert(r.mimeType == "text/plain")
    assert(r.origMimeType == "application/msword")
  }

  // ETPTest.java:107-129 — DOCX
  test("simple.docx extracts text starting 'A Simple WORD DOCX File'") {
    val r = TextExtractor.extract(read("simple.docx"), "simple.docx")
    assert(r.error == null, s"error=${r.error}")
    assert(r.text.trim.startsWith("A Simple WORD DOCX File"), r.text.take(80))
  }

  // ETPTest.java:218-241 — DOCX attributes
  test("simple.docx stamps OOXML orig.mime.type") {
    val r = TextExtractor.extract(read("simple.docx"), "simple.docx")
    assert(r.origMimeType ==
      "application/vnd.openxmlformats-officedocument.wordprocessingml.document")
  }

  // ETPTest.java:246-266 — big.pdf, unlimited cap
  test("big.pdf with MAX_TEXT_LENGTH=-1 extracts more than 100 chars") {
    val r = TextExtractor.extract(read("big.pdf"), "big.pdf", maxLen = -1)
    assert(r.error == null, s"error=${r.error}")
    assert(r.text.length > 100, s"length=${r.text.length}")
  }

  // ETPTest.java:271-295 — truncation bound
  test("MAX_TEXT_LENGTH=100 caps output at 100 chars") {
    for (f <- Seq("simple.pdf", "big.pdf")) {
      val r = TextExtractor.extract(read(f), f, maxLen = 100)
      assert(r.error == null, s"$f: ${r.error}")
      assert(r.text.length <= 100, s"$f: length=${r.text.length}")
      assert(r.text.nonEmpty, f)
    }
  }

  // ETPTest.java:61 — zero flowfiles on the failure route for all fixtures
  test("all four fixtures route to success (error == null)") {
    for (f <- Seq("simple.pdf", "simple.doc", "simple.docx", "big.pdf")) {
      val r = TextExtractor.extract(read(f), f)
      assert(r.error == null, s"$f failed: ${r.error}")
    }
  }

  // Negative paths the reference under-tests (SURVEY.md §5.2)
  test("garbage binary routes to failure with the wasError contract") {
    val junk = Array.tabulate[Byte](256)(i => (i * 7 % 251).toByte)
    val r = TextExtractor.extract(junk, "junk.bin")
    assert(r.error != null)
    assert(r.text == null)
  }

  test("null content routes to failure (ExtractTextProcessor.java:194-197)") {
    val r = TextExtractor.extract(null, "none")
    assert(r.error != null)
  }

  test("truncated zip (docx) routes to failure, not crash") {
    val full = read("simple.docx")
    val cut = java.util.Arrays.copyOfRange(full, 0, 200)
    val r = TextExtractor.extract(cut, "simple.docx")
    // either clean failure or empty text — never an uncaught throw
    assert(r.error != null || r.text != null)
  }

  test("big.pdf parity: length within Tika ballpark (observed 65,614 chars)") {
    val r = TextExtractor.extract(read("big.pdf"), "big.pdf")
    // our extractor's whitespace model differs from Tika's; require the
    // same order of magnitude so we know all 79 streams' text came out
    assert(r.text.length > 30000, s"length=${r.text.length}")
    assert(r.text.length < 200000, s"length=${r.text.length}")
  }

  // T5 parity depth: .doc SummaryInformation property set ([MS-OLEPS])
  test("simple.doc metadata includes OLE summary properties") {
    val m = Metadata.extract(read("simple.doc"), "simple.doc")
    assert(m("Content-Type") == "application/msword")
    assert(m.get("LastAuthor").contains("Willy Demis"))
    assert(m.get("AppName").contains("Microsoft Macintosh Word"))
    assert(m.get("PageCount").contains("2"))
    assert(m.get("WordCount").contains("139"))
    assert(m.get("LastSaveDtm").exists(_.startsWith("2018-")))
  }

  // T5 parity depth: the second OLE property set Word writes
  test("simple.doc metadata includes DocumentSummaryInformation properties") {
    val m = Metadata.extract(read("simple.doc"), "simple.doc")
    assert(m.get("LineCount").contains("6"))
    assert(m.get("ParCount").contains("1"))
    assert(m.get("CharCountWithSpaces").contains("933"))
    assert(m.get("AppVersion").contains("983040")) // 0xF0000 = Word 15.0
    assert(m.get("ScaleCrop").contains("false"))
  }

  // tika.xml:1740-1750 Metadata Key Filter (full-match regex) + Prefix
  test("metadata key filter and prefix apply after extraction") {
    val m = Metadata.extract(read("simple.doc"), "simple.doc",
      Metadata.Options(keyFilter = Some("^Content-.*"), keyPrefix = "media."))
    assert(m.keySet == Set("media.Content-Type", "media.Content-Length"))
    assert(m("media.Content-Type") == "application/msword")
    // filter is a FULL match: a substring-only regex drops everything
    val none = Metadata.extract(read("simple.doc"), "simple.doc",
      Metadata.Options(keyFilter = Some("Content")))
    assert(none.isEmpty)
  }

  // PDF 1.5+ writers park /Info inside a Flate-compressed /ObjStm where
  // a raw-byte scan can't see it; neither fixture does, so pin the path
  // with a synthetic document.
  test("pdf /Info inside a compressed object stream is extracted") {
    val objStm = "12 0 << /Title (ObjStm Title) /Author (Obj Author) >>"
      .getBytes("ISO-8859-1")
    val deflated = {
      val d = new java.util.zip.Deflater()
      d.setInput(objStm); d.finish()
      val buf = new Array[Byte](1024)
      val n = d.deflate(buf)
      java.util.Arrays.copyOf(buf, n)
    }
    val out = new java.io.ByteArrayOutputStream()
    out.write("%PDF-1.5\n2 0 obj << /Type /ObjStm /N 1 /First 5 /Filter /FlateDecode >>\nstream\n"
      .getBytes("ISO-8859-1"))
    out.write(deflated)
    out.write("\nendstream\nendobj\n%%EOF".getBytes("ISO-8859-1"))
    val m = Metadata.extract(out.toByteArray, "objstm.pdf")
    assert(m.get("Title").contains("ObjStm Title"))
    assert(m.get("Author").contains("Obj Author"))
  }

  test("simple.docx metadata includes OOXML core properties") {
    val m = Metadata.extract(read("simple.docx"), "simple.docx")
    assert(m.contains("Content-Length"))
    assert(m.nonEmpty)
  }

  test("html input strips tags, scripts, and entities like the Tika path") {
    val html = """<html><head><title>My Doc</title>
      |<style>body { color: red; }</style>
      |<script>var x = "<p>not text</p>";</script></head>
      |<body><h1>Header</h1><p>Hello &amp; welcome to &quot;the&quot; test.</p>
      |<!-- a comment --><div>Second&nbsp;line &#65;&#x42;</div></body></html>"""
      .stripMargin.getBytes("UTF-8")
    val r = TextExtractor.extract(html, "page.html")
    assert(r.error == null, s"error=${r.error}")
    assert(r.origMimeType == "text/html")
    val t = r.text
    assert(t.contains("My Doc"))
    assert(t.contains("Hello & welcome to \"the\" test."))
    assert(t.contains("Second line AB"))
    assert(!t.contains("color: red"))
    assert(!t.contains("not text"))
    assert(!t.contains("a comment"))
    // maxLen still caps
    assert(TextExtractor.extract(html, "p.html", maxLen = 10).text.length <= 10)
  }

  test("fuzzed fixtures never throw: truncations and bit flips route cleanly") {
    for (f <- Seq("simple.pdf", "simple.doc", "simple.docx", "big.pdf")) {
      val full = read(f)
      for (cut <- Seq(1, 64, 511, 513, full.length / 2)) {
        val r = TextExtractor.extract(java.util.Arrays.copyOfRange(full, 0, cut), f)
        assert(r.error != null || r.text != null, s"$f cut=$cut")
      }
      val flipped = full.clone()
      for (pos <- Seq(0, full.length / 3, full.length - 1))
        flipped(pos) = (flipped(pos) ^ 0x5a).toByte
      val r = TextExtractor.extract(flipped, f)
      assert(r.error != null || r.text != null, s"$f flipped")
    }
  }
}
