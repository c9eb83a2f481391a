package graft

import graft.MiniPdf.{build, miniPdf, texts}
import graft.pdfxml.PdfLex

import org.scalatest.funsuite.AnyFunSuite

/** Content-stream text-state details (ISO 32000-1 §9): char/word spacing
  * and horizontal scaling in the advance formula, the `"` operator's
  * spacing operands, full graphics-state save/restore under q/Q, form
  * XObject invocation (`Do`) with translation matrices and inherited
  * resources, and byte-safe inline-image skipping.
  */
class PdfContentSpec extends AnyFunSuite {

  test("Tc/Tw add to advances; Tz scales them (§9.4.4)") {
    val content =
      // Courier /Widths 583.333333 at size 12 -> 7.0 px/glyph
      "17 TL /F0 12 Tf 0 0 0 rg\n" +
      // 4 glyphs + 4 x Tc 0.5 + 1 x Tw on the space = 28 + 2 + 1 = 31
      "BT 0.5 Tc 1 Tw 1 0 0 1 100 1140 Tm (AB C) Tj ET\n" +
      // Tz 50: 4 x 7 halved = 14
      "BT 0 Tc 0 Tw 50 Tz 1 0 0 1 100 1100 Tm (ABCD) Tj ET\n" +
      // TJ kerning also scales: 7 - (500/1000*12)*0.5 + 7 = 11
      "BT 1 0 0 1 100 1060 Tm [(AB) 500 (CD)] TJ ET\n"
    val got = texts(miniPdf(content))
    assert(got.map(_._1) == Vector("AB C", "ABCD", "ABCD"))
    assert(got.map(_._4) == Vector(31, 14, 11), got)
  }

  test("the \" operator sets word then char spacing before showing") {
    val content =
      "17 TL /F0 12 Tf 0 0 0 rg\n" +
      "BT 1 0 0 1 100 980 Tm (XY) Tj 2 0.5 (A B) \" ET\n"
    val got = texts(miniPdf(content))
    // "XY": plain 14; "A B" on the NEXT line (17 lower): 3 glyphs at the
    // honest 6.999999996 px + 3 x 0.5 Tc + 2 Tw = 24.49999... -> 24
    assert(got.map(_._1) == Vector("XY", "A B"))
    assert(got(1)._3 == got(0)._3 + 17, got)
    assert(got.map(_._4) == Vector(14, 24), got)
  }

  test("q/Q saves and restores the full text state (§8.4.2)") {
    val content =
      "17 TL 0 0 0 rg /F0 12 Tf 2 Tc\n" +
      "q 0 Tc /F0 6 Tf Q\n" + // the inner changes must not leak past Q
      "BT 1 0 0 1 100 900 Tm (AB) Tj ET\n"
    val got = texts(miniPdf(content))
    // size 12 + Tc 2 restored: 2 x 7 + 2 x 2 = 18
    assert(got == Vector(("AB", 100, 276, 18)), got)
  }

  test("inline images are skipped byte-safely (§8.9.7)") {
    val binary = ")(\\qQ(Tj BT(" // bytes that would derail the operand parser
    val content =
      "17 TL /F0 12 Tf 0 0 0 rg\n" +
      "BT 1 0 0 1 100 850 Tm (before) Tj ET\n" +
      "q BI /W 2 /H 2 /BPC 8 /CS /G ID " + binary + "\nEI Q\n" +
      "BT 1 0 0 1 100 830 Tm (after) Tj ET\n"
    val got = texts(miniPdf(content))
    assert(got.map(_._1) == Vector("before", "after"), got)
  }

  test("form XObjects: translated fragments, own and inherited resources") {
    val form1 = "17 TL /F0 12 Tf 0 0 0 rg BT 1 0 0 1 100 700 Tm (IN FORM) Tj ET"
    val form2 = "17 TL /F0 12 Tf 0 0 0 rg BT 1 0 0 1 50 600 Tm (INHERITED) Tj ET"
    val widths = Seq.fill(95)("583.333333").mkString("[ ", " ", " ]")
    val pageContent =
      "17 TL /F0 12 Tf 0 0 0 rg BT 1 0 0 1 100 1000 Tm (ON PAGE) Tj ET\n" +
      "/Fm1 Do /Fm2 Do /Im1 Do\n" +
      // the dominant real placement pattern: translate-cm + Do under q/Q
      "q 1 0 0 1 5 -10 cm /Fm2 Do Q\n"
    val objs = Vector(
      "<< /Type /Catalog /Pages 2 0 R >>",
      "<< /Type /Pages /Kids [ 3 0 R ] /Count 1 >>",
      "<< /Type /Page /Parent 2 0 R /MediaBox [ 0 0 918 1188 ] " +
        "/Resources << /Font << /F0 4 0 R >> " +
        "/XObject << /Fm1 6 0 R /Fm2 7 0 R /Im1 8 0 R >> >> /Contents 5 0 R >>",
      "<< /Type /Font /Subtype /Type1 /BaseFont /Courier /FirstChar 32 " +
        s"/LastChar 126 /Widths $widths >>",
      s"<< /Length ${pageContent.length} >>\nstream\n" + pageContent + "\nendstream",
      // form with its own resources and a translation matrix
      "<< /Type /XObject /Subtype /Form /Matrix [ 1 0 0 1 10 -20 ] " +
        "/Resources << /Font << /F0 4 0 R >> >> " +
        s"/Length ${form1.length} >>\nstream\n" + form1 + "\nendstream",
      // form with NO resources entry: inherits the page's
      s"<< /Type /XObject /Subtype /Form /Length ${form2.length} >>\nstream\n" +
        form2 + "\nendstream",
      // image XObject: must be ignored without reading its binary
      "<< /Type /XObject /Subtype /Image /Width 2 /Height 2 " +
        "/BitsPerComponent 8 /ColorSpace /DeviceGray /Length 4 >>\nstream\nÞ­¾ï\nendstream")
    val got = texts(build(objs))
    // ON PAGE at top 1188-1000-12=176; IN FORM at (100+10, 476+20=496);
    // INHERITED untranslated at 50, 1188-600-12=576; the cm-placed
    // second stamp shifts by (+5, -10) -> (55, 586)
    assert(got.map(t => (t._1, t._2, t._3)) == Vector(
      ("ON PAGE", 100, 176), ("IN FORM", 110, 496), ("INHERITED", 50, 576),
      ("INHERITED", 55, 586)), got)
  }

  test("cm translation offsets direct text; non-translation cm is rejected") {
    val content =
      "17 TL /F0 12 Tf 0 0 0 rg\n" +
      "BT 1 0 0 1 100 1000 Tm (BASE) Tj ET\n" +
      "q 1 0 0 1 20 -30 cm BT 1 0 0 1 100 1000 Tm (MOVED) Tj ET Q\n" +
      "BT 1 0 0 1 100 900 Tm (AFTER) Tj ET\n"
    val got = texts(miniPdf(content))
    assert(got.map(t => (t._1, t._2, t._3)) == Vector(
      ("BASE", 100, 176), ("MOVED", 120, 206), ("AFTER", 100, 276)), got)
    val scaled = miniPdf(
      "BT /F0 12 Tf (X) Tj ET\n2 0 0 2 0 0 cm\nBT (Y) Tj ET\n")
    intercept[PdfLex.PdfError](PdfLex.toNodes(scaled))
  }

  test("/Encoding: WinAnsi decodes 0x80-0x9F; /Differences remaps; advances stay byte-indexed") {
    val widths = Seq.fill(95)("583.333333").mkString("[ ", " ", " ]")
    val content =
      // \222 = 0x92 = WinAnsi U+2019 (right single quote); its byte code
      // is outside the 32..126 /Widths table, so it advances 0
      "17 TL 0 0 0 rg BT /F0 12 Tf 1 0 0 1 100 1000 Tm (It\\222s) Tj ET\n" +
      // /F1 remaps byte 65 ('A') to emdash via /Differences — the TEXT
      // changes but the advance still uses code 65's width
      "BT /F1 12 Tf 1 0 0 1 100 980 Tm (AB) Tj ET\n"
    val objs = Vector(
      "<< /Type /Catalog /Pages 2 0 R >>",
      "<< /Type /Pages /Kids [ 3 0 R ] /Count 1 >>",
      "<< /Type /Page /Parent 2 0 R /MediaBox [ 0 0 918 1188 ] " +
        "/Resources << /Font << /F0 4 0 R /F1 6 0 R >> >> /Contents 5 0 R >>",
      "<< /Type /Font /Subtype /Type1 /BaseFont /Courier /FirstChar 32 " +
        s"/LastChar 126 /Widths $widths /Encoding /WinAnsiEncoding >>",
      s"<< /Length ${content.length} >>\nstream\n" + content + "\nendstream",
      "<< /Type /Font /Subtype /Type1 /BaseFont /Courier /FirstChar 32 " +
        s"/LastChar 126 /Widths $widths " +
        "/Encoding << /Differences [ 65 /emdash ] >> >>")
    val got = texts(build(objs))
    assert(got.map(_._1) == Vector("It’s", "—B"), got)
    // 3 in-table glyphs for "It's" (0x92 has no width entry); 2 for "AB"
    assert(got.map(_._4) == Vector(21, 14), got)
  }

  test("Type0/Identity-H: ToUnicode text, /W + /DW advances, style from BaseFont") {
    val toUni =
      """/CIDInit /ProcSet findresource begin
        |begincmap
        |2 beginbfchar
        |<000a> <0048>
        |<000b> <0049>
        |endbfchar
        |1 beginbfrange
        |<0014> <0016> <0041>
        |endbfrange
        |endcmap
        |end""".stripMargin
    val widths = Seq.fill(95)("583.333333").mkString("[ ", " ", " ]")
    // CIDs 10,11 -> "HI" (bfchar); 20,21,22 -> "ABC" (bfrange); 99 has no
    // mapping -> falls back to the code's char 'c', width /DW
    val content =
      "17 TL 0 0 0 rg BT /F0 12 Tf 1 0 0 1 100 950 Tm " +
      "<000a000b0014001500160063> Tj ET\n"
    val objs = Vector(
      "<< /Type /Catalog /Pages 2 0 R >>",
      "<< /Type /Pages /Kids [ 3 0 R ] /Count 1 >>",
      "<< /Type /Page /Parent 2 0 R /MediaBox [ 0 0 918 1188 ] " +
        "/Resources << /Font << /F0 6 0 R >> >> /Contents 5 0 R >>",
      "<< /Type /Font /Subtype /Type1 /BaseFont /Courier /FirstChar 32 " +
        s"/LastChar 126 /Widths $widths >>",
      s"<< /Length ${content.length} >>\nstream\n" + content + "\nendstream",
      "<< /Type /Font /Subtype /Type0 /BaseFont /NotoSans-Bold " +
        "/Encoding /Identity-H /DescendantFonts [ 7 0 R ] /ToUnicode 8 0 R >>",
      "<< /Type /Font /Subtype /CIDFontType2 /BaseFont /NotoSans-Bold " +
        "/DW 500 /W [ 10 [ 600 700 ] 20 22 583.333333 ] >>",
      s"<< /Length ${toUni.length} >>\nstream\n" + toUni + "\nendstream")
    val pages = PdfLex.toNodes(build(objs))
    val t = pages.head.children.filter(_.tag == "TEXT").head
    assert(t.value == "HIABCc", t.value)
    // (600+700)/1000*12 + 3 x 7 + 500/1000*12 = 7.2+8.4+21+6 = 42.6 -> 43
    assert(t.attr("WIDTH") == "43", t.attr("WIDTH"))
    // -Bold suffix -> a b-span over the whole run; fontspec family NotoSans
    assert(t.textAttributes.get("b").exists(_ == Vector(graft.model.Span(0, 5))),
      t.textAttributes)
    val spec = pages.head.children.filter(_.tag == "FONTSPEC").head
    assert(spec.attr("FAMILY") == "NotoSans")
  }

  test("a scaled/rotated form matrix is rejected, not mis-extracted") {
    val form = "BT /F0 12 Tf (X) Tj ET"
    val widths = Seq.fill(95)("583.333333").mkString("[ ", " ", " ]")
    val objs = Vector(
      "<< /Type /Catalog /Pages 2 0 R >>",
      "<< /Type /Pages /Kids [ 3 0 R ] /Count 1 >>",
      "<< /Type /Page /Parent 2 0 R /MediaBox [ 0 0 918 1188 ] " +
        "/Resources << /Font << /F0 4 0 R >> /XObject << /Fm 6 0 R >> >> " +
        "/Contents 5 0 R >>",
      "<< /Type /Font /Subtype /Type1 /BaseFont /Courier /FirstChar 32 " +
        s"/LastChar 126 /Widths $widths >>",
      "<< /Length 7 >>\nstream\n/Fm Do \nendstream",
      "<< /Type /XObject /Subtype /Form /Matrix [ 2 0 0 2 0 0 ] " +
        s"/Resources << /Font << /F0 4 0 R >> >> /Length ${form.length} >>" +
        "\nstream\n" + form + "\nendstream")
    intercept[PdfLex.PdfError](PdfLex.toNodes(build(objs)))
  }

  test("mutation fuzz over the feature-dense document: extract_turn stays total") {
    // one document exercising Type0, /Differences, WinAnsi, a form
    // XObject and an inline image — corrupt it 200 ways and require the
    // extraction wrapper never escapes a throw
    val toUni = "1 beginbfchar\n<000a> <0048>\nendbfchar"
    val widths = Seq.fill(95)("583.333333").mkString("[ ", " ", " ]")
    val form = "BT /F0 12 Tf 1 0 0 1 100 700 Tm (FORM) Tj ET"
    val content =
      "17 TL 0 0 0 rg BT /F0 12 Tf 1 0 0 1 100 1000 Tm (It\\222s) Tj ET\n" +
      "BT /F2 12 Tf 1 0 0 1 100 950 Tm <000a> Tj ET\n" +
      "q BI /W 2 /H 2 /BPC 8 /CS /G ID )(ab\nEI Q\n" +
      "/Fm Do\n"
    val objs = Vector(
      "<< /Type /Catalog /Pages 2 0 R >>",
      "<< /Type /Pages /Kids [ 3 0 R ] /Count 1 >>",
      "<< /Type /Page /Parent 2 0 R /MediaBox [ 0 0 918 1188 ] " +
        "/Resources << /Font << /F0 4 0 R /F2 6 0 R >> " +
        "/XObject << /Fm 9 0 R >> >> /Contents 5 0 R >>",
      "<< /Type /Font /Subtype /Type1 /BaseFont /Courier /FirstChar 32 " +
        s"/LastChar 126 /Widths $widths /Encoding /WinAnsiEncoding >>",
      s"<< /Length ${content.length} >>\nstream\n" + content + "\nendstream",
      "<< /Type /Font /Subtype /Type0 /BaseFont /X-Bold /Encoding /Identity-H " +
        "/DescendantFonts [ 7 0 R ] /ToUnicode 8 0 R >>",
      "<< /Type /Font /Subtype /CIDFontType2 /BaseFont /X-Bold /DW 500 >>",
      s"<< /Length ${toUni.length} >>\nstream\n" + toUni + "\nendstream",
      "<< /Type /XObject /Subtype /Form " +
        s"/Length ${form.length} >>\nstream\n" + form + "\nendstream")
    val pdf = new String(build(objs), java.nio.charset.StandardCharsets.ISO_8859_1)
    // sanity: the pristine document extracts through the pdf path
    assert(graft.spark.ExtractTurn.extract(pdf).format == "pdf")
    val r = new java.util.SplittableRandom(0xfeedbeefL)
    var errors = 0
    for (_ <- 1 to 200) {
      val b = pdf.toCharArray
      for (_ <- 0 to r.nextInt(3)) {
        b(r.nextInt(b.length)) = (r.nextInt(127 - 9) + 9).toChar
      }
      val t = graft.spark.ExtractTurn.extract(new String(b))
      if (t.format == "error") errors += 1
      assert(Set("pdf", "error", "unknown").contains(t.format), t.format)
    }
    assert(errors > 0, "no mutation broke the parse — fuzz too weak")
  }
}
