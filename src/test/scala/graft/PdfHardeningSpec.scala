package graft

import graft.MiniPdf.{miniPdf, texts}
import graft.pdfxml.PdfLex
import graft.pdfxml.PdfLex.PdfError
import graft.spark.ExtractTurn

import org.scalatest.funsuite.AnyFunSuite

/** Round-7 hardening pins: the Tm matrix subset guard (the last silent
  * mis-extraction path found in round-6 review), the xref-stream /W bomb
  * guard, /Encrypt refusal surviving a damaged xref, inline-image boolean
  * operands, and the Q-restore flush.
  */
class PdfHardeningSpec extends AnyFunSuite {

  test("scaled Tm is refused, not silently read as translation") {
    val content =
      "17 TL /F0 12 Tf 0 0 0 rg\n" +
      "BT 2 0 0 2 100 700 Tm (SCALED) Tj ET\n"
    val e = intercept[PdfError](PdfLex.toNodes(miniPdf(content)))
    assert(e.getMessage.contains("Tm"), e.getMessage)
    // and through the total extraction kernel it degrades to format=error,
    // never wrong geometry
    val t = ExtractTurn.extract(new String(miniPdf(content),
      java.nio.charset.StandardCharsets.ISO_8859_1))
    assert(t.format == "error", t.format)
  }

  test("rotated Tm is refused; pure translation still extracts") {
    val rot = "17 TL /F0 12 Tf 0 0 0 rg BT 0 1 -1 0 100 700 Tm (ROT) Tj ET\n"
    intercept[PdfError](PdfLex.toNodes(miniPdf(rot)))
    val ok = "17 TL /F0 12 Tf 0 0 0 rg BT 1 0 0 1 100 700 Tm (PLAIN) Tj ET\n"
    assert(texts(miniPdf(ok)).map(_._1) == Vector("PLAIN"))
  }

  test("xref stream with /W [0 0 0] and a bomb /Index cannot spin") {
    // rowLen == 0 made the in-loop truncation guard vacuous: /Index
    // [0 2000000000] would insert two billion entries. The guard must
    // throw (falling back to the full scan, which still extracts).
    val content =
      "17 TL /F0 12 Tf 0 0 0 rg BT 1 0 0 1 108 1140 Tm (SURVIVES) Tj ET"
    val widths = Seq.fill(95)("583.333333").mkString("[ ", " ", " ]")
    val objs = Vector(
      "<< /Type /Catalog /Pages 2 0 R >>",
      "<< /Type /Pages /Kids [ 3 0 R ] /Count 1 >>",
      "<< /Type /Page /Parent 2 0 R /MediaBox [ 0 0 918 1188 ] " +
        "/Resources << /Font << /F0 4 0 R >> >> /Contents 5 0 R >>",
      "<< /Type /Font /Subtype /Type1 /BaseFont /Courier /FirstChar 32 " +
        s"/LastChar 126 /Widths $widths >>",
      s"<< /Length ${content.length} >>\nstream\n" + content + "\nendstream")
    val sb = new StringBuilder("%PDF-1.5\n")
    val offs = new Array[Int](objs.length + 1)
    objs.zipWithIndex.foreach { case (body, i) =>
      offs(i + 1) = sb.length
      sb.append(i + 1).append(" 0 obj\n").append(body).append("\nendobj\n")
    }
    val xrefStmOff = sb.length
    sb.append("6 0 obj\n<< /Type /XRef /Size 7 /Root 1 0 R /W [ 0 0 0 ] ")
      .append("/Index [ 0 2000000000 ] /Length 0 >>\nstream\n")
      .append("\nendstream\nendobj\n")
    sb.append("startxref\n").append(xrefStmOff).append("\n%%EOF\n")
    val bytes = sb.toString.getBytes(java.nio.charset.StandardCharsets.ISO_8859_1)
    val t0 = System.nanoTime()
    val got = texts(bytes).map(_._1)
    val secs = (System.nanoTime() - t0) / 1e9
    assert(got == Vector("SURVIVES"), got)
    assert(secs < 10.0, f"xref-stream bomb took $secs%.1f s — guard not effective")
  }

  test("/Encrypt refusal survives a damaged xref (scan fallback)") {
    // classic serialization, /Encrypt in the TRAILER dict, startxref
    // pointing at garbage: readXref fails, rebuildFromScan recovers the
    // objects — and must still refuse rather than emit ciphertext
    val content =
      "17 TL /F0 12 Tf 0 0 0 rg BT 1 0 0 1 100 700 Tm (CIPHER) Tj ET"
    val base = new String(miniPdf(content),
      java.nio.charset.StandardCharsets.ISO_8859_1)
    val broken = base
      .replace(" /Root 1 0 R >>", " /Root 1 0 R /Encrypt 9 0 R >>")
      .replaceAll("startxref\n\\d+", "startxref\n999999999")
    val e = intercept[PdfError](PdfLex.toNodes(
      broken.getBytes(java.nio.charset.StandardCharsets.ISO_8859_1)))
    assert(e.getMessage.toLowerCase.contains("encrypt"), e.getMessage)
    // control: same damage WITHOUT /Encrypt extracts via the scan fallback
    val damagedPlain = base.replaceAll("startxref\n\\d+", "startxref\n999999999")
    assert(texts(damagedPlain.getBytes(
      java.nio.charset.StandardCharsets.ISO_8859_1)).map(_._1) == Vector("CIPHER"))
  }

  test("inline-image dict boolean values (/IM true) are skipped, not errors") {
    val content =
      "17 TL /F0 12 Tf 0 0 0 rg\n" +
      "BT 1 0 0 1 100 850 Tm (before) Tj ET\n" +
      "q BI /W 2 /H 2 /BPC 1 /IM true /I false /CS null ID \nEI Q\n" +
      "BT 1 0 0 1 100 830 Tm (after) Tj ET\n"
    val got = texts(miniPdf(content))
    assert(got.map(_._1) == Vector("before", "after"), got)
  }

  test("Q flushes pending show pieces before restoring the CTM") {
    // (AA) is shown under a cm-translated CTM saved/restored by q/Q, with
    // (BB) shown after the Q in the SAME text object: the pieces must
    // flush at Q so AA keeps the translated coordinates
    val content =
      "17 TL /F0 12 Tf 0 0 0 rg\n" +
      "BT q 1 0 0 1 0 -17 cm 1 0 0 1 100 800 Tm (AA) Tj Q (BB) Tj ET\n"
    val got = texts(miniPdf(content))
    assert(got.map(_._1) == Vector("AA", "BB"), got)
    val (topAA, topBB) = (got(0)._3, got(1)._3)
    // ty = -17 moves AA down the page 17px relative to BB's restored CTM
    assert(topAA == topBB + 17, got)
  }
}
