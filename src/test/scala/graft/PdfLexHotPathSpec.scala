package graft

import graft.MiniPdf.{miniPdf, texts}
import graft.pdfxml.PdfLex
import graft.spark.ExtractTurn

import org.scalacheck.Gen
import org.scalatest.funsuite.AnyFunSuite

/** Parity pins for the content-stream interpreter's hot paths: the number
  * fast path and the table-driven `#rrggbb` fill colour each match the form
  * they replaced (kept inline below as the reference), literal strings
  * decode the same with or without escapes, and raw name bytes decode as
  * Latin-1.
  */
class PdfLexHotPathSpec extends AnyFunSuite {

  private def bits(d: Double): Long = java.lang.Double.doubleToRawLongBits(d)

  /** the replaced form: one `String` per token, then `toDouble` */
  private def reference(token: String): Double = token.toDouble

  private def assertParity(token: String): Unit =
    assert(bits(PdfLex.number(token)) == bits(reference(token)),
      s"'$token': ${PdfLex.number(token)} vs ${reference(token)}")

  test("number: bit-identical to String.toDouble on edge tokens") {
    Seq(
      "0", "-0", "+0", "-0.0", "0.", "-.0", ".5", "-.5", "5.", "+5.", "007", "-007.250",
      "0.1", "0.2", "0.3", "1.1", "612", "-17", "583.333333", "0.0000001",
      // 15 significant digits: the largest fast-path mantissas
      "123456789012345", "999999999999999", "0.123456789012345", "-99999999.9999999",
      // 16 and 17 significant digits take the toDouble fallback
      "1234567890123456", "9007199254740993", "12345678901234567", "0.12345678901234567",
      // fraction digits: 22 on the fast path, 23 on the fallback
      "0.0000000000000000000001", "1.0000000000000000000000",
      "0.00000000000000000000001", "5.00000000000000000000000",
      // leading zeros are not significant digits
      "0000000000000000000000001.5", "-000.000000000000123456789012345"
    ).foreach(assertParity)
  }

  test("number: bit-identical to String.toDouble on random [+-]digits[.digits]") {
    val digits = (n: Int) => Gen.listOfN(n, Gen.numChar).map(_.mkString)
    val token = for {
      sign <- Gen.oneOf("", "+", "-")
      nInt <- Gen.chooseNum(0, 20)
      int <- digits(nInt)
      dot <- Gen.oneOf(true, false)
      nFrac <- Gen.chooseNum(if (nInt == 0) 1 else 0, if (dot || nInt == 0) 25 else 0)
      frac <- digits(nFrac)
    } yield sign + int + (if (dot || nInt == 0) "." else "") + frac
    var s = org.scalacheck.rng.Seed(5150L)
    var i = 0
    while (i < 5000) {
      token(Gen.Parameters.default, s).foreach(assertParity)
      s = s.next
      i += 1
    }
  }

  test("number: malformed tokens still throw, and the turn becomes format=error") {
    Seq(".", "+", "-", "1.2.3", "--1", "+.").foreach { tok =>
      intercept[NumberFormatException](reference(tok))
      intercept[NumberFormatException](PdfLex.number(tok))
    }
    def turn(fill: String) = ExtractTurn.extract(new String(miniPdf(
      s"17 TL /F0 12 Tf $fill rg\nBT 1 0 0 1 100 1140 Tm (HELLO) Tj ET\n"),
      java.nio.charset.StandardCharsets.ISO_8859_1))
    assert(turn("0 0 0").format == "pdf")
    Seq(".", "+", "1.2.3").foreach { tok =>
      assert(turn(s"$tok 0 0").format == "error", tok)
    }
  }

  test("hexColor: matches the f-interpolator on every channel value and odd inputs") {
    def reference(r: Double, g: Double, b: Double): String = {
      def c(x: Double): Int = math.max(0, math.min(255, math.round(x * 255).toInt))
      f"#${c(r)}%02x${c(g)}%02x${c(b)}%02x"
    }
    def check(r: Double, g: Double, b: Double): Unit =
      assert(PdfLex.hexColor(r, g, b) == reference(r, g, b), (r, g, b))
    (0 to 255).foreach { v =>
      val x = v / 255.0
      check(x, 0, 0); check(0, x, 0); check(0, 0, x); check(x, x, x)
      check(x, 1 - x, x / 2)
    }
    val odd = Seq(-1.0, -0.0, -1e-9, 1.0000001, 2.0, 1e300, -1e300, Double.NaN,
      Double.PositiveInfinity, Double.NegativeInfinity, 0.5 / 255, 1.5 / 255)
    for (r <- odd; g <- odd) check(r, g, 0.5)
  }

  test("literal strings: escape-free and escaped/nested forms decode alike") {
    val content = "17 TL /F0 12 Tf 0 0 0 rg\n" +
      "BT 1 0 0 1 100 1140 Tm (café) Tj ET\n" +     // raw 0xE9 byte, no escape
      "BT 1 0 0 1 100 1100 Tm (caf\\351) Tj ET\n" +  // octal escape
      "BT 1 0 0 1 100 1060 Tm (a\\(b\\)c) Tj ET\n" + // escaped parentheses
      "BT 1 0 0 1 100 1020 Tm (a(b)c) Tj ET\n" +    // balanced nesting
      "BT 1 0 0 1 100 980 Tm () Tj (x) Tj ET\n"
    assert(texts(miniPdf(content)).map(_._1) ==
      Vector("café", "café", "a(b)c", "a(b)c", "x"))
  }

  test("parseName: raw name bytes >= 0x80 decode as Latin-1 (FONTSPEC FAMILY)") {
    // /BaseFont /Caf<0xE9>-Bold: the raw byte, no #xx escape
    val pdf = miniPdf("17 TL /F0 12 Tf 0 0 0 rg\nBT 1 0 0 1 100 1140 Tm (HELLO) Tj ET\n",
      baseFont = "Café-Bold")
    assert(pdf.contains(0xe9.toByte))
    val families = PdfLex.toNodes(pdf).flatMap(_.children.filter(_.tag == "FONTSPEC"))
      .map(_.attr("FAMILY"))
    assert(families == Vector("Café"), families)
    // the #xx escape form decodes to the same family
    val escaped = miniPdf("17 TL /F0 12 Tf 0 0 0 rg\nBT 1 0 0 1 100 1140 Tm (HELLO) Tj ET\n",
      baseFont = "Caf#e9-Bold")
    assert(PdfLex.toNodes(escaped).flatMap(_.children.filter(_.tag == "FONTSPEC"))
      .map(_.attr("FAMILY")) == Vector("Café"))
  }
}
