package graft

import graft.pdfxml.PdfLex

/** Classic one-page PDF builder for content-stream specs: a Courier-width
  * simple font `/F0` on a 918x1188 page, one content stream, and a classic
  * xref table.
  */
object MiniPdf {

  /** (text, LEFT, TOP, WIDTH) of every TEXT fragment, in page order */
  def texts(pdf: Array[Byte]): Vector[(String, Int, Int, Int)] =
    PdfLex.toNodes(pdf).flatMap(_.children.filter(_.tag == "TEXT")
      .map(t => (t.value, t.attr("LEFT").toInt, t.attr("TOP").toInt,
        t.attr("WIDTH").toInt)).toVector)

  /** `baseFont` is written byte for byte (Latin-1) after `/BaseFont /` */
  def miniPdf(content: String, baseFont: String = "Courier"): Array[Byte] = {
    val widths = Seq.fill(95)("583.333333").mkString("[ ", " ", " ]")
    build(Vector(
      "<< /Type /Catalog /Pages 2 0 R >>",
      "<< /Type /Pages /Kids [ 3 0 R ] /Count 1 >>",
      "<< /Type /Page /Parent 2 0 R /MediaBox [ 0 0 918 1188 ] " +
        "/Resources << /Font << /F0 4 0 R >> >> /Contents 5 0 R >>",
      s"<< /Type /Font /Subtype /Type1 /BaseFont /$baseFont /FirstChar 32 " +
        s"/LastChar 126 /Widths $widths >>",
      s"<< /Length ${content.length} >>\nstream\n" + content + "\nendstream"))
  }

  /** numbered objects `1 0 obj` .. `n 0 obj` (object 1 the catalog) plus
    * the xref table and trailer
    */
  def build(objs: Vector[String]): Array[Byte] = {
    val sb = new StringBuilder("%PDF-1.4\n")
    val offs = new Array[Int](objs.length + 1)
    objs.zipWithIndex.foreach { case (body, i) =>
      offs(i + 1) = sb.length
      sb.append(i + 1).append(" 0 obj\n").append(body).append("\nendobj\n")
    }
    val xref = sb.length
    sb.append("xref\n0 ").append(objs.length + 1).append("\n0000000000 65535 f \n")
    (1 to objs.length).foreach(n => sb.append(f"${offs(n)}%010d 00000 n \n"))
    sb.append("trailer\n<< /Size ").append(objs.length + 1)
      .append(" /Root 1 0 R >>\nstartxref\n").append(xref).append("\n%%EOF\n")
    sb.toString.getBytes(java.nio.charset.StandardCharsets.ISO_8859_1)
  }
}
