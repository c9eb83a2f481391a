package perfbench

import graft.pdfxml.{PdfLex, PdfXml, XmlTok}
import graft.shakespeare.Shakespeare
import graft.spark.{ExtractTurn, ExtractTurnExpr}
import graft.tokenize.Html

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Literal
import org.apache.spark.unsafe.types.UTF8String

/** Per-layer cost of the extraction kernel, measured by calling each layer's
  * public entry point on the workload's own document turns, one thread, one
  * turn at a time. Each call is a span under a per-turn root span.
  *
  * The layers nest inside `ExtractTurn.extract` and cannot be split from
  * outside the program, so each is called on its own on the same payload:
  *   - `expr`: `ExtractTurnExpr.eval`, the Catalyst entry the Spark job
  *     runs — extraction plus row emission;
  *   - `extract`: `ExtractTurn.extract`;
  *   - `sniff`: `ExtractTurn.sniffFormat`;
  *   - `xmltok` / `pdflex`: `XmlTok.parse` / `PdfLex.toNodes`;
  *   - `layout_classify`: `PdfXml.parseNodes` on the pre-tokenized nodes;
  *   - `html` / `shakespeare`: `Html.parse` / `Shakespeare.parse` (which
  *     calls `Html.parse` itself).
  * Row emission and Shakespeare's own share are differences of two spans,
  * reported as derived numbers.
  */
object Kernel {

  /** One payload's layer times; `error` names the exception class of a
    * layer call that threw (the payload then counts as a failed operation).
    */
  final case class Sample(format: String, lines: Int, ns: Map[String, Long],
      error: Option[String])

  /** Times every layer on each payload, in order, until `budgetNs` has
    * passed (at least one payload).
    */
  def profile(trace: Trace, payloads: IndexedSeq[String], budgetNs: Long): Seq[Sample] = {
    val stopAt = System.nanoTime() + budgetNs
    val out = Vector.newBuilder[Sample]
    var i = 0
    while (i < payloads.length && (i == 0 || System.nanoTime() < stopAt)) {
      val p = payloads(i)
      out += (try one(trace, p) catch {
        case e @ (_: StackOverflowError | scala.util.control.NonFatal(_)) =>
          Sample("error", 0, Map.empty, Some(e.getClass.getName))
      })
      i += 1
    }
    out.result()
  }

  private def one(trace: Trace, text: String): Sample = {
    val ns = Map.newBuilder[String, Long]
    def timed[A](name: String)(body: => A): A = {
      val t0 = System.nanoTime()
      val a = trace.span(name)(body)
      ns += name -> (System.nanoTime() - t0)
      a
    }
    trace.span("kernel.turn") {
      val expr = ExtractTurnExpr(Literal(UTF8String.fromString(text)))
      timed("expr")(expr.eval(InternalRow.empty))
      val turn = timed("extract")(ExtractTurn.extract(text))
      val format = timed("sniff")(ExtractTurn.sniffFormat(text))
      format match {
        case "pdfxml" =>
          val nodes = timed("xmltok")(XmlTok.parse(text))
          timed("layout_classify")(PdfXml.parseNodes(nodes, null))
        case "pdf" =>
          val nodes = timed("pdflex")(PdfLex.toNodes(text))
          timed("layout_classify")(PdfXml.parseNodes(nodes, null))
        case "shakespeare" =>
          timed("html")(Html.parse(text))
          timed("shakespeare")(Shakespeare.parse(text))
        case _ => ()
      }
      Sample(turn.format, turn.lines.length, ns.result(), None)
    }
  }
}
