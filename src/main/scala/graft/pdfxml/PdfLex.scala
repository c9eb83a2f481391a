package graft.pdfxml

import graft.model.Span

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer

/** Hand-built raw-PDF byte-stream lexer: COS object/xref lexer plus a
  * content-stream text interpreter, producing the same per-page positioned
  * fragments (`PAGE`/`FONTSPEC`/`TEXT` [[XmlTok.XNode]] trees) that the
  * pdftohtml-XML tokenizer produces — so `%PDF-` payloads flow through the
  * SAME layout/classify pipeline ([[PdfXml.parseNodes]]) with zero
  * duplicated extraction logic.
  *
  * The reference shells out to pdftohtml and only ever sees its XML
  * (Parser.php:66-88); this path replaces that external binary with a
  * native lexer, per the engine's north star. Scope is the text-extraction
  * subset of ISO 32000-1 (public spec):
  *   - classic cross-reference tables + trailer (`startxref` ... `%%EOF`),
  *     with a full-file object scan as the damaged-xref fallback (the same
  *     recovery strategy real readers use);
  *   - PDF 1.5 cross-reference STREAMS (`/Type /XRef`, §7.5.8): `/W`
  *     field widths, `/Index` subsections, type 0/1/2 entries — so
  *     objects compressed into OBJECT STREAMS (`/Type /ObjStm`, §7.5.7)
  *     resolve through their (stream, index) location; hybrid-reference
  *     files' `/XRefStm` trailer pointer is honored (the stream's entries
  *     shadow the same revision's classic section, which marks hidden
  *     objects free for pre-1.5 readers, §7.5.8.4); `/Prev` chains may
  *     mix classic tables and xref streams freely;
  *   - indirect objects, dictionaries, arrays, names (incl. `#xx`
  *     escapes), literal strings (all `\` escapes + octal), hex strings,
  *     numbers, booleans, null, references;
  *   - streams with `/Length` direct or indirect and filter chains over
  *     `/FlateDecode` (java.util.zip.Inflater), `/ASCIIHexDecode`, and
  *     `/ASCII85Decode`, with `/DecodeParms` PNG predictors 10–15
  *     (None/Sub/Up/Average/Paeth row reconstruction) and TIFF
  *     predictor 2 (§7.4);
  *   - page tree walk with `/MediaBox`/`/Resources` inheritance;
  *   - content streams: graphics state `q`/`Q` (full text-state
  *     save/restore), fill color `rg`/`g`, text state
  *     `Tf`/`TL`/`Tc`/`Tw`/`Tz`, positioning `Td`/`TD`/`Tm`/`T*`,
  *     showing `Tj`/`TJ`/`'`/`"`; glyph advances from the font's
  *     `/Widths` array (`/FirstChar`-based, width 0 outside the table
  *     like a missing width) plus char/word spacing, all scaled by the
  *     horizontal scale; TJ kerning subtracts `n/1000 * size * Tz`;
  *   - form XObjects (`Do`, translation matrices — the text-extraction
  *     subset) interpreted recursively with their own `/Resources`, and
  *     inline images (`BI`...`ID`...`EI`) skipped byte-safely;
  *   - simple-font `/Encoding` (§9.6.5): WinAnsi (= windows-1252, curly
  *     quotes/dashes in 0x80–0x9F), MacRoman, and `/Differences` arrays
  *     over a practical Adobe-Glyph-List subset — text decodes, glyph
  *     advances stay indexed by the raw byte code;
  *   - composite Type0/CID fonts (§9.7) with `/Identity-H` (or `-V`)
  *     encoding: 2-byte codes are CIDs, text comes from the `/ToUnicode`
  *     CMap (`bfchar`/`bfrange`, UTF-16BE destinations), advances from
  *     the descendant's `/W` array with the `/DW` default — the shape
  *     modern PDF writers emit for virtually all text.
  *
  * Fragment model (mirrors what pdftohtml emits per `<text>`):
  *   - one fragment per SHOWN run between repositioning ops — `BT`, `Td`,
  *     `TD`, `Tm`, `T*` flush the pending fragment;
  *   - `top = pageH - y - size` (baseline to pdftohtml's top-edge px
  *     convention), `left = x`, `width` = accumulated advance, `height` =
  *     the text leading `TL` when set (pdftohtml's line box), else
  *     `ceil(1.4 * size)`;
  *   - bold/oblique faces inside a fragment become `b`/`i` spans over the
  *     concatenated text (inclusive code-point ranges, exactly like
  *     XmlTok's `<b>`/`<i>` handling); the fragment's FONTSPEC carries the
  *     base family;
  *   - fontspecs are registered per page in first-use order keyed by
  *     (size, family, fill color) — a zero-glyph show (`() Tj`) registers
  *     its combination without emitting a fragment, which is how a
  *     producer can pin fontspec ordering (pdftohtml likewise numbers
  *     fontspecs by first use).
  */
object PdfLex {

  /** Decompression-bomb guards: a corrupt or hostile stream must throw
    * [[PdfError]] (degrading the TURN to format=error) before it can
    * allocate executor-killing amounts — at 100 TB the corpus WILL
    * contain such streams. A text-page content stream is KBs; 64 MiB
    * decoded is orders of magnitude past any legitimate one, while a
    * 1 KB Flate/LZW bomb can otherwise expand ~1000x per stage and a
    * long /Filter array multiplies stages. Each chain stage is capped
    * independently, so a chain can never hold more than
    * `MaxFilterChain * MaxDecodedStreamBytes` transiently.
    */
  private val MaxDecodedStreamBytes: Int = 64 << 20
  private val MaxFilterChain: Int = 8

  // ---- COS values ---------------------------------------------------------

  sealed trait PVal
  final case class PNum(d: Double) extends PVal
  /** decoded literal/hex string; latin-1 chars (one char per byte) */
  final case class PStr(s: String) extends PVal
  final case class PName(s: String) extends PVal
  final case class PArr(items: Vector[PVal]) extends PVal
  final case class PDict(m: Map[String, PVal]) extends PVal
  final case class PRef(num: Int) extends PVal
  final case class PBool(b: Boolean) extends PVal
  case object PNull extends PVal
  /** stream: dict + raw (still encoded) data range in the file bytes */
  final case class PStream(dict: PDict, dataStart: Int, dataLen: Int) extends PVal

  /** byte classes (§7.2.2): 1 white-space, 2 delimiter, 0 regular */
  private val ByteClass: Array[Byte] = {
    val t = new Array[Byte](256)
    " \n\r\t\f\u0000".foreach(ch => t(ch) = 1)
    "()<>[]{}/%".foreach(ch => t(ch) = 2)
    t
  }
  private def isWs(b: Byte): Boolean = ByteClass(b & 0xff) == 1
  private def isRegular(b: Byte): Boolean = ByteClass(b & 0xff) == 0

  /** mutable cursor over the file bytes */
  private final class Cur(val b: Array[Byte], var p: Int) {
    def atEnd: Boolean = p >= b.length
    def peek: Byte = if (p < b.length) b(p) else -1
    def skipWs(): Unit = {
      var go = true
      while (go && p < b.length) {
        if (isWs(b(p))) p += 1
        else if (b(p) == '%') { // comment to EOL
          while (p < b.length && b(p) != '\n' && b(p) != '\r') p += 1
        } else go = false
      }
    }
    def keyword(): String = {
      val s = p
      while (p < b.length && isRegular(b(p))) p += 1
      new String(b, s, p - s, java.nio.charset.StandardCharsets.ISO_8859_1)
    }
    /** the keyword at the cursor as an operator code (see `Op*`): its
      * bytes packed first-lowest, 0 when there is none, -1 past four
      * bytes — the interpreter reads every operator without a `String`
      */
    def opCode(): Int = {
      val s = p
      var code = 0
      while (p < b.length && isRegular(b(p))) {
        if (p - s < 4) code |= (b(p) & 0xff) << (8 * (p - s))
        p += 1
      }
      if (p - s > 4) -1 else code
    }
  }

  // content-stream operators as Cur.opCode values ("Tf" = 'T' | 'f' << 8)
  private final val Op_q = 'q'
  private final val Op_Q = 'Q'
  private final val Op_cm = 'c' | 'm' << 8
  private final val Op_rg = 'r' | 'g' << 8
  private final val Op_g = 'g'
  private final val Op_BT = 'B' | 'T' << 8
  private final val Op_ET = 'E' | 'T' << 8
  private final val Op_Tf = 'T' | 'f' << 8
  private final val Op_TL = 'T' | 'L' << 8
  private final val Op_Tc = 'T' | 'c' << 8
  private final val Op_Tw = 'T' | 'w' << 8
  private final val Op_Tz = 'T' | 'z' << 8
  private final val Op_Td = 'T' | 'd' << 8
  private final val Op_TD = 'T' | 'D' << 8
  private final val Op_Tm = 'T' | 'm' << 8
  private final val Op_TStar = 'T' | '*' << 8
  private final val Op_Tj = 'T' | 'j' << 8
  private final val Op_TJ = 'T' | 'J' << 8
  private final val Op_Quote = '\''
  private final val Op_DQuote = '"'
  private final val Op_Do = 'D' | 'o' << 8
  private final val Op_BI = 'B' | 'I' << 8

  /** parse one COS value at the cursor (after skipWs) */
  private def parseVal(c: Cur): PVal = {
    c.skipWs()
    if (c.atEnd) throw new PdfError("unexpected end of data")
    (c.peek: @annotation.switch) match {
      case '/' => PName(parseName(c))
      case '(' => PStr(parseLiteralString(c))
      case '[' =>
        c.p += 1
        val items = Vector.newBuilder[PVal]
        c.skipWs()
        while (!c.atEnd && c.peek != ']') { items += parseVal(c); c.skipWs() }
        if (c.atEnd) throw new PdfError("unterminated array")
        c.p += 1
        PArr(items.result())
      case '<' =>
        if (c.p + 1 < c.b.length && c.b(c.p + 1) == '<') parseDict(c)
        else PStr(parseHexString(c))
      case 't' | 'f' | 'n' =>
        c.keyword() match {
          case "true" => PBool(true)
          case "false" => PBool(false)
          case "null" => PNull
          case k => throw new PdfError(s"unexpected keyword '$k'")
        }
      case _ => parseNumberOrRef(c)
    }
  }

  /** a name's bytes decode as Latin-1, one char per byte (like
    * [[parseLiteralString]]). A name without `#xx` escapes is one `String`
    * over its byte range; one with an escape is read again from its start
    */
  private def parseName(c: Cur): String = {
    c.p += 1 // '/'
    val s = c.p
    while (!c.atEnd && isRegular(c.peek) && c.peek != '#') c.p += 1
    if (c.atEnd || c.peek != '#')
      return new String(c.b, s, c.p - s, java.nio.charset.StandardCharsets.ISO_8859_1)
    c.p = s
    val sb = new StringBuilder
    while (!c.atEnd && isRegular(c.peek)) {
      val ch = c.peek
      if (ch == '#' && c.p + 2 < c.b.length) {
        val h = Character.digit(c.b(c.p + 1), 16); val l = Character.digit(c.b(c.p + 2), 16)
        if (h >= 0 && l >= 0) { sb.append(((h << 4) | l).toChar); c.p += 3 }
        else { sb.append('#'); c.p += 1 }
      } else { sb.append((ch & 0xff).toChar); c.p += 1 }
    }
    sb.toString
  }

  /** a string without escapes or nested parentheses is one Latin-1
    * `String` over its bytes; any other is read again from its start
    */
  private def parseLiteralString(c: Cur): String = {
    c.p += 1 // '('
    val s = c.p
    var e = s
    while (e < c.b.length && c.b(e) != ')' && c.b(e) != '\\' && c.b(e) != '(') e += 1
    if (e < c.b.length && c.b(e) == ')') {
      c.p = e + 1
      return new String(c.b, s, e - s, java.nio.charset.StandardCharsets.ISO_8859_1)
    }
    val sb = new StringBuilder
    var depth = 1
    while (depth > 0) {
      if (c.atEnd) throw new PdfError("unterminated string")
      val ch = c.b(c.p)
      ch match {
        case '\\' =>
          c.p += 1
          if (c.atEnd) throw new PdfError("dangling escape")
          val e = c.b(c.p)
          e match {
            case 'n' => sb.append('\n'); c.p += 1
            case 'r' => sb.append('\r'); c.p += 1
            case 't' => sb.append('\t'); c.p += 1
            case 'b' => sb.append('\b'); c.p += 1
            case 'f' => sb.append('\f'); c.p += 1
            case '(' => sb.append('('); c.p += 1
            case ')' => sb.append(')'); c.p += 1
            case '\\' => sb.append('\\'); c.p += 1
            case '\r' => // line continuation (swallow optional \n)
              c.p += 1; if (!c.atEnd && c.peek == '\n') c.p += 1
            case '\n' => c.p += 1
            case d if d >= '0' && d <= '7' =>
              var v = 0; var n = 0
              while (n < 3 && !c.atEnd && c.peek >= '0' && c.peek <= '7') {
                v = v * 8 + (c.peek - '0'); c.p += 1; n += 1
              }
              sb.append((v & 0xff).toChar)
            case other => sb.append(other.toChar); c.p += 1 // spec: drop the backslash
          }
        case '(' => depth += 1; sb.append('('); c.p += 1
        case ')' =>
          depth -= 1
          if (depth > 0) sb.append(')')
          c.p += 1
        case other => sb.append((other & 0xff).toChar); c.p += 1
      }
    }
    sb.toString
  }

  private def parseHexString(c: Cur): String = {
    c.p += 1 // '<'
    val sb = new StringBuilder
    var hi = -1
    while (!c.atEnd && c.peek != '>') {
      val d = Character.digit(c.peek, 16)
      if (d >= 0) {
        if (hi < 0) hi = d
        else { sb.append(((hi << 4) | d).toChar); hi = -1 }
      }
      c.p += 1
    }
    if (c.atEnd) throw new PdfError("unterminated hex string")
    if (hi >= 0) sb.append((hi << 4).toChar) // odd count: implicit trailing 0
    c.p += 1
    sb.toString
  }

  private def parseDict(c: Cur): PDict = {
    c.p += 2 // '<<'
    val m = Map.newBuilder[String, PVal]
    c.skipWs()
    while (!c.atEnd && c.peek != '>') {
      if (c.peek != '/') throw new PdfError(s"dict key must be a name at ${c.p}")
      val k = parseName(c)
      m += k -> parseVal(c)
      c.skipWs()
    }
    if (c.p + 1 >= c.b.length || c.b(c.p + 1) != '>') throw new PdfError("unterminated dict")
    c.p += 2
    PDict(m.result())
  }

  /** number, or `N G R` indirect reference (rewinds if the lookahead is
    * not a reference — required inside content streams where bare number
    * sequences are operands)
    */
  private def parseNumberOrRef(c: Cur): PVal = {
    val n1 = parseNumber(c)
    if (n1.d == math.rint(n1.d) && n1.d >= 0) {
      val save = c.p
      c.skipWs()
      if (!c.atEnd && c.peek >= '0' && c.peek <= '9') {
        parseNumber(c)
        c.skipWs()
        if (!c.atEnd && c.peek == 'R' &&
            (c.p + 1 >= c.b.length || !isRegular(c.b(c.p + 1)))) {
          c.p += 1
          return PRef(n1.d.toInt)
        }
      }
      c.p = save
    }
    n1
  }

  /** 10^0 .. 10^22: each product is exact (5^22 < 2^53), so every entry is */
  private val Pow10: Array[Double] = Array.iterate(1.0, 23)(_ * 10)

  /** `[+-]digits[.digits]` read straight from the bytes. With at most 15
    * significant digits the mantissa m is an exact double (< 10^15 < 2^53),
    * and with at most 22 fraction digits k so is 10^k; one IEEE division
    * `m / 10^k` is then the correctly rounded value of the decimal — the
    * same double `String.toDouble` returns, bit for bit (sign of `-0`
    * included). Anything else (longer mantissas, malformed tokens such as
    * `.`, `+`, `1.2.3`) takes `toDouble`, which throws where it threw before.
    */
  private def parseNumber(c: Cur): PNum = {
    val b = c.b
    val s = c.p
    var p = s
    val neg = p < b.length && b(p) == '-'
    if (p < b.length && (b(p) == '+' || b(p) == '-')) p += 1
    var m = 0L
    var sig = 0 // digits from the first non-zero one on
    var frac = 0
    var digits = 0
    var dots = 0
    while (p < b.length && ((b(p) >= '0' && b(p) <= '9') || b(p) == '.')) {
      if (b(p) == '.') dots += 1
      else {
        digits += 1
        if (dots > 0) frac += 1
        if (sig > 0 || b(p) != '0') { sig += 1; if (sig <= 15) m = m * 10 + (b(p) - '0') }
      }
      p += 1
    }
    c.p = p
    if (p == s) throw new PdfError(s"expected number at ${c.p} ('${c.peek.toChar}')")
    if (digits > 0 && dots <= 1 && sig <= 15 && frac <= 22) {
      val v = m / Pow10(frac)
      PNum(if (neg) -v else v)
    } else PNum(new String(b, s, p - s, java.nio.charset.StandardCharsets.ISO_8859_1).toDouble)
  }

  /** [[parseNumber]] over one token's Latin-1 bytes */
  private[graft] def number(token: String): Double =
    parseNumber(new Cur(token.getBytes(java.nio.charset.StandardCharsets.ISO_8859_1), 0)).d

  final class PdfError(msg: String) extends RuntimeException(msg)

  // ---- document: xref / objects / pages -----------------------------------

  final class PdfDoc(val bytes: Array[Byte]) {
    private val cache = mutable.HashMap.empty[Int, PVal]
    private var rootFromTrailer: Int = -1

    /** objNum -> (container ObjStm number, index within it) for objects
      * packed into object streams — xref-stream type-2 entries (§7.5.7)
      */
    private var compressedV: Map[Int, (Int, Int)] = Map.empty
    /** decoded object streams: ObjStm num -> (decoded bytes, members as
      * (objNum, absolute offset into the decoded bytes))
      */
    private val objStmCache = mutable.HashMap.empty[Int, (Array[Byte], Array[(Int, Int)])]
    private var rescanned = false
    /** trailer (or xref-stream dict) carries /Encrypt: strings and streams
      * are RC4/AES-enciphered (§7.6). Decryption is out of scope, and
      * silently "decoding" ciphertext would emit garbage text — the one
      * failure mode worse than an error at corpus scale. Flagged here
      * (never thrown mid-xref-walk, which would trigger the damaged-file
      * rescan and STILL extract garbage); [[toNodes]] checks it first.
      */
    private var encryptedV = false
    def encrypted: Boolean = encryptedV

    /** objNum -> file offset of the object header. Starts from the xref
      * index (classic tables and/or xref streams); if an offset turns out
      * stale (an edited file whose table was not rewritten), [[obj]]
      * rebuilds this once from a full scan — the standard reader
      * reconstruction strategy.
      */
    private var offsetsV: Map[Int, Int] = readXref() match {
      case Some((offs, comp)) => compressedV = comp; offs
      case None => rebuildFromScan()
    }
    def offsets: Map[Int, Int] = offsetsV
    def compressed: Map[Int, (Int, Int)] = compressedV

    /** the cross-reference index via startxref — classic xref table(s) AND
      * cross-reference streams (§7.5.8), following `/Prev` chains of
      * incremental updates (the chain may mix both forms). Newest read
      * first, so its entries win: an updated object's new location shadows
      * the original, exactly the PDF versioning model. A hybrid-reference
      * file's `/XRefStm` stream entries shadow the SAME revision's classic
      * section (which marks ObjStm-hidden objects free for pre-1.5
      * readers, §7.5.8.4) but never a newer update. None on any
      * structural damage.
      */
    private def readXref(): Option[(Map[Int, Int], Map[Int, (Int, Int)])] = try {
      val tailStart = math.max(0, bytes.length - 2048)
      val tail = new String(bytes, tailStart, bytes.length - tailStart,
        java.nio.charset.StandardCharsets.ISO_8859_1)
      val sx = tail.lastIndexOf("startxref")
      if (sx < 0) return None
      val c0 = new Cur(bytes, tailStart + sx + "startxref".length)
      c0.skipWs()
      val out = mutable.HashMap.empty[Int, Int]
      val comp = mutable.HashMap.empty[Int, (Int, Int)]
      val defined = mutable.HashSet.empty[Int] // newest entry per obj wins, 'f' included
      val seen = mutable.HashSet.empty[Int] // guard against /Prev cycles

      /** apply one cross-reference STREAM's entries (§7.5.8.3); returns
        * its `/Prev` offset or -1. Its dict values are required direct
        * (§7.5.8.2), so parsing it needs no object index.
        */
      def applyXrefStream(off: Int): Int = {
        val (_, v) = parseObjectAt(off)
        val s = v match {
          case st: PStream => st
          case other => throw new PdfError(s"xref stream at $off is $other")
        }
        val d = s.dict.m
        if (d.contains("Encrypt")) encryptedV = true
        if (!d.get("Type").contains(PName("XRef")))
          throw new PdfError("xref stream lacks /Type /XRef")
        if (rootFromTrailer < 0) d.get("Root") match {
          case Some(PRef(n)) => rootFromTrailer = n
          case _ => throw new PdfError("xref stream has no /Root")
        }
        val size = d.get("Size") match {
          case Some(PNum(x)) => x.toInt
          case _ => throw new PdfError("xref stream has no /Size")
        }
        val w = d.get("W") match {
          case Some(PArr(items)) if items.length >= 3 => items.take(3).map {
            case PNum(x) => x.toInt
            case other => throw new PdfError(s"bad /W entry $other")
          }
          case _ => throw new PdfError("xref stream has no /W")
        }
        val index: Vector[Int] = d.get("Index") match {
          case Some(PArr(items)) => items.map {
            case PNum(x) => x.toInt
            case other => throw new PdfError(s"bad /Index entry $other")
          }
          case None => Vector(0, size)
          case Some(other) => throw new PdfError(s"bad /Index $other")
        }
        val data = streamData(s)
        val rowLen = w.sum
        // /W fields are byte widths: each 0..8 and the row non-empty. A
        // /W summing to 0 would make the truncation guard in the loop
        // below vacuous (p never advances), so a hostile /Index count
        // like [0 2e9] would spin billions of no-op iterations filling
        // `defined` — an OOME/hang that escapes the bomb guards.
        if (rowLen <= 0 || w.exists(x => x < 0 || x > 8))
          throw new PdfError(s"bad xref stream /W ${w.mkString("[", " ", "]")}")
        var p = 0
        def field(width: Int, dflt: Long): Long = {
          if (width == 0) dflt
          else {
            var acc = 0L
            var i = 0
            while (i < width) { acc = (acc << 8) | (data(p + i) & 0xff); i += 1 }
            p += width
            acc
          }
        }
        var g = 0
        while (g + 1 < index.length) {
          val start = index(g)
          val count = index(g + 1)
          // bound each subsection against the decoded data BEFORE
          // iterating: with the guard only inside the loop a huge /Index
          // count still costs `count` iterations to reach it
          if (count < 0 || count.toLong * rowLen > data.length.toLong - p)
            throw new PdfError(s"xref stream /Index count $count exceeds stream data")
          var i = 0
          while (i < count) {
            if (p + rowLen > data.length) throw new PdfError("xref stream data truncated")
            val t = field(w(0), 1L) // absent type field defaults to type 1 (§7.5.8.3)
            val f2 = field(w(1), 0L)
            val f3 = field(w(2), 0L)
            val objNum = start + i
            t match {
              case 0L => defined.add(objNum) // free: a newer free blocks older defs
              case 1L => if (defined.add(objNum)) out(objNum) = f2.toInt
              case 2L => if (defined.add(objNum)) comp(objNum) = (f2.toInt, f3.toInt)
              case _ => () // unknown types read as the null object (§7.5.8.3)
            }
            i += 1
          }
          g += 2
        }
        d.get("Prev") match { case Some(PNum(x)) => x.toInt; case _ => -1 }
      }

      var nextOff = parseNumber(c0).d.toInt
      while (nextOff >= 0) {
        if (nextOff >= bytes.length || !seen.add(nextOff)) return None
        val c = new Cur(bytes, nextOff)
        c.skipWs()
        if (c.peek >= '0' && c.peek <= '9') {
          // an indirect object at the startxref/Prev target = an xref stream
          nextOff = applyXrefStream(nextOff)
        } else {
          if (c.keyword() != "xref") return None
          nextOff = -1
          // classic section: buffer entries locally — a hybrid file's
          // /XRefStm entries take precedence over THIS revision's table
          // but never over an already-applied newer update
          val sec = ArrayBuffer.empty[(Int, Int, Byte)] // (obj, off, kind)
          var inSections = true
          while (inSections) {
            c.skipWs()
            if (c.peek == 't') { // trailer
              if (c.keyword() != "trailer") return None
              c.skipWs()
              val tr = parseDict(c)
              if (tr.m.contains("Encrypt")) encryptedV = true
              if (rootFromTrailer < 0) tr.m.get("Root") match {
                case Some(PRef(n)) => rootFromTrailer = n
                case _ => return None
              }
              tr.m.get("XRefStm") match {
                case Some(PNum(x)) =>
                  val xo = x.toInt
                  if (xo < 0 || xo >= bytes.length || !seen.add(xo)) return None
                  applyXrefStream(xo) // hybrid stream's own /Prev is ignored (§7.5.8.4)
                case _ => ()
              }
              tr.m.get("Prev") match {
                case Some(PNum(p)) => nextOff = p.toInt
                case _ => ()
              }
              inSections = false
            } else {
              val start = parseNumber(c).d.toInt
              c.skipWs()
              val count = parseNumber(c).d.toInt
              var i = 0
              while (i < count) {
                c.skipWs()
                val off = parseNumber(c).d.toInt
                c.skipWs()
                parseNumber(c) // generation
                c.skipWs()
                val kind = c.peek
                c.p += 1
                sec += ((start + i, off, kind))
                i += 1
              }
            }
          }
          // earlier (newer) revisions shadow later (older) ones — a newer
          // 'f' (freed) entry must also block an older 'n' offset
          sec.foreach { case (n, off, kind) =>
            if (defined.add(n) && kind == 'n') out(n) = off
          }
        }
      }
      Some((out.toMap, comp.toMap))
    } catch { case _: Exception => None }

    /** damaged-xref fallback: scan the whole buffer for `N G obj` headers
      * (the standard reconstruction strategy; later definitions win, like
      * an incremental update would)
      */
    private def scanObjects(): Map[Int, Int] = {
      val out = mutable.HashMap.empty[Int, Int]
      var i = 0
      while (i + 3 < bytes.length) {
        if (bytes(i) == 'o' && bytes(i + 1) == 'b' && bytes(i + 2) == 'j' &&
            (i + 3 >= bytes.length || !isRegular(bytes(i + 3))) &&
            (i == 0 || isWs(bytes(i - 1)))) {
          // backtrack: ws, gen digits, ws, num digits
          var j = i - 1
          while (j >= 0 && isWs(bytes(j))) j -= 1
          val genEnd = j
          while (j >= 0 && bytes(j) >= '0' && bytes(j) <= '9') j -= 1
          val genStart = j + 1
          if (genEnd >= genStart) {
            while (j >= 0 && isWs(bytes(j))) j -= 1
            val numEnd = j
            while (j >= 0 && bytes(j) >= '0' && bytes(j) <= '9') j -= 1
            val numStart = j + 1
            if (numEnd >= numStart && (numStart == 0 || !isRegular(bytes(numStart - 1)))) {
              val num = new String(bytes, numStart, numEnd - numStart + 1,
                java.nio.charset.StandardCharsets.ISO_8859_1).toInt
              out(num) = numStart
            }
          }
        }
        i += 1
      }
      out.toMap
    }

    def obj(num: Int): PVal = cache.getOrElseUpdate(num,
      try parseObjAt(num)
      catch {
        case e: PdfError if !rescanned =>
          // stale xref offset (edited file, table not rewritten): rebuild
          // the table from a full scan once and retry
          rescanned = true
          rebuildFromScan()
          try parseObjAt(num) catch { case _: PdfError => throw e }
      })

    private def parseObjAt(num: Int): PVal =
      offsets.get(num) match {
        case Some(off) =>
          val (hdrNum, v) = parseObjectAt(off)
          if (hdrNum != num)
            throw new PdfError(s"offset of object $num holds object $hdrNum")
          v
        case None => compressedV.get(num) match {
          case Some((stm, idx)) => objFromStream(num, stm, idx)
          case None => throw new PdfError(s"object $num not found")
        }
      }

    /** parse `N G obj <value>` at a file offset; a `stream` keyword after
      * a dict value wraps it into a [[PStream]] over the raw data range
      */
    private def parseObjectAt(off: Int): (Int, PVal) = {
      val c = new Cur(bytes, off)
      c.skipWs()
      val hdrNum = parseNumber(c).d.toInt // obj num
      c.skipWs(); parseNumber(c) // gen
      c.skipWs()
      if (c.keyword() != "obj") throw new PdfError(s"bad object header at $off")
      val v = parseVal(c)
      c.skipWs()
      val res = v match {
        case d: PDict if !c.atEnd && c.peek == 's' =>
          val save = c.p
          if (c.keyword() == "stream") {
            // data starts after CRLF or LF
            if (!c.atEnd && c.peek == '\r') c.p += 1
            if (!c.atEnd && c.peek == '\n') c.p += 1
            val len = resolve(d.m.getOrElse("Length", PNull)) match {
              case PNum(x) => x.toInt
              case _ => throw new PdfError(s"stream at offset $off has no /Length")
            }
            PStream(d, c.p, len)
          } else { c.p = save; v }
        case _ => v
      }
      (hdrNum, res)
    }

    /** decode an ObjStm's data and its member table: /N pairs of
      * `objNum relOffset` before /First, offsets made absolute (§7.5.7)
      */
    private def decodeObjStm(s: PStream): (Array[Byte], Array[(Int, Int)]) = {
      val n = resolve(s.dict.m.getOrElse("N", PNull)) match {
        case PNum(x) => x.toInt
        case _ => throw new PdfError("ObjStm has no /N")
      }
      val first = resolve(s.dict.m.getOrElse("First", PNull)) match {
        case PNum(x) => x.toInt
        case _ => throw new PdfError("ObjStm has no /First")
      }
      val decoded = streamData(s)
      // each member pair needs at least "N R " ≈ 4 header bytes — a /N
      // beyond that is corrupt and must not drive a giant allocation
      // (OutOfMemoryError is fatal and escapes the extract-total wrapper)
      if (n < 0 || n.toLong * 4 > decoded.length)
        throw new PdfError(s"ObjStm /N $n implausible for ${decoded.length} bytes")
      val hc = new Cur(decoded, 0)
      val pairs = new Array[(Int, Int)](n)
      var i = 0
      while (i < n) {
        hc.skipWs()
        val objNum = parseNumber(hc).d.toInt
        hc.skipWs()
        val rel = parseNumber(hc).d.toInt
        pairs(i) = (objNum, first + rel)
        i += 1
      }
      (decoded, pairs)
    }

    /** fetch a type-2 (compressed) object out of its object stream */
    private def objFromStream(num: Int, stmNum: Int, idx: Int): PVal = {
      val (data, members) = objStmCache.getOrElseUpdate(stmNum, {
        val s = resolve(obj(stmNum)) match {
          case st: PStream => st
          case other => throw new PdfError(s"object stream $stmNum is $other")
        }
        if (!s.dict.m.get("Type").contains(PName("ObjStm")))
          throw new PdfError(s"object $stmNum is not /Type /ObjStm")
        decodeObjStm(s)
      })
      // the xref entry's index is authoritative when it names this object;
      // otherwise search the member table (robustness against writers that
      // misnumber entries)
      val at =
        if (idx >= 0 && idx < members.length && members(idx)._1 == num) members(idx)._2
        else members.collectFirst { case (n, o) if n == num => o }
          .getOrElse(throw new PdfError(s"object $num not in ObjStm $stmNum"))
      if (at < 0 || at >= data.length)
        throw new PdfError(s"object $num offset out of ObjStm $stmNum bounds")
      parseVal(new Cur(data, at)) // streams cannot live inside an ObjStm (§7.5.7)
    }

    /** full-scan reconstruction: rebuild the file-offset table, then look
      * INSIDE every recovered /ObjStm for members the scan cannot see as
      * top-level headers — real readers recover hidden objects the same
      * way. Mutates offsetsV/compressedV; returns the new offsets.
      */
    private def rebuildFromScan(): Map[Int, Int] = {
      offsetsV = scanObjects()
      objStmCache.clear()
      val extra = mutable.HashMap.empty[Int, (Int, Int)]
      // walk ObjStms in ascending FILE OFFSET: an incremental update
      // appends, so a later offset is a newer definition and must win —
      // the same later-definition-wins rule scanObjects applies to
      // top-level objects
      offsetsV.toVector.sortBy(_._2).foreach { case (num, off) =>
        try {
          parseObjectAt(off) match {
            case (_, st: PStream) if st.dict.m.get("Type").contains(PName("ObjStm")) =>
              val (_, members) = objStmCache.getOrElseUpdate(num, decodeObjStm(st))
              members.zipWithIndex.foreach { case ((objNum, _), idx) =>
                if (!offsetsV.contains(objNum)) extra(objNum) = (num, idx)
              }
            // the /Encrypt refusal must survive a damaged xref: this path
            // never reads a trailer, so without these checks an encrypted
            // file with a broken table would extract RC4/AES ciphertext
            // as garbage text — the exact failure the guard exists for
            case (_, st: PStream) if st.dict.m.get("Type").contains(PName("XRef")) =>
              if (st.dict.m.contains("Encrypt")) encryptedV = true
            case _ => ()
          }
        } catch { case _: Exception => () } // damaged candidate: skip it
      }
      // classic serializations keep /Encrypt in the trailer DICT (not an
      // object): scan for `trailer` keywords and parse each dict — bounded
      // by file size, same cost class as the object scan itself
      detectEncryptInTrailers()
      // the scan IS the recovery ground truth: in the stale-rescan case
      // the old xref's compressed entries lost their trust along with the
      // table, so fresh scan results shadow them
      compressedV = compressedV ++ extra
      offsetsV
    }

    /** find every `trailer` keyword in the raw bytes and parse the dict
      * that follows; any carrying /Encrypt flags the file. Keyword
      * boundaries are checked (a content-stream word like "trailers"
      * doesn't match) and damaged candidates are skipped — a false
      * positive here turns a possibly-readable damaged file into a
      * refusal, never the reverse.
      */
    private def detectEncryptInTrailers(): Unit = {
      val kw = "trailer".getBytes(java.nio.charset.StandardCharsets.US_ASCII)
      var i = 0
      val limit = bytes.length - kw.length
      while (i <= limit && !encryptedV) {
        var j = 0
        while (j < kw.length && bytes(i + j) == kw(j)) j += 1
        if (j == kw.length &&
            (i == 0 || !isRegular(bytes(i - 1))) &&
            (i + kw.length >= bytes.length || !isRegular(bytes(i + kw.length)))) {
          try {
            val c = new Cur(bytes, i + kw.length)
            c.skipWs()
            parseVal(c) match {
              case d: PDict if d.m.contains("Encrypt") => encryptedV = true
              case _ => ()
            }
          } catch { case _: Exception => () }
        }
        i += 1
      }
    }

    def resolve(v: PVal): PVal = v match {
      case PRef(n) => resolve(obj(n))
      case x => x
    }

    /** decoded stream data: a filter chain over /FlateDecode (with
      * /DecodeParms predictors), /ASCIIHexDecode and /ASCII85Decode.
      * /DecodeParms aligns per-filter when /Filter is an array (§7.3.8.2);
      * abbreviated names (/Fl /AHx /A85 /DP) are the inline-image aliases
      * some writers also use on regular streams.
      */
    def streamData(s: PStream): Array[Byte] = {
      val raw = java.util.Arrays.copyOfRange(bytes, s.dataStart,
        math.min(s.dataStart + s.dataLen, bytes.length))
      val filters: Vector[String] = resolve(s.dict.m.getOrElse("Filter", PNull)) match {
        case PName(n) => Vector(n)
        case PArr(items) => items.map { v => resolve(v) match {
          case PName(n) => n
          case other => throw new PdfError(s"bad filter entry $other") } }
        case PNull => Vector.empty
        case other => throw new PdfError(s"bad /Filter $other")
      }
      val parms: Vector[PVal] = resolve(s.dict.m.get("DecodeParms")
          .orElse(s.dict.m.get("DP")).getOrElse(PNull)) match {
        case d: PDict => Vector(d)
        case PArr(items) => items.map(resolve)
        case PNull => Vector.empty
        case other => throw new PdfError(s"bad /DecodeParms $other")
      }
      if (filters.length > MaxFilterChain)
        throw new PdfError(s"filter chain of ${filters.length} stages (max $MaxFilterChain)")
      var data = raw
      var i = 0
      while (i < filters.length) {
        val parm = if (i < parms.length) parms(i) else PNull
        data = filters(i) match {
          case "FlateDecode" | "Fl" => unpredict(inflate(data), parm)
          case "LZWDecode" | "LZW" => unpredict(lzwDecode(data, parm), parm)
          case "RunLengthDecode" | "RL" => rlDecode(data)
          case "ASCIIHexDecode" | "AHx" => ahxDecode(data)
          case "ASCII85Decode" | "A85" => a85Decode(data)
          case other => throw new PdfError(s"unsupported filter /$other")
        }
        i += 1
      }
      data
    }

    /** undo /DecodeParms prediction after Flate: PNG predictors 10–15
      * (per-row filter byte; None/Sub/Up/Average/Paeth reconstruction per
      * the public PNG spec §6, which ISO 32000-1 §7.4.4.4 adopts) and
      * TIFF predictor 2 (8-bit horizontal differencing). Predictor 1 or
      * absent parms = identity.
      */
    private def unpredict(data: Array[Byte], parm: PVal): Array[Byte] = parm match {
      case PDict(m) =>
        def intOf(key: String, dflt: Int): Int = resolve(m.getOrElse(key, PNull)) match {
          case PNum(x) => x.toInt
          case _ => dflt
        }
        val predictor = intOf("Predictor", 1)
        if (predictor <= 1) return data
        val colors = intOf("Colors", 1)
        val bpc = intOf("BitsPerComponent", 8)
        val columns = intOf("Columns", 1)
        if (colors < 1 || bpc < 1 || columns < 1)
          throw new PdfError("bad predictor geometry")
        val bpp = math.max(1, colors * bpc / 8) // bytes per sample group
        val rowLen = (colors * bpc * columns + 7) / 8
        if (predictor == 2) { // TIFF horizontal differencing
          if (bpc != 8) throw new PdfError("TIFF predictor needs 8-bit components")
          var r = 0
          while (r + rowLen <= data.length) {
            var i = r + bpp
            while (i < r + rowLen) { data(i) = (data(i) + data(i - bpp)).toByte; i += 1 }
            r += rowLen
          }
          data
        } else { // PNG family: every row prefixed by its filter-type byte
          val nRows = data.length / (rowLen + 1)
          val out = new Array[Byte](nRows * rowLen)
          var r = 0
          while (r < nRows) {
            val ft = data(r * (rowLen + 1)) & 0xff
            val src = r * (rowLen + 1) + 1
            val dst = r * rowLen
            val prior = dst - rowLen // valid only when r > 0
            var i = 0
            while (i < rowLen) {
              val x = data(src + i) & 0xff
              val a = if (i >= bpp) out(dst + i - bpp) & 0xff else 0
              val b = if (r > 0) out(prior + i) & 0xff else 0
              val cc = if (r > 0 && i >= bpp) out(prior + i - bpp) & 0xff else 0
              val rec = ft match {
                case 0 => x // None
                case 1 => x + a // Sub
                case 2 => x + b // Up
                case 3 => x + (a + b) / 2 // Average
                case 4 => // Paeth
                  val pp = a + b - cc
                  val pa = math.abs(pp - a)
                  val pb = math.abs(pp - b)
                  val pc = math.abs(pp - cc)
                  x + (if (pa <= pb && pa <= pc) a else if (pb <= pc) b else cc)
                case other => throw new PdfError(s"bad PNG filter type $other")
              }
              out(dst + i) = rec.toByte
              i += 1
            }
            r += 1
          }
          out
        }
      case PNull => data
      case other => throw new PdfError(s"bad predictor parms $other")
    }

    /** /ASCIIHexDecode (§7.4.2): hex pairs, whitespace skipped, `>` ends
      * the data, an odd trailing digit implies low nibble 0
      */
    private def ahxDecode(data: Array[Byte]): Array[Byte] = {
      val out = new java.io.ByteArrayOutputStream(data.length / 2 + 1)
      var hi = -1
      var i = 0
      var done = false
      while (i < data.length && !done) {
        val ch = data(i)
        val v =
          if (ch >= '0' && ch <= '9') ch - '0'
          else if (ch >= 'a' && ch <= 'f') ch - 'a' + 10
          else if (ch >= 'A' && ch <= 'F') ch - 'A' + 10
          else if (ch == '>') { done = true; -1 }
          else if (isWs(ch)) -1
          else throw new PdfError(s"bad ASCIIHex char '${ch.toChar}'")
        if (v >= 0) {
          if (hi < 0) hi = v
          else { out.write((hi << 4) | v); hi = -1 }
        }
        i += 1
      }
      if (hi >= 0) out.write(hi << 4)
      out.toByteArray
    }

    /** /ASCII85Decode (§7.4.3): base-85 groups of 5 chars -> 4 bytes,
      * `z` = four zero bytes, `~>` ends the data, partial final group
      * pads with `u` and emits count-1 bytes
      */
    private def a85Decode(data: Array[Byte]): Array[Byte] = {
      val out = new java.io.ByteArrayOutputStream(data.length * 4 / 5 + 4)
      val grp = new Array[Int](5)
      var n = 0
      var i = 0
      var done = false
      def emit(count: Int): Unit = {
        var v = 0L
        var k = 0
        while (k < 5) { v = v * 85 + (if (k < count) grp(k) else 84); k += 1 }
        var shift = 24
        var m = 0
        while (m < count - 1) { out.write(((v >> shift) & 0xff).toInt); shift -= 8; m += 1 }
      }
      while (i < data.length && !done) {
        val ch = data(i)
        if (ch == '~') done = true
        else if (ch == 'z' && n == 0) {
          out.write(0); out.write(0); out.write(0); out.write(0)
        } else if (ch >= '!' && ch <= 'u') {
          grp(n) = ch - '!'
          n += 1
          if (n == 5) { emit(5); n = 0 }
        } else if (!isWs(ch)) throw new PdfError(s"bad ASCII85 char '${ch.toChar}'")
        i += 1
      }
      if (n == 1) throw new PdfError("truncated ASCII85 group")
      if (n > 1) emit(n)
      out.toByteArray
    }

    /** /LZWDecode (§7.4.4): the TIFF LZW variant — variable-width codes
      * starting at 9 bits, code 256 clears the table, 257 is EOD, new
      * entries from 258; the width grows to 10/11/12 bits `EarlyChange`
      * codes (default 1) before the table index would overflow the
      * current width. A full table without a clear-code keeps emitting
      * 12-bit codes without adding entries (what real writers produce).
      * Shares the /DecodeParms predictor post-pass with Flate (§7.4.4.4).
      */
    private def lzwDecode(data: Array[Byte], parm: PVal): Array[Byte] = {
      val earlyChange = resolve(parm) match {
        case PDict(m) => resolve(m.getOrElse("EarlyChange", PNull)) match {
          case PNum(x) => x.toInt
          case _ => 1
        }
        case _ => 1
      }
      if (earlyChange != 0 && earlyChange != 1)
        throw new PdfError(s"bad /EarlyChange $earlyChange")
      val out = new java.io.ByteArrayOutputStream(data.length * 4)
      val maxEntries = 4096
      val entries = new Array[Array[Byte]](maxEntries)
      var dictSize = 258
      var codeWidth = 9
      var prev: Array[Byte] = null
      var bitBuf = 0L
      var bitCnt = 0
      var i = 0
      var done = false
      while (!done) {
        while (bitCnt < codeWidth && i < data.length) {
          bitBuf = (bitBuf << 8) | (data(i) & 0xffL); bitCnt += 8; i += 1
        }
        if (bitCnt < codeWidth) done = true // data exhausted without EOD: stop
        else {
          val code = ((bitBuf >>> (bitCnt - codeWidth)) & ((1L << codeWidth) - 1)).toInt
          bitCnt -= codeWidth
          bitBuf &= (1L << bitCnt) - 1
          if (code == 256) { dictSize = 258; codeWidth = 9; prev = null }
          else if (code == 257) done = true
          else {
            val entry: Array[Byte] =
              if (code < 256) Array(code.toByte)
              else if (code >= 258 && code < dictSize) entries(code)
              else if (code == dictSize && prev != null) prev :+ prev(0) // KwKwK
              else throw new PdfError(s"LZW: code $code before its entry exists")
            if (out.size + entry.length > MaxDecodedStreamBytes)
              throw new PdfError(s"LZW stream decodes past $MaxDecodedStreamBytes bytes")
            out.write(entry, 0, entry.length)
            if (prev != null && dictSize < maxEntries) {
              entries(dictSize) = prev :+ entry(0)
              dictSize += 1
            }
            prev = entry
            if (codeWidth < 12 && dictSize + earlyChange >= (1 << codeWidth))
              codeWidth += 1
          }
        }
      }
      out.toByteArray
    }

    /** /RunLengthDecode (§7.4.5): length byte 0–127 copies the next
      * length+1 bytes literally; 129–255 repeats the next byte 257−length
      * times; 128 is EOD.
      */
    private def rlDecode(data: Array[Byte]): Array[Byte] = {
      val out = new java.io.ByteArrayOutputStream(data.length * 2)
      var i = 0
      var done = false
      while (i < data.length && !done) {
        if (out.size > MaxDecodedStreamBytes)
          throw new PdfError(s"RunLength stream decodes past $MaxDecodedStreamBytes bytes")
        val len = data(i) & 0xff; i += 1
        if (len == 128) done = true
        else if (len < 128) {
          if (i + len + 1 > data.length) throw new PdfError("RunLength: truncated literal run")
          out.write(data, i, len + 1); i += len + 1
        } else {
          if (i >= data.length) throw new PdfError("RunLength: truncated repeat run")
          val b = data(i).toInt; i += 1
          var k = 257 - len
          while (k > 0) { out.write(b); k -= 1 }
        }
      }
      out.toByteArray
    }

    private def inflate(data: Array[Byte]): Array[Byte] = {
      val inf = new java.util.zip.Inflater()
      try {
        inf.setInput(data)
        val out = new java.io.ByteArrayOutputStream(data.length * 4)
        val buf = new Array[Byte](8192)
        while (!inf.finished() && !inf.needsInput()) {
          val n = inf.inflate(buf)
          if (n == 0 && !inf.finished()) throw new PdfError("truncated Flate stream")
          out.write(buf, 0, n)
          if (out.size > MaxDecodedStreamBytes)
            throw new PdfError(s"Flate stream decodes past $MaxDecodedStreamBytes bytes")
        }
        out.toByteArray
      } finally inf.end()
    }

    def rootRef: Int =
      if (rootFromTrailer >= 0) rootFromTrailer
      else {
        // fallback-scan path has no trailer: find the catalog by type —
        // it may live top-level or inside a recovered object stream
        (offsets.keys ++ compressedV.keys).toSeq.distinct.sorted.find { n =>
          (try resolve(obj(n)) catch { case _: PdfError => PNull }) match {
            case PDict(m) => m.get("Type").contains(PName("Catalog"))
            case _ => false
          }
        }.getOrElse(throw new PdfError("no /Root and no /Catalog object"))
      }

    /** page dicts in document order, with /MediaBox and /Resources
      * inherited from ancestor /Pages nodes
      */
    def pages(): Vector[PDict] = {
      val catalog = resolve(obj(rootRef)) match {
        case d: PDict => d
        case other => throw new PdfError(s"catalog is $other")
      }
      val out = Vector.newBuilder[PDict]
      def walk(node: PVal, inherited: Map[String, PVal], depth: Int): Unit = {
        if (depth > 64) throw new PdfError("page tree too deep")
        resolve(node) match {
          case PDict(m) =>
            val inh = inherited ++
              m.view.filterKeys(k => k == "MediaBox" || k == "Resources").toMap
            m.get("Type") match {
              case Some(PName("Pages")) =>
                resolve(m.getOrElse("Kids", PArr(Vector.empty))) match {
                  case PArr(kids) => kids.foreach(walk(_, inh, depth + 1))
                  case other => throw new PdfError(s"bad /Kids $other")
                }
              case _ =>
                // a /Page (or a typeless leaf): merge inherited attrs in
                out += PDict(inh ++ m)
            }
          case other => throw new PdfError(s"bad page-tree node $other")
        }
      }
      walk(catalog.m.getOrElse("Pages", throw new PdfError("catalog has no /Pages")),
        Map.empty, 0)
      out.result()
    }
  }

  // ---- fonts --------------------------------------------------------------

  /** the subset of font metadata the text interpreter needs; `decode`
    * maps each BYTE code to its Unicode char per the font's /Encoding
    * (§9.6.5) — advances stay indexed by the raw byte code, only the
    * emitted text decodes
    */
  /** composite (Type0/CID, §9.7) font extras: Identity-H code mapping,
    * per-CID widths from /W with the /DW default, and the /ToUnicode
    * CMap (bfchar/bfrange) that carries the actual text
    */
  final case class CidInfo(dw: Double, w: Map[Int, Double],
      toUnicode: Map[Int, String])

  final case class FontInfo(family: String, style: String, firstChar: Int,
      widths: Array[Double], decode: Array[Char],
      cid: Option[CidInfo] = None) {
    /** all standard base encodings agree with ASCII below 0x80 — only a
      * /Differences that remaps an ASCII code defeats the no-copy path
      */
    val asciiIdentity: Boolean = {
      var i = 0
      var ok = true
      while (ok && i < 128) { ok = decode(i) == i.toChar; i += 1 }
      ok
    }
  }

  /** byte -> char table for a named JDK charset; identity where the
    * charset leaves a byte undefined (or the charset is missing)
    */
  private def charsetDecode(name: String): Array[Char] = {
    val out = new Array[Char](256)
    var i = 0
    while (i < 256) { out(i) = i.toChar; i += 1 }
    try {
      val cs = java.nio.charset.Charset.forName(name)
      i = 0
      while (i < 256) {
        val s = new String(Array(i.toByte), cs)
        if (s.length == 1 && s.charAt(0) != '�') out(i) = s.charAt(0)
        i += 1
      }
    } catch { case _: Exception => () }
    out
  }

  private val latin1Decode: Array[Char] = charsetDecode("ISO-8859-1")
  /** WinAnsiEncoding is windows-1252 (Annex D) — it differs from latin-1
    * exactly in 0x80-0x9F (curly quotes, dashes, ellipsis, ...)
    */
  private val winAnsiDecode: Array[Char] = charsetDecode("windows-1252")
  private val macRomanDecode: Array[Char] = charsetDecode("x-MacRoman")

  /** the practical subset of the Adobe Glyph List that /Differences
    * arrays actually use in text PDFs; single-letter names map to
    * themselves, everything unknown keeps the byte's identity char
    */
  private val glyphNames: Map[String, Char] = Map(
    "space" -> ' ', "exclam" -> '!', "quotedbl" -> '"', "numbersign" -> '#',
    "dollar" -> '$', "percent" -> '%', "ampersand" -> '&', "quotesingle" -> '\'',
    "parenleft" -> '(', "parenright" -> ')', "asterisk" -> '*', "plus" -> '+',
    "comma" -> ',', "hyphen" -> '-', "minus" -> '-', "period" -> '.',
    "slash" -> '/', "zero" -> '0', "one" -> '1', "two" -> '2', "three" -> '3',
    "four" -> '4', "five" -> '5', "six" -> '6', "seven" -> '7', "eight" -> '8',
    "nine" -> '9', "colon" -> ':', "semicolon" -> ';', "less" -> '<',
    "equal" -> '=', "greater" -> '>', "question" -> '?', "at" -> '@',
    "bracketleft" -> '[', "backslash" -> '\\', "bracketright" -> ']',
    "asciicircum" -> '^', "underscore" -> '_', "grave" -> '`',
    "braceleft" -> '{', "bar" -> '|', "braceright" -> '}', "asciitilde" -> '~',
    "quoteleft" -> '‘', "quoteright" -> '’',
    "quotedblleft" -> '“', "quotedblright" -> '”',
    "quotesinglbase" -> '‚', "quotedblbase" -> '„',
    "endash" -> '–', "emdash" -> '—', "bullet" -> '•',
    "ellipsis" -> '…', "dagger" -> '†', "daggerdbl" -> '‡',
    "perthousand" -> '‰', "guilsinglleft" -> '‹',
    "guilsinglright" -> '›', "guillemotleft" -> '«',
    "guillemotright" -> '»', "trademark" -> '™',
    "copyright" -> '©', "registered" -> '®', "degree" -> '°',
    "florin" -> 'ƒ', "fraction" -> '⁄', "circumflex" -> 'ˆ',
    "tilde" -> '˜', "fi" -> 'ﬁ', "fl" -> 'ﬂ',
    "oe" -> 'œ', "OE" -> 'Œ', "ae" -> 'æ', "AE" -> 'Æ',
    "oslash" -> 'ø', "Oslash" -> 'Ø', "aring" -> 'å',
    "Aring" -> 'Å', "ccedilla" -> 'ç', "Ccedilla" -> 'Ç',
    "ntilde" -> 'ñ', "Ntilde" -> 'Ñ', "germandbls" -> 'ß',
    "eacute" -> 'é', "egrave" -> 'è', "ecircumflex" -> 'ê',
    "edieresis" -> 'ë', "aacute" -> 'á', "agrave" -> 'à',
    "acircumflex" -> 'â', "adieresis" -> 'ä', "iacute" -> 'í',
    "igrave" -> 'ì', "icircumflex" -> 'î', "idieresis" -> 'ï',
    "oacute" -> 'ó', "ograve" -> 'ò', "ocircumflex" -> 'ô',
    "odieresis" -> 'ö', "uacute" -> 'ú', "ugrave" -> 'ù',
    "ucircumflex" -> 'û', "udieresis" -> 'ü',
    "Adieresis" -> 'Ä', "Odieresis" -> 'Ö', "Udieresis" -> 'Ü',
    "yacute" -> 'ý', "ydieresis" -> 'ÿ', "Eacute" -> 'É',
    "sterling" -> '£', "yen" -> '¥', "cent" -> '¢',
    "currency" -> '¤', "section" -> '§', "paragraph" -> '¶',
    "questiondown" -> '¿', "exclamdown" -> '¡', "mu" -> 'µ',
    "plusminus" -> '±', "multiply" -> '×', "divide" -> '÷',
    "onehalf" -> '½', "onequarter" -> '¼', "threequarters" -> '¾',
    "Euro" -> '€')

  private def glyphChar(name: String): Option[Char] =
    if (name.length == 1) Some(name.charAt(0)) else glyphNames.get(name)

  private def fontInfo(doc: PdfDoc, v: PVal): FontInfo = {
    val d = doc.resolve(v) match {
      case pd: PDict => pd
      case other => throw new PdfError(s"font is $other")
    }
    val base = doc.resolve(d.m.getOrElse("BaseFont", PName(""))) match {
      case PName(n) => n
      case _ => ""
    }
    // strip subset prefix (ABCDEF+Name), split family from style suffix
    val name = if (base.length > 7 && base.charAt(6) == '+') base.substring(7) else base
    val dash = name.indexOf('-')
    val (family, suffix) =
      if (dash >= 0) (name.substring(0, dash), name.substring(dash + 1))
      else (name, "")
    val style =
      if (suffix.contains("Bold")) "b"
      else if (suffix.contains("Oblique") || suffix.contains("Italic")) "i"
      else ""
    if (d.m.get("Subtype").contains(PName("Type0")))
      return type0FontInfo(doc, d, family, style)
    val firstChar = doc.resolve(d.m.getOrElse("FirstChar", PNum(0))) match {
      case PNum(x) => x.toInt
      case _ => 0
    }
    val widths = doc.resolve(d.m.getOrElse("Widths", PArr(Vector.empty))) match {
      case PArr(items) => items.map {
        case PNum(x) => x
        case other => throw new PdfError(s"bad width $other")
      }.toArray
      case _ => Array.empty[Double]
    }
    def baseDecode(n: String): Array[Char] = n match {
      case "WinAnsiEncoding" => winAnsiDecode
      case "MacRomanEncoding" => macRomanDecode
      case _ => latin1Decode // StandardEncoding etc.: ASCII-compatible
    }
    val decode = doc.resolve(d.m.getOrElse("Encoding", PNull)) match {
      case PNull => latin1Decode
      case PName(n) => baseDecode(n)
      case PDict(em) =>
        val base = doc.resolve(em.getOrElse("BaseEncoding", PNull)) match {
          case PName(n) => baseDecode(n)
          case _ => latin1Decode
        }
        doc.resolve(em.getOrElse("Differences", PNull)) match {
          case PNull => base
          case PArr(items) =>
            // [ code name name ... code name ... ]: each name takes the
            // next code (§9.6.5.1); unknown glyph names keep identity
            val out = base.clone()
            var code = 0
            items.foreach { v =>
              doc.resolve(v) match {
                case PNum(x) => code = x.toInt
                case PName(g) =>
                  if (code >= 0 && code < 256)
                    glyphChar(g).foreach(ch => out(code) = ch)
                  code += 1
                case other => throw new PdfError(s"bad /Differences entry $other")
              }
            }
            out
          case other => throw new PdfError(s"bad /Differences $other")
        }
      case other => throw new PdfError(s"bad /Encoding $other")
    }
    FontInfo(family, style, firstChar, widths, decode)
  }

  /** composite Type0 font (§9.7): Identity-H/V code mapping (2-byte
    * codes ARE the CIDs), per-CID widths from the descendant's /W with
    * the /DW default, text from the /ToUnicode CMap
    */
  private def type0FontInfo(doc: PdfDoc, d: PDict,
      family: String, style: String): FontInfo = {
    doc.resolve(d.m.getOrElse("Encoding", PNull)) match {
      case PName("Identity-H") | PName("Identity-V") => ()
      case other => throw new PdfError(
        s"Type0 /Encoding $other is outside the text-extraction subset (Identity-H/V only)")
    }
    val desc = doc.resolve(d.m.getOrElse("DescendantFonts", PNull)) match {
      case PArr(Vector(one)) => doc.resolve(one) match {
        case dd: PDict => dd
        case other => throw new PdfError(s"bad descendant font $other")
      }
      case other => throw new PdfError(s"bad /DescendantFonts $other")
    }
    val dw = doc.resolve(desc.m.getOrElse("DW", PNum(1000))) match {
      case PNum(x) => x
      case _ => 1000.0
    }
    val w = parseCidWidths(doc, desc.m.get("W"))
    val toUni = d.m.get("ToUnicode").map { tu =>
      doc.resolve(tu) match {
        case s: PStream => parseToUnicode(doc.streamData(s))
        case other => throw new PdfError(s"bad /ToUnicode $other")
      }
    }.getOrElse(Map.empty[Int, String])
    FontInfo(family, style, 0, Array.empty, latin1Decode,
      Some(CidInfo(dw, w, toUni)))
  }

  /** /W array (§9.7.4.3): `c [w1 w2 ...]` lists consecutive per-CID
    * widths from c; `cFirst cLast w` sets a range
    */
  private def parseCidWidths(doc: PdfDoc, v: Option[PVal]): Map[Int, Double] = {
    val items = v.map(doc.resolve) match {
      case Some(PArr(is)) => is.map(doc.resolve)
      case None => return Map.empty
      case Some(other) => throw new PdfError(s"bad /W $other")
    }
    val out = mutable.HashMap.empty[Int, Double]
    var i = 0
    while (i < items.length) {
      val c = items(i) match {
        case PNum(x) => x.toInt
        case other => throw new PdfError(s"bad /W entry $other")
      }
      items.lift(i + 1) match {
        case Some(PArr(ws)) =>
          ws.zipWithIndex.foreach {
            case (PNum(x), k) => out(c + k) = x
            case (other, _) => throw new PdfError(s"bad /W width $other")
          }
          i += 2
        case Some(PNum(cLast)) =>
          val wv = items.lift(i + 2) match {
            case Some(PNum(x)) => x
            case other => throw new PdfError(s"bad /W range width $other")
          }
          // Identity-H CIDs are 16-bit; a wider range is corrupt and must
          // not inflate the map towards OOM (fatal, escapes extract())
          if (c < 0 || cLast.toInt > 0xffff)
            throw new PdfError(s"/W range $c..${cLast.toInt} outside 16-bit CIDs")
          var cc = c
          while (cc <= cLast.toInt) { out(cc) = wv; cc += 1 }
          i += 3
        case other => throw new PdfError(s"bad /W shape at $other")
      }
    }
    out.toMap
  }

  /** /ToUnicode CMap (§9.10.3): scan bfchar/bfrange sections; dst hex is
    * UTF-16BE. bfrange dst may be a single incremented value or an array
    * per code.
    */
  private def parseToUnicode(data: Array[Byte]): Map[Int, String] = {
    val text = new String(data, java.nio.charset.StandardCharsets.ISO_8859_1)
    val out = mutable.HashMap.empty[Int, String]
    def hexVal(h: String): Int = Integer.parseInt(h, 16)
    def hexStr(h: String): String = {
      // UTF-16BE code units; odd-length hex is malformed — take the whole
      val sb = new StringBuilder
      var i = 0
      while (i + 4 <= h.length) { sb.append(hexVal(h.substring(i, i + 4)).toChar); i += 4 }
      if (sb.isEmpty && h.nonEmpty) sb.append(hexVal(h).toChar)
      sb.toString
    }
    val hex = "<([0-9a-fA-F]+)>"
    val bfchar = s"(?s)beginbfchar(.*?)endbfchar".r
    val bfrange = s"(?s)beginbfrange(.*?)endbfrange".r
    val pair = s"$hex\\s*$hex".r
    val rangeOne = s"$hex\\s*$hex\\s*$hex".r
    val rangeArr = s"$hex\\s*$hex\\s*\\[([^\\]]*)\\]".r
    bfchar.findAllMatchIn(text).foreach { m =>
      pair.findAllMatchIn(m.group(1)).foreach { p =>
        out(hexVal(p.group(1))) = hexStr(p.group(2))
      }
    }
    bfrange.findAllMatchIn(text).foreach { m =>
      val body = m.group(1)
      rangeArr.findAllMatchIn(body).foreach { r =>
        val lo = hexVal(r.group(1))
        hex.r.findAllMatchIn(r.group(3)).zipWithIndex.foreach { case (d, k) =>
          out(lo + k) = hexStr(d.group(1))
        }
      }
      // strip array forms so the 3-hex scan doesn't misread their edges
      val scalarBody = rangeArr.replaceAllIn(body, " ")
      rangeOne.findAllMatchIn(scalarBody).foreach { r =>
        val lo = hexVal(r.group(1))
        val hi = hexVal(r.group(2))
        val dst = hexStr(r.group(3))
        var c = lo
        while (c <= hi) {
          // increment the LAST code unit (the common single-unit case)
          val bump = c - lo
          out(c) =
            if (dst.isEmpty) ""
            else dst.substring(0, dst.length - 1) +
              (dst.charAt(dst.length - 1) + bump).toChar
          c += 1
        }
      }
    }
    out.toMap
  }

  // ---- content-stream interpretation --------------------------------------

  private final case class Frag(top: Int, left: Int, width: Int, height: Int,
      fontId: Int, text: String, spans: Map[String, Vector[Span]])

  private final case class Spec(size: Int, family: String, color: String)

  /** per-page fontspec registry: first-use order over (size, family, color) */
  private final class FontspecReg {
    val specs = ArrayBuffer.empty[Spec]
    private val idx = mutable.HashMap.empty[Spec, Int]
    // the last combination: a show that repeats it allocates no Spec and
    // skips the hash lookup
    private var last: Spec = null
    private var lastId = -1
    def id(size: Int, family: String, color: String): Int = {
      if (last == null || last.size != size || last.family != family || last.color != color) {
        last = Spec(size, family, color)
        lastId = idx.getOrElseUpdate(last, { specs += last; specs.length - 1 })
      }
      lastId
    }
  }

  private val HexDigits: Array[Char] = "0123456789abcdef".toCharArray

  /** `#rrggbb` of fill components in 0..1 (clamped; NaN reads 0) — the
    * characters come from a table, not `java.util.Formatter`: this runs on
    * every `rg`/`g` operator
    */
  private[graft] def hexColor(r: Double, g: Double, b: Double): String = {
    val out = new Array[Char](7)
    out(0) = '#'
    def put(i: Int, x: Double): Unit = {
      val v = math.max(0, math.min(255, math.round(x * 255).toInt))
      out(i) = HexDigits(v >> 4); out(i + 1) = HexDigits(v & 0xf)
    }
    put(1, r); put(3, g); put(5, b)
    new String(out)
  }

  /** the resources a content stream can reach: fonts by name, and form
    * XObjects resolved lazily to (content bytes, own resources, tx, ty)
    * — only translation matrices are supported (the text-extraction
    * subset; a scaled/rotated form throws and the turn degrades to
    * format=error rather than emitting wrong geometry)
    */
  private final case class Res(fonts: Map[String, FontInfo],
      form: String => Option[(Array[Byte], Res, Double, Double)])

  /** full graphics-state snapshot for q/Q — PDF saves the TEXT state
    * parameters (font, size, leading, spacing, scale) with the graphics
    * state too (ISO 32000-1 §8.4.2 / §9.3)
    */
  private final case class GState(fill: String, font: FontInfo, size: Double,
      leading: Double, charSpacing: Double, wordSpacing: Double, hscale: Double,
      ctmX: Double, ctmY: Double)

  private def interpret(content: Array[Byte], res: Res,
      pageH: Double, reg: FontspecReg, depth: Int = 0): Vector[Frag] = {
    if (depth > 8) throw new PdfError("form XObject nesting too deep")
    val fonts = res.fonts
    val frags = Vector.newBuilder[Frag]
    val c = new Cur(content, 0)
    val stack = ArrayBuffer.empty[PVal] // operand stack
    var fill = "#000000"
    val gsStack = ArrayBuffer.empty[GState]
    var font: FontInfo = null
    var size = 0.0
    var leading = 0.0
    var charSpacing = 0.0 // Tc
    var wordSpacing = 0.0 // Tw
    var hscale = 1.0      // Tz / 100
    // translation component of the CTM (`cm`, q/Q-saved): the dominant
    // placement pattern `q a b c d e f cm /Fm Do Q` — non-translation
    // matrices throw (degrade to format=error, never wrong geometry)
    var ctmX = 0.0
    var ctmY = 0.0
    // text object state
    var lineX = 0.0; var lineY = 0.0
    var curX = 0.0; var curY = 0.0
    // pending fragment
    var fragStartX = 0.0; var fragStartY = 0.0
    var fragSize = 0.0; var fragColor = ""; var fragFamily = ""
    val pieceStyles = ArrayBuffer.empty[String]
    val pieceTexts = ArrayBuffer.empty[String]

    @inline def num(v: PVal): Double = v match {
      case PNum(d) => d
      case other => throw new PdfError(s"operand $other is not a number")
    }
    def advanceOf(f: FontInfo, sz: Double, s: String): Double = {
      // per glyph: width/1000 * size + Tc + (Tw on the single-byte space
      // code, §9.3.3), the sum scaled by Tz (§9.4.4 advance formula)
      var w = 0.0
      var i = 0
      while (i < s.length) {
        val ch = s.charAt(i)
        val ci = ch - f.firstChar
        if (ci >= 0 && ci < f.widths.length) w += f.widths(ci) * sz / 1000.0
        w += charSpacing
        if (ch == ' ') w += wordSpacing
        i += 1
      }
      w * hscale
    }
    def flush(): Unit = {
      if (pieceTexts.nonEmpty) {
        val text = pieceTexts.mkString
        // b/i spans as inclusive code-point ranges over the joined text,
        // merged per style key (mirrors XmlTok's child-span recording)
        var cp = 0
        val spanBuf = mutable.LinkedHashMap.empty[String, Vector[Span]]
        var i = 0
        while (i < pieceTexts.length) {
          val n = pieceTexts(i).codePointCount(0, pieceTexts(i).length)
          val st = pieceStyles(i)
          if (st.nonEmpty && n > 0)
            spanBuf(st) = spanBuf.getOrElse(st, Vector.empty) :+ Span(cp, cp + n - 1)
          cp += n
          i += 1
        }
        val h = if (leading > 0) math.round(leading).toInt
                else math.ceil(fragSize * 1.4).toInt
        frags += Frag(
          top = math.round(pageH - (fragStartY + ctmY) - fragSize).toInt,
          left = math.round(fragStartX + ctmX).toInt,
          width = math.round(curX - fragStartX).toInt,
          height = h,
          fontId = reg.id(math.round(fragSize).toInt, fragFamily, fragColor),
          text = text,
          spans = spanBuf.toMap)
        pieceTexts.clear(); pieceStyles.clear()
      }
    }
    def decodeText(f: FontInfo, s: String): String = {
      if (f.decode eq latin1Decode) s // identity: no per-show allocation
      else if (f.asciiIdentity && { // pure-ASCII show under a standard base
        var i = 0
        var ascii = true
        while (ascii && i < s.length) { ascii = s.charAt(i) < 0x80; i += 1 }
        ascii
      }) s
      else {
        val out = new Array[Char](s.length)
        var i = 0
        while (i < s.length) {
          val ch = s.charAt(i)
          out(i) = if (ch < 256) f.decode(ch) else ch
          i += 1
        }
        new String(out)
      }
    }
    def show(s: String): Unit = {
      if (font == null) throw new PdfError("show before Tf")
      if (s.isEmpty && pieceTexts.isEmpty) {
        // zero-glyph show: registers the fontspec combination only
        reg.id(math.round(size).toInt, font.family, fill)
      } else {
        if (pieceTexts.isEmpty) {
          fragStartX = curX; fragStartY = curY
          fragSize = size; fragColor = fill; fragFamily = font.family
        }
        pieceStyles += font.style
        font.cid match {
          case Some(ci) =>
            // Identity-H: 2-byte codes are CIDs; text via ToUnicode,
            // advance via /W-/DW (Tw never applies to 2-byte codes,
            // §9.3.3)
            val sb = new StringBuilder(s.length / 2)
            var adv = 0.0
            var i = 0
            while (i + 1 < s.length) {
              val cidCode = ((s.charAt(i) & 0xff) << 8) | (s.charAt(i + 1) & 0xff)
              sb.append(ci.toUnicode.getOrElse(cidCode, cidCode.toChar.toString))
              adv += ci.w.getOrElse(cidCode, ci.dw) * size / 1000.0 + charSpacing
              i += 2
            }
            pieceTexts += sb.toString
            curX += adv * hscale
          case None =>
            pieceTexts += decodeText(font, s)
            curX += advanceOf(font, size, s) // advances index by RAW byte code
        }
      }
    }
    def nextLine(): Unit = { flush(); lineY -= leading; curX = lineX; curY = lineY }

    // content-stream operand parser: same grammar as parseVal EXCEPT
    // numbers never need the `N G R` reference lookahead (content streams
    // cannot contain indirect references, ISO 32000-1 §7.8.2) — the
    // lookahead's save/rescan per number was measurable on number-dense
    // streams (6+ numbers per fragment)
    def parseOperand(): PVal = {
      c.skipWs()
      (c.peek: @annotation.switch) match {
        case '(' => PStr(parseLiteralString(c))
        case '/' => PName(parseName(c))
        case '[' =>
          c.p += 1
          val items = Vector.newBuilder[PVal]
          c.skipWs()
          while (!c.atEnd && c.peek != ']') { items += parseOperand(); c.skipWs() }
          if (c.atEnd) throw new PdfError("unterminated array")
          c.p += 1
          PArr(items.result())
        case '<' =>
          if (c.p + 1 < c.b.length && c.b(c.p + 1) == '<') parseDict(c)
          else PStr(parseHexString(c))
        case _ =>
          // keyword operands: inline-image dict values like `/IM true`
          // (§8.9.7) are booleans/null — falling through to parseNumber
          // would degrade the whole turn to format=error over a common
          // real-world construct
          val ch = c.peek
          if ((ch >= 'a' && ch <= 'z') || (ch >= 'A' && ch <= 'Z'))
            c.keyword() match {
              case "true" => PBool(true)
              case "false" => PBool(false)
              case "null" => PNull
              case other => throw new PdfError(s"unexpected keyword operand '$other'")
            }
          else parseNumber(c)
      }
    }
    while ({ c.skipWs(); !c.atEnd }) {
      val ch = c.peek
      if (ch == '/' || ch == '(' || ch == '[' || ch == '<' ||
          (ch >= '0' && ch <= '9') || ch == '+' || ch == '-' || ch == '.') {
        stack += parseOperand()
      } else {
        val op = c.opCode()
        if (op == 0) c.p += 1 // skip stray delimiter (defensive)
        else (op: @annotation.switch) match {
          case Op_q =>
            gsStack += GState(fill, font, size, leading,
              charSpacing, wordSpacing, hscale, ctmX, ctmY)
          case Op_Q => if (gsStack.nonEmpty) {
            val g = gsStack.last
            gsStack.dropRightInPlace(1)
            // flush pending show pieces BEFORE the CTM translation is
            // restored (mirrors cm): flush() applies the CURRENT ctm, and
            // a show sequence spanning the Q was positioned under the
            // pre-Q translation
            if (g.ctmX != ctmX || g.ctmY != ctmY) flush()
            fill = g.fill; font = g.font; size = g.size; leading = g.leading
            charSpacing = g.charSpacing; wordSpacing = g.wordSpacing
            hscale = g.hscale; ctmX = g.ctmX; ctmY = g.ctmY
          }
          case Op_cm if stack.length >= 6 =>
            val a = num(stack(stack.length - 6)); val b = num(stack(stack.length - 5))
            val cc = num(stack(stack.length - 4)); val d = num(stack(stack.length - 3))
            if (a != 1.0 || b != 0.0 || cc != 0.0 || d != 1.0)
              throw new PdfError(
                "non-translation cm matrix is outside the text-extraction subset")
            flush()
            ctmX += num(stack(stack.length - 2))
            ctmY += num(stack.last)
          case Op_rg if stack.length >= 3 =>
            fill = hexColor(num(stack(stack.length - 3)),
              num(stack(stack.length - 2)), num(stack.last))
          case Op_g if stack.nonEmpty =>
            val v = num(stack.last); fill = hexColor(v, v, v)
          case Op_BT =>
            flush()
            lineX = 0; lineY = 0; curX = 0; curY = 0
          case Op_ET => flush()
          case Op_Tf if stack.length >= 2 =>
            val fname = stack(stack.length - 2) match {
              case PName(n) => n
              case other => throw new PdfError(s"Tf font operand $other")
            }
            font = fonts.getOrElse(fname, throw new PdfError(s"unknown font /$fname"))
            size = num(stack.last)
          case Op_TL if stack.nonEmpty => leading = num(stack.last)
          case Op_Tc if stack.nonEmpty => charSpacing = num(stack.last)
          case Op_Tw if stack.nonEmpty => wordSpacing = num(stack.last)
          case Op_Tz if stack.nonEmpty => hscale = num(stack.last) / 100.0
          case Op_Td if stack.length >= 2 =>
            flush()
            lineX += num(stack(stack.length - 2)); lineY += num(stack.last)
            curX = lineX; curY = lineY
          case Op_TD if stack.length >= 2 =>
            flush()
            leading = -num(stack.last)
            lineX += num(stack(stack.length - 2)); lineY += num(stack.last)
            curX = lineX; curY = lineY
          case Op_Tm if stack.length >= 6 =>
            // same subset contract as cm: only pure-translation text
            // matrices are honored. Silently reading just e,f from
            // `a b c d e f Tm` would pass scaled/rotated text through
            // with wrong geometry and wrong effective font size —
            // "rejected loudly, never mis-extracted"
            val ta = num(stack(stack.length - 6)); val tb = num(stack(stack.length - 5))
            val tc = num(stack(stack.length - 4)); val td = num(stack(stack.length - 3))
            if (ta != 1.0 || tb != 0.0 || tc != 0.0 || td != 1.0)
              throw new PdfError(
                "non-translation Tm matrix is outside the text-extraction subset")
            flush()
            lineX = num(stack(stack.length - 2)); lineY = num(stack.last)
            curX = lineX; curY = lineY
          case Op_TStar => nextLine()
          case Op_Tj if stack.nonEmpty =>
            stack.last match {
              case PStr(s) => show(s)
              case other => throw new PdfError(s"Tj operand $other")
            }
          case Op_TJ if stack.nonEmpty =>
            stack.last match {
              case PArr(items) => items.foreach {
                case PStr(s) => show(s)
                case PNum(adj) => if (pieceTexts.nonEmpty) curX -= adj / 1000.0 * size * hscale
                case other => throw new PdfError(s"TJ element $other")
              }
              case other => throw new PdfError(s"TJ operand $other")
            }
          case Op_Quote if stack.nonEmpty =>
            nextLine()
            stack.last match {
              case PStr(s) => show(s)
              case other => throw new PdfError(s"' operand $other")
            }
          case Op_DQuote if stack.length >= 3 =>
            // aw ac string ": set word then char spacing, next line, show
            wordSpacing = num(stack(stack.length - 3))
            charSpacing = num(stack(stack.length - 2))
            nextLine()
            stack.last match {
              case PStr(s) => show(s)
              case other => throw new PdfError(s"\" operand $other")
            }
          case Op_Do if stack.nonEmpty =>
            stack.last match {
              case PName(n) => res.form(n) match {
                case Some((data, childRes, dx, dy)) =>
                  // form XObject: run its content through the same
                  // interpreter, then translate the fragments by the
                  // form's matrix offset COMPOSED with the current CTM
                  // translation (top = pageH - y - size, so a +ty
                  // translation moves top UP by ty)
                  flush()
                  frags ++= interpret(data, childRes, pageH, reg, depth + 1)
                    .map(f => f.copy(
                      top = f.top - math.round(dy + ctmY).toInt,
                      left = f.left + math.round(dx + ctmX).toInt))
                case None => () // image XObject (or unknown): no text
              }
              case other => throw new PdfError(s"Do operand $other")
            }
          case Op_BI =>
            // inline image (§8.9.7): skip `key value` pairs to ID, then
            // raw binary until a whitespace-delimited EI — the binary may
            // contain bytes that would derail the operand parser
            var sawID = false
            while (!sawID && !c.atEnd) {
              c.skipWs()
              if (c.atEnd) throw new PdfError("unterminated inline image dict")
              else if (c.peek == '/') { parseOperand(); c.skipWs(); parseOperand() }
              else {
                val kw = c.keyword()
                if (kw == "ID") sawID = true
                else if (kw.isEmpty) c.p += 1
                else throw new PdfError(s"unexpected '$kw' in inline image dict")
              }
            }
            if (!c.atEnd) c.p += 1 // the single whitespace byte after ID
            var end = -1
            var i = c.p
            while (end < 0 && i + 2 < c.b.length) {
              if (isWs(c.b(i)) && c.b(i + 1) == 'E' && c.b(i + 2) == 'I' &&
                  (i + 3 >= c.b.length || !isRegular(c.b(i + 3)))) end = i + 3
              i += 1
            }
            c.p = if (end < 0) c.b.length else end
          case _ => // unknown operator: PDF operand-stack semantics say drop operands
        }
        stack.clear()
      }
    }
    flush()
    frags.result()
  }

  // ---- entry: PDF bytes -> PAGE XNodes ------------------------------------

  /** parse a (text-payload) PDF; chars map 1:1 to bytes via latin-1 —
    * ASCII-safe producers round-trip through parquet string columns
    */
  def toNodes(payload: String): Vector[XmlTok.XNode] =
    toNodes(payload.getBytes(java.nio.charset.StandardCharsets.ISO_8859_1))

  def toNodes(bytes: Array[Byte]): Vector[XmlTok.XNode] = {
    val doc = new PdfDoc(bytes)
    if (doc.encrypted)
      throw new PdfError("encrypted PDF (/Encrypt) — decryption unsupported, " +
        "refusing to emit ciphertext as text")
    doc.pages().zipWithIndex.map { case (page, pi) =>
      val (pw, ph) = doc.resolve(page.m.getOrElse("MediaBox", PNull)) match {
        case PArr(Vector(x0, y0, x1, y1)) =>
          (num(doc, x1) - num(doc, x0), num(doc, y1) - num(doc, y0))
        case _ => throw new PdfError(s"page ${pi + 1} has no /MediaBox")
      }
      /** fonts + lazily-resolved form XObjects for a /Resources dict; a
        * form without its own /Resources inherits the invoking one
        */
      def resOf(resDict: Map[String, PVal]): Res = {
        val fonts = doc.resolve(resDict.getOrElse("Font", PDict(Map.empty))) match {
          case PDict(fm) => fm.map { case (k, v) => k -> fontInfo(doc, v) }
          case other => throw new PdfError(s"bad /Font $other")
        }
        val xobjs: Map[String, PVal] =
          doc.resolve(resDict.getOrElse("XObject", PDict(Map.empty))) match {
            case PDict(m) => m
            case other => throw new PdfError(s"bad /XObject $other")
          }
        // memoized per name: a page stamping the same form per line must
        // not re-inflate + re-parse fonts/CMaps once per Do
        val formCache = mutable.HashMap.empty[String, Option[(Array[Byte], Res, Double, Double)]]
        Res(fonts, name => formCache.getOrElseUpdate(name, xobjs.get(name).flatMap { v =>
          doc.resolve(v) match {
            case s: PStream if s.dict.m.get("Subtype").contains(PName("Form")) =>
              val data = doc.streamData(s)
              val childDict = doc.resolve(s.dict.m.getOrElse("Resources", PNull)) match {
                case PDict(m) => m
                case _ => resDict
              }
              val (dx, dy) = doc.resolve(s.dict.m.getOrElse("Matrix", PNull)) match {
                case PNull => (0.0, 0.0)
                case PArr(Vector(a, b, cc, d, e, f)) =>
                  if (num(doc, a) != 1.0 || num(doc, b) != 0.0 ||
                      num(doc, cc) != 0.0 || num(doc, d) != 1.0)
                    throw new PdfError(
                      "form XObject with a non-translation /Matrix is outside the text-extraction subset")
                  (num(doc, e), num(doc, f))
                case other => throw new PdfError(s"bad form /Matrix $other")
              }
              Some((data, resOf(childDict), dx, dy))
            case _: PStream => None // image XObject: no text
            case other => throw new PdfError(s"XObject /$name is $other")
          }
        }))
      }
      val pageRes: Map[String, PVal] =
        doc.resolve(page.m.getOrElse("Resources", PDict(Map.empty))) match {
          case PDict(res) => res
          case other => throw new PdfError(s"bad /Resources $other")
        }
      val content: Array[Byte] = doc.resolve(page.m.getOrElse("Contents", PNull)) match {
        case s: PStream => doc.streamData(s)
        case PArr(items) =>
          val parts = items.map(v => doc.resolve(v) match {
            case s: PStream => doc.streamData(s)
            case other => throw new PdfError(s"bad /Contents entry $other")
          })
          val out = new java.io.ByteArrayOutputStream()
          parts.foreach { p => out.write(p); out.write('\n') }
          out.toByteArray
        case PNull => Array.empty[Byte]
        case other => throw new PdfError(s"bad /Contents $other")
      }
      val reg = new FontspecReg
      val frags = interpret(content, resOf(pageRes), ph, reg)

      val pageNode = XmlTok.synthNode("PAGE",
        Array("NUMBER", "POSITION", "TOP", "LEFT", "HEIGHT", "WIDTH"),
        Array((pi + 1).toString, "absolute", "0", "0",
          math.round(ph).toInt.toString, math.round(pw).toInt.toString))
      reg.specs.zipWithIndex.foreach { case (s, i) =>
        XmlTok.addChild(pageNode, XmlTok.synthNode("FONTSPEC",
          Array("ID", "SIZE", "FAMILY", "COLOR"),
          Array(i.toString, s.size.toString, s.family, s.color)))
      }
      frags.foreach { f =>
        val n = XmlTok.synthNode("TEXT",
          Array("TOP", "LEFT", "WIDTH", "HEIGHT", "FONT"),
          Array(f.top.toString, f.left.toString, f.width.toString,
            f.height.toString, f.fontId.toString))
        n.value = f.text
        if (f.spans.nonEmpty) n.textAttributes = f.spans
        XmlTok.addChild(pageNode, n)
      }
      pageNode
    }
  }

  private def num(doc: PdfDoc, v: PVal): Double = doc.resolve(v) match {
    case PNum(d) => d
    case other => throw new PdfError(s"$other is not a number")
  }
}
