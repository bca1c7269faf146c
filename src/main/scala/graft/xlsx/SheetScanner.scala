package graft.xlsx

import java.io.InputStream
import java.nio.charset.{Charset, StandardCharsets}

import CellValue._

/** Byte-level worksheet scanner: one sheet part's rows, scanned in chunks
  * straight off the inflated bytes like the reference's hand scan
  * (ref: src/streaming_reader.rs:523-724) instead of through a general XML
  * parser. It keeps that parser's behaviour: elements match by local name
  * (`<x:row>` reads), attributes in any order, end tags must match, the
  * five named entities and character references resolve, CDATA is text,
  * comments and PIs are skipped, line ends read as LF, a non-UTF-8 part is
  * transcoded on the way in, and DTDs or malformed or truncated markup fail
  * loudly.
  *
  * Rows are positional: `[startRow, endRow)` counts `<row>` start tags from
  * 0, and earlier rows are passed over without decoding a cell.
  * [[countRows]] walks rows the same way, so a planned row count and a
  * read position cannot disagree. With `sampleBytes >= 0` at most that many
  * bytes are read and their end is not an error (planning samples).
  */
private[xlsx] final class SheetScanner(
    entry: InputStream,
    sst: Vector[String],
    date1904: Boolean,
    dateStyles: Set[Int],
    startRow: Long = 0L,
    endRow: Long = Long.MaxValue,
    sampleBytes: Long = -1L) extends XlsxReader.RowIter {
  import SheetScanner._

  private var inflated, parsed, seen = 0L // bytes pulled, rows decoded, row tags passed
  override def bytesRead: Long = inflated
  override def rowsRead: Long = parsed

  private var src: InputStream = new java.io.FilterInputStream(entry) {
    override def read(b: Array[Byte], off: Int, len: Int): Int = {
      val n = in.read(b, off, len)
      if (n > 0) inflated += n
      n
    }
  }
  private var buf = new Array[Byte](1 << 16)
  private var pos, lim = 0
  private var eof, atEnd = false // input ended; the part itself ended, not just the sample
  // open elements, innermost last: each qualified name as a `key` (names too
  // long for one are kept back to back in `names`, ending at `nameEnds`) and
  // its local-name code
  private var keys = new Array[Long](16)
  private var names = new Array[Byte](256)
  private var nameEnds, codes = new Array[Int](16)
  private var depth = 0
  private var rootSeen, pendingEnd = false // pendingEnd: a self-closing tag owes its end event
  private var local = Other                // local-name code of the last tag
  private var gotR, gotT, gotS, cellDate = false // the last <c>'s attributes
  private var cellCol, cellType = 0
  private val vText, tText, fText, aText = new Text
  private val row = Vector.newBuilder[CellValue]
  private val strict = StandardCharsets.UTF_8.newDecoder() // reports malformed input
  private val dateMask = new Array[Boolean](dateStyles.maxOption.fold(0)(m => math.max(0, m + 1)))
  dateStyles.foreach(i => if (i >= 0) dateMask(i) = true)
  private var pending: Vector[CellValue] = _
  private var done = false

  try sniffEncoding() catch { case e: Throwable => entry.close(); throw e }

  override def hasNext: Boolean = pending != null || (!done && {
    try pending = advance()
    catch { case e: Throwable => close(); throw e }
    if (pending == null) close()
    pending != null
  })

  override def next(): Vector[CellValue] = {
    if (!hasNext) throw new NoSuchElementException("next on exhausted sheet")
    val r = pending
    pending = null
    r
  }

  override def close(): Unit = if (!done) { done = true; pending = null; src.close() }

  /** Row start tags within the sample (or the whole part). */
  def countRows(): Long = {
    try while (seekRow()) skipElement()
    catch { case SampleEnd => }
    seen
  }

  /** True when the part ended within the sample. */
  def exhausted: Boolean = atEnd

  private def advance(): Vector[CellValue] = {
    while (seen < startRow) { if (!seekRow()) return null; skipElement() }
    if (seen >= endRow || !seekRow()) null else parseRow()
  }

  private def seekRow(): Boolean = {
    var k = nextTag()
    while (k != Eof && !(k == Start && local == Row)) k = nextTag()
    if (k != Eof) seen += 1
    k != Eof
  }

  private def skipElement(): Unit = { val d = depth; while (depth >= d && nextTag() != Eof) () }

  private def parseRow(): Vector[CellValue] = {
    parsed += 1
    row.clear()
    var n = 0
    var k = nextTag()
    while (k != Eof && !(k == End && local == Row)) {
      if (k == Start && local == C) {
        val col = if (gotR) cellCol else n
        val t = cellType
        val date = cellDate
        while (n < col) { row += Empty; n += 1 } // sparse back-fill
        row += parseCell(t, date)
        n += 1
      }
      k = nextTag()
    }
    row.result()
  }

  /** Collects `<v>`, inline `<t>` runs (phonetic `<rPh>` runs skipped) and
    * `<f>` of the open `<c>`, then decodes by the reference's type dispatch
    * (ref: src/streaming_reader.rs:636-717). */
  private def parseCell(t: Int, date: Boolean): CellValue = {
    var hasV, hasT, hasF, inRPh = false
    var open = true
    while (open) {
      if (!pendingEnd && quick(VOpen, VClose, vText, clear = true)) { hasV = true; open = !quickClose() }
      else if (!pendingEnd && !inRPh && quick(IsOpen, IsClose, tText, clear = !hasT)) { hasT = true; open = !quickClose() }
      else {
        val k = nextTag()
        if (k == Eof || (k == End && local == C)) open = false
        else if (k == End) { if (local == RPh) inRPh = false }
        else if (local == V) { vText.clear(); readText(vText); hasV = true }
        else if (local == RPh) inRPh = true
        else if (local == T && !inRPh) { if (!hasT) tText.clear(); readText(tText); hasT = true }
        else if (local == F) { fText.clear(); readText(fText); hasF = true }
      }
    }
    t match {
      case TInline => if (hasT) Str(tText.str()) else Empty
      case TS =>
        val i = if (!hasV) -1 else if (vText.plainLong) { if (vText.long.isValidInt) vText.long.toInt else -1 }
                else vText.str().toIntOption.getOrElse(-1)
        if (i >= 0 && i < sst.length) Str(sst(i)) else Empty
      case TB => if (hasV) BoolVal(vText.n == 1 && vText.a(0) == '1') else Empty
      case TE => if (hasV) Error(vText.str()) else Empty
      case TStr => if (hasV) Str(vText.str()) else if (hasF) Formula(fText.str()) else Empty
      case _ => // untyped numeric / date / formula
        if (!hasV) { if (hasF) Formula(fText.str()) else Empty }
        else if (vText.plainLong) whole(vText.long, date)
        else if (vText.plainDecimal) fraction(vText.double, date)
        else {
          // exact long parse first: the reference routes every numeric
          // through f64 (ref: src/streaming_reader.rs:687) and corrupts
          // integers beyond 2^53
          val v = vText.str()
          v.toLongOption match {
            case Some(l) => whole(l, date)
            case None => v.toDoubleOption.fold(Str(v): CellValue)(fraction(_, date))
          }
        }
    }
  }

  /** `open` text `close` with reference-free text, all buffered: the common
    * `<v>` and `<is><t>` cell values, read without the general tag path
    * (same result: the elements open and close within the call). */
  private def quick(open: Array[Byte], close: Array[Byte], out: Text, clear: Boolean): Boolean = {
    if (pos + open.length > lim || !prefix(buf, pos, open, 0, open.length)) return false
    var i = pos + open.length
    while (i < lim && buf(i) != '<' && buf(i) != '&') i += 1
    if (i + close.length > lim || !prefix(buf, i, close, 0, close.length)) return false
    if (clear) out.clear()
    out.add(buf, pos + open.length, i)
    pos = i + close.length
    true
  }

  /** A plain `</c>` closing the open plain `<c>`, consumed. */
  private def quickClose(): Boolean = {
    val ok = pos + 4 <= lim && prefix(buf, pos, CClose, 0, 4) && keys(depth - 1) == CKey
    if (ok) { depth -= 1; local = C; pos += 4 }
    ok
  }

  /** A whole number: a date when date-styled and, after the 1904 shift to
    * the 1900 epoch, inside Excel's serial range. */
  private def whole(l: Long, date: Boolean): CellValue = {
    val adj = if (date1904) l + 1462L else l
    if (date && adj >= 1L && adj <= 2958465L) DateTime(adj.toDouble) else IntVal(l)
  }

  /** Any other number. Timestamp styles keep fractional serials (the
    * reference's integral-only heuristic, src/streaming_reader.rs:699, drops
    * the time part). */
  private def fraction(num: Double, date: Boolean): CellValue = {
    val adj = if (date1904) num + 1462.0d else num
    if (date && adj >= ExcelDate.MinSerial && adj <= ExcelDate.MaxSerial) DateTime(adj)
    else if (num == math.rint(num) && !num.isInfinite &&
             num >= Long.MinValue.toDouble && num <= Long.MaxValue.toDouble) IntVal(num.toLong)
    else FloatVal(num)
  }

  // --- tokenizer ----------------------------------------------------------

  private def fail(msg: String): Nothing =
    throw new java.io.IOException(s"malformed sheet XML after $seen rows: $msg")

  private def truncated(): Nothing = if (sampleBytes >= 0) throw SampleEnd else fail("truncated part")

  /** Compact the unread bytes to the front (growing the buffer when it is
    * full) and read more; false at the end of input. */
  private def fill(): Boolean = !eof && {
    if (pos > 0) { System.arraycopy(buf, pos, buf, 0, lim - pos); lim -= pos; pos = 0 }
    if (lim == buf.length) buf = java.util.Arrays.copyOf(buf, buf.length * 2)
    val room = if (sampleBytes < 0) buf.length - lim else math.min(buf.length - lim, sampleBytes - inflated).toInt
    val n = if (room > 0) src.read(buf, lim, room) else -1
    if (n == 0) throw new java.io.IOException("sheet stream returned 0 bytes (non-conforming InputStream)")
    if (n < 0) { eof = true; atEnd = room > 0 } else lim += n
    n > 0
  }

  /** Index `i` after reading more (compaction moves bytes), or -1 at the end. */
  private def more(i: Int): Int = { val off = i - pos; if (fill()) pos + off else -1 }

  private def ensure(n: Int): Boolean = { while (lim - pos < n) if (!fill()) return false; true }

  /** Next start or end tag (a self-closing tag yields both), checking and
    * skipping the character data, comments and PIs before it. */
  private def nextTag(): Int = {
    if (pendingEnd) { pendingEnd = false; depth -= 1; return End }
    while (true) {
      if (!text(null)) return if (sampleBytes < 0 && (depth > 0 || !rootSeen)) truncated() else Eof
      if (!ensure(2)) truncated()
      if (buf(pos + 1) == '/') return endTag()
      if (!markup(null)) { var k = startTag(); while (k < 0) { if (!fill()) truncated(); k = startTag() }; return k }
    }
    Eof
  }

  /** The open element holds text only (getElementText): append it to `out`
    * with references resolved and CDATA included, then consume its end tag. */
  private def readText(out: Text): Unit = {
    if (pendingEnd) { nextTag(); return }
    while (true) {
      if (!text(out) || !ensure(2)) truncated()
      if (buf(pos + 1) == '/') { endTag(); return }
      if (!markup(out)) fail("an element inside a text-only element")
    }
  }

  /** Character data from pos to the next '<', references resolved into
    * `out` (null: checked and dropped); false at the end of input. */
  private def text(out: Text): Boolean = {
    var i = pos
    while ({ if (i == lim) { flush(out, i); i = more(i); if (i < 0) return false }; buf(i) != '<' }) {
      if (buf(i) == '&') { flush(out, i); entity(out); i = pos }
      else { if (depth == 0 && !isWs(buf(i))) fail("text outside the root element"); i += 1 }
    }
    flush(out, i)
    true
  }

  private def flush(out: Text, i: Int): Unit = { if (out != null) out.add(buf, pos, i); pos = i }

  /** At '<': skip a PI or comment, or append a CDATA section to `out`;
    * false when the markup is a tag. */
  private def markup(out: Text): Boolean = {
    val b = buf(pos + 1)
    if (b == '?') { pos += 2; skipPast(PiEnd, null) }
    else if (b == '!') {
      if (!ensure(4)) truncated()
      if (buf(pos + 2) == '-' && buf(pos + 3) == '-') { pos += 4; skipPast(CommentEnd, null) }
      else if (ensure(9) && prefix(buf, pos, CdataStart, 0, 9)) {
        if (depth == 0) fail("CDATA outside the root element")
        pos += 9
        skipPast(CdataEnd, out)
      } else if (lim - pos < 9) truncated()
      else fail("markup declarations (DTDs) are not supported")
    }
    b == '?' || b == '!'
  }

  /** Skip past the next `term`, appending the bytes before it to `out`. */
  private def skipPast(term: Array[Byte], out: Text): Unit = {
    var i = pos
    while (i + term.length > lim || buf(i) != term(0) || !prefix(buf, i, term, 0, term.length)) {
      if (i + term.length <= lim) i += 1
      else { flush(out, i); i = more(i); if (i < 0) truncated() }
    }
    flush(out, i)
    pos = i + term.length
  }

  /** The start tag at pos, noting a `<c>`'s attributes; -1 when it runs
    * past the buffered bytes (the caller reads more and retries). */
  private def startTag(): Int = {
    val ns = pos + 1
    var i = name(ns)
    if (i < lim && i == ns) fail("a '<' that starts no element")
    val ne = i
    val code = if (i < lim) codeOf(ns, ne) else Other
    gotR = false; gotT = false; gotS = false; cellType = TN; cellDate = false
    while (i < lim) {
      val sep = i
      i = skipWs(i)
      if (i == lim) return -1
      val b = buf(i)
      if (b == '>' || b == '/') {
        if (b == '/' && i + 1 == lim) return -1
        if (b == '/' && buf(i + 1) != '>') fail("stray '/' in a tag")
        if (depth == 0) { if (rootSeen) fail("a second root element"); rootSeen = true }
        push(ns, ne, code)
        pendingEnd = b == '/'
        pos = if (pendingEnd) i + 2 else i + 1
        return Start
      }
      if (i == sep) fail("attributes must be separated by whitespace")
      val an = i
      i = name(i)
      val ae = i
      i = skipWs(i)
      if (i < lim && (ae == an || buf(i) != '=')) fail("malformed attribute")
      i = skipWs(i + 1)
      val q = if (i < lim) buf(i) else '"'.toByte
      if (q != '"' && q != '\'') fail("unquoted attribute value")
      val vs = i + 1
      i = vs
      while (i < lim && buf(i) != q) { if (buf(i) == '<') fail("'<' in an attribute value"); i += 1 }
      if (i < lim && code == C) cellAttr(an, ae, vs, i)
      i += 1
    }
    -1
  }

  private def endTag(): Int = {
    while (true) {
      val ns = pos + 2
      val ne = name(ns)
      val i = skipWs(ne)
      if (i < lim) {
        if (ne == ns || buf(i) != '>') fail("malformed end tag")
        val k = key(ns, ne)
        val from = if (depth > 1) nameEnds(depth - 2) else 0
        if (depth == 0 || k != keys(depth - 1) ||
            (k < 0 && (nameEnds(depth - 1) - from != ne - ns || !prefix(buf, ns, names, from, ne - ns))))
          fail("end tag does not match its start tag")
        depth -= 1
        local = codes(depth)
        pos = i + 1
        return End
      }
      if (!fill()) truncated()
    }
    End
  }

  private def push(ns: Int, ne: Int, code: Int): Unit = {
    if (depth == codes.length) {
      keys = java.util.Arrays.copyOf(keys, depth * 2)
      nameEnds = java.util.Arrays.copyOf(nameEnds, depth * 2)
      codes = java.util.Arrays.copyOf(codes, depth * 2)
    }
    keys(depth) = key(ns, ne)
    val from = if (depth > 0) nameEnds(depth - 1) else 0
    nameEnds(depth) = from
    if (keys(depth) < 0) {
      if (from + ne - ns > names.length) names = java.util.Arrays.copyOf(names, (from + ne - ns) * 2)
      System.arraycopy(buf, ns, names, from, ne - ns)
      nameEnds(depth) = from + ne - ns
    }
    local = code
    codes(depth) = code
    depth += 1
  }

  /** A name of at most 7 bytes packed exactly into a Long; -1 for longer ones. */
  private def key(ns: Int, ne: Int): Long = if (ne - ns > 7) -1L else {
    var k = 1L
    var i = ns
    while (i < ne) { k = k << 8 | (buf(i) & 0xFF); i += 1 }
    k
  }

  private def name(from: Int): Int = { var i = from; while (i < lim && !NameStop(buf(i) & 0xFF)) i += 1; i }

  private def skipWs(from: Int): Int = { var i = from; while (i < lim && isWs(buf(i))) i += 1; i }

  /** Local-name code of the qualified name `buf[ns, ne)`. */
  private def codeOf(ns: Int, ne: Int): Int = {
    var ls = ne
    while (ls > ns && buf(ls - 1) != ':') ls -= 1
    val b = buf(ls)
    if (ne - ls == 1) { if (b == 'c') C else if (b == 'v') V else if (b == 't') T else if (b == 'f') F else Other }
    else if (ne - ls != 3 || b != 'r') Other
    else if (buf(ls + 1) == 'o' && buf(ls + 2) == 'w') Row
    else if (buf(ls + 1) == 'P' && buf(ls + 2) == 'h') RPh
    else Other
  }

  /** Note a `<c>` attribute by local name: the first r / t / s wins, as in
    * a parser's attribute lookup; namespace declarations are not attributes. */
  private def cellAttr(an: Int, ae: Int, vs: Int, ve: Int): Unit = {
    val which = buf(ae - 1)
    if (ae - an > 1 && (buf(ae - 2) != ':' || (ae - an == 7 && prefix(buf, an, Xmlns, 0, 6)))) return
    if (which != 'r' && which != 't' && which != 's') return
    if ((which == 'r' && gotR) || (which == 't' && gotT) || (which == 's' && gotS)) return
    var a = buf
    var from = vs
    var to = ve
    var i = vs
    while (i < ve && buf(i) != '&') i += 1
    if (i < ve) { // references: resolve them into aText
      aText.clear()
      i = vs
      while (i < ve) {
        var semi = i
        if (buf(i) == '&') { while (semi < ve && buf(semi) != ';') semi += 1; reference(i, semi, aText) }
        else aText.put(buf(i))
        i = semi + 1
      }
      a = aText.a; from = 0; to = aText.n
    }
    if (which == 'r') {
      gotR = true
      var col = 0L
      var k = from
      while (k < to && ((a(k) >= 'A' && a(k) <= 'Z') || (a(k) >= 'a' && a(k) <= 'z'))) {
        col = col * 26 + ((a(k) & 0xDF) - 'A' + 1)
        k += 1
      }
      // A1.parseColumnIndex, whose Char.isLetter also takes non-ASCII letters
      cellCol = if (k < to && a(k) < 0) A1.parseColumnIndex(new String(a, from, to - from, StandardCharsets.UTF_8))
                else math.max(col - 1, 0).toInt
    } else if (which == 't') {
      gotT = true
      cellType = if (to - from == 1) { if (a(from) == 's') TS else if (a(from) == 'b') TB else if (a(from) == 'e') TE else TN }
                 else if (to - from == 9 && prefix(a, from, InlineStr, 0, 9)) TInline
                 else if (to - from == 3 && prefix(a, from, StrType, 0, 3)) TStr
                 else TN
    } else {
      gotS = true
      var id = 0
      var k = from
      while (k < to && k - from < 9 && a(k) >= '0' && a(k) <= '9') { id = id * 10 + a(k) - '0'; k += 1 }
      if (k < to || k == from) id = new String(a, from, to - from, StandardCharsets.UTF_8).toIntOption.getOrElse(-1)
      cellDate = id >= 0 && id < dateMask.length && dateMask(id)
    }
  }

  /** At '&' in character data: resolve one reference into `out` (null: check only). */
  private def entity(out: Text): Unit = {
    var i = pos + 1
    while ({ if (i == lim) { i = more(i); if (i < 0) truncated() }; buf(i) != ';' }) {
      if (i - pos > 40) fail("unterminated reference")
      i += 1
    }
    reference(pos, i, out)
    pos = i + 1
  }

  private def reference(amp: Int, semi: Int, out: Text): Unit = {
    val ref = new String(buf, amp + 1, math.max(0, semi - amp - 1), StandardCharsets.ISO_8859_1)
    val cp: Int = ref match {
      case "lt" => '<'
      case "gt" => '>'
      case "amp" => '&'
      case "quot" => '"'
      case "apos" => '\''
      case _ if CharRef.matcher(ref).matches() =>
        val v = scala.util.Try(Integer.parseInt(ref.drop(if (ref(1) == 'x') 2 else 1), if (ref(1) == 'x') 16 else 10))
          .getOrElse(Int.MaxValue)
        if (v == 9 || v == 10 || v == 13 || (v >= 0x20 && v <= 0xD7FF) || (v >= 0xE000 && v <= 0xFFFD) ||
            (v >= 0x10000 && v <= 0x10FFFF)) v
        else fail(s"character reference to an invalid XML character: &$ref;")
      case _ => fail(s"undeclared or unterminated reference &$ref")
    }
    if (out != null) out.putCodePoint(cp)
  }

  // --- encoding -----------------------------------------------------------

  /** UTF-8 passes through (BOM dropped); a UTF-16 BOM or byte pattern, or an
    * XML declaration naming another encoding, puts a transcoder in front. */
  private def sniffEncoding(): Unit = {
    while (lim < 4 && fill()) ()
    def at(i: Int) = if (i < lim) buf(i) & 0xFF else -1
    val cs: Charset =
      if ((at(0) == 0xFE && at(1) == 0xFF) || (at(0) == 0xFF && at(1) == 0xFE)) StandardCharsets.UTF_16
      else if (at(0) == 0 && at(1) == '<') StandardCharsets.UTF_16BE
      else if (at(0) == '<' && at(1) == 0) StandardCharsets.UTF_16LE
      else {
        if (at(0) == 0xEF && at(1) == 0xBB && at(2) == 0xBF) pos = 3
        while (lim - pos < 512 && fill()) ()
        val head = new String(buf, pos, lim - pos, StandardCharsets.ISO_8859_1)
        Some(head).filter(_.startsWith("<?xml")).map(h => h.take(h.indexOf('>') + 1))
          .flatMap(DeclaredEncoding.findFirstMatchIn).map(_.group(1))
          .filterNot(_.matches("(?i)utf-?8|(us-)?ascii")).map(Charset.forName).orNull
      }
    if (cs != null) {
      val head = new java.io.ByteArrayInputStream(java.util.Arrays.copyOfRange(buf, pos, lim))
      src = new Utf8Of(new java.io.SequenceInputStream(head, src), cs)
      pos = 0; lim = 0; eof = false
    }
  }

  /** Growable UTF-8 character data. Raw CRs are normalized on output; a CR
    * from a character reference is held as 0xFF (never valid UTF-8) so it
    * survives normalization. */
  private final class Text {
    var a = new Array[Byte](64)
    var n = 0
    var long = 0L
    var double = 0.0
    def clear(): Unit = n = 0
    def add(b: Array[Byte], from: Int, to: Int): Unit = if (to > from) {
      if (n + to - from > a.length) a = java.util.Arrays.copyOf(a, math.max(a.length * 2, n + to - from))
      System.arraycopy(b, from, a, n, to - from)
      n += to - from
    }
    def put(b: Int): Unit = { if (n == a.length) a = java.util.Arrays.copyOf(a, n * 2); a(n) = b.toByte; n += 1 }
    def putCodePoint(cp: Int): Unit =
      if (cp == '\r') put(0xFF)
      else if (cp < 0x80) put(cp)
      else { val b = new String(Character.toChars(cp)).getBytes(StandardCharsets.UTF_8); add(b, 0, b.length) }

    /** Plain `-?[0-9]{1,18}` (into `long`): what Long.parseLong reads the same. */
    def plainLong: Boolean = {
      val neg = n > 0 && a(0) == '-'
      var i = if (neg) 1 else 0
      var v = 0L
      while (i < n && a(i) >= '0' && a(i) <= '9') { v = v * 10 + a(i) - '0'; i += 1 }
      long = if (neg) -v else v
      i == n && n - (if (neg) 1 else 0) - 1 < 18 && n > (if (neg) 1 else 0)
    }

    /** Plain `-?[0-9]+.[0-9]+` with at most 15 digits (into `double`): an
      * exact integer over an exact power of ten, one correctly rounded
      * division, so the same double Double.parseDouble returns. */
    def plainDecimal: Boolean = {
      val lead = if (n > 0 && a(0) == '-') 1 else 0
      var i = lead
      var m = 0L
      var dot = -1
      while (i < n && (a(i) == '.' && dot < 0 || a(i) >= '0' && a(i) <= '9')) {
        if (a(i) == '.') dot = i else m = m * 10 + a(i) - '0'
        i += 1
      }
      val ok = i == n && dot > lead && dot < n - 1 && n - lead <= 16
      if (ok) double = (if (lead == 1) -1 else 1) * (m.toDouble / Pow10(n - 1 - dot))
      ok
    }

    def str(): String = {
      var i = 0
      while (i < n && a(i) >= 0 && a(i) != '\r') i += 1
      if (i == n) return new String(a, 0, n, StandardCharsets.ISO_8859_1)
      var w = i
      while (i < n) {
        val b = a(i)
        a(w) = if (b == '\r') '\n'.toByte else if (b == -1) '\r'.toByte else b
        if (b == '\r' && i + 1 < n && a(i + 1) == '\n') i += 1
        w += 1
        i += 1
      }
      n = w
      strict.decode(java.nio.ByteBuffer.wrap(a, 0, n)).toString
    }
  }
}

private[xlsx] object SheetScanner {
  private final val Eof = 0; private final val Start = 1; private final val End = 2 // tag kinds
  private final val Other = 0; private final val Row = 1; private final val C = 2 // local names
  private final val V = 3; private final val T = 4; private final val F = 5; private final val RPh = 6
  private final val TN = 0; private final val TS = 1; private final val TInline = 2 // cell types
  private final val TStr = 3; private final val TB = 4; private final val TE = 5
  private final val CKey = 1L << 8 | 'c'

  private def ascii(s: String) = s.getBytes(StandardCharsets.US_ASCII)
  private val CommentEnd = ascii("-->")
  private val CdataStart = ascii("<![CDATA[")
  private val CdataEnd = ascii("]]>")
  private val PiEnd = ascii("?>")
  private val Xmlns = ascii("xmlns:")
  private val InlineStr = ascii("inlineStr")
  private val StrType = ascii("str")
  private val VOpen = ascii("<v>")
  private val VClose = ascii("</v>")
  private val IsOpen = ascii("<is><t>")
  private val IsClose = ascii("</t></is>")
  private val CClose = ascii("</c>")
  private val CharRef = java.util.regex.Pattern.compile("#[0-9]+|#x[0-9a-fA-F]+")
  private val Pow10 = Array.iterate(1.0, 16)(_ * 10)
  private val DeclaredEncoding = """encoding\s*=\s*["']([A-Za-z0-9._:-]+)["']""".r
  private val NameStop = Array.tabulate(256)(c => " \t\r\n/>=<\"'".indexOf(c) >= 0)
  private def isWs(b: Byte): Boolean = b == ' ' || b == '\n' || b == '\r' || b == '\t'

  private def prefix(a: Array[Byte], af: Int, b: Array[Byte], bf: Int, len: Int): Boolean = {
    var k = 0 // a byte loop, not Arrays.equals: these ranges are a few bytes long
    while (k < len && a(af + k) == b(bf + k)) k += 1
    k == len
  }

  private object SampleEnd extends scala.util.control.ControlThrowable

  /** A part in another encoding, re-encoded as UTF-8; malformed input fails. */
  private final class Utf8Of(in: InputStream, cs: Charset) extends InputStream {
    private val reader = new java.io.InputStreamReader(in, cs.newDecoder())
    private val chars = new Array[Char](8192)
    private var kept = 0 // a high surrogate carried to the next read
    private var bytes = Array.emptyByteArray
    private var at = 0
    override def read(): Int = { val one = new Array[Byte](1); if (read(one, 0, 1) < 0) -1 else one(0) & 0xFF }
    override def read(b: Array[Byte], off: Int, len: Int): Int = {
      while (at == bytes.length) {
        val n = reader.read(chars, kept, chars.length - kept)
        if (n < 0) return -1
        val end = kept + n
        val cut = if (Character.isHighSurrogate(chars(end - 1))) end - 1 else end
        bytes = new String(chars, 0, cut).getBytes(StandardCharsets.UTF_8)
        at = 0
        kept = end - cut
        if (kept > 0) chars(0) = chars(end - 1)
      }
      val k = math.min(len, bytes.length - at)
      System.arraycopy(bytes, at, b, off, k)
      at += k
      k
    }
    override def close(): Unit = reader.close()
  }
}
