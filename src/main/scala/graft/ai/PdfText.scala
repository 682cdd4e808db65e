package graft.ai

import java.nio.charset.StandardCharsets

/** Heuristic PDF text extraction — no external libraries, pure
  * byte-level harvesting of the formats any conforming PDF writer
  * emits (PDF 32000-1 §7.3.4, §9.4: content streams carry text as
  * `(string) Tj`, `(string) '` and `[(s1) -120 (s2)] TJ` operators,
  * optionally Flate-compressed via `/FlateDecode`):
  *
  *  1. split the file on `stream`/`endstream` keywords;
  *  2. inflate segments whose object dictionary declares /FlateDecode
  *     (java.util.zip.Inflater — Flate IS zlib/RFC 1950);
  *  3. pull every literal string operand of a text-showing operator,
  *     unescape the PDF string escapes, join Tj runs with spaces and
  *     text blocks (BT..ET) with newlines.
  *
  * This covers the overwhelmingly common "text written with literal
  * strings + standard encodings" case (what generators like
  * reportlab/wkhtmltopdf/LaTeX emit for ASCII text). Hex strings,
  * CID-keyed composite fonts, and ToUnicode remapping are out of
  * scope for a heuristic — a real OCR/layout backend slots in behind
  * [[DocAiBackend.parse]] (reference app:212-215 uses layout mode).
  */
object PdfText {

  def looksLikePdf(bytes: Array[Byte]): Boolean =
    bytes != null && bytes.length >= 5 &&
      bytes(0) == '%' && bytes(1) == 'P' && bytes(2) == 'D' &&
      bytes(3) == 'F' && bytes(4) == '-'

  /** Extract visible text; empty string when nothing harvestable. */
  def extract(bytes: Array[Byte]): String = {
    if (!looksLikePdf(bytes)) return ""
    // Latin-1 preserves every byte value 1:1, so offsets/regexes over
    // this string address the original bytes exactly
    val raw = new String(bytes, StandardCharsets.ISO_8859_1)
    val out = new StringBuilder
    val streamRe = "(?s)(<<.*?>>)\\s*stream\r?\n(.*?)endstream".r
    for (m <- streamRe.findAllMatchIn(raw)) {
      // the lazy (<<.*?>>) group starts at the FIRST '<<' after the
      // previous match and may span several unrelated dictionaries —
      // only the innermost one (the stream object's own dict, ending
      // immediately before `stream`) decides the filter
      val span = m.group(1)
      val dict = span.substring(math.max(0, span.lastIndexOf("<<")))
      val body = m.group(2)
      val data =
        if (dict.contains("/FlateDecode")) inflate(body.getBytes(StandardCharsets.ISO_8859_1))
        else body
      if (data != null) {
        val text = harvestTextOps(data)
        if (text.nonEmpty) {
          if (out.nonEmpty) out.append('\n')
          out.append(text)
        }
      }
    }
    out.toString
  }

  /** zlib-inflate, null on corrupt data (a heuristic must not throw).
    * end() runs on every path — Inflater holds native zlib buffers that
    * would otherwise leak until finalization on corrupt-stream paths.
    */
  private def inflate(data: Array[Byte]): String = {
    val inf = new java.util.zip.Inflater()
    try {
      inf.setInput(data)
      val buf = new Array[Byte](8192)
      val sb = new java.io.ByteArrayOutputStream()
      while (!inf.finished() && !inf.needsInput()) {
        val n = inf.inflate(buf)
        if (n > 0) sb.write(buf, 0, n)
        else if (n == 0 && !inf.finished()) return null // stuck: dictionary needed etc.
      }
      new String(sb.toByteArray, StandardCharsets.ISO_8859_1)
    } catch { case _: Throwable => null }
    finally inf.end()
  }

  /** Literal-string operands of Tj / ' / " / TJ in one content stream. */
  private def harvestTextOps(content: String): String = {
    val parts = scala.collection.mutable.ArrayBuffer.empty[String]
    // (string) Tj   (string) '   (string) "  — single-string shows
    val tjRe = "\\(((?:[^()\\\\]|\\\\.)*)\\)\\s*(?:Tj|'|\")".r
    // [ (s1) -120 (s2) ] TJ — array form with kerning numbers between
    val tjArrRe = "(?s)\\[((?:[^\\]\\\\]|\\\\.)*)\\]\\s*TJ".r
    val strRe = "\\(((?:[^()\\\\]|\\\\.)*)\\)".r
    // walk BT..ET text blocks in order; blocks join with newlines
    val btRe = "(?s)BT(.*?)ET".r
    val blocks = btRe.findAllMatchIn(content).map(_.group(1)).toSeq
    val scopes = if (blocks.nonEmpty) blocks else Seq(content)
    for (scope <- scopes) {
      val pieces = scala.collection.mutable.ArrayBuffer.empty[String]
      for (m <- tjRe.findAllMatchIn(scope)) pieces += unescape(m.group(1))
      for (m <- tjArrRe.findAllMatchIn(scope);
           s <- strRe.findAllMatchIn(m.group(1))) pieces += unescape(s.group(1))
      val joined = pieces.filter(_.nonEmpty).mkString(" ").trim
      if (joined.nonEmpty) parts += joined
    }
    parts.mkString("\n")
  }

  /** PDF string escapes (§7.3.4.2): \n \r \t \b \f \( \) \\ \ddd. */
  private def unescape(s: String): String = {
    val b = new StringBuilder
    var i = 0
    while (i < s.length) {
      val c = s.charAt(i)
      if (c == '\\' && i + 1 < s.length) {
        s.charAt(i + 1) match {
          case 'n' => b.append('\n'); i += 2
          case 'r' => b.append('\r'); i += 2
          case 't' => b.append('\t'); i += 2
          case 'b' => b.append('\b'); i += 2
          case 'f' => b.append('\f'); i += 2
          case d if d >= '0' && d <= '7' =>
            val oct = s.substring(i + 1, math.min(i + 4, s.length)).takeWhile(ch => ch >= '0' && ch <= '7')
            b.append(Integer.parseInt(oct, 8).toChar)
            i += 1 + oct.length
          case other => b.append(other); i += 2
        }
      } else { b.append(c); i += 1 }
    }
    b.toString
  }
}

/** [[DocAiBackend]] that recognizes PDF bytes in `parse` and harvests
  * their text via [[PdfText]]; every other call — and non-PDF content —
  * delegates to the wrapped backend. The deterministic backend stays
  * the oracle-facing default in [[AiFunctions]]; wire this one in for
  * stages that hold real PDFs.
  */
final class PdfAwareBackend(inner: DocAiBackend = DeterministicLocalBackend)
    extends DocAiBackend {
  override def answer(text: String, question: String): String = inner.answer(text, question)
  override def answerAll(text: String, prompts: Map[String, String]): Map[String, String] =
    inner.answerAll(text, prompts)
  override def classify(text: String): String = inner.classify(text)
  override def complete(model: String, prompt: String): String = inner.complete(model, prompt)
  override def concurrency: Int = inner.concurrency
  override def parse(content: Array[Byte]): String =
    if (PdfText.looksLikePdf(content)) {
      val t = PdfText.extract(content)
      if (t.nonEmpty) t else inner.parse(content)
    } else inner.parse(content)
}
