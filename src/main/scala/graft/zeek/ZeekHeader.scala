package graft.zeek

/** Error raised for malformed Zeek logs / schema mismatches. Message
  * fragments intentionally mirror the reference extension's errors
  * (reference: test/sql/zeek.test:226-242 greps on substrings). */
class ZeekFormatException(msg: String) extends RuntimeException(msg)

/** Parsed Zeek log header: lexical syntax + column names/types.
  *
  * Zeek TSV logs are self-describing: `#`-prefixed directive lines carry
  * the separator characters, NULL markers, and the `#fields`/`#types`
  * schema (reference: src/zeek_reader.cpp:50-118, README.md:139-154).
  */
final case class ZeekHeader(
    separator: Char,
    setSeparator: String,
    emptyField: String,
    unsetField: String,
    path: Option[String],
    open: Option[String],
    fields: IndexedSeq[String],
    types: IndexedSeq[String]) {

  /** Strict-mode schema identity: field names in order, types in order,
    * and the four lexical-syntax settings; `#path`/`#open` deliberately
    * ignored (reference: src/zeek_reader.cpp:165-205). Returns a
    * human-readable description of the first difference, or None. */
  def diff(other: ZeekHeader): Option[String] = {
    if (fields.length != other.fields.length)
      Some(s"different field count (${fields.length} vs ${other.fields.length})")
    else if (separator != other.separator) Some("different separator")
    else if (setSeparator != other.setSeparator) Some("different set_separator")
    else if (emptyField != other.emptyField) Some("different empty_field")
    else if (unsetField != other.unsetField) Some("different unset_field")
    else {
      var i = 0
      while (i < fields.length) {
        if (fields(i) != other.fields(i))
          return Some(s"field $i differs ('${fields(i)}' vs '${other.fields(i)}')")
        if (types(i) != other.types(i))
          return Some(s"type for field '${fields(i)}' differs ('${types(i)}' vs '${other.types(i)}')")
        i += 1
      }
      None
    }
  }
}

object ZeekHeader {
  val Default: ZeekHeader = ZeekHeader('\t', ",", "(empty)", "-", None, None,
    Vector.empty, Vector.empty)

  /** Decode a separator directive value: `\xNN` hex escapes plus `\t`,
    * `\n`, `\\`; the first decoded character is used (reference:
    * src/zeek_reader.cpp:7-31). */
  def unescapeSeparator(s: String): Char = {
    if (s.isEmpty) return '\t'
    if (s.charAt(0) != '\\' || s.length == 1) return s.charAt(0)
    s.charAt(1) match {
      case 'x' | 'X' if s.length >= 4 =>
        try Integer.parseInt(s.substring(2, 4), 16).toChar
        catch { case _: NumberFormatException => s.charAt(0) }
      case 't'  => '\t'
      case 'n'  => '\n'
      case '\\' => '\\'
      case c    => c
    }
  }

  /** Read the header directives from `lines`, leaving the reader on the
    * first data line ([[ByteLineReader.onLine]]), or past the end when the
    * file has none. Blank lines before the data are skipped and unknown
    * directives ignored (reference: src/zeek_reader.cpp:50-118). Throws
    * ZeekFormatException if `#fields`/`#types` are missing or their
    * counts mismatch — which also covers non-Zeek input (e.g. a fake gzip
    * payload or an empty file). `onDirective` sees the reader on each
    * directive line before it is applied. */
  def read(lines: ByteLineReader, onDirective: ByteLineReader => Unit = _ => ()): ZeekHeader = {
    var h = Default
    while (lines.next() && (lines.lineEnd == lines.lineStart || lines.buf(lines.lineStart) == '#'))
      if (lines.lineEnd > lines.lineStart) {
        onDirective(lines)
        h = directive(h, lines.lineString)
      }
    if (h.fields.isEmpty)
      throw new ZeekFormatException("not a valid Zeek log file: missing #fields directive")
    if (h.types.isEmpty)
      throw new ZeekFormatException("not a valid Zeek log file: missing #types directive")
    if (h.fields.length != h.types.length)
      throw new ZeekFormatException(
        s"invalid Zeek header: #fields has ${h.fields.length} entries but #types has ${h.types.length}")
    h
  }

  /** `h` with one `#` directive line applied. */
  private def directive(h: ZeekHeader, line: String): ZeekHeader =
    if (line.startsWith("#separator")) {
      // the separator directive is itself delimited by a single space,
      // since the real separator is not yet known (drop exactly one so a
      // literal-space separator survives)
      h.copy(separator = unescapeSeparator(line.substring("#separator".length).stripPrefix(" ")))
    } else {
      val parts = splitOn(line, h.separator)
      def value: String = if (parts.length > 1) parts(1) else ""
      parts.head match {
        case "#set_separator" => h.copy(setSeparator = value)
        case "#empty_field"   => h.copy(emptyField = value)
        case "#unset_field"   => h.copy(unsetField = value)
        case "#path"          => h.copy(path = Some(value))
        case "#open"          => h.copy(open = Some(value))
        case "#fields"        => h.copy(fields = parts.tail.toVector)
        case "#types"         => h.copy(types = parts.tail.toVector)
        case _                => h // #close, unknown: ignore
      }
    }

  private def splitOn(s: String, sep: Char): Array[String] = {
    val out = scala.collection.mutable.ArrayBuffer.empty[String]
    var start = 0
    var i = 0
    while (i < s.length) {
      if (s.charAt(i) == sep) { out += s.substring(start, i); start = i + 1 }
      i += 1
    }
    out += s.substring(start)
    out.toArray
  }
}
