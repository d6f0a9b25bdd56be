package graft.zeek

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.SpecializedGetters
import org.apache.spark.sql.types._

/** Rendering core of the Zeek TSV sink — the exact inverse of the
  * scanner's header/value parsing (`ZeekHeader`, `ZeekTypes`), so a
  * read→write→read round trip is value-identical. The reference ships no
  * writer (its sqllogictests only read, `test/sql/zeek.test:1-301`);
  * this completes the pair so a pipeline can emit zeek-format logs that
  * zeek-aware tooling — including this source — reads back.
  *
  * Format reproduced from the header grammar the parser accepts
  * (reference: src/zeek_scanner.cpp 150-220 header directives; zeek's
  * own ascii writer layout): `#separator \x09` (space-delimited, since
  * the separator isn't known yet), then tab-delimited `#set_separator`,
  * `#empty_field`, `#unset_field`, `#path`, `#open`, `#fields`,
  * `#types`, rows, `#close`.
  *
  * Zeek types come from the column's `zeek.type` metadata when the frame
  * was read by this source (exact round trip, including addr/subnet/
  * enum/count distinctions Spark types can't express); otherwise from
  * the Spark type. Renamed fields restore their original `#fields` name
  * from `zeek.name` metadata.
  */
object ZeekWriteCore {

  final case class ColumnSpec(name: String, zeekType: String, render: (InternalRow, Int) => String)

  val Sep = '\t'
  val SetSep = ","
  val EmptyField = "(empty)"
  val UnsetField = "-"

  /** Zeek type for a field: `zeek.type` metadata wins, else derived from
    * the Spark type. Unsupported Spark types are rejected up front (at
    * write planning, not mid-task). */
  def zeekTypeOf(f: StructField): String =
    if (f.metadata.contains(ZeekTypes.ZeekTypeMeta)) f.metadata.getString(ZeekTypes.ZeekTypeMeta)
    else f.dataType match {
      case TimestampType                        => "time"
      case _: DayTimeIntervalType               => "interval"
      case LongType | IntegerType | ShortType | ByteType => "int"
      case BooleanType                          => "bool"
      case DoubleType | FloatType               => "double"
      case StringType                           => "string"
      case ArrayType(et, _) =>
        s"vector[${zeekTypeOf(StructField(f.name, et))}]"
      case other =>
        throw new ZeekFormatException(
          s"zeek sink cannot write column '${f.name}' of type ${other.sql}: " +
            "cast it to string/long/int/boolean/double/timestamp/day-time interval/array first")
    }

  /** Original `#fields` name: `zeek.name` metadata wins (restores the
    * pre-`replace_periods` dotted form). */
  def fieldNameOf(f: StructField): String =
    if (f.metadata.contains(ZeekTypes.ZeekNameMeta)) f.metadata.getString(ZeekTypes.ZeekNameMeta)
    else f.name

  // ---- value rendering -------------------------------------------------

  /** Micros → zeek's canonical 6-fractional-digit epoch-seconds text.
    * The scanner (like the reference) computes `(double(text) * 1e6)
    * .toLong`, a truncation that can land 1 µs low for large epochs; when
    * the canonical form would re-parse inexactly, a 7th digit `5` is
    * appended — the value then re-parses to exactly `micros` (error
    * < 0.5 µs before truncation). Re-parse fidelity beats canonical
    * formatting: the sink's contract is a lossless round trip.
    *
    * Below 2^53 µs the canonical text's re-parse is tested without
    * parsing it: `micros.toDouble` is exact there, so `micros / 1e6` is
    * the correctly rounded quotient — the same double `parseDouble`
    * returns for the text. */
  def renderMicros(micros: Long): String = {
    val m = math.abs(micros)
    val frac = (m % 1000000L).toInt
    val sb = new java.lang.StringBuilder(24)
    if (micros < 0) sb.append('-')
    sb.append(m / 1000000L).append('.')
    var p = 100000
    while (p > 0) { sb.append(('0' + frac / p % 10).toChar); p /= 10 }
    val canonical = sb.toString
    def reparse(s: String): Long = (java.lang.Double.parseDouble(s) * 1e6).toLong
    val exact =
      if (m < (1L << 53)) ((micros.toDouble / 1e6) * 1e6).toLong == micros
      else reparse(canonical) == micros
    if (exact) canonical
    else {
      // exact target micros + 0.5: survives the truncation (error < 0.5 µs)
      val compensated = canonical + "5"
      if (reparse(compensated) == micros) compensated
      // beyond ~2^53 µs (year ≈2255) the double grid is coarser than 1 µs
      // and NO text re-parses exactly — the scanner itself cannot
      // represent such times; emit the canonical form, best effort
      else canonical
    }
  }

  def renderDouble(d: Double): String =
    if (d.isNaN) "nan"
    else if (d == Double.PositiveInfinity) "inf"
    else if (d == Double.NegativeInfinity) "-inf"
    else java.lang.Double.toString(d) // shortest exact — reparses bit-identically

  /** Escape bytes that would corrupt the TSV framing (the separator,
    * newlines) the same way zeek's ascii writer does: `\xNN`. The
    * scanner does not unescape (neither does the reference), so strings
    * containing the separator are lossy across the whole ecosystem —
    * but the file stays structurally valid.
    *
    * A scalar whose text is EXACTLY the unset/empty marker would re-read
    * as NULL / empty string — silent value corruption. Zeek's own ascii
    * writer hex-escapes the first character of such collisions; we do
    * the same (`-` → `\x2d`, `(empty)` → `\x28empty)`). The escaped form
    * re-reads as the literal escaped text (no reader in the ecosystem
    * unescapes), so the value's NULL-ness and non-emptiness survive even
    * though the bytes change — the recoverable failure mode, and the one
    * zeek tooling expects. */
  def renderString(s: String): String = {
    if (s.isEmpty) return EmptyField
    if (s == UnsetField) return "\\x2d"
    if (s == EmptyField) return "\\x28" + s.substring(1)
    if (s.indexOf(Sep) < 0 && s.indexOf('\n') < 0 && s.indexOf('\r') < 0) s
    else s.flatMap {
      case Sep  => "\\x09"
      case '\n' => "\\x0a"
      case '\r' => "\\x0d"
      case c    => c.toString
    }
  }

  /** Scalar renderer for one Spark type (null handling done by caller);
    * works over rows and array elements alike. */
  private def scalarRender(dt: DataType): (SpecializedGetters, Int) => String = dt match {
    case TimestampType          => (r, i) => renderMicros(r.getLong(i))
    case _: DayTimeIntervalType => (r, i) => renderMicros(r.getLong(i))
    case LongType               => (r, i) => r.getLong(i).toString
    case IntegerType            => (r, i) => r.getInt(i).toString
    case ShortType              => (r, i) => r.getShort(i).toString
    case ByteType               => (r, i) => r.getByte(i).toString
    case BooleanType            => (r, i) => if (r.getBoolean(i)) "T" else "F"
    case DoubleType             => (r, i) => renderDouble(r.getDouble(i))
    case FloatType              => (r, i) => renderDouble(r.getFloat(i).toDouble)
    case StringType             => (r, i) => renderString(r.getUTF8String(i).toString)
    case other => // incl. nested arrays — zeek containers hold scalars only
      throw new ZeekFormatException(s"zeek sink cannot render type ${other.sql}")
  }

  /** Per-column renderers for a row schema (unset/empty markers applied
    * here; the scanner maps them back to NULL / empty).
    *
    * Known format ambiguity (inherent, shared with the reference): a
    * SINGLETON list whose one element is NULL or the empty string
    * renders as `-` / `(empty)` — byte-identical to the unset/empty
    * markers — so it re-reads as an EMPTY list. No zeek text can
    * represent `[null]`; such values normalize to `[]` across a round
    * trip. Multi-element lists with null/empty elements are exact. */
  def columns(schema: StructType): Array[ColumnSpec] =
    schema.fields.map { f =>
      val zt = zeekTypeOf(f) // validate first: names the COLUMN on failure
      val base: (InternalRow, Int) => String = f.dataType match {
        case ArrayType(et, _) =>
          val one = scalarRender(et)
          (r, i) => {
            val arr = r.getArray(i)
            val n = arr.numElements()
            if (n == 0) EmptyField
            else {
              val sb = new java.lang.StringBuilder
              var j = 0
              while (j < n) {
                if (j > 0) sb.append(SetSep)
                if (arr.isNullAt(j)) sb.append(UnsetField) else sb.append(one(arr, j))
                j += 1
              }
              sb.toString
            }
          }
        case dt =>
          val one = scalarRender(dt)
          (r, i) => one(r, i)
      }
      val render: (InternalRow, Int) => String =
        (r, i) => if (r.isNullAt(i)) UnsetField else base(r, i)
      ColumnSpec(fieldNameOf(f), zt, render)
    }

  /** zeek's `#open`/`#close` timestamp form: YYYY-MM-DD-HH-MM-SS. */
  def stampText(epochMs: Long): String =
    java.time.format.DateTimeFormatter.ofPattern("yyyy-MM-dd-HH-mm-ss")
      .withZone(java.time.ZoneOffset.UTC)
      .format(java.time.Instant.ofEpochMilli(epochMs))

  def header(cols: Array[ColumnSpec], pathName: String, openMs: Long): String = {
    val sb = new java.lang.StringBuilder
    sb.append("#separator \\x09\n")
    sb.append(s"#set_separator$Sep$SetSep\n")
    sb.append(s"#empty_field$Sep$EmptyField\n")
    sb.append(s"#unset_field$Sep$UnsetField\n")
    sb.append(s"#path$Sep$pathName\n")
    sb.append(s"#open$Sep${stampText(openMs)}\n")
    sb.append(cols.map(_.name).mkString(s"#fields$Sep", Sep.toString, "\n"))
    sb.append(cols.map(_.zeekType).mkString(s"#types$Sep", Sep.toString, "\n"))
    sb.toString
  }

  /** One `#name<sep>value` directive line, newline included; the
    * separator is one byte, as the scanner splits on it. */
  def directive(name: String, sep: Char, value: String): Array[Byte] =
    (s"#$name".getBytes(java.nio.charset.StandardCharsets.UTF_8) :+ sep.toByte) ++
      s"$value\n".getBytes(java.nio.charset.StandardCharsets.UTF_8)

  /** One row's cells, separator-joined, without the newline. */
  def renderRow(cols: Array[ColumnSpec], row: InternalRow): String = {
    val sb = new java.lang.StringBuilder
    var i = 0
    while (i < cols.length) {
      if (i > 0) sb.append(Sep)
      sb.append(cols(i).render(row, i))
      i += 1
    }
    sb.toString
  }
}
