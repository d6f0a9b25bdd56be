package graft.zeek

import org.apache.spark.sql.types._

/** Zeek → Spark type mapping and per-type value parsers.
  *
  * Mapping follows SURVEY.md §1.4 (reference: src/zeek_reader.cpp:129-163):
  * `time` → TimestampType (epoch-seconds text → micros with the reference's
  * double-multiply truncation), `interval` → DayTimeIntervalType (orderable,
  * Parquet-roundtrippable), `count`/`int` → LongType, `port` → IntegerType,
  * `addr`/`subnet` → StringType (+ inet function library; Spark has no INET
  * type), `vector[T]`/`set[T]` → ArrayType, unknown → StringType.
  *
  * All parsers operate on byte slices of the raw line — no intermediate
  * String allocation on the hot path except for doubles (which delegate to
  * java.lang.Double for exact decimal-to-binary conversion).
  */
object ZeekTypes {

  /** Metadata key carrying the original Zeek type of a column (lets the
    * inet function library and tests identify addr/subnet columns). */
  val ZeekTypeMeta = "zeek.type"

  /** Metadata key carrying a column's ORIGINAL Zeek field name when
    * `replace_periods` renamed it (id.orig_h → id_orig_h) — the writer
    * restores it so a read→write round trip preserves `#fields`. */
  val ZeekNameMeta = "zeek.name"

  def toSpark(zeekType: String): DataType = zeekType match {
    case "time"           => TimestampType
    case "interval"       => DayTimeIntervalType(DayTimeIntervalType.DAY, DayTimeIntervalType.SECOND)
    case "string" | "enum" => StringType
    case "addr" | "subnet" => StringType
    case "port"           => IntegerType
    case "count"          => LongType
    case "int"            => LongType
    case "bool"           => BooleanType
    case "double"         => DoubleType
    case t if t.startsWith("vector[") || t.startsWith("set[") =>
      ArrayType(toSpark(innerType(t)), containsNull = true)
    case _                => StringType // unknown Zeek types fall back to text
  }

  /** Extract T from vector[T] / set[T]; malformed brackets default to
    * string (reference: src/zeek_reader.cpp:120-127). */
  def innerType(t: String): String = {
    val open = t.indexOf('[')
    val close = t.lastIndexOf(']')
    if (open >= 0 && close > open) t.substring(open + 1, close) else "string"
  }

  private val pow10: Array[Double] = Array.tabulate(19)(i => math.pow(10, i))

  /** Decimal text → double without allocating a String for the common
    * `[-]digits[.digits]` shape: mantissa (≤ 2^53, exact as double) over a
    * power of ten is a single correctly-rounded division, bit-identical to
    * Double.parseDouble. Exponents / huge mantissas / specials fall back
    * to the JDK parser. */
  private def toDouble(b: Array[Byte], s0: Int, e: Int): Double = {
    if (s0 >= e) return Double.NaN
    var i = s0
    var neg = false
    b(i) match {
      case '-' => neg = true; i += 1
      case '+' => i += 1
      case _   =>
    }
    var mantissa = 0L
    var scale = 0
    var digits = 0
    var seenDot = false
    var fastOk = i < e
    while (i < e && fastOk) {
      val c = b(i)
      if (c >= '0' && c <= '9') {
        val next = mantissa * 10 + (c - '0')
        // stay within the exact-double mantissa range (2^53); a Zeek
        // timestamp "1768539602.060078" is 16 digits and still fits
        if (digits >= 16 || next > (1L << 53)) fastOk = false
        else {
          mantissa = next
          digits += 1
          if (seenDot) scale += 1
        }
      } else if (c == '.' && !seenDot) seenDot = true
      else fastOk = false
      i += 1
    }
    if (fastOk && digits > 0) {
      val d = mantissa.toDouble / pow10(scale)
      if (neg) -d else d
    } else {
      try java.lang.Double.parseDouble(new String(b, s0, e - s0, java.nio.charset.StandardCharsets.US_ASCII))
      catch { case _: NumberFormatException => Double.NaN }
    }
  }

  /** Parser selector per column: one code per Zeek scalar type, a list
    * column carrying its element's. */
  final val TcString = 0
  final val TcCount = 1
  final val TcInt = 2
  final val TcPort = 3
  final val TcTime = 4 // time + interval: both epoch/interval micros as long
  final val TcBool = 5
  final val TcDouble = 6

  def typeCodeFor(zeekType: String): Int = zeekType match {
    case "time" | "interval" => TcTime
    case "port"              => TcPort
    case "count"             => TcCount
    case "int"               => TcInt
    case "bool"              => TcBool
    case "double"            => TcDouble
    case _                   => TcString // string, enum, addr, subnet, unknown
  }

  /** The one parser per Zeek type, over byte slices of the raw line. Each
    * returns the primitive and reports NULL through `lastNull`: malformed
    * input is NULL, never an error (TryCast semantics; reference:
    * src/zeek_scanner.cpp:806-884). A string needs no parser — its bytes
    * are the value. The column vectors, the pushed-filter leaves
    * ([[graft.zeek.v2.ZeekFilterEval]]) and the boxed `parseCol` all
    * decode through it. One instance per reader — single-threaded by
    * construction. The marker check comes first and is the caller's. */
  final class PrimParsers {
    var lastNull: Boolean = false

    /** The long-valued types by code:
      *  - `count` is unsigned 64-bit in the reference; values above
      *    Long.MaxValue do not fit Spark's LongType → NULL (documented
      *    deviation, SURVEY.md §1.4);
      *  - `int` is signed 64-bit;
      *  - `port` is unsigned 16-bit, out of range → NULL (the reference's
      *    TryCast to USMALLINT, SURVEY.md §7.4.3); it fits an Int;
      *  - `time`/`interval` are seconds as decimal text → micros, truncated
      *    through the reference's double multiply
      *    (src/zeek_scanner.cpp:23-31). */
    def long(tc: Int, b: Array[Byte], s: Int, e: Int): Long = tc match {
      case TcCount => longIn(b, s, e, 0L, Long.MaxValue)
      case TcInt   => longIn(b, s, e, Long.MinValue, Long.MaxValue)
      case TcPort  => longIn(b, s, e, 0L, 65535L)
      case TcTime  => timeMicros(b, s, e)
    }

    /** Signed decimal with a range check: rejects empty, overflow and
      * trailing garbage. */
    private def longIn(b: Array[Byte], s: Int, e: Int, lo: Long, hi: Long): Long = {
      lastNull = true
      var i = s
      if (i >= e) return 0L
      var neg = false
      b(i) match {
        case '-' => neg = true; i += 1
        case '+' => i += 1
        case _   =>
      }
      if (i >= e) return 0L
      var v = 0L
      while (i < e) {
        val c = b(i)
        if (c < '0' || c > '9') return 0L
        val d = c - '0'
        if (v > (Long.MaxValue - d) / 10) return 0L // overflow
        v = v * 10 + d
        i += 1
      }
      val r = if (neg) -v else v
      if (r < lo || r > hi) return 0L
      lastNull = false
      r
    }

    private def timeMicros(b: Array[Byte], s: Int, e: Int): Long = {
      val d = dbl(b, s, e)
      if (lastNull) 0L else (d * 1e6).toLong
    }

    def dbl(b: Array[Byte], s: Int, e: Int): Double = {
      val d = toDouble(b, s, e)
      if (d.isNaN && !isLiteralNaN(b, s, e)) { lastNull = true; 0.0 }
      else { lastNull = false; d }
    }

    /** Exactly `T` or `true` → true, anything else → false — NOT a cast,
      * and never NULL (reference: src/zeek_scanner.cpp:163-166,838-841). */
    def bool(b: Array[Byte], s: Int, e: Int): Boolean = {
      lastNull = false
      val len = e - s
      (len == 1 && b(s) == 'T') ||
        (len == 4 && b(s) == 't' && b(s + 1) == 'r' && b(s + 2) == 'u' && b(s + 3) == 'e')
    }
  }

  private def isLiteralNaN(b: Array[Byte], s: Int, e: Int): Boolean =
    e - s == 3 && (b(s) == 'n' || b(s) == 'N') &&
      (b(s + 1) == 'a' || b(s + 1) == 'A') && (b(s + 2) == 'n' || b(s + 2) == 'N')

  /** Compare a byte slice against a marker string (ASCII). */
  def sliceEquals(b: Array[Byte], s: Int, e: Int, marker: Array[Byte]): Boolean = {
    val len = e - s
    if (len != marker.length) return false
    var i = 0
    while (i < len) {
      if (b(s + i) != marker(i)) return false
      i += 1
    }
    true
  }

  /** Split a list cell (vector[T]/set[T]) on the set separator: an unset
    * or empty cell has no elements (an EMPTY array, not NULL); each
    * element is then one cell for the element type's parser, so a marker
    * element is a NULL element; sets are NOT deduplicated (reference:
    * src/zeek_scanner.cpp:332-437, test zeek.test:49-71). One instance
    * per reader: [[split]] reuses its element-bound arrays. */
  final class ListParser(setSepIn: Array[Byte], unset: Array[Byte], empty: Array[Byte]) {
    // an empty #set_separator would make matchesSep trivially true while
    // `start` never advances — infinite loop on any cell containing the
    // fallback char; normalize to the Zeek default "," instead
    private val setSep: Array[Byte] =
      if (setSepIn.isEmpty) Array(','.toByte) else setSepIn
    /** Element k of the last [[split]] spans [elemStart(k), elemEnd(k)). */
    var elemStart = new Array[Int](8)
    var elemEnd = new Array[Int](8)

    /** Split a list cell into [[elemStart]]/[[elemEnd]]; returns the
      * element count (0 for an unset or empty cell). */
    def split(b: Array[Byte], s: Int, e: Int): Int = {
      if (s >= e || sliceEquals(b, s, e, unset) || sliceEquals(b, s, e, empty)) return 0
      var n = 0
      var start = s
      var i = s
      val sep0 = setSep(0)
      while (i <= e) {
        val atSep = i < e && b(i) == sep0 && matchesSep(b, i, e)
        if (i == e || atSep) {
          if (n == elemStart.length) {
            elemStart = java.util.Arrays.copyOf(elemStart, n * 2)
            elemEnd = java.util.Arrays.copyOf(elemEnd, n * 2)
          }
          elemStart(n) = start
          elemEnd(n) = i
          n += 1
          start = i + setSep.length
          i = start
        } else i += 1
      }
      n
    }

    private def matchesSep(b: Array[Byte], i: Int, e: Int): Boolean = {
      if (i + setSep.length > e) return false
      var k = 0
      while (k < setSep.length) {
        if (b(i + k) != setSep(k)) return false
        k += 1
      }
      true
    }
  }
}
