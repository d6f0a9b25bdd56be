package graft.zeek.v2

import java.io.InputStream
import java.nio.charset.StandardCharsets

import org.apache.hadoop.conf.Configuration
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

import graft.zeek._

/** Line-level scan state of the Zeek partition readers: open (+
  * decompression sniff) and header read ([[ZeekIO.openFile]],
  * [[ZeekHeader.read]]), ranged-split positioning (a line belongs to the
  * split containing its first byte), blank/mid-file-directive skipping,
  * and the ignore_file_errors semantics for read errors.
  *
  * Callers drive it as: `if (!init()) no data` then `while (nextDataLine())
  * use (buf, lineStart, lineEnd)`. With `readAhead` a compressed file is
  * inflated ahead on a helper thread (see [[ZeekIO.openFile]]).
  */
final class ZeekLineScanner(spec: ZeekFileSpec, opts: ZeekOptions,
    conf: Configuration, readAhead: Boolean = false) {

  var fileHeader: ZeekHeader = _ // valid after init() returns true
  var buf: Array[Byte] = _
  var lineStart = 0
  var lineEnd = 0

  private var in: InputStream = _
  private var lines: ByteLineReader = _
  /** the reader's current line is not yet returned by nextDataLine */
  private var pending = false
  private var rangeEnd: Long = -1L // exclusive; -1 = unbounded
  private var done = false

  /** Open the file and read its header. Returns false when this split
    * yields no data (compressed content under a ranged split, or an empty
    * tail). Header/IO errors propagate to the caller, which applies the
    * ignore_file_errors policy around init(). */
  def init(): Boolean = {
    val f = ZeekIO.openFile(spec.path, conf, readAhead)
    in = f.in
    // extension lied (plain name, compressed content): the start-0 split
    // reads the whole file; this split contributes nothing
    if (spec.start > 0 && f.compressed) { close(); return false }
    lines = new ByteLineReader(in)
    // every split reads and validates the header from offset 0 (a few
    // KB), so an invalid or schema-mismatched file fails every split alike
    fileHeader = ZeekHeader.read(lines)
    if (!f.compressed) rangeEnd = spec.end
    if (spec.start > 0) {
      // a ranged split then starts at start-1 and drops the line that
      // byte ends (the previous split owns it)
      f.raw.seek(spec.start - 1)
      lines = new ByteLineReader(f.raw, baseOffset = spec.start - 1)
      if (!lines.next()) { close(); return false } // empty tail
    } else pending = lines.onLine
    true
  }

  /** Advance to the next data line (blank lines and mid/trailing
    * directives like #close are skipped). Returns false at EOF or when
    * the split's byte range is exhausted. Read errors follow
    * ignore_file_errors: a WARN and the end of this file's rows when
    * set, a failure naming the file otherwise. An interrupt of the task
    * thread is neither: it propagates as it came. */
  def nextDataLine(): Boolean = {
    while (!done) {
      val ok = pending || {
        try lines.next()
        catch {
          case e: InterruptedException => throw e
          case e: Exception if opts.ignoreFileErrors =>
            ZeekIO.warnIgnored(spec.path, e, "stopped reading")
            false
          case e: Exception => throw ZeekIO.readFailure(spec.path, e)
        }
      }
      pending = false
      // a line starting at or past rangeEnd belongs to a later split
      if (!ok || (rangeEnd >= 0 && lines.lineOffset >= rangeEnd)) {
        done = true
        close()
      } else if (lines.lineEnd > lines.lineStart && lines.buf(lines.lineStart) != '#') {
        buf = lines.buf
        lineStart = lines.lineStart
        lineEnd = lines.lineEnd
        return true
      }
    }
    false
  }

  def close(): Unit = {
    if (in != null) {
      try in.close() catch { case _: Exception => }
      in = null
    }
  }
}

object ZeekLineScanner {
  /** Open `spec` for a partition reader: its scanner, positioned before
    * the first data line, and its projection of `required`, which
    * validates the file's header against the bind. None when the file
    * yields no data here — an empty range, or any error under
    * ignore_file_errors (logged), so the reader goes on with its next
    * file. Without that option an error fails the scan naming the file
    * (a partition reads several). An interrupt propagates as it came.
    * `readAhead` is the input partition's ([[ZeekPlanning]]). */
  def open(spec: ZeekFileSpec, boundHeader: ZeekHeader, dataSchema: StructType,
      opts: ZeekOptions, required: StructType, conf: Configuration,
      readAhead: Boolean): Option[(ZeekLineScanner, ZeekProjection)] = {
    val scanner = new ZeekLineScanner(spec, opts, conf, readAhead)
    try {
      if (!scanner.init()) None
      else Some((scanner, new ZeekProjection(spec, boundHeader, dataSchema, opts, required,
        scanner.fileHeader)))
    } catch {
      case e: Exception =>
        scanner.close()
        if (e.isInstanceOf[InterruptedException]) throw e
        if (!opts.ignoreFileErrors) throw ZeekIO.readFailure(spec.path, e)
        ZeekIO.warnIgnored(spec.path, e, "skipped")
        None
    }
  }
}

/** A tokenized line's cells as the vector writes, the pushed-filter leaves
  * and `parseCol` read them: the reused token offsets, the file's NULL
  * markers, the display path that the `filename` column reads, and the
  * one [[ZeekTypes.PrimParsers]] of the reader. */
final class ZeekCells(val tokStart: Array[Int], val tokEnd: Array[Int],
    unset: Array[Byte], empty: Array[Byte], val filename: Array[Byte]) {
  val prim = new ZeekTypes.PrimParsers

  /** The unset (`-`) or empty (`(empty)`) marker: a NULL cell. */
  def isMarker(b: Array[Byte], s: Int, e: Int): Boolean =
    ZeekTypes.sliceEquals(b, s, e, unset) || ZeekTypes.sliceEquals(b, s, e, empty)
}

object ZeekCells {
  /** No tokens: only the `filename` column has a value. */
  def ofPath(displayPath: String): ZeekCells =
    new ZeekCells(Array.emptyIntArray, Array.emptyIntArray, Array.emptyByteArray,
      Array.emptyByteArray, displayPath.getBytes(StandardCharsets.UTF_8))
}

/** Per-column projection plan of the Zeek partition readers: maps each
  * required output column to its file field (strict-mode validation or
  * union-by-name), selects its type code (the [[ZeekTypes.PrimParsers]]
  * parser) and list splitter, and owns the reused token-offset arrays. */
final class ZeekProjection(spec: ZeekFileSpec, boundHeader: ZeekHeader,
    dataSchema: StructType, opts: ZeekOptions, required: StructType,
    fileHeader: ZeekHeader) {

  val nReq: Int = required.length

  // strict-mode per-file validation (src/zeek_scanner.cpp:295-303);
  // union-mode files without a bind-time map (streaming arrivals) get a
  // by-name mapping with type checking instead
  private val colMap: Option[Array[Int]] = spec.colMap.orElse {
    if (opts.unionByName) Some(unionMapByName())
    else {
      boundHeader.diff(fileHeader).foreach { d =>
        throw new ZeekFormatException(
          s"Zeek log schema mismatch: file '${spec.path}' does not match the bound schema: $d")
      }
      None
    }
  }

  val sepByte: Byte = fileHeader.separator.toByte
  val unsetBytes: Array[Byte] = fileHeader.unsetField.getBytes(StandardCharsets.UTF_8)
  val emptyBytes: Array[Byte] = fileHeader.emptyField.getBytes(StandardCharsets.UTF_8)
  val nFileFields: Int = fileHeader.fields.length
  val tokStart = new Array[Int](nFileFields + 1)
  val tokEnd = new Array[Int](nFileFields + 1)
  /** file field index per required column; -1 = NULL, -2 = filename */
  val srcIdx = new Array[Int](nReq)
  val listParsers = new Array[ZeekTypes.ListParser](nReq)
  /** ZeekTypes.Tc* per required column; a list column's is its element's */
  val typeCodes = new Array[Int](nReq)
  val filenameValue: UTF8String = UTF8String.fromString(ZeekIO.displayPath(spec.path))
  val cells = new ZeekCells(tokStart, tokEnd, unsetBytes, emptyBytes, filenameValue.getBytes)

  {
    val dataIndex = dataSchema.fieldNames.zipWithIndex.toMap
    var i = 0
    while (i < nReq) {
      val f = required.fields(i)
      if (opts.filename && f.name == "filename" && !dataIndex.contains("filename")) {
        srcIdx(i) = -2
      } else {
        val di = dataIndex(f.name)
        srcIdx(i) = colMap.map(m => m(di)).getOrElse(di)
        val zt = f.metadata match {
          case m if m.contains(ZeekTypes.ZeekTypeMeta) => m.getString(ZeekTypes.ZeekTypeMeta)
          case _ => dataSchema.fields(di).metadata.getString(ZeekTypes.ZeekTypeMeta)
        }
        f.dataType match {
          case ArrayType(_, _) =>
            val elem = ZeekTypes.innerType(zt)
            listParsers(i) = new ZeekTypes.ListParser(
              fileHeader.setSeparator.getBytes(StandardCharsets.UTF_8), unsetBytes, emptyBytes)
            typeCodes(i) = ZeekTypes.typeCodeFor(elem)
          case _ =>
            typeCodes(i) = ZeekTypes.typeCodeFor(zt)
        }
      }
      i += 1
    }
  }

  /** Tokens needed per line: no reader touches a token past the largest
    * projected file-field index (the vector writes and the pushed-filter
    * leaves both index through srcIdx, and pushed-filter columns are in
    * `required`), so tokenization stops there. On an ultra-wide log
    * with a narrow early projection this skips the tail separator scan of
    * every line — BASELINE.md records the measured gain. Lines SHORTER
    * than the cap keep their semantics: nTok comes back smaller and
    * absent fields stay NULL, exactly as with the full scan. */
  val nTokNeeded: Int = {
    var mx = 0
    var i = 0
    while (i < nReq) {
      if (srcIdx(i) >= mx) mx = srcIdx(i) + 1
      i += 1
    }
    math.min(mx, nFileFields)
  }

  /** Tokenize a line into the reused offset arrays; returns token count
    * (capped at [[nTokNeeded]] — the lazy tail). */
  def tokenize(buf: Array[Byte], ls: Int, le: Int): Int = {
    var nTok = 0
    var start = ls
    var i = ls
    while (i <= le && nTok < nTokNeeded) {
      if (i == le || buf(i) == sepByte) {
        tokStart(nTok) = start
        tokEnd(nTok) = i
        nTok += 1
        start = i + 1
      }
      i += 1
    }
    nTok
  }

  /** Column `c` of the tokenized line as its boxed Catalyst value (NULL
    * when absent from this file, a marker or malformed; a list as
    * `ArrayData`). No reader calls it: the readers write vectors and test
    * filters on the primitives; this is the one-value view of the same
    * parsers. */
  def parseCol(c: Int, buf: Array[Byte], nTok: Int): Any = {
    val si = srcIdx(c)
    if (si == -2) return filenameValue
    if (si < 0 || si >= nTok) return null // absent in this file (union mode) → NULL
    val lp = listParsers(c)
    if (lp == null) boxCell(typeCodes(c), buf, tokStart(si), tokEnd(si))
    else new GenericArrayData(Array.tabulate[Any](lp.split(buf, tokStart(si), tokEnd(si))) { k =>
      boxCell(typeCodes(c), buf, lp.elemStart(k), lp.elemEnd(k))
    })
  }

  private def boxCell(tc: Int, b: Array[Byte], s: Int, e: Int): Any = {
    val prim = cells.prim
    if (cells.isMarker(b, s, e)) null
    else tc match {
      case ZeekTypes.TcString => UTF8String.fromBytes(b, s, e - s)
      case ZeekTypes.TcBool   => prim.bool(b, s, e)
      case ZeekTypes.TcDouble => val x = prim.dbl(b, s, e); if (prim.lastNull) null else x
      case _ => // a port boxes as an Integer: the ascription stops its widening to Long
        val x = prim.long(tc, b, s, e)
        if (prim.lastNull) null else if (tc == ZeekTypes.TcPort) x.toInt: Any else x
    }
  }

  /** Union-mode mapping for a file not seen at bind time: match fields by
    * (renamed) name; a shared name must carry the same Zeek type as the
    * bound schema; unknown extra fields are ignored, absent → NULL. */
  private def unionMapByName(): Array[Int] = {
    def rename(n: String) = if (opts.replacePeriods) n.replace('.', '_') else n
    val filePos = fileHeader.fields.indices.map(i => rename(fileHeader.fields(i)) -> i).toMap
    dataSchema.fields.map { f =>
      filePos.get(f.name) match {
        case Some(i) =>
          val boundType = f.metadata.getString(ZeekTypes.ZeekTypeMeta)
          val fileType = fileHeader.types(i)
          if (boundType != fileType)
            throw new ZeekFormatException(
              s"union_by_name type conflict: field '${f.name}' has type '$boundType' in the bound schema but type '$fileType' in file '${spec.path}'")
          i
        case None => -1
      }
    }
  }
}
