package graft.zeek.v2

import org.apache.hadoop.conf.Configuration
import org.apache.spark.sql.connector.read.PartitionReader
import org.apache.spark.sql.execution.vectorized.{OnHeapColumnVector, WritableColumnVector}
import org.apache.spark.sql.sources.Filter
import org.apache.spark.sql.types._
import org.apache.spark.sql.vectorized.{ColumnarBatch, ColumnVector}

import graft.zeek._

/** Per-file reader behind every Zeek data scan: open (+ decompress), parse
  * and validate the header ([[ZeekLineScanner]]), then a single-pass
  * tokenize / filter / write loop (reference: ZeekScanExecute,
  * src/zeek_scanner.cpp:670-900). Rows are parsed straight into reused
  * `OnHeapColumnVector`s and handed to Spark as [[ColumnarBatch]]es of up
  * to 4096 rows, as the reference fills vectorized DuckDB chunks.
  *
  * Why: Spark's row-based DSv2 path costs two virtual calls plus an
  * UnsafeRow copy per row; at Zeek-scan rates (millions of rows/s/core)
  * that overhead rivals the parse itself. Batching amortizes it 4096×,
  * and Spark's whole-stage codegen consumes the vectors directly.
  * A scan with no projected column degenerates to zero-column batches
  * that only carry a row count.
  *
  * Pushed filters run before any vector is written: only the filter
  * columns are parsed (boxed, through [[ZeekProjection.parseCol]]), the
  * predicate is evaluated, and only a passing row is parsed into the
  * vectors (src/zeek_scanner.cpp:718-771). A pushed LIMIT counts passing
  * rows. List columns fill the array vector's child with one run of
  * elements per row.
  */
final class ZeekColumnarPartitionReader(
    spec: ZeekFileSpec,
    boundHeader: ZeekHeader,
    dataSchema: StructType,
    opts: ZeekOptions,
    required: StructType,
    pushed: Array[Filter],
    conf: Configuration,
    limit: Int = -1) extends PartitionReader[ColumnarBatch] {

  private val BatchSize = 4096

  private val scanner = new ZeekLineScanner(spec, opts, conf)
  private var proj: ZeekProjection = _
  private var initialized = false
  private var finished = false
  private var emitted = 0L

  private val nReq = required.length
  private val prim = new ZeekTypes.PrimParsers

  private var vectors: Array[OnHeapColumnVector] = _
  private var batch: ColumnarBatch = _
  private var filenameBytes: Array[Byte] = _
  /** elements written this batch into each list column's child vector */
  private val childUsed = new Array[Int](nReq)

  // filter plan: the predicate reads `filterValues`, in which only the
  // filter columns (`filterCols`) are parsed
  private var predicate: ZeekFilterEval.RowPred = _
  private var filterCols: Array[Int] = Array.emptyIntArray
  private val filterValues = new Array[Any](nReq)

  private def init(): Unit = {
    if (!scanner.init()) { finished = true; return }
    proj = new ZeekProjection(spec, boundHeader, dataSchema, opts, required,
      scanner.fileHeader)
    vectors = required.fields.map(f => new OnHeapColumnVector(BatchSize, f.dataType))
    batch = new ColumnarBatch(vectors.map(v => v: ColumnVector))
    filenameBytes = proj.filenameValue.getBytes

    val supported = pushed.filter(f => ZeekFilterEval.referencedIfSupported(f).isDefined)
    if (supported.nonEmpty) {
      val reqIndex = required.fieldNames.zipWithIndex.toMap
      val dts = required.fields.map(f => f.name -> f.dataType).toMap
      val preds = supported.map(ZeekFilterEval.compile(_, reqIndex, dts))
      predicate = row => preds.forall(p => p(row))
      val names = supported.flatMap(f => ZeekFilterEval.referencedIfSupported(f).get).distinct
      filterCols = names.flatMap(reqIndex.get)
    }
  }

  override def next(): Boolean = {
    if (finished) return false
    if (!initialized) {
      initialized = true
      try init()
      catch {
        case e: Exception if opts.ignoreFileErrors =>
          finished = true
          close()
          return false
        case e: ZeekFormatException => throw e
        case e: Exception =>
          throw new ZeekFormatException(s"Failed to read Zeek log '${spec.path}': ${e.getMessage}")
      }
      if (finished) return false
    }
    if (limit >= 0 && emitted >= limit) { finished = true; close(); return false }
    var i = 0
    while (i < nReq) { vectors(i).reset(); childUsed(i) = 0; i += 1 }
    var n = 0
    while (n < BatchSize && (limit < 0 || emitted < limit) && scanner.nextDataLine()) {
      if (nReq == 0 || writeRow(n)) {
        n += 1
        emitted += 1
      }
    }
    if (n == 0) { finished = true; close(); false }
    else { batch.setNumRows(n); true }
  }

  /** Tokenize the scanner's current line, run the pushed predicate over
    * its filter columns and, only if the row passes, parse every projected
    * column into row slot `rowId`. Returns false for a dropped row. */
  private def writeRow(rowId: Int): Boolean = {
    val buf = scanner.buf
    val nTok = proj.tokenize(buf, scanner.lineStart, scanner.lineEnd)
    if (predicate != null) {
      var k = 0
      while (k < filterCols.length) {
        val c = filterCols(k)
        filterValues(c) = proj.parseCol(c, buf, nTok)
        k += 1
      }
      if (!predicate(filterValues)) return false
    }
    val srcIdx = proj.srcIdx
    val tokStart = proj.tokStart
    val tokEnd = proj.tokEnd
    var c = 0
    while (c < nReq) {
      val v = vectors(c)
      val si = srcIdx(c)
      if (si == -2) v.putByteArray(rowId, filenameBytes, 0, filenameBytes.length)
      else if (si < 0 || si >= nTok) v.putNull(rowId)
      else {
        val lp = proj.listParsers(c)
        if (lp == null) putCell(v, rowId, proj.typeCodes(c), buf, tokStart(si), tokEnd(si))
        else putList(v, rowId, c, lp, buf, tokStart(si), tokEnd(si))
      }
      c += 1
    }
    true
  }

  /** One list cell as a run of the child vector: an unset or empty cell
    * is an empty array, and each element goes through [[putCell]], so a
    * marker element is a NULL element and a malformed one parses to NULL
    * ([[ZeekTypes.ListParser]] semantics). */
  private def putList(v: OnHeapColumnVector, rowId: Int, c: Int, lp: ZeekTypes.ListParser,
      buf: Array[Byte], s: Int, e: Int): Unit = {
    val n = lp.split(buf, s, e)
    val child = v.arrayData()
    val off = childUsed(c)
    child.reserve(off + n)
    val tc = proj.typeCodes(c)
    var k = 0
    while (k < n) {
      putCell(child, off + k, tc, buf, lp.elemStart(k), lp.elemEnd(k))
      k += 1
    }
    v.putArray(rowId, off, n)
    childUsed(c) = off + n
  }

  /** One cell: the marker check, then the typed primitive parser (NULL on
    * malformed input) — the semantics of [[ZeekProjection.parseCol]]. */
  private def putCell(v: WritableColumnVector, rowId: Int, tc: Int,
      buf: Array[Byte], s: Int, e: Int): Unit =
    if (ZeekTypes.sliceEquals(buf, s, e, proj.unsetBytes) ||
        ZeekTypes.sliceEquals(buf, s, e, proj.emptyBytes)) v.putNull(rowId)
    else tc match {
      case ZeekTypes.TcString => v.putByteArray(rowId, buf, s, e - s)
      case ZeekTypes.TcCount =>
        val x = prim.longIn(buf, s, e, 0L, Long.MaxValue)
        if (prim.lastNull) v.putNull(rowId) else v.putLong(rowId, x)
      case ZeekTypes.TcInt =>
        val x = prim.longIn(buf, s, e, Long.MinValue, Long.MaxValue)
        if (prim.lastNull) v.putNull(rowId) else v.putLong(rowId, x)
      case ZeekTypes.TcPort =>
        val x = prim.longIn(buf, s, e, 0L, 65535L)
        if (prim.lastNull) v.putNull(rowId) else v.putInt(rowId, x.toInt)
      case ZeekTypes.TcTime =>
        val x = prim.timeMicros(buf, s, e)
        if (prim.lastNull) v.putNull(rowId) else v.putLong(rowId, x)
      case ZeekTypes.TcBool => v.putBoolean(rowId, prim.bool(buf, s, e))
      case ZeekTypes.TcDouble =>
        val x = prim.dbl(buf, s, e)
        if (prim.lastNull) v.putNull(rowId) else v.putDouble(rowId, x)
    }

  override def get(): ColumnarBatch = batch

  override def close(): Unit = {
    scanner.close()
    if (batch != null) { batch.close(); batch = null }
  }
}
