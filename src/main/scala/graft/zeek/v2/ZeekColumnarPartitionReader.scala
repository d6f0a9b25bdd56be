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
  * Pushed filters run before any vector is written: the compiled
  * predicate ([[ZeekFilterEval]]) decodes only the filter columns' token
  * slices, and only a passing row is parsed into the vectors
  * (src/zeek_scanner.cpp:718-771). A rejected row leaves nothing behind
  * in a vector (a string written to an `OnHeapColumnVector` is not
  * reclaimed until its `reset()`). A pushed LIMIT counts passing rows.
  * List columns fill the array vector's child with one run of elements
  * per row.
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
  private var cells: ZeekCells = _
  private var initialized = false
  private var finished = false
  private var emitted = 0L

  private val nReq = required.length

  private var vectors: Array[OnHeapColumnVector] = _
  private var batch: ColumnarBatch = _
  /** elements written this batch into each list column's child vector */
  private val childUsed = new Array[Int](nReq)

  /** the pushed filters compiled against this file; null when none */
  private var predicate: ZeekFilterEval.Pred = _

  private def init(): Unit = {
    if (!scanner.init()) { finished = true; return }
    proj = new ZeekProjection(spec, boundHeader, dataSchema, opts, required,
      scanner.fileHeader)
    cells = proj.cells
    vectors = required.fields.map(f => new OnHeapColumnVector(BatchSize, f.dataType))
    batch = new ColumnarBatch(vectors.map(v => v: ColumnVector))

    if (pushed.nonEmpty) {
      val reqIndex = required.fieldNames.zipWithIndex.toMap
      predicate = ZeekFilterEval.compileAll(pushed.toSeq, name =>
        reqIndex.get(name).filter(proj.listParsers(_) == null)
          .map(c => ZeekFilterEval.Col(proj.srcIdx(c), proj.typeCodes(c))))
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

  /** Tokenize the scanner's current line, test the pushed predicate on
    * its token slices and, only if the row passes, parse every projected
    * column into row slot `rowId`. Returns false for a dropped row. */
  private def writeRow(rowId: Int): Boolean = {
    val buf = scanner.buf
    val nTok = proj.tokenize(buf, scanner.lineStart, scanner.lineEnd)
    if (predicate != null && !predicate(cells, buf, nTok)) return false
    val srcIdx = proj.srcIdx
    val tokStart = proj.tokStart
    val tokEnd = proj.tokEnd
    var c = 0
    while (c < nReq) {
      val v = vectors(c)
      val si = srcIdx(c)
      if (si == -2) v.putByteArray(rowId, cells.filename, 0, cells.filename.length)
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

  /** One cell: the marker check, then the type's parser (NULL on
    * malformed input). */
  private def putCell(v: WritableColumnVector, rowId: Int, tc: Int,
      buf: Array[Byte], s: Int, e: Int): Unit =
    if (cells.isMarker(buf, s, e)) v.putNull(rowId)
    else tc match {
      case ZeekTypes.TcString => v.putByteArray(rowId, buf, s, e - s)
      case ZeekTypes.TcBool   => v.putBoolean(rowId, cells.prim.bool(buf, s, e))
      case ZeekTypes.TcDouble =>
        val x = cells.prim.dbl(buf, s, e)
        if (cells.prim.lastNull) v.putNull(rowId) else v.putDouble(rowId, x)
      case _ =>
        val x = cells.prim.long(tc, buf, s, e)
        if (cells.prim.lastNull) v.putNull(rowId)
        else if (tc == ZeekTypes.TcPort) v.putInt(rowId, x.toInt)
        else v.putLong(rowId, x)
    }

  override def get(): ColumnarBatch = batch

  override def close(): Unit = {
    scanner.close()
    if (batch != null) { batch.close(); batch = null }
  }
}
