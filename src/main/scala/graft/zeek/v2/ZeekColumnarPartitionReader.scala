package graft.zeek.v2

import org.apache.hadoop.conf.Configuration
import org.apache.spark.sql.connector.read.PartitionReader
import org.apache.spark.sql.execution.vectorized.{OnHeapColumnVector, WritableColumnVector}
import org.apache.spark.sql.sources.Filter
import org.apache.spark.sql.types._
import org.apache.spark.sql.vectorized.{ColumnarBatch, ColumnVector}

import graft.zeek._

/** The reader behind every Zeek data scan. It reads its partition's files
  * in order, moving to the next when one ends. Each file is opened (+
  * decompressed), its header parsed and validated ([[ZeekLineScanner.open]]),
  * then read in a single-pass tokenize / filter / write loop (reference:
  * ZeekScanExecute, src/zeek_scanner.cpp:670-900). Rows are parsed
  * straight into `OnHeapColumnVector`s, reused across batches and files,
  * and handed to Spark as [[ColumnarBatch]]es of up to 4096 rows, as the
  * reference fills vectorized DuckDB chunks; one batch may hold rows of
  * several files.
  *
  * Why: Spark's row-based DSv2 path costs two virtual calls plus an
  * UnsafeRow copy per row; at Zeek-scan rates (millions of rows/s/core)
  * that overhead rivals the parse itself. Batching amortizes it 4096×,
  * and Spark's whole-stage codegen consumes the vectors directly.
  * A scan with no projected column degenerates to zero-column batches
  * that only carry a row count.
  *
  * Per file: the projection, the `filename` value, the compiled pushed
  * filters and the ignore_file_errors policy — a bad file is skipped and
  * the partition's other files are still read. Pushed filters run
  * before any vector is written: the compiled predicate
  * ([[ZeekFilterEval]]) decodes only the filter columns' token slices,
  * and only a passing row is parsed into the vectors
  * (src/zeek_scanner.cpp:718-771). A rejected row leaves nothing behind
  * in a vector (a string written to an `OnHeapColumnVector` is not
  * reclaimed until its `reset()`). A pushed LIMIT counts the partition's
  * passing rows, as a LocalLimit does. List columns fill the array
  * vector's child with one run of elements per row.
  *
  * When the scan has fewer partitions than task slots, the partition says
  * `readAhead` ([[ZeekPlanning]]) and a gzip or zstd file inflates on a
  * helper thread while this one tokenizes and parses, so a single
  * compressed log costs about its parse instead of inflate plus parse.
  */
final class ZeekColumnarPartitionReader(
    specs: Seq[ZeekFileSpec],
    readAhead: Boolean,
    boundHeader: ZeekHeader,
    dataSchema: StructType,
    opts: ZeekOptions,
    required: StructType,
    pushed: Array[Filter],
    conf: Configuration,
    limit: Int = -1) extends PartitionReader[ColumnarBatch] {

  private val BatchSize = 4096

  private val files = specs.iterator
  /** the open file; null between files */
  private var scanner: ZeekLineScanner = _
  private var proj: ZeekProjection = _
  private var cells: ZeekCells = _
  private var emitted = 0L

  private val nReq = required.length
  private val reqIndex = required.fieldNames.zipWithIndex.toMap

  private val vectors: Array[OnHeapColumnVector] =
    required.fields.map(f => new OnHeapColumnVector(BatchSize, f.dataType))
  private val batch = new ColumnarBatch(vectors.map(v => v: ColumnVector))
  /** elements written this batch into each list column's child vector */
  private val childUsed = new Array[Int](nReq)

  /** the pushed filters compiled against the open file; null when none */
  private var predicate: ZeekFilterEval.Pred = _

  /** Open the next file that yields data; false when none is left. */
  private def nextFile(): Boolean = {
    while (files.hasNext) {
      val spec = files.next()
      ZeekLineScanner.open(spec, boundHeader, dataSchema, opts, required, conf, readAhead) match {
        case Some((s, p)) =>
          scanner = s
          proj = p
          cells = p.cells
          if (pushed.nonEmpty)
            predicate = ZeekFilterEval.compileAll(pushed.toSeq, name =>
              reqIndex.get(name).filter(p.listParsers(_) == null)
                .map(c => ZeekFilterEval.Col(p.srcIdx(c), p.typeCodes(c))))
          return true
        case None =>
      }
    }
    false
  }

  override def next(): Boolean = {
    var i = 0
    while (i < nReq) { vectors(i).reset(); childUsed(i) = 0; i += 1 }
    var n = 0
    while (n < BatchSize && (limit < 0 || emitted < limit) &&
        (scanner != null || nextFile())) {
      if (!scanner.nextDataLine()) { scanner.close(); scanner = null }
      else if (nReq == 0 || writeRow(n)) {
        n += 1
        emitted += 1
      }
    }
    batch.setNumRows(n)
    n > 0
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
    if (scanner != null) { scanner.close(); scanner = null }
    batch.close()
  }
}
