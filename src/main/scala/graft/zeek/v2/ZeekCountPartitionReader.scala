package graft.zeek.v2

import org.apache.hadoop.conf.Configuration
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.connector.read.PartitionReader
import org.apache.spark.sql.types.StructType

import graft.zeek._

/** Reader for a pushed COUNT(*): counts the data lines of its
  * partition's files (blank lines and directives skipped — identical line
  * semantics to the data readers, via the same [[ZeekLineScanner]]) and
  * emits ONE row with their sum. Strict-mode schema validation and the
  * ignore_file_errors policy behave exactly like a data scan: a
  * mismatched file still errors a COUNT(*), and an ignored bad file
  * contributes zero. Compressed files are read ahead when the partition
  * says so ([[ZeekInputPartition]]). */
final class ZeekCountPartitionReader(
    specs: Seq[ZeekFileSpec],
    readAhead: Boolean,
    boundHeader: ZeekHeader,
    dataSchema: StructType,
    opts: ZeekOptions,
    conf: Configuration,
    nCounts: Int) extends PartitionReader[InternalRow] {

  private var done = false
  private var row: InternalRow = _

  override def next(): Boolean = {
    if (done) return false
    done = true
    var n = 0L
    specs.foreach { spec =>
      // an empty projection: the per-file schema check only
      ZeekLineScanner.open(spec, boundHeader, dataSchema, opts, new StructType(), conf, readAhead)
        .foreach { case (scanner, _) =>
          try while (scanner.nextDataLine()) n += 1
          finally scanner.close()
        }
    }
    row = new GenericInternalRow(Array.fill[Any](nCounts)(n))
    true
  }

  override def get(): InternalRow = row

  override def close(): Unit = ()
}
