package graft.zeek

import java.io.InputStream

/** Buffered byte-oriented line reader: zero per-line allocation in steady
  * state. After each successful `next()`, the current line (without the
  * trailing `\n`/`\r\n`) is the slice `buf(lineStart until lineEnd)`.
  *
  * Mirrors the reference's hand-rolled reader in spirit (64 KiB buffer,
  * newline scan, lines spanning refills; src/zeek_scanner.cpp:35-76) but
  * as an independent implementation: lines that span a buffer refill are
  * compacted to the buffer head, growing the buffer only if a single line
  * exceeds it.
  */
final class ByteLineReader(in: InputStream, initialSize: Int = 64 * 1024,
    baseOffset: Long = 0L) {
  private var buffer = new Array[Byte](initialSize)
  private var dataStart = 0 // start of unconsumed bytes
  private var dataEnd = 0   // end of valid bytes
  private var scanned = 0   // bytes from dataStart already known newline-free
  private var eof = false
  // stream offset of buffer index 0 (advances on compaction only)
  private var bufBase: Long = baseOffset

  var lineStart: Int = 0
  var lineEnd: Int = 0
  def buf: Array[Byte] = buffer

  /** Absolute stream offset of the current line's first byte (for
    * byte-range splits of uncompressed files). */
  def lineOffset: Long = bufBase + lineStart

  /** True while positioned on a line: after a [[next]] that returned true. */
  var onLine: Boolean = false

  /** Advance to the next line. Returns false at end of stream. */
  def next(): Boolean = {
    onLine = advance()
    onLine
  }

  private def advance(): Boolean = {
    while (true) {
      var i = dataStart + scanned
      while (i < dataEnd && buffer(i) != '\n') i += 1
      if (i < dataEnd) {
        lineStart = dataStart
        lineEnd = if (i > dataStart && buffer(i - 1) == '\r') i - 1 else i
        dataStart = i + 1
        scanned = 0
        return true
      }
      scanned = dataEnd - dataStart
      if (eof) {
        if (scanned > 0) { // final line without trailing newline
          lineStart = dataStart
          lineEnd = if (buffer(dataEnd - 1) == '\r') dataEnd - 1 else dataEnd
          dataStart = dataEnd
          scanned = 0
          return true
        }
        return false
      }
      // compact the partial line to the front; grow only if it fills the buffer
      if (dataStart > 0) {
        System.arraycopy(buffer, dataStart, buffer, 0, scanned)
        bufBase += dataStart
        dataStart = 0
        dataEnd = scanned
      } else if (scanned == buffer.length) {
        val bigger = new Array[Byte](buffer.length * 2)
        System.arraycopy(buffer, 0, bigger, 0, scanned)
        buffer = bigger
      }
      val n = in.read(buffer, dataEnd, buffer.length - dataEnd)
      if (n < 0) eof = true else dataEnd += n
    }
    false // unreachable
  }

  /** Current line as a String (header parsing only — not the hot path). */
  def lineString: String =
    new String(buffer, lineStart, lineEnd - lineStart, java.nio.charset.StandardCharsets.UTF_8)
}
