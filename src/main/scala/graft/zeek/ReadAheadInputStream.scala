package graft.zeek

import java.io.{IOException, InputStream}
import java.util.concurrent.ArrayBlockingQueue

/** `src` read ahead on one daemon helper thread (`zeek-read-ahead`), so
  * decompressing the next bytes overlaps the consumer's work on the last.
  *
  * The helper fills a ring of [[ReadAheadInputStream.Chunks]] reused
  * chunks of [[ReadAheadInputStream.ChunkBytes]] each (1 MiB per open
  * stream); `read` copies out of the current one. A chunk stays below
  * G1's humongous-object threshold (half a region, 512 KiB at the
  * smallest region size), so the ring is ordinary young-generation
  * garbage when the stream goes.
  *
  * The end of `src` and a failure to read it reach the consumer in stream
  * order, after every byte read before them. A failure is rethrown as an
  * `IOException` with the original message, the original as its cause.
  * An interrupt of the consumer while it waits for the helper propagates
  * as the `InterruptedException` itself. [[close]] stops and joins the
  * helper before closing `src`, so the two threads never use `src` at
  * once. One consumer thread reads and closes it.
  */
final class ReadAheadInputStream(src: InputStream) extends InputStream {
  import ReadAheadInputStream._

  private val free = new ArrayBlockingQueue[Chunk](Chunks)
  private val full = new ArrayBlockingQueue[Chunk](Chunks)
  (1 to Chunks).foreach(_ => free.add(new Chunk))
  /** the chunk `read` copies from; null before the first and while waiting */
  private var cur: Chunk = _
  private var pos = 0
  private var closed = false

  private val helper = new Thread(() => fill(), ThreadName)
  helper.setDaemon(true)
  helper.start()

  /** The helper: fill a free chunk, hand it over, until the end of `src`,
    * a failure, or an interrupt from [[close]]. */
  private def fill(): Unit =
    try {
      var last = false
      while (!last) {
        val c = free.take()
        c.len = 0
        try {
          var n = 0
          while (n >= 0 && c.len < c.buf.length) {
            n = src.read(c.buf, c.len, c.buf.length - c.len)
            if (n > 0) c.len += n
          }
          c.eof = n < 0
        } catch { case t: Throwable => c.error = t }
        last = c.eof || c.error != null
        full.put(c)
      }
    } catch { case _: InterruptedException => () } // closed

  override def read(b: Array[Byte], off: Int, len: Int): Int = {
    if (closed) throw new IOException("Stream closed") // the helper is gone: never wait for it
    if (len == 0) return 0
    while (cur == null || pos == cur.len) {
      if (cur != null) {
        if (cur.error != null) throw new IOException(cur.error.getMessage, cur.error)
        if (cur.eof) return -1
        free.add(cur)
        cur = null
      }
      cur = full.take()
      pos = 0
    }
    val n = math.min(len, cur.len - pos)
    System.arraycopy(cur.buf, pos, b, off, n)
    pos += n
    n
  }

  override def read(): Int = {
    val one = new Array[Byte](1)
    if (read(one, 0, 1) < 0) -1 else one(0) & 0xff
  }

  /** Stops the helper, waits for it to end, then closes `src`. An
    * interrupt that arrives meanwhile is kept for the caller. */
  override def close(): Unit = if (!closed) {
    closed = true
    helper.interrupt()
    var interrupted = false
    while (helper.isAlive)
      try helper.join() catch { case _: InterruptedException => interrupted = true }
    if (interrupted) Thread.currentThread().interrupt()
    src.close()
  }
}

object ReadAheadInputStream {
  /** The helper threads' name: a live one is an open read-ahead stream. */
  val ThreadName = "zeek-read-ahead"
  val ChunkBytes: Int = 256 * 1024
  val Chunks = 4

  private final class Chunk {
    val buf = new Array[Byte](ChunkBytes)
    var len = 0
    var eof = false
    var error: Throwable = _
  }
}
