package graft.zeek

import java.io.{BufferedInputStream, InputStream}
import java.util.zip.GZIPInputStream

import com.github.luben.zstd.ZstdInputStream
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FSDataInputStream, Path}

/** File access + compression auto-detection for Zeek logs.
  *
  * The reference opens files with content-based AUTO_DETECT
  * (src/zeek_scanner.cpp:261-262; gzip + zstd per README.md:48-52). We
  * sniff magic bytes — so a mis-named plain file still reads, and a fake
  * `.gz` full of garbage falls through to the header parser, which rejects
  * it (matching the reference's error path for data/error_test/fake_gzip).
  */
object ZeekIO {
  private val log = org.slf4j.LoggerFactory.getLogger(getClass)

  /** The one WARN line a file that ignore_file_errors lets a read pass over
    * leaves: the file, what the read did about it, and the cause. */
  def warnIgnored(path: String, cause: Throwable, action: String): Unit =
    log.warn(s"ignore_file_errors: $action Zeek log '$path': ${cause.getMessage}")

  /** The error a failed read of the file at `path` raises: `e` itself
    * when it already names the file, else a wrap that does. */
  def readFailure(path: String, e: Exception): ZeekFormatException = e match {
    case z: ZeekFormatException if z.getMessage.contains(path) => z
    case _ => new ZeekFormatException(s"Failed to read Zeek log '$path': ${e.getMessage}")
  }

  /** An open Zeek file. `in` reads its decompressed bytes from the start;
    * `raw` is the positioned file stream beneath it, which a ranged read
    * of a plain file seeks once the header is read. Compressed streams
    * have no meaningful byte offsets, so they are never range-split.
    * Closing `in` closes `raw`. */
  final class ZeekFile(val raw: FSDataInputStream, val in: InputStream, val compressed: Boolean)

  /** The one opener: whole-file and ranged reads, headers and data.
    *
    * With `readAhead` a gzip or zstd stream is inflated ahead on a helper
    * thread ([[ReadAheadInputStream]]), so the one task that reads a
    * non-splittable file no longer inflates and parses in turn. Callers
    * set it only when their job leaves task slots idle (a scan planned
    * into fewer partitions than its minimum partition count, a
    * recompress of fewer files than the default parallelism): where
    * every slot already reads, the helpers only contend for the cores
    * (BASELINE.md, "Zeek read-ahead on a spare core"). Plain files and
    * bind-time header reads are never read ahead. */
  def openFile(path: String, conf: Configuration, readAhead: Boolean): ZeekFile = {
    val p = new Path(path)
    val raw = p.getFileSystem(conf).open(p)
    val buffered = new BufferedInputStream(raw, 64 * 1024)
    val decoded = decode(buffered)
    val compressed = decoded ne buffered
    new ZeekFile(raw, if (readAhead && compressed) new ReadAheadInputStream(decoded) else decoded,
      compressed)
  }

  /** Open a (possibly compressed) file as a decompressed stream, read on
    * the calling thread. */
  def open(path: String, conf: Configuration): InputStream = openFile(path, conf, readAhead = false).in

  /** `in` through the decompressor its first bytes announce: gzip (1f 8b)
    * or zstd (28 b5 2f fd); `in` itself for anything else. */
  private def decode(in: BufferedInputStream): InputStream = {
    in.mark(4)
    val m = in.readNBytes(4)
    in.reset()
    def is(magic: Int*) = m.length >= magic.length &&
      magic.indices.forall(i => (m(i) & 0xff) == magic(i))
    if (is(0x1f, 0x8b)) new GZIPInputStream(in, 64 * 1024)
    else if (is(0x28, 0xb5, 0x2f, 0xfd)) new ZstdInputStream(in)
    else in
  }

  /** The header of the file at `path`, read through the same opener and
    * line reader as a scan. */
  def header(path: String, conf: Configuration): ZeekHeader = {
    val in = open(path, conf)
    try ZeekHeader.read(new ByteLineReader(in))
    finally in.close()
  }

  /** Glob-expansion result: one listed file with the metadata the rest of
    * the source needs, captured from the SAME `FileStatus` the listing
    * already holds — planning must never re-stat files (one RPC per file
    * per query is seconds of sequential driver time at the reference's
    * files=threads scale model). */
  final case class GlobFile(path: String, mtime: Long, length: Long)

  /** Expand a glob (or plain path, or a directory's files) into
    * [[GlobFile]]s sorted by path — the streaming source's watermark
    * bookkeeping needs mtimes, and the batch planner needs lengths (split
    * planning + size statistics). The sort keeps "first file"
    * deterministic (reference: src/zeek_scanner.cpp:446-453); an empty
    * result is the caller's error to raise.
    * Paths are fully-qualified URIs: `.getPath.toString` keeps scheme +
    * authority, where `.toUri.getPath` would strip "s3a://bucket" and
    * make later opens resolve against the default filesystem. */
  def expandGlob(pattern: String, conf: Configuration): Seq[GlobFile] = {
    val p = new Path(pattern)
    val fs = p.getFileSystem(conf)
    val statuses = Option(fs.globStatus(p)).getOrElse(Array.empty)
    val files = statuses.filterNot(_.isDirectory)
      .map(s => GlobFile(s.getPath.toString, s.getModificationTime, s.getLen))
    // a non-glob path to a directory: list its files
    val expanded =
      if (files.isEmpty && statuses.exists(_.isDirectory))
        statuses.filter(_.isDirectory).flatMap(d => fs.listStatus(d.getPath))
          .filterNot(_.isDirectory)
          .map(s => GlobFile(s.getPath.toString, s.getModificationTime, s.getLen))
      else files
    expanded.sortBy(_.path).toSeq
  }

  /** The `filename` virtual column's display form: local `file:` URIs
    * render as plain paths — matching the reference scanner's filename
    * output for local logs — while other schemes (s3a://bucket/…) keep
    * the full URI so files on different stores stay distinguishable.
    * Internal opens always use the fully-qualified path. */
  def displayPath(path: String): String =
    if (path.startsWith("file:"))
      try new Path(path).toUri.getPath catch { case _: Exception => path }
    else path
}
