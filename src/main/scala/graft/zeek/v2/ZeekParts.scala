package graft.zeek.v2

import java.io.{BufferedOutputStream, OutputStream}
import java.util.zip.GZIPOutputStream

import org.apache.hadoop.fs.{FileSystem, Path}

import graft.zeek._

/** Rolling Zeek part files of one writing task: the one byte-level writer
  * behind the Zeek sink (which feeds it rendered rows) and
  * [[graft.zeek.Zeek.recompress]] (which feeds it copied lines).
  *
  * Each part is `header()`, then data lines, then a fresh `#close`
  * directive delimited by `sep`. The part for roll N is named
  * `<stem>-rN<ext>` when `maxRowsPerFile` is finite (the size axis of
  * zeek's own rotation model), `<stem><ext>` otherwise. Parts are written
  * as dot-prefixed temps (`.zeek-<name>.<attempt>.inprogress`) through a
  * 64 KiB buffer ahead of the codec stream, and stay temps until
  * [[commit]]: a task that dies after rolling leaves nothing visible, and
  * its retry (another attempt id) cannot duplicate.
  */
final class ZeekPartRoller(fs: FileSystem, dir: Path, stem: String, codec: String,
    attempt: Long, maxRowsPerFile: Long, header: () => Array[Byte], sep: Char) {

  private var out: OutputStream = _
  private var tmp: Path = _
  private var roll = 0
  private var fileRows = 0L
  private val closed = scala.collection.mutable.ArrayBuffer.empty[(Path, Path)]

  private def finalName: String =
    stem + (if (maxRowsPerFile == Long.MaxValue) "" else s"-r$roll") + ZeekParts.ext(codec)

  private def open(): Unit = {
    tmp = new Path(dir, s".zeek-$finalName.$attempt.inprogress")
    out = new BufferedOutputStream(ZeekParts.compress(fs.create(tmp, true), codec), 64 * 1024)
    out.write(header())
    fileRows = 0L
  }

  private def closePart(): Unit = if (out != null) {
    out.write(ZeekWriteCore.directive("close", sep, ZeekWriteCore.stampText(System.currentTimeMillis())))
    out.close()
    out = null
    closed += ((tmp, new Path(dir, finalName)))
    roll += 1
  }

  /** Appends one data line (`len` bytes, no newline); rolls at the cap. */
  def line(b: Array[Byte], off: Int, len: Int): Unit = {
    if (out == null) open()
    out.write(b, off, len)
    out.write('\n')
    fileRows += 1
    if (fileRows >= maxRowsPerFile) closePart()
  }

  /** Closes the open part and renames every part from its temp to its
    * final name, returning the final paths. With `headerOnly` a task that
    * wrote no line still yields one header-only part (a valid log:
    * schema, zero rows). With `replace` an existing final name is
    * replaced (a streaming epoch replay re-renders the same data under
    * the same deterministic name). */
  def commit(headerOnly: Boolean, replace: Boolean): Seq[Path] = {
    if (headerOnly && roll == 0 && out == null) open()
    closePart()
    closed.toSeq.map { case (t, fin) =>
      if (replace && fs.exists(fin)) fs.delete(fin, false)
      if (!fs.rename(t, fin))
        throw new ZeekFormatException(s"zeek sink: could not commit '$fin'")
      fin
    }
  }

  /** Closes and deletes every temp of this attempt. */
  def abort(): Unit = {
    close()
    if (tmp != null) fs.delete(tmp, false)
    closed.foreach { case (t, _) => fs.delete(t, false) }
  }

  def close(): Unit =
    if (out != null) { try out.close() catch { case _: Exception => () }; out = null }
}

/** The part files' naming, codecs and directory rules, shared by the sink
  * and recompress. */
object ZeekParts {

  /** The codec a `compression` value names: gzip, zstd or none. */
  def codec(name: Option[String]): String = name.map(_.trim.toLowerCase) match {
    case None | Some("none") | Some("uncompressed") => "none"
    case Some("gzip") | Some("gz")                  => "gzip"
    case Some("zstd") | Some("zst")                 => "zstd"
    case Some(other) =>
      throw new ZeekFormatException(s"zeek sink: unsupported compression '$other' (gzip|zstd|none)")
  }

  def ext(codec: String): String = codec match {
    case "gzip" => ".log.gz"
    case "zstd" => ".log.zst"
    case _      => ".log"
  }

  /** `raw` through `codec`'s compressor (both match the reader's
    * magic-byte sniffing). */
  def compress(raw: OutputStream, codec: String): OutputStream = codec match {
    case "gzip" => new GZIPOutputStream(raw, 64 * 1024)
    case "zstd" => new com.github.luben.zstd.ZstdOutputStream(raw)
    case _      => raw
  }

  /** The `#path` a log at `path` gets by default: its base name up to
    * the first dot (`conn.log.gz` → `conn`). */
  def logName(path: String): String = {
    val base = new Path(path).getName
    val dot = base.indexOf('.')
    if (dot > 0) base.substring(0, dot) else base
  }

  /** A Zeek log by its name: what an overwrite drops and an append checks. */
  def isLog(name: String): Boolean =
    name.endsWith(".log") || name.endsWith(".log.gz") || name.endsWith(".log.zst")

  /** Makes `dir`; with `overwrite`, first drops its Zeek logs (ours or
    * not) and `.zeek-*` temps, keeping every other file. */
  def prepare(fs: FileSystem, dir: Path, overwrite: Boolean): Unit = {
    if (overwrite && fs.exists(dir))
      fs.listStatus(dir).filterNot(_.isDirectory)
        .filter(s => isLog(s.getPath.getName) || s.getPath.getName.startsWith(".zeek-"))
        .foreach(s => fs.delete(s.getPath, false))
    fs.mkdirs(dir)
  }

  /** Deletes the files of `dir` matching the glob `pattern` (best effort
    * cleanup of one job's or epoch's files, never another's). */
  def deleteGlob(fs: FileSystem, dir: Path, pattern: String): Unit =
    Option(fs.globStatus(new Path(dir, pattern))).foreach(_.foreach(s => fs.delete(s.getPath, false)))

  /** Deletes what the batch job tagged `jobTag` left in `dir`: its temps
    * and the parts its tasks committed (both names embed the tag), so a
    * failed job leaves no half write and touches no other job's files. */
  def deleteJob(fs: FileSystem, dir: Path, jobTag: String): Unit = {
    deleteGlob(fs, dir, s".zeek-*-$jobTag*")
    deleteGlob(fs, dir, s"part-*-$jobTag*")
  }
}
