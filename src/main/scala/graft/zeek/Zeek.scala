package graft.zeek

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.spark.{TaskContext, TaskKilledException}
import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.zeek.v2.{ZeekDataSource, ZeekPartRoller, ZeekParts}

/** Convenience entry point mirroring the reference's `read_zeek(path,
  * named_params...)` call shape (reference: src/zeek_scanner.cpp:913-925)
  * for users who prefer a function over the format string. */
object Zeek {

  /** Splittable-ingest utility (SURVEY §7.6): rewrite a huge COMPRESSED
    * zeek log as many smaller rotations so later reads parallelize.
    *
    * gzip/zstd streams are not byte-range splittable, so a single 1 TB
    * `conn.log.gz` reads as ONE partition — the read-side byte-range
    * splitter (S16) only helps uncompressed files. The fix every log
    * pipeline ships: pay the single-threaded read ONCE, land the lines as
    * `rowsPerFile`-rotated parts (`codec`: zstd, gzip or none), and every
    * later scan reads the parts in parallel, parts of a realistic size a
    * task each ([[graft.zeek.v2.ZeekPlanning]]).
    *
    * The rewrite copies lines; it parses no value. One Spark task per
    * input file (a glob expands on the driver) reads the file's header
    * and copies its data lines byte for byte into rotated parts, skipping
    * what a scan skips: blank lines and mid-file `#` directives. Each
    * part starts with the source's own directive lines (all but
    * `#close`, so a custom separator or NULL marker survives; a missing
    * `#path` becomes the file's base name) and ends with a fresh
    * `#close`. Reading the parts therefore returns exactly the rows of
    * reading the source. Every file's header must match the first
    * file's, as in a strict read; a file that is not a Zeek log, does
    * not match or cannot be read fails the rewrite naming it, and leaves
    * none of this rewrite's parts behind. `outDir` is overwritten like
    * the sink's `mode("overwrite")`: its Zeek logs go, other files stay.
    * Fewer input files than the default parallelism leave cores idle, so
    * then each task inflates its file ahead on a helper thread while it
    * copies lines ([[ZeekIO.openFile]]).
    *
    * `rowsPerFile` sizes the parts: pick `target_part_bytes /
    * avg_row_bytes` (e.g. ~4M conn rows ≈ 1 GB uncompressed ≈ 128 MB
    * zstd — one healthy scan partition). Returns the output directory.
    *
    * Recipe for the 1 TB case:
    * {{{
    * Zeek.recompress(spark, "s3://logs/conn.log.gz", "s3://logs/conn_parts")
    * spark.read.format("zeek").load("s3://logs/conn_parts/" + "*.log.zst")
    * }}}
    */
  def recompress(spark: SparkSession, inPath: String, outDir: String,
      rowsPerFile: Long = 4000000L, codec: String = "zstd"): String = {
    if (rowsPerFile <= 0)
      throw new ZeekFormatException(s"recompress: rowsPerFile must be > 0, got $rowsPerFile")
    val partCodec = ZeekParts.codec(Some(codec))
    val conf = spark.sessionState.newHadoopConf()
    val files = ZeekIO.expandGlob(inPath, conf).map(_.path)
    if (files.isEmpty)
      throw new ZeekFormatException(s"No files found that match the pattern \"$inPath\"")
    val first =
      try ZeekIO.header(files.head, conf)
      catch { case e: Exception => throw ZeekIO.readFailure(files.head, e) }
    val dir = new Path(outDir)
    val fs = dir.getFileSystem(conf)
    val qualified = fs.makeQualified(dir)
    files.map(new Path(_)).find(f => f.getParent == qualified && ZeekParts.isLog(f.getName)).foreach { f =>
      throw new ZeekFormatException(s"recompress: input '$f' is in the output directory it would overwrite")
    }
    ZeekParts.prepare(fs, dir, overwrite = true)
    val jobTag = java.util.UUID.randomUUID().toString.substring(0, 8)
    val bconf = ZeekDataSource.broadcastConf(conf)
    val readAhead = files.length < spark.sparkContext.defaultParallelism
    try {
      spark.sparkContext.parallelize(files.zipWithIndex, files.length).foreach { case (f, i) =>
        copyFile(f, i, first, files.head, outDir, partCodec, rowsPerFile, jobTag, readAhead,
          bconf.value.value)
      }
    } catch {
      case e: Exception =>
        // no half copy: drop what this rewrite's tasks published or left
        ZeekParts.deleteJob(fs, dir, jobTag)
        throw e
    }
    outDir
  }

  private def startsWith(line: Array[Byte], prefix: String): Boolean =
    line.length >= prefix.length && prefix.indices.forall(i => line(i) == prefix.charAt(i))

  /** One recompress task: the data lines of the file at `path` (input
    * `index`) copied into rotated parts named like a sink task's. */
  private def copyFile(path: String, index: Int, first: ZeekHeader, firstPath: String,
      outDir: String, codec: String, rowsPerFile: Long, jobTag: String, readAhead: Boolean,
      conf: Configuration): Unit = {
    val dir = new Path(outDir)
    val fs = dir.getFileSystem(conf)
    val in = try ZeekIO.openFile(path, conf, readAhead).in
      catch { case e: Exception => throw ZeekIO.readFailure(path, e) }
    var parts: ZeekPartRoller = null
    try {
      val lines = new ByteLineReader(in)
      val directives = scala.collection.mutable.ArrayBuffer.empty[Array[Byte]]
      val h = ZeekHeader.read(lines, l => {
        val line = java.util.Arrays.copyOfRange(l.buf, l.lineStart, l.lineEnd + 1)
        line(line.length - 1) = '\n'
        if (!startsWith(line, "#close")) directives += line
      })
      first.diff(h).foreach { d =>
        throw new ZeekFormatException(
          s"Zeek log schema mismatch: file '$path' does not match the header of '$firstPath': $d")
      }
      if (h.path.isEmpty)
        directives.insert(directives.indexWhere(l => startsWith(l, "#open") || startsWith(l, "#fields")),
          ZeekWriteCore.directive("path", h.separator, ZeekParts.logName(path)))
      val header = directives.toArray.flatten
      val task = TaskContext.get()
      val taskId = task.taskAttemptId()
      parts = new ZeekPartRoller(fs, dir, f"part-$index%05d-$taskId-$jobTag", codec, taskId,
        rowsPerFile, () => header, h.separator)
      var on = lines.onLine
      while (on) {
        // a failed sibling ends the job: stop, publish nothing
        if (task.isInterrupted()) throw new TaskKilledException
        if (lines.lineEnd > lines.lineStart && lines.buf(lines.lineStart) != '#')
          parts.line(lines.buf, lines.lineStart, lines.lineEnd - lines.lineStart)
        on = lines.next()
      }
      if (task.isInterrupted()) throw new TaskKilledException
      parts.commit(headerOnly = index == 0, replace = false)
    } catch {
      case e: Exception =>
        if (parts != null) parts.abort()
        throw (e match {
          case _: TaskKilledException | _: InterruptedException => e
          case _ => ZeekIO.readFailure(path, e)
        })
    } finally in.close()
  }

  def read(spark: SparkSession, path: String,
      filename: Boolean = false,
      replacePeriods: Boolean = true,
      inet: Boolean = true,
      unionByName: Boolean = false,
      ignoreFileErrors: Boolean = false): DataFrame =
    spark.read.format("zeek")
      .option("filename", filename.toString)
      .option("replace_periods", replacePeriods.toString)
      .option("inet", inet.toString)
      .option("union_by_name", unionByName.toString)
      .option("ignore_file_errors", ignoreFileErrors.toString)
      .load(path)
}
