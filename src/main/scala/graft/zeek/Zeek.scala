package graft.zeek

import org.apache.spark.sql.{DataFrame, SparkSession}

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
    * pipeline ships: pay the single-threaded read ONCE, land the rows as
    * `max_rows_per_file`-rotated zstd parts through the zeek sink, and
    * every later scan reads the parts in parallel, parts of a realistic
    * size a task each ([[graft.zeek.v2.ZeekPlanning]]) (plus
    * projection/filter pushdown, COUNT(*) fast path, etc. as usual).
    *
    * Fidelity: the sink renders the exact inverse of the scanner and the
    * reader attaches `zeek.type`/`zeek.name` metadata that the writer
    * honors, so `addr`/dotted-field headers round-trip; the `#path`
    * directive is carried over from the input's own header (fallback:
    * the input file's base name). Reads with `inet = true` (native
    * addr/subnet semantics) and no period replacement so renamed fields
    * cannot leak into the rewritten `#fields` line.
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
    val conf = spark.sessionState.newHadoopConf()
    val pathName = ZeekIO.expandGlob(inPath, conf).headOption
      .flatMap(f => ZeekIO.header(f.path, conf).path)
      .getOrElse {
        val base = new org.apache.hadoop.fs.Path(inPath).getName
        val dot = base.indexOf('.')
        if (dot > 0) base.substring(0, dot) else base
      }
    spark.read.format("zeek")
      .option("replace_periods", "false")
      .load(inPath)
      .write.format("zeek").mode("overwrite")
      .option("compression", codec)
      .option("max_rows_per_file", rowsPerFile.toString)
      .option("zeek_path", pathName)
      .save(outDir)
    outDir
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
