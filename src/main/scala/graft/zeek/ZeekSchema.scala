package graft.zeek

import org.apache.hadoop.conf.Configuration
import org.apache.spark.sql.types._
import scala.jdk.CollectionConverters._

/** Options of the Zeek source, mirroring the reference's named parameters
  * (reference: src/zeek_scanner.cpp:455-479, README.md:66-99). */
final case class ZeekOptions(
    filename: Boolean = false,
    replacePeriods: Boolean = true,
    unionByName: Boolean = false,
    ignoreFileErrors: Boolean = false,
    /** streaming only: mtime slack window (ms) behind the watermark in
      * which files are tracked by path identity — absorbs preserved-mtime
      * copies and clock skew between writers; see ZeekOffset */
    streamMtimeSlackMs: Long = 5L * 60 * 1000,
    /** streaming only: admission control — cap each micro-batch at this
      * many newly-appeared files (oldest first). A restart against a
      * large rotated-log backlog otherwise plans one giant batch. */
    maxFilesPerTrigger: Option[Int] = None,
    /** streaming only: cap each micro-batch at this many bytes of new
      * files (always admits at least one file so progress is made). */
    maxBytesPerTrigger: Option[Long] = None) extends Serializable

object ZeekOptions {
  /** Every option name a Zeek read takes: the reader's own, the sink's (a
    * catalog table carries them into its reads) and Spark's path keys. */
  val known: Seq[String] = Seq("filename", "replace_periods", "inet", "union_by_name",
    "ignore_file_errors", "stream_mtime_slack_ms", "max_files_per_trigger",
    "max_bytes_per_trigger", "compression", "zeek_path", "max_rows_per_file", "path", "paths")

  /** Option `k` of `m` through `parse`. A value `parse` rejects fails
    * naming the option, the value and `rule`. */
  def opt[T](m: java.util.Map[String, String], k: String, rule: String = "")(
      parse: String => Option[T]): Option[T] =
    Option(m.get(k)).map { v =>
      parse(v.trim).getOrElse(throw new ZeekFormatException(
        s"zeek option '$k' has an invalid value '$v'$rule"))
    }

  /** Options from a reader's map. An option name not in [[known]] fails,
    * listing the known ones. A session-catalog table's map (it carries
    * `provider`) also holds the table's own properties (owner, location,
    * comment, TBLPROPERTIES); there only its OPTIONS clause is checked,
    * which Spark repeats under the `option.` prefix. A value that is not a
    * `true`/`false` (any case) for a boolean option, not a number for a
    * numeric one, or out of a streaming number's range fails naming the
    * option and the value. */
  def fromMap(m: java.util.Map[String, String]): ZeekOptions = {
    import org.apache.spark.sql.connector.catalog.TableCatalog.{OPTION_PREFIX, PROP_PROVIDER}
    val keys = m.keySet.asScala.map(_.toLowerCase(java.util.Locale.ROOT))
    val names = if (!keys.contains(PROP_PROVIDER)) keys
      else keys.filter(_.startsWith(OPTION_PREFIX)).map(_.stripPrefix(OPTION_PREFIX))
    names.find(!known.contains(_)).foreach { k =>
      throw new ZeekFormatException(
        s"unknown zeek option '$k'; known options: ${known.mkString(", ")}")
    }
    def b(k: String): Option[Boolean] = opt(m, k)(_.toBooleanOption)
    // the reference's `inet` switch is checked and has no effect here:
    // addr and subnet are always strings (ZeekTypes)
    b("inet")
    ZeekOptions(
      filename = b("filename").getOrElse(false),
      replacePeriods = b("replace_periods").getOrElse(true),
      unionByName = b("union_by_name").getOrElse(false),
      ignoreFileErrors = b("ignore_file_errors").getOrElse(false),
      streamMtimeSlackMs = opt(m, "stream_mtime_slack_ms", " (must be >= 0)")(
        _.toLongOption.filter(_ >= 0)).getOrElse(5L * 60 * 1000),
      maxFilesPerTrigger = opt(m, "max_files_per_trigger", " (must be > 0)")(
        _.toIntOption.filter(_ > 0)),
      maxBytesPerTrigger = opt(m, "max_bytes_per_trigger", " (must be > 0)")(
        _.toLongOption.filter(_ > 0)))
  }
}

/** Per-file (or per-byte-range) scan spec produced at planning time.
  *
  * @param colMap union mode only: for each union column, the source field
  *               index in this file, or -1 if absent (→ NULL fill);
  *               reference: src/zeek_scanner.cpp:580-589.
  * @param start  byte-range start for splittable (uncompressed) files;
  *               0 = the split that also owns header parsing/validation
  * @param end    exclusive range end; -1 = to EOF. A line belongs to the
  *               split containing its first byte.
  * @param length on-disk byte length captured at bind from the glob's own
  *               FileStatus (-1 = unknown, e.g. streaming specs) — split
  *               planning and size statistics read this instead of
  *               issuing one getFileStatus RPC per file per query
  */
final case class ZeekFileSpec(path: String, colMap: Option[Array[Int]],
    start: Long = 0L, end: Long = -1L, length: Long = -1L) extends Serializable

/** Bind result: resolved files + canonical header + Spark schema. */
final case class ZeekBind(
    files: Seq[ZeekFileSpec],
    header: ZeekHeader,
    /** data columns only — excludes the filename virtual column */
    dataSchema: StructType,
    /** full output schema (incl. filename column when enabled) */
    schema: StructType,
    opts: ZeekOptions,
    /** original path patterns (streaming lists them once per trigger) */
    patterns: Seq[String]) extends Serializable

/** Bind-time schema resolution (reference: ZeekScanBind,
  * src/zeek_scanner.cpp:439-609): glob expansion + lexicographic sort,
  * strict first-valid-file schema or union_by_name over all files,
  * `.`→`_` renaming, optional `filename` virtual column.
  */
object ZeekSchema {

  def bind(paths: Seq[String], opts: ZeekOptions, conf: Configuration): ZeekBind = {
    val metas = paths.flatMap(p => ZeekIO.expandGlob(p, conf))
    val lengths = metas.map(m => m.path -> m.length).toMap
    val files = metas.map(_.path).distinct.sorted
    if (files.isEmpty)
      throw new ZeekFormatException(
        s"No files found that match the pattern \"${paths.mkString(", ")}\"")
    val b = if (opts.unionByName) bindUnion(files, lengths, opts, conf)
            else bindStrict(files, lengths, opts, conf)
    b.copy(patterns = paths)
  }

  /** Headers of ALL files, read on a bounded thread pool, results in
    * file order. union_by_name must open every file at PLAN time
    * (reference: src/zeek_scanner.cpp:506-589 — which does it serially,
    * as this repo also did through round 10); at the 100-TB shape that
    * is tens of thousands of hourly rotated logs on an object store,
    * i.e. tens of thousands of SEQUENTIAL driver-side open+read round
    * trips, each dominated by latency, not the ~KB of header bytes.
    * Parallel reads change only wall-clock: results are reassembled in
    * the lexicographic file order, so first-seen field order and the
    * choice of reported error (the first failing file in sort order)
    * are identical to the serial loop. Pool size 16 bounds driver FD /
    * memory pressure; single-file binds skip the pool entirely. */
  private def parseHeaders(files: Seq[String],
      conf: Configuration): Seq[Either[Exception, ZeekHeader]] = {
    def one(f: String): Either[Exception, ZeekHeader] =
      try Right(ZeekIO.header(f, conf))
      catch { case e: Exception => Left(e) }
    if (files.lengthCompare(2) < 0) files.map(one)
    else {
      val pool = java.util.concurrent.Executors.newFixedThreadPool(
        math.min(files.length, 16),
        (r: Runnable) => {
          val t = new Thread(r, "zeek-header-read")
          t.setDaemon(true)
          t
        })
      try {
        val tasks: Seq[java.util.concurrent.Callable[Either[Exception, ZeekHeader]]] =
          files.map(f => () => one(f))
        pool.invokeAll(tasks.asJava).asScala.map(_.get()).toSeq
      } finally { pool.shutdown(): Unit }
    }
  }

  /** Strict mode: the first valid file's header is the schema; other files
    * are validated per-partition at scan time (src/zeek_scanner.cpp:481-505). */
  private def bindStrict(files: Seq[String], lengths: Map[String, Long],
      opts: ZeekOptions, conf: Configuration): ZeekBind = {
    var header: ZeekHeader = null
    var err: Throwable = null
    val it = files.iterator
    while (header == null && it.hasNext) {
      val f = it.next()
      try header = ZeekIO.header(f, conf)
      catch {
        case e: Exception if opts.ignoreFileErrors =>
          ZeekIO.warnIgnored(f, e, "skipped")
          if (err == null) err = e
        case e: Exception => throw ZeekIO.readFailure(f, e)
      }
    }
    if (header == null)
      throw new ZeekFormatException(
        s"No valid Zeek log files found matching the pattern (last error: ${Option(err).map(_.getMessage).getOrElse("none")})")
    val specs = files.map(f => ZeekFileSpec(f, None, length = lengths.getOrElse(f, -1L)))
    build(specs, header, header.fields, header.types, opts)
  }

  /** union_by_name: open every file, union fields by name in first-seen
    * order; identical lexical syntax required; same name ⇒ same Zeek type
    * or bind error; absent fields → NULL (src/zeek_scanner.cpp:506-589). */
  private def bindUnion(files: Seq[String], lengths: Map[String, Long],
      opts: ZeekOptions, conf: Configuration): ZeekBind = {
    val headers = files.zip(parseHeaders(files, conf)).map {
      case (_, Right(h)) => Some(h)
      case (f, Left(e)) if opts.ignoreFileErrors =>
        ZeekIO.warnIgnored(f, e, "skipped")
        None
      case (f, Left(e)) =>
        // first failing file in sort order — same file and message the
        // serial loop reported (it just stopped reading there)
        throw ZeekIO.readFailure(f, e)
    }
    val valid = files.zip(headers).collect { case (f, Some(h)) => (f, h) }
    if (valid.isEmpty)
      throw new ZeekFormatException("No valid Zeek log files found matching the pattern")

    val first = valid.head._2
    // lexical syntax must agree across files (src/zeek_scanner.cpp:536-545)
    valid.foreach { case (f, h) =>
      if (h.separator != first.separator || h.setSeparator != first.setSeparator ||
        h.emptyField != first.emptyField || h.unsetField != first.unsetField)
        throw new ZeekFormatException(
          s"union_by_name requires identical separators and NULL markers: '${valid.head._1}' vs '$f'")
    }

    val unionFields = scala.collection.mutable.LinkedHashMap.empty[String, String] // name → zeek type
    val firstSeenIn = scala.collection.mutable.HashMap.empty[String, String]       // name → file
    valid.foreach { case (f, h) =>
      h.fields.indices.foreach { i =>
        val (name, tpe) = (h.fields(i), h.types(i))
        unionFields.get(name) match {
          case None =>
            unionFields(name) = tpe
            firstSeenIn(name) = f
          case Some(prev) if prev != tpe =>
            throw new ZeekFormatException(
              s"union_by_name type conflict: field '$name' has type '$prev' in file '${firstSeenIn(name)}' but type '$tpe' in file '$f'")
          case _ =>
        }
      }
    }
    val names = unionFields.keys.toVector
    val types = names.map(unionFields)

    val specs = files.zip(headers).map {
      case (f, Some(h)) =>
        val idx = h.fields.zipWithIndex.toMap
        ZeekFileSpec(f, Some(names.map(n => idx.getOrElse(n, -1)).toArray),
          length = lengths.getOrElse(f, -1L))
      case (f, None) =>
        // tombstone: claimed at scan, yields zero rows (src/zeek_scanner.cpp:519-526)
        ZeekFileSpec(f, Some(Array.fill(names.length)(-1)),
          length = lengths.getOrElse(f, -1L))
    }
    val canonical = first.copy(fields = names, types = types)
    build(specs, canonical, names, types, opts)
  }

  private def build(specs: Seq[ZeekFileSpec], header: ZeekHeader,
      names: Seq[String], types: Seq[String], opts: ZeekOptions): ZeekBind = {
    val dataFields = names.zip(types).map { case (orig, t) =>
      val n = if (opts.replacePeriods) orig.replace('.', '_') else orig
      val mb = new MetadataBuilder().putString(ZeekTypes.ZeekTypeMeta, t)
      if (n != orig) mb.putString(ZeekTypes.ZeekNameMeta, orig)
      StructField(n, ZeekTypes.toSpark(t), nullable = true, mb.build())
    }
    val dataSchema = StructType(dataFields)
    val full =
      if (opts.filename) StructType(dataFields :+ StructField("filename", StringType, nullable = true))
      else dataSchema
    ZeekBind(specs, header, dataSchema, full, opts, Seq.empty)
  }
}
