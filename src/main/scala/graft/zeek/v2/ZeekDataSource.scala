package graft.zeek.v2

import java.util

import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.spark.SparkContext
import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.sources.{DataSourceRegister, Filter}
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.util.SerializableConfiguration

import graft.zeek._

/** Spark DataSource V2 for Zeek logs — `spark.read.format("zeek")`.
  *
  * Reproduces the reference's `read_zeek` table function (SURVEY.md §2.A,
  * reference src/zeek_scanner.cpp:913-925): header-driven schema
  * inference, strict / union_by_name multi-file resolution, projection +
  * filter pushdown, COUNT(*) as an empty projection, `filename` virtual column,
  * gzip/zstd auto-detection, ignore_file_errors.
  *
  * Scale model: files are cut and packed into input partitions by Spark's
  * own file-scan rule ([[ZeekPlanning]]). The reference runs one thread
  * per file (MaxThreads = #files); a large log still gets a task of its
  * own (and a plain one past Spark's split size a task per byte range),
  * while small files share one, so a directory of hourly rotations pays
  * the fixed cost of a task once per partition instead of once per file. Executors read the Hadoop
  * configuration from one broadcast ([[ZeekDataSource.broadcastConf]])
  * rather than deserializing a copy in every task.
  */
class ZeekDataSource extends TableProvider with DataSourceRegister {
  override def shortName(): String = "zeek"

  /** The bind [[inferSchema]] made, with the options it was made from.
    * Spark calls `inferSchema` and then `getTable` on one provider
    * instance per load (`DataSourceV2Utils.getTableFromProvider`), so the
    * table takes this bind instead of listing the patterns and reading
    * the headers a second time. */
  private var inferred: Option[(Map[String, String], ZeekBind)] = None

  /** Reads only: a pattern matching no files fails here, at load, naming
    * the pattern (reference: src/zeek_scanner.cpp:446-453), as do corrupt
    * headers. Writers never call it — both `DataFrameWriter` and
    * `DataStreamWriter` hand [[getTable]] the query's schema (see
    * [[supportsExternalMetadata]]), so a sink can target a directory that
    * holds no logs yet. */
  override def inferSchema(options: CaseInsensitiveStringMap): StructType = {
    val b = ZeekDataSource.bind(options)
    inferred = Some((options.asCaseSensitiveMap().asScala.toMap, b))
    b.schema
  }

  /** Lets writers pass the query's schema instead of inferring one, and the
    * session catalog a declared schema (`CREATE TABLE … USING zeek` +
    * `INSERT INTO`); reads still derive truth from the log headers and
    * reject a mismatching declaration at scan planning. */
  override def supportsExternalMetadata(): Boolean = true

  /** Hands the table [[inferSchema]]'s bind when `properties` are the
    * options it bound; any other table binds for itself when first read. */
  override def getTable(schema: StructType, partitioning: Array[Transform],
      properties: util.Map[String, String]): Table = {
    val bound = inferred.collect { case (opts, b) if opts == properties.asScala.toMap => b }
    inferred = None
    new ZeekTable(new CaseInsensitiveStringMap(properties), Option(schema), bound)
  }
}

object ZeekDataSource {
  /** Lists `options`' paths and reads their headers, every call: no bind
    * outlives the table it was made for, so a read sees the directory as
    * it is when the read is loaded. */
  def bind(options: CaseInsensitiveStringMap): ZeekBind =
    ZeekSchema.bind(extractPaths(options), ZeekOptions.fromMap(options),
      SparkSession.active.sessionState.newHadoopConf())

  /** A no-op: there is no bind cache to clear. The benchmark harness
    * still calls it (`graftbench/src/graftbench/Harness.scala` before each
    * op, `Layers.scala` around its recompress probe and bind timing);
    * it goes once those calls do. */
  def clearBindCache(): Unit = ()

  private var confCache: (SparkContext, Map[String, String], Broadcast[SerializableConfiguration]) = _

  /** A Hadoop configuration (by default the active session's) as one
    * broadcast, shared by every Zeek reader and writer factory: an
    * executor deserializes it once, not once per task (its ~1,100
    * entries cost milliseconds per task to rebuild). The last broadcast
    * is reused while the SparkContext is the same and the
    * configuration's entries are equal; a replaced one is released by
    * Spark's ContextCleaner once no plan holds it. */
  def broadcastConf(conf: Configuration = SparkSession.active.sessionState.newHadoopConf())
      : Broadcast[SerializableConfiguration] = {
    val entries = conf.iterator().asScala.map(e => e.getKey -> e.getValue).toMap
    val sc = SparkSession.active.sparkContext
    synchronized {
      val c = confCache
      if (c != null && (c._1 eq sc) && c._2 == entries) c._3
      else {
        val b = sc.broadcast(new SerializableConfiguration(conf))
        confCache = (sc, entries, b)
        b
      }
    }
  }

  private def extractPaths(options: CaseInsensitiveStringMap): Seq[String] = {
    val single = Option(options.get("path")).toSeq
    val multi = Option(options.get("paths")).toSeq.flatMap { json =>
      // DataFrameReader encodes multiple paths as a JSON string array
      val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
      mapper.readValue(json, classOf[Array[String]]).toSeq
    }
    val all = single ++ multi
    if (all.isEmpty)
      throw new ZeekFormatException("zeek source requires a path, e.g. spark.read.format(\"zeek\").load(\"/logs/*.log.gz\")")
    all
  }
}

/** Reads use `bound`, the bind a `load` already made
  * ([[ZeekDataSource.getTable]]), or bind once, when first planned: a user
  * schema, `read_zeek` and catalog tables. Writes never bind, they only
  * need the write schema ([[ZeekWriteBuilder]]).
  *
  * Write schema resolution: a writer's table carries the query's own
  * schema, a catalog table its declared one — `INSERT INTO` renames
  * positionally to the declared names, DataFrame appends match by name. */
class ZeekTable(props: CaseInsensitiveStringMap,
    provided: Option[StructType] = None, bound: Option[ZeekBind] = None)
    extends Table with SupportsRead with org.apache.spark.sql.connector.catalog.SupportsWrite {
  private lazy val bind = bound.getOrElse(ZeekDataSource.bind(props))
  override def name(): String = s"zeek(${Option(props.get("path")).getOrElse("?")})"
  override def schema(): StructType = provided.filter(_.nonEmpty).getOrElse(bind.schema)
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.BATCH_READ, TableCapability.MICRO_BATCH_READ,
      TableCapability.BATCH_WRITE, TableCapability.STREAMING_WRITE, TableCapability.TRUNCATE)
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder = {
    // a catalog-declared schema must agree with the log headers — the
    // headers are the ground truth the scan produces
    provided.filter(_.nonEmpty).foreach { p =>
      val declared = p.fields.map(f => (f.name, f.dataType)).toSeq
      val actual = bind.schema.fields.map(f => (f.name, f.dataType)).toSeq
      if (declared != actual)
        throw new ZeekFormatException(
          s"declared schema ${declared.map { case (n, t) => s"$n:${t.simpleString}" }.mkString(", ")} " +
            s"does not match the log header schema ${actual.map { case (n, t) => s"$n:${t.simpleString}" }.mkString(", ")}")
    }
    new ZeekScanBuilder(bind)
  }
  override def newWriteBuilder(info: org.apache.spark.sql.connector.write.LogicalWriteInfo)
      : org.apache.spark.sql.connector.write.WriteBuilder = {
    val dir = Option(props.get("path")).getOrElse(
      throw new ZeekFormatException("zeek sink requires a path: df.write.format(\"zeek\").save(\"/out/dir\")"))
    new ZeekWriteBuilder(info, dir, props)
  }
}

/** Pushdown policy (SURVEY.md S18-S21): prune columns to the required
  * set; accept scalar-typed constant comparisons / IN / IS NULL / AND/OR
  * for reader-side pre-parse evaluation, but report every filter as
  * residual so Catalyst re-evaluates — pushdown is purely an I/O
  * optimization and can never change semantics. */
class ZeekScanBuilder(bind: ZeekBind)
    extends ScanBuilder with SupportsPushDownRequiredColumns with SupportsPushDownFilters
    with SupportsPushDownLimit {

  private var required: StructType = bind.schema
  private var pushed: Array[Filter] = Array.empty
  private var limit: Int = -1

  override def pruneColumns(requiredSchema: StructType): Unit = required = requiredSchema

  /** Partial limit pushdown: each partition stops reading after `limit`
    * post-filter rows (LocalLimit semantics); Spark still applies the
    * global limit, so we return false. Saves decompress+parse I/O for
    * `LIMIT n` exploration queries over big logs. */
  override def pushLimit(l: Int): Boolean = {
    limit = l
    false
  }

  override def pushFilters(filters: Array[Filter]): Array[Filter] = {
    pushed = filters.filter(ZeekFilterEval.pushable(_, bind.schema))
    filters // all residual: Spark re-checks everything (safe by construction)
  }

  override def pushedFilters(): Array[Filter] = pushed

  /** Filename-predicate file pruning — the partition-pruning analog for
    * a rotated-log directory: a filter that references ONLY the
    * `filename` virtual column is evaluated against each file's display
    * path at plan time, and non-matching files never open. At the
    * reference's files=threads scale model (hourly rotation → tens of
    * thousands of files) `filename LIKE '%2026-01-16%'` turns a
    * directory scan into a handful of file reads. The filter is still
    * residual, so Spark re-checks rows — pruning can never change
    * semantics. */
  override def build(): Scan =
    new ZeekScan(bind.copy(files = ZeekPlanning.pruneByFilename(bind, pushed)), required, pushed, limit)
}

/** The one Zeek scan. An ungrouped COUNT(*) prunes every column: it reads
  * `required=[]`, and the reader hands back zero-column batches that only
  * carry a row count, tokenizing and parsing nothing (the reference's
  * empty projection, src/zeek_scanner.cpp:620-622,707-711). */
class ZeekScan(bind: ZeekBind, required: StructType, pushed: Array[Filter],
    limit: Int = -1)
    extends Scan with Batch with SupportsReportStatistics
    with org.apache.spark.sql.connector.read.SupportsRuntimeFiltering {
  override def readSchema(): StructType = required
  override def toBatch: Batch = this
  /** Columnar even when a scan has no partitions (every file pruned, an
    * empty micro-batch), so the plan shape does not depend on the data. */
  override def columnarSupportMode(): Scan.ColumnarSupportMode = Scan.ColumnarSupportMode.SUPPORTED

  /** RUNTIME file pruning (dynamic "partition" pruning for the rotation
    * model): when this scan joins on its `filename` virtual column and
    * the other side is small, Spark's PartitionPruning rule plants a
    * DynamicPruning IN-filter and delivers the matching values here at
    * EXECUTION time — files outside the joined set never open. This is
    * the runtime twin of the plan-time filename pruning, through the
    * same compiled predicate: that one needs the file set as literals in
    * the query; this one gets it from DATA (an intel table, yesterday's
    * manifest, a dimension of interesting hours). Only `filename` is
    * offered, and only while it is the virtual column — a real data
    * column named `filename` is row content, not the path identity. */
  override def filterAttributes(): Array[org.apache.spark.sql.connector.expressions.NamedReference] =
    if (bind.opts.filename && !bind.dataSchema.fieldNames.contains("filename"))
      Array(org.apache.spark.sql.connector.expressions.Expressions.column("filename"))
    else Array.empty

  @volatile private var runtimeBind: ZeekBind = bind

  /** A filter that does not compile over `filename` is ignored: runtime
    * pruning is an optimization, the join re-checks rows. */
  override def filter(filters: Array[Filter]): Unit =
    runtimeBind = runtimeBind.copy(files = ZeekPlanning.pruneByFilename(runtimeBind, filters))

  /** Size estimate = the planner's per-file estimate
    * ([[ZeekPlanning.estimatedSize]]) summed — lets Catalyst/AQE make
    * join-side decisions (e.g. broadcasting a small lookup log). Lengths
    * come from the bind-time glob listing carried in each
    * [[ZeekFileSpec]]: planning issues ZERO filesystem RPCs (asserted by
    * ZeekPlanTimeSpec). */
  override def estimateStatistics(): Statistics = new Statistics {
    private val bytes: Long = bind.files.map(ZeekPlanning.estimatedSize).sum
    override def sizeInBytes(): java.util.OptionalLong = java.util.OptionalLong.of(bytes)
    override def numRows(): java.util.OptionalLong = java.util.OptionalLong.empty()
  }
  override def description(): String =
    s"ZeekScan files=${bind.files.size} required=[${required.fieldNames.mkString(",")}] pushed=[${pushed.mkString(",")}]"

  /** The (pruned) files cut and packed by Spark's file-scan rule (beyond
    * the reference: a single huge plain log no longer serializes the
    * scan) — see [[ZeekPlanning]]. Compression is judged by extension
    * here; a mis-named compressed file is caught by the reader's
    * magic-byte sniff (start-0 split reads the whole file, other splits
    * yield 0 rows). */
  override def planInputPartitions(): Array[InputPartition] =
    ZeekPlanning.partitions(runtimeBind.files)

  override def createReaderFactory(): PartitionReaderFactory =
    ZeekPartitionReaderFactory(bind.header, bind.dataSchema, bind.opts, required, pushed,
      ZeekDataSource.broadcastConf(), limit)

  /** Streaming read: each trigger lists the patterns once; new files
    * become the micro-batch's partitions (Zeek's hourly-rotation model). */
  override def toMicroBatchStream(checkpointLocation: String): org.apache.spark.sql.connector.read.streaming.MicroBatchStream =
    new ZeekMicroBatchStream(bind, required, pushed,
      SparkSession.active.sessionState.newHadoopConf())
}

/** The files one task reads, in path order: whole files and byte ranges
  * of cut ones. `readAhead`: its compressed files inflate on a helper
  * thread ([[ZeekIO.openFile]]), set when the plan leaves task slots
  * idle. */
final case class ZeekInputPartition(specs: Seq[ZeekFileSpec], readAhead: Boolean)
    extends InputPartition

/** Input partitions of a Zeek scan or micro-batch, computed purely from
  * bind-time lengths (no filesystem RPCs at plan time) by Spark's own
  * file-scan rule (`FilePartition.maxSplitBytes` / `getFilePartitions`):
  *
  *  - `maxSplit = min(maxPartitionBytes, max(openCost, total / minPartitionNum))`,
  *    `total` summing each file's [[estimatedSize]] plus
  *    `spark.sql.files.openCostInBytes`, `minPartitionNum` defaulting to
  *    the default parallelism;
  *  - a plain file longer than `maxSplit` is cut into `maxSplit` byte
  *    ranges; a compressed one (by extension) is never cut;
  *  - the pieces are packed next-fit: a partition closes when the next
  *    piece would take it past `maxSplit`, and each piece adds its size
  *    plus the open cost.
  *
  * A log of tens of MB therefore still gets a task of its own — the
  * reference's one thread per file — while 150 tiny rotations share a
  * handful of tasks. Unlike Spark, pieces are walked in path order, not by
  * size, so a scan's row order stays the files' order.
  *
  * A plan of fewer partitions than `minPartitionNum` leaves task slots
  * idle, so its partitions read ahead: each compressed stream inflates on
  * a spare core while its task parses. A plan that fills the slots does
  * not, since there the helper threads would only contend with the
  * tasks for the cores. */
object ZeekPlanning {
  /** A file's or range's bytes as the planner and `estimateStatistics`
    * see them: the bind-time on-disk length (or the range's share of it),
    * times 6 for a compressed extension (its decompressed size); 0 when
    * the length is unknown. */
  def estimatedSize(spec: ZeekFileSpec): Long = {
    val len = math.max(spec.length, 0L)
    if (compressedExt(spec.path)) len * 6
    else math.max((if (spec.end >= 0) spec.end else len) - spec.start, 0L)
  }

  private def compressedExt(path: String): Boolean = {
    val lower = path.toLowerCase
    lower.endsWith(".gz") || lower.endsWith(".zst")
  }

  /** `files` in order, cut and packed into partitions. */
  def partitions(files: Seq[ZeekFileSpec]): Array[InputPartition] = {
    val sqlConf = SparkSession.active.sessionState.conf
    val openCost = sqlConf.filesOpenCostInBytes
    val minPartitionNum = sqlConf.filesMinPartitionNum
      .getOrElse(SparkSession.active.sparkContext.defaultParallelism)
    val total = files.map(estimatedSize(_) + openCost).sum
    val maxSplit = math.min(sqlConf.filesMaxPartitionBytes, math.max(openCost, total / minPartitionNum))

    // bind-time length; -1 (unknown) cuts nothing — no FS RPCs here
    val pieces = files.flatMap { spec =>
      val len = if (compressedExt(spec.path)) -1L else spec.length
      if (len <= maxSplit) Seq(spec)
      else (0L until len by maxSplit).map(start =>
        spec.copy(start = start, end = if (start + maxSplit >= len) -1L else start + maxSplit))
    }
    val out = Seq.newBuilder[List[ZeekFileSpec]]
    val current = scala.collection.mutable.ArrayBuffer.empty[ZeekFileSpec]
    var currentSize = 0L
    pieces.foreach { piece =>
      val size = estimatedSize(piece)
      if (current.nonEmpty && currentSize + size > maxSplit) {
        out += current.toList
        current.clear()
        currentSize = 0L
      }
      current += piece
      currentSize += size + openCost
    }
    if (current.nonEmpty) out += current.toList
    val packed = out.result()
    packed.map(ZeekInputPartition(_, readAhead = packed.length < minPartitionNum))
      .toArray[InputPartition]
  }

  /** The files of `bind` whose display path passes every filter in
    * `filters` that references only the `filename` virtual column,
    * through the same compiled predicate ([[ZeekFilterEval]]) the reader
    * tests rows with; other filters do not compile here and prune
    * nothing. */
  def pruneByFilename(bind: ZeekBind, filters: Array[Filter]): Seq[ZeekFileSpec] = {
    if (!bind.opts.filename || bind.dataSchema.fieldNames.contains("filename")) return bind.files
    val filenameOnly = (name: String) =>
      if (name == "filename") Some(ZeekFilterEval.Col(-2, ZeekTypes.TcString)) else None
    val fnameFilters = filters.flatMap(ZeekFilterEval.compile(_, filenameOnly))
    if (fnameFilters.isEmpty) return bind.files
    bind.files.filter { spec =>
      val cells = ZeekCells.ofPath(ZeekIO.displayPath(spec.path))
      fnameFilters.forall(_(cells, Array.emptyByteArray, 0))
    }
  }
}

/** Every scan, batch or micro-batch, COUNT(*) included, reads through the
  * one [[ZeekColumnarPartitionReader]]. The Hadoop configuration travels
  * as a broadcast, so the factory itself stays a few KB. */
final case class ZeekPartitionReaderFactory(
    boundHeader: ZeekHeader,
    dataSchema: StructType,
    opts: ZeekOptions,
    required: StructType,
    pushed: Array[Filter],
    conf: Broadcast[SerializableConfiguration],
    limit: Int = -1) extends PartitionReaderFactory {

  override def supportColumnarReads(partition: InputPartition): Boolean = true

  override def createReader(partition: InputPartition): PartitionReader[org.apache.spark.sql.catalyst.InternalRow] =
    throw new UnsupportedOperationException("Zeek data scans are columnar")

  override def createColumnarReader(partition: InputPartition): PartitionReader[org.apache.spark.sql.vectorized.ColumnarBatch] = {
    val p = partition.asInstanceOf[ZeekInputPartition]
    new ZeekColumnarPartitionReader(p.specs, p.readAhead, boundHeader, dataSchema, opts,
      required, pushed, conf.value.value, limit)
  }
}
