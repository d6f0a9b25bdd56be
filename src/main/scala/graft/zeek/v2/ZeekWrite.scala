package graft.zeek.v2

import java.nio.charset.StandardCharsets

import org.apache.hadoop.fs.Path
import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.write._
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.util.SerializableConfiguration

import graft.zeek._

/** Zeek TSV sink — `df.write.format("zeek").mode("append"|"overwrite")
  * .save(dir)`. The reference has no writer; this closes the loop so a
  * pipeline can land results as rotated zeek logs that this source (and
  * zeek tooling) reads straight back. Rendering is the exact inverse of
  * the scanner (see [[graft.zeek.ZeekWriteCore]]).
  *
  * Layout and scale model mirror the read side: ONE log file per input
  * partition (`part-NNNNN-<task>-<epoch>.log[.gz]`), written through the
  * Hadoop FileSystem API (works on HDFS/object stores), no driver-side
  * data movement. Tasks write through [[ZeekPartRoller]] (the part
  * writer `Zeek.recompress` shares) to a dot-prefixed temp name and
  * rename on task commit, so concurrent readers and task retries never
  * observe a half-written log; speculative duplicates are impossible to
  * commit twice under distinct names + rename-if-absent semantics.
  *
  * Options: `compression` = gzip|zstd|none (default none; both match the
  * reader's magic-byte sniffing), `zeek_path` = the `#path` directive
  * value (default: target directory's base name).
  * Appending to a directory that already holds zeek logs validates
  * field/type compatibility up front (the strict reader would otherwise
  * reject the mix at read time).
  */
class ZeekWriteBuilder(info: LogicalWriteInfo, dir: String,
    props: CaseInsensitiveStringMap) extends WriteBuilder with SupportsTruncate {

  private var truncateFirst = false
  override def truncate(): WriteBuilder = { truncateFirst = true; this }

  private def codec: String = ZeekParts.codec(Option(props.get("compression")))

  private def pathName: String = Option(props.get("zeek_path")).getOrElse(ZeekParts.logName(dir))

  private def maxRowsPerFile: Long =
    ZeekOptions.opt(props, "max_rows_per_file", " (must be > 0)")(_.toLongOption.filter(_ > 0))
      .getOrElse(Long.MaxValue)

  private def conf = ZeekDataSource.broadcastConf()

  override def build(): Write = new Write {
    override def toBatch: BatchWrite =
      new ZeekBatchWrite(info.schema(), dir, pathName, codec, truncateFirst, maxRowsPerFile, conf)

    /** Streaming: one log per epoch per partition, named
      * `part-q<qid>-e<epoch>-p<partition>.log[.gz]` — the rotation model
      * zeek itself uses, and exactly what the zeek SOURCE ingests per
      * trigger. `qid` is derived from the STREAMING QUERY ID (stable
      * across checkpoint restarts, distinct across queries), so each
      * query owns a private namespace in the directory: a fresh
      * checkpoint or a concurrent relay can never collide with — or be
      * cleaned up against — another run's rotations. Within a query,
      * final names are DETERMINISTIC in (epoch, partition): a replayed
      * epoch re-renders the same batch and overwrites the same files; a
      * speculative twin loses the rename race but leaves identical
      * content. Replays that produce FEWER files (changed partition
      * count, different roll points) are handled at driver commit, which
      * deletes any file of the SAME query+epoch the attempt did not
      * re-commit — exactly-once without a manifest even when upstream
      * partitioning is nondeterministic. */
    override def toStreaming: org.apache.spark.sql.connector.write.streaming.StreamingWrite = {
      if (truncateFirst)
        throw new ZeekFormatException(
          "zeek streaming sink supports append output mode only (logs are rotations, not snapshots)")
      val qid = java.util.UUID.nameUUIDFromBytes(
        info.queryId().getBytes(StandardCharsets.UTF_8)).toString.substring(0, 8)
      new ZeekStreamingWrite(info.schema(), dir, pathName, codec, maxRowsPerFile, qid, conf)
    }
  }
}

class ZeekStreamingWrite(schema: StructType, dir: String, pathName: String,
    codec: String, maxRowsPerFile: Long, qid: String, conf: Broadcast[SerializableConfiguration])
    extends org.apache.spark.sql.connector.write.streaming.StreamingWrite {

  override def createStreamingWriterFactory(info: PhysicalWriteInfo)
      : org.apache.spark.sql.connector.write.streaming.StreamingDataWriterFactory = {
    ZeekWriteCore.columns(schema) // validate on the driver
    val dirPath = new Path(dir)
    dirPath.getFileSystem(conf.value.value).mkdirs(dirPath)
    ZeekStreamingWriterFactory(schema, dir, pathName, codec, maxRowsPerFile, qid, conf)
  }

  override def commit(epochId: Long, messages: Array[WriterCommitMessage]): Unit = {
    // Epoch replay idempotence does NOT get to assume deterministic
    // partitioning: a restart with a different shuffle-partition count (or
    // a round-robin repartition upstream) can replay this epoch with fewer
    // partitions or fewer -rN rolls than the first attempt committed,
    // which would leave the first attempt's extra files visible as
    // duplicates. The task commit messages are the complete manifest of
    // THIS attempt — drop any other final file of the same QUERY + epoch.
    // The qid namespace makes this safe (another run's rotations can never
    // match the prefix), and the glob is scoped to the one epoch's prefix
    // so the cost is O(this epoch's files), not O(directory).
    val committed = messages.iterator.collect {
      case ZeekTaskCommit(paths) if paths.nonEmpty =>
        paths.split(',').iterator.map(p => new Path(p).getName)
    }.flatten.toSet
    val dirPath = new Path(dir)
    val fs = dirPath.getFileSystem(conf.value.value)
    val epochPrefix = f"part-q$qid-e$epochId%05d-"
    val stale = fs.globStatus(new Path(dirPath, epochPrefix + "*"))
    if (stale != null)
      stale.filter(s => !committed.contains(s.getPath.getName))
        .foreach(s => fs.delete(s.getPath, false))
  }

  override def abort(epochId: Long, messages: Array[WriterCommitMessage]): Unit = {
    // clear only THIS query's + epoch's temps — a concurrent writer's
    // in-progress files (or a racing restart's) must not be clobbered
    val dirPath = new Path(dir)
    ZeekParts.deleteGlob(dirPath.getFileSystem(conf.value.value), dirPath,
      f".zeek-part-q$qid-e$epochId%05d-*")
  }
}

final case class ZeekStreamingWriterFactory(schema: StructType, dir: String,
    pathName: String, codec: String, maxRowsPerFile: Long, qid: String,
    conf: Broadcast[SerializableConfiguration])
    extends org.apache.spark.sql.connector.write.streaming.StreamingDataWriterFactory {
  override def createWriter(partitionId: Int, taskId: Long, epochId: Long)
      : DataWriter[InternalRow] =
    new ZeekDataWriter(schema, dir, pathName, codec, partitionId, taskId, conf,
      epoch = Some(epochId), streamTag = qid, maxRowsPerFile = maxRowsPerFile)
}

class ZeekBatchWrite(schema: StructType, dir: String, pathName: String,
    codec: String, truncateFirst: Boolean, maxRowsPerFile: Long,
    conf: Broadcast[SerializableConfiguration]) extends BatchWrite {

  override def createBatchWriterFactory(info: PhysicalWriteInfo): DataWriterFactory = {
    ZeekWriteCore.columns(schema) // validate renderability on the driver, not mid-task
    val dirPath = new Path(dir)
    val fs = dirPath.getFileSystem(conf.value.value)
    ZeekParts.prepare(fs, dirPath, overwrite = truncateFirst)
    if (!truncateFirst) validateAppendCompatible(fs, dirPath)
    ZeekWriterFactory(schema, dir, pathName, codec, jobTag, maxRowsPerFile, conf)
  }

  /** Disambiguates part names across CONCURRENT applications appending
    * to the same directory (task ids restart per application), and
    * scopes this job's abort cleanup to its own temps and parts. */
  private val jobTag = java.util.UUID.randomUUID().toString.substring(0, 8)

  /** Appending mismatched columns would poison the directory for the
    * strict reader — fail fast against the existing canonical header. */
  private def validateAppendCompatible(fs: org.apache.hadoop.fs.FileSystem,
      dirPath: Path): Unit = {
    val existing = if (!fs.exists(dirPath)) Array.empty[org.apache.hadoop.fs.FileStatus]
      else fs.listStatus(dirPath).filterNot(_.isDirectory).filter(s => ZeekParts.isLog(s.getPath.getName))
    existing.headOption.foreach { s =>
      val header = ZeekIO.header(s.getPath.toString, conf.value.value)
      val cols = ZeekWriteCore.columns(schema)
      if (header.fields != cols.map(_.name).toSeq || header.types != cols.map(_.zeekType).toSeq)
        throw new ZeekFormatException(
          s"zeek sink: append schema (${cols.map(c => s"${c.name}:${c.zeekType}").mkString(", ")}) " +
            s"does not match existing log '${s.getPath.getName}' " +
            s"(${header.fields.zip(header.types).map { case (f, t) => s"$f:$t" }.mkString(", ")}); " +
            "use mode(\"overwrite\") or a fresh directory")
    }
  }

  override def commit(messages: Array[WriterCommitMessage]): Unit = ()

  /** Best effort, no half write: the job's temps and the parts its tasks
    * already committed go; a concurrent or earlier job's stay. */
  override def abort(messages: Array[WriterCommitMessage]): Unit = {
    val dirPath = new Path(dir)
    ZeekParts.deleteJob(dirPath.getFileSystem(conf.value.value), dirPath, jobTag)
  }
}

final case class ZeekTaskCommit(path: String) extends WriterCommitMessage

final case class ZeekWriterFactory(schema: StructType, dir: String,
    pathName: String, codec: String, jobTag: String, maxRowsPerFile: Long,
    conf: Broadcast[SerializableConfiguration]) extends DataWriterFactory {
  override def createWriter(partitionId: Int, taskId: Long): DataWriter[InternalRow] =
    new ZeekDataWriter(schema, dir, pathName, codec, partitionId, taskId, conf,
      jobTag = jobTag, maxRowsPerFile = maxRowsPerFile)
}

class ZeekDataWriter(schema: StructType, dir: String, pathName: String,
    codec: String, partitionId: Int, taskId: Long,
    conf: Broadcast[SerializableConfiguration], epoch: Option[Long] = None,
    jobTag: String = "", streamTag: String = "",
    maxRowsPerFile: Long = Long.MaxValue)
    extends DataWriter[InternalRow] {

  private val cols = ZeekWriteCore.columns(schema)

  /** Batch names carry the task id + a per-job tag (several appends —
    * even from concurrent applications — must not collide); streaming
    * names carry the query id and are deterministic in (epoch,
    * partition) within it, so epoch replays overwrite instead of
    * duplicating while other queries' rotations stay untouchable. Roll
    * points are data-deterministic, so streaming names stay
    * replay-stable. */
  private val stem = epoch match {
    case Some(e) => f"part-q$streamTag-e$e%05d-p$partitionId%05d"
    case None    => f"part-$partitionId%05d-$taskId-$jobTag"
  }

  private val parts = {
    val dirPath = new Path(dir)
    new ZeekPartRoller(dirPath.getFileSystem(conf.value.value), dirPath, stem, codec, taskId,
      maxRowsPerFile, () => ZeekWriteCore.header(cols, pathName, System.currentTimeMillis())
        .getBytes(StandardCharsets.UTF_8), ZeekWriteCore.Sep)
  }

  override def write(record: InternalRow): Unit = {
    val b = ZeekWriteCore.renderRow(cols, record).getBytes(StandardCharsets.UTF_8)
    parts.line(b, 0, b.length)
  }

  override def commit(): WriterCommitMessage = {
    // batch partition 0 always emits a file (a header-only log is valid —
    // an empty frame round-trips to an empty table with schema); all
    // other empty partitions — and every empty streaming epoch partition
    // — emit nothing
    ZeekTaskCommit(parts.commit(headerOnly = partitionId == 0 && epoch.isEmpty,
      replace = epoch.isDefined).mkString(","))
  }

  override def abort(): Unit = parts.abort()

  override def close(): Unit = parts.close()
}
