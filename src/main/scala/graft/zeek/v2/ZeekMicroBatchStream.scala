package graft.zeek.v2

import org.apache.hadoop.conf.Configuration
import org.apache.spark.sql.connector.read.{InputPartition, PartitionReaderFactory}
import org.apache.spark.sql.connector.read.streaming.{CompositeReadLimit, MicroBatchStream, Offset, ReadAllAvailable, ReadLimit, ReadMaxBytes, ReadMaxFiles, SupportsTriggerAvailableNow}
import org.apache.spark.sql.sources.Filter
import org.apache.spark.sql.types.StructType

import graft.zeek._

/** Streaming offset for the growing-directory source, compacted to a
  * modification-time watermark plus a recent-files window (the same
  * regime as Spark's FileStreamSource with a compacted log + maxAge).
  *
  * A file is "processed under offset o" iff `mtime < o.watermark -
  * o.slack` (below the window), or its path is in `o.boundary` (the
  * files listed within the window when the offset was taken). Inside
  * the slack window files are tracked BY PATH IDENTITY, so
  *  - a late-arriving file whose preserved mtime lands behind the
  *    watermark (rsync/copy with old mtimes, multi-writer clock skew)
  *    is still picked up, as long as it lands within the window, and
  *  - a file whose mtime is touched after ingestion (a glob matching
  *    the live, still-appended log) is NOT re-ingested while it stays
  *    in the window.
  * The offset carries only the window's files — bounded by rotation
  * rate × slack, not stream age (a full list of seen files breaks down
  * past ~10^5 files).
  *
  * Remaining documented invariant: a file that first appears with an
  * mtime below the WINDOW is assumed already processed and skipped —
  * the stream logs a warning when it sees that happen.
  *
  * A `{wm, boundary}` object without `slack` is the `slack = 0` case of
  * the window semantics.
  */
case class ZeekOffset(watermark: Long, boundary: Seq[String], slack: Long = 0L) extends Offset {

  @transient private lazy val boundarySet: Set[String] = boundary.toSet

  /** Has `path` (with mtime `t`) already been processed under this offset? */
  def processed(path: String, t: Long): Boolean =
    (watermark != Long.MinValue && t < watermark - slack) || boundarySet.contains(path)

  override def json(): String = {
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    val node = mapper.createObjectNode()
    node.put("wm", watermark)
    if (slack != 0L) node.put("slack", slack)
    val arr = node.putArray("boundary")
    boundary.foreach(arr.add)
    mapper.writeValueAsString(node)
  }
}

object ZeekOffset {
  val Empty: ZeekOffset = ZeekOffset(Long.MinValue, Seq.empty)

  /** The offset a checkpoint holds. A bare array of paths (a full list of
    * seen files, the format before the watermark offset) fails: its
    * query must restart from a fresh checkpoint. */
  def fromJson(json: String): ZeekOffset = {
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    val node = mapper.readTree(json)
    if (node.isArray)
      throw new ZeekFormatException(
        "zeek stream: the checkpoint's offset is a bare path array, which predates the " +
          "watermark offset format; restart the query with a fresh checkpoint location")
    val arr = node.get("boundary")
    val boundary = (0 until arr.size).map(arr.get(_).asText())
    val slack = Option(node.get("slack")).map(_.asLong()).getOrElse(0L)
    ZeekOffset(node.get("wm").asLong(), boundary, slack)
  }
}

/** Micro-batch streaming over a Zeek log directory: each trigger lists
  * the bind's patterns once, and cuts and packs the newly-appeared files
  * into partitions as a batch scan does ([[ZeekPlanning]]). The listing
  * `latestOffset(start, limit)` takes serves the same trigger's
  * `reportLatestOffset()` and `planInputPartitions`, as Spark's
  * FileStreamSource lists once per trigger. Schema is fixed at
  * stream start (the bind); new files are validated against it
  * per-partition exactly like the batch path (strict) or mapped by name
  * (union_by_name). */
class ZeekMicroBatchStream(
    bind: ZeekBind,
    required: StructType,
    pushed: Array[Filter],
    conf: Configuration) extends MicroBatchStream with SupportsTriggerAvailableNow {

  private val log = org.slf4j.LoggerFactory.getLogger(classOf[ZeekMicroBatchStream])

  // paths this stream instance has already seen in a listing — used only
  // to warn (once) when a file FIRST appears already below the window;
  // bounded by the directory's listing size, driver-side only
  @transient private val listedBefore = scala.collection.mutable.HashSet.empty[String]
  @transient private var firstPlan = true

  // expandGlob returns empty for an empty glob (no throw) — "no
  // files yet" is a normal streaming state
  private def listNow(): Seq[ZeekIO.GlobFile] =
    bind.patterns.flatMap(ZeekIO.expandGlob(_, conf)).distinct.sortBy(_.path)

  /** The last trigger's listing and the offset computed from it: the
    * trigger's `reportLatestOffset` and `planInputPartitions` reuse it
    * instead of listing again. */
  @transient private var trigger: Option[(Seq[ZeekIO.GlobFile], Offset)] = None

  private def remember(listed: Seq[ZeekIO.GlobFile], end: Offset): Offset = {
    trigger = Some((listed, end))
    end
  }

  override def initialOffset(): Offset = ZeekOffset.Empty

  override def latestOffset(): Offset = {
    val listed = listing()
    remember(listed, offsetFor(listed))
  }

  /** Watermark + window offset covering exactly `files`. Kept separate
    * from the listing so callers that already hold a listing (the
    * caught-up compaction in the rate-limited path) can compact WITHOUT
    * re-listing — a second listing could see a file that appeared in
    * between with an mtime below the new watermark minus slack, marking
    * it processed though it was never planned. */
  private def offsetFor(files: Seq[ZeekIO.GlobFile]): Offset =
    if (files.isEmpty) ZeekOffset.Empty
    else {
      val slack = bind.opts.streamMtimeSlackMs
      val wm = files.map(_.mtime).max
      ZeekOffset(wm, files.collect { case f if f.mtime >= wm - slack => f.path }, slack)
    }

  // ---- admission control ----------------------------------------------
  // At the reference's rotation model a restart (or a first run against
  // an existing directory) finds a large backlog; without a cap that is
  // ONE batch holding every file — no early commits, no incremental
  // progress, and a failure replays everything. A capped batch admits
  // the K oldest unprocessed files (mtime, then path — deterministic)
  // under an offset that leaves the watermark untouched, so the
  // remaining backlog stays "unprocessed" and drains over subsequent
  // triggers; the first uncapped batch re-compacts the offset back to
  // watermark + window form.

  override def getDefaultReadLimit: ReadLimit = {
    val limits = bind.opts.maxFilesPerTrigger.map(ReadLimit.maxFiles).toSeq ++
      bind.opts.maxBytesPerTrigger.map(ReadLimit.maxBytes).toSeq
    limits match {
      case Seq()  => ReadLimit.allAvailable()
      case Seq(l) => l
      case many   => ReadLimit.compositeLimit(many.toArray)
    }
  }

  override def reportLatestOffset(): Offset = trigger match {
    case Some((listed, _)) => offsetFor(listed)
    case None              => latestOffset()
  }

  /** Trigger.AvailableNow: snapshot the listing once; every subsequent
    * (rate-limited) batch of the run admits only snapshot files, so the
    * query drains exactly the start-time backlog and stops. */
  @transient private var availableNowSnapshot: Option[Seq[ZeekIO.GlobFile]] = None
  override def prepareForTriggerAvailableNow(): Unit =
    availableNowSnapshot = Some(listNow())

  /** A trigger's listing: the AvailableNow snapshot, or one glob per pattern. */
  private def listing(): Seq[ZeekIO.GlobFile] = availableNowSnapshot.getOrElse(listNow())

  /** Most restrictive (files, bytes) caps in `limit`; None = uncapped.
    * Row-based limits are not satisfiable before parsing and are
    * ignored, matching Spark's own file source. */
  private def caps(limit: ReadLimit): (Option[Int], Option[Long]) = limit match {
    case _: ReadAllAvailable => (None, None)
    case f: ReadMaxFiles     => (Some(f.maxFiles), None)
    case b: ReadMaxBytes     => (None, Some(b.maxBytes))
    case c: CompositeReadLimit =>
      c.getReadLimits.map(caps).foldLeft((Option.empty[Int], Option.empty[Long])) {
        case ((fa, ba), (fb, bb)) =>
          ((fa.toSeq ++ fb.toSeq).minOption, (ba.toSeq ++ bb.toSeq).minOption)
      }
    case _ => (None, None)
  }

  override def latestOffset(start: Offset, limit: ReadLimit): Offset = {
    val s = start.asInstanceOf[ZeekOffset]
    val (maxFiles, maxBytes) = caps(limit)
    if (maxFiles.isEmpty && maxBytes.isEmpty) return latestOffset()

    val listed = listing()
    val backlog = listed.filterNot(f => s.processed(f.path, f.mtime))
      .sortBy(f => (f.mtime, f.path))
    val admitted = {
      var bytes = 0L
      var n = 0
      backlog.takeWhile { f =>
        bytes += math.max(f.length, 0); n += 1
        // always admit the first file, else a file larger than the byte
        // cap would wedge the stream
        n == 1 || (maxFiles.forall(n <= _) && maxBytes.forall(bytes <= _))
      }
    }
    val end: Offset =
      if (admitted.isEmpty) start // no new data: engine sees offset unchanged
      else if (admitted.length == backlog.length) offsetFor(listed) // caught up: compact from THIS listing
      // Capped batch: the watermark must NOT advance — every un-admitted
      // backlog file has to stay unprocessed — so the end offset keeps
      // the start's below-window line and carries the admitted paths
      // (plus the start's still-relevant window files) in the boundary.
      // The boundary grows with the backlog while rate-limited and
      // re-compacts on the first uncapped batch.
      else ZeekOffset(s.watermark, (s.boundary ++ admitted.map(_.path)).distinct, s.slack)
    remember(listed, end)
  }

  override def deserializeOffset(json: String): Offset = ZeekOffset.fromJson(json)

  /** The batch for (start, end] keeps the listed files processed under
    * `end` but not under `start`. The listing is the one `end` was
    * computed from; an offset this instance did not compute (a batch
    * replayed from the offset log after a restart) lists the patterns
    * once. Replay determinism therefore also rests on the immutability
    * invariant above: a file DELETED between offset commit and a
    * checkpoint replay cannot be resurrected (same regime as Spark's
    * FileStreamSource with a maxAge/compacted log — log retention must
    * exceed the checkpoint-recovery window). */
  override def planInputPartitions(start: Offset, end: Offset): Array[InputPartition] = {
    val s = start.asInstanceOf[ZeekOffset]
    val e = end.asInstanceOf[ZeekOffset]
    val listed = trigger.collect { case (l, o) if o == end => l }.getOrElse(listNow())
    // a file FIRST listed with an mtime already below the start window is
    // assumed processed and skipped — surface the silent skip (not on the
    // first batch after (re)start, where every old file is legitimately
    // "already processed" per the recovered offset)
    if (!firstPlan) listed.foreach { f =>
      if (!listedBefore.contains(f.path) && s.processed(f.path, f.mtime))
        log.warn(s"zeek stream: newly listed file '${f.path}' (mtime ${f.mtime}) falls below " +
          s"the committed watermark window (wm=${s.watermark}, slack=${s.slack}) — " +
          "treating as already processed; back-dated files outside the " +
          "stream_mtime_slack_ms window are skipped")
    }
    firstPlan = false
    // keep only the CURRENT listing: rotated-out files drop from the set,
    // so it stays bounded by directory size, not stream age (a file that
    // vanishes and reappears below the window merely re-warns)
    listedBefore.clear()
    listedBefore ++= listed.map(_.path)
    // cut and packed like a batch scan's files
    ZeekPlanning.partitions(listed
      .filter(f => e.processed(f.path, f.mtime) && !s.processed(f.path, f.mtime))
      .map(f => ZeekFileSpec(f.path, None, length = f.length)))
  }

  override def createReaderFactory(): PartitionReaderFactory =
    ZeekPartitionReaderFactory(bind.header, bind.dataSchema, bind.opts, required, pushed,
      ZeekDataSource.broadcastConf(conf))

  override def commit(end: Offset): Unit = ()
  override def stop(): Unit = ()
}
