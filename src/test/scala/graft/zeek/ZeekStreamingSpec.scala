package graft.zeek

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Streaming reads over a growing Zeek log directory: each trigger picks
  * up exactly the newly-appeared files (hourly-rotation model). */
class ZeekStreamingSpec extends AnyFunSuite with NoReadAheadLeak {
  private lazy val spark = SharedSpark.spark

  test("micro-batch stream processes each file exactly once as files appear") {
    val dir = ZeekFixtures.tempDir()
    ZeekFixtures.write(dir, "a.log",
      ZeekFixtures.base("t", Seq(("1.0", "A1", "100"), ("2.0", "A2", "200"))))

    val stream = spark.readStream.format("zeek")
      .option("filename", "true")
      .load(s"$dir/*.log")
    val q = stream.writeStream.format("memory").queryName("zeek_stream")
      .outputMode("append").start()
    try {
      q.processAllAvailable()
      assert(spark.table("zeek_stream").count() == 2)

      // a new rotation appears
      ZeekFixtures.write(dir, "b.log", ZeekFixtures.base("t", Seq(("3.0", "B1", "300"))))
      q.processAllAvailable()
      val rows = spark.table("zeek_stream")
      assert(rows.count() == 3) // +1, and a.log NOT reprocessed
      assert(rows.filter(col("filename").endsWith("b.log")).count() == 1)

      // nothing new: no duplicates
      q.processAllAvailable()
      assert(spark.table("zeek_stream").count() == 3)
    } finally q.stop()
  }

  test("end-to-end: zeek directory stream through watermarked windowed aggregation") {
    val dir = ZeekFixtures.tempDir()
    // hour-1 and hour-2 events (epoch seconds; avoid 0 — it sits on the
    // initial watermark and would be dropped by the strict late filter)
    ZeekFixtures.write(dir, "h1.log", ZeekFixtures.base("t",
      Seq(("3700.0", "A1", "10"), ("3800.0", "A2", "20"), ("7300.0", "B1", "30"))))
    val stream = spark.readStream.format("zeek").load(s"$dir/*.log")
    val agg = graft.streaming.StreamOps.windowedEventCounts(
      stream, "ts", "id", "1 hour", "0 seconds")
    val q = agg.writeStream.format("memory").queryName("zeek_win")
      .outputMode("append").start()
    try {
      q.processAllAvailable()
      // second rotation pushes the watermark past hour 2 → both finalize
      ZeekFixtures.write(dir, "h2.log", ZeekFixtures.base("t", Seq(("11000.0", "C1", "5"))))
      q.processAllAvailable()
      val rows = spark.table("zeek_win").collect()
        .map(r => (r.getTimestamp(0).getTime / 1000, r.getString(1), r.getLong(2))).toSet
      assert(rows.contains((3600L, "A1", 1L)), rows.toString)
      assert(rows.contains((3600L, "A2", 1L)))
      assert(rows.contains((7200L, "B1", 1L)))
    } finally q.stop()
  }

  test("end-to-end: zeek stream into windowed top-k talkers (Space-Saving)") {
    import spark.implicits._
    import graft.streaming.StreamOps
    val dir = ZeekFixtures.tempDir()
    ZeekFixtures.write(dir, "h1.log", ZeekFixtures.base("t",
      Seq(("3700.0", "hostA", "1"), ("3710.0", "hostA", "1"), ("3720.0", "hostA", "1"),
        ("3730.0", "hostB", "1"), ("3740.0", "hostB", "1"), ("3750.0", "hostC", "1"))))
    val stream = spark.readStream.format("zeek").load(s"$dir/*.log")
    val ev = stream.select(col("ts"), col("id").as("key")).as[StreamOps.TopKEvent]
    val topk = StreamOps.windowedTopK(ev, windowMillis = 3600000L, k = 2,
      capacity = 16, watermarkDelay = "0 seconds")
    val q = topk.writeStream.format("memory").queryName("zeek_topk")
      .outputMode("append").start()
    try {
      q.processAllAvailable()
      // a later rotation advances the watermark past the first hour
      ZeekFixtures.write(dir, "h2.log", ZeekFixtures.base("t", Seq(("11000.0", "z", "1"))))
      q.processAllAvailable()
      val out = spark.table("zeek_topk").as[StreamOps.TopKOut].collect()
        .map(o => (o.window_start.getTime / 1000, o.rank, o.key, o.cnt)).toSet
      assert(out.contains((3600L, 1, "hostA", 3L)), out.toString)
      assert(out.contains((3600L, 2, "hostB", 2L)))
    } finally q.stop()
  }

  test("union_by_name stream maps late-arriving files by name") {
    val dir = ZeekFixtures.tempDir()
    val wide = ZeekFixtures.header("t", Seq("ts", "id", "value", "extra"),
      Seq("time", "string", "count", "string")) + ZeekFixtures.row("1.0", "W1", "100", "x")
    ZeekFixtures.write(dir, "a.log", wide)

    val stream = spark.readStream.format("zeek")
      .option("union_by_name", "true")
      .load(s"$dir/*.log")
    val q = stream.writeStream.format("memory").queryName("zeek_union_stream")
      .outputMode("append").start()
    try {
      q.processAllAvailable()
      // new file lacking `extra` (different column subset) arrives later
      ZeekFixtures.write(dir, "b.log", ZeekFixtures.base("t", Seq(("2.0", "N1", "200"))))
      q.processAllAvailable()
      val rows = spark.table("zeek_union_stream").orderBy("id").collect()
      assert(rows.length == 2)
      assert(rows(0).getString(1) == "N1" && rows(0).isNullAt(3)) // extra → NULL
      assert(rows(1).getString(1) == "W1" && rows(1).getString(3) == "x")
    } finally q.stop()
  }

  test("union_by_name stream ingests a rotation that GAINED a column (schema evolution)") {
    // zeek redeploys add fields to rotated logs mid-stream; the stream's
    // schema is fixed at bind, so the new field is ignored (name-mapped
    // projection) — the documented forward-compatible behavior. Catching
    // the new field needs a stream restart (fresh bind), same as Spark's
    // own file sources.
    val dir = ZeekFixtures.tempDir()
    ZeekFixtures.write(dir, "a.log", ZeekFixtures.base("t", Seq(("1.0", "A1", "100"))))

    val stream = spark.readStream.format("zeek")
      .option("union_by_name", "true")
      .load(s"$dir/*.log")
    val q = stream.writeStream.format("memory").queryName("zeek_gain_stream")
      .outputMode("append").start()
    try {
      q.processAllAvailable()
      val wider = ZeekFixtures.header("t", Seq("ts", "id", "value", "added"),
        Seq("time", "string", "count", "string")) + ZeekFixtures.row("2.0", "B1", "200", "new")
      ZeekFixtures.write(dir, "b.log", wider)
      q.processAllAvailable()
      val rows = spark.table("zeek_gain_stream").orderBy("id").collect()
      assert(rows.length == 2)
      assert(rows.map(_.getString(1)).toSeq == Seq("A1", "B1"))
      assert(rows(1).getLong(2) == 200L) // known columns mapped by name
      assert(!spark.table("zeek_gain_stream").columns.contains("added"))
    } finally q.stop()
  }

  test("compact offsets: watermark, json round-trip, bare arrays fail") {
    import graft.zeek.v2.ZeekOffset
    val o = ZeekOffset(1000L, Seq("f3", "f4"))
    // below watermark: processed regardless of boundary membership
    assert(o.processed("f1", 999L))
    // at watermark: only boundary files are processed
    assert(o.processed("f3", 1000L) && !o.processed("f9", 1000L))
    // above watermark: new
    assert(!o.processed("f5", 1001L))
    // round-trip through the checkpoint JSON
    val rt = ZeekOffset.fromJson(o.json())
    assert(rt == o, rt.toString)
    // the offset size is bounded by the boundary, not stream age
    assert(!o.json().contains("f1"))
    // an offset without slack is the slack = 0 case
    assert(ZeekOffset.fromJson("""{"wm":1000,"boundary":["f3","f4"]}""") == o)
    // a bare array of seen paths predates the watermark format: it fails,
    // naming the way out, rather than re-ingesting or skipping files
    val e = intercept[ZeekFormatException](ZeekOffset.fromJson("""["a.log","b.log"]"""))
    assert(e.getMessage.contains("predates the watermark offset format") &&
      e.getMessage.contains("fresh checkpoint"), e.getMessage)
  }

  test("slack window: path identity for files near the watermark") {
    import graft.zeek.v2.ZeekOffset
    val w = ZeekOffset(10000L, Seq("r1", "r2"), slack = 2000L)
    assert(w.processed("old", 7999L))    // below the window: assumed done
    assert(!w.processed("late", 8500L))  // in-window, NOT listed → next batch ingests it
    assert(w.processed("r1", 8500L))     // in-window, listed when offset was taken
    assert(w.processed("r2", 12000L))    // mtime touched after ingest → no re-ingest
    assert(!w.processed("new", 11000L))  // above watermark, unlisted
    val rt = ZeekOffset.fromJson(w.json())
    assert(rt == w, rt.toString)
  }

  test("admission control: capped offsets drain a backlog oldest-first, then compact") {
    import graft.zeek.v2.{ZeekInputPartition, ZeekOffset}
    val dir = ZeekFixtures.tempDir()
    for (i <- 1 to 5) {
      val p = ZeekFixtures.write(dir, s"f$i.log",
        ZeekFixtures.base("t", Seq((s"$i.0", s"F$i", s"$i"))))
      // strictly increasing mtimes pin the admission order
      assert(new java.io.File(p).setLastModified(1600000000000L + i * 10000L))
    }
    val conf = spark.sessionState.newHadoopConf()
    val bind = ZeekSchema.bind(Seq(s"$dir/*.log"),
      ZeekOptions(maxFilesPerTrigger = Some(2)), conf)
    val stream = new graft.zeek.v2.ZeekMicroBatchStream(bind, bind.schema, Array.empty, conf)
    val limit = stream.getDefaultReadLimit
    assert(limit.isInstanceOf[org.apache.spark.sql.connector.read.streaming.ReadMaxFiles])

    var s = stream.initialOffset()
    val batches = scala.collection.mutable.ArrayBuffer.empty[Seq[String]]
    var done = false
    while (!done && batches.length < 10) {
      val e = stream.latestOffset(s, limit)
      if (e == s) done = true
      else {
        batches += stream.planInputPartitions(s, e).toSeq
          .flatMap(_.asInstanceOf[ZeekInputPartition].specs.map(_.path.split('/').last))
        s = e
      }
    }
    assert(batches.map(_.size).toSeq == Seq(2, 2, 1), batches.toString)
    assert(batches.flatten.toSeq ==
      (1 to 5).map(i => s"f$i.log"), "oldest-first admission order")
    // the catching-up batch must compact back to watermark form
    val fin = s.asInstanceOf[ZeekOffset]
    assert(fin.watermark != Long.MinValue, fin.toString)
    // idle stream: offset unchanged
    assert(stream.latestOffset(s, limit) == s)
  }

  test("caught-up capped offset compaction does not re-list the directory") {
    // the compaction branch used to call latestOffset(), which re-lists; a
    // file appearing between the two listings with an mtime below the new
    // watermark minus slack would be stamped processed without ever being
    // planned. The compacted offset must come from the SAME listing the
    // admission decision used — provably, by filesystem call count.
    val dir = ZeekFixtures.tempDir()
    for (i <- 1 to 3) {
      val p = ZeekFixtures.write(dir, s"f$i.log",
        ZeekFixtures.base("t", Seq((s"$i.0", s"F$i", s"$i"))))
      assert(new java.io.File(p).setLastModified(1600000000000L + i * 10000L))
    }
    val conf = spark.sessionState.newHadoopConf()
    conf.setClass("fs.countfs.impl", classOf[CountingLocalFs],
      classOf[org.apache.hadoop.fs.FileSystem])
    // countfs is not in the dir-mtime cache allowlist → every listing is real
    val bind = ZeekSchema.bind(Seq(s"countfs:$dir/*.log"),
      ZeekOptions(maxFilesPerTrigger = Some(5)), conf)
    val stream = new graft.zeek.v2.ZeekMicroBatchStream(bind, bind.schema, Array.empty, conf)

    CountingLocalFs.reset()
    stream.latestOffset()
    val oneListing = CountingLocalFs.listCalls.get
    assert(oneListing > 0, "uncached latestOffset must hit the filesystem")

    // cap (5) exceeds the backlog (3) → the capped call catches up and
    // compacts; it must cost exactly ONE listing, not two
    CountingLocalFs.reset()
    val e = stream.latestOffset(stream.initialOffset(), stream.getDefaultReadLimit)
      .asInstanceOf[graft.zeek.v2.ZeekOffset]
    assert(CountingLocalFs.listCalls.get == oneListing,
      s"compaction re-listed: ${CountingLocalFs.listCalls.get} vs $oneListing list calls")
    assert(e.watermark == 1600000000000L + 3 * 10000L, e.toString)
  }

  test("admission control: max_bytes_per_trigger caps by size, always admits one file") {
    import graft.zeek.v2.ZeekInputPartition
    val dir = ZeekFixtures.tempDir()
    // two small files then one large; byte cap sized to fit both small
    // files together but force the large one into its own batch
    val sizes = scala.collection.mutable.ArrayBuffer.empty[(String, Long)]
    for ((n, rows) <- Seq(("a", 2), ("b", 2), ("c", 200))) {
      val p = ZeekFixtures.write(dir, s"$n.log", ZeekFixtures.base("t",
        (1 to rows).map(i => (s"$i.0", s"$n$i", s"$i"))))
      val f = new java.io.File(p)
      assert(f.setLastModified(1600000000000L + sizes.length * 10000L))
      sizes += ((s"$n.log", f.length()))
    }
    val cap = sizes(0)._2 + sizes(1)._2 // exactly the two small files
    val conf = spark.sessionState.newHadoopConf()
    val bind = ZeekSchema.bind(Seq(s"$dir/*.log"),
      ZeekOptions(maxBytesPerTrigger = Some(cap)), conf)
    val stream = new graft.zeek.v2.ZeekMicroBatchStream(bind, bind.schema, Array.empty, conf)
    val limit = stream.getDefaultReadLimit

    var s = stream.initialOffset()
    val batches = scala.collection.mutable.ArrayBuffer.empty[Seq[String]]
    var done = false
    while (!done && batches.length < 10) {
      val e = stream.latestOffset(s, limit)
      if (e == s) done = true
      else {
        batches += stream.planInputPartitions(s, e).toSeq
          .flatMap(_.asInstanceOf[ZeekInputPartition].specs.map(_.path.split('/').last))
        s = e
      }
    }
    assert(batches.map(_.toSet).toSeq ==
      Seq(Set("a.log", "b.log"), Set("c.log")), batches.toString)
  }

  test("Trigger.AvailableNow drains the start-time backlog in capped batches, then stops") {
    val dir = ZeekFixtures.tempDir()
    for (i <- 1 to 5) {
      val p = ZeekFixtures.write(dir, s"f$i.log",
        ZeekFixtures.base("t", Seq((s"$i.0", s"F$i", s"$i"))))
      assert(new java.io.File(p).setLastModified(1600000000000L + i * 10000L))
    }
    val stream = spark.readStream.format("zeek")
      .option("max_files_per_trigger", "2")
      .load(s"$dir/*.log")
    val q = stream.writeStream.format("memory").queryName("zeek_rate")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .outputMode("append").start()
    try {
      assert(q.awaitTermination(120000), "AvailableNow query must self-terminate")
      assert(spark.table("zeek_rate").count() == 5)
      // one row per file → batch input sizes show the 2/2/1 rate limit
      val sizes = q.recentProgress.map(_.numInputRows).filter(_ > 0).toSeq
      assert(sizes == Seq(2, 2, 1), sizes.toString)
    } finally q.stop()
  }

  test("back-dated file within the slack window is still ingested") {
    val dir = ZeekFixtures.tempDir()
    ZeekFixtures.write(dir, "a.log",
      ZeekFixtures.base("t", Seq(("1.0", "A1", "100"))))
    val stream = spark.readStream.format("zeek").load(s"$dir/*.log")
    val q = stream.writeStream.format("memory").queryName("zeek_backdate")
      .outputMode("append").start()
    try {
      q.processAllAvailable()
      assert(spark.table("zeek_backdate").count() == 1)
      // a file copied in with a PRESERVED OLD mtime (rsync-style), 60s
      // behind the committed watermark but inside the 5-minute slack
      // window — the round-2 watermark-only offset silently dropped this
      val aMtime = new java.io.File(s"$dir/a.log").lastModified()
      val cPath = ZeekFixtures.write(dir, "c.log",
        ZeekFixtures.base("t", Seq(("2.0", "C1", "300"))))
      assert(new java.io.File(cPath).setLastModified(aMtime - 60000L))
      q.processAllAvailable()
      assert(spark.table("zeek_backdate").count() == 2)
    } finally q.stop()
  }
}
