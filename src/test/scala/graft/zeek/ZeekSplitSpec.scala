package graft.zeek

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.zeek.SharedSpark.withConf

/** Byte-range splitting of uncompressed Zeek files longer than Spark's
  * split size (`spark.sql.files.maxPartitionBytes` here): results must be
  * identical to the unsplit read (every line exactly once, regardless of
  * where split boundaries fall), and compressed content must never be
  * split even when the extension lies. */
class ZeekSplitSpec extends AnyFunSuite with NoReadAheadLeak {
  private lazy val spark = SharedSpark.spark

  private def bigLog(rows: Int): String = {
    val sb = new StringBuilder
    sb.append(ZeekFixtures.header("t", Seq("ts", "id", "value"), Seq("time", "string", "count")))
    var i = 0
    while (i < rows) {
      sb.append(s"$i.5\tid_$i\t${i * 3}\n")
      i += 1
    }
    sb.append("#close\t2026-01-22-02-30-59\n")
    sb.toString
  }

  test("split read == unsplit read, every row exactly once") {
    val dir = ZeekFixtures.tempDir()
    val content = bigLog(20000) // ~400 KB
    val p = ZeekFixtures.write(dir, "big.log", content)

    val unsplit = spark.read.format("zeek").load(p)
    val a = unsplit.select("id").collect().map(_.getString(0)).sorted
    // force many tiny splits so boundaries land mid-line all over the file
    withConf("spark.sql.files.maxPartitionBytes" -> "10000") {
      val split = spark.read.format("zeek").load(p)
      assert(split.rdd.getNumPartitions > 10, s"got ${split.rdd.getNumPartitions} partitions")

      assert(split.count() == 20000)
      val b = split.select("id").collect().map(_.getString(0)).sorted
      assert(a.sameElements(b))
      // values survive too (sum is position-independent)
      val sum = split.agg(org.apache.spark.sql.functions.sum("value")).collect().head.getLong(0)
      assert(sum == (0L until 20000L).map(_ * 3).sum)
      // filters still work across splits
      assert(split.filter(col("id") === "id_19999").count() == 1)
    }
  }

  test("compressed content with a lying extension is not split (no dup/loss)") {
    val dir = ZeekFixtures.tempDir()
    // gzip content in a plain .log name: planner will try to split by
    // extension; the reader's sniff must collapse it to the start-0 split
    val path = ZeekFixtures.write(dir, "lying.log", bigLog(5000), gzip = true)
    withConf("spark.sql.files.maxPartitionBytes" -> "4000") {
      val df = spark.read.format("zeek").load(path)
      assert(df.count() == 5000)
      assert(df.select("id").distinct().count() == 5000)
    }
  }

  test("invalid large plain file yields zero rows under ignore_file_errors (no garbage from ranged splits)") {
    val dir = ZeekFixtures.tempDir()
    ZeekFixtures.write(dir, "good.log", bigLog(1000))
    // 50 KB of non-zeek content in a plain .log name — big enough to be
    // range-split; every split must notice the invalid header
    val garbage = new StringBuilder
    (0 until 2000).foreach(i => garbage.append(s"random line $i with no header\n"))
    ZeekFixtures.write(dir, "junk.log", garbage.toString)

    withConf("spark.sql.files.maxPartitionBytes" -> "10000") {
      val df = spark.read.format("zeek")
        .option("ignore_file_errors", "true")
        .load(s"$dir/*.log")
      assert(df.count() == 1000) // only the valid file's rows
      // and without the flag the job fails rather than emitting garbage
      val e = intercept[Exception] {
        spark.read.format("zeek")
          .load(s"$dir/*.log").count()
      }
      assert(e.getMessage.contains("missing #fields") ||
        Option(e.getCause).exists(_.getMessage.contains("missing #fields")))
    }
  }

  test("union_by_name with ranged splits keeps per-file column maps") {
    val dir = ZeekFixtures.tempDir()
    ZeekFixtures.write(dir, "old.log", bigLog(5000))
    val wide = new StringBuilder
    wide.append(ZeekFixtures.header("t", Seq("ts", "id", "value", "extra"),
      Seq("time", "string", "count", "string")))
    (0 until 5000).foreach(i => wide.append(s"$i.5\twid_$i\t${i}\tx$i\n"))
    ZeekFixtures.write(dir, "wide.log", wide.toString)

    withConf("spark.sql.files.maxPartitionBytes" -> "20000") {
      val df = spark.read.format("zeek")
        .option("union_by_name", "true")
        .load(s"$dir/*.log")
      assert(df.rdd.getNumPartitions > 4)
      assert(df.count() == 10000)
      assert(df.filter(col("extra").isNull).count() == 5000)  // old.log rows
      assert(df.filter(col("extra").isNotNull).count() == 5000)
    }
  }

  test("split boundaries exactly on newlines do not duplicate lines") {
    val dir = ZeekFixtures.tempDir()
    // constant-width rows so some split boundary lands exactly at a line start
    val sb = new StringBuilder
    sb.append(ZeekFixtures.header("t", Seq("id"), Seq("string")))
    (0 until 1000).foreach(i => sb.append(f"x$i%08d\n")) // 10 bytes per line
    val p = ZeekFixtures.write(dir, "fixed.log", sb.toString)
    withConf("spark.sql.files.maxPartitionBytes" -> "100") {
      val df = spark.read.format("zeek").load(p)
      assert(df.count() == 1000)
      assert(df.distinct().count() == 1000)
    }
  }

  test("a micro-batch cuts and packs plain files exactly as a batch scan does") {
    val dir = ZeekFixtures.tempDir()
    ZeekFixtures.write(dir, "a.log", bigLog(3000))
    ZeekFixtures.write(dir, "b.log", bigLog(10))
    val conf = spark.sessionState.newHadoopConf()
    val bind = ZeekSchema.bind(Seq(s"$dir/*.log"), ZeekOptions(), conf)
    withConf("spark.sql.files.maxPartitionBytes" -> "10000") {
      val batch = new graft.zeek.v2.ZeekScan(bind, bind.schema, Array.empty).planInputPartitions()
      val stream = new graft.zeek.v2.ZeekMicroBatchStream(bind, bind.schema, Array.empty, conf)
      val start = stream.initialOffset()
      val micro = stream.planInputPartitions(start, stream.latestOffset(start, stream.getDefaultReadLimit))
      def ranges(parts: Array[org.apache.spark.sql.connector.read.InputPartition]) =
        parts.toSeq.map(_.asInstanceOf[graft.zeek.v2.ZeekInputPartition].specs
          .map(f => (f.path.split('/').last, f.start, f.end)))
      assert(ranges(batch).flatten.count(_._1 == "a.log") > 1, ranges(batch))
      assert(ranges(micro) == ranges(batch))
    }
  }

  test("recompress: one big gzip file becomes multi-part zstd with identical rows") {
    val dir = ZeekFixtures.tempDir()
    // a compressed file is ONE partition no matter its size — the
    // 1 TB .gz problem in miniature
    val p = ZeekFixtures.write(dir, "conn.log.gz", bigLog(20000), gzip = true)
    val single = spark.read.format("zeek").load(p)
    assert(single.rdd.getNumPartitions == 1)

    val out = Zeek.recompress(spark, p, s"$dir/parts", rowsPerFile = 3000L)
    val parts = new java.io.File(out).listFiles()
      .filter(f => f.getName.endsWith(".log.zst")).map(_.getName).toSeq
    assert(parts.size >= 7, s"expected >= 7 rotated parts, got $parts")

    val multi = spark.read.format("zeek").load(s"$out/*.log.zst")
    // parallelism restored: every part planned exactly once, over more
    // than the single gzip's one partition
    val planned = ZeekFixtures.plannedFiles(multi)
    assert(planned.flatten.sorted == parts.sorted, planned.toString)
    assert(planned.length > 1, planned.toString)
    // identical content: same rows, same values, schema preserved
    assert(multi.schema == single.schema)
    assert(multi.count() == 20000)
    val a = single.select("id", "value").collect()
      .map(r => (r.getString(0), r.getLong(1))).sortBy(_._1).toSeq
    val b = multi.select("id", "value").collect()
      .map(r => (r.getString(0), r.getLong(1))).sortBy(_._1).toSeq
    assert(a == b)
    // the #path directive carried over from the input's own header
    val firstPart = new java.io.File(out).listFiles()
      .filter(_.getName.endsWith(".log.zst")).head
    val header = ZeekIO.header(firstPart.getAbsolutePath,
      spark.sessionState.newHadoopConf())
    assert(header.path.contains("t"), header.path.toString)
  }

  private def chainMessages(t: Throwable): String =
    Iterator.iterate(t)(_.getCause).takeWhile(_ != null).map(_.getMessage).mkString(" | ")

  /** The decompressed lines of a file, through the reader's opener. */
  private def textLines(path: String): Seq[String] = {
    val in = ZeekIO.open(path, spark.sessionState.newHadoopConf())
    try scala.io.Source.fromInputStream(in, "UTF-8").getLines().toList
    finally in.close()
  }

  /** The files of `dir` but the local filesystem's `.crc` checksums. */
  private def names(dir: String): Seq[String] =
    new java.io.File(dir).listFiles().map(_.getName).filterNot(_.endsWith(".crc")).sorted.toSeq

  private def parts(dir: String): Seq[String] =
    names(dir).filter(_.endsWith(".log.zst")).map(n => s"$dir/$n")

  private def rowsOf(path: String): Seq[String] =
    spark.read.format("zeek").load(path).collect().map(_.toString).sorted.toSeq

  test("recompress copies lines: custom separator and markers, escaped text and exact times survive") {
    val dir = ZeekFixtures.tempDir()
    val src = Seq(
      "#separator \\x7c",
      "#set_separator|;",
      "#empty_field|EMPTY",
      "#unset_field|NULL",
      "#path|custom",
      "#open|2026-01-16-00-00-01",
      "#fields|ts|s|tags|n",
      "#types|time|string|set[string]|count",
      "1612345678.123456789|a\\x09b|-|1",
      "",
      "NULL|plain|x;y|2",
      "# a mid-file comment",
      "1.5|EMPTY|NULL|NULL",
      "1.000000001|-|-;NULL|4",
      "2.25|(empty)|EMPTY|5",
      "#close|2026-01-16-01-00-00")
    val p = ZeekFixtures.write(dir, "custom.log.gz", src.mkString("", "\n", "\n"), gzip = true)
    val out = s"$dir/parts"
    Zeek.recompress(spark, p, out, rowsPerFile = 2L)

    val ps = parts(out)
    assert(ps.length == 3, ps.toString)
    val texts = ps.map(textLines)
    // every part: the source's directives verbatim but #close, then data, then a fresh #close
    val directives = src.take(8)
    texts.foreach { t =>
      assert(t.take(8) == directives, t.toString)
      assert(t.last.startsWith("#close|") && t.last != src.last, t.last)
    }
    val data = src.filter(l => l.nonEmpty && !l.startsWith("#"))
    assert(texts.flatMap(_.drop(8).dropRight(1)) == data)
    val srcDf = spark.read.format("zeek").load(p)
    val partsDf = spark.read.format("zeek").load(s"$out/*.log.zst")
    assert(partsDf.schema == srcDf.schema)
    assert(rowsOf(s"$out/*.log.zst") == rowsOf(p))
    val r = partsDf.filter(col("n") === 1).select("s", "tags").collect().head
    assert(r.getString(0) == "a\\x09b" && r.getSeq[String](1) == Seq("-"), r.toString)
  }

  test("recompress of a glob: one task per file, each file's rows in its own parts") {
    val dir = ZeekFixtures.tempDir()
    val header = ZeekFixtures.header("t", Seq("ts", "id", "value"), Seq("time", "string", "count"))
    for (f <- Seq("a", "b", "c"))
      ZeekFixtures.write(dir, s"$f.log.gz",
        header + (0 until 4).map(i => s"$i.5\t${f}_$i\t$i\n").mkString, gzip = true)
    val out = s"$dir/parts"
    val sc = spark.sparkContext
    val jobs = new java.util.concurrent.ConcurrentLinkedQueue[Int]()
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(j: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        if (j.properties != null && j.properties.getProperty("spark.jobGroup.id") == "recompress-glob")
          jobs.add(j.stageInfos.map(_.numTasks).sum)
    }
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup("recompress-glob", "recompress of three files")
      try Zeek.recompress(spark, s"$dir/*.log.gz", out, rowsPerFile = 3L)
      finally sc.clearJobGroup()
      val deadline = System.currentTimeMillis() + 10000
      while (jobs.isEmpty && System.currentTimeMillis() < deadline) Thread.sleep(20)
    } finally sc.removeSparkListener(listener)
    assert(jobs.toArray.toSeq == Seq(3), "one job of one task per input file")

    val ps = parts(out)
    assert(ps.length == 6, ps.toString) // 4 rows per file, 3 per part
    for ((f, i) <- Seq("a", "b", "c").zipWithIndex) {
      val own = ps.filter(_.split('/').last.startsWith(f"part-$i%05d-"))
      assert(own.length == 2, s"$f: $ps")
      val ids = own.flatMap(textLines).filterNot(_.startsWith("#")).map(_.split('\t')(1))
      assert(ids == (0 until 4).map(k => s"${f}_$k"), ids.toString)
    }
    assert(rowsOf(s"$out/*.log.zst") == rowsOf(s"$dir/*.log.gz"))
  }

  test("recompress of a glob with a mismatched header fails naming the file") {
    val dir = ZeekFixtures.tempDir()
    ZeekFixtures.write(dir, "a.log", bigLog(10))
    val odd = ZeekFixtures.write(dir, "b.log",
      ZeekFixtures.header("t", Seq("ts", "id"), Seq("time", "string")) + "1.5\tx\n")
    val out = s"$dir/parts"
    val e = intercept[Exception](Zeek.recompress(spark, s"$dir/*.log", out))
    val msg = chainMessages(e)
    assert(msg.contains(odd) && msg.contains("mismatch"), msg)
    assert(names(out).isEmpty, "a failed rewrite leaves none of its parts: " + names(out))
  }

  test("recompress of a truncated gzip fails naming the file and leaves no part or temp") {
    val dir = ZeekFixtures.tempDir()
    val whole = java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(
      ZeekFixtures.write(dir, "whole.log.gz", bigLog(20000), gzip = true)))
    val p = ZeekFixtures.writeRaw(dir, "cut.log.gz", whole.take(whole.length / 2))
    val out = s"$dir/parts"
    val e = intercept[Exception](Zeek.recompress(spark, p, out, rowsPerFile = 3000L))
    assert(chainMessages(e).contains(p), chainMessages(e))
    assert(names(out).isEmpty, names(out).toString)
  }

  test("a second recompress into the same directory leaves only its parts and keeps foreign files") {
    val dir = ZeekFixtures.tempDir()
    val p = ZeekFixtures.write(dir, "conn.log.gz", bigLog(9000), gzip = true)
    val out = s"$dir/parts"
    Zeek.recompress(spark, p, out, rowsPerFile = 2000L)
    assert(parts(out).length == 5)
    val foreign = new java.io.File(out, "README.txt")
    java.nio.file.Files.write(foreign.toPath, "keep me".getBytes("UTF-8"))
    Zeek.recompress(spark, p, out, rowsPerFile = 5000L)
    assert(parts(out).length == 2, names(out).toString)
    assert(names(out).toSet == parts(out).map(_.split('/').last).toSet + "README.txt")
    assert(rowsOf(s"$out/*.log.zst") == rowsOf(p))
    // the parts as input of a rewrite into their own directory would be
    // deleted before they are read: refused, and the parts stay
    val e = intercept[ZeekFormatException](Zeek.recompress(spark, s"$out/*.log.zst", out))
    assert(e.getMessage.contains("output directory"), e.getMessage)
    assert(parts(out).length == 2)
  }

  test("recompress of a header-only source yields one header-only part, #path from its name") {
    val dir = ZeekFixtures.tempDir()
    val header = ZeekFixtures.header("t", Seq("ts", "id"), Seq("time", "string"))
      .linesWithSeparators.filterNot(_.startsWith("#path")).mkString
    val p = ZeekFixtures.write(dir, "empty.log", header + "#close\t2026-01-16-01-00-00\n")
    val out = s"$dir/parts"
    Zeek.recompress(spark, p, out)
    val ps = parts(out)
    assert(ps.length == 1, ps.toString)
    val text = textLines(ps.head)
    assert(text.forall(_.startsWith("#")))
    assert(text.indexOf("#path\tempty") >= 0 &&
      text.indexOf("#path\tempty") < text.indexWhere(_.startsWith("#open")), text.toString)
    val back = spark.read.format("zeek").load(ps.head)
    assert(back.schema == spark.read.format("zeek").load(p).schema)
    assert(back.count() == 0)
  }
}
