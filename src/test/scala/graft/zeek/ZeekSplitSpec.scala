package graft.zeek

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.zeek.SharedSpark.withConf

/** Byte-range splitting of uncompressed Zeek files longer than Spark's
  * split size (`spark.sql.files.maxPartitionBytes` here): results must be
  * identical to the unsplit read (every line exactly once, regardless of
  * where split boundaries fall), and compressed content must never be
  * split even when the extension lies. */
class ZeekSplitSpec extends AnyFunSuite {
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
}
