package graft.zeek

import java.io.{ByteArrayOutputStream, InputStream}
import java.nio.charset.StandardCharsets

import org.apache.hadoop.conf.Configuration
import org.scalatest.funsuite.AnyFunSuite

import graft.zeek.SharedSpark.withConf
import graft.zeek.v2.ZeekLineScanner

/** A compressed stream read ahead on a helper thread returns the bare
  * stream's bytes, ends and fails where it does, stops with its reader,
  * and lets an interrupt of the reading task through. */
class ZeekReadAheadSpec extends AnyFunSuite with NoReadAheadLeak {
  private lazy val spark = SharedSpark.spark
  private val conf = new Configuration()
  private val chunk = ReadAheadInputStream.ChunkBytes

  private def bigLog(rows: Int): String = ZeekFixtures.base("t",
    (0 until rows).map(i => (s"$i.25", f"ID$i%07d", s"${i * 7}")))

  /** Everything `in` returns, read with seeded random lengths (single
    * bytes, a few bytes, up to two chunks) at random offsets. */
  private def drain(in: InputStream, seed: Long): Array[Byte] = {
    val rnd = new scala.util.Random(seed)
    val out = new ByteArrayOutputStream()
    val buf = new Array[Byte](2 * chunk + 16)
    var n = 0
    while (n >= 0) {
      rnd.nextInt(3) match {
        case 0 =>
          n = in.read()
          if (n >= 0) out.write(n)
        case k =>
          val off = rnd.nextInt(16)
          val len = 1 + rnd.nextInt(if (k == 1) 100 else buf.length - off)
          n = in.read(buf, off, len)
          if (n > 0) out.write(buf, off, n)
      }
    }
    in.close()
    out.toByteArray
  }

  test("random read sizes return the bare stream's bytes, gzip and zstd") {
    val dir = ZeekFixtures.tempDir()
    val rnd = new scala.util.Random(7)
    def text(n: Int) = Iterator.continually(('a' + rnd.nextInt(26)).toChar).take(n).mkString
    val spanning = text(chunk - 10) + "\n" + text(40) + "\n" // a line across a chunk edge
    val longer = text(2 * chunk + 123) + "\n"                // a line longer than a chunk
    val contents = Seq("", "x", spanning, spanning + longer + bigLog(30000) + "tail")
    for ((content, i) <- contents.zipWithIndex; (codec, ci) <- Seq("gz", "zst").zipWithIndex) {
      val bytes = content.getBytes(StandardCharsets.UTF_8)
      val p = ZeekFixtures.write(dir, s"c$i.log.$codec", content, gzip = ci == 0, zstd = ci == 1)
      val ahead = ZeekIO.openFile(p, conf, readAhead = true)
      assert(ahead.compressed && ahead.in.isInstanceOf[ReadAheadInputStream])
      assert(drain(ahead.in, seed = i) sameElements bytes, s"$p read ahead")
      intercept[java.io.IOException](ahead.in.read()) // closed: fails, never waits
      assert(drain(ZeekIO.openFile(p, conf, readAhead = false).in, seed = i) sameElements bytes, p)
      // line by line, as a scan reads it
      val in = ZeekIO.openFile(p, conf, readAhead = true).in
      val lines = new ByteLineReader(in)
      val got = Iterator.continually(lines.next()).takeWhile(identity).map(_ => lines.lineString).toSeq
      in.close()
      val expected = content.split("\n", -1).toSeq
      assert(got == (if (expected.last.isEmpty) expected.init else expected), p)
    }
    val plain = ZeekIO.openFile(ZeekFixtures.write(dir, "plain.log", spanning), conf, readAhead = true)
    try assert(!plain.compressed && !plain.in.isInstanceOf[ReadAheadInputStream],
      "a plain file is read on the caller's thread")
    finally plain.in.close()
    assert(SharedSpark.readAheadThreads(waitMs = 0).isEmpty, "close joins the helper")
  }

  test("a truncated gzip fails, or stops under ignore_file_errors, as without read-ahead") {
    val dir = ZeekFixtures.tempDir()
    val whole = java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(
      ZeekFixtures.write(ZeekFixtures.tempDir(), "t.log.gz", bigLog(60000), gzip = true)))
    val p = ZeekFixtures.writeRaw(dir, "cut.log.gz", whole.take(whole.length / 2))
    def zeekError(e: Throwable): String =
      Iterator.iterate(e)(_.getCause).takeWhile(_ != null)
        .collectFirst { case z: ZeekFormatException => z.getMessage }.getOrElse(e.toString)
    /** (read-ahead planned, the strict read's error, ignore_file_errors' count and WARNs) */
    def read() = {
      val df = spark.read.format("zeek").load(p)
      val planned = ZeekFixtures.plannedPartitions(df).map(_.readAhead)
      val error = zeekError(intercept[Exception](df.collect()))
      val (n, warnings) = ZeekFixtures.zeekWarnings(spark.read.format("zeek")
        .option("ignore_file_errors", "true").load(p).select("id").collect().length)
      (planned, error, n, warnings)
    }
    val (aheadPlan, aheadError, aheadRows, aheadWarn) = read()
    val (barePlan, bareError, bareRows, bareWarn) =
      withConf("spark.sql.files.minPartitionNum" -> "1")(read())
    assert(aheadPlan == Seq(true) && barePlan == Seq(false))
    assert(aheadError.startsWith(s"Failed to read Zeek log '") && aheadError.contains("cut.log.gz") &&
      aheadError.contains("end of ZLIB"), aheadError)
    assert(aheadError == bareError)
    assert(aheadRows > 0 && aheadRows < 60000 && aheadRows == bareRows, (aheadRows, bareRows))
    assert(aheadWarn.exists(w => w.contains("cut.log.gz") && w.contains("stopped reading") &&
      w.contains("end of ZLIB")), aheadWarn)
    assert(aheadWarn == bareWarn)
  }

  test("LIMIT 1 and COUNT(*) over one large gzip return and leave no helper alive") {
    val p = ZeekFixtures.write(ZeekFixtures.tempDir(), "big.log.gz", bigLog(200000), gzip = true)
    val df = spark.read.format("zeek").load(p)
    val limited = df.limit(1)
    assert(ZeekFixtures.plannedPartitions(limited).map(_.readAhead) == Seq(true))
    assert(limited.collect().map(_.getString(1)).toSeq == Seq("ID0000000"))
    assert(SharedSpark.readAheadThreads().isEmpty)
    assert(df.count() == 200000)
    assert(SharedSpark.readAheadThreads().isEmpty)
  }

  test("an interrupt of the reading thread surfaces as an interrupt, not a skipped file") {
    val p = ZeekFixtures.write(ZeekFixtures.tempDir(), "big.log.zst", bigLog(200000), zstd = true)
    val spec = ZeekFileSpec(p, None)
    val opts = ZeekOptions(ignoreFileErrors = true)
    val (_, warnings) = ZeekFixtures.zeekWarnings {
      val s = new ZeekLineScanner(spec, opts, conf, readAhead = true)
      try {
        assert(s.init() && s.nextDataLine())
        Thread.currentThread().interrupt()
        intercept[InterruptedException](while (s.nextDataLine()) ())
      } finally { Thread.interrupted(); s.close() }

      // the header read of a partition reader's open
      val bind = ZeekSchema.bind(Seq(p), opts, conf)
      Thread.currentThread().interrupt()
      try intercept[InterruptedException](ZeekLineScanner.open(spec, bind.header, bind.dataSchema,
        opts, bind.schema, conf, readAhead = true))
      finally Thread.interrupted()
    }
    assert(warnings.isEmpty, warnings)
    assert(SharedSpark.readAheadThreads(waitMs = 0).isEmpty, "close joins the helper")
  }
}
