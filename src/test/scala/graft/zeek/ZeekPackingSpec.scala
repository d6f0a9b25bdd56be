package graft.zeek

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.zeek.SharedSpark.withConf
import graft.zeek.v2.{ZeekDataSource, ZeekInputPartition, ZeekMicroBatchStream, ZeekScan}

/** Zeek input partitions cut and pack files by Spark's file-scan rule, in
  * path order; readers move from file to file inside a partition, and
  * factories carry the Hadoop configuration as a broadcast. */
class ZeekPackingSpec extends AnyFunSuite with NoReadAheadLeak {
  private lazy val spark = SharedSpark.spark

  /** `n` logs of one fixed-width row each (`f000.log` …), so every file
    * has the same size. */
  private def tinyLogs(n: Int): (java.nio.file.Path, Seq[String]) = {
    val dir = ZeekFixtures.tempDir()
    val names = (0 until n).map(i => f"f$i%03d.log")
    names.zipWithIndex.foreach { case (name, i) =>
      ZeekFixtures.write(dir, name, ZeekFixtures.base("t", Seq((s"$i.0", f"ID$i%03d", s"$i"))))
    }
    (dir, names)
  }

  test("150 tiny files pack by Spark's file-scan rule, each file once, in path order") {
    val (dir, names) = tinyLogs(150)
    val df = spark.read.format("zeek").load(s"$dir/*.log")
    val planned = ZeekFixtures.plannedFiles(df)

    // Spark's rule, restated: a file costs its bytes plus the open cost,
    // and a partition holds what fits in
    // min(maxPartitionBytes, max(openCost, total / minPartitionNum))
    val size = new java.io.File(dir.toFile, names.head).length
    val openCost = spark.sessionState.conf.filesOpenCostInBytes
    val maxBytes = spark.sessionState.conf.filesMaxPartitionBytes
    val minParts = spark.sparkContext.defaultParallelism
    val maxSplit = math.min(maxBytes, math.max(openCost, 150 * (size + openCost) / minParts))
    val perPartition = Iterator.from(1).takeWhile(k => (k - 1) * (size + openCost) + size <= maxSplit).max
    assert(planned.map(_.size) == names.grouped(perPartition).map(_.size).toSeq, planned)
    if (minParts == 4) assert(planned.map(_.size) == Seq(32, 32, 32, 32, 22), planned)

    assert(planned.flatten == names, "every file planned once, in path order")
    assert(df.select("id").collect().map(_.getString(0)).toSeq ==
      (0 until 150).map(i => f"ID$i%03d"), "rows come back in file order")
  }

  test("minPartitionNum=1 packs several files into one partition; filename is per row") {
    val (dir, names) = tinyLogs(6)
    withConf("spark.sql.files.minPartitionNum" -> "1") {
      val df = spark.read.format("zeek").option("filename", "true").load(s"$dir/*.log")
      assert(ZeekFixtures.plannedFiles(df) == Seq(names))
      val rows = df.select("id", "filename").collect()
      assert(rows.length == 6)
      rows.foreach { r =>
        val i = r.getString(0).drop(2).toInt
        assert(r.getString(1).endsWith("/" + names(i)), r)
      }
    }
  }

  test("error_test trio in one partition: ignore_file_errors reads on past the bad files") {
    // FIXTURES.md error_test: a 0-byte gzip, a fake gzip, a valid log
    val dir = ZeekFixtures.tempDir()
    ZeekFixtures.writeRaw(dir, "corrupted.log.gz", Array.empty[Byte])
    ZeekFixtures.writeRaw(dir, "fake_gzip.log.gz", "this is not gzip content".getBytes("UTF-8"))
    ZeekFixtures.write(dir, "valid.log.gz",
      ZeekFixtures.base("t", Seq(("1.0", "A1", "100"), ("2.0", "A2", "200"))), gzip = true)
    withConf("spark.sql.files.minPartitionNum" -> "1") {
      val df = spark.read.format("zeek").option("ignore_file_errors", "true").load(s"$dir/*.log.gz")
      assert(ZeekFixtures.plannedFiles(df) ==
        Seq(Seq("corrupted.log.gz", "fake_gzip.log.gz", "valid.log.gz")))
      assert(df.orderBy("id").select("id", "value").collect()
        .map(r => (r.getString(0), r.getLong(1))).toSeq == Seq(("A1", 100L), ("A2", 200L)))
      assert(df.count() == 2)

      val e = intercept[Exception](spark.read.format("zeek").load(s"$dir/*.log.gz").collect())
      assert(e.getMessage.contains("corrupted.log.gz"), e.getMessage)

      // a bad file behind a valid one fails the read in the reader, named
      val dir2 = ZeekFixtures.tempDir()
      ZeekFixtures.write(dir2, "a_valid.log.gz",
        ZeekFixtures.base("t", Seq(("1.0", "A1", "100"))), gzip = true)
      ZeekFixtures.writeRaw(dir2, "b_fake_gzip.log.gz", "this is not gzip content".getBytes("UTF-8"))
      val strict = spark.read.format("zeek").load(s"$dir2/*.log.gz")
      assert(ZeekFixtures.plannedFiles(strict) == Seq(Seq("a_valid.log.gz", "b_fake_gzip.log.gz")))
      val e2 = intercept[Exception](strict.collect())
      val msgs = Iterator.iterate[Throwable](e2)(_.getCause).takeWhile(_ != null).map(_.getMessage)
      assert(msgs.exists(m => m != null && m.contains("b_fake_gzip.log.gz")), e2.toString)
    }
  }

  test("a pushed COUNT(*) over packed files is exact") {
    val dir = ZeekFixtures.tempDir()
    val counts = (0 until 40).map(i => i % 7)
    counts.zipWithIndex.foreach { case (n, i) =>
      ZeekFixtures.write(dir, f"c$i%02d.log", ZeekFixtures.base("t",
        (0 until n).map(j => (s"$j.0", s"R$i-$j", s"$j"))))
    }
    val df = spark.read.format("zeek").load(s"$dir/*.log").groupBy().count()
    val scans = df.queryExecution.sparkPlan.collect {
      case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec => b
    }
    // no column is read: the one scan, its projection empty
    assert(scans.map(_.scan.description) == Seq("ZeekScan files=40 required=[] pushed=[]"),
      scans.map(_.scan.description))
    val planned = ZeekFixtures.plannedFiles(df)
    assert(planned.length < 40 && planned.flatten.size == 40, planned)
    assert(df.collect().head.getLong(0) == counts.sum)
  }

  test("reader factories carry the Hadoop configuration as a broadcast, not inline") {
    val (dir, _) = tinyLogs(2)
    val bind = ZeekSchema.bind(Seq(s"$dir/*.log"), ZeekOptions(), spark.sessionState.newHadoopConf())
    def serializedBytes(o: AnyRef): Int = {
      val bytes = new java.io.ByteArrayOutputStream()
      val out = new java.io.ObjectOutputStream(bytes)
      out.writeObject(o)
      out.close()
      bytes.size
    }
    val factory = new ZeekScan(bind, bind.schema, Array(
      org.apache.spark.sql.sources.EqualTo("id", "ID000"))).createReaderFactory()
    assert(serializedBytes(factory) < 16 * 1024, "a serialized conf is ~113 KB")
    // one broadcast while the configuration is unchanged
    assert(ZeekDataSource.broadcastConf().id == ZeekDataSource.broadcastConf().id)
    assert(spark.read.format("zeek").load(s"$dir/*.log").filter(col("id") === "ID001").count() == 1)
  }

  test("a plan with fewer partitions than slots reads ahead; one that fills the slots does not") {
    val slots = spark.sparkContext.defaultParallelism
    assert(slots > 1, "the test session runs several task slots")
    val gz = ZeekFixtures.write(ZeekFixtures.tempDir(), "one.log.gz",
      ZeekFixtures.base("t", Seq(("1.0", "A1", "1"))), gzip = true)
    val (tiny, _) = tinyLogs(150)
    def readAhead(df: org.apache.spark.sql.DataFrame) =
      ZeekFixtures.plannedPartitions(df).map(_.readAhead)
    def load(path: String) = spark.read.format("zeek").load(path)

    assert(readAhead(load(gz)) == Seq(true))
    assert(readAhead(load(gz).groupBy().count()) == Seq(true), "the COUNT(*) scan too")
    val packed = readAhead(load(s"$tiny/*.log"))
    assert(packed.length >= slots && packed.forall(!_), packed)
    withConf("spark.sql.files.minPartitionNum" -> "1") {
      assert(readAhead(load(gz)) == Seq(false))
    }

    // a micro-batch plans by the same rule
    val conf = spark.sessionState.newHadoopConf()
    def microBatch(pattern: String) = {
      val bind = ZeekSchema.bind(Seq(pattern), ZeekOptions(), conf)
      val stream = new ZeekMicroBatchStream(bind, bind.schema, Array.empty, conf)
      val start = stream.initialOffset()
      stream.planInputPartitions(start, stream.latestOffset(start, stream.getDefaultReadLimit))
        .toSeq.map(_.asInstanceOf[ZeekInputPartition].readAhead)
    }
    assert(microBatch(gz) == Seq(true))
    val micro = microBatch(s"$tiny/*.log")
    assert(micro.length >= slots && micro.forall(!_), micro)
  }

  test("a plain file past Spark's split size is cut; every byte planned once, rows in order") {
    val dir = ZeekFixtures.tempDir()
    val small = Seq("a.log", "c.log", "d.log")
    small.zipWithIndex.foreach { case (name, i) =>
      ZeekFixtures.write(dir, name, ZeekFixtures.base("t", Seq((s"$i.0", s"S$i", s"$i"))))
    }
    // ~6 MB: longer than maxSplit = max(openCost, total / minPartitionNum)
    // at default confs with a default parallelism of 4 or more
    val sb = new StringBuilder(ZeekFixtures.header("t", Seq("ts", "id", "value"),
      Seq("time", "string", "count")))
    (0 until 250000).foreach(i => sb.append(f"$i.5\tB$i%07d\t$i\n"))
    ZeekFixtures.write(dir, "b.log", sb.toString)
    val bLen = new java.io.File(dir.toFile, "b.log").length

    def read() = spark.read.format("zeek").option("filename", "true").load(s"$dir/*.log")
    val df = read()
    val planned = ZeekFixtures.plannedSpecs(df)
    val flat = planned.flatten
    val pieces = flat.filter(_.path.endsWith("/b.log"))
    assert(pieces.length > 1, planned)
    // the ranges tile b.log: no byte twice, none left out
    assert(pieces.head.start == 0 && pieces.last.end == -1L, pieces)
    pieces.sliding(2).foreach { case Seq(x, y) => assert(x.end == y.start && x.end < bLen, pieces) }
    // small files whole, once each, and everything in path order
    assert(flat.map(_.path.split('/').last).distinct == Seq("a.log", "b.log", "c.log", "d.log"))
    assert(flat.filterNot(_.path.endsWith("/b.log")).forall(s => s.start == 0 && s.end == -1L))

    val unsplit = withConf("spark.sql.files.minPartitionNum" -> "1") {
      val whole = read()
      assert(ZeekFixtures.plannedSpecs(whole).flatten.count(_.path.endsWith("/b.log")) == 1)
      whole.select("id", "filename").collect().toSeq
    }
    val rows = df.select("id", "filename").collect().toSeq
    assert(rows.length == 250003)
    assert(rows == unsplit, "the cut read returns the unsplit read, in order")
    rows.foreach { r =>
      val expected = if (r.getString(0).startsWith("B")) "b.log"
        else small(r.getString(0).drop(1).toInt)
      assert(r.getString(1).endsWith("/" + expected), r)
    }
  }

  test("ignore_file_errors logs one WARN per skipped file, naming it and the cause") {
    val dir = ZeekFixtures.tempDir()
    ZeekFixtures.writeRaw(dir, "corrupted.log.gz", Array.empty[Byte])
    ZeekFixtures.writeRaw(dir, "fake_gzip.log.gz", "this is not gzip content".getBytes("UTF-8"))
    ZeekFixtures.write(dir, "valid.log.gz",
      ZeekFixtures.base("t", Seq(("1.0", "A1", "100"), ("2.0", "A2", "200"))), gzip = true)
    // a gzip cut short after its header: the read stops early
    val rows = (0 until 20000).map(i => (s"$i.0", s"T$i", s"$i"))
    val whole = java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(
      ZeekFixtures.write(ZeekFixtures.tempDir(), "t.log.gz", ZeekFixtures.base("t", rows), gzip = true)))
    ZeekFixtures.writeRaw(dir, "truncated.log.gz", whole.take(whole.length / 2))

    val (n, warnings) = ZeekFixtures.zeekWarnings(spark.read.format("zeek")
      .option("ignore_file_errors", "true").load(s"$dir/*.log.gz").count())
    assert(n > 2 && n < 20002, n)
    val named = warnings.filter(_.contains("corrupted.log.gz"))
    assert(named.nonEmpty && named.forall(_.contains("skipped")), warnings)
    assert(warnings.exists(w => w.contains("fake_gzip.log.gz") && w.contains("skipped")), warnings)
    assert(warnings.exists(w => w.contains("truncated.log.gz") && w.contains("stopped reading") &&
      w.contains("end of ZLIB")), warnings)
    assert(!warnings.exists(_.contains("valid.log.gz")), warnings)
    // one WARN per file at each place that passes over it: bind and scan
    assert(warnings.count(_.contains("corrupted.log.gz")) <= 2, warnings)

    val clean = ZeekFixtures.tempDir()
    ZeekFixtures.write(clean, "valid.log.gz",
      ZeekFixtures.base("t", Seq(("1.0", "A1", "100"))), gzip = true)
    val (m, none) = ZeekFixtures.zeekWarnings(spark.read.format("zeek")
      .option("ignore_file_errors", "true").load(s"$clean/*.log.gz").count())
    assert(m == 1 && none.isEmpty, none)
  }
}
