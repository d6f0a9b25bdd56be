package graft.zeek

import java.net.URI
import java.util.concurrent.atomic.AtomicInteger

import org.apache.hadoop.fs.{FileStatus, FSDataInputStream, Path => HPath, RawLocalFileSystem}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.zeek.SharedSpark.withConf
import graft.zeek.v2.ZeekScan

/** Local filesystem that counts metadata/open RPCs — planning must issue
  * none: file lengths are captured once at bind from the glob listing and
  * carried in each ZeekFileSpec. At the reference's files=threads scale
  * model (tens of thousands of rotated logs) one getFileStatus per file
  * per query is seconds of sequential driver time before the first task. */
class CountingLocalFs extends RawLocalFileSystem {
  override def getUri: URI = URI.create("countfs:///")
  override def getFileStatus(f: HPath): FileStatus = {
    CountingLocalFs.statCalls.incrementAndGet()
    super.getFileStatus(f)
  }
  override def open(f: HPath, bufferSize: Int): FSDataInputStream = {
    CountingLocalFs.openCalls.incrementAndGet()
    super.open(f, bufferSize)
  }
  override def listStatus(f: HPath): Array[FileStatus] = {
    CountingLocalFs.listCalls.incrementAndGet()
    super.listStatus(f)
  }
}

object CountingLocalFs {
  val statCalls = new AtomicInteger(0)
  val openCalls = new AtomicInteger(0)
  val listCalls = new AtomicInteger(0)
  def reset(): Unit = { statCalls.set(0); openCalls.set(0); listCalls.set(0) }
}

class ZeekPlanTimeSpec extends AnyFunSuite with NoReadAheadLeak {
  private lazy val spark = SharedSpark.spark

  test("plan time issues zero filesystem RPCs; splits use bind-time lengths") {
    val dir = ZeekFixtures.tempDir()
    val rows = (1 to 200).map(i => (s"$i.0", f"ID$i%05d", s"$i"))
    ZeekFixtures.write(dir, "a.log", ZeekFixtures.base("t", rows))
    ZeekFixtures.write(dir, "b.log", ZeekFixtures.base("t", rows.take(50)))

    val conf = spark.sessionState.newHadoopConf()
    conf.setClass("fs.countfs.impl", classOf[CountingLocalFs],
      classOf[org.apache.hadoop.fs.FileSystem])
    val bind = ZeekSchema.bind(Seq(s"countfs:$dir/*.log"),
      ZeekOptions(), conf)
    assert(bind.files.forall(_.length > 0), "bind must carry real lengths")

    CountingLocalFs.reset()
    val scan = new ZeekScan(bind, bind.schema,
      Array.empty[org.apache.spark.sql.sources.Filter])
    val parts = withConf("spark.sql.files.maxPartitionBytes" -> "1024")(
      scan.planInputPartitions())
    val stats = scan.estimateStatistics()
    assert(stats.sizeInBytes().getAsLong > 0)
    // a.log is ~4KB > 1KB split size → byte-range splits from the carried length
    assert(parts.length > bind.files.size, s"expected splits, got ${parts.length}")
    assert(CountingLocalFs.statCalls.get == 0,
      s"planning made ${CountingLocalFs.statCalls.get} getFileStatus calls")
    assert(CountingLocalFs.openCalls.get == 0,
      s"planning opened ${CountingLocalFs.openCalls.get} files")
  }

  test("array-column and pushed-filter reads plan a columnar scan") {
    import org.apache.spark.sql.execution.ColumnarToRowExec
    import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
    val dir = ZeekFixtures.tempDir()
    ZeekFixtures.write(dir, "conn.log", ZeekFixtures.connContent)
    val conn = spark.read.format("zeek").load(s"$dir/conn.log")
    def assertColumnar(df: org.apache.spark.sql.DataFrame): Unit = {
      val plan = df.queryExecution.executedPlan
      val scans = plan.collect { case b: BatchScanExec => b }
      val underC2R = plan.collect { case c: ColumnarToRowExec =>
        c.collect { case b: BatchScanExec => b } }.flatten
      assert(scans.nonEmpty && scans.forall(_.supportsColumnar) && underC2R.size == scans.size,
        plan.toString)
    }
    val arrays = conn.select("uid", "tags", "rtts")
    assertColumnar(arrays)
    assert(arrays.orderBy("uid").collect().map(r => (r.getSeq[String](1),
      r.getSeq[java.time.Duration](2).map(d => if (d == null) null else d.toMillis))).toSeq ==
      Seq((Seq("alpha", "beta"), Seq(10L, 20L)), (Nil, Nil),
        (Seq("g", null, "h"), Seq(1000L, null, 3500L))))
    val filtered = conn.filter(col("id_orig_p") > 54321).select("uid", "tags")
    assertColumnar(filtered)
    assert(filtered.queryExecution.executedPlan.toString.contains("pushed=[IsNotNull(id_orig_p)"))
    assert(filtered.collect().map(_.getString(0)).toSeq == Seq("CmFsdZ2rTGf6Ouv2R6"))
  }

  test("pushed COUNT(*) sums byte-range split partials exactly") {
    val dir = ZeekFixtures.tempDir()
    val rows = (1 to 500).map(i => (s"$i.0", f"ID$i%05d", s"$i"))
    ZeekFixtures.write(dir, "a.log", ZeekFixtures.base("t", rows))
    withConf("spark.sql.files.maxPartitionBytes" -> "1024") {
      val df = spark.read.format("zeek").load(s"$dir/a.log")
        .groupBy().count()
      // the one scan, reading no column
      val scans = df.queryExecution.sparkPlan.collect {
        case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec => b.scan.description
      }
      assert(scans == Seq("ZeekScan files=1 required=[] pushed=[]"), scans)
      // header lines live in split 0 only; each split counts its own range
      assert(df.collect().head.getLong(0) == 500L)
    }
  }

  test("one load binds once: its glob is listed once and each header read once") {
    val dir = ZeekFixtures.tempDir()
    for (n <- Seq("a", "b", "c"))
      ZeekFixtures.write(dir, s"$n.log", ZeekFixtures.base("t", Seq(("1.0", n, "1"), ("2.0", n, "2"))))
    val pattern = s"countfs:$dir/*.log"
    def calls() = (CountingLocalFs.listCalls.get, CountingLocalFs.openCalls.get)
    withConf("fs.countfs.impl" -> classOf[CountingLocalFs].getName) {
      CountingLocalFs.reset()
      ZeekIO.expandGlob(pattern, spark.sessionState.newHadoopConf())
      val oneGlob = CountingLocalFs.listCalls.get
      assert(oneGlob > 0, "a glob must list the directory")
      CountingLocalFs.reset()
      // union_by_name reads every header at bind; the bind inferSchema
      // made is the one the table plans with
      val df = spark.read.format("zeek").option("union_by_name", "true").load(pattern)
      assert(calls() == ((oneGlob, 3)), s"load made ${calls()}")
      assert(df.count() == 6L)
      // the scan opens each file once and lists nothing
      assert(calls() == ((oneGlob, 6)), s"load + count made ${calls()}")
    }
  }

  test("a log written right after a read is counted by the next read") {
    val dir = ZeekFixtures.tempDir()
    def count() = spark.read.format("zeek").load(s"$dir/*.log").count()
    ZeekFixtures.write(dir, "a.log", ZeekFixtures.base("t", Seq(("1.0", "A1", "1"))))
    assert(count() == 1L)
    ZeekFixtures.write(dir, "b.log", ZeekFixtures.base("t", Seq(("2.0", "B1", "2"), ("3.0", "B2", "3"))))
    assert(count() == 3L)
  }

  test("filename predicates prune whole files at plan time") {
    val dir = ZeekFixtures.tempDir()
    for (n <- Seq("a", "b", "c"))
      ZeekFixtures.write(dir, s"$n.log",
        ZeekFixtures.base("t", Seq(("1.0", s"${n.toUpperCase}1", "100"))))
    val df = spark.read.format("zeek").option("filename", "true").load(s"$dir/*.log")
      .filter(col("filename").endsWith("b.log"))
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("files=1"), "filename filter should prune to one file:\n" + plan.take(2000))
    val rows = df.collect()
    assert(rows.length == 1 && rows.head.getString(1) == "B1")
    // pruning to nothing yields zero rows, not an error
    assert(spark.read.format("zeek").option("filename", "true").load(s"$dir/*.log")
      .filter(col("filename").endsWith("zzz.log")).count() == 0)
    // unfiltered read still sees every file
    assert(spark.read.format("zeek").option("filename", "true").load(s"$dir/*.log").count() == 3)
  }

  test("plan-time filename pruning: an endsWith filter over two files plans one partition") {
    val dir = ZeekFixtures.tempDir()
    for (n <- Seq("a", "b"))
      ZeekFixtures.write(dir, s"$n.log", ZeekFixtures.base("t", Seq(("1.0", n, "100"))))
    val df = spark.read.format("zeek").option("filename", "true").load(s"$dir/*.log")
      .filter(col("filename").endsWith("b.log"))
    val scans = df.queryExecution.sparkPlan.collect {
      case s: org.apache.spark.sql.execution.datasources.v2.BatchScanExec => s
    }
    assert(scans.map(_.inputPartitions.length) == Seq(1), df.queryExecution.sparkPlan.toString)
    assert(ZeekFixtures.plannedFiles(df) == Seq(Seq("b.log")), df.queryExecution.sparkPlan.toString)
    assert(df.collect().map(_.getString(1)).toSeq == Seq("b"))
  }

  test("streaming: one trigger lists the patterns once; a replayed offset lists once") {
    import graft.zeek.v2.{ZeekInputPartition, ZeekMicroBatchStream, ZeekOffset}
    val dir = ZeekFixtures.tempDir()
    for (i <- 1 to 5) {
      val p = ZeekFixtures.write(dir, s"f$i.log",
        ZeekFixtures.base("t", Seq((s"$i.0", s"F$i", s"$i"))))
      assert(new java.io.File(p).setLastModified(1600000000000L + i * 10000L))
    }
    val conf = spark.sessionState.newHadoopConf()
    conf.setClass("fs.countfs.impl", classOf[CountingLocalFs],
      classOf[org.apache.hadoop.fs.FileSystem])
    val pattern = s"countfs:$dir/*.log"
    def calls() = (CountingLocalFs.listCalls.get, CountingLocalFs.statCalls.get,
      CountingLocalFs.openCalls.get)
    CountingLocalFs.reset()
    ZeekIO.expandGlob(pattern, conf)
    val oneGlob = calls()
    assert(oneGlob._1 > 0, "a glob must list the directory")
    def files(parts: Array[org.apache.spark.sql.connector.read.InputPartition]) =
      parts.toSeq.flatMap(_.asInstanceOf[ZeekInputPartition].specs.map(_.path.split('/').last))

    for ((cap, batches) <- Seq(None -> Seq(1 to 5), Some(2) -> Seq(1 to 2, 3 to 4, 5 to 5))) {
      val bind = ZeekSchema.bind(Seq(pattern), ZeekOptions(maxFilesPerTrigger = cap), conf)
      val stream = new ZeekMicroBatchStream(bind, bind.schema, Array.empty, conf)
      var start = stream.initialOffset()
      for (want <- batches) {
        CountingLocalFs.reset()
        val end = stream.latestOffset(start, stream.getDefaultReadLimit)
        val reported = stream.reportLatestOffset().asInstanceOf[ZeekOffset]
        val planned = files(stream.planInputPartitions(start, end))
        assert(calls() == oneGlob, s"cap $cap: one trigger made ${calls()}, one glob $oneGlob")
        assert(planned == want.map(i => s"f$i.log"), s"cap $cap")
        assert(reported.watermark == 1600000050000L, reported.toString)

        // a fresh stream asked to plan an offset it did not compute (a
        // batch replayed after a restart) lists once and plans the same files
        val fresh = new ZeekMicroBatchStream(bind, bind.schema, Array.empty, conf)
        CountingLocalFs.reset()
        val replayed = files(fresh.planInputPartitions(
          fresh.deserializeOffset(start.json), fresh.deserializeOffset(end.json)))
        assert(calls() == oneGlob, s"cap $cap: replay made ${calls()}, one glob $oneGlob")
        assert(replayed == planned, s"cap $cap")
        start = end
      }
      assert(stream.latestOffset(start, stream.getDefaultReadLimit) == start, "idle after the backlog")
    }
  }

  test("filename column golden form: plain path for local files") {
    val dir = ZeekFixtures.tempDir()
    ZeekFixtures.write(dir, "a.log",
      ZeekFixtures.base("t", Seq(("1.0", "A1", "100"))))
    val df = spark.read.format("zeek").option("filename", "true").load(s"$dir/*.log")
    val fn = df.select("filename").distinct().collect().map(_.getString(0))
    // the reference scanner reports plain paths for local logs — pin the
    // exact form (no "file:" scheme) as the documented output
    assert(fn.toSeq == Seq(s"$dir/a.log"), fn.mkString(","))
  }
}
