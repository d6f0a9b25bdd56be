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

class ZeekPlanTimeSpec extends AnyFunSuite {
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
      val p = df.queryExecution.executedPlan.toString
      assert(p.contains("ZeekCountScan"), p.take(2000))
      // header lines live in split 0 only; each split counts its own range
      assert(df.collect().head.getLong(0) == 500L)
    }
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

  test("streaming listing cache: unchanged dir mtime skips the re-glob") {
    val dir = ZeekFixtures.tempDir()
    for (n <- Seq("a", "b", "c"))
      ZeekFixtures.write(dir, s"$n.log",
        ZeekFixtures.base("t", Seq(("1.0", s"${n.toUpperCase}1", "100"))))
    // back-date the directory so the same-mtime-tick guard trusts the cache
    dir.toFile.setLastModified(System.currentTimeMillis() - 10000)

    val conf = spark.sessionState.newHadoopConf()
    conf.setClass("fs.countfs.impl", classOf[CountingLocalFs],
      classOf[org.apache.hadoop.fs.FileSystem])
    // the test FS is not in the built-in dir-mtime allowlist — opt it in
    // through the documented extension key
    conf.setStrings("graft.zeek.stream.cache.schemes", "countfs")
    val bind = ZeekSchema.bind(Seq(s"countfs:$dir/*.log"), ZeekOptions(), conf)
    val stream = new graft.zeek.v2.ZeekMicroBatchStream(bind, bind.patterns,
      bind.schema, Array.empty, conf)

    val o1 = stream.latestOffset() // populates the cache
    CountingLocalFs.reset()
    val o2 = stream.latestOffset()
    assert(o2 == o1)
    assert(CountingLocalFs.listCalls.get == 0,
      s"cached trigger re-listed the directory ${CountingLocalFs.listCalls.get} times")
    assert(CountingLocalFs.statCalls.get <= 1, // the one dir-mtime validity probe
      s"cached trigger made ${CountingLocalFs.statCalls.get} stat calls")

    // membership change (new rotation) must invalidate the cache
    ZeekFixtures.write(dir, "d.log",
      ZeekFixtures.base("t", Seq(("2.0", "D1", "200"))))
    val o3 = stream.latestOffset().asInstanceOf[graft.zeek.v2.ZeekOffset]
    assert(o3.boundary.exists(_.endsWith("d.log")),
      s"new file missed after dir change: ${o3.boundary}")

    // a dir modified within the granularity window is never served cached
    CountingLocalFs.reset()
    stream.latestOffset()
    assert(CountingLocalFs.listCalls.get > 0,
      "freshly-modified dir must re-list (same-tick create could hide)")

    // explicit opt-out always re-globs
    val noCache = new graft.zeek.v2.ZeekMicroBatchStream(
      bind.copy(opts = ZeekOptions(streamListingCache = Some(false))),
      bind.patterns, bind.schema, Array.empty, conf)
    noCache.latestOffset()
    CountingLocalFs.reset()
    noCache.latestOffset()
    assert(CountingLocalFs.listCalls.get > 0)
  }

  test("streaming listing cache: a watched path created after stream start is re-resolved") {
    // a plain (non-glob) pattern that doesn't exist at the first trigger
    // provisionally watches its PARENT; once the path is created as a
    // directory, files landing inside it never bump the parent's mtime —
    // the watched set must be re-resolved or the cache goes stale forever
    val root = ZeekFixtures.tempDir()
    val seed = ZeekFixtures.tempDir()
    ZeekFixtures.write(seed, "seed.log",
      ZeekFixtures.base("t", Seq(("1.0", "S1", "100"))))
    val conf = spark.sessionState.newHadoopConf()
    val bind = ZeekSchema.bind(Seq(s"$seed/*.log"), ZeekOptions(), conf)
    val logs = root.resolve("logs")
    val stream = new graft.zeek.v2.ZeekMicroBatchStream(
      bind, Seq(logs.toString), bind.schema, Array.empty, conf)

    // trigger 1: path missing → empty, parent provisionally watched
    assert(stream.latestOffset() == graft.zeek.v2.ZeekOffset.Empty)

    // the path appears as a directory; back-date mtimes so the
    // same-mtime-tick guard would otherwise trust a cached listing
    java.nio.file.Files.createDirectories(logs)
    val old = System.currentTimeMillis() - 10000
    root.toFile.setLastModified(old)
    logs.toFile.setLastModified(old)
    // trigger 2: still empty, but the watch must move onto `logs` itself
    assert(stream.latestOffset() == graft.zeek.v2.ZeekOffset.Empty)
    root.toFile.setLastModified(old)
    logs.toFile.setLastModified(old)
    stream.latestOffset() // trigger 3: caches the (empty) listing of `logs`

    // a file inside `logs` bumps logs' mtime but NOT the parent's — a
    // stale parent watch would serve the cached empty listing forever
    ZeekFixtures.write(logs, "x.log",
      ZeekFixtures.base("t", Seq(("2.0", "X1", "200"))))
    root.toFile.setLastModified(old)
    val o = stream.latestOffset().asInstanceOf[graft.zeek.v2.ZeekOffset]
    assert(o.boundary.exists(_.endsWith("x.log")),
      s"file created inside a late-appearing watched dir was missed: ${o.boundary}")
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
