package graftbench

import java.io.File

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.util.CaseInsensitiveStringMap

import graft.zeek.{ZeekFileSpec, ZeekIO, ZeekOptions}
import graft.zeek.v2.{ZeekDataSource, ZeekLineScanner, ZeekProjection}

/** The traced run: the workload's ops with and without spans and
  * listeners, then single-thread probes of the Zeek layers, timed from outside
  * around their public functions.
  *
  * Sources: `zeek.read.*` and `zeek.write.*` come from the workload's
  * own ops where it runs that leg; otherwise, and for the io, scan and
  * bind probes, from the scan-shaped corpus at `probeRoot` (the
  * workload's own corpus on zeek_scan, a small seeded one elsewhere). */
object Layers {
  type Metrics = Seq[(String, (Double, String))]
  private val Mb = 1048576.0
  private val Reps = 3

  /** Runs every op twice, untraced and traced, alternating which goes
    * first; returns the untraced and the traced op stats and the
    * per-layer metrics. The listeners are attached only around a traced
    * op, after the previous op's events have drained. */
  def traced(spark: SparkSession, workload: String, ops: Seq[Op], probeRoot: File,
      probeAnswers: Corpus.Answers, recompress: RecompressOps)
      : (Seq[Harness.OpStat], Seq[Harness.OpStat], Metrics) = {
    val sc = spark.sparkContext
    val exec = new ExecListener
    val plan = new PlanListener
    val tracer = new Tracer(true, sc)
    val ctx = Ctx(spark, tracer)
    val ctxOff = Ctx(spark, new Tracer(false, sc))
    var gcMs, jitMs = 0L
    def tracedOp(op: Op): Harness.OpStat = {
      Thread.sleep(200)
      sc.addSparkListener(exec)
      spark.listenerManager.register(plan)
      val j0 = Jvm.snap()
      val s = Harness.runOp(op, ctx)
      val j1 = Jvm.snap()
      gcMs += j1.gcMs - j0.gcMs
      jitMs += j1.jitMs - j0.jitMs
      exec.settle()
      sc.removeSparkListener(exec)
      spark.listenerManager.unregister(plan)
      s
    }
    val pairs = ops.zipWithIndex.map { case (op, i) =>
      if (i % 2 == 0) { val u = Harness.runOp(op, ctxOff); (u, tracedOp(op)) }
      else { val t = tracedOp(op); (Harness.runOp(op, ctxOff), t) }
    }
    val stats = pairs.map(_._2)
    tracer.write(new File(probeRoot.getParentFile, s"spans-$workload.jsonl"), exec)

    val spans = tracer.recorded
    def total(name: String) = spans.filter(_.name == name).map(s => (s.endNs - s.startNs) / 1e9).sum
    val buildIds = spans.filter(_.name == "build").map(_.id).toSet
    val buildJobs = exec.jobsBySpan.asScala.collect { case (id, n) if buildIds(id) => n.get() }.sum
    val tracedWall = stats.map(_.wallS).sum
    val untracedWall = pairs.map(_._1.wallS).sum
    val taskS = exec.taskRunMs.get / 1000.0

    val layer: Metrics = Seq(
      "query.build_s" -> (stats.map(_.buildS).sum, "s"),
      "query.build_jobs" -> (buildJobs.toDouble, "count"),
      "plan.ms" -> (plan.planMs.get.toDouble, "ms"),
      "exec.jobs" -> (exec.jobs.get.toDouble, "count"),
      "exec.stages" -> (exec.stages.get.toDouble, "count"),
      "exec.tasks" -> (exec.tasks.get.toDouble, "count"),
      "exec.task_s" -> (taskS, "s"),
      "exec.max_task_ms" -> (exec.maxTaskMs.get.toDouble, "ms"),
      "exec.parallelism" -> (taskS / math.max(total("exec") + total("write"), 1e-9), "ratio"),
      "exec.shuffle_read_mb" -> (exec.shuffleReadBytes.get / Mb, "MB"),
      "exec.shuffle_write_mb" -> (exec.shuffleWriteBytes.get / Mb, "MB"),
      "exec.spill_mb" -> (exec.spillBytes.get / Mb, "MB"),
      "exec.gc_ms" -> (exec.gcMs.get.toDouble, "ms"),
      "lineage.cached_mb" -> (tracer.cachedMbMax, "MB"),
      "lineage.checkpoint_mb" -> (tracer.checkpointMbMax, "MB"),
      "jvm.gc_s" -> (gcMs / 1000.0, "s"),
      "jvm.jit_s" -> (jitMs / 1000.0, "s"),
      "jvm.classes_loaded" -> (Jvm.snap().classes.toDouble, "count"),
      "trace_overhead_frac" -> (tracedWall / untracedWall - 1.0, "ratio"))

    (pairs.map(_._1), stats, layer ++ zeek(spark, stats, probeRoot, probeAnswers, recompress))
  }

  private def median(xs: Seq[Double]) = Harness.median(xs)
  private def timed[A](f: => A): (A, Double) = {
    val t0 = System.nanoTime(); val r = f; (r, (System.nanoTime() - t0) / 1e9)
  }

  private def zeek(spark: SparkSession, stats: Seq[Harness.OpStat], root: File,
      answers: Corpus.Answers, recompress: RecompressOps): Metrics = {
    val conf = spark.sessionState.newHadoopConf()
    val ctx = Ctx(spark, new Tracer(false, spark.sparkContext))
    def rate(leg: String): Option[Double] = {
      val s = stats.filter(_.leg == leg)
      if (s.isEmpty) None else Some(s.head.rows / median(s.map(_.wallS)))
    }

    // reader legs: own ops first, the probe corpus otherwise
    val legs = new ZeekLegs(root, answers)
    val reads = legs.all.map { op =>
      val own = if (recompress != null && op.leg != "full") None else rate(op.leg)
      val r = own.getOrElse {
        val s = (1 to Reps).map(_ => Harness.runOp(op, ctx))
        s.head.rows / median(s.map(_.wallS))
      }
      s"zeek.read.${op.leg}_rows_s" -> (r, "rows/s")
    }

    // sink: the workload's recompress ops, or a probe recompress of one
    // hourly conn log
    val srcGz = new File(root, "conn/conn.00.log.gz")
    val (writeRowsS, partsDir, srcBytes) =
      if (recompress != null) {
        (rate("recompress").get, recompress.outDir, drain(Seq(new File(recompress.source)), conf)._1)
      } else {
        val rows = answers("count").toLong / 24
        val out = new File(root.getParentFile, "probe_parts")
        val t = (1 to Reps).map(_ => timed(graft.zeek.Zeek.recompress(spark, srcGz.getAbsolutePath,
          out.getAbsolutePath, rowsPerFile = (rows + 3) / 4))._2)
        ZeekDataSource.clearBindCache()
        (rows / median(t), out, drain(Seq(srcGz), conf)._1)
      }
    val parts = Option(partsDir.listFiles()).toSeq.flatten.filter(_.getName.endsWith(".zst"))
    val outBytes = parts.map(_.length).sum

    val gz = Option(new File(root, "conn").listFiles()).toSeq.flatten.filter(_.getName.endsWith(".gz")).sortBy(_.getName)
    val gunzip = median((1 to Reps).map { _ => val (b, t) = drain(gz, conf); b / Mb / t })
    val zstd = median((1 to Reps).map { _ => val (b, t) = drain(parts, conf); b / Mb / t })

    // line split over an uncompressed log
    val plain = new File(root, "plain/conn.log")
    val split = median((1 to Reps).map { _ =>
      val (_, t) = timed(lines(plain, conf, keep = false))
      plain.length / Mb / t
    })

    // tokenize and parse, one thread, over lines already in memory
    val bind = ZeekDataSource.bind(new CaseInsensitiveStringMap(Map("path" -> srcGz.getAbsolutePath).asJava))
    val (fileHeader, buf) = lines(srcGz, conf, keep = true)
    val proj = new ZeekProjection(ZeekFileSpec(srcGz.getAbsolutePath, None), bind.header, bind.dataSchema,
      bind.opts, bind.dataSchema, fileHeader)
    def tokenizeAll(): Unit = buf.foreach(l => proj.tokenize(l, 0, l.length))
    def parseAll(): Unit = buf.foreach { l =>
      val n = proj.tokenize(l, 0, l.length)
      var c = 0
      while (c < proj.nReq) { proj.parseCol(c, l, n); c += 1 }
    }
    val tTok = median((1 to Reps).map(_ => timed(tokenizeAll())._2))
    val tParse = median((1 to Reps).map(_ => timed(parseAll())._2))
    // same bytes, one thread: decompress + split + tokenize + parse vs. decompress alone
    val floor = median((1 to Reps).map { _ =>
      val tFull = timed { lines(srcGz, conf, keep = true); parseAll() }._2
      tFull / drain(Seq(srcGz), conf)._2
    })

    // bind, never from the bind cache
    val driftOpts = new CaseInsensitiveStringMap(Map(
      "path" -> (new File(root, "drift").getAbsolutePath + "/*.log"), "union_by_name" -> "true").asJava)
    val binds = (1 to 5).map { _ =>
      ZeekDataSource.clearBindCache()
      timed(ZeekDataSource.bind(driftOpts))
    }
    ZeekDataSource.clearBindCache()

    reads ++ Seq(
      "zeek.io.gunzip_mb_s" -> (gunzip, "MB/s"),
      "zeek.io.zstd_mb_s" -> (zstd, "MB/s"),
      "zeek.scan.split_mb_s" -> (split, "MB/s"),
      "zeek.scan.tokenize_rows_s" -> (buf.length / tTok, "rows/s"),
      "zeek.scan.parse_rows_s" -> (buf.length / math.max(tParse - tTok, 1e-9), "rows/s"),
      "zeek.floor_ratio" -> (floor, "ratio"),
      "zeek.bind_ms" -> (median(binds.map(_._2)) * 1000, "ms"),
      "zeek.bind_files" -> (binds.head._1.files.length.toDouble, "count"),
      "zeek.write.rows_s" -> (writeRowsS, "rows/s"),
      "zeek.write.out_mb" -> (outBytes / Mb, "MB"),
      "zeek.write.files" -> (parts.length.toDouble, "count"),
      "zeek.write.compress_ratio" -> (srcBytes / math.max(outBytes, 1).toDouble, "ratio"))
  }

  /** Decompressed bytes of the files and the seconds to read them. */
  private def drain(files: Seq[File], conf: org.apache.hadoop.conf.Configuration): (Double, Double) = {
    val b = new Array[Byte](1 << 16)
    timed {
      files.map { f =>
        val in = ZeekIO.open(f.getAbsolutePath, conf)
        try { var n = 0L; var r = in.read(b); while (r >= 0) { n += r; r = in.read(b) }; n }
        finally in.close()
      }.sum.toDouble
    }
  }

  /** Runs the line scanner over a file; with `keep`, returns the header
    * and a copy of every data line. */
  private def lines(f: File, conf: org.apache.hadoop.conf.Configuration, keep: Boolean) = {
    val s = new ZeekLineScanner(ZeekFileSpec(f.getAbsolutePath, None), ZeekOptions(), conf)
    val out = scala.collection.mutable.ArrayBuffer.empty[Array[Byte]]
    if (s.init()) while (s.nextDataLine()) {
      if (keep) out += java.util.Arrays.copyOfRange(s.buf, s.lineStart, s.lineEnd)
    }
    s.close()
    (s.fileHeader, out.toArray)
  }
}
