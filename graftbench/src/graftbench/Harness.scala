package graftbench

import java.io.File

import scala.util.Random
import scala.util.control.NonFatal

import org.apache.spark.sql.SparkSession

/** The benchmark's JVM side: one closed-loop client driving one workload
  * through `local[cpus]`, printing one record line and then one result
  * line (see graftbench/README.md for the workloads and metrics).
  *
  * Usage: graftbench.Harness --workload W --seed N --seconds S --trace 0|1
  *   --cpus C --tables DIR --work DIR --expected FILE
  *   [--record-expected FILE]
  *   graftbench.Harness --selftest 1 --work DIR
  */
object Harness {
  val Workloads = Seq("zeek_scan", "zeek_recompress", "headline_sql", "graph_iter")

  val GraphQueries = Seq("q75_graph_pagerank", "q137_neighborhood_function", "q138_hyperball",
    "q127_weighted_paths", "q128_kcore", "d09_dedup_clusters", "e10_embedding_clusters")

  /** Corpus sizes: the zeek_scan corpus, the smaller probe corpus the
    * traced run of the other workloads reads, and the recompress log. */
  val ScanSizes = Corpus.Sizes(connRowsPerHour = 4000, plainRows = 20000, wideRows = 6000,
    dnsRows = 30000, driftFiles = 150, driftRows = 40)
  val ProbeSizes = Corpus.Sizes(connRowsPerHour = 1000, plainRows = 20000, wideRows = 2000,
    dnsRows = 5000, driftFiles = 60, driftRows = 20)
  val BigRows = 60000
  val RecompressParts = 6

  /** Nominal seconds of one pass of each workload on a 4-core host; the
    * number of passes is `seconds / nominal`, so the work done for a
    * given `--seconds` is fixed. */
  val NominalPassS = Map("zeek_scan" -> 3.9, "zeek_recompress" -> 1.1,
    "headline_sql" -> 12.0, "graph_iter" -> 24.0)

  val SetupSamples = 5

  final case class OpStat(leg: String, wallS: Double, cpuS: Double, buildS: Double, rows: Long,
      ok: Boolean)

  def main(args: Array[String]): Unit = {
    val tMain = System.nanoTime()
    val a = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    if (a.get("selftest").contains("1")) { SelfTest.run(new File(a("work"))); return }
    val workload = a("workload")
    require(Workloads.contains(workload), s"unknown workload '$workload' (one of ${Workloads.mkString(", ")})")
    val seed = a("seed").toLong
    val seconds = a("seconds").toDouble
    val trace = a.getOrElse("trace", "0") == "1"
    val cpus = a.getOrElse("cpus", "4").toInt
    val work = new File(a("work")).getAbsoluteFile
    val tables = new File(a("tables")).getAbsolutePath
    val recordTo = a.get("record-expected")
    val expected = if (recordTo.isDefined) Map.empty[String, String] else readExpected(new File(a("expected")))

    // inputs: generated from the seed, before any timing starts
    val tGen = System.nanoTime()
    val corpus = new File(work, "corpus")
    val isZeek = workload.startsWith("zeek")
    val answers: Corpus.Answers =
      if (workload == "zeek_scan") Corpus.writeScan(corpus, seed, ScanSizes)
      else if (workload == "zeek_recompress") Corpus.writeBig(corpus, seed, BigRows)
      else Map.empty
    val probeRoot = if (workload == "zeek_scan") corpus else new File(work, "probe")
    val probeAnswers =
      if (!trace) Map.empty[String, String]
      else if (workload == "zeek_scan") answers
      else Corpus.writeScan(probeRoot, seed + 1, ProbeSizes)
    val genS = (System.nanoTime() - tGen) / 1e9

    val controlPre = cpuControl()
    val loadPre = Jvm.loadAvg1()

    // set-up, several times: session build, registration, one warm-up op
    val warmGlob = if (workload == "zeek_scan") new File(corpus, "conn/conn.00.log.gz").getAbsolutePath
      else if (workload == "zeek_recompress") new File(corpus, "big/conn.log.gz").getAbsolutePath else null
    var spark: SparkSession = null
    val setupS = (1 to SetupSamples).map { _ =>
      if (spark != null) spark.stop()
      val t0 = System.nanoTime()
      spark = graft.BenchEnv.sessionBuilder(if (isZeek) corpus.getPath else tables, cpus.toString)
        .config("spark.sql.extensions", "graft.GraftExtensions")
        .config("spark.local.dir", new File(work, "spark-local").getPath)
        .config("spark.sql.warehouse.dir", new File(work, "warehouse").toURI.toString)
        .getOrCreate()
      spark.sparkContext.setLogLevel("WARN")
      graft.GraftFunctions.registerAll(spark)
      if (isZeek) spark.sql(s"SELECT count(*) FROM read_zeek('$warmGlob')").collect()
      else graft.SparkEntry.queries("q06_revenue_forecast")(spark, tables).collect()
      (System.nanoTime() - t0) / 1e9
    }

    val ctxOff = Ctx(spark, new Tracer(false, spark.sparkContext))
    val queries = new QueryOps(tables, expected)
    val legs = if (workload == "zeek_scan") new ZeekLegs(corpus, answers) else null
    val recompress = if (workload == "zeek_recompress") new RecompressOps(corpus, answers, RecompressParts) else null
    val passOps: Seq[Op] = workload match {
      case "zeek_scan" => legs.all
      case "zeek_recompress" => recompress.cycle
      case "headline_sql" => graft.Bench.headline.map(queries.op)
      case _ => GraphQueries.map(queries.op)
    }
    val passes = math.max(1, math.round(seconds / NominalPassS(workload)).toInt)
    val rnd = new Random(seed)
    val timedOps: Seq[Op] = (1 to passes).flatMap { _ =>
      if (workload == "zeek_recompress") passOps else rnd.shuffle(passOps)
    }

    // warm pass, untimed: one pass over every op shape fills Spark's
    // codegen cache and lets the JIT compile the hot paths; the timed
    // region then starts once the JIT has gone quiet, from a collected heap
    val tWarm = System.nanoTime()
    passOps.foreach(o => runOp(o, ctxOff))
    jitQuiet(10.0)
    System.gc()
    val warmS = (System.nanoTime() - tWarm) / 1e9

    Jvm.resetPeakRss()
    val jTimed0 = Jvm.snap()
    val (stats, tracedStats, layerMetrics) =
      if (!trace) (timedOps.map(o => runOp(o, ctxOff)), Nil, Nil)
      else Layers.traced(spark, workload, timedOps, probeRoot, probeAnswers, recompress)
    val rssMb = Jvm.peakRssMb()
    val jTimed1 = Jvm.snap()
    if (recordTo.isDefined)
      writeExpected(new File(recordTo.get), timedOps, ctxOff)

    val controlPost = cpuControl()
    val loadPost = Jvm.loadAvg1()
    val attempted = stats.length + tracedStats.length
    val failed = (stats ++ tracedStats).count(!_.ok)
    val wallS = stats.map(_.wallS).sum
    val lat = stats.map(_.wallS).sorted
    val (tailIdx, tailPct) = tailOf(lat.length)

    val endToEnd = Seq(
      "setup_s" -> (median(setupS), "s"),
      "wall_s" -> (wallS, "s"),
      "op_p50_s" -> (median(lat), "s"),
      "op_tail_s" -> (lat(tailIdx), "s"),
      "rows_per_s" -> (stats.map(_.rows).sum / wallS, "rows/s"),
      "cpu_s" -> (stats.map(_.cpuS).sum, "s"),
      "peak_rss_mb" -> (rssMb, "MB"),
      "ok_frac" -> (stats.count(_.ok).toDouble / stats.length, "ratio"))

    val metrics: Seq[(String, (Double, String))] =
      if (!trace) endToEnd
      else layerMetrics ++ Seq(
        "cpu_control_s" -> (math.max(controlPre, controlPost), "s"),
        "load_avg_1m" -> (math.max(loadPre, loadPost), "load"))

    val failedLegs = (stats ++ tracedStats).filterNot(_.ok).map(_.leg).distinct
    val record = Seq(
      "workload" -> workload, "seed" -> seed, "seconds" -> seconds, "trace" -> trace,
      "cpus" -> cpus, "master" -> spark.sparkContext.master, "passes" -> passes,
      "ops" -> attempted, "op_tail_percentile" -> tailPct, "op_tail_samples_beyond" -> (lat.length - 1 - tailIdx),
      "setup_samples_s" -> setupS, "warm_s" -> warmS, "gen_s" -> genS,
      "cpu_control_pre_s" -> controlPre, "cpu_control_post_s" -> controlPost,
      "load_avg_1m_pre" -> loadPre, "load_avg_1m_post" -> loadPost,
      "failed_legs" -> failedLegs, "run_s" -> (System.nanoTime() - tMain) / 1e9,
      "timed_jit_s" -> (jTimed1.jitMs - jTimed0.jitMs) / 1000.0, "timed_gc_s" -> (jTimed1.gcMs - jTimed0.gcMs) / 1000.0,
      "end_to_end" -> endToEnd.map { case (k, (v, _)) => k -> v }.toMap)
    println("# record " + Json.obj(record))
    spark.stop()
    println(Json.obj(Seq(
      "correct" -> (failed == 0), "attempted" -> attempted, "failed" -> failed,
      "metrics" -> metrics.map { case (k, (v, u)) => k -> Map("value" -> v, "unit" -> u) }.toMap)))
  }

  /** Runs one op closed-loop: the bind cache is cleared before it (so
    * every read binds), its output is checked after it, and lineage
    * state is released after it — all outside the timed interval. */
  def runOp(op: Op, ctx: Ctx): OpStat = {
    graft.zeek.v2.ZeekDataSource.clearBindCache()
    val c0 = Jvm.processCpuNs()
    val t0 = System.nanoTime()
    val out = try Some(ctx.tracer.span(op.leg)(op.run(ctx))) catch {
      case NonFatal(e) =>
        System.err.println(s"[graftbench] op ${op.leg} failed: $e")
        None
    }
    val wall = (System.nanoTime() - t0) / 1e9
    val cpu = (Jvm.processCpuNs() - c0) / 1e9
    val ok = out.exists(o => try op.check(o.value) catch { case NonFatal(_) => false })
    if (out.isDefined && !ok) System.err.println(s"[graftbench] op ${op.leg} output mismatch: ${out.get.value}")
    graft.operators.GlobalRank.releasePins()
    graft.operators.Lineage.releaseAll(ctx.spark, alsoCheckpoints = true)
    OpStat(op.leg, wall, cpu, out.map(_.buildS).getOrElse(0.0), out.map(_.rows).getOrElse(0L), ok)
  }

  /** Waits, at most `capS` seconds, until the JIT compiles for less than
    * 10 ms in half a second, so compilations the warm pass queued finish
    * before timing starts. */
  def jitQuiet(capS: Double): Unit = {
    val deadline = System.nanoTime() + (capS * 1e9).toLong
    var last = Jvm.snap().jitMs
    while (System.nanoTime() < deadline) {
      Thread.sleep(500)
      val now = Jvm.snap().jitMs
      if (now - last < 10) return
      last = now
    }
  }

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.length % 2 == 1) s(s.length / 2) else (s(s.length / 2 - 1) + s(s.length / 2)) / 2
  }

  /** Index (into ascending samples) of the highest percentile with at
    * least ten samples beyond it, and that percentile. With ten or fewer
    * samples no such percentile exists and the largest sample is used. */
  def tailOf(n: Int): (Int, Double) = {
    val i = if (n > 10) n - 11 else n - 1
    (i, 100.0 * (i + 1) / n)
  }

  /** Host-state control: the fixed single-thread FP loop of
    * `graft.Bench.cpuControl`, timed once. */
  def cpuControl(): Double = {
    val t0 = System.nanoTime()
    var s = 0.0; var i = 0
    while (i < 200000000) { s += 1.0 / (1.0 + (i & 1023)); i += 1 }
    if (s < 0) println(s)
    (System.nanoTime() - t0) / 1e9
  }

  /** expected.tsv: one `name<TAB>digest<TAB>rows` line per query */
  private def expectedLines(f: File): Map[String, String] =
    if (!f.exists) Map.empty
    else scala.io.Source.fromFile(f).getLines().filter(_.nonEmpty).map(l => l.takeWhile(_ != '\t') -> l).toMap

  def readExpected(f: File): Map[String, String] =
    expectedLines(f).map { case (n, l) => n -> l.split("\t")(1) }

  /** Records the digest of each query in `ops` into `f`, keeping the
    * lines of other queries. */
  private def writeExpected(f: File, ops: Seq[Op], ctx: Ctx): Unit = {
    val fresh = ops.map(_.leg).distinct.map { n =>
      val o = ops.find(_.leg == n).get.run(ctx)
      graft.operators.GlobalRank.releasePins()
      graft.operators.Lineage.releaseAll(ctx.spark, alsoCheckpoints = true)
      n -> s"$n\t${o.value}\t${o.rows}"
    }
    java.nio.file.Files.writeString(f.toPath,
      (expectedLines(f) ++ fresh).values.toSeq.sorted.mkString("", "\n", "\n"))
  }
}
