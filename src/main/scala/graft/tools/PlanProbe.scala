package graft.tools

import graft.SparkEntry
import graft.operators.Lineage
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{FileSourceScanExec, LocalTableScanExec, RDDScanExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeExec, ReusedExchangeExec, ShuffleExchangeExec}
import org.apache.spark.sql.execution.joins.CartesianProductExec
import org.apache.spark.sql.execution.window.WindowExec

/** The plan tool: reads contract-query plans against a given SF dir,
  * under the session the bench runs ([[graft.BenchEnv.sessionBuilder]];
  * `SPARK_GRAFT_CPUS` picks its cores, default 8). Three modes:
  *
  * `runMain graft.tools.PlanProbe <sfDir> <query>...` prints each
  * query's executed physical plan and its [[PlanCounts]] — the fast
  * feedback loop for "is this the plan you'd want at 100×" (broadcast
  * placement, exchange count, Expand presence, pushed filters) without
  * timing a run.
  *   - SPARK_GRAFT_PLAN_DIR=<dir>: write each query's
  *     `explain("formatted")` text to <dir>/<query>.txt instead — the
  *     audit artifact format (plans/rN/<query>_{before,after}.txt).
  *   - SPARK_GRAFT_PLAN_CUTS=1: append the executed plan of every
  *     [[graft.operators.Lineage]] cut the query materialized while being
  *     built. Iterative queries do their real work INSIDE cuts (the final
  *     plan sees only checkpoint scans), so per-round exchange/join
  *     claims are only auditable with this on. The final plan is the
  *     cheap lazy one, but cut plans are EXECUTED plans — building the
  *     query materializes each round.
  *
  * `runMain graft.tools.PlanProbe <sfDir> --audit [minShuffles]` builds
  * every `SparkEntry.queries` physical plan and prints one TSV row per
  * query with at least `minShuffles` shuffle exchanges, worst first:
  * `query shuffles broadcasts reused scans hostile`. No action runs on
  * the result, though CONSTRUCTION executes any eager lineage-cut
  * segments (cut-containing queries like q137 run their producer jobs at
  * build time). Iteration aid for keeping the 100-TB plan shapes honest;
  * PlanSpec pins the shapes this audit has already driven to their
  * minimum.
  *
  * `runMain graft.tools.PlanProbe <sfDir> --exec <name>[,<name>…]`
  * EXECUTES the named queries and reports the post-execution adaptive
  * plan's counts — under AQE the static plan never shows
  * `ReusedExchange`; only the final plan reveals which repeated subtrees
  * the runtime actually deduplicated into reused shuffle stages.
  */
object PlanProbe {

  /** Node counts of one plan, by node type through
    * `AdaptiveSparkPlanHelper`: it walks an adaptive plan's current plan
    * and query stages, but not the plan a cached frame was built by (that
    * ran when the frame was cached; its `InMemoryTableScan` counts as a
    * scan). A `ReusedExchange` counts as reused only. `hostile` names
    * scale-hostile operators: a CartesianProduct, an unpartitioned Window. */
  final case class PlanCounts(shuffles: Int, broadcasts: Int, reused: Int, scans: Int,
      hostile: String) {
    override def toString: String =
      s"shuffles=$shuffles\tbroadcasts=$broadcasts\treused=$reused\tscans=$scans\thostile=$hostile"
  }

  def count(plan: SparkPlan): PlanCounts = {
    val nodes = new AdaptiveSparkPlanHelper {}.collectWithSubqueries(plan) { case p => p }
    def n(pick: PartialFunction[SparkPlan, Unit]): Int = nodes.count(pick.isDefinedAt)
    PlanCounts(
      shuffles = n { case _: ShuffleExchangeExec => },
      broadcasts = n { case _: BroadcastExchangeExec => },
      reused = n { case _: ReusedExchangeExec => },
      scans = n {
        case _: FileSourceScanExec | _: LocalTableScanExec | _: RDDScanExec | _: InMemoryTableScanExec =>
      },
      hostile = Seq(
        "cartesian" -> n { case _: CartesianProductExec => },
        "global-window" -> n { case w: WindowExec if w.partitionSpec.isEmpty => })
        .collect { case (tag, k) if k > 0 => tag }.mkString(","))
  }

  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/root/testdata/sf0.01")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "8")
    val spark = graft.BenchEnv.sessionBuilder(dir, cpus).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    try args.drop(1).toSeq match {
      case "--audit" +: rest => audit(spark, dir, rest.headOption.fold(0)(_.toInt))
      case Seq("--exec", names) => exec(spark, dir, names.split(",").toSeq)
      case names => printPlans(spark, dir, if (names.isEmpty) Seq("q01_pricing_summary") else names)
    } finally spark.stop()
  }

  /** Run `body`, then drop the query's pins, cut blocks and checkpoint
    * files, so no query's state outlives it. */
  private def released[T](spark: SparkSession)(body: => T): T =
    try body finally Lineage.releaseAll(spark, alsoCheckpoints = true)

  private def printPlans(spark: SparkSession, dir: String, names: Seq[String]): Unit = {
    val planDir = sys.env.get("SPARK_GRAFT_PLAN_DIR")
    planDir.foreach(p => java.nio.file.Files.createDirectories(java.nio.file.Paths.get(p)))
    val withCuts = sys.env.get("SPARK_GRAFT_PLAN_CUTS").contains("1")
    if (withCuts) Lineage.recordPlans = true
    names.foreach { n => released(spark) {
      Lineage.clearRecordedPlans()
      val df = SparkEntry.queries(n)(spark, dir)
      def cutsSuffix: String =
        if (!withCuts) ""
        else Lineage.recordedPlans.zipWithIndex
          .map { case (p, i) => s"\n\n=== cut $i (executed) ===\n$p" }.mkString
      val plan = df.queryExecution.executedPlan
      planDir match {
        case Some(p) =>
          val txt = df.queryExecution.explainString(
            org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
          java.nio.file.Files.writeString(java.nio.file.Paths.get(p, s"$n.txt"),
            txt + cutsSuffix)
          println(s"wrote $p/$n.txt\t${count(plan)}")
        case None =>
          println(s"=== $n ===")
          println(s"$plan$cutsSuffix")
          println(s"# ${count(plan)}")
      }
    } }
  }

  private def audit(spark: SparkSession, dir: String, minShuffles: Int): Unit = {
    val rows = SparkEntry.queries.toSeq.sortBy(_._1).flatMap { case (name, fn) =>
      try released(spark)(Some(name -> count(fn(spark, dir).queryExecution.executedPlan)))
      catch {
        case e: Throwable =>
          System.err.println(s"[audit] $name failed to plan: ${e.getMessage}")
          None
      }
    }
    println("query\tshuffles\tbroadcasts\treused\tscans\thostile")
    rows.sortBy(-_._2.shuffles).foreach { case (n, c) =>
      if (c.shuffles >= minShuffles)
        println(s"$n\t${c.shuffles}\t${c.broadcasts}\t${c.reused}\t${c.scans}\t${c.hostile}")
    }
    println(s"# ${rows.size} queries, ${rows.map(_._2.shuffles).sum} total shuffle exchanges")
  }

  private def exec(spark: SparkSession, dir: String, names: Seq[String]): Unit =
    names.foreach { name => released(spark) {
      // time from construction: eager lineage cuts (Lineage.cut) run
      // jobs while the query is BUILT, before any action on the result
      val t0 = System.nanoTime()
      val df = SparkEntry.queries(name)(spark, dir)
      // execute THIS df's QueryExecution without materializing rows on
      // the driver — df.count()/noop-write would build (and execute) a
      // DIFFERENT QueryExecution, leaving the inspected plan cold, and
      // collect() could exhaust driver memory on large results
      val rows = df.queryExecution.toRdd.count()
      val secs = (System.nanoTime() - t0) / 1e9
      val c = count(df.queryExecution.executedPlan)
      println(f"$name\trows=$rows\t$secs%.2f s\tshuffles=${c.shuffles}\t" +
        s"reused=${c.reused}\tscans=${c.scans}")
    } }
}
