package graft.tools

import java.util.concurrent.ConcurrentLinkedQueue

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** Optimization-round measurement aid: run the bench queries once (after
  * a warm-up pass) under the SAME session config as `graft.Bench`, and
  * report where each query's wall-clock goes —
  *
  *   - `phases`: QueryPlanningTracker durations (analysis, optimization,
  *     physical planning) in ms, i.e. the driver-side floor,
  *   - `exec_ms`: the action's total duration from the
  *     QueryExecutionListener (includes planning + execution),
  *   - `task_ms`: sum of executor task run time across the query's jobs
  *     (task_ms / exec_ms ≈ effective parallelism),
  *   - `shuf_r/w`: shuffle bytes read/written,
  *   - `stages`, `tasks`: counts; `max_task_ms`: the straggler bound.
  *
  * Usage: runMain graft.tools.BenchProfile [sfDir] [query...]
  * (defaults: Bench.headline at $SPARK_GRAFT_SF_DIR or sf0.1).
  */
object BenchProfile {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.orElse(sys.env.get("SPARK_GRAFT_SF_DIR"))
      .getOrElse("/root/testdata/sf0.1")
    val names = if (args.length > 1) args.drop(1).toSeq else graft.Bench.headline
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = graft.BenchEnv.sessionBuilder(sfDir, cpus).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    // ---- listeners ------------------------------------------------------
    @volatile var lastExec: (Long, Map[String, Long]) = (0L, Map.empty)
    spark.listenerManager.register(new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
        val ph = qe.tracker.phases.map { case (k, v) => k -> (v.endTimeMs - v.startTimeMs) }
        lastExec = (durationNs, ph.toMap)
      }
      override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
    })
    val taskQ = new ConcurrentLinkedQueue[(Long, Long, Long, Long)]() // runtime, shufR, shufW, gc
    @volatile var stageCount = 0
    val stageQ = new ConcurrentLinkedQueue[String]()
    val perStage = sys.env.get("SPARK_GRAFT_STAGES").contains("1")
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onTaskEnd(t: SparkListenerTaskEnd): Unit = {
        val m = t.taskMetrics
        if (m != null) taskQ.add((m.executorRunTime,
          m.shuffleReadMetrics.totalBytesRead, m.shuffleWriteMetrics.bytesWritten,
          m.jvmGCTime))
      }
      override def onStageCompleted(s: SparkListenerStageCompleted): Unit = {
        stageCount += 1
        if (perStage) {
          val i = s.stageInfo
          val dur = for {
            a <- i.completionTime; b <- i.submissionTime
          } yield a - b
          val sr = i.taskMetrics.shuffleReadMetrics.totalBytesRead
          val sw = i.taskMetrics.shuffleWriteMetrics.bytesWritten
          val rt = i.taskMetrics.executorRunTime
          stageQ.add(f"    stage ${i.stageId}%3d ${dur.getOrElse(-1L)}%6dms tasks=${i.numTasks}%3d taskTime=${rt}%6dms shufR=${sr / 1024}%7dKB shufW=${sw / 1024}%7dKB  ${i.name.linesIterator.next().take(90)}")
        }
      }
    })

    def runOnce(n: String): Unit =
      graft.SparkEntry.queries(n)(spark, sfDir)
        .write.format("noop").mode("overwrite").save()

    // warm-up: tiny SF (codegen/JIT) then one full target-SF pass, like Bench
    val warmDir = sys.env.getOrElse("SPARK_GRAFT_WARM_DIR", "/root/testdata/sf0.001")
    if (new java.io.File(warmDir).isDirectory && warmDir != sfDir)
      names.foreach { n =>
        try graft.SparkEntry.queries(n)(spark, warmDir)
          .write.format("noop").mode("overwrite").save()
        catch { case scala.util.control.NonFatal(_) => () }
        finally graft.operators.Lineage.releaseAll(spark, alsoCheckpoints = true)
      }
    names.foreach { n =>
      try runOnce(n)
      catch { case scala.util.control.NonFatal(_) => () }
      finally graft.operators.Lineage.releaseAll(spark, alsoCheckpoints = true)
    }

    println(f"${"query"}%-28s ${"wall_s"}%7s ${"exec_s"}%7s ${"ana_ms"}%7s ${"opt_ms"}%7s ${"plan_ms"}%8s ${"task_s"}%7s ${"maxtk_ms"}%9s ${"gc_ms"}%6s ${"shufR_MB"}%9s ${"shufW_MB"}%9s ${"stg"}%4s ${"tsk"}%5s")
    names.foreach { n =>
      taskQ.clear(); stageQ.clear(); stageCount = 0; lastExec = (0L, Map.empty)
      val t0 = System.nanoTime()
      // no early `return` here: inside the foreach closure it would be a
      // non-local return out of main — aborting the remaining queries
      // and skipping spark.stop() — instead of skipping one query
      val ok =
        try { runOnce(n); true }
        catch { case scala.util.control.NonFatal(e) =>
          println(s"$n FAILED: ${e.getMessage}"); false
        } finally graft.operators.Lineage.releaseAll(spark, alsoCheckpoints = true)
      if (ok) {
        val wall = (System.nanoTime() - t0) / 1e9
        // listener bus is async; give it a beat to drain
        Thread.sleep(150)
        import scala.jdk.CollectionConverters._
        val ts = taskQ.asScala.toSeq
        val (durNs, ph) = lastExec
        println(f"$n%-28s $wall%7.3f ${durNs / 1e9}%7.3f ${ph.getOrElse("analysis", 0L)}%7d ${ph.getOrElse("optimization", 0L)}%7d ${ph.getOrElse("planning", 0L)}%8d ${ts.map(_._1).sum / 1e3}%7.2f ${if (ts.isEmpty) 0L else ts.map(_._1).max}%9d ${ts.map(_._4).sum}%6d ${ts.map(_._2).sum / 1e6}%9.1f ${ts.map(_._3).sum / 1e6}%9.1f $stageCount%4d ${ts.size}%5d")
        stageQ.asScala.foreach(println)
      }
    }
    spark.stop()
  }
}
