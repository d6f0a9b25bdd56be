package graft.tools

import org.apache.spark.scheduler.{SparkListener, SparkListenerExecutorAdded, SparkListenerExecutorRemoved}
import org.apache.spark.sql.functions._

import scala.jdk.CollectionConverters._

/** Executor-loss fault injection for the reliable Lineage fabric.
  *
  * Round 10 wired `Lineage.cut` to eager `checkpoint()` whenever a
  * checkpoint dir is configured — the mode that exists PRECISELY so a
  * 100-TB iterative job survives losing an executor — and ran the whole
  * contract under `local-cluster[2,16,8192]`, but no run ever actually
  * lost one. This tool closes that gap: it runs one contract query under
  * local-cluster with reliable checkpoints and, in `kill` mode, SIGKILLs
  * one executor JVM mid-query. The query must complete anyway, with a
  * content hash identical to the `clean` run's.
  *
  * Usage:
  *   runMain graft.tools.FaultInject clean <sfDir> <queryName>
  *   runMain graft.tools.FaultInject kill  <sfDir> <queryName> [killAfterSec]
  *   runMain graft.tools.FaultInject kill-local <sfDir> <queryName> [killAfterSec]
  * (requires SPARK_GRAFT_MASTER=local-cluster[...], since the kill modes
  * need executor JVMs, and SPARK_HOME + SPARK_SCALA_VERSION in the
  * environment, like every local-cluster run. The checkpoint dir defaults
  * to /tmp/graft_fi_ckpt, override with SPARK_GRAFT_CHECKPOINT_DIR;
  * kill-local refuses one.)
  *
  * The content hash is ORDER-INSENSITIVE on purpose (sum of per-row
  * xxhash64 over the canonically-stringified row, plus the row count):
  * recovery legitimately changes partitioning of the final write, and
  * the contract queries' semantics are set-level.
  */
object FaultInject {

  /** Refuse an environment the mode cannot run in, naming the variable:
    * every mode needs executor JVMs (a `local-cluster[...]` master; under
    * `local[*]` the killer finds no executor to kill), and `kill-local`,
    * the CONTRAST run, needs local cuts — no checkpoint dir, so every
    * cut is a localCheckpoint whose blocks die with their executor; its
    * expected outcome is a job failure (checkpoint block not found),
    * which is precisely what the reliable fabric exists to prevent. */
  def checkEnv(mode: String, env: Map[String, String]): Unit = {
    val master = env.getOrElse("SPARK_GRAFT_MASTER", "")
    require(master.startsWith("local-cluster["),
      s"SPARK_GRAFT_MASTER must be a local-cluster[...] master, got '$master': " +
        "FaultInject kills executor JVMs, and only local-cluster launches them")
    env.get("SPARK_GRAFT_CHECKPOINT_DIR").foreach { dir =>
      require(mode != "kill-local",
        s"kill-local runs with local cuts, but SPARK_GRAFT_CHECKPOINT_DIR is set ($dir): unset it")
    }
  }

  def main(args: Array[String]): Unit = {
    val mode = args(0)
    val sfDir = args(1)
    val query = args(2)
    val killAfterSec = if (args.length > 3) args(3).toInt else 45
    require(mode == "clean" || mode == "kill" || mode == "kill-local",
      s"mode must be clean|kill|kill-local, got $mode")

    checkEnv(mode, sys.env)
    val builder = graft.BenchEnv.sessionBuilder(sfDir, sys.env.getOrElse("SPARK_GRAFT_CPUS", "32"))
    if (mode != "kill-local" && !sys.env.contains("SPARK_GRAFT_CHECKPOINT_DIR"))
      builder.config("spark.checkpoint.dir", "/tmp/graft_fi_ckpt")
    val spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    // executor lifecycle evidence straight from the scheduler
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onExecutorAdded(e: SparkListenerExecutorAdded): Unit =
        println(s"FAULTINJECT executor_added id=${e.executorId} host=${e.executorInfo.executorHost}")
      override def onExecutorRemoved(e: SparkListenerExecutorRemoved): Unit =
        println(s"FAULTINJECT executor_removed id=${e.executorId} reason=${e.reason}")
    })

    if (mode.startsWith("kill")) {
      val killer = new Thread(() => {
        Thread.sleep(killAfterSec * 1000L)
        // one executor JVM, chosen deterministically (lowest pid); the
        // driver and the standalone Workers are separate processes and
        // never match the backend main class
        val victims = ProcessHandle.allProcesses().iterator().asScala
          .filter(_.info.commandLine.orElse("")
            .contains("CoarseGrainedExecutorBackend"))
          .toSeq.sortBy(_.pid)
        victims.headOption match {
          case Some(ph) =>
            println(s"FAULTINJECT killing executor pid=${ph.pid} " +
              s"(of ${victims.size} executor JVMs) after ${killAfterSec}s")
            ph.destroyForcibly()
            ()
          case None =>
            println("FAULTINJECT no executor JVM found to kill — query may have finished early")
        }
      }, "faultinject-killer")
      killer.setDaemon(true)
      killer.start()
    }

    val t0 = System.nanoTime()
    def secs = (System.nanoTime() - t0) / 1e9
    try {
      val df = graft.SparkEntry.queries(query)(spark, sfDir)
      val strRow = concat_ws("\u0001",
        df.columns.toIndexedSeq.map(c => coalesce(col(c).cast("string"), lit("␀"))): _*)
      val agg = df.select(xxhash64(strRow).as("h"))
        .agg(sum(col("h").cast("decimal(38,0)")).as("hash_sum"), count(lit(1)).as("rows"))
        .head()
      println(f"FAULTINJECT result mode=$mode query=$query rows=${agg.getLong(1)} " +
        s"hash_sum=${agg.getDecimal(0)} secs=" + f"$secs%.1f")
    } catch {
      case e: Throwable =>
        val msg = Option(e.getMessage).getOrElse("").linesIterator
          .take(1).mkString.take(200)
        println(f"FAULTINJECT result mode=$mode query=$query FAILED secs=$secs%.1f " +
          s"error=${e.getClass.getSimpleName}: $msg")
    }
    spark.stop()
  }
}
