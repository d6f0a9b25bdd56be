package graft
import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    // args 3+: optional query-name filter (iteration aid — dump only the
    // named queries); the driver always passes exactly two args
    val Array(sfDir, outDir) = args.take(2)
    val only = args.drop(2).toSet
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    // the bench session: SPARK_GRAFT_MASTER=local-cluster[...] runs the
    // dump on executor JVMs, SPARK_GRAFT_CHECKPOINT_DIR makes every
    // Lineage.cut reliable (see BenchEnv.sessionBuilder)
    val spark = BenchEnv.sessionBuilder(sfDir, cpus).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()
    SparkEntry.queries.filter(q => only.isEmpty || only(q._1)).foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      } finally {
        // drop per-query cut blocks AND completed rdd-N checkpoint dirs —
        // a 281-query sweep with SPARK_GRAFT_CHECKPOINT_DIR set would
        // otherwise grow the dir unboundedly (nothing deletes reliable
        // checkpoint files by default)
        graft.operators.Lineage.releaseAll(spark, alsoCheckpoints = true)
      }
    }
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"),
      new com.fasterxml.jackson.databind.ObjectMapper()
        .writeValueAsString(SparkEntry.oracleSql.asJava))
    spark.stop()
  }
}
