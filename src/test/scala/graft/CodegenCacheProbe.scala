package graft

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator

/** Child-JVM main for [[CodegenCacheSpec]]: builds the bench session
  * through [[BenchEnv.sessionBuilder]] in a fresh JVM (Spark sizes its
  * generated-code cache once per JVM) and runs the named contract
  * queries `passes` times over `sfDir`, printing one line per pass with
  * the classes Janino compiled during it and the seconds that took, then
  * the resolved broadcast chunk size and the context's checkpoint dir
  * (`-` when none).
  *
  * Usage: CodegenCacheProbe <sfDir> <passes> <query>... */
object CodegenCacheProbe {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val passes = args(1).toInt
    val names = args.drop(2).toSeq
    val spark = BenchEnv.sessionBuilder(sfDir, "2").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    try {
      (1 to passes).foreach { p =>
        val (before, ns) = (CodegenMetrics.METRIC_COMPILATION_TIME.getCount, CodeGenerator.compileTime)
        names.foreach { n =>
          SparkEntry.queries(n)(spark, sfDir).write.format("noop").mode("overwrite").save()
          operators.Lineage.releaseAll(spark, alsoCheckpoints = true)
        }
        println(s"pass $p compiled ${CodegenMetrics.METRIC_COMPILATION_TIME.getCount - before} " +
          f"classes in ${(CodeGenerator.compileTime - ns) / 1e9}%.2f s")
      }
      println(s"broadcast.blockSize KiB ${spark.sparkContext.getConf.getSizeAsKb("spark.broadcast.blockSize")}")
      println(s"checkpoint dir ${spark.sparkContext.getCheckpointDir.getOrElse("-")}")
    } finally spark.stop()
  }
}
