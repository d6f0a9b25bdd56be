package graft

import java.io.File
import java.lang.management.ManagementFactory
import java.nio.file.Files
import java.util.concurrent.TimeUnit

import org.scalatest.funsuite.AnyFunSuite

/** The bench session keeps a warm query's generated classes: a second
  * pass over a headline subset recompiles next to nothing. It also
  * carries `SPARK_GRAFT_CHECKPOINT_DIR` into the context. Spark's
  * generated-code cache is JVM-wide and sized by whichever session
  * generates code first (in this JVM, another suite's), so the passes
  * run in a child JVM ([[CodegenCacheProbe]]) launched with this JVM's
  * classpath and `--add-opens` arguments. */
class CodegenCacheSpec extends AnyFunSuite {
  private val sfDir = "/root/testdata/sf0.001"

  // Headline queries whose classes, together, overflow Spark's default
  // 100-entry cache. q11_distinct_counts is left out: its three
  // independent branches finish in a varying order, and its warm passes
  // compile 2-6 new classes at any cache size.
  private val subset = Seq("q01_pricing_summary", "q19_case_buckets", "q24_date_funcs",
    "q03_shipping_priority", "q05_local_supplier", "q04_semi_join", "q07_left_join_counts",
    "q08_window_topn", "q09_window_running", "q16_rollup", "d06_minhash_neardups",
    "d07_simhash_neardups", "e02_knn_brute")

  /** Runs the probe with `SPARK_GRAFT_CHECKPOINT_DIR` set to
    * `checkpointDir`, or unset. */
  private def childJvm(args: Seq[String], checkpointDir: Option[String] = None): (Int, Seq[String], String) = {
    val jvmArgs = ManagementFactory.getRuntimeMXBean.getInputArguments.toArray(Array.empty[String])
    val opens = jvmArgs.indices.flatMap { i =>
      if (jvmArgs(i).startsWith("--add-opens=")) Seq(jvmArgs(i))
      else if (jvmArgs(i) == "--add-opens" && i + 1 < jvmArgs.length) Seq(jvmArgs(i), jvmArgs(i + 1))
      else Nil
    }
    val java = new File(System.getProperty("java.home"), "bin/java").getPath
    val out = Files.createTempFile("codegen-cache", ".out").toFile
    val err = Files.createTempFile("codegen-cache", ".err").toFile
    val cmd = Seq(java) ++ opens ++ Seq("-Xmx2g", "-cp", System.getProperty("java.class.path"), "graft.CodegenCacheProbe") ++ args
    val pb = new ProcessBuilder(cmd: _*).redirectOutput(out).redirectError(err)
    pb.environment().remove("SPARK_GRAFT_CHECKPOINT_DIR")
    checkpointDir.foreach(pb.environment().put("SPARK_GRAFT_CHECKPOINT_DIR", _))
    val proc = pb.start()
    def lines(f: File) = Files.readAllLines(f.toPath).toArray(Array.empty[String]).toSeq
    try {
      assert(proc.waitFor(600, TimeUnit.SECONDS), "child JVM did not finish in 600 s")
      (proc.exitValue(), lines(out), lines(err).takeRight(40).mkString("\n"))
    } finally {
      proc.destroyForcibly()
      out.delete()
      err.delete()
    }
  }

  private def checkpointDir(out: Seq[String]): Option[String] =
    out.collectFirst { case s"checkpoint dir $d" => d }

  test("a warm headline pass reuses its generated classes; broadcast chunks stay small") {
    assume(new File(sfDir).isDirectory, s"$sfDir is missing")
    val (code, out, errTail) = childJvm(Seq(sfDir, "2") ++ subset)
    assert(code == 0, s"child JVM exited $code\n$errTail")
    val compiled = out.collect { case s"pass $p compiled $n classes in $_" => p.toInt -> n.toLong }.toMap
    assert(compiled.keySet == Set(1, 2), out.mkString("\n"))
    assert(compiled(1) > 100, s"pass 1 compiled ${compiled(1)}: the subset must overflow Spark's default cache")
    assert(compiled(2) * 50 <= compiled(1),
      s"pass 2 recompiled ${compiled(2)} of pass 1's ${compiled(1)} classes")
    val chunkKiB = out.collectFirst { case s"broadcast.blockSize KiB $k" => k.toLong }
    assert(chunkKiB.exists(_ < 512), s"broadcast chunk $chunkKiB KiB")
    assert(checkpointDir(out) == Some("-"), "without SPARK_GRAFT_CHECKPOINT_DIR cuts must stay local")
  }

  test("the session builder makes SPARK_GRAFT_CHECKPOINT_DIR the context's checkpoint dir") {
    val tmp = Files.createTempDirectory("builder-ckpt").toFile
    try {
      val (code, out, errTail) = childJvm(Seq(sfDir, "0"), Some(tmp.getPath))
      assert(code == 0, s"child JVM exited $code\n$errTail")
      val dir = checkpointDir(out)
      assert(dir.exists(d => d != "-" &&
        new File(new java.net.URI(d).getPath).getCanonicalPath.startsWith(tmp.getCanonicalPath + File.separator)),
        s"checkpoint dir $dir is not under $tmp")
    } finally org.apache.commons.io.FileUtils.deleteDirectory(tmp)
  }
}
