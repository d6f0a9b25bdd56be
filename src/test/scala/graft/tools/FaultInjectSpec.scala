package graft.tools

import org.scalatest.funsuite.AnyFunSuite

/** FaultInject refuses, before any session starts, an environment its
  * mode cannot run in, and names the variable to change. */
class FaultInjectSpec extends AnyFunSuite {
  private val cluster = Map("SPARK_GRAFT_MASTER" -> "local-cluster[2,2,1024]")

  test("every mode needs a local-cluster master, named when missing") {
    for (env <- Seq(Map.empty[String, String], Map("SPARK_GRAFT_MASTER" -> "local[4]"))) {
      val e = intercept[IllegalArgumentException](FaultInject.checkEnv("kill", env))
      assert(e.getMessage.contains("SPARK_GRAFT_MASTER") && e.getMessage.contains("local-cluster"), e.getMessage)
    }
    FaultInject.checkEnv("clean", cluster)
    FaultInject.checkEnv("kill", cluster + ("SPARK_GRAFT_CHECKPOINT_DIR" -> "/tmp/c"))
  }

  test("kill-local refuses a checkpoint dir: its contrast run needs local cuts") {
    val e = intercept[IllegalArgumentException](
      FaultInject.checkEnv("kill-local", cluster + ("SPARK_GRAFT_CHECKPOINT_DIR" -> "/tmp/c")))
    assert(e.getMessage.contains("SPARK_GRAFT_CHECKPOINT_DIR"), e.getMessage)
    FaultInject.checkEnv("kill-local", cluster)
  }
}
