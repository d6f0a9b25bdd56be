package graft.tools

import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel
import org.scalatest.funsuite.AnyFunSuite
import graft.zeek.SharedSpark

/** PlanProbe's counter counts what a plan runs: a persisted frame's
  * cached plan, printed under its `InMemoryRelation`, ran when the frame
  * was cached. */
class PlanProbeSpec extends AnyFunSuite {
  private lazy val spark = SharedSpark.spark
  import spark.implicits._

  test("count leaves out the cached plans under InMemoryRelation, nested ones too, and counts their scans") {
    val edges = Seq((1L, "a"), (2L, "b"), (3L, "a")).toDF("id", "k")
      .repartition(4, col("k")).persist(StorageLevel.MEMORY_AND_DISK)
    // a cached frame built from another one: its printed cached plan
    // holds the first frame's cached plan, one adaptive plan inside another
    val degrees = edges.groupBy("k").agg(count(lit(1)).as("n"))
      .repartition(4, col("k")).persist(StorageLevel.MEMORY_AND_DISK)
    try {
      degrees.count()
      val q = degrees.groupBy("n").agg(count(lit(1)).as("c"))
        .union(Seq((9L, 1L)).toDF("n", "c"))
      val plan = q.queryExecution.executedPlan
      assert(plan.toString.contains("REPARTITION_BY_NUM") && plan.toString.contains("InMemoryRelation"),
        "expected the cached plans in the text:\n" + plan)
      val c = PlanProbe.count(plan)
      // hashpartitioning(n) runs; the exchanges in the cached plans ran
      // when the frames were cached
      assert(c.shuffles == 1, s"$c\n$plan")
      // one InMemoryTableScan and the union's LocalTableScan; the scans
      // under the relations are not scans of this plan
      assert(c.scans == 2, s"$c\n$plan")
    } finally { degrees.unpersist(); edges.unpersist() }
  }
}
