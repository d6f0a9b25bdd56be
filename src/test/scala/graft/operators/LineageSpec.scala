package graft.operators

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.zeek.SharedSpark

class LineageSpec extends AnyFunSuite {
  private lazy val spark = SharedSpark.spark
  import spark.implicits._

  test("cut preserves values, schema, and determinism") {
    val df = Seq((1L, "a"), (2L, "b"), (3L, "a")).toDF("id", "k")
      .groupBy("k").agg(sum("id").as("s"))
    val cut = Lineage.cut(df)
    assert(cut.schema == df.schema)
    assert(cut.orderBy("k").collect().toSeq == df.orderBy("k").collect().toSeq)
  }

  test("cut truncates lineage: the checkpointed plan is a scan, not the producer") {
    val df = Seq(1L, 2L, 3L).toDF("id").groupBy("id").count()
    val cut = Lineage.cut(df)
    val p = cut.queryExecution.executedPlan.toString
    assert(!p.contains("HashAggregate"), "producer survived the cut:\n" + p)
  }

  test("cutPartitionedBy: declared layout is used (no exchange) and values match cut") {
    val df = spark.range(10000).toDF("id").withColumn("k", col("id") % 97)
      .withColumn("v", col("id") * 3)
    val declared = Lineage.cutPartitionedBy(df, Seq("k"))
    val plain = Lineage.cut(df)
    // values and schema identical to a plain cut
    assert(declared.schema == plain.schema)
    assert(declared.orderBy("id").collect().toSeq ==
      plain.orderBy("id").collect().toSeq)
    // a groupBy on the declared key must reuse the materialized layout:
    // no Exchange anywhere in the aggregation plan (the whole point —
    // a plain cut forgets its partitioning under AQE and re-shuffles)
    val aggPlan = declared.groupBy("k").agg(sum("v")).queryExecution
      .executedPlan.toString
    assert(!aggPlan.contains("Exchange"),
      "declared-cut aggregation re-shuffled:\n" + aggPlan.take(1500))
    val plainPlan = plain.groupBy("k").agg(sum("v")).queryExecution
      .executedPlan.toString
    assert(plainPlan.contains("Exchange"),
      "plain cut unexpectedly kept partitioning (declareHashPartitioning obsolete?):\n" +
        plainPlan.take(1500))
    // and the aggregation RESULTS agree — the declaration must describe
    // the true physical placement, or same-key rows would split
    assert(declared.groupBy("k").agg(sum("v").as("s")).orderBy("k").collect().toSeq ==
      plain.groupBy("k").agg(sum("v").as("s")).orderBy("k").collect().toSeq)
  }

  test("cutPartitionedBy: co-partitioned shuffle join agrees with the plain-cut join") {
    val left = spark.range(20000).toDF("id").withColumn("k", col("id") % 53)
    val right = spark.range(5000).toDF("rid").withColumn("k", col("rid") % 53)
      .withColumn("w", col("rid") + 7)
    val declared = Lineage.cutPartitionedBy(left, Seq("k"))
    val plain = Lineage.cut(left)
    def gist(d: org.apache.spark.sql.DataFrame) = d.join(right, Seq("k"))
      .agg(count(lit(1)).as("n"), sum(col("id") + col("w")).as("s")).collect()(0)
    assert(gist(declared) == gist(plain))
  }

  test("declareHashPartitioning refuses a frame that is not a checkpoint scan, naming its plan") {
    val df = spark.range(100).toDF("id").withColumn("k", col("id") % 7)
    val e = intercept[IllegalArgumentException](
      org.apache.spark.sql.graft.GraftSql.declareHashPartitioning(df, Seq("k"), 4))
    assert(e.getMessage.contains("LogicalRDD") && e.getMessage.contains("Project"), e.getMessage)
  }

  test("recordPlans captures the materialized producer plan for pinning") {
    Lineage.recordPlans = true
    Lineage.clearRecordedPlans()
    try {
      Lineage.cut(Seq(1L, 2L).toDF("id").groupBy("id").count())
      val rec = Lineage.recordedPlans
      assert(rec.size == 1)
      assert(rec.head.contains("HashAggregate"), rec.head)
    } finally {
      Lineage.recordPlans = false
      Lineage.clearRecordedPlans()
    }
  }

  /** Run `body` with a checkpoint dir configured, then clear it.
    * SparkContext has no unsetCheckpointDir, so the teardown clears the
    * private var via reflection — GUARDED: if the reflection ever breaks
    * (Spark upgrade, JDK module restrictions), this fails LOUDLY naming
    * the leaked state instead of letting every later suite's no-arg
    * `cut()` silently flip to reliable mode. */
  private def withCheckpointDir[T](dir: java.io.File)(body: => T): T = {
    assert(spark.sparkContext.getCheckpointDir.isEmpty,
      "spec assumes no checkpoint dir configured up front")
    spark.sparkContext.setCheckpointDir(dir.getPath)
    try body
    finally {
      try {
        val f = spark.sparkContext.getClass.getDeclaredField("checkpointDir")
        f.setAccessible(true)
        f.set(spark.sparkContext, None)
      } catch {
        case e: Throwable => throw new IllegalStateException(
          "FAILED to clear SparkContext.checkpointDir after a reliable-cut " +
            "test — the dir is still configured, so later suites' no-arg " +
            "Lineage.cut() would silently run in reliable mode", e)
      }
      def rm(x: java.io.File): Unit = {
        if (x.isDirectory) x.listFiles().foreach(rm)
        x.delete(): Unit
      }
      rm(dir)
    }
  }

  private def files(f: java.io.File): Seq[java.io.File] =
    if (f.isDirectory) f.listFiles().toSeq.flatMap(files) else Seq(f)

  test("reliable cut: equal results, lineage truncated, auto-selected by checkpoint dir") {
    val df = Seq((1L, "a"), (2L, "b"), (3L, "a")).toDF("id", "k")
      .groupBy("k").agg(sum("id").as("s"))
    val local = Lineage.cut(df, reliable = false)
    withCheckpointDir(new java.io.File("target/lineage-spec-ckpt")) {
      val dir = new java.io.File("target/lineage-spec-ckpt")
      // explicit reliable mode
      val rel = Lineage.cut(df, reliable = true)
      assert(rel.schema == df.schema)
      assert(rel.orderBy("k").collect().toSeq == local.orderBy("k").collect().toSeq)
      val p = rel.queryExecution.executedPlan.toString
      assert(!p.contains("HashAggregate"), "producer survived the reliable cut:\n" + p)
      // checkpoint files actually landed in reliable storage
      assert(files(dir).nonEmpty, "reliable checkpoint wrote no files")
      // the no-arg overload auto-selects reliable while a dir is
      // configured: a fresh rdd-N checkpoint dir appears under `dir`
      val before = files(dir).map(_.getPath).toSet
      val auto = Lineage.cut(df)
      assert((files(dir).map(_.getPath).toSet -- before).nonEmpty,
        "no-arg cut did not auto-select reliable mode with a checkpoint dir set")
      assert(auto.orderBy("k").collect().toSeq == local.orderBy("k").collect().toSeq)
    }
  }

  test("reliable cut executes the producer exactly once (write job reads cache)") {
    // eager checkpoint() = a count job + a checkpoint-write job; without
    // the persist inside cut, the write job recomputes full lineage and
    // every producer row is evaluated twice
    val acc = spark.sparkContext.longAccumulator("producer-rows")
    val tick = udf { (x: Long) => acc.add(1L); x }
    val df = spark.range(0, 100, 1, 4).toDF("id").select(tick(col("id")).as("id"))
    withCheckpointDir(new java.io.File("target/lineage-spec-ckpt-once")) {
      val rel = Lineage.cut(df, reliable = true)
      assert(acc.value == 100L,
        s"producer ran ${acc.value / 100.0} times during the reliable cut (want 1)")
      assert(rel.count() == 100L)
      assert(acc.value == 100L, "reading the cut re-ran the producer")
    }
  }

  test("reliable cut leaves a caller-owned cache in place") {
    // if the caller already persisted the frame, cut must use that cache
    // but NOT unpersist it on the way out — dropping a cache the caller
    // still relies on is a silent performance bug
    val df = Seq((1L, "a"), (2L, "b")).toDF("id", "k")
      .groupBy("k").agg(sum("id").as("s"))
    df.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      assert(df.count() == 2)
      withCheckpointDir(new java.io.File("target/lineage-spec-ckpt-owned")) {
        val rel = Lineage.cut(df, reliable = true)
        assert(rel.count() == 2)
        assert(df.storageLevel !=
          org.apache.spark.storage.StorageLevel.NONE,
          "reliable cut unpersisted the caller's cache")
      }
    } finally df.unpersist(blocking = true)
  }

  test("releaseAll(alsoCheckpoints) deletes completed rdd-N checkpoint dirs") {
    val dir = new java.io.File("target/lineage-spec-ckpt-clean")
    withCheckpointDir(dir) {
      val cut = Lineage.cut(Seq(1L, 2L, 3L).toDF("id"), reliable = true)
      assert(cut.count() == 3)
      assert(files(dir).nonEmpty, "no checkpoint files written")
      Lineage.releaseAll(spark, alsoCheckpoints = true)
      val left = files(dir).filter(_.getPath.contains("rdd-"))
      assert(left.isEmpty, s"rdd-N checkpoint data survived release: $left")
    }
  }

  test("releaseAll drops checkpoint blocks; a prior cut stays usable until released") {
    val cut = Lineage.cut(Seq(1L, 2L).toDF("id"))
    assert(cut.count() == 2)
    val before = spark.sparkContext.getPersistentRDDs.size
    assert(before > 0, "expected at least the cut's persisted RDD")
    Lineage.releaseAll(spark)
    // unpersist is async (blocking = false); poll briefly
    val deadline = System.nanoTime() + 5000000000L
    while (spark.sparkContext.getPersistentRDDs.nonEmpty && System.nanoTime() < deadline)
      Thread.sleep(50)
    assert(spark.sparkContext.getPersistentRDDs.isEmpty)
  }
}
