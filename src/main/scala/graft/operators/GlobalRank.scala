package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.types.{LongType, StructField, StructType}

/** Scale-safe global ordinals — the distributed replacement for
  * `row_number() OVER (ORDER BY ...)` with no PARTITION BY, which Spark
  * plans as a SINGLE-partition window (the one-task sort that dies first
  * at 100 TB).
  *
  * `withGlobalIndex` range-partitions on the sort keys, sorts within each
  * partition, and assigns contiguous 0-based ordinals via
  * `zipWithIndex` — whose per-partition offsets come from one small count
  * job over partition sizes, never a global sort on one task. Every task
  * handles ~1/P of the data; the driver sees P longs.
  *
  * Determinism: rows with EQUAL sort keys receive an arbitrary (but
  * contiguous) ordinal range — range partitioning never splits an equal
  * key across partitions, so per-key `min(idx)` / `count` are exact and
  * stable. Callers needing a total order must pass a tie-breaking key.
  */
object GlobalRank {

  /** Pins created by the two-phase passes below. Spark's ContextCleaner
    * unpersists them once the returned frames become unreachable, but
    * that is GC-driven — a long benchmark/verify session issuing many
    * GlobalRank queries can accumulate pinned partitions and pressure
    * the block manager before any full GC runs. The registry gives such
    * loops a deterministic release point ([[releasePins]]) between
    * queries; the registry itself holds the only operator-side strong
    * reference, so unreleased entries still die with the session. */
  private val pinned =
    new java.util.concurrent.ConcurrentLinkedQueue[org.apache.spark.rdd.RDD[_]]

  private def pin(rdd: org.apache.spark.rdd.RDD[Row]): org.apache.spark.rdd.RDD[Row] = {
    rdd.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    pinned.add(rdd)
    rdd
  }

  /** Release every pin created so far (non-blocking). Safe once the
    * frames returned by earlier calls have been materialized (written /
    * collected / hashed): re-materializing AFTER release recomputes the
    * range shuffle, which is only a correctness hazard for sources that
    * are nondeterministic under recomputation — the in-flight scenario
    * the pin exists for. [[Lineage.releaseAll]] calls this between
    * queries. */
  def releasePins(): Unit = {
    var r = pinned.poll()
    while (r != null) { r.unpersist(blocking = false); r = pinned.poll() }
  }

  def withGlobalIndex(df: DataFrame, idxCol: String, order: Column*): DataFrame =
    withGlobalIndexAndCount(df, idxCol, order: _*)._1

  /** Same as [[withGlobalIndex]], but also returns the total row count —
    * free, since it is the sum of the partition sizes the offset pass
    * already collected. Callers that need `n` for rank arithmetic (ntile
    * bucket sizes, tercile cut ranks) get it without a second scan: the
    * size job materializes the range shuffle, and the indexing job below
    * reuses those shuffle files, so the data is range-sorted exactly once. */
  def withGlobalIndexAndCount(
      df: DataFrame, idxCol: String, order: Column*): (DataFrame, Long) = {
    val spark = df.sparkSession
    val parts = spark.sessionState.conf.numShufflePartitions
    val sorted = df.repartitionByRange(parts, order: _*).sortWithinPartitions(order: _*)
    val schema = StructType(sorted.schema.fields :+
      StructField(idxCol, LongType, nullable = false))
    // persist pins ONE materialization across the two jobs below: the
    // offsets collected by the size pass must describe the exact rows the
    // index pass sees, and without the pin a NONDETERMINISTIC source
    // recomputed between jobs (or under stage retry) could shift rows
    // across partitions. Released deterministically via [[releasePins]]
    // (ContextCleaner is the GC backstop). Shuffle-file reuse already
    // covers the common case; the pin covers recomputation paths too.
    val base = pin(sorted.rdd)
    // one tiny job: P partition sizes (zipWithIndex's count pass, exposed)
    val sizes = base
      .mapPartitions(it => Iterator.single(it.size.toLong), preservesPartitioning = true)
      .collect()
    val offsets = sizes.scanLeft(0L)(_ + _)
    val rdd = base.mapPartitionsWithIndex { (pid, it) =>
      var i = offsets(pid)
      it.map { r => val out = Row.fromSeq(r.toSeq :+ i); i += 1; out }
    }
    (spark.createDataFrame(rdd, schema), offsets.last)
  }

  /** Scale-safe global INCLUSIVE prefix sum of a LongType column in
    * `order` — the distributed replacement for
    * `sum(v) OVER (ORDER BY ... ROWS UNBOUNDED PRECEDING)`, which Spark
    * plans as a single-partition window. Same two-phase shape as
    * [[withGlobalIndexAndCount]]: range-partition + in-partition sort,
    * one small job collects the P per-partition value sums, and the
    * per-row pass adds the partition offset to its running total.
    *
    * Determinism: rows with EQUAL sort keys accumulate in arbitrary
    * order, so their individual prefix sums are not stable — pass
    * UNIQUE sort keys (aggregate per key first, as a sweep line does)
    * or a tie-breaking key. */
  def withGlobalPrefixSum(df: DataFrame, valueCol: String, sumCol: String,
      order: Column*): DataFrame = {
    val spark = df.sparkSession
    val parts = spark.sessionState.conf.numShufflePartitions
    val sorted = df.repartitionByRange(parts, order: _*).sortWithinPartitions(order: _*)
    val vIdx = sorted.schema.fieldIndex(valueCol)
    val schema = StructType(sorted.schema.fields :+
      StructField(sumCol, LongType, nullable = false))
    // same single-materialization pin as withGlobalIndexAndCount
    val base = pin(sorted.rdd)
    val sums = base
      .mapPartitions(it => Iterator.single(it.map(_.getLong(vIdx)).sum),
        preservesPartitioning = true)
      .collect()
    val offsets = sums.scanLeft(0L)(_ + _)
    val rdd = base.mapPartitionsWithIndex { (pid, it) =>
      var acc = offsets(pid)
      it.map { r => acc += r.getLong(vIdx); Row.fromSeq(r.toSeq :+ acc) }
    }
    spark.createDataFrame(rdd, schema)
  }
}
