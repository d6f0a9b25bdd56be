package graft.operators

import org.apache.spark.sql.DataFrame

/** Lineage control for reused subplans in iterative queries.
  *
  * A DataFrame referenced k times in a query plan is PLANNED k times, and
  * — because AQE's stage-reuse cache only deduplicates exchanges whose
  * canonical subtrees are identical all the way down to the scan — a
  * multi-round loop (BFS expansion, label propagation, beam search) whose
  * per-round state embeds the previous round re-executes the expensive
  * producer (an edge-list self-join, a kNN graph build) once per round:
  * q137's 3-round reach expansion planned ~100 parquet scans and measured
  * <20% exchange reuse at runtime before cutting.
  *
  * `cut` materializes the frame once (lineage truncated to an RDD scan)
  * so every later reference reads the materialized data. Two fabrics:
  * local (eager `localCheckpoint` — executor memory/disk blocks, which
  * survive task retries but NOT executor loss) and reliable (eager
  * `checkpoint()` to the configured checkpoint directory, surviving
  * executor loss). The no-arg `cut` auto-selects reliable whenever
  * `sparkContext.setCheckpointDir` has been called, so a 100-TB job
  * opts every iterative family into failure-tolerant materialization
  * with one session-setup line. The cut is semantically invisible:
  * values, schema, and determinism are unchanged in both modes.
  */
object Lineage {
  /** When true, [[cut]] records the executed plan of every frame it
    * materializes (see [[recordedPlans]]). Plan-pinning tests flip this
    * on so shapes that execute INSIDE a cut — invisible in the final
    * query plan, which sees only the checkpoint scan — stay assertable.
    * Off by default: production runs skip the string building. */
  @volatile var recordPlans: Boolean = false
  private val recorded = new java.util.concurrent.ConcurrentLinkedQueue[String]()

  /** Plans materialized by [[cut]] since [[clearRecordedPlans]] (empty
    * unless [[recordPlans]] is on). */
  def recordedPlans: Seq[String] = {
    val b = Seq.newBuilder[String]
    recorded.forEach(p => b += p)
    b.result()
  }
  def clearRecordedPlans(): Unit = recorded.clear()

  /** Materialize `df` and truncate its lineage; returns the checkpointed
    * frame. Call on any frame a loop or multi-branch query references
    * more than once when its producer is more than a scan.
    *
    * `reliable = false` → eager `localCheckpoint` (executor memory/disk
    * blocks; fast, but blocks die with their executor).
    * `reliable = true`  → eager `checkpoint()` to the session's
    * configured checkpoint directory (HDFS/object store on a real
    * cluster), which survives executor loss — the mode a 100-TB job
    * that cannot afford recomputation-on-loss selects by calling
    * `spark.sparkContext.setCheckpointDir(...)` up front. Values,
    * schema, and determinism are identical in both modes
    * (`LineageSpec` proves it); only the storage fabric differs. */
  def cut(df: DataFrame, reliable: Boolean): DataFrame = {
    if (recordPlans) recorded.add(df.queryExecution.executedPlan.toString)
    if (reliable) {
      // Eager checkpoint() runs TWO jobs over the producer: the count that
      // materializes the frame, then the checkpoint job that writes the
      // files — and the write job RECOMPUTES full lineage unless blocks
      // are cached. Persist first so the write job reads the blocks the
      // count job computed, then drop the cache (the checkpoint files are
      // the data from here on). The checkpoint is built over a FRESH
      // Dataset on the same logical plan: `df`'s own physical plan may
      // already be forced (recordPlans above does exactly that), and a
      // pre-forced plan would bypass the cache — recreating the frame
      // makes planning happen after cacheQuery, so the InMemoryRelation
      // is actually in the executed tree.
      // Respect a caller-owned cache: if the frame is already persisted,
      // the checkpoint write reads those blocks — persisting again would
      // be a no-op, but the finally-unpersist would silently DROP the
      // caller's cache entry. Only manage the cache this call created.
      val ownCache =
        df.storageLevel == org.apache.spark.storage.StorageLevel.NONE
      if (ownCache)
        df.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      try org.apache.spark.sql.graft.GraftSql
        .ofRows(df.sparkSession, df.queryExecution.logical).checkpoint()
      finally if (ownCache) df.unpersist(blocking = false)
    } else df.localCheckpoint()
  }

  /** [[cut]] with the mode auto-selected from session state: reliable
    * whenever a checkpoint directory is configured, local otherwise.
    * Every iterative family (PageRank, Triangles, beam search, the ANN
    * graph builds) cuts through here, so pointing
    * `sparkContext.setCheckpointDir` at reliable storage upgrades all
    * of them to failure-tolerant materialization with no code change. */
  def cut(df: DataFrame): DataFrame =
    cut(df, reliable = df.sparkSession.sparkContext.getCheckpointDir.isDefined)

  /** [[cut]] for a frame an iterative consumer joins/aggregates on
    * `keys` EVERY round: materialize it hash-partitioned on `keys` and
    * re-declare that layout on the checkpoint scan, so each round's
    * join/aggregate finds the big static side already co-partitioned
    * and exchanges only the per-round (node-sized) state.
    *
    * Why the re-declaration exists: under AQE `Dataset.checkpoint`
    * captures `UnknownPartitioning` (the adaptive wrapper's report), so
    * a plain `cut(df.repartition(...))` still re-shuffles per round —
    * q75's 5 PageRank rounds each re-exchanged the full edge list
    * (5 × 15.8 MB of its 103 MB sf0.1 shuffle) before this. The
    * partition count is pinned (`repartition(n, keys)`, a shuffle
    * origin AQE never coalesces) so the declared
    * `HashPartitioning(keys, n)` is exactly the materialized placement
    * — see [[org.apache.spark.sql.graft.GraftSql.declareHashPartitioning]]
    * for the safety contract. `n` defaults to the session's shuffle
    * partitions (scale-adaptive via BenchEnv, never a local constant). */
  def cutPartitionedBy(df: DataFrame, keys: Seq[String],
      numPartitions: Option[Int] = None): DataFrame = {
    val n = numPartitions.getOrElse(
      df.sparkSession.sessionState.conf.numShufflePartitions)
    val cp = cut(df.repartition(n, keys.map(org.apache.spark.sql.functions.col): _*))
    org.apache.spark.sql.graft.GraftSql.declareHashPartitioning(cp, keys, n)
  }

  /** Deterministically drop GlobalRank's pins and every persisted RDD in
    * the session — the release point a long single-session sweep
    * (Verify's 310 queries, Bench's timed passes) calls BETWEEN queries
    * so blocks from one query never pressure the block manager during
    * the next. Safe there because no query's frames survive its own
    * run; do NOT call mid-query (a cut frame's blocks are its only data —
    * lineage is truncated, so unpersisting it is unrecoverable).
    * GC-driven ContextCleaner remains the fallback for interactive use. */
  def releaseAll(spark: org.apache.spark.sql.SparkSession,
      alsoCheckpoints: Boolean = false): Unit = {
    GlobalRank.releasePins()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = false))
    if (alsoCheckpoints) releaseCheckpoints(spark)
  }

  /** Delete every completed `rdd-N` directory under the session's
    * checkpoint dir. `unpersist` frees only block-manager blocks;
    * RELIABLE checkpoint files are plain filesystem data that nothing
    * deletes by default (`spark.cleaner.referenceTracking
    * .cleanCheckpoints` is false, and even on it is GC-driven), so a
    * 281-query sweep with a checkpoint dir configured grows it
    * unboundedly — at large SF that is a disk-exhaustion bug, not
    * hygiene. Same contract as [[releaseAll]]: call BETWEEN queries
    * only — a cut frame's checkpoint files are its only data. */
  def releaseCheckpoints(spark: org.apache.spark.sql.SparkSession): Unit =
    spark.sparkContext.getCheckpointDir.foreach { dir =>
      val p = new org.apache.hadoop.fs.Path(dir)
      val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
      if (fs.exists(p))
        fs.listStatus(p).foreach { st =>
          if (st.isDirectory && st.getPath.getName.startsWith("rdd-"))
            fs.delete(st.getPath, true): Unit
        }
    }
}
