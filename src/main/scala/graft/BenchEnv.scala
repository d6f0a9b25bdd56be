package graft

import org.apache.spark.sql.SparkSession

/** The one session builder. Every Spark main builds through
  * [[sessionBuilder]]: `graft.Bench`, `graft.Verify`, and the tools
  * `PlanProbe`, `BenchProfile`, `FaultInject` and `ScaleGen`; outside
  * `src/main`, `graftbench`'s harness and the test probe
  * `CodegenCacheProbe` do too. */
object BenchEnv {
  /** Directory (or jar) this build's classes load from — handed to
    * `spark.executor.extraClassPath` in local-cluster mode, where
    * executor JVMs are launched from SPARK_HOME and otherwise see only
    * the Spark jars. All processes share one machine, so a plain
    * filesystem path is enough (no jar shipping needed). */
  def classesDir: String = {
    val src = getClass.getProtectionDomain.getCodeSource
    require(src != null && src.getLocation != null,
      "cannot locate graft classes for executor classpath")
    new java.io.File(src.getLocation.toURI).getAbsolutePath
  }

  /** Total bytes of regular files under a data dir — the input-size
    * signal for the data-adaptive shuffle-partition formula. */
  def dataBytes(dir: String): Long =
    try {
      val s = java.nio.file.Files.walk(java.nio.file.Paths.get(dir))
      try s.filter(java.nio.file.Files.isRegularFile(_))
        .mapToLong(java.nio.file.Files.size(_)).sum()
      finally s.close()
    } catch { case _: Exception => 0L }

  /** Shuffle partitions sized to the DATA, the way a real deployment
    * sizes them to cluster+input: ~32 MB of source parquet per
    * partition, floored at 8 (tiny-SF tasks; measured ~25% total win at
    * 8 vs 32 at sf0.1) and capped at the core count (a fixed small
    * count silently caps every big shuffle: shuffle=8 at sf10 left 3/4
    * of the cores idle — 32 took the headline 219 s → 186 s). */
  def shufflePartitions(cpus: Int, dir: String): String =
    math.min(cpus, math.max(8L, dataBytes(dir) / (32L << 20)).toInt).toString

  /** Entries of Spark's generated-code cache in a bench session: about
    * three headline passes' worth of classes (see [[sessionBuilder]]). */
  val CodegenCacheEntries = 1000

  /** THE session config, shared by every main (see [[BenchEnv]]) so
    * that dumped values, timed queries, profiled task metrics and
    * captured plans all come from one session. The environment picks
    * only the placement: `SPARK_GRAFT_MASTER` (default `local[cpus]`;
    * a `local-cluster[...]` master also gets this build's classes and
    * `SPARK_GRAFT_EXEC_MEM` per executor) and
    * `SPARK_GRAFT_CHECKPOINT_DIR`, which becomes `spark.checkpoint.dir`:
    * the context sets it as its checkpoint dir when it starts, and every
    * [[graft.operators.Lineage.cut]] then writes reliable checkpoints.
    * Unset, cuts stay local.
    *
    * Conf rationale (measured, see Bench scaladoc + BASELINE.md):
    *   - files.minPartitionNum = cores: scan-parallelism FLOOR, inert
    *     at 100-TB scale and at tiny SFs, matters for sf1/sf10 scans;
    *   - AQE coalesce minPartitionSize 64k: the default 1 MB floor let
    *     parallelism-first coalescing fold CPU-dense small stages
    *     (signature banding, pair verify) to a single task;
    *   - cleanCheckpoints: GC-driven fallback for reliable-checkpoint
    *     file cleanup (deterministic path is Lineage.releaseAll);
    *   - codegen.cache.maxEntries = [[CodegenCacheEntries]]: Spark keeps
    *     generated classes in one JVM-wide LRU, 100 entries by default,
    *     but one pass of the 33 `Bench.headline` queries cycles ~350
    *     distinct classes through it, so every warm query compiled its
    *     classes again (~3 s of Janino work a pass at sf0.02 on 4
    *     cores). 1,000 holds about three passes. The 8 `graftbench` Zeek
    *     legs need 52 entries; one Verify pass (4,063 classes, none
    *     reused) gains at no size. An entry costs ~10 KB of source and
    *     bytecode. STATIC: Spark sizes the cache once per JVM, at the
    *     first code generation, so the setting rides on the builder,
    *     before any query runs; setting it on a live session does
    *     nothing;
    *   - broadcast.blockSize 256k: every job broadcasts its task binary
    *     in chunks of this size, 4 MB by default. A 4 MB chunk is a G1
    *     humongous object (half a region or more; regions are 1-32 MB)
    *     that only a pause reclaims, so peak RSS followed the GC
    *     cadence, and less garbage (fewer pauses) read as more memory.
    *     256 KiB is below half of G1's smallest region whatever the
    *     heap; `graftbench` `peak_rss_mb` fell 9-19% on all three
    *     workloads (BASELINE.md, "Generated-code cache and broadcast
    *     chunks"). */
  def sessionBuilder(sfDir: String, cpus: String): SparkSession.Builder = {
    val master = sys.env.getOrElse("SPARK_GRAFT_MASTER", s"local[$cpus]")
    val b = SparkSession.builder()
      .master(master)
      .config("spark.sql.shuffle.partitions", shufflePartitions(cpus.toInt, sfDir))
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.files.minPartitionNum", cpus)
      .config("spark.sql.adaptive.coalescePartitions.minPartitionSize", "64k")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.cleaner.referenceTracking.cleanCheckpoints", "true")
      .config("spark.sql.codegen.cache.maxEntries", CodegenCacheEntries.toString)
      .config("spark.broadcast.blockSize", "256k")
    sys.env.get("SPARK_GRAFT_CHECKPOINT_DIR").foreach(b.config("spark.checkpoint.dir", _))
    if (master.startsWith("local-cluster"))
      b.config("spark.executor.extraClassPath", classesDir)
        .config("spark.executor.memory",
          sys.env.getOrElse("SPARK_GRAFT_EXEC_MEM", "6g"))
    else b
  }
}
