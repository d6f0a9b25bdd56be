package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Loaders for the driver-generated parquet tables (TESTDATA.md).
  *
  * All tables are plain parquet; predicate/projection pushdown into the
  * scan is free via the parquet DSv2 source. At 100 TB these would be
  * partitioned directories — the loaders keep the access path behind one
  * function so partition-pruned layouts can be swapped in without touching
  * query code.
  *
  * Schema binding: the first read of a path infers the schema from the
  * parquet footers exactly as before; subsequent reads of the SAME path
  * in the same JVM bind that memoized StructType instead of re-running
  * inference. A bare `spark.read.parquet(path)` plans a footer-reading
  * Spark JOB per call (~70-90 ms of pure scheduling floor at any SF —
  * BASELINE.md, "Findings of the retired query probes"), which a
  * 100-query session pays hundreds of times for byte-identical answers. This is catalog
  * metadata, not data: every query still scans, filters and aggregates
  * the parquet inputs from scratch on every invocation, and the schema
  * itself is still derived from those inputs (once). A real deployment
  * gets the same effect from its table catalog. Keyed by full path PLUS
  * the path's last-modified time, so different SF dirs coexist AND a
  * path rewritten in the same JVM (a test regenerating a table, a tool
  * overwriting a work dir) re-infers instead of serving a stale schema;
  * parquet-footer schemas for the SAME logical table are identical
  * across SFs by construction (TESTDATA.md).
  */
object Tables {
  private val schemaCache =
    new java.util.concurrent.ConcurrentHashMap[String, org.apache.spark.sql.types.StructType]()

  def t(spark: SparkSession, dir: String, name: String): DataFrame = {
    // events.parquet carries TIMESTAMP(NANOS); its schema must ALWAYS be
    // converted under nanosAsLong (see [[events]]), including when the
    // first touch comes through [[registerAll]] rather than [[events]] —
    // and a cached schema must never depend on who asked first.
    if (name == "events")
      spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val p = s"$dir/$name.parquet"
    // one local stat call; an overwrite (file replace or directory
    // rewrite) bumps lastModified and invalidates the cached entry
    val key = s"$p@${new java.io.File(p).lastModified}"
    val sch = schemaCache.computeIfAbsent(key, _ => spark.read.parquet(p).schema)
    spark.read.schema(sch).parquet(p)
  }

  def lineitem(s: SparkSession, d: String): DataFrame = t(s, d, "lineitem")
  def orders(s: SparkSession, d: String): DataFrame   = t(s, d, "orders")
  def customer(s: SparkSession, d: String): DataFrame = t(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame = t(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame     = t(s, d, "part")
  def nation(s: SparkSession, d: String): DataFrame   = t(s, d, "nation")
  def region(s: SparkSession, d: String): DataFrame   = t(s, d, "region")
  /** events.parquet carries TIMESTAMP(NANOS), which Spark's parquet reader
    * rejects; read the nanos as raw longs (callers do exact integer
    * microsecond math — see EventQueries). The conf is set inside [[t]]
    * so EVERY events consumer is safe regardless of call order. */
  def events(s: SparkSession, d: String): DataFrame = t(s, d, "events")
  def documents(s: SparkSession, d: String): DataFrame  = t(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = t(s, d, "embeddings")

  /** Register all tables as temp views so queries can be written in SQL
    * (shared dialect with the DuckDB oracle where possible). */
  def registerAll(s: SparkSession, d: String): Unit = {
    Seq("lineitem", "orders", "customer", "supplier", "part", "nation",
      "region", "events", "documents", "embeddings")
      .foreach(n => t(s, d, n).createOrReplaceTempView(n))
  }
}
