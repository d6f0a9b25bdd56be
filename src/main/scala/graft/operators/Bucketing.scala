package graft.operators

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}

/** Bucketed-table layout: the co-location lever that removes the
  * per-query fact-side shuffle from repeated equi-joins.
  *
  * The round-10 q05 experiment (BASELINE.md "q05's remaining fact
  * shuffle") measured the three candidate mechanisms and
  * concluded: runtime Bloom filters are structurally unavailable for
  * q05's selectivity shape, zone maps only help pushable predicates —
  * but bucketing BOTH facts on the order key removes BOTH order-key
  * exchanges outright. At local wall-clock the win is invisible (a
  * memory-speed shuffle); on a real cluster the eliminated exchange is
  * the full fact re-partition over the network, paid once at write time
  * instead of once per query. This object promotes that experiment into
  * an engine surface.
  *
  * Spark's bucket spec is TABLE METADATA, not a file property: reading
  * the same parquet files without the catalog entry silently loses the
  * layout (and the exchange elimination). Hence the two entry points —
  * [[writeBucketed]] for creating layout + metadata together, and
  * [[declareBucketed]] for re-attaching metadata to files that already
  * have the layout (a fresh session, a table registered by another
  * writer).
  *
  * A join of two tables bucketed INTO THE SAME BUCKET COUNT on their
  * join keys plans as a sort-merge join with zero Exchange on either
  * side (`BucketingSpec` pins the plan); with `SORTED BY` and one file
  * per bucket the per-bucket sort is also free. Mismatched counts
  * re-shuffle one side (Spark picks the smaller); bucket pruning applies
  * to equality predicates on the bucket key.
  */
object Bucketing {

  /** Write `df` as a bucketed (and within-bucket sorted) parquet table.
    * One full shuffle at write time buys every later equi-join or
    * aggregation on `key` its exchange back. `path = None` stores under
    * the session warehouse (a MANAGED table — dropped files and all on
    * DROP TABLE); `Some(p)` creates an external table at `p`. */
  def writeBucketed(df: DataFrame, table: String, key: String, buckets: Int,
      path: Option[String] = None, mode: SaveMode = SaveMode.Overwrite): Unit = {
    val w = df.write.bucketBy(buckets, key).sortBy(key).mode(mode)
    path.foreach(p => w.option("path", p))
    w.format("parquet").saveAsTable(table)
  }

  /** Re-declare an existing bucketed layout in the (possibly fresh)
    * session catalog: CREATE TABLE ... CLUSTERED BY ... LOCATION over
    * the files [[writeBucketed]] (or any Spark bucketBy writer with the
    * same key/count) produced. No data is read or moved — the files MUST
    * actually have the declared layout (Spark trusts the metadata; a
    * wrong declaration silently mis-joins).
    *
    * If `table` already exists it is NOT recreated, but its catalog
    * bucket spec is validated against the arguments: a stale or
    * unbucketed table of the same name would otherwise silently forfeit
    * (or worse, mis-declare) the exchange elimination the caller is
    * relying on — exactly the hazard the paragraph above warns about.
    * Mismatches throw instead of no-op'ing. */
  def declareBucketed(spark: SparkSession, table: String, path: String,
      key: String, buckets: Int): Unit =
    if (spark.catalog.tableExists(table)) {
      val meta = spark.sessionState.catalog.getTableMetadata(
        org.apache.spark.sql.catalyst.TableIdentifier(table))
      val ok = meta.bucketSpec.exists(bs =>
        bs.numBuckets == buckets &&
          bs.bucketColumnNames.map(_.toLowerCase) == Seq(key.toLowerCase) &&
          bs.sortColumnNames.map(_.toLowerCase) == Seq(key.toLowerCase))
      if (!ok) throw new IllegalStateException(
        s"declareBucketed('$table'): table exists with bucket spec " +
          s"${meta.bucketSpec.getOrElse("<none>")}, caller declared " +
          s"CLUSTERED/SORTED BY ($key) INTO $buckets BUCKETS — refusing " +
          "to trust a mismatched layout (joins would silently lose " +
          "co-location or mis-bucket); DROP the table or fix the call")
    } else {
      val ddl = spark.read.parquet(path).schema.toDDL
      spark.sql(s"""CREATE TABLE $table ($ddl) USING parquet
        |CLUSTERED BY ($key) SORTED BY ($key) INTO $buckets BUCKETS
        |LOCATION '$path'""".stripMargin)
      ()
    }
}
