package graft.tools

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Corpus scale-up generator: builds an sf=N×-shaped dataset from a
  * smaller driver-generated SF by key-shifted replication, so scaling
  * runs (BASELINE.md's sf1 readings) measure the ENGINE's growth curve,
  * not an artifact of the replication.
  *
  * Replication rules (what "honest 10×" means here):
  *  - Every key column shifts by `replica × (max(key)+1)` — foreign keys
  *    shift by their referenced table's stride, so join fan-outs and
  *    selectivities are preserved exactly (each replica is an
  *    independent sub-universe; region/nation stay fixed like TPC-H).
  *  - `documents.text` salts every 2nd word with the replica index:
  *    every word-n-gram (n ≥ 2) then contains a salted word, so
  *    cross-replica shingle overlap is EXACTLY zero and MinHash/LSH
  *    pair structure scales linearly. (Salting only every 3rd word
  *    left ~1/3 of 2-shingles shared — cross-replica Jaccard ~0.2,
  *    which at 100 replicas grew C(100,2) band collisions per source
  *    doc and made d06 read 22× on 10× data, a generator artifact,
  *    not an engine cost.) Within-replica near-dup structure and half
  *    of the token statistics stay intact.
  *  - `embeddings.embedding` cyclically rotates by the replica index
  *    AND sign-flips coordinates under a per-(replica, coordinate)
  *    murmur3 bit: norms and coordinate magnitudes are preserved, but
  *    replicas decorrelate (expected cross-replica cosine 0) at any
  *    factor — rotation alone repeats every `dims` replicas — so ANN
  *    bucket occupancy and top-k structure scale linearly too.
  *
  * Usage: runMain graft.tools.ScaleGen <srcDir> <dstDir> <factor>
  */
object ScaleGen {
  def main(args: Array[String]): Unit = {
    val Array(src, dst, factorStr) = args.take(3)
    val factor = factorStr.toInt
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = graft.BenchEnv.sessionBuilder(src, cpus).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(dst).mkdirs()

    def read(t: String): DataFrame = spark.read.parquet(s"$src/$t.parquet")
    def stride(df: DataFrame, key: String): Long =
      df.agg(max(col(key))).head().getLong(0) + 1L
    // one replica column cross-joined in, then per-column shift rules —
    // a single pass per table, no driver-side loops over replicas
    val reps = spark.range(factor).toDF("__rep")
    def replicate(df: DataFrame, shifts: Map[String, Long],
        rewrite: Map[String, org.apache.spark.sql.Column] = Map.empty): DataFrame = {
      val out = df.crossJoin(broadcast(reps))
      val cols = df.columns.map { c =>
        (shifts.get(c), rewrite.get(c)) match {
          case (Some(s), _) => (col(c) + col("__rep") * s).as(c)
          case (_, Some(e)) => e.as(c)
          case _ => col(c)
        }
      }
      out.select(cols.toIndexedSeq: _*)
    }
    def write(t: String, df: DataFrame, files: Int): Unit = {
      df.repartition(files).write.mode("overwrite").parquet(s"$dst/$t.parquet")
      println(s"[scalegen] $t: ${spark.read.parquet(s"$dst/$t.parquet").count()} rows")
    }

    // fixed dimensions: copy verbatim (TPC-H keeps region/nation constant)
    for (t <- Seq("region", "nation")) write(t, read(t), 1)

    val customer = read("customer"); val cStride = stride(customer, "c_custkey")
    val supplier = read("supplier"); val sStride = stride(supplier, "s_suppkey")
    val part = read("part"); val pStride = stride(part, "p_partkey")
    val orders = read("orders"); val oStride = stride(orders, "o_orderkey")
    write("customer", replicate(customer, Map("c_custkey" -> cStride)), 4)
    write("supplier", replicate(supplier, Map("s_suppkey" -> sStride)), 1)
    write("part", replicate(part, Map("p_partkey" -> pStride)), 4)
    write("orders", replicate(orders,
      Map("o_orderkey" -> oStride, "o_custkey" -> cStride)), 8)
    write("lineitem", replicate(read("lineitem"),
      Map("l_orderkey" -> oStride, "l_partkey" -> pStride, "l_suppkey" -> sStride)), 16)

    val events = read("events")
    write("events", replicate(events, Map(
      "event_id" -> stride(events, "event_id"),
      "user_id" -> stride(events, "user_id"))), 8)

    val docs = read("documents")
    write("documents", replicate(docs,
      Map("doc_id" -> stride(docs, "doc_id")),
      rewrite = Map("text" -> expr(
        "CASE WHEN __rep = 0 THEN text ELSE array_join(transform(split(text, ' '), " +
          "(w, i) -> IF(i % 2 = 0, concat(w, '~', __rep), w)), ' ') END"))), 8)

    // rotation alone collides once factor exceeds dims (replicas r and
    // r+dims would carry IDENTICAL vectors under fresh ids — fake exact-dup
    // structure that inflates ANN pair counts super-linearly), so each
    // replica also flips coordinate signs under a deterministic per-(rep,
    // coordinate) murmur3 bit: norms and coordinate magnitudes are
    // preserved exactly, replicas stay pairwise near-orthogonal (expected
    // cross-replica cosine 0, std ~1/sqrt(dims)) at ANY factor
    val emb = read("embeddings")
    val dims = emb.select(size(col("embedding"))).head().getInt(0)
    write("embeddings", replicate(emb,
      Map("vec_id" -> stride(emb, "vec_id")),
      rewrite = Map("embedding" -> expr(
        s"CASE WHEN __rep = 0 THEN embedding ELSE transform(concat(" +
          s"slice(embedding, CAST(__rep % $dims + 1 AS INT), $dims - __rep % $dims), " +
          s"slice(embedding, 1, CAST(__rep % $dims AS INT))), " +
          s"(v, i) -> IF(pmod(hash(i, __rep), 2) = 0, -v, v)) END"))), 4)

    spark.stop()
  }
}
