package graftbench

import java.io.File

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** What an op hands back: the value its check reads, how long building
  * the DataFrame took, and how many rows the op delivered (Zeek log rows
  * read, or result rows for SQL and graph queries). */
final case class OpOut(value: Any, buildS: Double, rows: Long)

/** One timed operation of a workload. `leg` groups ops that do the same
  * thing, for the per-layer rates. */
final case class Op(leg: String, run: Ctx => OpOut, check: Any => Boolean)

/** What an op may use: the session and the tracer (a no-op when off). */
final case class Ctx(spark: SparkSession, tracer: Tracer) {
  /** Builds a DataFrame inside a `build` span and runs its action inside
    * an `exec` span; returns the action's value and the build time. */
  def buildExec[A](build: => DataFrame)(action: DataFrame => A): (A, Double) = {
    val t0 = System.nanoTime()
    val df = tracer.span("build")(build)
    val buildS = (System.nanoTime() - t0) / 1e9
    tracer.onBuilt()
    (tracer.span("exec")(action(df)), buildS)
  }
}

/** The reader legs over a Zeek corpus written by [[Corpus.writeScan]]. */
final class ZeekLegs(root: File, answers: Corpus.Answers, prefix: String = "") {
  val connGlob = new File(root, "conn").getAbsolutePath + "/*.log.gz"
  private def zeek(spark: SparkSession, path: String, union: Boolean = false): DataFrame =
    spark.read.format("zeek").option("union_by_name", union.toString).load(path)
  private def counts(df: DataFrame) =
    df.columns.toSeq.map(c => count(col(s"`$c`")))
  private def longs(r: Row): String = (0 until r.length).map(i => r.getLong(i)).mkString(",")
  private def rows(key: String): Long = answers(key).takeWhile(_ != ',').toLong

  private def op(leg: String, nRows: Long, key: String = null)(body: Ctx => (String, Double)): Op =
    Op(leg, { c => val (v, b) = body(c); OpOut(v, b, nRows) }, _ == answers(prefix + Option(key).getOrElse(leg)))

  /** full-width parse: a non-null count per column forces every column
    * to be parsed */
  def full(glob: String, nRows: Long, leg: String = "full"): Op = op(leg, nRows, "full") { c =>
    c.buildExec {
      val df = zeek(c.spark, glob)
      val aggs = counts(df) :+ coalesce(sum("orig_bytes"), lit(0L))
      df.agg(aggs.head, aggs.tail: _*)
    }(df => longs(df.head()))
  }

  def all: Seq[Op] = {
    val connRows = rows("count")
    Seq(
      op("count", connRows)(c => c.buildExec(zeek(c.spark, connGlob))(_.count().toString)),
      op("narrow", connRows)(c => c.buildExec(zeek(c.spark, connGlob)
        .agg(countDistinct("id_orig_h"), sum("id_resp_p")))(df => longs(df.head()))),
      full(connGlob, connRows),
      op("wide", rows("wide"))(c => c.buildExec {
        val df = zeek(c.spark, new File(root, "wide/wide.log").getAbsolutePath)
        df.agg(count(lit(1)), counts(df): _*)
      }(df => longs(df.head()))),
      op("filter", connRows)(c => c.buildExec(zeek(c.spark, connGlob)
        .where(col("id_resp_p") === 443 && col("proto") === "tcp")
        .agg(count(lit(1)), coalesce(sum("orig_bytes"), lit(0L))))(df => longs(df.head()))),
      op("array", rows("array"))(c => c.buildExec {
        def n(a: String) = sum(when(col(a).isNull, 0).otherwise(size(col(a)))).cast("long")
        zeek(c.spark, new File(root, "dns/dns.log.gz").getAbsolutePath)
          .agg(count(lit(1)), n("answers"), n("TTLs"), n("domain_list"))
      }(df => longs(df.head()))),
      op("union", rows("union"))(c => c.buildExec(
        zeek(c.spark, new File(root, "drift").getAbsolutePath + "/*.log", union = true)
          .agg(count(lit(1)), count("extra_a"), coalesce(sum("extra_a"), lit(0L)), count("extra_b")))(
        df => longs(df.head()))),
      op("sql", connRows)(c => c.buildExec(c.spark.sql(
        s"SELECT proto, count(*) AS n, coalesce(sum(orig_bytes), 0) AS b FROM read_zeek('$connGlob') " +
          "GROUP BY proto"))(_.collect().toSeq.map(r => s"${r.getString(0)}:${r.getLong(1)}:${r.getLong(2)}")
        .sorted.mkString(";"))))
  }
}

/** The zeek_recompress cycle: full parse of the single-stream gzip log
  * (one task), `Zeek.recompress` to zstd parts, full parse of the parts,
  * checked equal to the source. */
final class RecompressOps(root: File, answers: Corpus.Answers, val parts: Int) {
  val source = new File(root, "big/conn.log.gz").getAbsolutePath
  val outDir = new File(root, "big_parts")
  private val rows = answers("big.count").toLong
  private val legs = new ZeekLegs(root, answers, prefix = "big.")

  def cycle: Seq[Op] = Seq(
    legs.full(source, rows, leg = "full"),
    Op("recompress", { c =>
      c.tracer.span("write") {
        graft.zeek.Zeek.recompress(c.spark, source, outDir.getAbsolutePath,
          rowsPerFile = (rows + parts - 1) / parts)
      }
      OpOut(partFiles.length, 0.0, rows)
    }, _ == parts),
    legs.full(outDir.getAbsolutePath + "/*.zst", rows, leg = "parts"))

  def partFiles: Seq[File] =
    Option(outDir.listFiles()).toSeq.flatten.filter(_.getName.endsWith(".zst")).sortBy(_.getName)
}

/** Queries of `graft.SparkEntry`, collected and checked against a digest
  * recorded for the generated tables. */
final class QueryOps(dataDir: String, expected: Map[String, String]) {
  def op(name: String): Op = Op(name, { c =>
    val ((schema, rows), buildS) = c.buildExec(graft.SparkEntry.queries(name)(c.spark, dataDir))(
      df => (df.schema, df.collect()))
    OpOut(Digest.of(schema, rows), buildS, rows.length.toLong)
  }, d => expected.get(name).contains(d))
}

/** Order-insensitive digest of a query result: columns by name, values
  * rendered with floating point rounded to 6 significant digits (the
  * last bits of a float sum depend on partitioning), rows sorted. */
object Digest {
  private val mc = new java.math.MathContext(6)
  def render(v: Any): String = v match {
    case null => "null"
    case d: Double =>
      if (d.isNaN || d.isInfinite) d.toString
      else if (d == 0.0) "0" else new java.math.BigDecimal(d).round(mc).stripTrailingZeros.toPlainString
    case f: Float => render(f.toDouble)
    case b: java.math.BigDecimal => b.stripTrailingZeros.toPlainString
    case b: Array[Byte] => b.map(x => f"$x%02x").mkString
    case r: Row => (0 until r.length).map(i => render(r.get(i))).mkString("{", ",", "}")
    case m: scala.collection.Map[_, _] => m.toSeq.map { case (k, x) => render(k) + "=" + render(x) }
      .sorted.mkString("<", ",", ">")
    case s: scala.collection.Seq[_] => s.map(render).mkString("[", ",", "]")
    case other => other.toString
  }
  def of(schema: StructType, rows: Array[Row]): String = {
    val order = schema.fieldNames.zipWithIndex.sortBy(_._1).map(_._2)
    val lines = rows.map(r => order.map(i => render(r.get(i))).mkString("|")).sorted
    val md = java.security.MessageDigest.getInstance("SHA-256")
    md.update(schema.fieldNames.sorted.mkString("|").getBytes("UTF-8"))
    lines.foreach(l => md.update((l + "\n").getBytes("UTF-8")))
    md.digest().take(12).map(b => f"$b%02x").mkString
  }
}
