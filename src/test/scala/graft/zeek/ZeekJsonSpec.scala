package graft.zeek

import java.nio.file.{Files, Path}
import java.nio.charset.StandardCharsets

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

/** ZeekJson: the JSON-lines zeek format as a typed peer of the TSV
  * source — same schema, same values, interchangeable with the TSV
  * reader/sink. */
class ZeekJsonSpec extends AnyFunSuite with NoReadAheadLeak {
  private lazy val spark = SharedSpark.spark

  private def writeText(dir: Path, name: String, content: String): String = {
    val f = dir.resolve(name)
    Files.write(f, content.getBytes(StandardCharsets.UTF_8))
    f.toString
  }

  /** JSON-lines twin of ZeekFixtures.connContent: same values, zeek's
    * JSON conventions (dotted keys, epoch-double times, unset keys
    * omitted — except unset LISTS, written [] to match the TSV format's
    * inability to distinguish unset from empty). */
  private val connJson: String = Seq(
    """{"ts":1768539602.060078,"uid":"CAcq1P2phfnCTjZAHl","id.orig_h":"192.168.10.5","id.orig_p":54321,"id.resp_h":"8.8.8.8","id.resp_p":53,"proto":"udp","duration":0.062826,"orig_bytes":61,"pkts":-3,"local_orig":true,"score":1.5,"tags":["alpha","beta"],"rtts":[0.01,0.02]}""",
    """{"ts":1768539602.166619,"uid":"CmFsdZ2rTGf6Ouv2R6","id.orig_h":"192.168.10.5","id.orig_p":54322,"id.resp_h":"8.8.4.4","id.resp_p":53,"proto":"udp","pkts":7,"local_orig":false,"tags":[],"rtts":[]}""",
    """{"ts":1768539603.5,"uid":"Cxxg3H3AN8vkRYeSE6","id.orig_h":"10.0.0.1","id.orig_p":443,"id.resp_h":"2001:4860:4860::8888","id.resp_p":65535,"proto":"tcp","duration":45.25,"orig_bytes":18446744073709551615,"pkts":42,"local_orig":true,"score":0.0,"tags":["g",null,"h"],"rtts":[1.0,null,3.5]}"""
  ).mkString("", "\n", "\n")

  private def tsvAndJsonDirs(): (Path, Path) = {
    val tsvDir = ZeekFixtures.tempDir()
    ZeekFixtures.write(tsvDir, "conn.log", ZeekFixtures.connContent)
    val jsonDir = ZeekFixtures.tempDir()
    writeText(jsonDir, "conn.json", connJson)
    (tsvDir, jsonDir)
  }

  private def rows(df: org.apache.spark.sql.DataFrame): Seq[String] =
    df.collect().map(_.toString).sorted.toSeq

  test("explicit-types JSON read is value- and schema-identical to the TSV read") {
    val (tsvDir, jsonDir) = tsvAndJsonDirs()
    val tsv = Zeek.read(spark, s"$tsvDir/conn.log")
    val types = ZeekJson.typesFromAscii(spark, s"$tsvDir/conn.log")
    val json = ZeekJson.read(spark, s"$jsonDir/conn.json", types = types)

    // same columns and Spark types (order may differ: JSON schema is
    // name-sorted, TSV is header-ordered) — align by TSV order
    val aligned = json.select(tsv.columns.map(c => col(s"`$c`")).toIndexedSeq: _*)
    assert(aligned.schema.map(f => (f.name, f.dataType)) ==
      tsv.schema.map(f => (f.name, f.dataType)))
    // zeek.type metadata carried for every column (sink round-trip needs it)
    aligned.schema.fields.foreach { f =>
      assert(f.metadata.contains(ZeekTypes.ZeekTypeMeta), s"missing zeek.type on ${f.name}")
    }
    assert(rows(aligned) == rows(tsv))
    // count overflow (u64 max) → NULL exactly like the TSV parser
    assert(aligned.where(col("uid") === "Cxxg3H3AN8vkRYeSE6")
      .select("orig_bytes").collect().head.isNullAt(0))
  }

  test("JSON-read frame round-trips through the TSV sink") {
    val (tsvDir, jsonDir) = tsvAndJsonDirs()
    val types = ZeekJson.typesFromAscii(spark, s"$tsvDir/conn.log")
    val json = ZeekJson.read(spark, s"$jsonDir/conn.json", types = types)
    val tsv = Zeek.read(spark, s"$tsvDir/conn.log")

    val out = ZeekFixtures.tempDir()
    json.select(tsv.columns.map(c => col(s"`$c`")).toIndexedSeq: _*)
      .write.format("zeek").mode("append").save(out.toString)
    val back = Zeek.read(spark, s"$out/*.log")
    // dotted #fields names restored from zeek.name metadata
    assert(rows(back) == rows(tsv))
  }

  test("write → read round trip (JSON sink) is value-identical") {
    val (tsvDir, _) = tsvAndJsonDirs()
    val orig = Zeek.read(spark, s"$tsvDir/conn.log")
    val types = ZeekJson.typesFromAscii(spark, s"$tsvDir/conn.log")

    val out = ZeekFixtures.tempDir().resolve("j").toString
    ZeekJson.write(orig, out)
    val back = ZeekJson.read(spark, out, types = types)
      .select(orig.columns.map(c => col(s"`$c`")).toIndexedSeq: _*)
    assert(back.schema.map(f => (f.name, f.dataType)) ==
      orig.schema.map(f => (f.name, f.dataType)))
    assert(rows(back) == rows(orig))
  }

  test("gzip-compressed JSON write round-trips") {
    val (tsvDir, _) = tsvAndJsonDirs()
    val orig = Zeek.read(spark, s"$tsvDir/conn.log")
    val types = ZeekJson.typesFromAscii(spark, s"$tsvDir/conn.log")
    val out = ZeekFixtures.tempDir().resolve("jz").toString
    ZeekJson.write(orig, out, compression = "gzip")
    val parts = new java.io.File(out).listFiles().filter(_.getName.startsWith("part-"))
    assert(parts.nonEmpty && parts.forall(_.getName.endsWith(".gz")))
    val back = ZeekJson.read(spark, out, types = types)
      .select(orig.columns.map(c => col(s"`$c`")).toIndexedSeq: _*)
    assert(rows(back) == rows(orig))
  }

  test("ISO8601 timestamps read and write") {
    val dir = ZeekFixtures.tempDir()
    writeText(dir, "iso.json",
      """{"ts":"2026-01-16T05:00:02.060078Z","uid":"A"}""" + "\n")
    val df = ZeekJson.read(spark, s"$dir/iso.json",
      types = Map("ts" -> "time", "uid" -> "string"), isoTimestamps = true)
    assert(df.schema("ts").dataType == TimestampType)
    val micros = df.select(unix_micros(col("ts"))).collect().head.getLong(0)
    assert(micros == 1768539602060078L)

    val out = ZeekFixtures.tempDir().resolve("iso-out").toString
    ZeekJson.write(df, out, isoTimestamps = true)
    val raw = spark.read.text(out).collect().map(_.getString(0)).mkString
    assert(raw.contains("2026-01-16T05:00:02.060078Z"))
    val back = ZeekJson.read(spark, out,
      types = Map("ts" -> "time", "uid" -> "string"), isoTimestamps = true)
    assert(back.select(unix_micros(col("ts"))).collect().head.getLong(0) == micros)
  }

  test("inference mode: ts heuristic + shape mapping, no types needed") {
    val dir = ZeekFixtures.tempDir()
    writeText(dir, "inf.json",
      """{"ts":1768539602.060078,"uid":"A","n":7,"ok":true,"vals":[1.5,2.5]}""" + "\n")
    val df = ZeekJson.read(spark, s"$dir/inf.json")
    val byName = df.schema.fields.map(f => f.name -> f.dataType).toMap
    assert(byName("ts") == TimestampType)
    assert(byName("uid") == StringType)
    assert(byName("n") == LongType)
    assert(byName("ok") == BooleanType)
    assert(byName("vals") == ArrayType(DoubleType, containsNull = true))
    assert(df.select(unix_micros(col("ts"))).collect().head.getLong(0) == 1768539602060078L)
  }

  test("nested-struct layout flattens to the dotted form (inference mode)") {
    val dir = ZeekFixtures.tempDir()
    writeText(dir, "nested.json",
      """{"ts":1.5,"id":{"orig_h":"10.0.0.1","orig_p":443}}""" + "\n")
    val df = ZeekJson.read(spark, s"$dir/nested.json")
    assert(df.columns.toSet == Set("ts", "id_orig_h", "id_orig_p"))
    assert(df.select("id_orig_h").collect().head.getString(0) == "10.0.0.1")
  }

  test("filename virtual column matches the TSV source's display form") {
    val (tsvDir, jsonDir) = tsvAndJsonDirs()
    val types = ZeekJson.typesFromAscii(spark, s"$tsvDir/conn.log")
    val df = ZeekJson.read(spark, s"$jsonDir/conn.json", types = types, filename = true)
    val names = df.select("filename").distinct().collect().map(_.getString(0))
    assert(names.length == 1 && names.head == s"$jsonDir/conn.json")
  }

  test("explicit-types read prunes columns and pushes filters to the JSON scan") {
    val (tsvDir, jsonDir) = tsvAndJsonDirs()
    val types = ZeekJson.typesFromAscii(spark, s"$tsvDir/conn.log")
    val df = ZeekJson.read(spark, s"$jsonDir/conn.json", types = types)
      .where(col("uid") === "CAcq1P2phfnCTjZAHl")
      .select("uid", "id_orig_p")
    val plan = df.queryExecution.executedPlan.toString
    // only the referenced raw fields are read — not the whole record
    assert(plan.contains("ReadSchema"))
    val readSchema = plan.linesIterator.find(_.contains("ReadSchema")).get
    assert(readSchema.contains("uid") && readSchema.contains("id.orig_p"))
    assert(!readSchema.contains("id.resp_h") && !readSchema.contains("tags"))
    assert(df.collect().map(_.getInt(1)).toSeq == Seq(54321))
  }

  test("readStream: typed micro-batch ingestion of a JSON log directory") {
    val dir = ZeekFixtures.tempDir()
    writeText(dir, "a.json", """{"ts":1.5,"uid":"A","n":7}""" + "\n")
    val types = Map("ts" -> "time", "uid" -> "string", "n" -> "count")
    val stream = ZeekJson.readStream(spark, dir.toString, types = types,
      maxFilesPerTrigger = Some(1))
    assert(stream.isStreaming)
    assert(stream.schema("ts").dataType == TimestampType)
    val q = stream.writeStream.format("memory").queryName("zjson_stream")
      .outputMode("append").start()
    try {
      q.processAllAvailable()
      writeText(dir, "b.json", """{"ts":2.5,"uid":"B","n":8}""" + "\n")
      q.processAllAvailable()
      val out = spark.table("zjson_stream").collect()
        .map(r => (r.getAs[java.sql.Timestamp]("ts").getTime, r.getAs[String]("uid"),
          r.getAs[Long]("n"))).sortBy(_._2).toSeq
      assert(out == Seq((1500L, "A", 7L), (2500L, "B", 8L)))
    } finally q.stop()
  }

  test("unset scalar vs empty-string distinction survives JSON (beyond TSV)") {
    // TSV maps both markers to NULL for scalar strings; JSON keeps ""
    val dir = ZeekFixtures.tempDir()
    writeText(dir, "e.json",
      """{"uid":"A","s":""}""" + "\n" + """{"uid":"B"}""" + "\n")
    val df = ZeekJson.read(spark, s"$dir/e.json",
      types = Map("uid" -> "string", "s" -> "string"))
    val m = df.collect().map(r => r.getString(df.columns.indexOf("uid")) ->
      (if (r.isNullAt(df.columns.indexOf("s"))) null else r.getString(df.columns.indexOf("s")))).toMap
    assert(m("A") == "")
    assert(m("B") == null)
  }
}
