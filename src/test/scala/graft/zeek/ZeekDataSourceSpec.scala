package graft.zeek

import java.sql.Timestamp

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.SparkException
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

/** End-to-end tests of the Zeek DSv2 source over generated fixtures,
  * covering the behavior matrix of the reference's sqllogictest corpus
  * (SURVEY.md §5): types & values, NULL markers, lists, globs + filename,
  * strict validation, union_by_name, ignore_file_errors, pushdown,
  * compression. */
class ZeekDataSourceSpec extends AnyFunSuite with BeforeAndAfterAll {
  private lazy val spark = SharedSpark.spark

  private def read(path: String, opts: Map[String, String] = Map.empty) = {
    var r = spark.read.format("zeek")
    opts.foreach { case (k, v) => r = r.option(k, v) }
    r.load(path)
  }

  test("scalar types, values, and schema") {
    val dir = ZeekFixtures.tempDir()
    val p = ZeekFixtures.write(dir, "conn.log", ZeekFixtures.connContent)
    val df = read(p)
    val s = df.schema
    assert(s.fieldNames.toSeq == Seq("ts", "uid", "id_orig_h", "id_orig_p", "id_resp_h",
      "id_resp_p", "proto", "duration", "orig_bytes", "pkts", "local_orig", "score", "tags", "rtts"))
    assert(s("ts").dataType == TimestampType)
    assert(s("duration").dataType.isInstanceOf[DayTimeIntervalType])
    assert(s("id_orig_p").dataType == IntegerType)
    assert(s("orig_bytes").dataType == LongType)
    assert(s("pkts").dataType == LongType)
    assert(s("local_orig").dataType == BooleanType)
    assert(s("score").dataType == DoubleType)
    assert(s("tags").dataType == ArrayType(StringType))
    assert(s("rtts").dataType.isInstanceOf[ArrayType])

    val rows = df.orderBy("ts").collect()
    assert(rows.length == 3)
    val r0 = rows(0)
    assert(r0.getAs[Timestamp]("ts") == Timestamp.from(java.time.Instant.ofEpochSecond(1768539602L, 60078000)))
    assert(r0.getAs[String]("uid") == "CAcq1P2phfnCTjZAHl")
    assert(r0.getAs[String]("id_orig_h") == "192.168.10.5")
    assert(r0.getAs[Int]("id_orig_p") == 54321)
    assert(r0.getAs[String]("proto") == "udp")
    assert(r0.getAs[Long]("orig_bytes") == 61L)
    assert(r0.getAs[Long]("pkts") == -3L)
    assert(r0.getAs[Boolean]("local_orig"))
    assert(r0.getAs[Double]("score") == 1.5)
    assert(r0.getSeq[String](s.fieldIndex("tags")) == Seq("alpha", "beta"))

    val r1 = rows(1)
    assert(r1.isNullAt(s.fieldIndex("duration")))  // unset marker
    assert(r1.isNullAt(s.fieldIndex("orig_bytes")))
    assert(!r1.getAs[Boolean]("local_orig"))       // F
    assert(r1.isNullAt(s.fieldIndex("score")))
    assert(r1.getSeq[String](s.fieldIndex("tags")) == Seq.empty) // (empty) → empty list
    assert(r1.getSeq[Any](s.fieldIndex("rtts")) == Seq.empty)    // unset → empty list

    val r2 = rows(2)
    assert(r2.getAs[Int]("id_resp_p") == 65535)
    assert(r2.isNullAt(s.fieldIndex("orig_bytes"))) // u64 max > Long.MaxValue → NULL
    assert(r2.getAs[Boolean]("local_orig"))         // "true"
    assert(r2.getSeq[String](s.fieldIndex("tags")) == Seq("g", null, "h")) // NULL element
  }

  test("interval values are orderable micros") {
    val dir = ZeekFixtures.tempDir()
    val p = ZeekFixtures.write(dir, "conn.log", ZeekFixtures.connContent)
    val df = read(p).select(col("uid"), col("duration"))
    val durs = df.filter(col("duration").isNotNull).orderBy(col("duration")).collect()
    assert(durs.length == 2)
    assert(durs(0).getAs[java.time.Duration]("duration") == java.time.Duration.ofNanos(62826000))
    assert(durs(1).getAs[java.time.Duration]("duration") == java.time.Duration.ofMillis(45250))
  }

  test("malformed values become NULL, not errors") {
    val dir = ZeekFixtures.tempDir()
    val content = ZeekFixtures.header("t", Seq("a", "b", "c", "d"), Seq("count", "port", "double", "time")) +
      ZeekFixtures.row("notanum", "65536", "abc", "xyz") +
      ZeekFixtures.row("123", "80", "2.5", "1700000000.5")
    val p = ZeekFixtures.write(dir, "t.log", content)
    val rows = read(p).orderBy(asc_nulls_first("a")).collect()
    assert(rows(0).isNullAt(0) && rows(0).isNullAt(1) && rows(0).isNullAt(2) && rows(0).isNullAt(3))
    assert(rows(1).getLong(0) == 123L && rows(1).getInt(1) == 80 && rows(1).getDouble(2) == 2.5)
  }

  test("glob + filename column + deterministic file order") {
    val dir = ZeekFixtures.tempDir()
    ZeekFixtures.write(dir, "a.log", ZeekFixtures.base("t", Seq(("1.0", "A1", "100"), ("2.0", "A2", "200"))))
    ZeekFixtures.write(dir, "b.log", ZeekFixtures.base("t", Seq(("3.0", "B1", "300"))))
    val df = read(s"$dir/*.log", Map("filename" -> "true"))
    assert(df.schema.fieldNames.last == "filename")
    assert(df.count() == 3)
    val byFile = df.groupBy("filename").count().orderBy("filename").collect()
    assert(byFile.length == 2)
    assert(byFile(0).getString(0).endsWith("a.log") && byFile(0).getLong(1) == 2)
    assert(byFile(1).getString(0).endsWith("b.log") && byFile(1).getLong(1) == 1)
    // filename is filterable (reference: src/zeek_scanner.cpp:728-735)
    assert(df.filter(col("filename").endsWith("b.log")).count() == 1)
  }

  test("runtime v2 filtering: a broadcast join on filename prunes files at execution") {
    val dir = ZeekFixtures.tempDir()
    ZeekFixtures.write(dir, "a.log", ZeekFixtures.base("t", Seq(("1.0", "A1", "100"), ("2.0", "A2", "200"))))
    ZeekFixtures.write(dir, "b.log", ZeekFixtures.base("t", Seq(("3.0", "B1", "300"))))
    ZeekFixtures.write(dir, "c.log", ZeekFixtures.base("t", Seq(("4.0", "C1", "400"))))
    val logs = read(s"$dir/*.log", Map("filename" -> "true"))
    // learn the exact display-path rendering from the data itself, then
    // join against a filtered 1-path dimension (the selective predicate
    // DPP's heuristic wants) — dynamic file pruning, values from DATA
    val bPath = logs.select("filename").distinct().collect()
      .map(_.getString(0)).find(_.endsWith("b.log")).get
    import spark.implicits._
    // the dimension must be a REAL source with a surviving Filter node —
    // a LocalRelation's filter constant-folds away and DPP's
    // selective-predicate heuristic then declines to prune
    val dimPath = dir.resolve("dim.parquet").toString
    Seq(bPath, "no-such-file").toDF("fn").write.parquet(dimPath)
    val wanted = spark.read.parquet(dimPath).filter(col("fn").endsWith("b.log"))
    val joined = logs.join(org.apache.spark.sql.functions.broadcast(wanted),
      logs("filename") === col("fn"))
    val rows = joined.collect()
    assert(rows.length == 1 && rows(0).getAs[String]("filename").endsWith("b.log"))

    // the executed scan must have been RUNTIME-pruned to the single file
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
    def scans(p: SparkPlan): Seq[BatchScanExec] = p match {
      case a: AdaptiveSparkPlanExec => scans(a.executedPlan)
      case q: QueryStageExec => scans(q.plan)
      case b: BatchScanExec => Seq(b)
      case o => o.children.flatMap(scans)
    }
    val zeekScans = scans(joined.queryExecution.executedPlan)
      .map(_.scan).collect { case z: graft.zeek.v2.ZeekScan => z }
    assert(zeekScans.nonEmpty, joined.queryExecution.executedPlan.toString.take(3000))
    assert(zeekScans.head.planInputPartitions().length == 1,
      s"expected runtime pruning to 1 file, got ${zeekScans.head.planInputPartitions().length}:\n" +
        joined.queryExecution.executedPlan.toString.take(3000))
  }

  test("SQL table function: SELECT * FROM read_zeek('glob', opts) — the reference's own UX") {
    val dir = ZeekFixtures.tempDir()
    ZeekFixtures.write(dir, "a.log", ZeekFixtures.base("t", Seq(("1.0", "A1", "100"), ("2.0", "A2", "200"))))
    ZeekFixtures.write(dir, "b.log", ZeekFixtures.base("t", Seq(("3.0", "B1", "300"))))
    graft.zeek.v2.ZeekTableFunction.register(spark)
    // bare pattern
    val all = spark.sql(s"SELECT * FROM read_zeek('$dir/*.log')")
    assert(all.count() == 3)
    // equals the reader API result exactly
    assert(all.collect().map(_.toString).sorted.toSeq ==
      read(s"$dir/*.log").collect().map(_.toString).sorted.toSeq)
    // named options flow through to ZeekOptions (filename virtual column)
    val withFn = spark.sql(
      s"SELECT filename, count(*) AS n FROM read_zeek('$dir/*.log', filename => true) GROUP BY 1 ORDER BY 1")
      .collect()
    assert(withFn.length == 2 && withFn(0).getString(0).endsWith("a.log") && withFn(0).getLong(1) == 2)
    // pushdown still applies through the TVF relation (same DSv2 scan)
    val plan = spark.sql(s"SELECT id FROM read_zeek('$dir/*.log') WHERE value > 150")
      .queryExecution.executedPlan.toString
    assert(plan.contains("ZeekScan"), plan.take(1500))
    assert(plan.contains("GreaterThan(value,150)"), "filter should push into the scan:\n" + plan.take(1500))
    // strict: no files is the reference's bind error
    val err = intercept[Exception] {
      spark.sql(s"SELECT * FROM read_zeek('$dir/nope-*.log')").collect()
    }
    assert(err.getMessage.contains("No files found") ||
      Option(err.getCause).exists(_.getMessage.contains("No files found")), err.getMessage)
  }

  test("replace_periods=false keeps dotted names") {
    val dir = ZeekFixtures.tempDir()
    val p = ZeekFixtures.write(dir, "conn.log", ZeekFixtures.connContent)
    val df = read(p, Map("replace_periods" -> "false"))
    assert(df.schema.fieldNames.contains("id.orig_h"))
  }

  test("strict mode: schema mismatch errors name the difference") {
    val dir = ZeekFixtures.tempDir()
    ZeekFixtures.write(dir, "a.log", ZeekFixtures.base("t", Seq(("1.0", "A1", "100"))))
    // extra field
    val extra = ZeekFixtures.header("t", Seq("ts", "id", "value", "extra"),
      Seq("time", "string", "count", "string")) + ZeekFixtures.row("2.0", "B1", "200", "x")
    ZeekFixtures.write(dir, "b.log", extra)
    val e1 = intercept[Exception](read(s"$dir/*.log").collect())
    assert(e1.getMessage.contains("different field count") ||
      Option(e1.getCause).exists(_.getMessage.contains("different field count")))

    val dir2 = ZeekFixtures.tempDir()
    ZeekFixtures.write(dir2, "a.log", ZeekFixtures.base("t", Seq(("1.0", "A1", "100"))))
    val reorder = ZeekFixtures.header("t", Seq("id", "ts", "value"),
      Seq("string", "time", "count")) + ZeekFixtures.row("B1", "2.0", "200")
    ZeekFixtures.write(dir2, "b.log", reorder)
    val e2 = intercept[Exception](read(s"$dir2/*.log").collect())
    assert(e2.getMessage.contains("field 0 differs") ||
      Option(e2.getCause).exists(_.getMessage.contains("field 0 differs")))

    val dir3 = ZeekFixtures.tempDir()
    ZeekFixtures.write(dir3, "a.log", ZeekFixtures.base("t", Seq(("1.0", "A1", "100"))))
    val retype = ZeekFixtures.header("t", Seq("ts", "id", "value"),
      Seq("time", "string", "string")) + ZeekFixtures.row("2.0", "B1", "200")
    ZeekFixtures.write(dir3, "b.log", retype)
    val e3 = intercept[Exception](read(s"$dir3/*.log").collect())
    assert(e3.getMessage.contains("type for field 'value' differs") ||
      Option(e3.getCause).exists(_.getMessage.contains("type for field 'value' differs")))
  }

  test("union_by_name: schema union, NULL fill, absent-column filters") {
    val dir = ZeekFixtures.tempDir()
    ZeekFixtures.write(dir, "old.log", ZeekFixtures.base("t", Seq(("1.0", "A1", "100"), ("2.0", "A2", "200"))))
    val newer = ZeekFixtures.header("t", Seq("ts", "id", "value", "extra", "newfield"),
      Seq("time", "string", "count", "string", "bool")) +
      ZeekFixtures.row("3.0", "B1", "300", "x", "T") +
      ZeekFixtures.row("4.0", "B2", "400", "y", "F")
    ZeekFixtures.write(dir, "z_new.log", newer)
    val df = read(s"$dir/*.log", Map("union_by_name" -> "true"))
    assert(df.schema.fieldNames.toSeq == Seq("ts", "id", "value", "extra", "newfield"))
    assert(df.count() == 4)
    // rows from the old file read NULL for absent columns
    assert(df.filter(col("extra").isNull).count() == 2)
    assert(df.filter(col("extra").isNotNull).count() == 2)
    assert(df.filter(col("newfield") === true).count() == 1)
    val olds = df.filter(col("extra").isNull).select("id").collect().map(_.getString(0)).sorted
    assert(olds.toSeq == Seq("A1", "A2"))
  }

  test("union_by_name: type conflict is a bind error") {
    val dir = ZeekFixtures.tempDir()
    ZeekFixtures.write(dir, "a.log", ZeekFixtures.base("t", Seq(("1.0", "A1", "100"))))
    val conflict = ZeekFixtures.header("t", Seq("ts", "id", "value"),
      Seq("time", "string", "string")) + ZeekFixtures.row("2.0", "B1", "xyz")
    ZeekFixtures.write(dir, "b.log", conflict)
    val e = intercept[Exception](read(s"$dir/*.log", Map("union_by_name" -> "true")))
    assert(e.getMessage.contains("field 'value' has type"))
  }

  test("ignore_file_errors: corrupt files skipped, all-invalid errors") {
    val dir = ZeekFixtures.tempDir()
    ZeekFixtures.writeRaw(dir, "corrupted.log.gz", Array.empty[Byte])
    ZeekFixtures.writeRaw(dir, "fake_gzip.log.gz", "this is not gzip content!!".getBytes)
    ZeekFixtures.write(dir, "valid.log.gz",
      ZeekFixtures.base("t", Seq(("1.0", "A1", "100"), ("2.0", "A2", "200"))), gzip = true)
    ZeekFixtures.write(dir, "valid2.log.gz",
      ZeekFixtures.base("t", Seq(("3.0", "A3", "300"))), gzip = true)

    // default: bind fails on the first invalid file
    intercept[Exception](read(s"$dir/*.log.gz").collect())
    // with the flag: 3 rows from the two valid files
    val df = read(s"$dir/*.log.gz", Map("ignore_file_errors" -> "true"))
    assert(df.count() == 3)
    // also works with union_by_name + filename
    val df2 = read(s"$dir/*.log.gz",
      Map("ignore_file_errors" -> "true", "union_by_name" -> "true", "filename" -> "true"))
    assert(df2.count() == 3)
    assert(df2.select("filename").distinct().count() == 2)

    // all-invalid glob errors even with the flag
    val dirBad = ZeekFixtures.tempDir()
    ZeekFixtures.writeRaw(dirBad, "x.log.gz", "garbage".getBytes)
    val e = intercept[Exception](read(s"$dirBad/*.log.gz", Map("ignore_file_errors" -> "true")))
    assert(e.getMessage.contains("No valid Zeek log files found"))
  }

  test("empty glob errors") {
    val dir = ZeekFixtures.tempDir()
    val e = intercept[Exception](read(s"$dir/*.log").count())
    assert(e.getMessage.contains("No files found"))
  }

  test("a path matching no files fails at load, naming the path") {
    // the reference's bind error (src/zeek_scanner.cpp:446-453), raised by
    // load() itself rather than surfacing later as an unresolved column
    val pattern = s"${ZeekFixtures.tempDir()}/no-match-*.log"
    val e = intercept[ZeekFormatException](read(pattern))
    assert(e.getMessage == s"""No files found that match the pattern "$pattern"""")
  }

  test("filter pushdown: results identical to post-scan semantics") {
    val dir = ZeekFixtures.tempDir()
    val p = ZeekFixtures.write(dir, "conn.log", ZeekFixtures.connContent)
    val df = read(p)
    assert(df.filter(col("proto") === "udp").count() == 2)
    assert(df.filter(col("id_orig_p") > 54321).count() == 1)
    assert(df.filter(col("uid").isin("CAcq1P2phfnCTjZAHl", "Cxxg3H3AN8vkRYeSE6")).count() == 2)
    assert(df.filter(col("proto") === "udp" && col("id_resp_h") === "8.8.4.4").count() == 1)
    assert(df.filter(col("proto") === "tcp" || col("id_orig_p") === 54321).count() == 2)
    assert(df.filter(col("duration").isNull).count() == 1)
    assert(df.filter(col("duration").isNotNull).count() == 2)
    assert(df.filter(col("ts") > lit(Timestamp.from(java.time.Instant.ofEpochSecond(1768539602L, 500000000)))).count() == 1)
    // filter on a column that is NOT projected
    assert(df.filter(col("proto") === "udp").select("uid").collect().map(_.getString(0)).sorted.toSeq ==
      Seq("CAcq1P2phfnCTjZAHl", "CmFsdZ2rTGf6Ouv2R6"))
    // array-typed filters are declined for pushdown but still evaluated
    assert(df.filter(array_contains(col("tags"), "alpha")).count() == 1)
    // string prefix/suffix/contains filters (pushed as String* predicates)
    assert(df.filter(col("uid").startsWith("CAcq")).count() == 1)
    assert(df.filter(col("uid").endsWith("R6")).count() == 1)
    assert(df.filter(col("uid").contains("sdZ")).count() == 1)
    // string order is UTF8String's: unsigned bytes, so non-ASCII sorts above 'z'
    val utf = read(ZeekFixtures.write(dir, "utf.log", ZeekFixtures.log("utf", Seq("s"), Seq("string"),
      Seq("a", "z", "é", "日本").map(Seq(_)))))
    assert(utf.filter(col("s") > "z").collect().map(_.getString(0)).toSet == Set("é", "日本"))
    assert(utf.filter(col("s") < "é").count() == 2)
    // pushed filters visible in the scan description
    val desc = df.filter(col("proto") === "udp").queryExecution.executedPlan.toString
    assert(desc.contains("ZeekScan"))
  }

  test("count(*) fast path") {
    val dir = ZeekFixtures.tempDir()
    val p = ZeekFixtures.write(dir, "conn.log", ZeekFixtures.connContent)
    assert(read(p).count() == 3)
  }

  test("custom lexical settings: separator, set_separator, markers") {
    val dir = ZeekFixtures.tempDir()
    val content =
      "#separator \\x2C\n" +          // comma separator
      "#set_separator,;\n" +
      "#empty_field,EMPTYV\n" +
      "#unset_field,NA\n" +
      "#fields,ts,id,tags,value\n" +
      "#types,time,string,set[string],count\n" +
      "1.5,A1,x;y;NA,100\n" +
      "2.5,NA,EMPTYV,NA\n"
    val p = ZeekFixtures.write(dir, "c.log", content)
    val df = spark.read.format("zeek").load(p)
    val rows = df.orderBy("ts").collect()
    assert(rows.length == 2)
    assert(rows(0).getString(1) == "A1")
    assert(rows(0).getSeq[String](2) == Seq("x", "y", null)) // NA element → NULL
    assert(rows(0).getLong(3) == 100L)
    assert(rows(1).isNullAt(1) && rows(1).isNullAt(3))       // NA → NULL
    assert(rows(1).getSeq[Any](2) == Seq.empty)              // EMPTYV → empty list
  }

  test("Zeek.read helper mirrors read_zeek's named parameters") {
    val dir = ZeekFixtures.tempDir()
    val p = ZeekFixtures.write(dir, "conn.log", ZeekFixtures.connContent)
    val df = Zeek.read(spark, p, filename = true, replacePeriods = false)
    assert(df.schema.fieldNames.contains("id.orig_h"))
    assert(df.schema.fieldNames.last == "filename")
    assert(df.count() == 3)
  }

  test("compression: gzip and zstd by magic bytes, regardless of name") {
    val dir = ZeekFixtures.tempDir()
    ZeekFixtures.write(dir, "a.log.gz", ZeekFixtures.base("t", Seq(("1.0", "A1", "100"))), gzip = true)
    ZeekFixtures.write(dir, "b.log.zst", ZeekFixtures.base("t", Seq(("2.0", "B1", "200"))), zstd = true)
    // misnamed: gzip content in a .log file
    ZeekFixtures.write(dir, "c.log", ZeekFixtures.base("t", Seq(("3.0", "C1", "300"))), gzip = true)
    assert(read(s"$dir/a.log.gz").count() == 1)
    assert(read(s"$dir/b.log.zst").count() == 1)
    assert(read(s"$dir/c.log").count() == 1)
  }

  test("CRLF line endings and blank lines") {
    val dir = ZeekFixtures.tempDir()
    val content = ZeekFixtures.base("t", Seq(("1.0", "A1", "100"), ("2.0", "A2", "200")))
      .replace("\n", "\r\n") + "\r\n"
    val p = ZeekFixtures.write(dir, "t.log", content)
    val rows = read(p).orderBy("id").collect()
    assert(rows.length == 2)
    assert(rows(0).getString(1) == "A1")
    assert(rows(0).getLong(2) == 100L)
  }

  test("lazy tokenizer: early projection over a wide log — values, short-line NULLs, late column intact") {
    // tokenization stops at the last projected file field (ZeekProjection
    // .nTokNeeded); this pins the semantics around that cap: early
    // fields parse exactly, a SHORT line (missing trailing fields) still
    // NULLs them, and projecting the final field still reads it
    val nExtra = 40
    val fields = (Seq("ts", "a", "b") ++ (0 until nExtra).map(i => s"x$i") :+ "zlast").mkString("\t")
    val types = (Seq("time", "count", "count") ++ (0 until nExtra).map(_ => "count") :+ "count").mkString("\t")
    val full = (r: Int) => (Seq(s"$r.0", s"${r * 10}", s"${r * 100}") ++
      (0 until nExtra).map(i => s"${r + i}") :+ s"${r * 1000}").mkString("\t")
    val content =
      s"""#separator \\x09
         |#set_separator\t,
         |#empty_field\t(empty)
         |#unset_field\t-
         |#path\twide
         |#fields\t$fields
         |#types\t$types
         |${full(1)}
         |2.0\t20\t200
         |${full(3)}
         |""".stripMargin
    val dir = ZeekFixtures.tempDir()
    val p = ZeekFixtures.write(dir, "wide.log", content)
    val early = read(p).select(col("a"), col("b")).orderBy("a").collect()
    assert(early.map(r => (r.getLong(0), r.getLong(1))).toSeq ==
      Seq((10L, 100L), (20L, 200L), (30L, 300L)))
    val late = read(p).select(col("a"), col("zlast")).orderBy("a").collect()
    // row 2 is SHORT (3 of 44 fields): zlast must come back NULL, not
    // a stale or shifted token
    assert(late.map(r => (r.getLong(0), if (r.isNullAt(1)) -1L else r.getLong(1))).toSeq ==
      Seq((10L, 1000L), (20L, -1L), (30L, 3000L)))
  }

  test("SQL surface: zeek format usable from SQL + typical query") {
    val dir = ZeekFixtures.tempDir()
    val p = ZeekFixtures.write(dir, "conn.log", ZeekFixtures.connContent)
    read(p).createOrReplaceTempView("conn")
    val out = spark.sql(
      "SELECT proto, count(*) AS c, count(duration) AS d FROM conn GROUP BY proto ORDER BY proto")
      .collect()
    assert(out.map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq ==
      Seq(("tcp", 1L, 1L), ("udp", 2L, 1L)))
  }
}
