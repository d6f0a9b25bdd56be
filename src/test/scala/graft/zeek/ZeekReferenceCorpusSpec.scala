package graft.zeek

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Parity against the REFERENCE'S OWN fixture logs and sqllogictest
  * goldens (read-only from /root/reference/data; golden values from the
  * reference's test/sql suite). This is the strongest evidence the
  * source reproduces `read_zeek`: same real gzip logs, same expected
  * values — modulo the documented type-mapping deviations (timestamp
  * instead of timestamptz, day-time interval, long instead of ubigint;
  * SURVEY.md §1.4).
  *
  * Skips cleanly if the reference tree is not present. */
class ZeekReferenceCorpusSpec extends AnyFunSuite with NoReadAheadLeak {
  private lazy val spark = SharedSpark.spark
  private val data = "/root/reference/data"
  private def have = new java.io.File(data).isDirectory

  private def zeek(path: String, opts: (String, String)*) = {
    var r = spark.read.format("zeek")
    opts.foreach { case (k, v) => r = r.option(k, v) }
    r.load(s"$data/$path")
  }

  test("known_hosts single file: values, count, NULL unset, list cell (zeek.test:8-29,49-53)") {
    assume(have)
    val df = zeek("known_hosts_20260116_00.00.00-01.00.00-0500.log.gz")
    val rows = df.collect()
    assert(rows.length == 1)
    val r = df.select("ts", "kuid", "host_ip", "conns_opened", "conns_closed",
      "host_inner_vlan", "annotations").collect().head
    // golden: 2026-01-16 05:19:49.230929+00 (UTC session pins rendering)
    assert(r.getTimestamp(0).toString == "2026-01-16 05:19:49.230929")
    assert(r.getString(1) == "Kfoql5dpOG1K1")
    assert(r.getString(2) == "10.21.7.136")
    assert(r.getLong(3) == 1L && r.getLong(4) == 1L)
    assert(r.isNullAt(5)) // '-' unset → NULL
    assert(r.getSeq[String](6) == Seq("foo", "bar", "baz"))
  }

  test("known_hosts glob: 27 rows over 24 files; filename column (zeek.test:31-47)") {
    assume(have)
    assert(zeek("known_hosts*.gz").count() == 27)
    val withName = zeek("known_hosts*.gz", "filename" -> "true")
    assert(withName.select(countDistinct(col("filename"))).collect().head.getLong(0) == 24)
    val one = zeek("known_hosts_20260116_00.00.00-01.00.00-0500.log.gz", "filename" -> "true")
      .select("filename").collect().head.getString(0)
    assert(one.endsWith("known_hosts_20260116_00.00.00-01.00.00-0500.log.gz"))
  }

  test("interval values: duration/last_active_interval micros (zeek.test:85-89)") {
    assume(have)
    val r = zeek("known_hosts_20260116_00.00.00-01.00.00-0500.log.gz")
      .select("duration", "last_active_interval").collect().head
    // golden 00:05:23.12666 and 01:04:55.038597 (as micros)
    assert(r.getAs[java.time.Duration](0).toNanos / 1000 == 323126660L)
    assert(r.getAs[java.time.Duration](1).toNanos / 1000 == 3895038597L)
  }

  test("dns.log: vector columns, interval elements, ports (zeek.test:55-59,91-101)") {
    assume(have)
    val df = zeek("dns.log.gz")
    val first = df.orderBy(col("ts")).limit(1)
      .select("answers", "TTLs", "id_orig_p", "id_resp_p").collect().head
    assert(first.getSeq[String](0) == Seq("vhost-account.vip.icann.org", "192.0.32.17"))
    // TTLs: ['00:45:35', '00:00:30'] = [2735s, 30s] as day-time intervals
    assert(first.getSeq[java.time.Duration](1).map(_.toMillis) == Seq(2735000L, 30000L))
    assert(first.getInt(2) == 51168 && first.getInt(3) == 53)
  }

  test("dhcp.log: set[string] cell, 1-day lease interval (zeek.test:61-65,91-95)") {
    assume(have)
    val r = zeek("dhcp.log.gz").select("uids", "lease_time").collect().head
    assert(r.getSeq[String](0) == Seq("Cxkiqn3Sto5tM1CHA4", "C1qMR61z0VQe1sDqYk"))
    assert(r.getAs[java.time.Duration](1) == java.time.Duration.ofDays(1))
  }

  test("filter pushdown matrix over dns.log (zeek.test:109-207)") {
    assume(have)
    val dns = zeek("dns.log.gz")
    assert(dns.filter(col("proto") === "udp").count() == 2)
    assert(dns.filter(col("proto") === "tcp").count() == 0)
    assert(dns.filter(col("id_orig_p") === 51168).count() == 1)
    assert(dns.filter(col("id_orig_p") > 50000).count() == 1)
    assert(dns.filter(col("ts") > lit(java.sql.Timestamp.valueOf("2026-01-01 00:00:00"))).count() == 2)
    assert(dns.filter(col("proto").isin("udp", "tcp")).count() == 2)
    assert(dns.filter(col("proto").isin("icmp", "tcp")).count() == 0)
    assert(dns.filter(col("id_orig_p").isin(51168, 49581)).count() == 2)
    assert(dns.filter(col("proto") === "udp" && col("id_orig_p") === 51168).count() == 1)
    assert(dns.filter(col("id_orig_p") === 51168 || col("id_orig_p") === 49581).count() == 2)
    assert(dns.filter(col("id_orig_p") === 51168 || col("id_orig_p") === 99999).count() == 1)
    val proj = dns.filter(col("id_orig_p") === 51168).select("id_orig_p", "proto").collect().head
    assert(proj.getInt(0) == 51168 && proj.getString(1) == "udp")
    // filter column outside the projection
    assert(dns.filter(col("id_orig_p") === 49581).select("uid")
      .collect().head.getString(0) == "C61GeE23uDUeX311zl")
    val kh = zeek("known_hosts_20260116_00.00.00-01.00.00-0500.log.gz")
    assert(kh.filter(col("host_inner_vlan").isNull).count() == 1)
    assert(kh.filter(col("host_inner_vlan").isNotNull).count() == 0)
    assert(kh.filter(col("host_vlan").isNotNull).count() == 1)
  }

  test("strict schema validation errors name the mismatch (zeek.test:209-242)") {
    assume(have)
    assert(zeek("schema_match/*.log").count() == 3)
    def errorOf(glob: String): String =
      intercept[Exception](zeek(glob).count()).getMessage
    assert(errorOf("schema_extra/*.log").contains("different field count"))
    assert(errorOf("schema_reorder/*.log").contains("field 0 differs"))
    assert(errorOf("schema_type/*.log").contains("type for field 'value' differs"))
  }

  test("union_by_name over the reference fixtures (zeek.test:244-301)") {
    assume(have)
    val u = zeek("schema_union_overlap/*.log", "union_by_name" -> "true")
    assert(u.count() == 4)
    assert(u.schema.length == 5) // ts, id, value, extra, newfield
    val a = u.filter(col("id").like("A%"))
      .agg(count(lit(1)), count(col("extra"))).collect().head
    assert(a.getLong(0) == 2 && a.getLong(1) == 0) // absent → NULL
    val b = u.filter(col("id").like("B%")).orderBy("id")
      .select("id", "extra", "newfield").collect()
    assert(b.map(r => (r.getString(0), r.getString(1), r.getBoolean(2))).toSeq ==
      Seq(("B1", "hello", true), ("B2", "world", false)))
    assert(u.filter(col("value") > 15).count() == 3)
    assert(u.filter(col("extra").isNull).count() == 2)
    assert(u.filter(col("extra").isNotNull).count() == 2)
    // strict mode on the same files still errors
    assert(intercept[Exception](zeek("schema_union_overlap/*.log").count())
      .getMessage.contains("different field count"))
    // type conflict is a bind-time error
    assert(intercept[Exception](
      zeek("schema_union_typeconflict/*.log", "union_by_name" -> "true").count())
      .getMessage.contains("field 'value' has type"))
  }

  test("inet semantics over dns.log (zeek_inet.test)") {
    assume(have)
    import graft.inet.InetFunctions
    val dns = zeek("dns.log.gz") // addr columns are strings + zeek.type metadata (SURVEY §1.4)
    val first = dns.orderBy(col("ts")).limit(1)
      .select("id_orig_h", "id_resp_h").collect().head
    assert(first.getString(0) == "10.20.40.41" && first.getString(1) == "8.8.4.4")
    // addr columns carry their Zeek type in metadata (inet=true default)
    assert(dns.schema("id_orig_h").metadata.getString(ZeekTypes.ZeekTypeMeta) == "addr")
    // equality-as-ip (the '...'::inet casts) via inet_equal — matches the
    // post-scan filtering the reference does for INET predicates
    assert(dns.filter(InetFunctions.inet_equal(col("id_orig_h"), lit("10.20.40.41"))).count() == 2)
    assert(dns.filter(InetFunctions.inet_equal(col("id_orig_h"), lit("127.0.0.1"))).count() == 0)
    // mixed: pushed-down native predicate AND post-scan inet predicate
    assert(dns.filter(col("proto") === "udp" &&
      InetFunctions.inet_equal(col("id_resp_h"), lit("8.8.4.4"))).count() == 2)
  }

  test("ignore_file_errors over the reference error fixtures (zeek_ignore_file_errors.test)") {
    assume(have)
    // single invalid files error even with ignore_file_errors (no valid schema source)
    intercept[Exception](zeek("error_test/corrupted.log.gz").count())
    intercept[Exception](zeek("error_test/fake_gzip.log.gz").count())
    assert(intercept[Exception](
      zeek("error_test/corrupted.log.gz", "ignore_file_errors" -> "true").count())
      .getMessage.contains("No valid Zeek log files found"))
    // valid single file
    val v = zeek("error_test/valid.log.gz").orderBy("id").select("ts", "id", "value").collect()
    assert(v.map(_.getString(1)).toSeq == Seq("A1", "A2"))
    assert(v.head.getTimestamp(0).toString == "2025-01-16 04:59:50.123456")
    assert(v.map(_.getLong(2)).toSeq == Seq(100L, 200L))
    // mixed glob: fails strict, reads only valid rows with ignore_file_errors
    intercept[Exception](zeek("error_test/*.log.gz").count())
    val ok = zeek("error_test/*.log.gz", "ignore_file_errors" -> "true")
    assert(ok.orderBy("id").select("id").collect().map(_.getString(0)).toSeq ==
      Seq("A1", "A2", "A3"))
    assert(ok.count() == 3)
    assert(zeek("error_test/*.log.gz", "ignore_file_errors" -> "true",
      "union_by_name" -> "true").count() == 3)
    assert(zeek("error_test/*.log.gz", "ignore_file_errors" -> "true",
      "filename" -> "true").select(countDistinct(col("filename")))
      .collect().head.getLong(0) == 2)
  }
}
