package graft.zeek

import java.time.Duration

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Self-contained twins of [[ZeekReferenceCorpusSpec]]'s reader-path
  * cases: logs generated with the exact FIXTURES.md dns / dhcp /
  * known_hosts schemas, goldens derived from the generated cells. They
  * run on every host; the reference-tree versions still run where that
  * tree exists. */
class ZeekGeneratedCorpusSpec extends AnyFunSuite with NoReadAheadLeak {
  private lazy val spark = SharedSpark.spark

  private def markers(cell: String) = cell == "-" || cell == "(empty)"
  private def listCell(cell: String): Seq[String] =
    if (markers(cell)) Nil else cell.split(",", -1).toSeq.map(e => if (markers(e)) null else e)
  private def micros(d: Duration): Long = d.getSeconds * 1000000L + d.getNano / 1000

  private lazy val dnsRows = ZeekFixtures.dnsRows(40)
  private lazy val dns = {
    val dir = ZeekFixtures.tempDir()
    val path = ZeekFixtures.write(dir, "dns.log.gz", ZeekFixtures.log("dns",
      ZeekFixtures.dnsFields, ZeekFixtures.dnsTypes, dnsRows), gzip = true)
    spark.read.format("zeek").load(path)
  }
  private def dnsCol(name: String) = ZeekFixtures.dnsFields.indexOf(name)

  test("generated dns.log: vector columns, interval elements, ports") {
    val got = dns.orderBy(col("ts"))
      .select("answers", "TTLs", "id_orig_p", "id_resp_p").collect()
    assert(got.length == dnsRows.length)
    got.zip(dnsRows).foreach { case (r, raw) =>
      assert(r.getSeq[String](0) == listCell(raw(dnsCol("answers"))), raw)
      val ttls = r.getSeq[Duration](1).map(d => if (d == null) null else micros(d))
      assert(ttls == listCell(raw(dnsCol("TTLs"))).map(e =>
        if (e == null) null else ZeekFixtures.cellMicros(e)), raw)
      assert(r.getInt(2) == raw(dnsCol("id.orig_p")).toInt && r.getInt(3) == 53)
    }
    // the shapes the reference fixture pins: a two-element answer list
    // and TTLs [2735 s, 30 s]
    val two = got.find(_.getSeq[String](0).length == 2).get
    assert(two.getSeq[Duration](1).map(_.getSeconds) == Seq(2735L, 30L))
  }

  test("generated dhcp.log: set[string] cell, 1-day lease interval") {
    val rows = ZeekFixtures.dhcpRows(12)
    val dir = ZeekFixtures.tempDir()
    val path = ZeekFixtures.write(dir, "dhcp.log.gz", ZeekFixtures.log("dhcp",
      ZeekFixtures.dhcpFields, ZeekFixtures.dhcpTypes, rows), gzip = true)
    val got = spark.read.format("zeek").load(path).orderBy("ts")
      .select("uids", "lease_time", "msg_types").collect()
    val f = ZeekFixtures.dhcpFields
    assert(got.length == rows.length)
    got.zip(rows).foreach { case (r, raw) =>
      assert(r.getSeq[String](0) == listCell(raw(f.indexOf("uids"))), raw)
      val lease = raw(f.indexOf("lease_time"))
      if (lease == "-") assert(r.isNullAt(1)) else assert(r.getAs[Duration](1) == Duration.ofDays(1))
      assert(r.getSeq[String](2) == listCell(raw(f.indexOf("msg_types"))), raw)
    }
    assert(got.exists(_.getSeq[String](0).length == 2), "a two-uid set cell")
  }

  test("generated filter pushdown matrix over dns.log and known_hosts") {
    val ports = dnsRows.map(_(dnsCol("id.orig_p")).toInt)
    val protos = dnsRows.map(_(dnsCol("proto")))
    val tsMicros = dnsRows.map(r => ZeekFixtures.cellMicros(r(dnsCol("ts"))))
    def expect(cond: Column, pred: Int => Boolean): Unit = {
      val plan = dns.filter(cond).queryExecution.executedPlan.toString
      assert(!plan.contains("pushed=[]"), s"$cond not pushed\n$plan")
      assert(dns.filter(cond).count() == dnsRows.indices.count(pred), cond.toString)
    }
    val (p0, p1) = (ports(0), ports(1))
    expect(col("proto") === "udp", i => protos(i) == "udp")
    expect(col("proto") === "tcp", i => protos(i) == "tcp")
    expect(col("id_orig_p") === p0, i => ports(i) == p0)
    expect(col("id_orig_p") > 50000, i => ports(i) > 50000)
    val mid = tsMicros(dnsRows.length / 2)
    expect(col("ts") > lit(java.sql.Timestamp.from(java.time.Instant.EPOCH.plusNanos(mid * 1000))),
      i => tsMicros(i) > mid)
    expect(col("proto").isin("udp", "tcp"), i => true)
    expect(col("proto").isin("icmp", "tcp"), i => protos(i) == "tcp")
    expect(col("id_orig_p").isin(p0, p1), i => ports(i) == p0 || ports(i) == p1)
    expect(col("proto") === "udp" && col("id_orig_p") === p0,
      i => protos(i) == "udp" && ports(i) == p0)
    expect(col("id_orig_p") === p0 || col("id_orig_p") === p1, i => ports(i) == p0 || ports(i) == p1)
    expect(col("id_orig_p") === p0 || col("id_orig_p") === 99999, i => ports(i) == p0)
    expect(col("rcode").isNull, i => dnsRows(i)(dnsCol("rcode")) == "-")
    val proj = dns.filter(col("id_orig_p") === p0).select("id_orig_p", "proto").collect().head
    assert(proj.getInt(0) == p0 && proj.getString(1) == protos(0))
    // filter column outside the projection
    val k = dnsRows.length - 1
    assert(dns.filter(col("id_orig_p") === ports(k)).select("uid").collect().map(_.getString(0))
      .toSeq == Seq(dnsRows(k)(dnsCol("uid"))))

    // IS NULL on an unset int
    val (name, khRows) = ZeekFixtures.knownHostsDay().head
    val dir = ZeekFixtures.tempDir()
    val path = ZeekFixtures.write(dir, name, ZeekFixtures.log("known_hosts",
      ZeekFixtures.knownHostsFields, ZeekFixtures.knownHostsTypes, khRows), gzip = true)
    val kh = spark.read.format("zeek").load(path)
    def unset(field: String) = khRows.count(_(ZeekFixtures.knownHostsFields.indexOf(field)) == "-")
    assert(kh.filter(col("host_inner_vlan").isNull).count() == unset("host_inner_vlan"))
    assert(kh.filter(col("host_inner_vlan").isNotNull).count() == khRows.length - unset("host_inner_vlan"))
    assert(kh.filter(col("host_vlan").isNotNull).count() == khRows.length - unset("host_vlan"))
    assert(unset("host_inner_vlan") > 0, "the first hour's host_inner_vlan is unset")
  }

  test("pushed double comparisons follow Spark's order: -0.0 equals 0.0") {
    val dir = ZeekFixtures.tempDir()
    val path = ZeekFixtures.write(dir, "d.log", ZeekFixtures.log("d", Seq("id", "x"),
      Seq("string", "double"), Seq(Seq("a", "0.0"), Seq("b", "-0.0"), Seq("c", "1.5"))))
    val df = spark.read.format("zeek").load(path)
    assert(df.filter(col("x") === 0.0).count() == 2)
    assert(df.filter(col("x") <= 0.0).count() == 2)
    assert(df.filter(col("x") > 0.0).count() == 1)

    // and over the rest of the order: NaN equals NaN and is greatest,
    // infinities, subnormals, negatives, a malformed cell (NULL)
    val cells = Seq("0.0", "-0.0", "1.5", "-1.5", "NaN", "Infinity", "-Infinity",
      "4.9E-324", "-4.9E-324", "x")
    val wide = spark.read.format("zeek").load(ZeekFixtures.write(dir, "w.log",
      ZeekFixtures.log("w", Seq("id", "x"), Seq("string", "double"),
        cells.zipWithIndex.map { case (c, i) => Seq(s"r$i", c) })))
    val values = cells.zipWithIndex.flatMap { case (c, i) =>
      scala.util.Try(java.lang.Double.parseDouble(c)).toOption.map(s"r$i" -> _)
    }
    val cmp = org.apache.spark.sql.catalyst.util.SQLOrderingUtil.compareDoubles _
    val ops: Seq[(String, (Column, Double) => Column, Int => Boolean)] = Seq(
      ("=", _ === _, _ == 0), ("<", _ < _, _ < 0), ("<=", _ <= _, _ <= 0),
      (">", _ > _, _ > 0), (">=", _ >= _, _ >= 0), ("!=", _ =!= _, _ != 0))
    for (pivot <- Seq(0.0, -0.0, Double.NaN, Double.PositiveInfinity, -1.5, 4.9e-324);
         (name, op, keep) <- ops) {
      val got = wide.filter(op(col("x"), pivot)).collect().map(_.getString(0)).toSet
      val want = values.collect { case (id, v) if keep(cmp(v, pivot)) => id }.toSet
      assert(got == want, s"x $name $pivot")
    }
  }

  private lazy val khDay = ZeekFixtures.knownHostsDay()
  private lazy val khDir = {
    val dir = ZeekFixtures.tempDir()
    khDay.foreach { case (name, rows) => ZeekFixtures.write(dir, name, ZeekFixtures.log("known_hosts",
      ZeekFixtures.knownHostsFields, ZeekFixtures.knownHostsTypes, rows), gzip = true) }
    dir
  }
  private def khCol(name: String) = ZeekFixtures.knownHostsFields.indexOf(name)
  private def load(path: String, opts: Seq[(String, String)]) =
    spark.read.format("zeek").options(opts.toMap).load(path)
  private def kh(glob: String, opts: (String, String)*) = load(s"$khDir/$glob", opts)

  test("generated known_hosts single file: values, count, NULL unset, list cell") {
    // the hour the reference fixture mirrors: one host, host_inner_vlan
    // unset, a three-element annotations cell
    val (name, rows) = khDay.find { case (_, rs) => rs.length == 1 &&
      rs.head(khCol("host_inner_vlan")) == "-" && rs.head(khCol("annotations")) == "foo,bar,baz" }.get
    val df = kh(name)
    assert(df.count() == 1)
    val r = df.select(expr("unix_micros(ts)"), col("kuid"), col("host_ip"), col("conns_opened"),
      col("conns_closed"), col("host_inner_vlan"), col("annotations")).collect().head
    val raw = rows.head
    assert(r.getLong(0) == ZeekFixtures.cellMicros(raw(khCol("ts"))))
    assert(r.getString(1) == raw(khCol("kuid")))
    assert(r.getString(2) == raw(khCol("host_ip")))
    assert(r.getLong(3) == raw(khCol("conns_opened")).toLong)
    assert(r.getLong(4) == raw(khCol("conns_closed")).toLong)
    assert(r.isNullAt(5)) // '-' unset → NULL
    assert(r.getSeq[String](6) == Seq("foo", "bar", "baz"))
  }

  test("generated known_hosts glob: 27 rows over 24 files; filename column") {
    assert(khDay.length == 24 && khDay.map(_._2.length).sum == 27)
    assert(kh("known_hosts*.gz").count() == 27)
    val withName = kh("known_hosts*.gz", "filename" -> "true")
    assert(withName.select(countDistinct(col("filename"))).collect().head.getLong(0) == 24)
    val perFile = withName.groupBy(col("filename")).count().collect()
      .map(r => r.getString(0).split('/').last -> r.getLong(1)).toMap
    assert(perFile == khDay.map { case (n, rs) => n -> rs.length.toLong }.toMap)
    val (name, _) = khDay.head
    val one = kh(name, "filename" -> "true").select("filename").collect().head.getString(0)
    assert(one.endsWith(name))
  }

  test("generated interval values: duration/last_active_interval as micros") {
    val got = kh("known_hosts*.gz").orderBy("ts")
      .select("duration", "last_active_interval").collect()
    val want = khDay.flatMap(_._2).sortBy(raw => ZeekFixtures.cellMicros(raw(khCol("ts"))))
    assert(got.length == want.length)
    got.zip(want).foreach { case (r, raw) =>
      assert(micros(r.getAs[Duration](0)) == ZeekFixtures.cellMicros(raw(khCol("duration"))), raw)
      assert(micros(r.getAs[Duration](1)) ==
        ZeekFixtures.cellMicros(raw(khCol("last_active_interval"))), raw)
    }
    assert(got.exists(r => r.getAs[Duration](1).toHours >= 1), "an interval past one hour")
  }

  test("generated inet semantics over dns.log") {
    import graft.inet.InetFunctions
    val first = dns.orderBy(col("ts")).limit(1).select("id_orig_h", "id_resp_h").collect().head
    assert(first.getString(0) == dnsRows.head(dnsCol("id.orig_h")))
    assert(first.getString(1) == dnsRows.head(dnsCol("id.resp_h")))
    // addr columns are strings carrying their Zeek type in metadata
    assert(dns.schema("id_orig_h").metadata.getString(ZeekTypes.ZeekTypeMeta) == "addr")
    def rowsWhere(p: Seq[String] => Boolean) = dnsRows.count(p).toLong
    val orig = dnsRows.head(dnsCol("id.orig_h"))
    assert(dns.filter(InetFunctions.inet_equal(col("id_orig_h"), lit(orig))).count() ==
      rowsWhere(_(dnsCol("id.orig_h")) == orig))
    assert(dns.filter(InetFunctions.inet_equal(col("id_orig_h"), lit("127.0.0.1"))).count() == 0)
    // mixed: a pushed native predicate AND a post-scan inet predicate
    val mixed = dns.filter(col("proto") === "udp" &&
      InetFunctions.inet_equal(col("id_resp_h"), lit("8.8.4.4")))
    assert(!mixed.queryExecution.executedPlan.toString.contains("pushed=[]"))
    val want = rowsWhere(r => r(dnsCol("proto")) == "udp" && r(dnsCol("id.resp_h")) == "8.8.4.4")
    assert(want > 0 && mixed.count() == want)
  }

  private lazy val schemaRoot = ZeekFixtures.writeSchemaDirs(ZeekFixtures.tempDir())
  private def zeek(path: String, opts: (String, String)*) = load(s"$schemaRoot/$path", opts)

  test("strict schema validation errors name the mismatch") {
    assert(zeek("schema_match/*.log").count() == 3)
    def errorOf(glob: String): String =
      intercept[Exception](zeek(glob).count()).getMessage
    assert(errorOf("schema_extra/*.log").contains("different field count"))
    assert(errorOf("schema_reorder/*.log").contains("field 0 differs"))
    assert(errorOf("schema_type/*.log").contains("type for field 'value' differs"))
  }

  test("union_by_name over the generated schema fixtures") {
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
}
