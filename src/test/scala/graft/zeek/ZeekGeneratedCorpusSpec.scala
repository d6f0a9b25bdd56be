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
class ZeekGeneratedCorpusSpec extends AnyFunSuite {
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
}
