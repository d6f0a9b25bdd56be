package graft.zeek

import java.io.{BufferedOutputStream, FileOutputStream, OutputStream}
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path}
import java.util.zip.GZIPOutputStream

import com.github.luben.zstd.ZstdOutputStream

/** Deterministic Zeek-log fixture writer for tests. Fixtures are modeled
  * on the families described in FIXTURES.md (schemas only — content is
  * our own). */
object ZeekFixtures {

  def tempDir(): Path = Files.createTempDirectory("zeek_test")

  def write(dir: Path, name: String, content: String,
      gzip: Boolean = false, zstd: Boolean = false): String = {
    val f = dir.resolve(name)
    val raw: OutputStream = new BufferedOutputStream(new FileOutputStream(f.toFile))
    val out: OutputStream =
      if (gzip) new GZIPOutputStream(raw)
      else if (zstd) new ZstdOutputStream(raw)
      else raw
    try out.write(content.getBytes(StandardCharsets.UTF_8))
    finally out.close()
    f.toString
  }

  def writeRaw(dir: Path, name: String, bytes: Array[Byte]): String = {
    val f = dir.resolve(name)
    Files.write(f, bytes)
    f.toString
  }

  /** Standard header block: tab separator, default markers. */
  def header(path: String, fields: Seq[String], types: Seq[String]): String = {
    val sb = new StringBuilder
    sb.append("#separator \\x09\n")
    sb.append("#set_separator\t,\n")
    sb.append("#empty_field\t(empty)\n")
    sb.append("#unset_field\t-\n")
    sb.append(s"#path\t$path\n")
    sb.append("#open\t2026-01-16-00-00-01\n")
    sb.append("#fields\t" + fields.mkString("\t") + "\n")
    sb.append("#types\t" + types.mkString("\t") + "\n")
    sb.toString
  }

  def row(vals: String*): String = vals.mkString("\t") + "\n"

  /** The input partitions of `df`'s Zeek scans, in planned order. */
  def plannedPartitions(df: org.apache.spark.sql.DataFrame): Seq[graft.zeek.v2.ZeekInputPartition] =
    df.queryExecution.sparkPlan.collect {
      case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec => b
    }.flatMap(_.inputPartitions).map(_.asInstanceOf[graft.zeek.v2.ZeekInputPartition])

  /** The files and ranges each input partition of `df`'s Zeek scans
    * reads, in planned order. */
  def plannedSpecs(df: org.apache.spark.sql.DataFrame): Seq[Seq[ZeekFileSpec]] =
    plannedPartitions(df).map(_.specs)

  /** The messages `body` logs through ZeekIO's logger, and its result. */
  def zeekWarnings[T](body: => T): (T, Seq[String]) = {
    import org.apache.logging.log4j.core.{LogEvent, Logger}
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val appender = new org.apache.logging.log4j.core.appender.AbstractAppender(
        "zeek-capture", null, null, true, org.apache.logging.log4j.core.config.Property.EMPTY_ARRAY) {
      override def append(e: LogEvent): Unit = seen.add(e.getMessage.getFormattedMessage)
    }
    val logger = org.apache.logging.log4j.LogManager.getLogger(ZeekIO.getClass).asInstanceOf[Logger]
    appender.start()
    logger.addAppender(appender)
    try {
      val r = body
      (r, seen.toArray(Array.empty[String]).toSeq)
    } finally {
      logger.removeAppender(appender)
      appender.stop()
    }
  }

  /** The files each input partition of `df`'s Zeek scans reads, by base
    * name, in planned order. */
  def plannedFiles(df: org.apache.spark.sql.DataFrame): Seq[Seq[String]] =
    plannedSpecs(df).map(_.map(_.path.split('/').last))

  /** conn-like fixture exercising every scalar type + lists. */
  val connFields = Seq("ts", "uid", "id.orig_h", "id.orig_p", "id.resp_h", "id.resp_p",
    "proto", "duration", "orig_bytes", "pkts", "local_orig", "score", "tags", "rtts")
  val connTypes = Seq("time", "string", "addr", "port", "addr", "port",
    "enum", "interval", "count", "int", "bool", "double", "vector[string]", "vector[interval]")

  def connContent: String =
    header("conn", connFields, connTypes) +
      row("1768539602.060078", "CAcq1P2phfnCTjZAHl", "192.168.10.5", "54321", "8.8.8.8", "53",
        "udp", "0.062826", "61", "-3", "T", "1.5", "alpha,beta", "0.01,0.02") +
      row("1768539602.166619", "CmFsdZ2rTGf6Ouv2R6", "192.168.10.5", "54322", "8.8.4.4", "53",
        "udp", "-", "-", "7", "F", "-", "(empty)", "-") +
      row("1768539603.500000", "Cxxg3H3AN8vkRYeSE6", "10.0.0.1", "443", "2001:4860:4860::8888", "65535",
        "tcp", "45.25", "18446744073709551615", "42", "true", "0.0", "g,-,h", "1.0,-,3.5") +
      "#close\t2026-01-22-02-30-59\n"

  /** Base 3-column schema used by the schema-variation fixtures. */
  def base(pathName: String, rows: Seq[(String, String, String)]): String =
    header(pathName, Seq("ts", "id", "value"), Seq("time", "string", "count")) +
      rows.map { case (a, b, c) => row(a, b, c) }.mkString

  /** The six `schema_*` directories of FIXTURES.md's table under `root`:
    * strict-mode matches and mismatches (extra field, reordered fields,
    * changed type) and the two union_by_name cases (overlap with NULL
    * fill, type conflict). Returns `root`. */
  def writeSchemaDirs(root: Path): Path = {
    def dir(name: String) = Files.createDirectories(root.resolve(name))
    val a = base("t", Seq(("1.0", "A1", "10"), ("2.0", "A2", "20")))
    val b = base("t", Seq(("3.0", "B1", "30")))
    write(dir("schema_match"), "a.log", a)
    write(dir("schema_match"), "b.log", b)
    write(dir("schema_extra"), "a.log", a)
    write(dir("schema_extra"), "b.log", log("t", Seq("ts", "id", "value", "extra"),
      Seq("time", "string", "count", "string"), Seq(Seq("3.0", "B1", "30", "x"))))
    write(dir("schema_reorder"), "a.log", a)
    write(dir("schema_reorder"), "b.log", log("t", Seq("id", "ts", "value"),
      Seq("string", "time", "count"), Seq(Seq("B1", "3.0", "30"))))
    write(dir("schema_type"), "a.log", a)
    write(dir("schema_type"), "b.log", log("t", Seq("ts", "id", "value"),
      Seq("time", "string", "string"), Seq(Seq("3.0", "B1", "thirty"))))
    write(dir("schema_union_overlap"), "old.log", a)
    write(dir("schema_union_overlap"), "new.log", log("t",
      Seq("ts", "id", "value", "extra", "newfield"), Seq("time", "string", "count", "string", "bool"),
      Seq(Seq("3.0", "B1", "30", "hello", "T"), Seq("4.0", "B2", "40", "world", "F"))))
    write(dir("schema_union_typeconflict"), "a.log", a)
    write(dir("schema_union_typeconflict"), "b.log", log("t", Seq("ts", "id", "value"),
      Seq("time", "string", "string"), Seq(Seq("3.0", "B1", "thirty"))))
    root
  }

  // ---- reference-shaped corpora (exact FIXTURES.md schemas) -------------

  val dnsFields = Seq("ts", "uid", "id.orig_h", "id.orig_p", "id.resp_h", "id.resp_p",
    "proto", "trans_id", "rtt", "query", "qclass", "qclass_name", "qtype", "qtype_name",
    "rcode", "rcode_name", "AA", "TC", "RD", "RA", "Z", "answers", "TTLs", "rejected")
  val dnsTypes = Seq("time", "string", "addr", "port", "addr", "port",
    "enum", "count", "interval", "string", "count", "string", "count", "string",
    "count", "string", "bool", "bool", "bool", "bool", "count",
    "vector[string]", "vector[interval]", "bool")

  val dhcpFields = Seq("ts", "uids", "client_addr", "server_addr", "mac", "host_name",
    "client_fqdn", "domain", "requested_addr", "assigned_addr", "lease_time",
    "client_message", "server_message", "msg_types", "duration")
  val dhcpTypes = Seq("time", "set[string]", "addr", "addr", "string", "string",
    "string", "string", "addr", "addr", "interval", "string", "string",
    "vector[string]", "interval")

  val knownHostsFields = Seq("ts", "duration", "kuid", "host_ip", "host_vlan",
    "host_inner_vlan", "conns_opened", "conns_closed", "conns_pending", "long_conns",
    "annotations", "last_active_session", "last_active_interval")
  val knownHostsTypes = Seq("time", "interval", "string", "addr", "int", "int",
    "count", "count", "count", "count", "vector[string]", "string", "interval")

  /** Micros as a Zeek `time`/`interval` cell (decimal seconds). The reader
    * converts through the reference's double multiply (ZeekTypes.PrimParsers),
    * so the value is nudged up to the next micro that conversion maps back
    * exactly: the cell then decodes to the same micros as an exact decimal
    * parse, and goldens can be computed either way. */
  def secondsCell(micros: Long): String = {
    def render(m: Long) = f"${m / 1000000L}%d.${m % 1000000L}%06d"
    var m = micros
    while ((render(m).toDouble * 1e6).toLong != m) m += 1
    render(m)
  }

  /** The micros a [[secondsCell]] decodes to. */
  def cellMicros(cell: String): Long = {
    val Array(sec, frac) = cell.split("\\.")
    sec.toLong * 1000000L + frac.toLong
  }

  /** A whole log: header for `fields`/`types` plus one line per row. */
  def log(path: String, fields: Seq[String], types: Seq[String], rows: Seq[Seq[String]]): String =
    header(path, fields, types) + rows.map(r => row(r: _*)).mkString + "#close\t2026-01-22-02-30-59\n"

  private val day0 = 1768539600L * 1000000L // 2026-01-16 05:00:00 UTC

  /** `n` dns.log rows: udp/tcp lookups with distinct source ports, vector
    * answers and TTLs (some unset, some with a marker element), unset
    * rcodes and rtts. */
  def dnsRows(n: Int, seed: Long = 7L): Seq[Seq[String]] = {
    val rnd = new scala.util.Random(seed)
    (0 until n).map { i =>
      val ts = secondsCell(day0 + i * 7000000L + rnd.nextInt(1000000))
      val answers = i % 5 match {
        case 0 => "-"
        case 1 => "(empty)"
        case 2 => s"host$i.example.org,192.0.2.${i % 250}"
        case 3 => s"alias$i.example.net,-,198.51.100.${i % 250}"
        case _ => s"198.51.100.${i % 250}"
      }
      val ttls = i % 5 match {
        case 0 | 1 => "-"
        case 2 => Seq(secondsCell(2735000000L + i), secondsCell(30000000L)).mkString(",")
        case 3 => Seq(secondsCell(60000000L + rnd.nextInt(1000000)), "-",
          secondsCell(5000000L)).mkString(",")
        case _ => secondsCell(rnd.nextInt(100000) * 1000L)
      }
      Seq(ts, f"D$i%05dx${rnd.nextInt(100000)}%05d", s"10.20.40.${i % 7 + 1}",
        (40000 + i * 997 % 25000).toString, if (i % 3 == 0) "8.8.4.4" else "8.8.8.8", "53",
        if (i % 4 == 3) "tcp" else "udp", rnd.nextInt(65536).toString,
        if (i % 6 == 5) "-" else secondsCell(rnd.nextInt(200000) * 1L),
        s"q$i.example.org", "1", "C_INTERNET", "1", "A",
        if (i % 6 == 4) "-" else (i % 3).toString, if (i % 6 == 4) "-" else "NOERROR",
        if (i % 2 == 0) "T" else "F", "F", "T", if (i % 3 == 0) "F" else "T", "0",
        answers, ttls, if (i % 9 == 8) "T" else "F")
    }
  }

  /** `n` dhcp.log rows over a handful of devices: MACs that keep or change
    * their address, unset MACs, set[string] uids (unset, empty, one, two),
    * msg_types vectors with and without ACK, 1-day leases. */
  def dhcpRows(n: Int, seed: Long = 11L): Seq[Seq[String]] = {
    val rnd = new scala.util.Random(seed)
    val macs = Seq("00:0c:29:aa:bb:01", "00:0c:29:aa:bb:02", "3c:22:fb:10:20:30",
      "f0:18:98:00:00:7e", "-")
    val msgs = Seq("DISCOVER,OFFER,REQUEST,ACK", "REQUEST,ACK", "INFORM,ACK",
      "REQUEST,NAK", "DISCOVER,OFFER", "-")
    (0 until n).map { i =>
      val m = rnd.nextInt(macs.length)
      val uids = i % 4 match {
        case 0 => f"C$i%04dq${rnd.nextInt(100000)}%05d"
        case 1 => f"C$i%04da,C$i%04db"
        case 2 => "(empty)"
        case _ => "-"
      }
      // device 0 keeps its address; the others drift within a /28
      val assigned = if (i % 7 == 6) "-" else if (m == 0) "192.168.1.10"
        else s"192.168.1.${16 * m + rnd.nextInt(4)}"
      Seq(secondsCell(day0 + i * 90000000L + rnd.nextInt(1000000)), uids,
        if (i % 3 == 0) "-" else assigned, "192.168.1.1", macs(m),
        if (m == 4) "-" else s"device$m", "-", "example.lan", "-", assigned,
        if (i % 5 == 4) "-" else "86400.000000", "-", "-", msgs(rnd.nextInt(msgs.length)),
        secondsCell(rnd.nextInt(3000000).toLong))
    }
  }

  /** The 24 hourly known_hosts files of one day, 27 rows in all (three
    * hours carry two hosts), as (file name, rows). Hosts recur across
    * hours; `host_inner_vlan` is mostly unset; `annotations` varies. */
  def knownHostsDay(seed: Long = 13L): Seq[(String, Seq[Seq[String]])] = {
    val rnd = new scala.util.Random(seed)
    val hosts = Seq("10.21.7.136", "10.21.7.140", "10.21.9.2", "172.16.0.5",
      "192.168.50.23", "10.21.7.201")
    (0 until 24).map { h =>
      val name = f"known_hosts_20260116_$h%02d.00.00-${h + 1}%02d.00.00-0500.log.gz"
      val n = if (h % 8 == 3) 2 else 1
      val rows = (0 until n).map { k =>
        val hostIdx = (h * 5 + k * 3 + rnd.nextInt(2)) % hosts.length
        Seq(secondsCell(day0 + h * 3600000000L + rnd.nextInt(3600) * 1000000L + rnd.nextInt(1000000)),
          secondsCell(rnd.nextInt(1000000000).toLong),
          f"K$h%02d$k${rnd.nextInt(1000000)}%06d", hosts(hostIdx),
          if (hostIdx == 5) "-" else (100 + hostIdx).toString,
          if ((h + k) % 6 == 5) (200 + h).toString else "-",
          (1 + rnd.nextInt(50)).toString, rnd.nextInt(50).toString, rnd.nextInt(3).toString,
          rnd.nextInt(2).toString,
          Seq("foo,bar,baz", "-", "(empty)", "printer")(rnd.nextInt(4)),
          f"C$h%02dq$k", secondsCell(rnd.nextInt(4000) * 1000000L + rnd.nextInt(1000000)))
      }
      (name, rows)
    }
  }
}

