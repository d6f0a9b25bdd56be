package graftbench

import java.io.{BufferedOutputStream, File, FileOutputStream, OutputStream}
import java.nio.charset.StandardCharsets
import java.util.SplittableRandom
import java.util.zip.GZIPOutputStream

import scala.collection.mutable

/** Seeded Zeek-log corpus writer. Every file is a pure function of the
  * seed and the sizes, and while it writes, the generator accumulates the
  * answer each benchmark leg must return (row counts, non-null counts,
  * sums and distinct counts), so outputs are checked against values that
  * never passed through the program under test.
  *
  * Layout under `root`:
  *   conn/conn.HH.log.gz   24 hourly-rotated gzip conn logs (24 columns)
  *   plain/conn.log        a plain conn log (the line-split probe reads it)
  *   wide/wide.log         one ~120-column log
  *   dns/dns.log.gz        dns/dhcp-shaped log with set/vector columns
  *   drift/part-NNN.log    many small files whose headers drift
  *   big/conn.log.gz       one single-stream gzip conn log (recompress)
  */
object Corpus {
  final case class Sizes(connRowsPerHour: Int, plainRows: Int, wideRows: Int, dnsRows: Int,
      driftFiles: Int, driftRows: Int)

  /** The leg answers, each a canonical string the harness renders the
    * program's result into. */
  type Answers = Map[String, String]

  val ConnFields: Seq[(String, String)] = Seq(
    "ts" -> "time", "uid" -> "string", "id.orig_h" -> "addr", "id.orig_p" -> "port",
    "id.resp_h" -> "addr", "id.resp_p" -> "port", "proto" -> "enum", "service" -> "string",
    "duration" -> "interval", "orig_bytes" -> "count", "resp_bytes" -> "count",
    "conn_state" -> "string", "local_orig" -> "bool", "local_resp" -> "bool",
    "missed_bytes" -> "count", "history" -> "string", "orig_pkts" -> "count",
    "orig_ip_bytes" -> "count", "resp_pkts" -> "count", "resp_ip_bytes" -> "count",
    "tunnel_parents" -> "set[string]", "ip_proto" -> "count",
    "orig_l2_addr" -> "string", "resp_l2_addr" -> "string")

  val DnsFields: Seq[(String, String)] = Seq(
    "ts" -> "time", "uid" -> "string", "id.orig_h" -> "addr", "id.orig_p" -> "port",
    "id.resp_h" -> "addr", "id.resp_p" -> "port", "proto" -> "enum", "trans_id" -> "count",
    "query" -> "string", "qtype_name" -> "string", "rcode" -> "count", "AA" -> "bool",
    "answers" -> "vector[string]", "TTLs" -> "vector[interval]",
    "domain_list" -> "set[string]", "lease_time" -> "interval")

  private val WideTypes = Seq("count", "int", "double", "string", "bool", "time",
    "interval", "addr", "port", "enum")
  val WideCols = 120

  val Protos = Seq("tcp", "udp", "icmp")
  private val Services = Seq("dns", "http", "ssl", "ssh", "ntp")
  private val States = Seq("SF", "S0", "REJ", "RSTO", "OTH", "SH")
  private val RespPorts = Array(53, 80, 443, 22, 123, 8080, 25, 993)
  private val Alnum = "ABCDEFGHIJKLMNOPQRSTUVWXYZabcdefghijklmnopqrstuvwxyz0123456789"
  private val BaseTs = 1767225600L // 2026-01-01T00:00:00Z

  def header(path: String, fields: Seq[(String, String)]): String =
    "#separator \\x09\n#set_separator\t,\n#empty_field\t(empty)\n#unset_field\t-\n" +
      s"#path\t$path\n#open\t2026-01-01-00-00-00\n" +
      "#fields\t" + fields.map(_._1).mkString("\t") + "\n" +
      "#types\t" + fields.map(_._2).mkString("\t") + "\n"

  private def open(f: File, gzip: Boolean): OutputStream = {
    f.getParentFile.mkdirs()
    val raw = new BufferedOutputStream(new FileOutputStream(f), 1 << 16)
    if (gzip) new GZIPOutputStream(raw, 1 << 16) else raw
  }

  /** Writes rows to a log and tallies per-column non-null counts (unset
    * `-` is NULL; `(empty)` is NULL for scalars, an empty list for
    * set/vector columns). */
  private final class Log(f: File, gzip: Boolean, path: String,
      val fields: Seq[(String, String)]) {
    private val out = open(f, gzip)
    private val sb = new java.lang.StringBuilder(4096)
    private val isList = fields.map(_._2.contains("[")).toArray
    val nonNull = new Array[Long](fields.length)
    var rows = 0L
    out.write(header(path, fields).getBytes(StandardCharsets.UTF_8))

    def row(vals: Array[String]): Unit = {
      var i = 0
      while (i < vals.length) {
        val v = vals(i)
        if (v != "-" && (isList(i) || v != "(empty)")) nonNull(i) += 1
        if (i > 0) sb.append('\t')
        sb.append(v)
        i += 1
      }
      sb.append('\n')
      rows += 1
      if (sb.length > 60000) flush()
    }
    private def flush(): Unit = {
      out.write(sb.toString.getBytes(StandardCharsets.UTF_8))
      sb.setLength(0)
    }
    def close(): Unit = {
      flush()
      out.write("#close\t2026-01-02-00-00-00\n".getBytes(StandardCharsets.UTF_8))
      out.close()
    }
  }

  private def pick[A](r: SplittableRandom, xs: Seq[A]): A = xs(r.nextInt(xs.length))
  private def str(r: SplittableRandom, n: Int): String = {
    val c = new Array[Char](n)
    var i = 0
    while (i < n) { c(i) = Alnum.charAt(r.nextInt(Alnum.length)); i += 1 }
    new String(c)
  }
  private def maybe(r: SplittableRandom, pUnset: Double)(v: => String): String =
    if (r.nextDouble() < pUnset) "-" else v
  private def micros(r: SplittableRandom): String = {
    val s = Integer.toString(r.nextInt(1000000))
    "000000".substring(s.length) + s
  }
  private def mac(r: SplittableRandom): String = {
    val c = new Array[Char](17)
    var i = 0
    while (i < 6) {
      val b = r.nextInt(256)
      c(i * 3) = Character.forDigit(b >> 4, 16); c(i * 3 + 1) = Character.forDigit(b & 15, 16)
      if (i < 5) c(i * 3 + 2) = ':'
      i += 1
    }
    new String(c)
  }
  private def origHost(r: SplittableRandom): String = {
    val h = r.nextInt(2000)
    s"10.${h / 256}.${h % 256}.${1 + h % 7}"
  }
  private def respHost(r: SplittableRandom): String = {
    val h = r.nextInt(500)
    if (h % 10 == 0) s"2001:db8::${Integer.toHexString(h + 1)}" else s"192.168.${h / 200}.${h % 200 + 1}"
  }

  /** Accumulates the answers of the legs that read conn logs. */
  private final class ConnTally {
    var origBytes = 0L
    var respPorts = 0L
    val origHosts = mutable.HashSet.empty[String]
    var filterRows = 0L
    var filterBytes = 0L
    val byProto = mutable.TreeMap.empty[String, (Long, Long)]
    def add(v: Array[String]): Unit = {
      val ob = if (v(9) == "-") 0L else v(9).toLong
      origBytes += ob
      respPorts += v(5).toLong
      origHosts += v(2)
      if (v(5) == "443" && v(6) == "tcp") { filterRows += 1; filterBytes += ob }
      val (n, b) = byProto.getOrElse(v(6), (0L, 0L))
      byProto(v(6)) = (n + 1, b + ob)
    }
  }

  private def connRow(r: SplittableRandom, ts: Long): Array[String] = {
    val proto = if (r.nextInt(10) < 7) "tcp" else if (r.nextInt(4) > 0) "udp" else "icmp"
    val respP = if (r.nextInt(4) > 0) RespPorts(r.nextInt(RespPorts.length)) else 1024 + r.nextInt(60000)
    val pk = 1 + r.nextInt(200)
    Array(
      s"$ts.${micros(r)}", "C" + str(r, 17), origHost(r), (1024 + r.nextInt(64000)).toString,
      respHost(r), respP.toString, proto, maybe(r, 0.3)(pick(r, Services)),
      maybe(r, 0.1)(s"${r.nextInt(300)}.${micros(r)}"), maybe(r, 0.1)(r.nextInt(100000).toString),
      maybe(r, 0.1)(r.nextInt(1000000).toString), pick(r, States), if (r.nextBoolean()) "T" else "F",
      if (r.nextInt(5) == 0) "T" else "F", (if (r.nextInt(20) == 0) r.nextInt(5000) else 0).toString,
      maybe(r, 0.05)(pick(r, Seq("ShADadFf", "S", "ShADadfF", "Dd", "ShAdDaFf"))), pk.toString,
      (pk * 60 + r.nextInt(1000)).toString, (pk / 2).toString, (pk * 300 + r.nextInt(5000)).toString,
      if (r.nextInt(50) == 0) "C" + str(r, 8) + ",C" + str(r, 8) else "(empty)",
      if (proto == "tcp") "6" else if (proto == "udp") "17" else "1", mac(r), mac(r))
  }

  private def connAnswers(prefix: String, rows: Long, nonNull: Array[Long], t: ConnTally): Answers =
    Map(
      s"${prefix}count" -> rows.toString,
      s"${prefix}narrow" -> s"${t.origHosts.size},${t.respPorts}",
      s"${prefix}full" -> (nonNull.toSeq :+ t.origBytes).mkString(","),
      s"${prefix}filter" -> s"${t.filterRows},${t.filterBytes}",
      s"${prefix}sql" -> t.byProto.map { case (p, (n, b)) => s"$p:$n:$b" }.mkString(";"))

  /** The zeek_scan corpus and its answers. */
  def writeScan(root: File, seed: Long, s: Sizes): Answers = {
    val r = new SplittableRandom(seed)
    val tally = new ConnTally
    val connNonNull = new Array[Long](ConnFields.length)
    var connRows = 0L
    for (h <- 0 until 24) {
      val log = new Log(new File(root, f"conn/conn.$h%02d.log.gz"), gzip = true, "conn", ConnFields)
      val t0 = BaseTs + h * 3600L
      for (i <- 0 until s.connRowsPerHour) {
        val v = connRow(r, t0 + i.toLong * 3600 / s.connRowsPerHour)
        tally.add(v); log.row(v)
      }
      log.close()
      connRows += log.rows
      for (c <- connNonNull.indices) connNonNull(c) += log.nonNull(c)
    }
    val plain = new Log(new File(root, "plain/conn.log"), gzip = false, "conn", ConnFields)
    for (i <- 0 until s.plainRows) plain.row(connRow(r, BaseTs + 86400L + i))
    plain.close()
    val wideFields = (0 until WideCols).map(i => f"f$i%03d" -> WideTypes(i % WideTypes.length))
    val wide = new Log(new File(root, "wide/wide.log"), gzip = false, "wide", wideFields)
    for (i <- 0 until s.wideRows) {
      wide.row(Array.tabulate(WideCols) { c =>
        maybe(r, 0.05)(WideTypes(c % WideTypes.length) match {
          case "count" => r.nextInt(1000000).toString
          case "int" => (r.nextInt(20000) - 10000).toString
          case "double" => s"${r.nextInt(100000)}.${micros(r).substring(3)}"
          case "string" => str(r, 6 + r.nextInt(10))
          case "bool" => if (r.nextBoolean()) "T" else "F"
          case "time" => s"${BaseTs + i}.${micros(r)}"
          case "interval" => s"${r.nextInt(100)}.${micros(r)}"
          case "addr" => origHost(r)
          case "port" => r.nextInt(65536).toString
          case _ => pick(r, Protos)
        })
      })
    }
    wide.close()
    val dns = new Log(new File(root, "dns/dns.log.gz"), gzip = true, "dns", DnsFields)
    var answers = 0L
    var ttls = 0L
    var domains = 0L
    for (i <- 0 until s.dnsRows) {
      val nAns = r.nextInt(5) // 0 = no answer section
      val ansList = (0 until nAns).map(_ => s"192.0.2.${r.nextInt(256)}")
      val ans = if (nAns == 0) "-" else ansList.mkString(",")
      val ttl = if (nAns == 0) "-" else ansList.map(_ => s"${r.nextInt(86400)}.000000").mkString(",")
      val nDom = r.nextInt(3)
      val dom = if (nDom == 0) "(empty)" else (0 until nDom).map(_ => s"${str(r, 5)}.example").mkString(",")
      answers += nAns; ttls += nAns; domains += nDom
      dns.row(Array(s"${BaseTs + i / 10}.${micros(r)}", "C" + str(r, 17), origHost(r),
        (1024 + r.nextInt(64000)).toString, respHost(r), "53", "udp", r.nextInt(65536).toString,
        s"${str(r, 4 + r.nextInt(6)).toLowerCase}.example.org", pick(r, Seq("A", "AAAA", "PTR", "TXT")),
        r.nextInt(4).toString, if (r.nextBoolean()) "T" else "F", ans, ttl, dom,
        maybe(r, 0.5)(s"${r.nextInt(86400)}.000000")))
    }
    dns.close()
    // header drift: optional columns come and go, and the column order
    // rotates, so a union_by_name bind must read every header
    var driftRows = 0L
    var extraA = 0L
    var extraASum = 0L
    var extraB = 0L
    for (p <- 0 until s.driftFiles) {
      val base = Seq("ts" -> "time", "uid" -> "string", "id.orig_h" -> "addr", "id.resp_p" -> "port")
      val rot = base.drop(p % 4) ++ base.take(p % 4)
      val fields = rot ++ (if (p % 3 == 0) Seq("extra_a" -> "count") else Nil) ++
        (if (p % 5 == 0) Seq("extra_b" -> "string") else Nil)
      val log = new Log(new File(root, f"drift/part-$p%03d.log"), gzip = false, "drift", fields)
      for (i <- 0 until s.driftRows) {
        log.row(fields.map(_._1).map {
          case "ts" => s"${BaseTs + p * 60L + i}.${micros(r)}"
          case "uid" => "C" + str(r, 17)
          case "id.orig_h" => origHost(r)
          case "id.resp_p" => pick(r, RespPorts.toSeq).toString
          case "extra_a" =>
            maybe(r, 0.2)({ val v = r.nextInt(1000); extraASum += v; extraA += 1; v.toString })
          case _ => maybe(r, 0.2)({ extraB += 1; str(r, 8) })
        }.toArray)
      }
      log.close()
      driftRows += log.rows
    }
    connAnswers("", connRows, connNonNull, tally) ++ Map(
      "wide" -> (Seq(wide.rows) ++ wide.nonNull.toSeq).mkString(","),
      "array" -> s"${dns.rows},$answers,$ttls,$domains",
      "union" -> s"$driftRows,$extraA,$extraASum,$extraB")
  }

  /** The zeek_recompress corpus: one single-stream gzip conn log. Its
    * answers carry the prefix `big.`. */
  def writeBig(root: File, seed: Long, rows: Int): Answers = {
    val r = new SplittableRandom(seed ^ 0x5DEECE66DL)
    val tally = new ConnTally
    val log = new Log(new File(root, "big/conn.log.gz"), gzip = true, "conn", ConnFields)
    for (i <- 0 until rows) {
      val v = connRow(r, BaseTs + i / 50)
      tally.add(v); log.row(v)
    }
    log.close()
    connAnswers("big.", log.rows, log.nonNull, tally)
  }

  /** SHA-256 over every file's relative path and bytes, in path order. */
  def fingerprint(root: File): String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    def walk(f: File): Seq[File] =
      if (f.isDirectory) f.listFiles().toSeq.sortBy(_.getName).flatMap(walk) else Seq(f)
    walk(root).foreach { f =>
      md.update(root.toPath.relativize(f.toPath).toString.getBytes(StandardCharsets.UTF_8))
      md.update(java.nio.file.Files.readAllBytes(f.toPath))
    }
    md.digest().map(b => f"$b%02x").mkString
  }
}
