package graft.zeek

import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.Row
import org.apache.spark.sql.catalyst.CatalystTypeConverters
import org.apache.spark.sql.types.{MetadataBuilder, StructField, StructType}

/** Property-based round-trip: generated header × rows (every scalar type,
  * NULL markers, malformed numerics, list shapes, compression) read back
  * through the DSv2 source must match an independent row-at-a-time
  * oracle implementing the same semantics (SURVEY.md §5.3). Uses seeded
  * scalacheck generators directly (deterministic, reproducible failures
  * by seed) — the scalatest-scalacheck bridge isn't in the offline
  * dependency set. */
class ZeekPropertySpec extends AnyFunSuite {
  private lazy val spark = SharedSpark.spark

  private val scalarTypes = Seq("string", "count", "int", "double", "bool",
    "time", "interval", "port", "addr", "enum")
  private val types = scalarTypes ++ Seq("vector[count]", "set[string]", "vector[double]")

  private val genType: Gen[String] = Gen.oneOf(types)

  private def genCell(tpe: String): Gen[String] = {
    val valid: Gen[String] = tpe match {
      case "string" | "enum" | "addr" =>
        Gen.alphaNumStr.map(s => if (s.isEmpty) "x" else s.take(12))
      case "count" => Gen.choose(0L, Long.MaxValue).map(_.toString)
      case "int"   => Gen.choose(Long.MinValue / 2, Long.MaxValue / 2).map(_.toString)
      case "double" => Gen.choose(-1e6, 1e6).map(d => f"$d%.4f")
      case "bool"  => Gen.oneOf("T", "F", "true", "false", "x")
      case "time" | "interval" => Gen.choose(0L, 2000000000L).flatMap(s =>
        Gen.choose(0, 999999).map(us => s + "." + f"$us%06d"))
      case "port"  => Gen.choose(0, 70000).map(_.toString) // some out of range
      case t if t.startsWith("vector[") || t.startsWith("set[") =>
        val inner = ZeekTypes.innerType(t)
        Gen.choose(0, 3).flatMap(n => Gen.listOfN(n,
          Gen.oneOf(genCell1(inner), Gen.const("-")))).map {
          case Nil => "(empty)"
          case xs  => xs.mkString(",")
        }
    }
    Gen.frequency(
      (6, valid),
      (1, Gen.const("-")),        // unset marker
      (1, Gen.const("(empty)")),  // empty marker
      (1, Gen.const("notanum")))  // malformed
  }

  // non-recursive variant for list elements (no markers-in-markers)
  private def genCell1(tpe: String): Gen[String] = tpe match {
    case "count"  => Gen.choose(0L, 1000000L).map(_.toString)
    case "double" => Gen.choose(-100.0, 100.0).map(d => f"$d%.3f")
    case _        => Gen.alphaNumStr.map(s => if (s.isEmpty) "y" else s.take(8))
  }

  /** Independent value oracle: what a cell must decode to. */
  private def expected(tpe: String, cell: String): Any = {
    def markers(s: String) = s == "-" || s == "(empty)"
    tpe match {
      case t if t.startsWith("vector[") || t.startsWith("set[") =>
        if (markers(cell)) Seq.empty
        else cell.split(",", -1).toSeq.map(e =>
          if (markers(e)) null else expectedScalar(ZeekTypes.innerType(t), e))
      case _ =>
        if (markers(cell)) null else expectedScalar(tpe, cell)
    }
  }

  private def expectedScalar(tpe: String, s: String): Any = tpe match {
    case "string" | "enum" | "addr" => s
    case "count" =>
      try { val v = java.lang.Long.parseLong(s); if (v < 0) null else v }
      catch { case _: Exception => null }
    case "int" =>
      try java.lang.Long.parseLong(s) catch { case _: Exception => null }
    case "double" =>
      try java.lang.Double.parseDouble(s) catch { case _: Exception => null }
    case "bool" => s == "T" || s == "true"
    case "time" =>
      try {
        val micros = (java.lang.Double.parseDouble(s) * 1e6).toLong
        java.sql.Timestamp.from(java.time.Instant.ofEpochSecond(
          Math.floorDiv(micros, 1000000L), Math.floorMod(micros, 1000000L) * 1000))
      } catch { case _: Exception => null }
    case "interval" =>
      try {
        val micros = (java.lang.Double.parseDouble(s) * 1e6).toLong
        java.time.Duration.ofNanos(micros * 1000)
      } catch { case _: Exception => null }
    case "port" =>
      try { val v = Integer.parseInt(s); if (v < 0 || v > 65535) null else v }
      catch { case _: Exception => null }
  }

  test("one parser per Zeek type agrees with the cell oracle") {
    // each cell goes through a one-column projection's parseCol: the
    // marker check, then the type's PrimParsers parser, boxed
    val primTypes = Seq("count", "int", "port", "time", "interval", "double", "bool")
    for (tpe <- primTypes) {
      val header = ZeekHeader.Default.copy(fields = Vector("c"), types = Vector(tpe))
      val schema = StructType(Seq(StructField("c", ZeekTypes.toSpark(tpe), nullable = true,
        new MetadataBuilder().putString(ZeekTypes.ZeekTypeMeta, tpe).build())))
      val proj = new graft.zeek.v2.ZeekProjection(ZeekFileSpec("p.log", None), header, schema,
        ZeekOptions(), schema, header)
      for (seed <- 0 until 400) {
        val cell = genCell(tpe).pureApply(Gen.Parameters.default, Seed(tpe.hashCode * 100000L + seed))
        val b = cell.getBytes(java.nio.charset.StandardCharsets.UTF_8)
        val got = proj.parseCol(0, b, proj.tokenize(b, 0, b.length))
        val want = CatalystTypeConverters.convertToCatalyst(expected(tpe, cell))
        assert(got == want, s"type=$tpe cell='$cell' expected=$want parsed=$got")
      }
    }
  }

  private def isList(tpe: String) = tpe.startsWith("vector[") || tpe.startsWith("set[")

  /** Driver-side order on oracle values of one scalar Zeek type. */
  private def compareExpected(a: Any, b: Any): Int = (a, b) match {
    case (x: String, y: String)                         => x.compareTo(y)
    case (x: java.lang.Long, y: java.lang.Long)         => x.compareTo(y)
    case (x: java.lang.Integer, y: java.lang.Integer)   => x.compareTo(y)
    case (x: java.lang.Double, y: java.lang.Double)     => x.compareTo(y)
    case (x: java.lang.Boolean, y: java.lang.Boolean)   => x.compareTo(y)
    case (x: java.sql.Timestamp, y: java.sql.Timestamp) => x.compareTo(y)
    case (x: java.time.Duration, y: java.time.Duration) => x.compareTo(y)
  }

  test("generated logs round-trip: source values == independent oracle") {
    // each seed also reads its log through one pushed predicate on a
    // scalar column and compares with the oracle rows filtered here: the
    // reader tests pushed filters on raw token slices before it writes
    // the vectors, and a leaf that wrongly rejects a row (a marker, a
    // malformed cell, a byte or double order) drops it where no residual
    // filter can restore it
    val genSchema: Gen[List[String]] =
      Gen.choose(1, 6).flatMap(n => Gen.listOfN(n, genType))
    for (seed <- 0 until 40) {
      val generated = genSchema.pureApply(Gen.Parameters.default, Seed(seed.toLong))
      // every seed needs a scalar column to push a predicate on
      val colTypes = if (generated.forall(isList)) generated :+ "string" else generated
      val nRows = Gen.choose(0, 8).pureApply(Gen.Parameters.default, Seed(seed * 7L + 1))
      val gz = seed % 3 == 0
      val fields = colTypes.indices.map(i => s"c$i")
      val rowGens = colTypes.map(genCell)
      val rows: Seq[Seq[String]] = (0 until nRows).map { r =>
        rowGens.zipWithIndex.map { case (g, i) =>
          g.pureApply(Gen.Parameters.default, Seed(seed * 100000L + r * 1000L + i))
        }
      }
      val content = ZeekFixtures.header("prop", fields, colTypes) +
        rows.map(_.mkString("\t") + "\n").mkString
      val dir = ZeekFixtures.tempDir()
      val path = ZeekFixtures.write(dir, if (gz) "p.log.gz" else "p.log", content, gzip = gz)

      def check(got: Array[Row], want: Seq[Seq[String]], what: String): Unit = {
        assert(got.length == want.length, s"seed=$seed $what: ${got.length} rows, expected ${want.length}")
        got.zip(want).foreach { case (row, raw) =>
          colTypes.zipWithIndex.foreach { case (tpe, i) =>
            val exp = expected(tpe, raw(i))
            val act = row.get(i) match {
              case s: Seq[_] => s
              case other     => other
            }
            assert(act == exp,
              s"seed=$seed $what col c$i type=$tpe cell='${raw(i)}' expected=$exp actual=$act")
          }
        }
      }
      val df = spark.read.format("zeek").load(path)
      check(df.collect(), rows, "unfiltered")

      // one pushed predicate: IS [NOT] NULL, or a comparison against a
      // value decoded from a generated cell of the same column
      val scalarCols = colTypes.indices.filterNot(i => isList(colTypes(i)))
      val rnd = new scala.util.Random(seed)
      val c = scalarCols(rnd.nextInt(scalarCols.length))
      val tpe = colTypes(c)
      val pivot = if (rows.isEmpty) null else expected(tpe, rows(rnd.nextInt(rows.length))(c))
      val ops = Seq("isNotNull", "isNull", "==", "=!=", ">", ">=", "<", "<=")
      val op = if (pivot == null) ops(rnd.nextInt(2)) else ops(rnd.nextInt(ops.length))
      val column = org.apache.spark.sql.functions.col(s"c$c")
      val (cond, keep) = op match {
        case "isNotNull" => (column.isNotNull, (v: Any) => v != null)
        case "isNull"    => (column.isNull, (v: Any) => v == null)
        case "==" => (column === pivot, (v: Any) => v != null && compareExpected(v, pivot) == 0)
        case "=!=" => (column =!= pivot, (v: Any) => v != null && compareExpected(v, pivot) != 0)
        case ">"  => (column > pivot, (v: Any) => v != null && compareExpected(v, pivot) > 0)
        case ">=" => (column >= pivot, (v: Any) => v != null && compareExpected(v, pivot) >= 0)
        case "<"  => (column < pivot, (v: Any) => v != null && compareExpected(v, pivot) < 0)
        case "<=" => (column <= pivot, (v: Any) => v != null && compareExpected(v, pivot) <= 0)
      }
      val filtered = df.filter(cond)
      val plan = filtered.queryExecution.executedPlan.toString
      assert(!plan.contains("pushed=[]"), s"seed=$seed: predicate not pushed\n$plan")
      check(filtered.collect(), rows.filter(r => keep(expected(tpe, r(c)))), s"filter c$c $op $pivot")
    }
  }

  test("generated logs round-trip through the SINK: read(write(read(x))) == read(x)") {
    // same generator as above, pushed through df.write.format("zeek"):
    // whatever the source can produce, the sink must re-encode losslessly
    // (markers, malformed-input NULLs, list shapes, every codec)
    val genSchema: Gen[List[String]] =
      Gen.choose(1, 6).flatMap(n => Gen.listOfN(n, genType))
    for (seed <- 100 until 125) {
      val colTypes = genSchema.pureApply(Gen.Parameters.default, Seed(seed.toLong))
      val nRows = Gen.choose(0, 8).pureApply(Gen.Parameters.default, Seed(seed * 7L + 1))
      val fields = colTypes.indices.map(i => s"c$i")
      val rowGens = colTypes.map(genCell)
      val rows: Seq[Seq[String]] = (0 until nRows).map { r =>
        rowGens.zipWithIndex.map { case (g, i) =>
          g.pureApply(Gen.Parameters.default, Seed(seed * 100000L + r * 1000L + i))
        }
      }
      val content = ZeekFixtures.header("prop", fields, colTypes) +
        rows.map(_.mkString("\t") + "\n").mkString
      val dir = ZeekFixtures.tempDir()
      val path = ZeekFixtures.write(dir, "p.log", content)

      val orig = spark.read.format("zeek").load(path)
      val out = ZeekFixtures.tempDir()
      val codec = Seq("none", "gzip", "zstd")(seed % 3)
      orig.write.format("zeek").mode("append").option("compression", codec).save(out.toString)
      val back = spark.read.format("zeek").load(s"$out/*")
      assert(back.schema == orig.schema, s"seed=$seed codec=$codec")
      // inherent format ambiguity: [null] / [""] render as the unset /
      // empty markers and re-read as [] (see ZeekWriteCore.columns doc)
      def norm(v: Any): Any = v match {
        case s: scala.collection.Seq[_] =>
          if (s.length == 1 && (s.head == null || s.head == "")) Nil else s.toList
        case other => other
      }
      def dump(df: org.apache.spark.sql.DataFrame): Seq[String] =
        df.collect().map(_.toSeq.map(norm).mkString("|")).sorted.toSeq
      assert(dump(back) == dump(orig), s"seed=$seed codec=$codec")
    }
  }
}
