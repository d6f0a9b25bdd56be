package graft.zeek

import org.scalatest.funsuite.AnyFunSuite

class ZeekHeaderSpec extends AnyFunSuite {

  private def reader(content: String) =
    new ByteLineReader(new java.io.ByteArrayInputStream(content.getBytes("UTF-8")))

  test("separator unescape: hex, named, literal") {
    assert(ZeekHeader.unescapeSeparator("\\x09") == '\t')
    assert(ZeekHeader.unescapeSeparator("\\x2C") == ',')
    assert(ZeekHeader.unescapeSeparator("\\t") == '\t')
    assert(ZeekHeader.unescapeSeparator("\\n") == '\n')
    assert(ZeekHeader.unescapeSeparator(",") == ',')
    assert(ZeekHeader.unescapeSeparator(" ") == ' ')
  }

  test("header parse: directives, fields, types, pending line") {
    val lines = reader(ZeekFixtures.connContent)
    val h = ZeekHeader.read(lines)
    assert(h.separator == '\t')
    assert(h.setSeparator == ",")
    assert(h.emptyField == "(empty)")
    assert(h.unsetField == "-")
    assert(h.path.contains("conn"))
    assert(h.fields == ZeekFixtures.connFields.toVector)
    assert(h.types == ZeekFixtures.connTypes.toVector)
    assert(lines.onLine && lines.lineString.startsWith("1768539602.060078"))
  }

  test("space separator") {
    val content = "#separator  \n#fields a b\n#types count count\n1 2\n"
    // note: "#separator " followed by a literal space char
    val h = ZeekHeader.read(reader(content))
    assert(h.separator == ' ')
    assert(h.fields == Vector("a", "b"))
  }

  test("missing #fields / #types errors") {
    val noFields = "#separator \\x09\n#types\tcount\n1\n"
    val e1 = intercept[ZeekFormatException](ZeekHeader.read(reader(noFields)))
    assert(e1.getMessage.contains("#fields"))
    val noTypes = "#separator \\x09\n#fields\ta\n1\n"
    val e2 = intercept[ZeekFormatException](ZeekHeader.read(reader(noTypes)))
    assert(e2.getMessage.contains("#types"))
    val empty = ""
    intercept[ZeekFormatException](ZeekHeader.read(reader(empty)))
  }

  test("fields/types count mismatch") {
    val bad = "#separator \\x09\n#fields\ta\tb\n#types\tcount\n1\t2\n"
    val e = intercept[ZeekFormatException](ZeekHeader.read(reader(bad)))
    assert(e.getMessage.contains("#fields has 2"))
  }

  test("empty #set_separator falls back to ',' instead of looping forever") {
    // regression: with an empty separator, matchesSep was trivially true
    // and `start` never advanced — infinite loop appending elements
    val lp = new ZeekTypes.ListParser(Array.empty[Byte], "-".getBytes, "(empty)".getBytes)
    val cell = "a,b,c".getBytes
    def elem(k: Int) = new String(cell, lp.elemStart(k), lp.elemEnd(k) - lp.elemStart(k))
    assert(lp.split(cell, 0, cell.length) == 3)
    assert(elem(0) == "a")
    assert(elem(2) == "c")
  }

  test("schema diff categories") {
    val h1 = ZeekHeader.Default.copy(fields = Vector("a", "b"), types = Vector("count", "string"))
    assert(h1.diff(h1.copy()).isEmpty)
    assert(h1.diff(h1.copy(fields = Vector("a"), types = Vector("count")))
      .exists(_.contains("different field count")))
    assert(h1.diff(h1.copy(fields = Vector("b", "a")))
      .exists(_.contains("field 0 differs")))
    assert(h1.diff(h1.copy(types = Vector("count", "count")))
      .exists(_.contains("type for field 'b' differs")))
    assert(h1.diff(h1.copy(setSeparator = ";")).exists(_.contains("set_separator")))
  }
}
