package graft.zeek.v2

import org.apache.spark.sql.catalyst.util.DateTimeUtils
import org.apache.spark.sql.sources._
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

import graft.zeek.ZeekTypes
import graft.zeek.ZeekTypes._

/** Reader-side evaluation of pushed filters over a line's raw cells.
  *
  * Semantics follow the reference's EvaluateFilter
  * (src/zeek_scanner.cpp:196-243): constant comparisons, IS (NOT) NULL,
  * IN, string prefix/suffix/substring and AND/OR, tested on each row
  * before any column is written (src/zeek_scanner.cpp:718-771). A NULL
  * cell — a marker, a malformed value, a column absent from the file —
  * and a NULL literal fail every comparison, as post-scan Catalyst would;
  * every pushed filter is also returned as residual, so Spark re-checks
  * regardless.
  *
  * A filter is compiled once per partition into typed leaves. Each leaf
  * reads its column's token slice straight from the line buffer and
  * decodes it with the [[ZeekTypes.PrimParsers]] that also fill the column
  * vectors: numbers, bools and times compare as Longs (doubles in Spark's
  * order, -0.0 = 0.0 and NaN = NaN and greatest), strings through a
  * zero-copy `UTF8String` view of their bytes. Literals are converted
  * once, at compile time.
  */
object ZeekFilterEval {

  /** A compiled filter: tests the line in `buf` whose `nTok` tokens sit at
    * the offsets of `cells`. */
  abstract class Pred { def apply(cells: ZeekCells, buf: Array[Byte], nTok: Int): Boolean }

  /** A filter column as the leaves see it: its file field index (-1 absent
    * from the file, -2 the `filename` column) and its type code. */
  final case class Col(srcIdx: Int, typeCode: Int)

  /** Compile `f`, or None when its shape, a column (unknown, or a list) or
    * a literal is not evaluable here — such a filter is not pushed. */
  def compile(f: Filter, col: String => Option[Col]): Option[Pred] = {
    def cmp(a: String, vs: Seq[Any], ok: Int => Boolean) = col(a).flatMap(compare(_, vs, ok))
    def text(a: String, v: String, test: (UTF8String, UTF8String) => Boolean) =
      col(a).filter(_.typeCode == TcString)
        .map(c => new StringLeaf(c.srcIdx, Array(UTF8String.fromString(v)), test))
    f match {
      case And(l, r) => for (x <- compile(l, col); y <- compile(r, col)) yield and(x, y)
      case Or(l, r) =>
        for (x <- compile(l, col); y <- compile(r, col))
          yield new Pred { def apply(c: ZeekCells, b: Array[Byte], n: Int) = x(c, b, n) || y(c, b, n) }
      case IsNull(a)                => col(a).map(c => new NullLeaf(c.srcIdx, c.typeCode, isNull = true))
      case IsNotNull(a)             => col(a).map(c => new NullLeaf(c.srcIdx, c.typeCode, isNull = false))
      case EqualTo(a, v)            => cmp(a, Seq(v), _ == 0)
      case Not(EqualTo(a, v))       => cmp(a, Seq(v), _ != 0)
      case GreaterThan(a, v)        => cmp(a, Seq(v), _ > 0)
      case GreaterThanOrEqual(a, v) => cmp(a, Seq(v), _ >= 0)
      case LessThan(a, v)           => cmp(a, Seq(v), _ < 0)
      case LessThanOrEqual(a, v)    => cmp(a, Seq(v), _ <= 0)
      case In(a, vs)                => cmp(a, vs.toSeq, _ == 0)
      case StringStartsWith(a, v)   => text(a, v, _.startsWith(_))
      case StringEndsWith(a, v)     => text(a, v, _.endsWith(_))
      case StringContains(a, v)     => text(a, v, _.contains(_))
      case _                        => None
    }
  }

  /** The reader's conjunction of its pushed filters. Each one compiled at
    * planning ([[pushable]]), so one that does not compile here is a
    * planning fault and fails the scan instead of passing rows. */
  def compileAll(filters: Seq[Filter], col: String => Option[Col]): Pred =
    filters.map { f =>
      compile(f, col).getOrElse(throw new IllegalStateException(
        s"pushed filter $f cannot be evaluated by the Zeek reader"))
    }.reduce(and)

  private def and(x: Pred, y: Pred): Pred =
    new Pred { def apply(c: ZeekCells, b: Array[Byte], n: Int) = x(c, b, n) && y(c, b, n) }

  /** The pushdown policy: a filter the reader can evaluate over `schema`'s
    * non-list columns (the reference declines LIST columns too,
    * src/zeek_scanner.cpp:118-132; addr/subnet are plain strings here, so
    * unlike its INET columns they are eligible). */
  def pushable(f: Filter, schema: StructType): Boolean = {
    val cols = schema.fields.collect {
      case sf if !sf.dataType.isInstanceOf[ArrayType] =>
        val zt = if (sf.metadata.contains(ZeekTypeMeta)) sf.metadata.getString(ZeekTypeMeta) else "string"
        sf.name -> Col(-1, typeCodeFor(zt))
    }.toMap
    compile(f, cols.get).isDefined
  }

  /** One comparison leaf over the non-NULL literals `vs` (one, or an IN
    * list): true when `ok` holds for the cell's order against some
    * literal. None when a literal does not fit the column's type. */
  private def compare(c: Col, vs: Seq[Any], ok: Int => Boolean): Option[Pred] = {
    val lits = vs.filter(_ != null).map(literal(c.typeCode, _))
    if (lits.contains(None)) None
    else if (c.typeCode == TcString)
      Some(new StringLeaf(c.srcIdx, lits.map(_.get.asInstanceOf[UTF8String]).toArray,
        (cell, lit) => ok(cell.compareTo(lit))))
    else Some(new LongLeaf(c.srcIdx, c.typeCode, lits.map(_.get.asInstanceOf[Long]).toArray, ok))
  }

  /** A literal as its column's leaf compares it: a string as UTF-8, any
    * other type as the Long that [[asLong]] decodes its cells to;
    * None when the literal's class does not fit the column. */
  private def literal(tc: Int, v: Any): Option[Any] = (tc, v) match {
    case (TcString, s: String)                 => Some(UTF8String.fromString(s))
    case (TcString, u: UTF8String)             => Some(u)
    case (TcDouble, n: Number)                 => Some(doubleKey(n.doubleValue))
    case (TcBool, b: java.lang.Boolean)        => Some(if (b) 1L else 0L)
    case (TcTime, t: java.sql.Timestamp)       => Some(DateTimeUtils.fromJavaTimestamp(t))
    case (TcTime, i: java.time.Instant)        => Some(DateTimeUtils.instantToMicros(i))
    case (TcTime, d: java.time.Duration)       =>
      Some(java.util.concurrent.TimeUnit.SECONDS.toMicros(d.getSeconds) + d.getNano / 1000)
    case (TcCount | TcInt | TcPort, n: Number) => Some(n.longValue)
    case _                                     => None
  }

  /** One column's test. A marker cell or a column absent from the file
    * is NULL ([[onNull]]); any other cell goes to [[onCell]], which
    * decodes it (a malformed value being NULL too). */
  private abstract class Leaf(si: Int) extends Pred {
    protected def onNull: Boolean = false
    protected def onCell(prim: ZeekTypes.PrimParsers, b: Array[Byte], s: Int, e: Int): Boolean

    final def apply(cells: ZeekCells, buf: Array[Byte], nTok: Int): Boolean =
      if (si == -2) onCell(cells.prim, cells.filename, 0, cells.filename.length)
      else if (si < 0 || si >= nTok) onNull
      else {
        val s = cells.tokStart(si)
        val e = cells.tokEnd(si)
        if (cells.isMarker(buf, s, e)) onNull else onCell(cells.prim, buf, s, e)
      }
  }

  /** A non-string cell as a Long in its type's order: bool as 0/1, a
    * double as its [[doubleKey]], the rest as parsed. */
  private def asLong(prim: ZeekTypes.PrimParsers, tc: Int, b: Array[Byte], s: Int, e: Int): Long =
    tc match {
      case TcBool   => if (prim.bool(b, s, e)) 1L else 0L
      case TcDouble => doubleKey(prim.dbl(b, s, e))
      case _        => prim.long(tc, b, s, e)
    }

  /** A double's bits reordered so that Long order is Spark's double order
    * (`SQLOrderingUtil.compareDoubles`): `+ 0.0` turns -0.0 into 0.0,
    * `doubleToLongBits` folds every NaN into one that sorts above
    * +Infinity, and flipping a negative's magnitude bits reverses their
    * order. */
  private def doubleKey(d: Double): Long = {
    val bits = java.lang.Double.doubleToLongBits(d + 0.0)
    bits ^ ((bits >> 63) & Long.MaxValue)
  }

  /** IS NULL, or with `isNull = false` IS NOT NULL. */
  private final class NullLeaf(si: Int, tc: Int, isNull: Boolean) extends Leaf(si) {
    override protected def onNull: Boolean = isNull
    protected def onCell(prim: ZeekTypes.PrimParsers, b: Array[Byte], s: Int, e: Int): Boolean =
      (tc != TcString && { asLong(prim, tc, b, s, e); prim.lastNull }) == isNull
  }

  private final class LongLeaf(si: Int, tc: Int, lits: Array[Long], ok: Int => Boolean)
      extends Leaf(si) {
    protected def onCell(prim: ZeekTypes.PrimParsers, b: Array[Byte], s: Int, e: Int): Boolean = {
      val x = asLong(prim, tc, b, s, e)
      if (prim.lastNull) return false
      var k = 0
      while (k < lits.length) {
        if (ok(java.lang.Long.compare(x, lits(k)))) return true
        k += 1
      }
      false
    }
  }

  /** A string cell tested against each literal, through a zero-copy
    * `UTF8String` view of its raw bytes — so in `UTF8String`'s unsigned
    * byte order and with its `startsWith`/`endsWith`/`contains`. */
  private final class StringLeaf(si: Int, lits: Array[UTF8String],
      test: (UTF8String, UTF8String) => Boolean) extends Leaf(si) {
    protected def onCell(prim: ZeekTypes.PrimParsers, b: Array[Byte], s: Int, e: Int): Boolean = {
      val cell = UTF8String.fromBytes(b, s, e - s)
      var k = 0
      while (k < lits.length) {
        if (test(cell, lits(k))) return true
        k += 1
      }
      false
    }
  }
}
