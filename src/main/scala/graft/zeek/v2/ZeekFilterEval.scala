package graft.zeek.v2

import org.apache.spark.sql.sources._
import org.apache.spark.sql.types._
import org.apache.spark.sql.catalyst.util.DateTimeUtils
import org.apache.spark.unsafe.types.UTF8String

/** Reader-side evaluation of pushed filters over parsed column values.
  *
  * Semantics follow the reference's EvaluateFilter
  * (src/zeek_scanner.cpp:196-243): constant comparisons, IS (NOT) NULL,
  * IN, AND/OR, evaluated per row before non-filter columns are parsed;
  * values that failed their type parse are NULL and thus fail comparisons
  * (matching post-scan Catalyst semantics — and every pushed filter is
  * also returned as residual, so Spark re-checks regardless).
  *
  * Filters are compiled once per partition into a closure over the row's
  * value array (indexed by position in the reader's required schema).
  */
object ZeekFilterEval {

  type RowPred = Array[Any] => Boolean

  /** Column types the reference advertises pushdown for — everything
    * cheap to parse; not LIST (src/zeek_scanner.cpp:118-132). Our addr/
    * subnet columns are plain strings, so they are eligible too (the
    * reference's INET exclusion existed only because extension casts are
    * expensive; string compares are not). */
  def pushableType(dt: DataType): Boolean = dt match {
    case _: ArrayType => false
    case _            => true
  }

  /** Names referenced by a filter, or None if the filter shape is
    * unsupported for reader-side evaluation. */
  def referencedIfSupported(f: Filter): Option[Seq[String]] = f match {
    case EqualTo(a, _)            => Some(Seq(a))
    case GreaterThan(a, _)        => Some(Seq(a))
    case GreaterThanOrEqual(a, _) => Some(Seq(a))
    case LessThan(a, _)           => Some(Seq(a))
    case LessThanOrEqual(a, _)    => Some(Seq(a))
    case In(a, _)                 => Some(Seq(a))
    case IsNull(a)                => Some(Seq(a))
    case IsNotNull(a)             => Some(Seq(a))
    case Not(EqualTo(a, _))       => Some(Seq(a))
    case StringStartsWith(a, _)   => Some(Seq(a))
    case StringEndsWith(a, _)     => Some(Seq(a))
    case StringContains(a, _)     => Some(Seq(a))
    case And(l, r) =>
      for (a <- referencedIfSupported(l); b <- referencedIfSupported(r)) yield a ++ b
    case Or(l, r) =>
      for (a <- referencedIfSupported(l); b <- referencedIfSupported(r)) yield a ++ b
    case _ => None
  }

  /** Convert a pushed literal to the reader's internal representation for
    * the column's Spark type. */
  private def toInternal(v: Any, dt: DataType): Any = (v, dt) match {
    case (null, _)                      => null
    case (s: String, StringType)        => UTF8String.fromString(s)
    case (u: UTF8String, StringType)    => u
    case (t: java.sql.Timestamp, TimestampType) => DateTimeUtils.fromJavaTimestamp(t)
    case (i: java.time.Instant, TimestampType)  => DateTimeUtils.instantToMicros(i)
    case (d: java.time.Duration, _: DayTimeIntervalType) =>
      java.lang.Long.valueOf(java.util.concurrent.TimeUnit.SECONDS.toMicros(d.getSeconds) + d.getNano / 1000)
    case (n: Number, LongType)          => java.lang.Long.valueOf(n.longValue())
    case (n: Number, IntegerType)       => java.lang.Integer.valueOf(n.intValue())
    case (n: Number, DoubleType)        => java.lang.Double.valueOf(n.doubleValue())
    case (b: java.lang.Boolean, BooleanType) => b
    case _                              => v
  }

  private def cmp(dt: DataType, a: Any, b: Any): Int = dt match {
    case StringType    => a.asInstanceOf[UTF8String].compareTo(b.asInstanceOf[UTF8String])
    case LongType      => java.lang.Long.compare(a.asInstanceOf[Long], b.asInstanceOf[Long])
    case IntegerType   => java.lang.Integer.compare(a.asInstanceOf[Int], b.asInstanceOf[Int])
    case DoubleType    => // Spark's double order: -0.0 == 0.0, NaN == NaN and greatest
      val (x, y) = (a.asInstanceOf[Double], b.asInstanceOf[Double])
      if (x == y) 0 else java.lang.Double.compare(x, y)
    case BooleanType   => java.lang.Boolean.compare(a.asInstanceOf[Boolean], b.asInstanceOf[Boolean])
    case TimestampType => java.lang.Long.compare(a.asInstanceOf[Long], b.asInstanceOf[Long])
    case _: DayTimeIntervalType => java.lang.Long.compare(a.asInstanceOf[Long], b.asInstanceOf[Long])
    case _             => 0
  }

  /** Compile a filter into a predicate over the parsed-values array.
    * `ord` maps column name → index in that array; `dts` the matching
    * Spark types. Unsupported shapes must be filtered out beforehand. */
  def compile(f: Filter, ord: Map[String, Int], dts: Map[String, DataType]): RowPred = f match {
    case And(l, r) =>
      val (cl, cr) = (compile(l, ord, dts), compile(r, ord, dts)); row => cl(row) && cr(row)
    case Or(l, r) =>
      val (cl, cr) = (compile(l, ord, dts), compile(r, ord, dts)); row => cl(row) || cr(row)
    case IsNull(a) =>
      val i = ord(a); row => row(i) == null
    case IsNotNull(a) =>
      val i = ord(a); row => row(i) != null
    case EqualTo(a, v) =>
      val i = ord(a); val dt = dts(a); val lit = toInternal(v, dt)
      row => row(i) != null && lit != null && cmp(dt, row(i), lit) == 0
    case Not(EqualTo(a, v)) =>
      val i = ord(a); val dt = dts(a); val lit = toInternal(v, dt)
      row => row(i) != null && lit != null && cmp(dt, row(i), lit) != 0
    case GreaterThan(a, v) =>
      val i = ord(a); val dt = dts(a); val lit = toInternal(v, dt)
      row => row(i) != null && cmp(dt, row(i), lit) > 0
    case GreaterThanOrEqual(a, v) =>
      val i = ord(a); val dt = dts(a); val lit = toInternal(v, dt)
      row => row(i) != null && cmp(dt, row(i), lit) >= 0
    case LessThan(a, v) =>
      val i = ord(a); val dt = dts(a); val lit = toInternal(v, dt)
      row => row(i) != null && cmp(dt, row(i), lit) < 0
    case LessThanOrEqual(a, v) =>
      val i = ord(a); val dt = dts(a); val lit = toInternal(v, dt)
      row => row(i) != null && cmp(dt, row(i), lit) <= 0
    case In(a, vs) =>
      val i = ord(a); val dt = dts(a)
      val lits = vs.map(toInternal(_, dt)).filter(_ != null)
      row => row(i) != null && lits.exists(l => cmp(dt, row(i), l) == 0)
    case StringStartsWith(a, v) =>
      val i = ord(a); val p = UTF8String.fromString(v)
      row => row(i) != null && row(i).asInstanceOf[UTF8String].startsWith(p)
    case StringEndsWith(a, v) =>
      val i = ord(a); val p = UTF8String.fromString(v)
      row => row(i) != null && row(i).asInstanceOf[UTF8String].endsWith(p)
    case StringContains(a, v) =>
      val i = ord(a); val p = UTF8String.fromString(v)
      row => row(i) != null && row(i).asInstanceOf[UTF8String].contains(p)
    case _ => _ => true // unreachable if pre-filtered; pass rows through
  }
}
