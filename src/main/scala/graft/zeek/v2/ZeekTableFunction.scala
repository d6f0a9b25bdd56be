package graft.zeek.v2

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo, Literal, NamedArgumentExpression}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.util.CaseInsensitiveStringMap

import graft.zeek.ZeekFormatException

/** The reference's PRIMARY user surface, verbatim: a SQL table function
  *
  *   SELECT * FROM read_zeek('/logs/conn*.log.gz',
  *                           ignore_file_errors => true,
  *                           filename => true)
  *
  * (reference: `README.md` examples, `src/zeek_scanner.cpp` table
  * function registration). DuckDB spells options `key=value`; Spark's
  * named-argument syntax is `key => value` — same names, same semantics,
  * every option [[graft.zeek.ZeekOptions.fromMap]] reads: the reference's
  * five, plus the streaming ones, which a batch read ignores. A name
  * outside [[graft.zeek.ZeekOptions.known]] fails the query, listing the
  * known ones. The function materializes the
  * SAME `ZeekTable`/DSv2 relation as `spark.read.format("zeek")`, so
  * pushdown, columnar reads, statistics, runtime file pruning, and
  * streaming reuse apply unchanged.
  *
  * Registered per-session by [[ZeekTableFunction.register]] and
  * cluster-wide through `GraftExtensions` (injectTableFunction).
  */
object ZeekTableFunction {

  val name = "read_zeek"

  private def strOf(e: Expression, what: String): String = e match {
    case Literal(v, _) if v != null => v.toString
    case other => throw new ZeekFormatException(
      s"read_zeek: $what must be a literal, got $other")
  }

  def build(args: Seq[Expression]): LogicalPlan = {
    if (args.isEmpty)
      throw new ZeekFormatException(
        "read_zeek(pattern [, option => value, ...]) requires a path pattern")
    val opts = new java.util.HashMap[String, String]()
    opts.put("path", strOf(args.head, "the path pattern"))
    args.tail.foreach {
      case NamedArgumentExpression(key, value) =>
        opts.put(key, strOf(value, s"option '$key'"))
      case other => throw new ZeekFormatException(
        "read_zeek: options after the pattern must be named, e.g. " +
          s"ignore_file_errors => true (got $other)")
    }
    val cis = new CaseInsensitiveStringMap(opts)
    org.apache.spark.sql.execution.datasources.v2.DataSourceV2Relation
      .create(new ZeekTable(cis, None), None, None, cis)
  }

  val info: ExpressionInfo = new ExpressionInfo(getClass.getName, name)

  /** For `SparkSessionExtensions.injectTableFunction`. */
  val injectable: (FunctionIdentifier, ExpressionInfo, Seq[Expression] => LogicalPlan) =
    (FunctionIdentifier(name), info, build _)

  /** Per-session registration (idempotent) for sessions built without
    * the extensions. */
  def register(spark: SparkSession): Unit =
    spark.sessionState.tableFunctionRegistry
      .createOrReplaceTempFunction(name, build _, "scala_udf")
}
