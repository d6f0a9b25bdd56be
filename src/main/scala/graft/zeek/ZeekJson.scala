package graft.zeek

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Zeek JSON-lines logs — the OTHER format zeek's logging framework
  * emits (`redef LogAscii::use_json = T;` / the default of many SIEM
  * shippers). The reference extension reads only the TSV ascii format
  * (its header parser requires `#fields`/`#types`,
  * src/zeek_reader.cpp:50-118, and every fixture under data/ is TSV), so
  * a zeek site running the JSON writer cannot use it at all; this module
  * closes that gap.
  *
  * Design (deliberately different from the TSV source): JSON is a format
  * Spark already scans natively — distributed, splittable for
  * uncompressed files, with column pruning and filter pushdown through
  * `JacksonParser`. Hand-rolling a second DSv2 reader would duplicate
  * that machinery for no gain, so this module is a thin typing layer
  * over `spark.read.json`:
  *
  *   - With a known zeek type map (`types`, usually borrowed from a TSV
  *     sibling via [[typesFromAscii]]) the raw read schema is built
  *     up-front — NO inference pass over the data. At 100 TB an
  *     inference scan is a full extra read of the corpus; never pay it
  *     when the types are known.
  *   - Without types, one sampled inference pass (`samplingRatio`) plus
  *     name/shape heuristics derive the zeek types.
  *
  * Typed casts mirror `ZeekTypes` parsing exactly: `time`/`interval`
  * are epoch-second doubles converted via the same `(d * 1e6).toLong`
  * truncation (`ZeekTypes.PrimParsers.long`), `count` range-checks into
  * LongType (values above Long.MaxValue → NULL, the documented TSV
  * deviation), `port` range-checks into IntegerType. Columns carry the
  * same `zeek.type`/`zeek.name` metadata as the TSV source, so a
  * JSON-read frame round-trips through the TSV sink (and back) — the
  * two formats are interchangeable inputs to every downstream operator.
  *
  * All casts are Catalyst built-ins (codegen'd, no UDFs); the typed
  * projection sits directly above the JSON scan, so pruning/pushdown
  * still reach the files.
  */
object ZeekJson {

  /** Borrow the `#fields`/`#types` map from a TSV zeek log of the same
    * log type — the common deployment has both writers (or a historical
    * TSV archive) for the same streams, and the TSV header is the
    * authoritative type source the JSON format lacks. */
  def typesFromAscii(spark: SparkSession, headerLogPath: String): Map[String, String] = {
    val conf = spark.sessionState.newHadoopConf()
    val in = ZeekIO.open(headerLogPath, conf)
    val h = try ZeekHeader.parseHeaderOnly(in) finally in.close()
    h.fields.zip(h.types).toMap
  }

  /** Read zeek JSON-lines logs into the same typed frame the TSV source
    * produces.
    *
    * @param types  zeek type per ORIGINAL (dotted) field name; non-empty
    *               ⇒ schema built up-front, no inference scan, and the
    *               map defines the projection (like `#fields`). Empty ⇒
    *               sampled inference + heuristics.
    * @param isoTimestamps `time` fields are ISO8601 strings
    *               (`redef LogAscii::json_timestamps = JSON::TS_ISO8601`)
    *               instead of the default epoch doubles.
    * @param samplingRatio inference-mode only: fraction of input lines
    *               sampled for schema inference.
    */
  def read(spark: SparkSession, path: String,
      types: Map[String, String] = Map.empty,
      replacePeriods: Boolean = true,
      filename: Boolean = false,
      isoTimestamps: Boolean = false,
      samplingRatio: Double = 1.0): DataFrame = {

    val (raw, zeekTypeOf) =
      if (types.nonEmpty)
        (spark.read.schema(rawSchema(types, isoTimestamps)).json(path), types)
      else {
        val inferred0 = spark.read
          .option("samplingRatio", samplingRatio.toString)
          .json(path)
        val inferred = flattenStructs(inferred0)
        val guessed = inferred.schema.fields.map { f =>
          f.name -> guessZeekType(f.name, f.dataType, isoTimestamps)
        }.toMap
        (inferred, guessed)
      }
    typed(raw, zeekTypeOf, replacePeriods, filename, isoTimestamps)
  }

  /** Streaming [[read]]: micro-batch ingestion of a JSON log directory
    * (`writeStream` wiring stays with the caller). Streams cannot run an
    * inference pass, so the type map is required — the explicit-schema
    * path is also the right one at any scale. Same typed output as the
    * batch read; pairs with the TSV source's own micro-batch stream for
    * mixed-format ingestion. */
  def readStream(spark: SparkSession, path: String,
      types: Map[String, String],
      replacePeriods: Boolean = true,
      filename: Boolean = false,
      isoTimestamps: Boolean = false,
      maxFilesPerTrigger: Option[Int] = None): DataFrame = {
    require(types.nonEmpty, "ZeekJson.readStream requires a zeek type map (no inference on streams)")
    val reader = spark.readStream.schema(rawSchema(types, isoTimestamps))
    maxFilesPerTrigger.foreach(n => reader.option("maxFilesPerTrigger", n.toString))
    typed(reader.json(path), types, replacePeriods, filename, isoTimestamps)
  }

  private def rawSchema(types: Map[String, String], iso: Boolean): StructType =
    StructType(types.toSeq.sortBy(_._1).map { case (n, t) =>
      StructField(n, rawType(t, iso), nullable = true)
    })

  private def typed(raw: DataFrame, zeekTypeOf: Map[String, String],
      replacePeriods: Boolean, filename: Boolean, iso: Boolean): DataFrame = {
    val dataCols = raw.schema.fields
      .filter(_.name != "_corrupt_record")
      .map { f =>
        val zt = zeekTypeOf(f.name)
        val outName = if (replacePeriods) f.name.replace('.', '_') else f.name
        val mb = new MetadataBuilder().putString(ZeekTypes.ZeekTypeMeta, zt)
        if (outName != f.name) mb.putString(ZeekTypes.ZeekNameMeta, f.name)
        typedCast(zt, quoted(f.name), iso).as(outName, mb.build())
      }
    val cols =
      if (filename)
        // same display form as the TSV source's virtual column
        // (ZeekIO.displayPath strips the file: scheme)
        dataCols :+ regexp_replace(input_file_name(), "^file:(//)?", "").as("filename")
      else dataCols
    raw.select(cols.toIndexedSeq: _*)
  }

  /** Write a typed frame as zeek JSON-lines. The inverse of [[read]]:
    * `time`/`interval` render as epoch-second DECIMAL(26,6) (JSON
    * numbers with zeek's microsecond precision — no scientific
    * notation), dotted `#fields` names are restored from `zeek.name`
    * metadata, everything else writes natively. Compression ("gzip",
    * "none", …) rides Spark's JSON sink option. */
  def write(df: DataFrame, path: String,
      isoTimestamps: Boolean = false,
      compression: String = "none",
      mode: String = "overwrite"): Unit = {
    val cols = df.schema.fields.map { f =>
      val zt = ZeekWriteCore.zeekTypeOf(f)
      render(zt, quoted(f.name), f.dataType, isoTimestamps)
        .as(ZeekWriteCore.fieldNameOf(f))
    }
    df.select(cols.toIndexedSeq: _*)
      .write.mode(mode).option("compression", compression).json(path)
  }

  // ---- internals -------------------------------------------------------

  /** JSON-side (pre-cast) type for a zeek type. `count` reads as
    * DECIMAL(20,0) so zeek's full u64 range parses (a LongType read
    * would corrupt rows holding values above Long.MaxValue); the typed
    * cast then range-checks into LongType like the TSV parser. */
  private def rawType(zeekType: String, iso: Boolean): DataType = zeekType match {
    case "time"            => if (iso) StringType else DoubleType
    case "interval"        => DoubleType
    case "count"           => DecimalType(20, 0)
    case "int"             => LongType
    case "port"            => LongType
    case "bool"            => BooleanType
    case "double"          => DoubleType
    case t if t.startsWith("vector[") || t.startsWith("set[") =>
      ArrayType(rawType(ZeekTypes.innerType(t), iso), containsNull = true)
    case _                 => StringType // string, enum, addr, subnet, unknown
  }

  /** Raw JSON value → the TSV source's Spark type, with semantics
    * matching the `ZeekTypes` slice parsers. */
  private def typedCast(zeekType: String, c: Column, iso: Boolean): Column = zeekType match {
    case "time" =>
      if (iso) c.cast(TimestampType) // ISO8601 w/ T+Z: native string→timestamp cast
      else timestamp_micros((c * lit(1e6)).cast(LongType)) // same double-multiply truncation as the TSV parser
    case "interval" =>
      // micros → interval via timestamp subtraction (exact; Spark has no
      // long→DayTimeInterval constructor at micro precision)
      timestamp_micros((c * lit(1e6)).cast(LongType)) - timestamp_micros(lit(0L))
    case "count" => when(c.between(lit(0L), lit(Long.MaxValue)), c).cast(LongType)
    case "port"  => when(c.between(lit(0L), lit(65535L)), c).cast(IntegerType)
    case "int"   => c.cast(LongType)
    case "bool"  => c.cast(BooleanType)
    case "double" => c.cast(DoubleType)
    case t if t.startsWith("vector[") || t.startsWith("set[") =>
      val inner = ZeekTypes.innerType(t)
      transform(c, x => typedCast(inner, x, iso))
    case _ => c.cast(StringType)
  }

  /** Inference-mode zeek type from the inferred Spark type plus the one
    * safe name heuristic: a numeric/string field named `ts` (zeek's
    * universal event-time column) is `time`. Everything else maps by
    * shape — `typesFromAscii` or an explicit map recovers the exact
    * count/addr/enum distinctions JSON cannot express. */
  private def guessZeekType(name: String, dt: DataType, iso: Boolean): String = dt match {
    case DoubleType if name == "ts"  => "time"
    case StringType if name == "ts" && iso => "time"
    case LongType if name == "ts"    => "time"
    case DoubleType                  => "double"
    case LongType | IntegerType      => "int"
    case _: DecimalType              => "int"
    case BooleanType                 => "bool"
    case StringType                  => "string"
    case ArrayType(et, _)            => s"vector[${guessZeekType("", et, iso)}]"
    case _                           => "string"
  }

  /** Inference can nest (some shippers emit `{"id":{"orig_h":…}}`
    * instead of zeek's flat dotted keys); flatten to the dotted form so
    * both layouts type identically. Explicit-schema mode reads dotted
    * keys literally (zeek's own writer is flat). */
  private def flattenStructs(df: DataFrame): DataFrame = {
    def expand(prefix: String, f: StructField): Seq[Column] = f.dataType match {
      case st: StructType =>
        st.fields.flatMap(g => expand(s"$prefix${f.name}.", g)).toSeq
      case _ =>
        val name = s"$prefix${f.name}"
        Seq(col(name.split('.').map(p => s"`$p`").mkString(".")).as(name))
    }
    if (!df.schema.fields.exists(_.dataType.isInstanceOf[StructType])) df
    else df.select(df.schema.fields.flatMap(f => expand("", f)).toIndexedSeq: _*)
  }

  /** A zeek field name may contain dots ("id.orig_h") — quote it so
    * Column resolution treats it as one literal name. */
  private def quoted(name: String): Column = col(s"`$name`")

  /** Typed value → JSON-side representation (inverse of [[typedCast]]).
    * Timestamp/interval cast to DECIMAL(26,6) = exact epoch/elapsed
    * seconds at microsecond precision, rendered as a plain JSON number. */
  private def render(zeekType: String, c: Column, dt: DataType, iso: Boolean): Column =
    (zeekType, dt) match {
      case ("time", _) if iso =>
        date_format(c, "yyyy-MM-dd'T'HH:mm:ss.SSSSSS'Z'")
      case ("time", _) => c.cast(DecimalType(26, 6))
      case ("interval", _) =>
        (timestamp_micros(lit(0L)) + c).cast(DecimalType(26, 6))
      case (t, ArrayType(et, _)) if t.startsWith("vector[") || t.startsWith("set[") =>
        val inner = ZeekTypes.innerType(t)
        transform(c, x => render(inner, x, et, iso))
      case _ => c
    }
}
