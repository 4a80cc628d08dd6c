package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** F5 — the reference's value-conversion matrix re-created as Catalyst
  * column transforms plus a driver-side default-value parser.
  *
  * Sources of truth in the reference:
  *   - decimal handling (`InformixValueConverters.java:74-115`): a
  *     DECIMAL/NUMERIC with a real scale (!= 255) maps to Connect
  *     `Decimal(scale)` (unscaled integer + scale) in PRECISE mode; a
  *     floating-point decimal (no scale, or scale 255) maps to
  *     `VariableScaleDecimal` {scale, value}; decimal.handling.mode
  *     string/double map to STRING/FLOAT64.
  *   - temporal precision (`InformixValueConverters.java:154-156`):
  *     fraction digits = length < 20 ? 0 : length - 20; DATE -> epoch
  *     days, DATETIME HOUR TO SECOND -> Time(ms) (MicroTime(us) in
  *     adaptive_time_microseconds), YEAR TO SECOND / FRACTION(3) ->
  *     Timestamp(ms), FRACTION(5) -> MicroTimestamp(us), all UTC
  *     (`InformixValueConverters.java:50-52`).
  *   - CLOB -> STRING (`InformixValueConverters.java:138-151`) — here a
  *     plain string column; Spark strings are unbounded.
  *   - default values (`InformixDefaultValueConverter.java:93-231`):
  *     per-type parsers incl. boolean 't'/'f', numeric scale
  *     normalization, TODAY/CURRENT/SYSDATE epoch fallbacks, char
  *     padding and string unquoting.
  *
  * Golden values pinned by `AbstractInformixDatatypesTest.java:103-209`
  * are asserted in ValueConvSpec.
  */
object ValueConv {

  /** Decimal handling modes (decimal.handling.mode). */
  sealed trait DecimalMode
  object DecimalMode {
    case object Precise extends DecimalMode
    case object AsString extends DecimalMode
    case object AsDouble extends DecimalMode
  }

  /** The floating-point-decimal sentinel scale
    * (`InformixValueConverters.java:37`).
    */
  val FloatingPointDecimalScale: Int = 255

  /** Fraction digits of an Informix DATETIME column from its JDBC
    * length (`InformixValueConverters.java:154-156`).
    */
  def timePrecision(length: Int): Int = if (length < 20) 0 else length - 20

  // ---- row-value converters (Catalyst columns; codegen'd casts) ----

  /** PRECISE fixed-scale decimal as Connect sees it: (unscaled, scale).
    * `unscaled` is the integer value * 10^scale.
    */
  def decimalUnscaled(unscaled: Column, scale: Int): Column =
    struct(unscaled.cast("long").as("unscaled"), lit(scale).as("scale"))

  /** VariableScaleDecimal {scale, value}: the decimal at its natural
    * (minimal, >= 0) scale. Input: integer `unscaled` at `maxScale`.
    */
  def variableScaleDecimal(unscaled: Column, maxScale: Int): Column = {
    // strip trailing decimal zeros: reduce scale while divisible by 10
    val (s, v) = (1 to maxScale).foldLeft((lit(maxScale), unscaled.cast("long"))) {
      case ((sc, uv), _) =>
        val divisible = uv % 10 === 0 && sc > 0
        (when(divisible, sc - 1).otherwise(sc), when(divisible, (uv / 10).cast("long")).otherwise(uv))
    }
    struct(s.cast("int").as("scale"), v.as("value"))
  }

  /** decimal.handling.mode=string: plain decimal string at the given
    * scale. Sign is rendered explicitly from the unscaled value (the
    * integer-division-plus-pmod form silently dropped the '-' for
    * decimals in (-1, 0): -50 at scale 2 rendered "0.50").
    */
  def decimalString(unscaled: Column, scale: Int): Column =
    if (scale == 0) unscaled.cast("long").cast("string")
    else {
      val pow = math.pow(10, scale).toLong
      val u = unscaled.cast("long")
      val a = abs(u)
      concat(when(u < 0, lit("-")).otherwise(lit("")),
        (a / pow).cast("long").cast("string"), lit("."),
        lpad(pmod(a, lit(pow)).cast("string"), scale, "0"))
    }

  /** decimal.handling.mode=double. */
  def decimalDouble(unscaled: Column, scale: Int): Column =
    unscaled.cast("double") / math.pow(10, scale)

  /** NTZ-tolerant instant: parquet timestamps may read as TIMESTAMP_NTZ;
    * with the engine's fixed UTC session the wall clock IS the instant
    * (the reference hardwires UTC, `InformixValueConverters.java:50-52`).
    */
  private def asTs(ts: Column): Column = ts.cast("timestamp")

  /** DATE -> epoch days (io.debezium.time.Date, INT32). */
  def epochDay(ts: Column): Column = datediff(to_date(asTs(ts)), lit("1970-01-01"))

  /** DATETIME HOUR TO SECOND -> Time: ms of day at seconds precision. */
  def timeMillis(ts: Column): Column =
    pmod(unix_micros(asTs(ts)) / 1000000L, lit(86400L)).cast("long") * 1000L

  /** Same in adaptive_time_microseconds mode -> MicroTime (us of day,
    * still seconds precision for HOUR TO SECOND).
    */
  def timeMicros(ts: Column): Column = timeMillis(ts) * 1000L

  /** DATETIME YEAR TO SECOND -> Timestamp: epoch ms at seconds precision. */
  def tsSecondsAsMillis(ts: Column): Column =
    (unix_micros(asTs(ts)) / 1000000L).cast("long") * 1000L

  /** DATETIME YEAR TO FRACTION(3) -> Timestamp: epoch ms. */
  def tsMillis(ts: Column): Column = unix_millis(asTs(ts))

  /** DATETIME YEAR TO FRACTION(5) -> MicroTimestamp: epoch us at 10-us
    * resolution (5 fraction digits).
    */
  def tsMicrosF5(ts: Column): Column = (unix_micros(asTs(ts)) / 10L).cast("long") * 10L

  /** CHAR(n)/NCHAR(n): blank-padded to the declared length. */
  def charPadded(c: Column, length: Int): Column = rpad(c, length, " ")

  /** BOOLEAN from Informix literal ('t'/'f', else Java parseBoolean). */
  def parseBool(c: Column): Column =
    when(trim(c) === "t", lit(true))
      .when(trim(c) === "f", lit(false))
      .otherwise(lower(trim(c)) === "true")

  /** binary.handling.mode — how binary columns surface on the emitted
    * record (the reference threads Debezium's `BinaryHandlingMode`
    * through its converters, `InformixValueConverters.java:50`):
    * `bytes` (raw), `base64`, `base64-url-safe` (RFC 4648 §5 alphabet,
    * padding kept — java.util.Base64.getUrlEncoder parity), or `hex`
    * (LOWERCASE, as Debezium emits it; Spark's hex() is uppercase).
    */
  def binaryAs(c: Column, mode: String): Column = mode match {
    case "bytes" => c
    // Spark's base64() is MIME-chunked (a \r\n every 76 chars) — the
    // reference emits java.util.Base64's unchunked form; translate
    // deletes the line breaks (none of \r\n is in the b64 alphabet)
    case "base64" => translate(base64(c), "\r\n", "")
    case "base64-url-safe" => translate(base64(c), "+/\r\n", "-_")
    case "hex" => lower(hex(c))
    case other => throw new IllegalArgumentException(
      s"unknown binary.handling.mode '$other' (bytes|base64|base64-url-safe|hex)")
  }

  // ---- default-value parsing (driver-side, like the reference's
  //      schema machinery — defaults are metadata, not row data) ----

  /** A parsed column default. Mirrors
    * `InformixDefaultValueConverter.parseDefaultValue`: None = no
    * representable default (unparseable, or optional temporal function).
    */
  def parseDefault(typeName: String, length: Int, scale: Option[Int],
      optional: Boolean, raw: String): Option[Any] = {
    if (raw == null) return None
    val v = raw.trim
    if (v.equalsIgnoreCase("NULL")) return None
    val t = typeName.trim.toUpperCase.split("[\\s(]")(0)
    try {
      t match {
        case "BOOLEAN" =>
          Some(if (v == "t") true else if (v == "f") false else v.toBoolean)
        case "SMALLINT" => Some(v.toShort)
        case "INT" | "INTEGER" | "SERIAL" => Some(v.toInt)
        case "INT8" | "BIGINT" | "BIGSERIAL" | "SERIAL8" => Some(v.toLong)
        case "SMALLFLOAT" | "REAL" => Some(v.replace(',', '.').toFloat)
        case "FLOAT" | "DOUBLE" => Some(v.replace(',', '.').toDouble)
        case "DECIMAL" | "NUMERIC" | "MONEY" =>
          val d = new java.math.BigDecimal(v.replace(',', '.'))
          Some(scale match {
            case Some(s) if s != FloatingPointDecimalScale => d.setScale(s)
            case _ => d.stripTrailingZeros()
          })
        case "DATE" | "DATETIME" => parseTemporalDefault(typeName, optional, v)
        case "CHAR" | "NCHAR" =>
          Some(unquote(v).padTo(length, ' ').mkString)
        case "VARCHAR" | "NVARCHAR" | "LVARCHAR" | "CLOB" | "TEXT" =>
          Some(unquote(v))
        case _ => None
      }
    } catch { case scala.util.control.NonFatal(_) => None }
  }

  /** TODAY/CURRENT/SYSDATE handling
    * (`InformixDefaultValueConverter.java:169-213`): optional columns
    * get no default; non-optional get the epoch date/timestamp, with
    * CURRENT's fraction digits taken from the type expression.
    */
  private def parseTemporalDefault(typeExpr: String, optional: Boolean, v: String): Option[Any] = {
    if (v.equalsIgnoreCase("TODAY")) {
      if (optional) None else Some(java.time.LocalDate.of(1970, 1, 1))
    } else if (v.equalsIgnoreCase("CURRENT") || v.equalsIgnoreCase("SYSDATE")) {
      // the fraction digits (currentDefaultScale) only affect the textual
      // form "1970-01-01 00:00:00[.000...]" — the instant is epoch
      if (optional) None else Some(java.time.LocalDateTime.of(1970, 1, 1, 0, 0, 0))
    } else {
      // literal date/datetime string
      scala.util.Try(java.time.LocalDate.parse(unquote(v))).toOption
        .orElse(scala.util.Try(
          java.time.LocalDateTime.parse(unquote(v).replace(' ', 'T'))).toOption)
    }
  }

  /** CURRENT/SYSDATE fraction digits from the DATETIME type expression
    * (`InformixDefaultValueConverter.java:176-188`): "DATETIME YEAR TO
    * FRACTION(5)" -> 5, "... TO FRACTION" -> 3, "... TO SECOND" -> 0,
    * "DATETIME (3)" -> 3; non-DATETIME -> 0.
    */
  def currentDefaultScale(typeExpr: String): Int = {
    val parts = typeExpr.trim.split("[\\s()]").filter(_.nonEmpty)
    if (parts.isEmpty || !parts(0).equalsIgnoreCase("DATETIME")) 0
    else parts.length match {
      case 5 => parts(4).toInt
      case 4 => if (parts(3).equalsIgnoreCase("FRACTION")) 3 else 0
      case 2 => parts(1).toInt
      case _ => 3
    }
  }

  /** String default unquoting (`InformixDefaultValueConverter.java:223-231`). */
  def unquote(value: String): String =
    if (value.startsWith("('") && value.endsWith("')")) value.substring(2, value.length - 2)
    else if (value.startsWith("'") && value.endsWith("'")) value.substring(1, value.length - 1)
    else value

  /** F8 — identifier quoting (`InformixIdentifierQuoter.java:11-22`):
    * quote iff the identifier is not all lower-case/digit/underscore/$
    * and is not already quoted.
    */
  def quoteIfNecessary(identifier: String): String = {
    val unquoted = identifier.forall(ch =>
      ch.isDigit || ch == '_' || ch == '$' || (ch.isLetter && ch.isLower))
    if (!unquoted && !(identifier.startsWith("\"") && identifier.endsWith("\"")))
      "\"" + identifier + "\""
    else identifier
  }

  /** Column form of [[quoteIfNecessary]] for ASCII identifiers (the
    * reference's DELIMIDENT rule on the emission surface, applied as a
    * codegen'd projection — no UDF). ValueConvSpec pins agreement with
    * the Scala form over the generated identifier corpus; the class
    * `[a-z0-9_$]` matches the Scala predicate exactly on ASCII (the
    * testdata's identifier universe — the reference's own quoter is
    * likewise charwise).
    */
  def quoteIfNecessaryCol(ident: org.apache.spark.sql.Column): org.apache.spark.sql.Column = {
    import org.apache.spark.sql.functions._
    val unquoted = ident.rlike("^[a-z0-9_$]*$")
    val already = ident.startsWith("\"") && ident.endsWith("\"")
    when(!unquoted && !already, concat(lit("\""), ident, lit("\"")))
      .otherwise(ident)
  }

  /** The observable F5 matrix over the `events` table: every conversion
    * mode exercised on deterministically derived inputs. The unscaled
    * integer basis (`cents` = round(value*100)) makes every decimal mode
    * bit-portable to the SQL oracle.
    */
  def typeMatrix(events: DataFrame): DataFrame = {
    val cents = round(col("value") * 100).cast("long")
    val u6 = round(col("value") * 1000000).cast("long")
    events.where(col("event_id") < 500).select(
      col("event_id"),
      // integer family
      (col("event_id") % 30000).cast("short").as("i16"),
      col("event_id").cast("int").as("i32"),
      col("user_id").cast("long").as("i64"),
      // floating point family
      col("value").cast("float").as("f32"),
      col("value").cast("double").as("f64"),
      // decimal(16,6) PRECISE (unscaled, scale) — flattened to scalar
      // columns: the harness's pandas compare cannot sort struct cells
      decimalUnscaled(u6, 6).getField("unscaled").as("dec_precise_unscaled"),
      decimalUnscaled(u6, 6).getField("scale").as("dec_precise_scale"),
      // floating-point decimal (scale 255) PRECISE: VariableScaleDecimal
      variableScaleDecimal(cents, 2).getField("scale").as("dec_vs_scale"),
      variableScaleDecimal(cents, 2).getField("value").as("dec_vs_value"),
      // decimal.handling.mode = string / double
      decimalString(cents, 2).as("dec_string"),
      decimalDouble(cents, 2).as("dec_double"),
      // temporal family (UTC)
      epochDay(col("ts")).cast("long").as("t_epoch_day"),
      timeMillis(col("ts")).as("t_time_ms"),
      timeMicros(col("ts")).as("t_time_us"),
      tsSecondsAsMillis(col("ts")).as("t_ts_s_ms"),
      tsMillis(col("ts")).as("t_ts_ms"),
      tsMicrosF5(col("ts")).as("t_ts_us5"),
      // strings
      charPadded(col("event_type"), 10).as("s_char_pad"),
      // boolean literal parse
      parseBool(when(col("event_type") === "signup", "t").otherwise("f")).as("b_bool")
    ).orderBy(col("event_id"))
  }
}
