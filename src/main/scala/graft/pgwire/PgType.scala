package graft.pgwire

import org.apache.spark.sql.types._

/** Spark Catalyst type → PostgreSQL type OID mapping: the wire contract
  * from SURVEY.md §1, mirroring the reference's Arrow→pg map
  * (reference: arrow-pg/src/datatypes.rs:23-125). Spark has no unsigned
  * types, so the UInt rows collapse; everything else is 1:1.
  *
  * OID-alias metadata: an IntegerType/LongType field carrying
  * `pg.oid_alias` StructField metadata reports the pg alias OID
  * (regclass/regtype/…) instead of int4/int8 — the reference does the
  * same via Arrow field metadata (arrow-pg/src/datatypes.rs:137-162).
  */
object PgType {
  // scalar OIDs (fixed PostgreSQL catalog values)
  val UNKNOWN = 705
  val BOOL = 16
  val BYTEA = 17
  val NAME = 19
  val INT8 = 20
  val INT2 = 21
  val INT4 = 23
  val TEXT = 25
  val OID = 26
  val JSON = 114
  val FLOAT4 = 700
  val FLOAT8 = 701
  val VARCHAR = 1043
  val DATE = 1082
  val TIME = 1083
  val TIMESTAMP = 1114
  val TIMESTAMPTZ = 1184
  val INTERVAL = 1186
  val NUMERIC = 1700
  val RECORD = 2249
  /** PostGIS-style extension type: the OID is per-installation in real
    * pg (extension types allocate from the user counter), so clients
    * always look it up from pg_type by name; 30001 is graft's pinned
    * value (above the dynamic 16384+ table counter, below the 90000+
    * proc block). SURVEY §2a#9; reference feature-gates the same
    * surface (arrow-pg/src/geo_encoder.rs).
    */
  val GEOMETRY = 30001
  val GEOMETRY_ARRAY = 30002

  // array OIDs
  val BOOL_ARRAY = 1000
  val BYTEA_ARRAY = 1001
  val INT2_ARRAY = 1005
  val INT4_ARRAY = 1007
  val TEXT_ARRAY = 1009
  val VARCHAR_ARRAY = 1015
  val INT8_ARRAY = 1016
  val FLOAT4_ARRAY = 1021
  val FLOAT8_ARRAY = 1022
  val TIMESTAMP_ARRAY = 1115
  val DATE_ARRAY = 1182
  val TIME_ARRAY = 1183
  val TIMESTAMPTZ_ARRAY = 1185
  val INTERVAL_ARRAY = 1187
  val NUMERIC_ARRAY = 1231
  val RECORD_ARRAY = 2287

  // oid alias types (reference: datafusion-pg-catalog/src/pg_catalog/oid_field.rs:55-68)
  val aliasOids: Map[String, Int] = Map(
    "oid" -> 26, "regclass" -> 2205, "regtype" -> 2206, "regproc" -> 24,
    "regprocedure" -> 2202, "regoper" -> 2203, "regoperator" -> 2204,
    "regrole" -> 4096, "regnamespace" -> 4089, "regconfig" -> 3734,
    "regdictionary" -> 3769, "regcollation" -> 4191,
    // range types (pg §8.17) — StringType columns carrying canonical
    // range text, tagged by Handlers.tagPgOutputs
    "int4range" -> 3904, "numrange" -> 3906, "tsrange" -> 3908,
    "tstzrange" -> 3910, "daterange" -> 3912, "int8range" -> 3926,
    // text-search types (pg ch. 12), same canonical-text model
    "tsvector" -> 3614, "tsquery" -> 3615,
    // network types (pg §8.9), canonical-text model
    "inet" -> 869, "cidr" -> 650, "macaddr" -> 829, "macaddr8" -> 774,
    // bit strings (pg §8.10.1), pattern-text model
    "bit" -> 1560, "varbit" -> 1562,
    // xml (pg §8.13), verbatim-text model
    "xml" -> 142,
    // money (pg §8.2), rendered-text model
    "money" -> 790, "numeric" -> 1700,
    // string-stored scalar types created by pg-dialect DDL
    "json" -> 114, "jsonb" -> 3802, "uuid" -> 2950)

  val OID_ALIAS_KEY = "pg.oid_alias"

  /** Spark has no TIME type (SURVEY §1): a LongType column tagged with
    * this metadata key = "time" carries nanos-since-midnight and is
    * reported/encoded as pg TIME (OID 1083).
    */
  val PG_TYPE_KEY = "pg.type"

  /** True when the field is the nanos-since-midnight TIME encoding. */
  def isTimeField(f: StructField): Boolean =
    f.dataType == LongType && f.metadata.contains(PG_TYPE_KEY) &&
      f.metadata.getString(PG_TYPE_KEY) == "time"

  /** True when the field is the EWKB-bytes GEOMETRY encoding
    * (BinaryType + pg.type=geometry — SURVEY §1; the text form is hex
    * EWKB exactly like PostGIS's geometry output function).
    */
  def isGeometryField(f: StructField): Boolean =
    f.dataType == BinaryType && f.metadata.contains(PG_TYPE_KEY) &&
      f.metadata.getString(PG_TYPE_KEY) == "geometry"

  /** pg `time` input parser → nanos-since-midnight (SURVEY §1 TIME
    * encoding; behavior pinned against live PostgreSQL 15: colon and
    * compact (HHMM/HHMMSS[.f]) forms, AM/PM, a trailing numeric zone
    * offset dropped, `24:00:00` allowed, fraction rounded to micros).
    * A ≥9-digit all-digit string is treated as an already-encoded
    * nanos value — the round-trip path when a time COLUMN is cast
    * back to time (binary params arrive zero-padded to 15 digits for
    * exactly this reason). Errors use pg's SQLSTATEs: 22007 invalid
    * input syntax, 22008 field value out of range.
    */
  def timeInputNanos(raw: String): Long = {
    def badSyntax() = throw PgException("22007",
      s"""invalid input syntax for type time: "$raw"""")
    def outOfRange() = throw PgException("22008",
      s"""date/time field value out of range: "$raw"""")
    val s0 = raw.trim
    if (s0.length >= 9 && s0.forall(_.isDigit)) return s0.toLong
    // timestamp text → time-of-day (string-cast path of timestamp::time)
    var s = "^\\d{4}-\\d{2}-\\d{2}[ T](.+)$".r.findFirstMatchIn(s0)
      .map(_.group(1)).getOrElse(s0)
    val lower = s.toLowerCase
    var meridian = 0 // 0 none, 1 am, 2 pm
    Seq(("p.m.", 2), ("a.m.", 1), ("pm", 2), ("am", 1))
      .find { case (suf, _) => lower.endsWith(suf) } match {
      case Some((suf, m)) =>
        meridian = m; s = s.dropRight(suf.length).trim
      case None =>
    }
    // drop a trailing numeric zone offset: +05, -08:30, +0530
    s = s.replaceAll("[+-]\\d{1,2}(:?\\d{2}(:?\\d{2})?)?$", "").trim
    val colon = "^(\\d{1,2}):(\\d{1,2})(?::(\\d{1,2})(\\.\\d+)?)?$".r
    val compact = "^(\\d{2})(\\d{2})(?:(\\d{2})(\\.\\d+)?)?$".r
    val (h, mi, se, frac) = s match {
      case colon(hh, mm, ss, ff) =>
        (hh.toInt, mm.toInt, Option(ss).map(_.toInt).getOrElse(0), Option(ff))
      case compact(hh, mm, ss, ff) =>
        (hh.toInt, mm.toInt, Option(ss).map(_.toInt).getOrElse(0), Option(ff))
      case _ => badSyntax()
    }
    if (mi > 59 || se > 59) outOfRange()
    val hour = meridian match {
      case 0 => h
      case _ if h > 12 || h < 1 => outOfRange()
      case 1 => if (h == 12) 0 else h
      case 2 => if (h == 12) 12 else h + 12
    }
    // fraction rounds to microseconds (pg keeps micro precision)
    val fracNanos = frac.map { f =>
      new java.math.BigDecimal(f).movePointRight(6)
        .setScale(0, java.math.RoundingMode.HALF_UP).longValueExact * 1000L
    }.getOrElse(0L)
    val nanos = (hour * 3600L + mi * 60L + se) * 1000000000L + fracNanos
    if (nanos > 86400L * 1000000000L) outOfRange()
    nanos
  }

  /** pg OID for a Spark type (element position of an array handled
    * recursively; `ARRAY[NULL]`-style NullType elements report text[]
    * like the reference, datatypes.rs:58).
    */
  def oidOf(dt: DataType): Int = dt match {
    case NullType => UNKNOWN
    case BooleanType => BOOL
    case ByteType | ShortType => INT2
    case IntegerType => INT4
    case LongType => INT8
    case FloatType => FLOAT4
    case DoubleType => FLOAT8
    case _: DecimalType => NUMERIC
    case StringType => TEXT
    case _: CharType | _: VarcharType => VARCHAR
    case BinaryType => BYTEA
    case DateType => DATE
    case TimestampNTZType => TIMESTAMP
    case TimestampType => TIMESTAMPTZ
    case _: DayTimeIntervalType | _: YearMonthIntervalType | CalendarIntervalType => INTERVAL
    case ArrayType(el, _) => arrayOidOf(el)
    case _: StructType => RECORD
    case _: MapType => TEXT // no pg map type; text-encoded
    case other => throw new IllegalArgumentException(s"Unsupported Spark type $other")
  }

  private def arrayOidOf(el: DataType): Int = el match {
    case NullType => TEXT_ARRAY
    case BooleanType => BOOL_ARRAY
    case ByteType | ShortType => INT2_ARRAY
    case IntegerType => INT4_ARRAY
    case LongType => INT8_ARRAY
    case FloatType => FLOAT4_ARRAY
    case DoubleType => FLOAT8_ARRAY
    case _: DecimalType => NUMERIC_ARRAY
    case StringType => TEXT_ARRAY
    case _: CharType | _: VarcharType => VARCHAR_ARRAY
    case BinaryType => BYTEA_ARRAY
    case DateType => DATE_ARRAY
    case TimestampNTZType => TIMESTAMP_ARRAY
    case TimestampType => TIMESTAMPTZ_ARRAY
    case _: DayTimeIntervalType | _: YearMonthIntervalType | CalendarIntervalType => INTERVAL_ARRAY
    case _: StructType => RECORD_ARRAY
    case ArrayType(inner, _) => arrayOidOf(inner) // pg arrays are flat; nested share the oid
    case other => throw new IllegalArgumentException(s"Unsupported array element $other")
  }

  /** Direct numeric OID metadata (dynamic types: user enums). */
  val OID_NUM_KEY = "pg.oid_num"

  /** OID for a field, honoring pg.oid_alias / pg.oid_num / pg.type
    * metadata. */
  def oidOf(f: StructField): Int =
    if (isTimeField(f)) TIME
    else if (isGeometryField(f)) GEOMETRY
    else if (f.metadata.contains(OID_NUM_KEY))
      f.metadata.getLong(OID_NUM_KEY).toInt
    else if (f.metadata.contains(OID_ALIAS_KEY))
      aliasOids.getOrElse(f.metadata.getString(OID_ALIAS_KEY), oidOf(f.dataType))
    else oidOf(f.dataType)

  /** Fixed wire sizes per OID; -1 = variable. */
  def typlen(oid: Int): Int = oid match {
    case BOOL => 1
    case INT2 => 2
    case INT4 | FLOAT4 | DATE | OID | 2205 | 2206 | 24 => 4
    case INT8 | FLOAT8 | TIME | TIMESTAMP | TIMESTAMPTZ => 8
    case INTERVAL => 16
    case _ => -1
  }

  /** One RowDescription column: (name, oid, typlen). */
  final case class FieldDesc(name: String, oid: Int, len: Int, format: Short = 0)

  /** StructType → RowDescription field list
    * (reference: arrow-pg/src/datatypes.rs:164-231).
    */
  def rowDescription(schema: StructType, formats: Int => Short = _ => 0): Seq[FieldDesc] =
    schema.fields.zipWithIndex.toSeq.map { case (f, i) =>
      val oid = oidOf(f)
      FieldDesc(f.name, oid, typlen(oid), formats(i))
    }
}
