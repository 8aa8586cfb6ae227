package graft.functions

import org.apache.spark.sql.SparkSession

import Geo._

/** The ST_* UDF pack over EWKB `BinaryType` geometry values — the
  * query-side half of the geo surface (wire-side: TextEncoder /
  * BinaryEncoder render a `pg.type=geometry` column as hex EWKB /
  * raw EWKB, the same output surface the reference's feature-gated
  * geo encoder produces, arrow-pg/src/geo_encoder.rs:92-162).
  *
  * Scalar UDFs (not codegen expressions) are the right tool here:
  * geometry construction/measure is a per-value pure computation with
  * no Spark builtin to compose from, values are small byte arrays,
  * and the family is not on the 100 TB hot path (SURVEY declares geo
  * optional; the reference feature-gates it). Every function is a
  * pure `Array[Byte] => _` map-side operation — embarrassingly
  * parallel at any scale, no shuffle implications.
  */
object GeoFunctions {

  private val installed =
    java.util.Collections.synchronizedMap(
      new java.util.WeakHashMap[SparkSession, java.lang.Boolean]())

  private def g(b: Array[Byte]): Geom = fromEwkb(b)

  def registerAll(spark: SparkSession): Unit = {
    if (installed.put(spark, java.lang.Boolean.TRUE) != null) return
    val u = spark.udf

    // ---- constructors / IO ------------------------------------------------
    u.register("st_geomfromtext", (s: String) =>
      if (s == null) null else toEwkb(parseWkt(s)))
    u.register("st_geometryfromtext", (s: String) =>
      if (s == null) null else toEwkb(parseWkt(s)))
    u.register("st_geomfromewkt", (s: String) =>
      if (s == null) null else toEwkb(parseWkt(s)))
    // pg geometry input: WKT, EWKT, or hex [E]WKB (the `::geometry` cast)
    u.register("st_geometry_in", (s: String) =>
      if (s == null) null else toEwkb(parseAny(s)))
    u.register("st_geomfromwkb", (b: Array[Byte]) =>
      if (b == null) null else toEwkb(fromEwkb(b)))
    // 2-arg (value, srid) call shapes — PgNames routes the pg
    // spellings here (Spark's registry has no overloads)
    u.register("st_geomfromtext2", (s: String, srid: java.lang.Integer) =>
      if (s == null || srid == null) null else toEwkb(parseWkt(s).withSrid(srid)))
    u.register("st_geomfromwkb2", (b: Array[Byte], srid: java.lang.Integer) =>
      if (b == null || srid == null) null else toEwkb(fromEwkb(b).withSrid(srid)))
    u.register("st_geomfromewkb", (b: Array[Byte]) =>
      if (b == null) null else toEwkb(fromEwkb(b)))
    u.register("st_makepoint", (x: java.lang.Double, y: java.lang.Double) =>
      if (x == null || y == null) null else toEwkb(GPoint(Some((x, y)))))
    u.register("st_point", (x: java.lang.Double, y: java.lang.Double) =>
      if (x == null || y == null) null else toEwkb(GPoint(Some((x, y)))))
    u.register("st_makeline", (a: Array[Byte], b: Array[Byte]) =>
      if (a == null || b == null) null
      else {
        def pts(x: Geom): IndexedSeq[(Double, Double)] = x match {
          case GPoint(c, _) => c.toVector
          case GLineString(p, _) => p
          case other => fail(s"st_makeline: unsupported ${typeName(other)}")
        }
        val ga = g(a)
        toEwkb(GLineString(pts(ga) ++ pts(g(b)), ga.srid))
      })
    u.register("st_makeenvelope",
      (x1: java.lang.Double, y1: java.lang.Double,
       x2: java.lang.Double, y2: java.lang.Double, srid: java.lang.Integer) =>
        if (x1 == null || y1 == null || x2 == null || y2 == null) null
        else toEwkb(GPolygon(Vector(Vector(
          (x1.doubleValue, y1.doubleValue), (x2.doubleValue, y1.doubleValue),
          (x2.doubleValue, y2.doubleValue), (x1.doubleValue, y2.doubleValue),
          (x1.doubleValue, y1.doubleValue))),
          if (srid == null) 0 else srid.intValue)))

    // ---- output -----------------------------------------------------------
    u.register("st_astext", (b: Array[Byte]) =>
      if (b == null) null else renderWkt(g(b)))
    u.register("st_asewkt", (b: Array[Byte]) =>
      if (b == null) null else renderEwkt(g(b)))
    u.register("st_asbinary", (b: Array[Byte]) =>
      if (b == null) null else toWkb(g(b)))
    u.register("st_asewkb", (b: Array[Byte]) =>
      if (b == null) null else toEwkb(g(b)))
    u.register("st_ashexewkb", (b: Array[Byte]) =>
      if (b == null) null else bytesToHex(toEwkb(g(b))))

    // ---- accessors ---------------------------------------------------------
    u.register("st_srid", (b: Array[Byte]) =>
      if (b == null) null else Int.box(g(b).srid))
    u.register("st_setsrid", (b: Array[Byte], srid: java.lang.Integer) =>
      if (b == null || srid == null) null else toEwkb(g(b).withSrid(srid)))
    u.register("st_x", (b: Array[Byte]) =>
      if (b == null) null
      else g(b) match {
        case GPoint(c, _) => c.map(p => Double.box(p._1)).orNull
        case other => fail(s"st_x: argument is ${typeName(other)}, not Point")
      })
    u.register("st_y", (b: Array[Byte]) =>
      if (b == null) null
      else g(b) match {
        case GPoint(c, _) => c.map(p => Double.box(p._2)).orNull
        case other => fail(s"st_y: argument is ${typeName(other)}, not Point")
      })
    u.register("st_xmin", (b: Array[Byte]) =>
      if (b == null) null else envelopeBox(g(b)).map(e => Double.box(e._1)).orNull)
    u.register("st_ymin", (b: Array[Byte]) =>
      if (b == null) null else envelopeBox(g(b)).map(e => Double.box(e._2)).orNull)
    u.register("st_xmax", (b: Array[Byte]) =>
      if (b == null) null else envelopeBox(g(b)).map(e => Double.box(e._3)).orNull)
    u.register("st_ymax", (b: Array[Byte]) =>
      if (b == null) null else envelopeBox(g(b)).map(e => Double.box(e._4)).orNull)
    u.register("st_npoints", (b: Array[Byte]) =>
      if (b == null) null else Int.box(nPoints(g(b))))
    u.register("st_geometrytype", (b: Array[Byte]) =>
      if (b == null) null else "ST_" + typeName(g(b)))
    u.register("geometrytype", (b: Array[Byte]) =>
      if (b == null) null else typeName(g(b)).toUpperCase)
    u.register("st_isempty", (b: Array[Byte]) =>
      if (b == null) null else Boolean.box(g(b).isEmpty))

    // ---- measures / predicates --------------------------------------------
    u.register("st_length", (b: Array[Byte]) =>
      if (b == null) null else Double.box(length(g(b))))
    u.register("st_perimeter", (b: Array[Byte]) =>
      if (b == null) null else Double.box(perimeter(g(b))))
    u.register("st_area", (b: Array[Byte]) =>
      if (b == null) null else Double.box(area(g(b))))
    u.register("st_distance", (a: Array[Byte], b: Array[Byte]) =>
      if (a == null || b == null) null else Double.box(distance(g(a), g(b))))
    u.register("st_dwithin", (a: Array[Byte], b: Array[Byte], d: java.lang.Double) =>
      if (a == null || b == null || d == null) null
      else Boolean.box(distance(g(a), g(b)) <= d.doubleValue))
    u.register("st_intersects", (a: Array[Byte], b: Array[Byte]) =>
      if (a == null || b == null) null else Boolean.box(intersects(g(a), g(b))))
    u.register("st_contains", (a: Array[Byte], b: Array[Byte]) =>
      if (a == null || b == null) null else Boolean.box(contains(g(a), g(b))))
    u.register("st_within", (a: Array[Byte], b: Array[Byte]) =>
      if (a == null || b == null) null else Boolean.box(contains(g(b), g(a))))
    u.register("st_centroid", (b: Array[Byte]) =>
      if (b == null) null else toEwkb(centroid(g(b))))
    u.register("st_envelope", (b: Array[Byte]) =>
      if (b == null) null else toEwkb(envelope(g(b))))
  }
}
