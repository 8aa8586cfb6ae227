package graft

import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

/** Math-pack semantics ported from the reference's sqllogictest corpus
  * (datafusion-pg-functions/tests/sqllogictest/math.slt): NULL
  * propagation everywhere, NULL (not error) on zero divisors, exact
  * values at special angles, erf/gamma family behavior.
  */
class MathFunctionsSpec extends SparkSpec with BeforeAndAfterAll {

  override def beforeAll(): Unit = {
    super.beforeAll()
    graft.pgwire.PgFunctions.registerAll(spark)
  }

  private def d(sql: String): Option[Double] = {
    val r = spark.sql(s"SELECT $sql").collect().head
    if (r.isNullAt(0)) None else Some(r.getDouble(0))
  }
  private def l(sql: String): Option[Long] = {
    val r = spark.sql(s"SELECT $sql").collect().head
    if (r.isNullAt(0)) None else Some(r.getLong(0))
  }

  test("ceiling/sign are the builtin aliases (math.slt §ceiling/§sign)") {
    // Spark's ceiling(double) returns BIGINT (pg returns double); the
    // VALUE matches — cast for comparison
    assert(d("CAST(ceiling(2.4D) AS DOUBLE)") === Some(3.0))
    assert(d("CAST(ceiling(-2.4D) AS DOUBLE)") === Some(-2.0))
    assert(d("CAST(ceiling(CAST(NULL AS DOUBLE)) AS DOUBLE)") === None)
    assert(d("CAST(sign(-7) AS DOUBLE)") === Some(-1.0))
    assert(d("CAST(sign(0) AS DOUBLE)") === Some(0.0))
  }

  test("pg_mod: sign of dividend, NULL on zero divisor (math.slt §mod)") {
    assert(l("pg_mod(7L, 3L)") === Some(1L))
    assert(l("pg_mod(-7L, 3L)") === Some(-1L))
    assert(l("pg_mod(7L, -3L)") === Some(1L))
    assert(l("pg_mod(5L, 0L)") === None) // pg errors; documented NULL deviation
    assert(l("pg_mod(CAST(NULL AS BIGINT), 3L)") === None)
  }

  test("div truncates toward zero, NULL on zero (math.slt §div)") {
    assert(d("CAST(div(CAST(7 AS DECIMAL(10,2)), CAST(2 AS DECIMAL(10,2))) AS DOUBLE)") === Some(3.0))
    assert(d("CAST(div(CAST(-7 AS DECIMAL(10,2)), CAST(2 AS DECIMAL(10,2))) AS DOUBLE)") === Some(-3.0))
    assert(d("CAST(div(CAST(7 AS DECIMAL(10,2)), CAST(0 AS DECIMAL(10,2))) AS DOUBLE)") === None)
  }

  test("trunc with a NON-foldable scale column keeps the decimal value intact") {
    // declared type is DecimalType(38,18) when the scale is a column;
    // the runtime truncation must agree with it (42.43, not 4243)
    val rows = spark.sql(
      "SELECT pg_trunc(CAST(42.4382 AS DECIMAL(10,4)), s) AS t " +
        "FROM VALUES (2), (0), (-1) AS v(s)").collect()
    assert(rows(0).getDecimal(0).compareTo(new java.math.BigDecimal("42.43")) === 0)
    assert(rows(1).getDecimal(0).compareTo(new java.math.BigDecimal("42")) === 0)
    assert(rows(2).getDecimal(0).compareTo(new java.math.BigDecimal("40")) === 0)
    // foldable scale still declares the tight pg scale
    val f = spark.sql("SELECT pg_trunc(CAST(42.4382 AS DECIMAL(10,4)), 2)")
    assert(f.schema.fields(0).dataType ===
      org.apache.spark.sql.types.DecimalType(38, 2))
    assert(f.collect()(0).getDecimal(0).toPlainString === "42.43")
  }

  test("degree trig is exact at the special angles (math.slt §trig)") {
    assert(d("sind(30.0D)") === Some(0.5))
    assert(d("sind(90.0D)") === Some(1.0))
    assert(d("sind(150.0D)") === Some(0.5))
    assert(d("sind(270.0D)") === Some(-1.0))
    assert(d("cosd(60.0D)") === Some(0.5))
    assert(d("cosd(180.0D)") === Some(-1.0))
    assert(d("tand(45.0D)") === Some(1.0))
    assert(d("tand(135.0D)") === Some(-1.0))
    assert(d("tand(90.0D)") === Some(Double.PositiveInfinity))
    assert(d("cotd(45.0D)") === Some(1.0))
    assert(d("asind(0.5D)") === Some(30.0))
    assert(d("acosd(-1.0D)") === Some(180.0))
    assert(d("atand(1.0D)") === Some(45.0))
    assert(math.abs(d("atan2d(1.0D, 1.0D)").get - 45.0) < 1e-9)
    assert(d("sind(CAST(NULL AS DOUBLE))") === None)
    assert(d("sind(45.0D)").exists(v => math.abs(v - math.sin(math.toRadians(45))) < 1e-15))
  }

  test("erf/erfc/gamma/lgamma special values (math.slt §special)") {
    assert(d("erf(0.0D)") === Some(0.0))
    assert(d("erfc(0.0D)") === Some(1.0))
    assert(math.abs(d("erf(1.0D)").get - 0.8427007929497149) < 1e-12)
    assert(d("lgamma(1.0D)") === Some(0.0))
    assert(math.abs(d("gamma(5.0D)").get - 24.0) < 1e-9)
    assert(d("erf(CAST(NULL AS DOUBLE))") === None)
  }

  test("width_bucket 4-arg builtin (math.slt §width_bucket)") {
    assert(l("width_bucket(5.35D, 0.024D, 10.06D, 5L)") === Some(3L))
    assert(l("width_bucket(-1.0D, 0.024D, 10.06D, 5L)") === Some(0L))
    assert(l("width_bucket(11.0D, 0.024D, 10.06D, 5L)") === Some(6L))
  }

  test("width_bucket 2-arg thresholds form (reference width_bucket.rs §thresholds)") {
    // reference tests: 25 >= [10,20] -> 2; 5 >= none -> 0; 30 >= all -> 3
    def wb(e: String) = spark.sql(s"SELECT $e").collect().head match {
      case r if r.isNullAt(0) => None
      case r => Some(r.getInt(0))
    }
    assert(wb("pg_width_bucket(25.0D, array(10.0D, 20.0D, 30.0D))") === Some(2))
    assert(wb("pg_width_bucket(5.0D, array(10.0D, 20.0D, 30.0D))") === Some(0))
    assert(wb("pg_width_bucket(30.0D, array(10.0D, 20.0D, 30.0D))") === Some(3))
    assert(wb("pg_width_bucket(CAST(NULL AS DOUBLE), array(10.0D))") === None)
    assert(wb("pg_width_bucket(CAST('NaN' AS DOUBLE), array(10.0D))") === Some(0))
    // NULL thresholds are never counted (reference maps them to NaN)
    assert(wb("pg_width_bucket(25.0D, array(10.0D, CAST(NULL AS DOUBLE), 20.0D))") === Some(2))
  }

  test("random_normal is registered and nondeterministic-safe") {
    val vals = spark.sql(
      "SELECT random_normal(0.0D, 1.0D) FROM range(100)").collect().map(_.getDouble(0))
    assert(vals.distinct.length > 90) // draws vary
    assert(vals.forall(v => math.abs(v) < 10)) // sane gaussian range
  }
}
