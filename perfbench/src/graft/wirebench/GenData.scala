package graft.wirebench

import org.apache.spark.sql.SparkSession

/** Deterministic TPC-H-shaped tables at the sf0.1 sizes and schemas the
  * server is benchmarked on (lineitem 600k rows, orders 150k, customer
  * 15k, part 20k, supplier 1k, nation 25, region 5), one single-file
  * parquet table each. Values come from Murmur3 `hash` of the row id,
  * so every generation yields the same rows.
  *
  * usage: GenData <out dir>
  */
object GenData {
  def main(args: Array[String]): Unit = {
    val out = args(0)
    val spark = SparkSession.builder().appName("wirebench-gen").master("local[2]")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    def h(salt: Int, mod: Int): String = s"pmod(hash(id, $salt), $mod)"
    def pick(salt: Int, xs: String*): String =
      s"element_at(array(${xs.map("'" + _ + "'").mkString(", ")}), ${h(salt, xs.length)} + 1)"
    def day(salt: Int, span: Int): String =
      s"timestamp_seconds(694224000 + ${h(salt, span)} * 86400)" // 1992-01-01 + n days

    val tables = Seq(
      "region" -> (5L, Seq("CAST(id AS INT) AS r_regionkey",
        "element_at(array('AFRICA', 'AMERICA', 'ASIA', 'EUROPE', 'MIDDLE EAST'), CAST(id AS INT) + 1) AS r_name")),
      "nation" -> (25L, Seq("CAST(id AS INT) AS n_nationkey", "concat('NATION_', id) AS n_name",
        "CAST(id % 5 AS INT) AS n_regionkey")),
      "customer" -> (15000L, Seq("id AS c_custkey", "concat('Customer#', lpad(id, 9, '0')) AS c_name",
        s"CAST(${h(1, 25)} AS INT) AS c_nationkey",
        s"CAST(round(${h(2, 1099999)} / 100.0 - 999.99, 2) AS DOUBLE) AS c_acctbal",
        s"${pick(3, "AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")} AS c_mktsegment")),
      "supplier" -> (1000L, Seq("id AS s_suppkey", "concat('Supplier#', lpad(id, 9, '0')) AS s_name",
        s"CAST(${h(4, 25)} AS INT) AS s_nationkey",
        s"CAST(round(${h(5, 1099999)} / 100.0 - 999.99, 2) AS DOUBLE) AS s_acctbal")),
      "part" -> (20000L, Seq("id AS p_partkey",
        s"concat(${pick(6, "large", "hot", "small", "red", "blue", "misty", "frosted")}, ' ', " +
          s"${pick(7, "ring", "bolt", "gear", "nut", "plate", "pipe", "valve")}) AS p_name",
        s"concat('Brand#', ${h(8, 25)} + 1) AS p_brand",
        s"${pick(9, "ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD")} AS p_type",
        s"CAST(${h(10, 50)} + 1 AS INT) AS p_size",
        "CAST(round(900 + (id % 1000) / 10.0, 2) AS DOUBLE) AS p_retailprice")),
      "orders" -> (150000L, Seq("id AS o_orderkey", s"CAST(${h(11, 15000)} AS BIGINT) AS o_custkey",
        s"${pick(12, "F", "O", "P")} AS o_orderstatus",
        s"CAST(round(${h(13, 50000000)} / 100.0, 2) AS DOUBLE) AS o_totalprice",
        s"${day(14, 2557)} AS o_orderdate",
        s"${pick(15, "1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")} AS o_orderpriority")),
      "lineitem" -> (600000L, Seq("id DIV 4 AS l_orderkey", s"CAST(${h(16, 20000)} AS BIGINT) AS l_partkey",
        s"CAST(${h(17, 1000)} AS BIGINT) AS l_suppkey", "CAST(id % 4 + 1 AS INT) AS l_linenumber",
        s"CAST(${h(18, 50)} + 1 AS DOUBLE) AS l_quantity",
        s"CAST(round((${h(18, 50)} + 1) * (900 + ${h(19, 1100)} / 10.0), 2) AS DOUBLE) AS l_extendedprice",
        s"CAST(${h(20, 11)} / 100.0 AS DOUBLE) AS l_discount", s"CAST(${h(21, 9)} / 100.0 AS DOUBLE) AS l_tax",
        s"${pick(22, "A", "N", "R")} AS l_returnflag", s"${pick(23, "O", "F")} AS l_linestatus",
        s"${day(24, 2677)} AS l_shipdate")))

    tables.foreach { case (name, (n, cols)) =>
      // rows land in hash order, not key order, as in the reference data
      spark.range(n).selectExpr(cols :+ s"hash(id, 99) AS __o" :+ "id AS __id": _*)
        .orderBy("__o", "__id").drop("__o", "__id")
        .coalesce(1).write.mode("overwrite").parquet(s"$out/$name.parquet")
    }
    spark.stop()
  }
}
