package graft.functions

import org.apache.spark.sql.SparkSession

import graft.pgwire.PgException

/** `CREATE TYPE … AS ENUM` (pg §8.7) — session-scoped user enum
  * types: DDL stores the ordered label list, `::name` casts validate
  * labels (22P02 exactly like pg), pg_type/pg_enum rows appear in the
  * catalog, and the wire reports the type's dynamic OID.
  * Parity-PLUS like the other type families (the reference accepts no
  * DDL at all).
  *
  * Values are label TEXT at the Spark level; declared-order semantics
  * (pg §8.7.2) are carried by PgSemantics, which dispatches comparisons
  * / ORDER BY / min / max / greatest / least over enum-typed operands
  * (an `::enum` cast, a stored enum column, or a column defined by
  * either) through the ordinal map below.
  * Multi-JVM note: the registry lives in the driver, and the enum
  * UDF closures capture it — task closures serialize a registry
  * SNAPSHOT at each stage submission (Registry is Serializable), so
  * executors on a real cluster see the labels as of query submission;
  * no separate broadcast step is needed.
  */
object PgEnums extends Serializable {

  final case class EnumDef(oid: Int, labels: Vector[String])

  final class Registry extends Serializable {
    val types = new java.util.concurrent.ConcurrentHashMap[String, EnumDef]()
    val oidCounter = new java.util.concurrent.atomic.AtomicInteger(30100)
  }

  private val registries =
    java.util.Collections.synchronizedMap(
      new java.util.WeakHashMap[SparkSession, Registry]())

  def forSession(spark: SparkSession): Registry =
    registries.synchronized {
      var r = registries.get(spark)
      if (r == null) { r = new Registry; registries.put(spark, r) }
      r
    }

  def create(spark: SparkSession, name: String, labels: Seq[String]): EnumDef = {
    val reg = forSession(spark)
    val d = EnumDef(reg.oidCounter.incrementAndGet(), labels.toVector)
    if (reg.types.putIfAbsent(name.toLowerCase, d) != null)
      throw PgException("42710", s"""type "$name" already exists""")
    graft.pgwire.PgMeta.saveEnums(spark)
    d
  }

  def drop(spark: SparkSession, name: String): Boolean = {
    val had = forSession(spark).types.remove(name.toLowerCase) != null
    if (had) graft.pgwire.PgMeta.saveEnums(spark)
    had
  }

  /** Ordered (name → def) view of this session's registry — the
    * PgMeta persistence snapshot. */
  def snapshot(spark: SparkSession): Seq[(String, EnumDef)] = {
    val r = registries.get(spark)
    if (r == null) Nil
    else {
      val b = Seq.newBuilder[(String, EnumDef)]
      r.types.forEach((k, v) => b += (k -> v))
      b.result().sortBy(_._1)
    }
  }

  /** Fresh-JVM reload from the PgMeta store: replaces this session's
    * definitions and advances the OID counter past every restored OID
    * so later CREATE TYPE never reuses one. */
  def restore(spark: SparkSession, defs: Seq[(String, EnumDef)]): Unit = {
    val reg = forSession(spark)
    defs.foreach { case (n, d) =>
      reg.types.put(n.toLowerCase, d)
      var cur = reg.oidCounter.get()
      while (d.oid > cur && !reg.oidCounter.compareAndSet(cur, d.oid))
        cur = reg.oidCounter.get()
    }
  }

  def names(spark: SparkSession): Set[String] = {
    val r = registries.get(spark)
    if (r == null) Set.empty
    else {
      val out = scala.collection.mutable.Set.empty[String]
      r.types.forEach((k, _) => out += k)
      out.toSet
    }
  }

  def lookup(spark: SparkSession, name: String): Option[EnumDef] = {
    val r = registries.get(spark)
    if (r == null) None else Option(r.types.get(name.toLowerCase))
  }

  def registerUdfs(spark: SparkSession): Unit = {
    val reg = forSession(spark) // the closure captures THIS session's registry
    val u = spark.udf
    def defOf(name: String): EnumDef = {
      val d = reg.types.get(name.toLowerCase)
      if (d == null) throw PgException("42704", s"""type "$name" does not exist""")
      d
    }
    u.register("enum_in", (name: String, label: String) =>
      if (label == null) null
      else {
        val d = defOf(name)
        if (!d.labels.contains(label))
          throw PgException("22P02",
            s"""invalid input value for enum $name: "$label"""")
        label
      })
    u.register("enum_first_n", (name: String) => defOf(name).labels.head)
    u.register("enum_last_n", (name: String) => defOf(name).labels.last)
    u.register("enum_range_n", (name: String) => defOf(name).labels.toArray)
    // enum_first/enum_last/enum_range(x) read only x's enum TYPE:
    // PgSemantics turns them into the `_n` forms above; an argument
    // with no enum type reaches these
    def noEnumType = throw PgException("22023", "could not determine actual enum type")
    u.register("enum_first", (_: String) => noEnumType: String)
    u.register("enum_last", (_: String) => noEnumType: String)
    u.register("enum_range", (_: String) => noEnumType: Array[String])
    // declared-order dispatch (pg §8.7.2: "The ordering of the values
    // in an enum type is the order in which the values were listed"):
    // PgSemantics rewrites comparisons/ORDER BY/min/max over enum-typed
    // operands through the ordinal map
    u.register("enum_ord", (name: String, label: String) =>
      (if (label == null) null
      else {
        val d = defOf(name)
        val i = d.labels.indexOf(label)
        if (i < 0)
          throw PgException("22P02",
            s"""invalid input value for enum $name: "$label"""")
        Integer.valueOf(i)
      }): java.lang.Integer)
    u.register("enum_label_at", (name: String, ord: java.lang.Integer) =>
      if (ord == null) null else defOf(name).labels(ord.intValue))
  }
}
