package graft.pgwire

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicInteger
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types._

/** Stable-OID assignment for catalog objects (reference:
  * datafusion-pg-catalog/src/pg_catalog.rs:193-254 — fixed OIDs for
  * system namespaces, a 16384+ counter for user objects, cached so
  * pg_class / pg_attribute / pg_namespace stay mutually consistent
  * across refreshes).
  */
object Oids {
  val PgCatalogNamespace = 11
  val PublicNamespace = 2200
  val FirstUserOid = 16384

  private val counter = new AtomicInteger(FirstUserOid)
  private val cache = new ConcurrentHashMap[String, Integer]()

  /** OID for a namespaced key ("rel:name", "db:name"), assigned once.
    * New assignments write through to the PgMeta store so a second
    * JVM resolves the same object to the same OID (COMMENT ON and
    * pg_description key on it). */
  def of(key: String): Int = {
    var fresh = false
    val oid = cache.computeIfAbsent(key, _ => {
      fresh = true; Integer.valueOf(counter.getAndIncrement())
    }).intValue()
    if (fresh && PgMeta.attached) PgMeta.saveOids(counter.get(), snapshot)
    oid
  }

  /** All assignments, ordered by OID — the PgMeta persistence form. */
  def snapshot: Seq[(String, Int)] = {
    val b = Seq.newBuilder[(String, Int)]
    cache.forEach((k, v) => b += (k -> v.intValue()))
    b.result().sortBy(_._2)
  }

  /** Fresh-JVM reload from the PgMeta store. */
  def restore(counterV: Int, entries: Seq[(String, Int)]): Unit = {
    entries.foreach { case (k, o) => cache.put(k, Integer.valueOf(o)) }
    var cur = counter.get()
    while (counterV > cur && !counter.compareAndSet(cur, counterV))
      cur = counter.get()
  }

  /** Test hook: reset the assignment state (NOT used by the server). */
  private[pgwire] def reset(): Unit = { cache.clear(); counter.set(FirstUserOid) }
}

/** pg_catalog emulation over the live Spark catalog: the dynamic core
  * (pg_class / pg_attribute / pg_namespace / pg_database) plus the
  * static tables and views psql/DBeaver/Metabase/Grafana startup
  * queries touch (reference: datafusion-pg-catalog/src/pg_catalog/
  * pg_class.rs:31-261, pg_attribute.rs:22-258, pg_namespace.rs:21-121,
  * pg_database.rs:21-202, pg_tables.rs, pg_settings.rs, pg_roles.rs,
  * pg_views.rs; static type table pg_catalog.rs:121-191).
  *
  * All tables are registered as UNQUALIFIED temp views (pg_class, …):
  * Spark temp views cannot carry a schema qualifier, so [[Compat]]
  * strips the `pg_catalog.` prefix instead of prepending it — same
  * resolution outcome as the reference's PrependUnqualifiedPgTableName.
  *
  * Scale note: every catalog table is a driver-local relation of at
  * most a few thousand rows — Catalyst plans them as LocalRelation and
  * broadcast-joins them, mirroring the reference's recompute-per-scan
  * MemTable strategy (pg_class.rs:116-119). They never shuffle.
  *
  * Deviation from pg: pg_class lists only user relations (the pg_*
  * emulation views themselves are excluded) — keeps OIDs deterministic
  * and introspection output focused on user tables.
  */
object PgCatalog {

  /** Names we register (used to exclude ourselves from pg_class). */
  val catalogViewNames: Set[String] = Set(
    "pg_class", "pg_attribute", "pg_namespace", "pg_database", "pg_type",
    "pg_tables", "pg_views", "pg_matviews", "pg_indexes", "pg_settings",
    "pg_roles",
    "pg_am", "pg_description", "pg_index", "pg_constraint", "pg_proc",
    "pg_operator", "pg_cast",
    "pg_attrdef", "pg_inherits", "pg_policies", "pg_replication_slots",
    "pg_stat_user_tables", "pg_stat_gssapi", "pg_extension",
    "pg_collation", "pg_stat_activity", "pg_get_keywords", "pg_locks")

  private def mkDf(spark: SparkSession, schema: StructType, rows: Seq[Row]): DataFrame =
    spark.createDataFrame(rows.asJava, schema)

  /** Register a catalog view. `createOrReplaceTempView` routes through
    * a full CreateViewCommand execution (~8 ms of command analysis per
    * view); at ~70 static views + 6 dynamic views that made the FIRST
    * `pg_`-touching query of every session pay ~0.7 s (round-6 verdict
    * finding #3). The catalog content is driver-local LocalRelations we
    * built ourselves, so insert the TemporaryViewRelation directly into
    * the SessionCatalog — the same object CreateViewCommand would store
    * (plan-storing temp view: VIEW kind, empty storage, analyzed plan)
    * — and keep the command path as a fallback for any plan the direct
    * path cannot express.
    */
  private def register(spark: SparkSession, name: String, df: DataFrame): Unit =
    try {
      import org.apache.spark.sql.catalyst.TableIdentifier
      import org.apache.spark.sql.catalyst.catalog.{CatalogStorageFormat, CatalogTable, CatalogTableType, TemporaryViewRelation}
      val meta = CatalogTable(
        identifier = TableIdentifier(name),
        tableType = CatalogTableType.VIEW,
        storage = CatalogStorageFormat.empty,
        schema = df.schema,
        properties = Map(CatalogTable.VIEW_STORING_ANALYZED_PLAN -> "true"))
      spark.sessionState.catalog.createTempView(name,
        TemporaryViewRelation(meta, Some(df.queryExecution.analyzed)),
        overrideIfExists = true)
    } catch {
      case scala.util.control.NonFatal(_) => df.createOrReplaceTempView(name)
    }

  /** User relations = temp views + catalog tables that are not ours.
    * Sorted by name so OID assignment order (and thus first-session
    * OIDs) is deterministic.
    */
  private[pgwire] def userTables(spark: SparkSession): Seq[String] = {
    // sessionState.catalog directly: spark.catalog.listTables() builds
    // and collects a Dataset (~0.2 s of plan+job overhead per refresh
    // fingerprint check, which every catalog-touching query pays)
    val cat = spark.sessionState.catalog
    val temps = cat.listLocalTempViews("*").map(_.table)
    val perms =
      try cat.listTables(cat.getCurrentDatabase).map(_.table)
      catch { case scala.util.control.NonFatal(_) => Seq.empty[String] }
    (temps ++ perms)
      .filterNot(catalogViewNames.contains)
      .filterNot(_.startsWith("pg_"))
      .filterNot(_.startsWith("information_schema"))
      .filterNot(PgSequences.exists) // their relation views are relkind S
      .distinct.sorted.toSeq
  }

  // ---- dynamic core ------------------------------------------------------

  private val pgNamespaceSchema = StructType(Seq(
    StructField("oid", IntegerType), StructField("nspname", StringType),
    StructField("nspowner", IntegerType), StructField("nspacl", StringType)))

  private def pgNamespace(spark: SparkSession): DataFrame =
    mkDf(spark, pgNamespaceSchema, Seq(
      Row(Oids.PgCatalogNamespace, "pg_catalog", 10, null),
      Row(Oids.PublicNamespace, "public", 10, null)))

  private val pgDatabaseSchema = StructType(Seq(
    StructField("oid", IntegerType), StructField("datname", StringType),
    StructField("datdba", IntegerType), StructField("encoding", IntegerType),
    StructField("datlocprovider", StringType),
    StructField("datcollate", StringType), StructField("datctype", StringType),
    StructField("daticulocale", StringType), StructField("daticurules", StringType),
    StructField("datistemplate", BooleanType), StructField("datallowconn", BooleanType),
    StructField("datconnlimit", IntegerType), StructField("dattablespace", IntegerType),
    StructField("datacl", ArrayType(StringType))))

  private def pgDatabase(spark: SparkSession): DataFrame =
    mkDf(spark, pgDatabaseSchema, Seq(
      Row(1, "postgres", 10, 6, "c", "C", "C", null, null, false, true, -1, 1663, null)))

  private val pgClassSchema = StructType(Seq(
    StructField("oid", IntegerType), StructField("relname", StringType),
    StructField("relnamespace", IntegerType), StructField("reltype", IntegerType),
    StructField("reloftype", IntegerType),
    StructField("relowner", IntegerType), StructField("relam", IntegerType),
    StructField("relfilenode", IntegerType), StructField("reltablespace", IntegerType),
    StructField("relpages", IntegerType), StructField("reltuples", FloatType),
    StructField("relallvisible", IntegerType), StructField("reltoastrelid", IntegerType),
    StructField("relhasindex", BooleanType), StructField("relisshared", BooleanType),
    StructField("relpersistence", StringType), StructField("relkind", StringType),
    StructField("relnatts", ShortType), StructField("relchecks", ShortType),
    StructField("relhasrules", BooleanType), StructField("relhastriggers", BooleanType),
    StructField("relhassubclass", BooleanType), StructField("relrowsecurity", BooleanType),
    StructField("relforcerowsecurity", BooleanType), StructField("relispopulated", BooleanType),
    StructField("relreplident", StringType), StructField("relispartition", BooleanType),
    StructField("relrewrite", IntegerType), StructField("relfrozenxid", IntegerType),
    StructField("relminmxid", IntegerType), StructField("relacl", StringType),
    StructField("reloptions", ArrayType(StringType)), StructField("relpartbound", StringType)))

  private def pgClass(spark: SparkSession, tables: Seq[(String, StructType)],
      seqNames: Seq[String], indexes: Seq[IndexRow],
      views: Map[String, String],
      matviews: Set[String] = Set.empty): DataFrame =
    mkDf(spark, pgClassSchema, tables.map { case (name, schema) =>
      val isView = views.contains(name)
      val isMat = matviews.contains(name)
      Row(Oids.of(s"rel:$name"), name, Oids.PublicNamespace, 0, 0, 10,
        if (isView) 0 else 2, 0, 0,
        0, -1.0f, 0, 0,
        indexes.exists(_.table == name), false, "p",
        if (isMat) "m" else if (isView) "v" else "r",
        schema.fields.length.toShort,
        0.toShort, false, false, false, false, false, true,
        if (isView) "n" else "d", false, 0, 0, 0,
        null, null, null)
    } ++ seqNames.map { name =>
      Row(Oids.of(s"rel:$name"), name, Oids.PublicNamespace, 0, 0, 10, 0, 0, 0,
        0, -1.0f, 0, 0, false, false, "p", "S", 3.toShort,
        0.toShort, false, false, false, false, false, true, "n", false, 0, 0, 0,
        null, null, null)
    } ++ indexes.map { ix =>
      val am = if (ix.method == "hash") 405 else 403 // btree
      Row(Oids.of(s"rel:${ix.name}"), ix.name, Oids.PublicNamespace, 0, 0, 10,
        am, 0, 0, 0, -1.0f, 0, 0, false, false, "p", "i",
        ix.keyAttnums.length.toShort,
        0.toShort, false, false, false, false, false, true, "n", false, 0, 0, 0,
        null, null, null)
    })

  /** One index for the catalog views: a unique/pkey CONSTRAINT's
    * backing index or a CREATE INDEX entry. `keyAttnums` are 1-based
    * column positions (0 for an expression key, pg's convention). */
  private final case class IndexRow(name: String, table: String,
    method: String, unique: Boolean, isPrimary: Boolean,
    isConstraint: Boolean, keyAttnums: Seq[Short], defText: String)

  private def indexRows(tables: Seq[(String, StructType)]): Seq[IndexRow] = {
    val fromConstraints = tables.flatMap { case (t, schema) =>
      PgConstraints.uniquesOf(t, schema).map { u =>
        val attnums = u.cols.map(c =>
          (schema.fields.indexWhere(_.name.equalsIgnoreCase(c)) + 1).toShort)
        IndexRow(u.name, t, "btree", unique = true, isPrimary = u.isPrimary,
          isConstraint = PgIndexes.lookup(u.name).isEmpty, attnums,
          s"CREATE UNIQUE INDEX ${u.name} ON public.$t USING btree (${u.cols.mkString(", ")})")
      }
    }
    val seen = fromConstraints.map(_.name).toSet
    val fromRegistry = tables.flatMap { case (t, schema) =>
      PgIndexes.forTable(t).filterNot(i => seen.contains(i.name)).map { i =>
        val keys = i.colsText.split(",").map(_.trim).toSeq
        val attnums = keys.map { k =>
          val w = "^[\\w$]+".r.findFirstIn(k).getOrElse("")
          val pos = schema.fields.indexWhere(_.name.equalsIgnoreCase(w))
          if (k.matches("(?i)^[\\w$\"]+(\\s+(ASC|DESC|NULLS|FIRST|LAST|\\w+_ops))*$") && pos >= 0)
            (pos + 1).toShort
          else 0.toShort // expression key
        }
        val uq = if (i.unique) "UNIQUE " else ""
        IndexRow(i.name, t, i.method, i.unique, isPrimary = false,
          isConstraint = false, attnums,
          s"CREATE ${uq}INDEX ${i.name} ON public.$t USING ${i.method} (${i.colsText})")
      }
    }
    fromConstraints ++ fromRegistry
  }

  private val pgIndexSchema = StructType(Seq(
    StructField("indexrelid", IntegerType), StructField("indrelid", IntegerType),
    StructField("indnatts", ShortType), StructField("indnkeyatts", ShortType),
    StructField("indisunique", BooleanType), StructField("indisprimary", BooleanType),
    StructField("indisclustered", BooleanType), StructField("indisvalid", BooleanType),
    StructField("indisreplident", BooleanType),
    StructField("indkey", ArrayType(ShortType)), StructField("indexprs", StringType),
    StructField("indpred", StringType)))

  private def pgIndex(spark: SparkSession, indexes: Seq[IndexRow]): DataFrame =
    mkDf(spark, pgIndexSchema, indexes.map { ix =>
      Row(Oids.of(s"rel:${ix.name}"), Oids.of(s"rel:${ix.table}"),
        ix.keyAttnums.length.toShort, ix.keyAttnums.length.toShort,
        ix.unique, ix.isPrimary, false, true, false,
        ix.keyAttnums, null, null)
    })

  private val pgConstraintSchema = StructType(Seq(
    StructField("oid", IntegerType), StructField("conname", StringType),
    StructField("connamespace", IntegerType), StructField("contype", StringType),
    StructField("condeferrable", BooleanType), StructField("condeferred", BooleanType),
    StructField("convalidated", BooleanType), StructField("conrelid", IntegerType),
    StructField("contypid", IntegerType), StructField("conindid", IntegerType),
    StructField("conparentid", IntegerType),
    StructField("confrelid", IntegerType), StructField("conkey", ArrayType(ShortType)),
    StructField("confkey", ArrayType(ShortType)), StructField("conbin", StringType)))

  private def pgConstraint(spark: SparkSession, indexes: Seq[IndexRow],
      tables: Seq[(String, StructType)]): DataFrame =
    mkDf(spark, pgConstraintSchema,
      indexes.filter(_.isConstraint).map { ix =>
        // condeferrable/condeferred (r18) from the unique registry
        val u = scala.util.Try(spark.table(ix.table).schema).toOption
          .flatMap(sc => PgConstraints.uniquesOf(ix.table, sc)
            .find(_.name.equalsIgnoreCase(ix.name)))
        Row(Oids.of(s"con:${ix.name}"), ix.name, Oids.PublicNamespace,
          if (ix.isPrimary) "p" else "u",
          u.exists(_.deferrable), u.exists(_.initiallyDeferred), true,
          Oids.of(s"rel:${ix.table}"), 0, Oids.of(s"rel:${ix.name}"), 0,
          0, ix.keyAttnums, null, null)
      } ++
        tables.flatMap { case (t, schema) =>
          def attnums(cols: Seq[String]): Seq[Short] = cols.map(c =>
            (schema.fields.indexWhere(_.name.equalsIgnoreCase(c)) + 1).toShort)
          PgConstraints.checksOf(t, schema).map { c =>
            val refd = schema.fields.map(_.name).filter(n =>
              ("(?i)\\b" + java.util.regex.Pattern.quote(n) + "\\b").r
                .findFirstIn(c.expr).isDefined).toSeq
            Row(Oids.of(s"con:${c.name}"), c.name, Oids.PublicNamespace,
              "c", false, false, true, Oids.of(s"rel:$t"), 0, 0, 0,
              0, attnums(refd), null, null)
          } ++
            PgConstraints.fksOf(t, schema).map { f =>
              val km = "(?is)FOREIGN\\s+KEY\\s*\\(([^)]*)\\)\\s+REFERENCES\\s+([\\w$.\"]+)"
                .r.findFirstMatchIn(f.condef)
              val cols = km.map(_.group(1).split(",").toSeq.map(_.trim))
                .getOrElse(Nil)
              val refT = km.map(m => m.group(2).stripPrefix("\"").stripSuffix("\""))
                .getOrElse("")
              val (defr, initDef) = PgConstraints.deferFlags(f.condef)
              Row(Oids.of(s"con:${f.name}"), f.name, Oids.PublicNamespace,
                "f", defr, initDef, true, Oids.of(s"rel:$t"), 0, 0, 0,
                Oids.of(s"rel:$refT"), attnums(cols), null, null)
            }
        })

  /** oid → definition text, read by the pg_get_indexdef /
    * pg_get_constraintdef / pg_get_viewdef UDFs (driver-map pattern, like
    * pg_sequences' live last_value). */
  private val indexDefByOid =
    new java.util.concurrent.ConcurrentHashMap[Int, String]()
  private val indexKeysByOid =
    new java.util.concurrent.ConcurrentHashMap[Int, Seq[String]]()
  private val constraintDefByOid =
    new java.util.concurrent.ConcurrentHashMap[Int, String]()
  private val viewDefByOid =
    new java.util.concurrent.ConcurrentHashMap[Int, String]()

  private def refreshIndexDefs(indexes: Seq[IndexRow],
      tables: Seq[(String, StructType)]): Unit = {
    indexDefByOid.clear(); indexKeysByOid.clear(); constraintDefByOid.clear()
    indexes.foreach { ix =>
      val oid = Oids.of(s"rel:${ix.name}")
      indexDefByOid.put(oid, ix.defText)
      val keyText = ix.defText.substring(ix.defText.indexOf('(') + 1,
        ix.defText.lastIndexOf(')'))
      indexKeysByOid.put(oid, keyText.split(",").map(_.trim).toSeq)
      if (ix.isConstraint) {
        val cols = tables.find(_._1 == ix.table).map { case (_, schema) =>
          ix.keyAttnums.map(n =>
            if (n > 0 && n <= schema.fields.length) schema.fields(n - 1).name
            else "?")
        }.getOrElse(Seq.empty)
        constraintDefByOid.put(Oids.of(s"con:${ix.name}"),
          (if (ix.isPrimary) "PRIMARY KEY (" else "UNIQUE (") +
            cols.mkString(", ") + ")")
      }
    }
    // CHECK / FOREIGN KEY definitions (pg renders checks with doubled
    // parens: CHECK ((a > 0)))
    tables.foreach { case (t, schema) =>
      PgConstraints.checksOf(t, schema).foreach(c =>
        constraintDefByOid.put(Oids.of(s"con:${c.name}"),
          s"CHECK ((${c.expr}))"))
      PgConstraints.fksOf(t, schema).foreach(f =>
        constraintDefByOid.put(Oids.of(s"con:${f.name}"), f.condef))
    }
  }

  private def registerIndexDefUdfs(spark: SparkSession): Unit = {
    val u = spark.udf
    // NULL oids flow through psql's LEFT JOINs — return NULL, not NPE
    u.register("pg_get_indexdef",
      (oid: Integer) =>
        if (oid == null) null else Option(indexDefByOid.get(oid)).orNull)
    u.register("pg_get_indexdef",
      (oid: Integer, col: Integer, pretty: Boolean) =>
        if (oid == null) null
        else if (col == null || col == 0) Option(indexDefByOid.get(oid)).orNull
        else Option(indexKeysByOid.get(oid))
          .flatMap(_.lift(col - 1)).orNull)
    // psql \d+ on a view: pg_get_viewdef('oid'::pg_catalog.oid, true);
    // pg renders a pretty-printed body terminated with ';'
    u.register("pg_get_viewdef",
      (oid: Integer) =>
        if (oid == null) null else Option(viewDefByOid.get(oid)).orNull)
    u.register("pg_get_viewdef",
      (oid: Integer, pretty: Boolean) =>
        if (oid == null) null else Option(viewDefByOid.get(oid)).orNull)
  }

  /** pg_get_constraintdef's text for a constraint oid ("" when unknown);
    * PgFunctions registers the UDF, so PgNames wraps it with the rest. */
  private[pgwire] def constraintDef(oid: Int): String =
    Option(constraintDefByOid.get(oid)).getOrElse("")

  private val pgAttributeSchema = StructType(Seq(
    StructField("attrelid", IntegerType), StructField("attname", StringType),
    StructField("atttypid", IntegerType), StructField("attstattarget", IntegerType),
    StructField("attlen", ShortType), StructField("attnum", ShortType),
    StructField("attndims", IntegerType), StructField("attcacheoff", IntegerType),
    StructField("atttypmod", IntegerType), StructField("attbyval", BooleanType),
    StructField("attalign", StringType), StructField("attstorage", StringType),
    StructField("attnotnull", BooleanType), StructField("atthasdef", BooleanType),
    StructField("atthasmissing", BooleanType), StructField("attidentity", StringType),
    StructField("attgenerated", StringType), StructField("attisdropped", BooleanType),
    StructField("attislocal", BooleanType), StructField("attinhcount", IntegerType),
    StructField("attcollation", IntegerType), StructField("attacl", StringType)))

  private def pgAttribute(spark: SparkSession, tables: Seq[(String, StructType)]): DataFrame =
    mkDf(spark, pgAttributeSchema, tables.flatMap { case (name, schema) =>
      val relOid = Oids.of(s"rel:$name")
      schema.fields.zipWithIndex.map { case (f, i) =>
        val oid = PgType.oidOf(f)
        val ndims = f.dataType match { case _: ArrayType => 1; case _ => 0 }
        Row(relOid, f.name, oid, -1, PgType.typlen(oid).toShort, (i + 1).toShort,
          ndims, -1, -1, PgType.typlen(oid) > 0, "i", "p", !f.nullable, false,
          false, "", "", false, true, 0, 0, null)
      }
    })

  // ---- static pg_type ----------------------------------------------------

  private val pgTypeSchema = StructType(Seq(
    StructField("oid", IntegerType), StructField("typname", StringType),
    StructField("typnamespace", IntegerType), StructField("typowner", IntegerType),
    StructField("typlen", ShortType), StructField("typbyval", BooleanType),
    StructField("typtype", StringType), StructField("typcategory", StringType),
    StructField("typispreferred", BooleanType), StructField("typisdefined", BooleanType),
    StructField("typdelim", StringType), StructField("typrelid", IntegerType),
    StructField("typelem", IntegerType), StructField("typarray", IntegerType),
    StructField("typbasetype", IntegerType), StructField("typtypmod", IntegerType),
    StructField("typcollation", IntegerType), StructField("typnotnull", BooleanType),
    StructField("typinput", StringType)))

  /** (oid, name, len, category, elem, array) — fixed pg catalog values. */
  private val typeRows: Seq[(Int, String, Int, String, Int, Int)] = Seq(
    (16, "bool", 1, "B", 0, 1000), (17, "bytea", -1, "U", 0, 1001),
    (18, "char", 1, "Z", 0, 1002), (19, "name", 64, "S", 0, 1003),
    (20, "int8", 8, "N", 0, 1016), (21, "int2", 2, "N", 0, 1005),
    (23, "int4", 4, "N", 0, 1007), (25, "text", -1, "S", 0, 1009),
    (26, "oid", 4, "N", 0, 1028), (114, "json", -1, "U", 0, 199),
    (700, "float4", 4, "N", 0, 1021), (701, "float8", 8, "N", 0, 1022),
    (705, "unknown", -2, "X", 0, 0), (1042, "bpchar", -1, "S", 0, 1014),
    (1043, "varchar", -1, "S", 0, 1015), (1082, "date", 4, "D", 0, 1182),
    (1083, "time", 8, "D", 0, 1183), (1114, "timestamp", 8, "D", 0, 1115),
    (1184, "timestamptz", 8, "D", 0, 1185), (1186, "interval", 16, "T", 0, 1187),
    (1700, "numeric", -1, "N", 0, 1231), (2249, "record", -1, "P", 0, 2287),
    (2205, "regclass", 4, "N", 0, 2210), (2206, "regtype", 4, "N", 0, 2211),
    // array types
    (1000, "_bool", -1, "A", 16, 0), (1001, "_bytea", -1, "A", 17, 0),
    (1003, "_name", -1, "A", 19, 0), (1005, "_int2", -1, "A", 21, 0),
    (1007, "_int4", -1, "A", 23, 0), (1009, "_text", -1, "A", 25, 0),
    (1015, "_varchar", -1, "A", 1043, 0), (1016, "_int8", -1, "A", 20, 0),
    (1021, "_float4", -1, "A", 700, 0), (1022, "_float8", -1, "A", 701, 0),
    (1115, "_timestamp", -1, "A", 1114, 0), (1182, "_date", -1, "A", 1082, 0),
    (1183, "_time", -1, "A", 1083, 0), (1185, "_timestamptz", -1, "A", 1184, 0),
    (1187, "_interval", -1, "A", 1186, 0), (1231, "_numeric", -1, "A", 1700, 0),
    (2287, "_record", -1, "A", 2249, 0),
    // PostGIS-style extension type at graft's pinned OID (PgType.GEOMETRY
    // — per-installation in real pg, so clients look it up by name)
    (PgType.GEOMETRY, "geometry", -1, "U", 0, PgType.GEOMETRY_ARRAY),
    (PgType.GEOMETRY_ARRAY, "_geometry", -1, "A", PgType.GEOMETRY, 0),
    // range types (pg §8.17; typtype='r' via the category below)
    (3904, "int4range", -1, "R", 0, 3905), (3905, "_int4range", -1, "A", 3904, 0),
    (3906, "numrange", -1, "R", 0, 3907), (3907, "_numrange", -1, "A", 3906, 0),
    (3908, "tsrange", -1, "R", 0, 3909), (3909, "_tsrange", -1, "A", 3908, 0),
    (3910, "tstzrange", -1, "R", 0, 3911), (3911, "_tstzrange", -1, "A", 3910, 0),
    (3912, "daterange", -1, "R", 0, 3913), (3913, "_daterange", -1, "A", 3912, 0),
    (3926, "int8range", -1, "R", 0, 3927), (3927, "_int8range", -1, "A", 3926, 0),
    // text-search types (pg ch. 12)
    (3614, "tsvector", -1, "U", 0, 3643), (3643, "_tsvector", -1, "A", 3614, 0),
    (3615, "tsquery", -1, "U", 0, 3645), (3645, "_tsquery", -1, "A", 3615, 0),
    // network types (pg §8.9)
    (650, "cidr", -1, "I", 0, 651), (651, "_cidr", -1, "A", 650, 0),
    (869, "inet", -1, "I", 0, 1041), (1041, "_inet", -1, "A", 869, 0),
    (829, "macaddr", 6, "U", 0, 1040), (1040, "_macaddr", -1, "A", 829, 0),
    (774, "macaddr8", 8, "U", 0, 775), (775, "_macaddr8", -1, "A", 774, 0),
    (1560, "bit", -1, "V", 0, 1561), (1561, "_bit", -1, "A", 1560, 0),
    (1562, "varbit", -1, "V", 0, 1563), (1563, "_varbit", -1, "A", 1562, 0),
    (142, "xml", -1, "U", 0, 143), (143, "_xml", -1, "A", 142, 0),
    (790, "money", 8, "N", 0, 791), (791, "_money", -1, "A", 790, 0))

  private def pgTypeDf(spark: SparkSession): DataFrame = {
    val static = typeRows.map { case (oid, name, len, cat, elem, arr) =>
      Row(oid, name, Oids.PgCatalogNamespace, 10, len.toShort, len > 0 && len <= 8,
        (if (cat == "R") "r" else "b"), cat, false, true, ",", 0, elem, arr, 0, -1, 0, false,
        (if (name.startsWith("_")) "array_in" else name + "in"))
    }
    // session user enum types (CREATE TYPE … AS ENUM): typtype 'e',
    // category 'E', public namespace
    val enums = graft.functions.PgEnums.names(spark).toSeq.sorted.flatMap { n =>
      graft.functions.PgEnums.lookup(spark, n).map { d =>
        Row(d.oid, n, Oids.PublicNamespace, 10, 4.toShort, true,
          "e", "E", false, true, ",", 0, 0, 0, 0, -1, 0, false, "enum_in")
      }
    }
    mkDf(spark, pgTypeSchema, static ++ enums)
  }

  /** Re-register the type views after CREATE/DROP TYPE. */
  def refreshEnumViews(spark: SparkSession): Unit = {
    register(spark, "pg_type", pgTypeDf(spark))
    val rows = graft.functions.PgEnums.names(spark).toSeq.sorted.flatMap { n =>
      graft.functions.PgEnums.lookup(spark, n).toSeq.flatMap { d =>
        d.labels.zipWithIndex.map { case (l, i) =>
          Row(d.oid * 64 + i + 1, d.oid, (i + 1).toFloat, l)
        }
      }
    }
    register(spark, "pg_enum", mkDf(spark, StructType(Seq(
      StructField("oid", IntegerType), StructField("enumtypid", IntegerType),
      StructField("enumsortorder", FloatType), StructField("enumlabel", StringType))),
      rows))
  }

  // ---- user-facing views -------------------------------------------------

  private val pgTablesSchema = StructType(Seq(
    StructField("schemaname", StringType), StructField("tablename", StringType),
    StructField("tableowner", StringType), StructField("tablespace", StringType),
    StructField("hasindexes", BooleanType), StructField("hasrules", BooleanType),
    StructField("hastriggers", BooleanType), StructField("rowsecurity", BooleanType)))

  private def pgTables(spark: SparkSession, tables: Seq[(String, StructType)]): DataFrame =
    mkDf(spark, pgTablesSchema, tables.map { case (name, _) =>
      Row("public", name, "postgres", null, false, false, false, false)
    })

  private val pgIndexesSchema = StructType(Seq(
    StructField("schemaname", StringType), StructField("tablename", StringType),
    StructField("indexname", StringType), StructField("tablespace", StringType),
    StructField("indexdef", StringType)))

  /** `pg_indexes` (pg's system view): one row per unique/primary-key
    * constraint index (pg implements constraints as indexes) plus the
    * CREATE INDEX registry. */
  private def pgIndexesView(spark: SparkSession,
      tables: Seq[(String, StructType)]): DataFrame = {
    val constraintRows = tables.flatMap { case (t, schema) =>
      PgConstraints.uniquesOf(t, schema).map { u =>
        Row("public", t, u.name, null,
          s"CREATE UNIQUE INDEX ${u.name} ON public.$t USING btree (${u.cols.mkString(", ")})")
      }
    }
    val seen = constraintRows.map(_.getString(2)).toSet
    val plainRows = tables.flatMap { case (t, _) =>
      PgIndexes.forTable(t).filterNot(i => seen.contains(i.name)).map { i =>
        val uq = if (i.unique) "UNIQUE " else ""
        Row("public", t, i.name, null,
          s"CREATE ${uq}INDEX ${i.name} ON public.$t USING ${i.method} (${i.colsText})")
      }
    }
    mkDf(spark, pgIndexesSchema, constraintRows ++ plainRows)
  }

  /** Default GUCs surfaced in pg_settings (reference: pg_settings.rs). */
  val defaultGucs: Seq[(String, String)] = Seq(
    "application_name" -> "", "client_encoding" -> "UTF8",
    "datestyle" -> "ISO, MDY", "intervalstyle" -> "postgres",
    "bytea_output" -> "hex", "extra_float_digits" -> "1",
    "search_path" -> "\"$user\", public", "server_encoding" -> "UTF8",
    "server_version" -> "17.0", "server_version_num" -> "170000",
    "statement_timeout" -> "0", "timezone" -> "UTC",
    "transaction_isolation" -> "read committed",
    "standard_conforming_strings" -> "on", "integer_datetimes" -> "on",
    "max_connections" -> "64", "shared_buffers" -> "131072")

  private val pgSettingsSchema = StructType(Seq(
    StructField("name", StringType), StructField("setting", StringType),
    StructField("unit", StringType), StructField("category", StringType),
    StructField("short_desc", StringType), StructField("extra_desc", StringType),
    StructField("context", StringType), StructField("vartype", StringType),
    StructField("source", StringType), StructField("min_val", StringType),
    StructField("max_val", StringType), StructField("enumvals", ArrayType(StringType)),
    StructField("boot_val", StringType), StructField("reset_val", StringType),
    StructField("sourcefile", StringType), StructField("sourceline", IntegerType),
    StructField("pending_restart", BooleanType)))

  private def pgSettings(spark: SparkSession): DataFrame =
    mkDf(spark, pgSettingsSchema, defaultGucs.map { case (k, v) =>
      Row(k, v, null, "Client Connection Defaults", "", null, "user", "string",
        "default", null, null, null, v, v, null, null, false)
    })

  private val pgRolesSchema = StructType(Seq(
    StructField("rolname", StringType), StructField("rolsuper", BooleanType),
    StructField("rolinherit", BooleanType), StructField("rolcreaterole", BooleanType),
    StructField("rolcreatedb", BooleanType), StructField("rolcanlogin", BooleanType),
    StructField("rolreplication", BooleanType), StructField("rolconnlimit", IntegerType),
    StructField("rolpassword", StringType), StructField("rolvaliduntil", StringType),
    StructField("rolbypassrls", BooleanType), StructField("rolconfig", ArrayType(StringType)),
    StructField("oid", IntegerType)))

  private def pgRoles(spark: SparkSession): DataFrame =
    mkDf(spark, pgRolesSchema, Seq(
      Row("postgres", true, true, true, true, true, false, -1, "********",
        null, false, null, 10)))

  /** pg keyword list subset for the pg_get_keywords UDTF-as-view
    * (reference ships the full static table as feather;
    * pg_catalog.rs:650). word/catcode/barelabel/catdesc/baredesc.
    */
  private val keywords: Seq[(String, String)] = Seq(
    "all" -> "R", "analyse" -> "R", "analyze" -> "R", "and" -> "R",
    "any" -> "R", "array" -> "R", "as" -> "R", "asc" -> "R",
    "between" -> "C", "bigint" -> "C", "boolean" -> "C", "both" -> "R",
    "case" -> "R", "cast" -> "R", "check" -> "R", "collate" -> "R",
    "column" -> "R", "constraint" -> "R", "create" -> "R", "cross" -> "T",
    "current_catalog" -> "R", "current_date" -> "R", "current_role" -> "R",
    "current_schema" -> "T", "current_time" -> "R", "current_timestamp" -> "R",
    "current_user" -> "R", "default" -> "R", "desc" -> "R", "distinct" -> "R",
    "do" -> "R", "else" -> "R", "end" -> "R", "except" -> "R", "exists" -> "C",
    "false" -> "R", "fetch" -> "R", "for" -> "R", "foreign" -> "R",
    "from" -> "R", "full" -> "T", "grant" -> "R", "group" -> "R",
    "having" -> "R", "in" -> "R", "inner" -> "T", "intersect" -> "R",
    "into" -> "R", "join" -> "T", "leading" -> "R", "left" -> "T",
    "like" -> "C", "limit" -> "R", "localtime" -> "R", "localtimestamp" -> "R",
    "not" -> "R", "null" -> "R", "offset" -> "R", "on" -> "R", "only" -> "R",
    "or" -> "R", "order" -> "R", "outer" -> "T", "primary" -> "R",
    "references" -> "R", "right" -> "T", "select" -> "R", "session_user" -> "R",
    "some" -> "R", "table" -> "R", "then" -> "R", "to" -> "R", "trailing" -> "R",
    "true" -> "R", "union" -> "R", "unique" -> "R", "user" -> "R",
    "using" -> "R", "when" -> "R", "where" -> "R", "window" -> "R", "with" -> "R")

  private val keywordsSchema = StructType(Seq(
    StructField("word", StringType), StructField("catcode", StringType),
    StructField("barelabel", BooleanType), StructField("catdesc", StringType),
    StructField("baredesc", StringType)))

  private def pgGetKeywords(spark: SparkSession): DataFrame =
    mkDf(spark, keywordsSchema, keywords.map { case (w, c) =>
      val desc = c match {
        case "R" => "reserved"
        case "T" => "reserved (can be function or type name)"
        case _ => "unreserved (cannot be function or type name)"
      }
      Row(w, c, c != "R", desc, if (c != "R") "can be bare label" else "requires AS")
    })

  private def emptyView(spark: SparkSession, name: String, schema: StructType): Unit =
    register(spark, name, mkDf(spark, schema, Seq.empty))

  // ---- populated static tables: pg_proc / pg_operator / pg_cast ----------
  // (reference ships these as populated feathers, pg_catalog.rs:493-1071;
  // here pg_proc is derived from the live function pack and
  // pg_operator/pg_cast carry the standard pg rows clients probe for)

  private val pgProcSchema = StructType(Seq(
    StructField("oid", IntegerType), StructField("proname", StringType),
    StructField("pronamespace", IntegerType), StructField("prorettype", IntegerType),
    StructField("pronargs", ShortType), StructField("proargtypes", ArrayType(IntegerType)),
    StructField("proargnames", ArrayType(StringType)), StructField("prokind", StringType),
    StructField("proretset", BooleanType), StructField("provolatile", StringType),
    StructField("prolang", IntegerType), StructField("prosrc", StringType),
    StructField("proisstrict", BooleanType), StructField("prosecdef", BooleanType)))

  private def pgProc(spark: SparkSession): DataFrame =
    mkDf(spark, pgProcSchema, PgFunctions.procs.map { p =>
      Row(PgFunctions.procOid(p.name), p.name, Oids.PgCatalogNamespace,
        p.retOid, p.argOids.length.toShort, p.argOids,
        null, p.kind, false, if (p.volatile) "v" else "i",
        12, p.name, false, false)
    })

  private val pgOperatorSchema = StructType(Seq(
    StructField("oid", IntegerType), StructField("oprname", StringType),
    StructField("oprnamespace", IntegerType), StructField("oprkind", StringType),
    StructField("oprleft", IntegerType), StructField("oprright", IntegerType),
    StructField("oprresult", IntegerType), StructField("oprcom", IntegerType),
    StructField("oprnegate", IntegerType), StructField("oprcode", StringType)))

  /** Standard comparison / arithmetic / concat operators with pg's real
    * OIDs (public PostgreSQL catalog values — clients resolve operators
    * by (oprname, oprleft, oprright) but some tooling displays the OID).
    * Layout per type: (=, <>, <, <=, >, >=) then arithmetic.
    */
  private def pgOperator(spark: SparkSession): DataFrame = {
    val B = 16; val I4 = 23; val I8 = 20; val F8 = 701; val T = 25
    def cmp(eq: Int, ne: Int, lt: Int, le: Int, gt: Int, ge: Int, ty: Int, code: String) = Seq(
      Row(eq, "=", Oids.PgCatalogNamespace, "b", ty, ty, B, eq, ne, s"${code}eq"),
      Row(ne, "<>", Oids.PgCatalogNamespace, "b", ty, ty, B, ne, eq, s"${code}ne"),
      Row(lt, "<", Oids.PgCatalogNamespace, "b", ty, ty, B, gt, ge, s"${code}lt"),
      Row(le, "<=", Oids.PgCatalogNamespace, "b", ty, ty, B, ge, gt, s"${code}le"),
      Row(gt, ">", Oids.PgCatalogNamespace, "b", ty, ty, B, lt, le, s"${code}gt"),
      Row(ge, ">=", Oids.PgCatalogNamespace, "b", ty, ty, B, le, lt, s"${code}ge"))
    def arith(pl: Int, mi: Int, mul: Int, dv: Int, ty: Int, code: String) = Seq(
      Row(pl, "+", Oids.PgCatalogNamespace, "b", ty, ty, ty, pl, 0, s"${code}pl"),
      Row(mi, "-", Oids.PgCatalogNamespace, "b", ty, ty, ty, 0, 0, s"${code}mi"),
      Row(mul, "*", Oids.PgCatalogNamespace, "b", ty, ty, ty, mul, 0, s"${code}mul"),
      Row(dv, "/", Oids.PgCatalogNamespace, "b", ty, ty, ty, 0, 0, s"${code}div"))
    val rows =
      Seq(Row(91, "=", Oids.PgCatalogNamespace, "b", B, B, B, 91, 85, "booleq"),
        Row(85, "<>", Oids.PgCatalogNamespace, "b", B, B, B, 85, 91, "boolne")) ++
      cmp(96, 518, 97, 523, 521, 525, I4, "int4") ++
      cmp(410, 411, 412, 414, 413, 415, I8, "int8") ++
      cmp(98, 531, 664, 665, 666, 667, T, "text") ++
      cmp(670, 671, 672, 673, 674, 675, F8, "float8") ++
      arith(551, 552, 514, 528, I4, "int4") ++
      arith(684, 685, 686, 687, I8, "int8") ++
      arith(591, 592, 594, 593, F8, "float8") ++
      Seq(
        Row(654, "||", Oids.PgCatalogNamespace, "b", T, T, T, 0, 0, "textcat"),
        Row(1209, "~~", Oids.PgCatalogNamespace, "b", T, T, B, 0, 1210, "textlike"),
        Row(1210, "!~~", Oids.PgCatalogNamespace, "b", T, T, B, 0, 1209, "textnlike"))
    mkDf(spark, pgOperatorSchema, rows)
  }

  private val pgCastSchema = StructType(Seq(
    StructField("oid", IntegerType), StructField("castsource", IntegerType),
    StructField("casttarget", IntegerType), StructField("castfunc", IntegerType),
    StructField("castcontext", StringType), StructField("castmethod", StringType)))

  /** The numeric/temporal cast lattice drivers consult for implicit-cast
    * compatibility: widening = implicit 'i', narrowing = assignment 'a',
    * varchar↔text binary-coercible. OIDs are local (pg_cast OIDs are
    * never client-hardcoded).
    */
  private def pgCast(spark: SparkSession): DataFrame = {
    val I2 = 21; val I4 = 23; val I8 = 20; val F4 = 700; val F8 = 701
    val NUM = 1700; val T = 25; val VC = 1043; val D = 1082; val TS = 1114; val TSZ = 1184
    val implicitCasts = Seq(
      I2 -> I4, I2 -> I8, I4 -> I8, I2 -> F4, I2 -> F8, I4 -> F4, I4 -> F8,
      I8 -> F4, I8 -> F8, F4 -> F8, I2 -> NUM, I4 -> NUM, I8 -> NUM,
      NUM -> F4, NUM -> F8, D -> TS, D -> TSZ, TS -> TSZ)
    val assignmentCasts = Seq(
      I4 -> I2, I8 -> I4, I8 -> I2, F8 -> F4, F4 -> NUM, F8 -> NUM,
      NUM -> I2, NUM -> I4, NUM -> I8, F4 -> I4, F8 -> I4, F4 -> I8, F8 -> I8,
      TS -> D, TSZ -> D, TSZ -> TS)
    val binaryCoercible = Seq(T -> VC, VC -> T)
    val rows =
      implicitCasts.zipWithIndex.map { case ((s, t), i) => Row(9100 + i, s, t, 0, "i", "f") } ++
      assignmentCasts.zipWithIndex.map { case ((s, t), i) => Row(9200 + i, s, t, 0, "a", "f") } ++
      binaryCoercible.zipWithIndex.map { case ((s, t), i) => Row(9300 + i, s, t, 0, "i", "b") }
    mkDf(spark, pgCastSchema, rows)
  }

  // ---- index-AM metadata: pg_opfamily / pg_amop / pg_amproc --------------
  // Derived from the same comparison-operator registry as pgOperator above
  // (reference ships these as populated feathers — 146/945/696 rows
  // covering every built-in family; here we derive the families for the
  // types this engine actually serves, keyed to the real btree/hash AM
  // OIDs so `\d`-style client joins through pg_am resolve).

  private val BtreeAm = 403
  private val HashAm = 405

  /** (family name, element type OID, btree cmp oids (=,<>,<,<=,>,>=), code). */
  private case class OpFamily(name: String, ty: Int,
      eq: Int, ne: Int, lt: Int, le: Int, gt: Int, ge: Int, code: String)

  private val opFamilies = Seq(
    OpFamily("integer_ops", 23, 96, 518, 97, 523, 521, 525, "int4"),
    OpFamily("integer_ops", 20, 410, 411, 412, 414, 413, 415, "int8"),
    OpFamily("text_ops", 25, 98, 531, 664, 665, 666, 667, "text"),
    OpFamily("float_ops", 701, 670, 671, 672, 673, 674, 675, "float8"),
    OpFamily("bool_ops", 16, 91, 85, 0, 0, 0, 0, "bool"))

  private val pgOpfamilySchema = StructType(Seq(
    StructField("oid", IntegerType), StructField("opfmethod", IntegerType),
    StructField("opfname", StringType), StructField("opfnamespace", IntegerType),
    StructField("opfowner", IntegerType)))

  // Static catalog objects get fixed OIDs in the 9400+ range (local,
  // like pg_cast's 9100-9300 above) — NEVER Oids.of, which draws from
  // the 16384+ user counter and would shift pg_class's pinned
  // user-table OIDs.
  private def famOid(am: Int, name: String): Int = {
    val idx = opFamilies.map(_.name).distinct.indexOf(name)
    (if (am == BtreeAm) 9400 else 9420) + idx
  }

  private def pgOpfamily(spark: SparkSession): DataFrame =
    mkDf(spark, pgOpfamilySchema,
      opFamilies.map(_.name).distinct.flatMap { n =>
        Seq(Row(famOid(BtreeAm, n), BtreeAm, n, Oids.PgCatalogNamespace, 10),
          Row(famOid(HashAm, n), HashAm, n, Oids.PgCatalogNamespace, 10))
      })

  private val pgAmopSchema = StructType(Seq(
    StructField("oid", IntegerType), StructField("amopfamily", IntegerType),
    StructField("amoplefttype", IntegerType), StructField("amoprighttype", IntegerType),
    StructField("amopstrategy", ShortType), StructField("amoppurpose", StringType),
    StructField("amopopr", IntegerType), StructField("amopmethod", IntegerType),
    // psql \dAo+ joins through amopsortfamily; 0 = not an ordering op
    StructField("amopsortfamily", IntegerType)))

  private def pgAmop(spark: SparkSession): DataFrame =
    mkDf(spark, pgAmopSchema, opFamilies.flatMap { f =>
      // btree strategies 1..5 = (<, <=, =, >=, >); hash strategy 1 = (=)
      val btree = Seq(1 -> f.lt, 2 -> f.le, 3 -> f.eq, 4 -> f.ge, 5 -> f.gt)
        .filter(_._2 != 0)
        .map { case (strat, opr) =>
          Row(9440 + opFamilies.indexOf(f) * 6 + strat, famOid(BtreeAm, f.name),
            f.ty, f.ty, strat.toShort, "s", opr, BtreeAm, 0)
        }
      val hash = Seq(Row(9480 + opFamilies.indexOf(f),
        famOid(HashAm, f.name), f.ty, f.ty, 1.toShort, "s", f.eq, HashAm, 0))
      btree ++ hash
    })

  private val pgAmprocSchema = StructType(Seq(
    StructField("oid", IntegerType), StructField("amprocfamily", IntegerType),
    StructField("amproclefttype", IntegerType), StructField("amprocrighttype", IntegerType),
    StructField("amprocnum", ShortType), StructField("amproc", StringType)))

  private def pgAmproc(spark: SparkSession): DataFrame =
    mkDf(spark, pgAmprocSchema, opFamilies.flatMap { f =>
      Seq(
        Row(9490 + opFamilies.indexOf(f) * 2, famOid(BtreeAm, f.name),
          f.ty, f.ty, 1.toShort, s"bt${f.code}cmp"),
        Row(9491 + opFamilies.indexOf(f) * 2, famOid(HashAm, f.name),
          f.ty, f.ty, 1.toShort, s"hash${f.code}"))
    })

  // ---- text-search catalog (pg_ts_*) -------------------------------------
  // Populated with pg's standard shape: the default parser, the five
  // dictionary templates, simple + one snowball stemmer per language,
  // and a config per dictionary mapping the default parser's 19 word-ish
  // token types to that dictionary (the same cardinality the reference's
  // feathers carry: 1 / 5 / 29 / 29 / 551 rows).

  private val snowballLangs = Seq(
    "arabic", "armenian", "basque", "catalan", "danish", "dutch", "english",
    "finnish", "french", "german", "greek", "hindi", "hungarian", "indonesian",
    "irish", "italian", "lithuanian", "nepali", "norwegian", "portuguese",
    "romanian", "russian", "serbian", "spanish", "swedish", "tamil", "turkish",
    "yiddish")

  private val tsTokenTypes = Seq(
    "asciiword", "word", "numword", "email", "url", "host", "sfloat",
    "version", "hword_numpart", "hword_part", "hword_asciipart", "numhword",
    "asciihword", "hword", "url_path", "file", "float", "int", "uint")

  private val DefaultTsParser = 3722 // pg's "default" parser OID

  private val tsNames = "simple" +: snowballLangs
  private def tsDictOid(name: String): Int =
    9520 + tsNames.indexOf(name.stripSuffix("_stem"))
  private def tsConfigOid(name: String): Int = 9560 + tsNames.indexOf(name)
  private def tsTmplOid(name: String): Int =
    9510 + Seq("simple", "synonym", "ispell", "thesaurus", "snowball").indexOf(name)

  private def pgTsParser(spark: SparkSession): DataFrame =
    mkDf(spark, StructType(Seq(
      StructField("oid", IntegerType), StructField("prsname", StringType),
      StructField("prsnamespace", IntegerType), StructField("prsstart", StringType),
      StructField("prstoken", StringType), StructField("prsend", StringType),
      StructField("prsheadline", StringType), StructField("prslextype", StringType))),
      Seq(Row(DefaultTsParser, "default", Oids.PgCatalogNamespace, "prsd_start",
        "prsd_nexttoken", "prsd_end", "prsd_headline", "prsd_lextype")))

  private def pgTsTemplate(spark: SparkSession): DataFrame =
    mkDf(spark, StructType(Seq(
      StructField("oid", IntegerType), StructField("tmplname", StringType),
      StructField("tmplnamespace", IntegerType), StructField("tmplinit", StringType),
      StructField("tmpllexize", StringType))),
      Seq("simple", "synonym", "ispell", "thesaurus", "snowball").map(n =>
        Row(tsTmplOid(n), n, Oids.PgCatalogNamespace,
          s"d${n}_init", s"d${n}_lexize")))

  private def pgTsDict(spark: SparkSession): DataFrame =
    mkDf(spark, StructType(Seq(
      StructField("oid", IntegerType), StructField("dictname", StringType),
      StructField("dictnamespace", IntegerType), StructField("dictowner", IntegerType),
      StructField("dicttemplate", IntegerType), StructField("dictinitoption", StringType))),
      Row(tsDictOid("simple"), "simple", Oids.PgCatalogNamespace, 10,
        tsTmplOid("simple"), null) +:
      snowballLangs.map(l =>
        Row(tsDictOid(s"${l}_stem"), s"${l}_stem", Oids.PgCatalogNamespace, 10,
          tsTmplOid("snowball"), s"language = '$l'")))

  private def pgTsConfig(spark: SparkSession): DataFrame =
    mkDf(spark, StructType(Seq(
      StructField("oid", IntegerType), StructField("cfgname", StringType),
      StructField("cfgnamespace", IntegerType), StructField("cfgowner", IntegerType),
      StructField("cfgparser", IntegerType))),
      ("simple" +: snowballLangs).map(n =>
        Row(tsConfigOid(n), n, Oids.PgCatalogNamespace, 10, DefaultTsParser)))

  private def pgTsConfigMap(spark: SparkSession): DataFrame =
    mkDf(spark, StructType(Seq(
      StructField("mapcfg", IntegerType), StructField("maptokentype", IntegerType),
      StructField("mapseqno", IntegerType), StructField("mapdict", IntegerType))),
      ("simple" +: snowballLangs).flatMap { cfg =>
        val dict = if (cfg == "simple") tsDictOid("simple") else tsDictOid(s"${cfg}_stem")
        tsTokenTypes.zipWithIndex.map { case (_, tok) =>
          Row(tsConfigOid(cfg), tok + 1, 1, dict)
        }
      })

  private def pgAuthid(spark: SparkSession): DataFrame =
    mkDf(spark, StructType(Seq(
      StructField("oid", IntegerType), StructField("rolname", StringType),
      StructField("rolsuper", BooleanType), StructField("rolinherit", BooleanType),
      StructField("rolcreaterole", BooleanType), StructField("rolcreatedb", BooleanType),
      StructField("rolcanlogin", BooleanType), StructField("rolreplication", BooleanType),
      StructField("rolbypassrls", BooleanType), StructField("rolconnlimit", IntegerType),
      StructField("rolpassword", StringType), StructField("rolvaliduntil", StringType))),
      Seq(Row(10, "postgres", true, true, true, true, true, false, false, -1,
        null, null)))

  // ---- entry points ------------------------------------------------------

  /** Register every static table/view once (server startup). */
  def registerStatic(spark: SparkSession): Unit = {
    // the UDFs read the oid maps each refresh fills, so once suffices
    registerIndexDefUdfs(spark)
    register(spark, "pg_namespace", pgNamespace(spark))
    register(spark, "pg_database", pgDatabase(spark))
    register(spark, "pg_type", pgTypeDf(spark))
    register(spark, "pg_settings", pgSettings(spark))
    register(spark, "pg_roles", pgRoles(spark))
    register(spark, "pg_get_keywords", pgGetKeywords(spark))
    register(spark, "pg_am", mkDf(spark,
      StructType(Seq(StructField("oid", IntegerType), StructField("amname", StringType),
        StructField("amhandler", IntegerType), StructField("amtype", StringType))),
      // heap + the index AMs the opfamily/amop/amproc tables reference
      // (standard pg access-method OIDs; reference ships pg_am as a
      // populated feather, pg_catalog.rs:493-1071)
      Seq(Row(2, "heap", 0, "t"), Row(BtreeAm, "btree", 0, "i"),
        Row(HashAm, "hash", 0, "i"))))
    register(spark, "pg_collation", mkDf(spark,
      StructType(Seq(StructField("oid", IntegerType), StructField("collname", StringType),
        StructField("collnamespace", IntegerType))),
      Seq(Row(100, "default", Oids.PgCatalogNamespace))))
    register(spark, "pg_stat_gssapi", mkDf(spark,
      StructType(Seq(StructField("pid", IntegerType),
        StructField("gss_authenticated", BooleanType), StructField("principal", StringType),
        StructField("encrypted", BooleanType), StructField("credentials_delegated", BooleanType))),
      Seq(Row(1, false, null, false, false))))
    register(spark, "pg_stat_activity", mkDf(spark,
      StructType(Seq(StructField("pid", IntegerType), StructField("datname", StringType),
        StructField("usename", StringType), StructField("application_name", StringType),
        StructField("state", StringType), StructField("query", StringType))),
      Seq(Row(1, "postgres", "postgres", "", "active", ""))))
    // empty-but-correct-schema views (reference: pg_views.rs:7-90,
    // empty_table.rs)
    emptyView(spark, "pg_views", StructType(Seq(
      StructField("schemaname", StringType), StructField("viewname", StringType),
      StructField("viewowner", StringType), StructField("definition", StringType))))
    emptyView(spark, "pg_matviews", StructType(Seq(
      StructField("schemaname", StringType), StructField("matviewname", StringType),
      StructField("matviewowner", StringType), StructField("tablespace", StringType),
      StructField("hasindexes", BooleanType), StructField("ispopulated", BooleanType),
      StructField("definition", StringType))))
    emptyView(spark, "pg_description", StructType(Seq(
      StructField("objoid", IntegerType), StructField("classoid", IntegerType),
      StructField("objsubid", IntegerType), StructField("description", StringType))))
    emptyView(spark, "pg_index", pgIndexSchema)
    emptyView(spark, "pg_constraint", StructType(Seq(
      StructField("oid", IntegerType), StructField("conname", StringType),
      StructField("connamespace", IntegerType), StructField("contype", StringType),
      StructField("condeferrable", BooleanType), StructField("condeferred", BooleanType),
      StructField("convalidated", BooleanType), StructField("conrelid", IntegerType),
      StructField("contypid", IntegerType), StructField("conindid", IntegerType),
      StructField("conparentid", IntegerType),
      StructField("confrelid", IntegerType), StructField("conkey", ArrayType(ShortType)),
      StructField("confkey", ArrayType(ShortType)), StructField("conbin", StringType))))
    register(spark, "pg_proc", pgProc(spark))
    register(spark, "pg_operator", pgOperator(spark))
    register(spark, "pg_cast", pgCast(spark))
    emptyView(spark, "pg_attrdef", StructType(Seq(
      StructField("oid", IntegerType), StructField("adrelid", IntegerType),
      StructField("adnum", ShortType), StructField("adbin", StringType))))
    emptyView(spark, "pg_inherits", StructType(Seq(
      StructField("inhrelid", IntegerType), StructField("inhparent", IntegerType),
      StructField("inhseqno", IntegerType),
      StructField("inhdetachpending", BooleanType))))
    emptyView(spark, "pg_auth_members", StructType(Seq(
      StructField("roleid", IntegerType), StructField("member", IntegerType),
      StructField("grantor", IntegerType), StructField("admin_option", BooleanType))))
    emptyView(spark, "pg_policies", StructType(Seq(
      StructField("schemaname", StringType), StructField("tablename", StringType),
      StructField("policyname", StringType), StructField("permissive", StringType),
      StructField("roles", ArrayType(StringType)), StructField("cmd", StringType),
      StructField("qual", StringType), StructField("with_check", StringType))))
    emptyView(spark, "pg_replication_slots", StructType(Seq(
      StructField("slot_name", StringType), StructField("plugin", StringType),
      StructField("slot_type", StringType), StructField("datoid", IntegerType),
      StructField("active", BooleanType))))
    emptyView(spark, "pg_stat_user_tables", StructType(Seq(
      StructField("relid", IntegerType), StructField("schemaname", StringType),
      StructField("relname", StringType), StructField("seq_scan", LongType),
      StructField("seq_tup_read", LongType), StructField("idx_scan", LongType),
      StructField("n_live_tup", LongType), StructField("n_dead_tup", LongType))))
    emptyView(spark, "pg_extension", StructType(Seq(
      StructField("oid", IntegerType), StructField("extname", StringType),
      StructField("extowner", IntegerType), StructField("extnamespace", IntegerType),
      StructField("extrelocatable", BooleanType), StructField("extversion", StringType))))
    emptyView(spark, "pg_locks", StructType(Seq(
      StructField("locktype", StringType), StructField("database", IntegerType),
      StructField("relation", IntegerType), StructField("pid", IntegerType),
      StructField("mode", StringType), StructField("granted", BooleanType))))
    emptyView(spark, "pg_enum", StructType(Seq(
      StructField("oid", IntegerType), StructField("enumtypid", IntegerType),
      StructField("enumsortorder", FloatType), StructField("enumlabel", StringType))))
    emptyView(spark, "pg_policy", StructType(Seq(
      StructField("oid", IntegerType), StructField("polname", StringType),
      StructField("polrelid", IntegerType), StructField("polcmd", StringType),
      StructField("polpermissive", BooleanType),
      StructField("polroles", ArrayType(IntegerType)),
      StructField("polqual", StringType), StructField("polwithcheck", StringType))))
    // remaining static-catalog long tail clients scan (schema-correct,
    // zero rows — reference ships these as feather files,
    // pg_catalog.rs:121-191)
    emptyView(spark, "pg_publication", StructType(Seq(
      StructField("oid", IntegerType), StructField("pubname", StringType),
      StructField("pubowner", IntegerType), StructField("puballtables", BooleanType),
      StructField("pubinsert", BooleanType), StructField("pubupdate", BooleanType),
      StructField("pubdelete", BooleanType))))
    emptyView(spark, "pg_publication_rel", StructType(Seq(
      StructField("oid", IntegerType), StructField("prpubid", IntegerType),
      StructField("prrelid", IntegerType), StructField("prqual", StringType),
      StructField("prattrs", ArrayType(ShortType)))))
    emptyView(spark, "pg_publication_namespace", StructType(Seq(
      StructField("oid", IntegerType), StructField("pnpubid", IntegerType),
      StructField("pnnspid", IntegerType))))
    emptyView(spark, "pg_statistic_ext", StructType(Seq(
      StructField("oid", IntegerType), StructField("stxrelid", IntegerType),
      StructField("stxname", StringType), StructField("stxnamespace", IntegerType),
      StructField("stxstattarget", IntegerType),
      StructField("stxkind", ArrayType(StringType)))))
    emptyView(spark, "pg_trigger", StructType(Seq(
      StructField("oid", IntegerType), StructField("tgrelid", IntegerType),
      StructField("tgname", StringType), StructField("tgfoid", IntegerType),
      StructField("tgtype", ShortType), StructField("tgenabled", StringType),
      StructField("tgisinternal", BooleanType))))
    emptyView(spark, "pg_rewrite", StructType(Seq(
      StructField("oid", IntegerType), StructField("rulename", StringType),
      StructField("ev_class", IntegerType), StructField("ev_type", StringType),
      StructField("ev_enabled", StringType), StructField("is_instead", BooleanType))))
    emptyView(spark, "pg_depend", StructType(Seq(
      StructField("classid", IntegerType), StructField("objid", IntegerType),
      StructField("objsubid", IntegerType), StructField("refclassid", IntegerType),
      StructField("refobjid", IntegerType), StructField("refobjsubid", IntegerType),
      StructField("deptype", StringType))))
    emptyView(spark, "pg_shdescription", StructType(Seq(
      StructField("objoid", IntegerType), StructField("classoid", IntegerType),
      StructField("description", StringType))))
    emptyView(spark, "pg_tablespace", StructType(Seq(
      StructField("oid", IntegerType), StructField("spcname", StringType),
      StructField("spcowner", IntegerType), StructField("spcacl", ArrayType(StringType)),
      StructField("spcoptions", ArrayType(StringType)))))
    emptyView(spark, "pg_event_trigger", StructType(Seq(
      StructField("oid", IntegerType), StructField("evtname", StringType),
      StructField("evtevent", StringType), StructField("evtowner", IntegerType),
      StructField("evtenabled", StringType))))
    emptyView(spark, "pg_language", StructType(Seq(
      StructField("oid", IntegerType), StructField("lanname", StringType),
      StructField("lanowner", IntegerType), StructField("lanispl", BooleanType))))
    register(spark, "pg_aggregate", mkDf(spark,
      StructType(Seq(
        StructField("aggfnoid", IntegerType), StructField("aggkind", StringType),
        StructField("aggnumdirectargs", ShortType), StructField("aggtransfn", StringType))),
      PgFunctions.procs.filter(_.kind == "a").map(p =>
        Row(PgFunctions.procOid(p.name), "n", 0.toShort, p.name))))
    emptyView(spark, "pg_opclass", StructType(Seq(
      StructField("oid", IntegerType), StructField("opcname", StringType),
      StructField("opcmethod", IntegerType), StructField("opcintype", IntegerType))))
    emptyView(spark, "pg_conversion", StructType(Seq(
      StructField("oid", IntegerType), StructField("conname", StringType),
      StructField("connamespace", IntegerType), StructField("conforencoding", IntegerType),
      StructField("contoencoding", IntegerType))))
    emptyView(spark, "pg_default_acl", StructType(Seq(
      StructField("oid", IntegerType), StructField("defaclrole", IntegerType),
      StructField("defaclnamespace", IntegerType), StructField("defaclobjtype", StringType),
      StructField("defaclacl", ArrayType(StringType)))))
    emptyView(spark, "pg_partitioned_table", StructType(Seq(
      StructField("partrelid", IntegerType), StructField("partstrat", StringType),
      StructField("partnatts", ShortType), StructField("partattrs", ArrayType(ShortType)))))
    emptyView(spark, "pg_range", StructType(Seq(
      StructField("rngtypid", IntegerType), StructField("rngsubtype", IntegerType),
      StructField("rngcollation", IntegerType))))
    emptyView(spark, "pg_user_mapping", StructType(Seq(
      StructField("oid", IntegerType), StructField("umuser", IntegerType),
      StructField("umserver", IntegerType), StructField("umoptions", ArrayType(StringType)))))
    emptyView(spark, "pg_foreign_server", StructType(Seq(
      StructField("oid", IntegerType), StructField("srvname", StringType),
      StructField("srvowner", IntegerType), StructField("srvfdw", IntegerType))))
    emptyView(spark, "pg_foreign_data_wrapper", StructType(Seq(
      StructField("oid", IntegerType), StructField("fdwname", StringType),
      StructField("fdwowner", IntegerType), StructField("fdwhandler", IntegerType))))
    emptyView(spark, "pg_foreign_table", StructType(Seq(
      StructField("ftrelid", IntegerType), StructField("ftserver", IntegerType),
      StructField("ftoptions", ArrayType(StringType)))))
    emptyView(spark, "pg_subscription", StructType(Seq(
      StructField("oid", IntegerType), StructField("subname", StringType),
      StructField("subowner", IntegerType), StructField("subenabled", BooleanType))))
    emptyView(spark, "pg_shadow", StructType(Seq(
      StructField("usename", StringType), StructField("usesysid", IntegerType),
      StructField("usecreatedb", BooleanType), StructField("usesuper", BooleanType),
      StructField("passwd", StringType))))
    emptyView(spark, "pg_user", StructType(Seq(
      StructField("usename", StringType), StructField("usesysid", IntegerType),
      StructField("usecreatedb", BooleanType), StructField("usesuper", BooleanType))))
    // index-AM metadata + text-search catalog + authid (see section above)
    register(spark, "pg_opfamily", pgOpfamily(spark))
    register(spark, "pg_amop", pgAmop(spark))
    register(spark, "pg_amproc", pgAmproc(spark))
    register(spark, "pg_ts_parser", pgTsParser(spark))
    register(spark, "pg_ts_template", pgTsTemplate(spark))
    register(spark, "pg_ts_dict", pgTsDict(spark))
    register(spark, "pg_ts_config", pgTsConfig(spark))
    register(spark, "pg_ts_config_map", pgTsConfigMap(spark))
    register(spark, "pg_authid", pgAuthid(spark))
    // remaining reference feathers that are empty (or whose content
    // describes state this engine does not track: planner statistics,
    // large objects, initial ACLs) — schema-correct, zero rows
    emptyView(spark, "pg_statistic", StructType(Seq(
      StructField("starelid", IntegerType), StructField("staattnum", ShortType),
      StructField("stainherit", BooleanType), StructField("stanullfrac", FloatType),
      StructField("stawidth", IntegerType), StructField("stadistinct", FloatType),
      StructField("stakind1", ShortType), StructField("stakind2", ShortType),
      StructField("stakind3", ShortType), StructField("stakind4", ShortType),
      StructField("stakind5", ShortType))))
    emptyView(spark, "pg_statistic_ext_data", StructType(Seq(
      StructField("stxoid", IntegerType), StructField("stxdinherit", BooleanType),
      StructField("stxdndistinct", StringType), StructField("stxddependencies", StringType),
      StructField("stxdmcv", StringType), StructField("stxdexpr", StringType))))
    emptyView(spark, "pg_init_privs", StructType(Seq(
      StructField("objoid", IntegerType), StructField("classoid", IntegerType),
      StructField("objsubid", IntegerType), StructField("privtype", StringType),
      StructField("initprivs", StringType))))
    emptyView(spark, "pg_db_role_setting", StructType(Seq(
      StructField("setdatabase", IntegerType), StructField("setrole", IntegerType),
      StructField("setconfig", StringType))))
    emptyView(spark, "pg_largeobject", StructType(Seq(
      StructField("loid", IntegerType), StructField("pageno", IntegerType),
      StructField("data", BinaryType))))
    emptyView(spark, "pg_largeobject_metadata", StructType(Seq(
      StructField("oid", IntegerType), StructField("lomowner", IntegerType),
      StructField("lomacl", StringType))))
    emptyView(spark, "pg_parameter_acl", StructType(Seq(
      StructField("oid", IntegerType), StructField("parname", StringType),
      StructField("paracl", StringType))))
    emptyView(spark, "pg_replication_origin", StructType(Seq(
      StructField("roident", IntegerType), StructField("roname", StringType))))
    emptyView(spark, "pg_seclabel", StructType(Seq(
      StructField("objoid", IntegerType), StructField("classoid", IntegerType),
      StructField("objsubid", IntegerType), StructField("provider", StringType),
      StructField("label", StringType))))
    emptyView(spark, "pg_shseclabel", StructType(Seq(
      StructField("objoid", IntegerType), StructField("classoid", IntegerType),
      StructField("provider", StringType), StructField("label", StringType))))
    emptyView(spark, "pg_shdepend", StructType(Seq(
      StructField("dbid", IntegerType), StructField("classid", IntegerType),
      StructField("objid", IntegerType), StructField("objsubid", IntegerType),
      StructField("refclassid", IntegerType), StructField("refobjid", IntegerType),
      StructField("deptype", StringType))))
    emptyView(spark, "pg_subscription_rel", StructType(Seq(
      StructField("srsubid", IntegerType), StructField("srrelid", IntegerType),
      StructField("srsubstate", StringType), StructField("srsublsn", StringType))))
    emptyView(spark, "pg_transform", StructType(Seq(
      StructField("oid", IntegerType), StructField("trftype", IntegerType),
      StructField("trflang", IntegerType), StructField("trffromsql", IntegerType),
      StructField("trftosql", IntegerType))))
  }

  // ---- information_schema (ANSI view of the same snapshot; clients
  // reach it via Compat's information_schema.X → information_schema_X
  // qualifier fold) ------------------------------------------------------

  private val infoTablesSchema = StructType(Seq(
    StructField("table_catalog", StringType), StructField("table_schema", StringType),
    StructField("table_name", StringType), StructField("table_type", StringType)))

  private val infoColumnsSchema = StructType(Seq(
    StructField("table_catalog", StringType), StructField("table_schema", StringType),
    StructField("table_name", StringType), StructField("column_name", StringType),
    StructField("ordinal_position", IntegerType), StructField("column_default", StringType),
    StructField("is_nullable", StringType), StructField("data_type", StringType)))

  private def infoTables(spark: SparkSession, tables: Seq[(String, StructType)],
      views: Set[String]): DataFrame =
    mkDf(spark, infoTablesSchema, tables.map { case (name, _) =>
      Row("postgres", "public", name,
        if (views.contains(name)) "VIEW" else "BASE TABLE")
    })

  private def infoColumns(spark: SparkSession, tables: Seq[(String, StructType)]): DataFrame =
    mkDf(spark, infoColumnsSchema, tables.flatMap { case (name, schema) =>
      schema.fields.zipWithIndex.map { case (f, i) =>
        Row("postgres", "public", name, f.name, i + 1, null,
          if (f.nullable) "YES" else "NO",
          PgFunctions.formatType(PgType.oidOf(f), -1))
      }
    })

  /** Per-session fingerprint of the last dynamic snapshot; refresh is a
    * no-op while it is unchanged (temp views are session-scoped, so the
    * cache must be too — weak keys let dropped sessions collect). DDL
    * through the server calls [[invalidate]], so CREATE OR REPLACE of a
    * same-named view (invisible to the name fingerprint) still forces a
    * rebuild.
    */
  private val lastSnapshot =
    java.util.Collections.synchronizedMap(
      new java.util.WeakHashMap[SparkSession, Seq[String]]())

  def invalidate(): Unit = lastSnapshot.clear()

  /** Recompute the dynamic tables from the live catalog — but only when
    * the user-table set actually changed (the reference recomputes per
    * scan but only the ONE table being scanned, pg_class.rs:116-119;
    * recomputing all dynamic views on every catalog-touching query cost
    * ~0.7 s/query — round-5 verdict finding #4).
    */
  /** The 3-column relation shape `SELECT * FROM <sequence>` exposes. */
  private val seqRelSchema = StructType(Seq(
    StructField("last_value", LongType, nullable = false),
    StructField("log_cnt", LongType, nullable = false),
    StructField("is_called", BooleanType, nullable = false)))

  def refresh(spark: SparkSession): Unit = {
    val names = userTables(spark)
    val seqSnap = PgSequences.snapshot
    val fingerprint = names ++ seqSnap.map("seq:" + _._1) ++
      PgIndexes.names.map("idx:" + _) :+ ("uqv:" + PgConstraints.version) :+
      ("vw:" + PgViews.version) :+ ("mv:" + PgMatViews.version) :+
      ("cm:" + PgComments.version)
    if (fingerprint == lastSnapshot.get(spark)) return
    lastSnapshot.put(spark, fingerprint)
    // wire views analyze with pg semantics, as at every use
    val tables = PgSemantics.withPg(names.map(n => n -> spark.table(n).schema))
    val ixRows = indexRows(tables)
    refreshIndexDefs(ixRows, tables)
    // wire CREATE VIEW relations surface as relkind 'v' + pg_views rows
    // (wire-registered data files are also TEMP views but stay relkind
    // 'r' — they play pg's table role; PgViews tracks which is which)
    val viewDefs: Map[String, String] = {
      val wire = PgViews.all
      names.flatMap(n => wire.get(n).map(n -> _)).toMap
    }
    viewDefByOid.clear()
    viewDefs.foreach { case (n, d) =>
      viewDefByOid.put(Oids.of(s"rel:$n"), s" $d;")
    }
    register(spark, "pg_indexes", pgIndexesView(spark, tables))
    register(spark, "pg_index", pgIndex(spark, ixRows))
    register(spark, "pg_constraint", pgConstraint(spark, ixRows, tables))
    register(spark, "pg_views", mkDf(spark, StructType(Seq(
      StructField("schemaname", StringType), StructField("viewname", StringType),
      StructField("viewowner", StringType), StructField("definition", StringType))),
      viewDefs.toSeq.sortBy(_._1).map { case (n, d) =>
        Row("public", n, "postgres", d) }))
    val matDefs: Map[String, PgMatViews.MatView] = {
      val reg = PgMatViews.all
      names.flatMap(n => reg.get(n).map(n -> _)).toMap
    }
    register(spark, "pg_matviews", mkDf(spark, StructType(Seq(
      StructField("schemaname", StringType), StructField("matviewname", StringType),
      StructField("matviewowner", StringType), StructField("tablespace", StringType),
      StructField("hasindexes", BooleanType), StructField("ispopulated", BooleanType),
      StructField("definition", StringType))),
      matDefs.toSeq.sortBy(_._1).map { case (n, mv) =>
        Row("public", n, "postgres", null, false, mv.populated, mv.definition) }))
    register(spark, "pg_class",
      pgClass(spark, tables, seqSnap.map(_._1), ixRows, viewDefs,
        matDefs.keySet))
    // COMMENT ON storage — classoid 1259 (pg_class) for all rel kinds
    register(spark, "pg_description", mkDf(spark, StructType(Seq(
      StructField("objoid", IntegerType), StructField("classoid", IntegerType),
      StructField("objsubid", IntegerType), StructField("description", StringType))),
      PgComments.all.map { case (o, sub, d) => Row(o, 1259, sub, d) }))
    register(spark, "pg_attribute",
      pgAttribute(spark, tables ++ seqSnap.map(_._1 -> seqRelSchema)))
    registerSequenceViews(spark, seqSnap)
    // pg lists views in pg_views only, not pg_tables;
    // information_schema.tables carries both with table_type
    register(spark, "pg_tables",
      pgTables(spark, tables.filterNot(t =>
        viewDefs.contains(t._1) || matDefs.contains(t._1))))
    // pg keeps matviews OUT of information_schema (non-standard objects)
    register(spark, "information_schema_tables",
      infoTables(spark, tables.filterNot(t => matDefs.contains(t._1)),
        viewDefs.keySet))
    register(spark, "information_schema_columns", infoColumns(spark, tables))
    register(spark, "information_schema_schemata", mkDf(spark,
      StructType(Seq(StructField("catalog_name", StringType),
        StructField("schema_name", StringType), StructField("schema_owner", StringType))),
      Seq(Row("postgres", "public", "postgres"),
        Row("postgres", "pg_catalog", "postgres"),
        Row("postgres", "information_schema", "postgres"))))
    register(spark, "information_schema_views", mkDf(spark,
      StructType(Seq(StructField("table_catalog", StringType),
        StructField("table_schema", StringType), StructField("table_name", StringType),
        StructField("view_definition", StringType))),
      viewDefs.toSeq.sortBy(_._1).map { case (n, d) =>
        Row("postgres", "public", n, d) }))
  }

  /** Sequence catalog surface: `pg_sequence` (DDL-static, rebuilt on
    * the snapshot fingerprint which changes with CREATE/DROP),
    * `pg_sequences` (the user view — `last_value` reads LIVE state
    * through a nondeterministic UDF so nextval needs no catalog
    * refresh), `information_schema.sequences`, and one 3-column
    * relation view per sequence (`SELECT * FROM s` →
    * last_value|log_cnt|is_called, live the same way; pin:
    * live pg 15 shows 1|0|f fresh and 2|31|t after two nextvals).
    */
  private def registerSequenceViews(spark: SparkSession,
      seqSnap: Seq[(String, PgSequences.SeqDef, Long, Boolean)]): Unit = {
    PgSequences.registerUdfs(spark) // views below resolve these at build
    register(spark, "pg_sequence", mkDf(spark, StructType(Seq(
      StructField("seqrelid", IntegerType), StructField("seqtypid", IntegerType),
      StructField("seqstart", LongType), StructField("seqincrement", LongType),
      StructField("seqmax", LongType), StructField("seqmin", LongType),
      StructField("seqcache", LongType), StructField("seqcycle", BooleanType))),
      seqSnap.map { case (n, d, _, _) =>
        Row(Oids.of(s"rel:$n"), d.typid, d.start, d.increment, d.maxV, d.minV,
          1L, d.cycle)
      }))
    val pgSequencesBase = mkDf(spark, StructType(Seq(
      StructField("schemaname", StringType), StructField("sequencename", StringType),
      StructField("sequenceowner", StringType), StructField("data_type", StringType),
      StructField("start_value", LongType), StructField("min_value", LongType),
      StructField("max_value", LongType), StructField("increment_by", LongType),
      StructField("cycle", BooleanType), StructField("cache_size", LongType))),
      seqSnap.map { case (n, d, _, _) =>
        Row("public", n, "postgres", PgSequences.typeName(d.typid),
          d.start, d.minV, d.maxV, d.increment, d.cycle, 1L)
      })
    register(spark, "pg_sequences", pgSequencesBase.withColumn("last_value",
      org.apache.spark.sql.functions.call_udf("pg_seq_last_value_vis",
        org.apache.spark.sql.functions.col("sequencename"))))
    register(spark, "information_schema_sequences", mkDf(spark, StructType(Seq(
      StructField("sequence_catalog", StringType),
      StructField("sequence_schema", StringType),
      StructField("sequence_name", StringType),
      StructField("data_type", StringType),
      StructField("numeric_precision", IntegerType),
      StructField("numeric_precision_radix", IntegerType),
      StructField("numeric_scale", IntegerType),
      StructField("start_value", StringType),
      StructField("minimum_value", StringType),
      StructField("maximum_value", StringType),
      StructField("increment", StringType),
      StructField("cycle_option", StringType))),
      seqSnap.map { case (n, d, _, _) =>
        val prec = d.typid match { case 21 => 16; case 23 => 32; case _ => 64 }
        Row("postgres", "public", n, PgSequences.typeName(d.typid), prec, 2, 0,
          d.start.toString, d.minV.toString, d.maxV.toString,
          d.increment.toString, if (d.cycle) "YES" else "NO")
      }))
    val fresh = seqSnap.map(_._1).toSet
    val prior = Option(seqRelViews.get(spark)).getOrElse(Set.empty[String])
    (prior -- fresh).foreach(spark.catalog.dropTempView) // dropped sequences
    seqRelViews.put(spark, fresh)
    seqSnap.foreach { case (n, _, _, _) =>
      if (!catalogViewNames.contains(n) && !n.startsWith("pg_")) {
        val esc = n.replace("'", "''")
        register(spark, n, spark.sql(
          s"SELECT pg_seq_last_value('$esc') AS last_value, " +
            s"pg_seq_log_cnt('$esc') AS log_cnt, " +
            s"pg_seq_is_called('$esc') AS is_called"))
      }
    }
  }

  /** Per-session names of the sequence relation views we registered,
    * so a DROP SEQUENCE's next refresh can retire the stale view. */
  private val seqRelViews =
    java.util.Collections.synchronizedMap(
      new java.util.WeakHashMap[SparkSession, Set[String]]())

  private val staticDone =
    java.util.Collections.synchronizedMap(
      new java.util.WeakHashMap[SparkSession, java.lang.Boolean]())

  /** Full registration: static (once per session) + dynamic snapshot.
    * Static content never changes after registration, so per-query
    * callers (the q-entries, Handlers) pay only the fingerprint check.
    */
  def registerAll(spark: SparkSession): Unit = {
    if (staticDone.put(spark, java.lang.Boolean.TRUE) == null)
      registerStatic(spark)
    refresh(spark)
  }
}
