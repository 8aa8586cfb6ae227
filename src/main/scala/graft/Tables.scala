package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Table access for the driver-generated TPC-H-ish testdata
  * (see TESTDATA.md / FIXTURES.md §2). Tables are registered as temp
  * views so queries can be expressed in plain Spark SQL — mirroring
  * the reference's model of a catalog of registered file-backed tables
  * (reference: datafusion-postgres-cli/src/main.rs:132-182 registers
  * CSV/JSON/Parquet/Avro files as named tables).
  */
object Tables {
  val all: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  /** Session config every graft session needs at construction time:
    * `events.ts` is TIMESTAMP(NANOS) parquet, which Spark 4 rejects
    * ([PARQUET_TYPE_ILLEGAL]) unless read as long ns. Set once at
    * session build (Verify/Bench/Cli/SparkSpec) — NOT inside read
    * helpers, which the live multi-connection server shares and which
    * must therefore stay free of session-global side effects.
    */
  val sessionConfs: Map[String, String] =
    Map(
      "spark.sql.legacy.parquet.nanosAsLong" -> "true",
      // Keep AQE's default 1 MiB coalescing floor. Round 10 dropped it
      // to 16 KiB to parallelize CPU-bound JSON projections over tiny
      // shuffles, but interleaved A/B at sf0.1 showed the global knob
      // destabilizes the multi-stage LSH gates (q43: 2.0 s at 1 MiB vs
      // 3.6–13 s at 16 KiB — tiny-partition task storms across their
      // many shuffle stages). The projection-parallelism problem is
      // solved in the queries themselves instead: fan out BEFORE the
      // expensive projection (repartition(defaultParallelism) →
      // project → sort), which keeps full parallelism under any
      // coalescing floor and is inert at production scale.
      "spark.sql.adaptive.coalescePartitions.minPartitionSize" -> "1MB",
      // Whole-stage-codegen class cache: the default 100-entry LRU
      // holds ~a third of one pass over this suite (148 queries × 2-5
      // codegen units), so by the time a query comes around again its
      // generated classes have been evicted and every execution pays
      // Janino recompilation (~0.1-0.5 s per query, r19 profiling:
      // warm reruns of the same query are 2-3× faster than bench
      // samples). 2000 entries keeps every unit resident; class
      // metadata for ~2000 small classes is a few tens of MB — noise
      // against the 128 GiB heap, and the same knob helps any
      // production session running a mixed query workload. Entries
      // are statement SHAPES, not statements: constants reach the
      // generated code through `references` (plans.ReferenceLiterals),
      // so a keyed read that comes back with a new key reuses its
      // classes instead of adding (and evicting) two more.
      "spark.sql.codegen.cache.maxEntries" -> "2000")

  /** Read one table as a DataFrame. Pure — requires [[sessionConfs]]
    * to have been applied at session construction.
    *
    * `events.ts` has shipped in two physical layouts across testdata
    * generations: TIMESTAMP(NANOS) (read as long ns via
    * [[sessionConfs]]; integer `DIV` keeps the ns→µs conversion exact
    * where a double division would lose precision above 2^53 ns) and
    * plain timestamp[us] (read as TIMESTAMP_NTZ). Normalize both to
    * session-local TimestampType so every downstream query sees one
    * type; sessions run in UTC, so the NTZ cast preserves wall-clock.
    */
  def t(spark: SparkSession, dir: String, name: String): DataFrame =
    scans.synchronized {
      scans
        .computeIfAbsent(spark, _ =>
          new java.util.concurrent.ConcurrentHashMap[(String, String), DataFrame]())
        .computeIfAbsent((dir, name), _ => build(spark, dir, name))
    }

  /** Per-session scan memo: `spark.read.parquet` re-lists the directory
    * and re-reads footers on every call, a ~100-200 ms tax each bench /
    * verify sample pays per referenced table. The DataFrame is an
    * immutable logical scan, so sharing one instance across queries is
    * safe (each downstream query wraps it in a fresh plan; AQE stage
    * reuse is per-QueryExecution). Testdata is immutable-on-disk, so
    * the cached InMemoryFileIndex snapshot never goes stale. Weak keys:
    * dropping a session releases its cached scans.
    */
  private val scans =
    java.util.Collections.synchronizedMap(
      new java.util.WeakHashMap[SparkSession,
        java.util.concurrent.ConcurrentHashMap[(String, String), DataFrame]]())

  /** Exact row count of one testdata table, answered from parquet
    * footer metadata (no scan job — Spark's v1 parquet source runs a
    * full 1-task job for `count()`, a ~130 ms tax when a query needs
    * the corpus size as a plan literal). Memoized: testdata files are
    * immutable-on-disk.
    */
  def rowCount(spark: SparkSession, dir: String, name: String): Long =
    counts.computeIfAbsent((dir, name), _ => {
      val conf = spark.sessionState.newHadoopConf()
      val path = new org.apache.hadoop.fs.Path(s"$dir/$name.parquet")
      val fs = path.getFileSystem(conf)
      val files = fs.listStatus(path)
        .filter(f => f.isFile && f.getPath.getName.endsWith(".parquet")) match {
        case empty if empty.isEmpty => Array(fs.getFileStatus(path))
        case some => some
      }
      Long.box(files.map { f =>
        val in = org.apache.parquet.hadoop.util.HadoopInputFile.fromStatus(f, conf)
        val r = org.apache.parquet.hadoop.ParquetFileReader.open(in)
        try r.getRecordCount finally r.close()
      }.sum)
    })

  private val counts =
    new java.util.concurrent.ConcurrentHashMap[(String, String), java.lang.Long]()

  private def build(spark: SparkSession, dir: String, name: String): DataFrame =
    if (name == "events") {
      import org.apache.spark.sql.functions.{col, expr}
      import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}
      val df = spark.read.parquet(s"$dir/events.parquet")
      df.schema("ts").dataType match {
        case LongType => df.withColumn("ts", expr("timestamp_micros(ts DIV 1000)"))
        case TimestampNTZType => df.withColumn("ts", col("ts").cast(TimestampType))
        case TimestampType => df
        case other => throw new IllegalStateException(
          s"events.ts arrived as unexpected type $other — known layouts are " +
            "TIMESTAMP(NANOS) (long ns), timestamp_ntz, and timestamp; a new " +
            "testdata generation needs an explicit normalization rule here")
      }
    } else spark.read.parquet(s"$dir/$name.parquet")

  private val registered =
    java.util.Collections.synchronizedMap(
      new java.util.WeakHashMap[SparkSession, String]())

  /** Register every testdata table as a temp view named after it.
    * Lazy (schema-read only) — no data is scanned until an action runs.
    * Even so, ten parquet footer reads cost ~0.5 s, and every q-entry
    * calls this; a per-session memo (keyed by dir, so switching scale
    * factors re-registers) makes repeat calls free. Nothing in the
    * query suite replaces these ten view names.
    */
  def register(spark: SparkSession, dir: String): Unit =
    // synchronized: concurrent register() on a shared session (the live
    // multi-connection server) must not both run the registration loop.
    registered.synchronized {
      if (registered.get(spark) != dir) {
        // memoize only after every view registered — a mid-loop failure
        // (e.g. a schema drift in one table) must not leave the memo set
        // with a partial catalog (observed: pg_class reporting 7/10
        // tables after an events-schema change aborted the loop).
        all.foreach(n => t(spark, dir, n).createOrReplaceTempView(n))
        registered.put(spark, dir)
      }
    }
}
