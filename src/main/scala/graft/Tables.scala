package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Loaders for the test corpus (TPC-H-ish star schema + events/documents/
  * embeddings). Parquet scans: Catalyst pushes filters and prunes columns at
  * the source, so callers just declare plans — no manual IO tuning here.
  */
object Tables {
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  def load(spark: SparkSession, dir: String, name: String): DataFrame =
    if (name == "events") events(spark, dir)
    else if (!graft.sources.CorpusLayout.keyed.contains(name)) raw(spark, dir, name)
    else graft.sources.Chain.flat(dir, name).served(spark)
      .getOrElse(raw(spark, dir, name))

  /** Inferred-schema memo, keyed by resolved path (optimization r15):
    * a bare `spark.read.parquet(path)` runs a footer-inference Spark job
    * at PLAN time, so every re-plan of every query re-paid ~30-80 ms per
    * table before any data moved. A real deployment resolves the schema
    * from its catalog; this memo is that catalog entry — SCHEMA ONLY
    * (the scan itself always lists and reads the parquet files), and the
    * corpus dirs it keys are immutable per path. Deliberately NOT
    * dropped by the bench's between-query release calls: it memoizes
    * metadata, never rows — the thing a catalog would persist anyway.
    * [[dropSchemaMemo]] exists for a caller that rewrites a corpus file
    * in place with a different schema.
    */
  private val schemaMemo =
    new java.util.concurrent.ConcurrentHashMap[String,
      org.apache.spark.sql.types.StructType]()

  private[graft] def dropSchemaMemo(): Unit = schemaMemo.clear()

  private def raw(spark: SparkSession, dir: String, name: String): DataFrame =
    readMemo(spark, s"$dir/$name.parquet")

  /** Memoized-schema parquet read of a corpus file (see [[schemaMemo]]).
    * Layout materializes read their source through this too, so a
    * staged corpus whose schema was just [[seedSchema]]-ed (or a corpus
    * dir already warmed) re-plans without another inference job.
    */
  private[graft] def readMemo(spark: SparkSession, path: String): DataFrame = {
    val sch = schemaMemo.computeIfAbsent(path,
      p => spark.read.parquet(p).schema)
    spark.read.schema(sch).parquet(path)
  }

  /** Record a just-written file's schema so [[readMemo]] skips inference. */
  private[graft] def seedSchema(path: String,
      sch: org.apache.spark.sql.types.StructType): Unit =
    schemaMemo.put(path, sch)

  def region(s: SparkSession, d: String): DataFrame     = load(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame     = load(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame   = load(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame   = load(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame       = load(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame     = load(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame   = load(s, d, "lineitem")
  /** events.ts normalized to a session-TZ micros TimestampType column, for
    * any of the three physical encodings the generator has shipped:
    * TIMESTAMP(NANOS) (read as LongType via
    * spark.sql.legacy.parquet.nanosAsLong — lossless: values are
    * micro-precision), TIMESTAMP(MICROS, isAdjustedToUTC=false) (read as
    * TIMESTAMP_NTZ unless NTZ inference is off), and plain UTC micros.
    * Every engine operator downstream assumes TimestampType in a UTC
    * session, so the normalization happens HERE, once, not per-operator.
    */
  def events(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.types._
    // Defensive for sessions not built by GraftSession: without this
    // session conf Spark 4 refuses to read a TIMESTAMP(NANOS) column.
    // Deliberately NOT restored after the read — the lazy plan re-reads
    // the conf at execution time, so save/restore would re-break the scan.
    // Scope of the documented leak: other TIMESTAMP(NANOS) parquet columns
    // surface as LongType for this session instead of erroring.
    s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val df = raw(s, d, "events")
    df.schema("ts").dataType match {
      // integer DIV: ns values (~1.7e18) overflow double-precision division
      case LongType => df.withColumn("ts", timestamp_micros(expr("ts DIV 1000")))
      // naive wall-clock → instant, interpreted in the session TZ: only
      // correct when that TZ is UTC (the cast would silently shift every
      // instant in, say, America/New_York — and this branch exists
      // precisely for sessions NOT built by GraftSession). Fail loudly
      // with the fix instead of corrupting every temporal operator.
      case TimestampNTZType =>
        val tz = s.conf.get("spark.sql.session.timeZone")
        if (tz != "UTC")
          throw new IllegalStateException(
            s"events.ts read as TIMESTAMP_NTZ in a non-UTC session ($tz): " +
              "build the session with GraftSession.builder, or set " +
              "spark.sql.session.timeZone=UTC (engine temporal semantics " +
              "are instant-based in UTC)")
        df.withColumn("ts", col("ts").cast(TimestampType))
      case _ => df
    }
  }
  def documents(s: SparkSession, d: String): DataFrame  = load(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = load(s, d, "embeddings")
}
