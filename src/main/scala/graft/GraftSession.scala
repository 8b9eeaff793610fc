package graft

import org.apache.spark.sql.SparkSession

/** Session factory for the graft engine.
  *
  * Tuned for the contest harness (single-JVM `local[N]`) but every setting is
  * the one you'd want on a real cluster too: AQE for runtime re-planning and
  * skew-join splitting, shuffle partitions sized to the parallelism (the 200
  * default is wrong locally; on a 1000-executor cluster AQE coalesces up from
  * a large initial number instead), UTC session time zone for deterministic
  * temporal semantics, micros timestamps for cross-engine parquet parity.
  *
  * `fs.file.impl` is graft's [[graft.sources.NioLocalFileSystem]]: without
  * the native Hadoop library, stock `file:` forks one `chmod` process for
  * every file and directory a Spark write creates (a few ms each, serial
  * within a write task: SCALING.md §18); graft's sets the same permission
  * bits in-process.
  * The setting lives here, on the builder, because Hadoop caches
  * `FileSystem` instances by scheme, authority and user, not by conf: the
  * conf that first asks for `file:` in a JVM decides its class for every
  * later caller, so it must be in the session's conf from the start.
  */
object GraftSession {
  def builder(master: String = s"local[${sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")}]",
              shufflePartitions: Int = 32): SparkSession.Builder =
    SparkSession.builder()
      .master(master)
      .appName("graft")
      .withExtensions(new GraftExtensions)
      .config("spark.sql.shuffle.partitions", shufflePartitions.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
      // events.parquet carries TIMESTAMP(NANOS) which Spark's vectorized
      // reader rejects; read as long and normalize in Tables.events.
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      // isAdjustedToUTC=false micros columns (the current events.parquet
      // encoding) read as plain TimestampType, not TIMESTAMP_NTZ: the
      // engine's temporal semantics are instant-based in a UTC session.
      // Tables.events also casts defensively for externally built sessions.
      .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
      // Pin the Tungsten allocation page size: Spark auto-computes it from
      // heap size / core count at startup, so the same plan's recorded
      // peakExecutionMemory quantizes to DIFFERENT page multiples in
      // different JVMs (round 8's bench gate saw 8 MiB vs 64 MiB first
      // pages — an 8x "regression" on unchanged code). A fixed page makes
      // the peakmem bench metric comparable across environments; 8 MiB is
      // small enough to be honest for sub-second queries and large enough
      // that multi-GB sorts pay no measurable page-chaining overhead.
      // SPARK_GRAFT_PAGESIZE overrides for A/B runs (must be set at JVM
      // start — the memory manager reads it once at SparkEnv creation).
      .config("spark.buffer.pageSize",
        sys.env.getOrElse("SPARK_GRAFT_PAGESIZE", "8m"))
      .config("spark.ui.enabled", "false")
      .config("spark.hadoop.fs.file.impl", classOf[graft.sources.NioLocalFileSystem].getName)

  def get(): SparkSession = {
    val spark = builder().getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
