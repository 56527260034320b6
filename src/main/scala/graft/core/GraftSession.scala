package graft.core

import org.apache.spark.sql.SparkSession

/** Session factory: every entry point (Verify, Bench, tests) builds its
  * session here so semantics/config are pinned in one place.
  *
  * - ansi=false: failed casts produce null, matching the reference's
  *   null-on-unparseable rules (`dump_bigq.py:84-86`) and the DuckDB
  *   oracle's TRY_CAST.
  * - UTC session timezone: oracle parity for date/timestamp math.
  * - AQE on: runtime coalescing + skew-join handling — the local[N]
  *   stand-in for what a 1000-executor cluster needs even more.
  * - shuffle.partitions sized to cores, not the 200 default (local mode).
  * - artifact isolation off: every streaming query runs on a clone of
  *   the session, and per-session classloaders would defeat Spark's
  *   codegen cache (keyed by classloader and source), so each
  *   `DailyRunner.runOnce` would recompile identical classes. The
  *   engine adds no session artifacts, so sharing one loader loses
  *   nothing.
  * - codegen cache sized to the measured working set: Spark keeps the
  *   classes it compiles for generated code in an LRU cache of 100 by
  *   default, and one staging cycle (release the memos, rebuild
  *   `llm_stage_index`, run every memo consumer) cycles through far
  *   more, so each warm rebuild recompiled classes it had compiled
  *   one cycle earlier. The census (`Probe codegen` at sf0.1 over
  *   `llm_stage_index` and the 18 memo consumers of
  *   `perfbench/workloads.json`, 3 cycles, 4 cores) compiles 468
  *   classes in the first cycle. Later cycles added 18–22 more (two
  *   runs), the second plans of three consumers whose
  *   DISTINCT-aggregate rewrite varies between builds, and recompiled
  *   none: a working set under 500. The cache holds 2000, over 3× that; re-run the census as the
  *   registry grows. It is a static conf: it takes effect only on the
  *   first session a JVM creates.
  * - local files without forks: with no Hadoop native library on the
  *   library path (the Spark jars this build uses bring none), Hadoop's
  *   local filesystem forks `chmod` for every file and directory a
  *   parquet write, the commit protocol or a checkpoint creates, and
  *   the FileContext checkpoint manager forks `readlink` 2–3 times per
  *   checkpoint rename. A JFR census of one `daily_etl` benchmark run
  *   (warm-up plus one unit, 4 cores) counted 530 process starts, 514
  *   of them Hadoop `Shell` forks: about 40 per one-file increment and
  *   81 per 12-file backfill, at 2.0–3.6 ms each from a JVM with a 7 GB
  *   heap, a third of the increment's wall time. So `file:` is
  *   [[GraftLocalFileSystem]] (java.nio permissions, `.crc` checksums
  *   kept; without the setting it is Hive's `ProxyLocalFileSystem`,
  *   which the hive-exec jar registers for `file:` and which wraps
  *   Hadoop's), and streaming checkpoints commit through Spark's
  *   `FileSystemBasedCheckpointFileManager`, which renames with
  *   rename(2). Hadoop caches one `FileSystem` per scheme per JVM,
  *   built from the configuration of the first lookup, so the session
  *   factory must make the first `file:` lookup: every entry point
  *   builds its session before it touches a file. On HDFS the
  *   FileSystem-based manager is the weaker one: `FileContext` renames
  *   atomically without overwrite, while it checks that the target is
  *   absent and then renames. Every checkpoint here has one writer, and
  *   Spark already uses it for any scheme without a `FileContext`.
  */
object GraftSession {
  val CodegenCacheEntries = "2000"

  def builder(cores: String): SparkSession.Builder =
    SparkSession.builder()
      .withExtensions(new graft.plans.GraftExtensions)
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.ansi.enabled", "false")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.artifact.isolation.enabled", "false")
      .config("spark.sql.codegen.cache.maxEntries", CodegenCacheEntries)
      // The driver fixtures write events.ts as parquet TIMESTAMP(NANOS),
      // which vanilla Spark 4.x rejects (PARQUET_TYPE_ILLEGAL). Read the
      // raw int64 nanos and convert in Tables.load.
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      // Always scan bucketed tables bucketed: the DisableUnnecessary-
      // BucketedScan rule only weighs interesting-distribution reuse,
      // not bucket PRUNING, so a key-probe on a bucketed table would
      // otherwise read every bucket (see scan_bucket_pruned).
      .config("spark.sql.sources.bucketing.autoBucketedScan.enabled", "false")
      // Write-side defaults for the 100 TB layout: zstd parquet (best
      // scan-cost/size tradeoff for cold data) — readers are unaffected.
      .config("spark.sql.parquet.compression.codec", "zstd")
      .config("spark.ui.enabled", "false")
      .config("spark.driver.host", "127.0.0.1")
      .config("spark.hadoop.fs.file.impl", classOf[GraftLocalFileSystem].getName)
      .config("spark.sql.streaming.checkpointFileManagerClass",
        "org.apache.spark.sql.execution.streaming.checkpointing." +
          "FileSystemBasedCheckpointFileManager")

  def get(cores: String = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")): SparkSession = {
    val spark = builder(cores).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    graft.plans.GraftFunctions.register(spark)
    spark
  }
}
