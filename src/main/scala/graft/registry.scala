package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One registered engine query.
  *
  * @param name    stable key; shows up in CORRECTNESS_r{N}.json / BENCH_r{N}.json
  * @param fn      (spark, sfDir) => result DataFrame. Must be deterministic:
  *                total ordering, rounded floats, UTC.
  * @param oracle  equivalent ANSI SQL for DuckDB over the same parquet tables
  *                (table names = bare file names). None for ops that are not
  *                SQL-expressible (driver falls back to a rows-only check).
  */
final case class Q(
    name: String,
    fn: (SparkSession, String) => DataFrame,
    oracle: Option[String] = None)

/** Loaders for the driver's read-only parquet tables (TESTDATA.md). */
object Tables {
  val all: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  def load(spark: SparkSession, dir: String, name: String): DataFrame = {
    if (name == "events") {
      // events.ts has shipped as parquet TIMESTAMP(NANOS) in some testdata
      // generations (Spark 4 refuses to read that as a timestamp —
      // PARQUET_TYPE_ILLEGAL) and as TIMESTAMP(MICROS, isAdjustedToUTC=false)
      // in others. Normalize BOTH to a session-TZ (UTC) TimestampType column:
      // nanos are read as raw longs and floor-divided in long arithmetic (a
      // double division would lose precision at 1.7e18); a native timestamp
      // column is cast (NTZ wall-clock == UTC instant under the UTC session).
      spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
      val raw = Caches.readParquet(spark, s"$dir/$name.parquet")
      if (raw.schema("ts").dataType == org.apache.spark.sql.types.LongType)
        raw.withColumn("ts", org.apache.spark.sql.functions.timestamp_micros(
          org.apache.spark.sql.functions.expr("ts div 1000")))
      else raw.withColumn("ts",
        org.apache.spark.sql.functions.col("ts").cast("timestamp"))
    } else Caches.readParquet(spark, s"$dir/$name.parquet")
  }

  /** Register every table as a temp view so queries can use spark.sql. */
  def registerAll(spark: SparkSession, dir: String): Unit =
    all.foreach(n => load(spark, dir, n).createOrReplaceTempView(n))

  /** Size-gated scan-parallelism repartition (r13). A small parquet table
    * is one row group, and one row group is ONE scan task no matter how
    * many byte-range splits the planner cuts — so every expensive
    * per-row kernel over it (simhash, tokenize+explode, PPM/WAV decode,
    * vector math) runs single-threaded while the other cores idle
    * (measured: x2_simhash_neardup's whole fingerprint pass in one
    * 0.5 s task at sf0.1). Round-robin repartition to the session's
    * default parallelism fixes that for at most `limit` shuffled bytes;
    * above the limit the source has many row groups and the scan is
    * already parallel, so big corpora NEVER pay the shuffle — the gate
    * is the table's own optimizer size estimate (file bytes), no job.
    * Results are partition-count-invariant by the repo's determinism
    * contract (DeterminismSpec sweeps partition counts).
    *
    * The gate is ESTIMATE-based and intended for RAW TABLE SCANS, where
    * the optimizer estimate is the file size and accurate. For derived
    * frames (filtered/projected inputs) the estimate can be far off and
    * the gate may misclassify — perf-only either way, but prefer
    * [[loadParallel]] at load sites over wrapping derived frames.
    */
  def parallelizeSmall(df: DataFrame): DataFrame = {
    // streaming frames pass through untouched: micro-batches arrive already
    // partitioned, and forcing a batch queryExecution on a streaming plan
    // throws (UnsupportedOperationChecker)
    if (df.isStreaming) return df
    val s = df.sparkSession
    val limit = s.conf.getOption("graft.smallScanShuffleBytes")
      .map(_.toLong).getOrElse(64L << 20)
    val bytes = df.queryExecution.optimizedPlan.stats.sizeInBytes
    if (bytes <= limit) df.repartition(s.sparkContext.defaultParallelism) else df
  }

  /** [[load]] + [[parallelizeSmall]] — the loader for query paths whose
    * scan stage carries real per-row work. */
  def loadParallel(spark: SparkSession, dir: String, name: String): DataFrame =
    parallelizeSmall(load(spark, dir, name))

  /** Keyed repartition with an EXPLICIT partition count, for exchanges whose
    * downstream stage multiplies rows (pair explodes). AQE sizes post-shuffle
    * coalescing on the bytes CROSSING the exchange, so a keyed aggregation
    * whose consumer then explodes k× gets coalesced to a handful of tasks
    * and the multiplied work runs nearly serial (measured: q_basket_pairs'
    * ~12M-row pair expansion on 3 of 32 cores — 1.6×). An explicit
    * numPartitions exempts the exchange from coalescing, and a groupBy on
    * the same key REUSES it (same key, same count — no second exchange).
    * N tracks scale: never below the session's default parallelism, and for
    * inputs whose optimizer size estimate exceeds the advisory partition
    * size it grows to the same partition count AQE itself would target, so
    * a 100 TB input is not pinned to the local core count. Estimate-based
    * (raw-scan-accurate, like [[parallelizeSmall]]); batch frames only.
    */
  def expandParallel(df: DataFrame, cols: org.apache.spark.sql.Column*): DataFrame = {
    val s = df.sparkSession
    val advisory = s.sessionState.conf.getConf(
      org.apache.spark.sql.internal.SQLConf.ADVISORY_PARTITION_SIZE_IN_BYTES)
    val bytes = df.queryExecution.optimizedPlan.stats.sizeInBytes
    val n = math.max(s.sparkContext.defaultParallelism.toLong,
      (bytes / math.max(advisory, 1L)).min(1 << 20).toLong).toInt
    df.repartition(n, cols: _*)
  }
}
