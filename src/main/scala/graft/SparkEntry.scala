package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.queries.{Dashboard, Events, Llm, Multimodal, Relational}

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * All registered queries live in graft.queries.*; each is a Q(name, fn,
  * oracle). Queries read the driver's parquet tables from the sfDir passed in
  * and return a deterministic (totally ordered, rounded) DataFrame.
  */
object SparkEntry {

  /** Every registered query, in registration order. */
  def registry: Seq[Q] =
    Relational.all ++ Events.all ++ Llm.all ++ Dashboard.all ++ Multimodal.all

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    queries("q5_region_revenue")(spark, "/root/testdata/sf0.001")

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    registry.map(q => q.name -> q.fn).toMap

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omitted for non-SQL-expressible ops.
    */
  def oracleSql: Map[String, String] =
    registry.flatMap(q => q.oracle.map(q.name -> _)).toMap

  /** SPARK_GRAFT_CONF: semicolon-separated key=value session confs for
    * one-off ablations (e.g. graft.ivf.pairScanRatio=1000000000 keeps every
    * pair query on the pruned cell-pair plan) and for dev/check.py runs
    * that force a statistics-gated operator onto its non-default path
    * (e.g. graft.hamming.bucketThreshold=0). Bench, Verify and ProfileMain
    * apply it; full runs leave it unset.
    */
  def applyConfEnv(spark: SparkSession): Unit =
    sys.env.get("SPARK_GRAFT_CONF").foreach(_.split(';').filter(_.contains('='))
      .foreach { kv =>
        val Array(k, v) = kv.split("=", 2); spark.conf.set(k.trim, v.trim)
      })
}
