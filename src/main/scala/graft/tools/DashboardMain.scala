package graft.tools

import graft.gen.Generator
import graft.operators.TopKPerGroup
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** CLI twin of the reference dashboard (`iot_dashboard.py` EP2/EP3): the same
  * analytics — record count, status value_counts (:196-197), device selector
  * distinct (:144), latest reading per device, per-location metric panel —
  * over a parquet directory (`--in`, the keyed-store stand-in) or freshly
  * generated data.
  *
  *   runMain graft.tools.DashboardMain [--in /path/to/flat.parquet]
  *     [--device device_xxxxxxxx] [--limit 500]
  */
object DashboardMain {
  def main(args: Array[String]): Unit = {
    val a = args.sliding(2, 2).collect { case Array(k, v) => k -> v }.toMap
    val spark = SparkSession.builder()
      .master(sys.env.getOrElse("SPARK_MASTER", "local[*]"))
      .appName("graft-dashboard")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    // fetch with limit (iot_dashboard.py:46-66): scan cap, default 500
    val limit = a.getOrElse("--limit", "500").toInt
    val all = a.get("--in") match {
      case Some(p) => graft.Caches.readParquet(spark, p)
      case None => Generator.flatten(Generator.readings(spark, 20, 60))
    }
    val df = all.orderBy("device_id", "timestamp").limit(limit).cache()

    println(s"records fetched: ${df.count()} (limit $limit)")
    println("status counts:")
    df.groupBy("status").count().orderBy(desc("count"), asc("status"))
      .show(truncate = false)
    println("devices:")
    df.select("device_id").distinct().orderBy("device_id").show(5, truncate = false)
    println("latest reading per device:")
    TopKPerGroup(df, Seq("device_id"), Seq(desc("timestamp")), k = 1)
      .select("device_id", "timestamp", "status", "battery_level_value")
      .orderBy("device_id").show(5, truncate = false)
    println("per-location panel:")
    df.groupBy("location_id").agg(
      count(lit(1)).as("n"),
      round(avg("temperature_value"), 2).as("avg_temp"),
      round(avg("humidity_value"), 2).as("avg_humidity"))
      .orderBy("location_id").show(truncate = false)
    // device drill-down (iot_dashboard.py:147-157)
    a.get("--device").foreach { dev =>
      println(s"time series for $dev:")
      df.filter(col("device_id") === dev)
        .filter(col("temperature_value").isNotNull)
        .select("timestamp", "temperature_value", "humidity_value", "status")
        .orderBy("timestamp").show(20, truncate = false)
    }
    df.unpersist()
    graft.queries.Dashboard.clearCache(spark)
    spark.stop()
  }
}
