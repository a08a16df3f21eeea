package graft.tools

import org.apache.spark.sql.SparkSession

/** Dev-only: print the profile (jobs and gate decisions) and the optimized
  * + physical plan of one registered query.
  * Usage: sbt "runMain graft.tools.ExplainOne <sfDir> <query>"
  */
object ExplainOne {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val name = args.lift(1).getOrElse("q1_pricing_summary")
    val spark = SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // the run's jobs and gate decisions, then the plans they produced
    val profile = graft.QueryProfile.query(spark)(
      graft.SparkEntry.queries(name)(spark, sfDir))(df => { df.collect(); df })
    println(profile.render(name))
    val df = profile.result
    println(s"==== $name optimized ====")
    println(df.queryExecution.optimizedPlan.toString)
    println(s"==== $name physical ====")
    println(df.queryExecution.executedPlan.toString)
    spark.stop()
  }
}
