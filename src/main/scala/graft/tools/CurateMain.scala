package graft.tools

import graft.SparkEntry
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** CLI for the end-to-end curation run (EP-curate): the batch pipeline a
  * training-data team actually launches — quality gate → exact dedup →
  * near-dup cluster dedup — reporting per-stage survivor counts and writing
  * the curated corpus plus its audit artifacts.
  *
  *   runMain graft.tools.CurateMain <sfDir> <outDir>
  *
  * Outputs under <outDir>:
  *   funnel/   per-stage survivor counts (the x4_pipeline_funnel report)
  *   corpus/   the curated documents (survivors of all three gates)
  *   report/   per-(lang, split) volume/token/quality/dup audit
  *   encoded/  the curated docs as OOV-aware vocabulary id sequences
  */
object CurateMain {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val outDir = args.lift(1).getOrElse("/tmp/graft-curate")
    val spark = SparkSession.builder()
      .master(sys.env.getOrElse("SPARK_MASTER", "local[*]"))
      .appName("graft-curate")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    val funnel = SparkEntry.queries("x4_pipeline_funnel")(spark, sfDir)
    println("curation funnel:")
    funnel.show(truncate = false)
    funnel.write.mode("overwrite").parquet(s"$outDir/funnel")

    // the survivors themselves: the SAME shared stage pipeline the funnel
    // query counts (Llm.curationStages) — the corpus and the report can't
    // diverge because they are one code path
    val d = graft.Tables.load(spark, sfDir, "documents")
    val (_, _, reps) = graft.queries.Llm.curationStages(spark, d)
    val curated = d.join(reps.select("doc_id"), "doc_id")
    curated.write.mode("overwrite").parquet(s"$outDir/corpus")
    println(s"curated corpus: ${graft.Caches.readParquet(spark, s"$outDir/corpus").count()} docs -> $outDir/corpus")

    SparkEntry.queries("x4_curation_report")(spark, sfDir)
      .write.mode("overwrite").parquet(s"$outDir/report")
    SparkEntry.queries("x4_encode")(spark, sfDir)
      .write.mode("overwrite").parquet(s"$outDir/encoded")
    println(s"report + encoded ids written under $outDir")
    graft.Caches.drain(spark)
    spark.stop()
  }
}
