package graft

import org.scalatest.funsuite.AnyFunSuite

/** Job budgets of the warm retrieval queries: a build plus collect after
  * the index exists. At these sizes a query's time is its job count, so
  * every job here is scheduling overhead the plan shape decides — the kNN
  * tails' per-query top-k is one bounded aggregate (no range-partition
  * sample, no range shuffle) and BM25 reads its statistics in one pass.
  */
class RetrievalJobsSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark

  private val budgets = Seq("x3_knn_ivf" -> 3, "x3_knn_brute" -> 3,
    "x3_bm25" -> 3, "x3_hybrid_search" -> 4)

  test("warm retrieval queries stay within their job budgets") {
    val old = spark.conf.getOption("graft.ivf.cacheDir")
    val ivf = java.nio.file.Files.createTempDirectory("graft-ivf-jobs").toFile
    spark.conf.set("graft.ivf.cacheDir", ivf.getPath)
    try for ((name, budget) <- budgets) {
      val q = SparkEntry.queries(name)
      val cold = q(spark, SparkTestSession.sfDir).collect()
      Caches.drain(spark)
      var warm: Array[org.apache.spark.sql.Row] = null
      val jobs = SparkTestSession.jobsOf {
        warm = q(spark, SparkTestSession.sfDir).collect()
      }
      Caches.drain(spark)
      info(s"$name: $jobs jobs")
      assert(warm.nonEmpty && warm.toSeq == cold.toSeq, name)
      assert(jobs <= budget, s"$name: a warm run launched $jobs jobs (budget $budget)")
    }
    finally {
      old.fold(spark.conf.unset("graft.ivf.cacheDir"))(spark.conf.set("graft.ivf.cacheDir", _))
      org.apache.commons.io.FileUtils.deleteDirectory(ivf)
    }
  }
}
