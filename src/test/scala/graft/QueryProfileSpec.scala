package graft

import org.scalatest.funsuite.AnyFunSuite

/** The engine's recorder: a profile holds exactly the jobs its own thread
  * submitted and the gate decisions taken inside it, and a decision taken
  * while no profile runs is dropped unevaluated. */
class QueryProfileSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark

  test("a profile counts only its thread's jobs, decide outside one retains " +
      "nothing, and x3_knn_ivf's profile holds its ivfQueries decision") {
    val alone = QueryProfile.of(spark)(spark.range(10).collect()).jobs.size
    assert(alone >= 1)
    // a thread started before the profile does not inherit its tag: its
    // jobs, run while the profile's body runs, belong to its own profile
    val go = new java.util.concurrent.CountDownLatch(1)
    @volatile var otherJobs = -1
    val other = new Thread(() => {
      go.await()
      otherJobs = QueryProfile.of(spark)((1 to 3).foreach(_ =>
        spark.range(10).collect())).jobs.size
    })
    other.start()
    val mine = QueryProfile.of(spark) {
      go.countDown()
      spark.range(10).collect()
      other.join()
    }
    assert(otherJobs == 3 * alone, s"the other thread's profile saw $otherJobs jobs")
    assert(mine.jobs.size == alone,
      s"the profile counted ${mine.jobs.size} jobs; its body ran $alone")

    var evaluated = false
    QueryProfile.decide(spark, "probe", { evaluated = true; "input" }, "chosen")
    assert(!evaluated, "decide evaluated its input with no profile running")
    assert(QueryProfile.of(spark)(()).decisions.isEmpty)

    val old = spark.conf.getOption("graft.ivf.cacheDir")
    val ivf = java.nio.file.Files.createTempDirectory("graft-ivf-profile").toFile
    spark.conf.set("graft.ivf.cacheDir", ivf.getPath)
    try {
      val p = QueryProfile.query(spark)(
        SparkEntry.queries("x3_knn_ivf")(spark, SparkTestSession.sfDir))(_.collect())
      assert(p.result.nonEmpty)
      val gates = p.decisions.filter(_.site == "ivfQueries")
      assert(gates.nonEmpty && gates.forall(_.chosen == "broadcast"),
        s"x3_knn_ivf's profile decisions: ${p.decisions}")
    } finally {
      old.fold(spark.conf.unset("graft.ivf.cacheDir"))(spark.conf.set("graft.ivf.cacheDir", _))
      Caches.drain(spark)
      org.apache.commons.io.FileUtils.deleteDirectory(ivf)
    }
  }
}
