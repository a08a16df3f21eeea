package graft

import org.apache.spark.sql.AnalysisException
import org.scalatest.funsuite.AnyFunSuite

/** The session memos are keyed by what the files ARE: a warm query build
  * reads every parquet path with its memoized schema (no inference job),
  * and a path rewritten in place is re-read with its new schema and
  * re-counted, with no `Caches.invalidateCounts`.
  */
class ReadMemoSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private def withTmp[T](prefix: String)(body: String => T): T = {
    val dir = java.nio.file.Files.createTempDirectory(prefix).toFile
    try body(dir.getPath)
    finally org.apache.commons.io.FileUtils.deleteDirectory(dir)
  }

  private def jobsOf(body: => Unit): Int = SparkTestSession.jobsOf(body)

  test("a second build of each retrieval query launches no job") {
    val old = spark.conf.getOption("graft.ivf.cacheDir")
    withTmp("graft-ivf-memo") { ivf =>
      spark.conf.set("graft.ivf.cacheDir", ivf)
      try for (name <- Seq("x3_knn_ivf", "x3_knn_brute", "x3_bm25", "x3_hybrid_search")) {
        val q = SparkEntry.queries(name)
        q(spark, SparkTestSession.sfDir).collect()
        Caches.drain(spark)
        var df: org.apache.spark.sql.DataFrame = null
        val jobs = jobsOf { df = q(spark, SparkTestSession.sfDir) }
        assert(jobs == 0, s"$name: a warm build launched $jobs jobs")
        assert(df.collect().nonEmpty, name)
        Caches.drain(spark)
      }
      finally old.fold(spark.conf.unset("graft.ivf.cacheDir"))(
        spark.conf.set("graft.ivf.cacheDir", _))
    }
  }

  test("a warm read of an unchanged path infers nothing; a rewrite is re-read with its new schema") {
    withTmp("graft-read-memo") { root =>
      val p = s"$root/t"
      Seq((1L, "a"), (2L, "b")).toDF("id", "s").write.parquet(p)
      assert(Caches.readParquet(spark, p).columns.toSeq == Seq("id", "s"))
      assert(jobsOf(Caches.readParquet(spark, p)) == 0)
      Seq((1L, "a", 1.5), (2L, "b", 2.5), (3L, "c", 3.5)).toDF("id", "s", "x")
        .write.mode("overwrite").parquet(p)
      val again = Caches.readParquet(spark, p)
      assert(again.columns.toSeq == Seq("id", "s", "x"))
      assert(again.orderBy("id").as[(Long, String, Double)].collect().toSeq ==
        Seq((1L, "a", 1.5), (2L, "b", 2.5), (3L, "c", 3.5)))
    }
  }

  test("a missing path and an empty directory fail exactly as a plain read does") {
    def failure(read: => Unit): (String, String) = {
      val e = intercept[AnalysisException](read)
      (e.getCondition, e.getMessage)
    }
    withTmp("graft-read-missing") { root =>
      val never = s"$root/never"
      assert(failure(Caches.readParquet(spark, never)) == failure(spark.read.parquet(never)))
      // a path read (so memoized) and then deleted or emptied
      val gone = s"$root/gone"
      Seq(1L).toDF("id").write.parquet(gone)
      Caches.readParquet(spark, gone)
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(gone))
      assert(failure(Caches.readParquet(spark, gone)) == failure(spark.read.parquet(gone)))
      val emptied = s"$root/emptied"
      Seq(1L).toDF("id").write.parquet(emptied)
      Caches.readParquet(spark, emptied)
      new java.io.File(emptied).listFiles().foreach(_.delete())
      assert(failure(Caches.readParquet(spark, emptied)) == failure(spark.read.parquet(emptied)))
    }
  }

  test("countOnce follows an in-place rewrite without invalidateCounts") {
    import graft.sources.KeyedUpsert
    withTmp("graft-count-memo") { root =>
      val p = s"$root/t"
      val v1 = (0 until 10).map(i => (i.toLong, 1L)).toDF("k", "v")
      KeyedUpsert(spark, p, v1, Seq("k"), "v")
      assert(Caches.countOnce(Caches.readParquet(spark, p)) == 10)
      // five new keys: the table is rewritten at the same path (FileSwap)
      val v2 = (5 until 15).map(i => (i.toLong, 2L)).toDF("k", "v")
      KeyedUpsert(spark, p, v2, Seq("k"), "v")
      assert(Caches.countOnce(Caches.readParquet(spark, p)) == 15)
      assert(Caches.countOnce(spark.read.parquet(p)) == 15)
    }
  }
}
