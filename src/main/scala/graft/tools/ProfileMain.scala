package graft.tools

import graft.{Caches, QueryProfile, SparkEntry}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Dev-only profiler over the engine's recorder ([[graft.QueryProfile]]).
  *
  *   sbt "runMain graft.tools.ProfileMain <sfDir> <query> [query...]"
  *     — run each named query 3 times (Caches drained between runs, like
  *       Bench) and print each run's wall time, build time (plan
  *       construction plus the eager statistics/gate jobs before the first
  *       action), its jobs with their labels, and its gate decisions
  *
  *   sbt "runMain graft.tools.ProfileMain <sfDir> @prefix"
  *     — exact Jaccard and containment over planted open-vocabulary corpora
  *       (the only workload that reaches the open-vocabulary set plans)
  *
  * A scale sweep is a replica corpus plus a query list:
  *   runMain graft.tools.ScaleCorpus <sfDir> /tmp/graft-x4 4
  *   runMain graft.tools.ProfileMain /tmp/graft-x4 x2_jaccard_exact x3_knn_ivf
  *
  * SPARK_GRAFT_CPUS (default 4) and SPARK_GRAFT_CONF apply as in Bench.
  */
object ProfileMain {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    SparkEntry.applyConfEnv(spark)
    println(s"[profile] $sfDir on local[$cpus]")
    spark.range(1000).selectExpr("sum(id)").collect() // warm codegen/JIT

    args.drop(1).foreach {
      case "@prefix" => prefixSweep(spark)
      case name =>
        val q = SparkEntry.queries(name)
        (1 to 3).foreach { i =>
          val p = QueryProfile.query(spark)(q(spark, sfDir))(_.count())
          println(p.render(s"$name run$i rows=${p.result}"))
          Caches.drain(spark)
        }
    }
    spark.stop()
  }

  /** Planted open-vocabulary corpora for the exact set-similarity plans:
    * G groups of 50 docs over a per-group 192-word vocabulary, so the
    * vocabulary grows with G. Each block of 5 docs plants one J >= 0.7
    * pair and one C = 1.0 pair, so the row counts are known: Jaccard 10·G,
    * containment 20·G + 2.
    */
  private def prefixSweep(spark: SparkSession): Unit = {
    import spark.implicits._
    Seq(40, 80, 160, 320).foreach { groups =>
      val docs = (0L until groups * 50L).map { id =>
        val g = id / 50
        val vocab = (0 until 192).map(v => s"g${g}w$v")
        // docs come in blocks of 5 sharing an anchor: the anchor's base set,
        // a 1-token-edit near-dup of it, a 6-token embedded snippet of it,
        // and two independent docs
        val anchor = id - (id % 5)
        val aRng = new scala.util.Random(g * 1000003L + anchor)
        val base = aRng.shuffle(vocab).take(28)
        val iRng = new scala.util.Random(g * 1000003L + id)
        (id % 5).toInt match {
          case 1 => (id, (base.tail :+ base.head.replace("w", "W")).mkString(" "))
          case 2 => (id, base.take(6).mkString(" "))
          case 3 | 4 => (id, iRng.shuffle(vocab).take(28).mkString(" "))
          case _ => (id, base.mkString(" "))
        }
      }.toDF("doc_id", "text")
        // out of the plan: a LocalRelation carries its rows in every
        // analyzer pass, so each DataFrame step over it costs O(docs)
        .localCheckpoint()
      val tok = Caches.persist(docs.select(col("doc_id"),
        explode(array_distinct(split(col("text"), " "))).as("w")))
      val vocabSize = tok.select("w").distinct().count()
      for ((label, run) <- Seq[(String, () => Long)](
          ("jaccard", () =>
            graft.queries.Llm.jaccardPairsForTest(spark, tok, 0.7).count()),
          ("containment", () =>
            graft.queries.Llm.containmentPairsForTest(spark, tok, 9, 10).count()))) {
        val t = (1 to 2).map(_ => QueryProfile.of(spark)(run()))
        println(f"[prefix] G=$groups%-4d vocab=$vocabSize $label%-12s " +
          f"run1=${t(0).wallS}%7.2f s  run2=${t(1).wallS}%7.2f s  " +
          s"jobs=${t(1).jobs.size} rows=${t(1).result}")
      }
      Caches.drain(spark)
    }
  }
}
