package graft

import org.scalatest.funsuite.AnyFunSuite

/** The driver's t2 gate hashes results row-by-row, so every registered query
  * must be bit-deterministic — including under a DIFFERENT partitioning than
  * the one it was developed with (float summation order, rand(), and
  * collect_list order are all partition-sensitive failure modes). Each query
  * runs twice on sf0.001 with shuffle.partitions 8 vs 3; results must match
  * exactly, row order included.
  */
class DeterminismSpec extends AnyFunSuite {
  private val spark = SparkTestSession.spark
  private val sfDir = SparkTestSession.sfDir

  private def runAll(parts: Int): Map[String, Seq[String]] = {
    spark.conf.set("spark.sql.shuffle.partitions", parts)
    try SparkEntry.queries.map { case (name, fn) =>
      name -> fn(spark, sfDir).collect().toSeq.map(_.toString)
    }
    finally spark.conf.set("spark.sql.shuffle.partitions", 8)
  }

  test("registry names are unique (Map would silently drop a duplicate)") {
    val names = SparkEntry.registry.map(_.name)
    assert(names.distinct.length == names.length,
      s"duplicates: ${names.diff(names.distinct).distinct}")
  }

  test("every query is bit-identical under 8 vs 3 shuffle partitions") {
    val a = runAll(8)
    val b = runAll(3)
    val bad = a.keys.toSeq.sorted.flatMap { name =>
      if (a(name) == b(name)) None
      else {
        val diff = a(name).zip(b(name)).indexWhere { case (x, y) => x != y }
        Some(s"$name: rows ${a(name).size}/${b(name).size}, first diff at $diff")
      }
    }
    assert(bad.isEmpty, bad.mkString("\n"))
  }

  test("buildSharded layout is bit-identical under 8 vs 3 shuffle partitions") {
    // The registry sweep above builds the sharded layout only through
    // x3_knn_ivf_sharded at sf0.001. Build a multi-shard layout over
    // sliced geometry here too: the shard split rides a range
    // exchange, whose boundaries re-sample per action (the RangedNtile
    // trap) — the k-means layout must not depend on the partitioning.
    import org.apache.spark.sql.functions.col
    import spark.implicits._
    val rng = new scala.util.Random(59)
    val vecs = (0L until 300L).map { i =>
      val slice = (i / 100L).toInt
      (i, Seq.tabulate(6)(d =>
        rng.nextGaussian() + (if (d == slice) 5.0 else 0.0)))
    }
    def layout(parts: Int): (Seq[String], Seq[String]) = {
      spark.conf.set("spark.sql.shuffle.partitions", parts)
      try {
        val idx = graft.operators.IvfIndex.build(
          vecs.toDF("vec_id", "v"), shards = 3)
        val a = idx.assigned.select("vec_id", "cell")
          .orderBy("vec_id").collect().toSeq.map(_.toString)
        val c = idx.cells.select(col("cell"), col("cv"), col("r"), col("cnt"))
          .orderBy("cell").collect().toSeq.map(_.toString)
        (a, c)
      } finally {
        spark.conf.set("spark.sql.shuffle.partitions", 8)
        graft.Caches.drain(spark)
      }
    }
    val (a8, c8) = layout(8)
    val (a3, c3) = layout(3)
    assert(a8 == a3, s"assignments diverged: first diff at ${
      a8.zip(a3).indexWhere { case (x, y) => x != y }}")
    assert(c8 == c3, s"cell stats diverged: first diff at ${
      c8.zip(c3).indexWhere { case (x, y) => x != y }}")
  }
}
