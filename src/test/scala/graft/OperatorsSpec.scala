package graft

import graft.operators.{AsOfJoin, SaltedJoin, TopKPerGroup}
import graft.sources.Bucketed
import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The reusable operator surface: generic as-of join, salted skew join,
  * top-k per group, bucketed co-located join.
  */
class OperatorsSpec extends AnyFunSuite with AdaptiveSparkPlanHelper {
  private val spark = SparkTestSession.spark
  import spark.implicits._

  test("AsOfJoin attaches the latest at-or-before right row per key") {
    val quotes = Seq( // key, time, px
      ("a", 1L, 10.0), ("a", 5L, 11.0), ("b", 3L, 20.0)
    ).toDF("sym", "t", "px")
    val trades = Seq(
      ("a", 0L, 1), ("a", 1L, 2), ("a", 6L, 3), ("b", 2L, 4), ("b", 9L, 5)
    ).toDF("sym", "t", "qty")
    val r = AsOfJoin(trades, quotes, key = "sym",
      leftTime = "t", rightTime = "t", rightVals = Seq("px"))
      .orderBy("sym", "t")
      .select("sym", "t", "qty", "px")
      .collect()
      .map(r => (r.getString(0), r.getLong(1), r.getInt(2),
        Option(r.get(3)).map(_.asInstanceOf[Double])))
    assert(r.toSeq == Seq(
      ("a", 0L, 1, None),          // before any quote
      ("a", 1L, 2, Some(10.0)),    // tie: at-or-before includes same-ts quote
      ("a", 6L, 3, Some(11.0)),
      ("b", 2L, 4, None),
      ("b", 9L, 5, Some(20.0))))
  }

  test("AsOfJoin breaks right-side timestamp ties deterministically") {
    // two quotes at the same (sym, t): the greater px must win, regardless
    // of input partitioning
    val quotes = Seq(("a", 5L, 11.0), ("a", 5L, 13.0)).toDF("sym", "t", "px")
      .repartition(4)
    val trades = Seq(("a", 7L, 1)).toDF("sym", "t", "qty")
    (1 to 3).foreach { _ =>
      val r = AsOfJoin(trades, quotes, "sym", "t", "t", Seq("px"))
        .select("px").as[Double].head()
      assert(r == 13.0)
    }
  }

  test("SaltedJoin equals the plain join on a skewed key") {
    val big = (1 to 2000).map(i => (if (i % 10 == 0) "cold" + i else "hot", i))
      .toDF("k", "v") // 90% of rows share one key
    val small = Seq(("hot", "H"), ("cold10", "C")).toDF("k", "tag")
    val salted = SaltedJoin(big, small, Seq("k"), buckets = 8)
      .orderBy("v").select("k", "v", "tag").collect().toSeq
    val plain = big.join(small, Seq("k"))
      .orderBy("v").select("k", "v", "tag").collect().toSeq
    assert(salted == plain && plain.nonEmpty)
  }

  test("TopKPerGroup keeps k rows per group in total order") {
    val df = Seq(("g1", 5), ("g1", 3), ("g1", 9), ("g2", 1), ("g2", 2))
      .toDF("g", "v")
    val r = TopKPerGroup(df, Seq("g"), Seq(desc("v")), k = 2)
      .orderBy("g", "rk").select("g", "rk", "v").as[(String, Long, Int)]
      .collect().toSeq
    assert(r == Seq(("g1", 1L, 9), ("g1", 2L, 5), ("g2", 1L, 2), ("g2", 2L, 1)))
  }

  // chain 1-2-3-4, clique {6,7,8}, edge 9-10, singleton 5
  private def ccGraph = ((1L to 10L).toDF("id"),
    Seq((1L, 2L), (2L, 3L), (3L, 4L), (6L, 7L), (7L, 8L),
      (6L, 8L), (10L, 9L)).toDF("src", "dst"),
    Seq(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L, 5L -> 5L,
      6L -> 6L, 7L -> 6L, 8L -> 6L, 9L -> 9L, 10L -> 9L))

  test("ConnectedComponents labels chains, cliques, and singletons correctly") {
    val (vertices, edges, expect) = ccGraph
    // adaptive entry point (driver union-find at this size)
    val r = graft.operators.ConnectedComponents(vertices, edges)
      .orderBy("id").as[(Long, Long)].collect().toSeq
    assert(r == expect)
    // distributed label-propagation path, called directly
    val rd = graft.operators.ConnectedComponents.distributed(vertices, edges)
      .orderBy("id").as[(Long, Long)].collect().toSeq
    assert(rd == expect)
  }

  test("ConnectedComponents resolves on the driver AT its edge threshold " +
      "and in the distributed loop one edge over it") {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    val (vertices, edges, expect) = ccGraph
    val labels = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit =
        Option(js.properties).flatMap(p =>
          Option(p.getProperty("spark.job.description"))).foreach(labels.add)
    }
    // the distributed loop labels its convergence jobs "cc:init"/"cc:iter<i>"
    def run(threshold: Long): (Seq[(Long, Long)], Boolean) = {
      spark.conf.set("graft.cc.driverThreshold", threshold)
      labels.clear()
      try {
        val r = graft.operators.ConnectedComponents(vertices, edges)
          .orderBy("id").as[(Long, Long)].collect().toSeq
        org.apache.spark.ListenerBusDrain(spark.sparkContext)
        (r, labels.contains("cc:init"))
      } finally spark.conf.unset("graft.cc.driverThreshold")
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      val e = edges.count()
      val (atThreshold, loopAt) = run(e)
      assert(atThreshold == expect)
      assert(!loopAt, s"$e edges at threshold $e must resolve on the driver")
      val (overThreshold, loopOver) = run(e - 1)
      assert(overThreshold == expect)
      assert(loopOver, s"$e edges over threshold ${e - 1} must take the loop")
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  test("AsOfJoin attaches the whole right row atomically when carried columns hold nulls") {
    // latest quote has px but NULL sz: the output must carry (12.0, null) —
    // per-column filling would mix px from t=5 with sz from t=1
    val quotes = Seq(
      ("a", 1L, Some(10.0), Some(100)), ("a", 5L, Some(12.0), Option.empty[Int])
    ).toDF("sym", "t", "px", "sz")
    val trades = Seq(("a", 7L, 1)).toDF("sym", "t", "qty")
    val r = AsOfJoin(trades, quotes, "sym", "t", "t", Seq("px", "sz"))
      .select("px", "sz").collect().head
    assert(r.getDouble(0) == 12.0)
    assert(r.isNullAt(1), s"expected null sz from the latest right row, got ${r.get(1)}")
  }

  test("ConnectedComponents path graph converges in O(log n) iterations (shortcutting)") {
    val n = 64
    val vertices = (1L to n.toLong).toDF("id")
    val edges = (1L until n.toLong).map(i => (i, i + 1)).toDF("src", "dst")
    val (labels, iters) = graft.operators.ConnectedComponents
      .distributedWithStats(vertices, edges)
    assert(labels.select("component").distinct().count() == 1L)
    val bound = (math.log(n.toDouble) / math.log(2.0)).ceil.toInt + 2
    assert(iters <= bound, s"path-$n took $iters iterations, bound $bound")
  }

  test("ConnectedComponents.distributed throws instead of returning unconverged labels") {
    val vertices = (1L to 20L).toDF("id")
    val edges = (1L until 20L).map(i => (i, i + 1)).toDF("src", "dst")
    intercept[IllegalStateException] {
      graft.operators.ConnectedComponents.distributed(vertices, edges, maxIter = 1)
    }
  }

  test("QualityMetrics.audit populates metrics for a WRITE action (Observation)") {
    val dir = java.nio.file.Files.createTempDirectory("graft_qm").toString
    val df = Seq(("a", Some(1.0)), ("b", None), ("c", Some(3.0)))
      .toDF("k", "v")
    val (audited, get) = graft.operators.QualityMetrics.audit(df, "wr", Seq("v"))
    audited.write.mode("overwrite").parquet(s"$dir/out")
    val m = get()
    assert(m("rows") == 3L && m("nulls_v") == 1L, s"got $m")
  }

  test("QualityMetrics.audit counts rows and nulls inside the existing job") {
    val df = Seq(("a", Some(1.0)), ("b", None), ("c", Some(3.0)), ("d", None))
      .toDF("k", "v")
    val (audited, get) = graft.operators.QualityMetrics.audit(df, "t", Seq("v"))
    assert(audited.collect().length == 4) // the action that accumulates
    val m = get()
    assert(m("rows") == 4L && m("nulls_v") == 2L, s"got $m")
  }

  test("RangedNtile equals ntile().over(global window) without a single-partition stage") {
    import org.apache.spark.sql.expressions.Window
    val rng = new scala.util.Random(31)
    // 997 rows (not divisible by 4) exercises the uneven-bucket arithmetic
    val df = (1 to 997).map(i => (i.toLong, rng.nextInt(500))).toDF("id", "v")
      .repartition(7)
    val expected = df.withColumn("nt",
        ntile(4).over(Window.orderBy(desc("v"), asc("id"))).cast("long"))
      .select("id", "nt").as[(Long, Long)].collect().toMap
    val ranged = graft.operators.RangedNtile(df, 4, Seq(desc("v"), asc("id")))
    val got = ranged.select("id", "ntile").as[(Long, Long)].collect().toMap
    assert(got == expected)
    // scale shape: the only single-partition exchange allowed is the one
    // over the P-row per-partition-counts AGGREGATE (the offsets window);
    // the full table must never pass through one partition
    val badSingleParts = collectWithSubqueries(ranged.queryExecution.executedPlan) {
      case e: ShuffleExchangeLike if e.outputPartitioning.numPartitions == 1 &&
        e.child.collectFirst {
          case a: org.apache.spark.sql.execution.aggregate.BaseAggregateExec => a
        }.isEmpty => e
    }
    assert(badSingleParts.isEmpty,
      "RangedNtile must not plan a single-partition exchange over unaggregated rows")
  }

  test("PrefixSum equals sum().over(global window) without a single-partition stage") {
    import org.apache.spark.sql.expressions.Window
    val rng = new scala.util.Random(47)
    val df = (1 to 997).map(i => (i.toLong, rng.nextInt(100).toLong)).toDF("id", "v")
      .repartition(7)
    val expected = df.withColumn("ps",
        coalesce(sum("v").over(Window.orderBy("id")
          .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .select("id", "ps").as[(Long, Long)].collect().toMap
    val scanned = graft.operators.PrefixSum(df, col("v"), Seq(col("id")))
    val got = scanned.select("id", "prefix_sum").as[(Long, Long)].collect().toMap
    assert(got == expected)
    // scale shape: same contract as RangedNtile — the only single-partition
    // exchange is the one over the P-row per-partition-sums aggregate
    val badSingleParts = collectWithSubqueries(scanned.queryExecution.executedPlan) {
      case e: ShuffleExchangeLike if e.outputPartitioning.numPartitions == 1 &&
        e.child.collectFirst {
          case a: org.apache.spark.sql.execution.aggregate.BaseAggregateExec => a
        }.isEmpty => e
    }
    assert(badSingleParts.isEmpty,
      "PrefixSum must not plan a single-partition exchange over unaggregated rows")
  }

  test("PrefixSum edges: single row, ties broken by order cols, empty frame") {
    val one = Seq((1L, 5L)).toDF("id", "v")
    assert(graft.operators.PrefixSum(one, col("v"), Seq(col("id")))
      .select("prefix_sum").as[Long].collect().toSeq == Seq(0L))
    val empty = Seq.empty[(Long, Long)].toDF("id", "v")
    assert(graft.operators.PrefixSum(empty, col("v"), Seq(col("id")))
      .count() == 0L)
  }

  test("RangedNtile edge: fewer rows than tiles gives each row its own bucket") {
    import org.apache.spark.sql.expressions.Window
    val df = Seq((1L, 30), (2L, 20), (3L, 10)).toDF("id", "v")
    val expected = df.withColumn("nt",
        ntile(4).over(Window.orderBy(desc("v"), asc("id"))).cast("long"))
      .select("id", "nt").as[(Long, Long)].collect().toMap
    val got = graft.operators.RangedNtile(df, 4, Seq(desc("v"), asc("id")))
      .select("id", "ntile").as[(Long, Long)].collect().toMap
    assert(got == expected)
    assert(got.values.toSeq.sorted == Seq(1L, 2L, 3L))
  }

  /** Force knnExact's two-phase pruning path (the subject under test) even
    * on tiny corpora, where the statistics gate would take the single-phase
    * scan.
    */
  private def withPruningPath[T](f: => T): T = {
    spark.conf.set("graft.ivf.minCellsForPruning", "0")
    try f finally spark.conf.unset("graft.ivf.minCellsForPruning")
  }

  test("IvfIndex.append: ingest without rebuild keeps knnExact exact") {
    val rng = new scala.util.Random(67)
    val centers = Seq.fill(6)(Array.fill(6)(rng.nextGaussian()))
    def mk(ids: Range, jitter: Double): Seq[(Long, Seq[Double])] =
      ids.map { i =>
        val c = centers(i % 6)
        (i.toLong, c.map(x => x + rng.nextGaussian() * jitter).toSeq)
      }
    val base = mk(0 until 200, 0.05)
    // appended batch: half near existing clusters, half FAR outliers —
    // the radius-widening path a real ingest exercises
    val extra = mk(200 until 220, 0.05) ++
      (220 until 240).map(i => (i.toLong, Seq.fill(6)(3.0 * rng.nextGaussian())))
    val idx0 = graft.operators.IvfIndex.build(base.toDF("vec_id", "v"))
    val idx = graft.operators.IvfIndex.append(idx0, extra.toDF("vec_id", "v"))
    // occupancy bookkeeping covers every vector exactly once
    assert(idx.assigned.count() == 240)
    assert(idx.cells.agg(org.apache.spark.sql.functions.sum("cnt"))
      .head.getLong(0) == 240)
    val all = base ++ extra
    val byId = all.map { case (i, v) => i -> v.toArray }.toMap
    def cos(a: Array[Double], b: Array[Double]): Double = {
      var d = 0.0; var na = 0.0; var nb = 0.0; var i = 0
      while (i < a.length) { d += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i); i += 1 }
      d / (math.sqrt(na) * math.sqrt(nb))
    }
    val q = idx.assigned.filter(col("vec_id") % 16 === 0)
      .select(col("vec_id").as("query_id"), col("v").as("qv"))
    val got = withPruningPath {
      graft.operators.IvfIndex.knnExact(idx, q, k = 5, nprobe = 2)
        .select("query_id", "rk", "neighbor_id").as[(Long, Long, Long)]
        .collect().toSeq.sorted
    }
    // exactness over the APPENDED index: identical to brute force over the
    // union — valid radii are the only thing the triangle pruning needs
    val expect = all.map(_._1).filter(_ % 16 == 0).flatMap { qid =>
      all.map(_._1).filter(_ != qid)
        .map(n => (n, cos(byId(qid), byId(n))))
        .sortBy { case (n, s) => (-s, n) }.take(5).zipWithIndex
        .map { case ((n, _), r) => (qid, (r + 1).toLong, n) }
    }.sorted
    assert(got == expect, s"append broke exactness: got=${got.take(8)}...")
    graft.Caches.drain(spark)
  }

  test("IvfIndex edges: tiny corpus, k larger than candidates, self-pair search") {
    val e = Seq((0L, Seq(1.0, 0.0)), (1L, Seq(0.9, 0.1)), (2L, Seq(0.0, 1.0)))
      .toDF("vec_id", "v")
    val idx = graft.operators.IvfIndex.build(e)
    assert(idx.assigned.count() == 3)
    // k=5 > n-1 candidates: returns everything ranked, no crash — on BOTH
    // the single-phase (default at 3 cells) and the pruning path
    val q = idx.assigned.filter(col("vec_id") === 0L)
      .select(col("vec_id").as("query_id"), col("v").as("qv"))
    val knn = graft.operators.IvfIndex.knnExact(idx, q, k = 5, nprobe = 1)
      .select("rk", "neighbor_id").as[(Long, Long)].collect().toSeq.sorted
    assert(knn == Seq((1L, 1L), (2L, 2L)))
    val knnPruned = withPruningPath {
      graft.operators.IvfIndex.knnExact(idx, q, k = 5, nprobe = 1)
        .select("rk", "neighbor_id").as[(Long, Long)].collect().toSeq.sorted
    }
    assert(knnPruned == knn)
    // pair search at a threshold only the near-parallel pair passes
    val pairs = graft.operators.IvfIndex.pairsExact(idx, 0.9)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(pairs == Set((0L, 1L)))
  }

  test("AsOfJoin with an empty right side carries nulls for every left row") {
    val quotes = Seq.empty[(String, Long, Double)].toDF("sym", "t", "px")
    val trades = Seq(("a", 1L, 1), ("b", 2L, 2)).toDF("sym", "t", "qty")
    val r = AsOfJoin(trades, quotes, "sym", "t", "t", Seq("px"))
      .select("sym", "px").collect()
    assert(r.length == 2 && r.forall(_.isNullAt(1)))
  }

  test("IvfIndex: triangle-inequality pruning skips most cell pairs on clustered data") {
    // 16 tight clusters in 8-d: the realistic corpus shape. The bound should
    // prune the large majority of the 16x16-ish cell-pair grid at a high
    // threshold while the scan stays exact.
    val rng = new scala.util.Random(5)
    val centers = Seq.fill(16)(Array.fill(8)(rng.nextGaussian()))
    val vecs = (0L until 256L).map { i =>
      val ctr = centers((i % 16).toInt)
      (i, ctr.map(x => x + rng.nextGaussian() * 0.02).toSeq)
    }
    val e = vecs.toDF("vec_id", "v")
    val idx = graft.operators.IvfIndex.build(e)
    val k = idx.cells.count()
    val surviving = graft.operators.IvfIndex.survivingCellPairs(idx, 0.95).count()
    assert(surviving < k * k / 2,
      s"expected pruning: $surviving of ${k * k} cell pairs survived")
    // and the pruned scan is still exact vs naive all-pairs
    val naive = (for {
      (a, va) <- vecs; (b, vb) <- vecs if a < b
      dot = va.zip(vb).map { case (x, y) => x * y }.sum
      sim = dot / (math.sqrt(va.map(x => x * x).sum) * math.sqrt(vb.map(x => x * x).sum))
      if sim >= 0.95
    } yield (a, b)).toSet
    val got = graft.operators.IvfIndex.pairsExact(idx, 0.95)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(naive.nonEmpty)
    assert(got == naive, s"missing=${naive -- got} extra=${got -- naive}")
  }

  test("IvfIndex.pairsExact scan-ratio gate swaps the plan, never the rows") {
    // isotropic vectors widen every cell radius until the triangle test
    // prunes almost nothing — the shape the gate exists for. Forcing the
    // ratio to 0 (always block-scan) and to an unreachable ceiling
    // (always cell-pair) must change the join shape and nothing else.
    val rng = new scala.util.Random(23)
    val vecs = (0L until 200L).map(i => (i, Seq.fill(6)(rng.nextGaussian())))
    val idx = graft.operators.IvfIndex.build(vecs.toDF("vec_id", "v"))
    def run(ratio: String): (Set[(Long, Long)], String) = {
      spark.conf.set("graft.ivf.pairScanRatio", ratio)
      // the row floor would veto block on a 200-row fixture — disable it
      // here so the ratio knob is the thing under test
      spark.conf.set("graft.ivf.blockMinRows", "0")
      try {
        val df = graft.operators.IvfIndex.pairsExact(idx, 0.6)
        val rows = df.select("id_a", "id_b").as[(Long, Long)].collect().toSet
        (rows, df.queryExecution.executedPlan.toString)
      } finally {
        spark.conf.unset("graft.ivf.pairScanRatio")
        spark.conf.unset("graft.ivf.blockMinRows")
      }
    }
    val (bruteRows, brutePlan) = run("0.0")
    val (cellRows, cellPlan) = run("1000000000.0")
    assert(bruteRows == cellRows,
      s"gate changed the answer: only-brute=${bruteRows -- cellRows} " +
        s"only-cell=${cellRows -- bruteRows}")
    assert(bruteRows.nonEmpty)
    assert(brutePlan.contains("BroadcastNestedLoopJoin"),
      "ratio=0 must take the block scan (id_a < id_b broadcast NLJ)")
    assert(cellPlan.contains("BroadcastHashJoin") ||
      cellPlan.contains("SortMergeJoin") || cellPlan.contains("ShuffledHashJoin"),
      s"ratio=inf must keep the cell-pair equi join; plan=\n$cellPlan")
  }

  test("IvfIndex.knnExact equals brute-force top-k on clustered data") {
    val rng = new scala.util.Random(9)
    val centers = Seq.fill(8)(Array.fill(6)(rng.nextGaussian()))
    val vecs = (0L until 120L).map { i =>
      val ctr = centers((i % 8).toInt)
      (i, ctr.map(x => x + rng.nextGaussian() * 0.05).toSeq)
    }
    val e = vecs.toDF("vec_id", "v")
    val idx = graft.operators.IvfIndex.build(e)
    val q = idx.assigned.filter(col("vec_id") % 20 === 0)
      .select(col("vec_id").as("query_id"), col("v").as("qv"))
    // the pruning path is the property under test; the default single-phase
    // path (this corpus has ~11 cells) must agree with it
    val got = withPruningPath {
      graft.operators.IvfIndex.knnExact(idx, q, k = 5, nprobe = 2)
        .select("query_id", "rk", "neighbor_id").as[(Long, Long, Long)]
        .collect().toSeq.sorted
    }
    val gotSinglePhase = graft.operators.IvfIndex.knnExact(idx, q, k = 5, nprobe = 2)
      .select("query_id", "rk", "neighbor_id").as[(Long, Long, Long)]
      .collect().toSeq.sorted
    assert(gotSinglePhase == got, "single-phase and pruning paths disagree")
    def cos(a: Seq[Double], b: Seq[Double]) =
      a.zip(b).map { case (x, y) => x * y }.sum /
        (math.sqrt(a.map(x => x * x).sum) * math.sqrt(b.map(x => x * x).sum))
    val byId = vecs.toMap
    val expected = vecs.map(_._1).filter(_ % 20 == 0).flatMap { qid =>
      vecs.map(_._1).filter(_ != qid)
        .map(nid => (nid, cos(byId(qid), byId(nid))))
        .sortBy { case (nid, s) => (-s, nid) }
        .take(5).zipWithIndex
        .map { case ((nid, _), i) => (qid, (i + 1).toLong, nid) }
    }.sorted
    assert(got == expected)
  }

  test("knnExact on a predicate-filtered index: exact even when probed cells are empty") {
    // filtered vector search (x3_knn_filtered) restricts the index to a
    // metadata predicate BEFORE the scan. Adversarial shape: queries come
    // from cluster 7 but only clusters 0/1 are eligible, so every probed
    // (nearest) cell for a query holds ZERO eligible members — phase 1
    // yields no sk row, and the phase-2 left join must keep the query
    // alive (an inner join silently returned zero neighbors here)
    val rng = new scala.util.Random(23)
    val centers = Seq.fill(8)(Array.fill(6)(rng.nextGaussian()))
    val vecs = (0L until 160L).map { i =>
      val ctr = centers((i % 8).toInt)
      (i, ctr.map(x => x + rng.nextGaussian() * 0.05).toSeq)
    }
    val e = vecs.toDF("vec_id", "v")
    val idx = graft.operators.IvfIndex.build(e)
    val eligible = vecs.map(_._1).filter(_ % 8 < 2).toSet
    val keep = eligible.toSeq.toDF("vec_id")
    val fidx = graft.operators.IvfIndex.Index(
      idx.assigned.join(keep, Seq("vec_id"), "left_semi"), idx.cells)
    val q = idx.assigned.filter(col("vec_id") % 8 === 7 && col("vec_id") < 24)
      .select(col("vec_id").as("query_id"), col("v").as("qv"))
    val got = withPruningPath {
      graft.operators.IvfIndex.knnExact(fidx, q, k = 5, nprobe = 1)
        .select("query_id", "rk", "neighbor_id").as[(Long, Long, Long)]
        .collect().toSeq.sorted
    }
    def cos(a: Seq[Double], b: Seq[Double]) =
      a.zip(b).map { case (x, y) => x * y }.sum /
        (math.sqrt(a.map(x => x * x).sum) * math.sqrt(b.map(x => x * x).sum))
    val byId = vecs.toMap
    val expected = Seq(7L, 15L, 23L).flatMap { qid =>
      eligible.toSeq
        .map(nid => (nid, cos(byId(qid), byId(nid))))
        .sortBy { case (nid, s) => (-s, nid) }
        .take(5).zipWithIndex
        .map { case ((nid, _), i) => (qid, (i + 1).toLong, nid) }
    }.sorted
    assert(got == expected,
      s"filtered pruning-path knn diverged from brute force over the eligible set")
    // a predicate matching NOTHING must yield zero rows, not crash — on
    // both the single-phase and pruning paths
    val emptyIdx = graft.operators.IvfIndex.Index(
      idx.assigned.filter(lit(false)), idx.cells)
    assert(graft.operators.IvfIndex.knnExact(emptyIdx, q, k = 5).count() == 0)
    assert(withPruningPath {
      graft.operators.IvfIndex.knnExact(emptyIdx, q, k = 5, nprobe = 1).count()
    } == 0)
  }

  test("IvfIndex.knnApprox: recall, scan budget, and scan-exactness hold " +
      "simultaneously on clustered AND isotropic fixtures") {
    val k = 5; val nprobe = 4
    val rng = new scala.util.Random(17)
    val centers = Seq.fill(8)(Array.fill(6)(rng.nextGaussian()))
    val clustered = (0L until 240L).map { i =>
      val ctr = centers((i % 8).toInt)
      (i, ctr.map(x => x + rng.nextGaussian() * 0.05).toSeq)
    }
    val rng2 = new scala.util.Random(23)
    val isotropic = (0L until 240L).map(i => (i, Seq.fill(6)(rng2.nextGaussian())))
    for ((label, vecs) <- Seq("clustered" -> clustered, "isotropic" -> isotropic)) {
      val byId = vecs.map { case (i, v) => i -> v.toArray }.toMap
      def cos(a: Array[Double], b: Array[Double]): Double = {
        // same sequential folds as VF.dotNative / VF.l2Norm → bit-identical
        var d = 0.0; var na = 0.0; var nb = 0.0; var i = 0
        while (i < a.length) { d += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i); i += 1 }
        d / (math.sqrt(na) * math.sqrt(nb))
      }
      val e = vecs.toDF("vec_id", "v")
      val idx = graft.operators.IvfIndex.build(e)
      val queryIds = vecs.map(_._1).filter(_ % 20 == 0)
      val q = idx.assigned.filter(col("vec_id") % 20 === 0)
        .select(col("vec_id").as("query_id"), col("v").as("qv"))
      val approx = graft.operators.IvfIndex.knnApprox(idx, q, k = k, nprobe = nprobe)
        .select("query_id", "rk", "neighbor_id").as[(Long, Long, Long)]
        .collect().toSeq.sorted
      // independent Scala reference of the probe + scan contract
      val cells = idx.cells.select("cell", "cv").as[(Long, Seq[Double])]
        .collect().map { case (c, v) => c -> v.toArray }
      val members = idx.assigned.select("cell", "vec_id").as[(Long, Long)]
        .collect().groupBy(_._1).map { case (c, xs) => c -> xs.map(_._2).toSeq }
      var scanned = 0L
      val reference = queryIds.flatMap { qid =>
        val qv = byId(qid)
        val probed = cells.map { case (c, cv) => (c, cos(qv, cv)) }
          .sortBy { case (c, s) => (-s, c) }.take(nprobe).map(_._1).toSet
        val cand = probed.toSeq.flatMap(members.getOrElse(_, Nil)).filter(_ != qid)
        scanned += cand.size
        cand.map(n => (n, cos(qv, byId(n))))
          .sortBy { case (n, s) => (-s, n) }.take(k).zipWithIndex
          .map { case ((n, _), r) => (qid, (r + 1).toLong, n) }
      }.sorted
      // 1) SCAN-EXACTNESS: the approximate search returns exactly the true
      //    top-k of what its probe budget scanned (deterministic ties incl.)
      assert(approx == reference, s"[$label] approx != exact-over-probed-cells")
      // 2) SCAN BUDGET: the probe bound holds — on ~sqrt(n)=16 cells,
      //    nprobe=4 must scan well under half the corpus per query
      val frac = scanned.toDouble / (vecs.size.toLong * queryIds.size)
      assert(frac <= 0.5, s"[$label] scanned fraction $frac exceeds budget")
      // 3) RECALL vs the full exact search: >= 0.9 where clustering gives
      //    the probe signal; on isotropic data no sublinear ANN can beat its
      //    scan fraction (the repo's documented rationale for the exact IVF
      //    path), so the floor there is only the scan fraction itself
      val exact = withPruningPath {
        graft.operators.IvfIndex.knnExact(idx, q, k = k, nprobe = 2)
          .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
      }
      val approxSet = approx.map { case (qid, _, n) => (qid, n) }.toSet
      val recall = (exact & approxSet).size.toDouble / exact.size
      val floor = if (label == "clustered") 0.9 else frac * 0.5
      assert(recall >= floor, s"[$label] recall=$recall < $floor (frac=$frac)")
      graft.Caches.drain(spark)
    }
  }

  test("IvfIndex.knnExact above the broadcast threshold shuffles the query side") {
    val rng = new scala.util.Random(11)
    val vecs = (0L until 100L).map(i => (i, Seq.fill(4)(rng.nextGaussian())))
    val e = vecs.toDF("vec_id", "v")
    val idx = graft.operators.IvfIndex.build(e)
    val q = idx.assigned.filter(col("vec_id") % 10 === 0)
      .select(col("vec_id").as("query_id"), col("v").as("qv"))
    val baseline = graft.operators.IvfIndex.knnExact(idx, q, k = 3, nprobe = 2)
      .select("query_id", "rk", "neighbor_id").as[(Long, Long, Long)]
      .collect().toSeq.sorted
    spark.conf.set("graft.ivf.broadcastThreshold", "0")
    try withPruningPath {
      val df = graft.operators.IvfIndex.knnExact(idx, q, k = 3, nprobe = 2)
      val got = df.select("query_id", "rk", "neighbor_id").as[(Long, Long, Long)]
        .collect().toSeq.sorted
      assert(got == baseline, "gated plan changed the answer")
      val p = df.queryExecution.executedPlan.toString
      // the query-side joins must fall back to a shuffle, not a broadcast
      // that grows linearly with the corpus
      assert(p.contains("SortMergeJoin") || p.contains("ShuffledHashJoin"),
        s"expected a shuffled query-side join above threshold; plan=\n$p")
    } finally spark.conf.unset("graft.ivf.broadcastThreshold")
  }

  test("Bucketed.colocatedJoin plans with zero shuffle exchanges") {
    val orders = (1L to 500L).map(i => (i, s"o$i")).toDF("okey", "oval")
    val items = (1L to 1500L).map(i => (i % 500 + 1, s"i$i")).toDF("okey", "ival")
    Bucketed.write(orders, "b_orders", "okey", buckets = 4)
    Bucketed.write(items, "b_items", "okey", buckets = 4)
    // force a non-broadcast join so the bucket layout is what avoids shuffle
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val j = Bucketed.colocatedJoin(spark, "b_orders", "b_items", "okey", "okey")
      assert(j.count() == 1500L)
      val shuffles = collectWithSubqueries(j.queryExecution.executedPlan) {
        case e: ShuffleExchangeLike => e
      }
      assert(shuffles.isEmpty, s"expected shuffle-free bucketed join, got:\n${j.queryExecution.executedPlan}")
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "10485760")
      spark.sql("DROP TABLE IF EXISTS b_orders")
      spark.sql("DROP TABLE IF EXISTS b_items")
    }
  }

  test("IvfIndex.pruneStaleCache deletes only stale index-shaped entries") {
    val root = java.nio.file.Files.createTempDirectory("ivf-prune").toFile
    def mk(parts: String*): java.io.File = {
      val f = new java.io.File(root, parts.mkString("/")); f.mkdirs(); f
    }
    val stale = mk("emb-n100-v0", "assigned")
    mk("emb-n100-v0", "cells")
    val current =
      mk(s"emb-n100-v${graft.operators.IvfIndex.fmtVersion}", "assigned")
    // a user directory that happens to live under the (configurable) cache
    // root must NEVER be deleted, key-shaped or not
    val precious = mk("precious-data")
    java.nio.file.Files.writeString(
      new java.io.File(precious, "keep.txt").toPath, "x")
    val keyedButForeign = mk("backup-n5-v0")
    java.nio.file.Files.writeString(
      new java.io.File(keyedButForeign, "data.bin").toPath, "x")
    val old = spark.conf.getOption("graft.ivf.cacheDir")
    spark.conf.set("graft.ivf.cacheDir", root.getAbsolutePath)
    try graft.operators.IvfIndex.pruneStaleCache(spark)
    finally old.fold(spark.conf.unset("graft.ivf.cacheDir"))(
      spark.conf.set("graft.ivf.cacheDir", _))
    assert(!stale.getParentFile.exists(), "stale versioned entry removed")
    assert(current.exists(), "current-version entry kept")
    assert(new java.io.File(precious, "keep.txt").isFile, "user dir untouched")
    assert(new java.io.File(keyedButForeign, "data.bin").isFile,
      "key-shaped dir without index children untouched")
  }

  test("minhash-LSH hot-band skew guard: band join runs over distinct sets") {
    // adversarial boilerplate corpus: 400 IDENTICAL docs (every one lands in
    // the same bucket of all 16 bands) + two distinct near-dup docs + one
    // unrelated doc. Without the distinct-set collapse the band self-join
    // would generate 16 * 400*399/2 ≈ 1.3M bucket pairs; collapsed, the
    // identical docs are ONE set and the join sees at most one row per
    // (set, band) bucket.
    val template = (1 to 30).map(i => s"tpl$i").mkString(" ")
    val nearA = (1 to 30).map(i => s"w$i").mkString(" ")
    val nearB = ((1 to 29).map(i => s"w$i") :+ "zz").mkString(" ")
    val rows = (0L until 400L).map(i => (i, template)) ++
      Seq((1000L, nearA), (1001L, nearB), (2000L, "totally unrelated stuff x y"))
    val d = rows.toDF("doc_id", "text")
    val out = graft.queries.Llm.minhashLshPairs(spark, d, 0.5)
    val res = out.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    // the 400 identical docs owe all m(m-1)/2 pairs at exactly 1.0
    val intra = res.filter { case (a, b, _) => a < 400 && b < 400 }
    assert(intra.length == 400 * 399 / 2)
    assert(intra.forall(_._3 == 1.0))
    // the near-dup pair survives band + verify (28/32 shared shingles)
    assert(res.exists { case (a, b, j) => a == 1000L && b == 1001L && j > 0.8 })
    // no cross pairs between template group and the rest
    assert(res.length == intra.length + 1)
    // plan pin: the distinct-set collapse (groupBy(sh) + collect_list) feeds
    // the band join — same detector as the x2_containment collapse test
    val opt = out.queryExecution.optimizedPlan.toString
    assert(opt.contains("collect_list(doc_id"),
      s"no distinct-set collapse feeding the band join; plan=\n$opt")
    graft.Caches.drain(spark)
  }

  test("IvfIndex.forget: deleted vectors vanish, search stays exact on survivors") {
    val rng = new scala.util.Random(91)
    val centers = Seq.fill(6)(Array.fill(6)(rng.nextGaussian()))
    val all = (0 until 240).map { i =>
      val c = centers(i % 6)
      (i.toLong, c.map(x => x + rng.nextGaussian() * 0.05).toSeq)
    }
    val idx0 = graft.operators.IvfIndex.build(all.toDF("vec_id", "v"))
    // deletion set includes every member of cluster 0 (mod-6 class) in one
    // cell neighborhood plus scattered ids — exercises both the radius
    // recompute and (with a second wave below) full-cell removal
    val gone = (0 until 240 by 6).map(_.toLong).toSet ++ Set(1L, 7L, 13L)
    val idx = graft.operators.IvfIndex.forget(idx0, gone.toSeq.toDF("vec_id"))
    val surv = all.filterNot { case (i, _) => gone(i) }
    assert(idx.assigned.count() == surv.size.toLong)
    assert(idx.assigned.filter(col("vec_id").isin(gone.toSeq: _*)).count() == 0)
    // occupancy bookkeeping: cnt sums to the survivor count, no empty cells
    assert(idx.cells.agg(sum("cnt")).head.getLong(0) == surv.size.toLong)
    assert(idx.cells.filter(col("cnt") <= 0).count() == 0)
    // radii only ever tighten (max over a subset of the original members)
    val rBefore = idx0.cells.select("cell", "r").as[(Long, Double)].collect().toMap
    idx.cells.select("cell", "r").as[(Long, Double)].collect().foreach {
      case (c, r) => assert(r <= rBefore(c) + 1e-12, s"radius grew for cell $c")
    }
    val byId = surv.map { case (i, v) => i -> v.toArray }.toMap
    def cos(a: Array[Double], b: Array[Double]): Double = {
      var d = 0.0; var na = 0.0; var nb = 0.0; var i = 0
      while (i < a.length) { d += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i); i += 1 }
      d / (math.sqrt(na) * math.sqrt(nb))
    }
    val q = idx.assigned.filter(col("vec_id") % 16 === 2)
      .select(col("vec_id").as("query_id"), col("v").as("qv"))
    val qids = surv.map(_._1).filter(_ % 16 == 2)
    val got = withPruningPath {
      graft.operators.IvfIndex.knnExact(idx, q, k = 5, nprobe = 2)
        .select("query_id", "rk", "neighbor_id").as[(Long, Long, Long)]
        .collect().toSeq.sorted
    }
    // a forgotten id never comes back as a neighbor...
    assert(got.forall { case (_, _, n) => !gone(n) })
    // ...and the result is exactly brute force over the survivor set
    val expect = qids.flatMap { qid =>
      surv.map(_._1).filter(_ != qid)
        .map(n => (n, cos(byId(qid), byId(n))))
        .sortBy { case (n, s) => (-s, n) }.take(5).zipWithIndex
        .map { case ((n, _), r) => (qid, (r + 1).toLong, n) }
    }.sorted
    assert(got == expect, s"forget broke exactness: got=${got.take(8)}...")
    // second wave: delete EVERYTHING assigned to one cell — the cell row
    // itself must disappear while search over the rest stays well-formed
    val victim = idx.cells.orderBy(asc("cell")).select("cell").head.getLong(0)
    val cellIds = idx.assigned.filter(col("cell") === victim)
      .select("vec_id").as[Long].collect().toSeq
    val idx2 = graft.operators.IvfIndex.forget(idx, cellIds.toDF("vec_id"))
    assert(idx2.cells.filter(col("cell") === victim).count() == 0)
    assert(idx2.assigned.count() == surv.size.toLong - cellIds.size)
    assert(idx2.cells.agg(sum("cnt")).head.getLong(0) ==
      surv.size.toLong - cellIds.size)
    graft.Caches.drain(spark)
  }

  test("IvfIndex.forgetStored: cache re-keys to survivor count; stale copy retired") {
    val root = java.nio.file.Files.createTempDirectory("ivf-forget").toFile
    val old = spark.conf.getOption("graft.ivf.cacheDir")
    spark.conf.set("graft.ivf.cacheDir", root.getAbsolutePath)
    try {
      val rng = new scala.util.Random(17)
      val all = (0 until 120).map(i =>
        (i.toLong, Seq.fill(5)(rng.nextGaussian())))
      val e = all.toDF("vec_id", "v")
      graft.operators.IvfIndex.loadOrBuild(e, "embtest")
      val v = graft.operators.IvfIndex.fmtVersion
      assert(new java.io.File(root, s"embtest-n120-v$v").isDirectory)
      val goneIds = Seq(3L, 44L, 90L)
      val (rewritten, removed) = graft.operators.IvfIndex.forgetStored(
        spark, "embtest", goneIds.toDF("vec_id"))
      assert(rewritten == 1 && removed == 3L)
      // old key retired (the forgotten vectors left storage), new key live
      assert(!new java.io.File(root, s"embtest-n120-v$v").exists())
      val dir = new java.io.File(root, s"embtest-n117-v$v")
      assert(new java.io.File(dir, "assigned/_SUCCESS").isFile &&
        new java.io.File(dir, "cells/_SUCCESS").isFile)
      // the next loadOrBuild over the shrunken source CACHE-HITS the
      // forgotten index: same directory, untouched mtime, no rebuild
      val mtime = dir.lastModified()
      val shrunk = e.filter(!col("vec_id").isin(goneIds: _*))
      val idx = graft.operators.IvfIndex.loadOrBuild(shrunk, "embtest")
      assert(dir.lastModified() == mtime, "loadOrBuild rebuilt instead of hitting")
      assert(idx.assigned.count() == 117)
      assert(idx.assigned.filter(col("vec_id").isin(goneIds: _*)).count() == 0)
      // a key that matches nothing rewrites nothing and retires nothing
      val (r2, d2) = graft.operators.IvfIndex.forgetStored(
        spark, "embtest", Seq(99999L).toDF("vec_id"))
      assert(r2 == 0 && d2 == 0L && dir.isDirectory)
    } finally {
      old.fold(spark.conf.unset("graft.ivf.cacheDir"))(
        spark.conf.set("graft.ivf.cacheDir", _))
      graft.Caches.drain(spark)
    }
  }

  test("IvfIndex.forgetStored reaches SHARDED cache entries (erasure covers every stored copy)") {
    val root = java.nio.file.Files.createTempDirectory("ivf-forget-sh").toFile
    val old = spark.conf.getOption("graft.ivf.cacheDir")
    spark.conf.set("graft.ivf.cacheDir", root.getAbsolutePath)
    try {
      val rng = new scala.util.Random(29)
      val all = (0 until 160).map(i =>
        (i.toLong, Seq.fill(5)(rng.nextGaussian())))
      val e = all.toDF("vec_id", "v")
      // the same key stores BOTH layouts — erasure must rewrite both
      graft.operators.IvfIndex.loadOrBuild(e, "shtest")
      graft.operators.IvfIndex.loadOrBuildSharded(e, "shtest", shards = 4)
      val v = graft.operators.IvfIndex.fmtVersion
      assert(new java.io.File(root, s"shtest-n160-v$v").isDirectory &&
        new java.io.File(root, s"shtest-sh4-n160-v$v").isDirectory)
      val goneIds = Seq(7L, 62L, 133L, 140L)
      val (rewritten, removed) = graft.operators.IvfIndex.forgetStored(
        spark, "shtest", goneIds.toDF("vec_id"))
      assert(rewritten == 2 && removed == 8L,
        s"expected both layouts rewritten, got ($rewritten, $removed)")
      // forgotten vectors left storage in BOTH artifacts; survivor-count
      // re-key preserves the shard segment
      assert(!new java.io.File(root, s"shtest-n160-v$v").exists())
      assert(!new java.io.File(root, s"shtest-sh4-n160-v$v").exists())
      val shDir = new java.io.File(root, s"shtest-sh4-n156-v$v")
      assert(new java.io.File(shDir, "assigned/_SUCCESS").isFile &&
        new java.io.File(shDir, "cells/_SUCCESS").isFile)
      val stored = spark.read
        .parquet(new java.io.File(shDir, "assigned").getPath)
      assert(stored.count() == 156 &&
        stored.filter(col("vec_id").isin(goneIds: _*)).count() == 0)
      // the shrunken source cache-HITS the rewritten sharded artifact
      val mtime = shDir.lastModified()
      val shrunk = e.filter(!col("vec_id").isin(goneIds: _*))
      val idx = graft.operators.IvfIndex.loadOrBuildSharded(shrunk, "shtest", 4)
      assert(shDir.lastModified() == mtime,
        "loadOrBuildSharded rebuilt instead of hitting the forgotten index")
      assert(idx.assigned.count() == 156)
    } finally {
      old.fold(spark.conf.unset("graft.ivf.cacheDir"))(
        spark.conf.set("graft.ivf.cacheDir", _))
      graft.Caches.drain(spark)
    }
  }

  /** A corpus assembled from differently-distributed contiguous id slices —
    * the geometry that defeated the GLOBAL layout's triangle pruning in the
    * r09 30x probe. Slice s lives at ids [s*per, (s+1)*per) and clusters
    * around its own centers, far from every other slice's.
    */
  private def mixedSliceCorpus(slices: Int, per: Int, dim: Int, seed: Int)
      : Seq[(Long, Seq[Double])] = {
    val rng = new scala.util.Random(seed)
    (0 until slices).flatMap { s =>
      // each slice's centers sit in a distinct orthant, offset by 4·s on
      // axis s — distributions that share no geometry across slices
      val centers = Seq.fill(6)(Array.tabulate(dim)(d =>
        rng.nextGaussian() + (if (d == s % dim) 4.0 * (s + 1) else 0.0)))
      (0 until per).map { i =>
        val c = centers(i % 6)
        ((s * per + i).toLong, c.map(x => x + rng.nextGaussian() * 0.05).toSeq)
      }
    }
  }

  test("IvfIndex.buildSharded: exact pairs on mixed-slice geometry, better pruning than global") {
    val vecs = mixedSliceCorpus(slices = 3, per = 80, dim = 8, seed = 41)
    val e = vecs.toDF("vec_id", "v")
    val naive = (for {
      (a, va) <- vecs; (b, vb) <- vecs if a < b
      dot = va.zip(vb).map { case (x, y) => x * y }.sum
      sim = dot / (math.sqrt(va.map(x => x * x).sum) * math.sqrt(vb.map(x => x * x).sum))
      if sim >= 0.9
    } yield (a, b)).toSet
    assert(naive.nonEmpty)
    val sharded = graft.operators.IvfIndex.buildSharded(e, shards = 3)
    // exactness on the CELL-PAIR plan itself (force the gate off the block
    // fallback so the pruned scan is the thing being verified)
    spark.conf.set("graft.ivf.pairScanRatio", "1000000000.0")
    val got = try {
      graft.operators.IvfIndex.pairsExact(sharded, 0.9)
        .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    } finally spark.conf.unset("graft.ivf.pairScanRatio")
    assert(got == naive, s"missing=${naive -- got} extra=${got -- naive}")

    // the scale claim: per-shard layouts restore pruning where one global
    // layout absorbs all three distributions. Compare the fraction of the
    // n² dot products each index's surviving cell pairs would scan.
    def scanFraction(idx: graft.operators.IvfIndex.Index): Double = {
      val cnts = idx.cells.select(col("cell"), col("cnt"))
      val s = graft.operators.IvfIndex.survivingCellPairs(idx, 0.9)
        .join(cnts.select(col("cell").as("ca"), col("cnt").as("cca")), "ca")
        .join(cnts.select(col("cell").as("cb"), col("cnt").as("ccb")), "cb")
        .agg(sum(col("cca") * col("ccb"))).head().getLong(0)
      val n = idx.assigned.count().toDouble
      s / (n * n)
    }
    val fShard = scanFraction(sharded)
    assert(fShard < 0.5,
      s"sharded layout should prune most of the grid on sliced geometry: $fShard")
    graft.Caches.drain(spark)
  }

  test("IvfIndex.pairsExact records its plan choice in graft.ivf.lastPairsPath") {
    val rng = new scala.util.Random(29)
    val e = (0L until 150L).map(i => (i, Seq.fill(6)(rng.nextGaussian())))
      .toDF("vec_id", "v")
    val idx = graft.operators.IvfIndex.build(e)
    // the row floor would veto block on these tiny fixtures — disable it so
    // the ratio logic is the thing under test (its own default is pinned
    // separately below)
    spark.conf.set("graft.ivf.blockMinRows", "0")
    def pathAfter(ratio: String): String = {
      spark.conf.set("graft.ivf.pairScanRatio", ratio)
      try {
        graft.operators.IvfIndex.pairsExact(idx, 0.6).count()
        spark.conf.get("graft.ivf.lastPairsPath")
      } finally spark.conf.unset("graft.ivf.pairScanRatio")
    }
    assert(pathAfter("0.0").startsWith("block "),
      "ratio=0 must record the block-scan path")
    assert(pathAfter("1000000000.0").startsWith("cellpair "),
      "ratio=inf must record the cell-pair path")
    // and the DEFAULT ratio flips on the data itself: isotropic vectors
    // widen every radius until pruning dies (the r09 sf3 full-bench
    // regression was this gate NOT engaging) -> block; tight clusters
    // prune nearly everything -> cellpair
    graft.operators.IvfIndex.pairsExact(idx, 0.6).count()
    assert(spark.conf.get("graft.ivf.lastPairsPath").startsWith("block "),
      s"default ratio must take the block scan on isotropic data: " +
        spark.conf.get("graft.ivf.lastPairsPath"))
    val rng2 = new scala.util.Random(31)
    val centers = Seq.fill(12)(Array.fill(6)(rng2.nextGaussian() * 3))
    val clustered = (0L until 240L).map { i =>
      val c = centers((i % 12).toInt)
      (i, c.map(x => x + rng2.nextGaussian() * 0.02).toSeq)
    }
    val cidx = graft.operators.IvfIndex.build(clustered.toDF("vec_id", "v"))
    graft.operators.IvfIndex.pairsExact(cidx, 0.95).count()
    assert(spark.conf.get("graft.ivf.lastPairsPath").startsWith("cellpair "),
      s"default gate must keep the pruned cell-pair plan on clustered data: " +
        spark.conf.get("graft.ivf.lastPairsPath"))
    spark.conf.unset("graft.ivf.blockMinRows")
    // the ROW FLOOR's default: on a corpus below graft.ivf.blockMinRows the
    // NLJ's constants lose to the cell-pair plan even at ratio 1.0
    // (measured: 3.99 s vs 8.6 s at the 10x point), so dead pruning alone
    // must NOT flip a small corpus to block
    graft.operators.IvfIndex.pairsExact(idx, 0.6).count()
    assert(spark.conf.get("graft.ivf.lastPairsPath").startsWith("cellpair "),
      s"default row floor must keep small corpora on the cell-pair plan: " +
        spark.conf.get("graft.ivf.lastPairsPath"))
    graft.Caches.drain(spark)
  }

  test("IvfIndex.loadOrBuildSharded: shards<=1 shares the unsharded artifact; sharded key is distinct") {
    val tmp = java.nio.file.Files.createTempDirectory("ivf-shard-cache").toString
    val old = spark.conf.getOption("graft.ivf.cacheDir")
    spark.conf.set("graft.ivf.cacheDir", tmp)
    try {
      val vecs = mixedSliceCorpus(slices = 2, per = 60, dim = 6, seed = 7)
      val e = vecs.toDF("vec_id", "v")
      val i1 = graft.operators.IvfIndex.loadOrBuildSharded(e, "shtest", shards = 1)
      assert(i1.assigned.count() == 120)
      val names = new java.io.File(tmp).listFiles().map(_.getName).toSet
      assert(names.exists(n => n.startsWith("shtest-n120")),
        s"shards=1 must delegate to the shared unsharded artifact: $names")
      assert(!names.exists(_.contains("-sh1-")), s"no sh1 dir expected: $names")
      val i2 = graft.operators.IvfIndex.loadOrBuildSharded(e, "shtest", shards = 2)
      assert(i2.assigned.count() == 120)
      val names2 = new java.io.File(tmp).listFiles().map(_.getName).toSet
      assert(names2.exists(_.contains("-sh2-")), s"sharded artifact missing: $names2")
      // and the sharded artifact answers pair queries identically to global
      val a = graft.operators.IvfIndex.pairsExact(i1, 0.9)
        .select("id_a", "id_b").as[(Long, Long)].collect().toSet
      val b = graft.operators.IvfIndex.pairsExact(i2, 0.9)
        .select("id_a", "id_b").as[(Long, Long)].collect().toSet
      assert(a == b, s"sharded index changed the exact answer: ${a -- b} / ${b -- a}")
    } finally {
      old.fold(spark.conf.unset("graft.ivf.cacheDir"))(
        spark.conf.set("graft.ivf.cacheDir", _))
      graft.Caches.drain(spark)
    }
  }

  test("Caches.scoped releases only its own frames; outer caches survive") {
    val outer = graft.Caches.persist(Seq(1L).toDF("x"))
    outer.count()
    var inner: org.apache.spark.sql.DataFrame = null
    graft.Caches.scoped {
      inner = graft.Caches.persist(Seq(2L).toDF("y"))
      inner.count()
      assert(inner.storageLevel.useMemory || inner.storageLevel.useDisk)
    }
    assert(inner.storageLevel == org.apache.spark.storage.StorageLevel.NONE,
      "scope exit must unpersist the frames it registered")
    assert(outer.storageLevel.useMemory || outer.storageLevel.useDisk,
      "a scoped exit must NOT sweep caches owned by the surrounding session")
    graft.Caches.drain(spark)
    assert(outer.storageLevel == org.apache.spark.storage.StorageLevel.NONE)
  }

  test("IvfIndex.vacuumCache evicts superseded same-version generations per (key, layout)") {
    val root = java.nio.file.Files.createTempDirectory("ivf-vacuum").toFile
    val old = spark.conf.getOption("graft.ivf.cacheDir")
    spark.conf.set("graft.ivf.cacheDir", root.getAbsolutePath)
    try {
      val rng = new scala.util.Random(37)
      val all = (0 until 120).map(i =>
        (i.toLong, Seq.fill(5)(rng.nextGaussian())))
      val e = all.toDF("vec_id", "v")
      val v = graft.operators.IvfIndex.fmtVersion
      // two generations of the same key (the corpus shrank), one sharded
      // layout of the same key, and an unrelated key
      graft.operators.IvfIndex.loadOrBuild(e, "vac")
      graft.operators.IvfIndex.loadOrBuild(
        e.filter(col("vec_id") < 110), "vac")
      graft.operators.IvfIndex.loadOrBuildSharded(e, "vac", shards = 4)
      graft.operators.IvfIndex.loadOrBuild(e, "vacother")
      // make the generation order unambiguous whatever the build timing
      assert(new java.io.File(root, s"vac-n120-v$v")
        .setLastModified(System.currentTimeMillis() - 3600000L))
      // a name-shaped directory with non-index contents must never be
      // touched (the cache root may be a shared scratch dir)
      val decoy = new java.io.File(root, s"vac-n999-v$v")
      assert(new java.io.File(decoy, "assigned").mkdirs())
      java.nio.file.Files.write(
        new java.io.File(decoy, "keepme.txt").toPath, "x".getBytes)
      val removed = graft.operators.IvfIndex.vacuumCache(spark, keepLast = 1)
      assert(removed == 1, s"expected exactly the stale generation, got $removed")
      assert(!new java.io.File(root, s"vac-n120-v$v").exists(),
        "the superseded generation must be evicted")
      assert(new java.io.File(root, s"vac-n110-v$v").isDirectory,
        "the live (newest) generation must survive")
      assert(new java.io.File(root, s"vac-sh4-n120-v$v").isDirectory,
        "a different layout of the same key is its own group")
      assert(new java.io.File(root, s"vacother-n120-v$v").isDirectory)
      assert(new java.io.File(decoy, "keepme.txt").isFile,
        "non-index-shaped directories are never touched")
      // keepLast=2 with only one generation per group removes nothing
      assert(graft.operators.IvfIndex.vacuumCache(spark, keepLast = 2) == 0)
    } finally {
      old.fold(spark.conf.unset("graft.ivf.cacheDir"))(
        spark.conf.set("graft.ivf.cacheDir", _))
      graft.Caches.drain(spark)
    }
  }

  test("HammingJoin: block and flip paths produce the identical exact pair " +
      "set, including on a planted hot bucket") {
    import spark.implicits._
    val rng = new scala.util.Random(97)
    // 400 random fps, a 60-doc hot-bucket family (identical high 46 bits —
    // block keys collide, low bits spread over hamming 0..8), and a planted
    // near-dup chain at hamming 1/2/3 off one base
    val base = rng.nextLong() & ((1L << 62) - 1)
    val rows = scala.collection.mutable.ArrayBuffer.empty[(Long, Long)]
    (0 until 400).foreach(i => rows += ((i.toLong, rng.nextLong() & ((1L << 62) - 1))))
    (0 until 60).foreach { i =>
      rows += ((1000L + i, (base & ~65535L) | (rng.nextInt(256).toLong << 1)))
    }
    rows += ((2000L, base))
    rows += ((2001L, base ^ 1L))                       // hamming 1
    rows += ((2002L, base ^ 3L))                       // hamming 2
    rows += ((2003L, base ^ (1L << 40) ^ (1L << 3)))   // hamming 2, split blocks
    rows += ((2004L, base))                            // identical fp
    val fp = rows.toSeq.toDF("doc_id", "fp")
    // brute-force reference
    val ref = rows.toSeq.flatMap { case (ida, fa) =>
      rows.toSeq.collect { case (idb, fb)
        if ida < idb && java.lang.Long.bitCount(fa ^ fb) <= 2 =>
          (ida, idb, java.lang.Long.bitCount(fa ^ fb).toLong)
      }
    }.toSet
    assert(ref.exists(_._3 == 0) && ref.size > 100,
      s"fixture must exercise identical + hot-bucket pairs, got ${ref.size}")
    def run(threshold: String): Set[(Long, Long, Long)] = {
      spark.conf.set("graft.hamming.bucketThreshold", threshold)
      try graft.operators.HammingJoin.pairs(fp, maxHamming = 2)
        .as[(Long, Long, Long)].collect().toSet
      finally {
        spark.conf.unset("graft.hamming.bucketThreshold")
        graft.Caches.drain(spark)
      }
    }
    val block = run(threshold = "1000000") // buckets all under: block path
    val flip = run(threshold = "0")        // every bucket "hot": flip path
    assert(block == ref, s"block path diverged: only-block=${block -- ref} " +
      s"only-ref=${ref -- block}")
    assert(flip == ref, s"flip path diverged: only-flip=${flip -- ref} " +
      s"only-ref=${ref -- flip}")
    // and at maxHamming 3 (the simhash contract) both paths still agree
    val ref3 = rows.toSeq.flatMap { case (ida, fa) =>
      rows.toSeq.collect { case (idb, fb)
        if ida < idb && java.lang.Long.bitCount(fa ^ fb) <= 3 =>
          (ida, idb, java.lang.Long.bitCount(fa ^ fb).toLong)
      }
    }.toSet
    def run3(threshold: String): Set[(Long, Long, Long)] = {
      spark.conf.set("graft.hamming.bucketThreshold", threshold)
      try graft.operators.HammingJoin.pairs(fp, maxHamming = 3)
        .as[(Long, Long, Long)].collect().toSet
      finally {
        spark.conf.unset("graft.hamming.bucketThreshold")
        graft.Caches.drain(spark)
      }
    }
    assert(run3("1000000") == ref3, "k=3 block path diverged")
    assert(run3("0") == ref3, "k=3 flip path diverged")
  }

  test("Caches.countOnce runs ONE count job per distinct input per session") {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    val docs = graft.Tables.load(spark, SparkTestSession.sfDir, "documents")
    graft.Caches.invalidateCounts(spark)
    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val listener = new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
    }
    // listener events are async; the bus drains in ms once jobs finish
    def settle(): Int = { Thread.sleep(500); jobs.get() }
    // two separately-CONSTRUCTED but plan-identical frames — the memo
    // key is the canonicalized analyzed plan, not object identity. Both
    // are built BEFORE the listener attaches: spark.read.parquet runs its
    // own eager file-listing/schema job which is not the count under test.
    val f1 = docs.select("doc_id", "text")
    val f2 = graft.Tables.load(spark, SparkTestSession.sfDir, "documents")
      .select("doc_id", "text")
    val f3 = docs.select("doc_id", "text").filter("doc_id % 2 = 0")
    spark.sparkContext.addSparkListener(listener)
    try {
      val n1 = graft.Caches.countOnce(f1)
      val after1 = settle()
      assert(after1 >= 1, "first countOnce must run a real count job")
      val n2 = graft.Caches.countOnce(f2)
      assert(n2 == n1)
      assert(settle() == after1,
        "second countOnce over the same input re-ran the count job")
      // a DIFFERENT input misses the memo and pays its own scan
      val n3 = graft.Caches.countOnce(f3)
      assert(n3 < n1 && settle() > after1)
    } finally {
      spark.sparkContext.removeSparkListener(listener)
      graft.Caches.invalidateCounts(spark)
    }
  }
}
