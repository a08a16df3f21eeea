package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Connected components by min-label propagation — the step that turns a
  * near-dup PAIR list into dedup DECISIONS (every doc labeled with its
  * cluster representative, the minimum id reachable through near-dup edges).
  *
  * Each iteration: every vertex takes the min of its own label and its
  * neighbors' labels (one shuffle join + one aggregation), then a pointer
  * SHORTCUT step (label := label of my label) halves the distance any label
  * still has to travel — the path-doubling trick from the
  * large-star/small-star family (Kiveris et al., "Connected Components in
  * MapReduce"), so a chain of diameter d converges in O(log d) combined
  * iterations instead of O(d). Near-dup clusters are dense (tiny diameter),
  * but the log bound is what makes the operator safe on adversarial
  * long-chain graphs at 100 TB.
  *
  * @param vertices single-column DataFrame of vertex ids (named `id`)
  * @param edges    two-column DataFrame (`src`, `dst`), undirected
  * @return (id, component) — component = min vertex id in the component
  */
object ConnectedComponents {

  /** Below this edge count the component structure is resolved with a
    * driver-side union-find over the collected edge list (one job, O(E α(E))
    * locally) instead of the iterative join loop — the same statistics-driven
    * planning call Spark itself makes for broadcast joins. 10^6 edges ≈
    * 16 MB on the driver; the distributed loop takes over beyond that.
    * Tunable per session (like autoBroadcastJoinThreshold) via
    * `spark.conf.set("graft.cc.driverThreshold", n)`; set 0 to force the
    * distributed path.
    */
  private val DefaultDriverThreshold = 1000000L

  private def driverThreshold(spark: org.apache.spark.sql.SparkSession): Long =
    spark.conf.getOption("graft.cc.driverThreshold").map(_.toLong)
      .getOrElse(DefaultDriverThreshold)

  def apply(vertices: DataFrame, edges: DataFrame, maxIter: Int = 20): DataFrame = {
    val spark = vertices.sparkSession
    import spark.implicits._
    val threshold = driverThreshold(spark)
    val edgesL = edges.select(col("src").cast("long"), col("dst").cast("long"))
    // ONE bounded action both picks the path and, at or under the
    // threshold, is the driver's whole edge list; only the distributed
    // loop, which reads the edges every iteration, pays for a checkpoint
    val es = edgesL.limit(threshold.max(0L).min(Int.MaxValue - 1L).toInt + 1)
      .as[(Long, Long)].collect()
    if (es.length <= threshold) {
      val parent = scala.collection.mutable.Map[Long, Long]()
      def find(x: Long): Long = {
        var r = x
        while (parent.getOrElse(r, r) != r) r = parent.getOrElse(r, r)
        var c = x
        while (parent.getOrElse(c, c) != c) { val n = parent(c); parent(c) = r; c = n }
        r
      }
      es.foreach { case (a, b) =>
        val (ra, rb) = (find(a), find(b))
        if (ra != rb) { val (lo, hi) = (math.min(ra, rb), math.max(ra, rb))
          parent(hi) = lo }
      }
      val mapping = parent.keys.map(v => v -> find(v)).toSeq.toDF("id2", "comp")
      return vertices
        .join(broadcast(mapping), vertices("id") === col("id2"), "left_outer")
        .select(col("id"), coalesce(col("comp"), col("id")).as("component"))
    }
    distributed(vertices, edgesL.localCheckpoint(true), maxIter)
  }

  private[graft] def distributed(vertices: DataFrame, edges: DataFrame,
      maxIter: Int = 20): DataFrame =
    distributedWithStats(vertices, edges, maxIter)._1

  /** Distributed loop, also returning the number of iterations it took to
    * converge (OperatorsSpec pins the O(log d) bound on a path graph).
    * Throws if `maxIter` is exhausted before convergence — a silent exit
    * would hand back incorrect (unconverged) component labels.
    */
  private[graft] def distributedWithStats(vertices: DataFrame, edges: DataFrame,
      maxIter: Int = 20): (DataFrame, Int) = {
    // symmetric closure materialized once (localCheckpoint also cuts the
    // upstream pair-mining plan out of every iteration's lineage)
    val sym = edges.select(col("src"), col("dst"))
      .union(edges.select(col("dst").as("src"), col("src").as("dst")))
      .localCheckpoint(true)
    // labels are RE-CHECKPOINTED each iteration: an iterative self-join
    // otherwise nests the whole history into one exponentially-growing
    // logical plan (measured: driver OOM on analysis by iteration ~4)
    var labels = vertices.select(col("id"), col("id").as("component"))
      .localCheckpoint(true)
    // labels can only DECREASE, so the label sum is a strictly-decreasing
    // convergence witness — one cheap aggregate per iteration instead of a
    // self-join + count
    def labelSum(df: DataFrame): Long =
      df.agg(sum("component")).head().getLong(0)
    var prevSum = graft.Caches.labeled(vertices.sparkSession, "cc:init")(
      labelSum(labels))
    var converged = false
    var i = 0
    while (!converged && i < maxIter) {
      val neighborMin = sym
        .join(labels, sym("src") === labels("id"))
        .groupBy(col("dst").as("id2"))
        .agg(min("component").as("nbr_min"))
      val propagated = labels
        .join(neighborMin, labels("id") === col("id2"), "left_outer")
        .select(col("id"),
          least(col("component"), coalesce(col("nbr_min"), col("component")))
            .as("component"))
      // pointer shortcut (path doubling): component := component's component.
      // After the neighbor-min step every label points some hops toward the
      // component minimum; composing the mapping with itself halves the
      // remaining hop count, giving O(log d) total iterations on chains.
      val target = propagated
        .select(col("id").as("t_id"), col("component").as("t_comp"))
      // lazy checkpoint: the convergence-sum action below materializes it,
      // so each iteration costs ONE job, not two
      labels = propagated
        .join(target, propagated("component") === col("t_id"), "left_outer")
        .select(col("id"),
          coalesce(col("t_comp"), col("component")).as("component"))
        .localCheckpoint(false)
      val newSum = graft.Caches.labeled(vertices.sparkSession, s"cc:iter$i")(
        labelSum(labels))
      converged = newSum == prevSum
      prevSum = newSum
      i += 1
    }
    if (!converged)
      throw new IllegalStateException(
        s"ConnectedComponents did not converge within $maxIter iterations — " +
          "raise maxIter (labels would be silently wrong for components of " +
          "diameter > 2^maxIter)")
    (labels, i)
  }
}
