package graft.operators

import graft.functions.{NativeExpressions => NX, VectorFunctions => VF}
import graft.sources.{FileSwap, IndexStore}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** IVF (inverted-file) vector index with DATA-DRIVEN cells and EXACT
  * triangle-inequality pruning — the scale path for similarity search and
  * embedding near-dup over `embeddings.embedding`.
  *
  * Cell construction (k ∝ √n, all statistics-driven, no label dependence):
  *   1. one statistics job gives n and the minimum id; stride = ⌈√n⌉;
  *      every vector whose id divides the stride, and the minimum id, seeds
  *      a cell — k ≈ √n cells that GROW with the data
  *      (the r01 design used per-label centroids, whose fixed cell count
  *      left Θ(n²/L) within-cell work at 100×; this is the fix).
  *   2. one k-means (Lloyd) refinement: assign all vectors to their nearest
  *      seed by cosine, recompute cell centroids as element-wise means
  *      (rounded to 6 dp so the arithmetic is reproducible cross-engine),
  *      and re-assign. Assignment uses `max_by` aggregation — map-side
  *      partial aggregation, so the n·k assignment shuffles n rows, not n·k.
  *   3. each cell records its RADIUS: the max angle between the centroid
  *      and any member.
  *
  * Search is EXACT (recall 1.0 by construction), not approximate: on the
  * unit sphere angular distance obeys the triangle inequality, so for a
  * query q and cell c, every member x satisfies
  *   sim(q, x) ≤ cos(max(0, θ(q,c) − r_c)).
  * Cells whose bound cannot beat the current k-th-best candidate are pruned
  * without being read (a 1e-9 margin absorbs acos/cos float error). On
  * clustered data (tight radii — the realistic 100 TB shape) this prunes
  * almost everything; on adversarially isotropic data (the driver's random
  * embeddings, where NO sublinear ANN can have recall) it degrades
  * gracefully to a distributed full scan and still returns the exact answer.
  * OperatorsSpec pins both: equality with brute force, and the pruned
  * fraction on clustered data.
  *
  * The same bound prunes CELL PAIRS for threshold near-dup search:
  *   sim(x, y) ≤ cos(max(0, θ(c_a,c_b) − r_a − r_b))  for x∈c_a, y∈c_b.
  *
  * Lineage (public literature): inverted-file coarse quantization is the
  * IVF of Sivic & Zisserman ("Video Google", ICCV'03) as used by Jégou et
  * al. ("Product Quantization for Nearest Neighbor Search", TPAMI'11);
  * centroid-distance bounds via the triangle inequality are the Elkan
  * acceleration family ("Using the Triangle Inequality to Accelerate
  * k-Means", ICML'03), applied here to search instead of training.
  */
object IvfIndex {

  /** `assigned`: (vec_id, v, nrm, cell, c1=cos(v, centroid)).
    * `cells`: (cell, cv, cnrm, r, cnt) — k ≈ √n rows, broadcastable.
    * From `build` both are query-local persists (registered in
    * [[graft.Caches]]); from `loadOrBuild` both are plain parquet scans.
    */
  final case class Index(assigned: DataFrame, cells: DataFrame)

  /** Load the index for `(key, n, shards)` from the build-once artifact
    * store ([[IndexStore.Ivf]]), building (and saving) it on first touch.
    * A vector index is a build-once-query-many artifact: the k-means build
    * is ~10 passes over the corpus, while every consumer (knn, near-dup
    * pairs, clustering) only needs the resulting (assignment, cells)
    * tables — so those are written out once, keyed by the source key and
    * row count, and every later query or session reads two parquet scans
    * instead of re-running the build. Keying by `n` invalidates the entry
    * if the underlying table changes size. `shards > 1` stores the
    * per-slice layout of [[build]] under its own `-sh<S>` entry.
    *
    * The returned frames are parquet scans — nothing to persist, nothing to
    * leak; the build path's transient persists are registered in
    * [[graft.Caches]] and drained by the harness after the query.
    */
  def loadOrBuild(e0: DataFrame, key: String, shards: Int = 1): Index = {
    // memoized (r13): the cache-key count is a full source scan, and every
    // x3_* query build pays it — the memo holds per (session, canonical
    // plan, source leaf files), so an in-place rewrite re-counts. The
    // artifact directory is still keyed by the COUNT only: a rewrite that
    // keeps the row count selects the stale index dir. PRECONDITION,
    // unenforced here: a same-count source mutation must arrive as a new
    // path (a sources/Snapshot generation dir) or with a new `key`.
    val n = graft.Caches.countOnce(e0)
    val (frames, _) = IndexStore.loadOrBuild(e0.sparkSession, IndexStore.Ivf,
        key, n, Seq("assigned", "cells"), shards = shards) {
      val idx = build(e0, shards)
      (Map("assigned" -> idx.assigned, "cells" -> idx.cells), Map.empty)
    }
    Index(frames("assigned"), frames("cells"))
  }

  /** Append new vectors to an existing index WITHOUT a rebuild — the ingest
    * path of a live vector store. Each new vector is assigned to its
    * nearest EXISTING centroid (centroids do not move, classic IVF append)
    * and that cell's radius bound is widened to cover it. Exactness of
    * [[knnExact]]/[[pairsExact]] is preserved: the only invariant their
    * triangle pruning relies on is r >= angle(member, centroid) for every
    * cell member, which `greatest(r, new member angles)` maintains for any
    * assignment. The cost is ingest-proportional (one broadcast of the
    * √n-row cell table + one shuffle of the NEW rows only); `cnt` tracks
    * occupancy so a deployment can schedule a real rebuild when cells skew.
    */
  def append(idx: Index, e0: DataFrame): Index = {
    val e = e0.select(col("vec_id"), col("v"))
      .withColumn("nrm", VF.l2Norm(col("v")))
    val assignedNew = e.join(broadcast(idx.cells.select("cell", "cv", "cnrm")), lit(true))
      .withColumn("c1", NX.dot(col("v"), col("cv")) / (col("nrm") * col("cnrm")))
      .groupBy("vec_id")
      .agg(max_by(struct(col("cell"), col("c1"), col("v"), col("nrm")),
        struct(col("c1"), (-col("cell")).as("nc"))).as("best"))
      .select(col("vec_id"), col("best.cell").as("cell"), col("best.c1").as("c1"),
        col("best.v").as("v"), col("best.nrm").as("nrm"))
    val assignedAll = graft.Caches.persist(
      idx.assigned.select("vec_id", "cell", "c1", "v", "nrm")
        .unionByName(assignedNew))
    val delta = assignedNew.groupBy("cell")
      .agg(max(clampAcos(col("c1"))).as("dr"), count(lit(1)).as("dc"))
    val cells = graft.Caches.persist(
      idx.cells.join(delta, Seq("cell"), "left")
        .select(col("cell"), col("cv"), col("cnrm"),
          greatest(col("r"), coalesce(col("dr"), lit(0.0))).as("r"),
          (col("cnt") + coalesce(col("dc"), lit(0L))).as("cnt")))
    Index(assignedAll, cells)
  }

  /** Targeted deletion — the vector-store leg of "right to be forgotten".
    * [[graft.sources.Forget]] rewrites TABLES; without this, a deleted
    * document's embedding survives inside the derived index. Removal is an
    * anti-join of the member rows on the (small, broadcast) deletion set;
    * cells that lost members get their radius RECOMPUTED from the
    * survivors and their occupancy decremented, cells emptied entirely are
    * dropped. Exactness of [[knnExact]]/[[pairsExact]] is preserved
    * unconditionally: the pruning math needs only r ≥ angle(member,
    * centroid) for the members that remain, and the recomputed max over a
    * SUBSET can only tighten the bound (keeping the old r would also be
    * valid — recomputing just restores the pruning power deletions free
    * up). Centroids do not move (classic IVF maintenance, same contract as
    * [[append]]): they are routing points, not statistics, and any point
    * is a valid routing point.
    *
    * Cost is deletion-proportional: one broadcast anti-join over the
    * member table plus a radius aggregation restricted to the cells that
    * were actually hit — never a rebuild, never a shuffle of the corpus.
    */
  def forget(idx: Index, keys0: DataFrame): Index = {
    val keys = broadcast(
      keys0.select(col(keys0.columns.head).cast("long").as("vec_id")).distinct())
    val survivors = graft.Caches.persist(
      idx.assigned.join(keys, Seq("vec_id"), "left_anti"))
    // only cells that lost a member need new statistics — deletion lists
    // are small, so this frame is tiny and rides as a broadcast
    val hit = broadcast(idx.assigned.join(keys, Seq("vec_id"))
      .groupBy("cell").agg(count(lit(1)).as("lost")))
    val stats = survivors.join(hit.select("cell"), Seq("cell"))
      .groupBy("cell")
      .agg(max(clampAcos(col("c1"))).as("r2"), count(lit(1)).as("cnt2"))
    val cells = graft.Caches.persist(
      idx.cells.join(hit, Seq("cell"), "left")
        .join(stats, Seq("cell"), "left")
        // a hit cell with no surviving members (cnt2 null) vanished — drop it
        .filter(col("lost").isNull || col("cnt2").isNotNull)
        .select(col("cell"), col("cv"), col("cnrm"),
          when(col("lost").isNull, col("r")).otherwise(col("r2")).as("r"),
          when(col("lost").isNull, col("cnt")).otherwise(col("cnt2")).as("cnt")))
    Index(survivors, cells)
  }

  /** Apply [[forget]] to every CURRENT-version parquet-backed index cache
    * written by [[loadOrBuild]] for `key` — so the deleted vectors leave
    * STORAGE, not just a session's in-memory frames. Each rewritten index
    * is committed under the cache key of its SURVIVOR count
    * (`key-n<survivors>-v<fmt>`): after [[graft.sources.Forget]] shrinks
    * the source table, the next `loadOrBuild` counts exactly that many
    * rows and cache-HITS the forgotten index instead of rebuilding.
    * Commit order is crash-safe in the write-new-then-retire-old style of
    * the snapshot tables: the survivor index is fully written (with its
    * `meta.json` commit marker) before the directory still holding the
    * forgotten vectors is removed — a crash in between leaves both copies
    * (re-run to finish retirement; nothing reads the stale key once the
    * source shrank). Returns (indexes rewritten, member rows removed).
    */
  def forgetStored(spark: SparkSession, key: String, keys: DataFrame): (Int, Long) = {
    // whole-key match: key "test" must not also claim another key's entry
    // like "embtest-n120-v2". Every shard layout of the key is covered —
    // erasure must reach every stored copy, not just the global layout's.
    val safe = IndexStore.safeKey(key)
    var rewritten = 0
    var removedTotal = 0L
    IndexStore.entries(spark, IndexStore.Ivf)
      .filter(e => e.key == safe && e.version == IndexStore.Ivf.fmtVersion)
      .foreach { entry =>
        val idx = Index(
          graft.Caches.readParquet(spark, new java.io.File(entry.dir, "assigned").getPath),
          graft.Caches.readParquet(spark, new java.io.File(entry.dir, "cells").getPath))
        val before = idx.assigned.count()
        val post = forget(idx, keys)
        val nNew = post.assigned.count()
        if (nNew != before) {
          // re-key under the survivor count in the same shard layout, so
          // the shrunken source cache-HITS the layout it used before
          IndexStore.save(spark, IndexStore.Ivf, key, nNew, entry.shards,
            Seq("assigned" -> post.assigned, "cells" -> post.cells))
          // retire the copy still holding the forgotten vectors
          FileSwap.rm(entry.dir)
          rewritten += 1
          removedTotal += before - nNew
        }
        graft.Caches.drain(spark)
      }
    (rewritten, removedTotal)
  }

  /** Evict SUPERSEDED same-version index generations: the entry key embeds
    * the source row count, so every ingest/forget that changes the count
    * writes a NEW `key-nN-v<fmt>` entry and strands the old one —
    * [[IndexStore.pruneStale]] only reclaims other-VERSION entries, and
    * nothing else evicts, so a long-lived deployment accrues one index per
    * corpus size forever. For each (key, shard-layout) group, keep the
    * `keepLast` most recently written generations (the newest is the live
    * one — both the build and the forgetStored rewrite stamp a fresh
    * mtime) and delete the rest. Only entries that pass the store's shape
    * rule are touched. The [[graft.sources.Snapshot]] `vacuum` pattern,
    * applied to the index artifact store. Returns the number of
    * generations removed.
    */
  def vacuumCache(spark: SparkSession, keepLast: Int = 1): Int = {
    require(keepLast >= 1, "vacuum must keep at least the live generation")
    val superseded = IndexStore.entries(spark, IndexStore.Ivf)
      .filter(_.version == IndexStore.Ivf.fmtVersion)
      .groupBy(e => (e.key, e.shards)).values.toSeq
      .flatMap(_.sortBy(-_.dir.lastModified()).drop(keepLast))
    superseded.foreach(e => FileSwap.rm(e.dir))
    superseded.size
  }

  private def clampAcos(c: org.apache.spark.sql.Column) =
    acos(least(greatest(c, lit(-1.0)), lit(1.0)))

  /** Build the index over `e0(vec_id, v: array<double>)`. Runs one
    * statistics job (the row count and each shard's minimum id, which also
    * primes the persisted input), collects the k ≈ √n centroids once, and
    * persists the assignment.
    *
    * SEEDS: stride = ⌈√m⌉ for m = n/shards rows per shard; every vector
    * whose id divides the stride seeds a cell, plus each shard's minimum
    * id — so no shard is ever seedless, not even the single shard of an id
    * set with no multiple of the stride (odd ids 1…199: stride 10).
    *
    * ROUTING IS INTEGER-EXACT AND PORTABLE: vectors are int8-quantized
    * (the same floor(x*127/maxabs + 0.5) rule as the PQ build) and the
    * cell layout is trained with integer arithmetic only — nearest-seed /
    * nearest-centroid argmin over integer squared-L2 (d = |a|² + |b|² −
    * 2·a·b, every term an exact integer in doubles, so the sum is
    * order-independent), FLOOR(SUM/COUNT) centroid means (exact at
    * int8-sum magnitudes), ties to the smallest cell id. A SQL engine
    * therefore replays the one-shard layout bit-for-bit — x3_knn_ivf_approx
    * and x3_knn_ivfpq hash-check REAL neighbor lists against DuckDB instead
    * of a self-audit. Search still scores FLOAT vectors: the exactness of
    * [[knnExact]]/[[pairsExact]] needs only r ≥ angle(member, centroid),
    * which holds for ANY centroid point — quantized routing just picks
    * which cell a vector files under.
    *
    * SHARDS: `shards > 1` is the per-ingest-slice layout for the exact PAIR
    * family on corpora whose slices are genuinely distribution-disjoint.
    * One global k-means layout fits ONE geometry; a corpus assembled from
    * differently-distributed slices mixes them inside each cell, the
    * centroids land between the slices, radii widen to cover both, and the
    * triangle test stops pruning. Rows are range-partitioned by `vec_id`
    * into `shards` contiguous id blocks (id locality ≈ ingest locality — at
    * 100 TB each shard is a source/time slice and builds independently),
    * and seeding, the Lloyd step and assignment all stay WITHIN a shard, so
    * cell radii describe one slice's geometry and cross-slice cell pairs
    * prune away. Cell count is Σ√m ≈ √(shards·n) — still sublinear, still
    * broadcastable — which is the cost: the r10 sf3 ablation on the bench's
    * rotated-replica corpus measured the global layout at or below the
    * sharded one on every pair query (47.8 s vs 65.4 s on x5_neardup_ivf),
    * so every registered query but x3_knn_ivf_sharded uses one shard.
    * One shard is a constant shard column — no range exchange, no eager
    * checkpoint.
    */
  def build(e0: DataFrame, shards: Int = 1): Index = {
    val maxabs = array_max(transform(col("v"), x => abs(x)))
    val base = e0.select(col("vec_id"), col("v"))
      .withColumn("nrm", VF.l2Norm(col("v")))
      .withColumn("ma", when(maxabs === 0.0, 1.0).otherwise(maxabs))
      .withColumn("q8", transform(col("v"),
        x => floor(x * lit(127.0) / col("ma") + lit(0.5)).cast("double")))
      .withColumn("sq", NX.dot(col("q8"), col("q8")))
      .drop("ma")
    val e = graft.Caches.persist(
      if (shards > 1) RangedNtile(base, shards, Seq(col("vec_id")), out = "shard")
      else base.withColumn("shard", lit(1L)))
    val stats = e.groupBy("shard").agg(count(lit(1)), min("vec_id")).collect()
    val n = stats.map(_.getLong(1)).sum
    val m = math.max(1L, n / math.max(1, shards))
    val stride = math.max(1L, math.ceil(math.sqrt(m.toDouble)).toLong)
    val seeds = e.filter(col("vec_id") % stride === 0 ||
        col("vec_id").isin(stats.map(_.get(2)).toSeq: _*))
      .select(col("shard"), col("vec_id").as("cell0"),
        col("q8").as("s8"), col("sq").as("ss"))
    // nearest in-shard seed per vector: min_by over (d, cell) —
    // partial-aggregates map-side, so the n·k comparison fan-in shuffles n
    // rows, not n·k. The vector rides inside the min_by tuple (constant per
    // group), saving a join-back to `e` after the aggregation.
    val assign0 = e.join(broadcast(seeds), Seq("shard"))
      .withColumn("d0", col("sq") + col("ss")
        - lit(2.0) * NX.dot(col("q8"), col("s8")))
      .groupBy("vec_id", "shard")
      .agg(min_by(struct(col("cell0"), col("q8")),
        struct(col("d0"), col("cell0"))).as("best"))
      .select(col("shard"), col("vec_id"), col("best.cell0").as("cell0"),
        col("best.q8").as("q8"))
    // one Lloyd step: integer centroid per cell (distributed: one reducer
    // key per (cell, dim)), FLOOR(SUM/COUNT) for cross-engine exactness.
    // Collected once: the k ≈ √n rows are broadcast anyway, and both the
    // assignment and the cell table read them — left lazy, each consumer
    // re-runs seeds → assign0 → both centroid aggregations
    val centAgg = assign0
      .select(col("shard"), col("cell0"), posexplode(col("q8")).as(Seq("pos", "x")))
      .groupBy("shard", "cell0", "pos")
      .agg(expr("CAST(FLOOR(SUM(x)/COUNT(1)) AS DOUBLE)").as("m"))
      .groupBy("shard", "cell0")
      .agg(array_sort(collect_list(struct(col("pos"), col("m")))).as("pm"))
      .select(col("shard"), col("cell0").as("cell"),
        expr("transform(pm, p -> p.m)").as("cv"))
      .withColumn("cs", NX.dot(col("cv"), col("cv")))
      .withColumn("cnrm", VF.l2Norm(col("cv")))
    val cent = e.sparkSession.createDataFrame(
      java.util.Arrays.asList(centAgg.collect(): _*), centAgg.schema)
    val assigned = graft.Caches.persist(e.join(broadcast(cent), Seq("shard"))
      .withColumn("d1", col("sq") + col("cs")
        - lit(2.0) * NX.dot(col("q8"), col("cv")))
      .groupBy("vec_id")
      .agg(min_by(struct(col("cell"), col("cv"), col("cnrm"), col("v"), col("nrm")),
        struct(col("d1"), col("cell"))).as("best"))
      // c1 (the float cosine to the winning centroid) is what the radius
      // bound and the pruning math consume — computed once here
      .select(col("vec_id"), col("best.cell").as("cell"),
        (NX.dot(col("best.v"), col("best.cv")) /
          (col("best.nrm") * col("best.cnrm"))).as("c1"),
        col("best.v").as("v"), col("best.nrm").as("nrm")))
    val radius = assigned.groupBy("cell")
      .agg(max(clampAcos(col("c1"))).as("r"), count(lit(1)).as("cnt"))
    // cells is k ≈ √n rows but its PLAN contains the radius aggregation
    // over the assignment — persist (registered, harness-drained) so the
    // 4-6 downstream consumers (probe branches, pair sides) don't each
    // re-run it
    Index(assigned, cells = graft.Caches.persist(
      cent.select("cell", "cv", "cnrm").join(radius, Seq("cell"))))
  }

  /** Exact top-k cosine neighbors for each query row (`query_id`, `qv`).
    * Two phases, one Catalyst plan: (1) scan the `nprobe` nearest cells to
    * establish a per-query k-th-best lower bound s_k; (2) scan every cell
    * whose triangle bound could still beat s_k; rerank the union.
    *
    * Statistics-gated plan choice: below `graft.ivf.minCellsForPruning`
    * cells (default 128) the two-phase plan cannot win — its two extra
    * top-k aggregates and three per-query joins cost more than scanning
    * every member once — so a single-phase exact scan is used instead
    * (identical output). Cells ≈ √n, so production-scale corpora always
    * take the pruning path.
    *
    * Every per-query ranking (the probe list, the phase-1 bound, the final
    * top-k) is one [[topKPerQuery]] aggregate: O(k) state per query, a
    * partial list per partition, one merge — no window sort.
    *
    * The QUERY-proportional frames (the query vectors, the per-query probe
    * lists, the per-query bounds) are broadcast only while the query set is
    * small (the `graft.broadcast.ivfQueries` byte gate, default 55 MB ≈ 100k
    * queries): the query set here grows with the corpus (n/50), so an
    * unconditional broadcast is linear in the data — a driver/executor OOM
    * at 100×. Above the gate every query-keyed join falls back to a shuffle
    * on `query_id`/`cell`, which Spark distributes, and the top-k
    * aggregates group by `query_id`. The CELL frame (k ≈ √n rows) stays
    * broadcast unconditionally — sublinear in the corpus.
    */
  def knnExact(idx: Index, queries: DataFrame, k: Int, nprobe: Int = 3): DataFrame = {
    val spark = queries.sparkSession
    val small = queriesFit(queries)
    val bq: DataFrame => DataFrame = if (small) broadcast(_) else identity
    val minCells = spark.conf.getOption("graft.ivf.minCellsForPruning")
      .map(_.toLong).getOrElse(128L)
    val qn = queries.withColumn("qnrm", VF.l2Norm(col("qv")))
    if (graft.Caches.countOnce(idx.cells) <= minCells) {
      // SINGLE-PHASE exact scan: with this few cells the triangle bound
      // cannot prune enough to pay for its own plan (two extra top-k
      // aggregates and three joins of per-query frames — measured slower
      // than one pass at sf0.1's 45 cells). The two-phase path engages
      // exactly when it matters: cells ≈ √n grows with the corpus, so a
      // production-scale index clears the bar while small corpora take the
      // short plan. Output identical by construction (same top-k, same
      // tie-break).
      return topKPerQuery(idx.assigned
        .select(col("vec_id").as("neighbor_id"), col("v").as("nv"), col("nrm").as("nn"))
        .join(bq(qn), col("neighbor_id") =!= col("query_id"))
        .withColumn("s", NX.dot(col("qv"), col("nv")) / (col("qnrm") * col("nn"))),
        "neighbor_id", "s", k, grouped = !small)
    }
    // NOTE: qn/qc/probed are cheap to recompute (a broadcast NLJ over
    // k ≈ √n cell rows) — persisting them was measured SLOWER at sf0.1
    // (materialization jobs cost more than the recompute); leave them lazy
    val qc = qn.join(broadcast(idx.cells.select(col("cell"), col("cv"), col("cnrm"), col("r"))),
        lit(true))
      .withColumn("qcos", NX.dot(col("qv"), col("cv")) / (col("qnrm") * col("cnrm")))
      .withColumn("qtheta", clampAcos(col("qcos")))
    val probed = topKPerQuery(qc, "cell", "qcos", nprobe, grouped = !small)
      .select(col("query_id"), col("cell"))
    val members = idx.assigned.select(col("vec_id").as("neighbor_id"), col("cell"),
      col("v").as("nv"), col("nrm").as("nn"))
    def scanCells(cellsToScan: DataFrame): DataFrame =
      members.join(bq(cellsToScan), "cell")
        .filter(col("neighbor_id") =!= col("query_id"))
        .join(bq(qn), "query_id")
        .withColumn("s", NX.dot(col("qv"), col("nv")) / (col("qnrm") * col("nn")))
    // phase 1: lower bound from the probed cells — the k-th best score. A
    // query with fewer than k probed candidates has no rank-k row, so its
    // bound stays -2 (< any cosine) and nothing is pruned for it
    val sk = topKPerQuery(scanCells(probed), "neighbor_id", "s", k, grouped = !small)
      .filter(col("rk") === k)
      .select(col("query_id"), col("s").as("sk"))
    // phase 2: triangle-inequality pruning over ALL cells. LEFT join: a
    // query whose probed cells held fewer than k candidates (possible once
    // the index is restricted to a metadata predicate — x3_knn_filtered —
    // where a probed cell may contain zero eligible members) has no sk row;
    // an inner join would silently drop it from phase 2 and return too few
    // neighbors even when eligible vectors exist in other cells.
    val survivors = qc.join(bq(sk), Seq("query_id"), "left")
      .filter(cos(greatest(col("qtheta") - col("r"), lit(0.0))) >=
        coalesce(col("sk"), lit(-2.0)) - lit(1e-9))
      .select(col("query_id"), col("cell"))
    topKPerQuery(scanCells(survivors.union(probed).distinct()),
      "neighbor_id", "s", k, grouped = !small)
  }

  /** APPROXIMATE top-k: scan only the `nprobe` nearest cells per query —
    * the classic IVF ANN operating point (Jégou et al., TPAMI'11), where
    * recall is traded for a hard bound on scanned fraction (~nprobe/k of
    * the corpus, k ≈ √n cells). Use this when the corpus is too large for
    * the exact two-phase search's worst case (isotropic data degrades
    * exact search to a full scan; this never scans more than nprobe
    * cells). Recall on clustered corpora is pinned ≥0.9 in OperatorsSpec;
    * `knnExact` (recall 1.0) remains the default engine path.
    */
  def knnApprox(idx: Index, queries: DataFrame, k: Int, nprobe: Int = 8): DataFrame = {
    val small = queriesFit(queries)
    val bq: DataFrame => DataFrame = if (small) broadcast(_) else identity
    val qn = queries.withColumn("qnrm", VF.l2Norm(col("qv")))
    val qc = qn.join(broadcast(idx.cells.select(col("cell"), col("cv"), col("cnrm"))),
        lit(true))
      .withColumn("qcos", NX.dot(col("qv"), col("cv")) / (col("qnrm") * col("cnrm")))
    val probed = topKPerQuery(qc, "cell", "qcos", nprobe, grouped = !small)
      .select(col("query_id"), col("cell"))
    val members = idx.assigned.select(col("vec_id").as("neighbor_id"), col("cell"),
      col("v").as("nv"), col("nrm").as("nn"))
    topKPerQuery(members.join(bq(probed), "cell")
      .filter(col("neighbor_id") =!= col("query_id"))
      .join(bq(qn), "query_id")
      .withColumn("s", NX.dot(col("qv"), col("nv")) / (col("qnrm") * col("nn"))),
      "neighbor_id", "s", k, grouped = !small)
  }

  /** The `ivfQueries` broadcast gate over the query set. Query rows carry a
    * dim-length double vector (~550 B at dim 64): the 55 MB default admits
    * ~100k queries.
    */
  private def queriesFit(queries: DataFrame): Boolean =
    graft.Broadcasts.fits(queries.sparkSession, "ivfQueries",
      graft.Caches.countOnce(queries), rowBytes = 552, defaultBytes = 55L << 20)

  /** Each query's best `k` rows of `scored` by (`score` desc, `id` asc) as
    * (query_id, rk, `id`, `score`) — one [[NX.topK]] aggregate, whose ranks
    * equal a row-number window's over that order. Ungrouped (the query set passed its
    * broadcast gate, so q·k entries fit one task) the result is a single
    * partition: a caller's `orderBy(query_id, rk)` is a local sort with no
    * range exchange. Grouped by `query_id` (over the gate) no single
    * task's work grows with the query count.
    */
  private[graft] def topKPerQuery(scored: DataFrame, id: String, score: String,
      k: Int, grouped: Boolean): DataFrame = {
    val t = NX.topK(col("query_id"), col(id), col(score), k).as("t")
    // grouped: query_id stays the grouping column, so the output keeps its
    // hash partitioning and a per-query consumer adds no exchange
    val lists =
      if (grouped) scored.groupBy("query_id").agg(t).select(col("query_id"), inline(col("t")))
      else scored.agg(t).select(inline(col("t"))).withColumnRenamed("key", "query_id")
    lists.select(col("query_id"), col("rk"), col("id").as(id), col("score").as(score))
  }

  /** Ordered cell pairs (both directions, plus the diagonal) whose triangle
    * bound admits a member pair with cosine ≥ t. Exposed for the pruning-
    * effectiveness assertions in OperatorsSpec.
    */
  def survivingCellPairs(idx: Index, t: Double): DataFrame = {
    val a = idx.cells.select(col("cell").as("ca"), col("cv").as("cva"),
      col("cnrm").as("cna"), col("r").as("ra"))
    val b = idx.cells.select(col("cell").as("cb"), col("cv").as("cvb"),
      col("cnrm").as("cnb"), col("r").as("rb"))
    a.join(broadcast(b), lit(true))
      .withColumn("th",
        clampAcos(NX.dot(col("cva"), col("cvb")) / (col("cna") * col("cnb"))))
      .filter(cos(greatest(col("th") - col("ra") - col("rb"), lit(0.0)))
        >= lit(t) - lit(1e-9))
      .select(col("ca"), col("cb"))
  }

  /** Exact all-pairs with cosine ≥ t, scanning only surviving cell pairs.
    * Output: (id_a, id_b, sim) with id_a < id_b, sim unrounded.
    */
  def pairsExact(idx: Index, t: Double): DataFrame = {
    val spark = idx.assigned.sparkSession
    // STATISTICS GATE (one tiny collect over ≤ k ≈ √n cell rows): when
    // the triangle test stops pruning — adversarially mixed geometry
    // widens radii until most cell pairs survive (the r09 sf3 probe: one
    // index absorbing 30 interleaved replicas) — the cell-pair plan
    // approaches the same n²/2 dot products as a block scan PLUS an n·√n
    // member-expansion exchange on top, and measured ~2× the block
    // scan's cost. Fall back when the surviving pairs would scan more
    // than `graft.ivf.pairScanRatio` of the brute total — but only while
    // the corpus side fits the broadcast bound; above it the distributed
    // cell-pair join is still the right plan even unpruned (never a
    // driver-sized broadcast at 100 TB).
    // The statistics are computed, together with the surviving pair list,
    // in the DRIVER (k² float ops over a few hundred rows, identical IEEE
    // arithmetic to survivingCellPairs — java.lang.Math acos/cos, dots in
    // array order): running them as Spark jobs cost ~1.5 s of fixed stage
    // overhead PER pairsExact CALL at local[32] (measured at the 10×
    // point), dwarfing the arithmetic, and the cell-pair plan can then
    // broadcast the surviving pairs as a LOCAL relation instead of
    // re-deriving them through a cross-join subplan. The gate only picks
    // between two EXACT plans, so a last-ulp divergence could never change
    // results.
    val cellRows = idx.cells
      .select(col("cell"), col("cv"), col("cnrm"), col("r"), col("cnt")).collect()
    val ids = cellRows.map(_.getLong(0))
    val cv = cellRows.map(_.getSeq[Double](1).toArray)
    val cn = cellRows.map(_.getDouble(2))
    val r = cellRows.map(_.getDouble(3))
    val cnt = cellRows.map(_.getLong(4))
    val k = cellRows.length
    val survived = Seq.newBuilder[(Long, Long)]
    var scanned = 0L; var total = 0L; var i = 0
    while (i < k) {
      total += cnt(i)
      var j = 0
      while (j < k) {
        var d = 0.0; var p = 0
        val a = cv(i); val b = cv(j)
        while (p < a.length) { d += a(p) * b(p); p += 1 }
        val th = math.acos(math.min(1.0, math.max(-1.0, d / (cn(i) * cn(j)))))
        if (math.cos(math.max(th - r(i) - r(j), 0.0)) >= t - 1e-9) {
          scanned += cnt(i) * cnt(j)
          survived += ((ids(i), ids(j)))
        }
        j += 1
      }
      i += 1
    }
    // CALIBRATION (r10, measured at ratio≈1.0 on the bench corpus, where
    // the triangle test prunes nothing): the cell-pair plan and the block
    // NLJ evaluate the same ~n²/2 dot products, so the ratio alone cannot
    // separate them — the crossover is in the CONSTANTS. At 20k rows the
    // cell-pair plan won 2× (3.99 s vs 8.6 s: the NLJ pays its broadcast
    // build + per-combination condition machinery); at 60k the NLJ won 2×
    // (47.8 s vs 95.2 s: the expansion's 1.5e7-row sort/exchange starts to
    // spill). Block therefore needs BOTH a dead-pruning ratio (default
    // 0.95 — below it the cell-pair plan genuinely skips work) and a row
    // floor (default 30k — below it the NLJ's constants lose), and stays
    // inside the broadcast bound (above it the distributed cell-pair join
    // is the only sound plan at any ratio — never a driver-sized
    // broadcast at 100 TB).
    val gate = spark.conf.getOption("graft.ivf.pairScanRatio")
      .map(_.toDouble).getOrElse(0.95)
    val minRows = spark.conf.getOption("graft.ivf.blockMinRows")
      .map(_.toLong).getOrElse(30000L)
    val takeBlock = scanned.toDouble >= gate * total.toDouble * total.toDouble &&
      total > minRows &&
      graft.Broadcasts.fits(spark, "ivfPairs", total, rowBytes = 552,
        defaultBytes = 55L << 20)
    // make the plan choice OBSERVABLE: tests pin it, and a profiled run
    // shows it instead of leaving the path to be inferred from timings
    graft.QueryProfile.decide(spark, "pairsExact",
      s"scanned=$scanned total=$total " +
        s"ratio=${scanned.toDouble / math.max(1.0, total.toDouble * total.toDouble)}",
      if (takeBlock) "block" else "cellpair")
    if (takeBlock) {
      // block scan over the same index members — identical norm and dot
      // expressions, so sim (and the surviving pair set, by exactness of
      // both plans) is bit-equal to the cell-pair path
      val a = idx.assigned.select(col("vec_id").as("id_a"), col("v").as("va"),
        col("nrm").as("na"))
      val b = idx.assigned.select(col("vec_id").as("id_b"), col("v").as("vb"),
        col("nrm").as("nb"))
      a.join(broadcast(b), col("id_a") < col("id_b"))
        .withColumn("sim",
          NX.dot(col("va"), col("vb")) / (col("na") * col("nb")))
        .filter(col("sim") >= t)
        .select(col("id_a"), col("id_b"), col("sim"))
    } else {
      // the pruned cell-pair scan over the surviving pairs
      import spark.implicits._
      val ma = idx.assigned.select(col("vec_id").as("id_a"), col("v").as("va"),
        col("nrm").as("na"), col("cell").as("ca"))
      val mb = idx.assigned.select(col("vec_id").as("id_b"), col("v").as("vb"),
        col("nrm").as("nb"), col("cell").as("cb"))
      ma.join(broadcast(survived.result().toDF("ca", "cb")), "ca")
        .join(mb, Seq("cb"))
        .filter(col("id_a") < col("id_b"))
        .withColumn("sim",
          NX.dot(col("va"), col("vb")) / (col("na") * col("nb")))
        .filter(col("sim") >= t)
        .select(col("id_a"), col("id_b"), col("sim"))
    }
  }
}
