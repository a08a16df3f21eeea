package graft.queries

import graft.{Q, Tables}
import graft.functions.{NativeExpressions => NX, TextFunctions => TF, VectorFunctions => VF}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** LLM-data-pipeline operators (SURVEY.md §2.11 / BASELINE.json north star)
  * over the driver's `documents` and `embeddings` tables: deduplication
  * (exact / n-gram Jaccard / MinHash-LSH / SimHash / embedding-cosine),
  * similarity search (brute-force and IVF-style ANN), and text analysis
  * (word counts, quality features, language-ID, token counting,
  * fingerprinting).
  *
  * Scale stance: every op is a shuffle-aggregation or an equi-key join —
  * nothing collects to the driver. The only quadratic op (all-pairs cosine)
  * is the *oracle-exact baseline*; its scale path is the LSH/IVF variant
  * registered beside it.
  */
object Llm {

  // docs stays the PLAIN loader: most text queries are one shallow
  // tokenize-aggregate pass, and the r13 full-bench A/B measured the
  // blanket repartition costing ~25 light queries +0.3 s each for wins
  // only on the deep-kernel paths — those opt in via loadParallel below
  // (simhash fingerprints, multimodal payload synthesis). embeddings is
  // the opposite: every consumer runs vector kernels over the scan, and
  // the same A/B measured the embs repartition winning across the x3/x5
  // family (knn/cascade/pq/semdedup/neardup −0.2..−0.7 s each).
  private def docs(s: SparkSession, dir: String): DataFrame =
    Tables.load(s, dir, "documents")
  private def embs(s: SparkSession, dir: String): DataFrame =
    Tables.loadParallel(s, dir, "embeddings")
  // plain loader for the consumers the r13 full-bench A/B measured paying
  // for the parallelizing exchange rather than gaining from it: the
  // hyperplane-LSH banding paths, the broadcast-NLJ flat search, and the
  // one-aggregate centroid pass (x5_semdedup_lsh +0.6 s, x3_knn_brute /
  // x3_knn_lsh / x5_pagerank_lsh / q_label_centroids +0.15-0.3 s each)
  private def embsPlain(s: SparkSession, dir: String): DataFrame =
    Tables.load(s, dir, "embeddings")

  // The IVF index over a table is a build-once-query-many artifact (exactly
  // like a real vector index): the knn, near-dup pair and clustering
  // queries share one PARQUET-BACKED build per (table, n) — built by
  // whichever session touches it first, loaded (cheap) by every later query
  // and session, so no per-session rebuild cost lands on a query. The pair
  // family uses the same global layout: the r10 sf3 ablation measured the
  // per-slice sharded layout slower on this corpus (x5_neardup_ivf 65.4 s
  // vs 47.8 s global+gate), so only x3_knn_ivf_sharded builds one.
  private def ivfIndex(s: SparkSession, dir: String): graft.operators.IvfIndex.Index = {
    val e = embs(s, dir).select(col("vec_id"),
      VF.toDouble(col("embedding")).as("v"))
    graft.operators.IvfIndex.loadOrBuild(e, key = dir)
  }

  /** Release this session's query-local caches (delegates to the registry —
    * kept for callers that predate graft.Caches).
    */
  def clearCache(s: SparkSession): Unit = graft.Caches.drain(s)

  /** FIXED query budget for the kNN query sets: every `knnQueryStride(n)`-th
    * vec_id is a query, stride = 50·max(1, n/5000). Below 5000 vectors
    * (every test SF) this degenerates to the historical `% 50` rule; above
    * it the query count stays ~100–119 NO MATTER the corpus size. The flat
    * audit twins (brute / int8 / pq) scan queries × corpus, so a q ∝ n
    * query set would make them quadratic in n — the bench's 30× probe
    * measured the flat PQ twin at 10.5× growth for 3× data before this
    * bound. Fully id-deterministic (the pqTrainSample pattern), so the
    * DuckDB oracle replays the identical arithmetic via [[knnStrideSql]].
    */
  private[graft] def knnQueryStride(n: Long): Long = 50L * math.max(1L, n / 5000L)

  /** The oracle-side twin of [[knnQueryStride]] — a scalar subquery usable
    * anywhere the SQL previously hard-coded the modulus 50.
    */
  private val knnStrideSql: String =
    "(50 * (SELECT GREATEST(1, COUNT(*) // 5000) FROM embeddings))"

  /** Splice [[knnStrideSql]] into an oracle that marks its query-set
    * modulus with the QSTRIDE token.
    */
  private def qstride(sql: String): String = sql.replace("QSTRIDE", knnStrideSql)

  /** The raw nprobe-bounded ANN search (query_id, rk, neighbor_id, sim)
    * behind x3_knn_ivf_approx: every 50th vector queries the shared IVF
    * index with k=10, nprobe=8. This IS the registered query: the index's
    * routing is portable integer arithmetic, so the DuckDB oracle replays
    * the full neighbor lists. Also exposed for LlmSpec's consistency checks.
    */
  private[graft] def knnIvfApproxRaw(s: SparkSession, dir: String): DataFrame = {
    val idx = ivfIndex(s, dir)
    val q = idx.assigned.filter(
        col("vec_id") % knnQueryStride(graft.Caches.countOnce(idx.assigned)) === 0)
      .select(col("vec_id").as("query_id"), col("v").as("qv"))
    graft.operators.IvfIndex.knnApprox(idx, q, k = 10, nprobe = 8)
      .select(col("query_id"), col("rk"), col("neighbor_id"),
        round(col("s"), 4).as("sim"))
      .orderBy("query_id", "rk")
  }

  /** Shared DuckDB CTE prefix replaying [[graft.operators.IvfIndex.build]]'s
    * PORTABLE integer routing bit-for-bit — quantize (the PQ int8 rule) →
    * stride seeds plus the minimum id → integer-squared-L2 assign → one
    * FLOOR(SUM/COUNT) Lloyd round → final assign. Defines `e` (vec_id,
    * v DOUBLE[], q8), `cent` (cell, cv) and `a1` (vec_id, cell); ends
    * mid-WITH so callers append their own CTEs. Every distance is a sum of exact integers in doubles
    * (order-independent) and every tie breaks to the smallest cell id, so
    * DuckDB and the distributed build cannot diverge. Consumed by the
    * x3_knn_ivf_approx and x3_knn_ivfpq oracles.
    */
  private val ivfRoutingCtes: String =
    """WITH e AS (
      |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v,
      |    list_transform(CAST(embedding AS DOUBLE[]),
      |      x -> floor(x * 127.0 / (CASE WHEN m = 0 THEN 1 ELSE m END) + 0.5)) AS q8
      |  FROM (SELECT vec_id, embedding,
      |          list_max(list_transform(CAST(embedding AS DOUBLE[]),
      |            x -> abs(x))) AS m
      |        FROM embeddings)),
      |seeds AS (
      |  SELECT vec_id AS cell0, q8 AS s8 FROM e
      |  WHERE vec_id % (SELECT GREATEST(CAST(CEIL(SQRT(COUNT(*))) AS BIGINT), 1)
      |                  FROM e) = 0
      |     OR vec_id = (SELECT MIN(vec_id) FROM e)),
      |a0 AS (SELECT vec_id, cell0, q8 FROM (
      |    SELECT e.vec_id, s.cell0, e.q8,
      |      ROW_NUMBER() OVER (PARTITION BY e.vec_id ORDER BY
      |        list_dot_product(e.q8, e.q8) + list_dot_product(s.s8, s.s8)
      |          - 2*list_dot_product(e.q8, s.s8) ASC, s.cell0 ASC) AS rk
      |    FROM e CROSS JOIN seeds s) WHERE rk = 1),
      |cent AS (
      |  SELECT cell, list(m ORDER BY pos) AS cv FROM (
      |    SELECT cell0 AS cell, pos, FLOOR(SUM(x)/COUNT(*)) AS m FROM (
      |      SELECT cell0, generate_subscripts(q8, 1) AS pos, UNNEST(q8) AS x
      |      FROM a0)
      |    GROUP BY cell0, pos)
      |  GROUP BY cell),
      |a1 AS (SELECT vec_id, cell FROM (
      |    SELECT e.vec_id, c.cell,
      |      ROW_NUMBER() OVER (PARTITION BY e.vec_id ORDER BY
      |        list_dot_product(e.q8, e.q8) + list_dot_product(c.cv, c.cv)
      |          - 2*list_dot_product(e.q8, c.cv) ASC, c.cell ASC) AS rk
      |    FROM e CROSS JOIN cent c) WHERE rk = 1),
      |""".stripMargin

  /** The raw IVF+PQ search (query_id, rk, neighbor_id, sim) behind
    * x3_knn_ivfpq: probe nprobe=8 cells (knnApprox's convention), ADC-score
    * ONLY the probed members' PQ codes, rerank the 100-candidate pool with
    * full-precision cosine, keep the top-10. This IS the registered query
    * (routing and codebooks are both portable, so the oracle replays the
    * whole composition). Also exposed for LlmSpec's recall check.
    */
  private[graft] def knnIvfPqRaw(s: SparkSession, dir: String): DataFrame = {
    val idx = ivfIndex(s, dir)
    // one shared PQ build (quantize/train/encode/ADC-table) with the flat
    // x3_knn_pq — the IVF difference is ONLY the probe filter below
    val (codes0, qtabs) = pqBuild(s, idx.assigned.select("vec_id", "v"))
    val codes = codes0.join(idx.assigned.select("vec_id", "cell"), "vec_id")
    // queries + their nprobe=8 probed cells (knnApprox's convention);
    // same fixed query budget as pqBuild's ADC table
    val qn = idx.assigned.filter(
        col("vec_id") % knnQueryStride(graft.Caches.countOnce(idx.assigned)) === 0)
      .select(col("vec_id").as("query_id"), col("v").as("qv"),
        col("nrm").as("qnrm"))
    val qc = qn.join(broadcast(idx.cells.select("cell", "cv", "cnrm")), lit(true))
      .withColumn("qcos",
        NX.dot(col("qv"), col("cv")) / (col("qnrm") * col("cnrm")))
    val wp = Window.partitionBy("query_id").orderBy(desc("qcos"), asc("cell"))
    val probed = qc.withColumn("prk", row_number().over(wp))
      .filter(col("prk") <= 8)
      .select("query_id", "cell")
    // ADC over probed members only; 100-candidate pool (the 10x oversize
    // the 4-bit codes need — same sizing as x3_knn_pq); one native
    // 16-lookup fold per (member, probing query) row
    val wpool = Window.partitionBy("query_id").orderBy(asc("adist"), asc("neighbor_id"))
    val pool = codes.join(broadcast(probed), "cell")
      .filter(col("vec_id") =!= col("query_id"))
      .join(broadcast(qtabs), Seq("query_id"))
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
        NX.adc(col("code"), col("qtab")).as("adist"))
      .withColumn("prk", row_number().over(wpool))
      .filter(col("prk") <= 100)
      .select("query_id", "neighbor_id")
    // full-precision rerank of the pool
    val wk = Window.partitionBy("query_id").orderBy(desc("s"), asc("neighbor_id"))
    pool
      .join(idx.assigned.select(col("vec_id").as("neighbor_id"),
        col("v").as("nv"), col("nrm").as("nn")), Seq("neighbor_id"))
      .join(broadcast(qn), Seq("query_id"))
      .withColumn("s", NX.dot(col("qv"), col("nv")) / (col("qnrm") * col("nn")))
      .withColumn("rk", row_number().over(wk).cast("long"))
      .filter(col("rk") <= 10)
      .select(col("query_id"), col("rk"), col("neighbor_id"),
        round(col("s"), 4).as("sim"))
      .orderBy("query_id", "rk")
  }

  /** Hyperplane-LSH top-k cosine search over `emb` (vec_id, embedding):
    * the engine behind x3_knn_lsh, exposed so LlmSpec can measure recall
    * on planted-cluster fixtures. `queryPred` selects the query rows;
    * candidates are corpus vectors sharing >= 1 of the `bands` band values
    * (bitsPerBand hyperplane sign bits each, portable integer arithmetic —
    * see HyperplaneBandKeys), reranked by exact cosine. Equi-key joins
    * only; the query side is broadcast (queries << corpus by contract).
    */
  private[graft] def knnLsh(s: SparkSession, emb: DataFrame, queryPred: Column,
      k: Int, bands: Int = 8, bitsPerBand: Int = 8, flips: Int = 0): DataFrame = {
    val e = graft.Caches.persist(
      emb.select(col("vec_id"),
          VF.toDouble(col("embedding")).as("v"),
          NX.hyperplaneBands(col("embedding"), bands, bitsPerBand).as("bks"))
        .withColumn("nrm", VF.l2Norm(col("v"))))
    val bnd = e.select(col("vec_id"), posexplode(col("bks")).as(Seq("b", "bv")))
    // flips > 0 = query-directed multiprobe (Lv et al.): the query also
    // probes, per band, the `flips` buckets with one weakest-|projection|
    // bit flipped — candidate set is a strict superset of flips=0, the
    // recall-recovery knob when bitsPerBand is sized aggressively high.
    // Only the query side changes; the corpus index is untouched.
    val qb =
      if (flips == 0)
        e.filter(queryPred)
          .select(col("vec_id"), posexplode(col("bks")).as(Seq("b", "bv")))
          .select(col("vec_id").as("query_id"), col("b"), col("bv"))
      else
        e.filter(queryPred)
          .select(col("vec_id").as("query_id"),
            explode(NX.hyperplaneProbes(col("v"), bands, bitsPerBand, flips)).as("bk"))
          .select(col("query_id"),
            shiftright(col("bk"), bitsPerBand).cast("int").as("b"),
            col("bk").bitwiseAND(lit((1L << bitsPerBand) - 1)).as("bv"))
    val cand = bnd.withColumnRenamed("vec_id", "neighbor_id")
      .join(broadcast(qb), Seq("b", "bv"))
      .filter(col("neighbor_id") =!= col("query_id"))
      .select("query_id", "neighbor_id").distinct()
    val w = Window.partitionBy("query_id").orderBy(desc("s"), asc("neighbor_id"))
    cand
      .join(broadcast(e.filter(queryPred)
        .select(col("vec_id").as("query_id"), col("v").as("qv"), col("nrm").as("qn"))),
        Seq("query_id"))
      .join(e.select(col("vec_id").as("neighbor_id"), col("v").as("nv"), col("nrm").as("nn")),
        Seq("neighbor_id"))
      .withColumn("s", NX.dot(col("qv"), col("nv")) / (col("qn") * col("nn")))
      .withColumn("rk", row_number().over(w).cast("long"))
      .filter(col("rk") <= k)
      .select(col("query_id"), col("rk"), col("neighbor_id"),
        round(col("s"), 4).as("sim"))
      .orderBy("query_id", "rk")
  }

  /** Hyperplane-LSH candidate EDGES over the embeddings table — the banded
    * edge supply for the `_lsh` graph variants (pagerank, semdedup): every
    * vector gets [[hyperplaneEdgeGeometry]]'s bands of sign-random-
    * projection bits (Charikar hyperplane LSH, PORTABLE quantized-integer
    * arithmetic — the same kernel as x3_knn_lsh, so the DuckDB oracle
    * replays the candidate set bit-for-bit); a pair is a candidate iff
    * some band agrees, emitted exactly once at its FIRST agreeing band
    * (NX.firstEq — no dedup exchange), then verified at exact cosine
    * ≥ `t`.
    *
    * The contract is the published LSH trade: the edge set is a
    * DETERMINISTIC SUBSET of the exact similarity graph whose per-edge
    * recall rises with similarity (P = 1 − (1 − (1 − θ/π)^bits)^bands:
    * ≥ 0.99 at sim 0.9 at every corpus size by the geometry rule; lower
    * down-sim, and the reachable sim floor rises as bits grow with n —
    * the standard LSH capacity dial), while candidate enumeration stays
    * ~bands/2^bits ≈ a constant multiple of n instead of quadratic. On a
    * near-dup-clustered corpus (the 100 TB shape) the surviving skeleton
    * carries the dedup/centrality signal — it is the high-sim edges that
    * both pagerank mass and semdedup decisions ride; the bench's
    * isotropic tail (every qualifying pair at sim 0.35-0.55) is the
    * published construction's worst case and is measured as such in
    * LlmSpec + SCALING.md. The exact-edge forms stay registered as audit
    * twins.
    */
  /** Band geometry for [[hyperplaneEdgePairs]], STATISTICS-GATED on the
    * corpus size: bits = max(8, bitlength((n−1) div 32)) holds the expected
    * band-bucket at ≤ ~32 members, so candidate enumeration stays
    * Σ m²/2 · bands ≈ 16·n instead of growing quadratically at fixed bucket
    * width (the 100× probe hung on 8-bit buckets of ~780 members); bands
    * double to 32 once bits exceed 8 to hold high-sim recall
    * (1 − (1 − p^bits)^bands ≥ 0.99 at sim 0.9 for every n). Integer
    * bit-length arithmetic — the oracle derives the identical pair from
    * COUNT(*) with to_base, no FP log anywhere.
    */
  private[graft] def hyperplaneEdgeGeometry(n: Long): (Int, Int) = {
    val bits = math.min(24, math.max(8, java.lang.Long.SIZE -
      java.lang.Long.numberOfLeadingZeros(math.max(1L, (n - 1) / 32))))
    val bands = if (bits <= 8) 16 else 32
    (bands, bits)
  }

  /** Hamming-prefilter cutoff for [[hyperplaneEdgePairs]]: a sim ≥ t pair's
    * per-bit agreement probability is f = 1 − acos(t)/π, so its
    * disagreement count over the total = bands·bits signature bits is
    * Binomial(total, 1−f) — cut 3σ above that mean (keeps ≥ 99.8% of
    * threshold-sim pairs, ~everything above) while random pairs
    * (agreement ½) overwhelmingly fail. Computed ONCE per (t, bits) in
    * Scala and inlined as INTEGER literals into both the plan and the
    * oracle's CASE ladder — the acos/sqrt never evaluate inside either
    * engine, so no cross-engine FP boundary exists.
    */
  private[graft] def hyperplaneMaxDisagree(t: Double, bits: Int): Int = {
    val bands = if (bits <= 8) 16 else 32
    val total = bands * bits
    val f = 1.0 - math.acos(t) / math.Pi
    val minAgree =
      math.floor(total * f - 3.0 * math.sqrt(total * f * (1.0 - f))).toInt
    total - minAgree
  }

  private[graft] def hyperplaneEdgePairs(s: SparkSession, emb: DataFrame,
      t: Double): DataFrame = {
    val e0 = graft.Caches.persist(emb.select(col("vec_id"),
      VF.toDouble(col("embedding")).as("v")))
    val n = graft.Caches.countOnce(e0)
    val (bands, bitsPerBand) = hyperplaneEdgeGeometry(n)
    val e = graft.Caches.persist(e0.select(col("vec_id"), col("v"),
        NX.hyperplaneBands(col("v"), bands, bitsPerBand).as("bks"))
      .withColumn("nrm", VF.l2Norm(col("v"))))
    // the verify attach: candidates outnumber vectors ~300:1 on mid-sim-
    // heavy geometry, so shuffling 64-dim vectors onto every candidate row
    // dominated the whole query (138 s of 209 at the 100× probe); the
    // (id → vector) map is ~0.5 KB/row, so up to 1M vectors (~0.5 GB) it
    // rides a broadcast and the verify is two in-memory hash probes.
    // Above the threshold the shuffle join returns — the honest
    // distributed plan at 100 TB, linear in candidates.
    val bs = graft.Broadcasts.gate(s, "lsh", n, rowBytes = 536,
      defaultBytes = 512L << 20)
    val bnd = e.select(col("vec_id"), col("bks"),
      posexplode(col("bks")).as(Seq("b", "bv")))
    val cand = bnd.as("a").join(bnd.as("b"),
        col("a.b") === col("b.b") && col("a.bv") === col("b.bv") &&
          col("a.vec_id") < col("b.vec_id"))
      .filter(col("a.b") + 1 === NX.firstEq(col("a.bks"), col("b.bks"), lit(bands)))
      // Hamming prefilter over the signatures ALREADY on the row: random
      // bucket collisions (the overwhelming majority on weakly-clustered
      // geometry) die here, before any 64-dim vector is shuffled into the
      // verify joins — measured 171 s → ~14 s at the 100× probe
      .filter(NX.xorPopcount(col("a.bks"), col("b.bks"))
        <= lit(hyperplaneMaxDisagree(t, bitsPerBand)))
      .select(col("a.vec_id").as("id_a"), col("b.vec_id").as("id_b"))
    cand
      .join(bs(e.select(col("vec_id").as("id_a"), col("v").as("va"),
        col("nrm").as("na"))), "id_a")
      .join(bs(e.select(col("vec_id").as("id_b"), col("v").as("vb"),
        col("nrm").as("nb"))), "id_b")
      .withColumn("sim", NX.dot(col("va"), col("vb")) / (col("na") * col("nb")))
      .filter(col("sim") >= t)
      .select(col("id_a"), col("id_b"), col("sim"))
  }

  /** Exact all-pairs Jaccard >= t over `tok(doc_id, w)` set-element rows.
    * Identical token sets collapse to DISTINCT SETS stored as rarity-ordered
    * sorted index arrays ([[raritySets]]), and [[bitsetSetsAndPairs]]
    * compares sets, not docs: the S² `SetPairScan` kernel when the
    * vocabulary is in the S² regime ([[s2PlansWin]]) and the sets fit its
    * gate, otherwise the (prefix element, size band) blocking join with
    * AllPairs' prefix and length filters and PPJoin's indexing-prefix and
    * positional bounds, verified by one merge-scan intersection per
    * candidate. Qualifying set pairs expand back to doc pairs. Every plan
    * counts the same intersection, so j is bit-equal to the naive token
    * join.
    */
  /** Test hook: NativeKernelsSpec cross-checks the plans against a naive
    * all-pairs reference on synthetic vocabularies.
    */
  private[graft] def jaccardPairsForTest(s: SparkSession, tok: DataFrame,
      t: Double): DataFrame = jaccardPairs(s, tok, t)

  /** MinHash-LSH near-dup pairs over a (doc_id, text) frame: band-bucket
    * candidates, exact 3-shingle-Jaccard verification at `t`. The entire
    * signature pipeline is portable mod-prime arithmetic
    * (NX.shinglesPortable / NX.minhashPortable), so a SQL oracle
    * replays it bit-for-bit.
    *
    * HOT-BAND SKEW GUARD: the band self-join runs over DISTINCT shingle
    * sets, not documents (the same distinct-set collapse as
    * containmentPairs). A boilerplate-heavy corpus — thousands of docs
    * sharing one template — would otherwise put them all in the same band
    * bucket and make the bucket join quadratic in DOCUMENTS; collapsed, the
    * bucket join is quadratic only in distinct SETS (the all-identical
    * adversarial corpus yields ONE set and zero band-join pairs), and the
    * m·(m-1)/2 identical-doc pairs the contract still owes are re-expanded
    * narrow (explode, no shuffle) from the member lists afterward. Identical
    * sets have Jaccard exactly 1.0 ≥ t, so expansion preserves the output
    * exactly and the oracle is unchanged. (Member lists are bounded by group
    * size; a group so large its pair EXPANSION is infeasible makes the
    * pairwise contract itself infeasible — that corpus wants
    * x1_dedup_clusters' representative output instead.)
    */
  private[graft] def minhashLshPairs(s: SparkSession, d0: DataFrame,
      t: Double): DataFrame =
    minhashLshPairsUnsorted(s, d0, t).orderBy("doc_a", "doc_b")

  private[graft] def minhashLshPairsUnsorted(s: SparkSession, d0: DataFrame,
      t: Double): DataFrame = {
    val numHashes = 32; val bands = 16
    val P31 = 2147483647L
    // Persisted: the distinct-set frame is ~100x smaller than the text and
    // is consumed by the band explode, both verify joins, and both member
    // expansions; without it Spark re-runs text->shingle->hash per consumer.
    val sets = graft.Caches.persist(
      d0.select(col("doc_id"),
          NX.shinglesPortable(TF.tokens(col("text")), 3).as("sh"))
        .groupBy("sh")
        .agg(min("doc_id").as("set_id"),
          collect_list("doc_id").as("members"),
          count(lit(1)).as("m")))
    val sig = sets.select(col("set_id"),
      NX.minhashPortable(col("sh"), numHashes).as("sig"))
    // Band key = sig[2b]*p + sig[2b+1] (joined together with the band
    // index) — plain integers both engines build identically. The join
    // carries set ids ONLY; shingle arrays are re-joined post-dedup.
    val banded = sig.select(col("set_id"),
      posexplode(array((0 until bands).map { b =>
        element_at(col("sig"), 2 * b + 1) * P31 +
          element_at(col("sig"), 2 * b + 2)
      }: _*)).as(Seq("band", "bk")))
    val candSets = banded.as("a")
      .join(banded.as("b"),
        col("a.band") === col("b.band") && col("a.bk") === col("b.bk") &&
          col("a.set_id") < col("b.set_id"))
      .select(col("a.set_id").as("sa"), col("b.set_id").as("sb"))
      .dropDuplicates("sa", "sb")
    val verified = candSets
      .join(sets.select(col("set_id").as("sa"), col("sh").as("sh_a"),
        col("members").as("mem_a")), "sa")
      .join(sets.select(col("set_id").as("sb"), col("sh").as("sh_b"),
        col("members").as("mem_b")), "sb")
      .withColumn("i", NX.isect(col("sh_a"), col("sh_b")))
      .withColumn("j", col("i").cast("double") /
        (size(col("sh_a")) + size(col("sh_b")) - col("i")).cast("double"))
      .filter(col("j") >= t)
    // cross-set doc pairs: every member pairing inherits the set-level j
    // (members of distinct sets are distinct docs, so least/greatest emits
    // each unordered pair exactly once). The repartition between the two
    // explodes spreads a giant |A|x|B| expansion across the cluster — one
    // enormous verified pair would otherwise expand inside a single task.
    val crossPairs = verified
      .select(explode(col("mem_a")).as("x"), col("mem_b"), col("j"))
      .repartition(col("x"))
      .select(col("x"), explode(col("mem_b")).as("y"), col("j"))
      .select(least(col("x"), col("y")).as("doc_a"),
        greatest(col("x"), col("y")).as("doc_b"),
        round(col("j"), 4).as("jaccard"))
    // intra-set doc pairs: identical shingle sets share every band and have
    // j = 1.0 exactly — owed by the contract. A flat explode×explode would
    // serialize the whole m·(m-1)/2 expansion of one big group into a
    // single task, so pairs are enumerated by BLOCK-PAIR join instead
    // (SaltedJoin's spirit applied to self-pairing): each member lands in
    // one of B = ceil(sqrt(m)) blocks by doc-id hash; a pair (x,y) is
    // emitted only in the cell (min(px,py), max(px,py)), so the join key
    // (set, blockA, blockB) spreads the expansion over ~m parallel cells of
    // O(1) pairs each, and the shuffle carries m·sqrt(m) replicated ids —
    // not m² pair rows.
    val mem = sets.filter(col("m") > 1)
      .select(col("set_id"), explode(col("members")).as("x"),
        ceil(sqrt(col("m"))).cast("int").as("nb"))
      // spread the members of one big group across the cluster BEFORE the
      // block fanout: the set frame keeps a whole group in one partition, and
      // the join below builds/broadcasts the small side, so without this the
      // entire m²/2 expansion would stream out of a single task
      .repartition(col("set_id"), col("x"))
      .withColumn("p", pmod(xxhash64(col("x")), col("nb")).cast("int"))
    val aSide = mem.select(col("set_id"), col("x").as("xa"),
      col("p").as("ka"), explode(sequence(col("p"), col("nb") - 1)).as("kb"))
    val bSide = mem.select(col("set_id"), col("x").as("xb"),
      explode(sequence(lit(0), col("p"))).as("ka"), col("p").as("kb"))
    // off-diagonal cells (ka < kb) join two DISJOINT blocks — every (xa,xb)
    // combination is a distinct unordered pair, normalized by least/greatest;
    // diagonal cells (ka = kb) self-pair one block and dedupe with xa < xb
    val intraPairs = aSide
      .join(bSide, Seq("set_id", "ka", "kb"))
      .filter(col("ka") =!= col("kb") || col("xa") < col("xb"))
      .select(least(col("xa"), col("xb")).as("doc_a"),
        greatest(col("xa"), col("xb")).as("doc_b"),
        lit(1.0).as("jaccard"))
    crossPairs.unionAll(intraPairs)
  }

  private def jaccardPairs(s: SparkSession, tok0: DataFrame, t: Double): DataFrame = {
    // persisted: consumed by the dispatch statistics, the vocabulary index,
    // and the set build — tokenization (interpreted HOFs over text) would
    // otherwise re-run per consumer; registered so the harness drains it
    // after the query (leaked, it slows every later query in the session)
    val (sets, pairs) = bitsetSetsAndPairs(graft.Caches.persist(tok0), t)
    pairs
      .join(sets.select(col("sid").as("sa"), col("ds").as("da")), "sa")
      .join(sets.select(col("sid").as("sb"), col("ds").as("db")), "sb")
      .select(col("sa"), col("sb"), col("j"), explode(col("da")).as("x"), col("db"))
      .select(col("sa"), col("sb"), col("j"), col("x"), explode(col("db")).as("y"))
      .filter((col("sa") === col("sb") && col("x") < col("y")) || col("sa") < col("sb"))
      .select(least(col("x"), col("y")).as("doc_a"),
        greatest(col("x"), col("y")).as("doc_b"),
        round(col("j"), 4).as("jaccard"))
      .orderBy("doc_a", "doc_b")
  }

  /** The two set-similarity dispatch statistics — distinct vocabulary size
    * and Σdf² (the prefix-join size upper bound) — in ONE aggregation job
    * over the token frame's df groups (r13: they were two sequential eager
    * jobs per query build, each re-deriving the same groupBy(w)). Memoized
    * per canonical plan like every gate statistic; the first consumer of
    * the persisted `tok` still primes its cache through the sets count.
    */
  private def setDispatchStats(tok: DataFrame): (Long, Long) = {
    val r = graft.Caches.rowOnce(
      dfreqOf(tok)
        .agg(count(lit(1)).as("v"), sum(col("df") * col("df")).as("sumdf2")),
      desc = "stat:setsim vocab+sumdf2")
    (r.getLong(0), if (r.isNullAt(1)) 0L else r.getLong(1))
  }

  /** The token frame's document-frequency table, persisted ONCE per
    * canonical plan (r13): the dispatch statistics, the rarity-order
    * vocabulary index, and the prefix paths each re-derived the same
    * groupBy(w) aggregation - 2-3 redundant full passes over the token
    * frame per query build. Vocab-sized rows; registered for drain by the
    * first caller.
    */
  private def dfreqOf(tok: DataFrame): DataFrame =
    graft.Caches.persistShared(tok.groupBy("w").agg(count(lit(1)).as("df")))

  /** The two set-plan dispatch constants, shared by the containment
    * dispatch and [[lexicalJaccardTopK]]. Both are hand-set crossovers,
    * not yet derived from measured per-operator costs.
    *
    *  - `SmallVocab`: at or below this many distinct tokens every token is
    *    a hot join key, so any token-keyed join (prefix filtering, posting
    *    intersection) fans out to ~|docs|² rows, while S² set comparisons
    *    need no token fanout at all.
    *  - `PrefixJoinBudget`: Σdf² over the inverted index bounds the prefix
    *    join's candidate rows from above. A closed-ish vocabulary at scale
    *    keeps every df high (the r08 sf1 bigram corpus, 9310 tokens at df
    *    ~270, filled the disk on the prefix join), so above the budget the
    *    S² plans run instead.
    */
  private val SmallVocab = 4096L
  private val PrefixJoinBudget = 200000000L

  /** True iff the S² set plans (SetPairScan kernel or the NLJ) beat a
    * token-keyed join on a corpus with these dispatch statistics.
    */
  private def s2PlansWin(vocabSize: Long, sumDf2: Long): Boolean =
    vocabSize <= SmallVocab || sumDf2 > PrefixJoinBudget

  /** Collapsed distinct sets over `tok` as GLOBAL-RARITY-ordered index
    * arrays: (arr, n, ds, sid) with arr the sorted (document frequency
    * asc, element asc) vocabulary indices, ds the doc ids sharing the set,
    * sid = min doc id. The ONE set encoding behind exact Jaccard and
    * containment — the funnel runs both legs over the same keepers
    * tokens, and one encoding lets the cache share the multi-shuffle
    * build (index window, array aggregation, collapse) between them
    * (canonical-plan equality is what dedups the persist AND the
    * countOnce statistics). `vocab` is the distinct token count from
    * [[setDispatchStats]].
    */
  private[graft] def raritySets(tok: DataFrame, vocab: Long): DataFrame = {
    // the index is numbered by one single-partition window over the
    // vocabulary (SCALING.md records the largest measured width)
    val w = Window.orderBy("df", "w")
    val idx = dfreqOf(tok)
      .select(col("w"), (row_number().over(w) - 1).cast("long").as("i"))
    // open vocabularies make the index corpus-sized: ~64 B per (token,
    // index) row against the jaccard site's byte limit, shuffled above it
    val bs = graft.Broadcasts.gate(tok.sparkSession, "jaccard",
      vocab, rowBytes = 64, defaultBytes = 40L << 20)
    val arrs = tok.join(bs(idx), "w")
      .groupBy("doc_id")
      .agg(sort_array(collect_list("i")).as("arr"), count(lit(1)).as("n"))
    // shared: the Jaccard and containment legs of one funnel build the
    // same sets from one token frame
    graft.Caches.persistShared(arrs.groupBy("arr", "n")
      .agg(collect_list("doc_id").as("ds"), min("doc_id").as("sid")))
  }

  /** Set-pair core: the [[raritySets]] frame and its QUALIFYING SET PAIRS
    * (sa, sb, j) — shared by pair expansion and by set-level dedup
    * clustering (which never needs doc-level edges). `tok` is persisted by
    * the caller.
    */
  private[graft] def bitsetSetsAndPairs(tok: DataFrame,
      t: Double): (DataFrame, DataFrame) = {
    val (vocab, sumDf2) = setDispatchStats(tok)
    // vocabulary index in GLOBAL RARITY order (document frequency asc,
    // element asc), so a set's sorted index array is ordered rarest-first
    // and its AllPairs/PPJoin prefix is a SLICE of the array. Sets are
    // stored AS those sorted arrays: n elements × 8 bytes, independent of
    // vocabulary width — the r09 sf3 probe caught the previous bitmask
    // form paying vocab/64 longs per set (437-word masks over 10-element
    // bigram sets, 40× the bytes) and scanning words instead of elements
    // in the verify kernel.
    val sets = raritySets(tok, vocab)
      // consumed by both sides of the set-pair join + 2 expansions
    // (PREFIX-ELEMENT, SIZE-BAND) blocking + POSITIONAL filter — all
    // implied by J >= t, so the blocking is pure pruning:
    //   * prefix: a qualifying pair shares an element within each side's
    //     n − ⌈t·n⌉ + 1 rarest (AllPairs, Bayardo et al. WWW'07; PPJoin)
    //     — CONTENT blocks the join, so
    //     vocabulary-disjoint regions of a corpus (the r09 sf3 probe: 30
    //     replicas with suffixed tokens, where size bands alone left an
    //     80×-growing S² kernel stream) generate ZERO cross-region
    //     candidates;
    //   * size band: J >= t forces least(na,nb) >= t*greatest(na,nb), i.e.
    //     sizes within 1/t — geometric bands band(n) = floor(ln n/ln(1/t))
    //     put every qualifying pair at most ONE band apart. The join is
    //     DIRECTIONAL (probe = larger side by (n, sid), index = smaller):
    //     band(smaller) <= band(larger), so the probe side visits only
    //     {band-1, band} — a 1/3 cut of the exploded probe stream vs the
    //     symmetric ±1 form;
    //   * indexing prefix (PPJoin, Xiao et al. WWW'08 §3.2): the SMALLER
    //     side of a qualifying pair has overlap O >= 2t/(1+t)·nb (plug
    //     na >= nb into O >= t(na+nb)/(1+t)), so its first common element
    //     sits within its first nb − ⌈2t/(1+t)·nb⌉ + 1 — at t=0.7 that is
    //     0.18·n vs the probing prefix's 0.3·n, and candidate volume per
    //     key is the PRODUCT of the two prefix lengths (the r13 sf3 probe
    //     measured 5e8 candidate rows for 157k qualifying pairs with flat
    //     per-key dfs — prefix length, not skew, is the volume);
    //   * position (PPJoin, Xiao et al. WWW'08): a row matching at
    //     0-based prefix positions (pa, pb) bounds the overlap by
    //     1 + min(na−pa−1, nb−pb−1); rows below the required minimum
    //     overlap ⌈t(na+nb)/(1+t)⌉ are dropped IN the join, before the
    //     exchange — the first common element of a qualifying pair always
    //     survives (everything before it is disjoint by definition), so
    //     recall is exact while deep-position chance collisions (the bulk
    //     of closed-vocabulary candidates) never reach the aggregation.
    // The candidate join carries IDS ONLY (sa, sb) — arrays re-attach per
    // DEDUPED candidate pair, so prefix fan-out never replicates set
    // payloads through the shuffle (the r08 sf1 point measured a near-TB
    // shuffle when a prefix join carried the token arrays).
    // DISTINCT SETS don't always collapse — an adversarial corpus keeps
    // S ≈ n docs — so the build side is broadcast only below a threshold
    // (the count forces the persisted sets frame once; every later consumer
    // reads the cache); above it the (pw, band)-keyed join shuffles both
    // sides on the key, which Spark distributes.
    // broadcast side is the EXPLODED prefix-key frame: ~400 B per distinct
    // set (avg prefix length × the (sb, nb, bk2, pb, pw2) row) — byte gate
    val nSets = graft.Caches.countOnce(sets)
    val bs = graft.Broadcasts.gate(tok.sparkSession, "jaccard",
      nSets, rowBytes = 400, defaultBytes = 40L << 20)
    val tMicros = math.round(t * 1e6)
    val words = ((vocab + 63) / 64).toInt
    // dense-regime kernel: on the vocabularies where the S² plans win
    // (s2PlansWin) and the collapsed sets fit the pairscan gate, the full
    // S² bitmask scan (SetPairScan) replaces candidate blocking + verify
    // outright — on closed vocabularies every set shares high-df elements
    // with most others, so the (prefix, band) join degenerates to ~S²
    // candidate visits anyway and the kernel wins on the per-pair
    // constant. On open vocabularies the blocking prunes almost every pair
    // and the kernel's words-long masks lose to it (ProfileMain @prefix,
    // SCALING.md). Masks are rebuilt from the rarity arrays only on this
    // path (words·8 B/set; the gate bounds the total). Exact in the SAME
    // integer form as the relational verify below, so the dispatch is
    // invisible to the oracle.
    val pairs =
      if (s2PlansWin(vocab, sumDf2) &&
          graft.operators.SetPairScan.fits(tok.sparkSession, nSets, words))
        graft.operators.SetPairScan.pairs(
          sets.select(col("sid"),
            NX.mask(col("arr"), words).as("mask"),
            col("n")),
          graft.operators.SetPairScan.Jaccard(tMicros))
          .withColumn("j", col("i").cast("double") /
            (col("na") + col("nb") - col("i")).cast("double"))
          .select("sa", "sb", "j")
      else {
        val candIds = bitsetCandIds(sets, t, bs)
        // verify: ONE merge-scan intersection per deduped pair (arrays are
        // sorted), then the exact integer form of J >= t — decided exactly
        // like the division form the survivors' `j` below (and the oracle)
        candIds
          .join(bs(sets.select(col("sid").as("sa"), col("arr").as("arra"),
            col("n").as("na"))), "sa")
          .join(bs(sets.select(col("sid").as("sb"), col("arr").as("arrb"),
            col("n").as("nb"))), "sb")
          .withColumn("i", NX.isect(col("arra"), col("arrb")))
          .filter(col("i") * lit(1000000L + tMicros) >=
            lit(tMicros) * (col("na") + col("nb")))
          .withColumn("j", col("i").cast("double") /
            (col("na") + col("nb") - col("i")).cast("double"))
          .select("sa", "sb", "j")
      }
    (sets, pairs)
  }

  /** Candidate (sa, sb) ids from the (prefix, band) blocking — split out so
    * the profiler can time candidate generation apart from verification.
    */
  private[graft] def bitsetCandIds(sets: DataFrame, t: Double,
      bs: DataFrame => DataFrame): DataFrame = {
    def bandOf(n: Column): Column =
      if (t >= 1.0) n.cast("long") // J >= 1 forces equal sizes exactly
      else floor(log(n.cast("double")) / lit(math.log(1.0 / t))).cast("long")
    val tMicros = math.round(t * 1e6)
    // integer ceil everywhere — an FP ceil can round a half-ulp and
    // silently shorten the prefix below the safe bound
    def prefSlice(arr: String, n: String): Column =
      expr(s"slice($arr, 1, cast($n - (($n * $tMicros + 999999) div 1000000) + 1 as int))")
    // indexing prefix: n − ⌈2t/(1+t)·n⌉ + 1 (valid on the pair's SMALLER
    // side only — the directional join condition below guarantees nb <= na)
    def idxSlice(arr: String, n: String): Column = {
      val den = 1000000L + tMicros
      expr(s"slice($arr, 1, cast($n - (($n * ${2 * tMicros} + ${den - 1}) div $den) + 1 as int))")
    }
    val aKeys = sets
      .select(col("arr").as("arra"), col("n").as("na"), col("sid").as("sa"))
      .withColumn("bk",
        explode(sequence(bandOf(col("na")) - 1, bandOf(col("na")))))
      .select(col("sa"), col("na"), col("bk"),
        posexplode(prefSlice("arra", "na")).as(Seq("pa", "pw")))
    val bKeys = sets
      .select(col("arr").as("arrb"), col("n").as("nb"), col("sid").as("sb"))
      .withColumn("bk2", bandOf(col("nb")))
      .select(col("sb"), col("nb"), col("bk2"),
        posexplode(idxSlice("arrb", "nb")).as(Seq("pb", "pw2")))
    // minimum overlap i with J(a,b) >= t: i(1+t) >= t(na+nb)
    val minOverlap =
      expr(s"(($tMicros * (na + nb) + ${1000000L + tMicros} - 1) div ${1000000L + tMicros})")
    // direction: (nb, sb) <= (na, sa) lexicographically — each unordered
    // pair matches in exactly ONE orientation (self-pairs via equality),
    // which is also what licenses the short indexing prefix on b
    val candIds = aKeys.join(bs(bKeys),
        col("pw") === col("pw2") && col("bk") === col("bk2") &&
          (col("nb") < col("na") ||
            (col("nb") === col("na") && col("sb") <= col("sa"))) &&
          col("nb").cast("double") >= col("na") * t &&
          lit(1) + least(col("na") - col("pa") - 1,
            col("nb") - col("pb") - 1) >= minOverlap)
      .select(least(col("sa"), col("sb")).as("sa"),
        greatest(col("sa"), col("sb")).as("sb"))
      .dropDuplicates("sa", "sb")
    candIds
  }

  /** Exact all-pairs CONTAINMENT C(a,b) = |A∩B| / min(|A|,|B|) ≥ num/den
    * over `tok(doc_id, w)` set-element rows — the asymmetric criterion that
    * catches a snippet EMBEDDED in a larger document (a 50-word quote in a
    * 500-word page has J ≈ 0.1 but C = 1.0). The threshold is exact integer
    * arithmetic (den·i ≥ num·min ⟺ C ≥ num/den) and outputs are e4 integer
    * ratios, so no quotient ever meets ROUND cross-engine.
    *
    * Three exact plans over one [[raritySets]] build, all comparing
    * DISTINCT SETS (the r04 plan paired raw doc masks all-pairs — O(n²)
    * however many docs shared a token set), all sharing one member
    * expansion back to doc pairs:
    *  - the S² plans, when the vocabulary is small or Σdf² predicts a
    *    quadratic prefix join ([[s2PlansWin]]): the `SetPairScan` kernel
    *    when the sets fit its gate, otherwise the set-pair NLJ with an
    *    early-exit qualifier — S² primitive ops, not n², and corpora worth
    *    deduping are precisely the ones where S ≪ n.
    *  - otherwise the prefix-filtered candidate join from the SSJoin
    *    overlap family (Chaudhuri et al. ICDE'06; PPJoin+ Xiao et al.
    *    WWW'08 extends it with positional bounds): a qualifying pair needs
    *    i ≥ ⌈t·min(na,nb)⌉, and for the SMALLER set that bound is
    *    ⌈t·n_small⌉ — so its rarest n − ⌈t·n⌉ + 1 elements (a slice of
    *    its rarity array) must share an element with the larger set.
    *    Probe small-side prefixes against the full arrays of sets with
    *    n ≥ the probe's n, verify candidates exactly. (Unlike Jaccard, the
    *    index side must stay full-width — a huge doc can contain a tiny
    *    one, so no symmetric length filter is legal — which is exactly why
    *    containment costs more than Jaccard in every published SSJoin
    *    variant.)
    */
  private[graft] def containmentPairsForTest(s: SparkSession, tok: DataFrame,
      num: Int, den: Int): DataFrame = containmentPairs(s, tok, num, den)

  private def containmentPairs(s: SparkSession, tok0: DataFrame,
      num: Int, den: Int): DataFrame =
    containmentPairsSized(s, tok0, num, den, minRatio = 1)
      .select(col("doc_a"), col("doc_b"),
        expr("i * 10000 div least(na, nb)").as("containment_e4"),
        expr("i * 10000 div (na + nb - i)").as("jaccard_e4"))
      .orderBy("doc_a", "doc_b")

  /** The three exact containment plans of [[containmentPairsForTest]]. */
  private[graft] sealed trait ContainmentPlan
  private[graft] object ContainmentPlan {
    case object Kernel extends ContainmentPlan
    case object Nlj extends ContainmentPlan
    case object Prefix extends ContainmentPlan
  }

  /** The containment pair machinery WITHOUT the presentation projection:
    * rows (doc_a, doc_b, i, na, nb) with doc_a < doc_b (except the exact
    * set-dup self-pairs, doc_a < doc_b always), na/nb the two docs'
    * distinct-token counts in pair orientation, unsorted. `minRatio` > 1
    * pushes the caller's size-ratio guard (`least·minRatio ≤ greatest`)
    * INTO the set-level candidate join: the funnel's snippet gate only
    * consumes pairs with a ≥2× size gap, and filtering the full pair list
    * after the fact paid the doc expansion + a global sort of millions of
    * C ≥ t pairs (dense near-dup corpora qualify most set pairs) to keep
    * hundreds. `plan` names the plan instead of letting the statistics
    * choose it (the specs run every plan on one corpus).
    */
  private[graft] def containmentPairsSized(s: SparkSession, tok0: DataFrame,
      num: Int, den: Int, minRatio: Int,
      plan: Option[ContainmentPlan] = None): DataFrame = {
    // shared: the funnel's cluster leg persisted this tokenization already
    val tok = graft.Caches.persistShared(tok0)
    val (vocabSize, sumDf2) = setDispatchStats(tok)
    val words = ((vocabSize + 63) / 64).toInt
    // the SAME rarity-array sets as the Jaccard path — when a caller (the
    // funnel) runs both legs over one token frame, the persist and the
    // countOnce statistics below dedup by canonical-plan equality
    val sets = raritySets(tok, vocabSize)
    val nSets = graft.Caches.countOnce(sets)
    // over-gate broadcast estimate: rows carry the full index array —
    // n ≤ vocab elements of 8 B (a conservative bound; dense closed-vocab
    // sets really do approach it)
    val bs = graft.Broadcasts.gate(tok.sparkSession, "jaccard",
      nSets, rowBytes = 8L * math.max(vocabSize, 1L) + 32, defaultBytes = 40L << 20)
    val a = sets.select(col("arr").as("arra"), col("n").as("na"),
      col("sid").as("sa"))
    val b = sets.select(col("arr").as("arrb"), col("n").as("nb"),
      col("sid").as("sb"))
    // the exact overlap both relational plans verify with: one merge scan
    // of the two sorted arrays per surviving set pair
    def withIsect(pairs: DataFrame): DataFrame =
      pairs.withColumn("i", NX.isect(col("arra"), col("arrb")))
        .select(col("sa"), col("sb"), col("i"), col("na"), col("nb"))
    val pairs = plan.getOrElse(
      if (!s2PlansWin(vocabSize, sumDf2)) ContainmentPlan.Prefix
      else if (graft.operators.SetPairScan.fits(tok.sparkSession, nSets, words))
        ContainmentPlan.Kernel
      else ContainmentPlan.Nlj) match {
      // dense-regime kernel: drops the NLJ's ~300 ns/pair row-iterator +
      // expression-eval constant to ~words popcounts (see SetPairScan)
      case ContainmentPlan.Kernel =>
        graft.operators.SetPairScan.pairs(
          sets.select(col("sid"),
            NX.mask(col("arr"), words).as("mask"),
            col("n")),
          graft.operators.SetPairScan.Containment(num, den, minRatio))
      // sa ≤ sb admits the IDENTICAL-set pair (C = 1.0 trivially
      // qualifies: its docs are exact set-dups of each other) — expanded
      // with x < y below. The size-ratio guard sits FIRST in the
      // conjunction: two long compares short-circuit the per-pair
      // merge-scan intersection for every pair the caller's ratio gate
      // would drop anyway (at minRatio = 1 it folds to a tautology).
      case ContainmentPlan.Nlj =>
        withIsect(a.join(bs(b),
          col("sa") <= col("sb") &&
            least(col("na"), col("nb")) * minRatio <=
              greatest(col("na"), col("nb")) &&
            // early-exit qualifier (na = |arra|, nb = |arrb|): the S²
            // NLJ evaluates this per enumerated pair, so bailing as soon
            // as the containment outcome is decided — instead of a full
            // merge scan + two array copies — is the dominant per-pair
            // cost here; the exact count runs on survivors only
            NX.isectGeq(col("arra"), col("arrb"), num, den)))
      // arrays re-attach per DEDUPED candidate pair, then verify exactly
      case ContainmentPlan.Prefix =>
        withIsect(prefixContainmentCandIds(sets, num, den, minRatio)
            .join(bs(a), "sa").join(bs(b), "sb"))
          .filter(col("i") * den >= least(col("na"), col("nb")) * num)
    }
    pairs
      .join(sets.select(col("sid").as("sa"), col("ds").as("da")), "sa")
      .join(sets.select(col("sid").as("sb"), col("ds").as("db")), "sb")
      .select(col("sa"), col("sb"), col("i"), col("na"), col("nb"),
        explode(col("da")).as("x"), col("db"))
      .select(col("sa"), col("sb"), col("i"), col("na"), col("nb"),
        col("x"), explode(col("db")).as("y"))
      .filter((col("sa") === col("sb") && col("x") < col("y")) || col("sa") < col("sb"))
      .select(least(col("x"), col("y")).as("doc_a"),
        greatest(col("x"), col("y")).as("doc_b"), col("i"),
        when(col("x") < col("y"), col("na")).otherwise(col("nb")).as("na"),
        when(col("x") < col("y"), col("nb")).otherwise(col("na")).as("nb"))
  }

  /** Candidate (sa, sb) set ids of the prefix containment plan, sa ≤ sb:
    * every qualifying pair's smaller set exposes an intersection element
    * in its prefix, and that element appears SOMEWHERE in the larger set's
    * full array — so prefix(small) ⋈ full(large) on the element, sizes
    * ordered, is a complete candidate generator. Equal sizes probe both
    * directions (deduped), and a set probes itself: the identical-set pair
    * the member expansion needs. Carries IDS ONLY — the r08 sf1 point
    * measured a near-TB shuffle when a prefix join carried the arrays.
    */
  private def prefixContainmentCandIds(sets: DataFrame, num: Int, den: Int,
      minRatio: Int): DataFrame = {
    // prefix length n − ⌈num·n/den⌉ + 1 in EXACT integer arithmetic
    // (⌈a/b⌉ = (a + b − 1) div b) — an FP ceil(0.9·n) can round up a
    // half-ulp and silently shorten the prefix below the safe bound
    val pref = sets.select(col("sid").as("sa"), col("n").as("na"),
      explode(expr(
        s"slice(arr, 1, cast(n - ((n * $num + ${den - 1}) div $den) + 1 as int))"))
        .as("pw"))
    val full = sets.select(col("sid").as("sb"), col("n").as("nb"),
      explode(col("arr")).as("fw"))
    // nb ≥ na makes na the least side of the size-ratio guard
    pref.join(full, col("pw") === col("fw") && col("nb") >= col("na") &&
        col("na") * minRatio <= col("nb"))
      .select(least(col("sa"), col("sb")).as("sa"),
        greatest(col("sa"), col("sb")).as("sb"))
      .dropDuplicates("sa", "sb")
  }

  /** Band budget for the cross-stratum tier of [[containmentLshPairs]] —
    * the LSH-Ensemble conversion (Zhu et al., VLDB'16): a pair at
    * containment ≥ t whose sets fall g geometric strata apart has size
    * ratio < 2^(g+1), hence Jaccard ≥ t / (1 + 2^(g+1) − t); the number of
    * r=1 bands needed for ≥90% per-pair recall at that Jaccard floor is
    * ⌈ln 10 / −ln(1 − J_min)⌉, capped at the K=32 signatures computed
    * (beyond gap 2 the cap bites and recall degrades — the documented
    * accuracy/cost dial of every LSH-Ensemble construction; raise K to
    * push the reachable gap). t = 9/10 gives budgets 10 (g=1), 20 (g=2),
    * 32 (g ≥ 3). The oracle SQL embeds the same constants via this
    * function, so both engines draw identical candidate sets.
    */
  private[graft] def containmentBandsForGap(g: Int): Int = {
    val t = 0.9
    val jmin = t / (1.0 + (1L << (g + 1)).toDouble - t)
    math.min(32, math.ceil(math.log(10.0) / -math.log1p(-jmin)).toInt)
  }

  /** The shared DuckDB replay of [[containmentLshVerified]]'s candidate
    * generation + exact verification, up to the `ver` CTE (doc_a, doc_b,
    * intersection `i`, sizes `na`/`nb`) — both containment-LSH oracles
    * (`x2_containment_lsh`, `x2_containment_dedup`) append their own final
    * SELECT so the candidate replay can never drift between them. The
    * replay is doc-level: identical token sets share every signature, so
    * the doc-pair set equals the Spark side's set-level banding expanded
    * over members.
    */
  private[graft] lazy val containmentLshOracleCtes: String =
    s"""WITH tok AS (SELECT doc_id,
       |    unnest(list_distinct(string_split(text,' '))) AS w FROM documents),
       |th AS (SELECT doc_id,
       |    (list_reduce([CAST(0 AS BIGINT)] ||
       |       [CAST(unicode(c) AS BIGINT) FOR c IN string_split(w,'')],
       |       (a,b) -> (a*31+b) % 1000000007) * 2147483648 +
       |     list_reduce([CAST(0 AS BIGINT)] ||
       |       [CAST(unicode(c) AS BIGINT) FOR c IN string_split(w,'')],
       |       (a,b) -> (a*131+b) % 2147483647)) AS h
       |  FROM tok),
       |hsets AS (SELECT doc_id, list_sort(list_distinct(list(h))) AS hs,
       |    len(list_distinct(list(h))) AS n,
       |    length(to_base(len(list_distinct(list(h))), 2)) - 1 AS st
       |  FROM th GROUP BY doc_id),
       |fam AS (SELECT doc_id, k,
       |    MIN((((506952114*(k+1)+1) % 2147483647) * (h % 2147483647)
       |         + ((40503*(k+1)+17) % 2147483647)) % 2147483647) AS sig
       |  FROM th CROSS JOIN (SELECT unnest(range(0,32)) AS k) ks
       |  GROUP BY doc_id, k),
       |famst AS (SELECT f.doc_id, f.k, f.sig, h2.st
       |  FROM fam f JOIN hsets h2 USING (doc_id)),
       |band AS (SELECT f0.doc_id, f0.st, f0.k // 2 AS b,
       |    f0.sig * 2147483647 + f1.sig AS bk
       |  FROM famst f0 JOIN famst f1
       |    ON f0.doc_id = f1.doc_id AND f1.k = f0.k + 1
       |  WHERE f0.k % 2 = 0),
       |cand0 AS (SELECT a.doc_id AS doc_a, b2.doc_id AS doc_b
       |  FROM band a JOIN band b2
       |    ON a.b = b2.b AND a.bk = b2.bk AND a.st = b2.st
       |   AND a.doc_id < b2.doc_id),
       |cand1 AS (SELECT least(a.doc_id, b2.doc_id) AS doc_a,
       |    greatest(a.doc_id, b2.doc_id) AS doc_b
       |  FROM famst a JOIN famst b2
       |    ON a.k = b2.k AND a.sig = b2.sig AND b2.st > a.st
       |   AND a.k < CASE b2.st - a.st
       |             WHEN 1 THEN ${containmentBandsForGap(1)}
       |             WHEN 2 THEN ${containmentBandsForGap(2)}
       |             ELSE 32 END),
       |cand AS (SELECT DISTINCT doc_a, doc_b FROM
       |  (SELECT * FROM cand0 UNION ALL SELECT * FROM cand1)),
       |ver AS (SELECT doc_a, doc_b, len(list_intersect(x.hs, y.hs)) AS i,
       |    x.n AS na, y.n AS nb
       |  FROM cand JOIN hsets x ON x.doc_id = doc_a
       |            JOIN hsets y ON y.doc_id = doc_b)""".stripMargin

  /** Sub-quadratic CONTAINMENT near-dup pairs — the 100 TB scale path for
    * [[containmentPairs]]' asymmetric criterion C(a,b) = |A∩B| / min(|A|,|B|)
    * ≥ num/den, via size-stratified MinHash banding (the LSH-Ensemble
    * construction, Zhu et al. VLDB'16). The exact NLJ/prefix twin compares
    * every distinct set against every other however the corpus grows; this
    * path's banding keys are vocabulary-local, so disjoint sub-corpora
    * (sources ingested at different times — the bench's replicated
    * corpus) never collide and total work grows LINEARLY in the number of
    * slices instead of quadratically in global distinct sets.
    *
    * Construction:
    *  1. Docs collapse to DISTINCT token-hash sets (portable
    *     NX.wordHash62, sorted) exactly as the Jaccard family does —
    *     identical sets pair trivially at C = 1 via the block-pair
    *     expansion, never through the index.
    *  2. Sets land in geometric size strata s = ⌊log2 n⌋, computed as
    *     binary digit length (integer-exact in both engines — an FP log2
    *     can land a half-ulp under an integer and mis-shelve every
    *     power-of-two-sized set).
    *  3. SAME-stratum pairs (ratio < 2 ⟹ J ≥ t/(3−t) ≈ 0.43 at t = 0.9)
    *     band at r=2 × 16 — the x2_minhash_lsh regime.
    *  4. CROSS-strata pairs — the snippet-in-document asymmetry Jaccard
    *     banding can't see — band at r=1 with the per-gap budget of
    *     [[containmentBandsForGap]], joined on (k, sig, TARGET stratum) so
    *     a hot minimum (closed vocabularies concentrate the min of every
    *     permutation) never fans out across stratum combinations.
    *  5. Candidates are verified EXACTLY (sorted-array intersection), so
    *     false positives cost only the verify; misses are the bounded
    *     ≤10% per-pair recall loss, pinned against the exact twin in
    *     LlmSpec on planted snippet-in-doc fixtures.
    *
    * Every candidate pair is emitted EXACTLY ONCE — at its FIRST agreeing
    * band — by a stateless filter over the carried signature arrays (the
    * simhash pigeonhole's trick), so no dropDuplicates exchange ever sees
    * the ~10× band-collision redundancy. The whole hash pipeline is the
    * portable mod-prime family: DuckDB replays candidates bit-for-bit
    * (its replay is doc-level — identical sets share every signature, so
    * the expanded pair set is identical).
    */
  private[graft] def containmentLshPairs(s: SparkSession, d0: DataFrame,
      num: Int, den: Int): DataFrame =
    containmentLshVerified(s, d0, num, den)
      .select(col("doc_a"), col("doc_b"), col("containment_e4"),
        col("jaccard_e4"))
      .orderBy("doc_a", "doc_b")

  /** [[containmentLshPairs]]' verified pair stream BEFORE the presentation
    * sort, carrying each side's distinct-set size (`na`, `nb`) so decision
    * consumers ([[containmentDedup]]) can orient contained-vs-container
    * without re-joining sizes onto the (at 100×, ~1e8-row) pair stream.
    * Unordered; columns (doc_a, doc_b, na, nb, containment_e4, jaccard_e4).
    */
  private[graft] def containmentLshVerified(s: SparkSession, d0: DataFrame,
      num: Int, den: Int): DataFrame = {
    val K = 32; val bands2 = 16
    val P31 = 2147483647L
    val sets = graft.Caches.persist(
      d0.select(col("doc_id"),
          sort_array(array_distinct(NX.wordHash62(TF.tokenSet(col("text"))))).as("hs"))
        .groupBy("hs")
        .agg(min("doc_id").as("sid"), collect_list("doc_id").as("members"),
          count(lit(1)).as("m"))
        .withColumn("n", size(col("hs")).cast("long"))
        // integer ⌊log2 n⌋ = binary digit length − 1 (exact; n ≥ 1)
        .withColumn("strat", (length(conv(col("n"), 10, 2)) - 1).cast("int")))
    val sig = graft.Caches.persist(sets.select(col("sid"), col("strat"),
      NX.minhashPortable(col("hs"), K).as("sig")))
    // ONE eager aggregate primes the persisted sets cache AND returns every
    // scalar the construction needs — set count (broadcast gate) + stratum
    // range (tier-2 gap budgets) were two sequential jobs over the same
    // frame before r13
    val setStats = graft.Caches.labeled(s, "stat:containment sets cnt+strat")(
      sets.agg(count(lit(1)), min("strat"), max("strat")).head())
    val nSets = setStats.getLong(0)
    // ---- tier 1: same-stratum, r=2 × 16 bands. Rows carry the full band-key
    // array so the join can emit each pair ONLY at its first agreeing band.
    val bkArr = array((0 until bands2).map { b =>
      element_at(col("sig"), 2 * b + 1) * P31 + element_at(col("sig"), 2 * b + 2)
    }: _*)
    val b2 = sig.select(col("sid"), col("strat"), bkArr.as("bks"))
      .select(col("sid"), col("strat"), col("bks"),
        posexplode(col("bks")).as(Seq("band", "bk")))
    val cand0 = b2.as("a").join(b2.as("b"),
        col("a.band") === col("b.band") && col("a.bk") === col("b.bk") &&
          col("a.strat") === col("b.strat") && col("a.sid") < col("b.sid"))
      // first agreeing band (1-based kernel; band is 0-based): a pair
      // agreeing in several bands is kept exactly once, with no dedup
      // exchange and no per-element lambda interpretation
      .filter(col("a.band") + 1 === NX.firstEq(col("a.bks"), col("b.bks"), lit(bands2)))
      .select(col("a.sid").as("sa"), col("b.sid").as("sb"))
    // ---- tier 2: cross-strata, r=1 with per-gap band budgets. The PROBE
    // side replicates each set toward every higher stratum within reach
    // (tgt = strat + g) so the join key (k, sig value, tgt stratum) keeps a
    // hot minimum's bucket from pairing strata combinations wholesale.
    val (minS, maxS) =
      if (setStats.isNullAt(1)) (0, 0) else (setStats.getInt(1), setStats.getInt(2))
    val maxGap = maxS - minS
    val candG: DataFrame = if (maxGap <= 0) null else {
      val gaps = array((1 to maxGap).map(g =>
        struct(lit(g).as("g"), lit(containmentBandsForGap(g)).as("bud"))): _*)
      val b1 = sig.select(col("sid"), col("strat"), col("sig"),
        posexplode(col("sig")).as(Seq("k", "sv")))
      val probe = b1.select(col("sid"), col("strat"), col("sig"), col("k"),
          col("sv"), explode(gaps).as("gb"))
        .select(col("sid"), col("strat"), col("sig"), col("k"), col("sv"),
          (col("strat") + col("gb.g")).as("tgt"), col("gb.bud").as("bud"))
        .filter(col("k") < col("bud") && col("tgt") <= lit(maxS))
      probe.as("a").join(b1.as("b"),
          col("a.k") === col("b.k") && col("a.sv") === col("b.sv") &&
            col("a.tgt") === col("b.strat"))
        // first agreeing signature within this gap's budget — candidates
        // surface exactly once however many of the budgeted hashes agree
        .filter(col("a.k") + 1 === NX.firstEq(col("a.sig"), col("b.sig"), col("a.bud")))
        .select(least(col("a.sid"), col("b.sid")).as("sa"),
          greatest(col("a.sid"), col("b.sid")).as("sb"))
    }
    val cand = if (candG == null) cand0 else cand0.unionAll(candG)
    // ---- exact verify per candidate set pair. Candidates outnumber sets
    // by orders of magnitude, so the verify must probe a broadcast of the
    // ~400 B/row set frame rather than shuffle hash arrays onto every
    // candidate (the 100× probe measured 345 s vs 75 s for exactly this
    // plan flip when the set count crossed the old 300k threshold); up to
    // 1M sets (~0.4 GB) it broadcasts, beyond that the shuffle join is
    // the honest distributed plan — never a driver-sized broadcast at
    // 100 TB.
    val bs = graft.Broadcasts.gate(s, "containment",
      nSets,
      rowBytes = 400, defaultBytes = 400L << 20)
    val verified = cand
      .join(bs(sets.select(col("sid").as("sa"), col("hs").as("ha"),
        col("n").as("na"), col("members").as("mem_a"))), "sa")
      .join(bs(sets.select(col("sid").as("sb"), col("hs").as("hb"),
        col("n").as("nb"), col("members").as("mem_b"))), "sb")
      // early-exit qualifier FIRST (na = |ha|, nb = |hb| by construction,
      // so the kernel's min(|a|,|b|)·num/den threshold is exactly the old
      // i·den ≥ least(na,nb)·num): the filter-over-isect spelling was
      // pushed into the join condition AND kept in the projection — every
      // banded candidate (5.5M at sf0.1) paid two full merge scans plus
      // four array copies; the exact count now runs only on survivors
      .filter(NX.isectGeq(col("ha"), col("hb"), num, den))
      .withColumn("i", NX.isect(col("ha"), col("hb")))
      .withColumn("containment_e4", expr("i * 10000 div least(na, nb)"))
      .withColumn("jaccard_e4", expr("i * 10000 div (na + nb - i)"))
    val crossPairs = verified
      .select(explode(col("mem_a")).as("x"), col("mem_b"),
        col("na"), col("nb"), col("containment_e4"), col("jaccard_e4"))
      .repartition(col("x"))
      .select(col("x"), explode(col("mem_b")).as("y"),
        col("na"), col("nb"), col("containment_e4"), col("jaccard_e4"))
      .select(least(col("x"), col("y")).as("doc_a"),
        greatest(col("x"), col("y")).as("doc_b"),
        // sizes travel with their doc through the id swap
        when(col("x") < col("y"), col("na")).otherwise(col("nb")).as("na"),
        when(col("x") < col("y"), col("nb")).otherwise(col("na")).as("nb"),
        col("containment_e4"), col("jaccard_e4"))
    // identical sets: C = 1 by definition — block-pair self-join (the
    // minhashLshPairs machinery) spreads one big group's m²/2 expansion
    // over ~m parallel cells instead of one task
    val mem = sets.filter(col("m") > 1)
      .select(col("sid"), col("n"), explode(col("members")).as("x"),
        ceil(sqrt(col("m"))).cast("int").as("nblk"))
      .repartition(col("sid"), col("x"))
      .withColumn("p", pmod(xxhash64(col("x")), col("nblk")).cast("int"))
    val aSide = mem.select(col("sid"), col("n"), col("x").as("xa"),
      col("p").as("ka"), explode(sequence(col("p"), col("nblk") - 1)).as("kb"))
    val bSide = mem.select(col("sid"), col("x").as("xb"),
      explode(sequence(lit(0), col("p"))).as("ka"), col("p").as("kb"))
    val intraPairs = aSide
      .join(bSide, Seq("sid", "ka", "kb"))
      .filter(col("ka") =!= col("kb") || col("xa") < col("xb"))
      .select(least(col("xa"), col("xb")).as("doc_a"),
        greatest(col("xa"), col("xb")).as("doc_b"),
        col("n").as("na"), col("n").as("nb"),
        lit(10000L).as("containment_e4"), lit(10000L).as("jaccard_e4"))
    crossPairs.unionAll(intraPairs)
  }

  /** CONTAINMENT near-dup as an O(n)-output dedup DECISION — the production
    * form of [[containmentLshPairs]]. Emitting the pair LIST is inherently
    * output-bound (the 100× probe measured ~7e8 qualifying pairs and a
    * 25 GB presentation sort — the corpus's pair density, not the
    * algorithm's); the decision a curation pass actually consumes is one
    * row per CONTAINED doc: which (single, deterministic) container keeps
    * it out of the training set. Orientation: the smaller distinct-token
    * set is the contained side (C = |A∩B|/min is how much of the smaller
    * set the bigger one covers); equal sizes keep the smaller doc_id, the
    * x1 keeper convention. Best container = lexicographic max of
    * (containment, jaccard, −container_id) — a plain partial-aggregatable
    * `max(struct)`, so the pair stream collapses map-side BEFORE the one
    * hash exchange on doc_id and nothing global ever sorts pairs. Output
    * is ≤ one row per doc however the corpus grows.
    */
  private[graft] def containmentDedup(s: SparkSession, d0: DataFrame): DataFrame = {
    val p = containmentLshVerified(s, d0, 9, 10)
    p.select(
        when(col("na") < col("nb"), col("doc_a")).otherwise(col("doc_b"))
          .as("doc_id"),
        when(col("na") < col("nb"), col("doc_b")).otherwise(col("doc_a"))
          .as("container_id"),
        col("containment_e4"), col("jaccard_e4"))
      .groupBy("doc_id")
      .agg(
        max(struct(col("containment_e4"), col("jaccard_e4"),
          (-col("container_id")).as("neg_cid"))).as("b"),
        count(lit(1)).as("n_containers"))
      .select(col("doc_id"), (-col("b.neg_cid")).as("container_id"),
        col("b.containment_e4").as("containment_e4"),
        col("b.jaccard_e4").as("jaccard_e4"), col("n_containers"))
      .orderBy("doc_id")
  }

  /** The shared 5-iteration integer-e12 PageRank walk over an UNDIRECTED
    * pair list (`src`, `dst`) — the decisions step of all three x5_pagerank
    * forms. Edges are symmetrized and EAGERLY localCheckpointed: the loop
    * references them ~2× per unrolled iteration from independently-planned
    * stages, and a cache (lazy or count()-forced) still left the expensive
    * pair supply re-executing inside the loop (measured 36 s vs 20 s solo
    * at the 10× point); checkpointing severs the lineage so loop cost is
    * independent of which pair plan produced the edges. The rank frame is
    * deliberately NOT materialized per iteration (tiny; AQE broadcasts the
    * contribution joins, and a barrier per iteration measured 9.5 s vs
    * 2.4 s at sf0.1) — but pr appears twice per unrolled iteration, so the
    * lazy plan doubles per round: fine at 5, localCheckpoint per iteration
    * beyond 8.
    */
  private[graft] def pagerankE12(pairs: DataFrame): DataFrame = {
    // symmetrize in ONE pass over the pair supply (r13): the former
    // union(pairs, pairs.flipped) planned the UNPERSISTED supply twice, so
    // the eager checkpoint re-executed the whole pair-mining pipeline per
    // branch (measured: the x5_pagerank_contracted checkpoint carried 2×
    // the contraction chain). explode(array(fwd, rev)) reads it once —
    // identical row multiset.
    val edges = graft.Caches.labeled(pairs.sparkSession, "pagerank:edges-ckpt")(
      pairs
        .select(explode(array(
          struct(col("src"), col("dst")),
          struct(col("dst").as("src"), col("src").as("dst")))).as("e"))
        .select(col("e.src").as("src"), col("e.dst").as("dst"))
        .localCheckpoint(true))
    val deg = edges.groupBy("src").agg(count(lit(1)).as("deg"))
      .withColumnRenamed("src", "id")
    val tot = deg.agg(count(lit(1)).as("n"))
    val PagerankIters = 5
    require(PagerankIters <= 8,
      "unrolled-lineage pagerank: localCheckpoint per iteration beyond 8")
    var pr = deg.crossJoin(broadcast(tot))
      .withColumn("pr", expr("1000000000000 div n"))
    for (_ <- 1 to PagerankIters) {
      val contrib = pr.select(col("id").as("src"), expr("pr div deg").as("c"))
      val inc = edges.join(contrib, "src")
        .groupBy(col("dst").as("id")).agg(sum("c").as("inc"))
      pr = pr.drop("pr")
        .join(inc, Seq("id"), "left")
        .withColumn("pr", expr(
          "(1000000000000 div n) * 15 div 100 + coalesce(inc, 0) * 85 div 100"))
        .drop("inc")
    }
    pr.select(col("id").as("vec_id"), col("pr").as("pr_e12"))
  }

  /** Pairs→components→decisions: the shared step that turns a similarity
    * pair list into cluster labels. Vertices carry `id`; undirected edges
    * carry (`src`,`dst`); every vertex comes back labeled with its cluster
    * representative (min reachable id). Used by the LSH and embedding
    * cluster queries so the CC invocation + label projection live in one
    * place.
    */
  private[graft] def labelClusters(vertices: DataFrame, edges: DataFrame,
      outId: String): DataFrame =
    graft.operators.ConnectedComponents(vertices, edges)
      .select(col("id").as(outId), col("component").as("cluster_id"))

  /** Text near-dup dedup clustering over `d` (doc_id, text): tokenize, find
    * Jaccard >= 0.9 pairs, connected-components, label every doc with its
    * cluster representative. CC runs over DISTINCT SETS (~S nodes,
    * qualifying set pairs from [[bitsetSetsAndPairs]] as edges), not the
    * quadratically larger doc-pair graph — docs inherit their set's
    * component, and min-reachable-sid == min-reachable-doc-id since sid =
    * min doc of its set.
    */
  private[graft] def dedupClusters(s: SparkSession, d: DataFrame): DataFrame = {
    // shared: the funnel's containment leg tokenizes the same keepers
    val tok = graft.Caches.persistShared(d
      .select(col("doc_id"), explode(TF.tokenSet(col("text"))).as("w")))
    val (sets, pairs) = bitsetSetsAndPairs(tok, 0.9)
    val comp = graft.operators.ConnectedComponents(
      sets.select(col("sid").as("id")),
      pairs.filter(col("sa") =!= col("sb"))
        .select(col("sa").as("src"), col("sb").as("dst")))
    sets.join(comp, sets("sid") === comp("id"))
      .select(explode(col("ds")).as("doc_id"), col("component").as("cluster_id"))
  }

  /** The funnel's quality-gate predicate over a `text` column — ONE
    * definition shared by [[curationStages]] (batch) and
    * [[graft.streaming.Streams.curationPipelineSink]] (streaming), so the
    * two ingest gates are structurally incapable of diverging.
    */
  private[graft] def qualityPredicate: Column = {
    val toks = TF.tokens(col("text"))
    val stop = Seq("the", "a", "of", "and", "to", "in", "is", "it")
    // arrays_overlap, not filter(toks, isin): the HOF lambda evaluates
    // interpreted per token; the native overlap probe is codegen'd and
    // short-circuits on the first stopword (identical boolean — "at least
    // one stopword present")
    size(toks) >= 5 && arrays_overlap(toks, lit(stop.toArray))
  }

  /** DSIR feature rows over `d` (doc_id, text): one row per token carrying
    * the 1024-bucket hashed-unigram feature and the target-membership flag
    * (the corpus's own quality gate — DSIR's classic setup, where a cheap
    * seed heuristic defines the target distribution). ONE definition
    * shared by the batch x4_dsir query and the delta-table trainer the
    * streaming [[graft.streaming.Streams.dsirScreen]] consumes, so the
    * online and offline featurizations are structurally incapable of
    * diverging.
    */
  private[graft] def dsirTok(d: DataFrame): DataFrame = {
    // tgt is per-DOC, but computed inline it lands in a projection ABOVE
    // the explode (CollapseProject pushes it through the Generate) and
    // re-splits the text once per TOKEN row — measured as the dominant
    // cost of the whole DSIR pass at the 100x probe. A join against the
    // one-row-per-doc flag table pins it to exactly one evaluation per
    // doc; the flag table is ~10 B/doc, broadcast below the conf'd
    // threshold and an honest doc_id-keyed shuffle join beyond it
    // (byte-sized thresholds, the round-11 broadcast lesson).
    val flags = d.select(col("doc_id"), qualityPredicate.as("tgt"))
    // (doc_id, bool) + hashed-relation overhead ≈ 20 B/doc: the 64 MB
    // default admits ~3M docs — sized in BYTES, not docs, so the gate can't
    // approve a ~200 MB broadcast the way the old 10M-doc threshold could
    val bs = graft.Broadcasts.gate(d.sparkSession, "dsirFlags",
      graft.Caches.countOnce(d),
      rowBytes = 20, defaultBytes = 64L << 20)
    dsirBuckets(d)
      .join(bs(flags), "doc_id")
      .select(col("doc_id"), col("tgt"), col("b"))
  }

  /** The tgt-free half of [[dsirTok]]: (doc_id, bucket) per token. The
    * scoring leg of x4_dsir consumes THIS (it never reads tgt), so it pays
    * no flag join at all.
    */
  private[graft] def dsirBuckets(d: DataFrame): DataFrame =
    d.select(col("doc_id"),
        explode(NX.wordHash62(TF.tokens(col("text")))).as("h"))
      .select(col("doc_id"), expr("pmod(h, 1024)").as("b"))

  /** Per-bucket DSIR importance deltas from a [[dsirTok]] frame:
    * d_e6 = round(1e6 · (ln p̂_target(b) − ln p̂_raw(b))) with add-one
    * smoothing — integer micro-units BEFORE the per-doc sum, so the
    * aggregation is order-independent (the x4_lm_score precedent).
    */
  private[graft] def dsirDeltasFromTok(tok: DataFrame): DataFrame = {
    // cnt is <= 1024 rows but feeds TWO consumers (the totals and the
    // delta projection) — unpinned, `tot` re-executes the whole token
    // scan underneath it (a third corpus tokenization in x4_dsir)
    val cnt = graft.Caches.persist(
      tok.groupBy("b").agg(count(lit(1)).as("rc"),
        sum(when(col("tgt"), 1L).otherwise(0L)).as("tc")))
    val tot = cnt.agg(sum("rc").as("rn"), sum("tc").as("tn"))
    cnt.crossJoin(broadcast(tot))
      .select(col("b"), round((
        log((col("tc") + 1).cast("double") / (col("tn") + 1024).cast("double")) -
        log((col("rc") + 1).cast("double") / (col("rn") + 1024).cast("double")))
        * 1000000).cast("long").as("d_e6"))
  }

  /** Train the DSIR delta table on `d` and collect it for ONLINE scoring:
    * returns (bucket → d_e6, default d_e6 for buckets the training corpus
    * never produced — the add-one-smoothed value at zero counts, NOT 0).
    * Bounded by construction: ≤ 1024 rows ever reach the driver. This is
    * the offline half of a production DSIR deployment; the streaming
    * screen applies the frozen table per incoming document.
    */
  private[graft] def dsirDeltaMap(s: SparkSession, d: DataFrame)
      : (Map[Long, Long], Long) = {
    val tok = dsirTok(d)
    val m = dsirDeltasFromTok(tok).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val Array(rn, tn) = tok.agg(count(lit(1)),
      sum(when(col("tgt"), 1L).otherwise(0L))).head() match {
      case r => Array(r.getLong(0), r.getLong(1))
    }
    val default = math.round((
      math.log(1.0 / (tn + 1024).toDouble) -
      math.log(1.0 / (rn + 1024).toDouble)) * 1000000)
    (m, default)
  }

  /** The DSIR delta table as a DURABLE, ATOMICALLY-SWAPPABLE artifact —
    * the retrain protocol for a long-lived [[graft.streaming.Streams]]
    * DSIR screen. Storage is a [[graft.sources.Snapshot]] table (≤ 1025
    * rows: one per bucket plus the smoothed default under the reserved
    * bucket −1), so a retrain is `Snapshot.update`'s stage-then-CAS
    * pointer swap: readers of the previous generation are untouched, a
    * concurrent retrain loses the CAS loudly instead of interleaving, and
    * the screen adopts the new map at its next micro-batch without a
    * stream restart. [[dsirArtifactLoad]] resolves the pointer ONCE and
    * reads that generation, so a batch can never mix two generations'
    * deltas.
    */
  private[graft] def dsirArtifactFrame(s: SparkSession, d: DataFrame): DataFrame = {
    val (m, dflt) = dsirDeltaMap(s, d)
    import s.implicits._
    (m.toSeq.sortBy(_._1) :+ (-1L, dflt)).toDF("b", "d_e6")
  }

  private[graft] def dsirArtifactInit(s: SparkSession, d: DataFrame,
      path: String): Unit =
    graft.sources.Snapshot.init(s, path, dsirArtifactFrame(s, d))

  /** Retrain on `d` and swap atomically; returns the new generation. */
  private[graft] def dsirArtifactRetrain(s: SparkSession, d: DataFrame,
      path: String): Long =
    graft.sources.Snapshot.update(s, path)(_ => dsirArtifactFrame(s, d))

  /** Load (bucket → d_e6, default, generation) from the live artifact. */
  private[graft] def dsirArtifactLoad(s: SparkSession, path: String)
      : (Map[Long, Long], Long, Long) = {
    val gen = graft.sources.Snapshot.currentGen(path).getOrElse(
      throw new IllegalArgumentException(s"not a DSIR artifact: $path"))
    val rows = graft.sources.Snapshot.readAt(s, path, gen)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    (rows - (-1L), rows(-1L), gen)
  }

  /** LEARNED quality classifier — the shipped artifact of an offline
    * logistic-regression distillation of [[qualityPredicate]] (trained once
    * over the x4_hash_embed 32-bucket count features of the sf0.1 corpus;
    * 92% agreement with the gate it distills, measured at both SFs and
    * pinned in LlmSpec). Micro-unit integer weights, so inference is
    * EXACT integer arithmetic end to end and the oracle replays it from a
    * literal VALUES table. This is the fastText-style linear scorer a real
    * curation pipeline runs beside the heuristics; at 100 TB, inference is
    * one bucket-count aggregation + a 32-row broadcast — no vocabulary
    * state, no model server.
    */
  private[graft] val qualityClfWeights: Seq[Long] = Seq(
    0L, 570920L, -13426L, -2595L, 25684L, -69844L, 162238L, 0L,
    0L, 0L, 64658L, 12068L, -27222L, -5244L, 0L, 100237L,
    85072L, 527929L, 33906L, -11626L, -105083L, 0L, 0L, 0L,
    40539L, 111815L, 41787L, 0L, 0L, 0L, 76520L, 0L)
  private[graft] val qualityClfBias: Long = -1401090L

  /** Classifier inference over `d` (doc_id, text): (doc_id, logit_e6,
    * prob_e6, keep). logit_e6 = Σ w_b·cnt_b + bias in micro-units (exact
    * longs); prob_e6 is the fast-sigmoid fixed-point squash
    * 0.5 + z/(2(1+|z|)) — computed on |z| so Spark's truncating `div` and
    * DuckDB's flooring `//` agree; keep = logit >= 0.
    */
  private[graft] def qualityClassifierScores(s: SparkSession,
      d: DataFrame): DataFrame = {
    import s.implicits._
    val w = broadcast(qualityClfWeights.zipWithIndex
      .map { case (wt, p) => (p.toLong, wt) }.toDF("pos", "wt"))
    d.select(col("doc_id"),
        explode(NX.wordHash62(TF.tokens(col("text"))))
          .as("h"))
      .select(col("doc_id"), expr("pmod(h, 32)").as("pos"))
      .groupBy("doc_id", "pos").agg(count(lit(1)).as("cnt"))
      .join(w, "pos")
      .groupBy("doc_id")
      .agg((sum(col("cnt") * col("wt")) + lit(qualityClfBias)).as("logit_e6"))
      .withColumn("prob_e6", lit(500000L) +
        signum(col("logit_e6")).cast("long") *
          expr("(abs(logit_e6) * 500000) div (1000000 + abs(logit_e6))"))
      .withColumn("keep", col("logit_e6") >= 0)
      .select("doc_id", "logit_e6", "prob_e6", "keep")
  }

  /** The curation funnel's three gates over `d` (doc_id, text, ...), shared
    * by the x4_pipeline_funnel query and [[graft.tools.CurateMain]] so the
    * curated corpus a run writes can never diverge from the funnel counts
    * it reports beside it. Returns (quality survivors, exact-dedup keepers,
    * near-dup cluster representatives); each stage consumes the previous
    * stage's survivors. qual/keepers are persisted via [[graft.Caches]] —
    * callers drain after consuming. `useClassifier` adds the learned
    * scorer ([[qualityClassifierScores]]) as an additional stage-1 gate
    * (heuristic AND classifier) — the optional learned leg of the funnel;
    * the registered x4_pipeline_funnel keeps it off so the oracle contract
    * is unchanged.
    */
  private[graft] def curationStages(s: SparkSession, d: DataFrame,
      useClassifier: Boolean = false): (DataFrame, DataFrame, DataFrame) = {
    val gated =
      if (!useClassifier) d.filter(qualityPredicate)
      else d.filter(qualityPredicate).join(
        qualityClassifierScores(s, d).filter(col("keep"))
          .select("doc_id"), Seq("doc_id"), "left_semi")
    val qual = graft.Caches.persist(gated)
    // keeper per digest, text riding the SAME digest-keyed shuffle as the
    // aggregation payload (first() is deterministic: every text in an md5
    // group is identical) — vs groupBy+join-back, which would shuffle the
    // corpus a second time on doc_id. The cluster stage consumes survivor
    // text, so one text movement is inherent here.
    val keepers = graft.Caches.persist(
      qual.groupBy(md5(col("text")).as("h"))
        .agg(min("doc_id").as("doc_id"), first("text").as("text")))
    // persisted (r13): the containment funnel consumes reps twice (stage-4
    // count + the stage-5 anti-join input), and unpersisted each consumer
    // re-ran the cluster labeling chain; ~keeper-count rows, trivial cache
    val reps = graft.Caches.persist(
      dedupClusters(s, keepers.select("doc_id", "text"))
        .filter(col("doc_id") === col("cluster_id")))
    (qual, keepers, reps)
  }

  /** The funnel's CONTAINMENT stage: keepers in the SNIPPET regime —
    * ≥ `cT`-covered by a keeper AT LEAST 2× their distinct-token size. The
    * 2× size guard defines the stage's scope and is load-bearing twice
    * over:
    *
    *   - it structurally excludes near-dup pairs (container ≥ 2× forces
    *     Jaccard = i/(na+nb−i) ≤ 1/2): near-dups are the CC stage's job,
    *     and without the guard every cluster's CHAIN-mates (pairwise
    *     Jaccard < t but coverage ≥ t — pervasive in a dense near-dup
    *     corpus) would "contain" their own representative and whole
    *     clusters would vanish (measured: 76 of 90 keepers flagged on the
    *     test corpus without the guard, 8 planted snippets with it);
    *   - it is what "snippet of a bigger document" MEANS — a ≥90%-covered
    *     doc within 2× of its cover is an asymmetric near-copy carrying
    *     novel content, the near-dup family's territory, not redundancy.
    *
    * Containers are drawn from ALL keepers regardless of their own
    * downstream fate: a per-(pair) rule over token sets and sizes that
    * never changes once both docs exist, so a streaming pipeline applies
    * it MONOTONICALLY (keepers only accumulate — a later batch can add
    * rejections/retractions but never invalidate one), and batch and
    * stream decisions match on every prefix
    * ([[graft.streaming.Streams.curationPipelineSink]], pinned in
    * StreamingSpec). Candidates come from the same shared-token inverted
    * join as the funnel's near-dup stage; the 100 TB path swaps in the
    * LSH-Ensemble banding ([[containmentLshPairs]] — whose size strata are
    * this same 2× geometry) with identical verify semantics. Returns the
    * distinct `doc_id`s to reject.
    */
  private[graft] def curationContainmentRejects(keepers: DataFrame,
      cNum: Int = 9, cDen: Int = 10): DataFrame = {
    val s = keepers.sparkSession
    // tok is built over keepers.select("doc_id", "text") — the EXACT plan
    // shape [[curationStages]]'s cluster leg feeds dedupClusters — so the
    // two legs' persisted tokenizations and rarity-set frames are
    // canonically equal and Spark's cache manager (plus the countOnce
    // memo) shares one materialization across the whole funnel. Building
    // straight over `keepers` leaves an uncollapsed projection in the
    // analyzed plan and NOTHING shares (canonicalization does not run
    // CollapseProject).
    val tok = keepers.select("doc_id", "text").select(col("doc_id"),
      explode(TF.tokenSet(col("text"))).as("w"))
    // candidates from the DISPATCHED exact containment machinery (bitset /
    // prefix-filtered — the x2_containment engine), not a naive token
    // self-join: identical pair set, sub-quadratic candidate generation.
    // minRatio = 2 pushes the snippet gate's size guard into the set-level
    // candidate join, and the sized rows carry both docs' distinct-token
    // counts — the old form re-derived them with two count joins against
    // the GLOBALLY SORTED full C ≥ t pair list (millions of rows on a
    // dense near-dup corpus) to keep the few hundred ≥2×-gap pairs.
    containmentPairsSized(s, tok, cNum, cDen, minRatio = 2)
      .select(when(col("na") < col("nb"), col("doc_a"))
        .otherwise(col("doc_b")).as("doc_id"))
      .distinct()
  }

  /** FAISS-style DRIVER-side PQ codebook training over int8 component
    * vectors (m=16 subspaces x 4 dims, k=16 centroids, 2 Lloyd rounds):
    * seeds = the first k sample rows (callers pass vec_id-ordered
    * samples), strict-< argmin scanning cids ascending (= the oracle's
    * ROW_NUMBER over (d ASC, cid ASC)), means as math.floor(sum/cnt)
    * (= FLOOR(SUM/COUNT), exact at int8-sum magnitudes). The sample is
    * bounded by the caller — the same statistics-gated driver pattern as
    * ConnectedComponents' union-find. Returns the codebook as the
    * (sub, cid, pos, c) broadcast frame both x3_knn_pq and x3_knn_ivfpq
    * consume.
    */
  /** The trained codebook as the FLAT layout the native PQ kernels consume:
    * 1024 doubles at [sub][cid][pos] = sub·64 + cid·4 + pos. Training is
    * unchanged (driver-side Lloyd over the capped sample — identical
    * centroids to [[pqCodebookDf]], which is now a thin view of this).
    */
  private[graft] def pqCodebookFlat(s: SparkSession,
      sample: Array[Array[Double]]): Array[Double] = {
    val m = 16; val k = 16; val dsub = 4
    require(sample.length >= k, s"PQ needs >= $k training vectors")
    var cent = Array.tabulate(m, k, dsub)(
      (sub, cid, p) => sample(cid)(sub * dsub + p))
    for (_ <- 1 to 2) {
      val sums = Array.fill(m, k, dsub)(0L)
      val cnts = Array.fill(m, k)(0L)
      for (q8 <- sample; sub <- 0 until m) {
        var best = 0; var bestD = Double.MaxValue
        var cid = 0
        while (cid < k) {
          var d = 0.0; var p = 0
          while (p < dsub) {
            val t = q8(sub * dsub + p) - cent(sub)(cid)(p)
            d += t * t; p += 1
          }
          if (d < bestD) { bestD = d; best = cid } // strict <: min cid wins ties
          cid += 1
        }
        cnts(sub)(best) += 1
        var p = 0
        while (p < dsub) {
          sums(sub)(best)(p) += q8(sub * dsub + p).toLong; p += 1
        }
      }
      cent = Array.tabulate(m, k, dsub)((sub, cid, p) =>
        if (cnts(sub)(cid) == 0) cent(sub)(cid)(p)
        else math.floor(sums(sub)(cid)(p).toDouble / cnts(sub)(cid)))
    }
    (for (sub <- 0 until m; cid <- 0 until k; p <- 0 until dsub)
      yield cent(sub)(cid)(p)).toArray
  }

  private[graft] def pqCodebookDf(s: SparkSession,
      sample: Array[Array[Double]]): DataFrame = {
    val m = 16; val k = 16; val dsub = 4
    val flat = pqCodebookFlat(s, sample)
    import s.implicits._
    (for (sub <- 0 until m; cid <- 0 until k; p <- 0 until dsub)
      yield (sub.toLong, cid.toLong, p.toLong,
        flat(sub * k * dsub + cid * dsub + p)))
      .toDF("sub", "cid", "pos", "c")
  }

  /** The PQ trainer's BOUNDED deterministic sample — the statistics gate
    * that keeps codebook training driver-safe at any corpus size (the
    * pattern of `graft.cc.driverThreshold` / `graft.broadcast.ivfQueries`):
    * keep `vec_id % m == 0` with m = max(1, n/cap) to spread the sample
    * across the id range, then a hard `ORDER BY vec_id LIMIT cap` so the
    * collect is PROVABLY <= `graft.pq.trainSampleCap` rows (default 65536,
    * the FAISS-standard training bound — 4 MB of int8 components) no
    * matter how ids are distributed. Fully id-deterministic, so the
    * unrolled-CTE oracle replays the identical sample; below the cap
    * (every test SF) it degenerates to the full set, m = 1.
    */
  private[graft] def pqTrainSample(s: SparkSession, e8: DataFrame)
      : Array[Array[Double]] = {
    val cap = s.conf.getOption("graft.pq.trainSampleCap")
      .map(_.toInt).getOrElse(65536)
    val m = math.max(1L, graft.Caches.countOnce(e8) / cap)
    e8.filter(col("vec_id") % m === 0).orderBy("vec_id").limit(cap)
      .select("q8").collect().map(_.getSeq[Double](0).toArray)
  }

  /** Shared PQ build over `vecs` (vec_id, v; extra columns pass through
    * untouched on neither output): int8-quantize (x3_knn_int8's
    * floor(x+0.5) rule), train the codebook on the driver over the capped
    * deterministic sample ([[pqTrainSample]] -> [[pqCodebookDf]]), encode
    * every vector, and build the per-`% 50`-query ADC lookup table. ONE
    * definition consumed by x3_knn_pq and x3_knn_ivfpq so the quantization
    * rule, seed order, and code layout can never diverge between the flat
    * and the IVF-routed search.
    * Returns (codes (vec_id, sub, cid), qd (query_id, sub, cid, d)).
    */
  private def pqBuild(s: SparkSession, vecs: DataFrame)
      : (DataFrame, DataFrame) = {
    val maxabs = array_max(transform(col("v"), x => abs(x)))
    val e8 = graft.Caches.persist(vecs
      .withColumn("ma", when(maxabs === 0.0, 1.0).otherwise(maxabs))
      .select(col("vec_id"), transform(col("v"),
        x => floor(x * lit(127.0) / col("ma") + 0.5).cast("double"))
        .as("q8")))
    // the trained codebook rides as a 1024-double LITERAL (it was already
    // driver-resident after training) and encode/table-build become ONE
    // native pass per row. The prior relational shape — posexplode to
    // (vec, sub, pos) rows, broadcast-join the codebook, 16-way aggregate,
    // rank window — streamed 64·16 rows per vector through a 20M-group
    // sort-based aggregation and dominated the whole PQ search 10:1 at the
    // 100x probe. Every distance is an exact integer in doubles, so codes
    // and tables are bit-identical to the relational form (the ties rule —
    // strict <, min cid — is the trainer's own; NativeKernelsSpec
    // cross-checks against the relational reference).
    val cbLit = typedLit(pqCodebookFlat(s, pqTrainSample(s, e8)).toSeq)
    val codes = e8.select(col("vec_id"),
      NX.pqEncode(col("q8"), cbLit).as("code"))
    // ADC: per-query 256-entry lookup table (subvector -> every centroid);
    // query set bounded by the fixed budget (knnQueryStride), never q ∝ n
    val qtabs = e8.filter(col("vec_id") % knnQueryStride(graft.Caches.countOnce(e8)) === 0)
      .select(col("vec_id").as("query_id"),
        NX.pqQueryTable(col("q8"), cbLit).as("qtab"))
    (codes, qtabs)
  }

  /** BPE merge training (Sennrich et al., ACL'16) over a `(w, freq)` word
    * table: `iters` rounds of (count adjacent symbol pairs weighted by word
    * frequency → argmax with (count desc, pair) tie-break → greedy
    * left-to-right non-overlapping merge apply). Returns the merge table
    * (merge_no, left_sym, right_sym, pair_count) — the artifact a tokenizer
    * trainer persists. The merge apply is relational (windows over word
    * partitions), never a driver loop: within each maximal run of
    * consecutive matching positions (possible only when left==right, e.g.
    * "aaaa" under (a,a)), greedy keeps the even offsets — gaps-and-islands.
    * The argmax rides a 1-row broadcast; per-iteration state is persisted
    * (Caches) so lineage never replans the whole chain. State size is the
    * VOCABULARY's total symbol count, independent of corpus size.
    */
  private[graft] def bpeMerges(words: DataFrame, iters: Int): DataFrame =
    bpeTrain(words, iters)._1

  /** The BPE corpus word table (distinct words + corpus frequency) shared
    * by the x4_bpe_merges trainer and the x4_bpe_apply tokenizer report.
    */
  private def bpeWords(s: SparkSession, dir: String): DataFrame =
    docs(s, dir)
      .select(explode(TF.tokens(col("text"))).as("w"))
      .filter(length(col("w")) > 0)
      .groupBy("w").agg(count(lit(1)).as("freq"))

  /** Shared DuckDB oracle prefix for the BPE pair: the word table, the
    * initial per-character symbol stream s0, and five unrolled
    * count->argmax->greedy-merge iterations ending in s5 (with best0..4 as
    * the merge picks). Trainer and apply both consume it, so their oracles
    * can never drift from each other.
    */
  private lazy val bpeOracleCtes: String = {
    val init = """WITH words AS (SELECT w AS word_id, CAST(COUNT(*) AS BIGINT) AS freq
                 |  FROM (SELECT unnest(string_split(text,' ')) AS w FROM documents)
                 |  WHERE w <> '' GROUP BY w),
                 |s0 AS (SELECT word_id, freq, pos, string_split(word_id,'')[pos] AS sym
                 |  FROM (SELECT word_id, freq,
                 |      unnest(range(1, len(string_split(word_id,'')) + 1)) AS pos
                 |    FROM words))""".stripMargin
    val iters = (0 until 5).map { k =>
      s"""p$k AS (SELECT word_id, freq, pos, sym,
         |    lead(sym) OVER (PARTITION BY word_id ORDER BY pos) AS nxt FROM s$k),
         |best$k AS (SELECT sym AS a, nxt AS b, CAST(SUM(freq) AS BIGINT) AS cnt
         |  FROM p$k WHERE nxt IS NOT NULL GROUP BY 1, 2
         |  ORDER BY cnt DESC, a, b LIMIT 1),
         |m$k AS (SELECT p.*, best.a, best.b,
         |    CASE WHEN p.sym = best.a AND p.nxt = best.b THEN 1 ELSE 0 END AS hit
         |  FROM p$k p LEFT JOIN best$k best ON TRUE),
         |i$k AS (SELECT *, pos - row_number() OVER (
         |    PARTITION BY word_id, hit ORDER BY pos) AS island FROM m$k),
         |e$k AS (SELECT *, CASE WHEN hit = 1 AND (row_number() OVER (
         |    PARTITION BY word_id, hit, island ORDER BY pos) - 1) % 2 = 0
         |    THEN 1 ELSE 0 END AS mh FROM i$k),
         |c$k AS (SELECT *, COALESCE(lag(mh) OVER (
         |    PARTITION BY word_id ORDER BY pos), 0) AS consumed FROM e$k),
         |s${k + 1} AS (SELECT word_id, freq,
         |    row_number() OVER (PARTITION BY word_id ORDER BY pos) AS pos,
         |    CASE WHEN mh = 1 THEN a || b ELSE sym END AS sym
         |  FROM c$k WHERE consumed = 0)""".stripMargin
    }.mkString(",\n", ",\n", "\n")
    init + iters
  }

  /** Full BPE training state: the merge table AND the final symbol stream
    * (every word's subword decomposition after `iters` merges) — the
    * latter IS the applied tokenizer, consumed by x4_bpe_apply.
    */
  private[graft] def bpeTrain(words: DataFrame, iters: Int)
      : (DataFrame, DataFrame) = {
    var syms = graft.Caches.persist(words.select(
      col("w").as("word_id"), col("freq"),
      posexplode(split(col("w"), ""))).toDF("word_id", "freq", "pos0", "sym")
      .select(col("word_id"), col("freq"),
        (col("pos0") + 1).as("pos"), col("sym")))
    val byPos = Window.partitionBy("word_id").orderBy("pos")
    var merges: DataFrame = null
    for (k <- 1 to iters) {
      val p = syms.withColumn("nxt", lead("sym", 1).over(byPos))
      // EAGER localCheckpoint on the 1-row argmax (r13): `best` is consumed
      // twice per iteration (the broadcast merge join AND the merge-table
      // row), and lazily each consumer re-ran the whole window+agg pass
      // over the cached stream; worse, the merge table's lineage nested
      // every prior iteration's plan, so Catalyst re-optimized a tree that
      // grew per iteration. Checkpointing pins one row and truncates both.
      val best = p.filter(col("nxt").isNotNull)
        .groupBy(col("sym").as("a"), col("nxt").as("b"))
        .agg(sum("freq").as("cnt"))
        .orderBy(col("cnt").desc, col("a"), col("b")).limit(1)
        .localCheckpoint(true)
      // LEFT join on true, not crossJoin: once the pair vocabulary is
      // exhausted `best` is EMPTY, and a cross join would silently erase
      // the whole symbol stream — with the left join a/b are null, no
      // position is a hit, and the stream passes through unchanged (the
      // oracle mirrors this with LEFT JOIN ON TRUE).
      // Greedy even-offset selection within each maximal run of consecutive
      // hits, in ONE window key (r13): the former (word_id, hit) /
      // (word_id, hit, island) row_number partitions forced two extra
      // full sorts of the stream per iteration (hash(word_id) satisfies
      // the distribution, but each window still re-sorts). Positions are
      // consecutive within a word (posexplode / row_number renumber), so
      // the ordinal of a hit row inside its maximal run is pos − runStart,
      // with runStart = the latest position where a run began (hit = 1,
      // previous row not a hit) — a running max over the SAME (word_id ×
      // pos) frame every other step already uses. mh ⟺ even run offset,
      // exactly the old (row_number within island − 1) % 2 == 0.
      val runFrame = byPos.rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val m = p.join(broadcast(best), lit(true), "left")
        .withColumn("hit",
          when(col("sym") === col("a") && col("nxt") === col("b"), 1)
            .otherwise(0))
        .withColumn("prevHit", lag("hit", 1, 0).over(byPos))
        .withColumn("runStart", max(when(col("hit") === 1 &&
          col("prevHit") === 0, col("pos"))).over(runFrame))
        .withColumn("mh", when(col("hit") === 1 &&
          (col("pos") - col("runStart")) % 2 === 0, 1).otherwise(0))
        .withColumn("consumed", lag("mh", 1, 0).over(byPos))
      syms = graft.Caches.persist(m.filter(col("consumed") === 0)
        .select(col("word_id"), col("freq"),
          row_number().over(byPos).as("pos"),
          when(col("mh") === 1, concat(col("a"), col("b")))
            .otherwise(col("sym")).as("sym")))
      val step = best.select(lit(k).as("merge_no"), col("a").as("left_sym"),
        col("b").as("right_sym"), col("cnt").as("pair_count"))
      merges = if (merges == null) step else merges.unionAll(step)
    }
    (merges, syms)
  }

  /** Lexical token-set-Jaccard top-k retrieval (query docs vs the corpus) —
    * the lexical leg of x3_rrf_fusion, ranked on the integer-floored e9
    * quotient with neighbor-id tie-break so the order is engine-exact.
    * Adaptive like the containment dispatch: on a vocabulary of at most
    * `SmallVocab` tokens [[lexicalMaskScores]] streams the broadcast query
    * masks over the corpus scan (a closed vocabulary makes the posting
    * join quadratic-ish per token); on open vocabularies the
    * term-at-a-time [[lexicalPostingScores]] is the classic
    * sparse-retrieval shape. Both scorers produce identical rows (LlmSpec
    * runs both on one corpus).
    */
  private[graft] def lexicalJaccardTopK(s: SparkSession, d: DataFrame,
      queryPred: Column, k: Int): DataFrame = {
    val tok = lexicalTokens(d)
    val vocabSize = graft.Caches.countOnce(tok.select("w").distinct())
    val scored =
      if (vocabSize <= SmallVocab) lexicalMaskScores(tok, vocabSize, queryPred)
      else lexicalPostingScores(tok, queryPred)
    val wl = Window.partitionBy("query_id").orderBy(desc("jr_e9"), asc("neighbor_id"))
    scored.withColumn("rank_lex", row_number().over(wl).cast("long"))
      .filter(col("rank_lex") <= k)
      .select(col("query_id"), col("neighbor_id"), col("rank_lex"))
  }

  /** Persisted (doc_id, w, nt) token rows of `d`: one row per distinct
    * token, nt the doc's distinct-token count.
    */
  private[graft] def lexicalTokens(d: DataFrame): DataFrame =
    // tokenize ONCE into a projected column below the Generate (r14): a
    // select mixing explode(tokenSet(text)) with size(tokenSet(text))
    // evaluates the sibling expression per EXPLODED row — ~|tokens|
    // tokenizations per doc (measured 0.85 vs 0.17 s for this frame at
    // sf0.1); the pre-projected column is computed once per input row
    graft.Caches.persist(
      d.select(col("doc_id"), TF.tokenSet(col("text")).as("ts"))
        .select(col("doc_id"), explode(col("ts")).as("w"),
          size(col("ts")).cast("long").as("nt")))

  /** Mask scorer over [[lexicalTokens]] rows: each doc becomes a bitmask
    * over the `vocabSize`-token vocabulary and the |Q| broadcast query
    * masks stream codegen'd popcounts over the corpus scan — |C|·|Q| cheap
    * rows, no token fanout. Rows (query_id, neighbor_id, jr_e9) for every
    * pair sharing a token.
    */
  private[graft] def lexicalMaskScores(tok: DataFrame, vocabSize: Long,
      queryPred: Column): DataFrame = {
    val words = ((vocabSize + 63) / 64).toInt
    // single-partition vocab window is fine: <= SmallVocab rows by dispatch
    val wv = Window.orderBy("w")
    val idx = tok.select("w").distinct()
      .select(col("w"), (row_number().over(wv) - 1).cast("long").as("i"))
    val masks = graft.Caches.persist(tok.join(broadcast(idx), "w")
      .groupBy("doc_id")
      .agg(NX.mask(collect_list("i"), words).as("mask"),
        count(lit(1)).as("n")))
    val q = masks.filter(queryPred)
      .select(col("doc_id").as("query_id"), col("mask").as("qmask"),
        col("n").as("nq"))
    masks.join(broadcast(q), col("doc_id") =!= col("query_id"))
      .withColumn("i", NX.maskIsect(col("mask"), col("qmask")))
      .filter(col("i") > 0)
      .select(col("query_id"), col("doc_id").as("neighbor_id"),
        expr("i * 1000000000L div (n + nq - i)").as("jr_e9"))
  }

  /** Posting scorer over [[lexicalTokens]] rows: term-at-a-time posting
    * intersection (explode + equi-join on the token + partial-aggregated
    * pair counts). Same rows as [[lexicalMaskScores]].
    */
  private[graft] def lexicalPostingScores(tok: DataFrame,
      queryPred: Column): DataFrame = {
    val qtok = tok.filter(queryPred)
      .select(col("doc_id").as("query_id"), col("w"), col("nt").as("nq"))
    tok.join(broadcast(qtok), Seq("w"))
      .filter(col("doc_id") =!= col("query_id"))
      .groupBy(col("query_id"), col("doc_id").as("neighbor_id"))
      .agg(count(lit(1)).as("i"), max("nt").as("nd"), max("nq").as("nq"))
      .select(col("query_id"), col("neighbor_id"),
        expr("i * 1000000000L div (nq + nd - i)").as("jr_e9"))
  }

  /** Substring-level duplicate profile behind x1_span_dedup (exposed so
    * LlmSpec can run it on planted fixtures): per doc, how many of its
    * 8-token windows occur at >=2 positions anywhere in `d`. One
    * hash-partitioned exchange on the 8-byte span digest (the occurrence
    * count is a window over that exchange), then a per-doc re-aggregation.
    */
  private[graft] def spanDedup(s: SparkSession, d: DataFrame): DataFrame = {
    val spans = d.select(col("doc_id"),
      posexplode(NX.spanHashes(TF.tokens(col("text")), 8)).as(Seq("pos", "h")))
    val byHash = Window.partitionBy("h")
    spans
      .withColumn("occ", count(lit(1)).over(byHash))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_spans"),
        sum(when(col("occ") >= 2, 1L).otherwise(0L)).as("n_dup_spans"))
      // share in exact e4 units (integer floor-div — cross-engine
      // ROUND-on-quotient is tie-unstable, x4_quality precedent)
      .withColumn("dup_share_e4",
        (col("n_dup_spans") * 10000 / col("n_spans")).cast("long"))
      .orderBy("doc_id")
  }

  /** DuckDB oracle for x5_pagerank (and its LSH-edge variant): the same
    * fixed-point-free 5-iteration integer PageRank, unrolled as chained
    * CTEs (it1..it5), each iteration textually identical to the Spark loop
    * body — both engines do the same floor divisions in the same order, so
    * the ranks hash-match exactly. `pairsCtes` supplies the edge source as
    * one or more CTE definitions ending in `pairs(va, vb)`.
    */
  private def pagerankOracleWith(pairsCtes: String): String = {
    val iters = (1 to 5).map { i =>
      s"""it$i AS (SELECT d.id, d.deg, d.n,
         |  (1000000000000 // d.n) * 15 // 100 + COALESCE(s.inc, 0) * 85 // 100 AS pr
         |FROM it${i - 1} d LEFT JOIN (
         |  SELECT e.dst AS id, CAST(SUM(p.pr // p.deg) AS BIGINT) AS inc
         |  FROM edges e JOIN it${i - 1} p ON e.src = p.id GROUP BY e.dst) s USING (id))"""
        .stripMargin
    }.mkString(",\n")
    s"""WITH $pairsCtes,
       |edges AS (SELECT va AS src, vb AS dst FROM pairs
       |          UNION ALL SELECT vb, va FROM pairs),
       |deg AS (SELECT src AS id, COUNT(*) AS deg FROM edges GROUP BY src),
       |it0 AS (SELECT id, deg, (SELECT COUNT(*) FROM deg) AS n,
       |        1000000000000 // (SELECT COUNT(*) FROM deg) AS pr FROM deg),
       |$iters
       |SELECT id AS vec_id, pr AS pr_e12 FROM it5 ORDER BY vec_id""".stripMargin
  }

  private val pagerankOracle: String = pagerankOracleWith(
    """pairs AS (SELECT a.vec_id AS va, b.vec_id AS vb
      |  FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
      |  WHERE list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
      |          CAST(b.embedding AS DOUBLE[])) >= 0.35)""".stripMargin)

  /** The hyperplane-LSH candidate CTE chain for the `_lsh` graph variants:
    * replays NX.hyperplaneBands (quantized-integer sign projections —
    * deterministic portable arithmetic) under the SAME statistics-gated
    * geometry as [[hyperplaneEdgeGeometry]] — bits = max(8,
    * bitlength((n−1) div 32)) and bands = 16/32, both derived from
    * COUNT(*) with integer to_base arithmetic, so the two engines can
    * never disagree about the layout — and emits `pairs(va, vb)` =
    * band-colliding pairs verified at exact cosine ≥ `t`. Shared by the
    * pagerank and semdedup LSH oracles so the candidate replay is
    * textually identical.
    */
  private def hyperplanePairsCtes(t: Double, extraPred: String = ""): String =
    s"""geo AS (
       |  SELECT bits, CASE WHEN bits <= 8 THEN 16 ELSE 32 END AS bands
       |  FROM (SELECT GREATEST(8, length(to_base(
       |          GREATEST((COUNT(*) - 1) // 32, 1), 2))) AS bits
       |        FROM embeddings)),
       |dim AS (
       |  SELECT vec_id, embedding,
       |         unnest(generate_series(1, len(embedding))) AS d
       |  FROM embeddings),
       |qd AS (
       |  SELECT vec_id, d - 1 AS d0,
       |         CAST(FLOOR(CAST(embedding[d] AS DOUBLE) * 1000000) AS BIGINT) AS q
       |  FROM dim),
       |bits AS (SELECT unnest(range(0,
       |    (SELECT bands * bits FROM geo))) AS j),
       |proj AS MATERIALIZED (
       |  SELECT qd.vec_id, b.j,
       |         SUM(CASE WHEN ((1000003 * (b.j * 4096 + qd.d0) * (b.j * 4096 + qd.d0)
       |                         + 7919 * (b.j * 4096 + qd.d0) + 17)
       |                        % 2147483647) % 2 = 0
       |                  THEN qd.q ELSE -qd.q END) AS p
       |  FROM qd CROSS JOIN bits b GROUP BY 1, 2),
       |bnd AS MATERIALIZED (
       |  SELECT vec_id, j // (SELECT bits FROM geo) AS b,
       |         SUM(CASE WHEN p >= 0
       |             THEN 1 << CAST(j % (SELECT bits FROM geo) AS INT)
       |             ELSE 0 END) AS bv
       |  FROM proj GROUP BY 1, 2),
       |cand AS MATERIALIZED (
       |  SELECT DISTINCT a.vec_id AS va, b2.vec_id AS vb
       |  FROM bnd a JOIN bnd b2
       |    ON a.b = b2.b AND a.bv = b2.bv AND a.vec_id < b2.vec_id),
       |ham AS MATERIALIZED (
       |  SELECT c.va, c.vb FROM cand c
       |  JOIN bnd x ON x.vec_id = c.va
       |  JOIN bnd y ON y.vec_id = c.vb AND y.b = x.b
       |  GROUP BY c.va, c.vb
       |  HAVING CAST(SUM(bit_count(xor(x.bv, y.bv))) AS BIGINT) <=
       |    CASE (SELECT bits FROM geo)
       |      ${(8 to 24).map(b =>
              s"WHEN $b THEN ${hyperplaneMaxDisagree(t, b)}")
              .mkString("\n       |      ")}
       |      ELSE 0 END),
       |pairs AS (SELECT va, vb FROM ham
       |  JOIN embeddings ea ON ea.vec_id = va
       |  JOIN embeddings eb ON eb.vec_id = vb
       |  WHERE list_cosine_similarity(CAST(ea.embedding AS DOUBLE[]),
       |          CAST(eb.embedding AS DOUBLE[])) >= $t$extraPred)""".stripMargin

  /** DuckDB oracle for x5_pagerank_contracted: all-pairs sims → 0.98
    * contraction via recursive-CTE reachability (min reachable id = the
    * representative, the same label ConnectedComponents emits) → max-sim
    * contracted edges → top-4-per-endpoint degree cap (either endpoint
    * keeps the edge) → the identical 5 unrolled integer-e12 iterations as
    * [[pagerankOracle]].
    */
  private val pagerankContractedOracle: String = {
    val iters = (1 to 5).map { i =>
      s"""it$i AS (SELECT d.id, d.deg, d.n,
         |  (1000000000000 // d.n) * 15 // 100 + COALESCE(s.inc, 0) * 85 // 100 AS pr
         |FROM it${i - 1} d LEFT JOIN (
         |  SELECT e.dst AS id, CAST(SUM(p.pr // p.deg) AS BIGINT) AS inc
         |  FROM edges e JOIN it${i - 1} p ON e.src = p.id GROUP BY e.dst) s USING (id))"""
        .stripMargin
    }.mkString(",\n")
    s"""WITH RECURSIVE
       |p0 AS (SELECT a.vec_id AS va, b.vec_id AS vb,
       |    list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
       |      CAST(b.embedding AS DOUBLE[])) AS sim
       |  FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id),
       |-- MATERIALIZED: the unrolled iterations reference their upstream
       |-- twice per level; inlined, the all-pairs scan would be replayed
       |-- 2^5 times (measured OOM at sf0.1)
       |pairs AS MATERIALIZED (SELECT va, vb, sim FROM p0 WHERE sim >= 0.35),
       |de AS (SELECT va AS a, vb AS b FROM pairs WHERE sim >= 0.98
       |       UNION ALL SELECT vb, va FROM pairs WHERE sim >= 0.98),
       |reach(a, b) AS (
       |  SELECT vec_id, vec_id FROM embeddings
       |  UNION
       |  SELECT reach.a, e.b FROM reach JOIN de e ON reach.b = e.a),
       |rep AS MATERIALIZED (SELECT a AS id, MIN(b) AS r FROM reach GROUP BY a),
       |csize AS (SELECT r, CAST(COUNT(*) AS BIGINT) AS n_members
       |          FROM rep GROUP BY r),
       |ce AS (SELECT LEAST(ra.r, rb.r) AS a, GREATEST(ra.r, rb.r) AS b,
       |         MAX(sim) AS w
       |       FROM pairs JOIN rep ra ON ra.id = pairs.va
       |                  JOIN rep rb ON rb.id = pairs.vb
       |       WHERE ra.r <> rb.r GROUP BY 1, 2),
       |dirr AS (SELECT a AS src, b AS dst, w FROM ce
       |         UNION ALL SELECT b, a, w FROM ce),
       |kept AS (SELECT DISTINCT LEAST(src, dst) AS a, GREATEST(src, dst) AS b
       |         FROM (SELECT src, dst, ROW_NUMBER() OVER (PARTITION BY src
       |                 ORDER BY w DESC, dst) AS rk FROM dirr)
       |         WHERE rk <= 4),
       |edges AS MATERIALIZED (SELECT a AS src, b AS dst FROM kept
       |          UNION ALL SELECT b, a FROM kept),
       |deg AS MATERIALIZED (SELECT src AS id, COUNT(*) AS deg
       |          FROM edges GROUP BY src),
       |it0 AS (SELECT id, deg, (SELECT COUNT(*) FROM deg) AS n,
       |        1000000000000 // (SELECT COUNT(*) FROM deg) AS pr FROM deg),
       |$iters
       |SELECT d.id AS vec_id, c.n_members, d.pr AS pr_e12
       |FROM it5 d JOIN csize c ON c.r = d.id ORDER BY vec_id""".stripMargin
  }

  /** DuckDB oracle for x3_mmr_rerank: the same greedy MMR selection,
    * unrolled — sel1 is the top-relevance pick, each further pick i is one
    * CTE that scores the not-yet-selected candidates against all{i-1} with
    * the identical integer arithmetic and tie-break as the Spark loop body.
    */
  private val mmrOracle: String = {
    val blocks = (2 to 5).map { i =>
      s"""sel$i AS (SELECT query_id, cid, CAST($i AS BIGINT) AS pick FROM (
         |  SELECT c.query_id, c.cid,
         |    ROW_NUMBER() OVER (PARTITION BY c.query_id
         |      ORDER BY (7 * c.rel_e9) // 10 - (3 * m.ms) // 10 DESC, c.cid) AS rn
         |  FROM cand c
         |  JOIN (SELECT p.query_id, p.ca AS cid, CAST(MAX(p.sim_e9) AS BIGINT) AS ms
         |        FROM psim p JOIN all${i - 1} s ON p.query_id = s.query_id AND p.cb = s.cid
         |        GROUP BY 1, 2) m ON c.query_id = m.query_id AND c.cid = m.cid
         |  WHERE NOT EXISTS (SELECT 1 FROM all${i - 1} s2
         |                    WHERE s2.query_id = c.query_id AND s2.cid = c.cid)
         |  ) WHERE rn = 1),
         |all$i AS (SELECT * FROM all${i - 1} UNION ALL SELECT * FROM sel$i)"""
        .stripMargin
    }.mkString(",\n")
    s"""WITH cand AS (SELECT query_id, cid, rel_e9, rk FROM (
       |  SELECT q.vec_id AS query_id, n.vec_id AS cid,
       |    CAST(FLOOR((list_cosine_similarity(CAST(q.embedding AS DOUBLE[]),
       |           CAST(n.embedding AS DOUBLE[])) + 1) * 1000000000) AS BIGINT) AS rel_e9,
       |    ROW_NUMBER() OVER (PARTITION BY q.vec_id
       |      ORDER BY list_cosine_similarity(CAST(q.embedding AS DOUBLE[]),
       |               CAST(n.embedding AS DOUBLE[])) DESC, n.vec_id) AS rk
       |  FROM embeddings q JOIN embeddings n ON n.vec_id != q.vec_id
       |  WHERE q.vec_id % QSTRIDE = 0) WHERE rk <= 20),
       |psim AS (SELECT a.query_id, a.cid AS ca, b.cid AS cb,
       |  CAST(FLOOR((list_cosine_similarity(CAST(ea.embedding AS DOUBLE[]),
       |         CAST(eb.embedding AS DOUBLE[])) + 1) * 1000000000) AS BIGINT) AS sim_e9
       | FROM cand a JOIN cand b ON a.query_id = b.query_id AND a.cid != b.cid
       | JOIN embeddings ea ON ea.vec_id = a.cid
       | JOIN embeddings eb ON eb.vec_id = b.cid),
       |sel1 AS (SELECT query_id, cid, CAST(1 AS BIGINT) AS pick FROM cand WHERE rk = 1),
       |all1 AS (SELECT * FROM sel1),
       |$blocks
       |SELECT query_id, cid, pick FROM all5 ORDER BY query_id, pick""".stripMargin
  }

  val all: Seq[Q] = Seq(

    // ---- X1 exact dedup: keep-min-id per (lang, n_chars) group
    Q("x1_dedup_exact",
      (s, dir) =>
        docs(s, dir)
          .groupBy("lang", "n_chars")
          .agg(min("doc_id").as("keeper_id"), count(lit(1)).as("n_dups"))
          .orderBy("lang", "n_chars"),
      Some("""SELECT lang, n_chars, MIN(doc_id) AS keeper_id, COUNT(*) AS n_dups
             |FROM documents GROUP BY lang, n_chars ORDER BY lang, n_chars""".stripMargin)),

    // ---- X1 dedup stats over exact text equality
    Q("x1_dedup_stats",
      (s, dir) =>
        docs(s, dir).agg(
          count(lit(1)).as("n_docs"),
          // distinct-count the 128-bit DIGEST, not the body: the distinct
          // aggregate's shuffle then carries 16-byte keys instead of whole
          // documents (same digest-key argument as x1_dedup_normalized —
          // the oracle counts DISTINCT text directly; counts agree, md5
          // collisions being vanishingly improbable)
          countDistinct(md5(col("text"))).as("n_unique_texts"),
          countDistinct(col("lang")).as("n_langs")),
      Some("""SELECT COUNT(*) AS n_docs, COUNT(DISTINCT text) AS n_unique_texts,
             |  COUNT(DISTINCT lang) AS n_langs FROM documents""".stripMargin)),

    // ---- X1 normalized exact dedup: lowercase + collapse every
    // non-alphanumeric run to one space before hashing — the near-exact
    // normalization pass corpus curation runs before fuzzy dedup (C4,
    // Raffel et al. 2020, dedups on normalized spans; here the whole doc).
    // Catches the trivial variants exact equality misses (case, punctuation,
    // whitespace). Same scale shape as exact dedup: one partial-aggregated
    // groupBy on the normalized key.
    Q("x1_dedup_normalized",
      (s, dir) =>
        docs(s, dir)
          .withColumn("norm",
            trim(regexp_replace(lower(col("text")), "[^a-z0-9]+", " ")))
          // group on a 128-bit DIGEST of the normalized text, not the text:
          // the groupBy shuffle then carries (16-byte key, length, partials)
          // per distinct doc instead of whole document bodies — at 100 TB
          // that is the difference between shuffling kilobytes and 20 bytes
          // per row (the oracle groups by norm directly; groups are
          // identical, md5 collisions being vanishingly improbable — the
          // same digest-keyed dedup every production C4-style pass runs)
          .groupBy(md5(col("norm")).as("h"), length(col("norm")).as("norm_len"))
          .agg(min("doc_id").as("keeper_id"), count(lit(1)).as("n_dups"))
          .select(col("keeper_id"), col("n_dups"), col("norm_len"))
          .orderBy("keeper_id"),
      Some("""SELECT MIN(doc_id) AS keeper_id, COUNT(*) AS n_dups,
             |  LENGTH(norm) AS norm_len
             |FROM (SELECT doc_id,
             |        TRIM(regexp_replace(LOWER(text), '[^a-z0-9]+', ' ', 'g')) AS norm
             |      FROM documents)
             |GROUP BY norm ORDER BY keeper_id""".stripMargin)),

    // ---- X1 SUBSTRING-level duplicate detection (the ExactSubstr pass of
    // Lee et al. 2022, "Deduplicating Training Data Makes Language Models
    // Better", at token granularity): a doc can be globally unique yet be
    // assembled from spans copied verbatim from other docs — doc-level
    // exact/near dedup never sees it. Every 8-token window gets a PORTABLE
    // positional rolling hash (NX.spanHashes, one compiled pass/doc);
    // a window value occurring at >=2 positions anywhere in the corpus is a
    // repeated substring, and each doc reports its duplicated-window share —
    // the statistic the span-removal/filter decision consumes. Scale shape:
    // posexplode -> ONE hash-partitioned exchange on the span hash (the
    // occurrence count is a partition-local window over that exchange, and
    // spans are 8-byte digests, never text) -> re-aggregate per doc. Corpus
    // size scales the exchange linearly in span count; nothing is pairwise.
    // The suffix-array machinery of the paper is an index replacement for
    // this same hash-bucket join; the hash formulation is the shuffle-
    // friendly equivalent (fixed k instead of longest-match).
    Q("x1_span_dedup",
      (s, dir) => spanDedup(s, docs(s, dir)),
      Some("""WITH w AS (SELECT doc_id, string_split(text,' ') AS ws FROM documents),
             |wh AS (SELECT doc_id, [
             |    (list_reduce([CAST(0 AS BIGINT)] ||
             |       [CAST(unicode(c) AS BIGINT) FOR c IN string_split(x,'')],
             |       (a,b) -> (a*31+b) % 1000000007) * 2147483648 +
             |     list_reduce([CAST(0 AS BIGINT)] ||
             |       [CAST(unicode(c) AS BIGINT) FOR c IN string_split(x,'')],
             |       (a,b) -> (a*131+b) % 2147483647)) FOR x IN ws] AS hws FROM w),
             |sp AS (SELECT doc_id, [
             |    (list_reduce([CAST(0 AS BIGINT)] ||
             |       list_slice(hws, i, least(i+7, len(hws))),
             |       (a,h) -> (a*1000003+h) % 1000000007) * 2147483648 +
             |     list_reduce([CAST(0 AS BIGINT)] ||
             |       list_slice(hws, i, least(i+7, len(hws))),
             |       (a,h) -> (a*1000033+h) % 2147483647))
             |    FOR i IN range(1, greatest(len(hws)-6, 2))] AS hs FROM wh),
             |spans AS (SELECT doc_id, unnest(hs) AS h FROM sp),
             |occ AS (SELECT h, COUNT(*) AS occ FROM spans GROUP BY h)
             |SELECT s.doc_id, COUNT(*) AS n_spans,
             |  CAST(SUM(CASE WHEN o.occ >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_spans,
             |  CAST(SUM(CASE WHEN o.occ >= 2 THEN 1 ELSE 0 END) * 10000
             |    // COUNT(*) AS BIGINT) AS dup_share_e4
             |FROM spans s JOIN occ o USING (h)
             |GROUP BY s.doc_id ORDER BY s.doc_id""".stripMargin)),

    // ---- X2 exact n-gram (unigram-set) Jaccard near-dup pairs over
    // distinct rarity-array sets — see jaccardPairs above (SetPairScan
    // kernel when the sets fit, (prefix, size-band) blocking otherwise)
    Q("x2_jaccard_exact",
      (s, dir) => {
        val tok = docs(s, dir)
          .select(col("doc_id"), explode(TF.tokenSet(col("text"))).as("w"))
        jaccardPairs(s, tok, 0.9)
      },
      Some("""WITH tok AS (SELECT doc_id, UNNEST(list_distinct(string_split(text,' '))) AS w
             |            FROM documents),
             |cnt AS (SELECT doc_id, COUNT(*) AS n FROM tok GROUP BY doc_id),
             |inter AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS i
             |          FROM tok a JOIN tok b ON a.w = b.w AND a.doc_id < b.doc_id
             |          GROUP BY 1, 2)
             |SELECT doc_a, doc_b,
             |  ROUND(CAST(i AS DOUBLE)/(ca.n + cb.n - i), 4) AS jaccard
             |FROM inter JOIN cnt ca ON ca.doc_id = doc_a
             |           JOIN cnt cb ON cb.doc_id = doc_b
             |WHERE CAST(i AS DOUBLE)/(ca.n + cb.n - i) >= 0.9
             |ORDER BY doc_a, doc_b""".stripMargin)),

    // ---- X2 exact CONTAINMENT near-dup: C(a,b) = |A∩B| / min(|A|,|B|) —
    // the asymmetric criterion that catches a snippet EMBEDDED in a larger
    // document, which symmetric Jaccard misses. Adaptive sub-quadratic
    // algorithm — see containmentPairsForTest above (distinct-set S² plans
    // at this bounded vocabulary; SSJoin-family prefix filtering on open
    // vocabularies). 10·i ≥ 9·min ⟺ C ≥ 0.9, exact integer arithmetic.
    Q("x2_containment",
      (s, dir) => {
        val tok = docs(s, dir)
          .select(col("doc_id"), explode(TF.tokenSet(col("text"))).as("w"))
        containmentPairs(s, tok, 9, 10)
      },
      Some("""WITH tok AS (SELECT doc_id, UNNEST(list_distinct(string_split(text,' '))) AS w
             |            FROM documents),
             |cnt AS (SELECT doc_id, COUNT(*) AS n FROM tok GROUP BY doc_id),
             |inter AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS i
             |          FROM tok a JOIN tok b ON a.w = b.w AND a.doc_id < b.doc_id
             |          GROUP BY 1, 2)
             |SELECT doc_a, doc_b,
             |  CAST(i * 10000 // least(ca.n, cb.n) AS BIGINT) AS containment_e4,
             |  CAST(i * 10000 // (ca.n + cb.n - i) AS BIGINT) AS jaccard_e4
             |FROM inter JOIN cnt ca ON ca.doc_id = doc_a
             |           JOIN cnt cb ON cb.doc_id = doc_b
             |WHERE i * 10 >= least(ca.n, cb.n) * 9
             |ORDER BY doc_a, doc_b""".stripMargin)),

    // ---- X2 CONTAINMENT at scale: size-stratified MinHash banding (the
    // LSH-Ensemble construction) — candidates from vocabulary-local band
    // buckets instead of the exact twin's global distinct-set NLJ, then
    // exact verification, so disjoint corpus slices cost linear total work.
    // Same output contract as x2_containment (C >= 0.9, e4 integer
    // ratios); the pair set is the banding's >=90%-recall subset, replayed
    // bit-for-bit by the oracle (portable mod-prime hashes; doc-level
    // replay — identical token sets share every signature). See
    // containmentLshPairs above for the two-tier banding and budgets.
    Q("x2_containment_lsh",
      (s, dir) => containmentLshPairs(s, docs(s, dir), 9, 10),
      Some(s"""$containmentLshOracleCtes
             |SELECT doc_a, doc_b,
             |  CAST(i * 10000 // least(na, nb) AS BIGINT) AS containment_e4,
             |  CAST(i * 10000 // (na + nb - i) AS BIGINT) AS jaccard_e4
             |FROM ver WHERE i * 10 >= least(na, nb) * 9
             |ORDER BY doc_a, doc_b""".stripMargin)),

    // ---- X2 CONTAINMENT as a dedup DECISION (O(n) output): one row per
    // CONTAINED doc with its single deterministic best container — the form
    // a curation pass actually consumes, and the scale fix for the pair
    // list's output-bound tail (the 100x probe measured ~7e8 qualifying
    // pairs; this aggregation collapses them map-side before one exchange
    // and emits <= n rows). Same candidates + verification as
    // x2_containment_lsh; see containmentDedup above.
    Q("x2_containment_dedup",
      (s, dir) => containmentDedup(s, docs(s, dir)),
      Some(s"""$containmentLshOracleCtes,
             |sel AS (SELECT
             |    CASE WHEN na < nb THEN doc_a ELSE doc_b END AS doc_id,
             |    CASE WHEN na < nb THEN doc_b ELSE doc_a END AS container_id,
             |    CAST(i * 10000 // least(na, nb) AS BIGINT) AS c_e4,
             |    CAST(i * 10000 // (na + nb - i) AS BIGINT) AS j_e4
             |  FROM ver WHERE i * 10 >= least(na, nb) * 9)
             |SELECT doc_id,
             |  -(max([c_e4, j_e4, -container_id]))[3] AS container_id,
             |  (max([c_e4, j_e4, -container_id]))[1] AS containment_e4,
             |  (max([c_e4, j_e4, -container_id]))[2] AS jaccard_e4,
             |  CAST(COUNT(*) AS BIGINT) AS n_containers
             |FROM sel GROUP BY doc_id ORDER BY doc_id""".stripMargin)),

    // ---- X2 exact BIGRAM-set Jaccard (word-order-sensitive near-dup). The
    // bigram vocabulary is ~900 — the dispatcher picks the multi-word bitset
    // path (15 longs/doc). The oracle SQL carries the same length prefilter
    // so it stays O(candidates) in DuckDB too.
    Q("x2_jaccard_bigram",
      (s, dir) => {
        // one native pass per doc (NX.bigrams) — the HOF formulation
        // (transform+slice+concat_ws+array_distinct) evaluates its lambda
        // interpreted per element and dominated this query's runtime; a
        // <2-token doc yields an empty array (no bigrams), matching the
        // oracle's range(1, 1) = empty list
        val tok = docs(s, dir).select(col("doc_id"),
          explode(NX.bigrams(TF.tokens(col("text")))).as("w"))
        jaccardPairs(s, tok, 0.7)
      },
      Some("""WITH b AS (SELECT doc_id,
             |  list_distinct([string_split(text,' ')[i] || ' ' || string_split(text,' ')[i+1]
             |    for i in range(1, len(string_split(text,' ')))]) AS bg
             |  FROM documents)
             |SELECT a.doc_id AS doc_a, x.doc_id AS doc_b,
             |  ROUND(CAST(len(list_intersect(a.bg,x.bg)) AS DOUBLE)
             |    / (len(a.bg)+len(x.bg)-len(list_intersect(a.bg,x.bg))), 4) AS jaccard
             |FROM b a JOIN b x ON a.doc_id < x.doc_id
             | AND CAST(least(len(a.bg),len(x.bg)) AS DOUBLE) >= 0.7*greatest(len(a.bg),len(x.bg))
             | AND CAST(len(list_intersect(a.bg,x.bg)) AS DOUBLE)
             |    / (len(a.bg)+len(x.bg)-len(list_intersect(a.bg,x.bg))) >= 0.7
             |ORDER BY doc_a, doc_b""".stripMargin)),

    // ---- X1/X2 dedup clustering: near-dup pairs -> connected components ->
    // every doc labeled with its cluster representative (min reachable id).
    // This is the step that turns pair lists into dedup DECISIONS (keep the
    // representative, drop the rest). Oracle: recursive-CTE reachability.
    Q("x1_dedup_clusters",
      (s, dir) => dedupClusters(s, docs(s, dir)).orderBy("doc_id"),
      Some("""WITH RECURSIVE
             |tok AS (SELECT doc_id, UNNEST(list_distinct(string_split(text,' '))) AS w
             |        FROM documents),
             |cnt AS (SELECT doc_id, COUNT(*) AS n FROM tok GROUP BY doc_id),
             |inter AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS i
             |          FROM tok a JOIN tok b ON a.w = b.w AND a.doc_id < b.doc_id
             |          GROUP BY 1, 2),
             |pairs AS (SELECT doc_a, doc_b FROM inter
             |          JOIN cnt ca ON ca.doc_id = doc_a
             |          JOIN cnt cb ON cb.doc_id = doc_b
             |          WHERE CAST(i AS DOUBLE)/(ca.n + cb.n - i) >= 0.9),
             |edges AS (SELECT doc_a AS a, doc_b AS b FROM pairs
             |          UNION ALL SELECT doc_b, doc_a FROM pairs),
             |reach(a, b) AS (
             |  SELECT doc_id, doc_id FROM documents
             |  UNION
             |  SELECT reach.a, e.b FROM reach JOIN edges e ON reach.b = e.a)
             |SELECT a AS doc_id, MIN(b) AS cluster_id FROM reach
             |GROUP BY a ORDER BY doc_id""".stripMargin)),

    // ---- X2 MinHash + LSH near-dup (the scale path: candidates via band
    // buckets instead of all pairs; candidates then verified with exact
    // 3-shingle Jaccard). The whole signature pipeline is PORTABLE mod-prime
    // arithmetic (NX.shinglesPortable / NX.minhashPortable — compiled
    // kernels, but SQL-replayable folds), so the DuckDB oracle reproduces
    // candidates and scores bit-for-bit; recall vs the exact twin is
    // additionally asserted in LlmSpec.
    // b=16 bands of r=2: P(candidate | j) = 1-(1-j^2)^16 = 0.99 at j=0.5, so
    // recall at the 0.5 verify threshold is near-exact while the bucket join
    // stays tiny — see minhashLshPairs above for the pipeline + skew guard.
    Q("x2_minhash_lsh",
      (s, dir) => minhashLshPairs(s, docs(s, dir), 0.5),
      Some("""WITH w AS (SELECT doc_id, string_split(text,' ') AS ws FROM documents),
             |wh AS (SELECT doc_id, [
             |    (list_reduce([CAST(0 AS BIGINT)] ||
             |       [CAST(unicode(c) AS BIGINT) FOR c IN string_split(x,'')],
             |       (a,b) -> (a*31+b) % 1000000007) * 2147483648 +
             |     list_reduce([CAST(0 AS BIGINT)] ||
             |       [CAST(unicode(c) AS BIGINT) FOR c IN string_split(x,'')],
             |       (a,b) -> (a*131+b) % 2147483647)) FOR x IN ws] AS hws FROM w),
             |sh AS (SELECT doc_id, list_distinct([
             |    (list_reduce([CAST(0 AS BIGINT)] ||
             |       list_slice(hws, i, least(i+2, len(hws))),
             |       (a,h) -> (a*1000003+h) % 1000000007) * 2147483648 +
             |     list_reduce([CAST(0 AS BIGINT)] ||
             |       list_slice(hws, i, least(i+2, len(hws))),
             |       (a,h) -> (a*1000033+h) % 2147483647))
             |    FOR i IN range(1, greatest(len(hws)-1, 2))]) AS hs FROM wh),
             |shing AS (SELECT doc_id, unnest(hs) AS h FROM sh),
             |fam AS (SELECT doc_id, k,
             |    MIN((((506952114*(k+1)+1) % 2147483647) * (h % 2147483647)
             |         + ((40503*(k+1)+17) % 2147483647)) % 2147483647) AS sig
             |  FROM shing CROSS JOIN (SELECT unnest(range(0,32)) AS k) ks
             |  GROUP BY doc_id, k),
             |band AS (SELECT f0.doc_id, f0.k // 2 AS b,
             |    f0.sig * 2147483647 + f1.sig AS bk
             |  FROM fam f0 JOIN fam f1
             |    ON f0.doc_id = f1.doc_id AND f1.k = f0.k + 1
             |  WHERE f0.k % 2 = 0),
             |cand AS (SELECT DISTINCT a.doc_id AS doc_a, b2.doc_id AS doc_b
             |  FROM band a JOIN band b2
             |    ON a.b = b2.b AND a.bk = b2.bk AND a.doc_id < b2.doc_id),
             |ver AS (SELECT doc_a, doc_b, len(list_intersect(x.hs, y.hs)) AS i,
             |    len(x.hs) AS na, len(y.hs) AS nb
             |  FROM cand JOIN sh x ON x.doc_id = doc_a
             |            JOIN sh y ON y.doc_id = doc_b)
             |SELECT doc_a, doc_b, ROUND(CAST(i AS DOUBLE)/(na+nb-i), 4) AS jaccard
             |FROM ver WHERE CAST(i AS DOUBLE)/(na+nb-i) >= 0.5
             |ORDER BY doc_a, doc_b""".stripMargin)),

    // ---- X1 dedup clustering on the LSH CANDIDATE graph — the 100 TB form
    // of x1_dedup_clusters: edges come from the banded MinHash join
    // (verified >= 0.5 Jaccard), never from exact pair enumeration, so edge
    // generation is sub-quadratic band-bucket work end-to-end; the
    // pairs -> ConnectedComponents -> representative-label step is the
    // shared labelClusters path. Every hash is the portable mod-prime
    // family, so the oracle replays the candidate generation bit-for-bit
    // and a recursive CTE replays the clustering.
    Q("x1_lsh_clusters",
      (s, dir) => {
        val d = docs(s, dir)
        val pairs = minhashLshPairsUnsorted(s, d, 0.5)
          .select(col("doc_a").as("src"), col("doc_b").as("dst"))
        labelClusters(d.select(col("doc_id").as("id")), pairs, "doc_id")
          .orderBy("doc_id")
      },
      Some("""WITH RECURSIVE
             |w AS (SELECT doc_id, string_split(text,' ') AS ws FROM documents),
             |wh AS (SELECT doc_id, [
             |    (list_reduce([CAST(0 AS BIGINT)] ||
             |       [CAST(unicode(c) AS BIGINT) FOR c IN string_split(x,'')],
             |       (a,b) -> (a*31+b) % 1000000007) * 2147483648 +
             |     list_reduce([CAST(0 AS BIGINT)] ||
             |       [CAST(unicode(c) AS BIGINT) FOR c IN string_split(x,'')],
             |       (a,b) -> (a*131+b) % 2147483647)) FOR x IN ws] AS hws FROM w),
             |sh AS (SELECT doc_id, list_distinct([
             |    (list_reduce([CAST(0 AS BIGINT)] ||
             |       list_slice(hws, i, least(i+2, len(hws))),
             |       (a,h) -> (a*1000003+h) % 1000000007) * 2147483648 +
             |     list_reduce([CAST(0 AS BIGINT)] ||
             |       list_slice(hws, i, least(i+2, len(hws))),
             |       (a,h) -> (a*1000033+h) % 2147483647))
             |    FOR i IN range(1, greatest(len(hws)-1, 2))]) AS hs FROM wh),
             |shing AS (SELECT doc_id, unnest(hs) AS h FROM sh),
             |fam AS (SELECT doc_id, k,
             |    MIN((((506952114*(k+1)+1) % 2147483647) * (h % 2147483647)
             |         + ((40503*(k+1)+17) % 2147483647)) % 2147483647) AS sig
             |  FROM shing CROSS JOIN (SELECT unnest(range(0,32)) AS k) ks
             |  GROUP BY doc_id, k),
             |band AS (SELECT f0.doc_id, f0.k // 2 AS b,
             |    f0.sig * 2147483647 + f1.sig AS bk
             |  FROM fam f0 JOIN fam f1
             |    ON f0.doc_id = f1.doc_id AND f1.k = f0.k + 1
             |  WHERE f0.k % 2 = 0),
             |cand AS (SELECT DISTINCT a.doc_id AS doc_a, b2.doc_id AS doc_b
             |  FROM band a JOIN band b2
             |    ON a.b = b2.b AND a.bk = b2.bk AND a.doc_id < b2.doc_id),
             |ver AS (SELECT doc_a, doc_b, len(list_intersect(x.hs, y.hs)) AS i,
             |    len(x.hs) AS na, len(y.hs) AS nb
             |  FROM cand JOIN sh x ON x.doc_id = doc_a
             |            JOIN sh y ON y.doc_id = doc_b),
             |p AS (SELECT doc_a, doc_b FROM ver
             |  WHERE CAST(i AS DOUBLE)/(na+nb-i) >= 0.5),
             |edges AS (SELECT doc_a AS a, doc_b AS b FROM p
             |          UNION ALL SELECT doc_b, doc_a FROM p),
             |reach(a, b) AS (
             |  SELECT doc_id, doc_id FROM documents
             |  UNION
             |  SELECT reach.a, e.b FROM reach JOIN edges e ON reach.b = e.a)
             |SELECT a AS doc_id, MIN(b) AS cluster_id FROM reach
             |GROUP BY a ORDER BY doc_id""".stripMargin)),

    // ---- X2 SimHash fingerprints: 62-bit, from distinct-token PORTABLE
    // word-hash bit votes, computed in ONE native pass per document
    // (NX.simhash over NX.wordHash62). The explode formulation ((doc,
    // token, bit) vote rows -> groupBy shuffle) inflates rows 64× through the
    // shuffle; the native kernel shuffles nothing beyond the final sort and
    // is bit-identical (NativeKernelsSpec cross-checks it against the
    // explode+sum(vote) form). The word hashes are mod-prime folds the
    // DuckDB oracle replays exactly — bits 61..63 of every input are 0, so
    // those majority votes are always false and both engines agree the
    // signature fits in 62 bits.
    Q("x2_simhash",
      (s, dir) => {
        // loadParallel: the 64-vote fingerprint kernel is the whole query —
        // single-row-group scans serialized it into one task (r13 A/B)
        Tables.loadParallel(s, dir, "documents").select(
          col("doc_id"),
          NX.simhash(NX.wordHash62(TF.tokenSet(col("text"))))
            .as("simhash"))
          .orderBy("doc_id")
      },
      Some("""WITH tok AS (SELECT doc_id,
             |    unnest(list_distinct(string_split(text,' '))) AS w FROM documents),
             |th AS (SELECT doc_id,
             |    (list_reduce([CAST(0 AS BIGINT)] ||
             |       [CAST(unicode(c) AS BIGINT) FOR c IN string_split(w,'')],
             |       (a,b) -> (a*31+b) % 1000000007) * 2147483648 +
             |     list_reduce([CAST(0 AS BIGINT)] ||
             |       [CAST(unicode(c) AS BIGINT) FOR c IN string_split(w,'')],
             |       (a,b) -> (a*131+b) % 2147483647)) AS h
             |  FROM tok),
             |votes AS (SELECT doc_id, b, SUM((h >> b) & 1) AS ones, COUNT(*) AS n
             |  FROM th CROSS JOIN (SELECT unnest(range(0, 62)) AS b) bits
             |  GROUP BY doc_id, b)
             |SELECT doc_id,
             |  CAST(SUM(CASE WHEN 2*ones > n THEN (CAST(1 AS BIGINT) << b)
             |           ELSE 0 END) AS BIGINT) AS simhash
             |FROM votes GROUP BY doc_id ORDER BY doc_id""".stripMargin)),

    // ---- X2 SimHash NEAR-DUP PAIRS: the decisions step for the SimHash
    // modality — every doc pair within hamming distance 3 of the 62-bit
    // fingerprint, found EXACTLY by the pigeonhole block join (Manku,
    // Jain & Sarma, WWW'07): split the fingerprint into 4 16-bit blocks;
    // any pair with <=3 differing bits must agree bit-for-bit on >=1
    // block, so candidates come from an equi-key join on (block_id,
    // block_bits) — never an all-pairs scan — and each candidate is
    // verified with one popcount(xor). At 100 TB the block join is an
    // ordinary hash shuffle on 16-bit-key buckets; a corpus that
    // concentrates one block value degrades only that bucket, and the
    // standard fix (wider blocks over permuted fingerprints, same paper)
    // composes without changing the contract. The portable fingerprint
    // pipeline makes the oracle a brute-force replay, so completeness of
    // the pigeonhole candidates is hash-checked at every SF.
    Q("x2_simhash_neardup",
      (s, dir) => {
        // statistics-gated exact enumeration (HammingJoin): pigeonhole
        // block join while buckets are small, flip-variant join when the
        // biased top bits of the mod-prime word hash heap one block value
        // onto 10^5 docs (the round-12 100x catch)
        // loadParallel: fingerprinting dominates — see x2_simhash (r13)
        val sh = Tables.loadParallel(s, dir, "documents").select(
          col("doc_id"),
          NX.simhash(NX.wordHash62(TF.tokenSet(col("text"))))
            .as("fp"))
        graft.operators.HammingJoin.pairs(sh, maxHamming = 3)
          .orderBy("doc_a", "doc_b")
      },
      Some("""WITH tok AS (SELECT doc_id,
             |    unnest(list_distinct(string_split(text,' '))) AS w FROM documents),
             |th AS (SELECT doc_id,
             |    (list_reduce([CAST(0 AS BIGINT)] ||
             |       [CAST(unicode(c) AS BIGINT) FOR c IN string_split(w,'')],
             |       (a,b) -> (a*31+b) % 1000000007) * 2147483648 +
             |     list_reduce([CAST(0 AS BIGINT)] ||
             |       [CAST(unicode(c) AS BIGINT) FOR c IN string_split(w,'')],
             |       (a,b) -> (a*131+b) % 2147483647)) AS h
             |  FROM tok),
             |votes AS (SELECT doc_id, b, SUM((h >> b) & 1) AS ones, COUNT(*) AS n
             |  FROM th CROSS JOIN (SELECT unnest(range(0, 62)) AS b) bits
             |  GROUP BY doc_id, b),
             |sim AS (SELECT doc_id,
             |  CAST(SUM(CASE WHEN 2*ones > n THEN (CAST(1 AS BIGINT) << b)
             |           ELSE 0 END) AS BIGINT) AS simhash
             |FROM votes GROUP BY doc_id)
             |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
             |  CAST(bit_count(xor(a.simhash, b.simhash)) AS BIGINT) AS hamming
             |FROM sim a JOIN sim b ON a.doc_id < b.doc_id
             |WHERE bit_count(xor(a.simhash, b.simhash)) <= 3
             |ORDER BY doc_a, doc_b""".stripMargin)),

    // ---- X5/X2 embedding-cosine near-dup pairs (exact all-pairs baseline,
    // oracle-checked; broadcast one side — embeddings dim table is small, the
    // LSH/IVF variant below is the 100 TB path)
    Q("x5_embedding_neardup",
      (s, dir) => {
        // Norms computed once per vector BEFORE the pair join (not per pair),
        // with the identical expression, so sim is bit-equal to the naive form.
        val e = graft.Caches.persist(
          embs(s, dir).select(col("vec_id"), VF.toDouble(col("embedding")).as("v"))
            .withColumn("nrm", VF.l2Norm(col("v"))))
        val a = e.select(col("vec_id").as("id_a"), col("v").as("va"), col("nrm").as("na"))
        val b = e.select(col("vec_id").as("id_b"), col("v").as("vb"), col("nrm").as("nb"))
        a.join(broadcast(b), col("id_a") < col("id_b"))
          .withColumn("sim", NX.dot(col("va"), col("vb")) / (col("na") * col("nb")))
          .filter(col("sim") >= 0.35)
          .select(col("id_a"), col("id_b"), round(col("sim"), 4).as("sim"))
          .orderBy("id_a", "id_b")
      },
      Some("""SELECT a.vec_id AS id_a, b.vec_id AS id_b,
             |  ROUND(list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
             |                               CAST(b.embedding AS DOUBLE[])), 4) AS sim
             |FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
             |WHERE list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
             |                             CAST(b.embedding AS DOUBLE[])) >= 0.35
             |ORDER BY id_a, id_b""".stripMargin)),

    // ---- X5 near-dup at scale: IVF cell-pair search with DATA-DRIVEN cells
    // (k ∝ √n — the cell count grows with the data, unlike the r01 per-label
    // cells whose fixed count left Θ(n²/L) within-cell work at 100×) and
    // EXACT triangle-inequality pruning: a cell pair is scanned only if
    // cos(θ(ca,cb) − ra − rb) could still reach the 0.35 threshold. Exact by
    // construction → the oracle is the same SQL as the brute twin. On
    // clustered corpora (the realistic shape) most cell pairs prune away;
    // on the driver's isotropic vectors it degrades to a distributed block
    // scan and still answers exactly (OperatorsSpec pins both behaviors).
    Q("x5_neardup_ivf",
      (s, dir) => {
        val idx = ivfIndex(s, dir)
        graft.operators.IvfIndex.pairsExact(idx, 0.35)
          .select(col("id_a"), col("id_b"), round(col("sim"), 4).as("sim"))
          .orderBy("id_a", "id_b")
      },
      Some("""SELECT a.vec_id AS id_a, b.vec_id AS id_b,
             |  ROUND(list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
             |                               CAST(b.embedding AS DOUBLE[])), 4) AS sim
             |FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
             |WHERE list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
             |                             CAST(b.embedding AS DOUBLE[])) >= 0.35
             |ORDER BY id_a, id_b""".stripMargin)),

    // ---- X5/X1 embedding dedup CLUSTERING: exact near-dup pairs (via the
    // pruned IVF cell-pair search) -> connected components -> every vector
    // labeled with its cluster representative — the same pairs-to-decisions
    // step as x1_dedup_clusters, on the embedding modality. Exact pairs +
    // deterministic CC -> recursive-CTE oracle.
    Q("x5_embedding_clusters",
      (s, dir) => {
        val idx = ivfIndex(s, dir)
        val pairs = graft.operators.IvfIndex.pairsExact(idx, 0.35)
          .select(col("id_a").as("src"), col("id_b").as("dst"))
        labelClusters(idx.assigned.select(col("vec_id").as("id")), pairs, "vec_id")
          .orderBy("vec_id")
      },
      Some("""WITH RECURSIVE
             |pairs AS (SELECT a.vec_id AS va, b.vec_id AS vb
             |          FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
             |          WHERE list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
             |                  CAST(b.embedding AS DOUBLE[])) >= 0.35),
             |edges AS (SELECT va AS a, vb AS b FROM pairs
             |          UNION ALL SELECT vb, va FROM pairs),
             |reach(a, b) AS (
             |  SELECT vec_id, vec_id FROM embeddings
             |  UNION
             |  SELECT reach.a, e.b FROM reach JOIN edges e ON reach.b = e.a)
             |SELECT a AS vec_id, MIN(b) AS cluster_id FROM reach
             |GROUP BY a ORDER BY vec_id""".stripMargin)),

    // ---- X5 SEMANTIC dedup, cluster-scoped (SemDeDup, Abbas et al. 2023,
    // arXiv:2303.09540): dedup decisions are made WITHIN each semantic
    // cluster — here the `label` column stands in for the paper's k-means
    // partition — so the pairwise stage is bounded by Σ|cluster|², never
    // the corpus square; that bound is the paper's entire scaling
    // argument, and this query sharpens it further by generating the
    // candidate pairs through the IVF cell-pair triangle pruning and only
    // THEN gating on same-label. Within a cluster, cosine ≥ 0.4 pairs
    // form components (the funnel's own CC operator); each doc is labeled
    // with its component representative (min id) and a kept flag — keep
    // the rep, drop the semantic duplicates. Oracle: brute within-label
    // pairs + recursive-CTE reachability.
    Q("x5_semdedup",
      (s, dir) => {
        val idx = ivfIndex(s, dir)
        val labels = graft.Caches.persist(
          embs(s, dir).select(col("vec_id"), col("label")))
        val pairs = graft.operators.IvfIndex.pairsExact(idx, 0.4)
          .join(labels.select(col("vec_id").as("id_a"), col("label").as("la")), "id_a")
          .join(labels.select(col("vec_id").as("id_b"), col("label").as("lb")), "id_b")
          .filter(col("la") === col("lb"))
          .select(col("id_a").as("src"), col("id_b").as("dst"))
        labelClusters(idx.assigned.select(col("vec_id").as("id")), pairs, "vec_id")
          .join(labels, "vec_id")
          .select(col("vec_id"), col("label"), col("cluster_id"),
            (col("vec_id") === col("cluster_id")).as("kept"))
          .orderBy("vec_id")
      },
      Some("""WITH RECURSIVE
             |pairs AS (SELECT a.vec_id AS va, b.vec_id AS vb
             |          FROM embeddings a JOIN embeddings b
             |            ON a.vec_id < b.vec_id AND a.label = b.label
             |          WHERE list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
             |                  CAST(b.embedding AS DOUBLE[])) >= 0.4),
             |edges AS (SELECT va AS a, vb AS b FROM pairs
             |          UNION ALL SELECT vb, va FROM pairs),
             |reach(a, b) AS (
             |  SELECT vec_id, vec_id FROM embeddings
             |  UNION
             |  SELECT reach.a, e.b FROM reach JOIN edges e ON reach.b = e.a)
             |SELECT r.a AS vec_id, e.label, MIN(r.b) AS cluster_id,
             |  r.a = MIN(r.b) AS kept
             |FROM reach r JOIN embeddings e ON e.vec_id = r.a
             |GROUP BY r.a, e.label ORDER BY vec_id""".stripMargin)),

    // ---- X5 SemDeDup over the LSH-CANDIDATE edge graph — the 100 TB
    // default of x5_semdedup (which stays registered as the audit twin).
    // Same SemDeDup decisions step (within-label components at cosine
    // >= 0.4, keep the min-id representative), but the pair supply is
    // hyperplaneEdgePairs' banded candidates instead of the exact
    // cell-pair scan — generation touches ~6% of all pairs, and missing
    // a low-sim edge can only SPLIT a component (never merge two), so the
    // variant dedups a deterministic subset: conservative in exactly the
    // direction a keep/drop gate must be (it keeps more, never drops a
    // non-duplicate). Oracle replays candidates + reachability exactly.
    Q("x5_semdedup_lsh",
      (s, dir) => {
        val labels = graft.Caches.persist(
          embs(s, dir).select(col("vec_id"), col("label")))
        val pairs = hyperplaneEdgePairs(s, embsPlain(s, dir), 0.4)
          .join(labels.select(col("vec_id").as("id_a"), col("label").as("la")), "id_a")
          .join(labels.select(col("vec_id").as("id_b"), col("label").as("lb")), "id_b")
          .filter(col("la") === col("lb"))
          .select(col("id_a").as("src"), col("id_b").as("dst"))
        labelClusters(embsPlain(s, dir).select(col("vec_id").as("id")), pairs, "vec_id")
          .join(labels, "vec_id")
          .select(col("vec_id"), col("label"), col("cluster_id"),
            (col("vec_id") === col("cluster_id")).as("kept"))
          .orderBy("vec_id")
      },
      Some(s"""WITH RECURSIVE ${hyperplanePairsCtes(0.4,
                " AND ea.label = eb.label")},
             |edges AS (SELECT va AS a, vb AS b FROM pairs
             |          UNION ALL SELECT vb, va FROM pairs),
             |reach(a, b) AS (
             |  SELECT vec_id, vec_id FROM embeddings
             |  UNION
             |  SELECT reach.a, e.b FROM reach JOIN edges e ON reach.b = e.a)
             |SELECT r.a AS vec_id, e.label, MIN(r.b) AS cluster_id,
             |  r.a = MIN(r.b) AS kept
             |FROM reach r JOIN embeddings e ON e.vec_id = r.a
             |GROUP BY r.a, e.label ORDER BY vec_id""".stripMargin)),

    // ---- X5 graph centrality over the near-dup graph: 5-iteration PageRank
    // (damping 0.85) on the exact similarity edges the clustering query
    // already mines — inside a dedup cluster it ranks the most-connected
    // member (a centrality-based representative pick, vs the min-id pick of
    // x1/x5 clusters). ALL arithmetic is integer floor-division at e12 scale
    // (`div` / `//` agree engine-to-engine on positives), each iteration
    // applies the same ops in the same order as the unrolled oracle CTEs, so
    // the ranks are EXACT — no float fixed-point tolerance. Nodes are the
    // vectors with ≥1 edge (teleport-only isolated nodes would just hold
    // constant mass). Each iteration is one equi-join + one sum shuffle on
    // the edge list — O(iters · |E|) like every bulk-synchronous PageRank;
    // the rank/degree table rides broadcast once AQE sees its size.
    Q("x5_pagerank",
      (s, dir) => {
        val idx = ivfIndex(s, dir)
        // edge supply + the shared walk (pagerankE12 holds the measured
        // checkpoint/materialization decisions — see its doc)
        val pairs = graft.operators.IvfIndex.pairsExact(idx, 0.35)
          .select(col("id_a").as("src"), col("id_b").as("dst"))
        pagerankE12(pairs).orderBy("vec_id")
      },
      Some(pagerankOracle)),

    // ---- X5 pagerank over the LSH-CANDIDATE edge graph — the 100 TB
    // default (the exact-edge form above stays registered as the audit
    // twin). Edge supply = hyperplaneEdgePairs: banded sign-projection
    // collisions verified at exact cosine >= 0.35, so edge generation
    // touches ~6% of all pairs instead of the n²/2 the exact supply's
    // block scan pays on pruning-hostile geometry. The walk itself is the
    // identical integer-e12 iteration; the oracle replays the hyperplane
    // candidates bit-for-bit and then the same unrolled CTEs, so ranks
    // hash-match exactly. The graph is the deterministic high-recall-at-
    // high-sim subset (see hyperplaneEdgePairs' recall contract): on a
    // near-dup-clustered 100 TB corpus that subset carries the centrality
    // signal; the isotropic bench tail is its measured worst case.
    Q("x5_pagerank_lsh",
      (s, dir) => pagerankE12(
        hyperplaneEdgePairs(s, embsPlain(s, dir), 0.35)
          .select(col("id_a").as("src"), col("id_b").as("dst")))
        .orderBy("vec_id"),
      Some(pagerankOracleWith(hyperplanePairsCtes(0.35)))),

    // ---- X5 pagerank, CONTRACTED — the scale form of x5_pagerank. The flat
    // query is linear in edges, but its edge SUPPLY is the 0.35 similarity
    // graph, and near-identical vectors (exact/near dups — at 100 TB every
    // large corpus has them in bulk) form cliques: a c-member dup cluster
    // contributes c²/2 edges that all carry the same information. Two
    // standard graph reductions, both deterministic and both replayed by
    // the oracle:
    //   1. CONTRACTION: sim ≥ 0.98 pairs → connected components → every
    //      member maps to its min-id representative; edges between two
    //      clusters collapse to ONE edge weighted max member-pair sim
    //      (clique edges vanish entirely — they are intra-cluster);
    //   2. DEGREE CAP: each node keeps its top-4 strongest edges (sim desc,
    //      id asc); an undirected edge survives if EITHER endpoint keeps it
    //      (the union rule keeps the graph connected where one hub would
    //      otherwise orphan its spokes). Iteration cost is then ≤ 8·nodes
    //      per round no matter how dense the raw similarity graph was.
    // Then the identical integer-e12 5-iteration walk as x5_pagerank.
    // Output adds n_members so the contracted mass is visible.
    Q("x5_pagerank_contracted",
      (s, dir) => {
        val idx = ivfIndex(s, dir)
        // EAGER localCheckpoint, not persist: the contraction + loop below
        // reference this frame from many independently-planned stages, and
        // a lazy (or even count()-forced) cache still left the expensive
        // pair scan re-executing downstream (measured 36 s vs 20 s solo at
        // the 10x point); checkpointing severs the lineage so downstream
        // cost is independent of which pairsExact plan the gate chose
        val pairsAll = graft.Caches.labeled(s, "contracted:pairs-ckpt")(
          graft.operators.IvfIndex.pairsExact(idx, 0.35)
            .select(col("id_a"), col("id_b"), col("sim"))
            .localCheckpoint(true))
        val dupEdges = pairsAll.filter(col("sim") >= 0.98)
          .select(col("id_a").as("src"), col("id_b").as("dst"))
        val rep = graft.Caches.persist(labelClusters(
          idx.assigned.select(col("vec_id").as("id")), dupEdges, "id"))
        val ce = pairsAll
          .join(rep.select(col("id").as("id_a"), col("cluster_id").as("ra")), "id_a")
          .join(rep.select(col("id").as("id_b"), col("cluster_id").as("rb")), "id_b")
          .filter(col("ra") =!= col("rb"))
          .groupBy(least(col("ra"), col("rb")).as("a"),
            greatest(col("ra"), col("rb")).as("b"))
          .agg(max("sim").as("w"))
        // one-pass symmetrization (r13): union(ce, ce.flipped) planned the
        // unpersisted contraction aggregate twice — explode reads it once
        val dirEdges = ce.select(explode(array(
            struct(col("a").as("src"), col("b").as("dst"), col("w")),
            struct(col("b").as("src"), col("a").as("dst"), col("w")))).as("e"))
          .select(col("e.src").as("src"), col("e.dst").as("dst"),
            col("e.w").as("w"))
        val wCap = Window.partitionBy("src").orderBy(desc("w"), asc("dst"))
        val kept = dirEdges.withColumn("rk", row_number().over(wCap))
          .filter(col("rk") <= 4)
          .select(least(col("src"), col("dst")).as("a"),
            greatest(col("src"), col("dst")).as("b"))
          .distinct()
        // the shared walk (pagerankE12 holds the checkpoint/lineage notes)
        val pr = pagerankE12(
          kept.select(col("a").as("src"), col("b").as("dst")))
        val csize = rep.groupBy(col("cluster_id").as("vec_id"))
          .agg(count(lit(1)).as("n_members"))
        pr.join(csize, "vec_id")
          .select(col("vec_id"), col("n_members"), col("pr_e12"))
          .orderBy("vec_id")
      },
      Some(pagerankContractedOracle)),

    // ---- X3 diversity-aware rerank: greedy Maximal Marginal Relevance
    // (Carbonell & Goldstein, SIGIR'98) over each query's top-20 exact
    // candidates — pick 5, each pick maximizing 0.7·relevance −
    // 0.3·max-sim-to-already-picked. The training-data angle: MMR is the
    // standard de-redundancy step when sampling few-shot exemplars or
    // curating a diverse subset from a near-dup-heavy retrieval pool.
    // Determinism: similarities are shifted nonneg ((s+1)*1e9 floored to
    // int - floor and truncation agree there, so Scala `/`, Spark `div`
    // and DuckDB `//` all match), the greedy argmax tie-breaks on
    // candidate id, and the oracle unrolls the same 5 steps as CTEs -
    // full hash match, no tolerance.
    // Shape: top-20 candidate generation is declarative (the same
    // broadcast + WindowGroupLimit plan as x3_knn_brute; swaps to the IVF
    // index unchanged), then the greedy selection runs per query in ONE
    // typed mapGroups pass - a sequential k-step argmax over a k2-bounded
    // in-memory group is genuinely imperative logic, and in-group it
    // replaces 4 unrolled join+window+anti-join rounds (measured: the
    // unrolled plan needed a persist per step to avoid 2^picks lineage
    // replay and still paid ~16 tiny shuffle stages; this is one
    // shuffle). O(q * k^2) total, never a function of corpus size.
    Q("x3_mmr_rerank",
      (s, dir) => {
        import s.implicits._
        // candidate top-20 rides the SHARED IVF index (knnExact is EXACT —
        // recall 1.0 with the identical (s desc, id asc) tie-break — so the
        // brute-SQL oracle is unchanged) and the query set carries the same
        // fixed budget as the flat twins: brute candidates × q ∝ n was 9.5×
        // growth for 3× data at the r09 30× probe
        val idx = ivfIndex(s, dir)
        val q = idx.assigned.filter(
            col("vec_id") % knnQueryStride(graft.Caches.countOnce(idx.assigned)) === 0)
          .select(col("vec_id").as("query_id"), col("v").as("qv"))
        graft.operators.IvfIndex.knnExact(idx, q, k = 20, nprobe = 3)
          .join(idx.assigned.select(col("vec_id").as("neighbor_id"),
            col("v").as("cv"), col("nrm").as("cn")), Seq("neighbor_id"))
          .select(col("query_id"), col("neighbor_id").as("cid"), col("s"),
            col("cn"), col("cv"))
          .as[(Long, Long, Double, Double, Array[Double])]
          .groupByKey(_._1)
          .flatMapGroups { (qid: Long, it: Iterator[(Long, Long, Double, Double, Array[Double])]) =>
            // sort by cid: group arrival order is shuffle-nondeterministic,
            // nothing below may depend on it
            val cs = it.toArray.sortBy(_._2)
            val nc = cs.length
            def dot(a: Array[Double], b: Array[Double]): Double = {
              var i = 0; var acc = 0.0
              while (i < a.length) { acc += a(i) * b(i); i += 1 }; acc
            }
            val rel = cs.map(c => math.floor((c._3 + 1) * 1.0e9).toLong)
            val picked = new Array[Boolean](nc)
            val maxSim = Array.fill(nc)(Long.MinValue)
            // pick 1: best raw relevance (s desc, cid asc) - the oracle\'s
            // rk=1 row, ranked on the unfloored cosine like the candidate
            // window itself
            var lastPick = {
              var best = 0; var i = 1
              while (i < nc) {
                if (cs(i)._3 > cs(best)._3 ||
                    (cs(i)._3 == cs(best)._3 && cs(i)._2 < cs(best)._2)) best = i
                i += 1
              }; best
            }
            picked(lastPick) = true
            val out = scala.collection.mutable.ArrayBuffer((qid, cs(lastPick)._2, 1L))
            var step = 2
            while (step <= 5 && step <= nc) {
              // fold the newest pick into every unselected candidate\'s
              // max-sim, then argmax the integer MMR score
              var j = 0
              while (j < nc) {
                if (!picked(j)) {
                  val sim = dot(cs(j)._5, cs(lastPick)._5) / (cs(j)._4 * cs(lastPick)._4)
                  val simE9 = math.floor((sim + 1) * 1.0e9).toLong
                  if (simE9 > maxSim(j)) maxSim(j) = simE9
                }
                j += 1
              }
              var best = -1; var bestScore = Long.MinValue
              j = 0
              while (j < nc) {
                if (!picked(j)) {
                  val score = (7 * rel(j)) / 10 - (3 * maxSim(j)) / 10
                  if (best < 0 || score > bestScore ||
                      (score == bestScore && cs(j)._2 < cs(best)._2)) {
                    best = j; bestScore = score
                  }
                }
                j += 1
              }
              picked(best) = true; lastPick = best
              out += ((qid, cs(best)._2, step.toLong))
              step += 1
            }
            out.iterator
          }
          .toDF("query_id", "cid", "pick")
          .orderBy("query_id", "pick")
      },
      Some(qstride(mmrOracle))),

    // ---- X3 brute-force top-k cosine similarity search: every 50th vector is
    // a query; queries are broadcast against the full corpus; per-query top-k
    // via the bounded top-k aggregate (ungrouped: the query set always
    // broadcasts here). This is the exact baseline for ANN.
    Q("x3_knn_brute",
      (s, dir) => {
        // unpersisted: the stride's countOnce is then a statistics-memo hit
        // on a warm build (on a persisted frame it is a cache-prime job on
        // every build), and keeping the persist measured no faster at sf0.1
        // (SCALING.md "Schema inference at query build")
        val e = embsPlain(s, dir)
          .select(col("vec_id"), VF.toDouble(col("embedding")).as("v"))
          .withColumn("nrm", VF.l2Norm(col("v")))
        val q = e.filter(col("vec_id") % knnQueryStride(graft.Caches.countOnce(e)) === 0)
          .select(col("vec_id").as("query_id"), col("v").as("qv"), col("nrm").as("qn"))
        graft.operators.IvfIndex.topKPerQuery(
            e.select(col("vec_id").as("neighbor_id"), col("v").as("nv"), col("nrm").as("nn"))
              .join(broadcast(q), col("neighbor_id") =!= col("query_id"))
              .withColumn("s", NX.dot(col("qv"), col("nv")) / (col("qn") * col("nn"))),
            "neighbor_id", "s", 10, grouped = false)
          .select(col("query_id"), col("rk"), col("neighbor_id"), round(col("s"), 4).as("sim"))
          .orderBy("query_id", "rk")
      },
      Some(qstride("""SELECT query_id, rk, neighbor_id, ROUND(s, 4) AS sim FROM (
             |  SELECT q.vec_id AS query_id, n.vec_id AS neighbor_id,
             |    list_cosine_similarity(CAST(q.embedding AS DOUBLE[]),
             |                           CAST(n.embedding AS DOUBLE[])) AS s,
             |    CAST(ROW_NUMBER() OVER (PARTITION BY q.vec_id
             |      ORDER BY list_cosine_similarity(CAST(q.embedding AS DOUBLE[]),
             |                                      CAST(n.embedding AS DOUBLE[])) DESC,
             |               n.vec_id) AS BIGINT) AS rk
             |  FROM embeddings q JOIN embeddings n ON n.vec_id != q.vec_id
             |  WHERE q.vec_id % QSTRIDE = 0)
             |WHERE rk <= 10 ORDER BY query_id, rk""".stripMargin))),

    // ---- X3 IVF top-k search (scale path): data-driven cells (k ∝ √n, one
    // Lloyd refinement), probe the 3 nearest cells to establish a per-query
    // k-th-best bound, then triangle-inequality pruning decides which other
    // cells can be skipped — EXACT top-k (recall 1.0 vs x3_knn_brute,
    // asserted in LlmSpec), so the oracle is the brute-force SQL. Per-query
    // work is O(√n·d) centroid scan + the surviving cells; on clustered data
    // the bound prunes nearly everything (OperatorsSpec), on the driver's
    // isotropic vectors it degrades to a distributed exact scan.
    Q("x3_knn_ivf",
      (s, dir) => {
        val idx = ivfIndex(s, dir)
        val q = idx.assigned.filter(
            col("vec_id") % knnQueryStride(graft.Caches.countOnce(idx.assigned)) === 0)
          .select(col("vec_id").as("query_id"), col("v").as("qv"))
        graft.operators.IvfIndex.knnExact(idx, q, k = 10, nprobe = 3)
          .select(col("query_id"), col("rk"), col("neighbor_id"),
            round(col("s"), 4).as("sim"))
          .orderBy("query_id", "rk")
      },
      Some(qstride("""SELECT query_id, rk, neighbor_id, ROUND(s, 4) AS sim FROM (
             |  SELECT q.vec_id AS query_id, n.vec_id AS neighbor_id,
             |    list_cosine_similarity(CAST(q.embedding AS DOUBLE[]),
             |                           CAST(n.embedding AS DOUBLE[])) AS s,
             |    CAST(ROW_NUMBER() OVER (PARTITION BY q.vec_id
             |      ORDER BY list_cosine_similarity(CAST(q.embedding AS DOUBLE[]),
             |                                      CAST(n.embedding AS DOUBLE[])) DESC,
             |               n.vec_id) AS BIGINT) AS rk
             |  FROM embeddings q JOIN embeddings n ON n.vec_id != q.vec_id
             |  WHERE q.vec_id % QSTRIDE = 0)
             |WHERE rk <= 10 ORDER BY query_id, rk""".stripMargin))),

    // ---- X3 exact top-k over the per-ingest-slice SHARDED layout
    // (IvfIndex.build with shards=4, so the multi-shard path runs at every
    // SF): the layout a 100 TB deployment uses when its ingest
    // slices are distribution-disjoint — each slice's k-means is trained
    // locally, so cell radii describe one slice's geometry and cross-slice
    // cell pairs prune (the global layout mixes slices inside each cell
    // and stops pruning; SCALING.md r10 has the ablation, which is why the
    // OTHER queries default to the global artifact). knnExact is EXACT
    // over ANY layout — only pruning effectiveness varies — so the
    // brute-force SQL is the oracle and the full neighbor lists
    // hash-match; DeterminismSpec's registry sweep additionally pins the
    // sharded build byte-stable across shuffle-partition counts.
    Q("x3_knn_ivf_sharded",
      (s, dir) => {
        val e = embs(s, dir).select(col("vec_id"),
          VF.toDouble(col("embedding")).as("v"))
        val idx = graft.operators.IvfIndex.loadOrBuild(e, key = dir, shards = 4)
        val q = idx.assigned.filter(
            col("vec_id") % knnQueryStride(graft.Caches.countOnce(idx.assigned)) === 0)
          .select(col("vec_id").as("query_id"), col("v").as("qv"))
        graft.operators.IvfIndex.knnExact(idx, q, k = 10, nprobe = 3)
          .select(col("query_id"), col("rk"), col("neighbor_id"),
            round(col("s"), 4).as("sim"))
          .orderBy("query_id", "rk")
      },
      Some(qstride("""SELECT query_id, rk, neighbor_id, ROUND(s, 4) AS sim FROM (
             |  SELECT q.vec_id AS query_id, n.vec_id AS neighbor_id,
             |    list_cosine_similarity(CAST(q.embedding AS DOUBLE[]),
             |                           CAST(n.embedding AS DOUBLE[])) AS s,
             |    CAST(ROW_NUMBER() OVER (PARTITION BY q.vec_id
             |      ORDER BY list_cosine_similarity(CAST(q.embedding AS DOUBLE[]),
             |                                      CAST(n.embedding AS DOUBLE[])) DESC,
             |               n.vec_id) AS BIGINT) AS rk
             |  FROM embeddings q JOIN embeddings n ON n.vec_id != q.vec_id
             |  WHERE q.vec_id % QSTRIDE = 0)
             |WHERE rk <= 10 ORDER BY query_id, rk""".stripMargin))),

    // ---- X3 approximate IVF top-k (the classic ANN operating point):
    // scan only the nprobe nearest cells per query — recall traded for a
    // HARD scanned-fraction bound (~nprobe/√n of the corpus), the knob a
    // 100 TB deployment actually turns. The cell layout is PORTABLE
    // (IvfIndex.build trains routing with integer arithmetic only: int8
    // quantization, integer squared-L2 argmin, FLOOR(SUM/COUNT) means), so
    // unlike the pre-r09 float k-means the oracle replays the ENTIRE
    // search — quantize → seed → one Lloyd round → assign → probe the 8
    // nearest cells by float centroid cosine → exact rerank — and the
    // FULL neighbor lists hash-match. OperatorsSpec additionally pins
    // recall ≥0.9 (clustered), the scan budget, and scan-exactness on
    // clustered/isotropic fixtures; DeterminismSpec pins byte-stability.
    Q("x3_knn_ivf_approx",
      (s, dir) => knnIvfApproxRaw(s, dir),
      Some(qstride(ivfRoutingCtes +
        """probes AS (SELECT query_id, cell FROM (
          |    SELECT q.vec_id AS query_id, c.cell,
          |      ROW_NUMBER() OVER (PARTITION BY q.vec_id ORDER BY
          |        list_cosine_similarity(q.v, c.cv) DESC, c.cell ASC) AS prk
          |    FROM e q CROSS JOIN cent c WHERE q.vec_id % QSTRIDE = 0)
          |  WHERE prk <= 8)
          |SELECT query_id, rk, neighbor_id, ROUND(s, 4) AS sim FROM (
          |  SELECT p.query_id, m.vec_id AS neighbor_id,
          |    list_cosine_similarity(q.v, n.v) AS s,
          |    CAST(ROW_NUMBER() OVER (PARTITION BY p.query_id
          |      ORDER BY list_cosine_similarity(q.v, n.v) DESC, m.vec_id ASC)
          |      AS BIGINT) AS rk
          |  FROM probes p
          |  JOIN a1 m ON m.cell = p.cell AND m.vec_id != p.query_id
          |  JOIN e q ON q.vec_id = p.query_id
          |  JOIN e n ON n.vec_id = m.vec_id)
          |WHERE rk <= 10 ORDER BY query_id, rk""".stripMargin))),

    // ---- X3 LSH-bucketed top-k (SURVEY §2.11 X3's "LSH variant for
    // scale"): sign-random-projection codes (Charikar hyperplane LSH),
    // banded 8×8 bits; candidates = corpus vectors sharing ANY band value
    // with the query, exact cosine rerank of candidates only. The plan is
    // an EQUI-KEY join on (band, band_value) — never an all-pairs scan:
    // at 100 TB the corpus shuffles once on ~bands·2^bitsPerBand keys and
    // each query touches only its colliding buckets (bitsPerBand scales
    // with log2(n) to hold buckets at O(n/2^bits); raising it preserves
    // this exact plan shape). Unlike the IVF twin the hyperplanes are
    // PORTABLE deterministic integer arithmetic (quantized projections,
    // no float-order hazard), so the DuckDB oracle replays the bucketing
    // bit-for-bit and the FULL neighbor lists are hash-checked — an
    // oracle-checkable ANN. LlmSpec pins recall vs x3_knn_brute on the
    // planted-cluster fixture; PlanSpec pins the equi-join shape.
    Q("x3_knn_lsh",
      (s, dir) => {
        val e = embsPlain(s, dir)
        knnLsh(s, e, col("vec_id") % knnQueryStride(graft.Caches.countOnce(e)) === 0, k = 10)
      },
      Some(qstride("""WITH dim AS (
             |  SELECT vec_id, embedding,
             |         unnest(generate_series(1, len(embedding))) AS d
             |  FROM embeddings),
             |qd AS (
             |  SELECT vec_id, d - 1 AS d0,
             |         CAST(FLOOR(CAST(embedding[d] AS DOUBLE) * 1000000) AS BIGINT) AS q
             |  FROM dim),
             |bits AS (SELECT unnest(generate_series(0, 63)) AS j),
             |proj AS (
             |  SELECT qd.vec_id, b.j,
             |         SUM(CASE WHEN ((1000003 * (b.j * 4096 + qd.d0) * (b.j * 4096 + qd.d0)
             |                         + 7919 * (b.j * 4096 + qd.d0) + 17)
             |                        % 2147483647) % 2 = 0
             |                  THEN qd.q ELSE -qd.q END) AS p
             |  FROM qd CROSS JOIN bits b GROUP BY 1, 2),
             |bnd AS (
             |  SELECT vec_id, j // 8 AS b,
             |         SUM(CASE WHEN p >= 0 THEN 1 << (j % 8) ELSE 0 END) AS bv
             |  FROM proj GROUP BY 1, 2),
             |cand AS (
             |  SELECT DISTINCT q.vec_id AS query_id, n.vec_id AS neighbor_id
             |  FROM bnd q JOIN bnd n ON q.b = n.b AND q.bv = n.bv
             |  WHERE q.vec_id % QSTRIDE = 0 AND n.vec_id <> q.vec_id)
             |SELECT query_id, rk, neighbor_id, ROUND(s, 4) AS sim FROM (
             |  SELECT c.query_id, c.neighbor_id,
             |    list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
             |                           CAST(b.embedding AS DOUBLE[])) AS s,
             |    CAST(ROW_NUMBER() OVER (PARTITION BY c.query_id
             |      ORDER BY list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
             |                                      CAST(b.embedding AS DOUBLE[])) DESC,
             |               c.neighbor_id) AS BIGINT) AS rk
             |  FROM cand c JOIN embeddings a ON a.vec_id = c.query_id
             |              JOIN embeddings b ON b.vec_id = c.neighbor_id)
             |WHERE rk <= 10 ORDER BY query_id, rk""".stripMargin))),

    // ---- X3 FILTERED vector search: top-k under a metadata predicate
    // (label % 4 == 0) — the "filtered ANN" operating point every
    // production vector system exposes (filter + vector score in one
    // query). Done as PRE-filtering pushed INSIDE the index scan: the
    // assigned frame is semi-joined to the eligible ids before the
    // two-phase exact search, so only eligible members are scanned and
    // ranked — not post-filtering a top-k that could return < k rows. The
    // cell radii stay valid upper bounds for any subset of a cell, so
    // triangle pruning and exactness are preserved (the phase-2 left join
    // tolerates probed cells with zero eligible members). At 100 TB the
    // semi-join is a broadcast of the predicate ids or a shuffle join on
    // vec_id — either way linear, no new pairing.
    Q("x3_knn_filtered",
      (s, dir) => {
        val idx = ivfIndex(s, dir)
        val keep = embs(s, dir)
          .filter(col("label") % 4 === 0).select("vec_id")
        val fidx = graft.operators.IvfIndex.Index(
          idx.assigned.join(keep, Seq("vec_id"), "left_semi"), idx.cells)
        val q = idx.assigned.filter(
            col("vec_id") % knnQueryStride(graft.Caches.countOnce(idx.assigned)) === 0)
          .select(col("vec_id").as("query_id"), col("v").as("qv"))
        graft.operators.IvfIndex.knnExact(fidx, q, k = 10, nprobe = 3)
          .select(col("query_id"), col("rk"), col("neighbor_id"),
            round(col("s"), 4).as("sim"))
          .orderBy("query_id", "rk")
      },
      Some(qstride("""SELECT query_id, rk, neighbor_id, ROUND(s, 4) AS sim FROM (
             |  SELECT q.vec_id AS query_id, n.vec_id AS neighbor_id,
             |    list_cosine_similarity(CAST(q.embedding AS DOUBLE[]),
             |                           CAST(n.embedding AS DOUBLE[])) AS s,
             |    CAST(ROW_NUMBER() OVER (PARTITION BY q.vec_id
             |      ORDER BY list_cosine_similarity(CAST(q.embedding AS DOUBLE[]),
             |                                      CAST(n.embedding AS DOUBLE[])) DESC,
             |               n.vec_id) AS BIGINT) AS rk
             |  FROM embeddings q JOIN embeddings n
             |    ON n.vec_id != q.vec_id AND n.label % 4 = 0
             |  WHERE q.vec_id % QSTRIDE = 0)
             |WHERE rk <= 10 ORDER BY query_id, rk""".stripMargin))),

    // ---- X3 HYBRID text+vector search (filtered RAG retrieval): top-k
    // nearest neighbors restricted to documents matching a TEXT-modality
    // predicate (lang = 'en' AND the body contains "data") — the filter
    // lives on the documents table, the vectors on embeddings, joined on
    // doc_id = vec_id. Same pre-filter-inside-the-index-scan shape as
    // x3_knn_filtered (semi-join the eligible ids into the assignment
    // before the two-phase exact search; cell radii remain valid subset
    // bounds), but the eligible-id set now crosses tables AND modalities —
    // at 100 TB the keyword side is a pushed-down parquet scan of the
    // document corpus producing an id list, semi-joined on the index's
    // own key: linear, no new pairing, no text ever reaching the vector
    // side's shuffles.
    Q("x3_hybrid_search",
      (s, dir) => {
        val idx = ivfIndex(s, dir)
        val keep = docs(s, dir)
          .filter(col("lang") === "en" && col("text").contains("data"))
          .select(col("doc_id").as("vec_id"))
        val fidx = graft.operators.IvfIndex.Index(
          idx.assigned.join(keep, Seq("vec_id"), "left_semi"), idx.cells)
        val q = idx.assigned.filter(
            col("vec_id") % knnQueryStride(graft.Caches.countOnce(idx.assigned)) === 0)
          .select(col("vec_id").as("query_id"), col("v").as("qv"))
        graft.operators.IvfIndex.knnExact(fidx, q, k = 10, nprobe = 3)
          .select(col("query_id"), col("rk"), col("neighbor_id"),
            round(col("s"), 4).as("sim"))
          .orderBy("query_id", "rk")
      },
      Some(qstride("""SELECT query_id, rk, neighbor_id, ROUND(s, 4) AS sim FROM (
             |  SELECT q.vec_id AS query_id, n.vec_id AS neighbor_id,
             |    list_cosine_similarity(CAST(q.embedding AS DOUBLE[]),
             |                           CAST(n.embedding AS DOUBLE[])) AS s,
             |    CAST(ROW_NUMBER() OVER (PARTITION BY q.vec_id
             |      ORDER BY list_cosine_similarity(CAST(q.embedding AS DOUBLE[]),
             |                                      CAST(n.embedding AS DOUBLE[])) DESC,
             |               n.vec_id) AS BIGINT) AS rk
             |  FROM embeddings q JOIN embeddings n
             |    ON n.vec_id != q.vec_id AND n.vec_id IN (
             |         SELECT doc_id FROM documents
             |         WHERE lang = 'en' AND text LIKE '%data%')
             |  WHERE q.vec_id % QSTRIDE = 0)
             |WHERE rk <= 10 ORDER BY query_id, rk""".stripMargin))),

    // ---- X3 BM25 lexical top-k retrieval (Robertson/Spärck Jones; the
    // Lucene-style idf = ln(1 + (N-df+0.5)/(df+0.5)), k1=1.2, b=0.75): the
    // keyword leg of a retrieval stack in ONE statistics pass — one
    // per-document projection gives the length dl and each query term's tf
    // (size(filter(tokens, w = term)): the tokens never leave their row),
    // one global aggregate gives N, the total length and each term's df,
    // and that 1-row frame broadcasts back to score every document. No
    // token explode and no tf/df shuffle: the only exchanges carry the
    // statistics row. Determinism contract: each term's contribution is
    // floored to integer e6 units BEFORE the per-doc sum (order-independent
    // integer sum, x4_lm_score precedent; floor(x·1e6+.5) not ROUND —
    // round-half semantics differ cross-engine), and the final top-15
    // ranks on the integer score. At 100 TB: df/N/avgdl are corpus
    // statistics a real deployment snapshots with the index, and the
    // ranked tail is TakeOrderedAndProject (per-partition top-k, no global
    // sort).
    Q("x3_bm25",
      (s, dir) => {
        val terms = Seq("hash", "join", "table")
        // two projections, so the per-document columns share one
        // tokenization (CollapseProject does not inline a non-cheap
        // expression that four columns reference)
        val perDoc = docs(s, dir).select(col("doc_id"), TF.tokens(col("text")).as("tk"))
          .select(col("doc_id") +: size(col("tk")).cast("long").as("dl") +:
            terms.map(t => size(filter(col("tk"), _ === t)).cast("long").as(s"tf_$t")): _*)
        val stats = perDoc.agg(count(lit(1)).as("n"), sum(col("dl")).as("tot") +:
          terms.map(t => count_if(col(s"tf_$t") > 0).as(s"df_$t")): _*)
        // one term's contribution, floored to e6 — the same expression the
        // oracle's c_e6 spells, per term
        def cE6(tf: Column, df: Column) =
          when(tf > 0, floor(
            log(lit(1.0) + (col("n") - df + lit(0.5)) / (df + lit(0.5))) *
              (tf * lit(2.2) /
                (tf + lit(1.2) * (lit(0.25) + lit(0.75) *
                  (col("dl") * col("n") / col("tot"))))) * lit(1000000) + lit(0.5)))
        perDoc.crossJoin(broadcast(stats))
          .select(col("doc_id"),
            terms.map(t => (col(s"tf_$t") > 0).cast("long")).reduce(_ + _).as("n_terms"),
            terms.map(t => coalesce(cE6(col(s"tf_$t"), col(s"df_$t")), lit(0L)))
              .reduce(_ + _).as("score_e6"))
          .filter(col("n_terms") > 0)
          .withColumn("score", col("score_e6").cast("double") / 1000000)
          .orderBy(desc("score_e6"), asc("doc_id"))
          .limit(15)
      },
      Some("""WITH d AS (SELECT doc_id, CAST(len(string_split(text,' ')) AS BIGINT) AS dl
             |           FROM documents),
             |tok AS (SELECT doc_id, UNNEST(string_split(text,' ')) AS w FROM documents),
             |tf AS (SELECT doc_id, w, COUNT(*) AS tf FROM tok
             |       WHERE w IN ('hash','join','table') GROUP BY 1, 2),
             |dfq AS (SELECT w, COUNT(*) AS df FROM tf GROUP BY 1),
             |st AS (SELECT COUNT(*) AS n, SUM(dl) AS tot FROM d),
             |c AS (SELECT tf.doc_id,
             |    CAST(FLOOR(LN(1 + (st.n - dfq.df + 0.5) / (dfq.df + 0.5)) *
             |      (tf.tf * 2.2 / (tf.tf + 1.2 * (0.25 + 0.75 *
             |        (CAST(d.dl * st.n AS DOUBLE) / st.tot)))) * 1000000 + 0.5)
             |      AS BIGINT) AS c_e6
             |  FROM tf JOIN dfq USING (w) JOIN d ON d.doc_id = tf.doc_id CROSS JOIN st)
             |SELECT doc_id, COUNT(*) AS n_terms, CAST(SUM(c_e6) AS BIGINT) AS score_e6,
             |  CAST(SUM(c_e6) AS DOUBLE)/1000000 AS score
             |FROM c GROUP BY doc_id
             |ORDER BY score_e6 DESC, doc_id LIMIT 15""".stripMargin)),

    // ---- X3 reciprocal-rank-fusion hybrid retrieval (Cormack et al.,
    // SIGIR'09): fuse the DENSE leg (exact cosine top-20 against the shared
    // IVF index) with a LEXICAL leg (token-set Jaccard top-20, ranked on the
    // integer-floored e9 quotient so the order is engine-exact) by
    // score = Σ 1e9 div (60 + rank) — RRF needs only ranks, so the fused
    // score is EXACT integer arithmetic and the whole query stays
    // hash-checkable. Shapes: the lexical leg is term-at-a-time posting
    // intersection (explode + equi-join on the token, partial-aggregated
    // count per pair — queries broadcast, corpus side never re-keyed on
    // anything wider than a token), the dense leg reuses the build-once
    // index, and the fusion is a (query,neighbor)-keyed outer join of two
    // k-bounded lists: |Q|·k rows, trivially partitioned at any scale.
    Q("x3_rrf_fusion",
      (s, dir) => {
        val idx = ivfIndex(s, dir)
        // both legs share ONE fixed query budget (vec_id/doc_id spaces are
        // aligned, stride from the embeddings count): q ∝ n made the fused
        // query set grow with the corpus — 2.6× growth at the r09 30× probe
        val stride = knnQueryStride(graft.Caches.countOnce(idx.assigned))
        val qv = idx.assigned.filter(col("vec_id") % stride === 0)
          .select(col("vec_id").as("query_id"), col("v").as("qv"))
        val vleg = graft.operators.IvfIndex.knnExact(idx, qv, k = 20, nprobe = 3)
          .select(col("query_id"), col("neighbor_id"), col("rk").as("rank_vec"))
        val lleg = lexicalJaccardTopK(s, docs(s, dir),
          col("doc_id") % stride === 0, k = 20)
        val wf = Window.partitionBy("query_id")
          .orderBy(desc("score_e9"), asc("neighbor_id"))
        vleg.join(lleg, Seq("query_id", "neighbor_id"), "full_outer")
          .withColumn("score_e9",
            coalesce(expr("1000000000L div (60L + rank_vec)"), lit(0L)) +
              coalesce(expr("1000000000L div (60L + rank_lex)"), lit(0L)))
          .withColumn("rk", row_number().over(wf).cast("long"))
          .filter(col("rk") <= 10)
          .select(col("query_id"), col("rk"), col("neighbor_id"),
            col("score_e9"), col("rank_vec"), col("rank_lex"))
          .orderBy("query_id", "rk")
      },
      Some(qstride("""WITH v AS (SELECT query_id, neighbor_id, rv FROM (
             |    SELECT q.vec_id AS query_id, n.vec_id AS neighbor_id,
             |      CAST(ROW_NUMBER() OVER (PARTITION BY q.vec_id
             |        ORDER BY list_cosine_similarity(CAST(q.embedding AS DOUBLE[]),
             |                 CAST(n.embedding AS DOUBLE[])) DESC, n.vec_id)
             |        AS BIGINT) AS rv
             |    FROM embeddings q JOIN embeddings n ON n.vec_id != q.vec_id
             |    WHERE q.vec_id % QSTRIDE = 0)
             |  WHERE rv <= 20),
             |ts AS (SELECT doc_id, list_distinct(string_split(text,' ')) AS tset
             |       FROM documents),
             |l AS (SELECT query_id, neighbor_id, rl FROM (
             |    SELECT q.doc_id AS query_id, d.doc_id AS neighbor_id,
             |      CAST(ROW_NUMBER() OVER (PARTITION BY q.doc_id
             |        ORDER BY (len(list_intersect(q.tset, d.tset)) * 1000000000)
             |          // (len(q.tset) + len(d.tset) - len(list_intersect(q.tset, d.tset)))
             |          DESC, d.doc_id) AS BIGINT) AS rl
             |    FROM ts q JOIN ts d ON d.doc_id != q.doc_id
             |      AND len(list_intersect(q.tset, d.tset)) > 0
             |    WHERE q.doc_id % QSTRIDE = 0)
             |  WHERE rl <= 20),
             |f AS (SELECT COALESCE(v.query_id, l.query_id) AS query_id,
             |    COALESCE(v.neighbor_id, l.neighbor_id) AS neighbor_id,
             |    COALESCE(1000000000 // (60 + v.rv), 0) +
             |      COALESCE(1000000000 // (60 + l.rl), 0) AS score_e9,
             |    v.rv AS rank_vec, l.rl AS rank_lex
             |  FROM v FULL OUTER JOIN l
             |    ON v.query_id = l.query_id AND v.neighbor_id = l.neighbor_id)
             |SELECT query_id, rk, neighbor_id, score_e9, rank_vec, rank_lex FROM (
             |  SELECT *, CAST(ROW_NUMBER() OVER (PARTITION BY query_id
             |    ORDER BY score_e9 DESC, neighbor_id) AS BIGINT) AS rk FROM f)
             |WHERE rk <= 10 ORDER BY query_id, rk""".stripMargin))),

    // ---- X3 int8-quantized exact search: per-vector symmetric scalar
    // quantization (q_j = floor(v_j·127/max|v| + 0.5) — floor(x+0.5), not
    // round(), because floor on an identical IEEE double is identical in
    // every engine while round-half semantics differ). The per-vector
    // scales CANCEL in cosine, so int8 similarity is just the cosine of
    // the integer vectors — and integer dot products (≤ 64·127² ≈ 1e6) are
    // EXACT in doubles regardless of summation order, making this oracle
    // stronger than the float one. This is the memory-bandwidth scale
    // path: 4x smaller vectors per scan, the standard first compression
    // step of a production ANN deployment (recall-vs-exact pinned in
    // LlmSpec).
    Q("x3_knn_int8",
      (s, dir) => {
        val maxabs = array_max(transform(col("v"), x => abs(x)))
        val e = graft.Caches.persist(
          embs(s, dir).select(col("vec_id"), VF.toDouble(col("embedding")).as("v"))
            .withColumn("ma", when(maxabs === 0.0, 1.0).otherwise(maxabs))
            .withColumn("q8", transform(col("v"),
              x => floor(x * lit(127.0) / col("ma") + lit(0.5)).cast("double")))
            .withColumn("n8", VF.l2Norm(col("q8")))
            .select("vec_id", "q8", "n8"))
        val q = e.filter(col("vec_id") % knnQueryStride(graft.Caches.countOnce(e)) === 0)
          .select(col("vec_id").as("query_id"), col("q8").as("qv"), col("n8").as("qn"))
        val w = Window.partitionBy("query_id").orderBy(desc("s"), asc("neighbor_id"))
        e.select(col("vec_id").as("neighbor_id"), col("q8").as("nv"), col("n8").as("nn"))
          .join(broadcast(q), col("neighbor_id") =!= col("query_id"))
          .withColumn("s", NX.dot(col("qv"), col("nv")) / (col("qn") * col("nn")))
          .withColumn("rk", row_number().over(w).cast("long"))
          .filter(col("rk") <= 10)
          .select(col("query_id"), col("rk"), col("neighbor_id"),
            round(col("s"), 4).as("sim"))
          .orderBy("query_id", "rk")
      },
      Some(qstride("""WITH qe AS (
             |  SELECT vec_id,
             |    list_transform(CAST(embedding AS DOUBLE[]),
             |      x -> floor(x * 127.0 /
             |             (CASE WHEN m = 0 THEN 1 ELSE m END) + 0.5)) AS q8
             |  FROM (SELECT vec_id, embedding,
             |          list_max(list_transform(CAST(embedding AS DOUBLE[]),
             |            x -> abs(x))) AS m
             |        FROM embeddings))
             |SELECT query_id, rk, neighbor_id, ROUND(s, 4) AS sim FROM (
             |  SELECT q.vec_id AS query_id, n.vec_id AS neighbor_id,
             |    list_cosine_similarity(q.q8, n.q8) AS s,
             |    CAST(ROW_NUMBER() OVER (PARTITION BY q.vec_id
             |      ORDER BY list_cosine_similarity(q.q8, n.q8) DESC,
             |               n.vec_id) AS BIGINT) AS rk
             |  FROM qe q JOIN qe n ON n.vec_id != q.vec_id
             |  WHERE q.vec_id % QSTRIDE = 0)
             |WHERE rk <= 10 ORDER BY query_id, rk""".stripMargin))),

    // ---- X3 cascaded retrieval: the production two-stage ANN shape —
    // stage 1 scans the 4×-smaller int8 index for a generous top-50
    // candidate pool (memory-bandwidth-bound, x3_knn_int8's exact integer
    // arithmetic), stage 2 reranks ONLY those candidates with full-precision
    // cosine and keeps the top-10. At 100 TB the corpus-sized scan touches
    // only quantized vectors; the float vectors are fetched for 50·q rows —
    // the cascade is the standard first recall/compute trade of a deployed
    // vector store. Both stages are engine-replayable (int8 dots are exact
    // in doubles; the float rerank is the same cosine the brute oracle
    // uses), so the cascade output hash-matches end-to-end — recall vs the
    // uncascaded exact search is pinned in LlmSpec.
    Q("x3_knn_cascade",
      (s, dir) => {
        val maxabs = array_max(transform(col("v"), x => abs(x)))
        val ef = graft.Caches.persist(
          embs(s, dir).select(col("vec_id"), VF.toDouble(col("embedding")).as("v"))
            .withColumn("nrm", VF.l2Norm(col("v"))))
        val e8 = graft.Caches.persist(
          ef.withColumn("ma", when(maxabs === 0.0, 1.0).otherwise(maxabs))
            .withColumn("q8", transform(col("v"),
              x => floor(x * lit(127.0) / col("ma") + lit(0.5)).cast("double")))
            .withColumn("n8", VF.l2Norm(col("q8")))
            .select("vec_id", "q8", "n8"))
        val stride = knnQueryStride(graft.Caches.countOnce(ef))
        val q8 = e8.filter(col("vec_id") % stride === 0)
          .select(col("vec_id").as("query_id"), col("q8").as("qv"), col("n8").as("qn"))
        val w8 = Window.partitionBy("query_id").orderBy(desc("s8"), asc("neighbor_id"))
        val pool = e8
          .select(col("vec_id").as("neighbor_id"), col("q8").as("nv"), col("n8").as("nn"))
          .join(broadcast(q8), col("neighbor_id") =!= col("query_id"))
          .withColumn("s8", NX.dot(col("qv"), col("nv")) / (col("qn") * col("nn")))
          .withColumn("rk8", row_number().over(w8))
          .filter(col("rk8") <= 50)
          .select("query_id", "neighbor_id")
        val qf = ef.filter(col("vec_id") % stride === 0)
          .select(col("vec_id").as("query_id"), col("v").as("fqv"), col("nrm").as("fqn"))
        val w = Window.partitionBy("query_id").orderBy(desc("s"), asc("neighbor_id"))
        pool
          .join(ef.select(col("vec_id").as("neighbor_id"),
            col("v").as("fnv"), col("nrm").as("fnn")), Seq("neighbor_id"))
          .join(broadcast(qf), Seq("query_id"))
          .withColumn("s", NX.dot(col("fqv"), col("fnv")) / (col("fqn") * col("fnn")))
          .withColumn("rk", row_number().over(w).cast("long"))
          .filter(col("rk") <= 10)
          .select(col("query_id"), col("rk"), col("neighbor_id"),
            round(col("s"), 4).as("sim"))
          .orderBy("query_id", "rk")
      },
      Some(qstride("""WITH qe AS (
             |  SELECT vec_id,
             |    list_transform(CAST(embedding AS DOUBLE[]),
             |      x -> floor(x * 127.0 /
             |             (CASE WHEN m = 0 THEN 1 ELSE m END) + 0.5)) AS q8
             |  FROM (SELECT vec_id, embedding,
             |          list_max(list_transform(CAST(embedding AS DOUBLE[]),
             |            x -> abs(x))) AS m
             |        FROM embeddings)),
             |pool AS (SELECT query_id, neighbor_id FROM (
             |    SELECT q.vec_id AS query_id, n.vec_id AS neighbor_id,
             |      ROW_NUMBER() OVER (PARTITION BY q.vec_id
             |        ORDER BY list_cosine_similarity(q.q8, n.q8) DESC,
             |                 n.vec_id) AS rk8
             |    FROM qe q JOIN qe n ON n.vec_id != q.vec_id
             |    WHERE q.vec_id % QSTRIDE = 0)
             |  WHERE rk8 <= 50),
             |r AS (SELECT p.query_id, p.neighbor_id,
             |    list_cosine_similarity(CAST(eq.embedding AS DOUBLE[]),
             |                           CAST(en.embedding AS DOUBLE[])) AS s
             |  FROM pool p
             |  JOIN embeddings eq ON eq.vec_id = p.query_id
             |  JOIN embeddings en ON en.vec_id = p.neighbor_id)
             |SELECT query_id, rk, neighbor_id, ROUND(s, 4) AS sim FROM (
             |  SELECT *, CAST(ROW_NUMBER() OVER (PARTITION BY query_id
             |    ORDER BY s DESC, neighbor_id) AS BIGINT) AS rk FROM r)
             |WHERE rk <= 10 ORDER BY query_id, rk""".stripMargin))),

    // ---- X3 product-quantized cascade (Jegou/Douze/Schmid, "Product
    // Quantization for Nearest Neighbor Search", TPAMI 2011): the 64-dim
    // vector is split into m=16 subvectors of 4 dims; each subspace trains a
    // k=16 codebook (2 Lloyd iterations over the int8-quantized components,
    // seeded from the 16 smallest vec_ids), so a vector is stored as 16
    // 4-bit codes — 8 bytes vs the 256-byte float vector, a 32x
    // bandwidth cut over the corpus-sized stage-1 scan
    // (vs 4x for the int8 cascade). Search is classic ADC as relational
    // algebra: the per-query distance LOOKUP TABLE (8 subs x 16 cids = 128
    // rows/query; here 16 subs) is the small broadcast side of an equi-join against the
    // code table, and SUM over subspaces is a groupBy — no per-row UDF.
    // EVERYTHING is integer arithmetic on int8 components (Lloyd means use
    // floor(sum/count), exact in doubles at these magnitudes; squared-L2
    // sums are <= 8*8*254^2 ~ 4.1e6, exact regardless of summation order),
    // so DuckDB replays training + encode + ADC bit-for-bit as unrolled
    // CTEs and the whole cascade hash-matches — recall vs the exact float
    // top-10 is pinned in LlmSpec.
    //
    // TRAINING runs on the DRIVER over the collected int8 sample — the
    // same statistics-gated pattern as ConnectedComponents' union-find and
    // exactly how production PQ trains (FAISS: a bounded sample, never the
    // corpus; a 65536-vector sample is 4 MB). The driver loop replays the
    // identical integer semantics the oracle's unrolled CTEs compute
    // (strict-< scan = ROW_NUMBER's (d ASC, cid ASC); math.floor(sum/cnt)
    // = FLOOR(SUM/COUNT), exact at these magnitudes), so the hash match is
    // unchanged — and ~15 centroid-sized shuffle stages collapse to zero
    // (measured 5.3 s -> see README bench notes). The collect is GATED:
    // pqTrainSample keeps vec_id % m == 0 with a hard ORDER BY/LIMIT at
    // graft.pq.trainSampleCap (default 65536), so the driver never holds
    // more than the FAISS-standard training sample at any corpus size;
    // below the cap (every test SF) the sample is the full set, and the
    // oracle's train CTE replays the same id-deterministic rule.
    //
    // At 100 TB: the code table is the only corpus-sized scan, and the
    // float rerank fetches 100*q rows — a 10x-oversized pool (vs the int8
    // cascade's 5x) because 4-bit codes are lossier; the pool size is a
    // CONSTANT in corpus size, so the fetch discipline matches
    // x3_knn_cascade.
    Q("x3_knn_pq",
      (s, dir) => {
        val ef = graft.Caches.persist(
          embs(s, dir).select(col("vec_id"), VF.toDouble(col("embedding")).as("v"))
            .withColumn("nrm", VF.l2Norm(col("v"))))
        // quantize/train/encode/ADC-table: ONE shared build (pqBuild)
        // with x3_knn_ivfpq — this flat search scans the WHOLE code table:
        // corpus x queries rows, each ONE native 16-lookup fold
        // (NX.adc); the per-query top-100 rank prunes inside
        // WindowGroupLimit before any exchange
        val (codes, qtabs) = pqBuild(s, ef.select("vec_id", "v"))
        val wp = Window.partitionBy("query_id").orderBy(asc("adist"), asc("neighbor_id"))
        val pool = codes.crossJoin(broadcast(qtabs))
          .filter(col("vec_id") =!= col("query_id"))
          .select(col("query_id"), col("vec_id").as("neighbor_id"),
            NX.adc(col("code"), col("qtab")).as("adist"))
          .withColumn("rk8", row_number().over(wp))
          .filter(col("rk8") <= 100)
          .select("query_id", "neighbor_id")
        // stage 2: full-precision rerank of the 100-candidate pool; same
        // fixed query budget as pqBuild's ADC table
        val qf = ef.filter(col("vec_id") % knnQueryStride(graft.Caches.countOnce(ef)) === 0)
          .select(col("vec_id").as("query_id"), col("v").as("fqv"), col("nrm").as("fqn"))
        val w = Window.partitionBy("query_id").orderBy(desc("s"), asc("neighbor_id"))
        pool
          .join(ef.select(col("vec_id").as("neighbor_id"),
            col("v").as("fnv"), col("nrm").as("fnn")), Seq("neighbor_id"))
          .join(broadcast(qf), Seq("query_id"))
          .withColumn("s", NX.dot(col("fqv"), col("fnv")) / (col("fqn") * col("fnn")))
          .withColumn("rk", row_number().over(w).cast("long"))
          .filter(col("rk") <= 10)
          .select(col("query_id"), col("rk"), col("neighbor_id"),
            round(col("s"), 4).as("sim"))
          .orderBy("query_id", "rk")
      },
      Some(qstride("""WITH e AS (
             |  SELECT vec_id,
             |    list_transform(CAST(embedding AS DOUBLE[]),
             |      x -> floor(x * 127.0 /
             |             (CASE WHEN m = 0 THEN 1 ELSE m END) + 0.5)) AS q8
             |  FROM (SELECT vec_id, embedding,
             |          list_max(list_transform(CAST(embedding AS DOUBLE[]),
             |            x -> abs(x))) AS m
             |        FROM embeddings)),
             |sv AS (
             |  SELECT vec_id, CAST((i-1)//4 AS BIGINT) AS sub,
             |         CAST((i-1)%4 AS BIGINT) AS pos, x
             |  FROM (SELECT vec_id, generate_subscripts(q8,1) AS i,
             |               UNNEST(q8) AS x FROM e)),
             |train AS (
             |  SELECT vec_id FROM e
             |  WHERE vec_id % (SELECT GREATEST(1, COUNT(*) // 65536) FROM e) = 0
             |  ORDER BY vec_id LIMIT 65536),
             |tsv AS (SELECT s.* FROM sv s JOIN train t ON t.vec_id = s.vec_id),
             |seeds AS (
             |  SELECT vec_id, CAST(ROW_NUMBER() OVER (ORDER BY vec_id)-1 AS BIGINT) AS cid
             |  FROM (SELECT vec_id FROM train ORDER BY vec_id LIMIT 16)),
             |c0 AS (SELECT s.sub, sd.cid, s.pos, s.x AS c
             |  FROM tsv s JOIN seeds sd ON sd.vec_id = s.vec_id),
             |a0 AS (SELECT vec_id, sub, cid FROM (
             |    SELECT s.vec_id, s.sub, c.cid,
             |      ROW_NUMBER() OVER (PARTITION BY s.vec_id, s.sub
             |        ORDER BY SUM((s.x-c.c)*(s.x-c.c)) ASC, c.cid ASC) AS rk
             |    FROM tsv s JOIN c0 c ON c.sub = s.sub AND c.pos = s.pos
             |    GROUP BY s.vec_id, s.sub, c.cid) WHERE rk = 1),
             |c1 AS (SELECT c0.sub, c0.cid, c0.pos, COALESCE(u.cn, c0.c) AS c
             |  FROM c0 LEFT JOIN (
             |    SELECT a.sub, a.cid, s.pos, FLOOR(SUM(s.x)/COUNT(*)) AS cn
             |    FROM a0 a JOIN tsv s ON s.vec_id = a.vec_id AND s.sub = a.sub
             |    GROUP BY a.sub, a.cid, s.pos) u
             |  ON u.sub = c0.sub AND u.cid = c0.cid AND u.pos = c0.pos),
             |a1 AS (SELECT vec_id, sub, cid FROM (
             |    SELECT s.vec_id, s.sub, c.cid,
             |      ROW_NUMBER() OVER (PARTITION BY s.vec_id, s.sub
             |        ORDER BY SUM((s.x-c.c)*(s.x-c.c)) ASC, c.cid ASC) AS rk
             |    FROM tsv s JOIN c1 c ON c.sub = s.sub AND c.pos = s.pos
             |    GROUP BY s.vec_id, s.sub, c.cid) WHERE rk = 1),
             |c2 AS (SELECT c1.sub, c1.cid, c1.pos, COALESCE(u.cn, c1.c) AS c
             |  FROM c1 LEFT JOIN (
             |    SELECT a.sub, a.cid, s.pos, FLOOR(SUM(s.x)/COUNT(*)) AS cn
             |    FROM a1 a JOIN tsv s ON s.vec_id = a.vec_id AND s.sub = a.sub
             |    GROUP BY a.sub, a.cid, s.pos) u
             |  ON u.sub = c1.sub AND u.cid = c1.cid AND u.pos = c1.pos),
             |codes AS (SELECT vec_id, sub, cid FROM (
             |    SELECT s.vec_id, s.sub, c.cid,
             |      ROW_NUMBER() OVER (PARTITION BY s.vec_id, s.sub
             |        ORDER BY SUM((s.x-c.c)*(s.x-c.c)) ASC, c.cid ASC) AS rk
             |    FROM sv s JOIN c2 c ON c.sub = s.sub AND c.pos = s.pos
             |    GROUP BY s.vec_id, s.sub, c.cid) WHERE rk = 1),
             |qd AS (
             |  SELECT s.vec_id AS query_id, s.sub, c.cid,
             |         SUM((s.x-c.c)*(s.x-c.c)) AS d
             |  FROM sv s JOIN c2 c ON c.sub = s.sub AND c.pos = s.pos
             |  WHERE s.vec_id % QSTRIDE = 0
             |  GROUP BY 1, 2, 3),
             |pool AS (SELECT query_id, neighbor_id FROM (
             |    SELECT q.query_id, k.vec_id AS neighbor_id,
             |      ROW_NUMBER() OVER (PARTITION BY q.query_id
             |        ORDER BY SUM(q.d) ASC, k.vec_id ASC) AS rk8
             |    FROM codes k JOIN qd q ON q.sub = k.sub AND q.cid = k.cid
             |    WHERE k.vec_id != q.query_id
             |    GROUP BY q.query_id, k.vec_id)
             |  WHERE rk8 <= 100),
             |r AS (SELECT p.query_id, p.neighbor_id,
             |    list_cosine_similarity(CAST(eq.embedding AS DOUBLE[]),
             |                           CAST(en.embedding AS DOUBLE[])) AS s
             |  FROM pool p
             |  JOIN embeddings eq ON eq.vec_id = p.query_id
             |  JOIN embeddings en ON en.vec_id = p.neighbor_id)
             |SELECT query_id, rk, neighbor_id, ROUND(s, 4) AS sim FROM (
             |  SELECT *, CAST(ROW_NUMBER() OVER (PARTITION BY query_id
             |    ORDER BY s DESC, neighbor_id) AS BIGINT) AS rk FROM r)
             |WHERE rk <= 10 ORDER BY query_id, rk""".stripMargin))),

    // ---- X3 IVF+PQ: FAISS's flagship composition — the IVF index ROUTES
    // (each query probes its nprobe=8 nearest cells, exactly knnApprox's
    // deterministic (desc qcos, asc cell) convention), PQ SCORES (ADC over
    // ONLY the probed cells' members' 16 4-bit codes), and full-precision
    // cosine RERANKS the 100-candidate pool. At 100 TB this is the deployed
    // operating point: the corpus-sized structures touched per query are
    // the probed cells' code rows (32x smaller than floats) — the float
    // vectors are fetched for 50*q rows. BOTH trained structures are
    // portable (integer-routed IVF cells + integer-exact PQ codebooks), so
    // the oracle replays the WHOLE composition — routing CTEs + PQ
    // train/encode/ADC CTEs + rerank — and the full neighbor lists
    // hash-match; LlmSpec additionally pins recall vs brute force with
    // bit-exact overlap sims.
    Q("x3_knn_ivfpq",
      (s, dir) => knnIvfPqRaw(s, dir),
      Some(qstride(ivfRoutingCtes +
        """sv AS (
          |  SELECT vec_id, CAST((i-1)//4 AS BIGINT) AS sub,
          |         CAST((i-1)%4 AS BIGINT) AS pos, x
          |  FROM (SELECT vec_id, generate_subscripts(q8,1) AS i,
          |               UNNEST(q8) AS x FROM e)),
          |train AS (
          |  SELECT vec_id FROM e
          |  WHERE vec_id % (SELECT GREATEST(1, COUNT(*) // 65536) FROM e) = 0
          |  ORDER BY vec_id LIMIT 65536),
          |tsv AS (SELECT s.* FROM sv s JOIN train t ON t.vec_id = s.vec_id),
          |pseeds AS (
          |  SELECT vec_id, CAST(ROW_NUMBER() OVER (ORDER BY vec_id)-1 AS BIGINT) AS cid
          |  FROM (SELECT vec_id FROM train ORDER BY vec_id LIMIT 16)),
          |pc0 AS (SELECT s.sub, sd.cid, s.pos, s.x AS c
          |  FROM tsv s JOIN pseeds sd ON sd.vec_id = s.vec_id),
          |pa0 AS (SELECT vec_id, sub, cid FROM (
          |    SELECT s.vec_id, s.sub, c.cid,
          |      ROW_NUMBER() OVER (PARTITION BY s.vec_id, s.sub
          |        ORDER BY SUM((s.x-c.c)*(s.x-c.c)) ASC, c.cid ASC) AS rk
          |    FROM tsv s JOIN pc0 c ON c.sub = s.sub AND c.pos = s.pos
          |    GROUP BY s.vec_id, s.sub, c.cid) WHERE rk = 1),
          |pc1 AS (SELECT pc0.sub, pc0.cid, pc0.pos, COALESCE(u.cn, pc0.c) AS c
          |  FROM pc0 LEFT JOIN (
          |    SELECT a.sub, a.cid, s.pos, FLOOR(SUM(s.x)/COUNT(*)) AS cn
          |    FROM pa0 a JOIN tsv s ON s.vec_id = a.vec_id AND s.sub = a.sub
          |    GROUP BY a.sub, a.cid, s.pos) u
          |  ON u.sub = pc0.sub AND u.cid = pc0.cid AND u.pos = pc0.pos),
          |pa1 AS (SELECT vec_id, sub, cid FROM (
          |    SELECT s.vec_id, s.sub, c.cid,
          |      ROW_NUMBER() OVER (PARTITION BY s.vec_id, s.sub
          |        ORDER BY SUM((s.x-c.c)*(s.x-c.c)) ASC, c.cid ASC) AS rk
          |    FROM tsv s JOIN pc1 c ON c.sub = s.sub AND c.pos = s.pos
          |    GROUP BY s.vec_id, s.sub, c.cid) WHERE rk = 1),
          |pc2 AS (SELECT pc1.sub, pc1.cid, pc1.pos, COALESCE(u.cn, pc1.c) AS c
          |  FROM pc1 LEFT JOIN (
          |    SELECT a.sub, a.cid, s.pos, FLOOR(SUM(s.x)/COUNT(*)) AS cn
          |    FROM pa1 a JOIN tsv s ON s.vec_id = a.vec_id AND s.sub = a.sub
          |    GROUP BY a.sub, a.cid, s.pos) u
          |  ON u.sub = pc1.sub AND u.cid = pc1.cid AND u.pos = pc1.pos),
          |codes AS (SELECT vec_id, sub, cid FROM (
          |    SELECT s.vec_id, s.sub, c.cid,
          |      ROW_NUMBER() OVER (PARTITION BY s.vec_id, s.sub
          |        ORDER BY SUM((s.x-c.c)*(s.x-c.c)) ASC, c.cid ASC) AS rk
          |    FROM sv s JOIN pc2 c ON c.sub = s.sub AND c.pos = s.pos
          |    GROUP BY s.vec_id, s.sub, c.cid) WHERE rk = 1),
          |qd AS (
          |  SELECT s.vec_id AS query_id, s.sub, c.cid,
          |    SUM((s.x-c.c)*(s.x-c.c)) AS d
          |  FROM sv s JOIN pc2 c ON c.sub = s.sub AND c.pos = s.pos
          |  WHERE s.vec_id % QSTRIDE = 0
          |  GROUP BY s.vec_id, s.sub, c.cid),
          |probes AS (SELECT query_id, cell FROM (
          |    SELECT q.vec_id AS query_id, c.cell,
          |      ROW_NUMBER() OVER (PARTITION BY q.vec_id ORDER BY
          |        list_cosine_similarity(q.v, c.cv) DESC, c.cell ASC) AS prk
          |    FROM e q CROSS JOIN cent c WHERE q.vec_id % QSTRIDE = 0)
          |  WHERE prk <= 8),
          |adc AS (
          |  SELECT p.query_id, cd.vec_id AS neighbor_id, SUM(q.d) AS adist
          |  FROM probes p
          |  JOIN a1 m ON m.cell = p.cell AND m.vec_id != p.query_id
          |  JOIN codes cd ON cd.vec_id = m.vec_id
          |  JOIN qd q ON q.query_id = p.query_id AND q.sub = cd.sub
          |           AND q.cid = cd.cid
          |  GROUP BY p.query_id, cd.vec_id),
          |pool AS (SELECT query_id, neighbor_id FROM (
          |    SELECT query_id, neighbor_id,
          |      ROW_NUMBER() OVER (PARTITION BY query_id
          |        ORDER BY adist ASC, neighbor_id ASC) AS prk
          |    FROM adc) WHERE prk <= 100)
          |SELECT query_id, rk, neighbor_id, ROUND(s, 4) AS sim FROM (
          |  SELECT p.query_id, p.neighbor_id,
          |    list_cosine_similarity(q.v, n.v) AS s,
          |    CAST(ROW_NUMBER() OVER (PARTITION BY p.query_id
          |      ORDER BY list_cosine_similarity(q.v, n.v) DESC,
          |               p.neighbor_id ASC) AS BIGINT) AS rk
          |  FROM pool p
          |  JOIN e q ON q.vec_id = p.query_id
          |  JOIN e n ON n.vec_id = p.neighbor_id)
          |WHERE rk <= 10 ORDER BY query_id, rk""".stripMargin))),

    // ---- A7: per-label centroid, flattened to (label, pos, value) rows so the
    // aggregation is fully distributed and the oracle is engine-neutral
    Q("q_label_centroids",
      (s, dir) =>
        embsPlain(s, dir)
          .select(col("label"), posexplode(VF.toDouble(col("embedding"))).as(Seq("pos", "x")))
          .groupBy("label", "pos")
          .agg(round(avg("x"), 4).as("cv"))
          .select(col("label"), col("pos").cast("long").as("pos"), col("cv"))
          .orderBy("label", "pos"),
      Some("""SELECT label, pos, ROUND(AVG(val), 4) AS cv FROM (
             |  SELECT label, CAST(generate_subscripts(embedding,1) AS BIGINT)-1 AS pos,
             |    UNNEST(CAST(embedding AS DOUBLE[])) AS val
             |  FROM embeddings)
             |GROUP BY label, pos ORDER BY label, pos""".stripMargin)),

    // ---- X4 word frequency (top 100)
    Q("x4_wordcount",
      (s, dir) =>
        docs(s, dir)
          .select(explode(TF.tokens(col("text"))).as("word"))
          .groupBy("word").agg(count(lit(1)).as("n"))
          .orderBy(desc("n"), asc("word"))
          .limit(100),
      Some("""SELECT word, COUNT(*) AS n
             |FROM (SELECT UNNEST(string_split(text,' ')) AS word FROM documents)
             |GROUP BY word ORDER BY n DESC, word LIMIT 100""".stripMargin)),

    // ---- X4 per-language stats
    Q("x4_lang_stats",
      (s, dir) =>
        docs(s, dir).groupBy("lang").agg(
          count(lit(1)).as("n_docs"),
          // integer sum -> avg in exact e2 units via integer floor-division
          // (ROUND of a quotient is tie-unstable cross-engine)
          (expr("SUM(n_chars) * 100 div COUNT(1)").cast("double") / 100.0)
            .as("avg_chars"),
          sum(length(col("text")).cast("long")).as("total_len"),
          countDistinct(col("source")).as("n_sources"))
          .orderBy("lang"),
      Some("""SELECT lang, COUNT(*) AS n_docs,
             |  CAST((CAST(SUM(n_chars) AS BIGINT) * 100) // COUNT(*) AS DOUBLE)/100 AS avg_chars,
             |  CAST(SUM(LENGTH(text)) AS BIGINT) AS total_len,
             |  COUNT(DISTINCT source) AS n_sources
             |FROM documents GROUP BY lang ORDER BY lang""".stripMargin)),

    // ---- X4 per-doc quality features (length / word stats / type-token ratio)
    Q("x4_doc_features",
      (s, dir) => {
        val toks = TF.tokens(col("text"))
        // ratios in exact e4 units (integer floor-division) — see x4_quality
        docs(s, dir).select(
          col("doc_id"),
          length(col("text")).cast("long").as("text_len"),
          size(toks).cast("long").as("n_words"),
          size(array_distinct(toks)).cast("long").as("n_distinct_words"),
          (size(array_distinct(toks)).cast("long") * 10000 / size(toks).cast("long"))
            .cast("long").cast("double").divide(10000.0).as("ttr"),
          ((length(col("text")) - (size(toks) - 1)).cast("long") * 10000 /
            size(toks).cast("long")).cast("long").cast("double").divide(10000.0)
            .as("avg_word_len"))
          .orderBy("doc_id")
      },
      Some("""SELECT doc_id, LENGTH(text) AS text_len,
             |  len(string_split(text,' ')) AS n_words,
             |  len(list_distinct(string_split(text,' '))) AS n_distinct_words,
             |  CAST((CAST(len(list_distinct(string_split(text,' '))) AS BIGINT) * 10000)
             |    // len(string_split(text,' ')) AS DOUBLE)/10000 AS ttr,
             |  CAST((CAST(LENGTH(text) - (len(string_split(text,' ')) - 1) AS BIGINT) * 10000)
             |    // len(string_split(text,' ')) AS DOUBLE)/10000 AS avg_word_len
             |FROM documents ORDER BY doc_id""".stripMargin)),

    // ---- X4 token counting, BPE-ish: greedy <=4-char alnum chunks via regex
    Q("x4_token_count",
      (s, dir) =>
        docs(s, dir).select(
          col("doc_id"),
          size(split(col("text"), " ")).cast("long").as("n_words"),
          size(regexp_extract_all(col("text"), lit("[a-z0-9]{1,4}"), lit(0)))
            .cast("long").as("n_subword_tokens"))
          .orderBy("doc_id"),
      Some("""SELECT doc_id, len(string_split(text,' ')) AS n_words,
             |  len(regexp_extract_all(text, '[a-z0-9]{1,4}')) AS n_subword_tokens
             |FROM documents ORDER BY doc_id""".stripMargin)),

    // ---- X4 language-ID: stopword-marker frequency heuristic, argmax with
    // fixed tie order (en > es > de). Deterministic and engine-neutral.
    Q("x4_langid",
      (s, dir) => {
        val toks = TF.tokens(col("text"))
        def hits(words: Seq[String]) =
          size(filter(toks, x => x.isin(words: _*))).cast("long")
        val en = hits(Seq("the", "a", "of", "and", "to"))
        val es = hits(Seq("el", "la", "de", "los", "y"))
        val de = hits(Seq("der", "die", "das", "und", "ein"))
        docs(s, dir).select(
          col("doc_id"), col("lang"),
          en.as("en_hits"), es.as("es_hits"), de.as("de_hits"),
          when(en >= es && en >= de, "en")
            .when(es >= de, "es")
            .otherwise("de").as("lang_pred"))
          .orderBy("doc_id")
      },
      Some("""SELECT doc_id, lang,
             |  len(list_filter(string_split(text,' '),
             |      x -> x IN ('the','a','of','and','to'))) AS en_hits,
             |  len(list_filter(string_split(text,' '),
             |      x -> x IN ('el','la','de','los','y'))) AS es_hits,
             |  len(list_filter(string_split(text,' '),
             |      x -> x IN ('der','die','das','und','ein'))) AS de_hits,
             |  CASE
             |    WHEN len(list_filter(string_split(text,' '), x -> x IN ('the','a','of','and','to')))
             |         >= len(list_filter(string_split(text,' '), x -> x IN ('el','la','de','los','y')))
             |     AND len(list_filter(string_split(text,' '), x -> x IN ('the','a','of','and','to')))
             |         >= len(list_filter(string_split(text,' '), x -> x IN ('der','die','das','und','ein')))
             |    THEN 'en'
             |    WHEN len(list_filter(string_split(text,' '), x -> x IN ('el','la','de','los','y')))
             |         >= len(list_filter(string_split(text,' '), x -> x IN ('der','die','das','und','ein')))
             |    THEN 'es'
             |    ELSE 'de' END AS lang_pred
             |FROM documents ORDER BY doc_id""".stripMargin)),

    // ---- X4 document fingerprint: order-sensitive rolling hash in PORTABLE
    // integer arithmetic (char-polynomial mod 1e9+7 per token, token-
    // polynomial mod 2^31-1 per doc) — recomputable by any engine reading a
    // dataset catalog, and therefore oracle-checkable. The xxhash64 variant
    // (TF.docFingerprint) remains the cheaper engine-internal form.
    Q("x4_fingerprint",
      (s, dir) =>
        docs(s, dir).select(col("doc_id"),
            TF.docFingerprintPortable(col("text")).as("fp"))
          .orderBy("doc_id"),
      Some("""SELECT doc_id,
             |  list_reduce(
             |    [CAST(0 AS BIGINT)] ||
             |    [list_reduce([CAST(0 AS BIGINT)] ||
             |        [CAST(unicode(c) AS BIGINT) FOR c IN string_split(w,'')],
             |        (a, b) -> (a * 31 + b) % 1000000007)
             |     FOR w IN string_split(text,' ')],
             |    (acc, th) -> (acc * 1000003 + th) % 2147483647) AS fp
             |FROM documents ORDER BY doc_id""".stripMargin)),

    // ---- X4 quality scoring: stopword ratio, punctuation density, mean word
    // length, all-caps share — the classic pretraining-corpus quality filters
    // (C4/Gopher-style), each a pure expression over the token array
    Q("x4_quality",
      (s, dir) => {
        val toks = TF.tokens(col("text"))
        val stop = Seq("the", "a", "of", "and", "to", "in", "is", "it")
        val nStop = size(filter(toks, x => x.isin(stop: _*)))
        // ratios in exact e4 units via integer floor-division — ROUND of an
        // integer/integer quotient is tie-unstable cross-engine whenever the
        // denominator is of the form 2^a*5^b but not a power of two (e.g. a
        // 160-char doc makes punct_ratio k/160 end exactly in ...5)
        def ratioE4(num: Column, den: Column): Column =
          (num.cast("long") * 10000 / den.cast("long")).cast("long")
            .cast("double") / 10000.0
        val nPunct = length(col("text")) -
          length(regexp_replace(col("text"), lit("[.,;:!?]"), lit("")))
        val nNonSpace = length(regexp_replace(col("text"), lit(" "), lit("")))
        docs(s, dir).select(
          col("doc_id"),
          ratioE4(nStop, size(toks)).as("stopword_ratio"),
          ratioE4(nPunct, length(col("text"))).as("punct_ratio"),
          ratioE4(nNonSpace, size(toks)).as("mean_word_len"),
          (size(toks) >= 5 && nStop >= 1).as("passes_quality"))
          .orderBy("doc_id")
      },
      Some("""SELECT doc_id,
             |  CAST((CAST(len(list_filter(string_split(text,' '),
             |    x -> x IN ('the','a','of','and','to','in','is','it'))) AS BIGINT) * 10000)
             |    // len(string_split(text,' ')) AS DOUBLE)/10000 AS stopword_ratio,
             |  CAST((CAST(LENGTH(text) - LENGTH(regexp_replace(text,'[.,;:!?]','','g')) AS BIGINT)
             |    * 10000) // LENGTH(text) AS DOUBLE)/10000 AS punct_ratio,
             |  CAST((CAST(LENGTH(regexp_replace(text,' ','','g')) AS BIGINT) * 10000)
             |    // len(string_split(text,' ')) AS DOUBLE)/10000 AS mean_word_len,
             |  len(string_split(text,' ')) >= 5 AND
             |    len(list_filter(string_split(text,' '),
             |      x -> x IN ('the','a','of','and','to','in','is','it'))) >= 1 AS passes_quality
             |FROM documents ORDER BY doc_id""".stripMargin)),

    // ---- X4 TF-IDF salient terms: top-3 terms per doc. Ranking uses ONLY
    // integer keys (tf desc, df asc, term asc) so cross-engine float noise in
    // ln() can never flip a rank; the tf-idf score itself is informational
    // output (identical integers into ln -> same double to 4 decimals).
    Q("x4_tfidf",
      (s, dir) => {
        val d = docs(s, dir)
        val tok = d.select(col("doc_id"), explode(TF.tokens(col("text"))).as("w"))
        val tf = tok.groupBy("doc_id", "w").agg(count(lit(1)).as("tf"))
        val dfq = tf.groupBy("w").agg(count(lit(1)).as("df"))
        val n = d.agg(count(lit(1)).as("n"))
        val w = Window.partitionBy("doc_id").orderBy(desc("tf"), asc("df"), asc("w"))
        tf.join(dfq, "w").crossJoin(broadcast(n))
          .withColumn("rk", row_number().over(w).cast("long"))
          .filter(col("rk") <= 3)
          .select(col("doc_id"), col("rk"), col("w").as("term"),
            col("tf"), col("df"),
            round(col("tf") * log(col("n").cast("double") / col("df")), 4).as("score"))
          .orderBy("doc_id", "rk")
      },
      Some("""WITH tok AS (SELECT doc_id, UNNEST(string_split(text,' ')) AS w FROM documents),
             |tf AS (SELECT doc_id, w, COUNT(*) AS tf FROM tok GROUP BY 1, 2),
             |dfq AS (SELECT w, COUNT(*) AS df FROM tf GROUP BY 1),
             |n AS (SELECT COUNT(*) AS n FROM documents)
             |SELECT doc_id, rk, term, tf, df, score FROM (
             |  SELECT tf.doc_id, tf.w AS term, tf.tf, dfq.df,
             |    ROUND(tf.tf * LN(CAST(n.n AS DOUBLE) / dfq.df), 4) AS score,
             |    ROW_NUMBER() OVER (PARTITION BY tf.doc_id
             |      ORDER BY tf.tf DESC, dfq.df ASC, tf.w ASC) AS rk
             |  FROM tf JOIN dfq USING (w) CROSS JOIN n)
             |WHERE rk <= 3 ORDER BY doc_id, rk""".stripMargin)),

    // ---- X4 training-chunk splitting: fixed 20-token windows, stride 10
    // (overlapping chunks, the standard pretraining shape). Pure array math
    // per doc — explode produces (doc, chunk) rows ready to repartition for
    // downstream tokenization.
    Q("x4_chunk",
      (s, dir) => {
        val toks = TF.tokens(col("text"))
        val size_ = 20; val stride = 10
        docs(s, dir).select(
          col("doc_id"),
          posexplode(transform(
            sequence(lit(1), greatest(size(toks) - (size_ - stride), lit(1)), lit(stride)),
            off => concat_ws(" ", slice(toks, off, lit(size_)))))
            .as(Seq("chunk_no", "chunk")))
          .select(col("doc_id"), col("chunk_no").cast("long").as("chunk_no"),
            col("chunk"),
            size(split(col("chunk"), " ")).cast("long").as("n_tokens"))
          .orderBy("doc_id", "chunk_no")
      },
      Some("""WITH t AS (SELECT doc_id, string_split(text,' ') AS toks FROM documents)
             |SELECT doc_id, CAST(i AS BIGINT) AS chunk_no,
             |  array_to_string(toks[o:o+19], ' ') AS chunk,
             |  CAST(len(toks[o:o+19]) AS BIGINT) AS n_tokens
             |FROM (SELECT doc_id, toks, UNNEST(range(1, greatest(len(toks)-10,1)+1, 10)) AS o,
             |        UNNEST(range(0, CAST(ceil(greatest(len(toks)-10,1)/10.0) AS INT), 1)) AS i
             |      FROM t)
             |ORDER BY doc_id, chunk_no""".stripMargin)),

    // ---- X4 scrubbing: digit masking + token-level redaction counts (the
    // PII-filter shape: regexp_replace over the raw text, counts for audit)
    Q("x4_scrub",
      (s, dir) =>
        docs(s, dir).select(
          col("doc_id"),
          regexp_replace(col("text"), lit("[0-9]"), lit("#")).as("scrubbed"),
          (length(col("text")) -
            length(regexp_replace(col("text"), lit("[0-9]"), lit(""))))
            .cast("long").as("n_masked"))
          .orderBy("doc_id"),
      Some("""SELECT doc_id,
             |  regexp_replace(text, '[0-9]', '#', 'g') AS scrubbed,
             |  CAST(LENGTH(text) - LENGTH(regexp_replace(text, '[0-9]', '', 'g')) AS BIGINT)
             |    AS n_masked
             |FROM documents ORDER BY doc_id""".stripMargin)),

    // ---- X4 corpus encoding: build the frequency-ranked vocabulary
    // (top-1000 tokens, id = rank) and re-emit every document as its id
    // sequence with OOV→0 — the tokenizer-apply step that turns curated
    // text into model input. Scale shape: the vocab is k-BOUNDED (the
    // single-partition ranking window runs over the LIMITED 1000-row
    // frame, RangedNtile's P-row pattern — never the token table), rides
    // a broadcast into the position-exploded token stream, and each doc's
    // ids reassemble order-safely via array_sort on (pos, id) structs —
    // no order-dependent aggregation.
    Q("x4_encode",
      (s, dir) => {
        val tok = docs(s, dir)
          .select(col("doc_id"), posexplode(TF.tokens(col("text"))).as(Seq("pos", "w")))
        val vocab = tok.groupBy("w").agg(count(lit(1)).as("cnt"))
          .orderBy(desc("cnt"), asc("w")).limit(1000)
          .withColumn("id",
            row_number().over(Window.orderBy(desc("cnt"), asc("w"))).cast("long"))
          .select("w", "id")
        tok.join(broadcast(vocab), Seq("w"), "left")
          .withColumn("id", coalesce(col("id"), lit(0L)))
          .groupBy("doc_id")
          .agg(count(lit(1)).as("n_tokens"),
            sum(when(col("id") === 0L, 1L).otherwise(0L)).as("n_oov"),
            array_join(expr("transform(array_sort(collect_list(struct(pos, id))), x -> x.id)"),
              " ").as("ids"))
          .orderBy("doc_id")
      },
      Some("""WITH ws AS (SELECT doc_id, string_split(text, ' ') AS ww FROM documents),
             |tok AS (SELECT doc_id, ww[CAST(i AS INT)] AS w, CAST(i AS BIGINT) AS pos
             |  FROM ws, unnest(range(1, len(ww) + 1)) AS t(i)),
             |vocab AS (SELECT w, CAST(ROW_NUMBER() OVER (ORDER BY COUNT(*) DESC, w)
             |    AS BIGINT) AS id
             |  FROM tok GROUP BY w ORDER BY COUNT(*) DESC, w LIMIT 1000)
             |SELECT tok.doc_id, COUNT(*) AS n_tokens,
             |  CAST(SUM(CASE WHEN vocab.id IS NULL THEN 1 ELSE 0 END) AS BIGINT)
             |    AS n_oov,
             |  string_agg(CAST(COALESCE(vocab.id, 0) AS VARCHAR), ' ' ORDER BY tok.pos)
             |    AS ids
             |FROM tok LEFT JOIN vocab USING (w)
             |GROUP BY tok.doc_id ORDER BY tok.doc_id""".stripMargin)),

    // ---- X4 feature hashing (the hashing trick): every token folds into
    // one of 32 buckets via the PORTABLE word hash, per-doc bucket counts
    // are the document's fixed-dimension count vector — the vocab-free
    // text-to-vector bridge that needs no dictionary broadcast and no
    // vocabulary-sized state at any corpus size (the property that makes
    // it the default featurizer at 100 TB). Emitted unpivoted as
    // (doc_id, pos, cnt) rows like q_label_centroids, integer-exact, one
    // (doc, bucket)-keyed count shuffle with map-side partial aggregation.
    Q("x4_hash_embed",
      (s, dir) => {
        docs(s, dir)
          .select(col("doc_id"),
            explode(NX.wordHash62(TF.tokens(col("text"))))
              .as("h"))
          .select(col("doc_id"), expr("pmod(h, 32)").as("pos"))
          .groupBy("doc_id", "pos").agg(count(lit(1)).as("cnt"))
          .orderBy("doc_id", "pos")
      },
      Some("""WITH tok AS (SELECT doc_id, unnest(string_split(text,' ')) AS w
             |  FROM documents),
             |th AS (SELECT doc_id,
             |    (list_reduce([CAST(0 AS BIGINT)] ||
             |       [CAST(unicode(c) AS BIGINT) FOR c IN string_split(w,'')],
             |       (a,b) -> (a*31+b) % 1000000007) * 2147483648 +
             |     list_reduce([CAST(0 AS BIGINT)] ||
             |       [CAST(unicode(c) AS BIGINT) FOR c IN string_split(w,'')],
             |       (a,b) -> (a*131+b) % 2147483647)) AS h
             |  FROM tok)
             |SELECT doc_id, h % 32 AS pos, COUNT(*) AS cnt
             |FROM th GROUP BY doc_id, pos ORDER BY doc_id, pos""".stripMargin)),

    // ---- X4 learned quality classifier: linear (fastText-style) scorer
    // over the x4_hash_embed bucket counts — the weights are a SHIPPED
    // MODEL ARTIFACT (offline logistic distillation of the heuristic gate,
    // see qualityClfWeights) and inference is pure relational algebra:
    // bucket-count aggregation, 32-row broadcast weight join, integer
    // dot + bias, fixed-point fast-sigmoid. Everything is exact longs, so
    // the oracle replays it from a literal weight table — hash-matched
    // model inference. LlmSpec pins agreement with the distilled gate;
    // curationStages(useClassifier = true) runs it as the funnel's
    // optional learned stage-1 leg.
    Q("x4_quality_classifier",
      (s, dir) => qualityClassifierScores(s, docs(s, dir)).orderBy("doc_id"),
      Some("""WITH w(pos, wt) AS (VALUES
             |  (0, 0), (1, 570920), (2, -13426), (3, -2595), (4, 25684),
             |  (5, -69844), (6, 162238), (7, 0), (8, 0), (9, 0), (10, 64658),
             |  (11, 12068), (12, -27222), (13, -5244), (14, 0), (15, 100237),
             |  (16, 85072), (17, 527929), (18, 33906), (19, -11626),
             |  (20, -105083), (21, 0), (22, 0), (23, 0), (24, 40539),
             |  (25, 111815), (26, 41787), (27, 0), (28, 0), (29, 0),
             |  (30, 76520), (31, 0)),
             |tok AS (SELECT doc_id, unnest(string_split(text,' ')) AS wd
             |  FROM documents),
             |th AS (SELECT doc_id,
             |    (list_reduce([CAST(0 AS BIGINT)] ||
             |       [CAST(unicode(c) AS BIGINT) FOR c IN string_split(wd,'')],
             |       (a,b) -> (a*31+b) % 1000000007) * 2147483648 +
             |     list_reduce([CAST(0 AS BIGINT)] ||
             |       [CAST(unicode(c) AS BIGINT) FOR c IN string_split(wd,'')],
             |       (a,b) -> (a*131+b) % 2147483647)) AS h
             |  FROM tok),
             |f AS (SELECT doc_id, h % 32 AS pos, COUNT(*) AS cnt
             |  FROM th GROUP BY doc_id, pos),
             |z AS (SELECT f.doc_id,
             |    CAST(SUM(f.cnt * w.wt) - 1401090 AS BIGINT) AS logit_e6
             |  FROM f JOIN w USING (pos) GROUP BY f.doc_id)
             |SELECT doc_id, logit_e6,
             |  CAST(500000 + (CASE WHEN logit_e6 < 0 THEN -1
             |                      WHEN logit_e6 > 0 THEN 1 ELSE 0 END) *
             |    ((abs(logit_e6) * 500000) // (1000000 + abs(logit_e6)))
             |    AS BIGINT) AS prob_e6,
             |  logit_e6 >= 0 AS keep
             |FROM z ORDER BY doc_id""".stripMargin)),

    // ---- X4 training-example construction: BERT-style masked-LM example
    // building — 15% of token positions (selected by a PORTABLE per-
    // (doc, position) LCG gate, independent of the split/mixture hashes)
    // are replaced by a sentinel in the input text, and the masked-out
    // tokens become the target sequence. Everything is array arithmetic on
    // the token vector (one scan, no shuffle at all until the output sort),
    // and the gate is pure integer, so both engines build IDENTICAL
    // examples — the determinism every resumable data loader needs.
    Q("x4_mlm_mask",
      (s, dir) =>
        docs(s, dir)
          .withColumn("tok", TF.tokens(col("text")))
          .select(
            col("doc_id"),
            expr("""array_join(zip_with(tok, sequence(0, size(tok) - 1),
                   |  (t, i) -> IF(((doc_id % 3000000000) * 2654435761 + i * 40503) % 2147483647 % 100 < 15,
                   |            '<mask>', t)), ' ')""".stripMargin).as("masked_text"),
            expr("""array_join(filter(zip_with(tok, sequence(0, size(tok) - 1),
                   |  (t, i) -> IF(((doc_id % 3000000000) * 2654435761 + i * 40503) % 2147483647 % 100 < 15,
                   |            t, NULL)), x -> x IS NOT NULL), ' ')""".stripMargin)
              .as("targets"),
            expr("""CAST(size(filter(sequence(0, size(tok) - 1),
                   |  i -> ((doc_id % 3000000000) * 2654435761 + i * 40503) % 2147483647 % 100 < 15))
                   |  AS BIGINT)""".stripMargin).as("n_masked"))
          .orderBy("doc_id"),
      Some("""WITH tok AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
             |pos AS (SELECT doc_id, ws,
             |    unnest(range(0, len(ws))) AS i FROM tok),
             |m AS (SELECT doc_id, i, ws[CAST(i + 1 AS INT)] AS t,
             |    (((doc_id % 3000000000) * 2654435761 + i * 40503) % 2147483647) % 100 < 15 AS hit
             |  FROM pos)
             |SELECT doc_id,
             |  string_agg(CASE WHEN hit THEN '<mask>' ELSE t END, ' ' ORDER BY i)
             |    AS masked_text,
             |  COALESCE(string_agg(CASE WHEN hit THEN t END, ' ' ORDER BY i), '')
             |    AS targets,
             |  CAST(SUM(CASE WHEN hit THEN 1 ELSE 0 END) AS BIGINT) AS n_masked
             |FROM m GROUP BY doc_id ORDER BY doc_id""".stripMargin)),

    // ---- X4 quality: unigram language-model score (the CCNet/Gopher-style
    // LM filter): per-doc mean token log-probability under the corpus's own
    // unigram distribution — low scores flag gibberish / outlier docs.
    // Determinism: each token's ln(tf/N) is rounded to integer e6 units
    // BEFORE the per-doc sum, so the aggregation is an order-independent
    // integer sum (a float sum's order differs between engines); identical
    // integer inputs to ln give bit-identical doubles (x4_tfidf precedent).
    Q("x4_lm_score",
      (s, dir) => {
        val d = docs(s, dir)
        val tok = d.select(col("doc_id"), explode(TF.tokens(col("text"))).as("w"))
        val cnt = tok.groupBy("w").agg(count(lit(1)).as("cnt"))
        val tot = tok.agg(count(lit(1)).as("n"))
        val logpE6 = round(log(col("cnt").cast("double") / col("n").cast("double"))
          * 1000000).cast("long")
        // no avg column: integer division of the NEGATIVE sum truncates
        // toward zero in Spark (`div`) but floors in DuckDB (`//`) — emit
        // the exact integer sum and token count instead
        tok.join(cnt, "w").crossJoin(broadcast(tot))
          .select(col("doc_id"), logpE6.as("lp"))
          .groupBy("doc_id")
          .agg(count(lit(1)).as("n_tokens"), sum("lp").as("sum_lp_e6"))
          .orderBy("doc_id")
      },
      Some("""WITH tok AS (SELECT doc_id, UNNEST(string_split(text,' ')) AS w FROM documents),
             |cnt AS (SELECT w, COUNT(*) AS cnt FROM tok GROUP BY w),
             |tot AS (SELECT COUNT(*) AS n FROM tok)
             |SELECT doc_id, COUNT(*) AS n_tokens,
             |  CAST(SUM(CAST(ROUND(LN(CAST(cnt AS DOUBLE)/n)*1000000) AS BIGINT)) AS BIGINT)
             |    AS sum_lp_e6
             |FROM tok JOIN cnt USING (w) CROSS JOIN tot
             |GROUP BY doc_id ORDER BY doc_id""".stripMargin)),

    // ---- X4 quality: INTERPOLATED BIGRAM language-model score — the
    // CCNet-style step up from the unigram filter: each position i >= 2
    // scores ln(0.7·c(w_{i-1},w_i)/c(w_{i-1}) + 0.3·c(w_i)/N) under the
    // corpus's own counts (interpolation keeps unseen-bigram mass finite
    // without smoothing hyperparameters). Gibberish has plausible unigrams
    // but improbable transitions, so this catches what x4_lm_score can't.
    // Same determinism contract as the unigram scorer: per-position logs
    // rounded to integer e6 BEFORE the per-doc sum (order-independent
    // integer aggregation; identical integer count inputs -> bit-identical
    // ln doubles). At 100 TB: one shuffle on bigram keys + two unigram
    // joins — the model table IS the corpus aggregate, no training pass.
    Q("x4_lm_score_bigram",
      (s, dir) => {
        val d = docs(s, dir)
        val toksOf = TF.tokens(col("text"))
        // one compiled pass builds every "prev cur" position string
        // (NX.bigramStrings — the HOF transform/struct formulation was
        // the whole query's cost, see the expression's scaladoc); the space
        // join is injective over space-split tokens, so the string IS the
        // pair identity
        val bg = graft.Caches.persist(
          d.select(col("doc_id"),
            explode(NX.bigramStrings(toksOf)).as("bgs")))
        val tok = d.select(explode(toksOf).as("w"))
        val uni = tok.groupBy("w").agg(count(lit(1)).as("c"))
        val tot = tok.agg(count(lit(1)).as("n"))
        val cbi = bg.groupBy("bgs").agg(count(lit(1)).as("cb"))
        val p = lit(0.7) * col("cb").cast("double") / col("cp").cast("double") +
          lit(0.3) * col("cu").cast("double") / col("n").cast("double")
        // every occurrence of a bigram has the same log-prob, so score each
        // DISTINCT bigram once (model-sized joins; prev/cur recovered by
        // splitting the key only in this small frame) — the corpus-sized
        // position list then shuffles exactly twice (the score join + the
        // per-doc sum) instead of four times.
        val scored = cbi
          .withColumn("prev", substring_index(col("bgs"), " ", 1))
          .withColumn("cur", substring_index(col("bgs"), " ", -1))
          .join(uni.select(col("w").as("prev"), col("c").as("cp")), Seq("prev"))
          .join(uni.select(col("w").as("cur"), col("c").as("cu")), Seq("cur"))
          .crossJoin(broadcast(tot))
          .select(col("bgs"), round(log(p) * 1000000).cast("long").as("lp"))
        bg.join(scored, Seq("bgs"))
          .groupBy("doc_id")
          .agg(count(lit(1)).as("n_bigrams"), sum("lp").as("sum_lp_e6"))
          .orderBy("doc_id")
      },
      Some("""WITH tok AS (SELECT doc_id, UNNEST(string_split(text,' ')) AS w
             |            FROM documents),
             |uni AS (SELECT w, COUNT(*) AS c FROM tok GROUP BY w),
             |tot AS (SELECT COUNT(*) AS n FROM tok),
             |bg AS (SELECT doc_id, t.prev AS prev, t.cur AS cur FROM (
             |    SELECT doc_id, UNNEST([{'prev': toks[i-1], 'cur': toks[i]}
             |        FOR i IN range(2, len(toks)+1)]) AS t
             |    FROM (SELECT doc_id, string_split(text,' ') AS toks
             |          FROM documents))),
             |cbi AS (SELECT prev, cur, COUNT(*) AS cb FROM bg GROUP BY 1, 2)
             |SELECT doc_id, COUNT(*) AS n_bigrams,
             |  CAST(SUM(CAST(ROUND(LN(0.7*CAST(cb AS DOUBLE)/cp.c
             |    + 0.3*CAST(cu.c AS DOUBLE)/tot.n)*1000000) AS BIGINT)) AS BIGINT)
             |    AS sum_lp_e6
             |FROM bg JOIN cbi USING (prev, cur)
             |        JOIN uni cp ON cp.w = bg.prev
             |        JOIN uni cu ON cu.w = bg.cur
             |        CROSS JOIN tot
             |GROUP BY doc_id ORDER BY doc_id""".stripMargin)),

    // ---- X4 curation: DSIR importance resampling (Xie et al., NeurIPS'23
    // "Data Selection for Language Models via Importance Resampling") —
    // select raw documents that RESEMBLE a target distribution. Feature
    // space: 1024 hashed-unigram buckets via the portable
    // NX.wordHash62 (x4_hash_embed's hash, so both engines bucket
    // identically). Per-bucket importance delta = ln p_target(b) −
    // ln p_raw(b) with add-one smoothing, rounded to integer e6 BEFORE
    // the per-doc sum (order-independent integer aggregation, x4_lm_score
    // precedent — identical integer count inputs give bit-identical ln
    // doubles); a document's log-weight is the sum of its tokens' deltas.
    // The resampling leg is GUMBEL-TOP-K: a portable per-doc LCG uniform
    // becomes Gumbel noise, score = logw + noise, and the k highest
    // scores are exactly a without-replacement sample proportional to the
    // importance weights — deterministic in both engines, so the oracle
    // replays the draw. Target = the corpus's own quality gate
    // (x4_quality semantics): DSIR's classic setup, where a cheap seed
    // predicate defines "good" and the weights pull in raw docs that look
    // like it. Scale: the delta table is 1024 rows riding a broadcast;
    // token→bucket is map-side; the only corpus-sized shuffle is the
    // per-doc sum keyed by doc_id; selection is fixed-k TakeOrdered (the
    // training budget is fixed tokens, not a corpus fraction) — never a
    // global sort materialization.
    Q("x4_dsir",
      (s, dir) => {
        // the exploded token stream is deliberately NOT persisted (caching
        // it is ~20 B/token of block-manager pressure; the re-tokenize is
        // one linear native-kernel scan) — instead each leg gets exactly
        // the plan it needs: the trainer reads dsirTok (buckets + the
        // once-per-doc flag join), the scorer reads the tgt-free
        // dsirBuckets
        val delta = dsirDeltasFromTok(dsirTok(docs(s, dir)))
        val perDoc = dsirBuckets(docs(s, dir)).join(broadcast(delta), "b")
          .groupBy("doc_id")
          .agg(count(lit(1)).as("n_tokens"), sum("d_e6").as("logw_e6"))
        // the x4_mlm_mask LCG family on doc_id; +1 / 2147483649 keeps the
        // uniform strictly inside (0,1) so neither ln can hit 0 or -inf.
        // doc_id is reduced first so the multiply stays under 2^63 — Spark
        // wraps Int64 silently while DuckDB promotes to HUGEINT
        val u = ((col("doc_id") % 3000000000L) * 2654435761L + 40503L) % 2147483647L
        val g = round(-log(-log((u + 1).cast("double") / 2147483649.0))
          * 1000000).cast("long")
        perDoc
          .withColumn("gumbel_e6", g)
          .withColumn("score_e6", col("logw_e6") + col("gumbel_e6"))
          .orderBy(desc("score_e6"), col("doc_id")).limit(100)
          // rank window rides the k-bounded LIMITed frame (x4_encode
          // precedent), never the corpus
          .withColumn("rk", row_number().over(
            Window.orderBy(desc("score_e6"), asc("doc_id"))).cast("long"))
      },
      Some("""WITH ws AS (SELECT doc_id, string_split(text,' ') AS ws FROM documents),
             |tgt AS (SELECT doc_id, len(ws) >= 5 AND len(list_filter(ws,
             |    x -> x IN ('the','a','of','and','to','in','is','it'))) >= 1 AS tgt
             |  FROM ws),
             |tok AS (SELECT t.doc_id, g.tgt,
             |    (list_reduce([CAST(0 AS BIGINT)] ||
             |       [CAST(unicode(c) AS BIGINT) FOR c IN string_split(w,'')],
             |       (a,b) -> (a*31+b) % 1000000007) * 2147483648 +
             |     list_reduce([CAST(0 AS BIGINT)] ||
             |       [CAST(unicode(c) AS BIGINT) FOR c IN string_split(w,'')],
             |       (a,b) -> (a*131+b) % 2147483647)) % 1024 AS b
             |  FROM (SELECT doc_id, unnest(string_split(text,' ')) AS w
             |        FROM documents) t
             |  JOIN tgt g USING (doc_id)),
             |cnt AS (SELECT b, CAST(COUNT(*) AS BIGINT) AS rc,
             |    CAST(SUM(CASE WHEN tgt THEN 1 ELSE 0 END) AS BIGINT) AS tc
             |  FROM tok GROUP BY b),
             |tot AS (SELECT CAST(SUM(rc) AS BIGINT) AS rn,
             |    CAST(SUM(tc) AS BIGINT) AS tn FROM cnt),
             |delta AS (SELECT b,
             |    CAST(ROUND((LN(CAST(tc+1 AS DOUBLE)/(tn+1024)) -
             |      LN(CAST(rc+1 AS DOUBLE)/(rn+1024))) * 1000000) AS BIGINT) AS d_e6
             |  FROM cnt CROSS JOIN tot),
             |perdoc AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_tokens,
             |    CAST(SUM(d_e6) AS BIGINT) AS logw_e6
             |  FROM tok JOIN delta USING (b) GROUP BY doc_id),
             |scored AS (SELECT doc_id, n_tokens, logw_e6,
             |    CAST(ROUND(-LN(-LN(CAST(((doc_id % 3000000000) * 2654435761 + 40503) % 2147483647 + 1
             |      AS DOUBLE) / 2147483649.0)) * 1000000) AS BIGINT) AS gumbel_e6
             |  FROM perdoc)
             |SELECT doc_id, n_tokens, logw_e6, gumbel_e6,
             |  logw_e6 + gumbel_e6 AS score_e6,
             |  CAST(ROW_NUMBER() OVER (ORDER BY logw_e6 + gumbel_e6 DESC, doc_id)
             |    AS BIGINT) AS rk
             |FROM scored
             |ORDER BY score_e6 DESC, doc_id LIMIT 100""".stripMargin)),

    // ---- X4 curation: deterministic train/val/test split. The split hash is
    // PORTABLE integer arithmetic (LCG mix of doc_id), not xxhash64 — the
    // same expression runs in DuckDB, so assignment is reproducible across
    // engines AND across runs/partitionings (the property a training
    // pipeline actually needs from a split: re-running never moves a doc
    // between train and test). 80/10/10 by hash bucket.
    Q("x4_split",
      (s, dir) => {
        // doc_id is pre-reduced so the LCG product stays inside Int64 for
        // any id up to 8e9·8e9: unreduced, ids past ~8.3e9 overflow — an
        // ANSI-mode throw in Spark and a silent HUGEINT divergence in the
        // DuckDB oracle
        val h = ((col("doc_id") % 8000000000L) * 1103515245L + 12345L) % 1000000L
        docs(s, dir).select(
          col("doc_id"),
          h.as("split_hash"),
          when(h < 800000L, "train").when(h < 900000L, "val")
            .otherwise("test").as("split"))
          .orderBy("doc_id")
      },
      Some("""SELECT doc_id,
             |  ((doc_id % 8000000000) * 1103515245 + 12345) % 1000000 AS split_hash,
             |  CASE WHEN ((doc_id % 8000000000) * 1103515245 + 12345) % 1000000 < 800000 THEN 'train'
             |       WHEN ((doc_id % 8000000000) * 1103515245 + 12345) % 1000000 < 900000 THEN 'val'
             |       ELSE 'test' END AS split
             |FROM documents ORDER BY doc_id""".stripMargin)),

    // ---- X4 curation: cap documents per (lang, source) stratum — the
    // class-balance / source-mixing knob of a pretraining pipeline. Keep at
    // most 20 docs per stratum in deterministic hash order (so the kept set
    // is a stable pseudo-random sample, not "first by id"); rank <= k plans
    // as WindowGroupLimit (partial top-k below the shuffle).
    Q("x4_cap_per_source",
      (s, dir) => {
        // pre-reduced for the same Int64-overflow reason as x4_split
        val h = ((col("doc_id") % 3000000000L) * 2654435761L + 961748927L) % 1000000L
        val w = Window.partitionBy("lang", "source")
          .orderBy(col("h"), col("doc_id"))
        docs(s, dir).select(col("doc_id"), col("lang"), col("source"), h.as("h"))
          .withColumn("rk", row_number().over(w).cast("long"))
          .filter(col("rk") <= 20)
          .select(col("doc_id"), col("lang"), col("source"), col("rk"))
          .orderBy("doc_id")
      },
      Some("""SELECT doc_id, lang, source, rk FROM (
             |  SELECT doc_id, lang, source,
             |    CAST(ROW_NUMBER() OVER (PARTITION BY lang, source
             |      ORDER BY ((doc_id % 3000000000) * 2654435761 + 961748927) % 1000000, doc_id)
             |      AS BIGINT) AS rk
             |  FROM documents)
             |WHERE rk <= 20 ORDER BY doc_id""".stripMargin)),

    // ---- X4 curation: deterministic per-language Bernoulli sampling — the
    // language-rebalancing knob of a multilingual pretraining mix (dominant
    // languages downsampled hard, low-resource kept nearly whole; cf. the
    // per-language alpha-sampling of mC4/XLM-R, Conneau et al. 2020). Keep
    // iff a portable integer LCG of doc_id lands under the language's
    // rate_e6 threshold: reproducible across engines and runs (no RNG),
    // embarrassingly parallel (no shuffle before the final sort), and at
    // 100 TB the same expression runs as a pure map over the scan. A
    // DIFFERENT multiplier/modulus than x4_split's LCG, so sampling stays
    // independent of split assignment (correlated hashes would silently
    // bias the train/val/test composition of the sample).
    Q("x4_sample_stratified",
      (s, dir) => {
        // pre-reduced for the same Int64-overflow reason as x4_split:
        // (doc_id % 3e11) * 22695477 + 1 <= 6.9e18 < Long.MaxValue
        val h = ((col("doc_id") % 300000000000L) * 22695477L + 1L) % 1000000L
        val rate = when(col("lang") === "en", 300000L)
          .when(col("lang").isin("de", "fr"), 600000L)
          .otherwise(900000L)
        docs(s, dir)
          .select(col("doc_id"), col("lang"), h.as("sample_hash"),
            rate.as("rate_e6"))
          .filter(col("sample_hash") < col("rate_e6"))
          .orderBy("doc_id")
      },
      Some("""SELECT doc_id, lang,
             |  ((doc_id % 300000000000) * 22695477 + 1) % 1000000 AS sample_hash,
             |  CAST(CASE WHEN lang = 'en' THEN 300000
             |       WHEN lang IN ('de','fr') THEN 600000
             |       ELSE 900000 END AS BIGINT) AS rate_e6
             |FROM documents
             |WHERE ((doc_id % 300000000000) * 22695477 + 1) % 1000000 <
             |  CASE WHEN lang = 'en' THEN 300000
             |       WHEN lang IN ('de','fr') THEN 600000
             |       ELSE 900000 END
             |ORDER BY doc_id""".stripMargin)),

    // ---- X4 curation: soft dedup — instead of DROPPING duplicate docs,
    // down-weight each copy by its normalized-text multiplicity so the
    // group's total training mass stays one document (the repetition-aware
    // reweighting alternative to hard dedup; the normalization is the same
    // C4-style pass as x1_dedup_normalized, so the two queries agree on
    // what counts as a copy). weight_e4 = 10000 div n is exact integer
    // arithmetic — no quotient ever meets ROUND cross-engine. Scale shape:
    // one count window partitioned by the normalized key — identical
    // shuffle to the dedup groupBy itself, no join-back pass.
    Q("x4_dedup_weight",
      (s, dir) => {
        // the count window partitions on (128-bit digest, length) of the
        // normalized text — the length co-key hardens the digest equivalence
        // against collisions for free, matching x1_dedup_normalized's key —
        // and the body is projected AWAY before the window, so the exchange
        // carries (doc_id, 16-byte key, int) per row instead of whole
        // documents (same groups; the oracle partitions by norm directly)
        val w = Window.partitionBy("h", "norm_len")
        val norm = trim(regexp_replace(lower(col("text")), "[^a-z0-9]+", " "))
        docs(s, dir)
          .select(col("doc_id"), md5(norm).as("h"), length(norm).as("norm_len"))
          .withColumn("n_copies", count(lit(1)).over(w))
          .select(col("doc_id"), col("n_copies"),
            expr("10000 div n_copies").as("weight_e4"))
          .orderBy("doc_id")
      },
      Some("""SELECT doc_id,
             |  CAST(COUNT(*) OVER (PARTITION BY
             |    TRIM(regexp_replace(LOWER(text), '[^a-z0-9]+', ' ', 'g')))
             |    AS BIGINT) AS n_copies,
             |  10000 // CAST(COUNT(*) OVER (PARTITION BY
             |    TRIM(regexp_replace(LOWER(text), '[^a-z0-9]+', ' ', 'g')))
             |    AS BIGINT) AS weight_e4
             |FROM documents ORDER BY doc_id""".stripMargin)),

    // ---- X4 curation: top-k bigram statistics per language — the corpus
    // frequency pass tokenizer/BPE training starts from (merge candidates
    // are exactly the most frequent adjacent pairs). Scale shape: explode
    // bigrams (raw stream, NOT set-deduped — frequencies are the point) →
    // one partial-aggregated groupBy(lang, ng) → per-language top-20 via
    // rank<=k, which plans as WindowGroupLimit (partial top-k below the
    // shuffle, no full sort of the n-gram table). Tie-break (count desc,
    // bigram asc) makes the cut deterministic cross-engine.
    Q("x4_ngram_topk",
      (s, dir) => {
        // one compiled pass per doc (NX.bigramStrings) — the HOF
        // transform+slice+concat_ws formulation evaluates its lambda
        // interpreted per element and dominated this query's runtime; a
        // <2-token doc yields an empty array, same rows as the old
        // size>=2 prefilter
        val counts = docs(s, dir)
          .select(col("lang"), explode(NX.bigramStrings(
            TF.tokens(col("text")))).as("ng"))
          .groupBy("lang", "ng").agg(count(lit(1)).as("n"))
        val w = Window.partitionBy("lang").orderBy(desc("n"), asc("ng"))
        counts.withColumn("rk", row_number().over(w).cast("long"))
          .filter(col("rk") <= 20)
          .select(col("lang"), col("rk"), col("ng"), col("n"))
          .orderBy("lang", "rk")
      },
      Some("""WITH b AS (SELECT lang,
             |  UNNEST([string_split(text,' ')[i] || ' ' || string_split(text,' ')[i+1]
             |    for i in range(1, len(string_split(text,' ')))]) AS ng
             |  FROM documents),
             |c AS (SELECT lang, ng, CAST(COUNT(*) AS BIGINT) AS n
             |      FROM b GROUP BY lang, ng),
             |r AS (SELECT lang, ng, n,
             |        CAST(ROW_NUMBER() OVER (PARTITION BY lang
             |          ORDER BY n DESC, ng) AS BIGINT) AS rk
             |      FROM c)
             |SELECT lang, rk, ng, n FROM r WHERE rk <= 20
             |ORDER BY lang, rk""".stripMargin)),

    // ---- X4 curation: vocabulary coverage — what fraction of all token
    // OCCURRENCES the top-10 most frequent tokens cover, per language (the
    // oov-rate curve tokenizer sizing reads; Zipf makes small N cover
    // most mass). Two partial-aggregated groupBys + one window over the
    // per-language DISTINCT-token counts (vocab-sized, not corpus-sized);
    // coverage in exact e4 integer units, deterministic (count desc, token
    // asc) cut.
    Q("x4_vocab_coverage",
      (s, dir) => {
        val toks = TF.tokens(col("text"))
        val counts = docs(s, dir)
          .select(col("lang"), explode(toks).as("w"))
          .groupBy("lang", "w").agg(count(lit(1)).as("n"))
        val w = Window.partitionBy("lang").orderBy(desc("n"), asc("w"))
        counts.withColumn("rk", row_number().over(w))
          .groupBy("lang")
          .agg(count(lit(1)).as("n_distinct_tokens"),
            sum("n").as("n_tokens"),
            sum(when(col("rk") <= 10, col("n")).otherwise(0L)).as("covered"))
          .select(col("lang"), col("n_distinct_tokens"), col("n_tokens"),
            expr("covered * 10000 div n_tokens").as("top10_coverage_e4"))
          .orderBy("lang")
      },
      Some("""WITH t AS (SELECT lang, UNNEST(string_split(text,' ')) AS w
             |           FROM documents),
             |c AS (SELECT lang, w, CAST(COUNT(*) AS BIGINT) AS n
             |      FROM t GROUP BY lang, w),
             |r AS (SELECT lang, w, n,
             |        ROW_NUMBER() OVER (PARTITION BY lang
             |          ORDER BY n DESC, w) AS rk
             |      FROM c)
             |SELECT lang,
             |  CAST(COUNT(*) AS BIGINT) AS n_distinct_tokens,
             |  CAST(SUM(n) AS BIGINT) AS n_tokens,
             |  CAST(SUM(CASE WHEN rk <= 10 THEN n ELSE 0 END) AS BIGINT)
             |    * 10000 // CAST(SUM(n) AS BIGINT) AS top10_coverage_e4
             |FROM r GROUP BY lang ORDER BY lang""".stripMargin)),

    // ---- X4 curation: within-document repetition filter (the Gopher
    // repetition family): fraction of duplicate trigrams per doc. A doc
    // whose trigram stream repeats itself is template spam / generation
    // loops; pretraining pipelines drop above a few percent. Pure per-row
    // expressions — embarrassingly parallel, no shuffle before the sort.
    // Ratio in exact e4 units (integer floor-div; both sides non-negative,
    // so Spark `div` truncation == DuckDB `//` floor).
    Q("x4_repetition",
      (s, dir) => {
        val toks = TF.tokens(col("text"))
        val tris = transform(sequence(lit(1), greatest(size(toks) - 2, lit(1))),
          i => concat_ws(" ", slice(toks, i, lit(3))))
        docs(s, dir).select(
          col("doc_id"),
          size(tris).cast("long").as("n_trigrams"),
          size(array_distinct(tris)).cast("long").as("n_distinct_trigrams"))
          .withColumn("dup_ratio_e4",
            expr("(n_trigrams - n_distinct_trigrams) * 10000 div n_trigrams"))
          .withColumn("passes_repetition", col("dup_ratio_e4") <= 200)
          .orderBy("doc_id")
      },
      Some("""WITH t AS (SELECT doc_id, string_split(text,' ') AS toks FROM documents),
             |tri AS (SELECT doc_id, array_to_string(toks[o:o+2],' ') AS g
             |  FROM (SELECT doc_id, toks,
             |          UNNEST(range(1, greatest(len(toks)-2,1)+1)) AS o FROM t))
             |SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_trigrams,
             |  CAST(COUNT(DISTINCT g) AS BIGINT) AS n_distinct_trigrams,
             |  CAST((COUNT(*) - COUNT(DISTINCT g)) * 10000 // COUNT(*) AS BIGINT)
             |    AS dup_ratio_e4,
             |  (COUNT(*) - COUNT(DISTINCT g)) * 10000 // COUNT(*) <= 200
             |    AS passes_repetition
             |FROM tri GROUP BY doc_id ORDER BY doc_id""".stripMargin)),

    // ---- X4 curation: cross-document boilerplate detection (the line-dedup
    // leg of RefinedWeb/CCNet, adapted to space-tokenized docs): a trigram
    // occurring in >= 5 DISTINCT documents is boilerplate; score each doc by
    // the share of its distinct trigrams that are boilerplate. Plan shape:
    // explode distinct trigrams -> document-frequency aggregation (map-side
    // partial) -> join back on the trigram -> per-doc aggregation. All
    // equi-key shuffles; at 100 TB the join key would be NX.shingles'
    // 64-bit hash instead of the raw string (same plan, narrower shuffle) —
    // strings here keep the DuckDB oracle exact.
    Q("x4_boilerplate",
      (s, dir) => {
        val d = docs(s, dir)
        // persisted: the shingle explode feeds BOTH the document-frequency
        // aggregation and the join back — unpersisted it re-runs per
        // consumer; registered, so the harness drains it after the query.
        // Native one-pass shingle strings (NX.shingleStrings) — the
        // interpreted transform+concat_ws+array_distinct chain was 60% of
        // this query's time at sf0.1
        val tri = graft.Caches.persist(d.select(col("doc_id"),
          explode(TF.shingleStrings(col("text"), 3)).as("g")))
        val df_ = tri.groupBy("g").agg(count(lit(1)).as("df"))
        tri.join(df_, "g")
          .groupBy("doc_id")
          .agg(count(lit(1)).as("n_shingles"),
            sum(when(col("df") >= 5, 1L).otherwise(0L)).as("n_boilerplate"))
          .withColumn("boilerplate_ratio_e4",
            expr("n_boilerplate * 10000 div n_shingles"))
          .withColumn("boilerplate_heavy", col("boilerplate_ratio_e4") >= 3000)
          .orderBy("doc_id")
      },
      Some("""WITH t AS (SELECT doc_id, string_split(text,' ') AS toks FROM documents),
             |tri AS (SELECT DISTINCT doc_id, array_to_string(toks[o:o+2],' ') AS g
             |  FROM (SELECT doc_id, toks,
             |          UNNEST(range(1, greatest(len(toks)-2,1)+1)) AS o FROM t)),
             |df AS (SELECT g, COUNT(*) AS df FROM tri GROUP BY g)
             |SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_shingles,
             |  CAST(SUM(CASE WHEN df >= 5 THEN 1 ELSE 0 END) AS BIGINT)
             |    AS n_boilerplate,
             |  CAST(SUM(CASE WHEN df >= 5 THEN 1 ELSE 0 END) * 10000 // COUNT(*)
             |    AS BIGINT) AS boilerplate_ratio_e4,
             |  SUM(CASE WHEN df >= 5 THEN 1 ELSE 0 END) * 10000 // COUNT(*) >= 3000
             |    AS boilerplate_heavy
             |FROM tri JOIN df USING (g) GROUP BY doc_id ORDER BY doc_id""".stripMargin)),

    // ---- X4 curation: benchmark decontamination (the GPT-3/PaLM eval-leak
    // scan): flag every TRAIN document sharing any 8-gram with any TEST
    // document, splits taken from x4_split's portable hash — so the whole
    // check is reproducible cross-engine. Test-side distinct 8-grams form
    // the probe set; the join is an equi-key shuffle on the shingle (the
    // probe side is |test| ~ 10% of the corpus; at 100 TB it would be
    // broadcast in hashed form if under the executor budget, else remain a
    // shuffle join — both sides scale linearly, nothing is quadratic).
    Q("x4_decontam",
      (s, dir) => {
        val h = ((col("doc_id") % 8000000000L) * 1103515245L + 12345L) % 1000000L
        val d = docs(s, dir).withColumn("split",
          when(h < 800000L, "train").when(h < 900000L, "val").otherwise("test"))
        val sh = d.select(col("doc_id"), col("split"),
          explode(TF.shingleStrings(col("text"), 8)).as("g"))
        val testGrams = sh.filter(col("split") === "test").select("g").distinct()
        val hits = sh.filter(col("split") === "train")
          .join(testGrams, "g")
          .groupBy("doc_id").agg(count(lit(1)).as("n_shared"))
        d.filter(col("split") === "train").select("doc_id")
          .join(hits, Seq("doc_id"), "left")
          .select(col("doc_id"),
            coalesce(col("n_shared"), lit(0L)).as("n_shared_8grams"),
            (coalesce(col("n_shared"), lit(0L)) >= 1).as("contaminated"))
          .orderBy("doc_id")
      },
      Some("""WITH s AS (SELECT doc_id, string_split(text,' ') AS toks,
             |    CASE WHEN ((doc_id % 8000000000) * 1103515245 + 12345) % 1000000 < 800000
             |         THEN 'train'
             |         WHEN ((doc_id % 8000000000) * 1103515245 + 12345) % 1000000 < 900000
             |         THEN 'val' ELSE 'test' END AS split FROM documents),
             |sh AS (SELECT DISTINCT doc_id, split,
             |    array_to_string(toks[o:o+7],' ') AS g
             |  FROM (SELECT doc_id, split, toks,
             |          UNNEST(range(1, greatest(len(toks)-7,1)+1)) AS o FROM s)),
             |hits AS (SELECT sh.doc_id, COUNT(*) AS n_shared
             |  FROM sh JOIN (SELECT DISTINCT g FROM sh WHERE split='test') tg USING (g)
             |  WHERE sh.split='train' GROUP BY sh.doc_id)
             |SELECT s.doc_id,
             |  CAST(COALESCE(hits.n_shared, 0) AS BIGINT) AS n_shared_8grams,
             |  COALESCE(hits.n_shared, 0) >= 1 AS contaminated
             |FROM s LEFT JOIN hits ON s.doc_id = hits.doc_id
             |WHERE s.split='train' ORDER BY s.doc_id""".stripMargin)),

    // ---- X4 curation: sequence packing — assign every document a start
    // offset in the concatenated token stream (doc_id order) and the
    // training sequence (length 256) that offset lands in: the shard/
    // sequence assignment step between a curated corpus and a trainer.
    // The running total is [[graft.operators.PrefixSum]] — the two-pass
    // range-partitioned scan, NOT `sum over (order by)`'s single-partition
    // window, so the plan holds at 100 TB (see PrefixSum's scaladoc).
    Q("x4_pack",
      (s, dir) => {
        val d = docs(s, dir).select(col("doc_id"),
          size(TF.tokens(col("text"))).cast("long").as("n_tokens"))
        graft.operators.PrefixSum(d, col("n_tokens"), Seq(col("doc_id")), "start_tok")
          .withColumn("seq_id", expr("start_tok div 256"))
          .withColumn("seq_off", col("start_tok") % 256)
          .withColumn("spans_boundary", col("seq_off") + col("n_tokens") > 256)
          .select("doc_id", "n_tokens", "start_tok", "seq_id", "seq_off",
            "spans_boundary")
          .orderBy("doc_id")
      },
      Some("""SELECT doc_id, n_tokens, start_tok,
             |  start_tok // 256 AS seq_id, start_tok % 256 AS seq_off,
             |  start_tok % 256 + n_tokens > 256 AS spans_boundary
             |FROM (SELECT doc_id,
             |        CAST(len(string_split(text,' ')) AS BIGINT) AS n_tokens,
             |        CAST(COALESCE(SUM(len(string_split(text,' '))) OVER (ORDER BY doc_id
             |          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
             |          AS start_tok
             |      FROM documents)
             |ORDER BY doc_id""".stripMargin)),

    // ---- X4 curation: weighted mixture sampling — the source-mixing knob
    // of a pretraining corpus (each source kept at its own rate, e.g.
    // curated text oversampled vs raw crawl). The keep decision is the
    // portable-hash gate (distinct LCG constants from x4_split, so the
    // sample is independent of the split): keep iff hash(doc_id) < rate.
    // Per-source rates derive from the source's numeric suffix here; in
    // production they'd come from a broadcast weights dim — same plan.
    // Embarrassingly parallel (scan + filter, no shuffle before the sort),
    // reproducible cross-engine and across re-runs/partitionings.
    Q("x4_mixture",
      (s, dir) => {
        val h = ((col("doc_id") % 4000000000L) * 1664525L + 1013904223L) % 1000000L
        val suffix = substring(col("source"), 4, 10).cast("int")
        val rate = when(suffix % 4 === 0, 1000000L)
          .when(suffix % 4 === 1, 500000L)
          .when(suffix % 4 === 2, 250000L)
          .otherwise(100000L)
        docs(s, dir).select(col("doc_id"), col("source"),
            rate.as("rate_e6"), h.as("sample_hash"))
          .filter(col("sample_hash") < col("rate_e6"))
          .orderBy("doc_id")
      },
      Some("""SELECT doc_id, source, rate_e6, sample_hash FROM (
             |  SELECT doc_id, source,
             |    CASE CAST(substring(source, 4) AS INT) % 4
             |      WHEN 0 THEN 1000000 WHEN 1 THEN 500000
             |      WHEN 2 THEN 250000 ELSE 100000 END AS rate_e6,
             |    ((doc_id % 4000000000) * 1664525 + 1013904223) % 1000000
             |      AS sample_hash
             |  FROM documents)
             |WHERE sample_hash < rate_e6 ORDER BY doc_id""".stripMargin)),

    // ---- X4 curation report: the summary a curation run publishes — per
    // (lang, split): document volume, token mass, quality-pass rate, and
    // exact-duplicate share. Composes the portable split hash, the quality
    // gate, and window-based exact-dup flagging in ONE plan: a window over
    // the text hash partition (the dedup shuffle), then a partial-aggregated
    // rollup — two shuffles total, both equi-key. Rates in exact e4 units.
    Q("x4_curation_report",
      (s, dir) => {
        val h = ((col("doc_id") % 8000000000L) * 1103515245L + 12345L) % 1000000L
        val toks = TF.tokens(col("text"))
        val stop = Seq("the", "a", "of", "and", "to", "in", "is", "it")
        val nStop = size(filter(toks, x => x.isin(stop: _*)))
        // window on the 128-bit DIGEST of the body, not the body itself,
        // and project the body AWAY before the window so the exchange
        // shuffles (16-byte key, id, lang, split, counts) — not the corpus
        // (the oracle partitions by text directly; identical groups modulo
        // md5 collisions, same argument as x1_dedup_normalized)
        val wDup = Window.partitionBy("text_h")
        val d = docs(s, dir).select(
            col("doc_id"), col("lang"), md5(col("text")).as("text_h"),
            when(h < 800000L, "train").when(h < 900000L, "val")
              .otherwise("test").as("split"),
            size(toks).cast("long").as("n_tokens"),
            (size(toks) >= 5 && nStop >= 1).as("passes"))
          .withColumn("is_dup", min("doc_id").over(wDup) < col("doc_id"))
        d.groupBy("lang", "split")
          .agg(count(lit(1)).as("n_docs"),
            sum("n_tokens").as("total_tokens"),
            sum(when(col("passes"), 1L).otherwise(0L)).as("n_pass"),
            sum(when(col("is_dup"), 1L).otherwise(0L)).as("n_dup"))
          .withColumn("pass_rate_e4", expr("n_pass * 10000 div n_docs"))
          .withColumn("dup_rate_e4", expr("n_dup * 10000 div n_docs"))
          .orderBy("lang", "split")
      },
      Some("""WITH d AS (
             |  SELECT doc_id, lang, text,
             |    CASE WHEN ((doc_id % 8000000000) * 1103515245 + 12345) % 1000000 < 800000
             |         THEN 'train'
             |         WHEN ((doc_id % 8000000000) * 1103515245 + 12345) % 1000000 < 900000
             |         THEN 'val' ELSE 'test' END AS split,
             |    CAST(len(string_split(text,' ')) AS BIGINT) AS n_tokens,
             |    len(string_split(text,' ')) >= 5 AND
             |      len(list_filter(string_split(text,' '),
             |        x -> x IN ('the','a','of','and','to','in','is','it'))) >= 1
             |      AS passes,
             |    MIN(doc_id) OVER (PARTITION BY text) < doc_id AS is_dup
             |  FROM documents)
             |SELECT lang, split, CAST(COUNT(*) AS BIGINT) AS n_docs,
             |  CAST(SUM(n_tokens) AS BIGINT) AS total_tokens,
             |  CAST(SUM(CASE WHEN passes THEN 1 ELSE 0 END) AS BIGINT) AS n_pass,
             |  CAST(SUM(CASE WHEN is_dup THEN 1 ELSE 0 END) AS BIGINT) AS n_dup,
             |  CAST(SUM(CASE WHEN passes THEN 1 ELSE 0 END) * 10000 // COUNT(*)
             |    AS BIGINT) AS pass_rate_e4,
             |  CAST(SUM(CASE WHEN is_dup THEN 1 ELSE 0 END) * 10000 // COUNT(*)
             |    AS BIGINT) AS dup_rate_e4
             |FROM d GROUP BY lang, split ORDER BY lang, split""".stripMargin)),

    // ---- X4 COUNT-MIN SKETCH heavy hitters: the classic sublinear-memory
    // frequency sketch (Cormode & Muthukrishnan '05), expressed RELATIONALLY
    // — each of the 4 hash rows buckets every token into 1024 cells and the
    // cell sums ARE the sketch (map-side partial agg, then a 4096-key
    // shuffle: the sketch's O(d·w) memory bound is literally the shuffle
    // cardinality, independent of corpus size). Estimates for the exact
    // top-15 tokens are min-over-rows of their cells; the output pins both
    // the estimates (hash-exact) and the sketch's one-sided guarantee
    // (never undercounts). Hashes are the portable mod-prime family, so
    // the DuckDB oracle replays every cell bit-for-bit — an
    // oracle-checkable sketch. At 100 TB the sketch state stays 4096
    // cells regardless of vocabulary; only the exact-top-k comparison side
    // scales with distinct tokens (and exists to audit the sketch).
    Q("x4_heavy_hitters_cms",
      (s, dir) => {
        def bkt(r: Column, hw: Column): Column = TF.cmsBucket(r, hw)
        val tc = graft.Caches.persist(
          docs(s, dir).select(explode(TF.tokens(col("text"))).as("w"))
            .groupBy("w").agg(count(lit(1)).as("c"))
            .withColumn("hw",
              element_at(NX.wordHash62(array(col("w"))), 1)))
        val rows = tc.select(col("c"), col("hw"),
            explode(array((0 until 4).map(lit): _*)).as("r"))
          .withColumn("bkt", bkt(col("r"), col("hw")))
        val bc = rows.groupBy("r", "bkt").agg(sum("c").as("bc"))
        val top = tc.orderBy(desc("c"), asc("w")).limit(15)
        top.select(col("w"), col("c"), col("hw"),
            explode(array((0 until 4).map(lit): _*)).as("r"))
          .withColumn("bkt", bkt(col("r"), col("hw")))
          .join(broadcast(bc), Seq("r", "bkt"))
          .groupBy("w", "c").agg(min("bc").as("cms_est"))
          .select(col("w").as("token"), col("c").as("exact_count"),
            col("cms_est"),
            (col("cms_est") >= col("c")).as("never_undercounts"))
          .orderBy(desc("exact_count"), asc("token"))
      },
      Some("""WITH tc AS (
             |  SELECT w, COUNT(*) AS c,
             |    list_reduce([CAST(0 AS BIGINT)] ||
             |        [CAST(unicode(ch) AS BIGINT) FOR ch IN string_split(w,'')],
             |        (a,b) -> (a*31+b) % 1000000007) * 2147483648
             |    + list_reduce([CAST(0 AS BIGINT)] ||
             |        [CAST(unicode(ch) AS BIGINT) FOR ch IN string_split(w,'')],
             |        (a,b) -> (a*131+b) % 2147483647) AS hw
             |  FROM (SELECT UNNEST(string_split(text,' ')) AS w FROM documents)
             |  GROUP BY w),
             |rows_ AS (SELECT unnest(generate_series(0,3)) AS r),
             |bc AS (
             |  SELECT r.r,
             |    ((((506952114*(r.r+1)+1) % 2147483647) * (tc.hw % 2147483647)
             |      + ((40503*(r.r+1)+17) % 2147483647)) % 2147483647) % 1024 AS bkt,
             |    CAST(SUM(tc.c) AS BIGINT) AS bc
             |  FROM tc CROSS JOIN rows_ r GROUP BY 1, 2),
             |top_ AS (SELECT w, c, hw FROM tc ORDER BY c DESC, w LIMIT 15)
             |SELECT token, exact_count, cms_est,
             |       cms_est >= exact_count AS never_undercounts
             |FROM (
             |  SELECT t.w AS token, CAST(t.c AS BIGINT) AS exact_count,
             |         MIN(bc.bc) AS cms_est
             |  FROM top_ t CROSS JOIN rows_ r
             |  JOIN bc ON bc.r = r.r
             |   AND bc.bkt = ((((506952114*(r.r+1)+1) % 2147483647)
             |      * (t.hw % 2147483647)
             |      + ((40503*(r.r+1)+17) % 2147483647)) % 2147483647) % 1024
             |  GROUP BY 1, 2)
             |ORDER BY exact_count DESC, token""".stripMargin)),

    // ---- X4 END-TO-END CURATION FUNNEL: the whole pipeline as one
    // declarative query — ingest -> quality gate (x4_quality's predicate)
    // -> exact dedup (min-doc-id keeper per text digest) -> near-dup
    // cluster dedup (Jaccard>=0.9 connected components, keep the cluster
    // representative) — emitting the per-stage survivor counts a curation
    // run reports. Each stage consumes the previous stage's survivors, so
    // the numbers compose (this is the funnel, not four independent
    // counts). All stages are the already-verified operators: the quality
    // predicate is x4_quality's, the digest keeper is x1_dedup_exact's
    // shape on md5(text) (16-byte shuffle keys, never the body), the
    // cluster step is dedupClusters (set-level CC below the vocab
    // threshold). At 100 TB each stage is a linear shuffle on digests or
    // the sub-quadratic pair pipeline — the funnel adds no new join shape.
    Q("x4_pipeline_funnel",
      (s, dir) => {
        val d = docs(s, dir)
        val (qual, keepers, reps) = curationStages(s, d)
        def stage(no: Int, name: String, df: DataFrame): DataFrame =
          df.agg(count(lit(1)).as("docs"))
            .select(lit(no).as("stage_no"), lit(name).as("stage"), col("docs"))
        stage(1, "ingest", d)
          .unionAll(stage(2, "quality", qual))
          .unionAll(stage(3, "exact_dedup", keepers))
          .unionAll(stage(4, "neardup_dedup", reps))
          .orderBy("stage_no")
      },
      Some("""WITH RECURSIVE
             |qual AS (SELECT doc_id, text FROM documents
             |         WHERE len(string_split(text,' ')) >= 5
             |           AND len(list_filter(string_split(text,' '),
             |                 x -> x IN ('the','a','of','and','to','in','is','it'))) >= 1),
             |keep AS (SELECT MIN(doc_id) AS doc_id FROM qual GROUP BY text),
             |kd AS (SELECT q.doc_id, q.text FROM qual q
             |       JOIN keep k ON q.doc_id = k.doc_id),
             |tok AS (SELECT doc_id, UNNEST(list_distinct(string_split(text,' '))) AS w
             |        FROM kd),
             |cnt AS (SELECT doc_id, COUNT(*) AS n FROM tok GROUP BY doc_id),
             |inter AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS i
             |          FROM tok a JOIN tok b ON a.w = b.w AND a.doc_id < b.doc_id
             |          GROUP BY 1, 2),
             |pairs AS (SELECT doc_a, doc_b FROM inter
             |          JOIN cnt ca ON ca.doc_id = doc_a
             |          JOIN cnt cb ON cb.doc_id = doc_b
             |          WHERE CAST(i AS DOUBLE)/(ca.n + cb.n - i) >= 0.9),
             |edges AS (SELECT doc_a AS a, doc_b AS b FROM pairs
             |          UNION ALL SELECT doc_b, doc_a FROM pairs),
             |reach(a, b) AS (
             |  SELECT doc_id, doc_id FROM kd
             |  UNION
             |  SELECT reach.a, e.b FROM reach JOIN edges e ON reach.b = e.a),
             |clus AS (SELECT a AS doc_id, MIN(b) AS cluster_id FROM reach GROUP BY a)
             |SELECT 1 AS stage_no, 'ingest' AS stage,
             |       (SELECT COUNT(*) FROM documents) AS docs
             |UNION ALL SELECT 2, 'quality', (SELECT COUNT(*) FROM qual)
             |UNION ALL SELECT 3, 'exact_dedup', (SELECT COUNT(*) FROM keep)
             |UNION ALL SELECT 4, 'neardup_dedup',
             |       (SELECT COUNT(*) FROM clus WHERE doc_id = cluster_id)
             |ORDER BY stage_no""".stripMargin)),

    // ---- X4 FUNNEL + CONTAINMENT: the curation funnel extended with the
    // snippet-containment gate (stage 5) — reps that are ≥90% covered by a
    // keeper at least 2× their size (the asymmetric subsumption the
    // near-dup stage cannot see: a snippet re-posted inside a bigger
    // document; the 2× guard structurally excludes near-dup pairs, whose
    // Jaccard ≥ 0.9 forces sizes within 1/0.9) are dropped from the
    // survivor set. The rule is per-pair and time-stable, so the streaming
    // twin (curationPipelineSink's containment stage) reproduces it
    // monotonically on every prefix.
    Q("x4_funnel_containment",
      (s, dir) => {
        val d = docs(s, dir)
        val (qual, keepers, reps) = curationStages(s, d)
        val survivors = reps.join(curationContainmentRejects(keepers),
          Seq("doc_id"), "left_anti")
        def stage(no: Int, name: String, df: DataFrame): DataFrame =
          df.agg(count(lit(1)).as("docs"))
            .select(lit(no).as("stage_no"), lit(name).as("stage"), col("docs"))
        stage(1, "ingest", d)
          .unionAll(stage(2, "quality", qual))
          .unionAll(stage(3, "exact_dedup", keepers))
          .unionAll(stage(4, "neardup_dedup", reps))
          .unionAll(stage(5, "containment", survivors))
          .orderBy("stage_no")
      },
      Some("""WITH RECURSIVE
             |qual AS (SELECT doc_id, text FROM documents
             |         WHERE len(string_split(text,' ')) >= 5
             |           AND len(list_filter(string_split(text,' '),
             |                 x -> x IN ('the','a','of','and','to','in','is','it'))) >= 1),
             |keep AS (SELECT MIN(doc_id) AS doc_id FROM qual GROUP BY text),
             |kd AS (SELECT q.doc_id, q.text FROM qual q
             |       JOIN keep k ON q.doc_id = k.doc_id),
             |tok AS (SELECT doc_id, UNNEST(list_distinct(string_split(text,' '))) AS w
             |        FROM kd),
             |cnt AS (SELECT doc_id, COUNT(*) AS n FROM tok GROUP BY doc_id),
             |inter AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS i
             |          FROM tok a JOIN tok b ON a.w = b.w AND a.doc_id < b.doc_id
             |          GROUP BY 1, 2),
             |sized AS (SELECT doc_a, doc_b, i, ca.n AS na, cb.n AS nb FROM inter
             |          JOIN cnt ca ON ca.doc_id = doc_a
             |          JOIN cnt cb ON cb.doc_id = doc_b),
             |pairs AS (SELECT doc_a, doc_b FROM sized
             |          WHERE CAST(i AS DOUBLE)/(na + nb - i) >= 0.9),
             |cont AS (SELECT DISTINCT
             |           CASE WHEN na < nb THEN doc_a ELSE doc_b END AS doc_id
             |         FROM sized
             |         WHERE LEAST(na, nb) * 2 <= GREATEST(na, nb)
             |           AND i * 10 >= LEAST(na, nb) * 9),
             |edges AS (SELECT doc_a AS a, doc_b AS b FROM pairs
             |          UNION ALL SELECT doc_b, doc_a FROM pairs),
             |reach(a, b) AS (
             |  SELECT doc_id, doc_id FROM kd
             |  UNION
             |  SELECT reach.a, e.b FROM reach JOIN edges e ON reach.b = e.a),
             |clus AS (SELECT a AS doc_id, MIN(b) AS cluster_id FROM reach GROUP BY a)
             |SELECT 1 AS stage_no, 'ingest' AS stage,
             |       (SELECT COUNT(*) FROM documents) AS docs
             |UNION ALL SELECT 2, 'quality', (SELECT COUNT(*) FROM qual)
             |UNION ALL SELECT 3, 'exact_dedup', (SELECT COUNT(*) FROM keep)
             |UNION ALL SELECT 4, 'neardup_dedup',
             |       (SELECT COUNT(*) FROM clus WHERE doc_id = cluster_id)
             |UNION ALL SELECT 5, 'containment',
             |       (SELECT COUNT(*) FROM clus WHERE doc_id = cluster_id
             |          AND doc_id NOT IN (SELECT doc_id FROM cont))
             |ORDER BY stage_no""".stripMargin)),

    // ---- X4 BPE MERGE TRAINING: the byte-pair-encoding merge loop
    // (Sennrich et al., ACL'16) run as bounded relational iterations —
    // closing the tokenizer loop x4_ngram_topk (merge candidates) and
    // x4_encode (vocab application) left open. State is the positional
    // symbol table (word, pos, sym); each of the 5 unrolled iterations is
    // (1) pair counts via lead() over word partitions, (2) argmax pair
    // with (count desc, pair) tie-break, broadcast as a 1-row frame —
    // never a collect — and (3) the greedy left-to-right non-overlapping
    // merge apply, done relationally: within each maximal run of
    // consecutive matching positions, keep the even offsets
    // (gaps-and-islands over two word-partitioned windows), drop the
    // consumed successor, renumber. The per-iteration frame is persisted
    // (Caches) so the 2×-per-iteration lineage growth never replans the
    // whole chain. Scale: state is Σ|distinct word| symbols — the VOCAB,
    // not the corpus — so iterations cost O(vocab) shuffles regardless of
    // corpus size; the only corpus-sized pass is the initial word count.
    // The DuckDB oracle unrolls the identical five iterations as CTEs —
    // full hash match, integer counts, no tolerance.
    Q("x4_bpe_merges",
      (s, dir) => {
        bpeMerges(bpeWords(s, dir), iters = 5).orderBy("merge_no")
      },
      Some {
        val tail = (0 until 5).map { k =>
          s"SELECT ${k + 1} AS merge_no, a AS left_sym, b AS right_sym, cnt AS pair_count FROM best$k"
        }.mkString("", "\nUNION ALL ", "\nORDER BY merge_no")
        bpeOracleCtes + tail
      }),

    // ---- X4 BPE tokenizer APPLY: the final symbol stream after the 5
    // trained merges IS the tokenizer's output — aggregate it into the
    // subword unit distribution (corpus occurrences weighted by word
    // frequency + how many distinct words contain the unit), the table a
    // tokenizer report prints. Same unrolled-CTE oracle prefix as the
    // trainer, so train and apply can never diverge.
    Q("x4_bpe_apply",
      (s, dir) => {
        val (_, syms) = bpeTrain(bpeWords(s, dir), iters = 5)
        syms.groupBy("sym")
          .agg(sum("freq").as("n_units"),
            countDistinct("word_id").as("n_words"))
          .orderBy(desc("n_units"), asc("sym")).limit(100)
      },
      Some(bpeOracleCtes +
        """SELECT sym, CAST(SUM(freq) AS BIGINT) AS n_units,
          |  COUNT(DISTINCT word_id) AS n_words
          |FROM s5 GROUP BY sym ORDER BY n_units DESC, sym LIMIT 100""".stripMargin)),

    // ---- F4/F5 array-function surface (scalar outputs only — array-valued
    // result columns would make the parquet/pandas compare ambiguous)
    Q("q_array_funcs",
      (s, dir) => {
        val toks = TF.tokens(col("text"))
        docs(s, dir).select(
          col("doc_id"),
          element_at(toks, 1).as("first_tok"),
          element_at(toks, -1).as("last_tok"),
          array_contains(toks, "the").as("has_the"),
          size(array_distinct(toks)).cast("long").as("n_distinct"),
          concat_ws("|", slice(array_sort(array_distinct(toks)), 1, 3)).as("top3"))
          .orderBy("doc_id")
      },
      Some("""SELECT doc_id,
             |  string_split(text,' ')[1] AS first_tok,
             |  string_split(text,' ')[-1] AS last_tok,
             |  list_contains(string_split(text,' '),'the') AS has_the,
             |  len(list_distinct(string_split(text,' '))) AS n_distinct,
             |  array_to_string(list_sort(list_distinct(string_split(text,' ')))[1:3],'|') AS top3
             |FROM documents ORDER BY doc_id""".stripMargin))
  )
}
