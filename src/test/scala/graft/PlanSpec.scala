package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.types.{ArrayType, StringType}
import org.scalatest.funsuite.AnyFunSuite

/** Physical-plan quality gates (SURVEY.md §4): these are the properties that
  * decide whether a query survives a 100x scale-up, asserted on the actual
  * executed plans so a regression (lost pushdown, a surprise cartesian, a
  * de-broadcast) fails CI rather than the cluster.
  */
class PlanSpec extends AnyFunSuite with AdaptiveSparkPlanHelper {
  private val spark = SparkTestSession.spark
  private val sfDir = SparkTestSession.sfDir

  /** Run the query (so AQE finalizes the plan), return the final plan string. */
  private def planOf(name: String): String = {
    val df = SparkEntry.queries(name)(spark, sfDir)
    df.collect()
    df.queryExecution.executedPlan.toString
  }

  private def scansOf(name: String): Seq[FileSourceScanExec] = {
    val df = SparkEntry.queries(name)(spark, sfDir)
    df.collect()
    collectWithSubqueries(df.queryExecution.executedPlan) {
      case f: FileSourceScanExec => f
    }
  }

  test("q1: shipdate filter is pushed to the parquet scan, columns pruned") {
    val scans = scansOf("q1_pricing_summary")
    assert(scans.nonEmpty)
    val li = scans.head
    val pushed = li.metadata.getOrElse("PushedFilters", "")
    assert(pushed.contains("LessThanOrEqual(l_shipdate"), s"pushed=$pushed")
    // 7 needed columns out of 11 in the table — projection must reach the scan
    val readCols = li.requiredSchema.fieldNames.toSet
    assert(readCols == Set("l_returnflag", "l_linestatus", "l_quantity",
      "l_extendedprice", "l_discount", "l_tax", "l_shipdate"), s"read=$readCols")
  }

  test("q5: dimension joins broadcast, no cartesian product") {
    val p = planOf("q5_region_revenue")
    assert(p.contains("BroadcastHashJoin"), "dims should broadcast")
    assert(!p.contains("CartesianProduct"), "no cartesian in a star join")
    // partial aggregation present (map-side combine before the shuffle)
    assert(p.contains("HashAggregate"), "expect hash aggregation")
  }

  test("q_events_filter: event_type predicate reaches the scan") {
    val scans = scansOf("q_events_filter")
    val pushed = scans.map(_.metadata.getOrElse("PushedFilters", "")).mkString
    assert(pushed.contains("event_type"), s"pushed=$pushed")
  }

  test("q_topk_per_group: rank filter becomes WindowGroupLimit") {
    val p = planOf("q_topk_per_group")
    assert(p.contains("WindowGroupLimit"),
      "rank<=k should push a per-group limit below the full window sort")
  }

  test("q_scan_limit: limit is planned as TakeOrderedAndProject, not global sort") {
    val df = SparkEntry.queries("q_scan_limit")(spark, sfDir)
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("TakeOrderedAndProject"), s"plan=\n$p")
  }

  test("x5_embedding_neardup: pair join is broadcast, not shuffled") {
    val p = planOf("x5_embedding_neardup")
    assert(p.contains("BroadcastNestedLoopJoin"),
      "the id_a < id_b pair join should broadcast the (small) build side")
  }

  test("x4_cap_per_source: per-stratum cap becomes WindowGroupLimit") {
    val p = planOf("x4_cap_per_source")
    assert(p.contains("WindowGroupLimit"),
      "rank<=k should push a per-group limit below the window sort")
  }

  test("x4_split: only doc_id is read from the documents table") {
    val scans = scansOf("x4_split")
    assert(scans.nonEmpty)
    assert(scans.head.requiredSchema.fieldNames.toSet == Set("doc_id"),
      s"read=${scans.head.requiredSchema.fieldNames.toSet}")
  }

  test("x5_neardup_ivf: no cartesian product; cell scans read the index cache") {
    val df = SparkEntry.queries("x5_neardup_ivf")(spark, sfDir)
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    assert(!p.contains("CartesianProduct"),
      "cell-pair search must join on cell keys, never plan a cartesian")
    // loadOrBuild hands consumers parquet scans of the saved index — the
    // plan must read those (graft-ivf cache files), not re-run the k-means
    // build (which would show the centroid aggregation in the plan)
    assert(p.contains("graft-ivf") && !p.contains("HashAggregate(keys=[cell0"),
      "pair sides should read the parquet-backed index, not rebuild it")
  }

  test("x3_knn_ivf: probe and scan joins broadcast the small side") {
    val df = SparkEntry.queries("x3_knn_ivf")(spark, sfDir)
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    assert(!p.contains("CartesianProduct"))
    assert(p.contains("BroadcastHashJoin") || p.contains("BroadcastNestedLoopJoin"),
      "cell lists and query vectors must broadcast against the corpus")
  }

  test("x3_knn_ivf, x3_knn_brute, x3_hybrid_search: the per-query top-k is " +
      "one aggregate and the final order a local sort") {
    // the query set passes its broadcast gate, so the top-k aggregates
    // ungrouped into one partition: no window and no range exchange
    for (name <- Seq("x3_knn_ivf", "x3_knn_brute", "x3_hybrid_search")) {
      val df = SparkEntry.queries(name)(spark, sfDir)
      df.collect()
      val p = df.queryExecution.executedPlan.toString
      assert(p.contains("partial_top_k"), s"$name: no top-k aggregate:\n$p")
      assert(!p.contains("Window") && !p.contains("rangepartitioning"),
        s"$name: window or range exchange in the top-k tail:\n$p")
      graft.Caches.drain(spark)
    }
  }

  test("x4_decontam: probe set joins on the shingle key, never a cartesian") {
    val df = SparkEntry.queries("x4_decontam")(spark, sfDir)
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    assert(!p.contains("CartesianProduct") && !p.contains("NestedLoop"),
      "train x test shingle match must be an equi-key join")
  }

  test("x3_knn_int8: quantized corpus broadcast-joins the query set") {
    val df = SparkEntry.queries("x3_knn_int8")(spark, sfDir)
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    assert(!p.contains("CartesianProduct"))
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastHashJoin"),
      "the n/50 query side must broadcast against the quantized corpus")
  }

  test("x4_mixture: hash gate is a scan-side filter, no shuffle before sort") {
    val df = SparkEntry.queries("x4_mixture")(spark, sfDir)
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    // one range exchange for the output sort; no hash-partition exchange
    assert(!p.contains("hashpartitioning"),
      "the keep-decision is per-row; nothing should shuffle on a hash key")
  }

  test("runtime bloom filter: selective dim predicate reaches the fact side") {
    // The 100 TB shuffle-join scale path (SCALING.md): when a dim filter is
    // selective, Spark's InjectRuntimeFilter builds a bloom filter over the
    // surviving dim keys and applies it to the fact side BEFORE the join
    // shuffle, cutting shuffled bytes by the dim selectivity. Thresholds are
    // sized for clusters (application side > 10GB), so at test scale we
    // lower them to prove the wiring; at 100 TB the defaults fire on their
    // own. Broadcast is disabled to force the shuffle join this targets.
    val restore = Seq(
      "spark.sql.autoBroadcastJoinThreshold",
      "spark.sql.optimizer.runtime.bloomFilter.enabled",
      "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold")
      .map(k => k -> spark.conf.getOption(k)).toMap
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      spark.conf.set("spark.sql.optimizer.runtime.bloomFilter.enabled", "true")
      spark.conf.set(
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold", "1KB")
      val li = Tables.load(spark, sfDir, "lineitem")
      val ord = Tables.load(spark, sfDir, "orders")
        .filter(org.apache.spark.sql.functions.col("o_orderpriority") === "1-URGENT")
      val joined = li.join(ord, li("l_orderkey") === ord("o_orderkey"))
        .groupBy("o_orderpriority")
        .agg(org.apache.spark.sql.functions.sum("l_quantity"))
      joined.collect()
      val p = joined.queryExecution.executedPlan.toString
      assert(p.contains("might_contain"),
        s"expected an injected bloom-filter probe on the fact side; plan=\n$p")
    } finally restore.foreach { case (k, v) =>
      v.fold(spark.conf.unset(k))(spark.conf.set(k, _))
    }
  }

  test("x2_containment: pair join runs over distinct-set aggregates, not doc×doc") {
    // the r04 plan paired raw per-doc masks all-pairs — O(n²) in DOCS even
    // when thousands share one token set; the fixed plan must collapse
    // identical masks first (groupBy(mask) with the doc-id list), so the
    // popcount pair join is S² in DISTINCT SETS
    val df = SparkEntry.queries("x2_containment")(spark, sfDir)
    df.collect()
    val opt = df.queryExecution.optimizedPlan.toString
    assert(opt.contains("collect_list(doc_id"),
      s"no distinct-set collapse feeding the containment pair join; plan=\n$opt")
    graft.Caches.drain(spark)
  }

  test("x2_containment_dedup: pairs collapse map-side; no global sort ever sees the pair stream") {
    // the O(n)-output contract: the verified pair stream must hit a PARTIAL
    // max(struct)/count aggregate before the one hashpartitioning(doc_id)
    // exchange (map-side combine — at the 100x probe the pair list is ~7e8
    // rows and the sibling pair-list query's global sort spills ~25 GB),
    // and the only GLOBAL sort in the plan is the presentation order over
    // the aggregated <=-one-row-per-doc output (pair-level SortAggregate
    // pre-sorts are partition-local: Spark picks SortAggregate for a
    // struct-typed max, whose buffer hash agg can't hold)
    val df = SparkEntry.queries("x2_containment_dedup")(spark, sfDir)
    df.collect()
    val plan = df.queryExecution.executedPlan
    assert(plan.toString.contains("partial_max(struct(containment_e4"),
      s"no map-side combine of the pair stream; plan=\n$plan")
    val globalSorts = collectWithSubqueries(plan) {
      case s: org.apache.spark.sql.execution.SortExec if s.global => s
    }
    assert(globalSorts.nonEmpty &&
      globalSorts.forall(_.output.exists(_.name == "n_containers")),
      s"a global sort runs below the aggregate (over raw pairs):\n$plan")
    graft.Caches.drain(spark)
  }

  test("dedup-family shuffles carry digests, never document bodies") {
    // the 100 TB invariant: any exchange keyed on document identity must
    // shuffle a 16-byte digest, with the body projected away beforehand —
    // an exchange whose output still contains `text` ships the corpus
    for (name <- Seq("x1_dedup_stats", "x4_dedup_weight", "x4_curation_report")) {
      val df = SparkEntry.queries(name)(spark, sfDir)
      df.collect()
      val offending = collectWithSubqueries(df.queryExecution.executedPlan) {
        case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
            if e.output.exists(_.name == "text") => e
      }
      assert(offending.isEmpty,
        s"$name has an exchange carrying the raw text column:\n" +
          df.queryExecution.executedPlan)
    }
  }

  test("x2_simhash_neardup: candidates come from the equi-key block join") {
    // the pigeonhole contract: hamming<=3 candidates are generated by a
    // hash join on (block_id, block_bits) — an all-pairs plan (cartesian /
    // nested-loop) here would be quadratic in the corpus at 100 TB
    val p = planOf("x2_simhash_neardup")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoop"),
      s"all-pairs join in the simhash block plan:\n$p")
    assert(p.contains("blk") && p.contains("key"),
      s"expected the (blk, key) equi-join keys in the plan:\n$p")
    graft.Caches.drain(spark)
  }

  test("x3_knn_lsh: candidates come from the banded equi-key join") {
    // the LSH contract: candidate generation is a hash join on
    // (band, band_value) — an all-pairs plan here would defeat the whole
    // point of bucketing and go quadratic in the corpus at 100 TB
    val p = planOf("x3_knn_lsh")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoop"),
      s"all-pairs join in the LSH candidate plan:\n$p")
    assert(p.contains("bv"),
      s"expected the (b, bv) band equi-join keys in the plan:\n$p")
    graft.Caches.drain(spark)
  }

  test("x3_knn_pq: one bounded query-side NLJ, codes never shuffle pre-rank") {
    // the PQ contract after the native-ADC rewrite: the scan is the code
    // table × the FIXED-BUDGET query-table broadcast — ONE nested-loop
    // whose inner side is bounded (knnQueryStride) at any corpus size,
    // with the native ADC kernel evaluated in the scan's projection — and the only
    // exchanges before the rank window carry (query, neighbor, adist)
    // rows, never codes, tables, or full-precision vectors. More than one
    // NLJ (or any cartesian over two corpus-sized sides) would mean the
    // rerank's vectors leaked back onto the scan path.
    val p = planOf("x3_knn_pq")
    // AQE's toString prints the plan twice (Final + Initial) — count the
    // final section only
    val cartesians = "CartesianProduct|BroadcastNestedLoop".r
      .findAllIn(p.split("== Initial Plan ==").head).size
    assert(cartesians == 1,
      s"expected exactly the bounded codes x queries NLJ:\n$p")
    assert(p.contains("adcdistance"),
      s"expected the native ADC fold in the scan projection:\n$p")
    graft.Caches.drain(spark)
  }

  test("x3_knn_ivfpq: probe + ADC ride equi-joins; NLJs only against bounded sides") {
    // the IVF+PQ contract: members meet queries through the (cell) hash
    // join and the per-query table through the (query_id) hash join; the
    // only nested-loops are against BOUNDED broadcast sides — the
    // sqrt(n)-row centroid table (cell assignment + query probe). The raw
    // search IS the registered query (full neighbor-list oracle); pin its
    // plan.
    val df = graft.queries.Llm.knnIvfPqRaw(spark, sfDir)
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    graft.Caches.drain(spark)
    val cartesians = "CartesianProduct|BroadcastNestedLoop".r
      .findAllIn(p).size
    assert(cartesians <= 2, s"unexpected all-pairs joins in the IVFPQ plan:\n$p")
    assert(p.contains("cell"),
      s"expected the (cell) probe equi-join key:\n$p")
    assert(p.contains("adcdistance"),
      s"expected the native ADC fold in the scan projection:\n$p")
  }

  test("x3_hybrid_search: keyword filter is a semi-join on the index key, " +
      "and no exchange ships document text") {
    // the cross-modal contract: the documents-side predicate reduces to an
    // id list semi-joined into the vector index BEFORE the scan, and the
    // text column never survives into any shuffle of the vector plan
    val df = SparkEntry.queries("x3_hybrid_search")(spark, sfDir)
    df.collect()
    val opt = df.queryExecution.optimizedPlan.toString
    assert(opt.contains("LeftSemi"),
      s"expected the document predicate as a LeftSemi join; plan=\n$opt")
    val offending = collectWithSubqueries(df.queryExecution.executedPlan) {
      case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
          if e.output.exists(_.name == "text") => e
    }
    assert(offending.isEmpty,
      s"hybrid search shuffles the document text:\n${df.queryExecution.executedPlan}")
    graft.Caches.drain(spark)
  }

  test("x3_knn_filtered: predicate lands as a semi-join BEFORE the scan") {
    // filtered vector search must pre-filter the index (semi-join on the
    // eligible ids), not post-filter a top-k — a post-filter plan would
    // contain no semi join and could return fewer than k rows per query
    val df = SparkEntry.queries("x3_knn_filtered")(spark, sfDir)
    df.collect()
    val opt = df.queryExecution.optimizedPlan.toString
    assert(opt.contains("LeftSemi"),
      s"expected the eligibility predicate as a LeftSemi join; plan=\n$opt")
    graft.Caches.drain(spark)
  }

  test("x1_span_dedup: span exchange carries digests, one scan, no pairing") {
    // substring-level dedup's 100 TB contract: the only corpus-sized
    // exchange is keyed on the 8-byte span hash with the text projected
    // away, the documents scan reads exactly (doc_id, text), and there is
    // no pairwise join anywhere — the occurrence count is a window over
    // the digest exchange
    val df = SparkEntry.queries("x1_span_dedup")(spark, sfDir)
    df.collect()
    val plan = df.queryExecution.executedPlan
    val offending = collectWithSubqueries(plan) {
      case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
          if e.output.exists(_.name == "text") => e
    }
    assert(offending.isEmpty, s"span dedup shuffles document text:\n$plan")
    val p = plan.toString
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoop")
      && !p.contains("Join"), s"span dedup must not pair documents:\n$p")
    val scans = collectWithSubqueries(plan) { case f: FileSourceScanExec => f }
    assert(scans.size == 1 &&
      scans.head.requiredSchema.fieldNames.toSet == Set("doc_id", "text"),
      s"expected one (doc_id, text) scan; got ${scans.map(_.requiredSchema)}")
  }

  test("x3_bm25: one statistics pass and no exchange carries tokens; top-15 " +
      "is TakeOrderedAndProject, not a global sort") {
    val df = SparkEntry.queries("x3_bm25")(spark, sfDir)
    df.collect()
    val plan = df.queryExecution.executedPlan
    assert(plan.toString.contains("TakeOrderedAndProject"),
      s"BM25 top-k must be a partial top-k, not a global sort:\n$plan")
    // tokens never leave their document row: no explode, and the only
    // exchanges (the statistics aggregate and its broadcast) carry numbers
    val explodes = collectWithSubqueries(plan) {
      case g: org.apache.spark.sql.execution.GenerateExec => g
    }
    assert(explodes.isEmpty, s"BM25 explodes tokens:\n$plan")
    val tokenExchanges = collectWithSubqueries(plan) {
      case e: org.apache.spark.sql.execution.exchange.Exchange
          if e.output.exists(a => a.dataType.isInstanceOf[StringType] ||
            a.dataType.isInstanceOf[ArrayType]) => e
    }
    assert(tokenExchanges.isEmpty, s"an exchange carries text or tokens:\n$plan")
  }

  test("x3_rrf_fusion: every per-query top-k keeps O(k) state per query and " +
      "the legs meet in an equi-key outer join") {
    val df = SparkEntry.queries("x3_rrf_fusion")(spark, sfDir)
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    // the dense leg is the top-k aggregate; the lexical and fused rank
    // cutoffs are WindowGroupLimit partial top-k
    assert(p.contains("partial_top_k"),
      s"the dense leg must rank with the partial top-k aggregate:\n$p")
    assert(p.contains("WindowGroupLimit"),
      s"rank cutoffs must plan as WindowGroupLimit partial top-k:\n$p")
    assert(p.contains("FullOuter"),
      s"leg fusion must be the (query, neighbor)-keyed outer join:\n$p")
    assert(!p.contains("CartesianProduct"), s"cartesian in the fusion plan:\n$p")
    graft.Caches.drain(spark)
  }

  test("q_basket_pairs: top-100 is TakeOrderedAndProject; pair expansion is " +
      "in-row (no join at all)") {
    val p = planOf("q_basket_pairs")
    assert(p.contains("TakeOrderedAndProject"),
      s"support top-k must be a partial top-k, not a global sort:\n$p")
    assert(!p.contains("Join"),
      s"pairs must expand in-row from the basket array, not via a join:\n$p")
  }

  test("q_skew_profile: the 1-row totals ride a broadcast, top-10 is a " +
      "partial top-k") {
    val p = planOf("q_skew_profile")
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastHashJoin"),
      s"totals frame should broadcast:\n$p")
    assert(p.contains("TakeOrderedAndProject"),
      s"top-10 must be a partial top-k:\n$p")
  }

  test("q_events_markov: one user_id exchange feeds the lead window; the " +
      "25-row matrix broadcasts back") {
    val df = SparkEntry.queries("q_events_markov")(spark, sfDir)
    df.collect()
    val p = df.queryExecution.executedPlan
    val userExchanges = collectWithSubqueries(p) {
      case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
          if e.outputPartitioning.toString.contains("user_id") => e
    }
    assert(userExchanges.size == 1,
      s"expected exactly one user_id shuffle, got ${userExchanges.size}:\n$p")
    assert(p.toString.contains("BroadcastHashJoin"),
      s"row-total join should broadcast:\n$p")
  }

  test("x5_phash_neardup: candidates come from an equi-key block join, " +
      "never an all-pairs join") {
    val p = planOf("x5_phash_neardup")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoop"),
      s"phash pairing must stay on the pigeonhole equi-join:\n$p")
    assert(p.contains("SortMergeJoin") || p.contains("BroadcastHashJoin") ||
      p.contains("ShuffledHashJoin"), s"no equi-join found:\n$p")
    graft.Caches.drain(spark)
  }

  test("x3_mmr_rerank: the greedy selection is ONE MapGroups stage over a " +
      "single query_id shuffle; candidates broadcast against the corpus") {
    val df = SparkEntry.queries("x3_mmr_rerank")(spark, sfDir)
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("MapGroups"), s"greedy step must be mapGroups:\n$p")
    // candidate top-20: O(k) state per query on the map side, never a
    // window over every candidate
    assert(p.contains("partial_top_k") && !p.contains("Window"),
      s"candidate top-20 must be the partial top-k aggregate:\n$p")
    graft.Caches.drain(spark)
  }
}
