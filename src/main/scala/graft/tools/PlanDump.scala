package graft.tools

import graft.SparkEntry
import org.apache.spark.sql.SparkSession

/** Dev-only: dump the executed (AQE-final) physical plans of the headline
  * queries into PLANS.md. Usage:
  *   sbt "runMain graft.tools.PlanDump /root/testdata/sf0.001 PLANS.md"
  */
object PlanDump {
  private val headliners = Seq(
    "q1_pricing_summary", "q5_region_revenue", "q_topk_per_group",
    "q_events_range_join", "q_ntile", "x2_jaccard_exact", "x3_knn_brute",
    "x3_knn_ivf", "x4_pack", "x4_decontam", "q_table_profile",
    "q_events_retention",
    // top most expensive queries (r5/r7 bench) — plan drift regression
    // corpus: a lost WindowGroupLimit / lost broadcast / new cartesian
    // shows in the diff
    "x1_dedup_clusters", "x2_jaccard_bigram", "x4_ngram_topk", "x2_containment",
    // round-7 additions: the end-to-end funnel (most expensive query) and
    // the banded LSH candidate join
    "x4_pipeline_funnel", "x3_knn_lsh",
    // round-7 batch 2: the other bench top-5 resident (rrf), the iterative
    // graph query, and the mapGroups greedy rerank
    "x3_rrf_fusion", "x5_pagerank", "x3_mmr_rerank",
    // round-8: the PQ cascade (broadcast ADC lookup-table equi-join — a
    // cartesian here would put floats back on the corpus scan), the BPE
    // merge loop (per-iteration windows, 1-row argmax broadcasts), and
    // the temporal-pigeonhole video near-dup
    "x3_knn_pq", "x4_bpe_merges", "x5_video_neardup")

  private val preamble =
    """# PLANS — executed (AQE-final) physical plans of headline queries
      |
      |Generated at sf0.001 on local[8] by `graft.tools.PlanDump` (plans are
      |shape-identical at any SF; only partition counts change). What to look for:
      |- q1: both filters in `PushedFilters`, 7-column `ReadSchema`, partial+final
      |  HashAggregate around one hash shuffle, AQE-coalesced reads.
      |- q5: three BroadcastHashJoins (dims never shuffle the fact side).
      |- q_topk_per_group: `WindowGroupLimit` BELOW the shuffle — per-group top-k
      |  state is O(k) on the map side before the full window sort.
      |- q_events_range_join: equi-key join with the time window as a post-join
      |  condition — never a cartesian.
      |- q_ntile: range exchange + per-partition window (keyed by partition id)
      |  + broadcast offset join — the only single-partition stage is the P-row
      |  counts aggregate, never the table.
      |- x2_jaccard_exact: the `SetPairScan` kernel (MapPartitions) over the
      |  distinct rarity-array sets — every set pair tested in one
      |  per-partition loop, only qualifying pairs expanded back to docs.
      |- x3_knn_brute: BroadcastNestedLoopJoin over the broadcast query set with
      |  codegen'd `DotProduct` in the projection, ranked by one `top_k`
      |  ObjectHashAggregate (partial per partition, one SinglePartition
      |  merge) — the final order is a local Sort, no window and no
      |  rangepartitioning exchange.
      |- x3_knn_ivf: the exact IVF search over the PARQUET-BACKED index
      |  (FileScan of the graft-ivf cache, never the k-means build). At this
      |  cell count the statistics gate picks the single-phase exact scan;
      |  above `graft.ivf.minCellsForPruning` cells the two-phase
      |  triangle-pruning plan appears (probe top-k -> bound -> survivor
      |  scan), with query-side joins broadcast only below the
      |  `graft.broadcast.ivfQueries` byte gate. Every per-query ranking is
      |  the `top_k` aggregate — ungrouped (SinglePartition, local final
      |  Sort) below that gate, grouped by query_id above it.
      |- x4_pack: PrefixSum's two-pass scan — range exchange, pid-keyed local
      |  windows, P-row offset aggregate broadcast back; no unaggregated
      |  single-partition exchange.
      |- x4_decontam: distinct-aggregated test-side probe set joined on the
      |  shingle (equi-key hash join), then a left join back to train docs —
      |  nothing quadratic, nothing collected.
      |- q_table_profile: one FileScan feeding Expand (the 4 DISTINCT
      |  aggregates) into partial+final HashAggregate — a single pass over
      |  the table, never 4 scans.
      |- q_events_retention: the first-seen aggregate and the join-back
      |  share the user_id partitioning; the exact distinct count adds its
      |  two-phase dedup exchanges — every exchange equi-keyed and
      |  partial-aggregated, no window, nothing single-partition.
      |- x1_dedup_clusters: the set-level plan — rarity-ordered index arrays
      |  grouped to DISTINCT SETS, the qualifying-pair join over sets (never
      |  docs), CC's iteration plans absent (converged), label projection via
      |  one explode.
      |- x2_jaccard_bigram: the native `BigramSet` kernel in the tokenize
      |  projection (no interpreted HOF lambda), then the same broadcast
      |  set-pair join as x2_jaccard_exact.
      |- x4_ngram_topk: partial+final hash agg on (lang, ngram) then
      |  `WindowGroupLimit` below the rank shuffle — per-lang top-k state is
      |  O(k) map-side, the full per-lang sort never materializes.
      |- x2_containment: the `SetPairScan` containment kernel over the same
      |  distinct rarity-array sets — qualifying set pairs only, expanded to
      |  doc pairs by two explodes.
      |- x3_rrf_fusion: two k-bounded legs (IVF dense ending in the `top_k`
      |  aggregate, token-Jaccard lexical ending in WindowGroupLimit), fused
      |  by one outer join on (query, neighbor) — no full-corpus exchange
      |  after the legs.
      |- x5_pagerank: the persisted symmetric edge list reused by all 5
      |  iterations (one InMemoryRelation, 5 consumers); every contribution
      |  join broadcast (rank frame is node-sized), one sum shuffle per
      |  iteration, no materialization barriers between iterations.
      |- x3_mmr_rerank: the candidate top-20 (broadcast NL join + the `top_k`
      |  aggregate, x3_knn_ivf's shape) feeding ONE
      |  MapGroups/SerializeFromObject stage — the greedy selection is a
      |  single shuffle on query_id, no per-step exchanges.
      |""".stripMargin

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val out = args.lift(1).getOrElse("PLANS.md")
    val spark = SparkSession.builder()
      .master("local[8]")
      .config("spark.sql.shuffle.partitions", 8)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val sections = headliners.map { name =>
      val df = SparkEntry.queries(name)(spark, sfDir)
      df.collect() // drive to completion so AQE finalizes every stage
      // iterative queries (pagerank) unroll to plans with 2^iters repeated
      // subtrees — cap each dump at 400 lines; drift still shows in the head
      val full = df.queryExecution.executedPlan.toString
      val lines = full.linesIterator.toSeq
      val plan = if (lines.size <= 400) full
        else lines.take(400).mkString("\n") +
          s"\n... [truncated: ${lines.size - 400} more lines of repeated iteration subtrees]\n"
      s"## $name\n\n```\n$plan```\n"
    }
    java.nio.file.Files.writeString(java.nio.file.Paths.get(out),
      preamble + "\n" + sections.mkString("\n"))
    println(s"[plandump] wrote ${headliners.size} plans to $out")
    spark.stop()
  }
}
