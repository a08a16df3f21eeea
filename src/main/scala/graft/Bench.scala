package graft
import org.apache.spark.sql.SparkSession
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    SparkEntry.applyConfEnv(spark)
    // stale index artifacts from older fmtVersions accumulate across
    // harness runs — prune once per run (current-version entries are kept)
    graft.sources.IndexStore.pruneStale(spark)
    // Warm-up: initialize codegen/JIT, parquet reader, and shuffle machinery
    // once, outside any per-query timing (otherwise the first map entry —
    // arbitrary — absorbs ~4 s of session start-up cost).
    spark.range(1000).selectExpr("sum(id)").collect()
    try SparkEntry.queries("q_events_type_count")(spark, sfDir).count()
    catch { case _: Throwable => () }
    // Host-speed canary: a FIXED plan-trivial probe (synthetic range →
    // modulo → small-key shuffle → count; no parquet, no query code) timed
    // min-of-3 after warm-up. bench_out.json carries it as "probe", and
    // budget files stamp the probe of the run they were generated from
    // ("_probe"), so the over_budget gate can print a drift-normalized
    // ratio beside the raw one: raw 1.9× with drift_factor 1.8 is a slow
    // box, not a plan regression — diagnosing exactly that in r12 cost a
    // manual worktree rebuild of the prior round's commit.
    // deliberately SMALL (4M rows, ~0.1 s): the probe must read box speed
    // without perturbing the session it calibrates — a 32M-row variant
    // left enough allocator/GC residue to show up in the first queries
    def probeOnce(): Double = {
      val t0 = System.nanoTime()
      spark.range(0, 4L << 20, 1, 32)
        .selectExpr("id % 9973 AS k", "id")
        .groupBy("k").sum("id")
        .selectExpr("count(*)").collect()
      (System.nanoTime() - t0) / 1e9
    }
    val probe = if (sys.env.contains("SPARK_GRAFT_NOPROBE")) 0.0
      else (1 to 3).map(_ => probeOnce()).min
    // Three timed executions per query, min reported — INTERLEAVED as three
    // full rounds over the whole query list, not back-to-back. Host noise on
    // a shared box arrives in bursts lasting tens of seconds (measured:
    // q_count_distinct 0.16 s in one run, 9.9 s min-of-2 in another — BOTH
    // back-to-back samples inside one burst); with round-interleaving a
    // query's samples are ~5 minutes apart, so a burst inflates different
    // queries in each round and the per-query min escapes it. Every
    // execution runs the full plan — this is measurement methodology, not
    // reduced work. Caches are drained after every execution (nothing
    // outlives its query — accumulated persisted blocks were the r02
    // cross-query regression); JIT and OS page-cache warmth persist across
    // rounds, so later rounds still measure the steady state a live session
    // would see.
    // SPARK_GRAFT_ONLY: comma-separated query names for targeted scale
    // probes (e.g. re-timing one family at a 30x corpus after a plan
    // change) — full runs and the driver gate leave it unset
    val only = sys.env.get("SPARK_GRAFT_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    val names = SparkEntry.queries.toSeq
      .filter { case (n, _) => only.forall(_.contains(n)) }
    val best = scala.collection.mutable.Map.empty[String, Double]
    val failed = scala.collection.mutable.Set.empty[String]
    // SPARK_GRAFT_ROUNDS: one-off scale runs (e.g. the sf1 point) drop to a
    // single round — growth exponents are order-of-magnitude reads and a
    // 10x corpus round is ~15 min; the driver-gate bench keeps min-of-3.
    val rounds = sys.env.getOrElse("SPARK_GRAFT_ROUNDS", "3").toInt
    (1 to rounds).foreach { _ =>
      names.foreach { case (name, fn) =>
        val t0 = System.nanoTime()
        // a throwing query must NOT record its time-to-failure as a (fast)
        // result — it would masquerade as a healthy sub-second query in the
        // bench JSON; surface it in a "failed" list instead
        val ok = try { fn(spark, sfDir).count(); true }
          catch { case e: Throwable =>
            System.err.println(s"[bench] $name failed: ${e.getMessage}"); false
          }
        val dt = (System.nanoTime() - t0) / 1e9
        if (ok) best(name) = math.min(best.getOrElse(name, Double.MaxValue), dt)
        else failed += name
        graft.Caches.drain(spark)
      }
    }
    // "queries" holds ONLY real timings (a query lands there iff at least
    // one round succeeded — no sentinels downstream tooling could sum);
    // "failed" holds queries that failed EVERY round; queries that failed
    // some round but succeeded another are listed under "flaky" with their
    // successful timing still in "queries".
    val results = names.flatMap { case (name, _) => best.get(name).map(name -> _) }.toMap
    val qs = results
      .map { case (k, v) => s"\"" + k + "\":" + v }
      .mkString("{", ",", "}")
    def strList(xs: Seq[String]) = xs.sorted.map("\"" + _ + "\"").mkString("[", ",", "]")
    val fs = strList(failed.toSeq.filterNot(results.contains))
    val fl = strList(failed.toSeq.filter(results.contains))
    val total = if (results.nonEmpty) results.values.sum else 0.0
    // Per-query budget gate: BUDGETS.json (repo root; flat {"query": sec})
    // pins a quiet-window min-of-3 per query. A query >2× its budget lands
    // in "over_budget" — the driver-gate analog at per-query granularity,
    // so a plan regression is caught by name, not buried in the total.
    // Budgets and the current run both measure min-of-3 interleaved on the
    // same box, so the ratio cancels host speed but NOT a noise burst that
    // hits all three of one query's samples; over_budget is a flag to
    // re-profile isolated, not yet proof of a regression.
    val budgetFile: Map[String, String] = {
      // budgets are pinned at ONE scale factor ("_sf" stamp) per file —
      // BUDGETS.json carries the sf0.1 driver-gate pins, BUDGETS_SF1.json
      // the 10x scale point. Pick the file whose stamp matches this run's
      // sfDir; at an unpinned sf the gate is off (comparing a scale run
      // against another sf's budgets would flag every query).
      def parse(f: java.io.File): Map[String, String] = {
        val txt = new String(java.nio.file.Files.readAllBytes(f.toPath), "UTF-8")
        "\"([^\"]+)\"\\s*:\\s*\"?([^\",}]+)\"?".r.findAllMatchIn(txt)
          .map(m => m.group(1) -> m.group(2)).toMap
      }
      Option(new java.io.File(".").listFiles()).getOrElse(Array.empty)
        .filter(f => f.getName.startsWith("BUDGETS") && f.getName.endsWith(".json"))
        .sortBy(_.getName)
        .map(parse)
        .find(_.get("_sf").forall(_ == sfDir))
        .getOrElse(Map.empty)
    }
    // meta keys ride an "_" prefix; "_excluded.<query>" records a query
    // DELIBERATELY not budgeted at this sf (e.g. the exact pair-list
    // oracle floors whose output is quadratic by contract — their LSH /
    // decision twins are the budgeted 100 TB defaults). Any query that
    // runs at a budgeted sf and is neither budgeted nor excluded lands in
    // "unbudgeted" — the machine check that a silent-regression hole is a
    // POLICY choice, never an omission.
    val budgets: Map[String, Double] =
      budgetFile.filterNot(_._1.startsWith("_")).view.mapValues(_.toDouble).toMap
    val excluded = budgetFile.keySet.collect {
      case k if k.startsWith("_excluded.") => k.stripPrefix("_excluded.") }
    // drift_factor > 1 = this box is SLOWER than the box that pinned the
    // budgets; raw over-budget ratios near the drift factor are host
    // noise, ratios well above it are real plan regressions
    val driftFactor = budgetFile.get("_probe").map(p => probe / p.toDouble)
      .getOrElse(1.0)
    val overBudget = results.toSeq
      .flatMap { case (name, t) =>
        budgets.get(name).collect { case b if t > 2.0 * b => name -> (t / b) } }
      .sortBy(-_._2)
    def ratios(norm: Double) = overBudget
      .map { case (n, r) => "\"" + n + "\":" + (math.round(r / norm * 100) / 100.0) }
      .mkString("{", ",", "}")
    val ob = ratios(1.0)
    val obNorm = ratios(math.max(driftFactor, 1e-9))
    val unbudgeted = if (budgets.isEmpty) Nil
      else results.keys.filterNot(n =>
        budgets.contains(n) || excluded.contains(n)).toSeq
    val line =
      s"""{"metric":"total","value":$total,"unit":"sec","queries":$qs,""" +
        s""""failed":$fs,"flaky":$fl,"over_budget":$ob,""" +
        s""""over_budget_norm":$obNorm,"probe":${math.round(probe * 1000) / 1000.0},""" +
        s""""drift_factor":${math.round(driftFactor * 1000) / 1000.0},""" +
        s""""unbudgeted":${strList(unbudgeted)},""" +
        s""""budgeted":${budgets.size},"sf":"$sfDir"}"""
    println(line)
    // the harness keeps only a tail of stdout — persist the full record so
    // round-over-round per-query comparison never depends on prose
    java.nio.file.Files.write(java.nio.file.Paths.get("bench_out.json"),
      (line + "\n").getBytes("UTF-8"))
    graft.queries.Dashboard.clearCache(spark)
    graft.queries.Llm.clearCache(spark)
    spark.catalog.clearCache()
    spark.stop()
  }
}
