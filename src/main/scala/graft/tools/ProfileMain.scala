package graft.tools

import graft.SparkEntry
import graft.functions.{NativeExpressions => NX, TextFunctions => TF}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Dev-only micro-profiler. Two modes:
  *
  *   sbt "runMain graft.tools.ProfileMain <sfDir> <query> [query...]"
  *     — time each named query 3x (Caches drained between runs, like Bench)
  *
  *   sbt "runMain graft.tools.ProfileMain <sfDir> @bigram"
  *     — decompose x2_jaccard_bigram into its pipeline stages
  */
object ProfileMain {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val names = args.drop(1)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // same ablation hook as Bench/Verify: semicolon-separated session confs
    sys.env.get("SPARK_GRAFT_CONF").foreach(_.split(';').filter(_.contains('='))
      .foreach { kv =>
        val Array(k, v) = kv.split("=", 2); spark.conf.set(k.trim, v.trim)
      })
    spark.range(1000).selectExpr("sum(id)").collect() // warm codegen/JIT

    names.foreach {
      case "@bigram" => bigramPieces(spark, sfDir)
      case "@dsir" => dsirPieces(spark, sfDir)
      case "@knn" => knnPieces(spark, sfDir)
      case "@clusters" => clusterPieces(spark, sfDir)
      case "@scale" => scaleSweep(spark, sfDir)
      case "@prefix" => prefixSweep(spark, sfDir)
      case "@lshskew" => lshSkewSweep(spark)
      case "@lshknn" => lshKnnSweep(spark)
      case "@bglm" => bigramLmPieces(spark, sfDir)
      case "@rrf" => rrfPieces(spark, sfDir)
      case "@screens" => screenPieces(spark, sfDir)
      case "@funnel" => funnelPieces(spark, sfDir)
      case "@containlsh" => containmentLshPieces(spark, sfDir)
      // warm:<query> — 3 runs with NO cache drain between them, mimicking
      // the r01-era min-of-2 bench whose persisted frames stayed warm
      // across samples; the run2/run3 times are what those era numbers
      // actually measured for cache-heavy queries
      case name if name.startsWith("warm:") =>
        val q = name.stripPrefix("warm:")
        (1 to 3).foreach { i =>
          time(s"$q warm$i") { SparkEntry.queries(q)(spark, sfDir).count() }
        }
        graft.Caches.drain(spark)
      case name =>
        (1 to 3).foreach { i =>
          time(s"$name run$i") { SparkEntry.queries(name)(spark, sfDir).count() }
          graft.Caches.drain(spark)
        }
    }
    spark.stop()
  }

  private def time[A](label: String)(f: => A): A = {
    val t0 = System.nanoTime()
    val r = f
    println(f"[profile] $label%-32s ${(System.nanoTime() - t0) / 1e9}%8.3f s")
    r
  }

  /** Per-batch cost of the streaming screens against a corpus index built
    * over `dir`'s documents (run with dir=/tmp/graft-sf10 for the 100×
    * point): artifact build (first call), artifact reuse (second call),
    * min-of-3 per-batch screen time for a 1000-doc incoming batch, and
    * the index's max (blk, key) bucket — the number the interleaved keys
    * exist to bound.
    */
  private def screenPieces(spark: SparkSession, dir: String): Unit = {
    import spark.implicits._
    import graft.streaming.Streams
    val docs = graft.Tables.load(spark, dir, "documents")
    val incoming = docs.select("doc_id", "text")
      .filter(col("doc_id") % 479 === 7).limit(1000).localCheckpoint(true)
    println(s"[profile] incoming batch rows = ${incoming.count()}")
    def batch3(label: String)(f: => Long): Unit = (1 to 3).foreach { i =>
      time(s"$label batch$i")(f)
    }
    def bucketMax(blocks: org.apache.spark.sql.DataFrame): Long =
      blocks.groupBy("blk", "key").count().agg(max("count")).head().getLong(0)
    // simhash (text): 4 interleaved blocks
    val sim = time("simhash index build")(
      Streams.simhashIndexLoadOrBuild(docs.select("doc_id", "text"), dir))
    time("simhash index reuse")(
      Streams.simhashIndexLoadOrBuild(docs.select("doc_id", "text"), dir))
    println(s"[profile] simhash blocksBytes=${sim.blocksBytes} " +
      s"maxBucket=${bucketMax(sim.blocks)}")
    batch3("simhash screen")(Streams.simhashScreen(incoming, sim).count())
    // phash (image): 3 interleaved blocks over REAL-decoded rasters
    val ppm = graft.queries.Multimodal.withPpmPayload(docs)
    val ph = time("phash index build")(Streams.phashIndexLoadOrBuild(ppm, dir))
    time("phash index reuse")(Streams.phashIndexLoadOrBuild(ppm, dir))
    println(s"[profile] phash blocksBytes=${ph.blocksBytes} " +
      s"maxBucket=${bucketMax(ph.blocks)}")
    val inPpm = graft.queries.Multimodal.withPpmPayload(
      docs.filter(col("doc_id") % 479 === 7).limit(1000)).localCheckpoint(true)
    batch3("phash screen")(Streams.phashScreen(inPpm, ph).count())
    // video (y4m): 3 interleaved blocks over decoded temporal hashes
    val y4m = graft.queries.Multimodal.withY4mPayload(docs)
    val vi = time("video index build")(Streams.videoIndexLoadOrBuild(y4m, dir))
    time("video index reuse")(Streams.videoIndexLoadOrBuild(y4m, dir))
    println(s"[profile] video blocksBytes=${vi.blocksBytes} " +
      s"maxBucket=${bucketMax(vi.blocks)}")
    val inY4m = graft.queries.Multimodal.withY4mPayload(
      docs.filter(col("doc_id") % 479 === 7).limit(1000))
      .localCheckpoint(true).as[(Long, Array[Byte])]
    batch3("video screen")(Streams.videoScreen(inY4m, vi).count())
    graft.Caches.drain(spark)
  }

  private def clusterPieces(spark: SparkSession, dir: String): Unit = {
    (1 to 2).foreach { round =>
      println(s"[profile] --- clusters round $round ---")
      val tok = graft.Caches.persist(graft.Tables.load(spark, dir, "documents")
        .select(col("doc_id"),
          explode(graft.functions.TextFunctions.tokenSet(col("text"))).as("w")))
      val vocab = time("tok + vocab count") { tok.select("w").distinct().count() }
      val (sets, pairs) = graft.queries.Llm.bitsetSetsAndPairs(tok, 0.9)
      val nSets = time("sets") { sets.count() }
      val nPairs = time("pairs") { pairs.filter(col("sa") =!= col("sb")).count() }
      println(s"[profile] vocab=$vocab sets=$nSets cross-set pairs=$nPairs")
      time("CC") {
        graft.operators.ConnectedComponents(
          sets.select(col("sid").as("id")),
          pairs.filter(col("sa") =!= col("sb"))
            .select(col("sa").as("src"), col("sb").as("dst"))).count()
      }
      time("full query e2e") {
        graft.SparkEntry.queries("x1_dedup_clusters")(spark, dir).count()
      }
      graft.Caches.drain(spark)
    }
  }

  /** Decompose containmentLshVerified's execution (the x2_containment_lsh /
    * _dedup engine): sets/sig construction, tier-1 same-stratum banding,
    * tier-2 cross-strata probing, exact verify, doc expansion — mirrors the
    * production construction piece by piece (noop-sunk per guide §1.4) so
    * the expensive side of the two-tier candidate join is attributable.
    * Dev-only duplication; the production code stays in queries.Llm.
    */
  private def containmentLshPieces(spark: SparkSession, dir: String): Unit = {
    def noop(df: org.apache.spark.sql.DataFrame): Unit =
      df.write.format("noop").mode("overwrite").save()
    (1 to 2).foreach { round =>
      println(s"[profile] --- containment-lsh round $round ---")
      val d0 = graft.Tables.load(spark, dir, "documents")
      val K = 32; val bands2 = 16; val P31 = 2147483647L
      val sets = graft.Caches.persist(
        d0.select(col("doc_id"),
            sort_array(array_distinct(NX.wordHash62(
              TF.tokenSet(col("text"))))).as("hs"))
          .groupBy("hs")
          .agg(min("doc_id").as("sid"), collect_list("doc_id").as("members"),
            count(lit(1)).as("m"))
          .withColumn("n", size(col("hs")).cast("long"))
          .withColumn("strat", (length(conv(col("n"), 10, 2)) - 1).cast("int")))
      time("sets materialize") { sets.count() }
      val sig = graft.Caches.persist(sets.select(col("sid"), col("strat"),
        NX.minhashPortable(col("hs"), K).as("sig")))
      time("sig materialize") { sig.count() }
      val setStats = sets.agg(count(lit(1)), min("strat"), max("strat")).head()
      val bkArr = array((0 until bands2).map { b =>
        element_at(col("sig"), 2 * b + 1) * P31 + element_at(col("sig"), 2 * b + 2)
      }: _*)
      val b2 = sig.select(col("sid"), col("strat"), bkArr.as("bks"))
        .select(col("sid"), col("strat"), col("bks"),
          posexplode(col("bks")).as(Seq("band", "bk")))
      val cand0 = b2.as("a").join(b2.as("b"),
          col("a.band") === col("b.band") && col("a.bk") === col("b.bk") &&
            col("a.strat") === col("b.strat") && col("a.sid") < col("b.sid"))
        .filter(col("a.band") + 1 === NX.firstEq(
          col("a.bks"), col("b.bks"), lit(bands2)))
        .select(col("a.sid").as("sa"), col("b.sid").as("sb"))
      time("tier1 cand0") { noop(cand0) }
      val (minS, maxS) =
        if (setStats.isNullAt(1)) (0, 0) else (setStats.getInt(1), setStats.getInt(2))
      val maxGap = maxS - minS
      val candG: org.apache.spark.sql.DataFrame = if (maxGap <= 0) null else {
        val gaps = array((1 to maxGap).map(g =>
          struct(lit(g).as("g"),
            lit(graft.queries.Llm.containmentBandsForGap(g)).as("bud"))): _*)
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
          .filter(col("a.k") + 1 === NX.firstEq(
            col("a.sig"), col("b.sig"), col("a.bud")))
          .select(least(col("a.sid"), col("b.sid")).as("sa"),
            greatest(col("a.sid"), col("b.sid")).as("sb"))
      }
      if (candG != null) time("tier2 candG") { noop(candG) }
      val cand = if (candG == null) cand0 else cand0.unionAll(candG)
      val nSets = setStats.getLong(0)
      val bs = graft.Broadcasts.gate(spark, "containment", nSets,
        rowBytes = 400, defaultBytes = 400L << 20)
      val verified = cand
        .join(bs(sets.select(col("sid").as("sa"), col("hs").as("ha"),
          col("n").as("na"), col("members").as("mem_a"))), "sa")
        .join(bs(sets.select(col("sid").as("sb"), col("hs").as("hb"),
          col("n").as("nb"), col("members").as("mem_b"))), "sb")
        .withColumn("i", NX.isect(col("ha"), col("hb")))
        .filter(col("i") * 10 >= least(col("na"), col("nb")) * 9)
        .withColumn("containment_e4", expr("i * 10000 div least(na, nb)"))
        .withColumn("jaccard_e4", expr("i * 10000 div (na + nb - i)"))
      time("cand+verify") { noop(verified.drop("ha", "hb")) }
      val crossPairs = verified
        .select(explode(col("mem_a")).as("x"), col("mem_b"),
          col("na"), col("nb"), col("containment_e4"), col("jaccard_e4"))
        .repartition(col("x"))
        .select(col("x"), explode(col("mem_b")).as("y"),
          col("na"), col("nb"), col("containment_e4"), col("jaccard_e4"))
      time("crossPairs expand") { noop(crossPairs) }
      time("full x2_containment_lsh") {
        SparkEntry.queries("x2_containment_lsh")(spark, dir).count() }
      time("full x2_containment_dedup") {
        SparkEntry.queries("x2_containment_dedup")(spark, dir).count() }
      graft.Caches.drain(spark)
    }
  }

  /** @rrf — decompose x3_rrf_fusion into its stages: index load, dense
    * knnExact leg, lexical token materialization, both lexical scorers,
    * the lexical top-k leg, and the fused end-to-end query.
    */
  private def rrfPieces(spark: SparkSession, dir: String): Unit = {
    (1 to 2).foreach { round =>
      println(s"[profile] --- rrf round $round ---")
      val e = graft.Tables.load(spark, dir, "embeddings").select(col("vec_id"),
        graft.functions.VectorFunctions.toDouble(col("embedding")).as("v"))
      val idx = time("index load") {
        graft.operators.IvfIndex.loadOrBuild(e, key = dir) }
      val qv = idx.assigned.filter(col("vec_id") % 50 === 0)
        .select(col("vec_id").as("query_id"), col("v").as("qv"))
      time("dense leg knnExact k=20") {
        graft.operators.IvfIndex.knnExact(idx, qv, k = 20, nprobe = 3).count() }
      val tok = graft.queries.Llm.lexicalTokens(
        graft.Tables.load(spark, dir, "documents"))
      val vocab = time("tok materialize + vocab count") {
        tok.select("w").distinct().count() }
      val pred = col("doc_id") % 50 === 0
      time("lexical mask scores") {
        graft.queries.Llm.lexicalMaskScores(tok, vocab, pred).count() }
      time("lexical posting scores") {
        graft.queries.Llm.lexicalPostingScores(tok, pred).count() }
      graft.Caches.drain(spark)
      time("lexical leg top-k") {
        graft.queries.Llm.lexicalJaccardTopK(spark,
          graft.Tables.load(spark, dir, "documents"), pred, k = 20).count() }
      graft.Caches.drain(spark)
      time("full query e2e") {
        SparkEntry.queries("x3_rrf_fusion")(spark, dir).count() }
      graft.Caches.drain(spark)
    }
  }

  /** Empirical scaling sweep for the similarity/dedup scale paths: derive
    * k x sf0.1 corpora (k = 1,2,4,8) and time the operators whose plans
    * SCALING.md claims are sub-quadratic. Replicas are PERTURBED so no
    * cross-replica duplicates are manufactured (which would grow pair
    * outputs k^2 and measure output materialization, not the operator):
    * replica r>0 suffixes every token with `_r` (token sets disjoint from
    * every other replica; within-replica dup structure preserved exactly)
    * and circularly shifts every embedding by r components (cosine to the
    * unshifted original ~0 on these near-isotropic vectors). Results land
    * in SCALING.md's measured-scaling table. Dev-only tool.
    */
  private def scaleSweep(spark: SparkSession, baseDir: String): Unit =
    scaleSweepOver(spark, baseDir,
      Seq("x1_dedup_clusters", "x2_jaccard_exact", "x2_containment",
        "x2_minhash_lsh", "x2_simhash_neardup", "x3_knn_ivf",
        "x5_neardup_ivf", "x4_tfidf", "x4_decontam", "x4_pack",
        "x3_knn_filtered", "x4_ngram_topk", "x4_dedup_weight",
        "x4_vocab_coverage", "x5_pagerank", "x3_mmr_rerank",
        "x1_lsh_clusters", "x4_mlm_mask", "x4_hash_embed",
        "x5_image_phash", "x5_phash_neardup", "x5_audio_fingerprint"))

  /** Adversarial hot-band corpus: m IDENTICAL boilerplate docs (every one
    * lands in the same bucket of all 16 bands) + a distinct tail. Compares
    * the shipped distinct-set-collapsed LSH against the doc-level band join
    * it replaced: same output (m·(m-1)/2 pairs at j=1.0 + the tail's), but
    * the doc-level join drags 16·m²/2 bucket pairs through the candidate
    * dedup shuffle while the collapsed path band-joins ONE set row and
    * re-expands the owed pairs narrow.
    */
  private def lshSkewSweep(spark: SparkSession): Unit = {
    import org.apache.spark.sql.DataFrame
    val template = (1 to 30).map(i => s"tpl$i").mkString(" ")
    def corpus(m: Int): DataFrame =
      spark.range(m).select(col("id").as("doc_id"), lit(template).as("text"))
        .unionAll(spark.range(100).select((col("id") + 1000000L).as("doc_id"),
          concat_ws(" ", lit("tail"), col("id").cast("string"),
            lit("w1 w2 w3 w4 w5 w6")).as("text")))
    // the r05 doc-level formulation, reconstructed for comparison
    def docLevel(d0: DataFrame): DataFrame = {
      val P31 = 2147483647L
      val d = graft.Caches.persist(d0.select(col("doc_id"),
        NX.shinglesPortable(TF.tokens(col("text")), 3).as("sh")))
      val sig = d.select(col("doc_id"),
        NX.minhashPortable(col("sh"), 32).as("sig"))
      val banded = sig.select(col("doc_id"),
        posexplode(array((0 until 16).map { b =>
          element_at(col("sig"), 2 * b + 1) * P31 +
            element_at(col("sig"), 2 * b + 2)
        }: _*)).as(Seq("band", "bk")))
      val cand = banded.as("a")
        .join(banded.as("b"),
          col("a.band") === col("b.band") && col("a.bk") === col("b.bk") &&
            col("a.doc_id") < col("b.doc_id"))
        .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
        .dropDuplicates("doc_a", "doc_b")
      cand
        .join(d.select(col("doc_id").as("doc_a"), col("sh").as("sh_a")), "doc_a")
        .join(d.select(col("doc_id").as("doc_b"), col("sh").as("sh_b")), "doc_b")
        .withColumn("i", NX.isect(col("sh_a"), col("sh_b")))
        .withColumn("j", col("i").cast("double") /
          (size(col("sh_a")) + size(col("sh_b")) - col("i")).cast("double"))
        .filter(col("j") >= 0.5)
        .select(col("doc_a"), col("doc_b"), round(col("j"), 4).as("jaccard"))
    }
    for (m <- Seq(2000, 4000, 8000)) {
      val d = corpus(m)
      val rows = time(s"lsh set-collapsed m=$m") {
        graft.queries.Llm.minhashLshPairs(spark, d, 0.5).count()
      }
      graft.Caches.drain(spark)
      time(s"lsh collapsed NOSORT m=$m") {
        graft.queries.Llm.minhashLshPairsUnsorted(spark, d, 0.5).count()
      }
      graft.Caches.drain(spark)
      val rowsOld = time(s"lsh doc-level    m=$m") {
        docLevel(d).orderBy("doc_a", "doc_b").count()
      }
      graft.Caches.drain(spark)
      println(s"[profile]   rows collapsed=$rows docLevel=$rowsOld")
    }
  }

  /** @lshknn — hyperplane-LSH knn scaling: clustered corpora 4k..32k
    * (fixed cluster size, so cluster COUNT grows with n), ~100 queries.
    * Sweeps bitsPerBand = 8 + log2(n/4000) alongside n — the deployment
    * rule that keeps per-band bucket occupancy (n / 2^bits) constant — and
    * prints wall-clock, candidate count, and recall vs the exact brute
    * join at each point. The claim under test: candidates/query stays
    * ~flat as n grows 8x, while brute-force work grows linearly.
    */
  private def lshKnnSweep(spark: SparkSession): Unit = {
    import spark.implicits._
    import graft.functions.{VectorFunctions => VF}
    for ((n, bpb) <- Seq((4000, 8), (8000, 9), (16000, 10), (32000, 11))) {
      val rng = new scala.util.Random(71)
      val centers = Array.fill(n / 30)(Array.fill(16)(rng.nextGaussian()))
      val vecs = (0L until n.toLong).map { i =>
        val ctr = centers((i % centers.length).toInt)
        (i, ctr.map(x => x + rng.nextGaussian() * 0.02).toSeq)
      }
      val emb = graft.Caches.persist(vecs.toDF("vec_id", "embedding"))
      emb.count()
      val step = n / 100
      val pred = col("vec_id") % step === 0
      val lsh = time(s"lsh knn   n=$n bpb=$bpb") {
        graft.queries.Llm.knnLsh(spark, emb, pred, k = 10,
          bands = 8, bitsPerBand = bpb).collect()
      }
      // candidate volume: the banded join's output before rerank
      val bands = emb.select(col("vec_id"),
        posexplode(NX.hyperplaneBands(col("embedding"), 8, bpb)).as(Seq("b", "bv")))
      val cands = bands.filter(pred)
        .select(col("vec_id").as("query_id"), col("b"), col("bv"))
        .join(bands.withColumnRenamed("vec_id", "neighbor_id"), Seq("b", "bv"))
        .filter(col("neighbor_id") =!= col("query_id"))
        .select("query_id", "neighbor_id").distinct().count()
      val brute = time(s"brute knn n=$n        ") {
        val e = graft.Caches.persist(
          emb.select(col("vec_id"), VF.toDouble(col("embedding")).as("v"))
            .withColumn("nrm", VF.l2Norm(col("v"))))
        val q = e.filter(pred).select(col("vec_id").as("query_id"),
          col("v").as("qv"), col("nrm").as("qn"))
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy("query_id").orderBy(desc("s"), asc("neighbor_id"))
        e.select(col("vec_id").as("neighbor_id"), col("v").as("nv"),
            col("nrm").as("nn"))
          .join(broadcast(q), col("neighbor_id") =!= col("query_id"))
          .withColumn("s", NX.dot(col("qv"), col("nv")) / (col("qn") * col("nn")))
          .withColumn("rk", row_number().over(w))
          .filter(col("rk") <= 10)
          .select(col("query_id"), col("neighbor_id")).collect()
      }
      val bruteSet = brute.map(r => (r.getLong(0), r.getLong(1))).toSet
      val lshSet = lsh.map(r => (r.getLong(0), r.getLong(2))).toSet
      val recall = (bruteSet & lshSet).size.toDouble / bruteSet.size
      val nq = vecs.count(v => v._1 % step == 0)
      println(f"[profile]   n=$n%6d queries=$nq%4d cand=$cands%8d " +
        f"cand/query=${cands.toDouble / nq}%8.1f recall=$recall%.3f")
      graft.Caches.drain(spark)
    }
    // multiprobe at an aggressively high bitsPerBand: the recall-recovery
    // knob when buckets are sized for minimal candidates. Looser clusters
    // (sigma 0.25) so the primary buckets visibly miss true neighbors.
    val n = 32000
    val rng = new scala.util.Random(73)
    val centers = Array.fill(n / 30)(Array.fill(16)(rng.nextGaussian()))
    val vecs = (0L until n.toLong).map { i =>
      val ctr = centers((i % centers.length).toInt)
      (i, ctr.map(x => x + rng.nextGaussian() * 0.25).toSeq)
    }
    val emb = graft.Caches.persist(vecs.toDF("vec_id", "embedding"))
    emb.count()
    val pred = col("vec_id") % (n / 100) === 0
    val exact = {
      val e = graft.Caches.persist(
        emb.select(col("vec_id"), VF.toDouble(col("embedding")).as("v"))
          .withColumn("nrm", VF.l2Norm(col("v"))))
      val q = e.filter(pred).select(col("vec_id").as("query_id"),
        col("v").as("qv"), col("nrm").as("qn"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("query_id").orderBy(desc("s"), asc("neighbor_id"))
      e.select(col("vec_id").as("neighbor_id"), col("v").as("nv"), col("nrm").as("nn"))
        .join(broadcast(q), col("neighbor_id") =!= col("query_id"))
        .withColumn("s", NX.dot(col("qv"), col("nv")) / (col("qn") * col("nn")))
        .withColumn("rk", row_number().over(w))
        .filter(col("rk") <= 10)
        .select(col("query_id"), col("neighbor_id")).collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
    }
    for (flips <- Seq(0, 2, 4)) {
      val got = time(s"lsh bpb=13 flips=$flips n=$n") {
        graft.queries.Llm.knnLsh(spark, emb, pred, k = 10,
          bands = 8, bitsPerBand = 13, flips = flips).collect()
      }
      val gotSet = got.map(r => (r.getLong(0), r.getLong(2))).toSet
      println(f"[profile]   flips=$flips rows=${got.length}%5d " +
        f"recall=${(exact & gotSet).size.toDouble / exact.size}%.3f")
    }
    graft.Caches.drain(spark)
  }

  /** @bglm — stage decomposition of x4_lm_score_bigram: where do the
    * seconds go (bigram explode vs model aggregation vs score join)?
    */
  private def bigramLmPieces(spark: SparkSession, sfDir: String): Unit = {
    import org.apache.spark.sql.functions._
    val d = graft.Tables.load(spark, sfDir, "documents")
    val toksOf = split(col("text"), " ")
    val nToks = size(toksOf)
    val bgExpr = explode(when(nToks >= 2,
      transform(sequence(lit(2), nToks), i =>
        struct(element_at(toksOf, i - 1).as("prev"),
          element_at(toksOf, i).as("cur"))))).as("b")
    time("bigram explode+count")(
      d.select(col("doc_id"), bgExpr)
        .select(col("doc_id"), col("b.prev"), col("b.cur")).count())
    val bg = graft.Caches.persist(d.select(col("doc_id"), bgExpr)
      .select(col("doc_id"), col("b.prev").as("prev"), col("b.cur").as("cur")))
    time("bigram persist")(bg.count())
    val cbi = bg.groupBy("prev", "cur").agg(count(lit(1)).as("cb"))
    time("bigram model agg")(cbi.count())
    time("full query")(
      graft.SparkEntry.queries("x4_lm_score_bigram")(spark, sfDir).count())
    graft.Caches.drain(spark)
  }

  /** @prefix — scaling sweep for exact Jaccard and containment on an
    * OPEN vocabulary: G topic groups, each with its own 192-token
    * vocabulary (total vocab = 192·G ≫ 4096, so containment dispatches to
    * its prefix plan on its own — no conf override) and 50 docs of 28
    * tokens sampled from the group vocabulary, plus planted near-dup pairs
    * (1-token edits) and embedded snippets (6-token subsets). Scaling G
    * scales docs AND vocabulary together — per-token fanout stays bounded
    * (≈ docs-per-group), which is the property that makes prefix
    * filtering sub-quadratic.
    */
  private def prefixSweep(spark: SparkSession, baseDir: String): Unit = {
    import spark.implicits._
    Seq(40, 80, 160, 320).foreach { groups =>
      val docs = (0L until groups * 50L).map { id =>
        val g = id / 50
        val vocab = (0 until 192).map(v => s"g${g}w$v")
        // docs come in blocks of 5 sharing an anchor: the anchor's base set,
        // a 1-token-edit near-dup of it, a 6-token embedded snippet of it,
        // and two independent docs — so every block plants one J >= 0.7
        // pair and one C = 1.0 pair with known counts
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
      val tok = graft.Caches.persist(docs.select(col("doc_id"),
        explode(array_distinct(split(col("text"), " "))).as("w")))
      val vocabSize = tok.select("w").distinct().count()
      for ((label, run) <- Seq[(String, () => Long)](
          ("jaccard", () =>
            graft.queries.Llm.jaccardPairsForTest(spark, tok, 0.7).count()),
          ("containment", () =>
            graft.queries.Llm.containmentPairsForTest(spark, tok, 9, 10).count()))) {
        val t = (1 to 2).map { _ =>
          val t0 = System.nanoTime()
          val n = run()
          ((System.nanoTime() - t0) / 1e9, n)
        }
        println(f"[prefix] G=$groups%-4d vocab=$vocabSize $label%-12s " +
          f"run1=${t(0)._1}%7.2f s  run2=${t(1)._1}%7.2f s  rows=${t(1)._2}%d")
      }
      graft.Caches.drain(spark)
    }
  }

  private def scaleSweepOver(spark: SparkSession, baseDir: String,
      sweepQueries: Seq[String]): Unit = {
    import org.apache.spark.sql.DataFrame
    val root = "/tmp/graft-scale"
    def buildDir(k: Int): String = {
      val dir = s"$root/x$k"
      def replicate(name: String, remap: (DataFrame, Int) => DataFrame): Unit = {
        val path = s"$dir/$name.parquet"
        if (!new java.io.File(s"$path/_SUCCESS").isFile) {
          val base = graft.Tables.load(spark, baseDir, name)
          val shifted = (0 until k).map(r => remap(base, r))
          shifted.reduce(_.unionAll(_)).write.mode("overwrite").parquet(path)
        }
      }
      replicate("documents", (d, r) =>
        if (r == 0) d
        else d.select(
          (col("doc_id") + lit(r * 100000000L)).as("doc_id"),
          concat_ws(" ", transform(split(col("text"), " "),
            x => concat(x, lit(s"_$r")))).as("text"),
          col("lang"), col("source"), col("n_chars")))
      replicate("embeddings", (e, r) =>
        if (r == 0) e
        else e.select(
          (col("vec_id") + lit(r * 100000000L)).as("vec_id"),
          concat(slice(col("embedding"), r + 1, 64 - r),
            slice(col("embedding"), 1, r)).as("embedding"),
          col("label")))
      dir
    }
    Seq(1, 2, 4, 8).foreach { k =>
      val dir = time(s"x$k corpus build") { buildDir(k) }
      sweepQueries.foreach { q =>
        // two runs: run1 pays any index build; run2 is the steady state
        val t = (1 to 2).map { _ =>
          val t0 = System.nanoTime()
          val n = SparkEntry.queries(q)(spark, dir).count()
          ((System.nanoTime() - t0) / 1e9, n)
        }
        graft.Caches.drain(spark)
        println(f"[scale] x$k $q%-22s run1=${t(0)._1}%7.2f s  " +
          f"run2=${t(1)._1}%7.2f s  rows=${t(1)._2}%d")
      }
    }
  }

  private def knnPieces(spark: SparkSession, dir: String): Unit = {
    import org.apache.spark.sql.functions.col
    (1 to 2).foreach { round =>
      println(s"[profile] --- knn round $round ---")
      val idx = time("loadOrBuild") {
        val e = graft.Tables.load(spark, dir, "embeddings").select(col("vec_id"),
          graft.functions.VectorFunctions.toDouble(col("embedding")).as("v"))
        graft.operators.IvfIndex.loadOrBuild(e, key = dir)
      }
      val q = idx.assigned.filter(col("vec_id") % 50 === 0)
        .select(col("vec_id").as("query_id"), col("v").as("qv"))
      time("queries count") { q.count() }
      time("knnExact full") {
        graft.operators.IvfIndex.knnExact(idx, q, k = 10, nprobe = 3).count()
      }
      time("registered query e2e") {
        graft.SparkEntry.queries("x3_knn_ivf")(spark, dir).count()
      }
      graft.Caches.drain(spark)
    }
  }

  private def dsirPieces(spark: SparkSession, dir: String): Unit = {
    (1 to 2).foreach { round =>
      println(s"[profile] --- round $round ---")
      val d = graft.Tables.load(spark, dir, "documents")
        .select(col("doc_id"), col("text"))
      val nDocs = time("docs scan") { d.count() }
      println(s"[profile] docs=$nDocs, input partitions=" +
        d.rdd.getNumPartitions)
      val tok = graft.queries.Llm.dsirTok(d)
      val nTok = time("tok (tokenize+hash+explode)") { tok.count() }
      println(s"[profile] tokens=$nTok")
      val delta = graft.queries.Llm.dsirDeltasFromTok(tok)
      time("delta table (bucket aggs over tok)") { delta.count() }
      // the SCORER leg of x4_dsir reads the tgt-free dsirBuckets (it never
      // pays the flag join), so the piece must profile that plan — timing
      // it from `tok` (flag join included) would overstate the scorer
      val perDoc = graft.queries.Llm.dsirBuckets(d).join(broadcast(delta), "b")
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_tokens"), sum("d_e6").as("logw_e6"))
      // checksum aggregates defeat column pruning: every stage value is
      // actually computed, unlike a bare count()
      time("perDoc FULL (join+agg, no pruning)") {
        perDoc.agg(sum("logw_e6"), sum("n_tokens")).collect()
      }
      val u = ((col("doc_id") % 3000000000L) * 2654435761L + 40503L) % 2147483647L
      val g = org.apache.spark.sql.functions.round(
        -log(-log((u + 1).cast("double") / 2147483649.0)) * 1000000)
        .cast("long")
      time("+ gumbel + orderBy.limit(100)") {
        perDoc.withColumn("gumbel_e6", g)
          .withColumn("score_e6", col("logw_e6") + col("gumbel_e6"))
          .orderBy(desc("score_e6"), col("doc_id")).limit(100).collect()
      }
      time("full query") {
        SparkEntry.queries("x4_dsir")(spark, dir).count()
      }
      graft.Caches.drain(spark)
    }
  }

  /** Staged decomposition of x4_funnel_containment — the heaviest bench
    * query at sf0.1: each funnel stage timed on its own action, round 2 =
    * warm steady state (the bench's min-of-N regime).
    */
  private def funnelPieces(spark: SparkSession, dir: String): Unit = {
    (1 to 2).foreach { round =>
      println(s"[profile] --- round $round ---")
      val d = graft.Tables.load(spark, dir, "documents")
      val (qual, keepers, reps) =
        graft.queries.Llm.curationStages(spark, d) // reps persisted inside
      val nQual = time("stage2 quality gate") { qual.count() }
      val nKeep = time("stage3 exact-dedup keepers") { keepers.count() }
      val nReps = time("stage4 neardup reps (clusters)") { reps.count() }
      val nRej = time("stage5 containment rejects") {
        graft.queries.Llm.curationContainmentRejects(keepers).count()
      }
      println(s"[profile] qual=$nQual keepers=$nKeep reps=$nReps rejects=$nRej")
      graft.Caches.drain(spark)
      // construction vs execution split: the statistics gates inside
      // dedupClusters/containmentPairs run EAGER jobs at plan-build time,
      // invisible to a stage-level decomposition that builds once
      Seq("x4_pipeline_funnel", "x4_funnel_containment").foreach { q =>
        val built = time(s"$q construct") { SparkEntry.queries(q)(spark, dir) }
        time(s"$q execute") { built.count() }
        graft.Caches.drain(spark)
      }
    }
  }

  private def bigramPieces(spark: SparkSession, dir: String): Unit = {
    val bigrams = NX.bigrams(TF.tokens(col("text")))
    (1 to 2).foreach { round =>
      println(s"[profile] --- round $round ---")
      val tok = graft.Caches.persist(
        graft.Tables.load(spark, dir, "documents")
          .select(col("doc_id"), explode(bigrams).as("w")))
      val vocab = time("tok materialize + vocab count") {
        tok.select("w").distinct().count()
      }
      println(s"[profile] vocab=$vocab")
      val (sets, pairs) = graft.queries.Llm.bitsetSetsAndPairs(tok, 0.7)
      val nSets = time("sets (index arrays+collapse)") { sets.count() }
      println(s"[profile] distinct sets=$nSets")
      val nCand = time("candidate ids (gen+dedup)") {
        graft.queries.Llm.bitsetCandIds(sets, 0.7, identity).count()
      }
      println(s"[profile] deduped candidates=$nCand")
      val nPairs = time("set-pair NLJ") { pairs.count() }
      println(s"[profile] qualifying set pairs=$nPairs")
      val nOut = time("full query (expand+sort)") {
        SparkEntry.queries("x2_jaccard_bigram")(spark, dir).count()
      }
      println(s"[profile] output pairs=$nOut")
      graft.Caches.drain(spark)
    }
  }
}
