package graft

import graft.functions.{NativeExpressions => NX}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import scala.util.Random

/** Property tests for the native kernels (DotProduct, SortedIntersectCount,
  * BitmaskIntersectCount, MaskFromIndices, MinHashSignature64) against naive
  * Scala references on seeded-random inputs, PLUS codegen-vs-interpreted
  * parity: every kernel with a doGenCode must produce identical results with
  * whole-stage codegen forced on and off (the classic custom-Expression bug
  * class).
  */
class NativeKernelsSpec extends AnyFunSuite {
  private val spark = SparkTestSession.spark
  import spark.implicits._

  private val modes = Seq("CODEGEN_ONLY", "NO_CODEGEN")

  private def withCodegen[T](mode: String)(f: => T): T = {
    val key = "spark.sql.codegen.factoryMode"
    val old = spark.conf.getOption(key)
    spark.conf.set(key, mode)
    try f finally old match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
  }

  test("graft_dot matches sequential fold, codegen and interpreted") {
    val rng = new Random(7)
    val cases = Seq.fill(25)(
      (List.fill(16)(rng.nextDouble() * 200 - 100),
       List.fill(16)(rng.nextDouble() * 200 - 100)))
    for ((a, b) <- cases) {
      val expected = a.zip(b).foldLeft(0.0) { case (acc, (x, y)) => acc + x * y }
      for (mode <- modes) {
        val got = withCodegen(mode) {
          Seq((a, b)).toDF("a", "b")
            .select(NX.dot(col("a"), col("b")))
            .as[Double].head()
        }
        assert(got == expected, s"mode=$mode")
      }
    }
  }

  test("graft_isect matches set intersection on sorted arrays, both modes") {
    val rng = new Random(11)
    val cases = Seq.fill(25)(
      (List.fill(rng.nextInt(40))(rng.nextLong() % 500).distinct.sorted,
       List.fill(rng.nextInt(40))(rng.nextLong() % 500).distinct.sorted))
    for ((a, b) <- cases) {
      val expected = a.toSet.intersect(b.toSet).size.toLong
      for (mode <- modes) {
        val got = withCodegen(mode) {
          Seq((a, b)).toDF("a", "b")
            .select(NX.isect(col("a"), col("b")))
            .as[Long].head()
        }
        assert(got == expected, s"mode=$mode a=$a b=$b")
      }
    }
  }

  test("graft_isect_geq equals the i*den >= min(|a|,|b|)*num predicate, " +
      "both modes, across thresholds") {
    val rng = new Random(23)
    val cases = Seq.fill(40)(
      (List.fill(rng.nextInt(40))(rng.nextLong() % 500).distinct.sorted,
       List.fill(rng.nextInt(40))(rng.nextLong() % 500).distinct.sorted)) ++
      // edge shapes the early exits must not mis-decide: empty sides
      // (threshold 0 ⇒ qualifies), identical sets, disjoint sets, a
      // one-element contained set
      Seq((Nil, List(1L, 2L, 3L)), (Nil, Nil),
        (List(1L, 2L, 3L), List(1L, 2L, 3L)),
        (List(1L, 2L), List(3L, 4L)),
        (List(2L), List(1L, 2L, 3L)))
    for ((a, b) <- cases; (num, den) <- Seq((9, 10), (1, 2), (1, 1), (0, 1))) {
      val i = a.toSet.intersect(b.toSet).size.toLong
      val expected = i * den >= math.min(a.size, b.size).toLong * num
      for (mode <- modes) {
        val got = withCodegen(mode) {
          Seq((a, b)).toDF("a", "b")
            .select(NX.isectGeq(col("a"), col("b"), num, den))
            .as[Boolean].head()
        }
        assert(got == expected, s"mode=$mode num=$num den=$den a=$a b=$b")
      }
    }
  }

  test("graft_mask + graft_mask_isect equal set intersection, both modes") {
    val rng = new Random(13)
    val cases = Seq.fill(25)(
      (List.fill(rng.nextInt(60))(rng.nextInt(256).toLong).distinct,
       List.fill(rng.nextInt(60))(rng.nextInt(256).toLong).distinct))
    for ((a, b) <- cases) {
      val expected = a.toSet.intersect(b.toSet).size.toLong
      for (mode <- modes) {
        val got = withCodegen(mode) {
          Seq((a, b)).toDF("a", "b")
            .select(NX.maskIsect(NX.mask(col("a"), 4), NX.mask(col("b"), 4)))
            .as[Long].head()
        }
        assert(got == expected, s"mode=$mode")
      }
    }
  }

  test("graft_minhash: deterministic, fixed length, superset only lowers minima") {
    val rng = new Random(17)
    for (_ <- 1 to 10) {
      val a = List.fill(1 + rng.nextInt(50))(rng.nextLong()).distinct
      def sig(xs: List[Long]) =
        Seq(Tuple1(xs)).toDF("a")
          .select(NX.minhash(col("a"), 8).as("sig"))
          .as[Seq[Long]].head()
      val s1 = sig(a)
      assert(s1.length == 8)
      assert(s1 == sig(a), "same input, same signature")
      val s2 = sig((a ++ a.map(_ + 1000L)).distinct)
      s1.zip(s2).foreach { case (m, m2) =>
        assert(m2 <= m, "adding elements can only lower a family minimum")
      }
    }
  }

  test("graft_simhash is bit-identical to the explode+vote formulation") {
    val rng = new Random(19)
    val docs = (1L to 40L).map { i =>
      (i, List.fill(1 + rng.nextInt(60))(s"w${rng.nextInt(300)}").distinct.mkString(" "))
    }.toDF("doc_id", "text")
    val hashed = docs.select(col("doc_id"),
      transform(array_distinct(split(col("text"), " ")), w => xxhash64(w)).as("hs"))
    // reference: the r01 (doc, token, bit) explode + vote-sum formulation
    val votes = hashed
      .select(col("doc_id"), explode(col("hs")).as("h"))
      .select(col("doc_id"), col("h"),
        explode(sequence(lit(0), lit(63))).as("bit"))
      .withColumn("vote", graft.functions.TextFunctions.bitVote(col("h"), col("bit")))
    val explodeForm = votes.groupBy("doc_id", "bit").agg(sum("vote").as("v"))
      .withColumn("contrib", when(col("v") > 0,
        call_function("shiftleft", lit(1L), col("bit"))).otherwise(lit(0L)))
      .groupBy("doc_id").agg(sum("contrib").as("simhash"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val native = hashed
      .select(col("doc_id"), NX.simhash(col("hs")).as("simhash"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(native == explodeForm)
  }

  // interpreted-HOF twin of PortableHash.wordHash — an independent in-Spark
  // formulation of the oracle's list_reduce folds
  private def hofWordHash(w: org.apache.spark.sql.Column) = {
    import org.apache.spark.sql.Column
    def fold(m: Long, p: Long): Column =
      aggregate(split(w, ""), lit(0L), (a, c) => (a * m + ascii(c)) % p)
    fold(31L, 1000000007L) * lit(2147483648L) + fold(131L, 2147483647L)
  }

  test("graft_wordhash62 equals the interpreted mod-prime fold, both modes") {
    val rng = new Random(23)
    val docs = (1L to 30L).map { i =>
      (i, List.fill(1 + rng.nextInt(20))(s"w${rng.nextInt(99)}x").mkString(" "))
    }.toDF("doc_id", "text")
    for (mode <- modes) withCodegen(mode) {
      val both = docs.select(
        NX.wordHash62(split(col("text"), " ")).as("k"),
        transform(split(col("text"), " "), hofWordHash _).as("h"))
        .as[(Seq[Long], Seq[Long])].collect()
      both.foreach { case (k, h) => assert(k == h) }
      // every hash fits in 61 bits — the simhash oracle's 62-bit sum relies on it
      both.foreach { case (k, _) => k.foreach(x => assert(x >= 0 && x < (1L << 61))) }
    }
  }

  test("graft_shingles_portable equals the interpreted slice+fold+distinct form") {
    val rng = new Random(29)
    val docs = (1L to 30L).map { i =>
      // include sub-k docs to pin the whole-doc fallback
      (i, List.fill(1 + rng.nextInt(12))(s"t${rng.nextInt(40)}").mkString(" "))
    }.toDF("doc_id", "text")
    val toks = split(col("text"), " ")
    val hws = transform(toks, hofWordHash _)
    def foldSlice(m: Long, p: Long) =
      transform(sequence(lit(1), greatest(size(toks) - 2, lit(1))), i =>
        aggregate(slice(hws, i, lit(3)), lit(0L), (a, h) => (a * m + h) % p))
    val hof = zip_with(foldSlice(1000003L, 1000000007L), foldSlice(1000033L, 2147483647L),
      (s1, s2) => s1 * lit(2147483648L) + s2)
    val both = docs.select(
      NX.shinglesPortable(toks, 3).as("k"),
      array_sort(array_distinct(hof)).as("h")).as[(Seq[Long], Seq[Long])].collect()
    both.foreach { case (k, h) => assert(k == h) }
  }

  test("graft_span_hashes equals the interpreted positional slice+fold form " +
      "and projects onto graft_shingles_portable") {
    val rng = new Random(43)
    val docs = (1L to 30L).map { i =>
      // lengths straddle both k values to pin the whole-doc fallback
      (i, List.fill(1 + rng.nextInt(20))(s"t${rng.nextInt(40)}").mkString(" "))
    }.toDF("doc_id", "text")
    val toks = split(col("text"), " ")
    val hws = transform(toks, hofWordHash _)
    for (k <- Seq(3, 8)) {
      def foldSlice(m: Long, p: Long) =
        transform(sequence(lit(1), greatest(size(toks) - (k - 1), lit(1))), i =>
          aggregate(slice(hws, i, lit(k)), lit(0L), (a, h) => (a * m + h) % p))
      val hof = zip_with(foldSlice(1000003L, 1000000007L), foldSlice(1000033L, 2147483647L),
        (s1, s2) => s1 * lit(2147483648L) + s2)
      val rows = docs.select(
        NX.spanHashes(toks, k).as("got"),
        hof.as("want"),
        NX.shinglesPortable(toks, k).as("sh"))
        .as[(Seq[Long], Seq[Long], Seq[Long])].collect()
      rows.foreach { case (got, want, sh) =>
        assert(got == want, s"k=$k: positional hashes diverge from the HOF fold")
        // the sorted-distinct projection of the positional spans IS the
        // set signature the shingle kernel computes — one definition,
        // two materializations
        assert(got.distinct.sorted == sh, s"k=$k: set projection diverges")
      }
    }
  }

  test("graft_minhash_portable equals the interpreted affine-family minima") {
    val rng = new Random(31)
    val p = 2147483647L
    for (_ <- 1 to 10) {
      val xs = List.fill(1 + rng.nextInt(50))(rng.nextLong().abs % (1L << 61))
      val expected = (0 until 32).map { k =>
        val ak = (506952114L * (k + 1) + 1) % p
        val bk = (40503L * (k + 1) + 17) % p
        xs.map(h => (ak * (h % p) + bk) % p).min
      }
      val got = Seq(Tuple1(xs)).toDF("a")
        .select(NX.minhashPortable(col("a"), 32).as("sig"))
        .as[Seq[Long]].head()
      assert(got == expected)
    }
  }

  test("graft_bigrams equals the HOF transform+slice+distinct formulation") {
    val rng = new Random(13)
    val vocab = Vector("a", "bb", "ccc", "dd", "e", "ff", "g")
    val docs = Seq.tabulate(40)(i =>
      (i.toLong, Seq.fill(rng.nextInt(8))(vocab(rng.nextInt(vocab.length))).mkString(" ")))
    val df = docs.toDF("doc_id", "text")
    val toks = split(col("text"), " ")
    val hof = when(size(toks) >= 2,
      array_distinct(transform(
        sequence(lit(1), size(toks) - 1),
        i => concat_ws(" ", slice(toks, i, lit(2))))))
      .otherwise(array().cast("array<string>"))
    val got = df.select(col("doc_id"),
        NX.bigrams(toks).as("bg"))
      .as[(Long, Seq[String])].collect().toMap
    val expected = df.select(col("doc_id"), hof.as("bg"))
      .as[(Long, Seq[String])].collect().toMap
    assert(got == expected)
  }

  test("graft_shingle_strings equals TextFunctions.shingles for several k") {
    val rng = new Random(29)
    val vocab = Vector("a", "bb", "ccc", "dd", "e", "ff", "g", "hh")
    val docs = Seq.tabulate(60)(i =>
      // lengths 0..9 cover the <k fallback (whole doc as one shingle)
      (i.toLong, Seq.fill(rng.nextInt(10))(vocab(rng.nextInt(vocab.length))).mkString(" ")))
    val df = docs.toDF("doc_id", "text").filter(length(col("text")) > 0)
    Seq(2, 3, 8).foreach { k =>
      val got = df.select(col("doc_id"),
          graft.functions.TextFunctions.shingleStrings(col("text"), k).as("sh"))
        .as[(Long, Seq[String])].collect().toMap
      val expected = df.select(col("doc_id"),
          graft.functions.TextFunctions.shingles(col("text"), k).as("sh"))
        .as[(Long, Seq[String])].collect().toMap
      assert(got == expected, s"k=$k")
    }
  }

  test("bitset and naive all-pairs Jaccard agree on a ~120-word vocabulary") {
    val docs = (1L to 60L).map { i =>
      val words = (0 until 20).map(k => s"w${(i * 7 + k * 3) % 120}").distinct
      (i, words.mkString(" "))
    }.toDF("doc_id", "text")
    val sets = docs.collect().map(r => r.getLong(0) ->
      r.getString(1).split(" ").toSet).toMap
    val naive = (for {
      a <- sets.keys; b <- sets.keys if a < b
      i = sets(a).intersect(sets(b)).size
      j = i.toDouble / (sets(a).size + sets(b).size - i)
      if j >= 0.5
    } yield (a, b)).toSet
    val tok = docs.select(col("doc_id"),
      explode(array_distinct(split(col("text"), " "))).as("w"))
    val got = graft.queries.Llm.jaccardPairsForTest(spark, tok, 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got == naive, s"missing=${naive -- got} extra=${got -- naive}")
  }

  test("bitset set-pair join above the broadcast threshold distributes, same answer") {
    val docs = (1L to 60L).map { i =>
      val words = (0 until 20).map(k => s"w${(i * 7 + k * 3) % 120}").distinct
      (i, words.mkString(" "))
    }.toDF("doc_id", "text")
    val tok = docs.select(col("doc_id"),
      explode(array_distinct(split(col("text"), " "))).as("w"))
    val baseline = graft.queries.Llm.jaccardPairsForTest(spark, tok, 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    graft.Caches.drain(spark)
    // above the graft threshold the join carries no broadcast hint — the
    // planner's own statistics take over. Emulate a too-big-to-broadcast
    // side by disabling auto-broadcast: since r09 the pair join is
    // equi-keyed on the size band, so the plan must degrade to a
    // DISTRIBUTED band-keyed shuffle join (both sides partitioned on the
    // band) — never a cartesian, never a broadcast — with the same answer.
    spark.conf.set("graft.broadcast.jaccard", "0")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val df = graft.queries.Llm.jaccardPairsForTest(spark, tok, 0.5)
      val got = df.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(got == baseline, "gated plan changed the answer")
      val p = df.queryExecution.executedPlan.toString
      assert(!p.contains("BroadcastNestedLoopJoin"),
        s"set-pair join must not broadcast above the threshold; plan=\n$p")
      assert(!p.contains("CartesianProduct"),
        s"band key must keep the distributed join equi-keyed; plan=\n$p")
      assert(p.contains("SortMergeJoin") || p.contains("ShuffledHashJoin"),
        s"expected a shuffled band-keyed join; plan=\n$p")
    } finally {
      spark.conf.unset("graft.broadcast.jaccard")
      spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
      graft.Caches.drain(spark)
    }
  }

  test("raritySets' index join skips broadcast when jaccard=0, same sets") {
    val docs = (1L to 60L).map { i =>
      val words = (0 until 20).map(k => s"w${(i * 7 + k * 3) % 120}").distinct
      (i, words.mkString(" "))
    }.toDF("doc_id", "text")
    val tok = docs.select(col("doc_id"),
      explode(array_distinct(split(col("text"), " "))).as("w"))
    val vocab = tok.select("w").distinct().count()
    // (rows, the persisted set frame's own plan) — ds order is free
    def build(): (Set[(Seq[Long], Long, Seq[Long], Long)], String) = {
      val sets = graft.queries.Llm.raritySets(tok, vocab)
      val rows = sets.collect().map(r => (r.getSeq[Long](0), r.getLong(1),
        r.getSeq[Long](2).sorted, r.getLong(3))).toSet
      // the scan of the persisted frame prints the plan that built it
      val plan = sets.queryExecution.executedPlan.toString
      graft.Caches.drain(spark)
      (rows, plan)
    }
    val (base, basePlan) = build()
    assert(basePlan.contains("BroadcastHashJoin"),
      s"a 120-token index broadcasts by default; plan=\n$basePlan")
    spark.conf.set("graft.broadcast.jaccard", "0")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    val (gated, gatedPlan) = try build() finally {
      spark.conf.unset("graft.broadcast.jaccard")
      spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
    }
    assert(!gatedPlan.contains("Broadcast"),
      s"closed jaccard site must not broadcast the index; plan=\n$gatedPlan")
    assert(base.nonEmpty && gated == base, "gated index join changed the sets")
  }

  test("prefix-path Jaccard (open-vocabulary branch) agrees with naive") {
    val rng = new Random(23)
    // open-ish vocabulary with planted near-dup pairs, through both set-pair
    // plans: the SetPairScan kernel (these sets fit its gate) and, with the
    // kernel's site closed, the (prefix, size-band) blocking join
    val base = (1L to 40L).map { i =>
      i -> List.fill(30)(s"w${rng.nextInt(5000)}").distinct
    }
    val dups = base.map { case (i, ws) =>
      // mutate one word -> high-but-not-1.0 jaccard twin
      (i + 40L) -> (ws.tail :+ s"w${rng.nextInt(5000)}").distinct
    }
    val docs = (base ++ dups).map { case (i, ws) => (i, ws.mkString(" ")) }
      .toDF("doc_id", "text")
    val sets = docs.collect().map(r => r.getLong(0) ->
      r.getString(1).split(" ").toSet).toMap
    val naive = (for {
      a <- sets.keys; b <- sets.keys if a < b
      i = sets(a).intersect(sets(b)).size
      j = i.toDouble / (sets(a).size + sets(b).size - i)
      if j >= 0.8
    } yield (a, b)).toSet
    assert(naive.nonEmpty, "planted near-dups must qualify")
    val tok = docs.select(col("doc_id"),
      explode(array_distinct(split(col("text"), " "))).as("w"))
    def got() = try graft.queries.Llm.jaccardPairsForTest(spark, tok, 0.8)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      finally graft.Caches.drain(spark)
    val kernel = got()
    assert(kernel == naive, s"missing=${naive -- kernel} extra=${kernel -- naive}")
    spark.conf.set("graft.broadcast.pairscan", "0")
    val blocked = try got() finally spark.conf.unset("graft.broadcast.pairscan")
    assert(blocked == naive, s"missing=${naive -- blocked} extra=${blocked -- naive}")
  }

  /** Driver-side all-pairs containment reference: (doc_a, doc_b,
    * containment_e4, jaccard_e4) at threshold num/den, truncating integer
    * division exactly like SQL `div`.
    */
  private def naiveContainment(sets: Map[Long, Set[String]],
      num: Int, den: Int): Set[(Long, Long, Long, Long)] =
    (for {
      a <- sets.keys; b <- sets.keys if a < b
      i = sets(a).intersect(sets(b)).size.toLong
      mn = math.min(sets(a).size, sets(b).size).toLong
      if i * den >= mn * num
      u = sets(a).size + sets(b).size - i
    } yield (a, b, i * 10000L / mn, i * 10000L / u)).toSet

  test("bitset containment over distinct sets agrees with naive all-pairs") {
    // three planted pair classes: exact set-dups (exercise the distinct-set
    // collapse), embedded snippets (C = 1.0 but J ≈ 0.33 — the pairs only
    // containment finds), and unrelated docs (must not pair)
    val base = (1L to 40L).map { i =>
      i -> (0 until 15).map(k => s"w${(i * 7 + k * 3) % 120}").distinct
    }
    val dups = base.take(10).map { case (i, ws) => (i + 40L) -> ws }
    val snips = base.take(10).map { case (i, ws) => (i + 50L) -> ws.take(5) }
    val all = base ++ dups ++ snips
    val docs = all.map { case (i, ws) => (i, ws.mkString(" ")) }
      .toDF("doc_id", "text")
    val naive = naiveContainment(all.map { case (i, ws) => i -> ws.toSet }.toMap, 9, 10)
    assert(naive.nonEmpty, "planted snippets must qualify")
    val tok = docs.select(col("doc_id"),
      explode(array_distinct(split(col("text"), " "))).as("w"))
    val got = graft.queries.Llm.containmentPairsForTest(spark, tok, 9, 10)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .toSet
    graft.Caches.drain(spark)
    assert(got == naive, s"missing=${naive -- got} extra=${got -- naive}")
  }

  test("SetPairScan kernel and the relational plans emit identical pair " +
      "sets for jaccard AND containment (incl. set-dups and snippets)") {
    // the dense-regime kernel is a plan choice, not a semantics choice:
    // forcing it off via its Broadcasts site conf must leave every
    // (doc_a, doc_b, value) row identical. Corpus plants the three pair
    // classes (near-dups, exact set-dups for the self-pair expansion,
    // snippets only containment sees) over a small dense vocabulary.
    val rng = new Random(47)
    val base = (1L to 35L).map { i =>
      i -> (0 until 14).map(k => s"w${(i * 3 + k * 5) % 40}").distinct
    }
    val dups = base.take(6).map { case (i, ws) => (i + 40L) -> ws }
    val near = base.take(10).map { case (i, ws) =>
      (i + 50L) -> (ws.tail :+ s"w${rng.nextInt(40)}").distinct
    }
    val snips = base.take(8).map { case (i, ws) => (i + 70L) -> ws.take(5) }
    val tok = (base ++ dups ++ near ++ snips)
      .flatMap { case (i, ws) => ws.map(w => (i, w)) }.toDF("doc_id", "w")
    def jacc() = graft.queries.Llm.jaccardPairsForTest(spark, tok, 0.7)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    def cont() = graft.queries.Llm.containmentPairsForTest(spark, tok, 9, 10)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3))).toSet
    val (jKernel, cKernel) = (jacc(), cont())
    graft.Caches.drain(spark)
    spark.conf.set("graft.broadcast.pairscan", "0")
    try {
      val (jRel, cRel) = (jacc(), cont())
      graft.Caches.drain(spark)
      assert(jKernel.nonEmpty && cKernel.nonEmpty)
      assert(jKernel == jRel,
        s"jaccard missing=${jRel -- jKernel} extra=${jKernel -- jRel}")
      assert(cKernel == cRel,
        s"containment missing=${cRel -- cKernel} extra=${cKernel -- cRel}")
    } finally spark.conf.unset("graft.broadcast.pairscan")
  }

  test("sized containment with minRatio=2 equals the full pair list " +
      "filtered by the size-ratio guard, on BOTH dispatch paths") {
    // the funnel's snippet gate pushes least·2 ≤ greatest into the
    // candidate join; the pushdown must be pure pruning — identical rows
    // (ids, i, sizes) to filtering the unrestricted pair list after the
    // fact. Mixed corpus: snippets (big gap), near-dups (no gap), set-dups
    // (ratio exactly 1 — must vanish at minRatio=2).
    val base = (1L to 30L).map { i =>
      i -> (0 until 12).map(k => s"w${(i * 5 + k * 7) % 90}").distinct
    }
    val snips = base.take(8).map { case (i, ws) => (i + 30L) -> ws.take(5) }
    val dups = base.take(5).map { case (i, ws) => (i + 40L) -> ws }
    val all = base ++ snips ++ dups
    def key(r: org.apache.spark.sql.Row) =
      (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))
    import graft.queries.Llm.ContainmentPlan
    val tok = all.flatMap { case (i, ws) => ws.map(w => (i, w)) }
      .toDF("doc_id", "w")
    Seq(ContainmentPlan.Prefix, ContainmentPlan.Nlj).foreach { plan =>
      val expect = graft.queries.Llm
        .containmentPairsSized(spark, tok, 9, 10, minRatio = 1, Some(plan))
        .filter(least(col("na"), col("nb")) * 2 <= greatest(col("na"), col("nb")))
        .collect().map(key).toSet
      graft.Caches.drain(spark)
      val got = graft.queries.Llm
        .containmentPairsSized(spark, tok, 9, 10, minRatio = 2, Some(plan))
        .collect().map(key).toSet
      graft.Caches.drain(spark)
      assert(expect.nonEmpty, "planted snippets must survive the guard")
      assert(got == expect,
        s"$plan missing=${expect -- got} extra=${got -- expect}")
    }
  }

  test("prefix-path containment (open-vocabulary branch) agrees with naive") {
    val rng = new Random(31)
    // open-ish vocabulary; snippets embedded in larger docs are the pairs a
    // symmetric-length-filtered join would miss — call the prefix plan
    // DIRECTLY (the dispatcher would pick an S² plan at this vocab size)
    val base = (1L to 40L).map { i =>
      i -> List.fill(30)(s"w${rng.nextInt(5000)}").distinct
    }
    val snips = base.map { case (i, ws) => (i + 40L) -> ws.take(6) }
    val near = base.take(10).map { case (i, ws) =>
      (i + 80L) -> (ws.tail :+ s"w${rng.nextInt(5000)}").distinct
    }
    val all = base ++ snips ++ near
    val naive = naiveContainment(all.map { case (i, ws) => i -> ws.toSet }.toMap, 9, 10)
    assert(naive.nonEmpty, "planted snippets must qualify")
    val tok = all.flatMap { case (i, ws) => ws.map(w => (i, w)) }
      .toDF("doc_id", "w")
    val got = graft.queries.Llm.containmentPairsSized(spark, tok, 9, 10,
        minRatio = 1, Some(graft.queries.Llm.ContainmentPlan.Prefix))
      .selectExpr("doc_a", "doc_b", "i * 10000 div least(na, nb)",
        "i * 10000 div (na + nb - i)")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .toSet
    graft.Caches.drain(spark)
    assert(got == naive, s"missing=${naive -- got} extra=${got -- naive}")
  }

  test("graft_bigram_strings equals the HOF transform formulation, " +
      "including <2-token and empty edge cases") {
    val docs = Seq("the cat sat on the mat", "a b", "single", "",
      "x  y", "repeat repeat repeat").toDF("text")
    val toks = split(col("text"), " ")
    val n = size(toks)
    val rows = docs.select(
        NX.bigramStrings(toks).as("native"),
        coalesce(when(n >= 2, transform(sequence(lit(2), n), i =>
          concat_ws(" ", element_at(toks, i - 1), element_at(toks, i)))),
          array().cast("array<string>")).as("hof"))
      .collect()
    rows.foreach { r =>
      assert(r.getSeq[String](0) == r.getSeq[String](1),
        s"native=${r.getSeq[String](0)} hof=${r.getSeq[String](1)}")
    }
  }

  test("graft_hyperplane_probes at flips=0 equals the composite band keys, " +
      "and each flip level is a strict prefix of the next") {
    val rng = new scala.util.Random(53)
    val vecs = (0L until 40L).map(i => (i, Seq.fill(16)(rng.nextGaussian())))
    val df = vecs.toDF("vec_id", "embedding")
    val rows = df.select(
        NX.hyperplaneBands(col("embedding"), 8, 8).as("bks"),
        NX.hyperplaneProbes(col("embedding"), 8, 8, 0).as("p0"),
        NX.hyperplaneProbes(col("embedding"), 8, 8, 2).as("p2"))
      .collect()
    rows.foreach { r =>
      val bks = r.getSeq[Long](0)
      val p0 = r.getSeq[Long](1)
      val p2 = r.getSeq[Long](2)
      val composite = bks.zipWithIndex.map { case (bv, b) => (b.toLong << 8) | bv }
      assert(p0 == composite, s"flips=0 probes != band keys: $p0 vs $composite")
      // per band: p2 holds (primary, flip1, flip2); the primary stream of
      // p2 is exactly p0, and every probe stays inside its band's keyspace
      assert(p2.grouped(3).map(_.head).toSeq == p0)
      p2.grouped(3).zipWithIndex.foreach { case (g, b) =>
        assert(g.distinct.size == 3, s"band $b probes not distinct: $g")
        assert(g.forall(k => (k >> 8) == b), s"band $b probe escaped band: $g")
      }
    }
  }

  test("set-similarity dispatchers survive degenerate corpora") {
    import org.apache.spark.sql.DataFrame
    def runBoth(tok: DataFrame): (Long, Long) = {
      val j = graft.queries.Llm.jaccardPairsForTest(spark, tok, 0.9).count()
      graft.Caches.drain(spark)
      val c = graft.queries.Llm.containmentPairsForTest(spark, tok, 9, 10).count()
      graft.Caches.drain(spark)
      (j, c)
    }
    // empty corpus: vocab = 0 -> zero-width masks must not crash
    val empty = Seq.empty[(Long, String)].toDF("doc_id", "w")
    assert(runBoth(empty) == ((0L, 0L)))
    // single doc: no pair to emit
    val single = Seq((1L, "a"), (1L, "b")).toDF("doc_id", "w")
    assert(runBoth(single) == ((0L, 0L)))
    // all-identical docs: one distinct set, pairs come from within-set
    // expansion only — C(3,2) = 3 pairs each at J = C = 1.0
    val ident = (1L to 3L).flatMap(i => Seq((i, "x"), (i, "y"))).toDF("doc_id", "w")
    assert(runBoth(ident) == ((3L, 3L)))
    // an empty-TEXT doc produces no token rows at all (explode of an empty
    // set drops it): it must simply be absent, not crash or pair
    val withEmpty = Seq((1L, "a"), (2L, "a")).toDF("doc_id", "w")
    assert(runBoth(withEmpty) == ((1L, 1L)))
  }

  test("prefix+size-band join under planted power-law skew: exact rows, " +
      "hot 50%-df token never reaches a prefix key") {
    // SCALING.md claims the (prefix element, size band) join's hot-key
    // fanout is "bounded by the threshold itself": the prefix keeps only
    // each set's n − ⌈t·n⌉ + 1 RAREST elements, so a token planted in half
    // the corpus sorts LAST in the global (df asc, w asc) rarity order and
    // never becomes a join key. Verify both halves of that claim under a
    // power-law vocabulary, then pin the measured total fanout.
    val rng = new Random(77)
    val t = 0.6
    val base: Seq[(Long, List[String])] = (1L to 240L).map { i =>
      // log-uniform rank => df ~ 1/rank (Zipf-ish mid tokens), one unique
      // token per doc keeps the vocabulary open, "hot" rides half the docs
      val mids = List.fill(10)(
        s"m${math.floor(math.exp(rng.nextDouble() * math.log(500))).toInt}")
      val ws = (mids :+ s"u$i") ++ (if (i % 2 == 0) List("hot") else Nil)
      i -> ws.distinct
    }
    // planted near-dup twins: drop one mid token => J comfortably >= t
    val twins = base.take(25).map { case (i, ws) => (i + 1000L) -> ws.tail }
    val all = base ++ twins
    val sets = all.map { case (i, ws) => i -> ws.toSet }.toMap
    val naive = (for {
      a <- sets.keys; b <- sets.keys if a < b
      i = sets(a).intersect(sets(b)).size
      j = i.toDouble / (sets(a).size + sets(b).size - i)
      if j >= t
    } yield (a, b)).toSet
    assert(naive.size >= 25, s"planted twins must qualify: ${naive.size}")
    val tok = all.flatMap { case (i, ws) => ws.map(w => (i, w)) }
      .toDF("doc_id", "w")
    // exactness through the REAL path, with the SetPairScan kernel's site
    // closed so the (prefix, size-band) join runs (the kernel would take
    // these few sets)
    spark.conf.set("graft.broadcast.pairscan", "0")
    val got = try {
      graft.queries.Llm.jaccardPairsForTest(spark, tok, t)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    } finally {
      spark.conf.unset("graft.broadcast.pairscan")
      graft.Caches.drain(spark)
    }
    assert(got == naive,
      s"skewed corpus broke exactness: missing=${naive -- got} extra=${got -- naive}")
    // fanout audit with the operator's own arithmetic: global rarity order
    // (df asc, w asc), integer-ceil prefix length — the hot token must sit
    // outside every prefix, and the per-key a×b candidate total must stay
    // linear-ish, not |docs|²
    val df = all.flatMap(_._2).groupBy(identity).view.mapValues(_.size).toMap
    val order = df.keys.toSeq.sortBy(w => (df(w), w)).zipWithIndex.toMap
    val tMicros = math.round(t * 1e6)
    val prefixes = all.map { case (i, ws) =>
      val arr = ws.map(order).sorted
      val n = arr.length.toLong
      val plen = (n - ((n * tMicros + 999999) / 1000000) + 1).toInt
      i -> arr.take(plen).toSet
    }.toMap
    val hotIdx = order("hot")
    assert(!prefixes.values.exists(_.contains(hotIdx)),
      "the 50%-df token leaked into a prefix — hot-key fanout unbounded")
    val perKey = prefixes.values.flatten.groupBy(identity)
      .view.mapValues(_.size.toLong).toMap
    val fanout = perKey.values.map(c => c * c).sum
    // measured ≈ docs + planted-twin collisions; pinned with wide headroom
    // but far below the |docs|²/2 ≈ 35k blowup a hot prefix key would cost
    assert(fanout <= 20L * (all.size + naive.size),
      s"prefix fanout blew past the linear bound: $fanout")
  }

  test("graft_pq_encode / graft_pq_qtab / graft_adc equal the relational " +
      "join+aggregate+rank PQ reference") {
    // the kernels replaced a posexplode -> broadcast-join -> 16-way
    // aggregate -> rank-window pipeline; every distance is an exact
    // integer in doubles, so the outputs must be BIT-identical, ties
    // included (strict <, min cid)
    val rng = new scala.util.Random(59)
    val vecs = (0 until 120).map(i =>
      (i.toLong, Seq.fill(64)(rng.nextGaussian())))
    val e8 = vecs.toDF("vec_id", "v")
      .withColumn("ma", array_max(transform(col("v"), x => abs(x))))
      .select(col("vec_id"), transform(col("v"),
        x => floor(x * lit(127.0) / col("ma") + 0.5).cast("double")).as("q8"))
      .persist()
    val sample = graft.queries.Llm.pqTrainSample(spark, e8)
    val flat = graft.queries.Llm.pqCodebookFlat(spark, sample)
    val cb = graft.queries.Llm.pqCodebookDf(spark, sample)
    val cbLit = typedLit(flat.toSeq)
    // relational reference: encode
    val sv = e8.select(col("vec_id"), posexplode(col("q8")).as(Seq("i", "x")))
      .select(col("vec_id"), expr("CAST(i div 4 AS BIGINT)").as("sub"),
        expr("CAST(i % 4 AS BIGINT)").as("pos"), col("x"))
    val wA = org.apache.spark.sql.expressions.Window
      .partitionBy("vec_id", "sub").orderBy(asc("d"), asc("cid"))
    val refCodes = sv.join(broadcast(cb), Seq("sub", "pos"))
      .groupBy("vec_id", "sub", "cid")
      .agg(sum((col("x") - col("c")) * (col("x") - col("c"))).as("d"))
      .withColumn("rk", row_number().over(wA)).filter(col("rk") === 1)
      .groupBy("vec_id")
      .agg(array_sort(collect_list(struct(col("sub"), col("cid")))).as("sc"))
      .select(col("vec_id"), expr("transform(sc, p -> p.cid)").as("code"))
      .as[(Long, Seq[Long])].collect().toMap
    val gotCodes = e8.select(col("vec_id"),
        NX.pqEncode(col("q8"), cbLit).as("code"))
      .as[(Long, Seq[Long])].collect().toMap
    assert(gotCodes == refCodes, "native encode diverged from relational")
    // relational reference: per-query table + summed ADC distance
    val refQd = sv.filter(col("vec_id") < 5)
      .join(broadcast(cb), Seq("sub", "pos"))
      .groupBy(col("vec_id").as("query_id"), col("sub"), col("cid"))
      .agg(sum((col("x") - col("c")) * (col("x") - col("c"))).as("d"))
    val refAdist = refQd
      .join(refCodes.toSeq.flatMap { case (v, code) =>
          code.zipWithIndex.map { case (cid, sub) => (v, sub.toLong, cid) }
        }.toDF("vec_id", "sub", "cid"), Seq("sub", "cid"))
      .groupBy("query_id", "vec_id").agg(sum("d").as("adist"))
      .as[(Long, Long, Double)].collect()
      .map(r => (r._1, r._2) -> r._3).toMap
    val qtabs = e8.filter(col("vec_id") < 5)
      .select(col("vec_id").as("query_id"),
        NX.pqQueryTable(col("q8"), cbLit).as("qtab"))
    val gotAdist = e8.select(col("vec_id"),
        NX.pqEncode(col("q8"), cbLit).as("code"))
      .crossJoin(broadcast(qtabs))
      .select(col("query_id"), col("vec_id"),
        NX.adc(col("code"), col("qtab")).as("adist"))
      .as[(Long, Long, Double)].collect()
      .map(r => (r._1, r._2) -> r._3).toMap
    assert(gotAdist == refAdist, "native ADC distances diverged from relational")
    e8.unpersist()
    graft.Caches.drain(spark)
  }

  /** NX.topK exploded to (key, rk, id, score) rows, ungrouped or grouped. */
  private def topKRows(df: org.apache.spark.sql.DataFrame, k: Int,
      grouped: Boolean): Seq[(Option[Long], Long, Option[Long], Option[Double])] = {
    val t = NX.topK(col("key"), col("id"), col("score"), k).as("t")
    val agg = if (grouped) df.groupBy("key").agg(t).select("t") else df.agg(t)
    agg.select(inline(col("t")))
      .as[(Option[Long], Long, Option[Long], Option[Double])].collect().toSeq
  }

  private def windowRows(df: org.apache.spark.sql.DataFrame, k: Int) = {
    val w = org.apache.spark.sql.expressions.Window.partitionBy("key")
      .orderBy(desc("score"), asc("id"))
    df.withColumn("rk", row_number().over(w).cast("long")).filter(col("rk") <= k)
      .select("key", "rk", "id", "score")
      .as[(Option[Long], Long, Option[Long], Option[Double])].collect().toSeq
  }

  // scores compare bit-exactly, so NaN equals NaN and -0.0 differs from 0.0
  private def canon(rows: Seq[(Option[Long], Long, Option[Long], Option[Double])]) =
    rows.map { case (key, rk, id, s) =>
      (key, rk, id, s.map(java.lang.Double.doubleToRawLongBits))
    }.sortBy { case (key, rk, _, _) => (key.getOrElse(Long.MinValue), rk) }

  test("topK: ties go to the smaller id; k beyond the candidate count keeps all") {
    val df = Seq((1L, 30L, 0.5), (1L, 10L, 0.5), (1L, 20L, 0.5), (1L, 5L, 0.1),
      (2L, 7L, 0.9)).toDF("key", "id", "score")
    assert(topKRows(df, 2, grouped = false).sortBy(r => (r._1, r._2)) == Seq(
      (Some(1L), 1L, Some(10L), Some(0.5)), (Some(1L), 2L, Some(20L), Some(0.5)),
      (Some(2L), 1L, Some(7L), Some(0.9))))
    val all = topKRows(df, 50, grouped = false)
    assert(all.size == 5 && all.filter(_._1.contains(1L)).map(_._2).sorted == Seq(1L, 2L, 3L, 4L))
    assert(topKRows(df, 0, grouped = false).isEmpty)
  }

  test("topK: NaN, -0.0, infinities and nulls rank exactly as row_number() does") {
    val rng = new Random(23)
    val pool = Array[java.lang.Double](Double.NaN, -0.0, 0.0, 1.0, -1.0,
      Double.PositiveInfinity, Double.NegativeInfinity, null, 0.25, 0.25)
    // ids unique per key (a window over duplicate (score, id) is arbitrary);
    // one id per key is null, and one key is null
    val rows = for {
      key <- Seq[java.lang.Long](1L, 2L, 3L, null)
      i <- 0 until 40
    } yield (key, if (i == 17) null else java.lang.Long.valueOf(rng.nextInt(1000) * 40L + i),
      pool(rng.nextInt(pool.length)))
    val df = rows.toDF("key", "id", "score").repartition(4)
    for (k <- Seq(1, 3, 10, 40, 60)) {
      val expect = canon(windowRows(df, k))
      assert(canon(topKRows(df, k, grouped = false)) == expect, s"ungrouped k=$k")
      assert(canon(topKRows(df, k, grouped = true)) == expect, s"grouped k=$k")
    }
  }

  test("topK: empty input gives 0 rows, grouped and ungrouped") {
    val df = Seq((1L, 1L, 1.0)).toDF("key", "id", "score").filter(lit(false))
    assert(topKRows(df, 5, grouped = false).isEmpty)
    assert(topKRows(df, 5, grouped = true).isEmpty)
  }

  test("topK: grouped and ungrouped outputs are equal across partitions") {
    val rng = new Random(29)
    val df = Seq.tabulate(3000)(i => (rng.nextInt(37).toLong, i.toLong,
      math.floor(rng.nextDouble() * 50) / 50)).toDF("key", "id", "score").repartition(7)
    val ungrouped = canon(topKRows(df, 10, grouped = false))
    assert(ungrouped.size == 370)
    assert(canon(topKRows(df, 10, grouped = true)) == ungrouped)
    assert(ungrouped == canon(windowRows(df, 10)))
  }
}
