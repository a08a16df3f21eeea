package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Dense-regime set-pair enumeration: ALL ordered set pairs (sa ≤ sb) over
  * a collapsed-set frame, evaluated as packed-bitmask intersections in a
  * tight per-partition loop against a BROADCAST flat copy of the sets —
  * the kernel form of the S² comparison that the closed-vocabulary corpora
  * (small vocabularies, sets dense in them) force on the exact
  * similarity family.
  *
  * Why a kernel and not the relational join: in this regime content
  * blocking cannot prune — every set shares high-df elements with most
  * others (the r13 sf0.1 probe: vocab 31, 3490 distinct sets, avg 24 of
  * the 31 tokens per set), so both the BroadcastNestedLoopJoin (the old
  * containment plan) and the PPJoin prefix join (the jaccard plan) devolve
  * to ~S² pair visits — each paying row-iterator + per-pair expression
  * evaluation, measured at 250–400 ns/pair. The loop below pays ~words
  * AND+popcounts per pair (~2–5 ns at words = 1). Work is distributed by
  * the probe side's partitioning: each probe row scans the S-row broadcast
  * array, so a partition's cost is (its rows)·S·words — balanced whenever
  * the probe partitioning is (hash-shuffled aggregation output, the only
  * caller shape).
  *
  * Plan choice is statistics-gated like every dispatch in this engine and
  * both plans are EXACT, so the oracle contract is plan-independent:
  *   - bytes: S·(8·words + 24) must pass [[graft.Broadcasts.fits]] at site
  *     `pairscan` (default 128 MB). Routing through the Broadcasts site
  *     machinery means `graft.broadcast.default = 0` — how the specs pin
  *     the shuffle-regime plans — disables this kernel too, and the
  *     relational fallbacks keep their own regime parity.
  *   - work: S²·words ≤ `graft.pairscan.workBudget` (default 2e10, a few
  *     seconds across local[32]; a 1000-executor cluster raises it by
  *     conf). Past the budget the quadratic is hopeless on EVERY exact
  *     plan — the corpus belongs to the LSH/decision twins — so the
  *     fallback relational form survives only as the oracle floor.
  */
object SetPairScan {

  /** Integer predicate over (i, na, nb) — decided EXACTLY like the
    * relational filters it replaces (same multiply-compare forms).
    */
  sealed trait Pred {
    def holds(i: Long, na: Long, nb: Long): Boolean
  }

  /** Containment ≥ num/den with the size-ratio guard
    * least·minRatio ≤ greatest ([[graft.queries.Llm]]'s funnel gate pushes
    * minRatio = 2; the pair-list queries pass 1).
    */
  final case class Containment(num: Int, den: Int, minRatio: Int)
      extends Pred {
    def holds(i: Long, na: Long, nb: Long): Boolean = {
      val mn = math.min(na, nb); val mx = math.max(na, nb)
      mn * minRatio <= mx && i * den >= mn * num
    }
  }

  /** Jaccard ≥ tMicros/1e6 in the exact integer form
    * i·(1e6 + t) ≥ t·(na + nb) — the same decision as the relational
    * verify and the DuckDB oracle's division form.
    */
  final case class Jaccard(tMicros: Long) extends Pred {
    def holds(i: Long, na: Long, nb: Long): Boolean =
      i * (1000000L + tMicros) >= tMicros * (na + nb)
  }

  /** True iff the kernel may run for S collapsed sets of `words`-long
    * masks — the byte gate AND the quadratic work budget.
    */
  def fits(s: SparkSession, setCount: Long, words: Int): Boolean = {
    val work = s.conf.getOption("graft.pairscan.workBudget")
      .map(_.toLong).getOrElse(20000000000L)
    setCount > 0 &&
      graft.Broadcasts.fits(s, "pairscan", setCount,
        rowBytes = 8L * math.max(words, 1) + 24, defaultBytes = 128L << 20) &&
      (setCount * setCount <= work / math.max(words, 1))
  }

  /** Pairs (sa, sb, i, na, nb) with sa ≤ sb over `sets` (sid, mask, n) —
    * sa = sb is the identical-set self-pair the callers' expansions
    * expect. Each qualifying pair is emitted EXACTLY once (no candidate
    * dedup shuffle). `sets` must already be persisted by the caller (it is
    * consumed twice: the driver collect and the probe scan).
    */
  def pairs(sets: DataFrame, pred: Pred): DataFrame = {
    val s = sets.sparkSession
    import s.implicits._
    val typed = sets.select("sid", "mask", "n").as[(Long, Array[Long], Long)]
    val flat = typed.collect()
    val n = flat.length
    val words = if (n == 0) 0 else flat(0)._2.length
    val sids = new Array[Long](n)
    val ns = new Array[Long](n)
    val masks = new Array[Long](n * words)
    var j = 0
    while (j < n) {
      sids(j) = flat(j)._1
      ns(j) = flat(j)._3
      System.arraycopy(flat(j)._2, 0, masks, j * words, words)
      j += 1
    }
    val bc = s.sparkContext.broadcast((sids, ns, masks, words))
    typed.mapPartitions { it =>
      val (bSids, bNs, bMasks, w) = bc.value
      val count = bSids.length
      it.flatMap { case (sidA, maskA, nA) =>
        val out = scala.collection.mutable.ArrayBuffer
          .empty[(Long, Long, Long, Long, Long)]
        var k = 0
        while (k < count) {
          val sidB = bSids(k)
          // size-only admissibility BEFORE the popcount (r14): every Pred
          // is monotone in i and i ≤ min(na, nb), so a pair that fails at
          // i = min(na, nb) can never qualify — skip its w-word scan
          // outright. This is the whole size-ratio guard for the funnel's
          // minRatio = 2 containment (most near-dup pairs are near-sized)
          // and the (1−t)/t size band for Jaccard; for minRatio = 1
          // containment it folds to a tautology and costs two compares.
          if (sidA <= sidB && pred.holds(math.min(nA, bNs(k)), nA, bNs(k))) {
            var i = 0L
            var p = 0
            val base = k * w
            while (p < w) {
              i += java.lang.Long.bitCount(maskA(p) & bMasks(base + p))
              p += 1
            }
            if (pred.holds(i, nA, bNs(k)))
              out += ((sidA, sidB, i, nA, bNs(k)))
          }
          k += 1
        }
        out
      }
    }.toDF("sa", "sb", "i", "na", "nb")
  }
}
