package graft.streaming

import graft.model._
import org.apache.spark.sql.{Column, DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode, StatefulProcessor, TTLConfig, TimeMode, TimerValues, ValueState}
import org.apache.spark.sql.Encoders

/** Structured Streaming leg (SURVEY.md §2.9 T1-T6): the reference's
  * generator→Kinesis→Lambda→store pipeline re-expressed as
  * readStream → transforms → writeStream.
  *
  * The reference's stream is batches of readings every `--frequency` seconds,
  * keyed by device_id (iot-data-stream.py:369-391, PartitionKey at :281).
  * Locally these are driven by MemoryStream/rate sources in StreamingSpec;
  * on a real cluster the same functions apply unchanged to a Kinesis/Kafka
  * source DataFrame — they only assume the flattened reading schema.
  */
object Streams {

  /** Default byte ceiling for broadcasting a static corpus-index frame into
    * a screen's stream-static joins (conf `graft.broadcast.screen`, or the
    * fleet-wide `graft.broadcast.default`) — the same 0.4 GB reasoning as
    * the batch containment verify's gate. Every screen join degrades to an
    * honest shuffle above it; outputs are hash-identical either way
    * (StreamingSpec pins both plans).
    */
  private[streaming] val ScreenBroadcastBytes = 400L << 20

  /** T1/S1: a self-describing synthetic reading stream from the rate source —
    * one logical device per `value % nDevices`, deterministic value columns.
    * (A light stand-in for exercising operators; `generatorStream` below is
    * the FULL-FIDELITY streaming twin of the batch generator.)
    */
  def syntheticReadingStream(spark: SparkSession, nDevices: Int, rowsPerSecond: Int): DataFrame =
    spark.readStream.format("rate")
      .option("rowsPerSecond", rowsPerSecond.toLong)
      .load()
      .select(
        concat(lit("device_"), format_string("%08x", col("value") % nDevices)).as("device_id"),
        col("timestamp"),
        (sin(col("value").cast("double")) * 10 + 20).as("temperature"),
        when(pmod(col("value"), lit(97)) === 0, "error").otherwise("operational").as("status"))

  /** One generation cycle for one device, as a streaming input row. */
  final case class GenTick(device_idx: Long, tick: Long)

  /** S1 at full fidelity: the streaming twin of `Generator.readings`, with
    * the reference generator's COMPLETE semantics — per-device 4-6 sensor
    * subset, drift with clamp+round, monotone battery decay, 1% anomaly
    * pins, weighted status, 98% reporting (iot-data-stream.py:139-209,
    * 234-236, 254). Keyed state carries only the sensor-value map; the
    * device profile is a pure function of (seed, device_idx) and every
    * tick's draws are replayed from the shared `Generator.tickStep`, so the
    * streamed output is BIT-IDENTICAL to the batch generator's
    * (StreamingSpec pins stream == batch across micro-batches).
    */
  def generatorStream(ticks: Dataset[GenTick], seed: Long = 42L,
      t0Millis: Long = 1704067200000L, tickMillis: Long = 1000L): Dataset[Reading] = {
    import ticks.sparkSession.implicits._
    ticks
      .groupByKey(_.device_idx)
      .flatMapGroupsWithState[Map[String, Double], Reading](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (deviceIdx: Long, rows: Iterator[GenTick], state: GroupState[Map[String, Double]]) =>
          val profile = graft.gen.Generator.deviceProfile(deviceIdx, seed)
          var values = state.getOption.getOrElse(profile.initialValues)
          val out = Seq.newBuilder[Reading]
          rows.toSeq.sortBy(_.tick).foreach { r =>
            val (nv, reading) = graft.gen.Generator.tickStep(
              profile, values, deviceIdx, r.tick, seed,
              t0Millis + r.tick * tickMillis)
            values = nv
            reading.foreach(out += _)
          }
          state.update(values)
          out.result().iterator
      }
  }

  /** `generatorStream` driven by the rate source: one global cycle counter
    * fans out round-robin to `nDevices` devices (`--devices`/`--frequency`,
    * iot-data-stream.py:369-391).
    */
  def generatorRateStream(spark: SparkSession, nDevices: Int, rowsPerSecond: Int,
      seed: Long = 42L): Dataset[Reading] = {
    import spark.implicits._
    val ticks = spark.readStream.format("rate")
      .option("rowsPerSecond", rowsPerSecond.toLong)
      .load()
      .select((col("value") % nDevices).as("device_idx"),
        (col("value") / nDevices).cast("long").as("tick"))
      .as[GenTick]
    generatorStream(ticks, seed)
  }

  /** T5: watermark + exact-once dedup by (device_id, timestamp) — the Lambda
    * leg's idempotent upsert (README.md:2) as a streaming operator.
    */
  def deduped(readings: DataFrame, watermark: String = "10 seconds"): DataFrame =
    readings
      .withWatermark("timestamp", watermark)
      .dropDuplicates("device_id", "timestamp")

  /** T6: tumbling-window status counts — the dashboard's status bar chart
    * (iot_dashboard.py:196-200) recomputed incrementally instead of per-rerun.
    */
  def windowedStatusCounts(readings: DataFrame, window_ : String = "1 minute",
      watermark: String = "30 seconds"): DataFrame =
    readings
      .withWatermark("timestamp", watermark)
      .groupBy(window(col("timestamp"), window_), col("status"))
      .agg(count(lit(1)).as("n"))
      .select(col("window.start").as("window_start"), col("status"), col("n"))

  /** T6 (sliding + distinct): rolling distinct users per sliding window —
    * the streaming twin of the batch q_events_sliding_dau (trailing-7-day
    * DAU→WAU rollup). A sliding DISTINCT count needs two stateful steps,
    * and both are state-BOUNDED: `window()` assigns each event to its
    * length/slide windows (the same bounded ×7 expansion the batch query
    * does with explode — never a range join), watermark-scoped
    * dropDuplicates((window, user)) holds one state row per ACTIVE-window
    * user (exactly the batch query's distinct-shrink, expiring as the
    * watermark passes), then a per-window count. Append mode emits each
    * window once, when it finalizes.
    */
  def slidingDau(events: DataFrame, length: String = "7 days",
      slide: String = "1 day", watermark: String = "1 day"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .select(window(col("ts"), length, slide).as("w"), col("user_id"))
      .dropDuplicates("w", "user_id")
      .groupBy("w")
      .agg(count(lit(1)).as("wau"))
      .select(col("w.start").as("window_start"), col("wau"))

  /** T5 (sessions): per-device session windows with an inactivity gap. */
  def deviceSessions(readings: DataFrame, gap: String = "30 seconds",
      watermark: String = "1 minute"): DataFrame =
    readings
      .withWatermark("timestamp", watermark)
      .groupBy(session_window(col("timestamp"), gap), col("device_id"))
      .agg(count(lit(1)).as("n_readings"))
      .select(col("session_window.start").as("session_start"),
        col("device_id"), col("n_readings"))

  /** Per-device carried state for T4. */
  final case class DeviceState(lastValue: Double, lastTs: Long, nSeen: Long)
  final case class Flat(device_id: String, ts: java.sql.Timestamp, value: Double)
  final case class DriftAlert(device_id: String, ts: java.sql.Timestamp,
      value: Double, prev: Double, delta: Double, nSeen: Long)

  /** T4: the one genuinely stateful op — per-device drift tracking with
    * keyed state (the streaming twin of the generator's `self.current_values`,
    * iot-data-stream.py:128-137,166-173). Emits an alert whenever a reading
    * jumps more than `maxDelta` from the device's previous reading.
    * Batch oracle: the same predicate via lag() window (StreamingSpec).
    */
  def driftAlerts(readings: Dataset[Flat], maxDelta: Double): Dataset[DriftAlert] = {
    import readings.sparkSession.implicits._
    readings
      .groupByKey(_.device_id)
      .flatMapGroupsWithState[DeviceState, DriftAlert](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (deviceId: String, rows: Iterator[Flat], state: GroupState[DeviceState]) =>
          // rows within a batch are not ordered; sort by event time locally
          val sorted = rows.toSeq.sortBy(_.ts.getTime)
          var st = state.getOption.getOrElse(DeviceState(Double.NaN, Long.MinValue, 0L))
          val alerts = Seq.newBuilder[DriftAlert]
          sorted.foreach { r =>
            if (!st.lastValue.isNaN) {
              val delta = r.value - st.lastValue
              if (math.abs(delta) > maxDelta)
                alerts += DriftAlert(deviceId, r.ts, r.value, st.lastValue, delta, st.nSeen + 1)
            }
            st = DeviceState(r.value, r.ts.getTime, st.nSeen + 1)
          }
          state.update(st)
          alerts.result().iterator
      }
  }

  final case class BatteryAlert(device_id: String, ts: java.sql.Timestamp,
      value: Double, drop: Double)

  /** T4 on the MODERN state API: per-device battery-drop alerting via Spark
    * 4's transformWithState (typed ValueState through a StatefulProcessor
    * handle — finer-grained than flatMapGroupsWithState's single state blob,
    * and the API the RocksDB state store is built around). Same semantics
    * family as the generator's monotone battery decay
    * (iot-data-stream.py:96,161-163): alert when a reading drops more than
    * `maxDrop` below the device's previous reading.
    * Requires the RocksDB state store provider (set in StreamingSpec).
    */
  class BatteryDropProcessor(maxDrop: Double)
      extends StatefulProcessor[String, Flat, BatteryAlert] {
    @transient private var last: ValueState[Double] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      last = getHandle.getValueState[Double]("last", Encoders.scalaDouble, TTLConfig.NONE)

    override def handleInputRows(key: String, rows: Iterator[Flat],
        tv: TimerValues): Iterator[BatteryAlert] = {
      val sorted = rows.toSeq.sortBy(_.ts.getTime) // batch rows are unordered
      val out = Seq.newBuilder[BatteryAlert]
      sorted.foreach { r =>
        if (last.exists()) {
          val drop = last.get() - r.value
          if (drop > maxDrop) out += BatteryAlert(key, r.ts, r.value, drop)
        }
        last.update(r.value)
      }
      out.result().iterator
    }
  }

  def batteryDropAlerts(readings: Dataset[Flat], maxDrop: Double): Dataset[BatteryAlert] = {
    import readings.sparkSession.implicits._
    readings
      .groupByKey(_.device_id)
      .transformWithState(new BatteryDropProcessor(maxDrop),
        TimeMode.None(), OutputMode.Append())
  }

  /** Stream-stream interval join (the streaming twin of the batch range join
    * q_events_range_join): clicks attributed to the view by the same user
    * within `window`. Both sides watermarked so Spark can bound the join
    * state buffer — without watermarks a stream-stream join retains
    * everything forever. Inner join: unmatched rows age out of state once
    * the watermark passes.
    */
  def clickAttribution(views: DataFrame, clicks: DataFrame,
      window: String = "5 minutes", watermark: String = "1 minute"): DataFrame = {
    val v = views.withWatermark("v_ts", watermark)
    val c = clicks.withWatermark("c_ts", watermark)
    v.join(c,
      col("c_user") === col("v_user") &&
        col("c_ts") >= col("v_ts") &&
        col("c_ts") <= col("v_ts") + expr(s"INTERVAL $window"))
  }

  /** Stream-static enrichment: the reference embeds its LOCATIONS lookup at
    * generation time (iot-data-stream.py:101-107,229-230); relationally that
    * is a broadcast join of the stream against a static dim, re-broadcast per
    * micro-batch. Left outer so unknown locations pass through (P6's
    * default-on-missing behavior).
    */
  def enriched(readings: DataFrame, locationDim: DataFrame): DataFrame =
    readings.join(broadcast(locationDim), Seq("location_id"), "left_outer")

  /** Streaming near-dup SCREEN: every incoming document is checked against
    * a static corpus' MinHash-LSH band index before admission — the
    * training-data-pipeline front door (and the reference's per-record
    * Lambda transform leg, README.md:2, upgraded from "parse" to "dedup
    * gate"). All stateless stream-static equi-joins, so it runs in append
    * mode with no watermark state:
    *
    *   stream:  shingle → native minhash (`graft_minhash`) → explode bands
    *   join:    band key against the PRECOMPUTED corpus band index
    *            (broadcastable at ~b rows per corpus doc)
    *   verify:  exact shingle-intersection (`graft_isect`) against the
    *            corpus doc's hashed shingles; j ≥ t ⇒ flagged
    *
    * Returns (doc_id, dup_of, jaccard) — one row per (new doc, corpus doc)
    * near-dup hit. Admission = stream-side anti-join on the output.
    * Index build is batch (`corpusIndex`), reusing the exact kernels of
    * x2_minhash_lsh, so screen decisions match the batch dedup pass.
    */
  /** `bandsBytes`/`shinglesBytes`: the two frames' estimated broadcast
    * sizes, measured ONCE at build time so the per-batch screen body never
    * pays a statistics job — the inputs to the byte-denominated
    * [[graft.Broadcasts]] gate that flips each screen join to an honest
    * shuffle when the corpus index outgrows a broadcast (the 100 TB plan;
    * at that point the joins shard by band key / corpus_id).
    */
  final case class CorpusIndex(bands: DataFrame, shingles: DataFrame,
      bandsBytes: Long, shinglesBytes: Long) {
    /** Release the persisted shingle table. The index intentionally outlives
      * any one micro-batch (it is shared by every batch of the screen), so
      * its cache is NOT in the per-query `graft.Caches` registry; the owner
      * that built it calls this when the streaming job is done.
      */
    def release(): Unit = shingles.unpersist(blocking = false)
  }

  def corpusIndex(corpus: DataFrame, numHashes: Int = 32, bands: Int = 16)
      : CorpusIndex = {
    graft.functions.NativeExpressions.register(corpus.sparkSession)
    val sh = corpus.select(col("doc_id").as("corpus_id"),
      graft.functions.TextFunctions.shingleHashes(col("text"), 3).as("corpus_sh"))
      .persist()
    val banded = sh.select(col("corpus_id"),
      explode(graft.functions.TextFunctions.bandKeys64(
        call_function("graft_minhash", col("corpus_sh"), lit(numHashes)),
        bands)).as("bk"))
    // one statistics pass over the just-persisted frame sizes both halves:
    // bands = n × `bands` (corpus_id, bk) rows; shingles = the hash arrays
    val st = sh.agg(count(lit(1)), sum(size(col("corpus_sh")))).head()
    val n = st.getLong(0)
    val totSh = if (st.isNullAt(1)) 0L else st.getLong(1)
    CorpusIndex(banded, sh,
      bandsBytes = n * bands * 24L, shinglesBytes = totSh * 8 + n * 48)
  }

  /** [[corpusIndex]] behind the parquet-backed build-once store: the
    * restart path of a long-lived ingest job re-READS the artifact
    * (sharded by its join keys) instead of re-shingling the corpus —
    * `IvfIndex.loadOrBuild`'s contract for the screen family. `key`
    * names the corpus (pass the table path).
    */
  def corpusIndexLoadOrBuild(corpus: DataFrame, key: String,
      numHashes: Int = 32, bands: Int = 16): CorpusIndex = {
    val s = corpus.sparkSession
    val n = graft.Caches.countOnce(corpus)
    var built: CorpusIndex = null
    val (frames, meta) = IndexStore.loadOrBuild(s, s"neardup-$key", n,
      Seq("bands", "shingles"),
      Map("bands" -> Seq("bk"), "shingles" -> Seq("corpus_id"))) {
      built = corpusIndex(corpus, numHashes, bands)
      (Map("bands" -> built.bands, "shingles" -> built.shingles),
        Map("bandsBytes" -> built.bandsBytes,
          "shinglesBytes" -> built.shinglesBytes))
    }
    if (built != null) built.release() // artifact written; drop the build pin
    CorpusIndex(frames("bands"), frames("shingles"),
      meta("bandsBytes"), meta("shinglesBytes"))
  }

  /** Batch form of the screen (also the per-micro-batch body): flag every
    * (incoming doc, corpus doc) pair with verified jaccard ≥ t. Pure
    * stream-static joins + per-batch dedup — no streaming state, so the
    * foreachBatch wrapper below needs no watermark and holds nothing
    * between batches.
    */
  def nearDupScreen(incoming: DataFrame, index: CorpusIndex, t: Double = 0.5,
      numHashes: Int = 32, bands: Int = 16): DataFrame = {
    val s = incoming.sparkSession
    graft.functions.NativeExpressions.register(s)
    val sh = incoming.select(col("doc_id"),
      graft.functions.TextFunctions.shingleHashes(col("text"), 3).as("sh"))
    val banded = sh.select(col("doc_id"), col("sh"),
      explode(graft.functions.TextFunctions.bandKeys64(
        call_function("graft_minhash", col("sh"), lit(numHashes)),
        bands)).as("bk"))
    // byte-gated, never unconditional: against a 100 TB corpus index both
    // joins flip to shuffles sharded by band key / corpus_id — same plan
    // shape, honest exchange (the batch verify's `bs` contract)
    def bs(frame: DataFrame, bytes: Long) =
      graft.Broadcasts.gateBytes(s, "screen", bytes, ScreenBroadcastBytes)(frame)
    banded
      .join(bs(index.bands, index.bandsBytes), "bk")
      .dropDuplicates("doc_id", "corpus_id")
      .join(bs(index.shingles, index.shinglesBytes), "corpus_id")
      .withColumn("i", call_function("graft_isect", col("sh"), col("corpus_sh")))
      .withColumn("jaccard", col("i").cast("double") /
        (size(col("sh")) + size(col("corpus_sh")) - col("i")).cast("double"))
      .filter(col("jaccard") >= t)
      .select(col("doc_id"), col("corpus_id").as("dup_of"),
        round(col("jaccard"), 4).as("jaccard"))
  }

  /** Size-stratified CONTAINMENT index over a static corpus — the streaming
    * twin of the batch `x2_containment_dedup` decision: incoming docs are
    * screened for being ≥90% COVERED by some corpus document (a snippet of
    * it, or a near-copy), the asymmetric criterion the Jaccard screen
    * ([[corpusIndex]]/[[nearDupScreen]]) cannot see. Construction reuses
    * the exact batch machinery (portable `graft_wordhash62` distinct sets,
    * `graft_minhash_portable` signatures, geometric size strata, the
    * LSH-Ensemble per-gap band budgets of
    * [[graft.queries.Llm.containmentBandsForGap]]), so screen decisions
    * carry the same recall contract as the batch pass.
    *
    * Three broadcastable frames: `bands2` (16 r=2 band keys per corpus doc,
    * same-stratum tier), `sigs` (32 r=1 signature rows per corpus doc,
    * cross-strata tier), `sets` (the sorted hash set for the exact verify).
    */
  final case class ContainmentIndex(bands2: DataFrame, sigs: DataFrame,
      sets: DataFrame, maxStrat: Int,
      bands2Bytes: Long, sigsBytes: Long, setsBytes: Long,
      private val pinned: DataFrame) {
    /** Unpersist the PINNED parent frame — `sets`/`bands2`/`sigs` are
      * projections of it, and unpersisting a projection is a no-op on the
      * parent's cache entry (the cache-scope leak class the round-10
      * advice flagged on the sharded IVF cache).
      */
    def release(): Unit = pinned.unpersist(blocking = false)
  }

  private val ContainK = 32
  private val ContainBands2 = 16
  private val P31 = 2147483647L

  /** The 16 r=2 band keys from a 32-long signature array column. */
  private def bandKeys2(sig: org.apache.spark.sql.Column) =
    array((0 until ContainBands2).map { b =>
      element_at(sig, 2 * b + 1) * P31 + element_at(sig, 2 * b + 2)
    }: _*)

  /** Per-doc (sorted distinct token-hash set, size, geometric stratum,
    * minhash signature) — shared by the index build and the screen's
    * incoming side so both derive from ONE featurization.
    */
  private def containmentSets(d: DataFrame): DataFrame =
    d.select(col("doc_id"),
        sort_array(array_distinct(call_function("graft_wordhash62",
          graft.functions.TextFunctions.tokenSet(col("text"))))).as("hs"))
      .withColumn("n", size(col("hs")).cast("long"))
      // integer ⌊log2 n⌋ = binary digit length − 1 (exact; n ≥ 1)
      .withColumn("strat", (length(conv(col("n"), 10, 2)) - 1).cast("int"))
      .withColumn("sig",
        call_function("graft_minhash_portable", col("hs"), lit(ContainK)))

  def containmentIndex(corpus: DataFrame): ContainmentIndex = {
    graft.functions.NativeExpressions.register(corpus.sparkSession)
    val sets = containmentSets(corpus)
      .select(col("doc_id").as("corpus_id"), col("hs").as("chs"),
        col("n").as("cn"), col("strat").as("cstrat"), col("sig").as("csig"))
      .persist()
    val bands2 = sets.select(col("corpus_id"), col("cstrat"),
      posexplode(bandKeys2(col("csig"))).as(Seq("band", "bk")))
    val sigs = sets.select(col("corpus_id"), col("cstrat"),
      posexplode(col("csig")).as(Seq("k", "sv")))
    // ONE statistics pass sizes all three frames alongside the stratum
    // bound, so the per-batch screen body never pays a statistics job
    val st = sets.agg(max("cstrat"), count(lit(1)), sum(size(col("chs")))).head()
    val maxStrat = if (st.isNullAt(0)) 0 else st.getInt(0)
    val n = st.getLong(1)
    val totHs = if (st.isNullAt(2)) 0L else st.getLong(2)
    ContainmentIndex(bands2, sigs, sets.select("corpus_id", "chs", "cn"),
      maxStrat,
      bands2Bytes = n * ContainBands2 * 40L, sigsBytes = n * ContainK * 36L,
      setsBytes = totHs * 8 + n * 56,
      pinned = sets)
  }

  /** [[containmentIndex]] behind the build-once store ([[IndexStore]]):
    * three frames sharded by their screen-join keys plus the scalar meta
    * (maxStrat, byte estimates) a restart needs without re-featurizing.
    */
  def containmentIndexLoadOrBuild(corpus: DataFrame, key: String)
      : ContainmentIndex = {
    val s = corpus.sparkSession
    val n = graft.Caches.countOnce(corpus)
    var built: ContainmentIndex = null
    val (frames, meta) = IndexStore.loadOrBuild(s, s"containment-$key", n,
      Seq("bands2", "sigs", "sets"),
      Map("bands2" -> Seq("band", "bk"), "sigs" -> Seq("k", "sv"),
        "sets" -> Seq("corpus_id"))) {
      built = containmentIndex(corpus)
      (Map("bands2" -> built.bands2, "sigs" -> built.sigs,
          "sets" -> built.sets),
        Map("maxStrat" -> built.maxStrat.toLong,
          "bands2Bytes" -> built.bands2Bytes, "sigsBytes" -> built.sigsBytes,
          "setsBytes" -> built.setsBytes))
    }
    if (built != null) built.release()
    ContainmentIndex(frames("bands2"), frames("sigs"), frames("sets"),
      meta("maxStrat").toInt, meta("bands2Bytes"), meta("sigsBytes"),
      meta("setsBytes"), pinned = frames("sets"))
  }

  /** Batch form of the containment screen (also the per-micro-batch body):
    * one row per incoming doc that is ≥ num/den covered by some corpus doc
    * — coverage C = |In ∩ Corp| / |In|, exact integer arithmetic — carrying
    * its single deterministic best container (lexicographic max of
    * (coverage, jaccard, −corpus_id), the batch dedup's decision rule) and
    * the qualifying-container count. Admission = anti-join on the output,
    * like [[nearDupScreen]].
    *
    * Candidates: same-stratum r=2×16 bands, plus the incoming doc probing
    * toward HIGHER corpus strata at r=1 under the per-gap band budget (an
    * incoming doc can only be covered by a same-or-larger set: coverage
    * ≥ 0.9 is impossible against a corpus set below its stratum).
    * Stream-static equi-joins against broadcast index frames throughout —
    * stateless, so the foreachBatch wrapper holds nothing between batches.
    */
  def containmentScreen(incoming: DataFrame, index: ContainmentIndex,
      num: Int = 9, den: Int = 10): DataFrame = {
    val s = incoming.sparkSession
    graft.functions.NativeExpressions.register(s)
    // index joins are byte-gated ([[graft.Broadcasts]], sized at build):
    // against a 100 TB corpus index each flips to a shuffle sharded by its
    // equi-key (band / (k, sv, stratum) / corpus_id) — same plan shape,
    // honest exchange, hash-identical output (StreamingSpec pins both)
    def bs(frame: DataFrame, bytes: Long) =
      graft.Broadcasts.gateBytes(s, "screen", bytes, ScreenBroadcastBytes)(frame)
    // the featurization (tokenize + portable minhash) feeds THREE consumers
    // per batch (tier-1 bands, tier-2 probes, the exact verify) — pinned so
    // it runs once; callers release via Caches (the sink wraps each batch
    // in Caches.scoped)
    val in = graft.Caches.persist(containmentSets(incoming))
    // tier 1: same stratum, r=2 × 16 band keys
    val inB2 = in.select(col("doc_id"), col("strat"),
      posexplode(bandKeys2(col("sig"))).as(Seq("band", "bk")))
    val cand0 = inB2.as("a").join(bs(index.bands2, index.bands2Bytes).as("c"),
        col("a.band") === col("c.band") && col("a.bk") === col("c.bk") &&
          col("a.strat") === col("c.cstrat"))
      .select(col("a.doc_id"), col("c.corpus_id"))
    // tier 2: r=1 signature probes under the per-gap band budget — UPWARD
    // to every reachable higher corpus stratum (snippet-in-bigger-doc),
    // plus ONE stratum downward: coverage ≥ 0.9 against a smaller corpus
    // set forces sizes within 1/0.9, so only a boundary-straddling
    // gap-1 pair can qualify from below (the batch construction reaches
    // the same pairs by probing from whichever doc is smaller)
    val maxGap = math.max(index.maxStrat, 1)
    val budget = graft.queries.Llm.containmentBandsForGap _
    val targets = array(
      (1 to maxGap).map(g => struct((col("strat") + g).as("tgt"),
        lit(budget(g)).as("bud"))) :+
      struct((col("strat") - 1).as("tgt"), lit(budget(1)).as("bud")): _*)
    val probe = in.select(col("doc_id"), col("strat"),
        posexplode(col("sig")).as(Seq("k", "sv")))
      .withColumn("t", explode(targets))
      .select(col("doc_id"), col("k"), col("sv"),
        col("t.tgt").as("tgt"), col("t.bud").as("bud"))
      .filter(col("k") < col("bud") &&
        col("tgt") >= 0 && col("tgt") <= lit(index.maxStrat))
    val candG = probe.as("a").join(bs(index.sigs, index.sigsBytes).as("c"),
        col("a.k") === col("c.k") && col("a.sv") === col("c.sv") &&
          col("a.tgt") === col("c.cstrat"))
      .select(col("a.doc_id"), col("c.corpus_id"))
    val cand = cand0.unionAll(candG).dropDuplicates("doc_id", "corpus_id")
    // exact verify (sorted-array intersection) + the batch decision rule
    val verified = cand
      .join(in.select(col("doc_id"), col("hs"), col("n")), "doc_id")
      .join(bs(index.sets, index.setsBytes), "corpus_id")
      .withColumn("i", call_function("graft_isect", col("hs"), col("chs")))
      .filter(col("i") * den >= col("n") * num)
      .withColumn("coverage_e4", expr("i * 10000 div n"))
      .withColumn("jaccard_e4", expr("i * 10000 div (n + cn - i)"))
    verified.groupBy("doc_id")
      .agg(max(struct(col("coverage_e4"), col("jaccard_e4"),
          (-col("corpus_id")).as("neg_cid"))).as("b"),
        count(lit(1)).as("n_containers"))
      .select(col("doc_id"), (-col("b.neg_cid")).as("contained_in"),
        col("b.coverage_e4").as("coverage_e4"),
        col("b.jaccard_e4").as("jaccard_e4"), col("n_containers"))
  }

  /** Streaming wrapper: screen each micro-batch against the static
    * containment index, write flagged docs (with their best container) to
    * `path/batch_id=N` — exactly-once per batch via overwrite-by-directory,
    * the [[nearDupScreenSink]] contract.
    */
  def containmentScreenSink(stream: DataFrame, index: ContainmentIndex,
      path: String, checkpoint: String, num: Int = 9, den: Int = 10)
      : org.apache.spark.sql.streaming.StreamingQuery =
    stream.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        // scoped: releases the screen's per-batch featurization pin the
        // moment this batch's write completes
        graft.Caches.scoped {
          containmentScreen(batch, index, num, den).write.mode("overwrite")
            .parquet(s"$path/batch_id=$batchId")
        }
      }
      .start()

  /** SimHash fingerprint index over a static corpus for the streaming
    * boilerplate screen: one 62-bit fingerprint per corpus doc plus its 4
    * INTERLEAVED pigeonhole block keys ([[graft.operators.HammingJoin
    * .blockKey]], ≤16 bits each). ~4 rows per corpus doc —
    * broadcastable far beyond the MinHash band index (which carries hashed
    * shingle sets for the verify step; the hamming verify here needs only
    * the fingerprint, already on the block row).
    */
  final case class SimHashIndex(blocks: DataFrame, blocksBytes: Long)

  def simhashIndex(corpus: DataFrame): SimHashIndex = {
    graft.functions.NativeExpressions.register(corpus.sparkSession)
    val fp = corpus.select(col("doc_id").as("corpus_id"),
      call_function("graft_simhash",
        call_function("graft_wordhash62",
          graft.functions.TextFunctions.tokenSet(col("text"))))
        .as("corpus_fp"))
    // 4 (corpus_id, fp, blk, key) rows per corpus doc, ~40 B each — sized
    // from the input row count (no fingerprint evaluation at build).
    // Block keys are HammingJoin's INTERLEAVED layout (bit i → block
    // i mod 4), shared with the probe side and the batch pair queries: a
    // contiguous layout piles every doc whose fingerprint shares a bit
    // REGION (the biased top bits of a mod-prime word hash) into one
    // (blk, key) bucket of the corpus index, and a 100 TB index re-pays
    // that hot bucket on every micro-batch.
    SimHashIndex(fp
      .select(col("corpus_id"), col("corpus_fp"),
        graft.operators.HammingJoin.blockIds(4).as("blk"))
      .withColumn("key", graft.operators.HammingJoin.blockKeyFor(
        col("corpus_fp"), col("blk"), 4)),
      blocksBytes = corpus.count() * 4 * 40L)
  }

  /** [[simhashIndex]] behind the build-once store — blocks sharded by the
    * screen's (blk, key) equi-join key. */
  def simhashIndexLoadOrBuild(corpus: DataFrame, key: String): SimHashIndex = {
    val s = corpus.sparkSession
    val n = graft.Caches.countOnce(corpus)
    val (frames, meta) = IndexStore.loadOrBuild(s, s"simhash-$key", n,
      Seq("blocks"), Map("blocks" -> Seq("blk", "key"))) {
      val b = simhashIndex(corpus)
      (Map("blocks" -> b.blocks), Map("blocksBytes" -> b.blocksBytes))
    }
    SimHashIndex(frames("blocks"), meta("blocksBytes"))
  }

  /** Streaming SIMHASH near-dup screen: flag every incoming doc within
    * hamming distance `maxHamming` (<= 3 for the 4-block index) of a corpus
    * fingerprint — the boilerplate gate at ingest, sharing x2_simhash_neardup's
    * exact pigeonhole contract: a qualifying pair agrees on >= 1 of the 4
    * 16-bit blocks, so candidates come from a stream-static equi-join on
    * (block_id, block_bits) and verify with one popcount(xor). A pair
    * agreeing on several blocks is emitted ONLY on its first agreeing block
    * (computed from the xor alone) — a STATELESS exactly-once dedup, so the
    * whole screen is appendable: no foreachBatch, no state store, no
    * watermark, like [[embeddingScreen]].
    *
    * Returns (doc_id, dup_of, hamming), one row per flagged pair.
    */
  def simhashScreen(incoming: DataFrame, index: SimHashIndex,
      maxHamming: Int = 3): DataFrame = {
    require(maxHamming <= 3, "4-block pigeonhole is complete only to hamming 3")
    val s = incoming.sparkSession
    graft.functions.NativeExpressions.register(s)
    val banded = incoming.select(col("doc_id"),
        call_function("graft_simhash",
          call_function("graft_wordhash62",
            graft.functions.TextFunctions.tokenSet(col("text"))))
          .as("fp"))
      .select(col("doc_id"), col("fp"),
        graft.operators.HammingJoin.blockIds(4).as("blk"))
      .withColumn("key", graft.operators.HammingJoin.blockKeyFor(
        col("fp"), col("blk"), 4))
    banded
      // byte-gated: a 100 TB corpus flips this to a shuffle on (blk, key)
      .join(graft.Broadcasts.gateBytes(s, "screen", index.blocksBytes,
        ScreenBroadcastBytes)(index.blocks), Seq("blk", "key"))
      .withColumn("x", expr("fp ^ corpus_fp"))
      // first agreeing block of the pair, from the xor alone — the join row
      // for any other agreeing block is dropped, so each pair emits once
      .filter(col("blk") === graft.operators.HammingJoin.firstAgree(col("x"), 4))
      .withColumn("hamming", expr("bit_count(x)").cast("long"))
      .filter(col("hamming") <= maxHamming)
      .select(col("doc_id"), col("corpus_id").as("dup_of"), col("hamming"))
  }

  final case class PhashIndex(blocks: DataFrame, blocksBytes: Long)

  /** 3-block pigeonhole index of the corpus' perceptual image hashes
    * (x5_image_phash's row-gradient dHash), gated to ≥17-row rasters —
    * the same ≥16-gradient-bit information floor as x5_phash_neardup.
    */
  def phashIndex(corpusWithPpm: DataFrame): PhashIndex = {
    import corpusWithPpm.sparkSession.implicits._
    val ph = corpusWithPpm.select("doc_id", "ppm").as[(Long, Array[Byte])]
      .mapPartitions(_.map { case (id, b) =>
        graft.queries.Multimodal.ppmRowHash(id, b) })
      .toDF("corpus_id", "corpus_fp", "img_rows")
      .filter(col("img_rows") >= 17)
    // sized from the INPUT count (≤ 3 block rows × ~40 B per payload) so
    // the build never runs the decoder just for statistics
    PhashIndex(ph.select(col("corpus_id"), col("corpus_fp"),
        graft.operators.HammingJoin.blockIds(3).as("blk"))
      .withColumn("key", graft.operators.HammingJoin.blockKeyFor(
        col("corpus_fp"), col("blk"), 3)),
      blocksBytes = corpusWithPpm.count() * 3 * 40L)
  }

  /** [[phashIndex]] behind the build-once store — a restart re-reads the
    * block artifact instead of re-DECODING every corpus raster. */
  def phashIndexLoadOrBuild(corpusWithPpm: DataFrame, key: String): PhashIndex = {
    val s = corpusWithPpm.sparkSession
    val n = graft.Caches.countOnce(corpusWithPpm)
    val (frames, meta) = IndexStore.loadOrBuild(s, s"phash-$key", n,
      Seq("blocks"), Map("blocks" -> Seq("blk", "key"))) {
      val b = phashIndex(corpusWithPpm)
      (Map("blocks" -> b.blocks), Map("blocksBytes" -> b.blocksBytes))
    }
    PhashIndex(frames("blocks"), meta("blocksBytes"))
  }

  /** Streaming VISUAL near-dup screen: flag every incoming image payload
    * within hamming `maxHamming` (<= 2 for the 3-block index) of a corpus
    * image hash — the image-modality ingest gate beside [[simhashScreen]]
    * (text) and [[embeddingScreen]] (vectors). Same stateless contract:
    * the REAL decoder runs per partition on the binary column, candidates
    * come from a stream-static equi-join on (block, bits), the popcount
    * verifies, and first-agreeing-block emission keeps the screen pure
    * append — no foreachBatch, no state store, no watermark.
    */
  def phashScreen(incoming: DataFrame, index: PhashIndex,
      maxHamming: Int = 2): DataFrame = {
    require(maxHamming <= 2, "3-block pigeonhole is complete only to hamming 2")
    import incoming.sparkSession.implicits._
    val hashed = incoming.select("doc_id", "ppm").as[(Long, Array[Byte])]
      .mapPartitions(_.map { case (id, b) =>
        graft.queries.Multimodal.ppmRowHash(id, b) })
      .toDF("doc_id", "fp", "img_rows")
      .filter(col("img_rows") >= 17)
    hashed.select(col("doc_id"), col("fp"),
        graft.operators.HammingJoin.blockIds(3).as("blk"))
      .withColumn("key", graft.operators.HammingJoin.blockKeyFor(
        col("fp"), col("blk"), 3))
      // byte-gated: a 100 TB corpus flips this to a shuffle on (blk, key)
      .join(graft.Broadcasts.gateBytes(incoming.sparkSession, "screen",
        index.blocksBytes, ScreenBroadcastBytes)(index.blocks),
        Seq("blk", "key"))
      .withColumn("x", expr("fp ^ corpus_fp"))
      .filter(col("blk") ===
        graft.operators.HammingJoin.firstAgree(col("x"), 3))
      .withColumn("hamming", expr("bit_count(x)").cast("long"))
      .filter(col("hamming") <= maxHamming)
      .select(col("doc_id"), col("corpus_id").as("dup_of"), col("hamming"))
  }

  final case class VideoIndex(blocks: DataFrame, blocksBytes: Long)

  /** 3-block pigeonhole index of the corpus' TEMPORAL video hashes
    * (x5_video_neardup's luma-gradient fingerprint over decoded y4m
    * frames), gated to ≥17-frame streams — the same ≥16-information-bit
    * floor as the image and audio indexes.
    */
  def videoIndex(corpusWithY4m: Dataset[(Long, Array[Byte])]): VideoIndex = {
    import corpusWithY4m.sparkSession.implicits._
    val th = corpusWithY4m
      .mapPartitions(_.map { case (id, b) =>
        graft.queries.Multimodal.y4mTemporalHash(id, b) })
      .toDF("corpus_id", "corpus_fp", "n_frames")
      .filter(col("n_frames") >= 17)
    // sized from the INPUT count, like [[phashIndex]] — no decode-for-stats
    VideoIndex(th.select(col("corpus_id"), col("corpus_fp"),
        graft.operators.HammingJoin.blockIds(3).as("blk"))
      .withColumn("key", graft.operators.HammingJoin.blockKeyFor(
        col("corpus_fp"), col("blk"), 3)),
      blocksBytes = corpusWithY4m.count() * 3 * 40L)
  }

  /** [[videoIndex]] behind the build-once store — a restart re-reads the
    * block artifact instead of re-decoding every corpus y4m stream. */
  def videoIndexLoadOrBuild(corpusWithY4m: Dataset[(Long, Array[Byte])],
      key: String): VideoIndex = {
    val s = corpusWithY4m.sparkSession
    val n = graft.Caches.countOnce(corpusWithY4m.toDF())
    val (frames, meta) = IndexStore.loadOrBuild(s, s"video-$key", n,
      Seq("blocks"), Map("blocks" -> Seq("blk", "key"))) {
      val b = videoIndex(corpusWithY4m)
      (Map("blocks" -> b.blocks), Map("blocksBytes" -> b.blocksBytes))
    }
    VideoIndex(frames("blocks"), meta("blocksBytes"))
  }

  /** Streaming VIDEO near-dup screen: flag every incoming y4m payload
    * within hamming `maxHamming` (≤2 for the 3-block index) of a corpus
    * temporal fingerprint — completing the per-modality ingest gates
    * (text [[simhashScreen]], image [[phashScreen]], audio via the same
    * pigeonhole, vectors [[embeddingScreen]]). Same stateless contract:
    * REAL decoder per partition, stream-static equi-join on (block, bits),
    * popcount verify, first-agreeing-block emission — pure append mode.
    */
  def videoScreen(incoming: Dataset[(Long, Array[Byte])], index: VideoIndex,
      maxHamming: Int = 2): DataFrame = {
    require(maxHamming <= 2, "3-block pigeonhole is complete only to hamming 2")
    import incoming.sparkSession.implicits._
    val hashed = incoming
      .mapPartitions(_.map { case (id, b) =>
        graft.queries.Multimodal.y4mTemporalHash(id, b) })
      .toDF("doc_id", "fp", "n_frames")
      .filter(col("n_frames") >= 17)
    hashed.select(col("doc_id"), col("fp"),
        graft.operators.HammingJoin.blockIds(3).as("blk"))
      .withColumn("key", graft.operators.HammingJoin.blockKeyFor(
        col("fp"), col("blk"), 3))
      // byte-gated: a 100 TB corpus flips this to a shuffle on (blk, key)
      .join(graft.Broadcasts.gateBytes(incoming.sparkSession, "screen",
        index.blocksBytes, ScreenBroadcastBytes)(index.blocks),
        Seq("blk", "key"))
      .withColumn("x", expr("fp ^ corpus_fp"))
      .filter(col("blk") ===
        graft.operators.HammingJoin.firstAgree(col("x"), 3))
      .withColumn("hamming", expr("bit_count(x)").cast("long"))
      .filter(col("hamming") <= maxHamming)
      .select(col("doc_id"), col("corpus_id").as("dup_of"), col("hamming"))
  }

  /** Streaming COUNT-MIN SKETCH over incoming `(doc_id, text)` rows: every
    * token occurrence increments its cell in each of the 4 hash rows, so
    * the streaming aggregation state IS the sketch — at most 4×1024 keys
    * no matter how many distinct tokens the stream carries, the bounded-
    * state frequency tracker a firehose ingest wants (per-token streaming
    * counts grow state with the vocabulary; this never does). Emitted in
    * update mode as (r, bkt, bc); estimates are min-over-rows of a token's
    * cells, exactly as in the batch twin x4_heavy_hitters_cms — cells are
    * IDENTICAL to the batch sketch over the same rows
    * ([[graft.functions.TextFunctions.cmsBucket]] shared), pinned in
    * StreamingSpec.
    */
  def cmsSketch(incoming: DataFrame): DataFrame = {
    graft.functions.NativeExpressions.register(incoming.sparkSession)
    val TF = graft.functions.TextFunctions
    incoming.select(explode(TF.tokens(col("text"))).as("w"))
      .withColumn("hw",
        element_at(call_function("graft_wordhash62", array(col("w"))), 1))
      .select(col("hw"),
        explode(array((0 until 4).map(lit): _*)).as("r"))
      .withColumn("bkt", TF.cmsBucket(col("r"), col("hw")))
      .groupBy("r", "bkt").agg(count(lit(1)).as("bc"))
  }

  /** Static hyperplane-LSH index over a corpus `(vec_id, embedding)`:
    * banded sign-random-projection codes
    * ([[graft.functions.HyperplaneBandKeys]]) exploded to one row per
    * (band, band_value), carrying the full code array plus the
    * double-vector and norm for the exact-cosine verify step.
    */
  final case class LshIndex(bands: DataFrame, numBands: Int, bitsPerBand: Int)

  def lshIndex(corpus: DataFrame, numBands: Int = 8,
      bitsPerBand: Int = 8): LshIndex = {
    graft.functions.NativeExpressions.register(corpus.sparkSession)
    val VF = graft.functions.VectorFunctions
    val coded = corpus.select(col("vec_id"),
        VF.toDouble(col("embedding")).as("nv"),
        call_function("graft_hyperplane_bands",
          col("embedding"), lit(numBands), lit(bitsPerBand)).as("cbks"))
      .withColumn("nn", VF.l2Norm(col("nv")))
    LshIndex(coded.select(col("vec_id"), col("nv"), col("nn"), col("cbks"),
      posexplode(col("cbks")).as(Seq("b", "bv"))), numBands, bitsPerBand)
  }

  /** Streaming LSH embedding near-dup screen: the APPROXIMATE (cheap) twin
    * of [[embeddingScreen]] — incoming vectors are checked against the
    * static corpus via hyperplane-LSH bucket collisions instead of the IVF
    * triangle bound. Candidates come from a stream-static equi-join on
    * (band, band_value); the exact-cosine verify keeps precision at 1
    * (LSH approximates the CANDIDATE SET, never the score), recall follows
    * the band collision probability on near-identical vectors (≈1 for
    * sim ≥ 0.95 at 8×8 bits — LlmSpec measures it on planted clusters).
    * A pair colliding on several bands is emitted ONLY on its first
    * agreeing band (computed by comparing the two code arrays carried on
    * the join row) — the same STATELESS exactly-once dedup as
    * [[simhashScreen]], so the screen is pure append mode: no foreachBatch,
    * no state store, no watermark. Per incoming vector the work is its
    * colliding buckets only (~n/2^bitsPerBand per band), not the √n-cell
    * centroid scan — the operating point for very high ingest rates.
    *
    * Returns (doc_id, dup_of, sim), one row per flagged pair.
    */
  def lshScreen(incoming: DataFrame, index: LshIndex, t: Double): DataFrame = {
    graft.functions.NativeExpressions.register(incoming.sparkSession)
    val VF = graft.functions.VectorFunctions
    val banded = incoming.select(col("doc_id"),
        VF.toDouble(col("embedding")).as("qv"),
        call_function("graft_hyperplane_bands", col("embedding"),
          lit(index.numBands), lit(index.bitsPerBand)).as("qbks"))
      .withColumn("qnrm", VF.l2Norm(col("qv")))
      .select(col("doc_id"), col("qv"), col("qnrm"), col("qbks"),
        posexplode(col("qbks")).as(Seq("b", "bv")))
    banded
      .join(index.bands, Seq("b", "bv"))
      // first band where the two full codes agree — join rows for any later
      // agreeing band are dropped, so each pair emits exactly once
      .withColumn("first_agree",
        array_position(zip_with(col("qbks"), col("cbks"),
          (a, b) => a === b), lit(true)) - 1)
      .filter(col("b") === col("first_agree"))
      .withColumn("sim", VF.dotNative(col("qv"), col("nv")) / (col("qnrm") * col("nn")))
      .filter(col("sim") >= t)
      .select(col("doc_id"), col("vec_id").as("dup_of"),
        round(col("sim"), 4).as("sim"))
  }

  /** Streaming EMBEDDING near-dup screen: incoming `(doc_id, embedding)`
    * rows are checked against a static corpus' IVF index
    * ([[graft.operators.IvfIndex.loadOrBuild]]) — the vector-modality twin
    * of [[nearDupScreen]]. EXACT (the triangle bound `sim(q,x) ≤
    * cos(max(0, θ(q,c) − r_c))` prunes cells, never answers), and — unlike
    * the MinHash screen — expressible as pure stream-static equi/broadcast
    * joins + filters with no ranking window, so it runs as a genuine
    * append-mode streaming query: no foreachBatch, no state store, no
    * watermark. Per incoming vector the work is one pass over the k ≈ √n
    * broadcast cells plus only the members of cells whose bound clears `t`.
    *
    * Returns (doc_id, dup_of, sim) — one row per flagged (incoming, corpus)
    * pair with cosine ≥ t.
    */
  def embeddingScreen(incoming: DataFrame,
      idx: graft.operators.IvfIndex.Index, t: Double): DataFrame = {
    graft.functions.NativeExpressions.register(incoming.sparkSession)
    val VF = graft.functions.VectorFunctions
    val qn = incoming.select(col("doc_id"),
        VF.toDouble(col("embedding")).as("qv"))
      .withColumn("qnrm", VF.l2Norm(col("qv")))
    // cells ≈ √n rows — sublinear, but at 100 TB even √n × dim doubles can
    // cross a broadcast budget, so the bound scan is byte-gated too. The
    // screen is APPEND-MODE (plan built once), so this statistics pass runs
    // once per query start, never per batch. Above the gate the bound scan
    // runs as a distributed nested-loop over the cell frame.
    val cst = idx.cells.agg(count(lit(1)), sum(size(col("cv")))).head()
    val cellBytes =
      (if (cst.isNullAt(1)) 0L else cst.getLong(1)) * 8 + cst.getLong(0) * 48
    val bc = graft.Broadcasts.gateBytes(incoming.sparkSession, "screen",
      cellBytes, ScreenBroadcastBytes)
    // cells whose triangle bound admits a member with sim >= t
    val qc = qn.join(bc(idx.cells.select(col("cell"), col("cv"), col("cnrm"), col("r"))),
        lit(true))
      .withColumn("qtheta", acos(least(greatest(
        VF.dotNative(col("qv"), col("cv")) / (col("qnrm") * col("cnrm")),
        lit(-1.0)), lit(1.0))))
      .filter(cos(greatest(col("qtheta") - col("r"), lit(0.0))) >= lit(t) - lit(1e-9))
      .select(col("doc_id"), col("qv"), col("qnrm"), col("cell"))
    // the corpus assignment is NOT broadcast — it is linear in the corpus;
    // a stream-static equi join on `cell` lets Spark plan it by statistics
    qc.join(idx.assigned.select(col("vec_id"), col("cell"),
        col("v").as("nv"), col("nrm").as("nn")), Seq("cell"))
      .withColumn("sim", VF.dotNative(col("qv"), col("nv")) / (col("qnrm") * col("nn")))
      .filter(col("sim") >= t)
      .select(col("doc_id"), col("vec_id").as("dup_of"),
        round(col("sim"), 4).as("sim"))
  }

  /** Streaming ANN LOOKUP: attribute each incoming `(doc_id, embedding)`
    * row to its top-k nearest corpus neighbors — retrieval-at-ingest (tag
    * every new document with its closest existing ones) where
    * [[embeddingScreen]] is a RADIUS gate (all pairs ≥ t, appendable).
    * Top-k needs a per-query ranking window, so like the MinHash screen it
    * runs under foreachBatch ([[annLookupSink]]); the batch body IS
    * [[graft.operators.IvfIndex.knnExact]] — the identical exact two-phase
    * triangle-pruned search the batch queries use, against the same
    * build-once parquet-backed index, so streaming answers match the batch
    * engine row-for-row (pinned in StreamingSpec).
    */
  def annLookup(incoming: DataFrame, idx: graft.operators.IvfIndex.Index,
      k: Int = 1): DataFrame = {
    graft.functions.NativeExpressions.register(incoming.sparkSession)
    val VF = graft.functions.VectorFunctions
    val q = incoming.select(col("doc_id").as("query_id"),
      VF.toDouble(col("embedding")).as("qv"))
    graft.operators.IvfIndex.knnExact(idx, q, k = k)
      .select(col("query_id").as("doc_id"), col("rk"),
        col("neighbor_id"), round(col("s"), 4).as("sim"))
  }

  /** Streaming wrapper for [[annLookup]]: per micro-batch, exactly-once via
    * overwrite-by-batch-directory (same contract as [[nearDupScreenSink]]).
    */
  def annLookupSink(stream: DataFrame, idx: graft.operators.IvfIndex.Index,
      path: String, checkpoint: String, k: Int = 1)
      : org.apache.spark.sql.streaming.StreamingQuery =
    stream.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        annLookup(batch, idx, k).write.mode("overwrite")
          .parquet(s"$path/batch_id=$batchId")
      }
      .start()

  /** Streaming INGEST-AND-INDEX — a live vector store: each micro-batch is
    * (1) looked up against the index of the seed corpus plus every PRIOR
    * batch ([[graft.operators.IvfIndex.knnExact]] — exact retrieval over
    * everything ingested so far), then (2) appended to the index
    * ([[graft.operators.IvfIndex.append]] — centroids fixed, radius bounds
    * widened, cost proportional to the batch). Structured Streaming runs
    * foreachBatch bodies serially with monotone batch ids, so the evolving
    * index handle is safe in the closure; on restart the sink's
    * overwrite-by-batch-directory keeps outputs exactly-once (same
    * contract as [[annLookupSink]]), and the index is rebuilt by replaying
    * the checkpoint's unfinished batch only. At 100 TB the seed index is
    * the parquet-backed [[graft.operators.IvfIndex.loadOrBuild]] artifact
    * and append's per-batch work is ingest-proportional — this is the
    * retrieval-at-ingest loop of a production store, not a toy.
    *
    * Each batch's output rows: (doc_id, rk, neighbor_id, sim) — neighbors
    * drawn ONLY from data ingested before that batch.
    */
  def annIngestIndexSink(stream: DataFrame,
      seed: graft.operators.IvfIndex.Index, path: String, checkpoint: String,
      k: Int = 1): org.apache.spark.sql.streaming.StreamingQuery = {
    var idx = seed
    stream.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val b = batch.persist()
        annLookup(b, idx, k).write.mode("overwrite")
          .parquet(s"$path/batch_id=$batchId")
        val VF = graft.functions.VectorFunctions
        idx = graft.operators.IvfIndex.append(idx,
          b.select(col("doc_id").as("vec_id"),
            VF.toDouble(col("embedding")).as("v")))
        // eagerly pin the appended assignment before the source batch is
        // unpersisted (append is lazy; its plan reads `b`)
        idx.assigned.count()
        b.unpersist(): Unit
      }
      .start()
  }

  /** Streaming LIVE VECTOR STORE with CDC semantics — the full lifecycle
    * of a vector store in one sink. Each micro-batch is a change feed:
    * rows carry an `op` column, `"put"` (doc_id, embedding) or `"delete"`
    * (doc_id). Per batch, in order:
    *
    *   1. every put is looked up against the store state BEFORE this
    *      batch (retrieval-at-ingest, exact [[graft.operators.IvfIndex.knnExact]]
    *      — the same contract as [[annIngestIndexSink]]), written
    *      exactly-once to `path/lookups/batch_id=N`;
    *   2. explicit deletes AND any re-put ids leave the index via
    *      [[graft.operators.IvfIndex.forget]] — a re-put is therefore a
    *      LATEST-WINS UPSERT (the vector-store analog of
    *      [[graft.sources.KeyedUpsert]]), and a delete is the streaming
    *      leg of right-to-be-forgotten reaching the DERIVED index, not
    *      just the source table ([[graft.sources.Forget]]'s blind spot);
    *   3. the put vectors are appended ([[graft.operators.IvfIndex.append]],
    *      centroids fixed, radius bounds widened);
    *   4. an ops audit (row count per op) lands at `path/_audit/batch_id=N`
    *      under the same overwrite-by-batch-directory exactly-once rule.
    *
    * Search stays EXACT throughout: forget only tightens radius bounds,
    * append only widens them, so the triangle pruning in knnExact remains
    * valid over any put/delete interleaving — a lookup result depends
    * only on the store's logical membership, never on the arrival order
    * that built the index (pinned in StreamingSpec against a fresh
    * [[graft.operators.IvfIndex.build]] over the final survivor set).
    * Per-batch cost is change-proportional: forget broadcasts the batch's
    * key set and touches only the cells that lost members; append shuffles
    * only the batch. The store is RESTARTABLE: every batch's change feed
    * lands in a durable log (`path/_state/ops/batch_id=N`), and a new
    * incarnation folds the log's latest surviving op per key into the
    * seed in one forget+append before its first batch ([[replayLiveOps]])
    * — StreamingSpec pins that a stopped-and-restarted store answers
    * probes identically to an uninterrupted one. At 100 TB the seed is
    * the parquet-backed [[graft.operators.IvfIndex.loadOrBuild]] artifact
    * and a long-running store periodically folds its log into a compacted
    * seed (the [[graft.operators.IvfIndex.forgetStored]] path) so neither
    * the log nor the in-memory union chain grows unbounded.
    */
  def annLiveStoreSink(stream: DataFrame,
      seed: graft.operators.IvfIndex.Index, path: String, checkpoint: String,
      k: Int = 1,
      onBatchProgress: (Long, String) => Unit = (_, _) => ())
      : org.apache.spark.sql.streaming.StreamingQuery = {
    var idx: Option[graft.operators.IvfIndex.Index] = None
    // the PREVIOUS batch's localCheckpoint frames — released explicitly
    // after each rebase. Left to the ContextCleaner they linger until a
    // driver GC (weak-reference reclamation), and a long-lived store on a
    // large-heap driver accumulates one checkpointed (assigned, cells)
    // pair per batch — the linear block growth the 100-batch soak test
    // caught. Only frames THIS sink checkpointed are tracked; the
    // caller-owned seed is never unpersisted.
    var prevCp: Option[graft.operators.IvfIndex.Index] = None
    stream.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        graft.Caches.scoped {
        val s = batch.sparkSession
        val VF = graft.functions.VectorFunctions
        // (re)build the store on the first batch of THIS incarnation: the
        // seed plus ONE forget/append fold of the durable change log
        // strictly before this batch — a restarted (or crash-replayed)
        // sink therefore sees exactly the pre-batch membership no matter
        // how many batches prior incarnations ran, and a replayed batch
        // ignores its own crashed attempt's log entry (the same
        // strictly-before contract as the curation pipeline's state)
        if (idx.isEmpty) idx = Some(replayLiveOps(s, seed, path, batchId))
        var cur = idx.get
        val b = batch.persist()
        val puts = b.filter(col("op") === "put")
        val delKeys = b.filter(col("op") === "delete").select("doc_id")
        annLookup(puts.select("doc_id", "embedding"), cur, k)
          .write.mode("overwrite").parquet(s"$path/lookups/batch_id=$batchId")
        onBatchProgress(batchId, "lookups")
        // durable change log — one overwrite-by-batch directory per batch,
        // vectors normalized to double so replay needs no source schema
        b.select(lit(batchId).as("b"), col("op"), col("doc_id"),
            when(col("op") === "put", VF.toDouble(col("embedding"))).as("v"))
          .write.mode("overwrite")
          .parquet(s"$path/_state/ops/batch_id=$batchId")
        onBatchProgress(batchId, "ops")
        // upsert = forget any prior version of a re-put id alongside the
        // explicit deletes, then append the new vectors; ids never seen
        // before pass through forget as no-ops
        cur = graft.operators.IvfIndex.forget(cur,
          delKeys.unionByName(puts.select("doc_id")).distinct())
        cur = graft.operators.IvfIndex.append(cur,
          puts.select(col("doc_id").as("vec_id"),
            VF.toDouble(col("embedding")).as("v")))
        // eagerly rebase the store onto localCheckpoints BEFORE the source
        // batch is unpersisted (forget/append are lazy; both plans read
        // `b`). The checkpoint also severs the forget/append plan chain —
        // one layer deeper per batch otherwise — and frees every frame the
        // fold registered via Caches.persist, so a long-running stream
        // holds O(index) cached state instead of O(batches).
        cur = graft.operators.IvfIndex.Index(
          cur.assigned.localCheckpoint(true), cur.cells.localCheckpoint(true))
        // the new checkpoints are fully materialized — release the previous
        // batch's blocks NOW instead of waiting for a driver GC
        prevCp.foreach { p =>
          releaseLocalCheckpoint(p.assigned)
          releaseLocalCheckpoint(p.cells)
        }
        prevCp = Some(cur)
        idx = Some(cur)
        b.groupBy("op").agg(count(lit(1)).as("n"))
          .write.mode("overwrite").parquet(s"$path/_audit/batch_id=$batchId")
        b.unpersist(): Unit
        // scope exit unpersists ONLY the frames forget/append registered in
        // THIS batch — never a global drain, so other queries sharing the
        // session keep their caches (the checkpoint above already freed the
        // store's state from those frames)
        }
      }
      .start()
  }

  /** Rebuild the live store's pre-batch membership from the seed index
    * and the change log: the LATEST surviving operation per key (latest
    * batch wins; within a batch a put beats a delete, mirroring the
    * sink's forget-then-append order) folds into the seed as ONE
    * forget(touched) + append(latest puts) — O(1) plan depth no matter
    * how many batches the log holds, never a per-batch replay loop. The
    * CDC contract is the standard one: at most one operation per key per
    * batch (upstream log compaction). The seed must be the same across
    * incarnations — it is the store's durable base artifact
    * ([[graft.operators.IvfIndex.loadOrBuild]] at scale).
    */
  /** Release the persisted blocks behind a `localCheckpoint(true)` frame.
    * `DataFrame.unpersist()` is a NO-OP for checkpoints — the blocks hang
    * off the truncated plan's internal RDD, not the cache manager — and the
    * ContextCleaner only reclaims them at a driver GC, so a long-running
    * sink that checkpoints per batch accumulates one block set per batch
    * on a large-heap driver (caught by the 100-batch soak test). Walks the
    * analyzed plan for its LogicalRDD leaves and unpersists their RDDs
    * directly. Only call once every consumer of the frame has run — a
    * checkpointed RDD has no lineage to recompute evicted blocks from.
    */
  private def releaseLocalCheckpoint(df: DataFrame): Unit =
    df.queryExecution.analyzed.foreach {
      case r: org.apache.spark.sql.execution.LogicalRDD =>
        r.rdd.unpersist(blocking = false): Unit
      case _ => ()
    }

  private def replayLiveOps(s: SparkSession,
      seed: graft.operators.IvfIndex.Index, path: String, batchId: Long)
      : graft.operators.IvfIndex.Index = {
    import org.apache.spark.sql.types._
    if (stateBatchIds(s, s"$path/_state/ops").forall(_ >= batchId)) return seed
    val schema = StructType(Seq(StructField("b", LongType),
      StructField("op", StringType), StructField("doc_id", LongType),
      StructField("v", ArrayType(DoubleType))))
    val latest = readStateBefore(s, s"$path/_state/ops", schema, batchId)
      .groupBy("doc_id")
      .agg(max_by(struct(col("op"), col("v")),
        struct(col("b"), (col("op") === "put").cast("int"))).as("last"))
      .select(col("doc_id"), col("last.op").as("op"), col("last.v").as("v"))
      // eager: sever lineage from the log paths this incarnation is about
      // to keep appending to (the recacheByPath trap)
      .localCheckpoint(true)
    graft.operators.IvfIndex.append(
      graft.operators.IvfIndex.forget(seed, latest.select("doc_id")),
      latest.filter(col("op") === "put")
        .select(col("doc_id").as("vec_id"), col("v")))
  }

  /** Streaming DSIR selection gate — the online half of importance
    * resampling (Xie et al., NeurIPS'23): the delta table is TRAINED
    * OFFLINE on a reference corpus ([[graft.queries.Llm.dsirDeltaMap]],
    * ≤ 1024 entries by construction) and FROZEN into this screen as a map
    * literal; each incoming document is then scored with pure per-row
    * expressions — tokenize with the SAME portable hash as the batch
    * query, look every token's bucket up in the frozen map (unseen
    * buckets take the add-one-smoothed default, not 0), sum the integer
    * micro-unit deltas. Stateless append-mode projection: no watermark,
    * no state store, scales with input partitions — while the batch twin
    * x4_dsir and this screen share the featurization helpers, so a doc
    * scores IDENTICALLY online and offline (StreamingSpec pins
    * cell-identical logw_e6 against the batch pipeline).
    *
    * `minLogwE6` gates admission: DSIR's Gumbel-top-k draw needs the
    * whole candidate pool, so a STREAM admits by threshold instead (the
    * standard online surrogate — the threshold is calibrated offline from
    * the batch draw's score floor).
    */
  def dsirScreen(incoming: DataFrame, deltaE6: Map[Long, Long],
      defaultE6: Long, minLogwE6: Long): DataFrame = {
    graft.functions.NativeExpressions.register(incoming.sparkSession)
    val toks = split(col("text"), " ")
    val buckets = transform(
      call_function("graft_wordhash62", toks), h => pmod(h, lit(1024L)))
    // an empty map would type as map<null,null> and fail element_at's
    // analysis with a bigint key — short-circuit to the all-default score
    val logw =
      if (deltaE6.isEmpty) size(toks).cast("long") * lit(defaultE6)
      else {
        val mapLit = map(deltaE6.toSeq.sortBy(_._1)
          .flatMap { case (b, d) => Seq(lit(b), lit(d)) }: _*)
        aggregate(buckets, lit(0L),
          (acc, b) => acc + coalesce(element_at(mapLit, b), lit(defaultE6)))
      }
    incoming.select(col("doc_id"),
        size(toks).cast("long").as("n_tokens"),
        logw.as("logw_e6"))
      .withColumn("admitted", col("logw_e6") >= minLogwE6)
  }

  /** [[dsirScreen]] with a LIVE delta artifact — the retrain-without-restart
    * deployment of the DSIR gate. Each micro-batch resolves the artifact's
    * current generation ONCE ([[graft.queries.Llm.dsirArtifactLoad]] — a
    * [[graft.sources.Snapshot]] pointer read, so a concurrent
    * `dsirArtifactRetrain` swap is adopted atomically at the NEXT batch
    * boundary and no batch ever mixes two generations' deltas), scores the
    * batch with the same pure expressions as the frozen screen, and lands
    * it under the overwrite-by-batch-directory exactly-once rule with the
    * scoring generation stamped on every row (`delta_gen` — the audit
    * column that makes "which model scored this" answerable after the
    * fact). An IDEMPOTENT swap (retrain on the same corpus) is
    * golden-tested to score cell-identically across the boundary.
    */
  def dsirScreenSink(incoming: DataFrame, artifactPath: String,
      minLogwE6: Long, out: String, checkpoint: String)
      : org.apache.spark.sql.streaming.StreamingQuery =
    incoming.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val s = batch.sparkSession
        val (deltas, default, gen) =
          graft.queries.Llm.dsirArtifactLoad(s, artifactPath)
        dsirScreen(batch, deltas, default, minLogwE6)
          .withColumn("delta_gen", lit(gen))
          .write.mode("overwrite").parquet(s"$out/batch_id=$batchId"): Unit
      }
      .start()

  /** Streaming QUALITY screen — the third ingest gate beside the MinHash
    * and embedding near-dup screens: score each incoming document with the
    * same pure expressions as the batch `x4_quality`/`x4_repetition`
    * operators (stopword ratio, length floor, duplicate-trigram ratio) and
    * emit every document tagged with its gate decision and the first
    * failing reason. Stateless per-row projection — append mode, no
    * watermark, no state store; at 100 TB/day this is a map-only stage
    * that scales with input partitions.
    */
  def qualityScreen(incoming: DataFrame, minTokens: Int = 5,
      maxDupTrigramE4: Long = 200): DataFrame = {
    val toks = split(col("text"), " ")
    val stop = Seq("the", "a", "of", "and", "to", "in", "is", "it")
    val nStop = size(filter(toks, x => x.isin(stop: _*)))
    val tris = transform(sequence(lit(1), greatest(size(toks) - 2, lit(1))),
      i => concat_ws(" ", slice(toks, i, lit(3))))
    val dupE4 = (size(tris) - size(array_distinct(tris))).cast("long") * 10000 /
      size(tris).cast("long")
    incoming.select(col("doc_id"),
        size(toks).cast("long").as("n_tokens"),
        nStop.cast("long").as("n_stopwords"),
        dupE4.cast("long").as("dup_trigram_e4"))
      .withColumn("reason",
        when(col("n_tokens") < minTokens, "too_short")
          .when(col("n_stopwords") < 1, "no_stopwords")
          .when(col("dup_trigram_e4") > maxDupTrigramE4, "repetitive")
          .otherwise(lit(null).cast("string")))
      .withColumn("admitted", col("reason").isNull)
  }

  /** Streaming wrapper: screen each micro-batch against the static index,
    * write flagged pairs to `path/batch_id=N`. Batch semantics inside
    * foreachBatch make the band-hit dedup a plain batch dropDuplicates —
    * no unbounded streaming state.
    */
  def nearDupScreenSink(stream: DataFrame, index: CorpusIndex, path: String,
      checkpoint: String, t: Double = 0.5)
      : org.apache.spark.sql.streaming.StreamingQuery =
    stream.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        nearDupScreen(batch, index, t).write.mode("overwrite")
          .parquet(s"$path/batch_id=$batchId")
      }
      .start()

  private lazy val log = org.slf4j.LoggerFactory.getLogger(getClass)

  /** S2/S7: keyed sink — foreachBatch writing parquet partitioned by
    * device_id (the Kinesis PartitionKey / DynamoDB key leg,
    * iot-data-stream.py:281, iot_dashboard.py:58). Exactly-once per batch via
    * overwrite-by-batch-directory.
    *
    * Every batch is audited IN the write job via QualityMetrics (Observation
    * — no second scan): per-batch row and null counts are the relational
    * form of the reference's failed-record logging per put_records call
    * (iot-data-stream.py:289-292). `onBatchAudit` receives (batchId,
    * metrics) after each batch commits; by default the metrics are logged.
    */
  def keyedParquetSink(readings: DataFrame, path: String,
      checkpoint: String, auditCols: Seq[String] = Nil,
      onBatchAudit: (Long, Map[String, Long]) => Unit = null)
      : org.apache.spark.sql.streaming.StreamingQuery =
    readings.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val (audited, metrics) = graft.operators.QualityMetrics.audit(
          batch, s"keyed_sink_b$batchId", auditCols)
        audited.write.mode("overwrite")
          .partitionBy("device_id")
          .parquet(s"$path/batch_id=$batchId")
        val m = metrics()
        log.info(s"keyedParquetSink batch=$batchId metrics=$m")
        if (onBatchAudit != null) onBatchAudit(batchId, m)
      }
      .start()

  /** Batch-id subdirectories of a state dir (names `batch_id=N`). */
  /** List the committed `batch_id=N` generations under `path`, HEALING any
    * crashed maintenance first so readers never see a torn compaction:
    * (a) a `batch_id=N.old` left by a kill mid-FileSwap is renamed back
    * when its target is missing (and swept when it is not); (b) a
    * `_folded` manifest inside a generation means that generation already
    * holds the union of the listed older generations — finish their
    * interrupted deletion, else the union read would double-count every
    * folded row (fatal to the token-intersection Jaccard counts). Names
    * whose suffix is not a valid Long (the swap tmp namespace) are
    * skipped, never parsed.
    */
  private def stateBatchIds(s: SparkSession, path: String): Seq[Long] = {
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(s.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) return Nil
    def names() = fs.listStatus(p).toSeq.map(_.getPath.getName)
    names().filter(_.endsWith(".old")).foreach { n =>
      val target = new org.apache.hadoop.fs.Path(p, n.stripSuffix(".old"))
      val aside = new org.apache.hadoop.fs.Path(p, n)
      if (!fs.exists(target)) fs.rename(aside, target)
      else fs.delete(aside, true)
    }
    def gens() = names()
      .filter(_.startsWith("batch_id="))
      .flatMap(n => n.stripPrefix("batch_id=").toLongOption)
    gens().foreach { g =>
      val marker = new org.apache.hadoop.fs.Path(p, s"batch_id=$g/_folded")
      if (fs.exists(marker)) {
        val len = fs.getFileStatus(marker).getLen.toInt
        val buf = new Array[Byte](len)
        val in = fs.open(marker)
        try in.readFully(0, buf) finally in.close()
        new String(buf, "UTF-8").split("\\s+").filter(_.nonEmpty)
          .map(_.toLong).filter(_ != g)
          .foreach(b => fs.delete(
            new org.apache.hadoop.fs.Path(p, s"batch_id=$b"), true))
        fs.delete(marker, false)
      }
    }
    gens()
  }

  /** Read the union of a batch-partitioned state dir's generations
    * STRICTLY BEFORE `batchId` — the retry-idempotence contract: a
    * replayed batch never sees its own (or any later) failed attempt's
    * writes, because each batch commits to its own `batch_id=N` directory
    * with overwrite. Empty frame with `schema` when nothing precedes.
    */
  private def readStateBefore(s: SparkSession, path: String,
      schema: org.apache.spark.sql.types.StructType,
      batchId: Long): DataFrame = {
    val prior = stateBatchIds(s, path).filter(_ < batchId)
    if (prior.isEmpty)
      s.createDataFrame(s.sparkContext
        .emptyRDD[org.apache.spark.sql.Row], schema)
    else s.read.schema(schema)
      .parquet(prior.map(b => s"$path/batch_id=$b"): _*)
  }

  /** Read the LATEST snapshot generation strictly before `batchId` from a
    * snapshot-per-batch state dir (the member->rep map), or empty.
    */
  private def readSnapshotBefore(s: SparkSession, path: String,
      schema: org.apache.spark.sql.types.StructType,
      batchId: Long): DataFrame = {
    val prior = stateBatchIds(s, path).filter(_ < batchId)
    if (prior.isEmpty)
      s.createDataFrame(s.sparkContext
        .emptyRDD[org.apache.spark.sql.Row], schema)
    else s.read.schema(schema).parquet(s"$path/batch_id=${prior.max}")
  }

  /** COMPOSED streaming curation pipeline — the streaming twin of the batch
    * funnel (`x4_pipeline_funnel` + the `x4_funnel_containment` stage), all
    * gates as ONE StreamingQuery over `(doc_id, text)` rows:
    *
    *   quality gate  -> exact dedup  -> near-dup dedup -> containment gate
    *   (stateless)      (digest set)    (token index + cluster map)
    *
    * The containment gate (stage 3.5) applies the batch twin's
    * [[graft.queries.Llm.curationContainmentRejects]] rule: a would-be
    * survivor ≥90%-covered by a keeper AT LEAST 2× its size — a snippet of
    * a corpus doc; the 2× guard structurally excludes near-dup pairs — is
    * rejected instead of admitted (`rejected_containment`), and a PRIOR
    * survivor newly covered by a 2×-larger incoming keeper is tombstoned
    * (`retracted_containment`). The
    * rule is per-pair and time-stable (containers are ALL keepers, which
    * only accumulate), so streaming decisions are monotone and match the
    * batch funnel on every prefix. Candidates ride the near-dup stage's
    * own inverted-token join (one extra filter pass, no new join); the
    * containment-rejected registry (`_state/crej`) is the fourth state
    * family, log-structured like the digest registry.
    *
    * Per batch the body builds few, stable physical plans — one eager
    * checkpoint per stage, batch-bounded join sides broadcast — so their
    * generated classes stay in Spark's 100-entry codegen cache from one
    * batch to the next instead of recompiling every batch (StreamingSpec
    * pins the compilations and jobs per steady batch; SCALING.md has the
    * measurements).
    *
    * Stage contracts are the FUNNEL'S OWN, not re-implementations: the
    * quality gate is [[graft.queries.Llm.qualityPredicate]] (the shared
    * Column), exact dedup keeps the min-doc_id keeper per md5(text) digest
    * against a cumulative digest registry, and near-dup runs ONE connected-
    * components step per batch — the funnel's own clustering operator
    * ([[graft.operators.ConnectedComponents]]) over the batch's keepers
    * plus every existing cluster a keeper touches (token-set Jaccard >= t
    * against ANY prior keeper, matched through the member->rep map). By
    * induction the per-batch CC over contracted prior clusters equals the
    * funnel's CC over the whole prefix graph — INCLUDING chains through
    * dropped members and merges OF existing clusters. A merge demotes
    * every absorbed representative: since an append-only stream cannot
    * un-admit it, the batch emits a `retracted_near_dup` TOMBSTONE row for
    * it (the standard compaction/tombstone reconciliation of streaming
    * dedup stores), so current survivors = admitted − retracted, exactly.
    *
    * State is parquet-backed under `path/_state`: the digest registry
    * (16-byte keys — at 100 TB the same GB-scale digest shuffle as
    * x1_dedup_exact; on a cluster a compacted keyed store), the keepers'
    * token inversion (w -> member) for the candidate join (grows by
    * distinct texts — the post-exact-dedup corpus), and the member->rep
    * cluster map (one row per keeper, rewritten as a snapshot per batch —
    * rep-level, small; the object-store analog is a compacted changelog).
    * Candidate generation via the shared-token inverted join is the
    * funnel's own sub-quadratic prefix shape; the scale path swaps in the
    * banded MinHash index ([[corpusIndex]]/[[nearDupScreen]]) with
    * identical verify semantics. State is RETRY-IDEMPOTENT the
    * way a log-structured store is: every batch commits each state family
    * to its own `batch_id=N` generation with overwrite, and a batch reads
    * only generations strictly BEFORE itself — so a replayed batch (crash
    * after a state write, before the epoch commit) recomputes from exactly
    * the pre-batch state instead of anti-joining away its own failed
    * attempt's digests. The member->rep map reads the latest prior
    * snapshot; superseded generations are reclaimable like Snapshot's
    * vacuum.
    *
    * Decision parity with the batch funnel (pinned in StreamingSpec): at
    * EVERY batch, the cumulative survivor sets of all three gates equal
    * `curationStages` run on the prefix of rows seen so far — exactly, for
    * any similarity topology (chains, merges) — provided doc_ids arrive in
    * increasing order across batches (so first-seen == min-id).
    *
    * Per batch, `path/decisions/batch_id=N` receives one (doc_id, outcome)
    * row per input doc — admitted | rejected_quality | rejected_exact_dup |
    * rejected_near_dup | rejected_containment — plus a retracted_near_dup
    * row per demoted earlier rep and a retracted_containment row per prior
    * survivor newly covered by a larger keeper; exactly-once via
    * overwrite-by-batch-directory. Survivors = admitted − retracted_*.
    */
  def curationPipelineSink(stream: DataFrame, path: String,
      checkpoint: String, t: Double = 0.9,
      // containment stage threshold, integer num/den like the batch twin
      cNum: Int = 9, cDen: Int = 10,
      // test seam: invoked after each durable write of a batch —
      // ("digests" | "toks" | "memrep" | "crej" | "decisions") — the
      // injection points for the kill-mid-batch recovery golden in StreamingSpec
      onBatchProgress: (Long, String) => Unit = (_, _) => ())
      : org.apache.spark.sql.streaming.StreamingQuery = {
    import org.apache.spark.sql.types._
    val digestSchema = StructType(Seq(StructField("h", StringType)))
    val tokSchema = StructType(Seq(StructField("member_id", LongType),
      StructField("nb", LongType), StructField("w", StringType)))
    val repSchema = StructType(Seq(StructField("member_id", LongType),
      StructField("rep_id", LongType)))
    val crejSchema = StructType(Seq(StructField("doc_id", LongType)))
    stream.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val s = batch.sparkSession
        val TF = graft.functions.TextFunctions
        // the batch-scoped localCheckpoints are released in the finally
        // below even when the batch DIES mid-write (the crash-injection
        // tests keep the JVM alive, and a real foreachBatch failure is
        // retried in-process by the stream runner before the query fails) —
        // a crashed attempt must not pin executor memory for frames no one
        // can reach (see releaseLocalCheckpoint)
        val checkpointed = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
        // Every eager action is labelled with its sink stage, so traced
        // spans and the Spark UI attribute a batch's jobs to it. Stage
        // frames are EAGER localCheckpoints: every state read names its
        // `batch_id<N` generations explicitly, so this batch's writes to
        // `batch_id=N` can never change what a read returns (recacheByPath
        // only refreshes cached relations rooted under the written path,
        // and none is) — the checkpoints are kept because they are the
        // fastest plan: a lazy persist in their place measured 30–40%
        // slower batches and ~30% more retained heap (4-vCPU host).
        // A checkpoint reports no size, so joins broadcast their
        // batch-bounded side explicitly and batch-bounded distincts run in
        // one partition: without that the planner shuffles (and sorts) both
        // sides, and each extra stage is another job and generated class.
        def cp(stage: String)(df: => DataFrame): DataFrame = {
          val c = graft.Caches.labeled(s, s"curation:$stage")(
            df.localCheckpoint(true))
          checkpointed += c; c
        }
        def write(family: String, dir: String)(df: DataFrame): Unit = {
          graft.Caches.labeled(s, s"curation:w:$family")(
            df.write.mode("overwrite").parquet(s"$path/$dir/batch_id=$batchId"))
          onBatchProgress(batchId, family)
        }
        try {
        val in = cp("in")(batch.select("doc_id", "text"))
        // stages 1+2: quality — the funnel's own predicate — then exact
        // dedup: the min-id keeper per text (the funnel groups by its md5
        // digest; every text in a digest group is the same text), anti-
        // joined against the cumulative digest registry. A keeper carries
        // its token set, the only part of the text later stages read.
        val seen = readStateBefore(s, s"$path/_state/digests", digestSchema, batchId)
        val keepers = cp("keepers")(in.filter(graft.queries.Llm.qualityPredicate)
          .groupBy("text").agg(min("doc_id").as("doc_id"))
          .withColumn("h", md5(col("text")))
          .join(seen, Seq("h"), "left_anti")
          .select(col("doc_id"), col("h"), TF.tokenSet(col("text")).as("ws")))
        // stage 3: near-dup and containment share ONE tagged inverted-token
        // join — each batch keeper (a, na) against the prior keepers' tokens
        // (cur = false) and the batch's own (cur = true; a < b keeps each
        // in-batch pair once). A hit is a Jaccard >= t edge or a snippet
        // pair; nothing else leaves the join.
        val batchToks = keepers.select(col("doc_id"),
          size(col("ws")).cast("long").as("n"), explode(col("ws")).as("w"))
        val stateToks = readStateBefore(s, s"$path/_state/toks", tokSchema, batchId)
        val memRep = readSnapshotBefore(s, s"$path/_state/memrep", repSchema, batchId)
        val (na, nb, i) = (col("na"), col("nb"), col("i"))
        val near = i.cast("double") / (na + nb - i).cast("double") >= t
        // stage 3.5's SNIPPET rule — the batch twin's
        // Llm.curationContainmentRejects: coverage >= cNum/cDen of the
        // smaller set by a container AT LEAST 2x its size (the 2x guard
        // structurally excludes near-dup pairs and chain-mates — see the
        // batch twin's scaladoc)
        val snippet = least(na, nb) * 2 <= greatest(na, nb) &&
          i * cDen >= least(na, nb) * cNum
        val hits = cp("hits")(broadcast(batchToks.toDF("a", "na", "w"))
          .join(stateToks.select(col("member_id").as("b"), nb, col("w"),
              lit(false).as("cur"))
            .union(batchToks.select(col("doc_id").as("b"), col("n").as("nb"),
              col("w"), lit(true).as("cur"))), "w")
          .filter(!col("cur") || col("a") < col("b"))
          .groupBy("a", "na", "b", "nb", "cur").agg(count(lit(1)).as("i"))
          .filter(near || snippet)
          // a near-dup edge's target: the in-batch keeper itself, or a prior
          // keeper's cluster rep (prior clusters are contracted to one node)
          .join(memRep, col("b") === col("member_id") && !col("cur"), "left")
          .select(col("a"), na, col("b"), nb, col("cur"), i,
            when(near, when(col("cur"), col("b")).otherwise(col("rep_id"))).as("rep")))
        // the contained doc is the smaller side; isNew = it is this batch's.
        // Containers are ALL keepers, a per-pair time-stable predicate, so
        // the stream applies it monotonically: later batches only ADD
        // rejections and retractions.
        val contained = cp("contained")(hits.filter(snippet)
          .select(when(na < nb, col("a")).otherwise(col("b")).as("doc_id"),
            (col("cur") || na < nb).as("isNew"))
          .coalesce(1).distinct())
        val edges = hits.filter(col("rep").isNotNull)
          .select(col("a").as("src"), col("rep").as("dst"))
        // contracted-graph CC: component label = min id = the funnel's
        // representative; `kept` marks this batch's keepers
        val comp = cp("cc")(graft.operators.ConnectedComponents(
            keepers.select(col("doc_id").as("id"))
              .union(edges.select(col("dst").as("id"))).coalesce(1).distinct(),
            edges)
          .join(broadcast(keepers.select(col("doc_id").as("id"), lit(true).as("kept"))),
            Seq("id"), "left")
          .select(col("id"), col("component"), col("kept").isNotNull.as("kept")))
        // stage 4: extend state — ALL new keeper digests + token rows
        // (cluster membership must stay matchable through dropped members),
        // and the member->rep snapshot remapped through this batch's CC
        write("digests", "_state/digests")(keepers.select("h"))
        write("toks", "_state/toks")(batchToks.select(col("doc_id").as("member_id"),
          col("n").as("nb"), col("w")))
        val remapped = cp("remapped")(memRep
          .join(broadcast(comp.select(col("id").as("rep_id"), col("component").as("newrep"))),
            Seq("rep_id"), "left")
          .select(col("member_id"), coalesce(col("newrep"), col("rep_id")).as("rep_id"))
          .union(comp.filter(col("kept"))
            .select(col("id").as("member_id"), col("component").as("rep_id"))))
        write("memrep", "_state/memrep")(remapped)
        // decisions: one row per input doc — a keeper's verdict from CC and
        // the containment gate (CC non-reps keep rejected_near_dup: stage
        // order) — plus two tombstone sets, since appended admissions
        // cannot be unwritten: a prior rep absorbed into a lower-id
        // component is DEMOTED (retracted_near_dup), and a prior doc newly
        // contained in a 2x-larger keeper that is STILL a survivor (its own
        // rep after this batch's CC, not containment-rejected before) is
        // retracted_containment
        val verdict = comp.filter(col("kept"))
          .join(broadcast(contained.filter(col("isNew")).select(col("doc_id").as("id"),
            lit(true).as("cj"))), Seq("id"), "left")
          .select(col("id").as("doc_id"),
            when(col("id") =!= col("component"), "rejected_near_dup")
              .when(col("cj").isNotNull, "rejected_containment")
              .otherwise("admitted").as("v"))
        val out = cp("out")(in.join(broadcast(verdict), Seq("doc_id"), "left")
          .select(col("doc_id"),
            when(col("v").isNotNull, col("v"))
              .when(graft.queries.Llm.qualityPredicate, "rejected_exact_dup")
              .otherwise("rejected_quality").as("outcome"))
          .union(comp.filter(!col("kept") && col("id") =!= col("component"))
            .select(col("id").as("doc_id"), lit("retracted_near_dup")))
          .union(broadcast(contained.filter(!col("isNew")))
            .join(remapped.filter(col("member_id") === col("rep_id"))
              .select(col("member_id").as("doc_id")), "doc_id")
            .join(readStateBefore(s, s"$path/_state/crej", crejSchema, batchId),
              Seq("doc_id"), "left_anti")
            .select(col("doc_id"), lit("retracted_containment"))))
        // the containment-rejected registry (this batch's rejections +
        // retractions) — the state later batches consult so a doc is
        // tombstoned at most once and never counted a survivor again
        write("crej", "_state/crej")(out.filter(col("outcome")
          .isin("rejected_containment", "retracted_containment")).select("doc_id"))
        write("decisions", "decisions")(out)
        } finally {
          checkpointed.foreach(releaseLocalCheckpoint)
          graft.Caches.drain(s) // operators' query-local persists
        }
      }
      .start()
  }

  /** Compact the curation pipeline's log-structured state: fold every
    * committed `batch_id=N` generation of the digest registry and token
    * inversion into one base generation (keeping the highest folded id, so
    * "read strictly before batch B" sees identical content), and drop the
    * member->rep snapshots superseded by the latest. Run BETWEEN batches
    * (stop the query or call from a maintenance window) — after
    * compaction, only batches newer than the fold can replay, which is
    * exactly the committed-epoch guarantee foreachBatch already gives.
    * The 100 TB analog is the keyed-store compaction the scaladoc above
    * promises; returns the number of generations folded.
    */
  /** Fold every committed `batch_id=N` generation of one state directory
    * into the highest id, crash-safely: write the (optionally
    * `transform`ed) union to a staging dir OUTSIDE the listing namespace,
    * attach a `_folded` manifest naming the superseded generations, SWAP
    * FIRST (originals still on disk), DELETE AFTER — a crash at any point
    * leaves either the originals intact or the manifest for
    * [[stateBatchIds]] to finish the deletion from, never a lost (or
    * double-counted) state read. `transform` must preserve the dir's read
    * semantics (e.g. latest-op-per-key dedup for a change log whose
    * readers only consume the latest op per key). Returns the number of
    * generations folded (0 when there is nothing to do).
    */
  private def foldStateDir(s: SparkSession, dir: String,
      schema: org.apache.spark.sql.types.StructType,
      transform: DataFrame => DataFrame = identity): Int = {
    val all = stateBatchIds(s, dir).sorted // also heals a prior crash
    // the HIGHEST generation is written mid-batch, before the checkpoint
    // commit — after a mid-batch crash it belongs to a batch that will be
    // REPLAYED, and folding everything into it would let the replay's
    // strictly-before read skip the entire fold target and rebuild from
    // the bare seed. Fold only the committed prefix; leave the top alone.
    val gens = all.dropRight(1)
    if (gens.length <= 1) 0
    else {
      val top = gens.max
      val merged = transform(s.read.schema(schema)
        .parquet(gens.map(b => s"$dir/batch_id=$b"): _*))
        .localCheckpoint(true) // sever lineage before rewriting sources
      def rm(f: java.io.File): Unit = {
        Option(f.listFiles()).foreach(_.foreach(rm)); f.delete()
      }
      // stage OUTSIDE the batch_id= listing namespace — a crashed
      // attempt can never be parsed as (or shadow) a generation
      val tmp = new java.io.File(dir, ".compact-tmp")
      if (tmp.exists()) rm(tmp)
      merged.coalesce(1).write.mode("overwrite").parquet(tmp.getPath)
      java.nio.file.Files.write(
        new java.io.File(tmp, "_folded").toPath,
        gens.filter(_ != top).mkString("", "\n", "\n").getBytes("UTF-8"))
      graft.sources.FileSwap.replace(
        new java.io.File(s"$dir/batch_id=$top"), tmp)
      gens.filter(_ != top)
        .foreach(b => rm(new java.io.File(s"$dir/batch_id=$b")))
      new java.io.File(s"$dir/batch_id=$top", "_folded").delete()
      releaseLocalCheckpoint(merged) // fold done — blocks are dead weight
      gens.length
    }
  }

  /** Compact the live vector store's change log: fold all committed ops
    * generations into one, keeping only the LATEST surviving operation
    * per key (latest batch wins, put beats delete within a batch — the
    * exact precedence [[replayLiveOps]] reads with, so a restart folds
    * identical membership from the compacted log; delete tombstones are
    * kept because the seed may still hold those keys). Run between
    * batches, like [[curationStateCompact]]. Returns generations folded.
    */
  def liveStoreCompact(s: SparkSession, path: String): Int = {
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(StructField("b", LongType),
      StructField("op", StringType), StructField("doc_id", LongType),
      StructField("v", ArrayType(DoubleType))))
    foldStateDir(s, s"$path/_state/ops", schema, df =>
      df.groupBy("doc_id")
        .agg(max_by(struct(col("b"), col("op"), col("v")),
          struct(col("b"), (col("op") === "put").cast("int"))).as("last"))
        .select(col("last.b").as("b"), col("last.op").as("op"),
          col("doc_id"), col("last.v").as("v")))
  }

  def curationStateCompact(s: SparkSession, path: String): Int = {
    import org.apache.spark.sql.types._
    def fold(dir: String, schema: StructType): Int =
      foldStateDir(s, dir, schema)
    val digestSchema = StructType(Seq(StructField("h", StringType)))
    val tokSchema = StructType(Seq(StructField("member_id", LongType),
      StructField("nb", LongType), StructField("w", StringType)))
    val crejSchema = StructType(Seq(StructField("doc_id", LongType)))
    val folded = fold(s"$path/_state/digests", digestSchema) +
      fold(s"$path/_state/toks", tokSchema) +
      fold(s"$path/_state/crej", crejSchema)
    // member->rep is snapshot-per-batch: keep the latest COMMITTED one.
    // The newest snapshot may belong to a mid-batch crash (written before
    // checkpoint commit); a replayed batch reads strictly before it, so
    // the second-newest must survive compaction too.
    val repDir = s"$path/_state/memrep"
    val reps = stateBatchIds(s, repDir).sorted
    reps.dropRight(2).foreach { b =>
      def rm(f: java.io.File): Unit = {
        Option(f.listFiles()).foreach(_.foreach(rm)); f.delete()
      }
      rm(new java.io.File(s"$repDir/batch_id=$b"))
    }
    folded + math.max(0, reps.length - 2)
  }
}
