package graft

import graft.streaming.Streams
import graft.streaming.Streams.{DriftAlert, Flat}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import java.sql.Timestamp

/** Golden streaming tests (SURVEY.md §5.4): MemoryStream in,
  * Trigger-less processAllAvailable, memory sink out.
  */
class StreamingSpec extends AnyFunSuite {
  import SparkTestSession.spark
  import spark.implicits._

  private def ts(s: Long) = new Timestamp(1704067200000L + s * 1000)

  private def runToMemory(df: org.apache.spark.sql.DataFrame, name: String,
      mode: String = "append"): Unit = {
    val q = df.writeStream.format("memory").queryName(name).outputMode(mode).start()
    q.processAllAvailable(); q.stop()
  }

  test("stream-stream interval join attributes clicks to in-window views") {
    val views = MemoryStream[(Long, Long, Timestamp)](spark)
    val clicks = MemoryStream[(Long, Long, Timestamp)](spark)
    val v = views.toDF().toDF("view_id", "v_user", "v_ts")
    val c = clicks.toDF().toDF("click_id", "c_user", "c_ts")
    views.addData((1L, 10L, ts(0)), (2L, 20L, ts(0)))
    clicks.addData(
      (100L, 10L, ts(60)),   // within 5 min of view 1 -> attributed
      (101L, 10L, ts(600)),  // 10 min later -> outside window
      (102L, 30L, ts(30)))   // no view by this user
    val joined = Streams.clickAttribution(v, c)
      .select("view_id", "click_id")
    val q = joined.writeStream.format("memory").queryName("attr_out")
      .outputMode("append").start()
    q.processAllAvailable(); q.stop()
    val rows = spark.table("attr_out").as[(Long, Long)].collect().toSet
    assert(rows == Set((1L, 100L)))
  }

  test("T2 bounded run: Trigger.AvailableNow drains the source then stops") {
    import org.apache.spark.sql.streaming.Trigger
    val in = MemoryStream[(String, Timestamp, Double)](spark)
    val df = in.toDF().toDF("device_id", "timestamp", "value")
    in.addData(("d1", ts(0), 1.0), ("d2", ts(1), 2.0), ("d1", ts(2), 3.0))
    val q = df.writeStream.format("memory").queryName("avail_now_out")
      .trigger(Trigger.AvailableNow()).outputMode("append").start()
    q.awaitTermination(30000) // AvailableNow terminates by itself (--count analog)
    assert(!q.isActive, "query must self-terminate after draining")
    assert(spark.table("avail_now_out").count() == 3)
  }

  test("T4 (transformWithState): battery-drop alerts across micro-batches") {
    // transformWithState requires the RocksDB state store provider
    val key = "spark.sql.streaming.stateStore.providerClass"
    val old = spark.conf.getOption(key)
    spark.conf.set(key,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val in = MemoryStream[Flat](spark)
      val alerts = Streams.batteryDropAlerts(in.toDS(), maxDrop = 5.0)
      val q = alerts.writeStream.format("memory")
        .queryName("battery_out").outputMode("append").start()
      in.addData(Flat("d1", ts(0), 100.0), Flat("d1", ts(1), 98.0))
      q.processAllAvailable()
      in.addData(Flat("d1", ts(2), 80.0), Flat("d2", ts(2), 50.0)) // cross-batch state
      q.processAllAvailable()
      in.addData(Flat("d2", ts(3), 49.0))
      q.processAllAvailable()
      q.stop()
      val rows = spark.table("battery_out")
        .select("device_id", "value", "drop").as[(String, Double, Double)]
        .collect().toSet
      // only d1's 98 -> 80 drop exceeds 5.0; d2's first row has no previous,
      // its second drops just 1.0
      assert(rows == Set(("d1", 80.0, 18.0)))
    } finally {
      old match {
        case Some(v) => spark.conf.set(key, v)
        case None => spark.conf.unset(key)
      }
    }
  }

  test("stream-static enrichment broadcasts the dim and keeps unknown keys") {
    val in = MemoryStream[(String, String, Double)](spark)
    val df = in.toDF().toDF("device_id", "location_id", "value")
    val dim = Seq(("warehouse_a", "Warehouse A", 40.7128),
      ("factory_1", "Factory One", 41.8781))
      .toDF("location_id", "location_name", "lat")
    in.addData(("d1", "warehouse_a", 1.0), ("d2", "mystery", 2.0))
    runToMemory(Streams.enriched(df, dim), "enrich_out")
    val rows = spark.table("enrich_out")
      .select("device_id", "location_name").as[(String, Option[String])]
      .collect().toMap
    assert(rows("d1").contains("Warehouse A"))
    assert(rows("d2").isEmpty) // unknown location passes through as null
  }

  test("T5 dedup: duplicate (device, ts) rows collapse to one") {
    val in = MemoryStream[(String, Timestamp, Double)](spark)
    val df = in.toDF().toDF("device_id", "timestamp", "value")
    in.addData(("d1", ts(0), 1.0), ("d1", ts(0), 1.0), ("d1", ts(1), 2.0),
      ("d2", ts(0), 3.0))
    runToMemory(Streams.deduped(df), "dedup_out")
    val rows = spark.table("dedup_out").collect()
    assert(rows.length == 3)
  }

  test("T6 windowed status counts aggregate by tumbling minute") {
    val in = MemoryStream[(String, Timestamp, String)](spark)
    val df = in.toDF().toDF("device_id", "timestamp", "status")
    in.addData(
      ("d1", ts(0), "operational"), ("d2", ts(10), "operational"),
      ("d1", ts(30), "error"), ("d1", ts(70), "operational"))
    val q = Streams.windowedStatusCounts(df, "1 minute", "0 seconds")
    runToMemory(q, "win_out", mode = "complete")
    val rows = spark.table("win_out")
      .select("window_start", "status", "n").as[(Timestamp, String, Long)]
      .collect().toSet
    assert(rows == Set(
      (ts(0), "operational", 2L), (ts(0), "error", 1L), (ts(60), "operational", 1L)))
  }

  test("T6 sliding distinct users matches the batch window computation") {
    // 4-second windows sliding by 1 s; u1 at 0 s and 2 s must count ONCE in
    // every window covering both (the distinct), twice nowhere; golden
    // cross-check: the same rows through the identical batch expression
    val in = MemoryStream[(Long, Timestamp)](spark)
    val df = in.toDF().toDF("user_id", "ts")
    val data = Seq((1L, ts(0)), (1L, ts(2)), (2L, ts(1)), (3L, ts(5)))
    in.addData(data: _*)
    val q = Streams.slidingDau(df, "4 seconds", "1 second", "0 seconds")
    runToMemory(q, "sdau_out", mode = "complete")
    val got = spark.table("sdau_out")
      .select("window_start", "wau").as[(Timestamp, Long)].collect().toSet
    val expected = data.toDF("user_id", "ts")
      .select(org.apache.spark.sql.functions.window(
        org.apache.spark.sql.functions.col("ts"), "4 seconds", "1 second").as("w"),
        org.apache.spark.sql.functions.col("user_id"))
      .distinct()
      .groupBy("w").count()
      .select("w.start", "count").as[(Timestamp, Long)].collect().toSet
    assert(got.nonEmpty && got == expected)
    // spot-check one window: [ts(-1), ts(3)) covers u1 (twice), u2 -> wau 2
    assert(got.contains((ts(-1), 2L)))
  }

  test("T5 session windows split on the inactivity gap") {
    val in2 = MemoryStream[(String, Timestamp)](spark)
    val df2 = in2.toDF().toDF("device_id", "timestamp")
    in2.addData(("d1", ts(0)), ("d1", ts(10)), ("d1", ts(100)), ("d2", ts(5)))
    val q = Streams.deviceSessions(df2, "30 seconds", "0 seconds")
    runToMemory(q, "sess_out", mode = "complete")
    val rows = spark.table("sess_out")
      .select("device_id", "n_readings").as[(String, Long)].collect().toSeq
      .groupBy(_._1).view.mapValues(_.map(_._2).sorted).toMap
    assert(rows("d1") == Seq(1L, 2L)) // [0,10] one session, [100] another
    assert(rows("d2") == Seq(1L))
  }

  test("T4 stateful drift alerts match the batch lag-window oracle, across batches") {
    val in = MemoryStream[Flat](spark)
    val alerts = Streams.driftAlerts(in.toDS(), maxDelta = 5.0)
    val q = alerts.writeStream.format("memory").queryName("drift_out")
      .outputMode("append").start()
    // batch 1: d1 drifts gently then jumps; d2 steady
    in.addData(Flat("d1", ts(0), 10.0), Flat("d1", ts(1), 12.0), Flat("d1", ts(2), 25.0))
    in.addData(Flat("d2", ts(0), 1.0), Flat("d2", ts(1), 2.0))
    q.processAllAvailable()
    // batch 2: state carries across the batch boundary — d1 jumps again
    in.addData(Flat("d1", ts(3), 5.0))
    q.processAllAvailable()
    q.stop()
    val got = spark.table("drift_out").as[DriftAlert].collect()
      .map(a => (a.device_id, a.ts.getTime, a.delta)).toSet

    // batch oracle: same predicate via lag() over the full history
    val hist = Seq(
      Flat("d1", ts(0), 10.0), Flat("d1", ts(1), 12.0), Flat("d1", ts(2), 25.0),
      Flat("d2", ts(0), 1.0), Flat("d2", ts(1), 2.0), Flat("d1", ts(3), 5.0)).toDS()
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("device_id").orderBy("ts")
    val expected = hist
      .withColumn("prev", lag("value", 1).over(w))
      .withColumn("delta", col("value") - col("prev"))
      .filter(abs(col("delta")) > 5.0)
      .select("device_id", "ts", "delta")
      .collect().map(r => (r.getString(0), r.getTimestamp(1).getTime, r.getDouble(2)))
      .toSet
    assert(got == expected)
    assert(got.nonEmpty)
  }

  test("S2/S7 keyed parquet sink partitions by device_id via foreachBatch") {
    val dir = java.nio.file.Files.createTempDirectory("graft_sink").toString
    val in = MemoryStream[(String, Timestamp, Double)](spark)
    val df = in.toDF().toDF("device_id", "timestamp", "value")
    in.addData(("d1", ts(0), 1.0), ("d2", ts(1), 2.0), ("d1", ts(2), 3.0))
    val q = Streams.keyedParquetSink(df, s"$dir/data", s"$dir/ckpt")
    q.processAllAvailable(); q.stop()
    val written = spark.read.parquet(s"$dir/data/batch_id=0")
    assert(written.count() == 3)
    // physical layout keyed by device_id (the Kinesis PartitionKey analog)
    val parts = new java.io.File(s"$dir/data/batch_id=0").listFiles()
      .filter(_.isDirectory).map(_.getName).toSet
    assert(parts == Set("device_id=d1", "device_id=d2"))
  }

  test("checkpoint restart: crash after sink write, before offset commit — exactly once") {
    // The failure window the overwrite-by-batch-directory contract defends:
    // foreachBatch wrote batch N's parquet, then the process died before the
    // commit log recorded N. On restart Structured Streaming replays batch N
    // with the SAME batch id and the sink overwrites the same directory —
    // no duplicate rows, no gap. (annLookupSink and nearDupScreenSink share
    // this exact foreachBatch body shape, so the contract proven here is
    // theirs too.) The crash is injected deterministically via onBatchAudit,
    // which keyedParquetSink invokes AFTER the batch parquet write.
    val root = java.nio.file.Files.createTempDirectory("graft_restart").toString
    val srcDir = s"$root/src"; val sinkDir = s"$root/data"; val ck = s"$root/ckpt"
    def addFile(n: Int, rows: Seq[(String, Long, Double)]): Unit =
      rows.toDF("device_id", "ts", "value").coalesce(1)
        .write.mode("overwrite").parquet(s"$srcDir/f$n")
    addFile(0, Seq(("d1", 0L, 1.0), ("d2", 1L, 2.0)))
    addFile(1, Seq(("d1", 2L, 3.0), ("d3", 3L, 4.0)))
    addFile(2, Seq(("d2", 4L, 5.0)))
    val schema = new org.apache.spark.sql.types.StructType()
      .add("device_id", "string").add("ts", "long").add("value", "double")
    def source() = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", 1)      // one source file per micro-batch
      .parquet(s"$srcDir/f*")
    val crash = new java.util.concurrent.atomic.AtomicBoolean(true)
    val q1 = Streams.keyedParquetSink(source(), sinkDir, ck,
      onBatchAudit = (bid, _) =>
        if (bid == 1 && crash.get)
          throw new RuntimeException("injected crash post-write, pre-commit"))
    val died = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      q1.processAllAvailable()
    }
    assert(died.getMessage.contains("injected crash"))
    q1.stop()
    // batch 1's data reached the sink before the "crash" — the dangerous state
    assert(new java.io.File(s"$sinkDir/batch_id=1").exists())
    // restart from the same checkpoint, with one MORE source file pending
    crash.set(false)
    addFile(3, Seq(("d3", 5L, 6.0)))
    val q2 = Streams.keyedParquetSink(source(), sinkDir, ck)
    q2.processAllAvailable(); q2.stop()
    // exactly-once: every source row exactly once, batch 1 not duplicated
    val got = spark.read.parquet(sinkDir)
      .select("device_id", "ts", "value").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDouble(2))).sorted.toSeq
    val expect = Seq(("d1", 0L, 1.0), ("d2", 1L, 2.0), ("d1", 2L, 3.0),
      ("d3", 3L, 4.0), ("d2", 4L, 5.0), ("d3", 5L, 6.0)).sorted
    assert(got == expect, s"sink rows after restart: $got")
    // and the replayed batch kept its id (same directory, overwritten)
    val batchDirs = new java.io.File(sinkDir).listFiles()
      .filter(_.isDirectory).map(_.getName).toSet
    assert(batchDirs.contains("batch_id=1"))
  }

  test("S1 generatorStream is bit-identical to the batch generator, across micro-batches") {
    import graft.streaming.Streams.GenTick
    val nDevices = 5; val ticks = 20
    val in = MemoryStream[GenTick](spark)
    val q = graft.streaming.Streams.generatorStream(in.toDS())
      .writeStream.format("memory").queryName("gen_stream_out")
      .outputMode("append").start()
    // ticks arrive over THREE micro-batches — drift/battery state must carry
    val all = for (t <- 0 until ticks; d <- 0 until nDevices)
      yield GenTick(d.toLong, t.toLong)
    val (b1, rest) = all.splitAt(all.length / 3)
    val (b2, b3) = rest.splitAt(rest.length / 2)
    in.addData(b1); q.processAllAvailable()
    in.addData(b2); q.processAllAvailable()
    in.addData(b3); q.processAllAvailable()
    q.stop()
    import graft.model.Reading
    def key(flat: org.apache.spark.sql.DataFrame) =
      flat.collect().map(_.toString).sorted.toSeq
    val streamed = graft.gen.Generator.flatten(
      spark.table("gen_stream_out").as[Reading])
    val batch = graft.gen.Generator.flatten(
      graft.gen.Generator.readings(spark, nDevices, ticks))
    assert(streamed.count() == batch.count())
    assert(key(streamed) == key(batch),
      "streamed generator output must equal the batch generator row for row")
    // and the full reference semantics show up in the stream: per-device
    // sensor subsets (4-6), weighted status, some skipped (2%) ticks allowed
    val perDev = spark.table("gen_stream_out").as[Reading].collect()
      .groupBy(_.device_id)
    assert(perDev.size == nDevices)
    perDev.values.foreach { rs =>
      val sensorSets = rs.map(_.readings.keySet).distinct
      assert(sensorSets.size == 1 && sensorSets.head.size >= 4 && sensorSets.head.size <= 6)
    }
  }

  test("S2 keyedParquetSink audits every batch in the write job (rows + nulls)") {
    val dir = java.nio.file.Files.createTempDirectory("graft_sink_audit").toString
    val in = MemoryStream[(String, Timestamp, Option[Double])](spark)
    val df = in.toDF().toDF("device_id", "timestamp", "value")
    val seen = scala.collection.mutable.Map[Long, Map[String, Long]]()
    val q = graft.streaming.Streams.keyedParquetSink(
      df, s"$dir/data", s"$dir/ckpt", auditCols = Seq("value"),
      onBatchAudit = (b, m) => seen.synchronized { seen(b) = m })
    in.addData(("d1", ts(0), Some(1.0)), ("d2", ts(1), None))
    q.processAllAvailable()
    in.addData(("d1", ts(2), Some(3.0)))
    q.processAllAvailable()
    q.stop()
    assert(seen(0L) == Map("rows" -> 2L, "nulls_value" -> 1L), s"got $seen")
    assert(seen(1L) == Map("rows" -> 1L, "nulls_value" -> 0L), s"got $seen")
  }

  test("streaming near-dup screen flags dups against the static corpus, admits novel docs") {
    import graft.streaming.Streams
    val corpus = Seq(
      (100L, "the quick brown fox jumps over the lazy dog again and again today"),
      (101L, "spark shuffles partition data across executors during wide transformations"))
      .toDF("doc_id", "text")
    val index = Streams.corpusIndex(corpus)
    val dir = java.nio.file.Files.createTempDirectory("graft_screen").toString
    val in = MemoryStream[(Long, String)](spark)
    val stream = in.toDF().toDF("doc_id", "text")
    val q = Streams.nearDupScreenSink(stream, index, s"$dir/out", s"$dir/ckpt")
    in.addData(
      // near-dup of corpus doc 100 (one word changed)
      (1L, "the quick brown fox jumps over the lazy dog again and again tonight"),
      // novel document
      (2L, "completely unrelated text about cooking pasta with garlic and olive oil"))
    q.processAllAvailable(); q.stop()
    index.release()
    val flagged = spark.read.parquet(s"$dir/out/batch_id=0")
      .select("doc_id", "dup_of").as[(Long, Long)].collect().toSet
    assert(flagged == Set((1L, 100L)),
      s"expected only the planted near-dup flagged, got $flagged")
  }

  test("streaming containment screen flags covered docs with their best container, admits novel docs") {
    import graft.streaming.Streams
    // corpus: a large doc (40 distinct words), a mid doc (35), a small doc
    // (12) — three strata, so snippets exercise the cross-strata probe tier
    val w = (0 until 60).map(i => s"word$i")
    val u = (0 until 15).map(i => s"uniq$i")
    val corpus = Seq(
      (100L, w.slice(0, 40).mkString(" ")),
      (101L, w.slice(20, 55).mkString(" ")),
      (102L, w.slice(48, 60).mkString(" ")),
      (103L, u.mkString(" ")))
      .toDF("doc_id", "text")
    val cachedBefore = spark.sparkContext.getPersistentRDDs.size
    val index = Streams.containmentIndex(corpus)
    val dir = java.nio.file.Files.createTempDirectory("graft_cscreen").toString
    val in = MemoryStream[(Long, String)](spark)
    val q = Streams.containmentScreenSink(
      in.toDF().toDF("doc_id", "text"), index, s"$dir/out", s"$dir/ckpt")
    in.addData(
      // 8-word snippet of corpus doc 100 (two strata down): coverage 1.0
      (1L, w.slice(4, 12).mkString(" ")),
      // novel vocabulary: no container
      (2L, (0 until 20).map(i => s"fresh$i").mkString(" ")),
      // near-copy of 101: 33 of its 35 words + 2 novel -> coverage 33/35
      (3L, (w.slice(20, 53) ++ Seq("novelx", "novely")).mkString(" ")))
    q.processAllAvailable()
    in.addData(
      // snippet living in BOTH 100 and 101 (the 20..40 overlap): coverage
      // ties at 1.0 and the jaccard tie-break picks the tighter container
      // (101: J = 8/35 > 8/40)
      (4L, w.slice(24, 32).mkString(" ")),
      // incoming slightly LARGER than the small corpus doc, same stratum:
      // 12/13 covered
      (5L, (w.slice(48, 60) :+ "extraz").mkString(" ")),
      // boundary straddle: n=16 (stratum 4) vs corpus 103's 15 (stratum 3)
      // — only the DOWNWARD gap-1 probe can surface this candidate
      (6L, (u :+ "extraw").mkString(" ")))
    q.processAllAvailable(); q.stop()
    index.release()
    // release must free the PINNED parent frame (unpersisting a projection
    // of it would be a silent no-op and the index cache would leak)
    val deadline = System.nanoTime() + 10e9.toLong
    while (spark.sparkContext.getPersistentRDDs.size > cachedBefore &&
        System.nanoTime() < deadline) Thread.sleep(100)
    assert(spark.sparkContext.getPersistentRDDs.size <= cachedBefore,
      "containment index cache survived release()")
    val b0 = spark.read.parquet(s"$dir/out/batch_id=0")
      .select("doc_id", "contained_in", "coverage_e4", "n_containers")
      .as[(Long, Long, Long, Long)].collect().toSet
    assert(b0 == Set((1L, 100L, 10000L, 1L), (3L, 101L, 9428L, 1L)),
      s"batch 0 decisions: $b0")
    val b1 = spark.read.parquet(s"$dir/out/batch_id=1")
      .select("doc_id", "contained_in", "coverage_e4", "n_containers")
      .as[(Long, Long, Long, Long)].collect().toSet
    assert(b1 == Set((4L, 101L, 10000L, 2L), (5L, 102L, 9230L, 1L),
      (6L, 103L, 9375L, 1L)),
      s"batch 1 decisions: $b1")
  }

  test("composed curation pipeline: per-stage survivor sets match the batch " +
      "funnel at every batch") {
    import graft.streaming.Streams
    import org.apache.spark.sql.functions.col
    // the driver's documents table, fed in doc_id order over 3 micro-batches;
    // after EVERY batch the cumulative decisions must reproduce the batch
    // funnel (Llm.curationStages) run on the prefix seen so far — quality
    // survivors, exact-dedup keepers, and near-dup representatives alike
    val docs = graft.Tables.load(spark, SparkTestSession.sfDir, "documents")
      .select(col("doc_id"), col("text")).orderBy("doc_id")
      .as[(Long, String)].collect()
    assert(docs.length >= 30)
    val dir = java.nio.file.Files.createTempDirectory("graft_curation").toString
    val in = MemoryStream[(Long, String)](spark)
    val q = Streams.curationPipelineSink(
      in.toDF().toDF("doc_id", "text"), s"$dir/out", s"$dir/ckpt", t = 0.9)
    val chunks = docs.grouped((docs.length + 2) / 3).toSeq
    var seen = Vector.empty[(Long, String)]
    try {
      chunks.foreach { chunk =>
        in.addData(chunk.toSeq)
        q.processAllAvailable()
        seen ++= chunk
        // batch funnel over the prefix, containment stage included
        val prefix = seen.toDF("doc_id", "text")
        val (qual, keepers, reps) =
          graft.queries.Llm.curationStages(spark, prefix)
        val bQual = qual.select("doc_id").as[Long].collect().toSet
        val bKeep = keepers.select("doc_id").as[Long].collect().toSet
        val bReps = reps.select("doc_id").as[Long].collect().toSet
        val bRejects = graft.queries.Llm.curationContainmentRejects(keepers)
          .as[Long].collect().toSet
        val bSurv = bReps -- bRejects
        graft.Caches.drain(spark)
        // streaming decisions so far (all batch dirs written to date);
        // survivors = admitted − retracted_* (tombstones mark reps demoted
        // by a later cluster merge or covered by a later larger keeper)
        val dec = spark.read.parquet(s"$dir/out/decisions")
          .select("doc_id", "outcome").as[(Long, String)].collect()
        assert(dec.map(_._1).distinct.length == seen.length,
          "one decision per ingested doc (tombstones revisit a doc)")
        val byOutcome = dec.groupBy(_._2).map { case (k, v) =>
          k -> v.map(_._1).toSet }.withDefaultValue(Set.empty[Long])
        val sQual = byOutcome("admitted") ++ byOutcome("rejected_exact_dup") ++
          byOutcome("rejected_near_dup") ++ byOutcome("rejected_containment")
        val sKeep = byOutcome("admitted") ++ byOutcome("rejected_near_dup") ++
          byOutcome("rejected_containment")
        // CC representatives = everything past the near-dup gate (admitted
        // or containment-rejected) minus later cluster-merge demotions
        val sReps = (byOutcome("admitted") ++ byOutcome("rejected_containment")) --
          byOutcome("retracted_near_dup")
        val sSurv = byOutcome("admitted") --
          byOutcome("retracted_near_dup") -- byOutcome("retracted_containment")
        assert(sQual == bQual, "quality survivors diverged from the funnel")
        assert(sKeep == bKeep, "exact-dedup keepers diverged from the funnel")
        assert(sReps == bReps,
          "near-dup representative set diverged from the funnel's")
        assert(sSurv == bSurv,
          "survivor set (admitted − retracted_*) diverged from the funnel's " +
            "containment-gated representatives")
      }
    } finally q.stop()
  }

  test("curation pipeline containment gate: snippets are rejected at " +
      "admission, prior survivors are tombstoned when a larger container " +
      "arrives") {
    import graft.streaming.Streams
    val b1 = ("the" +: (1 to 39).map(i => s"b$i")).mkString(" ")   // 40 toks
    val snip = ("the" +: (1 to 8).map(i => s"b$i")).mkString(" ")  // 9 ⊂ b1
    val nov = ("the" +: (1 to 7).map(i => s"n$i")).mkString(" ")   // 8 novel
    val cont = ("the" +: ((1 to 7).map(i => s"n$i") ++
      (1 to 12).map(i => s"c$i"))).mkString(" ")                   // 20 ⊃ nov
    val snip2 = ("the" +: (10 to 14).map(i => s"b$i")).mkString(" ") // 6 ⊂ b1
    val dir = java.nio.file.Files.createTempDirectory("graft_cur_cont").toString
    val in = MemoryStream[(Long, String)](spark)
    val q = Streams.curationPipelineSink(
      in.toDF().toDF("doc_id", "text"), s"$dir/out", s"$dir/ckpt", t = 0.9)
    try {
      // batch 0: the big doc, a snippet of it (coverage 1.0, jaccard 9/40 —
      // PROPER containment, so it is rejected instead of admitted), and a
      // novel doc
      in.addData((1L, b1), (2L, snip), (3L, nov)); q.processAllAvailable()
      val d0 = spark.read.parquet(s"$dir/out/decisions/batch_id=0")
        .select("doc_id", "outcome").as[(Long, String)].collect().toSet
      assert(d0 == Set((1L, "admitted"), (2L, "rejected_containment"),
        (3L, "admitted")), s"batch 0: $d0")
      // batch 1: a strictly larger doc covering ALL of the novel doc's
      // tokens — the prior survivor is retracted; a second snippet of doc 1
      // is rejected cross-batch
      in.addData((4L, cont), (5L, snip2)); q.processAllAvailable()
      val d1 = spark.read.parquet(s"$dir/out/decisions/batch_id=1")
        .select("doc_id", "outcome").as[(Long, String)].collect().toSet
      assert(d1 == Set((4L, "admitted"), (5L, "rejected_containment"),
        (3L, "retracted_containment")), s"batch 1: $d1")
      // batch 2: yet another container of the novel doc must NOT tombstone
      // it twice (the crej registry suppresses the duplicate)
      val cont2 = ("the" +: ((1 to 7).map(i => s"n$i") ++
        (1 to 13).map(i => s"d$i"))).mkString(" ")
      in.addData((6L, cont2)); q.processAllAvailable()
      val d2 = spark.read.parquet(s"$dir/out/decisions/batch_id=2")
        .select("doc_id", "outcome").as[(Long, String)].collect().toSet
      assert(d2 == Set((6L, "admitted")), s"batch 2: $d2")
      // survivor fold across the run matches the batch twin's
      val all = spark.read.parquet(s"$dir/out/decisions")
        .select("doc_id", "outcome").as[(Long, String)].collect()
      val byOutcome = all.groupBy(_._2).map { case (k, v) =>
        k -> v.map(_._1).toSet }.withDefaultValue(Set.empty[Long])
      val sSurv = byOutcome("admitted") --
        byOutcome("retracted_near_dup") -- byOutcome("retracted_containment")
      assert(sSurv == Set(1L, 4L, 6L), s"survivors: $sSurv")
    } finally q.stop()
  }

  test("curation pipeline SOAK: 100 batches with periodic compaction hold " +
      "a bounded footprint, stable latency, and batch-funnel-exact survivors") {
    import graft.streaming.Streams
    import org.apache.spark.sql.functions.col
    // the full decision mix, forever: fresh docs, exact dups, near-dups,
    // snippets (containment rejects), and big containers that retract an
    // earlier survivor — so every stage's state family (digests, toks,
    // memrep, crej) grows across all 100 batches
    def fresh(i: Int): String =
      ("the" +: (1 to 19).map(k => s"w${i}_$k")).mkString(" ")
    def nearDup(i: Int): String = // 19 of i's 20 tokens + 1 novel: J = 19/21
      ("the" +: ((1 to 18).map(k => s"w${i}_$k") :+ s"nd${i}")).mkString(" ")
    def snippet(i: Int): String = // 6 of i's 20 tokens: 20 >= 2*6, cov 1.0
      ("the" +: (1 to 5).map(k => s"w${i}_$k")).mkString(" ")
    def container(i: Int): String = // all 20 of i's tokens + 25 novel: 45 >= 2*20
      ("the" +: ((1 to 19).map(k => s"w${i}_$k") ++
        (1 to 25).map(k => s"c${i}_$k"))).mkString(" ")
    val batches = 100
    val all = scala.collection.mutable.ArrayBuffer.empty[(Long, String)]
    val feeds = (0 until batches).map { i =>
      val base = 10000L + i * 10
      val rows = scala.collection.mutable.ArrayBuffer[(Long, String)](
        (base, fresh(i)))
      if (i % 5 == 4) rows += ((base + 1, fresh(i - 2)))     // exact dup
      if (i % 7 == 6) rows += ((base + 2, nearDup(i - 3)))   // near-dup
      if (i % 9 == 8) rows += ((base + 3, snippet(i - 4)))   // snippet
      if (i % 11 == 10) rows += ((base + 4, container(i - 5))) // retractor
      all ++= rows
      rows.toSeq
    }
    val dir = java.nio.file.Files.createTempDirectory("graft_cur_soak").toString
    val in = MemoryStream[(Long, String)](spark)
    val q = Streams.curationPipelineSink(
      in.toDF().toDF("doc_id", "text"), s"$dir/out", s"$dir/ckpt", t = 0.9)
    val latency = new Array[Double](batches)
    var maxPersisted = 0
    val compactEvery = 20
    try {
      (0 until batches).foreach { i =>
        val t0 = System.nanoTime()
        in.addData(feeds(i): _*)
        q.processAllAvailable()
        latency(i) = (System.nanoTime() - t0) / 1e9
        // compaction runs BETWEEN batches, like the live-store soak: the
        // committed prefix of each log-structured family folds to one
        // generation (top + post-fold batches may pile above it)
        if ((i + 1) % compactEvery == 0) {
          assert(Streams.curationStateCompact(spark, s"$dir/out") > 0,
            s"compaction after batch $i folded nothing")
          Seq("digests", "toks", "crej").foreach { fam =>
            val gens = new java.io.File(s"$dir/out/_state/$fam").listFiles()
              .count(_.getName.startsWith("batch_id="))
            assert(gens <= 2, s"$fam not folding: $gens generations")
          }
        }
        maxPersisted = math.max(maxPersisted,
          spark.sparkContext.getPersistentRDDs.size)
      }
    } finally q.stop()
    // footprint: per-batch pins + localCheckpoints must release — O(1) in
    // batch count (the live-store soak's bound, same slack for the async
    // ContextCleaner)
    assert(maxPersisted < 40,
      s"persisted-RDD count grew with batch count: $maxPersisted")
    // latency: no upward drift as state history grows
    def median(xs: Array[Double]) = xs.sorted.apply(xs.length / 2)
    val mid = median(latency.slice(40, 50))
    val late = median(latency.slice(90, 100))
    assert(late <= mid * 2.0,
      s"per-batch latency drifting: median batch 40-50 = $mid s, " +
        s"batch 90-100 = $late s")
    // exactness after the full run: cumulative survivors = the batch
    // funnel (with containment stage) over all 100 batches' rows
    val dec = spark.read.parquet(s"$dir/out/decisions")
      .select("doc_id", "outcome").as[(Long, String)].collect()
    val byOutcome = dec.groupBy(_._2).map { case (k, v) =>
      k -> v.map(_._1).toSet }.withDefaultValue(Set.empty[Long])
    // sanity: the mix really exercised every decision class
    Seq("admitted", "rejected_exact_dup", "rejected_near_dup",
      "rejected_containment", "retracted_containment").foreach { o =>
      assert(byOutcome(o).nonEmpty, s"soak mix never produced outcome $o")
    }
    val sSurv = byOutcome("admitted") --
      byOutcome("retracted_near_dup") -- byOutcome("retracted_containment")
    val (_, keepers, reps) = graft.queries.Llm.curationStages(
      spark, all.toSeq.toDF("doc_id", "text"))
    val bSurv = reps.select("doc_id").as[Long].collect().toSet --
      graft.queries.Llm.curationContainmentRejects(keepers)
        .as[Long].collect().toSet
    graft.Caches.drain(spark)
    assert(sSurv == bSurv,
      s"soaked survivor set diverged from the batch funnel: " +
        s"only-stream=${sSurv -- bSurv} only-batch=${bSurv -- sSurv}")
  }

  test("curation pipeline: a REPLAYED batch reproduces its decisions " +
      "(retry idempotence)") {
    import graft.streaming.Streams
    import org.apache.spark.sql.functions.col
    // crash-and-replay semantics: a batch that wrote its state but not its
    // epoch commit is re-run with the SAME batch id. Simulate by running
    // batch 0, then starting a NEW query on the same state path with a
    // FRESH checkpoint (so the same rows replay as batch 0 over the
    // already-written batch-0 state). Before the fix, the replay anti-
    // joined away its own digests and rejected every doc as an exact dup.
    val docs = graft.Tables.load(spark, SparkTestSession.sfDir, "documents")
      .select(col("doc_id"), col("text")).orderBy("doc_id")
      .as[(Long, String)].collect().take(100)
    val dir = java.nio.file.Files.createTempDirectory("graft_curation3").toString
    def runOnce(ckpt: String): Set[(Long, String)] = {
      val in = MemoryStream[(Long, String)](spark)
      val q = Streams.curationPipelineSink(
        in.toDF().toDF("doc_id", "text"), s"$dir/out", ckpt, t = 0.9)
      try { in.addData(docs.toSeq); q.processAllAvailable() } finally q.stop()
      spark.read.parquet(s"$dir/out/decisions/batch_id=0")
        .select("doc_id", "outcome").as[(Long, String)].collect().toSet
    }
    val first = runOnce(s"$dir/ckpt1")
    val replayed = runOnce(s"$dir/ckpt2")
    assert(first.exists(_._2 == "admitted"), "sanity: some docs admitted")
    assert(replayed == first,
      "replaying batch 0 over its own state must reproduce its decisions")
  }

  test("curation pipeline: state compaction between batches changes " +
      "nothing downstream") {
    import graft.streaming.Streams
    import org.apache.spark.sql.functions.col
    // two runs over the same 4 chunks; run B compacts the log-structured
    // state after batch 2 — batch 3's decisions (which read that state)
    // must be identical, and the folded dirs must actually shrink.
    // Compaction never touches the TOP generation (it may belong to an
    // uncommitted batch), so a ≥2-generation committed prefix is needed
    // for it to do anything.
    val docs = graft.Tables.load(spark, SparkTestSession.sfDir, "documents")
      .select(col("doc_id"), col("text")).orderBy("doc_id")
      .as[(Long, String)].collect().take(400)
    val chunks = docs.grouped(100).toSeq
    def run(dir: String, compactAfterBatch1: Boolean): Seq[Set[(Long, String)]] = {
      val in = MemoryStream[(Long, String)](spark)
      val q = Streams.curationPipelineSink(
        in.toDF().toDF("doc_id", "text"), s"$dir/out", s"$dir/ckpt", t = 0.9)
      try {
        chunks.zipWithIndex.foreach { case (c, i) =>
          in.addData(c.toSeq); q.processAllAvailable()
          if (compactAfterBatch1 && i == 2) {
            val folded = Streams.curationStateCompact(spark, s"$dir/out")
            assert(folded >= 3, s"expected generations folded, got $folded")
          }
        }
      } finally q.stop()
      (0 until chunks.length).map { b =>
        spark.read.parquet(s"$dir/out/decisions/batch_id=$b")
          .select("doc_id", "outcome").as[(Long, String)].collect().toSet
      }
    }
    val dirA = java.nio.file.Files.createTempDirectory("graft_cur_nc").toString
    val dirB = java.nio.file.Files.createTempDirectory("graft_cur_cp").toString
    val plain = run(dirA, compactAfterBatch1 = false)
    val compacted = run(dirB, compactAfterBatch1 = true)
    assert(compacted == plain,
      "decisions diverged after state compaction")
    // the digest log is actually folded: the committed prefix [0,1]
    // collapsed into 1, the top generation (2) untouched, plus batch 3's
    val gens = new java.io.File(s"$dirB/out/_state/digests").listFiles()
      .map(_.getName).filter(_.startsWith("batch_id=")).sorted.toSeq
    assert(gens == Seq("batch_id=1", "batch_id=2", "batch_id=3"), s"got $gens")
  }

  test("curation pipeline: a compaction crashed between swap and delete " +
      "heals on the next read — no double-counted state, no torn dirs") {
    import graft.streaming.Streams
    import org.apache.spark.sql.functions.col
    val docs = graft.Tables.load(spark, SparkTestSession.sfDir, "documents")
      .select(col("doc_id"), col("text")).orderBy("doc_id")
      .as[(Long, String)].collect().take(300)
    val chunks = docs.grouped(100).toSeq
    def rmr(f: java.io.File): Unit = {
      Option(f.listFiles()).foreach(_.foreach(rmr)); f.delete()
    }
    // emulate curationStateCompact's fold killed right AFTER the swap:
    // the folded top generation (carrying its _folded manifest) is live
    // while the superseded generations are still on disk — the state a
    // naive union read would double-count
    def crashFold(dir: String): Unit = {
      val gens = new java.io.File(dir).listFiles().map(_.getName)
        .filter(_.startsWith("batch_id="))
        .map(_.stripPrefix("batch_id=").toLong).sorted.toSeq
      val top = gens.max
      val merged = spark.read
        .parquet(gens.map(b => s"$dir/batch_id=$b"): _*).localCheckpoint(true)
      val tmp = new java.io.File(dir, ".compact-tmp")
      merged.coalesce(1).write.mode("overwrite").parquet(tmp.getPath)
      java.nio.file.Files.write(new java.io.File(tmp, "_folded").toPath,
        gens.filter(_ != top).mkString("", "\n", "\n").getBytes("UTF-8"))
      val target = new java.io.File(s"$dir/batch_id=$top")
      rmr(target)
      assert(tmp.renameTo(target))
      // ...and the crash also stranded swap debris from OTHER dirs' folds
      val old = new java.io.File(s"$dir/batch_id=${gens.min}.old")
      old.mkdirs()
      java.nio.file.Files.write(
        new java.io.File(old, "junk").toPath, Array[Byte](1))
      val strandedTmp = new java.io.File(dir, ".compact-tmp")
      strandedTmp.mkdirs()
      java.nio.file.Files.write(
        new java.io.File(strandedTmp, "junk").toPath, Array[Byte](1))
    }
    def run(dir: String, crash: Boolean): Seq[Set[(Long, String)]] = {
      val in = MemoryStream[(Long, String)](spark)
      val q = Streams.curationPipelineSink(
        in.toDF().toDF("doc_id", "text"), s"$dir/out", s"$dir/ckpt", t = 0.9)
      try {
        chunks.zipWithIndex.foreach { case (c, i) =>
          in.addData(c.toSeq); q.processAllAvailable()
          if (crash && i == 1) {
            crashFold(s"$dir/out/_state/digests")
            crashFold(s"$dir/out/_state/toks")
          }
        }
      } finally q.stop()
      (0 until chunks.length).map { b =>
        spark.read.parquet(s"$dir/out/decisions/batch_id=$b")
          .select("doc_id", "outcome").as[(Long, String)].collect().toSet
      }
    }
    val dirA = java.nio.file.Files.createTempDirectory("graft_cur_ok").toString
    val dirB = java.nio.file.Files.createTempDirectory("graft_cur_cr").toString
    val plain = run(dirA, crash = false)
    val healed = run(dirB, crash = true)
    assert(healed == plain,
      "batch 2's decisions diverged after reading crashed-compaction state")
    // healing finished the interrupted delete: only the folded top and
    // batch 2's own generation remain, and the debris is gone
    val left = new java.io.File(s"$dirB/out/_state/digests").listFiles()
      .map(_.getName).filter(_.startsWith("batch_id=")).sorted.toSeq
    assert(left == Seq("batch_id=1", "batch_id=2"), s"got $left")
    assert(!new java.io.File(s"$dirB/out/_state/digests/batch_id=1/_folded")
      .exists(), "manifest consumed by the heal")
  }

  test("curation pipeline: a later cluster merge tombstones the absorbed rep") {
    import graft.streaming.Streams
    // A and B are each >= 0.9-Jaccard to C but only ~0.82 to each other:
    // |A|=|B|=|C|=20 tokens, C differs from each by one substitution
    // (19/21 = 0.905 >= 0.9), A vs B share 18 (18/22 = 0.818 < 0.9). So A
    // and B are both admitted as reps of separate clusters; C then bridges
    // them — the funnel's CC merges the clusters under rep A, and the
    // stream must demote B with a retracted_near_dup tombstone.
    val base = (1 to 19).map(i => s"tok$i") :+ "the"
    val aTxt = (base.filterNot(_ == "tok1") :+ "alpha").mkString(" ")
    val bTxt = (base.filterNot(_ == "tok2") :+ "beta").mkString(" ")
    val cTxt = base.mkString(" ")
    val dir = java.nio.file.Files.createTempDirectory("graft_curation2").toString
    val in = MemoryStream[(Long, String)](spark)
    val q = Streams.curationPipelineSink(
      in.toDF().toDF("doc_id", "text"), s"$dir/out", s"$dir/ckpt", t = 0.9)
    try {
      in.addData((1L, aTxt)); q.processAllAvailable()
      in.addData((2L, bTxt)); q.processAllAvailable()
      val mid = spark.read.parquet(s"$dir/out/decisions")
        .select("doc_id", "outcome").as[(Long, String)].collect().toSet
      assert(mid == Set((1L, "admitted"), (2L, "admitted")), s"got $mid")
      in.addData((3L, cTxt)); q.processAllAvailable()
      val dec = spark.read.parquet(s"$dir/out/decisions")
        .select("doc_id", "outcome").as[(Long, String)].collect().toSet
      assert(dec == Set((1L, "admitted"), (2L, "admitted"),
        (2L, "retracted_near_dup"), (3L, "rejected_near_dup")), s"got $dec")
    } finally q.stop()
  }

  test("streaming phash screen flags a visually identical payload, " +
      "matches its batch twin, stays appendable") {
    import graft.streaming.Streams
    import graft.queries.Multimodal
    val docs = graft.Tables.load(spark, SparkTestSession.sfDir, "documents")
    val corpusPpm = Multimodal.withPpmPayload(docs)
    val index = Streams.phashIndex(corpusPpm)
    // pick a corpus doc long enough to clear the >= 17-row gate
    val (srcId, srcText) = docs.filter(org.apache.spark.sql.functions.length(
        org.apache.spark.sql.functions.col("text")) >= 300)
      .select("doc_id", "text").as[(Long, String)].head()
    val incoming = Seq((9000000L, srcText),
      (9000001L, "short novel caption"))
    val in = MemoryStream[(Long, String)](spark)
    val inPpm = Multimodal.withPpmPayload(
      in.toDF().toDF("doc_id", "text")
        .withColumn("lang", org.apache.spark.sql.functions.lit("en")))
    val screened = Streams.phashScreen(inPpm, index)
    assert(screened.isStreaming, "screen must stay a streaming plan")
    val q = screened.writeStream.format("memory")
      .queryName("phash_screen").outputMode("append").start()
    in.addData(incoming: _*)
    q.processAllAvailable(); q.stop()
    val got = spark.table("phash_screen")
      .select("doc_id", "dup_of", "hamming").as[(Long, Long, Long)]
      .collect().toSet
    // the byte-identical payload must flag against its source at hamming 0
    assert(got.contains((9000000L, srcId, 0L)), s"planted dup missing from $got")
    // decision parity with the batch form of the same screen
    val batchPpm = Multimodal.withPpmPayload(
      incoming.toDF("doc_id", "text")
        .withColumn("lang", org.apache.spark.sql.functions.lit("en")))
    val batch = Streams.phashScreen(batchPpm, index)
      .select("doc_id", "dup_of", "hamming").as[(Long, Long, Long)]
      .collect().toSet
    assert(got == batch, s"stream $got != batch $batch")
  }

  test("streaming video screen flags a temporally identical payload, " +
      "matches its batch twin, stays appendable") {
    import graft.streaming.Streams
    import graft.queries.Multimodal
    import org.apache.spark.sql.functions.{col, length, lit}
    val docs = graft.Tables.load(spark, SparkTestSession.sfDir, "documents")
    val index = Streams.videoIndex(Multimodal.withY4mPayload(docs))
    // a corpus doc long enough to clear the >= 17-frame gate (12 B/frame)
    val (srcId, srcText) = docs.filter(length(col("text")) >= 300)
      .select("doc_id", "text").as[(Long, String)].head()
    val incoming = Seq((9100000L, srcText),
      (9100001L, "short novel clip"))
    val in = MemoryStream[(Long, String)](spark)
    val inY4m = Multimodal.withY4mPayload(
      in.toDF().toDF("doc_id", "text").withColumn("lang", lit("en")))
    val screened = Streams.videoScreen(inY4m, index)
    assert(screened.isStreaming, "screen must stay a streaming plan")
    val q = screened.writeStream.format("memory")
      .queryName("video_screen").outputMode("append").start()
    in.addData(incoming: _*)
    q.processAllAvailable(); q.stop()
    val got = spark.table("video_screen")
      .select("doc_id", "dup_of", "hamming").as[(Long, Long, Long)]
      .collect().toSet
    // the byte-identical payload must flag against its source at hamming 0
    assert(got.contains((9100000L, srcId, 0L)), s"planted dup missing from $got")
    // decision parity with the batch form of the same screen
    val batch = Streams.videoScreen(
      Multimodal.withY4mPayload(
        incoming.toDF("doc_id", "text").withColumn("lang", lit("en"))),
      index)
      .select("doc_id", "dup_of", "hamming").as[(Long, Long, Long)]
      .collect().toSet
    assert(got == batch, s"stream $got != batch $batch")
  }

  test("screen indexes are parquet-backed build-once artifacts: a restart " +
      "reuses them without rebuild and screens hash-identically") {
    import graft.streaming.Streams
    import graft.queries.Multimodal
    val cacheDir = java.nio.file.Files.createTempDirectory("graft_screens").toString
    spark.conf.set("graft.screen.cacheDir", cacheDir)
    def artifactState(): Map[String, Long] = {
      def walk(f: java.io.File): Seq[java.io.File] =
        f +: Option(f.listFiles()).getOrElse(Array.empty).toSeq.flatMap(walk)
      walk(new java.io.File(cacheDir))
        .filter(f => f.isFile && (f.getName == "_SUCCESS" || f.getName == "meta.json"))
        .map(f => f.getPath -> f.lastModified()).toMap
    }
    try {
      val corpus = (0 until 150).map(i =>
        (i.toLong, s"alpha$i beta gamma tok$i delta epsilon zeta eta " * 6))
        .toDF("doc_id", "text")
      val incoming = Seq((900L, corpus.filter(col("doc_id") === 7)
        .select("text").as[String].head()), (901L, "novel zz unseen"))
        .toDF("doc_id", "text")
      val ppm = Multimodal.withPpmPayload(corpus.withColumn("lang", lit("en")))
      val y4m = Multimodal.withY4mPayload(corpus.withColumn("lang", lit("en")))
        .as[(Long, Array[Byte])]
      // first process: build + persist all five artifacts
      val sim1 = Streams.simhashIndexLoadOrBuild(corpus, "t")
      val con1 = Streams.containmentIndexLoadOrBuild(corpus, "t")
      val nd1 = Streams.corpusIndexLoadOrBuild(corpus, "t")
      val ph1 = Streams.phashIndexLoadOrBuild(ppm, "t")
      val vi1 = Streams.videoIndexLoadOrBuild(y4m, "t")
      val simOut1 = Streams.simhashScreen(incoming, sim1)
        .as[(Long, Long, Long)].collect().toSet
      val state1 = artifactState()
      assert(state1.size >= 7, s"expected 5 artifacts on disk, saw: $state1")
      // "restart": load each again — artifacts must be REUSED (no file
      // rewritten), and the screens must decide identically off them
      val sim2 = Streams.simhashIndexLoadOrBuild(corpus, "t")
      val con2 = Streams.containmentIndexLoadOrBuild(corpus, "t")
      val nd2 = Streams.corpusIndexLoadOrBuild(corpus, "t")
      val ph2 = Streams.phashIndexLoadOrBuild(ppm, "t")
      val vi2 = Streams.videoIndexLoadOrBuild(y4m, "t")
      assert(artifactState() == state1, "restart REBUILT an artifact")
      assert(sim2.blocksBytes == sim1.blocksBytes &&
        con2.maxStrat == con1.maxStrat && con2.setsBytes == con1.setsBytes &&
        nd2.bandsBytes == nd1.bandsBytes && ph2.blocksBytes == ph1.blocksBytes &&
        vi2.blocksBytes == vi1.blocksBytes, "meta did not round-trip")
      val simOut2 = Streams.simhashScreen(incoming, sim2)
        .as[(Long, Long, Long)].collect().toSet
      assert(simOut2 == simOut1 && simOut1.exists(_._1 == 900L),
        s"screen decisions diverged across restart: $simOut1 vs $simOut2")
      // decision parity of LOADED vs IN-MEMORY indexes, per modality
      val memNd = Streams.corpusIndex(corpus)
      val ndMem = Streams.nearDupScreen(incoming, memNd)
        .as[(Long, Long, Double)].collect().toSet
      val ndLoaded = Streams.nearDupScreen(incoming, nd2)
        .as[(Long, Long, Double)].collect().toSet
      assert(ndLoaded == ndMem, s"neardup: $ndLoaded != $ndMem")
      memNd.release()
      val memCon = Streams.containmentIndex(corpus)
      val conMem = Streams.containmentScreen(incoming, memCon)
        .as[(Long, Long, Long, Long, Long)].collect().toSet
      val conLoaded = Streams.containmentScreen(incoming, con2)
        .as[(Long, Long, Long, Long, Long)].collect().toSet
      assert(conLoaded == conMem, s"containment: $conLoaded != $conMem")
      memCon.release()
      assert(ph2.blocks.as[(Long, Long, Int, Long)].collect().toSet ==
        Streams.phashIndex(ppm).blocks.as[(Long, Long, Int, Long)]
          .collect().toSet, "phash artifact != in-memory build")
      assert(vi2.blocks.as[(Long, Long, Int, Long)].collect().toSet ==
        Streams.videoIndex(y4m).blocks.as[(Long, Long, Int, Long)]
          .collect().toSet, "video artifact != in-memory build")
    } finally {
      spark.conf.unset("graft.screen.cacheDir")
      graft.Caches.invalidateCounts(spark)
      graft.Caches.drain(spark)
    }
  }

  test("interleaved screen keys bound the hot bucket on a degenerate-region " +
      "corpus (zero-padded short rasters) and match the batch pair query") {
    import graft.streaming.Streams
    import graft.queries.Multimodal
    // 240 short texts of exactly 240 bytes → every PPM raster has h = 20
    // rows, so gradient bits 19..61 are ZERO for the whole corpus. Under
    // the old CONTIGUOUS 21/21/20 block layout, blocks 1 and 2 are the
    // all-zero key for every doc — two buckets of the FULL corpus, the
    // r12 100× probe's 220k-doc pathology in miniature. The interleaved
    // layout (bit i → block i mod 3) spreads the 19 informative bits
    // across all three blocks.
    val rnd = new scala.util.Random(13)
    val corpusDocs = (0 until 240).map(i =>
      (i.toLong, (0 until 240).map(_ => ('a' + rnd.nextInt(26)).toChar).mkString))
    val corpusPpm = Multimodal.withPpmPayload(
      corpusDocs.toDF("doc_id", "text").withColumn("lang", lit("en")))
    val index = Streams.phashIndex(corpusPpm)
    // the planted corpus really is degenerate: the old contiguous block 1
    // (bits 21..41) keys every doc to 0 — one bucket of the whole corpus
    val contiguousMax = index.blocks.select("corpus_id", "corpus_fp").distinct()
      .groupBy(expr("(corpus_fp >> 21) & 2097151")).count()
      .agg(max("count")).head().getLong(0)
    assert(contiguousMax == 240L,
      s"planted corpus not degenerate under contiguous keys: $contiguousMax")
    // ...and the interleaved keys the index actually uses keep every
    // (blk, key) bucket far below corpus size
    val bucketMax = index.blocks.groupBy("blk", "key").count()
      .agg(max("count")).head().getLong(0)
    assert(bucketMax <= 60, s"interleaved hot bucket too large: $bucketMax")
    // golden: stream two exact copies + one novel doc through the screen;
    // output must be hash-identical to the batch pair query (HammingJoin
    // over corpus ∪ incoming fingerprints, cross pairs only)
    val incoming = Seq(
      (9200000L, corpusDocs(7)._2), (9200001L, corpusDocs(42)._2),
      (9200002L, (0 until 240).map(_ => ('a' + rnd.nextInt(26)).toChar).mkString))
    val in = MemoryStream[(Long, String)](spark)
    val inPpm = Multimodal.withPpmPayload(
      in.toDF().toDF("doc_id", "text").withColumn("lang", lit("en")))
    val screened = Streams.phashScreen(inPpm, index)
    assert(screened.isStreaming, "screen must stay a streaming plan")
    val q = screened.writeStream.format("memory")
      .queryName("phash_screen_degen").outputMode("append").start()
    in.addData(incoming: _*)
    q.processAllAvailable(); q.stop()
    val got = spark.table("phash_screen_degen")
      .select("doc_id", "dup_of", "hamming").as[(Long, Long, Long)]
      .collect().toSet
    val allPpm = Multimodal.withPpmPayload(
      (corpusDocs ++ incoming).toDF("doc_id", "text")
        .withColumn("lang", lit("en")))
    val fps = allPpm.select("doc_id", "ppm").as[(Long, Array[Byte])]
      .mapPartitions(_.map { case (id, b) =>
        graft.queries.Multimodal.ppmRowHash(id, b) })
      .toDF("doc_id", "fp", "img_rows")
      .filter(col("img_rows") >= 17)
    val batchPairs = graft.operators.HammingJoin.pairs(fps, maxHamming = 2)
      .filter(col("doc_b") >= 9200000L && col("doc_a") < 9200000L)
      .select(col("doc_b").as("doc_id"), col("doc_a").as("dup_of"),
        col("hamming"))
      .as[(Long, Long, Long)].collect().toSet
    assert(got == batchPairs,
      s"stream/batch divergence: ${got -- batchPairs} ${batchPairs -- got}")
    assert(got.contains((9200000L, 7L, 0L)) && got.contains((9200001L, 42L, 0L)),
      s"planted exact copies not flagged: $got")
    graft.Caches.drain(spark)
  }

  test("streaming simhash screen is appendable, matches its batch twin, " +
      "flags boilerplate, admits novel docs") {
    import graft.streaming.Streams
    val corpusDocs = graft.Tables.load(spark, SparkTestSession.sfDir, "documents")
      .select("doc_id", "text").as[(Long, String)].collect().toSeq
    val corpus = corpusDocs.toDF("doc_id", "text")
    val index = Streams.simhashIndex(corpus)
    val incoming = Seq(
      // exact copy of a corpus doc -> hamming 0, must be flagged against it
      (1000000L, corpusDocs.head._2),
      // novel doc with a disjoint vocabulary -> ~31 expected hamming, admitted
      (1000001L, "zzqa zzqb zzqc zzqd zzqe zzqf zzqg zzqh zzqi zzqj zzqk zzql"))
    val in = MemoryStream[(Long, String)](spark)
    val screened = Streams.simhashScreen(in.toDF().toDF("doc_id", "text"), index)
    assert(screened.isStreaming, "screen must stay a streaming plan")
    val q = screened.writeStream.format("memory")
      .queryName("simhash_screen").outputMode("append").start()
    in.addData(incoming: _*)
    q.processAllAvailable(); q.stop()
    val got = spark.table("simhash_screen")
      .select("doc_id", "dup_of", "hamming").as[(Long, Long, Long)]
      .collect().toSet
    // batch twin on the same incoming rows — decision parity is the contract
    val batch = Streams.simhashScreen(incoming.toDF("doc_id", "text"), index)
      .as[(Long, Long, Long)].collect().toSet
    assert(got == batch, s"stream/batch divergence: ${got -- batch} ${batch -- got}")
    assert(got.contains((1000000L, corpusDocs.head._1, 0L)),
      s"exact copy not flagged at hamming 0: $got")
    assert(!got.exists(_._1 == 1000001L), s"novel doc wrongly flagged: $got")
    // exactly-once per pair even when several blocks agree (hamming 0 pairs
    // agree on ALL 4 blocks): no (doc_id, dup_of) appears twice
    val keys = spark.table("simhash_screen").select("doc_id", "dup_of")
      .as[(Long, Long)].collect().toSeq
    assert(keys.distinct.size == keys.size, s"duplicate pair emissions: $keys")
    graft.Caches.drain(spark)
  }

  test("streaming embedding screen flags vector near-dups in pure append mode") {
    import graft.streaming.Streams
    val rng = new scala.util.Random(41)
    // clustered corpus: 4 tight clusters in 5-d
    val centers = Seq.fill(4)(Array.fill(5)(rng.nextGaussian()))
    val corpusVecs = (0L until 80L).map { i =>
      val c = centers((i % 4).toInt)
      (i, c.map(x => (x + rng.nextGaussian() * 0.01).toFloat).toSeq)
    }
    val corpus = corpusVecs.toDF("vec_id", "embedding")
      .select(col("vec_id"), col("embedding"),
        graft.functions.VectorFunctions.toDouble(col("embedding")).as("v"))
      .select("vec_id", "v")
    val idx = graft.operators.IvfIndex.build(corpus)
    // stream: a near-identical twin of corpus vec 0, and an orthogonal-ish
    // novel vector far from every cluster
    val twin = corpusVecs.head._2.map(x => x + 1e-4f)
    val novel = Seq.fill(5)(10f * rng.nextGaussian().toFloat)
    val in = MemoryStream[(Long, Seq[Float])](spark)
    val screened = Streams.embeddingScreen(
      in.toDF().toDF("doc_id", "embedding"), idx, t = 0.95)
    assert(screened.isStreaming, "screen must stay a streaming plan")
    val q = screened.writeStream.format("memory")
      .queryName("emb_screen").outputMode("append").start()
    in.addData((1L, twin), (2L, novel))
    q.processAllAvailable(); q.stop()
    val flagged = spark.table("emb_screen")
      .select("doc_id", "dup_of").as[(Long, Long)].collect().toSet
    // the twin is flagged against its cluster (certainly vec 0); the novel
    // vector is admitted
    assert(flagged.contains((1L, 0L)), s"twin not flagged: $flagged")
    assert(!flagged.exists(_._1 == 2L), s"novel doc wrongly flagged: $flagged")
    graft.Caches.drain(spark)
  }

  test("streaming LSH screen flags vector near-dups in pure append mode, " +
      "exactly once per pair, matching its batch twin") {
    import graft.streaming.Streams
    val rng = new scala.util.Random(47)
    val centers = Seq.fill(4)(Array.fill(8)(rng.nextGaussian()))
    val corpusVecs = (0L until 80L).map { i =>
      val c = centers((i % 4).toInt)
      (i, c.map(x => (x + rng.nextGaussian() * 0.01).toFloat).toSeq)
    }
    val index = Streams.lshIndex(corpusVecs.toDF("vec_id", "embedding"))
    // a near-identical twin of corpus vec 0 (collides on ~all 8 bands —
    // the exactly-once emission's stress case) and a far novel vector
    val twin = corpusVecs.head._2.map(x => x + 1e-4f)
    val novel = Seq.fill(8)(10f * rng.nextGaussian().toFloat)
    val incoming = Seq((1000L, twin), (1001L, novel))
    val in = MemoryStream[(Long, Seq[Float])](spark)
    val screened = Streams.lshScreen(
      in.toDF().toDF("doc_id", "embedding"), index, t = 0.95)
    assert(screened.isStreaming, "screen must stay a streaming plan")
    val q = screened.writeStream.format("memory")
      .queryName("lsh_screen").outputMode("append").start()
    in.addData(incoming: _*)
    q.processAllAvailable(); q.stop()
    val got = spark.table("lsh_screen")
      .select("doc_id", "dup_of").as[(Long, Long)].collect().toSeq
    // batch twin on the same incoming rows — decision parity is the contract
    val batch = Streams.lshScreen(incoming.toDF("doc_id", "embedding"),
      index, t = 0.95).select("doc_id", "dup_of")
      .as[(Long, Long)].collect().toSeq
    assert(got.toSet == batch.toSet,
      s"stream/batch divergence: ${got.toSet -- batch.toSet} ${batch.toSet -- got.toSet}")
    assert(got.contains((1000L, 0L)), s"twin not flagged vs vec 0: $got")
    assert(!got.exists(_._1 == 1001L), s"novel doc wrongly flagged: $got")
    // exactly-once even though the twin agrees with vec 0 on every band
    assert(got.distinct.size == got.size, s"duplicate pair emissions: $got")
    graft.Caches.drain(spark)
  }

  test("screen index joins are byte-gated: under the limit they broadcast, " +
      "over it they shuffle — outputs hash-identical either way") {
    import graft.streaming.Streams
    // text corpus for the near-dup / containment / simhash screens
    val w = (0 until 40).map(i => s"word$i")
    val corpus = Seq(
      (100L, "the quick brown fox jumps over the lazy dog again and again today"),
      (101L, "spark shuffles partition data across executors during wide transformations"),
      (102L, w.mkString(" ")))
      .toDF("doc_id", "text")
    val incoming = Seq(
      (1L, "the quick brown fox jumps over the lazy dog again and again tonight"),
      (2L, w.slice(4, 12).mkString(" ")), // snippet of 102
      (3L, "completely unrelated text about cooking pasta with garlic and olive oil"))
      .toDF("doc_id", "text")
    // vector corpus for the embedding screen
    val rng = new scala.util.Random(53)
    val centers = Seq.fill(3)(Array.fill(5)(rng.nextGaussian()))
    val corpusVecs = (0L until 60L).map { i =>
      val c = centers((i % 3).toInt)
      (i, c.map(x => (x + rng.nextGaussian() * 0.01).toFloat).toSeq)
    }
    val idx0 = graft.operators.IvfIndex.build(
      corpusVecs.toDF("vec_id", "embedding").select(col("vec_id"),
        graft.functions.VectorFunctions.toDouble(col("embedding")).as("v")))
    // sever the build lineage: the plan asserts below must see the SCREEN's
    // joins only, not the k-means build's own (bounded) broadcasts
    val idx = graft.operators.IvfIndex.Index(
      idx0.assigned.localCheckpoint(true), idx0.cells.localCheckpoint(true))
    val vecIn = Seq(
      (1L, corpusVecs.head._2.map(x => x + 1e-4f)),
      (2L, Seq.fill(5)(10f * rng.nextGaussian().toFloat)))
      .toDF("doc_id", "embedding")
    val nd = Streams.corpusIndex(corpus)
    val ci = Streams.containmentIndex(corpus)
    val si = Streams.simhashIndex(corpus)
    def plan(df: org.apache.spark.sql.DataFrame): String =
      df.queryExecution.executedPlan.toString
    def run() = {
      val a = Streams.nearDupScreen(incoming, nd)
      val b = Streams.containmentScreen(incoming, ci)
      val c = Streams.simhashScreen(incoming, si)
      val d = Streams.embeddingScreen(vecIn, idx, t = 0.95)
      val out = (
        a.as[(Long, Long, Double)].collect().toSet,
        b.as[(Long, Long, Long, Long, Long)].collect().toSet,
        c.as[(Long, Long, Long)].collect().toSet,
        d.as[(Long, Long, Double)].collect().toSet)
      val plans = Seq(plan(a), plan(b), plan(c), plan(d))
      graft.Caches.drain(spark)
      (out, plans)
    }
    // regime 1 (defaults): every index frame is tiny — all joins broadcast
    val (bcOut, bcPlans) = run()
    assert(bcOut._1.nonEmpty && bcOut._2.nonEmpty && bcOut._3.nonEmpty &&
      bcOut._4.nonEmpty, "fixture must flag at least one pair per screen")
    bcPlans.foreach(p => assert(p.contains("BroadcastHashJoin") ||
      p.contains("BroadcastNestedLoopJoin"),
      s"expected a broadcast plan under the default gate:\n$p"))
    // regime 2: gate forced shut (plus Spark's own auto-broadcast off so
    // the flip is observable) — the 100 TB plan: shuffles on the equi-keys
    spark.conf.set("graft.broadcast.screen", "0")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    spark.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
    try {
      val (shOut, shPlans) = run()
      shPlans.take(3).foreach(p => assert(!p.contains("BroadcastHashJoin"),
        s"index join still broadcasts with the gate shut:\n$p"))
      assert(!shPlans(3).contains("BroadcastExchange"),
        s"embedding bound scan still broadcasts with the gate shut:\n${shPlans(3)}")
      assert(shOut == bcOut,
        "screen decisions changed when the index joins flipped to shuffles")
    } finally {
      spark.conf.unset("graft.broadcast.screen")
      spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
      spark.conf.unset("spark.sql.adaptive.autoBroadcastJoinThreshold")
      nd.release(); ci.release()
      graft.Caches.drain(spark)
    }
  }

  test("streaming count-min sketch: bounded state, cells identical to the " +
      "batch sketch over the same rows") {
    import graft.streaming.Streams
    val batch1 = Seq((1L, "the cat sat on the mat"), (2L, "the dog sat"))
    val batch2 = Seq((3L, "cat and dog and cat"), (4L, "the end"))
    val in = MemoryStream[(Long, String)](spark)
    val sketch = Streams.cmsSketch(in.toDF().toDF("doc_id", "text"))
    assert(sketch.isStreaming, "sketch must stay a streaming plan")
    val q = sketch.writeStream.format("memory")
      .queryName("cms_sketch").outputMode("complete").start()
    in.addData(batch1: _*)
    q.processAllAvailable()
    in.addData(batch2: _*)
    q.processAllAvailable(); q.stop()
    val got = spark.table("cms_sketch")
      .select("r", "bkt", "bc").as[(Int, Long, Long)].collect()
      .map { case (r, b, c) => (r, b) -> c }.toMap
    // bounded state: never more keys than the 4x1024 grid
    assert(got.size <= 4096, s"sketch state exceeded the grid: ${got.size}")
    // cells == batch sketch over the union of both batches
    val expect = Streams.cmsSketch((batch1 ++ batch2).toDF("doc_id", "text"))
      .select("r", "bkt", "bc").as[(Int, Long, Long)].collect()
      .map { case (r, b, c) => (r, b) -> c }.toMap
    assert(got == expect,
      s"stream/batch cell divergence: ${got.toSet -- expect.toSet} ${expect.toSet -- got.toSet}")
    // every hash row saw every token occurrence: row mass = total tokens
    val totalTokens = (batch1 ++ batch2).map(_._2.split(" ").length).sum
    (0 until 4).foreach { r =>
      val mass = got.collect { case ((`r`, _), c) => c }.sum
      assert(mass == totalTokens, s"row $r mass $mass != $totalTokens")
    }
    graft.Caches.drain(spark)
  }

  test("streaming ingest-and-index: later batches retrieve vectors " +
      "ingested by earlier ones") {
    import graft.streaming.Streams
    val rng = new scala.util.Random(83)
    val centers = Seq.fill(4)(Array.fill(6)(rng.nextGaussian()))
    val corpusVecs = (0L until 80L).map { i =>
      val c = centers((i % 4).toInt)
      (i, c.map(x => (x + rng.nextGaussian() * 0.01).toFloat).toSeq)
    }
    val seed = graft.operators.IvfIndex.build(
      corpusVecs.toDF("vec_id", "embedding")
        .select(col("vec_id"),
          graft.functions.VectorFunctions.toDouble(col("embedding")).as("v")))
    // batch 1 ingests a NOVEL far vector; batch 2 queries with its twin —
    // the twin's nearest neighbor must be the batch-1 vector, which only a
    // live (appended) index can know about
    val novel = Seq.fill(6)(5f * rng.nextGaussian().toFloat)
    val twinOfCorpus = corpusVecs.head._2.map(x => x + 1e-4f)
    val twinOfNovel = novel.map(x => x + 1e-4f)
    val outDir = "/tmp/graft_ingest_index_out"
    val ckDir = "/tmp/graft_ingest_index_ck"
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(outDir))
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(ckDir))
    val in = MemoryStream[(Long, Seq[Float])](spark)
    val q = Streams.annIngestIndexSink(
      in.toDF().toDF("doc_id", "embedding"), seed, outDir, ckDir, k = 1)
    in.addData((1000L, twinOfCorpus), (1001L, novel))
    q.processAllAvailable()
    in.addData((1002L, twinOfNovel))
    q.processAllAvailable(); q.stop()
    val out = spark.read.parquet(outDir)
      .select("doc_id", "rk", "neighbor_id").as[(Long, Long, Long)]
      .collect().toSet
    // batch 1: the corpus twin finds corpus vec 0 (seed index serves it)
    assert(out.contains((1000L, 1L, 0L)), s"corpus twin missed vec 0: $out")
    // batch 2: the novel twin finds the batch-1 vector — proof the index
    // grew between batches; a static index would answer with a corpus vec
    assert(out.contains((1002L, 1L, 1001L)),
      s"novel twin did not retrieve the batch-1 ingest: $out")
    graft.Caches.drain(spark)
  }

  test("streaming live vector store: puts, latest-wins re-puts, and deletes " +
      "leave search exact vs a fresh index over the survivors") {
    import graft.streaming.Streams
    val VF = graft.functions.VectorFunctions
    val rng = new scala.util.Random(97)
    val centers = Seq.fill(4)(Array.fill(6)(rng.nextGaussian()))
    def near(c: Array[Double]): Seq[Float] =
      c.map(x => (x + rng.nextGaussian() * 0.01).toFloat).toSeq
    val seedVecs = (0L until 60L).map(i => (i, near(centers((i % 4).toInt))))
    val seed = graft.operators.IvfIndex.build(
      seedVecs.toDF("vec_id", "embedding")
        .select(col("vec_id"), VF.toDouble(col("embedding")).as("v")))
    // the CDC feed: batch 0 puts new vectors; batch 1 deletes two seed
    // members, RE-puts seed id 7 with a vector from a DIFFERENT cluster
    // (upsert must move it), and puts one more; batch 2 is probe puts
    // whose k=2 lookups reveal the final pre-batch store state
    val put100 = (100L until 106L).map(i => (i, near(centers((i % 4).toInt))))
    val moved7 = near(centers(2)) // id 7 originally sat in cluster 7%4=3
    val put200 = (200L, near(centers(0)))
    // probe 901 is a TWIN of the moved vector — its top-1 neighbor must be
    // the re-put id 7, which only the upserted (not the stale) copy can win
    val probes = Seq((900L, near(centers(1))),
      (901L, moved7.map(x => x + 1e-4f)), (902L, near(centers(3))))
    val dir = java.nio.file.Files.createTempDirectory("ann_live").toString
    val in = MemoryStream[(Long, Seq[Float], String)](spark)
    val q = Streams.annLiveStoreSink(
      in.toDF().toDF("doc_id", "embedding", "op"), seed,
      s"$dir/out", s"$dir/ckpt", k = 2)
    in.addData(put100.map { case (i, v) => (i, v, "put") }: _*)
    q.processAllAvailable()
    in.addData(Seq((3L, Seq.empty[Float], "delete"),
      (11L, Seq.empty[Float], "delete"), (7L, moved7, "put"),
      (put200._1, put200._2, "put")): _*)
    q.processAllAvailable()
    in.addData(probes.map { case (i, v) => (i, v, "put") }: _*)
    q.processAllAvailable(); q.stop()
    // the reference: a FRESH index built over the final logical state —
    // knnExact is exact, so any index layout must answer identically
    val finalState = (seedVecs.filterNot(v => Set(3L, 7L, 11L)(v._1)) ++
      put100 :+ ((7L, moved7)) :+ put200).sortBy(_._1)
    val ref = graft.operators.IvfIndex.build(
      finalState.toDF("vec_id", "embedding")
        .select(col("vec_id"), VF.toDouble(col("embedding")).as("v")))
    val expect = Streams.annLookup(
        probes.toDF("doc_id", "embedding"), ref, k = 2)
      .as[(Long, Long, Long, Double)].collect().toSet
    val got = spark.read.parquet(s"$dir/out/lookups/batch_id=2")
      .select("doc_id", "rk", "neighbor_id", "sim")
      .as[(Long, Long, Long, Double)].collect().toSet
    assert(got == expect,
      s"live-store probes diverged from the survivor-built index: " +
        s"only-stream=${got -- expect} only-ref=${expect -- got}")
    // deleted ids are really unreachable, and the re-put id answers from
    // its NEW cluster (a stale copy would also still match cluster 3)
    val allNbrs = spark.read.parquet(s"$dir/out/lookups/batch_id=2")
      .select("neighbor_id").as[Long].collect().toSet
    assert(!allNbrs.contains(3L) && !allNbrs.contains(11L),
      s"deleted ids surfaced in post-delete lookups: $allNbrs")
    assert(got.exists { case (d, rk, n, _) => d == 901L && rk == 1L && n == 7L },
      s"re-put id 7 should be its twin probe's top-1 neighbor: $got")
    // audit: exactly-once per-op counts for the CDC batch
    val audit = spark.read.parquet(s"$dir/out/_audit/batch_id=1")
      .as[(String, Long)].collect().toMap
    assert(audit == Map("put" -> 2L, "delete" -> 2L), s"audit off: $audit")
    graft.Caches.drain(spark)
  }

  test("live vector store survives a restart: a new incarnation folds the " +
      "change log and answers probes like an uninterrupted store") {
    import graft.streaming.Streams
    val VF = graft.functions.VectorFunctions
    val rng = new scala.util.Random(131)
    val centers = Seq.fill(3)(Array.fill(6)(rng.nextGaussian()))
    def near(c: Array[Double]): Seq[Float] =
      c.map(x => (x + rng.nextGaussian() * 0.01).toFloat).toSeq
    val seedVecs = (0L until 45L).map(i => (i, near(centers((i % 3).toInt))))
    def mkSeed() = graft.operators.IvfIndex.build(
      seedVecs.toDF("vec_id", "embedding")
        .select(col("vec_id"), VF.toDouble(col("embedding")).as("v")))
    // f0: puts; f1: delete two seed ids + re-put one with a moved vector;
    // f2 (fed AFTER the restart): probe puts
    val put100 = (100L until 104L).map(i => (i, near(centers((i % 3).toInt))))
    val moved4 = near(centers(0)) // id 4 originally in cluster 4%3=1
    val probes = Seq((900L, moved4.map(x => x + 1e-4f)),
      (901L, near(centers(2))))
    val chunks: Seq[Seq[(Long, Seq[Float], String)]] = Seq(
      put100.map { case (i, v) => (i, v, "put") },
      Seq((2L, Seq.empty[Float], "delete"), (8L, Seq.empty[Float], "delete"),
        (4L, moved4, "put")),
      probes.map { case (i, v) => (i, v, "put") })
    val root = java.nio.file.Files.createTempDirectory("ann_live_restart").toString
    def feed(i: Int): Unit =
      chunks(i).toDF("doc_id", "embedding", "op").coalesce(1)
        .write.mode("overwrite").parquet(s"$root/src/f$i")
    val schema = new org.apache.spark.sql.types.StructType()
      .add("doc_id", "long")
      .add("embedding", "array<float>").add("op", "string")
    def start() = Streams.annLiveStoreSink(
      spark.readStream.schema(schema).option("maxFilesPerTrigger", 1)
        .parquet(s"$root/src/f*"),
      mkSeed(), s"$root/out", s"$root/ckpt", k = 2)
    feed(0); feed(1)
    val q1 = start()
    try q1.processAllAvailable() finally q1.stop()
    // the restart: a FRESH sink instance (fresh seed handle, empty
    // in-memory state) over the same dirs — its first batch must fold
    // _state/ops batches 0 and 1 back into the seed before serving
    feed(2)
    val q2 = start()
    try q2.processAllAvailable() finally q2.stop()
    val ref = graft.operators.IvfIndex.build(
      (seedVecs.filterNot(v => Set(2L, 4L, 8L)(v._1)) ++
        put100 :+ ((4L, moved4))).toDF("vec_id", "embedding")
        .select(col("vec_id"), VF.toDouble(col("embedding")).as("v")))
    val expect = Streams.annLookup(probes.toDF("doc_id", "embedding"), ref, k = 2)
      .as[(Long, Long, Long, Double)].collect().toSet
    val got = spark.read.parquet(s"$root/out/lookups/batch_id=2")
      .select("doc_id", "rk", "neighbor_id", "sim")
      .as[(Long, Long, Long, Double)].collect().toSet
    assert(got == expect,
      s"restarted store diverged from the uninterrupted reference: " +
        s"only-stream=${got -- expect} only-ref=${expect -- got}")
    // the moved id answers its twin from the NEW cluster; deleted ids gone
    assert(got.exists { case (d, rk, n, _) => d == 900L && rk == 1L && n == 4L })
    val nbrs = got.map(_._3)
    assert(!nbrs.contains(2L) && !nbrs.contains(8L),
      s"deleted ids resurrected by the restart fold: $nbrs")
    graft.Caches.drain(spark)
  }

  test("live store SOAK: 100 batches with periodic compaction hold a bounded " +
      "footprint, stable latency, and exact final answers") {
    import graft.streaming.Streams
    val VF = graft.functions.VectorFunctions
    val rng = new scala.util.Random(211)
    val dim = 4
    val centers = Seq.fill(3)(Array.fill(dim)(rng.nextGaussian()))
    def near(c: Array[Double]): Seq[Float] =
      c.map(x => (x + rng.nextGaussian() * 0.01).toFloat).toSeq
    val seedVecs = (0L until 40L).map(i => (i, near(centers((i % 3).toInt))))
    val seed = graft.operators.IvfIndex.build(
      seedVecs.toDF("vec_id", "embedding")
        .select(col("vec_id"), VF.toDouble(col("embedding")).as("v")))
    val dir = java.nio.file.Files.createTempDirectory("ann_live_soak").toString
    val in = MemoryStream[(Long, Seq[Float], String)](spark)
    val q = Streams.annLiveStoreSink(
      in.toDF().toDF("doc_id", "embedding", "op"), seed,
      s"$dir/out", s"$dir/ckpt", k = 2)
    // logical state the store must track across the whole run
    val state = scala.collection.mutable.Map(seedVecs: _*)
    val batches = 100
    val compactEvery = 20
    val latency = new Array[Double](batches)
    var maxPersisted = 0
    var maxGens = 0
    (0 until batches).foreach { i =>
      // each batch: one fresh put, one re-put of an existing id (moves
      // cluster), one delete of an existing id — the full CDC mix forever
      val fresh = (1000L + i, near(centers((i % 3))))
      val moveId = state.keys.min
      val moved = near(centers(((i + 1) % 3)))
      val delId = state.keys.max
      val t0 = System.nanoTime()
      in.addData((fresh._1, fresh._2, "put"), (moveId, moved, "put"),
        (delId, Seq.empty[Float], "delete"))
      q.processAllAvailable()
      latency(i) = (System.nanoTime() - t0) / 1e9
      state += fresh; state(moveId) = moved; state -= delId
      if ((i + 1) % compactEvery == 0) {
        Streams.liveStoreCompact(spark, s"$dir/out")
        // the committed prefix folds to ONE generation; only batches since
        // the fold (plus the never-folded top) may pile above it
        val gens = new java.io.File(s"$dir/out/_state/ops").listFiles()
          .count(_.getName.startsWith("batch_id="))
        maxGens = math.max(maxGens, gens)
        assert(gens <= 2, s"log not folding: $gens generations after compact")
      }
      maxPersisted = math.max(maxPersisted,
        spark.sparkContext.getPersistentRDDs.size)
    }
    // footprint: the per-batch localCheckpoint rebase + scoped cache
    // release must hold persisted blocks at O(index), not O(batches) —
    // allow slack for the async ContextCleaner but fail on linear growth
    assert(maxPersisted < 40,
      s"persisted-RDD count grew with batch count: $maxPersisted")
    // latency: the steady state must not drift upward as history grows —
    // compare the middle-decile median to the last-decile median (medians
    // over 10 samples absorb GC/compaction spikes; 2x is far below the
    // O(batches) drift this guards against, which measured >10x pre-fix)
    def median(xs: Array[Double]) = xs.sorted.apply(xs.length / 2)
    val mid = median(latency.slice(40, 50))
    val late = median(latency.slice(90, 100))
    assert(late <= mid * 2.0,
      s"per-batch latency drifting: median batch 40-50 = $mid s, " +
        s"batch 90-100 = $late s")
    // exactness after the full run: probe lookups (batch 100) must answer
    // identically to a fresh index built over the logical survivor set —
    // 100 batches of upserts/deletes plus five compactions must not have
    // drifted the store's membership or geometry
    val probes = Seq((9000L, near(centers(0))), (9001L, near(centers(1))),
      (9002L, near(centers(2))))
    in.addData(probes.map { case (i, v) => (i, v, "put") }: _*)
    q.processAllAvailable(); q.stop()
    val ref = graft.operators.IvfIndex.build(
      state.toSeq.sortBy(_._1).toDF("vec_id", "embedding")
        .select(col("vec_id"), VF.toDouble(col("embedding")).as("v")))
    val expect = Streams.annLookup(
        probes.toDF("doc_id", "embedding"), ref, k = 2)
      .as[(Long, Long, Long, Double)].collect().toSet
    val got = spark.read.parquet(s"$dir/out/lookups/batch_id=$batches")
      .select("doc_id", "rk", "neighbor_id", "sim")
      .as[(Long, Long, Long, Double)].collect().toSet
    assert(got == expect,
      s"soaked store diverged from the survivor-built index: " +
        s"only-stream=${got -- expect} only-ref=${expect -- got}")
    graft.Caches.drain(spark)
  }

  test("live store log compaction folds to one generation and restarts " +
      "onto identical membership") {
    import graft.streaming.Streams
    val VF = graft.functions.VectorFunctions
    val rng = new scala.util.Random(157)
    val centers = Seq.fill(3)(Array.fill(6)(rng.nextGaussian()))
    def near(c: Array[Double]): Seq[Float] =
      c.map(x => (x + rng.nextGaussian() * 0.01).toFloat).toSeq
    val seedVecs = (0L until 45L).map(i => (i, near(centers((i % 3).toInt))))
    def mkSeed() = graft.operators.IvfIndex.build(
      seedVecs.toDF("vec_id", "embedding")
        .select(col("vec_id"), VF.toDouble(col("embedding")).as("v")))
    val put100 = (100L until 104L).map(i => (i, near(centers((i % 3).toInt))))
    val moved4 = near(centers(0))
    val probes = Seq((900L, moved4.map(x => x + 1e-4f)),
      (901L, near(centers(2))))
    // batch 2 deletes id 100 (a key that exists ONLY in the log — its
    // fold must still not resurrect it) and id 2 (a seed key, whose
    // tombstone the fold must keep), and moves id 4. Puts are split over
    // two batches so compaction has a committed prefix of ≥2 generations
    // below the top one (which it must leave alone: the top may belong to
    // an uncommitted batch).
    val chunks: Seq[Seq[(Long, Seq[Float], String)]] = Seq(
      put100.take(2).map { case (i, v) => (i, v, "put") },
      put100.drop(2).map { case (i, v) => (i, v, "put") },
      Seq((2L, Seq.empty[Float], "delete"), (100L, Seq.empty[Float], "delete"),
        (4L, moved4, "put")),
      probes.map { case (i, v) => (i, v, "put") })
    val root = java.nio.file.Files.createTempDirectory("ann_live_compact").toString
    def feed(i: Int): Unit =
      chunks(i).toDF("doc_id", "embedding", "op").coalesce(1)
        .write.mode("overwrite").parquet(s"$root/src/f$i")
    val schema = new org.apache.spark.sql.types.StructType()
      .add("doc_id", "long")
      .add("embedding", "array<float>").add("op", "string")
    def start() = Streams.annLiveStoreSink(
      spark.readStream.schema(schema).option("maxFilesPerTrigger", 1)
        .parquet(s"$root/src/f*"),
      mkSeed(), s"$root/out", s"$root/ckpt", k = 2)
    feed(0); feed(1); feed(2)
    val q1 = start()
    try q1.processAllAvailable() finally q1.stop()
    assert(new java.io.File(s"$root/out/_state/ops").listFiles()
      .count(_.getName.startsWith("batch_id=")) == 3)
    val folded = Streams.liveStoreCompact(spark, s"$root/out")
    assert(folded == 2, s"expected 2 generations folded, got $folded")
    // the committed prefix [0,1] folds into 1; the TOP generation (2) is
    // never folded — it may belong to a mid-batch crash whose replay
    // reads strictly before it
    val gens = new java.io.File(s"$root/out/_state/ops").listFiles()
      .filter(_.getName.startsWith("batch_id=")).map(_.getName).toSeq.sorted
    assert(gens == Seq("batch_id=1", "batch_id=2"),
      s"log not folded below the top id: $gens")
    feed(3)
    val q2 = start()
    try q2.processAllAvailable() finally q2.stop()
    val ref = graft.operators.IvfIndex.build(
      (seedVecs.filterNot(v => Set(2L, 4L)(v._1)) ++
        put100.filterNot(_._1 == 100L) :+ ((4L, moved4)))
        .toDF("vec_id", "embedding")
        .select(col("vec_id"), VF.toDouble(col("embedding")).as("v")))
    val expect = Streams.annLookup(probes.toDF("doc_id", "embedding"), ref, k = 2)
      .as[(Long, Long, Long, Double)].collect().toSet
    val got = spark.read.parquet(s"$root/out/lookups/batch_id=3")
      .select("doc_id", "rk", "neighbor_id", "sim")
      .as[(Long, Long, Long, Double)].collect().toSet
    assert(got == expect,
      s"compacted-log restart diverged: only-stream=${got -- expect} " +
        s"only-ref=${expect -- got}")
    val nbrs = got.map(_._3)
    assert(!nbrs.contains(2L) && !nbrs.contains(100L),
      s"compaction resurrected a deleted id: $nbrs")
    graft.Caches.drain(spark)
  }

  test("live vector store: killed mid-batch TWICE (after lookups, after " +
      "ops log), restarted — probes match a fresh survivor-built index") {
    import graft.streaming.Streams
    val VF = graft.functions.VectorFunctions
    // Two kill points cover both halves of the batch body's commit window:
    //   run 1 dies after batch 1's LOOKUPS write — the ops-log entry is
    //     missing, so the replay must recompute the batch from a fold of
    //     generations strictly before 1 (only batch 0);
    //   run 2 dies after batch 1's OPS write — the log entry for batch 1
    //     IS on disk but its batch never committed, so the replay's fold
    //     must IGNORE it (strictly-before), not double-apply it.
    val rng = new scala.util.Random(211)
    val centers = Seq.fill(3)(Array.fill(6)(rng.nextGaussian()))
    def near(c: Array[Double]): Seq[Float] =
      c.map(x => (x + rng.nextGaussian() * 0.01).toFloat).toSeq
    val seedVecs = (0L until 45L).map(i => (i, near(centers((i % 3).toInt))))
    def mkSeed() = graft.operators.IvfIndex.build(
      seedVecs.toDF("vec_id", "embedding")
        .select(col("vec_id"), VF.toDouble(col("embedding")).as("v")))
    val put100 = (100L until 104L).map(i => (i, near(centers((i % 3).toInt))))
    val moved4 = near(centers(0)) // id 4 originally in cluster 4%3=1
    val probes = Seq((900L, moved4.map(x => x + 1e-4f)),
      (901L, near(centers(2))))
    val chunks: Seq[Seq[(Long, Seq[Float], String)]] = Seq(
      put100.map { case (i, v) => (i, v, "put") },
      Seq((2L, Seq.empty[Float], "delete"), (8L, Seq.empty[Float], "delete"),
        (4L, moved4, "put")),
      probes.map { case (i, v) => (i, v, "put") })
    val root = java.nio.file.Files.createTempDirectory("ann_live_kill").toString
    def feed(i: Int): Unit =
      chunks(i).toDF("doc_id", "embedding", "op").coalesce(1)
        .write.mode("overwrite").parquet(s"$root/src/f$i")
    val schema = new org.apache.spark.sql.types.StructType()
      .add("doc_id", "long")
      .add("embedding", "array<float>").add("op", "string")
    def start(crashAt: Option[(Long, String)]) = Streams.annLiveStoreSink(
      spark.readStream.schema(schema).option("maxFilesPerTrigger", 1)
        .parquet(s"$root/src/f*"),
      mkSeed(), s"$root/out", s"$root/ckpt", k = 2,
      onBatchProgress = (bid, stage) =>
        if (crashAt.contains((bid, stage)))
          throw new RuntimeException(s"injected kill at batch $bid/$stage"))
    feed(0); feed(1)
    val q1 = start(Some((1L, "lookups")))
    val e1 = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      q1.processAllAvailable()
    }
    assert(e1.getMessage.contains("injected kill")); q1.stop()
    // the dangerous partial state is really on disk: batch 1's lookups
    // written, its ops-log entry missing
    assert(new java.io.File(s"$root/out/lookups/batch_id=1").exists())
    assert(!new java.io.File(s"$root/out/_state/ops/batch_id=1").exists())
    val q2 = start(Some((1L, "ops")))
    val e2 = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      q2.processAllAvailable()
    }
    assert(e2.getMessage.contains("injected kill")); q2.stop()
    // now the opposite half: the log entry exists, the batch never
    // committed (audit is written after ops, so it must be absent)
    assert(new java.io.File(s"$root/out/_state/ops/batch_id=1").exists())
    assert(!new java.io.File(s"$root/out/_audit/batch_id=1").exists())
    feed(2)
    val q3 = start(None)
    try q3.processAllAvailable() finally q3.stop()
    // probes answer from the survivor membership — a double-fold of batch
    // 1's ops (deletes applied twice, or the moved id appended twice)
    // could not match a fresh build over the logical survivor set
    val ref = graft.operators.IvfIndex.build(
      (seedVecs.filterNot(v => Set(2L, 4L, 8L)(v._1)) ++
        put100 :+ ((4L, moved4))).toDF("vec_id", "embedding")
        .select(col("vec_id"), VF.toDouble(col("embedding")).as("v")))
    val expect = Streams.annLookup(probes.toDF("doc_id", "embedding"), ref, k = 2)
      .as[(Long, Long, Long, Double)].collect().toSet
    val got = spark.read.parquet(s"$root/out/lookups/batch_id=2")
      .select("doc_id", "rk", "neighbor_id", "sim")
      .as[(Long, Long, Long, Double)].collect().toSet
    assert(got == expect,
      s"kill-restart store diverged from the survivor-built index: " +
        s"only-stream=${got -- expect} only-ref=${expect -- got}")
    assert(got.exists { case (d, rk, n, _) => d == 900L && rk == 1L && n == 4L },
      s"re-put id 4 should answer its twin probe from the NEW cluster: $got")
    val nbrs = got.map(_._3)
    assert(!nbrs.contains(2L) && !nbrs.contains(8L),
      s"deleted ids resurrected by the kill-restart sequence: $nbrs")
    // exactly one committed generation per batch — no duplicate fold input
    val gens = new java.io.File(s"$root/out/_state/ops").listFiles()
      .filter(_.getName.startsWith("batch_id=")).map(_.getName).toSeq.sorted
    assert(gens == Seq("batch_id=0", "batch_id=1", "batch_id=2"),
      s"unexpected ops generations: $gens")
    graft.Caches.drain(spark)
  }

  test("streaming ANN lookup matches batch knnExact row-for-row") {
    import graft.streaming.Streams
    val rng = new scala.util.Random(43)
    val centers = Seq.fill(4)(Array.fill(5)(rng.nextGaussian()))
    val corpusVecs = (0L until 80L).map { i =>
      val c = centers((i % 4).toInt)
      (i, c.map(x => (x + rng.nextGaussian() * 0.01).toFloat).toSeq)
    }
    val corpus = corpusVecs.toDF("vec_id", "embedding")
      .select(col("vec_id"),
        graft.functions.VectorFunctions.toDouble(col("embedding")).as("v"))
    val idx = graft.operators.IvfIndex.build(corpus)
    // incoming: perturbed members of two different clusters
    val incoming = Seq(
      (100L, corpusVecs(1)._2.map(x => x + 2e-4f)),
      (101L, corpusVecs(2)._2.map(x => x + 2e-4f)))
    val batchExpected = Streams.annLookup(
      incoming.toDF("doc_id", "embedding"), idx, k = 3)
      .as[(Long, Long, Long, Double)].collect().toSet
    assert(batchExpected.size == 6, s"expected 2 queries x k=3: $batchExpected")
    val dir = java.nio.file.Files.createTempDirectory("ann_lookup").toString
    val in = MemoryStream[(Long, Seq[Float])](spark)
    val q = Streams.annLookupSink(in.toDF().toDF("doc_id", "embedding"), idx,
      s"$dir/out", s"$dir/ckpt", k = 3)
    in.addData(incoming: _*)
    q.processAllAvailable(); q.stop()
    val streamed = spark.read.parquet(s"$dir/out/batch_id=*")
      .select("doc_id", "rk", "neighbor_id", "sim")
      .as[(Long, Long, Long, Double)].collect().toSet
    assert(streamed == batchExpected,
      s"stream/batch mismatch: only-stream=${streamed -- batchExpected} " +
        s"only-batch=${batchExpected -- streamed}")
    graft.Caches.drain(spark)
  }

  test("streaming DSIR screen scores cell-identically to the batch x4_dsir " +
      "pipeline; unseen buckets take the smoothed default") {
    import graft.streaming.Streams
    // offline half: train the delta table on the corpus
    val d = graft.Tables.load(spark, SparkTestSession.sfDir, "documents")
      .select(col("doc_id"), col("text"))
    val (deltas, default) = graft.queries.Llm.dsirDeltaMap(spark, d)
    assert(deltas.nonEmpty && deltas.size <= 1024)
    assert(default != 0L, "smoothed default for unseen buckets must not be 0")
    // batch reference: the same per-doc (n_tokens, logw_e6) the x4_dsir
    // query computes before its Gumbel draw — via the SHARED helpers
    val tok = graft.queries.Llm.dsirTok(d)
    val batch = tok
      .join(broadcast(graft.queries.Llm.dsirDeltasFromTok(tok)), "b")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_tokens"), sum("d_e6").as("logw_e6"))
      .as[(Long, Long, Long)].collect().toSet
    // online half: stream the SAME documents through the frozen screen
    val in = MemoryStream[(Long, String)](spark)
    val screened = Streams.dsirScreen(in.toDF().toDF("doc_id", "text"),
      deltas, default, minLogwE6 = 0L)
    assert(screened.isStreaming, "screen must stay a streaming plan")
    val q = screened.writeStream.format("memory")
      .queryName("dsir_screen").outputMode("append").start()
    val docsLocal = d.as[(Long, String)].collect().toSeq
    in.addData(docsLocal: _*)
    q.processAllAvailable(); q.stop()
    val streamed = spark.table("dsir_screen")
      .select("doc_id", "n_tokens", "logw_e6")
      .as[(Long, Long, Long)].collect().toSet
    assert(streamed == batch,
      s"online/offline DSIR scores diverged: only-stream=" +
        s"${(streamed -- batch).take(3)} only-batch=${(batch -- streamed).take(3)}")
    // admission threshold behaves: everything scores, flag = logw >= min
    val flags = spark.table("dsir_screen")
      .select("doc_id", "logw_e6", "admitted")
      .as[(Long, Long, Boolean)].collect()
    assert(flags.forall { case (_, w, a) => a == (w >= 0L) })
    graft.Caches.drain(spark)
  }

  test("DSIR live screen adopts an atomic delta-map retrain at the batch " +
      "boundary; an idempotent swap is cell-identical") {
    import graft.streaming.Streams
    val d = graft.Tables.load(spark, SparkTestSession.sfDir, "documents")
      .select(col("doc_id"), col("text"))
    val dir = java.nio.file.Files.createTempDirectory("dsir_live").toString
    val art = s"$dir/artifact"
    graft.queries.Llm.dsirArtifactInit(spark, d, art)
    assert(graft.sources.Snapshot.currentGen(art).contains(0L))
    val docsLocal = d.as[(Long, String)].collect().toSeq
    val in = MemoryStream[(Long, String)](spark)
    val q = Streams.dsirScreenSink(in.toDF().toDF("doc_id", "text"), art,
      minLogwE6 = 0L, s"$dir/out", s"$dir/ckpt")
    def feed(): Unit = { in.addData(docsLocal: _*); q.processAllAvailable() }
    feed() // batch 0 scores under generation 0
    // IDEMPOTENT swap: retrain on the SAME corpus — new generation,
    // identical content; the screen must score cell-identically across
    // the boundary (the safety property of a routine artifact refresh)
    assert(graft.queries.Llm.dsirArtifactRetrain(spark, d, art) == 1L)
    feed() // batch 1 scores under generation 1
    // REAL retrain: extend the corpus with junk docs (new vocabulary,
    // fails the target heuristic) — the deltas genuinely change
    val junk = (0 until 60).map(i =>
      ((900000 + i).toLong, Array.fill(30)("zzjunk" + (i % 7)).mkString(" ")))
    val d2 = d.unionByName(junk.toDF("doc_id", "text"))
    assert(graft.queries.Llm.dsirArtifactRetrain(spark, d2, art) == 2L)
    feed() // batch 2 scores under generation 2
    q.stop()
    def batchRows(b: Int) = spark.read.parquet(s"$dir/out/batch_id=$b")
      .select("doc_id", "n_tokens", "logw_e6", "admitted", "delta_gen")
      .as[(Long, Long, Long, Boolean, Long)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4, r._5))).toMap
    val b0 = batchRows(0); val b1 = batchRows(1); val b2 = batchRows(2)
    assert(b0.values.forall(_._4 == 0L) && b1.values.forall(_._4 == 1L) &&
      b2.values.forall(_._4 == 2L), "delta_gen must stamp the scoring artifact")
    // idempotent swap: identical scores, only the generation stamp moved
    assert(b0.keySet == b1.keySet &&
      b0.forall { case (k, (n, w, a, _)) =>
        val (n1, w1, a1, _) = b1(k); n == n1 && w == w1 && a == a1 },
      "an idempotent artifact swap changed scores")
    // real retrain: batch 2 must equal the frozen screen under the NEW map
    // (loaded directly) and actually differ from the generation-0 scores
    val (m2, dflt2, _) = graft.queries.Llm.dsirArtifactLoad(spark, art)
    val expect2 = Streams.dsirScreen(
        docsLocal.toDF("doc_id", "text"), m2, dflt2, minLogwE6 = 0L)
      .select("doc_id", "n_tokens", "logw_e6", "admitted")
      .as[(Long, Long, Long, Boolean)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    assert(b2.forall { case (k, (n, w, a, _)) => expect2(k) == ((n, w, a)) },
      "post-retrain stream scores diverged from the frozen screen on the new map")
    assert(b2.exists { case (k, (_, w, _, _)) => b0(k)._2 != w },
      "the retrain changed no score — the swap cannot have taken effect")
    graft.Caches.drain(spark)
  }

  test("DSIR live screen under a retrain RACE: the losing CAS fails loudly, " +
      "the next batch scores the winner's generation cell-identically") {
    import graft.streaming.Streams
    val d = graft.Tables.load(spark, SparkTestSession.sfDir, "documents")
      .select(col("doc_id"), col("text"))
    val dir = java.nio.file.Files.createTempDirectory("dsir_cas").toString
    val art = s"$dir/artifact"
    graft.queries.Llm.dsirArtifactInit(spark, d, art)
    val docsLocal = d.as[(Long, String)].collect().toSeq
    val in = MemoryStream[(Long, String)](spark)
    val q = Streams.dsirScreenSink(in.toDF().toDF("doc_id", "text"), art,
      minLogwE6 = 0L, s"$dir/out", s"$dir/ckpt")
    in.addData(docsLocal: _*); q.processAllAvailable() // batch 0 at gen 0
    // two retrains race mid-stream: the WINNER (changed corpus) commits
    // inside the loser's staging window — the loser's compare-and-swap
    // must fail loudly, never interleave generations
    val junk = (0 until 40).map(i =>
      ((800000 + i).toLong, Array.fill(25)("qqjunk" + (i % 5)).mkString(" ")))
    val dWinner = d.unionByName(junk.toDF("doc_id", "text"))
    val loser = intercept[java.util.ConcurrentModificationException] {
      graft.sources.Snapshot.update(spark, art,
        onStaged = () => {
          graft.queries.Llm.dsirArtifactRetrain(spark, dWinner, art): Unit
        })(_ => graft.queries.Llm.dsirArtifactFrame(spark, d))
    }
    assert(loser.getMessage.contains("moved"),
      s"CAS loss must name the pointer move: ${loser.getMessage}")
    assert(graft.sources.Snapshot.currentGen(art).contains(1L),
      "only the winner's generation may commit")
    in.addData(docsLocal: _*); q.processAllAvailable() // batch 1 at gen 1
    q.stop()
    val (m1, dflt1, gen1) = graft.queries.Llm.dsirArtifactLoad(spark, art)
    assert(gen1 == 1L)
    val got = spark.read.parquet(s"$dir/out/batch_id=1")
      .select("doc_id", "n_tokens", "logw_e6", "admitted", "delta_gen")
      .as[(Long, Long, Long, Boolean, Long)].collect()
    assert(got.forall(_._5 == 1L),
      "batch 1 must be stamped with the winner's generation")
    val expect = Streams.dsirScreen(
        docsLocal.toDF("doc_id", "text"), m1, dflt1, minLogwE6 = 0L)
      .select("doc_id", "n_tokens", "logw_e6", "admitted")
      .as[(Long, Long, Long, Boolean)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    assert(got.forall { case (k, n, w, a, _) => expect(k) == ((n, w, a)) },
      "post-race stream scores diverged from the frozen screen on the " +
        "winner's map")
    val b0 = spark.read.parquet(s"$dir/out/batch_id=0")
      .select("doc_id", "logw_e6").as[(Long, Long)].collect().toMap
    assert(got.exists { case (k, _, w, _, _) => b0(k) != w },
      "the winner's retrain changed no score — the swap cannot have landed")
    graft.Caches.drain(spark)
  }

  test("dsirScreen with an EMPTY delta map scores every token at the default") {
    import graft.streaming.Streams
    // regression: an empty map literal used to type as map<null,null> and
    // fail element_at's analysis — the screen must fall back to the
    // all-default score instead
    val df = Seq((1L, "a b c"), (2L, "x")).toDF("doc_id", "text")
    val got = Streams.dsirScreen(df, Map.empty, defaultE6 = 7L, minLogwE6 = 20L)
      .select("doc_id", "n_tokens", "logw_e6", "admitted")
      .as[(Long, Long, Long, Boolean)].collect().toSet
    assert(got == Set((1L, 3L, 21L, true), (2L, 1L, 7L, false)))
  }

  test("streaming quality screen gates on length, stopwords, and repetition") {
    val in = MemoryStream[(Long, String)](spark)
    val screened = Streams.qualityScreen(in.toDF().toDF("doc_id", "text"))
    assert(screened.isStreaming, "screen must stay a streaming plan")
    val q = screened.writeStream.format("memory")
      .queryName("quality_screen").outputMode("append").start()
    in.addData(
      (1L, "the quick brown fox jumps over a lazy dog"), // clean -> admitted
      (2L, "too short"),                                 // < 5 tokens
      (3L, "quick brown fox jumps dog cat fish bird"),   // no stopwords
      (4L, "the spam x y " + Array.fill(40)("spam x y").mkString(" ")))
    q.processAllAvailable(); q.stop()
    val rows = spark.table("quality_screen")
      .select("doc_id", "admitted", "reason")
      .as[(Long, Boolean, Option[String])].collect()
      .map { case (k, v, r) => k -> ((v, r)) }.toMap
    assert(rows(1L) == ((true, None)))
    assert(rows(2L) == ((false, Some("too_short"))))
    assert(rows(3L) == ((false, Some("no_stopwords"))))
    assert(rows(4L) == ((false, Some("repetitive"))), s"got ${rows(4L)}")
  }

  test("S1 generatorRateStream is a streaming Dataset[Reading] (rate-source driver)") {
    val ds = graft.streaming.Streams.generatorRateStream(spark, nDevices = 3,
      rowsPerSecond = 50)
    assert(ds.isStreaming)
    assert(ds.columns.toSet == Set("device_id", "timestamp", "location_id",
      "location_name", "coordinates", "readings", "status"))
  }

  test("S1 synthetic rate stream yields the reading schema") {
    val df = Streams.syntheticReadingStream(spark, nDevices = 4, rowsPerSecond = 100)
    assert(df.isStreaming)
    assert(df.columns.toSet == Set("device_id", "timestamp", "temperature", "status"))
  }

  test("curation pipeline: killed mid-batch TWICE, restarted from the same " +
      "checkpoint+state — decisions match an uncrashed run at every batch") {
    import org.apache.spark.sql.functions.col
    // The composed pipeline carries strictly more state than keyedParquetSink
    // (digest registry + token inversion + member->rep snapshots), and its
    // recovery contract is subtler: a replayed batch must recompute from the
    // strictly-before state generations, ignoring the partial writes its
    // crashed attempt left at its own batch id. Two kill points cover both
    // halves of the window:
    //   run 1 dies after batch 1's TOKS write  — partial state (digests +
    //     toks durable, memrep + decisions missing);
    //   run 2 dies after batch 2's DECISIONS write — everything durable but
    //     the epoch uncommitted (the classic replay-with-same-id case).
    val docs = graft.Tables.load(spark, SparkTestSession.sfDir, "documents")
      .select(col("doc_id"), col("text")).orderBy("doc_id")
      .as[(Long, String)].collect().take(300)
    val chunks = docs.grouped(100).toSeq
    def writeSource(root: String): Unit =
      // sequential writes => increasing mtimes => the file source (one file
      // per trigger) feeds chunks as batches 0,1,2 in doc_id order
      chunks.zipWithIndex.foreach { case (c, i) =>
        c.toSeq.toDF("doc_id", "text").coalesce(1)
          .write.mode("overwrite").parquet(s"$root/src/f$i")
      }
    val schema = new org.apache.spark.sql.types.StructType()
      .add("doc_id", "long").add("text", "string")
    def start(root: String, crashAt: Option[(Long, String)]) = {
      val src = spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1).parquet(s"$root/src/f*")
      Streams.curationPipelineSink(src, s"$root/out", s"$root/ckpt", t = 0.9,
        onBatchProgress = (bid, stage) =>
          if (crashAt.contains((bid, stage)))
            throw new RuntimeException(s"injected kill at batch $bid/$stage"))
    }
    def decisions(root: String, b: Int): Set[(Long, String)] =
      spark.read.parquet(s"$root/out/decisions/batch_id=$b")
        .select("doc_id", "outcome").as[(Long, String)].collect().toSet
    // control: same chunks, no crash
    val ok = java.nio.file.Files.createTempDirectory("graft_cur_ctl").toString
    writeSource(ok)
    val qOk = start(ok, None)
    try qOk.processAllAvailable() finally qOk.stop()
    // crashing run
    val cr = java.nio.file.Files.createTempDirectory("graft_cur_kill").toString
    writeSource(cr)
    val q1 = start(cr, Some((1L, "toks")))
    val e1 = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      q1.processAllAvailable()
    }
    assert(e1.getMessage.contains("injected kill")); q1.stop()
    // the dangerous partial state is really on disk: batch 1's digests and
    // toks committed, its memrep and decisions absent
    assert(new java.io.File(s"$cr/out/_state/digests/batch_id=1").exists())
    assert(new java.io.File(s"$cr/out/_state/toks/batch_id=1").exists())
    assert(!new java.io.File(s"$cr/out/_state/memrep/batch_id=1").exists())
    assert(!new java.io.File(s"$cr/out/decisions/batch_id=1").exists())
    val q2 = start(cr, Some((2L, "decisions")))
    val e2 = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      q2.processAllAvailable()
    }
    assert(e2.getMessage.contains("injected kill")); q2.stop()
    // batch 2 fully durable, epoch uncommitted — the replay-same-id window
    assert(new java.io.File(s"$cr/out/decisions/batch_id=2").exists())
    val q3 = start(cr, None)
    try q3.processAllAvailable() finally q3.stop()
    // decision parity at EVERY batch (the control run's parity with the
    // batch funnel is pinned by the per-stage survivor test above)
    (0 until chunks.length).foreach { b =>
      assert(decisions(cr, b) == decisions(ok, b),
        s"batch $b decisions diverged after the kill-restart sequence")
    }
    // and end-to-end: cumulative survivor set equals the batch funnel's
    // (containment stage included)
    val all = (0 until chunks.length).flatMap(b => decisions(cr, b))
    val byOutcome = all.groupBy(_._2).map { case (k, v) =>
      k -> v.map(_._1).toSet }.withDefaultValue(Set.empty[Long])
    val survivors = byOutcome("admitted") --
      byOutcome("retracted_near_dup") -- byOutcome("retracted_containment")
    val (_, keepers, reps) = graft.queries.Llm.curationStages(
      spark, docs.toSeq.toDF("doc_id", "text"))
    val bSurv = reps.select("doc_id").as[Long].collect().toSet --
      graft.queries.Llm.curationContainmentRejects(keepers)
        .as[Long].collect().toSet
    graft.Caches.drain(spark)
    assert(survivors == bSurv,
      "post-recovery survivor set diverged from the batch funnel")
  }

  test("curation pipeline: steady batches fit Spark's codegen cache and a " +
      "per-batch job budget") {
    import org.apache.spark.metrics.source.CodegenMetrics
    import org.apache.spark.sql.functions.col
    // Spark caches compiled classes by (class loader, source text) in a
    // 100-entry LRU of four segments. A batch whose plans generate more
    // classes than a segment holds recompiles them every batch, identical
    // to the last. Steady batches that fit compile next to nothing.
    // 20-doc batches of the documents table, like the benchmark's ingest.
    val docs = graft.Tables.load(spark, SparkTestSession.sfDir, "documents")
      .select(col("doc_id"), col("text")).orderBy("doc_id")
      .as[(Long, String)].collect().take(160)
    val (warm, steady) = docs.grouped(20).toSeq.splitAt(3)
    val dir = java.nio.file.Files.createTempDirectory("graft_cur_codegen").toString
    val in = MemoryStream[(Long, String)](spark)
    val q = Streams.curationPipelineSink(
      in.toDF().toDF("doc_id", "text"), s"$dir/out", s"$dir/ckpt", t = 0.9)
    def compilations = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    try {
      warm.foreach { c => in.addData(c.toSeq); q.processAllAvailable() }
      val comp0 = compilations
      // the stream runs every batch's jobs under its run id as job group
      val steadyJobs = graft.QueryProfile.of(spark, group = Some(q.runId.toString)) {
        steady.foreach { c => in.addData(c.toSeq); q.processAllAvailable() }
      }.jobs.size
      val jobsPerBatch = steadyJobs.toDouble / steady.length
      val compPerBatch = (compilations - comp0).toDouble / steady.length
      info(f"steady batch: $jobsPerBatch%.1f jobs, $compPerBatch%.1f compilations")
      // Measured: 25 jobs; 0.4 compilations, or 23 in the ~1 in 10 test
      // JVMs where one cache segment overflows (a key hashes the class
      // loader too, so the segments differ per JVM). The old sink ran 63.2
      // jobs and 146 compilations: plans that no longer fit recompile
      // every class, every batch.
      assert(compPerBatch <= 40,
        s"$compPerBatch compilations per steady batch: the sink's plans " +
          "no longer fit the codegen cache")
      assert(jobsPerBatch <= 30, s"$jobsPerBatch jobs per steady batch")
    } finally q.stop()
  }
}
