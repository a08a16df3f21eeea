package graft

import org.scalatest.funsuite.AnyFunSuite

/** t1-shaped smoke over every registered query on sf0.001: runs, nonempty,
  * and (where an oracle exists) its column set matches what the oracle SQL
  * aliases — the driver sorts columns by name before hashing, so a name
  * mismatch is an automatic t2 failure even with identical values.
  */
class QueriesSpec extends AnyFunSuite {
  import SparkTestSession.{spark, sfDir}

  test("entry returns rows on sf0.001") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("every oracle key has a matching query") {
    val missing = SparkEntry.oracleSql.keySet -- SparkEntry.queries.keySet
    assert(missing.isEmpty, s"oracle without query: $missing")
  }

  test("warm-up query (untimed) absorbs session start-up cost") {
    // the first registry query in a fresh JVM otherwise pays codegen/JIT,
    // parquet-footer, and shuffle-machinery warm-up inside ITS 30 s budget
    // — the same reason Bench warms up before its timed rounds
    SparkEntry.queries("q_events_type_count")(spark, sfDir).count(): Unit
    graft.Caches.drain(spark)
  }

  SparkEntry.registry.foreach { q =>
    test(s"${q.name} runs and returns rows") {
      val t0 = System.nanoTime()
      val df = q.fn(spark, sfDir)
      assert(df.count() > 0, s"${q.name} returned no rows on sf0.001")
      val dt = (System.nanoTime() - t0) / 1e9
      // generous wall-time budget: every query runs sub-second-to-~2s at
      // sf0.001, so a 10x plan regression (lost broadcast, surprise
      // cartesian, upstream re-run) fails HERE instead of waiting for the
      // round bench; the slack absorbs documented ~2x host variance + JIT
      assert(dt < 30.0, f"${q.name} took $dt%.1fs at sf0.001 — plan regression?")
      // same per-query hygiene as Bench/Verify
      graft.Caches.drain(spark)
    }
  }

  test("no registered query emits DecimalType columns") {
    // Spark parses exact literals (e.g. `/ 10000.0` after an integer div) as
    // Decimal, while the DuckDB oracle emits DOUBLE — identical values then
    // hash-mismatch on type alone (bit r04: q_iot_location_stats). Gate the
    // whole registry: schemas are analysis-only, no execution needed.
    import org.apache.spark.sql.types._
    def decimals(dt: DataType, path: String): Seq[String] = dt match {
      case _: DecimalType => Seq(path)
      case s: StructType => s.fields.flatMap(f => decimals(f.dataType, s"$path.${f.name}")).toSeq
      case a: ArrayType => decimals(a.elementType, s"$path[]")
      case m: MapType => decimals(m.keyType, s"$path.key") ++ decimals(m.valueType, s"$path.value")
      case _ => Nil
    }
    // drain after each build: a build's persisted frames (and the ones its
    // gate counts prime eagerly) must not pile up across 158 builds
    val offenders = SparkEntry.registry.flatMap { q =>
      try decimals(q.fn(spark, sfDir).schema, q.name)
      finally graft.Caches.drain(spark)
    }
    assert(offenders.isEmpty, s"DecimalType in query output (cast to double): $offenders")
  }

  test("q_approx_distinct: the raw HLL estimate is within 3·rsd of exact") {
    // the registered query's driver-checked output pins this invariant as a
    // boolean; here the RAW estimate is asserted per group so a sketch
    // regression fails with the actual relative error, not just a 0 flag
    import org.apache.spark.sql.functions._
    val per = Tables.load(spark, sfDir, "lineitem")
      .groupBy("l_returnflag")
      .agg(approx_count_distinct(col("l_partkey"), 0.05).as("approx"),
           countDistinct(col("l_partkey")).as("exact"))
      .collect()
    assert(per.nonEmpty)
    per.foreach { r =>
      val (flag, approx, exact) = (r.getString(0), r.getLong(1), r.getLong(2))
      val relErr = math.abs(approx - exact).toDouble / exact
      assert(relErr <= 0.15,
        s"flag=$flag approx=$approx exact=$exact relErr=$relErr > 3*rsd")
    }
  }

  test("Caches.drain releases a cache-heavy query's persisted frames") {
    graft.queries.Dashboard.clearCache(spark)
    graft.Caches.drain(spark)
    spark.catalog.clearCache()
    val cm = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sharedState.cacheManager
    // this query persists its tokenization + distinct-set frames
    SparkEntry.queries("x2_jaccard_exact")(spark, sfDir).count()
    assert(!cm.isEmpty, "expected registered persists while the query's caches are live")
    graft.Caches.drain(spark)
    assert(cm.isEmpty, "Caches.drain left cached plans behind")
  }

  test("Tables.parallelizeSmall: repartitions small batch scans, leaves " +
      "big tables and streaming frames untouched") {
    val small = Tables.load(spark, sfDir, "documents")
    val p = Tables.parallelizeSmall(small)
    // small table (one row group, file under the gate) fans out to the
    // session's parallelism; rows are unchanged
    assert(p.rdd.getNumPartitions == spark.sparkContext.defaultParallelism)
    assert(p.count() == small.count())
    // above-gate tables pass through as the SAME frame (no repartition node)
    spark.conf.set("graft.smallScanShuffleBytes", "0")
    try assert(Tables.parallelizeSmall(small) eq small)
    finally spark.conf.unset("graft.smallScanShuffleBytes")
    // streaming frames must pass through untouched: forcing a batch
    // queryExecution on a streaming plan throws (the r13 StreamingSpec
    // phash-screen regression)
    val stream = spark.readStream.format("rate").load()
    assert(stream.isStreaming && (Tables.parallelizeSmall(stream) eq stream))
  }

  test("the end-of-run cache release leaves no cached frames behind") {
    // the queries above persisted Dashboard memo / dedup / IVF frames;
    // Verify and Bench end with exactly this release sequence
    graft.queries.Dashboard.clearCache(spark)
    graft.queries.Llm.clearCache(spark)
    spark.catalog.clearCache()
    val cm = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sharedState.cacheManager
    assert(cm.isEmpty, "cacheManager still holds cached plans after clear")
  }
}
