package graft

import graft.gen.Generator
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.Files

/** S3/S4 sink round-trips (iot-data-stream.py:299-346) and the one
  * schema-on-read path (SURVEY.md §1.3): generator output written as
  * JSON / CSV / keyed parquet must read back losslessly enough to run the
  * dashboard analytics on.
  */
class SourcesSpec extends AnyFunSuite {
  private val spark = SparkTestSession.spark
  import spark.implicits._

  private lazy val flat =
    Generator.flatten(Generator.readings(spark, nDevices = 8, ticks = 20)).cache()

  test("S3 JSON sink round-trips with schema inference (schema-on-read)") {
    val dir = Files.createTempDirectory("graft-json").toString
    flat.write.mode("overwrite").json(dir)
    // schema-on-read: infer like the reference's dynamic pandas frame
    val back = spark.read.json(dir)
    assert(back.count() == flat.count())
    assert(back.columns.contains("device_id") && back.columns.contains("status"))
    // numeric columns infer as numbers, not strings
    assert(back.schema("latitude").dataType.typeName == "double")
  }

  test("S4 CSV sink round-trips the wide schema with nulls for absent sensors") {
    val dir = Files.createTempDirectory("graft-csv").toString
    flat.write.mode("overwrite").option("header", "true").csv(dir)
    val back = spark.read.option("header", "true").option("inferSchema", "true").csv(dir)
    assert(back.count() == flat.count())
    // a device lacking a sensor must read back as null, not empty string
    val missing = back.filter(col("temperature_value").isNull).count()
    val missingOrig = flat.filter(col("temperature_value").isNull).count()
    assert(missing == missingOrig)
  }

  test("KeyedUpsert: latest version wins, unseen keys insert") {
    import graft.sources.KeyedUpsert
    val dir = Files.createTempDirectory("graft-upsert").toString + "/t"
    val v1 = Seq(("d1", 1L, 10.0), ("d2", 1L, 20.0)).toDF("device_id", "v", "reading")
    KeyedUpsert(spark, dir, v1, Seq("device_id"), "v")
    val v2 = Seq(("d1", 2L, 11.0), ("d3", 1L, 30.0)).toDF("device_id", "v", "reading")
    KeyedUpsert(spark, dir, v2, Seq("device_id"), "v")
    val out = spark.read.parquet(dir)
      .select("device_id", "v", "reading").as[(String, Long, Double)]
      .collect().toSet
    assert(out == Set(("d1", 2L, 11.0), ("d2", 1L, 20.0), ("d3", 1L, 30.0)))
  }

  test("KeyedUpsert.inSnapshot merges under a concurrent reader's snapshot") {
    import graft.sources.{KeyedUpsert, Snapshot}
    val dir = Files.createTempDirectory("graft-upsert-snap").toString + "/t"
    val v1 = Seq(("d1", 1L, 10.0), ("d2", 1L, 20.0)).toDF("device_id", "v", "reading")
    Snapshot.init(spark, dir, v1)
    val reader = Snapshot.read(spark, dir) // pins gen-0
    val v2 = Seq(("d1", 2L, 11.0), ("d3", 1L, 30.0)).toDF("device_id", "v", "reading")
    KeyedUpsert.inSnapshot(spark, dir, v2, Seq("device_id"), "v")
    // mid-scan reader finishes its own pre-upsert generation
    assert(reader.select("device_id", "v", "reading").as[(String, Long, Double)]
      .collect().toSet == Set(("d1", 1L, 10.0), ("d2", 1L, 20.0)))
    // a new reader sees latest-wins + inserts
    assert(Snapshot.read(spark, dir)
      .select("device_id", "v", "reading").as[(String, Long, Double)]
      .collect().toSet ==
      Set(("d1", 2L, 11.0), ("d2", 1L, 20.0), ("d3", 1L, 30.0)))
  }

  test("Forget: targeted deletion rewrites the table minus the keys, " +
      "atomically, with an exact audit count") {
    val dir = Files.createTempDirectory("graft-forget").toString + "/t"
    flat.write.mode("overwrite").parquet(dir)
    val total = flat.count()
    val victims = flat.select("device_id").distinct()
      .orderBy("device_id").limit(2)
      .collect().map(_.getString(0)).toSeq
    val expectDropped = flat.filter(col("device_id").isin(victims: _*)).count()
    val (kept, dropped) = graft.sources.Forget(spark, dir, "device_id", victims)
    assert(dropped == expectDropped && kept == total - expectDropped,
      s"audit (kept=$kept dropped=$dropped) vs expected " +
        s"(${total - expectDropped}, $expectDropped)")
    val back = spark.read.parquet(dir)
    assert(back.count() == kept)
    assert(back.filter(col("device_id").isin(victims: _*)).count() == 0,
      "forgotten keys must not survive the rewrite")
    // surviving rows are untouched — same set as a plain filter
    val survivors = flat.filter(!col("device_id").isin(victims: _*))
      .select("device_id", "timestamp").collect().map(_.toString).sorted.toSeq
    val after = back.select("device_id", "timestamp")
      .collect().map(_.toString).sorted.toSeq
    assert(after == survivors)
    // no leftover scratch directories from the swap
    assert(!new java.io.File(dir + ".forget").exists())
    assert(!new java.io.File(dir + ".old").exists())
  }

  test("Forget refuses uncastable deletion keys loudly (ANSI-safe try_cast)") {
    // under Spark 4's default ANSI mode a plain cast would throw a raw
    // SparkNumberFormatException from an executor; the contract is the
    // crafted refusal message, reachable only via try_cast — and the
    // table must be left untouched either way
    val dir = Files.createTempDirectory("graft-forget-bad").toString + "/t"
    spark.range(10).toDF("id").write.parquet(dir)
    val e = intercept[IllegalArgumentException] {
      graft.sources.Forget(spark, dir, "id", Seq("definitely-not-a-number"))
    }
    assert(e.getMessage.contains("not castable"), e.getMessage)
    assert(spark.read.parquet(dir).count() == 10, "table untouched")
  }

  test("Snapshot: a reader mid-scan survives a concurrent Forget/Compact " +
      "swap and sees ITS generation; vacuum is the explicit boundary") {
    import graft.sources.{Compact, Forget, Snapshot}
    val dir = Files.createTempDirectory("graft-snap").toString + "/t"
    Snapshot.init(spark, dir, flat)
    val total = flat.count()
    // reader pins its snapshot at DEFINITION (pointer resolved, file list
    // taken) — everything below happens "mid-scan" from its point of view
    val reader = Snapshot.read(spark, dir)
    val victims = flat.select("device_id").distinct()
      .orderBy("device_id").limit(2)
      .collect().map(_.getString(0)).toSeq
    val expectDropped = flat.filter(col("device_id").isin(victims: _*)).count()
    val (kept, dropped) = Forget.inSnapshot(spark, dir, "device_id", victims)
    assert(dropped == expectDropped && kept == total - expectDropped)
    Compact.inSnapshot(spark, dir) // a second swap on top
    // the old reader still completes against its own immutable generation
    assert(reader.count() == total,
      "mid-scan reader must finish its pinned pre-delete snapshot")
    assert(reader.filter(col("device_id").isin(victims: _*)).count()
      == expectDropped, "pinned snapshot still contains the deleted keys")
    // a NEW reader resolves the flipped pointer
    val after = Snapshot.read(spark, dir)
    assert(after.count() == kept)
    assert(after.filter(col("device_id").isin(victims: _*)).count() == 0)
    assert(Snapshot.currentGen(dir).contains(2L), "init + forget + compact")
    // time travel: any un-vacuumed generation reads as of its commit
    assert(Snapshot.readAt(spark, dir, 0L).count() == total,
      "VERSION AS OF 0 must be the pre-delete table")
    assert(Snapshot.readAt(spark, dir, 1L).count() == kept)
    // vacuum reclaims the superseded generations — the one operation that
    // invalidates old readers (retention policy belongs to the operator)
    val removed = Snapshot.vacuum(spark, dir)
    assert(removed == Seq(0L, 1L), s"got $removed")
    assert(!new java.io.File(dir, "gen-0").exists())
    assert(new java.io.File(dir, "gen-2").exists())
    assert(Snapshot.read(spark, dir).count() == kept, "live gen intact")
    // a vacuumed generation fails loudly, not with a partial scan
    intercept[IllegalArgumentException] { Snapshot.readAt(spark, dir, 0L) }
  }

  test("Compact: many small files rewrite to the computed file count") {
    import graft.sources.Compact
    val dir = Files.createTempDirectory("graft-compact").toString + "/t"
    flat.repartition(16).write.parquet(dir)
    val before = new java.io.File(dir).listFiles().count(_.getName.endsWith(".parquet"))
    assert(before >= 8, s"setup should create many files, got $before")
    val n = flat.count()
    Compact(spark, dir, targetFileBytes = 1024L * 1024 * 1024)
    val after = new java.io.File(dir).listFiles().count(_.getName.endsWith(".parquet"))
    assert(after == 1, s"expected 1 compacted file, got $after")
    assert(spark.read.parquet(dir).count() == n, "no rows lost")
  }

  test("schema evolution: mergeSchema unions columns across appended batches") {
    val dir = Files.createTempDirectory("graft-evolve").toString
    Seq(("d1", 1.0)).toDF("device_id", "temperature")
      .write.mode("append").parquet(dir)
    // a later generator version adds a sensor column
    Seq(("d2", 2.0, 55.5)).toDF("device_id", "temperature", "humidity")
      .write.mode("append").parquet(dir)
    val back = spark.read.option("mergeSchema", "true").parquet(dir)
    assert(back.columns.toSet == Set("device_id", "temperature", "humidity"))
    val d1 = back.filter(col("device_id") === "d1").select("humidity").collect()
    assert(d1.head.isNullAt(0), "old rows read the new column as null")
  }

  test("ORC round-trips the wide schema (alternate columnar format)") {
    val dir = Files.createTempDirectory("graft-orc").toString
    flat.write.mode("overwrite").orc(dir)
    val back = spark.read.orc(dir)
    assert(back.count() == flat.count())
    assert(back.schema == flat.schema)
  }

  test("S3 json-array sink writes ONE parseable pretty JSON array file") {
    val out = Files.createTempDirectory("graft-jsonarr").toString + "/readings.json"
    val readings = Generator.readings(spark, 3, 5).toDF()
    graft.tools.GenerateMain.writeJsonArray(readings, out)
    val body = Files.readString(java.nio.file.Paths.get(out))
    assert(body.startsWith("[\n  {") && body.endsWith("\n]"),
      "expected a pretty-printed JSON array (the reference's json.dump shape)")
    // one array, parseable, element count preserved
    assert(spark.read.option("multiLine", "true").json(out).count() == readings.count())
  }

  test("S2 keyed parquet sink partitions by device and prunes on read") {
    val dir = Files.createTempDirectory("graft-keyed").toString
    flat.write.mode("overwrite").partitionBy("device_id").parquet(dir)
    val devices = flat.select("device_id").distinct().as[String].collect()
    // partition directories exist per device (the PartitionKey layout)
    val subdirs = new java.io.File(dir).listFiles().filter(_.isDirectory)
      .map(_.getName).filter(_.startsWith("device_id=")).toSet
    assert(subdirs == devices.map(d => s"device_id=$d").toSet)
    // a single-device read scans only that partition (partition pruning)
    val one = spark.read.parquet(dir).filter(col("device_id") === devices.head)
    one.collect()
    val scan = one.queryExecution.executedPlan.toString
    assert(!scan.contains("PushedFilters: [IsNotNull(device_id), EqualTo(device_id"),
      "device_id must prune partitions, not filter rows")
    assert(one.count() == flat.filter(col("device_id") === devices.head).count())
  }

  test("Snapshot.update is compare-and-swap: a racing rewrite aborts " +
      "cleanly, never clobbers the winner") {
    import graft.sources.Snapshot
    val dir = Files.createTempDirectory("graft-snap-cas").toString + "/t"
    Snapshot.init(spark, dir,
      Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("id", "v"))
    // writer 1 stages its rewrite of gen-0; in the window before its
    // commit, writer 2 reads gen-0 and commits its own rewrite — writer 1
    // must detect the moved pointer and abort, not flip over it
    var w2gen = -1L
    intercept[java.util.ConcurrentModificationException] {
      Snapshot.update(spark, dir, () => {
        w2gen = Snapshot.update(spark, dir)(df => df.filter(col("id") =!= 2L))
      })(df => df.filter(col("id") =!= 1L))
    }
    assert(w2gen == 1L, "the interleaved writer committed gen-1")
    assert(Snapshot.currentGen(dir).contains(1L), "winner's commit is live")
    assert(Snapshot.read(spark, dir).select("id").as[Long].collect().toSet
      == Set(1L, 3L), "no rows lost: live table is exactly the winner's")
    // the loser cleaned up ONLY its own staging dir — no stray generation
    val names = new java.io.File(dir).listFiles().map(_.getName)
    assert(!names.contains("gen-2"), names.mkString(","))
    assert(!names.exists(_.startsWith(".stage-")), names.mkString(","))
    // a retry from the new live generation succeeds normally
    assert(Snapshot.update(spark, dir)(df => df.filter(col("id") =!= 1L)) == 2L)
    assert(Snapshot.read(spark, dir).select("id").as[Long].collect().toSet
      == Set(3L))
  }

  test("Snapshot.vacuum retention counts committed generations; orphans " +
      "above live are reclaimed unconditionally") {
    import graft.sources.Snapshot
    val dir = Files.createTempDirectory("graft-snap-vac").toString + "/t"
    Snapshot.init(spark, dir, Seq((1L, "a")).toDF("id", "v"))
    Snapshot.update(spark, dir)(df => df) // gen-1
    Snapshot.update(spark, dir)(df => df) // gen-2 (live)
    // crash debris: a renamed-but-never-committed generation above live,
    // and an abandoned staging directory
    val orphan = new java.io.File(dir, "gen-3")
    orphan.mkdirs()
    Files.write(new java.io.File(orphan, "part-junk").toPath, Array[Byte](1))
    val stale = new java.io.File(dir, ".stage-dead")
    stale.mkdirs()
    Files.write(new java.io.File(stale, "part-junk").toPath, Array[Byte](1))
    // keepLast=2 must retain live gen-2 plus COMMITTED gen-1 — the orphan
    // never counts against the retention promise
    val removed = Snapshot.vacuum(spark, dir, keepLast = 2)
    assert(removed == Seq(0L, 3L), s"got $removed")
    assert(Snapshot.readAt(spark, dir, 1L).count() == 1,
      "the retained committed generation is still readable")
    assert(!stale.exists(), "stale staging dir swept")
    assert(Snapshot.currentGen(dir).contains(2L))
  }
}
