package graft.perfbench

import java.io.File
import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.Files
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._
import scala.util.Random
import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import graft.{Caches, SparkEntry}
import graft.queries.{Dashboard, Llm}
import graft.streaming.Streams

/** The benchmark's JVM side. Builds one session at local[nproc], runs one
  * workload closed-loop from a single client thread, and writes a JSON
  * record that `run.py` turns into the benchmark's result line.
  *
  *   graft.perfbench.Main --workload dashboard|ingest|retrieval --seed N
  *     --seconds S --trace 0|1 --data DIR --root DIR --out FILE [--max-ops N]
  *
  * `--data` holds the generated tables; `--root` is this run's fresh
  * directory for every artifact, state and scratch file the engine writes.
  */
object Main {

  /** The dashboard workload's queries: the reference dashboard's panels over
    * the generated IoT readings plus event-stream analytics (README.md says
    * why a subset). */
  val DashboardQueries = Seq(
    "q_iot_status_counts", "q_iot_latest", "q_events_type_count",
    "q_events_sessions", "q_events_percentiles")

  /** The retrieval workload's queries: exact IVF, flat and hybrid vector
    * search plus lexical BM25; x3_knn_ivf builds the IVF artifact on first
    * touch, x3_hybrid_search reuses it. */
  val RetrievalQueries = Seq("x3_knn_ivf", "x3_knn_brute", "x3_bm25", "x3_hybrid_search")

  /** Ingest: documents per micro-batch; untimed warm-up batches (batch
    * latency falls from ~11 s to a steady ~5.5 s over the first four, with
    * most of the run-to-run variance in that transient); timed batches per
    * run at least; and batches, warm-up ones included, between compactions.
    * Compaction folds all but the newest state generation, so every
    * compaction after the third batch folds something. */
  val BatchDocs = 20
  val WarmupBatches = 3
  val MinBatches = 2
  val CompactEvery = 4

  private val MB = 1024.0 * 1024.0

  /** What one run measured and checked. */
  final class Run(seconds: Double, val maxOps: Int) {
    val ops = ArrayBuffer.empty[OpRec]
    val checks = ArrayBuffer.empty[(String, Boolean, String)]
    val failedOps = scala.collection.mutable.Map.empty[String, Int].withDefaultValue(0)
    var attempted = 0
    var failed = 0
    var setupS = 0.0
    var wallS = 0.0
    var units = 0L
    var retainedBytes = 0L
    val warmupS = scala.collection.mutable.LinkedHashMap.empty[String, Double]
    def more(elapsedS: Double): Boolean = attempted < maxOps && elapsedS < seconds
    def fail(name: String): Unit = { failed += 1; failedOps(name) += 1 }
  }

  private def now(): Long = System.nanoTime()
  private def secs(t0: Long, t1: Long = System.nanoTime()): Double = (t1 - t0) / 1e9

  /** Bytes and files under `dir`, recursively. */
  private def du(dir: File): (Long, Long) =
    if (!dir.exists()) (0L, 0L)
    else if (dir.isFile) (dir.length(), 1L)
    else Option(dir.listFiles()).getOrElse(Array.empty).map(du)
      .foldLeft((0L, 0L)) { case ((b, f), (b2, f2)) => (b + b2, f + f2) }

  /** Order-sensitive digest of a collected result. */
  private def digest(rows: Array[Row]): String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    rows.foreach(r => md.update((r.toString + "\n").getBytes(UTF_8)))
    md.digest().map("%02x".format(_)).mkString
  }

  def main(args: Array[String]): Unit = {
    val a = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = a("workload")
    val seed = a("seed").toLong
    val data = a("data")
    val root = a("root")
    val trace = a.getOrElse("trace", "0") == "1"
    val run = new Run(a("seconds").toDouble, a.get("max-ops").map(_.toInt).getOrElse(Int.MaxValue))
    val cores = Runtime.getRuntime.availableProcessors

    val heapPeak = new java.util.concurrent.atomic.AtomicLong(0L)
    val poller = new Thread(() => {
      val mem = ManagementFactory.getMemoryMXBean
      while (!Thread.currentThread().isInterrupted) {
        heapPeak.accumulateAndGet(mem.getHeapMemoryUsage.getUsed, math.max)
        try Thread.sleep(20) catch { case _: InterruptedException => Thread.currentThread().interrupt() }
      }
    })
    poller.setDaemon(true)
    if (trace) poller.start()

    val t0 = now()
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName(s"perfbench-$workload")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", s"$root/local")
      .config("spark.sql.warehouse.dir", s"$root/warehouse")
      .config("graft.ivf.cacheDir", s"$root/ivf")
      .config("graft.screen.cacheDir", s"$root/screens")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    run.setupS = secs(t0)
    val tracer = if (trace) Some(new Tracer(spark)) else None

    var extras = Tracer.Extras(cores, Nil, Nil, 0L, 0L, 0L, 0.0, 0L, 0L, 0.0)
    def gcMs() = ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime).sum
    val gc0 = gcMs()
    workload match {
      case "dashboard" => queryLoop(spark, run, tracer, DashboardQueries, data, root, seed)
      case "retrieval" =>
        val cold = queryLoop(spark, run, tracer, RetrievalQueries, data, root, seed)
        extras = extras.copy(ivfColdPassS = cold, ivfCacheBytes = du(new File(s"$root/ivf"))._1)
      case "ingest" => extras = ingest(spark, run, tracer, data, root, extras)
      case "curate" => curate(spark, run, tracer, data, root)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    val gcS = (gcMs() - gc0) / 1000.0

    // the host-speed probe Bench records: context for comparing runs across
    // hosts, never a metric
    def probeOnce(): Double = {
      val p0 = now()
      spark.range(0, 4L << 20, 1, 32).selectExpr("id % 9973 AS k", "id")
        .groupBy("k").sum("id").selectExpr("count(*)").collect()
      secs(p0)
    }
    val probe = (1 to 2).map(_ => probeOnce()).min

    val record = ArrayBuffer[(String, Any)](
      "workload" -> workload,
      "context" -> Map("nproc" -> cores, "master" -> s"local[$cores]",
        "driver_heap_max_mb" -> Runtime.getRuntime.maxMemory / MB,
        "jdk" -> s"${sys.props("java.vendor")} ${sys.props("java.version")}",
        "spark" -> spark.version, "seed" -> seed, "host_probe_s" -> probe,
        "trace" -> trace),
      "setup_s" -> run.setupS,
      "warmup_s" -> run.warmupS,
      "latencies_s" -> run.ops.map(_.latencyS),
      "op_names" -> run.ops.map(_.name),
      "wall_s" -> run.wallS,
      "units" -> run.units,
      "attempted" -> run.attempted,
      "failed" -> run.failed,
      "failed_ops" -> run.failedOps.toMap,
      "retained_heap_mb" -> run.retainedBytes / MB,
      "checks" -> run.checks.map { case (n, ok, d) => Map("name" -> n, "ok" -> ok, "detail" -> d) })
    tracer.foreach { t =>
      val (jobs, progress) = t.finish()
      poller.interrupt()
      val (metrics, spans) = Tracer.layers(run.ops.toSeq, jobs, progress,
        extras.copy(heapPeakBytes = heapPeak.get, gcS = gcS))
      record += "per_layer" -> metrics.map { case (n, v, u) => n -> Map("value" -> v, "unit" -> u) }.toMap
      val spanFile = a("out").stripSuffix(".json") + "-spans.jsonl"
      Files.write(new File(spanFile).toPath,
        spans.map(Json.of(_)).mkString("", "\n", "\n").getBytes(UTF_8))
      record += "spans_file" -> spanFile
    }
    Files.write(new File(a("out")).toPath, Json.of(record.toMap).getBytes(UTF_8))
    spark.stop()
  }

  /** A warm-up pass (set-up: cold memos, first-touch artifacts, code
    * generation), whose results go to the DuckDB oracle, then timed passes
    * of seeded permutations until the time is up. Returns the warm-up
    * pass's seconds. */
  private def queryLoop(spark: SparkSession, run: Run, tracer: Option[Tracer],
      names: Seq[String], data: String, root: String, seed: Long): Double = {
    val fns = SparkEntry.queries
    val ref = scala.collection.mutable.Map.empty[String, String]
    var k = 0
    /** One operation: build the plan, collect it. Returns the result. */
    def op(name: String, timed: Boolean): Option[(Array[Row], StructType)] = {
      val id = s"op$k"
      k += 1
      val s0 = System.currentTimeMillis(); val n0 = now()
      def phase[T](p: String)(body: => T): T = tracer.fold(body)(_.tagged(id, p)(body))
      try {
        val df = phase("build")(fns(name)(spark, data))
        val sb = System.currentTimeMillis(); val nb = now()
        val rows = phase("exec")(df.collect())
        val n1 = now()
        if (timed) run.ops += OpRec(id, name, s0, sb, System.currentTimeMillis(),
          secs(n0, n1), secs(n0, nb))
        Some((rows, df.schema))
      } catch {
        case e: Exception =>
          System.err.println(s"[perfbench] $name failed: $e")
          None
      } finally Caches.drain(spark)
    }

    val cold0 = now()
    var checkS = 0.0
    val verify = s"$root/verify"
    names.foreach { n =>
      val w0 = now()
      val rows = op(n, timed = false)
      run.warmupS(n) = secs(w0)
      val c0 = now()
      rows match {
        case Some((r, schema)) =>
          ref(n) = digest(r)
          spark.createDataFrame(r.toSeq.asJava, schema).coalesce(1)
            .write.parquet(s"$verify/$n")
        case None => run.checks += ((s"warmup:$n", false, "threw"))
      }
      checkS += secs(c0)
    }
    // the q_iot_* oracles read the generated readings from a parquet path:
    // write the same generated frame into this run's root and point them there
    val c0 = now()
    val iot = s"$root/iot_readings"
    if (names.exists(n => SparkEntry.oracleSql.get(n).exists(_.contains(Dashboard.oracleInputPath))))
      graft.gen.Generator.flatten(graft.gen.Generator.readings(spark, 50, 120))
        .coalesce(1).write.parquet(iot)
    val oracle = names.flatMap(n => SparkEntry.oracleSql.get(n)
      .map(n -> _.replace(Dashboard.oracleInputPath, iot)))
    Files.write(new File(s"$root/oracle.json").toPath, Json.of(oracle.toMap).getBytes(UTF_8))
    checkS += secs(c0)
    val coldS = secs(cold0) - checkS
    run.setupS += coldS

    val t0 = now()
    checkS = 0.0
    var pass = 0
    while (run.more(secs(t0) - checkS)) {
      new Random(seed * 1000003L + pass).shuffle(names).foreach { n =>
        if (run.attempted < run.maxOps) {
          run.attempted += 1
          val rows = op(n, timed = true)
          val c = now()
          rows match {
            case Some((r, _)) if ref.get(n).contains(digest(r)) =>
            case Some(_) =>
              run.fail(n); run.ops.remove(run.ops.size - 1)
              run.checks += ((s"hash:$n", false, "result differs from the warm-up pass"))
            case None => run.fail(n)
          }
          checkS += secs(c)
        }
      }
      pass += 1
    }
    run.wallS = secs(t0) - checkS
    run.units = run.ops.size
    run.checks += (("hash:timed", !run.checks.exists(_._1.startsWith("hash:")),
      s"${run.ops.size} timed results equal their warm-up digests"))
    run.retainedBytes = retainedHeap()
    coldS
  }

  /** The `tools.CurateMain` job sequence, each job in a fresh session (cold
    * memos, as in a launched job) and written where CurateMain writes it.
    * One operation is one job; a warm-up sequence precedes the timed ones,
    * and every sequence's corpus must hold exactly the funnel's survivors. */
  private def curate(spark: SparkSession, run: Run, tracer: Option[Tracer], data: String,
      root: String): Unit = {
    val out = s"$root/curate"
    val jobs: Seq[(String, SparkSession => org.apache.spark.sql.DataFrame)] = Seq(
      "funnel" -> (s => SparkEntry.queries("x4_pipeline_funnel")(s, data)),
      "corpus" -> { s =>
        val d = graft.Tables.load(s, data, "documents")
        val (_, _, reps) = Llm.curationStages(s, d)
        d.join(reps.select("doc_id"), "doc_id")
      },
      "report" -> (s => SparkEntry.queries("x4_curation_report")(s, data)),
      "encoded" -> (s => SparkEntry.queries("x4_encode")(s, data)))
    val docs = spark.read.parquet(s"$data/documents.parquet").count()
    var k = 0
    /** One sequence; true when every job ran and the corpus checks out. */
    def sequence(timed: Boolean): Boolean = {
      val ok = jobs.forall { case (name, build) =>
        val id = s"op$k"
        k += 1
        if (timed) run.attempted += 1
        def phase[T](p: String)(body: => T): T = tracer.fold(body)(_.tagged(id, p)(body))
        val s = spark.newSession()
        val s0 = System.currentTimeMillis(); val n0 = now()
        try {
          val df = phase("build")(build(s))
          val sb = System.currentTimeMillis(); val nb = now()
          phase("exec")(df.write.mode("overwrite").parquet(s"$out/$name"))
          if (timed) run.ops += OpRec(id, name, s0, sb, System.currentTimeMillis(),
            secs(n0), secs(n0, nb))
          true
        } catch {
          case e: Exception =>
            System.err.println(s"[perfbench] curate $name failed: $e")
            if (timed) run.fail(name)
            false
        } finally { Caches.invalidateCounts(s); Caches.drain(s) }
      }
      ok && {
        val survivors = spark.read.parquet(s"$out/funnel").orderBy("stage_no")
          .collect().last.getAs[Long]("docs")
        val corpus = spark.read.parquet(s"$out/corpus").count()
        run.checks += ((s"curate:corpus$k", corpus == survivors,
          s"corpus $corpus rows, funnel survivors $survivors"))
        corpus == survivors
      }
    }
    val w0 = now()
    sequence(timed = false)
    run.setupS += secs(w0)
    // the wall is the jobs' own time: session creation, draining and the
    // corpus check between them stay outside it
    while (run.more(run.wallS)) {
      val before = run.ops.size
      if (!sequence(timed = true)) run.ops.drop(before).foreach(o => run.fail(o.name))
      else run.units += docs
      run.wallS += run.ops.drop(before).map(_.latencyS).sum
    }
    run.retainedBytes = retainedHeap()
  }

  /** Heap in use after full collections; the pauses let Spark's cleaner
    * drop the blocks of frames the first collection found unreachable. */
  private def retainedHeap(): Long = {
    (1 to 3).foreach { _ => System.gc(); Thread.sleep(300) }
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed
  }

  /** The streaming curation sink fed in doc_id order, one micro-batch per
    * operation, compaction every [[CompactEvery]] batches. */
  private def ingest(spark: SparkSession, run: Run, tracer: Option[Tracer], data: String,
      root: String, extras: Tracer.Extras): Tracer.Extras = {
    import spark.implicits._
    val t0 = now()
    val docs = spark.read.parquet(s"$data/documents.parquet")
      .select("doc_id", "text").orderBy("doc_id").as[(Long, String)].collect()
    val sink = s"$root/sink"
    val in = MemoryStream[(Long, String)](spark)
    val q = Streams.curationPipelineSink(in.toDF().toDF("doc_id", "text"),
      s"$sink/out", s"$sink/ckpt")
    var batch = 0L
    var fed = 0
    def feed(): Seq[(Long, String)] = {
      val rows = docs.slice(fed, fed + BatchDocs).toSeq
      require(rows.nonEmpty, s"ran out of documents after $fed")
      fed += rows.size
      in.addData(rows: _*)
      q.processAllAvailable()
      batch += 1
      rows
    }
    (1 to WarmupBatches).foreach { i =>
      val b0 = now()
      feed()
      run.warmupS(s"batch$i") = secs(b0)
    }
    run.setupS += secs(t0)

    val compactS = ArrayBuffer.empty[Double]
    val compactOps = ArrayBuffer.empty[String]
    var inputBytes = 0L
    var streamOk = true
    val w0 = now()
    while (streamOk && (run.more(secs(w0)) ||
        run.ops.size < MinBatches && run.attempted < run.maxOps)) {
      run.attempted += 1
      val id = s"op${run.attempted}"
      val s0 = System.currentTimeMillis(); val n0 = now()
      try {
        val rows = feed()
        val n1 = now()
        run.ops += OpRec(id, "batch", s0, s0, System.currentTimeMillis(), secs(n0, n1), 0.0,
          batch = batch - 1)
        run.units += rows.size
        inputBytes += rows.map(_._2.getBytes(UTF_8).length.toLong).sum
        if (batch % CompactEvery == 0) {
          val cid = s"compact${compactS.size}"
          val c0 = now()
          tracer.fold(Streams.curationStateCompact(spark, s"$sink/out"))(
            _.tagged(cid, "compact")(Streams.curationStateCompact(spark, s"$sink/out")))
          compactS += secs(c0)
          compactOps += cid
        }
      } catch {
        case e: Exception =>
          System.err.println(s"[perfbench] batch failed: $e")
          run.fail("batch")
          streamOk = false
      }
    }
    run.wallS = secs(w0)
    val (stateBytes, stateFiles) = du(new File(s"$sink/out/_state"))
    q.stop()
    run.retainedBytes = retainedHeap()

    // the sink's cumulative survivors must equal the batch funnel's over the
    // same documents (the streaming soak test's check)
    val dec = spark.read.parquet(s"$sink/out/decisions")
      .select("doc_id", "outcome").as[(Long, String)].collect()
    val by = dec.groupBy(_._2).map { case (k, v) => k -> v.map(_._1).toSet }
      .withDefaultValue(Set.empty[Long])
    val streamed = by("admitted") -- by("retracted_near_dup") -- by("retracted_containment")
    val (_, keepers, reps) = Llm.curationStages(spark, docs.take(fed).toSeq.toDF("doc_id", "text"))
    val batchSurvivors = reps.select("doc_id").as[Long].collect().toSet --
      Llm.curationContainmentRejects(keepers).as[Long].collect().toSet
    Caches.drain(spark)
    val ok = streamOk && streamed == batchSurvivors &&
      dec.count(!_._2.startsWith("retracted_")) == fed
    run.checks += (("ingest:survivors", ok,
      s"${streamed.size} streamed vs ${batchSurvivors.size} batch-funnel survivors over $fed docs"))
    if (!ok) run.ops.foreach(o => run.fail(o.name))
    extras.copy(compactS = compactS.toSeq, compactOps = compactOps.toSeq,
      stateBytes = stateBytes, stateFiles = stateFiles, inputBytes = inputBytes)
  }
}

/** Minimal JSON writer for the run record. */
object Json {
  private def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
  def of(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => of(x)
    case s: String => str(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => of(f.toDouble)
    case n: Int => n.toString
    case n: Long => n.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => str(k.toString) + ":" + of(x) }.mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(of).mkString("[", ",", "]")
    case o => str(o.toString)
  }
}
