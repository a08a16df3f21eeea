package graft.perfbench

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.{StreamingQueryListener, StreamingQueryProgress}

/** One Spark job as the tracer's listener saw it. `op`/`phase` come from
  * the local properties the client sets around each call into the engine;
  * `batch` is the micro-batch id Structured Streaming stamps on the jobs of
  * a batch (-1 outside streaming); `label` is the `spark.job.description`
  * the engine's statistics helpers set (`countOnce:*`, `stat:*`). */
final class JobRec(val id: Int, val op: String, val phase: String,
    val batch: Long, val label: String, val start: Long) {
  @volatile var end: Long = start
  var stages = 0
  var tasks = 0L
  var runMs = 0L
  var cpuNs = 0L
  var gcMs = 0L
  var shuffleRead = 0L
  var shuffleWrite = 0L
  var spill = 0L
  var written = 0L
}

/** One operation the client timed. Wall-clock millis align the operation
  * with the listener's job times; nanos give its latency. `buildMs` is the
  * end of plan construction (== `startMs` where there is none, as for a
  * micro-batch). `batch` is the micro-batch the operation drove. */
final case class OpRec(id: String, name: String, startMs: Long, buildMs: Long,
    endMs: Long, latencyS: Double, buildS: Double, batch: Long = -1L)

/** The benchmark's tracing: a SparkListener and a StreamingQueryListener
  * that keep every job, stage total and micro-batch progress in memory
  * while the run goes, and the client-side spans around each call. Nothing
  * is derived or written until [[finish]]. */
final class Tracer(spark: SparkSession) {
  import Tracer._
  private val sc = spark.sparkContext
  private val jobs = new ConcurrentHashMap[Int, JobRec]()
  private val stageJob = new ConcurrentHashMap[Int, JobRec]()
  private val progress = new ConcurrentLinkedQueue[StreamingQueryProgress]()

  private val jobListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      def prop(k: String) = Option(e.properties).flatMap(p => Option(p.getProperty(k)))
      val j = new JobRec(e.jobId, prop(OpKey).getOrElse(""), prop(PhaseKey).getOrElse(""),
        prop("streaming.sql.batchId").map(_.toLong).getOrElse(-1L),
        prop("spark.job.description").getOrElse(""), e.time)
      jobs.put(e.jobId, j)
      e.stageIds.foreach(stageJob.putIfAbsent(_, j))
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(jobs.get(e.jobId)).foreach(_.end = e.time)
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val i = e.stageInfo
      Option(stageJob.get(i.stageId)).foreach { j =>
        val m = i.taskMetrics
        j.synchronized {
          j.stages += 1
          j.tasks += i.numTasks
          if (m != null) {
            j.runMs += m.executorRunTime
            j.cpuNs += m.executorCpuTime
            j.gcMs += m.jvmGCTime
            j.shuffleRead += m.shuffleReadMetrics.totalBytesRead
            j.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
            j.spill += m.memoryBytesSpilled + m.diskBytesSpilled
            j.written += m.outputMetrics.bytesWritten
          }
        }
      }
    }
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      progress.add(e.progress)
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  }

  sc.addSparkListener(jobListener)
  spark.streams.addListener(streamListener)

  /** Run `body` with every job it submits from this thread tagged. */
  def tagged[T](op: String, phase: String)(body: => T): T = {
    sc.setLocalProperty(OpKey, op)
    sc.setLocalProperty(PhaseKey, phase)
    try body
    finally { sc.setLocalProperty(OpKey, null); sc.setLocalProperty(PhaseKey, null) }
  }

  /** Wait for the listeners to see every event posted so far, detach them,
    * and return what they recorded. */
  def finish(): (Seq[JobRec], Seq[StreamingQueryProgress]) = {
    org.apache.spark.ListenerBusDrain(sc)
    sc.removeSparkListener(jobListener)
    spark.streams.removeListener(streamListener)
    (jobs.values.asScala.toSeq.sortBy(_.id), progress.asScala.toSeq)
  }
}

object Tracer {
  val OpKey = "perfbench.op"
  val PhaseKey = "perfbench.phase"
  private val MB = 1024.0 * 1024.0

  /** Milliseconds of [lo, hi) covered by at least one job. */
  private def covered(js: Seq[JobRec], lo: Long, hi: Long): Long = {
    var total = 0L
    var reach = lo
    js.map(j => (math.max(j.start, lo), math.min(j.end, hi)))
      .filter { case (s, e) => e > s }.sortBy(_._1)
      .foreach { case (s, e) =>
        if (e > reach) { total += e - math.max(s, reach); reach = e }
      }
    total
  }

  /** Everything the traced run adds beyond the operations themselves. */
  final case class Extras(cores: Int, compactS: Seq[Double], compactOps: Seq[String],
      stateBytes: Long, stateFiles: Long, inputBytes: Long, ivfColdPassS: Double,
      ivfCacheBytes: Long, heapPeakBytes: Long, gcS: Double)

  /** Per-layer metrics (name -> (value, unit)) over the timed operations,
    * each a per-operation mean unless its unit says otherwise, plus the
    * spans for the trace file. */
  def layers(ops: Seq[OpRec], jobs: Seq[JobRec], progress: Seq[StreamingQueryProgress],
      x: Extras): (Seq[(String, Double, String)], Seq[Map[String, Any]]) = {
    val n = math.max(ops.size, 1).toDouble
    val byOp = jobs.groupBy(_.op)
    val byBatch = jobs.filter(_.batch >= 0).groupBy(_.batch)
    def jobsOf(o: OpRec): Seq[JobRec] =
      if (o.batch >= 0) byBatch.getOrElse(o.batch, Nil) else byOp.getOrElse(o.id, Nil)
    val opJobs = ops.map(o => o -> jobsOf(o))
    val buildJobs = opJobs.flatMap { case (_, js) => js.filter(_.phase == "build") }
    val execJobs = opJobs.flatMap { case (_, js) => js.filterNot(_.phase == "build") }
    val opS = ops.map(_.latencyS).sum
    val buildS = ops.map(_.buildS).sum
    val execS = opS - buildS
    val buildJobS = opJobs.map { case (o, js) =>
      covered(js.filter(_.phase == "build"), o.startMs, o.buildMs) }.sum / 1000.0
    val execJobS = opJobs.map { case (o, js) =>
      covered(js.filterNot(_.phase == "build"), o.buildMs, o.endMs) }.sum / 1000.0
    def sumL(js: Seq[JobRec])(f: JobRec => Long) = js.map(f).sum.toDouble
    val taskS = sumL(execJobs)(_.runMs) / 1000.0
    val timed = ops.map(_.batch).filter(_ >= 0).toSet
    val prog = progress.filter(p => timed.contains(p.batchId))
    val pn = math.max(prog.size, 1).toDouble
    def dur(keys: String*) = prog.map(p => keys.map(k =>
      Option(p.durationMs.get(k)).map(_.longValue).getOrElse(0L)).sum).sum / pn
    val compactJobs = jobs.filter(j => x.compactOps.contains(j.op))
    val written = sumL(execJobs ++ compactJobs)(_.written)
    val metrics = Seq(
      ("queries.build_s", buildS / n, "s/op"),
      ("queries.build_share", if (opS > 0) buildS / opS else 0.0, "ratio"),
      ("queries.self_s", (buildS - buildJobS) / n, "s/op"),
      ("caches.build_jobs", buildJobs.size / n, "count/op"),
      ("caches.count_jobs", buildJobs.count(j =>
        j.label.startsWith("countOnce:") || j.label.startsWith("stat:")) / n, "count/op"),
      ("caches.build_job_s", buildJobS / n, "s/op"),
      ("exec.s", execS / n, "s/op"),
      ("exec.self_s", (execS - execJobS) / n, "s/op"),
      ("exec.jobs", execJobs.size / n, "count/op"),
      ("exec.stages", sumL(execJobs)(_.stages) / n, "count/op"),
      ("exec.tasks", sumL(execJobs)(_.tasks) / n, "count/op"),
      ("exec.task_s", taskS / n, "s/op"),
      ("exec.cpu_s", sumL(execJobs)(_.cpuNs) / 1e9 / n, "s/op"),
      ("exec.gc_s", sumL(execJobs)(_.gcMs) / 1000.0 / n, "s/op"),
      ("exec.core_util", if (execS > 0) taskS / (execS * x.cores) else 0.0, "ratio"),
      ("exec.shuffle_read_mb", sumL(execJobs)(_.shuffleRead) / MB / n, "MB/op"),
      ("exec.shuffle_write_mb", sumL(execJobs)(_.shuffleWrite) / MB / n, "MB/op"),
      ("exec.spill_mb", sumL(execJobs)(_.spill) / MB / n, "MB/op"),
      ("streaming.trigger_ms", dur("triggerExecution"), "ms/batch"),
      ("streaming.add_batch_ms", dur("addBatch"), "ms/batch"),
      ("streaming.planning_ms", dur("queryPlanning"), "ms/batch"),
      ("streaming.commit_ms", dur("walCommit", "commitOffsets"), "ms/batch"),
      ("streaming.batch_jobs", if (timed.isEmpty) 0.0 else execJobs.size / n, "count/batch"),
      ("sources.compact_s", if (x.compactS.isEmpty) 0.0
        else x.compactS.sum / x.compactS.size, "s/call"),
      ("sources.state_mb", x.stateBytes / MB, "MB"),
      ("sources.state_files", x.stateFiles.toDouble, "count"),
      ("sources.write_amp", if (x.inputBytes > 0) written / x.inputBytes else 0.0, "ratio"),
      ("operators.ivf_cold_pass_s", x.ivfColdPassS, "s"),
      ("operators.ivf_cache_mb", x.ivfCacheBytes / MB, "MB"),
      ("jvm.heap_peak_mb", x.heapPeakBytes / MB, "MB"),
      ("jvm.gc_s", x.gcS, "s"),
      ("trace.op_p50_s", Stats.median(ops.map(_.latencyS)), "s"),
      ("trace.jobs", jobs.size.toDouble, "count"))
    val spans = ops.flatMap { o =>
      val js = jobsOf(o)
      Seq(Map[String, Any]("id" -> o.id, "parent" -> "", "name" -> o.name,
          "start_ms" -> o.startMs, "end_ms" -> o.endMs),
        Map[String, Any]("id" -> s"${o.id}/build", "parent" -> o.id, "name" -> "build",
          "start_ms" -> o.startMs, "end_ms" -> o.buildMs),
        Map[String, Any]("id" -> s"${o.id}/exec", "parent" -> o.id, "name" -> "exec",
          "start_ms" -> o.buildMs, "end_ms" -> o.endMs)) ++
      js.map(j => Map[String, Any]("id" -> s"job${j.id}",
        "parent" -> s"${o.id}/${if (j.phase == "build") "build" else "exec"}",
        "name" -> (if (j.label.nonEmpty) j.label else "job"), "trace" -> o.id,
        "start_ms" -> j.start, "end_ms" -> j.end, "stages" -> j.stages,
        "tasks" -> j.tasks, "task_ms" -> j.runMs))
    }
    (metrics, spans)
  }
}

object Stats {
  /** Linear-interpolated quantile, q in [0, 1]. */
  def quantile(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      val pos = q * (s.size - 1)
      val lo = pos.toInt
      val hi = math.min(lo + 1, s.size - 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)
}
