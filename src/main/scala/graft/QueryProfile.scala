package graft

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.AtomicLong
import scala.jdk.CollectionConverters._
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession

/** What one profiled call did: its result, its wall time, the part of it
  * spent before the first action (`buildS`: plan construction plus the
  * eager statistics and gate jobs), every job it submitted, and the gate
  * decisions taken on its thread. See [[QueryProfile.query]]. */
final case class QueryProfile[T](result: T, wallS: Double, buildS: Double,
    jobs: Seq[QueryProfile.Job], decisions: Seq[QueryProfile.Decision]) {
  def render(title: String): String = {
    val kb = (b: Long) => (b + 1023) / 1024
    val head = f"[profile] $title%-32s wall ${wallS}%7.3f s  build ${buildS}%7.3f s  " +
      s"jobs ${jobs.size} (build ${jobs.count(_.build)})"
    val lines = jobs.map { j =>
      f"  job ${j.id}%5d ${if (j.build) "build" else "run  "} ${j.wallMs}%6d ms " +
        f"${j.stages}%2d st ${j.tasks}%4d tk task ${j.taskMs}%6d ms " +
        s"shuffle r/w ${kb(j.shuffleRead)}/${kb(j.shuffleWrite)} KB spill ${kb(j.spill)} KB  " +
        (if (j.label.nonEmpty) s"${j.label} @ ${j.site}" else j.site)
    } ++ decisions.map(d => s"  decide ${d.site}: ${d.input} -> ${d.chosen}")
    (head +: lines).mkString("\n")
  }
}

/** The engine's one recorder of jobs and gate decisions.
  *
  * A profile tags the jobs its body submits with a local property (threads
  * the caller starts inherit it; Spark's own broadcast and subquery threads
  * capture it) and attaches a SparkListener only for the call, so a job
  * another thread submits is never counted. Before returning it drains the
  * listener bus, so the record is complete without sleeping. Gate sites
  * report through [[decide]], which retains nothing while no profile runs.
  */
object QueryProfile {
  /** One job: `label` is its `spark.job.description` (the engine's
    * `countOnce:*`, `stat:*`, `cc:*` labels, or empty), `site` the call
    * site of its final stage, `build` whether it ran before the first
    * action. Bytes are summed over the job's completed stages. */
  final case class Job(id: Int, label: String, site: String, build: Boolean,
      wallMs: Long, stages: Int, tasks: Long, taskMs: Long,
      shuffleRead: Long, shuffleWrite: Long, spill: Long)

  /** One gate decision: the site, the statistic it read, the path taken. */
  final case class Decision(site: String, input: String, chosen: String)

  private val TagKey = "QueryProfile.tag"
  private val PhaseKey = "QueryProfile.phase"
  private val seq = new AtomicLong()
  private val active = new ConcurrentHashMap[String, ConcurrentLinkedQueue[Decision]]()

  /** Record a gate decision in the profile running on this thread, if any. */
  def decide(s: SparkSession, site: String, input: => String, chosen: String): Unit =
    if (!active.isEmpty) {
      Option(s.sparkContext.getLocalProperty(TagKey)).flatMap(t => Option(active.get(t)))
        .foreach(_.add(Decision(site, input, chosen)))
    }

  /** Profile `body` as one run phase (no build split). `group` also selects
    * the jobs of a Spark job group, such as a streaming query's run id,
    * whose thread the caller did not start. */
  def of[T](spark: SparkSession, group: Option[String] = None)(body: => T): QueryProfile[T] =
    query(spark, group)(())(_ => body)

  /** Profile `act(build)`: jobs submitted while `build` runs are its build
    * jobs, and its time is the profile's `buildS`. */
  def query[A, T](spark: SparkSession, group: Option[String] = None)(build: => A)(
      act: A => T): QueryProfile[T] = {
    val sc = spark.sparkContext
    val tag = s"p${seq.incrementAndGet()}"
    final class Rec(id: Int, label: String, site: String, build: Boolean, start: Long) {
      @volatile var end = start
      var stages = 0
      var tasks, taskMs, read, written, spill = 0L
      def job: Job = synchronized(Job(id, label, site, build, end - start, stages,
        tasks, taskMs, read, written, spill))
    }
    val jobs = new ConcurrentHashMap[Int, Rec]()
    val stageJob = new ConcurrentHashMap[Int, Rec]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        def prop(k: String) = Option(e.properties).flatMap(p => Option(p.getProperty(k)))
        if (prop(TagKey).contains(tag) || group.exists(g => prop("spark.jobGroup.id").contains(g))) {
          val site = e.stageInfos.maxByOption(_.stageId).fold("")(_.name)
          val r = new Rec(e.jobId, prop("spark.job.description").getOrElse(""), site,
            prop(PhaseKey).contains("build"), e.time)
          jobs.put(e.jobId, r)
          e.stageIds.foreach(stageJob.putIfAbsent(_, r))
        }
      }
      override def onJobEnd(e: SparkListenerJobEnd): Unit =
        Option(jobs.get(e.jobId)).foreach(_.end = e.time)
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
        Option(stageJob.get(e.stageInfo.stageId)).foreach { r =>
          val m = e.stageInfo.taskMetrics
          r.synchronized {
            r.stages += 1
            r.tasks += e.stageInfo.numTasks
            if (m != null) {
              r.taskMs += m.executorRunTime
              r.read += m.shuffleReadMetrics.totalBytesRead
              r.written += m.shuffleWriteMetrics.bytesWritten
              r.spill += m.memoryBytesSpilled + m.diskBytesSpilled
            }
          }
        }
    }
    val decisions = new ConcurrentLinkedQueue[Decision]()
    val outer = (sc.getLocalProperty(TagKey), sc.getLocalProperty(PhaseKey))
    // a queued event of an earlier job of `group` would reach a listener
    // attached before the queue empties
    org.apache.spark.sql.graft.ListenerBusWait(sc)
    sc.addSparkListener(listener)
    active.put(tag, decisions)
    sc.setLocalProperty(TagKey, tag)
    sc.setLocalProperty(PhaseKey, "build")
    try {
      val t0 = System.nanoTime()
      val built = build
      val t1 = System.nanoTime()
      sc.setLocalProperty(PhaseKey, "run")
      val result = act(built)
      val t2 = System.nanoTime()
      org.apache.spark.sql.graft.ListenerBusWait(sc)
      QueryProfile(result, (t2 - t0) / 1e9, (t1 - t0) / 1e9,
        jobs.values.asScala.toSeq.map(_.job).sortBy(_.id), decisions.asScala.toSeq)
    } finally {
      sc.setLocalProperty(TagKey, outer._1)
      sc.setLocalProperty(PhaseKey, outer._2)
      active.remove(tag)
      sc.removeSparkListener(listener)
    }
  }
}
