package perfbench

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.AtomicLong
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.util.QueryExecutionListener
import scala.jdk.CollectionConverters._

/** Outside-in span recorder. Ops and verb calls are spans the harness
  * opens around public calls; their children are the Spark jobs and
  * SQL executions seen by a [[SparkListener]] the tracer registers,
  * the Catalyst phase times of each executed plan (from
  * `QueryExecution.tracker`, via a [[QueryExecutionListener]]) and the
  * fetches the [[BenchFetcher]] reports. Everything is kept in memory;
  * children are attributed to spans by start time after the run, which
  * is sound because ops run one at a time.
  *
  * Listeners are attached only while [[arm]]ed, so the harness can
  * alternate traced and untraced stretches and price the tracing.
  */
final class Tracer(spark: SparkSession) {

  private val wall0 = System.currentTimeMillis().toDouble
  private val nano0 = System.nanoTime()

  /** Trace clock: epoch milliseconds with sub-millisecond resolution,
    * comparable with listener event times.
    */
  def now(): Double = wall0 + (System.nanoTime() - nano0) / 1e6

  final class Job(val id: Int, val start: Double) {
    @volatile var end: Double = Double.NaN
    val stages = new AtomicLong
    val tasks = new AtomicLong
    val runMs = new AtomicLong
    val cpuNs = new AtomicLong
    val gcMs = new AtomicLong
    val shuffleRead = new AtomicLong
    val shuffleWrite = new AtomicLong
    val spill = new AtomicLong
    val input = new AtomicLong
    val output = new AtomicLong
    def interval: Interval =
      Interval(start, if (end.isNaN) start else end)
  }

  /** Catalyst phase times of one executed plan; `at` is when planning
    * finished (the attribution time).
    */
  final case class Phases(at: Double, analysis: Double,
      optimization: Double, planning: Double)

  private val jobs = new ConcurrentHashMap[Int, Job]
  private val stageJob = new ConcurrentHashMap[Int, Job]
  private val sqlStarts = new ConcurrentHashMap[Long, Double]
  private val sqls = new ConcurrentLinkedQueue[Interval]
  private val phases = new ConcurrentLinkedQueue[Phases]
  private val fetches = new ConcurrentLinkedQueue[(Interval, Long)]
  @volatile private var armed = false
  @volatile private var drainedGroup = ""

  private val DrainGroup = "perfbench-drain-"
  private val drains = new AtomicLong

  private val jobListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val group = Option(e.properties)
        .flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
        .getOrElse("")
      if (group.startsWith(DrainGroup)) drainedGroup = group
      else {
        val j = new Job(e.jobId, e.time.toDouble)
        jobs.put(e.jobId, j)
        e.stageIds.foreach(s => stageJob.put(s, j))
      }
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(jobs.get(e.jobId)).foreach(_.end = e.time.toDouble)
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      Option(stageJob.get(e.stageInfo.stageId)).foreach(_.stages.incrementAndGet())
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      for (j <- Option(stageJob.get(e.stageId));
           m <- Option(e.taskMetrics)) {
        j.tasks.incrementAndGet()
        j.runMs.addAndGet(m.executorRunTime)
        j.cpuNs.addAndGet(m.executorCpuTime)
        j.gcMs.addAndGet(m.jvmGCTime)
        j.shuffleRead.addAndGet(m.shuffleReadMetrics.totalBytesRead)
        j.shuffleWrite.addAndGet(m.shuffleWriteMetrics.bytesWritten)
        j.spill.addAndGet(m.diskBytesSpilled)
        j.input.addAndGet(m.inputMetrics.bytesRead)
        j.output.addAndGet(m.outputMetrics.bytesWritten)
      }
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case s: SparkListenerSQLExecutionStart =>
        sqlStarts.put(s.executionId, s.time.toDouble)
      case s: SparkListenerSQLExecutionEnd =>
        Option(sqlStarts.remove(s.executionId)).foreach(t =>
          sqls.add(Interval(t, s.time.toDouble)))
      case _ =>
    }
  }

  private val planListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution,
        durationNs: Long): Unit = {
      val ph = qe.tracker.phases
      def ms(name: String) = ph.get(name).map(_.durationMs.toDouble)
        .getOrElse(0.0)
      if (ph.nonEmpty) phases.add(Phases(
        ph.values.map(_.endTimeMs).max.toDouble,
        ms("analysis"), ms("optimization"), ms("planning")))
    }
    override def onFailure(funcName: String, qe: QueryExecution,
        exception: Exception): Unit = ()
  }

  private def session = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]

  def isArmed: Boolean = armed

  def arm(): Unit = if (!armed) {
    spark.sparkContext.addSparkListener(jobListener)
    session.listenerManager.register(planListener)
    armed = true
  }

  /** Detach the listeners after every event already posted has been
    * delivered: a marker job runs under its own job group, and its start
    * event can only arrive after all earlier events on the same queue.
    */
  def disarm(): Unit = if (armed) {
    drain()
    spark.sparkContext.removeSparkListener(jobListener)
    session.listenerManager.unregister(planListener)
    armed = false
  }

  def drain(): Unit = {
    val group = DrainGroup + drains.incrementAndGet()
    val sc = spark.sparkContext
    sc.setJobGroup(group, "listener-bus drain marker")
    try sc.parallelize(Seq(1), 1).count()
    finally sc.clearJobGroup()
    val deadline = System.nanoTime() + 10L * 1000000000L
    while (drainedGroup != group && System.nanoTime() < deadline)
      Thread.sleep(1)
  }

  /** A fetch span and its body size, reported by the fetcher. */
  def fetch(iv: Interval, bytes: Long): Unit =
    if (armed) fetches.add(iv -> bytes)

  // ---- attribution ----

  /** Layer totals of everything that started inside `iv`. */
  final case class Layers(jobs: Seq[Job], sqls: Seq[Interval],
      phases: Seq[Phases], fetches: Seq[(Interval, Long)]) {
    def jobSpans: Seq[Interval] = jobs.map(_.interval)
    def sum(f: Job => Long): Double = jobs.map(f).sum.toDouble
  }

  def within(iv: Interval): Layers = Layers(
    jobs.values.asScala.filter(j => iv.contains(j.start)).toSeq,
    sqls.asScala.filter(s => iv.contains(s.start)).toSeq,
    phases.asScala.filter(p => iv.contains(p.at)).toSeq,
    fetches.asScala.filter(f => iv.contains(f._1.start)).toSeq)
}
