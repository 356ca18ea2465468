package graft
package probes

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd,
  SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import scala.jdk.CollectionConverters._

/** The query-timing probe: times NAMED registry queries — unmodified,
  * the exact closures the bench runs — over one or more sf
  * directories, min-of-`reps` into the noop sink, and prints one JSON
  * line per query with one arm per directory.
  *
  *  - One directory: per-query timing for plan experiments.
  *  - A directory and its ×N replica from tools/make_scaled_sf.py: the
  *    scale trend. With tools/duckdb_baseline.py over the same two
  *    directories, tools/merge_scaletrend_suite.py turns it into the
  *    ratio-trend table: a Spark/duck ratio that FALLS as N grows is
  *    fixed-floor-bound at the small size (scheduling, planning,
  *    per-job barriers), not plan-bound.
  *  - `all` as the query list: the whole registry, which shows the
  *    queries paying an outsized njobs × gap scheduling floor.
  *
  * Each query is warmed once per directory before timing (fixture
  * builds — served indexes, stream inputs, versioned templates — land
  * in warm-up exactly as they do in Bench's warm pass), then timed
  * with reps interleaved across directories so a window shift hits
  * every arm equally. Each timed rep runs under its own job group and
  * reports its job count and the sum of its inter-job gaps (wall time
  * with no job of the rep running), read from one listener once it
  * has seen the end of every job of the group. A streaming query's
  * micro-batch jobs run under the stream's own group and are not
  * counted.
  *
  * Lines: one `calib_sec` (Bench's fixed-work load probe, min of 3;
  * a quiet machine reads ≈ 0.10–0.15 s); an `error` per failed
  * warm-up or rep; per query either `arms`, in directory order (the
  * min, and per rep the seconds, jobs and gap ms), or `empty_arms`
  * naming the directory indices with no successful rep.
  *
  * Usage: runMain graft.probes.ScaleTrendSuite <q1,q2,...|all> <reps> \
  *   <sfDir> [<sfDir> ...]
  */
object ScaleTrendSuite {
  def main(args: Array[String]): Unit = {
    val names =
      if (args(0) == "all") SparkEntry.queries.keys.toSeq.sorted
      else args(0).split(",").filter(_.nonEmpty).toSeq
    val spark = Sessions.local(Sessions.envCores)
    try run(spark, args.drop(2).toSeq, names, args(1).toInt, println)
    finally spark.stop()
  }

  private case class Rep(sec: Double, njobs: Int, gapMs: Long)

  def run(spark: SparkSession, dirs: Seq[String], names: Seq[String],
      reps: Int, emit: String => Unit): Unit = {
    val qs = SparkEntry.queries
    val missing = names.filterNot(qs.contains)
    require(missing.isEmpty, s"unknown queries: $missing")
    require(dirs.nonEmpty, "no sf directory")
    val sc = spark.sparkContext
    val spans = new JobSpans
    sc.addSparkListener(spans)
    try {
      val calib = (1 to 3).map(_ => Bench.calibProbe(spark)).min
      emit(f"""{"calib_sec":$calib%.4f}""")

      def error(n: String, arm: Int, rep: String, e: Throwable): Unit =
        emit(s"""{"query":"$n","arm":$arm,"dir":${str(dirs(arm))},""" +
          s""""rep":"$rep","error":${str(e.toString.take(300))}}""")

      // warm every arm (fixture builds + codegen)
      names.foreach { n =>
        dirs.indices.foreach { i =>
          try Bench.runPlan(qs(n)(spark, dirs(i)))
          catch { case e: Throwable => error(n, i, "warm", e) }
        }
      }

      val acc = scala.collection.mutable.Map[(String, Int), Vector[Rep]]()
        .withDefaultValue(Vector.empty)
      (1 to reps).foreach { rep =>
        names.foreach { n =>
          dirs.indices.foreach { i =>
            val group = s"$GroupPrefix${groups.incrementAndGet()}"
            sc.setJobGroup(group, s"$n arm $i rep $rep")
            try {
              val t0 = System.nanoTime()
              Bench.runPlan(qs(n)(spark, dirs(i)))
              val sec = (System.nanoTime() - t0) / 1e9
              val (njobs, gapMs) = spans.settle(group,
                sc.statusTracker.getJobIdsForGroup(group).toSeq)
              acc((n, i)) :+= Rep(sec, njobs, gapMs)
            } catch { case e: Throwable => error(n, i, rep.toString, e) }
            finally sc.clearJobGroup()
          }
        }
      }
      names.foreach { n =>
        val arms = dirs.indices.map(i => acc((n, i)))
        val empty = arms.indices.filter(arms(_).isEmpty)
        if (empty.nonEmpty)
          emit(s"""{"query":"$n","empty_arms":[${empty.mkString(",")}]}""")
        else emit(s"""{"query":"$n","arms":[${arms.indices.map { i =>
          val rs = arms(i)
          f"""{"dir":${str(dirs(i))},"sec":${rs.map(_.sec).min}%.4f,""" +
            s""""all":[${rs.map(r => f"${r.sec}%.4f").mkString(",")}],""" +
            s""""njobs":[${rs.map(_.njobs).mkString(",")}],""" +
            s""""gap_ms":[${rs.map(_.gapMs).mkString(",")}]}"""
        }.mkString(",")}]}""")
      }
    } finally sc.removeSparkListener(spans)
  }

  /** Job groups of timed reps: unique per rep across runs, as Spark's
    * status store keeps the jobs of a finished group.
    */
  private val GroupPrefix = "graft-scaletrend-"
  private val groups = new AtomicLong

  /** A JSON string literal. */
  private def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => " "
    case c => c.toString
  } + "\""

  /** Start and end time of each job of a timed rep, with its job
    * group. Listener events arrive asynchronously, so [[settle]] waits
    * for them.
    */
  private final class JobSpans extends SparkListener {
    private val starts = new ConcurrentHashMap[Int, (String, Long)]()
    private val ends = new ConcurrentHashMap[Int, Long]()

    override def onJobStart(j: SparkListenerJobStart): Unit =
      Option(j.properties)
        .flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
        .filter(_.startsWith(GroupPrefix))
        .foreach(g => starts.put(j.jobId, (g, j.time)))
    override def onJobEnd(j: SparkListenerJobEnd): Unit =
      if (starts.containsKey(j.jobId)) ends.put(j.jobId, j.time)

    /** The job count and summed inter-job gap (ms) of `group`'s jobs —
      * the `listed` ones and any this listener saw start in it — once
      * this listener has seen every one of them end. Forgets them.
      */
    def settle(group: String, listed: Seq[Int]): (Int, Long) = {
      def ofGroup = (listed ++ starts.asScala.collect {
        case (id, (g, _)) if g == group => id }).distinct
      val deadline = System.nanoTime() + 10e9.toLong
      var ids = ofGroup
      while (!ids.forall(ends.containsKey)) {
        if (System.nanoTime() > deadline) throw new IllegalStateException(
          s"job ends of $group not seen in 10 s")
        Thread.sleep(1)
        ids = ofGroup
      }
      val spans = ids.map(id => (starts.get(id)._2, ends.get(id)))
        .sortBy(_._1)
      ids.foreach { id => starts.remove(id); ends.remove(id) }
      // idle time: each start past the latest end so far
      val gap = spans.drop(1).foldLeft(
          (0L, spans.headOption.fold(0L)(_._2))) {
        case ((sum, reach), (s, e)) =>
          (sum + math.max(0L, s - reach), math.max(reach, e))
      }._1
      (spans.size, gap)
    }
  }
}
