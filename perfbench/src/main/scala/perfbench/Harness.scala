package perfbench

import graft.ingest.Js
import java.lang.management.ManagementFactory
import scala.collection.immutable.ListMap
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

/** One timed operation: `run` is the timed call (verb plus
  * materialising its result), `check` validates the result outside the
  * timed interval. A throwing run or a false check counts as failed.
  */
abstract class Op {
  type R
  def name: String
  def run(h: Harness): R
  def check(r: R): Boolean
}

object Op {
  def apply[T](opName: String)(body: Harness => T)(ok: T => Boolean): Op =
    new Op {
      type R = T
      val name = opName
      def run(h: Harness): T = body(h)
      def check(r: T): Boolean = ok(r)
    }
}

final case class VerbSpan(name: String, iv: Interval)

final case class OpSpan(name: String, iv: Interval, ms: Double,
    ok: Boolean, armed: Boolean, verbs: Seq[VerbSpan])

/** Closed-loop runner: one client thread, the next op starts only after
  * the previous one (and its check) returned. In a traced run the
  * listeners are attached for about half the ops of each kind and
  * detached for the others; the latency ratio of the two halves prices
  * the tracing.
  */
final class Harness(val tracer: Option[Tracer], log: String => Unit) {

  val ops = ArrayBuffer.empty[OpSpan]
  private val verbBuf = ArrayBuffer.empty[VerbSpan]
  private val nano0 = System.nanoTime()

  def now(): Double =
    tracer.map(_.now()).getOrElse((System.nanoTime() - nano0) / 1e6)

  /** A named verb call inside the current op (a child span). */
  def verb[T](name: String)(body: => T): T = {
    val t0 = now()
    try body finally verbBuf += VerbSpan(name, Interval(t0, now()))
  }

  /** In a traced run the k-th op of each kind is traced for k = 0, 3,
    * 4, 7, 8, … (ABBA order), so every kind has traced ops and traced
    * and untraced calls of a kind are matched in time.
    */
  private val kindCalls = scala.collection.mutable.Map.empty[String, Int]
  private def traced(name: String): Boolean = {
    val k = kindCalls.getOrElse(name, 0)
    kindCalls(name) = k + 1
    k % 4 == 0 || k % 4 == 3
  }

  private def gcMs: Long = ManagementFactory.getGarbageCollectorMXBeans
    .asScala.map(_.getCollectionTime).sum

  private val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == java.lang.management.MemoryType.HEAP)

  var loopGcMs = 0L
  var heapPeakMb = 0.0

  /** Run `ops` untimed (their checks still count); returns how many
    * failed. Used to warm code paths the set-up does not reach.
    */
  def warmUp(ops: Iterator[Op]): Int = ops.count { op =>
    val t0 = System.nanoTime()
    val ok = try op.check(op.run(this)) catch { case e: Exception =>
      log(s"warm-up op ${op.name} threw: $e"); false
    }
    log(f"warm-up ${op.name} ${(System.nanoTime() - t0) / 1e6}%.1f ms")
    verbBuf.clear()
    !ok
  }

  /** Run whole decks of `deck` ops (each kind once per deck) until
    * `seconds` have passed and at least [[MinDecks]] decks ran, so every
    * kind is sampled equally often and at least three times, however
    * slow the host.
    */
  def loop(seconds: Int, deck: Int)(next: Int => Op): Unit = {
    heapPools.foreach(_.resetPeakUsage())
    val gc0 = gcMs
    val t0 = System.nanoTime()
    def elapsed = (System.nanoTime() - t0) / 1e9
    var i = 0
    while (i < Harness.MinDecks * deck || elapsed < seconds ||
        i % deck != 0) {
      val op = next(i)
      tracer.foreach(t => if (traced(op.name)) t.arm() else t.disarm())
      verbBuf.clear()
      val start = now()
      val s0 = System.nanoTime()
      val result =
        try Right(op.run(this))
        catch { case e: Exception => Left(e) }
      val ms = (System.nanoTime() - s0) / 1e6
      val iv = Interval(start, now())
      val c0 = System.nanoTime()
      val ok = result match {
        case Right(r) =>
          try op.check(r.asInstanceOf[op.R])
          catch { case e: Exception =>
            log(s"check of op $i (${op.name}) threw: $e"); false
          }
        case Left(e) => log(s"op $i (${op.name}) threw: $e"); false
      }
      log(f"op $i%d ${op.name} $ms%.1f ms (check " +
        f"${(System.nanoTime() - c0) / 1e6}%.0f ms)${if (ok) "" else " FAILED"}")
      ops += OpSpan(op.name, iv, ms, ok,
        tracer.exists(_.isArmed), verbBuf.toVector)
      i += 1
    }
    loopGcMs = gcMs - gc0
    heapPeakMb = heapPools.map(_.getPeakUsage.getUsed).sum / 1048576.0
    tracer.foreach(_.disarm())
    ops.groupBy(_.name).toSeq.sortBy(_._1).foreach { case (name, os) =>
      val ms = os.map(_.ms).sorted
      log(f"$name%-14s n=${ms.size}%3d median=${Stats.median(ms.toSeq)}%8.1f ms" +
        f" min=${ms.head}%8.1f max=${ms.last}%8.1f")
    }
  }

  def latencies: Seq[Double] = ops.map(_.ms).toSeq

  /** Median latency of each op kind. */
  private def medianMs: Map[String, Double] =
    ops.groupBy(_.name).map { case (name, os) =>
      name -> Stats.median(os.map(_.ms).toSeq) }

  /** Typical latency of the op kinds in `share`: the share-weighted
    * geometric mean of each kind's median latency.
    */
  def geomeanMs(share: Map[String, Double]): Double = {
    val med = medianMs
    math.exp(share.map { case (name, w) => w * math.log(med(name)) }.sum /
      share.values.sum)
  }

  /** Ops per second of the nominal op mix (`share` per op name), from
    * each op kind's median latency.
    */
  def mixOpsPerS(share: Map[String, Double]): Double = {
    val med = medianMs
    1e3 * share.values.sum / share.map { case (name, w) => w * med(name) }.sum
  }

  def attempted: Int = ops.size
  def failed: Int = ops.count(!_.ok)

  // ---- per-layer summary (traced runs) ----

  /** Per-layer metrics over the traced ops: each value is the mean per
    * op (or per collect call for `ingest.*` / `verb.collect*`).
    */
  def layerMetrics(t: Tracer): Seq[(String, Double, String)] = {
    val per = ops.filter(_.armed).toSeq.map(o => o -> t.within(o.iv))
    def m(f: t.Layers => Double): Double = Stats.mean(per.map(p => f(p._2)))
    def mOp(f: (OpSpan, t.Layers) => Double): Double =
      Stats.mean(per.map { case (o, l) => f(o, l) })
    val MB = 1048576.0
    val collects = per.flatMap(_._1.verbs).filter(_.name == "collect")
      .map(v => v -> t.within(v.iv))
    def mc(f: (VerbSpan, t.Layers) => Double): Double =
      Stats.mean(collects.map { case (v, l) => f(v, l) })
    Seq(
      ("catalyst.analysis_ms", m(_.phases.map(_.analysis).sum), "ms"),
      ("catalyst.optimization_ms", m(_.phases.map(_.optimization).sum), "ms"),
      ("catalyst.planning_ms", m(_.phases.map(_.planning).sum), "ms"),
      ("scheduler.jobs", m(_.jobs.size.toDouble), "count"),
      ("scheduler.stages", m(_.sum(_.stages.get)), "count"),
      ("scheduler.tasks", m(_.sum(_.tasks.get)), "count"),
      ("scheduler.gap_ms",
        mOp((o, l) => Interval.selfTime(o.iv, l.jobSpans)), "ms"),
      ("op.self_ms", mOp((o, l) =>
        Interval.selfTime(o.iv, l.jobSpans ++ l.sqls ++ l.fetches.map(_._1))),
        "ms"),
      ("executor.run_ms", m(_.sum(_.runMs.get)), "ms"),
      ("executor.cpu_ms", m(_.sum(_.cpuNs.get) / 1e6), "ms"),
      ("executor.gc_ms", m(_.sum(_.gcMs.get)), "ms"),
      ("shuffle.read_mb", m(_.sum(_.shuffleRead.get) / MB), "MB"),
      ("shuffle.write_mb", m(_.sum(_.shuffleWrite.get) / MB), "MB"),
      ("shuffle.spill_mb", m(_.sum(_.spill.get) / MB), "MB"),
      ("io.input_mb", m(_.sum(_.input.get) / MB), "MB"),
      ("io.output_mb", m(_.sum(_.output.get) / MB), "MB"),
      ("ingest.http_requests", mc((_, l) => l.fetches.size.toDouble), "count"),
      ("ingest.http_bytes", mc((_, l) => l.fetches.map(_._2).sum.toDouble), "B"),
      ("ingest.fetch_ms",
        mc((_, l) => Interval.covered(l.fetches.map(_._1))), "ms"),
      ("ingest.driver_ms", mc((v, l) =>
        Interval.selfTime(v.iv, l.jobSpans ++ l.fetches.map(_._1))), "ms"),
      ("verb.collect_ms", mc((v, _) => v.iv.length), "ms"),
      ("verb.collect.jobs", mc((_, l) => l.jobs.size.toDouble), "count")) ++
    registryMetrics ++ Seq(
      ("jvm.gc_ms", loopGcMs.toDouble / math.max(1, ops.size), "ms"),
      ("jvm.heap_peak_mb", heapPeakMb, "MB"),
      ("trace.overhead_share", overheadShare, "ratio"))
  }

  /** Seconds per registry pass in each family's query, over every
    * registry op of the run (traced or not); 0 where no op runs one.
    */
  private def registryMetrics: Seq[(String, Double, String)] = {
    val passes = ops.filter(_.name == "registry").toSeq
    Registry.Families.map { case (family, _, _) =>
      (s"registry.${family}_s", Stats.mean(passes.map(_.verbs
        .filter(_.name == s"registry.$family").map(_.iv.length).sum / 1e3)),
        "s")
    }
  }

  /** Traced over untraced latency: per op kind with both, the ratio of
    * mean latencies, summed over kinds weighted by untraced time.
    */
  private def overheadShare: Double = {
    val pairs = ops.groupBy(_.name).values.flatMap { os =>
      val (on, off) = os.partition(_.armed)
      if (on.isEmpty || off.isEmpty) None
      else Some(Stats.mean(on.map(_.ms).toSeq) -> Stats.mean(off.map(_.ms).toSeq))
    }
    pairs.map(_._1).sum / pairs.map(_._2).sum
  }

  /** The kept spans as JSON: one record per op with its verb children
    * and the jobs, SQL executions and fetches attributed to it, plus a
    * per-verb summary. A traced verb record (each registry query is
    * one) carries its job count, Catalyst time, time with no job
    * running, executor run time and shuffle volume.
    */
  def traceJson(t: Tracer): String = {
    val opRecs = ops.toSeq.zipWithIndex.map { case (o, i) =>
      val l = if (o.armed) Some(t.within(o.iv)) else None
      ListMap[String, Any](
        "i" -> i, "name" -> o.name, "start_ms" -> o.iv.start,
        "dur_ms" -> o.ms, "ok" -> o.ok, "traced" -> o.armed) ++
        l.toSeq.flatMap(l => Seq(
          "self_ms" -> Interval.selfTime(o.iv,
            l.jobSpans ++ l.sqls ++ l.fetches.map(_._1)),
          "gap_ms" -> Interval.selfTime(o.iv, l.jobSpans),
          "plan_ms" -> l.phases.map(p =>
            p.analysis + p.optimization + p.planning).sum,
          "jobs" -> l.jobs.sortBy(_.id).map(j => Seq[Any](
            j.id, j.start - o.iv.start, j.interval.length, j.tasks.get)),
          "sql_executions" -> l.sqls.size,
          "fetches" -> l.fetches.size)) +
        ("verbs" -> o.verbs.map(v => ListMap[String, Any](
          "name" -> v.name, "dur_ms" -> v.iv.length) ++
          (if (!o.armed) Nil else {
            val l = t.within(v.iv)
            Seq("njobs" -> l.jobs.size,
              "plan_ms" -> l.phases.map(p =>
                p.analysis + p.optimization + p.planning).sum,
              "gap_ms" -> Interval.selfTime(v.iv, l.jobSpans),
              "exec_ms" -> l.sum(_.runMs.get),
              "shuffle_mb" ->
                l.sum(j => j.shuffleRead.get + j.shuffleWrite.get) / 1048576.0)
          })))
    }
    val byVerb = ops.filter(_.armed).flatMap(_.verbs).groupBy(_.name)
      .toSeq.sortBy(_._1).map { case (name, vs) =>
        name -> ListMap(
          "calls" -> vs.size,
          "median_ms" -> Stats.median(vs.map(_.iv.length).toSeq),
          "mean_jobs" ->
            Stats.mean(vs.map(v => t.within(v.iv).jobs.size.toDouble).toSeq))
      }
    Js.render(ListMap("verbs" -> ListMap(byVerb: _*), "ops" -> opRecs))
  }
}

object Harness {
  /** Each op kind's latency is the median of at least this many calls. */
  val MinDecks = 3
}
