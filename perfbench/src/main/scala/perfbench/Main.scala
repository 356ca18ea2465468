package perfbench

import graft.ingest.Js
import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}
import scala.collection.immutable.ListMap

/** Benchmark entry point, one workload per process:
  *
  * {{{
  * perfbench.Main --workload ingest|serve --seed N --seconds S
  *   --trace 0|1 --work-dir DIR [--tables DIR] [--trace-out FILE]
  *   [--cores N]
  * }}}
  *
  * Prints progress to stderr and, as the last stdout line, one JSON
  * object `{"correct", "attempted", "failed", "metrics"}`: the
  * end-to-end metrics untraced, the per-layer metrics traced.
  */
object Main {

  /** Set-ups per run; `setup_s` is their median. */
  val SetUps = 3

  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect { case Array(k, v) =>
      k.stripPrefix("--") -> v }.toMap
    def need(k: String) = opt.getOrElse(k, usage(s"missing --$k"))
    val workloadName = need("workload")
    val seed = need("seed").toLong
    val seconds = need("seconds").toInt
    val traced = need("trace") == "1"
    val workDir = need("work-dir")
    val cores = opt.get("cores").map(_.toInt)
      .getOrElse(Runtime.getRuntime.availableProcessors())
    val t0 = System.nanoTime()
    def log(s: String): Unit = System.err.println(
      f"[perfbench +${(System.nanoTime() - t0) / 1e9}%.1fs] $s")

    Files.createDirectories(Paths.get(workDir))
    val spark = graft.Sessions.local(cores)
    try {
      val tracer = if (traced) Some(new Tracer(spark)) else None
      val ctx = Ctx(spark, seed, workDir, opt.get("tables"), tracer, log)
      val w: Workload = workloadName match {
        case "ingest" => new Ingest(ctx)
        case "serve" => new Serve(ctx)
        case other => usage(s"unknown workload $other")
      }

      val setUps = (1 to SetUps).map { i =>
        val t0 = System.nanoTime()
        val ok = w.setUp(i)
        val s = (System.nanoTime() - t0) / 1e9
        log(f"set-up $i: $s%.3f s${if (ok) "" else " (check failed)"}")
        (s, ok)
      }
      val h = new Harness(tracer, log)
      val warmFailed = h.warmUp(w.warmUp)
      log("warm-up done")
      w.offeredInLoop = 0
      w.newInLoop = 0
      h.loop(seconds, w.mix.size)(w.next)
      val finalOk = w.finalChecks(h)
      val (files, bytes) = w.catalogFiles
      val correct = setUps.forall(_._2) && warmFailed == 0 && finalOk &&
        h.failed == 0
      log(s"ops=${h.attempted} failed=${h.failed} correct=$correct")
      val n = h.attempted
      val top = (1 to 99).reverse.find(p => Stats.beyond(n, p) >= Stats.MinBeyond)
      top.foreach(p => log(f"op latency n=$n p$p=" +
        f"${Stats.percentile(h.latencies, p).get}%.1f ms (highest percentile" +
        f" with ${Stats.MinBeyond} samples beyond)"))

      val metrics: Seq[(String, Double, String)] = tracer match {
        case None =>
          val reads = w.mix - w.writeOp
          Seq(
            ("setup_s", Stats.median(setUps.map(_._1)), "s"),
            ("op_latency_ms",
              h.geomeanMs(if (reads.isEmpty) w.mix else reads), "ms"),
            ("write_latency_ms", h.geomeanMs(Map(w.writeOp -> 1.0)), "ms"),
            ("ops_per_s", h.mixOpsPerS(w.mix), "1/s"),
            ("stored_bytes_per_record", bytes.toDouble / w.catalogRows,
              "B/record"),
            ("retained_heap_mb", retainedHeapMb(), "MB"))
        case Some(t) =>
          opt.get("trace-out").foreach(p =>
            Files.writeString(Paths.get(p), h.traceJson(t)))
          h.layerMetrics(t) ++ Seq(
            ("ingest.new_ratio", w.newInLoop.toDouble / w.offeredInLoop,
              "ratio"),
            ("catalog.files", files.toDouble, "count"),
            ("catalog.bytes", bytes.toDouble, "B"))
      }
      metrics.foreach { case (name, v, _) =>
        require(!v.isNaN && !v.isInfinite, s"$name is not finite: $v") }
      println(Js.render(ListMap(
        "correct" -> correct,
        "attempted" -> h.attempted,
        "failed" -> h.failed,
        "metrics" -> ListMap(metrics.map { case (name, v, unit) =>
          name -> ListMap("value" -> v, "unit" -> unit) }: _*))))
    } finally spark.stop()
  }

  /** Heap in use after full collections. */
  def retainedHeapMb(): Double = {
    (1 to 3).foreach { _ => System.gc(); Thread.sleep(50) }
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
  }

  private def usage(msg: String): Nothing = {
    System.err.println(s"[perfbench] $msg")
    sys.exit(2)
  }
}
