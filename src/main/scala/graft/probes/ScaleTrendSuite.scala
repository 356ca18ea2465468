package graft
package probes

/** SUITE-LEVEL scale-trend probe (round-16 verdict item 4, carried to
  * round 18 as item 5): time NAMED registry queries — unmodified, the
  * exact closures the bench runs — against two sf directories (the
  * driver fixture and its ×N replica from tools/make_scaled_sf.py)
  * and print one JSON line per query with both times. Together with
  * tools/duckdb_baseline.py over the same two directories this yields
  * the one-number ratio-trend table: a Spark/duck ratio that FALLS as
  * N grows is fixed-floor-bound at sf0.1 (scheduling, planning,
  * per-job barriers), not plan-bound — the ~100 TB claim made visible
  * suite-wide instead of per-family.
  *
  * Each query is warmed once per directory before timing (fixture
  * builds — served indexes, stream inputs, versioned templates — land
  * in warm-up exactly as they do in Bench's warm pass), then timed
  * min-of-`reps` with the noop sink, interleaved across directories
  * so a window shift hits both arms equally.
  *
  * Usage: runMain graft.probes.ScaleTrendSuite <sfDir1> <sfDirN> \
  *   <q1,q2,...> [reps]
  */
object ScaleTrendSuite {
  def main(args: Array[String]): Unit = {
    val dir1 = args(0)
    val dirN = args(1)
    val names = args(2).split(",").filter(_.nonEmpty).toSeq
    val reps = args.lift(3).map(_.toInt).getOrElse(3)
    val spark = Sessions.local(Sessions.envCores)

    def runPlan(df: org.apache.spark.sql.DataFrame): Unit =
      df.write.format("noop").mode("overwrite").save()

    val qs = SparkEntry.queries
    val missing = names.filterNot(qs.contains)
    require(missing.isEmpty, s"unknown queries: $missing")

    def error(n: String, d: String, rep: String, e: Throwable): Unit =
      println(s"""{"query":"$n","dir":"$d","rep":"$rep","error":"${
        e.getClass.getSimpleName}"}""")

    // warm both arms (fixture builds + codegen)
    names.foreach { n =>
      Seq(dir1, dirN).foreach { d =>
        try runPlan(qs(n)(spark, d))
        catch { case e: Throwable => error(n, d, "warm", e) }
      }
    }

    val acc = scala.collection.mutable.Map[(String, String),
      List[Double]]().withDefaultValue(Nil)
    (1 to reps).foreach { rep =>
      names.foreach { n =>
        Seq(dir1, dirN).foreach { d =>
          try {
            val t0 = System.nanoTime()
            runPlan(qs(n)(spark, d))
            acc((n, d)) ::= (System.nanoTime() - t0) / 1e9
          } catch { case e: Throwable => error(n, d, rep.toString, e) }
        }
      }
    }
    names.foreach { n =>
      val t1 = acc((n, dir1))
      val tN = acc((n, dirN))
      val empty = Seq(dir1 -> t1, dirN -> tN).collect {
        case (d, Nil) => s""""$d""""
      }
      if (empty.nonEmpty)
        println(s"""{"query":"$n","empty_arms":[${empty.mkString(",")}]}""")
      else
        println(f"""{"query":"$n","t1_sec":${t1.min}%.4f,"tN_sec":${
          tN.min}%.4f,"t1_all":[${
          t1.reverse.map(t => f"$t%.4f").mkString(",")}],"tN_all":[${
          tN.reverse.map(t => f"$t%.4f").mkString(",")}]}""")
    }
    spark.stop()
  }
}
