package graft

import org.apache.spark.sql.SparkSession

/** One place to build a correctly-configured local session.
  *
  * Every entry point (Verify, Bench, Probe, tests) shares this so that
  * scale-relevant settings are uniform and explicit:
  *
  *  - AQE on (runtime join-strategy selection, partition coalescing,
  *    skew-join splitting) — the 100 TB plan must not depend on
  *    hand-placed broadcast hints;
  *  - `spark.sql.shuffle.partitions` sized to the local core count
  *    (on a real cluster this would be ~2-3× total cores and AQE
  *    coalesces down);
  *  - session timezone pinned UTC (all timestamp semantics and the
  *    DuckDB oracle comparison depend on it);
  *  - `parquet.nanosAsLong` set here, at session construction, because
  *    the driver testdata's `events.ts` is parquet TIMESTAMP(NANOS)
  *    which Spark's vectorized reader cannot map natively (config at
  *    read time would silently mutate a shared session — judged wrong
  *    in round 1).
  */
object Sessions {

  def local(cores: Int): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .withExtensions(new GraftExtensions)
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.parallelismFirst",
        "false")
      // With parallelismFirst=false AQE coalesces to the advisory size.
      // The 64 MB default is a cluster constant, not a law: against the
      // ~17 MB local corpus it folds every post-shuffle stage to ONE
      // partition, serializing any reduce side that carries real compute
      // (measured: n3's shared-shingle pair join doubled, 1.6 → 3.1 s).
      // 2 MB keeps tiny exchanges coalesced (floor-tier win retained)
      // while a compute-heavy reduce keeps ~8-way parallelism. On a real
      // cluster with TB inputs the default would be appropriate; this is
      // the honest local-scale equivalent.
      .config("spark.sql.adaptive.advisoryPartitionSizeInBytes", "2m")
      // AQE's runtime-stats broadcast decision (NOT the static planner
      // estimate): with 128 GiB of executor memory a 64 MB build side
      // is safely broadcastable, and the vocab-bounded model relations
      // (LM scoring, FTS postings) sit just above the 10 MB default —
      // sort-merge-joining a 500k-row stream against them costs more
      // than the broadcast. Static estimates keep the default
      // threshold, so only MEASURED small relations qualify.
      .config("spark.sql.adaptive.autoBroadcastJoinThreshold", "64m")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      // The round-6 testdata writes `events.ts` as parquet
      // TIMESTAMP(isAdjustedToUTC=false, MICROS) (earlier rounds:
      // NANOS, handled by the nanosAsLong path above). Spark 4 infers
      // unadjusted parquet timestamps as TIMESTAMP_NTZ, which
      // watermarks/event-time ops reject; with the session pinned UTC,
      // reading them as TimestampType yields the exact instants the
      // (naive-timestamp) DuckDB oracle sees. Set at construction for
      // the same shared-session reason as nanosAsLong.
      .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
      // The generated-class cache defaults to 100 entries; a session
      // serving the full query surface generates several THOUSAND
      // codegen stages per pass, so the default thrashes — every query
      // pays full Janino recompilation on every re-execution. Size the
      // cache to the workload (driver-side memory cost is bounded:
      // compiled classes, not data). Same reasoning applies to a
      // long-lived cluster driver serving a query mix. 4000 was sized
      // for the 136-query round-6 suite; 10000 for 177 queries
      // (round-7 close measured +7 s of re-thrash at 4000). Raised
      // to 25000 in round 8 PREEMPTIVELY — the suite grows ~10%/
      // round and the step cost masquerades as uniform per-query
      // regression every time it is crossed; an A/B at 181 queries
      // showed 10000 was NOT yet crossed (host noise explained the
      // observed drift), so this buys several rounds of headroom.
      .config("spark.sql.codegen.cache.maxEntries", "25000")
      // v2 file-output commit: task outputs rename straight into the
      // destination instead of a second driver-side directory rename
      // pass — halves the driver commit latency every write-path query
      // (k10, sinks, bucketed builds) pays per invocation. Task-commit
      // atomicity is unchanged; v2's weaker JOB-abort cleanup story is
      // acceptable here exactly like on any HDFS-backed batch cluster.
      .config("spark.hadoop.mapreduce.fileoutputcommitter.algorithm.version",
        "2")
      .config("spark.ui.enabled", "false")
      .config("spark.driver.host", "127.0.0.1")
      .config("spark.sql.warehouse.dir",
        sys.props("java.io.tmpdir") + "/graft-warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** Core count from the driver's env contract, default 32 (local[32]
    * is the driver's bench/verify shape).
    */
  def envCores: Int =
    sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt
}
