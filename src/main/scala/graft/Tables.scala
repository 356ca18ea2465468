package graft

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/** Loaders for the driver-generated testdata tables (TESTDATA.md).
  *
  * Every loader takes the scale-factor directory (e.g.
  * `/root/testdata/sf0.01`) so the same query code runs at any SF — at
  * cluster scale these would be catalog tables partitioned on their
  * natural keys; here they are single parquet files.
  */
object Tables {

  /** Loader cache: path-based `spark.read.parquet` builds a fresh
    * file index + schema read per call, which a catalog-managed table
    * would do once. Caching the DataFrame per (session, path) gives
    * every query the same analyzed relation — metadata reuse; only
    * small dimensions (below) also keep their data in memory. An
    * in-place rewrite of the file reloads it ([[FixtureCache]]).
    */
  private val loaded = new FixtureCache[String, DataFrame]

  /** Dimension tables below this on-disk size are kept in executor
    * memory (`cache()`): every star query pays its dim broadcasts out
    * of memory instead of re-scanning parquet per query — the same
    * size-gated judgment auto-broadcast applies, so a dimension that
    * GROWS past the gate at scale silently reverts to scan-per-query
    * with full pushdown rather than polluting the cache.
    */
  private val DimCacheMaxBytes = 64L << 20
  private val DimTables =
    Set("region", "nation", "customer", "supplier", "part")

  /** Local table-LAYOUT repair for under-split sources — the at-rest
    * counterpart of [[FanOut]]: the driver testdata writes each fact
    * table as ONE parquet row group, which Spark's reader cannot
    * split (a range split that doesn't contain the row-group start
    * decodes nothing), so every scan's decode — and, whenever AQE
    * broadcasts the dims, the whole scan-stage join/agg pipeline —
    * serializes behind one task. A single-node columnar engine
    * range-splits INSIDE a row group and uses all cores on the same
    * file; a Spark cluster never meets this because ingest lands
    * tables as many splittable files. This layer performs exactly
    * that ingest step, once per process: facts above the size gate
    * are rewritten to [[ReshardShards]] files in the local tmpdir and
    * every query reads the properly-split copy (same rows, same
    * schema, same pushdown — column pruning and predicate pushdown
    * apply per file). Dimension tables stay below the gate and keep
    * their single-file reads.
    */
  private val ReshardMinBytes = 512L << 10
  private val resharded = new FixtureCache[String, String]

  /** Fixed 8-way: measured A/B at local[32] (BASELINE.md round 6) —
    * core-count-many shards LOST to 8 on every scan-heavy query
    * (n4 2.03 vs 1.62, n9 2.81 vs 2.55, q9 0.39 vs 0.34): at ~10 MB
    * per table, per-task fixed cost dominates long before scan width
    * binds, and FanOut already widens the few scan stages that carry
    * real compute. On a cluster the ingest analogue is a TARGET FILE
    * SIZE (128–512 MB), not a file-per-core; 8 plays that role for
    * the local corpus.
    */
  private val ReshardShards = 8

  private def reshardIfUnderSplit(spark: SparkSession, p: String): String = {
    val src = new java.io.File(p)
    if (!src.isFile || src.length < ReshardMinBytes) return p
    resharded(spark, p, p) {
      val digest = java.lang.Long.toHexString(
        scala.util.hashing.MurmurHash3.stringHash(p).toLong & 0xffffffffL)
      val dst = new java.io.File(
        new java.io.File(sys.props("java.io.tmpdir"), "graft-reshard"),
        s"${src.getName.stripSuffix(".parquet")}-$digest-" +
          s"${src.length}-${src.lastModified}")
      if (!new java.io.File(dst, "_SUCCESS").isFile) {
        spark.read.parquet(p)
          .repartition(ReshardShards)
          .write.mode(SaveMode.Overwrite).parquet(dst.toString)
      }
      dst.toString
    }
  }

  private def load(spark: SparkSession, p: String): DataFrame =
    loaded(spark, p, p) {
      val df = spark.read.parquet(reshardIfUnderSplit(spark, p))
      val name = p.split('/').last.stripSuffix(".parquet")
      val small = DimTables.contains(name) && {
        val f = new java.io.File(p)
        f.exists && f.length < DimCacheMaxBytes
      }
      if (small) df.cache() else df
    }

  private[graft] def path(sfDir: String, table: String): String =
    s"$sfDir/$table.parquet"

  def region(spark: SparkSession, sfDir: String): DataFrame =
    load(spark, path(sfDir, "region"))
  def nation(spark: SparkSession, sfDir: String): DataFrame =
    load(spark, path(sfDir, "nation"))
  def customer(spark: SparkSession, sfDir: String): DataFrame =
    load(spark, path(sfDir, "customer"))
  def supplier(spark: SparkSession, sfDir: String): DataFrame =
    load(spark, path(sfDir, "supplier"))
  def part(spark: SparkSession, sfDir: String): DataFrame =
    load(spark, path(sfDir, "part"))
  def orders(spark: SparkSession, sfDir: String): DataFrame =
    load(spark, path(sfDir, "orders"))
  def lineitem(spark: SparkSession, sfDir: String): DataFrame =
    load(spark, path(sfDir, "lineitem"))
  def documents(spark: SparkSession, sfDir: String): DataFrame =
    load(spark, path(sfDir, "documents"))
  def embeddings(spark: SparkSession, sfDir: String): DataFrame =
    load(spark, path(sfDir, "embeddings"))

  /** `events.ts` is parquet TIMESTAMP(NANOS) (pandas-written). Spark's
    * vectorized reader cannot map INT64 nanos to TimestampType directly;
    * `spark.sql.legacy.parquet.nanosAsLong` (set at session
    * construction — Sessions.local; NOT mutated here, a loader must
    * never change shared session state) surfaces it as LongType nanos
    * which we convert to micros (lossless here — the generator emits
    * micro-precision values; verified: 0 rows with sub-micro ns).
    */
  def events(spark: SparkSession, sfDir: String): DataFrame = {
    val raw = load(spark, path(sfDir, "events"))
    import org.apache.spark.sql.types.LongType
    // `ts div 1000`: integral division — a double round-trip would lose
    // precision (epoch-ns ~1.7e18 > 2^53) and shift some rows by 1 µs.
    if (raw.schema("ts").dataType == LongType)
      raw.withColumn("ts", timestamp_micros(expr("ts div 1000")))
    else raw
  }

  /** Registers every testdata table as a temp view so the engine's
    * full surface is reachable from `spark.sql(...)` — same relations
    * (loader cache included, events with the nanos fix) the DataFrame
    * operators read, so SQL and DataFrame results are identical by
    * construction.
    */
  def registerAll(spark: SparkSession, sfDir: String): Unit = {
    Seq("region" -> region _, "nation" -> nation _,
      "customer" -> customer _, "supplier" -> supplier _,
      "part" -> part _, "orders" -> orders _, "lineitem" -> lineitem _,
      "documents" -> documents _, "embeddings" -> embeddings _,
      "events" -> events _).foreach { case (name, loader) =>
      loader(spark, sfDir).createOrReplaceTempView(name)
    }
  }
}

/** Quick manual probe: `sbt "runMain graft.Probe"`. */
object Probe {
  def main(args: Array[String]): Unit = {
    val spark = Sessions.local(4)
    val sf = "/root/testdata/sf0.001"
    Tables.events(spark, sf).show(3, false)
    Tables.events(spark, sf).printSchema()
    Tables.documents(spark, sf).show(2)
    spark.stop()
  }
}
