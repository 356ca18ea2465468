package graft

import graft.ingest.{DataRecord, Pipeline}
import java.sql.Timestamp
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
import org.apache.spark.sql.catalyst.expressions.BindReferences
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.util.{ArrayData, DateTimeUtils}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types.{LongType, StringType, StructType}
import scala.collection.immutable.ListMap
import scala.collection.mutable

/** The analytics state: one partial aggregate of the records table
  * from which every `analytics` view (ethical_crawler.py:1274–1349) is
  * a projection. One row per `(kind, key)`:
  *  - `source`: `source_name`;
  *  - `type`: `data_type`;
  *  - `day`: `date_trunc('day', ingested_at)` under the session time
  *    zone, as epoch microseconds;
  *  - `license`: `license_info`, the null key kept;
  *  - `tag`: each element of `tags`, `''` and null dropped;
  *  - `pair`: `(source_name, data_type)` as `hex(source_name)`, a
  *    space and `data_type` (`-` for a null source, a null key for a
  *    null type), so `distinct_types` counts a source's non-null pair
  *    keys.
  * Each row holds the key's record count `n`, the sum and count of its
  * non-null `size_bytes` and its first and last `ingested_at`. Every
  * column is exactly mergeable (counts and sums add, min and max fold),
  * so the state of a table is the per-key merge of the states of any
  * split of its files ([[merged]]).
  */
object AnalyticsState {

  /** One state row. */
  final case class Part(kind: String, key: String, n: Long,
      size_sum: Option[Long], size_n: Long, min_t: Option[Timestamp],
      max_t: Option[Timestamp])

  private[graft] val PartEncoder = ExpressionEncoder[Part]()

  /** The state's schema, as [[of]] computes it and files hold it. */
  val Schema: StructType = PartEncoder.schema

  private def entry(kind: String, key: Column): Column =
    struct(lit(kind).as("kind"), key.as("key"))

  /** A record's `(kind, key)` entries: one per kind, one per tag. The
    * DataFrame path ([[of]]) and the driver path ([[parts]]) both
    * evaluate it, so they cannot drift.
    */
  private val entries: Column = concat(
    array(
      entry("source", col("source_name")),
      entry("type", col("data_type")),
      entry("day",
        unix_micros(date_trunc("day", col("ingested_at"))).cast(StringType)),
      entry("license", col("license_info")),
      entry("pair", concat(coalesce(hex(col("source_name")), lit("-")), lit(" "),
        col("data_type")))),
    transform(
      filter(coalesce(col("tags"), typedLit(Seq.empty[String])), _ =!= ""),
      entry("tag", _)))

  private val Earlier = Ordering.fromLessThan[Timestamp](_ before _)

  /** `a` and `b`, two partial rows of one key, merged. */
  private def plus(a: Part, b: Part): Part = Part(a.kind, a.key, a.n + b.n,
    (a.size_sum ++ b.size_sum).reduceOption(_ + _), a.size_n + b.size_n,
    (a.min_t ++ b.min_t).minOption(Earlier),
    (a.max_t ++ b.max_t).maxOption(Earlier))

  /** `parts` merged per key: one row per `(kind, key)`. */
  private[graft] def perKey(parts: Iterator[Part]): Iterator[Part] = {
    val byKey = mutable.HashMap.empty[(String, String), Part]
    parts.foreach(p =>
      byKey.updateWith((p.kind, p.key))(o => Some(o.fold(p)(plus(_, p)))))
    byKey.valuesIterator
  }

  /** The state of `records`, one pass in parallel: each input split's
    * entries merged per key ([[partials]]), the partial states brought
    * to one partition and merged again. The shuffle is the RDD's, not a
    * Dataset exchange, so a cached state has no adaptive stage of its
    * own: the first view that reads the cache fills it in that view's
    * job (scan and merge, two stages).
    */
  def of(records: DataFrame): DataFrame = {
    val ones = records.select(explode(entries).as("e"),
      col("size_bytes").cast(LongType), col("ingested_at"))
    records.sparkSession.createDataset(ones.queryExecution.toRdd
      .mapPartitions(partials).repartition(1).mapPartitions(perKey))(
      PartEncoder).toDF()
  }

  /** A split's `(entry, size_bytes, ingested_at)` rows merged per key,
    * read in place: one [[Part]] per key, not one per row.
    */
  private def partials(rows: Iterator[InternalRow]): Iterator[Part] = {
    final class Acc(var n: Long = 0L, var sizeSum: Long = 0L,
        var sizeN: Long = 0L, var minT: Long = Long.MaxValue,
        var maxT: Long = Long.MinValue)
    val byKey = mutable.HashMap.empty[(String, String), Acc]
    rows.foreach { r =>
      val e = r.getStruct(0, 2)
      val a = byKey.getOrElseUpdate((e.getUTF8String(0).toString,
        if (e.isNullAt(1)) null else e.getUTF8String(1).toString), new Acc)
      a.n += 1
      if (!r.isNullAt(1)) { a.sizeSum += r.getLong(1); a.sizeN += 1 }
      if (!r.isNullAt(2)) {
        a.minT = math.min(a.minT, r.getLong(2))
        a.maxT = math.max(a.maxT, r.getLong(2))
      }
    }
    byKey.iterator.map { case ((kind, key), a) =>
      def at(micros: Long) = Option.when(a.minT <= a.maxT)(
        DateTimeUtils.toJavaTimestamp(micros))
      Part(kind, key, a.n, Option.when(a.sizeN > 0)(a.sizeSum), a.sizeN,
        at(a.minT), at(a.maxT))
    }
  }

  /** The state of `records`, which are on the driver: [[entries]] as
    * the session analyzes it, evaluated on the driver (analyzed over an
    * empty relation: no job), then merged per key as [[of]] merges.
    */
  def parts(spark: SparkSession, records: Seq[DataRecord]): Seq[Part] =
    SQLConf.withExistingConf(spark.sessionState.conf) {
      val encoder = Pipeline.RecordsEncoder
      val plan = spark.createDataFrame(java.util.List.of[Row](), encoder.schema)
        .select(entries).queryExecution.analyzed
      val keysOf = BindReferences.bindReference(plan.expressions.head,
        plan.children.head.output)
      val toRow = encoder.createSerializer()
      perKey(records.iterator.flatMap { r =>
        val es = keysOf.eval(toRow(r)).asInstanceOf[ArrayData]
        val t = Option(r.ingested_at)
        (0 until es.numElements).map { i =>
          val e = es.getStruct(i, 2)
          Part(e.getUTF8String(0).toString,
            Option(e.getUTF8String(1)).map(_.toString).orNull, 1L,
            r.size_bytes, r.size_bytes.size.toLong, t, t)
        }
      }).toSeq
    }

  /** One row per `(kind, key)` of `state`, which may hold several
    * partial rows per key, in one partition.
    */
  def merged(state: DataFrame): DataFrame =
    state.coalesce(1).groupBy(col("kind"), col("key"))
      .agg(sum(col("n")).as("n"), sum(col("size_sum")).as("size_sum"),
        sum(col("size_n")).as("size_n"), min(col("min_t")).as("min_t"),
        max(col("max_t")).as("max_t"))

  /** The `analytics` views by name, each a projection of a merged state
    * with the columns, types, order and tie-breaks of its
    * `ReferenceOps` frame (`sourceStats`, `typeCounts`, `popularTags`,
    * `temporalActivity`, `licenseDistribution`). The state is brought
    * to one partition, so each view is a local aggregate and sort, with
    * no exchange.
    */
  val Views: ListMap[String, DataFrame => DataFrame] = ListMap(
    "source_stats" -> sourceStats,
    "type_counts" -> (s => counts(s, "type", "data_type", "cnt")),
    "popular_tags" -> (s => counts(s, "tag", "tag", "frequency").limit(20)),
    "temporal_activity" -> (s => ofKind(s, "day")
      .select(timestamp_micros(col("key").cast("long")).as("day"),
        col("n").as("cnt"))
      .sortWithinPartitions(col("day").asc)),
    "license_distribution" ->
      (s => counts(s, "license", "license_info", "cnt")))

  private def ofKind(state: DataFrame, kind: String): DataFrame =
    state.coalesce(1).filter(col("kind") === kind)

  private def counts(state: DataFrame, kind: String, name: String,
      cnt: String): DataFrame =
    ofKind(state, kind).select(col("key").as(name), col("n").as(cnt))
      .sortWithinPartitions(col(cnt).desc, col(name).asc)

  /** Per source: its `source` row's stats and its pair rows with a
    * non-null type, counted.
    */
  private def sourceStats(state: DataFrame): DataFrame = {
    val isSource = col("kind") === "source"
    def ofSource(c: String) = when(isSource, col(c))
    state.coalesce(1)
      .filter(isSource || (col("kind") === "pair" && col("key").isNotNull))
      .groupBy(when(isSource, col("key"))
        .otherwise(unhex(substring_index(col("key"), " ", 1)).cast(StringType))
        .as("source_name"))
      .agg(sum(ofSource("n")).as("record_count"),
        count(when(!isSource, lit(1))).as("distinct_types"),
        sum(ofSource("size_sum")).as("size_sum"),
        sum(ofSource("size_n")).as("size_n"),
        min(ofSource("min_t")).as("first_ingested"),
        max(ofSource("max_t")).as("last_ingested"))
      .select(col("source_name"), col("record_count"), col("distinct_types"),
        when(col("size_n") > 0,
          col("size_sum").cast("double") / col("size_n").cast("double"))
          .as("avg_size"),
        col("first_ingested"), col("last_ingested"))
      .sortWithinPartitions(col("record_count").desc, col("source_name").asc)
  }
}
