package graft

import graft.ingest.{DataRecord, Pipeline}
import java.nio.charset.StandardCharsets.UTF_8
import java.sql.Timestamp
import java.util.HexFormat
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.{CatalystTypeConverters, InternalRow}
import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
import org.apache.spark.sql.catalyst.expressions.{Ascending, BindReferences,
  BoundReference, Descending, InterpretedOrdering, SortDirection, SortOrder}
import org.apache.spark.sql.catalyst.util.{ArrayData, DateTimeUtils}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types.{BooleanType, DoubleType, LongType,
  StringType, StructType, TimestampType}
import scala.collection.immutable.ListMap
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** The analytics state: one partial aggregate of the records table
  * from which every `analytics` view (ethical_crawler.py:1274–1349) and
  * `status`'s per-source counts are projections ([[View]]). One row per
  * `(kind, key)`:
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
  * split of its files ([[merged]]). A view projects the merged rows
  * with plain code, on the driver for a state already there and in the
  * one task that holds a state Spark merged; both run the same
  * [[View.rows]].
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

  /** The state of `records` in one partition, one pass in parallel:
    * each input split's entries merged per key ([[partials]]), the
    * partial states brought to one partition by the RDD's shuffle and
    * merged again. Building it launches no job.
    */
  def partsOf(records: DataFrame): RDD[Part] = {
    val ones = records.select(explode(entries).as("e"),
      col("size_bytes").cast(LongType), col("ingested_at"))
    ones.queryExecution.toRdd.mapPartitions(partials).repartition(1)
      .mapPartitions(perKey)
  }

  /** [[partsOf]] as a frame of [[Schema]], as the state's files hold it. */
  def of(records: DataFrame): DataFrame =
    records.sparkSession.createDataset(partsOf(records))(PartEncoder).toDF()

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

  /** A projection of the merged state: the rows `project` makes of the
    * merged [[Part]]s, of `schema`, sorted by `order` (columns and
    * directions, each direction with Spark's null placement) and cut to
    * `limit` rows. The sort compares the rows' internal form with
    * Spark's own ordering, so strings compare by their UTF-8 bytes, as
    * a Spark sort does, not as Java's `String` does.
    */
  final class View(val schema: StructType, order: Seq[(String, SortDirection)],
      limit: Int = Int.MaxValue)(project: Seq[Part] => Seq[Row])
      extends Serializable {

    /** The view's rows of `parts`, merged per key, in order. */
    def rows(parts: Seq[Part]): Seq[Row] = {
      val internal = CatalystTypeConverters.createToCatalystConverter(schema)
      val ordering = new InterpretedOrdering(order.map { case (name, dir) =>
        val f = schema(name)
        SortOrder(BoundReference(schema.fieldIndex(name), f.dataType, f.nullable),
          dir)
      })
      project(parts).map(r => internal(r).asInstanceOf[InternalRow] -> r)
        .sortBy(_._1)(ordering).take(limit).map(_._2)
    }

    /** The rows of `parts` as a local relation: collecting it launches
      * no job.
      */
    def local(spark: SparkSession, parts: Seq[Part]): DataFrame =
      spark.createDataFrame(rows(parts).asJava, schema)

    /** The rows of `state`, a merged state in one partition, projected
      * in that partition's task.
      */
    def over(spark: SparkSession, state: RDD[Part]): DataFrame =
      spark.createDataFrame(state.mapPartitions(ps => rows(ps.toSeq).iterator),
        schema)
  }

  /** The `analytics` views by name, each with the columns, types, order
    * and tie-breaks of its `ReferenceOps` frame (`sourceStats`,
    * `typeCounts`, `popularTags`, `temporalActivity`,
    * `licenseDistribution`).
    */
  val Views: ListMap[String, View] = ListMap(
    "source_stats" -> new View(new StructType().add("source_name", StringType)
        .add("record_count", LongType, nullable = false)
        .add("distinct_types", LongType, nullable = false)
        .add("avg_size", DoubleType).add("first_ingested", TimestampType)
        .add("last_ingested", TimestampType),
      Seq("record_count" -> Descending, "source_name" -> Ascending))(
      perSource(_).map { case (s, types) =>
        Row(s.key, s.n, types,
          s.size_sum.map[Any](_.toDouble / s.size_n.toDouble).orNull,
          s.min_t.orNull, s.max_t.orNull)
      }),
    "type_counts" -> counts("type", "data_type", "cnt"),
    "popular_tags" -> counts("tag", "tag", "frequency", limit = 20),
    "temporal_activity" -> new View(new StructType().add("day", TimestampType)
        .add("cnt", LongType, nullable = false), Seq("day" -> Ascending))(
      ofKind(_, "day").map(p => Row(
        Option(p.key).map(k => DateTimeUtils.toJavaTimestamp(k.toLong)).orNull,
        p.n))),
    "license_distribution" -> counts("license", "license_info", "cnt"))

  private def ofKind(parts: Seq[Part], kind: String): Seq[Part] =
    parts.filter(_.kind == kind)

  private def counts(kind: String, name: String, cnt: String,
      limit: Int = Int.MaxValue): View =
    new View(new StructType().add(name, StringType)
        .add(cnt, LongType, nullable = false),
      Seq(cnt -> Descending, name -> Ascending), limit)(
      ofKind(_, kind).map(p => Row(p.key, p.n)))

  /** Per source, its `source` row and the count of its `pair` rows with
    * a non-null type: its distinct types.
    */
  private def perSource(parts: Seq[Part]): Seq[(Part, Long)] = {
    val types = parts.filter(p => p.kind == "pair" && p.key != null)
      .groupMapReduce(p => pairSource(p.key))(_ => 1L)(_ + _)
    ofKind(parts, "source").map(s => s -> types.getOrElse(Option(s.key), 0L))
  }

  /** The source of a `pair` key: its hex prefix decoded; none for `-`. */
  private def pairSource(key: String): Option[String] = {
    val hex = key.substring(0, key.indexOf(' '))
    Option.when(hex != "-")(new String(HexFormat.of.parseHex(hex), UTF_8))
  }

  /** `status` (ethical_crawler.py:1416–1529): per source, its record
    * count, distinct types and last ingest time as `source_stats`
    * derives them, with the verdict of its latest compliance check in
    * `latest`, if any; most records first.
    */
  def status(latest: Map[String, Pipeline.Verdict]): View =
    new View(new StructType().add("source_name", StringType)
        .add("n_records", LongType, nullable = false)
        .add("n_types", LongType, nullable = false)
        .add("last_ingested", TimestampType)
        .add("robots_txt_compliant", BooleanType)
        .add("api_key_valid", BooleanType).add("last_check", TimestampType),
      Seq("n_records" -> Descending, "source_name" -> Ascending))(
      perSource(_).map { case (s, types) =>
        val check = Option(s.key).flatMap(latest.get)
        Row(s.key, s.n, types, s.max_t.orNull,
          check.map[Any](_.robots_txt_compliant).orNull,
          check.map[Any](_.api_key_valid).orNull,
          check.map(_.last_check).orNull)
      })
}
