package graft.sources

import java.util

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read.{Batch, InputPartition, PartitionReader, PartitionReaderFactory, Scan, ScanBuilder}
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap

import graft.ingest.{Adapters, DataRecord, HttpFetcher, JdkHttpFetcher, Js, NycOpenDataAdapter, Pipeline, RateLimiter}

/** How one WORK ITEM of a paginated catalog becomes records: build
  * the request URL, supply per-source headers, map the response body.
  * An "item" is an opaque string key — a page ordinal for
  * offset-paged catalogs (NYC Socrata), an entity key for
  * per-entity endpoints (an SEC CIK). Implementations must be
  * top-level classes with a no-arg constructor: the reader
  * instantiates them BY NAME on the executor (the fetcherClass
  * idiom), so nothing is serialized from the driver.
  */
trait PageMapper extends Serializable {
  def pageUrl(endpoint: String, item: String, pageSize: Int): String
  def headers: Map[String, String] = Map.empty
  def map(item: String, body: String): Iterator[DataRecord]
}

/** GENERALIZED executor-side catalog ingestion (round-8 verdict item
  * 4) — the [[NycDiscoverySource]] pagination shape factored so every
  * reference adapter can ride it: ONE InputPartition PER WORK ITEM,
  * the fetcher and mapper constructed by class name inside each
  * partition reader, per-partition rate pacing, offline-testable end
  * to end. The NYC provider now presets this machinery
  * (offset-paged, [[NycCatalogPageMapper]]); SEC submissions — the
  * real-scale case, one JSON document per registrant — rides the
  * same scan with a CIK work-list and [[SecSubmissionsPageMapper]].
  *
  * Options: exactly one of `pages` (N → items "0".."N-1") or `items`
  * (comma-separated keys) — REQUIRED; `endpoint` (required);
  * `mapperClass` (required); `pageSize` (default 100, meaningful for
  * offset pagers); `fetcherClass` (default [[JdkHttpFetcher]]);
  * `globalRatePerSecond` (PREFERRED politeness knob: the whole-scan
  * request budget, divided by the planned concurrency — see
  * [[PaginatedCatalogSource.perPartitionRate]]) or `ratePerSecond`
  * (per-partition pace, default 1.0 — global rate is then
  * rate × concurrent-partitions, so size the work-list/cores to the
  * API budget yourself). Run the compliance gate (robots + ToS,
  * ingest.Pipeline) before planning the scan either way.
  */
class PaginatedCatalogSource extends TableProvider {
  override def inferSchema(options: CaseInsensitiveStringMap)
      : StructType = Pipeline.RecordsEncoder.schema

  override def getTable(schema: StructType, partitioning: Array[Transform],
      properties: util.Map[String, String]): Table =
    new CatalogTable("paginated_catalog")
}

object PaginatedCatalogSource {
  /** Per-partition pace that keeps the WHOLE SCAN inside a global
    * request budget: at most min(nItems, cores) partition readers
    * fetch concurrently, so each may spend globalRate/concurrency.
    * The reference's politest adapter paces SEC at 0.1 req/s
    * (ethical_crawler.py:600); with a 10⁶-CIK work-list on 16 cores,
    * `globalRatePerSecond=10` yields 0.625 req/s per partition —
    * inside SEC's 10 req/s guidance without manual sizing.
    */
  def perPartitionRate(globalRatePerSecond: Double, nItems: Int,
      cores: Int): Double = {
    require(globalRatePerSecond > 0,
      s"globalRatePerSecond must be positive: $globalRatePerSecond")
    globalRatePerSecond / math.max(1, math.min(nItems, cores))
  }
}

private[sources] class CatalogTable(tableName: String,
    presets: Map[String, String] = Map.empty)
    extends Table with SupportsRead {
  override def name(): String = tableName
  override def schema(): StructType = Pipeline.RecordsEncoder.schema
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.BATCH_READ)

  override def newScanBuilder(options: CaseInsensitiveStringMap)
      : ScanBuilder = new ScanBuilder with Scan with Batch {
    private def opt(key: String): Option[String] =
      Option(options.get(key)).orElse(presets.get(key))
    private def required(key: String): String =
      opt(key).getOrElse(throw new IllegalArgumentException(
        s"$tableName: required option '$key' is missing"))
    // Work-list: `items` wins; else `pages` expands to ordinals. One
    // of the two is REQUIRED — a typo'd option name must fail loudly,
    // not quietly fetch a single page.
    private val items: Seq[String] = opt("items") match {
      case Some(s) => s.split(",").map(_.trim).filter(_.nonEmpty).toSeq
      case None =>
        (0 until required("pages").toInt).map(_.toString)
    }
    private val pageSize = opt("pageSize").map(_.toInt).getOrElse(100)
    private val endpoint = required("endpoint")
    private val mapperClass = required("mapperClass")
    private val fetcherClass =
      opt("fetcherClass").getOrElse(classOf[JdkHttpFetcher].getName)
    // Politeness: `globalRatePerSecond` wins — derive the per-partition
    // pace from the planned concurrency at PLAN time (driver-side), so
    // the crawl budget holds however wide the cluster is.
    private val rate = opt("globalRatePerSecond") match {
      case Some(g) => PaginatedCatalogSource.perPartitionRate(
        g.toDouble, items.size,
        org.apache.spark.sql.SparkSession.active
          .sparkContext.defaultParallelism)
      case None => opt("ratePerSecond").map(_.toDouble).getOrElse(1.0)
    }

    override def build(): Scan = this
    override def readSchema(): StructType = Pipeline.RecordsEncoder.schema
    override def toBatch: Batch = this
    override def planInputPartitions(): Array[InputPartition] =
      items.map(i => CatalogItemPartition(i, pageSize): InputPartition)
        .toArray
    override def createReaderFactory(): PartitionReaderFactory =
      new CatalogItemReaderFactory(endpoint, mapperClass, fetcherClass,
        rate)
  }
}

private case class CatalogItemPartition(item: String, pageSize: Int)
    extends InputPartition

private class CatalogItemReaderFactory(endpoint: String,
    mapperClass: String, fetcherClass: String, rate: Double)
    extends PartitionReaderFactory {

  override def createReader(partition: InputPartition)
      : PartitionReader[InternalRow] = {
    val p = partition.asInstanceOf[CatalogItemPartition]
    new PartitionReader[InternalRow] {
      // per-PARTITION init: fetcher + limiter + mapper built once,
      // on the executor, not serialized from the driver
      private lazy val rows: Iterator[InternalRow] = {
        val fetcher = Class.forName(fetcherClass)
          .getDeclaredConstructor().newInstance()
          .asInstanceOf[HttpFetcher]
        val mapper = Class.forName(mapperClass)
          .getDeclaredConstructor().newInstance()
          .asInstanceOf[PageMapper]
        val limiter = new RateLimiter(rate)
        val serializer = Pipeline.RecordsEncoder.createSerializer()
        limiter.acquire()
        val url = mapper.pageUrl(endpoint, p.item, p.pageSize)
        fetcher.get(url, mapper.headers) match {
          case Right((200, body)) =>
            mapper.map(p.item, body).map(r => serializer(r).copy())
          case Right((status, _)) =>
            throw new java.io.IOException(
              s"catalog item ${p.item}: HTTP $status")
          case Left(err) =>
            throw new java.io.IOException(
              s"catalog item ${p.item}: $err")
        }
      }
      private var current: InternalRow = _
      override def next(): Boolean =
        if (rows.hasNext) { current = rows.next(); true } else false
      override def get(): InternalRow = current
      override def close(): Unit = ()
    }
  }
}

/** Offset-paged Socrata catalog page → records, through the SAME pure
  * `NycOpenDataAdapter.mapItem` ladder as the driver-side adapter
  * (one mapper, two transports). Item = page ordinal.
  */
class NycCatalogPageMapper extends PageMapper {
  override def pageUrl(endpoint: String, item: String,
      pageSize: Int): String =
    HttpFetcher.withParams(endpoint, Seq(
      "limit" -> pageSize.toString,
      "offset" -> (item.toLong * pageSize).toString))

  override def map(item: String, body: String): Iterator[DataRecord] = {
    val adapter = new NycOpenDataAdapter(NoopFetcher)
    Js.parse(body).arr.iterator.map(adapter.mapItem(_))
  }
}

/** SEC EDGAR company-submissions document → one record per recent
  * filing (the real-scale per-entity case: ~10⁶ registrants, one
  * JSON document each — a work-list of CIKs fans out as partitions).
  * Mirrors the reference's SEC feed mapping (ethical_crawler.py:
  * 587–677: source identity, UA header, public-domain license);
  * the submissions JSON layout is the public data.sec.gov contract
  * (columnar `filings.recent` arrays).
  */
class SecSubmissionsPageMapper extends PageMapper {
  override def pageUrl(endpoint: String, item: String,
      pageSize: Int): String = {
    val cik10 = ("0" * (10 - item.length)) + item
    s"${endpoint.stripSuffix("/")}/CIK$cik10.json"
  }

  // The reference's polite-crawler headers (ethical_crawler.py:644)
  override def headers: Map[String, String] = Map(
    "User-Agent" -> "Research Institution compliance@university.edu",
    "Accept-Encoding" -> "gzip, deflate")

  override def map(item: String, body: String): Iterator[DataRecord] = {
    val root = Js.parse(body)
    val cik = root("cik").strOrNum.getOrElse(item)
    val company = root("name").str.getOrElse("Unknown Registrant")
    val recent = root("filings")("recent")
    val accessions = recent("accessionNumber").strings
    val forms = recent("form").strings
    val dates = recent("filingDate").strings
    val docs = recent("primaryDocument").strings
    val now = java.sql.Timestamp.from(java.time.Instant.now())
    accessions.indices.iterator.map { i =>
      val acc = accessions(i)
      val form = forms.lift(i).getOrElse("")
      val date = dates.lift(i).getOrElse("")
      val doc = docs.lift(i).getOrElse("")
      DataRecord(
        source_name = "SEC EDGAR",
        record_id = acc,
        title = s"$company $form",
        description = Some(s"$form filed $date by $company (CIK $cik)"),
        data_type = "filing",
        url = s"https://www.sec.gov/Archives/edgar/data/$cik/" +
          s"${acc.replace("-", "")}/$doc",
        metadata = Js.render(Map(
          "cik" -> cik, "form" -> form, "filing_date" -> date,
          "primary_document" -> doc)),
        content_summary = Some(s"SEC filing: $company $form $date"),
        tags = Seq("sec", "filing") ++
          (if (form.nonEmpty) Seq(form.toLowerCase) else Nil),
        last_updated =
          Adapters.parseDate(Some(date).filter(_.nonEmpty)
            .map(_ + "T00:00:00Z")),
        ingested_at = now,
        file_format = Some("HTML"),
        size_bytes = None,
        license_info = Some("Public Domain"))
    }
  }
}

/** UN Comtrade catalog endpoints — item ∈ {goods, services}: one
  * metadata GET per catalog entry, mapped through the SAME pure
  * `UnComtradeAdapter.mapEndpoint` the driver-side adapter uses
  * (one mapper, two transports — the NYC convention). Keyed
  * requests (Ocp-Apim-Subscription-Key) stay on the driver-side
  * adapter; the metadata endpoint is the unauthenticated surface.
  */
class ComtradeCatalogPageMapper extends PageMapper {
  private val entries = Map(
    "goods" -> ("International Trade in Goods",
      "Trade flows of goods between countries"),
    "services" -> ("International Trade in Services",
      "Trade flows of services between countries"))

  override def pageUrl(endpoint: String, item: String,
      pageSize: Int): String =
    s"${endpoint.stripSuffix("/")}/$item/metadata"

  override def map(item: String, body: String): Iterator[DataRecord] = {
    val (name, desc) = entries(item)
    val adapter = new graft.ingest.UnComtradeAdapter(NoopFetcher)
    Iterator.single(
      adapter.mapEndpoint(item, name, desc, s"/$item", Js.parse(body)))
  }
}

/** College Scorecard schools — offset pages (`page`/`per_page`), one
  * record PER SCHOOL: the per-row scale case the driver-side adapter
  * only probes the count of (~6k schools → a page work-list). The
  * api_key rides the `endpoint` option's query string (withParams
  * appends with '&' when a '?' is present).
  */
class ScorecardPageMapper extends PageMapper {
  override def pageUrl(endpoint: String, item: String,
      pageSize: Int): String =
    HttpFetcher.withParams(endpoint, Seq(
      "page" -> item, "per_page" -> pageSize.toString,
      "_fields" -> "id,school.name,school.city,school.state,school.school_url"))

  override def map(item: String, body: String): Iterator[DataRecord] = {
    val now = java.sql.Timestamp.from(java.time.Instant.now())
    Js.parse(body)("results").arr.iterator.map { r =>
      val id = r("id").strOrNum.getOrElse("")
      val name = r("school.name").str.getOrElse("Unknown School")
      DataRecord(
        source_name = "College Scorecard",
        record_id = id,
        title = name,
        description = Some(Seq(
          r("school.city").str, r("school.state").str)
          .flatten.mkString(", ")).filter(_.nonEmpty),
        data_type = "school",
        url = r("school.school_url").str.getOrElse(
          s"https://api.data.gov/ed/collegescorecard/v1/schools?id=$id"),
        metadata = Js.render(Map(
          "city" -> r("school.city").str,
          "state" -> r("school.state").str)),
        content_summary = Some(s"School: $name"),
        tags = Seq("education", "college", "scorecard"),
        last_updated = None,
        ingested_at = now,
        file_format = Some("JSON"),
        size_bytes = None,
        license_info = Some("Public Domain"))
    }
  }
}

/** Mapper-internal placeholder: [[NycOpenDataAdapter.mapItem]] is
  * pure, but the adapter class carries a fetcher for its transport
  * methods — the executor-side mapper never calls those.
  */
private[sources] object NoopFetcher extends HttpFetcher {
  override def get(url: String, headers: Map[String, String])
      : Either[String, (Int, String)] = Left("offline mapper")
  override def head(url: String, headers: Map[String, String])
      : Either[String, Int] = Left("offline mapper")
}
