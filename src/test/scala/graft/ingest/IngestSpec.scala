package graft.ingest

import graft.SparkSpec
import java.time.{Clock, Instant, ZoneOffset}

class IngestSpec extends SparkSpec {

  val fixedClock: Clock =
    Clock.fixed(Instant.parse("2026-01-01T00:00:00Z"), ZoneOffset.UTC)

  val nycItem: String =
    """{"id": "abcd-1234", "name": "Traffic Volume Counts",
      |"description": "Hourly counts", "category": "Transportation",
      |"tags": ["traffic", "dot"], "attribution": "NYC DOT",
      |"updateFrequency": "Annually",
      |"columns": [{"name": "Segment ID"}, {"name": "Count"}],
      |"viewCount": 12345, "downloadCount": 678,
      |"rowsUpdatedAt": "1718000000"}""".stripMargin

  def nyc(fetcher: HttpFetcher) =
    new NycOpenDataAdapter(fetcher, None, fixedClock)

  // --- payload→record mappers (field ladders :381–405 etc.) ---

  test("NYC mapper: full field ladder") {
    val r = nyc(new FixtureFetcher(Map.empty)).mapItem(Js.parse(nycItem))
    assert(r.source_name == "NYC Open Data")
    assert(r.record_id == "abcd-1234")
    assert(r.title == "Traffic Volume Counts")
    assert(r.data_type == "dataset")
    assert(r.url == "https://data.cityofnewyork.us/d/abcd-1234")
    assert(r.tags == Seq("traffic", "dot"))
    assert(r.file_format.contains("CSV/JSON"))
    assert(r.license_info.contains("Public Domain"))
    // epoch-seconds date parse (F6, :477–479)
    assert(r.last_updated.get.toInstant ==
      Instant.ofEpochSecond(1718000000L))
    val meta = Js.parse(r.metadata)
    assert(meta("view_count").long.contains(12345L))
    assert(meta("tags").strings == Seq("traffic", "dot"))
  }

  test("NYC mapper: defaults for missing fields") {
    val r = nyc(new FixtureFetcher(Map.empty)).mapItem(Js.parse("{}"))
    assert(r.title == "Untitled Dataset")
    assert(r.description.contains(""))
    assert(r.record_id == "")
    assert(r.tags.isEmpty)
    assert(r.last_updated.isEmpty)
  }

  test("content summary synthesis (F8, :453–470)") {
    val s = Adapters.generateSummary(Js.parse(nycItem))
    assert(s == "Dataset: Traffic Volume Counts | " +
      "Category: Transportation | Columns: 2 | Views: 12,345")
    assert(Adapters.generateSummary(Js.parse("{}")) == "")
  }

  test("date parse: ISO-Z, epoch, garbage, empty (F6/F7, :472–483)") {
    assert(Adapters.parseDate(Some("2024-06-10T12:00:00Z")).get.toInstant
      == Instant.parse("2024-06-10T12:00:00Z"))
    assert(Adapters.parseDate(Some("1718000000")).get.toInstant
      == Instant.ofEpochSecond(1718000000L))
    assert(Adapters.parseDate(Some("not a date")).isEmpty)
    assert(Adapters.parseDate(Some("")).isEmpty)
    assert(Adapters.parseDate(None).isEmpty)
  }

  test("NYC discover: parses array payload, robots allowed") {
    val base = "https://data.cityofnewyork.us"
    val f = new FixtureFetcher(Map(
      s"$base/robots.txt" -> (404, ""),
      s"$base/api/views/metadata/v1?limit=5000&offset=0" ->
        (200, s"[$nycItem]")))
    val rs = nyc(f).discover()
    assert(rs.size == 1 && rs.head.record_id == "abcd-1234")
  }

  test("NYC discover: robots disallow blocks the fetch (S9 gate)") {
    val base = "https://data.cityofnewyork.us"
    val f = new FixtureFetcher(Map(
      s"$base/robots.txt" ->
        (200, "User-agent: *\nDisallow: /api/"),
      s"$base/api/views/metadata/v1?limit=5000&offset=0" ->
        (200, s"[$nycItem]")))
    assert(nyc(f).discover().isEmpty)
    // the data endpoint must never have been requested
    assert(!f.requested.exists(_.contains("metadata/v1")))
  }

  test("NYC per-dataset refresh (S5/L6): whole payload becomes metadata") {
    val base = "https://data.cityofnewyork.us"
    val detail =
      """{"id": "abcd-1234", "name": "Traffic Volume Counts",
        |"description": "refreshed", "category": "Transportation",
        |"tags": ["traffic"], "viewCount": 999,
        |"rowsUpdatedAt": "2024-06-10T12:00:00Z"}""".stripMargin
    val f = new FixtureFetcher(Map(
      s"$base/api/views/abcd-1234.json" -> (200, detail)))
    val r = nyc(f).fetchDatasetMetadata("abcd-1234")
    assert(r.isDefined)
    assert(r.get.record_id == "abcd-1234")
    assert(r.get.description.contains("refreshed"))
    // detail path stores the raw payload as metadata (:437)
    assert(Js.parse(r.get.metadata)("viewCount").long.contains(999L))
    // ISO-Z date parse on the refresh path (F7)
    assert(r.get.last_updated.get.toInstant ==
      Instant.parse("2024-06-10T12:00:00Z"))
    // non-200 → None
    val gone = new FixtureFetcher(Map(
      s"$base/api/views/abcd-1234.json" -> (404, "")))
    assert(nyc(gone).fetchDatasetMetadata("abcd-1234").isEmpty)
  }

  test("SEC discover: HEAD 200 and 404 accepted, 500 rejected (:644)") {
    val f = new FixtureFetcher(Map.empty, heads = Map(
      "https://data.sec.gov/api/xbrl/companyfacts.zip" -> 200,
      "https://data.sec.gov/submissions/CIK0000320193.json" -> 404,
      "https://data.sec.gov/api/xbrl/frames/" -> 500))
    val rs = new SecEdgarAdapter(f, fixedClock, Some(allowAllRobots)) {
      override protected lazy val limiter = new RateLimiter(1e6)
    }.discover()
    assert(rs.map(_.record_id).sorted ==
      Seq("company_facts", "submissions"))
    assert(rs.forall(_.data_type == "data_feed"))
    assert(rs.head.tags == Seq("sec", "financial", "filings", "xbrl"))
  }

  test("SEC XBRL mapper: numeric facts extracted typed; structural " +
      "and text-block elements skipped") {
    val payload =
      """<xbrl xmlns="http://www.xbrl.org/2003/instance"
        |      xmlns:us-gaap="http://fasb.org/us-gaap/2023">
        |  <context id="FY2023"><period>
        |    <endDate>2023-12-31</endDate></period></context>
        |  <unit id="usd"><measure>iso4217:USD</measure></unit>
        |  <us-gaap:Assets contextRef="FY2023" unitRef="usd"
        |      decimals="0">1000500</us-gaap:Assets>
        |  <us-gaap:Liabilities contextRef="FY2023" unitRef="usd"
        |      decimals="0">-250.75</us-gaap:Liabilities>
        |  <us-gaap:SharesOutstanding contextRef="FY2023"
        |      >42</us-gaap:SharesOutstanding>
        |  <us-gaap:AccountingPolicy contextRef="FY2023">Not a
        |    number, a text block.</us-gaap:AccountingPolicy>
        |</xbrl>""".stripMargin
    val facts = SecXbrl.parseFacts(payload)
    assert(facts == Seq(
      XbrlFact("Assets", "FY2023", Some("usd"), BigDecimal(1000500)),
      XbrlFact("Liabilities", "FY2023", Some("usd"),
        BigDecimal("-250.75")),
      XbrlFact("SharesOutstanding", "FY2023", None, BigDecimal(42))))
  }

  test("Comtrade discover: static catalog + metadata fetch, tags :549") {
    val f = new FixtureFetcher(Map(
      "https://comtradeapi.un.org/data/v1/goods/metadata" -> (200, "{}"),
      "https://comtradeapi.un.org/data/v1/services/metadata" ->
        (500, "")))
    val ad = new UnComtradeAdapter(f, Some("key"), fixedClock,
      Some(allowAllRobots)) {
      override protected lazy val limiter = new RateLimiter(1e6)
    }
    val rs = ad.discover()
    assert(rs.size == 1 && rs.head.record_id == "goods")
    assert(rs.head.tags ==
      Seq("trade", "international", "economics", "goods"))
    assert(rs.head.data_type == "api_endpoint")
    // F12 year range from the fixed 2026 clock
    assert(ad.extractYears(Js.parse("{}")) == (2000 to 2026))
  }

  test("Scorecard discover: requires api key; maps total (:736)") {
    val payload =
      """{"metadata": {"total": 6484, "page": 0, "per_page": 1},
        |"results": [{"id": 100654}]}""".stripMargin
    val url = "https://api.data.gov/ed/collegescorecard/v1/schools" +
      "?api_key=k&_per_page=1&_fields=id%2Cschool.name"
    val f = new FixtureFetcher(Map(url -> (200, payload)))
    val withKey = new CollegeScorecardAdapter(f, Some("k"), fixedClock,
      Some(allowAllRobots))
    val rs = withKey.discover()
    assert(rs.size == 1)
    assert(Js.parse(rs.head.metadata)("total_schools").long
      .contains(6484L))
    val noKey = new CollegeScorecardAdapter(f, None, fixedClock,
      Some(allowAllRobots))
    assert(noKey.discover().isEmpty)
  }

  // --- robots.txt parser (B6 corpus, :236–263) ---

  def allowAllRobots: RobotsChecker =
    new RobotsChecker(new FixtureFetcher(Map.empty), fixedClock)

  test("robots parse: wildcard UA disallow prefix-matches") {
    val r = RobotsChecker.parse(
      "User-agent: *\nDisallow: /private/\nDisallow: /tmp")
    assert(!r.canFetch("AnyBot", "/private/data"))
    assert(!r.canFetch("AnyBot", "/tmp"))
    assert(r.canFetch("AnyBot", "/public"))
  }

  test("robots parse: named UA section, case-insensitive (:244)") {
    val r = RobotsChecker.parse(
      "User-agent: EthicalDataBot/1.0\nDisallow: /x\n" +
        "User-agent: other\nDisallow: /y")
    assert(!r.canFetch("ethicaldatabot/1.0", "/x"))
    assert(r.canFetch("ethicaldatabot/1.0", "/y"))
  }

  test("robots parse: empty Disallow ignored (:247)") {
    val r = RobotsChecker.parse("User-agent: *\nDisallow:")
    assert(r.canFetch("AnyBot", "/anything"))
  }

  test("robots checker: 404 and fetch failure → allowed (:258–263)") {
    val notFound = new RobotsChecker(
      new FixtureFetcher(Map("https://x.test/robots.txt" -> (404, ""))),
      fixedClock)
    assert(notFound.canFetch("https://x.test/anything"))
    val unreachable =
      new RobotsChecker(new FixtureFetcher(Map.empty), fixedClock)
    assert(unreachable.canFetch("https://y.test/anything"))
  }

  test("robots checker: 24h cache — one fetch per domain (:210–214)") {
    val f = new FixtureFetcher(Map(
      "https://z.test/robots.txt" -> (200, "User-agent: *\nDisallow: /a")))
    val rc = new RobotsChecker(f, fixedClock)
    assert(!rc.canFetch("https://z.test/a"))
    assert(rc.canFetch("https://z.test/b"))
    assert(f.requested.count(_.endsWith("robots.txt")) == 1)
  }

  // --- rate limiter (R1, :293–302) ---

  test("rate limiter spaces requests to 1/rate") {
    var now = 0L
    var slept = 0L
    val rl = new RateLimiter(2.0, // 500 ms interval
      nanoTime = () => now,
      sleepMillis = ms => { slept += ms; now += ms * 1000000 })
    assert(rl.acquire() == 0) // first request free
    now += 100 * 1000000 // 100 ms later
    assert(rl.acquire() == 400) // spaced to 500 ms
    now += 600 * 1000000 // beyond the interval
    assert(rl.acquire() == 0)
    assert(slept == 400)
  }

  // --- compliance (R2, :304–330, :942–948) ---

  test("compliance check: missing key flagged, gate skips source") {
    val f = new FixtureFetcher(Map.empty)
    val needsKey = new UnComtradeAdapter(f, None, fixedClock,
      Some(allowAllRobots))
    val ok = new SecEdgarAdapter(f, fixedClock, Some(allowAllRobots))
    val check = needsKey.checkCompliance()
    assert(!check.api_key_valid)
    assert(check.issues == List("API key required but not provided"))
    assert(check.recommendations ==
      List("Obtain API key from official source"))
    val p = new Pipeline(spark, tmpDir("gate"))
    val (passed, checks) = p.compliantAdapters(Seq(needsKey, ok))
    assert(passed.map(_.source.name) == Seq("SEC EDGAR"))
    assert(checks.size == 2)
  }

  test("compliance check: robots disallow on base URL flagged") {
    val f = new FixtureFetcher(Map(
      "https://www.sec.gov/robots.txt" ->
        (200, "User-agent: *\nDisallow: /")))
    val ad = new SecEdgarAdapter(f, fixedClock)
    val c = ad.checkCompliance()
    assert(!c.robots_txt_compliant)
    assert(c.issues == List("Base URL disallowed by robots.txt"))
  }

  // --- pipeline write path (K5 first-write-wins, L6 upsert) ---

  def record(src: String, id: String, title: String): DataRecord =
    DataRecord(src, id, title, Some("d"), "dataset", s"https://e/$id",
      "{}", Some("s"), Seq("t"), None,
      java.sql.Timestamp.from(fixedClock.instant()), Some("JSON"),
      None, Some("PD"))

  test("pipeline append: first write wins within and across batches") {
    val p = new Pipeline(spark, tmpDir("pipe"))
    // batch 1: duplicate key inside the batch — lowest record_id kept
    val n1 = p.appendRecords(Seq(
      record("s1", "a", "first"), record("s1", "a", "second-in-batch"),
      record("s1", "b", "b1")))
    assert(n1 == 2)
    // batch 2: existing key ignored, new key appended
    val n2 = p.appendRecords(Seq(
      record("s1", "a", "late-duplicate"), record("s2", "a", "other-src")))
    assert(n2 == 1)
    val rows = p.records.collect()
    assert(rows.length == 3)
    assert(rows.find(r => r.source_name == "s1" && r.record_id == "a")
      .get.title == "first")
  }

  test("pipeline append is idempotent (property of K5)") {
    val p = new Pipeline(spark, tmpDir("idem"))
    val batch = (1 to 10).map(i => record("s", s"id$i", s"t$i"))
    assert(p.appendRecords(batch) == 10)
    assert(p.appendRecords(batch) == 0)
    assert(p.records.count() == 10)
  }

  test("pipeline append: the key probe matches (source, id) pairs, not " +
      "its IN×IN superset") {
    val p = new Pipeline(spark, tmpDir("probe"))
    assert(p.appendRecords(Seq(record("s2", "a", "stored"))) == 1)
    // the probe's filter admits (s2, a); neither batch key is that pair
    assert(p.appendRecords(Seq(
      record("s1", "a", "new-source"), record("s2", "b", "new-id"))) == 2)
    assert(p.records.collect().map(r => (r.source_name, r.record_id, r.title))
      .toSet == Set(("s2", "a", "stored"), ("s1", "a", "new-source"),
        ("s2", "b", "new-id")))
  }

  test("collect rerun after a truncated payload and a 429 ends as one " +
      "clean collect") {
    val base = "https://data.cityofnewyork.us"
    val items = (1 to 6).map(i => s"""{"id": "id-$i", "name": "Title $i"}""")
    def served(status: Int, body: String) = nyc(new FixtureFetcher(Map(
      s"$base/robots.txt" -> (404, ""),
      s"$base/api/views/metadata/v1?limit=5000&offset=0" -> (status, body))))
    def payload(xs: Seq[String]) = xs.mkString("[", ",", "]")
    def keys(p: Pipeline) = p.records.collect()
      .map(r => (r.source_name, r.record_id, r.title)).toSet

    val clean = new Pipeline(spark, tmpDir("clean"))
    assert(clean.collectAll(Seq(served(200, payload(items))))._1 == 6)

    val rerun = new Pipeline(spark, tmpDir("rerun"))
    assert(rerun.collectAll(Seq(served(200, payload(items.take(3)))))._1 == 3)
    assert(rerun.collectAll(Seq(served(429, "")))._1 == 0)
    assert(rerun.collectAll(Seq(served(200, payload(items))))._1 == 3)
    assert(keys(rerun) == keys(clean))
    assert(rerun.records.count() == 6)
  }

  test("pipeline upsert: last write wins (L6, :416–451)") {
    val p = new Pipeline(spark, tmpDir("upsert"))
    p.appendRecords(Seq(record("s", "a", "old"), record("s", "b", "keep")))
    p.upsertRecords(Seq(record("s", "a", "refreshed")))
    val rows = p.records.collect()
    assert(rows.length == 2)
    assert(rows.find(_.record_id == "a").get.title == "refreshed")
    assert(rows.find(_.record_id == "b").get.title == "keep")
  }

  test("collectAll: gate + discover + append + audit trail") {
    val base = "https://data.cityofnewyork.us"
    val f = new FixtureFetcher(Map(
      s"$base/robots.txt" -> (404, ""),
      s"$base/api/views/metadata/v1?limit=5000&offset=0" ->
        (200, s"[$nycItem]")))
    val dir = tmpDir("collect")
    val p = new Pipeline(spark, dir)
    val (n, checks) = p.collectAll(Seq(nyc(f)))
    assert(n == 1 && checks.size == 1)
    assert(p.records.count() == 1)
    assert(graft.Catalog.load(spark, s"$dir/compliance_checks")
      .count() == 1)
  }

  // --- Js JSON boundary (F4, :928/:1022) ---

  test("Js render/parse round trip") {
    val json = Js.render(Map(
      "s" -> "va\"l", "n" -> 7L, "arr" -> Seq("a", "b"),
      "none" -> (None: Option[String]), "b" -> true))
    val back = Js.parse(json)
    assert(back("s").str.contains("va\"l"))
    assert(back("n").long.contains(7L))
    assert(back("arr").strings == Seq("a", "b"))
    assert(back("none").isMissing)
  }
}
