package perfbench

import graft.Graft
import graft.ingest.{Adapters, Js}
import graft.operators.{FtsOps, MultimodalOps}
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions.{col, concat_ws}
import java.nio.file.{Files, Paths}
import scala.collection.immutable.ListMap
import scala.collection.mutable
import scala.util.Random

/** `serve`: interactive reads over a catalog built in set-up (a
  * collect, then `indexFts` and `backfillEmbeddings`), with writes and
  * registry passes mixed in. Ops come in decks of [[Deck]], shuffled per
  * deck from the seed: each read verb once (`search`, `searchFts`,
  * `searchFtsRanked`, `similar`, `status`, `analytics`,
  * `analyticsMaterialized`, `export`), one registry pass
  * ([[Registry]]) and one write (a 500-item collect, then `indexFts`,
  * which collect does not refresh): nine reads to one write. Search
  * terms are Zipf-distributed words (`searchFtsRanked` takes two);
  * `export` writes the whole catalog. One untimed call of each op kind
  * after set-up warms the read paths (their first calls compile Spark's
  * generated code, the first registry pass builds the registry's
  * fixtures), so the timed ops all run warm.
  *
  * Every read is checked against a recompute: `search` and `similar`
  * in memory over the generated corpus, the FTS verbs against
  * `FtsOps.searchDocs` / `searchRankedDocs` over `records`,
  * `analyticsMaterialized(v)` against `analytics()(v)`, and the
  * registry queries against DuckDB after the run.
  */
final class Serve(ctx: Ctx) extends Workload(ctx) {
  import Serve._
  import ctx._

  /** In-memory mirror of one catalog record. */
  final case class Doc(id: String, title: String, description: String,
      summary: String, ingestedAt: Long, embedding: Option[Array[Double]]) {
    def ftsText: String = title + " " + description
  }

  private var gen: Gen = _
  private var g: Graft = _
  private var dir: String = _
  private val tables: String =
    ctx.tables.getOrElse(sys.error("serve needs --tables"))
  private val docs = mutable.LinkedHashMap.empty[String, Doc]
  private var docIds = IndexedSeq.empty[String]
  private var embedded = IndexedSeq.empty[Doc]

  def catalogDir: String = dir
  def catalogRows: Long = docs.size.toLong
  def mix: Map[String, Double] = Deck.map(_ -> 1.0).toMap
  def writeOp: String = "write"
  /** The warm-up registry pass keeps its results for the check. */
  override def warmUp: Iterator[Op] = Deck.iterator.map {
    case "registry" => Op("registry")(_ =>
      Registry.pass(None, spark, tables, Some(registryOut.toString)))(_ => true)
    case verb => op(verb)
  }

  private def registryOut = Paths.get(workDir, "registry")

  /** Generate the next round and mirror its new keys. */
  private def nextRound(nNew: Int, nRepeat: Int): Round = {
    val before = gen.issuedKeys
    val r = gen.nextRound(nNew, nRepeat)
    val at = Workload.Epoch.plusSeconds(round + 1L).toEpochMilli
    r.items.filter(_.key >= before).foreach { it =>
      docs(it.id) = Doc(it.id, it.name, it.description,
        Adapters.generateSummary(Js.parse(it.json)), at, None)
    }
    docIds = docs.keys.toIndexedSeq
    r
  }

  def setUp(i: Int): Boolean = {
    dir = freshDir(s"serve-$i")
    gen = new Gen(seed)
    g = new Graft(spark, dir)
    round = 0
    docs.clear()
    g.setup(Seq(adapter(0)))
    val writes = (1 to SetupRounds).map { _ =>
      val r = nextRound(SetupBatch, 0)
      (collect(None, g, r), r.expectedNew)
    }
    g.indexFts()
    val embeddedRows = g.backfillEmbeddings()
    docs.mapValuesInPlace { (_, d) =>
      d.copy(embedding = Some(embed(d.ftsText)))
    }
    embedded = docs.values.toIndexedSeq
    rng = new Random(Gen.mix(seed, 499999L))
    writes.forall { case (n, want) => check(s"set-up adds $want", n == want) } &&
      check(s"backfill embeds ${docs.size}, got $embeddedRows",
        embeddedRows == docs.size)
  }

  private var deck: IndexedSeq[String] = IndexedSeq.empty
  private var mvCalls = 0
  private var rng: Random = _

  def next(i: Int): Op = {
    if (i % Deck.size == 0) {
      rng = new Random(Gen.mix(seed, 500000L + i / Deck.size))
      deck = rng.shuffle(Deck)
    }
    op(deck(i % Deck.size))
  }

  private def op(verb: String): Op = {
    verb match {
      case "search" => searchOp(gen.word(rng))
      case "search_fts" => ftsOp(termsFromDoc())
      case "search_ranked" => rankedOp(gen.words(rng, 2).distinct)
      case "similar" => similarOp(embedded(rng.nextInt(embedded.size)).id)
      case "status" => statusOp()
      case "analytics" => analyticsOp()
      case "analytics_mv" =>
        mvCalls += 1
        mvOp(AnalyticsViews(mvCalls % AnalyticsViews.size))
      case "export" => exportOp()
      case "registry" =>
        Op("registry")(h => Registry.pass(Some(h), spark, tables))(_ => true)
      case "write" => writeRound()
    }
  }

  /** Two words of one catalog record: an AND query with a hit. */
  private def termsFromDoc(): Seq[String] = {
    val words = docs(docIds(rng.nextInt(docIds.size))).ftsText
      .toLowerCase.split(" ").filter(_.nonEmpty)
    Seq(words(rng.nextInt(words.length)), words(rng.nextInt(words.length)))
      .distinct
  }

  private def rows(df: DataFrame): Seq[Row] = df.collect().toSeq

  private def searchOp(term: String): Op =
    Op("search")(h => h.verb("search")(
      rows(g.search(Some(term)).select("record_id")).map(_.getString(0)))) {
      got =>
        val q = term.toLowerCase
        val want = docs.values
          .filter(d => Seq(d.title, d.description, d.summary)
            .exists(_.toLowerCase.contains(q)))
          .toSeq.sortBy(d => (-d.ingestedAt, d.id)).take(10).map(_.id)
        check(s"search($term) = in-memory recompute", got == want)
    }

  private def ftsDocs: DataFrame = g.records.select(col("record_id"),
    concat_ws(" ", col("title"), col("description")).as("text"))

  private def ftsOp(terms: Seq[String]): Op =
    Op("search_fts")(h => h.verb("search_fts")(
      rows(g.searchFts(terms)).map(r => (r.getString(0), r.getLong(1))))) {
      got =>
        val want = rows(FtsOps.searchDocs(ftsDocs, "record_id", "text",
          terms, 10)).map(r => (r.getString(0), r.getLong(1)))
        check(s"searchFts($terms) = FtsOps.searchDocs", got == want)
    }

  private def rankedOp(terms: Seq[String]): Op =
    Op("search_ranked")(h => h.verb("search_ranked")(
      rows(g.searchFtsRanked(terms)).map(r => (r.getString(0), r.getDouble(1))))) {
      got =>
        val want = rows(FtsOps.searchRankedDocs(ftsDocs, "record_id", "text",
          terms, 10)).map(r => (r.getString(0), r.getDouble(1)))
        check(s"searchFtsRanked($terms) = FtsOps.searchRankedDocs",
          got.map(_._1) == want.map(_._1) && got.zip(want).forall {
            case (a, b) => math.abs(a._2 - b._2) <= 1e-6 })
    }

  private def similarOp(id: String): Op =
    Op("similar")(h => h.verb("similar")(
      rows(g.similar(id)).map(r => (r.getString(0), r.getDouble(1))))) { got =>
      val q = embedded.find(_.id == id).get.embedding.get
      val scored = embedded.filter(_.id != id)
        .map(d => d.id -> round6(cosine(d.embedding.get, q))).toMap
      val want = scored.toSeq.sortBy { case (i, s) => (-s, i) }.take(10)
      check(s"similar($id) = in-memory recompute",
        got.size == want.size &&
          got.zip(want).forall { case (a, b) => math.abs(a._2 - b._2) <= 1e-5 } &&
          got.forall { case (i, s) => scored.get(i).exists(e => math.abs(e - s) <= 1e-5) })
    }

  private def statusOp(): Op =
    Op("status")(h => h.verb("status")(rows(g.status()))) { got =>
      check(s"status reports ${docs.size} records", got.size == 1 &&
        got.head.getAs[Long]("n_records") == docs.size &&
        got.head.getAs[Long]("n_types") == 1)
    }

  private def analyticsOp(): Op =
    Op("analytics")(h => h.verb("analytics")(
      g.analytics().map { case (k, df) => k -> rows(df) })) { got =>
      val n = docs.size.toLong
      check(s"analytics totals $n",
        got("type_counts").map(r => (r.getString(0), r.getLong(1))) ==
          Seq(("dataset", n)) &&
          got("source_stats").map(_.getAs[Long]("record_count")) == Seq(n) &&
          got("license_distribution").map(_.getLong(1)) == Seq(n) &&
          got("temporal_activity").map(_.getLong(1)).sum == n &&
          got("popular_tags").nonEmpty)
    }

  private def mvOp(view: String): Op =
    Op("analytics_mv")(h => h.verb("analytics_mv")(
      rows(g.analyticsMaterialized(view)))) { got =>
      val want = rows(g.analytics()(view))
      check(s"analyticsMaterialized($view) = analytics()($view)",
        got.map(_.toString).sorted == want.map(_.toString).sorted)
    }

  /** The whole catalog, as the reference's export without a filter. */
  private def exportOp(): Op = {
    val path = s"$dir/export_out"
    Op("export")(h => h.verb("export")(
      rows(g.export(None, "parquet", path)).map(_.getString(0)))) { got =>
      val written = spark.read.parquet(path).count()
      check(s"export writes ${docs.size} rows, got $written",
        written == docs.size && got == Seq(SourceName))
    }
  }

  private def writeRound(): Op = {
    val r = nextRound(WriteBatch / 2, WriteBatch - WriteBatch / 2)
    Op("write")(h => {
      val n = collect(Some(h), g, r)
      h.verb("index_fts")(g.indexFts())
      n
    })(n => check(s"write adds ${r.expectedNew}, got $n", n == r.expectedNew))
  }

  /** Also writes the registry op counts and the oracle SQL next to the
    * kept registry results, for `run.py` to compare with DuckDB.
    */
  def finalChecks(h: Harness): Boolean = {
    val ops = h.ops.filter(_.name == "registry")
    Files.writeString(registryOut.resolve("check.json"), Js.render(ListMap(
      "tables" -> tables,
      "ops" -> ops.size,
      "ok_ops" -> ops.count(_.ok),
      "oracle" -> ListMap(Registry.Families.map { case (_, _, name) =>
        name -> graft.SparkEntry.oracleSql(name) }: _*))))
    val rows = g.records.count()
    check(s"final row count ${docs.size}, got $rows", rows == docs.size)
  }
}

object Serve {
  val SetupRounds = 1
  val SetupBatch = 5000
  val WriteBatch = 500
  /** One op of each kind, equally weighted: no usage trace of the
    * reference's verbs exists to weight them by.
    */
  val Deck = IndexedSeq("search", "search_fts", "search_ranked", "similar",
    "status", "analytics", "analytics_mv", "export", "registry", "write")
  val SourceName = "NYC Open Data"
  /** Views cycle in this order, so runs of any seed serve the same ones. */
  val AnalyticsViews = IndexedSeq("source_stats", "type_counts",
    "popular_tags", "temporal_activity", "license_distribution")

  /** The embedding `Graft.backfillEmbeddings` writes, as doubles. */
  def embed(text: String): Array[Double] =
    MultimodalOps.decodeStub(text.getBytes(
      java.nio.charset.StandardCharsets.UTF_8)).map(_.toDouble)

  def dot(a: Array[Double], b: Array[Double]): Double = {
    var s = 0.0
    var i = 0
    while (i < a.length) { s += a(i) * b(i); i += 1 }
    s
  }

  def cosine(a: Array[Double], b: Array[Double]): Double =
    dot(a, b) / (math.sqrt(dot(a, a)) * math.sqrt(dot(b, b)))

  def round6(x: Double): Double =
    BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
}
