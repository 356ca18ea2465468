package graft.operators

import graft.Catalog
import org.apache.spark.sql.{Column, DataFrame, Row, SaveMode, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
import org.apache.spark.sql.catalyst.expressions.{BindReferences, Expression}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.functions._
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types.{LongType, StringType, StructField,
  StructType}
import org.apache.spark.unsafe.types.UTF8String

/** Full-text search v2 (L2): a tokenized inverted index as ordinary
  * tables — the scale path the reference skipped ("Skip FTS for now
  * since it's causing issues", ethical_crawler.py:888; README.txt:235
  * claims it anyway).
  *
  * v1 (`ReferenceOps.search` ILIKE) scans every text byte per query —
  * the round-1 plan audit flagged exactly that as the 100 TB weakness.
  * Here the scan cost is paid ONCE at index-build; each query then
  * touches only the posting lists of its terms:
  *
  *  - index build: one explode + one hash agg, partitioned (bucketed
  *    at rest) by token — postings for one term are one partition
  *    probe, not a corpus scan;
  *  - search: an IN-list filter on the token column (partition/row-
  *    group prunable), a doc-level agg, AND-semantics via distinct
  *    term count, rank by summed term frequency.
  */
object FtsOps {

  /** Build the inverted index: one row per (token, doc) with term
    * frequency. At rest this is written
    * `partitionBy/bucketBy(token)` so a term lookup prunes to one
    * bucket.
    */
  def buildIndex(docs: DataFrame, idCol: String, textCol: String)
      : DataFrame =
    postings(tokens(docs, idCol, textCol), idCol)

  /** The index's tokenizer, one expression over `text`: the lower-cased
    * text split on single spaces, less the empty strings that leading,
    * trailing and repeated spaces leave; null for a null text. The
    * DataFrame path ([[tokens]]) and the driver path
    * ([[appendPostings]], through [[driverTokenizer]]) both evaluate
    * it, so they cannot drift.
    */
  private def tokenized(text: Column): Column =
    array_remove(split(lower(text), " "), "")

  /** One (id, token) row per token occurrence. */
  private def tokens(docs: DataFrame, idCol: String, textCol: String)
      : DataFrame =
    docs.select(col(idCol), explode(tokenized(col(textCol))).as("token"))

  /** [[tokenized]] as the session analyzes it for the DataFrame path,
    * bound to a one-string row for evaluation on the driver (analyzed
    * over an empty relation: no job).
    */
  private def driverTokenizer(spark: SparkSession): Expression = {
    val plan = spark.createDataFrame(java.util.List.of[Row](),
        StructType(Seq(StructField("text", StringType))))
      .select(tokenized(col("text"))).queryExecution.analyzed
    BindReferences.bindReference(plan.expressions.head, plan.children.head.output)
  }

  private def postings(tokens: DataFrame, idCol: String): DataFrame =
    tokens.groupBy(col("token"), col(idCol)).agg(count(lit(1)).as("tf"))

  /** AND-semantics ranked search over the inverted index: documents
    * containing ALL `terms`, ranked by total term frequency.
    * Deterministic total order (score desc, id asc).
    */
  def search(index: DataFrame, idCol: String, terms: Seq[String], k: Int)
      : DataFrame = {
    require(terms.nonEmpty, "at least one search term")
    val normTerms = terms.map(_.toLowerCase)
    index
      .filter(col("token").isInCollection(normTerms))
      .groupBy(col(idCol))
      .agg(
        countDistinct(col("token")).as("n_terms"),
        sum(col("tf")).as("score"))
      .filter(col("n_terms") === normTerms.distinct.size)
      .select(col(idCol), col("score"))
      .orderBy(col("score").desc, col(idCol).asc)
      .limit(k)
  }

  /** Index + search in one go (the index-free fallback; with the
    * index at rest only [[searchIndexed]] runs).
    */
  def searchDocs(docs: DataFrame, idCol: String, textCol: String,
      terms: Seq[String], k: Int): DataFrame =
    search(buildIndex(docs, idCol, textCol), idCol, terms, k)

  /** OR-semantics tf·idf ranked search: documents containing ANY of
    * `terms`, scored `Σ_t tf(t,d) · ln(N / df(t))` — the fix for the
    * stop-token problem in [[search]]'s raw-frequency ranking (a term
    * appearing in every document carries idf ≈ 0, so a rare-term match
    * outranks any pile of stop-token hits). Everything derives from
    * the same index: the postings are bucket-pruned by the IN-list,
    * df(t) is a per-term count over those postings (broadcast back),
    * and `nDocs` is a one-row corpus count (at 100 TB a stored corpus
    * stat; here a metadata-cheap count over the documents table).
    * Deterministic total order (score desc, id asc), 6 dp.
    */
  def searchRanked(index: DataFrame, nDocs: DataFrame, idCol: String,
      terms: Seq[String], k: Int): DataFrame = {
    require(terms.nonEmpty, "at least one search term")
    val normTerms = terms.map(_.toLowerCase).distinct
    val postings = index.filter(col("token").isInCollection(normTerms))
    val dfs = postings.groupBy(col("token")).agg(count(lit(1)).as("df"))
    postings
      .join(broadcast(dfs), Seq("token"))
      .crossJoin(broadcast(nDocs))
      .groupBy(col(idCol))
      .agg(round(
        sum(col("tf") * log(col("n_docs").cast("double") / col("df"))),
        6).as("score"))
      .orderBy(col("score").desc, col(idCol).asc)
      .limit(k)
  }

  /** [[searchRanked]] building the index inline from the corpus.
    * The IN-filtered postings are cached so the df branch and the
    * scoring branch share ONE corpus scan (the optimizer's column
    * pruning otherwise specializes the two subtrees just enough that
    * no exchange reuse fires, and the explode+aggregate runs twice —
    * measured 8 → 5 job waves at sf0.1). The cached relation is
    * |matched postings|, term-bounded. The at-rest path
    * ([[searchRankedIndexed]]) needs none of this: its two reads are
    * bucket-pruned file scans.
    */
  def searchRankedDocs(docs: DataFrame, idCol: String, textCol: String,
      terms: Seq[String], k: Int): DataFrame = {
    val normTerms = terms.map(_.toLowerCase).distinct
    val pruned = buildIndex(docs, idCol, textCol)
      .filter(col("token").isInCollection(normTerms)).cache()
    searchRanked(pruned, docs.agg(count(lit(1)).as("n_docs")),
      idCol, terms, k)
  }

  /** [[searchRanked]] over a persisted [[writeIndex]] table (the
    * corpus count rides in as a one-row relation so the index itself
    * never needs a full scan at query time).
    */
  def searchRankedIndexed(spark: SparkSession, tableName: String,
      nDocs: DataFrame, idCol: String, terms: Seq[String], k: Int)
      : DataFrame =
    searchRanked(spark.table(tableName), nDocs, idCol, terms, k)

  /** BM25-lite ranked search (tier 3 of the ranking ladder: raw tf →
    * tf·idf → BM25): `Σ_t idf(t) · tf·(k1+1) / (tf + k1·(1−b +
    * b·len_d/avgdl))` — term-frequency SATURATION (the 50th repeat of
    * a term adds ~nothing, k1 caps the tf contribution) and length
    * normalization (a match in a short doc outweighs one in a long
    * doc, weighted by `b`). `lens` is a (idCol, len) relation — token
    * count per document, index metadata at rest in production; the
    * corpus average rides in as a one-row aggregate of it. Postings
    * stay bucket-pruned; df broadcasts; the only doc-keyed join is
    * postings⨝lens on the id. Deterministic, 6 dp.
    */
  def searchBm25(index: DataFrame, lens: DataFrame, idCol: String,
      terms: Seq[String], k: Int, k1: Double = 1.2, b: Double = 0.75)
      : DataFrame =
    bm25Scored(index, lens,
      lens.agg(count(lit(1)).cast("double").as("n_docs"),
        avg(col("len")).as("avgdl")),
      idCol, terms, k, k1, b)

  /** [[searchBm25]] with the corpus stats supplied as a 1-row
    * `(n_docs, avgdl)` relation — the served shape, where the stats
    * are index metadata at rest instead of a per-query fold.
    */
  def bm25Scored(index: DataFrame, lens: DataFrame, stats: DataFrame,
      idCol: String, terms: Seq[String], k: Int, k1: Double = 1.2,
      b: Double = 0.75): DataFrame = {
    require(terms.nonEmpty, "at least one search term")
    val normTerms = terms.map(_.toLowerCase).distinct
    val postings = index.filter(col("token").isInCollection(normTerms))
    val dfs = postings.groupBy(col("token")).agg(count(lit(1)).as("df"))
    val idf = log(col("n_docs").cast("double") / col("df"))
    val sat = (col("tf") * (k1 + 1)) /
      (col("tf") +
        lit(k1) * (lit(1 - b) + lit(b) * col("len") / col("avgdl")))
    postings
      .join(broadcast(dfs), Seq("token"))
      .join(lens, Seq(idCol))
      .crossJoin(broadcast(stats))
      .groupBy(col(idCol))
      .agg(round(sum(idf * sat), 6).as("score"))
      .orderBy(col("score").desc, col(idCol).asc)
      .limit(k)
  }

  /** [[searchBm25]] building index and length relation from the
    * corpus (length = whitespace token count, matching the index's
    * tokenizer). Filtered postings cached for the same single-scan
    * reason as [[searchRankedDocs]]; the lens relation is inherently
    * a second (narrow, two-column) pass — at rest it is index
    * metadata, not a scan.
    */
  def searchBm25Docs(docs: DataFrame, idCol: String, textCol: String,
      terms: Seq[String], k: Int): DataFrame = {
    val normTerms = terms.map(_.toLowerCase).distinct
    val pruned = buildIndex(docs, idCol, textCol)
      .filter(col("token").isInCollection(normTerms)).cache()
    searchBm25(
      pruned,
      docs.select(col(idCol),
        size(split(lower(col(textCol)), " ")).cast("double").as("len")),
      idCol, terms, k)
  }

  /** BM25F (l15) — FIELD-WEIGHTED ranking (Robertson/Zaragoza's
    * simple variant): a title hit outranks the same hit buried in
    * the body. Fields here follow n31's convention — title = the
    * first `nTitle` whitespace tokens, body = the rest. Per (doc,
    * term) the fields fold into ONE weighted pseudo-frequency
    * BEFORE saturation,
    *
    *   tf̃ = Σ_f w_f · tf_f / ((1−b) + b · len_f/avgdl_f)
    *   score = Σ_t ln(N/df_t) · tf̃ / (k1 + tf̃)
    *
    * which is what distinguishes BM25F from naively summing
    * per-field BM25 scores (that double-saturates). Scale shape:
    * title/body arrays and their lengths are ONE scan-stage
    * projection (no second tokenize pass); the tagged postings
    * explode is term-filtered in the same stage; df and the per-
    * field corpus stats are broadcast 1-row/`|terms|`-row folds; the
    * only doc-keyed join is postings⨝lens. Deterministic at 6 dp
    * (l7's convention — few-term double sums under a final round).
    */
  def searchBm25F(docs: DataFrame, idCol: String, textCol: String,
      terms: Seq[String], k: Int, nTitle: Int = 3,
      wTitle: Double = 2.0, k1: Double = 1.2, b: Double = 0.75)
      : DataFrame = {
    require(terms.nonEmpty, "at least one search term")
    val normTerms = terms.map(_.toLowerCase).distinct
    val fields = docs.select(col(idCol),
        split(lower(col(textCol)), " ").as("__ws"))
      .select(col(idCol),
        slice(col("__ws"), 1, nTitle).as("__ta"),
        expr(s"slice(__ws, ${nTitle + 1}, " +
          s"greatest(0, size(__ws) - $nTitle))").as("__ba"))
    val lens = fields.select(col(idCol),
      size(col("__ta")).cast("double").as("lt"),
      size(col("__ba")).cast("double").as("lb"))
    val stats = lens.agg(count(lit(1)).cast("double").as("n_docs"),
      avg(col("lt")).as("alt"), avg(col("lb")).as("alb"))
    val tagged = fields.select(col(idCol), explode(concat(
        transform(col("__ta"), t => struct(lit("t").as("fld"),
          t.as("token"))),
        transform(col("__ba"), t => struct(lit("b").as("fld"),
          t.as("token"))))).as("p"))
      .select(col(idCol), col("p.fld"), col("p.token"))
      .filter(col("token").isInCollection(normTerms))
    val tf = tagged.groupBy(col(idCol), col("fld"), col("token"))
      .agg(count(lit(1)).cast("double").as("tf"))
    bm25fScored(tf, lens, stats, idCol, k, wTitle, k1, b)
  }

  /** The BM25F scoring tail from a `(idCol, fld, token, tf)` relation
    * — shared by [[searchBm25F]] (inline tokenize) and
    * [[servedBm25F]] (persisted field-tagged postings).
    */
  private def bm25fScored(tf: DataFrame, lens: DataFrame,
      stats: DataFrame, idCol: String, k: Int, wTitle: Double,
      k1: Double, b: Double): DataFrame = {
    val dfs = tf.groupBy(col("token"))
      .agg(countDistinct(col(idCol)).cast("double").as("df"))
    val bNorm = lit(1 - b) + lit(b) *
      when(col("fld") === "t", col("lt") / col("alt"))
        .otherwise(col("lb") / col("alb"))
    val tfw = tf.join(lens, Seq(idCol))
      .crossJoin(broadcast(stats))
      .groupBy(col(idCol), col("token"))
      .agg(sum(when(col("fld") === "t", lit(wTitle))
        .otherwise(lit(1.0)) * col("tf") / bNorm).as("tfw"))
    tfw.join(broadcast(dfs), Seq("token"))
      .crossJoin(broadcast(stats))
      .groupBy(col(idCol))
      .agg(round(sum(log(col("n_docs").cast("double") / col("df")) *
        col("tfw") / (lit(k1) + col("tfw"))), 6).as("score"))
      .orderBy(col("score").desc, col(idCol).asc)
      .limit(k)
  }

  /** Oracle twin of [[searchBm25F]] — identical arithmetic as CTEs
    * (DuckDB list slicing `ws[1:n]` / `ws[n+1:]` mirrors the
    * guarded Spark `slice`; both engines keep RAW split lengths so
    * the field-length convention cannot drift).
    */
  def searchBm25FSql(table: String, idCol: String, textCol: String,
      terms: Seq[String], k: Int, nTitle: Int = 3,
      wTitle: Double = 2.0, k1: Double = 1.2, b: Double = 0.75)
      : String = {
    val inTerms = terms.map(_.toLowerCase).distinct
      .map(t => s"'$t'").mkString(", ")
    s"""WITH f AS (
       |  SELECT $idCol, ws[1:$nTitle] AS ta, ws[${nTitle + 1}:] AS ba
       |  FROM (SELECT $idCol, string_split(lower($textCol), ' ')
       |          AS ws FROM $table)),
       |lens AS (SELECT $idCol, len(ta)::DOUBLE AS lt,
       |  len(ba)::DOUBLE AS lb FROM f),
       |stats AS (SELECT count(*)::DOUBLE AS n_docs, avg(lt) AS alt,
       |  avg(lb) AS alb FROM lens),
       |post AS (
       |  SELECT $idCol, 't' AS fld, unnest(ta) AS token FROM f
       |  UNION ALL
       |  SELECT $idCol, 'b', unnest(ba) FROM f),
       |tf AS (
       |  SELECT $idCol, fld, token, count(*)::DOUBLE AS tf
       |  FROM post WHERE token IN ($inTerms) GROUP BY 1, 2, 3),
       |dfs AS (SELECT token, count(DISTINCT $idCol)::DOUBLE AS df
       |  FROM tf GROUP BY 1),
       |tfw AS (
       |  SELECT t.$idCol, t.token,
       |    sum((CASE WHEN t.fld = 't' THEN $wTitle ELSE 1.0 END)
       |        * t.tf /
       |        ((1 - $b) + $b * (CASE WHEN t.fld = 't'
       |           THEN l.lt / s.alt ELSE l.lb / s.alb END))) AS tfw
       |  FROM tf t JOIN lens l USING ($idCol) CROSS JOIN stats s
       |  GROUP BY 1, 2)
       |SELECT w.$idCol,
       |  round(sum(ln(s.n_docs / d.df) * w.tfw / ($k1 + w.tfw)), 6)
       |    AS score
       |FROM tfw w JOIN dfs d USING (token) CROSS JOIN stats s
       |GROUP BY 1
       |ORDER BY score DESC, $idCol ASC LIMIT $k""".stripMargin
  }

  /** BATCH BM25 serving — the FTS analogue of the IVF batch tier
    * (n10/n15): one shared plan answers a whole query SET instead of
    * one job per query. The postings scan is pruned once by the UNION
    * of all query terms, document frequencies and corpus stats are
    * computed once, each query fans its terms out via a broadcast
    * (query_id, token) relation, and the per-query top-k runs as a
    * rank-filter window — the TopKPerKey rewrite turns it into
    * partial per-partition heaps, so the exchange carries ≤ k rows
    * per query per partition, never every scored (query, doc) pair.
    */
  def searchBm25Batch(docs: DataFrame, idCol: String, textCol: String,
      queries: Seq[(Int, Seq[String])], k: Int,
      k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    require(queries.nonEmpty, "at least one query")
    val spark = docs.sparkSession
    import spark.implicits._
    val qrel = queries.flatMap { case (qid, ts) =>
      ts.map(_.toLowerCase).distinct.map(t => (qid, t))
    }.toDF("query_id", "token")
    val allTerms = queries.flatMap(_._2.map(_.toLowerCase)).distinct
    val pruned = buildIndex(docs, idCol, textCol)
      .filter(col("token").isInCollection(allTerms)).cache()
    val dfs = pruned.groupBy(col("token")).agg(count(lit(1)).as("df"))
    val lens = docs.select(col(idCol),
      size(split(lower(col(textCol)), " ")).cast("double").as("len"))
    val stats = lens.agg(count(lit(1)).cast("double").as("n_docs"),
      avg(col("len")).as("avgdl"))
    val idf = log(col("n_docs") / col("df"))
    val sat = (col("tf") * (k1 + 1)) /
      (col("tf") +
        lit(k1) * (lit(1 - b) + lit(b) * col("len") / col("avgdl")))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("query_id"))
      .orderBy(col("score").desc, col(idCol).asc)
    pruned
      .join(broadcast(qrel), Seq("token"))
      .join(broadcast(dfs), Seq("token"))
      .join(lens, Seq(idCol))
      .crossJoin(broadcast(stats))
      .groupBy(col("query_id"), col(idCol))
      .agg(round(sum(idf * sat), 6).as("score"))
      .withColumn("__rn", row_number().over(w))
      .filter(col("__rn") <= k).drop("__rn")
      .orderBy(col("query_id").asc, col("score").desc, col(idCol).asc)
  }

  /** Oracle SQL twin of [[searchBm25Batch]] — same tokenization, same
    * BM25 constants, the query set as a VALUES relation.
    */
  def searchBm25BatchSql(table: String, idCol: String, textCol: String,
      queries: Seq[(Int, Seq[String])], k: Int): String = {
    val allTerms = queries.flatMap(_._2.map(_.toLowerCase)).distinct
    val inList = allTerms.map(t => s"'$t'").mkString(", ")
    val qvals = queries.flatMap { case (qid, ts) =>
      ts.map(_.toLowerCase).distinct.map(t => s"($qid, '$t')")
    }.mkString(", ")
    s"""WITH idx AS (
       |  SELECT token, $idCol, count(*) AS tf FROM (
       |    SELECT $idCol, unnest(string_split(lower($textCol), ' '))
       |      AS token
       |    FROM $table)
       |  WHERE token <> '' GROUP BY token, $idCol),
       |lens AS (SELECT $idCol,
       |    len(string_split(lower($textCol), ' '))::DOUBLE AS len
       |  FROM $table),
       |pl AS (SELECT * FROM idx WHERE token IN ($inList)),
       |dfs AS (SELECT token, count(*) AS df FROM pl GROUP BY token),
       |stats AS (SELECT count(*)::DOUBLE AS n_docs, avg(len) AS avgdl
       |  FROM lens),
       |qrel(query_id, token) AS (VALUES $qvals),
       |scored AS (
       |  SELECT query_id, $idCol,
       |    round(sum(ln(n_docs / df) * (tf * (1.2 + 1)) /
       |      (tf + 1.2 * ((1 - 0.75) + 0.75 * len / avgdl))), 6)
       |      AS score
       |  FROM pl JOIN qrel USING (token) JOIN dfs USING (token)
       |    JOIN lens USING ($idCol) CROSS JOIN stats
       |  GROUP BY query_id, $idCol)
       |SELECT query_id, $idCol, score FROM (
       |  SELECT query_id, $idCol, score, row_number() OVER (
       |    PARTITION BY query_id ORDER BY score DESC, $idCol ASC)
       |    AS rn
       |  FROM scored) WHERE rn <= $k
       |ORDER BY query_id ASC, score DESC, $idCol ASC""".stripMargin
  }

  /** HYBRID retrieval with reciprocal-rank fusion — the modern
    * two-tower serving shape: lexical candidates (BM25 over the
    * inverted index) and dense candidates (cosine over the embedding
    * table) are fused by RRF, `score(d) = Σ_lists 1/(rrfK + rank_d)`
    * — rank-based, so the two lists' incomparable score scales never
    * need calibration. Deterministic end to end: both ranks break
    * ties on the id, the fusion is a two-term double sum in fixed
    * order, rounded 6 dp.
    *
    * Shape: each tower is its already-audited plan (pruned postings
    * aggregate; one scan + broadcast query vector); the fusion is a
    * full-outer join of two ≤n-row relations and a top-k — serving
    * cost is the towers, the fusion is noise.
    */
  def hybridRrf(docs: DataFrame, embeddings: DataFrame, idCol: String,
      textCol: String, terms: Seq[String], queryId: Long, n: Int,
      k: Int, rrfK: Int = 60): DataFrame = {
    val wScore = org.apache.spark.sql.expressions.Window
      .orderBy(col("score").desc, col(idCol).asc)
    val lexical = searchBm25Docs(docs, idCol, textCol, terms, n)
      .withColumn("rank_t", row_number().over(wScore))
      .select(col(idCol), col("rank_t"))
    val wVec = org.apache.spark.sql.expressions.Window
      .orderBy(col("score").desc, col("vec_id").asc)
    val dense = SimilarityOps.cosineTopK(embeddings, queryId, n)
      .withColumn("rank_v", row_number().over(wVec))
      .select(col("vec_id").as(idCol), col("rank_v"))
    lexical.join(dense, Seq(idCol), "full_outer")
      .select(col(idCol),
        round(
          coalesce(lit(1.0) / (lit(rrfK) + col("rank_t")), lit(0.0)) +
            coalesce(lit(1.0) / (lit(rrfK) + col("rank_v")), lit(0.0)),
          6).as("rrf"))
      .orderBy(col("rrf").desc, col(idCol).asc)
      .limit(k)
  }

  /** Persist the inverted index AT REST, bucketed (and sorted) by
    * token: the corpus scan is paid once here; afterwards a term
    * lookup hash-routes to the terms' buckets instead of scanning the
    * corpus ("SelectedBucketsCount: n out of `buckets`" in the scan).
    * Bucketed tables live in the session catalog, so reads go through
    * [[searchIndexed]]/`spark.table`.
    *
    * Layout rule: one file per non-empty bucket per write. The token
    * rows are hash-partitioned on `token` into `buckets` partitions
    * before the (token, id) aggregate — Spark's bucket id is the same
    * `pmod(murmur3(token), buckets)`, so each writer task holds exactly
    * one bucket, and that partitioning already satisfies the
    * aggregate's distribution (no second exchange). Callers that serve
    * lookups pass the session's shuffle width, so a lookup is one wave
    * of tasks. `SaveMode.Append` adds postings under the same bucket
    * spec (at most `buckets` files) without merging them into the
    * existing ones, so the appended docs must be ids the index does
    * not hold yet. [[appendPostings]] writes the same appended files
    * from docs already on the driver, with no job.
    */
  def writeIndex(docs: DataFrame, idCol: String, textCol: String,
      tableName: String, path: String, buckets: Int = 32,
      mode: SaveMode = SaveMode.Overwrite): Unit =
    postings(tokens(docs, idCol, textCol)
        .repartition(buckets, col("token")), idCol)
      .write.mode(mode)
      .format("parquet")
      .option("path", path)
      .bucketBy(buckets, "token")
      .sortBy("token")
      .saveAsTable(tableName)

  /** [[writeIndex]]'s `SaveMode.Append` of `docs` (id, text), rows
    * already on the driver, with no Spark job: the (token, id, tf)
    * postings are computed on the driver with the index's own
    * tokenizer ([[tokenized]]) and written bucketed and sorted by token
    * through [[Catalog.appendRows]], the files Spark's writer leaves,
    * at most one per bucket. Then the table's cached file listing is
    * refreshed, so the next lookup reads the new files. As with
    * [[writeIndex]]'s append, the ids must be ones the index does not
    * hold yet.
    */
  def appendPostings(spark: SparkSession, docs: Seq[(String, String)],
      idCol: String, tableName: String, path: String, buckets: Int): Unit = {
    val postings = SQLConf.withExistingConf(spark.sessionState.conf) {
      val tokenize = driverTokenizer(spark)
      docs.flatMap { case (id, text) =>
        val toks = tokenize.eval(InternalRow(UTF8String.fromString(text)))
          .asInstanceOf[ArrayData]
        if (toks == null) Nil
        else toks.toSeq[UTF8String](StringType).groupMapReduce(_.toString)(
          _ => 1L)(_ + _).map { case (token, tf) => Row(token, id, tf) }
      }
    }
    Catalog.appendRows(spark, postings,
      ExpressionEncoder(postingsSchema(idCol)), path,
      bucketBy = Some("token" -> buckets))
    spark.catalog.refreshTable(tableName)
  }

  /** The schema [[writeIndex]] writes for string ids. */
  private def postingsSchema(idCol: String): StructType = StructType(Seq(
    StructField("token", StringType, nullable = false),
    StructField(idCol, StringType),
    StructField("tf", LongType, nullable = false)))

  /** [[search]] over a persisted [[writeIndex]] table: the IN-list on
    * the bucket column prunes to the terms' buckets before any IO.
    */
  def searchIndexed(spark: SparkSession, tableName: String,
      idCol: String, terms: Seq[String], k: Int): DataFrame =
    search(spark.table(tableName), idCol, terms, k)

  /** Doc-hash partition count of the served FORWARD index: the
    * feedback pass of [[servedQueryExpansion]] reads `kFb` known doc
    * ids, so the forward postings are laid out by `id mod DocBuckets`
    * and the lookup statically prunes to ≤ kFb directories.
    */
  val DocBuckets = 16

  /** Handle to a persisted, SERVED full-text index — the production
    * shape the ranked family runs against (the inline `*Docs`
    * variants re-tokenize the corpus inside every query; correct for
    * oracle parity, wrong for serving — a user pays the corpus scan
    * once at [[buildServedIndex]] and each query touches only its
    * terms' buckets). Members are catalog table names:
    *
    *  - `postings` (token, id, tf) bucketBy(token): l2/l6/l7 lookups
    *    and l13's scoring passes prune to the query terms' buckets;
    *  - `forward` (id, token, tf) partitionBy(id mod [[DocBuckets]]):
    *    l13's feedback-doc term harvest — an id-keyed read the
    *    token-bucketed layout cannot prune;
    *  - `fieldPostings` (id, fld, token, tf) bucketBy(token): l15's
    *    BM25F field-tagged frequencies;
    *  - `lens` (id, len, lt, lb): per-doc RAW split lengths (l7/l15
    *    length normalization — index metadata, not a corpus scan);
    *  - `stats`: ONE row (n_docs, avgdl, alt, alb) — the corpus
    *    constants every ranked query needs;
    *  - `spell` (key, token, ctf) bucketBy(key): the SymSpell
    *    deletion-key index (n31's store shape) — l14's query keys are
    *    plan-time literals, so correction is a bucket-pruned IN-scan
    *    instead of a vocabulary sweep.
    */
  final case class ServedFtsIndex(postings: String, forward: String,
      fieldPostings: String, lens: String, stats: String,
      spell: String)

  /** Build every table of a [[ServedFtsIndex]] from the corpus — paid
    * ONCE per corpus version (in production: incrementally maintained,
    * k18's signature-store pattern). `idCol` must be integral (the
    * forward layout hashes it). All derived relations (`forward`,
    * `spell`) read back the just-written postings table, so the
    * tokenize explode runs exactly once.
    */
  def buildServedIndex(spark: SparkSession, docs: DataFrame,
      idCol: String, textCol: String, tag: String, root: String,
      buckets: Int = 32, nTitle: Int = 3): ServedFtsIndex = {
    val ix = ServedFtsIndex(
      postings = s"graft_fts_${tag}_postings",
      forward = s"graft_fts_${tag}_forward",
      fieldPostings = s"graft_fts_${tag}_fpostings",
      lens = s"graft_fts_${tag}_lens",
      stats = s"graft_fts_${tag}_stats",
      spell = s"graft_fts_${tag}_spell")
    def save(df: DataFrame, table: String, sub: String,
        bucketCol: Option[String] = None,
        partitionCol: Option[String] = None): Unit = {
      val w = df.write.mode(SaveMode.Overwrite).format("parquet")
        .option("path", s"$root/$sub")
      val wb = bucketCol.fold(w)(c => w.bucketBy(buckets, c).sortBy(c))
      partitionCol.fold(wb)(c => wb.partitionBy(c)).saveAsTable(table)
    }
    save(buildIndex(docs, idCol, textCol), ix.postings, "postings",
      bucketCol = Some("token"))
    val postings = spark.table(ix.postings)
    save(postings.withColumn("dbkt",
        pmod(col(idCol), lit(DocBuckets.toLong)).cast("int")),
      ix.forward, "forward", partitionCol = Some("dbkt"))
    save(postings.groupBy(col("token")).agg(sum(col("tf")).as("ctf"))
        .select(explode(DedupOps.deletionKeys(col("token")))
          .as("key"), col("token"), col("ctf")),
      ix.spell, "spell", bucketCol = Some("key"))
    // Field split (l15's convention: title = first nTitle raw split
    // tokens) and RAW lengths — one tokenize projection feeds both
    // the lens table and the field-tagged postings.
    val fields = docs.select(col(idCol),
        split(lower(col(textCol)), " ").as("__ws"))
      .select(col(idCol),
        slice(col("__ws"), 1, nTitle).as("__ta"),
        expr(s"slice(__ws, ${nTitle + 1}, " +
          s"greatest(0, size(__ws) - $nTitle))").as("__ba"))
    save(fields.select(col(idCol),
        (size(col("__ta")) + size(col("__ba"))).cast("double")
          .as("len"),
        size(col("__ta")).cast("double").as("lt"),
        size(col("__ba")).cast("double").as("lb")),
      ix.lens, "lens")
    save(spark.table(ix.lens).agg(
        count(lit(1)).as("n_docs"), avg(col("len")).as("avgdl"),
        avg(col("lt")).as("alt"), avg(col("lb")).as("alb")),
      ix.stats, "stats")
    // Empty tokens can never match a (non-empty) query term, so they
    // are dead rows at rest — dropped here; the inline twin drops
    // them implicitly at its term filter.
    save(fields.select(col(idCol), explode(concat(
          transform(col("__ta"), t => struct(lit("t").as("fld"),
            t.as("token"))),
          transform(col("__ba"), t => struct(lit("b").as("fld"),
            t.as("token"))))).as("p"))
        .select(col(idCol), col("p.fld").as("fld"),
          col("p.token").as("token"))
        .filter(col("token") =!= "")
        .groupBy(col(idCol), col("fld"), col("token"))
        .agg(count(lit(1)).cast("double").as("tf")),
      ix.fieldPostings, "fpostings", bucketCol = Some("token"))
    ix
  }

  /** [[searchRanked]] (l6, tf·idf) over a [[ServedFtsIndex]]: two
    * bucket-pruned posting reads + the stored 1-row corpus count.
    */
  def servedRanked(spark: SparkSession, ix: ServedFtsIndex,
      idCol: String, terms: Seq[String], k: Int): DataFrame =
    searchRanked(spark.table(ix.postings),
      spark.table(ix.stats).select(col("n_docs")), idCol, terms, k)

  /** [[searchBm25]] (l7) over a [[ServedFtsIndex]]: postings prune to
    * the terms' buckets; lens/stats are stored index metadata.
    */
  def servedBm25(spark: SparkSession, ix: ServedFtsIndex,
      idCol: String, terms: Seq[String], k: Int, k1: Double = 1.2,
      b: Double = 0.75): DataFrame =
    bm25Scored(spark.table(ix.postings),
      spark.table(ix.lens).select(col(idCol), col("len")),
      spark.table(ix.stats).select(col("n_docs"), col("avgdl")),
      idCol, terms, k, k1, b)

  /** [[searchBm25F]] (l15) over a [[ServedFtsIndex]]: the field-
    * tagged tf relation is read bucket-pruned instead of re-tagging
    * the corpus.
    */
  def servedBm25F(spark: SparkSession, ix: ServedFtsIndex,
      idCol: String, terms: Seq[String], k: Int,
      wTitle: Double = 2.0, k1: Double = 1.2, b: Double = 0.75)
      : DataFrame = {
    require(terms.nonEmpty, "at least one search term")
    val normTerms = terms.map(_.toLowerCase).distinct
    bm25fScored(
      spark.table(ix.fieldPostings)
        .filter(col("token").isInCollection(normTerms)),
      spark.table(ix.lens).select(col(idCol), col("lt"), col("lb")),
      spark.table(ix.stats).select(col("n_docs"), col("alt"),
        col("alb")),
      idCol, k, wTitle, k1, b)
  }

  /** [[queryExpansion]] (l13) over a [[ServedFtsIndex]]. The kFb
    * feedback ids (a top-k result, metadata-scale by construction)
    * are gathered to the coordinator — exactly the second round-trip
    * a served retrieval system issues — so the feedback-term harvest
    * reads the FORWARD index with static partition pruning (≤ kFb of
    * [[DocBuckets]] directories) instead of semi-join-scanning the
    * whole token-bucketed index.
    */
  def servedQueryExpansion(spark: SparkSession, ix: ServedFtsIndex,
      idCol: String, seedTerms: Seq[String], kFb: Int, nExp: Int,
      k: Int): DataFrame = {
    require(seedTerms.nonEmpty, "at least one seed term")
    val norm = seedTerms.map(_.toLowerCase).distinct
    val postingsAll = spark.table(ix.postings)
    // Corpus cardinality and the harvested expansion terms are
    // metadata-scale COORDINATOR state (one long; ≤ nExp strings) —
    // the round-trips a served retrieval system already makes.
    // Round-16 rework (JobProfile: 13 jobs, gapSum ≈ 0.49 s of the
    // 0.95 s wall — broadcast-materialization barriers around 1-row/
    // 3-row relations): both search passes now take n_docs and the
    // term set as PLAN LITERALS, per-term df comes from a window
    // count over the token-bucketed postings (bucketing satisfies
    // the partition spec — no exchange), and the literal IN-list
    // statically prunes token buckets where the former broadcast
    // semi-join read them all. Scores are the identical expression
    // on identical integers; only the plan shape changed.
    val nDocsD = spark.table(ix.stats).select(col("n_docs"))
      .collect()(0).getAs[Number](0).doubleValue
    val wTok = org.apache.spark.sql.expressions.Window
      .partitionBy(col("token"))
    def tfIdfRanked(terms: Seq[String], kk: Int): DataFrame =
      postingsAll.filter(col("token").isInCollection(terms))
        .withColumn("df", count(lit(1)).over(wTok))
        .groupBy(col(idCol))
        .agg(round(
          sum(col("tf") * log(lit(nDocsD) / col("df"))), 6).as("score"))
        .orderBy(col("score").desc, col(idCol).asc)
        .limit(kk)
    val fbIds = tfIdfRanked(norm, kFb)
      .select(col(idCol)).collect().map(_.getLong(0)).toSeq
    val stop = Seq("the", "a", "of", "and", "is", "in") ++ norm
    val expTerms = spark.table(ix.forward)
      .filter(col("dbkt").isInCollection(
          fbIds.map(i => (i % DocBuckets).toInt).distinct) &&
        col(idCol).isInCollection(fbIds))
      .filter(!col("token").isInCollection(stop))
      .groupBy(col("token")).agg(sum(col("tf")).as("fb_tf"))
      .orderBy(col("fb_tf").desc, col("token").asc)
      .limit(nExp)
      .select(col("token")).collect().map(_.getString(0)).toSeq
    // UNSIGNED UTF-8 byte order ≡ code-point order — matches the
    // twin's ORDER BY token (and the old in-plan sort_array);
    // Scala's default String ordering compares UTF-16 code units,
    // which ranks supplementary-plane characters below
    // U+E000..U+FFFF, and SIGNED byte comparison would invert
    // ASCII vs multibyte (high-bit bytes read negative) — both
    // caught by PropertySpec's sort_array equivalence law
    // (round-16 review + property test)
    val expandedWith = expTerms.sortWith((a, b) =>
      java.util.Arrays.compareUnsigned(a.getBytes("UTF-8"),
        b.getBytes("UTF-8")) < 0).mkString(" ")
    tfIdfRanked((norm ++ expTerms).distinct, k)
      .withColumn("expanded_with", lit(expandedWith))
  }

  /** [[spellCorrectedSearch]] (l14) over a [[ServedFtsIndex]]: the
    * query's deletion keys are plan-time literals, so the candidate
    * read is an IN-list bucket prune of the persisted spell index —
    * never a vocabulary sweep.
    */
  def servedSpellSearch(spark: SparkSession, ix: ServedFtsIndex,
      idCol: String, query: String, k: Int): DataFrame = {
    val norm = query.toLowerCase
    val qKeys = (norm +: norm.indices.map(i =>
      norm.substring(0, i) + norm.substring(i + 1))).distinct
    // One vocab token can match several query keys → distinct before
    // ranking (the inline twin's arrays_overlap is set-semantics).
    val corrected = spark.table(ix.spell)
      .filter(col("key").isInCollection(qKeys))
      .select(col("token"), col("ctf")).distinct()
      .withColumn("dist", levenshtein(col("token"), lit(norm)))
      .filter(col("dist") <= 1)
      .orderBy(col("dist").asc, col("ctf").desc, col("token").asc)
      .limit(1)
      .select(col("token"))
    spark.table(ix.postings)
      .join(broadcast(corrected), Seq("token"))
      .groupBy(col(idCol))
      .agg(sum(col("tf")).cast("long").as("score"),
        min(col("token")).as("corrected"))
      .orderBy(col("score").desc, col(idCol).asc)
      .limit(k)
  }

  /** QUERY EXPANSION via pseudo-relevance feedback (l13, RM3-lite) —
    * the retrieval-quality lever after ranking itself: seed tf·idf
    * search → top-`kFb` feedback docs → the `nExp` strongest
    * non-seed, non-stopword terms in the feedback set (summed tf,
    * token-asc tiebreak) join the query → one expanded OR search.
    * The expansion-term set is DATA, so the second pass prunes its
    * postings with a broadcast semi-join on the term relation
    * instead of a literal IN-list — the same bucket-prunable key
    * either way at rest. The index builds once and is cached across
    * the three passes (feedback, candidates, final); every pass
    * moves only term-bounded posting rows. The chosen expansion
    * terms ride along as a witness column (alphabetical join — the
    * ranked order is already pinned by the result itself).
    */
  def queryExpansion(docs: DataFrame, idCol: String, textCol: String,
      seedTerms: Seq[String], kFb: Int, nExp: Int, k: Int)
      : DataFrame = {
    require(seedTerms.nonEmpty, "at least one seed term")
    val norm = seedTerms.map(_.toLowerCase).distinct
    val index = buildIndex(docs, idCol, textCol).cache()
    val nDocs = docs.agg(count(lit(1)).as("n_docs"))
    val fbDocs = searchRanked(index, nDocs, idCol, norm, kFb)
      .select(col(idCol))
    val stop = Seq("the", "a", "of", "and", "is", "in") ++ norm
    val cand = index.join(fbDocs, Seq(idCol), "left_semi")
      .filter(!col("token").isInCollection(stop))
      .groupBy(col("token")).agg(sum(col("tf")).as("fb_tf"))
      .orderBy(col("fb_tf").desc, col("token").asc)
      .limit(nExp)
      .cache()
    val seedDf = docs.sparkSession
      .createDataset(norm)(org.apache.spark.sql.Encoders.STRING)
      .toDF("token")
    val terms = cand.select(col("token")).unionByName(seedDf).distinct()
    val postings = index.join(broadcast(terms), Seq("token"))
    val dfs = postings.groupBy(col("token"))
      .agg(count(lit(1)).as("df"))
    val expandedWith = cand
      .agg(array_join(sort_array(collect_list(col("token"))), " ")
        .as("expanded_with"))
    postings.join(broadcast(dfs), Seq("token"))
      .crossJoin(broadcast(nDocs))
      .groupBy(col(idCol))
      .agg(round(
        sum(col("tf") * log(col("n_docs").cast("double") / col("df"))),
        6).as("score"))
      .crossJoin(broadcast(expandedWith))
      .orderBy(col("score").desc, col(idCol).asc)
      .limit(k)
  }

  /** SPELL-CORRECTED search (l14) — "did you mean": a typo'd query
    * term is corrected against the CORPUS vocabulary before the
    * search runs (n31's SymSpell machinery applied query-side). The
    * query is a plan-time constant, so ITS deletion neighborhood
    * (|q|+1 keys) is enumerated at build and candidate generation is
    * a pure IN-SCAN `arrays_overlap` against each vocab token's own
    * deletion keys — O(V·L) key arithmetic inside the vocab scan,
    * ZERO extra shuffle (no explode, no distinct). A query BATCH
    * would instead equi-join a persisted (key → token) spell index
    * at rest (k18's store shape, n31's join) — same keys, the
    * constant-query special case just never materializes them.
    * Exact `levenshtein ≤ 1` verifies candidates only. The correction is
    * picked by (edit distance asc, corpus frequency desc, token asc)
    * — SymSpell's standard policy: an exact vocabulary query is its
    * own distance-0 candidate and always wins, even against a more
    * frequent distance-1 neighbor. The chosen token is DATA (a
    * 1-row relation), so the search pass prunes postings with a
    * broadcast join on it, never a re-scan (l13's pattern).
    */
  def spellCorrectedSearch(docs: DataFrame, idCol: String,
      textCol: String, query: String, k: Int): DataFrame = {
    val norm = query.toLowerCase
    val qKeys = (norm +: norm.indices.map(i =>
      norm.substring(0, i) + norm.substring(i + 1))).distinct
    val index = buildIndex(docs, idCol, textCol).cache()
    val vocab = index.groupBy(col("token"))
      .agg(sum(col("tf")).as("ctf"))
    val cand = vocab
      .filter(arrays_overlap(DedupOps.deletionKeys(col("token")),
        typedLit(qKeys)))
      .withColumn("dist", levenshtein(col("token"), lit(norm)))
      .filter(col("dist") <= 1)
    val corrected = cand
      .orderBy(col("dist").asc, col("ctf").desc, col("token").asc)
      .limit(1)
      .select(col("token"))
    index.join(broadcast(corrected), Seq("token"))
      .groupBy(col(idCol))
      .agg(sum(col("tf")).cast("long").as("score"),
        min(col("token")).as("corrected"))
      .orderBy(col("score").desc, col(idCol).asc)
      .limit(k)
  }

  /** Oracle twin of [[spellCorrectedSearch]] (n31's list-comprehension
    * deletion keys on the vocab side; the same literal query-key
    * IN-list).
    */
  def spellCorrectedSearchSql(table: String, idCol: String,
      textCol: String, query: String, k: Int): String = {
    val norm = query.toLowerCase
    val qKeys = (norm +: norm.indices.map(i =>
      norm.substring(0, i) + norm.substring(i + 1))).distinct
    val inKeys = qKeys.map(q => s"'$q'").mkString(", ")
    s"""WITH idx AS (
       |  SELECT token, $idCol, count(*) AS tf FROM (
       |    SELECT $idCol, unnest(string_split(lower($textCol), ' '))
       |      AS token
       |    FROM $table)
       |  WHERE token <> '' GROUP BY token, $idCol),
       |vocab AS (SELECT token, sum(tf) AS ctf FROM idx GROUP BY token),
       |vk AS (
       |  SELECT token, ctf, unnest(list_distinct(list_append(
       |    [substring(token,1,i-1) || substring(token,i+1,length(token))
       |     for i in range(1, length(token)+1)], token))) AS key
       |  FROM vocab),
       |cand AS (
       |  SELECT DISTINCT token, ctf,
       |    levenshtein(token, '$norm') AS dist FROM vk
       |  WHERE key IN ($inKeys) AND levenshtein(token, '$norm') <= 1),
       |corr AS (SELECT token FROM cand
       |  ORDER BY dist ASC, ctf DESC, token ASC LIMIT 1)
       |SELECT i.$idCol, sum(i.tf)::BIGINT AS score,
       |  min(i.token) AS corrected
       |FROM idx i JOIN corr c USING (token)
       |GROUP BY i.$idCol
       |ORDER BY score DESC, $idCol ASC LIMIT $k""".stripMargin
  }

  /** Oracle twin of [[queryExpansion]] — the identical three passes
    * as CTEs (shared tokenize/df/ln-idf conventions with
    * [[searchRankedDocsSql]]; feedback cut orders by the same
    * 6-dp-rounded score).
    */
  def queryExpansionSql(table: String, idCol: String, textCol: String,
      seedTerms: Seq[String], kFb: Int, nExp: Int, k: Int): String = {
    val norm = seedTerms.map(_.toLowerCase).distinct
    val inList = norm.map(t => s"'$t'").mkString(", ")
    val stopList = (Seq("the", "a", "of", "and", "is", "in") ++ norm)
      .map(t => s"'$t'").mkString(", ")
    s"""WITH idx AS (
       |  SELECT token, $idCol, count(*) AS tf FROM (
       |    SELECT $idCol, unnest(string_split(lower($textCol), ' '))
       |      AS token
       |    FROM $table)
       |  WHERE token <> '' GROUP BY token, $idCol),
       |nd AS (SELECT count(*) AS n_docs FROM $table),
       |p1 AS (SELECT * FROM idx WHERE token IN ($inList)),
       |df1 AS (SELECT token, count(*) AS df FROM p1 GROUP BY token),
       |s1 AS (SELECT $idCol,
       |    round(sum(tf * ln(n_docs * 1.0 / df)), 6) AS score
       |  FROM p1 JOIN df1 USING (token), nd GROUP BY $idCol),
       |fb AS (SELECT $idCol FROM s1
       |  ORDER BY score DESC, $idCol ASC LIMIT $kFb),
       |cand AS (SELECT token, sum(tf) AS fb_tf FROM idx
       |  WHERE $idCol IN (SELECT $idCol FROM fb)
       |    AND token NOT IN ($stopList)
       |  GROUP BY token ORDER BY fb_tf DESC, token ASC LIMIT $nExp),
       |terms AS (SELECT token FROM cand
       |  UNION SELECT unnest([$inList])),
       |p2 AS (SELECT idx.* FROM idx JOIN terms USING (token)),
       |df2 AS (SELECT token, count(*) AS df FROM p2 GROUP BY token),
       |ew AS (SELECT string_agg(token, ' ' ORDER BY token ASC)
       |  AS expanded_with FROM cand)
       |SELECT p.$idCol,
       |  round(sum(p.tf * ln(nd.n_docs * 1.0 / d.df)), 6) AS score,
       |  ew.expanded_with
       |FROM p2 p JOIN df2 d USING (token), nd, ew
       |GROUP BY p.$idCol, ew.expanded_with
       |ORDER BY score DESC, $idCol ASC LIMIT $k""".stripMargin
  }

  /** Oracle SQL twin of [[searchDocs]]. */
  def searchDocsSql(table: String, idCol: String, textCol: String,
      terms: Seq[String], k: Int): String = {
    val normTerms = terms.map(_.toLowerCase)
    val inList = normTerms.map(t => s"'$t'").mkString(", ")
    s"""WITH idx AS (
       |  SELECT token, $idCol, count(*) AS tf FROM (
       |    SELECT $idCol, unnest(string_split(lower($textCol), ' '))
       |      AS token
       |    FROM $table)
       |  WHERE token <> '' GROUP BY token, $idCol)
       |SELECT $idCol, sum(tf)::BIGINT AS score
       |FROM idx WHERE token IN ($inList)
       |GROUP BY $idCol
       |HAVING count(DISTINCT token) = ${normTerms.distinct.size}
       |ORDER BY score DESC, $idCol ASC LIMIT $k""".stripMargin
  }

  /** Oracle SQL twin of [[searchBm25Docs]] — same tokenization,
    * saturation and length normalization (constants spelled as the
    * same double arithmetic: `1.2 + 1`, not `2.2`, so both engines
    * round identically).
    */
  def searchBm25DocsSql(table: String, idCol: String, textCol: String,
      terms: Seq[String], k: Int): String = {
    val normTerms = terms.map(_.toLowerCase).distinct
    val inList = normTerms.map(t => s"'$t'").mkString(", ")
    s"""WITH idx AS (
       |  SELECT token, $idCol, count(*) AS tf FROM (
       |    SELECT $idCol, unnest(string_split(lower($textCol), ' '))
       |      AS token
       |    FROM $table)
       |  WHERE token <> '' GROUP BY token, $idCol),
       |lens AS (SELECT $idCol,
       |    len(string_split(lower($textCol), ' '))::DOUBLE AS len
       |  FROM $table),
       |pl AS (SELECT * FROM idx WHERE token IN ($inList)),
       |dfs AS (SELECT token, count(*) AS df FROM pl GROUP BY token),
       |stats AS (SELECT count(*)::DOUBLE AS n_docs, avg(len) AS avgdl
       |  FROM lens)
       |SELECT $idCol,
       |  round(sum(ln(n_docs / df) * (tf * (1.2 + 1)) /
       |    (tf + 1.2 * ((1 - 0.75) + 0.75 * len / avgdl))), 6) AS score
       |FROM pl JOIN dfs USING (token) JOIN lens USING ($idCol)
       |  CROSS JOIN stats
       |GROUP BY $idCol
       |ORDER BY score DESC, $idCol ASC LIMIT $k""".stripMargin
  }

  /** Oracle SQL twin of [[searchRankedDocs]] — same tokenization, same
    * idf formula, same 6 dp rounding.
    */
  def searchRankedDocsSql(table: String, idCol: String, textCol: String,
      terms: Seq[String], k: Int): String = {
    val normTerms = terms.map(_.toLowerCase).distinct
    val inList = normTerms.map(t => s"'$t'").mkString(", ")
    s"""WITH idx AS (
       |  SELECT token, $idCol, count(*) AS tf FROM (
       |    SELECT $idCol, unnest(string_split(lower($textCol), ' '))
       |      AS token
       |    FROM $table)
       |  WHERE token <> '' GROUP BY token, $idCol),
       |pl AS (SELECT * FROM idx WHERE token IN ($inList)),
       |dfs AS (SELECT token, count(*) AS df FROM pl GROUP BY token),
       |n AS (SELECT count(*) AS n_docs FROM $table)
       |SELECT $idCol,
       |  round(sum(tf * ln(n_docs::DOUBLE / df)), 6) AS score
       |FROM pl JOIN dfs USING (token) CROSS JOIN n
       |GROUP BY $idCol
       |ORDER BY score DESC, $idCol ASC LIMIT $k""".stripMargin
  }

  /** SNIPPET EXTRACTION — the display half of search serving: for
    * each document matching a term, the ±`radius`-token window
    * around the FIRST occurrence (what a result page shows under the
    * title). The first-occurrence position comes from the positional
    * postings (pruned to the term before anything touches a
    * position), and the snippet is sliced from the token array in
    * the same projection — the text never shuffles; the output
    * carries the snippet hash + token count so the gate can verify
    * the exact window without hauling strings through the compare.
    */
  def snippets(docs: DataFrame, idCol: String, textCol: String,
      term: String, radius: Int): DataFrame = {
    import graft.Sorting.ResultSortOps
    val toks = split(lower(col(textCol)), " ")
    val firstPos = array_position(toks, term) // 1-based, 0 = absent
    val start = greatest(col("first_pos") - radius, lit(1L))
    val len = (col("first_pos") + radius - start + 1L).cast("int")
    docs
      .select(col(idCol), toks.as("__toks"),
        firstPos.as("first_pos"))
      .filter(col("first_pos") > 0L)
      .select(col(idCol), col("first_pos"),
        size(slice(col("__toks"), start.cast("int"), len)).cast("long")
          .as("snippet_tokens"),
        substring(md5(array_join(
          slice(col("__toks"), start.cast("int"), len), " ")), 1, 16)
          .as("snippet_md5"))
      .resultSorted(col(idCol).asc)
  }

  /** Oracle twin of [[snippets]] (list_position + list slicing). */
  def snippetsSql(table: String, idCol: String, textCol: String,
      term: String, radius: Int): String =
    s"""WITH t AS (SELECT $idCol,
       |    string_split(lower($textCol), ' ') AS toks FROM $table),
       |m AS (SELECT $idCol, toks,
       |    list_position(toks, '$term')::BIGINT AS first_pos
       |  FROM t
       |  WHERE list_position(toks, '$term') IS NOT NULL
       |    AND list_position(toks, '$term') > 0),
       |s AS (SELECT $idCol, first_pos,
       |    toks[greatest(first_pos - $radius, 1):
       |         first_pos + $radius] AS win
       |  FROM m)
       |SELECT $idCol, first_pos,
       |  len(win)::BIGINT AS snippet_tokens,
       |  substr(md5(array_to_string(win, ' ')), 1, 16) AS snippet_md5
       |FROM s ORDER BY $idCol ASC""".stripMargin

  /** TWO-STAGE RETRIEVAL RERANK — the production serving path l9's
    * rank FUSION doesn't cover: BM25 generates an n-candidate recall
    * set, then EXACT dense cosine re-scores ONLY those candidates and
    * the top k by dense score win (candidate generation cheap and
    * wide, precise scoring narrow). The scale property is the point:
    * the dense model never scores the corpus — the embeddings scan is
    * restricted to the n candidate ids by an AQE-broadcast inner join
    * (|candidates| rows), so dense cost is O(n·dim) at ANY corpus
    * size. Output carries both scores (bm25 for provenance, dense as
    * the ranking key).
    */
  def rerankDense(docs: DataFrame, embeddings: DataFrame,
      idCol: String, textCol: String, terms: Seq[String],
      queryId: Long, n: Int, k: Int): DataFrame = {
    import graft.functions.VectorFunctions.{cosine, toDoubleArray}
    val cands = searchBm25Docs(docs, idCol, textCol, terms, n)
      .select(col(idCol).as("vec_id"), col("score").as("bm25"))
    val q = embeddings.filter(col("vec_id") === queryId)
      .select(toDoubleArray(col("embedding")).as("qvec"))
    embeddings.join(cands, Seq("vec_id"))
      .crossJoin(broadcast(q))
      .select(col("vec_id"), col("bm25"),
        round(cosine(toDoubleArray(col("embedding")), col("qvec")), 6)
          .as("dense"))
      .orderBy(col("dense").desc, col("vec_id").asc)
      .limit(k)
  }

  /** Oracle twin of [[rerankDense]]: the BM25 CTE feeding the n1
    * cosine form restricted to the candidate ids.
    */
  def rerankDenseSql(table: String, embTable: String, idCol: String,
      textCol: String, terms: Seq[String], queryId: Long, n: Int,
      k: Int): String =
    s"""WITH bm AS (
       |${searchBm25DocsSql(table, idCol, textCol, terms, n)}),
       |e AS (SELECT vec_id,
       |    list_transform(embedding, x -> x::DOUBLE) AS v
       |  FROM $embTable),
       |q AS (SELECT v AS qv FROM e WHERE vec_id = $queryId)
       |SELECT bm.$idCol AS vec_id, bm.score AS bm25,
       |  round(list_dot_product(v, qv) /
       |    (sqrt(list_dot_product(v, v)) *
       |     sqrt(list_dot_product(qv, qv))), 6) AS dense
       |FROM bm JOIN e ON e.vec_id = bm.$idCol CROSS JOIN q
       |ORDER BY dense DESC, vec_id ASC LIMIT $k""".stripMargin

  /** PHRASE search over POSITIONAL postings — the FTS feature the
    * tf/BM25 ladder can't express (term adjacency): postings carry the
    * token POSITION, the phrase "a b" is the equi-self-join of a's and
    * b's postings on (doc, pos_b = pos_a + 1), and the result is the
    * per-document occurrence count with the first match position.
    *
    * Scale shape: the postings relation is PRUNED to the two phrase
    * terms before anything joins (an IN-list filter that reaches the
    * scan — with the index at rest bucketed by token, two bucket
    * probes), so the join cost is |postings(a)| + |postings(b)|, never
    * corpus-sized; the adjacency condition rides the doc-id equi-join.
    * Longer phrases chain the same join once per extra term.
    */
  def phraseSearch(docs: DataFrame, idCol: String, textCol: String,
      first: String, second: String): DataFrame = {
    val post = docs.select(col(idCol),
        posexplode(split(lower(col(textCol)), " "))
          .as(Seq("pos", "term")))
      .filter(col("term").isin(first, second))
    val a = post.filter(col("term") === first)
      .select(col(idCol), col("pos"))
    val b = post.filter(col("term") === second)
      .select(col(idCol), col("pos").as("pos2"))
    a.join(b, Seq(idCol))
      .filter(col("pos2") === col("pos") + 1)
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_occ"),
        (min(col("pos")) + 1).cast("long").as("first_pos"))
      .orderBy(col(idCol).asc)
  }

  /** Oracle twin of [[phraseSearch]]: DuckDB's aligned multi-`unnest`
    * zips the two shifted token slices with a 1-based position range —
    * the t15 adjacent-pair idiom with the position carried.
    */
  def phraseSearchSql(table: String, idCol: String, textCol: String,
      first: String, second: String): String =
    s"""WITH t AS (SELECT $idCol,
       |    string_split(lower($textCol), ' ') AS toks FROM $table),
       |p AS (SELECT $idCol,
       |    unnest(toks[1:len(toks)-1]) AS a,
       |    unnest(toks[2:len(toks)]) AS b,
       |    unnest(range(1, len(toks))) AS pos
       |  FROM t)
       |SELECT $idCol, count(*) AS n_occ, min(pos)::BIGINT AS first_pos
       |FROM p WHERE a = '$first' AND b = '$second'
       |GROUP BY $idCol
       |ORDER BY $idCol ASC""".stripMargin
}
