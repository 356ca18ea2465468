package graft.operators

import graft.{Render, SparkSpec, Tables}
import org.apache.spark.sql.SaveMode
import org.apache.spark.sql.execution.datasources.BucketingUtils
import org.apache.spark.sql.functions._

class FtsRenderSpec extends SparkSpec {
  import spark.implicits._

  test("inverted index: one row per (token, doc) with tf") {
    val df = Seq((1L, "a b a"), (2L, "b c")).toDF("doc_id", "text")
    val idx = FtsOps.buildIndex(df, "doc_id", "text")
      .as[(String, Long, Long)].collect().toSet
    assert(idx == Set(("a", 1L, 2L), ("b", 1L, 1L),
      ("b", 2L, 1L), ("c", 2L, 1L)))
  }

  test("fts search: AND semantics, tf-ranked, deterministic order") {
    val df = Seq(
      (1L, "spark window spark"), // both terms, tf sum 3
      (2L, "spark window window window"), // both, tf sum 4
      (3L, "spark only here"), // missing 'window' → excluded
      (4L, "window alone")).toDF("doc_id", "text")
    val out = FtsOps.searchDocs(df, "doc_id", "text",
      Seq("spark", "window"), 10).as[(Long, Long)].collect()
    assert(out.toSeq == Seq((2L, 4L), (1L, 3L)))
  }

  test("fts search agrees with ILIKE search on real corpus") {
    val docs = Tables.documents(spark, sfSmoke)
    val fts = FtsOps.searchDocs(docs, "doc_id", "text",
      Seq("window"), 1000).select("doc_id").as[Long].collect().toSet
    // token match implies substring match (the corpus is
    // space-separated words, so the sets coincide)
    val ilike = docs.filter(col("text").ilike("%window%"))
      .select("doc_id").as[Long].collect().toSet
    assert(fts == ilike)
  }

  test("fts search: duplicate terms count once for AND semantics") {
    val df = Seq((1L, "x y")).toDF("doc_id", "text")
    val out = FtsOps.searchDocs(df, "doc_id", "text",
      Seq("x", "x", "y"), 10).count()
    assert(out == 1)
  }

  test("ranked fts: idf downweights ubiquitous terms, OR semantics") {
    // 'the' is in every doc (idf = ln(4/4) = 0): doc 1's pile of
    // 'the's must lose to doc 2's single rare 'needle'
    // (idf = ln(4/1) ≈ 1.386); zero-idf ties order by doc_id.
    val df = Seq(
      (1L, "the the the the the"),
      (2L, "needle the word"),
      (3L, "unrelated the text entirely"),
      (4L, "the word again")).toDF("doc_id", "text")
    val out = FtsOps.searchRankedDocs(df, "doc_id", "text",
      Seq("needle", "the"), 10).as[(Long, Double)].collect()
    assert(out.map(_._1).toSeq == Seq(2L, 1L, 3L, 4L),
      s"rare-term doc must rank first, got ${out.toSeq}")
    assert(out.head._2 > 1.0)
    assert(out.drop(1).forall(_._2 == 0.0),
      s"ubiquitous-term-only docs must score 0, got ${out.toSeq}")
    // ranked OR returns docs the AND search would drop
    assert(FtsOps.searchDocs(df, "doc_id", "text",
      Seq("needle", "the"), 10).count() == 1)
  }

  test("query expansion: a zero-seed-term doc ranks via the feedback " +
      "terms") {
    // seed 'zebra' co-occurs with 'quagga' in the feedback docs; doc
    // 9 never mentions the seed but is dense in the expansion term —
    // classic PRF recall the un-expanded search can't reach.
    val df = Seq(
      (1L, "zebra quagga stripes plains"),
      (2L, "zebra quagga herd"),
      (3L, "zebra quagga fossil record"),
      (9L, "quagga quagga quagga revival project"),
      (10L, "unrelated text entirely here")).toDF("doc_id", "text")
    val out = FtsOps.queryExpansion(df, "doc_id", "text",
      seedTerms = Seq("zebra"), kFb = 3, nExp = 1, k = 10)
      .collect().map(r => (r.getLong(0), r.getString(2)))
    assert(out.forall(_._2 == "quagga"),
      s"expansion must pick the co-occurring term, got ${out.toSeq}")
    assert(out.map(_._1).contains(9L),
      s"expansion must recall the seedless doc, got ${out.toSeq}")
    assert(!out.map(_._1).contains(10L))
  }

  test("bm25: term-frequency saturates; short docs outrank long ones") {
    // doc 1 repeats the term 20×: under tf·idf it would score 20× doc
    // 2's single hit; under BM25 the saturated contribution is capped
    // near k1+1 = 2.2× — and doc 3 (same single hit in a much longer
    // doc) ranks below doc 2 via length normalization.
    val df = Seq(
      (1L, ("term " * 20).trim),
      (2L, "term plus four other words"),
      (3L, "term " + ("filler " * 30).trim),
      (4L, "no hits here at all")).toDF("doc_id", "text")
    val out = FtsOps.searchBm25Docs(df, "doc_id", "text",
      Seq("term"), 10).as[(Long, Double)].collect()
    assert(out.map(_._1).head == 1L)
    val byId = out.toMap
    assert(byId(1L) / byId(2L) < 4.0,
      s"tf must saturate, got ${byId(1L)} vs ${byId(2L)}")
    assert(byId(2L) > byId(3L),
      s"short doc must outrank long doc, got $byId")
  }

  test("ranked fts: indexed path equals the index-free path") {
    val docs = Tables.documents(spark, sfSmoke)
    val path = tmpDir("ftsrank") + "/idx"
    spark.sql("DROP TABLE IF EXISTS fts_rank_test")
    FtsOps.writeIndex(docs, "doc_id", "text", "fts_rank_test", path,
      buckets = 32)
    try {
      val n = docs.count()
      val fromIndex = FtsOps.searchRankedIndexed(spark,
        "fts_rank_test", n, "doc_id", Seq("dup", "window"), 20)
        .as[(Long, Double)].collect().toSeq
      val direct = FtsOps.searchRankedDocs(docs, "doc_id", "text",
        Seq("dup", "window"), 20).as[(Long, Double)].collect().toSeq
      assert(fromIndex == direct)
      assert(fromIndex.nonEmpty)
    } finally spark.sql("DROP TABLE IF EXISTS fts_rank_test")
  }

  test("persisted index: term lookup prunes to the terms' buckets") {
    val docs = Tables.documents(spark, sfSmoke)
    val path = tmpDir("fts") + "/idx"
    spark.sql("DROP TABLE IF EXISTS fts_idx_test")
    FtsOps.writeIndex(docs, "doc_id", "text", "fts_idx_test", path,
      buckets = 32)
    try {
      val q = FtsOps.searchIndexed(spark, "fts_idx_test", "doc_id",
        Seq("window"), 50)
      // the scan must read selected buckets, not the whole index
      val scan = q.queryExecution.executedPlan.toString
      val m = "SelectedBucketsCount: (\\d+) out of 32".r
        .findFirstMatchIn(scan)
      assert(m.isDefined, s"no bucket pruning in plan:\n$scan")
      assert(m.get.group(1).toInt == 1,
        "one term must select exactly one bucket")
      // and it returns exactly what the index-free path returns
      val fromIndex = q.as[(Long, Long)].collect().toSeq
      val direct = FtsOps.searchDocs(docs, "doc_id", "text",
        Seq("window"), 50).as[(Long, Long)].collect().toSeq
      assert(fromIndex == direct)
    } finally spark.sql("DROP TABLE IF EXISTS fts_idx_test")
  }

  test("persisted index layout: one file per bucket; build + append " +
      "equals one build of the union") {
    val docs = Tables.documents(spark, sfSmoke)
    val dir = tmpDir("ftslayout")
    val tables = Seq("fts_layout_inc", "fts_layout_full")
    def dataFiles(path: String): Set[String] =
      new java.io.File(path).listFiles.map(_.getName)
        .filterNot(n => n.startsWith("_") || n.startsWith(".")).toSet
    // one file per non-empty bucket, each a distinct bucket id written
    // by its own task (`part-<task>-…`)
    def assertOneFilePerBucket(table: String, path: String): Unit = {
      val files = dataFiles(path).toSeq
      val ids = files.map(f =>
        BucketingUtils.getBucketId(f).getOrElse(fail(s"no bucket id: $f")))
      val nonEmpty = spark.table(table)
        .select(pmod(hash(col("token")), lit(4))).distinct()
        .as[Int].collect().toSet
      assert(ids.distinct.size == ids.size, s"two files in one bucket: $ids")
      assert(ids.toSet == nonEmpty)
      val tasks = files.map(_.split('-')(1))
      assert(tasks.distinct.size == tasks.size, s"one task, many buckets: $files")
    }
    tables.foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
    try {
      FtsOps.writeIndex(docs.filter(col("doc_id") % 2 === 0), "doc_id",
        "text", tables(0), s"$dir/inc", buckets = 4)
      assertOneFilePerBucket(tables(0), s"$dir/inc")
      val built = dataFiles(s"$dir/inc")
      FtsOps.writeIndex(docs.filter(col("doc_id") % 2 =!= 0), "doc_id",
        "text", tables(0), s"$dir/inc", buckets = 4,
        mode = SaveMode.Append)
      val appended = dataFiles(s"$dir/inc")
      assert(built.subsetOf(appended))
      assert(appended.size > built.size && appended.size - built.size <= 4)

      FtsOps.writeIndex(docs, "doc_id", "text", tables(1), s"$dir/full",
        buckets = 4)
      assertOneFilePerBucket(tables(1), s"$dir/full")
      val n = docs.count()
      Seq(Seq("window"), Seq("dup", "window")).foreach { terms =>
        val Seq(inc, full) = tables.map(t => FtsOps.searchIndexed(spark, t,
          "doc_id", terms, 50).collect().toSeq)
        assert(inc.nonEmpty && inc == full, terms)
        val Seq(incR, fullR) = tables.map(t => FtsOps.searchRankedIndexed(
          spark, t, n, "doc_id", terms, 50).collect().toSeq)
        assert(incR.nonEmpty && incR == fullR, terms)
      }
    } finally tables.foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
  }

  test("batch bm25: one shared plan equals per-query search, per query") {
    val docs = Tables.documents(spark, sfSmoke)
    val qs = graft.SparkEntry.BatchFtsQueries
    val batch = FtsOps
      .searchBm25Batch(docs, "doc_id", "text", qs, 10).collect()
      .groupBy(_.getInt(0))
    qs.foreach { case (qid, terms) =>
      val single = FtsOps
        .searchBm25Docs(docs, "doc_id", "text", terms, 10)
        .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
      val got = batch(qid)
        .map(r => (r.getLong(1), r.getDouble(2))).toSeq
      assert(got == single, s"query $qid diverged from single-query")
    }
  }

  test("hybrid rrf: deterministic, bounded scores, fusion arithmetic") {
    val docs = Tables.documents(spark, sfSmoke)
    val emb = Tables.embeddings(spark, sfSmoke)
    def run() = FtsOps.hybridRrf(docs, emb, "doc_id", "text",
      Seq("batch", "dup"), 0L, n = 50, k = 10).collect().toSeq
    val a = run()
    assert(a == run() && a.size == 10)
    val scores = a.map(_.getDouble(1))
    assert(scores == scores.sortBy(-_))
    // one-tower max is 1/61; both-towers max is 2/61
    scores.foreach(s => assert(s > 0 && s <= 2.0 / 61 + 1e-9, s"$s"))
    // the top fused doc must carry contributions consistent with RRF:
    // every score is expressible as 1/(60+i) [+ 1/(60+j)] for ranks
    // i, j ≤ 50
    val legal = (for {
      i <- 1 to 50; j <- 1 to 50
    } yield math.round((1.0 / (60 + i) + 1.0 / (60 + j)) * 1e6) / 1e6)
      .toSet ++ (1 to 50).map(i => math.round(1.0 / (60 + i) * 1e6) / 1e6)
    scores.foreach(s => assert(legal.contains(s), s"illegal rrf $s"))
  }

  test("S3 — DataFrame registration scan via temp view") {
    val ds = spark.createDataFrame(Seq((1L, "a"), (2L, "b")))
      .toDF("id", "v")
    ds.createOrReplaceTempView("temp_df")
    val back = spark.sql("SELECT id, v FROM temp_df ORDER BY id")
      .as[(Long, String)].collect()
    assert(back.toSeq == Seq((1L, "a"), (2L, "b")))
    assert(spark.catalog.tableExists("temp_df"))
    spark.catalog.dropTempView("temp_df")
  }

  test("K8 — console render: aligned table with truncation and nulls") {
    val df = Seq(
      (1L, Some("short"), "x" * 60),
      (2L, None, "y")).toDF("id", "opt", "long_text")
    val out = Render.table(df.orderBy("id"), maxRows = 10,
      maxColWidth = 20)
    val lines = out.split("\n")
    assert(lines.head.startsWith("+-"))
    assert(lines(1).contains("id") && lines(1).contains("long_text"))
    assert(out.contains("NULL"))
    assert(out.contains("x" * 20 + "..."))
    // all body lines equal width
    assert(lines.map(_.length).toSet.size == 1)
  }

  test("O4/F10 — truncated column expression") {
    val df = Seq(("a" * 250), ("b" * 10)).toDF("t")
    val out = df.select(Render.truncated(col("t"), 200).as("p"))
      .as[String].collect()
    assert(out(0) == "a" * 200 + "...")
    assert(out(1) == "b" * 10)
  }

  test("phraseSearch: adjacency only, ordered, counted, positioned") {
    val df = Seq(
      (1L, "fast merge x fast merge"), // two hits, first at pos 1
      (2L, "fast x merge"),            // terms present, not adjacent
      (3L, "merge fast"),              // reversed order — no hit
      (4L, "y fast merge z")           // one hit at pos 2
    ).toDF("doc_id", "text")
    val out = FtsOps.phraseSearch(df, "doc_id", "text", "fast", "merge")
      .as[(Long, Long, Long)].collect().toSeq
    assert(out == Seq((1L, 2L, 1L), (4L, 1L, 2L)), s"$out")
    // real corpus: deterministic, and every reported doc really
    // contains the adjacent pair (re-checked lexically)
    val corpus = Tables.documents(spark, sfSmoke)
    val hits = FtsOps.phraseSearch(corpus, "doc_id", "text",
      "fast", "merge").collect().toSeq
    assert(hits == FtsOps.phraseSearch(corpus, "doc_id", "text",
      "fast", "merge").collect().toSeq)
    val lexical = corpus.filter(
        concat(lit(" "), col("text"), lit(" "))
          .contains(" fast merge "))
      .select("doc_id").as[Long].collect().toSet
    assert(hits.map(_.getLong(0)).toSet == lexical)
  }

  test("snippets: window clamps at both edges; absent term drops out") {
    val docs = Seq(
      (1L, "a b c hit d e f"),      // interior: window b..f (pos 4)
      (2L, "hit x y z q r s t u"),  // left-clamped: hit..q (pos 1)
      (3L, "p q r s t u v w hit"),  // right-clamped (pos 9)
      (4L, "no match here"))
      .toDF("doc_id", "text")
    val out = FtsOps.snippets(docs, "doc_id", "text", "hit", radius = 2)
      .as[(Long, Long, Long, String)].collect().toSeq
    assert(out.map(r => (r._1, r._2, r._3)) ==
      Seq((1L, 4L, 5L), (2L, 1L, 3L), (3L, 9L, 3L)))
    // doc 1's window is exactly "b c hit d e"
    val md5 = org.apache.commons.codec.digest.DigestUtils
      .md5Hex("b c hit d e").take(16)
    assert(out.head._4 == md5)
  }

  test("rerankDense: results are BM25 candidates reordered by dense score") {
    val docs = graft.Tables.documents(spark, sfSmoke)
    val emb = graft.Tables.embeddings(spark, sfSmoke)
    val cands = FtsOps.searchBm25Docs(docs, "doc_id", "text",
        Seq("batch", "dup"), 30)
      .select("doc_id").as[Long].collect().toSet
    val out = FtsOps.rerankDense(docs, emb, "doc_id", "text",
        Seq("batch", "dup"), queryId = 0L, n = 30, k = 5)
      .collect().map(r => (r.getLong(0), r.getDouble(2)))
    assert(out.nonEmpty && out.length <= 5)
    // every reranked row came from the candidate set
    assert(out.map(_._1).forall(cands.contains))
    // ranking key is the dense score, non-increasing
    assert(out.map(_._2).sliding(2).forall(p =>
      p.length < 2 || p(0) >= p(1)))
  }

  test("bm25f: a title hit outranks the same-frequency body hit; " +
      "field fold beats per-field double-saturation") {
    import spark.implicits._
    // both docs contain 'query' exactly once, same total length —
    // doc 1 carries it in the TITLE (first 3 tokens), doc 2 in the
    // body; the 2× title weight must rank doc 1 first
    val docs = Seq(
      (1L, "query alpha beta gamma delta epsilon zeta"),
      (2L, "alpha beta gamma query delta epsilon zeta"),
      (3L, "nothing relevant in this document at all"))
      .toDF("doc_id", "text")
    val out = FtsOps.searchBm25F(docs, "doc_id", "text",
      terms = Seq("query"), k = 10).collect()
    assert(out.map(_.getLong(0)).toSeq == Seq(1L, 2L))
    assert(out(0).getDouble(1) > out(1).getDouble(1))
    // a doc hitting in BOTH fields folds into one saturation curve:
    // its score must exceed the title-only doc but stay below the
    // sum of the two single-field scores (saturation is concave)
    val both = Seq(
      (1L, "query alpha beta gamma delta epsilon zeta"),
      (2L, "alpha beta gamma query delta epsilon zeta"),
      (4L, "query alpha beta query delta epsilon zeta"),
      (3L, "nothing relevant in this document at all"))
      .toDF("doc_id", "text")
    val o2 = FtsOps.searchBm25F(both, "doc_id", "text",
      terms = Seq("query"), k = 10)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(o2(4L) > o2(1L) && o2(4L) < o2(1L) + o2(2L))
  }

  test("spell-corrected search: typo corrects to the frequent vocab " +
      "term; exact query wins over its neighbors; unknowns yield none") {
    import spark.implicits._
    val docs = Seq(
      (1L, "the window slid open"), (2L, "window window frame"),
      (3L, "a widow walked by"), (4L, "nothing relevant here"))
      .toDF("doc_id", "text")
    // substitution typo: 'wimdow' is distance 1 from 'window' (ctf 3)
    // AND distance 1 from 'widow' (ctf 1) — frequency picks 'window'
    val typo = FtsOps.spellCorrectedSearch(docs, "doc_id", "text",
      "wimdow", k = 10).collect()
    assert(typo.map(_.getString(2)).distinct.toSeq == Seq("window"))
    assert(typo.map(r => r.getLong(0) -> r.getLong(1)).toMap ==
      Map(1L -> 1L, 2L -> 2L))
    // an exact vocabulary query is its own distance-0 candidate and
    // beats a MORE FREQUENT distance-1 neighbor ('widow' ctf 1 vs
    // 'window' ctf 3) — the (dist, ctf) policy, not frequency alone
    val exact = FtsOps.spellCorrectedSearch(docs, "doc_id", "text",
      "widow", k = 10).collect()
    assert(exact.map(_.getString(2)).distinct.toSeq == Seq("widow"))
    assert(exact.map(_.getLong(0)).toSeq == Seq(3L))
    // no vocab term within one edit -> empty result, not a crash
    val none = FtsOps.spellCorrectedSearch(docs, "doc_id", "text",
      "zzzzzz", k = 10).collect()
    assert(none.isEmpty)
  }

  test("served index: every ranked-family member equals its inline " +
      "rebuild-per-query twin on the real corpus") {
    val docs = Tables.documents(spark, sfSmoke)
    val root = tmpDir("ftsserved")
    val ix = FtsOps.buildServedIndex(spark, docs, "doc_id", "text",
      tag = "spec", root = root)
    def rows(df: org.apache.spark.sql.DataFrame): Seq[String] =
      df.collect().map(_.toString).toSeq
    try {
      assert(rows(FtsOps.searchIndexed(spark, ix.postings, "doc_id",
          Seq("spark", "window"), 50)) ==
        rows(FtsOps.searchDocs(docs, "doc_id", "text",
          Seq("spark", "window"), 50)))
      assert(rows(FtsOps.servedRanked(spark, ix, "doc_id",
          Seq("batch", "dup"), 50)) ==
        rows(FtsOps.searchRankedDocs(docs, "doc_id", "text",
          Seq("batch", "dup"), 50)))
      assert(rows(FtsOps.servedBm25(spark, ix, "doc_id",
          Seq("batch", "dup"), 50)) ==
        rows(FtsOps.searchBm25Docs(docs, "doc_id", "text",
          Seq("batch", "dup"), 50)))
      assert(rows(FtsOps.servedBm25F(spark, ix, "doc_id",
          Seq("batch", "dup"), 50)) ==
        rows(FtsOps.searchBm25F(docs, "doc_id", "text",
          Seq("batch", "dup"), 50)))
      assert(rows(FtsOps.servedQueryExpansion(spark, ix, "doc_id",
          Seq("merge", "dup"), kFb = 10, nExp = 3, k = 50)) ==
        rows(FtsOps.queryExpansion(docs, "doc_id", "text",
          Seq("merge", "dup"), kFb = 10, nExp = 3, k = 50)))
      assert(rows(FtsOps.servedSpellSearch(spark, ix, "doc_id",
          "wimdow", 50)) ==
        rows(FtsOps.spellCorrectedSearch(docs, "doc_id", "text",
          "wimdow", 50)))
      // serving shape, not just answers: the postings read under a
      // served ranked query is bucket-pruned to the query terms
      val plan = FtsOps.servedBm25(spark, ix, "doc_id",
        Seq("batch", "dup"), 50).queryExecution.executedPlan.toString
      val m = "SelectedBucketsCount: (\\d+) out of 32".r
        .findFirstMatchIn(plan)
      assert(m.isDefined, s"no bucket pruning in served plan:\n$plan")
      assert(m.get.group(1).toInt <= 2,
        "two terms must select at most two buckets")
    } finally Seq(ix.postings, ix.forward, ix.fieldPostings, ix.lens,
      ix.stats, ix.spell).foreach(t =>
        spark.sql(s"DROP TABLE IF EXISTS $t"))
  }
}
