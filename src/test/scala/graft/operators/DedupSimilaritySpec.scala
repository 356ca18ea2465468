package graft.operators

import graft.{SparkSpec, Tables}
import graft.functions.VectorFunctions
import org.apache.spark.sql.functions._

class DedupSimilaritySpec extends SparkSpec {
  import spark.implicits._

  // --- content dedup ---

  test("exactDedup keeps first by order among identical normalized text") {
    val df = Seq(
      (1L, "Hello  World"), (2L, "hello world"), (3L, "different"),
      (4L, "HELLO WORLD ")).toDF("id", "text")
    val out = DedupOps.exactDedup(df, "text", "id")
      .select("id").as[Long].collect().sorted
    assert(out.toSeq == Seq(1L, 3L))
  }

  test("exactDedup is idempotent") {
    val df = Seq((1L, "a b"), (2L, "a b"), (3L, "c")).toDF("id", "text")
    val once = DedupOps.exactDedup(df, "text", "id")
    val twice = DedupOps.exactDedup(once, "text", "id")
    assert(once.collect().toSet == twice.collect().toSet)
  }

  test("shingles: 3-grams, distinct, short docs yield none") {
    val df = Seq((1L, "a b c d"), (2L, "x y")).toDF("id", "text")
    val sh = DedupOps.shingles(df, "id", "text")
      .as[(Long, String)].collect().toSet
    assert(sh == Set((1L, "a b c"), (1L, "b c d")))
  }

  test("graft_shingles expression equals the composed-HOF formulation") {
    val docs = graft.Tables.documents(spark, sfSmoke)
    val fast = DedupOps.shingles(docs, "doc_id", "text")
      .as[(Long, String)].collect().toSet
    val hof = DedupOps.shinglesHof(docs, "doc_id", "text")
      .as[(Long, String)].collect().toSet
    assert(fast == hof)
  }

  test("graft_content_key equals the composed md5(regexp) formulation") {
    // real corpus + whitespace edge cases (leading tab survives trim
    // and collapses to a leading space; vertical tab is regex-\s too)
    val edge = Seq("\tTabbed  Lead", "  sp  ", "ab", "x\r\ny",
      "", " ", "a\u000Bb", "MiXeD   Case\f tail ").zipWithIndex
      .map { case (t, i) => (i.toLong + 500000L, t) }
      .toDF("doc_id", "text")
    val docs = graft.Tables.documents(spark, sfSmoke)
      .select("doc_id", "text").unionByName(edge)
    val both = docs.select(
      DedupOps.contentKey(col("text")).as("fast"),
      DedupOps.contentKeyHof(col("text")).as("ref"))
    assert(both.filter(col("fast") =!= col("ref")).count() == 0)
  }

  test("graft_quality equals the composed HOF formulation, bit-exact") {
    val docs = graft.Tables.documents(spark, sfSmoke)
    val fast = TextOps.qualityScore(docs, "doc_id", "text", "n_chars",
      k = 1000).collect().map(_.toString).toSeq
    val ref = TextOps.qualityScoreHof(docs, "doc_id", "text", "n_chars",
      k = 1000).collect().map(_.toString).toSeq
    assert(fast == ref)
  }

  test("jaccardPairs: identical docs score 1.0, disjoint absent") {
    val df = Seq(
      (1L, "the quick brown fox jumps over the lazy dog"),
      (2L, "the quick brown fox jumps over the lazy dog"),
      (3L, "entirely different words in this one here now"))
      .toDF("id", "text")
    val pairs = DedupOps.jaccardPairs(df, "id", "text", 0.8)
      .as[(Long, Long, Double)].collect()
    assert(pairs.toSeq == Seq((1L, 2L, 1.0)))
  }

  test("df cap bounds hot-shingle pair explosion, keeps genuine dups") {
    // 60 docs share ONE boilerplate trigram (plus unique tails); one
    // genuine duplicate pair rides along. Without the cap, the hot
    // shingle alone generates C(60,2) candidate pairs.
    val boiler = (1 to 60).map(i =>
      (i.toLong, s"all rights reserved u$i v$i w$i y$i z$i"))
    val dups = Seq(
      (100L, "alpha beta gamma delta epsilon zeta eta theta"),
      (101L, "alpha beta gamma delta epsilon zeta eta theta"))
    val df = (boiler ++ dups).toDF("id", "text")

    // decontamination shape: bench doc 1 vs corpus docs 2..60 —
    // uncapped, the boilerplate shingle pairs it with all 59 others
    val bench = df.filter(col("id") === 1L)
    val corpus = df.filter(col("id") =!= 1L)
    val uncapped = DedupOps.crossCorpusOverlap(bench, corpus,
      "id", "text", minShared = 1)
    assert(uncapped.count() == 59L)
    val capped = DedupOps.crossCorpusOverlap(bench, corpus,
      "id", "text", minShared = 1, maxDf = 10)
    assert(capped.count() == 0L,
      "a shingle with df > maxDf must generate no pairs")

    // the cap must not cost real near-dups: their shingles are rare
    val pairs = DedupOps.jaccardPairs(df, "id", "text", 0.8, maxDf = 10)
      .as[(Long, Long, Double)].collect()
    assert(pairs.toSeq == Seq((100L, 101L, 1.0)))
    // and the LSH tier under the same cap agrees
    val lsh = DedupOps.minhashPairs(df, "id", "text", 0.8, maxDf = 10)
      .as[(Long, Long, Double)].collect()
    assert(lsh.toSeq == Seq((100L, 101L, 1.0)))
  }

  test("bloom-prefiltered decontamination equals the exact tier and " +
      "prunes in the corpus scan stage") {
    val docs = Tables.documents(spark, sfSmoke)
    val hx = DedupOps.hashedShingles(docs, "doc_id", "text").cache()
    val bench = hx.filter(col("doc_id") % 11 === 0)
      .select(col("doc_id").as("bench_id"), col("x"))
    val corpus = hx.filter(col("doc_id") % 11 =!= 0)
      .select(col("doc_id").as("corpus_id"), col("x"))
    val exact = DedupOps.crossCorpusOverlapHashed(bench, corpus,
      minShared = 3, maxDf = graft.SparkEntry.ShingleMaxDf)
    val bloom = DedupOps.crossCorpusOverlapBloomHashed(spark, bench,
      corpus, minShared = 3, maxDf = graft.SparkEntry.ShingleMaxDf)
    val e = exact.collect().toSeq
    val b = bloom.collect().toSeq
    assert(e.nonEmpty, "fixture must produce cross-corpus overlaps")
    assert(b == e, "a bloom has no false negatives and the inner " +
      "join drops its false positives — results must be identical")
    // plan shape: the might_contain filter sits in the plan (scan
    // stage of the corpus side), with the bloom as a subquery
    val plan = bloom.queryExecution.executedPlan.toString
    assert(plan.contains("might_contain"),
      "the bloom probe must appear in the physical plan")
    assert(plan.contains("Subquery") || plan.contains("subquery"),
      "the bloom must be built once as a scalar subquery")
  }

  test("splitLeakageAudit: cluster policy never leaks; doc policy " +
      "leaks a planted straddling pair") {
    // find two ids whose md5-permille buckets straddle the 800 line,
    // then plant a near-dup pair across them: the doc policy MUST
    // count it, the cluster policy must not.
    def bucket(i: Long): Long = {
      val h = java.security.MessageDigest.getInstance("MD5")
        .digest(i.toString.getBytes("UTF-8"))
        .map("%02x".format(_)).mkString
      java.lang.Long.parseLong(h.substring(0, 15), 16) % 1000
    }
    val train = (0L until 100L).find(bucket(_) < 800).get
    val test0 = (0L until 100L).find(bucket(_) >= 800).get
    val dupText = "alpha beta gamma delta epsilon zeta eta theta"
    val docs = (Seq((train, dupText), (test0, dupText)) ++
      (200L until 230L).map(i => (i, s"unique u$i v$i w$i y$i z$i")))
      .toDF("doc_id", "text")
    val rows = DedupOps.splitLeakageAudit(docs, "doc_id", "text",
      minJaccard = 0.8, maxDf = 10, trainPerMille = 800)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
      .toSeq
    assert(rows == Seq(
      ("cluster_hash", 1L, 0L),
      ("doc_hash", 1L, 1L)))
  }

  test("splitLeakageAudit with no pairs reports zero rows-safe") {
    val docs = (0L until 20L)
      .map(i => (i, s"only one of these q$i r$i s$i t$i"))
      .toDF("doc_id", "text")
    val rows = DedupOps.splitLeakageAudit(docs, "doc_id", "text",
      minJaccard = 0.8, maxDf = 10, trainPerMille = 800)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
      .toSeq
    assert(rows == Seq(("cluster_hash", 0L, 0L), ("doc_hash", 0L, 0L)))
  }

  test("dupClusters: chain and clique collapse to min-id components") {
    // chain 1-2-3 (diameter 2: needs >1 propagation round),
    // clique 10-11-12, isolated pair 20-21
    val pairs = Seq((1L, 2L), (2L, 3L), (10L, 11L), (10L, 12L),
      (11L, 12L), (20L, 21L)).toDF("id_a", "id_b")
    val got = DedupOps.dupClusters(pairs)
      .as[(Long, Long)].collect().toSeq
    assert(got == Seq(1L -> 1L, 2L -> 1L, 3L -> 1L,
      10L -> 10L, 11L -> 10L, 12L -> 10L, 20L -> 20L, 21L -> 20L))
  }

  test("dupClusters over minhash pairs: every pair lands in one cluster") {
    val docs = Tables.documents(spark, sfSmoke)
    val pairs = DedupOps.minhashPairs(docs, "doc_id", "text", 0.8).cache()
    val clusters = DedupOps.dupClusters(pairs)
      .as[(Long, Long)].collect().toMap
    val edges = pairs.select("id_a", "id_b")
      .as[(Long, Long)].collect()
    assert(edges.nonEmpty)
    edges.foreach { case (a, b) =>
      assert(clusters(a) == clusters(b),
        s"pair ($a,$b) split across clusters")
    }
    // cluster ids are the minimum member id
    clusters.groupBy(_._2).foreach { case (cid, members) =>
      assert(cid == members.keys.min)
    }
  }

  test("clusterSizeHistogram conserves docs and clusters") {
    // chain of 3, clique of 3, pair → sizes {3: 2 clusters, 2: 1}
    val pairs = Seq((1L, 2L), (2L, 3L), (10L, 11L), (10L, 12L),
      (11L, 12L), (20L, 21L)).toDF("id_a", "id_b")
    val clusters = DedupOps.dupClusters(pairs)
    val hist = DedupOps.clusterSizeHistogram(clusters)
      .as[(Long, Long)].collect().toSeq
    assert(hist == Seq(2L -> 1L, 3L -> 2L))
    // Σ sz·n_clusters = clustered docs; Σ n_clusters = distinct labels
    assert(hist.map { case (sz, n) => sz * n }.sum == clusters.count())
    assert(hist.map(_._2).sum ==
      clusters.select("cluster_id").distinct().count())
  }

  test("minhashPairs agrees with exact jaccardPairs on real docs") {
    val docs = Tables.documents(spark, sfSmoke)
    val exact = DedupOps.jaccardPairs(docs, "doc_id", "text", 0.8)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val lsh = DedupOps.minhashPairs(docs, "doc_id", "text", 0.8)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(exact.nonEmpty, "smoke corpus should contain planted dups")
    assert(lsh == exact) // 8 bands × 2 rows: recall ≈ 1 at J ≥ 0.8
  }

  test("prefixFilteredJaccardPairs equals jaccardPairs on real docs " +
      "with strictly fewer candidates") {
    val docs = Tables.documents(spark, sfSmoke)
    val exact = DedupOps.jaccardPairs(docs, "doc_id", "text", 0.8)
      .as[(Long, Long, Double)].collect().toSet
    val pref = DedupOps.prefixFilteredJaccardPairs(docs, "doc_id",
        "text", tNum = 4, tDen = 5)
      .as[(Long, Long, Double)].collect().toSet
    assert(exact.nonEmpty && pref == exact)
    // the point of the prefix principle: the candidate relation is a
    // strict subset of the all-shared-shingle pair relation
    val sh = DedupOps.hashedShingles(docs, "doc_id", "text").cache()
    val allPairs = sh.select(col("doc_id").as("id_a"), col("x"))
      .join(sh.select(col("doc_id").as("id_b"), col("x")), Seq("x"))
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b")).distinct().count()
    val prefPairs =
      DedupOps.prefixCandidates(sh, "doc_id", 4, 5).count()
    assert(prefPairs < allPairs,
      s"prefix candidates $prefPairs !< all-shared $allPairs")
    sh.unpersist()
    ()
  }

  test("prefix filter keeps a boundary pair whose overlap sits " +
      "exactly at the threshold") {
    // 8 + 8 words with 6 shared trigrams each way... construct a
    // planted pair at jaccard exactly 0.8: |A|=|B|=9 shingles with
    // |A∩B|=8 → 8/10 = 0.8. 11-word docs differing in their LAST
    // word give trigram sets of size 9 sharing 8.
    val a = "w1 w2 w3 w4 w5 w6 w7 w8 w9 w10 endA"
    val b = "w1 w2 w3 w4 w5 w6 w7 w8 w9 w10 endB"
    val df = Seq((1L, a), (2L, b),
      (3L, "completely unrelated filler text here body")).toDF("id", "text")
    val pref = DedupOps.prefixFilteredJaccardPairs(df, "id", "text",
        tNum = 4, tDen = 5)
      .as[(Long, Long, Double)].collect()
    assert(pref.toSeq == Seq((1L, 2L, 0.8)))
  }

  test("graft_simhash expression equals the 60-sum-aggregate formulation") {
    val docs = graft.Tables.documents(spark, sfSmoke)
    val fast = DedupOps.simhash(docs, "doc_id", "text")
      .as[(Long, Long)].collect().toMap
    val hof = DedupOps.simhashHof(docs, "doc_id", "text")
      .as[(Long, Long)].collect().toMap
    assert(fast == hof)
  }

  test("simhash: identical text → identical fingerprint; near text → close") {
    val df = Seq(
      (1L, "alpha beta gamma delta epsilon zeta eta theta"),
      (2L, "alpha beta gamma delta epsilon zeta eta theta"),
      (3L, "alpha beta gamma delta epsilon zeta eta iota"))
      .toDF("id", "text")
    val fps = DedupOps.simhash(df, "id", "text")
      .as[(Long, Long)].collect().toMap
    assert(fps(1L) == fps(2L))
    val dist = java.lang.Long.bitCount(fps(1L) ^ fps(3L))
    assert(dist > 0 && dist <= 20, s"one-word edit moved $dist bits")
  }

  test("simhashPairs finds exact duplicates at distance 0") {
    val df = Seq(
      (1L, "alpha beta gamma delta epsilon zeta eta theta"),
      (2L, "alpha beta gamma delta epsilon zeta eta theta"),
      (3L, "unrelated content entirely about other things today"))
      .toDF("id", "text")
    val pairs = DedupOps.simhashPairs(df, "id", "text", maxDist = 3)
      .as[(Long, Long, Int)].collect()
    assert(pairs.toSeq == Seq((1L, 2L, 0)))
  }

  test("dedupAppend idempotence and first-write-wins (K5 property)") {
    val existing = Seq((1L, "v1"), (2L, "v2")).toDF("k", "v")
    val batch = Seq((2L, "CHANGED"), (3L, "a-first"), (3L, "b-second"))
      .toDF("k", "v")
    val once = ReferenceOps.dedupAppend(existing, batch,
      Seq("k"), "v")
    val rows = once.as[(Long, String)].collect().toMap
    // existing wins for k=2; first-in-batch (by batchOrder) wins for k=3
    assert(rows == Map(1L -> "v1", 2L -> "v2", 3L -> "a-first"))
    val twice = ReferenceOps.dedupAppend(once, batch, Seq("k"), "v")
    assert(twice.collect().toSet == once.collect().toSet)
  }

  // --- similarity ---

  test("cosine: known vectors") {
    val df = Seq(
      (Array(1f, 0f), Array(1f, 0f)),
      (Array(1f, 0f), Array(0f, 1f)),
      (Array(1f, 1f), Array(1f, 0f)))
      .toDF("a", "b")
    val scores = df.select(
      round(VectorFunctions.cosine(
        VectorFunctions.toDoubleArray(col("a")),
        VectorFunctions.toDoubleArray(col("b"))), 6).as("c"))
      .as[Double].collect()
    assert(scores(0) == 1.0)
    assert(scores(1) == 0.0)
    assert(math.abs(scores(2) - 0.707107) < 1e-6)
  }

  test("cosineTopK: self-similar planted vector ranks first") {
    val emb = Tables.embeddings(spark, sfSmoke)
    val k = SimilarityOps.cosineTopK(emb, 0L, 5).collect()
    assert(k.length == 5)
    val scores = k.map(_.getDouble(2))
    assert(scores.toSeq == scores.sorted.reverse.toSeq)
    assert(scores.forall(s => s <= 1.0 && s >= -1.0))
  }

  test("annTopK: LSH candidates overlap brute-force neighbours") {
    val emb = Tables.embeddings(spark, sfSmoke).cache()
    val ann = SimilarityOps.annTopK(emb, 0L, 10)
      .select("vec_id").as[Long].collect().toSet
    // brute-force top-10 by euclidean distance
    val q = emb.filter(col("vec_id") === 0L)
      .select(VectorFunctions.toDoubleArray(col("embedding")).as("qv"))
    val brute = emb.filter(col("vec_id") =!= 0L).crossJoin(q)
      .select(col("vec_id"),
        sqrt(aggregate(
          zip_with(VectorFunctions.toDoubleArray(col("embedding")),
            col("qv"), (x, y) => (x - y) * (x - y)),
          lit(0.0), (acc, v) => acc + v)).as("d"))
      .orderBy(col("d").asc, col("vec_id").asc)
      .limit(10).select("vec_id").as[Long].collect().toSet
    // LSH with 4 tables on random data: expect meaningful overlap,
    // not exactness (it prunes buckets by design)
    assert(ann.intersect(brute).size >= 3,
      s"ann=$ann brute=$brute overlap too small")
  }

  test("seededLshTopK: recall vs brute force on the quantized metric") {
    val emb = Tables.embeddings(spark, sfSmoke).cache()
    val got = SimilarityOps.seededLshTopK(emb, 0L, 10)
      .select("vec_id").as[Long].collect()
    // brute-force top-10 on the SAME fixed-point integer d² metric
    val quant = (c: org.apache.spark.sql.Column) =>
      transform(VectorFunctions.toDoubleArray(c),
        x => floor(x * 64).cast("long"))
    val q = emb.filter(col("vec_id") === 0L)
      .select(quant(col("embedding")).as("qq"))
    val brute = emb.filter(col("vec_id") =!= 0L).crossJoin(q)
      .select(col("vec_id"),
        aggregate(zip_with(quant(col("embedding")), col("qq"),
            (a, b) => (a - b) * (a - b)),
          lit(0L), (acc, x) => acc + x).as("d2"))
      .orderBy(col("d2").asc, col("vec_id").asc)
      .limit(10).select("vec_id").as[Long].collect()
    // multiprobe ±1 at 6 tables measured 10/10 at sf0.01/sf0.1; allow
    // slack at the 50-vector smoke scale
    assert(got.toSet.intersect(brute.toSet).size >= 7,
      s"got=${got.toSeq} brute=${brute.toSeq}")
    // bit-deterministic: a second run is IDENTICAL (ordering included)
    val again = SimilarityOps.seededLshTopK(emb, 0L, 10)
      .select("vec_id").as[Long].collect()
    assert(got.toSeq == again.toSeq)
  }

  test("seededLshTopKBatch agrees with the single-query plan per query") {
    val emb = Tables.embeddings(spark, sfSmoke).cache()
    // query 0 is in the %73 batch set at every scale
    val batch = SimilarityOps.seededLshTopKBatch(emb, 73, 5)
      .filter(col("query_id") === 0L)
      .select("vec_id").as[Long].collect().toSeq
    val single = SimilarityOps.seededLshTopK(emb, 0L, 5)
      .select("vec_id").as[Long].collect().toSeq
    assert(batch == single,
      s"batch=$batch single=$single")
  }

  test("seededLshRecall: reports EVERY query (zero-hit queries count " +
      "as recall 0), bounds hold") {
    val emb = Tables.embeddings(spark, sfSmoke).cache()
    val nQueries = emb.filter(col("vec_id") % 73 === 0).count()
    val r = SimilarityOps.seededLshRecall(emb, 73, 5).head()
    assert(r.getLong(0) == nQueries, "a query dropped from the report")
    assert(r.getLong(1) <= nQueries * 5 && r.getLong(2) <= 5)
    val mean = r.getDouble(3)
    assert(mean >= 0.0 && mean <= 1.0)
    // at smoke scale the measured tier is near-exact
    assert(mean >= 0.6, s"recall collapsed: $mean")
  }

  test("seededLshTopK: hyperplane coefficients match the oracle's md5 map") {
    // spot-check the Scala twin of ('0x'||substr(md5(...),1,15))::BIGINT
    val md = java.security.MessageDigest.getInstance("MD5")
    val hex = md.digest("h_0_0".getBytes("UTF-8"))
      .map("%02x".format(_)).mkString
    val expect = java.lang.Long.parseLong(hex.take(15), 16) % 2001L - 1000L
    assert(SimilarityOps.lshCoef(0, 0, 1000) == expect)
    // coefficients span the signed range (not degenerate)
    val cs = for (t <- 0 until 6; j <- 0 until 64)
      yield SimilarityOps.lshCoef(t, j, 1000)
    assert(cs.min < -500 && cs.max > 500)
  }

  test("pqTopK: ADC ranking overlaps brute-force inner-product top-k") {
    val emb = Tables.embeddings(spark, sfSmoke).cache()
    val pq = SimilarityOps.pqTopK(emb, 0L, 10, stride = 50, nSub = 4)
      .select("vec_id").as[Long].collect()
    // Deterministic: codebook, encode and LUT carry no randomness.
    val again = SimilarityOps
      .pqTopK(emb, 0L, 10, stride = 50, nSub = 4)
      .select("vec_id").as[Long].collect()
    assert(pq.toSeq == again.toSeq)
    // Brute-force ranking by inner product (what ADC approximates).
    val q = emb.filter(col("vec_id") === 0L)
      .select(VectorFunctions.toDoubleArray(col("embedding")).as("qv"))
    def brute(k: Int) = emb.filter(col("vec_id") =!= 0L).crossJoin(q)
      .select(col("vec_id"),
        VectorFunctions.dot(
          VectorFunctions.toDoubleArray(col("embedding")),
          col("qv")).as("ip"))
      .orderBy(col("ip").desc, col("vec_id").asc)
      .limit(k).select("vec_id").as[Long].collect().toSet
    // A 10-code codebook quantizes hard — PQ is the COARSE retrieval
    // tier (re-rank candidates exactly for fine order). The honest
    // claims: its picks concentrate in the true head of the ranking
    // (top-10 inside the true top-100 of ~500), with real overlap
    // against the true top-50. Measured on this fixture: 10/10 in
    // top-100, 7 in top-50; asserted with slack.
    assert(pq.toSet.intersect(brute(100)).size >= 8,
      s"pq=${pq.toSet} not concentrated in the true top-100")
    assert(pq.toSet.intersect(brute(50)).size >= 4,
      s"pq=${pq.toSet} overlap with true top-50 too small")
  }

  test("embeddingNearDups: planted duplicate vectors found, in-bucket only") {
    val vecs = Seq(
      (1L, Array(1f, 0f, 0f), 0),
      (2L, Array(0.999f, 0.01f, 0f), 0), // near-dup of 1, same bucket
      (3L, Array(0f, 1f, 0f), 0), // orthogonal, same bucket
      (4L, Array(1f, 0f, 0f), 1)) // identical to 1 but other bucket
      .toDF("vec_id", "embedding", "label")
    val pairs = SimilarityOps.embeddingNearDups(vecs, 0.95)
      .select("vec_a", "vec_b").as[(Long, Long)].collect()
    assert(pairs.toSeq == Seq((1L, 2L)))
  }

  test("rangeJoinBucketed equals the naive range theta-join") {
    import java.sql.Timestamp
    val ev = graft.Tables.events(spark, sfSmoke)
      .select("user_id", "ts", "event_id").limit(300).cache()
    val w = 10 * 60 * 1000L // 10 minutes
    val bucketed = SkewOps.rangeJoinBucketed(
      ev, ev, "user_id", "ts", w)
      .select(col("event_id"), col("r_ts"))
      .as[(Long, Timestamp)].collect().toSet
    val naive = ev.as("l").join(ev.as("r"),
        col("l.user_id") === col("r.user_id") &&
        col("r.ts") >= col("l.ts") &&
        unix_millis(col("r.ts")) < unix_millis(col("l.ts")) + w)
      .select(col("l.event_id"), col("r.ts"))
      .as[(Long, Timestamp)].collect().toSet
    assert(bucketed == naive)
    assert(bucketed.nonEmpty)
  }

  test("asofJoin: matches naive per-row latest-at-or-before lookup") {
    import java.sql.Timestamp
    def ts(s: Long) = new Timestamp(s * 1000L)
    // user 1: click(10) click(20) purchase(20, ties inclusive)
    //         purchase(25 → click 20) click(30) purchase(35 → 30)
    // user 2: purchase(5) before any click → null match
    // user 3: two clicks at the SAME ts → max tiebreak (id 32) wins
    val clicks = Seq(
      (1L, ts(10), 100L), (1L, ts(20), 101L), (1L, ts(30), 102L),
      (3L, ts(40), 31L), (3L, ts(40), 32L))
      .toDF("user_id", "ts", "click_id")
      .withColumn("click_ts", col("ts"))
    val purchases = Seq(
      (900L, 1L, ts(20)), (901L, 1L, ts(25)), (902L, 1L, ts(35)),
      (903L, 2L, ts(5)), (904L, 3L, ts(41)))
      .toDF("purchase_id", "user_id", "ts")
    val got = SkewOps.asofJoin(purchases, clicks, "user_id", "ts",
        "ts", rightPayload = Seq("click_id"), tiebreakCol = "click_id")
      .select("purchase_id", "click_id")
      .collect().map(r => r.getLong(0) ->
        (if (r.isNullAt(1)) -1L else r.getLong(1))).toMap
    assert(got == Map(900L -> 101L, 901L -> 101L, 902L -> 102L,
      903L -> -1L, 904L -> 32L))
  }

  test("asofJoin: NULL payload fields carry atomically from the " +
      "matched row, never backfilled from an older right row") {
    import java.sql.Timestamp
    def ts(s: Long) = new Timestamp(s * 1000L)
    // user 1 history: (ts=10, attr="old", score=7) then
    // (ts=20, attr=NULL, score=9). A purchase at ts=25 matches the
    // ts=20 row — attr must be NULL (matched-but-NULL), NOT "old"
    // backfilled from ts=10.
    val dims = Seq(
      (1L, ts(10), Some("old"), 7L),
      (1L, ts(20), None, 9L))
      .toDF("user_id", "ts", "attr", "score")
    val facts = Seq((900L, 1L, ts(25)), (901L, 1L, ts(15)))
      .toDF("purchase_id", "user_id", "ts")
    val got = SkewOps.asofJoin(facts, dims, "user_id", "ts", "ts",
        rightPayload = Seq("attr", "score"), tiebreakCol = "score")
      .select("purchase_id", "attr", "score")
      .collect().map(r => r.getLong(0) ->
        ((if (r.isNullAt(1)) null else r.getString(1)), r.getLong(2)))
      .toMap
    assert(got == Map(900L -> ((null, 9L)), 901L -> (("old", 7L))))
    // payload names that shadow left columns are rejected up front
    val e = intercept[IllegalArgumentException] {
      SkewOps.asofJoin(facts, dims, "user_id", "ts", "ts",
        rightPayload = Seq("ts"), tiebreakCol = "score")
    }
    assert(e.getMessage.contains("collides"))
  }

  test("twoLevelRunningSum: slice decomposition equals the direct " +
      "window on a hot-key distribution") {
    import java.sql.Timestamp
    import org.apache.spark.sql.expressions.Window
    // one scorching key (5000 rows) + two small ones, integer values
    // so the equality is exact; timestamps span many slices and
    // include intra-slice ties broken by the tie column
    val rows = (0 until 5000).map(i =>
        (42L, new Timestamp(1700000000000L + (i / 7) * 3600_000L),
          i.toLong, (i % 13).toDouble)) ++
      (0 until 20).map(i =>
        (7L, new Timestamp(1700000000000L + i * 7200_000L),
          (10000 + i).toLong, i.toDouble)) ++
      Seq((9L, new Timestamp(1700000000000L), 20000L, 3.0))
    val df = rows.toDF("user_id", "ts", "event_id", "value")
    val got = SkewOps.twoLevelRunningSum(df, "user_id", "ts",
        "event_id", "value", sliceMillis = 24L * 3600 * 1000)
      .as[(Long, Long, Timestamp, Double)].collect().toSeq
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts").asc, col("event_id").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val direct = df.select(col("user_id"), col("event_id"), col("ts"),
        round(sum(col("value")).over(w), 6).as("running_value"))
      .orderBy(col("user_id").asc, col("ts").asc, col("event_id").asc)
      .as[(Long, Long, Timestamp, Double)].collect().toSeq
    assert(got == direct && got.size == rows.size)
    // and the hot key really is split: its rows land in many slices
    val slices = df.filter(col("user_id") === 42L)
      .select(floor(unix_millis(col("ts")) / (24L * 3600 * 1000)))
      .distinct().count()
    assert(slices > 10, s"fixture should span many slices: $slices")
  }

  test("fuzzyPairs: finds equal/substitution/insertion/deletion " +
      "pairs, rejects distance 2; never compares non-candidates") {
    val rows = Seq(
      (1L, "kitten"), (2L, "sitten"),  // substitution, dist 1
      (3L, "kitte"),                   // deletion of 1, dist 1
      (4L, "kittens"),                 // insertion on 1, dist 1
      (5L, "kitten"),                  // equal to 1, dist 0
      (6L, "sittes"),                  // dist 2 from kitten — excluded
      (7L, "zzzzzz"))                  // unrelated
      .toDF("id", "s")
    val got = DedupOps.fuzzyPairs(rows, "id", "s")
      .as[(Long, Long, Int)].collect().toSeq
    assert(got.contains((1L, 2L, 1)) && got.contains((1L, 3L, 1)) &&
      got.contains((1L, 4L, 1)) && got.contains((1L, 5L, 0)))
    // dist-2 pair (1,6) absent; the unrelated string pairs with no one
    assert(!got.exists(p => (p._1, p._2) == ((1L, 6L))))
    assert(!got.exists(p => p._1 == 7L || p._2 == 7L))
  }

  test("substringPairs: 8-token verbatim run found, 7-token run not") {
    val span8 = "q w e r t y u i" // 8 tokens
    val docs = Seq(
      (1L, s"alpha beta $span8 gamma"),
      (2L, s"totally different words here $span8"),      // shares span8
      (3L, "q w e r t y u only seven shared alpha"),     // 7-run only
      (4L, "no overlap at all with anything else"))
      .toDF("doc_id", "text")
    val pairs = DedupOps.substringPairs(docs, "doc_id", "text", n = 8)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSeq
    assert(pairs == Seq((1L, 2L)))
  }

  test("quantizedTopK: integer scores, deterministic, high agreement " +
      "with exact cosine on unit-norm vectors") {
    val emb = graft.Tables.embeddings(spark, sfSmoke)
    val k = 5
    val quant = SimilarityOps.quantizedTopK(emb, queryMod = 73, k = k)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(quant == SimilarityOps.quantizedTopK(emb, 73, k)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq)
    // exact float cosine top-k per the same query set
    val queries = emb.filter(col("vec_id") % 73 === 0)
      .select("vec_id").as[Long].collect()
    assert(queries.nonEmpty)
    val hits = queries.map { q =>
      val exact = SimilarityOps.cosineTopK(emb, q, k)
        .select("vec_id").as[Long].collect().toSet
      val approx = quant.filter(_._1 == q).map(_._2).toSet
      assert(approx.size == k)
      (exact intersect approx).size
    }
    // scale 64 on unit vectors keeps ranking nearly intact: demand
    // strong mean agreement, not perfection (quantization IS lossy)
    val meanRecall = hits.sum.toDouble / (hits.length * k)
    assert(meanRecall >= 0.8, s"mean recall@$k = $meanRecall")
  }

  test("ivfRecall: monotone in nProbe; full probe = perfect recall") {
    val emb = graft.Tables.embeddings(spark, sfSmoke)
    def meanRecall(nProbe: Int): Double = {
      val r = SimilarityOps.ivfRecall(emb, queryMod = 73, k = 5,
          stride = 50, nProbe = nProbe)
        .select("recall").as[Double].collect()
      r.sum / r.length
    }
    val nCents = emb.filter(col("vec_id") % 50 === 0).count().toInt
    val r1 = meanRecall(1)
    val r3 = meanRecall(3)
    val rAll = meanRecall(nCents)
    assert(r1 <= r3 + 1e-9 && r3 <= rAll + 1e-9, s"$r1 $r3 $rAll")
    // probing every cell IS brute force → recall exactly 1
    assert(rAll == 1.0, s"full-probe recall: $rAll")
  }

  test("containedDocs: full-span excerpt flagged; partial overlap not") {
    val base = "q w e r t y u i o p a s d f"          // 14 tokens
    val docs = Seq(
      (1L, base),                                       // container
      (2L, "q w e r t y u i o p"),  // 10 tok → 3 spans, all in base
      (3L, s"x y $base z"),         // contains base + extra spans
      (4L, "q w e r t y u i plus different tail here")) // partial
      .toDF("doc_id", "text")
    val out = DedupOps.containedDocs(docs, "doc_id", "text", n = 8)
      .select("contained_id", "container_id")
      .as[(Long, Long)].collect().toSeq
    // doc 2's spans ⊂ doc 1 and ⊂ doc 3; doc 1's spans ⊂ doc 3;
    // doc 4 shares only one span with 1/2/3 → never contained
    assert(out == Seq((1L, 3L), (2L, 1L), (2L, 3L)))
  }

  test("keepBestPerCluster: arg-max quality with id-asc tiebreak") {
    val clusters = Seq((10L, 1L), (11L, 1L), (12L, 1L),
        (20L, 2L), (21L, 2L))
      .toDF("doc_id", "cluster_id")
    val docs = Seq((10L, 5L), (11L, 9L), (12L, 9L),
        (20L, 3L), (21L, 3L))
      .toDF("doc_id", "n_chars")
    val got = DedupOps.keepBestPerCluster(clusters, docs,
        "doc_id", "n_chars")
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))))
      .toMap
    // cluster 1: 11 and 12 tie at 9 → 11 wins (id asc); dropped 5+9
    // cluster 2: 20 and 21 tie at 3 → 20 wins; dropped 3
    assert(got == Map(
      1L -> ((11L, 9L, 3L, 14L)),
      2L -> ((20L, 3L, 2L, 3L))))
  }

  test("heavyHitters sketch: estimates bounded below by exact counts") {
    val ev = graft.Tables.events(spark, sfSmoke)
    val exact = ev.groupBy("event_type").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val est = SkewOps.heavyHitters(ev, "event_type",
      exact.keys.toSeq.sorted).toMap
    val n = ev.count()
    exact.foreach { case (k, c) =>
      // CMS never undercounts; overcount bounded by eps*N (w.h.p.)
      assert(est(k) >= c)
      assert(est(k) <= c + (0.001 * n).toLong + 1)
    }
  }

  test("cmsCounts: never undercounts; exact when the table is wide") {
    val ev = graft.Tables.events(spark, sfSmoke)
    val out = SkewOps.cmsCounts(ev, "user_id", k = 20)
      .as[(Long, Long, Long)].collect()
    assert(out.nonEmpty && out.length <= 20)
    out.foreach { case (_, exact, cms) =>
      assert(cms >= exact, s"CMS undercounted: $exact vs $cms")
    }
    // a wide table (w » distinct items) has no collisions → exact
    val wide = SkewOps.cmsCounts(ev, "user_id", k = 20, w = 65536)
      .as[(Long, Long, Long)].collect()
    wide.foreach { case (_, exact, cms) => assert(cms == exact) }
  }

  test("saltedCounts equals direct groupBy counts") {
    val ev = graft.Tables.events(spark, sfSmoke)
    val direct = ev.groupBy("event_type").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val salted = SkewOps.saltedCounts(ev, "event_type", 16)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(salted == direct)
  }

  test("contentSalt is layout-independent: same salts across reshuffles") {
    val ev = graft.Tables.events(spark, sfSmoke)
      .select("event_id", "event_type")
    def saltOf(df: org.apache.spark.sql.DataFrame): Map[Long, Long] =
      df.withColumn("__salt", SkewOps.contentSalt(df, 16))
        .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    // same rows, different partition layout → identical salts
    assert(saltOf(ev) == saltOf(ev.repartition(7)))
  }

  test("ivfAssign: every vector assigned to exactly one centroid") {
    val emb = graft.Tables.embeddings(spark, sfSmoke)
    val assign = SimilarityOps.ivfAssign(emb, stride = 50).cache()
    assert(assign.count() == emb.count())
    assert(assign.select("vec_id").distinct().count() == emb.count())
    // a centroid is its own nearest centroid (score 1.0)
    val self = assign.filter(col("vec_id") % 50 === 0)
      .filter(col("vec_id") === col("centroid_id"))
    assert(self.count() ==
      emb.filter(col("vec_id") % 50 === 0).count())
  }

  test("kmeansRefine: members conserved, cohesion not below initial") {
    val emb = graft.Tables.embeddings(spark, sfSmoke).cache()
    val refined = SimilarityOps.kmeansRefine(emb, stride = 50).cache()
    // every vector lands in exactly one refined cluster
    assert(refined.agg(sum("n_members")).head.getLong(0) == emb.count())
    // Lloyd's step must not LOWER overall cohesion: compare the
    // member-weighted mean cosine against the initial assignment's
    val assign = SimilarityOps.ivfAssign(emb, stride = 50)
    val initial = assign.agg(avg("cscore")).head.getDouble(0)
    val after = refined
      .agg(sum(col("mean_cos") * col("n_members")) /
        sum(col("n_members"))).head.getDouble(0)
    assert(after >= initial - 1e-6,
      s"refinement lowered cohesion: $initial -> $after")
    // deterministic across runs
    val again = SimilarityOps.kmeansRefine(emb, stride = 50).collect()
    assert(refined.collect().map(_.toString).toSeq ==
      again.map(_.toString).toSeq)
  }

  test("ivfTopK: probes clusters, overlaps brute-force, deterministic") {
    val emb = graft.Tables.embeddings(spark, sfSmoke).cache()
    val ivf = SimilarityOps.ivfTopK(emb, 0L, k = 10, stride = 50,
      nProbe = 3).collect()
    assert(ivf.length == 10)
    val scores = ivf.map(_.getDouble(1))
    assert(scores.toSeq == scores.sorted.reverse.toSeq)
    val brute = SimilarityOps.cosineTopK(emb, 0L, 10)
      .select("vec_id").as[Long].collect().toSet
    val overlap = ivf.map(_.getLong(0)).toSet.intersect(brute).size
    // random 64-d data: true neighbours scatter across clusters —
    // probing 3/10 must still recover some of the exact top-10
    assert(overlap >= 1, s"ivf/brute overlap $overlap")
    // run twice → identical (determinism)
    val again = SimilarityOps.ivfTopK(emb, 0L, k = 10, stride = 50,
      nProbe = 3).collect()
    assert(ivf.map(_.toString).toSeq == again.map(_.toString).toSeq)
  }

  test("labelTopPairs only pairs within a label") {
    val emb = Tables.embeddings(spark, sfSmoke)
    val pairs = SimilarityOps.labelTopPairs(emb, 20).collect()
    assert(pairs.length == 20)
    val byId = emb.select("vec_id", "label")
      .as[(Long, Int)].collect().toMap
    pairs.foreach { r =>
      assert(byId(r.getLong(1)) == byId(r.getLong(2)))
    }
  }

  test("multi-probe near-dups: recall grows monotonically with nProbe") {
    val emb = Tables.embeddings(spark, sfSmoke)
    def pairs(p: Int) = SimilarityOps.embeddingNearDupsMultiProbe(
      emb, minCosine = 0.2, stride = 50, nProbe = p)
      .select("vec_a", "vec_b").as[(Long, Long)].collect().toSet
    val p1 = pairs(1)
    val p2 = pairs(2)
    assert(p1.subsetOf(p2),
      s"probing more clusters must never lose pairs: ${p1 -- p2}")
    assert(p2.size >= p1.size)
  }

  test("ivfPqTopKBatch: candidates bounded by IVF, ranked by ADC") {
    val emb = Tables.embeddings(spark, sfSmoke).cache()
    val out = SimilarityOps.ivfPqTopKBatch(emb, queryMod = 73, k = 5,
      stride = 50, nSub = 4, nProbe = 3).collect()
      .groupBy(_.getLong(0))
      .view.mapValues(_.map(r => (r.getLong(1), r.getDouble(2))).toSeq)
      .toMap
    assert(out.nonEmpty)
    out.values.foreach(hits => assert(hits.size <= 5))
    // Deterministic end-to-end: strided quantizers carry no randomness.
    val again = SimilarityOps.ivfPqTopKBatch(emb, queryMod = 73, k = 5,
      stride = 50, nSub = 4, nProbe = 3).collect()
      .groupBy(_.getLong(0))
      .view.mapValues(_.map(r => (r.getLong(1), r.getDouble(2))).toSeq)
      .toMap
    assert(out == again)
    // Every hit must come from a cluster its query probed (the IVF
    // contract) — ADC can reorder within candidates but never widen
    // the candidate set. ivfTopK with unbounded k IS that set.
    out.foreach { case (qid, hits) =>
      val candidates = SimilarityOps.ivfTopK(emb, qid, k = 1000000,
        stride = 50, nProbe = 3).collect().map(_.getLong(0)).toSet
      val outside = hits.map(_._1).filterNot(candidates.contains)
      assert(outside.isEmpty,
        s"hits $outside for query $qid outside the probed clusters")
    }
  }

  test("ivfTopKBatch: each query's slice equals the single-query op") {
    val emb = Tables.embeddings(spark, sfSmoke)
    val batch = SimilarityOps.ivfTopKBatch(emb, queryMod = 73, k = 5,
      stride = 50, nProbe = 3).collect()
      .groupBy(_.getLong(0))
      .view.mapValues(_.map(r => (r.getLong(1), r.getDouble(2))).toSeq)
      .toMap
    assert(batch.nonEmpty)
    batch.keys.foreach { qid =>
      val single = SimilarityOps.ivfTopK(emb, qid, k = 5, stride = 50,
        nProbe = 3).collect()
        .map(r => (r.getLong(0), r.getDouble(1))).toSeq
      assert(batch(qid) == single,
        s"batch slice for query $qid diverges from the per-query op")
    }
  }

  test("sourceOverlap: matrix cells normalized, diagonal = within") {
    // docs 1/2 near-dup across srcA/srcB; docs 3/4 near-dup inside
    // srcC; doc 5 unique. Base text long enough that one changed
    // token keeps jaccard >= 0.8.
    val base = (1 to 20).map(i => s"w$i").mkString(" ")
    val df = Seq(
      (1L, "srcB", base + " tail1"), (2L, "srcA", base + " tail2"),
      (3L, "srcC", base + " xal3"), (4L, "srcC", base + " xal4"),
      (5L, "srcD", (1 to 20).map(i => s"zz$i").mkString(" ")))
      .toDF("doc_id", "source", "text")
    val out = DedupOps.sourceOverlap(df, "doc_id", "source", "text",
      minJaccard = 0.8, maxDf = Int.MaxValue)
      .as[(String, String, Long, Double)].collect().toSeq
    val cells = out.map(r => (r._1, r._2) -> r._3).toMap
    // (srcB, srcA) must normalize to (srcA, srcB); docs 1/2 and 3/4
    // also cross-match srcC (both contain base) -> check key cells
    assert(cells(("srcA", "srcB")) >= 1L)
    assert(cells(("srcC", "srcC")) >= 1L)
    assert(out.forall(r => r._1 <= r._2), s"not normalized: $out")
    assert(out.forall(r => r._4 >= 0.8 && r._4 <= 1.0))
  }

  test("signature store: gates a batch, grows, re-append rejects all") {
    val root = tmpDir("sigstore") + "/store"
    val base = "alpha beta gamma delta epsilon zeta eta theta"
    val stored = Seq(
      (1L, "s1", base),
      (2L, "s1", "completely different text about unrelated matters"))
      .toDF("doc_id", "source", "text")
    DedupOps.initSignatureStore(stored, "doc_id", "text", root,
      Int.MaxValue)
    val batch = Seq(
      (10L, "sA", base), // exact copy of stored doc 1 -> rejected
      (11L, "sA", "wholly novel words that match nothing stored here"))
      .toDF("doc_id", "source", "text")
    def report(df: org.apache.spark.sql.DataFrame) = df
      .as[(String, Long, Long, Long)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    val r1 = report(DedupOps.appendIfNovel(batch, "doc_id", "source",
      "text", root, 3))
    assert(r1("sA") == ((2L, 1L, 1L)), s"$r1")
    // store grew by exactly the novel doc
    val ids1 = spark.read.parquet(s"$root/shingles")
      .select("corpus_id").distinct().as[Long].collect().toSet
    assert(ids1 == Set(1L, 2L, 11L))
    // re-appending the same batch rejects everything (10 matches 1,
    // 11 matches its own earlier append): the gate is idempotent
    val r2 = report(DedupOps.appendIfNovel(batch, "doc_id", "source",
      "text", root, 3))
    assert(r2("sA") == ((2L, 2L, 0L)), s"$r2")
    val ids2 = spark.read.parquet(s"$root/shingles")
      .select("corpus_id").distinct().as[Long].collect().toSet
    assert(ids2 == ids1)
    // compaction: file debris collapses, content and verdicts intact
    def partFiles = new java.io.File(s"$root/shingles").listFiles
      .count(_.getName.startsWith("part-"))
    val before = partFiles
    DedupOps.compactSignatureStore(spark, root, targetFiles = 1)
    assert(partFiles == 1 && before > 1, s"$before -> $partFiles")
    assert(spark.read.parquet(s"$root/shingles")
      .select("corpus_id").distinct().as[Long].collect().toSet == ids1)
    val r3 = report(DedupOps.appendIfNovel(batch, "doc_id", "source",
      "text", root, 3))
    assert(r3 == r2, "gate verdicts must survive compaction")
    // real corpus: the incremental gate equals the full banded
    // recompute (c3's relation) on rejected ids
    val docs = Tables.documents(spark, sfSmoke)
      .select("doc_id", "source", "text")
    val root2 = tmpDir("sigstore2") + "/store"
    DedupOps.initSignatureStore(
      docs.filter(col("doc_id") % 7 =!= 0), "doc_id", "text",
      root2, 100)
    val rep = DedupOps.appendIfNovel(
      docs.filter(col("doc_id") % 7 === 0), "doc_id", "source",
      "text", root2, 3).collect()
    rep.foreach(r =>
      assert(r.getLong(1) == r.getLong(2) + r.getLong(3), r.toString))
    val hx = DedupOps.hashedShingles(docs, "doc_id", "text").cache()
    val expectRejected = DedupOps.crossCorpusOverlapBandedHashed(
      hx.filter(col("doc_id") % 7 === 0)
        .select(col("doc_id").as("bench_id"), col("x")),
      hx.filter(col("doc_id") % 7 =!= 0)
        .select(col("doc_id").as("corpus_id"), col("x")),
      minShared = 3, maxDf = 100)
      .select("bench_id").distinct().count()
    assert(rep.map(_.getLong(2)).sum == expectRejected)
  }

  test("signature store: compaction recovers from a crashed swap") {
    val root = tmpDir("sigstore3") + "/store"
    val docs = Seq(
      (1L, "s1", "alpha beta gamma delta epsilon zeta eta theta"),
      (2L, "s1", "completely different text about unrelated matters"))
      .toDF("doc_id", "source", "text")
    DedupOps.initSignatureStore(docs, "doc_id", "text", root,
      Int.MaxValue)
    val ids = spark.read.parquet(s"$root/shingles")
      .select("corpus_id").distinct().as[Long].collect().toSet
    // Simulate the worst crash window (between rename(cur, old) and
    // rename(tmp, cur)): live dir missing, data parked at __old, a
    // stale __compacting present.
    import java.nio.file.{Files, Paths}
    Seq("shingles", "bands").foreach { rel =>
      Files.move(Paths.get(s"$root/$rel"), Paths.get(s"$root/${rel}__old"))
      Files.createDirectory(Paths.get(s"$root/${rel}__compacting"))
      Files.write(Paths.get(s"$root/${rel}__compacting/garbage"),
        Array[Byte](1, 2, 3))
    }
    // the recovery preamble must roll __old back and clear debris
    DedupOps.compactSignatureStore(spark, root, targetFiles = 1)
    Seq("shingles", "bands").foreach { rel =>
      assert(Files.exists(Paths.get(s"$root/$rel")), rel)
      assert(!Files.exists(Paths.get(s"$root/${rel}__old")), rel)
      assert(!Files.exists(Paths.get(s"$root/${rel}__compacting")), rel)
    }
    assert(spark.read.parquet(s"$root/shingles")
      .select("corpus_id").distinct().as[Long].collect().toSet == ids)
  }

  test("signature store: short-doc replay rejects via identity") {
    // doc 20 yields 2 shingles (4 tokens, n=3) < minShared=3: without
    // the identity auto-reject a replay re-appends it forever
    val root = tmpDir("sigstore4") + "/store"
    DedupOps.initSignatureStore(
      Seq((1L, "s1", "alpha beta gamma delta epsilon zeta eta theta"))
        .toDF("doc_id", "source", "text"),
      "doc_id", "text", root, Int.MaxValue)
    val batch = Seq((20L, "sA", "tiny short doc here"))
      .toDF("doc_id", "source", "text")
    def run() = DedupOps.appendIfNovel(batch, "doc_id", "source",
      "text", root, minShared = 3)
      .as[(String, Long, Long, Long)].collect().head
    assert(run() == (("sA", 1L, 0L, 1L))) // novel on first sight
    val rows1 = spark.read.parquet(s"$root/shingles")
      .filter(col("corpus_id") === 20L).count()
    assert(run() == (("sA", 1L, 1L, 0L))) // replay rejects
    val rows2 = spark.read.parquet(s"$root/shingles")
      .filter(col("corpus_id") === 20L).count()
    assert(rows2 == rows1, s"store rows duplicated: $rows1 -> $rows2")
  }

  test("hashedEmbedTopK: an exact copy of the query doc scores 1.0") {
    val df = Seq(
      (0L, "alpha beta gamma delta epsilon"),
      (1L, "alpha beta gamma delta epsilon"),
      (2L, "zeta eta theta iota kappa"),
      (3L, "alpha beta unrelated words here"))
      .toDF("doc_id", "text")
    val out = SimilarityOps
      .hashedEmbedTopK(df, "doc_id", "text", 64, 0L, 3)
      .as[(Long, Double)].collect().toSeq
    assert(out.head == ((1L, 1.0)), s"copy must rank first: $out")
    // doc 2 shares no bucket with the query: sparse inner-join
    // semantics omit zero-overlap docs entirely (oracle identical)
    assert(out.map(_._1) == Seq(1L, 3L), s"$out")
    // real corpus: deterministic, |cosine| bounded
    val docs = Tables.documents(spark, sfSmoke)
    def run() = SimilarityOps
      .hashedEmbedTopK(docs, "doc_id", "text", 64, 0L, 10)
      .collect().toSeq
    val a = run()
    assert(a == run() && a.size == 10)
    a.foreach(r => assert(math.abs(r.getDouble(1)) <= 1.0))
  }

  test("semanticDedup: keeps one per component; conserves counts") {
    // label 0: 1≈2≈3 one near-dup chain (keep 1, prune 2,3) + 4
    // orthogonal (kept singleton); label 1: 5≈6 (keep 5, prune 6).
    val df = Seq(
      (1L, Array(1.0f, 0.0f), 0), (2L, Array(0.99f, 0.05f), 0),
      (3L, Array(0.98f, 0.08f), 0), (4L, Array(0.0f, 1.0f), 0),
      (5L, Array(0.5f, 0.5f), 1), (6L, Array(0.51f, 0.49f), 1))
      .toDF("vec_id", "embedding", "label")
    val out = SimilarityOps.semanticDedup(df, 0.9)
      .as[(Int, Long, Long, Long)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    assert(out(0) == ((4L, 2L, 2L))) // 4 seen, keep {1,4}, prune {2,3}
    assert(out(1) == ((2L, 1L, 1L))) // keep 5, prune 6
    // real corpus: deterministic; per-label conservation
    val e = Tables.embeddings(spark, sfSmoke)
    val a = SimilarityOps.semanticDedup(e, 0.4).collect().toSeq
    assert(a == SimilarityOps.semanticDedup(e, 0.4).collect().toSeq)
    a.foreach(r =>
      assert(r.getLong(1) == r.getLong(2) + r.getLong(3), r.toString))
    assert(a.exists(_.getLong(3) > 0L)) // threshold actually prunes
  }

  test("trained IVF: scores agree with brute force; deterministic") {
    val e = Tables.embeddings(spark, sfSmoke)
    def run() = SimilarityOps
      .ivfTopKTrained(e, 0L, k = 10, stride = 50, nProbe = 3)
      .as[(Long, Double)].collect().toSeq
    val got = run()
    assert(got == run() && got.size == 10)
    // descending total order
    assert(got.map(_._2) == got.map(_._2).sortBy(-_))
    // every returned score is the EXACT brute-force cosine for that id
    val brute = SimilarityOps.cosineTopK(e, 0L, 499)
      .select("vec_id", "score").as[(Long, Double)]
      .collect().toMap
    got.foreach { case (id, s) =>
      assert(brute(id) == s, s"ivf score for $id diverges from brute") }
  }

  test("centroidOutliers: the anti-aligned vector ranks first") {
    // label 0: three vectors near +x, one pointing -x (the outlier);
    // label 1: a tight pair so its members never beat the outlier.
    val df = Seq(
      (1L, Array(1.0f, 0.1f), 0), (2L, Array(0.9f, 0.0f), 0),
      (3L, Array(1.0f, -0.1f), 0), (4L, Array(-1.0f, 0.0f), 0),
      (5L, Array(0.0f, 1.0f), 1), (6L, Array(0.1f, 1.0f), 1))
      .toDF("vec_id", "embedding", "label")
    val out = SimilarityOps.centroidOutliers(df, 6)
      .as[(Long, Int, Double)].collect().toSeq
    assert(out.head._1 == 4L, s"outlier must rank first: $out")
    assert(out.head._3 < 0.0) // anti-aligned with its centroid
    assert(out.map(_._3) == out.map(_._3).sorted) // ascending cohesion
    // real corpus: deterministic, k rows, scores within [-1, 1]
    val e = Tables.embeddings(spark, sfSmoke)
    val a = SimilarityOps.centroidOutliers(e, 30).collect().toSeq
    assert(a == SimilarityOps.centroidOutliers(e, 30).collect().toSeq)
    assert(a.size == 30)
    a.foreach(r => assert(math.abs(r.getDouble(2)) <= 1.0))
  }

  test("hardNegatives: cross-label only, per-query top-k, exact scores") {
    // query = vec 0 (label 0); same-label vec 2 is closest but must be
    // EXCLUDED; the negatives come from label 1 ranked by cosine.
    val df = Seq(
      (0L, Array(1.0f, 0.0f), 0), (2L, Array(1.0f, 0.05f), 0),
      (5L, Array(0.9f, 0.3f), 1), (6L, Array(0.0f, 1.0f), 1),
      (7L, Array(0.5f, 0.5f), 1))
      .toDF("vec_id", "embedding", "label")
    val out = SimilarityOps.hardNegatives(df, queryMod = 73, k = 2)
      .as[(Long, Long, Int, Double)].collect().toSeq
    assert(out.map(r => (r._1, r._2)) == Seq((0L, 5L), (0L, 7L)),
      s"same-label 2 excluded; ranked by cosine: $out")
    assert(out.forall(_._3 == 1))
    // real corpus: every negative's label differs from its query's,
    // per-query row count is <= k, and the result is exactly the
    // label-filtered head of the brute-force ranking (cross-check
    // against cosineTopK per query)
    val e = Tables.embeddings(spark, sfSmoke)
    val res = SimilarityOps.hardNegatives(e, queryMod = 73, k = 5)
      .as[(Long, Long, Int, Double)].collect().toSeq
    val qLabels = e.filter(col("vec_id") % 73 === 0)
      .select("vec_id", "label").as[(Long, Int)].collect().toMap
    assert(qLabels.nonEmpty)
    res.groupBy(_._1).foreach { case (q, rows) =>
      assert(rows.size <= 5)
      assert(rows.forall(_._3 != qLabels(q)))
      val brute = SimilarityOps.cosineTopK(e, q, 1000)
        .as[(Long, Int, Double)].collect().toSeq
        .filter(_._2 != qLabels(q)).take(5)
        .map { case (v, l, s) => (q, v, l, s) }
      assert(rows.toSeq == brute, s"query $q")
    }
  }

  test("graph-ANN: NSW beam search is deterministic, its state is " +
      "bounded, and recall@10 vs exact is pinned") {
    val e = Tables.embeddings(spark, sfSmoke)
    val graph = SimilarityOps.nswGraph(e, k = 24).localCheckpoint()
    // the undirected graph is symmetric by construction
    val edges = graph.as[(Long, Long)].collect().toSet
    assert(edges.forall { case (s, d) => edges.contains((d, s)) })
    def run() = SimilarityOps.graphBeamSearch(graph, e, queryId = 0L,
      beam = 16, rounds = 8, k = 10)
      .as[(Long, Int, Double)].collect().toSeq
    val r1 = run()
    assert(r1 == run(), "beam search must be deterministic")
    assert(r1.size == 10)
    // recall vs the exact brute-force ground truth (n1's operator) —
    // observed 10/10 at every scale; pinned at >= 8 so a navigability
    // regression fails loudly without over-fitting to one fixture
    val exact = SimilarityOps.cosineTopK(e, 0L, 10)
      .select("vec_id").as[Long].collect().toSet
    val got = r1.map(_._1).toSet
    assert((exact & got).size >= 8,
      s"recall@10 too low: ${(exact & got).size}")
    // visited-state bound: entry + rounds * beam * degree(<=2k)
    assert(r1.map(_._3).sliding(2).forall(p =>
      p.size < 2 || p.head >= p.last), "output must be score-ordered")
  }
}
