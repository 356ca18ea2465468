package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.functions._

class GraphSpec extends SparkSpec {
  import spark.implicits._

  // Hand-checkable 3-node chain a -> b -> c: after one round on the
  // micro grid, b holds teleport + 85% of a's full rank, c the same
  // from b's INITIAL rank (simultaneous update, not Gauss-Seidel),
  // and a holds teleport only.
  test("pageRank: one round on a chain matches hand arithmetic") {
    val edges = Seq(("a", "b"), ("b", "c")).toDF("src", "dst")
    val r = GraphOps.pageRank(edges, iters = 1, k = 10)
      .collect().map(x => x.getString(0) ->
        (x.getLong(1), x.getLong(2))).toMap
    assert(r("a") == (0L, 150000L))
    assert(r("b") == (1L, 150000L + 85L * 1000000L / 100L))
    assert(r("c") == (1L, 150000L + 85L * 1000000L / 100L))
  }

  test("pageRank: out-degree splits mass with floor division") {
    // hub h fans out to x and y: each gets floor(1e6/2) damped
    val edges = Seq(("h", "x"), ("h", "y")).toDF("src", "dst")
    val r = GraphOps.pageRank(edges, iters = 1, k = 10)
      .collect().map(x => x.getString(0) -> x.getLong(2)).toMap
    val expected = 150000L + 85L * (1000000L / 2) / 100L
    assert(r("x") == expected && r("y") == expected)
  }

  test("pageRank: self-loop keeps feeding its node; mass is conserved" +
      " minus dangling drain and floor dust") {
    val edges = Seq(("s", "s"), ("s", "t")).toDF("src", "dst")
    val out = GraphOps.pageRank(edges, iters = 3, k = 10)
    val total = out.agg(sum("pr")).head.getLong(0)
    // 2 nodes x 1e6 initial; t is dangling so its mass drains each
    // round — the total must stay strictly under the closed bound
    assert(total > 0L && total < 2000000L)
    // deterministic across replans
    val again = GraphOps.pageRank(edges, iters = 3, k = 10)
      .collect().toSeq
    assert(out.collect().toSeq == again)
  }

  test("pageRank: rank order follows in-link structure on a star") {
    // root receives from every leaf; leaves receive nothing
    val leaves = (1 to 9).map(i => (s"leaf$i", "root"))
    val edges = leaves.toDF("src", "dst")
    val top = GraphOps.pageRank(edges, iters = 4, k = 3)
      .collect()
    assert(top.head.getString(0) == "root")
    assert(top.head.getLong(2) > top(1).getLong(2))
    // ties among leaves break url-asc
    assert(top(1).getString(0) == "leaf1" &&
      top(2).getString(0) == "leaf2")
  }

  test("personalizedPageRank: mass radiates from the seed only; " +
      "unreached nodes drop out") {
    // chain a -> b -> c, seed {a}, one round: a holds its teleport,
    // b gets 85% of a's initial unit mass, c is still at 0 (two hops
    // away) and is filtered from the result
    val edges = Seq(("a", "b"), ("b", "c")).toDF("src", "dst")
    val r = GraphOps.personalizedPageRank(edges, seeds = Seq("a"),
        iters = 1, k = 10)
      .collect().map(x => x.getString(0) -> x.getLong(1)).toMap
    assert(r == Map("a" -> 150000L, "b" -> 850000L))
  }

  test("personalizedPageRank: seeding every node reproduces the " +
      "global pageRank values") {
    val edges = Seq(("a", "b"), ("b", "c"), ("c", "a"), ("a", "c"))
      .toDF("src", "dst")
    val global = GraphOps.pageRank(edges, iters = 4, k = 10)
      .collect().map(x => x.getString(0) -> x.getLong(2)).toMap
    val ppr = GraphOps.personalizedPageRank(edges,
        seeds = Seq("a", "b", "c"), iters = 4, k = 10)
      .collect().map(x => x.getString(0) -> x.getLong(1)).toMap
    assert(ppr == global)
  }

  test("hits: bipartite hand case — the shared authority maxes out, " +
      "hubs are pure hubs") {
    val edges = Seq(("h1", "x"), ("h2", "x")).toDF("src", "dst")
    val r = GraphOps.hits(edges, iters = 1, k = 10)
      .collect().map(x => x.getString(0) ->
        (x.getLong(1), x.getLong(2))).toMap
    // a_raw(x)=2e6 -> rescaled 1e6; hubs get a=0; both hubs then
    // collect x's authority and rescale to 1e6
    assert(r("x") == (1000000L, 0L))
    assert(r("h1") == (0L, 1000000L) && r("h2") == (0L, 1000000L))
  }

  test("hits: zero iterations — every node keeps its initial hub " +
      "score and no authority") {
    val edges = Seq(("h1", "x"), ("h2", "x")).toDF("src", "dst")
    val r = GraphOps.hits(edges, iters = 0, k = 10)
      .collect().map(x => x.getString(0) ->
        (x.getLong(1), x.getLong(2))).toMap
    assert(r == Seq("h1", "h2", "x").map(_ -> (0L, 1000000L)).toMap)
  }

  test("hits: stronger hub confers stronger authority and vice versa") {
    // H links both authorities; W links only A — so A outranks B on
    // authority, and H outranks W on hubness (it also reaps B)
    val edges = Seq(("H", "A"), ("H", "B"), ("W", "A"))
      .toDF("src", "dst")
    val r = GraphOps.hits(edges, iters = 2, k = 10)
      .collect().map(x => x.getString(0) ->
        (x.getLong(1), x.getLong(2))).toMap
    assert(r("A")._1 > r("B")._1)
    assert(r("H")._2 > r("W")._2)
    assert(r("A")._1 == 1000000L && r("H")._2 == 1000000L)
  }

  test("pageEdges: harvested + tree edges have the expected shape") {
    val docs = Seq((0L, "src_a", "alpha beta"), (5L, "src_b", "gamma"))
      .toDF("doc_id", "source", "text")
    val rendered = docs.select(col("doc_id"),
      HtmlOps.renderHtml.as("html"))
    val e = HtmlOps.pageEdges(rendered, "doc_id", "html")
      .collect().map(r => (r.getString(0), r.getString(1))).toSet
    // per page: "/", "/docs", self (query stripped), mirror
    assert(e.contains(("/d/0", "/")))
    assert(e.contains(("/d/0", "/d/0"))) // self link, ?b=2&a=1 stripped
    assert(e.contains(("/d/5", "https://mirror.example/d/5")))
    // tree edge only for id >= 1: 5 div 2 = 2; doc 0 has no parent,
    // so its out-edges are exactly the 4 harvested hrefs
    assert(e.contains(("/d/5", "/d/2")))
    assert(e.count(_._1 == "/d/0") == 4)
    assert(e.count(_._1 == "/d/5") == 5)
  }

  test("pageRankConverged: exits at the data-derived fixed point and " +
      "equals the capped unroll (post-fixed-point rounds are identity)") {
    val docs = graft.Tables.documents(spark, sfSmoke)
    val rendered = docs.select(col("doc_id"),
      HtmlOps.renderHtml.as("html"))
    val edges = HtmlOps.pageEdges(rendered, "doc_id", "html")
      .localCheckpoint()
    val (top, rounds, converged) = GraphOps.pageRankConverged(edges,
      maxIters = 48, k = 20)
    // the convergence CERTIFICATE: the exit fired before the cap —
    // the round count came from the data, not the cap — and the
    // flag says so explicitly (rounds == cap alone is ambiguous)
    assert(converged, "fixed point not reached")
    assert(rounds < 48, s"expected early exit, ran $rounds")
    assert(rounds % 8 == 0, "exit only at block boundaries")
    // equality with the unrolled computation at the cap AND at the
    // exit round — the idempotent tail that makes the fixed-round
    // oracle sound
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toString).toSeq
    assert(rows(top) == rows(GraphOps.pageRank(edges, 48, 20)))
    assert(rows(top) == rows(GraphOps.pageRank(edges, rounds, 20)))
    // one more block past the fixed point changes nothing
    assert(rows(top) == rows(GraphOps.pageRank(edges, rounds + 8, 20)))
    // BLOCK-SIZE independence (the registry runs blockIters = 4):
    // the integer fixed point + idempotent tail make the result the
    // same wherever the probe happens to land
    val (top4, _, conv4) = GraphOps.pageRankConverged(edges,
      maxIters = 48, k = 20, blockIters = 4)
    assert(conv4, "blockIters=4 did not converge")
    assert(rows(top4) == rows(top), "result depends on block size")
    // RDD-loop implementation (round-13 verdict item 4): identical
    // result, certificate, and exit round — the integer ladder is
    // engine-representation-independent
    val (topR, roundsR, convR) = GraphOps.pageRankConvergedRdd(
      GraphOps.prepare(edges), maxIters = 48, k = 20, blockIters = 4)
    assert(convR, "RDD loop did not converge")
    assert(roundsR % 4 == 0, "RDD exit only at block boundaries")
    assert(rows(topR) == rows(top), "RDD loop diverged from Dataset")
  }
}
